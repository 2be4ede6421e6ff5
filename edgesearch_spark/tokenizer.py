"""Tokenization / normalization.

The reference engine never tokenizes — terms arrive pre-tokenized
(reference: README.md:99 "terms do not necessarily have to be words from the
document"); the convention comes from its demo pipelines
(demo/jobs/data/get-data.js:28-32, demo/work-at-microsoft/data/build.ts:31-50,
demo/wiki/data/processor/src/main.rs:23,63): split on non-alphanumerics,
drop empties, lowercase, optional `{field}_` prefix, optional word-map
normalization, per-doc dedupe.

This module holds the JVM definition of the token stream: pure Spark
built-ins (split/filter/transform) that stay inside the JVM.
``norm_tokens_col`` is the normalized stream, ``tokenize_pairs`` the
(doc_id, term, tf, dl) forward index over it, ``doc_length_col`` the BM25
dl. The index build tokenizes with the Arrow tokenizer in
``arrow_pipeline`` (same stream, no JVM row conversion); the JVM stream is
the reference those are tested against, and the scan-side operators and
contract queries use it directly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

TOKEN_SPLIT_RE = r"[^a-zA-Z0-9]+"  # demo convention (get-data.js:28, main.rs:23)
MAX_TERM_BYTES = 255  # reference serializes term length as u8 (src/build/chunks/mod.rs:50)


def _tokens_col(content_col) -> F.Column:
    c = content_col if isinstance(content_col, F.Column) else F.col(content_col)
    toks = F.split(F.lower(c), TOKEN_SPLIT_RE)
    return F.filter(toks, lambda t: (t != F.lit("")) & (F.octet_length(t) <= MAX_TERM_BYTES))


def norm_tokens_col(
    content_col,
    word_map: dict[str, str] | None = None,
    field_prefix: str | None = None,
) -> F.Column:
    """The token array WITH the demo-convention normalizations applied —
    pure JVM (create_map lookup + transform), in kept-token order: the
    stream the Arrow build tokenizers index, rebuilt here for scan-side
    positional fallbacks. word_map rewrites happen per token
    (position-preserving); field_prefix prepends `{field}_`."""
    ts = _tokens_col(content_col)
    if word_map:
        m = F.create_map(*[F.lit(x) for kv in word_map.items() for x in kv])
        ts = F.transform(ts, lambda t: F.coalesce(m[t], t))
    if field_prefix:
        ts = F.transform(ts, lambda t: F.concat(F.lit(f"{field_prefix}_"), t))
    return ts


def doc_length_col(content_col: str) -> F.Column:
    """Token count per document (BM25 dl) as a single regexp_count — ~40×
    faster than size(filter(split(…))), whose higher-order filter lambda
    falls out of whole-stage codegen. The lookarounds make an alnum run
    longer than MAX_TERM_BYTES count as zero tokens (matching the
    tokenizer's drop-overlong rule) instead of splitting into two matches."""
    pat = rf"(?<![a-zA-Z0-9])[a-zA-Z0-9]{{1,{MAX_TERM_BYTES}}}(?![a-zA-Z0-9])"
    return F.regexp_count(F.col(content_col), F.lit(pat)).cast("long")


def tokenize_pairs(df: DataFrame, doc_id_col: str = "doc_id", content_col: str = "content") -> DataFrame:
    """(doc_id, content) → (doc_id, term, tf, dl). All JVM built-ins.

    dl is attached per row (denormalized) so BM25 weights can be computed
    without a second join against a doc-length table.
    """
    toks = df.select(F.col(doc_id_col).alias("doc_id"), _tokens_col(content_col).alias("toks"))
    exploded = toks.select("doc_id", F.size("toks").alias("dl"), F.explode("toks").alias("term"))
    return exploded.groupBy("doc_id", "dl", "term").agg(F.count(F.lit(1)).alias("tf")).select(
        "doc_id", "term", "tf", "dl"
    )

