"""Index parity between two checkouts of the package: build a fixed corpus
set with each, then compare every table.

    python tools/index_parity.py build ROOT OUT [NAME ...]  # with the package at ROOT
    python tools/index_parity.py compare A B                # A, B: two OUT dirs

``build`` writes one index per corpus (or per NAME) under OUT, in one
Spark session. Range-sorted tables sample their range boundaries with a
seed taken from the RDD id, so file splits of a build depend on what
earlier builds in the session ran: when a checkout changes an earlier
build's plan, a later corpus can come out ``OK rows`` instead of
``OK bytes``. Build one NAME per process to compare file splits. ``compare`` reads every
table of every index driver-locally (pyarrow, files in part order, which
is the table's sort order) and prints one line per table:

  OK bytes   every parquet file's data (all bytes before the footer) is
             byte-identical; footers are not compared, because parquet-mr
             lists a column chunk's encodings in an order that varies
             between JVM runs
  OK bytes, parts reordered
             the same files (by their data bytes) under other part
             numbers. A narrow write over a scan (doclens over docs)
             numbers its parts in the scan's split order, and Spark orders
             splits by file size, largest first, so a change to the docs
             files' sizes renumbers doclens parts; no reader depends on
             part order
  OK rows    the rows are identical in order; the files split differently
  DIFF ...   the rows differ

stats.json is compared as parsed JSON.
"""

from __future__ import annotations

import json
import os
import random
import re
import shutil
import sys

TABLES = ("docs", "doclens", "postings", "term_stats", "term_bloom", "positions",
          "bigram_postings", "overlong_trigrams")
ORDER = ("repo", "path", "commit")

CODE_DOCS = [
    (0, "def getUserName(self): return self.userName"),
    (1, "class HTTPServer2: pass  # utf8 decoder"),
    (2, "parse_json_block = lambda x: x"),
    (3, "kebab-case-id and SCREAMING_SNAKE_CASE"),
    (4, "plain words only"),
    (5, None),
]

_WORDS = ("data value pipeline stream the of a in and import return self "
          "util1 helper table index query build cache token").split()
_ODD = ["café", "résumé", "naïve", "İstanbul", "STRASSE", "ß", "日本語", "中文",
        "🎉", "5K", "ﬁle", "ofﬃce", "ΟΔΟΣ", "σοφός", "Grüße"]


def mixed_rows(n: int, seed: int) -> list[tuple]:
    """Seeded (doc_id, content) rows mixing ASCII words, unicode, null,
    empty and >255-byte alphanumeric runs."""
    rng = random.Random(seed)
    rows = []
    for i in range(n):
        r = rng.random()
        if r < 0.04:
            rows.append((i, None))
            continue
        if r < 0.07:
            rows.append((i, ""))
            continue
        toks = []
        for _ in range(rng.randint(1, 30)):
            q = rng.random()
            if q < 0.75:
                toks.append(rng.choice(_WORDS))
            elif q < 0.93:
                toks.append(rng.choice(_ODD))
            else:
                run = "".join(rng.choice("abcXYZ0129") for _ in range(rng.randint(250, 400)))
                toks.append(run)
        rows.append((i, rng.choice([" ", "  ", "-", ".\n"]).join(toks)))
    return rows


def corpora(spark):
    """name → (corpus DataFrame, IndexConfig kwargs, build kwargs)."""
    from edgesearch_spark.corpus import generate_corpus

    def gen(n, seed):
        return generate_corpus(spark, n, seed=seed), dict(order_cols=ORDER)

    def rows(r):
        return (spark.createDataFrame(r, "doc_id long, content string"),
                dict(doc_id_col="doc_id", content_col="content"))

    wm = dict(word_map={"util1": "helper", "import": "include"}, field_prefix="body")
    return {
        "plain_700": (*gen(700, 8), dict(block_size=16, salt_shift=6)),
        "wordmap_prefix_300": (*gen(300, 12), wm),
        "split_ids_positions_300": (*gen(300, 5), dict(split_identifiers=True, positions=True)),
        "split_ids_positions_code": (*rows(CODE_DOCS), dict(split_identifiers=True, positions=True,
                                                            block_size=8, salt_shift=4)),
        "positions_bigrams_400": (*gen(400, 21), dict(positions=True, bigram_min_df=20)),
        "bigrams_400": (*gen(400, 21), dict(bigram_min_df=20)),
        "mixed_plain_300": (*rows(mixed_rows(300, 3)), dict(block_size=16, salt_shift=5)),
        "mixed_positions_wordmap_160": (*rows(mixed_rows(160, 4)),
                                        dict(positions=True, salt_shift=4,
                                             word_map={"data": "info", "café": "coffee"},
                                             field_prefix="f")),
        "mixed_positions_bigrams_300": (*rows(mixed_rows(300, 3)),
                                        dict(positions=True, bigram_min_df=8, salt_shift=5)),
    }


def build(root: str, out: str, names: list[str]) -> None:
    sys.path.insert(0, os.path.abspath(root))
    from edgesearch_spark.build import IndexConfig, build_index
    from edgesearch_spark.session import get_spark

    spark = get_spark(app_name="index-parity")
    os.makedirs(out, exist_ok=True)
    for name, (df, kw, cfg) in corpora(spark).items():
        if names and name not in names:
            continue
        path = os.path.join(out, name)
        shutil.rmtree(path, ignore_errors=True)
        build_index(spark, df, path, IndexConfig(**cfg), **kw)
        print("built", name, flush=True)
    spark.stop()


def _parts(table_dir: str) -> list[str]:
    """Parquet files in part order (part-NNNNN-<uuid>-cNNN)."""
    def key(f):
        m = re.match(r"part-(\d+)-.*-c(\d+)", f)
        return (int(m.group(1)), int(m.group(2))) if m else (0, 0)

    return sorted((f for f in os.listdir(table_dir) if f.endswith(".parquet")), key=key)


def _data_bytes(path: str) -> bytes:
    """A parquet file without its footer (trailer: footer length, PAR1)."""
    with open(path, "rb") as f:
        raw = f.read()
    return raw[:len(raw) - 8 - int.from_bytes(raw[-8:-4], "little")]


def compare_table(a: str, b: str) -> str:
    import pyarrow as pa
    import pyarrow.parquet as pq

    fa, fb = _parts(a), _parts(b)
    ta = [pq.read_table(os.path.join(a, f)) for f in fa]
    tb = [pq.read_table(os.path.join(b, f)) for f in fb]
    ra = pa.concat_tables(ta) if ta else None
    rb = pa.concat_tables(tb) if tb else None
    if ra is None or rb is None:
        return "OK rows" if ra is rb else "DIFF one side has no files"
    if ra.schema != rb.schema:
        return f"DIFF schema {ra.schema} vs {rb.schema}"
    da = [_data_bytes(os.path.join(a, f)) for f in fa]
    db = [_data_bytes(os.path.join(b, f)) for f in fb]
    if not ra.equals(rb):
        if sorted(da) == sorted(db):
            return f"OK bytes, parts reordered ({ra.num_rows} rows, {len(fa)} files)"
        return f"DIFF rows {ra.num_rows} vs {rb.num_rows}"
    if da == db:
        return f"OK bytes ({ra.num_rows} rows, {len(fa)} files)"
    return f"OK rows ({ra.num_rows} rows, files {len(fa)} vs {len(fb)})"


def compare(a_root: str, b_root: str) -> int:
    n_diff = 0
    for name in sorted(os.listdir(a_root)):
        a, b = os.path.join(a_root, name), os.path.join(b_root, name)
        if not os.path.isdir(a):
            continue
        lines = []
        for t in TABLES:
            ha, hb = os.path.isdir(os.path.join(a, t)), os.path.isdir(os.path.join(b, t))
            if not (ha or hb):
                continue
            res = (compare_table(os.path.join(a, t), os.path.join(b, t)) if ha and hb
                   else f"DIFF present only in {'A' if ha else 'B'}")
            lines.append((t, res))
        with open(os.path.join(a, "stats.json")) as fa, open(os.path.join(b, "stats.json")) as fb:
            lines.append(("stats.json", "OK" if json.load(fa) == json.load(fb) else "DIFF"))
        for t, res in lines:
            n_diff += res.startswith("DIFF")
            print(f"{name:32s} {t:18s} {res}")
    print("all OK" if not n_diff else f"{n_diff} DIFF")
    return 1 if n_diff else 0


def main(argv: list[str]) -> int:
    if len(argv) >= 3 and argv[0] == "build":
        build(argv[1], argv[2], argv[3:])
        return 0
    if len(argv) == 3 and argv[0] == "compare":
        return compare(argv[1], argv[2])
    print(__doc__, file=sys.stderr)
    return 2


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
