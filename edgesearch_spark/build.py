"""Index build pipeline — the Spark-native replacement for the reference's
single-process builder (reference: src/build/mod.rs:43-137).

Reference flow (all in one process): stream (doc, terms) → dict-encode →
invert into Roaring bitmaps → sort terms → serialize → pack 25 MiB BST
chunks. Our flow, as declarative Spark stages, one build path each:

  docs      corpus → deterministic docID (range-sort, docids.py) → sha256
            invariant → parquet sorted by doc_id
  stats     per-doc token count (JVM regexp_count) → doclens parquet;
            N, avgdl, totals ride the write                 [no shuffle]
  postings  tokenize+pack (bucket = hash(term,salt) blobs) → repartition
            (bucket) → numpy sort + adaptive block encode (mapInArrow)
            → parquet range-sorted by (term, salt)   [shuffle: bucket, range]
  terms     groupBy(term) over the postings table → df, cf, max BM25
            tf-weight                                 [shuffle: term, range]
            (the reference computes df and drops it — src/build/mod.rs:62,88;
            we keep it: it is the BM25 idf input)
  blooms    absent-term bloom sidecar (bloom.py)
  optional  positions, hot bigrams and overlong-run trigrams: the same blob
            shuffle and range write as postings (_write_blob_table)

Skew: a plain groupBy(term) would put a hot term's entire posting list in
one task (the `import`-class problem at 10^12 files). The salt — a docID
*range* bucket, not a hash — caps every (term, salt) group at 2^salt_shift
postings AND makes shard merge a pure concatenation (shards never
interleave), so the final postings table keys on (term, salt) and no second
merge shuffle is needed at all. Query-time reads all salts of a term (they
are adjacent in the range-sorted table) and concatenates.

Each stage commits a checkpoint manifest (_manifest/<stage>.json) with
lineage + row counts + wall time; a rerun skips completed stages (the
reference's resumable-upload cursor pattern, deployer/cloudflare/src/deploy.ts:10-56,
generalized to per-stage lineage per the north rule).
"""

from __future__ import annotations

import json
import math
import os
import time
from collections.abc import Sequence
from dataclasses import asdict, dataclass, field

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .docids import assign_doc_ids
from .localread import LocalTable

STAGES = ("docs", "stats", "postings", "terms")

POSTINGS_SCHEMA = (
    "term string, salt long, df long, cf long, "
    "block_first_doc array<long>, block_max_doc array<long>, block_count array<int>, "
    "block_offset array<long>, block_max_weight array<float>, block_kind array<int>, "
    "block_max_tf array<int>, payload binary"
)

POSITIONS_SCHEMA = "term string, salt long, df long, payload binary"

# Rows per docs row group (zstd). A doc fetch decodes every row group that
# holds a page id, so a page decodes at most page size × this many docs,
# however large the store. The same 4k-doc store (4 files) rewritten by
# Spark, LocalTable.take p50 over 120 random 20-id pages, no cache, 4 cores:
#   layout                       bytes     take
#   snappy, 1 group per file     1.98 MB   12.1 ms
#   zstd,   128 rows per group   1.37 MB    6.9 ms
#   zstd,    64 rows per group   1.52 MB    5.8 ms
#   snappy, 128 rows per group   2.10 MB    6.8 ms
#   lz4_raw, 128 rows per group  2.21 MB    3.7 ms
# 64 rows saves ~1 ms for +11% bytes; lz4_raw decodes fastest but is larger
# than snappy. Spark's own scans of the table (the build's tokenize passes)
# pay per row group too: an 8k-doc scan took 95 → 111 ms at 128 rows per
# group, so the cap is not set lower.
DOCS_ROWGROUP_ROWS = 128


@dataclass
class IndexConfig:
    k1: float = 1.2  # Robertson defaults; the reference defines no override (SURVEY.md §0)
    b: float = 0.75
    block_size: int = 128
    salt_shift: int = 16  # shard = docID range of 2^16 docs (Roaring high-key analogue)
    # write-side size budget (reference packs ≤25 MiB chunks,
    # src/build/chunks/bst.rs:86-105): postings, positions and sidecar files
    # target this many bytes via maxRecordsPerFile derived from measured
    # bytes/row, and their row groups stay small enough that key-range
    # pruning keeps sub-file granularity. Docs row groups are capped by row
    # count (DOCS_ROWGROUP_ROWS); this byte budget only caps very large docs.
    target_file_bytes: int = 32 << 20
    target_rowgroup_bytes: int = 8 << 20
    num_partitions: int | None = None
    max_query_terms: int = 50  # reference default, src/main.rs:16
    max_results: int = 50  # reference default, src/main.rs:15
    idf: str = "lucene"  # ln(1 + (N-df+0.5)/(df+0.5)) — non-negative variant
    # demo-convention normalization (build.ts:14-29,50): term remapping
    # (ms→microsoft style) and `{field}_` term prefixing, applied by the
    # postings and positions tokenizers (arrow_pipeline.py).
    word_map: dict | None = None
    field_prefix: str | None = None
    # source-code mode: insert identifier-boundary markers (camelCase /
    # snake_case / acronym / digit, functions/code.py) into the
    # TOKENIZATION input, so `user` finds `getUserName`. The docs store
    # keeps the original content (sha256 invariant untouched); doclens and
    # BM25 statistics count subtokens, consistently with the index.
    split_identifiers: bool = False
    # hot-phrase acceleration (Lucene common-grams idea): index the ADJACENT
    # token pair "t1 t2" for every pair whose BOTH terms have df ≥ this
    # threshold. Phrase queries over hot term pairs then AND exact-adjacency
    # postings instead of each term's huge doc set — candidates shrink from
    # |docs with both terms| to |docs with the pair adjacent|. None = no
    # sidecar. Hot-term count is bounded by total_postings / bigram_min_df,
    # so the driver-collected hot list stays metadata-scale by construction.
    bigram_min_df: int | None = None
    # trigram sidecar over DROPPED (>MAX_TERM_BYTES) alphanumeric runs:
    # index_regex_search can then demand per-literal trigram evidence from
    # overlong-flagged docs instead of unioning the whole flagged set into
    # its candidates (on minified-JS/base64 corpora the flagged set is a
    # large corpus fraction and the wholesale union degrades the operator
    # toward a scan — VERDICT r5 'what's wrong #1'). Cheap by construction:
    # only flagged docs' runs are scanned, and the term space is ≤ 36³
    # lowercase-alnum trigrams.
    overlong_trigrams: bool = True
    # positional sidecar: per-(term, salt) delta-varint position blobs
    # (positions = 0-based indexes into the drop-filtered token stream).
    # Enables exact arbitrary-length phrase match and NEAR/slop proximity
    # queries straight from the index — no docs-store verify join — and,
    # unlike the bigram sidecar, is sound on normalized builds (word_map /
    # field_prefix / split_identifiers): positions live in the NORMALIZED
    # stream, the same stream the postings index.
    positions: bool = False


@dataclass
class StageMetrics:
    stage: str
    rows: int
    seconds: float
    extra: dict = field(default_factory=dict)


def _manifest_path(out_dir: str, stage: str) -> str:
    return os.path.join(out_dir, "_manifest", f"{stage}.json")


def _stage_done(out_dir: str, stage: str) -> bool:
    return os.path.exists(_manifest_path(out_dir, stage))


def _commit_stage(out_dir: str, m: StageMetrics, lineage: dict) -> None:
    os.makedirs(os.path.join(out_dir, "_manifest"), exist_ok=True)
    tmp = _manifest_path(out_dir, m.stage) + ".tmp"
    with open(tmp, "w") as f:
        json.dump({**asdict(m), "lineage": lineage}, f, indent=2)
    os.replace(tmp, _manifest_path(out_dir, m.stage))  # atomic commit


def load_stats(out_dir: str) -> dict:
    with open(os.path.join(out_dir, "stats.json")) as f:
        return json.load(f)


def _patch_stats(out_dir: str, **kv) -> None:
    """Merge ``kv`` into stats.json (atomic replace). The engine detects sidecars from stats.json, never from a filesystem
    probe (remote index dirs, ADVICE r4 bloom lesson)."""
    path = os.path.join(out_dir, "stats.json")
    with open(path) as f:
        st = json.load(f)
    st.update(kv)
    with open(path + ".tmp", "w") as f:
        json.dump(st, f)
    os.replace(path + ".tmp", path)


def _write_blob_table(packed: DataFrame, encoder, schema: str, path: str,
                      n_part: int, cfg: IndexConfig) -> dict:
    """(bucket, blob) rows → one (term, salt)-range-sorted parquet table:
    repartition(bucket) → encode (mapInArrow) → range write. Returns the
    rows, postings (sum of df) and payload bytes observed on the write.

    The encoded frame is persisted: repartitionByRange's boundary-sampling
    pass would otherwise re-run the whole tokenize→shuffle→encode pipeline
    a second time. Size budget (B12): bytes/row measured off the persisted
    frame (which also materializes the cache ahead of boundary sampling)
    caps records per output file, so files land near target_file_bytes
    even when a range partition holds far more — at 100× scale an uncapped
    range partition writes multi-GB files that defeat pruning."""
    from pyspark import StorageLevel
    from pyspark.sql import Observation

    enc = (packed.repartition(4 * n_part, "bucket").mapInArrow(encoder, schema=schema)
           .persist(StorageLevel.MEMORY_AND_DISK))
    est = enc.agg(
        F.count(F.lit(1)).alias("rows"), F.sum(F.octet_length("payload")).alias("bytes")
    ).collect()[0]
    enc_rows, enc_bytes = int(est["rows"] or 0), int(est["bytes"] or 0)
    # block metadata arrays add ~29 B/block ≈ payload-order overhead; 1.3×
    bytes_per_row = max(64.0, 1.3 * enc_bytes / max(1, enc_rows))
    max_rec = max(1, int(cfg.target_file_bytes / bytes_per_row))
    obs = Observation()
    (enc.repartitionByRange(n_part, "term", "salt").sortWithinPartitions("term", "salt")
        .observe(obs, F.count(F.lit(1)).alias("rows"), F.sum("df").alias("postings"),
                 F.sum(F.octet_length("payload")).alias("bytes"))
        .write.mode("overwrite")
        .option("maxRecordsPerFile", max_rec)
        .option("parquet.block.size", cfg.target_rowgroup_bytes)
        .parquet(path))
    enc.unpersist()
    got = obs.get  # stats ride the write — no read-back scan of the table
    return {k: int(got[k] or 0) for k in ("rows", "postings", "bytes")}


def _write_sidecar(rows: DataFrame, path: str, n_part: int, cfg: IndexConfig) -> dict:
    """(term, doc_id, tf) rows → a postings-schema sidecar table (w = 0)
    through the postings blob shuffle."""
    from .arrow_pipeline import make_pack_encoder, pack_postings_arrow

    packed = pack_postings_arrow(rows, n_buckets=16 * n_part, salt_shift=cfg.salt_shift)
    return _write_blob_table(packed, make_pack_encoder(cfg.block_size, cfg.salt_shift),
                             POSTINGS_SCHEMA, path, n_part, cfg)


def idf_value(n_docs: int, df: np.ndarray | int, variant: str = "lucene") -> np.ndarray | float:
    """BM25 idf. 'lucene': ln(1 + (N - df + 0.5)/(df + 0.5)), always ≥ 0.
    The reference never scores; this pins the scoring contract for oracles."""
    if variant != "lucene":
        raise ValueError(f"unknown idf variant {variant}")
    return np.log(1.0 + (n_docs - np.asarray(df, dtype=np.float64) + 0.5) / (np.asarray(df, dtype=np.float64) + 0.5)) if not np.isscalar(df) else math.log(1.0 + (n_docs - df + 0.5) / (df + 0.5))


def _tune_split_size(spark: SparkSession, path: str, n_part: int) -> None:
    """Size parquet input splits to the data: every tokenize stage scans the
    docs table, and with the stock 128 MB maxPartitionBytes a bench-sized
    corpus packs into 2-4 splits — leaving all but a few cores idle no
    matter the parallelism (measured: local[32] slower than local[8]).
    Target ≈ 2 splits per core, clamped to [4 MB, 128 MB] so a genuinely
    large corpus keeps production-sized splits."""
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                total += os.path.getsize(os.path.join(root, f))
    target = max(4 << 20, min(128 << 20, total // max(1, n_part * 2)))
    spark.conf.set("spark.sql.files.maxPartitionBytes", str(int(target)))
    spark.conf.set("spark.sql.files.openCostInBytes", str(int(max(64 << 10, target // 8))))
    # keep AQE's post-shuffle coalescing from folding the encode stage onto a
    # handful of cores: advisory size scales with the same data-size estimate
    # (pairs blow up ~4× over docs bytes; target 2 partitions per core)
    spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", str(int(max(1 << 20, min(64 << 20, total * 4 // max(1, n_part * 2))))))


def build_index(
    spark: SparkSession,
    corpus: DataFrame,
    out_dir: str,
    config: IndexConfig | None = None,
    order_cols: Sequence[str] | None = None,
    doc_id_col: str | None = None,
    content_col: str = "content",
    resume: bool = True,
    stop_after: str | None = None,
) -> list[StageMetrics]:
    """Build the full index at ``out_dir``: docs/, term_stats/, postings/,
    stats.json, _manifest/. Either ``doc_id_col`` names an existing dense id
    column, or ``order_cols`` defines the total order for docID assignment
    (the reference's ranking-baked-into-docID contract, SURVEY.md B4)."""
    cfg = config or IndexConfig()
    if (doc_id_col is None) == (order_cols is None):
        raise ValueError("exactly one of doc_id_col / order_cols required")
    if cfg.bigram_min_df is not None and (
            cfg.word_map or cfg.field_prefix or cfg.split_identifiers):
        # fail BEFORE any stage runs: stage-6-only validation would let an
        # IncrementalIndexer with this config ingest fine (segments strip
        # the sidecar) and then burn a full compaction merge before dying
        raise ValueError(
            "bigram_min_df requires a plain tokenization build "
            "(no word_map/field_prefix/split_identifiers)"
        )
    os.makedirs(out_dir, exist_ok=True)
    n_part = cfg.num_partitions or spark.sparkContext.defaultParallelism
    metrics: list[StageMetrics] = []
    docs_path = os.path.join(out_dir, "docs")
    terms_path = os.path.join(out_dir, "term_stats")
    postings_path = os.path.join(out_dir, "postings")

    def stage(name: str):
        return resume and _stage_done(out_dir, name)

    # ---- stage 1: docs store (reference: src/build/mod.rs:124-137) ----
    if not stage("docs"):
        t0 = time.monotonic()
        if doc_id_col is not None:
            docs = corpus.withColumn("doc_id", F.col(doc_id_col).cast("long")) if doc_id_col != "doc_id" else corpus
        else:
            docs = assign_doc_ids(corpus, order_cols, num_partitions=n_part)
        cache = getattr(docs, "_docid_cache", None)
        docs = docs.withColumn("sha256", F.sha2(F.col(content_col), 256))
        # Layout: n_part range-sorted files. assign_doc_ids' output is
        # ALREADY docID-range-partitioned (partition p is the contiguous
        # block [base_p, base_p+cnt_p) by the prefix-sum construction) and
        # sorted within, so the order_cols path skips the explicit
        # repartitionByRange — that was a third full shuffle of the
        # content bytes for a layout the data already had (the
        # sortWithinPartitions stays as a cheap already-sorted pass and
        # layout guard). A user-supplied doc_id column has arbitrary
        # layout and keeps the explicit range shuffle (which AQE respects,
        # so small inputs still get n_part files, not a coalesced handful).
        # the docID invariant check rides the WRITE itself (Observation —
        # aggregates computed as rows stream to parquet), so the store is
        # never re-scanned just to validate: the engine's norms cache and
        # positional docID semantics assume a DENSE 0..n-1 id space, and a
        # user-supplied doc_id_col with gaps or duplicates would corrupt
        # results silently. min/max are exact; distinctness is approximate
        # (1% rsd — exact would be a shuffle).
        from pyspark.sql import Observation

        if doc_id_col is None:  # assign_doc_ids output: already range-laid-out
            layout = docs.sortWithinPartitions("doc_id")
        else:
            layout = docs.repartitionByRange(n_part, "doc_id").sortWithinPartitions("doc_id")
        obs = Observation("docid_invariants")
        # a point-read store: a page's doc fetch decodes only the row groups
        # whose doc_id range holds a page id (localread.LocalTable), so each
        # row group holds at most DOCS_ROWGROUP_ROWS docs and a scattered
        # 20-id page decodes ≤ 20 small groups, however large the store;
        # target_rowgroup_bytes stays the byte cap for very large docs
        (layout.observe(obs,
                        F.count(F.lit(1)).alias("n"), F.min("doc_id").alias("lo"),
                        F.max("doc_id").alias("hi"),
                        F.approx_count_distinct("doc_id", 0.01).alias("nd"))
               .write.mode("overwrite")
               .option("compression", "zstd")
               .option("parquet.block.size", cfg.target_rowgroup_bytes)
               .option("parquet.block.row.count.limit", DOCS_ROWGROUP_ROWS)
               .parquet(docs_path))
        if cache is not None:
            cache.unpersist()
        chk = obs.get
        n_docs = int(chk["n"] or 0)
        if n_docs:
            # contiguous [lo, lo+n-1]: standalone builds start at 0, segment
            # builds (streaming/incremental.py) at their docID-space offset
            if int(chk["lo"]) < 0 or int(chk["hi"]) - int(chk["lo"]) != n_docs - 1:
                raise ValueError(
                    f"doc_id must be a dense contiguous range: got min={chk['lo']} "
                    f"max={chk['hi']} for n={n_docs} rows (use order_cols= to have "
                    f"build assign docIDs)"
                )
            if int(chk["nd"]) < 0.95 * n_docs:
                raise ValueError(
                    f"doc_id looks non-unique: ~{chk['nd']} distinct of {n_docs} rows"
                )
        dt = time.monotonic() - t0
        m = StageMetrics("docs", n_docs, dt, {"docs_per_sec": n_docs / dt if dt else None})
        metrics.append(m)
        _commit_stage(out_dir, m, {"input": "corpus", "output": docs_path})
    if stop_after == "docs":
        return metrics

    _tune_split_size(spark, docs_path, n_part)
    docs_df = LocalTable([docs_path], spark).frame()
    if cfg.split_identifiers:
        # applies to tokenization inputs only — stage 1 (original content)
        # is already on disk
        from .functions.code import identifier_marked_col

        docs_df = docs_df.withColumn(content_col, identifier_marked_col(content_col))

    # ---- stage 2: corpus stats (N, avgdl) + doc-length norms ----
    # dl per doc is the BM25 length norm (Lucene-norms analogue). Stored as
    # its own tiny table; the driver query kernel pages it by docID range
    # (engine.NormsCache), the distributed path joins it. Each file holds
    # one contiguous docID range, but part numbers follow Spark's split
    # order (largest docs file first), not docID order: readers prune by
    # the footers' doc_id min/max. One tokenize pass: N, total tokens and
    # avgdl ride the doclens write, so this stage never shuffles the
    # exploded pairs.
    doclens_path = os.path.join(out_dir, "doclens")
    if not stage("stats"):
        t0 = time.monotonic()
        from .tokenizer import doc_length_col

        # each docs file is one doc_id range, so each doclens file of the
        # narrow map below is one too — write without reshuffling. The write
        # also observes whether ANY doc holds an alphanumeric run longer
        # than MAX_TERM_BYTES: such runs are DROPPED from the token stream,
        # so a regex literal occurring only inside one exists in no indexed
        # term and index_regex_search's dictionary pruning would silently
        # drop the match — the engine routes regex to the scan when this
        # flag is set (code/base64-heavy corpora).
        from pyspark.sql import Observation

        from .tokenizer import MAX_TERM_BYTES

        ol = F.when(
            F.col(content_col).rlike(f"[a-zA-Z0-9]{{{MAX_TERM_BYTES + 1},}}"), 1
        ).otherwise(0)
        obs = Observation("overlong_runs")
        # the PER-DOC flag is stored in doclens (one tinyint-ish column):
        # index_regex_search unions flagged docs into its candidate set, so
        # regex stays index-accelerated on code/base64-heavy corpora instead
        # of falling back to a full scan (the flagged set is the only place
        # a literal can hide outside the dictionary)
        (docs_df.select("doc_id", doc_length_col(content_col).alias("dl"),
                        ol.cast("int").alias("ol"))
                .observe(obs, F.max("ol").alias("ol"),
                         F.count(F.lit(1)).alias("n"), F.sum("dl").alias("tokens"))
                .write.mode("overwrite").parquet(doclens_path))
        # N / total tokens ride the write Observation — no read-back job
        got = obs.get
        n_docs = int(got["n"] or 0)
        total_tokens = int(got["tokens"] or 0)
        avgdl = (total_tokens / n_docs) if n_docs else 0.0
        stats = {
            "n_docs": n_docs,
            "total_tokens": total_tokens,
            "avgdl": avgdl,
            "k1": cfg.k1,
            "b": cfg.b,
            "idf": cfg.idf,
            "block_size": cfg.block_size,
            "salt_shift": cfg.salt_shift,
            "max_query_terms": cfg.max_query_terms,
            "max_results": cfg.max_results,
            "split_identifiers": cfg.split_identifiers,
            # a word_map rewrites tokens (ms -> microsoft), so the
            # "every pattern literal survives inside some indexed term"
            # invariant index_regex_search relies on does not hold —
            # record the MAP ITSELF (truthiness keeps the regex-routing
            # checks working) so scan-side fallbacks can rebuild the
            # normalized token stream (ADVICE r7: the per-segment
            # positional fallback was rebuilding the RAW stream, silently
            # dropping matches on normalized mixed-coverage builds).
            # False (not {}) when unset, preserving the old falsy shape.
            "word_map": dict(cfg.word_map) if cfg.word_map else False,
            "field_prefix": cfg.field_prefix,
            "content_col": content_col,
            "has_overlong_runs": bool(got["ol"] or 0),
        }
        tmp = os.path.join(out_dir, "stats.json.tmp")
        with open(tmp, "w") as f:
            json.dump(stats, f, indent=2)
        os.replace(tmp, os.path.join(out_dir, "stats.json"))
        dt = time.monotonic() - t0
        m = StageMetrics("stats", n_docs, dt, stats)
        metrics.append(m)
        _commit_stage(out_dir, m, {"input": docs_path, "output": ["stats.json", doclens_path]})
    if stop_after == "stats":
        return metrics

    stats = load_stats(out_dir)
    avgdl = stats["avgdl"] or 1.0

    # ---- stage 3: salted posting blocks ----
    if not stage("postings"):
        t0 = time.monotonic()
        # binary-blob shuffle: the tokenizer pre-packs each
        # (hash(term), salt)-bucket of a batch into one blob, so the
        # shuffle and BOTH Arrow crossings move thousands of binary rows
        # instead of tens of millions of posting rows — removing the
        # JVM→Python row-conversion floor the profiler identified
        # (BENCH/BASELINE.md round-3 substage table). The encoder sorts
        # each partition in numpy, so the JVM sort disappears too.
        from .arrow_pipeline import make_pack_encoder, tokenize_pack_arrow

        packed = tokenize_pack_arrow(
            docs_df, doc_id_col="doc_id", content_col=content_col,
            n_buckets=16 * n_part, salt_shift=cfg.salt_shift,
            k1=cfg.k1, b=cfg.b, avgdl=avgdl,
            word_map=cfg.word_map, field_prefix=cfg.field_prefix,
        )
        agg = _write_blob_table(packed, make_pack_encoder(cfg.block_size, cfg.salt_shift),
                                POSTINGS_SCHEMA, postings_path, n_part, cfg)
        dt = time.monotonic() - t0
        m = StageMetrics(
            "postings", agg["rows"], dt,
            {"total_postings": agg["postings"], "payload_bytes": agg["bytes"],
             "postings_per_sec": agg["postings"] / dt if dt else None},
        )
        metrics.append(m)
        _commit_stage(out_dir, m, {"input": docs_path, "output": postings_path})
    if stop_after == "postings":
        return metrics

    # ---- stage 4: term dictionary / stats (df the reference drops: mod.rs:62,88) ----
    # Derived from the postings table, not from re-tokenized pairs: per-term
    # df/cf are sums over salt shards and max_weight is the max of the stored
    # block maxima — a reduce over the (small) postings table instead of a
    # second full shuffle of every (doc, term) pair.
    if not stage("terms"):
        t0 = time.monotonic()
        post_df = LocalTable([postings_path], spark).frame()
        term_stats = (
            post_df.groupBy("term")
            .agg(
                F.sum("df").alias("df"),
                F.sum("cf").alias("cf"),
                F.max(F.array_max("block_max_weight")).alias("max_weight"),
            )
        )
        from pyspark.sql import Observation

        tobs = Observation("terms_count")
        (term_stats.repartitionByRange(n_part, "term").sortWithinPartitions("term")
                   .observe(tobs, F.count(F.lit(1)).alias("n"))
                   .write.mode("overwrite").parquet(terms_path))
        n_terms = int(tobs.get["n"] or 0)  # rides the write — no read-back count
        dt = time.monotonic() - t0
        m = StageMetrics("terms", n_terms, dt, {"terms_per_sec": n_terms / dt if dt else None})
        metrics.append(m)
        _commit_stage(out_dir, m, {"input": postings_path, "output": terms_path})

    # ---- stage 5: absent-term bloom sidecar (term-dict scale posture) ----
    # Driver-local "definitely absent" checks at any dictionary size — the
    # reference's always-local BST lookup (wasm/bst.c) without shipping a
    # 10^9-term dictionary to the driver. See bloom.py.
    if not stage("blooms"):
        from .bloom import build_term_bloom

        t0 = time.monotonic()
        ts_df = LocalTable([terms_path], spark).frame()
        try:  # the terms stage already counted — skip the extra job
            with open(_manifest_path(out_dir, "terms")) as f:
                n_terms = int(json.load(f)["rows"])
        except Exception:
            n_terms = ts_df.count()
        bloom_path = os.path.join(out_dir, "term_bloom")
        n_ranges = build_term_bloom(spark, ts_df, bloom_path, n_terms)
        dt = time.monotonic() - t0
        m = StageMetrics("blooms", n_ranges, dt, {"n_terms": n_terms})
        metrics.append(m)
        _commit_stage(out_dir, m, {"input": terms_path, "output": bloom_path})

    # ---- stage 6 (optional): positional sidecar ----
    # (runs BEFORE the bigram stage so the bigram pair stream can be
    # DERIVED from position blobs instead of a third corpus tokenize)
    # Per-(term, salt) delta-varint position blobs (codec.
    # encode_positions_groups). Positions are 0-based indexes into the
    # drop-filtered, NORMALIZED token stream (tokenizer.norm_tokens_col,
    # the stream the postings index) — so position adjacency is
    # exactly phrase adjacency and the sidecar is sound on word_map /
    # field_prefix / split_identifiers builds (where the bigram sidecar
    # must refuse). Same salt scheme as postings: shard merge stays pure
    # concatenation, the scan prunes on the range-sorted term column, and
    # the skew cap (2^salt_shift docs per shard) carries over.
    if cfg.positions and not stage("positions"):
        t0 = time.monotonic()
        from .arrow_pipeline import make_pos_pack_encoder, tokenize_pos_pack_arrow

        packed = tokenize_pos_pack_arrow(
            docs_df, doc_id_col="doc_id", content_col=content_col,
            n_buckets=16 * n_part, salt_shift=cfg.salt_shift,
            word_map=cfg.word_map, field_prefix=cfg.field_prefix,
        )
        positions_path = os.path.join(out_dir, "positions")
        agg = _write_blob_table(packed, make_pos_pack_encoder(cfg.salt_shift),
                                POSITIONS_SCHEMA, positions_path, n_part, cfg)
        _patch_stats(out_dir, positions=True)
        dt = time.monotonic() - t0
        m = StageMetrics("positions", agg["rows"], dt,
                         {"total_postings": agg["postings"], "payload_bytes": agg["bytes"]})
        metrics.append(m)
        _commit_stage(out_dir, m, {"input": docs_path, "output": positions_path})

    # ---- stage 7 (optional): hot-bigram sidecar (common-grams) ----
    # Adjacent-pair postings for hot×hot term pairs, in the SAME postings
    # schema/codec as the main table so the engine's pruned fetch + decode
    # path serves them unchanged. Soundness rests on the docs-store token
    # stream being byte-identical to the indexed stream, so normalizing
    # builds (word_map / field_prefix / split_identifiers rewrite tokens
    # relative to stored content) refuse the sidecar.
    if cfg.bigram_min_df is not None and not stage("bigrams"):
        t0 = time.monotonic()
        hot_df = (
            LocalTable([terms_path], spark).frame()
            .filter(F.col("df") >= cfg.bigram_min_df).select("term")
        )
        if cfg.positions and _stage_done(out_dir, "positions"):
            # Derive the pair stream from the positional sidecar instead of
            # a THIRD corpus tokenize (the positions stage already paid the
            # tokenize): hot-term position blobs decode to kept-token
            # indexes, and two kept tokens are phrase-adjacent exactly when
            # their positions are consecutive — the same adjacency the
            # arrays_zip path below computes (both streams are the
            # drop-filtered token stream, so a dropped >MAX_TERM_BYTES run
            # collapses identically). Work scales with HOT-term postings
            # (broadcast-semi-joined before decode), not corpus tokens.
            from .sources.postings import decode_positions

            pair_derivation = "positions"
            dec = decode_positions(
                LocalTable([os.path.join(out_dir, "positions")], spark).frame()
                .join(F.broadcast(hot_df), "term", "left_semi")
            )
            toks = dec.select("doc_id", "term", F.explode("positions").alias("pos"))
            perdoc = toks.groupBy("doc_id").agg(
                F.sort_array(F.collect_list(F.struct("pos", "term"))).alias("s"))
            n1 = F.greatest(F.size("s") - 1, F.lit(0))
            adj = F.filter(
                F.zip_with(
                    F.slice("s", 1, n1), F.slice("s", 2, n1),
                    lambda x, y: F.when(y["pos"] == x["pos"] + 1,
                                        F.concat_ws(" ", x["term"], y["term"]))),
                lambda v: v.isNotNull())
            pairs = (
                perdoc.select("doc_id", F.explode(adj).alias("term"))
                .groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
            )
        else:
            from .tokenizer import _tokens_col

            pair_derivation = "tokenize"
            ts = _tokens_col(content_col)
            pair = F.arrays_zip(
                ts.alias("a"),
                F.slice(ts, 2, F.greatest(F.size(ts) - 1, F.lit(0))).alias("b"),
            )
            pairs = (
                docs_df.select("doc_id", F.explode(pair).alias("p"))
                .select("doc_id", F.col("p.a").alias("a"), F.col("p.b").alias("b"))
                .filter(F.col("b").isNotNull())
                # two broadcast semi-joins bound the pair stream to hot×hot —
                # the hot list never reaches the driver as literals
                .join(F.broadcast(hot_df).withColumnRenamed("term", "a"), "a", "left_semi")
                .join(F.broadcast(hot_df).withColumnRenamed("term", "b"), "b", "left_semi")
                .groupBy("doc_id", F.concat_ws(" ", "a", "b").alias("term"))
                .agg(F.count(F.lit(1)).alias("tf"))
            )
        bigram_path = os.path.join(out_dir, "bigram_postings")
        agg = _write_sidecar(pairs, bigram_path, n_part, cfg)
        _patch_stats(out_dir, bigram_min_df=cfg.bigram_min_df)
        dt = time.monotonic() - t0
        m = StageMetrics("bigrams", agg["rows"], dt,
                         {"total_postings": agg["postings"],
                          "min_df": cfg.bigram_min_df,
                          "pair_derivation": pair_derivation})
        metrics.append(m)
        _commit_stage(out_dir, m, {"input": docs_path, "output": bigram_path})

    # ---- stage 8 (default-on): overlong-run trigram sidecar ----
    # Literal evidence for regex over docs whose >MAX_TERM_BYTES runs were
    # DROPPED from the token stream: every maximal-alnum occurrence of a
    # required literal lies inside one run, so a literal hiding in a
    # dropped run leaves all its trigrams in that run — indexing the
    # (lowercased) trigrams of dropped runs makes flagged docs literal-
    # searchable and index_regex_search can intersect instead of union.
    # Same POSTINGS schema/codec/salting, so _decoded_for serves it
    # unchanged. A corpus with no flagged docs commits the stage with no
    # table (trivially covered — stats records rows=0).
    if cfg.overlong_trigrams and not stage("oltrigrams"):
        from .tokenizer import MAX_TERM_BYTES

        t0 = time.monotonic()
        if not load_stats(out_dir).get("has_overlong_runs"):
            # stage 2 already proved no doc carries a dropped run — commit
            # the stage without touching the corpus (zero extra scan on
            # clean corpora, the common case); rows=0 tells the engine no
            # sidecar table exists to read
            n_rows, n_post, oltri_path = 0, 0, None
        else:
            fdocs = LocalTable([docs_path], spark).frame().filter(
                F.col(content_col).rlike(f"[a-zA-Z0-9]{{{MAX_TERM_BYTES + 1},}}"))
            runs = fdocs.select(
                "doc_id",
                F.explode(F.expr(
                    f"regexp_extract_all({content_col}, "
                    f"'[a-zA-Z0-9]{{{MAX_TERM_BYTES + 1},}}', 0)")).alias("run"),
            )
            tris = (
                runs.select("doc_id", F.lower(F.col("run")).alias("lr"))
                .select("doc_id", F.explode(F.expr(
                    "transform(sequence(1, length(lr) - 2), i -> substring(lr, i, 3))"
                )).alias("term"))
                .groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
            )
            oltri_path = os.path.join(out_dir, "overlong_trigrams")
            agg = _write_sidecar(tris, oltri_path, n_part, cfg)
            n_rows, n_post = agg["rows"], agg["postings"]
        _patch_stats(out_dir, overlong_trigrams=True, overlong_trigram_rows=n_rows)
        dt = time.monotonic() - t0
        m = StageMetrics("oltrigrams", n_rows, dt, {"total_postings": n_post})
        metrics.append(m)
        _commit_stage(out_dir, m, {"input": docs_path, "output": oltri_path})

    return metrics
