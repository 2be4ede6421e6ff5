"""edgesearch_spark — a PySpark-native inverted-index builder + BM25 query engine.

Brand-new engine with the query/data-processing capabilities of
wilsonzlin/edgesearch (reference at /root/reference, studied in SURVEY.md),
re-expressed Spark-first: DataFrame/SQL plans optimized by Catalyst, with
vectorized numpy kernels over Arrow batches (mapInArrow) or on the driver
only where built-ins can't express the semantics (posting-block codec,
block-max WAND top-k).

Layout:
  session.py       — SparkSession factory sized to the host; ships this package
                     to Python workers as a content-named zip
  tokenizer.py     — tokenize/normalize as JVM built-in column expressions
  arrow_pipeline.py — the one Arrow tokenizer and blob codec every
                     posting-shaped table is built with (mapInArrow)
  codec.py         — delta+varint posting-block codec (vectorized numpy)
  docids.py        — scalable deterministic docID assignment (no single-partition window)
  build.py         — index build pipeline: salted postings, docs store, term
                     stats, bloom and optional sidecars, stage manifests, resumable
  bloom.py         — absent-term bloom sidecar
  localread.py     — driver-local footer-pruned reads of index tables
  engine.py        — query engine: boolean AND/OR/ANDNOT kernel with reference
                     semantics + quirks, rank-select pagination, BM25 top-k
  wand.py          — block-max WAND top-k kernel
  api.py, app.py   — the reference worker's query syntax and response shapes
  oracle.py        — independent brute-force oracle (pure python) for goldens
  corpus.py        — deterministic synthetic source-code corpus generator
  plans/           — batch query tables, the shared BM25 fold, contract queries
  sources/         — postings/positions decode; iceberg and NUL-delimited readers
  streaming/       — incremental segments and deletes; watermarked windowed
                     aggregation and dedup
  operators/       — dedup (exact/minhash/simhash/jaccard), similarity (ANN),
                     multimodal stubs
  functions/       — text analysis (langid, quality, token stats, fingerprint),
                     phrase/regex search, code identifiers
  _pyworker.py     — on Python < 3.13, a worker re-reads a zip on sys.path only
                     when it changed, not at every task's import-cache flush;
                     installed on import, below
"""

from . import _pyworker

_pyworker.install()

__version__ = "0.3.1"  # 0.3.1: stats has_overlong_runs + bigram sidecar; 0.3: per-block max_tf; 0.2.1: bloom sidecar; 0.2: adaptive containers
