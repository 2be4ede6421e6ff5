"""Query engine over a built index — reference semantics + BM25 top-k.

Mirrors the reference's query lifecycle (SURVEY.md §3.2) Spark-style:

  parse/normalize (Query.make)                 ← client/src/main.ts:10-35
  validate ≤ max_query_terms                   ← script/src/main.ts:358-364
  batched postings fetch: ONE driver-local
  read serves all small query terms            ← findAllInChunks batching,
                                                 script/src/main.ts:191-240;
                                                 the postings are (term, salt)-
                                                 sorted, so footer row-group
                                                 min-max stats prune the read
                                                 like the reference's chunk
                                                 first-key binary search
                                                 (wasm/chunks.c:56-72)
  missing-term rules / default results         ← script/src/main.ts:368-389
  boolean kernel AND/OR/ANDNOT                 ← wasm/index.c:76-104
  rank-select pagination                       ← wasm/index.c:115-128
  doc fetch (footer-pruned driver-local read)  ← script/src/main.ts:408-416

Those reads, and a hot term's per-shard fetches, run no Spark job
(``localread.LocalTable``); only a hot term's level-1 shard summary is a
Spark scan, aggregated executor-side.

The kernel is numpy over decoded posting blocks. Intersections decode ONLY
the blocks whose [min,max] docID range can contain a candidate (the
block_max_doc skip list); BM25 uses per-term upper bounds
(idf·(k1+1)·max_weight) for MaxScore-style term pruning and the same block
skipping for tf lookup — the block-max machinery the reference lacks
because it never scores.

The driver-side kernel is the low-latency path (query terms ≤ 50, postings
for ≤ 50 terms fit one machine — same deployment shape as the reference's
worker). ``search_df``/``fetch_docs_df`` expose the distributed result set
and its doc fetch.
"""

from __future__ import annotations

from collections import OrderedDict

import numpy as np
from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from .build import idf_value, load_stats
from .codec import PostingBlocks, decode_all, decode_block
from .oracle import Query, QueryTooLarge, SearchResult
from .plans.fold import bm25_fold
from .session import arrow_frame, local_frame

# Stored block/shard max weights are float32 while exact scores are float64:
# round-to-nearest can put the stored bound up to 0.5 ulp BELOW the true
# maximum score (relative ~6e-8), so a pruning bound compared ≥ θ without
# slack could drop a doc that ties or infinitesimally beats θ (observable on
# uniform corpora where θ lands exactly on the top bound). One float32 ulp of
# inflation (2^-23 ≈ 1.2e-7) restores a true upper bound; real skip margins
# are orders of magnitude larger, so pruning power is unaffected.
F32_BOUND_SLACK = 1.0 + 2.0**-23


def _row_to_blocks(row: dict) -> PostingBlocks:
    mtf = row.get("block_max_tf")
    return PostingBlocks(
        first_doc=np.array(row["block_first_doc"], dtype=np.int64),
        max_doc=np.array(row["block_max_doc"], dtype=np.int64),
        counts=np.array(row["block_count"], dtype=np.int32),
        offsets=np.array(row["block_offset"], dtype=np.int64),
        max_weight=np.array(row["block_max_weight"], dtype=np.float32),
        kinds=np.array(row["block_kind"], dtype=np.uint8),
        payload=bytes(row.get("payload") or b""),
        max_tf=np.array(mtf, dtype=np.int32) if mtf is not None else None,
    )


def lookup_tfs(pb: PostingBlocks, doc_ids: np.ndarray) -> np.ndarray:
    """tf for each (sorted) candidate docID, 0 when absent.

    Sparse candidates → block-skip path (decode only candidate-bearing
    blocks). Dense candidates (would touch most blocks anyway) → one
    vectorized full decode + searchsorted, which beats ~10 µs/block python
    looping by ~100× on hot terms."""
    out = np.zeros(doc_ids.size, dtype=np.int64)
    if pb.n_blocks == 0 or doc_ids.size == 0:
        return out
    # block index owning each candidate: first block with max_doc >= cand
    blk = np.searchsorted(pb.max_doc, doc_ids, side="left")
    valid = blk < pb.n_blocks
    touched = np.unique(blk[valid])
    if touched.size > max(32, pb.n_blocks // 4):
        docs, tfs = decode_all(pb)
        pos = np.searchsorted(docs, doc_ids)
        pos_ok = pos < docs.size
        hit = np.zeros(doc_ids.size, dtype=bool)
        hit[pos_ok] = docs[pos[pos_ok]] == doc_ids[pos_ok]
        out[hit] = tfs[pos[hit]]
        return out
    for b in touched:
        sel = valid & (blk == b)
        docs, tfs = decode_block(pb, int(b))
        pos = np.searchsorted(docs, doc_ids[sel])
        pos_ok = pos < docs.size
        hit = np.zeros(int(sel.sum()), dtype=bool)
        hit[pos_ok] = docs[pos[pos_ok]] == doc_ids[sel][pos_ok]
        idx = np.flatnonzero(sel)[hit]
        out[idx] = tfs[pos[hit]]
    return out


class NormsCache:
    """docID-range-paged doc-length norms with a bounded LRU — the norms
    twin of the two-level lazy postings fetch (VERDICT r4 #4).

    A whole norms array is the serving-node ceiling at extreme scale
    (int32 × n_docs = 4 GB at 10^9 docs); a kernel query only ever norms
    its CANDIDATE docs, which cluster in few docID ranges. Pages load on
    demand through a driver-local key-range read (``LocalTable``: zero
    Spark jobs — the doclens parquet is docID-ordered, so range filters
    prune row groups), and the LRU bounds residency at max_pages ×
    page_docs × 4 bytes. A corpus of up to page_docs docs is one page: the
    whole array, read once.

    Supports exactly the kernel's access pattern: ``norms[np.ndarray]``
    fancy indexing, returning int32 (score arithmetic promotes to float64
    identically from int32 or int64). ``pages_fetched`` is test-asserted."""

    def __init__(self, doclens_dirs: list[str], n_docs: int,
                 page_docs: int = 1 << 22, max_pages: int = 64,
                 spark: SparkSession | None = None):
        from .localread import LocalTable

        self._table = LocalTable(doclens_dirs, spark)
        self.n_docs = int(n_docs)
        self.page_docs = int(page_docs)
        self.max_pages = max(1, int(max_pages))
        self._pages: "OrderedDict[int, np.ndarray]" = OrderedDict()
        self.pages_fetched = 0

    def _page(self, pid: int) -> np.ndarray:
        pages = self._pages
        if pid in pages:
            pages.move_to_end(pid)
            return pages[pid]
        lo = pid * self.page_docs
        hi = min(lo + self.page_docs, self.n_docs)
        tbl = self._table.read(["doc_id", "dl"], "doc_id", lo, hi)
        page = np.zeros(hi - lo, dtype=np.int32)
        if tbl.num_rows:
            ids = tbl["doc_id"].to_numpy(zero_copy_only=False)
            page[ids - lo] = tbl["dl"].to_numpy(zero_copy_only=False)
        self.pages_fetched += 1
        pages[pid] = page
        while len(pages) > self.max_pages:
            pages.popitem(last=False)
        return page

    def __getitem__(self, docs: np.ndarray) -> np.ndarray:
        docs = np.asarray(docs, dtype=np.int64)
        out = np.zeros(docs.shape, dtype=np.int32)
        if docs.size == 0:
            return out
        pids = docs // self.page_docs
        for pid in np.unique(pids):
            sel = pids == pid
            out[sel] = self._page(int(pid))[docs[sel] - int(pid) * self.page_docs]
        return out

    def __len__(self) -> int:
        return self.n_docs


def _row_summary(row: dict) -> dict:
    """A full postings row plus the level-1 shard summary fields that the
    hot-term scan aggregates in Spark (fetch_terms)."""
    mtf = row.get("block_max_tf")
    return {**row, "min_doc": row["block_first_doc"][0], "max_doc": row["block_max_doc"][-1],
            "max_weight": max(row["block_max_weight"]), "payload_bytes": row["block_offset"][-1],
            "n_blocks": len(row["block_count"]), "max_tf": max(mtf) if mtf is not None else None}


class TermPostings:
    """One term's postings as its (term, salt) shards in docID order, with
    TWO-LEVEL metadata. Mirrors the reference's two-level chunk lookup
    (chunk first-keys → in-chunk BST, src/build/chunks/mod.rs:24-26,
    bst.rs:111-131):

      level 1 — one SUMMARY row per shard (min/max docID, df, max weight,
        payload bytes, n_blocks): O(df / 2^salt_shift) driver rows, ~40 B
        each — at df = 10^11 that is ~60 MB of summaries instead of tens
        of GB of block metadata;
      level 2 — block metadata (33 B / 128-posting block) per shard;
      level 3 — payload bytes per shard.

    A term with df ≤ the engine's ``lazy_min_df`` is PREFETCHED: one
    driver-local full-row read fills every shard's levels 2 and 3 up front.
    A hotter term is served ON DEMAND (``lazy``): only the summaries are
    read (a Spark scan, aggregated executor-side), and levels 2 and 3 load
    per candidate-bearing shard (``SearchEngine._postings_rows``: zero
    Spark jobs, row groups pruned by their (term, salt) footer stats) — the
    driver-kernel analogue of the reference worker streaming one chunk at a
    time (script/src/main.ts:191-240): a require+rare query touches only
    the rare term's salt ranges of a df≈N list.

    ``lazy`` is read only where the two differ: the whole-term decode memo
    (prefetched terms only, so it stays ≤ lazy_min_df × 16 B per term) and
    wand's θ bootstrap.

    Counters (test-asserted): ``bytes_fetched`` payload bytes actually
    transferred; ``meta_shards_fetched`` shards whose block metadata was
    pulled — both ≪ totals for bounded query shapes on an on-demand term.

    Shards are docID-range-disjoint by construction (salt = doc_id >> shift
    is a range bucket; multi-segment splits of one salt carry disjoint
    global docID ranges), so candidate→shard routing is a searchsorted."""

    __slots__ = (
        "term", "df", "max_weight", "lazy", "_engine", "_salts", "_smin", "_smax",
        "_smw", "_sdf", "_sstart", "_snblocks", "_meta", "_payload", "_dec",
        "bytes_fetched", "total_payload_bytes", "meta_shards_fetched",
    )

    def __init__(self, engine: "SearchEngine", term: str, shards: list[dict], lazy: bool):
        """``shards``: one dict per shard with the level-1 summary fields
        (salt, df, min_doc, max_doc, max_weight, max_tf, payload_bytes,
        n_blocks); a prefetched term's dicts are full rows (``_row_summary``)
        whose blocks and payload are kept."""
        self._engine = engine
        self.term = term
        self.lazy = lazy
        # shards in docID order (salt, then min docID for multi-segment
        # splits of one salt bucket — ranges are disjoint, so this is global
        # docID order)
        shards = sorted(shards, key=lambda r: (r["salt"], r["min_doc"]))
        self.df = int(sum(r["df"] for r in shards))
        self._salts = [int(r["salt"]) for r in shards]
        self._smin = np.array([r["min_doc"] for r in shards], dtype=np.int64)
        self._smax = np.array([r["max_doc"] for r in shards], dtype=np.int64)
        if engine._tf_bounds:
            # stored weights are stale; shard bound from avgdl-free max_tf
            # (vectorized — shards can number df/2^16; -1 marks a missing
            # max_tf, bounded by 1.0 like _bound_arr's None case)
            smtf = np.array([-1 if r.get("max_tf") is None else r["max_tf"] for r in shards],
                            dtype=np.float64)
            c = engine.k1 * (1.0 - engine.b)
            self._smw = np.where(
                (smtf > 0) & (c > 0), (smtf / (smtf + c)) * (1.0 + 1e-12), 1.0)
        else:
            self._smw = np.array([r["max_weight"] for r in shards], dtype=np.float64)
        self._sdf = np.array([r["df"] for r in shards], dtype=np.int64)
        # posting offset of each shard in the term's docID order
        self._sstart = np.concatenate([[0], np.cumsum(self._sdf)])
        self._snblocks = np.array([r["n_blocks"] for r in shards], dtype=np.int64)
        self.max_weight = float(self._smw.max()) if self._smw.size else 0.0
        self._meta: dict[int, PostingBlocks] = {}
        self._payload: dict[int, PostingBlocks] = {}
        # decode-once memo (docs, tfs) — see _memo
        self._dec: tuple[np.ndarray, np.ndarray] | None = None
        self.bytes_fetched = 0
        self.meta_shards_fetched = 0
        self.total_payload_bytes = int(sum(r["payload_bytes"] for r in shards))
        if not lazy:
            self._keep(shards, range(self.n_shards))

    @property
    def n_shards(self) -> int:
        return int(self._smin.size)

    @property
    def n_blocks(self) -> int:
        return int(self._snblocks.sum())

    # ---- level-2/3 fetches ----
    def _keep(self, rows: list, need) -> None:
        """Store the fetched rows of shards ``need``: block metadata always,
        payload when the row carries it."""
        by_key = {(int(r["salt"]), int(r["block_first_doc"][0])): r
                  for r in rows if r["block_first_doc"]}
        for s in need:
            key = (self._salts[s], int(self._smin[s]))
            if key not in by_key:
                raise RuntimeError(
                    f"postings fetch for term={self.term!r} found no row for "
                    f"shard (salt={key[0]}, first_doc={key[1]}) — the index under "
                    f"{self._engine.index_dir!r} changed between the summary scan and "
                    f"this shard fetch (rewritten/compacted?); rebuild the engine"
                )
            r = by_key[key]
            pb = self._blocks(r)
            if s not in self._meta:
                self._meta[s] = pb
                self.meta_shards_fetched += 1
            if "payload" in r:
                self._payload[s] = pb
                self.bytes_fetched += len(pb.payload)

    def _blocks(self, row: dict) -> PostingBlocks:
        """A fetched shard row as blocks, max_weight re-derived from max_tf
        when the engine's stored weights are stale (multi-segment,
        pre-compact)."""
        pb = _row_to_blocks(row)
        if self._engine._tf_bounds:
            pb.max_weight = self._engine._bound_arr(pb.max_tf, pb.n_blocks)
        return pb

    def _fetch(self, shard_idx, have: dict, cols: tuple) -> None:
        need = [int(s) for s in np.unique(shard_idx) if int(s) not in have]
        if need:
            rows = self._engine._postings_rows(
                cols, {"term": [self.term], "salt": [self._salts[s] for s in need]})
            self._keep(rows, need)

    def _ensure_meta(self, shard_idx) -> None:
        self._fetch(shard_idx, self._meta, self._engine._meta_cols)  # payload column pruned

    def _ensure_payload(self, shard_idx) -> None:
        self._fetch(shard_idx, self._payload, self._engine._row_cols)

    # ---- decoding ----
    def _memo(self) -> tuple[np.ndarray, np.ndarray] | None:
        """The whole-term decode (docs, tfs), or None for an on-demand term.

        A query touches the same list many times (boolean kernel, WAND
        seeding, exact rescoring) and the repeated decode_all was the
        measured kernel hotspot (~0.05 s per decode of a df≈500k list, up
        to 7 decodes per mixed query), so a prefetched term decodes once and
        keeps it: ≤ lazy_min_df × 16 B per term. ACROSS terms the owning
        engine bounds live memos with an LRU (``_note_decoded``) — only the
        compressed blocks stay cached for evicted terms, so a long-running
        serving process doesn't grow driver RSS with every distinct term.
        An on-demand term never keeps one: its decode would be O(df)."""
        if self._dec is None and not self.lazy:
            docs, tfs = zip(*(decode_all(self._payload[s]) for s in range(self.n_shards)))
            self._dec = (np.concatenate(docs), np.concatenate(tfs))
            self._engine._note_decoded(self)
        return self._dec

    def _block_docs(self, s: int, blocks: np.ndarray) -> np.ndarray:
        """docIDs of blocks ``blocks`` (ascending) of shard ``s``: slices of
        the memo when there is one, else decoded from the shard's payload
        (one whole-shard decode when every block is wanted)."""
        whole = blocks.size == self._snblocks[s]
        if self._dec is not None:
            docs, lo = self._dec[0], self._sstart[s]
            if whole:
                return docs[lo : self._sstart[s + 1]]
            bs = lo + np.concatenate([[0], np.cumsum(self._meta[s].counts)])
            return np.concatenate([docs[bs[b] : bs[b + 1]] for b in blocks])
        pb = self._payload[s]
        if whole:
            return decode_all(pb)[0]
        return np.concatenate([decode_block(pb, int(b))[0] for b in blocks])

    def _kept_docs(self, keep: dict[int, np.ndarray]) -> np.ndarray:
        """docIDs of the kept blocks, ``keep`` = {shard: block indices},
        both ascending — fetching only those shards' payload."""
        if not keep:
            return np.empty(0, np.int64)
        if self._dec is None:
            self._ensure_payload(np.fromiter(keep, np.int64))
        return np.concatenate([self._block_docs(s, b) for s, b in keep.items()])

    def _shards_docs(self, shards) -> np.ndarray:
        return self._kept_docs({int(s): np.arange(self._snblocks[s]) for s in shards})

    # ---- kernel interface ----
    def lookup_tfs(self, doc_ids: np.ndarray) -> np.ndarray:
        """tf for each (sorted) candidate docID, 0 when absent. Candidates
        route to the shards whose docID range can hold them; only those are
        fetched. Sparse probes decode only candidate-bearing blocks; a probe
        touching most of the term's blocks decodes the whole term once."""
        out = np.zeros(doc_ids.size, dtype=np.int64)
        if doc_ids.size == 0 or self.n_shards == 0:
            return out
        if self._dec is None:
            owner = np.searchsorted(self._smax, doc_ids, side="left")
            shards = np.unique(owner[owner < self.n_shards])
            self._ensure_payload(shards)
            touched = sum(
                np.unique(np.searchsorted(self._meta[s].max_doc, doc_ids[owner == s])).size
                for s in shards)
            if touched > max(32, self.n_blocks // 4):
                self._memo()
            if self._dec is None:
                for s in shards:
                    sel = owner == s
                    out[sel] = lookup_tfs(self._payload[int(s)], doc_ids[sel])
                return out
        docs, tfs = self._dec
        pos = np.searchsorted(docs, doc_ids)
        ok = pos < docs.size
        hit = np.zeros(doc_ids.size, dtype=bool)
        hit[ok] = docs[pos[ok]] == doc_ids[ok]
        out[hit] = tfs[pos[hit]]
        return out

    def all_docs(self) -> np.ndarray:
        """Every docID. An on-demand term fetches every shard — only
        reachable below the engine's hot_route_df budget; bigger unions are
        auto-routed to the distributed plan and never materialize here."""
        memo = self._memo()
        return memo[0] if memo is not None else self._shards_docs(range(self.n_shards))

    def first_docs(self, n: int) -> np.ndarray:
        """First ``n`` docIDs in ascending order, decoding only the leading
        shards that cover them (shards are docID-disjoint and sorted) —
        O(page), never O(df). The shard summaries' exact per-shard counts
        pick the covering prefix up front, so this is ONE payload fetch.
        Serves single-term docID-ordered pagination."""
        if n <= 0:
            return np.empty(0, np.int64)
        k = int(np.searchsorted(self._sstart[1:], n)) + 1  # shards 0..k-1 cover n docs
        return self._shards_docs(range(min(k, self.n_shards)))[:n]

    # ---- WAND seeding protocol (two-level: shard skip, then block skip) ----
    def seed_docs(self, bound_if_new: float, theta: float, idf_k: float) -> tuple[np.ndarray, int]:
        """Doc IDs of this term, decoding only blocks whose bound
        idf_k·block_max_weight + bound_if_new can reach θ for an unseen doc.
        A shard whose summary bound cannot is skipped without fetching it."""
        keep_shard = (idf_k * self._smw * F32_BOUND_SLACK + bound_if_new) >= theta
        skipped = int(self._snblocks[~keep_shard].sum())
        cand = np.flatnonzero(keep_shard)
        self._ensure_meta(cand)
        keep: dict[int, np.ndarray] = {}
        for s in cand:
            keep_blk = (idf_k * self._meta[int(s)].max_weight.astype(np.float64)
                        * F32_BOUND_SLACK + bound_if_new) >= theta
            skipped += int((~keep_blk).sum())
            if keep_blk.any():
                keep[int(s)] = np.flatnonzero(keep_blk)
        if sum(b.size for b in keep.values()) > self.n_blocks // 4:
            # mostly-kept: one vectorized decode (memoized) then slice beats
            # a python decode_block call per kept block by ~10×
            self._memo()
        return self._kept_docs(keep), skipped

    def bootstrap_docs(self, n_blocks: int) -> np.ndarray:
        """Docs from ~n_blocks highest-promise blocks: shards by max_weight
        desc until the block budget is covered, then the top blocks within
        those shards only — never touches the rest of the list."""
        if self.n_shards == 0:
            return np.empty(0, np.int64)
        order = np.argsort(-self._smw, kind="stable")
        take, acc = [], 0
        for s in order:
            take.append(int(s))
            acc += int(self._snblocks[s])
            if acc >= n_blocks:
                break
        self._ensure_meta(np.array(take))
        mws = np.concatenate([self._meta[s].max_weight for s in take])
        owner = np.concatenate([np.full(self._meta[s].n_blocks, s) for s in take])
        local = np.concatenate([np.arange(self._meta[s].n_blocks) for s in take])
        sel = np.argpartition(mws, -n_blocks)[-n_blocks:] if mws.size > n_blocks else np.arange(mws.size)
        return self._kept_docs({int(s): np.sort(local[sel][owner[sel] == s])
                                  for s in np.unique(owner[sel])})


class SearchEngine:
    # df budget above which union-shaped work auto-routes to the distributed
    # plan (_search_distributed / _bm25_distributed): the driver never holds
    # more than ~hot_route_df candidate docIDs. It also bounds the postings
    # _union_total may decode per term before it counts on the cluster.
    # Class attribute so subclasses that skip __init__ (MultiSegmentEngine)
    # inherit the posture.
    hot_route_df: int = 5_000_000
    # below this many total postings across a _decoded_for term list, the
    # pre-decode (term, shard) repartition is skipped — the work is too
    # small to straggle and the shuffle stage would be pure fixed latency
    decode_spread_min_postings: int = 65_536
    # terms with df above this are served on demand: shard summaries first,
    # metadata and payload per candidate-bearing shard — bounds driver
    # memory on hot terms. Smaller terms are prefetched whole.
    lazy_min_df: int = 1_000_000
    # terms allowed to hold a live decode memo at once (LRU; ≤16 MB each ⇒
    # ~1 GB decoded ceiling). Class attr so MultiSegmentEngine inherits.
    max_decoded_terms: int = 64
    # norms page by docID range with an LRU (NormsCache):
    # max_pages × page_docs × 4 B resident (1 GB default)
    norms_page_docs: int = 1 << 22
    norms_max_pages: int = 64
    # decoded docs row groups kept by the docs reader (LocalTable LRU, in
    # Table.nbytes), so a repeated or overlapping page decodes nothing
    docs_cache_bytes: int = 64 << 20
    last_route: str = "kernel"  # diagnostics: "kernel" | "distributed"
    # sorted deleted docIDs; MultiSegmentEngine sets its tombstones here
    _deleted: np.ndarray = np.empty(0, np.int64)
    # True ⇒ stored block-max WEIGHTS are stale (baked under a different
    # avgdl than the live one — multi-segment, pre-compact) and every
    # pruning bound must be derived from block max_tf instead, which is
    # avgdl-free: w = tf/(tf + k1(1-b+b·dl/avgdl)) ≤ max_tf/(max_tf + k1(1-b))
    _tf_bounds: bool = False

    def __init__(self, spark: SparkSession, index_dir: str, lazy_min_df: int | None = None,
                 hot_route_df: int | None = None):
        self.spark = spark
        self.index_dir = index_dir
        self._segment_dirs = [index_dir]
        self.stats = load_stats(index_dir)
        self._segment_stats = [self.stats]
        self.n_docs: int = self.stats["n_docs"]
        self.k1: float = self.stats["k1"]
        self.b: float = self.stats["b"]
        self.avgdl: float = self.stats["avgdl"] or 1.0
        self.max_query_terms: int = self.stats.get("max_query_terms", 50)
        self.max_results: int = self.stats.get("max_results", 50)
        if lazy_min_df is not None:
            self.lazy_min_df = lazy_min_df
        if hot_route_df is not None:
            self.hot_route_df = hot_route_df
        self._open_tables()

    def _open_tables(self) -> None:
        """Spark frames over the segments' tables, and empty driver state:
        term caches, norms and blooms load on first use. The frames take
        their schemas from the tables' footers (``LocalTable.frame``), so
        opening them runs no Spark job."""
        self._local: dict = {}  # (table, segment dirs) -> localread.LocalTable
        self._postings_df = self._local_table("postings").frame()
        self._term_stats_df = self._local_table("term_stats").frame()
        self._docs_df = self._local_table("docs").frame()
        # metadata column set + max_tf availability (pre-max_tf indexes
        # lack the column; everything falls back to stored weights)
        self._has_max_tf = "block_max_tf" in self._postings_df.columns
        self._meta_cols = self._META_COLS + (("block_max_tf",) if self._has_max_tf else ())
        self._row_cols = self._meta_cols + ("payload",)
        self._cache: dict[str, TermPostings | None] = {}
        # LRU of prefetched terms currently holding a live decode memo
        # (~16 B/posting of int64 docs+tfs). Eviction drops only the memo —
        # the compressed blocks stay in _cache — so the decoded footprint is bounded at
        # ~max_decoded_terms × 16 MB instead of growing with every distinct
        # term a long-lived serving process ever scores.
        self._dec_lru: "OrderedDict[str, TermPostings]" = OrderedDict()
        self._df_cache: dict[str, int | None] = {}
        self._dict_complete = False  # warm() may load the whole term dict
        self._doclens: NormsCache | None = None
        self._blooms: list | bool = False  # False = not loaded yet

    def _local_table(self, table: str, segments: list[str] | None = None) -> LocalTable:
        """The one opener of an index table: a driver-local reader of
        ``table`` over ``segments`` (default: every segment), which also
        gives its Spark frame. Its footers are read on first use. Only the
        docs reader caches decoded row groups (``docs_cache_bytes``)."""
        from .localread import LocalTable

        key = (table, tuple(self._segment_dirs if segments is None else segments))
        if key not in self._local:
            self._local[key] = LocalTable(
                [f"{s}/{table}" for s in key[1]], self.spark,
                cache_bytes=self.docs_cache_bytes if table == "docs" else 0)
        return self._local[key]

    def _postings_rows(self, cols: tuple, isin: dict) -> list[dict]:
        """``cols`` of the postings rows ``isin`` selects (LocalTable.take),
        read on the driver: the table is (term, salt)-sorted, so footer
        stats prune the read to the row groups that can hold them."""
        return self._local_table("postings").take(list(cols), isin).to_pylist()

    def warm(self, max_dict_terms: int = 2_000_000) -> "SearchEngine":
        """Pin the postings table in executor memory (Spark cache), open the
        norms (driver-local, no Spark job), and (when the dictionary fits)
        pull the whole term→df map to the driver so query routing never runs
        a term_stats job — the serving posture for repeated queries. At 10^12-doc scale one caches the hot
        term range, not the whole table; the filter pushdown path is
        identical either way."""
        self._postings_df = self._postings_df.cache()
        self._postings_df.count()
        _ = self.doclens
        rows = self._term_stats_df.select("term", "df").limit(max_dict_terms + 1).collect()
        if len(rows) <= max_dict_terms:
            dfs: dict[str, int] = {}
            for r in rows:  # multi-segment unions: one row per segment
                dfs[r["term"]] = dfs.get(r["term"], 0) + int(r["df"])
            self._df_cache.update(dfs)
            self._dict_complete = True
        return self

    def _note_decoded(self, tp: TermPostings) -> None:
        """Register a freshly-decoded term in the memo LRU; evict the
        oldest memos past ``max_decoded_terms`` (the compressed blocks
        remain cached — only the 16 B/posting decode is dropped)."""
        lru = self._dec_lru
        lru[tp.term] = tp
        lru.move_to_end(tp.term)
        while len(lru) > max(1, self.max_decoded_terms):
            _, old = lru.popitem(last=False)
            if old is not tp:
                old._dec = None

    # ---- doc-length norms cache (Lucene-norms analogue) ----
    @property
    def doclens(self) -> NormsCache:
        """int32 norms, indexable by a docID array. They page in by docID
        range with an LRU (NormsCache), read on the driver with no Spark
        job, so the kernel's driver footprint is O(hot ranges), not
        O(n_docs) — the 10^9+-doc serving posture."""
        if self._doclens is None:
            self._doclens = NormsCache(
                [f"{s}/doclens" for s in self._segment_dirs], self.n_docs,
                page_docs=self.norms_page_docs,
                max_pages=self.norms_max_pages, spark=self.spark)
        return self._doclens

    # ---- absent-term bloom sidecar (driver-local, no job per novel term) ----
    def _bloom_absent(self, term: str) -> bool:
        """True ⇒ the term is definitely not indexed (no false negatives).
        Sidecar rows load per range on first probe, driver-local (zero
        Spark jobs), into a bounded LRU; indexes built before the sidecar
        existed fall back to the term_stats scan."""
        if self._blooms is False:
            from .bloom import load_term_bloom

            self._blooms = [b for d in self._segment_dirs
                            if (b := load_term_bloom(self.spark, d)) is not None]
            if len(self._blooms) < len(self._segment_dirs):
                self._blooms = []  # any sidecar-less segment ⇒ can't conclude absence
        if not self._blooms:
            return False
        return all(b.definitely_absent(term) for b in self._blooms)

    # ---- term existence + df from the (tiny) term_stats table ----
    def _term_dfs(self, terms: list[str]) -> dict[str, int | None]:
        missing = [t for t in set(terms) if t not in self._df_cache]
        if missing and self._dict_complete:
            for t in missing:
                self._df_cache[t] = None  # complete dict ⇒ absent term
            missing = []
        if missing:
            # bloom short-circuit: definitely-absent terms never cost a job
            still = []
            for t in missing:
                if self._bloom_absent(t):
                    self._df_cache[t] = None
                else:
                    still.append(t)
            missing = still
        if missing:
            rows = (
                self._term_stats_df.filter(F.col("term").isin(missing))
                .select("term", "df").collect()
            )
            found: dict[str, int] = {}
            for r in rows:  # multi-segment unions yield one row per segment
                found[r["term"]] = found.get(r["term"], 0) + int(r["df"])
            for t in missing:
                self._df_cache[t] = found.get(t)
        return {t: self._df_cache[t] for t in terms}

    _META_COLS = (
        "term", "salt", "df", "block_first_doc", "block_max_doc",
        "block_count", "block_offset", "block_max_weight", "block_kind",
    )

    def _bound_arr(self, max_tf, n_blocks: int) -> np.ndarray:
        """Per-block tf-weight upper bound valid under ANY avgdl:
        w = tf/(tf + k1(1-b+b·dl/avgdl)) ≤ max_tf/(max_tf + k1(1-b)).
        float64 with a hair of headroom so rounding can never understate;
        missing max_tf ⇒ 1.0 (w < 1 always — valid, just unprunable)."""
        if max_tf is None:
            return np.ones(n_blocks, dtype=np.float64)
        t = np.asarray(max_tf, dtype=np.float64)
        c = self.k1 * (1.0 - self.b)
        if c <= 0:
            return np.ones(t.size, dtype=np.float64)
        return (t / (t + c)) * (1.0 + 1e-12)

    # ---- batched postings fetch: one scan serves all terms ----
    def fetch_terms(self, terms: list[str]) -> dict[str, TermPostings | None]:
        missing = [t for t in set(terms) if t not in self._cache]
        if missing:
            # routing first: term_stats (narrow, range-sorted, pushdown) says
            # which terms exist and how hot they are. Small terms get ONE
            # driver-local read serving the whole query (reference Q6) and
            # are prefetched whole; hot terms get a shard-summary scan and
            # fetch metadata and payload on demand per candidate-bearing
            # shard. Both end in the one TermPostings.
            dfs = self._term_dfs(missing)
            small = [t for t in missing if dfs[t] is not None and dfs[t] <= self.lazy_min_df]
            hot = [t for t in missing if dfs[t] is not None and dfs[t] > self.lazy_min_df]
            by_term: dict[str, list] = {}
            if small:
                for r in self._postings_rows(self._row_cols, {"term": small}):
                    by_term.setdefault(r["term"], []).append(_row_summary(r))
            if hot:
                # level-1 summary scan: ONE aggregated row per (term, salt)
                # shard — block metadata stays executor-side until a shard
                # is an actual candidate (two-level lookup, reference
                # src/build/chunks/mod.rs:24-26)
                summ_cols = [
                    "term", "salt", "df",
                    F.element_at("block_first_doc", 1).alias("min_doc"),
                    F.element_at("block_max_doc", -1).alias("max_doc"),
                    F.array_max("block_max_weight").alias("max_weight"),
                    F.element_at("block_offset", -1).alias("payload_bytes"),
                    F.size("block_count").alias("n_blocks"),
                ]
                if self._has_max_tf:
                    summ_cols.append(F.array_max("block_max_tf").alias("max_tf"))
                for r in self._postings_df.filter(F.col("term").isin(hot)).select(*summ_cols).collect():
                    by_term.setdefault(r["term"], []).append(r.asDict())
            for t in missing:
                shards = by_term.get(t)
                self._cache[t] = TermPostings(self, t, shards, lazy=t in hot) if shards else None
        return {t: self._cache[t] for t in terms}

    def idf(self, df: int) -> float:
        return float(idf_value(self.n_docs, df, self.stats.get("idf", "lucene")))

    # ---- query-term fetch + routing ----
    def _fetch_query_terms(self, q: Query) -> dict:
        n_terms = len(q.require) + len(q.contain) + len(q.exclude)
        if n_terms > self.max_query_terms:
            raise QueryTooLarge(n_terms)
        return self.fetch_terms(list(q.require) + list(q.contain) + list(q.exclude))

    def _route_distributed(self, q: Query, tp: dict, for_wand: bool = False) -> bool:
        """True ⇒ this query's driver-kernel work is union-shaped beyond the
        hot_route_df budget and must run as a Spark plan instead (same
        results). Rules (VERDICT r2 'what's wrong #1'):

          * require present: the kernel seeds from the smallest require list
            and probes the rest — bounded unless even the SMALLEST require
            df blows the budget (all-hot-require);
          * contain-only, boolean/exhaustive: the union itself is the result
            set, so ANY contain term above budget routes;
          * contain-only, WAND: seeding is θ/block-bounded, so only the
            all-hot case (min df above budget — no rare term to anchor θ
            cheaply) routes;
          * exclude-only: the quirk materializes the excluded union — any
            hot exclude term routes."""
        budget = self.hot_route_df
        contain = [t for t in q.contain if tp[t] is not None]
        exclude = [t for t in q.exclude if tp[t] is not None]
        if q.require:
            return min(tp[t].df for t in q.require) > budget
        if contain:
            dfs = [tp[t].df for t in contain]
            # WAND's min-df shortcut only applies when it truly runs
            # candidate-free (no exclude clause — even an all-missing one
            # makes the kernel materialize the union as a candidate set)
            return (min(dfs) if for_wand and not q.exclude else max(dfs)) > budget
        if exclude:
            return max(tp[t].df for t in exclude) > budget
        return False

    # ---- boolean result set (reference semantics incl. quirks) ----
    def _bool_kernel(self, q: Query, tp: dict) -> np.ndarray | None:
        """Sorted docID array, or None ⇒ default-results path. Callers
        answer a missing REQUIRE term (empty) before calling this."""
        contain = [t for t in q.contain if tp[t] is not None]
        exclude = [t for t in q.exclude if tp[t] is not None]
        if not q.require and not contain and not exclude:
            return None
        result: np.ndarray | None = None
        if q.require:
            # smallest-df-first: seed with the rarest list, then block-skip
            # intersect (the reference AND-folds in input order — result set
            # is identical, order of folding is a pure optimization, SURVEY §4).
            # Hot terms past the seed are PROBED, never decoded whole — with a
            # seed-mate served on demand only candidate-bearing shards are fetched.
            req = sorted((tp[t] for t in q.require), key=lambda p: p.df)
            result = req[0].all_docs()
            for p in req[1:]:
                if result.size == 0:
                    break
                result = result[p.lookup_tfs(result) > 0]
        if contain:
            if result is None:
                result = np.unique(np.concatenate([tp[t].all_docs() for t in contain]))
            else:
                # probe instead of union-decode: docs already out stay out
                mask = np.zeros(result.size, dtype=bool)
                for t in contain:
                    rem = ~mask
                    if not rem.any():
                        break
                    mask[rem] = tp[t].lookup_tfs(result[rem]) > 0
                result = result[mask]
        if exclude:
            if result is None:
                # exclude-only quirk: union BECOMES the result (wasm/index.c:100-104)
                result = np.unique(np.concatenate([tp[t].all_docs() for t in exclude]))
            else:
                mask = np.zeros(result.size, dtype=bool)
                for t in exclude:
                    rem = ~mask
                    if not rem.any():
                        break
                    mask[rem] = tp[t].lookup_tfs(result[rem]) > 0
                result = result[~mask]
        assert result is not None
        return result

    def _default_results(self, q: Query) -> SearchResult:
        after = q.continuation + q.k
        docs = [i for i in range(q.continuation, after) if 0 <= i < self.n_docs]
        cont = after if self.n_docs > after else None
        return SearchResult(self.n_docs, cont, docs, [0.0] * len(docs))

    @staticmethod
    def _paginate(ordered: np.ndarray, c: int, k: int) -> tuple[np.ndarray, int | None]:
        total = ordered.size
        if c >= total:
            return np.empty(0, np.int64), None
        last = min(total - 1, c + k - 1)
        return ordered[c : last + 1], (None if last == total - 1 else last + 1)

    def search(self, q: Query) -> SearchResult:
        """Boolean mode — bit-for-bit reference semantics. Union-shaped
        queries over terms hotter than hot_route_df run as a distributed
        plan (identical results; the driver holds only the page)."""
        tp = self._fetch_query_terms(q)
        if any(tp[t] is None for t in q.require):
            return SearchResult(0, None, [])
        if self._route_distributed(q, tp):
            self.last_route = "distributed"
            return self._search_distributed(q, tp)
        self.last_route = "kernel"
        docs = self._bool_kernel(q, tp)
        if docs is None:
            return self._default_results(q)
        page, cont = self._paginate(docs, q.continuation, q.k)
        return SearchResult(int(docs.size), cont, page.tolist())

    def search_df(self, q: Query) -> DataFrame:
        """The boolean result SET as a DataFrame of ``doc_id`` — the fully
        distributed surface for downstream joins (phrase/regex verify,
        batch analytics): no pagination, no ordering, and no driver
        materialization at any candidate cardinality. Membership is
        identical to paging search() to exhaustion (same reference rules:
        missing REQUIRE → empty, missing contain/exclude dropped,
        exclude-only quirk, no clauses → every live doc)."""
        tp = self._fetch_query_terms(q)
        if any(tp[t] is None for t in q.require):
            return self.spark.range(0).select(F.col("id").alias("doc_id"))
        contain = [t for t in q.contain if tp[t] is not None]
        exclude = [t for t in q.exclude if tp[t] is not None]
        if not q.require and not contain and not exclude:
            return self._all_docs_df()
        return self._matched_docs_df(q, tp, scored=False).select("doc_id")

    def _all_docs_df(self) -> DataFrame:
        """Every live docID — the default-results set, distributed."""
        return self.spark.range(self.n_docs).select(F.col("id").cast("long").alias("doc_id"))

    def facets_df(self, q: Query, cols: list[str]) -> DataFrame:
        """Hit counts grouped by docs-store metadata columns — the
        aggregations-alongside-search surface (Elasticsearch terms-agg
        shape). One distributed plan: the boolean result SET (search_df,
        never on the driver) joins the docs store pruned to ``cols`` and
        aggregates; facet cardinality bounds the result size, not the hit
        count — safe at any selectivity."""
        hits = self.search_df(q)
        store = self._docs_df.select("doc_id", *cols)
        return (store.join(hits, "doc_id")
                .groupBy(*cols).agg(F.count(F.lit(1)).alias("n_docs")))

    def suggest_terms(self, term: str, max_distance: int = 1, k: int = 5) -> DataFrame:
        """Did-you-mean: dictionary terms within ``max_distance`` edits,
        best-first by (distance, df desc, term). The scan is pruned by a
        pushed length window before any edit-distance evaluates — over a
        10^9-term dictionary the levenshtein runs on the tiny length band,
        not the dictionary. (term, dist, df) rows; multi-segment dfs sum."""
        t = term.lower()
        n = len(t)
        return (
            self._term_stats_df
            .filter(F.length("term").between(n - max_distance, n + max_distance))
            .withColumn("dist", F.levenshtein(F.col("term"), F.lit(t)))
            .filter(F.col("dist") <= max_distance)
            .groupBy("term", "dist").agg(F.sum("df").alias("df"))
            .orderBy("dist", F.col("df").desc(), "term")
            .limit(k)
        )

    def _score_docs(self, scoring: list, cands: np.ndarray) -> np.ndarray:
        """Exact BM25 over given docs, summing terms in caller order — the
        single scoring code path, so kernel / WAND / distributed-rescore
        results are bit-identical."""
        scores = np.zeros(cands.size, dtype=np.float64)
        dl = self.doclens[cands]
        knorm = self.k1 * (1 - self.b + self.b * dl / self.avgdl)
        for p in scoring:
            tf = p.lookup_tfs(cands)
            mask = tf > 0
            if mask.any():
                w = tf[mask] / (tf[mask] + knorm[mask])
                scores[mask] += self.idf(p.df) * (self.k1 + 1) * w
        return scores

    def search_bm25(self, q: Query) -> SearchResult:
        """BM25 top-k over the boolean candidate set; order (score desc,
        doc_id asc). Uses MaxScore term bounds: terms whose upper bound
        cannot alter the current page are still scored here for exactness —
        bound-based early exit lives in wand.py (same results, fewer
        decodes). Union-shaped hot queries route to the distributed plan."""
        tp_all = self._fetch_query_terms(q)
        if any(tp_all[t] is None for t in q.require):
            return SearchResult(0, None, [], [])
        if self._route_distributed(q, tp_all):
            self.last_route = "distributed"
            return self._bm25_distributed(q, tp_all, q.continuation + q.k)
        self.last_route = "kernel"
        cands = self._bool_kernel(q, tp_all)
        if cands is None:
            return self._default_results(q)
        if cands.size == 0:
            return SearchResult(0, None, [], [])
        tp = self.fetch_terms(list(dict.fromkeys(q.require + q.contain)))
        scoring = [p for p in tp.values() if p is not None]
        scores = self._score_docs(scoring, cands)
        order = np.lexsort((cands, -scores))
        ranked_docs = cands[order]
        ranked_scores = scores[order]
        page, cont = self._paginate(ranked_docs, q.continuation, q.k)
        lo = q.continuation
        return SearchResult(int(cands.size), cont, page.tolist(),
                            ranked_scores[lo : lo + page.size].tolist())

    # ---- distributed twin: hot union-shaped queries as ONE Spark plan ----
    def _decoded_for(self, terms: "list[str] | Column",
                     postings_df: DataFrame | None = None) -> DataFrame:
        """(term, doc_id, tf) rows for the given terms, decoded executor-side
        by ``sources.postings.decode_postings`` (one Arrow decode per batch;
        scan pruned by the term filter). Uses self._postings_df so it is
        multi-segment-correct; pass postings_df to decode a sidecar table in
        the same schema (e.g. the hot-bigram common-grams sidecar).
        ``terms`` may be a Column predicate over ``term`` instead of a list —
        e.g. startswith for prefix queries, where the parquet scan prunes by
        the pushed StringStartsWith on the range-sorted term column.

        The compressed shard rows are REPARTITIONED by (term, shard) before
        decode: the build salts hot terms across 2^salt_shift shard rows
        precisely so this work spreads, but the range-sorted layout packs a
        term's shards into ONE row group, so Spark's file-packing hands them
        all to a single scan task — decode, the doclens join, and the
        partial aggregation of a df≈N term then run serially (a measured
        ~2 s straggler at 500k docs, the r6 hot-route regression). The
        shuffle moves only the pruned COMPRESSED payload (~1.6 bits/posting
        × query terms), strictly smaller than the decoded shuffle the
        downstream groupBy pays anyway.

        The spread is GATED on term hotness (ADVICE r6): when every
        requested term's df is already known (the _df_cache fetch_terms
        populates on the query path) and the total postings volume is below
        decode_spread_min_postings, the straggler it fixes cannot exist —
        one task decodes everything in milliseconds — so cold lookups skip
        the extra shuffle stage rather than pay it as fixed latency.
        Unknown dfs (sidecar tables, Column predicates like prefix
        StartsWith) keep the spread: it is the safe default."""
        from .sources.postings import decode_postings

        pred = terms if isinstance(terms, Column) else F.col("term").isin(terms)
        pt = (postings_df if postings_df is not None else self._postings_df).filter(pred)
        spread = True
        if (postings_df is None and not isinstance(terms, Column)
                and all(t in self._df_cache for t in terms)):
            total = sum(self._df_cache[t] or 0 for t in terms)
            spread = total > self.decode_spread_min_postings
        if spread:
            pt = pt.repartition(F.col("term"), F.col("block_first_doc"))
        return decode_postings(pt)

    def _doclens_df(self) -> DataFrame:
        # project away the per-doc overlong flag (regex-only metadata) so
        # scoring joins never carry it through a shuffle
        return self._local_table("doclens").frame().select("doc_id", "dl")

    def _overlong_docs_df(self) -> DataFrame | None:
        """docIDs whose content holds a dropped (>MAX_TERM_BYTES)
        alphanumeric run — the only docs where a regex literal can hide
        outside the term dictionary. None when any segment predates the
        per-doc flag (0.3.1; the frame keeps only the columns every segment
        has) — callers must then treat pruning as unsound."""
        df = self._local_table("doclens").frame()
        if "ol" not in df.columns:
            return None
        return df.filter(F.col("ol") == 1).select("doc_id")

    def bigram_postings_df(self) -> DataFrame | None:
        """The hot-bigram common-grams sidecar (build stage 7), or None when
        the index was built without one. Presence comes from stats.json, not
        a filesystem probe (remote index dirs, ADVICE r4 bloom lesson)."""
        if self.stats.get("bigram_min_df") is None:
            return None
        return self._local_table("bigram_postings").frame()

    def bigram_pair_plan(self, pairs: list[str]):
        """Serving plan for adjacent-pair keys ("t1 t2") off the common-grams
        sidecar: ``(exact_df, maybe_df)`` where ``exact_df`` holds
        (term, doc_id) rows that ARE pair adjacency (verify-free) and
        ``maybe_df`` (or None) holds sound-superset rows — docs holding both
        terms — for corpus regions whose sidecar does not cover the pair,
        which the caller must verify. ``None`` when no sidecar exists at
        all. A single-shot index covers every hot pair by construction, so
        the plan is all-exact; MultiSegmentEngine overrides this with the
        per-segment route (each segment serves its own sidecar where the
        pair qualifies LOCALLY, AND-candidates otherwise)."""
        bg = self.bigram_postings_df()
        if bg is None:
            self.last_bigram_plan = None
            return None
        exact = self._decoded_for(pairs, postings_df=bg).select("term", "doc_id")
        self.last_bigram_plan = {"pairs": len(pairs),
                                 "covered_segments": {p: 1 for p in pairs},
                                 "fallback_segments": {p: 0 for p in pairs}}
        return self._live_filter_df(exact), None

    def oltrigrams_df(self) -> DataFrame | None:
        """The overlong-run trigram sidecar (build stage 8), or None when
        the index predates it. Postings over the lowercased trigrams of
        DROPPED (>MAX_TERM_BYTES) alphanumeric runs — the literal evidence
        that lets index_regex_search intersect the overlong-flagged set
        instead of unioning it wholesale. Presence from stats.json, not a
        fs probe (remote index dirs, ADVICE r4 bloom lesson).

        Trigram rows are keyed by global docIDs and the trigram alphabet is
        corpus-independent, so segment sidecars union soundly; served only
        when EVERY segment carries one. A clean segment (rows=0) wrote no
        table, and its docs need no trigram evidence, so the union over the
        flagged segments is complete."""
        if not all(st.get("overlong_trigrams") for st in self._segment_stats):
            return None
        segs = [s for s, st in zip(self._segment_dirs, self._segment_stats)
                if st.get("overlong_trigram_rows")]
        return self._local_table("overlong_trigrams", segs).frame() if segs else None

    def positions_df(self) -> DataFrame | None:
        """The positional sidecar (build stage 6), or None unless every
        segment was built with one. Presence from stats.json, not a fs
        probe. Positions are keyed by global docIDs, so segment sidecars
        union soundly; partial coverage is served by positions_plan, which
        adds a per-segment fallback branch (an uncovered segment would
        silently drop its matches for a consumer reading this raw)."""
        if not all(st.get("positions") for st in self._segment_stats):
            return None
        return self._local_table("positions").frame()

    def positions_plan(self):
        """Per-segment positional serving plan: ``(pos_df, uncov_postings)``
        where ``pos_df`` (or None when no sidecar exists anywhere) is the
        positional sidecar covering part of the corpus and
        ``uncov_postings`` (or None when coverage is total) is the plain
        postings table of the UNCOVERED part, for the caller's AND+verify
        fallback. A single-shot index is all-or-nothing by construction so
        the fallback side is always None here; MultiSegmentEngine overrides
        with the covered/uncovered split (mirroring bigram_pair_plan — one
        positions-less segment must not disable the sidecar for the whole
        index). Sets ``last_positions_plan`` for observability."""
        pos = self.positions_df()
        self.last_positions_plan = (None if pos is None else
                                    {"covered_segments": 1, "fallback_segments": 0})
        return pos, None

    def _decoded_positions_for(self, terms: list[str],
                               positions_df: DataFrame | None = None) -> DataFrame | None:
        """(term, doc_id, positions array<long>) rows for the given terms,
        decoded executor-side off the positional sidecar by
        ``sources.postings.decode_positions`` (scan pruned by the term
        filter — the same pruned-fetch shape as _decoded_for). None
        when the index carries no sidecar. Pass ``positions_df`` to decode
        an explicit sidecar table (the covered-segment union from
        positions_plan) instead of the engine-wide one."""
        from .sources.postings import decode_positions

        pt = positions_df if positions_df is not None else self.positions_df()
        if pt is None:
            return None
        # spread a hot term's salt shards across decode tasks (the range-
        # sorted layout packs them into one row group → one scan task; see
        # _decoded_for) — the shuffle moves only compressed position blobs
        pruned = pt.filter(F.col("term").isin(terms)).repartition(F.col("term"), F.col("salt"))
        return decode_positions(pruned)

    def _live_filter_df(self, df: DataFrame) -> DataFrame:
        """Visibility-filter a (doc_id, …) DataFrame against tombstones.
        Identity on a plain engine; MultiSegmentEngine anti-joins deletes —
        positional/sidecar plans call this so their results honor
        Lucene-live-docs semantics like every other result surface."""
        return df

    def _matched_docs_df(self, q: Query, tp: dict, scored: bool) -> DataFrame:
        """(doc_id, score) rows satisfying the boolean clauses — the
        distributed twin of _bool_kernel (+ BM25 partials when scored).
        Missing require terms are the caller's short-circuit; missing
        contain/exclude terms are dropped here (reference rule); the
        exclude-only quirk (union becomes the result) is the final branch.

        Scores are BIT-IDENTICAL to _score_docs (VERDICT r6 #5 — this is
        what lets _bm25_distributed skip the driver rescore): the shared
        caller-order fold (plans/fold.py) replays the kernel's float64
        operation order, with the per-term constant c = idf·(k1+1)
        computed driver-side in Python exactly as the kernel does.
        ``tmeta``, the per-term literal table, is a local relation
        (``local_frame``): the plan holds no Python-RDD scan."""
        require = list(dict.fromkeys(q.require))
        contain = [t for t in dict.fromkeys(q.contain) if tp[t] is not None]
        exclude = [t for t in dict.fromkeys(q.exclude) if tp[t] is not None]
        terms = list(dict.fromkeys(require + contain + exclude))
        # caller scoring order: first occurrence in require+contain — the
        # order _score_docs sums in (fetch_terms preserves input order)
        score_order = {t: i for i, t in enumerate(dict.fromkeys(list(q.require) + list(q.contain)))}
        rset, cset, eset = set(require), set(contain), set(exclude)
        c = {t: float(self.idf(tp[t].df)) * (self.k1 + 1) for t in terms}
        tmeta = local_frame(
            self.spark,
            [(t, c[t], score_order.get(t, -1), t in rset, t in cset, t in eset)
             for t in terms],
            "term string, c double, ord int, is_r boolean, is_c boolean, is_e boolean",
        )
        hits = self._decoded_for(terms).join(F.broadcast(tmeta), "term")

        def keep(per_doc: DataFrame) -> DataFrame:
            if require or contain:
                cond = (F.col("req_hit") == len(require)) & (F.col("exc_hit") == 0)
                if contain:
                    cond = cond & (F.col("con_hit") == 1)
                return per_doc.filter(cond)
            # exclude-only quirk: the excluded union IS the result (wasm/index.c:100-104)
            return per_doc.filter(F.col("exc_hit") == 1)

        # a missing contain term has no rows and no contribution
        c_of_ord = {score_order[t]: c[t] for t in terms if t in score_order}
        knorm = F.lit(self.k1) * (
            F.lit(1 - self.b) + (F.lit(self.b) * F.col("dl")) / F.lit(float(self.avgdl))
        )
        matched = bm25_fold(
            hits, ["doc_id"], keep,
            ords=range(len(score_order)) if scored else None,
            c_of=lambda i: F.lit(c_of_ord[i]) if i in c_of_ord else None,
            # an unscored fold needs no norms
            dl=self._doclens_df() if scored else None, knorm=knorm)
        if not scored:
            return matched.select("doc_id", F.lit(0.0).alias("score"))
        return matched.select("doc_id", "score")

    def _single_union_term(self, q: Query, tp: dict):
        """The postings object when the boolean result set is exactly ONE
        term's posting list (contain-only with one existing contain term
        and no existing exclude, or the exclude-only quirk with one existing
        exclude term) — the most common hot-query shape. Else None."""
        if q.require:
            return None
        contain = [t for t in q.contain if tp[t] is not None]
        exclude = [t for t in q.exclude if tp[t] is not None]
        if contain:
            return tp[contain[0]] if len(contain) == 1 and not exclude else None
        if exclude:
            return tp[exclude[0]] if len(exclude) == 1 else None
        return None

    @staticmethod
    def _fused_topk_count(df: DataFrame, limit: int, by_score: bool):
        """ONE Spark action returning (top-``limit`` (doc_id, score) rows
        under the given order, exact row count) for a (doc_id, score) frame
        (only doc_id is read when not ``by_score``).

        The distributed route's latency floor was Spark job SCHEDULING, not
        work: count + TakeOrdered ran as two actions (VERDICT r5 #4). The
        count is an Observation over the frame the TakeOrdered consumes
        (CollectMetrics below TakeOrderedAndProject), so both ride one
        action. TakeOrdered keeps ≤ ``limit`` rows per partition, so what
        reaches the driver is bounded REGARDLESS of the matched-set size.
        Ties break as score desc, doc_id asc (scored) / doc_id asc.

        TakeOrdered reads only ``limit`` rows per partition when its input
        already has the requested order (a range scan, a sort-merge join on
        doc_id), which would stop the count early. doc_id is never null, so
        ordering it NULLS LAST changes no result but is an order no scan,
        join or aggregate produces: every row is read."""
        obs = Observation()
        doc = F.col("doc_id").asc_nulls_last()
        order = (F.col("score").desc(), doc) if by_score else (doc,)
        rows = (df.observe(obs, F.count(F.lit(1)).alias("n"))
                .orderBy(*order).limit(limit).collect())
        return rows, obs.get["n"]

    def _search_distributed(self, q: Query, tp: dict) -> SearchResult:
        """Boolean page + exact total without driver materialization: ONE
        Spark action (TakeOrdered + an observed count — see
        _fused_topk_count) hands the driver the first continuation+k
        docIDs and the exact total.

        Single-term unions skip the cluster entirely: total = df (exact,
        from shard summaries) and the docID-ordered page decodes only the
        leading shards — O(page) driver work, zero Spark jobs."""
        single = self._single_union_term(q, tp)
        if single is not None:
            total = int(single.df)
            if q.continuation >= total:
                return SearchResult(total, None, [])
            k_eff = q.continuation + q.k
            page = single.first_docs(k_eff)[q.continuation :]
            last = q.continuation + page.size - 1
            return SearchResult(total, None if last == total - 1 else last + 1, page.tolist())
        matched = self._matched_docs_df(q, tp, scored=False)
        k_eff = q.continuation + q.k
        tops, total = self._fused_topk_count(matched, k_eff, by_score=False)
        if q.continuation >= total:
            return SearchResult(total, None, [])
        page = [int(r["doc_id"]) for r in tops][q.continuation :]
        last = q.continuation + len(page) - 1
        return SearchResult(total, None if last == total - 1 else last + 1, page)

    def _bm25_distributed(
        self, q: Query, tp: dict, k_eff: int, exact_total: bool = True
    ) -> SearchResult:
        """Distributed BM25 page as ONE fused cluster action: the matched
        plan's scores are already BIT-IDENTICAL to the kernel's
        (_matched_docs_df replicates _score_docs' float64 operation order
        and folds partials in caller term order — see its docstring), so
        the TakeOrdered page + observed count of _fused_topk_count IS the
        final page. No driver rescore, no verification margin, no retry
        loop, and no lazy candidate-shard fetches (VERDICT r6 #5 — the
        rescore stage was the route's remaining per-query job floor; its
        margin machinery existed only because F.sum's partition-dependent
        add order made cluster scores inexact by up to float noise)."""
        single = self._single_union_term(q, tp)
        matched = self._matched_docs_df(q, tp, scored=True)
        tops, n = self._fused_topk_count(matched, k_eff, by_score=True)
        if single is not None:
            total = int(single.df)  # exact from shard summaries
        else:
            total = n if exact_total else -1
        if total >= 0 and q.continuation >= total:
            return SearchResult(total, None, [], [])
        page = tops[q.continuation : k_eff]
        if not page:
            return SearchResult(max(total, 0), None, [], [])
        docs = [int(r["doc_id"]) for r in page]
        scores = [float(r["score"]) for r in page]
        last = q.continuation + len(docs) - 1
        cont = None if (total >= 0 and last == total - 1) or len(docs) < q.k else last + 1
        return SearchResult(total, cont, docs, scores)

    def _live_docs_filter(self):
        """Hook: fn(docs)->docs dropping non-visible docs, or None when all
        docs are live. The base engine has no deletes; MultiSegmentEngine
        returns its tombstone mask so the pruned WAND kernel keeps
        block-skipping on a live index (VERDICT r4 #1)."""
        return None

    def _union_total(self, present: list) -> int:
        """Exact |∪ postings ∩ live docs|, one salt at a time — the
        analogue of Roaring ORing containers under one high-16-bit key
        (SURVEY §1.1): a salt is a docID range of 2^salt_shift docs, so the
        shards of different terms line up by salt.

          * a salt whose shards all belong to one term, with no deleted
            docID in their [min_doc, max_doc], adds their summary df — no
            fetch, no decode (a lone term is Σ df);
          * past hot_route_df postings to decode from any one term, the
            count runs as one distributed distinct count;
          * else every other salt decodes its shards (``_shards_docs``),
            adds its distinct live docIDs and drops them: the driver holds
            one salt's docIDs at a time."""
        dead = self._deleted
        by_salt: dict[int, dict] = {}  # salt -> {term: its shards in that salt}
        hit = {}  # term -> per shard: a deleted docID lies in [min_doc, max_doc]
        for p in present:
            hit[p] = np.searchsorted(dead, p._smin) < np.searchsorted(dead, p._smax, side="right")
            for s, salt in enumerate(p._salts):
                by_salt.setdefault(salt, {}).setdefault(p, []).append(s)
        total, pending, need = 0, [], {}
        for owners in by_salt.values():
            if len(owners) == 1:
                ((p, sh),) = owners.items()
                if not hit[p][sh].any():
                    total += int(p._sdf[sh].sum())
                    continue
            pending.append(owners)
            for p, sh in owners.items():
                need.setdefault(p, []).extend(sh)
        if any(int(p._sdf[sh].sum()) > self.hot_route_df for p, sh in need.items()):
            return int(self._live_filter_df(
                self._decoded_for([p.term for p in present]).select("doc_id").distinct()
            ).count())
        for p, sh in need.items():
            p._ensure_payload(sh)  # one fetch per on-demand term
        for owners in pending:
            docs = np.unique(np.concatenate([p._shards_docs(sh) for p, sh in owners.items()]))
            total += docs.size - int(np.isin(docs, dead, assume_unique=True).sum())
        return total

    def search_bm25_wand(self, q: Query, exact_total: bool = True) -> SearchResult:
        """BM25 top-k via the block-max WAND/MaxScore kernel (wand.py) —
        rank-identical to search_bm25, pruned.

        Mixed-mode queries (require/exclude present) run WAND over the
        scoring terms (dedup of require+contain, like the reference-shaped
        scorer) with a candidate filter from the boolean kernel: every
        candidate appears in every require term, so the WAND unseen-doc
        invariant still holds and pruning can only skip docs that provably
        cannot enter the page. total is exactly |candidates| — free.

        Contain-only queries seed purely from block maxima; exact_total=True
        counts the union one salt at a time (_union_total): a salt held by
        one term adds its shard summaries' df, only salts shared by terms
        (or holding a deleted doc) decode. exact_total=False skips it
        (total = -1) — the latency-optimal mode when callers only need the
        page."""
        if not q.contain and not q.require:
            return self.search_bm25(q)  # default page / exclude-only quirk path
        from .wand import wand_topk

        tp_all = self._fetch_query_terms(q)
        if any(tp_all[t] is None for t in q.require):
            return SearchResult(0, None, [], [])
        k_eff = q.continuation + q.k
        if self._route_distributed(q, tp_all, for_wand=True):
            self.last_route = "distributed"
            return self._bm25_distributed(q, tp_all, k_eff, exact_total=exact_total)
        self.last_route = "kernel"
        candidate_filter = None
        if q.require or q.exclude:
            cands = self._bool_kernel(q, tp_all)
            if cands is None:
                return self._default_results(q)
            if cands.size == 0:
                return SearchResult(0, None, [], [])
            total = int(cands.size)

            def candidate_filter(docs: np.ndarray, _c=cands) -> np.ndarray:
                pos = np.searchsorted(_c, docs)
                ok = pos < _c.size
                ok[ok] = _c[pos[ok]] == docs[ok]
                return docs[ok]

            tp = self.fetch_terms(list(dict.fromkeys(q.require + q.contain)))
            present = [p for p in tp.values() if p is not None]
            if not present:
                # no scoring term exists (e.g. all contain terms missing on an
                # exclude-quirk candidate set): every candidate scores 0 and
                # pages by docID — the exhaustive path, nothing to prune
                return self.search_bm25(q)
        else:
            tp = self.fetch_terms(list(q.contain))
            present = [p for p in tp.values() if p is not None]
            if not present:
                return self._default_results(q)
            # live-docs hooks (MultiSegmentEngine tombstones): the filter
            # drops deleted docs BEFORE they are scored or can set θ
            # (wand.absorb applies it ahead of the θ update), so block
            # skipping stays rank-safe — deletes only shrink the candidate
            # pool, never raise any bound
            candidate_filter = self._live_docs_filter()
            total = self._union_total(present) if exact_total else -1
        res = wand_topk(
            [(self.idf(p.df), p) for p in present],
            k_eff,
            self.doclens,
            self.k1,
            self.b,
            self.avgdl,
            candidate_filter=candidate_filter,
        )
        if q.continuation >= res.doc_ids.size:
            return SearchResult(total, None, [], [])
        page = res.doc_ids[q.continuation : k_eff]
        scores = res.scores[q.continuation : k_eff]
        last = q.continuation + page.size - 1
        cont = None if (total >= 0 and last == total - 1) or page.size < q.k else last + 1
        return SearchResult(total, cont, page.tolist(), scores.tolist())

    # ---- doc fetch (reference Q15: join result IDs to the docs store) ----
    def fetch_docs(self, doc_ids: list[int]) -> DataFrame:
        """The stored rows of a page's docIDs, each once and in no set
        order, as a local relation with the docs store's schema. The rows
        are read on the driver (``LocalTable.take``): the store is
        docID-sorted parquet in small row groups, so footer min/max stats
        pick the row groups that can hold a page id, and decoded groups
        stay in an LRU (``docs_cache_bytes``). The rows reach Spark
        through ``session.arrow_frame`` in two JVM calls. Neither the read
        nor collecting the frame runs a Spark job. For ID sets too large
        to hold on the driver, use ``fetch_docs_df``."""
        tbl = self._local_table("docs").take(
            self._docs_df.columns, {"doc_id": [int(d) for d in doc_ids]})
        return arrow_frame(self.spark, tbl, self._docs_df.schema)

    def fetch_docs_df(self, ids_df: DataFrame, prune_range: bool = False) -> DataFrame:
        """Join a docID DataFrame (e.g. search_df output) to the docs store
        — the cluster-side twin of fetch_docs: candidates never visit the
        driver, and AQE picks broadcast vs shuffle join by the ids side's
        runtime size.

        ``prune_range=True`` additionally computes the candidates' docID
        [min,max] (two scalars — driver-safe at any cardinality) and pushes
        ``doc_id BETWEEN`` into the docs scan: the store is docID-sorted, so
        parquet zone maps skip whole row groups/files outside the candidate
        span. Costs one extra small aggregation job (candidates recompute)."""
        ids = ids_df.select("doc_id")
        store = self._docs_df
        if prune_range:
            b = ids.agg(F.min("doc_id").alias("lo"), F.max("doc_id").alias("hi")).first()
            if b["lo"] is None:
                return store.filter(F.lit(False))
            store = store.filter(F.col("doc_id").between(int(b["lo"]), int(b["hi"])))
        return store.join(ids, "doc_id")
