"""Incremental index maintenance via Structured Streaming.

The reference is strictly batch (SURVEY.md §2.3: no streaming anywhere);
this is the additive capability a live corpus needs: documents arrive as a
stream, each micro-batch becomes an immutable index *segment* (the
Lucene/LSM pattern), and queries run over the union of segments.

Mechanics:
  * ``foreachBatch`` drives ``ingest_batch``: docIDs continue densely from
    the previous segment (offset recorded in the root manifest, so a
    restarted stream resumes the id space), and the segment is built by the
    ordinary batch builder — same format, same manifest, same resumability.
  * Segments' docID ranges are disjoint, so their (term, salt) posting
    shards never interleave → a multi-segment query is the same
    concatenation merge the salted build already does.
  * ``MultiSegmentEngine`` unions the segment tables and recomputes global
    stats (N, avgdl) so exhaustive BM25 scores are *exactly* what a
    single-shot build of the full corpus yields (asserted in tests). The
    per-block WAND maxima were baked with per-segment avgdl, so the pruned
    kernel is only used after ``compact()`` (segment rewrite refreshing the
    metadata) — Lucene merges have the same role.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..build import IndexConfig, build_index
from ..engine import SearchEngine
from ..localread import LocalTable
from ..session import local_frame


class IncrementalIndexer:
    def __init__(self, spark: SparkSession, root: str, config: IndexConfig | None = None,
                 order_cols=("repo", "path", "commit"), content_col: str = "content"):
        self.spark = spark
        self.root = root
        self.cfg = config or IndexConfig()
        self.order_cols = tuple(order_cols)
        self.content_col = content_col
        os.makedirs(root, exist_ok=True)

    # ---- root manifest: segment list + next docID ----
    @property
    def _manifest_path(self) -> str:
        return os.path.join(self.root, "segments.json")

    def manifest(self) -> dict:
        if os.path.exists(self._manifest_path):
            with open(self._manifest_path) as f:
                return json.load(f)
        return {"segments": [], "next_doc_id": 0}

    def _commit(self, man: dict) -> None:
        tmp = self._manifest_path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(man, f, indent=2)
        os.replace(tmp, self._manifest_path)

    def segment_dirs(self) -> list[str]:
        return [os.path.join(self.root, s) for s in self.manifest()["segments"]]

    # ---- ingest ----
    def ingest_batch(self, batch: DataFrame, epoch_id: int) -> None:
        """One micro-batch → one segment. Idempotent per epoch (foreachBatch
        may retry a failed epoch; the segment name is the epoch id and a
        completed segment is skipped)."""
        man = self.manifest()
        seg_name = f"seg_{epoch_id:06d}"
        if seg_name in man["segments"]:
            return
        n_rows = batch.count()
        if n_rows == 0:
            return
        seg_dir = os.path.join(self.root, seg_name)
        base = man["next_doc_id"]
        from ..docids import assign_doc_ids

        with_ids = assign_doc_ids(batch, self.order_cols, doc_id_col="doc_id")
        with_ids = with_ids.withColumn("doc_id", F.col("doc_id") + F.lit(base))
        # segments build the full config INCLUDING the common-grams sidecar:
        # MultiSegmentEngine.bigram_pair_plan serves each segment from its
        # OWN sidecar where the pair qualifies locally and falls back to
        # AND+verify on the segments where it doesn't (a globally-hot pair
        # may be locally cold in a small segment), so per-segment sidecars
        # are useful immediately rather than only after compaction.
        build_index(
            self.spark, with_ids, seg_dir, self.cfg,
            doc_id_col="doc_id", content_col=self.content_col, resume=True,
        )
        cache = getattr(with_ids, "_docid_cache", None)
        if cache is not None:
            cache.unpersist()
        man["segments"].append(seg_name)
        man["next_doc_id"] = base + n_rows
        self._commit(man)

    def start_stream(self, stream_df: DataFrame, checkpoint: str | None = None):
        """Attach to a streaming DataFrame; one segment per micro-batch."""
        return (
            stream_df.writeStream.foreachBatch(self.ingest_batch)
            .option("checkpointLocation", checkpoint or os.path.join(self.root, "_checkpoint"))
            .trigger(availableNow=True)
            .start()
        )

    # tombstones at or below this count ride the driver (numpy mask per
    # query — Lucene live-docs); above it engine() hands the engine a
    # tombstone DataFrame instead and every query routes distributed, so an
    # un-compacted index with millions of deletes never collects them
    max_driver_tombstones: int = 1_000_000

    def engine(self) -> "MultiSegmentEngine":
        segs = self.segment_dirs()
        if not os.path.exists(self._tombstone_dir):
            return MultiSegmentEngine(self.spark, segs)
        tomb = self._tombstones()
        if tomb.count() <= self.max_driver_tombstones:
            return MultiSegmentEngine(self.spark, segs, tombstones=self.deleted_ids())
        return MultiSegmentEngine(self.spark, segs, tombstone_df=tomb)

    # ---- deletes: Lucene-style tombstones ----
    # A delete is VISIBILITY filtering, not statistical removal: results
    # never include a deleted doc, but df/avgdl keep counting it until
    # compact() rewrites the index — exactly Lucene's live-docs semantics
    # (deleted docs affect docFreq until segments merge).
    @property
    def _tombstone_dir(self) -> str:
        """Tombstone dir of the CURRENT compaction generation. Scoping the
        dir by generation makes the manifest swap atomic for deletes too: a
        compaction publishes gen g+1 (whose tombstone dir starts empty —
        the merge purged them) in the same os.replace that publishes the
        merged segment, so a crash anywhere leaves either the old view
        (segments + its tombstones) or the new one (no tombstones), never
        stale tombstones applied to remapped docIDs.

        Migration (ADVICE r5): an index compacted under the PRE-gen-scoping
        code has ``compaction_gen >= 1`` in its manifest but its deletes in
        the legacy ``_tombstones`` dir. Resolving the gen-scoped name there
        would silently resurrect every deleted doc (and compact-time cleanup
        would never GC the legacy dir), so on first access we rename the
        legacy dir to the gen-scoped name — atomic (os.rename, same fs),
        one-time, and safe under the documented single-writer assumption."""
        gen = int(self.manifest().get("compaction_gen", 0))
        if gen == 0:
            return os.path.join(self.root, "_tombstones")
        d = os.path.join(self.root, f"_tombstones_g{gen:06d}")
        legacy = os.path.join(self.root, "_tombstones")
        if not os.path.exists(d) and os.path.exists(legacy):
            os.rename(legacy, d)
        return d

    def _tombstones(self, paths: list[str] | None = None) -> DataFrame:
        """Distinct deleted docIDs of ``paths`` (default: the current
        generation's tombstone dir) as a Spark frame."""
        return LocalTable(paths or [self._tombstone_dir], self.spark).frame().distinct()

    def _tombstone_files(self) -> list[str]:
        import glob as _glob

        d = self._tombstone_dir
        if not os.path.exists(d):
            return []
        return sorted(_glob.glob(os.path.join(d, "*.parquet")))

    def delete_docs(self, doc_ids) -> None:
        """Mark docIDs deleted (list[int] or a DataFrame with doc_id).
        Append-only; re-deleting is idempotent (read side dedups)."""
        if isinstance(doc_ids, DataFrame):
            df = doc_ids.select(F.col("doc_id").cast("long"))
        else:
            df = local_frame(self.spark, [(int(d),) for d in doc_ids], "doc_id long")
        df.coalesce(1).write.mode("append").parquet(self._tombstone_dir)

    def deleted_ids(self) -> list[int]:
        if not os.path.exists(self._tombstone_dir):
            return []
        return sorted(r["doc_id"] for r in self._tombstones().collect())

    def compact(self, out_dir: str, tombstone_files: list[str] | None = None) -> str:
        """Merge all segments into one fresh index (rebuilds block-max
        metadata under the global avgdl, re-enabling the WAND kernel).
        Tombstoned docs are dropped for good and the surviving docs get a
        fresh dense docID space (ordered by old docID, so relative order —
        and therefore default-results order — is preserved).

        ``tombstone_files`` pins the exact parquet files to apply (the
        in-place compaction passes its snapshot so concurrent delete_docs
        appends can't half-apply)."""
        segs = self.segment_dirs()
        docs = LocalTable([f"{s}/docs" for s in segs], self.spark).frame()
        if tombstone_files is None:
            tombstone_files = self._tombstone_files()
        if tombstone_files:
            # tombstones never visit the driver here either: anti-join the
            # parquet set directly (AQE broadcasts it when small)
            tomb = self._tombstones(tombstone_files)
            docs = (
                docs.join(tomb, "doc_id", "left_anti")
                .withColumnRenamed("doc_id", "__old_id")
            )
            build_index(
                self.spark, docs.drop("sha256"), out_dir, self.cfg,
                order_cols=("__old_id",), content_col=self.content_col, resume=True,
            )
            return out_dir
        build_index(
            self.spark, docs.drop("sha256"), out_dir, self.cfg,
            doc_id_col="doc_id", content_col=self.content_col, resume=True,
        )
        return out_dir

    def compact_in_place(self) -> str | None:
        """The Lucene merge, applied to THIS index: merge every segment
        (minus tombstoned docs) into one fresh segment inside the root and
        swap the manifest — afterwards queries serve from a single segment
        with globally consistent stats (WAND bounds fresh again), the
        tombstone set is empty, and old segment dirs are deleted.

        Crash-safe ordering: the new segment is built completely first,
        then the manifest swap (os.replace — atomic) publishes it — which
        also bumps the tombstone GENERATION, so the purged tombstones
        vanish in the same atomic step — then old dirs are garbage-
        collected. A crash at any point leaves a readable index: either the
        old multi-segment view (with its tombstones) or the new
        single-segment one (with none).

        Concurrent-writer safety (ADVICE r4 medium): the segment list and
        the tombstone file set are snapshotted up front and re-checked
        right before the swap. An ingest_batch that committed a segment
        meanwhile (its docIDs start at the OLD next_doc_id — they'd leave a
        hole in the compacted id space) or a delete_docs append (its old
        docIDs were just remapped) ABORTS the compaction: the merged
        segment is discarded, the live index is untouched, and the caller
        can retry. Returns None on abort. The remaining check→swap window
        is milliseconds, not the build's minutes; true multi-process
        writers still need external coordination (single compactor)."""
        import shutil
        import warnings

        man = self.manifest()
        if not man["segments"]:
            return self.root
        old = list(man["segments"])
        tomb_files = self._tombstone_files()
        old_tomb_dir = self._tombstone_dir
        gen = int(man.get("compaction_gen", 0)) + 1
        seg_name = f"seg_compacted_{gen:06d}"
        seg_dir = os.path.join(self.root, seg_name)
        # a leftover dir at this gen is a CRASHED earlier attempt: its
        # committed stages froze that run's doc/tombstone snapshot, and
        # compact()'s resume=True would keep them — silently dropping any
        # segment ingested (or delete appended) since. The manifest never
        # referenced it, so discarding is safe; rebuild from the CURRENT
        # snapshot instead.
        if os.path.exists(seg_dir):
            shutil.rmtree(seg_dir, ignore_errors=True)
        self.compact(seg_dir, tombstone_files=tomb_files)
        with open(os.path.join(seg_dir, "stats.json")) as f:
            n_docs = json.load(f)["n_docs"]
        man2 = self.manifest()
        if list(man2["segments"]) != old or self._tombstone_files() != tomb_files:
            warnings.warn(
                "compact_in_place aborted: segments or tombstones changed "
                "during the merge (concurrent ingest_batch/delete_docs); "
                "the live index is untouched — retry compaction",
                RuntimeWarning,
            )
            shutil.rmtree(seg_dir, ignore_errors=True)
            return None
        self._commit({"segments": [seg_name], "next_doc_id": n_docs,
                      "compaction_gen": gen})
        for s in old:
            if s != seg_name:
                shutil.rmtree(os.path.join(self.root, s), ignore_errors=True)
        shutil.rmtree(old_tomb_dir, ignore_errors=True)
        return seg_dir

    def maybe_compact(self, max_segments: int = 8,
                      max_tombstone_frac: float = 0.2) -> str | None:
        """Merge-policy trigger (the background maintenance a long-running
        index needs): compact when the segment count or the tombstone
        fraction crosses its budget. Returns the new segment dir, or None
        when no compaction was needed."""
        man = self.manifest()
        if not man["segments"]:
            return None
        n_tomb = 0
        if os.path.exists(self._tombstone_dir):
            n_tomb = self._tombstones().count()
        frac = n_tomb / max(1, int(man["next_doc_id"]))
        if len(man["segments"]) > max_segments or frac > max_tombstone_frac:
            return self.compact_in_place()
        return None


class MultiSegmentEngine(SearchEngine):
    """SearchEngine over the union of segment tables with recomputed global
    stats — exhaustive BM25 is exact (identical to a single-shot build).

    ``tombstones`` (sorted deleted docIDs) adds Lucene-live-docs semantics:
    every result set, total, default page, and doc fetch excludes deleted
    docs; scoring statistics (df, avgdl, norms) still include them until
    ``compact()`` — the exact tradeoff Lucene makes between deletes and
    merges. The tombstone set is bounded between compactions, so the
    driver-side filter is O(|tombstones| log) per query.

    ``tombstone_df`` is the over-budget posture (IncrementalIndexer.
    max_driver_tombstones): deletes stay a DataFrame, are NEVER collected,
    and every clause-ful query routes through the distributed plan, which
    anti-joins them; default pages run as a range anti-join. Same results,
    driver memory independent of the delete count."""

    def __init__(self, spark: SparkSession, segment_dirs: list[str],
                 tombstones: list[int] | None = None,
                 tombstone_df: DataFrame | None = None):
        if not segment_dirs:
            raise ValueError("no segments")
        import numpy as np

        if tombstones and tombstone_df is not None:
            raise ValueError("pass tombstones (driver) OR tombstone_df (distributed)")
        # distributed-tombstone mode: deletes stay a DataFrame (never
        # collected); every query routes through the distributed plan,
        # which anti-joins them — the over-budget posture
        self._tomb_df = (tombstone_df.select(F.col("doc_id").cast("long"))
                         if tombstone_df is not None else None)
        self._deleted = np.asarray(sorted(tombstones or []), dtype=np.int64)
        self.spark = spark
        self.index_dir = segment_dirs[0]  # named in error messages
        self._segment_dirs = segment_dirs
        stats = None
        n_docs = 0
        total_tokens = 0
        overlong = False
        self._segment_stats: list[dict] = []
        for s in segment_dirs:
            with open(os.path.join(s, "stats.json")) as f:
                st = json.load(f)
            self._segment_stats.append(st)
            stats = stats or st
            n_docs += st["n_docs"]
            total_tokens += st["total_tokens"]
            # per-segment flags OR together: missing key = pre-0.3.1
            # segment = unknown = treat as present (regex soundness guard)
            overlong = overlong or bool(st.get("has_overlong_runs", True))
        self._segment_avgdls = [float(st["avgdl"]) for st in self._segment_stats]
        self.stats = {**stats, "n_docs": n_docs, "total_tokens": total_tokens,
                      "avgdl": (total_tokens / n_docs) if n_docs else 0.0,
                      "has_overlong_runs": overlong}
        # merged sidecar threshold: ANY segment carrying a common-grams
        # sidecar makes the pair route worth trying (bigram_pair_plan
        # serves covered segments and falls back per-segment elsewhere);
        # min() so the pair-selection heuristic tries every pair that
        # could be hot somewhere
        bmins = [b for st in self._segment_stats
                 if (b := st.get("bigram_min_df")) is not None]
        self.stats["bigram_min_df"] = min(bmins) if bmins else None
        self.n_docs = n_docs
        self.k1 = self.stats["k1"]
        self.b = self.stats["b"]
        self.avgdl = self.stats["avgdl"] or 1.0
        self.max_query_terms = self.stats.get("max_query_terms", 50)
        self.max_results = self.stats.get("max_results", 50)
        self._open_tables()
        # stored block-max weights were baked under each SEGMENT's avgdl;
        # once the union avgdl differs they understate true bounds and the
        # pruned kernel would be rank-unsafe. With per-block max_tf in the
        # index, bounds derive from max_tf under the live avgdl instead
        # (engine._bound_arr) and WAND stays on without compaction.
        self._fresh_avgdl = all(
            abs(st - self.avgdl) < 1e-9 for st in self._segment_avgdls)
        self._tf_bounds = (not self._fresh_avgdl) and self._has_max_tf

    def bigram_postings_df(self):
        # A COMPACTED live index is one plain segment — its sidecar is
        # sound to serve as long as no tombstones exist (the bigram fast
        # path reads raw postings and is not delete-aware). Multi-segment
        # unions never serve it: a globally-hot pair can be locally cold
        # in a small segment and absent from its sidecar, which would
        # silently drop matches. Fallback = AND+verify, identical results.
        if len(self._segment_dirs) == 1 and not self._has_deletes:
            return super().bigram_postings_df()
        return None

    def bigram_pair_plan(self, pairs):
        """Per-segment common-grams route (VERDICT r5 #3): each segment
        serves a pair from its OWN sidecar when the pair qualifies there
        LOCALLY, and contributes AND-of-both-terms candidates (a sound
        superset the caller verifies) when it doesn't. Local coverage is
        read off the sidecar itself: a pair has rows in a segment's sidecar
        iff the build selected it there (both terms locally hot) AND it is
        adjacent at least once — and selection implies the segment's
        adjacency postings for it are COMPLETE. Absence is ambiguous (cold
        vs zero-adjacency), so absent ⇒ fall back for that segment, which
        is sound either way. Tombstones are anti-joined on both branches,
        so the route works with live deletes (the single-engine plan never
        has any)."""
        segs = [s for s, st in zip(self._segment_dirs, self._segment_stats)
                if st.get("bigram_min_df") is not None]
        if not segs:
            self.last_bigram_plan = None
            return None
        bg_union = self._local_table("bigram_postings", segs).frame()
        if not hasattr(self, "_bigram_presence"):
            self._bigram_presence: dict[str, set] = {}
        todo = [p for p in pairs if p not in self._bigram_presence]
        if todo:
            # one pruned scan (term range-sorted → row-group pruning)
            # resolves which segments carry each pair; tiny collect
            pres = (bg_union.filter(F.col("term").isin(todo))
                    .select("term", F.input_file_name().alias("f"))
                    .distinct().collect())
            for p in todo:
                self._bigram_presence[p] = set()
            for r in pres:
                for s in segs:
                    base = os.path.basename(os.path.normpath(s))
                    if f"/{base}/bigram_postings/" in r["f"]:
                        self._bigram_presence[r["term"]].add(s)
                        break
        exact = self._live_filter_df(
            self._decoded_for(pairs, postings_df=bg_union).select("term", "doc_id"))
        maybe_parts = []
        fb_counts = {}
        for p in pairs:
            cov = self._bigram_presence[p]
            uncov = [s for s in self._segment_dirs if s not in cov]
            fb_counts[p] = len(uncov)
            if not uncov:
                continue
            want = list(dict.fromkeys(p.split(" ", 1)))
            dec = self._decoded_for(
                want, postings_df=self._local_table("postings", uncov).frame())
            maybe_parts.append(
                dec.groupBy("doc_id")
                .agg(F.countDistinct("term").alias("nc"))
                .filter(F.col("nc") == len(want))
                .select(F.lit(p).alias("term"), "doc_id"))
        maybe = None
        if maybe_parts:
            maybe = maybe_parts[0]
            for m in maybe_parts[1:]:
                maybe = maybe.unionByName(m)
            maybe = self._live_filter_df(maybe)
        self.last_bigram_plan = {
            "pairs": len(pairs),
            "covered_segments": {p: len(self._bigram_presence[p]) for p in pairs},
            "fallback_segments": fb_counts,
        }
        return exact, maybe

    def positions_plan(self):
        """Per-segment positional route (VERDICT r6 #3, mirroring
        bigram_pair_plan): segments that carry the sidecar serve
        positions-exact; segments that don't contribute their plain
        postings table for the caller's AND+verify fallback — one
        positions-less segment (e.g. ingested before the config enabled
        positions) no longer disables the sidecar for the WHOLE index.
        Soundness: segment docID ranges are disjoint, so the covered union
        and the fallback candidates partition the corpus — no overlap, no
        gap — and both branches end in _live_filter_df / tombstone-aware
        fetches."""
        cov = [s for s, st in zip(self._segment_dirs, self._segment_stats)
               if st.get("positions")]
        if not cov:
            self.last_positions_plan = None
            return None, None
        uncov = [s for s in self._segment_dirs if s not in cov]
        self.last_positions_plan = {"covered_segments": len(cov),
                                    "fallback_segments": len(uncov)}
        return (self._local_table("positions", cov).frame(),
                self._local_table("postings", uncov).frame() if uncov else None)

    def _live_filter_df(self, df):
        if not self._has_deletes:
            return df
        return df.join(self._tombstones_df(), "doc_id", "left_anti")

    # fetch_terms, norms, blooms and the driver-local readers: inherited,
    # over every dir in _segment_dirs. Per-term df/max_weight are derived
    # from the shard rows themselves (summed/maxed), which is segment-correct
    # by construction; the union read interleaves shard rows and
    # SearchEngine's (salt, first-block) ordering merges disjoint docID
    # ranges.

    # ---- tombstone visibility filtering ----
    def _not_deleted_mask(self, docs):
        import numpy as np

        pos = np.searchsorted(self._deleted, docs)
        hit = pos < self._deleted.size
        hit[hit] = self._deleted[pos[hit]] == docs[hit]
        return ~hit

    def _route_distributed(self, q, tp, for_wand: bool = False) -> bool:
        # distributed tombstones: the driver kernel cannot see the delete
        # set at all, so every clause-ful query runs the Spark plan (which
        # anti-joins the tombstone DataFrame). Queries whose existing
        # clauses are empty still fall through to the default-results path
        # (reference rule: missing contain/exclude are dropped).
        if self._tomb_df is not None:
            contain = [t for t in q.contain if tp.get(t) is not None]
            exclude = [t for t in q.exclude if tp.get(t) is not None]
            return bool(q.require or contain or exclude)
        return super()._route_distributed(q, tp, for_wand=for_wand)

    def _bool_kernel(self, q, tp):
        res = super()._bool_kernel(q, tp)
        if res is None or not self._deleted.size or res.size == 0:
            return res
        return res[self._not_deleted_mask(res)]

    def _default_results(self, q):
        if self._tomb_df is not None:
            from ..oracle import SearchResult

            live = self.spark.range(self.n_docs).select(
                F.col("id").alias("doc_id")
            ).join(self._tomb_df, "doc_id", "left_anti")
            rows, total = self._fused_topk_count(
                live, q.continuation + q.k, by_score=False)
            if q.continuation >= total:
                return SearchResult(total, None, [], [])
            page = [int(r["doc_id"]) for r in rows][q.continuation :]
            after = q.continuation + len(page)
            return SearchResult(total, after if total > after else None,
                                page, [0.0] * len(page))
        if not self._deleted.size:
            return super()._default_results(q)
        import numpy as np

        from ..oracle import SearchResult

        total = self.n_docs - int((self._deleted < self.n_docs).sum())
        if q.continuation >= total:
            return SearchResult(total, None, [], [0.0] * 0)
        # the (c..c+k)-th live docIDs: a window of raw ids large enough to
        # contain them, minus deletions — |window| ≤ k + |tombstones|
        lo = q.continuation
        width = q.k + self._deleted.size
        start = lo  # rank(d) ≥ d - |deleted| ⇒ the lo-th live id is ≥ lo
        # the (lo+k)-th live id is ≤ lo + k + |deleted|, so this window
        # always covers the page: O(k + |tombstones|) work
        cand = np.arange(start, min(self.n_docs, start + width + 1))
        cand = cand[self._not_deleted_mask(cand)]
        # ranks of cand start at rank(start) = start - #deleted<start
        first_rank = start - int((self._deleted < start).sum())
        page = cand[lo - first_rank : lo - first_rank + q.k]
        after = lo + page.size
        return SearchResult(total, after if total > after else None,
                            page.tolist(), [0.0] * page.size)

    def _single_union_term(self, q, tp):
        # the leading-shard shortcut would include deleted docs — disable it
        if self._deleted.size or self._tomb_df is not None:
            return None
        return super()._single_union_term(q, tp)

    @property
    def _has_deletes(self) -> bool:
        return bool(self._deleted.size) or self._tomb_df is not None

    def _tombstones_df(self):
        if self._tomb_df is not None:
            return self._tomb_df  # distributed mode: never broadcast-hinted
        # small driver set: broadcast the anti-join side
        return F.broadcast(local_frame(
            self.spark, [(int(d),) for d in self._deleted], "doc_id long"))

    def _matched_docs_df(self, q, tp, scored: bool):
        out = super()._matched_docs_df(q, tp, scored)
        if not self._has_deletes:
            return out
        return out.join(self._tombstones_df(), "doc_id", "left_anti")

    def fetch_docs(self, doc_ids):
        if self._deleted.size:
            import numpy as np

            ids = np.asarray(doc_ids, dtype=np.int64)
            doc_ids = ids[self._not_deleted_mask(ids)].tolist()
        out = super().fetch_docs(doc_ids)
        if self._tomb_df is not None:
            out = out.join(self._tomb_df, "doc_id", "left_anti")
        return out

    def _all_docs_df(self):
        out = super()._all_docs_df()
        if not self._has_deletes:
            return out
        return out.join(self._tombstones_df(), "doc_id", "left_anti")

    def fetch_docs_df(self, ids_df, prune_range: bool = False):
        out = super().fetch_docs_df(ids_df, prune_range=prune_range)
        if not self._has_deletes:
            return out
        return out.join(self._tombstones_df(), "doc_id", "left_anti")

    def _live_docs_filter(self):
        # pruned-kernel live-docs mask (Lucene LiveDocs-in-WAND analogue):
        # wand.absorb applies this BEFORE scoring and before any θ update,
        # so a deleted doc can neither appear in the page nor inflate θ —
        # and since deletes only REMOVE candidates, every block-max bound
        # stays a valid upper bound and skipping remains rank-safe
        if not self._deleted.size:
            return None

        def live(docs):
            return docs[self._not_deleted_mask(docs)]

        return live

    def search_bm25_wand(self, q, exact_total: bool = True):
        """The pruned kernel runs whenever its bounds are safe:

          * fresh avgdl (single segment / post-compact) — stored block-max
            weights ARE the live bounds;
          * stale avgdl but the index carries per-block max_tf — bounds are
            derived avgdl-free (_tf_bounds; engine._bound_arr), so WAND
            stays on across un-compacted segments, bit-identical to
            exhaustive (tests/test_deletes.py, test_streaming.py);
          * otherwise (pre-max_tf index) delegate to exhaustive scoring —
            stored maxima would UNDERESTIMATE true bounds when the union
            avgdl exceeds a segment's and could silently prune top-k docs.

        Driver-side tombstones stay ON the pruned kernel: mixed-mode
        candidates come from the (delete-filtered) _bool_kernel, contain-only
        seeding threads _live_docs_filter through wand.absorb, and the exact
        total decodes every salt holding a tombstone (_union_total). Only
        distributed tombstones (_tomb_df — the kernel cannot see the delete
        set) delegate; their clause-ful queries route distributed anyway."""
        if self._tomb_df is not None or (not self._fresh_avgdl and not self._tf_bounds):
            return self.search_bm25(q)
        return super().search_bm25_wand(q, exact_total=exact_total)
