"""The BM25 clause fold shared by the engine's distributed route
(``SearchEngine._matched_docs_df``) and ``plans.batch.batch_search``.

Hit rows — one per (key, term), where the key holds doc_id (and the
query_id on the batch surface), carrying the term's clause flags and its
caller-order scoring position ``ord`` — aggregate per key into
``req_hit``/``con_hit``/``exc_hit``, and the caller's clause filter keeps
the matched rows. The score replays the driver kernel's float64 operation
order (``engine._score_docs``):

    score = ((0.0 + p_a) + p_b) + …   in ord order,
    p_i   = c_i · (tf_i / (tf_i + knorm)),   c_i = idf_i · (k1 + 1)

A term absent from a doc is skipped, which is the kernel's ``+ 0.0``
bitwise for the non-negative partials. One ``F.sum`` over the partials
would add in a partition-dependent order and could break score ties
differently from the kernel.

Two shapes of the one fold, split at ``_MAX_ORD_COLS`` scoring terms:

  * per-ord conditional sums ``__tf{i}``: each (key, ord) has at most
    one hit row, so every sum is order-free; a codegen'd HashAggregate,
    and the doclens join and the score run on the matched rows only;
  * past the cap, one sorted (ord, partial) struct list per key folded left
    to right: constant expression size for any term count, at the cost of
    an ObjectHashAggregate and a doclens join on the hit rows.
"""

from __future__ import annotations

from collections.abc import Callable, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

_MAX_ORD_COLS = 64


def bm25_fold(
    hits: DataFrame,
    keys: Sequence[str],
    keep: Callable[[DataFrame], DataFrame],
    ords: Sequence[int] | None,
    c_of: Callable[[int], Column | None],
    dl: DataFrame | None,
    knorm: Column,
    consts: tuple[DataFrame, str] | None = None,
) -> DataFrame:
    """Matched per-key rows, with a ``score`` column unless ``ords`` is None.

    ``hits`` holds ``keys`` (which include ``doc_id``), ``ord``, ``tf``,
    ``is_r``/``is_c``/``is_e`` and, for the past-the-cap shape, ``c`` (the
    hit term's c_i). ``keep`` is the clause filter over the per-key
    aggregate. ``ords`` lists the scoring positions in fold order.
    ``c_of(i)`` is c_i as a Column for the per-ord shape (None: no term
    at that position). ``knorm`` is k1·((1−b) + (b·dl)/avgdl) over the
    ``dl`` column of the (doc_id, dl) frame ``dl`` (unused, and may be
    None, when ``ords`` is None). ``consts`` is an
    optional (frame, join key) joined onto the matched rows before the
    score, holding the columns ``c_of`` refers to."""
    aggs = [
        # hit rows are unique per (key, term), so the require count
        # is a plain conditional sum (countDistinct plans an extra pass)
        F.sum(F.col("is_r").cast("int")).alias("req_hit"),
        F.max(F.col("is_c").cast("int")).alias("con_hit"),
        F.max(F.col("is_e").cast("int")).alias("exc_hit"),
    ]
    if ords is not None and len(ords) > _MAX_ORD_COLS:
        tf = F.col("tf")
        part = F.when(F.col("ord").isin(list(ords)),
                      F.struct("ord", (F.col("c") * (tf / (tf + knorm))).alias("p")))
        per_key = hits.join(dl, "doc_id").groupBy(*keys).agg(
            *aggs,
            F.aggregate(F.array_sort(F.collect_list(part)), F.lit(0.0),
                        lambda acc, x: acc + x["p"]).alias("score"))
        return keep(per_key)
    aggs += [F.sum(F.when(F.col("ord") == i, F.col("tf"))).alias(f"__tf{i}")
             for i in ords or ()]
    matched = keep(hits.groupBy(*keys).agg(*aggs))
    if ords is None:
        return matched
    if consts is not None:
        matched = matched.join(*consts)
    score = F.lit(0.0)
    for i in ords:
        c = c_of(i)
        if c is None:
            continue
        tfi = F.col(f"__tf{i}")
        score = score + F.coalesce(
            F.when(tfi.isNotNull(), c * (tfi / (tfi + knorm))), F.lit(0.0))
    return matched.join(dl, "doc_id").withColumn("score", score)
