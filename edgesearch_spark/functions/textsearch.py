"""Phrase and regex search over the corpus — the two query shapes a
source-code search user reaches for beyond boolean/BM25.

The index stores no positions (the reference doesn't either:
src/build/mod.rs builds presence-only bitmaps), so both operators use the
classic two-stage design real engines use without positional data:

  candidates — the inverted index ANDs the phrase's terms / the regex's
               required literal trigram-terms (cheap, pruned scan);
  verify     — the docs store joins the candidates and a JVM expression
               checks the exact phrase / regex on content (no Python).

At 10^12 docs stage 1 does the heavy lifting (candidate set ≪ corpus) and
stage 2 is a broadcast-semi-join + whole-stage-codegen filter over the
candidates only — the Google Code Search trigram architecture (Cox 2012,
"Regular Expression Matching with a Trigram Index") re-expressed on the
term index.
"""

from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..session import local_frame
from ..tokenizer import _tokens_col

_WORD = re.compile(r"[a-zA-Z0-9]+")


def phrase_precheck_col(content_col: str, phrase_terms: list[str]) -> Column | None:
    """Cheap NECESSARY condition for :func:`phrase_col` — one linear rlike
    over lower(content) instead of tokenize + n shifted slices + zip.

    Tokens are the maximal ``[a-z0-9]`` runs of ``lower(content)`` with runs
    longer than MAX_TERM_BYTES dropped (tokenizer.py): if the phrase terms
    are consecutive in that stream, lower(content) must contain

        (^|[^a-z0-9]) t1 GAP t2 GAP … tn ($|[^a-z0-9])

    where GAP = ``[^a-z0-9]+([a-z0-9]{256,}[^a-z0-9]+)*`` — between two
    consecutive KEPT tokens lies at least one delimiter run, optionally
    interleaved with dropped overlong runs (two alnum runs are always
    delimiter-separated, so the alternation shape is exact). The inner GAP
    pieces live on disjoint alphabets, so no regex backtracking blowup.
    Returns None (no usable precheck) when any term is not purely
    alphanumeric — such a term can never be a token and the exact check
    decides alone."""
    terms = [t.lower() for t in phrase_terms]
    if not all(_WORD.fullmatch(t) for t in terms):
        return None
    from ..tokenizer import MAX_TERM_BYTES

    gap = rf"[^a-z0-9]+(?:[a-z0-9]{{{MAX_TERM_BYTES + 1},}}[^a-z0-9]+)*"
    pat = "(?:^|[^a-z0-9])" + gap.join(terms) + "(?:[^a-z0-9]|$)"
    return F.lower(F.col(content_col)).rlike(pat)


def phrase_col(content_col: str, phrase_terms: list[str]) -> Column:
    """True iff the tokenized content contains the terms CONSECUTIVELY.
    Pure JVM: zip the token array with its shifted selves and look for the
    phrase tuple — whole-stage-codegen, no UDF. A linear-scan regex
    precheck (phrase_precheck_col, provably necessary) fronts the zip so
    non-matching candidates — the common case after index ANDing, where all
    terms occur but not adjacently — never pay the tokenize: And
    short-circuits in codegen when the left side is false."""
    n = len(phrase_terms)
    if n == 0:
        raise ValueError("empty phrase")
    ts = _tokens_col(content_col)
    if n == 1:
        exact = F.array_contains(ts, phrase_terms[0].lower())
    else:
        shifted = [ts if i == 0 else F.slice(ts, i + 1, F.greatest(F.size(ts) - i, F.lit(0)))
                   for i in range(n)]
        # arrays_zip pads the shorter shifted arrays with NULL, which can never
        # equal the phrase tuple — tail windows fall out for free
        want = F.struct(*[F.lit(t.lower()).alias(str(i)) for i, t in enumerate(phrase_terms)])
        zipped = F.arrays_zip(*[c.alias(str(i)) for i, c in enumerate(shifted)])
        exact = F.array_contains(zipped, want)
    pre = phrase_precheck_col(content_col, phrase_terms)
    return exact if pre is None else pre & exact


def phrase_search(docs: DataFrame, phrase: str, id_col: str = "doc_id",
                  content_col: str = "content") -> DataFrame:
    """Docs whose token stream contains the phrase's terms consecutively."""
    terms = [t.lower() for t in _WORD.findall(phrase)]
    return docs.filter(phrase_col(content_col, terms)).select(id_col)


def required_literals(pattern: str, min_len: int = 3) -> list[str]:
    """Alphanumeric literals every match of ``pattern`` must contain —
    the index-prefilter terms (conservative: only literals OUTSIDE any
    alternation/optional/class construct are required).

    A tiny, safe extractor: scan the pattern left to right; runs of plain
    [A-Za-z0-9] characters at top level (not inside (), [], {}, not
    followed by ?, *, {) are required substrings of every match; keep the
    word-level tokens of those runs (the tokenizer's term alphabet).
    Returns [] when nothing is certain — callers then scan without a
    prefilter."""
    out: list[str] = []
    run: list[str] = []
    depth = 0
    in_class = False
    i, n = 0, len(pattern)

    def flush():
        nonlocal run
        if run:
            out.extend(t for t in _WORD.findall("".join(run)) if len(t) >= min_len)
        run = []

    while i < n:
        ch = pattern[i]
        nxt = pattern[i + 1] if i + 1 < n else None
        if in_class:
            if ch == "]":
                in_class = False
            i += 1
            continue
        if ch == "\\":
            flush()
            i += 2
            continue
        if ch == "[":
            flush()
            in_class = True
            i += 1
            continue
        if ch == "(":
            flush()
            depth += 1
            i += 1
            continue
        if ch == ")":
            depth -= 1
            i += 1
            continue
        if ch == "|":
            # alternation makes EVERYTHING at this level non-required
            flush()
            if depth == 0:
                return []
            i += 1
            continue
        if depth == 0 and (ch.isalnum()):
            if nxt in ("?", "*", "{"):
                # ch is optional (never appended to run); the run BEFORE it
                # is still fully required — flush it intact and skip ch
                flush()
                i += 1
                continue
            run.append(ch)
            i += 1
            continue
        flush()
        i += 1
    flush()
    # dedupe, longest-first (most selective prefilter literals first);
    # ORIGINAL case — these are case-sensitive required substrings
    seen: dict[str, None] = {}
    for t in sorted(set(out), key=len, reverse=True):
        seen[t] = None
    return list(seen)


def regex_search(docs: DataFrame, pattern: str, id_col: str = "doc_id",
                 content_col: str = "content") -> DataFrame:
    """Docs matching a (case-sensitive) regex. The required literals become
    a SUBSTRING-contains AND prefilter ahead of the rlike (sound: they are
    required substrings of every match — a TOKEN prefilter would be
    unsound, e.g. literal 'merge' matching inside token 'merged'), so the
    expensive regex runs on candidates only. Index-side acceleration would
    need a trigram index (Cox 2012) — the prefilter here is the same idea
    evaluated scan-side by whole-stage codegen."""
    cond = F.col(content_col).rlike(pattern)
    for t in required_literals(pattern)[:4]:  # a few most-selective suffice
        cond = F.col(content_col).contains(t) & cond
    return docs.filter(cond).select(id_col)


def verify_on_candidates(fetched: DataFrame, cond: Column) -> DataFrame:
    """Run an expensive verify predicate strictly AFTER the candidates join.

    Catalyst pushes any deterministic single-side predicate below a join and
    into the scan's DataFilters — which would evaluate the regex / phrase
    tokenization against EVERY doc in the store, silently turning the
    two-stage index design back into a corpus scan (observed in the
    physical plan: RLIKE inside the docs FileScan). Nondeterministic
    predicates may not be reordered, so the WHOLE condition is wrapped in
    one nondeterministic expression — with identical branches, so the value
    is exactly ``cond`` (incl. NULL-drops). Both a bare `& (rand() > -1)`
    conjunct and a `when(rand() > -1, …)` guard fail here: Spark 4 splits
    conjuncts and range-folds rand() comparisons with out-of-[0,1) bounds;
    identical-branch CASE WHEN over an unfoldable rand() < 0.5 survives
    (plan-asserted in tests)."""
    guarded = F.when(F.rand() < F.lit(0.5), cond).otherwise(cond)
    return fetched.filter(guarded)


def index_regex_search(engine, pattern: str, content_col: str = "content",
                       max_terms_per_literal: int = 20_000,
                       max_literals: int = 4) -> DataFrame:
    """Index-ACCELERATED regex — the Cox 2012 trigram design evaluated on
    the term index, so a selective pattern never scans the corpus (the
    reference's chunk-routing idea, wasm/chunks.c:56-72, applied to regex):

      expand  — each required literal of the pattern is matched as a
                substring against the TERM DICTIONARY (term_stats: tiny,
                term-sorted, pushdown-pruned). Every match of the pattern
                contains the literal inside one maximal-alphanumeric run =
                one token, so a matching doc must hold ≥1 term containing
                lower(literal) — sound for case-sensitive AND (?i) patterns
                alike, because terms are already lowercased;
      AND     — candidates = docs holding ≥1 term from EVERY literal's term
                set: one pruned postings scan over the union of expansion
                terms, decoded executor-side, grouped per doc;
      verify  — the docs store joins the candidates (cluster-side, AQE
                broadcast) and `rlike` confirms the exact pattern.

    Bounds: a literal expanding to more than ``max_terms_per_literal``
    dictionary terms is DROPPED (fewer prefilter literals = more candidates,
    never wrong); the driver holds only expansion term strings
    (≤ max_literals · max_terms_per_literal, ~1 MB — metadata scale, not
    docs). A literal matching NO term proves 0 matches without touching a
    single doc. No usable literal at all (e.g. top-level alternation) falls
    back to the scan-side regex_search.

    Soundness guard: the expansion step assumes every maximal-alphanumeric
    run of a matching doc survives verbatim inside one indexed term. Indexes
    built with ``split_identifiers=True`` insert subtoken boundaries
    ('utf8' -> utf|8) and ``word_map`` rewrites tokens ('ms' -> microsoft),
    so a literal can span a boundary / be rewritten and exist in NO term —
    the "no term contains literal => 0 matches" shortcut would then silently
    drop real matches. Those indexes route straight to the scan."""
    st = getattr(engine, "stats", {}) or {}
    if st.get("split_identifiers") or st.get("word_map"):
        return regex_search(engine._docs_df, pattern, content_col=content_col)
    # An alphanumeric run longer than MAX_TERM_BYTES is DROPPED from the
    # token stream, so a literal occurring only inside one exists in no
    # indexed term — dictionary pruning alone would silently drop that doc.
    # The build flags such docs per-row in doclens (build stage 2). With the
    # overlong-trigram sidecar (build stage 8) a flagged doc contributes a
    # candidate only when its dropped runs hold EVERY trigram of a literal —
    # necessary for the literal to hide there — so per literal the evidence
    # (dict term ∪ trigram cover) is a sound superset of matches and the
    # flagged set is never unioned wholesale (on minified-JS/base64 corpora
    # that union approaches a corpus scan). An index with the flag but
    # without the sidecar keeps the wholesale union (sound superset); only
    # an index predating the flag falls back to the scan.
    ol_df = None
    if st.get("has_overlong_runs", True):
        ol_df = engine._overlong_docs_df()
        if ol_df is None:
            return regex_search(engine._docs_df, pattern, content_col=content_col)
    tri_pt = engine.oltrigrams_df() if ol_df is not None else None
    # a literal longer than MAX_TERM_BYTES cannot be a substring of any
    # indexed term even when the doc matches (over-long tokens are dropped
    # from the dictionary) — expanding it would be unsound, so ignore it
    from ..tokenizer import MAX_TERM_BYTES

    lits = [l for l in required_literals(pattern)
            if len(l.encode("utf-8")) <= MAX_TERM_BYTES]
    groups: list[tuple[str, list[str]]] = []  # (literal, dictionary terms)
    dict_impossible = False
    spark = engine.spark
    for lit in lits:
        if len(groups) >= max_literals:
            break
        rows = (
            engine._term_stats_df.filter(F.col("term").contains(lit.lower()))
            .select("term").limit(max_terms_per_literal + 1).collect()
        )
        if len(rows) > max_terms_per_literal:
            continue  # unselective literal: skip it, stay sound
        terms = sorted({r["term"] for r in rows})
        if not terms:
            # a required substring occurs in no indexed term ⇒ no DICT doc
            # matches; flagged overlong docs can still hide the literal
            if ol_df is None:
                return spark.range(0).select(F.col("id").alias("doc_id"))
            if tri_pt is None:
                # flagged docs are literal-opaque without the sidecar:
                # the flagged set IS the candidate set — stop expanding
                groups = []
                dict_impossible = True
                break
        groups.append((lit, terms))
    if not groups and not dict_impossible:
        return regex_search(engine._docs_df, pattern, content_col=content_col)
    if dict_impossible:
        cands = ol_df
    elif tri_pt is None:
        mapping = [(t, gi) for gi, (_, ts) in enumerate(groups) for t in ts]
        map_df = local_frame(spark, mapping, "term string, lit long")
        all_terms = sorted({t for t, _ in mapping})
        cands = (
            engine._decoded_for(all_terms).select("term", "doc_id")
            .join(F.broadcast(map_df), "term")
            .groupBy("doc_id")
            .agg(F.countDistinct("lit").alias("nlit"))
            .filter(F.col("nlit") == len(groups))
            .select("doc_id")
        )
        if ol_df is not None:
            cands = cands.unionByName(ol_df).distinct()
    else:
        # evidence rows (doc_id, lit): dictionary hits ∪ trigram covers;
        # a candidate must carry evidence for EVERY kept literal
        parts = []
        dict_map = [(t, gi) for gi, (_, ts) in enumerate(groups) for t in ts]
        if dict_map:
            map_df = local_frame(spark, dict_map, "term string, lit long")
            all_terms = sorted({t for t, _ in dict_map})
            parts.append(
                engine._decoded_for(all_terms).select("term", "doc_id")
                .join(F.broadcast(map_df), "term").select("doc_id", "lit"))
        tri_map: list[tuple[str, int]] = []
        tri_need: list[tuple[int, int]] = []
        for gi, (lit, _) in enumerate(groups):
            tris = sorted({lit.lower()[i:i + 3] for i in range(len(lit) - 2)})
            tri_map.extend((t, gi) for t in tris)
            tri_need.append((gi, len(tris)))
        tmap_df = local_frame(spark, tri_map, "term string, lit long")
        need_df = local_frame(spark, tri_need, "lit long, need long")
        all_tris = sorted({t for t, _ in tri_map})
        parts.append(
            engine._decoded_for(all_tris, postings_df=tri_pt)
            .select("term", "doc_id")
            .join(F.broadcast(tmap_df), "term")
            .groupBy("doc_id", "lit")
            .agg(F.countDistinct("term").alias("nt"))
            .join(F.broadcast(need_df), "lit")
            .filter(F.col("nt") == F.col("need"))
            .select("doc_id", "lit"))
        ev = parts[0]
        for p in parts[1:]:
            ev = ev.unionByName(p)
        cands = (
            ev.distinct().groupBy("doc_id")
            .agg(F.count(F.lit(1)).alias("nlit"))
            .filter(F.col("nlit") == len(groups))
            .select("doc_id")
        )
    cond = F.col(content_col).rlike(pattern)
    if "(?i" not in pattern:  # contains() is case-sensitive; skip under (?i)
        for t in lits[:4]:  # cheap substring check still fronts the regex
            cond = F.col(content_col).contains(t) & cond
    # no prune_range here: the bounds aggregation would execute the whole
    # candidates subplan a second time (decode + groupBy — the expensive
    # part); the barrier alone keeps the verify off the corpus scan
    fetched = engine.fetch_docs_df(cands)
    return verify_on_candidates(fetched, cond).select("doc_id")


def index_phrase_search(engine, phrase: str, content_col: str = "content") -> DataFrame:
    """Phrase search through the index, using the hot-bigram common-grams
    sidecar when the index carries one (IndexConfig.bigram_min_df; Lucene's
    CommonGramsFilter idea):

      * every adjacent phrase pair whose terms BOTH have df ≥ bigram_min_df
        is served from exact-adjacency bigram postings — candidates shrink
        from |docs holding both hot terms| to |docs where they are adjacent|,
        which is what makes a phrase of two stopword-hot terms cheap;
      * terms not covered by a chosen bigram stay single-term AND
        constraints on the main postings;
      * the verify stage (precheck + zip behind the pushdown barrier) stays —
        bigram adjacency somewhere in the doc does not imply the full n-gram
        chain for phrases of 3+ terms.

    Falls back to the plain AND-candidates + verify plan when the sidecar is
    absent (multi-segment engines, plain builds) or no pair qualifies.
    Single-term phrases ARE term membership — served straight from the
    boolean index, no verify."""
    from ..oracle import Query

    terms = [t.lower() for t in _WORD.findall(phrase)]
    if not terms:
        raise ValueError("empty phrase")
    spark = engine.spark
    if len(terms) == 1:
        return engine.search_df(Query.make(require=terms)).select("doc_id")
    tp = engine.fetch_terms(list(dict.fromkeys(terms)))
    if any(tp[t] is None for t in terms):
        return spark.range(0).select(F.col("id").alias("doc_id"))

    min_df = engine.stats.get("bigram_min_df")
    constraints: dict[str, bool] = {}  # key -> is_bigram (deduped: a repeated
    # pair/term is one AND constraint — countDistinct counts keys once)
    plan = None
    if min_df is not None:
        covered: set[int] = set()
        for i in range(len(terms) - 1):
            if tp[terms[i]].df >= min_df and tp[terms[i + 1]].df >= min_df:
                constraints[f"{terms[i]} {terms[i + 1]}"] = True
                covered.update((i, i + 1))
        for i in range(len(terms)):
            if i not in covered:
                constraints.setdefault(terms[i], False)
        bkeys = [k for k, b in constraints.items() if b]
        # (exact_df, maybe_df): exact rows ARE adjacency; maybe rows are a
        # sound superset from segments whose local sidecar doesn't cover
        # the pair (per-segment route) and go through the verify below
        plan = engine.bigram_pair_plan(bkeys) if bkeys else None
        if plan is None:
            constraints = {}
    if not any(constraints.values()):
        cands = engine.search_df(Query.make(require=list(dict.fromkeys(terms))))
    else:
        exact, maybe = plan
        skeys = [k for k, b in constraints.items() if not b]
        if len(terms) == 2 and len(constraints) == 1:
            # a TWO-term phrase is exactly pair adjacency — the exact rows
            # ARE the result set (phrase_col's n=2 zip tests the same
            # adjacency the sidecar indexed); only the uncovered-segment
            # superset rows (if any) pay a docs-store verify
            res = exact.select("doc_id")
            if maybe is not None:
                fetched = engine.fetch_docs_df(maybe.select("doc_id"))
                res = res.unionByName(
                    verify_on_candidates(fetched, phrase_col(content_col, terms))
                    .select("doc_id"))
            return res.distinct()
        pair_rows = exact if maybe is None else exact.unionByName(maybe)
        parts = [pair_rows.select("term", "doc_id")]
        if skeys:
            parts.append(engine._decoded_for(skeys).select("term", "doc_id"))
        dec = parts[0]
        for p in parts[1:]:
            dec = dec.unionByName(p)
        n = len(constraints)
        cands = (dec.groupBy("doc_id")
                 .agg(F.countDistinct("term").alias("nc"))
                 .filter(F.col("nc") == n).select("doc_id"))
    fetched = engine.fetch_docs_df(cands)
    return verify_on_candidates(
        fetched, phrase_col(content_col, terms)).select("doc_id")


def snippet_col(content_col: str, terms: list[str], radius: int = 30) -> Column:
    """A display snippet around the FIRST occurrence of any query term
    (earliest match across terms wins; the doc head when nothing matches) —
    the hit-highlighting surface a result page needs, computed entirely in
    JVM expressions over the fetched candidate rows (locate on the
    lowercased content + substring), so it composes with fetch_docs_df at
    any result cardinality and is oracle-able byte-for-byte."""
    if not terms:
        raise ValueError("no terms")
    lc = F.lower(F.col(content_col))
    # 0 = not found → +inf so it never wins min(); positions are 1-based
    locs = [F.when(F.locate(t.lower(), lc) == 0, F.lit(2_147_483_647))
             .otherwise(F.locate(t.lower(), lc)) for t in terms]
    first = locs[0]
    for l in locs[1:]:
        first = F.least(first, l)
    start = F.greatest(F.when(first == 2_147_483_647, F.lit(1))
                        .otherwise(first - radius), F.lit(1))
    return F.substring(F.col(content_col), start.cast("int"), 2 * radius)


# ---- positional-sidecar query operators (IndexConfig.positions) ----

def _position_arrays(engine, terms: list[str]):
    """(doc_id, p0 … p{n-1}) — one position array per DISTINCT term, for
    docs holding EVERY term — off the positional sidecar's pruned scan.
    ONE shuffle total: a single conditional aggregation pivots the decoded
    (term, doc_id, positions) rows into per-term columns (collect_list
    skips the when()'s nulls), and the all-terms-present intersection is a
    size()>0 conjunction — no per-term groupBy, no join chain (n-way joins
    would shuffle n times at 100 TB). Shard rows per (salt[, segment])
    flatten into one array; sort_array restores global position order
    across segment unions. Returns (distinct terms, DataFrame | None,
    uncovered-postings DataFrame | None): the third element is the plain
    postings table of index regions WITHOUT the sidecar (per-segment
    route, engine.positions_plan) — callers union an AND+verify fallback
    over it via _positions_fallback."""
    distinct = list(dict.fromkeys(terms))
    pos_df, uncov = engine.positions_plan()
    if pos_df is None:
        return distinct, None, None
    dec = engine._decoded_positions_for(distinct, positions_df=pos_df)
    aggs = [
        F.sort_array(F.flatten(F.collect_list(
            F.when(F.col("term") == F.lit(t), F.col("positions"))
        ))).alias(f"p{i}")
        for i, t in enumerate(distinct)
    ]
    joined = dec.groupBy("doc_id").agg(*aggs)
    for i in range(len(distinct)):
        joined = joined.filter(F.size(F.col(f"p{i}")) > 0)
    return distinct, joined, uncov


def _indexed_tokens_col(engine, content_col: str) -> Column:
    """The kept-token stream column matching what the index TOKENIZED —
    normalization applied from the build-recorded stats (word_map /
    field_prefix / split_identifiers), content column preferred from
    stats when recorded. Scan-side fallbacks that rebuild positions MUST
    use this instead of the raw ``_tokens_col``: on a normalized build the
    sidecar/postings hold normalized terms, and a raw rebuilt stream never
    matches them — candidates silently drop (ADVICE r7 high).

    Raises on an index whose stats predate word_map storage (the flag is
    the literal ``True``): the map is unrecoverable, so a sound rebuild is
    impossible — fail loud rather than return silently wrong results."""
    from ..tokenizer import norm_tokens_col

    st = engine.stats
    wm = st.get("word_map") or None
    if wm is not None and not isinstance(wm, dict):
        raise ValueError(
            "index stats record word_map=True without the map itself (built "
            "by an older version) — the scan-side positional fallback cannot "
            "rebuild the normalized token stream; rebuild the index")
    cc = st.get("content_col") or content_col
    base = F.col(cc)
    if st.get("split_identifiers"):
        from .code import identifier_marked_col

        base = identifier_marked_col(base)
    return norm_tokens_col(base, wm, st.get("field_prefix") or None)


def _positions_fallback(engine, uncov_posts: DataFrame, distinct: list[str],
                        cond: Column, content_col: str) -> DataFrame:
    """AND+verify twin for index regions lacking the positional sidecar:
    candidates = docs (in those regions) holding EVERY distinct term, off
    the uncovered segments' plain postings; fetch them (tombstone-aware),
    rebuild the per-term position arrays p0…p{n-1} scan-side from the kept
    token stream — the SAME column names and kept-token position space the
    sidecar encodes, so the caller's proximity condition applies verbatim —
    and filter behind the verify_on_candidates pushdown barrier (the
    tokenize must never reach the docs scan). Segment docID ranges are
    disjoint, so the union with the covered route has no overlap."""
    dec = engine._decoded_for(distinct, postings_df=uncov_posts)
    cands = (dec.groupBy("doc_id")
             .agg(F.countDistinct("term").alias("nc"))
             .filter(F.col("nc") == len(distinct)).select("doc_id"))
    fetched = engine.fetch_docs_df(cands).withColumn(
        "__ts", _indexed_tokens_col(engine, content_col))
    for i, t in enumerate(distinct):
        # the HOF lambda is evaluated eagerly by F.transform, so capturing
        # the loop variable directly is safe (same shape as near_search)
        plist = F.filter(
            F.transform(F.col("__ts"),
                        lambda x, j: F.when(x == F.lit(t), j.cast("long"))),
            lambda v: v.isNotNull(),
        )
        fetched = fetched.withColumn(f"p{i}", plist)
    return verify_on_candidates(fetched, cond).select("doc_id")


def index_phrase_search_positions(engine, phrase: str,
                                  content_col: str = "content") -> DataFrame:
    """EXACT phrase match straight from the positional sidecar — no
    docs-store fetch, no verify join (the sidecar extends the reference's
    verify-free bitmap-membership exactness, wasm/index.c:80-104, to
    adjacency):

      fetch     — per distinct phrase term, position arrays off the pruned
                  (term-filtered, range-sorted) positions scan;
      intersect — inner joins on doc_id AND the doc sets (docs missing any
                  term fall out before any position work);
      adjacency — one JVM higher-order exists: some p in P(t0) with
                  p+i ∈ P(ti) for every i — whole-stage codegen over
                  arrays, no UDF, no shuffle beyond the per-term groupBys.

    Positions are kept-token indexes of the NORMALIZED stream, so this is
    sound on word_map / field_prefix / split_identifiers builds where the
    bigram sidecar must refuse. Falls back to index_phrase_search when the
    index has no sidecar; index regions the sidecar doesn't cover (a
    segment ingested before positions were enabled — engine.positions_plan)
    are served by an AND+verify union branch instead of disabling the
    route. Results honor live-docs (tombstone) semantics."""
    from functools import reduce

    terms = [t.lower() for t in _WORD.findall(phrase)]
    if not terms:
        raise ValueError("empty phrase")
    spark = engine.spark
    if len(terms) == 1:
        from ..oracle import Query

        return engine.search_df(Query.make(require=terms)).select("doc_id")
    distinct, joined, uncov = _position_arrays(engine, terms)
    if joined is None:
        return index_phrase_search(engine, phrase, content_col=content_col)
    tp = engine.fetch_terms(distinct)
    if any(tp[t] is None for t in distinct):
        return spark.range(0).select(F.col("id").alias("doc_id"))
    col_of = {t: f"p{distinct.index(t)}" for t in distinct}
    rest = [(F.col(col_of[t]), i) for i, t in enumerate(terms)][1:]
    cond = F.exists(
        F.col(col_of[terms[0]]),
        lambda p: reduce(lambda a, b: a & b,
                         [F.array_contains(arr, p + F.lit(i)) for arr, i in rest]),
    )
    res = engine._live_filter_df(joined.filter(cond).select("doc_id"))
    if uncov is not None:
        res = res.unionByName(
            _positions_fallback(engine, uncov, distinct, cond, content_col))
    return res


def _near_window_cond(n_arrays: int, slop: int) -> Column:
    """Unordered-window condition over per-term position arrays p0..p{n-1}:
    true iff one position per array fits in a window of ``slop`` (max pick
    − min pick ≤ slop). Anchored on the MINIMUM pick: some array i holds an
    anchor p with, for every other array j, a position in [p, p+slop] —
    provably equivalent to max−min ≤ slop (the min pick is itself a pick),
    and only TWO lambda nesting levels with distinct variable names (deeper
    per-term nesting would shadow same-named outer lambda variables)."""
    from functools import reduce

    def anchored_at(i: int) -> Column:
        others = [F.col(f"p{j}") for j in range(n_arrays) if j != i]
        return F.exists(
            F.col(f"p{i}"),
            lambda p: reduce(
                lambda a, b: a & b,
                [F.exists(arr, lambda q: (q >= p) & (q <= p + F.lit(slop)))
                 for arr in others],
            ),
        )

    return reduce(lambda a, b: a | b, [anchored_at(i) for i in range(n_arrays)])


def index_near_search(engine, terms: list[str], slop: int) -> DataFrame:
    """Unordered NEAR/slop proximity off the positional sidecar: docs where
    one occurrence of EVERY distinct term fits inside a window of ``slop``
    kept-token positions (max chosen position − min ≤ slop). Same
    fetch/intersect shape as index_phrase_search_positions; the window test
    is a two-level JVM higher-order exists (see _near_window_cond), no UDF.

    ``slop`` counts TOKEN distance in the kept stream: a phrase of n
    adjacent terms satisfies slop = n − 1. Raises on an index without the
    sidecar — near_search is the scan-side twin for that case. Index
    regions without the sidecar (per-segment route) are served by an
    AND+verify union branch applying the identical window condition."""
    distinct = [t.lower() for t in dict.fromkeys(terms)]
    if len(distinct) < 2:
        raise ValueError("NEAR needs at least two distinct terms")
    if slop < 0:
        raise ValueError("slop must be ≥ 0")
    spark = engine.spark
    _, joined, uncov = _position_arrays(engine, distinct)
    if joined is None:
        raise ValueError("index has no positional sidecar (IndexConfig.positions)")
    tp = engine.fetch_terms(distinct)
    if any(tp[t] is None for t in distinct):
        return spark.range(0).select(F.col("id").alias("doc_id"))
    cond = _near_window_cond(len(distinct), slop)
    res = engine._live_filter_df(joined.filter(cond).select("doc_id"))
    if uncov is not None:
        res = res.unionByName(
            _positions_fallback(engine, uncov, distinct, cond, "content"))
    return res


def _slop_chain_cond(terms: list[str], col_of: dict[str, str], slop: int) -> Column:
    """Ordered-proximity condition over per-term position arrays: positions
    q1 < q2 < … < qn, one per phrase slot in PHRASE ORDER, each consecutive
    gap q{i+1} − q{i} ≤ slop + 1 (≤ slop intervening kept tokens; slop = 0
    is exact adjacency). Computed as iterative REACHABILITY — level i keeps
    the positions of term i reachable from term i−1's kept set — so
    evaluation is left-to-right linear instead of exponential in n.

    Plain nested lambdas are safe here on classic PySpark: _create_lambda
    ignores Python signature names (always x/y/z) and the JVM fresh-names
    every lambda variable at analysis, so nesting cannot shadow (verified
    on the pinned pyspark; ADVICE r6 — a previous eval-based fresh-naming
    shim was dead machinery). Spark Connect DOES derive variable names from
    Python signatures; revisit if this ever runs there. HOF lambdas must
    keep exactly one parameter — a default-arg capture would be counted as
    the (value, index) two-arg form and bind the index column."""
    def step(prev: Column, col: Column) -> Column:
        def outer(q):
            return F.exists(prev, lambda p: (q > p) & (q <= p + F.lit(slop + 1)))

        return F.filter(col, outer)

    reach: Column = F.col(col_of[terms[0]])
    for t in terms[1:]:
        reach = step(reach, F.col(col_of[t]))
    return F.size(reach) > 0


def index_phrase_slop(engine, phrase: str, slop: int) -> DataFrame:
    """ORDERED sloppy phrase off the positional sidecar: the phrase terms
    must appear in phrase order with at most ``slop`` intervening kept
    tokens between each consecutive pair (``slop = 0`` ≡ the exact phrase —
    test-pinned against index_phrase_search_positions). The ordered twin of
    index_near_search, completing the proximity family: same pruned
    fetch/pivot shape (_position_arrays, one shuffle), then the reachability
    chain (_slop_chain_cond) entirely in JVM higher-order expressions — no
    docs-store fetch, no verify join, live-docs honored. Index regions
    without the sidecar (per-segment route) are served by an AND+verify
    union branch applying the identical reachability chain."""
    terms = [t.lower() for t in _WORD.findall(phrase)]
    if len(terms) < 2:
        raise ValueError("sloppy phrase needs at least two terms")
    if slop < 0:
        raise ValueError("slop must be ≥ 0")
    spark = engine.spark
    distinct, joined, uncov = _position_arrays(engine, terms)
    if joined is None:
        raise ValueError("index has no positional sidecar (IndexConfig.positions)")
    tp = engine.fetch_terms(distinct)
    if any(tp[t] is None for t in distinct):
        return spark.range(0).select(F.col("id").alias("doc_id"))
    col_of = {t: f"p{distinct.index(t)}" for t in distinct}
    cond = _slop_chain_cond(terms, col_of, slop)
    res = engine._live_filter_df(joined.filter(cond).select("doc_id"))
    if uncov is not None:
        res = res.unionByName(
            _positions_fallback(engine, uncov, distinct, cond, "content"))
    return res


def phrase_slop_search(docs: DataFrame, phrase: str, slop: int,
                       id_col: str = "doc_id", content_col: str = "content") -> DataFrame:
    """Scan-side ordered-sloppy-phrase twin (no index): tokenize, build
    per-term position lists, apply the identical reachability chain — the
    oracle-able reference semantics for index_phrase_slop."""
    terms = [t.lower() for t in _WORD.findall(phrase)]
    if len(terms) < 2:
        raise ValueError("sloppy phrase needs at least two terms")
    if slop < 0:
        raise ValueError("slop must be ≥ 0")
    distinct = list(dict.fromkeys(terms))
    with_pos = docs.withColumn("__ts", _tokens_col(content_col))
    for i, t in enumerate(distinct):
        plist = F.filter(
            F.transform(F.col("__ts"), lambda x, j: F.when(x == F.lit(t), j.cast("long"))),
            lambda v: v.isNotNull(),
        )
        with_pos = with_pos.withColumn(f"p{i}", plist)
    col_of = {t: f"p{distinct.index(t)}" for t in distinct}
    cond = _slop_chain_cond(terms, col_of, slop)
    return with_pos.filter(cond).select(id_col)


def index_prefix_search(engine, prefix: str) -> DataFrame:
    """Wildcard/prefix query (``util*`` — the Lucene PrefixQuery shape, a
    first-reach query for source-code search): docs holding ANY kept token
    starting with ``prefix``, answered entirely from the index with ZERO
    driver-side dictionary expansion — the postings scan is pruned by a
    pushed StringStartsWith on the range-sorted term column (parquet
    row-group min/max stats do the dictionary's work, the same pruning the
    reference's chunk lookup table provides for exact terms,
    wasm/chunks.c:56-72), matching lists decode executor-side, and distinct
    docIDs honor live-docs semantics. At 10^12 docs the plan touches only
    the row groups whose term range intersects [prefix, prefix+∞) — never
    the dictionary, never the corpus.

    Semantics are over the index's kept token stream (normalized builds
    match normalized tokens). A prefix that no token can start with — empty,
    non-alphanumeric, or longer than MAX_TERM_BYTES (such runs are dropped
    at build) — returns empty without a job; prefix matching is
    case-insensitive like every term surface."""
    p = prefix.lower()
    if not p:
        raise ValueError("empty prefix")
    from ..tokenizer import MAX_TERM_BYTES

    if not _WORD.fullmatch(p) or len(p.encode("utf-8")) > MAX_TERM_BYTES:
        return engine.spark.range(0).select(F.col("id").alias("doc_id"))
    dec = engine._decoded_for(F.col("term").startswith(p))
    return engine._live_filter_df(dec.select("doc_id").distinct())


def prefix_search(docs: DataFrame, prefix: str, id_col: str = "doc_id",
                  content_col: str = "content") -> DataFrame:
    """Scan-side prefix-query twin: docs whose token stream holds any token
    starting with ``prefix``. A provably-necessary linear rlike precheck —
    a kept token is always delimiter-bounded on the left, so lower(content)
    must contain ``(^|[^a-z0-9])prefix`` — fronts the tokenize+exists, the
    same short-circuit discipline as phrase_col."""
    p = prefix.lower()
    if not p:
        raise ValueError("empty prefix")
    from ..tokenizer import MAX_TERM_BYTES

    if not _WORD.fullmatch(p) or len(p.encode("utf-8")) > MAX_TERM_BYTES:
        return docs.sparkSession.range(0).select(F.col("id").alias(id_col))
    pre = F.lower(F.col(content_col)).rlike("(^|[^a-z0-9])" + p)
    exact = F.exists(_tokens_col(content_col), lambda t: t.startswith(p))
    return docs.filter(pre & exact).select(id_col)


_WILDCARD_OK = re.compile(r"[a-z0-9*?]+")


def _wildcard_parts(pattern: str) -> tuple[str, str, str]:
    """(lowered pattern, leading literal prefix, anchored regex). Raises on
    patterns no kept token could match (empty, or chars outside [a-z0-9*?])."""
    p = pattern.lower()
    if not p or not _WILDCARD_OK.fullmatch(p):
        raise ValueError(f"bad wildcard pattern {pattern!r}: tokens are [a-z0-9]+")
    prefix = re.match(r"[a-z0-9]*", p).group(0)
    rx = "".join(".*" if c == "*" else "." if c == "?" else c for c in p)
    return p, prefix, rx


def index_wildcard_search(engine, pattern: str, max_expansions: int = 1024) -> DataFrame:
    """General wildcard query over kept tokens (`s?a*`, `*name` — Lucene
    WildcardQuery: `*` any run, `?` one char), the MultiTermQuery rewrite
    done Spark-side:

      trailing-star fast path — `prefix*` IS a prefix query: zero
        expansion, pruned StartsWith postings scan (index_prefix_search);
      prefixed patterns — the anchored regex is evaluated on the term
        column INSIDE the StartsWith-pruned postings scan itself (VERDICT
        r6 #6): the parquet source prunes row groups by the pushed
        StringStartsWith on the range-sorted term column, the rlike runs as
        a post-scan filter over those rows only, and NO term string ever
        visits the driver — the expansion cap is enforced by a scalar
        COUNT over the identically-pruned dictionary sidecar (Lucene's
        bounded-rewrite discipline: past ``max_expansions`` the query
        errors rather than silently truncating results);
      leading-wildcard patterns — no prefix to prune by, so the DICTIONARY
        sidecar (term_stats: one row per term, ~10^-4 of postings bytes) is
        scanned distributed with the anchored regex and matches are
        collected (≤ max_expansions strings, bounded metadata), then ONE
        postings scan pruned by In(term, expanded) decodes matching lists.

    At 10^12 docs the dictionary scan is the only unpruned-by-stats step for
    leading-wildcard patterns, and it reads the term column of a
    dictionary-sized sidecar — never postings, never the corpus (the same
    cost class as suggest_terms' edit-distance scan)."""
    p, prefix, rx = _wildcard_parts(pattern)
    if "*" not in p and "?" not in p:  # pure literal = exact term membership
        dec = engine._decoded_for([p])
        return engine._live_filter_df(dec.select("doc_id").distinct())
    if prefix and p == prefix + "*":  # single trailing star
        return index_prefix_search(engine, prefix)
    pred = F.col("term").rlike(f"^{rx}$")
    if prefix:
        pred = F.col("term").startswith(prefix) & pred
        n = (engine._term_stats_df.filter(pred).select("term").distinct()
             .limit(max_expansions + 1).count())
        if n > max_expansions:
            raise ValueError(
                f"wildcard {pattern!r} expands past max_expansions={max_expansions}")
        if n == 0:
            return engine.spark.range(0).select(F.col("id").alias("doc_id"))
        dec = engine._decoded_for(pred)
        return engine._live_filter_df(dec.select("doc_id").distinct())
    matched = engine._term_stats_df.select("term").filter(pred).distinct()
    terms = [r["term"] for r in matched.limit(max_expansions + 1).collect()]
    if len(terms) > max_expansions:
        raise ValueError(
            f"wildcard {pattern!r} expands past max_expansions={max_expansions}")
    if not terms:
        return engine.spark.range(0).select(F.col("id").alias("doc_id"))
    dec = engine._decoded_for(terms)
    return engine._live_filter_df(dec.select("doc_id").distinct())


def wildcard_search(docs: DataFrame, pattern: str, id_col: str = "doc_id",
                    content_col: str = "content") -> DataFrame:
    """Scan-side wildcard twin: docs whose token stream holds any token
    matching the pattern. The longest literal segment fronts the tokenize
    as a contains() precheck — provably necessary (any matching token
    contains every literal segment), same short-circuit discipline as
    phrase_col / prefix_search."""
    p, _prefix, rx = _wildcard_parts(pattern)
    segs = [s for s in re.split(r"[*?]+", p) if s]
    cond = F.exists(_tokens_col(content_col), lambda t: t.rlike(f"^{rx}$"))
    if segs:
        longest = max(segs, key=len)
        cond = F.contains(F.lower(F.col(content_col)), F.lit(longest)) & cond
    return docs.filter(cond).select(id_col)


def near_search(docs: DataFrame, terms: list[str], slop: int,
                id_col: str = "doc_id", content_col: str = "content") -> DataFrame:
    """Scan-side NEAR/slop twin (no index): tokenize, build per-term
    position lists with an index-aware transform, apply the identical
    unordered-window condition — the oracle-able reference semantics for
    index_near_search."""
    distinct = [t.lower() for t in dict.fromkeys(terms)]
    if len(distinct) < 2:
        raise ValueError("NEAR needs at least two distinct terms")
    if slop < 0:
        raise ValueError("slop must be ≥ 0")
    with_pos = docs.withColumn("__ts", _tokens_col(content_col))
    for i, t in enumerate(distinct):
        plist = F.filter(
            F.transform(F.col("__ts"), lambda x, j: F.when(x == F.lit(t), j.cast("long"))),
            lambda v: v.isNotNull(),
        )
        with_pos = with_pos.withColumn(f"p{i}", plist)
    cond = _near_window_cond(len(distinct), slop)
    return with_pos.filter(cond).select(id_col)
