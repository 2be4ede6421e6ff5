"""Seeded benchmark inputs. Every function here is a pure function of its
arguments: the same seed gives the same queries, query tables and documents,
and none of them touch Spark, so the tests can pin them without a session."""

from __future__ import annotations

import random

# one round of the serve stream: query shapes with their counts. Every
# round holds each shape this many times and each mode equally often, in a
# seeded order, so a short run still sees the whole mix
SERVE_ROUND = (
    ("require", 3),
    ("contain", 2),
    ("mixed", 2),
    ("rare_common", 2),
    ("paginated", 2),
    ("union_hot", 1),
)
SERVE_MODES = ("search", "search_bm25", "search_bm25_wand")
SERVE_K = 20

# closed vocabulary of the operators workload's documents table
OPS_VOCAB = (
    "table merge vector stream column spark hash sort scan group fast slow "
    "batch part line order small big value key window row filter query agg "
    "data index join page cache"
).split()


def zipf_weights(n: int, s: float = 1.1) -> list[float]:
    return [1.0 / (i + 1) ** s for i in range(n)]


def df_thresholds(dfs: list[int]) -> tuple[int, int]:
    """(lazy_min_df, hot_route_df) from the df distribution of the common
    (non-singleton) terms: the top ~15% are served lazily and the top ~5%
    route union-shaped work to the distributed plan."""
    ds = sorted(dfs)
    if not ds:
        raise ValueError("no terms")
    lazy = ds[min(len(ds) - 1, int(0.85 * len(ds)))]
    hot = ds[min(len(ds) - 1, int(0.95 * len(ds)))]
    return lazy, max(lazy, hot)


class _Drawer:
    def __init__(self, rng: random.Random, terms: list[str]):
        self.rng = rng
        self.terms = terms
        self.w = zipf_weights(len(terms))

    def draw(self, n: int) -> list[str]:
        n = min(n, len(self.terms))
        out: list[str] = []
        while len(out) < n:
            t = self.rng.choices(self.terms, weights=self.w)[0]
            if t not in out:
                out.append(t)
        return out


def serve_queries(seed: int, term_dfs: dict[str, int], rare_terms: list[str],
                  hot_route_df: int, n: int) -> list[tuple[str, str, dict]]:
    """``n`` (shape, mode, query-kwargs) triples. Terms are drawn Zipfian by
    df rank from the index's own dictionary; every shape except
    ``union_hot`` anchors on a term at or below ``hot_route_df`` so it stays
    on the driver kernel, and ``union_hot`` unions only hotter terms."""
    rng = random.Random(seed)
    ranked = sorted(term_dfs, key=lambda t: (-term_dfs[t], t))
    cold = _Drawer(rng, [t for t in ranked if term_dfs[t] <= hot_route_df])
    hot = _Drawer(rng, [t for t in ranked if term_dfs[t] > hot_route_df])
    every = _Drawer(rng, ranked)
    if not cold.terms or not hot.terms:
        raise ValueError("need terms on both sides of hot_route_df")
    shapes = [s for s, c in SERVE_ROUND for _ in range(c)]
    modes = [SERVE_MODES[i % len(SERVE_MODES)] for i in range(len(shapes))]
    out = []
    while len(out) < n:
        rng.shuffle(shapes)
        rng.shuffle(modes)
        for shape, mode in zip(shapes, modes):
            out.append((shape, mode, _serve_query(rng, shape, cold, hot, every, rare_terms)))
    return out[:n]


def _serve_query(rng: random.Random, shape: str, cold: _Drawer, hot: _Drawer,
                 every: _Drawer, rare_terms: list[str]) -> dict:
    q: dict = {"k": SERVE_K}
    if shape == "require":
        q["require"] = cold.draw(rng.randint(1, 2))
    elif shape == "contain":
        q["contain"] = cold.draw(rng.randint(2, 3))
    elif shape == "mixed":
        q["require"] = cold.draw(1)
        q["contain"] = [t for t in cold.draw(3) if t not in q["require"]][:2]
        q["exclude"] = [t for t in every.draw(2) if t not in q["require"] + q["contain"]][:1]
    elif shape == "rare_common":
        q["require"] = [rng.choice(rare_terms)]
        q["contain"] = hot.draw(1)
    elif shape == "paginated":
        q["require"] = cold.draw(1)
        q["continuation"] = rng.choice((20, 40, 100))
    else:  # union_hot
        q["contain"] = hot.draw(rng.randint(1, 2))
    return q


def batch_queries(seed: int, term_dfs: dict[str, int], n: int, n_signatures: int,
                  tail_share: float = 0.3) -> list[tuple[str, list, list, list]]:
    """``n`` query-table rows (query_id, require, contain, exclude). The
    (require, contain) signatures of ``1 - tail_share`` of the rows repeat
    Zipfian over ``n_signatures`` shared signatures; the rest are drawn
    fresh, a long tail of mostly unique ones. Terms are sorted within each
    clause, as ``Query.make`` normalizes them."""
    rng = random.Random(seed)
    ranked = sorted(term_dfs, key=lambda t: (-term_dfs[t], t))
    terms = _Drawer(rng, ranked)

    def signature() -> tuple[list, list]:
        req = terms.draw(1)
        con = [t for t in terms.draw(2) if t not in req]
        return sorted(req), sorted(con)

    shared = [signature() for _ in range(n_signatures)]
    sw = zipf_weights(n_signatures)
    rows = []
    for i in range(n):
        req, con = (signature() if rng.random() < tail_share
                    else rng.choices(shared, weights=sw)[0])
        exc = [t for t in terms.draw(1) if t not in req + con] if rng.random() < 0.2 else []
        rows.append((f"q{i:05d}", list(req), list(con), sorted(exc)))
    return rows


def batch_hit_rows(rows: list[tuple[str, list, list, list]], term_dfs: dict[str, int]) -> int:
    """Σ df over (query, term) pairs: the posting rows the batch plan fans out."""
    return sum(term_dfs.get(t, 0) for _, r, c, e in rows for t in (*r, *c, *e))


def operator_docs(seed: int, n: int) -> list[tuple[int, str]]:
    """(doc_id, text) over a closed vocabulary, like the contract's
    documents table, with near-duplicates so shingle Jaccard and MinHash
    find pairs: ~10% of docs copy an earlier doc with 0-3 tokens changed."""
    rng = random.Random(seed)
    w = zipf_weights(len(OPS_VOCAB), 0.8)
    docs: list[list[str]] = []
    for i in range(n):
        if i > 10 and rng.random() < 0.10:
            toks = list(docs[rng.randrange(i)])
            for _ in range(rng.randint(0, 3)):
                toks[rng.randrange(len(toks))] = rng.choice(OPS_VOCAB)
        else:
            toks = rng.choices(OPS_VOCAB, weights=w, k=rng.randint(10, 60))
        docs.append(toks)
    return [(i, " ".join(t)) for i, t in enumerate(docs)]


def operator_literals(seed: int, docs: list[tuple[int, str]]) -> tuple[str, str]:
    """(three-term phrase, regex) for the positional-phrase and regex
    searches: the phrase is cut from a seeded document so it always occurs;
    the regex joins two vocabulary words by a short gap."""
    rng = random.Random(seed ^ 0x5EED)
    toks = rng.choice([t for _, t in docs if len(t.split()) >= 3]).split()
    at = rng.randrange(len(toks) - 2)
    a, b = rng.sample(OPS_VOCAB, 2)
    return " ".join(toks[at:at + 3]), f"{a}[a-z ]{{0,20}}{b}"
