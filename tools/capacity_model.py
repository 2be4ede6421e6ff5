"""Capacity model: project index footprint and driver/executor memory at
TARGET scale from constants MEASURED on a real built index — the
quantitative companion to SCALE.md's qualitative plan audit.

Usage:
    python tools/capacity_model.py <index_dir> [target_docs] [target_avg_df_hot]

Reads the built index's manifests/tables for per-unit constants
(bits/posting, summary-row bytes, bloom bits/term, norms bytes/doc), then
projects a target deployment (default 10^12 docs — the north rule's scale):

  * postings payload + parquet metadata bytes;
  * docs store bytes (content ships at input size — dominated by content);
  * term dictionary + bloom sidecar bytes, and what the DRIVER holds of
    the bloom (an LRU of the ranges queries touch);
  * serving-node memory: norms cache (int32/doc), the shard summaries of a
    df-hot term served on demand (rows = df / 2^salt_shift), and the
    transient docIDs of an exact union count (one salt per query term);
  * executor-side shuffle volume of a rebuild (pack blobs ≈ payload bytes).

Every projected line prints the measured constant it scales from, so the
model is auditable against any index dir."""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def human(n: float) -> str:
    for unit in ("B", "KiB", "MiB", "GiB", "TiB", "PiB"):
        if abs(n) < 1024 or unit == "PiB":
            return f"{n:,.1f} {unit}"
        n /= 1024
    return f"{n:,.1f} PiB"


def measure(index_dir: str) -> dict:
    with open(os.path.join(index_dir, "stats.json")) as f:
        stats = json.load(f)
    with open(os.path.join(index_dir, "_manifest", "postings.json")) as f:
        post = json.load(f)["extra"]

    def tree_bytes(sub: str) -> int:
        total = 0
        for root, _dirs, files in os.walk(os.path.join(index_dir, sub)):
            total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
        return total

    n_docs = stats["n_docs"]
    n_post = post["total_postings"]
    m = {
        "n_docs": n_docs,
        "total_tokens": stats.get("total_tokens", 0),
        "avgdl": stats["avgdl"],
        "salt_shift": stats["salt_shift"],
        "max_query_terms": stats.get("max_query_terms", 50),
        "total_postings": n_post,
        "postings_per_doc": n_post / n_docs,
        "bits_per_posting_payload": 8 * post["payload_bytes"] / n_post,
        "bits_per_posting_parquet": 8 * tree_bytes("postings") / n_post,
        "docs_bytes_per_doc": tree_bytes("docs") / n_docs,
        "doclens_bytes_per_doc": tree_bytes("doclens") / n_docs,
        "terms_table_bytes": tree_bytes("term_stats"),
        "bloom_bytes": tree_bytes("term_bloom") if os.path.exists(
            os.path.join(index_dir, "term_bloom")) else 0,
        # optional common-grams sidecar (IndexConfig.bigram_min_df): hot-pair
        # adjacency postings — presence read from stats.json like the engine
        "bigram_bytes": tree_bytes("bigram_postings")
        if stats.get("bigram_min_df") is not None else 0,
        # optional positional sidecar (IndexConfig.positions): delta-varint
        # position blobs — one position per posting OCCURRENCE, so it scales
        # with corpus tokens (the dominant sidecar when enabled)
        "positions_bytes": tree_bytes("positions") if stats.get("positions") else 0,
        # overlong-run trigram sidecar: postings only over flagged docs'
        # dropped runs — size tracks the flagged fraction, not the corpus
        "oltrigram_bytes": tree_bytes("overlong_trigrams")
        if stats.get("overlong_trigrams") and os.path.exists(
            os.path.join(index_dir, "overlong_trigrams")) else 0,
    }
    return m


def project(m: dict, target_docs: int, hot_df: int) -> list[tuple[str, str, str]]:
    scale = target_docs / m["n_docs"]
    ppd = m["postings_per_doc"]
    rows = []
    rows.append(("postings payload",
                 human(target_docs * ppd * m["bits_per_posting_payload"] / 8),
                 f"{m['bits_per_posting_payload']:.2f} bits/posting × {ppd:.1f} postings/doc"))
    rows.append(("postings parquet total",
                 human(target_docs * ppd * m["bits_per_posting_parquet"] / 8),
                 f"{m['bits_per_posting_parquet']:.2f} bits/posting on disk — snappy re-compresses the payload below raw"))
    rows.append(("docs store", human(target_docs * m["docs_bytes_per_doc"]),
                 f"{m['docs_bytes_per_doc']:.0f} B/doc (content-dominated — tracks input size)"))
    rows.append(("doclens table", human(target_docs * m["doclens_bytes_per_doc"]),
                 f"{m['doclens_bytes_per_doc']:.1f} B/doc on disk"))
    # the engine serves norms from NormsCache: residency is capped by the
    # LRU budget, not n_docs (engine.py NormsCache)
    from edgesearch_spark.engine import SearchEngine as _SE

    norms_resident = min(target_docs * 4,
                         _SE.norms_max_pages * _SE.norms_page_docs * 4)
    rows.append(("driver norms cache", human(norms_resident),
                 "int32 × min(n_docs, LRU budget) — paged by docID range "
                 "(NormsCache)"))
    rows.append(("driver docs cache (≤)", human(_SE.docs_cache_bytes),
                 "decoded docs row groups, LRU by bytes (docs_cache_bytes); "
                 "independent of n_docs"))
    # dictionary grows sublinearly; heap-law exponent ~0.5 on synthetic code —
    # project conservatively LINEAR in docs (upper bound)
    rows.append(("term dictionary (≤)", human(m["terms_table_bytes"] * scale),
                 "linear upper bound; real growth is Heaps-law sublinear"))
    rows.append(("bloom sidecar (≤)", human(m["bloom_bytes"] * scale),
                 "12 bits/term; driver holds only the LRU of hot 96 KiB ranges"))
    shard_rows = hot_df / (1 << m["salt_shift"])
    rows.append((f"lazy summaries @ df={hot_df:.0e}", human(shard_rows * 40),
                 f"{shard_rows:,.0f} shard rows × ~40 B (two-level lazy, level 1)"))
    # the exact total of a contain-only WAND query (engine._union_total)
    # decodes one salt at a time: ≤ 2^salt_shift int64 docIDs per query term
    # at once. Fetched payload stops at hot_route_df postings per term; past
    # that the count runs on the cluster.
    q_terms, salt_docs = m["max_query_terms"], 1 << m["salt_shift"]
    rows.append(("union count (transient)", human(q_terms * salt_docs * 8),
                 f"{q_terms} query terms × 2^{m['salt_shift']} docIDs × 8 B (one salt at a "
                 f"time); payload ≤ hot_route_df = {_SE.hot_route_df:,} postings "
                 f"(~{human(_SE.hot_route_df * m['bits_per_posting_payload'] / 8)}) per term"))
    rows.append(("rebuild shuffle volume", human(target_docs * ppd * 24),
                 "~24 B/posting through the ONE (term,salt) shuffle (pack blobs)"))
    if m.get("bigram_bytes"):
        rows.append(("bigram sidecar (≤)", human(m["bigram_bytes"] * scale),
                     "hot-pair adjacency postings; volume bounded by hot-pair "
                     "co-adjacency, scales at most with postings"))
    if m.get("positions_bytes"):
        bpp = 8 * m["positions_bytes"] / max(1, m.get("total_tokens", 1))
        rows.append(("positions sidecar", human(m["positions_bytes"] * scale),
                     f"{bpp:.2f} bits/position on disk × {m['avgdl']:.0f} "
                     "tokens/doc — delta-varint per token occurrence, linear "
                     "in corpus tokens (executor-side only; never "
                     "driver-resident)"))
    if m.get("oltrigram_bytes"):
        rows.append(("overlong-trigram sidecar (≤)", human(m["oltrigram_bytes"] * scale),
                     "trigram postings over flagged docs' dropped runs — "
                     "linear in flagged-run bytes"))
    return rows


def main() -> None:
    index_dir = sys.argv[1] if len(sys.argv) > 1 else "/tmp/bench_idx_32_500000"
    target_docs = int(float(sys.argv[2])) if len(sys.argv) > 2 else 10**12
    hot_df = int(float(sys.argv[3])) if len(sys.argv) > 3 else 10**11
    m = measure(index_dir)
    print(f"measured on {index_dir}: {m['n_docs']:,} docs, "
          f"{m['total_postings']:,} postings, avgdl {m['avgdl']:.1f}\n")
    print(f"projection to {target_docs:,.0e} docs (hot term df {hot_df:.0e}):\n")
    w = max(len(r[0]) for r in project(m, target_docs, hot_df))
    for name, size, basis in project(m, target_docs, hot_df):
        print(f"  {name:<{w}}  {size:>12}   [{basis}]")


if __name__ == "__main__":
    main()
