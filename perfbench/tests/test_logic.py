"""The benchmark's own logic, without Spark: seeded inputs, the percentile
rule, span self-time arithmetic and the BENCHMARK.json contract.

    python3 -m pytest perfbench/tests -q
"""

import json
import os
import re
import sys
from collections import Counter

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import inputs  # noqa: E402
from perfbench.spans import self_times  # noqa: E402
from perfbench.stats import percentile, summarize, tail_percentile  # noqa: E402

DFS = {f"t{i}": 3 + 7 * i for i in range(200)}
RARE = [f"uid{i:08x}" for i in range(50)]


def test_same_seed_same_serve_queries():
    a = inputs.serve_queries(7, DFS, RARE, 1200, 500)
    assert a == inputs.serve_queries(7, dict(reversed(list(DFS.items()))), RARE, 1200, 500)
    assert a != inputs.serve_queries(8, DFS, RARE, 1200, 500)


def test_serve_rounds_hold_the_whole_mix():
    per_round = sum(c for _, c in inputs.SERVE_ROUND)
    qs = inputs.serve_queries(3, DFS, RARE, 1200, 5 * per_round)
    for r in range(5):
        chunk = qs[r * per_round:(r + 1) * per_round]
        assert Counter(s for s, _, _ in chunk) == dict(inputs.SERVE_ROUND)
        assert set(Counter(m for _, m, _ in chunk).values()) == {per_round // 3}


def test_serve_shapes_stay_on_their_side_of_the_route_threshold():
    hot = 1200
    for shape, _mode, q in inputs.serve_queries(5, DFS, RARE, hot, 600):
        if shape == "union_hot":
            assert all(DFS[t] > hot for t in q["contain"])
        elif shape == "rare_common":
            assert q["require"][0] in RARE
        else:
            assert any(DFS[t] <= hot for t in q.get("require") or q["contain"])


def test_same_seed_same_batch_table_and_documents():
    a = inputs.batch_queries(4, DFS, 300, 20)
    assert a == inputs.batch_queries(4, DFS, 300, 20)
    assert a != inputs.batch_queries(5, DFS, 300, 20)
    sigs = Counter((tuple(r), tuple(c)) for _, r, c, _ in a)
    assert sigs.most_common(1)[0][1] > 10  # shared signatures repeat
    assert inputs.batch_hit_rows([("q", ["t1"], ["t2"], [])], DFS) == DFS["t1"] + DFS["t2"]
    docs = inputs.operator_docs(9, 400)
    assert docs == inputs.operator_docs(9, 400)
    phrase, _regex = inputs.operator_literals(9, docs)
    assert any(phrase in text for _, text in docs)
    assert inputs.operator_literals(9, docs) == (phrase, _regex)


def test_df_thresholds():
    lazy, hot = inputs.df_thresholds(list(range(1, 101)))
    assert (lazy, hot) == (86, 96)


def test_percentile_keeps_ten_samples_beyond():
    assert tail_percentile(19) is None
    assert tail_percentile(20) == 50.0
    assert tail_percentile(100) == 90.0
    assert tail_percentile(200) == 95.0
    assert tail_percentile(1000) == 99.0
    assert tail_percentile(10_000) == 99.9
    xs = [float(i) for i in range(1, 201)]
    assert percentile(xs, 95.0) == 190.0
    s = summarize(xs)
    assert (s["n"], s["median"], s["tail_p"], s["tail"]) == (200, 100.5, 95.0, 190.0)
    assert sum(x > s["tail"] for x in xs) == 10
    assert "tail" not in summarize(xs[:15])


def _span(i, parent, start, end, op=0):
    return {"id": i, "name": f"s{i}", "parent": parent, "start": start, "end": end, "op": op}


def test_self_time_subtracts_union_of_children():
    spans = [
        _span(0, None, 0.0, 10.0),
        _span(1, 0, 1.0, 4.0),
        _span(2, 0, 3.0, 5.0),  # overlaps span 1: covered 1..5 counts once
        _span(3, 0, 9.0, 12.0),  # clipped to the parent's end
        _span(4, 1, 1.5, 2.0),
    ]
    st = self_times(spans)
    assert st[0] == 10.0 - (4.0 + 1.0)
    assert st[1] == 3.0 - 0.5
    assert st[2] == 2.0
    assert st[4] == 0.5
    # properly nested spans: self times under the root sum to its wall time
    nested = [_span(0, None, 0.0, 6.0), _span(1, 0, 1.0, 3.0), _span(2, 1, 1.5, 2.5),
              _span(3, 0, 4.0, 5.0)]
    assert sum(self_times(nested).values()) == 6.0


NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def test_benchmark_json_contract():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert set(spec) == {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    assert spec["paths"] == ["perfbench"]
    assert 1 <= spec["run_seconds"] <= 60 and isinstance(spec["run_seconds"], int)
    assert 2 <= len(spec["workloads"]) <= 8
    for w in spec["workloads"]:
        assert set(w) == {"name", "why"} and len(w["why"]) <= 200 and "\n" not in w["why"]
    e2e, layers = spec["end_to_end"], spec["per_layer"]
    names = [m["name"] for m in spec["workloads"] + e2e + layers]
    assert len(names) == len(set(names)) and all(NAME.match(n) for n in names)
    for m in e2e:
        assert set(m) == {"name", "unit", "better", "bound"} and 0 < m["bound"] <= 0.25
    for m in layers:
        assert set(m) == {"name", "unit", "better"}
    for m in e2e + layers:
        assert UNIT.match(m["unit"]) and m["better"] in ("lower", "higher")
    setup = next(m for m in e2e if m["name"] == "setup_s")
    assert (setup["unit"], setup["better"]) == ("s", "lower")
    assert setup["bound"] == max(m["bound"] for m in e2e)
