"""Self-tests of the benchmark (no Spark session needed).

Run: python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import sys

import pandas as pd
import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import run  # noqa: E402
from perfbench.fixture import write_fixture  # noqa: E402
from perfbench.workloads import WORKLOADS, Corpus, check_results  # noqa: E402
from tools.check_oracle import compare  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _bench() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_printed_names_are_the_benchmark_json_names():
    bench = _bench()
    e2e = run.end_to_end(1.0, [1.0, 2.0], {"a": [1.0], "b": [2.0]}, 100.0)
    layers = run.per_layer([{}], 1.0, [1.0], {"a": [1.0]}, 0.1)
    assert {k: v["unit"] for k, v in e2e.items()} == {m["name"]: m["unit"] for m in bench["end_to_end"]}
    assert {k: v["unit"] for k, v in layers.items()} == {m["name"]: m["unit"] for m in bench["per_layer"]}
    assert {w["name"]: w["why"] for w in bench["workloads"]} == {w.name: w.why for w in WORKLOADS.values()}


def test_layer_map_names_known_metrics():
    with open(os.path.join(ROOT, "perfbench", "layers.json")) as f:
        layers = json.load(f)
    e2e = set(run.END_TO_END)
    for move in layers["moves"]:
        assert move["should_move"] is None or move["should_move"] in e2e
        assert set(move["on"]) | set(move["flat_on"]) <= set(WORKLOADS)
        for name in move["metrics"]:
            names = [name.replace("<module>", m) for m in run.OPERATOR_MODULES] if "<module>" in name else [name]
            assert set(names) <= set(run.PER_LAYER), name
            assert name.split(".")[0] in layers["layers"]


class _Op(run.Op):
    """An op whose build returns a fixed output instead of running Spark."""

    def __init__(self, name, output, check):
        super().__init__(name, build=lambda: output, action=lambda x: x, collect=lambda x: x, check=check)


def test_planted_wrong_output_raises_error_rate():
    corpus = Corpus([(1, "a b a"), (2, "b c")])
    want = corpus.expected("wc_datafn_combiner")
    frame = pd.DataFrame({"word": ["a", "b"], "count": [2, 2]})
    planted = frame.assign(count=[2, 3])

    def ops(wc_output, frame_output):
        return [
            _Op("wc", wc_output, lambda out: check_results(out, want)),
            _Op("q", frame_output, lambda out: compare("q", out, frame)),
        ]

    clean = run.Tally()
    run.warm_pass(ops(dict(want), frame), clean)
    assert (clean.attempted, clean.failed, clean.error_rate) == (2, 0, 0.0)

    wrong_counts = dict(want, a=1)
    bad = run.Tally()
    run.warm_pass(ops(wrong_counts, planted), bad)
    assert (bad.attempted, bad.failed) == (2, 2)
    assert bad.error_rate > clean.error_rate
    assert "wrong counts" in bad.problems["wc"][0]


def test_raising_op_counts_as_failed():
    def boom():
        raise RuntimeError("planted")

    tally = run.Tally()
    run.warm_pass([run.Op("x", boom, None, lambda x: x, lambda out: [])], tally)
    assert tally.failed == 1 and "planted" in tally.problems["x"][0]


def test_fixture_seed_permutes_rows_and_orders_copies(tmp_path):
    a, b, c = (str(tmp_path / n) for n in "abc")
    write_fixture(a, 0.001, seed=1, copies=2)
    write_fixture(b, 0.001, seed=1, copies=2)
    write_fixture(c, 0.001, seed=2, copies=2)
    ta, tb, tc = (pq.read_table(f"{d}/orders.parquet").to_pandas() for d in (a, b, c))
    assert ta.equals(tb)
    assert not ta.equals(tc)
    key = ["o_orderkey"]
    assert ta.sort_values(key, ignore_index=True).equals(tc.sort_values(key, ignore_index=True))
    assert ta["o_orderkey"].is_unique and len(ta) == 2 * 1500
    assert len(pq.read_table(f"{a}/nation.parquet")) == 25


def test_union_of_job_intervals():
    from perfbench.trace import _union_s

    assert _union_s([(0, 2), (1, 3), (5, 6)]) == 4
    assert _union_s([]) == 0


def test_span_self_time_excludes_children():
    import time

    from perfbench.trace import Tracer

    tracer = Tracer(enabled=True, run="r")
    inner = tracer.wrap(lambda: time.sleep(0.05), "inner", "operators.text")

    def outer_fn():
        time.sleep(0.02)
        inner()

    outer = tracer.wrap(outer_fn, "outer", "operators.graph")
    outer()
    tracer.enabled = False
    outer()  # untraced calls record nothing
    child, = (s for s in tracer.spans if s.name == "inner")
    parent = tracer.spans[child.parent]
    assert parent.name == "outer" and len(tracer.spans) == 2
    totals = tracer.layer_totals("r")
    assert totals["operators.graph"]["calls"] == 1
    assert 0.015 < totals["operators.graph"]["s"] < 0.045
    assert totals["operators.text"]["s"] >= 0.05


def test_tree_cpu_counts_live_children():
    import subprocess
    import time

    burn = "import sys, time\nt = time.process_time()\nwhile time.process_time() - t < 0.3: pass\nsys.stdin.read()"
    before = run.tree_cpu_s()
    child = subprocess.Popen([sys.executable, "-c", burn], stdin=subprocess.PIPE)
    try:
        deadline = time.time() + 10
        while run.tree_cpu_s() - before < 0.25 and time.time() < deadline:
            time.sleep(0.05)
        assert run.tree_cpu_s() - before >= 0.25
    finally:
        child.stdin.close()
        child.wait()
