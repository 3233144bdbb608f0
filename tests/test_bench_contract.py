"""The bench CLI's output contract (VERDICT r10 item 2): EXACTLY one
JSON line on stdout, and every headline field must sit in the LAST
2000 characters — the driver's capture window keeps only the tail, and
round 10's record lost its total plus 32 of 50 per-query timings when
the noise fields grew the line beyond it. This test is what turns a
future key-reordering or field addition back into a red test instead
of a silently headless bench artifact."""

from __future__ import annotations

import json
import os
import subprocess
import sys


def _run_bench(tmp_path, *names):
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = dict(
        os.environ,
        SPARK_GRAFT_SF_DIR="/root/testdata/sf0.001",
        SPARK_GRAFT_WARM_DIR="/root/testdata/sf0.001",  # skip warm pass
        SPARK_GRAFT_BENCH_PASSES="1",
        SPARK_GRAFT_BENCH_DETAIL=str(tmp_path / "detail.json"),
    )
    return subprocess.run(
        [sys.executable, os.path.join(repo, "bench.py"), *names],
        env=env,
        capture_output=True,
        text=True,
        timeout=900,
    )


def test_bench_stdout_contract(tmp_path):
    proc = _run_bench(tmp_path)
    assert proc.returncode == 0, proc.stderr[-2000:]
    lines = [ln for ln in proc.stdout.splitlines() if ln.strip()]
    assert len(lines) == 1, f"stdout must be ONE JSON line, got {len(lines)}"
    line = lines[0]
    result = json.loads(line)
    # required driver fields present and sane
    assert result["metric"] == "total_query_wall_seconds"
    assert result["unit"] == "sec"
    assert result["value"] > 0
    assert len(result["queries"]) == result["n_queries"] > 0
    # the headline survives a tail-only capture window
    tail = line[-2000:]
    for needle in ('"metric":', '"value":', '"sf":', '"cpus":', '"median_rel_spread_pct":', '"top5":'):
        assert needle in tail, f"{needle} fell out of the 2000-char tail"
    # the record states the core count it ran at, in both places
    detail = json.load(open(tmp_path / "detail.json"))
    assert isinstance(result["cpus"], int) and result["cpus"] == detail["cpus"] > 0
    if os.environ.get("SPARK_GRAFT_CPUS"):
        assert result["cpus"] == int(os.environ["SPARK_GRAFT_CPUS"])
    # full per-query detail lives in the side file, not on stdout
    assert set(detail["queries_median"]) == set(result["queries"])
    assert "queries_median" not in result


def test_bench_named_queries_span_both_tiers(tmp_path):
    """Named queries replace the driver-facing set, from either tier;
    an unknown name fails before any Spark work."""
    proc = _run_bench(tmp_path, "no_such_query")
    assert proc.returncode != 0 and "no_such_query" in proc.stderr
    # q01 is driver-facing, a01 is extra-tier
    proc = _run_bench(tmp_path, "q01_pricing_summary", "a01_count_distinct")
    assert proc.returncode == 0, proc.stderr[-2000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(result["queries"]) == {"q01_pricing_summary", "a01_count_distinct"}
    assert result["n_queries"] == 2


def test_clear_process_stores_resets_model_store():
    """Each timed bench pass must start with cold process-level model
    stores (VERDICT r14 item 1): a trained-tokenizer model cached by
    pass N must not subsidize pass N+1's eval timing. The hook is the
    registry-level clear_process_stores(), called by bench.timed_pass
    alongside spark.catalog.clearCache()."""
    from kaylee_spark.queries import clear_process_stores
    from kaylee_spark.queries.llm_text import _BPE_MODELS

    _BPE_MODELS[("sentinel", 0, 5, 1)] = [(1, 1, "a", "b", "ab", 2)]
    clear_process_stores()
    assert _BPE_MODELS == {}, "clear_process_stores must empty _BPE_MODELS"


def test_bench_timed_pass_clears_stores():
    """bench.py's timed_pass source must invoke the store-clear hook —
    a regression here silently re-inflates eval-rung timings."""
    import inspect

    import bench

    src = inspect.getsource(bench.main)
    assert "clear_process_stores()" in src
