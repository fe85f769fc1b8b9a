"""Self-tests of the benchmark's own logic (no Spark session needed).

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import os
import sys
from types import SimpleNamespace

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE), os.path.join(os.path.dirname(HERE), "tests")]

import pytest  # noqa: E402

import report  # noqa: E402
import stats  # noqa: E402
import toolmix  # noqa: E402
import workloads  # noqa: E402


def test_same_seed_same_requests_other_seed_other_requests():
    assert toolmix.request_sequence(3) == toolmix.request_sequence(3)
    assert toolmix.request_sequence(3) != toolmix.request_sequence(4)


def test_every_seed_sends_the_same_kinds_of_request():
    def kinds(requests):
        return sorted(
            (m["params"]["name"], m["params"]["arguments"]["granularity"], "error" in e)
            for m, e in requests
        )

    (warm1, pass1), (warm2, pass2) = toolmix.request_sequence(1), toolmix.request_sequence(2)
    assert kinds(pass1) == kinds(pass2)
    assert [kinds([r]) for r in warm1] == [kinds([r]) for r in warm2]  # same order too
    assert len(pass1) == len(toolmix.TEMPLATES)


def test_tail_is_the_highest_percentile_with_ten_samples_beyond():
    assert stats.tail(list(range(1, 101))) == (90, 90)
    assert stats.tail(list(range(32, 0, -1))) == (68, 22)  # order does not matter
    p, value = stats.tail([float(x) for x in range(1, 12)])
    assert (p, value) == (9, 1.0)
    with pytest.raises(ValueError):
        stats.tail(list(range(10)))


def test_self_time_subtracts_covered_child_time():
    span = {"start": 0.0, "end": 10.0}
    kids = [{"start": 1.0, "end": 3.0}, {"start": 2.0, "end": 4.0}, {"start": 9.0, "end": 12.0}]
    assert stats.self_time(span, kids) == pytest.approx(6.0)


def test_a_request_that_raises_counts_as_failed(monkeypatch):
    from weather_data_ingestion_service_spark.api import serve

    calls = []

    def stub(spark, req):
        calls.append(req["params"]["name"])
        if len(calls) % 4 == 0:
            raise AssertionError("exprs should not be empty")
        message_id = req["id"]
        text = '{"status": "error", "message": "Could not find coordinates for x"}'
        return {"jsonrpc": "2.0", "id": message_id,
                "result": {"content": [{"type": "text", "text": text}], "isError": True}}

    monkeypatch.setattr(serve, "handle_rpc", stub)
    monkeypatch.setattr(workloads.tracing, "gc_seconds", lambda spark: 0.0)
    wl = workloads.ToolServe(seed=5)
    ops = wl.run_pass(spark=None)
    assert len(ops) == len(wl.sequence)
    assert [op.failed for op in ops if op.failed] == ["AssertionError"] * (len(ops) // 4)

    passes = [{"traced": False, "wall_s": 1.0, "gc_s": 0.0, "ops": ops}]
    args = SimpleNamespace(workload="tool_serve", trace=0)
    out = report.result(args, [], [], passes, None, setup_s=1.0, session_s=1.0, cores=4)
    assert (out["attempted"], out["failed"]) == (len(ops), len(ops) // 4)
    # the stub answers every request with the unknown-place envelope, so
    # every request that expected data is a wrong output
    assert out["correct"] is False


def test_oracle_answers_are_reused_and_still_checked(tmp_path, monkeypatch):
    import oracle_utils

    ops = object.__new__(workloads.IndexIngest)
    ops.sf_dir, ops.memo_dir = os.path.join(HERE, "data", "sf0.1"), str(tmp_path)
    ops.oracle = {"q": "SELECT count(*) AS a FROM region"}

    def check(rows):
        ops._collected = {"q": (["a"], rows)}
        return ops.verify(None, [])

    assert check([(5,)]) == []
    monkeypatch.setattr(oracle_utils, "duckdb_connection", None)  # fails if called
    assert check([(5,)]) == []
    assert check([(4,)]) == ["q: result differs from its oracle"]
