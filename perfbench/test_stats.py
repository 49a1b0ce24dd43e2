"""Tests of the benchmark's own metric arithmetic (no Spark needed).

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import math
import statistics
import time

import pytest

from perfbench import stats
from perfbench.run import Ops, _metrics
from perfbench.trace import Tracer, engine_totals, task_s_by_layer


def test_median_odd_even_and_empty():
    assert stats.median([3.0, 1.0, 2.0]) == 2.0
    assert stats.median([4.0, 1.0, 3.0, 2.0]) == 2.5
    with pytest.raises(ValueError):
        stats.median([])


def test_geomean():
    assert stats.geomean([1.0, 4.0]) == pytest.approx(2.0)
    assert stats.geomean([2.0, 8.0, 4.0]) == pytest.approx(4.0)
    # a sub-second query weighs as much as a slow one
    assert stats.geomean([0.1, 10.0]) == pytest.approx(1.0)
    for bad in ([], [1.0, 0.0], [-1.0]):
        with pytest.raises(ValueError):
            stats.geomean(bad)


def test_iqr_share_uses_statistics_quantiles():
    values = [float(v) for v in range(1, 11)]
    q1, _, q3 = statistics.quantiles(values, n=4)
    assert (q1, q3) == (2.75, 8.25)
    assert stats.iqr_share(values) == pytest.approx((8.25 - 2.75) / 5.5)
    assert stats.iqr_share([5.0] * 4) == 0.0


def test_failure_share():
    assert stats.failure_share(0, 10) == 0.0
    assert stats.failure_share(3, 12) == 0.25
    with pytest.raises(ValueError):
        stats.failure_share(0, 0)
    with pytest.raises(ValueError):
        stats.failure_share(5, 4)


def test_driver_gap_merges_overlaps_and_clips_to_window():
    # stages [0,1] and [0.5,2] overlap; [3,4] stands alone: 3 s covered
    assert stats.covered([(0, 1), (0.5, 2), (3, 4)], 0, 5) == pytest.approx(3.0)
    assert stats.driver_gap([(0, 1), (0.5, 2), (3, 4)], 0, 5) == pytest.approx(2.0)
    # stages reaching outside the wave count only inside it
    assert stats.driver_gap([(-1, 0.5), (4.5, 10)], 0, 5) == pytest.approx(4.0)
    # a stage nested in another adds nothing
    assert stats.driver_gap([(1, 4), (2, 3)], 0, 5) == pytest.approx(2.0)
    assert stats.driver_gap([], 2, 5) == pytest.approx(3.0)
    assert stats.driver_gap([(6, 7)], 0, 5) == pytest.approx(5.0)
    with pytest.raises(ValueError):
        stats.driver_gap([], 5, 2)


def test_ops_counts_raised_steps_and_mismatches():
    ops = Ops()
    assert ops.step(lambda: 7, "ok") == 7
    assert ops.step(lambda: 1 / 0, "raises") is None
    assert ops.check(True, "match")
    assert not ops.check(False, "mismatch")
    assert (ops.attempted, ops.failed) == (4, 2)
    assert stats.failure_share(ops.failed, ops.attempted) == 0.5


def test_metrics_fill_unexercised_layers_and_reject_undeclared():
    units = {"a_s": "s", "b": "count"}
    assert _metrics({"a_s": 1.5}, units) == {
        "a_s": {"value": 1.5, "unit": "s"},
        "b": {"value": 0.0, "unit": "count"},
    }
    with pytest.raises(KeyError):
        _metrics({"typo": 1.0}, units)


class _Engine:
    def step(self, x):
        return x + 1


def test_tracer_spans_nesting_totals_and_restore():
    tr = Tracer(True)
    original = _Engine.__dict__["step"]
    tr.wrap(_Engine, "step", "layer.inner", eager=True)
    with tr.span("outer", "layer.outer", eager=True):
        assert _Engine().step(1) == 2
        with tr.span("self-call", "layer.inner", eager=False):
            _Engine().step(2)
    tr.unwrap_all()
    assert _Engine.__dict__["step"] is original
    outer, first, second, nested = tr.spans
    assert first.parent == 0 and second.parent == 0 and nested.parent == 2
    # a layer calling itself is counted once
    assert tr.total("layer.inner")[0] == 2
    assert tr.total("layer.inner", "step")[0] == 1
    assert tr.owner_of(nested.start).name == "step"
    assert tr.owner_of(outer.end + 1) is None


def test_tracer_off_records_nothing():
    tr = Tracer(False)
    tr.wrap(_Engine, "step", "layer", eager=True)
    with tr.span("x", "layer", eager=True):
        pass
    assert tr.spans == [] and _Engine.__dict__["step"].__name__ == "step"


def _stage(sid, start, end, run_ms, **kw):
    base = {"stageId": sid, "submissionTime": start * 1000, "completionTime": end * 1000,
            "executorRunTime": run_ms, "jvmGcTime": 0, "numTasks": 4,
            "shuffleReadBytes": 0, "shuffleWriteBytes": 0,
            "memoryBytesSpilled": 0, "diskBytesSpilled": 0}
    base.update(kw)
    return base


def test_engine_totals_and_stage_assignment_to_layers():
    now = time.time()
    tr = Tracer(True)
    with tr.span("write", "sources.sink", eager=True):
        time.sleep(0.01)
    sp = tr.spans[0]
    stages = [
        _stage(1, sp.start, sp.end, 1500, shuffleWriteBytes=10, memoryBytesSpilled=3),
        _stage(2, now + 100, now + 101, 500, jvmGcTime=250, diskBytesSpilled=2),
    ]
    totals = engine_totals(stages, [{"jobId": 0}])
    assert totals["spark.jobs"] == 1 and totals["spark.stages"] == 2
    assert totals["spark.tasks"] == 8
    assert math.isclose(totals["spark.task_s"], 2.0)
    assert math.isclose(totals["spark.gc_s"], 0.25)
    assert totals["spark.spill_bytes"] == 5
    assert task_s_by_layer(tr, stages, "crawl") == {"sources.sink": 1.5, "crawl": 0.5}
