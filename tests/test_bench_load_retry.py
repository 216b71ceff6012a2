"""bench.py's bounded load wait (round 16, VERDICT r15 ask #7):
BENCH_r14 and r15 were both load-contaminated; the gate reported
honestly but the artifact of record never got a fair shot. The wait
and the retry hook must be bounded, honest, and disabled-able."""

from __future__ import annotations

import importlib.util
import os
import sys


def _bench():
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    spec = importlib.util.spec_from_file_location(
        "bench_under_test", os.path.join(repo, "bench.py")
    )
    mod = importlib.util.module_from_spec(spec)
    sys.modules["bench_under_test"] = mod
    spec.loader.exec_module(mod)
    return mod


def test_wait_returns_immediately_when_idle(monkeypatch):
    bench = _bench()
    monkeypatch.setattr(os, "getloadavg", lambda: (1.0, 1.0, 1.0))
    slept = []
    monkeypatch.setattr(bench.time, "sleep", lambda s: slept.append(s))
    assert bench._wait_for_idle(4.0, 240.0) == 0.0
    assert not slept


def test_wait_polls_until_load_drops(monkeypatch):
    bench = _bench()
    # three busy polls, then idle
    seq = iter([(9.0,) * 3, (7.0,) * 3, (5.0,) * 3, (3.9,) * 3])
    monkeypatch.setattr(os, "getloadavg", lambda: next(seq))
    monkeypatch.setattr(bench.time, "sleep", lambda s: None)
    waited = bench._wait_for_idle(4.0, 240.0)
    assert waited == 30.0  # 3 sleeps of 10s before the idle poll


def test_wait_respects_budget(monkeypatch):
    bench = _bench()
    monkeypatch.setattr(os, "getloadavg", lambda: (99.0, 99.0, 99.0))
    sleeps = []
    monkeypatch.setattr(bench.time, "sleep", lambda s: sleeps.append(s))
    waited = bench._wait_for_idle(4.0, 35.0)
    # 10s polls fit the 35s budget 3 times; never overshoots
    assert waited == 30.0 and sum(sleeps) == 30.0


def test_wait_handles_missing_getloadavg(monkeypatch):
    bench = _bench()

    def boom():
        raise OSError("no loadavg on this platform")

    monkeypatch.setattr(os, "getloadavg", boom)
    assert bench._wait_for_idle(4.0, 240.0) == 0.0


def test_external_cpu_cores_arithmetic():
    bench = _bench()
    # box burned 100 cpu-seconds, our tree burned 90 -> 10 external
    # cpu-seconds over 10 wall-seconds = 1.0 cores average
    assert bench._external_cpu_cores((100.0, 50.0), (200.0, 140.0), 10.0) == 1.0


def test_external_cpu_cores_none_propagates():
    bench = _bench()
    assert bench._external_cpu_cores(None, (1.0, 1.0), 10.0) is None
    assert bench._external_cpu_cores((1.0, 1.0), None, 10.0) is None
    assert bench._external_cpu_cores((1.0, 1.0), (2.0, 2.0), 0.0) is None


def test_external_cpu_cores_clamps_negative():
    """Reaped-children accounting can make the own-tree delta slightly
    exceed the box delta (a child's lifetime CPU lands on the parent at
    reap time); the estimate must clamp at 0, never go negative."""
    bench = _bench()
    assert bench._external_cpu_cores((100.0, 10.0), (101.0, 20.0), 5.0) == 0.0


def test_cpu_snapshot_counts_own_spin():
    """The self-tree counter must attribute THIS process's burned CPU:
    spin ~0.3 cpu-seconds and require most of it to appear in the own
    component (the box component necessarily grows at least as much)."""
    import time as _time

    bench = _bench()
    before = bench._cpu_snapshot()
    assert before is not None, "Linux test box must expose /proc"
    t0 = _time.process_time()
    x = 0
    while _time.process_time() - t0 < 0.3:
        x += 1
    after = bench._cpu_snapshot()
    box_delta = after[0] - before[0]
    own_delta = after[1] - before[1]
    assert own_delta >= 0.15, f"own CPU delta {own_delta} missed the spin"
    assert box_delta >= own_delta - 0.05, "box counter must cover own work"


def _battery(bench, wide: bool):
    """Headline samples; ``wide`` gives two queries a degraded-phase spread."""
    samples = {n: [1.0, 1.0, 1.1] for n in bench.HEADLINE}
    if wide:
        samples[bench.HEADLINE[0]] = [1.0, 1.0, 3.0]
        samples[bench.HEADLINE[1]] = [1.0, 2.0, 2.5]
    return samples, {"q_tpch_q1": [0.5, 0.5, 0.5]}, 0.0


def _retry_harness(monkeypatch, bench, wide_each_call: list[bool], loadavg: float = 1.0):
    calls = []

    def timed_passes(tag=""):
        calls.append(tag)
        return _battery(bench, wide_each_call[len(calls) - 1])

    monkeypatch.setattr(bench, "_wait_for_idle", lambda gate, budget: 0.0)
    ctx = lambda: {"loadavg_1m": loadavg}  # noqa: E731
    return calls, timed_passes, ctx


def test_spread_flagged_battery_is_retried_once_and_both_attempts_recorded(monkeypatch):
    bench = _bench()
    calls, passes, ctx = _retry_harness(monkeypatch, bench, [True, False])
    env = {"loadavg_1m": 1.0}
    samples, tpch, _, first, env_after = bench._battery_of_record(passes, ctx, env, 4.0, 240.0)
    assert calls == ["", "retry-"]
    assert first["reasons"] == ["spread"]
    assert first["spread_wide_queries"] == bench.HEADLINE[:2]
    assert first["total"] == round(1.0 * (len(bench.HEADLINE) - 2) + 1.0 + 2.0, 3)
    assert first["env_before"] is env
    assert bench._spread_wide(samples) == []  # the retry is the figure of record
    assert env_after == {"loadavg_1m": 1.0} and env_after is not env


def test_spread_retry_happens_at_most_once(monkeypatch):
    bench = _bench()
    calls, passes, ctx = _retry_harness(monkeypatch, bench, [True, True, True])
    samples, *_, first, _ = bench._battery_of_record(passes, ctx, {"loadavg_1m": 1.0}, 4.0, 240.0)
    assert calls == ["", "retry-"]
    assert first is not None and len(bench._spread_wide(samples)) == 2


def test_clean_battery_or_disabled_wait_is_not_retried(monkeypatch):
    bench = _bench()
    calls, passes, ctx = _retry_harness(monkeypatch, bench, [False])
    assert bench._battery_of_record(passes, ctx, {"loadavg_1m": 1.0}, 4.0, 240.0)[3] is None
    assert calls == [""]
    calls, passes, ctx = _retry_harness(monkeypatch, bench, [True])
    assert bench._battery_of_record(passes, ctx, {"loadavg_1m": 1.0}, 4.0, 0.0)[3] is None
    assert calls == [""]


def test_spread_retry_waits_for_an_idle_box(monkeypatch):
    bench = _bench()
    calls, passes, ctx = _retry_harness(monkeypatch, bench, [True], loadavg=9.0)
    assert bench._battery_of_record(passes, ctx, {"loadavg_1m": 1.0}, 4.0, 240.0)[3] is None
    assert calls == [""]


def test_load_contaminated_battery_is_still_retried(monkeypatch):
    bench = _bench()
    calls, passes, ctx = _retry_harness(monkeypatch, bench, [False, False])
    *_, first, env_after = bench._battery_of_record(passes, ctx, {"loadavg_1m": 6.0}, 4.0, 240.0)
    assert calls == ["", "retry-"]
    assert first["reasons"] == ["load"] and first["loadavg_1m"] == 6.0
    assert env_after["loadavg_1m"] == 1.0


class _Seq:
    """A Scala ``Seq`` as py4j hands it over: ``size()`` and ``apply(i)``."""

    def __init__(self, items):
        self._items = list(items)

    def size(self):
        return len(self._items)

    def apply(self, i):
        return self._items[i]


class _Opt:
    def __init__(self, value):
        self._value = value

    def isDefined(self):
        return self._value is not None

    def get(self):
        return self._value


class _Job:
    def __init__(self, job_id, group, stage_ids):
        self._id, self._group, self._sids = job_id, group, stage_ids

    def jobId(self):
        return self._id

    def jobGroup(self):
        return _Opt(self._group)

    def stageIds(self):
        return _Seq(self._sids)


class _Stage:
    def __init__(self, ms):
        self._ms = ms

    def executorRunTime(self):
        return self._ms


def _spark_with_status_store(jobs, stage_ms):
    class _Store:
        def jobsList(self, _statuses):
            return _Seq(jobs)

        def lastStageAttempt(self, sid):
            return _Stage(stage_ms[sid])

    class _Sc:
        def statusStore(self):
            return _Store()

    class _Jsc:
        def sc(self):
            return _Sc()

    class _SparkContext:
        _jsc = _Jsc()

    class _Spark:
        sparkContext = _SparkContext()

    return _Spark()


def test_stage_times_count_a_shared_stage_once():
    """Stage 1 runs in group A's job and is listed again, skipped, by
    group B's later job: its run time belongs to A only. Jobs are read
    out of id order, and a group outside the prefix still owns the
    stages its jobs ran."""
    bench = _bench()
    jobs = [
        _Job(5, "bench:B", [1, 3]),
        _Job(2, "bench:A", [1, 2]),
        _Job(1, "other", [0]),
        _Job(7, "bench:C", [0, 4]),
        _Job(8, None, [5]),
    ]
    stage_ms = {0: 1000, 1: 100, 2: 20, 3: 3, 4: 4, 5: 5}
    out = bench._stage_times_ms(_spark_with_status_store(jobs, stage_ms), "bench:")
    assert out == {"bench:A": 120, "bench:B": 3, "bench:C": 4}
