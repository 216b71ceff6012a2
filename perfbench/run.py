"""Product-pipeline benchmark: drives the public pipeline API the way the
reference's cron poller does and measures each stage from outside.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

One closed-loop client runs ``pipeline.ingest_schedule``, then polls (the
``.pb`` payload through ``decode_protobuf_payloads_auto`` and
``pipeline.ingest_realtime``), ``pipeline.consolidate`` /
``consolidate_incremental``, and a dashboard aggregate over
``trip_updates_with_diffs``. Inputs come from ``gen.py`` with the given
seed; every committed table is checked against the generator's ledger.

With ``--trace 0`` the last stdout line carries the end-to-end metrics;
with ``--trace 1`` it carries the per-layer metrics from ``layers.py``.
Working files go to ``.perfbench_work/`` (removed at exit) and the run's
record (session settings, samples, checks, spans) to ``.perfbench_out/``,
both under the checkout root. See ``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import datetime as dt
import json
import os
import shutil
import statistics
import sys
import time
import traceback
from concurrent.futures import ThreadPoolExecutor
from contextlib import nullcontext
from urllib.parse import urlparse

import gen
import layers

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
KEYS = ["trip_id", "start_date", "stop_sequence", "stop_id"]
DELAY = "arrival_time_diff_in_minutes"
#: untimed loop iterations on the real state before the timed window
WARM_STEPS = 2

#: (name, unit, better) of every end-to-end metric, in print order
END_TO_END = [
    ("setup_s", "s", "lower"),
    ("poll_s.p50", "s", "lower"),
    ("poll_s.tail", "s", "lower"),
    ("poll_rows_per_s", "1/s", "higher"),
    ("freshness_s.p50", "s", "lower"),
    ("freshness_s.tail", "s", "lower"),
    ("schedule_ingest_s", "s", "lower"),
    ("consolidate_s", "s", "lower"),
    ("dashboard_read_s.p50", "s", "lower"),
    ("store_bytes_per_row", "bytes", "lower"),
    ("peak_rss_mb", "MB", "lower"),
]


def tail(values: list[float]) -> tuple[float, float]:
    """(percentile, value) of the highest percentile with at least ten
    samples beyond it; the median while there are fewer than twenty."""
    s = sorted(values)
    n = len(s)
    if n < 20:
        return 50.0, statistics.median(s)
    return 100.0 * (n - 10) / n, s[n - 11]


def tree_peak_rss_mb() -> float:
    """Sum of the peak resident sizes (VmHWM) of this process and all its
    descendants: the Spark driver JVM and the Python workers."""
    parent = {}
    for pid in os.listdir("/proc"):
        if pid.isdigit():
            try:
                with open(f"/proc/{pid}/stat") as f:
                    parent[int(pid)] = int(f.read().rsplit(")", 1)[1].split()[1])
            except OSError:
                continue
    tree, frontier = {os.getpid()}, [os.getpid()]
    while frontier:
        p = frontier.pop()
        kids = [c for c, pp in parent.items() if pp == p and c not in tree]
        tree.update(kids)
        frontier += kids
    kb = 0
    for pid in tree:
        try:
            with open(f"/proc/{pid}/status") as f:
                kb += next((int(l.split()[1]) for l in f if l.startswith("VmHWM:")), 0)
        except OSError:
            continue
    return kb / 1024


class Tables:
    """One store and the inputs that feed it, with the poll count applied."""

    def __init__(self, pipeline, inputs: str, root: str):
        with open(os.path.join(inputs, "ledger.json")) as f:
            self.ledger = json.load(f)
        self.inputs = inputs
        self.store = pipeline.Store(root)
        self.root = root
        self.polls = 0  # polls committed to trip_updates
        self.diffs_polls = 0  # polls reflected in the diffs table
        self.trip_updates = None  # DataFrame the last ingest_realtime returned
        self.gtfs_data = None

    def expected(self, polls: int) -> dict:
        return self.ledger["expected"][polls]

    def payload(self, k: int) -> bytes:
        with open(os.path.join(self.inputs, "polls", f"poll_{k:04d}.pb"), "rb") as f:
            return f.read()

    def has_poll(self) -> bool:
        return self.polls < len(self.ledger["poll_rows"])


class Bench:
    """One run of one workload: session, set-up, timed window, output check."""

    def __init__(self, workload: str, seed: int, trace: bool, spec: str | None = None):
        """``spec`` names the generator spec when it differs from the
        workload's own (the tests run a workload's loop on the tiny spec)."""
        self.workload, self.seed, self.trace = workload, seed, trace
        self.spec = spec or workload
        tag = f"{workload}-seed{seed}-trace{int(trace)}"
        self.work = os.path.join(ROOT, ".perfbench_work", f"{tag}-{os.getpid()}")
        self.out_path = os.path.join(ROOT, ".perfbench_out", f"{tag}.json")
        self.samples: dict[str, list[float]] = {}
        self.steps: dict[bool, list[float]] = {True: [], False: []}
        self.attempted = 0
        self.failures: list[str] = []
        self.spark = None
        self.tracer = None

    # -- session -----------------------------------------------------------

    def start_session(self):
        from transit_efficiency_analysis_spark.session import get_spark

        cores = len(os.sched_getaffinity(0))
        local = os.path.join(self.work, "local")
        tmp = os.path.join(self.work, "tmp")
        os.makedirs(local)
        os.makedirs(tmp)
        # Python workers import the package to decode .pb payloads
        os.environ["PYTHONPATH"] = os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
        )
        os.environ["SPARK_LOCAL_DIRS"] = local
        os.environ["TMPDIR"] = tmp
        # also reaches spark-submit's launcher JVM, which writes perf data
        # to the system temp directory otherwise
        os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
        self.session_conf = {
            "master": f"local[{cores}]",
            "spark.sql.shuffle.partitions": str(cores),
            "spark.driver.memory": "2g",
            "spark.local.dir": local,
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            # keep every job of the run for the traced readback
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.ui.retainedTasks": "1000000",
            "PYTHONPATH": os.environ["PYTHONPATH"],
            "SPARK_LOCAL_DIRS": local,
            "JAVA_TOOL_OPTIONS": os.environ["JAVA_TOOL_OPTIONS"],
        }
        extra = {
            k: v for k, v in self.session_conf.items() if k.startswith("spark.")
        }
        self.spark = get_spark(
            "perfbench", master=f"local[{cores}]", shuffle_partitions=cores, extra_conf=extra
        )

    def close(self) -> None:
        if self.spark is not None:
            from pyspark import SparkContext

            gateway = SparkContext._gateway
            self.spark.stop()
            if gateway is not None:
                gateway.shutdown()
                proc = getattr(gateway, "proc", None)
                if proc is not None:
                    proc.stdin.close()
                    proc.wait(timeout=60)
        shutil.rmtree(self.work, ignore_errors=True)

    # -- operations ----------------------------------------------------------

    def check(self, what: str, got, want) -> None:
        self.attempted += 1
        if got != want:
            self.failures.append(f"{what}: got {got!r}, want {want!r}")

    def op(self, what: str, fn, *args):
        """Run one pipeline operation; an exception counts as a failed op."""
        self.attempted += 1
        try:
            return fn(*args)
        except Exception:  # noqa: BLE001 - record and keep the loop running
            traceback.print_exc()
            self.failures.append(f"{what}: raised")
            return None

    def schedule(self, t: Tables) -> float:
        from transit_efficiency_analysis_spark import pipeline

        start = time.perf_counter()
        with self.span("pipeline.ingest_schedule"):
            t.gtfs_data = pipeline.ingest_schedule(
                self.spark, os.path.join(t.inputs, "gtfs"), t.store
            )
        return time.perf_counter() - start

    def seed_state(self, t: Tables) -> None:
        from transit_efficiency_analysis_spark import pipeline, schemas

        feed = self.spark.read.schema(schemas.REALTIME_FEED_RAW).parquet(
            os.path.join(t.inputs, "state", "seed_feed.parquet")
        )
        now = dt.datetime.fromtimestamp(t.ledger["seed_ts"], dt.timezone.utc)
        t.trip_updates = pipeline.ingest_realtime(
            self.spark, feed, t.store, now=now.replace(tzinfo=None)
        )

    def poll(self, t: Tables) -> float:
        from transit_efficiency_analysis_spark import pipeline
        from transit_efficiency_analysis_spark.sources.gtfs_realtime import (
            decode_protobuf_payloads_auto,
        )

        payload = t.payload(t.polls)
        start = time.perf_counter()
        raw = self.spark.createDataFrame([(bytearray(payload),)], "payload binary")
        with self.span("sources.gtfs_realtime.decode_protobuf_payloads_auto", jobs=False):
            feed = decode_protobuf_payloads_auto(raw)
        with self.span("pipeline.ingest_realtime") as sp:
            if sp is not None:
                sp.info["batch_rows"] = t.ledger["poll_rows"][t.polls]
                sp.info["batch_bytes"] = len(payload)
            t.trip_updates = pipeline.ingest_realtime(
                self.spark, feed, t.store, weather=tuple(t.ledger["weather"])
            )
        t.polls += 1
        return time.perf_counter() - start

    def consolidate(self, t: Tables, incremental: bool) -> float:
        from transit_efficiency_analysis_spark import pipeline

        start = time.perf_counter()
        if incremental:
            with self.span("pipeline.consolidate_incremental"):
                pipeline.consolidate_incremental(self.spark, t.store, [t.ledger["today"]])
        else:
            with self.span("pipeline.consolidate"):
                pipeline.consolidate(self.spark, t.store)
        t.diffs_polls = t.polls
        return time.perf_counter() - start

    def dashboard(self, t: Tables) -> float:
        """Mean delay by day type and local hour; the per-group row counts
        and delay sums must add up to the ledger's diffs table."""
        from pyspark.sql import functions as F

        start = time.perf_counter()
        with self.span("dashboard.read") as sp:
            df = (
                self.spark.read.parquet(t.store.diffs)
                .groupBy("day_type", "sudbury_hour_of_day")
                .agg(
                    F.avg(DELAY).alias("mean_delay_min"),
                    F.count(F.lit(1)).alias("rows"),
                    F.sum(DELAY).alias("delay_sum_min"),
                )
            )
            rows = df.collect()
        elapsed = time.perf_counter() - start
        if sp is not None:
            phases = df._jdf.queryExecution().tracker().phases()
            for phase in ("analysis", "optimization", "planning"):
                summary = phases.get(phase)
                if summary.isDefined():
                    sp.info[f"catalyst_{phase}_ms"] = summary.get().durationMs()
            sp.info["files_scanned"] = len(self.spark.read.parquet(t.store.diffs).inputFiles())
        want = t.expected(t.diffs_polls)
        self.check("dashboard rows", sum(r["rows"] for r in rows), want["diffs_rows"])
        self.check(
            "dashboard delay sum",
            sum(r["delay_sum_min"] for r in rows),
            want["diffs_arrival_sum_min"],
        )
        return elapsed

    def span(self, name: str, jobs: bool = True):
        if self.tracer is None:
            return nullcontext()
        return self.tracer.span(name, jobs=jobs)

    def record(self, name: str, value: float | None) -> None:
        if value is not None:
            self.samples.setdefault(name, []).append(value)

    # -- phases --------------------------------------------------------------

    def setup(self) -> None:
        """Session, inputs, a warm-up pass over the tiny inputs, and the
        seeded state. Everything here is timed as ``setup_s``."""
        start = time.perf_counter()
        os.makedirs(self.work)
        self.start_session()
        from transit_efficiency_analysis_spark import pipeline

        self.setup_phases = {"session_s": time.perf_counter() - start}
        tiny_in = os.path.join(self.work, "in-tiny")
        gen.generate(tiny_in, gen.SPECS["tiny"], self.seed)
        tiny = Tables(pipeline, tiny_in, os.path.join(self.work, "tiny"))

        def realtime_leg() -> None:
            self.seed_state(tiny)
            self.poll(tiny)

        # One pass of every operation over tiny inputs, so JVM class
        # loading, code generation and the Python worker start happen here
        # and not in the first timed call. The schedule and realtime legs
        # are independent, and the real inputs are generated meanwhile.
        with ThreadPoolExecutor(max_workers=3) as pool:
            legs = [
                pool.submit(gen.generate, os.path.join(self.work, "in"),
                            gen.SPECS[self.spec], self.seed),
                pool.submit(self.schedule, tiny),
                pool.submit(realtime_leg),
            ]
            for leg in legs:
                leg.result()
        self.consolidate(tiny, incremental=False)
        self.dashboard(tiny)
        self.consolidate(tiny, incremental=True)
        self.dashboard(tiny)
        self.setup_phases["warm_up_s"] = time.perf_counter() - start
        self.tables = Tables(pipeline, os.path.join(self.work, "in"), os.path.join(self.work, "store"))
        self.seed_state(self.tables)
        self.setup_phases["seed_s"] = time.perf_counter() - start
        # Untimed calls on the real state: the generated code of an
        # operation only reaches its steady speed after a few runs at full
        # size. The loop's consolidate_incremental needs gtfs_data first.
        self.schedule(self.tables)
        self.consolidate(self.tables, incremental=False)
        for _ in range(WARM_STEPS):
            self.step(record=False)
        if self.trace:
            self.tracer = layers.Tracer(self.spark, self.tables.root)
            self.tracer.install(pipeline)
        self.record("setup_s", time.perf_counter() - start)

    def cycle_tail(self, t: Tables, record: bool = True) -> float | None:
        """consolidate_incremental of the polled date, then the dashboard."""
        a = self.op("consolidate_incremental", self.consolidate, t, True)
        b = self.op("dashboard", self.dashboard, t)
        if record:
            self.record("dashboard_read_s", b)
        return None if a is None or b is None else a + b

    def step(self, record: bool = True) -> bool:
        """One loop iteration of the workload; False when the polls run out."""
        t = self.tables
        if not t.has_poll():
            return False
        p = self.op("poll", self.poll, t)
        if self.workload == "freshness_cycle":
            rest = self.cycle_tail(t, record)
            if record:
                self.record("freshness_s", None if p is None or rest is None else p + rest)
        if record and p is not None:
            self.record("poll_s", p)
            self.record("poll_rows_per_s", t.ledger["poll_rows"][t.polls - 1] / p)
        return True

    def measure(self, seconds: float) -> None:
        t = self.tables
        if self.tracer is not None:
            self.tracer.active = True
        deadline = time.perf_counter() + seconds
        self.record("schedule_ingest_s", self.op("ingest_schedule", self.schedule, t))
        self.record("consolidate_s", self.op("consolidate", self.consolidate, t, False))
        self.record("dashboard_read_s", self.op("dashboard", self.dashboard, t))
        # the traced run alternates traced and untraced iterations, so the
        # tracing overhead is measured in the same process
        n, min_steps = 0, 2 if self.trace else 1
        while n < min_steps or time.perf_counter() < deadline:
            if self.tracer is not None:
                self.tracer.active = n % 2 == 0
            start = time.perf_counter()
            if not self.step():
                break
            self.steps[n % 2 == 0 or not self.trace].append(time.perf_counter() - start)
            n += 1
        if self.tracer is not None:
            self.tracer.active = True
        if self.workload != "freshness_cycle":
            # freshness of the newest poll
            rest = self.cycle_tail(t)
            last = self.samples.get("poll_s", [None])[-1]
            self.record("freshness_s", None if last is None or rest is None else last + rest)
        if self.tracer is not None:
            self.tracer.active = False

    def verify(self) -> dict:
        """Compare the committed tables with the ledger; returns row and
        byte totals of the live tables."""
        from pyspark.sql import functions as F

        t = self.tables
        want = t.expected(t.polls)
        tu = t.trip_updates
        seeded = F.col("created_at") == F.timestamp_seconds(F.lit(t.ledger["seed_ts"]))
        got = tu.agg(
            F.count(F.lit(1)).alias("rows"),
            F.count_distinct(*KEYS).alias("keys"),
            F.count("updated_at").alias("updated"),
            F.count("created_at").alias("created"),
            F.sum(seeded.cast("long")).alias("seed_created"),
        ).first()
        self.check("trip_updates rows", got["rows"], want["keys"])
        self.check("trip_updates distinct keys", got["keys"], want["keys"])
        self.check("trip_updates non-NULL updated_at", got["updated"], want["updated_keys"])
        self.check("trip_updates non-NULL created_at", got["created"], want["keys"])
        self.check(
            "created_at kept for seeded keys", got["seed_created"], t.ledger["seeded_rows"]
        )
        diffs = self.spark.read.parquet(t.store.diffs)
        d = diffs.agg(F.count(F.lit(1)).alias("rows"), F.sum(DELAY).alias("delay")).first()
        want = t.expected(t.diffs_polls)
        self.check("diffs rows", d["rows"], want["diffs_rows"])
        self.check("diffs delay sum", d["delay"], want["diffs_arrival_sum_min"])
        gd_rows = t.gtfs_data.count()
        self.check("gtfs_data rows", gd_rows, t.ledger["schedule_rows"])
        files = set()
        for df in (t.gtfs_data, tu, diffs):
            files.update(df.inputFiles())
        size = sum(os.path.getsize(urlparse(f).path) for f in files)
        return {"rows": got["rows"] + d["rows"] + gd_rows, "bytes": size}

    def end_to_end(self, live: dict) -> tuple[dict, dict]:
        s = self.samples
        med = lambda k: statistics.median(s[k])  # noqa: E731
        poll_p, poll_tail = tail(s["poll_s"])
        fresh_p, fresh_tail = tail(s["freshness_s"])
        values = {
            "setup_s": s["setup_s"][0],
            "poll_s.p50": med("poll_s"),
            "poll_s.tail": poll_tail,
            "poll_rows_per_s": med("poll_rows_per_s"),
            "freshness_s.p50": med("freshness_s"),
            "freshness_s.tail": fresh_tail,
            "schedule_ingest_s": med("schedule_ingest_s"),
            "consolidate_s": med("consolidate_s"),
            "dashboard_read_s.p50": med("dashboard_read_s"),
            "store_bytes_per_row": live["bytes"] / live["rows"],
            "peak_rss_mb": self.peak_rss_mb,
        }
        n = {k: len(v) for k, v in s.items()}
        notes = {
            "poll_s.p50": f"n={n['poll_s']}",
            "poll_s.tail": f"p{poll_p:.0f} of n={n['poll_s']}",
            "freshness_s.p50": f"n={n['freshness_s']}",
            "freshness_s.tail": f"p{fresh_p:.0f} of n={n['freshness_s']}",
            "schedule_ingest_s": f"median of n={n['schedule_ingest_s']}",
            "consolidate_s": f"median of n={n['consolidate_s']}",
            "dashboard_read_s.p50": f"n={n['dashboard_read_s']}",
        }
        return values, notes

    def run(self, seconds: float) -> dict:
        self.setup()
        self.measure(seconds)
        self.peak_rss_mb = tree_peak_rss_mb()
        live = self.verify()
        record = {
            "workload": self.workload,
            "seed": self.seed,
            "seconds": seconds,
            "session": self.session_conf,
            "setup_phases_cumulative_s": self.setup_phases,
            "samples": self.samples,
            "failures": self.failures,
        }
        if self.trace:
            traced, untraced = self.steps[True], self.steps[False]
            overhead = 100.0 * (statistics.median(traced) / statistics.median(untraced) - 1)
            metrics, record["spans"] = self.tracer.layer_metrics(overhead)
            units = {name: unit for name, unit, _ in layers.per_layer_metrics()}
            notes = {}
        else:
            metrics, notes = self.end_to_end(live)
            units = {name: unit for name, unit, _ in END_TO_END}
        record["metrics"] = metrics
        os.makedirs(os.path.dirname(self.out_path), exist_ok=True)
        with open(self.out_path, "w") as f:
            json.dump(record, f, indent=1, default=str)
        for name, value in metrics.items():
            note = f"  ({notes[name]})" if name in notes else ""
            print(f"{name:<60} {value:>16.6g} {units[name]}{note}")
        for failure in self.failures:
            print(f"FAILED {failure}")
        return {
            "correct": not self.failures,
            "attempted": self.attempted,
            "failed": len(self.failures),
            "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
        }


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=gen.WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    sys.path.insert(0, ROOT)
    import transit_efficiency_analysis_spark.pipeline  # noqa: F401 - fail fast without the program

    bench = Bench(args.workload, args.seed, bool(args.trace))
    try:
        result = bench.run(args.seconds)
    finally:
        bench.close()
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
