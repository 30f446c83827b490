"""The repository benchmark: one workload per process, one JSON result line.

    python3 perfbench/run.py --workload gates --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. Workloads (README.md in this directory
records why each was chosen and which layer moves which metric):

``gates``
    8 of the headline registry gates at sf0.01, in an order shuffled by
    the seed. The first pass reads parquet with no table cache in a fresh
    JVM, as one ``cli query``/``cli report`` process does; the warm
    passes that follow read the table cache.
``harvest_curate``
    One beat cycle, repeated: discovery over a mock search API, calendar
    harvest of the discovered listings, curation of the dup20 corpus. The
    seed picks the seed quadkeys and the mock payloads.

A run starts the session, makes the first pass, sets up several times
(gates: fill the table cache; harvest_curate: read and cache the
curation documents), then makes steady passes until ``--seconds``
have passed, at least ``STEADY_PASSES``. Every pass takes longer than
the 1 s that ``BENCHMARK.json`` sets, so a run times exactly
``STEADY_PASSES`` steady passes: if the count followed the host's speed,
so would the median, because later passes run faster as the JIT warms.
With ``--trace 0`` the result carries the end-to-end metrics. With
``--trace 1`` it carries the per-layer metrics of a separate traced run:
one first pass and one steady pass with counters read from Spark's
status store, plus one probe of each layer the workload does not
exercise, so both workloads report every layer. Its gate pass runs
every gate untraced too, to check the spans and measure their overhead
against untraced runs.

Every operation's output is checked; ``failed`` counts wrong outputs and
exceptions. The last line of stdout is the result; a summary goes to
stderr and a detail file (calibration, sample counts, spans) to
``perfbench/.work``. Every load comes from one driver thread of one
process on ``local[<cpus>]``, in a closed loop: the next operation
starts when the previous one returns. No fetch rate limit is set.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import random
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")

WORKLOADS = ("gates", "harvest_curate")
PARTITIONS = 4  # shuffle and cache partitions, fixed so checksums do not depend on the host
STEADY_PASSES = 2  # at least this many steady passes per run, whatever --seconds says

END_TO_END = {
    "setup_s": "s",
    "first_pass_s": "s",
    "pass_s": "s",
    "pass_cpu_s": "s",
    "retained_mb": "MB",
}

CURATION_STAGES = ("raw", "quality_funnel", "exact_dedup", "neardup_dedup", "decontaminated")
BEAT_STEPS = (
    ("discover", "plans.discovery"),
    ("calendar", "plans.ops.calendar"),
    ("curate", "plans.curation"),
)


def per_layer_units() -> dict[str, str]:
    from gates import GATES

    units = {
        "session.get_spark_s": "s",
        "sources.warm_cache_s": "s",
        "sources.load_table_s": "s",
        "sources.load_table_jobs": "count",
        "queries.build_s": "s",
        "queries.build_jobs": "count",
        "catalyst.plan_s": "s",
        "exec.s": "s",
        "exec.jobs": "count",
        "exec.stages": "count",
        "exec.tasks": "count",
        "exec.task_run_s": "s",
        "exec.task_cpu_s": "s",
        "exec.shuffle_write_bytes": "bytes",
        "exec.shuffle_read_bytes": "bytes",
        "exec.spill_bytes": "bytes",
        "exec.input_bytes": "bytes",
    }
    units.update({f"gate.{g}.s": "s" for g in GATES})
    units.update({
        "operators.prefixsum.pins_released": "count",
        "sources.http_fetch.items_per_s": "1/s",
        "plans.discovery.s": "s",
        "plans.discovery.jobs": "count",
        "plans.discovery.waves": "count",
        "plans.discovery.fetches": "count",
        "plans.discovery.task_run_s": "s",
        "plans.discovery.task_cpu_s": "s",
        "plans.ops.calendar.s": "s",
        "plans.ops.calendar.jobs": "count",
        "plans.ops.calendar.task_run_s": "s",
        "plans.ops.calendar.task_cpu_s": "s",
        "plans.curation.s": "s",
        "plans.curation.jobs": "count",
    })
    units.update({f"plans.curation.stage.{s}_s": "s" for s in CURATION_STAGES})
    units["trace.overhead_s"] = "s"
    return units


def retained_mb(spark) -> float:
    """Memory the program holds between passes: the JVM heap in use after
    a full collection, plus the JVM's non-heap memory in use (code cache,
    metaspace), plus the resident memory of the driver Python process.
    Peak resident memory would instead follow how far the collector let
    garbage pile up before collecting it, which varies from run to run."""
    gc.collect()  # drop the Python proxies that keep JVM objects alive
    mx = spark._jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    mx.gc()
    used = mx.getHeapMemoryUsage().getUsed() + mx.getNonHeapMemoryUsage().getUsed()
    with open("/proc/self/status") as f:
        py_kb = next(int(line.split()[1]) for line in f if line.startswith("VmRSS:"))
    return used / 2**20 + py_kb / 1024


def peak_rss_mb(jvm_pid: int) -> float:
    """Peak resident memory (VmHWM) of this process plus the driver JVM."""
    total_kb = 0
    for pid in ("self", str(jvm_pid)):
        with open(f"/proc/{pid}/status") as f:
            total_kb += next(int(line.split()[1]) for line in f if line.startswith("VmHWM:"))
    return total_kb / 1024.0


class Bench:
    """One benchmark process: the session, the output checks and the
    per-layer totals of traced passes."""

    def __init__(self, args, sf_dir: str, expected: dict):
        from spans import Tracer

        self.args = args
        self.workload = args.workload
        self.sf_dir = sf_dir
        self.sf_key = f"{args.sf:g}"
        self.expected = expected
        self.rng = random.Random(args.seed)
        self.tracer = Tracer(bool(args.trace), f"{args.workload}-{args.seed}")
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.layers: dict[str, float] = {}
        self.span_check: dict[str, dict] = {}  # gate -> untraced and traced latencies
        self.run_no = 0
        self._beat_plan = None
        self.docs = None  # (documents, eval set) of the curation step
        self.spark = None
        self.store = None
        self._specs = None

    # -- session and bookkeeping ---------------------------------------------

    def start_session(self):
        from spans import StatusStore

        from ubdc_airbnb_spark.session import get_spark

        self.spark = get_spark(
            "perfbench",
            shuffle_partitions=PARTITIONS,
            extra_conf={
                # bench.py's settings: AQE off (nothing to adapt at this
                # scale, and each adaptive stage becomes its own job)
                "spark.sql.adaptive.enabled": "false",
                "spark.sql.adaptive.coalescePartitions.enabled": "false",
                "spark.ui.showConsoleProgress": "false",
                "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
            },
        )
        self.store = StatusStore(self.spark)
        return self.spark

    def fail(self, op: str, what: str) -> None:
        """Count one failed operation (a wrong output or an exception)."""
        self.failed += 1
        self.failures.append(f"{op}: {what}")
        print(f"FAIL {op}: {what}", file=sys.stderr)

    def group(self, *parts: str) -> str:
        """A fresh job-group name ``<workload>:<parts...>#<run>``."""
        self.run_no += 1
        return ":".join((self.workload, *parts)) + f"#{self.run_no}"

    def add(self, key: str, value: float) -> None:
        self.layers[key] = self.layers.get(key, 0.0) + value

    def add_counters(self, groups: list[str], names: dict[str, str]) -> None:
        """Add the status-store counters of ``groups`` to the layer
        metrics, ``names`` mapping counter to metric name."""
        self.store.drain()
        counters = self.store.counters(groups)
        for counter, metric in names.items():
            self.add(metric, counters[counter])

    def specs(self) -> dict:
        if self._specs is None:
            from gates import specs

            self._specs = specs()
        return self._specs

    # -- gates ---------------------------------------------------------------

    def warm_cache(self) -> float:
        from ubdc_airbnb_spark.sources.tables import warm_cache

        self.spark.sparkContext.setJobGroup(self.group("warm_cache"), "warm_cache")
        t0 = time.perf_counter()
        warm_cache(self.spark, self.sf_dir, partitions=PARTITIONS)
        return time.perf_counter() - t0

    def gate_pass(self, mode: str) -> tuple[float, dict[str, float]]:
        """One pass over the gates in a seed-shuffled order; returns the
        pass wall time and the latency of each gate that passed."""
        lat: dict[str, float] = {}
        t0 = time.perf_counter()
        with self.tracer.span("pass", mode=mode):
            for name in self.gate_order():
                run = self.gate_once(name, mode, self.tracer.enabled)
                if run is not None:
                    lat[name] = run[0].wall
        return time.perf_counter() - t0, lat

    def checked_gate_pass(self) -> None:
        """A warm pass of a traced run that checks the spans against
        untraced runs of the same gates. Every gate runs once to warm up,
        then untraced, traced, traced, untraced, so a steady drift cancels
        out. Summed over the pass, the traced runs' build + plan + exec
        must be within 10% of the untraced runs' latency, timed around
        the call rather than by the phase timers; the traced runs' extra
        time over the untraced ones is the tracing overhead. A single
        gate's ratio is kept in the detail file but not checked: one warm
        gate varies by ±20% from run to run on a shared host."""
        phases = untraced = overhead = 0.0
        with self.tracer.span("pass", mode="warm-checked"):
            for name in self.gate_order():
                if self.gate_once(name, "warm", traced=False) is None:
                    continue
                runs: dict[str, list[float]] = {"untraced": [], "traced": []}
                for traced in (False, True, True, False):
                    t0 = time.perf_counter()
                    run = self.gate_once(name, "warm", traced)
                    if run is None:
                        break
                    op = time.perf_counter() - t0
                    runs["traced" if traced else "untraced"].append(run[0].wall if traced else run[1])
                    overhead += op if traced else -op
                else:
                    phases += sum(runs["traced"])
                    untraced += sum(runs["untraced"])
                    self.span_check[name] = {
                        **runs, "ratio": sum(runs["traced"]) / sum(runs["untraced"])
                    }
        self.add("trace.overhead_s", overhead)
        self.attempted += 1
        if not untraced or not 0.9 <= phases / untraced <= 1.1:
            self.fail("trace", f"traced build+plan+exec {phases:.3f} s against untraced "
                      f"latency {untraced:.3f} s over the checked pass")

    def gate_order(self) -> list[str]:
        from gates import GATES

        order = list(GATES)
        self.rng.shuffle(order)
        return order

    def gate_once(self, name: str, mode: str, traced: bool):
        """Run one gate and check its output. Returns the run and its
        latency timed around the call, or None if it failed; with
        ``traced``, records its spans and counters."""
        from gates import run_gate

        self.attempted += 1
        group = self.group(name, "%s")
        try:
            g0 = time.perf_counter()
            r = run_gate(self.spark, self.specs()[name], self.sf_dir, group)
            g1 = time.perf_counter()
        except Exception:  # one failing gate must not stop the pass
            self.fail(group, traceback.format_exc(limit=3))
            return None
        self.store.drain()
        problems = []
        want = self.expected["gates"][self.sf_key][mode][name]
        if [r.checksum, r.rows] != want:
            problems.append(f"(checksum, rows) {[r.checksum, r.rows]} != {want}")
        if not self.store.job_ids(group % "exec"):
            # a result served without executing: a cross-run memo
            problems.append("execution launched no Spark job")
        if problems:
            self.fail(group, "; ".join(problems))
            return None
        if traced:
            self._trace_gate(r, g0, g1)
        return r, g1 - g0

    def _trace_gate(self, r, g0: float, g1: float) -> None:
        """Record a traced gate run's spans and counters, and check that
        its phases cover at least 90% of its wall, timed by the caller
        (which adds the release of the gate's pins)."""
        from spans import COUNTER_KEYS

        self.attempted += 1
        if r.wall < 0.9 * (g1 - g0):
            self.fail(f"trace:{r.group}", f"build+plan+exec {r.wall:.4f} s is under 90% of "
                      f"the gate's wall {g1 - g0:.4f} s")
        gate_span = self.tracer.add("gate", g0, g1, gate=r.name)
        t = g0
        for phase in ("build", "plan", "exec"):
            self.tracer.add(phase, t, t + r.seconds[phase], parent=gate_span, gate=r.name)
            t += r.seconds[phase]
        self.add("queries.build_s", r.seconds["build"])
        self.add("catalyst.plan_s", r.seconds["plan"])
        self.add("exec.s", r.seconds["exec"])
        self.add(f"gate.{r.name}.s", r.wall)
        self.add("operators.prefixsum.pins_released", r.pins_released)
        self.add_counters([r.group % "build"], {"jobs": "queries.build_jobs"})
        self.add_counters([r.group % "exec"], {k: f"exec.{k}" for k in COUNTER_KEYS})

    # -- harvest_curate ------------------------------------------------------

    def beat_cycle(self) -> tuple[float, dict[str, float]]:
        """One discovery → calendar harvest → curation cycle; returns the
        cycle wall time and the latency of each step that passed."""
        from ubdc_airbnb_spark.operators.prefixsum import release_pins

        sc = self.spark.sparkContext
        lat: dict[str, float] = {}
        state: dict = {}
        t0 = time.perf_counter()
        traced = self.tracer.enabled
        with self.tracer.span("cycle"):
            for step, layer in BEAT_STEPS:
                self.attempted += 1
                group = self.group(step)
                sc.setJobGroup(group, step)
                try:
                    s0 = time.perf_counter()
                    with self.tracer.span(layer):
                        problem = self._beat_step(step, state)
                    s1 = time.perf_counter()
                except Exception:  # later steps need this one's output
                    self.fail(group, traceback.format_exc(limit=3))
                    break
                if problem:
                    self.fail(group, problem)
                    continue
                lat[step] = s1 - s0
                if traced:
                    self.add(f"{layer}.s", s1 - s0)
                    keys = ("jobs",) if step == "curate" else ("jobs", "task_run_s", "task_cpu_s")
                    self.add_counters([group], {k: f"{layer}.{k}" for k in keys})
            sc.setJobGroup(self.group("release"), "release")
            pins = release_pins()
        if traced:
            self.add("operators.prefixsum.pins_released", pins)
            if "discovery" in state:
                self.add("plans.discovery.waves", state["discovery"].waves)
                self.add("plans.discovery.fetches", state["discovery"].fetches)
            if "curation" in state:
                for stage in CURATION_STAGES:
                    self.add(f"plans.curation.stage.{stage}_s",
                             state["curation"].stage_seconds.get(stage, 0.0))
        return time.perf_counter() - t0, lat

    def _beat_step(self, step: str, state: dict) -> str | None:
        """Run one step and check its output; returns what is wrong, if anything."""
        import beat

        inputs = self.beat_plan()
        if step == "discover":
            res, n = beat.discover(self.spark, inputs)
            state["discovery"] = res
            got = (res.waves, res.fetches, n)
            want = (beat.WAVES, len(inputs.fetched), inputs.expect_listings)
            return None if got == want else f"(waves, fetches, listings) {got} != {want}"
        if step == "calendar":
            if "discovery" not in state:
                return "no discovery output"
            res, days = beat.calendar_harvest(self.spark, state["discovery"].listings, inputs)
            n_due = min(beat.N_DUE, inputs.expect_listings)
            got, want = (res.n_due, days), (n_due, 360 * n_due)
            return None if got == want else f"(n_due, days) {got} != {want}"
        res, n = beat.curate(self.spark, *self.docs)
        state["curation"] = res
        want = self.expected["curation"][self.sf_key]
        if res.report != want or n != want["decontaminated"]:
            return f"report {res.report} (corpus {n}) != {want}"
        return None

    def beat_plan(self):
        """The seed's discovery inputs and expected totals, derived once."""
        import beat

        if self._beat_plan is None:
            self._beat_plan = beat.plan_inputs(self.args.seed)
        return self._beat_plan

    def load_docs(self) -> None:
        """Read and cache the curation documents, replacing an earlier copy."""
        import beat

        if self.docs is not None:
            self.docs[0].unpersist()
        self.spark.sparkContext.setJobGroup(self.group("load_docs"), "load_docs")
        self.docs = beat.curation_inputs(self.spark, os.path.join(self.sf_dir, "dup20"))

    # -- probes of single layers (traced runs) -------------------------------

    def probe_load_table(self) -> None:
        """One cold ``load_table`` per table."""
        from ubdc_airbnb_spark.sources.tables import TABLE_NAMES, load_table

        groups = []
        with self.tracer.span("sources.load_table"):
            for name in TABLE_NAMES:
                groups.append(self.group("load_table", name))
                self.spark.sparkContext.setJobGroup(groups[-1], "load_table")
                t0 = time.perf_counter()
                load_table(self.spark, self.sf_dir, name, use_cache=False)
                self.add("sources.load_table_s", time.perf_counter() - t0)
        self.add_counters(groups, {"jobs": "sources.load_table_jobs"})

    def probe_http_fetch(self) -> None:
        """A standalone ``fetch_batch`` + ``materialize`` over every
        discovery work item of one cycle."""
        import beat

        from ubdc_airbnb_spark.sources.http_fetch import fetch_batch, materialize

        inputs = self.beat_plan()
        work = self.spark.createDataFrame(
            [("search", qk, 0) for qk in inputs.fetched], "kind string, key string, offset long"
        )
        self.attempted += 1
        self.spark.sparkContext.setJobGroup(self.group("http_fetch"), "fetch")
        with self.tracer.span("sources.http_fetch") as s:
            fetched = materialize(fetch_batch(work, beat.make_fetcher(inputs.payload_seed)))
        n = fetched.filter("status_code = 200").count()
        if n != len(inputs.fetched):
            self.fail("http_fetch", f"{n} of {len(inputs.fetched)} items fetched")
        self.add("sources.http_fetch.items_per_s", n / (s.end - s.start))


class Gates:
    """The first pass reads parquet (no table cache exists yet); set-up
    fills the table cache; steady passes read it."""

    setup_repeats = 3

    def __init__(self, b: Bench):
        self.b = b

    def first(self) -> float:
        return self.b.gate_pass("cold")[0]

    def setup(self) -> None:
        from ubdc_airbnb_spark.sources.tables import clear_cache

        clear_cache()
        with self.b.tracer.span("sources.warm_cache"):
            fill = self.b.warm_cache()
        if self.b.tracer.enabled:
            self.b.add("sources.warm_cache_s", fill)

    def steady(self) -> tuple[float, dict[str, float]]:
        return self.b.gate_pass("warm")

    def traced_steady(self) -> None:
        self.b.checked_gate_pass()

    def probe_other_layers(self) -> None:
        self.b.probe_load_table()
        self.b.load_docs()
        self.b.beat_cycle()
        self.b.probe_http_fetch()


class HarvestCurate:
    """Set-up reads and caches the curation documents; every pass is one
    beat cycle."""

    setup_repeats = 9  # a set-up takes ~0.2 s, so more of them steady the median

    def __init__(self, b: Bench):
        self.b = b

    def first(self) -> float:
        self.b.load_docs()
        return self.b.beat_cycle()[0]

    def setup(self) -> None:
        self.b.load_docs()

    def steady(self) -> tuple[float, dict[str, float]]:
        return self.b.beat_cycle()

    def traced_steady(self) -> None:
        self.b.beat_cycle()

    def probe_other_layers(self) -> None:
        self.b.probe_http_fetch()
        self.b.probe_load_table()
        with self.b.tracer.span("sources.warm_cache"):
            self.b.add("sources.warm_cache_s", self.b.warm_cache())
        self.b.checked_gate_pass()


def run_workload(b: Bench) -> dict:
    """Start the session, make the first pass, set up ``setup_repeats``
    times, then either make steady passes until ``--seconds`` have passed
    (at least ``STEADY_PASSES``) or, in a traced run, one traced steady
    pass and the probes.
    Returns the end-to-end metrics, or nothing for a traced run."""
    from spans import cpu_seconds

    traced = b.tracer.enabled
    w = (Gates if b.workload == "gates" else HarvestCurate)(b)
    with b.tracer.span("session.get_spark") as s:
        b.start_session()
    if traced:
        b.add("session.get_spark_s", s.end - s.start)

    first_s = w.first()
    setup = []
    for _ in range(1 if traced else w.setup_repeats):
        t0 = time.perf_counter()
        w.setup()
        setup.append(time.perf_counter() - t0)
    if traced:
        w.traced_steady()
        w.probe_other_layers()
        return {}

    walls, cpus, retained, op_runs = [], [], [], {}
    t_end = time.perf_counter() + b.args.seconds
    while len(walls) < STEADY_PASSES or time.perf_counter() < t_end:
        c0 = cpu_seconds(os.getpid())
        wall, op_lat = w.steady()
        cpus.append(cpu_seconds(os.getpid()) - c0)
        walls.append(wall)
        retained.append(retained_mb(b.spark))  # outside the timing; later passes start collected
        for op, seconds in op_lat.items():
            op_runs.setdefault(op, []).append(seconds)
    jvm_pid = b.spark._jvm.java.lang.ProcessHandle.current().pid()
    b.samples = {"setup": setup, "passes": walls, "pass_cpu": cpus, "retained_mb": retained,
                 "peak_rss_mb": peak_rss_mb(jvm_pid), "ops": op_runs}
    return {
        "setup_s": statistics.median(setup),
        "first_pass_s": first_s,
        "pass_s": statistics.median(walls),
        "pass_cpu_s": statistics.median(cpus),
        "retained_mb": max(retained),
    }


def calibration(b: Bench, duckdb_too: bool) -> dict:
    """Host calibration, reported beside the metrics and never gated: a
    no-op 32-task job and, in traced runs, DuckDB running the gates'
    oracle SQL once over the same parquet (noisy, about ±20%)."""
    b.spark.sparkContext.setJobGroup(b.group("calibration"), "calibration")
    noop = []
    for _ in range(3):
        t0 = time.perf_counter()
        b.spark.range(0, 32, 1, numPartitions=32).selectExpr("count(1)").collect()
        noop.append(time.perf_counter() - t0)
    out = {
        "cpus": int(os.environ["SPARK_GRAFT_CPUS"]),
        "shuffle_partitions": PARTITIONS,
        "noop_32_tasks_s": min(noop),
    }
    if duckdb_too:
        import duckdb

        from gates import GATES

        con = duckdb.connect()
        for name in ("region nation customer supplier part orders lineitem events "
                     "documents embeddings").split():
            con.execute(f"CREATE VIEW {name} AS SELECT * FROM "
                        f"read_parquet('{os.path.join(b.sf_dir, name)}.parquet')")
        t0 = time.perf_counter()
        for g in GATES:
            con.execute(b.specs()[g].sql).fetchall()
        out["duckdb_oracle_s"] = time.perf_counter() - t0
        con.close()
    return out


def stop_jvm(spark) -> None:
    """Stop the session, then the driver JVM, and wait for it to exit.
    The JVM's Python workers exit with it."""
    from pyspark import SparkContext

    if spark is not None:
        spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()  # the gateway server exits when its stdin closes
        proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None


def set_up_environment() -> None:
    """Point Spark, the JVM, the Python workers and temp files at this
    checkout: every file the benchmark writes lands under ``.work``."""
    for d in ("spark-local", "tmp", "warehouse"):
        os.makedirs(os.path.join(WORK, d), exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    # every JVM (the launcher and the driver): temp files here, and no
    # hsperfdata file, which HotSpot writes to the system temp directory
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(WORK, 'tmp')}"
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    sys.path[:0] = [p for p in (HERE, ROOT) if p not in sys.path]


def datagen_dir(sf: float) -> str:
    import datagen

    return datagen.ensure(os.path.join(HERE, ".data"), sf)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS, required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf", type=float, default=0.01,
                    help="scale factor of the generated tables (expected.json holds 0.01 and 0.001)")
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "ubdc_airbnb_spark")):
        print(f"perfbench: no ubdc_airbnb_spark package next to {HERE}; "
              "run from the root of a full checkout", file=sys.stderr)
        return 2
    with open(os.path.join(HERE, "expected.json")) as f:
        expected = json.load(f)
    if f"{args.sf:g}" not in expected["curation"]:
        print(f"perfbench: no expected outputs recorded for sf{args.sf:g}", file=sys.stderr)
        return 2
    set_up_environment()

    b = Bench(args, datagen_dir(args.sf), expected)
    try:
        e2e = run_workload(b)
        calib = calibration(b, duckdb_too=bool(args.trace))
    finally:
        stop_jvm(b.spark)

    detail: dict = {"calibration": calib, "failures": b.failures}
    if args.trace:
        units = per_layer_units()
        missing = sorted(set(units) - set(b.layers))
        b.attempted += 1
        if missing:
            b.fail("trace", f"layers not measured: {missing}")
        metrics = {k: {"value": b.layers.get(k, float("nan")), "unit": u} for k, u in units.items()}
        detail["self_s"] = b.tracer.self_seconds()
        detail["traced_over_untraced"] = b.span_check
    else:
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END.items()}
        detail["samples"] = b.samples

    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    if args.trace:
        b.tracer.write(os.path.join(WORK, f"{tag}.spans.jsonl"))
    detail["metrics"] = metrics
    with open(os.path.join(WORK, f"{tag}.json"), "w") as f:
        json.dump(detail, f, indent=1)
    print(f"perfbench {tag}: attempted={b.attempted} failed={b.failed} "
          f"calibration={calib}", file=sys.stderr)
    print(json.dumps({
        "correct": b.failed == 0,
        "attempted": b.attempted,
        "failed": b.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
