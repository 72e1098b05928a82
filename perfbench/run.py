"""Closed-loop analyst benchmark for the appeals_data_spark engine.

One client, one SparkSession at ``local[nproc]``: every query of the
workload (registry builder call plus ``collect()``) is submitted only
after the previous one returned, with ``spark.catalog.clearCache()``
between executions. A run is

1. set-up: ``get_spark`` (JVM start) and a warm pass of the workload's
   queries at the small warm scale (codegen, Python worker pool);
2. the first pass at workload scale;
3. steady passes, ``round(--seconds / pass_s)`` of them (at least one;
   ``pass_s`` is the workload's nominal steady pass time on a 4-core
   box), so ``--seconds`` fixes the sample count and with it the tail
   percentile.

Each pass runs the workload's queries in an order drawn from ``--seed``.
Every timed execution is checked against its DuckDB-oracle reference;
an exception or a mismatch counts as failed and the run goes on.

``--trace 0`` prints the end-to-end metrics: ``setup_s`` (process start
to ready; the input checksums, the references and the core-speed
probes are excluded), and over the steady passes ``queries_per_min``
(verified executions per minute; the result checks are excluded from
the pass time), ``latency_p50_s`` and ``latency_tail_s`` (the verified
latency with ten steady samples above it). They are stated at the
reference core speed: a shared host's cores run 2x slower or more for
minutes at a time, and the speed can change within a run. So every run
times a fixed Python loop (``cpu_probe_s``) on every core at once, in
worker processes forked before the JVM starts, and only where the
program is idle: before the JVM starts, and after set-up and after
every pass once Spark's listener bus has drained and a short settle
has passed. Each pass's times are multiplied by REFERENCE_PROBE_S / the
mean probe time before and after it (rates divide by it), and set-up's
by the probes that bracket set-up. The unscaled values are kept as
``raw_metrics``. The first pass's time is only in the detail line: a
single pass that still carries warm-up work, it spread 11% (IQR over
median, ten runs) on the 4-core reference box.

``--trace 1`` runs the same loop with spans and Spark statistics
(``tracing.py``) and prints the per-layer metrics, unscaled, per steady
execution. The last stdout line is the result object; the line before
it (``PERFBENCH_DETAIL``) carries the environment, per-pass steal, the
probes, peak RSS, failures and every execution, and is also written
under ``.bench_build/perfbench/results``.

Usage:
  python3 perfbench/run.py --workload vacols_sql --seed 1 --seconds 12 --trace 0
"""

from __future__ import annotations

import argparse
import contextlib
import json
import multiprocessing
import os
import pickle
import platform
import random
import shutil
import statistics
import subprocess
import sys
import time

import inputs
from tracing import SparkStats, Tracer, layer_time, self_time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = inputs.BUILD
MB = 1024.0 * 1024.0

# (metric, unit, how the per-execution values of the steady passes combine)
PER_LAYER = [
    ("catalog.load_table.calls", "count", "mean"),
    ("catalog.scan_input_bytes.calls", "count", "mean"),
    ("catalog.scan_input_bytes_s", "s", "mean"),
    ("queries.builder_s", "s", "mean"),
    ("queries.builder_self_s", "s", "mean"),
    ("queries.builder_jobs", "count", "mean"),
    ("queries.builder_sql_executions", "count", "mean"),
    ("views.events_s", "s", "mean"),
    ("operators.loop_s", "s", "mean"),
    ("ml.fit_s", "s", "mean"),
    ("catalyst.analysis_s", "s", "mean"),
    ("catalyst.optimization_s", "s", "mean"),
    ("catalyst.planning_s", "s", "mean"),
    ("exec.jobs", "count", "mean"),
    ("exec.stages", "count", "mean"),
    ("exec.tasks", "count", "mean"),
    ("exec.sql_executions", "count", "mean"),
    ("exec.task_run_s", "s", "mean"),
    ("exec.task_cpu_s", "s", "mean"),
    ("exec.gc_s", "s", "mean"),
    ("exec.spill_mb", "MB", "mean"),
    ("shuffle.exchanges", "count", "mean"),
    ("shuffle.partitions", "count", "mean"),
    ("shuffle.write_mb", "MB", "mean"),
    ("shuffle.write_s", "s", "mean"),
    ("broadcast.count", "count", "mean"),
    ("broadcast.build_s", "s", "mean"),
    ("python.total_s", "s", "mean"),
    ("python.init_s", "s", "mean"),
    ("python.sent_mb", "MB", "mean"),
    ("python.received_mb", "MB", "mean"),
    ("python.rows_received", "count", "mean"),
    ("cache.rdd_peak_mb", "MB", "max"),
    ("cache.rdd_mb_after_clear", "MB", "max"),
    ("driver.result_rows", "count", "mean"),
    ("driver.result_mb", "MB", "mean"),
]


def load_workloads() -> dict:
    with open(os.path.join(HERE, "workloads.json")) as f:
        return json.load(f)["workloads"]


def process_age_s() -> float:
    """Seconds since this process started (from /proc)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def vmhwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def cpu_sample() -> tuple[int, int]:
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    return sum(vals), (vals[7] if len(vals) > 7 else 0)


def steal_pct(since: tuple[int, int]) -> float:
    """Share of CPU time the hypervisor stole since the ``since`` sample."""
    now = cpu_sample()
    return 100.0 * (now[1] - since[1]) / max(now[0] - since[0], 1)


# Time of one probe loop on one core of the 4-core reference box in its
# fast state (measured one core at a time; all cores at once read about
# 10% slower on the same box).
REFERENCE_PROBE_S = 0.042

PROBE_ROUNDS = 3
SETTLE_S = 0.05


def cpu_probe_s() -> float:
    """Wall time of a fixed Python loop that does not touch the program:
    how fast one core runs right now. On a shared host it swings by about
    2x within minutes (0.042 s vs 0.080 s), and query times swing with
    it."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(1_000_000):
        acc += i * i
    return time.perf_counter() - t0


class CoreProbe:
    """Times ``cpu_probe_s`` on every core at once, ``PROBE_ROUNDS`` times.

    All cores, because the program runs on all of them and one loop sees
    only the core it lands on: on the same eight iterative_fit runs,
    scaling each pass by the mean of these times, instead of by the
    median of two single-core times before it and two after it, cut the
    spread (IQR over median) of every end-to-end metric by about 40%. The workers are forked before the JVM
    starts and wait idle in between; call ``times`` only while the program
    is idle, so it cannot move them."""

    def __init__(self, cores: int):
        self.cores = cores
        self.pool = multiprocessing.get_context("fork").Pool(cores)
        for _ in range(2):  # just after the fork the loops run up to 3x slower
            self.times()

    def times(self) -> list[float]:
        return [
            t
            for _ in range(PROBE_ROUNDS)
            for t in self.pool.map(_probe_worker, range(self.cores), chunksize=1)
        ]

    def close(self) -> None:
        self.pool.terminate()
        self.pool.join()


def _probe_worker(_: int) -> float:
    return cpu_probe_s()


def speed(probes: list[float]) -> float:
    """Core speed relative to the reference box (below 1 when slower)."""
    return REFERENCE_PROBE_S / statistics.mean(probes)


def tail_index(n: int) -> int:
    """Index (ascending order) of the highest sample with at least ten
    samples above it; the maximum when there are fewer than eleven."""
    return n - 11 if n > 10 else n - 1


def isolate_scratch() -> str:
    """Keep Spark, the JVM and Python temp files inside the checkout and
    put the repo on the Python workers' path (a ``mapInPandas`` worker
    started outside the repo cannot import ``appeals_data_spark``)."""
    scratch = os.path.join(BUILD, "tmp", f"run{os.getpid()}")
    os.makedirs(os.path.join(scratch, "local"), exist_ok=True)
    os.environ["TMPDIR"] = scratch
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(scratch, "local")
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options -Djava.io.tmpdir={scratch} pyspark-shell"
    )
    path = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + path if path else "")
    import tempfile

    tempfile.tempdir = scratch
    return scratch


class Runner:
    """Runs and checks query executions; collects traces when asked."""

    def __init__(self, spark, queries, data_dir, refs, check, probe, tracer=None, stats=None):
        self.spark = spark
        self.probe = probe
        self.queries = queries
        self.data_dir = data_dir
        self.refs = refs
        self.check = check
        self.tracer = tracer
        self.stats = stats
        self.records: list[dict] = []
        self.passes: list[dict] = []
        self.probes = self.probe_idle()

    def _span(self, name: str, layer: str):
        return self.tracer.span(name, layer) if self.tracer else contextlib.nullcontext()

    def execute(self, name: str, pass_no: int) -> dict:
        tag = f"x{len(self.records)}"
        rec = {"query": name, "pass": pass_no}
        if self.tracer:
            self.tracer.execution = tag
            misses0 = self.tracer.load_table_misses
            self.stats.set_group(f"{tag}/b")
        builder_end_ms = 0.0
        rows = None
        rec["check_s"] = 0.0
        t0 = time.perf_counter()
        try:
            with self._span(f"queries.{name}", "queries"):
                df = self.queries[name].builder(self.spark, self.data_dir)
            builder_end_ms = time.time() * 1e3
            if self.stats:
                self.stats.set_group(f"{tag}/c")
            with self._span("driver.collect", "driver"):
                rows = df.collect()
            rec["latency_s"] = time.perf_counter() - t0
            rec["error"] = inputs.mismatch(self.refs[name], df.columns, df.dtypes, rows, self.check)
            rec["check_s"] = time.perf_counter() - t0 - rec["latency_s"]
        except Exception as e:  # a failed execution is counted, not fatal
            rec["latency_s"] = time.perf_counter() - t0
            rec["error"] = f"{type(e).__name__}: {str(e).strip()[:300]}"
        if self.tracer:
            self.tracer.execution = None
            rec.update(self._layers(tag, misses0, builder_end_ms, rows))
        self.spark.catalog.clearCache()
        if self.stats:
            rec["cache.rdd_mb_after_clear"] = self.stats.rdd_mb()
        self.records.append(rec)
        return rec

    def _layers(self, tag: str, misses0: int, builder_end_ms: float, rows) -> dict:
        spans = self.tracer.spans
        idx = self.tracer.execution_spans(tag)
        builder = next(i for i in idx if spans[i]["layer"] == "queries")
        calls = lambda n: sum(spans[i]["name"] == n for i in idx)  # noqa: E731
        out = {
            "queries.builder_s": spans[builder]["end"] - spans[builder]["start"],
            "queries.builder_self_s": self_time(spans, builder),
            "catalog.load_table.calls": calls("catalog.load_table"),
            "catalog.load_table.misses": self.tracer.load_table_misses - misses0,
            "catalog.scan_input_bytes.calls": calls("catalog.scan_input_bytes"),
            "catalog.scan_input_bytes_s": layer_time(
                spans, idx, "catalog", "catalog.scan_input_bytes"
            ),
            "views.events_s": layer_time(spans, idx, "views"),
            "operators.loop_s": layer_time(spans, idx, "operators"),
            "ml.fit_s": layer_time(spans, idx, "ml"),
            "driver.result_rows": len(rows) if rows is not None else 0,
            "driver.result_mb": len(pickle.dumps(rows)) / MB if rows is not None else 0.0,
        }
        out.update(self.stats.collect(tag, builder_end_ms))
        out["cache.rdd_peak_mb"] = self.stats.rdd_mb()
        return out

    def probe_idle(self) -> list[float]:
        """Probe times once Spark's listener bus has drained (no job event
        is pending) and a short settle has passed."""
        self.spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
        time.sleep(SETTLE_S)
        return self.probe.times()

    def run_pass(self, order: list[str], pass_no: int) -> tuple[float, list[dict], float]:
        """Wall time of the pass (result checks excluded), its records, and
        the core speed probed right before and after it."""
        cpu0 = cpu_sample()
        t0 = time.perf_counter()
        recs = [self.execute(name, pass_no) for name in order]
        wall = time.perf_counter() - t0 - sum(r["check_s"] for r in recs)
        steal = steal_pct(cpu0)
        before, self.probes = self.probes, self.probe_idle()
        pass_speed = speed(before + self.probes)
        self.passes.append(
            {"pass": pass_no, "wall_s": wall, "steal_pct": steal, "speed": pass_speed,
             "probes_after_s": self.probes}
        )
        bad = sum(r["error"] is not None for r in recs)
        print(f"perfbench: pass {pass_no}: {wall:.2f} s, {bad} failed", file=sys.stderr)
        return wall, recs, pass_speed


def queries_per_min(passes, scaled: bool = False) -> float:
    """Verified executions per minute over ``passes`` ((wall seconds,
    records, speed) each); ``scaled`` states each pass's wall time at
    the reference core speed."""
    ok = sum(r["error"] is None for _, recs, _ in passes for r in recs)
    return 60.0 * ok / sum(wall * (s if scaled else 1.0) for wall, _, s in passes)


def end_to_end(setup_s, setup_speed, passes, scaled: bool = True) -> dict:
    """End-to-end metrics, at the reference core speed when ``scaled``:
    each time is multiplied by the core speed (relative to the reference
    box) probed around the pass or set-up it belongs to."""
    ok = sorted(
        r["latency_s"] * (s if scaled else 1.0)
        for _, recs, s in passes
        for r in recs
        if r["error"] is None
    )
    if not ok:
        raise SystemExit("perfbench: no steady execution passed its check")
    return {
        "setup_s": (setup_s * (setup_speed if scaled else 1.0), "s"),
        "queries_per_min": (queries_per_min(passes, scaled), "1/min"),
        "latency_p50_s": (statistics.median(ok), "s"),
        "latency_tail_s": (ok[tail_index(len(ok))], "s"),
    }


def per_layer(get_spark_s, passes, cores, rss_mb) -> dict:
    steady = [r for _, recs, _ in passes for r in recs]
    total = lambda k: sum(r[k] for r in steady)  # noqa: E731
    latency = total("latency_s")
    calls = total("catalog.load_table.calls")
    out = {
        "session.get_spark_s": (get_spark_s, "s"),
        "catalog.load_table.hit_ratio": (
            1.0 - total("catalog.load_table.misses") / calls if calls else 0.0, "ratio"
        ),
        "queries.builder_frac": (total("queries.builder_s") / latency, "ratio"),
        "exec.busy_frac": (total("exec.task_run_s") / (latency * cores), "ratio"),
        "driver.peak_rss_mb": (rss_mb, "MB"),
        "trace.queries_per_min": (queries_per_min(passes), "1/min"),
    }
    for name, unit, how in PER_LAYER:
        value = max(r[name] for r in steady) if how == "max" else total(name) / len(steady)
        out[name] = (value, unit)
    return out


def parse_args(workloads: dict, argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(workloads))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument(
        "--smoke", action="store_true",
        help="self-test mode: warm scale, no warm pass, one pass that is "
        "both the first and the steady pass",
    )
    ap.add_argument(
        "--corrupt-reference", metavar="QUERY",
        help="self-test: alter QUERY's reference so its executions must fail",
    )
    return ap.parse_args(argv)


def main(argv=None) -> int:
    started = time.time() - process_age_s()
    workloads = load_workloads()
    args = parse_args(workloads, argv)
    if not os.path.isdir(os.path.join(ROOT, "appeals_data_spark")):
        print(f"perfbench: appeals_data_spark not found under {ROOT}", file=sys.stderr)
        return 2
    t0 = time.time()
    probe = CoreProbe(len(os.sched_getaffinity(0)))
    try:
        probes = probe.times()
        probes_s = time.time() - t0
        scratch = isolate_scratch()
        sys.path.insert(0, ROOT)
        try:
            return _run(args, workloads[args.workload], started + probes_s, probe, probes)
        finally:
            shutil.rmtree(scratch, ignore_errors=True)
    finally:
        probe.close()


def _run(args, spec, started, probe, probes) -> int:
    """``started`` is the process start time moved later by the time the
    probe workers' start and the start-up probes took, so that ``setup_s``
    leaves them out."""
    from appeals_data_spark.registry import all_queries

    registry = all_queries()
    queries = {n: registry[n] for n in spec["queries"]}
    t_inputs = time.time()
    import_s = t_inputs - started
    scale = spec["warm_scale"] if args.smoke else spec["scale"]
    data_dir = inputs.tables(scale)
    warm_dir = None if args.smoke else inputs.tables(spec["warm_scale"])
    check = inputs.load_check_module()
    refs = inputs.references(scale, data_dir, queries, check)
    if args.corrupt_reference:
        bad = refs[args.corrupt_reference]
        refs[args.corrupt_reference] = dict(bad, nrows=bad["nrows"] + 1)
    inputs_s = time.time() - t_inputs

    # -- set-up: session and warm pass ---------------------------------
    tracer = Tracer() if args.trace else None
    if tracer:
        tracer.install()
    from appeals_data_spark.session import get_spark

    cores = probe.cores
    t0 = time.perf_counter()
    with tracer.span("session.get_spark", "session") if tracer else contextlib.nullcontext():
        spark = get_spark("perfbench", cpus=cores)
    get_spark_s = time.perf_counter() - t0
    spark.sparkContext.setLogLevel("ERROR")
    rng = random.Random(args.seed)
    names = list(spec["queries"])
    if warm_dir:
        for name in rng.sample(names, len(names)):
            with contextlib.suppress(Exception):  # a failing query fails when timed
                queries[name].builder(spark, warm_dir).collect()
            spark.catalog.clearCache()
    stats = SparkStats(spark) if tracer else None
    setup_s = time.time() - started - inputs_s
    warm_pass_s = time.perf_counter() - t0 - get_spark_s

    # -- measured passes -------------------------------------------------
    runner = Runner(spark, queries, data_dir, refs, check, probe, tracer, stats)
    cpu0, load0 = cpu_sample(), os.getloadavg()[0]
    setup_speed = speed(probes + runner.probes)
    first = runner.run_pass(rng.sample(names, len(names)), 0)
    if args.smoke:
        passes = [first]
    else:
        n_steady = max(1, round(args.seconds / spec["pass_s"]))
        passes = [
            runner.run_pass(rng.sample(names, len(names)), p) for p in range(1, n_steady + 1)
        ]
    sc = spark.sparkContext
    jvm = sc._gateway.proc
    rss_mb = vmhwm_mb(jvm.pid) + vmhwm_mb("self")
    env = {
        "nproc": cores,
        "master": sc.master,
        "default_parallelism": sc.defaultParallelism,
        "spark": spark.version,
        "python": platform.python_version(),
        "steal_pct": steal_pct(cpu0),
        "load_1m": [load0, os.getloadavg()[0]],
    }
    if stats:
        stats.close()
    spark.stop()
    jvm.stdin.close()  # the gateway JVM exits at the end of its stdin
    try:
        jvm.wait(timeout=60)
    except subprocess.TimeoutExpired:
        jvm.kill()
        jvm.wait()

    records = runner.records
    failed = sum(r["error"] is not None for r in records)
    all_probes = probes + [x for p in runner.passes for x in p["probes_after_s"]]
    probe_s = statistics.median(all_probes)
    raw = end_to_end(setup_s, setup_speed, passes, scaled=False)
    if tracer:
        metrics = per_layer(get_spark_s, passes, cores, rss_mb)
        metrics["env.cpu_probe_s"] = (probe_s, "s")
    else:
        metrics = end_to_end(setup_s, setup_speed, passes)
    n_ok = sum(r["error"] is None for _, recs, _ in passes for r in recs)
    detail = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "scale": scale,
        "env": env,
        "cpu_probe_s": probe_s,
        "setup_probes_s": probes,
        "setup_speed": setup_speed,
        "raw_metrics": {k: v for k, (v, _) in raw.items()},
        "first_pass_s": first[0] * first[2],
        "raw_first_pass_s": first[0],
        "inputs_s": inputs_s,
        "import_s": import_s,
        "get_spark_s": get_spark_s,
        "warm_pass_s": warm_pass_s,
        "passes": runner.passes,
        "steady_samples": n_ok,
        "tail_percentile": 100.0 * (tail_index(n_ok) + 1) / n_ok if n_ok else None,
        "peak_rss_mb": rss_mb,
        "failed_frac": failed / len(records),
        "failures": [f"{r['query']}: {r['error']}" for r in records if r["error"]],
        "executions": [
            {k: r[k] for k in ("query", "pass", "latency_s", "check_s", "error")}
            for r in records
        ],
        "metrics": {k: v for k, (v, _) in metrics.items()},
    }
    _write_results(args, detail, tracer)
    print("PERFBENCH_DETAIL " + json.dumps(detail))
    result = {
        "correct": failed == 0,
        "attempted": len(records),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    print(json.dumps(result))
    sys.stdout.flush()
    return 0


def _write_results(args, detail, tracer) -> None:
    """Keep the latest record per (workload, trace) and the spans; a traced
    run also reports its cost in queries_per_min against the latest
    untraced run of the same workload."""
    out = os.path.join(BUILD, "results")
    os.makedirs(out, exist_ok=True)
    stem = f"{args.workload}-trace{args.trace}"
    if tracer:
        untraced = os.path.join(out, f"{args.workload}-trace0.json")
        if os.path.exists(untraced):
            with open(untraced) as f:
                base = json.load(f).get("raw_metrics", {}).get("queries_per_min")
            if base is not None:
                detail["trace_overhead_qpm"] = base - detail["metrics"]["trace.queries_per_min"]
        tracer.dump(os.path.join(out, f"{stem}-spans.json"))
    if not args.smoke and not args.corrupt_reference:
        with open(os.path.join(out, f"{stem}.json"), "w") as f:
            json.dump(detail, f, indent=1)


if __name__ == "__main__":
    sys.exit(main())
