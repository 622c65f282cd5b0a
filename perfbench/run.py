"""Benchmark of the four user-facing verbs: masked dump, subset dump,
config validation and a corpus recipe.

Usage (from the repository root):

    python3 perfbench/run.py --workload mask_dump --seed 1 --seconds 10 --trace 0

One run generates (or reuses) the seeded inputs, sets Spark up on
``local[4]`` from this one driver process, runs the workload's verb in
a closed loop (one iteration at a time, a warm-up discarded) for
``--seconds``, verifies every iteration's output and prints, as its last
stdout line, one JSON object ``{"correct", "attempted", "failed",
"metrics"}``. ``--trace 0`` reports the end-to-end metrics; ``--trace 1``
alternates untraced and traced iterations and reports the per-layer
metrics, including the tracing overhead. The lines before it are a
human-readable summary and a JSON run record (inputs, samples,
verification and contention context).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CORES = 4
#: settings of the session every run creates (a deployment choice, not
#: a program default): four local cores and a heap sized for the inputs,
#: which are a few MB. With a 2 GB ceiling G1 grew the heap to it in some
#: runs and not in others, and peak_rss_mb of the same code moved by up
#: to 50 % between runs
SPARK_ENV = {"SPARK_GRAFT_CPUS": str(CORES), "SPARK_GRAFT_DRIVER_MEM": "1g"}
SETUPS = 3
MIN_ITERATIONS = 3
#: the canary (a fixed pure-Python loop) took 14-20 ms on an idle
#: 4-vCPU x86-64 VM; a first canary over twice this floor means the run
#: started under load
CANARY_IDLE_FLOOR_S = 0.017
CANARY_FACTOR = 2.0
#: a run whose CPUs were stolen by the hypervisor this share of the time
#: also counts as contended (idle-host runs measured 0.1-0.6 %; at 2-5 %
#: iterations already ran up to 1.5x slower)
STEAL_LIMIT = 0.02

END_TO_END = {
    "wall_s": ("s", "lower"),
    "rows_per_s": ("1/s", "higher"),
    "setup_s": ("s", "lower"),
    "peak_rss_mb": ("MB", "lower"),
    "out_bytes_per_in_byte": ("ratio", "lower"),
    "ops_ok_frac": ("frac", "higher"),
}
EXEC_UNITS = {
    "jobs": "count", "stages": "count", "tasks": "count",
    "task_run_s": "s", "task_cpu_s": "s", "gc_s": "s",
    "input_bytes": "bytes", "output_bytes": "bytes",
    "shuffle_write_bytes": "bytes", "shuffle_read_bytes": "bytes",
    "spill_bytes": "bytes", "python_rows": "count",
}
#: per-layer metric → (unit, better); ".s" is seconds of span self time
#: per iteration, ".py4j" call/reflection commands, ".jobs" Spark jobs.
#: Every run reports all of them; a layer the workload does not enter
#: reads 0.
PER_LAYER = {
    "session.load_tables.s": ("s", "lower"),
    "session.load_tables.py4j": ("calls", "lower"),
    "plan.build_plan.s": ("s", "lower"),
    "plan.apply_plans.s": ("s", "lower"),
    "plan.apply_plans.py4j": ("calls", "lower"),
    "plan.apply_plan.s": ("s", "lower"),
    "plan.apply_plan.py4j": ("calls", "lower"),
    "subset.plan.s": ("s", "lower"),
    "subset.plan.py4j": ("calls", "lower"),
    "subset.rows_kept_ratio": ("frac", "higher"),
    "sources.write_dump.s": ("s", "lower"),
    "sources.write_dump.py4j": ("calls", "lower"),
    "sources.write_dump.jobs": ("count", "lower"),
    "sources.bytes_written": ("bytes", "lower"),
    "sources.files_written": ("count", "lower"),
    "validate.validate_plans.s": ("s", "lower"),
    "validate.diff_report.s": ("s", "lower"),
    "validate.diff_report.py4j": ("calls", "lower"),
    "validate.count.s": ("s", "lower"),
    "validate.count.jobs": ("count", "lower"),
    **{f"exec.{k}": (u, "lower") for k, u in EXEC_UNITS.items()},
    "exec.core_busy_frac": ("frac", "higher"),
    "driver.build_s": ("s", "lower"),
    "driver.action_s": ("s", "lower"),
    "driver.py4j": ("calls", "lower"),
    "trace.overhead_s": ("s", "lower"),
    "trace.span_coverage": ("frac", "higher"),
}
FINEWEB_OPS = ("strip_html", "lang_id", "quality_filter", "gopher_filter",
               "repetition_filter", "c4_filter", "fuzzy_dedup", "scrub_pii")
#: layers only one workload enters, reported by that workload alone
EXTRA_LAYERS = {"corpus_fineweb": {
    "sources.write_training_shards.s": ("s", "lower"),
    **{f"pipeline.step.{op}.{k}": (u, "lower")
       for op in FINEWEB_OPS for k, u in (("s", "s"), ("jobs", "count"))},
    "pipeline.survivor_ratio": ("frac", "higher"),
}}


def canary() -> float:
    t0 = time.perf_counter()
    acc = 0
    for i in range(200_000):
        acc += i * i
    return time.perf_counter() - t0


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs: the share of time the
    hypervisor ran someone else while this VM wanted the CPU."""
    with open("/proc/stat") as fh:
        ticks = [int(x) for x in fh.readline().split()[1:]]
    return ticks[7], sum(ticks)


def cpu_split() -> tuple[int, int]:
    """(busy, steal) jiffies of all CPUs: time the vCPUs ran anything
    (idle, iowait and steal left out) and time they wanted to run while
    the hypervisor ran someone else."""
    with open("/proc/stat") as fh:
        t = [int(x) for x in fh.readline().split()[1:]]
    return t[0] + t[1] + t[2] + t[5] + t[6], t[7]


class Stopwatch:
    """Wall time of one timed region, and the share of the CPU time the
    region's vCPUs wanted that the hypervisor gave to other guests.

    On a shared host that stolen share is the benchmark's main noise: a
    stretch of 15 % steal made iterations 40-50 % slower. Scaling a wall
    time by ``1 - steal share`` takes out the time the vCPUs waited to
    run, and nothing else, so a program that does more work or waits
    longer still reads slower; on an unloaded host the two agree. It
    takes out less than the whole slowdown: at 20-35 % steal,
    subset_dump iterations still read about 10 % slower and
    validate_config ones, which wait on py4j round trips, 30-50 %."""

    def __init__(self):
        self.cpu0 = cpu_split()
        self.t0 = time.perf_counter()

    def stop(self) -> tuple[float, float]:
        """(seconds, steal share) since construction."""
        seconds = time.perf_counter() - self.t0
        busy, steal = (b - a for a, b in zip(self.cpu0, cpu_split()))
        return seconds, steal / (busy + steal) if busy + steal else 0.0


def loadavg() -> list[float]:
    with open("/proc/loadavg") as fh:
        return [float(x) for x in fh.read().split()[:3]]


def vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError(f"no VmHWM for pid {pid}")


def _descendants(pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for p in os.listdir("/proc"):
        if p.isdigit():
            try:
                with open(f"/proc/{p}/stat") as fh:
                    ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            children.setdefault(ppid, []).append(int(p))
    out, todo = [], [pid]
    while todo:
        kids = children.get(todo.pop(), [])
        out += kids
        todo += kids
    return out


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def shutdown(spark) -> None:
    """Stop the session, the JVM it runs in and the Python workers, and
    wait until every one of those processes has ended."""
    from pyspark import SparkContext

    procs = _descendants(os.getpid())
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        gateway.proc.stdin.close()
        gateway.proc.wait(timeout=60)
    deadline = time.monotonic() + 30
    while any(map(_alive, procs)) and time.monotonic() < deadline:
        time.sleep(0.05)


def configure_env() -> str:
    """Keep every file Spark, Java and Python workers write inside the
    checkout, and let Python workers import the program. Returns the
    run's scratch directory."""
    scratch = os.path.join(ROOT, ".perfbench_cache", "tmp", str(os.getpid()))
    os.makedirs(scratch, exist_ok=True)
    os.environ.update(SPARK_ENV)
    os.environ["SPARK_LOCAL_DIRS"] = scratch
    os.environ["TMPDIR"] = scratch
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={scratch} -XX:-UsePerfData")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    return scratch


def setup(wl_cls, data_dir, tracer):
    """Imports, then SETUPS session set-ups (get_spark + the first
    load_tables); returns (spark, tables, setup_s, record). The first
    set-up launches the JVM; later ones stop the session and build a
    new one in it, as a long-lived driver would."""
    watch = Stopwatch()
    import pyspark  # noqa: F401
    import greenmask_spark.functions.sampling  # noqa: F401
    import greenmask_spark.pipeline.corpus  # noqa: F401
    import greenmask_spark.plan  # noqa: F401
    import greenmask_spark.sources.io  # noqa: F401
    import greenmask_spark.subset  # noqa: F401
    import greenmask_spark.validate  # noqa: F401
    from greenmask_spark.session import get_spark, load_tables

    import_s, import_steal = watch.stop()
    spark, sessions, steals = None, [], []
    for k in range(SETUPS):
        if spark is not None:
            spark.stop()
        watch = Stopwatch()
        spark = get_spark("perfbench")
        tr = tracer.attach(spark, f"setup-{k}")
        with tr.span("session.load_tables"):
            tables = load_tables(spark, data_dir, wl_cls.tables)
        seconds, steal = watch.stop()
        sessions.append(seconds - tr.book)
        steals.append(steal)
    missing = set(wl_cls.tables) - set(tables)
    if missing:
        raise RuntimeError(f"load_tables returned no {sorted(missing)}")
    setup_s = import_s * (1 - import_steal) + statistics.median(
        s * (1 - f) for s, f in zip(sessions, steals))
    return spark, tables, setup_s, {
        "import_s": import_s, "sessions_s": sessions,
        "steal_shares": [import_steal] + steals}


class Tracing:
    """Holds the py4j counter and the span list across session restarts;
    hands out a live tracer or the null one."""

    def __init__(self, enabled: bool):
        from spans import NullTracer, Py4jCounter

        self.enabled = enabled
        self.counter = Py4jCounter()
        self.null = NullTracer()
        self.spans: list[dict] = []
        self.live = None

    def attach(self, spark, iteration):
        if not self.enabled:
            return self.null
        from spans import Tracer

        self.counter.install()
        self.live = Tracer(spark, self.counter, self.spans)
        self.live.iteration = iteration
        return self.live

    def for_iteration(self, i: int, traced: bool):
        if not traced:
            self.counter.uninstall()
            return self.null
        self.counter.install()
        self.live.iteration = i
        self.live.book = 0.0
        return self.live

    def close(self):
        self.counter.uninstall()


def run_loop(wl, spark, tables, tracing, seconds, trace):
    """Warm-up, then closed-loop iterations for ``seconds`` (at least
    MIN_ITERATIONS). The warm-up is the workload's first
    ``warmup`` iterations: the JIT keeps speeding iterations up for
    their first few runs, and a warm-up counted in iterations, not
    seconds, puts every run at the same point of that curve, also when
    a loaded host makes those iterations slower. With ``trace``, every
    second timed iteration is traced."""
    its = []
    t_end = None
    timed = 0
    i = 0
    while True:
        warm = i < wl.warmup
        if not warm and t_end is None:
            t_end = time.perf_counter() + seconds
        # a traced run needs two traced iterations to show the counts
        # repeat
        if not warm and timed >= MIN_ITERATIONS + trace \
                and time.perf_counter() >= t_end:
            break
        traced = trace and not warm and timed % 2 == 1
        tr = tracing.for_iteration(i, traced)
        rec = {"i": i, "warm": warm, "traced": traced, "canary_s": canary()}
        watch = Stopwatch()
        res = {}
        # a failed iteration is counted, not fatal
        try:
            res = wl.run(spark, tables, tr)
        except Exception as e:
            rec["errors"] = [f"run: {type(e).__name__}: {e}"]
        rec["wall_raw_s"], rec["steal_share"] = watch.stop()
        rec["wall_s"] = rec["wall_raw_s"] - tr.book
        # the end-to-end time: stolen vCPU time taken out
        rec["run_s"] = rec["wall_s"] * (1 - rec["steal_share"])
        if res:
            try:
                rec["errors"] = wl.verify(res)
            except Exception as e:
                rec["errors"] = [f"verify: {type(e).__name__}: {e}"]
        rec.update({k: v for k, v in res.items() if k != "report"})
        its.append(rec)
        timed += not warm
        i += 1
    return its


def median(xs, default=0.0):
    xs = list(xs)
    return statistics.median(xs) if xs else default


def end_to_end(timed, setup_s, peak_mb, failed):
    ok = [x for x in timed if not x["errors"]]
    return {
        "wall_s": median(x["run_s"] for x in ok),
        "rows_per_s": median(x["rows"] / x["run_s"] for x in ok),
        "setup_s": setup_s,
        "peak_rss_mb": peak_mb,
        "out_bytes_per_in_byte": median(
            x["out_bytes"] / x["in_bytes"] for x in ok),
        "ops_ok_frac": (len(timed) - failed) / len(timed),
    }


def per_layer(timed, spans, untraced_raw, spec):
    """Reduce traced iterations' spans to per-iteration layer numbers
    and take their medians across iterations."""
    by_it: dict = {}
    children: dict = {}
    for s in spans:
        by_it.setdefault(s["iteration"], []).append(s)
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append(s)

    def self_of(s, key):
        return s[key] - sum(c[key] for c in children.get(s["id"], ()))

    rows = []
    for x in timed:
        if not x["traced"] or x["errors"]:
            continue
        sp = by_it.get(x["i"], [])
        m = {k: 0.0 for k in spec}
        for s in sp:
            # jobs are charged to the innermost open span: already self
            for key, val in ((".s", self_of(s, "dur")),
                             (".py4j", self_of(s, "py4j")),
                             (".jobs", s["exec"]["jobs"])):
                m[s["name"] + key] = m.get(s["name"] + key, 0) + val
            for k in EXEC_UNITS:
                m[f"exec.{k}"] += s["exec"][k]
        intervals = sorted(iv for s in sp for iv in s["exec"]["intervals"])
        action_ms, cur = 0, None
        for a, b in intervals:
            if cur is None or a > cur[1]:
                if cur:
                    action_ms += cur[1] - cur[0]
                cur = [a, b]
            else:
                cur[1] = max(cur[1], b)
        if cur:
            action_ms += cur[1] - cur[0]
        wall = x["wall_s"]
        m["driver.action_s"] = action_ms / 1e3
        m["driver.build_s"] = wall - action_ms / 1e3
        m["driver.py4j"] = sum(s["py4j"] for s in sp if s["parent"] is None)
        m["exec.core_busy_frac"] = m["exec.task_run_s"] / (wall * CORES)
        m["trace.span_coverage"] = sum(self_of(s, "dur") for s in sp) / wall
        m["sources.bytes_written"] = x["out_bytes"] if x["files"] else 0
        m["sources.files_written"] = x["files"]
        m["subset.rows_kept_ratio"] = x.get("kept_ratio", 0.0)
        m["pipeline.survivor_ratio"] = x.get("survivor_ratio", 0.0)
        m["trace.overhead_s"] = x["wall_raw_s"] - untraced_raw
        rows.append(m)
    out = {k: median(r[k] for r in rows) for k in spec}
    setups = [s for s in spans if str(s["iteration"]).startswith("setup")]
    out["session.load_tables.s"] = median(s["dur"] for s in setups)
    out["session.load_tables.py4j"] = median(s["py4j"] for s in setups)
    return out, rows


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tiny", action="store_true",
                    help="sf0.001-sized inputs (the self-test)")
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "greenmask_spark")):
        print(f"perfbench: no program under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, HERE)
    scratch = configure_env()
    try:
        return measure(args)
    finally:
        shutil.rmtree(scratch, ignore_errors=True)


def measure(args) -> int:
    import gen
    from workloads import WORKLOADS

    wl_cls = WORKLOADS.get(args.workload)
    if wl_cls is None:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    load_start, first_canary, ticks0 = loadavg(), canary(), cpu_ticks()
    sizes = dict(wl_cls.sizes)
    if args.tiny:
        sizes.update(customers=50, docs=min(sizes["docs"], 200))
    data_dir, gen_s = gen.make_inputs(args.seed, **sizes)

    tracing = Tracing(bool(args.trace))
    spark, tables, setup_s, setup_rec = setup(wl_cls, data_dir, tracing)
    out_dir = os.path.join(ROOT, ".perfbench_cache", "out", str(os.getpid()))
    wl = wl_cls(data_dir, out_dir, args.seed)
    its = []
    try:
        wl.prepare(spark, tables, tracing.null)
        its = run_loop(wl, spark, tables, tracing, args.seconds,
                       bool(args.trace))
        jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle \
            .current().pid()
        peak_parts = {"python_mb": vm_hwm_mb(os.getpid()),
                      "jvm_mb": vm_hwm_mb(jvm_pid)}
        peak_mb = sum(peak_parts.values())
    finally:
        tracing.close()
        shutdown(spark)
        wl.close(passed=bool(its) and not any(x["errors"] for x in its))
    load_end, ticks1 = loadavg(), cpu_ticks()
    steal = (ticks1[0] - ticks0[0]) / max(1, ticks1[1] - ticks0[1])

    timed = [x for x in its if not x["warm"]]
    failed = sum(1 for x in timed if x["errors"])
    warm_errors = [e for x in its if x["warm"] for e in x["errors"]]
    canaries = [x["canary_s"] for x in its]
    contended = (first_canary > CANARY_FACTOR * CANARY_IDLE_FLOOR_S
                 or max(canaries) > CANARY_FACTOR * min(canaries + [first_canary])
                 or steal > STEAL_LIMIT)
    untraced = [x for x in timed if not x["traced"] and not x["errors"]]
    e2e = end_to_end(untraced or timed, setup_s, peak_mb, failed)
    if args.trace:
        spec = {**PER_LAYER, **EXTRA_LAYERS.get(args.workload, {})}
        metrics, rows = per_layer(
            timed, tracing.spans, median(x["wall_raw_s"] for x in untraced),
            spec)
    else:
        metrics, rows, spec = e2e, [], END_TO_END
    record = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "inputs": {"dir": os.path.relpath(data_dir, ROOT), **sizes,
                   "rows": timed[0].get("rows") if timed else None,
                   "in_bytes": wl.in_bytes, "gen_s": gen_s},
        "setup": setup_rec, "peak_rss": peak_parts,
        "samples": len(untraced), "traced_samples": len(rows),
        "iterations": [{k: x.get(k) for k in ("i", "warm", "traced",
                                             "wall_s", "run_s", "steal_share",
                                             "canary_s")}
                       for x in its],
        # the counts that must repeat exactly, per traced iteration
        "traced_counts": [{k: v for k, v in r.items()
                           if k.endswith((".py4j", ".jobs", "_written"))
                           and k in spec}
                          for r in rows],
        "wall_s": {"median": e2e["wall_s"],
                   "median_with_steal": median(x["wall_s"] for x in untraced),
                   "max_with_steal": max((x["wall_s"] for x in untraced),
                                         default=0.0)},
        "ops_failed_frac": failed / len(timed),
        "verification": {"failed_iterations": failed,
                         "errors": sorted({e for x in its
                                           for e in x["errors"]})[:20]},
        "contention": {"contended": contended, "first_canary_s": first_canary,
                       "idle_floor_s": CANARY_IDLE_FLOOR_S,
                       "canary_max_s": max(canaries),
                       "canary_min_s": min(canaries), "steal_frac": steal,
                       "loadavg_start": load_start, "loadavg_end": load_end},
    }
    for name in spec:
        print(f"{args.workload:16} {name:34} {metrics[name]:>14.6g} "
              f"{spec[name][0]:6} ({spec[name][1]} is better)")
    print(f"{args.workload:16} verification: {len(timed) - failed}/"
          f"{len(timed)} iterations passed"
          + ("; CONTENDED run" if contended else ""))
    print(json.dumps(record, default=str))
    print(json.dumps({
        "correct": failed == 0 and not warm_errors,
        "attempted": len(timed),
        "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": spec[k][0]}
                    for k in spec},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
