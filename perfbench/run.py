"""Benchmark of the ts_raster_spark engine.

Run from the repository root:

    python3 perfbench/run.py --workload tier_cascade --seed 1 --seconds 10 --trace 0

One Spark application at ``local[4]``, closed loop, one client: the next
operation starts only when the previous one has returned. The seed makes
the inputs (and, for ``query_mix``, the query order); the engine sees
only the generated files. Set-up (session start, inputs, expected
answers, untimed warm passes) is timed apart from the measured
operations, whose outputs are all checked outside the timed region.

A run measures a fixed number of passes over the workload's operations:
as many as fill ``--seconds`` on an idle machine (``idle_pass_s`` in
``spec.json``). The end-to-end cost of a pass is CPU seconds of the
whole process tree (driver, Spark JVM, Python workers), the sum over its
operations of each one's median: the CPU time a job bills. The kernel
charges a process none of the time the hypervisor gives its cores to
other guests, which on a shared host spreads wall time across runs far
more than CPU time; a drift in the host's own speed moves both.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` prints the
per-layer metrics of a traced run and writes its spans to
``.perfbench_tmp/traces/``. The last stdout line is the result JSON; the
line before it carries sample counts, the wall time of a pass, each
operation's [wall, CPU] seconds, input sizes, the CPU steal share of the
run and the machine-state canary read at its start and end (recorded,
not gated).
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CORES = 4

END_TO_END = {
    "setup_s": "s",
    "pass_cpu_s": "s",
    "turns_per_cpu_s": "turns/cpu-s",
    "ok_ratio": "ratio",
}

PER_LAYER_STATIC = {
    "session.start_s": "s",
    "sources.derive_s": "s",
    "catalog.write_s": "s",
    "catalog.write_bytes": "B",
    "catalog.write_files": "count",
    "catalog.row_count_s": "s",
    "catalog.bytes_per_turn": "B",
    "longform.s": "s",
    "longform.rows_out_per_turn": "ratio",
    "longform.joins": "count",
    "longform.shuffle_bytes": "B",
    "rollup.s": "s",
    "rollup.sorts": "count",
    "rollup.exchanges": "count",
    "rollup.agg_build_ms": "ms",
    "rollup.sort_ms": "ms",
    "rollup.spill_bytes": "B",
    "rollup.peak_mem_bytes": "B",
    "rollup.groups_out": "count",
    "rollup.task_skew": "ratio",
    "cascade.s": "s",
    "cascade.rows_in_per_row_out": "ratio",
    "jobs.self_s": "s",
    "compress.encode_s": "s",
    "compress.decode_s": "s",
    "compress.groups": "count",
    "compress.python_s": "s",
    "compress.bits_per_value": "bits",
    "queries.plan_s": "s",
    "queries.exec_s": "s",
    "queries.jobs_per_query": "count",
    "spark.task_s": "s",
    "spark.gc_s": "s",
    "spark.core_idle_share": "ratio",
    "spark.shuffle_bytes": "B",
    "spark.spill_bytes": "B",
    "spark.stages": "count",
    "spark.jvm_peak_rss_mib": "MiB",
    "trace.overhead_ratio": "ratio",
}


def load_spec() -> dict:
    with open(os.path.join(HERE, "spec.json")) as f:
        return json.load(f)


def per_layer_units(spec: dict) -> dict[str, str]:
    units = dict(PER_LAYER_STATIC)
    mix = spec["query_mix"]
    units.update({f"query.{q}.s": "s" for q in mix["queries"] + [mix["kernel"]["name"]]})
    return units


def start_session(work: str):
    """Start the engine's SparkSession at local[4], with every scratch
    path inside ``work`` and the engine importable by Python workers."""
    for sub in ("tmp", "spark-local", "warehouse"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_GRAFT_CPUS"] = str(CORES)
    from ts_raster_spark.session import get_spark

    spark = get_spark(
        app_name="perfbench",
        extra_conf={
            "spark.driver.memory": "3g",
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
        },
    )
    spark.sparkContext.setLogLevel("FATAL")
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait for its JVM (and so its Python workers) to end."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()


def cpu_jiffies() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs since boot, from /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return fields[7], sum(fields)


def canary(work: str) -> dict:
    """Fixed machine-state probe: the same NumPy loop on every core at
    once, and an fsynced 16 MiB write."""
    from concurrent.futures import ThreadPoolExecutor

    import numpy as np

    def spin(seed: int) -> float:
        a = np.random.default_rng(seed).random((256, 256))
        for _ in range(40):
            a = np.tanh(a @ a.T / 256.0)
        return float(a[0, 0])

    t0 = time.perf_counter()
    with ThreadPoolExecutor(CORES) as pool:
        list(pool.map(spin, range(CORES)))
    t1 = time.perf_counter()
    path = os.path.join(work, "canary.bin")
    with open(path, "wb") as f:
        f.write(b"\0" * (16 << 20))
        f.flush()
        os.fsync(f.fileno())
    t2 = time.perf_counter()
    os.remove(path)
    return {"cpu_s": t1 - t0, "disk_s": t2 - t1}


CLK_TCK = os.sysconf("SC_CLK_TCK")


def tree_cpu_s() -> float:
    """CPU seconds (user + system) used so far by this process and every
    process it started (the Spark JVM, its Python workers), children
    already reaped included, from /proc."""
    procs: dict[int, tuple[int, int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                raw = f.read()
        except OSError:  # the process ended while we looked
            continue
        fields = raw[raw.rindex(")") + 2 :].split()
        # ppid is field 4; utime, stime, cutime, cstime are fields 14-17
        procs[int(entry)] = (int(fields[1]), sum(int(x) for x in fields[11:15]))
    kids: dict[int, list[int]] = {}
    for pid, (ppid, _) in procs.items():
        kids.setdefault(ppid, []).append(pid)
    ticks, todo = 0, [os.getpid()]
    while todo:
        pid = todo.pop()
        ticks += procs.get(pid, (0, 0))[1]
        todo.extend(kids.get(pid, ()))
    return ticks / CLK_TCK


def jvm_peak_rss_mib(spark) -> float:
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return float("nan")


class Tally:
    """Operations attempted and failed, with the first few problems."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []

    def add(self, problems: list[str]) -> None:
        self.attempted += 1
        if problems:
            self.failed += 1
            self.problems.extend(problems[: max(0, 5 - len(self.problems))])


def attempt(wl, name: str, call, tally: Tally) -> tuple[float, float] | None:
    """Run one operation, then check its output untimed. Returns the
    operation's wall and CPU seconds, or None when it raised or its
    output was wrong."""
    c0 = tree_cpu_s()
    t0 = time.perf_counter()
    try:
        result = call()
        seconds = time.perf_counter() - t0
        cpu = tree_cpu_s() - c0
        problems = wl.check(name, result)
    except Exception as e:  # a failing operation is counted, not fatal
        traceback.print_exc(file=sys.stderr)
        problems = [f"{name}: {type(e).__name__}: {(str(e).splitlines() or [''])[0][:300]}"]
    tally.add(problems)
    return None if problems else (seconds, cpu)


def run_passes(wl, n_passes: int, tally: Tally, timings: dict[str, list]) -> float:
    """Closed loop over ``n_passes`` whole passes of the workload's
    operations. Returns the wall time."""
    t_start = time.perf_counter()
    for _ in range(n_passes):
        for name, call in wl.items():
            t = attempt(wl, name, call, tally)
            if t is not None:
                timings.setdefault(name, []).append(t)
    return time.perf_counter() - t_start


def measured_passes(spec: dict, seconds: float) -> int:
    """Passes that fill ``seconds`` on an idle machine (at least one).
    A count, not a deadline: a slow spell on a shared host then changes
    neither how many operations the medians see nor how far the JVM had
    warmed when each ran."""
    return max(1, math.ceil(seconds / spec["idle_pass_s"]))


def main(argv: list[str] | None = None) -> int:
    spec_all = load_spec()
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(spec_all))
    ap.add_argument("--seed", type=int, default=None)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "ts_raster_spark", "__init__.py")) or not os.path.isfile(
        os.path.join(ROOT, "__spark_entry__.py")
    ):
        print(f"perfbench: the engine sources are missing under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)

    spec = spec_all[args.workload]
    seed = spec["default_seed"] if args.seed is None else args.seed
    work = os.path.join(ROOT, ".perfbench_tmp", f"{args.workload}-{seed}-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    try:
        return run(args, spec_all, seed, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def run(args, spec_all: dict, seed: int, work: str) -> int:
    from workloads import WORKLOADS

    canary_start = canary(work)
    steal0 = cpu_jiffies()
    t0 = time.perf_counter()
    spark = start_session(work)
    session_s = time.perf_counter() - t0
    try:
        wl = WORKLOADS[args.workload](spark, work, seed, spec_all[args.workload])
        tally = Tally()

        t0 = time.perf_counter()
        wl.prepare()
        prepare_s = time.perf_counter() - t0
        warm: dict[str, list] = {}
        warm_s = run_passes(wl, wl.spec["warm_passes"], tally, warm)  # checked but untimed
        setup_s = session_s + prepare_s + warm_s

        timings: dict[str, list] = {}
        if args.trace:
            metrics = traced_run(wl, spark, args.seconds, tally, timings, session_s, spec_all)
        else:
            wall = run_passes(wl, measured_passes(wl.spec, args.seconds), tally, timings)
        steal1 = cpu_jiffies()
        canary_end = canary(work)
    finally:
        stop_session(spark)

    if not timings:
        print(f"perfbench: every operation failed: {tally.problems}", file=sys.stderr)
        return 1
    samples = {"ops": sum(map(len, timings.values()))}
    if not args.trace:
        pass_cpu_s = sum(statistics.median(c for _, c in ts) for ts in timings.values())
        values = {
            "setup_s": setup_s,
            "pass_cpu_s": pass_cpu_s,
            "turns_per_cpu_s": wl.n_turns * len(timings) / pass_cpu_s,
            "ok_ratio": (tally.attempted - tally.failed) / tally.attempted,
        }
        metrics = {k: {"value": values[k], "unit": u} for k, u in END_TO_END.items()}
        samples["wall_s"] = wall
        samples["pass_wall_s"] = sum(statistics.median(w for w, _ in ts) for ts in timings.values())
    detail = {
        "workload": args.workload,
        "seed": seed,
        "trace": args.trace,
        "inputs": wl.sizes(),
        "samples": samples,
        "setup": {"session_s": session_s, "prepare_s": prepare_s, "warm_s": warm_s},
        "warm_op_s": warm,
        "op_s": timings,
        "canary": {"start": canary_start, "end": canary_end},
        "cpu_steal_share": (steal1[0] - steal0[0]) / max(1, steal1[1] - steal0[1]),
        "problems": tally.problems,
    }
    print(json.dumps(detail, sort_keys=True))
    result = {
        "correct": tally.failed == 0,
        "attempted": tally.attempted,
        "failed": tally.failed,
        "metrics": metrics,
    }
    print(json.dumps(result))
    return 0


def traced_run(wl, spark, seconds, tally, timings, session_s, spec_all) -> dict:
    """Each operation runs once untraced and once traced, the two in
    alternating order, for ``seconds``; then the prefix breakdown of the
    layers."""
    from tracing import Tracer

    tracer = Tracer(spark)
    traced: dict[str, list[float]] = {}
    op_spans = []

    def plain_run(name, call):
        t = attempt(wl, name, call, tally)
        if t is not None:
            timings.setdefault(name, []).append(t)

    def traced_call(name, call):
        def spanned_call():
            with wl.instrumented(tracer), tracer.span(name) as s:
                result = call()
            op_spans.append(s)
            return result

        if attempt(wl, name, spanned_call, tally) is not None:
            traced.setdefault(name, []).append(op_spans[-1].seconds)

    t_start = time.perf_counter()
    flip = False
    while True:
        for name, call in wl.items():
            for run_one in (traced_call, plain_run) if flip else (plain_run, traced_call):
                run_one(name, call)
            flip = not flip
        if time.perf_counter() - t_start >= seconds:
            break
    plain = {k: statistics.median(w for w, _ in v) for k, v in timings.items()}
    stage = [tracer.stage_totals(s) for s in op_spans]
    wall = statistics.mean(s.seconds for s in op_spans)
    task_s = statistics.mean(st.task_ms for st in stage) / 1e3
    values = {k: 0.0 for k in per_layer_units(spec_all)}
    values.update(
        {
            "session.start_s": session_s,
            "spark.jvm_peak_rss_mib": jvm_peak_rss_mib(spark),
            "spark.task_s": task_s,
            "spark.gc_s": statistics.mean(st.gc_ms for st in stage) / 1e3,
            "spark.core_idle_share": 1.0 - task_s / (wall * CORES),
            "spark.shuffle_bytes": statistics.mean(st.shuffle_write_bytes for st in stage),
            "spark.spill_bytes": statistics.mean(st.spill_bytes for st in stage),
            "spark.stages": statistics.mean(st.stages for st in stage),
            "trace.overhead_ratio": sum(statistics.median(v) for v in traced.values())
            / sum(plain[k] for k in traced),
        }
    )
    values.update({f"query.{k}.s": v for k, v in plain.items() if f"query.{k}.s" in values})
    values.update(wl.layers(tracer, op_spans))
    os.makedirs(os.path.join(os.path.dirname(wl.work), "traces"), exist_ok=True)
    tracer.dump(
        os.path.join(os.path.dirname(wl.work), "traces", f"{wl.name}-{wl.seed}.json"),
        {"workload": wl.name, "seed": wl.seed, "per_layer": values},
    )
    units = per_layer_units(spec_all)
    return {k: {"value": float(values[k]), "unit": units[k]} for k in units}


if __name__ == "__main__":
    sys.exit(main())
