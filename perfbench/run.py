#!/usr/bin/env python3
"""The repository's benchmark: one workload, one seed, one closed-loop caller.

Run from the repository root::

    python3 perfbench/run.py --workload sql_analytics --seed 1 --seconds 5 --trace 0

Order of a run:

1. a fixed single-thread CPU probe (host-drift diagnostic, not a metric);
2. the workload's inputs are sampled from the fixture copy in
   ``perfbench/fixture/`` by the seed into ``.perfbench/``, under a
   completion marker; this is outside every timing;
3. one cold set-up, timed as ``setup_s``: the SparkSession, ``queries()``
   (``registry.load_all()``) and one warm-up of every op on the workload's
   smallest input;
4. the workload's fixed number of timed passes (``PASSES``, chosen so a
   run measures more than its ``--seconds``, which is recorded):
   the ops of a pass run one after another, each started only after the
   previous one returned its result to the driver and the result was
   checked;
5. with ``--trace 1`` the session runs with Spark's event log on and
   ``2 * PASSES + 1`` passes alternate: even passes untraced, odd passes
   under job tags and the layer wrappers of ``layers.py``; the per-layer
   metrics come from the traced passes, the tracing overhead from the
   difference;
6. the CPU probe again.

The last line of stdout is the result JSON; the lines before it carry the
run's diagnostics (configuration, CPU probe, sample counts, per-op table).
The exit code is 0 only when every op's result matched its expected value.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import statistics
import sys
import time
from collections import defaultdict

HERE = os.path.dirname(os.path.abspath(__file__))
CORES = min(4, os.cpu_count() or 1)
SHUFFLE_PARTITIONS = 4
# one configuration for every run, stamped into the output
SPARK_CONF = {
    "spark.driver.memory": "2g",
    "spark.ui.showConsoleProgress": "false",
    "spark.eventLog.enabled": "false",
}
# layers whose per-op plan/exec split is reported (module under the package)
LAYERS = (
    "operators.relational", "operators.temporal", "streaming.windows",
    "operators.text", "operators.dedup", "operators.similarity",
    "operators.multimodal", "functions.udfs",
)
SPARK_KEYS = (
    "jobs", "job_s", "tasks", "failed_tasks", "executor_run_s", "executor_cpu_s",
    "gc_s", "input_mb", "shuffle_write_mb", "shuffle_read_mb", "spill_mb",
    "python_in_mb", "python_out_mb",
)
MB = 1024 * 1024
RECONCILE_TOL = 0.05  # allowed |wall - (plan_s + exec_s)| / wall of a traced op


def cpu_probe() -> float:
    """Seconds of a fixed pure-Python loop on one core."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(2_000_000):
        acc = (acc + i * i) % 1_000_003
    return time.perf_counter() - t0


class Clock:
    """Phase timer handed to ``Workload.run``: ``clock(phase)`` ends the
    running phase, returns its seconds and starts ``phase`` (None ends the
    op). With a tag, each phase's Spark jobs carry ``<tag>:<phase>``; the
    tag calls fall between phases, so they show up only in the gap
    between the op's outer wall time and plan_s + exec_s."""

    def __init__(self, sc, tag: str | None):
        self.sc, self.tag, self.phase, self.t = sc, tag, None, None

    def __call__(self, phase: str | None) -> float:
        dt = 0.0 if self.t is None else time.perf_counter() - self.t
        if self.tag is not None:
            if self.phase is not None:
                self.sc.removeJobTag(f"{self.tag}:{self.phase}")
            if phase is not None:
                self.sc.addJobTag(f"{self.tag}:{phase}")
        self.phase = phase
        self.t = time.perf_counter()
        return dt


def storage_mb(spark) -> tuple[float, float]:
    """(cached blocks, all storage memory in use) in MiB. Cached blocks are
    what ``ephemeral`` scopes and memos hold; storage memory adds broadcast
    blocks, which Spark frees only after a JVM garbage collection."""
    sc = spark.sparkContext
    cached = sum(i.memSize() + i.diskSize() for i in sc._jsc.sc().getRDDStorageInfo())
    env = sc._jvm.org.apache.spark.SparkEnv.get()
    return cached / MB, env.memoryManager().storageMemoryUsed() / MB


def build_session(root: str, extra: dict[str, str]):
    from mapreduce_framework_simple_spark.session import builder

    local = os.path.join(root, ".perfbench", "tmp")
    b = builder("perfbench", master=f"local[{CORES}]", shuffle_partitions=SHUFFLE_PARTITIONS)
    for k, v in {
        **SPARK_CONF,
        "spark.local.dir": local,
        "spark.sql.warehouse.dir": os.path.join(local, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={local} -XX:-UsePerfData",
        **extra,
    }.items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_jvm() -> None:
    """End the JVM PySpark launched and wait for it. ``spark.stop()``
    leaves the gateway JVM running until this process exits, and nothing
    waits for it then; a run must not end before the processes it started.
    The JVM exits when its stdin closes, and its Python workers with it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    SparkContext._gateway = SparkContext._jvm = None


def set_up(root: str, wl, extra: dict[str, str]):
    """One set-up: session, ``queries()``, warm-up of every op on the
    smallest input. Returns (spark, queries, ops, {phase: seconds},
    failures); a failing warm-up op is recorded, not raised, and counts
    against ``op_success_ratio``."""
    import __spark_entry__

    t0 = time.perf_counter()
    spark = build_session(root, extra)
    t1 = time.perf_counter()
    queries = __spark_entry__.queries()
    ops = wl.ops(queries)
    t2 = time.perf_counter()
    warm, results = wl.warm_input(), []
    for op in ops:
        try:
            results.append(wl.run(op, spark, queries, warm, Clock(spark.sparkContext, None))[0])
        except Exception as e:
            results.append(e)
    t3 = time.perf_counter()
    failures = []
    for op, result in zip(ops, results):
        bad = ([f"{type(result).__name__}: {result}"[:500]] if isinstance(result, Exception)
               else wl.check(op, warm, result))
        if bad:
            failures.append((op.name, warm.label, bad[0]))
    times = {"start_s": t1 - t0, "load_s": t2 - t1, "warm_s": t3 - t2, "setup_s": t3 - t0}
    return spark, queries, ops, times, failures


def measure(wl, spark, queries, ops, tracer=None) -> list[dict]:
    """One closed-loop pass per input of the workload. With a tracer, odd
    passes are traced and even ones are not, so both kinds run in the
    same session at the same JVM warmth."""
    sc = spark.sparkContext
    passes: list[dict] = []
    for i in range(wl.n_passes):
        inp = wl.pass_input(i)
        for op in ops:  # expected values first, outside the pass
            wl.expected(op, inp)
        traced = tracer is not None and i % 2 == 1
        if traced:
            tracer.install()
        rows = []
        for k, op in enumerate(ops):
            rec: dict = {"op": op.name, "layer": op.layer, "input": inp.label,
                         "pass": i, "tag": f"pb:{i}:{k}" if traced else None}
            if traced:
                tracer.rec = rec
            t0 = time.perf_counter()
            try:
                result, plan_s, exec_s = wl.run(op, spark, queries, inp, Clock(sc, rec["tag"]))
                rec["wall_s"] = time.perf_counter() - t0
                rec.update(plan_s=plan_s, exec_s=exec_s, latency_s=plan_s + exec_s)
                rec["errors"] = wl.check(op, inp, result)
                _result_sizes(rec, op, result, wl)
            except Exception as e:  # a failing op is a counted result, not a crash
                rec.setdefault("wall_s", time.perf_counter() - t0)  # to the exception
                rec.setdefault("latency_s", rec["wall_s"])
                rec["errors"] = [f"{type(e).__name__}: {e}"[:500]]
            if traced:
                tracer.rec = None
            rec["cached_mb"], rec["storage_mb"] = storage_mb(spark)
            rows.append(rec)
        if traced:
            tracer.uninstall()
        passes.append({"pass": i, "input": inp.label, "traced": traced, "ops": rows,
                       "pass_s": sum(r["latency_s"] for r in rows)})
    return passes


def _result_sizes(rec: dict, op, result, wl) -> None:
    if op.kind == "query":
        rec["result_mb"] = result.nbytes / MB
    elif op.kind == "curate":
        out = wl.curated_dir
        rec["output_mb"] = sum(
            os.path.getsize(os.path.join(out, f)) for f in os.listdir(out)
        ) / MB
    elif op.kind == "mapreduce":
        spans = result[1]
        rec.update(mapper_s=spans.get("mapper_s", 0.0), reduce_s=spans.get("reduce_s", 0.0))


# ---------------------------------------------------------------------------


def end_to_end(setup: dict, passes: list[dict], attempted: int, failed: int
               ) -> tuple[dict, dict]:
    """Untraced passes only for the timings; a failed op counts with its
    time to the exception or to its wrong result. ``attempted`` and
    ``failed`` cover every op execution of the run, warm-up included."""
    lat = [r["latency_s"] for p in _steady(passes) for r in p["ops"]]
    p90 = statistics.quantiles(lat, n=10)[-1] if len(lat) >= 2 else (lat or [math.nan])[0]
    metrics = {
        "setup_s": (setup["setup_s"], "s"),
        "pass_s": (statistics.median(p["pass_s"] for p in _steady(passes)), "s"),
        "op_p50_s": (statistics.median(lat) if lat else math.nan, "s"),
        "op_p90_s": (p90, "s"),
        "op_success_ratio": ((attempted - failed) / attempted, "ratio"),
    }
    info = {
        "op_samples": len(lat), "op_samples_beyond_p90": sum(x > p90 for x in lat),
        "passes": len(passes), "measured_s": sum(p["pass_s"] for p in passes),
        "attempted": attempted, "failed": failed, "op_fail_ratio": failed / attempted,
    }
    return metrics, info


def per_layer(setup: dict, passes: list[dict], log: dict, untraced_pass_s: float) -> dict:
    """Per-pass layer numbers of the traced passes (never the session's
    first), as medians over them."""
    per_pass: list[dict] = []
    for p in passes:
        m: dict[str, float] = defaultdict(float)
        for r in p["ops"]:
            layer = r["layer"]
            if layer == "pipeline":
                m["pipeline.curate_s"] += r.get("latency_s", 0.0)
                m["sources.output_mb"] += r.get("output_mb", 0.0)
            elif layer == "operators.mapreduce":
                slow = r.get("mapper_s", 0.0) + r.get("reduce_s", 0.0)
                m["operators.mapreduce.chunk_s"] += r.get("chunk_s", 0.0)
                m["mapreduce.mapper_s"] += r.get("mapper_s", 0.0)
                m["mapreduce.reduce_s"] += r.get("reduce_s", 0.0)
                m["mapreduce.overhead_s"] += r.get("latency_s", 0.0) - slow
            else:
                m[f"{layer}.plan_s"] += r.get("plan_s", 0.0)
                m[f"{layer}.exec_s"] += r.get("exec_s", 0.0)
                m[f"{layer}.probe_jobs"] += log.get(f"{r['tag']}:plan", {}).get("jobs", 0)
            m["collect.result_mb"] += r.get("result_mb", 0.0)
            m["ephemeral.memo_lookups"] += r.get("memo_lookups", 0)
            m["ephemeral.memo_hits"] += r.get("memo_hits", 0)
            m["ephemeral.release_s"] += r.get("release_s", 0.0)
            for phase in ("plan", "exec"):
                for k, v in log.get(f"{r['tag']}:{phase}", {}).items():
                    m[f"spark.{k}"] += v
        m["ephemeral.cache_peak_mb"] = max(r["cached_mb"] for r in p["ops"])
        m["spark.storage_peak_mb"] = max(r["storage_mb"] for r in p["ops"])
        per_pass.append(m)
    names = [f"{layer}.{k}" for layer in LAYERS for k in ("plan_s", "probe_jobs", "exec_s")]
    names += ["operators.mapreduce.chunk_s", "mapreduce.mapper_s", "mapreduce.reduce_s",
              "mapreduce.overhead_s", "collect.result_mb", "ephemeral.memo_lookups",
              "ephemeral.release_s", "ephemeral.cache_peak_mb", "spark.storage_peak_mb",
              "pipeline.curate_s", "sources.output_mb"]
    names += [f"spark.{k}" for k in SPARK_KEYS]
    out = {n: statistics.median(m.get(n, 0.0) for m in per_pass) for n in names}
    hits = sum(m.get("ephemeral.memo_hits", 0) for m in per_pass)
    looks = sum(m.get("ephemeral.memo_lookups", 0) for m in per_pass)
    out["ephemeral.memo_hit_ratio"] = hits / looks if looks else 0.0
    out["session.start_s"] = setup["start_s"]
    out["registry.load_s"] = setup["load_s"]
    out["trace.overhead_s"] = statistics.median(p["pass_s"] for p in passes) - untraced_pass_s
    out["trace.reconcile_gap"] = max((g for _, g in reconcile(passes)), default=0.0)
    out["trace.passes"] = len(passes)
    return out


def reconcile(passes: list[dict]) -> list[tuple[str, float]]:
    """(op, gap) per completed op: the share by which its outer wall time
    differs from ``plan_s + exec_s``, the tag bookkeeping between phases."""
    return [(f"{r['op']}@{r['input']}", abs(r["wall_s"] - r["latency_s"]) / r["wall_s"])
            for p in passes for r in p["ops"] if "plan_s" in r]


def _steady(passes: list[dict]) -> list[dict]:
    """Passes after the session's first (which fills the session's memos)."""
    return [p for p in passes if p["pass"] > 0] or passes


def layer_table(passes: list[dict], log: dict) -> list[str]:
    """One line per op of the traced passes: timing split and Spark work."""
    head = (f"{'pass':>4} {'op':<26} {'layer':<22} {'plan_s':>7} {'probes':>6} "
            f"{'exec_s':>7} {'jobs':>4} {'tasks':>5} {'run_s':>6} {'shufW':>7} "
            f"{'pyIO_mb':>7} {'memo':>5}")
    lines = [head]
    for p in passes:
        for r in p["ops"]:
            pl, ex = log.get(f"{r['tag']}:plan", {}), log.get(f"{r['tag']}:exec", {})
            tot = lambda k: pl.get(k, 0) + ex.get(k, 0)  # noqa: E731
            lines.append(
                f"{p['pass']:>4} {r['op']:<26} {r['layer']:<22} {r.get('plan_s', 0):7.3f} "
                f"{pl.get('jobs', 0):6.0f} {r.get('exec_s', 0):7.3f} {tot('jobs'):4.0f} "
                f"{tot('tasks'):5.0f} {tot('executor_run_s'):6.2f} "
                f"{tot('shuffle_write_mb'):7.3f} "
                f"{tot('python_in_mb') + tot('python_out_mb'):7.3f} "
                f"{r.get('memo_hits', 0):.0f}/{r.get('memo_lookups', 0):.0f}"
            )
    return lines


# ---------------------------------------------------------------------------


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    if not (os.path.isfile(os.path.join(root, "__spark_entry__.py"))
            and os.path.isdir(os.path.join(root, "mapreduce_framework_simple_spark"))):
        print("perfbench: run from the repository root (no engine package here)",
              file=sys.stderr)
        return 2
    sys.path[:0] = [HERE, root]
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    cache = os.path.join(root, ".perfbench")
    os.makedirs(os.path.join(cache, "tmp"), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(cache, "tmp")

    cls = WORKLOADS[args.workload]
    wl = cls(cache, args.seed, 2 * cls.PASSES + 1 if args.trace else cls.PASSES)
    cpu_before = cpu_probe()
    t_inputs = time.perf_counter()
    wl.prepare()
    inputs_s = time.perf_counter() - t_inputs

    log_dir = os.path.join(cache, "eventlog")
    extra: dict[str, str] = {}
    if args.trace:
        from layers import Tracer, event_log_conf, read_event_log

        os.makedirs(log_dir, exist_ok=True)
        extra = event_log_conf(log_dir)
    spark = None
    try:
        spark, queries, ops, setup, failures = set_up(root, wl, extra)
        app_id = spark.sparkContext.applicationId
        all_passes = measure(wl, spark, queries, ops, Tracer() if args.trace else None)
    finally:
        if spark is not None:
            spark.stop()
        stop_jvm()
    passes = [p for p in all_passes if not p["traced"]]
    traced = [p for p in all_passes if p["traced"]]
    failures += [(r["op"], r["input"], r["errors"][0])
                 for p in all_passes for r in p["ops"] if r["errors"]]
    attempted = len(ops) + sum(len(p["ops"]) for p in all_passes)  # warm-up included
    metrics, info = end_to_end(setup, passes, attempted, len(failures))
    table: list[str] = []
    if args.trace:
        log = read_event_log(log_dir, app_id)  # deletes the log once read
        untraced = statistics.median(p["pass_s"] for p in _steady(passes))
        layers = per_layer(setup, traced, log, untraced)
        table = layer_table(traced, log)
        over = [(op, round(g, 4)) for op, g in reconcile(traced) if g > RECONCILE_TOL]
        info["reconcile"] = {"tolerance": RECONCILE_TOL, "ok": not over, "over": over[:20]}
        if over:
            print(f"perfbench: {len(over)} traced ops miss plan_s + exec_s = wall within "
                  f"{RECONCILE_TOL:.0%}: {over[:5]}", file=sys.stderr)
    cpu_after = cpu_probe()

    import pyspark

    diag = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "spark": pyspark.__version__, "python": sys.version.split()[0],
        "master": f"local[{CORES}]", "shuffle_partitions": SHUFFLE_PARTITIONS,
        "spark_conf": {**SPARK_CONF, **extra},
        "setup": {k: round(v, 3) for k, v in setup.items()},
        "inputs_s": round(inputs_s, 3),
        "cpu_probe_s": [round(cpu_before, 4), round(cpu_after, 4)],
        "pass_s": [round(p["pass_s"], 3) for p in passes], **info,
        "failures": failures[:20],
    }
    for line in table:
        print(line)
    print(json.dumps({"diagnostics": diag}))
    if args.trace:
        metrics = {k: (v, _unit(k)) for k, v in layers.items()}
    result = {
        "correct": not failures,
        "attempted": attempted,
        "failed": len(failures),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    print(json.dumps(result))
    return 0 if not failures else 1


def _unit(name: str) -> str:
    if name.endswith("_s"):
        return "s"
    if name.endswith("_mb"):
        return "MiB"
    if name.endswith(("_ratio", "_gap")):
        return "ratio"
    return "count"


if __name__ == "__main__":
    sys.exit(main())
