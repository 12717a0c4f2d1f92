"""Steady-state benchmark of the KG pipeline and the KB graph queries.

Run from the repository root:

    python3 kgbench/run.py --workload kg_build --seed 1 --seconds 20 --trace 0

Set-up (Spark session, seeded input store, a fixed number of warm-up
operations) is timed as ``setup_s``.  The timed phase then repeats one
operation for ``--seconds`` seconds, closed loop, one client.  With
``--trace 0`` it prints the end-to-end metrics; with ``--trace 1`` it
alternates traced and untraced operations, runs single-layer probes after
them, and prints the per-layer metrics.  Every operation's output is
checked, and once per run one output is compared with an oracle.

The last line of stdout is one JSON object:
``{"correct", "attempted", "failed", "metrics": {name: {"value", "unit"}}}``.
The line before it is the run record (host, Spark settings, load, every
operation's wall time, leftover warm-up drift).  NOTES.md explains the
workloads, sizes and warm-up counts.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "thesaurus_based_ner_spark"
CPUS = min(4, len(os.sched_getaffinity(0)))
SETUP_REPS = 3  # the input store is built this many times; median counts
# timed ops, even when --seconds has run out: untraced, and in a traced
# run untraced and traced each
MIN_OPS = 3
MIN_OPS_TRACED_RUN = 2

END_TO_END = [
    ("setup_s", "s"), ("wall_s", "s"), ("cpu_s", "core-s"), ("peak_rss_mb", "MB"),
]
CATALOG_STAGES = ["match", "link", "candidates", "canonicalize", "materialize"]
QUERY_NAMES = ["entity_pagerank", "canonical_components", "dedup_ngram_jaccard"]
PER_LAYER = (
    [("session.get_spark.s", "s"), ("setup.inputs.s", "s"), ("setup.warmup.s", "s"),
     ("setup.warmup.ops", "count"),
     ("plans.pipeline.run_pipeline.s", "s"), ("plans.pipeline.run_pipeline.self_s", "s"),
     ("plans.pipeline.run_pipeline.jobs", "count"),
     ("functions.text.extract.s", "s"),
     ("operators.mentions.dim.s", "s"), ("operators.mentions.dim.jobs", "count"),
     ("operators.mentions.match_df.s", "s"), ("operators.mentions.match_trie.s", "s")]
    + [(f"sources.catalog.write.{st}.{m}", u) for st in CATALOG_STAGES
       for m, u in (("s", "s"), ("jobs", "count"), ("shuffle_write_mb", "MB"),
                    ("bytes_written_mb", "MB"), ("files", "count"))]
    + [("sources.catalog.replace_groups.s", "s"),
       ("sources.catalog.replace_groups.bytes_rewritten_mb", "MB"),
       ("sources.catalog.replace_groups.write_amp", "ratio")]
    + [(f"plans.queries.{q}.{m}", u) for q in QUERY_NAMES
       for m, u in (("s", "s"), ("jobs", "count"), ("stages", "count"),
                    ("shuffle_write_mb", "MB"))]
    + [("spark.jobs_per_op", "count"), ("spark.stages_per_op", "count"),
       ("spark.tasks_per_op", "count"), ("spark.exec_util", "ratio"),
       ("spark.gc_s", "s"), ("spark.shuffle_write_mb", "MB"), ("spark.spill_mb", "MB"),
       ("trace.overhead_s", "s"), ("trace.unattributed_jobs", "count"),
       ("timed.drift", "ratio")]
)


def _mem_total_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("no MemTotal in /proc/meminfo")


def driver_heap() -> str:
    """A tenth of RAM, 1-2 GB: room for these inputs, and the rest of the
    host for the Python workers.  The package default (48g) lets the
    kernel kill the driver JVM on a 15 GB host."""
    return f"{max(1024, min(2048, _mem_total_mb() // 10))}m"


def _fs_type(path: str) -> str:
    best, fstype = "", "?"
    with open("/proc/mounts") as f:
        for line in f:
            _, mnt, typ = line.split()[:3]
            if path.startswith(mnt) and len(mnt) > len(best):
                best, fstype = mnt, typ
    return fstype


def _drift(walls: list[float]) -> float:
    """Second-half over first-half median wall, minus one."""
    half = len(walls) // 2
    return statistics.median(walls[-half:]) / statistics.median(walls[:half]) - 1


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=["kg_build", "kb_graph"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return p.parse_args(argv)


def prepare(work: str) -> str:
    """Point every file Spark, its Python workers and this process write
    at work/, put the package on the workers' path and size the driver
    heap.  Returns where the heap size came from."""
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(f"{work}/tmp")
    os.environ["TMPDIR"] = f"{work}/tmp"
    tempfile.tempdir = None
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    sys.path.insert(0, ROOT)
    if "SPARK_DRIVER_MEMORY" in os.environ:
        return "env"
    os.environ["SPARK_DRIVER_MEMORY"] = driver_heap()
    return "sized"


def start_spark(work: str):
    from thesaurus_based_ner_spark.session import get_spark

    return get_spark("kgbench", cpus=CPUS, extra_conf={
        "spark.local.dir": f"{work}/local",
        "spark.sql.warehouse.dir": f"{work}/warehouse",
        # no hsperfdata file: the JVM would write it to /tmp whatever
        # java.io.tmpdir says
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work}/tmp -XX:-UsePerfData",
    })


def stop_spark(spark) -> None:
    """Stop the session and wait until the driver JVM has exited."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:  # the JVM exits when its stdin closes
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"kgbench: no {PACKAGE}/ next to kgbench/; nothing to measure",
              file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".kgbench_run", f"{args.workload}-s{args.seed}-t{args.trace}")
    heap_source = prepare(work)
    from proctree import other_spark_jvms

    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "nproc": os.cpu_count(), "ram_mb": _mem_total_mb(),
        "spark_cpus": CPUS, "driver_heap": os.environ["SPARK_DRIVER_MEMORY"],
        "driver_heap_source": heap_source, "load_start": os.getloadavg(),
        "other_spark_jvms": other_spark_jvms(os.getpid()),
        "spark_local_dir": f"{work}/local", "spark_local_dir_fs": _fs_type(work),
    }
    t0 = time.perf_counter()
    spark = start_spark(work)
    session_s = time.perf_counter() - t0
    record["spark_parallelism"] = spark.sparkContext.defaultParallelism
    try:
        return _run(args, spark, session_s, record, work)
    finally:
        stop_spark(spark)
        for name in os.listdir(work):
            if name != "trace.json":
                shutil.rmtree(f"{work}/{name}", ignore_errors=True)
        if not os.listdir(work):
            os.rmdir(work)


def _run(args, spark, session_s: float, record: dict, work: str) -> int:
    from proctree import RssSampler, tree_cpu_s
    from spans import Tracer
    from workloads import WORKLOADS

    pid = os.getpid()
    tracer = Tracer(spark, enabled=bool(args.trace))
    wl = WORKLOADS[args.workload](spark, work, args.seed, tracer)
    errors: list[str] = []
    attempted = failed = 0
    traced_raw: list[dict] = []  # status-store reads of the traced ops

    def run_op(k: int, traced: bool) -> tuple[float, float, dict]:
        nonlocal attempted, failed
        attempted += 1
        if traced:
            tracer.sync()
        tracer.active = traced
        err = None
        c0, t0 = tree_cpu_s(pid), time.perf_counter()
        try:
            with tracer.span("op") as op_span:
                wl.op(k, traced)
        except Exception:
            err = traceback.format_exc()
        wall, cpu = time.perf_counter() - t0, tree_cpu_s(pid) - c0
        tracer.active = False
        if err is None:
            try:
                if traced:
                    traced_raw.append(tracer.collect_op(op_span, wall))
                err = wl.check_op()
            except Exception:
                err = traceback.format_exc()
        if err is not None:
            failed += 1
            errors.append(f"op {k}: {err}")
            print(f"kgbench: op {k} failed: {err}", file=sys.stderr)
        return wall, cpu, op_span

    # -- set-up: input store (median of SETUP_REPS builds) + warm-up ops
    builds = []
    for r in range(SETUP_REPS):
        t0 = time.perf_counter()
        wl.build_store(f"{work}/store-{r}")
        builds.append(time.perf_counter() - t0)
        if r:
            shutil.rmtree(f"{work}/store-{r - 1}")
    t0 = time.perf_counter()
    wl.open_store(f"{work}/store-{SETUP_REPS - 1}")
    inputs_s = statistics.median(builds) + time.perf_counter() - t0
    warm = [run_op(k, False)[0] for k in range(wl.warmup_ops)]
    setup_s = session_s + inputs_s + sum(warm)

    # -- timed phase
    walls, cpus, traced_walls = [], [], []
    k = wl.warmup_ops
    with RssSampler(pid) as rss:
        t_start = time.perf_counter()
        while True:
            traced = bool(args.trace) and len(walls) > len(traced_walls)
            wall, cpu, _ = run_op(k, traced)
            if traced:
                traced_walls.append(wall)
            else:
                walls.append(wall)
                cpus.append(cpu)
            k += 1
            done = time.perf_counter() - t_start >= args.seconds
            if args.trace:
                done = done and min(len(walls), len(traced_walls)) >= MIN_OPS_TRACED_RUN
            if done and len(walls) >= (MIN_OPS_TRACED_RUN if args.trace else MIN_OPS):
                break
    record.update(load_end=os.getloadavg(), warmup_walls=warm, timed_walls=walls,
                  timed_cpus=cpus, traced_walls=traced_walls, timed_ops=len(walls),
                  drift=_drift(walls), inputs_builds=builds,
                  peak_rss_by_comm=rss.peak_by_comm)

    # -- once-per-run checks and, traced, the single-layer probes
    try:
        errors += wl.check_run()
    except Exception:
        errors.append("check_run: " + traceback.format_exc())
    probe_stats = None
    if args.trace:
        try:
            tracer.sync()
            tracer.active = True
            t0 = time.perf_counter()
            with tracer.span("probes") as probe_span:
                errors += wl.probes()
            tracer.active = False
            probe_stats = tracer.op_stats(
                tracer.collect_op(probe_span, time.perf_counter() - t0)
            )
        except Exception:
            errors.append("probes: " + traceback.format_exc())
        tracer.write(f"{work}/trace.json")
    correct = not errors
    for e in errors:
        print(f"kgbench: check failed: {e}", file=sys.stderr)

    if args.trace:
        op_stats = [tracer.op_stats(op) for op in traced_raw]
        metrics = _per_layer(record, session_s, inputs_s, warm, walls, traced_walls,
                             op_stats, probe_stats)
        units = dict(PER_LAYER)
    else:
        metrics = {"setup_s": setup_s, "wall_s": statistics.median(walls),
                   "cpu_s": statistics.median(cpus), "peak_rss_mb": rss.peak_mb}
        units = dict(END_TO_END)
    # error_rate is not a BENCHMARK.json metric: it is 0 on every kept
    # workload; attempted and failed carry it in the result line
    metrics_out = list(metrics.items()) + [("error_rate", failed / attempted)]
    for name, value in metrics_out:
        print(f"{name} = {value:.6g} {units.get(name, 'ratio')}")
    if not args.trace:
        print(f"# wall_s and cpu_s are medians of {len(walls)} timed ops")
    print(json.dumps({"record": record}))
    print(json.dumps({
        "correct": correct, "attempted": attempted, "failed": failed,
        "metrics": {n: {"value": metrics[n], "unit": u} for n, u in units.items()},
    }))
    return 0 if correct else 1


def _per_layer(record, session_s, inputs_s, warm, walls, traced_walls, op_stats,
               probe_stats) -> dict[str, float]:
    from spans import median_by_name

    m = {name: 0.0 for name, _ in PER_LAYER}  # 0: layer not run by this workload
    m.update({"session.get_spark.s": session_s, "setup.inputs.s": inputs_s,
              "setup.warmup.s": sum(warm), "setup.warmup.ops": len(warm),
              "trace.overhead_s": statistics.median(traced_walls) - statistics.median(walls),
              "timed.drift": record["drift"]})

    def put(stats: list[dict], prefix: str, fields: list[str]) -> None:
        for field in fields:
            for span, v in median_by_name(stats, prefix, field).items():
                if f"{span}.{field}" in m:
                    m[f"{span}.{field}"] = v

    put(op_stats, "plans.pipeline.", ["s", "jobs", "self_s"])
    put(op_stats, "sources.catalog.write.",
        ["s", "jobs", "shuffle_write_mb", "bytes_written_mb", "files"])
    put(op_stats, "plans.queries.", ["s", "jobs", "stages", "shuffle_write_mb"])
    if probe_stats is not None:
        put([probe_stats], "functions.text.", ["s"])
        put([probe_stats], "operators.mentions.", ["s", "jobs"])
        for sp in probe_stats["spans"].values():
            if sp["name"] == "sources.catalog.replace_groups":
                m["sources.catalog.replace_groups.s"] = sp["s"]
                m["sources.catalog.replace_groups.bytes_rewritten_mb"] = sp["bytes_written_mb"]
                m["sources.catalog.replace_groups.write_amp"] = sp["rows_out"] / sp["rows_in"]
    totals = [st["total"] for st in op_stats]
    if not totals:  # every traced op failed; the run reports correct: false
        return m

    def med(key: str) -> float:
        return statistics.median(t[key] for t in totals)

    m.update({
        "spark.jobs_per_op": med("jobs"), "spark.stages_per_op": med("stages"),
        "spark.tasks_per_op": med("tasks"),
        "spark.exec_util": statistics.median(
            t["run_s"] / (st["wall_s"] * CPUS) for t, st in zip(totals, op_stats)
        ),
        "spark.gc_s": med("gc_s"), "spark.shuffle_write_mb": med("shuffle_write_mb"),
        "spark.spill_mb": med("spill_mb"),
        "trace.unattributed_jobs": med("unattributed_jobs"),
    })
    return m


if __name__ == "__main__":
    sys.exit(main())
