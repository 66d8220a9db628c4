"""Layer-attributed benchmark of the reduction_dask_spark engine.

Run from the repository root:

    python3 perfbench/run.py --workload fs_sweep --seed 1 --seconds 10 --trace 0

One run is one closed-loop client: a single driver process on
``local[nproc]`` runs the workload's registered queries back to back
in one Spark session. In order, a run

1. writes the seeded inputs (``inputs.py``; ``gen_s`` in the info line,
   not part of ``setup_s``);
2. sets up three times and reports the median as ``setup_s``: the first
   set-up launches the JVM, the next two stop the session and build a
   fresh one in the same JVM with the package imported anew. A set-up
   is ``get_spark``, ``load_all_operators`` and a warm-up job;
3. runs the cold pass, the first pass through the workload in the fresh
   session (``cold_pass_s``);
4. runs warm passes until ``--seconds`` have passed, at least one, and
   reports their median wall (``pass_s``);
5. runs a full JVM GC and reports the resident memory of the driver
   and its JVM (``rss_mb``); peak memory is not used because where it
   lands depends on when the collector happened to run;
6. with ``--trace 1``, then runs the ``sources`` probe and a traced
   warm pass until ``--seconds`` have passed again, and reports the
   per-layer metrics (``layers.py``) instead of the end-to-end ones:
   medians over the traced passes, with ``trace.overhead_s`` the traced
   minus the untraced ``pass_s``. The table also goes to stderr; spans
   and per-query detail go to ``.perfbench/trace-<workload>-<seed>.json``.

Every timed query collects its result with ``toPandas()`` and every
result is checked (``checks.py``), so the timed passes are also the
verification passes. A query that raises or fails its check counts in
``failed``; it stays in the workload.

The last stdout line is the result JSON: ``correct``, ``attempted``,
``failed`` and ``metrics``. The line before it records the box (cores,
memory, load at start), ``gen_s``, each pass's wall and the CPU time
the hypervisor gave to other guests meanwhile (``steal_s``, the main
source of run-to-run spread on a shared host), and the failures.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import shutil
import statistics
import sys
import tempfile
import time
import traceback
from dataclasses import dataclass
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
# the package and tools/ are imported from the checkout this file is in
sys.path.insert(1, str(ROOT))
PKG = "reduction_dask_spark"
SETUPS = 3
LOAD_WAIT_S = 30.0


@dataclass(frozen=True)
class Workload:
    queries: tuple[str, ...]
    tables: tuple[str, ...]  # input tables the queries read (sources probe)


WORKLOADS = {
    # the paper's era-aware feature-selection loop: per-era Spearman,
    # era k-fold, MDA importance (suffstat solves through mapInPandas,
    # GBT rounds) and PCA; bound by plan build and driver-side loops
    "fs_sweep": Workload(
        queries=(
            "m1_spearman_by_era", "c1_kfold_era_counts", "x1_mda_importance",
            "x1c_mda_importance_gbt", "t8_distributed_pca",
        ),
        tables=("embeddings", "events"),
    ),
    # the LLM-curation path: the deepest funnel composition, whose
    # barrier and pin hubs feed several branches, and MinHash-LSH
    # dedup, the shuffle-heavy candidate generation
    "curation_funnel": Workload(
        queries=("pipe5_clean_export", "dd3_minhash_lsh_dedup"),
        tables=("documents",),
    ),
}

# which end-to-end metrics, on which workloads, each group of layer
# metrics should move (written into every trace file)
BOTH = ("fs_sweep", "curation_funnel")
LAYER_TARGETS = [
    {"layers": ["session.start_s", "session.warmup_s", "registry.import_s"],
     "moves": ["setup_s"], "on": BOTH},
    {"layers": ["sources.scan_s", "sources.input_rows"], "moves": ["pass_s"], "on": BOTH},
    {"layers": ["operators.build_s", "operators.build_jobs", "operators.build_gap_s"],
     "moves": ["pass_s", "cold_pass_s"], "on": BOTH},
    {"layers": ["spark.plan_s", "spark.exec_s", "spark.driver_gap_s", "spark.jobs",
                "spark.stages"], "moves": ["pass_s"], "on": BOTH},
    {"layers": ["spark.tasks", "spark.task_run_s", "spark.task_cpu_s", "spark.gc_s",
                "spark.slot_util", "spark.shuffle_read_bytes", "spark.shuffle_write_bytes",
                "spark.spill_bytes"], "moves": ["pass_s"], "on": ["curation_funnel"]},
    {"layers": ["caching.release_s", "caching.released", "caching.stored_bytes"],
     "moves": ["rss_mb", "pass_s"], "on": ["curation_funnel"]},
    {"layers": ["udf.bytes_sent", "udf.bytes_received", "udf.rows_received"],
     "moves": ["pass_s"], "on": ["fs_sweep"]},
]


def _configure_env(work: Path, cores: int) -> dict:
    """Environment for the JVM and Python workers, set before launch:
    the package importable in workers, driver memory below the box's
    RAM, and every temporary file inside ``work``."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    old = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = str(ROOT) + (os.pathsep + old if old else "")
    ram_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    os.environ.setdefault("SPARK_DRIVER_MEMORY", f"{min(4096, ram_mb // 4)}m")
    os.environ["TMPDIR"] = str(tmp)
    tempfile.tempdir = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(tmp)
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options '-Djava.io.tmpdir={tmp} -XX:-UsePerfData' pyspark-shell"
    )
    return {
        "cores": cores,
        "ram_mb": ram_mb,
        "driver_memory": os.environ["SPARK_DRIVER_MEMORY"],
    }


def _wait_for_idle(cores: int) -> tuple[float, float]:
    """bench.py's noise guard, bounded: wait up to LOAD_WAIT_S for the
    1-min load to fall below the core count. Returns (load at start,
    seconds waited); both go into the output."""
    load, t0 = os.getloadavg()[0], time.monotonic()
    while os.getloadavg()[0] > cores and time.monotonic() - t0 < LOAD_WAIT_S:
        time.sleep(2)
    return load, time.monotonic() - t0


def _warm_up(spark, cores: int) -> None:
    """Generic machinery only (a shuffle, window and aggregate); no
    workload query is pre-run. The Python worker pool is left to the
    cold pass, which is where a one-shot user pays for it."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    df = spark.range(20_000, numPartitions=cores).select(
        (F.col("id") % 97).alias("k"), F.col("id").cast("double").alias("v")
    )
    df = df.withColumn("r", F.row_number().over(Window.partitionBy("k").orderBy("v")))
    df.groupBy("k").agg(F.corr("v", "r")).collect()


def _setup(cores: int):
    """One set-up: fresh package import, session, operators, warm-up."""
    for name in [m for m in sys.modules if m == PKG or m.startswith(PKG + ".")]:
        del sys.modules[name]
    t0 = time.perf_counter()
    spark = importlib.import_module(PKG + ".session").get_spark("perfbench", cpus=cores)
    t1 = time.perf_counter()
    registry = importlib.import_module(PKG + ".registry")
    registry.load_all_operators()
    t2 = time.perf_counter()
    _warm_up(spark, cores)
    t3 = time.perf_counter()
    return spark, registry, {
        "session.start_s": t1 - t0,
        "registry.import_s": t2 - t1,
        "session.warmup_s": t3 - t2,
    }


def _run_pass(spark, registry, names, data_dir, label, checker, failures, tracer=None):
    """Run every query once, collecting its result; return the pass
    wall and the per-query records. The checks run after the pass."""
    from layers import QueryRecord

    release_pinned = importlib.import_module(PKG + ".caching").release_pinned
    now = tracer.now if tracer else time.perf_counter
    group = tracer.group if tracer else lambda *_: None
    records, outputs = [], {}
    t0 = now()
    for q in names:
        rec = QueryRecord(q, now())
        records.append(rec)
        try:
            group(label, q, "build")
            df = registry.REGISTRY[q].fn(spark, str(data_dir))
            rec.marks["build"] = now()
            if tracer:
                group(label, q, "plan")
                df._jdf.queryExecution().executedPlan()
                rec.marks["plan"] = now()
            group(label, q, "exec")
            outputs[q] = df.toPandas()
            rec.marks["exec"] = now()
        except Exception:  # noqa: BLE001 - a failing query is counted, not fatal
            rec.error = traceback.format_exc()
        finally:
            if tracer:
                rec.stored_bytes = tracer.stored_bytes()
                rec.marks["storage"] = now()
            group(label, q, "release")
            rec.released = release_pinned()
            spark.catalog.clearCache()
            rec.marks["release"] = now()
    wall = now() - t0
    if tracer:
        tracer.clear_group()
    for rec in records:
        err = rec.error or checker.check(rec.query, outputs[rec.query])
        if err:
            failures.append({"pass": label, "query": rec.query, "error": err})
            print(f"perfbench: FAIL {label} {rec.query}: {err}", file=sys.stderr)
    return wall, records


def _sources_probe(spark, data_dir, tables, tracer) -> float:
    load_table = importlib.import_module(PKG + ".sources").load_table
    t0 = tracer.now()
    for t in tables:
        tracer.group("probe", t, "scan")
        load_table(spark, str(data_dir), t).count()
    t1 = tracer.now()
    tracer.spans.append({"name": "sources.scan", "start": t0, "end": t1})
    return t1 - t0


def _steal_s() -> float:
    """Seconds of CPU the hypervisor gave to other guests, all CPUs."""
    with open("/proc/stat") as fh:
        return int(fh.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


def _rss_mb(pid) -> float:
    """Resident memory of one process, from /proc."""
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmRSS:"):
                return int(line.split()[1]) / 1024
    return 0.0


def _jvm_pid() -> int:
    from pyspark import SparkContext

    return SparkContext._gateway.proc.pid


def _shutdown(spark) -> None:
    """Stop the session, then the JVM, and wait until it has exited."""
    from pyspark import SparkContext

    if spark is not None:
        spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def _parse(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _traced_passes(spark, wl, data_dir, args, cores, one_pass):
    """Traced warm passes until ``--seconds`` have passed, at least one;
    returns per-layer medians and the trace document."""
    from layers import Tracer, median_layers

    tracer = Tracer(spark, args.workload, cores)
    passes, details = [], {}
    t_end = time.perf_counter() + args.seconds
    while not passes or time.perf_counter() < t_end:
        label = f"traced{len(passes)}"
        scan_s = _sources_probe(spark, data_dir, wl.tables, tracer)
        wall, records = one_pass(label, tracer)
        layers, details[label] = tracer.attribute(label, records)
        layers.update({"sources.scan_s": scan_s, "trace.pass_s": wall})
        passes.append(layers)
    return median_layers(passes), {"passes": passes, "queries": details, "spans": tracer.spans}


def _measure(args, wl, data_dir, cores):
    """Set up, run the passes and return (metrics, info, trace document,
    attempted, failures). Stops the JVM before returning."""
    import inputs
    from checks import Checker
    from layers import PER_LAYER

    spark = checker = None
    failures: list[dict] = []
    attempted = 0
    try:
        setups = []
        for _ in range(SETUPS):
            if spark is not None:
                spark.stop()
            spark, registry, s = _setup(cores)
            setups.append(s)
        oracles = {q: registry.REGISTRY[q].oracle for q in wl.queries}
        checker = Checker(data_dir, inputs.TABLES, {q: o for q, o in oracles.items() if o})

        pass_stats = []

        def one_pass(label, tracer=None):
            nonlocal attempted
            attempted += len(wl.queries)
            s0 = _steal_s()
            out = _run_pass(spark, registry, wl.queries, data_dir, label, checker,
                            failures, tracer)
            pass_stats.append({"pass": label, "wall_s": out[0], "steal_s": _steal_s() - s0})
            return out

        one_pass("cold")
        t_end = time.perf_counter() + args.seconds
        while len(pass_stats) < 2 or time.perf_counter() < t_end:
            one_pass(f"warm{len(pass_stats) - 1}")
        cold, warm = pass_stats[0], pass_stats[1:]
        pass_s = statistics.median(p["wall_s"] for p in warm)
        # memory held after the workload: a full GC first, because the
        # peak a collector reaches depends on when it happened to run,
        # then a pause for G1 to return the freed heap to the OS, which
        # it does concurrently
        spark._jvm.System.gc()
        time.sleep(1.0)
        rss_mb = _rss_mb("self") + _rss_mb(_jvm_pid())
        info = {"setups": setups, "passes": pass_stats}
        trace_doc = None
        if args.trace:
            layers, trace_doc = _traced_passes(spark, wl, data_dir, args, cores, one_pass)
            for k in ("session.start_s", "registry.import_s", "session.warmup_s"):
                layers[k] = statistics.median(s[k] for s in setups)
            layers["trace.overhead_s"] = layers["trace.pass_s"] - pass_s
            metrics = {k: (layers[k], unit) for k, unit in PER_LAYER.items()}
        else:
            metrics = {
                "pass_s": (pass_s, "s"),
                "cold_pass_s": (cold["wall_s"], "s"),
                "rss_mb": (rss_mb, "MB"),
                "setup_s": (statistics.median(sum(s.values()) for s in setups), "s"),
            }
    finally:
        if checker is not None:
            checker.close()
        _shutdown(spark)
    return metrics, info, trace_doc, attempted, failures


def main(argv=None) -> int:
    args = _parse(argv)
    if not (ROOT / PKG / "__init__.py").is_file():
        print(f"perfbench: no {PKG} package under {ROOT}; run from a full checkout",
              file=sys.stderr)
        return 2
    import inputs

    wl = WORKLOADS[args.workload]
    cores = len(os.sched_getaffinity(0))
    work = ROOT / ".perfbench" / f"{args.workload}-{args.seed}-{os.getpid()}"
    try:
        info = _configure_env(work, cores)
        info["load_1min_at_start"], info["load_wait_s"] = _wait_for_idle(cores)
        t0 = time.perf_counter()
        info["input_rows"] = inputs.generate(work / "data", args.seed)
        info["gen_s"] = time.perf_counter() - t0
        metrics, run_info, trace_doc, attempted, failures = _measure(
            args, wl, work / "data", cores
        )
    finally:
        shutil.rmtree(work, ignore_errors=True)

    info.update(run_info, workload=args.workload, seed=args.seed,
                fail_frac=len(failures) / attempted,
                failures=[f"{f['pass']}:{f['query']}" for f in failures])
    if trace_doc is not None:
        trace_doc.update(info=info, layer_targets=LAYER_TARGETS, failures=failures)
        out = ROOT / ".perfbench" / f"trace-{args.workload}-{args.seed}.json"
        out.write_text(json.dumps(trace_doc, indent=1, default=str) + "\n")
        info["trace_file"] = str(out.relative_to(ROOT))
        for k, (v, unit) in metrics.items():
            print(f"perfbench: {args.workload:16s} {k:26s} {v:16.4f} {unit}", file=sys.stderr)
    print("perfbench-info " + json.dumps(info, default=str), flush=True)
    result = {
        "correct": not failures,
        "attempted": attempted,
        "failed": len(failures),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
