"""Repository benchmark: one seeded workload per run.

    python3 perfbench/run.py --workload lake_batch --seed 7 --seconds 10 --trace 0

The run generates its inputs from ``--seed`` with ``tools/gen_sf`` in a
fresh work directory under ``.perfbench/`` at the checkout root, starts
a ``local[<cores>]`` session, warms up with one pass, then measures whole
passes of the workload for at least ``--seconds`` as a closed loop from
one client, and checks every output after the window.  Passes and
operations are measured in wall seconds and in CPU seconds of the
process tree (this process, the JVM and its Python workers).  The last line of standard output is one
JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` -- the end-to-end metrics of
``BENCHMARK.json`` with ``--trace 0``, its per-layer metrics with
``--trace 1``.  ``bench.py`` keeps its frozen result line; this
benchmark neither imports nor changes it.
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
sys.path.insert(0, HERE)

from procstat import steal_s, thread_cpu_s, tree_cpu_s, vm_hwm_mb  # noqa: E402

SETUP_REPS = 3  # setup_s is the median of this many set-ups in one run
# Spark task threads: half the CPUs this process may run on, so the task
# threads, the JVM's compiler and GC threads and the Python client are not
# all competing for the same few CPUs
CORES = max(1, len(os.sched_getaffinity(0)) // 2)
STEAL_LIMIT = 0.05  # share of the machine's CPU time a quiet pass may lose
MAX_PASSES = 2


def load_spec() -> dict:
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
        return json.load(fh)


class Context:
    def __init__(self, work: str, tracer):
        self.work = work
        self.tracer = tracer
        self.spark = None
        self.sf_dir = ""
        self.ops: list[dict] = []


def start_session(ctx: Context, trace: bool):
    from financial_data_lakehouse_pipeline__spark.session import build_session

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(ctx.work, "warehouse"),
        "spark.hadoop.hadoop.tmp.dir": os.path.join(ctx.work, "tmp"),
    }
    if trace:
        conf["spark.eventLog.enabled"] = "true"
        conf["spark.eventLog.dir"] = "file://" + os.path.join(ctx.work, "eventlog")
        conf["spark.eventLog.compress"] = "false"
    ctx.spark = build_session("perfbench", master=f"local[{CORES}]",
                              shuffle_partitions=CORES, extra_conf=conf)
    ctx.tracer.bind(ctx.spark)


def stop_jvm(spark) -> None:
    """Stop the session and the JVM it launched, and wait for it."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 — never leave the JVM behind
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def install_wrappers(tr) -> None:
    """Spans around the package's public layer entry points.  Corpus and
    pipeline modules bind ``read_table`` and ``write_partitioned_parquet``
    by name at import, so this runs before either is imported."""
    from financial_data_lakehouse_pipeline__spark import sources
    from financial_data_lakehouse_pipeline__spark.operators import dedup
    from financial_data_lakehouse_pipeline__spark.sources import acid, readers, writers

    if "financial_data_lakehouse_pipeline__spark.pipeline" in sys.modules:
        raise RuntimeError("install the span wrappers before importing pipeline")
    tr.wrap(readers, "read_table", "readers.read_table", "read")
    sources.read_table = readers.read_table
    tr.wrap(writers, "write_partitioned_parquet", "writers.write_partitioned_parquet", "write")
    sources.write_partitioned_parquet = writers.write_partitioned_parquet
    tr.wrap(acid, "append", "acid.append")
    tr.wrap(acid, "create_table", "acid.append")
    tr.wrap(dedup, "incremental_minhash_pairs", "dedup.incremental_pairs")


def run(workload: str, seed: int, seconds: float, trace: bool,
        root: str | None = None, hook=None) -> dict:
    """Run one workload and return the result object.  ``hook`` gets the
    workload after ``prepare`` (tests use it to inject a wrong result)."""
    import inputs
    from tracer import Tracer, event_log_metrics
    from workloads import WARM_PASSES, WORKLOADS

    spec = load_spec()
    root = root or os.path.dirname(HERE)
    work = os.path.join(root, ".perfbench", "work", f"{workload}-{seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    for sub in ("tmp", "spark-local", "eventlog"):
        os.makedirs(os.path.join(work, sub))
    # everything Spark, Python and DuckDB spill stays inside the checkout
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # every JVM spark-submit starts, its launcher included; -UsePerfData
    # keeps the JVMs' hsperfdata files out of the system temp directory.
    # TieredStopAtLevel=1 keeps the JIT at its fast tier: the optimizing
    # tier would still be compiling, on threads of its own, long after a
    # run of this length ends, and its compile work varies from run to run.
    # That mode reserves only 48 MB of code cache, which the classes Spark
    # generates for every query fill within a few passes; the JVM then
    # spends its time evicting and recompiling code, so the cache gets
    # the size the JVM gives it with every tier enabled
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={work}/tmp -XX:-UsePerfData "
        "-XX:TieredStopAtLevel=1 -XX:ReservedCodeCacheSize=240m"
    )
    import tempfile

    tempfile.tempdir = os.environ["TMPDIR"]

    tr = Tracer(trace)
    if trace:
        install_wrappers(tr)
    ctx = Context(work, tr)
    wl = WORKLOADS[workload](ctx)
    ref = inputs.materialize_reference(os.path.join(work, "ref"))

    setups, gens, starts = [], [], []
    for r in range(SETUP_REPS):
        t0 = time.perf_counter()
        sf_dir = os.path.join(work, f"in{r}")
        manifest = inputs.generate(wl.sf, sf_dir, seed, ref)
        t1 = time.perf_counter()
        if ctx.spark is not None:
            ctx.spark.stop()
        start_session(ctx, trace)
        t2 = time.perf_counter()
        from financial_data_lakehouse_pipeline__spark.sources import read_table

        for t in wl.tables:
            read_table(ctx.spark, sf_dir, t)
        setups.append(time.perf_counter() - t0)
        gens.append(t1 - t0)
        starts.append(t2 - t1)
    ctx.sf_dir = sf_dir
    prepared = wl.prepare()
    if hook:
        hook(wl)

    t0 = time.perf_counter()
    for w in range(WARM_PASSES):
        wl.run_pass(f"warm{w}")
    warm_s = time.perf_counter() - t0
    n_warm = len(ctx.ops)

    from pyspark import SparkContext

    jvm = SparkContext._gateway.proc.pid
    threads0 = thread_cpu_s(jvm)

    # whole passes until the window reaches --seconds: every run measures
    # the same operation mix.  A pass during which the hypervisor took
    # more than STEAL_LIMIT of the machine's CPU time measured the host's
    # other tenants, not the program, so the window runs another pass, up
    # to MAX_PASSES in all; the metrics come from the quiet passes, or
    # from the least disturbed one if none was quiet
    passes: list[dict] = []
    w_start = time.time()
    while (sum(p["s"] for p in passes) < seconds or not passes
           or not any(p["quiet"] for p in passes) and len(passes) < MAX_PASSES):
        n0 = len(ctx.ops)
        t0, c0, s0 = time.perf_counter(), tree_cpu_s(), steal_s()
        wl.run_pass(f"p{len(passes)}")
        p = {"s": time.perf_counter() - t0, "cpu": tree_cpu_s() - c0,
             "steal": steal_s() - s0, "ops": ctx.ops[n0:]}
        p["quiet"] = p["steal"] <= STEAL_LIMIT * p["s"] * os.cpu_count()
        passes.append(p)
    w_end = time.time()
    threads = {k: v - threads0.get(k, 0) for k, v in thread_cpu_s(jvm).items()}
    kept = [p for p in passes if p["quiet"]] or [
        min(passes, key=lambda p: p["steal"] / p["s"])]

    rss = vm_hwm_mb("self") + vm_hwm_mb(jvm)
    stop_jvm(ctx.spark)

    prim = [r for p in kept for r in p["ops"] if r["kind"] == wl.primary]
    prim_cpu = statistics.median(r["cpu"] for r in prim)
    pass_cpu = statistics.median(p["cpu"] for p in kept)
    wl.check(ctx.ops)
    failed = sum(1 for r in ctx.ops if not r.get("ok"))

    if not trace:
        values = {
            "setup_s": statistics.median(setups),
            "cpu_s": pass_cpu,
            "op_cpu_s": prim_cpu,
        }
        metric_spec = spec["end_to_end"]
    else:
        values = layer_metrics(ctx, wl, w_start, w_end, len(passes))
        values.update({
            "mem.peak_rss_mb": rss,
            "session.start_s": starts[0],
            "session.restart_s": statistics.median(starts[1:]),
            "setup.generate_s": statistics.median(gens),
            "setup.warmup_s": warm_s,
            "op.samples": len(prim),
            "wall.pass_s": statistics.median(p["s"] for p in kept),
            "wall.op_p50_s": statistics.median(r["s"] for r in prim),
            "wall.op_max_s": max(r["s"] for r in prim),
            "host.steal_s": statistics.median(p["steal"] for p in passes),
            "host.quiet_passes": len(kept) if kept[0]["quiet"] else 0,
            "jvm.task_cpu_s": _named(threads, "Executor task l", len(passes)),
            "jvm.jit_cpu_s": _named(threads, "C1 CompilerThre", len(passes)),
            "jvm.gc_cpu_s": _named(threads, "GC Thread#", len(passes)),
            "trace.cpu_s": pass_cpu,
            "trace.op_cpu_s": prim_cpu,
        })
        values.update(event_log_metrics(os.path.join(work, "eventlog"), w_start, w_end))
        for k in list(values):
            if k.startswith("exec.") and k != "exec.task_skew":
                values[k] /= len(passes)
        metric_spec = spec["per_layer"]

    result = {
        "correct": failed == 0,
        "attempted": len(ctx.ops),
        "failed": failed,
        "metrics": {
            m["name"]: {"value": values.get(m["name"], 0), "unit": m["unit"]}
            for m in metric_spec
        },
    }
    record = {
        "workload": workload, "seed": seed, "trace": trace, "sf": wl.sf,
        "inputs": manifest, "prepared": prepared, "setups_s": setups,
        "passes": [{k: p[k] for k in ("s", "cpu", "steal", "quiet")} for p in passes],
        "warm_ops": n_warm,
        "jvm_threads_cpu_s": {k: v for k, v in threads.items() if v > 0},
        "ops": [{k: r.get(k) for k in ("kind", "name", "s", "cpu", "ok")} for r in ctx.ops],
        "result": result,
    }
    out_dir = os.path.join(root, ".perfbench", "runs")
    os.makedirs(out_dir, exist_ok=True)
    stem = os.path.join(out_dir, f"{workload}-seed{seed}-trace{int(trace)}")
    with open(stem + ".json", "w") as fh:
        json.dump(record, fh, indent=1)
    if trace:
        tr.dump(stem + "-spans.json")
    shutil.rmtree(work, ignore_errors=True)
    return result


def _named(threads: dict[str, float], name: str, n_pass: int) -> float:
    """CPU seconds per pass of the JVM threads called ``name``."""
    return threads.get(name, 0.0) / n_pass


def layer_metrics(ctx: Context, wl, start: float, end: float, n_pass: int) -> dict:
    """Per-layer values from the spans of the measured window, per pass."""
    from tracer import per_pass

    tr = ctx.tracer
    spans = [s for s in tr.spans if s["start"] >= start and s["end"] <= end]

    def tot(name, key=None):
        return per_pass(spans, name, n_pass, key)

    def n(name):
        return sum(1 for s in spans if s["name"] == name) / n_pass

    v = {
        "trace.span_coverage": tr.coverage(start, end),
        "readers.read_table_s": tot("readers.read_table"),
        "readers.read_table_calls": n("readers.read_table"),
        "readers.read_table_jobs": tot("readers.read_table", "jobs"),
        "query.build_s": tot("corpus.build"),
        "query.build_jobs": tot("corpus.build", "jobs"),
        "query.exec_s": tot("query.exec"),
        "query.exec_jobs": tot("query.exec", "jobs"),
        "writers.write_partitioned_parquet_s": tot("writers.write_partitioned_parquet"),
        "acid.append_s": tot("acid.append"),
        "acid.commits": n("acid.append"),
        "acid.scan_s": tot("acid.scan"),
        "acid.read_snapshot_s": tot("acid.read_snapshot"),
        "dedup.incremental_pairs_s": tot("dedup.incremental_pairs"),
    }
    for s in spans:
        q = s.get("query")
        if q:
            phase = "build" if s["name"] == "corpus.build" else "exec"
            key = f"q.{q}.{phase}_s"
            v[key] = v.get(key, 0) + (s["end"] - s["start"]) / n_pass
            if phase == "build":
                jk = f"q.{q}.build_jobs"
                v[jk] = v.get(jk, 0) + s.get("jobs", 0) / n_pass
    v.update(wl.layer_metrics(spans, start, end, n_pass))
    return v


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)
    from workloads import WORKLOADS

    if a.workload not in WORKLOADS:
        ap.error(f"unknown workload {a.workload!r}; one of {sorted(WORKLOADS)}")
    result = run(a.workload, a.seed, a.seconds, bool(a.trace))
    for name, m in result["metrics"].items():
        print(f"{a.workload} {name} {m['value']:.6g} {m['unit']}")
    print(f"{a.workload} failed_ratio {result['failed'] / result['attempted']:.6g} "
          f"({result['failed']}/{result['attempted']})")
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
