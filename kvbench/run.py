"""Run one workload of the benchmark; the last stdout line is the result.

    python3 kvbench/run.py --workload kv_serve --seed 1 --seconds 20 --trace 0

One client in one process sends each op after the previous one returns
(closed loop). A cold set-up (``get_spark``, which launches the JVM, and the
engine's writes of the starting tables or shards into fresh directories) is
followed by an untimed warm-up (whole op cycles, which warm the JIT and the
Python worker pool; kv_ingest runs them on a throwaway copy of its table)
and by ``SETUPS`` warm set-ups, which get the running session and redo the
writes; ``setup_s`` is their median. Then whole op cycles are timed until
``--seconds`` have passed (the cycle under way is finished), and every
answer is checked against the generator's model afterwards. ``--trace 1``
records spans and the Spark status stores and reports per-layer metrics
instead of the end-to-end ones; it also writes a sidecar JSON under
``.kvbench_work/``. Everything the run writes stays under ``.kvbench_work/``
in the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from kvbench import layers, observe  # noqa: E402

WORK = os.path.join(ROOT, ".kvbench_work")
#: warm set-ups per run; setup_s is their median
SETUPS = 3
#: Spark runs as local[k], k = min(nproc, CPUS). Two task threads leave the
#: rest of a 4-core box to the driver, the JIT, GC and the Python workers:
#: there, local[2] ran the dedup ops faster and steadier than local[4]
CPUS = 2


def deployment() -> dict:
    """Pin the deployment settings (and only those) before Spark starts."""
    cpus = min(CPUS, os.cpu_count() or 1)
    with open("/proc/meminfo") as fh:
        total_gb = int(fh.readline().split()[1]) / 2**20
    # a quarter of the box, at most 4g; get_spark's default is 48g
    mem_gb = max(1, min(4, int(total_gb // 4)))
    local, tmp = os.path.join(WORK, "spark-local"), os.path.join(WORK, "tmp")
    for d in (local, tmp):
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d)
    os.environ.update(
        SPARK_DRIVER_MEMORY=f"{mem_gb}g",
        SPARK_LOCAL_DIRS=local,
        TMPDIR=tmp,
        # Python workers import the engine and the benchmark from the checkout
        PYTHONPATH=os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        SPARK_LAUNCHER_OPTS=f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
    )
    return {
        "cpus": cpus,
        "driver_memory": f"{mem_gb}g",
        "local_dirs": os.path.relpath(local, ROOT),
        "java_options": f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.relpath(tmp, ROOT)}",
        "spark.sql.python.filterPushdown.enabled": "true",
        "flush_policy": "Spark Parquet committer, no fsync",
    }


def start_session(cpus: int):
    from spark_hbase_connector_spark import get_spark
    from spark_hbase_connector_spark.sources.python_datasource import register_hbasekv

    tmp = os.environ["TMPDIR"]
    spark = get_spark(
        "kvbench",
        cpus=cpus,
        extra_conf={"spark.driver.extraJavaOptions": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"},
    )
    # register_hbasekv alone leaves filtered hbasekv reads failing with
    # DATA_SOURCE_PUSHDOWN_DISABLED; queries/scans.py sets the same flag
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    register_hbasekv(spark)
    return spark


def shutdown(spark) -> None:
    """Stop Spark, end the JVM and wait for every process this run started."""
    from pyspark import SparkContext

    started = observe.tree_pids()[1:]
    if spark is not None:
        spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None

    def alive() -> list[int]:
        live = []
        for pid in started:
            try:
                with open(f"/proc/{pid}/stat") as fh:
                    if fh.read().rsplit(")", 1)[1].split()[0] != "Z":
                        live.append(pid)
            except OSError:
                pass
        return live

    deadline = time.time() + 30
    while alive() and time.time() < deadline:
        time.sleep(0.1)
    for pid in alive():
        os.kill(pid, signal.SIGKILL)


def measure(spark, wl, seconds: float, tracer) -> tuple[list[dict], float]:
    """Closed loop over whole op cycles: a new cycle starts while less than
    ``seconds`` have passed, so every run times whole cycles and weighs the
    op classes alike. Returns the op records and the process tree's CPU
    seconds over them."""
    sc = spark.sparkContext
    records: list[dict] = []
    cpu0 = observe.tree_cpu_s()
    deadline = time.perf_counter() + seconds
    c = 0
    while time.perf_counter() < deadline:
        for op in wl.cycle(c):
            rec = {"op": len(records), "kind": op[0], "cycle": c, "input": op}
            if tracer.enabled:
                tracer.op = rec["op"]
                sc.setJobGroup(f"kvbench-op-{rec['op']}", op[0])
                wl.before(op, rec)
            rec["start"] = time.time()
            t0 = time.perf_counter()
            try:
                rec["answer"], rec["error"] = wl.op(spark, op), None
            except Exception as e:  # a raised error is a failed op
                rec["answer"], rec["error"] = None, repr(e)[:500]
            rec["ms"] = (time.perf_counter() - t0) * 1e3
            rec["end"] = time.time()
            if tracer.enabled:
                tracer.op = None
                wl.after(op, rec)
                rec["persisted_rdds"] = sc._jsc.getPersistentRDDs().size()
                # read between ops, not during them: smaps_rollup walks
                # each process's pages under its memory-map lock
                rec["pss_mb"] = observe.tree_pss_mb()
            spark.catalog.clearCache()
            records.append(rec)
        wl.cycle_done(c)
        c += 1
    return records, observe.tree_cpu_s() - cpu0


def versions(spark) -> dict:
    import pyspark

    return {
        "pyspark": pyspark.__version__,
        "java": spark._jvm.java.lang.System.getProperty("java.version"),
        "python": sys.version.split()[0],
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["kv_serve", "kv_ingest", "corpus_dedup"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args(argv)

    settings = deployment()
    from kvbench.workloads import WORKLOADS

    tracer = observe.Tracer(a.trace == 1)
    wl = WORKLOADS[a.workload](a.seed, WORK, tracer)  # generator time: not set-up
    spark = None
    status = None
    try:
        t0 = time.perf_counter()
        spark = start_session(settings["cpus"])
        wl.setup(spark)
        cold_setup_s = time.perf_counter() - t0
        t0 = time.perf_counter()
        wl.warm_up(spark)
        warm_up_s = time.perf_counter() - t0
        setups: list[float] = []
        for _ in range(SETUPS):
            t0 = time.perf_counter()
            spark = start_session(settings["cpus"])
            wl.setup(spark)
            setups.append(time.perf_counter() - t0)
        info = versions(spark)
        with observe.HostWindow() as host:
            records, cpu_s = measure(spark, wl, a.seconds, tracer)
        if tracer.enabled:
            time.sleep(0.5)  # let the listener bus drain into the status stores
            status = observe.read_status_stores(spark)
    finally:
        shutdown(spark)
        shutil.rmtree(os.path.join(WORK, "spark-local"), ignore_errors=True)

    wl.check(records)
    failed = sum(1 for r in records if not r["ok"])
    e2e = {
        "setup_s": (statistics.median(setups), "s"),
        "ops_per_s": (len(records) / (sum(r["ms"] for r in records) / 1e3), "1/s"),
        "op_p50_ms": (layers.op_p50_ms(records), "ms"),
        "cpu_ms_per_op": (cpu_s * 1e3 / len(records), "ms"),
        "stored_bytes_per_user_byte": (wl.stored_ratio, "ratio"),
    }
    kinds = sorted({r["kind"] for r in records})
    run = {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
        "loop": "closed, 1 client", "settings": settings, "host": host.record(),
        "versions": info, "cold_setup_s": cold_setup_s, "setups_s": setups,
        "warm_up_s": warm_up_s,
        "cycles": records[-1]["cycle"] + 1,
        "ops": {k: {"n": sum(r["kind"] == k for r in records),
                    "failed": sum(r["kind"] == k and not r["ok"] for r in records),
                    "p50_ms": layers.p50(layers.op_class_ms(records, (k,)))}
                for k in kinds},
        "errors": sorted({r["error"] for r in records if r["error"]})[:5],
    }
    if tracer.enabled:
        metrics = layers.per_layer(records, tracer.spans, tracer.facts, status)
        # how far the JVM heap grew: it moved 10-18% between runs of one
        # seed, so it is reported per layer, not end to end
        metrics["peak_rss_mb"] = max(r["pss_mb"] for r in records)
        # session start (JVM launch) plus the first writes on a cold JVM:
        # it spread 9-17% between fresh processes, too much for setup_s
        metrics["session.cold_setup_s"] = cold_setup_s
        units = dict(layers.PER_LAYER)
        result_metrics = {k: {"value": v, "unit": units[k]} for k, v in metrics.items()}
        sidecar = os.path.join(WORK, f"trace-{a.workload}-seed{a.seed}.json")
        slim = [{k: v for k, v in r.items() if k not in ("answer", "input")}
                for r in records]
        with open(sidecar, "w") as fh:
            json.dump({"run": run, "per_layer": metrics, "ops": slim,
                       "spans": tracer.spans, "facts": {str(k): v for k, v in tracer.facts.items()},
                       "status": status}, fh, default=str)
        run["sidecar"] = os.path.relpath(sidecar, ROOT)
    else:
        result_metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
    print(json.dumps({"run": run}, default=str))
    print(json.dumps({"correct": failed == 0, "attempted": len(records),
                      "failed": failed, "metrics": result_metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
