#!/usr/bin/env python3
"""i2s benchmark: one named workload, timed end to end, results checked.

    python3 perfbench/run.py --workload olap_pipeline --seed 1 --seconds 20 --trace 0

Run it from the root of a checkout. Workloads (see workloads.py):
  olap_pipeline  TPC-H/TPC-DS queries (sf0.1) and training-data operators
                 (sf0.01) through the query registry, one sequential caller
  serve_mixed    2 closed-loop clients on the JSON serving door: session churn,
                 Impala-dialect reads, INSERT OVERWRITE + REFRESH + read-back

The seed picks query order, parameters and write targets; the input tables
are fixed (datagen.py). Every operation's rows are compared with DuckDB after
the timed region. The last stdout line is one JSON object with `correct`,
`attempted`, `failed` and `metrics`: the end-to-end metrics with `--trace 0`,
the per-layer metrics with `--trace 1`. The line before it carries the
details: error_rate, supported tail percentiles, serving-door write and
OpenSession latencies, per-query latencies, and in a traced run the layers
the workload did not exercise. Exit code 0 when every result was correct,
1 when any was wrong or failed, 2 when the engine cannot be imported.
Everything a run writes lives under perfbench/.work; its per-run directory
(warehouse, Spark scratch, written tables) is removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import statistics
import sys
import tempfile
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
DEADLINE_S = 170  # a run that has not finished by then is killed
HEAP = "2g"  # driver JVM heap, min = max

sys.path.insert(0, HERE)
import check  # noqa: E402
import datagen  # noqa: E402
import workloads as wl  # noqa: E402


def parse(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(wl.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def vm_hwm_mb(pid) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def cpu_jiffies() -> tuple[int, int]:
    """(all, steal) jiffies of the machine: steal is CPU time the hypervisor
    gave to other guests, the best available sign of a disturbed run."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    return sum(vals), vals[7] if len(vals) > 7 else 0


def isolate(run_dir: str) -> None:
    """Point every scratch location of Python, DuckDB, Spark and the JVM at
    the run directory, pin local[nproc], and give the driver JVM a fixed,
    pre-touched heap so its resident size does not follow GC timing."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    java_opts = f"-Xms{HEAP} -XX:+AlwaysPreTouch -Djava.io.tmpdir={tmp}"
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_GRAFT_DRIVER_MEM": HEAP,
        "SPARK_LOCAL_DIRS": os.path.join(run_dir, "spark-local"),
        "TMPDIR": tmp,
        "PYSPARK_SUBMIT_ARGS": " ".join([
            "--conf", shlex.quote(f"spark.driver.defaultJavaOptions={java_opts}"),
            "--conf", shlex.quote(f"spark.sql.warehouse.dir={os.path.join(run_dir, 'warehouse')}"),
            "pyspark-shell"]),
    })
    tempfile.tempdir = tmp
    os.chdir(run_dir)


def stop_spark(spark) -> None:
    """Stop the SparkContext, then the JVM it launched, and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    try:
        gateway.shutdown()
    except Exception:
        pass
    if proc is not None:
        try:
            proc.stdin.close()  # the gateway JVM exits when its stdin closes
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()


def oracle_results(keys, data_dirs: dict) -> dict:
    """Expected canonical result per check key (scale factor, name or SQL),
    computed by DuckDB over the same parquet files: a registry query name
    stands for its `oracle` SQL, any other SQL text runs as it is."""
    import duckdb

    from impalatogo_spark.queries import all_queries

    reg, out = all_queries(), {}
    for sf in sorted({sf for sf, _ in keys}):
        con = duckdb.connect()
        con.execute("SET threads TO 2")
        for t in datagen.TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"read_parquet('{os.path.join(data_dirs[sf], t + '.parquet')}')")
        for key in [k for k in keys if k[0] == sf]:
            cur = con.execute(reg[key[1]].oracle if key[1] in reg else key[1])
            out[key] = check.canon([d[0] for d in cur.description], cur.fetchall())
        con.close()
    return out


def verify(ops, expected, tally: check.Tally | None) -> list[str]:
    """Check each op against its oracle, marking wrong ones; record timed
    ops in `tally`. Returns the failure reasons."""
    bad = []
    for o in ops:
        reason = None
        if o.error is not None:
            reason = f"{o.name}: {o.error}"
            if tally:
                tally.record(error=reason)
        else:
            if o.check_key is not None:
                o.wrong = check.mismatch(check.canon(o.columns, o.rows), expected[o.check_key])
                reason = f"{o.name}: {o.wrong}" if o.wrong else None
            if tally:
                tally.record(wrong=reason)
        if reason:
            bad.append(reason)
    return bad


def ops_per_s(run) -> float:
    """Operations with correct results per second. Registry: over the timed
    region. Serving door: every session has the same statement mix, so take
    each session's rate and report the median session's rate times the
    number of clients; a stall that hits a few sessions does not move it."""
    def ok(ops):
        return sum(1 for o in ops if o.error is None and not o.wrong)

    if not run.sessions:
        return ok(run.timed) / run.wall
    return wl.CLIENTS * statistics.median(
        ok(o for o in run.timed if (o.lane, o.session) == (k, i)) / w for k, i, w in run.sessions)


def main(argv=None) -> int:
    args = parse(argv)
    t_import = time.perf_counter()
    sys.path.insert(0, ROOT)
    try:  # every engine module a workload uses, so import_s covers them all
        from impalatogo_spark.session import get_spark
        from impalatogo_spark.queries import all_queries
        from impalatogo_spark.server import I2SServer  # noqa: F401
        all_queries()
    except ImportError as e:
        print(f"perfbench: the engine is not importable from {ROOT}: {e}", file=sys.stderr)
        return 2
    import_s = time.perf_counter() - t_import

    data_dirs = {sf: datagen.ensure(sf, WORK) for sf in wl.SCALES[args.workload]}
    run_dir = tempfile.mkdtemp(dir=WORK, prefix="run-")
    watchdog = spark = None
    try:
        isolate(run_dir)
        t = time.perf_counter()
        spark = get_spark()
        get_spark_s = time.perf_counter() - t
        jvm_pid = spark.sparkContext._gateway.proc.pid

        def expire():
            print(f"perfbench: run exceeded {DEADLINE_S}s, killing it", file=sys.stderr)
            os.kill(jvm_pid, 9)
            os._exit(3)

        watchdog = threading.Timer(DEADLINE_S - (time.perf_counter() - t_import), expire)
        watchdog.daemon = True
        watchdog.start()

        tracer = None
        if args.trace:
            import tracing

            tracer = tracing.Tracer()
            tracer.install()
        ctx = wl.Ctx(spark, data_dirs, run_dir, args.seed, args.seconds, tracer)
        cpu0 = cpu_jiffies()
        try:
            run = wl.WORKLOADS[args.workload](ctx)
            cpu1 = cpu_jiffies()
        finally:
            if tracer:
                tracer.uninstall()
        rss = {"python_mb": vm_hwm_mb(os.getpid()), "jvm_mb": vm_hwm_mb(jvm_pid)}
        stop_spark(spark)
        spark = None

        keys = wl.oracle_keys(run.warmup) | wl.oracle_keys(run.timed)
        expected = oracle_results(keys, data_dirs)
        tally = check.Tally()
        warm_bad = verify(run.warmup, expected, None)
        verify(run.timed, expected, tally)
        if tracer:
            os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
            spans_path = os.path.join(
                WORK, "traces", f"{args.workload}-seed{args.seed}.jsonl")
            tracer.write(spans_path)
    finally:
        if spark is not None:  # the workload raised: still stop the JVM
            stop_spark(spark)
        if watchdog:
            watchdog.cancel()
        os.chdir(ROOT)
        shutil.rmtree(run_dir, ignore_errors=True)

    setup_s = import_s + get_spark_s + sum(run.setup.values())
    reads = wl.latencies(run.timed, ("read", "readback"))
    detail = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "scale_factors": wl.SCALES[args.workload],
        "error_rate": tally.error_rate, "failures": (run.extra.get("fatal", [])
                                                    + warm_bad + tally.reasons)[:10],
        "timed_ops": tally.attempted, "latency_samples": len(reads),
        "latency_p50_s": wl.median_or_zero(reads), "timed_region_s": run.wall,
        "setup": {"import_s": import_s, "get_spark_s": get_spark_s, **run.setup},
        "latency_s": per_name(run.timed), "peak_rss": rss,
        "cpu_steal_share": (cpu1[1] - cpu0[1]) / max(1, cpu1[0] - cpu0[0]),
    }
    tail = check.tail_percentile(reads)
    if tail:
        detail[f"latency_p{tail[0]}_s"] = tail[1]
    else:
        detail["latency_tail"] = (f"omitted: {len(reads)} samples leave fewer than "
                                  f"{check.TAIL_MIN_BEYOND} beyond p90")
    if args.workload == "serve_mixed":
        writes = wl.latencies(run.timed, ("write",))
        opens = run.extra["opens"]
        detail["write_p50_s"] = wl.median_or_zero(writes)
        wtail = check.tail_percentile(writes)
        detail["write_tail"] = ({f"p{wtail[0]}_s": wtail[1]} if wtail else
                                f"omitted: {len(writes)} writes")
        detail["open_session_p50_s"] = wl.median_or_zero(opens)
        detail["writes"], detail["opens"] = len(writes), len(opens)
        detail["session_s"] = [round(w, 4) for _, _, w in run.sessions]

    if args.trace:
        layers = {k: 0 for k in wl.PER_LAYER}
        layers.update(run.layers)
        layers["session.get_spark_s"] = get_spark_s
        layers["trace.self_s"] = tracer.self_s / max(1, len(run.timed) + len(run.warmup))
        layers["trace.latency_geomean_s"] = check.geomean(reads)
        detail["zero"] = sorted(k for k, v in layers.items() if not v)
        detail["spans"] = os.path.relpath(spans_path, ROOT)
        metrics = {k: {"value": v, "unit": unit_of(k)} for k, v in layers.items()}
    else:
        metrics = {
            "setup_s": {"value": setup_s, "unit": "s"},
            "ops_per_s": {"value": ops_per_s(run), "unit": "1/s"},
            "latency_geomean_s": {"value": check.geomean(reads), "unit": "s"},
            "peak_rss_mb": {"value": sum(rss.values()), "unit": "MB"},
        }
    correct = tally.attempted > 0 and not (tally.failed or warm_bad or run.extra.get("fatal"))
    print(json.dumps({"detail": detail}))
    print(json.dumps({"correct": correct, "attempted": max(1, tally.attempted),
                      "failed": tally.failed, "metrics": metrics}))
    return 0 if correct else 1


def per_name(ops) -> dict:
    out = {}
    for o in ops:
        out.setdefault(o.name, []).append(round(o.latency, 4))
    return out


def unit_of(metric: str) -> str:
    suffix = metric.rsplit("_", 1)[-1] if "_" in metric.rsplit(".", 1)[-1] else ""
    return {"s": "s", "ms": "ms", "bytes": "bytes",
            "utilization": "ratio"}.get(suffix, "count")


if __name__ == "__main__":
    sys.exit(main())
