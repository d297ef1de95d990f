"""proj_spark benchmark: one workload, one closed-loop client.

    python3 benchmark/run.py --workload geo_pipeline --seed 1 --seconds 1 --trace 0

Run from the repository root.  One driver process on ``local[nproc]``
sets up the session and the seeded inputs once (the JVM start
included), runs one untimed warm-up pipeline that also checks the
executed plans, then runs whole pipelines back to back for ``--seconds``
(at least one) and checks every pipeline's outputs.  The last line of
stdout is one JSON object: ``{"correct", "attempted", "failed",
"metrics"}``.  With ``--trace 0`` the metrics are the end-to-end ones;
with ``--trace 1`` pipelines alternate untraced and traced (at least one
of each), and the metrics are the per-layer ones.
See ``NOTES.md``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
ALL_OPS = ("transform", "pipeline_write", "pip_join", "knn_join",
           "radius_join", "verify_images", "tile_pyramid", "phash_dedup",
           "minhash_groups")


def log(msg: str) -> None:
    print(f"[bench {time.strftime('%H:%M:%S')}] {msg}", file=sys.stderr, flush=True)


def host_info() -> dict:
    with open("/proc/meminfo") as f:
        ram_kb = int(next(l for l in f if l.startswith("MemTotal")).split()[1])
    return {"nproc": len(os.sched_getaffinity(0)), "ram_mb": ram_kb // 1024}


def prepare_env(workdir: str) -> None:
    """Before the JVM starts: one BLAS/OpenMP thread per process (the
    JVM and its Python workers inherit this environment, so 4 tasks do
    not oversubscribe 4 cores), proj_spark importable by the workers,
    and every temporary file inside the work directory."""
    tmp = os.path.join(workdir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    for var in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS"):
        os.environ[var] = "1"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT, HERE] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(workdir, "local")
    # no JVM perf-data files in the system temp directory (the JVM
    # writes them there whatever java.io.tmpdir says)
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"


def make_spark(workdir: str, nproc: int, driver_mb: int):
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master(f"local[{nproc}]")
        .appName("proj_spark-benchmark")
        .config("spark.driver.memory", f"{driver_mb}m")
        # a fixed heap and young generation, so the pools' peak use
        # follows what the program allocates, not how G1 sized them.
        # C1 only: a run is too short for C2 to settle, and its
        # background compiles made each pipeline's time depend on how
        # far they had got
        .config("spark.driver.extraJavaOptions",
                f"-Xms{driver_mb}m -Xmn{driver_mb // 8}m -XX:TieredStopAtLevel=1 "
                "-XX:-UsePerfData "
                f"-Djava.io.tmpdir={os.path.join(workdir, 'tmp')}")
        .config("spark.local.dir", os.path.join(workdir, "local"))
        .config("spark.sql.warehouse.dir", os.path.join(workdir, "warehouse"))
        .config("spark.sql.shuffle.partitions", str(2 * nproc))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _warm_worker(batches):
    import proj_spark.functions.transform  # noqa: F401
    import proj_spark.operators.joins  # noqa: F401
    import proj_spark.operators.raster  # noqa: F401
    import proj_spark.sources.images  # noqa: F401

    yield from batches


def start_python_workers(spark, nproc: int) -> None:
    """First Python-worker start: one task per core imports proj_spark."""
    spark.range(0, nproc, 1, nproc).mapInPandas(
        _warm_worker, "id long").write.format("noop").mode("overwrite").save()


def stop_jvm(spark) -> None:
    """Stop the session, then the JVM process, and wait for it."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the gateway JVM exits on stdin EOF
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def timed(fn, spark=None):
    """(result, wall seconds, steal seconds) of one call, started once
    Spark has no job running."""
    if spark is not None:
        tracker = spark.sparkContext.statusTracker()
        deadline = time.perf_counter() + 10.0
        while tracker.getActiveJobsIds() and time.perf_counter() < deadline:
            time.sleep(0.05)
    s0 = steal_seconds()
    t0 = time.perf_counter()
    out = fn()
    wall = time.perf_counter() - t0
    return out, wall, steal_seconds() - s0


def granted(wall: float, cpu: float, steal: float) -> float:
    """Wall time on a host that gives the process tree every CPU-second
    it asks for.  The tree ran ``cpu`` seconds and was denied ``steal``
    more, so it ran on (cpu + steal) / wall CPUs at a time, and the
    denied time stretched the wall time by steal over that many CPUs."""
    return wall * cpu / (cpu + steal) if cpu + steal > 0 else wall


def steal_seconds() -> float:
    """CPU time the hypervisor gave to other guests while this VM's
    CPUs wanted to run, summed over CPUs (``steal`` in /proc/stat)."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK") if len(fields) > 8 else 0.0


def median(xs):
    return statistics.median(xs) if xs else 0.0


def plan_guard(wl, tracer) -> list[str]:
    """Every Python stage the workload means to exercise must appear in
    the executed plan of the operator's spans; a stage Catalyst pruned
    is a failed check, not a speed-up."""
    failed = []
    for op, (min_udfs, min_nodes) in wl.python_stages.items():
        nodes = [desc for _, desc, _, python in tracer.nodes.get(op, []) if python]
        udfs = sum(d.count("pythonUDF") for d in nodes)
        if len(nodes) < min_nodes or udfs < min_udfs:
            failed.append(f"plan.{op}")
            print(f"plan guard: {op} ran {len(nodes)} Python nodes with "
                  f"{udfs} UDFs, expected >= {min_nodes} / {min_udfs}: "
                  f"{nodes}", file=sys.stderr)
    return failed


def kernel_probes(seed: int) -> dict:
    """The kernels behind the Python stages, called directly on numpy
    arrays with no Spark: seconds per million points / thousand images."""
    import numpy as np

    from proj_spark import Transform
    from proj_spark.sources.datagen import meta_for, raster_for
    from proj_spark.sources.images import (decode_image, encode_lossy,
                                           encode_png, phash64)
    from proj_spark.sources.jpeg import encode_jpeg

    rng = np.random.default_rng([seed, 7])
    n = 250_000
    lon, lat = rng.uniform(-180, 180, n), rng.uniform(-85, 85, n)
    out = {}
    for name, crs in (("webmerc", "EPSG:3857"), ("utm", "EPSG:6366")):
        t = Transform.new_known_crs("EPSG:4326", crs)
        t.convert_array(lon[:10], lat[:10])
        reps = []
        for _ in range(3):
            t0 = time.perf_counter()
            t.convert_array(lon, lat)
            reps.append(time.perf_counter() - t0)
        out[f"kernels.{name}_s_per_mpt"] = median(reps) * 1e6 / n

    meta = meta_for(rng.choice(10_000_000, 120, replace=False).astype(np.uint64))
    data = []
    for key, w, h, fmt in zip(meta["hash"], meta["w"], meta["h"], meta["fmt"]):
        arr = raster_for(int(key), int(w), int(h))
        enc = {"jpeg": encode_lossy, "png": encode_png,
               "jpg": lambda a: encode_jpeg(a, quality=98)}[fmt]
        data.append((bytes(enc(arr)), fmt))
    dec, ph = [], []
    for _ in range(3):
        t0 = time.perf_counter()
        arrs = [decode_image(b, f) for b, f in data]
        t1 = time.perf_counter()
        for a in arrs:
            phash64(a)
        dec.append(t1 - t0)
        ph.append(time.perf_counter() - t1)
    out["images.decode_s_per_kimg"] = median(dec) * 1e3 / len(data)
    out["images.phash_s_per_kimg"] = median(ph) * 1e3 / len(data)
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=1.0,
                    help="input size multiplier (the smoke test uses a tiny one)")
    args = ap.parse_args(argv)

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    sys.path.insert(0, ROOT)
    import numpy
    import pandas
    import pyarrow
    import pyspark

    import proj_spark  # noqa: F401  (fails outside a checkout of the repo)
    from spans import (OP_METRICS, PythonMemory, Tracer, jvm_gc_seconds,
                       jvm_peak_bytes, tree_cpu_seconds)
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        ap.error(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}")
    host = host_info()
    nproc = host["nproc"]
    driver_mb = min(2048, host["ram_mb"] // 4)
    workdir = os.path.join(ROOT, ".bench_work", f"{args.workload}-{os.getpid()}")
    os.makedirs(workdir, exist_ok=True)
    prepare_env(workdir)

    wl = WORKLOADS[args.workload](args.seed, args.scale)
    wl.write_inputs(workdir, 2 * nproc)
    log(f"{args.workload}: inputs and expected answers generated")
    spark = None

    def setup():
        nonlocal spark
        spark = make_spark(workdir, nproc, driver_mb)
        wl.load(spark)
        start_python_workers(spark, nproc)

    try:
        with PythonMemory() as mem:
            cpu0 = tree_cpu_seconds(os.getpid())
            _, setup_wall, setup_steal = timed(setup)
            setup_cpu = tree_cpu_seconds(os.getpid()) - cpu0
            log(f"setup: {setup_wall:.2f} s")

            warm = Tracer(spark, enabled=True)

            def warm_up():
                try:
                    failed = wl.iteration(spark, warm)
                except Exception:
                    traceback.print_exc()
                    failed = ["warm-up"]
                try:  # the plan guard, even when a check raised
                    warm.collect()
                    return failed + plan_guard(wl, warm)
                except Exception:
                    traceback.print_exc()
                    return failed + ["plan"]

            guard_failed, _, _ = timed(warm_up, spark)
            log(f"warm-up done, failed checks: {guard_failed}")

            job_s, job_steal_s, job_cpu_s, traced_job_s = [], [], [], []
            per_op_samples, extra_samples = [], []
            attempts = failures = 0
            failed_checks: dict[str, int] = {}
            t_end = time.perf_counter() + args.seconds
            # one measured pipeline at least, two when tracing (one
            # untraced, one traced)
            while attempts < 1 + args.trace or time.perf_counter() < t_end:
                traced = bool(args.trace) and attempts % 2 == 1
                tr = Tracer(spark, enabled=traced)
                gc0 = jvm_gc_seconds(spark) if traced else 0.0
                cpu0 = tree_cpu_seconds(os.getpid())

                def one():
                    try:
                        return wl.iteration(spark, tr) + guard_failed
                    except Exception:
                        traceback.print_exc()
                        return ["exception"]

                failed, wall, steal = timed(one, spark)
                cpu = tree_cpu_seconds(os.getpid()) - cpu0 - tr.check_cpu_s
                log(f"iteration {attempts + 1} ({'traced' if traced else 'untraced'}): "
                    f"{wall:.2f} s, failed checks: {failed}")
                attempts += 1
                if failed:
                    failures += 1
                    for c in failed:
                        failed_checks[c] = failed_checks.get(c, 0) + 1
                    continue
                job = tr.top_level_seconds(exclude=("check",))
                if not traced:
                    job_s.append(job)
                    # steal pro rata to the time outside the checks
                    job_steal_s.append(steal * job / wall)
                    job_cpu_s.append(cpu)
                    continue
                gc = jvm_gc_seconds(spark) - gc0
                traced_job_s.append(job)
                per_op = tr.collect()
                per_op_samples.append(per_op)
                extra = wl.useful_ratios(per_op, tr)
                extra["spark.gc_s"] = gc
                extra["trace.span_coverage"] = tr.top_level_seconds() / wall
                extra_samples.append(extra)
            kernels = kernel_probes(args.seed) if args.trace else {}
            jvm_peak = jvm_peak_bytes(spark)
        peak_rss_mb = (jvm_peak + mem.peak) / 2 ** 20
    finally:
        if spark is not None:
            stop_jvm(spark)
        shutil.rmtree(workdir, ignore_errors=True)

    # wall times on a host that withholds no CPU time (see granted() and
    # NOTES.md); raw samples go to info
    setup_s = granted(setup_wall, setup_cpu, setup_steal)
    jm = median([granted(*x) for x in zip(job_s, job_cpu_s, job_steal_s)])
    info = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "scale": args.scale, **host,
        "driver_memory_mb": driver_mb,
        "versions": {"python": sys.version.split()[0],
                     "pyspark": pyspark.__version__,
                     "numpy": numpy.__version__, "pyarrow": pyarrow.__version__,
                     "pandas": pandas.__version__},
        "input_rows": wl.input_rows,
        "setup_wall_s": setup_wall,
        "setup_steal_s": setup_steal,
        "setup_cpu_s": setup_cpu,
        # with fewer than 20 samples no percentile above the median has
        # ten samples beyond it, so every sample is given instead
        "job_samples": len(job_s),
        "job_wall_s": job_s,
        "job_cpu_s": job_cpu_s,
        "job_steal_s": job_steal_s,
        "failed_frac": failures / attempts,
        "failed_checks": failed_checks,
        "jvm_peak_mb": jvm_peak / 2 ** 20,
        "python_pss_peak_mb": mem.peak / 2 ** 20,
    }
    print(json.dumps({"info": info}))

    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    if args.trace:
        values = {}
        for op in ALL_OPS:
            for suffix in OP_METRICS:
                values[f"{op}.{suffix}"] = median(
                    [s.get(op, {}).get(suffix, 0.0) for s in per_op_samples])
        for key in {k for s in extra_samples for k in s}:
            values[key] = median([s.get(key, 0.0) for s in extra_samples])
        values.update(kernels)
        values["tracing_overhead_s"] = median(traced_job_s) - median(job_s)
        values["raw.setup_wall_s"] = setup_wall
        values["raw.job_wall_s"] = median(job_s)
        names = [m["name"] for m in spec["per_layer"]]
    else:
        values = {
            "setup_s": setup_s,
            "job_s": jm,
            "rows_per_s": wl.input_rows / jm if jm else 0.0,
            "ok_frac": 1.0 - failures / attempts,
            "peak_rss_mb": peak_rss_mb,
        }
        names = [m["name"] for m in spec["end_to_end"]]
    metrics = {n: {"value": float(values.get(n, 0.0)), "unit": units[n]}
               for n in names}
    print(json.dumps({"correct": failures == 0, "attempted": attempts,
                      "failed": failures, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
