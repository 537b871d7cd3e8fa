"""Benchmark entry point.

    python3 perfbench/run.py --workload epe_ingest --seed 1 --seconds 20 --trace 0

Runs from the root of a checkout, starts one Spark session at
``local[nproc]``, sets the workload up, times its ops, checks every
output, and prints one JSON object as the last line of stdout:
``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0``
reports the end-to-end metrics, ``--trace 1`` the per-layer ones
(see perfbench/README.md). Everything the run writes stays under
``.perfbench/`` in the checkout; the per-run detail file (op times,
probe readings, spans) is kept there, the scratch files are not.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def confine(work: str) -> None:
    """Point every scratch location of the run inside ``work``, and
    give Spark and its Python workers this checkout's package."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ.pop("SPARK_GRAFT_MASTER", None)
    import tempfile

    tempfile.tempdir = None


def session_conf(work: str) -> dict[str, str]:
    return {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # no hsperfdata file in the system temp dir
        "spark.driver.extraJavaOptions": (
            f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(work, 'tmp')}"
        ),
    }


def stop_session(spark) -> None:
    """Stop Spark, end the JVM and wait for it and its workers."""
    from pyspark import SparkContext

    from tracer import descendants

    gateway = SparkContext._gateway
    proc = gateway.proc
    jvm_tree = descendants(proc.pid)
    spark.stop()
    gateway.shutdown()
    proc.stdin.close()  # the JVM exits when its stdin closes
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    deadline = time.time() + 30
    for pid in jvm_tree:
        while os.path.exists(f"/proc/{pid}") and time.time() < deadline:
            time.sleep(0.05)
        if os.path.exists(f"/proc/{pid}"):
            with contextlib.suppress(ProcessLookupError):
                os.kill(pid, signal.SIGKILL)


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    from workloads import WORKLOADS, catalog_check

    if args.workload not in WORKLOADS:
        raise SystemExit(f"unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}")
    # fails here, before any output, when the package is not beside us
    import epe_data_wrangling_spark  # noqa: F401

    out_dir = os.path.join(ROOT, ".perfbench")
    work = os.path.join(out_dir, f"work-{args.workload}-{os.getpid()}")
    confine(work)
    from probes import read_probes
    from tracer import ProcSampler, Tracer

    wl = WORKLOADS[args.workload]()
    n_ops = max(1, int(args.seconds // wl.op_s))
    layer: dict[str, float] = {}

    @contextlib.contextmanager
    def timer(name):
        t = time.perf_counter()
        yield
        layer[name] = time.perf_counter() - t

    from epe_data_wrangling_spark import session

    t_setup = time.perf_counter()
    with timer("session.start_s"):
        spark = session.get_spark(f"perfbench-{args.workload}", extra_conf=session_conf(work))
        spark.sparkContext.setLogLevel("ERROR")
    try:
        sampler = ProcSampler(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())
        wl.setup(spark, work, args.seed, n_ops)
        setup_s = time.perf_counter() - t_setup

        tracer = Tracer(spark, sampler) if args.trace else None
        if tracer:
            tracer.install()
        walls, cpu, failed = [], 0.0, 0
        for i in range(n_ops):
            wl.prepare(i)
            cpu0 = sampler.cpu_s()
            t0 = time.perf_counter()
            try:
                if tracer:
                    # the op's own window, without the tracer's reads
                    wall = tracer.op(lambda i=i: wl.run(i))
                else:
                    wl.run(i)
                    wall = time.perf_counter() - t0
                ok = None
            except Exception as e:  # an op that raises counts as failed
                print(f"op {i} raised {type(e).__name__}: {e}", file=sys.stderr)
                wall, ok = time.perf_counter() - t0, False
            walls.append(wall)
            cpu += sampler.cpu_s() - cpu0
            if ok is None:
                try:
                    ok = wl.check(i)
                except Exception as e:
                    print(f"op {i} check raised {type(e).__name__}: {e}", file=sys.stderr)
                    ok = False
            if not ok:
                print(f"op {i}: wrong output", file=sys.stderr)
                failed += 1
        golden_ok = True
        if tracer:
            tracer.uninstall()
            # the costlier checks run in traced runs, which are few:
            # a from-scratch recompute, and the catalog golden query
            if failed == 0 and not wl.final_check():
                print("final state differs from a from-scratch recompute", file=sys.stderr)
                failed = 1
            golden_ok = catalog_check(spark, work, timer)
            if not golden_ok:
                print("catalog golden check failed", file=sys.stderr)
        t_probes = time.perf_counter()
        layer.update(read_probes(spark, os.path.join(work, "probe_sf")))
        layer["jvm.peak_rss_mb"] = sampler.peak_rss_mb()
    finally:
        t_stop = time.perf_counter()
        stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)
    phases = {
        "probes_s": t_stop - t_probes,
        "stop_s": time.perf_counter() - t_stop,
        "total_s": time.perf_counter() - t_setup,
    }

    end_to_end = {
        "setup_s": setup_s,
        "run_s": sum(walls),
        "op_p50_s": statistics.median(walls),
        "cpu_s": cpu,
    }
    detail = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "op_walls_s": walls,
        "end_to_end": end_to_end,
        "layer": layer,
        "phases": phases,
    }
    detail_path = os.path.join(out_dir, f"{args.workload}-s{args.seed}-t{args.trace}.json")
    if tracer:
        layer.update(tracer.layer_metrics())
        layer["trace.run_s"] = end_to_end["run_s"]
        tracer.dump(detail_path, detail)
    else:
        with open(detail_path, "w") as f:
            json.dump(detail, f, indent=1)

    # BENCHMARK.json declares the metrics each mode prints, with units
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        declared = json.load(f)["per_layer" if args.trace else "end_to_end"]
    values = layer if args.trace else end_to_end
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in declared}
    print(json.dumps({
        "correct": failed == 0 and golden_ok,
        "attempted": n_ops,
        "failed": failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
