"""Benchmark entry point.

    python3 perfbench/run.py --workload query-small --seed 1 --seconds 30 --trace 0

Run from the repository root. Builds every index from seeded, generated
input inside ``.bench_work/`` of the current directory, measures one
workload for ``--seconds`` seconds, checks the answers, and prints as its
last stdout line one JSON object: ``correct``, ``attempted``, ``failed``
and ``metrics`` (the ``end_to_end`` metrics of BENCHMARK.json with
``--trace 0``, its ``per_layer`` metrics with ``--trace 1``). The line
before it records the host and the run's details.
"""

from __future__ import annotations

import time

PROCESS_START = time.perf_counter()

import argparse  # noqa: E402
import hashlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True,
                   choices=["query-small", "serve-large"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--size", choices=["full", "tiny"], default="full",
                   help="tiny: small inputs for the smoke test")
    return p.parse_args(argv)


def source_sha() -> str:
    """Git commit if the tree is a repository, else a hash of the sources."""
    try:
        out = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"],
                             capture_output=True, text=True, timeout=10)
        if out.returncode == 0:
            return out.stdout.strip()
    except OSError:
        pass
    h = hashlib.sha1()
    pkg = os.path.join(ROOT, "opensearch_spark")
    for d, dirs, files in sorted(os.walk(pkg)):
        dirs.sort()
        for f in sorted(files):
            if f.endswith(".py"):
                with open(os.path.join(d, f), "rb") as fh:
                    h.update(fh.read())
    return "src-" + h.hexdigest()


def start_spark(work_dir: str, cpus: int):
    """A local[cpus] session whose scratch space stays under work_dir."""
    tmp = os.path.join(work_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # the JVM and its Python workers inherit these
    os.environ["TMPDIR"] = tmp
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    from opensearch_spark.session import get_spark

    spark = get_spark("perfbench", cpus=cpus, shuffle_partitions=cpus, extra_conf={
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.memory": "3g",
        "spark.local.dir": os.path.join(work_dir, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work_dir, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
    })
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and its workers) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "opensearch_spark")):
        print("perfbench: the opensearch_spark package is not beside perfbench/",
              file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    sys.path.insert(0, ROOT)

    import numpy
    import pyarrow
    import pyspark

    import workloads
    from ledger import cpu_ticks, steal_frac

    cpus = len(os.sched_getaffinity(0))
    load_start = os.getloadavg()
    ticks_start = cpu_ticks()
    work_dir = os.path.join(os.getcwd(), ".bench_work", str(os.getpid()))
    shutil.rmtree(work_dir, ignore_errors=True)
    os.makedirs(work_dir)
    spark = None
    try:
        t0 = time.perf_counter()
        spark = start_spark(work_dir, cpus)
        # process start to session ready, less the interpreter's imports
        # of the benchmark itself
        session_s = time.perf_counter() - t0 + (t0 - PROCESS_START)
        bench = workloads.Bench(spark, args.workload, args.seed, args.seconds,
                                bool(args.trace), args.size, work_dir, session_s)
        workloads.WORKLOADS[args.workload](bench)
        host = {
            "nproc": cpus, "master": spark.sparkContext.master,
            "spark": pyspark.__version__, "pyarrow": pyarrow.__version__,
            "numpy": numpy.__version__, "source": source_sha(),
            "loadavg_start": load_start, "loadavg_end": os.getloadavg(),
            "cpu_steal_frac": steal_frac(ticks_start, cpu_ticks()),
        }
        detail = {
            "workload": args.workload, "seed": args.seed, "trace": args.trace,
            "session_s": session_s,
            "ops": {k: [round(x, 4) for x in v] for k, v in bench.ops.values.items()},
            "op_steal": {k: [round(x, 4) for x in v]
                         for k, v in bench.steal.values.items()},
            **{k: [round(x, 4) for x in v] for k, v in bench.detail.items()},
            "errors": bench.errors,
        }
        if args.trace:
            values = workloads.layer_metrics(bench)
            wanted = spec["per_layer"]
        else:
            values = bench.e2e
            wanted = spec["end_to_end"]
        missing = [m["name"] for m in wanted if m["name"] not in values]
        if missing:
            print(f"perfbench: metrics not measured: {missing}", file=sys.stderr)
            return 3
        metrics = {m["name"]: {"value": float(values[m["name"]]), "unit": m["unit"]}
                   for m in wanted}
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work_dir, ignore_errors=True)
    print(json.dumps({"host": host, "detail": detail}))
    failed = bench.failed
    print(json.dumps({"correct": failed == 0, "attempted": max(bench.attempted, 1),
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
