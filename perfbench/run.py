"""Benchmark entry point.

    python3 perfbench/run.py --workload serve_multi --seed 1 --seconds 10 --trace 0

Runs one workload (see workloads.py and README.md) on local[4] and
prints every metric by name with its unit, then, as the last line of
standard output, one JSON object with the keys ``correct``,
``attempted``, ``failed`` and ``metrics``. ``--trace 0`` reports the
``end_to_end`` metrics of BENCHMARK.json, ``--trace 1`` its
``per_layer`` metrics.

Everything the run writes stays under ``.perfbench/`` in the checkout:
its scratch directory (removed at exit), the serving-store cache, and a
record per run (input fingerprint, metrics, failures; spans when traced)
under ``.perfbench/out/``, which compare.py reads.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("serve_multi", "ingest_live")


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full",
                    help="tiny: the self-test's corpus sizes")
    ap.add_argument("--perturb", type=int, default=0,
                    help="swap the top-2 doc ids of this many answers before "
                         "the oracle gate (its negative check)")
    ap.add_argument("--build-store", action="store_true",
                    help="only build the shared serving store, then exit")
    return ap.parse_args(argv)


def start_spark(work: str):
    """local[4] with every scratch path inside ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    local = os.path.join(work, "spark-local")
    os.environ["NEXLT_LOCAL_DIR"] = os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ.setdefault("NEXLT_DRIVER_MEM", "2g")
    # every JVM, the spark-submit launcher's too: no /tmp/hsperfdata_*
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(
        filter(None, [os.environ.get("JAVA_TOOL_OPTIONS"), "-XX:-UsePerfData",
                      f"-Djava.io.tmpdir={tmp}"])
    )
    from nexlt_spark.session import get_spark

    spark = get_spark(
        app_name="perfbench",
        master="local[4]",
        shuffle_partitions=4,
        extra_conf={
            "spark.ui.enabled": "false",
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark() -> None:
    """Stop Spark, then end the gateway JVM and wait for it: it exits when
    its stdin closes, and takes its Python worker daemon with it. Safe to
    call at any point of start-up, or after a broken gateway call."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    try:
        if SparkContext._active_spark_context is not None:
            SparkContext._active_spark_context.stop()
    finally:
        if gateway is not None:
            proc = getattr(gateway, "proc", None)
            try:
                gateway.shutdown()
            finally:
                SparkContext._gateway = SparkContext._jvm = None
                if proc is not None:
                    proc.stdin.close()
                    try:
                        proc.wait(timeout=60)
                    except subprocess.TimeoutExpired:
                        proc.kill()
                        proc.wait()


def build_store(size: str) -> None:
    """Build the shared serving store in a child process and wait for it;
    a terminated parent terminates the child, which stops its own JVM."""
    child = subprocess.Popen([sys.executable, os.path.abspath(__file__), "--workload",
                              "serve_multi", "--seed", "0", "--seconds", "0", "--size", size,
                              "--build-store"])
    try:
        if child.wait():
            raise RuntimeError(f"building the serving store exited {child.returncode}")
    finally:
        if child.poll() is None:
            child.terminate()
            child.wait()


def _plain(x):
    """JSON-safe copy of query tuples and answer rows."""
    if isinstance(x, (list, tuple)):
        return [_plain(v) for v in x]
    if isinstance(x, dict):
        return {k: _plain(v) for k, v in x.items()}
    if isinstance(x, (str, int, float)) or x is None:
        return x
    return x.item() if hasattr(x, "item") else str(x)


def main(argv=None) -> int:
    args = parse_args(argv)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        wanted = json.load(fh)["per_layer" if args.trace else "end_to_end"]
    sys.path.insert(0, ROOT)
    import workloads  # imports the engine: fails where it is absent

    base = os.path.join(ROOT, ".perfbench")
    work = os.path.join(base, f"work-{os.getpid()}")
    out = os.path.join(base, "out")
    os.makedirs(work)
    os.makedirs(out, exist_ok=True)
    traced = bool(args.trace)
    cache = os.path.join(base, "cache")
    # a terminated run still stops its JVM and removes its scratch
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        if (args.workload == "serve_multi" and not traced and not args.build_store
                and not os.path.isdir(workloads.cached_store(args.size, cache))):
            build_store(args.size)
        spark = start_spark(work)
        if args.build_store:
            workloads.build_cached_store(spark, args.size, cache)
            return 0
        if args.workload == "ingest_live":
            res = workloads.run_ingest(spark, args.seed, args.seconds, traced, args.size, work)
        else:
            res = workloads.run_serve(spark, args.seed, args.seconds, traced, args.size,
                                      work, cache)
        failures = workloads.gate(res, args.perturb)
        values = workloads.layer_metrics(res) if traced else res["metrics"]
    finally:
        try:
            stop_spark()
        finally:
            shutil.rmtree(work, ignore_errors=True)

    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in wanted}
    attempted, failed = len(res["records"]), len(failures)
    stem = os.path.join(out, f"{args.workload}-seed{args.seed}-trace{args.trace}")
    with open(stem + ".json", "w") as fh:
        json.dump(_plain({
            "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
            "trace": args.trace, "size": args.size, "fingerprint": res["fingerprint"],
            "metrics": metrics, "attempted": attempted, "failed": failed,
            "oracle_s": res["oracle_s"], "passes": res.get("passes"),
            "failures": failures[:50],
        }), fh, indent=1)
    if traced:
        res["lt"].tracer.write(stem + ".spans.jsonl")

    print(f"workload {args.workload} seed {args.seed} fingerprint "
          f"{json.dumps(res['fingerprint'], sort_keys=True)}")
    for name, m in metrics.items():
        print(f"{name:34s} {m['value']:.6g} {m['unit']}")
    print(f"{'failed_ops_frac':34s} {failed / attempted:.6g} ({failed} of {attempted})")
    if not traced:
        print(f"{'bench.oracle_s':34s} {res['oracle_s']:.6g} s (outside setup_s)")
    for f in failures[:20]:
        print("FAILED", json.dumps(_plain(f)))
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
