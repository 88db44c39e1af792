"""GENIE pipeline benchmark.

    python3 perfbench/run.py --workload nightly_fresh --seed 1 --seconds 10 --trace 0

Run it from the root of a checkout of this repository. Workloads:

* ``nightly_fresh``: ``cli.cmd_nightly`` (ingest -> release -> dashboard)
  over seeded center uploads into an empty warehouse (``nightly.py``);
* ``headline_queries``: the ``bench.HEADLINE`` queries over seeded tables,
  each constructed then executed to the noop sink (``queries.py``).

Set-up starts the Spark session, runs a tiny warm-up job and generates
the inputs from ``--seed`` (three times; the median counts). The measured
window then runs iterations of the workload until ``--seconds`` would be
exceeded (at least one). Every iteration's outputs are checked.

The last line of standard output is one JSON object: ``correct``,
``attempted``, ``failed`` and ``metrics``. With ``--trace 0`` the metrics
are the end-to-end ones in ``BENCHMARK.json``; with ``--trace 1`` the
run is traced (layer spans, Spark job groups, an uncompressed event log)
and the metrics are the per-layer ones.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import nightly  # noqa: E402
import queries  # noqa: E402
from spans import Tracer  # noqa: E402

WORKLOADS = ("nightly_fresh", "headline_queries")
GEN_REPEATS = 3
WORK_DIR = ".perfbench_work"


def start_session(work: str, traced: bool):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # keep every file Spark, its launcher JVM and its workers write inside
    # the checkout
    os.environ["TMPDIR"] = tempfile.tempdir = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(filter(None, (
        os.environ.get("JAVA_TOOL_OPTIONS"), f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}")))
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    conf = {
        "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
        "spark.ui.showConsoleProgress": "false",
    }
    if traced:
        events = os.path.join(work, "events")
        os.makedirs(events, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": events,
            "spark.eventLog.compress": "false",  # no zstandard module to read zstd
        })
    from genie_spark.session import get_spark

    spark = get_spark("perfbench", extra_conf=conf)
    # tiny warm-up on no workload data: first-job start-up is session cost
    spark.range(1).count()
    return spark


def stop_session(spark) -> None:
    """Stop Spark, then the JVM gateway process, and wait for it to exit."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    try:
        gateway.shutdown()
    finally:
        if proc is not None:
            if proc.stdin is not None:
                proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=60)
            except Exception:
                proc.kill()
                proc.wait()
        SparkContext._gateway = SparkContext._jvm = None


def _median(values):
    return statistics.median(values) if values else 0.0


def run(args) -> dict:
    traced = bool(args.trace)
    work = os.path.abspath(os.path.join(WORK_DIR, f"{args.workload}-{os.getpid()}"))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    sys.path.insert(0, os.getcwd())
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [os.getcwd()] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    mod = nightly if args.workload == "nightly_fresh" else queries
    spark = None
    try:
        gen_s, inputs = [], None
        for k in range(GEN_REPEATS):
            g0 = time.perf_counter()
            inputs = mod.make_inputs(os.path.join(work, f"gen{k}"), args.seed)
            gen_s.append(time.perf_counter() - g0)
        gen_dir = os.path.join(work, f"gen{GEN_REPEATS - 1}")
        t0 = time.perf_counter()
        spark = start_session(work, traced)
        setup_s = time.perf_counter() - t0 + _median(gen_s)
        if mod is queries:
            queries.oracle_digests(inputs)  # untimed: neither set-up nor measured

        tracer = Tracer(spark.sparkContext if traced else None)
        walls, attempted, failed, problems = [], 0, 0, []
        while True:
            first_span = len(tracer.spans)
            if mod is nightly:
                res = nightly.run_once(spark, tracer, gen_dir, len(walls), traced)
                wall = res["wall"]
                a, f, p = nightly.check(spark, tracer, first_span, res, inputs)
            else:
                res = queries.run_once(spark, tracer, inputs)
                wall = sum(c + e for c, e in res["queries"].values()
                           if c is not None and e is not None)
                a, f, p = queries.check(inputs, res)
            walls.append(wall)
            attempted, failed, problems = attempted + a, failed + f, problems + p
            if sum(walls) + wall > args.seconds:  # the next one would overrun
                break
        for p in problems:
            print(f"check: {p}", file=sys.stderr)
        out = {
            "correct": failed == 0,
            "attempted": attempted,
            "failed": failed,
        }
        if not traced:
            out["metrics"] = {
                "wall_s": (_median(walls), "s"),
                "setup_s": (setup_s, "s"),
                "ok_frac": ((attempted - failed) / max(attempted, 1), "ratio"),
            }
        else:
            stop_session(spark)
            spark = None
            import layers

            out["metrics"] = layers.per_layer(
                tracer, os.path.join(work, "events"), inputs if mod is nightly else None,
                len(walls), _median(walls))
        return out
    finally:
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(os.getcwd(), "genie_spark", "cli.py")):
        print("run from the root of a genie_spark checkout", file=sys.stderr)
        return 2
    out = run(args)
    out["metrics"] = {k: {"value": v, "unit": u} for k, (v, u) in out["metrics"].items()}
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
