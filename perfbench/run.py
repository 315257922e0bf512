#!/usr/bin/env python3
"""Benchmark runner.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. Builds a Spark session with the
package's own ``build_session`` on ``local[<nproc>]``, runs one workload
(see ``workloads.py`` and ``README.md``) and prints, as the last line of
standard output, one JSON object: ``correct``, ``attempted``, ``failed``
and ``metrics`` (the end-to-end metrics with ``--trace 0``, the
per-layer metrics with ``--trace 1``). The line before it carries the
run's annotations and workload-specific figures.

Everything the run writes stays under ``.perfbench_work/`` in the
checkout and is removed at exit.
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
from pathlib import Path

from stats import steal_s

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORKLOAD_NAMES = ("detect_batch", "query_mix")
END_TO_END = ["setup_s", "wall_s", "rows_per_s", "peak_rss_mb"]


def _parse(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def _isolate(work: Path) -> dict[str, str]:
    """Point every temp, spill and warehouse path into ``work`` and make
    the package importable on Spark's Python workers."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True)
    os.environ["TMPDIR"] = tempfile.tempdir = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT)] + ([os.environ["PYTHONPATH"]] if os.environ.get("PYTHONPATH") else [])
    )
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    # every JVM spark-submit starts, its launcher included
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    # a fixed, pre-touched heap and two malloc arenas keep the driver's
    # peak RSS from following GC sizing decisions and thread scheduling
    os.environ["MALLOC_ARENA_MAX"] = "2"
    return {
        "spark.driver.extraJavaOptions": "-Xms1g -XX:+AlwaysPreTouch",
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        "spark.ui.showConsoleProgress": "false",
        # the traced run reads every job of an operation back from the
        # status store; keep them all until then
        "spark.ui.retainedJobs": "10000",
        "spark.ui.retainedStages": "20000",
    }


def _stop(spark) -> None:
    """Stop the session and wait for the driver JVM to exit."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def _end_to_end(out, setup_s: float, rss: tuple[float, float]) -> dict[str, dict]:
    lat = out.latencies
    if out.by_name:
        # mean query latency over the list: the median of the mixed
        # latencies jumps between neighbouring queries from run to run,
        # and a geometric mean weighs most the short, driver-bound
        # queries, whose latency follows the shared host's speed most
        wall = statistics.mean([statistics.median(v) for v in out.by_name.values()])
    else:
        wall = statistics.median(lat) if lat else 0.0
    rows_per_s = sum(out.rows) / sum(lat) if lat else 0.0
    return {
        "setup_s": {"value": setup_s, "unit": "s"},
        "wall_s": {"value": wall, "unit": "s"},
        "rows_per_s": {"value": rows_per_s, "unit": "rows/s"},
        "peak_rss_mb": {"value": sum(rss), "unit": "MB"},
    }


def _per_layer(b) -> dict[str, dict]:
    from tracing import metric_unit

    return {k: {"value": v, "unit": metric_unit(k)} for k, v in sorted(b.layer_metrics().items())}


def _details(out, args, t_start: float, steal0: float) -> dict:
    from stats import load_1m, percentile

    import bench

    lat = out.latencies
    d = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "ops": len(lat),
        "ops_per_s": len(lat) / sum(lat) if lat else 0.0,
        "failed_ratio": out.failed / max(out.attempted, 1),
        "cpu_probe_ms": bench.cpu_probe_ms(),
        "load_1m": load_1m(),
        "run_s": time.perf_counter() - t_start,
        "steal_s": steal_s() - steal0,
    }
    try:
        d["p90_s"] = percentile(lat, 90)
    except ValueError:
        pass  # fewer than 10 operations beyond p90: no tail figure
    if out.by_name:
        d["by_query_s"] = {k: [round(x, 4) for x in v] for k, v in sorted(out.by_name.items())}
    if out.failures:
        d["failures"] = out.failures[:20]
    return d


def main(argv=None) -> int:
    args = _parse(argv)
    if not (ROOT / "web_attack_detection_spark" / "__init__.py").is_file():
        print(f"perfbench: no web_attack_detection_spark package under {ROOT}", file=sys.stderr)
        return 2
    t_start = time.perf_counter()
    steal0 = steal_s()
    work = ROOT / ".perfbench_work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    conf = _isolate(work)
    sys.path[:0] = [str(HERE), str(ROOT)]
    spark = tracer = None
    try:
        import tracing
        from stats import peak_rss_mb
        from workloads import WORKLOADS, Bench, Outcome

        tracer = tracing.Tracer() if args.trace else None
        if tracer is not None:
            tracer.install()
        from web_attack_detection_spark.session import build_session

        spark = build_session(app_name=f"perfbench-{args.workload}", extra_conf=conf)
        spark.sparkContext.setLogLevel("ERROR")
        if tracer is not None:
            tracer.sc = spark.sparkContext
        b = Bench(spark, str(work), args.seed, tracer)
        out = Outcome()
        WORKLOADS[args.workload](b, args.seconds, out)
        setup_s = out.setup_done - t_start
        rss = peak_rss_mb()
        if tracer is not None:
            metrics = _per_layer(b)
        else:
            metrics = _end_to_end(out, setup_s, rss)
        details = _details(out, args, t_start, steal0)
        details.update(setup_s=setup_s, rss_python_mb=rss[0], rss_jvm_mb=rss[1])
        if tracer is not None:
            details["trace.overhead_ratio"] = metrics["trace.overhead_ratio"]["value"]
    finally:
        if tracer is not None:
            tracer.uninstall()
        if spark is not None:
            _stop(spark)
        shutil.rmtree(work, ignore_errors=True)
        try:
            work.parent.rmdir()
        except OSError:
            pass
    print(json.dumps(details, sort_keys=True))
    print(
        json.dumps(
            {
                "correct": out.failed == 0 and bool(out.latencies),
                "attempted": max(out.attempted, 1),
                "failed": out.failed,
                "metrics": metrics,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
