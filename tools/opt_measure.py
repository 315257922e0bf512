"""Focused per-query measurement harness for the optimization rounds.

Usage: python tools/opt_measure.py [--reps N] [--explain DIR] [--sf DIR] name...

Builds the SAME session as bench.py (build_session + identical warmup
families for whatever the named queries touch is the caller's concern
— the full bench warmup is replicated here so numbers are comparable),
then times each named query with the bench's count() action, reps=N,
printing min/median/max.  With --explain DIR, additionally writes
``DIR/<name>.txt`` containing ``.explain("formatted")`` for each query
(guide §1: capture the plan shape alongside the number).
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import statistics
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))
os.environ["PYTHONPATH"] = os.pathsep.join(
    [str(REPO)] + ([os.environ["PYTHONPATH"]] if os.environ.get("PYTHONPATH") else [])
)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument("--sf", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--explain", default=None, help="dir for explain('formatted') dumps")
    ap.add_argument("--json", default=None, help="write timings JSON here")
    ap.add_argument("names", nargs="+")
    args = ap.parse_args()

    from web_attack_detection_spark.plans import all_plans  # noqa: F401
    from web_attack_detection_spark.plans.registry import QUERIES
    from web_attack_detection_spark.session import build_session

    spark = build_session(app_name="opt_measure")
    spark.sparkContext.setLogLevel("ERROR")

    from web_attack_detection_spark.io.sources import TABLES, load_table

    for t in TABLES:
        load_table(spark, args.sf, t).count()

    import pandas as _pd

    spark.range(64).mapInPandas(
        lambda it: (_pd.DataFrame({"id": pdf["id"]}) for pdf in it), "id long"
    ).count()

    from pyspark.sql import Window as _W
    from pyspark.sql import functions as _F

    _small = load_table(spark, args.sf, "lineitem").limit(256).cache()
    _w = _W.partitionBy("l_returnflag").orderBy("l_orderkey")
    (
        _small.withColumn("rn", _F.row_number().over(_w))
        .withColumn("toks", _F.split(_F.lit("a b c"), " "))
        .withColumn("t", _F.explode(_F.transform(_F.col("toks"), lambda x: _F.upper(x))))
        .join(_F.broadcast(_small.select("l_orderkey").distinct()), "l_orderkey")
        .groupBy("l_returnflag", "t")
        .agg(_F.sum("l_quantity"), _F.countDistinct("l_partkey"))
        .count()
    )
    _small.unpersist()

    names = args.names
    need_stream = any(n.startswith(("stream_", "ref_unsw_stream")) for n in names)
    if need_stream:
        from web_attack_detection_spark.plans import streamq as _streamq

        _streamq.stream_session_windows(spark, "/root/testdata/sf0.001").count()
        _streamq.stream_windowed_counts(spark, "/root/testdata/sf0.001").count()
        _streamq.stream_dedup_watermark(spark, "/root/testdata/sf0.001").count()

    out = {}
    for name in names:
        spec = QUERIES[name]
        fn = spec.fn
        setup_sec = None
        if spec.setup is not None:  # bench.py's rule: declared setup, untimed
            t0 = time.perf_counter()
            spec.setup(spark, args.sf)
            setup_sec = round(time.perf_counter() - t0, 4)
        if args.explain:
            Path(args.explain).mkdir(parents=True, exist_ok=True)
            df = fn(spark, args.sf)
            txt = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
            (Path(args.explain) / f"{name}.txt").write_text(txt)
            del df
            gc.collect()
        runs = []
        for _ in range(args.reps):
            t0 = time.perf_counter()
            df = fn(spark, args.sf)
            df.count()
            runs.append(round(time.perf_counter() - t0, 4))
            del df
            gc.collect()
        med = round(statistics.median(runs), 4)
        out[name] = {"median": med, "runs": runs, "setup_sec": setup_sec}
        print(f"{name}: median={med} runs={runs} setup_sec={setup_sec}", flush=True)
    if args.json:
        Path(args.json).write_text(json.dumps(out, indent=1))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
