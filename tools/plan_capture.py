"""Capture .explain('formatted') for EVERY driver action a query runs.

Usage: python tools/plan_capture.py --out DIR [--suffix _after] [--sf DIR] name...

``name`` is a registered query, or ``flagship_pipeline`` (the
``__spark_entry__.entry`` query, which is not in the registry).

Multi-job queries (the exact trainers, kmeans, streaming replays)
return a driver-local tidy relation whose own explain is a trivial
LocalTableScan; the plans that matter are the per-round jobs.  This
tool monkeypatches the DataFrame actions (`first`, `collect`, `count`,
`toPandas`) to dump the formatted plan of every DataFrame acted on,
in execution order, into ``DIR/<name><suffix>.txt`` — so a plan-shape
claim ("the SQL-text round pass optimizes to the same plan as the
Column-API build") can be checked line by line (guide §1.1/§7.2).

Run it once from the pre-change tree (--suffix _before) and once from
the post-change tree (--suffix _after); expression IDs (#123) differ
run to run, everything else should match when the claim is "plan
unchanged".
"""

from __future__ import annotations

import argparse
import os
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))
os.environ["PYTHONPATH"] = os.pathsep.join(
    [str(REPO)] + ([os.environ["PYTHONPATH"]] if os.environ.get("PYTHONPATH") else [])
)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--out", required=True)
    ap.add_argument("--suffix", default="")
    ap.add_argument(
        "--sf", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    )
    ap.add_argument("names", nargs="+")
    args = ap.parse_args()

    from web_attack_detection_spark.plans import all_plans  # noqa: F401
    from web_attack_detection_spark.plans.flagship import flagship_pipeline
    from web_attack_detection_spark.plans.registry import QUERIES
    from web_attack_detection_spark.session import build_session

    spark = build_session(app_name="plan_capture")
    spark.sparkContext.setLogLevel("ERROR")

    import threading

    from pyspark.sql.classic.dataframe import DataFrame as CDF

    jvm = spark.sparkContext._jvm
    captured: list[str] = []
    # overlap() queries act from several driver threads (ADVICE r10):
    # serialize appends so the action numbering can't race, and tag
    # each entry with its thread so overlapped sections can be sorted
    # deterministically when comparing before/after files
    _grab_lock = threading.Lock()

    def _grab(df, action: str) -> None:
        try:
            txt = jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
        except Exception as e:  # pragma: no cover - diagnostic path
            txt = f"<explain failed: {e}>"
        tname = threading.current_thread().name
        tag = "" if tname == "MainThread" else f" [thread {tname}]"
        with _grab_lock:
            captured.append(
                f"== action #{len(captured) + 1}: {action}{tag} ==\n{txt}"
            )

    # localCheckpoint included (r10): many queries run their heavy
    # stage INSIDE an eager checkpoint (the knn edge builder, the
    # dedup pair stages) — without it the captured file shows only the
    # cheap final aggregate over pinned blocks
    orig = {
        m: getattr(CDF, m)
        for m in ("first", "collect", "count", "toPandas", "localCheckpoint")
    }

    def _wrap(m):
        def inner(self, *a, **kw):
            _grab(self, m)
            return orig[m](self, *a, **kw)

        return inner

    outdir = Path(args.out)
    outdir.mkdir(parents=True, exist_ok=True)
    for name in args.names:
        captured.clear()
        for m in orig:
            setattr(CDF, m, _wrap(m))
        try:
            fn = (
                flagship_pipeline
                if name == "flagship_pipeline"
                else QUERIES[name].fn
            )
            df = fn(spark, args.sf)
        finally:
            for m, f in orig.items():
                setattr(CDF, m, f)
        final = jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        captured.append(f"== final returned DataFrame ==\n{final}")
        (outdir / f"{name}{args.suffix}.txt").write_text("\n".join(captured))
        print(f"{name}: {len(captured)} plans -> {outdir}/{name}{args.suffix}.txt")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
