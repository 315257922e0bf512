"""10x in-flight scale probe for PageRank's iterative join-agg
(SCALE.md): ``rel_pagerank_fixed`` runs unmodified with its lineitem
edge weights unioned 10x under the SAME keys (weights grow 10x, the
graph does not). The change-data queries (``rel_cdc_apply``,
``rel_snapshot_diff``) read content-keyed fixture tables and are
measured on a materialized 10x copy by tools/bench_scale.py instead.

Usage: python tools/scale_probe_relational.py
"""

from __future__ import annotations

import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

SF_DIR = "/root/testdata/sf0.1"
NAME = "rel_pagerank_fixed"


def main() -> int:
    from web_attack_detection_spark.io.sources import load_table
    from web_attack_detection_spark.plans import all_plans  # noqa: F401
    from web_attack_detection_spark.plans import relational10
    from web_attack_detection_spark.plans.registry import QUERIES as REG
    from web_attack_detection_spark.session import build_session

    spark = build_session(app_name="scale_probe_relational")

    def loader10(spark_, sf_dir, name):
        df = load_table(spark_, sf_dir, name)
        if name != "lineitem":
            return df
        out = df
        for _ in range(1, 10):
            out = out.unionByName(df)
        return out

    results = {}
    for mult, loader in [("1x", load_table), ("10x", loader10)]:
        relational10.load_table = loader
        REG[NAME].fn(spark, SF_DIR).count()  # warm
        t0 = time.time()
        REG[NAME].fn(spark, SF_DIR).count()
        results[mult] = time.time() - t0
        print(f"{mult:>4} {NAME}: {results[mult]:.2f}s", flush=True)
    relational10.load_table = load_table
    a, b = results["1x"], results["10x"]
    print("\n| plan | 1x | 10x | scaling |")
    print("|---|---|---|---|")
    print(f"| {NAME} | {a:.2f} s | {b:.2f} s | {b / a:.1f}x |")
    return 0


if __name__ == "__main__":
    sys.exit(main())
