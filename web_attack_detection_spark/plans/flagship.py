"""Flagship query: the reference's end-to-end feature pipeline.

Re-expresses ``/root/reference/utils/data_preprocessing.py:7-65`` (the
core "query" of the whole reference — SURVEY.md §3 entry point 2) over
the fixture ``events`` table:

    events ─► dtype column classification (R3) ─► mean-impute (F3)
           ─► standard-scale (F5) ─► string-index categoricals + label
              (F1) ─► one-hot (F2) ─► assemble array features (F4)
           ─► PCA(k=20) projection (F6, data_preprocessing.py:47)
           ─► select(features, label)

Differences from the reference, on purpose (SURVEY.md §7 "what's
hard", item e): fit on train only; the label is excluded from the
feature set (the reference leaks it); output is ``array<double>``
rather than ``VectorUDT`` so the result is oracle-checkable.

Scale shape: fits are 1 aggregation job + 1 groupBy-count per
categorical column; transform is a map-only stage with broadcast
joins. No wide shuffle of the fact table anywhere.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from web_attack_detection_spark.functions.feature import fit_feature_pipeline
from web_attack_detection_spark.io.sources import load_table


def derive_wide_events(ev: DataFrame) -> DataFrame:
    """Row-local featurization to reference width: the reference's input
    is ~44 columns wide before PCA(k=20) (UNSW-NB15; BASELINE.md §2),
    while the fixture has 4 usable columns — so the flagship derives
    the wide frame the DAG expects (json field, calendar parts,
    bucketed categoricals; all map-only column expressions, no
    shuffle). Assembled width = 6 numerics + 7+3+6 one-hot slots
    (drop_last) = 22 dims, so the PCA stage genuinely reduces
    (22 → 20). Shared by the flagship query and runner.run_pipeline."""
    return ev.select(
        "event_id",
        "user_id",
        "event_type",
        "value",
        F.get_json_object("props", "$.k").cast("double").alias("k"),
        F.hour("ts").cast("double").alias("hour"),
        F.dayofmonth("ts").cast("double").alias("dom"),
        F.pmod(F.col("user_id"), F.lit(8)).cast("string").alias("user_shard"),
        F.when(F.col("value") < 50, "low")
        .when(F.col("value") < 150, "mid")
        .when(F.col("value") < 300, "high")
        .otherwise("extreme")
        .alias("value_band"),
        F.date_format("ts", "EEE").alias("dow"),
    )


def flagship_pipeline(
    spark: SparkSession, sf_dir: str, pca_k: int | None = 20
) -> DataFrame:
    """Fit the feature pipeline on `events` and return (features, label),
    where ``features`` is the PCA(k=20) projection — the reference DAG's
    final stage (``data_preprocessing.py:47``; k clamps to the assembled
    width when the fixture yields fewer raw dims).

    ``event_type`` plays the reference's ``attack_cat`` role (FIXTURES.md
    role mapping); ``props`` (json string) is a categorical stand-in for
    proto/service/state-style columns; ``value`` and the id columns are
    the numeric features. Pass ``pca_k=None`` for the pre-projection
    features.
    """
    ev = load_table(spark, sf_dir, "events")
    # The fixture parquet is ONE row group, so the scan is one task and
    # every downstream map stage would run single-threaded on local[32]
    # (measured: the whole pipeline 2.4 s → 1.6 s at sf0.1 once spread
    # over cores). Boost only when the source under-partitions relative
    # to the cluster — a well-laid-out 100 TB table (thousands of row
    # groups) takes the `if` branch and never pays this shuffle.
    target = max(spark.sparkContext.defaultParallelism // 2, 1)
    if ev.rdd.getNumPartitions() < target:
        ev = ev.repartition(target)
    events = derive_wide_events(ev)
    # deterministic train split (reference trains on 3 of 4 partition
    # files, main.py:28-44; we split by key instead of by file)
    train = events.filter(F.col("event_id") % 4 != 1)
    # fit-time caching (what MLlib Pipeline.fit does internally): the
    # fit is 2 passes (fused stats melt + PCA Gramian) — without the
    # cache each re-scans the source AND re-derives the featurization
    # (JSON parse, date_format) per pass. At 100 TB this is the
    # "materialize the projected train once" step.
    train = train.cache()
    try:
        model = fit_feature_pipeline(train, label_col="event_type", pca_k=pca_k)
    finally:
        train.unpersist()
    out = model.transform(events)
    return out.select("features", "label")
