"""Unified 10x scale sidecar (VERDICT r7 #4): one artifact, one method.

Materializes a 10x-unioned copy of $SPARK_GRAFT_SF_DIR (default
sf0.1) on local disk, times the top cost families at 1x and 10x in
the SAME session, and writes ``BENCH_scale.json`` with per-query
per-unit-of-data ratios — replacing the scattered per-family SCALE.md
probe tables with one table the next verdict can diff.

Replication scheme (structure-preserving, output-linear):

- ``documents``: doc_id shifted by 10M per copy; every word gets a
  copy suffix (``regexp_replace('(\\S+)', '$1u<c>')``) so shingle sets
  are DISJOINT across copies — within-copy near-dup structure (the
  planted pairs) is preserved exactly, while cross-copy Jaccard is 0,
  keeping near-dup OUTPUT linear in copies (a naive union of
  identical texts would grow pair counts quadratically and measure
  output size, not scan/join cost).
- ``embeddings``: vec_id shifted by 1M per copy, vectors unchanged
  (ANN/k-means candidates grow linearly per bucket/cluster).
- ``events``: event_id shifted by 100M and user_id by 1M per copy —
  both shifts divisible by every modulus the queries key on (%4
  splits, %100 features, %16 sequence values), so per-copy semantics
  are identical and the user population grows 10x.
- ``orders``: o_orderkey shifted by 15,015,000 per copy — a multiple
  of 3, 5, 7, 11 and 13, the moduli the change-data queries plant
  updates/deletes on — so the keyspace grows 10x with identical
  per-copy change sets.

Copy 0 is byte-identical to the source, so the 1x relation is a
strict subset of the 10x one.

The per-unit ratio is ``t10 / (copies * t1)``: ~1.0 = perfectly
linear, <= ~1.3 = acceptable constant-factor growth (shuffle fan-in,
JIT), >> 1.3 = a super-linear plan (the r7 ml_minhash_lsh_join verify
bug would have shown here as df^2 growth). Sub-linear ratios are
expected for the deep trainers (their BPTT python loop is
hash-capped at _MAX_TRAIN rows by design — only the Spark dataflow
scales).

A second, SKEW-STRESSED pass (VERDICT r8 #2) measures the same volume
with one hot near-dup document cluster and one hot event user planted
(see SKEW_QUERIES below), recording band-bucket max/median and the
candidate-pair upper bound so any skew wall-time ratio is attributed
to inherent quadratic OUTPUT (pair semantics) vs plan blowup.

Usage: python tools/bench_scale.py [--copies N] [--out BENCH_scale.json]
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shutil
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))
os.environ["PYTHONPATH"] = os.pathsep.join(
    [str(REPO)]
    + ([os.environ["PYTHONPATH"]] if os.environ.get("PYTHONPATH") else [])
)

from pyspark.sql import functions as F  # noqa: E402

# the top cost families (dedup, ANN, exact trainers, deep trainer,
# tokenizer trainers, ref battery, corpus pipeline, change data) —
# every entry reads only documents/embeddings/events/orders, the four
# replicated tables
QUERIES_10X = [
    "dedup_exact",
    "dedup_simhash",
    "dedup_minhash_lsh",
    "dedup_incremental_indexed",  # probe against the stored shingle index
    "dedup_index_merge",  # index compaction + post-merge serving
    "rel_cdc_apply",  # last-op-wins over the bucketed changelog
    "rel_snapshot_diff",  # shuffle-free full outer join on bucketed orders
    "ml_minhash_lsh_join",
    "sim_ivf_topk",
    "sim_pq_adc_topk",
    "ml_kmeans_clusters",
    "ml_logreg_train_eval",
    "ml_als_exact",
    "ml_als_recommend",
    "ml_seqnet_served_confusion",
    "stream_seqnet_scoring",
    "stream_join_left_outer",  # row-level append sink, JVM-pinned r10
    "stream_stateful_totals",  # per-user cumulative state, JVM-pinned r10
    "text_bpe_train",
    "text_unigram_train",
    "text_unigram_encode",
    "text_wordpiece_encode",
    "ml_rnn_train_dist",
    "ref_unsw_battery_summary",
    "pipe_training_corpus",
    "ml_mlp_exact",
    "ml_rnn_exact",  # r10 exact trainers: BPTT / pool / gated-cell loops
    "ml_cnn_exact",
    "ml_lstm_exact",
    "flagship_pipeline",  # the driver's entry query (VERDICT r8 #3)
    "dedup_suffix_doubling",  # r10: prefix-doubling chain, narrow joins
    "dedup_suffix_cut",  # r10: keep-first substring removal off the chain
    "stream_gbt_trained_scoring",  # r10: tree-family train->serve
]

# --- skew-stressed variant (VERDICT r8 #2) --------------------------------
# The uniform replication above proves no-accidental-quadratic but not
# skew tolerance: real corpora are Zipfian and duplicate-heavy, and LSH
# banding's classic 100 TB failure is one hot band bucket going
# quadratic.  The skew dir plants, ON TOP of the uniform 10x dir:
#   - one hot near-dup cluster: every doc with doc_id % 100 == 7 (1% of
#     docs, ACROSS copies — the copy shift is a multiple of 100) gets
#     the SAME literal text, forming one ~500-doc identical cluster at
#     10x sf0.1 whose every band bucket is maximally hot;
#   - one hot user: every event with event_id % 100 == 7 (1% of events,
#     across copies) is reassigned to a single user_id — a hot groupBy /
#     stream-state key.
# Pair-emitting dedup queries have inherently quadratic OUTPUT in the
# cluster size (C(500,2) = 124,750 near-dup pairs exist by definition);
# the probe separates that inherent output from plan blowup by
# recording band-bucket max/median and the candidate-pair upper bound
# alongside wall time.
SKEW_HOT_TEXT = (
    "spark shuffles partition data across executors while catalyst "
    "prunes columns from parquet scans and tungsten packs rows into "
    "unsafe buffers before the adaptive planner coalesces the shuffle"
)
SKEW_HOT_USER = 424_242
SKEW_QUERIES = [
    "dedup_exact",
    "dedup_minhash_lsh",
    "ml_minhash_lsh_join",
    "pipe_training_corpus",
    "stream_seqnet_scoring",  # hot stream-state key (one user-hour window)
    "stream_stateful_totals",  # hot applyInPandasWithState key (VERDICT r9 #5)
    "stream_join_left_outer",  # hot user fans out the stream-stream join
    "ml_als_exact",  # hot user's rating counts dominate one row
    "dedup_suffix_doubling",  # hot identical cluster -> ~500-deep windows
    "dedup_suffix_cut",  # cut mass grows with the hot cluster (output)
]

# expected-sub-linear queries: the python-side train loop is
# hash-capped by design, so 10x data must NOT cost 10x
SUBLINEAR_BY_DESIGN = {"ml_rnn_train_dist"}


def materialize(spark, src: str, dst: str, copies: int) -> None:
    if os.path.isdir(dst):
        shutil.rmtree(dst)
    os.makedirs(dst, exist_ok=True)

    docs = spark.read.parquet(f"{src}/documents.parquet")
    parts = [docs]
    for c in range(1, copies):
        parts.append(
            docs.select(
                (F.col("doc_id") + c * 10_000_000).alias("doc_id"),
                F.regexp_replace("text", r"(\S+)", f"$1u{c}").alias("text"),
                *[f.name for f in docs.schema.fields if f.name not in ("doc_id", "text")],
            ).select(*docs.columns)
        )
    d = parts[0]
    for p in parts[1:]:
        d = d.unionByName(p)
    d.write.mode("overwrite").parquet(f"{dst}/documents.parquet")

    emb = spark.read.parquet(f"{src}/embeddings.parquet")
    parts = [emb]
    for c in range(1, copies):
        parts.append(
            emb.select(
                (F.col("vec_id") + c * 1_000_000).alias("vec_id"),
                *[f.name for f in emb.schema.fields if f.name != "vec_id"],
            ).select(*emb.columns)
        )
    e = parts[0]
    for p in parts[1:]:
        e = e.unionByName(p)
    e.write.mode("overwrite").parquet(f"{dst}/embeddings.parquet")

    ev = spark.read.parquet(f"{src}/events.parquet")
    parts = [ev]
    for c in range(1, copies):
        parts.append(
            ev.select(
                (F.col("event_id") + c * 100_000_000).alias("event_id"),
                (F.col("user_id") + c * 1_000_000).alias("user_id"),
                *[
                    f.name
                    for f in ev.schema.fields
                    if f.name not in ("event_id", "user_id")
                ],
            ).select(*ev.columns)
        )
    v = parts[0]
    for p in parts[1:]:
        v = v.unionByName(p)
    v.write.mode("overwrite").parquet(f"{dst}/events.parquet")

    o = spark.read.parquet(f"{src}/orders.parquet")
    parts = [o]
    for c in range(1, copies):
        parts.append(o.withColumn("o_orderkey", F.col("o_orderkey") + c * 15_015_000))
    r = parts[0]
    for p in parts[1:]:
        r = r.unionByName(p)
    r.write.mode("overwrite").parquet(f"{dst}/orders.parquet")


def materialize_skew(spark, uniform_dir: str, dst: str) -> None:
    """Derive the skewed 10x dir from the uniform one: same volume,
    same schema, plus the hot near-dup cluster and the hot user."""
    if os.path.isdir(dst):
        shutil.rmtree(dst)
    os.makedirs(dst, exist_ok=True)
    docs = spark.read.parquet(f"{uniform_dir}/documents.parquet")
    docs.withColumn(
        "text",
        F.when(F.col("doc_id") % 100 == 7, F.lit(SKEW_HOT_TEXT)).otherwise(
            F.col("text")
        ),
    ).write.mode("overwrite").parquet(f"{dst}/documents.parquet")
    ev = spark.read.parquet(f"{uniform_dir}/events.parquet")
    ev.withColumn(
        "user_id",
        F.when(F.col("event_id") % 100 == 7, F.lit(SKEW_HOT_USER)).otherwise(
            F.col("user_id")
        ),
    ).write.mode("overwrite").parquet(f"{dst}/events.parquet")
    # embeddings unchanged by the skew transforms; link the uniform copy
    # so load_table finds it if a measured query ever needs it
    os.symlink(
        os.path.abspath(f"{uniform_dir}/embeddings.parquet"),
        f"{dst}/embeddings.parquet",
    )


def band_bucket_stats(spark, d: str) -> dict:
    """Band-bucket size distribution of the MinHash LSH banding
    (8 bands x 4 rows, the dedup_minhash_lsh configuration) over a
    documents dir — max, median, and the candidate-pair upper bound
    sum(C(bucket,2)).  This is the quantity that goes quadratic when
    one bucket runs hot; recording it alongside wall time attributes
    any skew ratio mechanically."""
    from web_attack_detection_spark.operators.dedup import minhash_signatures

    docs = spark.read.parquet(f"{d}/documents.parquet")
    sig = minhash_signatures(docs, "text", "doc_id", n=3, num_perm=32)
    b = (
        sig.select(
            "id",
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(i).alias("band"),
                            F.concat_ws(
                                ",",
                                *[F.col("sig")[j] for j in range(i * 4, (i + 1) * 4)],
                            ).alias("bh"),
                        )
                        for i in range(8)
                    ]
                )
            ).alias("bb"),
        )
        .select(F.col("bb.band").alias("band"), F.col("bb.bh").alias("bh"))
        .groupBy("band", "bh")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    row = b.agg(
        F.max("c").alias("mx"),
        F.expr("percentile_approx(c, 0.5, 10000)").alias("med"),
        F.sum(F.col("c") * (F.col("c") - 1) / 2).cast("long").alias("ub"),
    ).first()
    return {
        "bucket_max": int(row["mx"]),
        "bucket_median": int(row["med"]),
        "candidate_pairs_upper_bound": int(row["ub"]),
    }


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--copies", type=int, default=10)
    ap.add_argument("--out", default=str(REPO / "BENCH_scale.json"))
    ap.add_argument(
        "--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    )
    ap.add_argument("--scale-dir", default="/tmp/spark_graft_scale10")
    ap.add_argument(
        "--only",
        nargs="*",
        default=None,
        help="probe only queries with these name prefixes and MERGE the "
        "rows into an existing --out sidecar (for incrementally adding "
        "new queries without re-running the whole table)",
    )
    args = ap.parse_args()

    queries_10x = QUERIES_10X
    skew_queries = SKEW_QUERIES
    if args.only:
        pf = tuple(args.only)
        queries_10x = [n for n in QUERIES_10X if n.startswith(pf)]
        skew_queries = [n for n in SKEW_QUERIES if n.startswith(pf)]

    from web_attack_detection_spark.plans import all_plans  # noqa: F401
    from web_attack_detection_spark.plans.registry import QUERIES
    from web_attack_detection_spark.session import build_session

    spark = build_session(app_name="bench_scale")
    spark.sparkContext.setLogLevel("ERROR")

    t0 = time.perf_counter()
    materialize(spark, args.sf_dir, args.scale_dir, args.copies)
    build_s = round(time.perf_counter() - t0, 1)
    print(f"# 10x dir built in {build_s}s", file=sys.stderr)

    from web_attack_detection_spark.plans.flagship import flagship_pipeline

    def _resolve(name: str):
        if name == "flagship_pipeline":
            return lambda s, d: flagship_pipeline(s, d)
        return QUERIES[name].fn

    result: dict = {}
    for name in queries_10x:
        fn = _resolve(name)
        entry: dict = {}
        setup = QUERIES[name].setup if name in QUERIES else None
        for tag, d in (("t1", args.sf_dir), (f"t{args.copies}", args.scale_dir)):
            if setup is not None:  # declared input fixture: untimed, as in bench.py
                t = time.perf_counter()
                setup(spark, d)
                entry[f"{tag}_setup"] = round(time.perf_counter() - t, 2)
            load0 = round(os.getloadavg()[0], 2)
            t = time.perf_counter()
            n = fn(spark, d).count()
            entry[tag] = round(time.perf_counter() - t, 2)
            entry[f"{tag}_rows"] = n
            entry[f"{tag}_load"] = load0
            gc.collect()
        entry["ratio_per_unit"] = round(
            entry[f"t{args.copies}"] / (args.copies * entry["t1"]), 3
        )
        if name in SUBLINEAR_BY_DESIGN:
            entry["note"] = "python train loop hash-capped; only the dataflow scales"
        result[name] = entry
        print(f"# {name}: {entry}", file=sys.stderr)

    # skew-stressed pass (VERDICT r8 #2): same 10x volume, hot keys in
    t0 = time.perf_counter()
    skew_dir = args.scale_dir.rstrip("/") + "_skew"
    materialize_skew(spark, args.scale_dir, skew_dir)
    skew_build_s = round(time.perf_counter() - t0, 1)
    print(f"# skew dir built in {skew_build_s}s", file=sys.stderr)
    skew_result: dict = {}
    # key names derive from args.copies (ADVICE r9 #1: the previous
    # hardcoded t10 raised KeyError when run with --copies != 10)
    tN = f"t{args.copies}"
    for name in skew_queries:
        fn = _resolve(name)
        load0 = round(os.getloadavg()[0], 2)
        t = time.perf_counter()
        n = fn(spark, skew_dir).count()
        entry = {
            f"{tN}_skew": round(time.perf_counter() - t, 2),
            f"{tN}_skew_rows": n,
            f"{tN}_skew_load": load0,
        }
        u = result.get(name)
        if u:
            entry["skew_vs_uniform"] = round(entry[f"{tN}_skew"] / u[tN], 3)
            entry["rows_vs_uniform"] = round(
                entry[f"{tN}_skew_rows"] / max(u[f"{tN}_rows"], 1), 3
            )
        skew_result[name] = entry
        print(f"# skew {name}: {entry}", file=sys.stderr)
        gc.collect()

    out = {
        "metric": "per_unit_scale_ratio",
        "sf": args.sf_dir,
        "copies": args.copies,
        "build_sec": build_s,
        "cpus": os.cpu_count(),
        "queries": result,
        "worst_ratio": max(v["ratio_per_unit"] for v in result.values()),
        "skew": {
            "hot_doc_cluster": "doc_id % 100 == 7 -> one identical text"
            " (~1% of docs, one cross-copy near-dup cluster)",
            "hot_user": f"event_id % 100 == 7 -> user_id {SKEW_HOT_USER}"
            " (~1% of events on one key)",
            "build_sec": skew_build_s,
            "band_buckets_uniform": band_bucket_stats(spark, args.scale_dir),
            "band_buckets_skew": band_bucket_stats(spark, skew_dir),
            "queries": skew_result,
        },
    }
    if args.only and Path(args.out).exists():
        # merge mode: update only the probed rows, keep everything else
        prev = json.loads(Path(args.out).read_text())
        prev["queries"].update(out["queries"])
        prev["skew"]["queries"].update(out["skew"]["queries"])
        prev["skew"]["band_buckets_uniform"] = out["skew"]["band_buckets_uniform"]
        prev["skew"]["band_buckets_skew"] = out["skew"]["band_buckets_skew"]
        prev["worst_ratio"] = max(
            v["ratio_per_unit"] for v in prev["queries"].values()
        )
        out = prev
    Path(args.out).write_text(json.dumps(out, indent=1) + "\n")
    print(json.dumps({k: v["ratio_per_unit"] for k, v in result.items()}))


if __name__ == "__main__":
    main()
