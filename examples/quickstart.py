"""Quickstart: the engine's main API surfaces in one runnable script.

Mirrors the reference's workflow (load -> prep -> train -> evaluate ->
artifacts) on the Spark-native API, then shows the capabilities the
reference never had: streaming replay, in-engine deep training, model
transpilation, and corpus dedup.

    python examples/quickstart.py [sf_dir]     # default /root/testdata/sf0.001
"""

from __future__ import annotations

import sys
import tempfile
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"

    from pyspark.sql import functions as F

    from web_attack_detection_spark.functions.feature import fit_feature_pipeline
    from web_attack_detection_spark.io.sources import load_table
    from web_attack_detection_spark.ml.pipeline import accuracy, fit_mlp, predict
    from web_attack_detection_spark.session import build_session

    spark = build_session(app_name="quickstart", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")

    # 1. The reference's batch pipeline: dtype-driven prep, fit on train
    events = load_table(spark, sf_dir, "events").drop("props", "ts")
    train = events.filter(F.col("event_id") % 4 != 1)
    test = events.filter(F.col("event_id") % 4 == 1)
    fp = fit_feature_pipeline(train, label_col="event_type")
    tr = fp.transform(train).select("features", "label").cache()
    tr.count()
    model = fit_mlp(tr, "features", "label", hidden=(16, 8), seed=42, max_iter=10)
    acc = accuracy(predict(model, fp.transform(test), "features")).first()["accuracy"]
    print(f"1. batch pipeline: MLP held-out accuracy = {acc:.4f}")
    tr.unpersist()

    # 2. Detection metrics as relational plans (exact, oracle-checked)
    from web_attack_detection_spark.plans import all_plans  # noqa: F401
    from web_attack_detection_spark.plans.registry import QUERIES

    auc = QUERIES["ml_roc_auc"].fn(spark, sf_dir).first()
    print(f"2. detector metrics: AUC = {auc['auc']} over "
          f"{auc['n_pos']}+{auc['n_neg']} events")

    # 3. In-engine deep training (numpy backprop, full-batch momentum
    # SGD in one Spark task)
    from web_attack_detection_spark.ml import train as mltrain

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.col("embedding").cast("array<double>").alias("seq"),
        (F.element_at("embedding", 1) > 0).cast("int").alias("label"),
    ).cache()
    emb.count()
    params, hist = mltrain.fit_sequence_net(emb, "rnn", 64, 2, epochs=3, lr=0.2)
    print(
        f"3. in-engine RNN training: loss {hist['loss'][0]:.3f} -> "
        f"{hist['loss'][-1]:.3f}"
    )
    with tempfile.NamedTemporaryFile(suffix=".json") as f:
        mltrain.save_params(params, f.name)        # the model.save seam
        _ = mltrain.load_params(f.name)
    emb.unpersist()

    # 4. Corpus hygiene: near-dup structure over documents
    groups = QUERIES["dedup_semantic_clustered"].fn(spark, sf_dir)
    n_removed = groups.agg(F.sum("n_removed")).first()[0]
    print(f"4. semantic dedup: {n_removed} removable near-duplicates")

    # 5. Streaming replay: the same aggregation, micro-batched
    counts = QUERIES["stream_model_scoring"].fn(spark, sf_dir)
    print(f"5. streaming model scoring: {counts.count()} (type, flag) groups")

    # 6. Deployment tuning: cost-optimal threshold + per-cohort audit
    opt = QUERIES["ml_cost_threshold"].fn(spark, sf_dir).first()
    audit = QUERIES["ml_subgroup_fairness"].fn(spark, sf_dir).collect()
    spread = max(g["fpr"] for g in audit) - min(g["fpr"] for g in audit)
    print(f"6. operating point: threshold {opt['threshold']} "
          f"(cost {opt['cost']}), cohort FPR spread {spread:.4f}")

    # 7. Hybrid retrieval: sparse TF-IDF x dense embeddings via RRF
    hits = QUERIES["sim_hybrid_rrf"].fn(spark, sf_dir)
    print(f"7. hybrid RRF retrieval: {hits.count()} fused hits")

    # 8. BPE tokenizer: train a merges table on the corpus, then
    # encode UNSEEN text with the chained-replace serving projection
    from web_attack_detection_spark.functions import bpe

    words = load_table(spark, sf_dir, "documents").select(
        F.explode(F.split("text", r"\s+")).alias("w")
    )
    merges, _ = bpe.bpe_train(words, n_rounds=10)
    oov = spark.createDataFrame([("tokenization",)], "w string")
    toks = (
        oov.select(bpe.encode_words_expr(F.col("w"), merges).alias("seq"))
        .select(bpe.tokens_expr().alias("t"))
        .first()["t"]
    )
    print(f"8. BPE: {len(merges)} merges trained; 'tokenization' -> {toks}")

    # 9. WordPiece (the BERT tokenizer): likelihood-ranked merges with
    # '##' continuations, same OOV chained-replace serving path
    wp_merges, _ = bpe.wordpiece_train(words, n_rounds=10)
    wp_toks = (
        oov.select(bpe.wp_encode_words_expr(F.col("w"), wp_merges).alias("seq"))
        .select(bpe.tokens_expr().alias("t"))
        .first()["t"]
    )
    print(f"9. WordPiece: {len(wp_merges)} merges; 'tokenization' -> {wp_toks}")

    # 10. Exact in-engine trees: a depth-2 CART and 4 boosted stumps,
    # both trained bit-identically in Spark and the DuckDB oracle
    tree = QUERIES["ml_decision_tree_exact"].fn(spark, sf_dir).collect()
    acc = tree[0]["train_accuracy"]
    gbm = QUERIES["ml_gbt_stumps_exact"].fn(spark, sf_dir).collect()
    print(
        f"10. exact trees: depth-2 CART acc {acc:.3f}; "
        f"boosted stumps RMSE {gbm[0]['train_rmse']:.2f}"
    )

    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
