"""ML queries: per-class metrics, PCA (full oracle since r7 — exact
moments + a replayable power-iteration fit), exact-Lloyd k-means
(full oracle since r7), and the MLlib train/eval family (rows-only —
trained weights aren't SQL-expressible, SURVEY.md §5 item 2)."""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from web_attack_detection_spark.functions.overlap import overlap
from web_attack_detection_spark.io.sources import load_table, parallelize_scan
from web_attack_detection_spark.ml.pipeline import (
    accuracy,
    fit_mlp,
    per_class_metrics,
    predict,
)
from web_attack_detection_spark.plans.exactx import (
    ExactArch,
    _lrgd_round_half_away,
    checkpoint_train_z,
    exact_tidy,
    fit_exact,
    fit_stdz,
    hardtanh_sql,
    head_grads,
    head_params,
    margin_sql,
)
from web_attack_detection_spark.plans.registry import register
from web_attack_detection_spark.sqltext import sql_double

# ---------------------------------------------------------------------------
# per-class precision/recall/F1 — SQL-expressible, oracle-checked
# ---------------------------------------------------------------------------

_METRICS_ORACLE = """
WITH preds AS (
  SELECT event_type AS label,
         CASE WHEN value >= 100 THEN 'error' ELSE 'view' END AS prediction
  FROM events
),
cm AS (SELECT label, prediction, COUNT(*) AS n FROM preds GROUP BY 1, 2),
per_label AS (SELECT label, SUM(n) AS n_true FROM cm GROUP BY label),
per_pred AS (SELECT prediction, SUM(n) AS n_pred FROM cm GROUP BY prediction),
tp AS (SELECT label, n AS tp FROM cm WHERE label = prediction)
SELECT l.label,
       ROUND(CASE WHEN COALESCE(p.n_pred, 0) > 0
                  THEN COALESCE(t.tp, 0) / CAST(p.n_pred AS DOUBLE) ELSE 0.0 END, 6) AS precision,
       ROUND(CASE WHEN l.n_true > 0
                  THEN COALESCE(t.tp, 0) / CAST(l.n_true AS DOUBLE) ELSE 0.0 END, 6) AS recall,
       ROUND(CASE WHEN (CASE WHEN COALESCE(p.n_pred, 0) > 0
                             THEN COALESCE(t.tp, 0) / CAST(p.n_pred AS DOUBLE) ELSE 0.0 END
                      + CASE WHEN l.n_true > 0
                             THEN COALESCE(t.tp, 0) / CAST(l.n_true AS DOUBLE) ELSE 0.0 END) > 0
                  THEN 2 * (CASE WHEN COALESCE(p.n_pred, 0) > 0
                                 THEN COALESCE(t.tp, 0) / CAST(p.n_pred AS DOUBLE) ELSE 0.0 END)
                         * (CASE WHEN l.n_true > 0
                                 THEN COALESCE(t.tp, 0) / CAST(l.n_true AS DOUBLE) ELSE 0.0 END)
                         / ((CASE WHEN COALESCE(p.n_pred, 0) > 0
                                  THEN COALESCE(t.tp, 0) / CAST(p.n_pred AS DOUBLE) ELSE 0.0 END)
                          + (CASE WHEN l.n_true > 0
                                  THEN COALESCE(t.tp, 0) / CAST(l.n_true AS DOUBLE) ELSE 0.0 END))
                  ELSE 0.0 END, 6) AS f1
FROM per_label l
LEFT JOIN tp t ON l.label = t.label
LEFT JOIN per_pred p ON l.label = p.prediction
"""


@register("ml_per_class_metrics", _METRICS_ORACLE, doc="per-class precision/recall/F1")
def ml_per_class_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiclass metrics from one confusion-matrix aggregation, on a
    deterministic threshold predictor (the MLlib path reuses the same
    evaluator functions)."""
    ev = load_table(spark, sf_dir, "events").select(
        F.col("event_type").alias("label"),
        F.when(F.col("value") >= 100, "error").otherwise("view").alias("prediction"),
    )
    return per_class_metrics(ev)


# ---------------------------------------------------------------------------
# PCA (F6) — full oracle since r7: exact-moment covariance + a
# power-iteration fit whose IEEE trajectory DuckDB replays bit-exactly
# ---------------------------------------------------------------------------

_PCA_COLS = ("l_quantity", "l_extendedprice", "l_discount", "l_tax")
_PCA_ITERS = 48  # fixed; parity holds at ANY count because both engines
# replay the same float trajectory — the count only buys convergence,
# which the variance-ordering audit then certifies


def _pca_power(a: list[list[float]], k: int = 4, iters: int = _PCA_ITERS):
    """Driver-side power iteration + deflation over the 4×4 covariance.
    EVERY arithmetic expression here is textually mirrored in
    _pca_oracle's SQL (same operand order, same left-associated adds,
    hardware sqrt on both sides), so the eigenvector floats — signs
    included — are bit-identical between Python and DuckDB."""
    import math

    comps: list[list[float]] = []
    lams: list[float] = []
    for _ in range(k):
        v = [0.5, 0.5, 0.5, 0.5]
        for _ in range(iters):
            y = [
                a[i][0] * v[0] + a[i][1] * v[1] + a[i][2] * v[2] + a[i][3] * v[3]
                for i in range(4)
            ]
            nrm = math.sqrt(y[0] * y[0] + y[1] * y[1] + y[2] * y[2] + y[3] * y[3])
            v = [y[i] / nrm for i in range(4)]
        y = [
            a[i][0] * v[0] + a[i][1] * v[1] + a[i][2] * v[2] + a[i][3] * v[3]
            for i in range(4)
        ]
        lam = v[0] * y[0] + v[1] * y[1] + v[2] * y[2] + v[3] * y[3]
        comps.append(v)
        lams.append(lam)
        a = [[a[i][j] - lam * v[i] * v[j] for j in range(4)] for i in range(4)]
    return comps, lams


def _pca_oracle(iters: int = _PCA_ITERS) -> str:
    """DuckDB replay of fit+project: exact HUGEINT moments → covariance
    (q-units) → 4 × power iteration with deflation as chained one-row
    MATERIALIZED CTEs → map-only projection with the fitted axes."""
    qsel = ", ".join(
        f"CAST(ROUND({c} * 100) AS BIGINT) AS q{d + 1}" for d, c in enumerate(_PCA_COLS)
    )
    moms = ", ".join(
        f"SUM(q{i} * q{j}) AS s{i}{j}" for i in range(1, 5) for j in range(i, 5)
    )
    sums = ", ".join(f"SUM(q{i}) AS s{i}" for i in range(1, 5))
    cov = ", ".join(
        f"(CAST(s{min(i, j)}{max(i, j)} AS DOUBLE) - CAST(s{i} AS DOUBLE)*CAST(s{j} AS DOUBLE)/n) / (n-1) AS a{i}{j}"
        for i in range(1, 5)
        for j in range(1, 5)
    )
    parts = [
        f"""WITH mom AS MATERIALIZED (
  SELECT CAST(COUNT(*) AS BIGINT) AS n, {sums}, {moms}
  FROM (SELECT {qsel} FROM lineitem)
), mat_1 AS MATERIALIZED (
  SELECT n, {cov} FROM mom
), mm AS MATERIALIZED (
  SELECT {", ".join(f"CAST(s{i} AS DOUBLE)/n/100 AS m{i}" for i in range(1, 5))} FROM mom
)"""
    ]
    for c in range(1, 5):
        parts.append(
            f", v_{c}_0 AS MATERIALIZED (SELECT 0.5 AS v1, 0.5 AS v2, 0.5 AS v3, 0.5 AS v4)"
        )
        ys = ", ".join(
            f"a.a{i}1*v.v1 + a.a{i}2*v.v2 + a.a{i}3*v.v3 + a.a{i}4*v.v4 AS y{i}"
            for i in range(1, 5)
        )
        for t in range(1, iters + 1):
            parts.append(
                f""", v_{c}_{t} AS MATERIALIZED (
  SELECT y1/nrm AS v1, y2/nrm AS v2, y3/nrm AS v3, y4/nrm AS v4
  FROM (SELECT y1, y2, y3, y4, sqrt(y1*y1 + y2*y2 + y3*y3 + y4*y4) AS nrm
        FROM (SELECT {ys} FROM mat_{c} a, v_{c}_{t - 1} v))
)"""
            )
        parts.append(
            f""", eig_{c} AS MATERIALIZED (
  SELECT v1 AS w1, v2 AS w2, v3 AS w3, v4 AS w4,
         v1*y1 + v2*y2 + v3*y3 + v4*y4 AS lam
  FROM (SELECT v.v1, v.v2, v.v3, v.v4, {ys}
        FROM mat_{c} a, v_{c}_{iters} v)
)"""
        )
        if c < 4:
            defl = ", ".join(
                f"a.a{i}{j} - e.lam*e.w{i}*e.w{j} AS a{i}{j}"
                for i in range(1, 5)
                for j in range(1, 5)
            )
            parts.append(
                f", mat_{c + 1} AS MATERIALIZED (SELECT a.n, {defl} FROM mat_{c} a, eig_{c} e)"
            )
    xsel = ", ".join(
        f"CAST(CAST(ROUND({c} * 100) AS BIGINT) AS DOUBLE)/100 AS x{d + 1}"
        for d, c in enumerate(_PCA_COLS)
    )
    pcs = ", ".join(
        "(b.x1 - m.m1)*e{c}.w1 + (b.x2 - m.m2)*e{c}.w2 + (b.x3 - m.m3)*e{c}.w3 + (b.x4 - m.m4)*e{c}.w4 AS pc{c}".format(
            c=c
        )
        for c in range(1, 5)
    )
    parts.append(
        f"""
SELECT b.l_orderkey, b.l_linenumber, {pcs},
       TRUE AS audit_variance_ordered
FROM (SELECT l_orderkey, l_linenumber, {xsel} FROM lineitem) b,
     mm m, eig_1 e1, eig_2 e2, eig_3 e3, eig_4 e4"""
    )
    return "".join(parts)


@register(
    "ml_pca_project",
    _pca_oracle(),
    doc="PCA k=4 projection, FULL oracle (exact moments + replayable power iteration)",
)
def ml_pca_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PCA over 4 numeric lineitem columns → 4 components — FULL
    ORACLE (converted from rows-only in round 7).  The sign/order
    ambiguity that made eigenvectors "not SQL-expressible" dissolves
    once the fit itself is a deterministic replayable program: (1)
    second moments are EXACT integer sums (cents quantization,
    DECIMAL(38,0)/HUGEINT), so the covariance matrix is bit-identical
    in both engines — each entry three casts, one multiply, two
    divisions; (2) the eigen-fit is 48 power-iteration steps +
    deflation over the 4×4 matrix, driver-side in Python floats,
    textually mirrored by the oracle's chained one-row MATERIALIZED
    CTEs (same operand order, left-associated adds, hardware sqrt) —
    so the IEEE trajectory, eigenvector SIGNS included, is
    bit-identical whether or not it has converged; (3) the projection
    is a map-only expression over literal axes.  The round-6
    variance-ordering audit stays in-query (sample variances of the
    projected columns non-increasing — certifying the iteration
    actually converged to principal axes, which mere replay-parity
    cannot).  fit_pca's MLlib 1e-9 parity tests remain in
    tests/test_ml.py.  Scale: fit = ONE scan producing 15 exact
    partial-aggregable moments (vs MLlib PCA's RowMatrix Gramian —
    same shuffle shape, but this one is resumable and
    engine-portable); projection = map-only whole-stage codegen with
    512 bytes of literals; nothing iterative touches the corpus."""
    import functools
    import operator

    li = load_table(spark, sf_dir, "lineitem")
    qdf = li.select(
        "l_orderkey",
        "l_linenumber",
        *[
            F.round(F.col(c) * 100).cast("long").alias(f"q{d + 1}")
            for d, c in enumerate(_PCA_COLS)
        ],
    )
    dec = "decimal(38,0)"
    aggs = [F.count(F.lit(1)).alias("n")]
    aggs += [F.sum(F.col(f"q{i}").cast(dec)).alias(f"s{i}") for i in range(1, 5)]
    aggs += [
        F.sum((F.col(f"q{i}") * F.col(f"q{j}")).cast(dec)).alias(f"s{i}{j}")
        for i in range(1, 5)
        for j in range(i, 5)
    ]
    m = qdf.agg(*aggs).first()
    n = int(m["n"])
    s = {i: int(m[f"s{i}"]) for i in range(1, 5)}
    sq = {(i, j): int(m[f"s{i}{j}"]) for i in range(1, 5) for j in range(i, 5)}
    # covariance in q-units — mirrors _pca_oracle's mat_1 expressions
    a = [
        [
            (float(sq[min(i, j), max(i, j)]) - float(s[i]) * float(s[j]) / n) / (n - 1)
            for j in range(1, 5)
        ]
        for i in range(1, 5)
    ]
    means = [float(s[i]) / n / 100 for i in range(1, 5)]
    comps, _lams = _pca_power(a)

    xs = [(F.col(f"q{d}").cast("double") / 100) for d in range(1, 5)]
    proj = qdf.select(
        "l_orderkey",
        "l_linenumber",
        *[
            functools.reduce(
                operator.add,
                [(xs[d] - F.lit(means[d])) * F.lit(comps[c][d]) for d in range(4)],
            ).alias(f"pc{c + 1}")
            for c in range(4)
        ],
    )
    audit = proj.agg(*[F.variance(f"pc{c}").alias(f"v{c}") for c in range(1, 5)]).select(
        (
            (F.col("v1") >= F.col("v2"))
            & (F.col("v2") >= F.col("v3"))
            & (F.col("v3") >= F.col("v4"))
        ).alias("audit_variance_ordered")
    )
    return proj.crossJoin(F.broadcast(audit))


# ---------------------------------------------------------------------------
# MLP train + evaluate (M1 + M5) — rows-only (trained weights)
# ---------------------------------------------------------------------------


# k-means hyperparameters shared by the engine loop and the oracle
# generator.  SCALE=1e6 makes every quantized coordinate an exact
# BIGINT (|e| < 1 in the fixture), so per-round per-(cluster, dim)
# sums are exact and each centroid coordinate is ONE IEEE division —
# the same determinism discipline as ml_naive_bayes_train_eval.
_KM_K = 8
_KM_ROUNDS = 10
_KM_DIM = 64
_KM_SCALE = 1_000_000


def _km_oracle(rounds: int = _KM_ROUNDS, k: int = _KM_K, dim: int = _KM_DIM) -> str:
    """Chained-CTE DuckDB replay of the exact Lloyd trainer (the
    text_bpe_train / k-core materialization pattern): state_r = the
    round-r centroid table; every assignment distance is the SAME
    left-to-right IEEE fold Spark's zip_with+aggregate computes
    (list_reduce has no init element, but 0.0 + d1 == d1 exactly for
    the non-negative squares, so the fold trajectories are equal)."""
    sq = (
        f"list_reduce(list_transform(range(1, {dim + 1}), i -> "
        "(CAST(q.v[i] AS DOUBLE) - c.c[i]) * (CAST(q.v[i] AS DOUBLE) - c.c[i])), "
        "(x, y) -> x + y)"
    )
    parts = [
        f"""WITH q AS MATERIALIZED (
  SELECT vec_id,
         list_transform(range(1, {dim + 1}), i ->
             CAST(ROUND(CAST(embedding[i] AS DOUBLE) * {_KM_SCALE}) AS BIGINT)) AS v
  FROM embeddings
), cent_0 AS MATERIALIZED (
  SELECT CAST(row_number() OVER (ORDER BY h ASC, vec_id ASC) - 1 AS INTEGER) AS cid,
         list_transform(v, x -> CAST(x AS DOUBLE)) AS c
  FROM (SELECT vec_id, v, md5(CAST(vec_id AS VARCHAR)) AS h
        FROM q ORDER BY h ASC, vec_id ASC LIMIT {k})
)"""
    ]
    for r in range(1, rounds + 1):
        p = r - 1
        parts.append(
            f""", a_{r} AS MATERIALIZED (
  SELECT vec_id, v, cid, CAST(FLOOR(dist) AS BIGINT) AS distq
  FROM (
    SELECT vec_id, v, cid, dist,
           row_number() OVER (PARTITION BY vec_id ORDER BY dist ASC, cid ASC) AS rk
    FROM (SELECT q.vec_id, q.v, c.cid, {sq} AS dist
          FROM q CROSS JOIN cent_{p} c)
  ) WHERE rk = 1
), cent_{r} AS MATERIALIZED (
  SELECT p.cid, COALESCE(s.c, p.c) AS c
  FROM cent_{p} p LEFT JOIN (
    SELECT cid, list(mu ORDER BY dim) AS c
    FROM (
      SELECT cid, dim, CAST(SUM(x) AS DOUBLE) / COUNT(*) AS mu
      FROM (SELECT cid, i AS dim, v[i] AS x
            FROM a_{r}, UNNEST(range(1, {dim + 1})) AS u(i))
      GROUP BY cid, dim
    ) GROUP BY cid
  ) s ON p.cid = s.cid
), sse_{r} AS MATERIALIZED (
  SELECT CAST(SUM(distq) AS BIGINT) AS tot FROM a_{r}
)"""
        )
    trace = " || '|' || ".join(
        f"CAST((SELECT tot FROM sse_{r}) AS VARCHAR)" for r in range(1, rounds + 1)
    )
    parts.append(
        f"""
SELECT cid,
       CAST(COUNT(*) AS BIGINT) AS n_vectors,
       ROUND(CAST(SUM(distq) AS DOUBLE) / (1e12 * COUNT(*)), 6) AS mean_inertia,
       {trace} AS sse_trace,
       TRUE AS audit_mllib_sane
FROM a_{rounds}
GROUP BY cid"""
    )
    return "".join(parts)


@register(
    "ml_kmeans_clusters",
    _km_oracle(),
    doc=f"exact-Lloyd k-means (k={_KM_K}, {_KM_ROUNDS} rounds), full oracle + MLlib cost-parity audit",
)
def ml_kmeans_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-means over the embedding corpus, FULL ORACLE (converted from
    rows-only in round 7): the engine runs K=8 × 10 exact Lloyd
    rounds itself — md5-ordered deterministic init, coordinates
    quantized at 1e-6 so per-(cluster, dim) sums are exact BIGINT,
    every centroid coordinate ONE IEEE division, assignment distances
    a left-to-right zip_with/aggregate fold over k literal centers
    (whole-stage codegen, identical trajectory to the oracle's
    list_reduce), per-row SSE floored to BIGINT so the per-cluster
    inertia is an exact order-free integer sum.  The DuckDB oracle
    replays the identical 10 rounds as chained MATERIALIZED CTEs
    (the text_bpe_train pattern), so sizes, inertia, AND the
    per-round SSE trace hash-match; Lloyd monotonicity is now part of
    the oracled data instead of a side boolean.  MLlib's KMeans
    (seed=42, k-means|| init — a different local optimum) is still
    fitted in-query and pinned by ``audit_mllib_sane``: its
    trainingCost and the exact trainer's final SSE must agree within
    2× (measured ~1.0× at both fixture SFs).  Scale: each round is
    ONE job — a scan of the localCheckpoint-ed quantized corpus
    against k·dim = 512 literal doubles (map-side, no shuffle)
    feeding a (k×dim)-row aggregate collect that carries the round's
    exact SSE alongside the sums — the same per-iteration shape
    MLlib's distributed Lloyd shuffles; init is a TakeOrdered top-k,
    never a full sort; lineage is flat by construction (every round
    derives from q + literals, never from the previous round's
    DataFrame), so no per-round checkpoint is needed; bounded-collect
    claim probed at 10× in tools/scale_probe_exactml.py."""
    from pyspark.ml.clustering import KMeans

    from web_attack_detection_spark.ml.pipeline import to_vector

    emb = load_table(spark, sf_dir, "embeddings")
    # NOT parallelize_scan-guarded, deliberately (r10): each Lloyd
    # round is a tiny JVM aggregate over the 2k-row corpus — measured
    # interleaved, 32-way tasks cost MORE than the single-core scan
    # (4.1 s vs 6.4 s); the guard pays only where per-row compute is
    # heavy (numpy forwards, shingle explodes)
    q = emb.select(
        "vec_id",
        F.transform(
            F.col("embedding").cast("array<double>"),
            lambda e: F.round(e * _KM_SCALE).cast("long"),
        ).alias("v"),
    ).localCheckpoint()  # one materialization reused by all rounds

    # deterministic "seeded random" init: the K smallest md5(vec_id)
    seeds = (
        q.select(
            "v", "vec_id", F.md5(F.col("vec_id").cast("string").cast("binary")).alias("h")
        )
        .orderBy(F.col("h").asc(), F.col("vec_id").asc())
        .limit(_KM_K)
        .collect()
    )
    centers: list[list[float]] = [[float(x) for x in r["v"]] for r in seeds]

    # Per-round assignment as ONE SQL string over a temp view of the
    # checkpointed q (the ml_mlp_exact pattern — optimization guide
    # §1.2 step 2): the Column-API build constructed k·dim = 4096
    # py4j-backed literal expressions per round (the measured cost is
    # SF-independent — pure driver latency).  Every CAST('<repr>' AS
    # DOUBLE) constant-folds to the exact double F.lit() embedded, so
    # the optimized plan — and every output bit — is unchanged.
    import uuid as _uuid

    qview = f"km_q_{_uuid.uuid4().hex[:8]}"
    q.createOrReplaceTempView(qview)

    def _dist_sql(center: list[float]) -> str:
        arr = ", ".join(sql_double(c) for c in center)
        return (
            "aggregate(zip_with(transform(v, x -> CAST(x AS DOUBLE)), "
            f"array({arr}), (a, b) -> (a - b) * (a - b)), "
            "0.0D, (acc, x) -> acc + x)"
        )

    def _assigned_sql() -> str:
        structs = ", ".join(
            f"named_struct('dist', {_dist_sql(centers[c])}, 'cid', {c})"
            for c in range(_KM_K)
        )
        return (
            "SELECT vec_id, v, best.cid AS cid,"
            " CAST(FLOOR(best.dist) AS BIGINT) AS distq"
            f" FROM (SELECT vec_id, v, array_min(array({structs})) AS best"
            f" FROM {qview})"
        )

    sse_trace: list[int] = []

    def _lloyd():
        """The 10 serial Lloyd rounds (each depends on the previous
        round's centers)."""
        nonlocal centers
        assigned = None
        for _ in range(_KM_ROUNDS):
            # no per-round localCheckpoint: every round's assignment
            # derives DIRECTLY from the checkpointed q + literal centers
            # (not from the previous round's DataFrame), so lineage is
            # already flat and each round is exactly ONE job — the
            # fit-stats collect below, which also carries the round SSE
            # (distq repeats once per dim row, so sum(distq)/dim is exact)
            assigned = spark.sql(_assigned_sql())
            stats = (
                assigned.select("cid", "distq", F.posexplode("v").alias("d0", "x"))
                .groupBy("cid", "d0")
                .agg(
                    F.sum("x").alias("sv"),
                    F.count(F.lit(1)).alias("n"),
                    F.sum("distq").alias("sd"),
                )
                .collect()
            )
            sse_trace.append(sum(int(r["sd"]) for r in stats) // _KM_DIM)
            nxt: dict[int, list[float]] = {}
            for row in stats:
                nxt.setdefault(row["cid"], [0.0] * _KM_DIM)[row["d0"]] = row["sv"] / row["n"]
            centers = [nxt.get(c, centers[c]) for c in range(_KM_K)]
        return assigned

    def _mllib_audit():
        """MLlib cost-parity audit: a different local optimum of the
        same objective must land within 2x of the exact trainer's SSE.
        Independent of the Lloyd loop (reads emb directly), so the two
        chains overlap (guide §2.6) — same values, interleaved jobs."""
        vdf = to_vector(
            emb.select("vec_id", F.col("embedding").cast("array<double>").alias("e")), "e", "fv"
        )
        return (
            KMeans(k=_KM_K, seed=42, maxIter=_KM_ROUNDS, featuresCol="fv").fit(vdf).summary.trainingCost
        )

    assigned, mllib_cost = overlap(_lloyd, _mllib_audit)
    ours = sse_trace[-1] / float(_KM_SCALE) ** 2
    sane = bool(mllib_cost > 0.0 and 0.5 <= ours / mllib_cost <= 2.0)

    ret = (
        assigned.groupBy("cid")
        .agg(F.count(F.lit(1)).alias("n_vectors"), F.sum("distq").alias("ssed"))
        .select(
            "cid",
            F.col("n_vectors").cast("long").alias("n_vectors"),
            F.round(
                F.col("ssed").cast("double") / (F.lit(1e12) * F.col("n_vectors")), 6
            ).alias("mean_inertia"),
        )
        .withColumn("sse_trace", F.lit("|".join(str(t) for t in sse_trace)))
        .withColumn("audit_mllib_sane", F.lit(sane))
    )
    # the returned plan is fully analyzed (view inlined eagerly at each
    # transformation above), so the temp view can be dropped now
    spark.catalog.dropTempView(qview)
    return ret


def _majority_baseline(train_df, test_df, label_col: str = "event_type") -> float:
    """In-query audit anchor for the rows-only train/eval family
    (round 6, extending the verdict-#3 pattern): the train-majority
    class's share of the TEST rows — the accuracy any fitted model
    must be judged against.  Two tiny aggregates; deterministic
    (count ties break on label value)."""
    maj = (
        train_df.groupBy(label_col)
        .count()
        .orderBy(F.col("count").desc(), label_col)
        .first()[label_col]
    )
    return float(
        test_df.agg(
            F.avg((F.col(label_col) == F.lit(maj)).cast("double"))
        ).first()[0]
    )


# exact-GD logistic regression (VERDICT r7 #3): pinned hyperparameters
# shared literal-for-literal between the engine and the generated oracle
_LRGD_ROUNDS = 8
_LRGD_LR = 0.5  # textual literal "0.5" in the SQL below


def _lrgd_oracle() -> str:
    """Chained replay of the exact-GD binary logreg trajectory: exact
    BIGINT feature moments -> one IEEE division + hardware sqrt per
    standardization constant -> per round, margins with the previous
    round's weights (scalar subqueries), per-row gradient
    contributions ROUND(resid*z*1e6) as BIGINT (order-free exact
    sums), weight update = one division + one multiply-subtract. The
    only transcendental is exp(-m) per row — quantized at 1e-6
    immediately after, the established per-row ln idiom of
    plans/text3.py's bigram scores."""
    parts = [
        """WITH base AS MATERIALIZED (
  SELECT CAST(ROUND(value * 10000) AS BIGINT) AS x1q,
         CAST(user_id % 100 AS BIGINT) AS x2q,
         CAST(event_id % 100 AS BIGINT) AS x3q,
         CASE WHEN event_type IN ('purchase','signup') THEN 1 ELSE 0 END AS y
  FROM events WHERE event_id % 4 != 1
), mo0 AS MATERIALIZED (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         SUM(x1q) AS s1, SUM(x2q) AS s2, SUM(x3q) AS s3,
         SUM(x1q*x1q) AS s11, SUM(x2q*x2q) AS s22, SUM(x3q*x3q) AS s33
  FROM base
), mo1 AS MATERIALIZED (
  SELECT n,
         CAST(s1 AS DOUBLE)/CAST(n AS DOUBLE) AS m1, CAST(s11 AS DOUBLE)/CAST(n AS DOUBLE) AS q1,
         CAST(s2 AS DOUBLE)/CAST(n AS DOUBLE) AS m2, CAST(s22 AS DOUBLE)/CAST(n AS DOUBLE) AS q2,
         CAST(s3 AS DOUBLE)/CAST(n AS DOUBLE) AS m3, CAST(s33 AS DOUBLE)/CAST(n AS DOUBLE) AS q3
  FROM mo0
), mo AS MATERIALIZED (
  SELECT n, m1, sqrt(q1 - m1*m1) AS sd1, m2, sqrt(q2 - m2*m2) AS sd2,
         m3, sqrt(q3 - m3*m3) AS sd3
  FROM mo1
), zrel AS MATERIALIZED (
  SELECT y,
         (CAST(x1q AS DOUBLE) - (SELECT m1 FROM mo)) / (SELECT sd1 FROM mo) AS z1,
         (CAST(x2q AS DOUBLE) - (SELECT m2 FROM mo)) / (SELECT sd2 FROM mo) AS z2,
         (CAST(x3q AS DOUBLE) - (SELECT m3 FROM mo)) / (SELECT sd3 FROM mo) AS z3
  FROM base
), w_0 AS MATERIALIZED (SELECT 0.0 AS b, 0.0 AS w1, 0.0 AS w2, 0.0 AS w3)"""
    ]
    for r in range(1, _LRGD_ROUNDS + 1):
        p = r - 1
        parts.append(
            f""", g_{r} AS MATERIALIZED (
  SELECT CAST(SUM(CAST(ROUND(resid * 1000000.0) AS BIGINT)) AS BIGINT) AS gb,
         CAST(SUM(CAST(ROUND(resid * z1 * 1000000.0) AS BIGINT)) AS BIGINT) AS g1,
         CAST(SUM(CAST(ROUND(resid * z2 * 1000000.0) AS BIGINT)) AS BIGINT) AS g2,
         CAST(SUM(CAST(ROUND(resid * z3 * 1000000.0) AS BIGINT)) AS BIGINT) AS g3,
         CAST(SUM(CASE WHEN (m >= 0.0) = (y = 1) THEN 1 ELSE 0 END) AS BIGINT)
           AS nc
  FROM (
    SELECT y, z1, z2, z3, m, 1.0/(1.0 + exp(-m)) - CAST(y AS DOUBLE) AS resid
    FROM (
      SELECT y, z1, z2, z3,
             (SELECT b FROM w_{p}) + (SELECT w1 FROM w_{p}) * z1
               + (SELECT w2 FROM w_{p}) * z2 + (SELECT w3 FROM w_{p}) * z3 AS m
      FROM zrel
    )
  )
), w_{r} AS MATERIALIZED (
  SELECT (SELECT b FROM w_{p}) - 0.5 * (CAST(gb AS DOUBLE) / (CAST((SELECT n FROM mo) AS DOUBLE) * 1000000.0)) AS b,
         (SELECT w1 FROM w_{p}) - 0.5 * (CAST(g1 AS DOUBLE) / (CAST((SELECT n FROM mo) AS DOUBLE) * 1000000.0)) AS w1,
         (SELECT w2 FROM w_{p}) - 0.5 * (CAST(g2 AS DOUBLE) / (CAST((SELECT n FROM mo) AS DOUBLE) * 1000000.0)) AS w2,
         (SELECT w3 FROM w_{p}) - 0.5 * (CAST(g3 AS DOUBLE) / (CAST((SELECT n FROM mo) AS DOUBLE) * 1000000.0)) AS w3
  FROM g_{r}
)"""
        )
    parts.append(
        "\nSELECT * FROM ("
        + " UNION ALL ".join(
            f"""SELECT CAST({r} AS BIGINT) AS round, gb AS g_bias, g1 AS g_z1,
       g2 AS g_z2, g3 AS g_z3, nc AS n_correct,
       CAST(ROUND((SELECT b FROM w_{r}) * 1000000) AS BIGINT) AS w_bias_q,
       CAST(ROUND((SELECT w1 FROM w_{r}) * 1000000) AS BIGINT) AS w_z1_q,
       CAST(ROUND((SELECT w2 FROM w_{r}) * 1000000) AS BIGINT) AS w_z2_q,
       CAST(ROUND((SELECT w3 FROM w_{r}) * 1000000) AS BIGINT) AS w_z3_q,
       (SELECT n FROM mo) AS n_train,
       TRUE AS audit_mllib_acc_parity FROM g_{r}"""
            for r in range(1, _LRGD_ROUNDS + 1)
        )
        + ") ORDER BY round"
    )
    return "".join(parts)


@register(
    "ml_logreg_train_eval",
    _lrgd_oracle(),
    doc=f"exact-GD binary logistic regression ({_LRGD_ROUNDS} full-batch rounds), "
    "full oracle + MLlib LBFGS accuracy-parity audit",
)
def ml_logreg_train_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Logistic regression trained IN-ENGINE by exact full-batch
    gradient descent, FULL ORACLE (converted from rows-only in round
    8 — the same treatment round 7 gave k-means and PCA): binary
    conversion label (purchase/signup) over three quantized features
    (value at 1e-4, user/event hash buckets), standardized with exact
    BIGINT/DECIMAL moments (one IEEE division + hardware sqrt per
    constant), zero-init weights, {_LRGD_ROUNDS} rounds of w -= lr *
    mean(resid * z) where every per-row gradient contribution is
    ROUND(resid*z*1e6) — an exact order-free BIGINT sum — and each
    weight update is one division + one fused literal expression.
    The DuckDB twin replays the identical trajectory as chained
    MATERIALIZED CTEs with scalar-subquery weights; gradient sums,
    per-round train-accuracy counts AND micro-quantized weights
    hash-match (verified bit-exact at sf0.001/0.01/0.1).  The only
    per-row transcendental is exp(-m), quantized at 1e-6 immediately
    after — the per-row ln idiom plans/text3.py established.

    MLlib's LogisticRegression (L-BFGS, maxIter=30) still fits
    in-query on the SAME standardized features and binary label:
    ``audit_mllib_acc_parity`` pins |LBFGS train accuracy - exact-GD
    final train accuracy| <= 0.1 (a convex problem: both optimizers
    approach the same optimum; GD gets {_LRGD_ROUNDS} rounds, LBFGS
    converges — measured gap <= 0.02 at fixture SFs).

    Scale: each round is ONE map-side scan of the localCheckpoint-ed
    standardized relation feeding a 5-value aggregate collect
    (bounded-collect, the ml_kmeans_clusters pattern); no shuffle
    inside the loop; Spark's long sums hold to ~1e11 rows at these
    magnitudes (the moments already aggregate in DECIMAL(38,0))."""
    from pyspark.ml.classification import LogisticRegression

    from web_attack_detection_spark.ml.pipeline import to_vector

    stdz = fit_stdz(spark, sf_dir)
    n = stdz.n
    # one materialization reused by all rounds + the audit
    z = checkpoint_train_z(spark, stdz)

    w = [0.0, 0.0, 0.0, 0.0]  # bias, w1, w2, w3 — zero init (round 1 is exp-free)
    n6 = float(n) * 1000000.0
    rows = []
    for r in range(1, _LRGD_ROUNDS + 1):
        m = (
            F.lit(w[0])
            + F.lit(w[1]) * F.col("z1")
            + F.lit(w[2]) * F.col("z2")
            + F.lit(w[3]) * F.col("z3")
        )
        p = F.lit(1.0) / (F.lit(1.0) + F.exp(-m))
        resid = p - F.col("y").cast("double")
        g = z.agg(
            F.sum(F.round(resid * F.lit(1000000.0)).cast("long")).alias("gb"),
            *[
                F.sum(
                    F.round(resid * F.col(f"z{i}") * F.lit(1000000.0)).cast("long")
                ).alias(f"g{i}")
                for i in (1, 2, 3)
            ],
            F.sum(
                ((m >= F.lit(0.0)) == (F.col("y") == F.lit(1))).cast("long")
            ).alias("nc"),
        ).first()
        grads = [int(g["gb"]), int(g["g1"]), int(g["g2"]), int(g["g3"])]
        for d in range(4):
            w[d] = w[d] - _LRGD_LR * (float(grads[d]) / n6)
        rows.append(
            (
                r,
                *grads,
                int(g["nc"]),
                *[_lrgd_round_half_away(w[d] * 1000000) for d in range(4)],
                n,
            )
        )

    # MLlib accuracy-parity audit: LBFGS on the same features/label.
    # Rebuilt from the quantized train rows (a plain columnar plan)
    # rather than the checkpointed z: MLlib transform over an RDD-backed scan trips a
    # Spark 4.1 closure-cleaning quirk (ObservationManager capture)
    # when other sessions' fits ran earlier in the process.
    acc_exact = rows[-1][5] / float(n)
    z_audit = stdz.z(stdz.train)
    vec = to_vector(
        z_audit.select(
            F.array("z1", "z2", "z3").alias("feat"),
            F.col("y").cast("double").alias("label"),
        ),
        "feat",
        "fv",
    ).cache()
    try:
        model = LogisticRegression(
            featuresCol="fv", labelCol="label", maxIter=30, regParam=0.01
        ).fit(vec)
        # score via the fitted coefficients (the ml_logreg_transpiled
        # serving pattern) — model.transform's closure drags the whole
        # session (ObservationManager) into task serialization on
        # Spark 4.1 when the binary model carries its summary
        c = [float(x) for x in model.coefficients.toArray()]
        mll_m = (
            F.lit(float(model.intercept))
            + F.lit(c[0]) * F.col("z1")
            + F.lit(c[1]) * F.col("z2")
            + F.lit(c[2]) * F.col("z3")
        )
        acc_mllib = z_audit.agg(
            F.avg(((mll_m >= F.lit(0.0)) == (F.col("y") == F.lit(1))).cast("double"))
        ).first()[0]
    finally:
        vec.unpersist()
    parity = bool(abs(float(acc_mllib) - acc_exact) <= 0.1)

    return spark.createDataFrame(
        [(*row, parity) for row in rows],
        "round long, g_bias long, g_z1 long, g_z2 long, g_z3 long,"
        " n_correct long, w_bias_q long, w_z1_q long, w_z2_q long,"
        " w_z3_q long, n_train long, audit_mllib_acc_parity boolean",
    ).orderBy("round")


# exact-GD one-hidden-layer MLP (VERDICT r8 #1): the trainer-conversion
# capstone — composes ml_logreg_train_eval's exact-GD trajectory (BIGINT
# gradient sums, one IEEE division per update, chained MATERIALIZED
# CTEs) with the integer clamp nonlinearity of the served nets
# (plans/deepq.py: hard-tanh as GREATEST/LEAST — no per-hidden-unit
# transcendental, so the hidden layer mirrors bit-exactly).
_MLPX_ROUNDS = 6
_MLPX_LR = 0.5  # textual literal "0.5" in the SQL below
_MLPX_H = 8


def _mlpx_init():
    """Pinned asymmetric init, exact sixteenths (binary-representable;
    ``repr`` round-trips them into DuckDB literals bit-identically):
    hidden row j walks a mod-13 lattice, output weights alternate sign
    with growing magnitude.  Zero init would freeze the net — symmetric
    hidden units receive identical gradients forever — so asymmetry is
    load-bearing, not cosmetic."""
    W = [
        [((3 * j + 5 * i + 1) % 13 - 6) / 16.0 for i in range(4)]
        for j in range(1, _MLPX_H + 1)
    ]
    V = [0.0] + [
        ((j % 2) * 2 - 1) * (j + 1) / 16.0 for j in range(1, _MLPX_H + 1)
    ]
    return W, V


# Adam hyperparameters — the reference's actual optimizer and values
# (mlp_model.py:10-15: Adam lr=1e-3; Keras defaults beta1=0.9,
# beta2=0.999, epsilon=1e-7).  Every literal below is shared
# textually between the engine and the generated SQL.
_MLPX_ADAM_LR = 0.001
_MLPX_B1 = 0.9
_MLPX_B2 = 0.999
_MLPX_EPS = 1e-07


def _mlpx_param_names() -> list:
    """The 41 parameter column names in update order: hidden weights
    w{j}_{i} (j unit, i 0=bias), then head vb, v{j}."""
    H = _MLPX_H
    names = [f"w{j}_{i}" for j in range(1, H + 1) for i in range(4)]
    return names + ["vb"] + [f"v{j}" for j in range(1, H + 1)]


# Shared standardization preamble (one textual source for every
# exact-trainer oracle: ml_mlp_exact / ml_mlp_adam_exact here, the
# stream-serving tail in plans/streamq, and ml_rnn_exact in
# plans/rnnx): quantized features, exact BIGINT moments, one IEEE
# division + hardware sqrt per standardization constant, train/test
# split on event_id % 4.
STDZ_BASE_CTES = """WITH base0 AS MATERIALIZED (
  SELECT CAST(ROUND(value * 10000) AS BIGINT) AS x1q,
         CAST(user_id % 100 AS BIGINT) AS x2q,
         CAST(event_id % 100 AS BIGINT) AS x3q,
         CASE WHEN event_type IN ('purchase','signup') THEN 1 ELSE 0 END AS y,
         CASE WHEN event_id % 4 = 1 THEN 1 ELSE 0 END AS istest
  FROM events
), base AS MATERIALIZED (SELECT * FROM base0 WHERE istest = 0
), mo0 AS MATERIALIZED (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         SUM(x1q) AS s1, SUM(x2q) AS s2, SUM(x3q) AS s3,
         SUM(x1q*x1q) AS s11, SUM(x2q*x2q) AS s22, SUM(x3q*x3q) AS s33
  FROM base
), mo1 AS MATERIALIZED (
  SELECT n,
         CAST(s1 AS DOUBLE)/CAST(n AS DOUBLE) AS m1, CAST(s11 AS DOUBLE)/CAST(n AS DOUBLE) AS q1,
         CAST(s2 AS DOUBLE)/CAST(n AS DOUBLE) AS m2, CAST(s22 AS DOUBLE)/CAST(n AS DOUBLE) AS q2,
         CAST(s3 AS DOUBLE)/CAST(n AS DOUBLE) AS m3, CAST(s33 AS DOUBLE)/CAST(n AS DOUBLE) AS q3
  FROM mo0
), mo AS MATERIALIZED (
  SELECT n, m1, sqrt(q1 - m1*m1) AS sd1, m2, sqrt(q2 - m2*m2) AS sd2,
         m3, sqrt(q3 - m3*m3) AS sd3
  FROM mo1
), zrel AS MATERIALIZED (
  SELECT y,
         (CAST(x1q AS DOUBLE) - (SELECT m1 FROM mo)) / (SELECT sd1 FROM mo) AS z1,
         (CAST(x2q AS DOUBLE) - (SELECT m2 FROM mo)) / (SELECT sd2 FROM mo) AS z2,
         (CAST(x3q AS DOUBLE) - (SELECT m3 FROM mo)) / (SELECT sd3 FROM mo) AS z3
  FROM base
), ztest AS MATERIALIZED (
  SELECT y,
         (CAST(x1q AS DOUBLE) - (SELECT m1 FROM mo)) / (SELECT sd1 FROM mo) AS z1,
         (CAST(x2q AS DOUBLE) - (SELECT m2 FROM mo)) / (SELECT sd2 FROM mo) AS z2,
         (CAST(x3q AS DOUBLE) - (SELECT m3 FROM mo)) / (SELECT sd3 FROM mo) AS z3
  FROM base0 WHERE istest = 1
)"""


# Shared textual forward-pass builders (ADVICE r9 #4): both the
# training replay below AND plans/streamq._stream_mlpx_oracle's
# score-all tail emit the SAME pre/h/m SQL through these three
# functions, so a change to the forward-pass expressions cannot
# silently desync the stream oracle from the training oracle.
def _mlpx_pre_sql(j: int, wsrc: str) -> str:
    """Hidden pre-activation for unit j with weights read from CTE
    ``wsrc`` via scalar subqueries."""
    return (
        f"(SELECT w{j}_0 FROM {wsrc}) + (SELECT w{j}_1 FROM {wsrc}) * z1"
        f" + (SELECT w{j}_2 FROM {wsrc}) * z2"
        f" + (SELECT w{j}_3 FROM {wsrc}) * z3"
    )


def _mlpx_h_sql(j: int) -> str:
    """Hard-tanh clamp of pre{j} — the exact, transcendental-free
    hidden activation."""
    return f"GREATEST(LEAST(pre{j}, 1.0), -1.0) AS h{j}"


def _mlpx_m_sql(wsrc: str) -> str:
    """Output margin from CTE ``wsrc``'s head weights over h1..hH."""
    return f"(SELECT vb FROM {wsrc})" + "".join(
        f" + (SELECT v{j} FROM {wsrc}) * h{j}" for j in range(1, _MLPX_H + 1)
    )


def _mlpx_cte_parts(optimizer: str = "gd") -> list:
    """The chained-CTE replay of the exact 3->8->1(sigmoid) training
    trajectory, as a parts list WITHOUT the final SELECT — shared by
    _mlpx_oracle (which appends the tidy-relation UNION) and the
    stream-scoring oracle in plans/streamq (which appends a
    score-all-events windowed aggregation over w_{ROUNDS}).

    Per round: hidden pre-activations from the previous round's
    weights (scalar subqueries over one-row MATERIALIZED CTEs),
    hard-tanh via GREATEST/LEAST, one sigmoid residual per row (the
    only transcendental — the established exp(-m) idiom), backprop
    gates as CASE WHEN abs(pre) < 1.0 (exact float comparisons on
    bit-identical inputs), every per-row gradient contribution
    ROUND(...*1e6) summed as BIGINT (order-free exact).

    optimizer='gd': each of the 41 weight updates is one division +
    one multiply-subtract (ml_mlp_exact).  optimizer='adam': the
    reference's Adam — per parameter the first/second moment EMAs and
    the bias-corrected step are a fixed chain of driver-side scalar
    IEEE ops (3 multiplies, 2 adds, 2 divisions, one hardware sqrt),
    mirrored textually; bias corrections 1-beta^t are Python-computed
    literals injected by repr on BOTH sides (no POWER() in SQL)."""
    adam = optimizer == "adam"
    W0, V0 = _mlpx_init()
    H, R, LR = _MLPX_H, _MLPX_ROUNDS, "0.5"
    pnames = _mlpx_param_names()
    w0_cols = []
    for j in range(1, H + 1):
        for i in range(4):
            w0_cols.append(f"{W0[j - 1][i]!r} AS w{j}_{i}")
    w0_cols.append(f"{V0[0]!r} AS vb")
    for j in range(1, H + 1):
        w0_cols.append(f"{V0[j]!r} AS v{j}")
    if adam:
        w0_cols += [f"0.0 AS ma_{p}" for p in pnames]
        w0_cols += [f"0.0 AS va_{p}" for p in pnames]
    w0_body = ", ".join(w0_cols)
    parts = [
        f"""{STDZ_BASE_CTES}, w_0 AS MATERIALIZED (SELECT {w0_body})"""
    ]

    def pre_sql(j: int, p) -> str:
        return _mlpx_pre_sql(j, f"w_{p}")

    def m_sql(p) -> str:
        return _mlpx_m_sql(f"w_{p}")

    hs = ",\n         ".join(_mlpx_h_sql(j) for j in range(1, H + 1))
    for r in range(1, R + 1):
        p = r - 1
        pres = ",\n           ".join(
            f"{pre_sql(j, p)} AS pre{j}" for j in range(1, H + 1)
        )
        pre_names = ", ".join(f"pre{j}" for j in range(1, H + 1))
        g_cols = [
            "CAST(SUM(CAST(ROUND(resid * 1000000.0) AS BIGINT)) AS BIGINT) AS gvb"
        ]
        for j in range(1, H + 1):
            g_cols.append(
                f"CAST(SUM(CAST(ROUND(resid * h{j} * 1000000.0) AS BIGINT)) AS BIGINT) AS gv{j}"
            )
        for j in range(1, H + 1):
            dh = (
                f"(CASE WHEN abs(pre{j}) < 1.0 THEN resid * (SELECT v{j} FROM w_{p})"
                " ELSE 0.0 END)"
            )
            g_cols.append(
                f"CAST(SUM(CAST(ROUND({dh} * 1000000.0) AS BIGINT)) AS BIGINT) AS gw{j}_0"
            )
            for i in (1, 2, 3):
                g_cols.append(
                    f"CAST(SUM(CAST(ROUND({dh} * z{i} * 1000000.0) AS BIGINT)) AS BIGINT) AS gw{j}_{i}"
                )
        g_cols.append(
            "CAST(SUM(CASE WHEN (m >= 0.0) = (y = 1) THEN 1 ELSE 0 END) AS BIGINT) AS nc"
        )
        g_body = ",\n         ".join(g_cols)

        def gname_of(p_: str) -> str:
            return "gvb" if p_ == "vb" else (
                f"g{p_}" if p_.startswith("v") else f"g{p_}"
            )

        gd_cte = ""
        if not adam:

            def upd(wname: str, gname: str) -> str:
                return (
                    f"(SELECT {wname} FROM w_{p}) - {LR} * (CAST({gname} AS DOUBLE)"
                    f" / (CAST((SELECT n FROM mo) AS DOUBLE) * 1000000.0)) AS {wname}"
                )

            w_cols = []
            for j in range(1, H + 1):
                for i in range(4):
                    w_cols.append(upd(f"w{j}_{i}", f"gw{j}_{i}"))
            w_cols.append(upd("vb", "gvb"))
            for j in range(1, H + 1):
                w_cols.append(upd(f"v{j}", f"gv{j}"))
        else:
            # normalized mean gradients once per round (mirrors the
            # driver computing g = float(gsum)/n6 once per parameter)
            gd_cols = ",\n         ".join(
                f"CAST({gname_of(pn)} AS DOUBLE)"
                f" / (CAST((SELECT n FROM mo) AS DOUBLE) * 1000000.0) AS d_{pn}"
                for pn in pnames
            )
            gd_cte = f""", gd_{r} AS MATERIALIZED (
  SELECT {gd_cols}
  FROM g_{r}
)"""
            bc1 = 1.0 - _MLPX_B1**r
            bc2 = 1.0 - _MLPX_B2**r
            w_cols = []
            for pn in pnames:
                ma = (
                    f"0.9 * (SELECT ma_{pn} FROM w_{p})"
                    f" + (1.0 - 0.9) * (SELECT d_{pn} FROM gd_{r})"
                )
                va = (
                    f"0.999 * (SELECT va_{pn} FROM w_{p})"
                    f" + (1.0 - 0.999) * ((SELECT d_{pn} FROM gd_{r})"
                    f" * (SELECT d_{pn} FROM gd_{r}))"
                )
                w_cols.append(f"{ma} AS ma_{pn}")
                w_cols.append(f"{va} AS va_{pn}")
                w_cols.append(
                    f"(SELECT {pn} FROM w_{p}) - 0.001 * ((({ma}) / {bc1!r})"
                    f" / (sqrt(({va}) / {bc2!r}) + 1e-07)) AS {pn}"
                )
        w_body = ",\n         ".join(w_cols)
        w_src = f"gd_{r}" if adam else f"g_{r}"
        parts.append(
            f""", a_{r} AS MATERIALIZED (
  SELECT y, z1, z2, z3, {pre_names},
         {hs}
  FROM (
    SELECT y, z1, z2, z3,
           {pres}
    FROM zrel
  )
), b_{r} AS MATERIALIZED (
  SELECT *, 1.0/(1.0 + exp(-m)) - CAST(y AS DOUBLE) AS resid
  FROM (SELECT *, {m_sql(p)} AS m FROM a_{r})
), g_{r} AS MATERIALIZED (
  SELECT {g_body}
  FROM b_{r}
){gd_cte}, w_{r} AS MATERIALIZED (
  SELECT {w_body}
  FROM {w_src}
)"""
        )
    prest = ",\n           ".join(
        f"{pre_sql(j, R)} AS pre{j}" for j in range(1, H + 1)
    )
    parts.append(
        f""", at_f AS MATERIALIZED (
  SELECT y,
         {hs}
  FROM (
    SELECT y,
           {prest}
    FROM ztest
  )
), cm AS MATERIALIZED (
  SELECT CAST(y AS BIGINT) AS unit,
         CAST(CASE WHEN m >= 0.0 THEN 1 ELSE 0 END AS BIGINT) AS pidx,
         CAST(COUNT(*) AS BIGINT) AS grad_q
  FROM (SELECT y, {m_sql(R)} AS m FROM at_f) GROUP BY 1, 2
)"""
    )
    return parts


def _mlpx_oracle(optimizer: str = "gd") -> str:
    """_mlpx_cte_parts plus the tidy-relation final SELECT: one row
    per (round, layer, unit, param); 'acc' rows carry per-round train
    n_correct/n_train and 'cm' rows the final held-out confusion; the
    adam variant adds quantized moment columns m_q (1e9) / v_q
    (1e12)."""
    adam = optimizer == "adam"
    H, R = _MLPX_H, _MLPX_ROUNDS
    parts = _mlpx_cte_parts(optimizer)

    def mv_cols(pn: str, r: int) -> str:
        if not adam:
            return ""
        return (
            f", CAST(ROUND((SELECT ma_{pn} FROM w_{r}) * 1000000000) AS BIGINT) AS m_q"
            f", CAST(ROUND((SELECT va_{pn} FROM w_{r}) * 1000000000000) AS BIGINT) AS v_q"
        )

    zeros_mv = ", CAST(0 AS BIGINT), CAST(0 AS BIGINT)" if adam else ""
    branches = []
    for r in range(1, R + 1):
        for j in range(1, H + 1):
            for i in range(4):
                branches.append(
                    f"SELECT CAST({r} AS BIGINT) AS round, 'hidden' AS layer,"
                    f" CAST({j} AS BIGINT) AS unit, CAST({i} AS BIGINT) AS pidx,"
                    f" (SELECT gw{j}_{i} FROM g_{r}) AS grad_q,"
                    f" CAST(ROUND((SELECT w{j}_{i} FROM w_{r}) * 1000000) AS BIGINT) AS w_q"
                    f"{mv_cols(f'w{j}_{i}', r)}"
                )
        branches.append(
            f"SELECT CAST({r} AS BIGINT), 'out', CAST(0 AS BIGINT), CAST(0 AS BIGINT),"
            f" (SELECT gvb FROM g_{r}),"
            f" CAST(ROUND((SELECT vb FROM w_{r}) * 1000000) AS BIGINT)"
            f"{mv_cols('vb', r)}"
        )
        for j in range(1, H + 1):
            branches.append(
                f"SELECT CAST({r} AS BIGINT), 'out', CAST(0 AS BIGINT), CAST({j} AS BIGINT),"
                f" (SELECT gv{j} FROM g_{r}),"
                f" CAST(ROUND((SELECT v{j} FROM w_{r}) * 1000000) AS BIGINT)"
                f"{mv_cols(f'v{j}', r)}"
            )
        branches.append(
            f"SELECT CAST({r} AS BIGINT), 'acc', CAST(0 AS BIGINT), CAST(0 AS BIGINT),"
            f" (SELECT nc FROM g_{r}), (SELECT n FROM mo){zeros_mv}"
        )
    branches.append(
        f"SELECT CAST({R} AS BIGINT), 'cm', unit, pidx, grad_q,"
        f" CAST(0 AS BIGINT){zeros_mv} FROM cm"
    )
    parts.append(
        "\nSELECT * FROM ("
        + "\nUNION ALL ".join(branches)
        + ") ORDER BY round, layer, unit, pidx"
    )
    return "".join(parts)


def _mlpx_params() -> list:
    """(name, initial value, tidy address) per parameter: the 8x4
    'hidden' weights w{j}_{i} (i 0 = bias), then the 'out' head."""
    W, V = _mlpx_init()
    return [
        (f"w{j}_{i}", W[j - 1][i], ("hidden", j, i))
        for j in range(1, _MLPX_H + 1)
        for i in range(4)
    ] + head_params(V)


def _mlpx_forward(w: dict) -> tuple:
    """Hidden pre-activations and their hard-tanh clamps, then the
    sigmoid-head margin over h1..hH."""
    H, d = _MLPX_H, sql_double
    pres = [
        f"{d(w[f'w{j}_0'])} + {d(w[f'w{j}_1'])} * z1"
        f" + {d(w[f'w{j}_2'])} * z2 + {d(w[f'w{j}_3'])} * z3 AS pre{j}"
        for j in range(1, H + 1)
    ]
    hs = [f"{hardtanh_sql(f'pre{j}')} AS h{j}" for j in range(1, H + 1)]
    return [pres, hs], margin_sql(w, [f"h{j}" for j in range(1, H + 1)])


def _mlpx_gradient(w: dict) -> tuple:
    """Backprop through the hard-tanh gate abs(pre) < 1 — no extra
    layer, each hidden delta is inlined into its four sums."""
    H = _MLPX_H
    grads = head_grads([f"h{j}" for j in range(1, H + 1)])
    for j in range(1, H + 1):
        dh = (
            f"(CASE WHEN ABS(pre{j}) < 1.0D THEN resid * {sql_double(w[f'v{j}'])}"
            " ELSE 0.0D END)"
        )
        grads[f"w{j}_0"] = dh
        for i in (1, 2, 3):
            grads[f"w{j}_{i}"] = f"{dh} * z{i}"
    return [], grads


def _mlpx_adam_step(r: int, w: float, m: float, v: float) -> float:
    """The Adam paper's Algorithm-1 step: both moments bias-corrected,
    epsilon added to the corrected sqrt(v)."""
    return w - 0.001 * (
        (m / (1.0 - _MLPX_B1**r)) / (math.sqrt(v / (1.0 - _MLPX_B2**r)) + 1e-07)
    )


MLPX = ExactArch(
    "mlpx", _MLPX_ROUNDS, _MLPX_LR, _mlpx_params, _mlpx_forward, _mlpx_gradient,
    _mlpx_adam_step,
)


@register(
    "ml_mlp_exact",
    _mlpx_oracle(),
    doc=f"exact-GD one-hidden-layer MLP (3->{_MLPX_H}->1 sigmoid, hard-tanh "
    f"hidden clamp, {_MLPX_ROUNDS} full-batch rounds), full oracle incl. "
    "held-out confusion",
)
def ml_mlp_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-hidden-layer neural classifier trained IN-ENGINE by exact
    full-batch gradient descent, FULL ORACLE — the capstone of the
    trainer-conversion program (VERDICT r8 #1): a REDUCED analogue of
    the reference's MLP (mlp_model.py:17-34 is a 256/128/64 ReLU net
    with dropout and softmax; this is 3->8->1 with a hard-tanh hidden
    clamp and a sigmoid head, the binary specialization of the
    softmax).  The reduction is what makes bit-exact replay possible;
    the full-size protocol twin (plans/deepq ml_mlp_train_dist) keeps
    the reference's architecture rows-only.

    Exactness: hard-tanh = GREATEST(LEAST(pre, 1), -1), its backprop
    gate the exact float comparison abs(pre) < 1; per-row gradient
    contributions ROUND(.. * 1e6) summed order-free as BIGINT; weight
    updates one IEEE division each; the sigmoid residual the only
    per-row transcendental (plans/exactx has the shared loop).  The
    DuckDB twin replays all rounds as chained MATERIALIZED CTEs;
    gradient sums, micro-quantized weights (41 parameters/round),
    per-round train-accuracy counts AND the final held-out confusion
    all hash-match.

    Output: tidy (round, layer, unit, pidx, grad_q, w_q) — 'hidden'
    rows are the 8x4 first-layer params, 'out' the 9 head params,
    'acc' per-round (n_correct, n_train), 'cm' the test-split
    confusion (label, prediction, count)."""
    return exact_tidy(spark, MLPX, fit_exact(spark, sf_dir, MLPX))


@register(
    "ml_mlp_adam_exact",
    _mlpx_oracle("adam"),
    doc=f"exact-Adam one-hidden-layer MLP (reference optimizer lr=1e-3, "
    f"beta1=0.9, beta2=0.999, eps=1e-7; {_MLPX_ROUNDS} full-batch rounds), "
    "full oracle incl. moment EMAs + held-out confusion",
)
def ml_mlp_adam_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SAME 3->8->1 hard-tanh
    net trained with the reference's optimizer hyperparameters
    (mlp_model.py:10-15: Adam lr=1e-3, Keras-default beta1=0.9 /
    beta2=0.999 / eps=1e-7) in the Adam paper's Algorithm-1
    formulation (epsilon added to sqrt(v/bc2); Keras folds epsilon
    into the uncorrected sqrt(v) via lr_t rescaling — slightly
    different trajectories, same fixed points).  Adam's per-parameter
    state
    (first/second moment EMAs, bias corrections) is a chain of
    driver-side scalar IEEE operations, so the full optimizer mirrors
    bit-exactly in the DuckDB replay: the output carries, per round
    and parameter, the BIGINT gradient sum, the 1e6-quantized weight,
    AND the 1e9/1e12-quantized moments — every piece of Adam state is
    value-checked, not just the final weights.  Bias corrections
    1-beta^t are Python-computed literals injected by repr on both
    sides (no POWER() parity risk).  Scale: identical to ml_mlp_exact
    — the optimizer is O(params) driver math; per round still ONE
    map-side aggregate scan."""
    return exact_tidy(spark, MLPX, fit_exact(spark, sf_dir, MLPX, "adam"))


_NB_CLASSES = ["click", "error", "purchase", "signup", "view"]

_NB_LABEL_SQL = (
    "CASE "
    + " ".join(
        f"WHEN event_type = '{c}' THEN {k}" for k, c in enumerate(_NB_CLASSES)
    )
    + " END"
)

_NB_ORACLE = f"""
WITH lab AS (
  SELECT event_id, user_id,
         CAST(floor(value * 10000) AS BIGINT) AS x3,
         {_NB_LABEL_SQL} AS y
  FROM events
),
tr AS (SELECT * FROM lab WHERE event_id % 4 != 1),
te AS (SELECT * FROM lab WHERE event_id % 4 = 1),
st AS (
  SELECT y, CAST(COUNT(*) AS BIGINT) AS nk,
         SUM(CAST(event_id AS HUGEINT)) AS s1,
         SUM(CAST(event_id * event_id AS HUGEINT)) AS q1,
         SUM(CAST(user_id AS HUGEINT)) AS s2,
         SUM(CAST(user_id * user_id AS HUGEINT)) AS q2,
         SUM(CAST(x3 AS HUGEINT)) AS s3,
         SUM(CAST(x3 * x3 AS HUGEINT)) AS q3
  FROM tr GROUP BY y
),
tot AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         SUM(CAST(event_id AS HUGEINT)) AS sa1,
         SUM(CAST(event_id * event_id AS HUGEINT)) AS qa1,
         SUM(CAST(user_id AS HUGEINT)) AS sa2,
         SUM(CAST(user_id * user_id AS HUGEINT)) AS qa2,
         SUM(CAST(x3 AS HUGEINT)) AS sa3,
         SUM(CAST(x3 * x3 AS HUGEINT)) AS qa3
  FROM tr
),
epsv AS (
  SELECT n,
         1e-9 * GREATEST(
           CAST(n * qa1 - sa1 * sa1 AS DOUBLE) / (CAST(n AS DOUBLE) * n),
           CAST(n * qa2 - sa2 * sa2 AS DOUBLE) / (CAST(n AS DOUBLE) * n),
           CAST(n * qa3 - sa3 * sa3 AS DOUBLE) / (CAST(n AS DOUBLE) * n)
         ) AS e
  FROM tot
),
par AS (
  SELECT y, nk,
         CAST(s1 AS DOUBLE) / nk AS mu1,
         CAST(nk * q1 - s1 * s1 AS DOUBLE) / (CAST(nk AS DOUBLE) * nk) + e AS v1,
         CAST(s2 AS DOUBLE) / nk AS mu2,
         CAST(nk * q2 - s2 * s2 AS DOUBLE) / (CAST(nk AS DOUBLE) * nk) + e AS v2,
         CAST(s3 AS DOUBLE) / nk AS mu3,
         CAST(nk * q3 - s3 * s3 AS DOUBLE) / (CAST(nk AS DOUBLE) * nk) + e AS v3,
         n
  FROM st, epsv
),
cst AS (
  SELECT y, mu1, v1, mu2, v2, mu3, v3,
         ln(CAST(nk AS DOUBLE) / n) - 0.5 * (ln(v1) + ln(v2) + ln(v3)) AS c0
  FROM par
),
sc AS (
  SELECT te.event_id AS rid, te.y AS ytrue, c.y AS k,
         c.c0 - ((te.event_id - c.mu1) * (te.event_id - c.mu1) / (2 * c.v1)
               + (te.user_id - c.mu2) * (te.user_id - c.mu2) / (2 * c.v2)
               + (te.x3 - c.mu3) * (te.x3 - c.mu3) / (2 * c.v3)) AS margin
  FROM te CROSS JOIN cst c
),
pr AS (
  SELECT rid, ytrue, k,
         ROW_NUMBER() OVER (PARTITION BY rid ORDER BY margin DESC, k ASC) AS rn
  FROM sc
),
maj AS (
  SELECT y AS my FROM (
    SELECT y, COUNT(*) AS c FROM tr GROUP BY y ORDER BY c DESC, y ASC LIMIT 1
  )
),
agg AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_test,
         SUM(CASE WHEN k = ytrue THEN 1 ELSE 0 END) AS ncorr,
         SUM(CASE WHEN ytrue = (SELECT my FROM maj) THEN 1 ELSE 0 END) AS nbase
  FROM pr WHERE rn = 1
)
SELECT ROUND(ncorr / (1.0 * n_test), 6) AS accuracy,
       ROUND(nbase / (1.0 * n_test), 6) AS baseline_accuracy,
       (SELECT n FROM tot) AS n_train,
       n_test,
       TRUE AS mllib_agree
FROM agg
"""


@register(
    "ml_naive_bayes_train_eval",
    _NB_ORACLE,
    doc="Gaussian Naive Bayes train/eval, FULL oracle (exact-moment fit, transpiled scoring) + MLlib parity audit",
)
def ml_naive_bayes_train_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaussian NB on the battery split — FULLY oracle-checked since
    round 7 (the 4th rows-only conversion; VERDICT r6 #5 pattern).

    The fit is ONE aggregation pass — per-class counts and first/second
    moments over integer-exact features (event_id, user_id,
    floor(value*1e4)), summed in DECIMAL(38,0)/HUGEINT so both engines
    hold the identical exact integers; every mean/variance is then ONE
    double conversion+division (bit-identical across engines), with
    MLlib's own smoothing (sigma += 1e-9 * max whole-train feature
    variance — probed to match MLlib's GaussianNaiveBayes exactly,
    theta/sigma diff ~1e-16/absorbed by eps). Scoring is TRANSPILED:
    the driver folds the exact collected moments into python-float
    class constants and literal Catalyst expressions (the
    ml_logreg_transpiled serving story; margins drop MLlib's omitted
    2*pi constant, verified irrelevant to argmax), so at 100 TB
    training costs one scan and scoring is a codegen projection.
    The oracle replays the identical arithmetic shape (same division
    order, same first-max tie rule via ROW_NUMBER margin DESC / class
    ASC). MLlib's GaussianNB is STILL fitted in-query on the same
    features and must agree with the transpiled argmax on every test
    row (``mllib_agree`` — the oracle asserts TRUE)."""
    import math

    from pyspark.ml.classification import NaiveBayes
    from pyspark.ml.functions import array_to_vector

    events = load_table(spark, sf_dir, "events").drop("props", "ts")
    lbl = F.coalesce(
        *[
            F.when(F.col("event_type") == c, F.lit(k))
            for k, c in enumerate(_NB_CLASSES)
        ]
    )
    lab = events.select(
        "event_id",
        "user_id",
        F.floor(F.col("value") * 10000).cast("long").alias("x3"),
        lbl.alias("y"),
    )
    tr = lab.filter(F.col("event_id") % 4 != 1).cache()
    te = lab.filter(F.col("event_id") % 4 == 1)

    dec = "decimal(38,0)"
    aggs = []
    for c in ("event_id", "user_id", "x3"):
        aggs.append(F.sum(F.col(c).cast(dec)).alias(f"s_{c}"))
        aggs.append(F.sum((F.col(c) * F.col(c)).cast(dec)).alias(f"q_{c}"))
    st = {r["y"]: r for r in tr.groupBy("y").agg(F.count(F.lit(1)).alias("nk"), *aggs).collect()}
    ta = tr.agg(F.count(F.lit(1)).alias("n"), *aggs).first()
    n = int(ta["n"])

    def popvar(nn: int, s, q) -> float:
        # exact ints -> ONE double conversion + one division, the same
        # shape as the oracle's CAST(.. AS DOUBLE) / (CAST(n)::D * n)
        return float(nn * int(q) - int(s) * int(s)) / (float(nn) * nn)

    eps = 1e-9 * max(
        popvar(n, ta["s_event_id"], ta["q_event_id"]),
        popvar(n, ta["s_user_id"], ta["q_user_id"]),
        popvar(n, ta["s_x3"], ta["q_x3"]),
    )
    params = {}
    for k in range(len(_NB_CLASSES)):
        r = st[k]
        nk = int(r["nk"])
        mus, vs = [], []
        for c in ("event_id", "user_id", "x3"):
            mus.append(float(int(r[f"s_{c}"])) / nk)
            vs.append(popvar(nk, r[f"s_{c}"], r[f"q_{c}"]) + eps)
        c0 = math.log(float(nk) / n) - 0.5 * (
            math.log(vs[0]) + math.log(vs[1]) + math.log(vs[2])
        )
        params[k] = (mus, vs, c0)

    feats = [F.col("event_id"), F.col("user_id"), F.col("x3")]
    margins = F.array(
        *[
            F.lit(params[k][2])
            - sum(
                [
                    (x - F.lit(params[k][0][j]))
                    * (x - F.lit(params[k][0][j]))
                    / F.lit(2 * params[k][1][j])
                    for j, x in enumerate(feats)
                ][1:],
                (feats[0] - F.lit(params[k][0][0]))
                * (feats[0] - F.lit(params[k][0][0]))
                / F.lit(2 * params[k][1][0]),
            )
            for k in range(len(_NB_CLASSES))
        ]
    )
    pred = (F.array_position(margins, F.array_max(margins)) - 1).cast("int")

    # MLlib Gaussian NB on the same features — must agree row-for-row
    vec = array_to_vector(
        F.array(*[c.cast("double") for c in feats])
    )
    nb = NaiveBayes(featuresCol="fv", labelCol="label", modelType="gaussian")
    model = nb.fit(tr.select(vec.alias("fv"), F.col("y").cast("double").alias("label")))
    scored = model.transform(
        te.select("event_id", "user_id", "x3", "y", vec.alias("fv"))
    ).select(
        "y",
        pred.alias("p_rel"),
        F.col("prediction").cast("int").alias("p_ml"),
    )
    maj = (
        tr.groupBy("y").count().orderBy(F.col("count").desc(), "y").first()["y"]
    )
    out = scored.agg(
        F.round(
            F.sum((F.col("p_rel") == F.col("y")).cast("long"))
            / (F.lit(1.0) * F.count(F.lit(1))),
            6,
        ).alias("accuracy"),
        F.round(
            F.sum((F.col("y") == F.lit(maj)).cast("long"))
            / (F.lit(1.0) * F.count(F.lit(1))),
            6,
        ).alias("baseline_accuracy"),
        F.lit(n).cast("long").alias("n_train"),
        F.count(F.lit(1)).cast("long").alias("n_test"),
        (
            F.sum((F.col("p_rel") == F.col("p_ml")).cast("long"))
            == F.count(F.lit(1))
        ).alias("mllib_agree"),
    )
    res = out.localCheckpoint()
    tr.unpersist()
    return res


def _cv_nb_oracle() -> str:
    """Generated 3-fold replay of the exact-moment Gaussian NB: one
    block per fold, each the same HUGEINT-sum / one-division / ln
    arithmetic as _NB_ORACLE, over md5-fold train/test splits."""
    blocks = []
    for k in range(3):
        blocks.append(
            f""",
st_{k} AS (
  SELECT y, CAST(COUNT(*) AS BIGINT) AS nk,
         SUM(CAST(x1 AS HUGEINT)) AS s1, SUM(CAST(x1*x1 AS HUGEINT)) AS q1,
         SUM(CAST(x2 AS HUGEINT)) AS s2, SUM(CAST(x2*x2 AS HUGEINT)) AS q2,
         SUM(CAST(x3 AS HUGEINT)) AS s3, SUM(CAST(x3*x3 AS HUGEINT)) AS q3
  FROM lab WHERE fold != {k} GROUP BY y
),
tot_{k} AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         SUM(CAST(x1 AS HUGEINT)) AS sa1, SUM(CAST(x1*x1 AS HUGEINT)) AS qa1,
         SUM(CAST(x2 AS HUGEINT)) AS sa2, SUM(CAST(x2*x2 AS HUGEINT)) AS qa2,
         SUM(CAST(x3 AS HUGEINT)) AS sa3, SUM(CAST(x3*x3 AS HUGEINT)) AS qa3
  FROM lab WHERE fold != {k}
),
eps_{k} AS (
  SELECT n, 1e-9 * GREATEST(
    CAST(n*qa1 - sa1*sa1 AS DOUBLE) / (CAST(n AS DOUBLE)*n),
    CAST(n*qa2 - sa2*sa2 AS DOUBLE) / (CAST(n AS DOUBLE)*n),
    CAST(n*qa3 - sa3*sa3 AS DOUBLE) / (CAST(n AS DOUBLE)*n)) AS e
  FROM tot_{k}
),
cst_{k} AS (
  SELECT y,
    CAST(s1 AS DOUBLE)/nk AS mu1,
    CAST(nk*q1 - s1*s1 AS DOUBLE)/(CAST(nk AS DOUBLE)*nk) + e AS v1,
    CAST(s2 AS DOUBLE)/nk AS mu2,
    CAST(nk*q2 - s2*s2 AS DOUBLE)/(CAST(nk AS DOUBLE)*nk) + e AS v2,
    CAST(s3 AS DOUBLE)/nk AS mu3,
    CAST(nk*q3 - s3*s3 AS DOUBLE)/(CAST(nk AS DOUBLE)*nk) + e AS v3,
    ln(CAST(nk AS DOUBLE)/n)
      - 0.5*(ln(CAST(nk*q1 - s1*s1 AS DOUBLE)/(CAST(nk AS DOUBLE)*nk) + e)
           + ln(CAST(nk*q2 - s2*s2 AS DOUBLE)/(CAST(nk AS DOUBLE)*nk) + e)
           + ln(CAST(nk*q3 - s3*s3 AS DOUBLE)/(CAST(nk AS DOUBLE)*nk) + e))
      AS c0
  FROM st_{k}, eps_{k}
),
sc_{k} AS (
  SELECT t.event_id AS rid, t.y AS ytrue, c.y AS kcls,
         c.c0 - ((t.x1 - c.mu1)*(t.x1 - c.mu1)/(2*c.v1)
               + (t.x2 - c.mu2)*(t.x2 - c.mu2)/(2*c.v2)
               + (t.x3 - c.mu3)*(t.x3 - c.mu3)/(2*c.v3)) AS margin
  FROM (SELECT * FROM lab WHERE fold = {k}) t CROSS JOIN cst_{k} c
),
pr_{k} AS (
  SELECT rid, ytrue, kcls,
         ROW_NUMBER() OVER (PARTITION BY rid ORDER BY margin DESC, kcls ASC)
           AS rn
  FROM sc_{k}
),
maj_{k} AS (
  SELECT y AS my FROM (
    SELECT y, COUNT(*) AS c FROM lab WHERE fold != {k}
    GROUP BY y ORDER BY c DESC, y ASC LIMIT 1
  )
),
agg_{k} AS (
  SELECT CAST({k} AS INTEGER) AS fold,
         (SELECT n FROM tot_{k}) AS n_train,
         CAST(COUNT(*) AS BIGINT) AS n_test,
         CAST(SUM(CASE WHEN kcls = ytrue THEN 1 ELSE 0 END) AS BIGINT)
           AS ncorr,
         CAST(SUM(CASE WHEN ytrue = (SELECT my FROM maj_{k})
                  THEN 1 ELSE 0 END) AS BIGINT) AS nbase
  FROM pr_{k} WHERE rn = 1
)"""
        )
    return (
        f"""
WITH lab AS (
  SELECT event_id,
         CAST(floor(value * 10000) AS BIGINT) AS x1,
         (epoch_us(CAST(ts AS TIMESTAMP)) // 3600000000) % 24 AS x2,
         user_id % 97 AS x3,
         {_NB_LABEL_SQL} AS y,
         CAST(concat('0x', substr(md5(CAST(event_id AS VARCHAR)), 1, 2))
              AS INTEGER) % 3 AS fold
  FROM events
)"""
        + "".join(blocks)
        + """,
u AS (SELECT * FROM agg_0 UNION ALL SELECT * FROM agg_1
      UNION ALL SELECT * FROM agg_2)
SELECT fold, n_train, n_test,
       ROUND(ncorr / (1.0 * n_test), 6) AS accuracy,
       ROUND(nbase / (1.0 * n_test), 6) AS baseline_accuracy,
       ROUND((SELECT SUM(ncorr) FROM u) / (1.0 * (SELECT SUM(n_test) FROM u)),
             6) AS cv_accuracy,
       TRUE AS mllib_agree
FROM u
"""
    )


@register(
    "ml_cv_naive_bayes",
    _cv_nb_oracle(),
    doc="3-fold CV (md5 folds) with exact-moment Gaussian NB, FULL oracle + per-fold MLlib parity audit",
)
def ml_cv_naive_bayes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model selection needs CV, and CV needs reproducible folds: fold
    = first md5 byte of the row key mod 3 (the same engine-portable
    discipline as pipe_hash_split — a random split makes every CV run
    incomparable). FULLY oracle-checked since round 7 (the 5th
    rows-only conversion) by the ml_naive_bayes_train_eval machinery:
    features are integer-exact row-local expressions (quantized value,
    UTC hour via unix_micros — session-timezone-proof, user bucket; no
    fitted stats, so fold-leakage-free by construction), and ALL THREE
    folds' Gaussian-NB fits come from ONE (class, fold) moment scan —
    the driver combines exact DECIMAL(38,0) sums per leave-one-out
    train set, folds them into literal Catalyst scoring expressions,
    and each test fold is scored by a codegen projection. So 3-fold CV
    costs one stats scan + one scoring pass over the cached relation —
    strictly cheaper than the former 3-refits shape and the cheapest
    honest CV a 100 TB table admits. ``cv_accuracy`` is the pooled
    (exact single-division) CV accuracy. MLlib GaussianNB is still
    fitted per fold on the same features and must agree with the
    transpiled argmax on every test row (``mllib_agree`` per fold —
    the oracle asserts TRUE)."""
    import math

    from pyspark.ml.classification import NaiveBayes
    from pyspark.ml.functions import array_to_vector

    events = load_table(spark, sf_dir, "events").drop("props")
    fold = (
        F.conv(
            F.substring(
                F.md5(F.col("event_id").cast("string").cast("binary")), 1, 2
            ),
            16,
            10,
        ).cast("int")
        % 3
    )
    lbl = F.coalesce(
        *[
            F.when(F.col("event_type") == c, F.lit(k))
            for k, c in enumerate(_NB_CLASSES)
        ]
    )
    lab = events.select(
        "event_id",
        F.floor(F.col("value") * 10000).cast("long").alias("x1"),
        (
            F.expr("unix_micros(ts) DIV 3600000000") % 24
        ).alias("x2"),
        (F.col("user_id") % 97).alias("x3"),
        lbl.alias("y"),
        fold.alias("fold"),
    ).cache()

    dec = "decimal(38,0)"
    aggs = [F.count(F.lit(1)).alias("nk")]
    for c in ("x1", "x2", "x3"):
        aggs.append(F.sum(F.col(c).cast(dec)).alias(f"s_{c}"))
        aggs.append(F.sum((F.col(c) * F.col(c)).cast(dec)).alias(f"q_{c}"))
    byf = {
        (int(r["y"]), int(r["fold"])): r
        for r in lab.groupBy("y", "fold").agg(*aggs).collect()
    }
    n_classes = len(_NB_CLASSES)

    def popvar(nn: int, s: int, q: int) -> float:
        return float(nn * q - s * s) / (float(nn) * nn)

    def fold_params(k: int):
        per_class = {}
        tot = {"nk": 0}
        for c in ("x1", "x2", "x3"):
            tot[f"s_{c}"] = 0
            tot[f"q_{c}"] = 0
        for y in range(n_classes):
            nk, acc = 0, {f"{p}_{c}": 0 for p in "sq" for c in ("x1", "x2", "x3")}
            for f in range(3):
                if f == k or (y, f) not in byf:
                    continue
                r = byf[(y, f)]
                nk += int(r["nk"])
                for key in acc:
                    acc[key] += int(r[key])
            per_class[y] = (nk, acc)
            tot["nk"] += nk
            for key in acc:
                tot[key] += acc[key]
        n = tot["nk"]
        eps = 1e-9 * max(
            popvar(n, tot["s_x1"], tot["q_x1"]),
            popvar(n, tot["s_x2"], tot["q_x2"]),
            popvar(n, tot["s_x3"], tot["q_x3"]),
        )
        params = {}
        for y in range(n_classes):
            nk, acc = per_class[y]
            mus = [float(acc[f"s_{c}"]) / nk for c in ("x1", "x2", "x3")]
            vs = [
                popvar(nk, acc[f"s_{c}"], acc[f"q_{c}"]) + eps
                for c in ("x1", "x2", "x3")
            ]
            c0 = math.log(float(nk) / n) - 0.5 * (
                math.log(vs[0]) + math.log(vs[1]) + math.log(vs[2])
            )
            params[y] = (mus, vs, c0)
        maj = max(
            range(n_classes), key=lambda y: (per_class[y][0], -y)
        )
        return params, n, maj

    feats = [F.col("x1"), F.col("x2"), F.col("x3")]

    def margins_expr(params):
        def quad(k):
            t = (feats[0] - F.lit(params[k][0][0])) * (
                feats[0] - F.lit(params[k][0][0])
            ) / F.lit(2 * params[k][1][0])
            for j in (1, 2):
                t = t + (feats[j] - F.lit(params[k][0][j])) * (
                    feats[j] - F.lit(params[k][0][j])
                ) / F.lit(2 * params[k][1][j])
            return t

        return F.array(
            *[F.lit(params[k][2]) - quad(k) for k in range(n_classes)]
        )

    vec = array_to_vector(F.array(*[c.cast("double") for c in feats]))
    per_fold = []
    for k in range(3):
        params, n_train, maj = fold_params(k)
        margins = margins_expr(params)
        pred = (F.array_position(margins, F.array_max(margins)) - 1).cast(
            "int"
        )
        tr = lab.filter(F.col("fold") != k)
        te = lab.filter(F.col("fold") == k)
        model = NaiveBayes(
            featuresCol="fv", labelCol="label", modelType="gaussian"
        ).fit(tr.select(vec.alias("fv"), F.col("y").cast("double").alias("label")))
        scored = model.transform(
            te.select("x1", "x2", "x3", "y", vec.alias("fv"))
        ).select(
            "y",
            pred.alias("p_rel"),
            F.col("prediction").cast("int").alias("p_ml"),
        )
        row = scored.agg(
            F.lit(k).alias("fold"),
            F.lit(n_train).cast("long").alias("n_train"),
            F.count(F.lit(1)).cast("long").alias("n_test"),
            F.sum((F.col("p_rel") == F.col("y")).cast("long")).alias("ncorr"),
            F.sum((F.col("y") == F.lit(maj)).cast("long")).alias("nbase"),
            (
                F.sum((F.col("p_rel") == F.col("p_ml")).cast("long"))
                == F.count(F.lit(1))
            ).alias("mllib_agree"),
        ).first()
        per_fold.append(row)
    lab.unpersist()
    tot_corr = sum(r["ncorr"] for r in per_fold)
    tot_test = sum(r["n_test"] for r in per_fold)
    out = [
        (
            r["fold"],
            r["n_train"],
            r["n_test"],
            round(r["ncorr"] / (1.0 * r["n_test"]), 6),
            round(r["nbase"] / (1.0 * r["n_test"]), 6),
            round(tot_corr / (1.0 * tot_test), 6),
            bool(r["mllib_agree"]),
        )
        for r in per_fold
    ]
    return spark.createDataFrame(
        out,
        "fold int, n_train long, n_test long, accuracy double, "
        "baseline_accuracy double, cv_accuracy double, mllib_agree boolean",
    )


@register("ml_mlp_train_eval", None, doc="MLlib MLP train on events features, eval accuracy")
def ml_mlp_train_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end M1: feature pipeline → MLP(16,8) → accuracy on the
    held-out split. Seeded for reproducibility; rows-only check (one
    row: accuracy, n_train, n_test)."""
    from web_attack_detection_spark.functions.feature import fit_feature_pipeline

    events = load_table(spark, sf_dir, "events").drop("props", "ts")
    train = events.filter(F.col("event_id") % 4 != 1)
    test = events.filter(F.col("event_id") % 4 == 1)
    fp = fit_feature_pipeline(train, label_col="event_type")
    # cache the ASSEMBLED training set: MLP's L-BFGS re-reads it every
    # iteration, and without the cache each of the 40 passes re-runs
    # the whole feature pipeline (3× wall-clock at sf0.1). At cluster
    # scale this is MEMORY_AND_DISK on executors — the iteration input
    # must be materialized once, never recomputed per pass.
    tr = fp.transform(train).select("features", "label").cache()
    n_train = tr.count()
    te = fp.transform(test).select("features", "label")
    model = fit_mlp(tr, "features", "label", hidden=(16, 8), seed=42, max_iter=40)
    scored = predict(model, te, "features")
    acc = accuracy(scored).first()["accuracy"]
    n_test = te.count()
    tr.unpersist()
    base = _majority_baseline(train, test)
    return spark.createDataFrame(
        [(float(acc), round(base, 6), n_train, n_test)],
        "accuracy double, baseline_accuracy double, n_train long, n_test long",
    )


@register(
    "ml_mlp_weights_roundtrip",
    None,
    doc="fit MLlib MLP, export weights, score via numpy predict_batch_udf, assert parity",
)
def ml_mlp_weights_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The trained-weights seam, exercised end to end (VERDICT r3 #4).

    ``ml/nets.py`` claims real weights can replace ``seeded_*_params``
    with a weight-file load and nothing else. Proof: fit the MLlib MLP
    (M1), export its layer weights (``mlp_params_from_mllib``), score
    the held-out split BOTH ways — ``model.transform`` (JVM) and the
    exported numpy forward through ``predict_batch_udf`` (Arrow,
    distributed, driver-free) — and audit agreement IN-QUERY: argmax
    predictions must match row-for-row and probabilities bit-tightly.
    This is train-in-MLlib → score-anywhere, the closest this image
    gets to closing the reference's Keras save/load boundary
    (``/root/reference/models/cnn_model.py:74-81``).

    Returns one row: (n_rows, n_pred_agree, max_abs_prob_delta).
    Rows-only driver check; the hard parity assertions live in
    tests/test_ml.py::test_mlp_weights_roundtrip_parity."""
    from pyspark.ml.functions import vector_to_array

    from web_attack_detection_spark.functions.feature import fit_feature_pipeline
    from web_attack_detection_spark.ml.inference import mllib_mlp_scorer
    from web_attack_detection_spark.ml.nets import mlp_params_from_mllib

    events = load_table(spark, sf_dir, "events").drop("props", "ts")
    train = events.filter(F.col("event_id") % 4 != 1)
    test = events.filter(F.col("event_id") % 4 == 1)
    fp = fit_feature_pipeline(train, label_col="event_type")
    tr = fp.transform(train).select("features", "label").cache()
    tr.count()
    model = fit_mlp(tr, "features", "label", hidden=(16, 8), seed=42, max_iter=15)
    tr.unpersist()

    params = mlp_params_from_mllib(model)
    scorer = mllib_mlp_scorer(params)

    te = fp.transform(test).select("features")
    jvm = predict(model, te, "features").select(
        vector_to_array(F.col("probability")).alias("jvm_prob"),
        F.col("prediction").alias("jvm_pred"),
        "features",
    )
    both = jvm.withColumn(
        "np_prob", scorer(F.col("features").cast("array<double>"))
    ).withColumn(
        # ties broken toward the first maximum on both sides
        "np_pred",
        (F.array_position(F.col("np_prob"), F.array_max("np_prob")) - 1).cast(
            "double"
        ),
    )
    delta = F.aggregate(
        F.zip_with("jvm_prob", "np_prob", lambda a, b: F.abs(a - b)),
        F.lit(0.0),
        lambda acc, x: F.greatest(acc, x),
    )
    return both.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum((F.col("jvm_pred") == F.col("np_pred")).cast("long")).alias(
            "n_pred_agree"
        ),
        F.max(delta).alias("max_abs_prob_delta"),
    )


def _mh_join_oracle() -> str:
    """DuckDB replay of the portable side of ml_minhash_lsh_join:
    md5-based universal-hash MinHash signatures (the SAME A/B
    constants operators/dedup.py multiplies), 8 single-hash OR-bands
    (MLlib MinHashLSH's own banding shape), exact distinct-shingle
    Jaccard verify at distance <= 0.25."""
    from web_attack_detection_spark.operators.dedup import (
        MINHASH_A,
        MINHASH_B,
        MINHASH_P,
    )

    sig_cols = ",\n         ".join(
        f"MIN((hb * {MINHASH_A[i]} + {MINHASH_B[i]}) % {MINHASH_P}) AS h{i}"
        for i in range(8)
    )
    bands = "\n  UNION ALL ".join(
        f"SELECT id, {i} AS band, CAST(h{i} AS VARCHAR) AS bh FROM sig"
        for i in range(8)
    )
    return f"""WITH toks AS (
  SELECT doc_id AS id, string_split_regex(text, '\\s+') AS t FROM documents
),
sh AS (
  SELECT DISTINCT id, array_to_string(t[i:i+2], ' ') AS shingle
  FROM toks, UNNEST(range(1, greatest(len(t) - 2, 1) + 1)) AS r(i)
),
sigb AS (
  SELECT id,
         CAST(concat('0x', substr(md5(shingle), 1, 8)) AS BIGINT) & {MINHASH_P}
           AS hb
  FROM sh
),
sig AS (
  SELECT id,
         {sig_cols}
  FROM sigb GROUP BY id
),
bands AS (
  {bands}
),
cand AS (
  SELECT DISTINCT l.id AS id_a, r.id AS id_b
  FROM bands l JOIN bands r ON l.band = r.band AND l.bh = r.bh AND l.id < r.id
),
exactjd AS (
  -- candidate-RESTRICTED exact Jaccard (mirrors the engine's gated
  -- verify): intersections only for banded candidate pairs, never the
  -- global shingle self-join
  SELECT p.id_a, p.id_b,
         1.0 - (p.n_common / CAST(sa.sz + sb.sz - p.n_common AS DOUBLE)) AS jd
  FROM (
    SELECT c.id_a, c.id_b, CAST(COUNT(*) AS BIGINT) AS n_common
    FROM cand c
    JOIN sh a ON a.id = c.id_a
    JOIN sh b ON b.id = c.id_b AND b.shingle = a.shingle
    GROUP BY 1, 2
  ) p
  JOIN (SELECT id, CAST(COUNT(*) AS BIGINT) AS sz FROM sh GROUP BY id) sa
    ON p.id_a = sa.id
  JOIN (SELECT id, CAST(COUNT(*) AS BIGINT) AS sz FROM sh GROUP BY id) sb
    ON p.id_b = sb.id
  WHERE 1.0 - (p.n_common / CAST(sa.sz + sb.sz - p.n_common AS DOUBLE)) <= 0.25
)
SELECT e.id_a, e.id_b, ROUND(e.jd, 6) AS jaccard_dist,
       TRUE AS audit_mllib_agreement,
       TRUE AS audit_jaccard_verified
FROM exactjd e"""


@register(
    "ml_minhash_lsh_join",
    _mh_join_oracle(),
    doc="MinHash LSH near-dup join (portable md5 signatures), FULL oracle + MLlib agreement audit",
)
def ml_minhash_lsh_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The MinHash-LSH near-dup join SURVEY §2.7 names — FULL ORACLE
    since round 7 (previously rows-only "hash seeds are
    implementation-defined"), the same treatment as ml_brp_lsh_join:
    the output is driven by the PORTABLE md5-based universal-hash
    MinHash (operators/dedup.minhash_signatures — the constants the
    oracle's generated SQL multiplies), banded as 8 single-hash
    OR-bands (MLlib MinHashLSH's own banding shape: numHashTables
    tables, equi-join per table), then verified by the EXACT
    distinct-3-gram-shingle Jaccard at distance <= 0.25 — computed
    ONLY for banded candidates (r7 verdict #1: the earlier global
    ``sh ⋈ sh ON shingle`` inverted-index self-join cost
    Σ_shingle df² and drove the output; now the intersection is
    ``cand ⋈ sh(id_a) ⋈ sh(id_b ∧ same shingle)``, bounded by
    |candidates| × shingles/doc, and still exact — the output set is
    unchanged by construction since the old plan intersected exactjd
    with cand anyway). DuckDB replays signatures, banding, and the
    candidate-restricted verify end-to-end.

    MLlib's Tokenizer -> NGram(3) -> binary HashingTF -> MinHashLSH ->
    approxSimilarityJoin still runs in-query over the same corpus and
    threshold — GATED by ``audit_scale_ok`` like every dual-path audit
    (approxSimilarityJoin on a self-join is an oracle-scale tool; NULL
    audit columns above AUDIT_MAX_ROWS): ``audit_mllib_agreement``
    pins pair-set equality (both paths verify by true Jaccard;
    HashingTF's 2^18-bucket collisions are the only possible
    divergence) and ``audit_jaccard_verified`` pins max |MLlib
    distCol - exact Jaccard| <= 0.02 over the agreed pairs.  Scale
    story: banding shuffle = tables × rows, verify = candidates ×
    shingles/doc — never all-pairs anywhere in the serving plan."""
    from pyspark.ml.feature import HashingTF, MinHashLSH, NGram, Tokenizer

    from web_attack_detection_spark.operators.dedup import (
        minhash_candidate_pairs,
        minhash_signatures,
        shingles,
    )
    from web_attack_detection_spark.plans.audit import audit_scale_ok

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    do_audit = audit_scale_ok(docs)

    def _portable():
        """md5 MinHash -> 8 OR-bands -> candidate-restricted exact
        shingle-Jaccard verify (drives the output)."""
        sig = minhash_signatures(docs, "text", "doc_id", n=3, num_perm=8)
        cand = minhash_candidate_pairs(sig, bands=8, rows_per_band=1).localCheckpoint()
        sh_rel = shingles(docs, "text", "doc_id", n=3)  # (id, shingle) distinct
        sizes = sh_rel.groupBy("id").agg(F.count(F.lit(1)).cast("long").alias("sz"))
        # n_common ONLY for banded candidates: cand ⋈ sh(id_a) ⋈ sh(id_b,
        # same shingle) — |cand| × shingles/doc, not Σ_shingle df²
        inter = (
            cand.join(sh_rel.select(F.col("id").alias("id_a"), "shingle"), "id_a")
            .join(sh_rel.select(F.col("id").alias("id_b"), "shingle"), ["id_b", "shingle"])
            .groupBy("id_a", "id_b")
            .agg(F.count(F.lit(1)).cast("long").alias("n_common"))
        )
        jd = F.lit(1.0) - F.col("n_common") / (
            F.col("sz_a") + F.col("sz_b") - F.col("n_common")
        ).cast("double")
        return (
            inter.join(sizes.select(F.col("id").alias("id_a"), F.col("sz").alias("sz_a")), "id_a")
            .join(sizes.select(F.col("id").alias("id_b"), F.col("sz").alias("sz_b")), "id_b")
            .withColumn("jd", jd)
            .filter(F.col("jd") <= 0.25)
            .select("id_a", "id_b", "jd")
            .localCheckpoint()  # tiny; reused by the output AND the MLlib dev audit
        )

    def _mllib_audit():
        """MLlib audit path: same corpus, same threshold — gated, the
        self-approxSimilarityJoin is an oracle-scale tool.  Fully
        independent of the portable chain until the agreement counts,
        so the two chains overlap (guide §2.6)."""
        if not do_audit:
            return None
        toks = Tokenizer(inputCol="text", outputCol="toks").transform(docs)
        sh = NGram(n=3, inputCol="toks", outputCol="shingles").transform(toks)
        tf = HashingTF(
            inputCol="shingles", outputCol="fv", binary=True, numFeatures=1 << 18
        ).transform(sh)
        tf = tf.filter(F.size("shingles") > 0)
        tf = tf.cache()  # LSH fit pass + both sides of the self-join
        try:
            model = MinHashLSH(
                inputCol="fv", outputCol="hashes", numHashTables=8, seed=42
            ).fit(tf)
            return (
                model.approxSimilarityJoin(tf, tf, 0.25, distCol="mdist")
                .select(
                    F.col("datasetA.doc_id").alias("id_a"),
                    F.col("datasetB.doc_id").alias("id_b"),
                    F.col("mdist"),
                )
                .filter(F.col("id_a") < F.col("id_b"))
                .localCheckpoint()
            )
        finally:
            tf.unpersist()

    exactjd, mllib_pairs = overlap(_portable, _mllib_audit)
    pairs = exactjd.select(
        "id_a", "id_b", F.round("jd", 6).alias("jaccard_dist")
    )
    if do_audit:
        mine = pairs.select("id_a", "id_b")
        n_mismatch = (
            mine.join(mllib_pairs, ["id_a", "id_b"], "left_anti").count()
            + mllib_pairs.join(mine, ["id_a", "id_b"], "left_anti").count()
        )
        # distCol-vs-exact deviation over the agreed pairs (HashingTF
        # collisions are the only source)
        dev_row = (
            mllib_pairs.join(exactjd, ["id_a", "id_b"])
            .agg(F.max(F.abs(F.col("mdist") - F.col("jd"))).alias("dev"))
            .first()
        )
        dev_ok = dev_row["dev"] is None or float(dev_row["dev"]) <= 0.02
        agree_col = F.lit(bool(n_mismatch == 0))
        dev_col = F.lit(bool(dev_ok))
    else:
        agree_col = F.lit(None).cast("boolean")
        dev_col = F.lit(None).cast("boolean")
    return (
        pairs.withColumn("audit_mllib_agreement", agree_col)
        .withColumn("audit_jaccard_verified", dev_col)
        .orderBy("id_a", "id_b")
    )


@register(
    "ml_random_forest_train_eval",
    None,
    doc="MLlib RandomForest multiclass train/eval (tree-ensemble family)",
)
def ml_random_forest_train_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tree ensembles complete the model battery next to the linear
    (logreg), single-pass (NB), and neural (MLP) families — on tabular
    features they are the standard strong baseline, and their fit
    parallelizes by tree×partition rather than by optimizer iteration
    (each of the 10 trees trains on feature/row subsamples; one pass
    per tree LEVEL, not per iteration — depth 5 ⇒ ~50 passes total
    regardless of data size, all map-side histograms). Seeded for
    reproducibility; rows-only (one row: accuracy, n_train, n_test)."""
    from pyspark.ml.classification import RandomForestClassifier

    from web_attack_detection_spark.functions.feature import fit_feature_pipeline
    from web_attack_detection_spark.ml.pipeline import accuracy, to_vector

    events = load_table(spark, sf_dir, "events").drop("props", "ts")
    train = events.filter(F.col("event_id") % 4 != 1)
    test = events.filter(F.col("event_id") % 4 == 1)
    fp = fit_feature_pipeline(train, label_col="event_type")
    # cache: each tree level re-reads the assembled training set
    tr = to_vector(fp.transform(train).select("features", "label"), "features", "fv").cache()
    n_train = tr.count()
    te = to_vector(fp.transform(test).select("features", "label"), "features", "fv")
    rf = RandomForestClassifier(
        featuresCol="fv", labelCol="label", numTrees=10, maxDepth=5, seed=42
    )
    model = rf.fit(tr)
    acc = accuracy(model.transform(te)).first()["accuracy"]
    n_test = te.count()
    tr.unpersist()
    base = _majority_baseline(train, test)
    return spark.createDataFrame(
        [(float(acc), round(base, 6), n_train, n_test)],
        "accuracy double, baseline_accuracy double, n_train long, n_test long",
    )


# portable euclidean-LSH hyperparameters (shared engine <-> oracle).
# The 4 projections form 2 AND-groups of 2; each vector multi-emits
# the 4 corner keys (b1+{0,1}, b2+{0,1}) per group, so any pair whose
# projection gap is <= W in BOTH dims of a group is caught
# DETERMINISTICALLY (bucket indices differ by <= 1 => a corner
# coincides).  Planted pairs have |Δdot| <= 0.005·64·SCALE·max|e| + 64
# < 1.75e5 < W, so planted recall is GUARANTEED, not probabilistic —
# while the AND-composition keeps candidate volume quadratically
# smaller than single-projection buckets (the r7 first cut used one
# W=2e6 bucket per table and degenerated toward all-pairs at sf0.1).
_BRP_TABLES = 4
_BRP_GROUPS = 2
_BRP_SCALE = 1_000_000  # coordinate quantization (1e-6 grid)
_BRP_W = 200_000  # bucket width in dot-product micro-units
_BRP_R2 = 500_000 * 500_000  # euclidean radius 0.5, squared, micro^2


def _brp_signs() -> list[list[int]]:
    """Seeded Rademacher (±1) projection directions, one 64-dim row
    per hash table, derived from md5 so the engine literals and the
    oracle's VALUES table are the same matrix."""
    import hashlib

    return [
        [
            1
            if int(hashlib.md5(f"brp-{h}-{d}".encode()).hexdigest()[0], 16) % 2 == 0
            else -1
            for d in range(64)
        ]
        for h in range(_BRP_TABLES)
    ]


def _brp_oracle() -> str:
    signs = _brp_signs()
    sign_rows = ", ".join(
        f"({h}, {d}, {signs[h][d]})" for h in range(_BRP_TABLES) for d in range(64)
    )
    return f"""WITH q AS MATERIALIZED (
  SELECT vec_id,
         list_transform(range(1, 65), i ->
             CAST(ROUND(CAST(embedding[i] AS DOUBLE) * {_BRP_SCALE}) AS BIGINT)) AS v
  FROM embeddings
  UNION ALL
  SELECT vec_id + 10000,
         list_transform(range(1, 65), i ->
             CAST(ROUND((CAST(embedding[i] AS DOUBLE) * 0.995) * {_BRP_SCALE}) AS BIGINT))
  FROM embeddings WHERE vec_id % 5 = 0
), signs(h, d, s) AS (VALUES {sign_rows}
), bgrid AS MATERIALIZED (
  SELECT vec_id,
         MAX(CASE WHEN h = 0 THEN b END) AS b0,
         MAX(CASE WHEN h = 1 THEN b END) AS b1,
         MAX(CASE WHEN h = 2 THEN b END) AS b2,
         MAX(CASE WHEN h = 3 THEN b END) AS b3
  FROM (
    SELECT vec_id, h,
           (dot - ((dot % {_BRP_W}) + {_BRP_W}) % {_BRP_W}) // {_BRP_W} AS b
    FROM (
      SELECT q.vec_id, signs.h, CAST(SUM(signs.s * q.v[signs.d + 1]) AS BIGINT) AS dot
      FROM q, signs GROUP BY q.vec_id, signs.h
    )
  ) GROUP BY vec_id
), banded AS MATERIALIZED (
  SELECT vec_id, gg.g,
         (CASE gg.g WHEN 0 THEN b0 ELSE b2 END) + cc.c1 AS k1,
         (CASE gg.g WHEN 0 THEN b1 ELSE b3 END) + cc.c2 AS k2
  FROM bgrid, (VALUES (0), (1)) gg(g),
       (VALUES (0, 0), (0, 1), (1, 0), (1, 1)) cc(c1, c2)
), cand AS MATERIALIZED (
  SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
  FROM banded a JOIN banded b
    ON a.g = b.g AND a.k1 = b.k1 AND a.k2 = b.k2 AND a.vec_id < b.vec_id
), pairs AS MATERIALIZED (
  SELECT id_a, id_b, ROUND(sqrt(d2) / {_BRP_SCALE}, 6) AS dist
  FROM (
    SELECT id_a, id_b,
           CAST(SUM((qa.v[i] - qb.v[i]) * (qa.v[i] - qb.v[i])) AS BIGINT) AS d2
    FROM cand
    JOIN q qa ON qa.vec_id = cand.id_a
    JOIN q qb ON qb.vec_id = cand.id_b, UNNEST(range(1, 65)) AS u(i)
    GROUP BY id_a, id_b
  ) WHERE d2 <= {_BRP_R2}
), audit AS MATERIALIZED (
  SELECT CAST(COALESCE(SUM(CASE WHEN id_b - id_a = 10000 AND id_a % 5 = 0
                                THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_planted_found,
         (SELECT CAST(COUNT(*) AS BIGINT) FROM embeddings WHERE vec_id % 5 = 0)
           AS n_planted_expected
  FROM pairs
)
SELECT p.id_a, p.id_b, p.dist,
       a.n_planted_found, a.n_planted_expected,
       a.n_planted_found = a.n_planted_expected AS audit_planted_recall,
       TRUE AS audit_mllib_agreement
FROM pairs p, audit a"""


@register(
    "ml_brp_lsh_join",
    _brp_oracle(),
    doc="euclidean random-projection LSH join (portable ±1 projections), FULL oracle + MLlib agreement audit",
)
def ml_brp_lsh_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The euclidean-LSH primitive SURVEY §2.7 names, completing the
    LSH family next to MinHashLSH (Jaccard) — FULL ORACLE since round
    7 (previously rows-only "projection directions are seeded but
    implementation-defined"): the directions are now PORTABLE seeded
    Rademacher ±1 vectors (md5-derived, shared literal-for-literal
    with the oracle's VALUES table), so each projection is an EXACT
    BIGINT dot product over 1e-6-quantized coordinates, the bucket id
    an exact integer floor-division, and the verify-stage distance an
    exact integer sum — DuckDB replays bucketing, candidate join, and
    the distance filter bit-for-bit.  Same plan shape as before:
    floor(proj/W) buckets per table, candidates equi-join on (table,
    bucket) — shuffle volume = tables × rows, never all-pairs.

    Banding is 2 AND-groups of 2 projections with corner multi-emit
    (each vector emits (b1+{{0,1}}, b2+{{0,1}}) per group): any pair
    whose projection gap is <= W in both dims of a group has bucket
    indices differing by <= 1, so a corner coincides — recall for the
    planted pairs is GUARANTEED by arithmetic (|Δdot| < 1.75e5 < W =
    2e5; see the hyperparameter comment), not probabilistic, while
    the AND-composition keeps candidates quadratically below
    single-projection buckets.  Shuffle volume = 8 key rows per
    vector; vectors rejoin the (checkpointed) corpus only for the
    verify stage.

    The embeddings fixture has no close euclidean pairs (min organic
    pair distance ~0.99 at sf0.01), so the query plants
    near-duplicates — every 5th vector re-inserted scaled by 0.995 —
    and joins at radius 0.5: exactly the planted pairs qualify
    (``audit_planted_recall``).  MLlib's
    BucketedRandomProjectionLSH.approxSimilarityJoin still runs
    in-query over the same corpus and threshold; the two pair SETS
    must agree exactly (``audit_mllib_agreement`` — both methods
    verify by true distance, and no organic pair sits near the 0.5
    boundary), so the MLlib path stays covered while the portable
    path carries the oracle."""
    from pyspark.ml.feature import BucketedRandomProjectionLSH

    from web_attack_detection_spark.ml.pipeline import to_vector

    emb = load_table(spark, sf_dir, "embeddings")
    qbase = emb.select(
        "vec_id",
        F.transform(
            F.col("embedding").cast("array<double>"),
            lambda e: F.round(e * _BRP_SCALE).cast("long"),
        ).alias("v"),
    )
    qplanted = emb.filter(F.col("vec_id") % 5 == 0).select(
        (F.col("vec_id") + 10000).alias("vec_id"),
        F.transform(
            F.col("embedding").cast("array<double>"),
            lambda e: F.round((e * 0.995) * _BRP_SCALE).cast("long"),
        ).alias("v"),
    )
    q = qbase.unionByName(qplanted).localCheckpoint()

    signs = _brp_signs()
    dots = [
        F.aggregate(
            F.zip_with(
                "v",
                F.array(*[F.lit(s) for s in signs[h]]),
                lambda a, b: a * b,
            ),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        ).alias(f"dot{h}")
        for h in range(_BRP_TABLES)
    ]
    w = F.lit(_BRP_W)
    buckets = q.select("vec_id", *dots).select(
        "vec_id",
        *[
            ((F.col(f"dot{h}") - F.pmod(F.col(f"dot{h}"), w)) / w)
            .cast("long")
            .alias(f"b{h}")
            for h in range(_BRP_TABLES)
        ],
    )
    # corner multi-emit: 2 AND-groups x 4 corners = 8 keys per vector
    banded = buckets.select(
        "vec_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(g).alias("g"),
                        (F.col(f"b{2 * g}") + F.lit(c1)).alias("k1"),
                        (F.col(f"b{2 * g + 1}") + F.lit(c2)).alias("k2"),
                    )
                    for g in range(_BRP_GROUPS)
                    for c1 in (0, 1)
                    for c2 in (0, 1)
                ]
            )
        ).alias("bk"),
    ).select("vec_id", "bk.g", "bk.k1", "bk.k2")
    cand = (
        banded.alias("a")
        .join(
            banded.alias("b"),
            (F.col("a.g") == F.col("b.g"))
            & (F.col("a.k1") == F.col("b.k1"))
            & (F.col("a.k2") == F.col("b.k2"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(F.col("a.vec_id").alias("id_a"), F.col("b.vec_id").alias("id_b"))
        .distinct()
    )
    d2 = F.aggregate(
        F.zip_with("va", "vb", lambda a, b: (a - b) * (a - b)),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    def _portable():
        """banded corner-key candidates -> exact-distance verify
        (drives the output)."""
        return (
            cand.join(q.select(F.col("vec_id").alias("id_a"), F.col("v").alias("va")), "id_a")
            .join(q.select(F.col("vec_id").alias("id_b"), F.col("v").alias("vb")), "id_b")
            .withColumn("d2", d2)
            .filter(F.col("d2") <= F.lit(_BRP_R2))
            .select(
                "id_a",
                "id_b",
                F.round(F.sqrt("d2") / _BRP_SCALE, 6).alias("dist"),
            )
            .localCheckpoint()
        )

    def _mllib_audit():
        """MLlib agreement audit: same corpus, same threshold, pair
        sets must match exactly (both sides verify by true distance).
        Independent of the portable chain until the agreement counts,
        so the two chains overlap (guide §2.6)."""
        both = to_vector(
            emb.select("vec_id", F.col("embedding").cast("array<double>").alias("emb"))
            .unionByName(
                emb.filter(F.col("vec_id") % 5 == 0).select(
                    (F.col("vec_id") + 10000).alias("vec_id"),
                    F.transform(
                        F.col("embedding").cast("array<double>"), lambda x: x * 0.995
                    ).alias("emb"),
                )
            ),
            "emb",
            "fv",
        ).select("vec_id", "fv")
        both = both.cache()
        try:
            model = BucketedRandomProjectionLSH(
                inputCol="fv", outputCol="hashes", bucketLength=0.05, numHashTables=4, seed=42
            ).fit(both)
            return (
                model.approxSimilarityJoin(both, both, 0.5, distCol="dist")
                .select(
                    F.col("datasetA.vec_id").alias("id_a"),
                    F.col("datasetB.vec_id").alias("id_b"),
                )
                .filter(F.col("id_a") < F.col("id_b"))
                # pin the (tiny) pair set so the expensive MLlib
                # approx-join subtree runs ONCE, not once per anti-join
                # count below (the ml_minhash_lsh_join pattern)
                .localCheckpoint()
            )
        finally:
            both.unpersist()

    pairs, mllib_pairs = overlap(_portable, _mllib_audit)
    mine = pairs.select("id_a", "id_b")
    n_mismatch = (
        mine.join(mllib_pairs, ["id_a", "id_b"], "left_anti").count()
        + mllib_pairs.join(mine, ["id_a", "id_b"], "left_anti").count()
    )
    mllib_agree = bool(n_mismatch == 0)

    n_expected = emb.filter(F.col("vec_id") % 5 == 0).count()
    audit = (
        pairs.agg(
            F.sum(
                (
                    (F.col("id_b") - F.col("id_a") == 10000)
                    & (F.pmod(F.col("id_a"), F.lit(5)) == 0)
                ).cast("long")
            ).alias("n_planted_found")
        )
        .select(F.coalesce("n_planted_found", F.lit(0)).alias("n_planted_found"))
        .withColumn("n_planted_expected", F.lit(n_expected))
        .withColumn(
            "audit_planted_recall",
            F.col("n_planted_found") == F.col("n_planted_expected"),
        )
        .withColumn("audit_mllib_agreement", F.lit(mllib_agree))
    )
    return pairs.crossJoin(F.broadcast(audit)).orderBy("id_a", "id_b")


def _sequence_infer(spark: SparkSession, sf_dir: str, arch: str) -> DataFrame:
    """Shared body of the M2-M4 distributed-inference queries: score
    the 64-dim embedding vectors as (64, 1) sequences through the
    architecture's numpy forward pass (ml/nets.py) on executors via
    predict_batch_udf, then reduce to the per-class prediction
    distribution (plus a probability checksum so the whole output
    tensor, not just the argmax, is pinned). Deterministic: seeded
    weights, batch-shape-independent math."""
    from web_attack_detection_spark.ml import nets
    from web_attack_detection_spark.ml.inference import sequence_scorer

    n_classes = 4
    if arch == "cnn":
        scorer = sequence_scorer(
            nets.cnn_forward, nets.seeded_cnn_params(64, n_classes), 64
        )
    elif arch == "rnn":
        scorer = sequence_scorer(nets.rnn_forward, nets.seeded_rnn_params(n_classes), 64)
    else:
        scorer = sequence_scorer(
            nets.lstm_forward, nets.seeded_lstm_params(n_classes), 64
        )
    # the embeddings fixture is ONE parquet row group — unsplittable,
    # so the forward pass would run in a single task however many cores
    # exist (r10: measured 1 scan partition at sf0.1; LSTM ≈ 8 ms/row
    # dwarfs the row's scan+shuffle cost).  io.sources.parallelize_scan
    # spreads it; no-op on splittable production inputs; output
    # invariant (per-row scoring + exact integer aggregation) —
    # measured 5-6 s → 1.6-1.9 s interleaved at sf0.1 for the LSTM.
    emb = parallelize_scan(spark, load_table(spark, sf_dir, "embeddings"))
    scored = emb.select(
        "vec_id", scorer(F.col("embedding").cast("array<double>")).alias("probs")
    )
    pred = scored.select(
        "vec_id",
        (F.array_position(F.col("probs"), F.array_max("probs")) - 1)
        .cast("int")
        .alias("prediction"),
        F.round(F.aggregate("probs", F.lit(0.0), lambda a, x: a + x), 6).alias("psum"),
    )
    return (
        pred.groupBy("prediction")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(
                F.sum(F.round(F.col("psum") * 1000000).cast("long")) / 1000000.0, 6
            ).alias("prob_mass"),
        )
        # in-query audit: every softmax row sums to 1, so each class
        # group's probability mass must equal its row count to within
        # the 1e-6 quantization — a hard boolean over the whole scored
        # relation (pinned in tests/test_ml.py)
        .withColumn(
            "audit_prob_simplex",
            F.abs(F.col("prob_mass") - F.col("n")) <= F.lit(1e-3) * F.col("n"),
        )
    )


@register("ml_cnn_infer", None, doc="Conv1D stack distributed inference (numpy forward, predict_batch_udf)")
def ml_cnn_infer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M2 (reference cnn_model.py:19-40) as architecture-faithful
    DISTRIBUTED inference: Conv1D(32)->pool->Conv1D(64)->pool->
    Conv1D(128)->pool->Dense(128)->softmax in pure numpy on executors.
    Training runs in-engine too since round 4 (ml/train.py,
    ml_cnn_train_dist); this query proves the scoring path needs no TF
    and no driver collect. Rows-only (a conv stack has no SQL twin);
    per-architecture equivalence tests in tests/test_ml.py."""
    return _sequence_infer(spark, sf_dir, "cnn")


@register("ml_rnn_infer", None, doc="SimpleRNN stack distributed inference (numpy forward)")
def ml_rnn_infer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M3 (reference rnn_model.py:17-34): SimpleRNN(64, seq) ->
    SimpleRNN(128) -> Dense(64) -> softmax, numpy forward on
    executors. See ml_cnn_infer."""
    return _sequence_infer(spark, sf_dir, "rnn")


@register("ml_lstm_infer", None, doc="LSTM stack distributed inference (numpy forward)")
def ml_lstm_infer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M4 (reference lstm_model.py:17-34): LSTM(64, seq) -> LSTM(128)
    -> Dense(64) -> softmax, numpy forward on executors. See
    ml_cnn_infer."""
    return _sequence_infer(spark, sf_dir, "lstm")


# ---------------------------------------------------------------------------
# detection-evaluation metrics: ROC-AUC and KS, exact and oracle-checked
# ---------------------------------------------------------------------------

# Binary detection setup shared by both metrics: label = error events,
# score = the integer-quantized margin over NON-label fields (exact
# BIGINT, so ranks/cumulative counts are engine-identical; the only
# float op in each metric is ONE final division + round).
_DETECT_CTE = """
scored AS (
  SELECT (event_type = 'error') AS pos,
         (3 * (user_id % 97) - (CAST(ROUND(value * 100) AS BIGINT) // 50)) AS s
  FROM events
),
by_score AS (
  SELECT s,
         SUM(CASE WHEN pos THEN 1 ELSE 0 END) AS np,
         SUM(CASE WHEN pos THEN 0 ELSE 1 END) AS nn
  FROM scored GROUP BY s
),
cum AS (
  SELECT s, np, nn,
         SUM(nn) OVER (ORDER BY s ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS cneg_below,
         SUM(np) OVER (ORDER BY s) AS cpos,
         SUM(nn) OVER (ORDER BY s) AS cneg
  FROM by_score
),
tot AS (SELECT SUM(np) AS P, SUM(nn) AS N FROM by_score)
"""

_AUC_ORACLE = f"""
WITH {_DETECT_CTE}
SELECT CAST(t.P AS BIGINT) AS n_pos,
       CAST(t.N AS BIGINT) AS n_neg,
       ROUND(SUM(c.np * (2 * COALESCE(c.cneg_below, 0) + c.nn))
             / (2.0 * t.P * t.N), 6) AS auc
FROM cum c, tot t
GROUP BY t.P, t.N
"""


@register(
    "ml_roc_auc",
    _AUC_ORACLE,
    doc="exact ROC-AUC (rank-sum over grouped scores, tie-aware), full oracle",
)
def ml_roc_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROC-AUC for the attack-detection setting, computed EXACTLY as a
    relational plan: group by (integer) score, one window cumulative
    over the grouped scores, then AUC = Σ np·(cneg_below + nn/2) / (P·N)
    — the Mann-Whitney rank-sum identity with tie correction. All
    arithmetic stays BIGINT until one final division (the
    sim_label_centroids determinism trick), so Spark and DuckDB agree
    bit-for-bit. Scale: the shuffle is |distinct scores| rows — the
    metric costs one groupBy + one tiny window regardless of corpus
    size (no per-pair work, no sort of raw rows)."""
    from pyspark.sql import Window

    e = load_table(spark, sf_dir, "events")
    scored = e.select(
        (F.col("event_type") == "error").alias("pos"),
        (
            3 * (F.col("user_id") % 97)
            - F.expr("CAST(ROUND(value * 100) AS BIGINT) DIV 50")
        ).alias("s"),
    )
    by_score = scored.groupBy("s").agg(
        F.sum(F.when(F.col("pos"), 1).otherwise(0)).alias("np"),
        F.sum(F.when(F.col("pos"), 0).otherwise(1)).alias("nn"),
    )
    w = Window.orderBy("s")
    cum = by_score.withColumn(
        "cneg_below",
        F.coalesce(
            F.sum("nn").over(w.rowsBetween(Window.unboundedPreceding, -1)),
            F.lit(0),
        ),
    )
    return cum.agg(
        F.sum("np").cast("long").alias("n_pos"),
        F.sum("nn").cast("long").alias("n_neg"),
        F.round(
            F.sum(F.col("np") * (2 * F.col("cneg_below") + F.col("nn")))
            / (2.0 * F.sum("np") * F.sum("nn")),
            6,
        ).alias("auc"),
    )


_KS_ORACLE = f"""
WITH {_DETECT_CTE}
SELECT CAST(t.P AS BIGINT) AS n_pos,
       CAST(t.N AS BIGINT) AS n_neg,
       ROUND(MAX(ABS(c.cpos * t.N - c.cneg * t.P)) / (1.0 * t.P * t.N), 6) AS ks
FROM cum c, tot t
GROUP BY t.P, t.N
"""


@register(
    "ml_ks_statistic",
    _KS_ORACLE,
    doc="Kolmogorov-Smirnov separation between class score CDFs, exact BIGINT max",
)
def ml_ks_statistic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KS statistic — max vertical gap between the positive and
    negative score CDFs, the standard detector-separation score. The
    maximization runs on |cpos·N − cneg·P| (exact BIGINT cross-scaled
    counts) and divides by P·N once at the end, so no float ever
    enters a comparison. Same grouped-score plan shape as ml_roc_auc:
    one groupBy(score) + one window, cost independent of row count
    past the group-by."""
    from pyspark.sql import Window

    e = load_table(spark, sf_dir, "events")
    scored = e.select(
        (F.col("event_type") == "error").alias("pos"),
        (
            3 * (F.col("user_id") % 97)
            - F.expr("CAST(ROUND(value * 100) AS BIGINT) DIV 50")
        ).alias("s"),
    )
    by_score = scored.groupBy("s").agg(
        F.sum(F.when(F.col("pos"), 1).otherwise(0)).alias("np"),
        F.sum(F.when(F.col("pos"), 0).otherwise(1)).alias("nn"),
    )
    w = Window.orderBy("s")
    cum = by_score.select(
        F.sum("np").over(w).alias("cpos"), F.sum("nn").over(w).alias("cneg")
    )
    tot = by_score.agg(
        F.sum("np").alias("P"), F.sum("nn").alias("N")
    )
    return cum.crossJoin(F.broadcast(tot)).agg(
        F.max(F.col("P")).cast("long").alias("n_pos"),
        F.max(F.col("N")).cast("long").alias("n_neg"),
        F.round(
            F.max(F.abs(F.col("cpos") * F.col("N") - F.col("cneg") * F.col("P")))
            / (1.0 * F.max("P") * F.max("N")),
            6,
        ).alias("ks"),
    )


_ROC_CURVE_ORACLE = f"""
WITH {_DETECT_CTE}
SELECT c.s AS threshold,
       CAST(t.P - c.cpos AS BIGINT) AS tp,
       CAST(t.N - c.cneg AS BIGINT) AS fp,
       ROUND((t.P - c.cpos) / (1.0 * t.P), 6) AS tpr,
       ROUND((t.N - c.cneg) / (1.0 * t.N), 6) AS fpr,
       CASE WHEN (t.P - c.cpos) + (t.N - c.cneg) > 0
            THEN ROUND((t.P - c.cpos) / (1.0 * ((t.P - c.cpos) + (t.N - c.cneg))), 6)
            ELSE 0.0 END AS precision,
       CASE WHEN (t.P - c.cpos) + (t.N - c.cneg) + t.P > 0
            THEN ROUND(2.0 * (t.P - c.cpos) / (1.0 * ((t.P - c.cpos) + (t.N - c.cneg) + t.P)), 6)
            ELSE 0.0 END AS f1
FROM cum c, tot t
"""


@register(
    "ml_roc_curve",
    _ROC_CURVE_ORACLE,
    doc="full ROC / operating-point sweep (tp, fp, tpr, fpr, precision, F1 per threshold), one scan",
)
def ml_roc_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The operating-point sweep behind every detector deployment
    decision: for EVERY distinct score threshold t (rule: flag when
    score > t), the exact confusion counts and derived TPR / FPR /
    precision / F1 — the full ROC and PR curves in one result. Same
    one-scan grid philosophy as text_quality_threshold_sweep: one
    groupBy(score) + one cumulative window computes the entire curve;
    the naive per-threshold loop would re-scan the corpus |thresholds|
    times. All counts exact BIGINT; each derived rate is one division
    of exact integers + round, so both engines agree bit-for-bit.
    Scale: output and window size are |distinct scores|, independent of
    row count past the group-by."""
    from pyspark.sql import Window

    e = load_table(spark, sf_dir, "events")
    scored = e.select(
        (F.col("event_type") == "error").alias("pos"),
        (
            3 * (F.col("user_id") % 97)
            - F.expr("CAST(ROUND(value * 100) AS BIGINT) DIV 50")
        ).alias("s"),
    )
    by_score = scored.groupBy("s").agg(
        F.sum(F.when(F.col("pos"), 1).otherwise(0)).alias("np"),
        F.sum(F.when(F.col("pos"), 0).otherwise(1)).alias("nn"),
    )
    w = Window.orderBy("s")
    cum = by_score.select(
        "s",
        F.sum("np").over(w).alias("cpos"),
        F.sum("nn").over(w).alias("cneg"),
    )
    tot = by_score.agg(F.sum("np").alias("P"), F.sum("nn").alias("N"))
    c = cum.crossJoin(F.broadcast(tot))
    tp = F.col("P") - F.col("cpos")
    fp = F.col("N") - F.col("cneg")
    return c.select(
        F.col("s").alias("threshold"),
        tp.cast("long").alias("tp"),
        fp.cast("long").alias("fp"),
        F.round(tp / (1.0 * F.col("P")), 6).alias("tpr"),
        F.round(fp / (1.0 * F.col("N")), 6).alias("fpr"),
        F.when(tp + fp > 0, F.round(tp / (1.0 * (tp + fp)), 6))
        .otherwise(F.lit(0.0))
        .alias("precision"),
        F.when(
            tp + fp + F.col("P") > 0,
            F.round(2.0 * tp / (1.0 * (tp + fp + F.col("P"))), 6),
        )
        .otherwise(F.lit(0.0))
        .alias("f1"),
    )
