"""Matryoshka two-stage retrieval: coarse search on a truncated
embedding prefix, exact rerank on the full vector.

The production ANN pattern for 100 TB vector corpora (published as
Matryoshka Representation Learning): embeddings are trained so that a
prefix of the vector is itself a usable lower-dim embedding. Retrieval
then runs in two stages — a cheap wide scan scoring only the first 16
dims (4× less memory bandwidth per candidate, the dominant cost of a
brute-force scan), followed by exact full-dim rescoring of the small
candidate set. Unlike hash/quantization ANN, BOTH stages here are
deterministic arithmetic, so the whole operator is oracle-checkable —
including the quality audit column (did the coarse stage keep the true
top-5?).

Oracle parity relies on the module-wide fold convention
(plans/similarity.py): dot products fold left-to-right in double
precision on both engines, so scores are bit-identical.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from web_attack_detection_spark.io.sources import load_table
from web_attack_detection_spark.operators.similarity import dot, l2_norm
from web_attack_detection_spark.plans.similarity import _SQL_DOT, _SQL_NORM, _ivf_oracle
from web_attack_detection_spark.plans.audit import audit_scale_ok
from web_attack_detection_spark.plans.registry import register

_N_QUERIES = 5
_PREFIX = 16
_COARSE_K = 20
_K = 5


def _sql_dot(a: str, b: str, n: int) -> str:
    return (
        "list_reduce(list_prepend(CAST(0 AS DOUBLE), "
        f"list_transform(range(1, {n + 1}), i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE))), "
        "(acc, x) -> acc + x)"
    )


def _sql_norm(a: str) -> str:
    return (
        "sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE), "
        f"list_transform({a}, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))), "
        "(acc, x) -> acc + x))"
    )


_MATRYOSHKA_ORACLE = f"""
WITH base AS (
  SELECT vec_id, embedding, embedding[1:{_PREFIX}] AS p
  FROM embeddings
),
nrm AS (
  SELECT vec_id,
         list_transform(embedding, x -> CAST(x AS DOUBLE) / {_sql_norm('embedding')}) AS u,
         list_transform(p, x -> CAST(x AS DOUBLE) / {_sql_norm('p')}) AS u16
  FROM base
),
coarse AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         {_sql_dot('q.u16', 'c.u16', _PREFIX)} AS coarse_score,
         q.u AS qu, c.u AS cu
  FROM nrm q JOIN nrm c ON c.vec_id <> q.vec_id
  WHERE q.vec_id < {_N_QUERIES}
),
cand AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                               ORDER BY coarse_score DESC, neighbor_id ASC) AS crk
  FROM coarse
),
rerank AS (
  SELECT query_id, neighbor_id,
         {_sql_dot('qu', 'cu', 64)} AS cos
  FROM cand WHERE crk <= {_COARSE_K}
),
final AS (
  SELECT query_id, neighbor_id, cos,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY cos DESC, neighbor_id ASC) AS rank
  FROM rerank
),
full_scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         {_sql_dot('q.u', 'c.u', 64)} AS cos
  FROM nrm q JOIN nrm c ON c.vec_id <> q.vec_id
  WHERE q.vec_id < {_N_QUERIES}
),
full_top AS (
  SELECT query_id, neighbor_id
  FROM (SELECT query_id, neighbor_id,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY cos DESC, neighbor_id ASC) AS rk
        FROM full_scored)
  WHERE rk <= {_K}
)
SELECT f.query_id, f.neighbor_id,
       CAST(f.rank AS INTEGER) AS rank,
       ROUND(f.cos, 6) AS cos,
       (ft.neighbor_id IS NOT NULL) AS in_full_topk
FROM final f
LEFT JOIN full_top ft
  ON f.query_id = ft.query_id AND f.neighbor_id = ft.neighbor_id
WHERE f.rank <= {_K}
"""


@register(
    "sim_matryoshka_rerank",
    _MATRYOSHKA_ORACLE,
    doc="matryoshka 16-dim coarse scan -> full-dim exact rerank, with in-full-topk audit",
)
def sim_matryoshka_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage retrieval with a built-in quality audit.

    Stage shapes at scale: the coarse stage is the only full-corpus
    scan and touches {_PREFIX}/64 of the vector bytes; queries are
    BROADCAST so the corpus never shuffles. The rerank stage touches
    only queries × {_COARSE_K} rows. The audit join (against the exact
    full-dim top-k, which exists here only because the fixture is
    small) is the self-evaluation pattern of sim_ivf_quantized_topk —
    in production you'd sample it, not compute it for every query.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    base = emb.select(
        "vec_id",
        F.col("embedding").alias("e"),
        F.slice("embedding", 1, _PREFIX).alias("p"),
    )
    nrm = base.select(
        "vec_id",
        F.transform("e", lambda x: x.cast("double") / l2_norm(F.col("e"))).alias("u"),
        F.transform("p", lambda x: x.cast("double") / l2_norm(F.col("p"))).alias("u16"),
    )
    q = nrm.filter(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("u").alias("qu"),
        F.col("u16").alias("qu16"),
    )
    coarse = (
        nrm.join(F.broadcast(q), F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            dot(F.col("qu16"), F.col("u16")).alias("coarse_score"),
            "qu",
            F.col("u").alias("cu"),
        )
    )
    wc = Window.partitionBy("query_id").orderBy(
        F.col("coarse_score").desc(), F.col("neighbor_id").asc()
    )
    cand = coarse.withColumn("crk", F.row_number().over(wc)).filter(
        F.col("crk") <= _COARSE_K
    )
    rerank = cand.select(
        "query_id", "neighbor_id", dot(F.col("qu"), F.col("cu")).alias("cos")
    )
    wf = Window.partitionBy("query_id").orderBy(
        F.col("cos").desc(), F.col("neighbor_id").asc()
    )
    final = rerank.withColumn("rank", F.row_number().over(wf)).filter(
        F.col("rank") <= _K
    )
    full = (
        nrm.join(F.broadcast(q), F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            dot(F.col("qu"), F.col("u")).alias("cos"),
        )
        .withColumn("rk", F.row_number().over(wf))
        .filter(F.col("rk") <= _K)
        .select("query_id", F.col("neighbor_id").alias("ft_neighbor"))
    )
    return (
        final.join(
            # queries x k rows — always broadcast the audit side
            F.broadcast(full),
            (final.query_id == full.query_id)
            & (final.neighbor_id == full.ft_neighbor),
            "left",
        )
        .select(
            final.query_id,
            final.neighbor_id,
            F.col("rank").cast("int").alias("rank"),
            F.round("cos", 6).alias("cos"),
            F.col("ft_neighbor").isNotNull().alias("in_full_topk"),
        )
    )


# ---------------------------------------------------------------------------
# filtered vector search: metadata predicate + top-k in one plan
# ---------------------------------------------------------------------------

_FILTERED_ORACLE = f"""
WITH nrm AS (
  SELECT vec_id, label,
         list_transform(embedding, x -> CAST(x AS DOUBLE) / {_sql_norm('embedding')}) AS u
  FROM embeddings
),
scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, c.label,
         {_sql_dot('q.u', 'c.u', 64)} AS cos
  FROM nrm q JOIN nrm c
    ON c.vec_id <> q.vec_id AND c.label = q.label
  WHERE q.vec_id < {_N_QUERIES}
)
SELECT query_id, neighbor_id, CAST(label AS INTEGER) AS label,
       ROUND(cos, 6) AS cos, CAST(rk AS INTEGER) AS rank
FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                               ORDER BY cos DESC, neighbor_id ASC) AS rk
  FROM scored
)
WHERE rk <= {_K}
"""


@register(
    "sim_filtered_topk",
    _FILTERED_ORACLE,
    doc="filtered vector search: same-label predicate + exact top-k in one plan",
)
def sim_filtered_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Predicate + vector search fused in one plan — the hybrid query
    every vector store is asked for ('nearest neighbors WHERE ...').
    The filter lives in the JOIN CONDITION, so Catalyst prunes
    non-matching candidates BEFORE the dot product is evaluated —
    pre-filtering, not post-filtering, which matters because
    post-filtering a top-k can return fewer than k survivors. Queries
    broadcast; corpus map-scanned; at IVF scale the same predicate
    simply rides along into the cell-pruned candidate scan."""
    emb = load_table(spark, sf_dir, "embeddings")
    nrm = emb.select(
        "vec_id",
        "label",
        F.transform(
            "embedding", lambda x: x.cast("double") / l2_norm(F.col("embedding"))
        ).alias("u"),
    )
    q = nrm.filter(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("label").alias("qlabel"),
        F.col("u").alias("qu"),
    )
    scored = nrm.join(
        F.broadcast(q),
        (F.col("vec_id") != F.col("query_id")) & (F.col("label") == F.col("qlabel")),
    ).select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        F.col("label").cast("int").alias("label"),
        dot(F.col("qu"), F.col("u")).alias("cos"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= _K)
        .select(
            "query_id",
            "neighbor_id",
            "label",
            F.round("cos", 6).alias("cos"),
            F.col("rank").cast("int").alias("rank"),
        )
    )


# ---------------------------------------------------------------------------
# embedding drift monitor: per-dimension distribution shift between
# two corpus slices (deployment observability for vector pipelines).
# ---------------------------------------------------------------------------

_DRIFT_ORACLE = """
WITH tagged AS (
  SELECT vec_id, embedding,
         CASE WHEN vec_id % 2 = 0 THEN 'ref' ELSE 'cur' END AS slice
  FROM embeddings
),
dims AS (
  SELECT slice, i AS dim,
         CAST(ROUND(CAST(embedding[i] AS DOUBLE) * 1000000) AS BIGINT) AS v
  FROM tagged, UNNEST(range(1, 65)) AS r(i)
),
stats AS (
  SELECT slice, dim,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(v) AS BIGINT) AS sv
  FROM dims GROUP BY slice, dim
),
paired AS (
  SELECT r.dim,
         ROUND(r.sv / CAST(r.n AS DOUBLE) / 1000000.0, 6) AS mean_ref,
         ROUND(c.sv / CAST(c.n AS DOUBLE) / 1000000.0, 6) AS mean_cur
  FROM (SELECT * FROM stats WHERE slice = 'ref') r
  JOIN (SELECT * FROM stats WHERE slice = 'cur') c USING (dim)
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_dims,
       ROUND(MAX(ABS(mean_cur - mean_ref)), 6) AS max_mean_shift,
       CAST(SUM(CASE WHEN ABS(mean_cur - mean_ref) > 0.05 THEN 1 ELSE 0 END)
            AS BIGINT) AS n_drifted_dims
FROM paired
"""


@register(
    "ml_drift_monitor",
    _DRIFT_ORACLE,
    doc="embedding drift: per-dim mean shift between reference and current slices",
)
def ml_drift_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deployment observability for vector pipelines: compare per-
    dimension embedding means between a reference slice and a current
    slice (deterministic id-parity split stands in for
    yesterday-vs-today), report the max shift and the count of
    dimensions past an alert threshold. posexplode fans each vector to
    (dim, value) rows — 64× row inflation but map-only; the per-
    (slice, dim) aggregate is one shuffle over 128 tiny groups with
    map-side combine, so at 100 TB the cost is the scan, exactly like
    profiling. Values integer-scaled at 1e-6 before summing
    (determinism contract); float32→double widening is exact."""
    emb = load_table(spark, sf_dir, "embeddings")
    tagged = emb.select(
        F.when(F.col("vec_id") % 2 == 0, "ref").otherwise("cur").alias("slice"),
        F.posexplode(F.col("embedding").cast("array<double>")).alias("dim0", "v"),
    ).select(
        "slice",
        (F.col("dim0") + 1).alias("dim"),
        F.round(F.col("v") * 1000000).cast("long").alias("v"),
    )
    stats = tagged.groupBy("slice", "dim").agg(
        F.count(F.lit(1)).alias("n"), F.sum("v").alias("sv")
    )
    ref = stats.filter(F.col("slice") == "ref").select(
        "dim", (F.col("sv") / F.col("n").cast("double") / 1000000.0).alias("m_ref")
    )
    cur = stats.filter(F.col("slice") == "cur").select(
        "dim", (F.col("sv") / F.col("n").cast("double") / 1000000.0).alias("m_cur")
    )
    paired = ref.join(cur, "dim").select(
        "dim",
        F.round("m_ref", 6).alias("mean_ref"),
        F.round("m_cur", 6).alias("mean_cur"),
    )
    diff = F.abs(F.col("mean_cur") - F.col("mean_ref"))
    return paired.agg(
        F.count(F.lit(1)).alias("n_dims"),
        F.round(F.max(diff), 6).alias("max_mean_shift"),
        F.sum(F.when(diff > 0.05, 1).otherwise(0)).cast("long").alias("n_drifted_dims"),
    )


# ---------------------------------------------------------------------------
# nearest-centroid classifier: class prototypes + integer-exact
# assignment, evaluated as a confusion matrix.
# ---------------------------------------------------------------------------

_NCC_ORACLE = """
WITH elems AS (
  SELECT vec_id, label, i AS pos,
         CAST(ROUND(CAST(embedding[i] AS DOUBLE) * 1000000) AS BIGINT) AS v
  FROM embeddings, UNNEST(range(1, 65)) AS r(i)
),
cent AS (
  SELECT label AS cent_label, pos,
         CAST(ROUND(SUM(v) / CAST(COUNT(*) AS DOUBLE)) AS BIGINT) AS m
  FROM elems GROUP BY label, pos
),
d2 AS (
  SELECT e.vec_id, e.label, c.cent_label,
         CAST(SUM((e.v - c.m) * (e.v - c.m)) AS BIGINT) AS dist2
  FROM elems e JOIN cent c USING (pos)
  GROUP BY 1, 2, 3
),
assigned AS (
  SELECT vec_id, label, cent_label,
         ROW_NUMBER() OVER (PARTITION BY vec_id
                            ORDER BY dist2 ASC, cent_label ASC) AS rn
  FROM d2
)
SELECT CAST(label AS INTEGER) AS true_label,
       CAST(cent_label AS INTEGER) AS assigned_label,
       CAST(COUNT(*) AS BIGINT) AS n
FROM assigned WHERE rn = 1
GROUP BY 1, 2
"""


@register(
    "sim_centroid_classifier",
    _NCC_ORACLE,
    doc="nearest-centroid classification: integer-exact prototypes + confusion counts",
)
def sim_centroid_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-class-mean classification without MLlib: fit = the
    per-label centroid aggregate (sim_label_centroids' integer-scaled
    micro-unit means), predict = argmin of an ALL-INTEGER squared
    distance (micro-unit diffs squared sum within int64), evaluated
    in-plan as the confusion matrix. Everything after the centroid
    aggregate is map-only once centroids broadcast — the cheapest
    deployable classifier over embeddings and a bit-exact one: no
    float accumulation anywhere, so engines and partition orders agree
    on every assignment including ties (broken by label order)."""
    emb = load_table(spark, sf_dir, "embeddings")
    elems = emb.select(
        "vec_id",
        "label",
        F.posexplode(F.col("embedding").cast("array<double>")).alias("pos0", "e"),
    ).select(
        "vec_id",
        "label",
        (F.col("pos0") + 1).alias("pos"),
        F.round(F.col("e") * 1000000).cast("long").alias("v"),
    )
    cent = elems.groupBy(F.col("label").alias("cent_label"), "pos").agg(
        F.round(F.sum("v") / F.count(F.lit(1)).cast("double")).cast("long").alias("m")
    )
    d2 = (
        elems.join(F.broadcast(cent), "pos")
        .groupBy("vec_id", "label", "cent_label")
        .agg(F.sum((F.col("v") - F.col("m")) * (F.col("v") - F.col("m"))).alias("dist2"))
    )
    w = Window.partitionBy("vec_id").orderBy(
        F.col("dist2").asc(), F.col("cent_label").asc()
    )
    assigned = d2.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") == 1)
    return assigned.groupBy(
        F.col("label").cast("int").alias("true_label"),
        F.col("cent_label").cast("int").alias("assigned_label"),
    ).agg(F.count(F.lit(1)).alias("n"))


# ---------------------------------------------------------------------------
# persisted IVF index: stored cell-partitioned layout + DPP-pruned probes
# (round 4 — completes the persistent-index story sim_ivf_topk documents)
# ---------------------------------------------------------------------------


def _ivf_store(spark: SparkSession, sf_dir: str) -> tuple[str, str]:
    """Build the IVF index ONCE and persist it the way a deployment
    would: ``assigned`` (vec_id, embedding, cell) as a catalog table
    PARTITIONED BY cell — the directory structure is the index — and
    the 16 centroids as a tiny sibling table. Query-time probes then
    read only the probed cells' directories (dynamic partition
    pruning via the broadcast probe join; asserted in
    tests/test_explain.py). A content-keyed catalog fixture
    (io/fixtures.fixture_tables): built once per embeddings content
    and session, overwritten in place (ADVICE r3/r4)."""
    from web_attack_detection_spark.io.fixtures import fixture_tables
    from web_attack_detection_spark.io.sinks import (
        stable_bucketed_table,
        stable_partitioned_table,
    )
    from web_attack_detection_spark.operators.similarity import ivf_assign

    def build(cells: str, cents: str) -> None:
        emb = load_table(spark, sf_dir, "embeddings")
        centroids, assigned = ivf_assign(emb, k_centroids=16)
        stable_partitioned_table(spark, assigned, cells, ["cell"])
        stable_bucketed_table(spark, centroids, cents, "cell")

    return fixture_tables(
        spark, sf_dir, ["embeddings"], ("ivf_cells", "ivf_cents"), build
    )


@register(
    "sim_ivf_indexed",
    _ivf_oracle(),
    doc="ANN top-k against a STORED cell-partitioned IVF index (DPP-pruned probes), FULL oracle",
    setup=_ivf_store,
)
def sim_ivf_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``sim_ivf_topk`` semantics served from the PERSISTED index
    (``_ivf_store``): identical output — tests assert row-for-row
    equality with the in-query build — but the corpus side reads the
    stored cell-partitioned layout, so each query batch touches only
    its probed cells' files instead of rescanning and re-clustering
    the corpus. This is the ANN deployment shape at 100 TB: the index
    build (clustering + assignment) is paid once at ingest; per-batch
    query cost is |probed partitions|, enforced by partition pruning
    rather than trust. FULLY oracle-checked since round 7: centroid
    seeding moved to the engine-portable mixer hash and the Lloyd
    refinement to pico-unit integer sums, so the DuckDB twin replays
    the WHOLE index build + serve value-for-value
    (plans/similarity._ivf_oracle), same as sim_ivf_topk — and the
    result still carries the in-query audit: exact
    brute-force top-k is recomputed for the same query batch (the
    oracle-scale relation, not the serving path) and ``recall_at_k``
    reports the served/exact overlap, bound-pinned in
    tests/test_similarity.py; the audit is GATED by
    ``plans.audit.audit_scale_ok`` (corpus ≤ AUDIT_MAX_ROWS — NULL
    above it, r6 advice).  The serving plan itself stays
    exchange-free on index rows (tests/test_explain.py)."""
    from web_attack_detection_spark.operators.similarity import (
        brute_force_topk,
        ivf_topk_from_index,
    )

    a_name, c_name = _ivf_store(spark, sf_dir)
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    served = ivf_topk_from_index(
        spark.table(c_name),
        spark.table(a_name),
        queries,
        k=5,
        n_probe=4,
    )
    if audit_scale_ok(emb):
        exact = brute_force_topk(emb, queries, k=5)
        audit = (
            served.select("query_id", "neighbor_id")
            .join(
                exact.select("query_id", "neighbor_id"),
                ["query_id", "neighbor_id"],
            )
            .agg(F.count(F.lit(1)).alias("__hit"))
            .crossJoin(F.broadcast(exact.agg(F.count(F.lit(1)).alias("__n"))))
            .select(
                F.round(F.col("__hit") / F.col("__n"), 6).alias("recall_at_k")
            )
        )
    else:
        audit = spark.range(1).select(
            F.lit(None).cast("double").alias("recall_at_k")
        )
    return served.crossJoin(F.broadcast(audit)).orderBy("query_id", "rank")


# ---------------------------------------------------------------------------
# cluster-then-dedup (the SemDeDup shape)
# ---------------------------------------------------------------------------

_SEMDEDUP_ORACLE = f"""
WITH RECURSIVE nrm AS (
  SELECT vec_id, embedding, {_SQL_NORM.format(a='embedding')} AS n FROM embeddings
),
unit AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE) / n) AS u FROM nrm
),
cells AS (
  SELECT vec_id, u,
         (CASE WHEN u[1]  > 0 THEN 1 ELSE 0 END
        + CASE WHEN u[11] > 0 THEN 2 ELSE 0 END
        + CASE WHEN u[21] > 0 THEN 4 ELSE 0 END
        + CASE WHEN u[31] > 0 THEN 8 ELSE 0 END) AS cell
  FROM unit
),
jp AS (
  SELECT a.cell, a.vec_id AS id_a, b.vec_id AS id_b
  FROM cells a JOIN cells b ON a.cell = b.cell AND a.vec_id < b.vec_id
  WHERE {_SQL_DOT.format(a='a.u', b='b.u')} >= 0.35
),
edges AS (
  SELECT id_a AS u, id_b AS v FROM jp
  UNION SELECT id_b, id_a FROM jp
),
reach(src, dst) AS (
  SELECT u, u FROM edges
  UNION SELECT r.src, e.v FROM reach r JOIN edges e ON r.dst = e.u
),
cc AS (SELECT src, MIN(dst) AS component FROM reach GROUP BY src),
per_cell AS (SELECT cell, COUNT(*) AS n_vectors FROM cells GROUP BY cell),
pair_cell AS (SELECT cell, COUNT(*) AS n_dup_pairs FROM jp GROUP BY cell),
rm AS (
  SELECT cl.cell, COUNT(*) - COUNT(DISTINCT c.component) AS n_removed
  FROM cc c JOIN cells cl ON cl.vec_id = c.src
  GROUP BY cl.cell
)
SELECT CAST(g.cell AS INT) AS cell,
       CAST(g.n_vectors AS BIGINT) AS n_vectors,
       CAST(COALESCE(p.n_dup_pairs, 0) AS BIGINT) AS n_dup_pairs,
       CAST(COALESCE(r.n_removed, 0) AS BIGINT) AS n_removed
FROM per_cell g
LEFT JOIN pair_cell p USING (cell)
LEFT JOIN rm r USING (cell)
"""


@register(
    "dedup_semantic_clustered",
    _SEMDEDUP_ORACLE,
    doc="cluster-then-dedup (SemDeDup shape): sign-bit cells, within-cell cosine CC",
)
def dedup_semantic_clustered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic dedup at corpus scale, the SemDeDup way (Abbas et al.
    2023, arXiv:2303.09540): cluster the embedding space first, then
    search for near-duplicates ONLY within clusters — pair volume
    drops from n² to Σ|cell|², and every stage stays embarrassingly
    parallel (the pair generator is an EQUI-join on the cell id, never
    a cross join).

    The cluster assignment here is a deterministic 4-bit sign
    quantization of fixed unit-vector dimensions, so the whole
    operator — cells, within-cell cosine pairs (module fold
    convention, bit-identical), duplicate-group collapse, per-cell
    removal counts — is SQL-expressible and oracle-checked; swap the
    cell function for trained k-means centroids (``sim_ivf_topk``'s
    assignment) and the plan is unchanged. Returns one row per cell:
    (cell, n_vectors, n_dup_pairs, n_removed); removed = members of
    dup groups minus one survivor (min id) per group."""
    from web_attack_detection_spark.operators.dedup import connected_components
    from web_attack_detection_spark.operators.similarity import (
        cell_dup_pairs,
        unit_normalize,
    )

    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    unit = unit_normalize(emb, "embedding", "u")
    cell = sum(
        F.when(F.element_at("u", d + 1) > 0, F.lit(1 << k)).otherwise(F.lit(0))
        for k, d in enumerate((0, 10, 20, 30))
    ).cast("int")
    cells = unit.select("vec_id", "u", cell.alias("cell"))

    # within-cell pair stage as the per-cell numpy block kernel (r10:
    # join + interpreted fold measured 3.1-3.6 s at sf0.1 → kernel
    # sub-second; the threshold tests the exact fold-identical cos, so
    # the kept pairs — and the DuckDB replay — are unchanged)
    pairs = (
        cell_dup_pairs(cells, threshold=0.35, vec_col="u")
        .select(
            F.col("cell").cast("int").alias("cell"),
            F.col("src").alias("id_a"),
            F.col("dst").alias("id_b"),
        )
    )
    pairs = pairs.localCheckpoint()  # feeds three consumers below

    cc = connected_components(pairs)
    per_cell = cells.groupBy("cell").agg(F.count(F.lit(1)).alias("n_vectors"))
    pair_cell = pairs.groupBy("cell").agg(F.count(F.lit(1)).alias("n_dup_pairs"))
    rm = (
        cc.join(cells.select(F.col("vec_id").alias("id"), "cell"), "id")
        .groupBy("cell")
        .agg(
            (F.count(F.lit(1)) - F.countDistinct("component")).alias("n_removed")
        )
    )
    return (
        per_cell.join(pair_cell, "cell", "left")
        .join(rm, "cell", "left")
        .select(
            "cell",
            F.col("n_vectors").cast("long"),
            F.coalesce("n_dup_pairs", F.lit(0)).cast("long").alias("n_dup_pairs"),
            F.coalesce("n_removed", F.lit(0)).cast("long").alias("n_removed"),
        )
    )


# ---------------------------------------------------------------------------
# product quantization + asymmetric distance computation (ADC)
# ---------------------------------------------------------------------------

# 8 subspaces x 8 dims, 16 codewords per subspace (the subvectors of
# vec_id 0..15 — a deterministic codebook; k-means-trained codebooks
# drop into the same cb relation). All distances are exact BIGINT on
# the 1e6-quantized grid, so encoding argmins (code-id tie-break),
# ADC sums, and rankings are engine-identical.
_PQ_ADC_ORACLE = """
WITH elems AS (
  SELECT vec_id, i - 1 AS pos0,
         CAST(ROUND(CAST(embedding[i] AS DOUBLE) * 1000000) AS BIGINT) AS v
  FROM embeddings, UNNEST(range(1, 65)) AS r(i)
),
sub AS (
  SELECT vec_id, pos0 // 8 AS s, pos0 % 8 AS j, v FROM elems
),
cb AS (
  SELECT vec_id AS code_id, s, j, v AS c FROM sub WHERE vec_id < 16
),
enc_d AS (
  SELECT t.vec_id, t.s, c.code_id,
         CAST(SUM((t.v - c.c) * (t.v - c.c)) AS BIGINT) AS d
  FROM sub t JOIN cb c ON c.s = t.s AND c.j = t.j
  GROUP BY 1, 2, 3
),
codes AS (
  SELECT vec_id, s, code_id FROM (
    SELECT *, ROW_NUMBER() OVER (
      PARTITION BY vec_id, s ORDER BY d ASC, code_id ASC) AS rn
    FROM enc_d
  ) WHERE rn = 1
),
qsub AS (SELECT vec_id AS q_id, s, j, v AS qv FROM sub WHERE vec_id % 250 = 0),
lut AS (
  SELECT q.q_id, c.s, c.code_id,
         CAST(SUM((q.qv - c.c) * (q.qv - c.c)) AS BIGINT) AS ld
  FROM qsub q JOIN cb c ON c.s = q.s AND c.j = q.j
  GROUP BY 1, 2, 3
),
adc AS (
  SELECT l.q_id, t.vec_id, CAST(SUM(l.ld) AS BIGINT) AS adist
  FROM codes t JOIN lut l ON l.s = t.s AND l.code_id = t.code_id
  WHERE t.vec_id <> l.q_id
  GROUP BY 1, 2
),
ranked AS (
  SELECT q_id, vec_id, adist,
         ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY adist ASC, vec_id ASC) AS rank
  FROM adc
),
exact_d AS (
  SELECT q.vec_id AS q_id, t.vec_id,
         CAST(SUM((t.v - q.v) * (t.v - q.v)) AS BIGINT) AS dist
  FROM elems t
  JOIN (SELECT * FROM elems WHERE vec_id % 250 = 0) q ON q.pos0 = t.pos0
  WHERE t.vec_id <> q.vec_id
  GROUP BY 1, 2
),
ex5 AS (
  SELECT q_id, vec_id FROM (
    SELECT *, ROW_NUMBER() OVER (
      PARTITION BY q_id ORDER BY dist ASC, vec_id ASC) AS rn
    FROM exact_d
  ) WHERE rn <= 5
)
SELECT r.q_id, CAST(r.rank AS BIGINT) AS rank, r.vec_id,
       ROUND(r.adist / 1000000000000.0, 6) AS adc_dist,
       CAST(CASE WHEN e.vec_id IS NULL THEN 0 ELSE 1 END AS BIGINT) AS in_exact_top5
FROM ranked r
LEFT JOIN ex5 e ON e.q_id = r.q_id AND e.vec_id = r.vec_id
WHERE r.rank <= 5
"""


@register(
    "sim_pq_adc_topk",
    _PQ_ADC_ORACLE,
    doc="product-quantization ADC top-5 (8x8 subspaces, 16 codes) with exact-top-5 audit",
)
def sim_pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product quantization — the memory trick that makes
    billion-vector ANN fit in RAM: each 64-dim vector compresses to 8
    four-bit codes (one nearest codeword per 8-dim subspace), and
    query-time distance is the ADC sum of 8 LOOKUPS into a per-query
    table of query-to-codeword distances — the scan never touches raw
    db vectors. The plan IS that deployment shape: encoding is a
    broadcast codebook join + per-(vector, subspace) argmin; the LUT
    is queries x 8 x 16 rows (tiny, broadcast); the scan side joins
    CODES to LUT and sums — per-vector cost is 8 lookup rows
    regardless of dimensionality. Every distance is exact BIGINT on
    the 1e6 grid with code-id/vec-id tie-breaks, so ranks are
    engine-identical, and each returned neighbor carries an
    in_exact_top5 audit flag (the PQ recall the deployment would
    monitor). Codebook here is deterministic (first 16 vectors);
    a k-means-trained codebook drops into the same relation."""
    emb = load_table(spark, sf_dir, "embeddings")
    elems = emb.select(
        "vec_id",
        F.posexplode(F.col("embedding").cast("array<double>")).alias("pos0", "e"),
    ).select(
        "vec_id",
        "pos0",
        F.round(F.col("e") * 1000000).cast("long").alias("v"),
    )
    sub = elems.select(
        "vec_id",
        F.floor(F.col("pos0") / 8).cast("long").alias("s"),
        (F.col("pos0") % 8).cast("long").alias("j"),
        "v",
    )
    cb = sub.filter(F.col("vec_id") < 16).select(
        F.col("vec_id").alias("code_id"), "s", "j", F.col("v").alias("c")
    )
    enc_d = (
        sub.join(F.broadcast(cb), ["s", "j"])
        .groupBy("vec_id", "s", "code_id")
        .agg(F.sum((F.col("v") - F.col("c")) * (F.col("v") - F.col("c"))).alias("d"))
    )
    ew = Window.partitionBy("vec_id", "s").orderBy(
        F.col("d").asc(), F.col("code_id").asc()
    )
    codes = (
        enc_d.withColumn("rn", F.row_number().over(ew))
        .filter(F.col("rn") == 1)
        .select("vec_id", "s", "code_id")
    )
    qsub = sub.filter(F.col("vec_id") % 250 == 0).select(
        F.col("vec_id").alias("q_id"), "s", "j", F.col("v").alias("qv")
    )
    lut = (
        qsub.join(F.broadcast(cb), ["s", "j"])
        .groupBy("q_id", "s", "code_id")
        .agg(F.sum((F.col("qv") - F.col("c")) * (F.col("qv") - F.col("c"))).alias("ld"))
    )
    adc = (
        codes.join(F.broadcast(lut), ["s", "code_id"])
        .filter(F.col("vec_id") != F.col("q_id"))
        .groupBy("q_id", "vec_id")
        .agg(F.sum("ld").cast("long").alias("adist"))
    )
    rw = Window.partitionBy("q_id").orderBy(F.col("adist").asc(), F.col("vec_id").asc())
    ranked = (
        adc.withColumn("rank", F.row_number().over(rw))
        .filter(F.col("rank") <= 5)
    )
    qe = elems.filter(F.col("vec_id") % 250 == 0).select(
        F.col("vec_id").alias("q_id"), "pos0", F.col("v").alias("qv")
    )
    exact_d = (
        elems.join(F.broadcast(qe), "pos0")
        .filter(F.col("vec_id") != F.col("q_id"))
        .groupBy("q_id", "vec_id")
        .agg(F.sum((F.col("v") - F.col("qv")) * (F.col("v") - F.col("qv"))).alias("dist"))
    )
    xw = Window.partitionBy("q_id").orderBy(F.col("dist").asc(), F.col("vec_id").asc())
    ex5 = (
        exact_d.withColumn("rn", F.row_number().over(xw))
        .filter(F.col("rn") <= 5)
        .select("q_id", F.col("vec_id").alias("x_vec"))
    )
    return (
        ranked.join(
            ex5,
            (ranked.q_id == ex5.q_id) & (ranked.vec_id == ex5.x_vec),
            "left",
        )
        .select(
            ranked.q_id,
            F.col("rank").cast("long"),
            ranked.vec_id,
            F.round(F.col("adist") / 1000000000000.0, 6).alias("adc_dist"),
            F.when(F.col("x_vec").isNotNull(), 1).otherwise(0).cast("long").alias(
                "in_exact_top5"
            ),
        )
    )


# ---------------------------------------------------------------------------
# hard-negative mining for retrieval training
# ---------------------------------------------------------------------------

_HARD_NEG_ORACLE = """
WITH elems AS (
  SELECT vec_id, label, i - 1 AS pos0,
         CAST(ROUND(CAST(embedding[i] AS DOUBLE) * 1000000) AS BIGINT) AS v
  FROM embeddings, UNNEST(range(1, 65)) AS r(i)
),
q AS (SELECT vec_id AS q_id, label AS q_label, pos0, v AS qv
      FROM elems WHERE vec_id % 250 = 0),
dots AS (
  SELECT q.q_id, q.q_label, e.vec_id, e.label,
         CAST(SUM(q.qv * e.v) AS BIGINT) AS dot
  FROM elems e JOIN q ON q.pos0 = e.pos0
  WHERE e.label <> q.q_label
  GROUP BY 1, 2, 3, 4
),
ranked AS (
  SELECT q_id, vec_id, label AS neg_label, dot,
         ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY dot DESC, vec_id ASC) AS rank
  FROM dots
)
SELECT q_id, CAST(rank AS BIGINT) AS rank, vec_id AS neg_id, neg_label,
       ROUND(dot / 1000000000000.0, 6) AS similarity
FROM ranked WHERE rank <= 3
"""


@register(
    "sim_hard_negatives",
    _HARD_NEG_ORACLE,
    doc="hard-negative mining: top-3 most-similar OTHER-label vectors per query, integer-exact",
)
def sim_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The contrastive-training data miner: for each query vector,
    the 3 most similar vectors with a DIFFERENT label — the 'hard
    negatives' that make embedding training converge (random
    negatives are too easy; these sit right at the decision
    boundary). The label-mismatch predicate is fused BEFORE the dot
    product is aggregated, so excluded same-label pairs never cost a
    multiplication, and the dot is an exact BIGINT on the 1e6 grid
    with (dot desc, vec_id) ranking — the same determinism discipline
    as sim_quantized_topk. At scale the query side is tiny and
    broadcast; mining every vector's negatives instead (q = all)
    turns this into the IVF-bucketed shape sim_ivf_topk already
    carries."""
    emb = load_table(spark, sf_dir, "embeddings")
    elems = emb.select(
        "vec_id",
        "label",
        F.posexplode(F.col("embedding").cast("array<double>")).alias("pos0", "e"),
    ).select(
        "vec_id",
        "label",
        "pos0",
        F.round(F.col("e") * 1000000).cast("long").alias("v"),
    )
    q = elems.filter(F.col("vec_id") % 250 == 0).select(
        F.col("vec_id").alias("q_id"),
        F.col("label").alias("q_label"),
        "pos0",
        F.col("v").alias("qv"),
    )
    dots = (
        elems.join(F.broadcast(q), "pos0")
        .filter(F.col("label") != F.col("q_label"))
        .groupBy("q_id", "vec_id", "label")
        .agg(F.sum(F.col("qv") * F.col("v")).cast("long").alias("dot"))
    )
    rw = Window.partitionBy("q_id").orderBy(F.col("dot").desc(), F.col("vec_id").asc())
    return (
        dots.withColumn("rank", F.row_number().over(rw).cast("long"))
        .filter(F.col("rank") <= 3)
        .select(
            "q_id",
            "rank",
            F.col("vec_id").alias("neg_id"),
            F.col("label").alias("neg_label"),
            F.round(F.col("dot") / 1000000000000.0, 6).alias("similarity"),
        )
    )


# ---------------------------------------------------------------------------
# ranking-quality evaluation: NDCG@10 + MRR, pinned DCG weights
# ---------------------------------------------------------------------------

# 1/log2(rank+1) at 1e6, pinned so neither engine evaluates a log;
# DCG and ideal-DCG become exact BIGINT sums of these literals.
_NDCG_W = {
    1: 1000000, 2: 630930, 3: 500000, 4: 430677, 5: 386853,
    6: 356207, 7: 333333, 8: 315465, 9: 301030, 10: 289065,
}

_NDCG_CASE_SQL = "CASE rank " + " ".join(
    f"WHEN {r} THEN {w}" for r, w in _NDCG_W.items()
) + " END"

_NDCG_ORACLE = f"""
WITH elems AS (
  SELECT vec_id, label, i - 1 AS pos0,
         CAST(ROUND(CAST(embedding[i] AS DOUBLE) * 1000000) AS BIGINT) AS v
  FROM embeddings, UNNEST(range(1, 65)) AS r(i)
),
q AS (SELECT vec_id AS q_id, label AS q_label, pos0, v AS qv
      FROM elems WHERE vec_id % 250 = 0),
dots AS (
  SELECT q.q_id, q.q_label, e.vec_id, e.label,
         CAST(SUM(q.qv * e.v) AS BIGINT) AS dot
  FROM elems e JOIN q ON q.pos0 = e.pos0
  WHERE e.vec_id <> q.q_id
  GROUP BY 1, 2, 3, 4
),
ranked AS (
  SELECT q_id, q_label, label,
         ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY dot DESC, vec_id ASC) AS rank
  FROM dots
),
top10 AS (SELECT * FROM ranked WHERE rank <= 10),
scored AS (
  SELECT q_id,
         CAST(SUM(CASE WHEN label = q_label
                  THEN CAST({_NDCG_CASE_SQL} AS BIGINT) ELSE 0 END) AS BIGINT) AS dcg,
         CAST(SUM(CASE WHEN label = q_label THEN 1 ELSE 0 END) AS BIGINT) AS n_rel,
         CAST(MIN(CASE WHEN label = q_label THEN rank END) AS BIGINT) AS first_rel
  FROM top10 GROUP BY q_id
),
ideal AS (
  SELECT s.q_id, s.dcg, s.n_rel, s.first_rel,
         CAST(COALESCE((
           SELECT SUM(w.wt) FROM (
             SELECT UNNEST(range(1, 11)) AS rk,
                    UNNEST([1000000, 630930, 500000, 430677, 386853,
                            356207, 333333, 315465, 301030, 289065]) AS wt
           ) w WHERE w.rk <= s.n_rel
         ), 0) AS BIGINT) AS idcg
  FROM scored s
)
SELECT q_id, n_rel,
       ROUND(CASE WHEN idcg > 0 THEN dcg / (1.0 * idcg) ELSE 0.0 END, 6) AS ndcg_at_10,
       ROUND(CASE WHEN first_rel IS NOT NULL THEN 1.0 / first_rel ELSE 0.0 END, 6)
         AS reciprocal_rank
FROM ideal
"""


@register(
    "sim_ndcg_at_k",
    _NDCG_ORACLE,
    doc="NDCG@10 + MRR per query with pinned 1/log2 weight literals, exact BIGINT sums",
)
def sim_ndcg_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ranking-quality scorecard a retrieval deployment tracks:
    NDCG@10 (position-discounted relevance, here binary same-label
    relevance over the quantized-dot ranking) and MRR (reciprocal
    rank of the first relevant hit). The 1/log2(rank+1) discounts are
    PINNED 1e6-scaled literals — the same no-engine-evaluates-a-log
    discipline as rel_benford_digits — so DCG and the ideal DCG are
    exact BIGINT sums and each query's score is one division.
    Completes the retrieval-eval loop: sim_* queries produce
    rankings, the in-query recall audits check candidate coverage,
    and this scores final ranking QUALITY. Same broadcast-query scan
    shape as sim_hard_negatives."""
    emb = load_table(spark, sf_dir, "embeddings")
    elems = emb.select(
        "vec_id",
        "label",
        F.posexplode(F.col("embedding").cast("array<double>")).alias("pos0", "e"),
    ).select(
        "vec_id",
        "label",
        "pos0",
        F.round(F.col("e") * 1000000).cast("long").alias("v"),
    )
    q = elems.filter(F.col("vec_id") % 250 == 0).select(
        F.col("vec_id").alias("q_id"),
        F.col("label").alias("q_label"),
        "pos0",
        F.col("v").alias("qv"),
    )
    dots = (
        elems.join(F.broadcast(q), "pos0")
        .filter(F.col("vec_id") != F.col("q_id"))
        .groupBy("q_id", "q_label", "vec_id", "label")
        .agg(F.sum(F.col("qv") * F.col("v")).cast("long").alias("dot"))
    )
    rw = Window.partitionBy("q_id").orderBy(F.col("dot").desc(), F.col("vec_id").asc())
    top10 = dots.withColumn("rank", F.row_number().over(rw)).filter(F.col("rank") <= 10)
    wmap = F.create_map(*[F.lit(x) for kv in _NDCG_W.items() for x in kv])
    scored = top10.groupBy("q_id").agg(
        F.sum(
            F.when(F.col("label") == F.col("q_label"), wmap[F.col("rank")]).otherwise(0)
        )
        .cast("long")
        .alias("dcg"),
        F.sum(F.when(F.col("label") == F.col("q_label"), 1).otherwise(0))
        .cast("long")
        .alias("n_rel"),
        F.min(F.when(F.col("label") == F.col("q_label"), F.col("rank")))
        .cast("long")
        .alias("first_rel"),
    )
    # ideal DCG = the n_rel largest weights = prefix sums of the pinned
    # literal table, materialized as a tiny broadcast relation
    prefix = [(k, sum(_NDCG_W[i] for i in range(1, k + 1))) for k in range(0, 11)]
    idcg = spark.createDataFrame(prefix, "n_rel long, idcg long")
    return scored.join(F.broadcast(idcg), "n_rel").select(
        "q_id",
        "n_rel",
        F.round(
            F.when(F.col("idcg") > 0, F.col("dcg") / (1.0 * F.col("idcg"))).otherwise(
                0.0
            ),
            6,
        ).alias("ndcg_at_10"),
        F.round(
            F.when(
                F.col("first_rel").isNotNull(), 1.0 / F.col("first_rel")
            ).otherwise(0.0),
            6,
        ).alias("reciprocal_rank"),
    )


# ---------------------------------------------------------------------------
# precision / recall @ k curve (k = 1, 3, 5, 10) in one ranking pass
# ---------------------------------------------------------------------------

_PR_AT_K_ORACLE = """
WITH elems AS (
  SELECT vec_id, label, i - 1 AS pos0,
         CAST(ROUND(CAST(embedding[i] AS DOUBLE) * 1000000) AS BIGINT) AS v
  FROM embeddings, UNNEST(range(1, 65)) AS r(i)
),
q AS (SELECT vec_id AS q_id, label AS q_label, pos0, v AS qv
      FROM elems WHERE vec_id % 250 = 0),
dots AS (
  SELECT q.q_id, q.q_label, e.vec_id, e.label,
         CAST(SUM(q.qv * e.v) AS BIGINT) AS dot
  FROM elems e JOIN q ON q.pos0 = e.pos0
  WHERE e.vec_id <> q.q_id
  GROUP BY 1, 2, 3, 4
),
ranked AS (
  SELECT q_id, q_label, label,
         ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY dot DESC, vec_id ASC) AS rank
  FROM dots
),
rel_tot AS (
  SELECT q_id, CAST(COUNT(*) AS BIGINT) AS n_rel_total
  FROM ranked WHERE label = q_label GROUP BY q_id
),
ks AS (SELECT UNNEST([1, 3, 5, 10]) AS k),
hits AS (
  SELECT r.q_id, k.k,
         CAST(SUM(CASE WHEN r.label = r.q_label THEN 1 ELSE 0 END) AS BIGINT) AS h
  FROM ranked r JOIN ks k ON r.rank <= k.k
  GROUP BY r.q_id, k.k
)
SELECT h.q_id, CAST(h.k AS BIGINT) AS k, h.h AS n_hits,
       ROUND(h.h / (1.0 * h.k), 6) AS precision_at_k,
       ROUND(h.h / (1.0 * t.n_rel_total), 6) AS recall_at_k
FROM hits h JOIN rel_tot t USING (q_id)
"""


@register(
    "sim_precision_recall_at_k",
    _PR_AT_K_ORACLE,
    doc="P@k and R@k (k=1,3,5,10) from ONE ranking pass, exact hit counts",
)
def sim_precision_recall_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The other two retrieval dials next to sim_ndcg_at_k: precision
    (how much of the page is relevant) and recall (how much of the
    relevant corpus the page found) at the standard cutoffs — all
    four k values measured from ONE ranking pass (the k spine joins
    the ranked relation on rank <= k; no re-ranking per cutoff). Hit
    counts and relevant totals are exact BIGINT, each score one
    division. Same broadcast-query ranking shape as the rest of the
    eval family."""
    emb = load_table(spark, sf_dir, "embeddings")
    elems = emb.select(
        "vec_id",
        "label",
        F.posexplode(F.col("embedding").cast("array<double>")).alias("pos0", "e"),
    ).select(
        "vec_id", "label", "pos0",
        F.round(F.col("e") * 1000000).cast("long").alias("v"),
    )
    q = elems.filter(F.col("vec_id") % 250 == 0).select(
        F.col("vec_id").alias("q_id"),
        F.col("label").alias("q_label"),
        "pos0",
        F.col("v").alias("qv"),
    )
    dots = (
        elems.join(F.broadcast(q), "pos0")
        .filter(F.col("vec_id") != F.col("q_id"))
        .groupBy("q_id", "q_label", "vec_id", "label")
        .agg(F.sum(F.col("qv") * F.col("v")).cast("long").alias("dot"))
    )
    rw = Window.partitionBy("q_id").orderBy(F.col("dot").desc(), F.col("vec_id").asc())
    ranked = dots.withColumn("rank", F.row_number().over(rw)).localCheckpoint()
    rel_tot = (
        ranked.filter(F.col("label") == F.col("q_label"))
        .groupBy("q_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_rel_total"))
    )
    ks = spark.range(1).select(
        F.explode(F.array(*[F.lit(k) for k in (1, 3, 5, 10)])).alias("k")
    )
    hits = (
        ranked.join(F.broadcast(ks), ranked.rank <= F.col("k"))
        .groupBy("q_id", "k")
        .agg(
            F.sum(F.when(F.col("label") == F.col("q_label"), 1).otherwise(0))
            .cast("long")
            .alias("h")
        )
    )
    return hits.join(F.broadcast(rel_tot), "q_id").select(
        "q_id",
        F.col("k").cast("long"),
        F.col("h").alias("n_hits"),
        F.round(F.col("h") / (1.0 * F.col("k")), 6).alias("precision_at_k"),
        F.round(F.col("h") / (1.0 * F.col("n_rel_total")), 6).alias("recall_at_k"),
    )
