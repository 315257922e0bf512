"""Engine side of the exact trainers, defined once for every model.

The exact trainers (plans/mlq ml_logreg_train_eval and ml_mlp_exact,
plans/rnnx, plans/cnnx, plans/lstmx) and their serving consumers
(plans/streamq's four ``stream_*_trained_scoring`` queries and
plans/pipelineq pipe_curriculum_order) share three pieces, all here:

- the standardization prep (:func:`fit_stdz`): quantized features,
  exact BIGINT/DECIMAL moments of the train split, one IEEE division
  + hardware sqrt per constant, z-scores — the engine twin of
  plans/mlq ``STDZ_BASE_CTES``;
- one SQL-text forward fragment per architecture (``ExactArch.forward``),
  built from the current weights with ``sqltext.sql_double`` literals.
  Each training round appends the architecture's gradient layers to it
  and runs as ONE Spark SQL aggregate over the checkpointed train
  z-scores (:func:`round_sql`); the held-out confusion, the stream
  scorers and the curriculum apply the same fragment to their own
  DataFrames with ``selectExpr`` (:func:`apply_layers`);
- the full-batch loop (:func:`fit_exact`: weights, per-round tidy
  rows) split from the registered output (:func:`exact_tidy`: those
  rows plus the held-out confusion).

Every CAST('<repr>' AS DOUBLE) constant-folds to the exact double
F.lit() would embed, so the optimized plans, and every output bit,
match the DuckDB replays the oracle builders emit.

Scale: per round ONE map-side scan of the localCheckpoint-ed train
z-scores feeding a one-row aggregate — no shuffle inside the loop,
O(params) driver state; the held-out confusion is one groupBy over
the test split.
"""

from __future__ import annotations

import math
import uuid
from dataclasses import dataclass
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from web_attack_detection_spark.io.sources import load_table
from web_attack_detection_spark.sqltext import sql_double


def _lrgd_round_half_away(x: float) -> int:
    """Spark F.round (HALF_UP) == DuckDB ROUND for doubles: half away
    from zero — what the driver-side weight quantization must match."""
    return int(math.floor(x + 0.5)) if x >= 0 else int(math.ceil(x - 0.5))


# --- standardization prep --------------------------------------------------


def quantize(df: DataFrame, *keep: str) -> DataFrame:
    """``keep`` columns, then the three quantized features (value at
    1e-4, user/event hash buckets), the binary conversion label and the
    event_id % 4 test-split flag — STDZ_BASE_CTES' base0 row."""
    return df.select(
        *keep,
        F.round(F.col("value") * 10000).cast("long").alias("x1q"),
        (F.col("user_id") % 100).cast("long").alias("x2q"),
        (F.col("event_id") % 100).cast("long").alias("x3q"),
        F.col("event_type").isin("purchase", "signup").cast("int").alias("y"),
        (F.col("event_id") % 4 == 1).cast("int").alias("istest"),
    )


@dataclass
class Stdz:
    """Train-split standardization of the quantized events."""

    base_all: DataFrame  # quantize(events): train and test rows
    n: int  # train rows
    mean: dict
    sd: dict

    @property
    def train(self) -> DataFrame:
        return self.base_all.filter(F.col("istest") == 0)

    @property
    def test(self) -> DataFrame:
        return self.base_all.filter(F.col("istest") == 1)

    def z(self, df: DataFrame, keep: str = "y") -> DataFrame:
        """``keep`` plus z1..z3 of a quantized relation, standardized
        with the TRAIN moments."""
        return df.select(
            keep,
            *[
                (
                    (F.col(f"x{i}q").cast("double") - F.lit(self.mean[i]))
                    / F.lit(self.sd[i])
                ).alias(f"z{i}")
                for i in (1, 2, 3)
            ],
        )


def fit_stdz(spark: SparkSession, sf_dir: str) -> Stdz:
    """Exact train-split moments — BIGINT sums, DECIMAL(38,0) sums of
    squares — then one IEEE division + hardware sqrt per constant (the
    mo CTE chain of STDZ_BASE_CTES)."""
    events = load_table(spark, sf_dir, "events").drop("props", "ts")
    stdz = Stdz(quantize(events), 0, {}, {})
    s = stdz.train.agg(
        F.count(F.lit(1)).alias("n"),
        *[F.sum(f"x{i}q").alias(f"s{i}") for i in (1, 2, 3)],
        *[
            F.sum((F.col(f"x{i}q") * F.col(f"x{i}q")).cast("decimal(38,0)")).alias(
                f"s{i}{i}"
            )
            for i in (1, 2, 3)
        ],
    ).first()
    stdz.n = int(s["n"])
    for i in (1, 2, 3):
        stdz.mean[i] = float(s[f"s{i}"]) / float(stdz.n)
        q = float(s[f"s{i}{i}"]) / float(stdz.n)
        stdz.sd[i] = math.sqrt(q - stdz.mean[i] * stdz.mean[i])
    return stdz


def checkpoint_train_z(spark: SparkSession, stdz: Stdz) -> DataFrame:
    """The train z-scores, materialized once for every round.  The
    fixture parquet is ONE row group, so without the repartition every
    round's aggregate runs single-threaded; the BIGINT contribution
    sums are order-free, so it cannot change an output bit."""
    zsrc = stdz.z(stdz.train)
    target = max(spark.sparkContext.defaultParallelism // 2, 1)
    if zsrc.rdd.getNumPartitions() < target:
        zsrc = zsrc.repartition(target)
    return zsrc.localCheckpoint()


# --- SQL-text forward fragments ---------------------------------------------


def hardtanh_sql(x: str) -> str:
    return f"GREATEST(LEAST({x}, 1.0D), -1.0D)"


def margin_sql(w: dict, feats: list) -> str:
    """Sigmoid-head margin vb + sum_j v{j} * feats[j-1]."""
    return sql_double(w["vb"]) + "".join(
        f" + {sql_double(w[f'v{j}'])} * {f}" for j, f in enumerate(feats, 1)
    )


def head_grads(feats: list) -> dict:
    """Per-row gradient contributions of the sigmoid head."""
    return {"vb": "resid", **{f"v{j}": f"resid * {f}" for j, f in enumerate(feats, 1)}}


def head_params(V: list) -> list:
    """(name, initial value, tidy address) rows of the sigmoid head
    V = [vb, v1, ..., vH]."""
    return [("vb", V[0], ("out", 0, 0))] + [
        (f"v{j}", V[j], ("out", 0, j)) for j in range(1, len(V))
    ]


def apply_layers(df: DataFrame, layers: list) -> DataFrame:
    """Stack the same projection layers onto a DataFrame."""
    for cols in layers:
        df = df.selectExpr("*", *cols)
    return df


@dataclass(frozen=True)
class ExactArch:
    """One exact-trainer architecture, engine side.

    ``params()`` lists (name, initial value, (layer, unit, pidx)) in
    update order — names are the oracle's weight columns, the gradient
    sum of ``p`` is column ``g<p>``.  ``forward(w)`` returns (hidden
    projection layers over y/z1/z2/z3, margin expression);
    ``gradient(w)`` returns (backward layers over m/resid, ordered
    {param: per-row contribution}).  ``adam_step(round, w, m, v)`` is
    the model's own Adam weight step, when it has an Adam twin."""

    name: str
    rounds: int
    lr: float
    params: Callable[[], list]
    forward: Callable[[dict], tuple]
    gradient: Callable[[dict], tuple]
    adam_step: Callable | None = None


def round_sql(arch: ExactArch, w: dict, view: str) -> str:
    """One training round as ONE SQL string: the forward fragment,
    the sigmoid residual, the gradient layers, then every per-row
    contribution ROUND(... * 1e6) summed as BIGINT plus the train
    accuracy count."""
    layers, m = arch.forward(w)
    back, grads = arch.gradient(w)
    body = f"SELECT y, z1, z2, z3 FROM {view}"
    for cols in [
        *layers,
        [f"{m} AS m"],
        ["1.0D / (1.0D + EXP(-m)) - CAST(y AS DOUBLE) AS resid"],
        *back,
    ]:
        body = f"SELECT *, {', '.join(cols)} FROM ({body})"
    sums = [
        f"SUM(CAST(ROUND({e} * 1000000.0D) AS BIGINT)) AS g{p}"
        for p, e in grads.items()
    ]
    sums.append("SUM(CAST((m >= 0.0D) = (y = 1) AS BIGINT)) AS nc")
    return f"SELECT {', '.join(sums)} FROM ({body})"


@dataclass
class ExactFit:
    """A fitted exact model: standardization, final weights by
    parameter name, and the per-round tidy rows."""

    stdz: Stdz
    w: dict
    rows: list
    adam: bool


def fit_exact(
    spark: SparkSession, sf_dir: str, arch: ExactArch, optimizer: str = "gd"
) -> ExactFit:
    """Full-batch training, one aggregate job per round.  'gd': each
    update is one IEEE division + multiply-subtract; 'adam': moment
    EMAs per parameter, then ``arch.adam_step`` — the tidy rows add
    the 1e9/1e12-quantized moments."""
    adam = optimizer == "adam"
    stdz = fit_stdz(spark, sf_dir)
    view = f"{arch.name}_z_{uuid.uuid4().hex[:8]}"
    checkpoint_train_z(spark, stdz).createOrReplaceTempView(view)
    params = arch.params()
    w = {p: v for p, v, _ in params}
    ma = dict.fromkeys(w, 0.0)
    va = dict.fromkeys(w, 0.0)
    n6 = float(stdz.n) * 1000000.0
    rows: list = []
    for r in range(1, arch.rounds + 1):
        g = spark.sql(round_sql(arch, w, view)).first()
        for p, _init, addr in params:
            gsum = int(g[f"g{p}"])
            if not adam:
                w[p] = w[p] - arch.lr * (float(gsum) / n6)
                moments = ()
            else:
                gd = float(gsum) / n6
                ma[p] = 0.9 * ma[p] + (1.0 - 0.9) * gd
                va[p] = 0.999 * va[p] + (1.0 - 0.999) * (gd * gd)
                w[p] = arch.adam_step(r, w[p], ma[p], va[p])
                moments = (
                    _lrgd_round_half_away(ma[p] * 1000000000),
                    _lrgd_round_half_away(va[p] * 1000000000000),
                )
            rows.append(
                (r, *addr, gsum, _lrgd_round_half_away(w[p] * 1000000), *moments)
            )
        rows.append((r, "acc", 0, 0, int(g["nc"]), stdz.n) + ((0, 0) if adam else ()))
    spark.catalog.dropTempView(view)
    return ExactFit(stdz, w, rows, adam)


def exact_tidy(spark: SparkSession, arch: ExactArch, fit: ExactFit) -> DataFrame:
    """The registered tidy relation (round, layer, unit, pidx, grad_q,
    w_q[, m_q, v_q]): the fit's per-round rows plus 'cm' rows, the
    held-out confusion of the trained weights."""
    layers, m = arch.forward(fit.w)
    cm = (
        apply_layers(fit.stdz.z(fit.stdz.test), layers)
        .selectExpr("y", f"CAST({m} >= 0.0D AS BIGINT) AS pred")
        .groupBy("y", "pred")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
        .collect()
    )
    zeros = (0, 0) if fit.adam else ()
    out = fit.rows + [
        (arch.rounds, "cm", int(c["y"]), int(c["pred"]), int(c["cnt"]), 0, *zeros)
        for c in cm
    ]
    schema = "round long, layer string, unit long, pidx long, grad_q long, w_q long"
    if fit.adam:
        schema += ", m_q long, v_q long"
    return spark.createDataFrame(out, schema).orderBy(
        "round", "layer", "unit", "pidx"
    )
