"""Exact-GD recurrent net under full value-level oracle (VERDICT r9 #2).

``ml_rnn_exact`` extends the trainer-conversion program to the
reference's RECURRENT model class (``models/rnn_model.py:17-34`` — a
Keras SimpleRNN stack trained driver-side): a reduced sequence net is
trained IN-ENGINE by exact full-batch gradient descent, with the
entire trajectory — per-round BIGINT gradient sums through
backpropagation-through-time, micro-quantized weights, per-round
train accuracy, final held-out confusion — replayed bit-identically
by a chained-CTE DuckDB oracle.  Round 9 put a trained Dense
(hidden-layer) net under full oracle (plans/mlq ml_mlp_exact); this
module does the same for the recurrent class, so all three of the
reference's architecture families (Dense, recurrent, conv — conv via
the integer-DCT/phash and served-confusion oracles) have an
oracle-pinned computation path.

Architecture (a REDUCED analogue of the reference's SimpleRNN — the
reduction is what makes bit-exact replay possible; the full-size
protocol twin plans/deepq ml_rnn_train_dist keeps the reference's
actual architecture rows-only):

- sequence = the 3 standardized features (z1, z2, z3) read as 3
  timesteps of a scalar input — same quantized features, moments and
  train/test split as ml_mlp_exact (one shared STDZ_BASE_CTES text);
- state: 4 hard-tanh units, s_t = clamp(b + u*z_t + R @ s_{t-1}),
  s_0 = 0 (the t=1 step omits the recurrence term in the engine
  fragment and the DuckDB replay alike — the same IEEE op sequence,
  not an algebraic simplification);
- head: sigmoid margin m = vb + v . s_3 (binary target, the 2-class
  specialization of the reference's softmax).

Exactness composition (every pattern proven in rounds 8-9):
hard-tanh = GREATEST/LEAST with backprop gates as exact float
comparisons abs(pre) < 1 on bit-identical inputs; BPTT derivative
chains d3 -> c2 -> d2 -> c1 -> d1 built as chained projections with
the same left-associated expression order in the engine and the SQL;
per-row gradient contributions ROUND(... * 1e6) summed order-free as
BIGINT; weight update one IEEE division + multiply-subtract per
parameter; exp(-m) the only transcendental (the established sigmoid
residual idiom).

Engine side: ``RNNX`` — the parameter table, ONE SQL-text forward
fragment built from the current weights, and the BPTT gradient
layers — run by plans/exactx's shared loop.  Training rounds, the
held-out confusion and plans/streamq stream_rnn_trained_scoring all
apply that one fragment.

Scale: per round ONE map-side scan of the localCheckpoint-ed
standardized train relation feeding a 30-value aggregate — no
shuffle inside the loop, O(H^2) driver state; the held-out confusion
is one groupBy over the test split.  BIGINT contribution sums hold
to ~1e12 rows at these magnitudes (|contribution| <= ~3e6 per row
after 1e6 scaling vs the 9.2e18 long ceiling).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession

from web_attack_detection_spark.plans.exactx import (
    ExactArch,
    exact_tidy,
    fit_exact,
    hardtanh_sql,
    head_grads,
    head_params,
    margin_sql,
)
from web_attack_detection_spark.plans.mlq import STDZ_BASE_CTES
from web_attack_detection_spark.plans.registry import register
from web_attack_detection_spark.sqltext import sql_double

_RNNX_H = 4  # recurrent units
_RNNX_T = 3  # timesteps (the three standardized features as a sequence)
_RNNX_ROUNDS = 5
_RNNX_LR = 0.5  # textual literal "0.5" in the SQL below

# Adam hyperparameters for the ml_rnn_adam_exact twin — the
# reference's values (rnn_model.py: Adam lr=1e-3; Keras defaults
# beta1=0.9, beta2=0.999, epsilon=1e-7), and — unlike
# ml_mlp_adam_exact's Algorithm-1 form — KERAS' OWN epsilon
# placement: Keras folds the bias corrections into a per-step
# learning rate lr_t = lr*sqrt(1-b2^t)/(1-b1^t) and applies epsilon
# to the UNCORRECTED sqrt(v): w -= lr_t * m / (sqrt(v) + eps)
# (ADVICE r9 #2 — both formulations now exist under oracle).
_RNNX_ADAM_LR = 0.001
_RNNX_B1 = 0.9
_RNNX_B2 = 0.999
_RNNX_EPS = 1e-07


def _rnnx_init():
    """Pinned asymmetric init, exact sixteenths (binary-representable;
    ``repr`` round-trips into DuckDB literals bit-identically).  Every
    unit's (bias, input weight, recurrence row) differs, so no two
    units receive identical gradients; magnitudes <= 6/16 keep early
    pre-activations mostly inside the hard-tanh linear region (live
    gates -> gradient flow through all 3 timesteps)."""
    B = [((7 * j) % 13 - 6) / 16.0 for j in range(1, _RNNX_H + 1)]
    U = [((3 * j + 2) % 13 - 6) / 16.0 for j in range(1, _RNNX_H + 1)]
    R = [
        [((5 * j + 3 * k + 1) % 13 - 6) / 16.0 for k in range(1, _RNNX_H + 1)]
        for j in range(1, _RNNX_H + 1)
    ]
    V = [0.0] + [
        ((j % 2) * 2 - 1) * (j + 1) / 16.0 for j in range(1, _RNNX_H + 1)
    ]
    return B, U, R, V


def _rnnx_param_names() -> list:
    """The 29 parameter column names in update order: per-unit bias
    b{j} and input weight u{j}, recurrence r{j}_{k}, head vb, v{j}."""
    H = _RNNX_H
    names = [f"b{j}" for j in range(1, H + 1)]
    names += [f"u{j}" for j in range(1, H + 1)]
    names += [f"r{j}_{k}" for j in range(1, H + 1) for k in range(1, H + 1)]
    return names + ["vb"] + [f"v{j}" for j in range(1, H + 1)]


# --- DuckDB oracle builders ------------------------------------------------


def _rnnx_pre_sql(t: int, j: int, wsrc: str) -> str:
    """Pre-activation of unit j at timestep t: b + u*z{t} plus, for
    t > 1, the left-associated recurrence sum over s{t-1}_k.  The t=1
    form omits the recurrence term entirely (s_0 = 0) on BOTH sides."""
    s = f"(SELECT b{j} FROM {wsrc}) + (SELECT u{j} FROM {wsrc}) * z{t}"
    if t > 1:
        for k in range(1, _RNNX_H + 1):
            s += f" + (SELECT r{j}_{k} FROM {wsrc}) * s{t - 1}_{k}"
    return s


def _rnnx_m_sql(wsrc: str) -> str:
    """Output margin from the head weights over the final state s3."""
    return f"(SELECT vb FROM {wsrc})" + "".join(
        f" + (SELECT v{j} FROM {wsrc}) * s3_{j}" for j in range(1, _RNNX_H + 1)
    )


def _rnnx_c_sql(t: int, k: int, wsrc: str) -> str:
    """Backprop carry into state unit k at timestep t: the
    left-associated sum over next-step gated deltas, c{t}_k =
    sum_j r{j}_{k} * d{t+1}_j."""
    terms = [
        f"(SELECT r{j}_{k} FROM {wsrc}) * d{t + 1}_{j}"
        for j in range(1, _RNNX_H + 1)
    ]
    return " + ".join(terms)


def _rnnx_lr_t(r: int) -> float:
    """Keras Adam's folded per-step learning rate,
    lr*sqrt(1-b2^t)/(1-b1^t) — computed ONCE in Python and injected
    by repr on both sides (no POWER()/sqrt parity risk in SQL)."""
    return (
        _RNNX_ADAM_LR
        * math.sqrt(1.0 - _RNNX_B2**r)
        / (1.0 - _RNNX_B1**r)
    )


def _rnnx_cte_parts(optimizer: str = "gd") -> list:
    """The chained-CTE replay of the exact BPTT training trajectory,
    as a parts list WITHOUT the final SELECT (the tidy-relation UNION
    is appended by _rnnx_oracle; plans/streamq appends a serving tail
    the way it extends _mlpx_cte_parts).

    optimizer='gd': each weight update is one division + one
    multiply-subtract.  optimizer='adam': KERAS' formulation — moment
    EMAs per parameter, then w -= lr_t * m / (sqrt(v) + eps) with the
    bias corrections folded into the repr-injected lr_t literal."""
    adam = optimizer == "adam"
    B0, U0, R0, V0 = _rnnx_init()
    H, T, R = _RNNX_H, _RNNX_T, _RNNX_ROUNDS
    pnames = _rnnx_param_names()
    w0_cols = [f"{B0[j - 1]!r} AS b{j}" for j in range(1, H + 1)]
    w0_cols += [f"{U0[j - 1]!r} AS u{j}" for j in range(1, H + 1)]
    w0_cols += [
        f"{R0[j - 1][k - 1]!r} AS r{j}_{k}"
        for j in range(1, H + 1)
        for k in range(1, H + 1)
    ]
    w0_cols.append(f"{V0[0]!r} AS vb")
    w0_cols += [f"{V0[j]!r} AS v{j}" for j in range(1, H + 1)]
    if adam:
        w0_cols += [f"0.0 AS ma_{p}" for p in pnames]
        w0_cols += [f"0.0 AS va_{p}" for p in pnames]
    parts = [
        f"""{STDZ_BASE_CTES}, w_0 AS MATERIALIZED (SELECT {", ".join(w0_cols)})"""
    ]

    def fwd_chain(p, src: str, carry: str) -> str:
        """Nested-select forward pass pre1/s1 .. pre3/s3 with weights
        from w_{p}, innermost reading ``src``."""
        inner = src
        for t in range(1, T + 1):
            pres = ",\n           ".join(
                f"{_rnnx_pre_sql(t, j, f'w_{p}')} AS pre{t}_{j}"
                for j in range(1, H + 1)
            )
            inner = f"(SELECT *,\n           {pres}\n    FROM {inner})"
            ss = ",\n           ".join(
                f"GREATEST(LEAST(pre{t}_{j}, 1.0), -1.0) AS s{t}_{j}"
                for j in range(1, H + 1)
            )
            inner = f"(SELECT *,\n           {ss}\n    FROM {inner})"
        return inner

    for r in range(1, R + 1):
        p = r - 1
        # forward: chained projections zrel -> pre/s per timestep
        a_body = fwd_chain(p, "zrel", "y, z1, z2, z3")
        # backward: m, resid, then the BPTT chain as further projections
        d3s = ",\n         ".join(
            f"CASE WHEN abs(pre3_{j}) < 1.0 THEN resid * (SELECT v{j} FROM w_{p}) ELSE 0.0 END AS d3_{j}"
            for j in range(1, H + 1)
        )
        c2s = ",\n         ".join(
            f"{_rnnx_c_sql(2, k, f'w_{p}')} AS c2_{k}" for k in range(1, H + 1)
        )
        d2s = ",\n         ".join(
            f"CASE WHEN abs(pre2_{j}) < 1.0 THEN c2_{j} ELSE 0.0 END AS d2_{j}"
            for j in range(1, H + 1)
        )
        c1s = ",\n         ".join(
            f"{_rnnx_c_sql(1, k, f'w_{p}')} AS c1_{k}" for k in range(1, H + 1)
        )
        d1s = ",\n         ".join(
            f"CASE WHEN abs(pre1_{j}) < 1.0 THEN c1_{j} ELSE 0.0 END AS d1_{j}"
            for j in range(1, H + 1)
        )
        g_cols = [
            "CAST(SUM(CAST(ROUND(resid * 1000000.0) AS BIGINT)) AS BIGINT) AS gvb"
        ]
        for j in range(1, H + 1):
            g_cols.append(
                f"CAST(SUM(CAST(ROUND(resid * s3_{j} * 1000000.0) AS BIGINT)) AS BIGINT) AS gv{j}"
            )
        for j in range(1, H + 1):
            g_cols.append(
                f"CAST(SUM(CAST(ROUND((d1_{j} + d2_{j} + d3_{j}) * 1000000.0) AS BIGINT)) AS BIGINT) AS gb{j}"
            )
        for j in range(1, H + 1):
            g_cols.append(
                f"CAST(SUM(CAST(ROUND((d1_{j} * z1 + d2_{j} * z2 + d3_{j} * z3) * 1000000.0) AS BIGINT)) AS BIGINT) AS gu{j}"
            )
        for j in range(1, H + 1):
            for k in range(1, H + 1):
                g_cols.append(
                    f"CAST(SUM(CAST(ROUND((d2_{j} * s1_{k} + d3_{j} * s2_{k}) * 1000000.0) AS BIGINT)) AS BIGINT) AS gr{j}_{k}"
                )
        g_cols.append(
            "CAST(SUM(CASE WHEN (m >= 0.0) = (y = 1) THEN 1 ELSE 0 END) AS BIGINT) AS nc"
        )

        gd_cte = ""
        if not adam:

            def upd(wname: str, gname: str) -> str:
                return (
                    f"(SELECT {wname} FROM w_{p}) - {_RNNX_LR} * (CAST({gname} AS DOUBLE)"
                    f" / (CAST((SELECT n FROM mo) AS DOUBLE) * 1000000.0)) AS {wname}"
                )

            w_cols = [upd(f"b{j}", f"gb{j}") for j in range(1, H + 1)]
            w_cols += [upd(f"u{j}", f"gu{j}") for j in range(1, H + 1)]
            w_cols += [
                upd(f"r{j}_{k}", f"gr{j}_{k}")
                for j in range(1, H + 1)
                for k in range(1, H + 1)
            ]
            w_cols.append(upd("vb", "gvb"))
            w_cols += [upd(f"v{j}", f"gv{j}") for j in range(1, H + 1)]
        else:
            # normalized mean gradients once per round (mirrors the
            # driver computing g = float(gsum)/n6 once per parameter;
            # gradient-sum column name is uniformly "g" + param name)
            gd_cols = ",\n         ".join(
                f"CAST(g{pn} AS DOUBLE)"
                f" / (CAST((SELECT n FROM mo) AS DOUBLE) * 1000000.0) AS d_{pn}"
                for pn in pnames
            )
            gd_cte = f""", gd_{r} AS MATERIALIZED (
  SELECT {gd_cols}
  FROM g_{r}
)"""
            lr_t = _rnnx_lr_t(r)
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
                    f"(SELECT {pn} FROM w_{p}) - {lr_t!r} * (({ma})"
                    f" / (sqrt({va}) + 1e-07)) AS {pn}"
                )
        g_body = ",\n         ".join(g_cols)
        w_body = ",\n         ".join(w_cols)
        parts.append(
            f""", a_{r} AS MATERIALIZED (
  SELECT * FROM {a_body}
), b_{r} AS MATERIALIZED (
  SELECT *,
         {d1s}
  FROM (
    SELECT *,
         {c1s}
    FROM (
      SELECT *,
         {d2s}
      FROM (
        SELECT *,
         {c2s}
        FROM (
          SELECT *,
         {d3s}
          FROM (
            SELECT *, 1.0/(1.0 + exp(-m)) - CAST(y AS DOUBLE) AS resid
            FROM (SELECT *, {_rnnx_m_sql(f'w_{p}')} AS m FROM a_{r})
          )
        )
      )
    )
  )
), g_{r} AS MATERIALIZED (
  SELECT {g_body}
  FROM b_{r}
){gd_cte}, w_{r} AS MATERIALIZED (
  SELECT {w_body}
  FROM {"gd_" if adam else "g_"}{r}
)"""
        )
    # held-out confusion with the trained weights
    at_body = fwd_chain(R, "ztest", "y, z1, z2, z3")
    parts.append(
        f""", at_f AS MATERIALIZED (
  SELECT * FROM {at_body}
), cm AS MATERIALIZED (
  SELECT CAST(y AS BIGINT) AS unit,
         CAST(CASE WHEN m >= 0.0 THEN 1 ELSE 0 END AS BIGINT) AS pidx,
         CAST(COUNT(*) AS BIGINT) AS grad_q
  FROM (SELECT y, {_rnnx_m_sql(f'w_{R}')} AS m FROM at_f) GROUP BY 1, 2
)"""
    )
    return parts


def _rnnx_oracle(optimizer: str = "gd") -> str:
    """_rnnx_cte_parts plus the tidy-relation final SELECT: one row
    per (round, layer, unit, pidx) — layer 'in' rows carry (bias,
    input weight) as pidx 0/1, 'rec' rows the 4x4 recurrence, 'out'
    the 5 head params, 'acc' per-round (n_correct, n_train), 'cm' the
    final held-out confusion; the adam variant adds quantized moment
    columns m_q (1e9) / v_q (1e12)."""
    adam = optimizer == "adam"
    H, R = _RNNX_H, _RNNX_ROUNDS
    parts = _rnnx_cte_parts(optimizer)

    def mv(pn: str, r: int) -> str:
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
            branches.append(
                f"SELECT CAST({r} AS BIGINT) AS round, 'in' AS layer,"
                f" CAST({j} AS BIGINT) AS unit, CAST(0 AS BIGINT) AS pidx,"
                f" (SELECT gb{j} FROM g_{r}) AS grad_q,"
                f" CAST(ROUND((SELECT b{j} FROM w_{r}) * 1000000) AS BIGINT) AS w_q"
                f"{mv(f'b{j}', r)}"
            )
            branches.append(
                f"SELECT CAST({r} AS BIGINT), 'in', CAST({j} AS BIGINT), CAST(1 AS BIGINT),"
                f" (SELECT gu{j} FROM g_{r}),"
                f" CAST(ROUND((SELECT u{j} FROM w_{r}) * 1000000) AS BIGINT)"
                f"{mv(f'u{j}', r)}"
            )
        for j in range(1, H + 1):
            for k in range(1, H + 1):
                branches.append(
                    f"SELECT CAST({r} AS BIGINT), 'rec', CAST({j} AS BIGINT), CAST({k} AS BIGINT),"
                    f" (SELECT gr{j}_{k} FROM g_{r}),"
                    f" CAST(ROUND((SELECT r{j}_{k} FROM w_{r}) * 1000000) AS BIGINT)"
                    f"{mv(f'r{j}_{k}', r)}"
                )
        branches.append(
            f"SELECT CAST({r} AS BIGINT), 'out', CAST(0 AS BIGINT), CAST(0 AS BIGINT),"
            f" (SELECT gvb FROM g_{r}),"
            f" CAST(ROUND((SELECT vb FROM w_{r}) * 1000000) AS BIGINT)"
            f"{mv('vb', r)}"
        )
        for j in range(1, H + 1):
            branches.append(
                f"SELECT CAST({r} AS BIGINT), 'out', CAST(0 AS BIGINT), CAST({j} AS BIGINT),"
                f" (SELECT gv{j} FROM g_{r}),"
                f" CAST(ROUND((SELECT v{j} FROM w_{r}) * 1000000) AS BIGINT)"
                f"{mv(f'v{j}', r)}"
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


def _rnnx_params() -> list:
    """(name, initial value, tidy address) per parameter: 'in' rows
    carry (bias, input weight) as pidx 0/1, 'rec' the HxH recurrence,
    then the 'out' head."""
    B, U, R, V = _rnnx_init()
    units = range(1, _RNNX_H + 1)
    return (
        [(f"b{j}", B[j - 1], ("in", j, 0)) for j in units]
        + [(f"u{j}", U[j - 1], ("in", j, 1)) for j in units]
        + [(f"r{j}_{k}", R[j - 1][k - 1], ("rec", j, k)) for j in units for k in units]
        + head_params(V)
    )


def _rnnx_forward(w: dict) -> tuple:
    """Per timestep the pre-activations (t=1 omits the recurrence —
    s_0 = 0, as in _rnnx_pre_sql) and their hard-tanh states, then
    the head margin over the final state."""
    units, d = range(1, _RNNX_H + 1), sql_double
    layers = []
    for t in range(1, _RNNX_T + 1):
        pres = []
        for j in units:
            e = f"{d(w[f'b{j}'])} + {d(w[f'u{j}'])} * z{t}"
            if t > 1:
                e += "".join(f" + {d(w[f'r{j}_{k}'])} * s{t - 1}_{k}" for k in units)
            pres.append(f"{e} AS pre{t}_{j}")
        layers.append(pres)
        layers.append([f"{hardtanh_sql(f'pre{t}_{j}')} AS s{t}_{j}" for j in units])
    return layers, margin_sql(w, [f"s{_RNNX_T}_{j}" for j in units])


def _rnnx_gradient(w: dict) -> tuple:
    """BPTT as chained projections: gated deltas d3 -> carry c2 -> d2
    -> c1 -> d1 (left-associated sums, as in _rnnx_c_sql)."""
    units, d = range(1, _RNNX_H + 1), sql_double

    def gate(t: int, src) -> list:
        return [
            f"CASE WHEN ABS(pre{t}_{j}) < 1.0D THEN {src(j)} ELSE 0.0D END AS d{t}_{j}"
            for j in units
        ]

    def carry(t: int) -> list:
        return [
            " + ".join(f"{d(w[f'r{j}_{k}'])} * d{t + 1}_{j}" for j in units)
            + f" AS c{t}_{k}"
            for k in units
        ]

    layers = [
        gate(3, lambda j: f"resid * {d(w[f'v{j}'])}"),
        carry(2),
        gate(2, lambda j: f"c2_{j}"),
        carry(1),
        gate(1, lambda j: f"c1_{j}"),
    ]
    grads = head_grads([f"s3_{j}" for j in units])
    grads.update({f"b{j}": f"(d1_{j} + d2_{j} + d3_{j})" for j in units})
    grads.update({f"u{j}": f"(d1_{j} * z1 + d2_{j} * z2 + d3_{j} * z3)" for j in units})
    grads.update(
        {
            f"r{j}_{k}": f"(d2_{j} * s1_{k} + d3_{j} * s2_{k})"
            for j in units
            for k in units
        }
    )
    return layers, grads


def _rnnx_adam_step(r: int, w: float, m: float, v: float) -> float:
    """Keras' Adam step: bias corrections folded into lr_t, epsilon on
    the UNCORRECTED sqrt(v)."""
    return w - _rnnx_lr_t(r) * (m / (math.sqrt(v) + 1e-07))


RNNX = ExactArch(
    "rnnx", _RNNX_ROUNDS, _RNNX_LR, _rnnx_params, _rnnx_forward, _rnnx_gradient,
    _rnnx_adam_step,
)


@register(
    "ml_rnn_exact",
    _rnnx_oracle(),
    doc=f"exact-GD recurrent net ({_RNNX_T}-step scan, {_RNNX_H}-unit "
    f"hard-tanh recurrence, sigmoid head, {_RNNX_ROUNDS} full-batch BPTT "
    "rounds), full oracle incl. held-out confusion",
)
def ml_rnn_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """See the module docstring: training of the
    reference's recurrent model class (models/rnn_model.py:17-34)
    under full value-level DuckDB replay — gradients through 3-step
    BPTT, weights, per-round accuracy, and the held-out confusion all
    hash-match (VERDICT r9 #2)."""
    return exact_tidy(spark, RNNX, fit_exact(spark, sf_dir, RNNX))


@register(
    "ml_rnn_adam_exact",
    _rnnx_oracle("adam"),
    doc=f"exact-Adam recurrent net (reference hyperparameters lr=1e-3, "
    f"beta1=0.9, beta2=0.999, eps=1e-7 in KERAS' epsilon placement; "
    f"{_RNNX_ROUNDS} full-batch BPTT rounds), full oracle incl. moment "
    "EMAs + held-out confusion",
)
def ml_rnn_adam_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SAME recurrent net trained with the reference's optimizer
    (rnn_model.py: Adam lr=1e-3, Keras defaults) in KERAS' OWN
    formulation — bias corrections folded into a per-step lr_t
    (repr-injected literal) and epsilon applied to the UNCORRECTED
    sqrt(v), the placement ADVICE r9 #2 distinguished from the Adam
    paper's Algorithm-1 form that ml_mlp_adam_exact uses.  Both
    formulations are now value-pinned end to end: per round and
    parameter the output carries the BIGINT gradient sum, the
    1e6-quantized weight, AND the 1e9/1e12-quantized moment EMAs.
    Scale: identical to ml_rnn_exact — the optimizer is O(params)
    driver math; per round still ONE map-side aggregate scan."""
    return exact_tidy(spark, RNNX, fit_exact(spark, sf_dir, RNNX, "adam"))
