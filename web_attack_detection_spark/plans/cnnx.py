"""Exact-GD convolutional net under full value-level oracle.

``ml_cnn_exact`` completes the exact-trainer program across ALL THREE
of the reference's architecture families: Dense (plans/mlq
ml_mlp_exact, round 9), recurrent (plans/rnnx ml_rnn_exact), and —
here — convolutional (reference ``models/cnn_model.py:19-40``: a
Keras Conv1D -> MaxPooling1D -> Dense stack trained driver-side).  A
reduced conv net is trained IN-ENGINE by exact full-batch gradient
descent with the whole trajectory replayed bit-identically by a
chained-CTE DuckDB oracle.

Architecture (a REDUCED analogue — the reduction is what makes
bit-exact replay possible; the full-size protocol twin plans/deepq
ml_cnn_train_dist keeps the reference's actual architecture
rows-only):

- input = the 3 standardized features (z1, z2, z3) read as a length-3
  signal — same quantized features, moments and train/test split as
  the other exact trainers (shared STDZ_BASE_CTES text);
- conv: 4 channels, kernel width 2, valid padding -> 2 positions:
  pre{t}_c = b_c + k0_c*z{t} + k1_c*z{t+1}, hard-tanh activation;
- max-pool over the 2 positions: P_c = GREATEST(a1_c, a2_c) — weight
  SHARING and pooling are what make this a convolution, not a dense
  layer in disguise;
- head: sigmoid margin m = vb + v . P.

Exactness composition: everything from the mlpx/rnnx toolkit PLUS the
max-pool backprop router — gradient flows to position 1 iff
a1_c >= a2_c (one deterministic, exact float comparison on
bit-identical inputs; the argmax twin of the hard-tanh gate).  The
weight-sharing gradients sum each kernel tap's contributions across
positions inside ONE per-row ROUND(...*1e6) quantization, order-free
BIGINT sums, weight update one IEEE division + multiply-subtract,
exp(-m) the only transcendental.

Engine side: ``CNNX`` — the parameter table, ONE SQL-text forward
fragment built from the current weights, and the max-pool/hard-tanh
gradient layers — run by plans/exactx's shared loop.  Training
rounds, the held-out confusion and plans/streamq
stream_cnn_trained_scoring all apply that one fragment.

Scale: per round ONE map-side scan feeding an 18-value aggregate —
no shuffle in the loop, O(C) driver state; held-out confusion is one
groupBy over the test split.
"""

from __future__ import annotations

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

_CNNX_C = 4  # conv channels
_CNNX_P = 2  # output positions (3 inputs, kernel width 2, valid)
_CNNX_ROUNDS = 6
_CNNX_LR = 0.5  # textual literal "0.5" in the SQL below


def _cnnx_init():
    """Pinned asymmetric init, exact sixteenths (binary-representable,
    repr-round-trippable).  Channels differ in every parameter so no
    two receive identical gradients; head alternates sign."""
    B = [((11 * c) % 13 - 6) / 16.0 for c in range(1, _CNNX_C + 1)]
    K0 = [((5 * c + 1) % 13 - 6) / 16.0 for c in range(1, _CNNX_C + 1)]
    K1 = [((7 * c + 3) % 13 - 6) / 16.0 for c in range(1, _CNNX_C + 1)]
    V = [0.0] + [
        ((c % 2) * 2 - 1) * (c + 1) / 16.0 for c in range(1, _CNNX_C + 1)
    ]
    return B, K0, K1, V


# --- DuckDB oracle builders ------------------------------------------------


def _cnnx_pre_sql(t: int, c: int, wsrc: str) -> str:
    """Conv pre-activation of channel c at position t (kernel taps
    shared across positions — the convolution)."""
    return (
        f"(SELECT b{c} FROM {wsrc}) + (SELECT k0_{c} FROM {wsrc}) * z{t}"
        f" + (SELECT k1_{c} FROM {wsrc}) * z{t + 1}"
    )


def _cnnx_m_sql(wsrc: str) -> str:
    """Output margin from the head weights over the pooled channels."""
    return f"(SELECT vb FROM {wsrc})" + "".join(
        f" + (SELECT v{c} FROM {wsrc}) * p{c}" for c in range(1, _CNNX_C + 1)
    )


def _cnnx_cte_parts() -> list:
    """The chained-CTE replay of the exact conv training trajectory,
    as a parts list WITHOUT the final SELECT."""
    B0, K00, K10, V0 = _cnnx_init()
    C, R = _CNNX_C, _CNNX_ROUNDS
    w0_cols = [f"{B0[c - 1]!r} AS b{c}" for c in range(1, C + 1)]
    w0_cols += [f"{K00[c - 1]!r} AS k0_{c}" for c in range(1, C + 1)]
    w0_cols += [f"{K10[c - 1]!r} AS k1_{c}" for c in range(1, C + 1)]
    w0_cols.append(f"{V0[0]!r} AS vb")
    w0_cols += [f"{V0[c]!r} AS v{c}" for c in range(1, C + 1)]
    parts = [
        f"""{STDZ_BASE_CTES}, w_0 AS MATERIALIZED (SELECT {", ".join(w0_cols)})"""
    ]

    def fwd_chain(p, src: str) -> str:
        """Nested-select forward pass pre/a per position, then the
        max-pool, with weights from w_{p}."""
        pres = ",\n           ".join(
            f"{_cnnx_pre_sql(t, c, f'w_{p}')} AS pre{t}_{c}"
            for t in range(1, _CNNX_P + 1)
            for c in range(1, C + 1)
        )
        inner = f"(SELECT *,\n           {pres}\n    FROM {src})"
        acts = ",\n           ".join(
            f"GREATEST(LEAST(pre{t}_{c}, 1.0), -1.0) AS a{t}_{c}"
            for t in range(1, _CNNX_P + 1)
            for c in range(1, C + 1)
        )
        inner = f"(SELECT *,\n           {acts}\n    FROM {inner})"
        pools = ",\n           ".join(
            f"GREATEST(a1_{c}, a2_{c}) AS p{c}" for c in range(1, C + 1)
        )
        return f"(SELECT *,\n           {pools}\n    FROM {inner})"

    for r in range(1, R + 1):
        p = r - 1
        a_body = fwd_chain(p, "zrel")
        # backward: dP_c routes to the argmax position (a1 >= a2 ->
        # position 1 — deterministic exact comparison), then the
        # hard-tanh gate per position
        dps = ",\n         ".join(
            f"resid * (SELECT v{c} FROM w_{p}) AS dp_{c}"
            for c in range(1, C + 1)
        )
        dts = []
        for c in range(1, C + 1):
            dts.append(
                f"CASE WHEN a1_{c} >= a2_{c} AND abs(pre1_{c}) < 1.0 THEN dp_{c} ELSE 0.0 END AS d1_{c}"
            )
            dts.append(
                f"CASE WHEN a1_{c} < a2_{c} AND abs(pre2_{c}) < 1.0 THEN dp_{c} ELSE 0.0 END AS d2_{c}"
            )
        dts_body = ",\n         ".join(dts)
        g_cols = [
            "CAST(SUM(CAST(ROUND(resid * 1000000.0) AS BIGINT)) AS BIGINT) AS gvb"
        ]
        for c in range(1, C + 1):
            g_cols.append(
                f"CAST(SUM(CAST(ROUND(resid * p{c} * 1000000.0) AS BIGINT)) AS BIGINT) AS gv{c}"
            )
        for c in range(1, C + 1):
            g_cols.append(
                f"CAST(SUM(CAST(ROUND((d1_{c} + d2_{c}) * 1000000.0) AS BIGINT)) AS BIGINT) AS gb{c}"
            )
        for c in range(1, C + 1):
            g_cols.append(
                f"CAST(SUM(CAST(ROUND((d1_{c} * z1 + d2_{c} * z2) * 1000000.0) AS BIGINT)) AS BIGINT) AS gk0_{c}"
            )
        for c in range(1, C + 1):
            g_cols.append(
                f"CAST(SUM(CAST(ROUND((d1_{c} * z2 + d2_{c} * z3) * 1000000.0) AS BIGINT)) AS BIGINT) AS gk1_{c}"
            )
        g_cols.append(
            "CAST(SUM(CASE WHEN (m >= 0.0) = (y = 1) THEN 1 ELSE 0 END) AS BIGINT) AS nc"
        )

        def upd(wname: str, gname: str) -> str:
            return (
                f"(SELECT {wname} FROM w_{p}) - {_CNNX_LR} * (CAST({gname} AS DOUBLE)"
                f" / (CAST((SELECT n FROM mo) AS DOUBLE) * 1000000.0)) AS {wname}"
            )

        w_cols = [upd(f"b{c}", f"gb{c}") for c in range(1, C + 1)]
        w_cols += [upd(f"k0_{c}", f"gk0_{c}") for c in range(1, C + 1)]
        w_cols += [upd(f"k1_{c}", f"gk1_{c}") for c in range(1, C + 1)]
        w_cols.append(upd("vb", "gvb"))
        w_cols += [upd(f"v{c}", f"gv{c}") for c in range(1, C + 1)]
        g_body = ",\n         ".join(g_cols)
        w_body = ",\n         ".join(w_cols)
        parts.append(
            f""", a_{r} AS MATERIALIZED (
  SELECT * FROM {a_body}
), b_{r} AS MATERIALIZED (
  SELECT *,
         {dts_body}
  FROM (
    SELECT *,
         {dps}
    FROM (
      SELECT *, 1.0/(1.0 + exp(-m)) - CAST(y AS DOUBLE) AS resid
      FROM (SELECT *, {_cnnx_m_sql(f'w_{p}')} AS m FROM a_{r})
    )
  )
), g_{r} AS MATERIALIZED (
  SELECT {g_body}
  FROM b_{r}
), w_{r} AS MATERIALIZED (
  SELECT {w_body}
  FROM g_{r}
)"""
        )
    at_body = fwd_chain(R, "ztest")
    parts.append(
        f""", at_f AS MATERIALIZED (
  SELECT * FROM {at_body}
), cm AS MATERIALIZED (
  SELECT CAST(y AS BIGINT) AS unit,
         CAST(CASE WHEN m >= 0.0 THEN 1 ELSE 0 END AS BIGINT) AS pidx,
         CAST(COUNT(*) AS BIGINT) AS grad_q
  FROM (SELECT y, {_cnnx_m_sql(f'w_{R}')} AS m FROM at_f) GROUP BY 1, 2
)"""
    )
    return parts


def _cnnx_oracle() -> str:
    """_cnnx_cte_parts plus the tidy-relation final SELECT: layer
    'conv' rows carry (bias, tap0, tap1) as pidx 0/1/2 per channel,
    'out' the 5 head params, 'acc' per-round (n_correct, n_train),
    'cm' the final held-out confusion."""
    C, R = _CNNX_C, _CNNX_ROUNDS
    parts = _cnnx_cte_parts()
    branches = []
    for r in range(1, R + 1):
        for c in range(1, C + 1):
            for pidx, (gn, wn) in enumerate(
                ((f"gb{c}", f"b{c}"), (f"gk0_{c}", f"k0_{c}"), (f"gk1_{c}", f"k1_{c}"))
            ):
                branches.append(
                    f"SELECT CAST({r} AS BIGINT) AS round, 'conv' AS layer,"
                    f" CAST({c} AS BIGINT) AS unit, CAST({pidx} AS BIGINT) AS pidx,"
                    f" (SELECT {gn} FROM g_{r}) AS grad_q,"
                    f" CAST(ROUND((SELECT {wn} FROM w_{r}) * 1000000) AS BIGINT) AS w_q"
                )
        branches.append(
            f"SELECT CAST({r} AS BIGINT), 'out', CAST(0 AS BIGINT), CAST(0 AS BIGINT),"
            f" (SELECT gvb FROM g_{r}),"
            f" CAST(ROUND((SELECT vb FROM w_{r}) * 1000000) AS BIGINT)"
        )
        for c in range(1, C + 1):
            branches.append(
                f"SELECT CAST({r} AS BIGINT), 'out', CAST(0 AS BIGINT), CAST({c} AS BIGINT),"
                f" (SELECT gv{c} FROM g_{r}),"
                f" CAST(ROUND((SELECT v{c} FROM w_{r}) * 1000000) AS BIGINT)"
            )
        branches.append(
            f"SELECT CAST({r} AS BIGINT), 'acc', CAST(0 AS BIGINT), CAST(0 AS BIGINT),"
            f" (SELECT nc FROM g_{r}), (SELECT n FROM mo)"
        )
    branches.append(
        f"SELECT CAST({R} AS BIGINT), 'cm', unit, pidx, grad_q,"
        f" CAST(0 AS BIGINT) FROM cm"
    )
    parts.append(
        "\nSELECT * FROM ("
        + "\nUNION ALL ".join(branches)
        + ") ORDER BY round, layer, unit, pidx"
    )
    return "".join(parts)


def _cnnx_params() -> list:
    """(name, initial value, tidy address) per parameter: 'conv' rows
    carry (bias, tap0, tap1) as pidx 0/1/2 per channel, then the 'out'
    head."""
    B, K0, K1, V = _cnnx_init()
    chans = range(1, _CNNX_C + 1)
    return (
        [(f"b{c}", B[c - 1], ("conv", c, 0)) for c in chans]
        + [(f"k0_{c}", K0[c - 1], ("conv", c, 1)) for c in chans]
        + [(f"k1_{c}", K1[c - 1], ("conv", c, 2)) for c in chans]
        + head_params(V)
    )


def _cnnx_forward(w: dict) -> tuple:
    """Shared-kernel conv pre-activations per position, hard-tanh,
    max-pool over the positions, then the head margin."""
    chans, pos, d = range(1, _CNNX_C + 1), range(1, _CNNX_P + 1), sql_double
    pres = [
        f"{d(w[f'b{c}'])} + {d(w[f'k0_{c}'])} * z{t}"
        f" + {d(w[f'k1_{c}'])} * z{t + 1} AS pre{t}_{c}"
        for t in pos
        for c in chans
    ]
    acts = [f"{hardtanh_sql(f'pre{t}_{c}')} AS a{t}_{c}" for t in pos for c in chans]
    pools = [f"GREATEST(a1_{c}, a2_{c}) AS p{c}" for c in chans]
    return [pres, acts, pools], margin_sql(w, [f"p{c}" for c in chans])


def _cnnx_gradient(w: dict) -> tuple:
    """dP_c routes to the argmax position (a1 >= a2 -> position 1 — a
    deterministic exact comparison), then the hard-tanh gate; each
    kernel tap sums its contributions across positions."""
    chans = range(1, _CNNX_C + 1)
    dps = [f"resid * {sql_double(w[f'v{c}'])} AS dp_{c}" for c in chans]
    ds = []
    for c in chans:
        ds.append(
            f"CASE WHEN (a1_{c} >= a2_{c}) AND (ABS(pre1_{c}) < 1.0D)"
            f" THEN dp_{c} ELSE 0.0D END AS d1_{c}"
        )
        ds.append(
            f"CASE WHEN (a1_{c} < a2_{c}) AND (ABS(pre2_{c}) < 1.0D)"
            f" THEN dp_{c} ELSE 0.0D END AS d2_{c}"
        )
    grads = head_grads([f"p{c}" for c in chans])
    grads.update({f"b{c}": f"(d1_{c} + d2_{c})" for c in chans})
    grads.update({f"k0_{c}": f"(d1_{c} * z1 + d2_{c} * z2)" for c in chans})
    grads.update({f"k1_{c}": f"(d1_{c} * z2 + d2_{c} * z3)" for c in chans})
    return [dps, ds], grads


CNNX = ExactArch(
    "cnnx", _CNNX_ROUNDS, _CNNX_LR, _cnnx_params, _cnnx_forward, _cnnx_gradient
)


@register(
    "ml_cnn_exact",
    _cnnx_oracle(),
    doc=f"exact-GD conv net ({_CNNX_C}-channel width-2 Conv1D, hard-tanh, "
    f"max-pool, sigmoid head, {_CNNX_ROUNDS} full-batch rounds), full "
    "oracle incl. held-out confusion",
)
def ml_cnn_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """See the module docstring: training of the
    reference's convolutional model class (models/cnn_model.py:19-40)
    under full value-level DuckDB replay — shared-kernel gradients,
    max-pool argmax routing, weights, per-round accuracy, and the
    held-out confusion all hash-match.  Completes the exact-trainer
    trio: Dense (r9), recurrent and conv (r10)."""
    return exact_tidy(spark, CNNX, fit_exact(spark, sf_dir, CNNX))
