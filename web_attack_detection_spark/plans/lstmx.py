"""Exact-GD LSTM under full value-level oracle.

``ml_lstm_exact`` puts the LAST of the reference's four model families
(``models/lstm_model.py:17-34`` — a Keras LSTM stack trained
driver-side) under bit-exact training replay, completing the program:
MLP (round 9), SimpleRNN + Conv1D (round 10), and now LSTM — every
architecture the reference trains has an oracle-pinned in-engine
trainer.

Architecture (a REDUCED analogue; the full-size protocol twin
plans/deepq ml_lstm_train_dist keeps the reference's actual
architecture rows-only):

- input = the 3 standardized features as a length-3 sequence (shared
  STDZ_BASE_CTES quantized features / moments / split);
- cell: 2 LSTM units with the full i/f/o/g gate structure,
  c_t = f*c_{t-1} + i*g,  h_t = o * hardtanh(c_t),
  with HARD-SIGMOID gates (clamp(0.2x + 0.5, 0, 1) — Keras' classic
  ``recurrent_activation="hard_sigmoid"``) and hard-tanh candidates:
  every nonlinearity is piecewise-LINEAR, so forward values are exact
  IEEE arithmetic and every backprop gate is an exact float
  comparison (|pre| < 2.5 for hard-sigmoid interior, |x| < 1 for
  hard-tanh) — the whole cell is transcendental-free;
- head: sigmoid margin m = vb + v . h_3 (the one exp per row, the
  established residual idiom).

Backpropagation-through-time runs the full LSTM chain — dh -> do/dc,
the cell-state carry dc_t += dc_{t+1} * f_{t+1}, gate deltas di/df/dg,
and the recurrence transpose into dh_{t-1} — as chained projections
with the same left-associated expression order in the engine, the
DuckDB replay, and the numpy twin.  t=1 omits the recurrence terms and
the forget-gate path entirely (h_0 = c_0 = 0) in all three — the same
IEEE op sequence, not an algebraic simplification.  Per-row gradient
contributions ROUND(...*1e6) sum order-free as BIGINT; weight update
one IEEE division + multiply-subtract per parameter.

Engine side: ``LSTMX`` — the parameter table, ONE SQL-text forward
fragment built from the current weights, and the BPTT gradient
layers — run by plans/exactx's shared loop.  Training rounds, the
held-out confusion and plans/streamq stream_lstm_trained_scoring all
apply that one fragment.

Scale: per round ONE map-side scan feeding a 36-value aggregate — no
shuffle inside the loop, O(4*H*(H+2)) driver state; the held-out
confusion is one groupBy over the test split.
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

_LSTMX_H = 2  # LSTM units
_LSTMX_T = 3  # timesteps
_LSTMX_ROUNDS = 4
_LSTMX_LR = 0.5  # textual literal "0.5" in the SQL below
_GATES = ("i", "f", "o", "g")  # input, forget, output, candidate


def _lstmx_init():
    """Pinned asymmetric init, exact sixteenths.  W[gate][j] =
    (bias, input weight, r_1..r_H); magnitudes <= 6/16 keep gate
    pre-activations inside the hard-sigmoid linear region (|x| < 2.5)
    and candidates inside the hard-tanh region early on, so every
    backprop gate starts live."""
    H = _LSTMX_H
    W = {}
    for gidx, gname in enumerate(_GATES):
        W[gname] = [
            [
                ((3 * gidx + 5 * j + 7 * p + 2) % 13 - 6) / 16.0
                for p in range(2 + H)
            ]
            for j in range(1, H + 1)
        ]
    V = [0.0] + [
        ((j % 2) * 2 - 1) * (j + 1) / 16.0 for j in range(1, H + 1)
    ]
    return W, V


def _lstmx_pre_sql(gname: str, t: int, j: int, wsrc: str) -> str:
    """Gate pre-activation: b + u*z{t} (+ recurrence for t > 1)."""
    s = (
        f"(SELECT b{gname}{j} FROM {wsrc})"
        f" + (SELECT u{gname}{j} FROM {wsrc}) * z{t}"
    )
    if t > 1:
        for k in range(1, _LSTMX_H + 1):
            s += f" + (SELECT r{gname}{j}_{k} FROM {wsrc}) * h{t - 1}_{k}"
    return s


def _lstmx_m_sql(wsrc: str) -> str:
    return f"(SELECT vb FROM {wsrc})" + "".join(
        f" + (SELECT v{j} FROM {wsrc}) * h3_{j}" for j in range(1, _LSTMX_H + 1)
    )


def _hsig(x: str) -> str:
    """Hard sigmoid: clamp(0.2*x + 0.5, 0, 1) — textual SQL form."""
    return f"GREATEST(LEAST(0.2 * {x} + 0.5, 1.0), 0.0)"


def _lstmx_fwd_sql(p, src: str) -> str:
    """Nested-select forward chain over ``src`` with weights from
    w_{p}: per timestep the 4 gate pre-activations, activations, cell
    state, clamped cell, hidden state."""
    H, T = _LSTMX_H, _LSTMX_T
    inner = src
    for t in range(1, T + 1):
        pres = ",\n           ".join(
            f"{_lstmx_pre_sql(g, t, j, f'w_{p}')} AS pre{g}{t}_{j}"
            for g in _GATES
            for j in range(1, H + 1)
        )
        inner = f"(SELECT *,\n           {pres}\n    FROM {inner})"
        acts = []
        for j in range(1, H + 1):
            acts.append(f"{_hsig(f'prei{t}_{j}')} AS gi{t}_{j}")
            acts.append(f"{_hsig(f'pref{t}_{j}')} AS gf{t}_{j}")
            acts.append(f"{_hsig(f'preo{t}_{j}')} AS go{t}_{j}")
            acts.append(
                f"GREATEST(LEAST(preg{t}_{j}, 1.0), -1.0) AS gg{t}_{j}"
            )
        inner = f"(SELECT *,\n           {', '.join(acts)}\n    FROM {inner})"
        cells = []
        for j in range(1, H + 1):
            if t == 1:
                cells.append(f"gi1_{j} * gg1_{j} AS c1_{j}")
            else:
                cells.append(
                    f"gf{t}_{j} * c{t - 1}_{j} + gi{t}_{j} * gg{t}_{j} AS c{t}_{j}"
                )
        inner = f"(SELECT *,\n           {', '.join(cells)}\n    FROM {inner})"
        hs = []
        for j in range(1, H + 1):
            hs.append(f"GREATEST(LEAST(c{t}_{j}, 1.0), -1.0) AS th{t}_{j}")
        inner = f"(SELECT *,\n           {', '.join(hs)}\n    FROM {inner})"
        hh = [f"go{t}_{j} * th{t}_{j} AS h{t}_{j}" for j in range(1, H + 1)]
        inner = f"(SELECT *,\n           {', '.join(hh)}\n    FROM {inner})"
    return inner


def _lstmx_cte_parts() -> list:
    """The chained-CTE replay of the exact LSTM-BPTT trajectory,
    WITHOUT the final SELECT."""
    W0, V0 = _lstmx_init()
    H, T, R = _LSTMX_H, _LSTMX_T, _LSTMX_ROUNDS
    w0_cols = []
    for g in _GATES:
        for j in range(1, H + 1):
            w0_cols.append(f"{W0[g][j - 1][0]!r} AS b{g}{j}")
            w0_cols.append(f"{W0[g][j - 1][1]!r} AS u{g}{j}")
            for k in range(1, H + 1):
                w0_cols.append(f"{W0[g][j - 1][1 + k]!r} AS r{g}{j}_{k}")
    w0_cols.append(f"{V0[0]!r} AS vb")
    w0_cols += [f"{V0[j]!r} AS v{j}" for j in range(1, H + 1)]
    parts = [
        f"""{STDZ_BASE_CTES}, w_0 AS MATERIALIZED (SELECT {", ".join(w0_cols)})"""
    ]

    def dh_sql(t: int, k: int, p) -> str:
        """dh_{t,k} = sum over units j of the 4 recurrence-transposed
        gate deltas from step t+1 (fixed enumeration: j asc, gates
        i, f, o, g)."""
        terms = []
        for j in range(1, H + 1):
            for g in _GATES:
                terms.append(
                    f"(SELECT r{g}{j}_{k} FROM w_{p}) * dp{g}{t + 1}_{j}"
                )
        return " + ".join(terms)

    for r in range(1, R + 1):
        p = r - 1
        a_body = _lstmx_fwd_sql(p, "zrel")
        # backward chain, one projection layer per dependency step
        layers = []
        # t=3 head delta + gate deltas
        l3 = []
        for j in range(1, H + 1):
            l3.append(f"resid * (SELECT v{j} FROM w_{p}) AS dh3_{j}")
        layers.append(l3)
        l3b = []
        for j in range(1, H + 1):
            l3b.append(
                f"CASE WHEN abs(preo3_{j}) < 2.5 THEN dh3_{j} * th3_{j} * 0.2 ELSE 0.0 END AS dpo3_{j}"
            )
            l3b.append(
                f"CASE WHEN abs(c3_{j}) < 1.0 THEN dh3_{j} * go3_{j} ELSE 0.0 END AS dc3_{j}"
            )
        layers.append(l3b)
        l3c = []
        for j in range(1, H + 1):
            l3c.append(
                f"CASE WHEN abs(prei3_{j}) < 2.5 THEN dc3_{j} * gg3_{j} * 0.2 ELSE 0.0 END AS dpi3_{j}"
            )
            l3c.append(
                f"CASE WHEN abs(pref3_{j}) < 2.5 THEN dc3_{j} * c2_{j} * 0.2 ELSE 0.0 END AS dpf3_{j}"
            )
            l3c.append(
                f"CASE WHEN abs(preg3_{j}) < 1.0 THEN dc3_{j} * gi3_{j} ELSE 0.0 END AS dpg3_{j}"
            )
        layers.append(l3c)
        # t=2: dh2 from recurrence transpose, dc carry via gf3
        l2 = [f"{dh_sql(2, k, p)} AS dh2_{k}" for k in range(1, H + 1)]
        layers.append(l2)
        l2b = []
        for j in range(1, H + 1):
            l2b.append(
                f"CASE WHEN abs(preo2_{j}) < 2.5 THEN dh2_{j} * th2_{j} * 0.2 ELSE 0.0 END AS dpo2_{j}"
            )
            l2b.append(
                f"(CASE WHEN abs(c2_{j}) < 1.0 THEN dh2_{j} * go2_{j} ELSE 0.0 END)"
                f" + dc3_{j} * gf3_{j} AS dc2_{j}"
            )
        layers.append(l2b)
        l2c = []
        for j in range(1, H + 1):
            l2c.append(
                f"CASE WHEN abs(prei2_{j}) < 2.5 THEN dc2_{j} * gg2_{j} * 0.2 ELSE 0.0 END AS dpi2_{j}"
            )
            l2c.append(
                f"CASE WHEN abs(pref2_{j}) < 2.5 THEN dc2_{j} * c1_{j} * 0.2 ELSE 0.0 END AS dpf2_{j}"
            )
            l2c.append(
                f"CASE WHEN abs(preg2_{j}) < 1.0 THEN dc2_{j} * gi2_{j} ELSE 0.0 END AS dpg2_{j}"
            )
        layers.append(l2c)
        # t=1: no forget path (c_0 = 0)
        l1 = [f"{dh_sql(1, k, p)} AS dh1_{k}" for k in range(1, H + 1)]
        layers.append(l1)
        l1b = []
        for j in range(1, H + 1):
            l1b.append(
                f"CASE WHEN abs(preo1_{j}) < 2.5 THEN dh1_{j} * th1_{j} * 0.2 ELSE 0.0 END AS dpo1_{j}"
            )
            l1b.append(
                f"(CASE WHEN abs(c1_{j}) < 1.0 THEN dh1_{j} * go1_{j} ELSE 0.0 END)"
                f" + dc2_{j} * gf2_{j} AS dc1_{j}"
            )
        layers.append(l1b)
        l1c = []
        for j in range(1, H + 1):
            l1c.append(
                f"CASE WHEN abs(prei1_{j}) < 2.5 THEN dc1_{j} * gg1_{j} * 0.2 ELSE 0.0 END AS dpi1_{j}"
            )
            l1c.append(
                f"CASE WHEN abs(preg1_{j}) < 1.0 THEN dc1_{j} * gi1_{j} ELSE 0.0 END AS dpg1_{j}"
            )
        layers.append(l1c)
        # nest the projection layers innermost-first
        body = f"(SELECT *, 1.0/(1.0 + exp(-m)) - CAST(y AS DOUBLE) AS resid\n  FROM (SELECT *, {_lstmx_m_sql(f'w_{p}')} AS m FROM a_{r}))"
        for lay in layers:
            body = f"(SELECT *,\n         {', '.join(lay)}\n  FROM {body})"
        # gradient aggregates
        g_cols = [
            "CAST(SUM(CAST(ROUND(resid * 1000000.0) AS BIGINT)) AS BIGINT) AS gvb"
        ]
        for j in range(1, H + 1):
            g_cols.append(
                f"CAST(SUM(CAST(ROUND(resid * h3_{j} * 1000000.0) AS BIGINT)) AS BIGINT) AS gv{j}"
            )
        for g in _GATES:
            ts = (2, 3) if g == "f" else (1, 2, 3)
            for j in range(1, H + 1):
                bsum = " + ".join(f"dp{g}{t}_{j}" for t in ts)
                g_cols.append(
                    f"CAST(SUM(CAST(ROUND(({bsum}) * 1000000.0) AS BIGINT)) AS BIGINT) AS gb{g}{j}"
                )
                usum = " + ".join(f"dp{g}{t}_{j} * z{t}" for t in ts)
                g_cols.append(
                    f"CAST(SUM(CAST(ROUND(({usum}) * 1000000.0) AS BIGINT)) AS BIGINT) AS gu{g}{j}"
                )
                for k in range(1, H + 1):
                    rsum = " + ".join(
                        f"dp{g}{t}_{j} * h{t - 1}_{k}" for t in (2, 3)
                    )
                    g_cols.append(
                        f"CAST(SUM(CAST(ROUND(({rsum}) * 1000000.0) AS BIGINT)) AS BIGINT) AS gr{g}{j}_{k}"
                    )
        g_cols.append(
            "CAST(SUM(CASE WHEN (m >= 0.0) = (y = 1) THEN 1 ELSE 0 END) AS BIGINT) AS nc"
        )

        def upd(wname: str, gname: str) -> str:
            return (
                f"(SELECT {wname} FROM w_{p}) - {_LSTMX_LR} * (CAST({gname} AS DOUBLE)"
                f" / (CAST((SELECT n FROM mo) AS DOUBLE) * 1000000.0)) AS {wname}"
            )

        w_cols = []
        for g in _GATES:
            for j in range(1, H + 1):
                w_cols.append(upd(f"b{g}{j}", f"gb{g}{j}"))
                w_cols.append(upd(f"u{g}{j}", f"gu{g}{j}"))
                for k in range(1, H + 1):
                    w_cols.append(upd(f"r{g}{j}_{k}", f"gr{g}{j}_{k}"))
        w_cols.append(upd("vb", "gvb"))
        w_cols += [upd(f"v{j}", f"gv{j}") for j in range(1, H + 1)]
        g_body = ",\n         ".join(g_cols)
        w_body = ",\n         ".join(w_cols)
        parts.append(
            f""", a_{r} AS MATERIALIZED (
  SELECT * FROM {a_body}
), b_{r} AS MATERIALIZED (
  SELECT * FROM {body}
), g_{r} AS MATERIALIZED (
  SELECT {g_body}
  FROM b_{r}
), w_{r} AS MATERIALIZED (
  SELECT {w_body}
  FROM g_{r}
)"""
        )
    at_body = _lstmx_fwd_sql(R, "ztest")
    parts.append(
        f""", at_f AS MATERIALIZED (
  SELECT * FROM {at_body}
), cm AS MATERIALIZED (
  SELECT CAST(y AS BIGINT) AS unit,
         CAST(CASE WHEN m >= 0.0 THEN 1 ELSE 0 END AS BIGINT) AS pidx,
         CAST(COUNT(*) AS BIGINT) AS grad_q
  FROM (SELECT y, {_lstmx_m_sql(f'w_{R}')} AS m FROM at_f) GROUP BY 1, 2
)"""
    )
    return parts


def _lstmx_oracle() -> str:
    """Tidy relation: layer = the gate name ('i'/'f'/'o'/'g') with
    unit j and pidx 0=bias, 1=input weight, 1+k=recurrence k; 'out'
    the head; 'acc' per-round; 'cm' the held-out confusion."""
    H, R = _LSTMX_H, _LSTMX_ROUNDS
    parts = _lstmx_cte_parts()
    branches = []
    for r in range(1, R + 1):
        for g in _GATES:
            for j in range(1, H + 1):
                pn = [(0, f"b{g}{j}", f"gb{g}{j}"), (1, f"u{g}{j}", f"gu{g}{j}")]
                pn += [
                    (1 + k, f"r{g}{j}_{k}", f"gr{g}{j}_{k}")
                    for k in range(1, H + 1)
                ]
                for pidx, wn, gn in pn:
                    branches.append(
                        f"SELECT CAST({r} AS BIGINT) AS round, '{g}' AS layer,"
                        f" CAST({j} AS BIGINT) AS unit, CAST({pidx} AS BIGINT) AS pidx,"
                        f" (SELECT {gn} FROM g_{r}) AS grad_q,"
                        f" CAST(ROUND((SELECT {wn} FROM w_{r}) * 1000000) AS BIGINT) AS w_q"
                    )
        branches.append(
            f"SELECT CAST({r} AS BIGINT), 'out', CAST(0 AS BIGINT), CAST(0 AS BIGINT),"
            f" (SELECT gvb FROM g_{r}),"
            f" CAST(ROUND((SELECT vb FROM w_{r}) * 1000000) AS BIGINT)"
        )
        for j in range(1, H + 1):
            branches.append(
                f"SELECT CAST({r} AS BIGINT), 'out', CAST(0 AS BIGINT), CAST({j} AS BIGINT),"
                f" (SELECT gv{j} FROM g_{r}),"
                f" CAST(ROUND((SELECT v{j} FROM w_{r}) * 1000000) AS BIGINT)"
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


def _lstmx_params() -> list:
    """(name, initial value, tidy address) for the 35 parameters: per
    gate (layer) and unit, pidx 0 = bias, 1 = input weight, 1+k =
    recurrence k; then the 'out' head."""
    W, V = _lstmx_init()
    units = range(1, _LSTMX_H + 1)
    rows = []
    for g in _GATES:
        for j in units:
            rows.append((f"b{g}{j}", W[g][j - 1][0], (g, j, 0)))
            rows.append((f"u{g}{j}", W[g][j - 1][1], (g, j, 1)))
            rows += [(f"r{g}{j}_{k}", W[g][j - 1][1 + k], (g, j, 1 + k)) for k in units]
    return rows + head_params(V)


def _hsig_d(x: str) -> str:
    """Hard sigmoid in the engine's D-suffixed literal form."""
    return f"GREATEST(LEAST(0.2D * {x} + 0.5D, 1.0D), 0.0D)"


def _lstmx_forward(w: dict) -> tuple:
    """Per timestep: the 4 gate pre-activations (t=1 omits the
    recurrence — h_0 = 0), the gate activations, the cell state (t=1
    omits the forget path — c_0 = 0), its clamp and the hidden state;
    then the head margin over h3."""
    units, d = range(1, _LSTMX_H + 1), sql_double
    layers = []
    for t in range(1, _LSTMX_T + 1):
        pres = []
        for g in _GATES:
            for j in units:
                e = f"{d(w[f'b{g}{j}'])} + {d(w[f'u{g}{j}'])} * z{t}"
                if t > 1:
                    e += "".join(
                        f" + {d(w[f'r{g}{j}_{k}'])} * h{t - 1}_{k}" for k in units
                    )
                pres.append(f"{e} AS pre{g}{t}_{j}")
        acts = []
        for j in units:
            acts += [f"{_hsig_d(f'pre{g}{t}_{j}')} AS g{g}{t}_{j}" for g in "ifo"]
            acts.append(f"{hardtanh_sql(f'preg{t}_{j}')} AS gg{t}_{j}")
        cells = [
            (f"gf{t}_{j} * c{t - 1}_{j} + " if t > 1 else "")
            + f"gi{t}_{j} * gg{t}_{j} AS c{t}_{j}"
            for j in units
        ]
        layers += [
            pres,
            acts,
            cells,
            [f"{hardtanh_sql(f'c{t}_{j}')} AS th{t}_{j}" for j in units],
            [f"go{t}_{j} * th{t}_{j} AS h{t}_{j}" for j in units],
        ]
    return layers, margin_sql(w, [f"h{_LSTMX_T}_{j}" for j in units])


def _lstmx_gradient(w: dict) -> tuple:
    """LSTM BPTT as chained projections: per timestep (3 -> 1) the
    output-gate delta and the cell-state carry dc_t += dc_{t+1} *
    f_{t+1}, the i/f/g gate deltas, then the recurrence transpose
    into dh_{t-1} (fixed enumeration: units j asc, gates i, f, o, g)."""
    units, T = range(1, _LSTMX_H + 1), _LSTMX_T

    def gate_cols(t: int) -> list:
        cols = []
        for j in units:
            cols.append(
                f"CASE WHEN ABS(preo{t}_{j}) < 2.5D"
                f" THEN dh{t}_{j} * th{t}_{j} * 0.2D"
                f" ELSE 0.0D END AS dpo{t}_{j}"
            )
            dc = (
                f"CASE WHEN ABS(c{t}_{j}) < 1.0D"
                f" THEN dh{t}_{j} * go{t}_{j} ELSE 0.0D END"
            )
            if t < T:
                dc = f"({dc}) + dc{t + 1}_{j} * gf{t + 1}_{j}"
            cols.append(f"{dc} AS dc{t}_{j}")
        return cols

    def delta_cols(t: int) -> list:
        cols = []
        for j in units:
            cols.append(
                f"CASE WHEN ABS(prei{t}_{j}) < 2.5D"
                f" THEN dc{t}_{j} * gg{t}_{j} * 0.2D"
                f" ELSE 0.0D END AS dpi{t}_{j}"
            )
            if t > 1:
                cols.append(
                    f"CASE WHEN ABS(pref{t}_{j}) < 2.5D"
                    f" THEN dc{t}_{j} * c{t - 1}_{j} * 0.2D"
                    f" ELSE 0.0D END AS dpf{t}_{j}"
                )
            cols.append(
                f"CASE WHEN ABS(preg{t}_{j}) < 1.0D"
                f" THEN dc{t}_{j} * gi{t}_{j}"
                f" ELSE 0.0D END AS dpg{t}_{j}"
            )
        return cols

    def dh_cols(t: int) -> list:
        return [
            " + ".join(
                f"{sql_double(w[f'r{g}{j}_{k}'])} * dp{g}{t + 1}_{j}"
                for j in units
                for g in _GATES
            )
            + f" AS dh{t}_{k}"
            for k in units
        ]

    layers = [[f"resid * {sql_double(w[f'v{j}'])} AS dh3_{j}" for j in units]]
    for t in range(T, 0, -1):
        if t < T:
            layers.append(dh_cols(t))
        layers += [gate_cols(t), delta_cols(t)]
    grads = head_grads([f"h3_{j}" for j in units])
    for g in _GATES:
        ts = (2, 3) if g == "f" else (1, 2, 3)
        for j in units:
            grads[f"b{g}{j}"] = "(" + " + ".join(f"dp{g}{t}_{j}" for t in ts) + ")"
            grads[f"u{g}{j}"] = (
                "(" + " + ".join(f"dp{g}{t}_{j} * z{t}" for t in ts) + ")"
            )
            for k in units:
                grads[f"r{g}{j}_{k}"] = (
                    "(" + " + ".join(f"dp{g}{t}_{j} * h{t - 1}_{k}" for t in (2, 3)) + ")"
                )
    return layers, grads


LSTMX = ExactArch(
    "lstmx", _LSTMX_ROUNDS, _LSTMX_LR, _lstmx_params, _lstmx_forward, _lstmx_gradient
)


@register(
    "ml_lstm_exact",
    _lstmx_oracle(),
    doc=f"exact-GD LSTM ({_LSTMX_H} units, hard-sigmoid gates + hard-tanh "
    f"cell, full i/f/o/g BPTT, {_LSTMX_ROUNDS} full-batch rounds), full "
    "oracle incl. held-out confusion",
)
def ml_lstm_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """See the module docstring: training of the
    reference's LSTM model class (models/lstm_model.py:17-34) under
    full value-level DuckDB replay — gate deltas, the cell-state
    carry, weights, per-round accuracy, and the held-out confusion
    all hash-match.  Completes the exact-trainer program over all
    FOUR reference model families."""
    return exact_tidy(spark, LSTMX, fit_exact(spark, sf_dir, LSTMX))
