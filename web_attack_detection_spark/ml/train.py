"""In-engine training for the reference's sequence models.

The reference trains its Conv1D / SimpleRNN / LSTM stacks with Keras
(``/root/reference/models/cnn_model.py:19-40``, ``rnn_model.py:17-34``,
``lstm_model.py:17-34``).  TensorFlow has no install path in this image,
so rounds 1-3 drew the boundary at "inference in-engine, training
out-of-engine".  This module removes that boundary: each architecture's
BACKWARD pass is implemented in numpy (exactly mirroring the forward
passes in :mod:`ml.nets`).  Every fit runs one kernel,
:func:`protocol_fit_arrays`, inside one ``mapInPandas`` task over the
train set (:func:`_fit_protocol_fused`): per epoch, hash shards ->
one gradient per shard -> momentum-SGD or Adam step -> optional
validation loss and EarlyStopping.  A full-batch fit is the same
kernel with one shard.

Scale: the train set is held in one task, so callers bound it — the
registered queries hash-cap it (``plans/deepq.py``: ``_MAX_TRAIN`` =
384 rows for the sequence nets, 1,024 for the MLP), and SCALE.md's
round-6 probe shows their training cost stays flat as the corpus
grows.  Data-parallel classifier training at scale is MLlib's job
(``ml/pipeline.fit_mlp`` and the runner battery).

Dropout layers in the reference (rate 0.3 after each recurrent block,
0.5 after the CNN dense layer) ARE implemented here: inverted
Dropout(p) masks drawn from a deterministically seeded ``rng`` inside
each ``*_loss_grads`` (``dropout=...`` parameter, active in training
only; inference never masks) — matching Keras ``training=True``
semantics while staying reproducible.  Trained parameter dicts are
IDENTICAL in
shape to ``nets.seeded_*_params`` output, so they plug straight into
``nets.*_forward`` / ``inference.sequence_scorer`` for distributed
scoring: train-in-engine -> score-anywhere.
"""

from __future__ import annotations

from typing import Callable, Iterator

import numpy as np

from web_attack_detection_spark.ml import nets

# The training frame contract: row id (long, the shard-hash key and
# the row order inside the kernel), input sequence, int class label.
ID_COL, SEQ_COL, LABEL_COL = "vec_id", "seq", "label"

# ---------------------------------------------------------------------------
# canonical parameter <-> flat-vector codec
# ---------------------------------------------------------------------------


def _walk(tree) -> Iterator[np.ndarray]:
    """Yield every array in a params/grads tree in canonical order:
    dict keys sorted, list/tuple elements in index order."""
    if isinstance(tree, dict):
        for k in sorted(tree):
            yield from _walk(tree[k])
    elif isinstance(tree, (list, tuple)):
        for v in tree:
            yield from _walk(v)
    else:
        yield np.asarray(tree, dtype=np.float64)


def flatten_params(tree) -> np.ndarray:
    return np.concatenate([a.ravel() for a in _walk(tree)])


def unflatten_params(template, flat: np.ndarray):
    """Rebuild a tree shaped like ``template`` from ``flat`` (the
    inverse of :func:`flatten_params` over the same template)."""
    off = 0

    def rebuild(node):
        nonlocal off
        if isinstance(node, dict):
            # same canonical (sorted) order as _walk/flatten_params
            return {k: rebuild(node[k]) for k in sorted(node)}
        if isinstance(node, (list, tuple)):
            built = [rebuild(v) for v in node]
            return type(node)(built) if isinstance(node, tuple) else built
        a = np.asarray(node, dtype=np.float64)
        out = flat[off : off + a.size].reshape(a.shape).copy()
        off += a.size
        return out

    out = rebuild(template)
    if off != flat.size:
        raise ValueError(f"flat vector length {flat.size} != template size {off}")
    return out


def _zeros_like_tree(tree):
    if isinstance(tree, dict):
        return {k: _zeros_like_tree(v) for k, v in tree.items()}
    if isinstance(tree, (list, tuple)):
        z = [_zeros_like_tree(v) for v in tree]
        return type(tree)(z) if isinstance(tree, tuple) else z
    return np.zeros_like(np.asarray(tree, dtype=np.float64))


def _softmax_ce(logits: np.ndarray, y: np.ndarray):
    """Softmax cross-entropy: returns (loss_sum, dlogits) where
    dlogits is the UNAVERAGED gradient (probs - onehot)."""
    z = logits - logits.max(axis=1, keepdims=True)
    e = np.exp(z)
    probs = e / e.sum(axis=1, keepdims=True)
    n = logits.shape[0]
    loss_sum = -np.log(np.clip(probs[np.arange(n), y], 1e-12, None)).sum()
    d = probs.copy()
    d[np.arange(n), y] -= 1.0
    return loss_sum, d


# ---------------------------------------------------------------------------
# Conv1D stack: forward-with-cache + backward (mirrors nets.cnn_forward)
# ---------------------------------------------------------------------------


def cnn_loss_grads(
    x: np.ndarray,
    y: np.ndarray,
    params: dict,
    dropout: float = 0.0,
    rng: np.random.Generator | None = None,
):
    """x (n, L) raw sequences, y (n,) int labels ->
    (loss_sum, grads tree shaped like params).  ``dropout`` > 0
    applies Keras-style inverted Dropout(p) after the Dense(128)
    hidden relu — the reference's one dropout site
    (cnn_model.py:31-33) — masked from ``rng`` (see mlp_loss_grads
    for the seeding contract)."""
    a = x[:, :, None].astype(np.float64)
    caches = []
    for w, b in params["convs"]:
        k, cin, cout = w.shape
        L = a.shape[1] - k + 1
        idx = np.arange(k)[None, :] + np.arange(L)[:, None]
        win = a[:, idx, :].reshape(a.shape[0], L, k * cin)  # (n, L, k*cin)
        z = win @ w.reshape(k * cin, cout) + b
        r = np.maximum(z, 0.0)
        half = r.shape[1] // 2
        r4 = r[:, : half * 2, :].reshape(r.shape[0], half, 2, cout)
        am = r4.argmax(axis=2)  # (n, half, cout)
        pooled = np.take_along_axis(r4, am[:, :, None, :], axis=2)[:, :, 0, :]
        caches.append((a.shape, win, z, r.shape, am, (w, b)))
        a = pooled
    pooled_shape = a.shape
    flat = a.reshape(a.shape[0], -1)
    wd, bd = params["dense"]
    zd = flat @ wd + bd
    hd = np.maximum(zd, 0.0)
    md = None
    if dropout:
        md = (rng.random(hd.shape) >= dropout) / (1.0 - dropout)
        hd = hd * md
    wo, bo = params["out"]
    loss_sum, dlog = _softmax_ce(hd @ wo + bo, y)

    grads = _zeros_like_tree(params)
    grads["out"] = (hd.T @ dlog, dlog.sum(axis=0))
    dh = dlog @ wo.T
    if md is not None:
        dh = dh * md
    dzd = dh * (zd > 0)
    grads["dense"] = (flat.T @ dzd, dzd.sum(axis=0))
    da = (dzd @ wd.T).reshape(pooled_shape)

    for li in range(len(caches) - 1, -1, -1):
        a_shape, win, z, r_shape, am, (w, b) = caches[li]
        k, cin, cout = w.shape
        n, L, _ = z.shape
        half = am.shape[1]
        # unpool: route each pooled grad to its argmax slot
        dr4 = np.zeros((n, half, 2, cout))
        np.put_along_axis(dr4, am[:, :, None, :], da[:, :, None, :], axis=2)
        dr = np.zeros(r_shape)
        dr[:, : half * 2, :] = dr4.reshape(n, half * 2, cout)
        dz = dr * (z > 0)
        wr = w.reshape(k * cin, cout)
        dW = np.tensordot(win, dz, axes=([0, 1], [0, 1]))  # (k*cin, cout)
        grads["convs"][li] = (dW.reshape(k, cin, cout), dz.sum(axis=(0, 1)))
        dwin = dz @ wr.T  # (n, L, k*cin)
        dx = np.zeros(a_shape)
        dwin3 = dwin.reshape(n, L, k, cin)
        for j in range(k):  # col2im scatter-add, k is 3
            dx[:, j : j + L, :] += dwin3[:, :, j, :]
        da = dx
    return loss_sum, grads


# ---------------------------------------------------------------------------
# SimpleRNN stack: BPTT (mirrors nets.rnn_forward)
# ---------------------------------------------------------------------------


def _rnn_layer_forward(x, w, u, b):
    """TIME-MAJOR layout throughout: ``x`` is (L, n, d), so every
    per-step slice (``xw[t]``, ``hs[t]``) is CONTIGUOUS.  The batch-
    major layout spent most of the BPTT wall on strided reads/writes
    (row stride = L×units); time-major plus the one-gemm input
    projection cut the measured step cost ~3x."""
    L, n, d = x.shape
    units = b.shape[0]
    xw = (x.reshape(L * n, d) @ w).reshape(L, n, units) + b
    hs = np.zeros((L + 1, n, units))  # hs[0] is h_{-1} = 0
    for t in range(L):
        hs[t + 1] = np.tanh(xw[t] + hs[t] @ u)
    return hs


def _rnn_layer_backward(x, hs, w, u, dseq, dlast):
    """dseq (L, n, units) grads on every output step (or None),
    dlast (n, units) grad on the final step only (or None).

    Only the dh recurrence runs per step; the weight gradients and dx
    are single gemms over the stacked per-step dz (the same batching
    as the forward's input projection)."""
    L, n, d = x.shape
    units = w.shape[1]
    hd = 1.0 - hs[1:] * hs[1:]  # tanh' precomputed once
    dzs = np.empty((L, n, units))
    dh = np.zeros((n, units)) if dlast is None else dlast.copy()
    for t in range(L - 1, -1, -1):
        if dseq is not None:
            dh = dh + dseq[t]
        dz = dh * hd[t]
        dzs[t] = dz
        dh = dz @ u.T
    dz_flat = dzs.reshape(L * n, units)
    dW = x.reshape(L * n, d).T @ dz_flat
    dU = hs[:L].reshape(L * n, units).T @ dz_flat
    db = dz_flat.sum(axis=0)
    dx = (dz_flat @ w.T).reshape(L, n, d)
    return dx, (dW, dU, db)


def rnn_loss_grads(
    x: np.ndarray,
    y: np.ndarray,
    params: dict,
    dropout: float = 0.0,
    rng: np.random.Generator | None = None,
):
    """``dropout`` > 0 applies inverted Dropout(p) to each recurrent
    layer's OUTPUT — the reference's two sites (rnn_model.py:21,23:
    after SimpleRNN(64, return_sequences) and after SimpleRNN(128)).
    Keras Dropout on a 3-D sequence masks every (timestep, unit)
    element independently; masks come from ``rng`` (seeding contract
    in mlp_loss_grads).  Draw order: seq mask then last-state mask."""
    xi = np.ascontiguousarray(x.T, dtype=np.float64)[:, :, None]  # (L, n, 1)
    w1, u1, b1 = params["rnn1"]
    hs1 = _rnn_layer_forward(xi, w1, u1, b1)
    s1 = hs1[1:]
    m1 = m2 = None
    if dropout:
        m1 = (rng.random(s1.shape) >= dropout) / (1.0 - dropout)
        s1 = s1 * m1
    w2, u2, b2 = params["rnn2"]
    hs2 = _rnn_layer_forward(s1, w2, u2, b2)
    h2 = hs2[-1]
    if dropout:
        m2 = (rng.random(h2.shape) >= dropout) / (1.0 - dropout)
        h2 = h2 * m2
    wd, bd = params["dense"]
    zd = h2 @ wd + bd
    hd = np.maximum(zd, 0.0)
    wo, bo = params["out"]
    loss_sum, dlog = _softmax_ce(hd @ wo + bo, y)

    grads = _zeros_like_tree(params)
    grads["out"] = (hd.T @ dlog, dlog.sum(axis=0))
    dh = dlog @ wo.T
    dzd = dh * (zd > 0)
    grads["dense"] = (h2.T @ dzd, dzd.sum(axis=0))
    dh2 = dzd @ wd.T
    if m2 is not None:
        dh2 = dh2 * m2
    ds1, grads["rnn2"] = _rnn_layer_backward(s1, hs2, w2, u2, None, dh2)
    if m1 is not None:
        ds1 = ds1 * m1
    _, grads["rnn1"] = _rnn_layer_backward(xi, hs1, w1, u1, ds1, None)
    return loss_sum, grads


# layer internals are time-major — see _rnn_layer_forward


# ---------------------------------------------------------------------------
# LSTM stack: BPTT (mirrors nets._lstm)
# ---------------------------------------------------------------------------


def _lstm_layer_forward(x, w, u, b):
    """TIME-MAJOR (x is (L, n, d)) — see _rnn_layer_forward."""
    L, n, d = x.shape
    units = b.shape[0] // 4
    # batched input projection (one gemm); recurrence stays sequential
    xw = (x.reshape(L * n, d) @ w).reshape(L, n, 4 * units) + b
    hs = np.zeros((L + 1, n, units))
    cs = np.zeros((L + 1, n, units))
    gates = np.empty((L, n, 4 * units))
    for t in range(L):
        z = xw[t] + hs[t] @ u
        # one sigmoid pass over all 4u columns (the g block is then
        # overwritten with its tanh) — fewer numpy dispatches per step
        sig = nets._sigmoid(z)
        g = np.tanh(z[:, 2 * units : 3 * units])
        i = sig[:, :units]
        f = sig[:, units : 2 * units]
        o = sig[:, 3 * units :]
        cs[t + 1] = f * cs[t] + i * g
        hs[t + 1] = o * np.tanh(cs[t + 1])
        gates[t] = sig
        gates[t, :, 2 * units : 3 * units] = g
    return hs, cs, gates


def _lstm_layer_backward(x, hs, cs, gates, w, u, dseq, dlast):
    """Per step only the (dh, dc) recurrence runs; everything that
    depends on the (already known) gates alone is precomputed in a few
    whole-sequence array ops, and dW/dU/db/dx are single gemms over
    the stacked dz.  TIME-MAJOR layout (x is (L, n, d)) so every
    per-step slice is contiguous — at these layer sizes the BPTT wall
    was strided memory access, not flops."""
    L, n, d = x.shape
    units = w.shape[1] // 4
    # precomputed once per layer (big contiguous ops):
    tc_all = np.tanh(cs[1:])  # tanh(c_t)
    sd = gates - gates * gates  # s*(1-s) for the i/f/o blocks
    g_all = gates[:, :, 2 * units : 3 * units]
    sd[:, :, 2 * units : 3 * units] = 1.0 - g_all * g_all  # tanh' for g
    oc = gates[:, :, 3 * units :] * (1.0 - tc_all * tc_all)  # o*(1-tanh(c)^2)
    dzs = np.empty((L, n, 4 * units))
    dh = np.zeros((n, units)) if dlast is None else dlast.copy()
    dc = np.zeros((n, units))
    for t in range(L - 1, -1, -1):
        if dseq is not None:
            dh = dh + dseq[t]
        dc = dc + dh * oc[t]
        dzv = dzs[t]
        dzv[:, :units] = dc * g_all[t]  # di
        dzv[:, units : 2 * units] = dc * cs[t]  # df
        dzv[:, 2 * units : 3 * units] = dc * gates[t, :, :units]  # dg
        dzv[:, 3 * units :] = dh * tc_all[t]  # do
        dzv *= sd[t]
        dh = dzv @ u.T
        dc = dc * gates[t, :, units : 2 * units]
    dz_flat = dzs.reshape(L * n, 4 * units)
    dW = x.reshape(L * n, d).T @ dz_flat
    dU = hs[:L].reshape(L * n, units).T @ dz_flat
    db = dz_flat.sum(axis=0)
    dx = (dz_flat @ w.T).reshape(L, n, d)
    return dx, (dW, dU, db)


def lstm_loss_grads(
    x: np.ndarray,
    y: np.ndarray,
    params: dict,
    dropout: float = 0.0,
    rng: np.random.Generator | None = None,
):
    """Dropout sites mirror the reference (lstm_model.py:21,23) —
    see rnn_loss_grads for mask semantics and draw order."""
    xi = np.ascontiguousarray(x.T, dtype=np.float64)[:, :, None]  # (L, n, 1)
    w1, u1, b1 = params["lstm1"]
    hs1, cs1, g1 = _lstm_layer_forward(xi, w1, u1, b1)
    s1 = hs1[1:]
    m1 = m2 = None
    if dropout:
        m1 = (rng.random(s1.shape) >= dropout) / (1.0 - dropout)
        s1 = s1 * m1
    w2, u2, b2 = params["lstm2"]
    hs2, cs2, g2 = _lstm_layer_forward(s1, w2, u2, b2)
    h2 = hs2[-1]
    if dropout:
        m2 = (rng.random(h2.shape) >= dropout) / (1.0 - dropout)
        h2 = h2 * m2
    wd, bd = params["dense"]
    zd = h2 @ wd + bd
    hd = np.maximum(zd, 0.0)
    wo, bo = params["out"]
    loss_sum, dlog = _softmax_ce(hd @ wo + bo, y)

    grads = _zeros_like_tree(params)
    grads["out"] = (hd.T @ dlog, dlog.sum(axis=0))
    dh = dlog @ wo.T
    dzd = dh * (zd > 0)
    grads["dense"] = (h2.T @ dzd, dzd.sum(axis=0))
    dh2 = dzd @ wd.T
    if m2 is not None:
        dh2 = dh2 * m2
    ds1, grads["lstm2"] = _lstm_layer_backward(s1, hs2, cs2, g2, w2, u2, None, dh2)
    if m1 is not None:
        ds1 = ds1 * m1
    _, grads["lstm1"] = _lstm_layer_backward(xi, hs1, cs1, g1, w1, u1, ds1, None)
    return loss_sum, grads


# ---------------------------------------------------------------------------
# weight persistence (the reference's model.save/load_model boundary —
# cnn_model.py:74-81 — re-expressed as a portable JSON weight file)
# ---------------------------------------------------------------------------


def save_params(params: dict, path: str) -> None:
    """Serialize a trained parameter tree losslessly (float64 hex) so
    a model trained in one session scores identically in another.
    The file is O(model) — KBs to MBs — and engine-agnostic."""
    import json

    def enc(node):
        if isinstance(node, dict):
            return {"_t": "dict", "v": {k: enc(v) for k, v in node.items()}}
        if isinstance(node, (list, tuple)):
            return {
                "_t": "tuple" if isinstance(node, tuple) else "list",
                "v": [enc(v) for v in node],
            }
        a = np.asarray(node, dtype=np.float64)
        return {
            "_t": "arr",
            "shape": list(a.shape),
            "hex": [x.hex() for x in a.ravel().tolist()],
        }

    with open(path, "w") as f:
        json.dump(enc(params), f)


def load_params(path: str) -> dict:
    """Inverse of :func:`save_params`; bit-exact roundtrip."""
    import json

    def dec(node):
        if node["_t"] == "dict":
            return {k: dec(v) for k, v in node["v"].items()}
        if node["_t"] in ("list", "tuple"):
            vals = [dec(v) for v in node["v"]]
            return tuple(vals) if node["_t"] == "tuple" else vals
        a = np.array([float.fromhex(h) for h in node["hex"]], dtype=np.float64)
        return a.reshape(node["shape"])

    with open(path) as f:
        return dec(json.load(f))


# ---------------------------------------------------------------------------
# Reference MLP (M1): plain dense backprop (mirrors nets.ref_mlp_forward)
# ---------------------------------------------------------------------------


def mlp_loss_grads(
    x: np.ndarray,
    y: np.ndarray,
    params: dict,
    dropout: float = 0.0,
    rng: np.random.Generator | None = None,
):
    """x (n, input_dim), y (n,) -> (loss_sum, grads).  The reference's
    M1 stack (mlp_model.py:19-26): Dense(256/128/64, relu) -> softmax,
    with Dropout(p) after the FIRST TWO hidden layers only
    (mlp_model.py:21,23 — Dense(64) has none).  ``dropout`` > 0
    enables Keras-style INVERTED dropout: each kept unit is scaled by
    1/(1-p) at train time so evaluation is the identity (no mask in
    the inference forward, ml/nets.py).  ``rng`` supplies the mask
    draws — callers seed it per (seed, epoch, step) for reproducible
    trajectories; FD tests recreate the same generator per call so
    the mask is held fixed while params are perturbed."""
    layers = params["layers"]
    a = np.asarray(x, dtype=np.float64)
    acts = [a]
    zs = []
    masks: list = []
    n_hidden = len(layers) - 1
    for li, (w, b) in enumerate(layers[:-1]):
        z = acts[-1] @ w + b
        zs.append(z)
        h = np.maximum(z, 0.0)
        if dropout and li < n_hidden - 1:
            m = (rng.random(h.shape) >= dropout) / (1.0 - dropout)
            h = h * m
            masks.append(m)
        else:
            masks.append(None)
        acts.append(h)
    w_out, b_out = layers[-1]
    loss_sum, dlog = _softmax_ce(acts[-1] @ w_out + b_out, y)
    grads = _zeros_like_tree(params)
    glayers = grads["layers"]
    glayers[-1] = (acts[-1].T @ dlog, dlog.sum(axis=0))
    d = dlog @ w_out.T
    for li in range(len(layers) - 2, -1, -1):
        if masks[li] is not None:
            d = d * masks[li]
        dz = d * (zs[li] > 0)
        glayers[li] = (acts[li].T @ dz, dz.sum(axis=0))
        d = dz @ layers[li][0].T
    return loss_sum, grads


GRAD_FNS: dict[str, Callable] = {
    "cnn": cnn_loss_grads,
    "rnn": rnn_loss_grads,
    "lstm": lstm_loss_grads,
    "mlp": mlp_loss_grads,
}

FORWARD_FNS: dict[str, Callable] = {
    "cnn": nets.cnn_forward,
    "rnn": nets.rnn_forward,
    "lstm": nets.lstm_forward,
    "mlp": nets.ref_mlp_forward,
}


def init_params(arch: str, seq_len: int, n_classes: int, seed: int = 42) -> dict:
    if arch == "cnn":
        return nets.seeded_cnn_params(seq_len, n_classes, seed)
    if arch == "rnn":
        return nets.seeded_rnn_params(n_classes, seed)
    if arch == "lstm":
        return nets.seeded_lstm_params(n_classes, seed)
    if arch == "mlp":
        return nets.seeded_ref_mlp_params(seq_len, n_classes, seed)
    raise ValueError(f"unknown arch {arch!r}")


def adam_step(
    flat: np.ndarray,
    grad: np.ndarray,
    m: np.ndarray,
    v: np.ndarray,
    t: int,
    lr: float = 1e-3,
    beta1: float = 0.9,
    beta2: float = 0.999,
    eps: float = 1e-7,
):
    """One Adam update (Kingma & Ba 2015, the bias-corrected form) on
    a flat parameter vector.  ``t`` is the 1-based step counter AFTER
    this update.  ``eps = 1e-7`` is the Keras default the reference
    optimizer runs with (``mlp_model.py:10-15`` compiles
    ``Adam(learning_rate=0.001)`` and leaves every other argument at
    its Keras default).  Pure numpy, deterministic; returns
    ``(new_flat, new_m, new_v)`` without mutating inputs — the protocol
    kernel applies it after each shard gradient."""
    m = beta1 * m + (1.0 - beta1) * grad
    v = beta2 * v + (1.0 - beta2) * grad * grad
    m_hat = m / (1.0 - beta1**t)
    v_hat = v / (1.0 - beta2**t)
    return flat - lr * m_hat / (np.sqrt(v_hat) + eps), m, v


# Per-epoch deterministic minibatch shard assignment: a two-round
# xorshift/wrapping-multiply mixer (murmur-finalizer shape) over
# (id + epoch*SALT).  The earlier additive-salt form
# ((id*K + e*S) mod n) only rotated shard labels — (a-b)*K mod n is
# epoch-independent, so the same ids always trained together
# (shuffle=False semantics).  With the salt mixed in BEFORE the
# multiplies and full avalanche after, pair co-residency across
# epochs matches independent random re-assignment (measured 0.245 ==
# 2*(1/n)*(1-1/n) for n=7 on sequential ids) — the real Keras
# ``shuffle=True`` stand-in.  Both multipliers are odd, so each
# wrapping multiply is a bijection on uint64.
_SHARD_MULT = 1640531527  # 0x61C88647 = -floor(2**32/phi) mod 2**32
_SHARD_MULT2 = 2027808487  # odd
_SHARD_EPOCH_SALT = 40503


def _shard_ids(ids: np.ndarray, epoch: int, n_shards: int) -> np.ndarray:
    """Shard of each id for ``epoch`` (uint64 arithmetic wraps
    natively)."""
    h = ids.astype(np.uint64) + np.uint64(epoch) * np.uint64(_SHARD_EPOCH_SALT)
    h ^= h >> np.uint64(33)
    h *= np.uint64(_SHARD_MULT)
    h ^= h >> np.uint64(29)
    h *= np.uint64(_SHARD_MULT2)
    h ^= h >> np.uint64(32)
    return ((h >> np.uint64(33)) % np.uint64(n_shards)).astype(np.int64)


def fit_sequence_net(
    train_df,
    arch: str,
    seq_len: int,
    n_classes: int,
    epochs: int = 8,
    lr: float = 0.2,
    momentum: float = 0.9,
    clip_norm: float = 5.0,
    seed: int = 42,
    init: dict | None = None,
    optimizer: str = "sgd",
    batch_size: int | None = None,
    val_df=None,
    patience: int | None = None,
    dropout: float = 0.0,
):
    """Train a reference-architecture net in-engine; returns
    ``(params, history)``.

    ``train_df`` carries ``vec_id`` (long), ``seq`` (array<double>) and
    ``label`` (int); ``val_df`` carries ``seq`` and ``label``.  The
    whole fit runs in one task (:func:`_fit_protocol_fused`), so the
    caller bounds the train set (the registered queries hash-cap it).

    * ``batch_size=None`` (default) — FULL-BATCH: one gradient over
      the whole train set per epoch.  With ``optimizer="sgd"`` that is
      deterministic momentum SGD, clipped to ``clip_norm``.
    * ``optimizer="adam"``, ``batch_size=64``, ``val_df=...``,
      ``patience=5``, ``epochs=50``, ``lr=1e-3`` — the REFERENCE's
      training protocol (``/root/reference/models/mlp_model.py:10-15,
      67-81``, identical in ``cnn_model.py:74-81`` / ``rnn_model.py`` /
      ``lstm_model.py``): Adam(lr=1e-3, Keras defaults), minibatch 64,
      EarlyStopping(monitor=val_loss, patience=5,
      restore_best_weights=True), up to 50 epochs.  Each epoch
      partitions the train set into ``ceil(n/batch_size)`` shards by
      an epoch-salted mixer hash of ``vec_id`` (:func:`_shard_ids`),
      so batch COMPOSITION (not just batch order) changes every
      epoch: the deterministic stand-in for Keras ``shuffle=True``;
      shard sizes are ``batch_size`` in expectation.  Each shard step
      is one gradient followed by an optimizer step.  After each epoch
      ``val_df`` is scored with a forward pass; training stops once
      ``val_loss`` hasn't improved for ``patience`` epochs and the
      best-epoch weights are restored (Keras semantics: weights are
      restored only when the callback actually triggers; a run that
      reaches the epoch cap keeps its final weights).

    ``history`` is the dict ``{"loss": [...], "val_loss": [...],
    "best_epoch": int, "stopped_epoch": int, "early_stopped": bool}``
    — the Keras ``history.history`` shape plus the EarlyStopping
    outcome; ``val_loss`` is empty without ``val_df``.

    ``dropout`` (inverted, masks seeded per (seed, epoch, step))
    needs a minibatch fit; a full-batch fit with dropout raises.

    ``init`` resumes from a previous parameter dict (e.g. one loaded
    via :func:`load_params` from a checkpoint) instead of seeding
    fresh — optimizer state restarts at zero, the standard
    weights-only-checkpoint semantics.

    For the LSTM, the forget-gate bias is initialized to 1.0 — the
    Keras ``unit_forget_bias=True`` default the reference trains under
    (``lstm_model.py:17-34``); without it the gates start half-closed
    and early BPTT signal dies."""
    if optimizer not in ("sgd", "adam"):
        raise ValueError(f"unknown optimizer {optimizer!r}")
    if dropout and batch_size is None:
        # Reference rates: mlp 0.3 (mlp_model.py:21,23), cnn 0.5
        # (cnn_model.py:33), rnn/lstm 0.3 ({rnn,lstm}_model.py:21,23).
        raise ValueError("dropout requires a minibatch fit (batch_size)")
    if init is not None:
        params = init
    else:
        params = init_params(arch, seq_len, n_classes, seed)
        if arch == "lstm":
            for key in ("lstm1", "lstm2"):
                _, _, b = params[key]
                units = b.shape[0] // 4
                b[units : 2 * units] = 1.0
    n_shards = 1
    if batch_size is not None:
        n_train = train_df.count()
        if n_train == 0:
            raise ValueError("empty training set")
        n_shards = max(1, -(-n_train // batch_size))
    flat, history = _fit_protocol_fused(
        train_df, val_df, arch, flatten_params(params), params, n_shards,
        epochs=epochs, lr=lr, momentum=momentum, clip_norm=clip_norm,
        optimizer=optimizer, patience=patience,
        dropout=dropout, seed=seed,
    )
    return unflatten_params(params, flat), history


def protocol_fit_arrays(
    X: np.ndarray,
    y: np.ndarray,
    ids: np.ndarray,
    Xv,
    yv,
    arch: str,
    template: dict,
    flat0: np.ndarray,
    n_shards: int,
    *,
    epochs: int,
    lr: float,
    momentum: float = 0.9,
    clip_norm: float = 0.0,
    optimizer: str = "adam",
    patience: int | None = None,
    dropout: float = 0.0,
    seed: int = 0,
):
    """Single-process reference-protocol fit over in-memory arrays —
    the compute kernel of :func:`_fit_protocol_fused` and the local
    twin the parity tests compare against: minibatch steps ->
    optimizer update -> per-epoch val loss ->
    EarlyStopping(patience, restore-best-on-trigger).  Rows are sorted
    by id first so the result is independent of arrival order; each
    epoch's shards come from the epoch-salted mixer hash
    (:func:`_shard_ids`); ``n_shards=1`` is one full-batch step per
    epoch.  With ``dropout`` > 0 each step's
    inverted-dropout mask comes from a generator seeded by (seed,
    epoch, step), so the whole trajectory is reproducible and
    restore-best/truncated-refit parity holds exactly as in the
    no-dropout case.  ``Xv`` None disables early stopping."""
    order = np.argsort(ids, kind="stable")
    X = X[order]
    y = y[order]
    ids = ids[order]
    grad_fn = GRAD_FNS[arch]
    fwd = FORWARD_FNS[arch]

    flat = flat0
    m = np.zeros_like(flat)
    v = np.zeros_like(flat)
    vel = np.zeros_like(flat)
    t = 0
    best_val = float("inf")
    best_epoch = 0
    best_flat = flat.copy()
    wait = 0
    early_stopped = False
    hist_loss: list[float] = []
    hist_val: list[float] = []
    epoch = 0
    for epoch in range(1, epochs + 1):
        shard = _shard_ids(ids, epoch, n_shards)
        ep_loss = 0.0
        ep_n = 0
        for s in range(n_shards):
            mask = shard == s
            n = int(mask.sum())
            if n == 0:
                continue  # hash shard happened to be empty
            p = unflatten_params(template, flat)
            if dropout:
                rng = np.random.default_rng((0x5EED, seed, epoch, s))
                ls, g = grad_fn(X[mask], y[mask], p, dropout=dropout, rng=rng)
            else:
                ls, g = grad_fn(X[mask], y[mask], p)
            loss, grad = ls / n, flatten_params(g) / n
            ep_loss += loss * n
            ep_n += n
            gn = float(np.linalg.norm(grad))
            if clip_norm and gn > clip_norm:
                grad = grad * (clip_norm / gn)
            if optimizer == "adam":
                t += 1
                flat, m, v = adam_step(flat, grad, m, v, t, lr=lr)
            else:
                vel = momentum * vel - lr * grad
                flat = flat + vel
        if ep_n == 0:
            raise ValueError("empty training set")
        hist_loss.append(ep_loss / ep_n)
        if Xv is not None:
            probs = fwd(Xv, unflatten_params(template, flat))
            vl = float(
                -np.log(np.clip(probs[np.arange(len(yv)), yv], 1e-12, None)).mean()
            )
            hist_val.append(vl)
            if vl < best_val:
                best_val, best_epoch, best_flat = vl, epoch, flat.copy()
                wait = 0
            else:
                wait += 1
                if patience is not None and wait >= patience:
                    early_stopped = True
                    break
    if early_stopped:  # Keras restore_best_weights: only on trigger
        flat = best_flat
    history = {
        "loss": hist_loss,
        "val_loss": hist_val,
        "best_epoch": best_epoch if Xv is not None else len(hist_loss),
        "stopped_epoch": epoch,
        "early_stopped": early_stopped,
    }
    return flat, history


def _fit_protocol_fused(
    train_df,
    val_df,
    arch: str,
    flat0: np.ndarray,
    template: dict,
    n_shards: int,
    *,
    epochs: int,
    lr: float,
    momentum: float,
    clip_norm: float,
    optimizer: str,
    patience: int | None,
    dropout: float = 0.0,
    seed: int = 0,
):
    """Every :func:`fit_sequence_net` fit as ONE Spark job (a
    full-batch fit is ``n_shards=1``).

    Small-batch SGD is a serial chain of parameter updates — at batch
    64 a distributed gradient per step (one Spark job each) moves less
    data than its own scheduling floor costs (measured ~0.25 s/step
    local; 100+ steps per fit).  The scale-honest shape is therefore to
    move the OPTIMIZER to the data: the (already down-sampled/bounded) train
    relation streams through ``mapInPandas`` into a single task that
    runs the whole minibatch/early-stop loop and emits O(model)
    output — the driver never sees a row, and the cluster's
    parallelism goes to everything else running beside it (CV folds,
    the other models of the battery, the rest of the workload).  The
    validation split for EarlyStopping ships as a broadcast — it is
    bounded by the same argument that makes per-epoch validation
    affordable at all."""
    import pandas as pd

    spark = train_df.sparkSession
    if val_df is not None:
        vpdf = val_df.select(SEQ_COL, LABEL_COL).toPandas()
        if len(vpdf) == 0:
            raise ValueError("empty validation set")
        Xv = np.stack(vpdf[SEQ_COL].to_numpy())
        yv = vpdf[LABEL_COL].to_numpy().astype(np.int64)
        bc_val = spark.sparkContext.broadcast((Xv, yv))
    else:
        bc_val = None
    kw = dict(
        epochs=epochs, lr=lr, momentum=momentum, clip_norm=clip_norm,
        optimizer=optimizer, patience=patience, dropout=dropout, seed=seed,
    )

    def run(pdfs: "pd.DataFrame"):
        chunks = []
        for pdf in pdfs:
            if len(pdf):
                chunks.append(pdf)
        if not chunks:
            return
        data = pd.concat(chunks, ignore_index=True)
        X = np.stack(data[SEQ_COL].to_numpy())
        y = data[LABEL_COL].to_numpy().astype(np.int64)
        ids = data[ID_COL].to_numpy().astype(np.int64)
        Xv_, yv_ = bc_val.value if bc_val is not None else (None, None)
        flat, hist = protocol_fit_arrays(
            X, y, ids, Xv_, yv_, arch, template, flat0, n_shards, **kw
        )
        out = [
            ("param", 0, flat),
            ("loss", 0, np.asarray(hist["loss"])),
            ("val_loss", 0, np.asarray(hist["val_loss"])),
            (
                "meta",
                0,
                np.asarray(
                    [
                        hist["best_epoch"],
                        hist["stopped_epoch"],
                        1.0 if hist["early_stopped"] else 0.0,
                    ]
                ),
            ),
        ]
        yield pd.DataFrame(
            {
                "kind": [k for k, _, _ in out],
                "idx": [i for _, i, _ in out],
                "vals": [v for _, _, v in out],
            }
        )

    rows = (
        train_df.select(ID_COL, SEQ_COL, LABEL_COL)
        .coalesce(1)
        .mapInPandas(run, "kind string, idx int, vals array<double>")
        .collect()
    )
    if bc_val is not None:
        bc_val.unpersist()
    by_kind = {r["kind"]: np.asarray(r["vals"]) for r in rows}
    if "param" not in by_kind:
        raise ValueError("empty training set")
    meta = by_kind["meta"]
    history = {
        "loss": list(by_kind["loss"]),
        "val_loss": list(by_kind.get("val_loss", [])),
        "best_epoch": int(meta[0]),
        "stopped_epoch": int(meta[1]),
        "early_stopped": bool(meta[2]),
    }
    return by_kind["param"], history
