"""NumPy LSTM forward and backward pass (ACL'16 joint CWS+NER path,
SURVEY.md §2.7 M7/M8).

Gate wiring re-derived from the reference chip (neural_lib.py:452-560):
``x_in = X @ W + b`` precomputed outside the recurrence (the loop-
invariant hoist, neural_lib.py:500); per step with ``preact = h_prev @ U
+ x_in[t]`` and slice order [i, f, o, z]:

    i = σ(preact[0] + p[0]·c_prev)        (input gate, peephole on c_prev)
    f = σ(preact[1] + p[1]·c_prev)        (forget gate, peephole on c_prev)
    z = tanh(preact[3])                   (block input — slice 3!)
    c = f·c_prev + i·z
    o = σ(preact[2] + p[2]·c)             (output gate, peephole on NEW c)
    h = o·tanh(c)

``go_backwards`` feeds the reversed sequence and re-reverses its output
(theano ``go_backwards`` + ``reverse``).
"""

from __future__ import annotations

import numpy as np

F32 = np.float32


def _sigmoid(x: np.ndarray) -> np.ndarray:
    return 1.0 / (1.0 + np.exp(-x))


def lstm_forward(
    x: np.ndarray,
    w: np.ndarray,
    u: np.ndarray,
    b: np.ndarray,
    p: np.ndarray,
    go_backwards: bool = False,
) -> np.ndarray:
    """x (T, in_dim) → h (T, out_dim), reference gate wiring."""
    d = u.shape[0]
    seq = x[::-1] if go_backwards else x
    x_in = (seq @ w + b).astype(F32)
    h = np.zeros(d, dtype=F32)
    c = np.zeros(d, dtype=F32)
    out = np.empty((len(seq), d), dtype=F32)
    p0, p1, p2 = p[:d], p[d : 2 * d], p[2 * d : 3 * d]
    for t in range(len(seq)):
        preact = h @ u + x_in[t]
        i = _sigmoid(preact[:d] + p0 * c)
        f = _sigmoid(preact[d : 2 * d] + p1 * c)
        z = np.tanh(preact[3 * d : 4 * d])
        c = f * c + i * z
        o = _sigmoid(preact[2 * d : 3 * d] + p2 * c)
        h = o * np.tanh(c)
        out[t] = h
    return out[::-1] if go_backwards else out


def lstm_forward_cache(
    x: np.ndarray,
    w: np.ndarray,
    u: np.ndarray,
    b: np.ndarray,
    p: np.ndarray,
    go_backwards: bool = False,
):
    """Forward pass keeping per-step activations for BPTT (float64 for
    gradient fidelity; the inference path stays float32). Returns
    (h_seq, cache)."""
    d = u.shape[0]
    seq = (x[::-1] if go_backwards else x).astype(np.float64)
    x_in = seq @ w.astype(np.float64) + b.astype(np.float64)
    h = np.zeros(d)
    c = np.zeros(d)
    p64 = p.astype(np.float64)
    p0, p1, p2 = p64[:d], p64[d : 2 * d], p64[2 * d : 3 * d]
    T = len(seq)
    H = np.empty((T, d))
    steps = []
    for t in range(T):
        c_prev, h_prev = c, h
        pre = h @ u.astype(np.float64) + x_in[t]
        i = 1.0 / (1.0 + np.exp(-(pre[:d] + p0 * c_prev)))
        f = 1.0 / (1.0 + np.exp(-(pre[d : 2 * d] + p1 * c_prev)))
        z = np.tanh(pre[3 * d : 4 * d])
        c = f * c_prev + i * z
        o = 1.0 / (1.0 + np.exp(-(pre[2 * d : 3 * d] + p2 * c)))
        h = o * np.tanh(c)
        H[t] = h
        steps.append((c_prev, h_prev, i, f, o, z, c))
    cache = {"seq": seq, "steps": steps, "u": u.astype(np.float64),
             "w": w.astype(np.float64), "p": (p0, p1, p2), "d": d,
             "go_backwards": go_backwards}
    return (H[::-1] if go_backwards else H), cache


def lstm_backward(dh_seq: np.ndarray, cache: dict):
    """BPTT through the reference gate wiring (incl. peepholes: i/f on
    c_prev, o on the NEW c). Returns (dx, dw, du, db, dp) with dx in the
    ORIGINAL sequence orientation."""
    d = cache["d"]
    seq, steps, u = cache["seq"], cache["steps"], cache["u"]
    p0, p1, p2 = cache["p"]
    T = len(seq)
    dH = (dh_seq[::-1] if cache["go_backwards"] else dh_seq).astype(np.float64)
    dX_in = np.zeros((T, 4 * d))
    dp0 = np.zeros(d)
    dp1 = np.zeros(d)
    dp2 = np.zeros(d)
    du = np.zeros_like(u)
    dh_next = np.zeros(d)
    dc_next = np.zeros(d)
    for t in range(T - 1, -1, -1):
        c_prev, h_prev, i, f, o, z, c = steps[t]
        dh = dH[t] + dh_next
        tc = np.tanh(c)
        do_pre = dh * tc * o * (1 - o)
        dc = dh * o * (1 - tc * tc) + dc_next + do_pre * p2
        dp2 += do_pre * c
        di_pre = dc * z * i * (1 - i)
        df_pre = dc * c_prev * f * (1 - f)
        dz_pre = dc * i * (1 - z * z)
        dp0 += di_pre * c_prev
        dp1 += df_pre * c_prev
        dc_next = dc * f + di_pre * p0 + df_pre * p1
        dpre = np.concatenate([di_pre, df_pre, do_pre, dz_pre])
        du += np.outer(h_prev, dpre)
        dX_in[t] = dpre
        dh_next = dpre @ u.T
    dw = seq.T @ dX_in
    db = dX_in.sum(axis=0)
    dx = dX_in @ cache["w"].T
    if cache["go_backwards"]:
        dx = dx[::-1]
    dp = np.concatenate([dp0, dp1, dp2])
    return dx, dw, du, db, dp


def init_lstm_params(in_dim: int, out_dim: int, seed: int = 1) -> dict:
    rng = np.random.RandomState(seed)
    return {
        "w": (rng.rand(in_dim, 4 * out_dim).astype(F32) - 0.5) / np.sqrt(in_dim),
        "u": (rng.rand(out_dim, 4 * out_dim).astype(F32) - 0.5) / np.sqrt(out_dim),
        "b": np.zeros(4 * out_dim, dtype=F32),
        "p": np.zeros(3 * out_dim, dtype=F32),
    }
