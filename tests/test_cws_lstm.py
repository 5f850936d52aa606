"""NumPy LSTM inference (``model/lstm.py``) of the ACL'16 joint model."""

import numpy as np

from golden_horse_spark.model.lstm import init_lstm_params, lstm_forward


def test_lstm_shapes_and_determinism():
    rng = np.random.RandomState(0)
    x = rng.randn(7, 5).astype(np.float32)
    p = init_lstm_params(5, 4)
    h1 = lstm_forward(x, **p)
    h2 = lstm_forward(x, **p)
    assert h1.shape == (7, 4)
    np.testing.assert_array_equal(h1, h2)


def test_lstm_backward_is_reversed_forward_of_reversed_input():
    rng = np.random.RandomState(1)
    x = rng.randn(6, 3).astype(np.float32)
    p = init_lstm_params(3, 2, seed=2)
    hb = lstm_forward(x, p["w"], p["u"], p["b"], p["p"], go_backwards=True)
    hf_rev = lstm_forward(x[::-1], p["w"], p["u"], p["b"], p["p"])[::-1]
    np.testing.assert_allclose(hb, hf_rev, rtol=1e-6)


def test_lstm_gate_order_matches_reference_slicing():
    """Block input uses slice 3 and output gate slice 2 (neural_lib.py
    :495-499) — verify by constructing weights that only activate one
    slice."""
    in_dim, d = 2, 2
    w = np.zeros((in_dim, 4 * d), dtype=np.float32)
    b = np.zeros(4 * d, dtype=np.float32)
    u = np.zeros((d, 4 * d), dtype=np.float32)
    p = np.zeros(3 * d, dtype=np.float32)
    # huge bias on i and o gates (slices 0 and 2) -> gates ~1
    b[0:d] = 50.0
    b[2 * d : 3 * d] = 50.0
    # block input (slice 3) passes x through W
    w[:, 3 * d : 4 * d] = np.eye(in_dim, d, dtype=np.float32) * 10
    x = np.array([[1.0, 0.0]], dtype=np.float32)
    h = lstm_forward(x, w, u, b, p)
    # c = i*z ~ tanh(10) ~ 1 -> h ~ o*tanh(c) ~ tanh(1)
    assert abs(h[0, 0] - np.tanh(np.tanh(10.0))) < 1e-3
