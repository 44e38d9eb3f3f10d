"""The traced benchmark run (perfbench/trace_layers.py) patches engine
entry points by name; these checks keep a rename from breaking it."""

from __future__ import annotations

import importlib

from perfbench.trace_layers import LAYERS


def test_every_traced_layer_resolves():
    """Every ``LAYERS`` entry names an importable module and a callable
    attribute (``Class.method`` included)."""
    for mod, attr, layer in LAYERS:
        owner = importlib.import_module(mod)
        for part in attr.split("."):
            assert hasattr(owner, part), f"{layer}: {mod}.{attr} is gone"
            owner = getattr(owner, part)
        assert callable(owner), f"{layer}: {mod}.{attr} is not callable"


def test_keyed_state_merge_verbs_run_through_merge(monkeypatch, tmp_path):
    """``streaming.txn_state.merge`` times ``TransactionalKeyState._merge``:
    every single-store merge verb must do its bucket merge inside it,
    and a replay skip is its False result."""
    from flink_playground_spark.streaming.txn_state import TransactionalKeyState

    calls = []
    monkeypatch.setattr(
        TransactionalKeyState, "_merge", lambda self, w, b, write: calls.append(write[0]) or False
    )
    st = TransactionalKeyState(str(tmp_path), ["k"])
    assert st.merge_aggregate("w", 0, None, []) is False
    assert st.merge_keep_latest("w", 0, None, "seq") is False
    assert st.merge_changes("w", 0, None, "op", "seq") is False
    assert st.merge_transform("w", 0, None, lambda base, cols: base) is False
    assert calls == [st] * 4
