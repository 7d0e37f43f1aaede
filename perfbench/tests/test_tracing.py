"""Self-time arithmetic of the benchmark's tracer.

    python3 -m pytest perfbench/tests/test_tracing.py
"""

import itertools

import pytest

from perfbench import tracing
from perfbench.tracing import Span, Tracer, layer_self_times, self_times


def spans(*rows):
    """``(id, name, parent, start, end)`` rows as spans of op ``op0``."""
    return [Span(i, name, "op0", parent, start, end) for i, name, parent, start, end in rows]


def test_self_time_subtracts_children_at_every_level():
    got = self_times(
        spans(
            (0, "op", None, 0.0, 10.0),
            (1, "a", 0, 1.0, 3.0),
            (2, "b", 0, 4.0, 8.0),
            (3, "c", 2, 5.0, 6.0),
        )
    )
    assert got == pytest.approx({0: 4.0, 1: 2.0, 2: 3.0, 3: 1.0})
    assert sum(got.values()) == pytest.approx(10.0)


def test_overlapping_children_are_counted_once():
    got = self_times(spans((0, "op", None, 0.0, 10.0), (1, "a", 0, 1.0, 4.0), (2, "b", 0, 3.0, 6.0)))
    assert got[0] == pytest.approx(5.0)


def test_children_are_clipped_to_their_parent():
    got = self_times(spans((0, "op", None, 0.0, 10.0), (1, "a", 0, 8.0, 12.0)))
    assert got[0] == pytest.approx(8.0)


def test_layer_self_times_add_up_to_each_op(monkeypatch):
    clock = itertools.count()
    monkeypatch.setattr(tracing.time, "perf_counter", lambda: float(next(clock)))
    tr = Tracer()
    for op in ("op0", "op1"):
        tr.op = op
        with tr.span("op"):
            with tr.span("pipeline.to_data_frame"):
                pass
            with tr.span("sinks.write"):
                with tr.span("actions.noop_write"):
                    pass
            with tr.span("pipeline.to_data_frame"):
                pass
    layers = layer_self_times(tr.spans)
    for op in ("op0", "op1"):
        root = next(s for s in tr.spans if s.op == op and s.name == "op")
        assert sum(layers[op].values()) == pytest.approx(root.duration)
        # each clock read is one tick later; two calls of a layer add up
        assert layers[op]["pipeline.to_data_frame"] == pytest.approx(2.0)
        assert layers[op]["sinks.write"] == pytest.approx(2.0)
        assert layers[op]["actions.noop_write"] == pytest.approx(1.0)


def test_disabled_tracer_records_nothing():
    tr = Tracer(enabled=False)
    with tr.span("op"):
        with tr.span("inner"):
            pass
    assert tr.spans == []
