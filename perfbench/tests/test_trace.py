"""Self time on a hand-built span tree, and spans recorded by patching."""

import sys
import types

import pytest

from perfbench.trace import Span, Tracer, self_time_by_name, self_times


def test_self_times_hand_built_tree():
    spans = [
        Span("pass", 0.0, 10.0, None, "r"),
        Span("load", 1.0, 3.0, 0, "r"),      # child of pass
        Span("parse", 2.0, 6.0, 0, "r"),     # overlaps load: union 1..6 covered
        Span("inner", 2.5, 3.5, 2, "r"),     # grandchild: only parse loses it
        Span("late", 9.0, 12.0, 0, "r"),     # runs past its parent: clipped at 10
        Span("other", 20.0, 21.0, None, "r"),
    ]
    assert self_times(spans) == pytest.approx([10 - 5 - 1, 2.0, 3.0, 1.0, 3.0, 1.0])
    assert self_time_by_name(spans + [Span("load", 30.0, 30.5, None, "r")])["load"] == pytest.approx(2.5)


def test_patch_records_nested_spans_and_restores():
    mod = types.ModuleType("wpextract_spark._trace_probe")
    mod.inner = lambda x: x + 1
    mod.outer = lambda x: mod.inner(x) * 2
    sys.modules[mod.__name__] = mod
    try:
        tracer = Tracer()
        original = mod.inner
        tracer.patch(mod.__name__, "inner", "inner", lazy=True)
        tracer.patch(mod.__name__, "outer", "outer")
        assert mod.outer(1) == 4
        tracer.unpatch()
        assert mod.inner is original
        names = [s.name for s in tracer.spans]
        assert names == ["outer", "inner"]
        assert tracer.spans[1].parent == 0
        assert [c.args for c in tracer.lazy_calls] == [(1,)]
    finally:
        del sys.modules[mod.__name__]
