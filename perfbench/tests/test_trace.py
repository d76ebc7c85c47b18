"""Self-time arithmetic and the span tracer (no Spark)."""

import sys
import types

import pytest

from perfbench.trace import (Span, Tracer, self_times, summed_self_times,
                             tree_pids, tree_rss_bytes)


def _span(name, start, end, parent=None, layer="l"):
    return Span(name, layer, start, end, parent, 0)


def test_self_time_subtracts_children():
    spans = [_span("a", 0.0, 10.0), _span("b", 1.0, 3.0, 0),
             _span("c", 4.0, 8.0, 0), _span("d", 5.0, 6.0, 2)]
    assert self_times(spans) == pytest.approx([4.0, 2.0, 3.0, 1.0])


def test_overlapping_and_overhanging_children_count_once():
    spans = [_span("a", 0.0, 10.0), _span("b", 1.0, 5.0, 0),
             _span("c", 3.0, 7.0, 0), _span("d", 9.0, 12.0, 0)]
    assert self_times(spans)[0] == pytest.approx(10.0 - 6.0 - 1.0)


def test_self_times_sum_to_root_duration():
    spans = [_span("a", 0.0, 10.0, layer="x"), _span("b", 2.0, 6.0, 0, "y"),
             _span("c", 3.0, 4.0, 1, "x")]
    per_layer = summed_self_times(spans)
    assert per_layer == pytest.approx({"x": 7.0, "y": 3.0})
    assert sum(per_layer.values()) == pytest.approx(10.0)
    assert summed_self_times(spans, "name") == pytest.approx(
        {"a": 6.0, "b": 3.0, "c": 1.0})


def test_tracer_records_nesting_and_restores_functions():
    mod = types.ModuleType("pb_fake_layer")

    def inner(x):
        return x + 1

    def outer(x):
        return mod.inner(x) * 2

    mod.inner, mod.outer = inner, outer
    sys.modules["pb_fake_layer"] = mod
    try:
        with Tracer({"fake": ("pb_fake_layer", ["outer", "inner"])}) as tr:
            tr.iteration = 3
            assert mod.outer(1) == 4
        assert mod.outer is outer and mod.inner is inner
        names = [(s.name, s.parent, s.iteration) for s in tr.spans]
        assert names == [("outer", None, 3), ("inner", 0, 3)]
        assert all(s.end >= s.start for s in tr.spans)
    finally:
        del sys.modules["pb_fake_layer"]


def test_tree_rss_covers_this_process():
    assert tree_rss_bytes(__import__("os").getpid()) > 1_000_000


def test_tree_skips_a_child_the_jvm_has_not_exec_yet():
    table = {1: (0, "python3"), 2: (1, "java"), 3: (2, "Executor task l"),
             4: (2, "python3"), 5: (4, "python3"), 6: (2, "chmod"),
             7: (9, "java")}
    exe = {1: "/usr/bin/python3", 2: "/jdk/bin/java", 3: "/jdk/bin/java",
           4: "/usr/bin/python3", 5: "/usr/bin/python3", 6: "/bin/chmod",
           7: "/jdk/bin/java"}
    # the daemon's forked worker (5) counts: only the JVM's spawn (3) is
    # dropped, and a process outside the tree (7) never counts
    assert sorted(tree_pids(table, 1, exe.get)) == [1, 2, 4, 5, 6]
