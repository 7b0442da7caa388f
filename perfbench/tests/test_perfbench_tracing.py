"""Span recording and patching, without a Spark session (no job group set,
so no job counting)."""

from __future__ import annotations

import os
import sys
import types

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import tracing  # noqa: E402


def _modules(monkeypatch):
    def layer_fn(x):
        return x + 1

    home = types.ModuleType("importer_spark_fake_home")
    home.layer_fn = layer_fn
    user = types.ModuleType("importer_spark_fake_user")
    user.layer_fn = layer_fn  # bound by name at import, like plans/pipeline.py
    monkeypatch.setitem(sys.modules, home.__name__, home)
    monkeypatch.setitem(sys.modules, user.__name__, user)
    return home, user, layer_fn


def test_patch_wraps_every_binding_and_restore_undoes_it(monkeypatch):
    home, user, original = _modules(monkeypatch)
    tracer = tracing.Tracer(spark=None)
    tracer.patch_function(home, "layer_fn", "layer.fn")
    assert home.layer_fn(1) == 2 and user.layer_fn(2) == 3
    assert [sp.name for sp in tracer.spans] == ["layer.fn", "layer.fn"]
    tracer.restore()
    assert home.layer_fn is original and user.layer_fn is original


def test_spans_record_parents_and_collapse_same_name_nesting():
    tracer = tracing.Tracer(spark=None)
    with tracer.span("query"):
        with tracer.span("queries.build"):
            with tracer.span("queries.build"):  # a layer calling itself
                pass
        with tracer.span("exec"):
            pass
    names = [(sp.name, sp.parent) for sp in tracer.spans]
    assert names == [("query", None), ("queries.build", 0), ("exec", 0)]
    assert all(sp.end >= sp.start for sp in tracer.spans)


def test_patch_attr_removes_an_added_instance_attribute():
    class Graph:
        def run(self):
            return "plain"

    g = Graph()
    tracer = tracing.Tracer(spark=None)
    tracer.patch_attr(g, "run", lambda: "traced")
    assert g.run() == "traced"
    tracer.restore()
    assert g.run() == "plain" and "run" not in vars(g)
