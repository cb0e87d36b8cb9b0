"""The registry's binding contract: ``register`` binds an operator's
parameters by name (``spark`` → the session, a catalog table → its scan,
anything else → its default). No Spark session is needed: the scans are
recorded, not run."""

from __future__ import annotations

import importlib.util
import inspect
import os

import pytest

import hadoop_coded_wordcount_spark.registry as reg
from hadoop_coded_wordcount_spark.operators.relational import half_up
from hadoop_coded_wordcount_spark.sources.catalog import TABLES


def _bindable(p: inspect.Parameter) -> bool:
    return p.name == "spark" or p.name in TABLES or p.default is not p.empty


def test_every_query_unwraps_to_a_bindable_operator():
    for name, query in reg.QUERIES.items():
        op = inspect.unwrap(query)
        assert op is not query and callable(op), name
        params = inspect.signature(op).parameters.values()
        assert all(_bindable(p) for p in params), name


def test_unbindable_required_parameter_raises_at_registration(monkeypatch):
    monkeypatch.setattr(reg, "QUERIES", dict(reg.QUERIES))
    monkeypatch.setattr(reg, "ORACLES", dict(reg.ORACLES))
    before = (list(reg.QUERIES), dict(reg.ORACLES))

    def op(orders, column):
        return orders

    with pytest.raises(TypeError, match="no_such_query: cannot bind"):
        reg.register("no_such_query", "SELECT 1")(op)
    assert (list(reg.QUERIES), dict(reg.ORACLES)) == before


def test_query_binds_session_tables_in_order_and_defaults(monkeypatch):
    """The query reads ``registry.load_table`` when it runs, so a wrapper
    patched over it (as the benchmark's load tracer does) sees every
    load."""
    monkeypatch.setattr(reg, "QUERIES", dict(reg.QUERIES))
    monkeypatch.setattr(reg, "ORACLES", dict(reg.ORACLES))
    calls = []

    def recorder(spark, sf_dir, name):
        calls.append((spark, sf_dir, name))
        return f"scan:{name}"

    def op(orders, spark, lineitem, k=3):
        return (orders, spark, lineitem, k)

    assert reg.register("binding_probe")(op) is op
    monkeypatch.setattr(reg, "load_table", recorder)
    query = reg.QUERIES["binding_probe"]
    assert inspect.unwrap(query) is op
    assert query("session", "sf") == ("scan:orders", "session", "scan:lineitem", 3)
    assert calls == [("session", "sf", "orders"), ("session", "sf", "lineitem")]
    assert "binding_probe" not in reg.ORACLES


def _reaching_queries():
    spec = importlib.util.spec_from_file_location(
        "reaching_queries",
        os.path.join(
            os.path.dirname(__file__), "..", "scripts", "reaching_queries.py"
        ),
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_reaching_queries_follows_the_registered_operator():
    mod = _reaching_queries()
    assert "k_core_suppliers" in mod.reaching({"k_core"})
    assert {"wordcount", "topk_words"} <= set(mod.reaching({"wordcount"}))


def test_half_up_rounds_ties_away_from_zero():
    """SQL ``ROUND``'s rule, for either sign (the Cox oracle rounds a
    signed β·10⁶); the largest double below 0.5 is not a tie."""
    assert half_up(2.5) == 3
    assert half_up(-2.5) == -3
    assert half_up(-2.4) == -2
    assert half_up(0.49999999999999994) == 0
