"""The query registry (htg_spark.registry) against bench.py, which keeps its
own leaf tuple: the two must agree name by name, entry by entry and lambda
by lambda. Spark-free: bench.py is parsed, not run."""

import ast
import importlib
import os

import pytest

from htg_spark import registry

BENCH_PY = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "bench.py")


def _parse(path):
    with open(path) as f:
        return ast.parse(f.read())


@pytest.fixture(scope="module")
def bench_tree():
    return _parse(BENCH_PY)


@pytest.fixture(scope="module")
def bench_leaves(bench_tree):
    """bench.py's ``pipeline_entries`` as ``[(name, entry node)]``."""
    for node in ast.walk(bench_tree):
        if isinstance(node, ast.Assign) and [ast.unparse(t) for t in node.targets] == [
            "pipeline_entries"
        ]:
            return [(e.elts[0].value, e.elts[1]) for e in node.value.elts]
    raise AssertionError("bench.py assigns no pipeline_entries")


def _registry_lambdas():
    """The registry's table-bound leaves: each string-keyed lambda of a dict
    in registry.py."""
    return {
        k.value: v
        for node in ast.walk(_parse(registry.__file__))
        if isinstance(node, ast.Dict)
        for k, v in zip(node.keys, node.values)
        if isinstance(v, ast.Lambda)
    }


def test_bench_leaves_are_the_registry_in_order(bench_leaves):
    assert [name for name, _ in bench_leaves] == list(registry.BENCH)


def test_bench_module_entries_are_the_registry_queries(bench_tree, bench_leaves):
    """Each ``module.attr`` entry is the registry's query object for that
    name, the module resolved through bench.py's own
    ``from htg_spark import ... as ...`` lines."""
    modules = {
        a.asname or a.name: importlib.import_module(f"htg_spark.{a.name}")
        for node in ast.walk(bench_tree)
        if isinstance(node, ast.ImportFrom) and node.module == "htg_spark"
        for a in node.names
    }
    lambdas = _registry_lambdas()
    queries = registry.queries()
    for name, entry in bench_leaves:
        if isinstance(entry, ast.Lambda):
            assert name in lambdas, name
            continue
        assert isinstance(entry, ast.Attribute), name
        assert name not in lambdas, name
        assert getattr(modules[entry.value.id], entry.attr) is queries[name], name


def test_bench_lambdas_are_the_registry_lambdas(bench_leaves):
    bench = {name: e for name, e in bench_leaves if isinstance(e, ast.Lambda)}
    lambdas = _registry_lambdas()
    assert bench.keys() == lambdas.keys()
    for name, entry in bench.items():
        assert ast.dump(entry) == ast.dump(lambdas[name]), name


def test_every_query_has_an_oracle():
    assert set(registry.queries()) == set(registry.oracle_sql())


def test_bench_entries_checks_names_before_any_spark_work():
    """An unknown name fails, and leaves over no multimodal table derive
    none: ``spark=None`` would raise on any Spark call."""
    with pytest.raises(ValueError, match="nope"):
        registry.bench_entries(None, "/nonexistent", ["simhash", "nope"])
    entries = registry.bench_entries(None, "/nonexistent", ["simhash", "dedup_exact"])
    queries = registry.queries()
    assert entries == [("dedup_exact", queries["dedup_exact"]), ("simhash", queries["simhash"])]
