"""The query registry is lazy and every row resolves (no Spark session).

``plans/catalog.py`` names each entry's module, function and oracle by
string, so nothing checks a row when the catalog is imported; these
tests resolve every row instead. The import test runs in a fresh
interpreter: the test process has long since imported every module.
"""

from __future__ import annotations

import importlib
import inspect
import json
import os
import subprocess
import sys

import pytest

from backend_model_spark.plans import registry

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# Modules no query lookup needs until an entry of theirs is looked up
_ENTRY_ONLY = (
    "backend_model_spark.operators.",
    "backend_model_spark.ml.",
    "backend_model_spark.streaming.",
    "backend_model_spark.sources.io_ops",
    "pyspark.ml",
)

_PROBE = f"""
import json, sys
from backend_model_spark.plans import registry

def loaded():
    return sorted(m for m in sys.modules if m.startswith({_ENTRY_ONLY!r}))

q, o = registry.queries(), registry.oracle_sql()
out = {{
    "len": [len(q), len(o)],
    "in": ["q1_pricing_summary" in q, "q1_pricing_summary" in o, "nope" in q],
    "names": list(q) == list(o),
}}
out["before"] = loaded()
q["q1_pricing_summary"]
out["after"] = loaded()
print(json.dumps(out))
"""


def test_indexing_the_registry_imports_no_entry_module():
    env = {**os.environ, "PYTHONPATH": ROOT}
    proc = subprocess.run(
        [sys.executable, "-c", _PROBE], cwd=ROOT, env=env,
        capture_output=True, text=True, timeout=120,
    )
    assert proc.returncode == 0, proc.stderr
    out = json.loads(proc.stdout.splitlines()[-1])
    assert out["len"] == [len(registry.queries())] * 2
    assert out["in"] == [True, True, False]
    assert out["names"]
    assert out["before"] == []
    # the flagship loads its own module (and the helpers it imports),
    # no other family and no pyspark.ml
    assert "backend_model_spark.operators.relational" in out["after"]
    assert not [
        m for m in out["after"]
        if not m.startswith("backend_model_spark.operators.")
    ], out["after"]


def test_every_row_resolves_to_its_module_attributes():
    queries, oracles = registry.queries(), registry.oracle_sql()
    assert list(queries) == list(registry._REGISTRY) == list(oracles)
    for name, rq in registry._REGISTRY.items():
        module = importlib.import_module(rq.module)
        fn = queries[name]
        assert fn is getattr(module, rq.fn), name
        assert callable(fn), name
        inspect.signature(fn).bind("spark", "sf_dir")
        sql = oracles[name]
        assert sql is getattr(module, rq.oracle), name
        assert isinstance(sql, str) and sql.strip(), name


def test_tier1_leads_the_registry():
    from backend_model_spark.plans.catalog import _GATED, TIER1

    prefix = [n for n in TIER1 if _GATED.get(n, True)]
    assert list(registry.queries())[: len(prefix)] == prefix


def test_mappings_are_read_only():
    queries = registry.queries()
    assert not hasattr(queries, "__setitem__")
    with pytest.raises(KeyError):
        queries["missing_entry"]
