"""Central query registry: name -> (spark_fn, oracle_sql).

``__spark_entry__.py`` re-exports this as the driver contract.
``plans/catalog.py`` registers every entry by name: the dotted path of
its module, and the names of the query function and of its DuckDB
oracle string in that module. Every entry carries an oracle.

``queries()`` and ``oracle_sql()`` are read-only mappings in registry
order. Looking an entry up imports its module the first time and
returns the module's own function or string; ``in``, ``len`` and
iterating the names import nothing. A driver that answers a few
queries thus loads only their operator modules, not all of them and
``pyspark.ml``.
"""

from __future__ import annotations

import importlib
from collections.abc import Callable, Iterator, Mapping
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class RegisteredQuery:
    module: str  # dotted path of the implementing module
    fn: str  # the query function's name in it
    oracle: str  # the name of its DuckDB-runnable ANSI SQL string in it


_REGISTRY: dict[str, RegisteredQuery] = {}


def register(name: str, module: str, fn: str, oracle: str) -> None:
    if name in _REGISTRY:
        raise ValueError(f"duplicate query name {name!r}")
    _REGISTRY[name] = RegisteredQuery(module=module, fn=fn, oracle=oracle)


def promote(names: list[str]) -> None:
    """Reorder the registry so ``names`` come first, in list order.

    The round driver verifies a finite PREFIX of the registry, so the
    verified set is an ordering decision, not a code-location one.
    ``catalog.TIER1`` rotates per round (never-yet-driver-checked and
    just-changed entries surface; long-stable ones yield their slot)
    while registration stays grouped by operator family for readers.
    Names must all be registered; the remainder keeps insertion order.
    """
    missing = [n for n in names if n not in _REGISTRY]
    if missing:
        raise ValueError(f"promote of unregistered queries: {missing}")
    rest = {n: rq for n, rq in _REGISTRY.items() if n not in set(names)}
    reordered = {n: _REGISTRY[n] for n in names}
    reordered.update(rest)
    _REGISTRY.clear()
    _REGISTRY.update(reordered)


class _Resolved(Mapping):
    """One attribute of every entry, by name, in registry order."""

    def __init__(self, attr: str):
        from backend_model_spark.plans import catalog  # noqa: F401 - registers the names

        self._attr = attr

    def __getitem__(self, name: str):
        rq = _REGISTRY[name]
        return getattr(importlib.import_module(rq.module), getattr(rq, self._attr))

    # Mapping's default ``in`` looks the entry up, which imports it
    def __contains__(self, name: object) -> bool:
        return name in _REGISTRY

    def __iter__(self) -> Iterator[str]:
        return iter(_REGISTRY)

    def __len__(self) -> int:
        return len(_REGISTRY)


def queries() -> Mapping[str, QueryFn]:
    return _Resolved("fn")


def oracle_sql() -> Mapping[str, str]:
    return _Resolved("oracle")
