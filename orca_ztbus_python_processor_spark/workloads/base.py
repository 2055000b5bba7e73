"""Query catalog, and the order the verification driver samples it in.

The driver verifies the first 50 entries of ``__spark_entry__.queries()``
each round. ``sample_order()`` puts first every query whose fingerprint
differs from the one recorded when a driver round last verified it, or
that no round has verified; ``verified.json`` holds the recorded
fingerprints and ``scripts/record_verified.py`` adds a round to it.
"""

from __future__ import annotations

import functools
import hashlib
import importlib
import json
import os
import re
from collections.abc import Callable
from types import CodeType, FunctionType, MappingProxyType, ModuleType

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]
VERIFIED_JSON = os.path.join(os.path.dirname(os.path.abspath(__file__)), "verified.json")


class Catalog:
    """Registry of named queries with optional DuckDB oracle SQL."""

    def __init__(self) -> None:
        self.queries: dict[str, QueryFn] = {}
        self.oracles: dict[str, str] = {}

    def query(self, name: str, oracle: str | None = None) -> Callable[[QueryFn], QueryFn]:
        def deco(fn: QueryFn) -> QueryFn:
            if name in self.queries:
                raise ValueError(f"duplicate query name: {name}")
            self.queries[name] = fn
            if oracle is not None:
                self.oracles[name] = oracle
            return fn

        return deco


def fingerprints(catalog: Catalog) -> dict[str, str]:
    """Hash of each query's code (line numbers excluded), of the package
    functions, classes and instances it reaches, and of its oracle SQL.

    Frozensets are hashed sorted, so the hash does not depend on
    ``PYTHONHASHSEED``; module dunders (``__file__``) are skipped, so it
    does not depend on the checkout's path either. Mutable values (a
    dict, list or set, an instance's attributes) add the code they
    reach but not their data, which may be a run-time cache
    (``parquet._TABLE_MEMO``, a ``Processor``'s Column memo); a
    constant table frozen as a ``MappingProxyType`` is hashed with its
    data, like a tuple of its items.
    """
    pkg = type(catalog).__module__.partition(".")[0]
    nodes: dict[int, tuple[str, list]] = {}

    def enc(v: object, refs: list) -> str:  # package objects go to refs, stand here by name
        if isinstance(v, (dict, list, set)):  # mutable, so maybe a run-time cache: refs only
            enc(tuple(v.items() if isinstance(v, dict) else v), refs)
            return type(v).__name__
        if isinstance(v, MappingProxyType):
            v = tuple(v.items())
        elif isinstance(v, CodeType):
            v = (v.co_code, v.co_names, v.co_consts)
        elif isinstance(v, property):
            v = (v.fget, v.fset, v.fdel)
        if isinstance(v, (frozenset, tuple)):
            items = [enc(x, refs) for x in v]
            return repr(sorted(items) if isinstance(v, frozenset) else items)
        if isinstance(v, (str, bytes, int, float, complex, type(None), re.Pattern)):
            return repr(v)
        if str(getattr(v, "__module__", "")).partition(".")[0] == pkg:
            refs.append(v)  # staticmethods too: they carry their function's __module__
        return (v if isinstance(v, (type, FunctionType)) else type(v)).__qualname__

    def node(obj: object) -> tuple[str, list]:
        refs: list = []
        if isinstance(obj, type):
            return enc((obj.__bases__, tuple(sorted(vars(obj).items()))), refs), refs
        if not isinstance(obj, FunctionType):  # an instance: no text, it may be run-time state
            enc((type(obj), getattr(obj, "__dict__", {})), refs)
            return "", refs
        codes = [obj.__code__]
        for code in codes:
            codes += [c for c in code.co_consts if isinstance(c, CodeType)]
        names = sorted({n for code in codes for n in code.co_names})
        found = [obj.__globals__[n] for n in names if n in obj.__globals__ and n[:2] != "__"]
        found += [importlib.import_module(n) for n in names if n.partition(".")[0] == pkg]
        mods = [m for m in found if isinstance(m, ModuleType) and m.__name__.partition(".")[0] == pkg]
        found += [vars(m)[n] for m in mods for n in names if n in vars(m)]
        head = (obj.__module__, obj.__qualname__, obj.__defaults__, obj.__kwdefaults__)
        return enc((head, obj.__code__, tuple(found)), refs), refs

    out = {}
    for name, fn in catalog.queries.items():
        todo, seen = [fn], {}
        for obj in todo:  # grows as the walk goes
            if id(obj) not in seen:
                seen[id(obj)] = nodes[id(obj)] = nodes.get(id(obj)) or node(obj)
                todo += seen[id(obj)][1]
        parts = sorted({text for text, _ in seen.values() if text} | {repr(catalog.oracles.get(name))})
        out[name] = hashlib.sha256("\n".join(parts).encode()).hexdigest()[:16]
    return out


@functools.cache
def merged_catalog() -> Catalog:
    """Every workload module's queries, in module order. Callers treat
    the result as read-only (the entrypoint copies what it hands out)."""
    from orca_ztbus_python_processor_spark.workloads import (  # noqa: PLC0415
        pipelineops,
        registrations,
        relational,
        streamqueries,
        subqueries,
        textops,
        timeseries,
        tpchplus,
        vectors,
        ztbus,
    )

    merged = Catalog()
    for mod in (
        relational,
        subqueries,
        tpchplus,
        timeseries,
        textops,
        vectors,
        registrations,
        ztbus,
        streamqueries,
        pipelineops,
    ):
        for name, fn in mod.CATALOG.queries.items():
            merged.query(name, mod.CATALOG.oracles.get(name))(fn)
    return merged


@functools.cache
def sample_order() -> tuple[str, ...]:
    """Query names, unverified first: a query whose fingerprint differs
    from its recorded one, or has none, sorts before every other.
    Within each group oracle-paired queries come first (a hash-match row
    is stronger evidence than a rows-only one), then module order."""
    cat = merged_catalog()
    with open(VERIFIED_JSON) as f:
        recorded = json.load(f)["fingerprints"]
    current = fingerprints(cat)

    def rank(name: str) -> tuple[bool, bool]:
        return recorded.get(name) == current[name], name not in cat.oracles

    return tuple(sorted(cat.queries, key=rank))
