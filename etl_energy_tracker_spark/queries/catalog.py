"""Query catalog — the engine's declared operator surface.

Every operator family from SURVEY.md §2 (plus the beyond-reference
LLM-data-pipeline operators) is declared here as a named entry with

- ``fn(spark, sf_dir) -> DataFrame``: the Spark-first implementation
  (DataFrame API / Spark SQL), and
- ``oracle``: the equivalent ANSI SQL that DuckDB runs on the same
  parquet tables (``None`` for genuinely non-SQL-expressible ops —
  the driver then records a rows-only check).

Column names are aliased identically on both sides; the driver's
compare sorts columns by name and hashes values. ``queries()`` and
``oracle_sql()`` list queries not verified on their current code first,
so a capped correctness run checks new and changed ones before the rest.
"""

from __future__ import annotations

import ast
import functools
import hashlib
import importlib.util
import json
import os
from collections.abc import Callable, Iterable
from dataclasses import dataclass, field
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession


@dataclass
class QueryEntry:
    name: str
    fn: Callable[[SparkSession, str], DataFrame]
    oracle: str | None
    tags: tuple[str, ...] = field(default_factory=tuple)
    doc: str = ""


CATALOG: dict[str, QueryEntry] = {}


def register(name: str, oracle: str | None, tags: tuple[str, ...] = (), doc: str = "") -> Callable:
    def deco(fn: Callable[[SparkSession, str], DataFrame]) -> Callable:
        if name in CATALOG:
            raise ValueError(f"duplicate query name {name!r}")
        CATALOG[name] = QueryEntry(name=name, fn=fn, oracle=oracle, tags=tags, doc=doc or (fn.__doc__ or ""))
        return fn

    return deco


def _load_all() -> None:
    # importing the modules populates CATALOG via @register, in this order
    from . import (  # noqa: F401
        tpch, relational, timeops, textops, corpusops, vectorops, linkingops,
        dedupops, streamops, parity, trackingops, llmprep, hygieneops,
        sketchops, graphops, behaviorops, searchops, cdcops, webprep, prepops,
        evalops, statops, mlops, martops, insightops, nlops,
    )


# ---------------------------------------------------------------- ledger
# verified.json: query name -> its digest at its last green oracle check,
# written by tools/check_correctness.py through mark_verified().

LEDGER = Path(__file__).with_name("verified.json")
_PKG_ROOT = Path(__file__).resolve().parent.parent


def _import_graph() -> tuple[dict[str, set[str]], dict[str, str]]:
    """Package module -> the package modules it imports, and module ->
    hash of its source. Each file is read, hashed and parsed once."""
    files = {}
    for p in _PKG_ROOT.rglob("*.py"):
        files[".".join(p.relative_to(_PKG_ROOT.parent).with_suffix("").parts).removesuffix(".__init__")] = p
    del files[__name__]
    graph, file_hash = {}, {}
    for mod, path in files.items():
        source = path.read_bytes()
        file_hash[mod] = hashlib.sha256(source).hexdigest()
        pkg = mod if path.name == "__init__.py" else mod.rpartition(".")[0]
        found = set()
        for node in ast.walk(ast.parse(source)):
            if isinstance(node, ast.Import):
                found.update(a.name for a in node.names)
            elif isinstance(node, ast.ImportFrom):
                base = importlib.util.resolve_name("." * node.level + (node.module or ""), pkg)
                found.update([base], (f"{base}.{a.name}" for a in node.names))
        graph[mod] = found & files.keys()
    return graph, file_hash


@functools.cache
def _digests() -> dict[str, str]:
    """name -> sha256 over its oracle SQL, its defining module's source
    and every package module it imports, transitively (function-local
    imports too). This module is left out, as every query module imports
    ``register``. Computed once per process, right after the query
    modules load, so a long check records the code it ran."""
    _load_all()
    graph, file_hash = _import_graph()

    def code(mod: str) -> str:
        seen, todo = set(), {mod}
        while todo:
            seen |= todo
            todo = set().union(*(graph[m] for m in todo)) - seen
        return "".join(f"{m}:{file_hash[m]}\n" for m in sorted(seen))

    by_module = {m: code(m) for m in {e.fn.__module__ for e in CATALOG.values()}}
    return {
        name: hashlib.sha256(f"{e.oracle or ''}\0{by_module[e.fn.__module__]}".encode()).hexdigest()[:16]
        for name, e in CATALOG.items()
    }


def _ledger() -> dict[str, str]:
    return json.loads(LEDGER.read_text()) if LEDGER.exists() else {}


def stale_names() -> list[str]:
    """Queries not verified on their current code, in registration order."""
    ledger = _ledger()
    return [n for n, d in _digests().items() if ledger.get(n) != d]


def mark_verified(passed: Iterable[str], failed: Iterable[str]) -> None:
    """Give ``passed`` names their current digest and drop ``failed``
    names and names gone from the catalog."""
    digests = _digests()
    ledger = {n: d for n, d in _ledger().items() if n in digests}
    ledger.update((n, digests[n]) for n in passed)
    for n in failed:
        ledger.pop(n, None)
    tmp = LEDGER.with_suffix(f".{os.getpid()}.tmp")
    tmp.write_text(json.dumps(ledger, indent=0, sort_keys=True) + "\n")
    os.replace(tmp, LEDGER)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    stale = dict.fromkeys(stale_names())
    return {name: CATALOG[name].fn for name in [*stale, *(n for n in CATALOG if n not in stale)]}


def oracle_sql() -> dict[str, str]:
    return {name: CATALOG[name].oracle for name in queries() if CATALOG[name].oracle is not None}
