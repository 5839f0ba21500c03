"""Query registry: the engine's public query surface.

Each operator/query from SURVEY.md §2.C registers here with an optional
DuckDB oracle SQL string. ``queries()`` / ``oracle_sql()`` feed the driver
contract in ``__spark_entry__.py``. Queries without an oracle (``None``)
get the driver's weaker rows-only check (non-SQL-expressible ops).

An alias is a second registered name for one computation: its spec
carries the target's own ``fn`` and ``oracle`` objects, so the driver
contract still lists it, while harnesses run the target once and report
the alias beside it.
"""

from __future__ import annotations

import importlib
import pkgutil
from collections.abc import Callable
from dataclasses import dataclass, replace

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]
LayoutFn = Callable[[SparkSession, str], object]


@dataclass(frozen=True)
class QuerySpec:
    name: str
    fn: QueryFn
    oracle: str | None  # DuckDB SQL, or None for rows-only checks
    # Deliberate exact-complexity baseline (e.g. the O(n^2/block) GEMM
    # twins the ANN recall tests certify against): kept registered and
    # correctness-checked, but NOT a production scale path — timing
    # artifacts tag these so scaling curves can be read with and
    # without them.
    ground_truth_twin: bool = False
    alias_of: str | None = None  # the target's name, for an alias


@dataclass(frozen=True)
class LayoutSpec:
    """A build-once physical layout (scratch parquet, bucketed table,
    fitted index) that timing harnesses build before any query runs."""

    name: str
    fn: LayoutFn
    consumers: str  # regex over the names of the queries that read it


_REGISTRY: dict[str, QuerySpec] = {}
_LAYOUTS: dict[str, LayoutSpec] = {}
_SKIPPED: dict[str, str] = {}
_LOADED = False


def register(
    name: str,
    oracle: str | None = None,
    ground_truth_twin: bool = False,
    aliases: tuple[str, ...] = (),
) -> Callable[[QueryFn], QueryFn]:
    """Decorator: register a (spark, sf_dir) -> DataFrame query, plus
    each name in ``aliases`` as an alias of it."""

    def deco(fn: QueryFn) -> QueryFn:
        for n in (name, *aliases):
            if n in _REGISTRY:
                raise ValueError(f"duplicate query name: {n}")
        spec = QuerySpec(
            name=name,
            fn=fn,
            oracle=oracle,
            ground_truth_twin=ground_truth_twin,
        )
        _REGISTRY[name] = spec
        for a in aliases:
            _REGISTRY[a] = replace(spec, name=a, alias_of=name)
        return fn

    return deco


def register_layout(
    name: str, consumers: str
) -> Callable[[LayoutFn], LayoutFn]:
    """Decorator: register a (spark, sf_dir) layout build function under
    ``name``; the function itself is returned unchanged. Layouts are
    built in registration order, so a layout registers after the
    layouts it reads."""

    def deco(fn: LayoutFn) -> LayoutFn:
        if name in _LAYOUTS:
            raise ValueError(f"duplicate layout name: {name}")
        _LAYOUTS[name] = LayoutSpec(name=name, fn=fn, consumers=consumers)
        return fn

    return deco


def all_layouts() -> dict[str, LayoutSpec]:
    _load_operators()
    return dict(_LAYOUTS)


def register_skip(name: str, reason: str) -> None:
    """Record a query this runtime cannot register (missing optional
    dependency / API). The full-surface correctness artifact then shows
    an explicit `skipped` entry with the probe reason instead of the
    query silently vanishing from the surface."""
    _SKIPPED[name] = reason


def skipped_queries() -> dict[str, str]:
    """name -> skip reason for queries probed-out of this runtime."""
    _load_operators()
    return dict(_SKIPPED)


def _load_operators() -> None:
    """Import every module of the ``operators`` and ``streaming``
    packages (sorted); their ``@register``/``@register_layout``
    decorators fill the registries. A module that fails to import
    fails the load."""
    global _LOADED
    if _LOADED:
        return
    for sub in ("operators", "streaming"):
        pkg = importlib.import_module(f"{__package__}.{sub}")
        for mod in sorted(m.name for m in pkgutil.iter_modules(pkg.__path__)):
            importlib.import_module(f"{pkg.__name__}.{mod}")
    _LOADED = True


def all_specs() -> dict[str, QuerySpec]:
    _load_operators()
    return dict(_REGISTRY)


def computations() -> dict[str, QuerySpec]:
    """The specs that are not aliases: each computation once."""
    return {n: s for n, s in all_specs().items() if s.alias_of is None}


def aliases() -> dict[str, str]:
    """alias name -> target name."""
    return {n: s.alias_of for n, s in all_specs().items() if s.alias_of}


def queries() -> dict[str, QueryFn]:
    return {name: spec.fn for name, spec in all_specs().items()}


def oracle_sql() -> dict[str, str]:
    return {
        name: spec.oracle
        for name, spec in all_specs().items()
        if spec.oracle is not None
    }
