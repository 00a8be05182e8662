"""Model DAG registry: tag-selected, dependency-ordered materialization.

The engine-level replacement for dbt's ref() graph + selectors (SURVEY.md §4
"Selective DAG execution by tag/selector"; reference selectors.yml:1-28,
b1_1_trino_incremental_dbt.py:87-113). Models are plain functions from a
context of already-built DataFrames to a new DataFrame; execution is
topological; `select` takes model names (with `+` suffix for descendants,
dbt-style) and/or tags.

Spark runs each materialization lazily — "materialize" here just registers
the DataFrame in the context (ephemeral/view semantics, the default for
marts in the reference dbt_project.yml:30-42); callers persist what they
want (write.parquet / cache) at the edges.
"""

from __future__ import annotations

from collections.abc import Callable, Iterable, Sequence

from pyspark.sql import DataFrame


class ModelRegistry:
    def __init__(self) -> None:
        self._fns: dict[str, Callable[[dict[str, DataFrame]], DataFrame]] = {}
        self._deps: dict[str, tuple[str, ...]] = {}
        self._tags: dict[str, frozenset[str]] = {}

    def model(self, name: str, deps: Sequence[str] = (), tags: Sequence[str] = ()):
        def deco(fn):
            if name in self._fns:
                raise ValueError(f"duplicate model {name!r}")
            self._fns[name] = fn
            self._deps[name] = tuple(deps)
            self._tags[name] = frozenset(tags)
            return fn

        return deco

    def models(self) -> list[str]:
        return list(self._fns)

    def tagged(self, tag: str) -> set[str]:
        return {m for m, mt in self._tags.items() if tag in mt}

    def _all_source_names(self) -> set[str]:
        """Dep names that are not themselves models — the raw source tables."""
        return {d for deps in self._deps.values() for d in deps} - set(self._fns)

    def buildable(self, available_sources: Iterable[str]) -> list[str]:
        """Models whose TRANSITIVE source requirements are all available —
        lets a partially-populated warehouse (e.g. a streaming flow that
        only writes transaction topics) build what it can instead of the
        whole run failing on the first model with an absent raw input."""
        avail = set(available_sources)
        ok: set[str] = set()
        order = self.resolve()  # topological: a model's deps are decided first
        for name in order:
            if all(d in ok or d in avail for d in self._deps[name]):
                ok.add(name)
        return [m for m in order if m in ok]

    def _descendants(self, roots: set[str]) -> set[str]:
        out = set(roots)
        changed = True
        while changed:
            changed = False
            for m, deps in self._deps.items():
                if m not in out and any(d in out for d in deps):
                    out.add(m)
                    changed = True
        return out

    def _closure(self, wanted: set[str], prebuilt: frozenset[str] = frozenset()) -> set[str]:
        """wanted + all upstream deps (sources excluded — they come from ctx).
        ``prebuilt`` models act as sources: not rebuilt, deps not walked."""
        out: set[str] = set()
        stack = [m for m in wanted if m not in prebuilt]
        while stack:
            m = stack.pop()
            if m in out or m not in self._fns:
                continue
            out.add(m)
            stack.extend(d for d in self._deps[m] if d not in prebuilt)
        return out

    def resolve(
        self,
        select: Iterable[str] | None = None,
        tags: Iterable[str] | None = None,
        prebuilt: frozenset[str] = frozenset(),
    ) -> list[str]:
        """Topologically ordered model list for a dbt-style selection."""
        if select is None and tags is None:
            wanted = set(self._fns)
        else:
            wanted = set()
            for s in select or ():
                name = s[:-1] if s.endswith("+") else s
                # dbt errors on unknown selectors; silently skipping would
                # turn a typo'd scheduled job into a forever-successful no-op
                if name not in self._fns and name not in self._all_source_names():
                    raise KeyError(f"unknown model in select: {name!r}")
                if s.endswith("+"):
                    wanted |= self._descendants({name})
                else:
                    wanted.add(name)
            for t in tags or ():
                wanted |= self.tagged(t)
        wanted = self._closure(wanted, prebuilt)
        ordered: list[str] = []
        seen: set[str] = set()

        def visit(m: str, path: tuple[str, ...]) -> None:
            if m in seen or m not in wanted:
                return
            if m in path:
                raise ValueError(f"cycle: {' -> '.join(path + (m,))}")
            for d in self._deps[m]:
                if d in self._fns:
                    visit(d, path + (m,))
            seen.add(m)
            ordered.append(m)

        for m in sorted(wanted):
            visit(m, ())
        return ordered

    def manifest(self) -> dict[str, str]:
        """Fingerprint every model's DEFINITION (function source + deps +
        tags) — the engine's analog of dbt's manifest for state comparison.
        dbt fingerprints compiled SQL; here the model body IS Python, so
        the fingerprint is a sha256 over its source text and that of every
        function of its package it reaches by name (shared helpers such as
        plans/market.hub), so a changed helper marks its models. Stable
        across runs and machines for unchanged code."""
        import hashlib

        out = {}
        for name, fn in self._fns.items():
            payload = "\x1f".join(
                (_definition(fn), ",".join(self._deps[name]), ",".join(sorted(self._tags[name])))
            )
            out[name] = hashlib.sha256(payload.encode()).hexdigest()
        return out

    def state_modified(
        self, old_manifest: dict[str, str], plus: bool = True
    ) -> list[str]:
        """dbt's ``state:modified`` (``+`` descendants when ``plus``): the
        models whose definition changed or that are NEW versus a previous
        ``manifest()`` — the CI selection the reference runs on every PR
        (reference .github/workflows/dbt-ci.yml:106-133,
        ``dbt ... -s 'state:modified+'``). Feed the result to
        ``resolve``/``run`` as ``select``. Deleted models are absent from
        the current registry and therefore never selected."""
        now = self.manifest()
        changed = {m for m, fp in now.items() if old_manifest.get(m) != fp}
        if plus:
            changed = self._descendants(changed)
        order = self.resolve()
        return [m for m in order if m in changed]

    def run(
        self,
        ctx: dict[str, DataFrame],
        select: Iterable[str] | None = None,
        tags: Iterable[str] | None = None,
        skip_existing: bool = False,
    ) -> dict[str, DataFrame]:
        """Build the selected models into (a copy of) the context.

        ``skip_existing=True`` treats models already present in ``ctx`` as
        sources (e.g. a materialized vault layer read from parquet) instead
        of recomputing them — dbt's "prebuilt upstream state" semantics."""
        ctx = dict(ctx)
        prebuilt = frozenset(ctx) if skip_existing else frozenset()
        for name in self.resolve(select, tags, prebuilt):
            if skip_existing and name in ctx:
                continue
            missing = [d for d in self._deps[name] if d not in ctx]
            if missing:
                raise KeyError(f"model {name!r} missing inputs {missing}")
            ctx[name] = self._fns[name](ctx)
        return ctx


def _definition(fn) -> str:
    """``fn``'s source, then the source of every function of its package
    that it reaches by name, transitively through ``__globals__``."""
    import inspect

    def source(f) -> str:
        try:
            return inspect.getsource(f)
        except (OSError, TypeError):  # e.g. lambdas defined in a REPL
            return repr(f)

    if not inspect.isfunction(fn):
        return source(fn)
    pkg = fn.__module__.split(".")[0]
    reached: dict[str, str] = {}
    stack = [fn]
    while stack:
        f = stack.pop()
        codes = [f.__code__]
        for code in codes:  # nested lambdas, comprehensions and inner defs
            codes.extend(c for c in code.co_consts if inspect.iscode(c))
            for g in map(f.__globals__.get, code.co_names):
                if not inspect.isfunction(g) or (g.__module__ or "").split(".")[0] != pkg:
                    continue
                key = f"{g.__module__}.{g.__qualname__}"
                if key not in reached:
                    reached[key] = source(g)
                    stack.append(g)
    return "\x1e".join([source(fn), *(reached[k] for k in sorted(reached))])
