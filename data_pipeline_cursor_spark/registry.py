"""Query registry — the single source of truth for the driver contract.

Every operator module registers its public queries here with an optional
DuckDB oracle SQL string.  ``__spark_entry__.py`` re-exports these as
``queries()`` / ``oracle_sql()``; the driver hash-compares each pair at
sf0.01 (SURVEY.md §5.2).

Determinism rules enforced by convention in every registered query
(SURVEY.md §7.4):
- alias every computed column identically in Spark and SQL dialects,
- ROUND(x, 4) float aggregates / scores; where group averages can land on
  .00005-family boundaries (quantized inputs, small groups) use
  functions.math_ops.stable_round4 + the DECIMAL(28,10)-cast oracle twin,
  and when both engines provably compute bit-identical doubles, ship them
  UNROUNDED (any visible rounding reintroduces repr-vs-binary divergence),
- sort arrays before comparison,
- never emit raw µs-precision event timestamps (bucket/truncate/format),
- CAST(SUM(<integer col>) AS BIGINT) in DuckDB oracles (DuckDB widens integer
  SUM to HUGEINT → pandas float; Spark stays long),
- session timezone pinned UTC by the table loader.
"""

from __future__ import annotations

from collections.abc import Callable, Iterable, Iterator
from contextlib import contextmanager
from typing import Any, Optional

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

_QUERIES: dict[str, QueryFn] = {}
_ORACLES: dict[str, str] = {}
_FOILS: set[str] = set()
_CONTRASTS: set[str] = set()
_USES: dict[str, tuple[str, ...]] = {}
# artifact name → (build, needs, stamp); see artifact()
_ARTIFACTS: dict[str, tuple[Callable, tuple[str, ...], Callable]] = {}
_SCOPE: Optional[ArtifactScope] = None


def register(
    name: str,
    oracle: Optional[str] = None,
    foil: bool = False,
    contrast: bool = False,
    uses: tuple[str, ...] = (),
):
    """Decorator: register ``fn(spark, sf_dir) -> DataFrame`` under ``name``.

    ``oracle`` is the equivalent DuckDB-ANSI SQL (tables pre-registered as
    views: region nation customer supplier part orders lineitem events
    documents embeddings).  Omit it for nondeterministic / non-SQL ops →
    the driver records a rows-only check.

    ``foil`` marks a DELIBERATELY-KEPT scale-calibration contrast — an
    operator retained because its measured blow-up at sf10 (quadratic
    prefix-block candidates, narrow-band collisions) is recorded evidence
    for why the default family is shaped differently.  Foils stay fully
    registered, runnable, and oracled at fixture SFs, but wholesale
    consumers (sized suite runs, cost-bounded benches) can exclude them
    via get_foils() instead of a hand list — the sf10 session-poisoning
    incident in BASELINE.md is the motivating case (round-8 VERDICT
    item 3).

    ``contrast`` marks a SEMANTICS-CALIBRATION contrast: an operator
    whose output is unbounded BY DEFINITION (e.g. the key-less
    stream-stream interval join's density-quadratic pair count), kept
    for reference parity of the raw semantics while a registered
    sibling carries the at-size deployment shape.  Unlike foils (bad
    PLAN, same semantics), a contrast can never have at-size evidence —
    no plan fixes its output cardinality — so sized consumers exclude
    it via get_contrasts() by flag, not by knowledge (round-10 VERDICT
    item 4).  Correctness is still fully oracle-checked at fixture SFs.

    ``uses`` names the shared artifacts the query reads through
    ``read_artifact``: None outside an ``ArtifactScope`` (the query then
    runs its standalone plan), built once and shared inside one, where
    reading an undeclared artifact raises.
    """

    def deco(fn: QueryFn) -> QueryFn:
        if name in _QUERIES:
            raise ValueError(f"duplicate query registration: {name}")
        _QUERIES[name] = fn
        if oracle is not None:
            _ORACLES[name] = oracle.strip()
        if foil:
            _FOILS.add(name)
        if contrast:
            _CONTRASTS.add(name)
        if uses:
            _USES[name] = tuple(uses)
        return fn

    return deco


def artifact(name: str, stamp: Callable[[str], Any], needs: tuple = ()):
    """Decorator: register ``build(spark, sf_dir, *needed)`` as the shared
    artifact ``name``; each artifact in ``needs`` is read (built first if
    absent) and passed in order.  A memo entry serves only an equal
    ``stamp(sf_dir)`` — the fingerprint of the inputs."""

    def deco(fn):
        _ARTIFACTS[name] = (fn, tuple(needs), stamp)
        return fn

    return deco


def read_artifact(name: str, spark: SparkSession, sf_dir: str) -> Any:
    """The shared artifact ``name`` for (spark, sf_dir), built on first
    read, inside an ArtifactScope; None outside one.  Raises if the
    running query did not declare ``name`` in ``uses=``."""
    if _SCOPE is None:
        return None
    if name not in _SCOPE._uses.get(_SCOPE._running, ()):
        raise RuntimeError(
            f"{_SCOPE._running} reads shared artifact {name!r} without "
            f"declaring it in register(..., uses=)"
        )
    return _SCOPE._get(name, spark, sf_dir)


class ArtifactScope:
    """One suite run's sharing scope over the query names it plans to run::

        with ArtifactScope(names) as scope:
            for name in scope.order:
                with scope.running(name):
                    ...  # run the query

    ``order`` is ``names`` with every artifact reader moved into ONE
    contiguous block at the first reader's position: alphabetical order
    interleaves non-readers (x_lang_ngram_profile sorts mid-block), which
    would keep checkpoints pinned across exactly the queries the release
    protects.  An artifact is released once no query left in the plan can
    read it, directly or by building a dependent artifact not built yet:
    at sf10 the pinned blocks inflated an unrelated query that ran late in
    the session 38 s → 111 s via block-manager residency (round-9 VERDICT
    item 7).  ``released`` records which artifacts that happened to.
    With ``share=False`` the scope only orders: reads stay None."""

    def __init__(self, names: Iterable[str], share: bool = True):
        names = list(names)
        uses = get_uses()
        self._uses = {n: uses[n] for n in names if n in uses}
        block = [n for n in names if n in self._uses]
        self.order: list[str] = []
        for n in names:
            if n not in self._uses:
                self.order.append(n)
            elif n == block[0]:
                self.order += block
        self.share = share
        # (artifact, sf_dir, stamp) → (owning session, value)
        self.memo: dict[tuple, tuple] = {}
        self.released = dict.fromkeys(_ARTIFACTS, False)
        self._pending = set(block)
        self._running: Optional[str] = None

    def __enter__(self) -> ArtifactScope:
        global _SCOPE
        if self.share:
            if _SCOPE is not None:
                raise RuntimeError("artifact scopes do not nest")
            _SCOPE = self
            self._release_unread()
        return self

    def __exit__(self, *exc) -> None:
        global _SCOPE
        if _SCOPE is self:
            self._pending.clear()
            self._release_unread()
            _SCOPE = None

    @contextmanager
    def running(self, name: str) -> Iterator[None]:
        """Run ``name``'s body; its refs are dropped even if it raises."""
        self._running = name
        try:
            yield
        finally:
            self._running = None
            self._pending.discard(name)
            if _SCOPE is self:
                self._release_unread()

    def _get(self, name: str, spark: SparkSession, sf_dir: str) -> Any:
        build, needs, stamp = _ARTIFACTS[name]
        key = (name, sf_dir, stamp(sf_dir))
        hit = self.memo.get(key)
        # bound to the owning session: another session recomputes rather
        # than touching this one's checkpoint blocks
        if hit is not None and hit[0] is spark:
            return hit[1]
        # Evict superseded entries before inserting (round-9 ADVICE item
        # 1): a regenerated fixture at the same sf_dir, or a dead
        # SparkSession, would otherwise keep pinning its localCheckpoint
        # blocks for the rest of the run.
        for k, (owner, _v) in list(self.memo.items()):
            if k[0] == name and (k[1] == sf_dir or owner is not spark):
                del self.memo[k]
        needed = [self._get(d, spark, sf_dir) for d in needs]
        self.memo[key] = (spark, build(spark, sf_dir, *needed))
        return self.memo[key][1]

    def _release_unread(self) -> None:
        built = {k[0] for k in self.memo}
        live: set[str] = set()
        todo = [a for q in self._pending for a in self._uses[q]]
        while todo:
            a = todo.pop()
            if a not in live:
                live.add(a)
                todo.extend(() if a in built else _ARTIFACTS[a][1])
        for k in [k for k in self.memo if k[0] not in live]:
            # Freeing the localCheckpoint blocks is the ContextCleaner's
            # job once the JVM references die — a driver GC nudge makes
            # that prompt instead of eventual.
            owner, _v = self.memo.pop(k)
            try:
                owner.sparkContext._jvm.System.gc()
            except Exception:
                pass  # cleanup is best-effort; the cleaner will get there
        for name in self.released:
            if name not in live:
                self.released[name] = True


def _load_all_modules() -> None:
    """Import every operator module for its registration side effects."""
    from data_pipeline_cursor_spark.operators import (  # noqa: F401
        aggregates,
        analytics,
        history,
        joins,
        relational,
        setops,
        subqueries,
        time_windows,
        window_funcs,
    )
    from data_pipeline_cursor_spark.functions import (  # noqa: F401
        arrays,
        datetime_ops,
        json_ops,
        math_ops,
        strings,
        udfs,
    )
    from data_pipeline_cursor_spark import catalog, multimodal, serving  # noqa: F401
    from data_pipeline_cursor_spark.sources import formats  # noqa: F401
    from data_pipeline_cursor_spark.text import (  # noqa: F401
        analysis,
        bpe,
        contamination,
        dedup,
        packing,
        pipeline,
    )
    from data_pipeline_cursor_spark.streaming import jobs  # noqa: F401
    from data_pipeline_cursor_spark.vectors import (  # noqa: F401
        clustering,
        decomposition,
        similarity,
    )


def get_queries() -> dict[str, QueryFn]:
    _load_all_modules()
    return dict(_QUERIES)


def get_oracles() -> dict[str, str]:
    _load_all_modules()
    return dict(_ORACLES)


def get_uses() -> dict[str, tuple[str, ...]]:
    """Query name → its non-empty ``uses=`` declaration."""
    _load_all_modules()
    return dict(_USES)


def get_foils() -> set[str]:
    """Names registered with foil=True — the measured-to-die-at-scale
    calibration contrasts a wholesale consumer may exclude (see
    register)."""
    _load_all_modules()
    return set(_FOILS)


def get_contrasts() -> set[str]:
    """Names registered with contrast=True — semantics-calibration
    operators whose output is unbounded by definition; sized consumers
    exclude them by flag (see register)."""
    _load_all_modules()
    return set(_CONTRASTS)
