"""Spark-free tests of the registry's shared-artifact scope: fake builders
that count their calls stand in for the dedup family's minhash_base and
scored_pairs, and fake queries only read artifacts."""

from __future__ import annotations

from collections import Counter

import pytest

from data_pipeline_cursor_spark import registry


class _Session:
    """Stands in for a SparkSession: the scope only compares identities
    and nudges ``sparkContext._jvm.System.gc()`` on release."""

    def __init__(self):
        self.gcs = 0
        self.sparkContext = self
        self._jvm = self
        self.System = self

    def gc(self):
        self.gcs += 1


@pytest.fixture
def fake(monkeypatch):
    """A private registry: minhash_base ← scored_pairs, plus a factory
    for queries that read the artifacts they are given."""
    for attr in ("_QUERIES", "_USES", "_ARTIFACTS"):
        monkeypatch.setattr(registry, attr, {})
    monkeypatch.setattr(registry, "_load_all_modules", lambda: None)
    calls: Counter = Counter()
    stamp = {"v": 0}

    @registry.artifact("minhash_base", lambda sf_dir: stamp["v"])
    def _base(spark, sf_dir):
        calls["minhash_base"] += 1
        return "base"

    @registry.artifact(
        "scored_pairs", lambda sf_dir: 0, needs=("minhash_base",)
    )
    def _pairs(spark, sf_dir, base):
        calls["scored_pairs"] += 1
        return base + "+pairs"

    def query(name, uses=(), reads=None, fail=False):
        def fn(spark, sf_dir):
            got = [
                registry.read_artifact(a, spark, sf_dir)
                for a in (uses if reads is None else reads)
            ]
            if fail:
                raise ValueError(name)
            return got

        registry.register(name, uses=uses)(fn)

    return calls, query, stamp


def _run(scope, spark, name):
    with scope.running(name):
        return registry._QUERIES[name](spark, "sf")


def test_block_is_contiguous_built_once_released_after_last_reader(fake):
    calls, query, _ = fake
    query("a_plain")
    query("b_pairs", ("scored_pairs",))
    query("c_plain")
    query("d_base", ("minhash_base",))
    query("e_pairs", ("scored_pairs",))
    query("f_plain")
    query("g_base", ("minhash_base",))
    spark = _Session()
    names = sorted(registry._QUERIES)
    released_after = {}
    with registry.ArtifactScope(names) as scope:
        assert scope.order == [
            "a_plain", "b_pairs", "d_base", "e_pairs", "g_base",
            "c_plain", "f_plain",
        ]
        for name in scope.order:
            out = _run(scope, spark, name)
            released_after[name] = {a for a, r in scope.released.items() if r}
            if name == "b_pairs":
                assert out == ["base+pairs"]
                assert {k[0] for k in scope.memo} == {
                    "minhash_base", "scored_pairs"
                }
    assert calls == {"minhash_base": 1, "scored_pairs": 1}
    assert released_after["b_pairs"] == set()
    assert released_after["d_base"] == set()
    assert released_after["e_pairs"] == {"scored_pairs"}
    assert released_after["g_base"] == {"minhash_base", "scored_pairs"}
    assert scope.memo == {}
    assert spark.gcs == 2  # one nudge per released artifact


def test_base_outlives_the_pair_reader_that_builds_pairs(fake):
    calls, query, _ = fake
    query("a_base", ("minhash_base",))
    query("b_pairs", ("scored_pairs",))
    query("c_pairs", ("scored_pairs",))
    spark = _Session()
    with registry.ArtifactScope(["a_base", "b_pairs", "c_pairs"]) as scope:
        _run(scope, spark, "a_base")
        # b_pairs still has to BUILD scored_pairs from minhash_base
        assert not any(scope.released.values())
        _run(scope, spark, "b_pairs")
        # c_pairs reads the built scored_pairs only
        assert scope.released == {"minhash_base": True, "scored_pairs": False}
        assert {k[0] for k in scope.memo} == {"scored_pairs"}
        _run(scope, spark, "c_pairs")
        assert scope.released == {"minhash_base": True, "scored_pairs": True}
    assert calls == {"minhash_base": 1, "scored_pairs": 1}


def test_undeclared_read_raises(fake):
    calls, query, _ = fake
    query("x_declares_base", ("minhash_base",), reads=("scored_pairs",))
    query("x_declares_nothing", (), reads=("minhash_base",))
    spark = _Session()
    names = ["x_declares_base", "x_declares_nothing"]
    with registry.ArtifactScope(names) as scope:
        for name in names:
            with pytest.raises(RuntimeError, match="without declaring"):
                _run(scope, spark, name)
        with pytest.raises(RuntimeError, match="without declaring"):
            registry.read_artifact("minhash_base", spark, "sf")
    assert calls == {}


def test_reads_outside_a_scope_are_none_and_build_nothing(fake):
    calls, query, _ = fake
    query("b_pairs", ("scored_pairs",))
    spark = _Session()
    assert registry._QUERIES["b_pairs"](spark, "sf") == [None]
    with registry.ArtifactScope(["b_pairs"], share=False) as scope:
        assert _run(scope, spark, "b_pairs") == [None]
    assert scope.released == {"minhash_base": False, "scored_pairs": False}
    with registry.ArtifactScope(["b_pairs"]):
        pass
    assert registry.read_artifact("scored_pairs", spark, "sf") is None
    assert calls == {}


def test_a_raising_query_still_releases_its_refs(fake):
    calls, query, _ = fake
    query("a_pairs", ("scored_pairs",), fail=True)
    query("b_plain")
    spark = _Session()
    with registry.ArtifactScope(["a_pairs", "b_plain"]) as scope:
        with pytest.raises(ValueError):
            _run(scope, spark, "a_pairs")
        assert scope.released == {"minhash_base": True, "scored_pairs": True}
        assert scope.memo == {}
    assert calls == {"minhash_base": 1, "scored_pairs": 1}


def test_memo_rebuilds_on_new_stamp_or_session_and_evicts_the_old(fake):
    calls, query, stamp = fake
    query("a_base", ("minhash_base",))
    spark, other = _Session(), _Session()
    with registry.ArtifactScope(["a_base"]) as scope:
        with scope.running("a_base"):
            read = registry.read_artifact
            read("minhash_base", spark, "sf")
            read("minhash_base", spark, "sf")
            assert calls["minhash_base"] == 1
            stamp["v"] = 1  # the fixture was regenerated in place
            read("minhash_base", spark, "sf")
            assert calls["minhash_base"] == 2
            read("minhash_base", other, "sf")  # another session
            assert calls["minhash_base"] == 3
            assert list(scope.memo) == [("minhash_base", "sf", 1)]
            assert scope.memo[("minhash_base", "sf", 1)][0] is other
