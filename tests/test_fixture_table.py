"""Spark-free tests of the lakehouse fixture helper
``catalog._fixture_table``: fake steps write the ``manifest-N.json``
files ``snapshot_versions`` lists, and a fake events loader records each
time ``ev`` is built.  Also the sweep of the per-pid work roots those
tables live under (``formats._work_dir``)."""

from __future__ import annotations

import os

import pytest

from data_pipeline_cursor_spark import catalog


class _Events:
    """Stands in for the events DataFrame: records the selected columns."""

    def __init__(self, loads: list):
        self.loads = loads

    def select(self, *cols):
        self.loads.append(cols)
        return self


@pytest.fixture
def fixture(tmp_path, monkeypatch):
    """(table_dir, ran, loads, step, build): ``step(k, versions=1)`` is a
    fake step that logs ``k`` in ``ran`` and commits ``versions``
    versions; ``build(steps)`` runs ``_fixture_table`` over them."""
    table_dir = str(tmp_path / "tbl")
    ran: list[int] = []
    loads: list[tuple] = []
    monkeypatch.setattr(
        catalog, "_fixture_dir", lambda sf_dir, name, table: table_dir
    )
    monkeypatch.setattr(
        catalog, "load_table", lambda spark, sf_dir, name: _Events(loads)
    )

    def step(k, versions=1):
        def run(d, ev):
            assert d == table_dir and isinstance(ev, _Events)
            ran.append(k)
            _commit(d, versions)

        return run

    def build(steps):
        return catalog._fixture_table(None, "sf", "tbl", steps)

    return table_dir, ran, loads, step, build


def _commit(table_dir: str, n: int = 1) -> None:
    os.makedirs(table_dir, exist_ok=True)
    last = max(catalog.snapshot_versions(table_dir), default=0)
    for v in range(last + 1, last + 1 + n):
        open(os.path.join(table_dir, f"manifest-{v}.json"), "w").close()


def test_fresh_build_runs_every_step_with_one_events_load(fixture):
    table_dir, ran, loads, step, build = fixture
    assert build([step(0), step(1), step(2)]) == table_dir
    assert ran == [0, 1, 2]
    assert loads == [("event_id", "event_type")]
    assert catalog.snapshot_versions(table_dir) == [1, 2, 3]


def test_resumes_after_last_committed_version(fixture):
    table_dir, ran, loads, step, build = fixture
    _commit(table_dir, 2)  # a build that stopped after its second commit
    build([step(0), step(1), step(2), step(3)])
    assert ran == [2, 3]
    assert len(loads) == 1
    assert catalog.snapshot_versions(table_dir) == [1, 2, 3, 4]


@pytest.mark.parametrize("committed", [3, 4], ids=["complete", "past_steps"])
def test_complete_table_runs_no_step_and_builds_no_events(fixture, committed):
    # 4 = a later maintenance commit (a compaction) on a 3-step table
    table_dir, ran, loads, step, build = fixture
    _commit(table_dir, committed)
    assert build([step(0), step(1), step(2)]) == table_dir
    assert ran == [] and loads == []
    assert catalog.snapshot_versions(table_dir) == list(range(1, committed + 1))


@pytest.mark.parametrize("versions", [0, 2])
def test_step_committing_other_than_one_version_raises(fixture, versions):
    table_dir, ran, loads, step, build = fixture
    with pytest.raises(RuntimeError, match="step 2 left .* expected 2"):
        build([step(0), step(1, versions=versions), step(2)])
    assert ran == [0, 1]  # nothing runs past the bad step


def test_first_work_dir_call_removes_dead_pid_roots(tmp_path, monkeypatch):
    """A process's first ``_work_dir`` call removes the roots of pids
    that are gone and keeps a live pid's root and non-pid entries."""
    import subprocess
    import sys

    from data_pipeline_cursor_spark.sources import formats

    monkeypatch.setattr(formats, "_FMT_ROOT", str(tmp_path))
    monkeypatch.setattr(formats, "_SWEPT", False)
    gone = subprocess.run(
        [sys.executable, "-c", "import os; print(os.getpid())"],
        capture_output=True, text=True, check=True,
    ).stdout.strip()
    dead = tmp_path / gone / "sf0.01" / "csv"
    live = tmp_path / str(os.getppid()) / "sf0.01" / "csv"
    other = tmp_path / "notapid"
    for d in (dead, live, other):
        d.mkdir(parents=True)
        (d / "part-0").write_bytes(b"x")

    path = formats._work_dir("/data/sf0.01", "csv")

    assert path == str(tmp_path / str(os.getpid()) / "sf0.01" / "csv")
    assert not (tmp_path / gone).exists()
    assert live.exists() and other.exists()
