"""SnapshotTable: manifest-pointer commits, copy-on-write by partition,
optimistic concurrency, snapshot isolation + time travel."""

from __future__ import annotations

import glob
import hashlib
import json
import os

import pytest
from pyspark.sql import functions as F

from storage_spark.sources.snapshots import CommitConflictError, SnapshotTable


def _rows(df):
    return {
        (r.bucket_id, r.name): (r.payload, r.size) for r in df.collect()
    }


def _all_data_file_hashes(path: str) -> dict[str, str]:
    out = {}
    for f in glob.glob(f"{path}/data/**/*.parquet", recursive=True):
        with open(f, "rb") as fh:
            out[f] = hashlib.md5(fh.read()).hexdigest()
    return out


@pytest.fixture()
def table(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "snap"))
    rows = [
        (b, f"k{i}", f"v-{b}-{i}", i * 10)
        for b in ("b1", "b2", "b3")
        for i in range(4)
    ]
    assert t.create(
        spark.createDataFrame(
            rows, "bucket_id string, name string, payload string, size long"
        )
    ) == 1
    return t


def test_upsert_creates_new_version_and_carries_files_by_reference(
    spark, table
):
    m1 = table._manifest(1)
    before_hashes = _all_data_file_hashes(table.path)

    updates = spark.createDataFrame(
        [("b1", "k0", "UPDATED", 999)],
        "bucket_id string, name string, payload string, size long",
    )
    assert table.merge_upsert(updates, ["bucket_id", "name"]) == 2

    m2 = table._manifest(2)
    # untouched partitions: the SAME file paths carried forward (zero IO)
    assert m2["files"]["b2"] == m1["files"]["b2"]
    assert m2["files"]["b3"] == m1["files"]["b3"]
    assert m2["files"]["b1"] != m1["files"]["b1"]
    # v1's files are immutable: every pre-existing file byte-identical
    after = _all_data_file_hashes(table.path)
    for f, h in before_hashes.items():
        assert after[f] == h
    got = _rows(table.read())
    assert got[("b1", "k0")] == ("UPDATED", 999)
    assert got[("b2", "k0")] == ("v-b2-0", 0)
    assert len(got) == 12


def test_harvest_driver_and_distributed_paths_agree(spark, table):
    """VERDICT r6 #2: the footer-stats harvest is size-hybrid — a plain
    driver loop below the threshold (small commits are the common case;
    the all-distributed form cost ~2 extra Spark jobs per commit), the
    mapInPandas fan-out above it. Both must produce the identical stats
    dict for the same files, so a manifest is byte-equal either way."""
    import storage_spark.sources.snapshots as S

    paths = sorted(
        glob.glob(f"{table.path}/data/**/*.parquet", recursive=True)
    )
    assert 0 < len(paths) < S._HARVEST_DISTRIBUTED_MIN
    via_driver = S._harvest_file_stats(spark, paths)
    orig = S._HARVEST_DISTRIBUTED_MIN
    S._HARVEST_DISTRIBUTED_MIN = 1  # force the distributed job
    try:
        via_cluster = S._harvest_file_stats(spark, paths)
    finally:
        S._HARVEST_DISTRIBUTED_MIN = orig
    assert via_driver == via_cluster
    # and the driver path really is loop-only: no Spark job needed
    assert S._harvest_file_stats(spark, []) == {}


def test_time_travel_and_snapshot_isolation(spark, table):
    reader_v1 = table.read()  # resolved against v1's manifest
    updates = spark.createDataFrame(
        [("b1", "k0", "UPDATED", 999)],
        "bucket_id string, name string, payload string, size long",
    )
    table.merge_upsert(updates, ["bucket_id", "name"])
    # the pre-commit reader still sees v1 (immutable files, no overwrite)
    assert _rows(reader_v1)[("b1", "k0")] == ("v-b1-0", 0)
    # explicit time travel
    assert _rows(table.read(version=1))[("b1", "k0")] == ("v-b1-0", 0)
    assert _rows(table.read(version=2))[("b1", "k0")] == ("UPDATED", 999)
    assert table.versions() == [1, 2]


def test_commit_conflict_raises(spark, table):
    """Two writers preparing version 2 concurrently: the second pointer
    create must fail with CommitConflictError, not silently clobber."""
    m = table._manifest()
    winner = dict(m, version=2, parent=1)
    table._commit_manifest(winner)
    loser = dict(m, version=2, parent=1)
    with pytest.raises(CommitConflictError):
        table._commit_manifest(loser)
    assert table.versions() == [1, 2]


def test_losing_writer_retries_against_new_snapshot(spark, table):
    """A full interleaved race: writer B commits v2 AFTER writer A has
    read v1 but BEFORE A's pointer create. A must get
    CommitConflictError, and with_retry must re-run A's merge against
    B's v2 so BOTH updates survive in v3."""
    updates_a = spark.createDataFrame(
        [("b1", "k0", "FROM-A", 111)],
        "bucket_id string, name string, payload string, size long",
    )
    updates_b = spark.createDataFrame(
        [("b2", "k0", "FROM-B", 222)],
        "bucket_id string, name string, payload string, size long",
    )
    other = SnapshotTable(spark, table.path)
    orig = table._write_data_files
    raced = {"done": False}

    def race(df):
        files = orig(df)
        if not raced["done"]:
            raced["done"] = True  # interleave exactly once
            other.merge_upsert(updates_b, ["bucket_id", "name"])
        return files

    table._write_data_files = race
    try:
        with pytest.raises(CommitConflictError):
            table.merge_upsert(updates_a, ["bucket_id", "name"])
        # the retry re-reads B's snapshot and lands as v3
        v = table.with_retry(
            lambda: table.merge_upsert(updates_a, ["bucket_id", "name"])
        )
    finally:
        table._write_data_files = orig
    assert v == 3
    got = _rows(table.read())
    assert got[("b1", "k0")] == ("FROM-A", 111)
    assert got[("b2", "k0")] == ("FROM-B", 222)  # B's commit not lost


def test_merge_delete_and_empty_partition(spark, table):
    probe = spark.createDataFrame(
        [("b1", "k0")] + [("b2", f"k{i}") for i in range(4)],
        "bucket_id string, name string",
    )
    v = table.merge_delete(probe, ["bucket_id", "name"])
    m = table._manifest(v)
    assert "b2" not in m["files"]  # emptied partition disappears entirely
    got = table.read()
    assert got.filter(F.col("bucket_id") == "b2").count() == 0
    assert got.count() == 7  # 12 - 1 - 4
    # delete EVERYTHING: table reads back empty with the original schema
    table.merge_delete(table.read().select("bucket_id", "name"),
                       ["bucket_id", "name"])
    empty = table.read()
    assert empty.count() == 0
    assert empty.columns == ["bucket_id", "name", "payload", "size"]


def test_update_columns_and_partition_pruned_read(spark, table):
    updates = spark.createDataFrame(
        [("b2", "k1", 777)], "bucket_id string, name string, size long"
    )
    table.merge_update_columns(updates, ["bucket_id", "name"], ["size"])
    got = _rows(table.read(partitions=["b2"]))
    assert set(b for b, _ in got) == {"b2"}
    assert got[("b2", "k1")] == ("v-b2-1", 777)
    with pytest.raises(ValueError):
        table.merge_upsert(updates, ["name"])


def test_partition_values_with_special_chars_round_trip(spark, tmp_path):
    """Spark Hive-escapes partition dir names ('Brand#13' ->
    'Brand%2313'); manifest keys must carry the REAL value or
    partition-pruned reads silently return nothing."""
    t = SnapshotTable(spark, str(tmp_path / "snap"))
    t.create(
        spark.createDataFrame(
            [("Brand#13", "k0", "p", 1), ("a b/c", "k1", "q", 2)],
            "bucket_id string, name string, payload string, size long",
        )
    )
    assert set(t._manifest()["files"]) == {"Brand#13", "a b/c"}
    got = _rows(t.read(partitions=["Brand#13"]))
    assert got == {("Brand#13", "k0"): ("p", 1)}
    t.merge_upsert(
        spark.createDataFrame(
            [("Brand#13", "k0", "UP", 9)],
            "bucket_id string, name string, payload string, size long",
        ),
        ["bucket_id", "name"],
    )
    assert _rows(t.read())[("Brand#13", "k0")] == ("UP", 9)


def test_expire_and_vacuum_reclaim_only_dead_files(spark, table):
    """vacuum must delete exactly the files no retained manifest
    references — replaced copy-on-write files after expiry — and never a
    file a live snapshot needs."""
    updates = spark.createDataFrame(
        [("b1", "k0", "UPDATED", 999)],
        "bucket_id string, name string, payload string, size long",
    )
    table.merge_upsert(updates, ["bucket_id", "name"])  # v2 rewrites b1

    # both snapshots retained: nothing is dead yet
    assert table.vacuum() == []

    v1_b1_files = set(table._manifest(1)["files"]["b1"])
    assert table.expire_snapshots(keep_last=1) == [1]
    removed = set(table.vacuum())
    assert removed == v1_b1_files  # ONLY v1's replaced b1 files die
    for fs in table._manifest(2)["files"].values():
        for f in fs:
            assert os.path.exists(f)
    # the table still reads correctly after the GC
    got = _rows(table.read())
    assert got[("b1", "k0")] == ("UPDATED", 999)
    assert len(got) == 12
    with pytest.raises(ValueError):
        table.expire_snapshots(keep_last=0)


def test_table_changes_cdc_between_versions(spark, table):
    probe_updates = spark.createDataFrame(
        [
            ("b1", "k0", "UPDATED", 999),   # update existing
            ("b1", "k9", "NEW", 900),       # insert
        ],
        "bucket_id string, name string, payload string, size long",
    )
    table.merge_upsert(probe_updates, ["bucket_id", "name"])
    table.merge_delete(
        spark.createDataFrame(
            [("b2", "k0")], "bucket_id string, name string"
        ),
        ["bucket_id", "name"],
    )
    changes = table.table_changes(1, 3, ["bucket_id", "name"]).collect()
    got = {
        (r.bucket_id, r.name, r._change_type): (r.payload, r.size)
        for r in changes
    }
    assert got[("b1", "k9", "insert")] == ("NEW", 900)
    assert got[("b2", "k0", "delete")] == ("v-b2-0", 0)
    assert got[("b1", "k0", "update_preimage")] == ("v-b1-0", 0)
    assert got[("b1", "k0", "update_postimage")] == ("UPDATED", 999)
    assert len(got) == 4  # nothing else changed
    # v1 -> v2 sees only the upsert, not the later delete
    v12 = {r._change_type for r in
           table.table_changes(1, 2, ["bucket_id", "name"]).collect()}
    assert v12 == {"insert", "update_preimage", "update_postimage"}


def test_streaming_ingest_commits_versions(spark, tmp_path):
    """availableNow stream of two micro-batches into a SnapshotTable:
    one committed version per batch, final state correct, every
    intermediate version time-travel readable."""
    from storage_spark.streaming.events import run_snapshot_ingest

    src = tmp_path / "in"
    src.mkdir()
    schema = "bucket_id string, name string, payload string, size long"
    spark.createDataFrame(
        [("b1", "k0", "first", 1), ("b2", "k0", "first", 2)], schema
    ).coalesce(1).write.parquet(str(src / "f1"))
    spark.createDataFrame(
        [("b1", "k0", "second", 10), ("b3", "k0", "new", 3)], schema
    ).coalesce(1).write.parquet(str(src / "f2"))

    t = SnapshotTable(spark, str(tmp_path / "snap"))
    t.create(spark.createDataFrame([], schema))
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src / "f*"))
    )
    run_snapshot_ingest(
        stream, t, keys=["bucket_id", "name"],
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    assert t.versions() == [1, 2, 3]
    final = _rows(t.read())
    assert final[("b1", "k0")][0] in ("first", "second")
    assert len(final) == 3
    # batches could arrive in either order, but SOME intermediate
    # version holds fewer rows than the final state
    assert t.read(version=2).count() == 2


def test_manifest_is_valid_json_with_expected_shape(table):
    files = glob.glob(f"{table.path}/_commits/*.json")
    assert files
    m = json.load(open(files[0]))
    assert set(m) >= {"version", "parent", "columns", "files", "schema_json"}
    for part, fs in m["files"].items():
        for f in fs:
            assert os.path.exists(f)


# --------------------------------------------------------------------------
# write fanout + compaction
# --------------------------------------------------------------------------


def _files_per_partition(t, version=None):
    return {p: len(fs) for p, fs in t._manifest(version)["files"].items()}


def test_write_fanout_spreads_partitions_over_files(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "fan"), write_fanout=4)
    rows = [("b1", f"k{i}", f"v{i}", i) for i in range(200)] + [
        ("b2", f"k{i}", f"v{i}", i) for i in range(200)
    ]
    t.create(
        spark.createDataFrame(
            rows, "bucket_id string, name string, payload string, size long"
        )
    )
    counts = _files_per_partition(t)
    assert set(counts) == {"b1", "b2"}
    assert all(1 <= n <= 4 for n in counts.values())
    assert sum(counts.values()) > 2  # fanout actually produced extra files
    # content unharmed
    assert t.read().count() == 400


def test_compact_repacks_crowded_partitions_only(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "cp"), write_fanout=4)
    rows = [("b1", f"k{i}", f"v{i}", i) for i in range(200)] + [
        ("b2", f"k{i}", f"v{i}", i) for i in range(200)
    ]
    t.create(
        spark.createDataFrame(
            rows, "bucket_id string, name string, payload string, size long"
        )
    )
    before = t._manifest()
    crowded = {p for p, fs in before["files"].items() if len(fs) > 1}
    calm = {p for p, fs in before["files"].items() if len(fs) <= 1}
    assert crowded, "fixture must produce at least one crowded partition"
    data_before = {
        (r.bucket_id, r.name): (r.payload, r.size) for r in t.read().collect()
    }
    hashes_before = _all_data_file_hashes(t.path)

    v = t.compact(max_files_per_partition=1)
    assert v == 2
    after = t._manifest()
    assert after.get("compacted_partitions") == sorted(crowded)
    # crowded partitions now hold exactly one file; calm ones carried by ref
    for p in crowded:
        assert len(after["files"][p]) == 1
    for p in calm:
        assert after["files"][p] == before["files"][p]
        for f in before["files"][p]:
            with open(f, "rb") as fh:
                assert hashes_before[f] == hashlib.md5(fh.read()).hexdigest()
    # identity rewrite: same rows before and after
    data_after = {
        (r.bucket_id, r.name): (r.payload, r.size) for r in t.read().collect()
    }
    assert data_after == data_before
    # time travel still reaches the pre-compaction layout
    assert t.read(version=1).count() == 400


def test_compact_noop_returns_none(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "np"))
    t.create(
        spark.createDataFrame(
            [("b1", "k", "v", 1)],
            "bucket_id string, name string, payload string, size long",
        )
    )
    assert t.compact(max_files_per_partition=1) is None
    assert t.versions() == [1]  # no empty commit


def test_compact_then_expire_vacuum_reclaims_small_files(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "vc"), write_fanout=4)
    rows = [("b1", f"k{i}", f"v{i}", i) for i in range(300)]
    t.create(
        spark.createDataFrame(
            rows, "bucket_id string, name string, payload string, size long"
        )
    )
    n_before = len(_all_data_file_hashes(t.path))
    assert t.compact(max_files_per_partition=1) == 2
    t.expire_snapshots(keep_last=1)
    removed = t.vacuum()
    assert removed  # the pre-compaction small files are gone
    assert len(_all_data_file_hashes(t.path)) < n_before
    assert t.read().count() == 300


def test_compact_conflicts_with_concurrent_commit(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "cf"), write_fanout=4)
    rows = [("b1", f"k{i}", f"v{i}", i) for i in range(100)]
    t.create(
        spark.createDataFrame(
            rows, "bucket_id string, name string, payload string, size long"
        )
    )
    # another writer lands version 2 first
    t.merge_upsert(
        spark.createDataFrame(
            [("b1", "k0", "NEW", 999)],
            "bucket_id string, name string, payload string, size long",
        ),
        ["bucket_id", "name"],
    )
    # a compactor that resolved the old manifest must lose the race
    m = t._manifest(1)
    scoped = t.read(version=1)
    new_files, _stats = t._write_data_files(scoped, fanout=1)
    files = dict(new_files)
    with pytest.raises(CommitConflictError):
        t._commit_manifest(
            {
                "version": 2,
                "parent": 1,
                "columns": m["columns"],
                "schema_json": m["schema_json"],
                "files": files,
            }
        )
    # with_retry path: fresh compact sees version 2 and lands 3
    assert t.with_retry(lambda: t.compact(max_files_per_partition=1)) == 3


# --------------------------------------------------------------------------
# incremental usage maintenance from CDC
# --------------------------------------------------------------------------


def test_incremental_usage_equals_recompute(spark, table):
    from storage_spark.operators.aggregates import (
        apply_usage_delta,
        bucket_usage,
        usage_delta_from_changes,
    )

    base = bucket_usage(table.read(version=1)).localCheckpoint(eager=True)
    # v2: update one row's size and insert one new row
    table.merge_upsert(
        spark.createDataFrame(
            [("b1", "k0", "upd", 5000), ("b1", "knew", "new", 7)],
            "bucket_id string, name string, payload string, size long",
        ),
        ["bucket_id", "name"],
    )
    # v3: delete ALL of b2 (its usage row must disappear) and one b3 row
    probe = spark.createDataFrame(
        [("b2", f"k{i}") for i in range(4)] + [("b3", "k1")],
        "bucket_id string, name string",
    )
    table.merge_delete(probe, ["bucket_id", "name"])

    delta = usage_delta_from_changes(
        table.table_changes(1, 3, ["bucket_id", "name"])
    )
    incremental = {
        r["bucket_id"]: (r["total_size"], r["n_objects"])
        for r in apply_usage_delta(base, delta).collect()
    }
    recomputed = {
        r["bucket_id"]: (r["total_size"], r["n_objects"])
        for r in bucket_usage(table.read()).collect()
    }
    assert incremental == recomputed
    assert "b2" not in incremental  # emptied bucket dropped, like recompute


def test_usage_delta_rejects_unknown_change_type(spark):
    from storage_spark.operators.aggregates import usage_delta_from_changes

    bad = spark.createDataFrame(
        [("b1", 10, "upsert")], "bucket_id string, size long, _change_type string"
    )
    with pytest.raises(ValueError):
        usage_delta_from_changes(bad)


# --------------------------------------------------------------------------
# schema evolution
# --------------------------------------------------------------------------


def test_schema_evolution_on_merge(spark, table):
    batch = spark.createDataFrame(
        [("b1", "k0", "upd", 11, "hot"), ("b1", "knew", "new", 12, "cold")],
        "bucket_id string, name string, payload string, size long, tier string",
    )
    # without the flag: refuse to drift
    with pytest.raises(ValueError, match="tier"):
        table.merge_upsert(batch, ["bucket_id", "name"])
    v = table.merge_upsert(batch, ["bucket_id", "name"], evolve_schema=True)
    assert v == 2
    cur = table.read()
    assert "tier" in cur.columns
    got = {r.name: r.tier for r in cur.filter("bucket_id = 'b1'").collect()}
    assert got["k0"] == "hot" and got["knew"] == "cold"
    assert got["k1"] is None  # untouched row reads the new column as NULL
    # untouched PARTITION (pre-evolution files only) also sees the column
    b2 = table.read(partitions=["b2"])
    assert "tier" in b2.columns
    assert all(r.tier is None for r in b2.collect())
    # time travel shows the pre-evolution schema
    assert "tier" not in table.read(version=1).columns


def test_schema_evolution_then_plain_merge_keeps_column(spark, table):
    table.merge_upsert(
        spark.createDataFrame(
            [("b1", "k0", "upd", 11, "hot")],
            "bucket_id string, name string, payload string, size long, tier string",
        ),
        ["bucket_id", "name"],
        evolve_schema=True,
    )
    # a later merge WITHOUT the new column still round-trips it
    table.merge_upsert(
        spark.createDataFrame(
            [("b3", "k9", "x", 1, None)],
            "bucket_id string, name string, payload string, size long, tier string",
        ),
        ["bucket_id", "name"],
    )
    cur = table.read()
    assert cur.filter("name = 'k0'").collect()[0].tier == "hot"
    assert cur.filter("name = 'k9'").count() == 1


# --------------------------------------------------------------------------
# clustered (sorted) compaction
# --------------------------------------------------------------------------


def _file_name_ranges(path: str):
    """Per partition dir: [(file, min(name), max(name))] from parquet
    footer statistics — what engine file-skipping reads."""
    import pyarrow.parquet as pq

    out = {}
    for f in glob.glob(f"{path}/**/*.parquet", recursive=True):
        part = [p for p in f.split("/") if p.startswith("bucket_id=")]
        if not part:
            continue
        md = pq.ParquetFile(f).metadata
        idx = {md.schema.column(i).name: i for i in range(md.num_columns)}
        lo, hi = None, None
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(idx["name"]).statistics
            lo = st.min if lo is None else min(lo, st.min)
            hi = st.max if hi is None else max(hi, st.max)
        out.setdefault(part[0], []).append((f, lo, hi))
    return out


def test_clustered_compaction_yields_disjoint_sorted_files(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "cl"), write_fanout=4)
    rows = [("b1", f"k{i:04d}", f"v{i}", i) for i in range(400)]
    t.create(
        spark.createDataFrame(
            rows, "bucket_id string, name string, payload string, size long"
        )
    )
    # hash-salted layout: file name-ranges overlap (that's the point)
    before = _file_name_ranges(t.path)["bucket_id=b1"]
    assert len(before) > 1
    overlaps = sum(
        1
        for i, (_, lo1, hi1) in enumerate(before)
        for (_, lo2, hi2) in before[i + 1:]
        if lo1 <= hi2 and lo2 <= hi1
    )
    assert overlaps > 0
    v = t.compact(target_fanout=4, sort_by=["name"])
    assert v == 2
    m = t._manifest()
    live = {f for fs in m["files"].values() for f in fs}
    after = [
        r for r in _file_name_ranges(t.path).get("bucket_id=b1", [])
        if r[0] in live
    ]
    # clustered: several files, pairwise DISJOINT name ranges
    assert len(after) > 1
    for i, (_, lo1, hi1) in enumerate(after):
        for (_, lo2, hi2) in after[i + 1:]:
            assert hi1 < lo2 or hi2 < lo1, (lo1, hi1, lo2, hi2)
    # identity rewrite
    assert t.read().count() == 400
    assert (
        t.read().select(F.min("name"), F.max("name")).collect()[0]
        == ("k0000", "k0399")
    )


# --------------------------------------------------------------------------
# z-order clustered compaction
# --------------------------------------------------------------------------


def _file_numeric_ranges(path: str, col: str, live: set[str]):
    """[(lo, hi)] per live parquet file for a numeric column, from footer
    statistics — what multi-dimension file skipping reads."""
    import pyarrow.parquet as pq

    out = []
    for f in glob.glob(f"{path}/**/*.parquet", recursive=True):
        if f not in live:
            continue
        md = pq.ParquetFile(f).metadata
        idx = {md.schema.column(i).name: i for i in range(md.num_columns)}
        lo, hi = None, None
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(idx[col]).statistics
            lo = st.min if lo is None else min(lo, st.min)
            hi = st.max if hi is None else max(hi, st.max)
        out.append((lo, hi))
    return out


def _avg_width(ranges, domain):
    return sum(hi - lo for lo, hi in ranges) / len(ranges) / domain


def test_morton_code_matches_python_bit_interleave(spark):
    from storage_spark.sources.layout import morton_code

    df = spark.range(64).select(
        (F.col("id") % 8).alias("x"), (F.col("id") / 8).cast("long").alias("y")
    )
    got = df.withColumn(
        "z", morton_code([F.col("x"), F.col("y")], [0, 0], [8, 8], bits=3)
    ).collect()

    def interleave(x, y):
        z = 0
        for i in range(3):
            z |= ((x >> i) & 1) << (2 * i) | ((y >> i) & 1) << (2 * i + 1)
        return z

    for r in got:
        # quantized value = floor(v * 8/8) = v, capped at 7
        qx, qy = min(r.x, 7), min(r.y, 7)
        assert r.z == interleave(qx, qy), (r.x, r.y, r.z)


def test_zorder_compaction_narrows_both_dimensions(spark, tmp_path):
    """Grid data (x, y independent): a lexicographic sort on x leaves each
    file spanning y's FULL domain; z-order leaves both dimensions narrow,
    so footer min/max prunes files for predicates on either column."""
    n = 64
    rows = [("b1", f"k{i:04d}", float(i % n), float(i // n)) for i in range(n * n)]
    schema = "bucket_id string, name string, x double, y double"

    linear = SnapshotTable(spark, str(tmp_path / "lin"), write_fanout=16)
    linear.create(spark.createDataFrame(rows, schema))
    linear.compact(target_fanout=16, sort_by=["x"])
    m = linear._manifest()
    live = {f for fs in m["files"].values() for f in fs}
    lin_y = _avg_width(_file_numeric_ranges(linear.path, "y", live), n - 1)
    assert lin_y > 0.9  # x-sort: every file spans ~all of y

    zt = SnapshotTable(spark, str(tmp_path / "zo"), write_fanout=16)
    zt.create(spark.createDataFrame(rows, schema))
    v = zt.compact(target_fanout=16, zorder_by=["x", "y"])
    assert v == 2
    m = zt._manifest()
    live = {f for fs in m["files"].values() for f in fs}
    z_x = _avg_width(_file_numeric_ranges(zt.path, "x", live), n - 1)
    z_y = _avg_width(_file_numeric_ranges(zt.path, "y", live), n - 1)
    # both dimensions narrow: each file covers a fraction of each domain
    assert z_y < 0.55 and z_x < 0.55, (z_x, z_y, lin_y)
    # identity rewrite: same rows, schema unchanged (no __z leak)
    assert zt.read().count() == n * n
    assert set(zt.read().columns) == {"bucket_id", "name", "x", "y"}


def test_zorder_constant_column_degrades_gracefully(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "zc"), write_fanout=4)
    rows = [("b1", f"k{i:03d}", 5.0, float(i)) for i in range(200)]
    t.create(
        spark.createDataFrame(rows, "bucket_id string, name string, x double, y double")
    )
    v = t.compact(target_fanout=4, zorder_by=["x", "y"])  # x constant
    assert v == 2
    assert t.read().count() == 200


# --------------------------------------------------------------------------
# file-granularity copy-on-write within a touched partition
# --------------------------------------------------------------------------


def _md5s(paths):
    import hashlib

    return {
        p: hashlib.md5(open(p, "rb").read()).hexdigest() for p in paths
    }


def _cluster_one_partition(spark, tmp_path, name):
    """400 rows, one partition, clustered on `name` → several files with
    pairwise-disjoint name ranges (the layout file-pruning relies on)."""
    t = SnapshotTable(spark, str(tmp_path / name), write_fanout=4)
    rows = [("b1", f"k{i:04d}", f"v{i}", i) for i in range(400)]
    t.create(
        spark.createDataFrame(
            rows, "bucket_id string, name string, payload string, size long"
        )
    )
    t.compact(target_fanout=4, sort_by=["name"])
    files = t._manifest()["files"]["b1"]
    assert len(files) > 2
    return t, files


def test_merge_rewrites_only_key_intersecting_files(spark, tmp_path):
    """A 1-row upsert into a clustered partition rewrites exactly the ONE
    file whose name range holds the key; every sibling file in the SAME
    partition is carried by reference — identical path, identical bytes.
    This is the write-amplification bound a table format's file-level
    copy-on-write buys (reference MERGE semantics: pg.ts:905-961)."""
    t, files = _cluster_one_partition(spark, tmp_path, "fg")
    before = _md5s(files)
    v = t.merge_upsert(
        spark.createDataFrame(
            [("b1", "k0042", "PATCHED", 999)],
            "bucket_id string, name string, payload string, size long",
        ),
        ["bucket_id", "name"],
    )
    after_files = t._manifest(v)["files"]["b1"]
    carried = [f for f in files if f in set(after_files)]
    replaced = [f for f in files if f not in set(after_files)]
    fresh = [f for f in after_files if f not in set(files)]
    assert len(replaced) == 1  # exactly one file held k0042
    assert len(carried) == len(files) - 1
    assert _md5s(carried) == {p: before[p] for p in carried}  # same bytes
    # replacement writes honor write_fanout (4 here) — small batch may
    # leave some salted writer tasks empty
    assert 1 <= len(fresh) <= 4
    got = t.read()
    assert got.count() == 400
    assert got.filter(F.col("name") == "k0042").first()["payload"] == "PATCHED"
    # the replaced file's other rows survived into the fresh file
    assert got.filter(F.col("payload").startswith("v")).count() == 399


def test_merge_delete_prunes_files_and_stats_follow(spark, tmp_path):
    t, files = _cluster_one_partition(spark, tmp_path, "fgdel")
    v = t.merge_delete(
        spark.createDataFrame([("b1", "k0399")], "bucket_id string, name string"),
        ["bucket_id", "name"],
    )
    m = t._manifest(v)
    after_files = m["files"]["b1"]
    assert len([f for f in files if f in set(after_files)]) == len(files) - 1
    assert t.read().count() == 399
    # manifest stats track exactly the live file set (no leaks, no gaps)
    live = {f for fs in m["files"].values() for f in fs}
    assert set(m["stats"]) == live


def test_pre_stats_manifest_falls_back_to_partition_rewrite(spark, tmp_path):
    """Manifests written before per-file stats existed have no pruning
    metadata: every file in a touched partition is conservatively
    affected, and the merge is still correct."""
    import json as _json
    import os as _os

    t, files = _cluster_one_partition(spark, tmp_path, "fgold")
    mpath = _os.path.join(t._commits_dir, sorted(_os.listdir(t._commits_dir))[-1])
    m = _json.load(open(mpath))
    del m["stats"]
    _json.dump(m, open(mpath, "w"))
    v = t.merge_upsert(
        spark.createDataFrame(
            [("b1", "k0042", "PATCHED", 999)],
            "bucket_id string, name string, payload string, size long",
        ),
        ["bucket_id", "name"],
    )
    after_files = t._manifest(v)["files"]["b1"]
    assert not set(files) & set(after_files)  # full partition rewrite
    got = t.read()
    assert got.count() == 400
    assert got.filter(F.col("name") == "k0042").first()["payload"] == "PATCHED"


def test_file_pruned_merge_composes_with_schema_evolution(spark, tmp_path):
    """evolve_schema=True + file pruning together: the ONE key-intersecting
    file rewrites carrying the new column, siblings stay by reference and
    read it as NULL through the manifest-schema fill."""
    t, files = _cluster_one_partition(spark, tmp_path, "fgevo")
    v = t.merge_upsert(
        spark.createDataFrame(
            [("b1", "k0042", "PATCHED", 999, "gold")],
            "bucket_id string, name string, payload string, size long,"
            " tier string",
        ),
        ["bucket_id", "name"],
        evolve_schema=True,
    )
    after_files = t._manifest(v)["files"]["b1"]
    carried = [f for f in files if f in set(after_files)]
    assert len(carried) == len(files) - 1  # pruning still file-granular
    got = t.read()
    assert got.columns[-1] == "tier"
    assert got.filter(F.col("name") == "k0042").first()["tier"] == "gold"
    # rows from carried (pre-evolution) files read the new column as NULL
    assert got.filter(F.col("tier").isNull()).count() == 399
    assert got.count() == 400


# --------------------------------------------------------------------------
# commit budgets: jobs per commit, incremental clustering, batch cache
# --------------------------------------------------------------------------


def _count_jobs(spark, fn):
    """Run ``fn`` under a fresh job group; return (result, jobs it ran)."""
    import uuid

    sc = spark.sparkContext
    group = f"budget-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


_SCHEMA = "bucket_id string, name string, payload string, size long"


def _clustered_table(spark, tmp_path, name, buckets=("b1", "b2", "b3", "b4")):
    t = SnapshotTable(spark, str(tmp_path / name))
    rows = [(b, f"k{i:04d}", f"v{i}", i) for b in buckets for i in range(300)]
    t.create(spark.createDataFrame(rows, _SCHEMA))
    t.compact(sort_by=["name"])
    return t


def test_merge_commits_stay_within_job_budget(spark, tmp_path):
    """An upsert and a delete each read the batch once (it is cached for
    the commit), take the touched partitions from the key-bounds
    aggregate and write the merge result directly: at most 6 jobs each."""
    t = _clustered_table(spark, tmp_path, "budget")
    ups = spark.createDataFrame(
        [("b1", f"k{i:04d}", "U", 1) for i in range(0, 300, 7)]
        + [("b1", f"n{i:03d}", "N", 2) for i in range(40)],
        _SCHEMA,
    )
    v, n_up = _count_jobs(
        spark, lambda: t.merge_upsert(ups, ["bucket_id", "name"])
    )
    assert v == 3 and n_up <= 6, n_up
    dels = spark.createDataFrame(
        [("b1", f"k{i:04d}") for i in range(1, 300, 11)],
        "bucket_id string, name string",
    )
    v, n_del = _count_jobs(
        spark, lambda: t.merge_delete(dels, ["bucket_id", "name"])
    )
    assert v == 4 and n_del <= 6, n_del
    got = _rows(t.read())
    assert len(got) == 4 * 300 + 40 - len(range(1, 300, 11))
    assert got[("b1", "k0007")] == ("U", 1)
    assert ("b1", "k0001") not in got


def test_clustered_compact_rewrites_only_changed_partitions(spark, tmp_path):
    t = _clustered_table(spark, tmp_path, "incr")
    m = t._manifest()
    layout = [["name"], 1]
    assert m["clustered"] == {p: layout for p in ("b1", "b2", "b3", "b4")}
    t.merge_upsert(
        spark.createDataFrame([("b2", "k0005", "U", 1)], _SCHEMA),
        ["bucket_id", "name"],
    )
    merged = t._manifest()
    # the merge keeps the entries of the partitions it did not touch
    assert set(merged["clustered"]) == {"b1", "b3", "b4"}
    hashes = _md5s([f for fs in merged["files"].values() for f in fs])
    v, n_jobs = _count_jobs(spark, lambda: t.compact(sort_by=["name"]))
    after = t._manifest(v)
    assert after["compacted_partitions"] == ["b2"]
    assert after["clustered"] == {p: layout for p in ("b1", "b2", "b3", "b4")}
    assert n_jobs <= 2, n_jobs
    for p in ("b1", "b3", "b4"):
        assert after["files"][p] == merged["files"][p]
        assert _md5s(after["files"][p]) == {
            f: hashes[f] for f in merged["files"][p]
        }
    assert after["files"]["b2"] != merged["files"]["b2"]
    names = [r.name for r in t.read(partitions=["b2"]).collect()]
    assert names == sorted(names) and len(names) == 300
    # nothing changed since: the same layout request is a no-op
    assert t.compact(sort_by=["name"]) is None
    # a different layout re-sorts everything
    assert t.compact(sort_by=["size"])
    assert t._manifest()["compacted_partitions"] == ["b1", "b2", "b3", "b4"]


def test_compact_without_clustered_key_rewrites_every_partition(
    spark, tmp_path
):
    """Manifests written before the ``clustered`` key existed give no
    layout to trust: a clustering compact rewrites every partition."""
    t = _clustered_table(spark, tmp_path, "legacy")
    mpath = os.path.join(t._commits_dir, sorted(os.listdir(t._commits_dir))[-1])
    m = json.load(open(mpath))
    del m["clustered"]
    json.dump(m, open(mpath, "w"))
    v = t.compact(sort_by=["name"])
    after = t._manifest(v)
    assert after["compacted_partitions"] == ["b1", "b2", "b3", "b4"]
    live = {f for fs in after["files"].values() for f in fs}
    assert not live & {f for fs in m["files"].values() for f in fs}
    assert t.read().count() == 4 * 300


def test_merge_leaves_the_callers_cache_alone(spark, table):
    from pyspark import StorageLevel

    keys = ["bucket_id", "name"]
    plain = spark.createDataFrame([("b1", "k0", "P", 1)], _SCHEMA)
    table.merge_upsert(plain, keys)
    assert not plain.is_cached
    assert plain.storageLevel == StorageLevel.NONE

    cached = spark.createDataFrame([("b2", "k0", "C", 2)], _SCHEMA).cache()
    try:
        table.merge_upsert(cached, keys)
        assert cached.is_cached
        assert cached.storageLevel != StorageLevel.NONE
    finally:
        cached.unpersist()
    got = _rows(table.read())
    assert got[("b1", "k0")] == ("P", 1) and got[("b2", "k0")] == ("C", 2)
