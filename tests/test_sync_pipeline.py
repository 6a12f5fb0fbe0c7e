"""End-to-end smoke of the sync pipeline (the reference's actual job) and
the JDBC source's plan-shape helpers."""

from __future__ import annotations

import json
import os

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from mysql_to_clickhouse_sync_spark.sources.jdbc import (
    filter_tables,
    jdbc_bounds_query,
    jdbc_read_options,
)
from mysql_to_clickhouse_sync_spark.sync import snapshot_sync
from tests.conftest import SF_DIR


def test_snapshot_sync_roundtrip(spark, tmp_path):
    out = str(tmp_path / "sync_out")
    manifest = snapshot_sync(
        spark, SF_DIR, out, include="^(region|nation|orders)$"
    )
    tables = {t["table"]: t for t in manifest["tables"]}
    assert set(tables) == {"region", "nation", "orders"}
    assert tables["orders"]["rows"] == 1500
    assert tables["orders"]["min_id"] == 0 or tables["orders"]["min_id"] > 0
    # Round-trip: written parquet re-reads with identical counts.
    for name, entry in tables.items():
        assert spark.read.parquet(entry["path"]).count() == entry["rows"]
    with open(f"{out}/manifest.json") as fh:
        assert json.load(fh)["batch_size"] == 1000


def test_pkless_table_syncs_with_sentinel(spark, tmp_path):
    """Reference P:200-211: a table with no auto-increment PK gets the
    (0,0) bounds sentinel and the offset-paged extract (P:130-142); it
    still syncs, and incremental_sync re-extracts it in full because
    there is no key to resume by."""
    import os

    from mysql_to_clickhouse_sync_spark.sync import incremental_sync

    # fixture source dir: one keyed table + one PK-less table
    src = str(tmp_path / "src")
    os.makedirs(src)
    spark.read.parquet(f"{SF_DIR}/region.parquet").write.parquet(
        f"{src}/region.parquet"
    )
    notes = spark.createDataFrame(
        [("alpha", "x"), ("beta", "y"), ("gamma", "x")], "note string, tag string"
    )
    notes.write.parquet(f"{src}/notes.parquet")

    out = str(tmp_path / "out")
    manifest = snapshot_sync(spark, src, out)
    tables = {t["table"]: t for t in manifest["tables"]}
    assert set(tables) == {"region", "notes"}
    assert tables["region"]["mode"] == "keyset"
    nt = tables["notes"]
    assert nt["mode"] == "offset"
    assert nt["rowid"] is None
    assert (nt["min_id"], nt["max_id"]) == (0, 0)  # the sentinel
    assert nt["rows"] == 3
    assert spark.read.parquet(nt["path"]).count() == 3

    # source grows; the PK-less table full-resyncs on the incremental pass
    spark.createDataFrame([("delta", "z")], "note string, tag string").write.mode(
        "append"
    ).parquet(f"{src}/notes.parquet")
    manifest2 = incremental_sync(spark, src, out)
    nt2 = {t["table"]: t for t in manifest2["tables"]}["notes"]
    assert nt2["rows"] == 4
    assert spark.read.parquet(nt2["path"]).count() == 4
    assert sorted(
        r.note for r in spark.read.parquet(nt2["path"]).collect()
    ) == ["alpha", "beta", "delta", "gamma"]


def test_filter_tables_matches_reference_semantics():
    # Reference: keep iff not exclude.search(n) and (no include or
    # include.search(n)) — unanchored (S:158-159).
    names = ["orders", "orders_archive", "lineitem", "tmp_orders"]
    assert filter_tables(names, include="orders") == [
        "orders",
        "orders_archive",
        "tmp_orders",
    ]
    assert filter_tables(names, include="orders", exclude="tmp") == [
        "orders",
        "orders_archive",
    ]
    assert filter_tables(names) == names
    assert filter_tables(names, exclude=".") == []


def test_jdbc_option_shape():
    q = jdbc_bounds_query("t1", "id")
    assert "COALESCE(MIN(id), 0)" in q and "COALESCE(MAX(id), 0)" in q
    opts = jdbc_read_options(
        "jdbc:mysql://h/db", "t1", "id", 0, 10_000_000, fetchsize=1000
    )
    # Partition count capped — a huge key range must not become millions of
    # queries (reference's 1000-row chunks don't transfer to JDBC partitioning).
    assert int(opts["numPartitions"]) <= 256
    assert opts["lowerBound"] == "0" and opts["upperBound"] == "10000001"
    assert opts["fetchsize"] == "1000"


def test_jdbc_tiny_table_single_partition():
    opts = jdbc_read_options("jdbc:mysql://h/db", "t", "id", 5, 5)
    assert opts["numPartitions"] == "1"


def test_lake_mode_sync_is_versioned_and_time_travels(spark, tmp_path):
    """--lake landing: the snapshot is commit 0 of a LakeTable, an
    incremental delta is commit 1, time travel shows the pre-delta
    state, and the manifest tracks the lake version."""
    import os
    import shutil

    from mysql_to_clickhouse_sync_spark.sinks.merge import LakeTable
    from mysql_to_clickhouse_sync_spark.sync import (
        incremental_sync,
        snapshot_sync,
    )

    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    os.makedirs(src)
    # seed source: the region fixture (tiny, keyset via r_regionkey)
    shutil.copy(
        "/root/testdata/sf0.001/region.parquet", f"{src}/region.parquet"
    )
    m = snapshot_sync(spark, src, out, include="region", lake=True)
    entry = m["tables"][0]
    assert entry["lake_version"] == 0
    table = LakeTable(
        spark, entry["path"], keys=[entry["rowid"]],
        version_cols=[entry["rowid"]],
    )
    n0 = table.read().count()
    assert n0 == entry["rows"] > 0

    # grow the source beyond the recorded max and resume
    base = spark.read.parquet(f"{src}/region.parquet")
    rk = entry["rowid"]
    grown = base.union(
        base.selectExpr(f"{rk} + 1000 AS {rk}", *[
            c for c in base.columns if c != rk
        ]).select(*base.columns)
    )
    grown.write.mode("overwrite").parquet(f"{src}/region2.parquet")
    os.remove(f"{src}/region.parquet")
    shutil.move(f"{src}/region2.parquet", f"{src}/region.parquet")
    m2 = incremental_sync(spark, src, out)
    entry2 = [e for e in m2["tables"] if e["table"] == "region"][0]
    assert entry2["lake_version"] == 1
    assert entry2["last_delta_rows"] == n0
    # current version holds both halves; version 0 is the pure snapshot
    assert table.read().count() == 2 * n0
    assert table.read(version=0).count() == n0


# More rows than 64 batches of 1000. The 64-hex-char payload makes the
# keyset extract shuffle ~6 MB, enough for AQE to keep several range
# partitions on a multi-core session.
BIG_ROWS = 70_000


@pytest.fixture(scope="module")
def big_sync(spark, tmp_path_factory):
    """One snapshot of a >64k-row keyset table (catalog name `orders`,
    gappy shuffled keys) and a PK-less table of the same size."""
    root = tmp_path_factory.mktemp("big_sync")
    src, out = str(root / "src"), str(root / "out")
    ids = spark.range(BIG_ROWS).select(
        "id", F.sha2(F.col("id").cast("string"), 256).alias("payload")
    )
    ids.select((F.col("id") * 7 + 3).alias("o_orderkey"), "payload").orderBy(
        F.rand(1)
    ).repartition(3).write.parquet(f"{src}/orders.parquet")
    ids.withColumnRenamed("id", "seq").repartition(3).write.parquet(
        f"{src}/audit_log.parquet"
    )
    manifest = snapshot_sync(spark, src, out)
    return {t["table"]: t for t in manifest["tables"]}


def _part_files(path):
    return sorted(
        os.path.join(path, f) for f in os.listdir(path) if f.startswith("part-")
    )


def test_keyset_files_cover_disjoint_key_ranges(big_sync):
    entry = big_sync["orders"]
    spans, rows = [], 0
    for f in _part_files(entry["path"]):
        md = pq.read_metadata(f)
        col = md.schema.to_arrow_schema().get_field_index("o_orderkey")
        stats = [
            md.row_group(g).column(col).statistics
            for g in range(md.num_row_groups)
        ]
        if md.num_rows:
            spans.append((min(s.min for s in stats), max(s.max for s in stats)))
        rows += md.num_rows
    assert rows == entry["rows"] == BIG_ROWS
    assert len(spans) > 1  # one file would make disjointness vacuous
    spans.sort()
    assert all(hi < lo for (_, hi), (lo, _) in zip(spans, spans[1:]))
    assert (spans[0][0], spans[-1][1]) == (entry["min_id"], entry["max_id"])


def test_offset_extract_writes_without_exchange(spark, big_sync):
    """A PK-less table is written in its scan's partitions: the executed
    write plan carries no shuffle."""
    path = big_sync["audit_log"]["path"]
    store = spark._jsparkSession.sharedState().statusStore()
    execs = store.executionsList()
    plans = [
        execs.apply(i).physicalPlanDescription() for i in range(execs.size())
    ]
    writes = [
        p
        for p in plans
        if "InsertIntoHadoopFsRelationCommand" in p and f"file:{path}," in p
    ]
    assert writes, "the audit_log write was not recorded"
    assert "Exchange" not in writes[-1]


def test_big_table_writes_at_most_shuffle_partitions_files(spark, big_sync):
    cap = int(spark.conf.get("spark.sql.shuffle.partitions"))
    assert big_sync["orders"]["rows"] > 64_000
    assert 1 <= len(_part_files(big_sync["orders"]["path"])) <= cap


def test_manifest_chunks_are_part_files_on_disk(big_sync):
    for entry in big_sync.values():
        assert entry["chunks"] == len(_part_files(entry["path"]))
        assert entry["seconds"] > 0
