"""The reference's end-to-end job, runnable: snapshot -> chunk-planned
extract -> normalize -> batched load + resume checkpoint.

Reference pipeline (mysql_to_clickhouse_sync.py main(), :123-222):
  1. consistent snapshot + binlog position to metadata.txt (:152-183)
  2. SHOW TABLES + regex include/exclude (:155-159)
  3. per-table IFNULL MIN/MAX bounds (:163)
  4. chunked extract, type-normalize, 1000-row batched INSERTs (:93-116)

Spark-first shape: the "snapshot" is the source catalog (parquet fixtures
locally; the chunk-partitioned JDBC source in sources/jdbc.py against a real
MySQL); the extract is a declarative per-table plan that keeps the chunk
plan's key-range clustering (each output file covers a disjoint key range)
while AQE sizes the partition count from the data; the sink is parquet
locally (ClickHouse JDBC in production — swap `write.parquet` for
`write.format('jdbc')` options, where batch_size is the rows per INSERT);
the checkpoint is a JSON manifest recording per-table bounds, row counts,
files written and seconds — the analog of metadata.txt's binlog position,
from which the streaming CDC phase (streaming/cdc.py) resumes.

Error policy deliberately diverges from the reference: it logs-and-continues,
returning [] on failed reads (S:48-50 — silent data loss). Here a failed
table fails the job; Spark's task retry handles transient faults.
"""

from __future__ import annotations

import argparse
import json
import os
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mysql_to_clickhouse_sync_spark.catalog import ROWID, TABLES, load_table
from mysql_to_clickhouse_sync_spark.sources.jdbc import filter_tables

DEFAULT_BATCH_SIZE = 1000  # reference --batch_size default (S:236)


def table_bounds(df: DataFrame, rowid: str) -> tuple[int, int, int]:
    """(min, max, count) with the reference's IFNULL-0 empty-table sentinel."""
    row = df.agg(
        F.coalesce(F.min(rowid), F.lit(0)).alias("mn"),
        F.coalesce(F.max(rowid), F.lit(0)).alias("mx"),
        F.count("*").alias("n"),
    ).collect()[0]
    return int(row.mn), int(row.mx), int(row.n)


def _load_any(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Catalog tables go through load_table (NTZ normalization etc.);
    discovered tables outside the static catalog read directly — the
    analog of a SHOW TABLES hit the metadata query knows nothing about."""
    if name in TABLES:
        return load_table(spark, sf_dir, name)
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


def discover_tables(sf_dir: str) -> list[str]:
    """SHOW TABLES analog (S:155-157): list the source's tables from the
    directory, not a hardcoded catalog — a fixture dir with extra tables
    syncs them too."""
    names = sorted(
        f[: -len(".parquet")]
        for f in os.listdir(sf_dir)
        if f.endswith(".parquet")
    )
    return names


def _write_extract(df: DataFrame, rowid: str | None, path: str, mode: str) -> int:
    """Write one table's extract to parquet; returns the part files the
    table now has on disk. The chunk plan (P:119-129) is sized by the data,
    not by batch_size: a keyset table is range-partitioned on its key with
    no count, so each file covers a disjoint key range and AQE coalesces
    spark.sql.shuffle.partitions to what the rows fill. A PK-less table
    (rowid None) is written in its scan's own partitions."""
    if rowid is not None:
        df = df.repartitionByRange(F.col(rowid))
    df.write.mode(mode).parquet(path)
    return sum(1 for f in os.listdir(path) if f.startswith("part-"))


def _merge_into_lake(
    spark: SparkSession, path: str, rowid: str, df: DataFrame
) -> tuple[int, int]:
    """MERGE an extract into the table's LakeTable; (version, data files).
    The merge shuffles by key itself, so the extract goes in unpartitioned."""
    from mysql_to_clickhouse_sync_spark.sinks.merge import LakeTable
    from mysql_to_clickhouse_sync_spark.streaming.cdc import as_state

    table = LakeTable(spark, path, keys=[rowid], version_cols=[rowid])
    table.merge(as_state(df))
    version = table.current_version()
    return version, table.manifest(version)["n_files"]


def sync_table(
    spark: SparkSession,
    sf_dir: str,
    out_dir: str,
    name: str,
    lake: bool = False,
) -> dict:
    """Extract one table chunk-parallel and load it to the sink, returning
    its manifest entry (the resume-point metadata): bounds, rows, the part
    files written (``chunks``) and the seconds taken.

    Tables with an integer rowid get the keyset path: range bounds + key-
    range partitioning (the chunk plan, P:119-129). A table with NO
    auto-increment PK — absent from the ROWID map or missing the column —
    takes the reference's fallback (P:200-211): the (0,0) bounds sentinel
    and offset paging (P:130-142). Spark-first, that is a plain parallel
    scan written as it is partitioned; the scan needs no key to
    parallelize. Such tables cannot resume by key — incremental_sync
    re-extracts them in full (mode == "offset").

    ``lake=True`` lands keyset tables through the sinks/merge.py
    LakeTable instead of a plain parquet overwrite: the snapshot is
    commit 0 of a versioned table (atomic publish, manifest stats) and
    every later incremental delta is a MERGE commit — so the synced
    target gains time travel and crash-safe resume for free, the
    production landing zone the reference's TRUNCATE-and-recopy
    recovery lacks. The key-chunk output layout is traded for the
    merge's key-hash shuffle; offset-mode (PK-less) tables keep the
    plain overwrite (no key, no merge)."""
    t0 = time.perf_counter()
    rowid = ROWID.get(name)
    df = _load_any(spark, sf_dir, name)
    out_path = os.path.join(out_dir, name)
    if rowid is not None and rowid in df.columns:
        mn, mx, n = table_bounds(df, rowid)
        mode = "keyset"
    else:
        rowid = None
        mn, mx, n = 0, 0, df.count()  # the reference's (0,0) sentinel
        mode = "offset"
    entry = {
        "table": name,
        "rowid": rowid,
        "mode": mode,
        "min_id": mn,
        "max_id": mx,
        "rows": n,
        "path": out_path,
    }
    if lake and mode == "keyset":
        entry["lake_version"], entry["chunks"] = _merge_into_lake(
            spark, out_path, rowid, df
        )
    else:
        entry["chunks"] = _write_extract(df, rowid, out_path, "overwrite")
    entry["seconds"] = round(time.perf_counter() - t0, 3)
    return entry


def snapshot_sync(
    spark: SparkSession,
    sf_dir: str,
    out_dir: str,
    include: str | None = None,
    exclude: str | None = None,
    batch_size: int = DEFAULT_BATCH_SIZE,
    binlog_dir: str | None = None,
    lake: bool = False,
) -> dict:
    """Full-database sync: discover + filter tables, extract each, write the
    resume manifest (metadata.txt analog).

    When ``binlog_dir`` is given (the changelog feed the CDC phase will
    tail), the manifest also records its end offset — the full
    (file, pos, gtid) triple the reference captures under the snapshot lock
    (S:175-181). The offset is captured BEFORE any table is extracted,
    mirroring the reference's ordering: events that land mid-extraction
    are then covered by the stream (idempotent replay into the latest-
    per-key merge), whereas a late capture would put them in neither
    snapshot nor stream — a permanent gap. Start the stream with
    ``.option("startingOffset", json.dumps(manifest["binlog_offset"]))``:
    file+pos is the fast resume, gtid survives a failover rename
    (sources/binlog_datasource._scan)."""
    binlog_offset = None
    if binlog_dir is not None:
        from mysql_to_clickhouse_sync_spark.sources.binlog_datasource import (
            current_offset,
        )

        binlog_offset = current_offset(binlog_dir)
    discovered = discover_tables(sf_dir) or list(TABLES)
    names = filter_tables(discovered, include, exclude)
    entries = [
        sync_table(spark, sf_dir, out_dir, name, lake=lake) for name in names
    ]
    manifest = {
        # The reference stores the binlog position captured under the
        # snapshot lock (S:175-181), BEFORE the copy starts.
        "source": sf_dir,
        "completed_unix": int(time.time()),
        # Rows per INSERT (S:109-112): the production ClickHouse sink's
        # JDBC batchsize (sinks/clickhouse.py); it does not size the extract.
        "batch_size": batch_size,
        "tables": entries,
    }
    if binlog_offset is not None:
        manifest["binlog_offset"] = binlog_offset
    os.makedirs(out_dir, exist_ok=True)
    with open(os.path.join(out_dir, "manifest.json"), "w") as fh:
        json.dump(manifest, fh, indent=2)
    return manifest


def incremental_sync(spark: SparkSession, sf_dir: str, out_dir: str) -> dict:
    """Resume from the manifest: extract only rows whose key is beyond each
    table's recorded max_id (the append-only half of CDC — the reference's
    binlog replay covers updates/deletes; see streaming/cdc.py for those).

    Reads out_dir/manifest.json, appends the delta per table, and rewrites
    the manifest with advanced bounds, the table's part files on disk
    (``chunks``) and this pass's seconds. Tables without new rows are skipped
    entirely (the predicate prunes at the scan, so a no-op sync reads only
    footers + the bounds aggregate).
    """
    manifest_path = os.path.join(out_dir, "manifest.json")
    with open(manifest_path) as fh:
        manifest = json.load(fh)

    new_entries = []
    for entry in manifest["tables"]:
        name, rowid, last_max = entry["table"], entry["rowid"], entry["max_id"]
        if entry.get("mode", "keyset") == "offset" or rowid is None:
            # PK-less table: no key to resume by (the reference's offset-
            # paged tables have the same property) — full re-extract.
            new_entries.append(sync_table(spark, sf_dir, out_dir, name))
            continue
        t0 = time.perf_counter()
        df = _load_any(spark, sf_dir, name)
        delta = df.filter(F.col(rowid) > last_max)
        mn, mx, n = table_bounds(delta, rowid)
        if n > 0:
            path = entry["path"]
            if "lake_version" in entry:
                entry["lake_version"], entry["chunks"] = _merge_into_lake(
                    spark, path, rowid, delta
                )
            else:
                entry["chunks"] = _write_extract(delta, rowid, path, "append")
            entry.update(max_id=mx, rows=entry["rows"] + n)
        entry["last_delta_rows"] = n
        entry["seconds"] = round(time.perf_counter() - t0, 3)
        new_entries.append(entry)

    manifest = {
        **manifest,
        "completed_unix": int(time.time()),
        "tables": new_entries,
    }
    with open(manifest_path, "w") as fh:
        json.dump(manifest, fh, indent=2)
    return manifest


def main() -> None:
    from mysql_to_clickhouse_sync_spark.session import get_spark

    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--source", default="/root/testdata/sf0.001")
    ap.add_argument("--out", required=True)
    ap.add_argument("--include", default=None, help="table-name include regex")
    ap.add_argument("--exclude", default=None, help="table-name exclude regex")
    ap.add_argument(
        "--batch-size",
        type=int,
        default=DEFAULT_BATCH_SIZE,
        help="rows per INSERT (the JDBC sink's batchsize), recorded in the"
        " manifest; output files follow the data (AQE)",
    )
    ap.add_argument(
        "--lake",
        action="store_true",
        help="land keyset tables as versioned LakeTables (time travel,"
        " MERGE-committed incremental resume)",
    )
    args = ap.parse_args()
    spark = get_spark("snapshot_sync")
    manifest = snapshot_sync(
        spark,
        args.source,
        args.out,
        args.include,
        args.exclude,
        args.batch_size,
        lake=args.lake,
    )
    print(json.dumps({t["table"]: t["rows"] for t in manifest["tables"]}))


if __name__ == "__main__":
    main()
