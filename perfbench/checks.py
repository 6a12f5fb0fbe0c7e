"""Output checks, computed in DuckDB independently of the program.

Each check returns a list of problem strings (empty = correct). The harness
runs them outside the timed region and counts an operation as failed when
its check reports anything, which is what feeds ``failed``/``success_rate``.
"""

from __future__ import annotations

import glob
import os

import duckdb


def _files(path: str) -> list[str]:
    return sorted(glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True))


def _relation(files: list[str], hive: bool = False) -> str:
    quoted = ", ".join("'" + f.replace("'", "''") + "'" for f in files)
    return f"read_parquet([{quoted}], union_by_name = true, hive_partitioning = {str(hive).lower()})"


def fingerprint(con: duckdb.DuckDBPyConnection, rel: str, key: str | None,
                exclude: tuple = ("op",), where: str = "TRUE") -> dict:
    """Row count, key min/max and an order-independent sum of full-row
    hashes (timestamps hashed as epoch microseconds, everything else as
    text, so storage type and timezone tagging do not matter)."""
    cols = con.execute(f"DESCRIBE SELECT * FROM {rel}").fetchall()
    parts = []
    for name, typ, *_ in sorted(cols):
        if name in exclude:
            continue
        q = '"' + name + '"'
        parts.append(f"epoch_us({q})" if typ.startswith("TIMESTAMP") else f"{q}::VARCHAR")
    key_sql = f'min("{key}"), max("{key}")' if key else "NULL, NULL"
    n, mn, mx, h = con.execute(
        f"SELECT count(*), {key_sql}, sum(hash({', '.join(parts)})::HUGEINT)::VARCHAR"
        f" FROM {rel} WHERE {where}"
    ).fetchone()
    return {"rows": n, "min": mn, "max": mx, "hash": h}


def _compare(label: str, want: dict, got: dict) -> list[str]:
    return [
        f"{label}: {k} expected {want[k]!r}, got {got[k]!r}"
        for k in ("rows", "min", "max", "hash")
        if want[k] != got[k]
    ]


def check_snapshot(con, src: str, out: str, tables: dict, manifest: dict) -> dict:
    """{table: problems}: per-table row count, key min/max and row-hash
    parity between source and target, plus the manifest's row counts."""
    entries = {e["table"]: e for e in manifest.get("tables", [])}
    result = {}
    for name, key in tables.items():
        problems = []
        tgt = _files(os.path.join(out, name))
        if not tgt:
            problems.append(f"{name}: no output files")
        else:
            want = fingerprint(con, _relation(_files(os.path.join(src, f"{name}.parquet"))), key)
            got = fingerprint(con, _relation(tgt), key)
            problems += _compare(name, want, got)
            if entries.get(name, {}).get("rows") != want["rows"]:
                problems.append(f"{name}: manifest rows {entries.get(name, {}).get('rows')} != {want['rows']}")
        result[name] = problems
    return result


def lake_live(files: list[str]) -> str:
    """Relation of a LakeTable version's live rows (tombstones dropped)."""
    return f"(SELECT * EXCLUDE (op) FROM {_relation(files)} WHERE op <> 'delete')"


def cdc_truth_sql(snapshot_dir: str, binlog_files: list[str]) -> str:
    """Latest version per key over the snapshot plus the changelog, minus
    keys whose latest event is a delete: the expected live state."""
    events = ", ".join("'" + f + "'" for f in binlog_files)
    changelog = (
        f"SELECT CASE WHEN op = 'd' THEN before ELSE after END AS r,"
        f" CASE WHEN op = 'd' THEN 'delete' ELSE 'upsert' END AS kind"
        f" FROM read_json([{events}], format = 'newline_delimited', columns = {{"
        f"before: 'STRUCT(id BIGINT, ver BIGINT, grp INTEGER, val DOUBLE, note VARCHAR)',"
        f" after: 'STRUCT(id BIGINT, ver BIGINT, grp INTEGER, val DOUBLE, note VARCHAR)',"
        f" op: 'VARCHAR'}})"
    ) if binlog_files else "SELECT NULL AS r, NULL AS kind WHERE FALSE"
    return f"""(
        WITH allv AS (
            SELECT id, ver, grp, val, note, 'upsert' AS kind
            FROM {_relation(_files(snapshot_dir))}
            UNION ALL
            SELECT r.id, r.ver, r.grp, r.val, r.note, kind FROM ({changelog})
        ), ranked AS (
            SELECT *, row_number() OVER (PARTITION BY id ORDER BY ver DESC) AS rn
            FROM allv
        )
        SELECT id, ver, grp, val, note FROM ranked WHERE rn = 1 AND kind = 'upsert'
    )"""


def check_cdc(con, snapshot_dir: str, binlog_files: list[str], lake_files: list[str],
              version: int | None, last_batch: int | None) -> list[str]:
    """Final live state equals the DuckDB latest-per-key truth; B released
    files gave exactly B merge commits on top of the seed (version B) and
    the committed batch watermark is B-1 (each batch applied once)."""
    b = len(binlog_files)
    problems = _compare(
        "cdc", fingerprint(con, cdc_truth_sql(snapshot_dir, binlog_files), "id"),
        fingerprint(con, lake_live(lake_files), "id"),
    )
    if version != b:
        problems.append(f"cdc: current version {version} != {b} (seed + one commit per file)")
    if last_batch != b - 1:
        problems.append(f"cdc: last_batch {last_batch} != {b - 1}")
    return problems


def check_curate(con, out: str, n_docs: int, manifest: dict) -> tuple[list[str], str]:
    """Manifest counts equal the corpus on disk; the corpus has no exact
    duplicate and no document failing the quality gate. Returns
    (problems, corpus hash) so the caller can check the hash is stable."""
    files = _files(os.path.join(out, "corpus"))
    if not files:
        return ["curate: no corpus files"], ""
    rel = _relation(files, hive=True)
    n, n_text, n_bad, h = con.execute(
        f"SELECT count(*), count(DISTINCT md5(text)),"
        f" count(*) FILTER (WHERE n_chars NOT BETWEEN 50 AND 100000),"
        f" sum(hash(doc_id, text, split))::HUGEINT::VARCHAR FROM {rel}"
    ).fetchone()
    problems = []
    if manifest.get("n_raw") != n_docs:
        problems.append(f"curate: manifest n_raw {manifest.get('n_raw')} != {n_docs}")
    if manifest.get("n_kept") != n:
        problems.append(f"curate: manifest n_kept {manifest.get('n_kept')} != corpus rows {n}")
    plan_docs = sum(r["n_docs"] for r in manifest.get("pack_plan", []))
    if plan_docs != n:
        problems.append(f"curate: pack plan covers {plan_docs} docs, corpus has {n}")
    if n_text != n:
        problems.append(f"curate: {n - n_text} exact duplicates survived")
    if n_bad:
        problems.append(f"curate: {n_bad} documents fail the length gate")
    if n == 0 or n >= n_docs:
        problems.append(f"curate: kept {n} of {n_docs}, the funnel removed nothing")
    return problems, h
