"""Self-tests for the benchmark's generator, checkers and span arithmetic.

    python3 -m pytest perfbench -q

No Spark session: the checkers are exercised on outputs built here, once
correct and once corrupted the way a broken sync or merge would corrupt them.
"""

from __future__ import annotations

import filecmp
import json
import os
import shutil

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

import checks
import gen
from spans import Span, nest, self_times

SMALL = {"orders_base": 300, "copies": 2, "customers": 200, "audit": 150}
TABLES = {"orders": "o_orderkey", "audit_log": None}


def _same_tree(a: str, b: str) -> bool:
    cmp = filecmp.dircmp(a, b)
    if cmp.left_only or cmp.right_only:
        return False
    _match, mismatch, errors = filecmp.cmpfiles(a, b, cmp.common_files, shallow=False)
    return not mismatch and not errors and all(
        _same_tree(os.path.join(a, d), os.path.join(b, d)) for d in cmp.common_dirs)


def test_generators_are_deterministic_and_seed_sensitive(tmp_path):
    for seed, tag in ((7, "a"), (7, "b"), (8, "c")):
        gen.snapshot_source(seed, str(tmp_path / f"snap-{tag}"), SMALL)
        gen.curate_source(seed, str(tmp_path / f"snap-{tag}"), 300)
    assert _same_tree(str(tmp_path / "snap-a"), str(tmp_path / "snap-b"))
    for t in (*TABLES, "documents"):  # every table moves with the seed
        assert not _same_tree(str(tmp_path / "snap-a" / f"{t}.parquet"),
                              str(tmp_path / "snap-c" / f"{t}.parquet")), t

    def feed(seed):
        snap = gen.cdc_snapshot(seed, str(tmp_path / f"cdc-{seed}-{len(os.listdir(tmp_path))}"), 500)
        f = gen.CdcFeed(seed, snap["id"].to_numpy(), events=200)
        return [f.batch(b, f"binlog.{b:06d}.jsonl") for b in range(3)]

    assert feed(7) == feed(7)
    assert feed(7) != feed(8)


def test_cdc_feed_follows_the_live_key_set(tmp_path):
    snap = gen.cdc_snapshot(9, str(tmp_path / "snap"), 2_000)
    feed = gen.CdcFeed(9, snap["id"].to_numpy(), events=500)
    live = set(snap["id"].to_pylist())
    seen = {k: {0} for k in live}
    hits = {}
    for b in range(6):
        for line in feed.batch(b, f"binlog.{b:06d}.jsonl"):
            e = json.loads(line)
            r = e["before"] if e["op"] == "d" else e["after"]
            k = r["id"]
            if e["op"] == "c":
                assert k not in live, "insert of a live key"
                live.add(k)
            else:
                assert k in live, f"{e['op']} of a key that is not live"
                if e["op"] == "d":
                    live.remove(k)
            assert r["ver"] not in seen.setdefault(k, set()), "version tie on a key"
            seen[k].add(r["ver"])
            hits[k] = hits.get(k, 0) + 1
    counts = sorted(hits.values(), reverse=True)
    assert counts[0] < 0.3 * sum(counts)  # skewed, but no key takes a third
    assert counts[0] > 10 * counts[len(counts) // 2]  # ... and a long tail


def _copy_as_output(src: str, out: str) -> dict:
    """A perfect 'sync': every source table copied, plus its manifest."""
    entries = []
    for t in TABLES:
        shutil.copytree(os.path.join(src, f"{t}.parquet"), os.path.join(out, t))
        rows = pq.ParquetDataset(os.path.join(out, t)).read().num_rows
        entries.append({"table": t, "rows": rows})
    return {"tables": entries}


def _drop_first_row(table_dir: str) -> None:
    f = sorted(os.listdir(table_dir))[0]
    path = os.path.join(table_dir, f)
    t = pq.read_table(path)
    pq.write_table(t.slice(1), path)


def test_snapshot_check_flags_dropped_row_including_pkless_table(tmp_path):
    src, out = str(tmp_path / "src"), str(tmp_path / "out")
    gen.snapshot_source(3, src, SMALL)
    manifest = _copy_as_output(src, out)
    con = duckdb.connect()
    assert not any(checks.check_snapshot(con, src, out, TABLES, manifest).values())
    for t in ("orders", "audit_log"):
        _drop_first_row(os.path.join(out, t))
        got = checks.check_snapshot(con, src, out, TABLES, manifest)
        assert got[t], t


def _lake_file(table: pa.Table, path: str, ops=None) -> list[str]:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    ops = ops or ["upsert"] * table.num_rows
    pq.write_table(table.append_column("op", pa.array(ops)), path)
    return [path]


def _latest_live(snapshot: pa.Table, lines: list[str]) -> tuple[pa.Table, list[str]]:
    """Reference latest-per-key in plain Python: (live state, tombstone ops)."""
    rows = {r["id"]: (r, "upsert") for r in snapshot.to_pylist()}
    for line in lines:
        e = json.loads(line)
        r = e["before"] if e["op"] == "d" else e["after"]
        if r["id"] not in rows or rows[r["id"]][0]["ver"] < r["ver"]:
            rows[r["id"]] = (r, "delete" if e["op"] == "d" else "upsert")
    recs = sorted(rows.values(), key=lambda x: x[0]["id"])
    table = pa.Table.from_pylist([r for r, _ in recs], schema=gen.CDC_SCHEMA)
    return table, [op for _, op in recs]


def test_cdc_check_flags_resurrected_key_and_double_apply(tmp_path):
    snap_dir = str(tmp_path / "snap")
    snap = gen.cdc_snapshot(4, snap_dir, 400)
    feed = gen.CdcFeed(4, snap["id"].to_numpy(), events=300)
    files, lines = [], []
    for b in range(3):
        path = str(tmp_path / "binlog" / f"binlog.{b:06d}.jsonl")
        os.makedirs(os.path.dirname(path), exist_ok=True)
        batch = feed.batch(b, os.path.basename(path))
        with open(path, "w") as fh:
            fh.write("\n".join(batch) + "\n")
        files.append(path)
        lines += batch
    state, ops = _latest_live(snap, lines)
    assert "delete" in ops
    good = _lake_file(state, str(tmp_path / "lake" / "good.parquet"), ops)
    con = duckdb.connect()
    assert checks.check_cdc(con, snap_dir, files, good, 3, 2) == []
    resurrected = ["upsert" if op == "delete" else op for op in ops]
    bad = _lake_file(state, str(tmp_path / "lake" / "bad.parquet"), resurrected)
    assert checks.check_cdc(con, snap_dir, files, bad, 3, 2)
    assert checks.check_cdc(con, snap_dir, files, good, 4, 3)  # a batch committed twice


def test_curate_check_flags_duplicates_and_count_drift(tmp_path):
    out = str(tmp_path / "out")
    docs = pa.table({
        "doc_id": pa.array([1, 2, 3], pa.int64()),
        "text": ["alpha beta gamma delta " * 4, "one two three four " * 4, "x y z w " * 8],
        "n_chars": pa.array([88, 76, 64], pa.int64()),
    })
    part = os.path.join(out, "corpus", "split=train")
    os.makedirs(part)
    pq.write_table(docs, os.path.join(part, "part-0.parquet"))
    manifest = {"n_raw": 5, "n_kept": 3, "pack_plan": [{"n_docs": 3}]}
    con = duckdb.connect()
    problems, h = checks.check_curate(con, out, 5, manifest)
    assert problems == [] and h
    pq.write_table(docs.slice(0, 1), os.path.join(part, "part-1.parquet"))  # duplicate survives
    problems, h2 = checks.check_curate(con, out, 5, manifest)
    assert any("duplicate" in p for p in problems)
    assert any("n_kept" in p for p in problems)
    assert h2 != h


def _span(sid, start, end, name="x"):
    return Span(sid, name, float(start), float(end))


def test_self_time_on_nested_spans():
    spans = [
        _span(1, 0, 10, "root"),
        _span(2, 1, 4, "a"),       # child of root
        _span(3, 2, 3, "a.inner"),  # child of a
        _span(4, 3.5, 6, "b"),     # child of a? no: starts inside a, so nested under a
        _span(5, 7, 9, "c"),       # child of root
        _span(6, 8, 12, "d"),      # starts inside c, runs past root: clipped
    ]
    parent = nest(spans)
    assert parent == {1: None, 2: 1, 3: 2, 4: 2, 5: 1, 6: 5}
    st = self_times(spans)
    assert st[3] == pytest.approx(1.0)
    assert st[2] == pytest.approx(3 - 1 - 0.5)  # a minus inner and b clipped to [3.5, 4]
    assert st[4] == pytest.approx(2.5)
    assert st[6] == pytest.approx(4.0)
    assert st[5] == pytest.approx(2 - 1)  # c minus d clipped to [8, 9]
    assert st[1] == pytest.approx(10 - 3 - 2)  # root minus a and c


def test_self_time_with_overlapping_children_counts_union_once():
    spans = [_span(1, 0, 10), _span(2, 1, 5), _span(3, 5, 8), _span(4, 5, 6)]
    st = self_times(spans)
    # 4 starts where 3 starts but is shorter: it nests under 3
    assert nest(spans)[4] == 3
    assert st[1] == pytest.approx(10 - 7)
    assert st[3] == pytest.approx(3 - 1)
