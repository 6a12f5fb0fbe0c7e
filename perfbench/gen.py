"""Seeded input generators for the sync-job benchmark.

Every generator takes the seed as an argument and draws from its own
``numpy.random.default_rng([seed, stream, ...])`` stream, so one seed gives
byte-identical parquet and JSON-lines files and a different seed gives
different ones. Nothing here touches Spark or the package: the program under
test receives only the files written below.

Run standalone to materialise a workload's inputs and print their sizes:

    python3 perfbench/gen.py --workload snapshot --seed 1 --out DIR
"""

from __future__ import annotations

import argparse
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EPOCH_US = 1_704_067_200_000_000  # 2024-01-01 00:00:00 UTC
DAY_US = 86_400_000_000
FILES_PER_TABLE = 4  # source parallelism: one scan task per file

WORDS = (
    "batch part spark line column order small sort fast value scan a hash"
    " slow group agg filter customer big key window row table stream merge"
    " data query join shuffle plan stage task file commit log offset binlog"
    " snapshot chunk range bound index page cache disk memory state replay"
    " version delete insert update schema type cast null string number"
).split()
LANGS = np.array(["en", "de", "fr", "es", "zh"])
LANG_P = np.array([0.4, 0.15, 0.15, 0.15, 0.15])
BOILERPLATE = (
    "all rights reserved copyright notice terms of use privacy policy"
    " cookie settings subscribe to our newsletter for updates today"
)


def _rng(seed: int, *stream: int) -> np.random.Generator:
    return np.random.default_rng([seed, *stream])


def _choice(rng: np.random.Generator, values: list[str], n: int) -> pa.Array:
    return pa.array(np.array(values)[rng.integers(0, len(values), n)])


def _ts(rng: np.random.Generator, n: int, days: int = 365) -> pa.Array:
    us = EPOCH_US + rng.integers(0, days * DAY_US, n)
    return pa.array(us, type=pa.timestamp("us"))


def write_table(table: pa.Table, path: str, n_files: int = FILES_PER_TABLE) -> None:
    """Write `table` as a directory of `n_files` parquet files (the shape a
    chunked MySQL export lands)."""
    os.makedirs(path, exist_ok=True)
    step = -(-table.num_rows // n_files) if table.num_rows else 1
    for i in range(n_files):
        pq.write_table(table.slice(i * step, step), os.path.join(path, f"part-{i:05d}.parquet"))


def _gappy_keys(rng: np.random.Generator, n_base: int, copies: int,
                delete_share: float) -> np.ndarray:
    """Fact keys replicated with key offsets, a seeded share deleted (the
    gaps a key-range row estimator cannot see), in seeded row order."""
    offset = 10 ** (len(str(n_base)) + 1)
    keys = np.concatenate(
        [np.arange(1, n_base + 1, dtype=np.int64) + c * offset for c in range(copies)]
    )
    keys = keys[rng.random(keys.size) >= delete_share]
    return rng.permutation(keys)


def orders_table(rng: np.random.Generator, keys: np.ndarray, n_cust: int) -> pa.Table:
    n = keys.size
    return pa.table({
        "o_orderkey": pa.array(keys, pa.int64()),
        "o_custkey": pa.array(rng.integers(1, n_cust + 1, n), pa.int64()),
        "o_orderstatus": _choice(rng, ["F", "O", "P"], n),
        "o_totalprice": pa.array(np.round(rng.uniform(900, 500_000, n), 2)),
        "o_orderdate": _ts(rng, n),
        "o_orderpriority": _choice(rng, ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n),
    })


def audit_log_table(rng: np.random.Generator, n: int) -> pa.Table:
    """The table without an integer row id: sync takes the offset path."""
    return pa.table({
        "actor": _choice(rng, [f"user{i}" for i in range(500)], n),
        "action": _choice(rng, ["login", "logout", "grant", "revoke", "update"], n),
        "at": _ts(rng, n),
        "detail": pa.array([f"d{v}" for v in rng.integers(0, 10**9, n)]),
    })


# -- snapshot_curate -----------------------------------------------------

# ~0.38M rows in two tables. The warm sync does not grow with rows at this
# scale: four tables at 0.2M, 0.4M and 0.8M rows all took 8-11 s warm on 4
# cores, because every table of 64k rows or more is cut into the 64-chunk cap
# (sync.MAX_OUTPUT_PARTITIONS) and each chunk is a task and an output file.
# The cost is per table and per chunk (each table adds ~2 s warm and ~4 s
# cold), so the workload is sized by its tables, and both are kept past the
# chunk cap.
SNAPSHOT_SIZES = {"orders_base": 50_000, "copies": 4, "customers": 150_000, "audit": 200_000}


def snapshot_source(seed: int, src: str, sizes: dict = SNAPSHOT_SIZES) -> dict:
    """Two tables: orders (fact, key offsets + deleted keys) and audit_log
    (no row id). Returns {table: rows}."""
    rng = _rng(seed, 1)
    okeys = _gappy_keys(rng, sizes["orders_base"], sizes["copies"], 0.1)
    tables = {
        "orders": orders_table(rng, okeys, sizes["customers"]),
        "audit_log": audit_log_table(rng, sizes["audit"]),
    }
    for name, t in tables.items():
        write_table(t, os.path.join(src, f"{name}.parquet"))
    return {name: t.num_rows for name, t in tables.items()}


# -- cdc_tail ------------------------------------------------------------

# A ~150k-key lake tailed by 2k-event files: big enough that the merge
# rewrites real state, small enough that one file commits in 1-2 s on 4
# cores. Halving the keys saved little: the batch cost is mostly fixed.
# 2% of the snapshot's keys are gaps (arbitrary).
CDC_KEYS = 150_000
CDC_EVENTS = 2_000  # events per rotated binlog file
CDC_SCHEMA = pa.schema([
    ("id", pa.int64()), ("ver", pa.int64()), ("grp", pa.int32()),
    ("val", pa.float64()), ("note", pa.string()),
])


def cdc_snapshot(seed: int, path: str, n_keys: int = CDC_KEYS) -> pa.Table:
    """The keyed snapshot (version 0 of every key) the LakeTable seeds from."""
    rng = _rng(seed, 3)
    keys = _gappy_keys(rng, n_keys, 1, 0.02)
    n = keys.size
    t = pa.table({
        "id": pa.array(keys, pa.int64()),
        "ver": pa.array(np.zeros(n, np.int64)),
        "grp": pa.array(rng.integers(0, 100, n), pa.int32()),
        "val": pa.array(np.round(rng.normal(0, 100, n), 4)),
        "note": pa.array([f"n{v}" for v in rng.integers(0, 10**6, n)]),
    }, schema=CDC_SCHEMA)
    write_table(t, path)
    return t


# Event mix of one rotated binlog file, in the order of CdcFeed.KINDS. The
# shares, the Zipf exponent and the late-event lag are arbitrary choices, not
# measured on a production binlog: mostly updates of a few hot keys over a
# long tail, with enough inserts, deletes, re-inserts and late events that
# every branch of the changelog apply runs in every batch.
CDC_MIX = (0.70, 0.10, 0.10, 0.05, 0.05)
CDC_ZIPF_A = 1.2  # rank r is picked with probability ~ r^-1.2
CDC_MAX_LAG = 5_000  # a late event carries a version up to this many events old


class CdcFeed:
    """Deterministic changelog generator over an evolving key set.

    Live keys are kept in popularity order (the snapshot's keys in a seeded
    permutation). Updates and late events pick a live key by Zipf rank; a
    rank past the end or on a deleted key is drawn again, so no key is hot by
    accident. Deletes pick a live key uniformly, so hot keys stay hot.
    Inserts take a fresh key above every key so far at a uniformly drawn
    popularity rank, and re-inserts revive a deleted key; no event updates
    or deletes a key that is not live at that point. Versions are unique
    per event: in-order events take ``seq << VER_SHIFT``, late ones
    ``(seq - lag) << VER_SHIFT | seq``, so latest-per-key is a total order
    and a late event loses to the key's newer versions."""

    KINDS = ("update", "insert", "delete", "reinsert", "late")
    VER_SHIFT = 20  # room for 2**20 events per feed

    def __init__(self, seed: int, snapshot_keys: np.ndarray, events: int = CDC_EVENTS):
        self.seed = seed
        self.events = events
        keys = np.array(sorted(snapshot_keys), dtype=np.int64)
        # popularity order: rank r -> key
        self.order = [int(k) for k in keys[_rng(seed, 3, 0).permutation(keys.size)]]
        self.dead: set[int] = set()
        self.dead_order: list[int] = []  # deleted keys, in deletion order
        self.max_key = int(keys.max())
        self.seq = 0

    def _rank(self, rng: np.random.Generator, size: int) -> int:
        while True:
            r = int(rng.zipf(CDC_ZIPF_A)) - 1
            if r < size:
                return r

    def _pick_live(self, rng: np.random.Generator, zipf: bool = True) -> int:
        while True:
            n = len(self.order)
            key = self.order[self._rank(rng, n) if zipf else int(rng.integers(0, n))]
            if key not in self.dead:
                return key

    def batch(self, b: int, fname: str) -> list[str]:
        """Debezium JSON lines for rotated file number `b`."""
        rng = _rng(self.seed, 3, b + 1)
        kinds = rng.choice(len(self.KINDS), self.events, p=CDC_MIX)
        lines = []
        for i, k in enumerate(kinds):
            kind = self.KINDS[k]
            if kind == "reinsert" and not self.dead_order:
                kind = "update"
            self.seq += 1
            assert self.seq < 1 << self.VER_SHIFT
            ver = self.seq << self.VER_SHIFT
            op = "u"
            if kind == "update":
                key = self._pick_live(rng)
            elif kind == "insert":
                self.max_key += int(rng.integers(1, 3))
                key, op = self.max_key, "c"
                self.order.insert(int(rng.integers(0, len(self.order) + 1)), key)
            elif kind == "delete":
                key, op = self._pick_live(rng, zipf=False), "d"
                self.dead.add(key)
                self.dead_order.append(key)
            elif kind == "reinsert":
                key, op = self.dead_order.pop(int(rng.integers(0, len(self.dead_order)))), "c"
                self.dead.remove(key)
            else:
                key = self._pick_live(rng)
                lag = int(rng.integers(1, CDC_MAX_LAG))
                ver = max(0, self.seq - lag) << self.VER_SHIFT | self.seq
            row = {
                "id": key, "ver": ver, "grp": int(rng.integers(0, 100)),
                "val": round(float(rng.normal(0, 100)), 4), "note": f"e{self.seq}",
            }
            env = {
                "before": row if op == "d" else None,
                "after": None if op == "d" else row,
                "op": op,
                "ts_ms": 1_704_067_200_000 + self.seq,
                "source": {"file": fname, "pos": i},
            }
            lines.append(json.dumps(env, separators=(",", ":")))
        return lines


# -- documents -----------------------------------------------------------

# The warm curate run is mostly fixed cost: 6k, 12k and 24k documents took
# 5.2, 5.7 and 7.7 s warm on 4 cores; 12k keeps the operators' share of it
# above the fixed part without much cost to the run budget.
CURATE_DOCS = 12_000

# Corpus make-up. Arbitrary choices, not measured on a crawl: most documents
# are clean, and each filter (exact dedup, near dedup, boilerplate passages,
# the alpha and length gates) has a few percent to remove.
CURATE_UNIQUE = 0.85  # the rest are copies of unique documents
CURATE_NEAR = 0.5  # share of copies that are near (case/punctuation) variants
CURATE_KINDS = (0.85, 0.06, 0.04, 0.05)  # clean, boilerplate, digit-heavy, short


def curate_source(seed: int, src: str, n_docs: int = CURATE_DOCS) -> dict:
    """documents table: word-bag texts plus seeded exact duplicates, near
    duplicates (case/punctuation variants), low-quality (digit-heavy or
    short) documents and boilerplate-sharing documents."""
    rng = _rng(seed, 4)
    words = np.array(WORDS)
    n_unique = int(n_docs * CURATE_UNIQUE)
    lens = rng.integers(10, 90, n_unique)
    texts = [" ".join(words[rng.integers(0, words.size, k)]) for k in lens]
    kinds = rng.choice(4, n_unique, p=CURATE_KINDS)
    for i in np.flatnonzero(kinds == 1):  # boilerplate passage prefix
        texts[i] = BOILERPLATE + " " + texts[i]
    for i in np.flatnonzero(kinds == 2):  # digit-heavy: fails the alpha gate
        texts[i] = " ".join(str(v) for v in rng.integers(0, 10**6, 12)) + " " + texts[i][:20]
    for i in np.flatnonzero(kinds == 3):  # too short: fails the length gate
        texts[i] = texts[i][:30]
    n_dup = n_docs - n_unique
    src_idx = rng.integers(0, n_unique, n_dup)
    near = rng.random(n_dup) < CURATE_NEAR
    dups = [
        (texts[j].upper() + " !" if nd else texts[j]) for j, nd in zip(src_idx, near)
    ]
    all_texts = texts + dups
    order = rng.permutation(n_docs)
    all_texts = [all_texts[i] for i in order]
    t = pa.table({
        "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
        "text": pa.array(all_texts),
        "lang": pa.array(LANGS[rng.choice(LANGS.size, n_docs, p=LANG_P)]),
        "source": pa.array([f"src{v}" for v in rng.integers(0, 20, n_docs)]),
        "n_chars": pa.array(np.array([len(s) for s in all_texts], np.int64)),
    })
    write_table(t, os.path.join(src, "documents.parquet"))
    return {"documents": t.num_rows}


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _s, fs in os.walk(path) for f in fs
    )


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True,
                    choices=["snapshot_curate", "cdc_tail"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--batches", type=int, default=3, help="cdc_tail binlog files")
    args = ap.parse_args()
    os.makedirs(args.out, exist_ok=True)
    if args.workload == "snapshot_curate":
        rows = snapshot_source(args.seed, os.path.join(args.out, "db"))
        rows.update(curate_source(args.seed, os.path.join(args.out, "corpus")))
    else:
        snap = cdc_snapshot(args.seed, os.path.join(args.out, "snapshot"))
        feed = CdcFeed(args.seed, snap["id"].to_numpy())
        os.makedirs(os.path.join(args.out, "binlog"), exist_ok=True)
        rows = {"snapshot": snap.num_rows}
        for b in range(args.batches):
            fname = f"binlog.{b:06d}.jsonl"
            lines = feed.batch(b, fname)
            with open(os.path.join(args.out, "binlog", fname), "w") as fh:
                fh.write("\n".join(lines) + "\n")
            rows[fname] = len(lines)
    print(json.dumps({"rows": rows, "bytes": dir_bytes(args.out)}))


if __name__ == "__main__":
    main()
