"""Seeded CDC traffic generator and pure-Python LWW oracle.

Each workload is a stream of Debezium envelopes (Postgres or Mongo
wire shape, the ``envelopes.py`` schemas) cut into micro-batches.  A
batch is written as parquet files of ``RAW_STREAM_SCHEMA`` rows
(value, offset, partition, timestamp) -- the shape the Kafka scan
hands to ``CdcPipeline.process_batch`` -- so the program under test
receives only the generated files.

The generator feeds each well-formed event to an :class:`Oracle`, which
keeps the last-writer-wins winner per key by ``(ts_ms, offset)``; a
winning delete means the key is absent.  The same seed always gives
the same events, byte for byte.
"""

from __future__ import annotations

import hashlib
import math
import os
import zlib
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

#: epoch millis of the first generated event
T0_MS = 1_700_000_000_000
#: events share a ts_ms in runs of this length, so LWW ties are broken
#: by offset, as they are for a Kafka partition within one millisecond
TS_TIE = 4
#: parquet files per batch, one per simulated Kafka partition
PARTITIONS = 8

_PG_OPS = {"c": "insert", "u": "update", "d": "delete", "r": "load"}
_MONGO_OPS = {
    "insert": "insert",
    "update": "update",
    "replace": "update",
    "delete": "delete",
}
_STATUS = ("pending", "paid", "shipped", "delivered", "returned")

RAW_ARROW_SCHEMA = pa.schema(
    [
        ("value", pa.string()),
        ("offset", pa.int64()),
        ("partition", pa.int32()),
        ("timestamp", pa.timestamp("us", tz="UTC")),
    ]
)


@dataclass(frozen=True)
class Workload:
    """One traffic shape.

    ``mix`` maps a source op code to its share of well-formed events;
    ``zipf`` (None = uniform) skews which keys the events hit;
    ``malformed_share`` of the events are truncated envelopes that
    cannot parse.  ``load_keys`` keys per table are loaded by a
    snapshot batch (op ``r`` / ``insert``) before the timed batches.
    """

    name: str
    envelope: str  # "pg" or "mongo"
    tables: tuple[tuple[str, str], ...]
    key_space: int  # keys per table that updates and deletes draw from
    load_keys: int
    batch_events: int
    mix: tuple[tuple[str, float], ...]
    #: table the per-batch reader query scans
    read_table: tuple[str, str]
    zipf: float | None = None
    #: op code whose events insert a fresh key (None = every op draws
    #: from the existing key range)
    new_key_op: str | None = None
    malformed_share: float = 0.0
    #: extra CdcPipeline keyword arguments
    pipeline_kw: dict = field(default_factory=dict)
    #: give the pipeline a dead_letter_root
    dead_letter: bool = False
    #: batches after the initial load that warm the JVM up before the
    #: timed window: walls fall for several batches while the JIT
    #: compiles, so these belong to set-up
    warmup_batches: int = 5

    @property
    def cycle(self) -> int:
        """Batches between runs of the pipeline's scheduled maintenance."""
        kw = self.pipeline_kw
        return math.lcm(kw.get("analyze_every", 1), kw.get("expire_every", 1))


# Why these shapes: the bottleneck layer differs by traffic.  On the
# backfill, LWW collapses ~10 events per key and the commit is small,
# so envelope parse and the skewed LWW shuffle dominate.  On the fan-out,
# a few hundred rows per table make the per-table fixed cost dominate:
# Spark jobs per commit, routing, thread-pool fan-out and scheduled
# maintenance; it also covers the Mongo parser and the dead-letter path.
WORKLOADS: dict[str, Workload] = {
    w.name: w
    for w in (
        Workload(
            name="pg_backfill_hot_keys",
            envelope="pg",
            tables=(("shop", "orders"),),
            key_space=20_000,
            load_keys=0,
            # the reference's maxOffsetsPerTrigger
            batch_events=200_000,
            mix=(("u", 0.90), ("c", 0.08), ("d", 0.02)),
            read_table=("shop", "orders"),
            zipf=1.1,
        ),
        Workload(
            name="mongo_fanout_8_tables",
            envelope="mongo",
            tables=tuple(("inventory", f"c{i}") for i in range(8)),
            key_space=5_000,
            load_keys=5_000,
            batch_events=10_000,
            mix=(
                ("insert", 0.20),
                ("update", 0.45),
                ("replace", 0.20),
                ("delete", 0.15),
            ),
            read_table=("inventory", "c0"),
            new_key_op="insert",
            malformed_share=0.005,
            # maintenance runs on every 5th batch; tombstones older
            # than 2.5 batches of event time expire
            pipeline_kw={
                "analyze_every": 5,
                "expire_every": 5,
                "expire_after_ms": 6_250,
            },
            dead_letter=True,
            # the snapshot load is the first, cold batch here, and the
            # last warm-up batch runs the first maintenance
            warmup_batches=3,
        ),
    )
}


class Oracle:
    """Pure-Python LWW state: the expected content of every sink table.

    A row image is a pure function of (key, version), so the oracle
    keeps the version and rebuilds the payload string on demand."""

    def __init__(self, image) -> None:
        self.image = image
        #: (db, table) -> key -> (ts_ms, offset, op, version)
        self.state: dict[tuple[str, str], dict[str, tuple]] = {}
        #: (db, table) -> number of keys whose winner is not a delete
        self.live: dict[tuple[str, str], int] = {}

    def apply(self, tbl, key, ts, off, op, version) -> None:
        rows = self.state.setdefault(tbl, {})
        cur = rows.get(key)
        if cur is not None and (cur[0], cur[1]) >= (ts, off):
            return
        was_live = cur is not None and cur[2] != "delete"
        rows[key] = (ts, off, op, version)
        self.live[tbl] = self.live.get(tbl, 0) - was_live + (op != "delete")

    def expected(self, tbl) -> list[tuple]:
        """Visible rows of one table as (key, ts_ms, offset, op, payload)."""
        return [
            (k, ts, off, op, self.image(int(k), v))
            for k, (ts, off, op, v) in self.state.get(tbl, {}).items()
            if op != "delete"
        ]


def table_digest(rows) -> tuple[int, int]:
    """Row count and an order-insensitive hash of (key, ts_ms, offset,
    op, payload) tuples: the sum of per-row 64-bit digests."""
    acc = 0
    n = 0
    for r in rows:
        h = hashlib.blake2b("\x1f".join(map(str, r)).encode(), digest_size=8)
        acc += int.from_bytes(h.digest(), "little")
        n += 1
    return n, acc % (1 << 64)


# -- envelope text -------------------------------------------------------------
# Row images are JSON strings nested inside the envelope JSON, so each
# is built unescaped (what the sink stores), then escaped into the
# envelope.  The oracle formats its copy per key with pg_image /
# mongo_doc; the self-tests check that both agree through the sink.
_PG_IMAGE = (
    '{{"id": {k}, "customer_id": {c}, "status": "{s}", '
    '"amount_cents": {a}, "note": "order {k} rev {v}", "version": {v}}}'
)
_MONGO_DOC = (
    '{{"_id": {k}, "sku": "SKU-{k}", "qty": {q}, "tags": ["t{t5}", "t{t11}"], '
    '"price_cents": {p}, "rev": {v}}}'
)


def pg_image(k: int, v: int) -> str:
    return _PG_IMAGE.format(
        k=k, c=(k * 7919) % 10007, s=_STATUS[v % 5], a=(v * 37) % 100000, v=v
    )


def mongo_doc(k: int, v: int) -> str:
    return _MONGO_DOC.format(
        k=k, q=v % 97, t5=v % 5, t11=v % 11, p=(v * 13) % 5000, v=v
    )


def _s(a) -> pa.Array:
    return pc.cast(pa.array(a), pa.string())


def _cat(*parts) -> pa.Array:
    return pc.binary_join_element_wise(
        *[pa.scalar(p) if isinstance(p, str) else p for p in parts], ""
    )


def _esc(a: pa.Array) -> pa.Array:
    return pc.replace_substring(a, '"', '\\"')


def _pg_images(k: np.ndarray, v: np.ndarray) -> pa.Array:
    status = pa.array(np.array(_STATUS)[v % 5])
    ks, vs = _s(k), _s(v)
    return _cat(
        '{"id": ', ks, ', "customer_id": ', _s((k * 7919) % 10007),
        ', "status": "', status, '", "amount_cents": ', _s((v * 37) % 100000),
        ', "note": "order ', ks, " rev ", vs, '", "version": ', vs, "}",
    )


def _mongo_docs(k: np.ndarray, v: np.ndarray) -> pa.Array:
    return _cat(
        '{"_id": ', _s(k), ', "sku": "SKU-', _s(k), '", "qty": ', _s(v % 97),
        ', "tags": ["t', _s(v % 5), '", "t', _s(v % 11), '"], "price_cents": ',
        _s((v * 13) % 5000), ', "rev": ', _s(v), "}",
    )


def _pg_values(ev: dict, tables) -> pa.Array:
    k, v, op, off, ts = ev["key"], ev["version"], ev["op"], ev["offset"], ev["ts"]
    img = _pg_images(k, v)
    key_only = _cat('{\\"id\\": ', _s(k), "}")
    quoted_img = _cat('"', _esc(img), '"')
    before = pc.if_else(
        pa.array(np.isin(op, ["u", "d"])), _cat('"', key_only, '"'), pa.scalar("null")
    )
    after = pc.if_else(pa.array(op == "d"), pa.scalar("null"), quoted_img)
    lsn = _s(off * 16)
    return _cat(
        '{"before": ', before, ', "after": ', after,
        ', "source": {"version": "2.5.4.Final", "connector": "postgresql", '
        '"name": "pgserver1", "ts_ms": ', _s(ts),
        ', "snapshot": "', pa.array(np.where(op == "r", "true", "false")),
        '", "db": "', pa.array(np.array([t[0] for t in tables])[ev["table"]]),
        '", "sequence": "[null,\\"', lsn, '\\"]", "schema": "public", "table": "',
        pa.array(np.array([t[1] for t in tables])[ev["table"]]),
        '", "txId": ', _s(700 + off // 50), ', "lsn": ', lsn,
        ', "xmin": null}, "op": "', pa.array(op), '", "ts_ms": ', _s(ts + 3),
        ', "transaction": null}',
    )


def _mongo_values(ev: dict, tables) -> pa.Array:
    k, v, op, off, ts = ev["key"], ev["version"], ev["op"], ev["offset"], ev["ts"]
    doc = _cat('"', _esc(_mongo_docs(k, v)), '"')
    full = pc.if_else(pa.array(op == "delete"), pa.scalar("null"), doc)
    upd = pc.if_else(
        pa.array(op == "update"),
        _cat('{"updatedFields": "{\\"qty\\": ', _s(v % 97),
             '}", "removedFields": []}'),
        pa.scalar("null"),
    )
    tss = _s(ts)
    return _cat(
        '{"_id": "{\\"_data\\": \\"', _s(off), '\\"}", "operationType": "',
        pa.array(op), '", "fullDocument": ', full,
        ', "source": {"ts_ms": ', tss, ', "snapshot": "false"}, "ts_ms": ', tss,
        ', "ns": {"db": "', pa.array(np.array([t[0] for t in tables])[ev["table"]]),
        '", "coll": "', pa.array(np.array([t[1] for t in tables])[ev["table"]]),
        '"}, "to": null, "documentKey": "{\\"_id\\": ', _s(k),
        '}", "updateDescription": ', upd, ', "clusterTime": "', _s(ts // 1000),
        '", "txnNumber": null, "lsid": null}',
    )


@dataclass
class Batch:
    """One generated micro-batch: its envelope rows and what was sent."""

    rows: pa.Table
    events: int
    malformed: int


class Generator:
    """Deterministic envelope stream for one workload and seed."""

    def __init__(self, wl: Workload, seed: int):
        self.wl = wl
        pg = wl.envelope == "pg"
        self.oracle = Oracle(pg_image if pg else mongo_doc)
        self._values = _pg_values if pg else _mongo_values
        self._ops = _PG_OPS if pg else _MONGO_OPS
        self.rng = np.random.default_rng([seed, zlib.crc32(wl.name.encode())])
        self.offset = 0
        self.version = 0  # bumps on every row image, so payloads differ
        #: per table, one past the highest key inserted so far
        self.next_key = [wl.key_space] * len(wl.tables)
        if wl.zipf is not None:
            w = 1.0 / np.arange(1, wl.key_space + 1) ** wl.zipf
            self._key_p = w / w.sum()
            # hot keys are scattered over the key range, not 0..k
            self._key_perm = self.rng.permutation(wl.key_space)
        else:
            self._key_p = None

    def _emit(self, tix: np.ndarray, keys: np.ndarray, op: np.ndarray,
              bad: np.ndarray) -> Batch:
        """Envelopes for events (table index, key, source op code);
        ``bad`` marks events sent as truncated, unparseable envelopes."""
        n = len(op)
        off = self.offset + np.arange(n, dtype=np.int64)
        self.offset += n
        ts = T0_MS + off // TS_TIE
        has_img = (op != "d") & (op != "delete") & ~bad
        version = self.version + np.cumsum(has_img)
        self.version += int(has_img.sum())
        ev = {"table": tix, "key": keys, "op": op, "offset": off, "ts": ts,
              "version": version}
        values = self._values(ev, self.wl.tables)
        if bad.any():
            # a truncated envelope: from_json yields all-NULL fields
            values = pc.if_else(
                pa.array(bad), pc.utf8_slice_codeunits(values, 0, 60), values
            )
        self._feed_oracle(ev, ~bad)
        rows = pa.table(
            {
                "value": values,
                "offset": pa.array(off, pa.int64()),
                "partition": pa.array(
                    (np.arange(n) * PARTITIONS // max(n, 1)).astype(np.int32)
                ),
                "timestamp": pa.array(ts * 1000, pa.timestamp("us", tz="UTC")),
            },
            schema=RAW_ARROW_SCHEMA,
        )
        return Batch(rows, n, int(bad.sum()))

    def _feed_oracle(self, ev: dict, good: np.ndarray) -> None:
        """Apply each key's last good event of the batch: offsets and
        ts_ms grow with the event index, so the last one is the batch's
        LWW winner."""
        idx = np.flatnonzero(good)[::-1]
        combo = ev["table"][idx].astype(np.int64) * (1 << 40) + ev["key"][idx]
        _, first = np.unique(combo, return_index=True)
        tables = self.wl.tables
        for i in idx[first].tolist():
            self.oracle.apply(
                tables[ev["table"][i]],
                str(int(ev["key"][i])),
                int(ev["ts"][i]),
                int(ev["offset"][i]),
                self._ops[ev["op"][i]],
                int(ev["version"][i]),
            )

    def load_batch(self) -> Batch | None:
        """Snapshot load of ``load_keys`` keys per table (None if the
        workload starts empty)."""
        wl = self.wl
        if wl.load_keys == 0:
            return None
        nt = len(wl.tables)
        tix = np.repeat(np.arange(nt), wl.load_keys)
        keys = np.tile(np.arange(wl.load_keys, dtype=np.int64), nt)
        op = np.full(len(tix), "r" if wl.envelope == "pg" else "insert")
        return self._emit(tix, keys, op, np.zeros(len(tix), dtype=bool))

    def next_batch(self) -> Batch:
        wl = self.wl
        n = wl.batch_events
        rng = self.rng
        codes = np.array([c for c, _ in wl.mix])
        p = np.array([w for _, w in wl.mix])
        op = codes[rng.choice(len(codes), size=n, p=p / p.sum())]
        tix = rng.integers(0, len(wl.tables), size=n)
        if self._key_p is not None:
            keys = self._key_perm[rng.choice(wl.key_space, size=n, p=self._key_p)]
        else:
            # uniform over every key inserted so far
            span = np.array(self.next_key)[tix]
            keys = (rng.random(n) * span).astype(np.int64)
        bad = rng.random(n) < wl.malformed_share
        if wl.new_key_op is not None:
            fresh = (op == wl.new_key_op) & ~bad
            for t in range(len(wl.tables)):
                i = np.flatnonzero(fresh & (tix == t))
                keys[i] = self.next_key[t] + np.arange(len(i))
                self.next_key[t] += len(i)
        return self._emit(tix, keys.astype(np.int64), op, bad)


def write_batch(batch: Batch, path: str) -> None:
    """Write one batch as ``PARTITIONS`` parquet files under ``path``."""
    os.makedirs(path, exist_ok=True)
    n = batch.rows.num_rows
    for p in range(PARTITIONS):
        lo, hi = -(-p * n // PARTITIONS), -(-(p + 1) * n // PARTITIONS)
        pq.write_table(
            batch.rows.slice(lo, hi - lo),
            os.path.join(path, f"part-{p:02d}.parquet"),
        )
