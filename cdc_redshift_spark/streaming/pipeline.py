"""Micro-batch CDC pipeline: foreachBatch + trigger + checkpoint (T1-T3).

The reference's per-batch procedure (glue_pg_redshift_cdc.py:117-210)
does: empty guard → normalize → LWW dedup → enumerate tables on the
driver → ThreadPoolExecutor fan-out of per-table filter+write.  Same
shape here, with the scale fixes SURVEY §4/§7.3 calls out:

- ``persist()`` the batch once — the reference recomputes the whole
  Kafka lineage for the count, the table enumeration, and every
  per-table write (N+2 passes).
- table enumeration via ``distinct()`` not window-rank-1 (W2 → A2).
- deterministic LWW tiebreak (ts_ms, offset).
- idempotent merge with a ts guard in the sink (exactly-once =
  at-least-once delivery + idempotent apply; SURVEY §2.11).
- ``isEmpty()`` guard, not ``df.rdd.count()`` (F7).

The per-table ThreadPool survives (max_workers parity, 10 for docdb/pg
and 3 for dms — glue_pg_redshift_cdc.py:207, glue_dms_redshift_cdc.py:197)
because sinks commit per table; each thread submits independent Spark
jobs, and the shared persisted batch keeps them from re-reading the
source.  At 1000-executor scale the N-filters pattern is still sound
*because* the batch is memory-resident and table count is small; for
very wide table fan-outs use ``route_by_table`` (one partitionBy write).
"""

from __future__ import annotations

import logging
from collections.abc import Callable
from concurrent.futures import ThreadPoolExecutor
from contextlib import nullcontext
from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from cdc_redshift_spark.dedup import latest_per_key
from cdc_redshift_spark.sinks.base import Sink

log = logging.getLogger(__name__)

#: ChangeSet routing/key columns (cdc_redshift_spark.normalize).
ROUTING_COLS = ("db", "table")
#: LWW partition column that keeps each unroutable row apart
_UNROUTABLE_ID = "__unroutable_id"


def _unroutable():
    """Rows the fan-out cannot route: NULL db or table."""
    return F.col("db").isNull() | F.col("table").isNull()


@dataclass
class PipelineStats:
    """Per-run counters, exposed for tests and ops visibility."""

    batches: int = 0
    empty_batches: int = 0
    events: int = 0
    tables: int = 0
    unroutable: int = 0


class CdcPipeline:
    """Envelope stream → normalized ChangeSet → per-table sink merge.

    ``changeset_fn`` is one of ``normalize.{pg,mongo,dms}_changeset``
    (raw frame → canonical ChangeSet); ``sink`` owns table state.
    """

    def __init__(
        self,
        changeset_fn: Callable[[DataFrame], DataFrame],
        sink: Sink,
        keys: tuple[str, ...] = ("db", "table", "key"),
        max_workers: int = 10,
        apply_delete: bool = True,
        on_batch: Callable[[int, DataFrame], None] | None = None,
        on_raw_batch: Callable[[int, DataFrame], None] | None = None,
        expire_after_ms: int | None = None,
        expire_every: int = 10,
        route_root: str | None = None,
        compact_every: int = 5,
        atomic_batches: bool = False,
        analyze_every: int | None = None,
        dead_letter_root: str | None = None,
    ):
        """``analyze_every=N`` re-ANALYZEs each table every N batches
        that TOUCH it (sinks without ``analyze`` ignore it; tables the
        routed fan-out has not materialized yet are skipped), keeping
        the merge planner's statistics fresh forever — without it, the
        carried stats expire after the sink's ``analyze_carry_limit``
        commits and the broadcast flip silently reverts to shuffle.

        ``expire_after_ms`` enables periodic tombstone compaction:
        every ``expire_every`` batches, tombstones older than
        (max event-time seen) - expire_after_ms are expired from every
        sink table.  The horizon is EVENT time, so a tombstone survives
        exactly as long as an event old enough to lose to it can still
        arrive — the same lateness contract as a watermark.

        Cost of both: a table whose merge commit rewrites it whole
        (ParquetSink without ``partition_cols`` or ``merge_mode='dv'``)
        gets its expiry and its refresh folded into that commit
        (``sink.maintenance()``): no extra Spark job, no extra
        version.  The rest pay the standalone passes after the
        fan-out — an expiry probe (plus a rewrite when something
        expires) and one aggregation job per refresh: tables the batch
        did not touch, the pruned and DV layouts, sinks without
        ``maintenance()``, ``route_root`` and ``atomic_batches``.

        ``route_root`` switches the fan-out strategy: instead of N
        per-table filter jobs, each batch lands in ONE
        ``partitionBy(db, table)`` write under ``route_root``
        (:func:`route_by_table`), and every ``compact_every`` batches
        the landed slices are merged into the sink
        (:func:`compact_routed`) — the right shape when the stream
        carries hundreds of tables (SURVEY §7.3).  Both paths produce
        identical sink state (LWW merge is associative and idempotent);
        the routed path just batches the merge work.  Call
        :meth:`compact_now` after the stream stops to flush the tail.

        ``atomic_batches=True`` wraps each batch's per-table applies in
        the sink's multi-table transaction (``sink.transaction()``):
        all of a micro-batch's tables publish together or not at all —
        a crash mid-batch can no longer expose half the fan-out to
        readers.  Requires a transaction-capable sink (ParquetSink);
        incompatible with ``route_root`` (that path defers merges by
        design)."""
        self.changeset_fn = changeset_fn
        self.sink = sink
        self.keys = keys
        self.max_workers = max_workers
        self.apply_delete = apply_delete
        self.on_batch = on_batch
        self.on_raw_batch = on_raw_batch
        self.expire_after_ms = expire_after_ms
        self.expire_every = expire_every
        self.route_root = route_root
        self.compact_every = compact_every
        self.atomic_batches = atomic_batches
        self.analyze_every = analyze_every
        self.dead_letter_root = dead_letter_root
        # every periodic schedule divides a counter — a zero would
        # ZeroDivisionError on the first batch, deep inside foreachBatch
        for knob in ("compact_every", "expire_every", "analyze_every"):
            v = getattr(self, knob)
            if v is not None and v < 1:
                raise ValueError(
                    f"{knob} must be >= 1 (or None to disable), got {v}"
                )
        #: per-table touch counts driving the analyze_every schedule
        self._analyze_touches: dict[tuple[str, str], int] = {}
        if atomic_batches and route_root is not None:
            raise ValueError(
                "atomic_batches is incompatible with route_root (routed "
                "fan-out defers merges past the batch boundary)"
            )
        if atomic_batches and not hasattr(sink, "transaction"):
            raise ValueError(
                f"atomic_batches needs a transaction-capable sink, "
                f"got {type(sink).__name__}"
            )
        if getattr(sink, "occ", False):
            # the two commit regimes are mutually exclusive BY DESIGN
            # (parquet_sink.py OCC contract): exactly-once streaming
            # recovery replays a crashed foreachBatch and must be free
            # to overwrite the same version directory, which OCC's
            # exclusive version claims reject (CommitConflictError) --
            # a pipeline that "worked" until its first crash-recovery
            # is a silent-corruption trap, so refuse at construction.
            raise ValueError(
                "CdcPipeline requires a single-writer sink (occ=False): "
                "streaming replay re-commits the same version after a "
                "foreachBatch retry, which OCC's exclusive claims would "
                "reject mid-recovery. Reserve occ=True for independent "
                "batch writers."
            )
        self.stats = PipelineStats()
        self._max_ts_ms: int | None = None
        self._spark = None  # captured per-batch for compact_now()

    # -- per-batch body (the foreachBatch target) ---------------------------
    def process_batch(self, raw: DataFrame, batch_id: int) -> None:
        self.stats.batches += 1
        if raw.isEmpty():  # F7, without the rdd.count() job
            self.stats.empty_batches += 1
            return

        if self.on_raw_batch is not None:
            # pre-normalization hook: consumers that need the FULL
            # envelope (e.g. RollupMaintainer's retraction expand needs
            # before-images that the LWW'd ChangeSet discards).  Runs
            # first so its replay-idempotence marker covers the batch.
            self.on_raw_batch(batch_id, raw)

        # Each unroutable row (NULL db/table: a malformed envelope whose
        # source/ns/metadata struct failed to parse) gets its own LWW
        # window partition, by offset: on the routing keys alone all
        # such rows share one partition, and all but one malformed
        # event would vanish before the dead-letter write.  An extra
        # partition column, not a `rn = 1 OR unroutable` filter, which
        # would cost the window its WindowGroupLimit.
        changes = (
            latest_per_key(
                self.changeset_fn(raw).withColumn(
                    _UNROUTABLE_ID, F.when(_unroutable(), F.col("offset"))
                ),
                keys=(*self.keys, _UNROUTABLE_ID),
            )
            .drop(_UNROUTABLE_ID)
            .persist()
        )
        try:
            if not self.apply_delete:
                changes_f = changes.where(~F.col("op").eqNullSafe(F.lit("delete")))
            else:
                changes_f = changes
            # A2: plain distinct beats the reference's window-rank-1
            # trick — and aggregating per-table event counts in the
            # same job folds the old separate count() job away (one
            # Spark job per micro-batch instead of two).
            routing = (
                changes_f.groupBy(*ROUTING_COLS)
                .agg(F.count(F.lit(1)).alias("n"), F.max("ts_ms").alias("mx"))
                .collect()
            )
            # UNROUTABLE rows must not reach the fan-out:
            # apply_one(None, ...) would die inside the sink's path
            # join and ONE bad event would kill the whole stream.  They
            # are dead-lettered (kept, observable) instead of crashing
            # or silently vanishing.
            bad = [
                r
                for r in routing
                if r["db"] is None or r["table"] is None
            ]
            if bad:
                n_bad = sum(r["n"] for r in bad)
                self.stats.unroutable += n_bad
                if self.dead_letter_root is not None:
                    changes_f.where(_unroutable()).write.mode("append").parquet(
                        self.dead_letter_root
                    )
                log.warning(
                    "batch %d: %d unroutable event(s) with NULL "
                    "db/table %s",
                    batch_id,
                    n_bad,
                    (
                        f"dead-lettered to {self.dead_letter_root}"
                        if self.dead_letter_root is not None
                        else "DROPPED (set dead_letter_root to keep them)"
                    ),
                )
                changes_f = changes_f.where(~_unroutable())
            tables = [
                (r["db"], r["table"])
                for r in routing
                if r["db"] is not None and r["table"] is not None
            ]
            self.stats.tables += len(tables)
            self.stats.events += sum(r["n"] for r in routing)
            batch_max = max((r["mx"] for r in routing if r["mx"] is not None), default=None)
            if batch_max is not None:
                self._max_ts_ms = max(self._max_ts_ms or batch_max, batch_max)

            # this batch's maintenance plan, known before the fan-out
            # so the merge commits can fold it
            horizon = self._expire_horizon()
            due = self._analyze_due(tables)
            scope = nullcontext()
            if self.route_root is not None:
                # wide-fan-out path: ONE partitioned write per batch,
                # merge every compact_every batches
                self._spark = changes_f.sparkSession
                route_by_table(changes_f, self.route_root)
                if self.stats.batches % self.compact_every == 0:
                    self.compact_now()
            else:

                def apply_one(db: str, table: str) -> None:
                    slice_df = changes_f.where(
                        (F.col("db") == db) & (F.col("table") == table)
                    )
                    self.sink.apply_changeset(db, table, slice_df)

                if self.atomic_batches:
                    # the transaction's all-or-nothing unit stays exactly
                    # the batch's changesets; upkeep runs after it
                    scope = self.sink.transaction()
                elif (horizon is not None or due) and hasattr(
                    self.sink, "maintenance"
                ):
                    scope = self.sink.maintenance(
                        expire_before_ms=horizon, analyze=due
                    )
                with scope:
                    if len(tables) <= 1 or self.max_workers <= 1:
                        for db, table in tables:
                            apply_one(db, table)
                    else:
                        with ThreadPoolExecutor(max_workers=self.max_workers) as ex:
                            # surface worker exceptions in the driver (the
                            # reference's executor.submit without .result()
                            # would swallow them)
                            list(ex.map(lambda t: apply_one(*t), tables))
            if self.on_batch is not None:
                self.on_batch(batch_id, changes_f)
            # standalone upkeep for whatever the commits did not fold
            if horizon is not None:
                self._expire(horizon, skip=getattr(scope, "expired", ()))
            folded = getattr(scope, "analyzed", ())
            self._run_analyze([t for t in due if t not in folded])
            log.info("batch %d: %d tables applied", batch_id, len(tables))
        finally:
            changes.unpersist()

    def compact_now(self) -> list[tuple[str, str]]:
        """Merge everything landed under ``route_root`` into the sink.
        Safe to call any time (idempotent; crash-tolerant — see
        :func:`compact_routed`).  Call after the stream stops to flush
        slices landed since the last periodic compaction."""
        if self.route_root is None or self._spark is None:
            return []
        return compact_routed(
            self._spark,
            self.route_root,
            self.sink,
            keys=self.keys,
            max_workers=self.max_workers,
        )

    def _maybe_analyze(self, tables: list[tuple[str, str]]) -> None:
        """Periodic stats refresh (see __init__ ``analyze_every``) as a
        standalone pass: count one touch of each table and re-ANALYZE
        the ones due.  :meth:`process_batch` splits the two halves, so
        that merge commits can fold the refresh first."""
        self._run_analyze(self._analyze_due(tables))

    def _analyze_due(self, tables: list[tuple[str, str]]) -> list[tuple[str, str]]:
        """Count one touch of each table; return the ones whose stats
        are due.  Every N batches that TOUCH a table, it is
        re-ANALYZEd, so the stats that drive the merge planner's
        broadcast flip never expire out from under a long-running
        pipeline (carried sidecars age out after the sink's
        ``analyze_carry_limit`` commits — a stream that merges forever
        on one manual ANALYZE would silently lose its CBO at that
        horizon).

        The schedule is PER TABLE (touch count), not the global batch
        counter: a table whose batches never aligned with a global
        ``batches % N`` phase would otherwise never refresh and expire
        anyway."""
        if self.analyze_every is None or not hasattr(self.sink, "analyze"):
            return []
        due = []
        for db, table in tables:
            n = self._analyze_touches.get((db, table), 0) + 1
            self._analyze_touches[(db, table)] = n
            if n % self.analyze_every == 0:
                due.append((db, table))
        return due

    def _run_analyze(self, tables: list[tuple[str, str]]) -> None:
        """Standalone ANALYZE of ``tables``: one aggregation job per
        table.  Tables the sink has not materialized yet (the routed
        fan-out defers commits to compaction) are skipped until they
        exist; a failure is logged, never raised."""
        if not tables:
            return
        # probe the knob ONCE from the signature — catching TypeError
        # around the call would misread a TypeError raised *inside* a
        # knob-capable analyze() as "sink lacks approx" and re-run the
        # expensive exact-NDV pass the approx mode exists to avoid
        import inspect

        try:
            params = inspect.signature(self.sink.analyze).parameters
            # a **kwargs-accepting adapter (duck-typed wrapper around a
            # knob-capable sink) must keep receiving approx=True — only
            # an explicit positional-only signature lacks the knob
            has_approx = "approx" in params or any(
                p.kind is inspect.Parameter.VAR_KEYWORD
                for p in params.values()
            )
        except (TypeError, ValueError):  # builtins/C callables
            has_approx = False
        exists = getattr(self.sink, "table_exists", None)
        for db, table in tables:
            if exists is not None and not exists(db, table):
                continue
            try:
                # approximate NDV (HLL++, no expand): maintenance-path
                # stats feed planning only, never correctness
                if has_approx:
                    self.sink.analyze(db, table, approx=True)
                else:
                    self.sink.analyze(db, table)
            except Exception:  # noqa: BLE001 — stats are planning-only
                # input: a transient refresh failure (IO, ENOSPC, Spark
                # error) must never fail the micro-batch — the same
                # never-fail discipline as the sink's _carry_analyze
                log.warning(
                    "stats refresh failed for %s.%s; skipping "
                    "(planner falls back to carried/default stats)",
                    db,
                    table,
                    exc_info=True,
                )

    def _expire_horizon(self) -> int | None:
        """This batch's tombstone-expiry horizon, or None when no
        expiry is due (see __init__).  Expiring BEFORE the horizon
        would let a late stale event resurrect its deleted key;
        expiring after it is pure state reclaim."""
        if (
            self.expire_after_ms is None
            or self._max_ts_ms is None
            or self.stats.batches % self.expire_every != 0
            or not hasattr(self.sink, "expire_tombstones")
        ):
            return None
        return self._max_ts_ms - self.expire_after_ms

    def _expire(self, horizon: int, skip=()) -> None:
        """Standalone tombstone expiry of every sink table not in
        ``skip`` (the ones whose merge commit already folded it); the
        sink's no-op fast path makes idle tables cost one probe."""
        for db, table in self.sink.list_tables():
            if (db, table) not in skip:
                self.sink.expire_tombstones(db, table, horizon)

    # -- stream driver (T1-T3) ----------------------------------------------
    def start(
        self,
        raw_stream: DataFrame,
        checkpoint: str,
        trigger: str | None = "30 seconds",
        available_now: bool = False,
        query_name: str = "cdc-pipeline",
    ) -> StreamingQuery:
        """writeStream.foreachBatch with trigger + checkpoint.

        Defaults mirror the reference (windowSize='30 seconds',
        checkpointLocation — readme.md:32-35).  ``available_now=True``
        drains all pending input then stops (test/backfill mode).
        """
        writer = (
            raw_stream.writeStream.foreachBatch(self.process_batch)
            .queryName(query_name)
            .option("checkpointLocation", checkpoint)
        )
        if available_now:
            writer = writer.trigger(availableNow=True)
        elif trigger is not None:
            writer = writer.trigger(processingTime=trigger)
        return writer.start()


def route_by_table(changes: DataFrame, root: str) -> None:
    """Alternative fan-out: ONE partitioned write instead of N filters.

    ``partitionBy(db, table)`` lands every table's slice in one pass —
    the right shape when the stream carries hundreds of tables and
    per-table filter jobs would swamp the driver (SURVEY §7.3).
    :func:`compact_routed` merges each landed partition into its
    target.
    """
    (
        changes.write.mode("append")
        .partitionBy(*ROUTING_COLS)
        .parquet(root)
    )


def compact_routed(
    spark,
    root: str,
    sink: Sink,
    keys: tuple[str, ...] = ("db", "table", "key"),
    max_workers: int = 10,
    clean: bool = True,
) -> list[tuple[str, str]]:
    """Merge every (db, table) slice landed by :func:`route_by_table`
    into its sink target — the downstream half of the wide-fan-out
    path, producing the SAME per-table state the N-filters path does.

    Each landed partition's files are snapshotted first (so a stream
    appending concurrently is untouched), read with ``basePath`` to
    recover the routing columns, LWW-deduped, and applied through the
    sink's idempotent merge.  ``clean=True`` removes exactly the files
    processed; a crash between apply and clean just re-applies them —
    idempotent, because the merge is LWW.  Listing is a directory walk
    of db=/table= names, O(tables), no Spark job.
    """
    if getattr(sink, "occ", False):
        # same contract as CdcPipeline.__init__: the crash-then-
        # re-apply idempotence this function's clean-up relies on IS a
        # same-version replay, which OCC claims reject
        raise ValueError(
            "compact_routed requires a single-writer sink (occ=False): "
            "its crash recovery re-applies landed slices, which OCC's "
            "exclusive claims would reject mid-recovery."
        )
    import glob
    import os
    import urllib.parse

    from cdc_redshift_spark.dedup import latest_per_key as _lww

    work: list[tuple[str, str, list[str]]] = []
    for dbdir in sorted(glob.glob(os.path.join(root, "db=*"))):
        db = urllib.parse.unquote(os.path.basename(dbdir).split("=", 1)[1])
        for tdir in sorted(glob.glob(os.path.join(dbdir, "table=*"))):
            table = urllib.parse.unquote(os.path.basename(tdir).split("=", 1)[1])
            files = sorted(glob.glob(os.path.join(tdir, "*.parquet")))
            if files:
                work.append((db, table, files))

    def one(db: str, table: str, files: list[str]) -> None:
        slice_df = _lww(
            spark.read.option("basePath", root).parquet(*files), keys=keys
        )
        sink.apply_changeset(db, table, slice_df)
        if clean:
            for f in files:
                os.remove(f)

    if len(work) <= 1 or max_workers <= 1:
        for db, table, files in work:
            one(db, table, files)
    else:
        with ThreadPoolExecutor(max_workers=max_workers) as ex:
            list(ex.map(lambda w: one(*w), work))
    return [(db, table) for db, table, _ in work]
