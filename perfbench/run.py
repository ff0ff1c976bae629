#!/usr/bin/env python3
"""CDC apply benchmark: envelope bytes -> committed, readable ParquetSink version.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

One run drives ``CdcPipeline.process_batch`` in a closed loop with a
single caller, as Structured Streaming's serial ``foreachBatch`` does
when it catches up on a backlog.  Each batch goes through the real
layers: the parquet batch frame -> ``normalize`` -> ``dedup`` ->
routing and per-table fan-out -> ``ParquetSink`` merge and commit ->
scheduled maintenance.  After each batch a reader query (row count
plus a checksum over ``(key, ts_ms)`` of one fixed table) runs on the
just-published snapshot, timed apart from the batch, and its row count
is checked against the oracle.

Set-up (session start, input generation, the initial target load and
the workload's warm-up batches, each read back once) is timed as
``setup_s``.  The timed window then runs batches until the batch and
reader walls add up to ``--seconds``.  At the end every sink table is
compared with the generator's LWW oracle.

``--trace 0`` prints the end-to-end metrics.  ``--trace 1`` instead runs
a fixed plan of untraced and traced batches in turn, then a single-core
baseline, and prints the per-layer metrics.  The last stdout line is
one JSON object: ``{"correct", "attempted", "failed", "metrics"}``.
Work files live under ``.perfbench_work/`` in the checkout and are
removed at exit; a traced run leaves its spans there as JSON lines.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK_ROOT = os.path.join(ROOT, ".perfbench_work")

from workloads import (  # noqa: E402
    WORKLOADS,
    Generator,
    Workload,
    table_digest,
    write_batch,
)

#: reader queries after each batch; their walls are short, so the
#: median is taken over several
READS_PER_BATCH = 3
#: trace plan: 2 * TRACE_HALF batches, untraced and traced in turn, so
#: both halves see the same drift; TRACE_HALF is odd and a multiple of
#: every workload's maintenance cycle, so each half holds the same
#: number of maintenance batches
TRACE_HALF = 5
#: single-core baseline: one warm-up batch, then this many timed ones
BASELINE_BATCHES = 2
#: heap of the Spark driver JVM, small enough to share a 16 GB host
DRIVER_MEM = "4g"
#: a run needs at least this many timed batches
MIN_TIMED = 2


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def program_here() -> bool:
    """Whether the engine imports from this checkout."""
    sys.path.insert(0, ROOT)
    try:
        import cdc_redshift_spark
    except ImportError:
        return False
    src = os.path.dirname(os.path.abspath(cdc_redshift_spark.__file__))
    return os.path.dirname(src) == ROOT


def cores() -> int:
    """Spark task slots: every core but one, which is left to the
    Python caller and the JVM's own threads (scheduler, JIT, GC); with
    a task on every core their waits for a core show up in the walls."""
    return max(1, len(os.sched_getaffinity(0)) - 1)


def start_spark(n: int, work: str):
    """``local[n]`` through the engine's session factory, with shuffles
    sized to the cores: ``get_spark`` starts every shuffle at >= 256
    partitions, which on a few cores costs hundreds of tasks per
    stage for a micro-batch.  All scratch space stays in ``work``."""
    from cdc_redshift_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    return get_spark(
        "perfbench",
        master=f"local[{n}]",
        shuffle_partitions=n,
        extra_conf={
            "spark.sql.adaptive.coalescePartitions.initialPartitionNum": str(2 * n),
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.path.join(work, "local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            # no hsperfdata files outside the work directory
            "spark.driver.extraJavaOptions": (
                f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
            ),
        },
    )


def stop_spark(spark) -> None:
    """Stop the session and the JVM behind it, and wait for it to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def jvm_peak_rss_mb(spark) -> float:
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM missing from /proc status")


def tail(values) -> tuple[float, float]:
    """(value, percentile): the batch wall at the highest percentile
    with >= 10 samples beyond it; the maximum when there are fewer
    than 11 samples."""
    n = len(values)
    if n <= 10:
        return max(values), 100.0
    return sorted(values)[n - 11], 100.0 * (n - 10) / n


class Bench:
    """One run: a workload, a sink, a pipeline and the oracle."""

    def __init__(self, wl: Workload, seed: int, work: str):
        self.wl = wl
        self.work = work
        self.gen = Generator(wl, seed)
        self.next_id = 0
        self.attempted = 0
        self.failed = 0
        self.sent_malformed = 0
        #: where a traced run writes its spans (None: not kept)
        self.spans_path: str | None = None
        self.notes: list[str] = []

    def open(self, n: int) -> None:
        """Session on ``local[n]``, sink and pipeline; a sink opened
        again on the same root carries on from its published state."""
        from cdc_redshift_spark.normalize import mongo_changeset, pg_changeset
        from cdc_redshift_spark.streaming.pipeline import CdcPipeline
        from tracing import JobCounter, TracedSink, Tracer

        self.spark = start_spark(n, self.work)
        sc = self.spark.sparkContext
        self.tracer = Tracer(sc)
        self.jobs = JobCounter(sc)
        keys = ("db", "table", "key")
        self.sink = TracedSink(
            self.spark, os.path.join(self.work, "sink"), keys=keys,
            tracer=self.tracer,
        )
        parse = pg_changeset if self.wl.envelope == "pg" else mongo_changeset
        self.changeset_fn = lambda raw: parse(raw, offset_col="offset")
        kw = dict(self.wl.pipeline_kw)
        if self.wl.dead_letter:
            kw["dead_letter_root"] = os.path.join(self.work, "dead_letter")
        self.pipe = CdcPipeline(
            self.changeset_fn, self.sink, keys=keys, max_workers=n, **kw
        )

    # -- batches --------------------------------------------------------------
    def feed(self, batch):
        """Write a generated batch; returns (id, frame)."""
        from cdc_redshift_spark.sources.streams import RAW_STREAM_SCHEMA

        bid = self.next_id
        self.next_id += 1
        path = os.path.join(self.work, "in", f"b{bid}")
        write_batch(batch, path)
        self.sent_malformed += batch.malformed
        return bid, self.spark.read.schema(RAW_STREAM_SCHEMA).parquet(path)

    def process(self, bid: int, raw) -> float:
        """process_batch wall in seconds; raises if the batch fails."""
        self.attempted += 1
        with self.tracer.span("pipeline.batch"):
            t0 = time.perf_counter()
            self.pipe.process_batch(raw, bid)
            wall = time.perf_counter() - t0
        shutil.rmtree(os.path.join(self.work, "in", f"b{bid}"))
        return wall

    def read(self) -> float:
        """One reader query on the fixed table; checks its row count."""
        from pyspark.sql import functions as F

        tbl = self.wl.read_table
        with self.tracer.span("reader.query"):
            t0 = time.perf_counter()
            row = (
                self.sink.read_table(self.spark, *tbl)
                .agg(
                    F.count(F.lit(1)).alias("n"),
                    F.sum(
                        F.xxhash64("key", "ts_ms").bitwiseAND(F.lit(0xFFFFFFFF))
                    ).alias("h"),
                )
                .collect()[0]
            )
            wall = time.perf_counter() - t0
        want = self.gen.oracle.live.get(tbl, 0)
        if row["n"] != want:
            self.failed += 1
            self.notes.append(f"reader count {row['n']} != oracle {want}")
        return wall

    def setup_batches(self) -> None:
        """The initial load, then warm-up batches, each read back as a
        timed batch is, so that the reader query warms up too."""
        load = self.gen.load_batch()
        if load is not None:
            self.process(*self.feed(load))
        walls = [self.step(reads=1)["wall"] for _ in range(self.wl.warmup_batches)]
        print("# warm-up batch walls (s): " + " ".join(f"{w:.3f}" for w in walls))

    def step(self, traced: bool = False, reads: int = READS_PER_BATCH) -> dict:
        """Generate, process and read back one batch: its events, walls
        and commit footprint, plus its layers when ``traced``."""
        from tracing import committed, version_files

        batch = self.gen.next_batch()
        bid, raw = self.feed(batch)
        rec = {"events": batch.events}
        label = f"b{bid}"
        if traced:
            rec["prefix"] = prefix_times(self, raw)
            self.jobs.new_untagged()  # the prefix jobs are not the batch's
            self.tracer.enabled = True
            self.tracer.batch = label
        before = {t: version_files(self.sink, *t) for t in self.wl.tables}
        try:
            rec["wall"] = self.process(bid, raw)
            if traced:
                rec["layers"] = batch_layers(self, label, rec["wall"])
                self.tracer.batch = label + ".read"
            rec["reads"] = [self.read() for _ in range(reads)]
        finally:
            self.tracer.enabled = False
        fresh = [
            committed(before[t], version_files(self.sink, *t))
            for t in self.wl.tables
        ]
        rec["files"] = sum(f for f, _ in fresh)
        rec["bytes"] = sum(n for _, n in fresh)
        return rec

    def steps(self, plan) -> list[dict]:
        """Run ``step(traced)`` for each flag ``plan`` yields; a batch
        that raises is counted as failed and ends the plan."""
        recs: list[dict] = []
        for traced in plan(recs):
            try:
                recs.append(self.step(traced))
            except Exception:  # noqa: BLE001 -- reported as a failed batch
                traceback.print_exc()
                self.failed += 1
                break
        return recs

    # -- end state ------------------------------------------------------------
    def check_end_state(self) -> bool:
        """Every table equals the oracle: row count plus an order-
        insensitive hash over (key, ts_ms, offset, op, payload)."""
        ok = True
        for tbl in self.wl.tables:
            df = self.sink.read_table(self.spark, *tbl)
            got = (
                []
                if df is None
                else df.select("key", "ts_ms", "offset", "op", "payload")
                .toArrow()
                .to_pylist()
            )
            have = table_digest(tuple(r.values()) for r in got)
            want = table_digest(self.gen.oracle.expected(tbl))
            if have != want:
                ok = False
                self.notes.append(
                    f"{tbl[0]}.{tbl[1]}: sink {have[0]} rows, oracle {want[0]}"
                    f" (hash match: {have[1] == want[1]})"
                )
        return ok

    def dead_letter_rows(self) -> int:
        """Rows under the dead-letter root, from parquet footers."""
        import pyarrow.parquet as pq

        root = self.pipe.dead_letter_root
        n = 0
        if root is not None and os.path.isdir(root):
            for dirpath, _dirs, files in os.walk(root):
                for f in files:
                    if f.endswith(".parquet"):
                        path = os.path.join(dirpath, f)
                        n += pq.ParquetFile(path).metadata.num_rows
        return n


# -- untraced run: end-to-end metrics ------------------------------------------
def run_untraced(b: Bench, seconds: float) -> dict:
    """Batches until their walls and the readers' add up to ``seconds``,
    ending on a whole maintenance cycle so that every run weighs
    maintenance the same."""
    cycle = b.wl.cycle

    def plan(recs):
        while (
            len(recs) < MIN_TIMED
            or len(recs) % cycle
            or sum(r["wall"] + sum(r["reads"]) for r in recs) < seconds
        ):
            yield False

    recs = b.steps(plan)
    if not recs:
        return {}
    walls = [r["wall"] for r in recs]
    tail_s, tail_pct = tail(walls)
    med = statistics.median
    print(
        f"# {len(recs)} timed batches; batch_s_tail is p{tail_pct:g}; "
        f"committed per batch (p50): {med(r['files'] for r in recs)} files, "
        f"{med(r['bytes'] for r in recs)} bytes"
    )
    print("# batch walls (s): " + " ".join(f"{w:.3f}" for w in walls))
    return {
        "events_per_s": (sum(r["events"] for r in recs) / sum(walls), "1/s"),
        "batch_s_p50": (med(walls), "s"),
        "batch_s_tail": (tail_s, "s"),
        "read_s_p50": (med(x for r in recs for x in r["reads"]), "s"),
    }


# -- traced run: per-layer metrics ---------------------------------------------
def prefix_times(b: Bench, raw) -> tuple[float, float, float, int]:
    """Forced-prefix timings of one batch frame: scan, scan+normalize,
    scan+normalize+LWW, each forced through the noop sink; returns
    (scan_ms, normalize_ms, dedup_ms, rows out of LWW)."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    from cdc_redshift_spark.dedup import latest_per_key

    def force(df) -> float:
        t0 = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        return (time.perf_counter() - t0) * 1000.0

    obs = Observation("lww_rows")
    scan = force(raw)
    norm = force(b.changeset_fn(raw))
    lww = force(
        latest_per_key(b.changeset_fn(raw), keys=b.pipe.keys).observe(
            obs, F.count(F.lit(1)).alias("n")
        )
    )
    return scan, norm - scan, lww - norm, obs.get["n"]


def batch_layers(b: Bench, label: str, wall: float) -> dict:
    """Per-layer numbers of one traced batch from its spans.  A sink
    span is top-level unless another sink span opened it in the same
    thread (``read_table`` inside ``apply_changeset``)."""
    from tracing import covered

    spans = [s for s in b.tracer.spans if s.batch == label]
    sink_groups = {s.group for s in spans if s.name.startswith("sink.")}
    top = [
        s for s in spans
        if s.name.startswith("sink.") and s.parent not in sink_groups
    ]
    applies = [s for s in top if s.name == "sink.apply"]
    apply_groups = {s.group for s in applies}
    apply_jobs = b.jobs.jobs(
        s.group for s in spans
        if s.group in apply_groups or s.parent in apply_groups
    )
    all_jobs = b.jobs.jobs(s.group for s in spans) + b.jobs.new_untagged()
    sink_s = covered([(s.start, s.end) for s in top])
    maint = [s for s in top if s.name in ("sink.analyze", "sink.expire")]
    out = {
        "wall_ms": wall * 1000.0,
        "self_ms": (wall - sink_s) * 1000.0,
        "sink_ms": sink_s * 1000.0,
        "apply_ms": [s.ms for s in applies],
        "apply_jobs": len(apply_jobs),
        "tables": len({s.detail for s in applies}),
        "jobs": len(all_jobs),
        "tasks": b.jobs.tasks(all_jobs),
        "analyze_ms": sum(s.ms for s in maint if s.name == "sink.analyze"),
        "expire_ms": sum(s.ms for s in maint if s.name == "sink.expire"),
        "maintenance_calls": len(maint),
        "fanout_parallelism": 0.0,
    }
    if applies:
        fan = max(s.end for s in applies) - min(s.start for s in applies)
        out["fanout_parallelism"] = sum(s.ms for s in applies) / (fan * 1000.0)
    return out


def run_traced(b: Bench) -> dict:
    from tracing import state_footprint, write_spans

    recs = b.steps(lambda _: (i % 2 == 1 for i in range(2 * TRACE_HALF)))
    if b.failed:
        return {}
    if b.spans_path is not None:
        write_spans(b.tracer.spans, b.spans_path)
        print(f"# spans written to {os.path.relpath(b.spans_path, ROOT)}")
    state_bytes, versions = state_footprint(b.sink.root)
    sent = b.sent_malformed
    unroutable = b.pipe.stats.unroutable
    dl_rows = b.dead_letter_rows()

    # single-core baseline of the same stream on the same sink, in a
    # new context on the same (warm) JVM; its first batch warms it up
    b.spark.stop()
    b.open(1)
    base = b.steps(lambda _: (False for _ in range(1 + BASELINE_BATCHES)))[1:]
    if b.failed:
        return {}

    def eps(rs) -> float:
        return sum(r["events"] for r in rs) / sum(r["wall"] for r in rs)

    med = statistics.median
    plain = [r for r in recs if "layers" not in r]
    traced = [r for r in recs if "layers" in r]
    prefix = [r["prefix"] for r in traced]
    layers = [r["layers"] for r in traced]
    apply_ms = [ms for lay in layers for ms in lay["apply_ms"]]
    return {
        "sources.scan_ms": (med(p[0] for p in prefix), "ms"),
        "normalize.ms": (med(p[1] for p in prefix), "ms"),
        "dedup.ms": (med(p[2] for p in prefix), "ms"),
        "dedup.keep_ratio": (
            med(r["prefix"][3] / r["events"] for r in traced),
            "ratio",
        ),
        "pipeline.self_ms": (med(lay["self_ms"] for lay in layers), "ms"),
        "pipeline.fanout_parallelism": (
            med(lay["fanout_parallelism"] for lay in layers),
            "ratio",
        ),
        "pipeline.tables_per_batch": (med(lay["tables"] for lay in layers), "count"),
        "pipeline.spark_jobs_per_batch": (med(lay["jobs"] for lay in layers), "count"),
        "pipeline.spark_tasks_per_batch": (med(lay["tasks"] for lay in layers), "count"),
        "pipeline.unroutable_events": (unroutable, "count"),
        "pipeline.dead_letter_rows": (dl_rows, "count"),
        # 1 when nothing malformed was sent: nothing was lost
        "pipeline.dead_letter_recall": (dl_rows / sent if sent else 1.0, "ratio"),
        "pipeline.events_per_s_1core": (eps(base), "1/s"),
        "pipeline.scaleup": (eps(plain) / eps(base), "x"),
        "sink.apply_ms": (med(apply_ms), "ms"),
        "sink.apply_ms_per_batch": (med(sum(lay["apply_ms"]) for lay in layers), "ms"),
        "sink.spark_jobs_per_apply": (
            sum(lay["apply_jobs"] for lay in layers) / len(apply_ms),
            "count",
        ),
        "sink.files_committed_per_batch": (med(r["files"] for r in recs), "count"),
        "sink.bytes_committed_per_batch": (med(r["bytes"] for r in recs), "bytes"),
        "sink.bytes_per_event": (med(r["bytes"] / r["events"] for r in recs), "bytes"),
        "sink.read_ms": (
            med(x * 1000.0 for r in traced for x in r["reads"]),
            "ms",
        ),
        # maintenance runs on some batches only: report the mean per batch
        "sink.analyze_ms": (sum(lay["analyze_ms"] for lay in layers) / len(layers), "ms"),
        "sink.expire_ms": (sum(lay["expire_ms"] for lay in layers) / len(layers), "ms"),
        "sink.maintenance_calls": (
            sum(lay["maintenance_calls"] for lay in layers),
            "count",
        ),
        "sink.state_bytes": (state_bytes, "bytes"),
        "sink.versions": (versions, "count"),
        "trace.unattributed_share": (
            med(
                1.0 - (p[0] + p[1] + p[2] + lay["sink_ms"]) / lay["wall_ms"]
                for p, lay in zip(prefix, layers)
            ),
            "ratio",
        ),
        "trace.overhead_x": (eps(plain) / eps(traced), "x"),
    }


def run(b: Bench, n: int, trace: bool, seconds: float, t0: float) -> dict:
    """Set up, measure and check one run on ``local[n]``; returns the
    result object.  ``t0`` is when set-up started."""
    b.open(n)
    try:
        b.setup_batches()
        t_setup = time.perf_counter()
        if trace:
            metrics = run_traced(b)
        else:
            metrics = run_untraced(b, seconds)
            metrics["setup_s"] = (t_setup - t0, "s")
        t_measured = time.perf_counter()
        ok = b.check_end_state()
        print(
            f"# set-up {t_setup - t0:.1f} s, measuring {t_measured - t_setup:.1f} s, "
            f"end-state check {time.perf_counter() - t_measured:.1f} s"
        )
        if not ok:
            b.failed += 1
        if trace and metrics:
            metrics["failed_batch_ratio"] = (b.failed / b.attempted, "ratio")
            # G1's adaptive heap sizing spreads it too widely across
            # runs for an end-to-end bound
            metrics["peak_rss_mb"] = (jvm_peak_rss_mb(b.spark), "MB")
    finally:
        stop_spark(b.spark)
    return {
        "correct": ok and b.failed == 0,
        "attempted": b.attempted,
        "failed": b.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }


def use_work_dir(work: str) -> None:
    """Point Spark's and the JVM's scratch space at ``work``."""
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"


def main(argv=None) -> int:
    args = parse_args(argv)
    if args.seconds <= 0:
        print("--seconds must be positive", file=sys.stderr)
        return 2
    if not program_here():
        print(
            "perfbench: the cdc_redshift_spark package is not in this "
            f"checkout ({ROOT}); nothing to measure",
            file=sys.stderr,
        )
        return 2
    work = os.path.join(WORK_ROOT, f"run-{os.getpid()}")
    use_work_dir(work)
    b = Bench(WORKLOADS[args.workload], args.seed, work)
    if args.trace:
        b.spans_path = os.path.join(
            WORK_ROOT, f"spans-{args.workload}-seed{args.seed}.jsonl"
        )
    try:
        result = run(b, cores(), bool(args.trace), args.seconds, T_START)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(WORK_ROOT)
        except OSError:  # another run still uses it
            pass
    for note in b.notes:
        print(f"# check: {note}")
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
