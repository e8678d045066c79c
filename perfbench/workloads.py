"""The benchmark's workloads.

Each workload generates its change log from the seed, preloads its table(s)
and warms the JVM with untimed cycles of the timed shape, then times the
engine through its public entry points only (``runner.run_sync``,
``multi.run_sync_multi`` and the ``LakeTable`` read API).

The timed phase is a closed loop of cycles. A cycle is one driver call that
applies ``CYCLE`` batches (a tail consumer polling the log and finding that
many batches of new events), followed by a reader pass over the table(s) it
committed: snapshot and point reads, and change-feed reads of what the cycle
applied. Interleaving the reads
with the batches spreads every metric's samples over the whole timed phase,
so a short disturbance of the machine moves a few samples rather than a
whole metric. The loop runs a whole number of cycles (compaction cycles on
the MoR workload): as many as take ``--seconds`` on the baseline machine
(``CYCLE_S`` each), so every run of a workload, on any machine and at any
speed of the engine, measures the same mix of table states.

After timing, the log is folded with ``generator.expected_final_state`` (the
LWW oracle) at every reader pass's applied LSN in one pass, and the run
fails if any read differs from the fold of the range applied when it ran.
"""

from __future__ import annotations

import functools
import gc
import os
import random
import statistics
import time
from contextlib import nullcontext
from dataclasses import dataclass, field

from pyspark.sql import functions as F

from estuary_spark import checkpoint, maintenance, multi, runner
from estuary_spark.config import SyncConfig
from estuary_spark.generator import LogSpec, expected_final_state, generate_log
from estuary_spark.multi import run_sync_multi
from estuary_spark.runner import run_sync
from estuary_spark.tables import LakeTable, bucket_expr

ROW_COLS = ("conv_id", "turn_idx", "_lsn", "text")


class NullTracer:
    """Stands in for ``spans.Tracer`` in the untraced run."""

    def span(self, name: str):
        return nullcontext()

    untraced = staticmethod(nullcontext)


T0 = time.time()


def log(msg: str) -> None:
    print(f"[perfbench {time.time() - T0:6.1f}s] {msg}", flush=True)


def checksums(df, by=("_t",)) -> dict[tuple, tuple[int, int]]:
    """Per group ``by``: (rows, sum of a 64-bit hash of (key, _lsn, text)),
    in one pass."""
    h = F.xxhash64(*ROW_COLS).cast("decimal(38,0)")
    rows = df.groupBy(*by).agg(F.count(F.lit(1)).alias("n"), F.sum(h).alias("h")).collect()
    return {tuple(r[c] for c in by): (int(r["n"]), int(r["h"])) for r in rows}


def p75(xs: list[float]) -> float:
    return statistics.quantiles(xs, n=4, method="inclusive")[2]


@dataclass
class Ops:
    """Operations attempted and failed: micro-batches and reads. An
    exception or an oracle mismatch is a failure."""

    attempted: int = 0
    failed: int = 0

    def check(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            log(f"FAILED: {what}")


@dataclass
class Layout:
    """Where a workload's files live under the run's work directory."""

    root: str

    def __post_init__(self) -> None:
        self.log = os.path.join(self.root, "log")
        self.tables = os.path.join(self.root, "tables")
        self.lineage = os.path.join(self.root, "lineage")
        self.checkpoint = os.path.join(self.root, "checkpoint", "sync.json")


@dataclass
class Pass:
    """What one timed reader pass returned; ``cut`` is the last LSN applied
    when it ran and ``since`` the first LSN of its change-feed reads."""

    cut: int
    since: int
    snapshot: list = field(default_factory=list)
    point: dict = field(default_factory=dict)
    changes: list = field(default_factory=list)


class Workload:
    """Common machinery: log generation, the cycle loop with its durable
    batch boundaries, the reader pass and the oracle gate."""

    name = ""
    multi_table = False
    n_tables = 1
    N_CONVS = 3000
    BATCH = 500  # events per batch
    CYCLE = 1  # batches per cycle, applied by one driver call
    CYCLE_S = 10.0  # seconds a cycle takes on the baseline machine
    WARM_CYCLES = 1
    # reads per reader pass; the point reads of a run must number 40 or
    # more, so that ten lie beyond the 75th percentile
    SNAPSHOT_READS = 1
    POINT_READS = 8
    CHANGES_READS = 1

    def __init__(self, spark, work: str, seed: int, seconds: int):
        self.spark = spark
        self.seed = seed
        self.seconds = seconds
        self.lay = Layout(work)
        self.tracer = NullTracer()  # the traced run swaps in a Tracer after set-up
        self.ops = Ops()
        self.rng = random.Random(seed)
        self.metrics: dict[str, tuple[float, str]] = {}
        self.samples: dict[str, int] = {}
        self.marks: list[float] = []  # wall time of each durable batch boundary
        self.batch_ms: list[float] = []  # timed batch intervals
        self.batch_windows: list[tuple[float, float]] = []
        self.sync_wall = 0.0
        self.reads = {"snapshot": [], "point": [], "changes": []}
        self.passes: list[Pass] = []

    # ----------------------------------------------------------- inputs

    def route(self):
        """Source table of an event: a hash of ``conv_id``, so each key
        lives in exactly one destination table. It is Murmur3, not the
        xxhash64 the engine buckets by: with the same hash, each table would
        hold keys of only ``n_buckets / n_tables`` of its buckets."""
        if not self.multi_table:
            return F.lit("")
        return F.concat(F.lit("t"), F.pmod(F.hash("conv_id"), F.lit(self.n_tables)).cast("string"))

    def spec(self) -> LogSpec:
        return LogSpec(
            n_convs=self.N_CONVS,
            max_turns=16,
            n_hot=max(2, self.N_CONVS // 1000),
            hot_versions=64,
            seed=self.seed,
        )

    def write_log(self) -> None:
        df = generate_log(self.spark, self.spec())
        if self.multi_table:
            df = df.withColumn("src_table", self.route())
        df.repartitionByRange(4, "lsn").sortWithinPartitions("lsn").write.parquet(self.lay.log)

    def cfg(self, **kw) -> SyncConfig:
        raise NotImplementedError

    # ------------------------------------------------------ batch loop

    def record_boundaries(self) -> None:
        """Stamp every checkpoint save: the durable batch boundary. The stamp
        calls ``checkpoint.save_checkpoint`` through its module, so the
        traced run's span, installed later, still wraps the real call."""

        def stamped(path, state):
            checkpoint.save_checkpoint(path, state)
            self.marks.append(time.time())

        for mod in (runner, multi):
            mod.save_checkpoint = stamped

    def sync(self, cfg: SyncConfig, events_per_batch: int, max_batches: int | None, timed: bool) -> int:
        """One driver call; returns the batches it committed. Timed, its
        batch intervals (from the call's start, then from one checkpoint to
        the next) feed the batch latency and throughput metrics."""
        fn = run_sync_multi if self.multi_table else run_sync
        first = len(self.marks)
        t0 = time.time()
        with self.tracer.span("sync"):
            fn(self.spark, cfg, events_per_batch=events_per_batch, max_batches=max_batches)
        marks = self.marks[first:]
        for a, b in zip([t0, *marks], marks):
            self.ops.check(True, "micro-batch")
            if timed:
                self.batch_ms.append((b - a) * 1000.0)
                self.batch_windows.append((a, b))
        if timed:
            self.sync_wall += time.time() - t0
        return len(marks)

    def applied_lsn(self) -> int:
        st = checkpoint.load_checkpoint(self.lay.checkpoint)
        return st["next_lsn"] - 1 if st else -1

    def cycle(self, timed: bool) -> bool:
        """Apply CYCLE batches in one driver call, then read what they
        committed. False once the log has too few events left."""
        since = self.applied_lsn() + 1
        if self.sync(self.cfg(), self.BATCH, self.CYCLE, timed) < self.CYCLE:
            log("log exhausted")
            return False
        rp = Pass(self.applied_lsn(), since)
        self.read_pass(rp, timed)
        if timed:
            self.passes.append(rp)
        return True

    def run_cycles(self) -> None:
        """The timed loop: the cycles that take --seconds on the baseline
        machine."""
        for _ in range(max(1, int(self.seconds / self.CYCLE_S + 0.5))):
            if not self.cycle(timed=True):
                return

    # ------------------------------------------------------------ reads

    def table_dirs(self) -> dict[str, str]:
        if not self.multi_table:
            return {"": self.lay.tables}
        return {
            d: os.path.join(self.lay.tables, d)
            for d in sorted(os.listdir(self.lay.tables))
            if LakeTable(os.path.join(self.lay.tables, d)).exists()
        }

    def read_pass(self, rp: Pass, timed: bool) -> None:
        """Full snapshot reads with checksum, single-key bucket-pruned point
        reads, and change-feed reads of what the cycle applied. A
        multi-table snapshot or feed is one action over all tables."""
        spark = self.spark
        tables = {name: LakeTable(d) for name, d in self.table_dirs().items()}

        def union(frames):
            return functools.reduce(lambda x, y: x.unionByName(y), frames)

        def timed_read(kind, fn):
            t0 = time.time()
            with self.tracer.span(f"read.{kind}"):
                out = fn()
            if timed:
                self.reads[kind].append(time.time() - t0)
            return out

        for _ in range(self.SNAPSHOT_READS):
            rp.snapshot.append(
                timed_read(
                    "snapshot",
                    lambda: checksums(
                        union([t.read(spark).select(*ROW_COLS, F.lit(n).alias("_t")) for n, t in tables.items()])
                    ),
                )
            )

        # table and bucket of each probed key, from the engine's own bucket
        # function; resolved outside the timed reads
        [n_buckets] = {t.manifest()["n_buckets"] for t in tables.values()}
        conv_ids = [f"conv-{i}" for i in self.rng.sample(range(self.N_CONVS), self.POINT_READS)]
        with self.tracer.untraced():
            placed = {
                r["conv_id"]: (r["dst"], r["b"])
                for r in spark.createDataFrame([(c,) for c in conv_ids], "conv_id string")
                .select("conv_id", self.route().alias("dst"), bucket_expr("conv_id", n_buckets).alias("b"))
                .collect()
            }
        for c in conv_ids:
            dst, b = placed[c]
            rows = timed_read(
                "point",
                lambda: tables[dst]
                .read(spark, buckets=[b])
                .filter(F.col("conv_id") == c)
                .select("turn_idx", "_lsn", "text")
                .collect(),
            )
            rp.point[c] = sorted(tuple(r) for r in rows)

        for _ in range(self.CHANGES_READS):
            rp.changes.append(
                timed_read(
                    "changes",
                    lambda: checksums(
                        union(
                            [
                                t.read_changes(spark, start_lsn=rp.since)
                                .filter(F.col("_change_type") == "upsert")
                                .select(
                                    "conv_id", "turn_idx", F.col("_change_lsn").alias("_lsn"), "text", F.lit(n).alias("_t")
                                )
                                for n, t in tables.items()
                            ]
                        )
                    ),
                )
            )

    # ----------------------------------------------------------- oracle

    def oracle_gate(self) -> None:
        """Compare every timed read against the pure LWW fold of the range
        applied when it ran, by checksum of (key, _lsn, text). One Spark
        pass folds the log at every reader pass's cut."""
        spark = self.spark
        with self.tracer.untraced():
            cuts = spark.createDataFrame([(p.cut, p.since) for p in self.passes], "_cut long, _since long")
            applied = spark.read.parquet(self.lay.log).crossJoin(F.broadcast(cuts)).filter(F.col("lsn") <= F.col("_cut"))
            want = (
                expected_final_state(applied, key_cols=("_cut", "_since", "conv_id", "turn_idx"))
                .withColumn("_t", self.route())
                .cache()
            )
            want_snap = checksums(want, by=("_cut", "_t"))
            want_changes = checksums(want.filter(F.col("_lsn") >= F.col("_since")), by=("_cut", "_t"))
            probed = sorted({c for p in self.passes for c in p.point})
            want_point: dict = {}
            for r in want.filter(F.col("conv_id").isin(probed)).select("_cut", *ROW_COLS).collect():
                want_point.setdefault((r["_cut"], r["conv_id"]), []).append((r["turn_idx"], r["_lsn"], r["text"]))
            want.unpersist()

        def at(sums, cut):
            return {(t,): v for (c, t), v in sums.items() if c == cut}

        log("oracle folded")
        for i, p in enumerate(self.passes):
            snap, changes = at(want_snap, p.cut), at(want_changes, p.cut)
            for got in p.snapshot:
                self.ops.check(got == snap, f"pass {i} snapshot != oracle: {got} vs {snap}")
            for c, rows in p.point.items():
                self.ops.check(rows == sorted(want_point.get((p.cut, c), [])), f"pass {i} point read {c} != oracle")
            for got in p.changes:
                self.ops.check(got == changes, f"pass {i} changes != oracle: {got} vs {changes}")
        self.live_rows = sum(n for n, _ in self.passes[-1].snapshot[0].values())

    # ---------------------------------------------------------- metrics

    def put(self, name: str, value: float, unit: str, n: int = 1) -> None:
        self.metrics[name] = (value, unit)
        self.samples[name] = n

    def events_between(self, lo: int, hi: int) -> int:
        with self.tracer.untraced():
            return self.spark.read.parquet(self.lay.log).filter(F.col("lsn").between(lo, hi)).count()

    def lsn_quantile(self, q: float) -> int:
        with self.tracer.untraced():
            [v] = self.spark.read.parquet(self.lay.log).stat.approxQuantile("lsn", [q], 0.0001)
        return int(v)

    def table_stats(self) -> dict:
        """Delta chain, file count and bytes of the final table(s), from
        the manifests."""
        chain = files = size = 0
        for d in self.table_dirs().values():
            m = LakeTable(d).manifest()
            deltas = m.get("delta_files", {})
            chain = max([chain, *(len(v) for v in deltas.values())])
            for kind in ("files", "delta_files"):
                for fl in m.get(kind, {}).values():
                    files += len(fl)
                    size += sum(os.path.getsize(os.path.join(d, f)) for f in fl)
        return {"delta_chain_max": chain, "data_files": files, "bytes": size}

    # ------------------------------------------------------------ phases

    def preload(self) -> None:
        """Untimed: bring the table(s) to the state the timed loop starts
        from."""

    def setup(self) -> None:
        """Generate the log, preload, and run WARM_CYCLES untimed cycles of
        the timed shape on the same table(s), so the JIT has compiled the
        batch and read paths before timing (charged to setup_s)."""
        self.record_boundaries()
        self.write_log()
        log("log written")
        self.preload()
        for _ in range(self.WARM_CYCLES):
            self.cycle(timed=False)
        log("warm-up done")
        self.ops = Ops()

    def measure(self) -> None:
        self.collect_garbage()
        first = self.applied_lsn() + 1
        self.run_cycles()
        t = self.reads
        log(
            f"{len(self.passes)} cycles, batches {'/'.join(f'{x:.0f}' for x in self.batch_ms)} ms, "
            f"snapshot p50 {statistics.median(t['snapshot']):.3f}s, point p50 {statistics.median(t['point']) * 1000:.0f}ms, "
            f"changes p50 {statistics.median(t['changes']):.3f}s"
        )
        events = self.events_between(first, self.passes[-1].cut)
        self.put("apply_events_per_s", events / self.sync_wall, "1/s", len(self.batch_ms))
        self.put("batch_ms_p50", statistics.median(self.batch_ms), "ms", len(self.batch_ms))
        self.put("snapshot_read_s", statistics.median(t["snapshot"]), "s", len(t["snapshot"]))
        point_ms = [x * 1000.0 for x in t["point"]]
        self.put("point_read_ms_p50", statistics.median(point_ms), "ms", len(point_ms))
        self.put("point_read_ms_p75", p75(point_ms), "ms", len(point_ms))
        self.put("changes_read_s", statistics.median(t["changes"]), "s", len(t["changes"]))
        self.oracle_gate()

    def collect_garbage(self) -> None:
        """Start the timed phase from the same heap state: garbage left by
        set-up otherwise gets collected at a different point of each run."""
        gc.collect()
        self.spark.sparkContext._jvm.System.gc()


class TailMor(Workload):
    """Single-table merge-on-read steady-state tail: set-up catches up the
    first PRELOAD of the log in large batches and compacts; the timed cycles
    apply the rest in small batches with lineage, checkpointing and
    auto-compaction every CYCLE batches (the per-batch fixed cost), and
    read the table each compaction leaves."""

    name = "tail-mor"
    N_CONVS = 2000
    PRELOAD = 0.75  # LSN quantile the set-up catch-up stops at
    PRELOAD_BATCH = 17_000
    BATCH = 500
    CYCLE = 3
    CYCLE_S = 10.0
    WARM_CYCLES = 0
    SNAPSHOT_READS = 2
    POINT_READS = 30
    CHANGES_READS = 2

    def cfg(self, **kw) -> SyncConfig:
        return SyncConfig(
            source_log_dir=self.lay.log,
            target_table_dir=self.lay.tables,
            lineage_dir=self.lay.lineage,
            checkpoint_path=self.lay.checkpoint,
            n_buckets=32,
            write_mode="mor",
            compact_every=self.CYCLE,
            **kw,
        )

    def preload(self) -> None:
        """Catch up to PRELOAD in large batches and compact, then read the
        result once; the catch-up warms the batch path and the compaction
        the maintenance path."""
        cut = self.lsn_quantile(self.PRELOAD)
        self.sync(self.cfg(stop_at_lsn=cut - 1), self.PRELOAD_BATCH, None, timed=False)
        maintenance.compact(self.spark, LakeTable(self.lay.tables), max_files_per_bucket=1, max_delta_files_per_bucket=0)
        log("preloaded and compacted")
        self.read_pass(Pass(self.applied_lsn(), 0), timed=False)


class MultiCow(Workload):
    """Multi-table copy-on-write: one log routed by hash of ``conv_id`` to
    ``n_tables`` destination tables, applied by the multi-table driver's
    concurrent fan-out with the join-and-rewrite commit."""

    name = "multi-cow"
    multi_table = True
    n_tables = 4
    N_CONVS = 3500
    BATCH = 6000
    CYCLE_S = 6.25
    POINT_READS = 24

    def cfg(self, **kw) -> SyncConfig:
        return SyncConfig(
            source_log_dir=self.lay.log,
            target_table_dir=self.lay.tables,
            lineage_dir=self.lay.lineage,
            checkpoint_path=self.lay.checkpoint,
            table_col="src_table",
            n_buckets=8,
            write_mode="cow",
            **kw,
        )


WORKLOADS = {w.name: w for w in (TailMor, MultiCow)}
