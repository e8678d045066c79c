"""Batch-incremental sync driver (the controller, estuary K1/K2 analogue).

Tails the ordered change log in contiguous LSN ranges and applies each
range as one micro-batch via ``apply_batch``. The range plan is computed
from LSN quantiles so batches are count-balanced even when the LSN space
is sparse — the Spark analogue of estuary's power-adapter keeping the
fetch/sink gap bounded (pull-based micro-batching needs no backpressure
ladder: SURVEY.md M2 is built-in here).

The streaming variant (``estuary_spark.streaming``) wraps the same
``apply_batch`` in ``foreachBatch``; this loop is the deterministic
equivalent used by tests and bench (``trigger(availableNow)`` semantics).
"""

from __future__ import annotations

from dataclasses import asdict, dataclass

from pyspark.sql import DataFrame, SparkSession, functions as F, types as T

from estuary_spark.apply import apply_batch
from estuary_spark.checkpoint import (
    load_checkpoint,
    resolve_start_lsn,
    resolve_stop_lsn,
    save_checkpoint,
)
from estuary_spark.config import SyncConfig
from estuary_spark.lineage import append_lineage
from estuary_spark.maintenance import compact_if_due
from estuary_spark.sources.log_source import LogSource, ParquetLogSource
from estuary_spark.tables import BUCKET_COL, DELETED_COL, LSN_COL, LakeTable


@dataclass
class SyncSummary:
    batches_run: int
    batches_skipped: int
    events_applied: int
    rows_upserted: int
    rows_deleted: int
    final_version: int
    last_lsn: int | None


def user_schema_of_log(log_df: DataFrame, cfg: SyncConfig) -> T.StructType:
    """Target user schema = log columns minus the event envelope."""
    return T.StructType(
        [f for f in log_df.schema.fields if f.name not in cfg.envelope_cols]
    )


def open_or_create_table(spark: SparkSession, cfg: SyncConfig, log_df: DataFrame) -> LakeTable:
    t = LakeTable(cfg.target_table_dir)
    if not t.exists():
        t = LakeTable.create(
            cfg.target_table_dir,
            user_schema_of_log(log_df, cfg),
            n_buckets=cfg.n_buckets,
            key_cols=list(cfg.key_cols),
        )
    return t


def plan_batches(
    log_df: DataFrame,
    start_lsn: int,
    stop_at_lsn: int | None,
    events_per_batch: int,
    lsn_col: str = "lsn",
) -> list[tuple[int, int]]:
    """Contiguous, non-overlapping [lo, hi] LSN ranges covering
    [start_lsn, max_lsn], sized ~events_per_batch via approxQuantile
    (single distributed pass; no global sort)."""
    remaining = log_df.filter(F.col(lsn_col) >= start_lsn)
    if stop_at_lsn is not None:
        remaining = remaining.filter(F.col(lsn_col) <= stop_at_lsn)
    agg = remaining.agg(
        F.count(F.lit(1)).alias("n"), F.max(lsn_col).alias("mx")
    ).collect()[0]
    n, mx = agg["n"], agg["mx"]
    if not n:
        return []
    n_batches = max(1, (n + events_per_batch - 1) // events_per_batch)
    if n_batches == 1:
        return [(start_lsn, int(mx))]
    probs = [i / n_batches for i in range(1, n_batches)]
    qs = remaining.stat.approxQuantile(lsn_col, probs, 0.001)
    bounds = sorted({int(q) for q in qs})
    ranges: list[tuple[int, int]] = []
    lo = start_lsn
    for b in bounds:
        if b <= lo:
            continue
        ranges.append((lo, b - 1))
        lo = b
    ranges.append((lo, int(mx)))
    return ranges


def run_sync(
    spark: SparkSession,
    cfg: SyncConfig,
    events_per_batch: int = 50_000,
    max_batches: int | None = None,
    source: LogSource | None = None,
) -> SyncSummary:
    """Run the sync task to the end of the log (or ``stop_at_lsn``).

    ``source`` is any :class:`LogSource` (default
    :class:`ParquetLogSource` over ``cfg.source_log_dir``) — the apply
    core never touches the wire format, so a :class:`KafkaLogSource` (or
    a custom decode) drops in here without changes elsewhere."""
    source = source or ParquetLogSource(cfg.source_log_dir, lsn_col=cfg.lsn_col)
    log_df = source.read_batch(spark)
    table = open_or_create_table(spark, cfg, log_df)
    start = resolve_start_lsn(
        cfg.start_lsn,
        cfg.checkpoint_path,
        table,
        start_ts=cfg.start_ts,
        log_df=log_df,
        lsn_col=cfg.lsn_col,
        min_available_lsn=source.min_available_lsn(),
        on_retention_gap=cfg.on_retention_gap,
    )

    st = load_checkpoint(cfg.checkpoint_path) if cfg.checkpoint_path else None
    batch_id = int(st["next_batch_id"]) if st else 0

    stop = resolve_stop_lsn(cfg.stop_at_lsn, cfg.stop_at_ts, log_df, lsn_col=cfg.lsn_col)
    ranges = plan_batches(log_df, start, stop, events_per_batch, cfg.lsn_col)
    if max_batches is not None:
        ranges = ranges[:max_batches]

    import os as _os
    import time as _time

    _prof = _os.environ.get("ESTUARY_PROFILE", "") == "1"

    run = skip = applied = ups = dels = 0
    last_lsn = None
    for lo, hi in ranges:
        _t0 = _time.time()
        batch = log_df.filter(F.col(cfg.lsn_col).between(lo, hi))
        res = apply_batch(spark, table, batch, cfg, batch_id, offset_range=(lo, hi))
        _t1 = _time.time()
        if res.skipped:
            skip += 1
        else:
            run += 1
            ups += sum(r["rows_upserted"] for r in res.lineage)
            dels += sum(r["rows_deleted"] for r in res.lineage)
        # an all-late skipped batch still carries late/ooo lineage (M1):
        # persist it whenever the batch produced rows, committed or not
        if cfg.lineage_dir and res.lineage:
            append_lineage(spark, cfg.lineage_dir, res.lineage)
        if _prof:
            print(f"  [runner] batch {batch_id} apply={_t1 - _t0:.2f}s lineage={_time.time() - _t1:.2f}s", flush=True)
        applied += 0 if res.skipped else 1
        last_lsn = hi
        batch_id += 1
        if not res.skipped:
            compact_if_due(spark, table, cfg)
        if cfg.checkpoint_path:
            save_checkpoint(
                cfg.checkpoint_path, {"next_lsn": hi + 1, "next_batch_id": batch_id}
            )

    return SyncSummary(
        batches_run=run,
        batches_skipped=skip,
        events_applied=applied,
        rows_upserted=ups,
        rows_deleted=dels,
        final_version=table.current_version(),
        last_lsn=last_lsn,
    )


def read_final_state(spark: SparkSession, cfg: SyncConfig) -> DataFrame:
    """The user-visible target table (tombstones folded, system cols off)."""
    t = LakeTable(cfg.target_table_dir)
    df = t.read(spark)
    return df.drop(BUCKET_COL)
