"""Table maintenance: small-file compaction and tombstone purge.

Copy-on-write MERGE keeps per-bucket file counts low by construction
(commit rewrites touched buckets), but long-running tables still need:

* ``compact`` — rewrite buckets whose file count exceeds a threshold into
  one file each (Iceberg rewrite_data_files analogue). At 100 TB this
  runs bucket-parallel and only on offending buckets.
* ``purge_tombstones`` — physically drop soft-deleted rows whose LSN is
  below a watermark. Tombstones exist so late (lower-LSN) cross-batch
  events cannot resurrect deleted keys (see tables.py); once the source
  guarantees no events older than ``watermark_lsn`` remain in flight
  (estuary analogue: the position recorder's oldest saved generation,
  SourceDataPositionRecorder.scala:37-44), rows tombstoned before it are
  garbage. The purge is itself an atomic snapshot commit.
"""

from __future__ import annotations

from pyspark.sql import SparkSession, functions as F

from estuary_spark.config import SyncConfig
from estuary_spark.tables import BUCKET_COL, DELETED_COL, LSN_COL, LakeTable


def compact(
    spark: SparkSession,
    table: LakeTable,
    max_files_per_bucket: int = 4,
    max_delta_files_per_bucket: int = 0,
) -> int:
    """Rewrite buckets with more than ``max_files_per_bucket`` base files
    OR more than ``max_delta_files_per_bucket`` MoR delta files (deltas are
    folded into the base via the table's merge-on-read scan, then dropped).
    Returns the number of buckets compacted (0 = no commit made)."""
    m = table.manifest()
    fat = {int(b) for b, files in m["files"].items() if len(files) > max_files_per_bucket}
    fat |= {
        int(b)
        for b, files in m.get("delta_files", {}).items()
        if len(files) > max_delta_files_per_bucket
    }
    fat = sorted(fat)
    if not fat:
        return 0
    df = table.read(spark, buckets=fat, include_tombstones=True, version=m["version"])
    table.commit(
        spark,
        df,
        replaced_buckets=fat,
        applied_range=None,
        batch_id=None,
        extra_properties={"compaction": {"buckets": fat}},
        base_version=m["version"],
    )
    return len(fat)


def compact_if_due(spark: SparkSession, table: LakeTable, cfg: SyncConfig) -> int:
    """The MoR delta-chain policy every sync driver runs after each
    committed batch: once a bucket of ``table`` holds ``cfg.compact_every``
    delta files, fold the buckets holding that many into their base files
    (read cost is ~(1 + deltas/base), so compaction bounds the read tax).
    A no-op for copy-on-write tables and for ``compact_every=0`` (manual
    compaction). Returns the number of buckets compacted."""
    if cfg.write_mode != "mor" or cfg.compact_every <= 0:
        return 0
    dcounts = table.manifest().get("delta_files", {})
    if not dcounts or max(len(v) for v in dcounts.values()) < cfg.compact_every:
        return 0
    return compact(
        spark,
        table,
        max_files_per_bucket=10**9,
        max_delta_files_per_bucket=cfg.compact_every - 1,
    )


def purge_tombstones(spark: SparkSession, table: LakeTable, watermark_lsn: int) -> int:
    """Drop tombstone rows with ``_lsn < watermark_lsn``. Returns rows
    purged. Only buckets that actually hold purgeable tombstones are
    rewritten (two cheap column-pruned passes to find them)."""
    base_v = table.current_version()
    full = table.read(spark, include_tombstones=True, version=base_v)
    purgeable = full.filter(
        F.coalesce(F.col(DELETED_COL), F.lit(False)) & (F.col(LSN_COL) < watermark_lsn)
    )
    # the watermark is a retention floor for the change feed (deletes below
    # it are no longer observable) — record it monotonically even when
    # nothing is purged, so read_changes can refuse incomplete feeds
    prev = int(table.properties().get("tombstone_purge", {}).get("watermark_lsn", 0))
    watermark_lsn = max(int(watermark_lsn), prev)
    buckets = [r["b"] for r in purgeable.select(F.col(BUCKET_COL).alias("b")).distinct().collect()]
    if not buckets:
        if watermark_lsn > prev:
            table.commit_metadata(
                extra_properties={
                    "tombstone_purge": {"watermark_lsn": watermark_lsn, "purged": 0}
                }
            )
        return 0
    scoped = table.read(spark, buckets=buckets, include_tombstones=True, version=base_v)
    purge_flag = F.coalesce(F.col(DELETED_COL), F.lit(False)) & (F.col(LSN_COL) < watermark_lsn)
    keep = scoped.filter(~purge_flag)
    # one aggregate pass for the count (not two full count() jobs)
    row = scoped.agg(F.sum(purge_flag.cast("long")).alias("n_purged")).collect()[0]
    n_purged = int(row["n_purged"] or 0)
    table.commit(
        spark,
        keep,
        replaced_buckets=buckets,
        applied_range=None,
        batch_id=None,
        extra_properties={"tombstone_purge": {"watermark_lsn": watermark_lsn, "purged": n_purged}},
        base_version=base_v,
    )
    return n_purged


def purge_dropped_tables(root: str) -> dict:
    """Physically remove destination tables that were LOGICALLY dropped by
    a ``drop_table`` op (``multi._apply_table_ops`` commits an empty
    snapshot carrying ``dropped_at_lsn`` instead of deleting, so the
    ``table_ops_lsn`` fence survives and pre-drop stragglers in later
    micro-batches cannot resurrect stale state). This is the deferred
    physical step: a marked table with no live data files is removed from
    disk; a marked table that post-drop events RECREATED (live files
    exist) has its marker cleared instead. Returns
    ``{"removed": [...], "recreated": [...]}``."""
    import os
    import shutil

    removed: list[str] = []
    recreated: list[str] = []
    for d in sorted(os.listdir(root) if os.path.isdir(root) else []):
        t = LakeTable(os.path.join(root, d))
        if not t.exists():
            continue
        m = t.manifest()
        if m.get("properties", {}).get("dropped_at_lsn") is None:
            continue
        has_files = any(fl for fl in m.get("files", {}).values()) or any(
            fl for fl in m.get("delta_files", {}).values()
        )
        if has_files:
            t.commit_metadata(extra_properties={"dropped_at_lsn": None})
            recreated.append(d)
        else:
            shutil.rmtree(t.root)
            removed.append(d)
    return {"removed": removed, "recreated": recreated}


def rebucket(spark: SparkSession, table: LakeTable, new_n_buckets: int) -> int:
    """Change the table's bucket count with one atomic full rewrite
    (Iceberg's ``REPLACE PARTITION FIELD`` + rewrite analogue; estuary has
    no equivalent — its MOD/primary-key partition count is fixed per task,
    ``PartitionStrategy`` in /root/reference, so resizing means a manual
    re-sync there).

    Why it exists at 10^10-row scale: the bucket count chosen at create
    time bounds merge/read parallelism AND the granularity of bucket
    pruning; a table that grew 100x needs more buckets or every bucket
    becomes a multi-GB fold. The rewrite folds MoR deltas in (it reads
    through the merge view, tombstones preserved), recomputes the bucket
    id with the new modulus, and publishes data + ``n_buckets`` in ONE
    snapshot, so a concurrent reader sees the old layout or the new one,
    never a mix; subsequent syncs pick up the new modulus from the
    manifest automatically. A concurrent WRITER's commit conflicts by
    construction (every existing bucket is replaced) and the loser gets
    the typed CommitConflictError instead of a corrupted layout.

    Returns the new snapshot version (no-op returns the current one).
    """
    from estuary_spark.tables import bucket_expr

    m = table.manifest()
    old_n = int(m["n_buckets"])
    if int(new_n_buckets) == old_n:
        return int(m["version"])
    key0 = m["key_cols"][0]
    # every bucket id that any file (base or delta) currently lives under
    old_ids = sorted(
        {int(b) for b in m.get("files", {})} | {int(b) for b in m.get("delta_files", {})}
        | set(range(old_n))
    )
    df = table.read(spark, include_tombstones=True, version=m["version"]).withColumn(
        BUCKET_COL, bucket_expr(key0, int(new_n_buckets))
    )
    return table.commit(
        spark,
        df,
        replaced_buckets=old_ids,
        applied_range=None,
        batch_id=None,
        extra_properties={"rebucket": {"from": old_n, "to": int(new_n_buckets)}},
        new_n_buckets=int(new_n_buckets),
        base_version=m["version"],
    )
