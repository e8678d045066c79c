"""spark-submit entrypoint for table maintenance (estuary has no such
job — its MySQL target handles its own storage; a lake table needs one,
the Iceberg ``rewrite_data_files`` / ``expire_snapshots`` role).

    spark-submit --py-files engine.zip jobs/maintenance_job.py \\
        --table /lake/transcripts \\
        --compact --expire-snapshots 5 --vacuum

Actions run in the safe order compact -> purge-tombstones ->
expire-snapshots -> vacuum; each is optional and independently flagged.
Retention caution: vacuum physically deletes dereferenced delta files,
which are also the streaming change feed — keep ``--expire-snapshots``
high enough (and run vacuum rarely enough) to cover your slowest feed
consumer's lag, and set ``--purge-tombstones`` no higher than the
slowest consumer's position (it raises the feed retention floor;
estuary's binlog-retention analogue, LogPositionHandler.scala:195-205).
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser(description="estuary_spark table maintenance")
    ap.add_argument("--table", required=True, help="LakeTable root directory")
    ap.add_argument("--multi", action="store_true",
                    help="treat --table as a multi-table sync root and run the "
                         "actions on every destination table under it")
    ap.add_argument("--rebucket", type=int, default=None, metavar="N",
                    help="change the table's bucket count with one atomic full "
                         "rewrite (run when the table outgrew its create-time "
                         "bucket choice); runs before any other action")
    ap.add_argument("--compact", action="store_true",
                    help="fold MoR delta files into base and merge small base files")
    ap.add_argument("--max-files-per-bucket", type=int, default=4)
    ap.add_argument("--max-delta-files-per-bucket", type=int, default=0)
    ap.add_argument("--purge-tombstones", type=int, default=None, metavar="LSN",
                    help="physically drop delete markers below this LSN watermark "
                         "(raises the change-feed retention floor to it)")
    ap.add_argument("--expire-snapshots", type=int, default=None, metavar="N",
                    help="keep only the last N manifest versions time-travelable")
    ap.add_argument("--vacuum", action="store_true",
                    help="delete data files unreferenced by any retained manifest")
    ap.add_argument("--gc-grace", type=float, default=600.0, metavar="SEC",
                    help="orphan-age grace window for expire/vacuum: files younger "
                         "than this are never collected (they may belong to a "
                         "concurrent in-flight commit, which publishes data/shard "
                         "files before its snapshot); 0 only on a quiesced table")
    ap.add_argument("--compact-lineage", default=None, metavar="DIR",
                    help="fold the per-batch lineage files under DIR into one "
                         "(with --multi, DIR's per-table subdirectories)")
    ap.add_argument("--purge-dropped", action="store_true",
                    help="multi-table roots: physically remove logically-dropped "
                         "destination tables (and clear markers on recreated ones)")
    ap.add_argument("--app-name", default="estuary-spark-maintenance")
    args = ap.parse_args()

    from estuary_spark.maintenance import compact, purge_tombstones, rebucket
    from estuary_spark.session import submit_session
    from estuary_spark.tables import LakeTable

    spark = submit_session(args.app_name)

    if args.multi:
        roots = sorted(
            os.path.join(args.table, d)
            for d in (os.listdir(args.table) if os.path.isdir(args.table) else [])
            if LakeTable(os.path.join(args.table, d)).exists()
        )
        if not roots:
            sys.exit(f"no destination tables under {args.table!r}")
    else:
        roots = [args.table]

    report: dict[str, dict] = {}
    for root in roots:
        t = LakeTable(root)
        r: dict = {}
        if args.rebucket is not None:
            r["rebucket_version"] = rebucket(spark, t, args.rebucket)
        if args.compact:
            r["compacted_buckets"] = compact(
                spark, t,
                max_files_per_bucket=args.max_files_per_bucket,
                max_delta_files_per_bucket=args.max_delta_files_per_bucket,
            )
        if args.purge_tombstones is not None:
            r["purged_tombstones"] = purge_tombstones(spark, t, args.purge_tombstones)
        if args.expire_snapshots is not None:
            r["expired"] = t.expire_snapshots(
                keep=args.expire_snapshots, grace_seconds=args.gc_grace
            )
        if args.vacuum:
            r["vacuumed_files"] = t.vacuum(grace_seconds=args.gc_grace)
        report[root] = r

    if args.compact_lineage:
        from estuary_spark.lineage import compact_lineage

        if args.multi:
            dirs = sorted(
                os.path.join(args.compact_lineage, d)
                for d in (
                    os.listdir(args.compact_lineage)
                    if os.path.isdir(args.compact_lineage)
                    else []
                )
                if os.path.isdir(os.path.join(args.compact_lineage, d))
            ) or [args.compact_lineage]
        else:
            dirs = [args.compact_lineage]
        report["lineage"] = {d: compact_lineage(d) for d in dirs}

    if args.purge_dropped:
        from estuary_spark.maintenance import purge_dropped_tables

        report["purge_dropped"] = purge_dropped_tables(args.table)
    print(json.dumps(report))


if __name__ == "__main__":
    main()
