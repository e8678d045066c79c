"""spark-submit entrypoint for a downstream change-feed consumer.

This is the CDC-out half of the pipeline — the role estuary fills with
its Kafka sink task (``kafka/KafkaSinkFunc.scala`` + the sink beans in
/root/reference): a separate job that tails a synced lake table's change
feed and ships net changes to a downstream system. Here the lake table
itself is the durable feed (``LakeTable.read_changes`` /
``streaming.changes.stream_changes``), so the consumer needs no second
log — just this job plus a position of its own.

Batch catch-up (cron-shaped; each run drains [position, now] and
advances a consumer-side checkpoint, independent from the ingest job's):

    spark-submit --py-files engine.zip jobs/changes_job.py \\
        --table /lake/transcripts \\
        --consumer-checkpoint /ckpt/indexer.json \\
        --output /feed/transcripts_changes

Continuous tail (Structured Streaming; position lives in the stream
checkpoint dir):

    spark-submit --py-files engine.zip jobs/changes_job.py \\
        --table /lake/transcripts --streaming \\
        --checkpoint /ckpt/indexer_stream \\
        --output /feed/transcripts_changes

Add ``--kafka-servers host:9092 --kafka-topic t`` to emit the estuary
wire shape (keyed JSON envelope, tombstone deletes) instead of parquet
rows; requires the spark-sql-kafka package on the cluster.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _load_position(path: str | None) -> int | None:
    if path and os.path.exists(path):
        with open(path) as f:
            return int(json.load(f)["next_start_lsn"])
    return None


def _store_position(path: str | None, next_start: int) -> None:
    if not path:
        return
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump({"next_start_lsn": int(next_start)}, f)
    os.replace(tmp, path)


def main() -> None:
    ap = argparse.ArgumentParser(description="estuary_spark change-feed consumer")
    ap.add_argument("--table", required=True,
                    help="LakeTable root (single table) or, with --multi, the "
                         "multi-table sync's target root")
    ap.add_argument("--multi", action="store_true",
                    help="read the routed multi-table feed (rows tagged _dst_table)")
    ap.add_argument("--since-lsn", type=int, default=None,
                    help="feed start position (overrides --consumer-checkpoint)")
    ap.add_argument("--end-lsn", type=int, default=None,
                    help="bounded historical window (batch mode only); resolves at "
                         "commit granularity — use a commit_lsn_ranges boundary for "
                         "an exact as-of read")
    ap.add_argument("--consumer-checkpoint", default=None,
                    help="JSON file holding this consumer's next start LSN (batch "
                         "mode); written after a successful drain so repeated runs "
                         "form an incremental subscription")
    ap.add_argument("--allow-incomplete", action="store_true",
                    help="read past the tombstone-purge retention floor (deletes "
                         "below the watermark are silently missing)")
    ap.add_argument("--output", default=None,
                    help="parquet directory to append change rows to (batch: one "
                         "append per run; streaming: the sink path)")
    ap.add_argument("--checkpoint", default=None,
                    help="stream checkpoint dir (required with --streaming)")
    ap.add_argument("--streaming", action="store_true")
    ap.add_argument("--max-files-per-trigger", type=int, default=16)
    ap.add_argument("--kafka-servers", default=None)
    ap.add_argument("--kafka-topic", default=None)
    ap.add_argument("--task-id", default="changes-consumer",
                    help="syncTaskId stamped into the Kafka envelope")
    ap.add_argument("--key-cols", default="conv_id,turn_idx",
                    help="primary-key columns for the Kafka message key")
    ap.add_argument("--app-name", default="estuary-spark-changes")
    args = ap.parse_args()

    from estuary_spark.session import submit_session

    spark = submit_session(args.app_name)

    key_cols = tuple(c for c in args.key_cols.split(",") if c)

    if args.streaming:
        if args.end_lsn is not None:
            sys.exit("--end-lsn is a batch-mode bound; the stream is unbounded")
        if not args.checkpoint:
            sys.exit("--checkpoint (a directory) is required with --streaming")
        if args.multi:
            sys.exit("--streaming --multi: start one stream per destination table "
                     "instead (each table's feed is an independent file source)")
        from estuary_spark.streaming.changes import stream_changes

        feed = stream_changes(
            spark, args.table, max_files_per_trigger=args.max_files_per_trigger
        )
        if args.kafka_servers:
            from estuary_spark.sources.kafka_sink import changes_kafka_frame

            out = changes_kafka_frame(feed, args.task_id, key_cols=key_cols)
            writer = (
                out.writeStream.format("kafka")
                .option("kafka.bootstrap.servers", args.kafka_servers)
                .option("topic", args.kafka_topic or "changes")
                .option("checkpointLocation", args.checkpoint)
            )
        else:
            if not args.output:
                sys.exit("--output is required (or --kafka-servers)")
            writer = (
                feed.writeStream.format("parquet")
                .option("path", args.output)
                .option("checkpointLocation", args.checkpoint)
            )
        writer.start().awaitTermination()
        return

    # ---- batch catch-up ----
    start = args.since_lsn
    if start is None:
        start = _load_position(args.consumer_checkpoint)
    if start is None:
        start = 0

    if args.multi:
        from estuary_spark.config import SyncConfig
        from estuary_spark.multi import read_changes_multi

        cfg = SyncConfig(source_log_dir="", target_table_dir=args.table)
        feed = read_changes_multi(
            spark, cfg, start, end_lsn=args.end_lsn,
            allow_incomplete=args.allow_incomplete,
        )
    else:
        from estuary_spark.tables import LakeTable

        feed = LakeTable(args.table).read_changes(
            spark, start, end_lsn=args.end_lsn,
            allow_incomplete=args.allow_incomplete,
        )

    if args.kafka_servers:
        from estuary_spark.sources.kafka_sink import changes_kafka_frame

        frame = changes_kafka_frame(feed, args.task_id, key_cols=key_cols)
        (frame.write.format("kafka")
         .option("kafka.bootstrap.servers", args.kafka_servers)
         .option("topic", args.kafka_topic or "changes")
         .save())
    elif args.output:
        feed.write.mode("append").parquet(args.output)

    # one aggregate over the (commit-pruned) feed for count + high watermark
    from pyspark.sql import functions as F

    n, hi = feed.agg(F.count(F.lit(1)), F.max("_change_lsn")).first()

    # the max emitted _change_lsn is the high watermark of observed change:
    # any change with a larger LSN would itself have been emitted, so
    # max+1 is a safe (and tight) resume point. An empty drain keeps the
    # old position. With --end-lsn the bound itself is the resume point.
    if args.end_lsn is not None:
        next_start = args.end_lsn + 1
    elif hi is not None:
        next_start = int(hi) + 1
    else:
        next_start = start
    _store_position(args.consumer_checkpoint, next_start)
    print(json.dumps({"rows": n, "start_lsn": start, "next_start_lsn": next_start}))


if __name__ == "__main__":
    main()
