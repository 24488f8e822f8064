"""Runnable ingest service — the deployment face of the engine, matching
how the reference is operated (docker-compose.yml:21-40: a long-running
container watching a directory, polling every POLLING_INTERVAL seconds).

    python -m datawarehouse1_spark.service \
        --watch-dir /data/incoming --table-root /warehouse \
        --table produits --business-key produit_id \
        --not-null produit_id,nom --interval 60

Environment parity with the reference (readme.md:104-113):
  WATCH_DIRECTORY, POLLING_INTERVAL are honored as defaults.
"""

from __future__ import annotations

import argparse
import os

from pyspark.sql.types import StructType


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(description="streaming warehouse ingest service")
    p.add_argument(
        "--watch-dir",
        default=os.environ.get("WATCH_DIRECTORY", "/data/incoming"),
        help="directory to watch (reference: WATCH_DIRECTORY)",
    )
    p.add_argument("--table-root", required=True, help="warehouse table root path")
    p.add_argument("--table", required=True, help="target table name")
    p.add_argument("--business-key", required=True)
    p.add_argument("--not-null", default="", help="comma-separated NOT NULL columns")
    p.add_argument(
        "--interval",
        type=int,
        default=int(os.environ.get("POLLING_INTERVAL", "60")),
        help="trigger seconds (reference: POLLING_INTERVAL)",
    )
    p.add_argument("--checkpoint", default=None, help="checkpoint dir (default <root>/_checkpoints/<table>)")
    p.add_argument(
        "--format", default="parquet", choices=["parquet", "csv", "json", "xlsx"]
    )
    return p


def run_service(args: argparse.Namespace, spark=None, schema: StructType | None = None):
    """Wire the streaming ingest for one table; returns the running query
    (caller awaits termination — split out for testability)."""
    from datawarehouse1_spark import get_spark
    from datawarehouse1_spark.schemas import TABLE_SCHEMAS
    from datawarehouse1_spark.streaming.file_ingest import IngestSink, stream_ingest

    spark = spark or get_spark(f"ingest-{args.table}")
    schema = schema or TABLE_SCHEMAS[args.table]
    not_null = [c for c in args.not_null.split(",") if c]
    sink_path = os.path.join(args.table_root, args.table)
    ckpt = args.checkpoint or os.path.join(args.table_root, "_checkpoints", args.table)
    return stream_ingest(
        spark,
        args.watch_dir,
        schema,
        IngestSink(sink_path, args.business_key, not_null),
        ckpt,
        fmt=args.format,
        trigger_seconds=args.interval,
    )


def main() -> None:  # pragma: no cover - service loop
    args = build_parser().parse_args()
    query = run_service(args)
    query.awaitTermination()


if __name__ == "__main__":  # pragma: no cover
    main()
