"""CLI entry point (SURVEY §2a R14 — the reference's options surface).

Mirrors HanaToBQ's Beam options (HanaToBQ.java:175-224) with the
documented fixes: ``--end-time`` is honored (the reference declares
but ignores it), timestamps are typed, and the lossy stringify
behavior is an opt-in flag.  The reference's ``--destDataset`` has no
flag: ``--dest-path``, a parquet directory, is the only sink this
build writes.  A ``--source-parquet``
path substitutes the JDBC source for local/lakehouse runs, and
``--state`` switches to checkpointed incremental mode (high-watermark
CDC done right).

Usage:
  python -m hana_bq_beam_connector_spark.cli \\
      --table-name events --timestamp-column ts --start-time 0 \\
      --source-parquet /root/testdata/sf0.001/events.parquet \\
      --dest-path /tmp/sink
"""

from __future__ import annotations

import argparse

from pyspark.sql import functions as F

from hana_bq_beam_connector_spark.config import (
    DEFAULT_CHUNK_SIZE,
    DEFAULT_JDBC_DRIVER,
    PipelineConfig,
)
from hana_bq_beam_connector_spark.pipeline import NO_SINK, run_and_append
from hana_bq_beam_connector_spark.plans.incremental import incremental_copy
from hana_bq_beam_connector_spark.session import get_spark
from hana_bq_beam_connector_spark.sources.files import read_parquet


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(
        prog="hana-bq-beam-connector-spark",
        description="Incremental table copy (reference-parity pipeline)",
    )
    # the reference's options but destDataset (HanaToBQ.java:175-224)
    p.add_argument("--table-name", required=True)
    p.add_argument("--connection-string")
    p.add_argument("--username")
    p.add_argument("--password")
    p.add_argument("--driver", default=DEFAULT_JDBC_DRIVER)
    p.add_argument("--timestamp-column", required=True)
    p.add_argument("--start-time", type=float, required=True)
    p.add_argument("--end-time", type=float, default=float("inf"))
    p.add_argument("--chunk-size", type=int, default=DEFAULT_CHUNK_SIZE)
    # engine extensions
    p.add_argument("--source-parquet", help="parquet source instead of JDBC")
    p.add_argument("--dest-path", help="parquet sink instead of BigQuery")
    p.add_argument("--state", help="watermark state file -> incremental mode")
    p.add_argument(
        "--cluster-by",
        help="comma-separated column(s): lay the sink out clustered for "
        "data skipping — one column = range clustering, several = "
        "Z-order (multi-dimension footer pruning).  Full-copy mode "
        "only (clustering rewrites; incremental appends).",
    )
    p.add_argument(
        "--cluster-files",
        type=int,
        default=16,
        help="target file count for --cluster-by (default 16)",
    )
    p.add_argument(
        "--stringify",
        action="store_true",
        help="reference-parity lossy stringify (HanaDBRowToTableRowFn)",
    )
    p.add_argument(
        "--plan-backfill",
        action="store_true",
        help="don't copy: diff source vs sink day buckets on the "
        "timestamp column and print the missing [start, end) ranges "
        "(one per line, numeric domain) — each feeds a normal copy run",
    )
    p.add_argument(
        "--reconcile",
        action="store_true",
        help="don't copy: fingerprint source and sink per day bucket "
        "(row count + order-insensitive key XOR/sum + canonicalized "
        "full-row hash XOR) and print every bucket that is missing, "
        "extra, or corrupted — equal counts with different "
        "fingerprints catch substituted or payload-mangled rows.  "
        "Each reported bucket is a [start, end) window re-runnable "
        "through a normal copy run.  Needs --key-column.",
    )
    p.add_argument(
        "--key-column",
        help="integral key column for --reconcile fingerprints",
    )
    p.add_argument(
        "--measure-columns",
        help="comma-separated numeric columns whose exact-decimal "
        "sums join the --reconcile fingerprint (doubles rounded at "
        "6 dp, deterministically)",
    )
    p.add_argument(
        "--keys-only-fingerprint",
        action="store_true",
        help="--reconcile compatibility mode for sides with different "
        "shapes (e.g. a --stringify copy): skip the full-row hash and "
        "compare count/key/measure fingerprints only",
    )
    p.add_argument(
        "--check-schema-drift",
        action="store_true",
        help="before appending to an existing sink, diff the source "
        "schema against the sink's: added columns are reported and "
        "allowed (mergeSchema-compatible widening); removed or "
        "type-changed columns abort the run with the precise dotted "
        "paths — instead of the reference's blanket unknown-type "
        "abort (HanaToBQ.java:129-132)",
    )
    p.add_argument("--master", default=None)
    return p


def _read_sink_or_none(spark, path: str):
    """Read an existing sink, returning None only when there is no
    sink data yet — the path is missing, or the directory exists but
    holds no readable files (pre-created by deployment tooling, or a
    run that died before its first write).  Every other failure
    (corrupt footer, permissions, transient storage error) propagates:
    a bare except here would silently disable the schema-drift guard
    and turn a flaky read into a full-backfill plan."""
    from pyspark.errors import AnalysisException

    try:
        return read_parquet(spark, path)
    except AnalysisException as e:
        cond = ""
        for attr in ("getCondition", "getErrorClass"):
            getter = getattr(e, attr, None)
            if getter is not None:
                try:
                    cond = getter() or ""
                    break
                except Exception:
                    pass
        # Missing path and existing-but-empty dir (pre-created by
        # deployment tooling, or a run that died before writing a
        # file) both mean "no sink yet" -> full backfill / no drift
        # base.  Everything else (corrupt footer, permissions,
        # transient storage) still propagates.
        for benign in ("PATH_NOT_FOUND", "UNABLE_TO_INFER_SCHEMA"):
            if benign in cond or benign in str(e):
                return None
        raise


def main(argv: list[str] | None = None) -> int:
    args = build_parser().parse_args(argv)
    config = PipelineConfig(
        table_name=args.table_name,
        timestamp_column=args.timestamp_column,
        start_time=args.start_time,
        end_time=args.end_time,
        chunk_size=args.chunk_size,
        connection_string=args.connection_string,
        username=args.username,
        password=args.password,
        driver=args.driver,
        dest_path=args.dest_path,
        stringify=args.stringify,
    )
    # Every mode but the two read-only diffs copies into --dest-path;
    # refuse before a session starts or a source is read.
    if not (args.reconcile or args.plan_backfill or args.dest_path):
        raise SystemExit(NO_SINK)
    spark = get_spark(master=args.master)
    source = (
        read_parquet(spark, args.source_parquet)
        if args.source_parquet
        else None
    )
    if args.check_schema_drift and args.dest_path and source is not None:
        from hana_bq_beam_connector_spark.plans.schema_drift import (
            schema_drift,
        )

        sink_df = _read_sink_or_none(spark, args.dest_path)
        sink_schema = sink_df.schema if sink_df is not None else None
        if sink_schema is not None:
            drift = schema_drift(sink_schema, source.schema)
            for path, t in drift.added:
                print(f"schema_drift_added={path}:{t}")
            if not drift.is_compatible_widening:
                for path, t in drift.removed:
                    print(f"schema_drift_removed={path}:{t}")
                for path, t_old, t_new in drift.changed:
                    print(f"schema_drift_changed={path}:{t_old}->{t_new}")
                raise SystemExit(
                    "schema drift is not a pure widening; refusing to "
                    "append (see schema_drift_* lines)"
                )
    if args.reconcile:
        from hana_bq_beam_connector_spark.plans.reconcile import (
            reconcile_chunks,
        )

        if source is None or not args.dest_path:
            raise SystemExit(
                "--reconcile needs --source-parquet and --dest-path"
            )
        if not args.key_column:
            raise SystemExit("--reconcile needs --key-column")
        sink = _read_sink_or_none(spark, args.dest_path)
        if sink is None:
            raise SystemExit(
                f"--reconcile: sink {args.dest_path} does not exist "
                "(run --plan-backfill for a full-copy plan instead)"
            )
        measures = (
            [c.strip() for c in args.measure_columns.split(",") if c.strip()]
            if args.measure_columns
            else None
        )
        verdicts = (
            reconcile_chunks(
                source,
                sink,
                config.timestamp_column,
                args.key_column,
                measure_cols=measures,
                full_row=not args.keys_only_fingerprint,
            )
            .where(F.col("status") != "ok")
            .orderBy("bucket_lo")
            .collect()
        )
        for r in verdicts:
            print(
                f"reconcile_chunk={r['bucket_lo']}"
                f" status={r['status']}"
                f" src_rows={r['src_rows']}"
                f" sink_rows={r['sink_rows']}"
            )
        print(f"reconcile_mismatches={len(verdicts)}")
        return 0
    if args.plan_backfill:
        from hana_bq_beam_connector_spark.plans.backfill import (
            backfill_ranges,
        )

        if source is None:
            raise SystemExit("--plan-backfill needs --source-parquet")
        sink = None
        if args.dest_path:
            sink = _read_sink_or_none(spark, args.dest_path)
        ranges = backfill_ranges(
            source, sink, config.timestamp_column
        ).collect()
        for r in ranges:
            print(
                f"backfill_range={r['range_start']},{r['range_end']}"
                f" n_buckets={r['n_buckets']}"
            )
        print(f"backfill_ranges={len(ranges)}")
        return 0
    if args.state:
        if args.cluster_by:
            raise SystemExit(
                "--cluster-by requires full-copy mode (clustering "
                "rewrites the layout; incremental mode appends)"
            )
        n = incremental_copy(spark, config, args.state, source_df=source)
    elif args.cluster_by:
        from hana_bq_beam_connector_spark.pipeline import run_copy_pipeline
        from hana_bq_beam_connector_spark.sinks import (
            range_clustered_write,
            zorder_clustered_write,
        )

        result, _ = run_copy_pipeline(spark, config, source_df=source)
        cols = [c.strip() for c in args.cluster_by.split(",") if c.strip()]
        if len(cols) == 1:
            range_clustered_write(
                result, config.dest_path, cols[0], args.cluster_files
            )
        else:
            zorder_clustered_write(
                result, config.dest_path, cols, args.cluster_files
            )
        # Count the overwritten sink (parquet footers), not the source
        # again.  Not an Observation on the write: repartitionByRange
        # samples its input by running the observed plan a second time,
        # so a range-clustered write observed 20,000 rows for 10,000.
        n = spark.read.parquet(config.dest_path).count()
    else:
        n = run_and_append(spark, config, source_df=source)
    print(f"rows_copied={n}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
