"""Sources: parquet tables and (config-only) JDBC with partitioned reads.

The reference extracts from MySQL over an SSH tunnel with hand-rolled
intra-table thread parallelism (src/backup/intra_table.py:23-250, chunk calc
base.py:1302-1356). On Spark the same capability is the built-in JDBC
partitioned read — ``partitionColumn/lowerBound/upperBound/numPartitions``
— which turns the reference's thread-per-chunk design into N parallel
executor-side scans with no driver choreography. No MySQL exists in this
environment, so the JDBC path is config-construction only (untested
against a live DB) and the parquet path is the exercised source.
"""

from __future__ import annotations

import glob
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TPCH_TABLES = ["region", "nation", "customer", "supplier", "part",
               "orders", "lineitem", "events", "documents", "embeddings"]


def _nanos_timestamp_cols(path: str) -> list[str]:
    """Columns stored as parquet TIMESTAMP(NANOS), which Spark's vectorized
    reader rejects. Detected from the footer (driver-side metadata read)."""
    try:
        import pyarrow.parquet as pq
    except ImportError:  # pragma: no cover
        return []
    files = [path] if path.endswith(".parquet") and os.path.isfile(path) else \
        glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True)
    if not files:
        return []
    schema = pq.read_schema(files[0])
    return [f.name for f in schema if str(f.type) == "timestamp[ns]"]


def read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Parquet source (S13). Vectorized reader + row-group predicate
    pushdown come free.

    TIMESTAMP(NANOS) columns (e.g. the events fixture) are read as long
    via ``legacy.parquet.nanosAsLong`` and converted back with integer
    nano->micro division — `DIV`, not `/`, because nanos exceed the
    53-bit double mantissa and float division would corrupt timestamps.

    Naive parquet timestamps (isAdjustedToUTC=false) arrive as
    TIMESTAMP_NTZ under Spark 4's inference; they are cast to TIMESTAMP
    (same wall clock — the session timezone is pinned UTC) so downstream
    event-time operators (withWatermark requires TIMESTAMP) and the
    DuckDB oracle see one consistent type."""
    from pyspark.sql import types as T
    path = os.path.join(sf_dir, f"{name}.parquet")
    ns_cols = _nanos_timestamp_cols(path)
    if ns_cols:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(path)
    for c in ns_cols:
        df = df.withColumn(c, F.expr(f"timestamp_micros(CAST(`{c}` DIV 1000 AS BIGINT))"))
    for f in df.schema.fields:
        if isinstance(f.dataType, T.TimestampNTZType):
            df = df.withColumn(f.name, F.col(f.name).cast("timestamp"))
    return df


def jdbc_partitioned_options(url: str, table: str, *,
                             partition_column: str,
                             lower_bound: int, upper_bound: int,
                             num_partitions: int = 32,
                             fetch_size: int = 10_000,
                             extra: dict | None = None) -> dict:
    """Build JDBC read options for an intra-table parallel scan.

    Replaces the reference's thread-per-time-chunk design
    (intra_table.py:169-250): Spark issues ``numPartitions`` concurrent
    range queries ``partition_column BETWEEN lo AND hi``. The CDC
    predicate from ``operators.cdc`` is pushed into each range query by
    Catalyst's JDBC pushdown. ``num_partitions`` should be sized from the
    density stats (operators.cdc.density_stats), the slim survivor of the
    reference's adaptive chunk sizing (base.py:486-735).
    """
    opts = {
        "url": url,
        "dbtable": table,
        "partitionColumn": partition_column,
        "lowerBound": str(lower_bound),
        "upperBound": str(upper_bound),
        "numPartitions": str(num_partitions),
        "fetchsize": str(fetch_size),
        "pushDownPredicate": "true",
    }
    opts.update(extra or {})
    return opts


def read_jdbc(spark: SparkSession, options: dict) -> DataFrame:
    """JDBC source (S1-S5 against a live DB; reference extraction plane
    src/backup/row_based.py:1071-1078 + strategy SQL
    src/core/cdc_strategy_engine.py:188-294). The CDC predicates built by
    ``operators.cdc`` are pushed into the remote WHERE clause by Spark's
    JDBC pushdown — asserted against an embedded Derby database in
    ``tests/test_jdbc.py`` (the same code path a MySQL URL takes)."""
    return spark.read.format("jdbc").options(**options).load()


def discover_schema_jdbc(spark: SparkSession, url: str, table: str,
                         extra: dict | None = None):
    """S11 schema discovery from a live source: Spark resolves the remote
    table's metadata (a zero-row prepared statement) into a StructType —
    the set-based replacement for the reference's INFORMATION_SCHEMA
    round-trip (flexible_schema_manager.py:137-176). For MySQL-dialect
    sources the raw INFORMATION_SCHEMA path is ``schema.info_schema_query``
    + ``schema.columns_to_struct``."""
    opts = {"url": url, "dbtable": table}
    opts.update(extra or {})
    return spark.read.format("jdbc").options(**opts).load().schema


def list_tables_jdbc(spark: SparkSession, url: str, query: str,
                     extra: dict | None = None) -> list[str]:
    """S12 table listing via a dialect catalog query (reference
    flexible_schema_manager.py:634-665 INFORMATION_SCHEMA.TABLES; Derby:
    SYS.SYSTABLES). The query must project one column of table names."""
    opts = {"url": url, "query": query}
    opts.update(extra or {})
    df = spark.read.format("jdbc").options(**opts).load()
    name_col = df.columns[0]
    return sorted(r[name_col] for r in df.collect())


def read_csv(spark: SparkSession, path: str, schema,
             header: bool = True, **options) -> DataFrame:
    """CSV source with an explicit schema (S13 sibling). Schema is
    REQUIRED: header inference costs an extra full pass at scale and
    yields engine-dependent types; an explicit StructType keeps the scan
    single-pass and the plan deterministic. Malformed rows land in a
    ``_corrupt_record``-style permissive mode only if the caller opts in
    via ``mode`` — default FAILFAST so silent data loss cannot happen
    mid-pipeline."""
    opts = {"header": str(header).lower(), "mode": "FAILFAST",
            "timestampFormat": "yyyy-MM-dd HH:mm:ss"}
    opts.update(options)
    return spark.read.options(**opts).schema(schema).csv(path)


def read_json_lines(spark: SparkSession, path: str, schema,
                    **options) -> DataFrame:
    """JSON-lines source with an explicit schema (S13 sibling; the
    reference maps MySQL `json` columns to strings — this is the file-
    level analog). Same FAILFAST/explicit-schema stance as read_csv."""
    opts = {"mode": "FAILFAST", "timestampFormat": "yyyy-MM-dd'T'HH:mm:ss.SSSXXX"}
    opts.update(options)
    return spark.read.options(**opts).schema(schema).json(path)


def read_with_quarantine(spark: SparkSession, path: str, schema,
                         quarantine_path: str, fmt: str = "json",
                         checkpoint_clean: bool = False,
                         **options) -> tuple[DataFrame, int]:
    """The middle road between FAILFAST (one bad row kills a 100 TB
    load) and silent PERMISSIVE (bad rows become nulls nobody sees):
    malformed rows are routed to a quarantine table, clean rows flow on,
    and the caller gets the quarantine count to alert on — Spark's
    ``badRecordsPath`` semantics built from the public PERMISSIVE +
    ``columnNameOfCorruptRecord`` contract so it works on any build.

    One read pass, two filtered writes... except clean rows are NOT
    written here — they are returned as a DataFrame (the pipeline's own
    sink decides where they land); only the (usually tiny) corrupt slice
    is materialized, with the raw line preserved for forensics.
    PERMISSIVE caveat handled: Spark requires the corrupt-record column
    to be part of the schema, and a cached/filtered corrupt column
    needs the raw row retained — hence the explicit select split.

    Returns (clean_df_without_corrupt_col, n_quarantined)."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    corrupt = "_corrupt_record"
    full = T.StructType(schema.fields + [T.StructField(corrupt,
                                                       T.StringType())])
    opts = {"mode": "PERMISSIVE", "columnNameOfCorruptRecord": corrupt}
    opts.update(options)
    reader = spark.read.options(**opts).schema(full)
    raw = reader.json(path) if fmt == "json" else reader.csv(path)
    # cache so the corrupt/clean split reads the source once, and
    # because Spark disallows filtering on the corrupt column alone
    # over a bare file scan (SPARK-38523 guard).
    raw = raw.cache()
    bad = raw.filter(F.col(corrupt).isNotNull()).select(corrupt)
    n_bad = bad.count()
    if n_bad:
        bad.write.mode("append").parquet(quarantine_path)
    clean = raw.filter(F.col(corrupt).isNull()).drop(corrupt)
    if checkpoint_clean:
        # Opt-in deterministic cache lifetime: materialize the clean
        # slice to executor-local checkpoint blocks (freed with the
        # DataFrame), then drop the source cache NOW — a long-lived
        # driver looping over many inputs no longer accumulates pinned
        # partitions until storage evicts or OOMs. Two caveats make
        # this opt-in, not the default: (1) the clean slice is
        # materialized twice (the corrupt-count cache pass plus the
        # eager checkpoint copy) before the caller's own action, and
        # (2) localCheckpoint blocks are NON-RELIABLE — losing an
        # executor after the unpersist makes the returned DataFrame
        # unrecomputable, a failure mode the pinned-cache path does
        # not have. Default (False): caller gets the lazily-cached
        # clean slice and owns the unpersist.
        clean = clean.localCheckpoint(eager=True)
        raw.unpersist()
    return clean, n_bad


def read_orc(spark: SparkSession, path: str) -> DataFrame:
    """ORC source (built-in vectorized reader; predicate pushdown and
    column pruning work exactly as for parquet). Completes the
    lake-format surface next to parquet/CSV/JSONL — warehouses fed by
    Hive-era pipelines still hand over ORC."""
    return spark.read.orc(path)
