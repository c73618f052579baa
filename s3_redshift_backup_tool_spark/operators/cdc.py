"""CDC strategies as DataFrame predicate builders.

Re-expresses the reference's ``src/core/cdc_strategy_engine.py`` — which
generates SQL text for LIMIT-paginated pulls — as Spark ``Column``
predicates applied to a declaratively-read DataFrame. The reference's
chunk loop (src/backup/row_based.py:119-712) disappears entirely: Spark
reads the whole incremental delta as one partitioned, set-based scan, and
Catalyst pushes the predicate into the source (parquet row-group stats /
JDBC WHERE). At 100 TB this is the difference between N round-trip
LIMIT queries and one distributed scan that prunes at the storage layer.

Strategies (reference line cites):
- timestamp_only  :188-294   ``ts > wm`` (+ UNIX-int auto-detect :228-251)
- hybrid          :366-434   keyset ``ts > wm OR (ts = wm AND id > last)``
- id_only         :499-546   ``id > last``
- full_sync       :607-694   replace/append full scan
- custom_sql      :783-834   user SQL template on temp views (validator :54-91)

Plus: watermark extraction (A4, :296-336/:436-458/:548-563), MAX(id)
ceiling snapshot (S8, row_based.py:781-845), bounded time-window scan
(S6, base.py:428-484), manual-override precedence (:199-217).
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

# --------------------------------------------------------------------------
# Validation (reference cdc_strategy_engine.py:26-91). Identifiers are
# driver-side config, not user data, but we keep the same whitelist regex
# and custom-SQL keyword blocklist as defense in depth.
# --------------------------------------------------------------------------

_IDENT_RE = re.compile(r"^[A-Za-z_][A-Za-z0-9_]*$")

_FORBIDDEN_SQL = re.compile(
    r"\b(INSERT|UPDATE|DELETE|DROP|CREATE|ALTER|TRUNCATE|GRANT|REVOKE|EXEC|CALL|MERGE)\b",
    re.IGNORECASE,
)


def validate_identifier(name: str) -> str:
    if not _IDENT_RE.match(name or ""):
        raise ValueError(f"invalid SQL identifier: {name!r}")
    return name


def validate_custom_sql(sql: str) -> str:
    """Keyword-blocklist check for custom_sql templates (reference :54-91)."""
    if not sql or not sql.strip().upper().startswith("SELECT"):
        raise ValueError("custom_sql must be a SELECT statement")
    if _FORBIDDEN_SQL.search(sql):
        raise ValueError("custom_sql contains a forbidden keyword")
    return sql


# --------------------------------------------------------------------------
# Config
# --------------------------------------------------------------------------

@dataclass
class CDCConfig:
    """Per-table CDC settings (reference TableConfig,
    src/core/configuration_manager.py:22-36)."""

    strategy: str = "hybrid"              # timestamp_only|hybrid|id_only|full_sync|custom_sql
    timestamp_column: str | None = None   # cdc_timestamp_column
    id_column: str | None = None          # cdc_id_column
    timestamp_format: str = "auto"        # unix | datetime | auto (:228-243)
    full_sync_mode: str = "replace"       # replace | append | paginate
    custom_sql: str | None = None
    additional_where: str | None = None   # ANDed user predicate (P2, :118)
    ordering: list[str] = field(default_factory=list)  # cdc_ordering

    def __post_init__(self):
        for c in filter(None, [self.timestamp_column, self.id_column, *self.ordering]):
            validate_identifier(c)


@dataclass
class Watermark:
    """Cursor view consumed by predicate builders. ``manual_override`` wins
    over stored state per reference precedence (:199-217)."""

    last_timestamp: Any = None   # str 'YYYY-MM-DD HH:MM:SS' | datetime | None
    last_id: int | None = None

    @classmethod
    def from_doc(cls, doc: dict) -> "Watermark":
        ms = doc.get("mysql_state", {})
        return cls(last_timestamp=ms.get("last_timestamp"), last_id=ms.get("last_id"))


# --------------------------------------------------------------------------
# Predicate builders
# --------------------------------------------------------------------------

def _is_unix_ts_column(df_schema: T.StructType, ts_col: str) -> bool:
    """UNIX-int timestamp auto-detect (reference :228-243): an integer-typed
    CDC timestamp column is treated as epoch seconds."""
    for f in df_schema.fields:
        if f.name == ts_col:
            return isinstance(f.dataType, (T.LongType, T.IntegerType, T.ShortType))
    return False


def _ts_literal(cfg: CDCConfig, schema: T.StructType, wm_ts) -> Column:
    """Watermark literal, epoch-wrapped when the column is UNIX-int
    (reference wraps in UNIX_TIMESTAMP(), :246-251)."""
    fmt = cfg.timestamp_format
    unix = fmt == "unix" or (fmt == "auto" and _is_unix_ts_column(schema, cfg.timestamp_column))
    if unix:
        return F.unix_timestamp(F.lit(wm_ts))
    return F.lit(wm_ts).cast("timestamp")


def timestamp_only_predicate(df: DataFrame, cfg: CDCConfig, wm: Watermark) -> Column:
    """S1 (reference :188-294): ``ts_col > watermark``."""
    validate_identifier(cfg.timestamp_column)
    if wm.last_timestamp is None:
        return F.lit(True)
    return F.col(cfg.timestamp_column) > _ts_literal(cfg, df.schema, wm.last_timestamp)


def hybrid_predicate(df: DataFrame, cfg: CDCConfig, wm: Watermark) -> Column:
    """S2 (reference :366-434): total-order keyset
    ``ts > wm OR (ts = wm AND id > last_id)`` — robust to timestamp ties,
    the reference's own historical bug surface (base.py:450)."""
    validate_identifier(cfg.timestamp_column)
    validate_identifier(cfg.id_column)
    if wm.last_timestamp is None and wm.last_id is None:
        return F.lit(True)
    if wm.last_timestamp is None:
        # id-set-but-no-timestamp (e.g. `watermark set --id N` on a fresh
        # cursor): comparing against a NULL ts literal would make the whole
        # predicate NULL and silently drop every row — fall back to the
        # id-only keyset instead.
        return F.col(cfg.id_column) > F.lit(int(wm.last_id))
    ts_lit = _ts_literal(cfg, df.schema, wm.last_timestamp)
    ts, idc = F.col(cfg.timestamp_column), F.col(cfg.id_column)
    last_id = wm.last_id if wm.last_id is not None else 0
    return (ts > ts_lit) | ((ts == ts_lit) & (idc > F.lit(last_id)))


def id_only_predicate(df: DataFrame, cfg: CDCConfig, wm: Watermark) -> Column:
    """S3 (reference :499-546): ``id > last_id`` for append-only tables."""
    validate_identifier(cfg.id_column)
    if wm.last_id is None:
        return F.lit(True)
    return F.col(cfg.id_column) > F.lit(int(wm.last_id))


def time_window_predicate(ts_col: str, start, end) -> Column:
    """S6 legacy bounded window (reference base.py:428-484):
    exclusive start / inclusive end."""
    validate_identifier(ts_col)
    c = F.col(ts_col)
    return (c > F.lit(start).cast("timestamp")) & (c <= F.lit(end).cast("timestamp"))


def ceiling_predicate(id_col: str, ceiling: int) -> Column:
    """S8 anti-infinite-sync bound (reference row_based.py:278-291,
    525-536): rows above the sync-start MAX(id) snapshot are excluded so a
    concurrently-growing table cannot extend the sync."""
    validate_identifier(id_col)
    return F.col(id_col) <= F.lit(int(ceiling))


def snapshot_ceiling(df: DataFrame, id_col: str) -> int | None:
    """``SELECT MAX(id)`` probe (reference row_based.py:781-845)."""
    row = df.agg(F.max(F.col(id_col)).alias("mx")).collect()[0]
    return None if row["mx"] is None else int(row["mx"])


def apply_cdc(df: DataFrame, cfg: CDCConfig, wm: Watermark,
              ceiling: int | None = None) -> DataFrame:
    """Build the incremental DataFrame for one table: strategy predicate
    AND additional_where AND optional ceiling. Catalyst pushes the whole
    conjunction to the scan (PushedFilters)."""
    if cfg.strategy == "full_sync":
        out = df
    elif cfg.strategy == "timestamp_only":
        out = df.filter(timestamp_only_predicate(df, cfg, wm))
    elif cfg.strategy == "hybrid":
        out = df.filter(hybrid_predicate(df, cfg, wm))
    elif cfg.strategy == "id_only":
        out = df.filter(id_only_predicate(df, cfg, wm))
    else:
        raise ValueError(f"unknown/unhandled CDC strategy {cfg.strategy!r}")
    if cfg.additional_where:
        # P2: user predicate conjunct (reference :253-259). Pushdown automatic.
        out = out.filter(F.expr(cfg.additional_where))
    if ceiling is not None and cfg.id_column:
        out = out.filter(ceiling_predicate(cfg.id_column, ceiling))
    return out


def custom_sql_scan(spark: SparkSession, df: DataFrame, cfg: CDCConfig,
                    wm: Watermark, table_name: str = "src",
                    limit: int | None = None) -> DataFrame:
    """S5 custom SQL scan (reference :783-834): user SELECT template with
    ``{table_name} {last_timestamp} {last_id} {limit}`` substitution, run
    via spark.sql on a temp view."""
    validate_custom_sql(cfg.custom_sql)
    validate_identifier(table_name)
    df.createOrReplaceTempView(table_name)
    sql = cfg.custom_sql.format(
        table_name=table_name,
        last_timestamp=str(wm.last_timestamp or "1970-01-01 00:00:00"),
        last_id=int(wm.last_id or 0),
        limit=int(limit or 2_000_000_000),
    )
    return spark.sql(sql)


# --------------------------------------------------------------------------
# Watermark extraction (A4)
# --------------------------------------------------------------------------

def extract_watermark(df: DataFrame, cfg: CDCConfig) -> Watermark:
    """New cursor from an extracted batch (reference :296-336, :436-458,
    :548-563 — 'last row after ORDER BY' == max of the (ts,id) keyset).

    Computed order-independently as ``max(struct(ts, id))`` — a single
    partial-aggregable reduction, no global sort (SURVEY §2.4 A4)."""
    if df.isEmpty():
        return Watermark()
    if cfg.strategy == "id_only" or (cfg.id_column and not cfg.timestamp_column):
        row = df.agg(F.max(cfg.id_column).alias("i")).collect()[0]
        return Watermark(last_id=int(row["i"]))
    if cfg.timestamp_column and cfg.id_column:
        row = df.agg(
            F.max(F.struct(F.col(cfg.timestamp_column).alias("ts"),
                           F.col(cfg.id_column).alias("id"))).alias("m")
        ).collect()[0]
        return Watermark(last_timestamp=_fmt_ts(row["m"]["ts"]), last_id=int(row["m"]["id"]))
    if cfg.timestamp_column:
        row = df.agg(F.max(cfg.timestamp_column).alias("t")).collect()[0]
        return Watermark(last_timestamp=_fmt_ts(row["t"]))
    return Watermark()


def _fmt_ts(v) -> str | None:
    """Normalize to ``YYYY-MM-DD HH:MM:SS`` (reference F7 normalization,
    row_based.py:228-246 / base.py:778-796)."""
    if v is None:
        return None
    if hasattr(v, "strftime"):
        return v.strftime("%Y-%m-%d %H:%M:%S")
    return str(v)


# --------------------------------------------------------------------------
# Probes (S9/S10) — density analysis for sizing decisions
# --------------------------------------------------------------------------

def hourly_density(df: DataFrame, ts_col: str) -> DataFrame:
    """S10 data-density sampling (reference base.py:486-623). The
    reference issues 6 COUNT probes over {1,4,12,24,48,168}h windows; one
    hour-bucketed group-by computes the full density profile in a single
    scan — the set-based replacement."""
    validate_identifier(ts_col)
    return (df.groupBy(F.date_trunc("hour", F.col(ts_col)).alias("hour"))
              .agg(F.count(F.lit(1)).alias("rows_per_hour")))


def density_stats(df: DataFrame, ts_col: str) -> DataFrame:
    """A3 density statistics (reference base.py:625-735): mean / stddev /
    coefficient-of-variation of hourly rates, for chunk-size selection
    (on Spark: for choosing JDBC numPartitions)."""
    hourly = hourly_density(df, ts_col)
    return hourly.agg(
        F.avg("rows_per_hour").alias("mean_rate"),
        F.stddev_pop("rows_per_hour").alias("stddev_rate"),
        (F.stddev_pop("rows_per_hour") / F.avg("rows_per_hour")).alias("cv"),
        F.sum("rows_per_hour").alias("total_rows"),  # S9 count probe, same pass
    )


def snapshot_diff(old: DataFrame, new: DataFrame, keys: list[str],
                  compare_cols: list[str] | None = None) -> DataFrame:
    """Snapshot-based CDC: derive I/U/D change rows from two full
    snapshots — the extraction strategy of last resort when the source
    has NO usable cursor (no timestamp, no monotonic id), which the
    reference can only handle by full_sync-replacing the target every
    run. One full-outer join on the key plus a content hash comparison:

    - key only in new           -> 'I' (insert)
    - key only in old           -> 'D' (delete)
    - key in both, hash differs -> 'U' (update, new row values)

    Unchanged rows (the overwhelming majority between consecutive
    snapshots) are dropped, so downstream load/merge work scales with
    the CHANGE volume even though the diff itself reads both snapshots
    once. At 100 TB: bucket both snapshot tables by key and the join is
    co-partitioned; the hash comparison never shuffles row payloads
    beyond that one join. Output: key columns + new-side values (old
    values for 'D') + 'op'."""
    from .text import md5_prefix_int  # same portable row-hash as checksum_audit
    cmp_cols = compare_cols or [c for c in new.columns if c not in keys]

    def _hashed(df: DataFrame, tag: str) -> DataFrame:
        # both snapshots usually derive from the same source relation:
        # prefix EVERY column (keys included) so the full-outer join has
        # no ambiguous attribute references (self-join lineage)
        parts = [F.when(F.col(c).isNull(), F.lit("\\N"))
                  .otherwise(F.col(c).cast("string")) for c in cmp_cols]
        return df.select(
            *[F.col(k).alias(f"{tag}_{k}") for k in keys],
            *[F.col(c).alias(f"{tag}_{c}") for c in cmp_cols],
            md5_prefix_int(F.concat_ws("|", *parts)).alias(f"{tag}__h"))

    o = _hashed(old, "o")
    n = _hashed(new, "n")
    cond = [F.col(f"o_{k}").eqNullSafe(F.col(f"n_{k}")) for k in keys]
    j = o.join(n, cond, "full_outer")
    op = (F.when(F.col("o__h").isNull(), F.lit("I"))
           .when(F.col("n__h").isNull(), F.lit("D"))
           .when(F.col("o__h") != F.col("n__h"), F.lit("U")))
    out_cols = [F.coalesce(F.col(f"n_{k}"), F.col(f"o_{k}")).alias(k)
                for k in keys]
    # value columns are gated on op, NOT coalesced: an update that sets a
    # column to NULL must surface the NULL (coalesce would silently
    # resurrect the old value and break the apply_diff round-trip)
    for c in cmp_cols:
        out_cols.append(F.when(F.col("op") == "D", F.col(f"o_{c}"))
                         .otherwise(F.col(f"n_{c}")).alias(c))
    return (j.withColumn("op", op)
             .where(F.col("op").isNotNull())
             .select(*out_cols, "op"))


def apply_diff(old: DataFrame, diff: DataFrame,
               keys: list[str]) -> DataFrame:
    """Replay a :func:`snapshot_diff` change set onto a snapshot:
    drop keys carrying 'D' or 'U', then append the 'I' and 'U' rows —
    upsert-by-replacement, the merge half of snapshot replication. By
    construction ``apply_diff(old, snapshot_diff(old, new), keys)``
    equals ``new`` row-for-row (pinned by a hypothesis property test).

    One left_anti join on the key set + a union — the same shuffle
    budget as any keyed upsert; at 100 TB both sides bucket by key.
    The anti-join is null-SAFE to mirror snapshot_diff's eqNullSafe key
    match, so NULL-keyed D/U rows replay correctly."""
    import functools
    import operator as _op
    touched = (diff.where(F.col("op").isin("D", "U"))
                   .select(*[F.col(k).alias(f"__t_{k}") for k in keys])
                   .distinct())
    cond = functools.reduce(_op.and_, [
        F.col(k).eqNullSafe(F.col(f"__t_{k}")) for k in keys])
    kept = old.join(touched, cond, "left_anti")
    incoming = diff.where(F.col("op").isin("I", "U")).drop("op")
    return kept.unionByName(incoming)


def compact_change_log(log: DataFrame, keys: list[str],
                       seq_col: str, op_col: str = "op") -> DataFrame:
    """Log-based CDC, step 1 — compact a row-image change log (the shape
    Debezium/DMS/binlog taps emit: one row per change carrying op
    'c'/'u'/'d', a monotonically increasing sequence, and the full row
    image) down to the LATEST change per key. The third extraction
    strategy next to the reference's query-based scans and round-7's
    snapshot-diff: no source cursor column AND no full snapshots needed,
    just the transaction log.

    One partial-aggregable groupBy: ``max(struct(seq, op, image...))``
    picks the per-key winner with map-side combine — deliberately NOT a
    row_number window, whose per-key partitions skew on hot keys and
    whose sort is wasted when only the max survives. At 100 TB of log,
    the shuffle carries one row per DISTINCT key. Sequence uniqueness per
    key is the upstream contract (binlog offsets are unique by
    construction); should a malformed log carry colliding sequences
    anyway, ties resolve by an explicit op PRECEDENCE rank
    ('d' > 'u' > 'c' > 'r') rather than by lexicographic accident — a
    delete deterministically wins over an update at the same sequence,
    so a duplicated seq can never silently resurrect a deleted row.
    Debezium's snapshot-read op 'r' is accepted as an upsert (it IS the
    row image — a snapshot-seeded log's seed rows must survive
    compaction), ranked weakest so any real change at the same sequence
    supersedes it. Rows whose op is not one of 'c'/'u'/'d'/'r'
    (including NULL) are dropped up front: without the filter a NULL-op
    row would anti-join its base row away in :func:`apply_change_log`
    yet fail every downstream op comparison, silently acting as a
    delete."""
    log = log.where(F.lower(F.col(op_col)).isin("c", "u", "d", "r"))
    img_cols = [c for c in log.columns if c not in (op_col, seq_col)]
    data_cols = [c for c in img_cols if c not in keys]
    op_rank = (F.when(F.lower(F.col(op_col)) == "d", F.lit(3))
                .when(F.lower(F.col(op_col)) == "u", F.lit(2))
                .when(F.lower(F.col(op_col)) == "c", F.lit(1))
                .otherwise(F.lit(0)))
    winner = F.max(F.struct(
        F.col(seq_col).alias("__seq"), op_rank.alias("__rank"),
        F.col(op_col).alias("__op"),
        *[F.col(c).alias(c) for c in data_cols])).alias("w")
    g = log.groupBy(*[F.col(k) for k in keys]).agg(winner)
    return g.select(
        *keys,
        F.col("w.__seq").alias(seq_col),
        F.col("w.__op").alias(op_col),
        *[F.col(f"w.{c}").alias(c) for c in data_cols])


def apply_change_log(base: DataFrame, log: DataFrame, keys: list[str],
                     seq_col: str, op_col: str = "op") -> DataFrame:
    """Log-based CDC, step 2 — merge a compacted (or raw) change log
    onto the base table: every key's final fate is its LATEST log entry
    ('d' -> gone, 'c'/'u' -> the new row image), keys absent from the
    log keep their base row. Same shuffle budget as apply_diff (one
    compaction groupBy + one null-safe anti-join + a union); at 100 TB
    bucket base and log by key (plans/bucketing.py) and nothing
    re-shuffles. Idempotent: replaying the same log is a no-op, which is
    what makes at-least-once log delivery safe."""
    import functools
    import operator as _op
    latest = compact_change_log(log, keys, seq_col, op_col)
    touched = latest.select(
        *[F.col(k).alias(f"__t_{k}") for k in keys]).distinct()
    cond = functools.reduce(_op.and_, [
        F.col(k).eqNullSafe(F.col(f"__t_{k}")) for k in keys])
    kept = base.join(touched, cond, "left_anti")
    incoming = (latest.where(F.lower(F.col(op_col)) != "d")
                      .drop(op_col, seq_col))
    return kept.unionByName(incoming)
