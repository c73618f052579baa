"""Schema-alignment projection + scalar cast suite.

Re-implements the reference's row-wise Python alignment
(``src/core/s3_manager.py:705-845`` ``_align_dataframe_to_poc_schema``) as a
single Catalyst projection: rename -> add-missing(null) -> cast -> reorder,
all built-in column expressions, zero UDFs, fully codegen'd. On 100 TB this
runs inside WholeStageCodegen at scan speed instead of a Python loop.

Cast suite mapping (SURVEY §2.8):
  F1 decimal quantize      s3_manager.py:741-765  -> cast(DecimalType(p,s))
  F2 timestamp parse       :767-769               -> to_timestamp
  F3 boolean from int/str  :771-789               -> when/otherwise
  F4 integer downcast      :791-801               -> cast(small/int/bigint)
  F5 string + null semantics :803-825             -> null->"" for NOT NULL,
                                                     'nan'/'none'/'null' scrub
  F6 unix epoch <-> ts     cdc_strategy_engine.py:246-251,306-329
  F7 ISO normalize         row_based.py:228-246
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..schema import sanitize_column_name

_TRUTHY = ("true", "1", "yes", "on", "t", "y")
_NULLISH_STRINGS = ("nan", "none", "null")


def cast_boolean(col: Column) -> Column:
    """F3: bool from int/str ('true','1','yes','on' — reference :771-789)."""
    s = F.lower(F.trim(col.cast("string")))
    return (F.when(col.isNull(), F.lit(None).cast("boolean"))
             .otherwise(s.isin(*_TRUTHY)))


def cast_string_with_null_semantics(col: Column, nullable: bool) -> Column:
    """F5 (reference :803-825): literal 'nan'/'none'/'null' scrubbed to NULL;
    NULL in a NOT NULL string column becomes '' (Redshift NOT NULL compat)."""
    s = col.cast("string")
    scrubbed = F.when(F.lower(F.trim(s)).isin(*_NULLISH_STRINGS), F.lit(None)).otherwise(s)
    if nullable:
        return scrubbed
    return F.coalesce(scrubbed, F.lit(""))


def cast_to(col: Column, dtype: T.DataType, nullable: bool = True) -> Column:
    """Dispatch one column cast per the reference's per-type converters."""
    if isinstance(dtype, T.BooleanType):
        return cast_boolean(col)
    if isinstance(dtype, T.StringType):
        return cast_string_with_null_semantics(col, nullable)
    if isinstance(dtype, T.TimestampType):
        # F2: permissive parse; non-timestamp strings -> NULL (coerce)
        return F.to_timestamp(col)
    if isinstance(dtype, T.DecimalType):
        # F1: quantize to (p,s); Spark casts via exact decimal arithmetic
        # (HALF_UP), the set-based analog of the reference's string-path
        # Decimal quantize that avoids float round-trip loss.
        return col.cast(dtype)
    return col.cast(dtype)


def align_to_schema(df: DataFrame, target: T.StructType,
                    rename_map: dict[str, str] | None = None,
                    sanitize_names: bool = True) -> DataFrame:
    """P4 schema-alignment projection (reference :705-845).

    Steps, as one select (single projection node in the plan):
      1. apply persisted rename map (reference column_mapper.py:45-112)
         and name sanitization (lowercase, digit-prefix — F9);
      2. missing target columns -> typed NULL (reference :735-738);
      3. extra source columns dropped;
      4. per-type cast suite;
      5. target column order (reference :827-829).
    """
    rename_map = rename_map or {}
    src_cols: dict[str, str] = {}
    for c in df.columns:
        out = rename_map.get(c, c)
        if sanitize_names:
            out = sanitize_column_name(out)
        src_cols[out] = c

    projection: list[Column] = []
    for fld in target.fields:
        tname = fld.name.lower() if sanitize_names else fld.name
        if tname in src_cols:
            col = F.col(f"`{src_cols[tname]}`")
            projection.append(cast_to(col, fld.dataType, fld.nullable).alias(tname))
        else:
            if isinstance(fld.dataType, T.StringType) and not fld.nullable:
                projection.append(F.lit("").alias(tname))
            else:
                projection.append(F.lit(None).cast(fld.dataType).alias(tname))
    return df.select(*projection)


def normalize_timestamp_string(col: Column) -> Column:
    """F7: ISO 'T'/'Z'/us/tz -> 'YYYY-MM-DD HH:MM:SS' (reference
    row_based.py:228-246, base.py:778-796)."""
    return F.date_format(F.to_timestamp(col), "yyyy-MM-dd HH:mm:ss")


def epoch_to_timestamp(col: Column) -> Column:
    """F6: UNIX seconds -> timestamp (reference :306-329)."""
    return F.timestamp_seconds(col.cast("long"))


def timestamp_to_epoch(col: Column) -> Column:
    """F6: timestamp -> UNIX seconds (reference query-side UNIX_TIMESTAMP)."""
    return F.unix_timestamp(col)
