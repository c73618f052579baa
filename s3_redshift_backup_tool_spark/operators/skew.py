"""Skew mitigation: salted joins.

AQE's skew-join split handles sort-merge skew at runtime, but a
broadcast-infeasible join against a *hot key* (one key holding 10% of
100 TB) still bottlenecks a single task per key. Salting splits each hot
key into ``num_salts`` synthetic sub-keys: the big side scatters rows
across salts, the small side replicates each row to every salt, and the
join key becomes (key, salt) — the hot key's rows now land on
``num_salts`` tasks.

Cost model: small side grows x num_salts (shuffle + memory), big side
unchanged. Use for the handful of keys a frequency probe flags, not the
whole join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

SALT = "__salt"


def salt_big_side(df: DataFrame, num_salts: int,
                  scatter_col: str | None = None) -> DataFrame:
    """Scatter rows across ``num_salts`` sub-keys. Deterministic when a
    ``scatter_col`` (any high-cardinality column) is given — hashed into
    a salt; otherwise a seeded uniform random salt."""
    if scatter_col is not None:
        salt = F.pmod(F.xxhash64(F.col(scatter_col)), F.lit(num_salts))
    else:
        salt = (F.rand(seed=42) * num_salts).cast("int")
    return df.withColumn(SALT, salt.cast("int"))


def explode_small_side(df: DataFrame, num_salts: int) -> DataFrame:
    """Replicate each row to every salt value (the broadcast-like
    expansion that makes (key, salt) a complete join key)."""
    return (df.withColumn(SALT, F.explode(F.sequence(F.lit(0), F.lit(num_salts - 1))))
              .withColumn(SALT, F.col(SALT).cast("int")))


def salted_join(big: DataFrame, small: DataFrame, on: list[str] | str,
                num_salts: int = 8, how: str = "inner",
                scatter_col: str | None = None) -> DataFrame:
    """Join ``big`` with ``small`` on ``on`` + synthetic salt.

    Semantically identical to ``big.join(small, on, how)`` for inner and
    left joins (every big row keeps exactly one salt; every small row
    exists at every salt). ``num_salts`` only affects cost, never the
    result: enough salts to split the hottest key's rows into task-sized
    chunks, no more, since each salt replicates the small side once."""
    if how not in ("inner", "left", "left_outer", "leftouter"):
        raise ValueError(f"salted_join supports inner/left joins, not {how!r}")
    keys = [on] if isinstance(on, str) else list(on)
    b = salt_big_side(big, num_salts, scatter_col)
    s = explode_small_side(small, num_salts)
    return b.join(s, keys + [SALT], how).drop(SALT)


def grouped_topk_sharded(df: DataFrame, group_col: str,
                         order_cols: list, k: int,
                         shards: int = 16,
                         key_col: str | None = None) -> DataFrame:
    """Per-group top-k that survives HOT groups: the plain
    ``row_number() OVER (PARTITION BY group ORDER BY ...)`` puts each
    whole group in one task — a group holding 10% of a 100 TB table
    serializes 10 TB through one core. Two-stage exact alternative:

    1. shard stage: rank within (group, shard) where the shard is a
       deterministic hash of ``key_col`` (or a hash of all order
       columns) — every shard-local top-k runs in parallel, and a
       group's true top-k is a SUBSET of the union of its shard
       top-ks (each true winner beats everything in its own shard);
    2. re-rank stage: the same window over only the k*shards
       survivors per group — bounded input, skew gone.

    Cost: two narrow window passes instead of one; the first pass's
    partitions are ``1/shards`` the group size. Exact for any data.
    ``order_cols`` should end with a unique tiebreaker for
    deterministic output (same contract as assign_global_ids)."""
    from pyspark.sql.window import Window

    from .text import md5_prefix_int
    if key_col is None and not all(isinstance(c, str) for c in order_cols):
        raise ValueError(
            "grouped_topk_sharded needs key_col when order_cols contain "
            "sort expressions (desc()/asc() are not hashable values)")
    shard_src = F.col(key_col) if key_col else \
        F.concat_ws("|", *[F.col(c) for c in order_cols])
    ordering = [F.col(c) if isinstance(c, str) else c for c in order_cols]
    shard = F.pmod(md5_prefix_int(shard_src.cast("string")),
                   F.lit(shards))
    w1 = Window.partitionBy(group_col, "__shard").orderBy(*ordering)
    w2 = Window.partitionBy(group_col).orderBy(*ordering)
    return (df.withColumn("__shard", shard)
              .withColumn("__r1", F.row_number().over(w1))
              .filter(F.col("__r1") <= k)
              .withColumn("__r2", F.row_number().over(w2))
              .filter(F.col("__r2") <= k)
              .drop("__shard", "__r1", "__r2"))


def skew_report(df: DataFrame, key_col: str,
                round_dp: int = 6) -> DataFrame:
    """Join/groupBy-key skew diagnostic: the numbers that decide whether
    a key needs salting (``salted_join``) or AQE's skew-join split.

    One row out: total rows, distinct keys, the heaviest key's row count
    and share of the table, and the mean rows-per-key — computed as
    groupBy(key).count() (partial-aggregable; shuffle carries one row
    per DISTINCT key) followed by a scalar aggregate over the counts.
    NULL keys count as a key (they hash-collide into one partition in a
    real join — exactly the skew this report exists to surface)."""
    counts = df.groupBy(key_col).agg(F.count(F.lit(1)).alias("__c"))
    return counts.agg(
        F.sum("__c").alias("n_rows"),
        F.count(F.lit(1)).alias("n_keys"),
        F.max("__c").alias("max_key_rows"),
        F.round(F.max("__c") * F.lit(1.0) / F.sum("__c"), round_dp)
         .alias("max_key_share"),
        F.round(F.sum("__c") * F.lit(1.0) / F.count(F.lit(1)), round_dp)
         .alias("avg_rows_per_key"))


def bloom_semi_join(big: DataFrame, small: DataFrame, on: list[str],
                    m_bits: int = 1 << 20, h_funcs: int = 4,
                    seed: int = 7) -> DataFrame:
    """left_semi of ``big`` against ``small`` with a broadcast Bloom
    pre-filter on the big side — IDENTICAL output to a plain left_semi
    (false positives die in the exact join that follows), but big-side
    rows that fail the Bloom never enter the shuffle.

    The 100 TB regime this exists for: ``small`` is a computed,
    medium-cardinality key set (too big to broadcast-hash-join outright
    or produced mid-pipeline where AQE's runtime bloom doesn't reach)
    and ``big`` is the fact table. The mask is m_bits/8 bytes on a
    1-row broadcast; the gate is pure JVM bit arithmetic inside
    codegen, so the shuffled volume drops to |matches| + FP-rate x
    |big|. Size m_bits ~ 20x the small side's distinct key count for
    ~2% FP. Same mask/word-fold machinery as the decontamination
    bloom (dedup.bloom_mask_from_keys)."""
    from .dedup import (_bloom_position_cols, bloom_gate_sql,
                        bloom_mask_df)

    def _key(df: DataFrame):
        parts = [F.when(F.col(c).isNull(), F.lit("\\N"))
                  .otherwise(F.col(c).cast("string")) for c in on]
        return F.concat_ws("|", *parts)

    # r14 (guide §5/§2.4): the mask is now a LAZY 1-row relation — the
    # former driver collect made constructing this plan an eager
    # multi-job action — and the mask keys are no longer .distinct()'d
    # first (the word fold is idempotent; the exact semi-join below
    # keeps its own distinct — that one bounds the JOIN build side)
    keys = small.select(_key(small).alias("__k"))
    mask_df = bloom_mask_df(keys, "__k", m_bits, h_funcs, seed)
    pre = (big.crossJoin(F.broadcast(mask_df))
              .select(*big.columns, F.col("__bloom_mask"),
                      *_bloom_position_cols(_key(big), m_bits, h_funcs,
                                            seed))
              .filter(F.expr(bloom_gate_sql(h_funcs)))
              .select(*big.columns))
    return pre.join(small.select(*on).distinct(), on, "left_semi")
