"""Extension parity queries: analytics joins/aggregations, event-time
windows, and the LLM-training-data operators (text analysis, dedup,
similarity search, multimodal plumbing).

Same conventions as parity.py. The dedup/similarity oracles reproduce the
Spark hashes exactly via md5-prefix int64 (``CAST('0x'||substr(md5(x),1,15)
AS BIGINT)``), and array arithmetic uses index-ordered left-to-right
reduction on both engines so doubles match to rounding.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from .operators import dedup as dd
from .operators import similarity as sim
from .operators import temporal as tmp
from .operators import text as tx
from .operators.multimodal import attach_media, payload_stats
from .parity import REGISTRY, _t, q
from .streaming.incremental import sessionized_counts

# md5-prefix int64 in DuckDB
_H = "CAST('0x' || substr(md5({x}), 1, 15) AS BIGINT)"

# ==========================================================================
# Analytics: joins + aggregations (SURVEY §2.3/§2.4 — free on Spark,
# exercised because the reference's users get them from Redshift today)
# ==========================================================================

@q("pricing_summary_lineitem",
   """SELECT l_returnflag, l_linestatus,
             CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
             CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
             CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE)
               AS sum_disc_price,
             CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_qty,
             count(*) AS count_order
      FROM lineitem GROUP BY l_returnflag, l_linestatus""",
   "TPC-H Q1-style pricing summary (capability the reference delegates to Redshift)")
def pricing_summary_lineitem(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    dec_qty = F.col("l_quantity").cast("decimal(18,2)")
    dec_price = F.col("l_extendedprice").cast("decimal(18,2)")
    dec_disc = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(18,4)")
    return (li.groupBy("l_returnflag", "l_linestatus")
              .agg(F.sum(dec_qty).cast("double").alias("sum_qty"),
                   F.sum(dec_price).cast("double").alias("sum_base_price"),
                   F.sum(dec_disc).cast("double").alias("sum_disc_price"),
                   (F.sum(dec_qty).cast("double") / F.count(F.lit(1))).alias("avg_qty"),
                   F.count(F.lit(1)).alias("count_order")))


@q("revenue_by_nation",
   """SELECT n_name,
             CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE)
               AS revenue,
             count(*) AS n_items
      FROM customer
      JOIN nation ON c_nationkey = n_nationkey
      JOIN orders ON o_custkey = c_custkey
      JOIN lineitem ON l_orderkey = o_orderkey
      GROUP BY n_name""",
   "multi-way join + agg; only the fixed-cardinality dim (nation, 25 "
   "rows) is hint-broadcast — customer scales with data size, so its "
   "join strategy is left to AQE's size threshold (a forced hint OOMs "
   "executors at 100x scale)")
def revenue_by_nation(spark, sf_dir):
    cust = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(18,4)")
    return (li.join(orders, li.l_orderkey == orders.o_orderkey)
              .join(cust, orders.o_custkey == cust.c_custkey)
              .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
              .groupBy("n_name")
              .agg(F.sum(rev).cast("double").alias("revenue"),
                   F.count(F.lit(1)).alias("n_items")))


@q("order_priority_exists",
   """SELECT o_orderpriority, count(*) AS n_orders FROM orders o
      WHERE EXISTS (SELECT 1 FROM lineitem
                    WHERE l_orderkey = o.o_orderkey AND l_shipdate > o.o_orderdate)
      GROUP BY o_orderpriority""",
   "EXISTS == left_semi join (verification-pattern join)")
def order_priority_exists(spark, sf_dir):
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    cond = (orders.o_orderkey == li.l_orderkey) & (li.l_shipdate > orders.o_orderdate)
    return (orders.join(li, cond, "left_semi")
                  .groupBy("o_orderpriority")
                  .agg(F.count(F.lit(1)).alias("n_orders")))


@q("shipping_priority_top10",
   """SELECT l_orderkey,
             CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4)))
                  AS DOUBLE) AS revenue,
             o_orderdate
      FROM customer JOIN orders ON c_custkey = o_custkey
      JOIN lineitem ON l_orderkey = o_orderkey
      WHERE o_orderdate < TIMESTAMP '1998-06-01 00:00:00'
        AND l_shipdate > TIMESTAMP '1998-06-01 00:00:00'
      GROUP BY l_orderkey, o_orderdate
      ORDER BY revenue DESC, o_orderdate, l_orderkey LIMIT 10""",
   "TPC-H Q3-style: join + agg + top-k (TakeOrderedAndProject after partial agg)")
def shipping_priority_top10(spark, sf_dir):
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    cut = F.lit("1998-06-01 00:00:00").cast("timestamp")
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(18,4)")
    return (li.filter(F.col("l_shipdate") > cut)
              .join(orders.filter(F.col("o_orderdate") < cut),
                    F.col("l_orderkey") == F.col("o_orderkey"))
              .join(cust, F.col("o_custkey") == F.col("c_custkey"))  # AQE decides
              .groupBy("l_orderkey", "o_orderdate")
              .agg(F.sum(rev).cast("double").alias("revenue"))
              .select("l_orderkey", "revenue", "o_orderdate")
              .orderBy(F.desc("revenue"), "o_orderdate", "l_orderkey").limit(10))


@q("part_type_revenue_share",
   """SELECT p_type,
             CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4)))
                  AS DOUBLE) AS revenue,
             count(*) AS n_items
      FROM lineitem JOIN part ON l_partkey = p_partkey
      GROUP BY p_type""",
   "fact-to-dim join on part (broadcast) + revenue rollup by product type")
def part_type_revenue_share(spark, sf_dir):
    part = _t(spark, sf_dir, "part")
    li = _t(spark, sf_dir, "lineitem")
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(18,4)")
    return (li.join(part, F.col("l_partkey") == F.col("p_partkey"))  # AQE decides
              .groupBy("p_type")
              .agg(F.sum(rev).cast("double").alias("revenue"),
                   F.count(F.lit(1)).alias("n_items")))


@q("supplier_revenue_by_nation",
   """SELECT n_name,
             CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4)))
                  AS DOUBLE) AS supplier_revenue
      FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
      JOIN nation ON s_nationkey = n_nationkey
      GROUP BY n_name""",
   "supplier-side star join: two broadcast dims over the fact table")
def supplier_revenue_by_nation(spark, sf_dir):
    sup = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation")
    li = _t(spark, sf_dir, "lineitem")
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(18,4)")
    return (li.join(sup, F.col("l_suppkey") == F.col("s_suppkey"))  # AQE decides
              .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
              .groupBy("n_name")
              .agg(F.sum(rev).cast("double").alias("supplier_revenue")))


@q("customers_without_orders",
   """SELECT c_custkey, c_mktsegment FROM customer c
      WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c.c_custkey)""",
   "NOT EXISTS == left_anti join (relational complement of the manifest "
   "anti-join pattern)")
def customers_without_orders(spark, sf_dir):
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    return (cust.join(orders, cust.c_custkey == orders.o_custkey, "left_anti")
                .select("c_custkey", "c_mktsegment"))


@q("distinct_users_daily",
   """SELECT date_trunc('day', ts) AS day,
             count(DISTINCT user_id) AS n_users,
             count(*) AS n_events
      FROM events GROUP BY 1""",
   "distinct aggregate (two-level expand+agg; approx_count_distinct is "
   "the 100TB drop-in at fixed memory)")
def distinct_users_daily(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    return (ev.groupBy(F.date_trunc("day", "ts").alias("day"))
              .agg(F.countDistinct("user_id").alias("n_users"),
                   F.count(F.lit(1)).alias("n_events")))


@q("revenue_rollup_flag_status",
   """SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
             coalesce(l_linestatus, 'ALL') AS linestatus,
             CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
               AS revenue,
             count(*) AS n
      FROM lineitem
      GROUP BY ROLLUP (l_returnflag, l_linestatus)""",
   "ROLLUP hierarchy totals (subtotal + grand-total rows) — §2.4 'Spark "
   "provides natively' made concrete")
def revenue_rollup_flag_status(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    return (li.rollup("l_returnflag", "l_linestatus")
              .agg(F.sum(F.col("l_extendedprice").cast("decimal(18,2)"))
                    .cast("double").alias("revenue"),
                   F.count(F.lit(1)).alias("n"))
              .select(F.coalesce("l_returnflag", F.lit("ALL")).alias("returnflag"),
                      F.coalesce("l_linestatus", F.lit("ALL")).alias("linestatus"),
                      "revenue", "n"))


@q("event_gap_lag_window",
   """SELECT user_id, event_id,
             CAST(date_diff('second',
                  lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id),
                  ts) AS BIGINT) AS gap_s,
             rank()  OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rk
      FROM events WHERE user_id < 10""",
   "lag + rank analytic windows partitioned by user (no global window)")
def event_gap_lag_window(spark, sf_dir):
    from pyspark.sql import Window
    ev = _t(spark, sf_dir, "events").filter(F.col("user_id") < 10)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return ev.select(
        "user_id", "event_id",
        (F.col("ts").cast("long") - F.lag(F.col("ts").cast("long")).over(w))
            .alias("gap_s"),
        F.rank().over(w).alias("rk"))


@q("rolling_hour_avg_value",
   """SELECT user_id, event_id,
             round(avg(value) OVER (
                 PARTITION BY user_id ORDER BY epoch_us(ts)
                 RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW), 6)
               AS rolling_avg
      FROM events WHERE user_id < 10""",
   "time-RANGE rolling aggregate (trailing 1h mean per user): "
   "rangeBetween on epoch MICROSECONDS (timestamps carry sub-second "
   "precision; truncated seconds would put boundary events in the wrong "
   "frame) — frame bounds are data values, not row offsets, so "
   "late/dense bursts weight correctly; per-user partitions keep the "
   "window state bounded")
def rolling_hour_avg_value(spark, sf_dir):
    from pyspark.sql import Window
    ev = _t(spark, sf_dir, "events").filter(F.col("user_id") < 10)
    w = (Window.partitionBy("user_id")
         .orderBy(F.unix_micros("ts"))
         .rangeBetween(-3_600_000_000, 0))
    return ev.select("user_id", "event_id",
                     F.round(F.avg("value").over(w), 6).alias("rolling_avg"))


@q("ntile_cumedist_customers",
   """SELECT c_custkey,
             ntile(4)     OVER (ORDER BY c_acctbal, c_custkey) AS balance_quartile,
             round(cume_dist() OVER (ORDER BY c_acctbal, c_custkey), 6) AS cd,
             round(percent_rank() OVER (ORDER BY c_acctbal, c_custkey), 6) AS pr
      FROM customer""",
   "distribution analytics: ntile / cume_dist / percent_rank with a "
   "deterministic tie-broken ordering, WITHOUT the single global "
   "window: the ordering includes the unique key, so all three are "
   "closed forms of (global_rank, n) — ranks via "
   "partitioning.assign_global_ids (range exchange + per-partition "
   "numbering), n as a broadcast 1-row max. cume_dist = rn/n and "
   "percent_rank = (rn-1)/(n-1) hold exactly BECAUSE the order is "
   "total; with ties you would instead join back per-value min/max "
   "ranks. Oracle twin is the global-window SQL form")
def ntile_cumedist_customers(spark, sf_dir):
    from .operators.partitioning import _idiv, assign_global_ids
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_acctbal")
    ranked = assign_global_ids(cust, ["c_acctbal", "c_custkey"],
                               id_col="__rn")
    total = ranked.agg(F.max("__rn").alias("__n"))
    rn, n, k = F.col("__rn"), F.col("__n"), F.lit(4)
    base, rem = _idiv(n, k), n % k
    cut = rem * (base + 1)
    quartile = (F.when(rn <= cut, _idiv(rn - 1, base + 1) + 1)
                 .otherwise(rem + _idiv(rn - cut - 1, base) + 1))
    pr = F.when(n > 1, (rn - 1) / (n - 1)).otherwise(F.lit(0.0))
    return (ranked.crossJoin(F.broadcast(total))
            .select("c_custkey",
                    quartile.cast("int").alias("balance_quartile"),
                    F.round(rn / n, 6).alias("cd"),
                    F.round(pr, 6).alias("pr")))


# ==========================================================================
# Event-time windows (§2.12 capability extension: tumbling/sliding/session)
# ==========================================================================

@q("tumbling_daily_events",
   """SELECT date_trunc('day', ts) AS day, event_type,
             count(*) AS n_events,
             CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
      FROM events GROUP BY 1, 2""",
   "tumbling window agg — window(ts, '1 day') (streaming-identical plan)")
def tumbling_daily_events(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    return (ev.groupBy(F.window("ts", "1 day").alias("w"), "event_type")
              .agg(F.count(F.lit(1)).alias("n_events"),
                   F.sum(F.col("value").cast("decimal(18,6)")).cast("double")
                    .alias("sum_value"))
              .select(F.col("w.start").alias("day"), "event_type",
                      "n_events", "sum_value"))


@q("sliding_2h1h_events",
   """SELECT ws, count(*) AS n_events FROM (
        SELECT unnest([date_trunc('hour', ts) - INTERVAL 1 HOUR,
                       date_trunc('hour', ts)]) AS ws
        FROM events) t
      GROUP BY ws""",
   "sliding window (2h size / 1h slide): each event lands in 2 windows")
def sliding_2h1h_events(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    return (ev.groupBy(F.window("ts", "2 hours", "1 hour").alias("w"))
              .agg(F.count(F.lit(1)).alias("n_events"))
              .select(F.col("w.start").alias("ws"), "n_events"))


@q("session_windows_events",
   """WITH d AS (
        SELECT user_id, ts, value,
               CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                         >= INTERVAL 30 MINUTE
                    THEN 1 ELSE 0 END AS brk
        FROM events),
      s AS (
        SELECT user_id, ts, value,
               sum(brk) OVER (PARTITION BY user_id ORDER BY ts
                              ROWS UNBOUNDED PRECEDING) AS sid
        FROM d)
      SELECT user_id, min(ts) AS session_start, count(*) AS n_events,
             CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
      FROM s GROUP BY user_id, sid""",
   "session windows (30 min gap) — session_window() vs lag/cumsum oracle; "
   "gap boundary is half-open on both sides")
def session_windows_events(spark, sf_dir):
    ev = _t(spark, sf_dir, "events").withColumn(
        "value", F.col("value").cast("decimal(18,6)"))
    out = sessionized_counts(ev, ts_col="ts", gap="30 minutes", user_col="user_id")
    return out.select(
        "user_id", F.col("session_window.start").alias("session_start"),
        "n_events", F.col("sum_value").cast("double").alias("sum_value"))


# ==========================================================================
# Text analysis (documents)
# ==========================================================================

_STOP_SQL = "['" + "', '".join(tx.STOPWORDS) + "']"

@q("text_stats_documents",
   f"""SELECT doc_id,
             CAST(length(text) AS BIGINT) AS n_chars,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
             CAST(len(regexp_extract_all(text, '{tx.TOKEN_REGEX}')) AS BIGINT) AS n_tokens_regex,
             round(CAST(length(text) - (len(string_split(text, ' ')) - 1) AS DOUBLE)
                   / len(string_split(text, ' ')), 6) AS avg_token_len,
             round(CAST(len(list_filter(string_split(text, ' '),
                                        x -> list_contains({_STOP_SQL}, x))) AS DOUBLE)
                   / len(string_split(text, ' ')), 6) AS stopword_ratio,
             round(CAST(length(regexp_replace(text, '[a-zA-Z0-9\\s]', '', 'g')) AS DOUBLE)
                   / length(text), 6) AS punct_ratio,
             round((least(CAST(length(text) AS DOUBLE) / 500.0, 1.0)
                    + greatest(1.0 - abs(round(CAST(len(list_filter(string_split(text, ' '),
                          x -> list_contains({_STOP_SQL}, x))) AS DOUBLE)
                          / len(string_split(text, ' ')), 6) - 0.25) * 2, 0.0)
                    + (1.0 - least(round(CAST(length(regexp_replace(text, '[a-zA-Z0-9\\s]',
                          '', 'g')) AS DOUBLE) / length(text), 6) * 5, 1.0))) / 3,
                   6) AS quality_score
      FROM documents""",
   "text quality/statistics suite — token counts, ratios, composite score")
def text_stats_documents(spark, sf_dir):
    return tx.text_stats(_t(spark, sf_dir, "documents"))


_LANG_CASE = []
for _lang in sorted(tx.LANG_MARKERS):  # de, en, es, fr — priority order
    _m = "['" + "', '".join(tx.LANG_MARKERS[_lang]) + "']"
    _LANG_CASE.append(
        f"WHEN len(list_filter(t, x -> list_contains({_m}, x))) = best AND best > 0 "
        f"THEN '{_lang}'")
_LANG_SCORES = ", ".join(
    f"len(list_filter(t, x -> list_contains(['"
    + "', '".join(tx.LANG_MARKERS[_lang]) + "'], x)))"
    for _lang in sorted(tx.LANG_MARKERS))

@q("lang_id_documents",
   f"""WITH tk AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
      sc AS (SELECT doc_id, t, greatest({_LANG_SCORES}) AS best FROM tk)
      SELECT doc_id,
             CASE {' '.join(_LANG_CASE)} ELSE 'und' END AS lang_pred
      FROM sc""",
   "heuristic language ID (marker-stopword argmax, alphabetical priority)")
def lang_id_documents(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return docs.select("doc_id", tx.lang_id(F.col("text")).alias("lang_pred"))


@q("fingerprint_documents",
   f"""SELECT doc_id,
             list_min(list_transform(
                 generate_series(1, greatest(length(text) - 7, 1)),
                 i -> {_H.format(x="substr(text, i, 8)")})) AS fp
      FROM documents""",
   "rolling-hash document fingerprint: min over char-8-gram hashes "
   "(winnowing family, Schleimer'03)")
def fingerprint_documents(spark, sf_dir):
    docs = tx.fan_out(_t(spark, sf_dir, "documents"))
    return docs.select("doc_id", tx.fingerprint(F.col("text"), 8).alias("fp"))


@q("vocab_top20_documents",
   """SELECT tok, count(*) AS freq
      FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
      GROUP BY tok ORDER BY freq DESC, tok LIMIT 20""",
   "corpus vocabulary top-k: explode + partial-agg count + "
   "TakeOrderedAndProject (the wordcount that actually scales)")
def vocab_top20_documents(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return (docs.select(F.explode(F.split("text", " ")).alias("tok"))
                .groupBy("tok").agg(F.count(F.lit(1)).alias("freq"))
                .orderBy(F.desc("freq"), "tok").limit(20))


@q("price_percentiles_orders",
   """SELECT o_orderpriority,
             round(quantile_cont(o_totalprice, 0.5), 6) AS p50,
             round(quantile_cont(o_totalprice, 0.95), 6) AS p95,
             round(max(o_totalprice), 6) AS p100
      FROM orders GROUP BY o_orderpriority""",
   "exact interpolated percentiles per group (percentile == "
   "quantile_cont); percentile_approx is the fixed-memory 100TB drop-in")
def price_percentiles_orders(spark, sf_dir):
    orders = _t(spark, sf_dir, "orders")
    return (orders.groupBy("o_orderpriority")
            .agg(F.round(F.expr("percentile(o_totalprice, 0.5)"), 6).alias("p50"),
                 F.round(F.expr("percentile(o_totalprice, 0.95)"), 6).alias("p95"),
                 F.round(F.max("o_totalprice"), 6).alias("p100")))


# ==========================================================================
# Temporal joins (as-of / range) — operators Spark lacks as built-ins,
# implemented shuffle-lean in operators/temporal.py
# ==========================================================================

@q("asof_click_attribution",
   """SELECT p.user_id,
             p.event_id AS purchase_id,
             p.ts       AS purchase_ts,
             c.event_id AS click_id,
             c.ts       AS click_ts
      FROM (SELECT * FROM events WHERE event_type = 'purchase') p
      ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
        ON p.user_id = c.user_id AND p.ts >= c.ts""",
   "as-of join (purchase -> latest prior click per user): tagged union + "
   "last-ignorenulls window, ONE key shuffle, no range blow-up")
def asof_click_attribution(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    purchases = (ev.filter(F.col("event_type") == "purchase")
                   .select("user_id", F.col("event_id").alias("purchase_id"),
                           F.col("ts").alias("purchase_ts")))
    clicks = (ev.filter(F.col("event_type") == "click")
                .select("user_id", F.col("event_id").alias("click_id"),
                        F.col("ts").alias("click_ts")))
    return tmp.asof_join(purchases, clicks, on="user_id",
                         left_ts="purchase_ts", right_ts="click_ts",
                         right_tiebreak="click_id")


@q("range_clicks_before_purchase",
   """SELECT p.event_id AS purchase_id, p.user_id,
             count(c.event_id) AS clicks_1h
      FROM (SELECT * FROM events WHERE event_type = 'purchase') p
      LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
        ON c.user_id = p.user_id
       AND c.ts >= p.ts - INTERVAL 1 HOUR AND c.ts < p.ts
      GROUP BY 1, 2""",
   "range join (clicks in the hour before each purchase): time-bucketed "
   "equi-join + residual filter — avoids BroadcastNestedLoopJoin at scale")
def range_clicks_before_purchase(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    purchases = (ev.filter(F.col("event_type") == "purchase")
                   .select("user_id", F.col("event_id").alias("purchase_id"),
                           F.col("ts").alias("purchase_ts")))
    clicks = (ev.filter(F.col("event_type") == "click")
                .select("user_id", F.col("event_id").alias("click_id"),
                        F.col("ts").alias("click_ts")))
    pairs = tmp.range_join_bucketed(purchases, clicks, on="user_id",
                                    left_ts="purchase_ts", right_ts="click_ts",
                                    lower_s=-3600, upper_s=0)
    counts = pairs.groupBy("purchase_id").agg(
        F.count(F.lit(1)).alias("clicks_1h"))
    return (purchases.join(counts, "purchase_id", "left")
            .select("purchase_id", "user_id",
                    F.coalesce(F.col("clicks_1h"), F.lit(0)).alias("clicks_1h")))


# ==========================================================================
# More aggregation shapes: CUBE, HLL-with-tolerance, heavy join topologies
# ==========================================================================

@q("cube_status_priority_orders",
   """SELECT coalesce(o_orderstatus, 'ALL')   AS status,
             coalesce(o_orderpriority, 'ALL') AS priority,
             CAST(GROUPING(o_orderstatus)  AS INT) AS g_status,
             CAST(GROUPING(o_orderpriority) AS INT) AS g_priority,
             count(*) AS n_orders,
             CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_price
      FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)""",
   "CUBE over (status, priority) with grouping flags — map-side partial "
   "aggregation expands grouping sets without extra scans")
def cube_status_priority_orders(spark, sf_dir):
    orders = _t(spark, sf_dir, "orders")
    return (orders.cube("o_orderstatus", "o_orderpriority")
            .agg(F.grouping("o_orderstatus").cast("int").alias("g_status"),
                 F.grouping("o_orderpriority").cast("int").alias("g_priority"),
                 F.count(F.lit(1)).alias("n_orders"),
                 F.sum(F.col("o_totalprice").cast("decimal(18,4)"))
                  .cast("double").alias("sum_price"))
            .select(F.coalesce("o_orderstatus", F.lit("ALL")).alias("status"),
                    F.coalesce("o_orderpriority", F.lit("ALL")).alias("priority"),
                    "g_status", "g_priority", "n_orders", "sum_price"))


@q("approx_distinct_users_check",
   """SELECT count(DISTINCT user_id) AS n_users, TRUE AS within_tol
      FROM events""",
   "approx_count_distinct (HLL++, fixed memory — the 100TB path) asserted "
   "within 5% of the exact count; oracle checks the exact side. The "
   "sketch runs at rsd=0.01 so the 5% assertion is a ~5-sigma bound "
   "that holds at EVERY fixture scale — the original rsd=0.05 made the "
   "tolerance a 1-sigma coin flip, caught failing at sf0.1 by the r9 "
   "full-registry attestation at 10x the driver's SF")
def approx_distinct_users_check(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    return (ev.agg(F.count_distinct("user_id").alias("n_users"),
                   F.approx_count_distinct("user_id", 0.01).alias("__approx"))
            .select("n_users",
                    (F.abs(F.col("__approx") - F.col("n_users"))
                     <= 0.05 * F.col("n_users")).alias("within_tol")))


@q("large_volume_orders",
   """SELECT c_name, o.o_orderkey,
             round(o.o_totalprice, 4) AS totalprice,
             round(q.sum_qty, 4) AS sum_qty
      FROM orders o
      JOIN (SELECT l_orderkey, sum(l_quantity) AS sum_qty
            FROM lineitem GROUP BY 1 HAVING sum(l_quantity) > 150) q
        ON o.o_orderkey = q.l_orderkey
      JOIN customer ON c_custkey = o.o_custkey""",
   "TPC-H Q18 shape: pre-aggregated HAVING subquery (partial agg before "
   "the join) semi-filters the fact, then broadcast dim join")
def large_volume_orders(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    big = (li.groupBy("l_orderkey")
             .agg(F.sum("l_quantity").alias("sum_qty"))
             .filter(F.col("sum_qty") > 150))
    return (orders.join(big, orders.o_orderkey == big.l_orderkey)
            .join(cust, orders.o_custkey == cust.c_custkey)  # AQE decides
            .select("c_name", "o_orderkey",
                    F.round("o_totalprice", 4).alias("totalprice"),
                    F.round("sum_qty", 4).alias("sum_qty")))


@q("above_avg_idle_customers",
   """SELECT c_custkey, c_name, round(c_acctbal, 4) AS acctbal
      FROM customer c
      WHERE c_acctbal > (SELECT avg(c_acctbal) FROM customer)
        AND NOT EXISTS (SELECT 1 FROM orders o
                        WHERE o.o_custkey = c.c_custkey
                          AND o.o_orderdate >= TIMESTAMP '2000-01-01')""",
   "TPC-H Q22 shape: broadcast scalar subquery + anti-join on recent "
   "orders (stays a two-stage plan, no per-row subquery execution)")
def above_avg_idle_customers(spark, sf_dir):
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    avg_bal = cust.agg(F.avg("c_acctbal").alias("__avg_bal"))
    recent = orders.filter(F.col("o_orderdate") >= F.lit("2000-01-01").cast("timestamp"))
    return (cust.crossJoin(F.broadcast(avg_bal))
            .filter(F.col("c_acctbal") > F.col("__avg_bal"))
            .join(recent, cust.c_custkey == recent.o_custkey, "left_anti")
            .select("c_custkey", "c_name",
                    F.round("c_acctbal", 4).alias("acctbal")))


# ==========================================================================
# Deduplication (documents)
# ==========================================================================

@q("exact_dedup_documents",
   """SELECT md5(text) AS content_hash, min(doc_id) AS canonical_id,
             count(*) AS copies
      FROM documents GROUP BY 1""",
   "exact dedup via content-digest groupBy")
def exact_dedup_documents(spark, sf_dir):
    return dd.exact_dedup(_t(spark, sf_dir, "documents"))


_SHINGLE_CTE = """
  tk AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
  sh AS (SELECT doc_id, unnest(list_distinct(list_transform(
               generate_series(0, greatest(len(t) - 3, 0)),
               i -> array_to_string(list_slice(t, i + 1, i + 3), ' ')))) AS shingle
         FROM tk)"""

# affine MinHash family: one md5 per shingle, k = (a*lo + b*hi + c) mod 2^61-1
_MH_PARAMS = dd.minhash_params(16)
_MH_A = "[" + ", ".join(str(a) for a, _, _ in _MH_PARAMS) + "]"
_MH_B = "[" + ", ".join(str(b) for _, b, _ in _MH_PARAMS) + "]"
_MH_C = "[" + ", ".join(str(c) for _, _, c in _MH_PARAMS) + "]"

_MINHASH_CTE = _SHINGLE_CTE + f""",
  hashed AS (SELECT doc_id, {_H.format(x="shingle")} AS h FROM sh),
  sig AS (SELECT doc_id, hash_idx,
                 min((({_MH_A})[hash_idx + 1] * (h & 1073741823)
                    + ({_MH_B})[hash_idx + 1] * (h >> 30)
                    + ({_MH_C})[hash_idx + 1]) % {dd.MERSENNE61}) AS min_hash
          FROM hashed
          CROSS JOIN (SELECT unnest(generate_series(0, 15)) AS hash_idx) salts
          GROUP BY doc_id, hash_idx)"""

@q("minhash_signatures_documents",
   f"WITH {_MINHASH_CTE} SELECT doc_id, hash_idx, min_hash FROM sig",
   "MinHash signatures: one md5 per word 3-gram shingle + 16 affine-derived "
   "hash functions (Broder'97 / Carter-Wegman); per-row array math, no shuffle")
def minhash_signatures_documents(spark, sf_dir):
    return dd.minhash_signatures(_t(spark, sf_dir, "documents"),
                                 n=3, num_hashes=16)


@q("source_overlap_matrix_documents",
   f"""WITH {_MINHASH_CTE},
      ss AS (SELECT d.source, s.hash_idx, min(s.min_hash) AS m
             FROM sig s JOIN documents d USING (doc_id)
             GROUP BY d.source, s.hash_idx)
      SELECT a.source AS source_a, b.source AS source_b,
             round(avg(CASE WHEN a.m = b.m THEN 1.0 ELSE 0.0 END), 6)
               AS est_jaccard
      FROM ss a JOIN ss b
        ON a.hash_idx = b.hash_idx AND a.source < b.source
      GROUP BY a.source, b.source""",
   "cross-source contamination matrix: per-source MinHash union "
   "signature (min over docs' minima — MinHash composes over set "
   "union, so no per-source shingle set is materialized), then "
   "pairwise agreement-fraction Jaccard estimates on the "
   "|sources| x 16 relation; the 'which domains leak into each "
   "other' dashboard that targets bipartite decontamination runs")
def source_overlap_matrix_documents(spark, sf_dir):
    return dd.source_overlap_matrix(_t(spark, sf_dir, "documents"),
                                    n=3, num_hashes=16)


_PR_ITER = """r{K} AS (
        SELECT nodes.node,
               0.15 / nn.n
               + 0.85 * coalesce(sum(r{P}.rank / deg.deg), 0) AS rank
        FROM nodes CROSS JOIN nn
        LEFT JOIN edges ON edges.dst = nodes.node
        LEFT JOIN r{P} ON r{P}.node = edges.src
        LEFT JOIN deg ON deg.src = edges.src
        GROUP BY nodes.node, nn.n)"""


@q("pagerank_dup_graph_documents",
   f"""WITH {_MINHASH_CTE},
      banded AS (SELECT doc_id, hash_idx // 2 AS band,
                        md5(array_to_string(list_sort(
                            list(hash_idx::VARCHAR || ':' || min_hash::VARCHAR)),
                            ',')) AS band_hash
                 FROM sig GROUP BY doc_id, hash_idx // 2),
      pairs AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
                FROM banded a JOIN banded b
                  ON a.band = b.band AND a.band_hash = b.band_hash
                     AND a.doc_id < b.doc_id),
      edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
                UNION SELECT id_b, id_a FROM pairs),
      nodes AS (SELECT DISTINCT src AS node FROM edges),
      nn AS (SELECT count(*)::DOUBLE AS n FROM nodes),
      deg AS (SELECT src, count(*)::DOUBLE AS deg FROM edges GROUP BY src),
      r0 AS (SELECT node, 1.0 / n AS rank FROM nodes, nn),
      {_PR_ITER.format(K=1, P=0)},
      {_PR_ITER.format(K=2, P=1)},
      {_PR_ITER.format(K=3, P=2)}
      SELECT node, round(round(rank, 9), 6) AS rank FROM r3""",
   "PageRank (3 fixed power iterations, damping 0.85) over the "
   "MinHash-LSH dup graph — the web-corpus centrality signal, run on "
   "dup clusters so canonical-keep can pick the most CENTRAL member; "
   "each iteration is one O(E) edge join + groupBy(node), ranks "
   "checkpointed per iteration to keep the plan flat")
def pagerank_dup_graph_documents(spark, sf_dir):
    from .operators.graph import pagerank
    prs = dd.lsh_pairs(_t(spark, sf_dir, "documents"),
                       n=3, num_hashes=16, bands=8)
    # lsh_pairs emits DISTINCT id_a < id_b pairs, so the symmetrize
    # dedup shuffle inside pagerank is skippable (value-identical)
    return pagerank(prs, iters=3, damping=0.85, pairs_distinct=True) \
        .select("node", F.round("rank", 6).alias("rank"))


@q("kcore_dup_graph_documents",
   f"""WITH {_MINHASH_CTE},
      banded AS (SELECT doc_id, hash_idx // 2 AS band,
                        md5(array_to_string(list_sort(
                            list(hash_idx::VARCHAR || ':' || min_hash::VARCHAR)),
                            ',')) AS band_hash
                 FROM sig GROUP BY doc_id, hash_idx // 2),
      pairs AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
                FROM banded a JOIN banded b
                  ON a.band = b.band AND a.band_hash = b.band_hash
                     AND a.doc_id < b.doc_id),
      e0 AS (SELECT id_a AS src, id_b AS dst FROM pairs
             UNION SELECT id_b, id_a FROM pairs),
      d1 AS (SELECT src, count(*) AS d FROM e0 GROUP BY 1),
      k1 AS (SELECT src FROM d1 WHERE d >= 2),
      e1 AS (SELECT e.src, e.dst FROM e0 e
             JOIN k1 a ON e.src = a.src JOIN k1 b ON e.dst = b.src),
      d2 AS (SELECT src, count(*) AS d FROM e1 GROUP BY 1),
      k2 AS (SELECT src FROM d2 WHERE d >= 2),
      e2 AS (SELECT e.src, e.dst FROM e1 e
             JOIN k2 a ON e.src = a.src JOIN k2 b ON e.dst = b.src),
      d3 AS (SELECT src, count(*) AS d FROM e2 GROUP BY 1),
      k3 AS (SELECT src FROM d3 WHERE d >= 2),
      e3 AS (SELECT e.src, e.dst FROM e2 e
             JOIN k3 a ON e.src = a.src JOIN k3 b ON e.dst = b.src)
      SELECT src AS node, count(*) AS core_deg FROM e3 GROUP BY 1""",
   "2-core of the MinHash-LSH dup graph (3 fixed peel rounds, "
   "unrolled in the oracle like the PageRank iterations): nodes that "
   "survive repeated drop-degree-<2 are the dense template/spam blobs "
   "worth whole-cluster handling — pairwise dedup sees their edges one "
   "at a time, the core sees the blob. Each round is one degree "
   "groupBy + two semi-joins, O(E) shuffle, checkpointed flat; "
   "kcore() runs the same peel to convergence (equality at "
   "convergence pinned in tests)")
def kcore_dup_graph_documents(spark, sf_dir):
    from .operators.graph import kcore_peel
    prs = dd.lsh_pairs(_t(spark, sf_dir, "documents"),
                       n=3, num_hashes=16, bands=8)
    # lsh_pairs emits DISTINCT id_a < id_b pairs — skip the symmetrize
    # dedup shuffle (value-identical)
    return kcore_peel(prs, k=2, rounds=3, pairs_distinct=True)


@q("incremental_neardup_pairs_documents",
   f"""WITH {_MINHASH_CTE},
      banded AS (SELECT doc_id, hash_idx // 2 AS band,
                        md5(array_to_string(list_sort(
                            list(hash_idx::VARCHAR || ':' || min_hash::VARCHAR)),
                            ',')) AS band_hash
                 FROM sig GROUP BY doc_id, hash_idx // 2),
      pairs AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
                FROM banded a JOIN banded b
                  ON a.band = b.band AND a.band_hash = b.band_hash
                     AND a.doc_id < b.doc_id)
      SELECT id_a, id_b FROM pairs
      WHERE id_a % 2 = 1 OR id_b % 2 = 1""",
   "incremental near-dup: even-doc_id corpus persisted as a banded "
   "MinHash INDEX (save_lsh_index), odd-doc_id batch probed against it "
   "(lsh_index_pairs: batch bands broadcast, index never shuffles, "
   "corpus text never rescanned) + intra-batch bucket pairs; equals "
   "the from-scratch pair set restricted to batch-touching pairs — "
   "the oracle states exactly that restriction")
def incremental_neardup_pairs_documents(spark, sf_dir):
    import tempfile
    docs = _t(spark, sf_dir, "documents")
    idx_dir = tempfile.mkdtemp(prefix="lsh_idx_")
    dd.save_lsh_index(docs.filter(F.col("doc_id") % 2 == 0), idx_dir,
                      n=3, num_hashes=16, bands=8)
    return dd.lsh_index_pairs(spark, docs.filter(F.col("doc_id") % 2 == 1),
                              idx_dir, n=3, num_hashes=16, bands=8)


@q("minhash_lsh_pairs_documents",
   f"""WITH {_MINHASH_CTE},
      banded AS (SELECT doc_id, hash_idx // 2 AS band,
                        md5(array_to_string(list_sort(
                            list(hash_idx::VARCHAR || ':' || min_hash::VARCHAR)),
                            ',')) AS band_hash
                 FROM sig GROUP BY doc_id, hash_idx // 2)
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM banded a JOIN banded b
        ON a.band = b.band AND a.band_hash = b.band_hash AND a.doc_id < b.doc_id""",
   "LSH banding (8 bands x 2 rows): band hashes per-row from the "
   "signature array, pairs via bucket grouping — shuffle O(docs x "
   "bands), never O(docs^2)")
def minhash_lsh_pairs_documents(spark, sf_dir):
    return dd.lsh_pairs(_t(spark, sf_dir, "documents"),
                        n=3, num_hashes=16, bands=8)


@q("neardup_clusters_documents",
   f"""WITH RECURSIVE {_MINHASH_CTE},
      banded AS (SELECT doc_id, hash_idx // 2 AS band,
                        md5(array_to_string(list_sort(
                            list(hash_idx::VARCHAR || ':' || min_hash::VARCHAR)),
                            ',')) AS band_hash
                 FROM sig GROUP BY doc_id, hash_idx // 2),
      pairs AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
                FROM banded a JOIN banded b
                  ON a.band = b.band AND a.band_hash = b.band_hash
                     AND a.doc_id < b.doc_id),
      edges AS (SELECT id_a AS u, id_b AS v FROM pairs
                UNION SELECT id_b, id_a FROM pairs),
      reach(u, v) AS (
          SELECT u, u FROM (SELECT DISTINCT u FROM edges)
          UNION
          SELECT e.u, r.v FROM edges e JOIN reach r ON e.v = r.u)
      SELECT u AS doc_id, min(v) AS component FROM reach GROUP BY u""",
   "near-dup dedup groups: connected components over MinHash-LSH "
   "candidate pairs via min-label propagation (component-min fixed point "
   "is path-independent, so the reachability-closure oracle matches)")
def neardup_clusters_documents(spark, sf_dir):
    pairs = dd.lsh_pairs(_t(spark, sf_dir, "documents"),
                         n=3, num_hashes=16, bands=8)
    return dd.neardup_components(pairs, pairs_distinct=True)


@q("neardup_clusters_star_documents",
   f"""WITH RECURSIVE {_MINHASH_CTE},
      banded AS (SELECT doc_id, hash_idx // 2 AS band,
                        md5(array_to_string(list_sort(
                            list(hash_idx::VARCHAR || ':' || min_hash::VARCHAR)),
                            ',')) AS band_hash
                 FROM sig GROUP BY doc_id, hash_idx // 2),
      pairs AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
                FROM banded a JOIN banded b
                  ON a.band = b.band AND a.band_hash = b.band_hash
                     AND a.doc_id < b.doc_id),
      edges AS (SELECT id_a AS u, id_b AS v FROM pairs
                UNION SELECT id_b, id_a FROM pairs),
      reach(u, v) AS (
          SELECT u, u FROM (SELECT DISTINCT u FROM edges)
          UNION
          SELECT e.u, r.v FROM edges e JOIN reach r ON e.v = r.u)
      SELECT u AS doc_id, min(v) AS component FROM reach GROUP BY u""",
   "same dedup groups via large-star/small-star rounds (Kiveris'14): "
   "O(log^2 n) rounds independent of component diameter — the 100 TB "
   "swap for chain-shaped near-dup graphs; identical fixed point, so "
   "the same reachability-closure oracle must match bit-for-bit")
def neardup_clusters_star_documents(spark, sf_dir):
    pairs = dd.lsh_pairs(_t(spark, sf_dir, "documents"),
                         n=3, num_hashes=16, bands=8)
    return dd.neardup_components(pairs, algorithm="star",
                                 pairs_distinct=True)


@q("ngram_jaccard_pairs_documents",
   f"""WITH {_SHINGLE_CTE},
      sizes AS (SELECT doc_id, count(*) AS set_size FROM sh GROUP BY doc_id),
      inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
                FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
                GROUP BY a.doc_id, b.doc_id)
      SELECT id_a, id_b, inter, sa.set_size AS size_a, sb.set_size AS size_b,
             round(CAST(inter AS DOUBLE) / (sa.set_size + sb.set_size - inter), 6)
               AS jaccard
      FROM inter
      JOIN sizes sa ON sa.doc_id = id_a
      JOIN sizes sb ON sb.doc_id = id_b
      WHERE round(CAST(inter AS DOUBLE) / (sa.set_size + sb.set_size - inter), 6)
            >= 0.1""",
   "exact n-gram Jaccard via inverted-index self-join (disjoint pairs never shuffle)")
def ngram_jaccard_pairs_documents(spark, sf_dir):
    return dd.ngram_jaccard_pairs(_t(spark, sf_dir, "documents"),
                                  n=3, threshold=0.1)


@q("overlap_coeff_pairs_documents",
   f"""WITH {_SHINGLE_CTE},
      sizes AS (SELECT doc_id, count(*) AS set_size FROM sh GROUP BY doc_id),
      inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
                FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
                GROUP BY a.doc_id, b.doc_id)
      SELECT id_a, id_b, inter, sa.set_size AS size_a, sb.set_size AS size_b,
             round(CAST(inter AS DOUBLE) / least(sa.set_size, sb.set_size), 6)
               AS overlap
      FROM inter
      JOIN sizes sa ON sa.doc_id = id_a
      JOIN sizes sb ON sb.doc_id = id_b
      WHERE round(CAST(inter AS DOUBLE) / least(sa.set_size, sb.set_size), 6)
            >= 0.5""",
   "Szymkiewicz-Simpson overlap coefficient (inter / min size): the "
   "near-SUPERSET detector Jaccard structurally misses — a short doc "
   "quoted verbatim inside a long one scores ~1.0 here but ~0.02 on "
   "Jaccard, which is how contamination hides in concatenated training "
   "docs. Same inverted-index machinery as the jaccard family. ROLE: "
   "uncapped EXACTNESS TWIN (x16 at 10x in the scale probe) of "
   "overlap_coeff_capped_documents, the max_doc_freq production path")
def overlap_coeff_pairs_documents(spark, sf_dir):
    return dd.overlap_coefficient_pairs(_t(spark, sf_dir, "documents"),
                                        n=3, threshold=0.5)


@q("overlap_coeff_capped_documents",
   f"""WITH {_SHINGLE_CTE},
      sizes AS (SELECT doc_id, count(*) AS set_size FROM sh GROUP BY doc_id),
      rare AS (SELECT shingle FROM sh GROUP BY shingle
               HAVING count(*) <= 3),
      shc AS (SELECT sh.doc_id, sh.shingle FROM sh JOIN rare USING (shingle)),
      inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
                FROM shc a JOIN shc b
                  ON a.shingle = b.shingle AND a.doc_id < b.doc_id
                GROUP BY a.doc_id, b.doc_id)
      SELECT id_a, id_b, inter, sa.set_size AS size_a, sb.set_size AS size_b,
             round(CAST(inter AS DOUBLE) / least(sa.set_size, sb.set_size), 6)
               AS overlap
      FROM inter
      JOIN sizes sa ON sa.doc_id = id_a
      JOIN sizes sb ON sb.doc_id = id_b
      WHERE round(CAST(inter AS DOUBLE) / least(sa.set_size, sb.set_size), 6)
            >= 0.2""",
   "overlap coefficient with the max_doc_freq stop-shingle skew guard "
   "— the 100 TB path for the one superlinear pair family that lacked "
   "a registry-resident capped sibling (jaccard/semantic/embedding all "
   "have one): shingles in > 3 docs are dropped from the inverted-"
   "index join (a df-d shingle emits d^2 join rows) while min(|A|,|B|) "
   "keeps every shingle, so overlap is a conservative LOWER bound — "
   "shared boilerplate deliberately doesn't count as containment; "
   "candidate-count fence in tests/test_scale_fences.py")
def overlap_coeff_capped_documents(spark, sf_dir):
    return dd.overlap_coefficient_pairs(_t(spark, sf_dir, "documents"),
                                        n=3, threshold=0.2, max_doc_freq=3)


@q("jaccard_prefix_pairs_documents",
   f"""WITH {_SHINGLE_CTE},
      sizes AS (SELECT doc_id, count(*) AS set_size FROM sh GROUP BY doc_id),
      inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
                FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
                GROUP BY a.doc_id, b.doc_id)
      SELECT id_a, id_b, inter, sa.set_size AS size_a, sb.set_size AS size_b,
             round(CAST(inter AS DOUBLE) / (sa.set_size + sb.set_size - inter), 6)
               AS jaccard
      FROM inter
      JOIN sizes sa ON sa.doc_id = id_a
      JOIN sizes sb ON sb.doc_id = id_b
      WHERE round(CAST(inter AS DOUBLE) / (sa.set_size + sb.set_size - inter), 6)
            >= 0.8""",
   "EXACT Jaccard via PPJoin prefix filtering (Chaudhuri'06/Xiao'08): "
   "only the rarest |x|-ceil(t|x|)+1 tokens of each set are indexed "
   "(pigeonhole: qualifying pairs must collide in either prefix), so "
   "the self-join reads short rare-token posting lists instead of "
   "sum(df^2) over every shingle; candidates verify per-pair via "
   "array_intersect on hashed (8-byte) shingles. The oracle is the "
   "NAIVE inverted-index join — equality across the algorithm swap is "
   "the check. Honest cost note: computing the df order costs ~3 "
   "corpus shuffles up front, so on THIS low-skew fixture the naive "
   "join is faster — PPJoin's regime is skewed posting lists, where "
   "sum(df^2) explodes and the fixed cost amortizes. ROLE: this entry "
   "is the EXACTNESS/FAILURE-MODE TWIN of "
   "ngram_jaccard_capped_documents (the max_doc_freq-capped 100 TB "
   "path) — it exists to pin the capped sibling's values and to "
   "demonstrate the uncapped cost curve (x16.7 at 10x in the scale "
   "probe). No production entry point (plans/curate.py, the dedup CLI) "
   "can reach an uncapped candidate generator without an explicit "
   "opt-in; tests/test_scale_fences.py pins that contract")
def jaccard_prefix_pairs_documents(spark, sf_dir):
    # threshold 0.8: the prefix is ~20% of each set — the regime the
    # algorithm exists for (at 0.3 the prefix is 70% and the extra df
    # join outweighs the pruning; measured 6.6 s vs 1.6 s at sf0.1)
    return dd.jaccard_prefix_filter_pairs(
        _t(spark, sf_dir, "documents"), n=3, threshold=0.8)


@q("ngram_jaccard_capped_documents",
   f"""WITH {_SHINGLE_CTE},
      sizes AS (SELECT doc_id, count(*) AS set_size FROM sh GROUP BY doc_id),
      rare AS (SELECT shingle FROM sh GROUP BY shingle
               HAVING count(*) <= 3),
      shc AS (SELECT sh.doc_id, sh.shingle FROM sh JOIN rare USING (shingle)),
      inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
                FROM shc a JOIN shc b
                  ON a.shingle = b.shingle AND a.doc_id < b.doc_id
                GROUP BY a.doc_id, b.doc_id)
      SELECT id_a, id_b, inter, sa.set_size AS size_a, sb.set_size AS size_b,
             round(CAST(inter AS DOUBLE) / (sa.set_size + sb.set_size - inter), 6)
               AS jaccard
      FROM inter
      JOIN sizes sa ON sa.doc_id = id_a
      JOIN sizes sb ON sb.doc_id = id_b
      WHERE round(CAST(inter AS DOUBLE) / (sa.set_size + sb.set_size - inter), 6)
            >= 0.05""",
   "n-gram Jaccard with the max_doc_freq stop-shingle skew guard: "
   "shingles in > 3 docs are dropped from the inverted-index join (a "
   "df-d shingle emits d^2 join rows — the web-scale boilerplate bomb) "
   "while set sizes keep every shingle, so jaccard is a conservative "
   "lower bound; lower-bound semantics pinned by tests/test_jaccard_cap.py")
def ngram_jaccard_capped_documents(spark, sf_dir):
    return dd.ngram_jaccard_pairs(_t(spark, sf_dir, "documents"),
                                  n=3, threshold=0.05, max_doc_freq=3)


@q("simhash_documents",
   f"""WITH tk AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
                  FROM documents),
      h AS (SELECT doc_id, {_H.format(x="tok")} AS h FROM tk),
      v AS (SELECT doc_id, bit,
                   sum(CASE WHEN (h >> bit) & 1 = 1 THEN 1 ELSE -1 END) AS vote_sum
            FROM h CROSS JOIN (SELECT unnest(generate_series(0, 31)) AS bit) bits
            GROUP BY doc_id, bit)
      SELECT doc_id,
             CAST(sum(CASE WHEN vote_sum > 0 THEN 1::BIGINT << bit ELSE 0 END)
                  AS BIGINT) AS simhash
      FROM v GROUP BY doc_id""",
   "SimHash 32-bit signatures (Charikar'02): per-bit token votes")
def simhash_documents(spark, sf_dir):
    return dd.simhash(_t(spark, sf_dir, "documents"), bits=32)


# ==========================================================================
# Embedding similarity (embeddings)
# ==========================================================================

_DOT = ("list_sum(list_transform(generate_series(1, len({a})), "
        "i -> {a}[i]::DOUBLE * {b}[i]::DOUBLE))")

@q("embedding_norms",
   f"""SELECT vec_id, label,
             round(sqrt({_DOT.format(a='embedding', b='embedding')}), 6) AS l2_norm
      FROM embeddings""",
   "embedding L2 norms via index-ordered reduction")
def embedding_norms(spark, sf_dir):
    emb = _t(spark, sf_dir, "embeddings")
    return emb.select("vec_id", "label",
                      F.round(sim.l2_norm(F.col("embedding")), 6).alias("l2_norm"))


@q("cosine_topk_embeddings",
   f"""WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0)
      SELECT e.vec_id,
             round({_DOT.format(a='e.embedding', b='qv')}
                   / (sqrt({_DOT.format(a='e.embedding', b='e.embedding')})
                      * sqrt({_DOT.format(a='qv', b='qv')})), 6) AS cos_sim
      FROM embeddings e, q
      ORDER BY cos_sim DESC, e.vec_id LIMIT 10""",
   "brute-force cosine top-k (exact ANN baseline); TakeOrderedAndProject, "
   "no global sort shuffle")
def cosine_topk_embeddings(spark, sf_dir):
    emb = _t(spark, sf_dir, "embeddings")
    qvec = [float(v) for v in emb.filter(F.col("vec_id") == 0).first()["embedding"]]
    return sim.cosine_topk(emb, qvec, k=10)


def _srp_bucket_sql(n_planes: int, dim: int = 64,
                    seed: int = sim.SRP_SEED) -> str:
    planes = sim.srp_planes(dim, n_planes, seed=seed)
    terms = []
    for i, plane in enumerate(planes):
        lit = "[" + ", ".join(f"{v:.1f}" for v in plane) + "]"
        d = _DOT.format(a="embedding", b=f"({lit}::DOUBLE[])")
        terms.append(f"(CASE WHEN {d} >= 0 THEN {1 << i}::BIGINT ELSE 0::BIGINT END)")
    return " + ".join(terms)


@q("ann_lsh_topk_embeddings",
   f"""WITH bucketed AS (
        SELECT vec_id, embedding, {_srp_bucket_sql(4)} AS bucket FROM embeddings),
      q AS (SELECT embedding AS qv, bucket AS qb FROM bucketed WHERE vec_id = 0)
      SELECT e.vec_id,
             round({_DOT.format(a='e.embedding', b='qv')}
                   / (sqrt({_DOT.format(a='e.embedding', b='e.embedding')})
                      * sqrt({_DOT.format(a='qv', b='qv')})), 6) AS cos_sim
      FROM bucketed e, q WHERE e.bucket = q.qb
      ORDER BY cos_sim DESC, e.vec_id LIMIT 10""",
   "LSH-bucketed ANN top-k: SRP (4 hyperplanes, seed 42) bucket filter + "
   "exact rerank — candidates ~ n/16")
def ann_lsh_topk_embeddings(spark, sf_dir):
    emb = _t(spark, sf_dir, "embeddings")
    bucketed = sim.srp_buckets(emb, n_planes=4, dim=64)
    q0 = bucketed.filter(F.col("vec_id") == 0).first()
    qvec, qb = [float(v) for v in q0["embedding"]], q0["bucket"]
    cand = bucketed.filter(F.col("bucket") == qb)
    s = F.round(sim.cosine(F.col("embedding"),
                           F.array(*[F.lit(v) for v in qvec])), 6)
    return (cand.select("vec_id", s.alias("cos_sim"))
                .orderBy(F.desc("cos_sim"), "vec_id").limit(10))


@q("ann_lsh_multiprobe_topk",
   f"""WITH bucketed AS (
        SELECT vec_id, embedding, {_srp_bucket_sql(4)} AS bucket FROM embeddings),
      q AS (SELECT embedding AS qv, bucket AS qb FROM bucketed WHERE vec_id = 0)
      SELECT e.vec_id,
             round({_DOT.format(a='e.embedding', b='qv')}
                   / (sqrt({_DOT.format(a='e.embedding', b='e.embedding')})
                      * sqrt({_DOT.format(a='qv', b='qv')})), 6) AS cos_sim
      FROM bucketed e, q
      WHERE (xor(e.bucket, qb) & (xor(e.bucket, qb) - 1)) = 0
      ORDER BY cos_sim DESC, e.vec_id LIMIT 10""",
   "multi-probe LSH ANN (Lv'07): query bucket + all Hamming-distance-1 "
   "buckets (xor power-of-two test) + exact rerank — recall recovery at "
   "(n_planes+1)/2^n_planes scan fraction")
def ann_lsh_multiprobe_topk(spark, sf_dir):
    emb = _t(spark, sf_dir, "embeddings")
    qvec = [float(v) for v in emb.filter(F.col("vec_id") == 0).first()["embedding"]]
    return sim.ann_topk_lsh(emb, qvec, k=10, n_planes=4, probe_bits=1)


def _multitable_lsh_oracle(n_tables: int = 4, n_planes: int = 8) -> str:
    bcols = ", ".join(
        f"{_srp_bucket_sql(n_planes, seed=sim.SRP_SEED + 101 * (t + 1))}"
        f" AS b{t}" for t in range(n_tables))
    qcols = ", ".join(f"b{t} AS qb{t}" for t in range(n_tables))
    ham1 = " OR ".join(
        f"((xor(e.b{t}, qb{t}) & (xor(e.b{t}, qb{t}) - 1)) = 0)"
        for t in range(n_tables))
    return f"""WITH b AS (SELECT vec_id, embedding, {bcols}
                FROM embeddings),
      q AS (SELECT embedding AS qv, {qcols} FROM b WHERE vec_id = 0)
      SELECT e.vec_id,
             round({_DOT.format(a='e.embedding', b='qv')}
                   / (sqrt({_DOT.format(a='e.embedding', b='e.embedding')})
                      * sqrt({_DOT.format(a='qv', b='qv')})), 6) AS cos_sim
      FROM b e, q
      WHERE {ham1}
      ORDER BY cos_sim DESC, e.vec_id LIMIT 10"""


@q("ann_lsh_multitable_topk",
   _multitable_lsh_oracle(),
   "multi-TABLE SRP-LSH ANN: 4 independent hyperplane sets, candidate "
   "= Hamming<=1 hit in ANY table (recall ~ 1-(1-p)^4; measured 0.44 "
   "at H1 / 0.81 at H2 vs 0.125 single-table on the isotropic "
   "fixture), all 4 codes computed in ONE corpus pass with an OR "
   "filter — never a union of per-table scans — then exact rerank")
def ann_lsh_multitable_topk(spark, sf_dir):
    emb = _t(spark, sf_dir, "embeddings")
    qvec = [float(v) for v in
            emb.filter(F.col("vec_id") == 0).first()["embedding"]]
    return sim.ann_topk_lsh_multitable(emb, qvec, k=10, n_tables=4,
                                       n_planes=8, probe_bits=1)


_L2 = ("list_sum(list_transform(generate_series(1, len({a})), "
       "i -> ({a}[i]::DOUBLE - {b}[i]::DOUBLE) * ({a}[i]::DOUBLE - {b}[i]::DOUBLE)))")

# the production quantizer-sizing rule as SQL: centroids proportional
# to the corpus (cell populations stay ~64 at every scale)
_SCALED_CENTS_SQL = "(SELECT greatest(4, count(*) // 64) FROM embeddings)"

@q("ann_ivf_topk_embeddings",
   f"""WITH c AS (SELECT vec_id AS cid, embedding AS cv
                 FROM embeddings WHERE vec_id < 8),
      d AS (SELECT e.vec_id, e.embedding, c.cid,
                   {_L2.format(a='e.embedding', b='c.cv')} AS dist
            FROM embeddings e CROSS JOIN c),
      a AS (SELECT vec_id, embedding, cid,
                   row_number() OVER (PARTITION BY vec_id
                                      ORDER BY dist, cid) AS rn
            FROM d),
      assign AS (SELECT vec_id, embedding, cid FROM a WHERE rn = 1),
      q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
      qd AS (SELECT c.cid,
                    row_number() OVER (
                        ORDER BY {_L2.format(a='c.cv', b='qv')}, c.cid) AS rn
             FROM c, q),
      probes AS (SELECT cid FROM qd WHERE rn <= 2)
      SELECT a.vec_id,
             round({_DOT.format(a='a.embedding', b='qv')}
                   / (sqrt({_DOT.format(a='a.embedding', b='a.embedding')})
                      * sqrt({_DOT.format(a='qv', b='qv')})), 6) AS cos_sim
      FROM assign a JOIN probes p ON a.cid = p.cid, q
      ORDER BY cos_sim DESC, a.vec_id LIMIT 10""",
   "IVF ANN top-k: 8 coarse centroids (first-8 deterministic quantizer), "
   "nprobe=2 inverted-list probe + exact cosine rerank; assignment is "
   "shuffle-free per-row argmin")
def ann_ivf_topk_embeddings(spark, sf_dir):
    emb = _t(spark, sf_dir, "embeddings")
    cents = sim.ivf_centroids(emb, n_centroids=8)
    qvec = [float(v) for v in emb.filter(F.col("vec_id") == 0).first()["embedding"]]
    return sim.ann_topk_ivf(emb, qvec, cents, k=10, nprobe=2)


@q("ann_pq_adc_topk_embeddings",
   f"""WITH cb AS (SELECT vec_id AS j, embedding AS cv
                  FROM embeddings WHERE vec_id < 16),
      sp AS (SELECT s FROM generate_series(0, 7) t(s)),
      cbs AS (SELECT sp.s, cb.j, cb.cv[sp.s*8+1 : sp.s*8+8] AS cv
              FROM cb CROSS JOIN sp),
      subv AS (SELECT e.vec_id, sp.s,
                      e.embedding[sp.s*8+1 : sp.s*8+8] AS v
               FROM embeddings e CROSS JOIN sp),
      d AS (SELECT subv.vec_id, subv.s, cbs.j,
                   {_L2.format(a='subv.v', b='cbs.cv')} AS dist
            FROM subv JOIN cbs ON subv.s = cbs.s),
      codes AS (SELECT vec_id, s, j FROM (
          SELECT vec_id, s, j,
                 row_number() OVER (PARTITION BY vec_id, s
                                    ORDER BY dist, j) AS rn
          FROM d) WHERE rn = 1),
      q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
      qs AS (SELECT sp.s, qv[sp.s*8+1 : sp.s*8+8] AS qsub
             FROM q CROSS JOIN sp),
      lut AS (SELECT qs.s, cbs.j,
                     {_L2.format(a='qs.qsub', b='cbs.cv')} AS ld
              FROM qs JOIN cbs ON qs.s = cbs.s)
      SELECT c.vec_id, round(sum(l.ld), 6) AS approx_dist
      FROM codes c JOIN lut l ON c.s = l.s AND c.j = l.j
      GROUP BY c.vec_id
      ORDER BY approx_dist, c.vec_id LIMIT 10""",
   "Product-Quantization ANN (Jegou'11): 8 subspaces x 16-entry "
   "deterministic codebooks (first-16 subvectors), per-row argmin "
   "encode to 8 code bytes (zero shuffle, codebook literals in the "
   "plan), then asymmetric-distance top-k via a driver-built m x k "
   "lookup table — the scan touches codes, never float vectors; the "
   "memory rung of the ANN ladder (~0.8%% of raw vector bytes)")
def ann_pq_adc_topk_embeddings(spark, sf_dir):
    emb = _t(spark, sf_dir, "embeddings")
    cbs = sim.pq_codebooks(emb, m=8, k=16)
    qvec = [float(v) for v in
            emb.filter(F.col("vec_id") == 0).first()["embedding"]]
    return sim.pq_adc_topk(sim.pq_encode(emb, cbs), qvec, cbs, k=10)


@q("ann_pq_rerank_topk_embeddings",
   f"""WITH cb AS (SELECT vec_id AS j, embedding AS cv
                  FROM embeddings WHERE vec_id < 16),
      sp AS (SELECT s FROM generate_series(0, 7) t(s)),
      cbs AS (SELECT sp.s, cb.j, cb.cv[sp.s*8+1 : sp.s*8+8] AS cv
              FROM cb CROSS JOIN sp),
      subv AS (SELECT e.vec_id, sp.s,
                      e.embedding[sp.s*8+1 : sp.s*8+8] AS v
               FROM embeddings e CROSS JOIN sp),
      d AS (SELECT subv.vec_id, subv.s, cbs.j,
                   {_L2.format(a='subv.v', b='cbs.cv')} AS dist
            FROM subv JOIN cbs ON subv.s = cbs.s),
      codes AS (SELECT vec_id, s, j FROM (
          SELECT vec_id, s, j,
                 row_number() OVER (PARTITION BY vec_id, s
                                    ORDER BY dist, j) AS rn
          FROM d) WHERE rn = 1),
      q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
      qs AS (SELECT sp.s, qv[sp.s*8+1 : sp.s*8+8] AS qsub
             FROM q CROSS JOIN sp),
      lut AS (SELECT qs.s, cbs.j,
                     {_L2.format(a='qs.qsub', b='cbs.cv')} AS ld
              FROM qs JOIN cbs ON qs.s = cbs.s),
      shortlist AS (SELECT c.vec_id, round(sum(l.ld), 6) AS approx_dist
                    FROM codes c JOIN lut l ON c.s = l.s AND c.j = l.j
                    GROUP BY c.vec_id
                    ORDER BY approx_dist, c.vec_id LIMIT 50)
      SELECT e.vec_id,
             round({_L2.format(a='e.embedding', b='qv')}, 6) AS l2_dist
      FROM embeddings e JOIN shortlist sl ON e.vec_id = sl.vec_id, q
      ORDER BY l2_dist, e.vec_id LIMIT 10""",
   "PQ production search shape: ADC shortlist-50 over 8-byte codes, "
   "exact-L2 rerank touching float vectors for 50 rows only "
   "(broadcast semi-join); measured recall@10 0.35 -> 0.70 vs ADC "
   "alone on the isotropic fixture")
def ann_pq_rerank_topk_embeddings(spark, sf_dir):
    emb = _t(spark, sf_dir, "embeddings")
    cbs = sim.pq_codebooks(emb, m=8, k=16)
    qvec = [float(v) for v in
            emb.filter(F.col("vec_id") == 0).first()["embedding"]]
    return sim.pq_adc_rerank_topk(sim.pq_encode(emb, cbs), emb, qvec,
                                  cbs, k=10, shortlist=50)


@q("ann_ivfpq_topk_embeddings",
   f"""WITH c AS (SELECT vec_id AS cid, embedding AS cv
                 FROM embeddings WHERE vec_id < 8),
      ad AS (SELECT e.vec_id, e.embedding, c.cid,
                    {_L2.format(a='e.embedding', b='c.cv')} AS dist
             FROM embeddings e CROSS JOIN c),
      assign AS (SELECT vec_id, embedding, cid FROM (
          SELECT vec_id, embedding, cid,
                 row_number() OVER (PARTITION BY vec_id
                                    ORDER BY dist, cid) AS rn
          FROM ad) WHERE rn = 1),
      res AS (SELECT a.vec_id, a.cid,
                     list_transform(generate_series(1, len(a.embedding)),
                       i -> a.embedding[i]::DOUBLE - c.cv[i]::DOUBLE) AS rv
              FROM assign a JOIN c ON a.cid = c.cid),
      sp AS (SELECT s FROM generate_series(0, 7) t(s)),
      cb AS (SELECT r.vec_id AS j, sp.s,
                    r.rv[sp.s*8+1 : sp.s*8+8] AS cv
             FROM res r CROSS JOIN sp WHERE r.vec_id < 16),
      subv AS (SELECT r.vec_id, r.cid, sp.s,
                      r.rv[sp.s*8+1 : sp.s*8+8] AS v
               FROM res r CROSS JOIN sp),
      d AS (SELECT subv.vec_id, subv.cid, subv.s, cb.j,
                   {_L2.format(a='subv.v', b='cb.cv')} AS dist
            FROM subv JOIN cb ON subv.s = cb.s),
      codes AS (SELECT vec_id, cid, s, j FROM (
          SELECT vec_id, cid, s, j,
                 row_number() OVER (PARTITION BY vec_id, s
                                    ORDER BY dist, j) AS rn
          FROM d) WHERE rn = 1),
      q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
      probes AS (SELECT cid, cv FROM (
          SELECT c.cid, c.cv,
                 row_number() OVER (
                     ORDER BY {_L2.format(a='c.cv', b='qv')}, c.cid) AS rn
          FROM c, q) WHERE rn <= 2),
      qres AS (SELECT p.cid,
                      list_transform(generate_series(1, len(qv)),
                        i -> qv[i]::DOUBLE - p.cv[i]::DOUBLE) AS qr
               FROM probes p, q),
      qrs AS (SELECT qres.cid, sp.s,
                     qr[sp.s*8+1 : sp.s*8+8] AS qsub
              FROM qres CROSS JOIN sp),
      lut AS (SELECT qrs.cid, qrs.s, cb.j,
                     {_L2.format(a='qrs.qsub', b='cb.cv')} AS ld
              FROM qrs JOIN cb ON qrs.s = cb.s),
      shortlist AS (SELECT co.vec_id, round(sum(l.ld), 6) AS approx_dist
                    FROM codes co JOIN lut l
                      ON co.cid = l.cid AND co.s = l.s AND co.j = l.j
                    GROUP BY co.vec_id
                    ORDER BY approx_dist, co.vec_id LIMIT 50)
      SELECT e.vec_id,
             round({_L2.format(a='e.embedding', b='qv')}, 6) AS l2_dist
      FROM embeddings e JOIN shortlist sl ON e.vec_id = sl.vec_id, q
      ORDER BY l2_dist, e.vec_id LIMIT 10""",
   "full IVF-PQ (Jegou'11 SIV, the FAISS production structure): coarse "
   "assignment + PQ codes of the RESIDUAL in one zero-shuffle encode "
   "pass; search probes the 2 nearest inverted lists, ADC with a "
   "per-list lookup table (query residual differs per probed "
   "centroid), exact-L2 rerank of the 50-row shortlist — codes read "
   "from nprobe/8 of the data, float vectors touched for 50 rows")
def ann_ivfpq_topk_embeddings(spark, sf_dir):
    emb = _t(spark, sf_dir, "embeddings")
    # ONE driver scan serves all three literals (r14, guide §5): the
    # 8 coarse centroids, the 16 codebook source rows and the query
    # vector are all among the first-16-by-id rows — the former three
    # separate pushed-filter collects were three jobs for one footer
    rows16 = (emb.filter(F.col("vec_id") < 16)
                 .select("vec_id", "embedding").orderBy("vec_id")
                 .collect())
    # centroids are ids 0..7, the query is id 0, the codebooks need all
    # 16: a gap would otherwise surface as an empty query far downstream
    assert [int(r[0]) for r in rows16] == list(range(16)), \
        "embeddings must hold vec_id 0..15"
    cents = [(int(r[0]), [float(x) for x in r[1]])
             for r in rows16 if int(r[0]) < 8]
    qvec = [float(v) for r in rows16 if int(r[0]) == 0
            for v in r[1]]
    cbs = sim.pq_residual_codebooks_from_rows(rows16, cents, m=8, k=16)
    enc = sim.ivfpq_encode(emb, cents, cbs)
    return sim.ann_topk_ivfpq(enc, qvec, cents, cbs, vectors_df=emb,
                              k=10, nprobe=2, shortlist=50)


@q("embedding_neardup_pairs",
   f"""WITH bucketed AS (
        SELECT vec_id, embedding, {_srp_bucket_sql(4)} AS bucket FROM embeddings)
      SELECT a.vec_id AS id_a, b.vec_id AS id_b,
             round({_DOT.format(a='a.embedding', b='b.embedding')}
                   / (sqrt({_DOT.format(a='a.embedding', b='a.embedding')})
                      * sqrt({_DOT.format(a='b.embedding', b='b.embedding')})), 6)
               AS cos_sim
      FROM bucketed a JOIN bucketed b
        ON a.bucket = b.bucket AND a.vec_id < b.vec_id
      WHERE round({_DOT.format(a='a.embedding', b='b.embedding')}
                  / (sqrt({_DOT.format(a='a.embedding', b='a.embedding')})
                     * sqrt({_DOT.format(a='b.embedding', b='b.embedding')})), 6)
            >= 0.3""",
   "embedding near-dup pairs: SRP bucket self-join + cosine filter "
   "(no O(n^2) cross product)")
def embedding_neardup_pairs(spark, sf_dir):
    emb = _t(spark, sf_dir, "embeddings")
    return sim.cosine_neardup_pairs(emb, threshold=0.3, n_planes=4)


@q("semantic_dedup_pairs_embeddings",
   f"""WITH c AS (SELECT vec_id AS cid, embedding AS cv
                 FROM embeddings WHERE vec_id < 8),
      d AS (SELECT e.vec_id, e.embedding, c.cid,
                   {_L2.format(a='e.embedding', b='c.cv')} AS dist
            FROM embeddings e CROSS JOIN c),
      a AS (SELECT vec_id, embedding, cid,
                   row_number() OVER (PARTITION BY vec_id
                                      ORDER BY dist, cid) AS rn
            FROM d),
      assign AS (SELECT vec_id, embedding, cid FROM a WHERE rn = 1)
      SELECT x.vec_id AS id_a, y.vec_id AS id_b,
             round({_DOT.format(a='x.embedding', b='y.embedding')}
                   / (sqrt({_DOT.format(a='x.embedding', b='x.embedding')})
                      * sqrt({_DOT.format(a='y.embedding', b='y.embedding')})), 6)
               AS cos_sim
      FROM assign x JOIN assign y
        ON x.cid = y.cid AND x.vec_id < y.vec_id
      WHERE round({_DOT.format(a='x.embedding', b='y.embedding')}
                  / (sqrt({_DOT.format(a='x.embedding', b='x.embedding')})
                     * sqrt({_DOT.format(a='y.embedding', b='y.embedding')})), 6)
            >= 0.3""",
   "SemDeDup candidate pairs (Abbas'23): zero-shuffle argmin cluster "
   "assignment (first-8 deterministic quantizer, swappable for k-means) "
   "then cosine pairs within cluster only — data-adaptive neighborhoods "
   "bound the comparisons, never O(n^2)")
def semantic_dedup_pairs_embeddings(spark, sf_dir):
    emb = _t(spark, sf_dir, "embeddings")
    cents = sim.ivf_centroids(emb, n_centroids=8)
    return sim.semantic_dedup_pairs(emb, cents, threshold=0.3)


@q("semantic_dedup_scaled_embeddings",
   f"""WITH c AS (SELECT vec_id AS cid, embedding AS cv
                 FROM embeddings WHERE vec_id < {_SCALED_CENTS_SQL}),
      d AS (SELECT e.vec_id, e.embedding, c.cid,
                   {_L2.format(a='e.embedding', b='c.cv')} AS dist
            FROM embeddings e CROSS JOIN c),
      a AS (SELECT vec_id, embedding, cid,
                   row_number() OVER (PARTITION BY vec_id
                                      ORDER BY dist, cid) AS rn
            FROM d),
      assign AS (SELECT vec_id, embedding, cid FROM a WHERE rn = 1),
      ok AS (SELECT cid FROM assign GROUP BY cid
             HAVING count(*) BETWEEN 2 AND 4096)
      SELECT x.vec_id AS id_a, y.vec_id AS id_b,
             round({_DOT.format(a='x.embedding', b='y.embedding')}
                   / (sqrt({_DOT.format(a='x.embedding', b='x.embedding')})
                      * sqrt({_DOT.format(a='y.embedding', b='y.embedding')})), 6)
               AS cos_sim
      FROM assign x JOIN assign y
        ON x.cid = y.cid AND x.vec_id < y.vec_id
      JOIN ok ON ok.cid = x.cid
      WHERE round({_DOT.format(a='x.embedding', b='y.embedding')}
                  / (sqrt({_DOT.format(a='x.embedding', b='x.embedding')})
                     * sqrt({_DOT.format(a='y.embedding', b='y.embedding')})), 6)
            >= 0.3""",
   "the PRODUCTION SemDeDup candidate generator, registry-resident "
   "(round-12 sibling of knn_graph_scaled): corpus-scaled quantizer "
   "(scaled_centroid_count — cells ~64 rows, within-cell quadratic "
   "cost LINEAR in the corpus vs the fixed-8 exactness twin's x36 at "
   "10x), Arrow matmul assignment AND an Arrow matmul pair kernel "
   "(one g x g matmul + upper-triangle slice per cell instead of "
   "interpreted per-pair HOF aggregates), capped by default "
   "(max_cluster_size=4096 — the oracle carries the same "
   "HAVING-count cap so the drop semantics are pinned, not just the "
   "happy path). One call: semantic_dedup_pairs_scaled")
def semantic_dedup_scaled_embeddings(spark, sf_dir):
    emb = _t(spark, sf_dir, "embeddings")
    return sim.semantic_dedup_pairs_scaled(emb, threshold=0.3)


# within-cell k-NN seed graph (first-n quantizer, k=5): shared CTE
# chain for the knn-graph and NN-Descent oracles; parameterized on the
# centroid count — an int literal for the fixed-32 exactness pins, or
# a scalar-subquery string for the corpus-scaled production entry
def _knn_seed_ctes(n_cents: int | str) -> str:
    return f"""c AS (SELECT vec_id AS cid, embedding AS cv
                 FROM embeddings WHERE vec_id < {n_cents}),
      d AS (SELECT e.vec_id, e.embedding, c.cid,
                   {_L2.format(a='e.embedding', b='c.cv')} AS dist
            FROM embeddings e CROSS JOIN c),
      a AS (SELECT vec_id, embedding, cid,
                   row_number() OVER (PARTITION BY vec_id
                                      ORDER BY dist, cid) AS rn
            FROM d),
      assign AS (SELECT vec_id, embedding, cid FROM a WHERE rn = 1),
      pairs AS (SELECT x.vec_id AS src, y.vec_id AS dst,
             round({_DOT.format(a='x.embedding', b='y.embedding')}
                   / (sqrt({_DOT.format(a='x.embedding', b='x.embedding')})
                      * sqrt({_DOT.format(a='y.embedding', b='y.embedding')})), 6)
               AS cos_sim
            FROM assign x JOIN assign y
              ON x.cid = y.cid AND x.vec_id <> y.vec_id),
      r AS (SELECT src, dst, cos_sim,
                   row_number() OVER (PARTITION BY src
                                      ORDER BY cos_sim DESC, dst) AS nn_rank
            FROM pairs),
      seed AS (SELECT src, dst, nn_rank, cos_sim FROM r
               WHERE nn_rank <= 5)"""


_KNN_SEED_CTES = _knn_seed_ctes(32)


@q("knn_graph_embeddings",
   f"WITH {_KNN_SEED_CTES} SELECT src, dst, nn_rank, cos_sim FROM seed",
   "Directed k-NN graph within IVF cells (NN-descent seed / dedup "
   "audit): one groupBy shuffle collects each cell once, then per-item "
   "sort-and-slice top-k as pure array math — the quadratic pair set "
   "never hits an exchange or a window. Cell count IS the cost/"
   "parallelism dial (compute ~ n x |cell| log|cell| cosines, one task "
   "per cell): 32 cells here, ~sqrt(corpus/target_cell) at scale. "
   "ROLE: this is the FIXED-quantizer/HOF-kernel EXACTNESS TWIN of "
   "knn_graph_scaled_embeddings — the registry-resident production "
   "shape (corpus-proportional centroids, Arrow matmul kernels, "
   "measured 232x faster in the second decade, SCALE.md); it exists "
   "to pin the shared machinery with interpreted, oracle-literal "
   "expression trees and to demonstrate the fixed-cardinality cost "
   "curve the production recipe escapes")
def knn_graph_embeddings(spark, sf_dir):
    emb = _t(spark, sf_dir, "embeddings")
    cents = sim.ivf_centroids(emb, n_centroids=32)
    return sim.knn_graph_within_clusters(emb, cents, k=5)


@q("ivf_assign_scaled_embeddings",
   f"""WITH c AS (SELECT vec_id AS cid, embedding AS cv
                 FROM embeddings WHERE vec_id < {_SCALED_CENTS_SQL}),
      d AS (SELECT e.vec_id, c.cid,
                   {_L2.format(a='e.embedding', b='c.cv')} AS dist
            FROM embeddings e CROSS JOIN c),
      a AS (SELECT vec_id, cid,
                   row_number() OVER (PARTITION BY vec_id
                                      ORDER BY dist, cid) AS rn
            FROM d)
      SELECT vec_id, cid AS centroid_id FROM a WHERE rn = 1""",
   "direct correctness pin of the PRODUCTION Arrow assign kernel "
   "(ivf_assign_arrow) at the production quantizer sizing (n_centroids "
   "~ corpus/64, the scaled_centroid_count rule — the count is a "
   "metadata-only parquet aggregate): per-batch numpy "
   "argmin_c(||c||^2/2 - x.c), one matmul per Arrow batch instead of "
   "n x k x dim interpreted HOF steps — measured as the difference "
   "between 1306 s and 5.6 s for the scaled-centroid graph build at "
   "200K vectors (SCALE.md). The oracle is the full L2 argmin with "
   "the same (dist, cid) tie-break; zero shuffle either way")
def ivf_assign_scaled_embeddings(spark, sf_dir):
    emb = _t(spark, sf_dir, "embeddings")
    cents = sim.ivf_centroids(
        emb, n_centroids=sim.scaled_centroid_count(emb.count()))
    return sim.ivf_assign_arrow(emb, cents).select("vec_id", "centroid_id")


@q("knn_graph_scaled_embeddings",
   f"""WITH {_knn_seed_ctes(_SCALED_CENTS_SQL)}
      SELECT src, dst, nn_rank, cos_sim FROM seed""",
   "the PRODUCTION k-NN graph recipe, registry-resident (round-12 "
   "promotion of the recipe the round-11 probes measured 232x faster "
   "than the fixed pin at 200K vectors): centroid count SCALES with "
   "the corpus (scaled_centroid_count — cells stay ~64 rows, so the "
   "within-cell quadratic cost is LINEAR in the corpus, vs the "
   "exactness twin's fixed 32 whose cells grow with the data), "
   "assignment through the Arrow matmul kernel (ivf_assign_arrow), "
   "per-cell top-k through the Arrow applyInPandas kernel — every "
   "quadratic inner loop is a BLAS matmul, not interpreted expression "
   "steps. Same one-shuffle shape (groupBy centroid_id) as the twin; "
   "the oracle is the identical corpus-scaled first-k-quantizer "
   "definition, pinning BOTH Arrow kernels' values end-to-end")
def knn_graph_scaled_embeddings(spark, sf_dir):
    emb = _t(spark, sf_dir, "embeddings")
    cents = sim.ivf_centroids(
        emb, n_centroids=sim.scaled_centroid_count(emb.count()))
    return sim.knn_graph_within_clusters_arrow(emb, cents, k=5,
                                               assign="arrow")


def _nn_descent_sql(n_cents: int | str,
                    rho_s: int | None = None) -> str:
    """One NN-Descent refinement round over the mixed seed (within-cell
    knn at ``n_cents`` centroids UNION random-hash-bucket knn) —
    parameterized like :func:`_knn_seed_ctes` so the fixed-32 exactness
    pin and the corpus-scaled production entry share one definition.
    ``rho_s`` (the ρ-sampled production form, r12 verdict item 2)
    down-samples each node's undirected adjacency to ``rho_s`` rows by
    the portable md5-prefix edge hash before the expansion join —
    literally the same rank `rho_sample_size` computes Spark-side."""
    und_src = "und"
    rho_cte = ""
    if rho_s is not None:
        edge_h = _H.format(x="src::VARCHAR || ',' || dst::VARCHAR")
        rho_cte = f""",
      unds AS (SELECT src, dst FROM (
                 SELECT src, dst,
                        row_number() OVER (PARTITION BY src
                                           ORDER BY {edge_h}, dst) AS rs
                 FROM und) WHERE rs <= {rho_s})"""
        und_src = "unds"
    return f"""WITH {_knn_seed_ctes(n_cents)},
      rb AS (SELECT vec_id, embedding,
                    {_H.format(x='vec_id::VARCHAR')} % 64 AS bkt
             FROM embeddings),
      rpairs AS (SELECT x.vec_id AS src, y.vec_id AS dst,
             round({_DOT.format(a='x.embedding', b='y.embedding')}
                   / (sqrt({_DOT.format(a='x.embedding', b='x.embedding')})
                      * sqrt({_DOT.format(a='y.embedding', b='y.embedding')})), 6)
               AS cos_sim
            FROM rb x JOIN rb y
              ON x.bkt = y.bkt AND x.vec_id <> y.vec_id),
      rrank AS (SELECT src, dst, cos_sim,
                       row_number() OVER (PARTITION BY src
                                          ORDER BY cos_sim DESC, dst)
                         AS nn_rank
                FROM rpairs),
      seed0 AS (SELECT src, dst FROM seed
                UNION SELECT src, dst FROM rrank WHERE nn_rank <= 5),
      und AS (SELECT src, dst FROM seed0
              UNION SELECT dst, src FROM seed0){rho_cte},
      exp AS (SELECT ua.src AS src, ub.dst AS dst
              FROM {und_src} ua JOIN {und_src} ub ON ua.dst = ub.src
              WHERE ua.src <> ub.dst
              UNION SELECT src, dst FROM seed0),
      sc AS (SELECT e.src, e.dst,
             round({_DOT.format(a='x.embedding', b='y.embedding')}
                   / (sqrt({_DOT.format(a='x.embedding', b='x.embedding')})
                      * sqrt({_DOT.format(a='y.embedding', b='y.embedding')})), 6)
               AS cos_sim
             FROM exp e JOIN embeddings x ON x.vec_id = e.src
                        JOIN embeddings y ON y.vec_id = e.dst),
      rr AS (SELECT src, dst, cos_sim,
                    row_number() OVER (PARTITION BY src
                                       ORDER BY cos_sim DESC, dst)
                      AS nn_rank
             FROM sc)
      SELECT src, dst, nn_rank, cos_sim FROM rr WHERE nn_rank <= 5"""


@q("nn_descent_graph_embeddings",
   _nn_descent_sql(32),
   "NN-Descent (Dong'11), one refinement round over the MIXED seed: "
   "within-cell knn (geometric quality) UNION random-hash-bucket knn "
   "(connectivity — a cell-partitioned seed is CLOSED under neighbor-"
   "of-neighbor expansion, so without random edges refinement can "
   "never recover a cross-cell neighbor). Candidates = neighbors-of-"
   "neighbors in both directions (E x E self-join on the k-regular "
   "edge list, O(n k^2) rows — never corpus^2), scored by joining the "
   "vector table twice, kept by a src-partitioned rank; recall ladder "
   "measured in tests/test_ann_recall.py. ROLE: fixed-quantizer/HOF "
   "exactness twin — production composes the same refinement round on "
   "top of knn_graph_scaled_embeddings' seed (nn_descent(..., "
   "kernel='arrow') with corpus-scaled centroids); the refinement "
   "rounds are kernel-identical either way, so this entry pins them")
def nn_descent_graph_embeddings(spark, sf_dir):
    emb = _t(spark, sf_dir, "embeddings")
    cents = sim.ivf_centroids(emb, n_centroids=32)
    return sim.nn_descent(emb, cents, k=5, rounds=1,
                          random_buckets=64)


@q("nn_descent_scaled_embeddings",
   _nn_descent_sql(_SCALED_CENTS_SQL),
   "the PRODUCTION NN-Descent recipe, registry-resident: the same "
   "one-round refinement over the mixed seed, but the within-cell "
   "seed comes from knn_graph_scaled_embeddings' corpus-scaled "
   "quantizer (cells ~64 rows — linear seed cost) and BOTH quadratic "
   "seed kernels run vectorized (kernel='arrow': numpy matmul per "
   "cell/bucket plus the Arrow assign). The refinement round itself "
   "is kernel-independent (exact expression-tree re-scoring), so this "
   "entry pins the full production composition end-to-end against "
   "the same oracle definition as the fixed-32 exactness twin")
def nn_descent_scaled_embeddings(spark, sf_dir):
    emb = _t(spark, sf_dir, "embeddings")
    cents = sim.ivf_centroids(
        emb, n_centroids=sim.scaled_centroid_count(emb.count()))
    return sim.nn_descent(emb, cents, k=5, rounds=1,
                          random_buckets=64, kernel="arrow")


@q("nn_descent_sampled_embeddings",
   _nn_descent_sql(_SCALED_CENTS_SQL,
                   rho_s=sim.rho_sample_size(0.5, 5)),
   "the rho-SAMPLED production NN-Descent (r12 verdict item 2): "
   "nn_descent_scaled fixed the INIT cost (scaled quantizer) but its "
   "refinement round still probed x5.67 at 10x because the "
   "neighbor-of-neighbor expansion grows with reverse-edge density, "
   "which centroid scaling doesn't touch. Dong'11's standard fix is "
   "rho-sampling: each node's undirected adjacency is down-sampled to "
   "ceil(rho*k)=3 entries (rho=0.5) by the portable md5-prefix edge "
   "hash BEFORE the E x E expansion, bounding per-node candidates at "
   "(rho*k)^2 independent of graph density; the current edges always "
   "rejoin the candidate union so a round never returns fewer than "
   "the incoming k per node. The oracle unrolls the identical "
   "sampled round (same hash, same rank, same literal 3)")
def nn_descent_sampled_embeddings(spark, sf_dir):
    emb = _t(spark, sf_dir, "embeddings")
    cents = sim.ivf_centroids(
        emb, n_centroids=sim.scaled_centroid_count(emb.count()))
    return sim.nn_descent(emb, cents, k=5, rounds=1,
                          random_buckets=64, kernel="arrow", rho=0.5)


# ==========================================================================
# Deterministic sampling / dataset splits
# ==========================================================================

from .operators.sampling import GATE as _GATE  # noqa: E402
from .operators import sampling as smp  # noqa: E402

_GATE_SQL = _H.format(x="doc_id::VARCHAR") + f" % {_GATE}"

@q("hash_sample_documents",
   f"""SELECT doc_id FROM documents
      WHERE {_GATE_SQL} < {int(0.25 * 1_000_000)}""",
   "deterministic 25% hash-gate sample: engine/partitioning/day-"
   "independent, narrow filter, nested rates are supersets")
def hash_sample_documents(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return smp.sample_by_hash(docs, "doc_id", 0.25).select("doc_id")


@q("train_val_test_split_documents",
   f"""SELECT CASE WHEN {_GATE_SQL} < {int(0.8 * 1_000_000)} THEN 'train'
                  WHEN {_GATE_SQL} < {int(0.9 * 1_000_000)} THEN 'val'
                  ELSE 'test' END AS split,
             count(*) AS n_docs
      FROM documents GROUP BY 1""",
   "leak-free 80/10/10 split via disjoint hash ranges")
def train_val_test_split_documents(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    out = smp.split_by_hash(docs, "doc_id",
                            {"train": 0.8, "val": 0.1, "test": 0.1})
    return out.groupBy("split").agg(F.count(F.lit(1)).alias("n_docs"))


# ==========================================================================
# Multimodal plumbing
# ==========================================================================

@q("multimodal_payload_stats",
   """SELECT 'text' AS media_type, count(*) AS n_items,
             CAST(sum(octet_length(encode(text))) AS BIGINT) AS total_bytes,
             CAST(max(octet_length(encode(text))) AS BIGINT) AS max_bytes
      FROM documents""",
   "binary payload stats without decode (opaque-bytes columns)")
def multimodal_payload_stats(spark, sf_dir):
    media = attach_media(_t(spark, sf_dir, "documents"), "text", "doc_id",
                         media_type="text", fmt="utf-8")
    return payload_stats(media)


@q("multimodal_features",
   """WITH b AS (SELECT doc_id AS media_id, encode(text) AS blob FROM documents),
      bytes AS (SELECT media_id,
                       unnest(list_transform(
                           generate_series(1, octet_length(blob)),
                           i -> ('0x' || substr(hex(blob), (i-1)*2+1, 2))::INT % 8))
                         AS bucket
                FROM b),
      hist AS (SELECT media_id, bucket, count(*) AS cnt
               FROM bytes GROUP BY 1, 2),
      dims AS (SELECT unnest(generate_series(0, 7)) AS bucket)
      SELECT b.media_id, CAST(octet_length(b.blob) AS BIGINT) AS n_bytes,
             CAST(d.bucket AS INT) AS dim_idx,
             coalesce(h.cnt, 0) AS byte_count
      FROM b CROSS JOIN dims d
      LEFT JOIN hist h ON h.media_id = b.media_id AND h.bucket = d.bucket""",
   "Arrow-batched mapInPandas feature extraction over binary payloads "
   "(decode kernel stubbed: deterministic byte%8-histogram fake, SQL-"
   "expressible). The normalized float feature is de-normalized back to "
   "exact integer byte counts so the oracle check is value-exact — the "
   "whole Arrow decode path gets a hash check, not just a row count.")
def multimodal_features(spark, sf_dir):
    media = attach_media(_t(spark, sf_dir, "documents"), "text", "doc_id",
                         media_type="image", fmt="raw")
    from .operators.multimodal import extract_features
    feats = extract_features(media)
    return (feats.select("media_id", "n_bytes",
                         F.posexplode("feature").alias("dim_idx", "fv"))
                 .select("media_id", "n_bytes", "dim_idx",
                         F.round(F.col("fv") * F.greatest(F.col("n_bytes"),
                                                          F.lit(1)))
                          .cast("long").alias("byte_count")))


# ==========================================================================
# Late additions: decorrelated scalar-subquery join and batch similarity
# join (many query vectors at once)
# ==========================================================================

@q("small_qty_part_revenue",
   """WITH thresh AS (
          SELECT l_partkey, 0.2 * avg(l_quantity::DOUBLE) AS qty_thresh
          FROM lineitem GROUP BY l_partkey)
      SELECT p_brand,
             round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
                   / 7.0, 4) AS avg_yearly
      FROM lineitem l
      JOIN thresh t ON t.l_partkey = l.l_partkey
      JOIN part p ON p.p_partkey = l.l_partkey
      WHERE l.l_quantity::DOUBLE < t.qty_thresh
      GROUP BY p_brand""",
   "TPC-H Q17 shape: correlated scalar subquery (per-part avg quantity) "
   "decorrelated into a pre-aggregate + same-key rejoin — both sides hash-"
   "partition on l_partkey so the join adds no extra exchange; the tiny "
   "part dim is broadcast. Decimal sum keeps the total order-independent.")
def small_qty_part_revenue(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    thresh = (li.groupBy("l_partkey")
                .agg((F.lit(0.2) * F.avg(F.col("l_quantity").cast("double")))
                     .alias("qty_thresh")))
    return (li.join(thresh, "l_partkey")
              .filter(F.col("l_quantity").cast("double") < F.col("qty_thresh"))
              .join(part, F.col("l_partkey") == F.col("p_partkey"))  # AQE decides
              .groupBy("p_brand")
              .agg(F.round(
                       F.sum(F.col("l_extendedprice").cast("decimal(18,2)"))
                        .cast("double") / 7.0, 4).alias("avg_yearly")))


_BATCH_COS = f"""
    WITH q AS (SELECT vec_id AS query_id, embedding AS qv
               FROM embeddings WHERE vec_id < 4),
    scored AS (
        SELECT q.query_id, e.vec_id,
               round({_DOT.format(a='e.embedding', b='qv')}
                     / (sqrt({_DOT.format(a='e.embedding', b='e.embedding')})
                        * sqrt({_DOT.format(a='qv', b='qv')})), 6) AS cos_sim
        FROM embeddings e, q WHERE e.vec_id <> q.query_id)
    SELECT query_id, vec_id, cos_sim
    FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                       ORDER BY cos_sim DESC, vec_id) AS rn
          FROM scored)
    WHERE rn <= 5"""


@q("batch_cosine_topk_embeddings", _BATCH_COS,
   "Batch similarity join: K query vectors broadcast against the corpus "
   "in ONE pass (vs K single-query scans), per-query top-k via "
   "row_number window partitioned by query_id. At 100 TB the corpus is "
   "read once regardless of K; ranking shuffles only K*N score rows.")
def batch_cosine_topk_embeddings(spark, sf_dir):
    from pyspark.sql.window import Window
    emb = _t(spark, sf_dir, "embeddings")
    qs = (emb.filter(F.col("vec_id") < 4)
             .select(F.col("vec_id").alias("query_id"),
                     F.col("embedding").alias("qv")))
    scored = (emb.join(F.broadcast(qs), F.col("vec_id") != F.col("query_id"))
                 .select("query_id", "vec_id",
                         F.round(sim.cosine(F.col("embedding"), F.col("qv")),
                                 6).alias("cos_sim")))
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"),
                                               F.asc("vec_id"))
    return (scored.withColumn("rn", F.row_number().over(w))
                  .filter(F.col("rn") <= 5).drop("rn"))


# ==========================================================================
# Corpus curation: repetition quality, lang-id accuracy, per-source caps
# ==========================================================================

@q("repetition_signals_documents",
   """WITH tk AS (SELECT doc_id, length(text)::DOUBLE AS n_chars,
                        string_split(text, ' ') AS t
                 FROM documents),
      g AS (SELECT doc_id, unnest(list_transform(
                generate_series(0, greatest(len(t) - 2, 0)),
                i -> array_to_string(list_slice(t, i + 1, i + 2), ' '))) AS gram
            FROM tk),
      cnt AS (SELECT doc_id, gram, count(*) AS c FROM g GROUP BY 1, 2),
      top AS (SELECT doc_id, max(c * length(gram)) AS top_mass
              FROM cnt GROUP BY 1)
      SELECT tk.doc_id,
             round(1.0 - len(list_distinct(t))::DOUBLE / len(t), 6)
               AS dup_word_frac,
             round(top_mass / n_chars, 6) AS top_ngram_char_frac,
             (round(1.0 - len(list_distinct(t))::DOUBLE / len(t), 6) <= 0.6
              AND round(top_mass / n_chars, 6) <= 0.2) AS repetition_ok
      FROM tk JOIN top USING (doc_id)""",
   "Gopher-style repetition quality (Rae'21 A1.1): duplicate-word "
   "fraction + top-2gram character mass; per-row array math + one "
   "explode/groupBy keyed by doc — shuffle O(grams)")
def repetition_signals_documents(spark, sf_dir):
    return tx.repetition_signals(_t(spark, sf_dir, "documents"))


_CONF_CTE = f"""
  tk AS (SELECT lang, string_split(text, ' ') AS t FROM documents),
  sc AS (SELECT lang, t, greatest({_LANG_SCORES}) AS best FROM tk)"""

@q("lang_id_confusion_documents",
   f"""WITH {_CONF_CTE}
      SELECT lang, CASE {' '.join(_LANG_CASE)} ELSE 'und' END AS lang_pred,
             count(*) AS n
      FROM sc GROUP BY 1, 2""",
   "lang-id confusion matrix vs the labeled lang column — classifier "
   "accuracy MEASURED against ground truth, not assumed")
def lang_id_confusion_documents(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return (docs.select("lang", tx.lang_id(F.col("text")).alias("lang_pred"))
                .groupBy("lang", "lang_pred")
                .agg(F.count(F.lit(1)).alias("n")))


@q("stratified_sample_by_source",
   f"""SELECT doc_id, source FROM documents
      QUALIFY row_number() OVER (
          PARTITION BY source
          ORDER BY {_H.format(x="doc_id::VARCHAR")}, doc_id) <= 20""",
   "per-source contribution cap: deterministic hash-ordered top-k per "
   "group (web-corpus domain capping); one shuffle on the group key")
def stratified_sample_by_source(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return tx.stratified_sample(docs, "source", 20).select("doc_id", "source")


@q("corpus_stats_by_source",
   """SELECT source, lang, count(*) AS n_docs,
             CAST(sum(n_chars) AS BIGINT) AS total_chars,
             round(avg(len(string_split(text, ' '))), 6) AS avg_words
      FROM documents GROUP BY 1, 2""",
   "dataset-card stats per (source, lang): doc/char/word totals in one "
   "partial-aggregable pass")
def corpus_stats_by_source(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return (docs.groupBy("source", "lang")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum("n_chars").cast("long").alias("total_chars"),
                 F.round(F.avg(F.size(F.split("text", " "))), 6)
                  .alias("avg_words")))


_KNN_SQL = f"""
    WITH q AS (SELECT vec_id AS query_id, embedding AS qv, label AS true_label
               FROM embeddings WHERE vec_id < 50),
    scored AS (
        SELECT q.query_id, q.true_label, e.vec_id, e.label,
               round({_DOT.format(a='e.embedding', b='qv')}
                     / (sqrt({_DOT.format(a='e.embedding', b='e.embedding')})
                        * sqrt({_DOT.format(a='qv', b='qv')})), 6) AS cos_sim
        FROM embeddings e, q WHERE e.vec_id <> q.query_id),
    topk AS (SELECT * FROM (
                 SELECT *, row_number() OVER (PARTITION BY query_id
                          ORDER BY cos_sim DESC, vec_id) AS rn
                 FROM scored) WHERE rn <= 10),
    votes AS (SELECT query_id, true_label, label, count(*) AS n_votes
              FROM topk GROUP BY 1, 2, 3)
    SELECT query_id, true_label, label AS pred_label, n_votes,
           (label = true_label) AS correct
    FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                   ORDER BY n_votes DESC, label) AS vr
          FROM votes) WHERE vr = 1"""


@q("knn_label_eval_embeddings", _KNN_SQL,
   "embedding-quality eval: 10-NN majority-vote label vs the true label "
   "for 50 query vectors — one corpus pass scores all queries (the "
   "batch-cosine shape), ranking and voting shuffle only "
   "(query, id, label, score) tuples, never embeddings")
def knn_label_eval_embeddings(spark, sf_dir):
    from pyspark.sql.window import Window
    emb = _t(spark, sf_dir, "embeddings")
    qs = (emb.filter(F.col("vec_id") < 50)
             .select(F.col("vec_id").alias("query_id"),
                     F.col("embedding").alias("qv"),
                     sim.l2_norm(F.col("embedding")).alias("qnrm"),
                     F.col("label").alias("true_label")))
    # norms factored out of the pair loop: cosine(a,b) inline would run
    # 3 dot products per (row x query) pair; precomputing |a| once per
    # corpus row and |q| once per broadcast query leaves 1 — a 3x cut in
    # the dominant (higher-order-function, non-codegen) work. Same
    # arithmetic, bit-identical to the oracle's sqrt(dot)/sqrt(dot) form.
    from .operators.partitioning import fan_out
    corpus = fan_out(emb).select("vec_id", "label", "embedding",
                                 sim.l2_norm(F.col("embedding")).alias("nrm"))
    scored = (corpus.join(F.broadcast(qs), F.col("vec_id") != F.col("query_id"))
                    .select("query_id", "true_label", "vec_id", "label",
                            F.round(sim.dot(F.col("embedding"), F.col("qv"))
                                    / (F.col("nrm") * F.col("qnrm")),
                                    6).alias("cos_sim")))
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), "vec_id")
    topk = (scored.withColumn("rn", F.row_number().over(w))
                  .filter(F.col("rn") <= 10))
    votes = (topk.groupBy("query_id", "true_label", "label")
                 .agg(F.count(F.lit(1)).alias("n_votes")))
    vw = Window.partitionBy("query_id").orderBy(F.desc("n_votes"), "label")
    return (votes.withColumn("vr", F.row_number().over(vw))
                 .filter(F.col("vr") == 1).drop("vr")
                 .select("query_id", "true_label",
                         F.col("label").alias("pred_label"), "n_votes",
                         (F.col("label") == F.col("true_label"))
                         .alias("correct")))


@q("json_props_extract_events",
   """SELECT event_type,
             count(*) AS n_events,
             CAST(sum(json_extract(props, '$.k')::INT) AS BIGINT) AS sum_k,
             CAST(max(json_extract(props, '$.k')::INT) AS INT) AS max_k,
             count(CASE WHEN json_extract(props, '$.k')::INT > 50 THEN 1 END)
               AS n_high
      FROM events GROUP BY event_type""",
   "semi-structured JSON column (the reference maps MySQL `json` to "
   "string + from_json at query time, SURVEY §1.3): schema-on-read "
   "extraction inside codegen, then a partial-aggregable rollup — no "
   "Python, no UDF")
def json_props_extract_events(spark, sf_dir):
    from pyspark.sql import types as T
    ev = _t(spark, sf_dir, "events")
    k = F.from_json("props", T.StructType([
        T.StructField("k", T.IntegerType())]))["k"]
    return (ev.select("event_type", k.alias("k"))
            .groupBy("event_type")
            .agg(F.count(F.lit(1)).alias("n_events"),
                 F.sum("k").cast("long").alias("sum_k"),
                 F.max("k").cast("int").alias("max_k"),
                 F.count(F.when(F.col("k") > 50, 1)).alias("n_high")))


@q("disjunctive_pred_part_revenue",
   """SELECT CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4)))
                  AS DOUBLE) AS revenue,
             count(*) AS n_items
      FROM lineitem JOIN part ON p_partkey = l_partkey
      WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15
             AND l_quantity >= 5 AND l_quantity <= 25)
         OR (p_brand = 'Brand#3' AND p_size BETWEEN 10 AND 30
             AND l_quantity >= 20 AND l_quantity <= 40)""",
   "TPC-H Q19 shape: OR-of-conjunctions spanning both join sides — "
   "Catalyst splits the single-side conjuncts below the join as pushed "
   "filters and keeps only the cross-side residual in the join "
   "condition; the join stays an equi-hash-join, never a nested loop")
def disjunctive_pred_part_revenue(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(18,4)")
    cond1 = ((F.col("p_brand") == "Brand#1") & F.col("p_size").between(1, 15)
             & F.col("l_quantity").between(5, 25))
    cond2 = ((F.col("p_brand") == "Brand#3") & F.col("p_size").between(10, 30)
             & F.col("l_quantity").between(20, 40))
    return (li.join(part, F.col("p_partkey") == F.col("l_partkey"))
              .filter(cond1 | cond2)
              .agg(F.sum(rev).cast("double").alias("revenue"),
                   F.count(F.lit(1)).alias("n_items")))


@q("waiting_multi_supplier_orders",
   """SELECT s.s_name, count(*) AS waiting_orders
      FROM supplier s
      JOIN lineitem l1 ON l1.l_suppkey = s.s_suppkey
      JOIN orders o ON o.o_orderkey = l1.l_orderkey
      WHERE o.o_orderstatus = 'F'
        AND l1.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
        AND EXISTS (SELECT 1 FROM lineitem l2
                    WHERE l2.l_orderkey = l1.l_orderkey
                      AND l2.l_suppkey <> l1.l_suppkey)
        AND NOT EXISTS (SELECT 1 FROM lineitem l3
                        WHERE l3.l_orderkey = l1.l_orderkey
                          AND l3.l_suppkey <> l1.l_suppkey
                          AND l3.l_shipdate > o.o_orderdate + INTERVAL 60 DAY)
      GROUP BY s.s_name""",
   "TPC-H Q21 shape: the sole-late-supplier query — correlated EXISTS "
   "(another supplier on the order) + NOT EXISTS (no OTHER supplier was "
   "late) as left_semi + left_anti on the same fact; Catalyst "
   "decorrelates both, no per-row subquery execution")
def waiting_multi_supplier_orders(spark, sf_dir):
    sup = _t(spark, sf_dir, "supplier")
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    late = F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")
    l1 = (li.join(orders.filter(F.col("o_orderstatus") == "F"),
                  F.col("l_orderkey") == F.col("o_orderkey"))
            .filter(late)
            .select("l_orderkey", "l_suppkey", "o_orderdate"))
    l2 = li.select(F.col("l_orderkey").alias("k2"), F.col("l_suppkey").alias("s2"))
    multi = l1.join(l2, (F.col("l_orderkey") == F.col("k2"))
                    & (F.col("l_suppkey") != F.col("s2")), "left_semi")
    l3 = li.select(F.col("l_orderkey").alias("k3"),
                   F.col("l_suppkey").alias("s3"),
                   F.col("l_shipdate").alias("d3"))
    sole_late = multi.join(
        l3, (F.col("l_orderkey") == F.col("k3"))
        & (F.col("l_suppkey") != F.col("s3"))
        & (F.col("d3") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")),
        "left_anti")
    return (sole_late.join(sup, F.col("l_suppkey") == F.col("s_suppkey"))
            .groupBy("s_name")
            .agg(F.count(F.lit(1)).alias("waiting_orders")))


@q("salted_join_order_priority",
   """SELECT o_orderpriority,
             count(*) AS n_items,
             CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
               AS sum_price
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      GROUP BY o_orderpriority""",
   "salted hot-key join (operators/skew.py): big side scattered across "
   "8 salts, small side replicated per salt, joined on (key, salt) — "
   "result provably identical to the plain join (the oracle IS the "
   "plain join); the tool for broadcast-infeasible hot keys beyond "
   "AQE's sort-merge skew split")
def salted_join_order_priority(spark, sf_dir):
    from .operators.skew import salted_join
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_extendedprice")
    orders = _t(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("l_orderkey"), "o_orderpriority")
    joined = salted_join(li, orders, "l_orderkey", num_salts=8,
                         scatter_col="l_extendedprice")
    return (joined.groupBy("o_orderpriority")
            .agg(F.count(F.lit(1)).alias("n_items"),
                 F.sum(F.col("l_extendedprice").cast("decimal(18,2)"))
                  .cast("double").alias("sum_price")))


# ==========================================================================
# Training-prep: decontamination, sequence packing, frame-sample oracle
# ==========================================================================

_SPLIT_SHINGLES = f"""
  tk AS (SELECT doc_id, {_GATE_SQL} AS g, string_split(text, ' ') AS t
         FROM documents),
  esh AS (SELECT doc_id, unnest(list_distinct(list_transform(
               generate_series(0, greatest(len(t) - 3, 0)),
               i -> array_to_string(list_slice(t, i + 1, i + 3), ' ')))) AS shingle
          FROM tk WHERE g >= {int(0.8 * 1_000_000)}),
  tsh AS (SELECT DISTINCT unnest(list_distinct(list_transform(
               generate_series(0, greatest(len(t) - 3, 0)),
               i -> array_to_string(list_slice(t, i + 1, i + 3), ' ')))) AS shingle
          FROM tk WHERE g < {int(0.8 * 1_000_000)})"""

@q("decontamination_eval_overlap",
   f"""WITH {_SPLIT_SHINGLES},
      sizes AS (SELECT doc_id, count(*) AS n_shingles FROM esh GROUP BY 1),
      hits AS (SELECT doc_id, count(*) AS n_overlap FROM esh
               WHERE shingle IN (SELECT shingle FROM tsh) GROUP BY 1)
      SELECT s.doc_id, s.n_shingles,
             coalesce(h.n_overlap, 0) AS n_overlap,
             round(coalesce(h.n_overlap, 0)::DOUBLE / s.n_shingles, 6)
               AS overlap_frac,
             round(coalesce(h.n_overlap, 0)::DOUBLE / s.n_shingles, 6) >= 0.5
               AS contaminated
      FROM sizes s LEFT JOIN hits h ON s.doc_id = h.doc_id""",
   "benchmark decontamination (GPT-3 appendix-C style): per eval doc, "
   "the fraction of its 3-gram shingles present anywhere in the train "
   "split — eval shingles LEFT SEMI JOIN the distinct train shingle "
   "set, shuffle O(postings) not |eval|x|train|")
def decontamination_eval_overlap(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    train = smp.sample_by_hash(docs, "doc_id", 0.8)
    # the deterministic hash gate partitions docs exactly: the eval
    # side is the complement FILTER (the oracle's `g >= 0.8*GATE`),
    # not an anti-join shuffle against the train keys
    evald = smp.sample_by_hash_complement(docs, "doc_id", 0.8)
    return dd.decontaminate_overlap(evald, train, threshold=0.5)


@q("epoch_shuffle_ranks_documents",
   f"""SELECT doc_id,
             row_number() OVER (
                 ORDER BY {_H.format(x="'epoch7:' || doc_id::VARCHAR")},
                          doc_id) AS shuffle_rank
      FROM documents""",
   "deterministic between-epoch corpus shuffle: dense rank in seeded "
   "pseudo-random hash order, realized distributed (range exchange + "
   "per-partition numbering + tiny offset prefix sum — "
   "assign_global_ids, never a single-partition window); bump the "
   "seed to reshuffle, write repartitionByRange(rank) for shard files "
   "in shuffled order")
def epoch_shuffle_ranks_documents(spark, sf_dir):
    return smp.epoch_shuffle_ranks(_t(spark, sf_dir, "documents"), seed=7)


@q("mixture_plan_by_source",
   """WITH per AS (SELECT source,
                         CAST(sum(len(string_split(text, ' '))) AS BIGINT)
                           AS available_tokens,
                         CAST(CASE source WHEN 'src0' THEN 4.0
                                          WHEN 'src1' THEN 2.0
                                          WHEN 'src2' THEN 1.0
                                          ELSE 0.0 END AS DOUBLE) AS w
                  FROM documents WHERE source IS NOT NULL
                  GROUP BY source),
      tot AS (SELECT sum(w) AS wsum FROM per)
      SELECT source, available_tokens,
             round(w / wsum, 6) AS weight,
             round(w / wsum * 1000000, 2) AS target_tokens,
             round(w / wsum * 1000000 / available_tokens, 6)
               AS sample_rate,
             CAST(ceil(w / wsum * 1000000 / available_tokens) AS BIGINT)
               AS n_epochs
      FROM per, tot WHERE w > 0""",
   "mixture planner: target domain weights + token budget -> per-"
   "source sampling rate and epoch count (rates > 1 mean the source "
   "repeats) — weights renormalized over PRESENT sources so a target "
   "mix naming an absent domain ('martian' here implicitly 0) never "
   "silently deflates the budget; one partial-agg corpus pass to "
   "|sources| rows, planning math on the k-row relation")
def mixture_plan_by_source(spark, sf_dir):
    return smp.plan_mixture(
        _t(spark, sf_dir, "documents"), total_tokens=1_000_000,
        weights={"src0": 4.0, "src1": 2.0, "src2": 1.0, "martian": 5.0})


@q("bloom_decontamination_documents",
   f"""WITH {_SPLIT_SHINGLES},
      sizes AS (SELECT doc_id, count(*) AS n_shingles FROM esh GROUP BY 1),
      hits AS (SELECT doc_id, count(*) AS n_overlap FROM esh
               WHERE shingle IN (SELECT shingle FROM tsh) GROUP BY 1)
      SELECT s.doc_id, s.n_shingles,
             coalesce(h.n_overlap, 0) AS n_overlap,
             round(coalesce(h.n_overlap, 0)::DOUBLE / s.n_shingles, 6)
               AS overlap_frac,
             round(coalesce(h.n_overlap, 0)::DOUBLE / s.n_shingles, 6) >= 0.5
               AS contaminated
      FROM sizes s LEFT JOIN hits h ON s.doc_id = h.doc_id""",
   "decontamination with a map-side Bloom pre-filter on the TRAIN "
   "shingle stream (128 KB mask on a 1-row broadcast, pure JVM bit "
   "arithmetic): the corpus-side distinct+join shuffles only matches "
   "+ ~2%% false positives instead of every posting — the oracle is "
   "the EXACT path's SQL because the output is provably identical "
   "(an FP survivor only matches an eval shingle if it equals one)")
def bloom_decontamination_documents(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    train = smp.sample_by_hash(docs, "doc_id", 0.8)
    # complement FILTER, not an anti-join — see decontamination_eval_overlap
    evald = smp.sample_by_hash_complement(docs, "doc_id", 0.8)
    return dd.decontaminate_overlap_bloom(evald, train, threshold=0.5)


@q("pack_sequences_documents",
   f"""WITH b AS (SELECT doc_id,
                       CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
                       {_GATE_SQL} AS g
                FROM documents),
      w AS (SELECT doc_id, n_tokens, g % 32 AS bucket,
                   sum(n_tokens) OVER (PARTITION BY g % 32 ORDER BY g, doc_id
                                       ROWS UNBOUNDED PRECEDING) AS cum
            FROM b)
      SELECT doc_id, n_tokens, CAST(bucket AS BIGINT) AS bucket,
             CAST(bucket * 1099511627776 AS BIGINT)
               + CAST(floor((cum - n_tokens) / 256.0) AS BIGINT) AS pack_id
      FROM w""",
   "token-budget sequence packing (LLM batch construction): hash-ordered "
   "greedy packing inside 32 independent bucket streams — one shuffle on "
   "the bucket key, window cumulative sum is partition-parallel, packing "
   "is rerun/partitioning-independent")
def pack_sequences_documents(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return smp.pack_sequences(
        docs, "doc_id", F.size(F.split("text", " ")), budget=256, buckets=32)


@q("frame_sample_documents",
   """WITH f AS (SELECT doc_id AS media_id, text,
                       least(8, greatest(length(text) // 64, 1)) AS nf
                FROM documents),
      i AS (SELECT media_id, text,
                   unnest(generate_series(0, nf - 1)) AS frame_idx
            FROM f)
      SELECT media_id, CAST(frame_idx AS INT) AS frame_idx,
             md5(substr(text, CAST(frame_idx * 64 + 1 AS INT), 64)) AS frame_md5
      FROM i""",
   "video frame-sampling plumbing (mapInPandas row explosion: 1 media "
   "row -> k frame rows, fanned out BEFORE any shuffle) with a "
   "value-exact oracle — frame bytes are md5'd on both sides (payloads "
   "are ASCII so DuckDB's char slicing equals byte slicing)")
def frame_sample_documents(spark, sf_dir):
    from .operators.multimodal import sample_frames
    media = attach_media(_t(spark, sf_dir, "documents"), "text", "doc_id",
                         media_type="video", fmt="raw")
    frames = sample_frames(media, every_n_bytes=64, max_frames=8)
    return frames.select("media_id", "frame_idx",
                         F.md5("frame").alias("frame_md5"))


# ==========================================================================
@q("drift_psi_documents",
   # NOTE: the oracle re-derives lo/hi/totals inline; Spark embeds them
   # as driver scalars — identical values, identical float expressions.
   """WITH ref AS (SELECT n_chars::DOUBLE AS v FROM documents
                 WHERE {gate} < 500000),
      cur AS (SELECT n_chars::DOUBLE AS v FROM documents
              WHERE {gate} >= 500000),
      mm AS (SELECT min(v) AS lo,
                    CASE WHEN max(v) - min(v) = 0 THEN 1.0
                         ELSE max(v) - min(v) END AS span
             FROM ref),
      hr AS (SELECT CAST(least(greatest(floor((v - lo) / span * 10), 0), 9)
                         AS INT) AS bucket, count(*) AS n
             FROM ref, mm GROUP BY 1),
      hc AS (SELECT CAST(least(greatest(floor((v - lo) / span * 10), 0), 9)
                         AS INT) AS bucket, count(*) AS n
             FROM cur, mm GROUP BY 1),
      bk AS (SELECT unnest(generate_series(0, 9))::INT AS bucket),
      h AS (SELECT bk.bucket,
                   coalesce(hr.n, 0)::DOUBLE AS nr,
                   coalesce(hc.n, 0)::DOUBLE AS nc
            FROM bk LEFT JOIN hr ON bk.bucket = hr.bucket
                    LEFT JOIN hc ON bk.bucket = hc.bucket),
      t AS (SELECT sum(nr) AS tr, sum(nc) AS tc FROM h)
      SELECT round(sum(((nc / tc + 1e-6) - (nr / tr + 1e-6))
                       * ln((nc / tc + 1e-6) / (nr / tr + 1e-6))), 6) AS psi,
             10 AS n_buckets,
             CAST(sum(nr) AS BIGINT) AS n_ref_rows,
             CAST(sum(nc) AS BIGINT) AS n_cur_rows
      FROM h, t""".replace("{gate}", _GATE_SQL),
   "distribution-drift gate: Population Stability Index of n_chars "
   "between two hash-disjoint corpus snapshots — two n_bucket-row "
   "histogram aggregations plus a broadcast-sized histogram join; the "
   "PSI<0.1 stable / >0.25 drifted gate of corpus refresh pipelines")
def drift_psi_documents(spark, sf_dir):
    from .operators.quality import psi_drift
    from .operators.sampling import hash_gate
    docs = _t(spark, sf_dir, "documents")
    g = hash_gate(F.col("doc_id"))
    return psi_drift(docs.filter(g < 500_000), docs.filter(g >= 500_000),
                     "n_chars", n_buckets=10)


@q("oov_rate_documents",
   """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
                 FROM documents),
      vocab AS (SELECT tok FROM (
                  SELECT tok, count(*) AS c FROM tok GROUP BY tok
                  ORDER BY c DESC, tok LIMIT 100)),
      flags AS (SELECT t.doc_id,
                       CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END AS oov
                FROM tok t LEFT JOIN vocab v ON t.tok = v.tok)
      SELECT doc_id, count(*) AS n_tokens,
             CAST(sum(oov) AS BIGINT) AS n_oov,
             round(sum(oov) / CAST(count(*) AS DOUBLE), 6) AS oov_rate
      FROM flags GROUP BY doc_id""",
   "tokenizer-vocabulary coverage: corpus-derived top-100 vocab "
   "(deterministic count-then-token tie-break), per-doc out-of-vocab "
   "rate via a broadcastable left join on the tiny vocab — the signal "
   "that decides whether a tokenizer needs retraining for a new corpus "
   "slice")
def oov_rate_documents(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    tok = docs.select("doc_id", F.explode(F.split("text", " ")).alias("tok"))
    vocab = (tok.groupBy("tok").agg(F.count(F.lit(1)).alias("c"))
                .orderBy(F.desc("c"), "tok").limit(100).select("tok")
                .withColumn("__in", F.lit(1)))
    joined = tok.join(F.broadcast(vocab), "tok", "left")
    oov = F.when(F.col("__in").isNull(), 1).otherwise(0)
    return (joined.groupBy("doc_id")
            .agg(F.count(F.lit(1)).alias("n_tokens"),
                 F.sum(oov).cast("long").alias("n_oov"),
                 F.round(F.sum(oov) / F.count(F.lit(1)).cast("double"), 6)
                  .alias("oov_rate")))


@q("user_event_sequences",
   """SELECT user_id,
             array_to_string(list(event_type ORDER BY ts, event_id), '>')
               AS seq,
             count(*) AS n
      FROM (SELECT user_id, event_type, ts, event_id
            FROM events WHERE user_id < 20)
      GROUP BY user_id""",
   "behavioral-sequence construction (the session->training-sequence "
   "step of an event-model pipeline): deterministic ordered array_agg "
   "per user — one shuffle on the user key, ordering via in-group sort "
   "keys, never a global sort. Serialized '>'-joined for the driver "
   "hash (the canonicalizer can't sort array columns)")
def user_event_sequences(spark, sf_dir):
    ev = _t(spark, sf_dir, "events").filter(F.col("user_id") < 20)
    return (ev.groupBy("user_id")
              .agg(F.array_sort(
                       F.collect_list(F.struct("ts", "event_id",
                                               "event_type")))
                   .alias("__s"),
                   F.count(F.lit(1)).alias("n"))
              .select("user_id",
                      F.array_join(
                          F.transform("__s", lambda s: s["event_type"]),
                          ">").alias("seq"),
                      "n"))


@q("label_centroids_embeddings",
   """SELECT label, i AS dim,
             avg(embedding[i]::DOUBLE) AS c,
             count(*) AS n
      FROM embeddings, unnest(generate_series(1, 64)) t(i)
      GROUP BY label, i""",
   "per-label centroids via applyInPandas (batch grouped-map Arrow "
   "path): one shuffle on the label key, numpy column math per group; "
   "exploded (label, dim, c) output so every element gets a tolerance-"
   "aware oracle check — the template for per-group kernels that "
   "genuinely need numpy (whitening, PCA, medoids)")
def label_centroids_embeddings(spark, sf_dir):
    emb = _t(spark, sf_dir, "embeddings")
    return sim.label_centroids_pandas(emb)


@q("pivot_status_by_priority",
   """SELECT o_orderpriority,
             count(CASE WHEN o_orderstatus = 'F' THEN 1 END) AS status_f,
             count(CASE WHEN o_orderstatus = 'O' THEN 1 END) AS status_o,
             count(CASE WHEN o_orderstatus = 'P' THEN 1 END) AS status_p,
             CAST(sum(CASE WHEN o_orderstatus = 'F'
                           THEN CAST(o_totalprice AS DECIMAL(18,2)) END)
                  AS DOUBLE) AS price_f
      FROM orders GROUP BY o_orderpriority""",
   "pivot / crosstab: groupBy().pivot(col, explicit_values) — explicit "
   "value list so the plan needs NO extra distinct-values pass over the "
   "fact table and the output schema is deterministic; compiles to one "
   "partial-aggregable HashAggregate, same shuffle as a plain groupBy")
def pivot_status_by_priority(spark, sf_dir):
    orders = _t(spark, sf_dir, "orders")
    piv = (orders.groupBy("o_orderpriority")
                 .pivot("o_orderstatus", ["F", "O", "P"])
                 .agg(F.count(F.lit(1)).alias("n"),
                      F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
                       .cast("double").alias("price")))
    return piv.select(
        "o_orderpriority",
        F.col("F_n").alias("status_f"), F.col("O_n").alias("status_o"),
        F.col("P_n").alias("status_p"), F.col("F_price").alias("price_f"))


@q("intersect_click_purchase_users",
   """SELECT user_id FROM events WHERE event_type = 'click'
      INTERSECT
      SELECT user_id FROM events WHERE event_type = 'purchase'""",
   "INTERSECT set op (§2.7 family beyond union/anti): compiles to a "
   "left-semi join over pre-distincted sides — shuffle on the key only")
def intersect_click_purchase_users(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select("user_id")
    buys = ev.filter(F.col("event_type") == "purchase").select("user_id")
    return clicks.intersect(buys)


# shared recursive-CC oracle scaffolding (mirrors neardup_clusters);
# ``cap`` mirrors lsh_pairs' max_bucket_size — buckets with more than
# ``cap`` member docs are dropped WHOLE before pair emission (the
# production default, plans/curate.py lsh_max_bucket_size=64)
def _cc_comp_cte(cap: int | None = None) -> str:
    capped = ""
    if cap is not None:
        capped = f"""
      bsize AS (SELECT band, band_hash, count(*) AS bn
                FROM banded GROUP BY band, band_hash),"""
    cap_join = ("" if cap is None else
                f""" JOIN bsize s
                  ON s.band = a.band AND s.band_hash = a.band_hash
                     AND s.bn <= {cap}""")
    return f"""{_MINHASH_CTE},
      banded AS (SELECT doc_id, hash_idx // 2 AS band,
                        md5(array_to_string(list_sort(
                            list(hash_idx::VARCHAR || ':' || min_hash::VARCHAR)),
                            ',')) AS band_hash
                 FROM sig GROUP BY doc_id, hash_idx // 2),{capped}
      pairs AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
                FROM banded a JOIN banded b
                  ON a.band = b.band AND a.band_hash = b.band_hash
                     AND a.doc_id < b.doc_id{cap_join}),
      edges AS (SELECT id_a AS u, id_b AS v FROM pairs
                UNION SELECT id_b, id_a FROM pairs),
      reach(u, v) AS (
          SELECT u, u FROM (SELECT DISTINCT u FROM edges)
          UNION
          SELECT e.u, r.v FROM edges e JOIN reach r ON e.v = r.u),
      comp AS (SELECT u AS doc_id, min(v) AS component FROM reach GROUP BY u)"""


_CC_COMP_CTE = _cc_comp_cte()


@q("neardup_dedup_keep_canonical",
   f"""WITH RECURSIVE {_CC_COMP_CTE}
      SELECT d.doc_id, d.source, d.lang
      FROM documents d LEFT JOIN comp c ON d.doc_id = c.doc_id
      WHERE c.doc_id IS NULL OR c.component = d.doc_id""",
   "end-to-end near-dup dedup: keep one canonical doc (min id) per "
   "MinHash-LSH component plus all unclustered docs — components run "
   "over the tiny pair graph, the corpus is touched once by a left_anti "
   "against the drop-set")
def neardup_dedup_keep_canonical(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    pairs = dd.lsh_pairs(docs, n=3, num_hashes=16, bands=8)
    return dd.dedup_keep_canonical(docs, pairs, pairs_distinct=True,
                                   keep_cols=["doc_id", "source", "lang"])


@q("neardup_dedup_capped_documents",
   f"""WITH RECURSIVE {_cc_comp_cte(cap=64)}
      SELECT d.doc_id, d.source, d.lang
      FROM documents d LEFT JOIN comp c ON d.doc_id = c.doc_id
      WHERE c.doc_id IS NULL OR c.component = d.doc_id""",
   "the PRODUCTION near-dup dedup chain, correctness-pinned end-to-end "
   "(r12 verdict item 6): identical to neardup_dedup_keep_canonical "
   "but through the CAPPED LSH chain — max_bucket_size=64, the "
   "plans/curate.py default — whose 100x probe measured 2.69M vs 112M "
   "candidate pairs on identical data (PERF.md annotation 6). Buckets "
   "over the cap are dropped WHOLE before pair emission (a band "
   "shared by thousands of docs is the MinHash stop-shingle; recall "
   "becomes a lower bound, the conservative direction), and the "
   "oracle carries the same bucket-count gate so the DROP semantics "
   "are what's pinned, not just the happy path. The uncapped sibling "
   "stays as the exactness pin of the full pair set")
def neardup_dedup_capped_documents(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    pairs = dd.lsh_pairs(docs, n=3, num_hashes=16, bands=8,
                         max_bucket_size=64)
    return dd.dedup_keep_canonical(docs, pairs, pairs_distinct=True,
                                   keep_cols=["doc_id", "source", "lang"])


@q("neardup_cluster_size_histogram",
   f"""WITH RECURSIVE {_CC_COMP_CTE},
      sizes AS (SELECT component, count(*) AS cluster_size
                FROM comp GROUP BY component)
      SELECT cluster_size, count(*) AS n_clusters
      FROM sizes GROUP BY cluster_size""",
   "dedup audit: near-dup cluster-size distribution (many pairs vs few "
   "giant templates) — two partial-aggregable groupBys over component "
   "labels")
def neardup_cluster_size_histogram(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    pairs = dd.lsh_pairs(docs, n=3, num_hashes=16, bands=8)
    return dd.cluster_size_histogram(pairs, pairs_distinct=True)


# ==========================================================================
# Round 3: classic relational shapes Q7/Q8/Q10/Q13/Q15 (the remaining
# TPC-H query families expressible without partsupp) + training-data ops
# (int8 quantization, chunk-level dup spans, PII redaction)
# ==========================================================================

@q("late_shipment_by_priority",
   """SELECT o_orderpriority,
             count(*) AS n_items,
             count(CASE WHEN date_diff('day', o_orderdate, l_shipdate) > 90
                        THEN 1 END) AS n_late,
             round(count(CASE WHEN date_diff('day', o_orderdate, l_shipdate)
                                   > 90 THEN 1 END)
                   / CAST(count(*) AS DOUBLE), 6) AS late_rate
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      GROUP BY o_orderpriority""",
   "TPC-H Q12 spirit (lineitem has no shipmode/commitdate, so the "
   "service-level signal is ship lag vs order date): fact-fact join on "
   "the shared key + conditional date-arithmetic aggregation — the date "
   "math runs in codegen, the join is AQE-sized")
def late_shipment_by_priority(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    late = F.when(F.datediff(F.col("l_shipdate"), F.col("o_orderdate")) > 90, 1)
    return (li.join(orders, li.l_orderkey == orders.o_orderkey)
              .groupBy("o_orderpriority")
              .agg(F.count(F.lit(1)).alias("n_items"),
                   F.count(late).alias("n_late"),
                   F.round(F.count(late) / F.count(F.lit(1)).cast("double"), 6)
                    .alias("late_rate")))


@q("funnel_conversion_events",
   """WITH firsts AS (
        SELECT user_id,
               min(CASE WHEN event_type = 'view' THEN ts END) AS t_view,
               min(CASE WHEN event_type = 'click' THEN ts END) AS t_click,
               min(CASE WHEN event_type = 'purchase' THEN ts END) AS t_buy
        FROM events GROUP BY user_id)
      SELECT count(*) AS n_users,
             count(t_view) AS stage_view,
             count(CASE WHEN t_click > t_view THEN 1 END) AS stage_click,
             count(CASE WHEN t_buy > t_click AND t_click > t_view
                        THEN 1 END) AS stage_purchase
      FROM firsts""",
   "funnel conversion (view -> click -> purchase in order): one "
   "conditional-min aggregation per user then ordered-stage counts — a "
   "single shuffle on user_id, no self-joins (the naive per-stage "
   "self-join shape shuffles the events table once per stage)")
def funnel_conversion_events(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    def first_ts(t):
        return F.min(F.when(F.col("event_type") == t, F.col("ts")))
    firsts = (ev.groupBy("user_id")
                .agg(first_ts("view").alias("t_view"),
                     first_ts("click").alias("t_click"),
                     first_ts("purchase").alias("t_buy")))
    in_order = (F.col("t_buy") > F.col("t_click")) & \
               (F.col("t_click") > F.col("t_view"))
    return firsts.agg(
        F.count(F.lit(1)).alias("n_users"),
        F.count("t_view").alias("stage_view"),
        F.count(F.when(F.col("t_click") > F.col("t_view"), 1))
         .alias("stage_click"),
        F.count(F.when(in_order, 1)).alias("stage_purchase"))


@q("cohort_retention_events",
   """WITH firsts AS (SELECT user_id, min(date_trunc('day', ts)) AS cohort_day
                    FROM events GROUP BY user_id),
      act AS (SELECT DISTINCT e.user_id, f.cohort_day,
                     date_diff('day', f.cohort_day,
                               date_trunc('day', e.ts)) AS day_offset
              FROM events e JOIN firsts f ON e.user_id = f.user_id)
      SELECT cohort_day, CAST(day_offset AS BIGINT) AS day_offset,
             count(*) AS n_active
      FROM act WHERE day_offset <= 7
      GROUP BY cohort_day, day_offset""",
   "cohort retention triangle (first-seen day x activity-day offset): "
   "first-touch agg + distinct-activity join keyed on user — two "
   "shuffles on user_id total; the cohort dim re-joins as a "
   "broadcast-sized table at any scale (days, not users)")
def cohort_retention_events(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    firsts = (ev.groupBy("user_id")
                .agg(F.date_trunc("day", F.min("ts")).alias("__f")))
    # min-then-trunc == trunc-then-min (trunc is monotone); compute the
    # cohort from the raw min so the agg carries one timestamp
    firsts = firsts.select("user_id", F.col("__f").alias("cohort_day"))
    act = (ev.join(firsts, "user_id")
             .select("user_id", "cohort_day",
                     F.datediff(F.date_trunc("day", F.col("ts")),
                                F.col("cohort_day")).cast("long")
                      .alias("day_offset"))
             .filter(F.col("day_offset") <= 7)
             .distinct())
    return (act.groupBy("cohort_day", "day_offset")
               .agg(F.count(F.lit(1)).alias("n_active")))


@q("chunk_documents_windowed",
   """WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      n AS (SELECT doc_id, w,
                   CAST(greatest(ceil((len(w) - 32) / 24.0) + 1, 1) AS INT)
                     AS nch
            FROM t),
      e AS (SELECT doc_id, unnest(range(nch))::INT AS i, w FROM n)
      SELECT doc_id, i AS chunk_idx,
             array_to_string(w[i*24+1 : i*24+32], ' ') AS chunk_text,
             CAST(len(w[i*24+1 : i*24+32]) AS BIGINT) AS n_tokens
      FROM e""",
   "long-document chunking (the dual of sequence packing): 32-token "
   "windows at stride 24 (8-token overlap) via per-row array slicing + "
   "one explode — zero shuffle, chunk rows stay on their doc's "
   "partition")
def chunk_documents_windowed(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return smp.chunk_documents(docs, "doc_id", "text",
                               max_tokens=32, stride=24)


@q("forecast_revenue_change",
   """SELECT CAST(sum(CAST(l_extendedprice * l_discount AS DECIMAL(18,4)))
                AS DOUBLE) AS revenue,
             count(*) AS n_items
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        AND l_shipdate <  TIMESTAMP '1997-01-01'
        AND l_discount BETWEEN 0.05 AND 0.07
        AND l_quantity < 24""",
   "TPC-H Q6 shape: pure scan-filter-aggregate — every predicate pushes "
   "to the parquet scan (date range prunes row groups by min/max), the "
   "agg is a 1-row map-side partial; the canonical 'is pushdown "
   "working' probe")
def forecast_revenue_change(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    rev = (F.col("l_extendedprice") * F.col("l_discount")).cast("decimal(18,4)")
    return (li.filter((F.col("l_shipdate") >= "1996-01-01")
                      & (F.col("l_shipdate") < "1997-01-01")
                      & (F.col("l_discount") >= 0.05)
                      & (F.col("l_discount") <= 0.07)
                      & (F.col("l_quantity") < 24))
              .agg(F.sum(rev).cast("double").alias("revenue"),
                   F.count(F.lit(1)).alias("n_items")))


@q("volume_shipping_pair_nations",
   """SELECT supp_nation, cust_nation, l_year,
             CAST(sum(vol) AS DOUBLE) AS revenue
      FROM (SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
                   year(l_shipdate) AS l_year,
                   CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4)) AS vol
            FROM lineitem
            JOIN supplier ON s_suppkey = l_suppkey
            JOIN orders   ON o_orderkey = l_orderkey
            JOIN customer ON c_custkey = o_custkey
            JOIN nation n1 ON s_nationkey = n1.n_nationkey
            JOIN nation n2 ON c_nationkey = n2.n_nationkey
            WHERE (n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
               OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
      GROUP BY supp_nation, cust_nation, l_year""",
   "TPC-H Q7 shape: bidirectional two-nation volume shipping — the "
   "disjunctive cross-dimension predicate lands after both nation joins; "
   "only the 25-row nation dim is hint-broadcast, fact joins stay "
   "AQE-driven")
def volume_shipping_pair_nations(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    sup = _t(spark, sf_dir, "supplier")
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    n1 = nation.select(F.col("n_nationkey").alias("s_nk"),
                       F.col("n_name").alias("supp_nation"))
    n2 = nation.select(F.col("n_nationkey").alias("c_nk"),
                       F.col("n_name").alias("cust_nation"))
    vol = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(18,4)")
    pair = (((F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2"))
            | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1")))
    return (li.join(sup, li.l_suppkey == sup.s_suppkey)
              .join(orders, li.l_orderkey == orders.o_orderkey)
              .join(cust, orders.o_custkey == cust.c_custkey)
              .join(F.broadcast(n1), F.col("s_nationkey") == F.col("s_nk"))
              .join(F.broadcast(n2), F.col("c_nationkey") == F.col("c_nk"))
              .filter(pair)
              .groupBy("supp_nation", "cust_nation",
                       F.year("l_shipdate").alias("l_year"))
              .agg(F.sum(vol).cast("double").alias("revenue")))


@q("market_share_by_year",
   """SELECT o_year,
             round(CAST(sum(CASE WHEN supp_nation = 'NATION_1' THEN vol
                                 ELSE CAST(0 AS DECIMAL(18,4)) END) AS DOUBLE)
                   / CAST(sum(vol) AS DOUBLE), 6) AS mkt_share
      FROM (SELECT year(o_orderdate) AS o_year,
                   CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4)) AS vol,
                   n2.n_name AS supp_nation
            FROM lineitem
            JOIN part     ON p_partkey = l_partkey
            JOIN supplier ON s_suppkey = l_suppkey
            JOIN orders   ON o_orderkey = l_orderkey
            JOIN customer ON c_custkey = o_custkey
            JOIN nation n1 ON c_nationkey = n1.n_nationkey
            JOIN region   ON n1.n_regionkey = r_regionkey
            JOIN nation n2 ON s_nationkey = n2.n_nationkey
            WHERE r_name = 'ASIA' AND p_type = 'PROMO')
      GROUP BY o_year""",
   "TPC-H Q8 shape: 8-table star join + conditional share-of-market "
   "aggregation; region/nation hint-broadcast, part/supplier/customer "
   "joins left to AQE size checks (they scale with data)")
def market_share_by_year(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    sup = _t(spark, sf_dir, "supplier")
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region")
    n1 = nation.select(F.col("n_nationkey").alias("c_nk"),
                       F.col("n_regionkey").alias("c_rk"))
    n2 = nation.select(F.col("n_nationkey").alias("s_nk"),
                       F.col("n_name").alias("supp_nation"))
    vol = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(18,4)")
    zero = F.lit(0).cast("decimal(18,4)")
    joined = (li.join(part.filter(F.col("p_type") == "PROMO"),
                      li.l_partkey == part.p_partkey)
                .join(sup, li.l_suppkey == sup.s_suppkey)
                .join(orders, li.l_orderkey == orders.o_orderkey)
                .join(cust, orders.o_custkey == cust.c_custkey)
                .join(F.broadcast(n1), F.col("c_nationkey") == F.col("c_nk"))
                .join(F.broadcast(region.filter(F.col("r_name") == "ASIA")),
                      F.col("c_rk") == F.col("r_regionkey"))
                .join(F.broadcast(n2), F.col("s_nationkey") == F.col("s_nk")))
    nat_vol = F.sum(F.when(F.col("supp_nation") == "NATION_1", vol).otherwise(zero))
    return (joined.groupBy(F.year("o_orderdate").alias("o_year"))
                  .agg(F.round(nat_vol.cast("double")
                               / F.sum(vol).cast("double"), 6).alias("mkt_share")))


@q("returned_item_top_customers",
   """SELECT c_custkey, c_name,
             CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4)))
                  AS DOUBLE) AS revenue,
             n_name
      FROM customer
      JOIN orders   ON o_custkey = c_custkey
      JOIN lineitem ON l_orderkey = o_orderkey
      JOIN nation   ON c_nationkey = n_nationkey
      WHERE l_returnflag = 'R'
        AND o_orderdate >= TIMESTAMP '1996-01-01'
        AND o_orderdate <  TIMESTAMP '1996-07-01'
      GROUP BY c_custkey, c_name, n_name
      ORDER BY revenue DESC, c_custkey LIMIT 20""",
   "TPC-H Q10 shape: returned-item revenue ranking — filter pushes to "
   "both fact scans, top-20 is TakeOrderedAndProject (no global sort)")
def returned_item_top_customers(spark, sf_dir):
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    nation = _t(spark, sf_dir, "nation")
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(18,4)")
    return (li.filter(F.col("l_returnflag") == "R")
              .join(orders.filter(
                  (F.col("o_orderdate") >= "1996-01-01")
                  & (F.col("o_orderdate") < "1996-07-01")),
                  li.l_orderkey == orders.o_orderkey)
              .join(cust, orders.o_custkey == cust.c_custkey)
              .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
              .groupBy("c_custkey", "c_name", "n_name")
              .agg(F.sum(rev).cast("double").alias("revenue"))
              .select("c_custkey", "c_name", "revenue", "n_name")
              .orderBy(F.desc("revenue"), "c_custkey").limit(20))


@q("custdist_orders_per_customer",
   """SELECT c_count, count(*) AS custdist
      FROM (SELECT c_custkey, count(o_orderkey) AS c_count
            FROM customer LEFT JOIN orders
              ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
            GROUP BY c_custkey)
      GROUP BY c_count""",
   "TPC-H Q13 shape: customer order-count distribution — left outer join "
   "keeps zero-order customers, two-level aggregation, the second groupBy "
   "is on an already-tiny domain")
def custdist_orders_per_customer(spark, sf_dir):
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    per_cust = (cust.join(orders.filter(F.col("o_orderpriority") != "1-URGENT"),
                          cust.c_custkey == orders.o_custkey, "left")
                    .groupBy("c_custkey")
                    .agg(F.count("o_orderkey").alias("c_count")))
    return per_cust.groupBy("c_count").agg(F.count(F.lit(1)).alias("custdist"))


@q("top_supplier_by_revenue",
   """WITH rev AS (SELECT l_suppkey AS supplier_no,
                        CAST(sum(CAST(l_extendedprice * (1 - l_discount)
                                      AS DECIMAL(18,4))) AS DOUBLE) AS total_revenue
                 FROM lineitem
                 WHERE l_shipdate >= TIMESTAMP '1996-01-01'
                   AND l_shipdate <  TIMESTAMP '1996-04-01'
                 GROUP BY l_suppkey)
      SELECT s_suppkey, s_name, total_revenue
      FROM supplier JOIN rev ON s_suppkey = supplier_no
      WHERE total_revenue = (SELECT max(total_revenue) FROM rev)""",
   "TPC-H Q15 shape: top supplier by quarterly revenue — the scalar max "
   "comes from a 1-row agg broadcast-joined back (no window over a "
   "single global partition, which would serialize at scale)")
def top_supplier_by_revenue(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    sup = _t(spark, sf_dir, "supplier")
    rev = (li.filter((F.col("l_shipdate") >= "1996-01-01")
                     & (F.col("l_shipdate") < "1996-04-01"))
             .groupBy(F.col("l_suppkey").alias("supplier_no"))
             .agg(F.sum((F.col("l_extendedprice") * (1 - F.col("l_discount")))
                        .cast("decimal(18,4)")).cast("double")
                  .alias("total_revenue")))
    best = rev.agg(F.max("total_revenue").alias("__best"))
    return (sup.join(rev, sup.s_suppkey == rev.supplier_no)
               .join(F.broadcast(best),
                     F.col("total_revenue") == F.col("__best"))
               .select("s_suppkey", "s_name", "total_revenue"))


@q("quantize_int8_embeddings",
   """WITH s AS (SELECT vec_id, embedding,
                      greatest(list_max(list_transform(embedding, x -> abs(x)))::DOUBLE
                        / 127.0, 1e-30) AS scale
               FROM embeddings)
      SELECT vec_id, scale,
             array_to_string(list_transform(embedding,
                            x -> CAST(round(x::DOUBLE / scale) AS INTEGER)),
                            ',') AS q_csv,
             CAST(list_sum(list_transform(embedding,
                  x -> CAST(round(x::DOUBLE / scale) AS BIGINT)
                       * CAST(round(x::DOUBLE / scale) AS BIGINT))) AS BIGINT)
               AS q_l2sq
      FROM s""",
   "symmetric per-vector int8 quantization (4x ANN storage/bandwidth "
   "cut): per-row array math, zero shuffle; q_l2sq is the value witness. "
   "q is serialized to CSV (q_csv) because the driver's canonicalizer "
   "sorts rows via pandas and cannot hash raw list cells")
def quantize_int8_embeddings(spark, sf_dir):
    emb = _t(spark, sf_dir, "embeddings")
    out = sim.quantize_int8(emb)
    return out.select(
        "vec_id", "scale",
        F.array_join(F.col("q").cast("array<string>"), ",").alias("q_csv"),
        "q_l2sq")


@q("duplicated_spans_documents",
   f"""WITH base AS (SELECT doc_id, text FROM documents
                   WHERE length(text) >= 30),
      ex AS (SELECT doc_id, text,
                    unnest(generate_series(1, length(text) - 29)) AS pos
             FROM base),
      hsh AS (SELECT doc_id, pos,
                     {_H.format(x="substring(text, pos, 30)")} AS h
              FROM ex),
      dup AS (SELECT h FROM hsh GROUP BY h
              HAVING count(DISTINCT doc_id) >= 2),
      hits AS (SELECT doc_id, pos FROM hsh
               WHERE h IN (SELECT h FROM dup)),
      brk AS (SELECT doc_id, pos,
                     CASE WHEN pos - lag(pos) OVER
                            (PARTITION BY doc_id ORDER BY pos) > 30
                          THEN 1 ELSE 0 END AS b
              FROM hits),
      isl AS (SELECT doc_id, pos,
                     sum(b) OVER (PARTITION BY doc_id ORDER BY pos) AS g
              FROM brk)
      SELECT doc_id, min(pos) AS span_start,
             max(pos) + 29 AS span_end,
             max(pos) + 29 - min(pos) + 1 AS span_len
      FROM isl GROUP BY doc_id, g
      HAVING max(pos) + 29 - min(pos) + 1 >= 60""",
   "MAXIMAL cross-doc duplicated character spans (Lee et al. 2021 "
   "exact substring dedup, k-gram-anchored so it distributes): "
   "per-position 64-bit k-gram hashes (text never shuffles), "
   "inverted-index semi-join keeps positions whose gram recurs across "
   "docs, and the islands trick (gap > k starts a new span) merges "
   "them into exact extents under a PER-DOC window — a scrubber can "
   "cut precisely, where dup_span_chunks only names offending chunk "
   "hashes")
def duplicated_spans_documents(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return dd.duplicated_spans(docs, k=30, min_len=60)


@q("scrub_exact_substrings_documents",
   f"""WITH base AS (SELECT doc_id, text FROM documents
                   WHERE length(text) >= 30),
      ex AS (SELECT doc_id, text,
                    unnest(generate_series(1, length(text) - 29)) AS pos
             FROM base),
      hsh AS (SELECT doc_id, pos,
                     {_H.format(x="substring(text, pos, 30)")} AS h
              FROM ex),
      dup AS (SELECT h FROM hsh GROUP BY h
              HAVING count(DISTINCT doc_id) >= 2),
      hits AS (SELECT doc_id, pos FROM hsh
               WHERE h IN (SELECT h FROM dup)),
      brk AS (SELECT doc_id, pos,
                     CASE WHEN pos - lag(pos) OVER
                            (PARTITION BY doc_id ORDER BY pos) > 30
                          THEN 1 ELSE 0 END AS b
              FROM hits),
      isl AS (SELECT doc_id, pos,
                     sum(b) OVER (PARTITION BY doc_id ORDER BY pos) AS g
              FROM brk),
      spans AS (SELECT doc_id, min(pos) AS span_start,
                       max(pos) + 29 AS span_end
                FROM isl GROUP BY doc_id, g
                HAVING max(pos) + 29 - min(pos) + 1 >= 60),
      content AS (SELECT s.doc_id, s.span_start, s.span_end,
                         {_H.format(
                             x="substring(d.text, s.span_start, "
                               "s.span_end - s.span_start + 1)")} AS chash
                  FROM spans s JOIN documents d USING (doc_id)),
      canon AS (SELECT chash, min(doc_id) AS keep
                FROM content GROUP BY chash),
      cuts AS (SELECT c.doc_id, c.span_start, c.span_end
               FROM content c JOIN canon USING (chash)
               WHERE c.doc_id <> keep),
      segs AS (SELECT doc_id, span_start, span_end,
                      coalesce(lag(span_end) OVER
                                 (PARTITION BY doc_id
                                  ORDER BY span_start), 0) + 1
                        AS seg_start
               FROM cuts),
      rebuilt AS (SELECT s.doc_id,
                         string_agg(substring(d.text, s.seg_start,
                                              s.span_start - s.seg_start),
                                    '' ORDER BY s.span_start)
                         || substring(d.text, max(s.span_end) + 1) AS text
                  FROM segs s JOIN documents d USING (doc_id)
                  GROUP BY s.doc_id, d.text)
      SELECT d.doc_id, coalesce(r.text, d.text) AS text
      FROM documents d LEFT JOIN rebuilt r USING (doc_id)""",
   "end-to-end exact-substring scrub (Lee et al. 2021 action): every "
   "cross-doc duplicated span keeps ONE canonical occurrence (min doc "
   "id per span CONTENT hash) and is cut everywhere else — text "
   "rebuilt by a per-doc codegen fold over the sorted cut list; docs "
   "without dups pass through byte-identical. Composes "
   "duplicated_spans + canonical election + zero-Python reassembly")
def scrub_exact_substrings_documents(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return dd.scrub_duplicated_spans(docs, k=30, min_len=60) \
             .select("doc_id", "text")


@q("dup_span_chunks_documents",
   f"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS w
                FROM documents
                WHERE len(string_split(text, ' ')) >= 16),
      i AS (SELECT doc_id, w, unnest(range(len(w) // 16)) AS i FROM t),
      e AS (SELECT doc_id,
                   array_to_string(w[i*16+1 : i*16+16], ' ') AS chunk
            FROM i)
      SELECT {_H.format(x='chunk')} AS chunk_hash,
             count(DISTINCT doc_id) AS n_docs,
             count(*) AS n_occurrences
      FROM e GROUP BY 1 HAVING count(DISTINCT doc_id) >= 2""",
   "chunk-level exact duplicate spans (boilerplate/template detector "
   "document-level dedup misses): per-row chunking, one groupBy on the "
   "64-bit chunk hash — shuffle O(chunks x 8B), never the chunk text")
def dup_span_chunks_documents(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return dd.dup_span_chunks(docs, chunk_words=16, min_docs=2)


_PII_EMAIL = tx.PII_PATTERNS["email"]
_PII_PHONE = tx.PII_PATTERNS["phone"]
_PII_IPV4 = tx.PII_PATTERNS["ipv4"]


@q("pii_scrub_customer",
   f"""WITH b AS (SELECT c_custkey,
                       c_name || ' email ' || lower(replace(c_name, ' ', '.'))
                       || '@example.com call +1 555-'
                       || lpad(CAST(c_custkey % 10000 AS VARCHAR), 4, '0')
                       || ' from 10.0.' || CAST(c_custkey % 256 AS VARCHAR)
                       || '.1' AS contact
                FROM customer)
      SELECT c_custkey,
             CAST(len(regexp_extract_all(contact, '{_PII_EMAIL}')) AS BIGINT)
               AS n_emails,
             CAST(len(regexp_extract_all(contact, '{_PII_PHONE}')) AS BIGINT)
               AS n_phones,
             CAST(len(regexp_extract_all(contact, '{_PII_IPV4}')) AS BIGINT)
               AS n_ips,
             regexp_replace(regexp_replace(regexp_replace(contact,
                 '{_PII_EMAIL}', '<EMAIL>', 'g'),
                 '{_PII_PHONE}', '<PHONE>', 'g'),
                 '{_PII_IPV4}', '<IPV4>', 'g') AS scrubbed
      FROM b""",
   "PII audit + redaction pass (emails/phones/IPv4) over synthesized "
   "contact text: regexp chain is per-row, zero shuffle, codegen'd; "
   "patterns restricted to the Java-regex/RE2 common subset so the "
   "oracle reproduces the redaction byte-for-byte")
def pii_scrub_customer(spark, sf_dir):
    cust = _t(spark, sf_dir, "customer")
    contact = F.concat(
        F.col("c_name"), F.lit(" email "),
        F.lower(F.regexp_replace("c_name", " ", ".")),
        F.lit("@example.com call +1 555-"),
        F.lpad((F.col("c_custkey") % 10000).cast("string"), 4, "0"),
        F.lit(" from 10.0."), (F.col("c_custkey") % 256).cast("string"),
        F.lit(".1"))
    base = cust.select("c_custkey", contact.alias("contact"))
    counts = tx.pii_counts(F.col("contact"))
    return base.select(
        "c_custkey",
        counts["email"].alias("n_emails"),
        counts["phone"].alias("n_phones"),
        counts["ipv4"].alias("n_ips"),
        tx.scrub_pii(F.col("contact")).alias("scrubbed"))


# ==========================================================================
# Round 4: rule-based quality gate, lexical retrieval, outlier screen,
# importance-weighted sampling
# ==========================================================================

@q("gopher_quality_documents",
   f"""WITH s AS (SELECT doc_id, text, string_split(text, ' ') AS t
                FROM documents),
      m AS (SELECT doc_id,
              CAST(len(t) AS BIGINT) AS n_words,
              round(CAST(length(text) - (len(t) - 1) AS DOUBLE) / len(t), 6)
                AS mean_word_len,
              round(CAST(len(regexp_extract_all(text, '#|\\.\\.\\.')) AS DOUBLE)
                    / len(t), 6) AS symbol_word_ratio,
              round(CAST(len(list_filter(t, x -> regexp_matches(x, '[a-zA-Z]')))
                    AS DOUBLE) / len(t), 6) AS alpha_word_ratio,
              CAST(len(list_filter(t, x -> list_contains({_STOP_SQL}, x)))
                   AS BIGINT) AS stop_hits
            FROM s)
      SELECT *,
             n_words BETWEEN 40 AND 100000 AS rule_word_count,
             mean_word_len BETWEEN 3.0 AND 10.0 AS rule_mean_word_len,
             symbol_word_ratio <= 0.1 AS rule_symbol_ratio,
             alpha_word_ratio >= 0.8 AS rule_alpha_words,
             stop_hits >= 2 AS rule_stopwords,
             (n_words BETWEEN 40 AND 100000)
               AND (mean_word_len BETWEEN 3.0 AND 10.0)
               AND symbol_word_ratio <= 0.1
               AND alpha_word_ratio >= 0.8
               AND stop_hits >= 2 AS gopher_keep
      FROM m""",
   "Gopher rule-based quality gate (Rae'21 A1.1; Dolma/RefinedWeb "
   "standard): word-count bounds, mean word length, symbol ratio, "
   "alpha-word fraction, stopword floor — all per-row built-ins in "
   "WholeStageCodegen, zero shuffle, runs at scan speed ahead of "
   "expensive dedup stages")
def gopher_quality_documents(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return tx.gopher_rules(docs, min_words=40)


_BM25_TERMS = ["spark", "window", "merge"]
_BM25_TERMS_SQL = "['" + "', '".join(_BM25_TERMS) + "']"

@q("bm25_search_documents",
   f"""WITH tk AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
      stats AS (SELECT count(*) AS n_docs, avg(len(t)) AS avgdl FROM tk),
      m AS (SELECT doc_id, len(t) AS dl,
                   unnest(list_intersect(t, {_BM25_TERMS_SQL})) AS term, t
            FROM tk
            WHERE len(list_intersect(t, {_BM25_TERMS_SQL})) > 0),
      tf AS (SELECT doc_id, dl, term,
                    CAST(len(list_filter(t, x -> x = term)) AS DOUBLE) AS tf
             FROM m),
      dft AS (SELECT term, count(*) AS df FROM tf GROUP BY term)
      SELECT doc_id,
             round(sum(ln(1.0 + (n_docs - df + 0.5) / (df + 0.5))
                       * tf * 2.2
                       / (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl))),
                   6) AS bm25
      FROM tf JOIN dft USING (term) CROSS JOIN stats
      GROUP BY doc_id
      ORDER BY bm25 DESC, doc_id LIMIT 10""",
   "BM25 lexical retrieval top-10 (Lucene idf variant, k1=1.2 b=0.75): "
   "corpus filtered by arrays_overlap at scan speed before any explode, "
   "postings O(matched docs x terms), df/corpus-stats broadcast, top-k "
   "via TakeOrderedAndProject — the lexical baseline beside the "
   "embedding ANN operators")
def bm25_search_documents(spark, sf_dir):
    from .operators import retrieval as rtv
    docs = _t(spark, sf_dir, "documents")
    return rtv.bm25_topk(docs, _BM25_TERMS, k=10)


@q("zscore_outliers_events",
   """WITH s AS (SELECT event_type AS p,
                      avg(value) AS mu,
                      stddev_pop(value) AS sigma
               FROM events GROUP BY 1)
      SELECT event_id, event_type, value,
             round((value - mu) / sigma, 6) AS z
      FROM events JOIN s ON event_type = p
      WHERE sigma > 0
        AND abs(round((value - mu) / sigma, 6)) > 3.0""",
   "per-group z-score outlier screen (|z| > 3 vs the group's "
   "population stats): one partial-aggregable stats groupBy (1 row per "
   "group, broadcast back), fact side touched once, never shuffled")
def zscore_outliers_events(spark, sf_dir):
    from .operators.quality import group_zscore_outliers
    ev = _t(spark, sf_dir, "events")
    out = group_zscore_outliers(ev, "event_type", "value", 3.0)
    return out.select("event_id", "event_type", "value", "z")


_QS_SQL = f"""round((least(CAST(length(text) AS DOUBLE) / 500.0, 1.0)
      + greatest(1.0 - abs(round(CAST(len(list_filter(string_split(text, ' '),
            x -> list_contains({_STOP_SQL}, x))) AS DOUBLE)
            / len(string_split(text, ' ')), 6) - 0.25) * 2, 0.0)
      + (1.0 - least(round(CAST(length(regexp_replace(text, '[a-zA-Z0-9\\s]',
            '', 'g')) AS DOUBLE) / length(text), 6) * 5, 1.0))) / 3, 6)"""

@q("importance_sample_documents",
   f"""WITH s AS (SELECT doc_id, {_QS_SQL} AS weight FROM documents)
      SELECT doc_id, weight FROM s
      WHERE {_H.format(x="'imp' || doc_id::VARCHAR")} % {1_000_000}
            < CAST(floor(weight * {1_000_000}) AS BIGINT)""",
   "importance-weighted deterministic sampling (DSIR-style): keep "
   "probability = per-row quality score via the hash gate — same "
   "reproducibility contract as sample_by_hash (engine/partitioning/"
   "day-independent), per-row filter, zero shuffle; salted replicates "
   "decorrelate for ablations")
def importance_sample_documents(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    w = tx.quality_score(F.col("text"))
    out = smp.importance_sample(docs, "doc_id", w, salt="imp")
    return out.select("doc_id", w.alias("weight"))


_CMS_TERMS = ["join", "hash", "row", "batch", "scan", "customer",
              "spark", "window", "merge", "zzzz_absent"]
_CMS_TERMS_SQL = "['" + "', '".join(_CMS_TERMS) + "']"
# one md5 base hash per token + 4 Carter-Wegman affine mixes (same
# family/seed as operators/sketches.py CMS_SEED)
_CMS_PARAMS = dd.minhash_params(4, seed=7)  # sketches.CMS_SEED
_CMS_A = "[" + ", ".join(str(a) for a, _, _ in _CMS_PARAMS) + "]"
_CMS_BB = "[" + ", ".join(str(b) for _, b, _ in _CMS_PARAMS) + "]"
_CMS_C = "[" + ", ".join(str(c) for _, _, c in _CMS_PARAMS) + "]"
_CMS_B = (f"((({_CMS_A})[d + 1] * (h & 1073741823)"
          f" + ({_CMS_BB})[d + 1] * (h >> 30)"
          f" + ({_CMS_C})[d + 1]) % {(1 << 61) - 1}) % 512")

@q("cms_heavy_hitters_documents",
   f"""WITH tok0 AS (SELECT unnest(string_split(text, ' ')) AS term
                  FROM documents),
      tok AS (SELECT term, {_H.format(x='term')} AS h FROM tok0),
      ds AS (SELECT unnest(range(4)) AS d),
      buck AS (SELECT term, d, {_CMS_B} AS bucket FROM tok, ds),
      sketch AS (SELECT d, bucket, count(*) AS c FROM buck GROUP BY 1, 2),
      cand0 AS (SELECT unnest({_CMS_TERMS_SQL}) AS term),
      cand AS (SELECT term, {_H.format(x='term')} AS h FROM cand0),
      cb AS (SELECT term, d, {_CMS_B} AS bucket FROM cand, ds),
      est AS (SELECT term, min(coalesce(c, 0)) AS cms_count
              FROM cb LEFT JOIN sketch USING (d, bucket) GROUP BY 1),
      exact AS (SELECT term, count(*) AS exact_count FROM tok GROUP BY 1)
      SELECT term, coalesce(exact_count, 0) AS exact_count, cms_count,
             cms_count >= coalesce(exact_count, 0) AS no_undercount
      FROM est LEFT JOIN exact USING (term)""",
   "count-min sketch frequency estimation (Cormode'05; 4x512 "
   "counters): the sketch groupBy partial-aggregates to <= depth*width "
   "rows per partition, so the shuffle is O(partitions x 2048) rows "
   "regardless of corpus size — the 100 TB replacement for an exact "
   "O(vocabulary) token count; one-sided error (no_undercount) checked "
   "against the exact counts, every bucket reproduced by the oracle")
def cms_heavy_hitters_documents(spark, sf_dir):
    from .operators import sketches as sk
    docs = _t(spark, sf_dir, "documents")
    sketch = sk.cms_sketch(docs, depth=4, width=512)
    est = sk.cms_estimate(sketch, _CMS_TERMS, depth=4, width=512)
    exact = (docs.select(F.explode(tx.tokens(F.col("text"))).alias("term"))
                 .groupBy("term").agg(F.count(F.lit(1)).alias("exact_count"))
                 .join(F.broadcast(
                     spark.createDataFrame([(t,) for t in _CMS_TERMS],
                                           ["term"])), "term"))
    return (est.join(exact, "term", "left")
               .fillna(0, ["exact_count"])
               .select("term", "exact_count", "cms_count",
                       (F.col("cms_count") >= F.col("exact_count"))
                       .alias("no_undercount")))


@q("approx_percentile_check_lineitem",
   """SELECT round(quantile_cont(CAST(l_extendedprice AS DOUBLE), 0.5), 4)
               AS p50_exact,
             round(quantile_cont(CAST(l_extendedprice AS DOUBLE), 0.95), 4)
               AS p95_exact,
             TRUE AS p50_within, TRUE AS p95_within
      FROM lineitem""",
   "approx_percentile (KLL-family fixed-memory quantile sketch — the "
   "100 TB path where exact percentile would sort-shuffle the column) "
   "asserted within 1% of the exact interpolated percentile; oracle "
   "checks the exact side (quantile_cont = Spark percentile semantics)")
def approx_percentile_check_lineitem(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    v = F.col("l_extendedprice").cast("double")
    agg = li.agg(
        F.expr("percentile(CAST(l_extendedprice AS DOUBLE), array(0.5, 0.95))")
         .alias("ex"),
        F.percentile_approx(v, [0.5, 0.95], 10000).alias("ap"))
    return agg.select(
        F.round(F.col("ex")[0], 4).alias("p50_exact"),
        F.round(F.col("ex")[1], 4).alias("p95_exact"),
        (F.abs(F.col("ap")[0] - F.col("ex")[0])
         <= 0.01 * F.col("ex")[0]).alias("p50_within"),
        (F.abs(F.col("ap")[1] - F.col("ex")[1])
         <= 0.01 * F.col("ex")[1]).alias("p95_within"))


_MIX_W = {"src0": 1.0, "src1": 0.75, "src2": 0.5, "src3": 0.25}
_MIX_CASE = ("CASE " + " ".join(
    f"WHEN source = '{g}' THEN {p}" for g, p in sorted(_MIX_W.items()))
    + " ELSE 0.1 END")

@q("mixture_sample_by_source",
   f"""SELECT doc_id, source FROM documents
      WHERE {_H.format(x="'mix' || doc_id::VARCHAR")} % {1_000_000}
            < CAST(floor(({_MIX_CASE}) * {1_000_000}) AS BIGINT)""",
   "domain-mixture sampling (DoReMi-style source reweighting as "
   "deterministic rejection sampling): per-source keep rates via the "
   "hash gate — zero shuffle, rerun/engine-stable, nested subsets per "
   "source; the 'data mixing' step between curation and packing")
def mixture_sample_by_source(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    out = smp.mixture_sample(docs, "doc_id", "source", _MIX_W,
                             default=0.1, salt="mix")
    return out.select("doc_id", "source")


@q("temperature_mixture_by_source",
   f"""WITH c AS (SELECT source, count(*) AS n FROM documents
                  WHERE source IS NOT NULL GROUP BY 1),
      tot AS (SELECT sum(n) AS total FROM c),
      p AS (SELECT source, n, pow(CAST(n AS DOUBLE), 0.5) AS pr FROM c),
      z AS (SELECT sum(pr) AS z FROM p),
      r AS (SELECT source, n,
                   least(1.0, (total * 0.4) * pr / z / n) AS rate
            FROM p CROSS JOIN z CROSS JOIN tot)
      SELECT d.doc_id, d.source
      FROM documents d JOIN r USING (source)
      WHERE {_H.format(x="'tmix' || d.doc_id::VARCHAR")} % {1_000_000}
            < CAST(floor(rate * {1_000_000}) AS BIGINT)""",
   "TEMPERATURE-scaled mixture (T=2: sample source g ∝ sqrt(n_g) — "
   "the multilingual/pretraining up-weighting of tail domains without "
   "hand-tuned weights, target 40% of the corpus): rates are a "
   "closed form of the k-row group counts (driver scalars, same float "
   "expression shape as the oracle — the drift_psi device), realized "
   "by the deterministic hash gate: zero shuffle, rerun-stable, "
   "nested; rates cap at 1.0 so tiny domains contribute all they "
   "have")
def temperature_mixture_by_source(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    # NULL sources get no temperature share (documented drop-NULL
    # semantics) — exclude them from BOTH the counts and the target
    # total so the oracle's WHERE source IS NOT NULL counts CTE pins
    # the same rates even when the corpus contains NULL domains
    counts = {r["source"]: r["count"] for r in
              docs.groupBy("source").count().collect()
              if r["source"] is not None}
    rates = smp.temperature_keep_rates(
        docs, "source", temperature=2.0,
        target_rows=sum(counts.values()) * 0.4, counts=counts)
    out = smp.mixture_sample(docs, "doc_id", "source", rates,
                             default=0.0, salt="tmix")
    return out.select("doc_id", "source")


@q("scd2_history_events",
   """WITH chg AS (SELECT user_id, event_type, ts, event_id,
                        lag(event_type) OVER w AS prev
                 FROM events
                 WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      seg AS (SELECT user_id, event_type, ts AS valid_from, event_id
              FROM chg WHERE prev IS NULL OR event_type <> prev)
      SELECT user_id, event_type, valid_from,
             lead(valid_from) OVER w2 AS valid_to,
             lead(valid_from) OVER w2 IS NULL AS is_current
      FROM seg
      WINDOW w2 AS (PARTITION BY user_id ORDER BY valid_from, event_id)""",
   "SCD Type 2 reconstruction from a change log: consecutive same-value "
   "rows collapse into validity-bounded segments (lag) with "
   "valid_to/is_current from lead — one shuffle on the key; the "
   "incremental twin (plans/scd2.py SCD2Target) rewrites only touched "
   "keys' segments per CDC delta and is equivalence-tested against this "
   "batch form")
def scd2_history_events(spark, sf_dir):
    from .plans.scd2 import scd2_from_log
    ev = _t(spark, sf_dir, "events")
    return scd2_from_log(ev, "user_id", "event_type", "ts", "event_id")


@q("hll_union_distinct_users",
   """SELECT event_type, count(DISTINCT user_id) AS n_users,
             TRUE AS within_tol
      FROM events GROUP BY event_type""",
   "mergeable distinct-count rollup (Apache DataSketches HLL via "
   "hll_sketch_agg/hll_union_agg): per-(type, day) sketches re-aggregate "
   "to per-type WITHOUT re-scanning raw events — the 100 TB rollup-"
   "maintenance path where daily sketch partials are stored and any "
   "coarser grain is a cheap sketch union; estimate asserted within 5% "
   "of exact, oracle checks the exact side")
def hll_union_distinct_users(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    daily = ev.groupBy("event_type", F.to_date("ts").alias("day")).agg(
        F.hll_sketch_agg("user_id", F.lit(14)).alias("sk"))
    merged = daily.groupBy("event_type").agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk", F.lit(False)))
         .alias("__approx"))
    exact = ev.groupBy("event_type").agg(
        F.count_distinct("user_id").alias("n_users"))
    return (merged.join(exact, "event_type")
            .select("event_type", "n_users",
                    (F.abs(F.col("__approx") - F.col("n_users"))
                     <= 0.05 * F.col("n_users")).alias("within_tol")))


@q("hybrid_search_rrf",
   f"""WITH tk AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
      stats AS (SELECT count(*) AS n_docs, avg(len(t)) AS avgdl FROM tk),
      m AS (SELECT doc_id, len(t) AS dl,
                   unnest(list_intersect(t, {_BM25_TERMS_SQL})) AS term, t
            FROM tk
            WHERE len(list_intersect(t, {_BM25_TERMS_SQL})) > 0),
      tf AS (SELECT doc_id, dl, term,
                    CAST(len(list_filter(t, x -> x = term)) AS DOUBLE) AS tf
             FROM m),
      dft AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
      lex AS (SELECT doc_id,
                     round(sum(ln(1.0 + (n_docs - df + 0.5) / (df + 0.5))
                               * tf * 2.2
                               / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))),
                           6) AS score
              FROM tf JOIN dft USING (term) CROSS JOIN stats
              GROUP BY doc_id ORDER BY score DESC, doc_id LIMIT 20),
      lexr AS (SELECT doc_id, row_number() OVER
                   (ORDER BY score DESC, doc_id) AS rank FROM lex),
      q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
      sem AS (SELECT e.vec_id AS doc_id,
                     round({_DOT.format(a='e.embedding', b='qv')}
                           / (sqrt({_DOT.format(a='e.embedding',
                                                b='e.embedding')})
                              * sqrt({_DOT.format(a='qv', b='qv')})), 6)
                       AS score
              FROM embeddings e, q
              ORDER BY score DESC, e.vec_id LIMIT 20),
      semr AS (SELECT doc_id, row_number() OVER
                   (ORDER BY score DESC, doc_id) AS rank FROM sem),
      u AS (SELECT * FROM lexr UNION ALL SELECT * FROM semr)
      SELECT doc_id, round(sum(1.0 / (60 + rank)), 6) AS rrf
      FROM u GROUP BY doc_id ORDER BY rrf DESC, doc_id LIMIT 10""",
   "hybrid retrieval with reciprocal-rank fusion (Cormack'09): BM25 "
   "top-20 and brute-cosine top-20 fused score-scale-free by "
   "sum(1/(60+rank)) — both candidate plans are bounded before the "
   "fuse, so the union/agg is k-row work; swap the cosine side for the "
   "IVF/LSH ANN operators at corpus scale without touching the fusion")
def hybrid_search_rrf(spark, sf_dir):
    from .operators import retrieval as rtv
    docs = _t(spark, sf_dir, "documents")
    emb = _t(spark, sf_dir, "embeddings")
    qvec = [float(v) for v in
            emb.filter(F.col("vec_id") == 0).first()["embedding"]]
    lex = rtv.with_rank(rtv.bm25_topk(docs, _BM25_TERMS, k=20), "bm25")
    semt = (sim.cosine_topk(emb, qvec, k=20)
            .withColumnRenamed("vec_id", "doc_id"))
    sem = rtv.with_rank(semt, "cos_sim")
    return rtv.rrf_fuse([lex, sem], topk=10)


_NORM_SQL = ("trim(regexp_replace(regexp_replace(lower({x}), "
             "'[^a-z0-9\\s]', ' ', 'g'), '\\s+', ' ', 'g'))")

@q("normalized_dedup_documents",
   f"""WITH n AS (SELECT doc_id,
                       {_H.format(x=_NORM_SQL.format(x='text'))} AS digest
               FROM documents)
      SELECT digest, CAST(min(doc_id) AS BIGINT) AS canonical_id,
             count(*) AS n_dupes
      FROM n GROUP BY digest""",
   "exact dedup on the NORMALIZED text form (lowercase, punct stripped, "
   "whitespace collapsed — the CCNet/Dolma preprocessing step): catches "
   "case/punct/spacing variants byte-exact dedup misses, same "
   "digest-groupBy shuffle shape (32B/row) as exact_dedup")
def normalized_dedup_documents(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    digest = tx.md5_prefix_int(tx.normalize_text(F.col("text")))
    return (docs.select("doc_id", digest.alias("digest"))
                .groupBy("digest")
                .agg(F.min("doc_id").alias("canonical_id"),
                     F.count(F.lit(1)).alias("n_dupes")))


@q("bigram_logprob_documents",
   f"""WITH n AS (SELECT doc_id, {_NORM_SQL.format(x='text')} AS t
               FROM documents),
      b AS (SELECT doc_id, t FROM n WHERE length(t) >= 2),
      ex AS (SELECT doc_id,
                    unnest(list_transform(
                        generate_series(1, length(t) - 1),
                        i -> substring(t, i, 2))) AS g
             FROM b),
      freq AS (SELECT g, count(*) AS c FROM ex GROUP BY g),
      tot AS (SELECT sum(c) AS total FROM freq),
      model AS (SELECT g, c / total AS p FROM freq CROSS JOIN tot)
      SELECT doc_id, round(avg(ln(p)), 6) AS avg_logprob,
             count(*) AS n_bigrams
      FROM ex JOIN model USING (g)
      GROUP BY doc_id""",
   "char-bigram LM quality score (CCNet perplexity-proxy filter): the "
   "corpus IS the model (<= |alphabet|^2 frequency rows, broadcast "
   "back), per-doc mean log-prob flags statistically-divergent text; "
   "at 100 TB the frequency table trains once on a sample and persists "
   "(IVF-index-style lifecycle), leaving one scoring pass")
def bigram_logprob_documents(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return tx.bigram_logprob(docs)


@q("lexical_diversity_by_source",
   """WITH t AS (SELECT source, unnest(string_split(text, ' ')) AS w
               FROM documents)
      SELECT source, count(*) AS n_tokens,
             count(DISTINCT w) AS n_types,
             round(count(DISTINCT w) / count(*)::DOUBLE, 6)
               AS type_token_ratio
      FROM t GROUP BY source""",
   "lexical diversity per source (type-token ratio, the Heaps-law "
   "corpus diagnostic: template/boilerplate sources show depressed "
   "TTR): one explode + a partial-aggregable count-distinct per group")
def lexical_diversity_by_source(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return (docs.select("source",
                        F.explode(tx.tokens(F.col("text"))).alias("w"))
                .groupBy("source")
                .agg(F.count(F.lit(1)).alias("n_tokens"),
                     F.count_distinct("w").alias("n_types"),
                     F.round(F.count_distinct("w")
                             / F.count(F.lit(1)).cast("double"), 6)
                      .alias("type_token_ratio")))


@q("gopher_pass_rates_by_source",
   f"""WITH s AS (SELECT doc_id, source, text, string_split(text, ' ') AS t
                FROM documents),
      m AS (SELECT doc_id, source,
              CAST(len(t) AS BIGINT) AS n_words,
              round(CAST(length(text) - (len(t) - 1) AS DOUBLE) / len(t), 6)
                AS mwl,
              CAST(len(list_filter(t, x -> list_contains({_STOP_SQL}, x)))
                   AS BIGINT) AS stop_hits
            FROM s)
      SELECT source,
             round(avg(CASE WHEN n_words BETWEEN 40 AND 100000
                            THEN 1.0 ELSE 0.0 END), 6) AS rate_word_count,
             round(avg(CASE WHEN stop_hits >= 2 THEN 1.0 ELSE 0.0 END), 6)
               AS rate_stopwords,
             round(avg(CASE WHEN n_words BETWEEN 40 AND 100000
                             AND mwl BETWEEN 3.0 AND 10.0
                             AND stop_hits >= 2
                            THEN 1.0 ELSE 0.0 END), 6) AS rate_keep_core,
             count(*) AS n_docs
      FROM m GROUP BY source""",
   "curation dashboard: per-source Gopher rule pass rates (which "
   "sources the gate is eating — the first question after any funnel "
   "run); reuses the per-row rule expressions, one groupBy on source")
def gopher_pass_rates_by_source(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    rules = tx.gopher_rules(docs, min_words=40)
    joined = docs.select("doc_id", "source").join(rules, "doc_id")
    as_rate = lambda c: F.round(F.avg(F.col(c).cast("double")), 6)  # noqa: E731
    core = (F.col("rule_word_count") & F.col("rule_mean_word_len")
            & F.col("rule_stopwords")).cast("double")
    return (joined.groupBy("source")
            .agg(as_rate("rule_word_count").alias("rate_word_count"),
                 as_rate("rule_stopwords").alias("rate_stopwords"),
                 F.round(F.avg(core), 6).alias("rate_keep_core"),
                 F.count(F.lit(1)).alias("n_docs")))


@q("key_skew_profile_events",
   """WITH c AS (SELECT user_id, count(*) AS n FROM events GROUP BY 1)
      SELECT count(*) AS n_keys,
             CAST(max(n) AS BIGINT) AS max_rows,
             round(avg(n), 6) AS avg_rows,
             round(quantile_cont(n, 0.99), 6) AS p99_rows,
             round(max(n) / avg(n), 6) AS skew_factor
      FROM c""",
   "join-key skew profile (the measurement BEFORE reaching for "
   "operators/skew.py salting: skew_factor = hottest key vs mean): "
   "one partial-aggregable per-key count, then a 1-row stats agg over "
   "the counts — the exact percentile runs over |keys| rows, not "
   "|events| rows, so it stays cheap even when the fact table doesn't")
def key_skew_profile_events(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    c = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("n"))
    return c.agg(
        F.count(F.lit(1)).alias("n_keys"),
        F.max("n").alias("max_rows"),
        F.round(F.avg("n"), 6).alias("avg_rows"),
        F.round(F.expr("percentile(n, 0.99)"), 6).alias("p99_rows"),
        F.round(F.max("n") / F.avg("n"), 6).alias("skew_factor"))


@q("dup_rate_by_source",
   f"""WITH d AS (SELECT doc_id, source, {_H.format(x='text')} AS digest
               FROM documents),
      g AS (SELECT digest, count(*) AS n FROM d GROUP BY 1)
      SELECT source, count(*) AS n_docs,
             CAST(count(*) FILTER (n > 1) AS BIGINT) AS n_in_dupe_groups,
             round(count(*) FILTER (n > 1) / count(*)::DOUBLE, 6)
               AS dup_rate
      FROM d JOIN g USING (digest)
      GROUP BY source""",
   "per-source exact-duplicate exposure (which sources are copying "
   "which — the dedup diagnostic run before choosing per-source caps): "
   "digest groupBy + broadcast-back of the dupe groups, one groupBy on "
   "source")
def dup_rate_by_source(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    d = docs.select("doc_id", "source",
                    tx.md5_prefix_int(F.col("text")).alias("digest"))
    g = d.groupBy("digest").agg(F.count(F.lit(1)).alias("n"))
    dup = (F.col("n") > 1).cast("long")
    return (d.join(g, "digest")
             .groupBy("source")
             .agg(F.count(F.lit(1)).alias("n_docs"),
                  F.sum(dup).alias("n_in_dupe_groups"),
                  F.round(F.sum(dup) / F.count(F.lit(1)).cast("double"), 6)
                   .alias("dup_rate")))


@q("unpivot_measure_stats_lineitem",
   """WITH u AS (SELECT measure, CAST(value AS DOUBLE) AS value
               FROM (SELECT CAST(l_quantity AS DOUBLE) AS quantity,
                            CAST(l_discount AS DOUBLE) AS discount,
                            CAST(l_tax AS DOUBLE) AS tax
                     FROM lineitem)
               UNPIVOT (value FOR measure IN (quantity, discount, tax)))
      SELECT measure, count(*) AS n,
             round(avg(value), 6) AS mean,
             round(min(value), 6) AS min_v,
             round(max(value), 6) AS max_v
      FROM u GROUP BY measure""",
   "wide->long reshaping (unpivot/melt, the inverse of the pivot "
   "query): per-measure summary stats in one pass — unpivot is a "
   "per-row Expand (no shuffle), the groupBy carries 3 group states")
def unpivot_measure_stats_lineitem(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    wide = li.select(
        F.col("l_quantity").cast("double").alias("quantity"),
        F.col("l_discount").cast("double").alias("discount"),
        F.col("l_tax").cast("double").alias("tax"))
    long = wide.unpivot([], ["quantity", "discount", "tax"],
                        "measure", "value")
    return (long.groupBy("measure")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.round(F.avg("value"), 6).alias("mean"),
                 F.round(F.min("value"), 6).alias("min_v"),
                 F.round(F.max("value"), 6).alias("max_v")))


@q("id_gap_audit_orders",
   """WITH s AS (SELECT o_orderkey AS id,
                      lag(o_orderkey) OVER (ORDER BY o_orderkey) AS prev
               FROM orders WHERE o_orderstatus = 'F')
      SELECT prev + 1 AS gap_start, id - 1 AS gap_end,
             id - prev - 1 AS missing
      FROM s WHERE prev IS NOT NULL AND id - prev > 1""",
   "id-sequence gap audit (the row-loss detector for id_only/hybrid "
   "CDC: a hole in the key sequence at the target means rows were "
   "skipped or lost in flight). Default plan is the range-bucketed lag "
   "(quality.id_gap_audit): gaps are adjacent-pair properties, so "
   "after a range exchange every pair is intra-partition except the "
   "one straddling each boundary, reconciled via the O(partitions)-row "
   "min/max relation — the oracle's global lag is the small-data twin. "
   "Audited here over the status='F' subset so the fixture yields "
   "real gaps (the unfiltered target audit returning zero rows IS the "
   "pass condition in production)")
def id_gap_audit_orders(spark, sf_dir):
    from .operators.quality import id_gap_audit
    orders = _t(spark, sf_dir, "orders").filter("o_orderstatus = 'F'")
    return id_gap_audit(orders, "o_orderkey")


@q("python_source_cdc_feed",
   """WITH g AS (SELECT unnest(generate_series(0, 4999)) AS id),
      f AS (SELECT id,
                   (id * 2654435761) % 1000000 / 100.0 AS value,
                   CASE WHEN id % 10 <= 7 THEN 'I'
                        WHEN id % 10 = 8 THEN 'U' ELSE 'D' END AS op,
                   TIMESTAMP '2024-01-01 00:00:00'
                     + to_seconds(id) AS ts
            FROM g WHERE id >= 1000)
      SELECT op, count(*) AS n_rows,
             round(sum(value), 4) AS sum_value,
             CAST(max(id) AS BIGINT) AS max_id,
             max(ts) AS max_ts
      FROM f GROUP BY op""",
   "custom Python Data Source (Spark 4 pyspark.sql.datasource): the "
   "cdc_feed simulator read through the same id_only watermark "
   "predicate as any CDC scan — pushFilters() narrows the GENERATED "
   "range at the source (the Python-source analogue of PushedFilters), "
   "partitions() gives executor-parallel splits, and the feed is a "
   "pure function of id so the oracle regenerates it exactly")
def python_source_cdc_feed(spark, sf_dir):
    from .operators.cdc import CDCConfig, Watermark, apply_cdc
    from .sources.pysource import CDCFeedDataSource
    # Spark 4.1 hard-errors (DATA_SOURCE_PUSHDOWN_DISABLED) when a reader
    # implements pushFilters() under the default conf; the key is a runtime
    # SQLConf, so set it here rather than depend on the session builder
    # (r9 driver ran a vanilla session and this row went red).
    # DELIBERATELY NOT restored: the worker reads enable_pushdown at
    # ACTION time (plan_data_source_read.py receives it from the JVM when
    # the returned lazy DataFrame executes), so a try/finally restore here
    # re-raises DATA_SOURCE_PUSHDOWN_DISABLED at the driver's collect —
    # verified by direct test. The cross-query leak this creates on a
    # shared session is instead caught by tools/check_parity.py's
    # per-query conf isolation (any later query silently depending on
    # this key now fails the vanilla lint).
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    spark.dataSource.register(CDCFeedDataSource)
    df = spark.read.format("cdc_feed").option("end", 5000).load()
    delta = apply_cdc(df, CDCConfig(strategy="id_only", id_column="id"),
                      Watermark(last_id=999))
    return (delta.groupBy("op")
            .agg(F.count(F.lit(1)).alias("n_rows"),
                 F.round(F.sum("value"), 4).alias("sum_value"),
                 F.max("id").alias("max_id"),
                 F.max("ts").alias("max_ts")))


@q("events_since_last_purchase",
   """WITH s AS (SELECT event_id, user_id, ts, event_type,
                      max(CASE WHEN event_type = 'purchase' THEN ts END)
                        OVER (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS BETWEEN UNBOUNDED PRECEDING
                              AND 1 PRECEDING) AS last_purchase_ts
               FROM events)
      SELECT event_id, user_id, event_type, last_purchase_ts
      FROM s WHERE event_type = 'error' AND last_purchase_ts IS NOT NULL""",
   "conditional running state without a self-join: each error event "
   "annotated with its user's most recent PRIOR purchase via "
   "max(CASE)-over-rows-frame (the same last-ignorenulls machinery as "
   "the as-of join, inlined) — one shuffle on user_id, no events x "
   "purchases join")
def events_since_last_purchase(spark, sf_dir):
    from pyspark.sql import Window
    ev = _t(spark, sf_dir, "events")
    w = (Window.partitionBy("user_id").orderBy("ts", "event_id")
         .rowsBetween(Window.unboundedPreceding, -1))
    last_p = F.max(F.when(F.col("event_type") == "purchase",
                          F.col("ts"))).over(w)
    return (ev.withColumn("last_purchase_ts", last_p)
              .filter((F.col("event_type") == "error")
                      & F.col("last_purchase_ts").isNotNull())
              .select("event_id", "user_id", "event_type",
                      "last_purchase_ts"))


@q("token_pmi_pairs_documents",
   f"""WITH tok AS (SELECT doc_id, unnest(list_distinct(string_split(text, ' ')))
                    AS w
                  FROM documents),
      topw AS (SELECT w, count(*) AS df FROM tok GROUP BY w
               ORDER BY df DESC, w LIMIT 20),
      t AS (SELECT tok.doc_id, tok.w, topw.df FROM tok JOIN topw USING (w)),
      n AS (SELECT count(DISTINCT doc_id) AS n_docs FROM documents),
      pairs AS (SELECT a.w AS w_a, b.w AS w_b,
                       a.df AS df_a, b.df AS df_b, count(*) AS co
                FROM t a JOIN t b
                  ON a.doc_id = b.doc_id AND a.w < b.w
                GROUP BY 1, 2, 3, 4)
      SELECT w_a, w_b, co,
             round(ln((co * n_docs)::DOUBLE / (df_a * df_b)), 6) AS pmi
      FROM pairs CROSS JOIN n
      ORDER BY pmi DESC, w_a, w_b LIMIT 25""",
   "token co-occurrence PMI over the top-20 vocabulary (collocation / "
   "topic-drift diagnostic): the vocabulary cut BOUNDS the pair space "
   "to 190 pairs before the doc-level self-join runs (same "
   "block-the-candidates principle as LSH/fuzzy matching); "
   "presence-based (list_distinct) so df and co-occurrence count docs, "
   "not tokens")
def token_pmi_pairs_documents(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    tok = docs.select("doc_id",
                      F.explode(F.array_distinct(
                          F.split(F.col("text"), " "))).alias("w"))
    topw = (tok.groupBy("w").agg(F.count(F.lit(1)).alias("df"))
               .orderBy(F.col("df").desc(), "w").limit(20))
    t = tok.join(F.broadcast(topw), "w")
    n_docs = docs.select(F.count_distinct("doc_id").alias("n_docs"))
    a = t.select(F.col("doc_id"), F.col("w").alias("w_a"),
                 F.col("df").alias("df_a"))
    b = t.select(F.col("doc_id"), F.col("w").alias("w_b"),
                 F.col("df").alias("df_b"))
    pairs = (a.join(b, "doc_id")
              .filter(F.col("w_a") < F.col("w_b"))
              .groupBy("w_a", "w_b", "df_a", "df_b")
              .agg(F.count(F.lit(1)).alias("co")))
    return (pairs.crossJoin(F.broadcast(n_docs))
            .select("w_a", "w_b", "co",
                    F.round(F.log((F.col("co") * F.col("n_docs"))
                                  .cast("double")
                                  / (F.col("df_a") * F.col("df_b"))), 6)
                     .alias("pmi"))
            .orderBy(F.col("pmi").desc(), "w_a", "w_b")
            .limit(25))


@q("ccnet_buckets_by_source",
   f"""WITH n AS (SELECT doc_id, {_NORM_SQL.format(x='text')} AS t
               FROM documents),
      b AS (SELECT doc_id, t FROM n WHERE length(t) >= 2),
      ex AS (SELECT doc_id,
                    unnest(list_transform(
                        generate_series(1, length(t) - 1),
                        i -> substring(t, i, 2))) AS g
             FROM b),
      freq AS (SELECT g, count(*) AS c FROM ex GROUP BY g),
      tot AS (SELECT sum(c) AS total FROM freq),
      model AS (SELECT g, c / total AS p FROM freq CROSS JOIN tot),
      scored AS (SELECT doc_id, round(avg(ln(p)), 6) AS lp
                 FROM ex JOIN model USING (g) GROUP BY doc_id),
      bucketed AS (SELECT doc_id,
                          ntile(3) OVER (ORDER BY lp DESC, doc_id)
                            AS bucket
                   FROM scored)
      SELECT d.source,
             CASE bucket WHEN 1 THEN 'head' WHEN 2 THEN 'middle'
                         ELSE 'tail' END AS lm_bucket,
             count(*) AS n_docs
      FROM bucketed JOIN documents d USING (doc_id)
      GROUP BY 1, 2""",
   "CCNet head/middle/tail split: corpus terciles by char-LM score "
   "(head = most language-like), tallied per source — the standard "
   "quality-stratified mixture input. The default plan is the "
   "distributed exact ntile (partitioning.distributed_ntile: range "
   "exchange + per-partition ranks + closed-form bucket — no "
   "single-partition window anywhere near the data), so the SAME query "
   "runs at 100 TB; the oracle's global ntile(3) is the small-data "
   "twin it must reproduce bit-for-bit")
def ccnet_buckets_by_source(spark, sf_dir):
    from .operators.partitioning import distributed_ntile
    docs = _t(spark, sf_dir, "documents")
    scored = tx.bigram_logprob(docs).select(
        "doc_id", F.col("avg_logprob").alias("lp"))
    bucketed = distributed_ntile(
        scored, [F.col("lp").desc(), F.col("doc_id")], 3)
    name = (F.when(F.col("bucket") == 1, "head")
             .when(F.col("bucket") == 2, "middle")
             .otherwise("tail"))
    return (bucketed.join(docs.select("doc_id", "source"), "doc_id")
            .groupBy("source", name.alias("lm_bucket"))
            .agg(F.count(F.lit(1)).alias("n_docs")))


@q("purchase_value_daily_gapfilled",
   """WITH spine AS (SELECT unnest(generate_series(DATE '2024-01-01',
                                                 DATE '2024-01-30',
                                                 INTERVAL 1 DAY))::DATE
                       AS day),
      daily AS (SELECT ts::DATE AS day,
                       round(sum(value), 4) AS revenue,
                       count(*) AS n_purchases
                FROM events WHERE event_type = 'purchase' GROUP BY 1)
      SELECT spine.day,
             coalesce(revenue, 0.0) AS revenue,
             coalesce(n_purchases, 0) AS n_purchases
      FROM spine LEFT JOIN daily USING (day)""",
   "calendar-spine gap filling (reporting contract: every day present, "
   "zero-filled): sequence() generates the spine from literals — a "
   "broadcast-sized relation regardless of fact volume — and the fact "
   "side contributes one partial-aggregable daily rollup; no window "
   "tricks, no driver loop")
def purchase_value_daily_gapfilled(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    spine = spark.range(1).select(
        F.explode(F.sequence(F.lit("2024-01-01").cast("date"),
                             F.lit("2024-01-30").cast("date"))).alias("day"))
    daily = (ev.filter(F.col("event_type") == "purchase")
               .groupBy(F.to_date("ts").alias("day"))
               .agg(F.round(F.sum("value"), 4).alias("revenue"),
                    F.count(F.lit(1)).alias("n_purchases")))
    return (spine.join(daily, "day", "left")
            .select("day",
                    F.coalesce("revenue", F.lit(0.0)).alias("revenue"),
                    F.coalesce("n_purchases", F.lit(0)).alias("n_purchases")))


@q("fuzzy_pairs_customer",
   """WITH c AS (SELECT c_custkey, c_name,
                      substring(c_name, 10, 8) AS block
               FROM customer)
      SELECT a.c_custkey AS key_a, b.c_custkey AS key_b,
             levenshtein(a.c_name, b.c_name) AS dist
      FROM c a JOIN c b
        ON a.block = b.block AND a.c_custkey < b.c_custkey
      WHERE levenshtein(a.c_name, b.c_name) <= 1""",
   "record linkage via blocked fuzzy self-join (block = all-but-last "
   "digit, <= 10 names per block): equi-join on a blocking "
   "key bounds candidate pairs to O(sum block^2) BEFORE the quadratic "
   "edit-distance runs (an unblocked fuzzy join is O(n^2) and cannot "
   "hash-join — the same bucket-the-candidates principle as LSH); "
   "levenshtein only evaluates inside blocks, post-join, codegen'd")
def fuzzy_pairs_customer(spark, sf_dir):
    cust = _t(spark, sf_dir, "customer")
    c = cust.select("c_custkey", "c_name",
                    F.substring("c_name", 10, 8).alias("block"))
    a = c.select(F.col("c_custkey").alias("key_a"),
                 F.col("c_name").alias("name_a"), "block")
    b = c.select(F.col("c_custkey").alias("key_b"),
                 F.col("c_name").alias("name_b"), "block")
    dist = F.levenshtein("name_a", "name_b")
    return (a.join(b, "block")
             .filter(F.col("key_a") < F.col("key_b"))
             .filter(dist <= 1)
             .select("key_a", "key_b", dist.alias("dist")))


@q("event_transition_matrix",
   """WITH seq AS (SELECT user_id, event_type, ts, event_id,
                        lag(event_type) OVER (PARTITION BY user_id
                                              ORDER BY ts, event_id) AS prev
                 FROM events)
      SELECT prev AS from_type, event_type AS to_type,
             count(*) AS n_transitions
      FROM seq WHERE prev IS NOT NULL
      GROUP BY 1, 2""",
   "behavioral transition matrix (first-order Markov counts over "
   "per-user event sequences): one shuffle on user_id for the lag "
   "window, then a partial-aggregable groupBy whose state is "
   "|types|^2 rows — at 100 TB the window shuffle dominates and rides "
   "the same user_id partitioning every per-user operator shares")
def event_transition_matrix(spark, sf_dir):
    from pyspark.sql import Window
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (ev.withColumn("prev", F.lag("event_type").over(w))
              .filter(F.col("prev").isNotNull())
              .groupBy(F.col("prev").alias("from_type"),
                       F.col("event_type").alias("to_type"))
              .agg(F.count(F.lit(1)).alias("n_transitions")))


@q("corr_matrix_lineitem",
   """SELECT round(corr(l_quantity, l_extendedprice), 6) AS qty_price,
             round(corr(l_extendedprice, l_discount), 6) AS price_discount,
             round(corr(l_quantity, l_discount), 6) AS qty_discount,
             count(*) AS n
      FROM lineitem""",
   "pairwise Pearson correlations in ONE pass (corr is an algebraic "
   "aggregate: partial (n, sum, sum_sq, sum_xy) states merge "
   "map-side, so the shuffle carries 4 numbers per pair per partition "
   "— never a second scan per pair)")
def corr_matrix_lineitem(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    q_, p_, d_ = (F.col(c).cast("double") for c in
                  ("l_quantity", "l_extendedprice", "l_discount"))
    return li.agg(
        F.round(F.corr(q_, p_), 6).alias("qty_price"),
        F.round(F.corr(p_, d_), 6).alias("price_discount"),
        F.round(F.corr(q_, d_), 6).alias("qty_discount"),
        F.count(F.lit(1)).alias("n"))


@q("table_checksum_orders",
   f"""SELECT count(*) AS n_rows,
             bit_xor({_H.format(
                 x="o_orderkey::VARCHAR || '|' || o_orderstatus || '|' "
                   "|| o_totalprice::DECIMAL(18,2)::VARCHAR")}) AS checksum
      FROM orders""",
   "order-independent row-level table checksum (A7's stronger form: "
   "count verification cannot see corruption that preserves "
   "cardinality): bit_xor of per-row md5-prefix hashes over the checked "
   "columns — commutative/associative so partials merge map-side, "
   "overflow-free at any row count (a 64-bit SUM would overflow and "
   "ANSI Spark would raise), and source/target checksum independently "
   "on different engines and compare as two scalars; floats enter the "
   "row representation through an exact DECIMAL(18,2) rendering because "
   "double->string formatting differs across engines")
def table_checksum_orders(spark, sf_dir):
    # global-scalar form of quality.checksum_audit (round 7 made the
    # per-partition operator the single implementation; empty part_cols
    # collapses it to the original whole-table fingerprint)
    from .operators.quality import checksum_audit
    orders = (_t(spark, sf_dir, "orders")
              .withColumn("o_totalprice",
                          F.col("o_totalprice").cast("decimal(18,2)")))
    out = checksum_audit(orders, [],
                         cols=["o_orderkey", "o_orderstatus",
                               "o_totalprice"])
    return out.select("n_rows", F.col("content_xor").alias("checksum"))


# ==========================================================================
# TPC-H family completion. The fixtures have no partsupp table, so Q2 /
# Q11 / Q16 / Q20 are re-expressed over lineitem-derived supply facts —
# the PLAN SHAPES the TPC-H numbers exercise (decorrelated scalar-min
# rejoin, global-total HAVING, distinct-agg with NOT-IN anti-join,
# aggregated-subquery semi-join chain) are preserved exactly; only the
# partsupp columns are replaced by their lineitem analogues. Together
# with Q1/Q3..Q8/Q10/Q12/Q13/Q15/Q17/Q18/Q19/Q21/Q22 elsewhere in the
# registry this closes the 22-query family.
# ==========================================================================


@q("promo_revenue_share",
   """SELECT CAST(promo AS DOUBLE) AS promo_revenue,
             CAST(total AS DOUBLE) AS total_revenue,
             round(100.0 * CAST(promo AS DOUBLE) / CAST(total AS DOUBLE), 6)
               AS promo_share_pct
      FROM (SELECT
              sum(CASE WHEN p_type = 'PROMO'
                       THEN CAST(l_extendedprice * (1 - l_discount)
                                 AS DECIMAL(18,4))
                       ELSE CAST(0 AS DECIMAL(18,4)) END) AS promo,
              sum(CAST(l_extendedprice * (1 - l_discount)
                       AS DECIMAL(18,4))) AS total
            FROM lineitem JOIN part ON l_partkey = p_partkey
            WHERE l_shipdate >= TIMESTAMP '1997-01-01'
              AND l_shipdate <  TIMESTAMP '1997-04-01')""",
   "TPC-H Q14: promo revenue share — the ship-date filter pushes to the "
   "lineitem scan, part is the only join (AQE broadcasts it at this "
   "cardinality; at 100 TB part scales slower than lineitem so the "
   "broadcast survives far longer than the fact growth), and the "
   "conditional share is one map-side-combinable aggregate; DECIMAL "
   "accumulation keeps the two engines bit-equal")
def promo_revenue_share(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(18,4)")
    zero = F.lit(0).cast("decimal(18,4)")
    agg = (li.filter((F.col("l_shipdate") >= "1997-01-01")
                     & (F.col("l_shipdate") < "1997-04-01"))
             .join(part, li.l_partkey == part.p_partkey)
             .agg(F.sum(F.when(F.col("p_type") == "PROMO", rev).otherwise(zero))
                   .alias("promo"),
                  F.sum(rev).alias("total")))
    return agg.select(
        F.col("promo").cast("double").alias("promo_revenue"),
        F.col("total").cast("double").alias("total_revenue"),
        F.round(100.0 * F.col("promo").cast("double")
                / F.col("total").cast("double"), 6).alias("promo_share_pct"))


@q("min_cost_supplier_per_part",
   """WITH unit AS (SELECT l_partkey, l_suppkey,
                         min(l_extendedprice / l_quantity) AS unit_price
                  FROM lineitem GROUP BY l_partkey, l_suppkey),
      best AS (SELECT l_partkey AS bk, min(unit_price) AS best_price
               FROM unit GROUP BY l_partkey)
      SELECT p_partkey, p_name, s_suppkey, s_name, s_acctbal, n_name,
             unit_price
      FROM unit
      JOIN best     ON l_partkey = bk AND unit_price = best_price
      JOIN part     ON p_partkey = l_partkey
      JOIN supplier ON s_suppkey = l_suppkey
      JOIN nation   ON s_nationkey = n_nationkey
      JOIN region   ON n_regionkey = r_regionkey
      WHERE r_name = 'EUROPE' AND p_size <= 10 AND p_type = 'STANDARD'
      QUALIFY row_number() OVER (PARTITION BY p_partkey
                                 ORDER BY s_acctbal DESC, s_suppkey) = 1""",
   "TPC-H Q2 shape (partsupp's supplycost replaced by the observed "
   "lineitem unit price): the correlated scalar-min subquery is "
   "decorrelated into a per-part WINDOW minimum over the aggregated "
   "unit relation — one lineitem scan and two exchanges total, where "
   "the groupBy-min + equality-rejoin formulation computed the unit "
   "aggregate twice (aliased self-consumption defeats Spark's exchange "
   "reuse; plan-measured). The tie-break window then runs on the same "
   "l_partkey partitioning, so it adds no exchange. Region/nation "
   "broadcast; part filter applied before its join")
def min_cost_supplier_per_part(spark, sf_dir):
    from pyspark.sql.window import Window
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    sup = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region")
    unit = (li.groupBy("l_partkey", "l_suppkey")
              .agg(F.min(F.col("l_extendedprice") / F.col("l_quantity"))
                    .alias("unit_price")))
    w_min = Window.partitionBy("l_partkey")
    unit = (unit.withColumn("__best", F.min("unit_price").over(w_min))
                .filter(F.col("unit_price") == F.col("__best"))
                .drop("__best"))
    w = (Window.partitionBy("p_partkey")
               .orderBy(F.desc("s_acctbal"), F.asc("s_suppkey")))
    return (unit
                .join(part.filter((F.col("p_size") <= 10)
                                  & (F.col("p_type") == "STANDARD")),
                      unit.l_partkey == part.p_partkey)
                .join(sup, unit.l_suppkey == sup.s_suppkey)
                .join(F.broadcast(nation),
                      sup.s_nationkey == nation.n_nationkey)
                .join(F.broadcast(region.filter(F.col("r_name") == "EUROPE")),
                      nation.n_regionkey == region.r_regionkey)
                .withColumn("__rn", F.row_number().over(w))
                .filter(F.col("__rn") == 1)
                .select("p_partkey", "p_name", "s_suppkey", "s_name",
                        "s_acctbal", "n_name", "unit_price"))


@q("profit_by_nation_year",
   """SELECT n_name AS nation, year(o_orderdate) AS o_year,
             CAST(sum(CAST(l_extendedprice * (1 - l_discount)
                           - 0.6 * p_retailprice * l_quantity
                           AS DECIMAL(18,4))) AS DOUBLE) AS sum_profit
      FROM lineitem
      JOIN part     ON p_partkey = l_partkey AND p_name LIKE '%red%'
      JOIN supplier ON s_suppkey = l_suppkey
      JOIN nation   ON s_nationkey = n_nationkey
      JOIN orders   ON o_orderkey = l_orderkey
      GROUP BY n_name, year(o_orderdate)""",
   "TPC-H Q9 shape (supplycost proxied by 0.6 x retail price): "
   "product-line profit by supplier nation and order year. The p_name "
   "LIKE filter lands on the part scan BEFORE its join, so the "
   "fact-side rows are pruned by the first (broadcast-sized) join "
   "rather than carried through the star; per-row profit is cast to "
   "DECIMAL before the sum so partials merge exactly on both engines")
def profit_by_nation_year(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    sup = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation")
    orders = _t(spark, sf_dir, "orders")
    profit = (F.col("l_extendedprice") * (1 - F.col("l_discount"))
              - 0.6 * F.col("p_retailprice") * F.col("l_quantity")
              ).cast("decimal(18,4)")
    return (li.join(part.filter(F.col("p_name").like("%red%")),
                    li.l_partkey == part.p_partkey)
              .join(sup, li.l_suppkey == sup.s_suppkey)
              .join(F.broadcast(nation), sup.s_nationkey == nation.n_nationkey)
              .join(orders, li.l_orderkey == orders.o_orderkey)
              .groupBy(F.col("n_name").alias("nation"),
                       F.year("o_orderdate").alias("o_year"))
              .agg(F.sum(profit).cast("double").alias("sum_profit")))


@q("important_parts_share",
   """WITH pv AS (SELECT l_partkey,
                       sum(CAST(l_extendedprice * (1 - l_discount)
                                AS DECIMAL(18,4))) AS dvalue
                FROM lineitem
                JOIN supplier ON s_suppkey = l_suppkey
                JOIN nation   ON s_nationkey = n_nationkey
                WHERE n_name = 'NATION_7'
                GROUP BY l_partkey)
      SELECT l_partkey AS p_partkey, CAST(dvalue AS DOUBLE) AS value
      FROM pv
      WHERE CAST(dvalue AS DOUBLE) >
            (SELECT CAST(sum(dvalue) AS DOUBLE) FROM pv) * 0.001""",
   "TPC-H Q11 shape (stock value proxied by shipped revenue per part "
   "from one nation's suppliers): the correlated global-total HAVING is "
   "decorrelated into a 1-row aggregate broadcast back over the per-part "
   "values — the per-part relation is computed ONCE and reused for both "
   "the threshold and the filter (no second scan of lineitem). DECIMAL "
   "partials keep the threshold comparison engine-exact")
def important_parts_share(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    sup = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation")
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(18,4)")
    pv = (li.join(sup, li.l_suppkey == sup.s_suppkey)
            .join(F.broadcast(nation.filter(F.col("n_name") == "NATION_7")),
                  sup.s_nationkey == nation.n_nationkey)
            .groupBy("l_partkey")
            .agg(F.sum(rev).alias("dvalue")))
    pv = pv.localCheckpoint(eager=False)  # reuse: threshold + filter
    thresh = pv.agg((F.sum("dvalue").cast("double") * 0.001).alias("__thresh"))
    return (pv.join(F.broadcast(thresh))
              .filter(F.col("dvalue").cast("double") > F.col("__thresh"))
              .select(F.col("l_partkey").alias("p_partkey"),
                      F.col("dvalue").cast("double").alias("value")))


@q("supplier_count_by_part_attrs",
   """SELECT p_brand, p_type, p_size,
             count(DISTINCT l_suppkey) AS supplier_cnt
      FROM lineitem
      JOIN part ON p_partkey = l_partkey
      WHERE p_brand <> 'Brand#1'
        AND p_type NOT IN ('PROMO', 'ECONOMY')
        AND p_size IN (1, 4, 9, 14, 19, 23, 36, 45)
        AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier
                              WHERE s_acctbal < 0)
      GROUP BY p_brand, p_type, p_size""",
   "TPC-H Q16 shape (the complaints NOT-IN replaced by the "
   "negative-balance suppliers): distinct-supplier counts per part "
   "attribute triple. The NOT IN is a left_anti join against a "
   "filtered dimension (broadcast-sized — the excluded set is always "
   "<< supplier); countDistinct expands to a two-level aggregate whose "
   "first level deduplicates map-side, so the shuffle carries "
   "(attrs, suppkey) pairs, not raw lineitem rows")
def supplier_count_by_part_attrs(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    sup = _t(spark, sf_dir, "supplier")
    bad = sup.filter(F.col("s_acctbal") < 0).select("s_suppkey")
    pf = part.filter((F.col("p_brand") != "Brand#1")
                     & ~F.col("p_type").isin("PROMO", "ECONOMY")
                     & F.col("p_size").isin(1, 4, 9, 14, 19, 23, 36, 45))
    return (li.join(F.broadcast(bad), li.l_suppkey == bad.s_suppkey,
                    "left_anti")
              .join(pf, li.l_partkey == pf.p_partkey)
              .groupBy("p_brand", "p_type", "p_size")
              .agg(F.countDistinct("l_suppkey").alias("supplier_cnt")))


@q("excess_shipped_suppliers",
   """WITH shipped AS (SELECT l_suppkey,
                            sum(CAST(l_quantity AS DECIMAL(18,2))) AS qty
                     FROM lineitem
                     WHERE l_shipdate >= TIMESTAMP '1996-01-01'
                       AND l_shipdate <  TIMESTAMP '1997-01-01'
                       AND l_partkey IN (SELECT p_partkey FROM part
                                         WHERE p_name LIKE 'small%')
                     GROUP BY l_suppkey)
      SELECT s_suppkey, s_name, n_name
      FROM supplier
      JOIN nation ON s_nationkey = n_nationkey
      WHERE n_regionkey = 3
        AND s_suppkey IN (SELECT l_suppkey FROM shipped
                          WHERE CAST(qty AS DOUBLE) > 400.0)""",
   "TPC-H Q20 shape (availqty > half-of-shipped replaced by a shipped-"
   "quantity threshold over the same filtered-part, bounded-year "
   "aggregate): a chain of semi-joins — part filter semi-joins into "
   "the lineitem scan (broadcast: the filtered key set is small), the "
   "aggregated subquery semi-joins up to supplier. Both IN clauses "
   "become left_semi joins, so no row is ever duplicated and the "
   "supplier table is touched once")
def excess_shipped_suppliers(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    sup = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation")
    pk = part.filter(F.col("p_name").like("small%")).select("p_partkey")
    shipped = (li.filter((F.col("l_shipdate") >= "1996-01-01")
                         & (F.col("l_shipdate") < "1997-01-01"))
                 .join(F.broadcast(pk), li.l_partkey == pk.p_partkey,
                       "left_semi")
                 .groupBy("l_suppkey")
                 .agg(F.sum(F.col("l_quantity").cast("decimal(18,2)"))
                       .alias("qty"))
                 .filter(F.col("qty").cast("double") > 400.0)
                 .select("l_suppkey"))
    return (sup.join(shipped, sup.s_suppkey == shipped.l_suppkey, "left_semi")
               .join(F.broadcast(nation.filter(F.col("n_regionkey") == 3)),
                     F.col("s_nationkey") == F.col("n_nationkey"))
               .select("s_suppkey", "s_name", "n_name"))


# --------------------------------------------------------------------------
# GENUINE TPC-H Q2 / Q11 / Q16 / Q20 over a DERIVED partsupp. The driver
# fixtures ship no partsupp table, so both engines derive the same one
# deterministically: the distinct (l_partkey, l_suppkey) pairs observed in
# lineitem, with ps_availqty (1..9999) and ps_supplycost (1.00..1000.00)
# synthesized from the portable md5-prefix hash of the pair — bit-identical
# on Spark and DuckDB, so the four queries below run the REAL TPC-H logic
# (availqty thresholds, supplycost minima, stock-value totals), not the
# lineitem-proxy approximations kept above for their plan shapes.
# --------------------------------------------------------------------------

_PARTSUPP_SQL = """partsupp AS (
  SELECT ps_partkey, ps_suppkey,
         CAST(CAST('0x' || substr(md5('psa_' || CAST(ps_partkey AS VARCHAR)
              || '_' || CAST(ps_suppkey AS VARCHAR)), 1, 15) AS BIGINT)
              % 9999 + 1 AS INT) AS ps_availqty,
         CAST(CAST('0x' || substr(md5('psc_' || CAST(ps_partkey AS VARCHAR)
              || '_' || CAST(ps_suppkey AS VARCHAR)), 1, 15) AS BIGINT)
              % 99901 + 100 AS DOUBLE) / 100.0 AS ps_supplycost
  FROM (SELECT DISTINCT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey
        FROM lineitem))"""


def _partsupp_df(spark, sf_dir):
    """Spark twin of ``_PARTSUPP_SQL``: one distinct-pair aggregation over
    lineitem (map-side combine; the pair space is |part|x|supp| bounded,
    ~80x smaller than the fact), then two narrow hash columns. At 100 TB
    a real deployment would persist this once (it is partsupp) rather
    than re-derive per query — the derivation itself is one shuffle of
    8-byte pairs, safe at any scale."""
    from .operators.text import md5_prefix_int
    li = _t(spark, sf_dir, "lineitem")
    ps = (li.select(F.col("l_partkey").alias("ps_partkey"),
                    F.col("l_suppkey").alias("ps_suppkey")).distinct())
    key = F.concat_ws("_", F.col("ps_partkey").cast("string"),
                      F.col("ps_suppkey").cast("string"))
    return (ps.withColumn("ps_availqty",
                          (md5_prefix_int(key, salt="psa_") % 9999 + 1)
                          .cast("int"))
              .withColumn("ps_supplycost",
                          (md5_prefix_int(key, salt="psc_") % 99901 + 100)
                          .cast("double") / 100.0))


@q("tpch_q2",
   f"""WITH {_PARTSUPP_SQL}
      SELECT s_acctbal, s_name, n_name, p_partkey, p_name, s_suppkey,
             ps_supplycost
      FROM part, supplier, partsupp, nation, region
      WHERE p_partkey = ps_partkey AND s_suppkey = ps_suppkey
        AND p_size <= 15 AND p_type LIKE '%ARD'
        AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
        AND r_name = 'EUROPE'
        AND ps_supplycost = (
          SELECT min(ps2.ps_supplycost)
          FROM partsupp ps2, supplier s2, nation n2, region r2
          WHERE ps2.ps_partkey = p_partkey AND s2.s_suppkey = ps2.ps_suppkey
            AND s2.s_nationkey = n2.n_nationkey
            AND n2.n_regionkey = r2.r_regionkey AND r2.r_name = 'EUROPE')
      ORDER BY s_acctbal DESC, n_name, s_name, p_partkey, s_suppkey
      LIMIT 100""",
   "TPC-H Q2, genuine (minimum-cost supplier): the correlated scalar-min "
   "over EUROPE partsupp is decorrelated into a window minimum over the "
   "SAME eligible relation the outer query consumes — one partsupp "
   "derivation, one lineitem scan, and the min adds no exchange because "
   "it runs on the ps_partkey partitioning the join already needs. "
   "nation/region broadcast; part filter applied before its join; the "
   "ORDER BY ... LIMIT is TakeOrderedAndProject (no global sort). "
   "s_suppkey added to the output so the LIMIT boundary is a total order "
   "on both engines")
def tpch_q2(spark, sf_dir):
    from pyspark.sql.window import Window
    ps = _partsupp_df(spark, sf_dir)
    part = _t(spark, sf_dir, "part")
    sup = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region")
    europe = (ps.join(sup, ps.ps_suppkey == sup.s_suppkey)
                .join(F.broadcast(nation),
                      sup.s_nationkey == nation.n_nationkey)
                .join(F.broadcast(region.filter(F.col("r_name") == "EUROPE")),
                      nation.n_regionkey == region.r_regionkey))
    w = Window.partitionBy("ps_partkey")
    best = (europe.withColumn("__min", F.min("ps_supplycost").over(w))
                  .filter(F.col("ps_supplycost") == F.col("__min")))
    pf = part.filter((F.col("p_size") <= 15)
                     & F.col("p_type").like("%ARD"))
    return (best.join(pf, best.ps_partkey == pf.p_partkey)
                .orderBy(F.desc("s_acctbal"), "n_name", "s_name",
                         "p_partkey", "s_suppkey")
                .limit(100)
                .select("s_acctbal", "s_name", "n_name", "p_partkey",
                        "p_name", "s_suppkey", "ps_supplycost"))


@q("tpch_q11",
   f"""WITH {_PARTSUPP_SQL},
      pv AS (SELECT ps_partkey,
                    sum(CAST(ps_supplycost * ps_availqty
                             AS DECIMAL(18,2))) AS v
             FROM partsupp, supplier, nation
             WHERE ps_suppkey = s_suppkey AND s_nationkey = n_nationkey
               AND n_name = 'NATION_7'
             GROUP BY ps_partkey)
      SELECT ps_partkey, CAST(v AS DOUBLE) AS value
      FROM pv
      WHERE CAST(v AS DOUBLE) >
            (SELECT CAST(sum(v) AS DOUBLE) FROM pv) * 0.001""",
   "TPC-H Q11, genuine (important stock): per-part stock value "
   "ps_supplycost*ps_availqty for one nation's suppliers, kept when above "
   "a fraction of the national total. The correlated HAVING is "
   "decorrelated into a 1-row aggregate broadcast back over pv, and pv is "
   "computed ONCE (localCheckpoint) for both the threshold and the "
   "filter. DECIMAL(18,2) partials (the product has exactly 2 decimals) "
   "make the sums order-invariant, so the threshold comparison is "
   "engine-exact")
def tpch_q11(spark, sf_dir):
    ps = _partsupp_df(spark, sf_dir)
    sup = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation")
    val = (F.col("ps_supplycost") * F.col("ps_availqty")).cast("decimal(18,2)")
    pv = (ps.join(sup, ps.ps_suppkey == sup.s_suppkey)
            .join(F.broadcast(nation.filter(F.col("n_name") == "NATION_7")),
                  sup.s_nationkey == nation.n_nationkey)
            .groupBy("ps_partkey").agg(F.sum(val).alias("v")))
    pv = pv.localCheckpoint(eager=False)  # reuse: threshold + filter
    thresh = pv.agg((F.sum("v").cast("double") * 0.001).alias("__t"))
    return (pv.join(F.broadcast(thresh))
              .filter(F.col("v").cast("double") > F.col("__t"))
              .select("ps_partkey", F.col("v").cast("double").alias("value")))


@q("tpch_q16",
   f"""WITH {_PARTSUPP_SQL}
      SELECT p_brand, p_type, p_size,
             count(DISTINCT ps_suppkey) AS supplier_cnt
      FROM partsupp JOIN part ON p_partkey = ps_partkey
      WHERE p_brand <> 'Brand#1' AND p_type NOT IN ('PROMO', 'ECONOMY')
        AND p_size IN (1, 4, 9, 14, 19, 23, 36, 45)
        AND ps_suppkey NOT IN (SELECT s_suppkey FROM supplier
                               WHERE s_acctbal < 0)
      GROUP BY p_brand, p_type, p_size""",
   "TPC-H Q16, genuine over derived partsupp (parts/suppliers "
   "relationship counts; the complaints-supplier NOT IN proxied by "
   "negative balances — the fixture has no s_comment). The NOT IN is a "
   "broadcast left_anti; countDistinct deduplicates map-side so the "
   "shuffle carries (attrs, suppkey) pairs. Counts differ from the "
   "lineitem-proxy sibling because partsupp relates EVERY observed pair "
   "once, not per shipment")
def tpch_q16(spark, sf_dir):
    ps = _partsupp_df(spark, sf_dir)
    part = _t(spark, sf_dir, "part")
    sup = _t(spark, sf_dir, "supplier")
    bad = sup.filter(F.col("s_acctbal") < 0).select("s_suppkey")
    pf = part.filter((F.col("p_brand") != "Brand#1")
                     & ~F.col("p_type").isin("PROMO", "ECONOMY")
                     & F.col("p_size").isin(1, 4, 9, 14, 19, 23, 36, 45))
    return (ps.join(F.broadcast(bad), ps.ps_suppkey == bad.s_suppkey,
                    "left_anti")
              .join(pf, ps.ps_partkey == pf.p_partkey)
              .groupBy("p_brand", "p_type", "p_size")
              .agg(F.countDistinct("ps_suppkey").alias("supplier_cnt")))


@q("tpch_q20",
   f"""WITH {_PARTSUPP_SQL},
      shipped AS (SELECT l_partkey, l_suppkey,
                         sum(CAST(l_quantity AS DECIMAL(18,2))) AS qty
                  FROM lineitem
                  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
                    AND l_shipdate <  TIMESTAMP '1997-01-01'
                  GROUP BY 1, 2)
      SELECT s_suppkey, s_name, n_name
      FROM supplier JOIN nation ON s_nationkey = n_nationkey
      WHERE n_regionkey = 3
        AND s_suppkey IN (
          SELECT ps_suppkey FROM partsupp
          JOIN shipped ON l_partkey = ps_partkey AND l_suppkey = ps_suppkey
          WHERE ps_partkey IN (SELECT p_partkey FROM part
                               WHERE p_name LIKE 'small%')
            AND CAST(ps_availqty AS DOUBLE) > 0.5 * CAST(qty AS DOUBLE))""",
   "TPC-H Q20, genuine (potential part promotion): suppliers whose "
   "availqty exceeds half the quantity they shipped of filtered parts in "
   "the bounded year. The correlated scalar sum is decorrelated into a "
   "grouped aggregate joined back on (partkey, suppkey) — an inner join, "
   "because a pair with no shipments makes the correlated comparison "
   "NULL (excluded) in the genuine form too. Part-key filter semi-joins "
   "into partsupp via broadcast; the final IN is a left_semi so supplier "
   "rows never duplicate. DECIMAL sums keep the threshold engine-exact")
def tpch_q20(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    ps = _partsupp_df(spark, sf_dir)
    part = _t(spark, sf_dir, "part")
    sup = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation")
    pk = part.filter(F.col("p_name").like("small%")).select("p_partkey")
    shipped = (li.filter((F.col("l_shipdate") >= "1996-01-01")
                         & (F.col("l_shipdate") < "1997-01-01"))
                 .groupBy("l_partkey", "l_suppkey")
                 .agg(F.sum(F.col("l_quantity").cast("decimal(18,2)"))
                       .alias("qty")))
    picked = (ps.join(F.broadcast(pk), ps.ps_partkey == pk.p_partkey,
                      "left_semi")
                .join(shipped, (ps.ps_partkey == shipped.l_partkey)
                      & (ps.ps_suppkey == shipped.l_suppkey))
                .filter(F.col("ps_availqty").cast("double")
                        > 0.5 * F.col("qty").cast("double"))
                .select("ps_suppkey"))
    return (sup.join(picked, sup.s_suppkey == picked.ps_suppkey, "left_semi")
               .join(F.broadcast(nation.filter(F.col("n_regionkey") == 3)),
                     F.col("s_nationkey") == F.col("n_nationkey"))
               .select("s_suppkey", "s_name", "n_name"))


@q("benford_audit_orders",
   """WITH d AS (SELECT CAST(substr(CAST(CAST(floor(o_totalprice)
                                        AS BIGINT) AS VARCHAR),
                             1, 1) AS INT) AS digit
               FROM orders WHERE o_totalprice >= 1),
      t AS (SELECT count(*) AS total FROM d),
      o AS (SELECT digit, count(*) AS n_obs FROM d GROUP BY digit)
      SELECT digit, n_obs,
             round(CAST(n_obs AS DOUBLE) / total, 6) AS p_obs,
             round(log10(1 + 1.0 / digit), 6) AS p_benford,
             round(pow(n_obs - total * log10(1 + 1.0 / digit), 2)
                   / (total * log10(1 + 1.0 / digit)), 6) AS chi2_term
      FROM o CROSS JOIN t""",
   "Benford's-law leading-digit audit of order totals — the classic "
   "fabricated-data screen (organic monetary amounts follow "
   "log10(1+1/d); synthetic/tampered ones don't): per-digit observed "
   "vs expected frequency plus the chi-square contribution. One "
   "9-row aggregate + a 1-row total broadcast back")
def benford_audit_orders(spark, sf_dir):
    orders = _t(spark, sf_dir, "orders")
    d = (orders.filter(F.col("o_totalprice") >= 1)
               .select(F.substring(
                   F.floor("o_totalprice").cast("bigint").cast("string"),
                   1, 1).cast("int").alias("digit")))
    # the total is the sum of the 9 per-digit counts — deriving it
    # from the digit relation (checkpointed, shared) instead of a
    # second count over orders removes one full scan (r13, guide §2.4;
    # the <=9-row checkpoint block is executor-local and lineage-free,
    # the usual ADVICE-r13 caveat — trivial at this size)
    o = (d.groupBy("digit").agg(F.count(F.lit(1)).alias("n_obs"))
          .localCheckpoint(eager=False))
    t = o.agg(F.sum("n_obs").alias("total"))
    pb = F.log10(1 + 1.0 / F.col("digit"))
    return (o.join(F.broadcast(t))
             .select("digit", "n_obs",
                     F.round(F.col("n_obs").cast("double")
                             / F.col("total"), 6).alias("p_obs"),
                     F.round(pb, 6).alias("p_benford"),
                     F.round(F.pow(F.col("n_obs")
                                   - F.col("total") * pb, 2)
                             / (F.col("total") * pb), 6)
                      .alias("chi2_term")))


@q("curation_attrition_documents",
   f"""WITH s AS (SELECT doc_id, source, text,
                      string_split(text, ' ') AS t
               FROM documents),
      m AS (SELECT doc_id, source, text,
                   CAST(len(t) AS BIGINT) AS n_words,
                   CAST(length(text) - (len(t) - 1) AS DOUBLE) / len(t)
                     AS mwl,
                   CAST(len(regexp_extract_all(text, '#|\\.\\.\\.'))
                        AS DOUBLE) / len(t) AS swr,
                   CAST(len(list_filter(t, x ->
                        regexp_matches(x, '[a-zA-Z]'))) AS DOUBLE)
                     / len(t) AS awr,
                   CAST(len(list_filter(t, x ->
                        list_contains({_STOP_SQL}, x))) AS BIGINT) AS sh
            FROM s),
      g AS (SELECT * FROM m
            WHERE n_words BETWEEN 40 AND 100000
              AND mwl BETWEEN 3.0 AND 10.0 AND swr <= 0.1
              AND awr >= 0.8 AND sh >= 2),
      canon AS (SELECT md5({_NORM_SQL.format(x='text')}) AS h,
                       min(doc_id) AS doc_id
                FROM g GROUP BY 1),
      canon_src AS (SELECT c.doc_id, m.source
                    FROM canon c JOIN m ON m.doc_id = c.doc_id),
      capped AS (SELECT doc_id FROM canon_src
                 QUALIFY row_number() OVER (PARTITION BY source
                                            ORDER BY doc_id) <= 20)
      SELECT 'input' AS stage, count(*) AS n_docs FROM s
      UNION ALL SELECT 'gopher_gate', count(*) FROM g
      UNION ALL SELECT 'normalized_dedup', count(*) FROM canon
      UNION ALL SELECT 'per_source_cap', count(*) FROM capped""",
   "the curation funnel's attrition report (the number every pipeline "
   "review asks for first): input -> Gopher rule gate -> normalized "
   "exact dedup -> per-source cap, each stage's survivor count in one "
   "result. Cheapest-first ordering (codegen'd rules prune before the "
   "dedup shuffle touches anything); the dedup stage shuffles 128-bit "
   "digests, the cap is a source-partitioned window")
def curation_attrition_documents(spark, sf_dir):
    # ONE action, documents scanned ONCE (r13 optimization — was four
    # driver count() actions whose nested stage subtrees re-scanned the
    # wide text column 1+1+1+2 times): project the per-doc DECISIONS
    # (gate flag + normalized digest) into a narrow proxy relation,
    # localCheckpoint it lazily, and derive every stage count from the
    # proxy — guide §8's "decide with small rows" applied to a report.
    # Caveat (ADVICE r13): the |documents|-row proxy sits in
    # executor-local, lineage-free checkpoint blocks until JVM GC; an
    # executor loss mid-query fails the plan (re-run the report).
    # The per-source cap count needs no window: row_number()<=20 per
    # source counts exactly least(n_canonicals_in_source, 20).
    docs = _t(spark, sf_dir, "documents")
    keep = tx.gopher_keep_expr(F.col("text"), min_words=40)
    # h is non-null EXACTLY for kept rows (ADVICE r13 asked the
    # invariant be explicit): md5 of a non-null string is never null
    # and gopher_keep rejects null text, so coalesce to a sentinel
    # that md5 cannot produce ('' is not a 32-hex digest) — if a
    # future normalize path yielded NULL for a kept doc, that doc
    # still forms one dedup group, matching the oracle's GROUP BY h
    # (NULL groups count there) instead of vanishing from
    # countDistinct. Today the branch is dead; outputs are identical.
    base = (docs.select("doc_id", "source", keep.alias("__keep"),
                        F.when(keep, F.coalesce(
                            F.md5(tx.normalize_text(F.col("text"))),
                            F.lit(""))).alias("h"))
                .localCheckpoint(eager=False))
    heads = base.agg(
        F.count(F.lit(1)).alias("n_input"),
        F.count(F.when(F.col("__keep"), 1)).alias("n_gopher"),
        F.countDistinct("h").alias("n_canon"))
    canon = (base.filter("__keep").groupBy("h")
                 .agg(F.min("doc_id").alias("doc_id")))
    capped = (canon.join(base.select("doc_id", "source"), "doc_id")
                   .groupBy("source").agg(F.count(F.lit(1)).alias("__n"))
                   .agg(F.coalesce(F.sum(F.least(F.col("__n"), F.lit(20))),
                                   F.lit(0)).alias("n_capped")))
    return (heads.crossJoin(capped)
            .select(F.explode(F.array(
                F.struct(F.lit("input").alias("stage"),
                         F.col("n_input").alias("n_docs")),
                F.struct(F.lit("gopher_gate").alias("stage"),
                         F.col("n_gopher").alias("n_docs")),
                F.struct(F.lit("normalized_dedup").alias("stage"),
                         F.col("n_canon").alias("n_docs")),
                F.struct(F.lit("per_source_cap").alias("stage"),
                         F.col("n_capped").alias("n_docs")))).alias("s"))
            .select("s.stage", "s.n_docs"))


@q("top_bigrams_per_source",
   """WITH t AS (SELECT source, string_split(text, ' ') AS w
               FROM documents),
      g AS (SELECT source,
                   unnest(list_transform(range(len(w) - 1), i ->
                       w[i+1] || ' ' || w[i+2])) AS gram
            FROM t WHERE len(w) >= 2),
      c AS (SELECT source, gram, count(*) AS n FROM g GROUP BY 1, 2)
      SELECT source, gram, n
      FROM c
      QUALIFY row_number() OVER (PARTITION BY source
                                 ORDER BY n DESC, gram) <= 5""",
   "top-5 word bigrams per source — grouped heavy hitters through the "
   "SHARDED top-k (shard-local rank, then a bounded re-rank of the "
   "k x shards survivors): the hot-group-safe form of the per-group "
   "window the oracle writes naively. Exact for any skew; ties broken "
   "(count desc, gram asc) on both engines")
def top_bigrams_per_source(spark, sf_dir):
    from .operators.partitioning import fan_out
    from .operators.skew import grouped_topk_sharded
    # fan_out: the word-bigram explode is the CPU hot spot; a
    # single-file source would run it on one task
    docs = fan_out(_t(spark, sf_dir, "documents").select("source", "text"))
    w = F.split("text", " ")
    grams = F.transform(
        F.sequence(F.lit(0), F.size(w) - 2),
        lambda i: F.concat_ws(" ", F.slice(w, i + 1, F.lit(2))))
    c = (docs.filter(F.size(w) >= 2)
             .select("source", F.explode(grams).alias("gram"))
             .groupBy("source", "gram")
             .agg(F.count(F.lit(1)).alias("n")))
    return grouped_topk_sharded(
        c, "source", [F.desc("n"), F.asc("gram")], k=5, shards=8,
        key_col="gram")


@q("embedding_dim_stats",
   """SELECT dim,
             round(avg(v), 6) AS mean_v,
             round(stddev_samp(v), 6) AS std_v,
             round(min(v), 6) AS min_v,
             round(max(v), 6) AS max_v
      FROM (SELECT unnest(embedding)::DOUBLE AS v,
                   generate_subscripts(embedding, 1) - 1 AS dim
            FROM embeddings)
      GROUP BY dim""",
   "per-dimension corpus statistics over the embedding column — the "
   "standardization/whitening prep before ANN indexing (a dimension "
   "with 10x the variance dominates every L2 distance; standardize or "
   "rotate first). posexplode + one groupBy on the dim id: shuffle "
   "carries dim-count aggregation states, the k x 1 stats table "
   "broadcasts back for the actual scaling")
def embedding_dim_stats(spark, sf_dir):
    emb = _t(spark, sf_dir, "embeddings")
    ex = emb.select(F.posexplode("embedding").alias("dim", "v")) \
            .select("dim", F.col("v").cast("double").alias("v"))
    return (ex.groupBy("dim")
              .agg(F.round(F.avg("v"), 6).alias("mean_v"),
                   F.round(F.stddev_samp("v"), 6).alias("std_v"),
                   F.round(F.min("v"), 6).alias("min_v"),
                   F.round(F.max("v"), 6).alias("max_v")))


@q("rolling_median_daily_revenue",
   """WITH d AS (SELECT CAST(o_orderdate AS DATE) AS day,
                      CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
                           AS DOUBLE) AS revenue
               FROM orders GROUP BY 1)
      SELECT day, revenue,
             round(median(revenue) OVER (ORDER BY day
                   ROWS BETWEEN 6 PRECEDING AND CURRENT ROW), 6)
               AS med7
      FROM d""",
   "7-row rolling MEDIAN of daily revenue — the robust trend line mean "
   "smoothing can't give (one bulk order skews a mean for a week; the "
   "median shrugs). Order statistics over window frames: Spark's "
   "median() rejects frames, so the frame is collected (<= 7 values), "
   "sorted, and interpolated per row — exact. The window is YEAR-"
   "partitioned with a 6-row boundary stitch (each year's partition "
   "also carries the previous year's last 6 rows, dropped from the "
   "output after the frame is computed), so no executor ever holds "
   "more than ~366+6 day-grain rows and the plan has zero "
   "unpartitioned WindowExec — identical output to the global ROWS "
   "frame, because a ROWS BETWEEN 6 PRECEDING frame only ever reaches "
   "6 rows back regardless of calendar gaps")
def rolling_median_daily_revenue(spark, sf_dir):
    from pyspark.sql.window import Window
    orders = _t(spark, sf_dir, "orders")
    daily = (orders.groupBy(F.to_date("o_orderdate").alias("day"))
                   .agg(F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
                         .cast("double").alias("revenue"))
                   .withColumn("yr", F.year("day")))
    wprev = Window.partitionBy("yr").orderBy(F.desc("day"))
    carry = (daily.withColumn("__rn", F.row_number().over(wprev))
                  .filter(F.col("__rn") <= 6)
                  .select((F.col("yr") + 1).alias("yr"), "day", "revenue",
                          F.lit(True).alias("__carry")))
    both = (daily.select("yr", "day", "revenue",
                         F.lit(False).alias("__carry"))
                 .unionByName(carry))
    w = Window.partitionBy("yr").orderBy("day").rowsBetween(-6, 0)
    arr = F.array_sort(F.collect_list("revenue").over(w))
    n = F.size(arr)
    odd = F.element_at(arr, ((n + 1) / 2).cast("int"))
    even = (F.element_at(arr, (n / 2).cast("int"))
            + F.element_at(arr, (n / 2 + 1).cast("int"))) / 2.0
    med = F.when(n % 2 == 1, odd).otherwise(even)
    return (both.withColumn("med7", F.round(med, 6))
                .filter(~F.col("__carry"))
                .select("day", "revenue", "med7"))


@q("fuzzy_decontamination_pairs",
   f"""WITH {_MINHASH_CTE},
      banded AS (SELECT doc_id, hash_idx // 2 AS band,
                        md5(array_to_string(list_sort(
                            list(hash_idx::VARCHAR || ':' || min_hash::VARCHAR)),
                            ',')) AS band_hash
                 FROM sig GROUP BY doc_id, hash_idx // 2),
      ev AS (SELECT doc_id FROM documents WHERE source = 'src0'),
      tr AS (SELECT doc_id FROM documents WHERE source <> 'src0'),
      cand AS (SELECT DISTINCT a.doc_id AS eval_id, b.doc_id AS train_id
               FROM banded a
               JOIN banded b ON a.band = b.band
                            AND a.band_hash = b.band_hash
               JOIN ev ON ev.doc_id = a.doc_id
               JOIN tr ON tr.doc_id = b.doc_id),
      est AS (SELECT c.eval_id, c.train_id,
                     sum(CASE WHEN s1.min_hash = s2.min_hash
                              THEN 1 ELSE 0 END) / 16.0 AS ej
              FROM cand c
              JOIN sig s1 ON s1.doc_id = c.eval_id
              JOIN sig s2 ON s2.doc_id = c.train_id
                         AND s2.hash_idx = s1.hash_idx
              GROUP BY c.eval_id, c.train_id)
      SELECT eval_id, train_id, round(ej, 6) AS est_jaccard
      FROM est WHERE ej >= 0.25""",
   "fuzzy eval-vs-train decontamination (GPT-3-style scrub): bipartite "
   "MinHash-LSH join — eval band hashes equi-join train band hashes, "
   "bucket-bounded with NO within-side pairs, then the unbiased "
   "signature-agreement Jaccard estimate on the few candidates. "
   "Catches paraphrased/edited leakage the exact-shingle "
   "decontaminate_overlap misses")
def fuzzy_decontamination_pairs(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    ev = docs.filter(F.col("source") == "src0")
    tr = docs.filter(F.col("source") != "src0")
    return dd.lsh_bipartite_pairs(ev, tr, n=3, num_hashes=16, bands=8,
                                  min_est_jaccard=0.25)


@q("dup_graph_triangles",
   f"""WITH {_MINHASH_CTE},
      banded AS (SELECT doc_id, hash_idx // 2 AS band,
                        md5(array_to_string(list_sort(
                            list(hash_idx::VARCHAR || ':' || min_hash::VARCHAR)),
                            ',')) AS band_hash
                 FROM sig GROUP BY doc_id, hash_idx // 2),
      pairs AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
                FROM banded a JOIN banded b
                  ON a.band = b.band AND a.band_hash = b.band_hash
                     AND a.doc_id < b.doc_id),
      e AS (SELECT id_a AS a, id_b AS b FROM pairs),
      deg AS (SELECT n, count(*) AS d
              FROM (SELECT a AS n FROM e UNION ALL SELECT b FROM e)
              GROUP BY n),
      tri AS (SELECT count(*) AS t
              FROM e ab JOIN e bc ON ab.b = bc.a
                        JOIN e ac ON ac.a = ab.a AND ac.b = bc.b),
      agg AS (SELECT count(*) AS n_nodes,
                     CAST(sum(d * (d - 1)) / 2 AS DOUBLE) AS wedges
              FROM deg),
      ne AS (SELECT count(*) AS n_edges FROM e)
      SELECT CAST(n_nodes AS BIGINT) AS n_nodes,
             CAST(n_edges AS BIGINT) AS n_edges,
             CAST(t AS BIGINT) AS n_triangles,
             CASE WHEN wedges > 0
                  THEN round(3.0 * t / wedges, 6) END AS transitivity
      FROM agg, ne, tri""",
   "triangle count + global transitivity of the near-dup candidate "
   "graph — the dedup-quality gauge: high transitivity means the LSH "
   "pairs are equivalence-like and component merging is safe; low "
   "means the threshold admits accidental bridges. Spark side uses "
   "degree orientation (max out-degree O(sqrt(E)) — a hub node cannot "
   "emit quadratic wedges); the oracle counts the canonical a<b<c "
   "join, same total")
def dup_graph_triangles(spark, sf_dir):
    from .operators.graph import triangle_stats
    pairs = dd.lsh_pairs(_t(spark, sf_dir, "documents"),
                         n=3, num_hashes=16, bands=8)
    return triangle_stats(pairs)


@q("weighted_sample_per_source",
   f"""WITH e AS (SELECT source, doc_id, n_chars,
                      -ln(({_GATE_SQL} + 0.5) / {_GATE}.0)
                        / n_chars AS es
               FROM documents WHERE n_chars > 0)
      SELECT source, doc_id, n_chars
      FROM e
      QUALIFY row_number() OVER (PARTITION BY source
                                 ORDER BY es, doc_id) <= 5""",
   "exactly-k weighted sampling without replacement per group "
   "(Efraimidis-Spirakis exponential race, u from the deterministic "
   "hash gate): a fixed per-source budget with inclusion probability "
   "proportional to length — what Bernoulli importance sampling "
   "cannot give (random size). Narrow per-row math + one group-sized "
   "top-k window; the salt-shard re-rank swap for hot groups is on "
   "the operator docstring")
def weighted_sample_per_source(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    out = smp.weighted_sample_exact_k(
        docs, "source", 5, F.col("n_chars").cast("double"), "doc_id")
    return out.select("source", "doc_id", "n_chars")


@q("ewma_purchase_value_by_user",
   """WITH s AS (SELECT user_id, list(value ORDER BY ts) AS vs
               FROM events WHERE event_type = 'purchase'
               GROUP BY user_id)
      SELECT user_id, len(vs) AS n_points,
             round(list_reduce(vs, (acc, v) -> 0.3 * v + 0.7 * acc), 6)
               AS ewma
      FROM s""",
   "final per-user EWMA of purchase values (recency-weighted spend "
   "level): the recurrence is non-associative so no plain window can "
   "express it — one groupBy collects the ordered series, a codegen'd "
   "left fold runs the recurrence per row. Bounded per-key series; the "
   "chunk-and-carry swap for unbounded streams is documented on the "
   "operator")
def ewma_purchase_value_by_user(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    out = tmp.ewma_by_key(
        ev.filter(F.col("event_type") == "purchase"),
        "user_id", "ts", "value", alpha=0.3)
    return out.select("user_id", "n_points",
                      F.round("ewma", 6).alias("ewma"))


@q("interpolate_value_events",
   """WITH b AS (SELECT event_id, user_id, epoch_us(ts) AS t,
                      CASE WHEN event_type <> 'click' THEN value END AS v
               FROM events),
      w AS (SELECT event_id, user_id, t, v,
                   last_value(v IGNORE NULLS) OVER pw AS pv,
                   last_value(CASE WHEN v IS NOT NULL THEN t END
                              IGNORE NULLS) OVER pw AS pt,
                   first_value(v IGNORE NULLS) OVER nw AS nv,
                   first_value(CASE WHEN v IS NOT NULL THEN t END
                               IGNORE NULLS) OVER nw AS nt
            FROM b
            WINDOW pw AS (PARTITION BY user_id ORDER BY t
                          ROWS BETWEEN UNBOUNDED PRECEDING
                          AND CURRENT ROW),
                   nw AS (PARTITION BY user_id ORDER BY t
                          ROWS BETWEEN CURRENT ROW
                          AND UNBOUNDED FOLLOWING))
      SELECT event_id, user_id,
             round(CASE WHEN v IS NOT NULL THEN v
                        WHEN pv IS NULL THEN nv
                        WHEN nv IS NULL THEN pv
                        WHEN nt = pt THEN pv
                        ELSE pv + (nv - pv) * (t - pt) / (nt - pt)
                   END, 6) AS value_filled
      FROM w""",
   "per-key linear interpolation of missing values (click events stand "
   "in for dropped sensor readings): four IGNORE-NULLS windows over ONE "
   "(user, time) partitioning — one exchange + one sort, not four — "
   "then the affine blend; leading gaps backfill, trailing gaps "
   "forward-fill. The row-level sibling of the calendar-spine gap-fill "
   "(that repairs missing ROWS, this repairs missing VALUES)")
def interpolate_value_events(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    base = ev.select(
        "event_id", "user_id", F.unix_micros("ts").alias("t"),
        F.when(F.col("event_type") != "click", F.col("value")).alias("v"))
    out = tmp.interpolate_linear(base, "user_id", "t", "v")
    return out.select("event_id", "user_id",
                      F.round("value_filled", 6).alias("value_filled"))


_QUANT2D = ("CASE WHEN {mx}::DOUBLE = {mn}::DOUBLE THEN 0 "
            "ELSE CAST(least(floor((({v}::DOUBLE - {mn}::DOUBLE) "
            "/ ({mx}::DOUBLE - {mn}::DOUBLE)) * 65536.0), 65535.0) "
            "AS BIGINT) END")

_QUANT2D_CTES = (
    "s AS (SELECT min(user_id) AS mnx, max(user_id) AS mxx, "
    "min(value) AS mny, max(value) AS mxy FROM events),\n  "
    "q0 AS (SELECT event_id, "
    + _QUANT2D.format(v="user_id", mn="mnx", mx="mxx") + " AS qx, "
    + _QUANT2D.format(v="value", mn="mny", mx="mxy") + " AS qy "
    "FROM events CROSS JOIN s)")


def _zorder_oracle() -> str:
    """Staged-CTE twin of layout.zorder_keys: min-max quantize both
    dims to 16 bits with IDENTICAL double parenthesization, then the
    magic-mask spread chain one CTE per step (staging avoids the
    2^steps textual blowup of inlining), z = qx | (qy << 1)."""
    steps = [(16, 281470681808895), (8, 71777214294589695),
             (4, 1085102592571150095), (2, 3689348814741910323),
             (1, 6148914691236517205)]
    ctes = [_QUANT2D_CTES]
    for i, (sh, mask) in enumerate(steps, start=1):
        ctes.append(
            f"q{i} AS (SELECT event_id, "
            f"(qx | (qx << {sh})) & {mask} AS qx, "
            f"(qy | (qy << {sh})) & {mask} AS qy FROM q{i-1})")
    return ("WITH " + ",\n  ".join(ctes)
            + f" SELECT event_id, qx | (qy << 1) AS zkey FROM q{len(steps)}")


def _hilbert_oracle(bits: int = 16) -> str:
    """Staged-CTE twin of layout.hilbert_keys: same quantizer, then the
    per-bit quadrant-digit + flip-and-swap fold, TWO CTEs per bit
    (rx/ry extraction, then the rotation reading both OLD coords) —
    exactly the staging the Spark side uses and for the same reason."""
    ctes = [_QUANT2D_CTES.replace("AS qx", "AS hx").replace("AS qy",
                                                            "AS hy")
            .replace("q0 AS", "h0 AS")
            + ""]
    ctes[0] = ctes[0].replace(
        "FROM events CROSS JOIN s)",
        "FROM events CROSS JOIN s)")
    # h0 lacks hd; add it via a wrapper CTE
    ctes.append("g0 AS (SELECT event_id, hx, hy, CAST(0 AS BIGINT) AS hd "
                "FROM h0)")
    j = 0
    for i in reversed(range(bits)):
        s = 1 << i
        j += 1
        ctes.append(
            f"r{j} AS (SELECT event_id, hx, hy, hd, "
            f"(hx >> {i}) & 1 AS rx, (hy >> {i}) & 1 AS ry FROM g{j-1})")
        quad = ("CASE WHEN rx = 0 AND ry = 0 THEN 0 "
                "WHEN rx = 0 THEN 1 WHEN ry = 0 THEN 3 ELSE 2 END")
        ctes.append(
            f"g{j} AS (SELECT event_id, "
            f"CASE WHEN ry = 1 THEN hx WHEN rx = 1 THEN {s-1} - hy "
            f"ELSE hy END AS hx, "
            f"CASE WHEN ry = 1 THEN hy WHEN rx = 1 THEN {s-1} - hx "
            f"ELSE hx END AS hy, "
            f"hd + {s}::BIGINT * {s} * ({quad}) AS hd FROM r{j})")
    return ("WITH " + ",\n  ".join(ctes)
            + f" SELECT event_id, hd AS hkey FROM g{j}")


@q("zorder_keys_events",
   _zorder_oracle(),
   "Z-order (Morton) layout keys over (user_id, value): min-max "
   "quantize each dim to 16 bits (stats ride a broadcast 1-row "
   "aggregate, no driver collect), magic-mask bit interleave as pure "
   "codegen arithmetic. Written repartitionByRange(zkey)+sortWithin, "
   "every file covers a small (x,y) rectangle so conjunctive box "
   "predicates skip most files on footer stats — multi-dimensional "
   "data skipping at 100 TB, where a single-column sort prunes only "
   "one predicate (pruning win pinned by tests/test_zorder.py)")
def zorder_keys_events(spark, sf_dir):
    from .operators.layout import zorder_keys
    ev = _t(spark, sf_dir, "events")
    return zorder_keys(ev, "user_id", "value").select("event_id", "zkey")


def _zorder3_oracle(bits: int = 16) -> str:
    """Twin of layout.zorder_key's general k-column form for
    (user_id, value, event_id): the driver-probe stats become SQL
    aggregates (same double math, same parenthesization:
    least(cast(floor(((v-mn)/span)*(2^bits-1)) as bigint), 2^bits-1)
    with span = mx-mn or 1.0), then the per-bit interleave as a flat
    48-term OR chain — each term references its quantized column once,
    so no CTE staging is needed."""
    hi = (1 << bits) - 1
    cols = ["user_id", "value", "event_id"]
    k = len(cols)
    quant = ("CAST(floor((((coalesce({v}::DOUBLE, mn{i}) - mn{i})"
             " / (CASE WHEN mx{i} > mn{i} THEN mx{i} - mn{i}"
             " ELSE 1.0 END)) * {hi}.0)) AS BIGINT)")
    qs = ", ".join(
        f"least({quant.format(v=c, i=i, hi=hi)}, {hi}) AS q{i}"
        for i, c in enumerate(cols))
    stats = ", ".join(
        f"min({c}::DOUBLE) AS mn{i}, max({c}::DOUBLE) AS mx{i}"
        for i, c in enumerate(cols))
    terms = " | ".join(
        f"(((q{i} >> {j}) & 1) << {j * k + i})"
        for i in range(k) for j in range(bits))
    return (f"WITH s AS (SELECT {stats} FROM events), "
            f"q AS (SELECT event_id, {qs} FROM events CROSS JOIN s) "
            f"SELECT event_id, {terms} AS zkey3 FROM q")


@q("zorder3_keys_events",
   _zorder3_oracle(),
   "General k-column Z-order path (layout.zorder_key / "
   "interleave_bits) over THREE dims (user_id, value, event_id), "
   "16 bits each in a 48-bit key — the form OPTIMIZE ZORDER takes "
   "when a table is filtered on more than two columns; per-bit "
   "unrolled interleave stays one codegen projection, stats are the "
   "documented driver-scalar probe (same cost class as the CDC "
   "ceiling probe)")
def zorder3_keys_events(spark, sf_dir):
    from .operators.layout import zorder_key
    ev = _t(spark, sf_dir, "events")
    return ev.select("event_id",
                     zorder_key(ev, ["user_id", "value", "event_id"],
                                bits=16).alias("zkey3"))


@q("hilbert_keys_events",
   _hilbert_oracle(),
   "Hilbert layout keys over (user_id, value) — the zorder_keys "
   "sibling with strictly better locality (consecutive key ranges are "
   "CONNECTED regions, no quadrant jumps, so file boundaries cut "
   "fewer rectangles). Per-bit quadrant digit + conditional flip-and-"
   "swap rotation, staged through named columns (16 narrow codegen "
   "steps, zero shuffle; a single nested expression would duplicate "
   "subtrees ~3^bits times); quantizer stats ride the same broadcast "
   "1-row aggregate")
def hilbert_keys_events(spark, sf_dir):
    from .operators.layout import hilbert_keys
    ev = _t(spark, sf_dir, "events")
    return hilbert_keys(ev, "user_id", "value").select("event_id", "hkey")


@q("variant_props_events",
   """SELECT event_type,
             count(*) AS n_events,
             CAST(sum(json_extract(props, '$.k')::INT) AS BIGINT) AS sum_k,
             round(avg(json_extract(props, '$.k')::INT), 6) AS avg_k,
             count(CASE WHEN json_extract(props, '$.k') IS NULL
                        THEN 1 END) AS n_missing
      FROM events GROUP BY event_type""",
   "Spark 4 VARIANT path for semi-structured columns: parse_json ONCE "
   "into the binary-encoded VARIANT, then typed try_variant_get "
   "extractions — repeated field accesses skip re-parsing the JSON "
   "text (the from_json alternative needs the full schema up front; "
   "VARIANT keeps schema-on-read per access). Same aggregate shape as "
   "json_props_extract_events, different storage/access surface")
def variant_props_events(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    v = F.parse_json("props")
    k = F.try_variant_get(v, "$.k", "int")
    return (ev.select("event_type", k.alias("k"))
              .groupBy("event_type")
              .agg(F.count(F.lit(1)).alias("n_events"),
                   F.sum("k").cast("long").alias("sum_k"),
                   F.round(F.avg("k"), 6).alias("avg_k"),
                   F.count(F.when(F.col("k").isNull(), 1))
                    .alias("n_missing")))


_LOGREG_FEATS_SQL = """
  SELECT CASE WHEN lang = 'en' THEN 1.0 ELSE 0.0 END AS y,
         ln(n_chars) AS f1,
         (length(text) - length(replace(text, ' ', ''))) * 1.0
           / length(text) AS f2,
         length(regexp_replace(text, '[^0-9]', '', 'g')) * 1.0
           / length(text) AS f3
  FROM documents"""

_P = "1.0/(1.0+exp(-({b} + {w1}*f1 + {w2}*f2 + {w3}*f3)))"


def _logreg_weight_ctes(iters: int) -> tuple[list[str], str]:
    """Shared CTE builder for the logreg oracles: the feature relation
    plus ``iters`` unrolled GD steps (each an aggregate CTE with the
    prior weights cross-joined in). Returns (ctes, p_expr) where
    ``p_expr`` reads the final weights from CTE ``w{iters}``."""
    w = dict(b="0.0", w1="0.0", w2="0.0", w3="0.0")
    ctes = [f"f AS ({_LOGREG_FEATS_SQL})"]
    for i in range(1, iters + 1):
        p = _P.format(**w)
        prev = f", w{i-1}" if i > 1 else ""
        ctes.append(
            f"g{i} AS (SELECT avg(({p}) - y) AS g0, "
            f"avg((({p}) - y) * f1) AS g1, "
            f"avg((({p}) - y) * f2) AS g2, "
            f"avg((({p}) - y) * f3) AS g3 FROM f{prev})")
        ctes.append(
            f"w{i} AS (SELECT {w['b']} - g0 AS b, {w['w1']} - g1 AS w1, "
            f"{w['w2']} - g2 AS w2, {w['w3']} - g3 AS w3 FROM g{i}"
            + (f" CROSS JOIN w{i-1}" if i > 1 else "") + ")")
        w = dict(b="b", w1="w1", w2="w2", w3="w3")
        # from iteration 2 on, weights come from the w{i-1} CTE columns;
        # the cross joins above thread them through
    return ctes, _P.format(**w)


def _logreg_oracle(iters: int = 3) -> str:
    """Unrolled-iteration SQL twin of classifier.logreg_train: each GD
    step is one aggregate CTE over the feature relation with the prior
    weights entering as cross-joined scalars — the oracle replays the
    exact distributed computation."""
    ctes, p = _logreg_weight_ctes(iters)
    return ("WITH " + ",\n  ".join(ctes) + f"""
      SELECT count(*) AS n,
             round(avg(CASE WHEN (({p}) >= 0.5) = (y = 1.0)
                            THEN 1.0 ELSE 0.0 END), 6) AS accuracy,
             round(avg(-(y * ln(({p}) + 1e-12)
                         + (1.0 - y) * ln(1.0 - ({p}) + 1e-12))), 6)
               AS mean_logloss,
             round(b, 6) AS w_bias, round(w1, 6) AS w_len,
             round(w2, 6) AS w_space, round(w3, 6) AS w_digit
      FROM f CROSS JOIN w{iters}
      GROUP BY b, w1, w2, w3""")


def _logreg_pr_oracle(iters: int = 3,
                      thresholds: tuple[float, ...] = (
                          0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9),
                      ) -> str:
    """Threshold-sweep twin: same unrolled training CTEs, final select
    cross-joins the threshold list and groups the confusion counts per
    threshold (count FILTER -> BIGINT, matching Spark's count(when))."""
    ctes, p = _logreg_weight_ctes(iters)
    tlist = ", ".join(repr(float(t)) for t in thresholds)
    return ("WITH " + ",\n  ".join(ctes) + f""",
      t AS (SELECT unnest([{tlist}]) AS threshold),
      c AS (SELECT threshold,
                   count(*) FILTER (({p}) >= threshold AND y = 1.0)
                     AS tp,
                   count(*) FILTER (({p}) >= threshold AND y <> 1.0)
                     AS fp,
                   count(*) FILTER (({p}) < threshold AND y = 1.0)
                     AS fn,
                   count(*) FILTER (({p}) < threshold AND y <> 1.0)
                     AS tn
            FROM f CROSS JOIN w{iters} CROSS JOIN t
            GROUP BY threshold)
      SELECT threshold, tp, fp, fn, tn,
             round(tp * 1.0 / nullif(tp + fp, 0), 6) AS precision,
             round(tp * 1.0 / nullif(tp + fn, 0), 6) AS recall,
             round(2.0 * (tp * 1.0 / nullif(tp + fp, 0))
                       * (tp * 1.0 / nullif(tp + fn, 0))
                   / nullif((tp * 1.0 / nullif(tp + fp, 0))
                            + (tp * 1.0 / nullif(tp + fn, 0)), 0), 6)
               AS f1
      FROM c""")


def _logreg_calibration_oracle(iters: int = 3, n_bins: int = 10) -> str:
    """Reliability-curve twin: same unrolled training CTEs; per-bin
    means ride decimal(20,12) per-row casts exactly like the Spark
    side, so 6dp outputs cannot drift with summation order."""
    ctes, p = _logreg_weight_ctes(iters)
    return ("WITH " + ",\n  ".join(ctes) + f""",
      s AS (SELECT CAST(least(floor(({p}) * {n_bins}), {n_bins - 1})
                        AS INT) AS bin,
                   CAST(({p}) AS DECIMAL(20,12)) AS pd,
                   CAST(y AS DECIMAL(20,12)) AS yd
            FROM f CROSS JOIN w{iters}),
      g AS (SELECT bin, count(*) AS n,
                   CAST(sum(pd) AS DOUBLE) AS sp,
                   CAST(sum(yd) AS DOUBLE) AS sy
            FROM s GROUP BY bin)
      SELECT bin, n,
             round(sp / n, 6) AS mean_pred,
             round(sy / n, 6) AS frac_pos,
             round(sp / n - sy / n, 6) AS gap
      FROM g""")


@q("classifier_calibration_documents",
   _logreg_calibration_oracle(1, n_bins=20),
   "reliability curve for the learned quality gate: decile-binned mean "
   "prediction vs observed positive rate (+ gap). PR curves pick a "
   "threshold; calibration tells you whether the scores can be READ as "
   "probabilities — i.e. whether that threshold transfers. One corpus "
   "pass, partial-aggregable; per-bin means ride decimal(20,12) "
   "per-row casts so 6dp outputs are partition-order-proof. Uses the "
   "1-iteration model at 20 bins: the fixture's converged model "
   "saturates into one honest-but-trivial bin, while the under-trained "
   "one exposes the mean_pred≈0.1 / frac_pos≈0.43 miscalibration this "
   "curve exists to catch. Oracle: same unrolled-GD weight CTEs as the "
   "classifier entries")
def classifier_calibration_documents(spark, sf_dir):
    from .operators.classifier import logreg_calibration, logreg_train
    feats = _logreg_feats(_t(spark, sf_dir, "documents"))
    w = logreg_train(feats, ["f1", "f2", "f3"], "y", iters=1, lr=1.0)
    return logreg_calibration(feats, w, ["f1", "f2", "f3"], "y",
                              n_bins=20)


@q("quality_classifier_documents",
   _logreg_oracle(3),
   "LEARNED quality gate: logistic regression trained ON the corpus "
   "(label: lang='en'; features: log length, space ratio, digit "
   "ratio) by full-batch gradient descent — every iteration is ONE "
   "partial-aggregable corpus pass (avg((sigmoid(w.x)-y)*x) per "
   "coordinate), weights are d+1 driver floats re-entering as codegen "
   "literals, scoring/eval is a narrow projection. The CCNet/fastText "
   "pipeline step between heuristic rules and LM scoring; at 100 TB "
   "train on a hash-gate sample, score the full corpus in one pass. "
   "Oracle = the SAME three GD steps unrolled as aggregate CTEs")
def quality_classifier_documents(spark, sf_dir):
    from .operators.classifier import logreg_metrics, logreg_train
    feats = _logreg_feats(_t(spark, sf_dir, "documents"))
    w = logreg_train(feats, ["f1", "f2", "f3"], "y", iters=3, lr=1.0)
    m = logreg_metrics(feats, w, ["f1", "f2", "f3"], "y")
    return m.select(
        "n", "accuracy", "mean_logloss",
        F.round(F.lit(w[0]), 6).alias("w_bias"),
        F.round(F.lit(w[1]), 6).alias("w_len"),
        F.round(F.lit(w[2]), 6).alias("w_space"),
        F.round(F.lit(w[3]), 6).alias("w_digit"))


def _logreg_feats(docs):
    """Spark twin of _LOGREG_FEATS_SQL (label + 3 surface features)."""
    ln = F.length("text")
    return docs.select(
        F.when(F.col("lang") == "en", 1.0).otherwise(0.0).alias("y"),
        F.log(F.col("n_chars")).alias("f1"),
        ((ln - F.length(F.regexp_replace("text", " ", ""))) / ln)
        .alias("f2"),
        (F.length(F.regexp_replace("text", "[^0-9]", "")) / ln)
        .alias("f3"))


@q("classifier_pr_curve_documents",
   _logreg_pr_oracle(3),
   "Decision-threshold calibration for the learned quality gate: "
   "precision/recall/F1 + confusion counts at 9 thresholds in ONE "
   "corpus pass — per-row sigmoid (codegen literals) explodes against "
   "the 9-element threshold literal and the counts partial-aggregate "
   "map-side, so the shuffle carries |T| x partitions tuples "
   "regardless of corpus size. This curve is how a production "
   "pipeline picks its keep/drop threshold (e.g. max recall at "
   "precision >= 0.9); zero denominators surface as NULL, not 0/0")
def classifier_pr_curve_documents(spark, sf_dir):
    from .operators.classifier import logreg_pr_curve, logreg_train
    feats = _logreg_feats(_t(spark, sf_dir, "documents"))
    w = logreg_train(feats, ["f1", "f2", "f3"], "y", iters=3, lr=1.0)
    return logreg_pr_curve(feats, w, ["f1", "f2", "f3"], "y")


@q("char_entropy_documents",
   f"""WITH n AS (SELECT doc_id, {_NORM_SQL.format(x='text')} AS t
               FROM documents),
      b AS (SELECT doc_id, t FROM n WHERE length(t) >= 1),
      ex AS (SELECT doc_id,
                    unnest(list_transform(generate_series(1, length(t)),
                                          i -> substring(t, i, 1))) AS ch
             FROM b),
      cnt AS (SELECT doc_id, ch, count(*) AS n FROM ex GROUP BY 1, 2),
      agg AS (SELECT doc_id, sum(n) AS nn,
                     sum(n * log2(n)) AS s
              FROM cnt GROUP BY 1)
      SELECT doc_id, round(log2(nn) - s / nn, 6) AS entropy_bits,
             CAST(nn AS BIGINT) AS n_chars
      FROM agg""",
   "per-doc character Shannon entropy — the cheap garbage screen "
   "between length heuristics and the bigram LM (mojibake scores "
   "anomalously high, template spam anomalously low). Algebraic "
   "identity H = log2(N) - (sum n log2 n)/N: two partial-aggregable "
   "groupBys, no window, shuffle <= |alphabet| rows per doc")
def char_entropy_documents(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return tx.char_entropy(docs)


@q("token_kl_by_source",
   """WITH tok AS (SELECT source, unnest(string_split(text, ' ')) AS t
                FROM documents),
      st AS (SELECT source, t, count(*) AS c FROM tok GROUP BY 1, 2),
      ct AS (SELECT t, sum(c) AS cc FROM st GROUP BY 1),
      ss AS (SELECT source, sum(c) AS sc FROM st GROUP BY 1),
      tot AS (SELECT sum(cc) AS n FROM ct)
      SELECT source,
             round(sum((c / sc) * ln((c / sc) / (cc / n))), 6)
               AS kl_divergence,
             CAST(sc AS BIGINT) AS n_tokens
      FROM st JOIN ct USING (t) JOIN ss USING (source) CROSS JOIN tot
      GROUP BY source, sc""",
   "per-source token-distribution KL divergence vs the whole corpus — "
   "the domain-drift diagnostic behind mixture reweighting (a source "
   "whose KL jumps is no longer the distribution the mixture weights "
   "were tuned on; PSI's categorical big sibling). After the first "
   "groupBy everything is vocabulary-sized: the join carries "
   "(source x token) count rows, the totals are broadcast-sized, and "
   "the per-row log term is codegen'd")
def token_kl_by_source(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    tok = docs.select("source",
                      F.explode(F.split("text", " ")).alias("t"))
    # the (source, token) counts feed the corpus totals, the source
    # totals AND the final join — checkpoint so the corpus tokenization
    # pass runs once (the ngram_jaccard/bigram materialization lesson)
    st = tok.groupBy("source", "t").agg(F.count(F.lit(1)).alias("c"))             .localCheckpoint(eager=False)
    ct = st.groupBy("t").agg(F.sum("c").alias("cc"))
    ss = st.groupBy("source").agg(F.sum("c").alias("sc"))
    tot = ct.agg(F.sum("cc").alias("n"))
    p_s = F.col("c") / F.col("sc")
    p_c = F.col("cc") / F.col("n")
    return (st.join(ct, "t")
              .join(F.broadcast(ss), "source")
              .join(F.broadcast(tot))
              .groupBy("source", "sc")
              .agg(F.round(F.sum(p_s * F.log(p_s / p_c)), 6)
                    .alias("kl_divergence"))
              .select("source", "kl_divergence",
                      F.col("sc").cast("bigint").alias("n_tokens")))


@q("constraint_audit_orders",
   """WITH v AS (SELECT count(*) AS n_rows,
                      count(CASE WHEN NOT coalesce(o_totalprice > 0, FALSE)
                                 THEN 1 END) AS c_price,
                      count(CASE WHEN NOT coalesce(
                                   o_orderstatus IN ('O','F','P'), FALSE)
                                 THEN 1 END) AS c_status,
                      count(CASE WHEN NOT coalesce(
                                   o_orderpriority <> '1-URGENT', FALSE)
                                 THEN 1 END) AS c_urgent
               FROM orders),
      fk AS (SELECT count(*) AS viol FROM orders o
             WHERE NOT EXISTS (SELECT 1 FROM customer c
                               WHERE c.c_custkey = o.o_custkey))
      SELECT 'totalprice_positive' AS "constraint", n_rows,
             c_price AS n_violations, c_price = 0 AS pass FROM v
      UNION ALL
      SELECT 'status_known', n_rows, c_status, c_status = 0 FROM v
      UNION ALL
      SELECT 'priority_never_urgent', n_rows, c_urgent, c_urgent = 0
      FROM v
      UNION ALL
      SELECT 'custkey_has_customer', (SELECT n_rows FROM v), viol,
             viol = 0 FROM fk""",
   "declarative data-contract audit (deequ-style): all row constraints "
   "in ONE partial-aggregable scan (null predicate = violation, SQL "
   "CHECK semantics) + a referential check as one anti-join — the "
   "n-constraints cost is one pass, not n. priority_never_urgent is "
   "deliberately failing so the violation counting itself is "
   "oracle-witnessed")
def constraint_audit_orders(spark, sf_dir):
    from .operators import quality as ql
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    rows = ql.check_constraints(orders, [
        ("totalprice_positive", F.col("o_totalprice") > 0),
        ("status_known", F.col("o_orderstatus").isin("O", "F", "P")),
        ("priority_never_urgent", F.col("o_orderpriority") != "1-URGENT"),
    ])
    n_rows = orders.count()
    fk = (ql.fk_violations(orders, cust, "o_custkey", "c_custkey")
            .select(F.lit("custkey_has_customer").alias("constraint"),
                    F.lit(n_rows).cast("long").alias("n_rows"),
                    F.col("n_orphans").alias("n_violations"),
                    (F.col("n_orphans") == 0).alias("pass")))
    return rows.unionByName(fk)


@q("cluster_safe_split_documents",
   f"""WITH RECURSIVE {_MINHASH_CTE},
      banded AS (SELECT doc_id, hash_idx // 2 AS band,
                        md5(array_to_string(list_sort(
                            list(hash_idx::VARCHAR || ':' || min_hash::VARCHAR)),
                            ',')) AS band_hash
                 FROM sig GROUP BY doc_id, hash_idx // 2),
      pairs AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
                FROM banded a JOIN banded b
                  ON a.band = b.band AND a.band_hash = b.band_hash
                     AND a.doc_id < b.doc_id),
      edges AS (SELECT id_a AS u, id_b AS v FROM pairs
                UNION SELECT id_b, id_a FROM pairs),
      reach(u, v) AS (
          SELECT u, u FROM (SELECT DISTINCT u FROM edges)
          UNION
          SELECT e.u, r.v FROM edges e JOIN reach r ON e.v = r.u),
      comp AS (SELECT u AS doc_id, min(v) AS component
               FROM reach GROUP BY u),
      rep AS (SELECT d.doc_id,
                     coalesce(c.component, d.doc_id) AS r
              FROM documents d LEFT JOIN comp c USING (doc_id))
      SELECT CASE
               WHEN {_H.format(x="r::VARCHAR")} % {_GATE}
                    < {int(0.8 * 1_000_000)} THEN 'train'
               WHEN {_H.format(x="r::VARCHAR")} % {_GATE}
                    < {int(0.9 * 1_000_000)} THEN 'val'
               ELSE 'test' END AS split,
             count(*) AS n_docs
      FROM rep GROUP BY 1""",
   "leak-free split that keeps near-duplicates together: the 80/10/10 "
   "hash gate keys on the LSH connected-component representative "
   "(singletons on their own id), so a near-dup pair can never straddle "
   "train/test and inflate eval. One corpus-vs-component-map left join "
   "(AQE-broadcast while the dup fraction is small) + the narrow "
   "hash-range assignment")
def cluster_safe_split_documents(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    pairs = dd.lsh_pairs(docs, n=3, num_hashes=16, bands=8)
    comps = dd.neardup_components(pairs, pairs_distinct=True)
    out = smp.cluster_safe_split(
        docs, "doc_id", comps, {"train": 0.8, "val": 0.1, "test": 0.1})
    return out.groupBy("split").agg(F.count(F.lit(1)).alias("n_docs"))


@q("overlapping_purchase_intervals_events",
   """WITH iv AS (SELECT CAST(ts AS DATE) AS day, user_id,
                       min(ts) AS s, max(ts) AS e
                FROM events WHERE event_type = 'purchase'
                GROUP BY 1, 2)
      SELECT a.day AS day, count(*) AS n_pairs
      FROM iv a JOIN iv b
        ON a.day = b.day AND a.user_id < b.user_id
       AND a.s <= b.e AND b.s <= a.e
      GROUP BY a.day""",
   "interval-x-interval overlap join (third temporal family after "
   "as-of and point-in-window): daily purchase-activity intervals per "
   "user, pairs whose intervals intersect. The oracle's theta join is "
   "a nested loop; the Spark side buckets each interval and emits each "
   "pair only in the bucket holding greatest(starts) — a pure hash "
   "equi-join, one match per pair, no distinct pass")
def overlapping_purchase_intervals_events(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    iv = (ev.filter(F.col("event_type") == "purchase")
            .groupBy(F.to_date("ts").alias("day"), "user_id")
            .agg(F.min("ts").alias("s"), F.max("ts").alias("e")))
    a = iv.select("day", F.col("user_id").alias("user_a"),
                  F.col("s").alias("s_a"), F.col("e").alias("e_a"))
    b = iv.select("day", F.col("user_id").alias("user_b"),
                  F.col("s").alias("s_b"), F.col("e").alias("e_b"))
    pairs = tmp.interval_overlap_join(
        a, b, on="day", left_start="s_a", left_end="e_a",
        right_start="s_b", right_end="e_b", bucket_s=6 * 3600)
    return (pairs.filter(F.col("user_a") < F.col("user_b"))
                 .groupBy("day")
                 .agg(F.count(F.lit(1)).alias("n_pairs")))


@q("boilerplate_scrub_documents",
   f"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS w
                FROM documents),
      b AS (SELECT doc_id, w, CAST(floor(len(w) / 16) AS INT) AS nc
            FROM t),
      ix AS (SELECT doc_id, w, nc, unnest(range(nc)) AS i FROM b),
      ch AS (SELECT doc_id, CAST(i AS INT) AS i,
                    array_to_string(w[i*16+1 : i*16+16], ' ') AS chunk
             FROM ix),
      hot AS (SELECT {_H.format(x='chunk')} AS h FROM ch
              GROUP BY 1 HAVING count(DISTINCT doc_id) > 1),
      body AS (SELECT doc_id, string_agg(chunk, ' ' ORDER BY i) AS body
               FROM ch
               WHERE {_H.format(x='chunk')} NOT IN (SELECT h FROM hot)
               GROUP BY doc_id),
      rem AS (SELECT doc_id, count(*) AS n_removed
              FROM ch WHERE {_H.format(x='chunk')} IN (SELECT h FROM hot)
              GROUP BY doc_id),
      rest AS (SELECT doc_id,
                      nullif(array_to_string(w[nc*16+1 : len(w)], ' '), '')
                        AS rest
               FROM b)
      SELECT b.doc_id,
             concat_ws(' ', body.body, rest.rest) AS clean_text,
             CAST(coalesce(rem.n_removed, 0) AS INT) AS n_removed
      FROM b
      LEFT JOIN body USING (doc_id)
      LEFT JOIN rem  USING (doc_id)
      JOIN rest      USING (doc_id)""",
   "C4-style boilerplate REMOVAL with reassembly (dup_span_chunks only "
   "detects): chunks occurring in >1 doc are deleted from every doc and "
   "the survivors re-concatenated in order. Corpus pass shuffles 8-byte "
   "chunk hashes with map-side combine; reassembly shuffles each doc's "
   "surviving text exactly once; docs losing ALL chunks are preserved "
   "via the base left join (byte-exact string oracle)")
def boilerplate_scrub_documents(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return dd.remove_boilerplate_chunks(docs, chunk_words=16, max_docs=1)


@q("udtf_json_kv_events",
   """WITH kv AS (SELECT event_type, unnest(json_keys(props)) AS key,
                       props
                FROM events WHERE event_type = 'purchase')
      SELECT event_type, key, count(*) AS n,
             CAST(sum(TRY_CAST(json_extract_string(props, '$.' || key)
                               AS BIGINT)) AS BIGINT) AS sum_value
      FROM kv GROUP BY event_type, key""",
   "Spark-4 Python UDTF surface (Arrow-batched lateral row expansion): "
   "tolerant JSON key/value explosion in Python where from_json needs "
   "a known schema. NOT the scale path for schematized JSON — "
   "json_props_extract_events is (codegen, zero Python); this seam is "
   "for bespoke parsers, so the query scopes it to the purchase slice "
   "the way a real pipeline would quarantine only the rows that NEED "
   "Python (the event_type filter pushes below the UDTF to the scan). "
   "The aggregate downstream is ordinary partial-aggregable groupBy")
def udtf_json_kv_events(spark, sf_dir):
    from .functions.udtfs import register_udtfs
    from .operators.partitioning import fan_out
    register_udtfs(spark)
    ev = _t(spark, sf_dir, "events")
    # filter BEFORE the UDTF (only the quarantine slice pays Python),
    # fan_out so the per-row eval runs on every core — the single-file
    # fixture otherwise feeds the whole lateral to ONE task
    fan_out(ev.filter(F.col("event_type") == "purchase"))         .createOrReplaceTempView("__udtf_events")
    kv = spark.sql("""
        SELECT e.event_type, j.key, j.value
        FROM __udtf_events e, LATERAL json_kv(e.props) j""")
    return (kv.groupBy("event_type", "key")
              .agg(F.count(F.lit(1)).alias("n"),
                   F.sum(F.col("value").cast("bigint")).cast("bigint")
                    .alias("sum_value")))


@q("winnowing_dup_fingerprints_documents",
   f"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS w
                FROM documents WHERE len(string_split(text, ' ')) >= 8),
      h AS (SELECT doc_id,
                   list_transform(range(len(w) - 5 + 1), i ->
                     {_H.format(x="array_to_string(w[i+1:i+5], ' ')")}) AS hs
            FROM t),
      f AS (SELECT doc_id,
                   list_distinct(list_transform(range(len(hs) - 4 + 1),
                     j -> list_min(hs[j+1:j+4]))) AS fps
            FROM h),
      e AS (SELECT doc_id, unnest(fps) AS fp FROM f)
      SELECT fp AS fingerprint, count(DISTINCT doc_id) AS n_docs
      FROM e GROUP BY fp HAVING count(DISTINCT doc_id) >= 2""",
   "robust winnowing (Schleimer'03 / MOSS): window-min fingerprints "
   "over ALL 5-gram offsets — any shared run of >= 8 words yields an "
   "identical fingerprint in both docs regardless of copy alignment "
   "(dup_span_chunks' fixed chunk boundaries cannot promise that). "
   "Per-row array math with the md5 array materialized ONCE per doc; "
   "shuffle carries only selected 8-byte fingerprints")
def winnowing_dup_fingerprints_documents(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    fps = dd.winnowing_fingerprints(docs, k=5, window=4)
    return (fps.groupBy("fingerprint")
               .agg(F.countDistinct("doc_id").alias("n_docs"))
               .filter(F.col("n_docs") >= 2))


@q("stable_global_ids_orders",
   """SELECT o_orderkey,
             row_number() OVER (ORDER BY o_orderkey) AS row_id
      FROM orders""",
   "dense global row ids WITHOUT the single-partition window the "
   "oracle SQL implies: repartitionByRange + per-partition row_number "
   "+ an exclusive prefix sum over the O(num_partitions) counts "
   "broadcast back. The ORDER BY window serializes a 100 TB table "
   "onto one core; this shape's only wide op is the range exchange a "
   "global sort already pays. Stable-example-id backbone for "
   "sharding/pairing/reproducible sampling")
def stable_global_ids_orders(spark, sf_dir):
    from .operators.partitioning import assign_global_ids
    orders = _t(spark, sf_dir, "orders")
    out = assign_global_ids(orders.select("o_orderkey"), ["o_orderkey"])
    return out.select("o_orderkey",
                      F.col("row_id").cast("bigint").alias("row_id"))


# ==========================================================================
# Round 7: incremental aggregate maintenance, record linkage, MMR diverse
# top-k, compaction planning, Unicode normalization
# ==========================================================================

_AGG_WM = "1998-01-01 00:00:00"

# Shared finalize derivations (must mirror operators/incremental_agg.py
# finalize_agg exactly: decimal-exact sum/ssq cast to double, then the
# identical IEEE expression in both engines, rounded 6dp).
_S_DEC = "CAST(sum(CAST(o_totalprice AS DECIMAL(30,4))) AS DOUBLE)"
_SSQ_DEC = ("CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * "
            "CAST(o_totalprice AS DECIMAL(18,2)) AS DECIMAL(38,6))) "
            "AS DOUBLE)")
_N_D = "CAST(count(o_totalprice) AS DOUBLE)"
_STD_SQL = (f"CASE WHEN count(o_totalprice) > 1 THEN "
            f"round(sqrt(greatest(({_SSQ_DEC} - {_S_DEC} * {_S_DEC} / {_N_D})"
            f" / ({_N_D} - 1.0), 0.0)), 6) END")


@q("incremental_agg_orders",
   f"""SELECT o_orderstatus, o_orderpriority,
              count(o_totalprice) AS o_totalprice_count,
              {_S_DEC} AS o_totalprice_sum,
              round({_S_DEC} / {_N_D}, 6) AS o_totalprice_avg,
              CAST(min(o_totalprice) AS DOUBLE) AS o_totalprice_min,
              CAST(max(o_totalprice) AS DOUBLE) AS o_totalprice_max,
              {_STD_SQL} AS o_totalprice_stddev
       FROM orders GROUP BY 1, 2""",
   "incremental materialized-aggregate maintenance: the oracle recomputes "
   "the grouped aggregate from scratch; the Spark side maintains it as a "
   "mergeable state — state(rows < watermark) ⊕ state(delta rows ≥ "
   "watermark) — and finalizes. The ⊕-monoid carries decimal-exact "
   "sum/sumsq so merge order and partitioning cannot drift a ulp; at "
   "100 TB each nightly merge joins |keys| state rows against the delta's "
   "keys instead of rescanning the fact table (the reference re-counts "
   "whole tables per run: src/core/s3_manager.py verify pass)")
def incremental_agg_orders(spark, sf_dir):
    from .operators.incremental_agg import (agg_state, finalize_agg,
                                            merge_agg_states)
    keys = ["o_orderstatus", "o_orderpriority"]
    orders = _t(spark, sf_dir, "orders")
    wm = F.lit(_AGG_WM).cast("timestamp")
    stored = agg_state(orders.where(F.col("o_orderdate") < wm),
                       keys, ["o_totalprice"])
    delta = agg_state(orders.where(F.col("o_orderdate") >= wm),
                      keys, ["o_totalprice"])
    merged = merge_agg_states(keys, ["o_totalprice"], stored, delta)
    return finalize_agg(merged, keys, ["o_totalprice"])


@q("retract_agg_orders",
   f"""SELECT o_orderstatus, o_orderpriority,
              count(o_totalprice) AS o_totalprice_count,
              {_S_DEC} AS o_totalprice_sum,
              round({_S_DEC} / {_N_D}, 6) AS o_totalprice_avg,
              {_STD_SQL} AS o_totalprice_stddev
       FROM orders WHERE o_orderkey % 7 <> 0 GROUP BY 1, 2""",
   "CDC delete retraction on a maintained aggregate: state(all) ⊖ "
   "state(deleted batch) == recompute over survivors for the retractable "
   "measures (count/sum/sumsq ⇒ avg/stddev). min/max are honestly "
   "non-retractable (NULLed, not stale) and excluded here; groups whose "
   "count hits zero are dropped. The ⊖ join touches |keys| rows — the "
   "whole point vs a 100 TB re-aggregation after every delete batch")
def retract_agg_orders(spark, sf_dir):
    from .operators.incremental_agg import (agg_state, finalize_agg,
                                            retract_agg_states)
    keys = ["o_orderstatus", "o_orderpriority"]
    orders = _t(spark, sf_dir, "orders")
    stored = agg_state(orders, keys, ["o_totalprice"])
    deleted = agg_state(orders.where(F.col("o_orderkey") % 7 == 0),
                        keys, ["o_totalprice"])
    left = retract_agg_states(keys, ["o_totalprice"], stored, deleted)
    fin = finalize_agg(left, keys, ["o_totalprice"])
    return fin.select(*keys, "o_totalprice_count", "o_totalprice_sum",
                      "o_totalprice_avg", "o_totalprice_stddev")


@q("er_best_match_customer",
   """WITH dirty AS (
        SELECT c_custkey AS d_key,
               CASE WHEN c_custkey % 3 = 0
                      THEN substr(c_name, 1, 9) || substr(c_name, 11)
                    WHEN c_custkey % 3 = 1
                      THEN substr(c_name, 1, 12) || 'X' || substr(c_name, 14)
                    ELSE c_name END AS d_name,
               c_nationkey, c_mktsegment
        FROM customer),
      cand AS (
        SELECT d.d_key, c.c_custkey,
               round(1.0 - levenshtein(d.d_name, c.c_name)
                     / greatest(length(d.d_name), length(c.c_name)), 6) AS sim
        FROM dirty d JOIN customer c
          ON d.c_nationkey = c.c_nationkey
         AND d.c_mktsegment = c.c_mktsegment
         AND right(d.d_name, 5) = right(c.c_name, 5)),
      best AS (
        SELECT d_key, c_custkey AS match_key, sim,
               row_number() OVER (PARTITION BY d_key
                                  ORDER BY sim DESC, c_custkey) AS rn
        FROM cand WHERE sim >= 0.9)
      SELECT d_key, match_key, sim FROM best WHERE rn = 1""",
   "record linkage: a deterministically-corrupted twin of customer "
   "(char dropped / char substituted by key residue — OCR-noise stand-in) "
   "is linked back to the clean dimension by blocking on the untouched "
   "attributes (nation × segment: sum-of-block-squares, never all-pairs) "
   "+ JVM codegen Levenshtein + best-match window per dirty key. The "
   "fixture's near-collision names (ids one digit apart) make this a "
   "deliberately hard tie case — the (sim desc, key asc) policy is what "
   "the oracle pins. No Python in the hot path; no CartesianProduct")
def er_best_match_customer(spark, sf_dir):
    from .operators.entity_resolution import link_records
    cust = _t(spark, sf_dir, "customer")
    key, name = F.col("c_custkey"), F.col("c_name")
    d_name = (F.when(key % 3 == 0,
                     F.concat(F.substring(name, 1, 9),
                              F.substring(name, 11, 100)))
               .when(key % 3 == 1,
                     F.concat(F.substring(name, 1, 12), F.lit("X"),
                              F.substring(name, 14, 100)))
               .otherwise(name))
    # blocking = fixed-cardinality attributes (nation x segment) PLUS a
    # SCALING, corruption-invariant component: the name's last 5 chars.
    # Both fixture corruptions touch only positions 10/13, so the
    # 5-char suffix survives the char-drop (shift-safe: right() indexes
    # from the end) and the substitution. Cardinality of the suffix
    # grows ~linearly with the table (names embed the entity key), so
    # per-block size stays O(1) and candidates grow LINEARLY — pinned
    # at <=12x for 10x data by tests/test_scale_fences.py. History: the
    # original nation x segment blocking had FIXED cardinality and
    # measured x73 wall at 10x (r8 probe); a last-3 suffix still left
    # candidate growth quadratic once per-tail density outgrew 1 (the
    # r9 candidate-count pin caught exactly that). The recipe stands:
    # every blocking key must subdivide as the table grows, and the
    # candidate COUNT — not wall time — is what the test asserts.
    dirty = (cust.select(key.alias("d_key"), d_name.alias("d_name"),
                         "c_nationkey", "c_mktsegment")
                 .withColumn("name_tail", F.expr("right(d_name, 5)")))
    clean = cust.withColumn("name_tail", F.expr("right(c_name, 5)"))
    out = link_records(dirty, clean,
                       ["c_nationkey", "c_mktsegment", "name_tail"],
                       "d_key", "c_custkey", "d_name", "c_name",
                       threshold=0.9, max_name_len=18)
    return out.select("d_key", F.col("c_custkey").alias("match_key"), "sim")


def _mmr_oracle(k: int = 5, lam: float = 0.7, shortlist_n: int = 32) -> str:
    """Unrolled greedy MMR in SQL: step i picks argmax of
    lam*rel - (1-lam)*max(sim to s1..s{i-1}) over the shortlist minus the
    already-picked ids — the exact loop mmr_topk runs on the driver, with
    identical rounding (sims to 9dp before comparison, score to 6dp)."""
    steps = [f"""s1 AS (SELECT vec_id, v, {lam} * rel AS score
                 FROM short ORDER BY score DESC, vec_id LIMIT 1)"""]
    for i in range(2, k + 1):
        sims = ", ".join(
            f"round(list_cosine_similarity(s.v, (SELECT v FROM s{j})), 9)"
            for j in range(1, i))
        picked = " UNION ALL ".join(
            f"SELECT vec_id FROM s{j}" for j in range(1, i))
        steps.append(
            f"""s{i} AS (SELECT s.vec_id, s.v,
                    {lam} * s.rel - (1.0 - {lam}) * greatest({sims}) AS score
                 FROM short s WHERE s.vec_id NOT IN ({picked})
                 ORDER BY score DESC, vec_id LIMIT 1)""")
    finals = " UNION ALL ".join(
        f"SELECT {i} AS mmr_rank, vec_id, round(score, 6) AS mmr_score "
        f"FROM s{i}" for i in range(1, k + 1))
    return f"""WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS v
                          FROM embeddings WHERE vec_id = 0),
      base AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
                      round(list_cosine_similarity(
                          CAST(embedding AS DOUBLE[]),
                          (SELECT v FROM q)), 9) AS rel
               FROM embeddings WHERE vec_id <> 0),
      short AS (SELECT * FROM base ORDER BY rel DESC, vec_id
                LIMIT {shortlist_n}),
      {', '.join(steps)}
      {finals}"""


@q("mmr_topk_embeddings", _mmr_oracle(),
   "Maximal Marginal Relevance diverse top-k (Carbonell & Goldstein '98): "
   "relevance traded against redundancy with the picked set. The cluster "
   "does the only unbounded work (exact-cosine shortlist = "
   "TakeOrderedAndProject, per-partition heaps, no global sort at 10^11 "
   "vectors); the inherently-sequential greedy runs on the driver over "
   "the 32-row shortlist — bounded-relation driver work, same pattern as "
   "the k-means centroid collects. Oracle is the greedy unrolled in SQL "
   "with identical 9dp-before-compare rounding")
def mmr_topk_embeddings(spark, sf_dir):
    from .operators.similarity import mmr_topk
    emb = _t(spark, sf_dir, "embeddings")
    qv = emb.where(F.col("vec_id") == 0).select("embedding").head()[0]
    return mmr_topk(emb.where(F.col("vec_id") != 0),
                    [float(x) for x in qv],
                    k=5, lam=0.7, shortlist_n=32)


@q("compaction_plan_orders",
   """WITH files AS (
        SELECT CAST(month(o_orderdate) AS INT) AS part_month,
               o_orderkey % 40 AS file_id,
               CAST(floor(sum(CAST(o_totalprice AS DECIMAL(18,2))))
                    AS BIGINT) AS size_bytes
        FROM orders GROUP BY 1, 2),
      binned AS (
        SELECT part_month, size_bytes,
               CAST(floor((sum(size_bytes) OVER (
                     PARTITION BY part_month
                     ORDER BY size_bytes DESC, file_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    - size_bytes) / 10000000.0) AS INT) AS bin_id
        FROM files)
      SELECT part_month, bin_id, count(*) AS n_files,
             CAST(sum(size_bytes) AS BIGINT) AS bin_bytes
      FROM binned GROUP BY 1, 2""",
   "small-file compaction planning (the OPTIMIZE half the reference "
   "lacks — its chunked uploads leave whatever file sizes fall out, "
   "src/core/s3_manager.py): next-fit-decreasing by prefix sum assigns "
   "files to ~target-byte rewrite bins per table partition. Pure "
   "metadata work — the window runs over one row per FILE (a 100 TB "
   "table is ~10^6 file rows), partitioned by table partition. The file "
   "relation here is synthesized from orders so the oracle can derive "
   "the identical input; files_df_from_dir feeds real listings")
def compaction_plan_orders(spark, sf_dir):
    from .operators.layout import compaction_plan
    orders = _t(spark, sf_dir, "orders")
    dec = F.col("o_totalprice").cast("decimal(18,2)")
    files = (orders.groupBy(F.month("o_orderdate").alias("part_month"),
                            (F.col("o_orderkey") % 40).alias("file_id"))
                   .agg(F.floor(F.sum(dec)).cast("bigint")
                         .alias("size_bytes")))
    return compaction_plan(files, ["part_month"],
                           target_bytes=10_000_000)


@q("normalize_text_documents",
   r"""SELECT doc_id,
              trim(regexp_replace(lower(nfc_normalize(text)),
                                  '\s+', ' ', 'g')) AS norm_text,
              CAST(length(trim(regexp_replace(lower(nfc_normalize(text)),
                                              '\s+', ' ', 'g')))
                   AS INT) AS norm_len
       FROM documents""",
   "canonical Unicode normalization (NFC + lowercase + whitespace "
   "collapse): the ONE text op that needs a Python seam — Spark has no "
   "normalizer builtin — Arrow-batched pandas UDF with an in-batch "
   "str.isascii() short-circuit (forms are identity on ASCII), so on web "
   "corpora only the non-ASCII minority pays Python; lower/collapse/trim "
   "stay JVM codegen. Per-row, zero shuffle. Oracle: DuckDB "
   "nfc_normalize over the same pipeline")
def normalize_text_documents(spark, sf_dir):
    from .operators.text import unicode_normalize
    docs = _t(spark, sf_dir, "documents")
    out = unicode_normalize(docs, "text", "norm_text", form="NFC",
                         lower=True, collapse_ws=True)
    return out.select("doc_id", "norm_text",
                      F.length("norm_text").alias("norm_len"))


@q("kmv_distinct_by_source",
   """WITH hashes AS (
        SELECT DISTINCT source,
               CAST('0x' || substr(md5(text), 1, 15) AS BIGINT) AS kmv_hash
        FROM documents),
      ranked AS (
        SELECT source, kmv_hash,
               row_number() OVER (PARTITION BY source
                                  ORDER BY kmv_hash) AS r
        FROM hashes),
      sk AS (SELECT source, kmv_hash FROM ranked WHERE r <= 16)
      SELECT source, count(*) AS kmv_size, max(kmv_hash) AS kth_hash,
             round(CASE WHEN count(*) < 16
                        THEN CAST(count(*) AS DOUBLE)
                        ELSE 15.0 / (CAST(max(kmv_hash) AS DOUBLE)
                                     / 1152921504606846976.0)
                   END, 6) AS kmv_est
      FROM sk GROUP BY source""",
   "KMV distinct-count sketch (Bar-Yossef '02): k smallest portable "
   "hashes per group; estimate (k-1)/(h_k/2^60), exact when unsaturated. "
   "The mergeable, SQL-expressible sibling of HLL (which in-registry "
   "approx_distinct_users_check covers via Spark's native sketch): "
   "merge(sketch(A), sketch(B)) == sketch(A∪B) bit-exactly, so per-shard "
   "sketches union without rescans. Two-stage rank keeps a hot group's "
   "distinct stream off a single core (per-input-partition prune first)")
def kmv_distinct_by_source(spark, sf_dir):
    from .operators.sketches import kmv_estimate, kmv_sketch
    docs = _t(spark, sf_dir, "documents")
    sk = kmv_sketch(docs, ["source"], "text", k=16)
    return kmv_estimate(sk, ["source"], k=16)


@q("funnel_ordered_events",
   """WITH s1 AS (SELECT user_id, min(ts) AS t0 FROM events
                  WHERE event_type = 'view' GROUP BY 1),
      s2 AS (SELECT e.user_id, min(e.ts) AS t1
             FROM events e JOIN s1 ON e.user_id = s1.user_id
             WHERE e.event_type = 'click' AND e.ts > s1.t0 GROUP BY 1),
      s3 AS (SELECT e.user_id, min(e.ts) AS t2
             FROM events e JOIN s2 ON e.user_id = s2.user_id
             WHERE e.event_type = 'purchase' AND e.ts > s2.t1 GROUP BY 1)
      SELECT (SELECT count(*) FROM s1) AS users_view,
             (SELECT count(*) FROM s2) AS users_click,
             (SELECT count(*) FROM s3) AS users_purchase,
             round((SELECT count(*) FROM s2) * 1.0
                   / (SELECT count(*) FROM s1), 6) AS conv_view_click,
             round((SELECT count(*) FROM s3) * 1.0
                   / (SELECT count(*) FROM s2), 6) AS conv_click_purchase""",
   "strictly-ordered funnel conversion (view -> click -> purchase): step "
   "i counts only events AFTER the user's step-(i-1) time, the semantics "
   "sequence-match engines sell. Each stage is filter -> min-per-user "
   "joined to the previous stage on the user key: one user-key shuffle "
   "total (later joins/aggs are co-partitioned), per-step map work, "
   "1-row crossJoins for the summary — holds at any user cardinality")
def funnel_conversion_events(spark, sf_dir):
    from .operators.temporal import funnel_conversions
    ev = _t(spark, sf_dir, "events")
    return funnel_conversions(ev, "user_id", "ts", "event_type",
                              ["view", "click", "purchase"])


@q("tfidf_top_terms_documents",
   """WITH tf AS (
        SELECT doc_id, t.term, count(*) AS tf
        FROM documents,
             unnest(string_split(text, ' ')) AS t(term)
        GROUP BY doc_id, t.term),
      n AS (SELECT count(*) AS n_docs FROM documents),
      df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
      scored AS (
        SELECT tf.doc_id, tf.term,
               tf.tf * (ln((n.n_docs + 1.0) / (df.df + 1.0)) + 1.0)
                 AS score
        FROM tf JOIN df USING (term) CROSS JOIN n),
      ranked AS (
        SELECT doc_id, term, score,
               row_number() OVER (PARTITION BY doc_id
                                  ORDER BY score DESC, term) AS rnk
        FROM scored)
      SELECT doc_id, term, round(score, 6) AS tfidf, rnk
      FROM ranked WHERE rnk <= 3""",
   "top-3 TF-IDF terms per document (smoothed idf = ln((N+1)/(df+1))+1, "
   "sklearn's formula): keyword extraction / doc labeling on the same "
   "posting-list shape BM25 uses. Shuffles are the (doc,term) tf "
   "groupBy and the |vocab|-row df aggregate joined back on term "
   "(broadcast-class); the per-doc rank window partitions by doc_id — "
   "bounded by a document's distinct vocabulary, never corpus-wide. "
   "Scores are identical IEEE expressions from integer tf/df, so the "
   "ranking cannot diverge between engines")
def tfidf_top_terms_documents(spark, sf_dir):
    from pyspark.sql import Window
    docs = _t(spark, sf_dir, "documents")
    n_docs = docs.count()
    tf = (docs.select("doc_id",
                      F.explode(F.split("text", " ")).alias("term"))
              .groupBy("doc_id", "term")
              .agg(F.count(F.lit(1)).alias("tf")))
    df_ = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    idf = F.log((F.lit(n_docs) + F.lit(1.0))
                / (F.col("df") + F.lit(1.0))) + F.lit(1.0)
    scored = (tf.join(df_, "term")
                .select("doc_id", "term",
                        (F.col("tf") * idf).alias("score")))
    w = Window.partitionBy("doc_id").orderBy(F.desc("score"), "term")
    return (scored.withColumn("rnk", F.row_number().over(w))
                  .where(F.col("rnk") <= 3)
                  .select("doc_id", "term",
                          F.round("score", 6).alias("tfidf"), "rnk"))


@q("bloom_semi_join_orders",
   """SELECT o_orderkey, o_custkey, o_orderstatus
      FROM orders
      WHERE o_custkey IN (SELECT c_custkey FROM customer
                          WHERE c_acctbal > 9000)""",
   "left_semi with a broadcast Bloom pre-filter on the fact side — the "
   "oracle IS the plain semi-join because the exact join after the gate "
   "kills every false positive; the bloom only changes WHERE rows die "
   "(map-side, pre-shuffle). The regime: a computed medium-cardinality "
   "key set that is too big to broadcast outright and invisible to "
   "AQE's runtime bloom; the mask (m_bits/8 bytes) rides a 1-row "
   "broadcast and the gate is codegen bit arithmetic, so shuffle volume "
   "drops to |matches| + FP x |facts|. Same word-fold machinery as the "
   "decontamination bloom")
def bloom_semi_join_orders(spark, sf_dir):
    from .operators.skew import bloom_semi_join
    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus")
    rich = (_t(spark, sf_dir, "customer")
            .where(F.col("c_acctbal") > 9000)
            .select(F.col("c_custkey").alias("o_custkey")))
    return bloom_semi_join(orders, rich, ["o_custkey"])


@q("embedding_drift_halves",
   """WITH ex AS (
        SELECT vec_id % 2 AS h, i - 1 AS d,
               CAST(CAST(embedding[i] AS DOUBLE) AS DECIMAL(20,12)) AS v
        FROM embeddings,
             unnest(generate_series(1, len(embedding))) AS t(i)),
      means AS (SELECT h, d,
                       CAST(sum(v) AS DOUBLE) / count(*) AS m
                FROM ex GROUP BY 1, 2),
      j AS (SELECT a.d, a.m AS m0, b.m AS m1
            FROM means a JOIN means b USING (d)
            WHERE a.h = 0 AND b.h = 1)
      SELECT round(sum(m0 * m1)
                   / (sqrt(sum(m0 * m0)) * sqrt(sum(m1 * m1))), 6)
               AS mean_cosine,
             round(max(abs(m0 - m1)), 6) AS max_dim_shift,
             round(sqrt(sum((m0 - m1) * (m0 - m1))), 6) AS l2_shift
      FROM j""",
   "embedding distribution drift between two corpus slices (halves by "
   "id parity standing in for week-over-week batches): cosine of the "
   "slice mean vectors + max per-dimension shift + L2 shift — the "
   "retrain/reindex trigger for the IVF/PQ family (centroids trained "
   "on last month's distribution quietly degrade recall when the "
   "corpus moves). Per-dim means ride decimal(20,12) sums (partition-"
   "order-proof); the final reduction is over |dims| rows — "
   "broadcast-class. Shuffle: one posexplode groupBy keyed (slice, "
   "dim), <= 2 x dims rows out")
def embedding_drift_halves(spark, sf_dir):
    emb = _t(spark, sf_dir, "embeddings")
    ex = emb.select((F.col("vec_id") % 2).alias("h"),
                    F.posexplode("embedding").alias("d", "v"))
    means = (ex.groupBy("h", "d")
               .agg((F.sum(F.col("v").cast("double")
                            .cast("decimal(20,12)")).cast("double")
                     / F.count("v")).alias("m")))
    m0 = means.where(F.col("h") == 0).select("d", F.col("m").alias("m0"))
    m1 = means.where(F.col("h") == 1).select("d", F.col("m").alias("m1"))
    j = m0.join(m1, "d")
    return j.agg(
        F.round(F.sum(F.col("m0") * F.col("m1"))
                / (F.sqrt(F.sum(F.col("m0") * F.col("m0")))
                   * F.sqrt(F.sum(F.col("m1") * F.col("m1")))), 6)
         .alias("mean_cosine"),
        F.round(F.max(F.abs(F.col("m0") - F.col("m1"))), 6)
         .alias("max_dim_shift"),
        F.round(F.sqrt(F.sum((F.col("m0") - F.col("m1"))
                             * (F.col("m0") - F.col("m1")))), 6)
         .alias("l2_shift"))


@q("ann_matryoshka_topk_embeddings",
   """WITH q AS (SELECT CAST(embedding AS DOUBLE[])[1:16] AS v
                 FROM embeddings WHERE vec_id = 0)
      SELECT vec_id,
             round(list_cosine_similarity(
                 CAST(embedding AS DOUBLE[])[1:16],
                 (SELECT v FROM q)), 6) AS cos_sim
      FROM embeddings WHERE vec_id <> 0
      ORDER BY cos_sim DESC, vec_id LIMIT 10""",
   "Matryoshka truncation retrieval (Kusupati '22): exact top-10 over "
   "the leading 16 of 64 dims — the storage/compute rung modern "
   "MRL-trained embedding models ship (prefix retains most quality at "
   "a fraction of the cost; cosine is scale-invariant so no renorm). "
   "Per-row slice, zero shuffle, TakeOrderedAndProject top-k; compose "
   "with IVF/PQ for a truncate->bucket->rerank ladder")
def ann_matryoshka_topk_embeddings(spark, sf_dir):
    from .operators.similarity import cosine_topk, matryoshka_truncate
    emb = _t(spark, sf_dir, "embeddings")
    tr = matryoshka_truncate(emb, 16)
    qv = [float(x) for x in
          tr.where(F.col("vec_id") == 0).head()["embedding"]]
    return cosine_topk(tr.where(F.col("vec_id") != 0), qv, k=10)


@q("value_histogram_events",
   """WITH b AS (SELECT min(value) AS lo, max(value) AS hi FROM events),
      h AS (SELECT CASE WHEN value IS NULL THEN NULL
                   ELSE CAST(least(greatest(floor((value - b.lo) * 10.0
                                            / (b.hi - b.lo)), 0), 9)
                             AS INT) END AS bucket
            FROM events CROSS JOIN b)
      SELECT bucket, count(*) AS n,
             round((SELECT lo FROM b)
                   + bucket * ((SELECT hi FROM b) - (SELECT lo FROM b))
                     / 10.0, 6) AS lo
      FROM h GROUP BY bucket""",
   "equi-width histogram of a numeric column — the profiling primitive "
   "behind drift checks and UI sparklines. Bucketing is plain double "
   "arithmetic (floor((v-lo)*bins/(hi-lo)) clamped), identical in any "
   "engine — no width_bucket dependency (DuckDB lacks it); NULLs get "
   "their own row instead of vanishing. One scalar bounds agg + one "
   "partial-aggregable groupBy over <= bins keys")
def value_histogram_events(spark, sf_dir):
    from .operators.quality import numeric_histogram
    return numeric_histogram(_t(spark, sf_dir, "events"), "value",
                             bins=10)


@q("fk_orphan_audit_lineitem",
   """SELECT CAST(count(*) AS BIGINT) AS n_rows,
             CAST(count(*) FILTER (l_orderkey IS NULL) AS BIGINT)
               AS n_null_keys,
             CAST(count(*) FILTER (l_orderkey IS NOT NULL
                   AND l_orderkey NOT IN
                       (SELECT o_orderkey FROM orders
                        WHERE o_orderkey % 3 <> 0)) AS BIGINT)
               AS n_orphans,
             round(count(*) FILTER (l_orderkey IS NOT NULL
                   AND l_orderkey NOT IN
                       (SELECT o_orderkey FROM orders
                        WHERE o_orderkey % 3 <> 0)) * 1.0
                   / count(*), 6) AS orphan_rate
      FROM lineitem""",
   "referential-integrity probe: fact rows pointing at a missing "
   "dimension key, counted separately from NULL keys (anti-join "
   "semantics would silently lump them). The dimension here is orders "
   "with a third of its keys withheld — the partially-synced-dimension "
   "scenario this audit exists to catch before a join silently drops "
   "rows. One left_anti + scalar counts")
def fk_orphan_audit_lineitem(spark, sf_dir):
    from .operators.quality import fk_orphan_audit
    li = _t(spark, sf_dir, "lineitem")
    dim = (_t(spark, sf_dir, "orders")
           .where(F.col("o_orderkey") % 3 != 0))
    return fk_orphan_audit(li, "l_orderkey", dim, "o_orderkey")


@q("top_event_paths_sessions",
   """WITH o AS (
        SELECT user_id, ts, event_id, event_type,
               CASE WHEN lag(ts) OVER w IS NULL
                      OR epoch(ts) - epoch(lag(ts) OVER w) > 1800
                    THEN 1 ELSE 0 END AS new_s
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      s AS (SELECT *, sum(new_s) OVER (PARTITION BY user_id
                                       ORDER BY ts, event_id
                                       ROWS UNBOUNDED PRECEDING) AS sid
            FROM o),
      p AS (SELECT user_id, sid,
                   string_agg(event_type, '>' ORDER BY ts, event_id)
                     AS path
            FROM s GROUP BY 1, 2)
      SELECT path, count(*) AS n_sessions
      FROM p GROUP BY 1
      ORDER BY n_sessions DESC, path LIMIT 20""",
   "most common per-session event paths (30-min gap sessionization, "
   "same rule as session_windows_events): the 'how do users actually "
   "move' report funnels are designed from. Per-session ordering "
   "happens INSIDE an aggregated array (sort_array over collected "
   "structs) — bounded by one session's events, no per-user-history "
   "sort exchange; paths shuffle as grouped keys with map-side "
   "partials; final top-N is a TakeOrdered over |distinct paths|")
def top_event_paths_sessions(spark, sf_dir):
    from .operators.temporal import top_session_paths
    return top_session_paths(_t(spark, sf_dir, "events"),
                             "user_id", "ts", "event_type",
                             gap_minutes=30, top_n=20,
                             tiebreak_col="event_id")


@q("snapshot_diff_orders",
   """WITH old_ AS (
        SELECT o_orderkey,
               o_orderstatus || '|'
               || CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS VARCHAR)
               || '|' || o_orderpriority AS repr
        FROM orders WHERE o_orderkey % 5 <> 0),
      new_ AS (
        SELECT o_orderkey,
               o_orderstatus || '|'
               || CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS VARCHAR)
               || '|' || CASE WHEN o_orderkey % 11 = 0 THEN 'X-UPDATED'
                              ELSE o_orderpriority END AS repr
        FROM orders WHERE o_orderkey % 7 <> 0)
      SELECT o_orderkey,
             CASE WHEN o.repr IS NULL THEN 'I'
                  WHEN n.repr IS NULL THEN 'D'
                  WHEN o.repr <> n.repr THEN 'U' END AS op
      FROM old_ o FULL OUTER JOIN new_ n USING (o_orderkey)
      WHERE o.repr IS NULL OR n.repr IS NULL OR o.repr <> n.repr""",
   "snapshot-based CDC: I/U/D change rows derived from two full "
   "snapshots — the extraction strategy of last resort when the source "
   "has NO usable cursor, which the reference can only handle by "
   "full_sync-replacing the target every run. One co-partitionable "
   "full-outer join on the key + a portable content-hash comparison; "
   "unchanged rows (the overwhelming majority between consecutive "
   "snapshots) drop out, so downstream merge work scales with CHANGE "
   "volume. The oracle compares canonical row strings — equal to the "
   "hash comparison up to md5 odds. Feeds streaming_agg_maintenance / "
   "load_jdbc_upsert directly via the 'op' column")
def snapshot_diff_orders(spark, sf_dir):
    from .operators.cdc import snapshot_diff
    orders = (_t(spark, sf_dir, "orders")
              .withColumn("o_totalprice",
                          F.col("o_totalprice").cast("decimal(18,2)")))
    key = F.col("o_orderkey")
    old = orders.where(key % 5 != 0)
    new = (orders.where(key % 7 != 0)
                 .withColumn("o_orderpriority",
                             F.when(key % 11 == 0, F.lit("X-UPDATED"))
                              .otherwise(F.col("o_orderpriority"))))
    out = snapshot_diff(old, new, ["o_orderkey"],
                        compare_cols=["o_orderstatus", "o_totalprice",
                                      "o_orderpriority"])
    return out.select("o_orderkey", "op")


@q("cohort_retention_weekly_events",
   """WITH first AS (
        SELECT user_id, date_trunc('week', min(ts)) AS cohort
        FROM events GROUP BY 1),
      active AS (SELECT DISTINCT user_id, date_trunc('week', ts) AS wk
                 FROM events),
      j AS (SELECT f.cohort,
                   CAST((epoch(a.wk) - epoch(f.cohort)) / 604800 AS INT)
                     AS offset_w,
                   a.user_id
            FROM active a JOIN first f USING (user_id)),
      cells AS (SELECT cohort, offset_w,
                       count(DISTINCT user_id) AS active_users
                FROM j GROUP BY 1, 2),
      size_ AS (SELECT cohort, count(*) AS cohort_n FROM first GROUP BY 1)
      SELECT c.cohort, c.offset_w, c.active_users, s.cohort_n,
             round(c.active_users * 1.0 / s.cohort_n, 6) AS retention
      FROM cells c JOIN size_ s USING (cohort)""",
   "weekly cohort retention triangle: users grouped by first-seen week, "
   "cell (cohort, offset) = share active that many weeks later — the "
   "standard product-analytics report. Every stage partial-aggregates "
   "on user/cohort keys; week offsets are epoch arithmetic on "
   "week-truncated naive-UTC timestamps (exact 604800-second "
   "multiples), not calendar boundary counting, so both engines agree "
   "on every cell")
def cohort_retention_events(spark, sf_dir):
    from .operators.temporal import cohort_retention
    return cohort_retention(_t(spark, sf_dir, "events"), "user_id", "ts")


@q("robust_outliers_events",
   """WITH med AS (SELECT event_type, quantile_cont(value, 0.5) AS m
                   FROM events GROUP BY 1),
      dev AS (SELECT e.event_type, abs(e.value - med.m) AS d, med.m
              FROM events e JOIN med USING (event_type)),
      mad AS (SELECT event_type, max(m) AS med,
                     quantile_cont(d, 0.5) AS mad, count(*) AS n
              FROM dev GROUP BY 1),
      flag AS (SELECT dev.event_type, count(*) AS n_outliers
               FROM dev JOIN mad USING (event_type)
               WHERE dev.d > 3.0 * 1.4826 * mad.mad GROUP BY 1)
      SELECT m.event_type, round(m.med, 6) AS med, round(m.mad, 6) AS mad,
             m.n, coalesce(f.n_outliers, 0) AS n_outliers,
             round(coalesce(f.n_outliers, 0) * 1.0 / m.n, 6) AS outlier_rate
      FROM mad m LEFT JOIN flag f USING (event_type)""",
   "median/MAD robust outlier screen per group: mean/stddev gates (the "
   "reference's validation thresholds, src/utils/validation.py) move "
   "with the outliers they hunt; the median pair does not. Exact type-7 "
   "percentiles in two co-partitioned grouped passes; at 100 TB swap "
   "percentile -> approx_percentile (same plan shape, mergeable state) — "
   "this pins the exact twin the approximation is judged against")
def robust_outliers_events(spark, sf_dir):
    from .operators.quality import robust_outlier_stats
    ev = _t(spark, sf_dir, "events")
    return robust_outlier_stats(ev, "event_type", "value")


@q("curriculum_interleave_documents",
   """WITH ranked AS (
        SELECT doc_id, source,
               row_number() OVER (PARTITION BY source
                                  ORDER BY n_chars, doc_id) AS src_rank
        FROM documents)
      SELECT doc_id, source, src_rank,
             row_number() OVER (ORDER BY src_rank, source, doc_id) AS pos
      FROM ranked""",
   "interleaved curriculum epoch order: rank by difficulty (n_chars) "
   "within each source, then round-robin sources so no domain dominates "
   "any training window. The oracle's two windows are the SEMANTICS; the "
   "Spark side uses neither (a per-source window serializes a hot "
   "source, the global one serializes everything): within-group rank = "
   "distributed global rank minus a broadcast per-group base offset, "
   "interleave = a second distributed rank — two range exchanges total, "
   "the same machinery as stable_global_ids/epoch_shuffle")
def curriculum_interleave_documents(spark, sf_dir):
    from .operators.sampling import curriculum_interleave
    docs = _t(spark, sf_dir, "documents").select("doc_id", "source",
                                                 "n_chars")
    out = curriculum_interleave(docs, "source", ["n_chars", "doc_id"])
    return out.select("doc_id", "source", "src_rank", "pos")


@q("checksum_audit_orders",
   """WITH t AS (
        SELECT CAST(month(o_orderdate) AS INT) AS part_month,
               CAST('0x' || substr(md5(concat_ws('|',
                   CAST(o_orderkey AS VARCHAR), CAST(o_custkey AS VARCHAR),
                   o_orderstatus,
                   CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS VARCHAR),
                   CAST(o_orderdate AS VARCHAR), o_orderpriority)),
                   1, 15) AS BIGINT) AS h
        FROM orders)
      SELECT part_month, count(*) AS n_rows, bit_xor(h) AS content_xor
      FROM t GROUP BY 1""",
   "order-independent per-partition CONTENT fingerprint: count + bit_xor "
   "of a portable row hash. The reference verifies loads by row count "
   "alone (validation.py) — counts match even when values were mangled "
   "in transit; equal (count, xor) pairs mean equal row multisets up to "
   "md5 odds, comparable across engines and across sync sides. XOR is "
   "commutative/associative ⇒ shuffle- and partition-order-independent, "
   "fully partial-aggregable: one scan, |partitions|-row output. The "
   "money column rides a decimal cast so both engines print the "
   "identical canonical string")
def checksum_audit_orders(spark, sf_dir):
    from .operators.quality import checksum_audit
    orders = (_t(spark, sf_dir, "orders")
              .withColumn("o_totalprice",
                          F.col("o_totalprice").cast("decimal(18,2)"))
              .withColumn("part_month",
                          F.month("o_orderdate").cast("int")))
    return checksum_audit(
        orders, ["part_month"],
        cols=["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
              "o_orderdate", "o_orderpriority"])


@q("skew_report_orders",
   """WITH c AS (SELECT o_custkey, count(*) AS c FROM orders GROUP BY 1)
      SELECT CAST(sum(c) AS BIGINT) AS n_rows,
             count(*) AS n_keys,
             max(c) AS max_key_rows,
             round(max(c) * 1.0 / sum(c), 6) AS max_key_share,
             round(sum(c) * 1.0 / count(*), 6) AS avg_rows_per_key
      FROM c""",
   "join-key skew diagnostic: the numbers that decide between a plain "
   "shuffle join, AQE's skew split, and operators/skew.py salting. "
   "groupBy(key).count() is partial-aggregable (shuffle carries one row "
   "per DISTINCT key, not per row) and the report is a scalar agg over "
   "the counts — a planning probe you can afford to run on 100 TB "
   "before committing to a join strategy")
def skew_report_orders(spark, sf_dir):
    from .operators.skew import skew_report
    return skew_report(_t(spark, sf_dir, "orders"), "o_custkey")


@q("kmv_union_sources",
   """WITH hashes AS (
        SELECT DISTINCT CAST('0x' || substr(md5(text), 1, 15) AS BIGINT)
               AS kmv_hash
        FROM documents),
      ranked AS (SELECT kmv_hash,
                        row_number() OVER (ORDER BY kmv_hash) AS r
                 FROM hashes),
      sk AS (SELECT kmv_hash FROM ranked WHERE r <= 16)
      SELECT count(*) AS kmv_size, max(kmv_hash) AS kth_hash,
             round(CASE WHEN count(*) < 16
                        THEN CAST(count(*) AS DOUBLE)
                        ELSE 15.0 / (CAST(max(kmv_hash) AS DOUBLE)
                                     / 1152921504606846976.0)
                   END, 6) AS kmv_est
      FROM sk""",
   "KMV set-union closure IN the gate: the Spark side merges the "
   "PER-SOURCE sketches (kmv_merge: union, dedup, keep k smallest) and "
   "the oracle computes the GLOBAL sketch directly — they must agree "
   "because a globally-k-smallest hash is k-smallest within its own "
   "source, so the global sketch is always contained in the union of "
   "per-source sketches (same per-source k). This is the property that "
   "lets per-shard sketches answer corpus-wide distinct counts without "
   "any rescan")
def kmv_union_sources(spark, sf_dir):
    from .operators.sketches import kmv_estimate, kmv_merge, kmv_sketch
    docs = _t(spark, sf_dir, "documents")
    per_src = (kmv_sketch(docs, ["source"], "text", k=16)
               .withColumn("__g", F.lit(1)))
    merged = kmv_merge(16, ["__g"], per_src)
    return kmv_estimate(merged, ["__g"], k=16).drop("__g")


@q("ndcg_retrieval_embeddings",
   """WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS v, label
                 FROM embeddings WHERE vec_id = 0),
      cand AS (SELECT vec_id, label,
                      round(list_cosine_similarity(
                          CAST(embedding AS DOUBLE[]),
                          (SELECT v FROM q)), 6) AS cos_sim
               FROM embeddings WHERE vec_id <> 0),
      top AS (SELECT vec_id, label, cos_sim,
                     row_number() OVER (ORDER BY cos_sim DESC, vec_id)
                       AS rank
              FROM (SELECT * FROM cand
                    ORDER BY cos_sim DESC, vec_id LIMIT 20)),
      rel AS (SELECT rank,
                     CASE WHEN label = (SELECT label FROM q)
                          THEN 1 ELSE 0 END AS r
              FROM top),
      rcount AS (SELECT count(*) AS rr FROM cand
                 WHERE label = (SELECT label FROM q)),
      idcg AS (SELECT CASE WHEN (SELECT least(rr, 10) FROM rcount) >= 1
                    THEN (SELECT sum(1.0 / log2(i + 1))
                          FROM generate_series(1, 10) t(i)
                          WHERE i <= (SELECT least(rr, 10) FROM rcount))
                    ELSE 0.0 END AS v),
      m AS (SELECT coalesce(sum(CASE WHEN rank <= 10
                                     THEN r / log2(rank + 1) END),
                            0.0) AS dcg,
                   min(CASE WHEN r = 1 THEN rank END) AS frank,
                   coalesce(sum(CASE WHEN rank <= 10 THEN r END),
                            0.0) AS hits
            FROM rel)
      SELECT round(CASE WHEN (SELECT v FROM idcg) > 0
                        THEN m.dcg / (SELECT v FROM idcg)
                        ELSE 0.0 END, 6) AS ndcg_at_10,
             round(coalesce(1.0 / m.frank, 0.0), 6) AS mrr,
             round(m.hits / 10.0, 6) AS precision_at_10
      FROM m""",
   "ranking-quality metrics for the retrieval stack: exact-cosine top-20 "
   "for the query vector, relevance = shared class label, then NDCG@10 "
   "(normalized by the ideal DCG of the corpus-wide relevant count "
   "capped at k — the standard definition), MRR, precision@10. The "
   "cluster does the ranking (TakeOrderedAndProject) and one relevant "
   "count; the metric aggregate runs over the 20-row list. This is the "
   "eval harness you point at ann_lsh/ivf/pq variants to buy their "
   "speed with a measured, not guessed, quality budget")
def ndcg_retrieval_embeddings(spark, sf_dir):
    from pyspark.sql import Window
    from .operators.retrieval import ranking_metrics
    from .operators.similarity import cosine
    emb = _t(spark, sf_dir, "embeddings")
    q0 = emb.where(F.col("vec_id") == 0).select("embedding", "label").head()
    qv, ql = [float(x) for x in q0["embedding"]], q0["label"]
    cand = emb.where(F.col("vec_id") != 0)
    sim = F.round(cosine(F.col("embedding"),
                         F.array(*[F.lit(v) for v in qv])), 6)
    top = (cand.select("vec_id", "label", sim.alias("cos_sim"))
               .orderBy(F.desc("cos_sim"), "vec_id").limit(20))
    # rank window over the 20-row post-limit relation: bounded by design
    ranked = (top.withColumn("rank", F.row_number().over(
                    Window.orderBy(F.desc("cos_sim"), "vec_id")))
                 .withColumn("rel", F.when(F.col("label") == ql, 1)
                                     .otherwise(0)))
    n_rel = cand.where(F.col("label") == ql).count()
    return ranking_metrics(ranked, "rel", "rank", k=10, n_relevant=n_rel)


@q("image_ahash_documents",
   """WITH b AS (SELECT doc_id AS media_id, encode(text) AS blob
                 FROM documents),
      bytes AS (SELECT media_id, octet_length(blob) AS n,
                       unnest(generate_series(1, octet_length(blob))) AS i,
                       unnest(list_transform(
                           generate_series(1, octet_length(blob)),
                           j -> ('0x' || substr(hex(blob),
                                 (j-1)*2+1, 2))::INT)) AS v
                FROM b),
      cells AS (SELECT media_id, ((i - 1) * 60) // n AS cell, v
                FROM bytes),
      cm AS (SELECT media_id, cell, sum(v) * 1.0 / count(*) AS m
             FROM cells GROUP BY 1, 2),
      thr AS (SELECT media_id, sum(v) * 1.0 / count(*) AS t
              FROM bytes GROUP BY 1),
      h AS (SELECT cm.media_id,
                   CAST(sum(CASE WHEN cm.m > thr.t
                                 THEN 1::BIGINT << cm.cell
                                 ELSE 0 END) AS BIGINT) AS ahash
            FROM cm JOIN thr USING (media_id) GROUP BY 1)
      SELECT b.media_id, CAST(octet_length(b.blob) AS BIGINT) AS n_bytes,
             h.ahash
      FROM b JOIN h USING (media_id)""",
   "average-hash perceptual fingerprint: 60 block means over the gray "
   "sequence, bit c = block mean > global mean — the dedup signal that "
   "survives re-encoding/retouching where byte-exact digests break. "
   "Arrow-batched mapInPandas (bytes never on the driver; NULL sentinel "
   "on corrupt payloads); block means and threshold are exact in "
   "float64 (integer sums < 2^53) so the oracle reproduces every bit "
   "from hex-expanded bytes. On decoded formats the same kernel hashes "
   "codec luma (BMP/PNG paths unit-tested); ahash_hamming_pairs then "
   "finds near-dups via the pigeonhole band join — Hamming-LSH, the "
   "bit-level twin of the MinHash band join")
def image_ahash_documents(spark, sf_dir):
    from .operators.multimodal import ahash_media, attach_media
    media = attach_media(_t(spark, sf_dir, "documents"), "text", "doc_id",
                         media_type="image", fmt="raw")
    return ahash_media(media)


@q("video_metadata_documents",
   """SELECT doc_id AS media_id,
             'isom' AS brand,
             'avc1' AS video_codec,
             CASE WHEN doc_id % 2 = 1 THEN 'mp4a' ELSE NULL END
                 AS audio_codec,
             CAST(CASE WHEN doc_id % 2 = 1 THEN 2 ELSE 1 END AS INT)
                 AS n_tracks,
             CAST(16 * (1 + doc_id % 8) AS INT) AS width,
             CAST(16 * (1 + doc_id % 5) AS INT) AS height,
             CAST(8 + doc_id % 24 AS BIGINT) AS n_samples,
             CAST((8 + doc_id % 24 + 3) // 4 AS BIGINT) AS n_keyframes,
             CAST((8 + doc_id % 24) * 100 * 1000 // 600 AS BIGINT)
                 AS duration_ms,
             CAST((100 + doc_id % 50) * 4 *
                  ((((8 + doc_id % 24 + 3) // 4)
                    * (((8 + doc_id % 24 + 3) // 4) - 1)) // 2)
                  AS BIGINT) AS sum_kf_rel
      FROM documents""",
   "REAL mp4/ISO-BMFF metadata extraction, no ffmpeg and no stub: walk "
   "the box tree with the from-scratch bounded parser (operators/mp4.py "
   "— ISO/IEC 14496-12 is a plain length-prefixed container) and emit "
   "brand, per-track codec fourcc, dimensions, duration, and keyframe "
   "BYTE OFFSETS via the stss x stsc x stsz x stco join — the manifest a "
   "100 TB video-curation pipeline needs so downstream codec executors "
   "seek straight to sync samples instead of demuxing whole files. The "
   "corpus is spec-shaped fixtures written by the module's own minimal "
   "encoder, parameterized closed-form by doc_id, so the oracle "
   "recomputes every extracted field (incl. the keyframe-offset checksum "
   "sum_kf_rel = sum of offsets relative to the first sync sample) from "
   "arithmetic alone. Frame DECODE stays honestly out of scope — it "
   "needs a codec library; the byte ranges are what make that decode "
   "distributable. Arrow-batched mapInPandas end-to-end, bytes never on "
   "the driver")
def video_metadata_documents(spark, sf_dir):
    from .operators.multimodal import synth_mp4_corpus, video_metadata
    media = synth_mp4_corpus(_t(spark, sf_dir, "documents"))
    meta = video_metadata(media)
    return meta.select(
        "media_id", "brand", "video_codec", "audio_codec", "n_tracks",
        "width", "height", "n_samples", "n_keyframes", "duration_ms",
        (F.expr("aggregate(keyframe_offsets, CAST(0 AS BIGINT), "
                "(acc, x) -> acc + x)")
         - F.expr("size(keyframe_offsets)")
         * F.expr("keyframe_offsets[0]")).cast("long").alias("sum_kf_rel"))


@q("keyframe_slices_documents",
   """SELECT doc_id AS media_id,
             CAST(1 + 4 * i AS INT) AS sample_no,
             CAST(4 * i * (100 + doc_id % 50) AS BIGINT) AS rel_offset,
             CAST(100 + doc_id % 50 AS BIGINT) AS frame_len,
             CAST((4 * i * 37 + 11) % 256 AS INT) AS first_byte
      FROM documents,
           unnest(generate_series(0, ((8 + doc_id % 24 + 3) // 4) - 1))
           AS t(i)""",
   "REAL keyframe extraction from mp4 containers: resolve sync-sample "
   "byte ranges (stss x stsc x stsz x stco) and slice the exact coded "
   "access units out of mdat — one row per keyframe, exploded BEFORE "
   "any shuffle, replacing the fixed-stride sample_frames stand-in. "
   "Pixel decode still needs a codec library; the (offset, size) slices "
   "this emits are what 100 TB frame-extraction jobs hand their decoder "
   "workers so no executor demuxes a whole file. Oracle: the fixture "
   "encoder's layout is closed-form in doc_id (keyframes every 4th "
   "sample, constant sample size, deterministic filler bytes), so "
   "offsets relative to the first sync sample, slice lengths, and the "
   "first payload byte of every slice are all recomputable from "
   "arithmetic — pinning that the slices land on the true sample "
   "boundaries byte-for-byte")
def keyframe_slices_documents(spark, sf_dir):
    from pyspark.sql import Window as W
    from .operators.multimodal import sample_keyframes, synth_mp4_corpus
    media = synth_mp4_corpus(_t(spark, sf_dir, "documents"))
    kf = sample_keyframes(media, max_frames=8)
    w = W.partitionBy("media_id")
    return (kf.withColumn("rel_offset",
                          (F.col("byte_offset")
                           - F.min("byte_offset").over(w)).cast("bigint"))
              .select(
                  "media_id", "sample_no", "rel_offset",
                  F.octet_length("frame_bytes").cast("bigint")
                   .alias("frame_len"),
                  F.conv(F.hex(F.expr("substring(frame_bytes, 1, 1)")),
                         16, 10).cast("int").alias("first_byte")))


@q("change_log_apply_orders",
   """WITH base AS (SELECT o_orderkey, o_orderstatus, o_orderpriority
                    FROM orders)
      SELECT o_orderkey, o_orderstatus,
             CASE WHEN o_orderkey % 11 = 0 THEN 'P-SECOND'
                  WHEN o_orderkey % 7 = 0 THEN 'P-FIRST'
                  ELSE o_orderpriority END AS o_orderpriority
      FROM base WHERE o_orderkey % 5 <> 0
      UNION ALL
      SELECT o_orderkey + 10000000 AS o_orderkey, o_orderstatus,
             'P-NEW' AS o_orderpriority
      FROM base WHERE o_orderkey % 13 = 0""",
   "log-based CDC (the Debezium/binlog shape): compact a row-image "
   "change log (op c/u/d + monotone sequence + full row image) to the "
   "latest entry per key with ONE partial-aggregable max(struct(seq, "
   "image)) groupBy — deliberately not a row_number window, whose "
   "per-key partitions skew on hot keys — then merge onto the base "
   "(null-safe anti-join + union, apply_diff's budget). The THIRD "
   "extraction strategy next to the reference's query-based scans and "
   "round-7's snapshot-diff: needs no cursor column and no snapshots, "
   "just the transaction log; idempotent under at-least-once delivery "
   "(replay is a no-op, unit-pinned). Fixture log: updates at seq 1/2 "
   "(priority rewrites on %7/%11 keys — overlapping keys pin "
   "last-wins), deletes at seq 3 (%5 keys — delete beats both "
   "updates), inserts of shifted new keys (%13); the oracle recomputes "
   "the final state closed-form")
def change_log_apply_orders(spark, sf_dir):
    from .operators.cdc import apply_change_log
    base = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_orderpriority")
    key = F.col("o_orderkey")

    def entry(pred, op, seq, key_expr=None, prio=None):
        d = base.where(pred)
        if key_expr is not None:
            d = d.withColumn("o_orderkey", key_expr)
        if prio is not None:
            d = d.withColumn("o_orderpriority", F.lit(prio))
        return d.withColumn("op", F.lit(op)).withColumn("seq",
                                                        F.lit(seq))

    log = (entry(key % 7 == 0, "u", 1, prio="P-FIRST")
           .unionByName(entry(key % 11 == 0, "u", 2, prio="P-SECOND"))
           .unionByName(entry(key % 5 == 0, "d", 3))
           .unionByName(entry(key % 13 == 0, "c", 1,
                              key_expr=key + 10_000_000, prio="P-NEW")))
    return apply_change_log(base, log, ["o_orderkey"], "seq")


@q("dow_seasonality_events",
   """WITH per AS (SELECT event_type, CAST(isodow(ts) AS INT) AS isodow,
                          count(value) AS n,
                          CAST(sum(CAST(value AS DECIMAL(28,10)))
                               AS DOUBLE) AS s
                   FROM events GROUP BY 1, 2),
      tot AS (SELECT event_type, count(value) AS tn,
                     CAST(sum(CAST(value AS DECIMAL(28,10)))
                          AS DOUBLE) AS ts_
              FROM events GROUP BY 1)
      SELECT p.event_type, p.isodow, p.n,
             round(p.s / p.n, 6) AS avg_value,
             round((p.s / p.n) / (t.ts_ / t.tn), 6) AS dow_ratio
      FROM per p JOIN tot t USING (event_type)""",
   "day-of-week seasonality profile per event type: mean value by ISO "
   "weekday plus its ratio to the type's overall mean — the reporting "
   "primitive behind staffing/capacity curves and the drift checks that "
   "compare this week's profile to the stored one (pair with "
   "incremental_agg to maintain it without rescans). Two partial-"
   "aggregable groupBys + a |types|-row broadcast join; sums ride "
   "decimal(28,10) so the 6dp ratios are partition-order-proof")
def dow_seasonality_events(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    dsum = F.sum(F.col("value").cast("decimal(28,10)")).cast("double")
    per = (ev.groupBy("event_type",
                      (F.weekday("ts") + 1).cast("int").alias("isodow"))
             .agg(F.count("value").alias("n"), dsum.alias("s")))
    tot = (ev.groupBy("event_type")
             .agg(F.count("value").alias("tn"), dsum.alias("ts_")))
    j = per.join(F.broadcast(tot), "event_type")
    return j.select(
        "event_type", "isodow", "n",
        F.round(F.col("s") / F.col("n"), 6).alias("avg_value"),
        F.round((F.col("s") / F.col("n"))
                / (F.col("ts_") / F.col("tn")), 6).alias("dow_ratio"))


# ==========================================================================
# Round 9: oracle coverage for the two formerly pytest-only components
# (VERDICT r8 "Next round" #6): BPE encoding and the bucketed co-located
# join.
# ==========================================================================

#: Fixed literal BPE merge list for the registry entry. Topologically
#: valid (every multi-symbol half is produced by an EARLIER merge, so
#: greedy min-rank encoding == applying merges sequentially in rank
#: order) and free of self-pairs (a != b for every merge, so the
#: oracle's left-to-right replace() passes align exactly with textbook
#: non-overlapping merging; see _bpe_oracle_sql).
_BPE_MERGES = [("e", "</w>"), ("t", "h"), ("th", "e</w>"), ("s", "</w>"),
               ("d", "</w>"), ("a", "n"), ("an", "d</w>"), ("i", "n"),
               ("o", "n"), ("e", "r"), ("t", "</w>"), ("a", "t</w>")]


def _bpe_oracle_sql(merges) -> str:
    """DuckDB SQL that BPE-encodes every document with the fixed merge
    list and returns (doc_id, n_words, n_tokens) — the same contract as
    operators.bpe.apply_bpe.

    Encoding in pure SQL: each word becomes a chr(31)-delimited symbol
    string ('\\x1ft\\x1fh\\x1fe\\x1f</w>\\x1f'); each merge (a, b) is a
    string replace of '\\x1fa\\x1fb\\x1f' with '\\x1fab\\x1f', applied 3
    times. Because no merge has a == b, a needle can never overlap
    itself, so every replace() match is a TRUE pair occurrence; the only
    misses are occurrences directly following a match (their leading
    delimiter was consumed), which are never adjacent to each other, so
    a second pass catches them all (third pass = slack). Fixpoint ==
    textbook left-to-right non-overlapping merging == the greedy
    min-rank encoder in operators/bpe.py (fuzz-verified on 3000 random
    words). Token count = delimiter count - 1."""
    return f"""WITH {_bpe_per_doc_ctes(merges)}
      SELECT d.doc_id, coalesce(t.n_words, 0) AS n_words,
             coalesce(t.n_tokens, 0) AS n_tokens
      FROM documents d LEFT JOIN t USING (doc_id)"""


def _bpe_per_doc_ctes(merges) -> str:
    """The shared per-document CTE chain (w: exploded words, t: per-doc
    word/token counts) behind both BPE oracles; see
    :func:`_bpe_oracle_sql` for the fixpoint correctness argument."""
    expr = (r"chr(31) || regexp_replace(word, '(.)', '\1' || chr(31), 'g')"
            r" || '</w>' || chr(31)")
    for a, b in merges:
        needle = f"chr(31) || '{a}' || chr(31) || '{b}' || chr(31)"
        repl = f"chr(31) || '{a}{b}' || chr(31)"
        for _ in range(3):
            expr = f"replace({expr}, {needle}, {repl})"
    ntok = f"(length({expr}) - length(replace({expr}, chr(31), ''))) - 1"
    return f"""w AS (
        SELECT doc_id,
               unnest(list_filter(string_split_regex(lower(text), '\\s+'),
                                  x -> x <> '')) AS word
        FROM documents),
      t AS (SELECT doc_id, count(*) AS n_words,
                   CAST(sum({ntok}) AS BIGINT) AS n_tokens
            FROM w GROUP BY doc_id)"""


@q("bpe_encode_documents",
   _bpe_oracle_sql(_BPE_MERGES),
   "BPE encoding with a fixed ranked merge table: per-document word and "
   "token counts via the Arrow-batched greedy min-rank encoder "
   "(operators/bpe.apply_bpe, merge table broadcast in the closure, "
   "per-partition word cache). The merge list is a topologically-valid "
   "literal so the oracle can replay it as sequential delimiter-aligned "
   "string replaces — the distributed TRAINER's exactness is separately "
   "pinned against a single-node textbook reference in test_bpe.py. "
   "Linear in corpus bytes, zero shuffles: the 100 TB path for "
   "train-budget token accounting")
def bpe_encode_documents(spark, sf_dir):
    from .operators.bpe import apply_bpe
    return apply_bpe(_t(spark, sf_dir, "documents"), _BPE_MERGES)


@q("bpe_fertility_by_source",
   f"""WITH {_bpe_per_doc_ctes(_BPE_MERGES)},
      p AS (SELECT d.source, d.n_chars,
                   coalesce(t.n_words, 0) AS n_words,
                   coalesce(t.n_tokens, 0) AS n_tokens
            FROM documents d LEFT JOIN t USING (doc_id))
      SELECT source, count(*) AS n_docs,
             CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
             round(CAST(sum(n_tokens) AS DOUBLE)
                   / NULLIF(sum(n_words), 0), 6) AS fertility,
             round(CAST(sum(n_chars) AS DOUBLE)
                   / NULLIF(sum(n_tokens), 0), 6) AS chars_per_token
      FROM p GROUP BY source""",
   "tokenizer-fit diagnostic by source: fertility (tokens per word) and "
   "compression (chars per token) under the fixed BPE merge table — the "
   "standard check that a tokenizer serves every source/language in a "
   "training mix before committing a token budget (a source with "
   "outlier fertility is under-served and its effective epoch count "
   "silently shrinks). Same Arrow-batched encoder as "
   "bpe_encode_documents + one partial-aggregable groupBy on source; "
   "linear in corpus bytes, one k-row shuffle — 100 TB-safe")
def bpe_fertility_by_source(spark, sf_dir):
    from .operators.bpe import apply_bpe
    docs = _t(spark, sf_dir, "documents")
    enc = apply_bpe(docs, _BPE_MERGES)
    j = enc.join(docs.select("doc_id", "source", "n_chars"), "doc_id")
    return (j.groupBy("source")
             .agg(F.count(F.lit(1)).alias("n_docs"),
                  F.sum("n_tokens").alias("total_tokens"),
                  F.round(F.sum("n_tokens").cast("double")
                          / F.expr("nullif(sum(n_words), 0)"), 6)
                   .alias("fertility"),
                  F.round(F.sum("n_chars").cast("double")
                          / F.expr("nullif(sum(n_tokens), 0)"), 6)
                   .alias("chars_per_token")))


@q("bucketed_join_orders_lineitem",
   """SELECT o_orderpriority, count(*) AS n_items,
             CAST(sum(CAST(l_extendedprice * (1 - l_discount)
                           AS DECIMAL(18,4))) AS DOUBLE) AS revenue
      FROM orders JOIN lineitem ON l_orderkey = o_orderkey
      GROUP BY o_orderpriority""",
   "co-located fact-fact join off BUCKETED layout (plans/bucketing): "
   "both sides written bucketBy(8, key) sorted-within-buckets, so the "
   "sort-merge join compiles with ZERO shuffle exchanges — each task "
   "merges bucket i of orders against bucket i of lineitem straight "
   "off the scans (zero-exchange plan pinned in test_bucketing.py; "
   "this entry pins the VALUES against the plain-join oracle). At "
   "100 TB this deletes both large exchanges from every recurring "
   "orders x lineitem run at the cost of one bucketed write")
def bucketed_join_orders_lineitem(spark, sf_dir):
    from .plans.bucketing import bucketed_join, write_bucketed
    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority")
    li = (_t(spark, sf_dir, "lineitem")
          .select(F.col("l_orderkey").alias("o_orderkey"),
                  "l_extendedprice", "l_discount"))
    write_bucketed(orders, "pbj_orders", "o_orderkey", 8,
                   sort_cols="o_orderkey")
    write_bucketed(li, "pbj_lineitem", "o_orderkey", 8,
                   sort_cols="o_orderkey")
    j = bucketed_join(spark, "pbj_orders", "pbj_lineitem", "o_orderkey")
    rev = (F.col("l_extendedprice")
           * (1 - F.col("l_discount"))).cast("decimal(18,4)")
    return (j.groupBy("o_orderpriority")
             .agg(F.count(F.lit(1)).alias("n_items"),
                  F.sum(rev).cast("double").alias("revenue")))


@q("pca_covariance_embeddings",
   """WITH x AS (SELECT vec_id, i, embedding[i]::DOUBLE AS v
               FROM embeddings
               CROSS JOIN (SELECT unnest(generate_series(1, 8)) AS i) s)
      SELECT a.i - 1 AS i, b.i - 1 AS j,
             round(covar_samp(a.v, b.v), 6) AS cov
      FROM x a JOIN x b USING (vec_id)
      WHERE a.i <= b.i GROUP BY 1, 2""",
   "distributed covariance of the embedding column (the PCA/whitening "
   "sufficient-statistics pass, operators/decomposition.py): one "
   "Arrow-batched mapInPandas kernel emits a (n, sum, gram) partial "
   "PER BATCH via BLAS X.T@X, reduced by posexplode+groupBy(pos) — "
   "the shuffle is batches x (1+dim+dim^2) scalar rows, never O(rows) "
   "— and the dim^2 reduced moments come to the driver (same allowed "
   "class as k-means centroids). This entry pins the upper-left 8x8 "
   "block against the exact covar_samp oracle; pca_fit/project/whiten "
   "on top of it are eigen-invariant-tested in test_decomposition.py. "
   "At 100 TB the stats pass is one linear scan with <7%% partial-row "
   "overhead at dim=1024")
def pca_covariance_embeddings(spark, sf_dir):
    from .operators.decomposition import covariance_stats
    emb = _t(spark, sf_dir, "embeddings")
    _, _, cov = covariance_stats(emb, "embedding")
    rows = [(i, j, cov[i][j]) for i in range(8) for j in range(i, 8)]
    return (spark.createDataFrame(rows, "i int, j int, cov double")
            .select("i", "j", F.round("cov", 6).alias("cov")))


@q("cov_shift_by_label_embeddings",
   """WITH x AS (SELECT vec_id, label, i, embedding[i]::DOUBLE AS v
               FROM embeddings
               CROSS JOIN (SELECT unnest(generate_series(1, 8)) AS i) s),
      p AS (SELECT a.label, a.i AS i, b.i AS j, covar_samp(a.v, b.v) AS c
            FROM x a JOIN x b USING (vec_id) GROUP BY 1, 2, 3),
      g AS (SELECT a.i AS i, b.i AS j, covar_samp(a.v, b.v) AS c
            FROM x a JOIN x b USING (vec_id) GROUP BY 1, 2),
      cnt AS (SELECT label, count(*) AS n FROM embeddings GROUP BY 1)
      SELECT p.label, cnt.n,
             round(sqrt(sum((p.c - g.c) * (p.c - g.c))), 6) AS fro_dist
      FROM p JOIN g USING (i, j) JOIN cnt ON cnt.label = p.label
      GROUP BY 1, 2""",
   "covariance-shift drift diagnostic: Frobenius distance between each "
   "label's covariance (8x8 leading block) and the global covariance — "
   "the second-moment analogue of drift_psi (a class whose embedding "
   "geometry diverges from the corpus flags an encoder or upstream "
   "shift that mean-based drift stats miss). One pass via "
   "decomposition.covariance_by_group: the Arrow kernel computes "
   "per-group (n, sum, gram) partials WITHIN each batch (pandas "
   "groupby + BLAS per slice — never materializes a group), the "
   "reduce shuffles only scalar partial rows, and the driver gets "
   "n_labels x dim^2 doubles. At 100 TB this is the same linear scan "
   "as the global covariance; group cardinality (10 labels) bounds "
   "the driver transfer")
def cov_shift_by_label_embeddings(spark, sf_dir):
    import math

    from .operators.decomposition import (covariance_by_group,
                                          covariance_stats)
    emb = _t(spark, sf_dir, "embeddings")
    _, _, gcov = covariance_stats(emb, "embedding")
    per = covariance_by_group(emb, "label", "embedding")
    rows = []
    for label, (n, _, cov) in sorted(per.items()):
        fro = math.sqrt(sum((cov[i][j] - gcov[i][j]) ** 2
                            for i in range(8) for j in range(8)))
        rows.append((label, n, fro))
    return (spark.createDataFrame(rows, "label int, n long, fro_dist double")
            .select("label", "n", F.round("fro_dist", 6).alias("fro_dist")))


def _jl_oracle_sql(dim: int, out_dim: int) -> str:
    """Oracle for the JL projection: the +-1 matrix is regenerated
    driver-side (same md5-parity convention as the operator) and
    embedded as LITERAL sign chains, one explicit left-to-right sum per
    output dim — the same fixed-order float-sum convention as _DOT, so
    the only cross-engine difference is the last ulp under round(6)."""
    from .operators.decomposition import jl_projection_matrix

    arms = []
    for j, row in enumerate(jl_projection_matrix(dim, out_dim)):
        terms = " + ".join(
            f"({'-' if c < 0 else ''}embedding[{i + 1}]::DOUBLE)"
            for i, c in enumerate(row))
        arms.append(f"SELECT vec_id, {j} AS dim_index, "
                    f"round(({terms}) / sqrt({float(out_dim)}), 6) "
                    f"AS value FROM embeddings")
    return " UNION ALL ".join(arms)


@q("random_projection_embeddings",
   _jl_oracle_sql(64, 16),
   "Johnson-Lindenstrauss random projection 64 -> 16 dims "
   "(Achlioptas'01 +-1 signs): the DATA-BLIND reduction — no fit pass "
   "at all, distances preserved within (1+-eps) w.h.p. — used before "
   "sketching/LSH when even one moments pass over the corpus is too "
   "much (PCA, its data-aware sibling, costs one linear scan). The "
   "sign matrix is deterministic md5-parity (portable across engines, "
   "not a PRNG stream), embedded as a literal; each output dim is one "
   "zip_with/aggregate fold — a zero-shuffle whole-stage-codegen map "
   "stage. Output as (id, dim_index, value) scalar rows for the "
   "driver hash; production keeps the pre-explode wide columns")
def random_projection_embeddings(spark, sf_dir):
    from .operators.decomposition import random_projection
    emb = _t(spark, sf_dir, "embeddings")
    return random_projection(emb, out_dim=16, dim=64)


@q("zipf_slope_by_source",
   """WITH t AS (SELECT source, unnest(string_split(text, ' ')) AS w
               FROM documents),
      f AS (SELECT source, w, count(*)::DOUBLE AS freq
            FROM t GROUP BY 1, 2),
      r AS (SELECT source, w, freq,
                   row_number() OVER (PARTITION BY source
                                      ORDER BY freq DESC, w) AS rnk
            FROM f)
      SELECT source, count(*) AS n_ranks,
             round(regr_slope(ln(freq), ln(rnk)), 6) AS zipf_slope,
             round(regr_r2(ln(freq), ln(rnk)), 6) AS r2
      FROM r WHERE rnk <= 100 GROUP BY source""",
   "Zipf rank-frequency fit per source: log-log OLS slope over the "
   "top-100 token ranks (natural text ~ -1; templated/synthetic "
   "sources flatten toward 0, so the slope is a corpus-forensics "
   "signal alongside TTR and entropy). Plan: token explode -> "
   "partial-agg'd count per (source, w) -> source-partitioned "
   "row_number (top-100 cut) -> regr_slope/regr_r2, both "
   "partial-aggregable JVM built-ins. The only per-source serial "
   "step is the rank window over the source's DISTINCT vocabulary "
   "(bounded by Heaps' law, not corpus rows)")
def zipf_slope_by_source(spark, sf_dir):
    from pyspark.sql import Window
    docs = _t(spark, sf_dir, "documents")
    freq = (docs.select("source",
                        F.explode(tx.tokens(F.col("text"))).alias("w"))
            .groupBy("source", "w")
            .agg(F.count(F.lit(1)).cast("double").alias("freq")))
    w = Window.partitionBy("source").orderBy(F.desc("freq"), F.asc("w"))
    ranked = (freq.withColumn("rnk", F.row_number().over(w))
              .filter(F.col("rnk") <= 100))
    return (ranked.groupBy("source")
            .agg(F.count(F.lit(1)).alias("n_ranks"),
                 F.round(F.regr_slope(F.log("freq"), F.log("rnk")), 6)
                  .alias("zipf_slope"),
                 F.round(F.regr_r2(F.log("freq"), F.log("rnk")), 6)
                  .alias("r2")))


@q("hard_negatives_embeddings",
   f"""WITH a AS (SELECT vec_id AS aid, embedding AS av, label AS al
                FROM embeddings WHERE vec_id < 10),
      s AS (SELECT aid, al, e.vec_id AS vid, e.label AS el,
                   round({_DOT.format(a='e.embedding', b='av')}
                         / (sqrt({_DOT.format(a='e.embedding',
                                              b='e.embedding')})
                            * sqrt({_DOT.format(a='av', b='av')})),
                         6) AS sim
            FROM embeddings e, a WHERE e.vec_id <> aid),
      r AS (SELECT *, row_number() OVER (PARTITION BY aid, (el = al)
                                         ORDER BY sim DESC, vid) AS rn
            FROM s)
      SELECT aid AS anchor_id,
             max(CASE WHEN el = al THEN vid END) AS pos_id,
             max(CASE WHEN el = al THEN sim END) AS pos_sim,
             max(CASE WHEN el <> al THEN vid END) AS neg_id,
             max(CASE WHEN el <> al THEN sim END) AS neg_sim
      FROM r WHERE rn = 1 GROUP BY aid""",
   "contrastive-pair mining for embedding-model training: per anchor, "
   "the most-similar SAME-label vector (positive) and most-similar "
   "DIFFERENT-label vector (hard negative). Plan: the k anchors come "
   "to the driver (k x dim floats — the same allowed class as k-means "
   "centroids); each anchor's cosine becomes ONE literal-dot column "
   "in a flat projection (the row's own l2_norm hoisted out of the "
   "k-loop, anchor norms folded to Python constants — 11 HOF evals "
   "per row, not 30; measured 4.9s -> 1.8s at sf1), then a cheap "
   "explode over column-ref structs fans out to (anchor, candidate) "
   "rows with NO join node (the broadcast-crossJoin formulation "
   "compiles to BroadcastNestedLoopJoin). The conditional max_by/max "
   "agg with a (sim, -vec_id) tie-break struct is partial-aggregable, "
   "so the only shuffle is k rows per partition, NOT the k x corpus "
   "candidate relation a rank-window formulation would sort. At "
   "100 TB with thousands of anchors you'd pre-cut candidates per "
   "anchor through the IVF index (similarity.ann_topk_indexed) and "
   "run the same conditional agg over the shortlist")
def hard_negatives_embeddings(spark, sf_dir):
    import math
    emb = _t(spark, sf_dir, "embeddings")
    anchors = sorted(
        (r["vec_id"], [float(v) for v in r["embedding"]], r["label"])
        for r in emb.filter(F.col("vec_id") < 10)
                    .select("vec_id", "embedding", "label").collect())
    nrm = sim.l2_norm(F.col("embedding"))
    simcols = [
        F.round(sim.dot_literal(F.col("embedding"), av)
                / (nrm * F.lit(math.sqrt(sum(v * v for v in av)))), 6)
         .alias(f"__s{i}")
        for i, (_, av, _) in enumerate(anchors)]
    base = emb.select("vec_id", "label", *simcols)
    structs = [F.struct(F.lit(aid).alias("aid"), F.lit(al).alias("al"),
                        F.col(f"__s{i}").alias("sim"))
               for i, (aid, _, al) in enumerate(anchors)]
    cand = (base.select("vec_id", "label",
                        F.explode(F.array(*structs)).alias("a"))
            .filter(F.col("vec_id") != F.col("a.aid"))
            .select(F.col("a.aid").alias("aid"),
                    F.col("a.al").alias("al"),
                    F.col("vec_id").alias("vid"),
                    F.col("label").alias("el"),
                    F.col("a.sim").alias("sim")))
    same = F.col("el") == F.col("al")
    tie = F.struct(F.col("sim"), (-F.col("vid")).alias("nv"))
    return (cand.groupBy(F.col("aid").alias("anchor_id"))
            .agg(F.max_by("vid", F.when(same, tie)).alias("pos_id"),
                 F.max(F.when(same, F.col("sim"))).alias("pos_sim"),
                 F.max_by("vid", F.when(~same, tie)).alias("neg_id"),
                 F.max(F.when(~same, F.col("sim"))).alias("neg_sim")))


_PACK32 = ("CAST(list_sum(list_transform(generate_series(0, 31), "
           "i -> CASE WHEN {v}[i + {off}] > 0 THEN (1::BIGINT << i) "
           "ELSE 0::BIGINT END)) AS BIGINT)")

_PACKED_CTE = f"""packed AS (
        SELECT vec_id,
               {_PACK32.format(v='embedding', off=1)} AS w0,
               {_PACK32.format(v='embedding', off=33)} AS w1
        FROM embeddings)"""


@q("quantize_binary_embeddings",
   f"""WITH {_PACKED_CTE}
      SELECT vec_id, w0, w1,
             CAST(bit_count(w0) + bit_count(w1) AS INTEGER) AS set_bits
      FROM packed""",
   "binary sign quantization (1 bit/coordinate, 32x scan-bandwidth cut "
   "vs float32): dim=64 packs into two 32-bit words stored as longs; "
   "per-row fold, zero shuffle; set_bits is the popcount witness. The "
   "cheapest rung of the quantization ladder under int8 (4x) and PQ")
def quantize_binary_embeddings(spark, sf_dir):
    emb = _t(spark, sf_dir, "embeddings")
    return sim.binary_quantize(emb, dim=64)


@q("ann_hamming_topk_embeddings",
   f"""WITH {_PACKED_CTE},
      q AS (SELECT w0 AS q0, w1 AS q1 FROM packed WHERE vec_id = 0)
      SELECT p.vec_id,
             CAST(bit_count(xor(p.w0, q0)) + bit_count(xor(p.w1, q1))
                  AS INTEGER) AS hamming
      FROM packed p, q ORDER BY hamming, p.vec_id LIMIT 10""",
   "Hamming-space ANN top-k over binary sign words: XOR+popcount (JVM "
   "intrinsics in codegen) on an 8-byte-per-vector scan; "
   "TakeOrderedAndProject, no sort shuffle. Hamming is a monotone "
   "angular-distance proxy (each coordinate = an axis-aligned SRP plane)")
def ann_hamming_topk_embeddings(spark, sf_dir):
    emb = _t(spark, sf_dir, "embeddings")
    qvec = [float(v) for v in
            emb.filter(F.col("vec_id") == 0).first()["embedding"]]
    return sim.ann_hamming_topk(emb, qvec, k=10, dim=64)


@q("ann_hamming_rerank_topk",
   f"""WITH {_PACKED_CTE},
      q AS (SELECT w0 AS q0, w1 AS q1 FROM packed WHERE vec_id = 0),
      shortlist AS (
        SELECT p.vec_id
        FROM packed p, q
        ORDER BY bit_count(xor(p.w0, q0)) + bit_count(xor(p.w1, q1)),
                 p.vec_id
        LIMIT 50),
      qv AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0)
      SELECT e.vec_id,
             round({_DOT.format(a='e.embedding', b='qv')}
                   / (sqrt({_DOT.format(a='e.embedding', b='e.embedding')})
                      * sqrt({_DOT.format(a='qv', b='qv')})), 6) AS cos_sim
      FROM embeddings e JOIN shortlist s USING (vec_id), qv
      WHERE sqrt({_DOT.format(a='e.embedding', b='e.embedding')}) > 0
      ORDER BY cos_sim DESC, e.vec_id LIMIT 10""",
   "two-stage binary ANN (the production shape): Hamming scan keeps a "
   "50-row shortlist, exact cosine reranks only those float rows — "
   "same shortlist->rerank economics as PQ-ADC rerank at a coarser "
   "quality/bandwidth point; the shortlist broadcast-joins back, so "
   "the float column is touched for 50 rows, not the corpus. Zero-norm "
   "candidates are filtered on BOTH sides (0/0 = NaN, which both "
   "engines order greatest — an all-zero vector would rank first)")
def ann_hamming_rerank_topk(spark, sf_dir):
    emb = _t(spark, sf_dir, "embeddings")
    qvec = [float(v) for v in
            emb.filter(F.col("vec_id") == 0).first()["embedding"]]
    return sim.ann_hamming_topk(emb, qvec, k=10, rerank=50, dim=64)


@q("kn_perplexity_documents",
   """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS s
                  FROM documents WHERE len(string_split(text, ' ')) >= 2),
      ex AS (SELECT doc_id, s,
                    unnest(generate_series(1, len(s) - 1)) AS i
             FROM toks),
      bi AS (SELECT doc_id, s[i] AS w1, s[i + 1] AS w2 FROM ex),
      train AS (SELECT w1, w2 FROM bi WHERE doc_id % 2 = 0),
      test AS (SELECT doc_id, w1, w2 FROM bi WHERE doc_id % 2 = 1),
      big AS (SELECT w1, w2, count(*) AS c12 FROM train GROUP BY 1, 2),
      ctx AS (SELECT w1, sum(c12) AS c1, count(*) AS n1f
              FROM big GROUP BY 1),
      cont AS (SELECT w2, count(*) AS n1b FROM big GROUP BY 1),
      const AS (SELECT (SELECT count(*) FROM big) AS d_types,
                       (SELECT count(DISTINCT tok) FROM
                         (SELECT unnest(s) AS tok FROM toks
                          WHERE doc_id % 2 = 0)) AS v),
      sc AS (SELECT t.doc_id,
                    CASE WHEN ctx.w1 IS NOT NULL THEN
                      greatest(CAST(coalesce(big.c12, 0) AS DOUBLE)
                               - 0.75, 0.0) / ctx.c1
                      + 0.75 * ctx.n1f / ctx.c1
                        * (coalesce(cont.n1b, 0) + 1.0)
                          / (const.d_types + const.v + 1)
                    ELSE (coalesce(cont.n1b, 0) + 1.0)
                         / (const.d_types + const.v + 1) END AS p
             FROM test t
             LEFT JOIN big ON t.w1 = big.w1 AND t.w2 = big.w2
             LEFT JOIN ctx ON t.w1 = ctx.w1
             LEFT JOIN cont ON t.w2 = cont.w2
             CROSS JOIN const)
      SELECT doc_id, count(*) AS n_bigrams,
             round(avg(ln(p)), 6) AS avg_logprob,
             round(exp(-avg(ln(p))), 4) AS perplexity
      FROM sc GROUP BY doc_id""",
   "interpolated Kneser-Ney bigram perplexity with a held-out split "
   "(the KenLM-style CCNet LM filter; bigram_logprob is the unsmoothed "
   "char self-model): trains on doc_id%2=0, scores doc_id%2=1 — "
   "memorized boilerplate can't score itself; continuation counts + "
   "add-one OOV bucket give unseen events principled mass. Model = 3 "
   "key-partitioned aggs + 2 scalar broadcasts; scoring = 3 left joins "
   "on model keys; nothing quadratic")
def kn_perplexity_documents(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return tx.kn_bigram_perplexity(docs, discount=0.75)


@q("simhash_hamming_pairs_documents",
   f"""WITH tk AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
                  FROM documents),
      h AS (SELECT doc_id, {_H.format(x="tok")} AS h FROM tk),
      v AS (SELECT doc_id, bit,
                   sum(CASE WHEN (h >> bit) & 1 = 1 THEN 1 ELSE -1 END) AS vote_sum
            FROM h CROSS JOIN (SELECT unnest(generate_series(0, 31)) AS bit) bits
            GROUP BY doc_id, bit),
      sig AS (SELECT doc_id,
                     CAST(sum(CASE WHEN vote_sum > 0
                                   THEN 1::BIGINT << bit ELSE 0 END)
                          AS BIGINT) AS simhash
              FROM v GROUP BY doc_id)
      SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
      FROM sig a JOIN sig b ON a.doc_id < b.doc_id
      WHERE bit_count(xor(a.simhash, b.simhash)) <= 3""",
   "multi-index SimHash near-dup pairs (Manku'07 pigeonhole: d<=r pairs "
   "share one of r+1 exact chunks, so candidates come from a chunk "
   "equi-join, never all-pairs) + exact Hamming filter; the oracle is "
   "the all-pairs definition the index provably equals")
def simhash_hamming_pairs_documents(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return dd.simhash_hamming_pairs(docs, bits=32, radius=3)




def _kcenter_sql(k: int = 8) -> str:
    """Unrolled greedy k-center as chained CTEs: c1 = lowest id;
    s_i carries the running min-dist to the selected set (the oracle
    uses the incremental least() form, the engine recomputes from the
    full center list — bit-identical values either way since every
    squared-L2 reduces left-to-right in both engines)."""
    first = _L2.format(a="e.v", b="c.v")
    step = _L2.format(a="s.v", b="c.v")
    ctes = ["e AS (SELECT vec_id, embedding AS v FROM embeddings)",
            "c1 AS (SELECT vec_id, v FROM e ORDER BY vec_id LIMIT 1)",
            f"s1 AS (SELECT e.vec_id, e.v, {first} AS mind FROM e, c1 c)"]
    for i in range(2, k + 1):
        ctes.append(f"c{i} AS (SELECT vec_id, v, mind AS d FROM s{i-1} "
                    f"ORDER BY mind DESC, vec_id LIMIT 1)")
        if i < k:
            ctes.append(f"s{i} AS (SELECT s.vec_id, s.v, "
                        f"least(s.mind, {step}) AS mind "
                        f"FROM s{i-1} s, c{i} c)")
    sels = ["SELECT CAST(1 AS INT) AS sel_rank, vec_id, "
            "0.0 AS dist_at_selection FROM c1"]
    sels += [f"SELECT CAST({i} AS INT), vec_id, round(d, 6) FROM c{i}"
             for i in range(2, k + 1)]
    return "WITH " + ",\n".join(ctes) + "\n" + "\nUNION ALL\n".join(sels)


@q("kcenter_coreset_embeddings", _kcenter_sql(8),
   "greedy k-center coreset selection (Gonzalez'85 farthest-point "
   "traversal; the Sener & Savarese'18 data-selection construction): "
   "seed = lowest id, then k-1 rounds each picking the vector farthest "
   "from its nearest selected center (squared L2, ties -> lowest id). "
   "Each round is ONE partial-aggregable max over struct(min_dist, "
   "-id, vec) — no sort, no shuffle beyond the 1-row agg; k x dim "
   "floats of driver state, the kmeans_centroids contract. The "
   "selection trace is the certificate: dist_at_selection is "
   "non-increasing and the last value bounds the corpus covering "
   "radius. The oracle unrolls the same greedy rounds as chained CTEs "
   "with an incremental running-min; values are bit-identical because "
   "both engines reduce every squared-L2 left-to-right")
def kcenter_coreset_embeddings(spark, sf_dir):
    emb = _t(spark, sf_dir, "embeddings")
    return sim.kcenter_coreset(emb, k=8)


@q("prototypicality_prune_embeddings",
   """WITH cent AS (SELECT label, i, avg(embedding[i]::DOUBLE) AS c
                 FROM embeddings, unnest(generate_series(1, 64)) t(i)
                 GROUP BY label, i),
      cv AS (SELECT label, list(c ORDER BY i) AS cv FROM cent
             GROUP BY label),
      d AS (SELECT e.vec_id, e.label,
                   list_sum(list_transform(
                       generate_series(1, len(e.embedding)),
                       i -> (e.embedding[i]::DOUBLE - cv.cv[i])
                            * (e.embedding[i]::DOUBLE - cv.cv[i]))) AS dist
            FROM embeddings e JOIN cv USING (label)),
      r AS (SELECT vec_id, label, dist,
                   percent_rank() OVER (PARTITION BY label
                                        ORDER BY dist, vec_id) AS pct
            FROM d)
      SELECT vec_id, label, round(dist, 6) AS proto_dist,
             round(pct, 6) AS proto_pct, pct < 0.25 AS prune_first
      FROM r""",
   "prototypicality ranking for data pruning (Sorscher'22 'Beyond "
   "neural scaling laws'): squared-L2 to the own-class centroid, exact "
   "within-class percent rank (0 = most prototypical), prune-first "
   "flag = the most redundant quarter — what you drop first under data "
   "abundance. Centroids are one groupBy with dim avg-states per label "
   "(never exploded rows) broadcast back; the per-class percent rank "
   "deliberately avoids Window.partitionBy(label) — few classes would "
   "serialize 100 TB through n_labels tasks — and instead derives from "
   "assign_global_ids over (label, dist, id): one range exchange "
   "numbered in parallel, per-label offsets a tiny broadcast aggregate")
def prototypicality_prune_embeddings(spark, sf_dir):
    emb = _t(spark, sf_dir, "embeddings")
    return sim.prototypicality_prune(emb, prune_frac=0.25)




@q("content_chunk_dups_documents",
   f"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS w
                FROM documents WHERE len(string_split(text, ' ')) >= 1),
      h AS (SELECT doc_id, w,
                   list_transform(w, x -> {_H.format(x='x')}) AS hs
            FROM t),
      b AS (SELECT doc_id, w,
                   list_concat(list_concat([0],
                       list_filter(range(1, len(w) + 1),
                                   i -> hs[i] % 8 = 0 AND i < len(w))),
                       [len(w)]) AS bp
            FROM h),
      c AS (SELECT doc_id,
                   unnest(list_transform(range(1, len(bp)),
                       j -> struct_pack(
                           fp := {_H.format(
                               x="array_to_string(w[bp[j]+1:bp[j+1]], ' ')")},
                           nw := bp[j+1] - bp[j]))) AS ch
            FROM b)
      SELECT ch.fp AS fingerprint,
             CAST(max(ch.nw) AS INT) AS chunk_words,
             count(DISTINCT doc_id) AS n_docs,
             count(*) AS n_copies
      FROM c GROUP BY 1 HAVING count(*) >= 2""",
   "content-defined chunking dedup accounting (LBFS/FastCDC boundary "
   "rule at word granularity): a boundary falls after every word whose "
   "60-bit hash is 0 mod 8, so boundaries move WITH the content — an "
   "insertion early in a doc leaves every later chunk fingerprint "
   "unchanged, where dup_span_chunks' fixed windows reshuffle. Unlike "
   "winnowing (which SAMPLES overlapping k-grams for detection) this "
   "PARTITIONS the doc — every word in exactly one chunk — so "
   "duplicated chunk mass is exactly the bytes a chunk store would "
   "not re-write. Per-row array math over one materialized word-hash "
   "array, zero shuffle until the 8-byte fingerprint groupBy")
def content_chunk_dups_documents(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    ch = dd.content_defined_chunks(docs, divisor=8)
    return (ch.groupBy("fingerprint")
              .agg(F.max("chunk_words").cast("int").alias("chunk_words"),
                   F.countDistinct("doc_id").alias("n_docs"),
                   F.count(F.lit(1)).alias("n_copies"))
              .filter(F.col("n_copies") >= 2))


@q("epoch_plan_by_source",
   """WITH g AS (SELECT source,
                    CAST(sum(len(string_split(text, ' '))) AS DOUBLE)
                        AS tokens
                 FROM documents GROUP BY 1),
      p AS (SELECT source, tokens, pow(tokens, 0.5) AS pr FROM g),
      t AS (SELECT sum(tokens) AS total, sum(pr) AS z FROM p)
      SELECT source, tokens,
             round(pr / z, 6) AS weight,
             round(total * 2.0 * pr / z / tokens, 6) AS raw_epochs,
             round(least(total * 2.0 * pr / z / tokens, 4.0), 6) AS epochs,
             round(least(total * 2.0 * pr / z / tokens, 4.0) * tokens, 3)
                 AS tokens_contributed,
             (total * 2.0 * pr / z / tokens) > 4.0 AS capped
      FROM p CROSS JOIN t""",
   "multi-epoch token-budget planner — the pretraining recipe step "
   "AFTER mixture weights: temperature-scaled weights (T=2) over "
   "per-domain token counts, budget = 2x the corpus, epochs = "
   "budget*w/tokens capped at 4 passes (repeating a small domain past "
   "~4 epochs measurably degrades models). Complements "
   "temperature_mixture (keep-rates <= 1 for down-sampling): this "
   "plans UP-sampling repeats > 1 and reports the capped gap rather "
   "than silently re-spreading it. One partial-aggregable groupBy to "
   "k domain rows; weights/epochs are closed-form expressions over "
   "the k rows x their broadcast 1-row total — no driver round-trip")
def epoch_plan_by_source(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return smp.epoch_plan(docs, "source",
                          F.size(F.split("text", " ")),
                          budget_ratio=2.0, temperature=2.0,
                          max_epochs=4.0)


@q("unimax_epochs_by_source",
   """WITH g AS (SELECT source,
                    CAST(sum(len(string_split(text, ' '))) AS DOUBLE)
                        AS tokens
                 FROM documents GROUP BY 1),
      c AS (SELECT source, tokens, tokens * 4.0 AS cap FROM g),
      t AS (SELECT sum(tokens) AS tt, count(*) AS k FROM c),
      r AS (SELECT source, tokens, cap,
                   row_number() OVER (ORDER BY cap, source) AS i,
                   coalesce(sum(cap) OVER (ORDER BY cap, source
                       ROWS BETWEEN UNBOUNDED PRECEDING
                       AND 1 PRECEDING), 0.0) AS pre
            FROM c),
      s AS (SELECT r.*, tt, k,
                   (tt * 2.0 - pre) / (k - i + 1) AS share,
                   cap <= (tt * 2.0 - pre) / (k - i + 1) AS sat
            FROM r CROSS JOIN t),
      p AS (SELECT coalesce(max(CASE WHEN sat THEN i END), 0) AS m,
                   coalesce(sum(CASE WHEN sat THEN cap END), 0.0) AS scap
            FROM s)
      SELECT source, tokens, cap AS capacity, i <= m AS saturated,
             round(share, 3) AS share_at_rank,
             round(CASE WHEN i <= m THEN cap
                        WHEN k > m THEN (tt * 2.0 - scap) / (k - m)
                        ELSE 0.0 END, 3) AS alloc_tokens,
             round(CASE WHEN i <= m THEN cap
                        WHEN k > m THEN (tt * 2.0 - scap) / (k - m)
                        ELSE 0.0 END / tokens, 6) AS epochs
      FROM s CROSS JOIN p""",
   "UniMax budget allocation (Chung'23): spread the token budget as "
   "UNIFORMLY as possible across domains subject to a 4-epoch cap — "
   "the fairness-principled third member of the mixing family "
   "(temperature epoch_plan over-allocates to head domains; DoReMi "
   "optimizes loss). Exact water-filling in closed form: sort by "
   "capacity, saturation prefix = ranks whose capacity fits under "
   "the then-uniform share (provably a PREFIX of the capacity order, "
   "so one rank/cumsum pass decides it), saturated domains take "
   "capacity, the rest split the remainder evenly. The rank/cumsum "
   "windows run over the K-ROW domain aggregate — an unpartitioned "
   "WindowExec on purpose and safely (k ~ thousands at most; the "
   "corpus-sized work is the one partial-aggregable groupBy). All "
   "comparisons are exact integer-valued doubles, so the prefix is "
   "engine-independent")
def unimax_epochs_by_source(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return smp.unimax_epochs(docs, "source",
                             F.size(F.split("text", " ")),
                             budget_ratio=2.0, max_epochs=4.0)


_DSIR_LAM = ("(ln(t + 1) - ln(tt + 512) - ln(r + 1) + ln(rt + 512))")

@q("dsir_weights_documents",
   f"""WITH w AS (SELECT doc_id, lang = 'en' AS is_t,
                       string_split(text, ' ') AS ws
                FROM documents WHERE len(string_split(text, ' ')) >= 1),
      f AS (SELECT doc_id, is_t,
                   unnest(CASE WHEN len(ws) >= 2 THEN list_concat(ws,
                       list_transform(range(1, len(ws)),
                                      i -> ws[i] || ' ' || ws[i+1]))
                       ELSE ws END) AS feat
            FROM w),
      db AS (SELECT doc_id, is_t, {_H.format(x='feat')} % 512 AS b,
                    count(*) AS n
             FROM f GROUP BY 1, 2, 3),
      bt AS (SELECT b, sum(n) AS r,
                    sum(CASE WHEN is_t THEN n ELSE 0 END) AS t
             FROM db GROUP BY 1),
      tot AS (SELECT sum(r) AS rt, sum(t) AS tt FROM bt)
      SELECT doc_id, CAST(sum(n) AS BIGINT) AS n_feats,
             round(sum(n * {_DSIR_LAM}), 6) AS dsir_weight,
             round(sum(n * {_DSIR_LAM}) / sum(n), 6) AS avg_logratio
      FROM db JOIN bt USING (b) CROSS JOIN tot
      GROUP BY doc_id""",
   "DSIR importance weights (Xie'23 'Data Selection via Importance "
   "Resampling'): per-doc log-likelihood ratio between a TARGET-domain "
   "(lang='en') and the RAW-corpus bag-of-hashed-ngrams unigram LM — "
   "hashed uni+bigram features into 512 buckets, add-one smoothing, "
   "the weight DSIR then resamples on. The genuinely importance-"
   "weighted sibling of importance_sample_documents (whose weight is "
   "a per-row quality score). One explode + (doc,bucket) count agg is "
   "the only corpus-sized shuffle; BOTH LMs derive from that single "
   "aggregate (target counts are a conditional sum — no second text "
   "scan), the <=512-row bucket table broadcasts back, per-doc sum. "
   "O(B) state independent of corpus size; at 100 TB the bucket table "
   "is fit once on a fixed sample and persisted (the bigram_logprob "
   "swap note)")
def dsir_weights_documents(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return tx.dsir_logratio(docs, F.col("lang") == "en", n_buckets=512)


@q("doremi_weights_by_source",
   f"""WITH s AS (SELECT source,
                       len(string_split(text, ' ')) AS tok,
                       1.0 - {_QS_SQL} AS l
                FROM documents),
      g AS (SELECT source, CAST(sum(tok) AS DOUBLE) AS tokens,
                   sum(l) AS ls, count(*) AS n
            FROM s GROUP BY 1),
      t AS (SELECT sum(tokens) AS tt, sum(ls) AS lst, sum(n) AS nt
            FROM g),
      e AS (SELECT source, tokens, tokens / tt AS u,
                   round(ls / n, 6) AS loss,
                   round(greatest(round(ls / n, 6)
                                  - round(lst / nt, 6), 0.0), 6)
                       AS excess
            FROM g CROSS JOIN t),
      sc AS (SELECT *, u * exp(8.0 * excess) AS s FROM e),
      z AS (SELECT sum(s) AS z FROM sc)
      SELECT source, tokens, round(u, 6) AS token_share, loss, excess,
             round(s / z, 6) AS doremi_alpha,
             round(0.9 * s / z + 0.1 * u, 6) AS doremi_weight
      FROM sc CROSS JOIN z""",
   "DoReMi domain reweighting (Xie'23): Group-DRO exponentiated-"
   "gradient on per-domain EXCESS loss over the corpus-mean reference, "
   "from the raw token-share prior, smoothed 10% back toward it — the "
   "mixture-optimization step BEFORE temperature_mixture/epoch_plan "
   "consume a weight vector. Loss proxy = quality-score deficit; with "
   "a fixed proxy the T-step EG recursion collapses to the closed form "
   "u*exp(eta*T*excess) (docstring documents the live-loop swap). ONE "
   "partial-aggregable groupBy to k domain rows; reference loss is a "
   "sum-of-sums off the SAME aggregate, softmax normalizer a 1-row agg "
   "over k rows; means/excesses rounded to 6 pre-exp so both engines "
   "exponentiate identical inputs")
def doremi_weights_by_source(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    loss = 1.0 - tx.quality_score(F.col("text"))
    return smp.doremi_weights(docs, "source", loss,
                              F.size(F.split("text", " ")),
                              eta=1.0, steps=8, smoothing=0.1)


@q("length_buckets_documents",
   """WITH s AS (SELECT doc_id,
                     CAST(len(string_split(text, ' ')) AS BIGINT) AS tok
                 FROM documents),
      r AS (SELECT tok, row_number() OVER (ORDER BY tok, doc_id) AS rk,
                   count(*) OVER () AS n
            FROM s),
      b AS (SELECT CAST(floor((rk - 1) * 8.0 / n) AS INT) AS bucket, tok
            FROM r)
      SELECT bucket, count(*) AS n_docs,
             min(tok) AS min_tokens, max(tok) AS max_tokens,
             CAST(sum(tok) AS BIGINT) AS sum_tokens,
             CAST(count(*) * max(tok) - sum(tok) AS BIGINT) AS pad_waste,
             round((count(*) * max(tok) - sum(tok))::DOUBLE
                   / (count(*) * max(tok)), 6) AS waste_frac
      FROM b GROUP BY 1""",
   "length-bucketed batch planning (the group_by_length recipe): rank "
   "docs by token count, cut into 8 equal-population buckets, report "
   "per-bucket padding waste a pad-to-longest batcher would spend vs "
   "the one-bucket baseline. pack_sequences ELIMINATES padding by "
   "concatenation; this PLANS the alternative when example boundaries "
   "must survive (SFT, contrastive pairs). The oracle's row_number() "
   "OVER (ORDER BY ...) is exactly what the Spark side must NOT do — "
   "an unpartitioned window serializes the corpus through one task — "
   "so the rank comes from assign_global_ids (range exchange + "
   "parallel per-partition numbering + O(tasks) driver ints), then "
   "one k-row groupBy; ties (tok, doc_id) total-ordered on both "
   "engines")
def length_buckets_documents(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return smp.length_buckets(docs, F.size(F.split("text", " ")),
                              n_buckets=8)


@q("doremi_epoch_plan_by_source",
   f"""WITH s AS (SELECT source,
                       len(string_split(text, ' ')) AS tok,
                       1.0 - {_QS_SQL} AS l
                FROM documents),
      g AS (SELECT source, CAST(sum(tok) AS DOUBLE) AS tokens,
                   sum(l) AS ls, count(*) AS n
            FROM s GROUP BY 1),
      t AS (SELECT sum(tokens) AS tt, sum(ls) AS lst, sum(n) AS nt
            FROM g),
      e AS (SELECT source, tokens, tokens / tt AS u,
                   round(greatest(round(ls / n, 6)
                                  - round(lst / nt, 6), 0.0), 6)
                       AS excess
            FROM g CROSS JOIN t),
      sc AS (SELECT *, u * exp(8.0 * excess) AS sco FROM e),
      z AS (SELECT sum(sco) AS z FROM sc),
      w AS (SELECT source, tokens,
                   round(0.9 * sco / z + 0.1 * u, 6) AS weight
            FROM sc CROSS JOIN z),
      t2 AS (SELECT sum(tokens) AS total FROM w)
      SELECT source, tokens, weight,
             round(total * 2.0 * weight / tokens, 6) AS raw_epochs,
             round(least(total * 2.0 * weight / tokens, 4.0), 6)
                 AS epochs,
             round(least(total * 2.0 * weight / tokens, 4.0) * tokens, 3)
                 AS tokens_contributed,
             (total * 2.0 * weight / tokens) > 4.0 AS capped
      FROM w CROSS JOIN t2""",
   "the composed mixture pipeline: DoReMi excess-loss domain weights "
   "feeding the multi-epoch token-budget planner (epochs = budget * "
   "w/tokens capped at 4 passes, capped gap reported) — what a "
   "pretraining run actually consumes after mixture optimization. "
   "epoch_plan_from_weights is the factored second half of "
   "epoch_plan, so ANY weight source composes (temperature, DoReMi, "
   "hand-tuned); re-planning under new weights costs k rows and ZERO "
   "corpus scans — the weight producer already paid the one "
   "corpus-sized aggregate, everything downstream is closed-form "
   "column math over k domain rows x a broadcast 1-row total")
def doremi_epoch_plan_by_source(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    w = smp.doremi_weights(docs, "source",
                           1.0 - tx.quality_score(F.col("text")),
                           F.size(F.split("text", " ")),
                           eta=1.0, steps=8, smoothing=0.1)
    dom = w.select("source", "tokens",
                   F.col("doremi_weight").alias("weight"))
    return smp.epoch_plan_from_weights(dom, "source",
                                       budget_ratio=2.0, max_epochs=4.0)


@q("quality_rank_by_source_documents",
   f"""WITH s AS (SELECT doc_id, source, {_QS_SQL} AS q FROM documents),
      r AS (SELECT doc_id, source, q,
                   round(percent_rank() OVER (PARTITION BY source
                                              ORDER BY q, doc_id), 6)
                       AS rank_pct
            FROM s)
      SELECT doc_id, source, q AS score, rank_pct,
             rank_pct >= 0.5 AS keep
      FROM r""",
   "per-domain calibrated quality filtering: a single global score "
   "threshold prunes domains unevenly (boilerplate-heavy sources lose "
   "everything), so the production recipe thresholds the WITHIN-"
   "domain percent rank — keep the same top fraction of every source. "
   "The oracle's percent_rank() OVER (PARTITION BY source) is exactly "
   "what the Spark side must not run (few sources would serialize "
   "100 TB through n_sources tasks): ranks derive from "
   "assign_global_ids over (source, score, id) — one range exchange "
   "numbered in parallel, per-source offsets a broadcast aggregate — "
   "with the scored frame localCheckpoint'd pre-exchange (the "
   "RangePartitioner double-evaluation lesson; the score is a "
   "regex/array pipeline). Ties broken by id so both engines rank "
   "identically")
def quality_rank_by_source_documents(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return smp.score_rank_by_group(docs, "source",
                                   tx.quality_score(F.col("text")),
                                   keep_above=0.5)


@q("filter_agreement_documents",
   f"""WITH tk AS (SELECT doc_id, text, length(text)::DOUBLE AS n_chars,
                        string_split(text, ' ') AS t
                 FROM documents),
      g2 AS (SELECT doc_id, unnest(list_transform(
                generate_series(0, greatest(len(t) - 2, 0)),
                i -> array_to_string(list_slice(t, i + 1, i + 2), ' ')))
                AS gram
             FROM tk),
      cnt AS (SELECT doc_id, gram, count(*) AS c FROM g2 GROUP BY 1, 2),
      top AS (SELECT doc_id, max(c * length(gram)) AS top_mass
              FROM cnt GROUP BY 1),
      fl AS (SELECT tk.doc_id,
               (len(t) BETWEEN 40 AND 100000)
                 AND (round(CAST(length(text) - (len(t) - 1) AS DOUBLE)
                            / len(t), 6) BETWEEN 3.0 AND 10.0)
                 AND round(CAST(len(regexp_extract_all(text, '#|\\.\\.\\.'))
                           AS DOUBLE) / len(t), 6) <= 0.1
                 AND round(CAST(len(list_filter(t,
                           x -> regexp_matches(x, '[a-zA-Z]'))) AS DOUBLE)
                           / len(t), 6) >= 0.8
                 AND len(list_filter(t, x -> list_contains({_STOP_SQL}, x)))
                     >= 2 AS fg,
               {_QS_SQL} >= 0.3 AS fq,
               (round(1.0 - len(list_distinct(t))::DOUBLE / len(t), 6)
                  <= 0.6
                AND round(top_mass / n_chars, 6) <= 0.2) AS fr
            FROM tk JOIN top USING (doc_id)),
      a AS (SELECT
          CAST(sum(CASE WHEN fg AND fq THEN 1 ELSE 0 END) AS BIGINT) AS b_gq,
          CAST(sum(CASE WHEN fg AND NOT fq THEN 1 ELSE 0 END) AS BIGINT) AS a_gq,
          CAST(sum(CASE WHEN NOT fg AND fq THEN 1 ELSE 0 END) AS BIGINT) AS o_gq,
          CAST(sum(CASE WHEN NOT fg AND NOT fq THEN 1 ELSE 0 END) AS BIGINT) AS n_gq,
          CAST(sum(CASE WHEN fg AND fr THEN 1 ELSE 0 END) AS BIGINT) AS b_gr,
          CAST(sum(CASE WHEN fg AND NOT fr THEN 1 ELSE 0 END) AS BIGINT) AS a_gr,
          CAST(sum(CASE WHEN NOT fg AND fr THEN 1 ELSE 0 END) AS BIGINT) AS o_gr,
          CAST(sum(CASE WHEN NOT fg AND NOT fr THEN 1 ELSE 0 END) AS BIGINT) AS n_gr,
          CAST(sum(CASE WHEN fq AND fr THEN 1 ELSE 0 END) AS BIGINT) AS b_qr,
          CAST(sum(CASE WHEN fq AND NOT fr THEN 1 ELSE 0 END) AS BIGINT) AS a_qr,
          CAST(sum(CASE WHEN NOT fq AND fr THEN 1 ELSE 0 END) AS BIGINT) AS o_qr,
          CAST(sum(CASE WHEN NOT fq AND NOT fr THEN 1 ELSE 0 END) AS BIGINT) AS n_qr
        FROM fl)
      SELECT 'gopher' AS method_a, 'quality' AS method_b,
             b_gq AS n_both, a_gq AS n_only_a, o_gq AS n_only_b,
             n_gq AS n_neither,
             round(b_gq::DOUBLE / greatest(b_gq + a_gq + o_gq, 1), 6)
                 AS jaccard
      FROM a
      UNION ALL
      SELECT 'gopher', 'repetition', b_gr, a_gr, o_gr, n_gr,
             round(b_gr::DOUBLE / greatest(b_gr + a_gr + o_gr, 1), 6)
      FROM a
      UNION ALL
      SELECT 'quality', 'repetition', b_qr, a_qr, o_qr, n_qr,
             round(b_qr::DOUBLE / greatest(b_qr + a_qr + o_qr, 1), 6)
      FROM a""",
   "pairwise agreement audit between quality filters (the filter-"
   "ablation analysis run before composing gates — which rules agree, "
   "which prune orthogonal slices): contingency counts + keep-set "
   "Jaccard for gopher rules (min_words=40) vs the composite quality "
   "score (>= 0.3) vs repetition signals. Row-local flags evaluate in "
   "place; the repetition flag joins in from its own gram pipeline; "
   "the whole contingency table is ONE aggregate of conditional sums "
   "(no per-pair scans, no self-joins) and the 3 output rows are "
   "literal restructurings of that 1-row aggregate")
def filter_agreement_documents(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    g = (tx.gopher_rules(docs, min_words=40)
           .select("doc_id", "gopher_keep"))
    rep = tx.repetition_signals(docs).select("doc_id", "repetition_ok")
    return tx.filter_agreement(docs, {
        "gopher": g,
        "quality": tx.quality_score(F.col("text")) >= 0.3,
        "repetition": rep,
    })


# ==========================================================================
# Registry ordering. The driver's correctness gate hashes a leading window
# of the registry (50 entries). Round 8 replaces the old "unique families
# early, siblings in the tail" heuristic with a WRITTEN ROTATION SCHEDULE
# (COVERAGE.md "Driver-attestation rotation"; machine-checked by
# tests/test_window_lint.py against ROTATION.json): each round the window
# carries the 50 registry entries that have waited longest for a driver
# hash — never-hashed entries first, in registry order — so every entry
# gets a driver correctness row within ceil(registry/50) rounds. Full
# oracle coverage of ALL entries runs every round regardless, in
# tests/test_full_parity.py. Reordered in place so __spark_entry__ sees
# the final order.
# ==========================================================================

_WINDOW = [
    # round-13 rotation (ROTATION.json window_r13): the two NEW r13
    # entries lead per the rotation policy (never-hashed first) — the
    # rho-sampled production NN-Descent (bounded per-round fan-out,
    # r12 verdict item 2) and the capped production LSH dedup chain
    # (max_bucket_size=64 end-to-end, r12 verdict item 6); the rest is
    # re-attestation of the oldest driver hashes.
    # Pre-verified vs the DuckDB oracle at sf0.01 AND sf0.001 via
    # tools/check_parity.py, tuned and --vanilla sessions.
    # Third r13 batch (data selection & batch planning): DSIR
    # importance weights, DoReMi domain reweighting, length-bucket
    # padding planner — never-hashed, so they lead per the policy.
    "dsir_weights_documents", "doremi_weights_by_source",
    "length_buckets_documents", "quality_rank_by_source_documents",
    "filter_agreement_documents", "doremi_epoch_plan_by_source",
    "unimax_epochs_by_source",
    "nn_descent_sampled_embeddings", "neardup_dedup_capped_documents",
    "kcenter_coreset_embeddings", "prototypicality_prune_embeddings",
    "content_chunk_dups_documents", "epoch_plan_by_source",
    "knn_label_eval_embeddings", "volume_shipping_pair_nations",
    "market_share_by_year", "video_metadata_documents",
    "keyframe_slices_documents", "change_log_apply_orders",
    "kmv_distinct_by_source", "funnel_ordered_events",
    "robust_outliers_events", "curriculum_interleave_documents",
    "checksum_audit_orders", "skew_report_orders", "kmv_union_sources",
    "ndcg_retrieval_embeddings", "dow_seasonality_events",
    "classifier_calibration_documents", "cohort_retention_weekly_events",
    "kcore_dup_graph_documents", "bloom_semi_join_orders",
    "tfidf_top_terms_documents", "value_histogram_events",
    "fk_orphan_audit_lineitem", "top_event_paths_sessions",
    "ann_matryoshka_topk_embeddings", "embedding_drift_halves",
    "mixture_plan_by_source", "top_supplier_by_revenue",
    "custdist_orders_per_customer", "returned_item_top_customers",
    "neardup_dedup_keep_canonical", "neardup_cluster_size_histogram",
    "rolling_hour_avg_value", "pivot_status_by_priority",
    "intersect_click_purchase_users", "label_centroids_embeddings",
    "oov_rate_documents", "user_event_sequences",
]

_TAIL = [
    # displaced from the r13 window by the seven selection/audit
    # entries above (DSIR, DoReMi, length buckets, per-source quality
    # ranks, filter agreement, DoReMi->epoch, UniMax): re-enter the
    # rotation queue with their r12 hashes, ahead of the four
    # displaced earlier this round.
    "drift_psi_documents", "forecast_revenue_change",
    "chunk_documents_windowed", "funnel_conversion_events",
    "cohort_retention_events", "late_shipment_by_priority",
    "ngram_jaccard_capped_documents",
    # displaced from the r13 window by the four new round-13 curation
    # entries (kcenter coreset, prototypicality prune, content-defined
    # chunking, epoch planner): all four re-enter the rotation queue
    # with their r12 hashes.
    "neardup_clusters_star_documents", "semantic_dedup_pairs_embeddings",
    "gopher_quality_documents", "zscore_outliers_events",
    "ivf_assign_scaled_embeddings", "knn_graph_scaled_embeddings",
    "nn_descent_scaled_embeddings", "random_projection_embeddings",
    "overlap_coeff_capped_documents", "semantic_dedup_scaled_embeddings",
    "ntile_cumedist_customers", "pii_scrub_customer", "id_gap_audit_orders",
    "overlapping_purchase_intervals_events", "asof_click_attribution",
    "keyset_page_orders", "tumbling_daily_events", "zorder_keys_events",
    "hilbert_keys_events", "zorder3_keys_events", "compaction_plan_orders",
    "pricing_summary_lineitem", "image_ahash_documents",
    "shipping_priority_top10", "supplier_revenue_by_nation",
    "bm25_search_documents", "cube_status_priority_orders",
    "price_percentiles_orders", "approx_distinct_users_check", "tpch_q2",
    "tpch_q11", "tpch_q16", "tpch_q20", "above_avg_idle_customers",
    "small_qty_part_revenue", "minhash_signatures_documents",
    "source_overlap_matrix_documents", "incremental_neardup_pairs_documents",
    "embedding_norms", "ann_lsh_multiprobe_topk",
    "ann_pq_adc_topk_embeddings", "ann_pq_rerank_topk_embeddings",
    "ann_ivfpq_topk_embeddings", "corpus_stats_by_source",
    "decontamination_eval_overlap", "bloom_decontamination_documents",
    "pagerank_dup_graph_documents", "epoch_shuffle_ranks_documents",
    "pack_sequences_documents", "frame_sample_documents",
    "salted_join_order_priority", "json_props_extract_events",
    "disjunctive_pred_part_revenue", "waiting_multi_supplier_orders",
    "importance_sample_documents", "approx_percentile_check_lineitem",
    "hll_union_distinct_users", "mixture_sample_by_source",
    "fuzzy_pairs_customer", "normalized_dedup_documents",
    "bigram_logprob_documents", "lexical_diversity_by_source",
    "gopher_pass_rates_by_source", "key_skew_profile_events",
    "dup_rate_by_source", "unpivot_measure_stats_lineitem",
    "events_since_last_purchase", "token_pmi_pairs_documents",
    "purchase_value_daily_gapfilled", "event_transition_matrix",
    "corr_matrix_lineitem", "table_checksum_orders", "promo_revenue_share",
    "min_cost_supplier_per_part", "profit_by_nation_year",
    "important_parts_share", "supplier_count_by_part_attrs",
    "excess_shipped_suppliers", "stable_global_ids_orders",
    "udtf_json_kv_events", "python_source_cdc_feed",
    "cluster_safe_split_documents", "constraint_audit_orders",
    "token_kl_by_source", "overlap_coeff_pairs_documents",
    "char_entropy_documents", "variant_props_events",
    "interpolate_value_events", "ewma_purchase_value_by_user",
    "weighted_sample_per_source", "dup_graph_triangles",
    "rolling_median_daily_revenue", "embedding_dim_stats",
    "top_bigrams_per_source", "curation_attrition_documents",
    "benford_audit_orders", "bpe_encode_documents",
    "bucketed_join_orders_lineitem", "bpe_fertility_by_source",
    "part_type_revenue_share", "revenue_rollup_flag_status",
    "sliding_2h1h_events", "customers_without_orders",
    "vocab_top20_documents", "lang_id_documents", "multimodal_payload_stats",
    "cosine_topk_embeddings", "hash_sample_documents", "event_gap_lag_window",
    "lang_id_confusion_documents", "large_volume_orders",
    "distinct_users_daily", "fingerprint_documents",
    "dup_span_chunks_documents", "ngram_jaccard_pairs_documents",
    "simhash_documents", "quantize_int8_embeddings",
    "embedding_neardup_pairs", "boilerplate_scrub_documents",
    "range_clicks_before_purchase", "cms_heavy_hitters_documents",
    "batch_cosine_topk_embeddings", "repetition_signals_documents",
    "session_windows_events", "jaccard_prefix_pairs_documents",
    "fuzzy_decontamination_pairs", "hybrid_search_rrf",
    "ccnet_buckets_by_source", "stratified_sample_by_source",
    "scd2_history_events", "pca_covariance_embeddings",
    "cov_shift_by_label_embeddings", "zipf_slope_by_source",
    "hard_negatives_embeddings", "quantize_binary_embeddings",
    "ann_hamming_topk_embeddings", "ann_hamming_rerank_topk",
    "kn_perplexity_documents", "simhash_hamming_pairs_documents",
    "winnowing_dup_fingerprints_documents", "cdc_time_window_events",
    "watermark_extract_orders", "density_stats_events",
    "align_orders_to_target", "topk_orders_by_price",
    "latest_record_per_user", "revenue_by_nation",
    "minhash_lsh_pairs_documents", "cdc_custom_sql_orders",
    "order_priority_exists", "cdc_hybrid_lineitem_ties",
    "cdc_timestamp_only_events", "cdc_id_only_ceiling_events",
    "cdc_full_sync_region", "snapshot_diff_orders", "cast_suite_lineitem",
    "sanitize_scrub_customer", "manifest_anti_join", "verify_counts",
    "quality_metrics_lineitem", "incremental_agg_orders",
    "retract_agg_orders", "exact_dedup_documents",
    "neardup_clusters_documents", "scrub_exact_substrings_documents",
    "duplicated_spans_documents", "knn_graph_embeddings",
    "nn_descent_graph_embeddings", "ann_lsh_topk_embeddings",
    "ann_ivf_topk_embeddings", "ann_lsh_multitable_topk",
    "mmr_topk_embeddings", "train_val_test_split_documents",
    "quality_classifier_documents", "classifier_pr_curve_documents",
    "multimodal_features", "temperature_mixture_by_source",
    "text_stats_documents", "normalize_text_documents",
    "er_best_match_customer",
]


def _apply_order() -> None:
    ordered = _WINDOW + _TAIL
    missing = [n for n in ordered if n not in REGISTRY]
    extra = [n for n in REGISTRY if n not in ordered]
    if missing or extra:
        raise RuntimeError(
            f"registry/order drift: missing={missing} unordered={extra}")
    snapshot = dict(REGISTRY)
    REGISTRY.clear()
    REGISTRY.update({n: snapshot[n] for n in ordered})


_apply_order()
