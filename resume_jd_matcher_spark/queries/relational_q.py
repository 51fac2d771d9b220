"""Relational operator suite over the TPC-H-ish star schema
(SURVEY.md §2.D A1/A4, §2.E W2-W4, §2.F J1-J5, §2.B T7/T8).

The reference has no relational joins — its only "join" is the implicit
query×corpus pairing inside FAISS search (rag_model_mass.py:37). The
engine exposes the full standard suite; Catalyst picks broadcast-hash
vs sort-merge, with explicit broadcast hints where the dim side is
known-small.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from resume_jd_matcher_spark.operators import relational
from resume_jd_matcher_spark.queries import register
from resume_jd_matcher_spark.sources.io import load_table


@register(
    "pricing_summary",
    """
SELECT l_returnflag, l_linestatus,
       round(sum(l_quantity), 2) AS sum_qty,
       round(sum(l_extendedprice), 2) AS sum_base_price,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
       round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
       round(avg(l_quantity), 4) AS avg_qty,
       round(avg(l_extendedprice), 4) AS avg_price,
       round(avg(l_discount), 4) AS avg_disc,
       count(*)::BIGINT AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
""",
)
def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4: TPC-H Q1-style pricing summary — partial (map-side) agg +
    single shuffle on the 6-group key; whole-stage codegen'd."""
    l = load_table(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        l.filter(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(disc_price), 2).alias("sum_disc_price"),
            F.round(F.sum(disc_price * (1 + F.col("l_tax"))), 2).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


@register(
    "agg_rollup",
    """
SELECT l_returnflag, l_linestatus,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
       count(*)::BIGINT AS n_items
FROM lineitem
GROUP BY ROLLUP (l_returnflag, l_linestatus)
""",
)
def q_agg_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4: grouping-sets rollup (subtotals + grand total in one pass)."""
    l = load_table(spark, sf_dir, "lineitem")
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return l.rollup("l_returnflag", "l_linestatus").agg(
        F.round(F.sum(revenue), 2).alias("revenue"),
        F.count("*").alias("n_items"),
    )


@register(
    "agg_cube",
    """
SELECT o_orderstatus, o_orderpriority,
       count(*)::BIGINT AS n_orders,
       round(sum(o_totalprice), 2) AS total_price,
       round(max(o_totalprice), 2) AS max_price,
       round(min(o_totalprice), 2) AS min_price
FROM orders
GROUP BY CUBE (o_orderstatus, o_orderpriority)
""",
)
def q_agg_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4: full cube over two dimensions."""
    o = load_table(spark, sf_dir, "orders")
    return o.cube("o_orderstatus", "o_orderpriority").agg(
        F.count("*").alias("n_orders"),
        F.round(F.sum("o_totalprice"), 2).alias("total_price"),
        F.round(F.max("o_totalprice"), 2).alias("max_price"),
        F.round(F.min("o_totalprice"), 2).alias("min_price"),
    )


@register(
    "agg_distinct",
    """
SELECT c_mktsegment,
       count(*)::BIGINT AS n_customers,
       count(DISTINCT c_nationkey)::BIGINT AS n_nations,
       round(avg(c_acctbal), 2) AS avg_acctbal
FROM customer
GROUP BY c_mktsegment
""",
)
def q_agg_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4: exact count-distinct (expands to a two-phase agg in Spark)."""
    c = load_table(spark, sf_dir, "customer")
    return c.groupBy("c_mktsegment").agg(
        F.count("*").alias("n_customers"),
        F.countDistinct("c_nationkey").alias("n_nations"),
        F.round(F.avg("c_acctbal"), 2).alias("avg_acctbal"),
    )


@register(
    "join_revenue_by_nation",
    """
SELECT n.n_name,
       count(*)::BIGINT AS n_orders,
       round(sum(o.o_totalprice), 2) AS revenue
FROM orders o
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
GROUP BY n.n_name
""",
)
def q_join_revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2 + J1: fact⋈dim chain with an explicit broadcast on the tiny
    nation dim (25 rows) — one shuffle for orders⋈customer, zero for
    the dim hop."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    return (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.count("*").alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
        )
    )


@register(
    "join_semi",
    """
SELECT c_custkey, c_mktsegment
FROM customer c
WHERE EXISTS (
  SELECT 1 FROM orders o
  WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'P'
)
""",
)
def q_join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J3: left-semi — customers having at least one 'P'-status order."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "P")
    return c.join(o, c.c_custkey == o.o_custkey, "left_semi").select(
        "c_custkey", "c_mktsegment"
    )


@register(
    "join_anti",
    """
SELECT c_custkey, c_mktsegment
FROM customer c
WHERE NOT EXISTS (
  SELECT 1 FROM orders o
  WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'P'
)
""",
)
def q_join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J3: left-anti — customers with no 'P'-status order."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "P")
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select(
        "c_custkey", "c_mktsegment"
    )


@register(
    "join_outer",
    """
SELECT n.n_name,
       count(c.c_custkey)::BIGINT AS n_customers
FROM nation n
LEFT JOIN customer c ON c.c_nationkey = n.n_nationkey AND c.c_acctbal > 9000
GROUP BY n.n_name
""",
)
def q_join_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2: left-outer with a pushed-down join-side predicate — nations
    keep a row even with zero qualifying customers."""
    n = load_table(spark, sf_dir, "nation")
    c = load_table(spark, sf_dir, "customer").filter(F.col("c_acctbal") > 9000)
    return (
        n.join(c, c.c_nationkey == n.n_nationkey, "left")
        .groupBy("n_name")
        .agg(F.count("c_custkey").alias("n_customers"))
    )


_THETA_BAND = 250.0


@register(
    "join_theta_band",
    f"""
SELECT s.s_suppkey, c.c_custkey,
       round(s.s_acctbal - c.c_acctbal, 2) AS bal_gap
FROM supplier s
JOIN customer c
  ON s.s_nationkey = c.c_nationkey
 AND abs(s.s_acctbal - c.c_acctbal) < {_THETA_BAND}
""",
)
def q_join_theta_band(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J4: banded theta join — equi key (nation) plus a non-equi band
    predicate evaluated post-hash-match (no full cross product).
    Band width 250 (~2.3% of the acctbal span): the r9 selfcheck
    showed the original 10.0 band goes vacuous at sf0.001 (10
    suppliers x 150 customers sharing a nation almost never land
    within 10 of each other) — 250 keeps signal at every scale
    (measured rows: 2 / 250 / 26,987 at sf0.001/0.01/0.1) while the
    join stays band-selective (sf0.1: 27k of 600k same-nation
    pairs)."""
    s = load_table(spark, sf_dir, "supplier")
    c = load_table(spark, sf_dir, "customer")
    return (
        F.broadcast(s)
        .join(
            c,
            (s.s_nationkey == c.c_nationkey)
            & (F.abs(s.s_acctbal - c.c_acctbal) < _THETA_BAND),
        )
        .select(
            "s_suppkey",
            "c_custkey",
            F.round(F.col("s_acctbal") - F.col("c_acctbal"), 2).alias("bal_gap"),
        )
    )


@register(
    "setop_suite",
    """
WITH f AS (SELECT DISTINCT o_custkey FROM orders WHERE o_orderstatus = 'F'),
     o AS (SELECT DISTINCT o_custkey FROM orders WHERE o_orderstatus = 'O')
SELECT 'intersect' AS op, o_custkey FROM (SELECT o_custkey FROM f INTERSECT SELECT o_custkey FROM o)
UNION ALL
SELECT 'except' AS op, o_custkey FROM (SELECT o_custkey FROM f EXCEPT SELECT o_custkey FROM o)
UNION ALL
SELECT 'union' AS op, o_custkey FROM (SELECT o_custkey FROM f UNION SELECT o_custkey FROM o)
""",
)
def q_setop_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J5: intersect / except / union over customer-key sets from two
    order-status slices, tagged and unioned into one result."""
    o = load_table(spark, sf_dir, "orders")
    f_keys = o.filter(F.col("o_orderstatus") == "F").select("o_custkey").distinct()
    o_keys = o.filter(F.col("o_orderstatus") == "O").select("o_custkey").distinct()
    return (
        f_keys.intersect(o_keys).select(F.lit("intersect").alias("op"), "o_custkey")
        .unionByName(
            f_keys.exceptAll(o_keys).select(F.lit("except").alias("op"), "o_custkey")
        )
        .unionByName(
            f_keys.union(o_keys).distinct().select(F.lit("union").alias("op"), "o_custkey")
        )
    )


@register(
    "window_topk_orders",
    """
WITH r AS (
  SELECT o_custkey, o_orderkey, o_totalprice,
         row_number() OVER (PARTITION BY o_custkey
                            ORDER BY o_totalprice DESC, o_orderkey) AS rn
  FROM orders
)
SELECT o_custkey, o_orderkey, round(o_totalprice, 2) AS o_totalprice, rn::INT AS rn
FROM r WHERE rn <= 3
""",
)
def q_window_topk_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W3: top-3 orders per customer by price (rank window, the same
    shape that powers per-query top-k in V5/V6)."""
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey").asc()
    )
    return (
        o.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select(
            "o_custkey",
            "o_orderkey",
            F.round("o_totalprice", 2).alias("o_totalprice"),
            F.col("rn").cast("int").alias("rn"),
        )
    )


@register(
    "window_running",
    """
SELECT user_id, event_id,
       floor(epoch(ts))::BIGINT AS ts_epoch,
       round(sum(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2)
         AS running_value,
       round(lag(value) OVER (PARTITION BY user_id ORDER BY ts, event_id), 2)
         AS prev_value,
       lead(event_id) OVER (PARTITION BY user_id ORDER BY ts, event_id)
         AS next_event_id
FROM events
WHERE user_id < 50
""",
)
def q_window_running(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W4: analytic windows — running sum / lag / lead per user ordered
    by event time (deterministic tie-break on event_id)."""
    e = load_table(spark, sf_dir, "events").filter(F.col("user_id") < 50)
    w = Window.partitionBy("user_id").orderBy(F.col("ts").asc(), F.col("event_id").asc())
    return e.select(
        "user_id",
        "event_id",
        F.unix_timestamp("ts").alias("ts_epoch"),
        F.round(
            F.sum("value").over(w.rowsBetween(Window.unboundedPreceding, 0)), 2
        ).alias("running_value"),
        F.round(F.lag("value").over(w), 2).alias("prev_value"),
        F.lead("event_id").over(w).alias("next_event_id"),
    )


@register(
    "score_banding",
    """
SELECT band, count(*)::BIGINT AS n_orders
FROM (
  SELECT CASE WHEN o_totalprice >= 300000 THEN 'high'
              WHEN o_totalprice >= 150000 THEN 'medium'
              ELSE 'low' END AS band
  FROM orders
) t
GROUP BY band
""",
)
def q_score_banding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W2: score banding (reference: ≥8 high / ≥5 medium / else low in
    bulk_result.html:34-40) applied to order totals."""
    o = load_table(spark, sf_dir, "orders")
    band = (
        F.when(F.col("o_totalprice") >= 300000, "high")
        .when(F.col("o_totalprice") >= 150000, "medium")
        .otherwise("low")
    )
    return o.select(band.alias("band")).groupBy("band").agg(
        F.count("*").alias("n_orders")
    )


@register(
    "scalar_suite",
    """
SELECT event_id,
       year(ts)::INT AS y,
       month(ts)::INT AS m,
       epoch(date_trunc('day', ts))::BIGINT AS day_epoch,
       date_diff('day', DATE '2024-01-01', ts::DATE)::INT AS days_since,
       upper(event_type) AS event_upper,
       substr(event_type, 1, 3) AS event_pfx,
       length(event_type)::INT AS event_len,
       round(value, 1) AS value_1,
       round(abs(value - 50.0), 2) AS dist_from_50,
       round(sqrt(abs(value)), 4) AS sqrt_value,
       round(ln(abs(value) + 1.0), 4) AS log_value,
       round(pow(value / 100.0, 2), 6) AS pow_value,
       json_extract_string(props, '$.k')::INT AS prop_k
FROM events
WHERE user_id < 20
""",
)
def q_scalar_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T8: the scalar string/date/math/json surface in one projection
    (all JVM built-ins, zero Python in the plan)."""
    e = load_table(spark, sf_dir, "events").filter(F.col("user_id") < 20)
    return e.select(
        "event_id",
        F.year("ts").cast("int").alias("y"),
        F.month("ts").cast("int").alias("m"),
        F.unix_timestamp(F.date_trunc("day", F.col("ts"))).alias("day_epoch"),
        F.datediff(F.col("ts").cast("date"), F.lit("2024-01-01").cast("date"))
        .cast("int")
        .alias("days_since"),
        F.upper("event_type").alias("event_upper"),
        F.substring("event_type", 1, 3).alias("event_pfx"),
        F.length("event_type").cast("int").alias("event_len"),
        F.round("value", 1).alias("value_1"),
        F.round(F.abs(F.col("value") - 50.0), 2).alias("dist_from_50"),
        F.round(F.sqrt(F.abs("value")), 4).alias("sqrt_value"),
        F.round(F.log(F.abs(F.col("value")) + 1.0), 4).alias("log_value"),
        F.round(F.pow(F.col("value") / 100.0, 2), 6).alias("pow_value"),
        F.get_json_object("props", "$.k").cast("int").alias("prop_k"),
    )


@register(
    "format_dispatch",
    """
SELECT doc_id, path, ext, route,
       regexp_replace(split_part(path, '/', -1), '[^A-Za-z0-9._-]', '_', 'g')
         AS safe_name
FROM (
  SELECT doc_id,
         source || '/doc_' || doc_id ||
           CASE doc_id % 4 WHEN 0 THEN '.pdf' WHEN 1 THEN '.docx'
                           WHEN 2 THEN '.txt' ELSE '.xyz' END AS path
  FROM documents
) t,
LATERAL (SELECT lower(regexp_extract(path, '\\.([A-Za-z0-9]+)$', 1)) AS ext) e,
LATERAL (SELECT CASE WHEN ext IN ('pdf','docx','txt') THEN ext
                     ELSE 'quarantine' END AS route) r
""",
)
def q_format_dispatch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SRC4/T7: extension routing (reference utils.py:11-19 raised
    ValueError on unknown formats; the engine quarantines rows)."""
    from resume_jd_matcher_spark.sources.io import format_dispatch

    d = load_table(spark, sf_dir, "documents")
    ext_case = (
        F.when(F.col("doc_id") % 4 == 0, ".pdf")
        .when(F.col("doc_id") % 4 == 1, ".docx")
        .when(F.col("doc_id") % 4 == 2, ".txt")
        .otherwise(".xyz")
    )
    paths = d.select(
        "doc_id",
        F.concat(F.col("source"), F.lit("/doc_"), F.col("doc_id"), ext_case).alias(
            "path"
        ),
    )
    return format_dispatch(paths).select(
        "doc_id", "path", "ext", "route", "safe_name"
    )


@register(
    "range_join_binned",
    """
SELECT a.event_id AS left_id,
       b.event_id AS right_id,
       a.user_id AS key,
       abs(epoch_us(a.ts) - epoch_us(b.ts)) AS gap_us
FROM events a
JOIN events b
  ON a.user_id = b.user_id
 AND a.event_id < b.event_id
 AND abs(epoch_us(a.ts) - epoch_us(b.ts)) <= 300000000
""",
)
def q_range_join_binned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J4 scale path: band join (|t_a - t_b| <= 300 s, same user)
    rewritten as an equi-join on (user, time-bin) with a 3-bin
    explode — a hash join Catalyst can partition, instead of the
    BroadcastNestedLoopJoin the theta predicate (the oracle's plain
    form) would execute. Integer-microsecond compares; no float
    boundary."""
    ev = load_table(spark, sf_dir, "events")
    return relational.binned_interval_join(ev, "user_id", max_gap_s=300)


@register(
    "rollup_timeseries",
    """
WITH base AS (
  SELECT date_trunc('minute', ts) AS m,
         event_type,
         floor(value * 1000000)::BIGINT AS v_us
  FROM events
), minute AS (
  SELECT m AS bucket, event_type,
         count(*)::BIGINT AS n_events, sum(v_us)::BIGINT AS sum_v_us
  FROM base GROUP BY m, event_type
), hour AS (
  SELECT date_trunc('hour', bucket) AS bucket, event_type,
         sum(n_events)::BIGINT AS n_events, sum(sum_v_us)::BIGINT AS sum_v_us
  FROM minute GROUP BY 1, 2
), day AS (
  SELECT date_trunc('day', bucket) AS bucket, event_type,
         sum(n_events)::BIGINT AS n_events, sum(sum_v_us)::BIGINT AS sum_v_us
  FROM hour GROUP BY 1, 2
)
SELECT 'minute' AS grain, floor(epoch(bucket))::BIGINT AS bucket_epoch,
       event_type, n_events, sum_v_us FROM minute
UNION ALL
SELECT 'hour', floor(epoch(bucket))::BIGINT, event_type, n_events, sum_v_us FROM hour
UNION ALL
SELECT 'day', floor(epoch(bucket))::BIGINT, event_type, n_events, sum_v_us FROM day
""",
)
def q_rollup_timeseries(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style multi-grain rollup: minute aggregate computed
    once from raw events, then hour REUSES the minute partials and day
    reuses hour — the continuous-aggregate cascade. At 100 TB the raw
    table is touched exactly once; each coarser grain re-aggregates
    ~60× fewer rows. Sums carried as integer micro-units (floor(v*1e6))
    so the cascade is associative and bit-exact on both engines."""
    ev = load_table(spark, sf_dir, "events")
    base = ev.select(
        F.date_trunc("minute", "ts").alias("bucket"),
        "event_type",
        F.floor(F.col("value") * 1_000_000).alias("v_us"),
    )
    minute = base.groupBy("bucket", "event_type").agg(
        F.count("*").alias("n_events"), F.sum("v_us").alias("sum_v_us")
    )
    hour = (
        minute.groupBy(
            F.date_trunc("hour", "bucket").alias("bucket"), "event_type"
        ).agg(F.sum("n_events").alias("n_events"), F.sum("sum_v_us").alias("sum_v_us"))
    )
    day = (
        hour.groupBy(
            F.date_trunc("day", "bucket").alias("bucket"), "event_type"
        ).agg(F.sum("n_events").alias("n_events"), F.sum("sum_v_us").alias("sum_v_us"))
    )

    def _grain(df: DataFrame, g: str) -> DataFrame:
        return df.select(
            F.lit(g).alias("grain"),
            F.unix_timestamp("bucket").alias("bucket_epoch"),
            "event_type",
            "n_events",
            "sum_v_us",
        )

    return _grain(minute, "minute").unionByName(_grain(hour, "hour")).unionByName(
        _grain(day, "day")
    )


@register(
    "skew_salted_agg",
    """
SELECT l_returnflag,
       round(sum(l_quantity), 2) AS sum_qty,
       count(*)::BIGINT AS n_rows,
       round(max(l_extendedprice), 2) AS max_price
FROM lineitem
GROUP BY l_returnflag
""",
)
def q_skew_salted_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4 skew path: 3 group keys over the whole lineitem table is the
    textbook hot-key aggregate — one reducer per key owns ~200k rows.
    ``salted_aggregate`` spreads each key over 16 salts (phase 1) and
    merges partials (phase 2); algebraic aggregates decompose exactly,
    so the result equals the plain group-by the oracle runs."""
    l = load_table(spark, sf_dir, "lineitem")
    out = relational.salted_aggregate(
        l,
        ["l_returnflag"],
        {"l_quantity": "sum", "l_orderkey": "count", "l_extendedprice": "max"},
        n_salts=16,
    )
    return out.select(
        "l_returnflag",
        F.round("sum_l_quantity", 2).alias("sum_qty"),
        F.col("count_l_orderkey").alias("n_rows"),
        F.round("max_l_extendedprice", 2).alias("max_price"),
    )


@register(
    "scd2_merge",
    """
WITH cur AS (
  SELECT c_custkey, c_acctbal,
         1672531200 AS effective_ts, CAST(NULL AS BIGINT) AS end_ts
  FROM customer
), upd AS (
  SELECT c_custkey,
         CASE WHEN c_custkey % 10 = 0 THEN c_acctbal
              ELSE c_acctbal + 100.0 END AS new_bal,
         1704067200 AS ts
  FROM customer WHERE c_custkey % 5 = 0
), j AS (
  SELECT cur.c_custkey, cur.c_acctbal, cur.effective_ts, cur.end_ts,
         upd.new_bal, upd.ts
  FROM cur LEFT JOIN upd USING (c_custkey)
)
SELECT c_custkey, c_acctbal, effective_ts, end_ts
FROM j WHERE ts IS NULL OR new_bal = c_acctbal
UNION ALL
SELECT c_custkey, c_acctbal, effective_ts, ts AS end_ts
FROM j WHERE ts IS NOT NULL AND new_bal <> c_acctbal
UNION ALL
SELECT c_custkey, new_bal AS c_acctbal, ts AS effective_ts,
       CAST(NULL AS BIGINT) AS end_ts
FROM j WHERE ts IS NOT NULL AND new_bal <> c_acctbal
""",
)
def q_scd2_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] SCD2 merge on the oracle surface: customer balances as the
    slowly-changing dimension. Updates arrive for every 5th key
    (every 10th is a no-op refresh — must NOT open a new version);
    changed keys close the open row at the update timestamp and append
    the new version. One shuffle on the key; the oracle is the
    relational expansion of the same merge. Epoch-second BIGINT
    timestamps; no float rounding anywhere (the +100.0 shift is exact
    on both engines)."""
    c = load_table(spark, sf_dir, "customer")
    current = c.select(
        "c_custkey",
        "c_acctbal",
        F.lit(1672531200).cast("bigint").alias("effective_ts"),
        F.lit(None).cast("bigint").alias("end_ts"),
    )
    updates = (
        c.filter(F.col("c_custkey") % 5 == 0)
        .select(
            "c_custkey",
            F.when(F.col("c_custkey") % 10 == 0, F.col("c_acctbal"))
            .otherwise(F.col("c_acctbal") + F.lit(100.0))
            .alias("c_acctbal"),
            F.lit(1704067200).cast("bigint").alias("effective_ts"),
        )
    )
    return relational.scd2_merge(
        current, updates, "c_custkey", ["c_acctbal"], ts_col="effective_ts"
    )


@register(
    "mad_stats",
    """
WITH med AS (
  SELECT event_type, percentile_cont(0.5) WITHIN GROUP (ORDER BY value) AS med
  FROM events GROUP BY event_type
)
SELECT e.event_type,
       round(any_value(m.med) + 1e-9, 6) AS median_value,
       round(percentile_cont(0.5) WITHIN GROUP (ORDER BY abs(e.value - m.med))
             + 1e-9, 6) AS mad
FROM events e JOIN med m USING (event_type)
GROUP BY e.event_type
""",
)
def q_mad_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4 robust statistics: per-group median and median-absolute-
    deviation — the outlier-resistant scale estimate a quality
    pipeline uses to clip anomalous feature values. Two exact
    percentile passes (median, then median of |x − median| via a
    broadcast of the 5-row median dim). At 100 TB swap in
    approx_percentile (approx_stats is the registered sketch twin)."""
    ev = load_table(spark, sf_dir, "events")
    med = ev.groupBy("event_type").agg(
        F.expr("percentile(value, 0.5)").alias("med")
    )
    eps = F.lit(1e-9)
    return (
        ev.join(F.broadcast(med), "event_type")
        .groupBy("event_type")
        .agg(
            F.round(F.first("med") + eps, 6).alias("median_value"),
            F.round(
                F.expr("percentile(abs(value - med), 0.5)") + eps, 6
            ).alias("mad"),
        )
    )


@register(
    "star_join_revenue",
    """
SELECT r.r_name AS region,
       n.n_name AS nation,
       count(DISTINCT o.o_orderkey)::BIGINT AS n_orders,
       ((sum(round(l.l_extendedprice * 100)::BIGINT
             * round((1 - l.l_discount) * 100)::BIGINT)::BIGINT + 50)
        // 100) / 100.0::DOUBLE AS revenue
FROM region r
JOIN nation n ON n.n_regionkey = r.r_regionkey
JOIN customer c ON c.c_nationkey = n.n_nationkey
JOIN orders o ON o.o_custkey = c.c_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
WHERE o.o_orderdate >= TIMESTAMP '1996-01-01'
  AND o.o_orderdate < TIMESTAMP '1997-01-01'
  AND l.l_returnflag = 'R'
GROUP BY r.r_name, n.n_name
""",
)
def q_star_join_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2 at benchmark shape (TPC-H Q5 family): 5-way star join —
    region/nation broadcast, customer⋈orders⋈lineitem hash joins with
    the date filter PUSHED to the orders scan and the returnflag
    filter pushed to lineitem (Catalyst reorders and prunes; nothing
    hand-scheduled). The plan the optimizer picks here — selective
    scans first, dims broadcast — is exactly the 100 TB plan.

    Revenue is bit-identical by exactness: each line is an exact
    BIGINT of ten-thousandths (price cents × discounted-percent), the
    sum is order-free, and the half-up rounding to cents is integer
    arithmetic before the one division by 100.0 — a double sum would
    round a total lying exactly on half a cent either way depending
    on the engine's addition order."""
    r = load_table(spark, sf_dir, "region")
    n = load_table(spark, sf_dir, "nation")
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01")
        & (F.col("o_orderdate") < "1997-01-01")
    )
    l = load_table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    return (
        F.broadcast(r)
        .join(F.broadcast(n), n.n_regionkey == r.r_regionkey)
        .join(c, c.c_nationkey == n.n_nationkey)
        .join(o, o.o_custkey == c.c_custkey)
        .join(l, l.l_orderkey == o.o_orderkey)
        .groupBy(F.col("r_name").alias("region"), F.col("n_name").alias("nation"))
        .agg(
            F.countDistinct("o_orderkey").alias("n_orders"),
            F.expr(
                "((sum(bigint(round(l_extendedprice * 100))"
                " * bigint(round((1 - l_discount) * 100))) + 50) div 100)"
                " / 100.0D"
            ).alias("revenue"),
        )
    )


@register(
    "dq_checks",
    """
SELECT 'documents_id_unique' AS check_name,
       (SELECT count(*) FROM (
          SELECT doc_id FROM documents GROUP BY doc_id HAVING count(*) > 1
        ))::BIGINT AS n_violations
UNION ALL
SELECT 'orders_custkey_fk',
       (SELECT count(*) FROM orders o
        WHERE NOT EXISTS (SELECT 1 FROM customer c
                          WHERE c.c_custkey = o.o_custkey))::BIGINT
UNION ALL
SELECT 'lineitem_orderkey_fk',
       (SELECT count(*) FROM lineitem l
        WHERE NOT EXISTS (SELECT 1 FROM orders o
                          WHERE o.o_orderkey = l.l_orderkey))::BIGINT
UNION ALL
SELECT 'embeddings_dim_64',
       (SELECT count(*) FROM embeddings WHERE len(embedding) <> 64)::BIGINT
UNION ALL
SELECT 'events_value_nonnegative',
       (SELECT count(*) FROM events WHERE value < 0)::BIGINT
""",
)
def q_dq_checks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] declarative data-quality gate (the dbt-test / Deequ shape
    a production pipeline runs before training): uniqueness,
    referential integrity (left-anti joins), and schema invariants,
    each reduced to a violation count. Anti joins broadcast the
    parent key set where small; every check is a scan + one
    aggregation — embarrassingly scalable."""
    docs = load_table(spark, sf_dir, "documents")
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    l = load_table(spark, sf_dir, "lineitem")
    emb = load_table(spark, sf_dir, "embeddings")
    ev = load_table(spark, sf_dir, "events")

    def count_df(name: str, df: DataFrame) -> DataFrame:
        return df.agg(F.count("*").cast("bigint").alias("n_violations")).select(
            F.lit(name).alias("check_name"), "n_violations"
        )

    dup_docs = (
        docs.groupBy("doc_id").agg(F.count("*").alias("n")).filter(F.col("n") > 1)
    )
    orders_fk = o.join(c, o.o_custkey == c.c_custkey, "left_anti")
    lineitem_fk = l.join(o, l.l_orderkey == o.o_orderkey, "left_anti")
    bad_dim = emb.filter(F.size("embedding") != 64)
    neg_val = ev.filter(F.col("value") < 0)

    return (
        count_df("documents_id_unique", dup_docs)
        .unionByName(count_df("orders_custkey_fk", orders_fk))
        .unionByName(count_df("lineitem_orderkey_fk", lineitem_fk))
        .unionByName(count_df("embeddings_dim_64", bad_dim))
        .unionByName(count_df("events_value_nonnegative", neg_val))
    )


@register(
    "shipping_priority",
    """
SELECT o.o_orderkey,
       round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue,
       floor(epoch(o.o_orderdate))::BIGINT AS orderdate_epoch,
       o.o_orderpriority
FROM orders o
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
WHERE o.o_orderdate < TIMESTAMP '1996-03-15'
  AND l.l_shipdate > TIMESTAMP '1996-03-15'
GROUP BY o.o_orderkey, o.o_orderdate, o.o_orderpriority
ORDER BY revenue DESC, o_orderkey ASC
LIMIT 10
""",
)
def q_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W1/J2 at benchmark shape (TPC-H Q3 family): unshipped-order
    revenue ranking. Both filters push to their scans BEFORE the join,
    the aggregate is partial+final, and the top-10 is
    TakeOrderedAndProject (per-partition partial top-N, never a global
    sort). Deterministic tie-break on orderkey."""
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < "1996-03-15"
    )
    l = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > "1996-03-15"
    )
    return (
        o.join(l, l.l_orderkey == o.o_orderkey)
        .groupBy("o_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .select(
            "o_orderkey",
            "revenue",
            F.unix_timestamp("o_orderdate").alias("orderdate_epoch"),
            "o_orderpriority",
        )
        .orderBy(F.col("revenue").desc(), F.col("o_orderkey").asc())
        .limit(10)
    )


@register(
    "column_profile",
    """
SELECT 'user_id' AS col,
       count(*)::BIGINT AS n_rows,
       sum(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END)::BIGINT AS n_nulls,
       count(DISTINCT user_id)::BIGINT AS n_distinct,
       round(min(user_id), 4) AS min_v,
       round(max(user_id), 4) AS max_v
FROM events
UNION ALL
SELECT 'value', count(*)::BIGINT,
       sum(CASE WHEN value IS NULL THEN 1 ELSE 0 END)::BIGINT,
       count(DISTINCT value)::BIGINT, round(min(value), 4), round(max(value), 4)
FROM events
UNION ALL
SELECT 'event_id', count(*)::BIGINT,
       sum(CASE WHEN event_id IS NULL THEN 1 ELSE 0 END)::BIGINT,
       count(DISTINCT event_id)::BIGINT,
       round(min(event_id), 4), round(max(event_id), 4)
FROM events
""",
)
def q_column_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] data profiling (the dbt-docs / Deequ profile): per-column
    rows, nulls, exact distinct count, min/max — driven off the schema
    so the same operator profiles ANY table. Each column's profile is
    one scan aggregate; Spark shares the scan across the union."""
    ev = load_table(spark, sf_dir, "events")

    def prof(c: str) -> DataFrame:
        col = F.col(c).cast("double")
        return ev.agg(
            F.count("*").alias("n_rows"),
            F.sum(F.col(c).isNull().cast("bigint")).alias("n_nulls"),
            F.countDistinct(c).alias("n_distinct"),
            F.round(F.min(col), 4).alias("min_v"),
            F.round(F.max(col), 4).alias("max_v"),
        ).select(F.lit(c).alias("col"), "*")

    return prof("user_id").unionByName(prof("value")).unionByName(prof("event_id"))


@register(
    "cdc_compact",
    """
WITH ranked AS (
  SELECT user_id, event_id, event_type, value, ts,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY ts DESC, event_id DESC) AS rn
  FROM events
)
SELECT user_id,
       event_id AS last_event_id,
       event_type AS last_event_type,
       round(value, 4) AS last_value,
       floor(epoch(ts))::BIGINT AS last_ts_epoch
FROM ranked WHERE rn = 1
""",
)
def q_cdc_compact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] CDC read-side compaction: materialize the LATEST state
    per key from an append-only change stream (keep-last by event
    time, deterministic event_id tie-break) — the upsert view every
    log-structured table derives. One window per key; at scale this is
    the compaction job behind merge-on-read tables."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "user_id",
            F.col("event_id").alias("last_event_id"),
            F.col("event_type").alias("last_event_type"),
            F.round("value", 4).alias("last_value"),
            F.unix_timestamp("ts").alias("last_ts_epoch"),
        )
    )


@register(
    "skew_salted_join",
    """
WITH dim AS (
  SELECT DISTINCT o_orderpriority,
         substr(o_orderpriority, 1, 1)::INT AS prio_rank
  FROM orders
)
SELECT o.o_orderpriority, d.prio_rank,
       count(*)::BIGINT AS n_orders,
       round(sum(o_totalprice), 2) AS sum_price
FROM orders o JOIN dim d USING (o_orderpriority)
GROUP BY o.o_orderpriority, d.prio_rank
""",
)
def q_skew_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2 skew path: every orders row joins a 5-row priority dim — the
    textbook hot-key shuffle join (5 reducers own the whole fact). The
    engine salts the fact side over 8 deterministic salts and
    replicates the dim 8×, so each hot key spreads over 8 reducers;
    results are row-identical to the plain join the oracle runs.
    Complements `skew_salted_agg` (aggregates) and AQE skew handling
    (sort-merge joins only)."""
    o = load_table(spark, sf_dir, "orders")
    dim = o.select("o_orderpriority").distinct().withColumn(
        "prio_rank", F.substring("o_orderpriority", 1, 1).cast("int")
    )
    joined = relational.salted_join(
        o.select("o_orderpriority", "o_totalprice"), dim, "o_orderpriority", n_salts=8
    )
    return joined.groupBy("o_orderpriority", "prio_rank").agg(
        F.count("*").alias("n_orders"),
        F.round(F.sum("o_totalprice"), 2).alias("sum_price"),
    )


@register(
    "regression_stats",
    """
WITH o AS (
  SELECT o_orderpriority,
         (floor(epoch(o_orderdate))::BIGINT // 86400)::HUGEINT AS x,
         round(o_totalprice * 100)::HUGEINT AS yc
  FROM orders
), m AS (
  SELECT o_orderpriority, count(*)::HUGEINT AS n,
         sum(x) AS sx, sum(yc) AS sy,
         sum(x * x) AS sxx, sum(x * yc) AS sxy, sum(yc * yc) AS syy
  FROM o GROUP BY o_orderpriority
)
SELECT o_orderpriority, n::BIGINT AS n,
       round((n * sxy - sx * sy)::DOUBLE / (n * sxx - sx * sx)::DOUBLE
             / 100 + 1e-9, 4) AS slope,
       round((sy::DOUBLE / n::DOUBLE
              - (n * sxy - sx * sy)::DOUBLE / (n * sxx - sx * sx)::DOUBLE
                * (sx::DOUBLE / n::DOUBLE)) / 100 + 1e-9, 2) AS intercept,
       round((n * sxy - sx * sy)::DOUBLE
             / sqrt((n * sxx - sx * sx)::DOUBLE * (n * syy - sy * sy)::DOUBLE)
             + 1e-9, 6) AS corr_xy,
       round(sy::DOUBLE / n::DOUBLE / 100 + 1e-9, 2) AS mean_y
FROM m
""",
)
def q_regression_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4 regression aggregates: per-priority OLS trend of order value
    over order date — the monitoring query every pipeline dashboard
    runs ("is value drifting?"). Single map-side-combined hash agg.

    r12 rewrite (the rolling_beta discipline, from the tie-distance
    audit): the natives regr_slope/regr_intercept/corr accumulate
    float co-moments whose merge order differs between engines, and
    the corr/slope ratios subtract near-equal large moments
    (catastrophic cancellation amplifies a ~1e-16 accumulation
    difference into ~1e-6 of the readout — exactly the class that
    made rolling_beta hash-red in r10, and corr_xy here is exposed
    at 6 dp). Instead: prices as exact integer CENTS, the five
    moments as exact DECIMAL(38,0) sums (order-independent by
    exactness), and every readout composed in DOUBLE from those
    exact scalars with the identical formula on both engines —
    bit-identical, no luck."""
    dec = "decimal(38,0)"
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderpriority",
        F.expr("unix_timestamp(o_orderdate) div 86400")
        .cast(dec)
        .alias("x"),
        F.round(F.col("o_totalprice") * 100).cast(dec).alias("yc"),
    )
    m = o.groupBy("o_orderpriority").agg(
        F.count("*").cast(dec).alias("n"),
        F.sum("x").cast(dec).alias("sx"),
        F.sum("yc").cast(dec).alias("sy"),
        F.sum(F.col("x") * F.col("x")).cast(dec).alias("sxx"),
        F.sum(F.col("x") * F.col("yc")).cast(dec).alias("sxy"),
        F.sum(F.col("yc") * F.col("yc")).cast(dec).alias("syy"),
    )
    d = lambda c: c.cast("double")  # noqa: E731
    cov = d(F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy"))
    varx = d(F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))
    vary = d(F.col("n") * F.col("syy") - F.col("sy") * F.col("sy"))
    slope = cov / varx
    eps = F.lit(1e-9)
    return m.select(
        "o_orderpriority",
        F.col("n").cast("bigint").alias("n"),
        F.round(slope / 100 + eps, 4).alias("slope"),
        F.round(
            (d(F.col("sy")) / d(F.col("n"))
             - slope * (d(F.col("sx")) / d(F.col("n")))) / 100 + eps,
            2,
        ).alias("intercept"),
        F.round(cov / F.sqrt(varx * vary) + eps, 6).alias("corr_xy"),
        F.round(d(F.col("sy")) / d(F.col("n")) / 100 + eps, 2).alias("mean_y"),
    )


@register(
    "ewma_smoothing",
    """
WITH e AS (
  SELECT user_id, event_id, floor(epoch(ts))::BIGINT AS ts_epoch, value,
         lag(value, 1) OVER w AS l1,
         lag(value, 2) OVER w AS l2,
         lag(value, 3) OVER w AS l3,
         lag(value, 4) OVER w AS l4
  FROM events
  WHERE user_id < 20
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
)
SELECT user_id, event_id, ts_epoch, value,
       round(
         (value * 1.0
          + coalesce(l1, 0.0) * 0.5
          + coalesce(l2, 0.0) * 0.25
          + coalesce(l3, 0.0) * 0.125
          + coalesce(l4, 0.0) * 0.0625)
         / (1.0
            + CASE WHEN l1 IS NULL THEN 0.0 ELSE 0.5 END
            + CASE WHEN l2 IS NULL THEN 0.0 ELSE 0.25 END
            + CASE WHEN l3 IS NULL THEN 0.0 ELSE 0.125 END
            + CASE WHEN l4 IS NULL THEN 0.0 ELSE 0.0625 END)
         + 1e-9, 4) AS ewma
FROM e
""",
)
def q_ewma_smoothing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W4 time-series: exponentially weighted moving average
    (alpha = 0.5, truncated at 5 taps, weights renormalized over the
    taps present) of event value per user in event-time order — the
    standard smoothing pass before anomaly thresholds. One per-user
    window with 4 lag() taps sharing a single sort; the fixed
    5-term fold is bit-deterministic (no long float sums), unlike a
    recursive EWMA which Spark cannot express without state."""
    e = load_table(spark, sf_dir, "events").filter(F.col("user_id") < 20)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    lags = {j: F.lag("value", j).over(w) for j in (1, 2, 3, 4)}
    weights = {1: 0.5, 2: 0.25, 3: 0.125, 4: 0.0625}
    num = F.col("value") * F.lit(1.0)
    den = F.lit(1.0)
    for j in (1, 2, 3, 4):
        num = num + F.coalesce(lags[j], F.lit(0.0)) * F.lit(weights[j])
        den = den + F.when(lags[j].isNull(), F.lit(0.0)).otherwise(
            F.lit(weights[j])
        )
    return e.select(
        "user_id",
        "event_id",
        F.unix_timestamp("ts").alias("ts_epoch"),
        "value",
        F.round(num / den + F.lit(1e-9), 4).alias("ewma"),
    )


@register(
    "gap_fill_daily",
    """
WITH daily AS (
  SELECT user_id, (ts::DATE - DATE '1970-01-01') AS day_num,
         count(*)::BIGINT AS n_events, round(sum(value), 2) AS day_value
  FROM events WHERE user_id < 50 GROUP BY 1, 2
), bounds AS (
  SELECT user_id, min(day_num) AS d0, max(day_num) AS d1
  FROM daily GROUP BY user_id
), grid AS (
  SELECT user_id, unnest(generate_series(d0, d1)) AS day_num FROM bounds
)
SELECT g.user_id, g.day_num::INT AS day_num,
       coalesce(d.n_events, 0)::BIGINT AS n_events,
       d.day_value,
       last_value(d.day_value IGNORE NULLS)
         OVER (PARTITION BY g.user_id ORDER BY g.day_num
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         AS filled_value,
       (d.day_value IS NULL)::INT AS is_gap
FROM grid g
LEFT JOIN daily d ON g.user_id = d.user_id AND g.day_num = d.day_num
""",
)
def q_gap_fill_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J4/W4 [EXT]: dense daily resample with LOCF gap fill — every
    day between each user's first and last event, observed days
    aggregated, missing days carried forward (gap-free panels for
    training windows / monitoring). All three stages key on user_id so
    one hash partitioning serves agg + bounds + fill window; day
    arithmetic is integer days-since-epoch, timezone-free
    (operators/relational.py:gap_fill_daily)."""
    e = load_table(spark, sf_dir, "events").filter(F.col("user_id") < 50)
    return relational.gap_fill_daily(e)


@register(
    "key_skew_profile",
    """
WITH per_key AS (
  SELECT o_custkey AS key, count(*)::BIGINT AS n
  FROM orders GROUP BY o_custkey
), hist AS (
  SELECT (CASE WHEN n = 0 THEN 0
               ELSE length(bin(n)) END)::INT AS log2_bucket,
         count(*)::BIGINT AS n_keys,
         sum(n)::BIGINT AS n_rows
  FROM per_key GROUP BY 1
), tot AS (
  SELECT count(*)::BIGINT AS total_keys, sum(n)::BIGINT AS total_rows
  FROM per_key
), hot AS (
  SELECT max(n)::BIGINT AS hottest FROM per_key
)
SELECT h.log2_bucket, h.n_keys, h.n_rows,
       round(h.n_rows::DOUBLE / t.total_rows, 6) AS row_share,
       round(o.hottest::DOUBLE * t.total_keys / t.total_rows, 4)
         AS hottest_vs_mean
FROM hist h, tot t, hot o
""",
)
def q_key_skew_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] join/agg-key skew diagnosis — the observability step that
    decides WHEN the salting family (skew_salted_join/agg, AQE skew
    split) is needed: per-key counts reduce to a log2-bucket histogram
    (bit-length of the count — exact integer arithmetic, no float
    log) plus the hottest-key-vs-mean ratio. Two map-side-combined
    aggs and a ≤64-row histogram; at 100 TB this is the query you run
    BEFORE choosing a join strategy, not after it fails."""
    o = load_table(spark, sf_dir, "orders")
    per_key = o.groupBy(F.col("o_custkey").alias("key")).agg(
        F.count("*").alias("n")
    )
    hist = per_key.groupBy(
        F.expr("length(conv(n, 10, 2))").cast("int").alias("log2_bucket")
    ).agg(
        F.count("*").alias("n_keys"),
        F.sum("n").alias("n_rows"),
    )
    tot = per_key.agg(
        F.count("*").alias("total_keys"), F.sum("n").alias("total_rows")
    )
    hot = per_key.agg(F.max("n").alias("hottest"))
    return (
        hist.crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(hot))
        .select(
            "log2_bucket",
            "n_keys",
            F.col("n_rows").cast("bigint").alias("n_rows"),
            F.round(
                F.col("n_rows") / F.col("total_rows").cast("double"), 6
            ).alias("row_share"),
            F.round(
                F.col("hottest").cast("double")
                * F.col("total_keys")
                / F.col("total_rows"),
                4,
            ).alias("hottest_vs_mean"),
        )
    )


@register(
    "gap_fill_interpolate",
    """
WITH daily AS (
  SELECT user_id, (ts::DATE - DATE '1970-01-01') AS day_num,
         round(sum(value), 2) AS day_value
  FROM events WHERE user_id < 50 GROUP BY 1, 2
), bounds AS (
  SELECT user_id, min(day_num) AS d0, max(day_num) AS d1
  FROM daily GROUP BY user_id
), grid AS (
  SELECT user_id, unnest(generate_series(d0, d1)) AS day_num FROM bounds
), j AS (
  SELECT g.user_id, g.day_num, d.day_value
  FROM grid g
  LEFT JOIN daily d ON g.user_id = d.user_id AND g.day_num = d.day_num
), nb AS (
  SELECT user_id, day_num, day_value,
         last_value(day_value IGNORE NULLS) OVER w_back AS prev_v,
         last_value(CASE WHEN day_value IS NOT NULL THEN day_num END
                    IGNORE NULLS) OVER w_back AS prev_d,
         first_value(day_value IGNORE NULLS) OVER w_fwd AS next_v,
         first_value(CASE WHEN day_value IS NOT NULL THEN day_num END
                     IGNORE NULLS) OVER w_fwd AS next_d
  FROM j
  WINDOW
    w_back AS (PARTITION BY user_id ORDER BY day_num
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
    w_fwd AS (PARTITION BY user_id ORDER BY day_num
              ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
)
SELECT user_id, day_num::INT AS day_num, day_value,
       round(CASE WHEN day_value IS NOT NULL THEN day_value
                  ELSE prev_v + (next_v - prev_v)
                       * (day_num - prev_d)::DOUBLE
                       / (next_d - prev_d)::DOUBLE END,
             4) AS interp_value,
       (day_value IS NULL)::INT AS is_gap
FROM nb
""",
)
def q_gap_fill_interpolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J4/W4 [EXT]: dense daily resample with LINEAR interpolation —
    gap_fill_daily's companion for continuous metrics where
    carry-forward understates trends: each gap day blends the
    surrounding observed days by its fractional position. Two
    ignoreNulls window passes (backward last, forward first) over ONE
    per-key partitioning; grid endpoints are observed by construction
    so both neighbors always exist
    (operators/relational.py:gap_fill_interpolate)."""
    e = load_table(spark, sf_dir, "events").filter(F.col("user_id") < 50)
    return relational.gap_fill_interpolate(e)
