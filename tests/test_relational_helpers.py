"""Salted aggregation equivalence + incremental embedding append."""

from __future__ import annotations

from pyspark.sql import functions as F

from resume_jd_matcher_spark.operators.embedding import embed_documents
from resume_jd_matcher_spark.operators.relational import (
    incremental_append,
    salted_aggregate,
)
from resume_jd_matcher_spark.sources.io import load_table

SF = "/root/testdata/sf0.001"


def test_salted_aggregate_equals_plain(spark):
    l = load_table(spark, SF, "lineitem")
    salted = salted_aggregate(
        l,
        ["l_returnflag"],
        {"l_quantity": "sum", "l_orderkey": "count", "l_extendedprice": "max"},
        n_salts=8,
    )
    plain = l.groupBy("l_returnflag").agg(
        F.sum("l_quantity").alias("sum_l_quantity"),
        F.count("l_orderkey").alias("count_l_orderkey"),
        F.max("l_extendedprice").alias("max_l_extendedprice"),
    )
    got = {r.l_returnflag: (round(r.sum_l_quantity, 6), r.count_l_orderkey, r.max_l_extendedprice) for r in salted.collect()}
    want = {r.l_returnflag: (round(r.sum_l_quantity, 6), r.count_l_orderkey, r.max_l_extendedprice) for r in plain.collect()}
    assert got == want


def test_incremental_append_embeds_only_delta(spark, tmp_path_factory):
    store = str(tmp_path_factory.mktemp("embstore") / "embeddings")
    docs = load_table(spark, SF, "documents")

    first = docs.filter(F.col("doc_id") < 300)
    embed_documents(first, backend="hash", dim=8).write.parquet(store)

    existing = spark.read.parquet(store)
    incoming = embed_documents(
        docs.filter(F.col("doc_id") < 400), backend="hash", dim=8
    )
    merged = incremental_append(existing, incoming, "doc_id")

    assert merged.count() == 400
    assert merged.select("doc_id").distinct().count() == 400
    # idempotent: appending the same delta again adds nothing
    again = incremental_append(merged, incoming, "doc_id")
    assert again.count() == 400


def test_observe_metrics_single_pass(spark, sf_dir):
    """Production jobs need row counts / quality metrics WITHOUT a
    second scan: Observation attaches aggregates to the one pass the
    job already makes (vs .count() + .agg() re-scans)."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    from resume_jd_matcher_spark.operators.textstats import text_quality
    from resume_jd_matcher_spark.sources.io import load_table

    obs = Observation("clean_metrics")
    scored = text_quality(load_table(spark, sf_dir, "documents")).observe(
        obs,
        F.count(F.lit(1)).alias("n_docs"),
        F.avg("quality").alias("mean_quality"),
        F.sum(F.col("quality").isNull().cast("int")).alias("null_quality"),
    )
    scored.write.format("noop").mode("overwrite").save()
    m = obs.get
    assert m["n_docs"] == 500
    assert 0.0 < m["mean_quality"] <= 1.0
    assert m["null_quality"] == 0


class TestRegressionAndEWMA:
    def test_regression_recovers_perfect_line(self, spark):
        from pyspark.sql import functions as F

        df = spark.createDataFrame(
            [("g", i, 3.0 * i + 7.0) for i in range(50)],
            "grp string, x long, y double",
        )
        [r] = (
            df.groupBy("grp")
            .agg(
                F.round(F.regr_slope("y", "x"), 6).alias("slope"),
                F.round(F.regr_intercept("y", "x"), 6).alias("icpt"),
                F.round(F.corr("y", "x"), 6).alias("c"),
            )
            .collect()
        )
        assert r["slope"] == 3.0 and r["icpt"] == 7.0 and r["c"] == 1.0

    def test_ewma_constant_series_is_constant(self, spark, sf_dir):
        from resume_jd_matcher_spark.queries.relational_q import q_ewma_smoothing

        out = q_ewma_smoothing(spark, sf_dir)
        assert out.count() > 0
        # spot property: every ewma lies within the running min/max of
        # the last 5 values (convexity of the renormalized weights)
        import pyspark.sql.functions as F
        from pyspark.sql import Window

        w = (
            Window.partitionBy("user_id")
            .orderBy("ts_epoch", "event_id")
            .rowsBetween(-4, 0)
        )
        chk = out.select(
            "ewma",
            F.min("value").over(w).alias("lo"),
            F.max("value").over(w).alias("hi"),
        )
        bad = chk.filter(
            (F.col("ewma") < F.col("lo") - 1e-6) | (F.col("ewma") > F.col("hi") + 1e-6)
        )
        assert bad.count() == 0

    def test_ewma_first_event_equals_value(self, spark, sf_dir):
        from pyspark.sql import Window
        from pyspark.sql import functions as F

        from resume_jd_matcher_spark.queries.relational_q import q_ewma_smoothing

        out = q_ewma_smoothing(spark, sf_dir)
        w = Window.partitionBy("user_id").orderBy("ts_epoch", "event_id")
        first = out.withColumn("rn", F.row_number().over(w)).filter("rn = 1")
        bad = first.filter(F.abs(F.col("ewma") - F.col("value")) > 1e-6)
        assert bad.count() == 0


def test_gap_fill_daily_locf(spark):
    """Dense grid per user between first and last day; gap days get
    n_events=0, NULL day_value, and the last observed value carried
    forward."""
    import datetime as dt

    from resume_jd_matcher_spark.operators.relational import gap_fill_daily

    rows = [
        (1, dt.datetime(2026, 1, 1, 10), 5.0),
        (1, dt.datetime(2026, 1, 1, 12), 7.0),
        (1, dt.datetime(2026, 1, 4, 9), 1.5),   # 2-day gap before
        (2, dt.datetime(2026, 1, 2, 0), 3.0),    # single-day user
    ]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp, value double")
    out = {
        (r["user_id"], r["day_num"]): r
        for r in gap_fill_daily(df).collect()
    }
    base = (dt.date(2026, 1, 1) - dt.date(1970, 1, 1)).days
    assert len(out) == 5  # 4 days for user 1, 1 day for user 2
    assert out[(1, base)]["day_value"] == 12.0
    g = out[(1, base + 1)]
    assert g["is_gap"] == 1 and g["n_events"] == 0
    assert g["day_value"] is None and g["filled_value"] == 12.0
    assert out[(1, base + 2)]["filled_value"] == 12.0
    assert out[(1, base + 3)]["is_gap"] == 0
    assert out[(1, base + 3)]["filled_value"] == 1.5
    assert out[(2, base + 1)]["is_gap"] == 0


def test_gap_fill_interpolate_linear_blend(spark):
    """A 3-day gap between observed values 10.0 and 2.0 interpolates
    linearly (8, 6, 4); observed days keep their own value."""
    import datetime as dt

    from resume_jd_matcher_spark.operators.relational import (
        gap_fill_interpolate,
    )

    rows = [
        (1, dt.datetime(2026, 2, 1, 9), 10.0),
        (1, dt.datetime(2026, 2, 5, 9), 2.0),  # 3 gap days between
    ]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp, value double")
    base = (dt.date(2026, 2, 1) - dt.date(1970, 1, 1)).days
    out = {r["day_num"]: r for r in gap_fill_interpolate(df).collect()}
    assert len(out) == 5
    assert out[base]["interp_value"] == 10.0 and out[base]["is_gap"] == 0
    assert out[base + 1]["interp_value"] == 8.0
    assert out[base + 2]["interp_value"] == 6.0
    assert out[base + 3]["interp_value"] == 4.0
    assert out[base + 4]["interp_value"] == 2.0


def test_star_join_revenue_rounds_half_cent_tie_up(spark, tmp_path):
    """Two lines whose exact discounted revenue is 56567.285 — a total
    lying on half a cent, which a double sum renders 56567.284999…
    and rounds down. The engine must return the exact half-up cents."""
    import datetime
    from decimal import ROUND_HALF_UP, Decimal

    import pyarrow as pa
    import pyarrow.parquet as pq

    from resume_jd_matcher_spark.queries.relational_q import (
        q_star_join_revenue,
    )

    lines = [(26346.58, 0.05), (33551.10, 0.06)]
    day = datetime.datetime(1996, 6, 1)
    tables = {
        "region": {"r_regionkey": [0], "r_name": ["R0"]},
        "nation": {"n_nationkey": [0], "n_name": ["N0"], "n_regionkey": [0]},
        "customer": {"c_custkey": [1], "c_nationkey": [0]},
        "orders": {"o_orderkey": [1, 2], "o_custkey": [1, 1], "o_orderdate": [day, day]},
        "lineitem": {
            "l_orderkey": [1, 2],
            "l_extendedprice": [p for p, _ in lines],
            "l_discount": [d for _, d in lines],
            "l_returnflag": ["R", "R"],
        },
    }
    for name, cols in tables.items():
        pq.write_table(pa.table(cols), str(tmp_path / f"{name}.parquet"))

    exact = sum(Decimal(str(p)) * (1 - Decimal(str(d))) for p, d in lines)
    assert exact == Decimal("56567.285")  # the fixture really is a tie
    want = float(exact.quantize(Decimal("0.01"), rounding=ROUND_HALF_UP))
    [row] = q_star_join_revenue(spark, str(tmp_path)).collect()
    assert (row["nation"], row["n_orders"]) == ("N0", 2)
    assert row["revenue"] == want == 56567.29
