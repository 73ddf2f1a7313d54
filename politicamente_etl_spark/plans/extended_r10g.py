"""Round-5 prep batch G: weekly trend/seasonal decomposition of the
revenue series, the empirical entropy rate of the event-type Markov
chain, and user growth accounting (new / retained / resurrected /
churned per week).

Registers beyond the round-5 driver window; parity-checked locally and
rotated into later windows. NOTE: registered after this round's final
full driver-sim snapshot — covered by `driver_sim.py <name>` + unit
tests until next round's sim."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

MICRO = 1_000_000


def _register():
    from politicamente_etl_spark.plans.catalog import T, load_events, register

    # -- decomposition: trend + day-of-week seasonality -----------------------

    @register(
        "weekly_decomposition_profile",
        sql="""
        WITH d AS (
            SELECT date_diff('day', DATE '1970-01-01',
                             CAST(o_orderdate AS DATE)) AS day,
                   CAST(SUM(CAST(o_totalprice AS DECIMAL(27,2))) * 100
                        AS BIGINT) AS cents
            FROM orders GROUP BY 1
        ), ma AS (
            SELECT day, cents,
                   SUM(cents) OVER w AS s7,
                   COUNT(*) OVER w AS k7
            FROM d
            WINDOW w AS (ORDER BY day ROWS BETWEEN 3 PRECEDING
                         AND 3 FOLLOWING)
        ), det AS (
            SELECT day % 7 AS dow, cents - s7 // 7 AS detrended
            FROM ma WHERE k7 = 7
        ), seas AS (
            SELECT dow, COUNT(*) AS n_days,
                   SUM(detrended) AS sum_det
            FROM det GROUP BY dow
        )
        SELECT CAST(s.dow AS BIGINT) AS dow,
               CAST(s.n_days AS BIGINT) AS n_days,
               CAST(s.sum_det // s.n_days AS BIGINT) AS seasonal_cents,
               CAST(SUM(abs(d.detrended - s.sum_det // s.n_days))
                    // s.n_days AS BIGINT) AS mean_abs_resid_cents
        FROM det d JOIN seas s ON d.dow = s.dow
        GROUP BY s.dow, s.n_days, s.sum_det
        """,
        tags=("ext-temporal", "ext-stats"),
    )
    def q_weekly_decomposition_profile(
        spark: SparkSession, sf_dir: str
    ) -> DataFrame:
        """Classical additive decomposition of daily revenue at weekly
        period: trend = centered 7-day moving average (full windows
        only), seasonal = per-day-of-week mean of the detrended series,
        residual = what's left — reported as per-dow seasonal effect
        plus mean absolute residual (the 'how seasonal is revenue, and
        how noisy after removing it' answer; pairs with the dow
        seasonality and Holt queries). Day-of-week is day mod 7
        (epoch-anchored, locale-free); all arithmetic integer cents
        with floor division.

        Scale shape: the daily aggregate is the data pass; the MA
        window, dow rollup, and residual join all run on the
        calendar-bounded series."""
        o = T(spark, sf_dir, "orders").select("o_orderdate", "o_totalprice")
        d = (
            o.groupBy(F.unix_date(F.to_date("o_orderdate")).alias("day"))
            .agg(
                (F.sum(F.col("o_totalprice").cast("decimal(27,2)")) * 100)
                .cast("long")
                .alias("cents")
            )
        )
        w7 = Window.orderBy("day").rowsBetween(-3, 3)
        ma = d.select(
            "day",
            "cents",
            F.sum("cents").over(w7).alias("s7"),
            F.count("*").over(w7).alias("k7"),
        )
        det = ma.filter(F.col("k7") == 7).select(
            F.pmod(F.col("day"), F.lit(7)).alias("dow"),
            (F.col("cents") - F.expr("s7 DIV 7")).alias("detrended"),
        )
        seas = det.groupBy("dow").agg(
            F.count("*").alias("n_days"),
            F.sum("detrended").alias("sum_det"),
        )
        return (
            det.join(seas, "dow")
            .groupBy("dow", "n_days", "sum_det")
            .agg(
                F.sum(
                    F.abs(
                        F.col("detrended") - F.expr("sum_det DIV n_days")
                    )
                ).alias("sum_abs_resid")
            )
            .select(
                F.col("dow").cast("long").alias("dow"),
                F.col("n_days").cast("long").alias("n_days"),
                F.expr("sum_det DIV n_days").cast("long").alias(
                    "seasonal_cents"
                ),
                F.expr("sum_abs_resid DIV n_days")
                .cast("long")
                .alias("mean_abs_resid_cents"),
            )
        )

    # -- information: empirical Markov entropy rate ---------------------------

    @register(
        "markov_entropy_rate",
        sql=f"""
        WITH seq AS (
            SELECT event_type AS cur,
                   lead(event_type) OVER (PARTITION BY user_id
                       ORDER BY ts, event_id) AS nxt
            FROM events
        ), hops AS (
            SELECT cur, nxt, COUNT(*) AS c
            FROM seq WHERE nxt IS NOT NULL GROUP BY 1, 2
        ), row_tot AS (
            SELECT cur, SUM(c) AS ci FROM hops GROUP BY cur
        ), n AS (
            SELECT SUM(c) AS total FROM hops
        )
        SELECT CAST(n.total AS BIGINT) AS n_transitions,
               CAST(COUNT(*) AS BIGINT) AS n_edges,
               CAST(-SUM(h.c * CAST(round(
                        ln(CAST(h.c AS DOUBLE) / r.ci) * {MICRO}, 0)
                    AS BIGINT)) // n.total AS BIGINT) AS entropy_rate_micro
        FROM hops h
        JOIN row_tot r ON h.cur = r.cur
        CROSS JOIN n
        GROUP BY n.total
        """,
        tags=("ext-events", "ext-stats"),
    )
    def q_markov_entropy_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Empirical entropy rate of the event-type Markov chain:
        H = −Σ_ij (c_ij/N)·ln(c_ij/c_i) in micro-nats per transition —
        how predictable the NEXT event is given the current one (0 =
        deterministic flows, ln(k) = uniform chaos). The
        sequence-compressibility fingerprint that complements the
        transition matrix and stationary-distribution queries. Each
        ln(p) micro-snaps at birth (house entropy pattern); one floor
        division at the end.

        Scale shape: the per-user lead window is the data pass; the
        chain tables are |event types|²."""
        ev = load_events(spark, sf_dir)
        seq = ev.select(
            F.col("event_type").alias("cur"),
            F.lead("event_type")
            .over(Window.partitionBy("user_id").orderBy("ts", "event_id"))
            .alias("nxt"),
        ).filter(F.col("nxt").isNotNull())
        hops = seq.groupBy("cur", "nxt").agg(F.count("*").alias("c"))
        row_tot = hops.groupBy("cur").agg(F.sum("c").alias("ci"))
        n = hops.agg(F.sum("c").alias("total"))
        lp = F.round(
            F.log(F.col("c").cast("double") / F.col("ci")) * MICRO, 0
        ).cast("long")
        return (
            hops.join(row_tot, "cur")
            .join(F.broadcast(n))
            .groupBy("total")
            .agg(
                F.count("*").cast("long").alias("n_edges"),
                F.expr(
                    f"-sum(c * cast(round(ln(cast(c as double) / ci)"
                    f" * {MICRO}, 0) as bigint)) DIV total"
                )
                .cast("long")
                .alias("entropy_rate_micro"),
            )
            .select(
                F.col("total").cast("long").alias("n_transitions"),
                "n_edges",
                "entropy_rate_micro",
            )
        )

    # -- growth accounting ----------------------------------------------------

    @register(
        "growth_accounting_weekly",
        sql="""
        WITH uw AS (
            SELECT DISTINCT user_id,
                   date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) // 7
                       AS week
            FROM events
        ), marked AS (
            SELECT user_id, week,
                   MIN(week) OVER (PARTITION BY user_id) AS first_week,
                   LAG(week) OVER (PARTITION BY user_id ORDER BY week)
                       AS prev_week
            FROM uw
        ), staged AS (
            SELECT week,
                   CASE WHEN week = first_week THEN 'new'
                        WHEN week - prev_week = 1 THEN 'retained'
                        ELSE 'resurrected' END AS stage
            FROM marked
        ), counts AS (
            SELECT week,
                   CAST(COUNT(*) AS BIGINT) AS n_active,
                   CAST(SUM(CASE WHEN stage = 'new' THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_new,
                   CAST(SUM(CASE WHEN stage = 'retained' THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_retained,
                   CAST(SUM(CASE WHEN stage = 'resurrected' THEN 1 ELSE 0
                        END) AS BIGINT) AS n_resurrected
            FROM staged GROUP BY week
        )
        SELECT CAST(week AS BIGINT) AS week,
               n_active, n_new, n_retained, n_resurrected,
               CAST(COALESCE(LAG(n_active) OVER (ORDER BY week), 0)
                    - n_retained AS BIGINT) AS n_churned_from_prev
        FROM counts
        """,
        tags=("ext-events", "ext-temporal"),
    )
    def q_growth_accounting_weekly(
        spark: SparkSession, sf_dir: str
    ) -> DataFrame:
        """Weekly growth accounting over event activity: every active
        (user, week) classifies as NEW (first-ever week), RETAINED
        (active the immediately preceding week) or RESURRECTED (back
        after a gap), and churn derives by conservation — churned(w) =
        active(w−1) − retained(w). The canonical MAU-decomposition
        every growth team reports; consecutive-week identities make it
        exactly checkable. Epoch weeks (day DIV 7, locale-free).

        Scale shape: one distinct (user, week), two per-user windows
        (the keys carry the scale), then week-grain bounded tables."""
        ev = T(spark, sf_dir, "events").select("user_id", "ts")
        uw = ev.select(
            "user_id",
            F.expr("unix_date(to_date(ts)) DIV 7").alias("week"),
        ).distinct()
        wu = Window.partitionBy("user_id")
        wlag = Window.partitionBy("user_id").orderBy("week")
        marked = uw.select(
            "week",
            F.min("week").over(wu).alias("first_week"),
            F.lag("week").over(wlag).alias("prev_week"),
        )
        stage = (
            F.when(F.col("week") == F.col("first_week"), F.lit("new"))
            .when(F.col("week") - F.col("prev_week") == 1, F.lit("retained"))
            .otherwise(F.lit("resurrected"))
        )
        counts = (
            marked.select("week", stage.alias("stage"))
            .groupBy("week")
            .agg(
                F.count("*").cast("long").alias("n_active"),
                F.sum(F.when(F.col("stage") == "new", 1).otherwise(0))
                .cast("long")
                .alias("n_new"),
                F.sum(F.when(F.col("stage") == "retained", 1).otherwise(0))
                .cast("long")
                .alias("n_retained"),
                F.sum(
                    F.when(F.col("stage") == "resurrected", 1).otherwise(0)
                )
                .cast("long")
                .alias("n_resurrected"),
            )
        )
        wk = Window.orderBy("week")
        return counts.select(
            F.col("week").cast("long").alias("week"),
            "n_active",
            "n_new",
            "n_retained",
            "n_resurrected",
            (
                F.coalesce(F.lag("n_active").over(wk), F.lit(0))
                - F.col("n_retained")
            )
            .cast("long")
            .alias("n_churned_from_prev"),
        )


_register()
