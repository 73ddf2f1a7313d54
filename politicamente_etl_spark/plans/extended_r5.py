"""Round-5 prep batch: graph & market-basket analytics (co-purchase
lift, triangle counting), skyline/Pareto frontiers, event-sequence regex
matching (MATCH_RECOGNIZE-lite), sessionized bounce rates, RLE run
analysis, 2-D histograms, conversion-latency histograms, day-of-week
seasonality, per-dimension embedding variance ranking, and per-source
top-k tokens.

These register beyond the round-4 driver window (50 slots, already
full); they are parity-verified locally this round and rotate into the
round-5 window. Same engine-parity rules as extended_r4*.py: integer
ppm ratios, picked (never computed) float outputs, epoch-day integers
instead of dates, deterministic tie-breaks everywhere.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F


def _basket_lift(
    li: DataFrame,
    *,
    min_both: int | None = None,
    min_support_ppm: int | None = None,
) -> DataFrame:
    """Shared market-basket core: distinct (order, part) →
    inverted-index self-join on the order key → pair aggregate with the
    support floor applied IN the aggregate, then broadcast scoring joins.

    Floor modes (exactly one must be set):
    - ``min_both`` — ABSOLUTE count floor. Oracle-pinned mode; does NOT
      scale (a fixed floor stops pruning as data grows — measured ×598k
      surviving pairs at ×8 data, tools/scale_probe.py --x 8).
    - ``min_support_ppm`` — RELATIVE floor: keep a pair iff
      n_both · 1e6 ≥ ppm · n_orders. The at-scale default: the floor
      rises with the corpus, so surviving-pair growth stays ~linear
      (tools/scale_probe.py). Integer arithmetic only — no float
      threshold drift between engines.
    """
    if (min_both is None) == (min_support_ppm is None):
        raise ValueError("set exactly one of min_both / min_support_ppm")
    from politicamente_etl_spark.operators.graph import cooccurrence_pairs

    n = li.agg(F.countDistinct("l_orderkey").alias("n_orders"))
    item = li.groupBy("l_partkey").agg(F.count("*").alias("c"))
    # r9 opt: one-shuffle pair builder (groupBy(order) + map-side pair
    # gen) replaces the inverted-index self-join; identical pair counts
    # (callers pass distinct (order, part) rows — see cooccurrence_pairs).
    pairs = cooccurrence_pairs(li, "l_orderkey", "l_partkey").select(
        F.col("pa").alias("part_a"),
        F.col("pb").alias("part_b"),
        F.col("cnt").alias("n_both"),
    )
    if min_both is not None:
        pairs = pairs.filter(F.col("n_both") >= min_both)
        pairs = pairs.join(F.broadcast(n))
    else:
        # 1-row broadcast aggregate rides the pair stream; the filter
        # stays integer-exact and executes before the scoring joins.
        pairs = pairs.join(F.broadcast(n)).filter(
            F.col("n_both") * F.lit(1_000_000)
            >= F.lit(int(min_support_ppm)) * F.col("n_orders")
        )
    return (
        pairs.join(
            F.broadcast(item.alias("ia")),
            F.col("part_a") == F.col("ia.l_partkey"),
        )
        .join(
            F.broadcast(item.alias("ib")),
            F.col("part_b") == F.col("ib.l_partkey"),
        )
        .select(
            "part_a",
            "part_b",
            F.col("n_both").cast("long").alias("n_both"),
            F.expr("n_both * 1000000 DIV ia.c").cast("long").alias(
                "conf_ppm"
            ),
            F.expr("n_both * n_orders * 1000000 DIV (ia.c * ib.c)")
            .cast("long")
            .alias("lift_ppm"),
        )
    )


def _register():
    from politicamente_etl_spark.plans.catalog import T, load_events, register

    # -- market basket / graph ----------------------------------------------

    @register(
        "basket_lift_pairs",
        sql="""
        WITH li AS (
            SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
        ), n AS (
            SELECT COUNT(DISTINCT l_orderkey) AS n_orders FROM li
        ), item AS (
            SELECT l_partkey, COUNT(*) AS c FROM li GROUP BY 1
        ), pairs AS (
            SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
                   COUNT(*) AS n_both
            FROM li a JOIN li b
              ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
            GROUP BY 1, 2
            HAVING COUNT(*) >= 3
        )
        SELECT part_a, part_b, CAST(n_both AS BIGINT) AS n_both,
               CAST(n_both * 1000000 // ia.c AS BIGINT) AS conf_ppm,
               CAST(n_both * n.n_orders * 1000000 // (ia.c * ib.c)
                    AS BIGINT) AS lift_ppm
        FROM pairs
        JOIN item ia ON part_a = ia.l_partkey
        JOIN item ib ON part_b = ib.l_partkey
        CROSS JOIN n
        """,
        tags=("ext-rel", "ext-graph"),
    )
    def q_basket_lift_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Market-basket association rules: co-purchased part pairs with
        support ≥ 3 orders, scored by confidence P(b|a) and lift
        P(a,b)/(P(a)P(b)) — the recommender/assortment primitive. The
        pair join is the inverted-index self-join on the order key
        (cost Σ_order k², k = parts per order ≈ 4), with the support
        floor applied IN the aggregate so low-support pairs never reach
        the scoring joins. All ratios are integer ppm.

        Measured (tools/scale_probe.py --x 8, sf0.1): join time ×3.0 for
        ×8 input — the pair join scales; what does NOT is the ABSOLUTE
        support floor (n_both ≥ 3), whose surviving-pair count exploded
        598,000× because replicated data multiplies every count. This
        absolute mode is kept as the oracle-pinned variant;
        ``basket_lift_pairs_rel`` is the at-scale default (relative
        ppm-of-orders floor, ~linear survivor growth — VERDICT r4 #2)."""
        li = (
            T(spark, sf_dir, "lineitem")
            .select("l_orderkey", "l_partkey")
            .distinct()
        )
        return _basket_lift(li, min_both=3)

    @register(
        "basket_lift_pairs_rel",
        sql="""
        WITH li AS (
            SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
        ), n AS (
            SELECT COUNT(DISTINCT l_orderkey) AS n_orders FROM li
        ), item AS (
            SELECT l_partkey, COUNT(*) AS c FROM li GROUP BY 1
        ), pairs AS (
            SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
                   COUNT(*) AS n_both
            FROM li a JOIN li b
              ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
            GROUP BY 1, 2
            HAVING COUNT(*) * 1000000 >= 180 * (SELECT n_orders FROM n)
        )
        SELECT part_a, part_b, CAST(n_both AS BIGINT) AS n_both,
               CAST(n_both * 1000000 // ia.c AS BIGINT) AS conf_ppm,
               CAST(n_both * n.n_orders * 1000000 // (ia.c * ib.c)
                    AS BIGINT) AS lift_ppm
        FROM pairs
        JOIN item ia ON part_a = ia.l_partkey
        JOIN item ib ON part_b = ib.l_partkey
        CROSS JOIN n
        """,
        tags=("ext-rel", "ext-graph"),
    )
    def q_basket_lift_pairs_rel(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Market-basket association rules with a RELATIVE support floor —
        the at-scale default (VERDICT r4 #2): keep a pair iff
        n_both · 1e6 ≥ 180 ppm · n_orders, i.e. the floor RISES with the
        corpus so surviving pairs grow ~linearly instead of the ×598k
        blow-up measured for the absolute floor at ×8 data
        (`tools/scale_probe.py --queries basket_lift_pairs,basket_lift_pairs_rel`
        measures both growth curves). 180 ppm of sf0.01's ~15k orders ≈ the same
        n_both ≥ 3 cut, so the oracle pins real rows at test scale while
        the semantics stay scale-invariant. Integer ppm arithmetic on
        both engines — no float-threshold drift."""
        li = (
            T(spark, sf_dir, "lineitem")
            .select("l_orderkey", "l_partkey")
            .distinct()
        )
        return _basket_lift(li, min_support_ppm=180)

    @register(
        "copurchase_triangles",
        sql="""
        WITH li AS (
            SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
        ), e AS (
            SELECT a.l_partkey AS pa, b.l_partkey AS pb
            FROM li a JOIN li b
              ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
            GROUP BY 1, 2 HAVING COUNT(*) >= 2
        ), tri AS (
            SELECT e1.pa AS a, e1.pb AS b, e2.pb AS c
            FROM e e1
            JOIN e e2 ON e1.pb = e2.pa
            JOIN e e3 ON e3.pa = e1.pa AND e3.pb = e2.pb
        ), verts AS (
            SELECT unnest([a, b, c]) AS part FROM tri
        )
        SELECT part, CAST(COUNT(*) AS BIGINT) AS n_triangles
        FROM verts GROUP BY part
        ORDER BY n_triangles DESC, part
        LIMIT 10
        """,
        tags=("ext-rel", "ext-graph"),
    )
    def q_copurchase_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Triangle counting on the co-purchase graph (edges = part pairs
        bought together in ≥2 orders): parts by triangle participation —
        the clustering-coefficient numerator, the standard
        community-density probe. Triangles enumerate via the two-hop
        equi-join over ORDERED edges (a<b<c), so each triangle counts
        once and the join degree is bounded by the support threshold.
        The per-part rollup is a narrow explode + TakeOrdered top-k."""
        li = (
            T(spark, sf_dir, "lineitem")
            .select("l_orderkey", "l_partkey")
            .distinct()
        )
        from politicamente_etl_spark.operators.graph import (
            cooccurrence_pairs,
        )

        # r9 opt: one-shuffle pair builder; identical support-2 edges.
        e = (
            cooccurrence_pairs(li, "l_orderkey", "l_partkey")
            .filter(F.col("cnt") >= 2)
            .select("pa", "pb")
        )
        e1, e2, e3 = e.alias("e1"), e.alias("e2"), e.alias("e3")
        tri = (
            e1.join(e2, F.col("e1.pb") == F.col("e2.pa"))
            .join(
                e3,
                (F.col("e3.pa") == F.col("e1.pa"))
                & (F.col("e3.pb") == F.col("e2.pb")),
            )
            .select(
                F.col("e1.pa").alias("a"),
                F.col("e1.pb").alias("b"),
                F.col("e2.pb").alias("c"),
            )
        )
        verts = tri.select(
            F.explode(F.array("a", "b", "c")).alias("part")
        )
        return (
            verts.groupBy("part")
            .agg(F.count("*").cast("long").alias("n_triangles"))
            .orderBy(F.col("n_triangles").desc(), "part")
            .limit(10)
        )

    @register(
        "copurchase_communities",
        sql="""
        WITH RECURSIVE li AS (
            SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
        ), e0 AS (
            SELECT a.l_partkey AS pa, b.l_partkey AS pb
            FROM li a JOIN li b
              ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
            GROUP BY 1, 2 HAVING COUNT(*) >= 2
        ), e AS (
            SELECT pa AS src, pb AS dst FROM e0
            UNION ALL SELECT pb AS src, pa AS dst FROM e0
        ), n AS (
            SELECT DISTINCT src AS node FROM e
        ), reach(node, label) AS (
            SELECT node, node AS label FROM n
            UNION
            SELECT e.dst AS node, r.label FROM reach r
            JOIN e ON e.src = r.node
        ), cc AS (
            SELECT node, MIN(label) AS component FROM reach GROUP BY node
        )
        SELECT component,
               CAST(COUNT(*) AS BIGINT) AS n_parts,
               CAST(SUM(node) AS BIGINT) AS part_checksum
        FROM cc GROUP BY component
        ORDER BY n_parts DESC, component
        LIMIT 20
        """,
        tags=("ext-rel", "ext-graph"),
    )
    def q_copurchase_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Connected components of the co-purchase graph via
        `graph.connected_components` — the large-star/small-star
        algorithm (Kiveris et al.), O(log n) rounds on ANY topology. This
        graph is exactly the case that demands it: one giant component
        holds 1860 of 1880 parts, so per-hop label propagation
        (`near_dup_clusters`, right for clique-shaped near-dup graphs)
        would need diameter-many rounds. The oracle closes the SAME
        reachability with a DuckDB RECURSIVE CTE — two entirely different
        fixpoint engines, one answer, per-component membership checksums
        included."""
        from politicamente_etl_spark.operators import graph

        li = (
            T(spark, sf_dir, "lineitem")
            .select("l_orderkey", "l_partkey")
            .distinct()
        )
        from politicamente_etl_spark.operators.graph import (
            cooccurrence_pairs,
        )

        # r9 opt: one-shuffle pair builder; identical support-2 edges.
        e = (
            cooccurrence_pairs(li, "l_orderkey", "l_partkey")
            .filter(F.col("cnt") >= 2)
            .select(
                F.col("pa").alias("src"), F.col("pb").alias("dst")
            )
        )
        cc = graph.connected_components(e)
        return (
            cc.groupBy("component")
            .agg(
                F.count("*").cast("long").alias("n_parts"),
                F.sum("node").cast("long").alias("part_checksum"),
            )
            .orderBy(F.col("n_parts").desc(), "component")
            .limit(20)
        )

    # -- skyline / sequences / sessions -------------------------------------

    @register(
        "pareto_frontier_orders",
        sql="""
        WITH o AS (
            SELECT o_orderkey,
                   CAST(floor(o_totalprice * 100) AS BIGINT) AS cents,
                   date_diff('day', DATE '1970-01-01',
                             CAST(o_orderdate AS DATE)) AS day
            FROM orders
        ), r AS (
            SELECT o_orderkey, cents, day,
                   MAX(day) OVER (ORDER BY cents DESC, day DESC, o_orderkey
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                       AS best_prev_day
            FROM o
        )
        SELECT o_orderkey, cents, CAST(day AS BIGINT) AS epoch_day
        FROM r
        WHERE best_prev_day IS NULL OR day > best_prev_day
        """,
        tags=("ext-rel", "ext-window"),
    )
    def q_pareto_frontier_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Pareto/skyline frontier of orders maximizing (price, recency):
        an order survives iff no other order is ≥ on both axes (exact
        duplicates dedup keep-first by orderkey) — the multi-criteria
        shortlist query, via the sort-sweep (keep rows whose date beats
        the running max over all better-priced rows).

        Scale shape: domination filtering is DISTRIBUTIVE — a globally
        non-dominated row is non-dominated in every subset — so the sweep
        runs twice: a LOCAL pass inside each of 32 hash buckets (fully
        parallel, prunes ~all rows), then the identical GLOBAL pass over
        only the local survivors (frontier-sized, tiny). The single-sort
        oracle SQL computes the same set because pass 1 only ever drops
        rows pass 2 would drop. Prices are integer cents, dates epoch-day
        integers."""
        o = T(spark, sf_dir, "orders").select(
            "o_orderkey",
            F.floor(F.col("o_totalprice") * 100).cast("long").alias("cents"),
            F.unix_date(F.to_date("o_orderdate")).alias("day"),
        )

        def sweep(df: DataFrame, *partition) -> DataFrame:
            w = (
                Window.partitionBy(*partition)
                .orderBy(F.col("cents").desc(), F.col("day").desc(), "o_orderkey")
                .rowsBetween(Window.unboundedPreceding, -1)
            ) if partition else (
                Window.orderBy(
                    F.col("cents").desc(), F.col("day").desc(), "o_orderkey"
                ).rowsBetween(Window.unboundedPreceding, -1)
            )
            return (
                df.withColumn("__best", F.max("day").over(w))
                .filter(F.col("__best").isNull() | (F.col("day") > F.col("__best")))
                .drop("__best")
            )

        local = sweep(
            o.withColumn("__b", F.pmod(F.col("o_orderkey"), F.lit(32))), "__b"
        ).drop("__b")
        return sweep(local).select(
            "o_orderkey", "cents", F.col("day").cast("long").alias("epoch_day")
        )

    @register(
        "event_sequence_regex",
        sql="""
        WITH s AS (
            SELECT user_id,
                   string_agg(substring(event_type, 1, 2), ''
                       ORDER BY epoch_us(ts), event_id) AS seq
            FROM events GROUP BY user_id
        )
        SELECT user_id,
               CAST(length(seq) / 2 AS BIGINT) AS n_events,
               CAST(length(regexp_extract_all(seq, '(cl)+pu')) AS BIGINT)
                   AS n_click_runs_to_purchase
        FROM s
        ORDER BY n_click_runs_to_purchase DESC, user_id
        LIMIT 50
        """,
        tags=("ext-events",),
    )
    def q_event_sequence_regex(spark: SparkSession, sf_dir: str) -> DataFrame:
        """MATCH_RECOGNIZE-lite: each user's chronological event stream is
        encoded as a compact symbol string (2-char type codes) and
        behavioral patterns become REGEX matches — here 'one or more
        clicks immediately followed by a purchase'. Sequence-pattern
        queries that would need row-pattern state machines compile to
        per-key string ops: one shuffle to assemble (deterministic
        (ts, event_id) order), then narrow regexp_count. Per-user
        sequences are the unit of parallelism; a user's stream must fit
        a row (bounded here; at web scale the encode step windows by
        session first — events_sessionization is that cut)."""
        ev = load_events(spark, sf_dir)
        seq = (
            ev.select(
                "user_id",
                F.struct(
                    F.unix_micros("ts").alias("t"),
                    F.col("event_id").alias("e"),
                    F.substring("event_type", 1, 2).alias("c"),
                ).alias("s"),
            )
            .groupBy("user_id")
            .agg(
                F.array_join(
                    F.transform(
                        F.array_sort(F.collect_list("s")), lambda x: x["c"]
                    ),
                    "",
                ).alias("seq")
            )
        )
        return (
            seq.select(
                "user_id",
                (F.length("seq") / 2).cast("long").alias("n_events"),
                F.regexp_count("seq", F.lit("(cl)+pu"))
                .cast("long")
                .alias("n_click_runs_to_purchase"),
            )
            .orderBy(F.col("n_click_runs_to_purchase").desc(), "user_id")
            .limit(50)
        )

    @register(
        "session_bounce_rate",
        sql="""
        WITH e AS (
            SELECT user_id, event_id, event_type,
                   CAST(epoch_us(ts) AS BIGINT) AS ts_us
            FROM events
        ), flagged AS (
            SELECT *, CASE WHEN lag(ts_us) OVER w IS NULL
                                OR ts_us - lag(ts_us) OVER w >= 1800000000
                           THEN 1 ELSE 0 END AS is_new
            FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)
        ), sess AS (
            SELECT *, SUM(is_new) OVER (PARTITION BY user_id
                       ORDER BY ts_us, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       AS session_no
            FROM flagged
        ), withfirst AS (
            SELECT *, first_value(event_type) OVER (
                       PARTITION BY user_id, session_no
                       ORDER BY ts_us, event_id) AS first_type
            FROM sess
        ), per AS (
            SELECT user_id, session_no, first_type,
                   COUNT(*) AS n_events
            FROM withfirst GROUP BY 1, 2, 3
        )
        SELECT first_type,
               CAST(COUNT(*) AS BIGINT) AS n_sessions,
               CAST(SUM(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_bounce,
               CAST(SUM(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) * 1000000
                    // COUNT(*) AS BIGINT) AS bounce_ppm
        FROM per GROUP BY first_type
        """,
        tags=("ext-events", "ext-window"),
    )
    def q_session_bounce_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Bounce rate by session entry point: 30-minute-gap sessions
        (same cut as events_sessionization), each attributed to its FIRST
        event type; a bounce is a single-event session — the landing-page
        quality metric. All three layers (gap flag, session number,
        per-session rollup) ride ONE user_id partitioning; the final
        rollup has event-type cardinality."""
        ev = load_events(spark, sf_dir)
        e = ev.select(
            "user_id",
            "event_id",
            "event_type",
            F.unix_micros("ts").alias("ts_us"),
        )
        wo = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
        flagged = e.withColumn(
            "is_new",
            F.when(
                F.lag("ts_us").over(wo).isNull()
                | (F.col("ts_us") - F.lag("ts_us").over(wo) >= 1_800_000_000),
                1,
            ).otherwise(0),
        )
        sess = flagged.withColumn(
            "session_no",
            F.sum("is_new").over(
                wo.rowsBetween(Window.unboundedPreceding, Window.currentRow)
            ),
        )
        wf = Window.partitionBy("user_id", "session_no").orderBy(
            "ts_us", "event_id"
        )
        per = (
            sess.withColumn("first_type", F.first("event_type").over(wf))
            .groupBy("user_id", "session_no", "first_type")
            .agg(F.count("*").alias("n_events"))
        )
        return (
            per.groupBy("first_type")
            .agg(
                F.count("*").cast("long").alias("n_sessions"),
                F.sum(F.when(F.col("n_events") == 1, 1).otherwise(0))
                .cast("long")
                .alias("n_bounce"),
            )
            .withColumn(
                "bounce_ppm",
                F.expr("n_bounce * 1000000 DIV n_sessions").cast("long"),
            )
        )

    @register(
        "conversion_latency_histogram",
        sql="""
        WITH c AS (
            SELECT event_id, user_id, CAST(epoch_us(ts) AS BIGINT) AS tc
            FROM events WHERE event_type = 'click'
        ), p AS (
            SELECT user_id, CAST(epoch_us(ts) AS BIGINT) AS tp
            FROM events WHERE event_type = 'purchase'
        ), lat AS (
            SELECT c.event_id, MIN(p.tp - c.tc) AS lat_us
            FROM c JOIN p ON p.user_id = c.user_id AND p.tp >= c.tc
            GROUP BY c.event_id
        )
        SELECT CASE WHEN lat_us < 60000000 THEN '0_under_1m'
                    WHEN lat_us < 600000000 THEN '1_under_10m'
                    WHEN lat_us < 1800000000 THEN '2_under_30m'
                    WHEN lat_us < 7200000000 THEN '3_under_2h'
                    WHEN lat_us < 86400000000 THEN '4_under_1d'
                    ELSE '5_over_1d' END AS bucket,
               CAST(COUNT(*) AS BIGINT) AS n_clicks,
               CAST(MIN(lat_us) AS BIGINT) AS min_lat_us,
               CAST(MAX(lat_us) AS BIGINT) AS max_lat_us
        FROM lat GROUP BY 1
        """,
        tags=("ext-events", "ext-temporal"),
    )
    def q_conversion_latency_histogram(
        spark: SparkSession, sf_dir: str
    ) -> DataFrame:
        """Click→first-purchase latency histogram (time-to-convert): each
        click's minimum wait to any later purchase by the same user,
        bucketed on a human-scale ladder — the funnel-timing complement
        of click_conversion_attribution. The join is per-user equi
        (range predicate filters inside the bucket-local product); all
        latencies are integer microseconds."""
        ev = load_events(spark, sf_dir)
        c = ev.filter(F.col("event_type") == "click").select(
            "event_id", "user_id", F.unix_micros("ts").alias("tc")
        )
        p = ev.filter(F.col("event_type") == "purchase").select(
            "user_id", F.unix_micros("ts").alias("tp")
        )
        lat = (
            c.join(p, "user_id")
            .filter(F.col("tp") >= F.col("tc"))
            .groupBy("event_id")
            .agg(F.min(F.col("tp") - F.col("tc")).alias("lat_us"))
        )
        bucket = (
            F.when(F.col("lat_us") < 60_000_000, "0_under_1m")
            .when(F.col("lat_us") < 600_000_000, "1_under_10m")
            .when(F.col("lat_us") < 1_800_000_000, "2_under_30m")
            .when(F.col("lat_us") < 7_200_000_000, "3_under_2h")
            .when(F.col("lat_us") < 86_400_000_000, "4_under_1d")
            .otherwise("5_over_1d")
        )
        return (
            lat.withColumn("bucket", bucket)
            .groupBy("bucket")
            .agg(
                F.count("*").cast("long").alias("n_clicks"),
                F.min("lat_us").cast("long").alias("min_lat_us"),
                F.max("lat_us").cast("long").alias("max_lat_us"),
            )
        )

    @register(
        "ewma_user_value",
        sql="""
        WITH v AS (
            SELECT user_id, event_id,
                   CAST(epoch_us(ts) AS BIGINT) AS ts_us,
                   CAST(floor(value * 1000) AS BIGINT) AS vm
            FROM events
        ), lagged AS (
            SELECT user_id, event_id, vm,
                   ROW_NUMBER() OVER w AS rn,
                   COUNT(*) OVER (PARTITION BY user_id) AS n_events,
                   """
        + "\n                   + ".join(
            f"COALESCE(lag(vm, {k}) OVER w, 0) * {1 << (15 - k)}"
            for k in range(16)
        )
        + """ AS ewma_scaled
            FROM v
            WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)
        )
        SELECT user_id, CAST(n_events AS BIGINT) AS n_events,
               CAST(ewma_scaled AS BIGINT) AS ewma_scaled
        FROM lagged
        WHERE rn = n_events
        """,
        tags=("ext-events", "ext-window"),
    )
    def q_ewma_user_value(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Exponentially-weighted moving average of each user's event
        values at their latest event — the streaming-feature-store shape
        (recency-weighted activity level). α = 1/2 makes every weight a
        power of two, so the EWMA is an EXACT integer (Σ v_milli·2^(15-k)
        over the last 16 events) — no float decay products, engine-exact
        by construction. One user-ordered window; the 16 lag() calls all
        ride the same sort."""
        ev = load_events(spark, sf_dir)
        v = ev.select(
            "user_id",
            "event_id",
            F.unix_micros("ts").alias("ts_us"),
            F.floor(F.col("value") * 1000).cast("long").alias("vm"),
        )
        w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
        ewma = sum(
            F.coalesce(F.lag("vm", k).over(w), F.lit(0))
            * F.lit(1 << (15 - k))
            for k in range(16)
        )
        lagged = (
            v.withColumn("rn", F.row_number().over(w))
            .withColumn(
                "n_events", F.count("*").over(Window.partitionBy("user_id"))
            )
            .withColumn("ewma_scaled", ewma)
        )
        return (
            lagged.filter(F.col("rn") == F.col("n_events"))
            .select(
                "user_id",
                F.col("n_events").cast("long").alias("n_events"),
                F.col("ewma_scaled").cast("long").alias("ewma_scaled"),
            )
        )

    @register(
        "theil_sen_revenue_trend",
        sql="""
        WITH daily AS (
            SELECT strftime(o_orderdate, '%Y-%m') AS month,
                   date_diff('day', DATE '1970-01-01',
                             CAST(o_orderdate AS DATE)) AS day,
                   SUM(CAST(floor(o_totalprice * 100) AS BIGINT)) AS cents
            FROM orders GROUP BY 1, 2
        ), slopes AS (
            SELECT a.month,
                   CAST(b.cents - a.cents AS DOUBLE)
                       / (b.day - a.day) AS slope,
                   a.day AS d1, b.day AS d2
            FROM daily a JOIN daily b
              ON a.month = b.month AND a.day < b.day
        ), ranked AS (
            SELECT month, slope,
                   ROW_NUMBER() OVER (PARTITION BY month
                                      ORDER BY slope, d1, d2) AS rn,
                   COUNT(*) OVER (PARTITION BY month) AS n_pairs
            FROM slopes
        )
        SELECT month, CAST(n_pairs AS BIGINT) AS n_pairs,
               slope AS median_slope_cents_per_day
        FROM ranked WHERE rn = (n_pairs + 1) // 2
        """,
        tags=("ext-agg", "ext-window"),
    )
    def q_theil_sen_revenue_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Theil–Sen robust trend of daily revenue per month: the MEDIAN
        of all pairwise day-to-day slopes — the outlier-immune answer to
        least-squares drift (one flash-sale day wrecks OLS; it moves
        Theil–Sen by one rank). Slopes divide exact integer cents by
        integer day gaps (identical IEEE doubles on both engines); the
        median is a PICKED value via a deterministic rank. The pair join
        is per-month (≤31 days → ≤465 pairs — the classic 'quadratic in
        the small dimension' shape)."""
        o = T(spark, sf_dir, "orders").select(
            F.date_format("o_orderdate", "yyyy-MM").alias("month"),
            F.unix_date(F.to_date("o_orderdate")).alias("day"),
            F.floor(F.col("o_totalprice") * 100).cast("long").alias("c"),
        )
        daily = o.groupBy("month", "day").agg(F.sum("c").alias("cents"))
        a, b = daily.alias("a"), daily.alias("b")
        slopes = a.join(
            b,
            (F.col("a.month") == F.col("b.month"))
            & (F.col("a.day") < F.col("b.day")),
        ).select(
            F.col("a.month").alias("month"),
            (
                (F.col("b.cents") - F.col("a.cents")).cast("double")
                / (F.col("b.day") - F.col("a.day"))
            ).alias("slope"),
            F.col("a.day").alias("d1"),
            F.col("b.day").alias("d2"),
        )
        wr = Window.partitionBy("month").orderBy("slope", "d1", "d2")
        wn = Window.partitionBy("month")
        return (
            slopes.withColumn("rn", F.row_number().over(wr))
            .withColumn("n_pairs", F.count("*").over(wn))
            .filter(F.col("rn") == F.expr("(n_pairs + 1) DIV 2"))
            .select(
                "month",
                F.col("n_pairs").cast("long").alias("n_pairs"),
                F.col("slope").alias("median_slope_cents_per_day"),
            )
        )

    # -- profiles / histograms ----------------------------------------------

    @register(
        "hist2d_price_quantity",
        sql="""
        SELECT CAST(floor(l_extendedprice / 10000) AS BIGINT)
                   AS price_bucket,
               CAST(l_quantity AS BIGINT) AS quantity,
               CAST(COUNT(*) AS BIGINT) AS n_lines
        FROM lineitem
        GROUP BY 1, 2
        """,
        tags=("ext-agg", "ext-profile"),
    )
    def q_hist2d_price_quantity(spark: SparkSession, sf_dir: str) -> DataFrame:
        """2-D histogram (price band × quantity) of line items — the
        joint-distribution heatmap backing pricing dashboards. One
        partial-agg shuffle on the compact bucket pair; bucket ids are
        integer floor-division, so bin edges are engine-exact."""
        li = T(spark, sf_dir, "lineitem")
        return (
            li.select(
                F.floor(F.col("l_extendedprice") / 10000)
                .cast("long")
                .alias("price_bucket"),
                F.col("l_quantity").cast("long").alias("quantity"),
            )
            .groupBy("price_bucket", "quantity")
            .agg(F.count("*").cast("long").alias("n_lines"))
        )

    @register(
        "orders_dow_seasonality",
        sql="""
        WITH d AS (
            SELECT (date_diff('day', DATE '1970-01-01',
                              CAST(o_orderdate AS DATE)) + 3) % 7 AS dow,
                   o_orderpriority AS priority
            FROM orders
        ), per AS (
            SELECT dow, priority, COUNT(*) AS n FROM d GROUP BY 1, 2
        ), tot AS (
            SELECT dow, SUM(n) AS t FROM per GROUP BY dow
        )
        SELECT per.dow, per.priority, CAST(per.n AS BIGINT) AS n_orders,
               CAST(per.n * 1000000 // tot.t AS BIGINT) AS share_ppm
        FROM per JOIN tot USING (dow)
        """,
        tags=("ext-agg", "ext-events"),
    )
    def q_orders_dow_seasonality(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Order-priority mix by day of week — weekly seasonality.
        Day-of-week is computed as (epoch_day + 3) mod 7 (0 = Monday):
        pure integer arithmetic instead of engine dayofweek() functions,
        whose week-start conventions differ between engines. Two tiny
        partial aggs; shares are integer ppm."""
        o = T(spark, sf_dir, "orders").select(
            ((F.unix_date(F.to_date("o_orderdate")) + 3) % 7).alias("dow"),
            F.col("o_orderpriority").alias("priority"),
        )
        per = o.groupBy("dow", "priority").agg(F.count("*").alias("n"))
        tot = per.groupBy("dow").agg(F.sum("n").alias("t"))
        return (
            per.join(F.broadcast(tot), "dow")
            .select(
                "dow",
                "priority",
                F.col("n").cast("long").alias("n_orders"),
                F.expr("n * 1000000 DIV t").cast("long").alias("share_ppm"),
            )
        )

    @register(
        "customer_status_runs",
        sql="""
        WITH o AS (
            SELECT o_custkey, o_orderkey, o_orderstatus,
                   date_diff('day', DATE '1970-01-01',
                             CAST(o_orderdate AS DATE)) AS day
            FROM orders
        ), flagged AS (
            SELECT o_custkey,
                   CASE WHEN lag(o_orderstatus) OVER w IS NULL
                             OR lag(o_orderstatus) OVER w <> o_orderstatus
                        THEN 1 ELSE 0 END AS is_new
            FROM o WINDOW w AS (PARTITION BY o_custkey
                                ORDER BY day, o_orderkey)
        ), runs AS (
            SELECT o_custkey,
                   CAST(COUNT(*) AS BIGINT) AS n_orders,
                   CAST(SUM(is_new) AS BIGINT) AS n_runs
            FROM flagged GROUP BY o_custkey
        )
        SELECT o_custkey, n_orders, n_runs
        FROM runs
        ORDER BY n_orders - n_runs DESC, o_custkey
        LIMIT 20
        """,
        tags=("ext-window", "ext-rel"),
    )
    def q_customer_status_runs(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Run-length structure of each customer's chronological order
        STATUS sequence (how streaky is fulfillment?): run starts flag on
        status change, runs counted per customer, ranked by total
        repetition (orders − runs) — the RLE compression view of a
        categorical time series. One user-partitioned window + one agg
        on the same shuffle; TakeOrdered top-k."""
        o = T(spark, sf_dir, "orders").select(
            "o_custkey",
            "o_orderkey",
            "o_orderstatus",
            F.unix_date(F.to_date("o_orderdate")).alias("day"),
        )
        w = Window.partitionBy("o_custkey").orderBy("day", "o_orderkey")
        flagged = o.withColumn(
            "is_new",
            F.when(
                F.lag("o_orderstatus").over(w).isNull()
                | (F.lag("o_orderstatus").over(w) != F.col("o_orderstatus")),
                1,
            ).otherwise(0),
        )
        runs = flagged.groupBy("o_custkey").agg(
            F.count("*").cast("long").alias("n_orders"),
            F.sum("is_new").cast("long").alias("n_runs"),
        )
        return runs.orderBy(
            (F.col("n_orders") - F.col("n_runs")).desc(), "o_custkey"
        ).limit(20).select("o_custkey", "n_orders", "n_runs")

    # -- embeddings / text --------------------------------------------------

    @register(
        "embedding_dim_variance_rank",
        sql="""
        WITH m AS (
            SELECT i,
                   CAST(floor(CAST(embedding[i] AS DOUBLE) * 1000) AS BIGINT)
                       AS mv
            FROM embeddings, unnest(generate_series(1, 64)) AS t(i)
        ), st AS (
            SELECT i, COUNT(*) AS n, SUM(mv) AS s, SUM(mv * mv) AS ss
            FROM m GROUP BY i
        )
        SELECT CAST(i AS BIGINT) AS dim,
               CAST(n * ss - s * s AS BIGINT) AS var_num,
               CAST(s AS BIGINT) AS sum_milli
        FROM st
        ORDER BY var_num DESC, dim
        LIMIT 16
        """,
        tags=("ext-sim", "ext-profile"),
    )
    def q_embedding_dim_variance_rank(
        spark: SparkSession, sf_dir: str
    ) -> DataFrame:
        """Per-dimension variance ranking of the embedding space (top 16
        of 64) — the feature-selection signal for PQ subspace design and
        dead-dimension detection (a near-zero-variance dim wastes code
        bits). Variance surfaces as its exact integer numerator
        n·Σx² − (Σx)² over milli-snapped components: no division, no
        float accumulation, order-independent. One partial agg keyed by
        dimension (64 groups) over the posexplode."""
        emb = T(spark, sf_dir, "embeddings")
        m = emb.select(
            F.posexplode("embedding").alias("i0", "e")
        ).select(
            (F.col("i0") + 1).alias("i"),
            F.floor(F.col("e").cast("double") * 1000).cast("long").alias("mv"),
        )
        st = m.groupBy("i").agg(
            F.count("*").alias("n"),
            F.sum("mv").alias("s"),
            F.sum(F.col("mv") * F.col("mv")).alias("ss"),
        )
        return (
            st.select(
                F.col("i").cast("long").alias("dim"),
                (F.col("n") * F.col("ss") - F.col("s") * F.col("s"))
                .cast("long")
                .alias("var_num"),
                F.col("s").cast("long").alias("sum_milli"),
            )
            .orderBy(F.col("var_num").desc(), "dim")
            .limit(16)
        )

    @register(
        "streaming_cdc_changelog",
        sql="""
        WITH a AS (
            SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n
            FROM events WHERE event_id % 2 = 0 GROUP BY 1
        ), b AS (
            SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n
            FROM events WHERE event_id % 2 = 1 GROUP BY 1
        )
        SELECT event_type, CAST(0 AS BIGINT) AS batch_id,
               CAST(0 AS BIGINT) AS old_n, n AS new_n,
               'insert' AS change_type
        FROM a
        UNION ALL
        SELECT b.event_type, CAST(1 AS BIGINT) AS batch_id,
               COALESCE(a.n, 0) AS old_n,
               COALESCE(a.n, 0) + b.n AS new_n,
               CASE WHEN a.n IS NULL THEN 'insert' ELSE 'update' END
                   AS change_type
        FROM b LEFT JOIN a USING (event_type)
        """,
        tags=("ext-stream", "ext-cdc"),
    )
    def q_streaming_cdc_changelog(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Incremental view maintenance: a two-micro-batch replay of the
        events feed maintains a per-type count view through foreachBatch,
        and each batch's delta against the previous view state is emitted
        as a CDC changelog via the SAME `cdc.snapshot_diff` operator the
        batch engine uses — streaming materialized-view updates and batch
        CDC share one verified code path. The micro-batch split (event_id
        parity, mtime-pinned order) is deterministic, so every changelog
        row is oracle-checked, not just counted."""
        from politicamente_etl_spark.streaming import windows as W

        out = W.stream_cdc_changelog(spark, sf_dir)
        return out.select(
            "event_type",
            "batch_id",
            F.coalesce("old_n", F.lit(0)).cast("long").alias("old_n"),
            F.col("new_n").cast("long").alias("new_n"),
            "change_type",
        )

    @register(
        "top_tokens_per_source",
        sql="""
        WITH tc AS (
            SELECT source, unnest(string_split(text, ' ')) AS t
            FROM documents
        ), c AS (
            SELECT source, t, COUNT(*) AS n FROM tc GROUP BY 1, 2
        )
        SELECT source, t AS token, CAST(n AS BIGINT) AS n,
               CAST(row_number() OVER (PARTITION BY source
                    ORDER BY n DESC, t) AS BIGINT) AS rk
        FROM c
        QUALIFY rk <= 5
        """,
        tags=("ext-text", "ext-window"),
    )
    def q_top_tokens_per_source(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Top-5 tokens per source by frequency — the per-feed vocabulary
        fingerprint (sudden top-token shifts flag scraper breakage or
        content drift). Count shuffle on (source, token), then a
        per-source rank that Spark plans as WindowGroupLimit: only ~k
        rows per source survive the partial windows — no global sort."""
        docs = T(spark, sf_dir, "documents").select("source", "text")
        c = (
            docs.select("source", F.explode(F.split("text", " ")).alias("t"))
            .groupBy("source", "t")
            .agg(F.count("*").alias("n"))
        )
        w = Window.partitionBy("source").orderBy(F.col("n").desc(), "t")
        return (
            c.withColumn("rk", F.row_number().over(w).cast("long"))
            .filter(F.col("rk") <= 5)
            .select("source", F.col("t").alias("token"), F.col("n").cast("long").alias("n"), "rk")
        )


_register()
