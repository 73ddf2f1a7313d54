"""Round-3 closing batch: bigram-LM quality scoring (self-scored corpus +
backoff-scored external batch) and VARIANT semi-structured analytics.

These register the operators that landed late in round 3
(`operators/text.py: bigram_logprob_scores / bigram_lm_tables /
score_with_bigram_lm`, `operators/semistruct.py`) as catalog queries with
DuckDB oracles, clearing the round-4 backlog SURVEY.md noted.

Oracle-parity rules carried from plans/extended.py / extended_r3.py:
- integer SUM/COUNT aggregates cast to BIGINT in the SQL (DuckDB HUGEINT
  artifact);
- ln() snapped to integer micro-nats BEFORE any sum, so floating-point
  accumulation order cannot differ between engines;
- bigram shingles: Spark's single-pass regex shingler produces the same
  strings as the DuckDB list comprehension for single-space text (parity
  pinned since r1 by `bigram_top_terms` / the minhash family);
- VARIANT never leaves Spark: queries compare only typed extractions
  (json_extract twins) or `schema_of_variant` strings, which the oracle
  maps from `json_structure` with an exhaustive CASE — a new upstream
  payload shape fails loudly instead of silently passing.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from politicamente_etl_spark.operators import semistruct, text
from politicamente_etl_spark.operators.text import OOV_BACKOFF_PENALTY_MICRO

# The two-shape JSON payload used by the VARIANT queries: purchases gain a
# "flag" field, every other event keeps the upstream single-key shape.
# Pure string surgery on single-'}' JSON, so both engines construct
# byte-identical payloads.
_PAYLOAD_SQL = """CASE WHEN event_type = 'purchase'
                 THEN replace(props, '}', ', "flag": 1}')
                 ELSE props END"""


def _payload_col():
    return F.when(
        F.col("event_type") == "purchase",
        F.replace(F.col("props"), F.lit("}"), F.lit(', "flag": 1}')),
    ).otherwise(F.col("props"))


def _register():
    from politicamente_etl_spark.plans.catalog import T, load_events, register

    # -- bigram language-model quality --------------------------------------

    @register(
        "bigram_logprob_quality",
        sql="""
        WITH t AS (
            SELECT doc_id, string_split(text, ' ') AS toks FROM documents
        ), bi AS (
            SELECT doc_id,
                   unnest([concat_ws(' ', toks[i], toks[i+1])
                           for i in range(1, len(toks))]) AS bg
            FROM t
        ), bgc AS (
            SELECT bg, COUNT(*) AS c_bg FROM bi GROUP BY bg
        ), lc AS (
            SELECT string_split(bg, ' ')[1] AS w1,
                   CAST(SUM(c_bg) AS BIGINT) AS c_left
            FROM bgc GROUP BY 1
        ), lp AS (
            SELECT bg,
                   CAST(round(ln(CAST(c_bg AS DOUBLE)
                                 / CAST(c_left AS DOUBLE)) * 1000000, 0)
                        AS BIGINT) AS lp_micro
            FROM bgc JOIN lc ON string_split(bgc.bg, ' ')[1] = lc.w1
        )
        SELECT b.doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_bigrams,
               CAST(SUM(l.lp_micro) AS BIGINT) AS sum_lp_micro,
               CAST(SUM(l.lp_micro) AS DOUBLE) / 1000000.0
                   / CAST(COUNT(*) AS DOUBLE) AS mean_logprob
        FROM bi b JOIN lp l USING (bg)
        GROUP BY b.doc_id
        """,
        tags=("ext-text",),
    )
    def q_bigram_logprob_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Context-aware quality scoring: per-doc mean ln P(w_i | w_{i-1})
        under the corpus's own bigram LM (`text.bigram_logprob_scores`) —
        catches shuffled word salad the unigram LM scores as fluent. MLE
        conditionals need no smoothing (corpus scored under its own
        counts); micro-nat snapping makes the per-doc sums exact on both
        engines."""
        return text.bigram_logprob_scores(T(spark, sf_dir, "documents"))

    @register(
        "bigram_backoff_score_batch",
        sql=f"""
        WITH ref AS (
            SELECT doc_id, text FROM documents WHERE doc_id % 5 <> 0
        ), batch AS (
            SELECT doc_id, text FROM documents WHERE doc_id % 5 = 0
        ), rt AS (
            SELECT string_split(text, ' ') AS toks FROM ref
        ), rbi AS (
            SELECT unnest([concat_ws(' ', toks[i], toks[i+1])
                           for i in range(1, len(toks))]) AS bg
            FROM rt
        ), bgc AS (
            SELECT bg, COUNT(*) AS c_bg FROM rbi GROUP BY bg
        ), lc AS (
            SELECT string_split(bg, ' ')[1] AS w1,
                   CAST(SUM(c_bg) AS BIGINT) AS c_left
            FROM bgc GROUP BY 1
        ), bg_lp AS (
            SELECT bg,
                   CAST(round(ln(CAST(c_bg AS DOUBLE)
                                 / CAST(c_left AS DOUBLE)) * 1000000, 0)
                        AS BIGINT) AS lp_micro
            FROM bgc JOIN lc ON string_split(bgc.bg, ' ')[1] = lc.w1
        ), rtok AS (
            SELECT unnest(string_split(text, ' ')) AS term FROM ref
        ), uc AS (
            SELECT term, COUNT(*) AS tf FROM rtok GROUP BY term
        ), tot AS (
            SELECT COUNT(*) AS n_total FROM rtok
        ), uni_lp AS (
            SELECT term,
                   CAST(round(ln(CAST(tf AS DOUBLE)
                                 / CAST(n_total AS DOUBLE)) * 1000000, 0)
                        AS BIGINT) AS uni_lp_micro
            FROM uc CROSS JOIN tot
        ), bt AS (
            SELECT doc_id, string_split(text, ' ') AS toks FROM batch
        ), bbi AS (
            SELECT doc_id,
                   unnest([concat_ws(' ', toks[i], toks[i+1])
                           for i in range(1, len(toks))]) AS bg
            FROM bt
        ), scored AS (
            SELECT b.doc_id,
                   COALESCE(g.lp_micro,
                            u.uni_lp_micro + ({OOV_BACKOFF_PENALTY_MICRO}),
                            {2 * OOV_BACKOFF_PENALTY_MICRO}) AS lp_eff,
                   CASE WHEN g.lp_micro IS NULL THEN 1 ELSE 0 END AS is_backoff
            FROM bbi b
            LEFT JOIN bg_lp g USING (bg)
            LEFT JOIN uni_lp u ON string_split(b.bg, ' ')[2] = u.term
        )
        SELECT doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_bigrams,
               CAST(SUM(lp_eff) AS BIGINT) AS sum_lp_micro,
               CAST(SUM(is_backoff) AS BIGINT) AS n_backoff,
               CAST(SUM(lp_eff) AS DOUBLE) / 1000000.0
                   / CAST(COUNT(*) AS DOUBLE) AS mean_logprob
        FROM scored
        GROUP BY doc_id
        """,
        tags=("ext-text",),
    )
    def q_bigram_backoff_score_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Score an EXTERNAL batch (hash-split fifth of the corpus) against
        a reference bigram LM trained on the rest — the nightly-ingest
        shape (`text.bigram_lm_tables` + `text.score_with_bigram_lm`):
        unseen transitions back off to the target unigram plus a fixed
        penalty; fully-novel tokens bottom out at twice the penalty.
        n_backoff per doc is itself the out-of-domain signal the corpus
        gate consumes."""
        docs = T(spark, sf_dir, "documents")
        ref = docs.filter(F.col("doc_id") % 5 != 0)
        batch = docs.filter(F.col("doc_id") % 5 == 0)
        bg_lp, uni_lp = text.bigram_lm_tables(ref)
        return text.score_with_bigram_lm(batch, bg_lp, uni_lp).select(
            "doc_id", "n_bigrams", "sum_lp_micro", "n_backoff", "mean_logprob"
        )

    # -- VARIANT semi-structured analytics ----------------------------------

    @register(
        "variant_props_extract",
        sql=f"""
        WITH p AS (
            SELECT event_type, {_PAYLOAD_SQL} AS payload FROM events
        )
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT) AS n_events,
               CAST(SUM(CAST(json_extract_string(payload, '$.k') AS BIGINT))
                    AS BIGINT) AS sum_k,
               CAST(SUM(CASE WHEN json_extract_string(payload, '$.flag')
                             IS NOT NULL THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_flagged
        FROM p GROUP BY event_type
        """,
        tags=("ext-json",),
    )
    def q_variant_props_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Typed VARIANT extraction (`semistruct.with_variant` +
        `variant_fields`): parse the two-shape payload ONCE into Spark 4's
        binary VARIANT, pull `$.k` / `$.flag` as typed columns
        (try_variant_get → NULL on missing paths, no job failure), roll up
        per event type. The oracle extracts the same paths from the same
        constructed JSON strings — the VARIANT value itself never needs to
        leave Spark."""
        ev = load_events(spark, sf_dir).withColumn("payload", _payload_col())
        v = semistruct.with_variant(ev, "payload", out="v")
        typed = semistruct.variant_fields(
            v, "v", {"k": ("$.k", "bigint"), "flag": ("$.flag", "bigint")}
        )
        return typed.groupBy("event_type").agg(
            F.count("*").cast("long").alias("n_events"),
            F.sum("k").cast("long").alias("sum_k"),
            F.count("flag").cast("long").alias("n_flagged"),
        )

    @register(
        "variant_schema_profile",
        sql=f"""
        WITH p AS (
            SELECT {_PAYLOAD_SQL} AS payload FROM events
        )
        SELECT CASE json_structure(payload)
                 WHEN '{{"k":"UBIGINT"}}'
                   THEN 'OBJECT<k: BIGINT>'
                 WHEN '{{"k":"UBIGINT","flag":"UBIGINT"}}'
                   THEN 'OBJECT<flag: BIGINT, k: BIGINT>'
                 ELSE 'UNMAPPED: ' || json_structure(payload)
               END AS variant_schema,
               CAST(COUNT(*) AS BIGINT) AS n_rows
        FROM p GROUP BY 1
        """,
        tags=("ext-json",),
    )
    def q_variant_schema_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Schema-drift audit (`semistruct.variant_schema_profile`):
        distinct `schema_of_variant` shapes of the payload with row
        counts — what a pipeline runs when an upstream feed starts
        emitting a new payload shape. One hash aggregate over a short
        schema string; output is |distinct shapes| rows at any corpus
        size. The oracle maps DuckDB's `json_structure` strings onto
        Spark's alphabetically-keyed rendering via an exhaustive CASE, so
        an unexpected upstream shape mismatches loudly."""
        ev = load_events(spark, sf_dir).withColumn("payload", _payload_col())
        v = semistruct.with_variant(ev, "payload", out="v")
        return semistruct.variant_schema_profile(v, "v").select(
            "variant_schema", F.col("n_rows").cast("long").alias("n_rows")
        )


_register()


def _register_rel2():
    """TPC-H-style decorrelation shapes (Q8/Q9/Q11/Q13/Q16/Q22 analogs —
    the schema carries no partsupp/receiptdate, so each query keeps the
    plan shape of its TPC-H namesake on the columns that exist) plus the
    gap-fill/locf temporal operator. All scalar subqueries broadcast a
    1-row aggregate (genuinely bounded — the one broadcast that can never
    outgrow the threshold); money aggregates decimal-snap before any
    division so cross-engine doubles compare exactly."""
    from politicamente_etl_spark.plans.catalog import T, register

    from politicamente_etl_spark.functions.scalar import (
        money_avg,
        money_sum,
        sql_money_avg,
        sql_money_sum,
    )
    from politicamente_etl_spark.operators import temporal

    @register(
        "order_count_distribution",
        sql="""
        WITH per_cust AS (
            SELECT c_custkey, COUNT(o_orderkey) AS n_orders
            FROM customer LEFT JOIN orders ON o_custkey = c_custkey
            GROUP BY c_custkey
        )
        SELECT CAST(n_orders AS BIGINT) AS n_orders,
               CAST(COUNT(*) AS BIGINT) AS n_customers
        FROM per_cust GROUP BY n_orders
        """,
        tags=("ext-rel",),
    )
    def q_order_count_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
        """TPC-H Q13 shape: customers LEFT JOIN orders (zero-order
        customers must survive), per-customer order count, then the
        distribution of counts. Two shuffles (join + first group) and a
        tiny second group — the histogram input is |customers| rows, its
        output |distinct counts|."""
        c = T(spark, sf_dir, "customer").select("c_custkey")
        o = T(spark, sf_dir, "orders").select("o_custkey", "o_orderkey")
        per_cust = (
            c.join(o, c.c_custkey == o.o_custkey, "left")
            .groupBy("c_custkey")
            .agg(F.count("o_orderkey").alias("n_orders"))
        )
        return per_cust.groupBy("n_orders").agg(
            F.count("*").alias("n_customers")
        )

    @register(
        "idle_rich_customers",
        sql=f"""
        WITH threshold AS (
            SELECT {sql_money_avg("c_acctbal", "avg_bal")}
            FROM customer WHERE c_acctbal > 0.0
        )
        SELECT c_nationkey,
               CAST(COUNT(*) AS BIGINT) AS n_custs,
               {sql_money_sum("c_acctbal", "total_bal")}
        FROM customer, threshold
        WHERE c_acctbal > avg_bal
          AND NOT EXISTS (
            SELECT 1 FROM orders
            WHERE o_custkey = c_custkey
              AND o_orderdate >= TIMESTAMP '2000-01-01'
          )
        GROUP BY c_nationkey
        """,
        tags=("ext-rel", "ext-subquery"),
    )
    def q_idle_rich_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
        """TPC-H Q22 shape: scalar-subquery threshold (mean positive
        balance, decimal-snapped so both engines divide the same exact
        sum) + NOT EXISTS over RECENT orders decorrelated to a LEFT ANTI
        join on the filtered order stream (the date predicate pushes to
        the orders scan before the anti join builds).
        The 1-row threshold broadcasts; the anti join hashes on the
        customer key."""
        c = T(spark, sf_dir, "customer")
        o = (
            T(spark, sf_dir, "orders")
            .filter(F.col("o_orderdate") >= F.lit("2000-01-01").cast("timestamp"))
            .select("o_custkey")
        )
        thr = c.filter(F.col("c_acctbal") > 0.0).agg(
            money_avg("c_acctbal", "avg_bal")
        )
        rich = c.join(F.broadcast(thr)).filter(
            F.col("c_acctbal") > F.col("avg_bal")
        )
        idle = rich.join(o, rich.c_custkey == o.o_custkey, "left_anti")
        return idle.groupBy("c_nationkey").agg(
            F.count("*").alias("n_custs"),
            money_sum(F.col("c_acctbal"), "total_bal"),
        )

    @register(
        "supplier_revenue_share_gate",
        sql=f"""
        WITH rev AS (
            SELECT l_suppkey,
                   {sql_money_sum("l_extendedprice * (1 - l_discount)",
                                  "revenue")}
            FROM lineitem GROUP BY l_suppkey
        ), tot AS (
            SELECT {sql_money_sum("l_extendedprice * (1 - l_discount)",
                                  "total_rev")}
            FROM lineitem
        ), n AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n_sup FROM rev
        )
        SELECT r.l_suppkey AS s_suppkey, s.s_name, r.revenue
        FROM rev r JOIN supplier s ON s.s_suppkey = r.l_suppkey, tot, n
        WHERE r.revenue > 1.05 * (total_rev / CAST(n_sup AS DOUBLE))
        """,
        tags=("ext-rel", "ext-subquery"),
    )
    def q_supplier_revenue_share_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
        """TPC-H Q11 shape: per-key aggregate gated on a scalar multiple
        of the global mean (1.05x — the synthetic revenue distribution is
        near-uniform, max/mean = 1.12). The global total is computed from the SOURCE
        rows with one decimal-snapped sum (never by re-summing per-key
        doubles, whose order differs between engines) and divided by the
        group count once — both 1-row sides broadcast."""
        li = T(spark, sf_dir, "lineitem")
        s = T(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
        rev_expr = F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount"))
        rev = li.groupBy("l_suppkey").agg(money_sum(rev_expr, "revenue"))
        tot = li.agg(money_sum(rev_expr, "total_rev"))
        n = rev.agg(F.count("*").alias("n_sup"))
        return (
            rev.join(F.broadcast(tot))
            .join(F.broadcast(n))
            .filter(
                F.col("revenue")
                > F.lit(1.05) * (F.col("total_rev") / F.col("n_sup").cast("double"))
            )
            .join(s, rev.l_suppkey == s.s_suppkey)
            .select(
                F.col("l_suppkey").alias("s_suppkey"), "s_name", "revenue"
            )
        )

    @register(
        "brand_supplier_counts",
        sql="""
        SELECT p_brand, p_size,
               CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS n_suppliers
        FROM part JOIN lineitem ON l_partkey = p_partkey
        WHERE l_suppkey NOT IN (
            -- NULL guard: a single NULL in a NOT IN list empties the
            -- result (three-valued logic); the Spark side is a left-anti
            -- join, which treats NULL build keys as non-matches. Same
            -- guard as data_quality_orders.
            SELECT s_suppkey FROM supplier
            WHERE s_acctbal < 0.0 AND s_suppkey IS NOT NULL
        )
        GROUP BY p_brand, p_size
        """,
        tags=("ext-rel", "ext-subquery"),
    )
    def q_brand_supplier_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
        """TPC-H Q16 shape: supplier diversity per (brand, size) with a
        NOT IN exclusion list. The exclusion decorrelates to a LEFT ANTI
        join against the (tiny, but unhinted) bad-supplier list; the
        distinct count shuffles once on the group key."""
        li = T(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
        p = T(spark, sf_dir, "part").select("p_partkey", "p_brand", "p_size")
        bad = (
            T(spark, sf_dir, "supplier")
            .filter(F.col("s_acctbal") < 0.0)
            .select("s_suppkey")
        )
        return (
            li.join(bad, li.l_suppkey == bad.s_suppkey, "left_anti")
            .join(p, li.l_partkey == p.p_partkey)
            .groupBy("p_brand", "p_size")
            .agg(F.count_distinct("l_suppkey").alias("n_suppliers"))
        )

    @register(
        "regional_market_share",
        sql=f"""
        WITH j AS (
            SELECT CAST(year(o_orderdate) AS INT) AS o_year,
                   l_extendedprice * (1 - l_discount) AS rev,
                   r_name
            FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
            JOIN supplier ON l_suppkey = s_suppkey
            JOIN nation ON s_nationkey = n_nationkey
            JOIN region ON n_regionkey = r_regionkey
        ), a AS (
            SELECT o_year,
                   {sql_money_sum(
                       "CASE WHEN r_name = 'ASIA' THEN rev ELSE 0 END",
                       "asia_revenue")},
                   {sql_money_sum("rev", "total_revenue")}
            FROM j GROUP BY o_year
        )
        SELECT o_year, asia_revenue, total_revenue,
               asia_revenue / total_revenue AS asia_share
        FROM a
        """,
        tags=("ext-rel",),
    )
    def q_regional_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
        """TPC-H Q8 shape: one supplier-region's share of yearly revenue.
        The fact shuffles once for the orders join; supplier→nation→region
        chain is dimension joins the planner broadcasts on its own. Both
        sums snap before the single share division."""
        li = T(spark, sf_dir, "lineitem")
        o = T(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
        s = T(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
        nat = T(spark, sf_dir, "nation").select("n_nationkey", "n_regionkey")
        r = T(spark, sf_dir, "region").select("r_regionkey", "r_name")
        rev = F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount"))
        j = (
            li.join(o, li.l_orderkey == o.o_orderkey)
            .join(s, li.l_suppkey == s.s_suppkey)
            .join(nat, s.s_nationkey == nat.n_nationkey)
            .join(r, nat.n_regionkey == r.r_regionkey)
            .select(
                F.year("o_orderdate").alias("o_year"),
                rev.alias("rev"),
                "r_name",
            )
        )
        return (
            j.groupBy("o_year")
            .agg(
                money_sum(
                    F.when(F.col("r_name") == "ASIA", F.col("rev")).otherwise(
                        0.0
                    ),
                    "asia_revenue",
                ),
                money_sum(F.col("rev"), "total_revenue"),
            )
            .withColumn(
                "asia_share", F.col("asia_revenue") / F.col("total_revenue")
            )
        )

    @register(
        "nation_product_margin",
        sql=f"""
        SELECT n_name, CAST(year(o_orderdate) AS INT) AS o_year,
               {sql_money_sum(
                   "l_extendedprice * (1 - l_discount)"
                   " - 0.8 * p_retailprice * l_quantity",
                   "margin")}
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN part ON l_partkey = p_partkey
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation ON s_nationkey = n_nationkey
        GROUP BY n_name, o_year
        """,
        tags=("ext-rel",),
    )
    def q_nation_product_margin(spark: SparkSession, sf_dir: str) -> DataFrame:
        """TPC-H Q9 shape (profit by nation and year; p_retailprice·0.8
        stands in for the absent ps_supplycost). Margin is computed per
        row in doubles — deterministic product/subtract — and snapped at
        the sum; the orders join is the one fact shuffle."""
        li = T(spark, sf_dir, "lineitem")
        o = T(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
        p = T(spark, sf_dir, "part").select("p_partkey", "p_retailprice")
        s = T(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
        nat = T(spark, sf_dir, "nation").select("n_nationkey", "n_name")
        margin = F.col("l_extendedprice") * (
            F.lit(1) - F.col("l_discount")
        ) - F.lit(0.8) * F.col("p_retailprice") * F.col("l_quantity")
        return (
            li.join(o, li.l_orderkey == o.o_orderkey)
            .join(p, li.l_partkey == p.p_partkey)
            .join(s, li.l_suppkey == s.s_suppkey)
            .join(nat, s.s_nationkey == nat.n_nationkey)
            .select(
                "n_name", F.year("o_orderdate").alias("o_year"), margin.alias("m")
            )
            .groupBy("n_name", "o_year")
            .agg(money_sum(F.col("m"), "margin"))
        )

    @register(
        "gap_fill_daily_revenue",
        sql=f"""
        WITH daily AS (
            SELECT n_name, CAST(o_orderdate AS DATE) AS day,
                   {sql_money_sum("o_totalprice", "revenue")}
            FROM orders
            JOIN customer ON o_custkey = c_custkey
            JOIN nation ON c_nationkey = n_nationkey
            GROUP BY n_name, day
        ), b AS (
            SELECT n_name, MIN(day) AS lo, MAX(day) AS hi
            FROM daily GROUP BY n_name
        ), grid AS (
            SELECT n_name,
                   CAST(unnest(generate_series(lo, hi, INTERVAL 1 DAY))
                        AS DATE) AS day
            FROM b
        ), filled AS (
            SELECT g.n_name, g.day, d.revenue,
                   last_value(d.revenue IGNORE NULLS) OVER (
                       PARTITION BY g.n_name ORDER BY g.day
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                   ) AS revenue_ffill
            FROM grid g LEFT JOIN daily d USING (n_name, day)
        )
        SELECT n_name, strftime(day, '%Y-%m-%d') AS day,
               COALESCE(revenue, 0.0) AS revenue_day,
               revenue_ffill,
               CAST(CASE WHEN revenue IS NULL THEN 0 ELSE 1 END AS BIGINT)
                   AS had_orders
        FROM filled
        """,
        tags=("ext-temporal", "ext-window"),
    )
    def q_gap_fill_daily_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Gap-fill + forward-fill (`temporal.gap_fill_forward`): per-nation
        daily revenue regridded onto each nation's dense calendar, gap days
        carrying the last observed value — the regularization step before
        any windowed model. The grid is generated per key (sequence +
        explode — born co-partitioned, no cross join); one running window
        per nation fills forward."""
        o = T(spark, sf_dir, "orders")
        c = T(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
        nat = T(spark, sf_dir, "nation").select("n_nationkey", "n_name")
        daily = (
            o.join(c, o.o_custkey == c.c_custkey)
            .join(nat, c.c_nationkey == nat.n_nationkey)
            .groupBy("n_name", F.col("o_orderdate").cast("date").alias("day"))
            .agg(money_sum(F.col("o_totalprice"), "revenue"))
        )
        filled = temporal.gap_fill_forward(
            daily, ["n_name"], "day", "revenue", fill_col="revenue_ffill"
        )
        return filled.select(
            "n_name",
            "day",
            F.coalesce("revenue", F.lit(0.0)).alias("revenue_day"),
            "revenue_ffill",
            F.col("revenue").isNotNull().cast("long").alias("had_orders"),
        )


_register_rel2()


def _register_stream_outer():
    from politicamente_etl_spark.plans.catalog import register

    @register(
        "streaming_left_outer_join",
        sql="""
        SELECT c.user_id,
               c.event_id AS left_id,
               COALESCE(p.event_id, -1) AS right_id,
               CAST(epoch_us(c.ts) AS BIGINT) AS left_ts_us,
               COALESCE(CAST(epoch_us(p.ts) AS BIGINT), -1) AS right_ts_us
        FROM events c
        LEFT JOIN events p
          ON p.user_id = c.user_id
         AND p.event_type = 'purchase'
         AND epoch_us(p.ts) >= epoch_us(c.ts)
         AND epoch_us(p.ts) <= epoch_us(c.ts) + 1800000000
        WHERE c.event_type = 'click'
        """,
        tags=("ext-stream", "ext-temporal"),
    )
    def q_streaming_left_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Stream-stream LEFT OUTER interval join: every click, matched to
        the same user's purchases within 30 minutes OR emitted with NULL
        right columns once the watermark proves no match can arrive — the
        attribution shape where unconverted clicks matter as much as
        conversions. Outer rows emit on state eviction (watermark >
        left_ts + within), so finite-replay equivalence needs the
        far-future sentinel batch (`stream_events_with_sentinel`) to push
        the final watermark past the last real click; production streams
        get that advancement for free from continuously-arriving data.
        NULLs are coalesced to -1 sentinels in both engines (oracle
        outputs never carry nullable compare columns)."""
        from politicamente_etl_spark.streaming import windows as W

        ev = W.stream_events_with_sentinel(spark, sf_dir)
        j = W.interval_join(
            ev, "click", "purchase", "30 minutes",
            watermark="10 minutes", how="left_outer",
        )
        out = W.run_stream_to_table(j, mode="append")
        return out.filter(F.col("user_id") >= 0).select(
            "user_id",
            "left_id",
            F.coalesce("right_id", F.lit(-1)).alias("right_id"),
            "left_ts_us",
            F.coalesce("right_ts_us", F.lit(-1)).alias("right_ts_us"),
        )


_register_stream_outer()


def _register_quality():
    from politicamente_etl_spark.plans.catalog import T, register

    @register(
        "data_quality_orders",
        sql="""
        SELECT 'not_null(o_custkey)' AS check_name,
               CAST(SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END)
                    AS BIGINT) AS metric,
               CAST(0 AS BIGINT) AS threshold,
               SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) <= 0
                   AS passed
        FROM orders
        UNION ALL
        SELECT 'in_range(o_totalprice,1.0,400000.0)',
               CAST(SUM(CASE WHEN o_totalprice IS NULL
                             OR o_totalprice < 1.0
                             OR o_totalprice > 400000.0
                        THEN 1 ELSE 0 END) AS BIGINT),
               CAST(0 AS BIGINT),
               SUM(CASE WHEN o_totalprice IS NULL OR o_totalprice < 1.0
                        OR o_totalprice > 400000.0
                   THEN 1 ELSE 0 END) <= 0
        FROM orders
        UNION ALL
        SELECT 'in_set(o_orderstatus)',
               CAST(SUM(CASE WHEN o_orderstatus IS NULL
                             OR o_orderstatus NOT IN ('F', 'O', 'P')
                        THEN 1 ELSE 0 END) AS BIGINT),
               CAST(0 AS BIGINT),
               SUM(CASE WHEN o_orderstatus IS NULL
                        OR o_orderstatus NOT IN ('F', 'O', 'P')
                   THEN 1 ELSE 0 END) <= 0
        FROM orders
        UNION ALL
        SELECT 'unique(o_orderkey)',
               CAST(COALESCE(SUM(n - 1), 0) AS BIGINT),
               CAST(0 AS BIGINT),
               COALESCE(SUM(n - 1), 0) <= 0
        FROM (SELECT COUNT(*) AS n FROM orders GROUP BY o_orderkey)
        UNION ALL
        SELECT 'ref(o_custkey->c_custkey)',
               CAST(COUNT(*) AS BIGINT),
               CAST(0 AS BIGINT),
               COUNT(*) <= 0
        FROM (
            -- anti-join semantics (referential_report): a NULL child key
            -- has no parent and COUNTS as dangling; plain NOT IN would
            -- evaluate NULL and silently drop it.
            SELECT o_custkey FROM orders
            WHERE o_custkey IS NULL
               OR o_custkey NOT IN (SELECT c_custkey FROM customer
                                    WHERE c_custkey IS NOT NULL)
        )
        """,
        tags=("ext-quality", "ext-rel"),
    )
    def q_data_quality_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Declarative batch admission audit (`operators/quality.py`,
        Deequ-style): null/range/domain checks compiled into ONE
        conditional-count aggregate pass, plus a duplicate-key agg and a
        dangling-FK anti-join — the P5/P6 guards of the reference
        (`load.py:44-55`) as an auditable constraint report instead of
        imperative early-outs. The price-range bound is deliberately
        tighter than the data (≈2 % of orders exceed it) so the report's
        FAIL path is exercised, not just a wall of green."""
        from politicamente_etl_spark.operators import quality as Q

        o = T(spark, sf_dir, "orders")
        c = T(spark, sf_dir, "customer")
        return Q.constraint_report(
            o,
            checks=[
                Q.not_null("o_custkey"),
                Q.in_range("o_totalprice", 1.0, 400000.0),
                Q.in_set("o_orderstatus", ("F", "O", "P")),
            ],
            unique_keys=[["o_orderkey"]],
            referential=[(c, "o_custkey", "c_custkey")],
        )


_register_quality()


def _register_skew():
    from politicamente_etl_spark.plans.catalog import register
    from politicamente_etl_spark.plans.catalog import load_events
    from politicamente_etl_spark.operators import stats

    @register(
        "event_key_skew_report",
        sql="""
        WITH counts AS (
            SELECT user_id, COUNT(*) AS key_count FROM events GROUP BY user_id
        ), tot AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n_keys,
                   CAST(SUM(key_count) AS BIGINT) AS n_rows,
                   CAST(MAX(key_count) AS BIGINT) AS max_count
            FROM counts
        )
        SELECT user_id,
               CAST(key_count AS BIGINT) AS key_count,
               n_keys, n_rows,
               CAST(key_count AS DOUBLE) / CAST(n_rows AS DOUBLE)
                   AS key_share,
               CAST(max_count AS DOUBLE) * CAST(n_keys AS DOUBLE)
                   / CAST(n_rows AS DOUBLE) AS skew_ratio
        FROM counts, tot
        ORDER BY key_count DESC, user_id
        LIMIT 5
        """,
        tags=("ext-stats", "ext-join"),
    )
    def q_event_key_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Join-key skew probe (`stats.key_skew_report`) on the event
        stream's user_id — the decision input for plain shuffle vs
        salting vs AQE skew split. Per-key counts (map-side combined) +
        a broadcast 1-row rollup + TakeOrdered top-k; never a full sort."""
        ev = load_events(spark, sf_dir)
        return stats.key_skew_report(ev, "user_id", top_k=5)


_register_skew()


def _register_cogroup():
    from politicamente_etl_spark.plans.catalog import load_events, register
    from politicamente_etl_spark.operators import temporal

    @register(
        "cogroup_conversion_stats",
        sql="""
        WITH c AS (
            -- event_id rides along so conv groups per click ROW, not per
            -- distinct (user, ts): two same-timestamp clicks must count
            -- twice, matching the pandas path's row-wise walk (ADVICE r3).
            SELECT event_id, user_id, CAST(epoch_us(ts) AS BIGINT) AS tc
            FROM events WHERE event_type = 'click'
        ), p AS (
            SELECT user_id, CAST(epoch_us(ts) AS BIGINT) AS tp
            FROM events WHERE event_type = 'purchase'
        ), conv AS (
            SELECT c.user_id, c.tc,
                   MIN(CASE WHEN p.tp IS NOT NULL
                            AND p.tp - c.tc <= 1800000000
                       THEN p.tp - c.tc END) AS lat
            FROM c LEFT JOIN p
              ON p.user_id = c.user_id AND p.tp >= c.tc
            GROUP BY c.user_id, c.event_id, c.tc
        ), agg AS (
            SELECT user_id,
                   CAST(COUNT(*) AS BIGINT) AS n_clicks,
                   CAST(SUM(CASE WHEN lat IS NOT NULL THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_converted,
                   MIN(lat) AS min_lat
            FROM conv GROUP BY user_id
        ), pn AS (
            SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_purchases
            FROM p GROUP BY user_id
        )
        SELECT a.user_id, a.n_clicks,
               COALESCE(pn.n_purchases, 0) AS n_purchases,
               a.n_converted,
               COALESCE(a.min_lat, -1) AS min_latency_us
        FROM agg a LEFT JOIN pn USING (user_id)
        """,
        tags=("ext-temporal", "ext-events"),
    )
    def q_cogroup_conversion_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Cogrouped-applyInPandas surface (`temporal.
        cogrouped_conversion_stats`): per-user click/purchase streams
        walked together with numpy searchsorted — the per-key imperative
        tier, kept oracle-equivalent to the decorrelated SQL BY TEST.
        First purchase at-or-after each click; converted within 30 min;
        integer-µs arithmetic, -1 sentinels."""
        ev = load_events(spark, sf_dir)
        base = ev.select(
            "user_id", "event_type", F.unix_micros("ts").alias("ts_us")
        )
        clicks = base.filter(F.col("event_type") == "click").select(
            "user_id", "ts_us"
        )
        purchases = base.filter(F.col("event_type") == "purchase").select(
            "user_id", "ts_us"
        )
        return temporal.cogrouped_conversion_stats(clicks, purchases)


_register_cogroup()


def _register_kmv():
    from politicamente_etl_spark.plans.catalog import load_events, register
    from politicamente_etl_spark.operators import agg

    @register(
        "kmv_distinct_users",
        sql="""
        WITH h AS (
            SELECT DISTINCT event_type,
                   CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 12)
                        AS BIGINT) AS hv
            FROM events
        ), ranked AS (
            SELECT event_type, hv,
                   row_number() OVER (PARTITION BY event_type ORDER BY hv)
                       AS rn
            FROM h
        ), sk AS (
            SELECT event_type,
                   CAST(COUNT(*) AS BIGINT) AS n_kept,
                   CAST(MAX(hv) AS BIGINT) AS kth_hash
            FROM ranked WHERE rn <= 64
            GROUP BY event_type
        ), est AS (
            SELECT event_type, n_kept, kth_hash,
                   CASE WHEN n_kept < 64 THEN CAST(n_kept AS DOUBLE)
                        ELSE CAST(63 AS DOUBLE)
                             * CAST(281474976710656 AS DOUBLE)
                             / CAST(kth_hash AS DOUBLE)
                   END AS est_distinct
            FROM sk
        ), exact AS (
            SELECT event_type,
                   CAST(COUNT(DISTINCT user_id) AS BIGINT) AS true_distinct
            FROM events GROUP BY event_type
        )
        SELECT e.event_type, n_kept, kth_hash, est_distinct, true_distinct,
               (est_distinct - CAST(true_distinct AS DOUBLE))
                   / CAST(true_distinct AS DOUBLE) AS rel_error
        FROM est e JOIN exact USING (event_type)
        """,
        tags=("ext-approx", "ext-stats"),
    )
    def q_kmv_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Deterministic approximate distinct (`agg.kmv_distinct`): the
        K-Minimum-Values sketch as pure md5 algebra, so even the
        APPROXIMATE answer hash-matches the oracle — the counterexample
        to 'sketches can only be rows-only-checked' (engine-private HLL
        registers stay rows-only in approx_aggs). Audited against the
        exact COUNT(DISTINCT) with per-group relative error."""
        ev = load_events(spark, sf_dir)
        sketch = agg.kmv_distinct(ev, "event_type", "user_id", k=64)
        exact = ev.groupBy("event_type").agg(
            F.count_distinct("user_id").alias("true_distinct")
        )
        return (
            sketch.join(exact, "event_type")
            .withColumn(
                "rel_error",
                (F.col("est_distinct") - F.col("true_distinct").cast("double"))
                / F.col("true_distinct").cast("double"),
            )
        )


_register_kmv()


def _register_rel3():
    """Second TPC-H analog batch: Q7 (two-nation trade volume), Q19
    (disjunctive bracket predicates), Q2-style per-part argmin supplier,
    Q20-style dominant-supplier share. Quantity sums are exact (integral
    doubles well under 2^53 — order-independent), money sums decimal-snap,
    unit prices are single per-row divisions; everything else is
    joins + hash aggs."""
    from politicamente_etl_spark.functions.scalar import money_sum, sql_money_sum
    from politicamente_etl_spark.plans.catalog import T, register

    @register(
        "two_nation_trade_volume",
        sql=f"""
        WITH j AS (
            SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
                   CAST(year(o_orderdate) AS INT) AS o_year,
                   l_extendedprice * (1 - l_discount) AS volume
            FROM lineitem
            JOIN supplier ON l_suppkey = s_suppkey
            JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            JOIN nation n1 ON s_nationkey = n1.n_nationkey
            JOIN nation n2 ON c_nationkey = n2.n_nationkey
            WHERE (n1.n_name = 'NATION_3' AND n2.n_name = 'NATION_7')
               OR (n1.n_name = 'NATION_7' AND n2.n_name = 'NATION_3')
        )
        SELECT supp_nation, cust_nation, o_year,
               {sql_money_sum("volume", "revenue")},
               CAST(COUNT(*) AS BIGINT) AS n_items
        FROM j GROUP BY supp_nation, cust_nation, o_year
        """,
        tags=("ext-rel",),
    )
    def q_two_nation_trade_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
        """TPC-H Q7 shape: bilateral trade volume between one nation pair
        by year and direction — the nation dim joins TWICE under
        different roles (self-aliased broadcast), the pair predicate
        filters before the rollup."""
        li = T(spark, sf_dir, "lineitem")
        s = T(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
        o = T(spark, sf_dir, "orders").select("o_orderkey", "o_custkey", "o_orderdate")
        c = T(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
        n1 = T(spark, sf_dir, "nation").select(
            F.col("n_nationkey").alias("nk1"), F.col("n_name").alias("supp_nation")
        )
        n2 = T(spark, sf_dir, "nation").select(
            F.col("n_nationkey").alias("nk2"), F.col("n_name").alias("cust_nation")
        )
        pair = (
            (F.col("supp_nation") == "NATION_3") & (F.col("cust_nation") == "NATION_7")
        ) | (
            (F.col("supp_nation") == "NATION_7") & (F.col("cust_nation") == "NATION_3")
        )
        vol = F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount"))
        return (
            li.join(s, li.l_suppkey == s.s_suppkey)
            .join(o, li.l_orderkey == o.o_orderkey)
            .join(c, o.o_custkey == c.c_custkey)
            .join(n1, s.s_nationkey == n1.nk1)
            .join(n2, c.c_nationkey == n2.nk2)
            .filter(pair)
            .groupBy(
                "supp_nation", "cust_nation", F.year("o_orderdate").alias("o_year")
            )
            .agg(money_sum(vol, "revenue"), F.count("*").alias("n_items"))
        )

    @register(
        "bracketed_discount_revenue",
        sql=f"""
        SELECT {sql_money_sum("l_extendedprice * (1 - l_discount)", "revenue")},
               CAST(COUNT(*) AS BIGINT) AS n_items
        FROM lineitem JOIN part ON l_partkey = p_partkey
        WHERE (p_brand = 'Brand#1' AND p_size <= 20
               AND l_quantity >= 1 AND l_quantity <= 11)
           OR (p_brand = 'Brand#2' AND p_size <= 30
               AND l_quantity >= 10 AND l_quantity <= 20)
           OR (p_brand = 'Brand#3' AND p_size <= 40
               AND l_quantity >= 20 AND l_quantity <= 30)
        """,
        tags=("ext-rel",),
    )
    def q_bracketed_discount_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
        """TPC-H Q19 shape: disjunctive (brand, size, quantity-bracket)
        predicates across the join — Catalyst pushes the common
        `l_quantity <= 30` bound and the brand/size conjuncts to their
        respective scans, and the OR evaluates post-join in codegen; one
        ungrouped snap-summed aggregate."""
        li = T(spark, sf_dir, "lineitem")
        p = T(spark, sf_dir, "part").select("p_partkey", "p_brand", "p_size")
        cond = (
            (F.col("p_brand") == "Brand#1")
            & (F.col("p_size") <= 20)
            & F.col("l_quantity").between(1, 11)
        ) | (
            (F.col("p_brand") == "Brand#2")
            & (F.col("p_size") <= 30)
            & F.col("l_quantity").between(10, 20)
        ) | (
            (F.col("p_brand") == "Brand#3")
            & (F.col("p_size") <= 40)
            & F.col("l_quantity").between(20, 30)
        )
        return (
            li.join(p, li.l_partkey == p.p_partkey)
            .filter(cond)
            .agg(
                money_sum(
                    F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount")),
                    "revenue",
                ),
                F.count("*").alias("n_items"),
            )
        )

    @register(
        "min_unit_price_supplier",
        sql="""
        WITH up AS (
            SELECT l_partkey, l_suppkey,
                   l_extendedprice / l_quantity AS unit_price
            FROM lineitem WHERE l_quantity > 0
        ), best AS (
            SELECT l_partkey, l_suppkey, unit_price,
                   row_number() OVER (PARTITION BY l_partkey
                       ORDER BY unit_price, l_suppkey) AS rn
            FROM up
        )
        SELECT b.l_partkey AS p_partkey, p.p_brand,
               b.l_suppkey AS s_suppkey, b.unit_price
        FROM best b JOIN part p ON b.l_partkey = p.p_partkey
        WHERE rn = 1 AND p.p_size <= 5
        """,
        tags=("ext-rel", "ext-window"),
    )
    def q_min_unit_price_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
        """TPC-H Q2 shape on the available columns: the cheapest observed
        supplier per part (argmin unit price from lineitem history,
        suppkey tie-break) for small parts. Argmin is MIN(struct(price,
        suppkey)) — a partial+final aggregate (SortAggregate: struct
        mins aren't hash-aggregable, but the map-side partial still
        reduces each task to one row per part), never a window over the
        fact; unit price is a single per-row double division, identical
        on both engines."""
        li = T(spark, sf_dir, "lineitem").filter(F.col("l_quantity") > 0)
        p = T(spark, sf_dir, "part").select("p_partkey", "p_brand", "p_size")
        up = li.select(
            "l_partkey",
            "l_suppkey",
            (F.col("l_extendedprice") / F.col("l_quantity")).alias("unit_price"),
        )
        best = up.groupBy("l_partkey").agg(
            F.min(F.struct("unit_price", "l_suppkey")).alias("__b")
        )
        return (
            best.join(p, best.l_partkey == p.p_partkey)
            .filter(F.col("p_size") <= 5)
            .select(
                F.col("l_partkey").alias("p_partkey"),
                "p_brand",
                F.col("__b.l_suppkey").alias("s_suppkey"),
                F.col("__b.unit_price").alias("unit_price"),
            )
        )

    @register(
        "dominant_supplier_share",
        sql="""
        WITH ps AS (
            SELECT l_partkey, l_suppkey, SUM(l_quantity) AS sup_qty
            FROM lineitem GROUP BY l_partkey, l_suppkey
        ), pt AS (
            SELECT l_partkey, SUM(sup_qty) AS part_qty,
                   CAST(COUNT(*) AS BIGINT) AS n_suppliers
            FROM ps GROUP BY l_partkey
        )
        SELECT ps.l_partkey AS p_partkey, ps.l_suppkey AS s_suppkey,
               ps.sup_qty, pt.part_qty, pt.n_suppliers,
               ps.sup_qty / pt.part_qty AS qty_share
        FROM ps JOIN pt USING (l_partkey)
        WHERE ps.sup_qty / pt.part_qty > 0.15 AND pt.n_suppliers > 1
        """,
        tags=("ext-rel", "ext-subquery"),
    )
    def q_dominant_supplier_share(spark: SparkSession, sf_dir: str) -> DataFrame:
        """TPC-H Q20 shape: suppliers holding an outsized share (> 15% —
        the synthetic assignment is near-uniform, max observed 24.5%) of
        a part's shipped quantity (supply-concentration audit), only
        where the part has competition. Quantities are integral doubles, so both SUM levels
        are exact and order-independent; the share is one double
        division. Two partial-agg'd shuffles on the same key — the
        second agg and the join reuse the first shuffle's partitioning."""
        li = T(spark, sf_dir, "lineitem")
        ps = li.groupBy("l_partkey", "l_suppkey").agg(
            F.sum("l_quantity").alias("sup_qty")
        )
        pt = ps.groupBy("l_partkey").agg(
            F.sum("sup_qty").alias("part_qty"),
            F.count(F.lit(1)).cast("long").alias("n_suppliers"),
        )
        return (
            ps.join(pt, "l_partkey")
            .withColumn("qty_share", F.col("sup_qty") / F.col("part_qty"))
            .filter((F.col("qty_share") > 0.15) & (F.col("n_suppliers") > 1))
            .select(
                F.col("l_partkey").alias("p_partkey"),
                F.col("l_suppkey").alias("s_suppkey"),
                "sup_qty",
                "part_qty",
                "n_suppliers",
                "qty_share",
            )
        )


_register_rel3()


def _register_recursive():
    from politicamente_etl_spark.plans.catalog import load_events, register

    _CHAIN_SQL = """
        WITH RECURSIVE chain AS (
            SELECT user_id AS start_user, user_id AS cur, 0 AS depth
            FROM (SELECT DISTINCT user_id FROM {src})
            UNION ALL
            SELECT start_user, CAST(floor(cur / 2) AS BIGINT) AS cur,
                   depth + 1 AS depth
            FROM chain WHERE cur > 0
        )
        SELECT start_user AS user_id,
               CAST(MAX(depth) AS BIGINT) AS chain_depth,
               CAST(COUNT(*) AS BIGINT) AS n_nodes,
               CAST(SUM(cur) AS BIGINT) AS path_sum
        FROM chain GROUP BY start_user
    """

    @register(
        "recursive_user_ancestry",
        sql=_CHAIN_SQL.format(src="events"),
        tags=("ext-rel", "ext-graph"),
    )
    def q_recursive_user_ancestry(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Recursive CTE (Spark 4 WITH RECURSIVE): walk each user's
        ancestor chain in the implicit binary hierarchy parent(u) =
        floor(u/2) down to the root, reporting depth, node count, and
        path sum — the org-chart / BOM traversal class Spark previously
        needed driver-side loops for (near_dup_clusters' label
        propagation through graph.fixpoint is the hand-rolled
        analogue). The SQL text is
        the SAME on both engines; recursion depth is bounded at
        log2(max user_id), and each iteration is one incremental
        union-all step over the frontier, so the plan's work is
        O(users x depth), not quadratic."""
        ev = load_events(spark, sf_dir)
        view = "events_for_recursion"
        ev.select("user_id").createOrReplaceTempView(view)
        return spark.sql(_CHAIN_SQL.format(src=view))


_register_recursive()
