"""Round-3 extended-surface queries: semantic dedup (SemDeDup), corpus
boilerplate scoring, vocabulary-growth (Heaps) curves, SCD2 dimension
history, robust/distributional stats (MAD fences, equi-depth histograms,
RFM segmentation), conversion attribution (forward as-of), event-stream
Markov transitions, and dense-rank top-k. Registered into the same CATALOG
as the reference surface and earlier extended queries.

Oracle-parity rules carried from plans/extended.py:
- integer SUM/COUNT aggregates cast to BIGINT in the SQL (DuckDB HUGEINT
  artifact, VERDICT r2 item 1); money sums go through sql_money_sum.
- exact `percentile` ≡ DuckDB `quantile_cont` (same linear interpolation;
  parity pinned by exact_percentiles_quantity since r2).
- rank/row_number/dense_rank and `size()`/`len()` results cast to INT on
  the SQL side (Spark emits int, DuckDB bigint).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from politicamente_etl_spark.functions.scalar import money_sum, sql_money_sum
from politicamente_etl_spark.operators import joins, sim, stats, text

# DuckDB-side renderings of the sequential-fold vector ops (bit-identical
# to operators.sim's Spark expressions — see that module's docstring).
_DOT_DD = (
    "list_reduce(list_transform(list_zip({a}, {b}),"
    " s -> CAST(s[1] AS DOUBLE) * CAST(s[2] AS DOUBLE)), (acc, v) -> acc + v)"
)
_NORM_DD = (
    "sqrt(list_reduce(list_transform({a},"
    " x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (acc, v) -> acc + v))"
)
_D2_DD = (
    "list_reduce(list_transform(list_zip({a}, {b}),"
    " s -> (CAST(s[1] AS DOUBLE) - CAST(s[2] AS DOUBLE))"
    " * (CAST(s[1] AS DOUBLE) - CAST(s[2] AS DOUBLE))), (acc, v) -> acc + v)"
)


def _register():
    from politicamente_etl_spark.plans.catalog import T, load_events, register

    # -- semantic dedup -----------------------------------------------------

    @register(
        "semdedup_keep_list",
        sql=f"""
        WITH cent AS (
            SELECT vec_id AS cell,
                   list_transform(embedding, x -> CAST(x AS DOUBLE)) AS centroid
            FROM embeddings WHERE vec_id % 125 = 0
        ), ass AS (
            SELECT e.vec_id, e.embedding, c.cell,
                   row_number() OVER (PARTITION BY e.vec_id ORDER BY
                       {_D2_DD.format(a='e.embedding', b='c.centroid')},
                       c.cell) AS rn
            FROM embeddings e CROSS JOIN cent c
        ), assigned AS (
            SELECT vec_id, embedding, cell FROM ass WHERE rn = 1
        ), n AS (
            SELECT vec_id, embedding, cell,
                   {_NORM_DD.format(a='embedding')} AS nrm
            FROM assigned
        ), edges AS (
            SELECT b.vec_id, MIN(a.vec_id) AS dup_of
            FROM n a JOIN n b ON a.cell = b.cell AND a.vec_id < b.vec_id
            WHERE {_DOT_DD.format(a='a.embedding', b='b.embedding')}
                      / (a.nrm * b.nrm) >= 0.45
            GROUP BY b.vec_id
        )
        SELECT s.vec_id, s.cell, e.dup_of, e.dup_of IS NULL AS is_kept
        FROM assigned s LEFT JOIN edges e ON s.vec_id = e.vec_id
        """,
        bench=True,
        tags=("ext-dedup", "ext-sim"),
    )
    def q_semdedup_keep_list(spark: SparkSession, sf_dir: str) -> DataFrame:
        """SemDeDup (arXiv:2303.09540): coarse-quantizer cells + within-cell
        cosine neighbors; keep-first min-id representative per duplicate
        group. All equi-joins — the cell structure bounds pairwise cost, so
        the shape survives a web-scale corpus (the cell join replaces the
        |corpus|² theta-join). Deterministic hash-sampled quantizer (every
        125th vec) keeps even the approximation oracle-checked."""
        emb = T(spark, sf_dir, "embeddings")
        cent = emb.filter(F.col("vec_id") % 125 == 0).select(
            F.col("vec_id").alias("cell"),
            F.col("embedding").cast("array<double>").alias("centroid"),
        )
        return sim.semdedup(emb, cent, threshold=0.45)

    # -- corpus boilerplate / vocabulary ------------------------------------

    @register(
        "boilerplate_shingle_score",
        sql="""
        WITH t AS (
            SELECT doc_id, string_split(text, ' ') AS toks FROM documents
        ), sh AS (
            SELECT doc_id,
                   unnest(list_distinct(
                       [concat_ws(' ', toks[i], toks[i+1], toks[i+2],
                                  toks[i+3], toks[i+4])
                        for i in range(1, len(toks) - 3)])) AS s
            FROM t
        ), df AS (
            SELECT s, CAST(COUNT(*) AS BIGINT) AS doc_freq FROM sh GROUP BY s
        )
        SELECT sh.doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_shingles,
               CAST(SUM(CASE WHEN df.doc_freq > 1 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_boiler,
               CAST(SUM(CASE WHEN df.doc_freq > 1 THEN 1 ELSE 0 END)
                    AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS boiler_ratio
        FROM sh JOIN df ON sh.s = df.s
        GROUP BY sh.doc_id
        """,
        bench=True,
        tags=("ext-text", "ext-dedup"),
    )
    def q_boilerplate_shingle_score(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Template/boilerplate scoring: fraction of a doc's distinct
        5-gram shingles that occur in other documents too — the
        paragraph-dedup signal (CCNet/Dolma) for corpora without paragraph
        structure. Shuffles only 8-byte shingle hashes, never text."""
        docs = T(spark, sf_dir, "documents")
        return text.boilerplate_shingle_scores(docs, n=5, hot_doc_count=1)

    @register(
        "vocab_growth_curve",
        sql="""
        WITH t AS (
            SELECT doc_id, string_split(text, ' ') AS toks FROM documents
        ), grams AS (
            SELECT doc_id,
                   unnest(list_distinct(
                       [concat_ws(' ', toks[i], toks[i+1])
                        for i in range(1, len(toks))])) AS tok
            FROM t
        ), fs AS (
            SELECT tok, MIN(doc_id) AS first_doc FROM grams GROUP BY tok
        ), pb AS (
            SELECT CAST(first_doc // 25 AS BIGINT) AS bucket,
                   CAST(COUNT(*) AS BIGINT) AS new_types
            FROM fs GROUP BY 1
        )
        SELECT bucket, bucket * 25 AS first_doc, new_types,
               CAST(SUM(new_types) OVER (ORDER BY bucket
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS BIGINT) AS cum_types
        FROM pb
        """,
        tags=("ext-text", "ext-stats"),
    )
    def q_vocab_growth_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Heaps-law vocabulary growth over BIGRAM types (the unigram
        vocab of the synthetic corpus saturates in one block): new types
        contributed per 25-doc block plus the running total. The
        sequential 'is this type new?' scan inverts into min-first-doc
        per type (one hash agg); the cumulative window runs over the tiny
        per-block rollup, not over rows."""
        docs = T(spark, sf_dir, "documents")
        return text.vocab_growth_curve(docs, bucket_docs=25, n=2)

    # -- SCD2 dimension history --------------------------------------------

    @register(
        "scd2_customer_history",
        sql="""
        WITH cust AS (
            SELECT c_custkey, c_name, c_acctbal FROM customer
        ), cur AS (
            SELECT c_custkey, c_name, c_acctbal,
                   0 AS version, TRUE AS is_current
            FROM cust
        ), upd AS (
            SELECT c_custkey, c_acctbal + 100.0 AS u_bal, 1 AS hit
            FROM cust WHERE c_custkey % 7 = 0 AND c_custkey % 14 <> 0
            UNION ALL
            SELECT c_custkey, c_acctbal AS u_bal, 1 AS hit
            FROM cust WHERE c_custkey % 14 = 0
            UNION ALL
            SELECT c_custkey + 1000000, 0.0, 1 FROM cust WHERE c_custkey % 500 = 0
        ), j AS (
            SELECT c.c_custkey, c.c_name, c.c_acctbal, c.version,
                   c.is_current, u.u_bal, u.hit IS NOT NULL AS matched
            FROM cur c LEFT JOIN upd u ON c.c_custkey = u.c_custkey
        ), survivors AS (
            SELECT c_custkey, c_name, c_acctbal, version,
                   CASE WHEN matched AND (u_bal IS DISTINCT FROM c_acctbal)
                        THEN FALSE ELSE is_current END AS is_current
            FROM j
        ), openings AS (
            SELECT c_custkey, c_name, u_bal AS c_acctbal,
                   1 AS version, TRUE AS is_current
            FROM j WHERE matched AND (u_bal IS DISTINCT FROM c_acctbal)
        ), inserts AS (
            SELECT u.c_custkey, CAST(NULL AS VARCHAR) AS c_name,
                   u.u_bal AS c_acctbal, 1 AS version, TRUE AS is_current
            FROM upd u LEFT JOIN cur c ON u.c_custkey = c.c_custkey
            WHERE c.c_custkey IS NULL
        )
        SELECT * FROM survivors
        UNION ALL SELECT * FROM openings
        UNION ALL SELECT * FROM inserts
        """,
        tags=("ext-rel", "ext-join"),
    )
    def q_scd2_customer_history(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Slowly-changing-dimension type-2 merge (operators.joins.
        scd2_merge): an update batch against the customer dimension —
        changed balances close the open row and append a new version,
        no-op updates pass through without version churn, unseen keys
        insert open. One broadcast join + three-way union; the algebra
        Delta's MERGE compiles to, minus the metadata commit (see
        sinks.merge_upsert for the transactional slot-in)."""
        cust = T(spark, sf_dir, "customer").select(
            "c_custkey", "c_name", "c_acctbal"
        )
        current = cust.withColumn("version", F.lit(0)).withColumn(
            "is_current", F.lit(True)
        )
        ck = F.col("c_custkey")
        upd_changed = cust.filter((ck % 7 == 0) & (ck % 14 != 0)).select(
            "c_custkey", (F.col("c_acctbal") + F.lit(100.0)).alias("c_acctbal")
        )
        upd_same = cust.filter(ck % 14 == 0).select("c_custkey", "c_acctbal")
        upd_new = cust.filter(ck % 500 == 0).select(
            (ck + F.lit(1000000)).alias("c_custkey"),
            F.lit(0.0).alias("c_acctbal"),
        )
        updates = upd_changed.unionByName(upd_same).unionByName(upd_new)
        return joins.scd2_merge(
            current, updates, keys=["c_custkey"], tracked=["c_acctbal"], batch_id=1
        )

    # -- robust / distributional stats --------------------------------------

    _DECILES = ", ".join(str(i / 10) for i in range(1, 10))

    @register(
        "equi_depth_histogram_prices",
        sql=f"""
        WITH edges AS (
            SELECT quantile_cont(l_extendedprice, [{_DECILES}]) AS edges
            FROM lineitem
        )
        SELECT CAST(len(list_filter(e.edges,
                   x -> x <= CAST(l.l_extendedprice AS DOUBLE))) AS INT)
                   AS bucket,
               CAST(COUNT(*) AS BIGINT) AS n_rows,
               MIN(l.l_extendedprice) AS min_v,
               MAX(l.l_extendedprice) AS max_v
        FROM lineitem l CROSS JOIN edges e
        GROUP BY 1
        """,
        tags=("ext-olap", "ext-stats"),
    )
    def q_equi_depth_histogram_prices(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Equi-depth decile histogram of l_extendedprice: exact percentile
        edges (one agg) broadcast back for expression-only bucket
        assignment — no ntile, no global sort (operators.stats.
        equi_depth_histogram docstring has the scale argument)."""
        li = T(spark, sf_dir, "lineitem")
        return stats.equi_depth_histogram(li, "l_extendedprice", n_buckets=10)

    @register(
        "equi_depth_histogram_prices_approx",
        # no_oracle BY DESIGN (VERDICT r4 #6): approx_percentile is a
        # KLL-style sketch — its edges are implementation-defined, so no
        # engine-independent SQL can hash-match them. The driver records
        # a rows-only check, which is still a regression tripwire for the
        # 100 TB decile path (the exact twin's all-to-one percentile agg
        # is the thing that does NOT scale; this sketch form is what
        # production runs). Value-level semantics are covered by the
        # exact twin's green row plus the plan pin in
        # tests/test_plan_quality.py.
        sql=None,
        tags=("ext-olap", "ext-stats", "ext-approx"),
    )
    def q_equi_depth_histogram_prices_approx(
        spark: SparkSession, sf_dir: str
    ) -> DataFrame:
        """Sketch-based equi-depth decile histogram of l_extendedprice:
        approx_percentile edges (bounded-memory KLL, mergeable across
        partitions — the at-scale default) broadcast back for
        expression-only bucket assignment. Same shape as the exact twin;
        only the edge estimator differs."""
        li = T(spark, sf_dir, "lineitem")
        return stats.equi_depth_histogram(
            li, "l_extendedprice", n_buckets=10, approx=True
        )

    @register(
        "mad_outlier_events",
        sql="""
        WITH med AS (
            SELECT event_type, quantile_cont("value", 0.5) AS med
            FROM events GROUP BY event_type
        ), wm AS (
            SELECT e.event_id, e.event_type, e."value", m.med
            FROM events e JOIN med m USING (event_type)
        ), mad AS (
            SELECT event_type, quantile_cont(abs("value" - med), 0.5) AS mad
            FROM wm GROUP BY event_type
        )
        SELECT w.event_id, w.event_type, w."value" AS value, w.med, d.mad,
               abs(w."value" - w.med) / d.mad AS deviation_mads
        FROM wm w JOIN mad d USING (event_type)
        WHERE abs(w."value" - w.med) > 3.0 * d.mad
        """,
        tags=("ext-stats", "ext-events"),
    )
    def q_mad_outlier_events(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Median-absolute-deviation outlier fence per event type — the
        robust twin of zscore_outlier_events (extreme rows can't drag the
        fence). Two percentile aggs + broadcast joins, no window."""
        ev = load_events(spark, sf_dir).select("event_id", "event_type", "value")
        out = stats.mad_outliers(ev, "event_type", "value", n_mads=3.0)
        return out.select(
            "event_id", "event_type", "value", "med", "mad", "deviation_mads"
        )

    _QUINTILES = ", ".join(str(i / 5) for i in range(1, 5))

    @register(
        "rfm_customer_segments",
        sql=f"""
        WITH base AS (
            SELECT o_custkey AS cust, MAX(o_orderdate) AS last_order,
                   CAST(COUNT(*) AS BIGINT) AS frequency,
                   CAST(SUM(CAST(o_totalprice AS DECIMAL(27,4))) AS DOUBLE)
                       AS monetary
            FROM orders GROUP BY o_custkey
        ), anch AS (
            SELECT MAX(o_orderdate) AS anchor FROM orders
        ), b2 AS (
            SELECT base.*,
                   CAST(date_diff('day', CAST(last_order AS DATE),
                        CAST(anchor AS DATE)) AS BIGINT) AS recency_days
            FROM base CROSS JOIN anch
        ), edges AS (
            SELECT quantile_cont(CAST(recency_days AS DOUBLE), [{_QUINTILES}])
                       AS r_edges,
                   quantile_cont(CAST(frequency AS DOUBLE), [{_QUINTILES}])
                       AS f_edges,
                   quantile_cont(monetary, [{_QUINTILES}]) AS m_edges
            FROM b2
        ), scored AS (
            SELECT cust, recency_days, frequency, monetary,
                   CAST(6 - (len(list_filter(r_edges,
                       e -> e < CAST(recency_days AS DOUBLE))) + 1) AS INT)
                       AS r_score,
                   CAST(len(list_filter(f_edges,
                       e -> e < CAST(frequency AS DOUBLE))) + 1 AS INT)
                       AS f_score,
                   CAST(len(list_filter(m_edges, e -> e < monetary)) + 1
                       AS INT) AS m_score
            FROM b2 CROSS JOIN edges
        )
        SELECT cust, recency_days, frequency, monetary,
               r_score, f_score, m_score,
               concat(r_score, f_score, m_score) AS rfm_cell
        FROM scored
        """,
        tags=("ext-olap", "ext-stats"),
    )
    def q_rfm_customer_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
        """RFM segmentation with quantile-edge scoring instead of three
        ntile global sorts (operators.stats.rfm_scores): recency/frequency/
        monetary quintile scores per customer plus the concatenated cell.
        Monetary runs through the exact-decimal sum so edge comparisons are
        engine-identical."""
        orders = T(spark, sf_dir, "orders")
        return stats.rfm_scores(orders, n_tiles=5)

    # -- conversion attribution / event transitions -------------------------

    @register(
        "click_conversion_attribution",
        sql="""
        WITH clicks AS (
            SELECT user_id, epoch_us(ts) AS ts_us, event_id AS click_id
            FROM events WHERE event_type = 'click'
        ), purch AS (
            SELECT user_id, epoch_us(ts) AS pts, event_id AS conv_id,
                   "value" AS conv_value
            FROM events WHERE event_type = 'purchase'
        ), nearest AS (
            SELECT c.click_id, c.user_id, c.ts_us, p.pts AS conv_ts_us,
                   p.conv_id, p.conv_value,
                   row_number() OVER (PARTITION BY c.click_id
                       ORDER BY p.pts, p.conv_id) AS rn
            FROM clicks c JOIN purch p
              ON c.user_id = p.user_id AND p.pts >= c.ts_us
        ), hit AS (
            SELECT * FROM nearest WHERE rn = 1
        ), j AS (
            SELECT c.click_id, c.user_id, c.ts_us,
                   h.conv_ts_us, h.conv_id, h.conv_value
            FROM clicks c LEFT JOIN hit h ON c.click_id = h.click_id
        )
        SELECT click_id, user_id, ts_us,
               CASE WHEN conv_ts_us IS NOT NULL
                         AND conv_ts_us - ts_us <= 7200000000
                    THEN conv_ts_us END AS conv_ts_us,
               CASE WHEN conv_ts_us IS NOT NULL
                         AND conv_ts_us - ts_us <= 7200000000
                    THEN conv_id END AS conv_id,
               CASE WHEN conv_ts_us IS NOT NULL
                         AND conv_ts_us - ts_us <= 7200000000
                    THEN conv_value END AS conv_value
        FROM j
        """,
        tags=("ext-temporal", "ext-events"),
    )
    def q_click_conversion_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Click→purchase conversion attribution: for every click, the
        user's NEXT purchase within 2 hours — the forward-direction,
        toleranced as-of join (operators.temporal.asof_join): one shuffle
        on user_id, union+window, no cross product. The oracle mirrors it
        with an inequality-join + row_number (portable ASOF). Timestamps
        travel as epoch micros (raw TIMESTAMP outputs dtype-mismatch the
        oracle compare — same convention as asof_join_purchases)."""
        from politicamente_etl_spark.operators import temporal

        ev = load_events(spark, sf_dir)
        clicks = ev.filter(F.col("event_type") == "click").select(
            "user_id",
            F.expr("unix_micros(ts)").alias("ts_us"),
            F.col("event_id").alias("click_id"),
        )
        purch = ev.filter(F.col("event_type") == "purchase").select(
            "user_id",
            F.expr("unix_micros(ts)").alias("pts"),
            F.col("event_id").alias("conv_id"),
            F.col("value").alias("conv_value"),
        )
        res = temporal.asof_join(
            clicks,
            purch,
            on="user_id",
            left_ts="ts_us",
            right_ts="pts",
            right_cols=["conv_id", "conv_value"],
            direction="forward",
            tolerance=F.lit(7_200_000_000),  # 2h in micros
        )
        return res.select(
            "click_id",
            "user_id",
            "ts_us",
            F.col("asof_ts").alias("conv_ts_us"),
            F.col("asof_conv_id").alias("conv_id"),
            F.col("asof_conv_value").alias("conv_value"),
        )

    @register(
        "markov_event_transitions",
        sql="""
        WITH seq AS (
            SELECT event_type AS cur,
                   lead(event_type) OVER (PARTITION BY user_id
                       ORDER BY ts, event_id) AS nxt
            FROM events
        ), hops AS (
            SELECT cur, nxt, CAST(COUNT(*) AS BIGINT) AS n_hops
            FROM seq WHERE nxt IS NOT NULL GROUP BY cur, nxt
        ), tot AS (
            SELECT cur, CAST(SUM(n_hops) AS BIGINT) AS n_from
            FROM hops GROUP BY cur
        )
        SELECT h.cur, h.nxt, h.n_hops, t.n_from,
               CAST(h.n_hops AS DOUBLE) / CAST(t.n_from AS DOUBLE) AS p_hop
        FROM hops h JOIN tot t ON h.cur = t.cur
        """,
        tags=("ext-events", "ext-stats"),
    )
    def q_markov_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Empirical first-order Markov transition matrix over per-user
        event streams (operators.stats.event_transitions): the
        session-behavior fingerprint. Window partitioned BY USER — the
        partition key carries the scale; the matrix itself is tiny."""
        ev = load_events(spark, sf_dir)
        return stats.event_transitions(ev)

    # -- dense-rank top-k ---------------------------------------------------

    @register(
        "dense_rank_supplier_parts",
        sql=f"""
        WITH rev AS (
            SELECT l_suppkey, l_partkey,
                   {sql_money_sum("l_extendedprice * (1 - l_discount)", "revenue")}
            FROM lineitem GROUP BY l_suppkey, l_partkey
        )
        SELECT l_suppkey, l_partkey, revenue,
               CAST(dense_rank() OVER (PARTITION BY l_suppkey
                    ORDER BY revenue DESC) AS INT) AS rnk
        FROM rev
        QUALIFY rnk <= 2
        """,
        tags=("ext-window", "ext-olap"),
    )
    def q_dense_rank_supplier_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Top-2 revenue parts per supplier WITH ties (dense_rank — the
        tie-inclusive twin of window_topk_orders' row_number): revenue ties
        all surface, so no tiebreak column is needed for determinism. The
        rank filter pushes into WindowGroupLimit like row_number does."""
        li = T(spark, sf_dir, "lineitem")
        rev = li.groupBy("l_suppkey", "l_partkey").agg(
            money_sum(
                F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount")),
                "revenue",
            )
        )
        w = Window.partitionBy("l_suppkey").orderBy(F.col("revenue").desc())
        return (
            rev.withColumn("rnk", F.dense_rank().over(w))
            .filter(F.col("rnk") <= 2)
            .select("l_suppkey", "l_partkey", "revenue", "rnk")
        )


_register()


def _register_batch3():
    """Batch 3: epoch-mix realization, k-means refinement, cross-source
    dup matrix, ordered funnels, seasonality, cohort LTV, tokenizer
    fertility, and a language-ID confusion audit."""
    from politicamente_etl_spark.operators import dedup, sampling
    from politicamente_etl_spark.plans.catalog import T, load_events, register

    # -- epoch realization --------------------------------------------------

    @register(
        "epoch_sample_realized",
        sql="""
        WITH c AS (
            SELECT source, COUNT(*) AS n_docs FROM documents GROUP BY source
        ), t AS (
            SELECT CAST(SUM(n_docs) AS BIGINT) AS n_total FROM c
        ), s AS (
            SELECT source, n_docs,
                   CAST(floor(sqrt(CAST(n_docs AS DOUBLE)
                                   / CAST(n_total AS DOUBLE)) * 1e9)
                        AS BIGINT) AS w_micro
            FROM c CROSS JOIN t
        ), wt AS (
            SELECT CAST(SUM(w_micro) AS BIGINT) AS w_total FROM s
        ), w AS (
            SELECT source, n_docs,
                   CAST(w_micro AS DOUBLE) / CAST(w_total AS DOUBLE) AS weight
            FROM s CROSS JOIN wt
        ), nt AS (
            SELECT CAST(SUM(n_docs) AS BIGINT) AS n_total FROM w
        ), r AS (
            SELECT source,
                   least(1.0, weight * CAST(n_total AS DOUBLE) * 0.5
                              / CAST(n_docs AS DOUBLE)) AS accept_rate
            FROM w CROSS JOIN nt
        )
        SELECT d.doc_id, d.source, r.accept_rate
        FROM documents d JOIN r USING (source)
        WHERE CAST(CAST(('0x' || substring(md5(concat_ws(':', 'epoch-1',
                  CAST(d.doc_id AS VARCHAR))), 1, 8)) AS BIGINT) % 10000
              AS DOUBLE) < accept_rate * 10000.0
        """,
        tags=("ext-sampling",),
    )
    def q_epoch_sample_realized(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Materialized training epoch under the T=2 temperature mix
        (sampling.realize_epoch_mix over temperature_mix_weights output,
        epoch_frac=0.5): per-source md5-acceptance rates derived from the
        integer-snapped weights — deterministic membership, reproducible
        per epoch seed. Broadcast strata join + pure per-row predicate."""
        docs = T(spark, sf_dir, "documents")
        weights = sampling.temperature_mix_weights(
            docs, strata_col="source", temperature=2.0
        )
        out = sampling.realize_epoch_mix(
            docs, weights, strata_col="source", key_col="doc_id",
            epoch_frac=0.5, seed="epoch-1",
        )
        return out.select("doc_id", "source", "accept_rate")

    # -- k-means refinement -------------------------------------------------

    @register(
        "kmeans_refined_centroids",
        sql=f"""
        WITH cent AS (
            SELECT vec_id AS cell,
                   list_transform(embedding, x -> CAST(x AS DOUBLE)) AS centroid
            FROM embeddings WHERE vec_id % 125 = 0
        ), ass AS (
            SELECT e.vec_id, e.embedding, c.cell,
                   row_number() OVER (PARTITION BY e.vec_id ORDER BY
                       {_D2_DD.format(a='e.embedding', b='c.centroid')},
                       c.cell) AS rn
            FROM embeddings e CROSS JOIN cent c
        ), assigned AS (
            SELECT vec_id, embedding, cell FROM ass WHERE rn = 1
        )
        SELECT cell, i AS pos,
               CAST(SUM(CAST(floor(CAST(embedding[i + 1] AS DOUBLE) * 1e9)
                             AS BIGINT)) AS DOUBLE) / 1e9
                   / COUNT(*) AS centroid_val,
               COUNT(*) AS n_members
        FROM assigned CROSS JOIN range(0, 64) t(i)
        GROUP BY cell, i
        """,
        tags=("ext-sim",),
    )
    def q_kmeans_refined_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
        """One Lloyd iteration of k-means as pure DataFrame algebra:
        nearest-centroid assignment (sim.assign_cells, broadcast argmin)
        then per-cell mean pooling (sim.group_centroids, integer-snapped
        deterministic averages). The iterative-refinement building block —
        at scale you loop this with localCheckpoint between rounds, as
        graph.fixpoint does for dedup.near_dup_clusters' label
        propagation."""
        emb = T(spark, sf_dir, "embeddings")
        cent = emb.filter(F.col("vec_id") % 125 == 0).select(
            F.col("vec_id").alias("cell"),
            F.col("embedding").cast("array<double>").alias("centroid"),
        )
        assigned = sim.assign_cells(emb, cent)
        return sim.group_centroids(assigned, group_col="cell")

    # -- cross-source near-dup matrix ---------------------------------------

    _MH_SHINGLES = """
        WITH t AS (
            SELECT doc_id, string_split(text, ' ') AS toks FROM documents
        ), sh AS (
            SELECT doc_id,
                   [concat_ws(' ', toks[i], toks[i+1], toks[i+2])
                    for i in range(1, len(toks) - 1)] AS shingles
            FROM t
        )
    """
    _mh_cols = ",\n".join(
        "               list_min(list_transform(shingles,"
        f" x -> md5(concat_ws(':', '{i}', x)))) AS mh_{i}"
        for i in range(dedup.N_MINHASH)
    )
    _bands = dedup.N_MINHASH // dedup.BAND_SIZE
    _band_defs = ",\n".join(
        f"               md5(concat_ws('|', mh_{b * dedup.BAND_SIZE},"
        f" mh_{b * dedup.BAND_SIZE + 1})) AS band_{b}"
        for b in range(_bands)
    )
    _agree = " + ".join(
        f"CASE WHEN a.mh_{i} = b.mh_{i} THEN 1 ELSE 0 END"
        for i in range(dedup.N_MINHASH)
    )
    _band_joins = "\n            UNION ALL\n".join(
        f"""            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                   {_agree} AS n_agree
            FROM sig a JOIN sig b
              ON a.band_{b} = b.band_{b} AND a.doc_id < b.doc_id"""
        for b in range(_bands)
    )

    @register(
        "cross_source_dup_matrix",
        sql=_MH_SHINGLES
        + f""", mh AS (
            SELECT doc_id,
{_mh_cols}
            FROM sh
        ), sig AS (
            SELECT doc_id,
{_band_defs},
                   mh_0, mh_1, mh_2, mh_3, mh_4, mh_5, mh_6, mh_7
            FROM mh
        ), cand AS (
{_band_joins}
        ), pairs AS (
            SELECT DISTINCT doc_a, doc_b,
                   CAST(n_agree AS DOUBLE) / {float(dedup.N_MINHASH)}
                       AS est_jaccard
            FROM cand
        )
        SELECT least(da.source, db.source) AS source_a,
               greatest(da.source, db.source) AS source_b,
               CAST(COUNT(*) AS BIGINT) AS n_pairs,
               SUM(p.est_jaccard) / COUNT(*) AS avg_est_jaccard
        FROM pairs p
        JOIN documents da ON p.doc_a = da.doc_id
        JOIN documents db ON p.doc_b = db.doc_id
        GROUP BY 1, 2
        """,
        tags=("ext-dedup",),
    )
    def q_cross_source_dup_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Where duplication comes FROM: near-dup pair counts bucketed by
        the (unordered) source pair — the audit that tells a curation team
        which feeds re-syndicate each other. MinHash banded pairs (the
        linear LSH shape) + two id-equi-joins to pull sources + one tiny
        rollup. est_jaccard values are exact eighths, so even their double
        SUM is order-independent (dyadic rationals add exactly)."""
        docs = T(spark, sf_dir, "documents")
        pairs = dedup.minhash_near_dup_pairs(docs)
        src = docs.select("doc_id", "source")
        m = (
            pairs.join(
                src.select(
                    F.col("doc_id").alias("doc_a"), F.col("source").alias("sa")
                ),
                "doc_a",
            )
            .join(
                src.select(
                    F.col("doc_id").alias("doc_b"), F.col("source").alias("sb")
                ),
                "doc_b",
            )
        )
        return (
            m.groupBy(
                F.least("sa", "sb").alias("source_a"),
                F.greatest("sa", "sb").alias("source_b"),
            )
            .agg(
                F.count("*").alias("n_pairs"),
                (F.sum("est_jaccard") / F.count("*")).alias("avg_est_jaccard"),
            )
        )

    # -- ordered funnel -----------------------------------------------------

    @register(
        "funnel_three_step_ordered",
        sql="""
        WITH ev AS (
            SELECT user_id, event_type, epoch_us(ts) AS ts_us FROM events
        ), s AS (
            SELECT user_id, MIN(ts_us) AS s_ts FROM ev
            WHERE event_type = 'signup' GROUP BY user_id
        ), c AS (
            SELECT e.user_id, MIN(e.ts_us) AS c_ts
            FROM ev e JOIN s ON e.user_id = s.user_id
            WHERE e.event_type = 'click' AND e.ts_us > s.s_ts
            GROUP BY e.user_id
        ), p AS (
            SELECT e.user_id, MIN(e.ts_us) AS p_ts
            FROM ev e JOIN c ON e.user_id = c.user_id
            WHERE e.event_type = 'purchase' AND e.ts_us > c.c_ts
            GROUP BY e.user_id
        )
        SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM s) AS n_signup_users,
               (SELECT CAST(COUNT(*) AS BIGINT) FROM c) AS n_clicked_after,
               (SELECT CAST(COUNT(*) AS BIGINT) FROM p) AS n_converted
        """,
        tags=("ext-events", "ext-olap"),
    )
    def q_funnel_three_step_ordered(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Strictly-ordered 3-step funnel (signup → later click → later
        purchase): each stage is min-timestamp-after-previous-stage, so a
        click BEFORE signup does not count — the ordering semantics
        funnel_signup_purchase (mere presence) can't express. Three aggs
        all keyed on user_id: one shuffle partitioning, reused."""
        ev = load_events(spark, sf_dir).select(
            "user_id", "event_type", F.expr("unix_micros(ts)").alias("ts_us")
        )
        s = (
            ev.filter(F.col("event_type") == "signup")
            .groupBy("user_id")
            .agg(F.min("ts_us").alias("s_ts"))
        )
        c = (
            ev.filter(F.col("event_type") == "click")
            .join(s, "user_id")
            .filter(F.col("ts_us") > F.col("s_ts"))
            .groupBy("user_id")
            .agg(F.min("ts_us").alias("c_ts"))
        )
        p = (
            ev.filter(F.col("event_type") == "purchase")
            .join(c, "user_id")
            .filter(F.col("ts_us") > F.col("c_ts"))
            .groupBy("user_id")
            .agg(F.min("ts_us").alias("p_ts"))
        )
        return (
            s.agg(F.count("*").alias("n_signup_users"))
            .crossJoin(c.agg(F.count("*").alias("n_clicked_after")))
            .crossJoin(p.agg(F.count("*").alias("n_converted")))
        )

    # -- seasonality / LTV --------------------------------------------------

    @register(
        "events_hourly_seasonality",
        sql="""
        SELECT event_type, CAST(date_part('hour', ts) AS INT) AS hour,
               CAST(COUNT(*) AS BIGINT) AS n_events,
               CAST(SUM(CAST("value" AS DECIMAL(27,4))) AS DOUBLE)
                   / COUNT(*) AS avg_value
        FROM events
        GROUP BY event_type, 2
        """,
        tags=("ext-events", "ext-stats"),
    )
    def q_events_hourly_seasonality(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Hour-of-day seasonality per event type (count + deterministic
        decimal-snapped mean value) — one partial-agg'd groupBy; the UTC
        session pin in load_events is what makes hour() stable against
        driver timezones."""
        ev = load_events(spark, sf_dir)
        return ev.groupBy(
            "event_type", F.hour("ts").cast("int").alias("hour")
        ).agg(
            F.count("*").alias("n_events"),
            (
                F.sum(F.col("value").cast("decimal(27,4)")).cast("double")
                / F.count("*")
            ).alias("avg_value"),
        )

    @register(
        "customer_ltv_curve",
        sql=f"""
        WITH base AS (
            SELECT o_custkey,
                   CAST(date_part('year', o_orderdate) * 12
                        + date_part('month', o_orderdate) AS INT) AS ym,
                   o_totalprice
            FROM orders
        ), cohort AS (
            SELECT o_custkey, MIN(ym) AS cohort_ym FROM base GROUP BY o_custkey
        ), rolled AS (
            SELECT c.cohort_ym, b.ym - c.cohort_ym AS month_idx,
                   {sql_money_sum("b.o_totalprice", "revenue")}
            FROM base b JOIN cohort c ON b.o_custkey = c.o_custkey
            GROUP BY c.cohort_ym, b.ym - c.cohort_ym
        )
        SELECT cohort_ym, month_idx, revenue,
               CAST(SUM(CAST(revenue AS DECIMAL(27,4))) OVER (
                   PARTITION BY cohort_ym ORDER BY month_idx
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS DOUBLE) AS cum_revenue
        FROM rolled
        """,
        tags=("ext-window", "ext-olap"),
    )
    def q_customer_ltv_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Cohort LTV curve: customers grouped by first-order month,
        revenue per months-since-cohort, cumulative per cohort. Months as
        year*12+month ints (no DATE columns in compared output). The
        cumulative window runs over the tiny (cohort × month) rollup, and
        it ALSO decimal-snaps: an ordered double window sum is NOT
        portable — DuckDB evaluates window aggregates with a segment tree
        (different association order than Spark's running add), which
        showed up as a last-ulp mismatch in verification."""
        o = T(spark, sf_dir, "orders")
        base = o.select(
            "o_custkey",
            (F.year("o_orderdate") * 12 + F.month("o_orderdate"))
            .cast("int")
            .alias("ym"),
            "o_totalprice",
        )
        cohort = base.groupBy("o_custkey").agg(F.min("ym").alias("cohort_ym"))
        rolled = (
            base.join(cohort, "o_custkey")
            .groupBy("cohort_ym", (F.col("ym") - F.col("cohort_ym")).alias("month_idx"))
            .agg(money_sum(F.col("o_totalprice"), "revenue"))
        )
        w = (
            Window.partitionBy("cohort_ym")
            .orderBy("month_idx")
            .rowsBetween(Window.unboundedPreceding, 0)
        )
        return rolled.select(
            "cohort_ym",
            "month_idx",
            "revenue",
            F.sum(F.col("revenue").cast("decimal(27,4)"))
            .over(w)
            .cast("double")
            .alias("cum_revenue"),
        )

    # -- tokenizer fertility / language-ID audit ----------------------------

    @register(
        "token_fertility_by_source",
        sql=r"""
        SELECT source,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(len(regexp_extract_all(text,
                    '[a-z]+|[0-9]+|[^a-z0-9\s]'))) AS BIGINT) AS n_tokens,
               CAST(SUM(length(text)) AS BIGINT) AS n_chars,
               CAST(SUM(length(text)) AS DOUBLE)
                   / CAST(SUM(len(regexp_extract_all(text,
                         '[a-z]+|[0-9]+|[^a-z0-9\s]'))) AS DOUBLE)
                   AS chars_per_token
        FROM documents
        GROUP BY source
        """,
        tags=("ext-text", "ext-stats"),
    )
    def q_token_fertility_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Tokenizer fertility (chars per BPE-ish token) by source — the
        signal that flags sources whose text will blow the token budget
        (boilerplate markup, non-target scripts). Reuses the
        token_count_regex pretokenizer; integer sums, one exact double
        division."""
        docs = text.with_token_count_regex(T(spark, sf_dir, "documents"))
        return docs.groupBy("source").agg(
            F.count("*").alias("n_docs"),
            F.sum("n_bpe_tokens").alias("n_tokens"),
            F.sum(F.length("text")).alias("n_chars"),
            (
                F.sum(F.length("text")).cast("double")
                / F.sum("n_bpe_tokens").cast("double")
            ).alias("chars_per_token"),
        )

    @register(
        "langid_confusion_matrix",
        sql="""
        WITH scored AS (
            SELECT doc_id, lang,
                   CAST(len(list_filter(string_split(text, ' '),
                        t -> t IN ('the', 'a'))) AS BIGINT) AS score_en,
                   CAST(len(list_filter(string_split(text, ' '),
                        t -> t IN ('row', 'column'))) AS BIGINT) AS score_es,
                   CAST(len(list_filter(string_split(text, ' '),
                        t -> t IN ('data', 'table'))) AS BIGINT) AS score_pt
            FROM documents
        ), pred AS (
            SELECT lang,
                   CASE WHEN score_en >= score_es AND score_en >= score_pt
                        THEN 'en'
                        WHEN score_es >= score_pt THEN 'es'
                        ELSE 'pt' END AS pred_lang
            FROM scored
        ), m AS (
            SELECT lang, pred_lang, CAST(COUNT(*) AS BIGINT) AS n
            FROM pred GROUP BY lang, pred_lang
        ), tot AS (
            SELECT lang, CAST(SUM(n) AS BIGINT) AS n_lang FROM m GROUP BY lang
        )
        SELECT m.lang, m.pred_lang, m.n, t.n_lang,
               CAST(m.n AS DOUBLE) / CAST(t.n_lang AS DOUBLE) AS share
        FROM m JOIN tot t ON m.lang = t.lang
        """,
        tags=("ext-text", "ext-stats"),
    )
    def q_langid_confusion_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Confusion matrix of the language-ID heuristic against the
        labeled lang column — the classifier-quality audit (same pattern
        as ann_recall_report for the ANN index). Tiny rollup + broadcast
        normalizing join."""
        scored = text.with_lang_id(T(spark, sf_dir, "documents"))
        m = scored.groupBy("lang", "pred_lang").agg(F.count("*").alias("n"))
        tot = m.groupBy("lang").agg(F.sum("n").alias("n_lang"))
        return (
            m.join(F.broadcast(tot), "lang")
            .withColumn(
                "share", F.col("n").cast("double") / F.col("n_lang").cast("double")
            )
            .select("lang", "pred_lang", "n", "n_lang", "share")
        )


_register_batch3()


def _register_batch4():
    """Batch 4: incremental aggregate maintenance."""
    from politicamente_etl_spark.operators.agg import merge_aggregates
    from politicamente_etl_spark.plans.catalog import T, register

    @register(
        "incremental_agg_merge",
        sql=f"""
        SELECT o_custkey AS cust,
               CAST(COUNT(*) AS BIGINT) AS n_orders,
               {sql_money_sum("o_totalprice", "total_spend")},
               MAX(o_totalprice) AS max_price
        FROM orders
        GROUP BY o_custkey
        """,
        tags=("ext-olap", "ext-sampling"),
    )
    def q_incremental_agg_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Materialized-view refresh without rescanning history
        (operators.agg.merge_aggregates): yesterday's per-customer
        aggregate state merges with today's batch aggregate, and the
        ORACLE IS THE FULL RECOMPUTE — the query passes only if
        merge(agg(A), agg(B)) == agg(A ∪ B) bit-exactly (counts/sums
        add, max folds, money partials stay exact through the decimal
        snap). The split is o_orderkey % 4 (batch ≈ a quarter of rows);
        at scale the state table is bucketed by the key so only the
        batch side shuffles."""
        o = T(spark, sf_dir, "orders")

        def part_agg(df: DataFrame) -> DataFrame:
            return df.groupBy(F.col("o_custkey").alias("cust")).agg(
                F.count("*").alias("n_orders"),
                money_sum(F.col("o_totalprice"), "total_spend"),
                F.max("o_totalprice").alias("max_price"),
            )

        state = part_agg(o.filter(F.col("o_orderkey") % 4 != 0))
        delta = part_agg(o.filter(F.col("o_orderkey") % 4 == 0))
        return merge_aggregates(
            state,
            delta,
            keys=["cust"],
            sum_cols=["total_spend"],
            count_cols=["n_orders"],
            max_cols=["max_price"],
        )


_register_batch4()
