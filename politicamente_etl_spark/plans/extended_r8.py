"""Round-8 prep batch 1: graph link prediction (Adamic-Adar over the
co-purchase graph), reciprocal-kNN pair filtering, leave-one-out target
encoding, Holt double-exponential smoothing, HBOS multivariate anomaly
scores, and the classifier-evaluation pair (exact tie-corrected ROC-AUC
+ reliability-diagram bins) for the hashed quality gate — plus the
physical-erasure completion of the GDPR story: delete → vacuum → prove
the subject rows are gone from DISK, not just from the snapshot.

Engine-parity rules as extended_r4*..r7: integer micro/milli snaps at
expression birth, ppm ratios by integer division, sign-safe floor
division via the pmod trick wherever a quantity can go negative
(`stats._floordiv_sql` and its DuckDB twin in the oracle strings).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# micro-nat log snap shared with the LM-quality operators
_LNM = "CAST(round(ln(CAST({n} AS DOUBLE)) * 1e6) AS BIGINT)"


def _fd_sql(x: str, d: int) -> str:
    """DuckDB sign-safe exact floor division (twin of
    stats._floordiv_sql): subtracting the non-negative mod makes the
    numerator an exact multiple of d, so `//` is exact for negatives."""
    return f"((({x}) - ((({x}) % {d}) + {d}) % {d}) // {d})"


# shared support-≥2 co-purchase edge list (the graph every graph-family
# query here runs on) — one definition for both engines, like
# extended_r4b's _emb_milli/_M_CTE pair for embeddings
_CO_EDGE_SQL = """li AS (
            SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
        ), e AS (
            SELECT a.l_partkey AS pa, b.l_partkey AS pb
            FROM li a JOIN li b
              ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
            GROUP BY 1, 2 HAVING COUNT(*) >= 2
        )"""


def _co_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(pa, pb) co-purchase pairs sharing ≥2 orders — the Spark twin of
    _CO_EDGE_SQL."""
    from politicamente_etl_spark.plans.catalog import T

    li = (
        T(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    from politicamente_etl_spark.operators.graph import cooccurrence_pairs

    # r9 opt: one-shuffle pair builder; identical support-2 edges.
    return (
        cooccurrence_pairs(li, "l_orderkey", "l_partkey")
        .filter(F.col("cnt") >= 2)
        .select("pa", "pb")
    )


def _register():
    from politicamente_etl_spark.operators import graph, sim, stats
    from politicamente_etl_spark.plans.catalog import T, load_events, register

    # -- Adamic-Adar link prediction -----------------------------------------

    @register(
        "adamic_adar_link_pred",
        sql=f"""
        WITH {_CO_EDGE_SQL}, und AS (
            SELECT pa AS s, pb AS d FROM e
            UNION ALL SELECT pb AS s, pa AS d FROM e
        ), wt AS (
            SELECT s AS w,
                   CAST(round(1e6 / ln(CAST(COUNT(*) AS DOUBLE)))
                        AS BIGINT) AS w_micro
            FROM und GROUP BY s
            HAVING COUNT(*) BETWEEN 2 AND 256
        ), wedge AS (
            SELECT x.d AS a, y.d AS b, wt.w_micro
            FROM und x
            JOIN und y ON x.s = y.s AND x.d < y.d
            JOIN wt ON wt.w = x.s
        ), sc AS (
            SELECT a, b, CAST(COUNT(*) AS BIGINT) AS n_common,
                   CAST(SUM(w_micro) AS BIGINT) AS aa_micro
            FROM wedge GROUP BY 1, 2
        )
        SELECT sc.a AS node_a, sc.b AS node_b, sc.n_common, sc.aa_micro
        FROM sc
        WHERE NOT EXISTS (SELECT 1 FROM e
                          WHERE e.pa = sc.a AND e.pb = sc.b)
        ORDER BY aa_micro DESC, node_a, node_b LIMIT 50
        """,
        tags=("ext-graph", "ext-rel", "ext-sim"),
    )
    def q_adamic_adar_link_pred(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Top-50 predicted (absent) co-purchase links by Adamic-Adar
        score over the support-≥2 co-purchase graph — rare shared
        neighbors count more than hubs (micro-snapped 1/ln(deg)
        weights). Wedge self-join on the center node with the hub cap
        applied BEFORE the join; known edges leave via a left-anti
        join; TakeOrdered top-k."""
        e = _co_edges(spark, sf_dir)
        return graph.adamic_adar(e, src="pa", dst="pb", max_degree=256, top_k=50)

    # -- reciprocal (mutual) kNN pairs ---------------------------------------

    from politicamente_etl_spark.plans.extended_r4b import _M_CTE, _emb_milli

    @register(
        "mutual_knn_pairs",
        sql=_M_CTE
        + """, dots AS (
            SELECT a.vec_id AS va, b.vec_id AS vb,
                   CAST(SUM(a.mv * b.mv) AS BIGINT) AS dot
            FROM m a JOIN m b ON a.i = b.i AND a.vec_id < b.vec_id
            GROUP BY 1, 2
            HAVING SUM(a.mv * b.mv) >= 100000
        ), sym AS (
            SELECT va AS v, vb AS u, dot AS dt FROM dots
            UNION ALL SELECT vb AS v, va AS u, dot AS dt FROM dots
        ), tk AS (
            SELECT v, u, dt,
                   row_number() OVER (PARTITION BY v
                       ORDER BY dt DESC, u) AS rnk
            FROM sym QUALIFY rnk <= 5
        )
        SELECT f.v AS node_a, f.u AS node_b, f.dt AS dot,
               CAST(f.rnk AS BIGINT) AS rank_ab,
               CAST(r.rnk AS BIGINT) AS rank_ba
        FROM tk f JOIN tk r ON f.v = r.u AND f.u = r.v AND f.v < f.u
        """,
        tags=("ext-sim", "ext-embeddings", "ext-dedup"),
    )
    def q_mutual_knn_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Reciprocal-kNN pairs (k=5) over the ε-candidate graph
        (integer milli dot ≥ 100000): keeps only pairs in each other's
        top-k — the hubness-robust mutual-neighbor criterion. The
        exact all-pairs candidate generator here is the small-corpus
        AUDIT twin and refuses large inputs (the component-level pair
        join is quadratic ×64 dims — the r8 scale probe measured ×8.5
        wall time for ×4 vectors); mutual_knn_pairs_lsh is the 100 TB
        candidate path, and the mutual filter is identical over
        either."""
        emb = T(spark, sf_dir, "embeddings").select("vec_id")
        n = emb.limit(20_001).count()
        if n > 20_000:
            raise ValueError(
                "mutual_knn_pairs is the quadratic exact audit; input "
                "exceeds 20000 vectors — use mutual_knn_pairs_lsh."
            )
        m = _emb_milli(spark, sf_dir)
        a, b = m.alias("a"), m.alias("b")
        dots = (
            a.join(
                b,
                (F.col("a.i") == F.col("b.i"))
                & (F.col("a.vec_id") < F.col("b.vec_id")),
            )
            .groupBy(
                F.col("a.vec_id").alias("va"), F.col("b.vec_id").alias("vb")
            )
            .agg(F.sum(F.col("a.mv") * F.col("b.mv")).alias("dot"))
            .filter(F.col("dot") >= 100000)
        )
        return sim.mutual_knn_pairs(dots, k=5)

    # -- leave-one-out target encoding ---------------------------------------

    @register(
        "loo_target_encoding_segment",
        sql="""
        WITH j AS (
            SELECT o_orderkey, c_mktsegment AS segment,
                   CAST(floor(o_totalprice * 100) AS BIGINT) AS cents
            FROM orders JOIN customer ON o_custkey = c_custkey
        ), g AS (
            SELECT segment, CAST(SUM(cents) AS BIGINT) AS s,
                   CAST(COUNT(*) AS BIGINT) AS n
            FROM j GROUP BY 1
        )
        SELECT o_orderkey, segment, cents AS target,
               CASE WHEN n > 1 THEN CAST(s - cents AS BIGINT) END AS loo_num,
               CASE WHEN n > 1 THEN CAST(n - 1 AS BIGINT) END AS loo_den,
               CASE WHEN n > 1 THEN CAST((s - cents) // (n - 1) AS BIGINT)
                    END AS loo_mean
        FROM j JOIN g USING (segment)
        WHERE o_orderkey % 8 = 0
        """,
        tags=("ext-sample", "ext-rel"),
    )
    def q_loo_target_encoding_segment(
        spark: SparkSession, sf_dir: str
    ) -> DataFrame:
        """Leave-one-out target encoding of the market segment against
        the order total (cents): per-row mean of every OTHER order in
        the segment, carried as exact (num, den) integers plus the
        floored mean — the leakage-safe categorical encoder. Stats are
        computed over ALL orders; the emitted slice (o_orderkey % 8)
        only bounds the driver compare."""
        o = T(spark, sf_dir, "orders").select(
            "o_orderkey",
            "o_custkey",
            F.floor(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        )
        c = T(spark, sf_dir, "customer").select(
            "c_custkey", F.col("c_mktsegment").alias("segment")
        )
        j = o.join(c, o.o_custkey == c.c_custkey).select(
            "o_orderkey", "segment", "cents"
        )
        enc = stats.loo_target_encoding(
            j, "segment", "cents", keep_cols=("o_orderkey",)
        )
        return enc.filter(F.col("o_orderkey") % 8 == 0).select(
            "o_orderkey", "segment", "target", "loo_num", "loo_den", "loo_mean"
        )

    # -- Holt double exponential smoothing -----------------------------------

    _lnew = _fd_sql("2 * s.v + 8 * (r.l + r.b)", 10)
    _bnew = _fd_sql(f"(({_lnew}) - r.l) + 9 * r.b", 10)

    @register(
        "holt_winters_daily_revenue",
        sql=f"""
        WITH RECURSIVE d AS (
            SELECT n_name AS nation, o_orderdate AS day,
                   CAST(SUM(CAST(floor(o_totalprice * 100) AS BIGINT))
                        AS BIGINT) AS v
            FROM orders
            JOIN customer ON o_custkey = c_custkey
            JOIN nation ON c_nationkey = n_nationkey
            GROUP BY 1, 2
        ), s AS (
            SELECT nation, v,
                   row_number() OVER (PARTITION BY nation
                       ORDER BY day) AS rn,
                   COUNT(*) OVER (PARTITION BY nation) AS nd
            FROM d
        ), rec AS (
            SELECT nation, nd, 1 AS i, v AS l, CAST(0 AS BIGINT) AS b
            FROM s WHERE rn = 1
            UNION ALL
            SELECT r.nation, r.nd, r.i + 1,
                   CAST({_lnew} AS BIGINT),
                   CAST({_bnew} AS BIGINT)
            FROM rec r JOIN s ON s.nation = r.nation AND s.rn = r.i + 1
        )
        SELECT nation, CAST(nd AS BIGINT) AS n_days,
               CAST(l AS BIGINT) AS level, CAST(b AS BIGINT) AS trend,
               CAST(l + 7 * b AS BIGINT) AS forecast
        FROM rec WHERE i = nd
        """,
        tags=("ext-stats", "ext-temporal", "ext-rel"),
    )
    def q_holt_winters_daily_revenue(
        spark: SparkSession, sf_dir: str
    ) -> DataFrame:
        """Holt's level+trend smoothing (α=0.2, β=0.1 in exact integer
        tenths) of each nation's daily revenue series, plus the 7-step
        linear forecast. The per-nation series is calendar-bounded, so
        the fold is one collect_list + map-side `aggregate`; the
        DuckDB oracle replays the identical recurrence as a recursive
        CTE. Floor division is sign-safe (trend goes negative) via the
        pmod trick on both engines."""
        o = T(spark, sf_dir, "orders").select(
            "o_custkey",
            "o_orderdate",
            F.floor(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        )
        c = T(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
        n = T(spark, sf_dir, "nation").select("n_nationkey", "n_name")
        daily = (
            o.join(c, o.o_custkey == c.c_custkey)
            .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
            .groupBy(F.col("n_name").alias("nation"), F.col("o_orderdate"))
            .agg(F.sum("cents").cast("long").alias("v"))
        )
        return stats.holt_winters_level_trend(
            daily, "nation", day_col="o_orderdate", value_col="v"
        )

    # -- HBOS anomaly scores -------------------------------------------------

    @register(
        "hbos_event_outliers",
        sql=f"""
        WITH base AS (
            SELECT event_id,
                   CAST(floor(value * 1000) AS BIGINT) AS vm,
                   CAST((epoch_us(ts) // 3600000000) % 24 AS BIGINT) AS hod,
                   event_type AS et
            FROM events
        ), rng AS (
            SELECT MIN(vm) AS vmin, MAX(vm) AS vmax,
                   COUNT(*) AS n_total
            FROM base
        ), b2 AS (
            SELECT event_id, hod, et, n_total,
                   CAST(((vm - vmin) * 16) // (vmax - vmin + 1)
                        AS BIGINT) AS vbin
            FROM base, rng
        ), hv AS (SELECT vbin, COUNT(*) AS n_v FROM b2 GROUP BY 1),
           hh AS (SELECT hod, COUNT(*) AS n_h FROM b2 GROUP BY 1),
           ht AS (SELECT et, COUNT(*) AS n_t FROM b2 GROUP BY 1)
        SELECT b2.event_id, b2.vbin, b2.hod, b2.et AS event_type,
               CAST(3 * {_LNM.format(n="n_total")}
                    - {_LNM.format(n="n_v")}
                    - {_LNM.format(n="n_h")}
                    - {_LNM.format(n="n_t")} AS BIGINT) AS hbos_micro
        FROM b2 JOIN hv USING (vbin) JOIN hh USING (hod)
                JOIN ht USING (et)
        ORDER BY hbos_micro DESC, event_id LIMIT 50
        """,
        tags=("ext-stats", "ext-events"),
    )
    def q_hbos_event_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Histogram-based outlier scores over events (value bin ×
        hour-of-day × type): summed micro-nat negative log densities,
        top-50 — the distance-free multivariate anomaly detector. All
        histograms are tiny broadcast aggregates; scoring is codegen'd
        expressions; top-k is TakeOrdered."""
        ev = load_events(spark, sf_dir)
        return stats.hbos_scores(ev).select(
            "event_id", "vbin", "hod", "event_type", "hbos_micro"
        )


_register()


def _classifier_scored_cte() -> str:
    """Oracle CTE chain scoring every document with the SAME
    deterministic fixture model as hashed_classifier_gate (extended_r6)
    plus the lexical-diversity ground-truth label — shared front of the
    classifier-evaluation queries (AUC, calibration, P/R)."""
    from politicamente_etl_spark.operators.sampling import sql_hash_bucket

    w_sql = (
        f"CAST({sql_hash_bucket('i', seed='qc-w', n_buckets=2001)} - 1000"
        " AS BIGINT)"
    )
    f_bucket = sql_hash_bucket("f", seed="qc-v1", n_buckets=4096)
    return f"""
        WITH uni AS (
            SELECT doc_id, 'u:' || unnest(string_split(text, ' ')) AS f
            FROM documents
        ), arr AS (
            SELECT doc_id, string_split(text, ' ') AS a FROM documents
        ), big AS (
            SELECT doc_id, 'b:' || array_to_string(a[i:i+1], ' ') AS f
            FROM arr, UNNEST(generate_series(1, len(a) - 1)) AS u(i)
        ), feats AS (
            SELECT doc_id, f FROM uni UNION ALL SELECT doc_id, f FROM big
        ), fb AS (
            SELECT doc_id, {f_bucket} AS bucket FROM feats
        ), w AS (
            SELECT CAST(i AS INT) AS bucket, {w_sql} AS w_micro
            FROM generate_series(0, 4095) AS t(i)
        ), logits AS (
            SELECT fb.doc_id,
                   CAST(SUM(w.w_micro) AS BIGINT) AS logit
            FROM fb JOIN w USING (bucket) GROUP BY 1
        ), truth AS (
            SELECT doc_id,
                   CAST((len(list_distinct(string_split(text, ' '))) * 1000)
                        // len(string_split(text, ' ')) >= 800 AS INT)
                       AS label
            FROM documents
        )"""


def _register_batch2():
    from politicamente_etl_spark.operators import stats, text
    from politicamente_etl_spark.plans.catalog import T, register

    _scored_cte = _classifier_scored_cte()

    @register(
        "classifier_auc_report",
        sql=_scored_cte
        + f""", j AS (
            SELECT {_fd_sql('logits.logit', 1000)} AS s, truth.label
            FROM logits JOIN truth USING (doc_id)
        ), ps AS (
            SELECT s, CAST(COUNT(*) AS BIGINT) AS n_tot,
                   CAST(SUM(label) AS BIGINT) AS n_pos
            FROM j GROUP BY 1
        ), r AS (
            SELECT s, n_tot, n_pos,
                   COALESCE(SUM(n_tot) OVER (ORDER BY s
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                       0) AS cum_below
            FROM ps
        ), agg AS (
            SELECT CAST(SUM(n_pos) AS BIGINT) AS n_pos,
                   CAST(SUM(n_tot) - SUM(n_pos) AS BIGINT) AS n_neg,
                   CAST(SUM(n_pos * (2 * cum_below + n_tot + 1))
                        AS BIGINT) AS rank_sum_x2
            FROM r
        )
        SELECT n_pos, n_neg,
               CAST(rank_sum_x2 - n_pos * (n_pos + 1) AS BIGINT) AS auc_num,
               CAST(2 * n_pos * n_neg AS BIGINT) AS auc_den,
               CAST((rank_sum_x2 - n_pos * (n_pos + 1)) * 1000000
                    // (2 * n_pos * n_neg) AS BIGINT) AS auc_ppm
        FROM agg
        """,
        tags=("ext-text", "ext-stats", "ext-docs"),
    )
    def q_classifier_auc_report(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Exact tie-corrected ROC-AUC of the hashed quality gate's
        logit against the lexical-diversity ground truth (q_milli ≥
        800) — integer Mann-Whitney rank sum over milli-nat-BUCKETED
        scores, so the per-score summary the running rank walks is
        bounded at any corpus size. One number the gate ships with."""
        docs = T(spark, sf_dir, "documents").select("doc_id", "text")
        w = text.fixture_hash_weights(spark, n_buckets=4096, seed="qc-w")
        logit = text.hashed_linear_score(
            docs, w, n_buckets=4096, seed="qc-v1"
        ).select("doc_id", "logit_micro")
        truth = docs.select(
            "doc_id",
            (
                F.expr(
                    "(size(array_distinct(split(text, ' '))) * 1000)"
                    " div size(split(text, ' '))"
                )
                >= 800
            )
            .cast("int")
            .alias("label"),
        )
        j = logit.join(truth, "doc_id").select(
            F.expr("(logit_micro - pmod(logit_micro, 1000)) DIV 1000").alias(
                "s"
            ),
            "label",
        )
        return stats.auc_exact_report(j, score_col="s", label_col="label")

    @register(
        "classifier_calibration_bins",
        sql=_scored_cte
        + """, j AS (
            SELECT logits.logit AS s, truth.label AS y
            FROM logits JOIN truth USING (doc_id)
        ), rng AS (
            SELECT MIN(s) AS smin, MAX(s) AS smax FROM j
        ), binned AS (
            SELECT CAST(((s - smin) * 10) // (smax - smin + 1)
                        AS BIGINT) AS bin,
                   s, y
            FROM j, rng
        )
        SELECT bin, CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(y) AS BIGINT) AS n_pos,
               CAST(SUM(y) * 1000000 // COUNT(*) AS BIGINT)
                   AS pos_rate_ppm,
               CAST(SUM(s) AS BIGINT) AS score_sum
        FROM binned GROUP BY 1
        """,
        tags=("ext-text", "ext-stats", "ext-docs"),
    )
    def q_classifier_calibration_bins(
        spark: SparkSession, sf_dir: str
    ) -> DataFrame:
        """Reliability-diagram bins for the hashed quality gate: ten
        equal-width logit bins, per bin the row/positive counts, the
        floored positive rate (ppm) and the exact score sum — the
        calibration audit that pairs with classifier_auc_report."""
        docs = T(spark, sf_dir, "documents").select("doc_id", "text")
        w = text.fixture_hash_weights(spark, n_buckets=4096, seed="qc-w")
        logit = text.hashed_linear_score(
            docs, w, n_buckets=4096, seed="qc-v1"
        ).select("doc_id", F.col("logit_micro").alias("s"))
        truth = docs.select(
            "doc_id",
            (
                F.expr(
                    "(size(array_distinct(split(text, ' '))) * 1000)"
                    " div size(split(text, ' '))"
                )
                >= 800
            )
            .cast("int")
            .alias("y"),
        )
        j = logit.join(truth, "doc_id")
        return stats.calibration_bins(j, score_col="s", label_col="y")


_register_batch2()


def _register_batch3():
    import os
    import tempfile

    from politicamente_etl_spark.plans.catalog import T, register

    @register(
        "txlog_vacuum_erasure_proof",
        sql="""
        SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(SUM(CAST(floor(c_acctbal * 100) AS BIGINT)) AS BIGINT)
                   AS acctbal_cents,
               CAST(0 AS BIGINT) AS n_subject_rows_on_disk,
               CAST(0 AS BIGINT) AS orphan_data_files
        FROM customer WHERE c_custkey % 89 <> 0
        """,
        tags=("ext-sink", "ext-privacy"),
    )
    def q_txlog_vacuum_erasure_proof(
        spark: SparkSession, sf_dir: str
    ) -> DataFrame:
        """Physical erasure, proven: load customers into a commit-log
        table (key-range-clustered files), DELETE the subject set
        (c_custkey % 89 == 0), then VACUUM(retain_versions=1) and scan
        the RAW parquet files left on disk — bypassing every manifest —
        to show zero subject rows survive anywhere, and that the disk
        holds exactly the live file set (no orphans). This is the
        second half of txlog_right_to_erasure's documented two-step
        (logical-now, physical-on-retention): Art. 17 is satisfied at
        vacuum time, and this query is the audit that says so."""
        from politicamente_etl_spark.sources.txlog import TxLogTable

        c = T(spark, sf_dir, "customer").select("c_custkey", "c_acctbal")
        path = os.path.join(tempfile.mkdtemp(prefix="txlog_vac_"), "t")
        qsize = 500
        t = TxLogTable.create(
            spark, path, c.filter(F.col("c_custkey") <= qsize)
        )
        lo = qsize
        while True:
            chunk = c.filter(
                (F.col("c_custkey") > lo) & (F.col("c_custkey") <= lo + qsize)
            )
            if chunk.limit(1).count() == 0:
                break
            t.append(chunk)
            lo += qsize
        subjects = c.filter(F.col("c_custkey") % 89 == 0).select("c_custkey")
        t.delete_keys(subjects, ["c_custkey"])
        # retain_versions=1: expire every pre-delete version (0 retains
        # ALL history — time travel intact, nothing physically erased)
        t.vacuum(retain_versions=1)

        disk_files = []
        for root, _dirs, files in os.walk(path):
            disk_files.extend(
                os.path.join(root, f) for f in files if f.endswith(".parquet")
            )
        live = set(t._state().files)
        orphans = len(disk_files) - len(live)
        raw = spark.read.parquet(*disk_files)
        report = (
            t.snapshot()
            .agg(
                F.count("*").cast("long").alias("n_rows"),
                F.sum(F.floor(F.col("c_acctbal") * 100).cast("long"))
                .cast("long")
                .alias("acctbal_cents"),
            )
            .crossJoin(
                raw.filter(F.col("c_custkey") % 89 == 0).agg(
                    F.count("*").cast("long").alias("n_subject_rows_on_disk")
                )
            )
            .withColumn(
                "orphan_data_files", F.lit(orphans).cast("long")
            )
        )
        return report


_register_batch3()


def _register_batch4():
    from politicamente_etl_spark.operators import graph, sampling, text
    from politicamente_etl_spark.operators.sampling import sql_hash_bucket
    from politicamente_etl_spark.plans.catalog import T, register

    # -- WordPiece greedy segmentation ---------------------------------------
    # shares the vocabulary CTEs with unigram_viterbi_segmentation
    # (extended_r7) — same pieces, different matcher (greedy vs optimal)

    @register(
        "wordpiece_greedy_segmentation",
        sql="""
        WITH RECURSIVE w AS MATERIALIZED (
            SELECT w, CAST(COUNT(*) AS BIGINT) AS wf
            FROM (SELECT unnest(string_split(text, ' ')) AS w
                  FROM documents)
            WHERE length(w) >= 1
            GROUP BY w
        ), subs AS MATERIALIZED (
            SELECT w.w, w.wf, ii.i AS i, kk.k AS k,
                   substr(w.w, ii.i, kk.k) AS p
            FROM w,
                 unnest(generate_series(1, least(4, length(w.w)))) AS kk(k),
                 unnest(generate_series(1, length(w.w) - kk.k + 1)) AS ii(i)
        ), pc AS MATERIALIZED (
            SELECT p, CAST(SUM(wf) AS BIGINT) AS cnt FROM subs GROUP BY p
        ), vocab AS (
            -- UNION ALL + GROUP BY dedup (recursive-CTE UNION trap,
            -- see unigram_viterbi_segmentation)
            SELECT p, MAX(cnt) AS cnt FROM (
                SELECT p, cnt FROM
                    (SELECT p, cnt FROM pc ORDER BY cnt DESC, p LIMIT 200)
                UNION ALL
                SELECT p, cnt FROM pc WHERE length(p) = 1
            ) GROUP BY p
        ), tot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS t FROM vocab),
        pieces AS (
            SELECT p, CAST(round(ln(CAST(cnt AS DOUBLE)
                                    / CAST(t AS DOUBLE)) * 1e6)
                           AS BIGINT) AS sc
            FROM vocab, tot
        ), spos AS MATERIALIZED (
            -- candidate pieces per (word, START position), ordered by
            -- length: the greedy step always takes el[len(el)]
            SELECT s.w, s.i AS i,
                   list({'k': s.k, 'sc': pieces.sc} ORDER BY s.k) AS el
            FROM subs s JOIN pieces USING (p)
            GROUP BY s.w, s.i
        ), rec AS (
            SELECT w.w, w.wf, length(w.w) AS L,
                   CAST(1 AS BIGINT) AS cur, CAST(0 AS BIGINT) AS np,
                   CAST(0 AS BIGINT) AS cost
            FROM w
            UNION ALL
            SELECT r.w, r.wf, r.L,
                   r.cur + e.el[len(e.el)].k,
                   r.np + 1,
                   r.cost - e.el[len(e.el)].sc
            FROM rec r JOIN spos e ON e.w = r.w AND e.i = r.cur
            WHERE r.cur <= r.L
        )
        SELECT w, wf, CAST(L AS BIGINT) AS n_chars,
               CAST(np AS BIGINT) AS n_pieces,
               CAST(cost AS BIGINT) AS total_cost_micro
        FROM rec WHERE cur = L + 1
        """,
        tags=("ext-text", "ext-tokenizer"),
    )
    def q_wordpiece_greedy_segmentation(
        spark: SparkSession, sf_dir: str
    ) -> DataFrame:
        """WordPiece-style greedy longest-match-first segmentation of
        every vocabulary word against the shared substring vocabulary —
        the third tokenizer matcher next to BPE merges and the
        unigram-LM Viterbi optimum (same pieces, same micro-nat costs,
        so greedy excess cost is directly comparable). One sequential
        fold per word whose inner argmax-by-length FINISH lambda
        advances the cursor; the oracle replays the walk as a
        recursive CTE stepping on the cursor over per-start edge
        lists."""
        docs = T(spark, sf_dir, "documents").select("text")
        return text.wordpiece_greedy_segmentation(docs)

    # -- label propagation over the co-purchase graph ------------------------

    _seed_bucket = sql_hash_bucket("p_partkey", seed="lp-v1", n_buckets=10)

    @register(
        "label_propagation_parts",
        sql=f"""
        WITH {_CO_EDGE_SQL}, und AS (
            SELECT pa AS s, pb AS d FROM e
            UNION ALL SELECT pb AS s, pa AS d FROM e
        ), l0 AS (
            SELECT p_partkey AS node, p_brand AS label,
                   CAST(0 AS BIGINT) AS rnd
            FROM part WHERE {_seed_bucket} = 0
        ), v1 AS (
            SELECT und.d, l0.label, COUNT(*) AS c
            FROM und JOIN l0 ON und.s = l0.node
            GROUP BY 1, 2
        ), n1 AS (
            SELECT d AS node, label, CAST(1 AS BIGINT) AS rnd
            FROM (SELECT d, label,
                         row_number() OVER (PARTITION BY d
                             ORDER BY c DESC, label) AS rk
                  FROM v1) WHERE rk = 1
        ), l1 AS (
            SELECT * FROM l0
            UNION ALL
            SELECT n1.* FROM n1
            WHERE NOT EXISTS (SELECT 1 FROM l0 WHERE l0.node = n1.node)
        ), v2 AS (
            SELECT und.d, l1.label, COUNT(*) AS c
            FROM und JOIN l1 ON und.s = l1.node
            GROUP BY 1, 2
        ), n2 AS (
            SELECT d AS node, label, CAST(2 AS BIGINT) AS rnd
            FROM (SELECT d, label,
                         row_number() OVER (PARTITION BY d
                             ORDER BY c DESC, label) AS rk
                  FROM v2) WHERE rk = 1
        ), l2 AS (
            SELECT * FROM l1
            UNION ALL
            SELECT n2.* FROM n2
            WHERE NOT EXISTS (SELECT 1 FROM l1 WHERE l1.node = n2.node)
        )
        SELECT node, label, rnd FROM l2
        """,
        tags=("ext-graph", "ext-rel"),
    )
    def q_label_propagation_parts(
        spark: SparkSession, sf_dir: str
    ) -> DataFrame:
        """Two rounds of hard label propagation on the support-≥2
        co-purchase graph: ~10% of parts are seeded with their brand
        (deterministic md5 bucket), unlabeled parts adopt their labeled
        neighbors' majority brand (min-label tie-break) — the
        semi-supervised classifier that needs no model. Votes are an
        ordinary aggregate + struct-min argmax, no window; the oracle
        unrolls both rounds as SQL stages."""
        from politicamente_etl_spark.operators.sampling import hash_bucket

        e = _co_edges(spark, sf_dir)
        seeds = (
            T(spark, sf_dir, "part")
            .filter(hash_bucket("p_partkey", seed="lp-v1", n_buckets=10) == 0)
            .select(
                F.col("p_partkey").alias("node"),
                F.col("p_brand").alias("label"),
            )
        )
        return graph.label_propagation(e, seeds, rounds=2, src="pa", dst="pb")

    # -- DoReMi-flavored domain reweighting ----------------------------------

    @register(
        "domain_weights_mw_update",
        sql="""
        WITH toks AS (
            SELECT source, unnest(string_split(text, ' ')) AS t
            FROM documents
        ), lm AS (
            SELECT t, CAST(COUNT(*) AS BIGINT) AS cnt FROM toks GROUP BY 1
        ), tot AS (
            SELECT CAST(SUM(cnt) AS BIGINT) AS tt FROM lm
        ), lp AS (
            SELECT t, CAST(round(ln(CAST(cnt AS DOUBLE)
                                    / CAST(tt AS DOUBLE)) * 1e6)
                           AS BIGINT) AS lp
            FROM lm, tot
        ), ps AS (
            SELECT source, CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(SUM(lp) AS BIGINT) AS s
            FROM toks JOIN lp USING (t) GROUP BY 1
        ), losses AS (
            SELECT source, CAST((-s) // n AS BIGINT) AS loss_micro FROM ps
        ), lo AS (SELECT MIN(loss_micro) AS m FROM losses),
        raw AS (
            SELECT source, loss_micro,
                   CAST(loss_micro - m AS BIGINT) AS excess_micro,
                   CAST(round(exp(least(CAST(loss_micro - m AS DOUBLE)
                            * 1000000 / 1e12, 1.2e1)) * 1e6)
                        AS BIGINT) AS raw_micro
            FROM losses, lo
        ), rt AS (SELECT CAST(SUM(raw_micro) AS BIGINT) AS rt FROM raw)
        SELECT source, loss_micro, excess_micro, raw_micro,
               CAST(raw_micro * 1000000 // rt AS BIGINT) AS weight_ppm
        FROM raw, rt
        """,
        tags=("ext-sample", "ext-text", "ext-docs"),
    )
    def q_domain_weights_mw_update(
        spark: SparkSession, sf_dir: str
    ) -> DataFrame:
        """One DoReMi-flavored multiplicative-weights step over the
        per-source corpus mixture: per-source mean unigram surprisal
        (micro-nats, the corpus-sized pass) feeds
        `sampling.domain_mw_weights`, which upweights the
        worst-modeled domains by exp(η·excess) and renormalizes to
        ppm — the next-epoch mixture the data loader consumes
        (temperature_mix_weights' robust-optimization sibling)."""
        docs = T(spark, sf_dir, "documents").select("source", "text")
        toks = docs.select(
            "source", F.explode(F.split("text", " ")).alias("t")
        )
        lm = toks.groupBy("t").agg(F.count("*").cast("long").alias("cnt"))
        tot = lm.agg(F.sum("cnt").alias("tt"))
        lp = lm.crossJoin(F.broadcast(tot)).select(
            "t",
            F.round(
                F.log(F.col("cnt").cast("double") / F.col("tt").cast("double"))
                * F.lit(1e6),
                0,
            )
            .cast("long")
            .alias("lp"),
        )
        # no broadcast hint on the vocab join (mandatory-hint OOM trap;
        # the planner/AQE picks broadcast while the vocab is small)
        ps = (
            toks.join(lp, "t")
            .groupBy("source")
            .agg(
                F.count("*").cast("long").alias("n"),
                F.sum("lp").cast("long").alias("s"),
            )
        )
        losses = ps.select(
            "source", F.expr("(-s) DIV n").cast("long").alias("loss_micro")
        )
        return sampling.domain_mw_weights(losses)

    # -- per-group consistent exact-k sample ----------------------------------

    @register(
        "consistent_sample_k_per_source",
        sql="""
        SELECT doc_id, source, n_chars,
               CAST(row_number() OVER (PARTITION BY source
                    ORDER BY md5(concat_ws(':', 'v1',
                                           CAST(doc_id AS VARCHAR))))
                    AS BIGINT) AS sample_rank
        FROM documents
        QUALIFY sample_rank <= 10
        """,
        tags=("ext-sampling",),
    )
    def q_consistent_sample_k_per_source(
        spark: SparkSession, sf_dir: str
    ) -> DataFrame:
        """Stratified exact-k sample: per source, the 10 docs whose
        salted md5 ranks lowest (`consistent_sample_k_grouped`) —
        bottom-k-sketch stability per group, planned as
        WindowGroupLimit (map-side partial bottom-k), never a global
        sort."""
        docs = T(spark, sf_dir, "documents").select(
            "doc_id", "source", "n_chars"
        )
        return sampling.consistent_sample_k_grouped(
            docs, k=10, group_col="source"
        )


_register_batch4()


def _register_batch5():
    from politicamente_etl_spark.operators import graph, quality
    from politicamente_etl_spark.operators.sampling import (
        hash_bucket,
        sql_hash_bucket,
    )
    from politicamente_etl_spark.plans.catalog import T, load_events, register
    from politicamente_etl_spark.plans.extended_r4b import _M_CTE, _emb_milli

    # -- BFS hop distances ----------------------------------------------------

    _seed_sql = sql_hash_bucket("p_partkey", seed="bfs-v1", n_buckets=50)

    @register(
        "bfs_hop_histogram",
        sql=f"""
        WITH {_CO_EDGE_SQL}, und AS (
            SELECT pa AS s, pb AS d FROM e
            UNION ALL SELECT pb AS s, pa AS d FROM e
        ), d0 AS (
            SELECT p_partkey AS node, CAST(0 AS BIGINT) AS dist
            FROM part WHERE {_seed_sql} = 0
        ), d1 AS (
            SELECT node, MIN(dist) AS dist FROM (
                SELECT node, dist FROM d0
                UNION ALL
                SELECT und.d AS node, d0.dist + 1 FROM und
                JOIN d0 ON und.s = d0.node
            ) GROUP BY node
        ), d2 AS (
            SELECT node, MIN(dist) AS dist FROM (
                SELECT node, dist FROM d1
                UNION ALL
                SELECT und.d AS node, d1.dist + 1 FROM und
                JOIN d1 ON und.s = d1.node
            ) GROUP BY node
        ), d3 AS (
            SELECT node, MIN(dist) AS dist FROM (
                SELECT node, dist FROM d2
                UNION ALL
                SELECT und.d AS node, d2.dist + 1 FROM und
                JOIN d2 ON und.s = d2.node
            ) GROUP BY node
        ), d4 AS (
            SELECT node, MIN(dist) AS dist FROM (
                SELECT node, dist FROM d3
                UNION ALL
                SELECT und.d AS node, d3.dist + 1 FROM und
                JOIN d3 ON und.s = d3.node
            ) GROUP BY node
        )
        SELECT CAST(dist AS BIGINT) AS dist,
               CAST(COUNT(*) AS BIGINT) AS n_nodes,
               CAST(SUM(node) AS BIGINT) AS sum_nodes
        FROM d4 GROUP BY dist
        """,
        tags=("ext-graph", "ext-rel"),
    )
    def q_bfs_hop_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Multi-source BFS over the support-≥2 co-purchase graph: hop
        distance from a deterministic ~2% seed set of parts, swept 4
        rounds (`graph.bfs_hop_distances`), reported as a distance
        histogram with a sum-of-node-ids witness so a wrong frontier
        can't hide in equal counts. One frontier equi-join + min-merge
        per sweep; the oracle unrolls the sweeps as SQL stages."""
        e = _co_edges(spark, sf_dir)
        seeds = (
            T(spark, sf_dir, "part")
            .filter(hash_bucket("p_partkey", seed="bfs-v1", n_buckets=50) == 0)
            .select("p_partkey")
        )
        dist = graph.bfs_hop_distances(e, seeds, max_hops=4, src="pa", dst="pb")
        return dist.groupBy("dist").agg(
            F.count("*").cast("long").alias("n_nodes"),
            F.sum("node").cast("long").alias("sum_nodes"),
        )

    # -- t-closeness audit ----------------------------------------------------

    @register(
        "t_closeness_report",
        sql="""
        WITH v AS (
            SELECT event_type,
                   CAST(CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT)
                        % 7 AS INT) AS dow,
                   CAST(date_part('hour', ts) AS INT) AS hour,
                   CAST(floor(value * 1000) AS BIGINT) AS vm
            FROM events
        ), rng AS (
            SELECT MIN(vm) AS vmin, MAX(vm) AS vmax FROM v
        ), base AS (
            SELECT event_type, dow, hour,
                   CAST(((vm - vmin) * 8) // (vmax - vmin + 1) AS BIGINT)
                       AS vbin
            FROM v, rng
        ), cell AS (
            SELECT event_type, dow, hour, vbin,
                   CAST(COUNT(*) AS BIGINT) AS cnt
            FROM base GROUP BY 1, 2, 3, 4
        ), g AS (
            SELECT vbin, CAST(COUNT(*) AS BIGINT) AS g FROM base GROUP BY 1
        ), sz AS (
            SELECT event_type, dow, hour, CAST(COUNT(*) AS BIGINT) AS n_rows
            FROM base GROUP BY 1, 2, 3
        ), nt AS (SELECT CAST(COUNT(*) AS BIGINT) AS N FROM base),
        terms AS (
            SELECT cell.event_type, cell.dow, cell.hour, sz.n_rows, nt.N,
                   CAST(SUM(ABS(cell.cnt * nt.N - g.g * sz.n_rows)
                            - g.g * sz.n_rows) AS BIGINT) AS s
            FROM cell
            JOIN g USING (vbin)
            JOIN sz USING (event_type, dow, hour)
            CROSS JOIN nt
            GROUP BY 1, 2, 3, 4, 5
        )
        SELECT event_type, dow, hour, n_rows,
               CAST((1000000 * (s + n_rows * N)) // (2 * n_rows * N)
                    AS BIGINT) AS tvd_ppm
        FROM terms
        """,
        tags=("ext-quality", "ext-privacy"),
    )
    def q_t_closeness_report(spark: SparkSession, sf_dir: str) -> DataFrame:
        """t-closeness audit of the event stream: for every
        quasi-identifier class (event_type, day-of-week, hour), the
        total-variation distance (ppm) between the class's sensitive
        value-octile distribution and the table-wide one
        (`quality.t_closeness_classes`) — the release gate that catches
        skew leaks k-anonymity and l-diversity both miss. Sensitive
        buckets are the 8-bin equi-width value histogram (same capless
        integer bin arithmetic as hbos_event_outliers)."""
        ev = load_events(spark, sf_dir)
        v = ev.select(
            "event_type",
            F.pmod(F.unix_date(F.to_date("ts")), F.lit(7))
            .cast("int")
            .alias("dow"),
            F.hour("ts").cast("int").alias("hour"),
            F.floor(F.col("value").cast("double") * 1000)
            .cast("long")
            .alias("vm"),
        )
        rng = v.agg(F.min("vm").alias("vmin"), F.max("vm").alias("vmax"))
        base = v.join(F.broadcast(rng)).select(
            "event_type",
            "dow",
            "hour",
            F.expr("((vm - vmin) * 8) DIV (vmax - vmin + 1)")
            .cast("long")
            .alias("vbin"),
        )
        return quality.t_closeness_classes(
            base, ["event_type", "dow", "hour"], "vbin"
        )

    # -- classifier precision/recall -------------------------------------------

    @register(
        "classifier_pr_report",
        sql=_classifier_scored_cte()
        + """, j AS (
            SELECT CAST(logits.logit > 0 AS INT) AS pred, truth.label
            FROM logits JOIN truth USING (doc_id)
        ), cm AS (
            SELECT
                CAST(SUM(CASE WHEN pred = 1 AND label = 1 THEN 1 ELSE 0 END)
                     AS BIGINT) AS tp,
                CAST(SUM(CASE WHEN pred = 1 AND label = 0 THEN 1 ELSE 0 END)
                     AS BIGINT) AS fp,
                CAST(SUM(CASE WHEN pred = 0 AND label = 1 THEN 1 ELSE 0 END)
                     AS BIGINT) AS fn,
                CAST(SUM(CASE WHEN pred = 0 AND label = 0 THEN 1 ELSE 0 END)
                     AS BIGINT) AS tn
            FROM j
        )
        SELECT tp, fp, fn, tn,
               CAST(tp * 1000000 // (tp + fp) AS BIGINT) AS precision_ppm,
               CAST(tp * 1000000 // (tp + fn) AS BIGINT) AS recall_ppm,
               CAST(2 * tp * 1000000 // (2 * tp + fp + fn) AS BIGINT)
                   AS f1_ppm
        FROM cm
        """,
        tags=("ext-text", "ext-stats", "ext-docs"),
    )
    def q_classifier_pr_report(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Threshold-at-zero confusion matrix of the hashed quality gate
        against the lexical-diversity truth, with integer-ppm precision,
        recall and F1 — the operating-point numbers that accompany the
        threshold-free AUC. One scan each for logits and truth, one
        4-counter aggregate."""
        from politicamente_etl_spark.operators import text

        docs = T(spark, sf_dir, "documents").select("doc_id", "text")
        w = text.fixture_hash_weights(spark, n_buckets=4096, seed="qc-w")
        logit = text.hashed_linear_score(
            docs, w, n_buckets=4096, seed="qc-v1"
        ).select("doc_id", (F.col("logit_micro") > 0).cast("int").alias("pred"))
        truth = docs.select(
            "doc_id",
            (
                F.expr(
                    "(size(array_distinct(split(text, ' '))) * 1000)"
                    " div size(split(text, ' '))"
                )
                >= 800
            )
            .cast("int")
            .alias("label"),
        )
        j = logit.join(truth, "doc_id")
        cm = j.agg(
            F.sum(((F.col("pred") == 1) & (F.col("label") == 1)).cast("long"))
            .cast("long")
            .alias("tp"),
            F.sum(((F.col("pred") == 1) & (F.col("label") == 0)).cast("long"))
            .cast("long")
            .alias("fp"),
            F.sum(((F.col("pred") == 0) & (F.col("label") == 1)).cast("long"))
            .cast("long")
            .alias("fn"),
            F.sum(((F.col("pred") == 0) & (F.col("label") == 0)).cast("long"))
            .cast("long")
            .alias("tn"),
        )
        return cm.select(
            "tp",
            "fp",
            "fn",
            "tn",
            F.expr("tp * 1000000 DIV (tp + fp)").cast("long").alias(
                "precision_ppm"
            ),
            F.expr("tp * 1000000 DIV (tp + fn)").cast("long").alias(
                "recall_ppm"
            ),
            F.expr("2 * tp * 1000000 DIV (2 * tp + fp + fn)")
            .cast("long")
            .alias("f1_ppm"),
        )

    # -- embedding dimension covariance -----------------------------------------

    @register(
        "embedding_dim_covariance_top",
        sql=_M_CTE
        + """, dsum AS (
            SELECT i, CAST(SUM(mv) AS BIGINT) AS sx,
                   CAST(COUNT(*) AS BIGINT) AS n
            FROM m GROUP BY i
        ), pxy AS (
            SELECT a.i AS di, b.i AS dj,
                   CAST(SUM(a.mv * b.mv) AS BIGINT) AS sxy,
                   CAST(COUNT(*) AS BIGINT) AS n
            FROM m a JOIN m b ON a.vec_id = b.vec_id AND a.i < b.i
            GROUP BY 1, 2
        )
        SELECT CAST(di AS BIGINT) AS dim_i, CAST(dj AS BIGINT) AS dim_j,
               pxy.n, pxy.sxy, sa.sx AS sx_i, sb.sx AS sx_j,
               CAST(pxy.n * pxy.sxy - sa.sx * sb.sx AS BIGINT) AS cov_num
        FROM pxy JOIN dsum sa ON di = sa.i JOIN dsum sb ON dj = sb.i
        ORDER BY ABS(pxy.n * pxy.sxy - sa.sx * sb.sx) DESC, dim_i, dim_j
        LIMIT 20
        """,
        tags=("ext-sim", "ext-embeddings", "ext-stats"),
    )
    def q_embedding_dim_covariance_top(
        spark: SparkSession, sf_dir: str
    ) -> DataFrame:
        """Top-20 most-covarying embedding dimension pairs by
        |n·Σxy − Σx·Σy| over integer-milli components — exact
        covariance sufficient statistics, the redundancy signal that
        motivates whitening/JL before ANN. The pair expansion is d² per
        VECTOR (bounded by dimensionality, linear in corpus size) and
        partial-aggregates to d²/2 groups before the exchange; top-k is
        TakeOrdered."""
        m = _emb_milli(spark, sf_dir)
        dsum = m.groupBy("i").agg(
            F.sum("mv").cast("long").alias("sx"),
            F.count("*").cast("long").alias("n"),
        )
        a, b = m.alias("a"), m.alias("b")
        pxy = (
            a.join(
                b,
                (F.col("a.vec_id") == F.col("b.vec_id"))
                & (F.col("a.i") < F.col("b.i")),
            )
            .groupBy(F.col("a.i").alias("di"), F.col("b.i").alias("dj"))
            .agg(
                F.sum(F.col("a.mv") * F.col("b.mv")).cast("long").alias("sxy"),
                F.count("*").cast("long").alias("n"),
            )
        )
        sa = dsum.select(F.col("i").alias("di"), F.col("sx").alias("sx_i"))
        sb = dsum.select(F.col("i").alias("dj"), F.col("sx").alias("sx_j"))
        out = (
            pxy.join(F.broadcast(sa), "di")
            .join(F.broadcast(sb), "dj")
            .select(
                F.col("di").cast("long").alias("dim_i"),
                F.col("dj").cast("long").alias("dim_j"),
                "n",
                "sxy",
                "sx_i",
                "sx_j",
                (F.col("n") * F.col("sxy") - F.col("sx_i") * F.col("sx_j"))
                .cast("long")
                .alias("cov_num"),
            )
        )
        return out.orderBy(
            F.abs(F.col("cov_num")).desc(), "dim_i", "dim_j"
        ).limit(20)


_register_batch5()


def _register_batch6():
    from pyspark.sql import Window

    from politicamente_etl_spark.operators import stats, text
    from politicamente_etl_spark.plans.catalog import T, register

    # -- streaming Holt (order-sensitive stateful operator) --------------------

    _hl = _fd_sql("2 * s.v + 8 * (r.l + r.b)", 10)
    _hb = _fd_sql(f"(({_hl}) - r.l) + 9 * r.b", 10)

    @register(
        "streaming_holt_user_value",
        sql=f"""
        WITH RECURSIVE s AS (
            SELECT user_id, CAST(floor(value * 1000) AS BIGINT) AS v,
                   row_number() OVER (PARTITION BY user_id
                       ORDER BY epoch_us(ts), event_id) AS rn,
                   COUNT(*) OVER (PARTITION BY user_id) AS n_obs
            FROM events
        ), rec AS (
            SELECT user_id, n_obs, 1 AS i, v AS l, CAST(0 AS BIGINT) AS b
            FROM s WHERE rn = 1
            UNION ALL
            SELECT r.user_id, r.n_obs, r.i + 1,
                   CAST({_hl} AS BIGINT), CAST({_hb} AS BIGINT)
            FROM rec r JOIN s ON s.user_id = r.user_id AND s.rn = r.i + 1
        )
        SELECT user_id, CAST(n_obs AS BIGINT) AS n_obs,
               CAST(l AS BIGINT) AS level, CAST(b AS BIGINT) AS trend
        FROM rec WHERE i = n_obs
        """,
        tags=("ext-stream", "ext-stats", "ext-temporal"),
    )
    def q_streaming_holt_user_value(
        spark: SparkSession, sf_dir: str
    ) -> DataFrame:
        """Per-user Holt level+trend maintained INSIDE the stream: the
        order-sensitive recurrence runs in explicit GroupState across
        two time-ordered micro-batches
        (`streaming.windows.stateful_holt_user_value` over the
        time-half staging), so the state hand-off across batch
        boundaries is exercised, not assumed. The final state per user
        (max n_obs over update-mode emissions) must equal the batch
        recursive fold — which is exactly what the oracle replays."""
        from politicamente_etl_spark.streaming import windows as W

        out = W.run_stream_to_table(
            W.stateful_holt_user_value(
                W.stream_events_time_halves(spark, sf_dir)
            ),
            mode="update",
        )
        return (
            out.groupBy("user_id")
            .agg(F.max(F.struct("n_obs", "level", "trend")).alias("m"))
            .select(
                "user_id",
                F.col("m.n_obs").alias("n_obs"),
                F.col("m.level").alias("level"),
                F.col("m.trend").alias("trend"),
            )
        )

    # -- Spearman rank correlation ---------------------------------------------

    @register(
        "spearman_quality_vs_logit",
        sql=_classifier_scored_cte()
        + """, j AS (
            SELECT q.q AS x, logits.logit AS y
            FROM logits
            JOIN (SELECT doc_id,
                         CAST((len(list_distinct(string_split(text, ' ')))
                               * 1000)
                              // len(string_split(text, ' ')) AS BIGINT)
                             AS q
                  FROM documents) q USING (doc_id)
        ), rx AS (
            SELECT x, 2 * COALESCE(SUM(cn) OVER (ORDER BY x
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                       0) + cn + 1 AS rnk
            FROM (SELECT x, CAST(COUNT(*) AS BIGINT) AS cn
                  FROM j GROUP BY x)
        ), ry AS (
            SELECT y, 2 * COALESCE(SUM(cn) OVER (ORDER BY y
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                       0) + cn + 1 AS rnk
            FROM (SELECT y, CAST(COUNT(*) AS BIGINT) AS cn
                  FROM j GROUP BY y)
        ), rr AS (
            SELECT rx.rnk AS a, ry.rnk AS b
            FROM j JOIN rx USING (x) JOIN ry USING (y)
        ), st AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(SUM(a) AS BIGINT) AS sx,
                   CAST(SUM(b) AS BIGINT) AS sy,
                   CAST(SUM(a * b) AS BIGINT) AS sxy,
                   CAST(SUM(a * a) AS BIGINT) AS sxx,
                   CAST(SUM(b * b) AS BIGINT) AS syy
            FROM rr
        )
        , h AS (
            SELECT n, sx, sy, sxy, sxx, syy,
                   CAST(n AS HUGEINT) * sxy
                       - CAST(sx AS HUGEINT) * sy AS num,
                   CAST(n AS HUGEINT) * sxx
                       - CAST(sx AS HUGEINT) * sx AS dxx,
                   CAST(n AS HUGEINT) * syy
                       - CAST(sy AS HUGEINT) * sy AS dyy
            FROM st
        )
        SELECT n, sx, sy, sxy, sxx, syy,
               CAST((CASE WHEN num < 0 THEN -1 ELSE 1 END
                     * (num * num * 1000000)) // (dxx * dyy)
                    AS BIGINT) AS rho_sq_signed_ppm
        FROM h
        """,
        tags=("ext-stats", "ext-text", "ext-docs"),
    )
    def q_spearman_quality_vs_logit(
        spark: SparkSession, sf_dir: str
    ) -> DataFrame:
        """Spearman rank correlation (exact tie handling via doubled
        average ranks) between the cheap lexical-diversity heuristic and
        the hashed gate's logit — does the free filter rank documents
        like the trained one? Emits the composable integer sufficient
        statistics plus sign(ρ)·ρ² ppm."""
        docs = T(spark, sf_dir, "documents").select("doc_id", "text")
        w = text.fixture_hash_weights(spark, n_buckets=4096, seed="qc-w")
        logit = text.hashed_linear_score(
            docs, w, n_buckets=4096, seed="qc-v1"
        ).select("doc_id", F.col("logit_micro").alias("y"))
        qd = docs.select(
            "doc_id",
            F.expr(
                "CAST((size(array_distinct(split(text, ' '))) * 1000)"
                " div size(split(text, ' ')) AS BIGINT)"
            ).alias("x"),
        )
        j = logit.join(qd, "doc_id").select("x", "y")
        return stats.spearman_report(j, "x", "y")


_register_batch6()


def _register_batch7():
    from pyspark.sql import Window

    from politicamente_etl_spark.operators import graph
    from politicamente_etl_spark.plans.catalog import T, register

    # -- local clustering coefficients ------------------------------------------

    @register(
        "clustering_coefficient_top",
        sql=f"""
        WITH {_CO_EDGE_SQL}, und AS (
            SELECT pa AS s, pb AS d FROM e
            UNION ALL SELECT pb AS s, pa AS d FROM e
        ), deg AS (
            SELECT s AS node, CAST(COUNT(*) AS BIGINT) AS degree
            FROM und GROUP BY s
            HAVING COUNT(*) BETWEEN 2 AND 256
        ), wedge AS (
            SELECT x.s AS w, x.d AS a, y.d AS b
            FROM und x
            JOIN und y ON x.s = y.s AND x.d < y.d
            JOIN deg ON deg.node = x.s
        ), tri AS (
            SELECT w, CAST(COUNT(*) AS BIGINT) AS n_triangles
            FROM wedge
            WHERE EXISTS (SELECT 1 FROM e
                          WHERE e.pa = wedge.a AND e.pb = wedge.b)
            GROUP BY w
        )
        SELECT deg.node, deg.degree,
               CAST(COALESCE(tri.n_triangles, 0) AS BIGINT) AS n_triangles,
               CAST(2 * COALESCE(tri.n_triangles, 0) * 1000000
                    // (deg.degree * (deg.degree - 1)) AS BIGINT) AS cc_ppm
        FROM deg LEFT JOIN tri ON deg.node = tri.w
        ORDER BY cc_ppm DESC, node LIMIT 20
        """,
        tags=("ext-graph", "ext-rel"),
    )
    def q_clustering_coefficient_top(
        spark: SparkSession, sf_dir: str
    ) -> DataFrame:
        """Top-20 local clustering coefficients on the support-≥2
        co-purchase graph: closed-wedge counts per center over the same
        hub-capped wedge join as Adamic-Adar, one semi-join against the
        canonical edge list, integer-ppm coefficients."""
        e = _co_edges(spark, sf_dir)
        return graph.clustering_coefficients(
            e, src="pa", dst="pb", max_degree=256, top_k=20
        )

    # -- mergeable-histogram quantile with error bound --------------------------

    @register(
        "histogram_quantile_merge_proof",
        sql="""
        WITH c AS (
            SELECT o_orderkey,
                   CAST(floor(o_totalprice * 100) AS BIGINT) AS cents,
                   CAST(o_orderkey % 8 AS BIGINT) AS shard
            FROM orders
        ), rng AS (
            SELECT MIN(cents) AS lo, MAX(cents) AS hi,
                   CAST(COUNT(*) AS BIGINT) AS n
            FROM c
        ), binned AS (
            SELECT shard,
                   CAST(((cents - lo) * 32) // (hi - lo + 1) AS BIGINT)
                       AS bin
            FROM c, rng
        ), shard_hist AS (
            SELECT shard, bin, CAST(COUNT(*) AS BIGINT) AS cnt
            FROM binned GROUP BY 1, 2
        ), merged AS (
            SELECT bin, CAST(SUM(cnt) AS BIGINT) AS cnt
            FROM shard_hist GROUP BY bin
        ), direct AS (
            SELECT bin, CAST(COUNT(*) AS BIGINT) AS cnt
            FROM binned GROUP BY bin
        ), mism AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n_mismatched_bins
            FROM merged FULL JOIN direct USING (bin)
            WHERE merged.cnt IS DISTINCT FROM direct.cnt
        ), cum AS (
            SELECT bin, cnt,
                   SUM(cnt) OVER (ORDER BY bin) AS cum
            FROM merged
        ), est AS (
            SELECT MIN(bin) AS k FROM cum, rng
            WHERE cum >= (rng.n + 1) // 2
        ), exact AS (
            SELECT MIN(cents) AS exact_median_cents FROM (
                SELECT cents,
                       SUM(cnt) OVER (ORDER BY cents) AS cum
                FROM (SELECT cents, CAST(COUNT(*) AS BIGINT) AS cnt
                      FROM c GROUP BY cents)
            ), rng
            WHERE cum >= (rng.n + 1) // 2
        )
        SELECT rng.n AS n_rows, mism.n_mismatched_bins,
               exact.exact_median_cents,
               CAST(rng.lo + (est.k * (rng.hi - rng.lo + 1) + 31) // 32
                    AS BIGINT) AS est_lo_cents,
               CAST(rng.lo + ((est.k + 1) * (rng.hi - rng.lo + 1) + 31)
                        // 32 - 1 AS BIGINT) AS est_hi_cents,
               CAST(exact.exact_median_cents BETWEEN
                        rng.lo + (est.k * (rng.hi - rng.lo + 1) + 31) // 32
                    AND rng.lo + ((est.k + 1) * (rng.hi - rng.lo + 1) + 31)
                        // 32 - 1 AS INT) AS within_bin
        FROM rng, mism, est, exact
        """,
        tags=("ext-stats", "ext-approx", "ext-rel"),
    )
    def q_histogram_quantile_merge_proof(
        spark: SparkSession, sf_dir: str
    ) -> DataFrame:
        """The mergeable-quantile path, proven end to end: 8 shard-local
        equi-width histograms merge by bin-wise SUM into exactly the
        directly-computed global histogram (n_mismatched_bins must be
        0 — mergeability is what makes histogram quantiles work across
        partitions/days at 100 TB), the histogram median estimate is the
        rank-target bin, and the EXACT lower-median order statistic must
        land inside that bin (within_bin must be 1 — the bin width IS
        the error bound). The exact side walks a per-distinct-value
        summary and exists as the audit; the histogram side is the
        scale path (32-row summaries, one window over 32 rows)."""
        c = T(spark, sf_dir, "orders").select(
            F.floor(F.col("o_totalprice") * 100).cast("long").alias("cents"),
            (F.col("o_orderkey") % 8).cast("long").alias("shard"),
        )
        rng = c.agg(
            F.min("cents").alias("lo"),
            F.max("cents").alias("hi"),
            F.count("*").cast("long").alias("n"),
        )
        binned = c.join(F.broadcast(rng)).select(
            "shard",
            F.expr("((cents - lo) * 32) DIV (hi - lo + 1)")
            .cast("long")
            .alias("bin"),
        )
        shard_hist = binned.groupBy("shard", "bin").agg(
            F.count("*").cast("long").alias("cnt")
        )
        merged = shard_hist.groupBy("bin").agg(
            F.sum("cnt").cast("long").alias("cnt")
        )
        direct = binned.groupBy("bin").agg(
            F.count("*").cast("long").alias("cnt")
        )
        mism = (
            merged.withColumnRenamed("cnt", "cm")
            .join(direct.withColumnRenamed("cnt", "cd"), "bin", "full")
            .filter(~F.col("cm").eqNullSafe(F.col("cd")))
            .agg(F.count("*").cast("long").alias("n_mismatched_bins"))
        )
        wcum = Window.orderBy("bin").rowsBetween(
            Window.unboundedPreceding, 0
        )
        est = (
            merged.withColumn("cum", F.sum("cnt").over(wcum))
            .crossJoin(F.broadcast(rng))
            .filter(F.expr("cum >= (n + 1) DIV 2"))
            .agg(F.min("bin").alias("k"))
        )
        wval = Window.orderBy("cents").rowsBetween(
            Window.unboundedPreceding, 0
        )
        exact = (
            c.groupBy("cents")
            .agg(F.count("*").cast("long").alias("cnt"))
            .withColumn("cum", F.sum("cnt").over(wval))
            .crossJoin(F.broadcast(rng))
            .filter(F.expr("cum >= (n + 1) DIV 2"))
            .agg(F.min("cents").alias("exact_median_cents"))
        )
        return (
            rng.crossJoin(mism)
            .crossJoin(est)
            .crossJoin(exact)
            .select(
                F.col("n").alias("n_rows"),
                "n_mismatched_bins",
                "exact_median_cents",
                F.expr("lo + (k * (hi - lo + 1) + 31) DIV 32")
                .cast("long")
                .alias("est_lo_cents"),
                F.expr("lo + ((k + 1) * (hi - lo + 1) + 31) DIV 32 - 1")
                .cast("long")
                .alias("est_hi_cents"),
                F.expr(
                    "CAST(exact_median_cents BETWEEN"
                    " lo + (k * (hi - lo + 1) + 31) DIV 32"
                    " AND lo + ((k + 1) * (hi - lo + 1) + 31) DIV 32 - 1"
                    " AS INT)"
                ).alias("within_bin"),
            )
        )


_register_batch7()


def _register_batch8():
    from politicamente_etl_spark.operators import graph
    from politicamente_etl_spark.operators.sampling import (
        hash_bucket,
        sql_hash_bucket,
    )
    from politicamente_etl_spark.plans.catalog import T, register

    # -- degree assortativity ----------------------------------------------------

    @register(
        "degree_assortativity",
        sql=f"""
        WITH {_CO_EDGE_SQL}, und AS (
            SELECT pa AS s, pb AS d FROM e
            UNION ALL SELECT pb AS s, pa AS d FROM e
        ), deg AS (
            SELECT s AS node, CAST(COUNT(*) AS BIGINT) AS deg
            FROM und GROUP BY s
        ), both_ AS (
            SELECT dx.deg AS dx, dy.deg AS dy
            FROM und
            JOIN deg dx ON und.s = dx.node
            JOIN deg dy ON und.d = dy.node
        ), st AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n_edges_directed,
                   CAST(SUM(dx) AS BIGINT) AS sx,
                   CAST(SUM(dy) AS BIGINT) AS sy,
                   CAST(SUM(dx * dy) AS BIGINT) AS sxy,
                   CAST(SUM(dx * dx) AS BIGINT) AS sxx,
                   CAST(SUM(dy * dy) AS BIGINT) AS syy
            FROM both_
        ), h AS (
            SELECT n_edges_directed, sx, sy, sxy, sxx, syy,
                   CAST(n_edges_directed AS HUGEINT) * sxy
                       - CAST(sx AS HUGEINT) * sy AS num,
                   CAST(n_edges_directed AS HUGEINT) * sxx
                       - CAST(sx AS HUGEINT) * sx AS dxx,
                   CAST(n_edges_directed AS HUGEINT) * syy
                       - CAST(sy AS HUGEINT) * sy AS dyy
            FROM st
        )
        SELECT n_edges_directed, sx, sy, sxy, sxx, syy,
               CAST((CASE WHEN num < 0 THEN -1 ELSE 1 END
                     * (num * num * 1000000)) // (dxx * dyy)
                    AS BIGINT) AS assortativity_sq_signed_ppm
        FROM h
        """,
        tags=("ext-graph", "ext-stats", "ext-rel"),
    )
    def q_degree_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Newman degree assortativity of the support-≥2 co-purchase
        graph: Pearson over endpoint degrees of every directed edge,
        emitted as composable integer sufficient statistics plus the
        signed squared coefficient in ppm — do popular parts co-sell
        with popular parts, or with the tail?"""
        e = _co_edges(spark, sf_dir)
        return graph.degree_assortativity(e, src="pa", dst="pb")

    # -- feature-hashing collision profile ----------------------------------------

    _fb = sql_hash_bucket("f", seed="qc-v1", n_buckets=4096)

    @register(
        "hash_bucket_collision_profile",
        sql=f"""
        WITH uni AS (
            SELECT 'u:' || unnest(string_split(text, ' ')) AS f
            FROM documents
        ), arr AS (
            SELECT string_split(text, ' ') AS a FROM documents
        ), big AS (
            SELECT 'b:' || array_to_string(a[i:i+1], ' ') AS f
            FROM arr, UNNEST(generate_series(1, len(a) - 1)) AS u(i)
        ), feats AS (
            SELECT DISTINCT f FROM (
                SELECT f FROM uni UNION ALL SELECT f FROM big
            )
        ), loads AS (
            SELECT {_fb} AS bucket, CAST(COUNT(*) AS BIGINT) AS load
            FROM feats GROUP BY 1
        ), hist AS (
            SELECT load, CAST(COUNT(*) AS BIGINT) AS n_buckets
            FROM loads GROUP BY load
        )
        SELECT CAST(load AS BIGINT) AS load, n_buckets FROM hist
        UNION ALL
        SELECT CAST(0 AS BIGINT),
               CAST(4096 - (SELECT COUNT(*) FROM loads) AS BIGINT)
        """,
        tags=("ext-text", "ext-stats", "ext-docs"),
    )
    def q_hash_bucket_collision_profile(
        spark: SparkSession, sf_dir: str
    ) -> DataFrame:
        """Collision profile of the quality gate's 4096-bucket feature
        hashing: how many DISTINCT unigram/bigram features share each
        bucket (including the empty-bucket row) — the load histogram
        that says whether the hashed classifier's capacity is sized to
        its feature space (Weinberger et al.: collisions are benign
        until loads skew). One distinct-feature aggregate + one
        4096-row rollup."""
        from politicamente_etl_spark.operators.text import tokens

        docs = T(spark, sf_dir, "documents").select("text")
        uni = docs.select(
            F.explode(tokens("text")).alias("t")
        ).select(F.concat(F.lit("u:"), F.col("t")).alias("f"))
        big = docs.select(
            F.explode(
                F.expr(
                    "CASE WHEN size(split(text, ' ')) >= 2 THEN"
                    " transform(sequence(1, size(split(text, ' ')) - 1),"
                    " i -> concat('b:', element_at(split(text, ' '), i),"
                    " ' ', element_at(split(text, ' '), i + 1)))"
                    " ELSE array() END"
                )
            ).alias("f")
        )
        feats = uni.unionByName(big).distinct()
        loads = feats.groupBy(
            hash_bucket("f", seed="qc-v1", n_buckets=4096).alias("bucket")
        ).agg(F.count("*").cast("long").alias("load"))
        hist = loads.groupBy("load").agg(
            F.count("*").cast("long").alias("n_buckets")
        )
        n_used = loads.agg(F.count("*").cast("long").alias("u"))
        empty = n_used.select(
            F.lit(0).cast("long").alias("load"),
            (F.lit(4096) - F.col("u")).cast("long").alias("n_buckets"),
        )
        return hist.select(
            F.col("load").cast("long").alias("load"), "n_buckets"
        ).unionByName(empty)


_register_batch8()


def _register_batch9():
    import random as _random

    from politicamente_etl_spark.operators import sim
    from politicamente_etl_spark.plans.catalog import T, register
    from politicamente_etl_spark.plans.extended_r4b import _M_CTE, _emb_milli

    # seeded literal hyperplanes, round-trip repr'd into both engines
    # (the technique that makes the LSH family fully oracle-checkable)
    _rnd = _random.Random(13)
    _MKNN_PLANES = [[_rnd.gauss(0, 1) for _ in range(64)] for _ in range(3)]

    _dot_dd = (
        "list_reduce(list_transform(list_zip({a}, {b}),"
        " s -> CAST(s[1] AS DOUBLE) * CAST(s[2] AS DOUBLE)),"
        " (acc, v) -> acc + v)"
    )

    def _plane_lit(plane):
        return "[" + ", ".join(str(float(x)) for x in plane) + "]"

    _bucket_sql = "(" + " || ".join(
        f"(CASE WHEN {_dot_dd.format(a='embedding', b=_plane_lit(p))} >= 0"
        " THEN '1' ELSE '0' END)"
        for p in _MKNN_PLANES
    ) + ")"

    @register(
        "mutual_knn_pairs_lsh",
        sql=_M_CTE
        + f""", sig AS (
            SELECT vec_id, {_bucket_sql} AS bucket FROM embeddings
        ), cand AS (
            SELECT a.vec_id AS va, b.vec_id AS vb
            FROM sig a JOIN sig b
              ON a.bucket = b.bucket AND a.vec_id < b.vec_id
        ), dots AS (
            SELECT cand.va, cand.vb,
                   CAST(SUM(m1.mv * m2.mv) AS BIGINT) AS dot
            FROM cand
            JOIN m m1 ON m1.vec_id = cand.va
            JOIN m m2 ON m2.vec_id = cand.vb AND m2.i = m1.i
            GROUP BY 1, 2
            HAVING SUM(m1.mv * m2.mv) >= 100000
        ), sym AS (
            SELECT va AS v, vb AS u, dot AS dt FROM dots
            UNION ALL SELECT vb AS v, va AS u, dot AS dt FROM dots
        ), tk AS (
            SELECT v, u, dt,
                   row_number() OVER (PARTITION BY v
                       ORDER BY dt DESC, u) AS rnk
            FROM sym QUALIFY rnk <= 5
        )
        SELECT f.v AS node_a, f.u AS node_b, f.dt AS dot,
               CAST(f.rnk AS BIGINT) AS rank_ab,
               CAST(r.rnk AS BIGINT) AS rank_ba
        FROM tk f JOIN tk r ON f.v = r.u AND f.u = r.v AND f.v < f.u
        """,
        tags=("ext-sim", "ext-embeddings", "ext-dedup"),
    )
    def q_mutual_knn_pairs_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
        """The 100 TB twin of mutual_knn_pairs: candidates meet only
        inside a random-hyperplane bucket (equi-join, never |corpus|² —
        the r8 scale probe measured the exact twin at ×8.5 for ×4
        vectors, which is precisely why this shape exists), then the
        SAME integer-milli dot threshold and reciprocal-rank filter.
        Ranks are 'among candidates': recall < 1 vs the exact twin, but
        seeded literal planes keep it fully oracle-checkable."""
        emb = T(spark, sf_dir, "embeddings")
        sig = emb.select(
            "vec_id",
            sim.hyperplane_signature("embedding", _MKNN_PLANES).alias(
                "bucket"
            ),
        )
        cand = (
            sig.alias("a")
            .join(
                sig.alias("b"),
                (F.col("a.bucket") == F.col("b.bucket"))
                & (F.col("a.vec_id") < F.col("b.vec_id")),
            )
            .select(
                F.col("a.vec_id").alias("va"), F.col("b.vec_id").alias("vb")
            )
        )
        m = _emb_milli(spark, sf_dir)
        m1 = m.select(
            F.col("vec_id").alias("va"), "i", F.col("mv").alias("mva")
        )
        m2 = m.select(
            F.col("vec_id").alias("vb"), "i", F.col("mv").alias("mvb")
        )
        dots = (
            cand.join(m1, "va")
            .join(m2, ["vb", "i"])
            .groupBy("va", "vb")
            .agg(F.sum(F.col("mva") * F.col("mvb")).alias("dot"))
            .filter(F.col("dot") >= 100000)
        )
        return sim.mutual_knn_pairs(dots, k=5)


_register_batch9()


def _register_batch10():
    from politicamente_etl_spark.operators import stats, text
    from politicamente_etl_spark.plans.catalog import T, register

    # -- isotonic calibration of the quality gate -------------------------------

    @register(
        "isotonic_calibration_gate",
        sql=_classifier_scored_cte()
        + """, j AS (
            SELECT logits.logit AS s, truth.label AS y
            FROM logits JOIN truth USING (doc_id)
        ), rng AS (
            SELECT MIN(s) AS smin, MAX(s) AS smax FROM j
        ), bins AS (
            SELECT CAST(((s - smin) * 10) // (smax - smin + 1) AS BIGINT)
                       AS bin,
                   CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(SUM(y) AS BIGINT) AS n_pos
            FROM j, rng GROUP BY 1
        ), iv AS (
            SELECT jj.bin AS j, kk.bin AS k,
                   CAST(SUM(b.n_pos) AS BIGINT) AS p,
                   CAST(SUM(b.n) AS BIGINT) AS q
            FROM bins jj
            JOIN bins kk ON jj.bin <= kk.bin
            JOIN bins b ON b.bin BETWEEN jj.bin AND kk.bin
            GROUP BY 1, 2
        ), inner_ AS (
            SELECT j, MIN(p * 1000000 // q) AS lo FROM iv GROUP BY j
        )
        SELECT bins.bin, bins.n, bins.n_pos,
               CAST(bins.n_pos * 1000000 // bins.n AS BIGINT)
                   AS raw_rate_ppm,
               CAST(MAX(inner_.lo) AS BIGINT) AS iso_rate_ppm
        FROM bins JOIN inner_ ON inner_.j <= bins.bin
        GROUP BY 1, 2, 3, 4
        """,
        tags=("ext-stats", "ext-text", "ext-docs"),
    )
    def q_isotonic_calibration_gate(
        spark: SparkSession, sf_dir: str
    ) -> DataFrame:
        """Isotonic (PAV) calibration of the hashed quality gate's
        reliability bins via the closed-form max-min solution
        (`stats.isotonic_calibration`): the monotone probability fit the
        raw diagram violates, computed as bounded grid joins over the
        10-bin summary — the corpus never re-enters. Floor-to-ppm
        commutes with both extrema, so the output is exactly
        floor(isotonic fraction · 1e6)."""
        docs = T(spark, sf_dir, "documents").select("doc_id", "text")
        w = text.fixture_hash_weights(spark, n_buckets=4096, seed="qc-w")
        logit = text.hashed_linear_score(
            docs, w, n_buckets=4096, seed="qc-v1"
        ).select("doc_id", F.col("logit_micro").alias("s"))
        truth = docs.select(
            "doc_id",
            (
                F.expr(
                    "(size(array_distinct(split(text, ' '))) * 1000)"
                    " div size(split(text, ' '))"
                )
                >= 800
            )
            .cast("int")
            .alias("y"),
        )
        bins = stats.calibration_bins(
            logit.join(truth, "doc_id"), score_col="s", label_col="y"
        )
        return stats.isotonic_calibration(bins)

    # -- incremental view maintenance: delta join --------------------------------

    @register(
        "ivm_join_delta_proof",
        sql="""
        WITH v AS (
            SELECT n_name AS nation,
                   CAST(COUNT(*) AS BIGINT) AS n_orders,
                   CAST(SUM(CAST(floor(o_totalprice * 100) AS BIGINT))
                        AS BIGINT) AS cents
            FROM orders
            JOIN customer ON o_custkey = c_custkey
            JOIN nation ON c_nationkey = n_nationkey
            GROUP BY 1
        )
        SELECT nation, n_orders, cents,
               CAST(0 AS BIGINT) AS n_mismatched_groups
        FROM v
        """,
        tags=("ext-rel", "ext-stream", "ext-sink"),
    )
    def q_ivm_join_delta_proof(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Incremental view maintenance of a JOIN view, proven: the
        per-nation order rollup view V = orders ⋈ customer ⋈ nation is
        maintained under a simultaneous insert batch on BOTH join sides
        by the delta rule  ΔV = ΔO⋈C₁ ∪ O₁⋈ΔC ∪ ΔO⋈ΔC  (each term
        aggregated, then merged into V₁ by key) — the algebra every
        materialized-view engine runs instead of recomputing the join.
        Batches are deterministic parity splits; the emitted view is
        the MAINTAINED one, the oracle recomputes the full join
        directly, and n_mismatched_groups (maintained vs direct,
        computed in-plan) must be 0. At scale each delta term joins a
        batch against the other side (partition-pruned / broadcast),
        never the full fact×fact."""
        o = T(spark, sf_dir, "orders").select(
            "o_orderkey",
            "o_custkey",
            F.floor(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        )
        c = T(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
        n = T(spark, sf_dir, "nation").select("n_nationkey", "n_name")

        o1 = o.filter(F.col("o_orderkey") % 2 == 0)
        do = o.filter(F.col("o_orderkey") % 2 == 1)
        c1 = c.filter(F.col("c_custkey") % 2 == 0)
        dc = c.filter(F.col("c_custkey") % 2 == 1)

        def agg_view(orders, custs):
            return (
                orders.join(custs, orders.o_custkey == custs.c_custkey)
                .join(F.broadcast(n), custs.c_nationkey == n.n_nationkey)
                .groupBy(F.col("n_name").alias("nation"))
                .agg(
                    F.count("*").cast("long").alias("n_orders"),
                    F.sum("cents").cast("long").alias("cents"),
                )
            )

        v1 = agg_view(o1, c1)
        deltas = (
            agg_view(do, c1)
            .unionByName(agg_view(o1, dc))
            .unionByName(agg_view(do, dc))
        )
        maintained = (
            v1.unionByName(deltas)
            .groupBy("nation")
            .agg(
                F.sum("n_orders").cast("long").alias("n_orders"),
                F.sum("cents").cast("long").alias("cents"),
            )
        )
        direct = agg_view(o, c)
        mism = (
            maintained.select(
                "nation",
                F.col("n_orders").alias("mo"),
                F.col("cents").alias("mc"),
            )
            .join(direct, "nation", "full")
            .filter(
                ~F.col("mo").eqNullSafe(F.col("n_orders"))
                | ~F.col("mc").eqNullSafe(F.col("cents"))
            )
            .agg(F.count("*").cast("long").alias("n_mismatched_groups"))
        )
        return maintained.crossJoin(F.broadcast(mism)).select(
            "nation", "n_orders", "cents", "n_mismatched_groups"
        )


_register_batch10()


def _register_batch11():
    from pyspark.sql import Window

    from politicamente_etl_spark.operators import text
    from politicamente_etl_spark.operators.sampling import (
        hash_bucket,
        sql_hash_bucket,
    )
    from politicamente_etl_spark.plans.catalog import T, load_events, register

    # -- split-conformal coverage -------------------------------------------------

    _split = sql_hash_bucket("doc_id", seed="conf-v1", n_buckets=2)

    @register(
        "conformal_coverage_report",
        sql=_classifier_scored_cte()
        + f""", nc AS (
            SELECT logits.doc_id, -logits.logit AS s,
                   {_split} AS grp
            FROM logits
        ), calib AS (SELECT s FROM nc WHERE grp = 0),
        test AS (SELECT s FROM nc WHERE grp = 1),
        nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_calib FROM calib),
        tgt AS (
            SELECT n_calib,
                   CAST((9 * (n_calib + 1) + 9) // 10 AS BIGINT) AS r
            FROM nn
        ), qh AS (
            SELECT MIN(s) AS qhat FROM (
                SELECT s, SUM(cnt) OVER (ORDER BY s) AS cum
                FROM (SELECT s, CAST(COUNT(*) AS BIGINT) AS cnt
                      FROM calib GROUP BY s)
            ), tgt WHERE cum >= LEAST(tgt.r, (SELECT n_calib FROM nn))
        )
        SELECT tgt.n_calib, tgt.r AS r_target,
               CAST(qh.qhat AS BIGINT) AS qhat_neg_logit_micro,
               (SELECT CAST(COUNT(*) AS BIGINT) FROM test) AS n_test,
               (SELECT CAST(SUM(CASE WHEN s <= qh.qhat THEN 1 ELSE 0 END)
                        AS BIGINT) FROM test) AS n_covered,
               CAST((SELECT SUM(CASE WHEN s <= qh.qhat THEN 1 ELSE 0 END)
                     FROM test) * 1000000
                    // (SELECT COUNT(*) FROM test) AS BIGINT)
                   AS coverage_ppm
        FROM tgt, qh
        """,
        tags=("ext-stats", "ext-docs", "ext-sample"),
    )
    def q_conformal_coverage_report(
        spark: SparkSession, sf_dir: str
    ) -> DataFrame:
        """Split-conformal prediction, end to end: the calibration half
        (deterministic md5 split) yields the ceil((n+1)(1−α))-th order
        statistic of the nonconformity score (−logit, α=0.1) as the
        conformal threshold q̂, and the held-out half reports realized
        coverage — the distribution-free guarantee every deployed gate
        should ship with. Order statistic via a cumulative window over
        the per-distinct-score summary (the same bounded-summary trick
        as the AUC); everything integer-exact."""
        docs = T(spark, sf_dir, "documents").select("doc_id", "text")
        w = text.fixture_hash_weights(spark, n_buckets=4096, seed="qc-w")
        nc = (
            text.hashed_linear_score(docs, w, n_buckets=4096, seed="qc-v1")
            .select(
                "doc_id",
                (-F.col("logit_micro")).cast("long").alias("s"),
                hash_bucket("doc_id", seed="conf-v1", n_buckets=2).alias(
                    "grp"
                ),
            )
        )
        calib = nc.filter(F.col("grp") == 0).select("s")
        test = nc.filter(F.col("grp") == 1).select("s")
        nn = calib.agg(F.count("*").cast("long").alias("n_calib"))
        tgt = nn.select(
            "n_calib",
            F.expr("(9 * (n_calib + 1) + 9) DIV 10")
            .cast("long")
            .alias("r_target"),
        )
        wcum = Window.orderBy("s").rowsBetween(Window.unboundedPreceding, 0)
        qh = (
            calib.groupBy("s")
            .agg(F.count("*").cast("long").alias("cnt"))
            .withColumn("cum", F.sum("cnt").over(wcum))
            .crossJoin(F.broadcast(tgt))
            .filter(F.expr("cum >= least(r_target, n_calib)"))
            .agg(F.min("s").alias("qhat_neg_logit_micro"))
        )
        cov = (
            test.crossJoin(F.broadcast(qh))
            .agg(
                F.count("*").cast("long").alias("n_test"),
                F.sum(
                    (F.col("s") <= F.col("qhat_neg_logit_micro")).cast("long")
                )
                .cast("long")
                .alias("n_covered"),
            )
        )
        return (
            tgt.crossJoin(F.broadcast(qh))
            .crossJoin(F.broadcast(cov))
            .select(
                "n_calib",
                "r_target",
                "qhat_neg_logit_micro",
                "n_test",
                "n_covered",
                F.expr("n_covered * 1000000 DIV n_test")
                .cast("long")
                .alias("coverage_ppm"),
            )
        )

    # -- Hill tail-index estimate ---------------------------------------------------

    @register(
        "hill_tail_index",
        sql="""
        WITH tf AS (
            SELECT unnest(string_split(text, ' ')) AS t FROM documents
        ), cnts AS (
            SELECT t, CAST(COUNT(*) AS BIGINT) AS c FROM tf GROUP BY t
        ), topk AS (
            SELECT c, row_number() OVER (ORDER BY c DESC, t) AS rk
            FROM cnts QUALIFY rk <= 20
        ), xmin AS (
            SELECT c AS x_min FROM topk WHERE rk = 20
        ), lr AS (
            SELECT CAST(SUM(CAST(round(ln(CAST(topk.c AS DOUBLE)
                                / CAST(xmin.x_min AS DOUBLE)) * 1e6)
                            AS BIGINT)) AS BIGINT) AS sum_log_micro,
                   CAST(COUNT(*) AS BIGINT) AS k_used
            FROM topk, xmin WHERE topk.rk < 20
        )
        SELECT xmin.x_min, lr.k_used, lr.sum_log_micro,
               CAST(lr.sum_log_micro // lr.k_used AS BIGINT)
                   AS hill_inv_alpha_micro,
               CAST(CASE WHEN lr.sum_log_micro > 0 THEN
                        lr.k_used * 1000000000000 // lr.sum_log_micro
                    END AS BIGINT) AS alpha_micro
        FROM xmin, lr
        """,
        tags=("ext-text", "ext-stats", "ext-docs"),
    )
    def q_hill_tail_index(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Hill estimator of the token-frequency tail index (the
        quantitative companion to zipf_octave_profile): mean micro-nat
        log ratio of the top-19 frequencies to the 20th (k sized to the
        synthetic corpus's 31-token vocabulary; raise k with a real
        one), and
        α = 1/mean — the number that says how heavy the vocabulary tail
        is (α≈1 is Zipf). One vocabulary-sized aggregate; the top-k cut
        is a rank over the count summary with a deterministic (count,
        term) tie-break."""
        docs = T(spark, sf_dir, "documents").select("text")
        cnts = (
            docs.select(F.explode(F.split("text", " ")).alias("t"))
            .groupBy("t")
            .agg(F.count("*").cast("long").alias("c"))
        )
        wr = Window.orderBy(F.col("c").desc(), F.col("t"))
        topk = (
            cnts.withColumn("rk", F.row_number().over(wr))
            .filter(F.col("rk") <= 20)
            .select("c", "rk")
        )
        xmin = topk.filter(F.col("rk") == 20).select(
            F.col("c").alias("x_min")
        )
        lr = (
            topk.filter(F.col("rk") < 20)
            .crossJoin(F.broadcast(xmin))
            .agg(
                F.sum(
                    F.expr(
                        "CAST(round(ln(CAST(c AS DOUBLE)"
                        " / CAST(x_min AS DOUBLE)) * 1e6) AS BIGINT)"
                    )
                )
                .cast("long")
                .alias("sum_log_micro"),
                F.count("*").cast("long").alias("k_used"),
            )
        )
        return (
            xmin.crossJoin(F.broadcast(lr))
            .select(
                "x_min",
                "k_used",
                "sum_log_micro",
                F.expr("sum_log_micro DIV k_used")
                .cast("long")
                .alias("hill_inv_alpha_micro"),
                F.expr(
                    "CASE WHEN sum_log_micro > 0 THEN"
                    " k_used * 1000000000000 DIV sum_log_micro END"
                )
                .cast("long")
                .alias("alpha_micro"),
            )
        )

    # -- Markov next-event held-out accuracy -------------------------------------------

    @register(
        "markov_heldout_accuracy",
        sql="""
        WITH ev AS (
            SELECT user_id, event_type,
                   CAST(user_id % 2 AS INT) AS grp,
                   lead(event_type) OVER (PARTITION BY user_id
                       ORDER BY epoch_us(ts), event_id) AS nxt
            FROM events
        ), pairs AS (
            SELECT grp, event_type AS prev, nxt FROM ev
            WHERE nxt IS NOT NULL
        ), train AS (
            SELECT prev, nxt, CAST(COUNT(*) AS BIGINT) AS c
            FROM pairs WHERE grp = 0 GROUP BY 1, 2
        ), pred AS (
            SELECT prev, nxt AS predicted FROM (
                SELECT prev, nxt,
                       row_number() OVER (PARTITION BY prev
                           ORDER BY c DESC, nxt) AS rk
                FROM train
            ) WHERE rk = 1
        )
        SELECT p.prev,
               CAST(COUNT(*) AS BIGINT) AS n_pairs,
               CAST(SUM(CASE WHEN p.nxt = pred.predicted
                        THEN 1 ELSE 0 END) AS BIGINT) AS n_correct,
               CAST(SUM(CASE WHEN p.nxt = pred.predicted
                        THEN 1 ELSE 0 END) * 1000000 // COUNT(*)
                    AS BIGINT) AS acc_ppm
        FROM pairs p JOIN pred USING (prev)
        WHERE p.grp = 1
        GROUP BY p.prev
        """,
        tags=("ext-events", "ext-stats", "ext-temporal"),
    )
    def q_markov_heldout_accuracy(
        spark: SparkSession, sf_dir: str
    ) -> DataFrame:
        """Held-out evaluation of the first-order Markov model
        (markov_event_transitions' missing eval half): transition
        argmax trained on even users, top-1 next-event accuracy scored
        on odd users — the number that says whether the transition
        matrix is signal or noise. The bounded prediction table
        broadcasts onto the test pairs; per-user lead() windows carry
        the scale key."""
        ev = load_events(spark, sf_dir)
        wl = Window.partitionBy("user_id").orderBy(
            F.expr("unix_micros(ts)"), "event_id"
        )
        pairs = (
            ev.select(
                (F.col("user_id") % 2).cast("int").alias("grp"),
                F.col("event_type").alias("prev"),
                F.lead("event_type").over(wl).alias("nxt"),
            )
            .filter(F.col("nxt").isNotNull())
        )
        train = (
            pairs.filter(F.col("grp") == 0)
            .groupBy("prev", "nxt")
            .agg(F.count("*").cast("long").alias("c"))
        )
        wp = Window.partitionBy("prev").orderBy(
            F.col("c").desc(), F.col("nxt")
        )
        pred = (
            train.withColumn("rk", F.row_number().over(wp))
            .filter(F.col("rk") == 1)
            .select("prev", F.col("nxt").alias("predicted"))
        )
        test = pairs.filter(F.col("grp") == 1)
        return (
            test.join(F.broadcast(pred), "prev")
            .groupBy("prev")
            .agg(
                F.count("*").cast("long").alias("n_pairs"),
                F.sum((F.col("nxt") == F.col("predicted")).cast("long"))
                .cast("long")
                .alias("n_correct"),
            )
            .select(
                "prev",
                "n_pairs",
                "n_correct",
                F.expr("n_correct * 1000000 DIV n_pairs")
                .cast("long")
                .alias("acc_ppm"),
            )
        )


_register_batch11()


def _register_batch12():
    from pyspark.sql import Window

    from politicamente_etl_spark.operators import stats
    from politicamente_etl_spark.plans.catalog import T, register

    # -- Holt forecast backtest ----------------------------------------------------

    _bl = _fd_sql("2 * s.v + 8 * (r.l + r.b)", 10)
    _bb = _fd_sql(f"(({_bl}) - r.l) + 9 * r.b", 10)

    @register(
        "holt_backtest_report",
        sql=f"""
        WITH RECURSIVE d AS (
            SELECT n_name AS nation, o_orderdate AS day,
                   CAST(SUM(CAST(floor(o_totalprice * 100) AS BIGINT))
                        AS BIGINT) AS v
            FROM orders
            JOIN customer ON o_custkey = c_custkey
            JOIN nation ON c_nationkey = n_nationkey
            GROUP BY 1, 2
        ), cut AS (
            SELECT MAX(day) - INTERVAL 7 DAY AS split_day FROM d
        ), s AS (
            SELECT nation, v,
                   row_number() OVER (PARTITION BY nation
                       ORDER BY day) AS rn,
                   COUNT(*) OVER (PARTITION BY nation) AS nd
            FROM d, cut WHERE day <= cut.split_day
        ), rec AS (
            SELECT nation, nd, 1 AS i, v AS l, CAST(0 AS BIGINT) AS b
            FROM s WHERE rn = 1
            UNION ALL
            SELECT r.nation, r.nd, r.i + 1,
                   CAST({_bl} AS BIGINT), CAST({_bb} AS BIGINT)
            FROM rec r JOIN s ON s.nation = r.nation AND s.rn = r.i + 1
        ), fit AS (
            SELECT nation, CAST(nd AS BIGINT) AS n_train_days,
                   CAST(7 * l + 28 * b AS BIGINT) AS forecast_cents
            FROM rec WHERE i = nd
        ), act AS (
            SELECT nation, CAST(SUM(v) AS BIGINT) AS actual_cents
            FROM d, cut WHERE day > cut.split_day GROUP BY nation
        )
        SELECT fit.nation, fit.n_train_days,
               COALESCE(act.actual_cents, 0) AS actual_cents,
               fit.forecast_cents,
               ABS(COALESCE(act.actual_cents, 0) - fit.forecast_cents)
                   AS abs_err_cents
        FROM fit LEFT JOIN act USING (nation)
        """,
        tags=("ext-stats", "ext-temporal", "ext-rel"),
    )
    def q_holt_backtest_report(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Backtest of the Holt forecaster (holt_winters_daily_revenue's
        missing eval half): fit on every day up to max_day−7, forecast
        the held-out week's total (Σ_{h=1..7} l+h·b = 7l+28b), and
        report absolute error per nation in cents — forecast operators
        ship with their error measurement or they're decoration. Same
        exact integer fold; the train/test cut is one broadcast scalar."""
        o = T(spark, sf_dir, "orders").select(
            "o_custkey",
            "o_orderdate",
            F.floor(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        )
        c = T(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
        n = T(spark, sf_dir, "nation").select("n_nationkey", "n_name")
        d = (
            o.join(c, o.o_custkey == c.c_custkey)
            .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
            .groupBy(F.col("n_name").alias("nation"), F.col("o_orderdate"))
            .agg(F.sum("cents").cast("long").alias("v"))
        )
        cut = d.agg(
            F.date_sub(F.max("o_orderdate"), 7).alias("split_day")
        )
        train = d.join(F.broadcast(cut)).filter(
            F.col("o_orderdate") <= F.col("split_day")
        )
        fit = stats.holt_winters_level_trend(
            train.select("nation", "o_orderdate", "v"),
            "nation",
            day_col="o_orderdate",
            value_col="v",
        ).select(
            "nation",
            F.col("n_days").alias("n_train_days"),
            (7 * F.col("level") + 28 * F.col("trend"))
            .cast("long")
            .alias("forecast_cents"),
        )
        act = (
            d.join(F.broadcast(cut))
            .filter(F.col("o_orderdate") > F.col("split_day"))
            .groupBy("nation")
            .agg(F.sum("v").cast("long").alias("actual_cents"))
        )
        return (
            fit.join(act, "nation", "left")
            .select(
                "nation",
                "n_train_days",
                F.coalesce("actual_cents", F.lit(0))
                .cast("long")
                .alias("actual_cents"),
                "forecast_cents",
                F.abs(
                    F.coalesce("actual_cents", F.lit(0))
                    - F.col("forecast_cents")
                )
                .cast("long")
                .alias("abs_err_cents"),
            )
        )

    # -- quantile normalization ------------------------------------------------------

    @register(
        "quantile_normalization_scores",
        sql=_classifier_scored_cte()
        + """, src AS (
            SELECT logits.doc_id, logits.logit AS s FROM logits
        ), tgtv AS (
            SELECT doc_id,
                   CAST((len(list_distinct(string_split(text, ' ')))
                         * 1000)
                        // len(string_split(text, ' ')) AS BIGINT) AS q
            FROM documents
        ), n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM src),
        sr AS (
            SELECT doc_id, s,
                   row_number() OVER (ORDER BY s, doc_id) AS rk
            FROM src
        ), tr AS (
            SELECT q, row_number() OVER (ORDER BY q, doc_id) AS rk
            FROM tgtv
        )
        SELECT sr.doc_id, sr.s AS logit_micro,
               CAST(sr.rk AS BIGINT) AS src_rank,
               tr.q AS mapped_q_milli
        FROM sr JOIN tr USING (rk)
        """,
        tags=("ext-stats", "ext-text", "ext-docs"),
    )
    def q_quantile_normalization_scores(
        spark: SparkSession, sf_dir: str
    ) -> DataFrame:
        """Quantile normalization (the rank-matching transform of
        bioinformatics and feature scaling): each document's gate logit
        is replaced by the lexical-diversity value of EQUAL RANK, so
        the mapped scores carry the target distribution exactly while
        preserving the source ordering. Rank windows are unpartitioned
        HERE because both relations are corpus-sized summaries at test
        scale — at 100 TB the same map is built from merged-histogram
        quantiles (histogram_quantile_merge_proof) instead of exact
        ranks, trading bin-width error for the global sort; this exact
        form is the audit twin. Ties break on doc_id so both engines
        emit the identical bijection."""
        docs = T(spark, sf_dir, "documents").select("doc_id", "text")
        from politicamente_etl_spark.operators import text

        w = text.fixture_hash_weights(spark, n_buckets=4096, seed="qc-w")
        src = text.hashed_linear_score(
            docs, w, n_buckets=4096, seed="qc-v1"
        ).select("doc_id", F.col("logit_micro").alias("s"))
        tgt = docs.select(
            "doc_id",
            F.expr(
                "CAST((size(array_distinct(split(text, ' '))) * 1000)"
                " div size(split(text, ' ')) AS BIGINT)"
            ).alias("q"),
        )
        wsr = Window.orderBy("s", "doc_id")
        wtr = Window.orderBy("q", "doc_id")
        sr = src.withColumn("rk", F.row_number().over(wsr))
        tr = tgt.select(
            "q", F.row_number().over(wtr).alias("rk")
        )
        return sr.join(tr, "rk").select(
            "doc_id",
            F.col("s").alias("logit_micro"),
            F.col("rk").cast("long").alias("src_rank"),
            F.col("q").alias("mapped_q_milli"),
        )


_register_batch12()


def _register_batch13():
    import random as _random

    from politicamente_etl_spark.operators import sim
    from politicamente_etl_spark.plans.catalog import T, register

    # the SAME seeded planes as embedding_cosine_near_dup_lsh
    # (plans/extended.py uses Random(7)); regenerated here because that
    # module builds them inside its register closure
    _rnd = _random.Random(7)
    _DUP_PLANES = [[_rnd.gauss(0, 1) for _ in range(64)] for _ in range(3)]

    _dot_dd = (
        "list_reduce(list_transform(list_zip({a}, {b}),"
        " s -> CAST(s[1] AS DOUBLE) * CAST(s[2] AS DOUBLE)),"
        " (acc, v) -> acc + v)"
    )
    _norm_dd = (
        "sqrt(list_reduce(list_transform({a},"
        " x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (acc, v) -> acc + v))"
    )

    def _plane_lit(plane):
        return "[" + ", ".join(str(float(x)) for x in plane) + "]"

    _bucket_sql = "(" + " || ".join(
        f"(CASE WHEN {_dot_dd.format(a='embedding', b=_plane_lit(p))} >= 0"
        " THEN '1' ELSE '0' END)"
        for p in _DUP_PLANES
    ) + ")"

    @register(
        "lsh_near_dup_recall_report",
        sql=f"""
        WITH v AS (
            SELECT vec_id, embedding,
                   {_bucket_sql} AS bucket,
                   {_norm_dd.format(a='embedding')} AS nrm
            FROM embeddings
        ), exact AS (
            SELECT a.vec_id AS va, b.vec_id AS vb
            FROM v a JOIN v b ON a.vec_id < b.vec_id
            WHERE {_dot_dd.format(a='a.embedding', b='b.embedding')}
                      / (a.nrm * b.nrm) >= 0.45
        ), lsh AS (
            SELECT a.vec_id AS va, b.vec_id AS vb
            FROM v a JOIN v b
              ON a.bucket = b.bucket AND a.vec_id < b.vec_id
            WHERE {_dot_dd.format(a='a.embedding', b='b.embedding')}
                      / (a.nrm * b.nrm) >= 0.45
        )
        SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM exact) AS n_exact,
               (SELECT CAST(COUNT(*) AS BIGINT) FROM lsh) AS n_lsh,
               (SELECT CAST(COUNT(*) AS BIGINT) FROM lsh
                WHERE NOT EXISTS (SELECT 1 FROM exact
                                  WHERE exact.va = lsh.va
                                    AND exact.vb = lsh.vb))
                   AS n_lsh_only,
               CAST((SELECT COUNT(*) FROM lsh) * 1000000
                    // (SELECT COUNT(*) FROM exact) AS BIGINT)
                   AS recall_ppm
        """,
        tags=("ext-dedup", "ext-sim", "ext-stats"),
    )
    def q_lsh_near_dup_recall_report(
        spark: SparkSession, sf_dir: str
    ) -> DataFrame:
        """Measured recall of the LSH near-dup path against the exact
        verifier at the same cosine threshold — the number that says
        what the hyperplane bucketing actually costs in missed
        duplicates (and proves in-plan that it costs nothing in
        precision: n_lsh_only, LSH pairs absent from the exact set,
        must be 0 because bucketing only restricts candidates). This is
        the eval loop every approximate-dedup deployment needs: exact
        twin on a bounded audit sample, LSH recall measured, THEN the
        LSH path promoted to the full corpus."""
        emb = T(spark, sf_dir, "embeddings")
        # r9 opt: both pair lists feed TWO consumers each (their count
        # aggregate and the anti-join) — without a barrier the exact
        # all-pairs verifier, the single most expensive subtree in the
        # catalog, runs twice. The materialized lists are pair-count
        # sized; results identical.
        exact = (
            sim.cosine_near_dup_pairs(emb, threshold=0.45)
            .select("vec_a", "vec_b")
            .localCheckpoint(eager=False)
        )
        lsh = (
            sim.cosine_near_dup_pairs_lsh(emb, _DUP_PLANES, threshold=0.45)
            .select("vec_a", "vec_b")
            .localCheckpoint(eager=False)
        )
        n_exact = exact.agg(F.count("*").cast("long").alias("n_exact"))
        n_lsh = lsh.agg(F.count("*").cast("long").alias("n_lsh"))
        lsh_only = (
            lsh.join(exact, ["vec_a", "vec_b"], "left_anti")
            .agg(F.count("*").cast("long").alias("n_lsh_only"))
        )
        return (
            n_exact.crossJoin(F.broadcast(n_lsh))
            .crossJoin(F.broadcast(lsh_only))
            .select(
                "n_exact",
                "n_lsh",
                "n_lsh_only",
                F.expr("n_lsh * 1000000 DIV n_exact")
                .cast("long")
                .alias("recall_ppm"),
            )
        )


_register_batch13()


def _register_batch14():
    from pyspark.sql import Window

    from politicamente_etl_spark.operators import text
    from politicamente_etl_spark.plans.catalog import T, register
    from politicamente_etl_spark.plans.extended_r4b import _POIS_T

    N_REP = 16
    _wt_sql = f"""CASE
                     WHEN uh < {_POIS_T[0]} THEN 0
                     WHEN uh < {_POIS_T[1]} THEN 1
                     WHEN uh < {_POIS_T[2]} THEN 2
                     WHEN uh < {_POIS_T[3]} THEN 3
                     ELSE 4 END"""

    @register(
        "bootstrap_auc_replicates",
        sql=_classifier_scored_cte()
        + f""", j AS (
            SELECT logits.doc_id,
                   ((logits.logit - ((logits.logit % 1000) + 1000) % 1000)
                    // 1000) AS s,
                   truth.label
            FROM logits JOIN truth USING (doc_id)
        ), reps AS (
            SELECT unnest(generate_series(0, {N_REP - 1})) AS rep
        ), wj AS (
            SELECT reps.rep, j.s, j.label,
                   CAST(('0x' || substring(md5(concat_ws(':', 'bauc-v1',
                            CAST(j.doc_id AS VARCHAR),
                            CAST(reps.rep AS VARCHAR))), 1, 15))
                        AS BIGINT) AS uh
            FROM j CROSS JOIN reps
        ), wts AS (
            SELECT rep, s, label, {_wt_sql} AS wt FROM wj
        ), ps AS (
            SELECT rep, s, CAST(SUM(wt) AS BIGINT) AS n_tot,
                   CAST(SUM(wt * label) AS BIGINT) AS n_pos
            FROM wts GROUP BY 1, 2
        ), r AS (
            SELECT rep, s, n_tot, n_pos,
                   COALESCE(SUM(n_tot) OVER (PARTITION BY rep ORDER BY s
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                       0) AS cum_below
            FROM ps
        ), agg AS (
            SELECT rep, CAST(SUM(n_pos) AS BIGINT) AS n_pos,
                   CAST(SUM(n_tot) - SUM(n_pos) AS BIGINT) AS n_neg,
                   CAST(SUM(n_pos * (2 * cum_below + n_tot + 1))
                        AS BIGINT) AS rs2
            FROM r GROUP BY rep
        )
        SELECT CAST(rep AS BIGINT) AS rep, n_pos, n_neg,
               CAST(CASE WHEN n_pos > 0 AND n_neg > 0 THEN
                        (rs2 - n_pos * (n_pos + 1)) * 1000000
                        // (2 * n_pos * n_neg)
                    END AS BIGINT) AS auc_ppm
        FROM agg
        """,
        tags=("ext-stats", "ext-sample", "ext-docs"),
    )
    def q_bootstrap_auc_replicates(
        spark: SparkSession, sf_dir: str
    ) -> DataFrame:
        """Uncertainty on the headline gate metric: 16 deterministic
        Poisson-bootstrap replicates of the tie-corrected AUC — each
        doc's per-replicate weight is Poisson(1) by md5 CDF inversion
        (no RNG, reproducible across engines/partitionings, the
        Chamandy online-bootstrap shape), the weighted rank sums reuse
        the bucketed-score summary walk, and the replicate spread IS
        the confidence interval. One narrow 16× fan-out, 16 bounded
        summaries, no resampled copies of the corpus."""
        from politicamente_etl_spark.plans.extended_r4b import _POIS_T as PT

        docs = T(spark, sf_dir, "documents").select("doc_id", "text")
        w = text.fixture_hash_weights(spark, n_buckets=4096, seed="qc-w")
        logit = text.hashed_linear_score(
            docs, w, n_buckets=4096, seed="qc-v1"
        ).select(
            "doc_id",
            F.expr("(logit_micro - pmod(logit_micro, 1000)) DIV 1000").alias(
                "s"
            ),
        )
        truth = docs.select(
            "doc_id",
            (
                F.expr(
                    "(size(array_distinct(split(text, ' '))) * 1000)"
                    " div size(split(text, ' '))"
                )
                >= 800
            )
            .cast("int")
            .alias("label"),
        )
        j = logit.join(truth, "doc_id")
        reps = spark.range(N_REP).select(F.col("id").alias("rep"))
        uh = F.conv(
            F.substring(
                F.md5(
                    F.concat_ws(
                        ":",
                        F.lit("bauc-v1"),
                        F.col("doc_id").cast("string"),
                        F.col("rep").cast("string"),
                    )
                ),
                1,
                15,
            ),
            16,
            10,
        ).cast("long")
        wj = j.crossJoin(reps).withColumn("uh", uh)
        wt = (
            F.when(F.col("uh") < PT[0], 0)
            .when(F.col("uh") < PT[1], 1)
            .when(F.col("uh") < PT[2], 2)
            .when(F.col("uh") < PT[3], 3)
            .otherwise(4)
        )
        ps = (
            wj.withColumn("wt", wt)
            .groupBy("rep", "s")
            .agg(
                F.sum("wt").cast("long").alias("n_tot"),
                F.sum(F.col("wt") * F.col("label")).cast("long").alias(
                    "n_pos"
                ),
            )
        )
        wcum = Window.partitionBy("rep").orderBy("s").rowsBetween(
            Window.unboundedPreceding, -1
        )
        r = ps.withColumn(
            "cum_below", F.coalesce(F.sum("n_tot").over(wcum), F.lit(0))
        )
        return (
            r.groupBy("rep")
            .agg(
                F.sum("n_pos").cast("long").alias("n_pos"),
                (F.sum("n_tot") - F.sum("n_pos")).cast("long").alias("n_neg"),
                F.sum(
                    F.col("n_pos")
                    * (2 * F.col("cum_below") + F.col("n_tot") + 1)
                )
                .cast("long")
                .alias("rs2"),
            )
            .select(
                F.col("rep").cast("long").alias("rep"),
                "n_pos",
                "n_neg",
                F.expr(
                    "CAST(CASE WHEN n_pos > 0 AND n_neg > 0 THEN"
                    " (rs2 - n_pos * (n_pos + 1)) * 1000000"
                    " DIV (2 * n_pos * n_neg) END AS BIGINT)"
                ).alias("auc_ppm"),
            )
        )


_register_batch14()


def _register_batch15():
    from pyspark.sql import Window

    from politicamente_etl_spark.operators import graph
    from politicamente_etl_spark.plans.catalog import T, register

    @register(
        "hub_removal_robustness",
        sql=f"""
        WITH RECURSIVE {_CO_EDGE_SQL}, und AS (
            SELECT pa AS src, pb AS dst FROM e
            UNION ALL SELECT pb AS src, pa AS dst FROM e
        ), hubs AS (
            SELECT src AS node FROM (
                SELECT src, COUNT(*) AS deg,
                       row_number() OVER (ORDER BY COUNT(*) DESC, src)
                           AS rk
                FROM und GROUP BY src
            ) WHERE rk <= 20
        ), r0 AS (
            SELECT pa, pb FROM e
            WHERE NOT EXISTS (SELECT 1 FROM hubs WHERE hubs.node = e.pa)
              AND NOT EXISTS (SELECT 1 FROM hubs WHERE hubs.node = e.pb)
        ), eu AS (
            SELECT pa AS src, pb AS dst FROM e
            UNION ALL SELECT pb, pa FROM e
        ), reach_full(node, label) AS (
            SELECT DISTINCT src AS node, src AS label FROM eu
            UNION
            SELECT eu.dst, r.label FROM reach_full r
            JOIN eu ON eu.src = r.node
        ), cc_full AS (
            SELECT node, MIN(label) AS component
            FROM reach_full GROUP BY node
        ), ru AS (
            SELECT pa AS src, pb AS dst FROM r0
            UNION ALL SELECT pb, pa FROM r0
        ), reach_res(node, label) AS (
            SELECT DISTINCT src AS node, src AS label FROM ru
            UNION
            SELECT ru.dst, r.label FROM reach_res r
            JOIN ru ON ru.src = r.node
        ), cc_res AS (
            SELECT node, MIN(label) AS component
            FROM reach_res GROUP BY node
        ), s_full AS (
            SELECT 'full' AS scenario,
                   CAST(COUNT(*) AS BIGINT) AS n_nodes,
                   CAST(COUNT(DISTINCT component) AS BIGINT)
                       AS n_components,
                   CAST(MAX(cs) AS BIGINT) AS largest_component
            FROM (SELECT node, component,
                         COUNT(*) OVER (PARTITION BY component) AS cs
                  FROM cc_full)
        ), s_res AS (
            SELECT 'hubs_removed' AS scenario,
                   CAST(COUNT(*) AS BIGINT) AS n_nodes,
                   CAST(COUNT(DISTINCT component) AS BIGINT)
                       AS n_components,
                   CAST(MAX(cs) AS BIGINT) AS largest_component
            FROM (SELECT node, component,
                         COUNT(*) OVER (PARTITION BY component) AS cs
                  FROM cc_res)
        )
        SELECT * FROM s_full UNION ALL SELECT * FROM s_res
        """,
        tags=("ext-graph", "ext-rel", "ext-stats"),
    )
    def q_hub_removal_robustness(
        spark: SparkSession, sf_dir: str
    ) -> DataFrame:
        """Attack-tolerance profile of the co-purchase graph (Albert,
        Jeong & Barabási 2000): connected components before and after
        deleting the 20 highest-degree hubs — how much of the giant
        component survives a targeted attack. Hub selection is one
        degree rank; removal is two anti-joins; each scenario is one
        O(log n) large-star/small-star CC run. The oracle closes both
        reachabilities with recursive CTEs — different fixpoint
        engines, same two rows."""
        e = _co_edges(spark, sf_dir).localCheckpoint(eager=False)
        und = e.select(F.col("pa").alias("s")).unionByName(
            e.select(F.col("pb").alias("s"))
        )
        wr = Window.orderBy(F.col("deg").desc(), F.col("s"))
        hubs = (
            und.groupBy("s")
            .agg(F.count("*").alias("deg"))
            .withColumn("rk", F.row_number().over(wr))
            .filter(F.col("rk") <= 20)
            .select(F.col("s").alias("node"))
        )
        residual = e.join(
            hubs.withColumnRenamed("node", "pa"), "pa", "left_anti"
        ).join(hubs.withColumnRenamed("node", "pb"), "pb", "left_anti")

        def profile(edges, scenario):
            cc = graph.connected_components(edges, src="pa", dst="pb")
            sizes = cc.groupBy("component").agg(
                F.count("*").cast("long").alias("cs")
            )
            return (
                cc.agg(F.count("*").cast("long").alias("n_nodes"))
                .crossJoin(
                    sizes.agg(
                        F.count("*").cast("long").alias("n_components"),
                        F.max("cs").cast("long").alias("largest_component"),
                    )
                )
                .select(
                    F.lit(scenario).alias("scenario"),
                    "n_nodes",
                    "n_components",
                    "largest_component",
                )
            )

        return profile(e, "full").unionByName(
            profile(residual, "hubs_removed")
        )


_register_batch15()


def _register_batch16():
    from politicamente_etl_spark.plans.catalog import load_events, register

    @register(
        "events_hourly_uniformity_chi2",
        sql="""
        WITH b AS (
            SELECT event_type,
                   CAST((epoch_us(ts) // 3600000000) % 24 AS BIGINT) AS hod
            FROM events
        ), o AS (
            SELECT event_type, hod, CAST(COUNT(*) AS BIGINT) AS obs
            FROM b GROUP BY 1, 2
        ), n AS (
            SELECT event_type, CAST(SUM(obs) AS BIGINT) AS n,
                   CAST(COUNT(*) AS BIGINT) AS n_bins_hit
            FROM o GROUP BY 1
        ), terms AS (
            -- absent hours contribute (0 - n/24)² = n²/576; folding the
            -- zero-fill: Σ_hit (24·obs − n)² + (24 − hit)·n²
            SELECT o.event_type,
                   CAST(SUM((24 * o.obs - n.n) * (24 * o.obs - n.n))
                        AS BIGINT) AS s_hit
            FROM o JOIN n USING (event_type) GROUP BY 1, n.n
        )
        SELECT n.event_type, n.n, n.n_bins_hit,
               CAST(CAST(terms.s_hit AS HUGEINT)
                    + (24 - n.n_bins_hit) * CAST(n.n AS HUGEINT) * n.n
                    AS BIGINT) AS chi2_num,
               CAST(24 * n.n AS BIGINT) AS chi2_den,
               CAST((CAST(terms.s_hit AS HUGEINT)
                     + (24 - n.n_bins_hit) * CAST(n.n AS HUGEINT) * n.n)
                    * 1000 // (24 * CAST(n.n AS HUGEINT)) AS BIGINT)
                   AS chi2_milli
        FROM n JOIN terms USING (event_type)
        """,
        tags=("ext-events", "ext-stats"),
    )
    def q_events_hourly_uniformity_chi2(
        spark: SparkSession, sf_dir: str
    ) -> DataFrame:
        """One-sample χ² goodness-of-fit of each event type's
        hour-of-day histogram against uniformity (23 df) — the
        seasonality detector as a test statistic, not a plot. Exact
        integers throughout: χ² = Σ(24·obs − n)²/(24·n) with absent
        hours folded into one closed term (same zero-fill identity
        family as t_closeness). One (type, hod) aggregate, bounded by
        the grid; chi2_milli ≳ 41,600 rejects uniformity at p<0.01."""
        ev = load_events(spark, sf_dir)
        b = ev.select(
            "event_type",
            F.expr("pmod(unix_micros(ts) div 3600000000, 24)")
            .cast("long")
            .alias("hod"),
        )
        o = b.groupBy("event_type", "hod").agg(
            F.count("*").cast("long").alias("obs")
        )
        n = o.groupBy("event_type").agg(
            F.sum("obs").cast("long").alias("n"),
            F.count("*").cast("long").alias("n_bins_hit"),
        )
        terms = (
            o.join(n, "event_type")
            .groupBy("event_type", "n")
            .agg(
                F.sum(
                    (24 * F.col("obs") - F.col("n"))
                    * (24 * F.col("obs") - F.col("n"))
                )
                .cast("long")
                .alias("s_hit")
            )
            .drop("n")
        )
        return (
            n.join(terms, "event_type")
            .select(
                "event_type",
                "n",
                "n_bins_hit",
                # DECIMAL(38,0): the n²-scaled numerator outgrows BIGINT
                # around n ≈ 4e6 events per type (code-review finding)
                F.expr(
                    "CAST(CAST(s_hit AS decimal(38,0))"
                    " + (24 - n_bins_hit) * CAST(n AS decimal(38,0)) * n"
                    " AS BIGINT)"
                ).alias("chi2_num"),
                (24 * F.col("n")).cast("long").alias("chi2_den"),
                F.expr(
                    "CAST((CAST(s_hit AS decimal(38,0))"
                    " + (24 - n_bins_hit) * CAST(n AS decimal(38,0)) * n)"
                    " * 1000 DIV (24 * CAST(n AS decimal(38,0)))"
                    " AS BIGINT)"
                ).alias("chi2_milli"),
            )
        )


_register_batch16()


def _register_batch17():
    from politicamente_etl_spark.plans.catalog import T, register

    # -- business-day latency -------------------------------------------------

    # closed form: H(d) = #weekdays among epoch days [0, d] — align to
    # the Monday 3 days before epoch day 0 (a Thursday), count 5 per
    # whole week + the ≤5 weekday remainder, subtract the 3 pre-epoch
    # weekdays (Mon-Wed) the alignment added
    _H = "(5 * (({d} + 4) DIV 7) + least(pmod({d} + 4, 7), 5) - 3)"
    _H_SQL = "(5 * (({d} + 4) // 7) + least(({d} + 4) % 7, 5) - 3)"

    @register(
        "business_day_latency_profile",
        sql=f"""
        WITH li AS (
            SELECT o_orderpriority,
                   CAST(epoch_us(o_orderdate) // 86400000000 AS BIGINT)
                       AS d1,
                   CAST(epoch_us(l_shipdate) // 86400000000 AS BIGINT)
                       AS d2
            FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        ), bd AS (
            -- INDEPENDENT method: enumerate the days and count weekdays
            -- (the Spark side uses the closed-form prefix function);
            -- signed: a ship date before the order date counts weekdays
            -- backwards
            SELECT o_orderpriority,
                   CASE WHEN d2 >= d1 THEN
                       (SELECT COUNT(*)
                        FROM unnest(generate_series(d1 + 1, d2)) AS g(d)
                        WHERE (d + 3) % 7 < 5)
                   ELSE
                       -(SELECT COUNT(*)
                         FROM unnest(generate_series(d2 + 1, d1)) AS g(d)
                         WHERE (d + 3) % 7 < 5)
                   END AS bdays
            FROM li
        )
        SELECT o_orderpriority, CAST(bdays AS BIGINT) AS bdays,
               CAST(COUNT(*) AS BIGINT) AS n_items
        FROM bd GROUP BY 1, 2
        """,
        tags=("ext-temporal", "ext-rel"),
    )
    def q_business_day_latency_profile(
        spark: SparkSession, sf_dir: str
    ) -> DataFrame:
        """SIGNED business-day offset (weekends excluded) between each
        order date and its items' ship dates, profiled per priority —
        the SLA metric calendars make awkward and closed-form integer
        arithmetic makes free: weekdays in (d1, d2] = H(d2) − H(d1)
        with H the Monday-aligned weekday prefix count, one codegen'd
        expression per row, no calendar table, no explode. The prefix
        form is automatically sign-correct (the synthetic ship dates
        land on BOTH sides of the order date, which exercises exactly
        that); the oracle deliberately runs the OPPOSITE algorithm —
        enumerate the days, count weekdays, negate on reversal — so
        the closed form is verified against brute force."""
        li = T(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
        o = T(spark, sf_dir, "orders").select(
            "o_orderkey", "o_custkey", "o_orderdate", "o_orderpriority"
        )
        j = li.join(o, li.l_orderkey == o.o_orderkey).select(
            "o_orderpriority",
            F.expr("unix_micros(cast(o_orderdate as timestamp))"
                   " div 86400000000").alias("d1"),
            F.expr("unix_micros(cast(l_shipdate as timestamp))"
                   " div 86400000000").alias("d2"),
        )
        h2 = _H.format(d="d2")
        h1 = _H.format(d="d1")
        return (
            j.select(
                "o_orderpriority",
                F.expr(f"({h2}) - ({h1})").cast("long").alias("bdays"),
            )
            .groupBy("o_orderpriority", "bdays")
            .agg(F.count("*").cast("long").alias("n_items"))
        )

    # -- INTERSECT ALL (multiset) ----------------------------------------------

    @register(
        "intersect_all_quantities",
        sql="""
        WITH ret AS (
            SELECT CAST(l_quantity AS BIGINT) AS qty FROM lineitem
            WHERE l_returnflag = 'R'
        ), kept AS (
            SELECT CAST(l_quantity AS BIGINT) AS qty FROM lineitem
            WHERE l_returnflag <> 'R'
        ), both_ AS (
            SELECT qty FROM ret INTERSECT ALL SELECT qty FROM kept
        )
        SELECT qty, CAST(COUNT(*) AS BIGINT) AS n
        FROM both_ GROUP BY qty
        """,
        tags=("ext-rel", "ext-setop"),
    )
    def q_intersect_all_quantities(
        spark: SparkSession, sf_dir: str
    ) -> DataFrame:
        """INTERSECT ALL — the multiset set-op the catalog's INTERSECT/
        EXCEPT [ALL] family still lacked: quantity values shared between
        returned and kept line items, each kept min(count_left,
        count_right) times (verified through the rolled-up
        multiplicities). Spark plans intersectAll as one partial-
        aggregated count-compare, no join explosion."""
        li = T(spark, sf_dir, "lineitem").select(
            F.col("l_quantity").cast("long").alias("qty"), "l_returnflag"
        )
        ret = li.filter(F.col("l_returnflag") == "R").select("qty")
        kept = li.filter(F.col("l_returnflag") != "R").select("qty")
        return (
            ret.intersectAll(kept)
            .groupBy("qty")
            .agg(F.count("*").cast("long").alias("n"))
        )


_register_batch17()
