"""Query catalog: every operator from SURVEY.md §2 as a named
(Spark builder, DuckDB oracle SQL) pair.

This is the single registry `__spark_entry__.py` exposes to the driver.
Each builder takes (spark, sf_dir) and returns a DataFrame; the paired SQL
is the ANSI equivalent DuckDB runs on the same parquet for the correctness
gate. Column names and types are aligned on both sides; float aggregates
use the decimal-snap pattern (functions.scalar) so value hashes match
bit-for-bit.

Reference surface queries live here; the extended LLM-data-pipeline surface
(text analysis, dedup, similarity, events) lives in the family modules named
by `FAMILY_MODULES` (plans/extended*.py). `CATALOG` imports a family module
only when a name it owns is looked up, so a client that runs one query pays
for compiling one module, not all of them.
"""

from __future__ import annotations

import importlib
import os
import re
import threading
from collections.abc import Iterator, Mapping
from dataclasses import dataclass, field
from typing import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, TimestampNTZType

from politicamente_etl_spark.functions.scalar import (
    election_date,
    money_sum,
    sql_money_sum,
    synth_key,
)
from politicamente_etl_spark.operators import agg as agg_ops
from politicamente_etl_spark.operators import core, joins
from politicamente_etl_spark.sources import sinks
from politicamente_etl_spark.sources.readers import load_table


@dataclass(frozen=True)
class Query:
    """One catalog entry. ``sql=None`` marks a genuinely non-SQL-expressible
    op (streaming/sketches) → the driver records a rows-only check."""

    name: str
    fn: Callable[[SparkSession, str], DataFrame]
    sql: str | None
    bench: bool = False
    tags: tuple[str, ...] = field(default_factory=tuple)


# The family modules, in the order their entries iterate (after this
# module's own). Each registers its queries when imported; the catalog
# imports one only when a name it owns is looked up.
FAMILY_MODULES = (
    "extended", "extended_r3", "extended_r3b", "extended_r4", "extended_r4b",
    "extended_r5", "extended_r5b", "extended_r6", "extended_r6b",
    "extended_r6c", "extended_r6d", "extended_r6e", "extended_r6f",
    "extended_r6g", "extended_r6h", "extended_r7", "extended_r8",
    "extended_r9", "extended_r9b", "extended_r9c", "extended_r10",
    "extended_r10b", "extended_r10c", "extended_r10d", "extended_r10e",
    "extended_r10f", "extended_r10g", "extended_r10h", "extended_r10i",
    "extended_r11", "extended_r11b", "extended_r11c", "extended_r11d",
    "extended_r11e", "extended_r11f", "extended_r11g", "extended_r11h",
    "extended_r11i", "extended_r12", "extended_r12b", "extended_r12c",
    "extended_r12d", "extended_r12e", "extended_r12f", "extended_r12g",
    "extended_r12h", "extended_r12i", "extended_r13", "extended_r13b",
    "extended_r13c", "extended_r13d", "extended_r13e", "extended_r13f",
    "extended_r13g", "extended_r13h", "extended_r14", "extended_r14b",
)

# A family module's registrations as they appear in its source: the name
# literal right after `@register(`.
_REGISTER_RE = re.compile(r'@register\(\s*"([^"]+)"')


class Catalog(Mapping[str, Query]):
    """Read-only name -> Query mapping that imports a family module only
    when a name it owns is looked up.

    Which module owns which name comes from an index built, on the first
    lookup this module's own entries cannot answer, by scanning the family
    modules' sources for ``@register("<name>"`` (a few ms; importing all of
    them compiles ~34k lines). The index only picks which module to import
    first: when it names no module, or the module it names does not
    register the name, every module is imported before a lookup misses,
    so a lookup answers exactly as a fully imported catalog would.
    Iterating (and ``len``/``items``/``values``) imports every module and
    yields this module's entries, then each family module's in
    ``FAMILY_MODULES`` order, each in registration order, whatever order
    the modules were imported in."""

    def __init__(self) -> None:
        self._entries: dict[str, Query] = {}
        # two modules imported on different threads may register at once;
        # imports never run under this lock (an import lock held by
        # another registering thread would deadlock against it)
        self._lock = threading.Lock()
        self._owners: dict[str, str] | None = None

    def _index(self) -> dict[str, str]:
        """name -> owning module (full dotted name), first owner wins."""
        if self._owners is None:
            here = os.path.dirname(os.path.abspath(__file__))
            owners: dict[str, str] = {}
            for mod in FAMILY_MODULES:
                with open(os.path.join(here, f"{mod}.py"), encoding="utf-8") as fh:
                    for name in _REGISTER_RE.findall(fh.read()):
                        owners.setdefault(name, f"{__package__}.{mod}")
            self._owners = owners
        return self._owners

    def _load_all(self) -> None:
        for mod in FAMILY_MODULES:
            importlib.import_module(f"{__package__}.{mod}")

    def _lookup(self, name: str) -> Query | None:
        q = self._entries.get(name)
        if q is None:
            owner = self._index().get(name)
            if owner is not None:
                importlib.import_module(owner)
                q = self._entries.get(name)
            if q is None:
                self._load_all()
                q = self._entries.get(name)
        return q

    def __getitem__(self, name: str) -> Query:
        q = self._lookup(name)
        if q is None:
            raise KeyError(name)
        return q

    def __contains__(self, name: object) -> bool:
        return self._lookup(name) is not None

    def __iter__(self) -> Iterator[str]:
        self._load_all()
        rank = {f"{__package__}.{m}": i for i, m in enumerate(FAMILY_MODULES, 1)}
        rank[__name__] = 0
        last = len(rank)
        with self._lock:
            entries = list(self._entries.values())
        # sorted() is stable: within a module, registration order stays
        entries.sort(key=lambda q: rank.get(q.fn.__module__, last))
        return iter([q.name for q in entries])

    def __len__(self) -> int:
        self._load_all()
        return len(self._entries)

    def _add(self, q: Query) -> None:
        # Any registration but this module's own must come from the module
        # the index names: a lookup would otherwise answer differently
        # depending on which modules happen to be imported. (This module's
        # entries register when it is imported, before any family module
        # can, so a family module re-using one hits the duplicate check.)
        if q.fn.__module__ != __name__:
            owner = self._index().get(q.name)
            if owner is not None and owner != q.fn.__module__:
                raise ValueError(
                    f"catalog name collision: {q.name!r} belongs to {owner}"
                )
        with self._lock:
            # last-wins overwriting silently dropped an existing query once
            # (round 7: a draft re-used int8_quantization_report and ate the
            # r10b original) — duplicates are always a registration bug
            if q.name in self._entries:
                raise ValueError(
                    f"catalog name collision: {q.name!r} is already registered"
                )
            self._entries[q.name] = q


CATALOG = Catalog()


def register(name: str, sql: str | None, bench: bool = False, tags: tuple[str, ...] = ()):
    def deco(fn: Callable[[SparkSession, str], DataFrame]):
        CATALOG._add(Query(name=name, fn=fn, sql=sql, bench=bench, tags=tags))
        return fn

    return deco


def T(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


def load_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-adaptive events scan. The driver's events.parquet carries
    ``ts: timestamp[us]`` (isAdjustedToUTC=false, which Spark surfaces as
    TIMESTAMP_NTZ); other vintages carry TIMESTAMP(NANOS), which Spark's
    vectorized reader only accepts as a nanosecond LONG under the legacy
    conf. Branch on the actual footer dtype so every vintage normalizes to
    a proper UTC TimestampType ``ts``:

    - LongType (nanos-as-long): exact integer floor to micros (`div 1000`),
      matching DuckDB's ns→µs truncation.
    - TIMESTAMP_NTZ: wall-clock == UTC instant under the UTC session tz;
      cast to TimestampType because `unix_micros()` / `F.window()` reject
      NTZ inputs.
    - TimestampType: already an instant — pass through.

    Both branches are unit-tested against µs and ns fixtures
    (tests/test_oracle_parity.py, tests/test_streaming.py) so a testdata
    regeneration can't silently flip the assumption again.

    The session timezone is pinned to UTC here (not only in get_spark):
    the NTZ→TimestampType cast reinterprets wall-clock values in the
    SESSION zone, so a driver-owned session in a non-UTC zone would shift
    every epoch derivation (unix_micros, window alignment for offsets not
    divisible by the window width, DST boundaries) away from the UTC-naive
    DuckDB oracle. stream_events already pins this; batch must match."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = load_table(spark, sf_dir, "events")
    dt = df.schema["ts"].dataType
    if isinstance(dt, LongType):
        return df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    if isinstance(dt, TimestampNTZType):
        return df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


# ===========================================================================
# Reference surface (SURVEY.md §2) — one query per operator row.
# ===========================================================================


@register(
    "flagship_revenue_rollup",
    sql=f"""
    SELECT n_name,
           {sql_money_sum("l_extendedprice * (1 - l_discount)", "revenue")},
           COUNT(*) AS n_items,
           SUM(l_quantity) AS sum_qty
    FROM lineitem
    JOIN orders   ON l_orderkey  = o_orderkey
    JOIN customer ON o_custkey   = c_custkey
    JOIN nation   ON c_nationkey = n_nationkey
    GROUP BY n_name
    """,
    bench=True,
    tags=("S3", "S4", "P1", "J1", "J2", "J3", "A1"),
)
def q_flagship_revenue_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship slice (SURVEY.md §7.1): the `seed_candidacies`/`update_results`
    plan shape — scan → projection → broadcast dim-join chain
    (`load.py:56-75`) → hash aggregate (`load.py:104-107`) — on the star
    schema. nation broadcasts; lineitem⋈orders is the fact-fact join AQE
    plans (sort-merge at scale, broadcast at small SF). sum(l_quantity) is
    exact (integral doubles); revenue is decimal-snapped.

    r10 (VERDICT r9 item 5): spread() KEPT, by interleaved A/B — removing
    it looked good with a plain double sum (0.96 s vs 1.06 s) but the
    real query's decimal money_sum partial aggregate plus three probe
    passes on the single bench-SF scan partition is decisively worse
    serialized (spread 1.18 s / no-spread 1.65 s, best-of-4 interleaved
    trials). The n_name ENSURE_REQUIREMENTS exchange is the final
    aggregate's own requirement — 25 post-partial-agg rows per task, not
    absorbable by any earlier repartition (n_name exists only after the
    joins)."""
    li = core.spread(T(spark, sf_dir, "lineitem"), "l_orderkey")
    o = T(spark, sf_dir, "orders")
    c = T(spark, sf_dir, "customer")
    n = T(spark, sf_dir, "nation")
    revenue = F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount"))
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(
            money_sum(revenue, "revenue"),
            F.count("*").alias("n_items"),
            F.sum("l_quantity").alias("sum_qty"),
        )
    )


@register(
    "project_cast",
    sql="""
    SELECT l_orderkey AS order_key,
           CAST(l_linenumber AS BIGINT) AS line_no,
           CAST(l_quantity AS BIGINT) AS qty,
           l_returnflag AS flag
    FROM lineitem
    """,
    tags=("P1", "P4", "P7", "F6"),
)
def q_project_cast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P1/P4/P7 — projection + rename + casts (`load.py:13,16`). One select
    → the parquet scan reads exactly 4 columns (ReadSchema)."""
    li = T(spark, sf_dir, "lineitem")
    return core.project_rename(
        li,
        {
            "l_orderkey": "order_key",
            "l_linenumber": "line_no",
            "l_quantity": "qty",
            "l_returnflag": "flag",
        },
    ).withColumns(
        {"line_no": F.col("line_no").cast("long"), "qty": F.col("qty").cast("long")}
    )


@register(
    "distinct_projection",
    sql="SELECT DISTINCT c_nationkey, c_mktsegment FROM customer",
    tags=("A2", "A3", "P2", "P3"),
)
def q_distinct_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2/A3 — DISTINCT over a projection (`load.py:33,59`)."""
    return core.distinct_rows(
        T(spark, sf_dir, "customer"), ["c_nationkey", "c_mktsegment"]
    )


@register(
    "dedup_keep_first",
    sql="""
    SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
           strftime(o_orderdate, '%Y-%m-%d') AS o_date, o_orderpriority
    FROM orders
    QUALIFY row_number() OVER (PARTITION BY o_custkey ORDER BY o_orderkey) = 1
    """,
    tags=("A4",),
)
def q_dedup_keep_first(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4 — dedup-by-key keep-first (`load.py:13`), deterministic via
    row_number over an explicit tiebreak (SURVEY.md §2.9.2)."""
    o = T(spark, sf_dir, "orders")
    out = core.dedup_keep_first(o, ["o_custkey"], [F.col("o_orderkey")])
    return out.select(
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        "o_totalprice",
        # ISO string, not DATE: pandas date objects vs DuckDB Timestamps
        # dtype-mismatch in the oracle compare; the string is unambiguous.
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_date"),
        "o_orderpriority",
    )


@register(
    "union_all_scan",
    sql="""
    SELECT l_orderkey, l_linenumber, l_returnflag, l_linestatus
    FROM lineitem WHERE l_linestatus = 'F'
    UNION ALL
    SELECT l_orderkey, l_linenumber, l_returnflag, l_linestatus
    FROM lineitem WHERE l_linestatus = 'O'
    """,
    tags=("S4",),
)
def q_union_all_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S4 — multi-source UNION ALL (`extract.py:48`): the per-state-file
    concat re-expressed as a no-shuffle union of two filtered scans."""
    li = T(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_returnflag", "l_linestatus"
    )
    return core.union_all(
        li.filter(F.col("l_linestatus") == "F"),
        li.filter(F.col("l_linestatus") == "O"),
    )


@register(
    "join_dim_single_key",
    sql="""
    SELECT l_orderkey, l_linenumber, s_name, s_nationkey
    FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
    """,
    # bench slot ceded r7 (saturated at 0.28 s) to
    # txlog_deletion_vector_report — the tombstone read path the
    # headline set didn't exercise (VERDICT r6 item 6)
    tags=("J1",),
)
def q_join_dim_single_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1 — broadcast hash join on a single int key (`load.py:56,75`):
    fact(lineitem) ⋈ dim(supplier); the dim broadcasts, the fact never
    shuffles."""
    li = T(spark, sf_dir, "lineitem")
    s = T(spark, sf_dir, "supplier")
    return joins.broadcast_dim_join(
        li, s, on=[li.l_suppkey == s.s_suppkey]
    ).select("l_orderkey", "l_linenumber", "s_name", "s_nationkey")


@register(
    "join_composite_key_missdrop",
    sql="""
    WITH dim AS (
        SELECT DISTINCT c_nationkey, c_mktsegment
        FROM customer WHERE c_nationkey < 13
    )
    SELECT c_custkey, c_nationkey, c_mktsegment
    FROM customer JOIN dim USING (c_nationkey, c_mktsegment)
    """,
    tags=("J2", "P6"),
)
def q_join_composite_key_missdrop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2 + P6 — composite 2-col equi-join (`load.py:57,71,74`) against a
    deliberately filtered dim; inner semantics drop the misses exactly like
    the truthiness filter at `load.py:77` intends. Multi-column key, not the
    reference's collision-prone string concat (SURVEY.md §2.9.4)."""
    c = T(spark, sf_dir, "customer")
    dim = (
        c.filter(F.col("c_nationkey") < 13)
        .select("c_nationkey", "c_mktsegment")
        .distinct()
    )
    return joins.broadcast_dim_join(
        c, dim, on=["c_nationkey", "c_mktsegment"]
    ).select("c_custkey", "c_nationkey", "c_mktsegment")


@register(
    "join_derived_key_elections",
    sql="""
    WITH base AS (
        SELECT DISTINCT CAST(year(o_orderdate) AS BIGINT) AS el_year,
                        o_orderstatus AS el_status
        FROM orders
    ), dim AS (
        SELECT el_year, el_status,
               CAST(dense_rank() OVER (ORDER BY el_year, el_status) AS BIGINT)
                   AS election_id
        FROM base
    )
    SELECT o.o_orderkey, d.election_id
    FROM orders o
    JOIN dim d ON CAST(year(o.o_orderdate) AS BIGINT) = d.el_year
              AND o.o_orderstatus = d.el_status
    """,
    tags=("J3", "F4"),
)
def q_join_derived_key_elections(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J3 — join on a 3-part derived key (`load.py:66,70,73`): the elections
    pattern — build a tiny dim keyed on derived columns (year() extraction =
    F4, `load.py:66`), assign a deterministic surrogate id, join the fact
    back on the derived key. The unpartitioned rank window runs on the
    already-distinct dim (a handful of rows) — not the fact."""
    o = T(spark, sf_dir, "orders")
    base = o.select(
        F.year("o_orderdate").cast("long").alias("el_year"),
        F.col("o_orderstatus").alias("el_status"),
    ).distinct()
    dim = base.withColumn(
        "election_id",
        F.dense_rank().over(Window.orderBy("el_year", "el_status")).cast("long"),
    )
    fact = o.select(
        "o_orderkey",
        F.year("o_orderdate").cast("long").alias("el_year"),
        F.col("o_orderstatus").alias("el_status"),
    )
    return joins.broadcast_dim_join(fact, dim, on=["el_year", "el_status"]).select(
        "o_orderkey", "election_id"
    )


@register(
    "anti_join_absent",
    sql="""
    SELECT o_orderkey, o_custkey
    FROM orders o
    WHERE NOT EXISTS (SELECT 1 FROM lineitem l WHERE l.l_orderkey = o.o_orderkey)
    """,
    tags=("J4", "K2"),
)
def q_anti_join_absent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J4 — insert-if-absent / ON CONFLICT DO NOTHING semantics
    (`load.py:40,63,88`) as a LEFT ANTI join: order keys with no lineitem."""
    o = T(spark, sf_dir, "orders")
    li = T(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("o_orderkey")
    )
    return joins.anti_join_absent(o, li, ["o_orderkey"]).select(
        "o_orderkey", "o_custkey"
    )


@register(
    "sum_status_by_key",
    sql="""
    SELECT l_orderkey,
           SUM(l_quantity) AS total_qty,
           MIN(l_returnflag) AS status
    FROM lineitem GROUP BY l_orderkey
    """,
    # bench slot ceded in r8 (saturated at 0.41 s since r1) to
    # lsh_index_cdf_maintenance — VERDICT r7 item 6 slot hygiene
    tags=("A1",),
)
def q_sum_status_by_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1 — SUM + FIRST by key (`load.py:104-107`, the update_results
    aggregate), with min() as the deterministic stand-in for first()
    (SURVEY.md §2.9.1). Quantities are integral doubles → plain SUM is
    order-insensitive-exact."""
    return agg_ops.sum_and_status_by_key(
        core.spread(T(spark, sf_dir, "lineitem"), "l_orderkey"),
        key="l_orderkey",
        sum_col="l_quantity",
        status_col="l_returnflag",
        sum_alias="total_qty",
        status_alias="status",
    )


@register(
    "join_update_acctbal",
    sql=f"""
    WITH upd AS (
        SELECT o_custkey AS c_custkey,
               {sql_money_sum("o_totalprice", "c_acctbal")}
        FROM orders GROUP BY o_custkey
    )
    SELECT c.c_custkey, c.c_name,
           COALESCE(u.c_acctbal, c.c_acctbal) AS c_acctbal
    FROM customer c LEFT JOIN upd u USING (c_custkey)
    """,
    tags=("J5", "K5"),
)
def q_join_update_acctbal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J5/K5 — keyed UPDATE as left join + coalesce (`load.py:115-125`):
    overwrite customer.c_acctbal with each customer's aggregated order
    total; customers with no orders keep their balance."""
    c = T(spark, sf_dir, "customer").select("c_custkey", "c_name", "c_acctbal")
    upd = (
        T(spark, sf_dir, "orders")
        .groupBy(F.col("o_custkey").alias("c_custkey"))
        .agg(money_sum("o_totalprice", "c_acctbal"))
    )
    return joins.join_update(c, upd, ["c_custkey"], ["c_acctbal"])


@register(
    "update_match_accounting",
    sql="""
    WITH upd AS (SELECT DISTINCT o_custkey AS c_custkey FROM orders),
         tgt AS (SELECT DISTINCT c_custkey FROM customer WHERE c_custkey < 100)
    SELECT COUNT(t.c_custkey) AS matched_keys,
           COUNT(CASE WHEN t.c_custkey IS NULL THEN 1 END) AS unmatched_keys
    FROM upd LEFT JOIN tgt t USING (c_custkey)
    """,
    tags=("J5", "K5"),
)
def q_update_match_accounting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K5 — the reference's rowcount check + warn-on-miss (`load.py:123-124`)
    as a lazy matched/unmatched key count against a restricted target."""
    tgt = T(spark, sf_dir, "customer").filter(F.col("c_custkey") < 100)
    upd = T(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("c_custkey")
    )
    return joins.update_match_accounting(tgt, upd, ["c_custkey"])


@register(
    "election_date_derive",
    sql="""
    SELECT o_orderkey,
           CAST(year(o_orderdate) AS BIGINT) AS election_year,
           CAST(CASE WHEN o_orderkey % 2 = 0 THEN 1 ELSE 2 END AS INT) AS turn,
           strftime(make_date(CAST(year(o_orderdate) AS INT), 10,
                    CASE WHEN o_orderkey % 2 = 0 THEN 2 ELSE 30 END),
                    '%Y-%m-%d') AS election_date
    FROM orders
    """,
    tags=("F2", "F3", "F4"),
)
def q_election_date_derive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F2+F3+F4 — conditional date construction (`load.py:62`): October 2
    for turn 1, October 30 otherwise, exactly as hardcoded by the reference
    (SURVEY.md §2.9.5). Turn is derived from key parity here."""
    o = T(spark, sf_dir, "orders")
    out = o.select(
        "o_orderkey",
        F.year("o_orderdate").cast("long").alias("election_year"),
        F.when(F.col("o_orderkey") % 2 == 0, 1).otherwise(2).cast("int").alias("turn"),
    )
    return out.withColumn(
        "election_date",
        F.date_format(election_date("election_year", "turn"), "yyyy-MM-dd"),
    )


@register(
    "key_synthesis_concat",
    sql="""
    SELECT c_custkey,
           concat_ws('-', CAST(c_nationkey AS VARCHAR), c_mktsegment) AS synth_key
    FROM customer
    """,
    tags=("F1",),
)
def q_key_synthesis_concat(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F1 — string key synthesis (`load.py:57,66,70-71`): provided for
    surface fidelity; real joins use multi-column keys (SURVEY.md §2.9.4)."""
    c = T(spark, sf_dir, "customer")
    return c.select(
        "c_custkey", synth_key("c_nationkey", "c_mktsegment").alias("synth_key")
    )


@register(
    "upsert_merge",
    sql="""
    WITH existing AS (
        SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment
        FROM customer WHERE c_custkey < 100
    ), new AS (
        SELECT c_custkey, upper(c_name) AS c_name, c_nationkey,
               CAST(-1.0 AS DOUBLE) AS c_acctbal, c_mktsegment
        FROM customer WHERE c_custkey >= 50 AND c_custkey < 150
    )
    SELECT * FROM existing WHERE c_custkey NOT IN (SELECT c_custkey FROM new)
    UNION ALL
    SELECT * FROM new
    """,
    tags=("K1",),
)
def q_upsert_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K1 — UPSERT (`ON CONFLICT DO UPDATE`, `load.py:17-22`) as anti-join +
    union: updates win on conflict, survivors pass through."""
    c = T(spark, sf_dir, "customer")
    existing = c.filter(F.col("c_custkey") < 100)
    new = c.filter((F.col("c_custkey") >= 50) & (F.col("c_custkey") < 150)).select(
        "c_custkey",
        F.upper("c_name").alias("c_name"),
        "c_nationkey",
        F.lit(-1.0).cast("double").alias("c_acctbal"),
        "c_mktsegment",
    )
    return sinks.upsert(existing, new, ["c_custkey"])


@register(
    "insert_if_absent",
    sql="""
    WITH existing AS (
        SELECT o_orderkey, o_custkey, o_orderstatus
        FROM orders WHERE o_orderkey < 1000
    ), new AS (
        SELECT o_orderkey, o_custkey, o_orderstatus
        FROM orders WHERE o_orderkey >= 500 AND o_orderkey < 1500
    )
    SELECT * FROM existing
    UNION ALL
    SELECT * FROM new
    WHERE o_orderkey NOT IN (SELECT o_orderkey FROM existing)
    """,
    tags=("K2", "K3", "K4", "J4"),
)
def q_insert_if_absent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K2-K4 — `ON CONFLICT DO NOTHING` (`load.py:37-42,60-65,84-92`):
    append only absent keys."""
    o = T(spark, sf_dir, "orders").select("o_orderkey", "o_custkey", "o_orderstatus")
    existing = o.filter(F.col("o_orderkey") < 1000)
    new = o.filter((F.col("o_orderkey") >= 500) & (F.col("o_orderkey") < 1500))
    return sinks.insert_if_absent(existing, new, ["o_orderkey"])
