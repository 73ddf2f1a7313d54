"""The four reference pipelines recomposed as Spark plans.

Reference: `/root/reference/src/politicamente_etl/etl/load.py` (pandas
row-loops + per-row SQL) and `main.py` (CLI dispatch). Each pipeline here is
a pure DataFrame→DataFrame function: sources in, new sink-table state out.
No driver-side loops, no per-row work — the row-at-a-time `.iterrows()`
probes become broadcast joins, the ON CONFLICT loops become anti-join/union
algebra, and the whole pipeline is one lazy plan Catalyst optimizes
end-to-end.

Semantic fidelity notes (SURVEY.md §2.9):
- keep-first dedup → deterministic min-rank window (§2.9.2)
- dict-probe joins → multi-column equi-joins, not concat keys (§2.9.4)
- truthiness miss-drop → inner-join semantics (§2.9.3)
- `first()` votes status → `min()` (constant per candidate) (§2.9.1)
- election dates Oct 2 / Oct 30 hardcoded → replicated exactly (§2.9.5)
- SQ_CANDIDATO stays string end-to-end (§2.9.6)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from politicamente_etl_spark.functions.scalar import election_date, uuid_col
from politicamente_etl_spark.operators.core import dedup_keep_first, distinct_rows
from politicamente_etl_spark.operators.joins import (
    broadcast_dim_join,
    join_update,
    update_match_accounting,
)
from politicamente_etl_spark.sources.sinks import insert_if_absent, upsert


def seed_parties(cand: DataFrame, parties: DataFrame) -> DataFrame:
    """`seed_parties` (`load.py:10-28`): project party columns, dedup
    keep-first by NR_PARTIDO (`load.py:13`), UPSERT on party_number
    (`load.py:20`). Surrogate party_id: existing ids survive the upsert;
    new parties get ids above the current max via a rank over the (tiny,
    already-deduped) new-party set."""
    new = dedup_keep_first(
        cand.select("NR_PARTIDO", "SG_PARTIDO", "NM_PARTIDO"),
        ["NR_PARTIDO"],
        [F.col("SG_PARTIDO"), F.col("NM_PARTIDO")],
    ).select(
        F.col("NR_PARTIDO").cast("int").alias("party_number"),
        F.col("SG_PARTIDO").alias("initials"),
        F.col("NM_PARTIDO").alias("party_name"),
    )
    # Keep existing surrogate ids for matched parties (UPSERT updates
    # attributes, not keys); mint ids only for genuinely new party_numbers.
    keyed = new.join(
        F.broadcast(parties.select("party_id", "party_number")),
        "party_number",
        "left",
    )
    max_id = parties.agg(F.coalesce(F.max("party_id"), F.lit(0)).alias("m"))
    fresh_rank = Window.orderBy("party_number")  # new parties per batch: tiny
    minted = (
        keyed.filter(F.col("party_id").isNull())
        .crossJoin(F.broadcast(max_id))
        .withColumn("party_id", F.row_number().over(fresh_rank) + F.col("m"))
        .drop("m")
    )
    updated = keyed.filter(F.col("party_id").isNotNull())
    new_full = updated.unionByName(minted).select(
        "party_id", "party_number", "initials", "party_name"
    )
    return upsert(parties, new_full, ["party_number"])


def seed_politicians(cand: DataFrame, politicians: DataFrame) -> DataFrame:
    """`seed_politicians` (`load.py:30-48`): DISTINCT (full_name, nickname)
    (`load.py:33`), uuid4 per new row (`load.py:36`), INSERT … ON CONFLICT
    (full_name, nickname) DO NOTHING (`load.py:40`)."""
    new = distinct_rows(
        cand.select(
            F.col("NM_CANDIDATO").alias("full_name"),
            F.col("NM_URNA_CANDIDATO").alias("nickname"),
        )
    ).withColumn("politician_id", uuid_col())
    return insert_if_absent(
        politicians, new.select(*politicians.columns), ["full_name", "nickname"]
    )


def seed_elections(cand: DataFrame, elections: DataFrame) -> DataFrame:
    """Elections half of `seed_candidacies` (`load.py:59-65`): DISTINCT
    (year, turn, type), derive the hardcoded October date (`load.py:62`),
    insert-if-absent on the natural key. Surrogate election_id mirrors
    seed_parties' minting."""
    new = distinct_rows(
        cand.select(
            F.col("ANO_ELEICAO").cast("int").alias("ano"),
            F.col("NR_TURNO").cast("int").alias("turn"),
            F.col("DS_ELEICAO").alias("election_type"),
        )
    ).withColumn("election_date", election_date("ano", "turn"))
    keyed = new.join(
        F.broadcast(
            elections.select(
                "election_id",
                F.year("election_date").alias("ano"),
                "turn",
                "election_type",
            )
        ),
        ["ano", "turn", "election_type"],
        "left",
    )
    max_id = elections.agg(F.coalesce(F.max("election_id"), F.lit(0)).alias("m"))
    minted = (
        keyed.filter(F.col("election_id").isNull())
        .crossJoin(F.broadcast(max_id))
        .withColumn(
            "election_id",
            F.row_number().over(Window.orderBy("ano", "turn", "election_type"))
            + F.col("m"),
        )
        .drop("m")
    )
    new_full = (
        keyed.filter(F.col("election_id").isNotNull())
        .unionByName(minted)
        .select("election_id", "election_date", "election_type", "turn")
    )
    return insert_if_absent(
        elections, new_full, ["election_date", "election_type", "turn"]
    )


def seed_candidacies(
    cand: DataFrame,
    parties: DataFrame,
    politicians: DataFrame,
    elections: DataFrame,
    candidacies: DataFrame,
) -> DataFrame:
    """`seed_candidacies` (`load.py:50-98`): the reference's three dict
    caches (`load.py:56-57,66`) become three broadcast dim joins; the
    truthiness miss-drop (`load.py:77`) is the inner-join semantics; the
    batched ON CONFLICT DO NOTHING (`load.py:88`) is insert-if-absent on
    (sq_candidate_tse, election_id)."""
    fact = cand.select(
        F.col("NR_PARTIDO").cast("int").alias("party_number"),
        F.col("NM_CANDIDATO").alias("full_name"),
        F.col("NM_URNA_CANDIDATO").alias("nickname"),
        F.col("ANO_ELEICAO").cast("int").alias("ano"),
        F.col("NR_TURNO").cast("int").alias("turn"),
        F.col("DS_ELEICAO").alias("election_type"),
        F.col("DS_CARGO").alias("office"),
        F.col("NR_CANDIDATO").cast("int").alias("electoral_number"),
        F.col("SQ_CANDIDATO").cast("string").alias("sq_candidate_tse"),
    )
    with_party = broadcast_dim_join(
        fact, parties.select("party_id", "party_number"), ["party_number"]
    )
    with_pol = broadcast_dim_join(
        with_party,
        politicians.select("politician_id", "full_name", "nickname"),
        ["full_name", "nickname"],
    )
    with_el = broadcast_dim_join(
        with_pol,
        elections.select(
            "election_id",
            F.year("election_date").alias("ano"),
            "turn",
            "election_type",
        ),
        ["ano", "turn", "election_type"],
    )
    new = with_el.select(
        "politician_id",
        "party_id",
        "election_id",
        "office",
        "electoral_number",
        "sq_candidate_tse",
        F.lit(None).cast("long").alias("total_votes_received"),
        F.lit(None).cast("string").alias("status_resultado"),
    )
    return insert_if_absent(
        candidacies, new, ["sq_candidate_tse", "election_id"]
    )


def update_results(votes: DataFrame, candidacies: DataFrame) -> DataFrame:
    """`update_results` (`load.py:100-132`): SUM votes + status per
    candidate (`load.py:104-107`, min() for determinism §2.9.1), then the
    per-row UPDATE loop (`load.py:115-125`) as one join-update."""
    results = votes.groupBy(
        F.col("SQ_CANDIDATO").cast("string").alias("sq_candidate_tse")
    ).agg(
        F.sum(F.col("QT_VOTOS").cast("long")).alias("total_votes_received"),
        F.min("DS_SIT_TOT_TURNO").alias("status_resultado"),
    )
    return join_update(
        candidacies,
        results,
        ["sq_candidate_tse"],
        ["total_votes_received", "status_resultado"],
    )


def update_results_accounting(votes: DataFrame, candidacies: DataFrame) -> DataFrame:
    """The reference's updated-vs-missing accounting (`load.py:123-124,127`)
    as a lazy one-row matched/unmatched count."""
    upd = votes.select(
        F.col("SQ_CANDIDATO").cast("string").alias("sq_candidate_tse")
    )
    return update_match_accounting(candidacies, upd, ["sq_candidate_tse"])
