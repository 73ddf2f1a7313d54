"""The four reference pipelines recomposed as Spark plans.

Reference: `/root/reference/src/politicamente_etl/etl/load.py` (pandas
row-loops + per-row SQL) and `main.py` (CLI dispatch). Each pipeline here is
a pure DataFrame→DataFrame function: sources in, new sink-table state out.
No driver-side loops, no per-row work — the row-at-a-time `.iterrows()`
probes become broadcast joins, the ON CONFLICT loops become anti-join/union
algebra or, where a surrogate id is minted (parties, elections), one window
pass over the batch and the dimension, and the whole pipeline is one lazy
plan Catalyst optimizes end-to-end.

Semantic fidelity notes (SURVEY.md §2.9):
- keep-first dedup → deterministic min-rank window (§2.9.2)
- dict-probe joins → multi-column equi-joins, not concat keys (§2.9.4)
- truthiness miss-drop → inner-join semantics (§2.9.3)
- `first()` votes status → `min()` (constant per candidate) (§2.9.1)
- election dates Oct 2 / Oct 30 hardcoded → replicated exactly (§2.9.5)
- SQ_CANDIDATO stays string end-to-end (§2.9.6)
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from politicamente_etl_spark.functions.scalar import election_date, uuid_col
from politicamente_etl_spark.operators.core import distinct_rows
from politicamente_etl_spark.operators.joins import (
    broadcast_dim_join,
    join_update,
    update_match_accounting,
)
from politicamente_etl_spark.sources.sinks import insert_if_absent


# seed_parties as one plan: the keep-first dedup (`load.py:13`) is the only
# shuffle on the fact-sized input; the deduped parties then meet the
# existing dimension in ONE window pass over a single partition (both
# sides are bounded by the number of parties), which finds each number's
# old id, the old rows a new row supersedes and the minted ids. Window
# ORDER BY is ASC NULLS FIRST; after the dedup a number holds at most one
# new row, so a RANGE peer group is one number and the running count at a
# minted row is its rank among the minted rows.
SEED_PARTIES_SQL = """
WITH new AS (
  SELECT NR_PARTIDO, SG_PARTIDO, NM_PARTIDO
  FROM (
    SELECT NR_PARTIDO, SG_PARTIDO, NM_PARTIDO,
           row_number() OVER (PARTITION BY NR_PARTIDO
                              ORDER BY SG_PARTIDO, NM_PARTIDO) AS rn
    FROM {cand}
  )
  WHERE rn = 1
),
tagged AS (
  SELECT party_id, party_number, initials, party_name, false AS is_new
  FROM {parties}
  UNION ALL
  SELECT CAST(NULL AS BIGINT), CAST(NR_PARTIDO AS INT), SG_PARTIDO,
         NM_PARTIDO, true
  FROM new
),
peers AS (
  SELECT *,
         coalesce(max(party_id) OVER (), 0) AS max_id,
         max(IF(is_new OR party_number IS NULL, NULL, party_id)) OVER num
           AS old_id,
         bool_or(is_new) OVER num AS has_new
  FROM tagged
  WINDOW num AS (ORDER BY party_number
                 RANGE BETWEEN CURRENT ROW AND CURRENT ROW)
),
minted AS (
  SELECT *, count_if(is_new AND old_id IS NULL) OVER (ORDER BY party_number)
              AS k
  FROM peers
)
SELECT party_number,
       CASE WHEN NOT is_new THEN party_id
            WHEN old_id IS NOT NULL THEN old_id
            ELSE max_id + k END AS party_id,
       initials, party_name
FROM minted
WHERE is_new OR party_number IS NULL OR NOT has_new
"""


def seed_parties(cand: DataFrame, parties: DataFrame) -> DataFrame:
    """`seed_parties` (`load.py:10-28`): project party columns, dedup
    keep-first by NR_PARTIDO (`load.py:13`; first by SG_PARTIDO then
    NM_PARTIDO, ascending, nulls first), UPSERT on party_number
    (`load.py:20`), as the one plan `SEED_PARTIES_SQL`.

    - A matched number keeps its old surrogate party_id and takes the
      batch's attributes (UPSERT updates attributes, not keys).
    - An unmatched number gets an id above the current max, in
      party_number order (ASC NULLS FIRST).
    - A NULL number never matches: old NULL-number rows survive, and a
      NULL-number batch row is minted on every run.
    - Parties absent from the batch survive unchanged.

    Columns: party_number, party_id, initials, party_name (sinks read
    them by name)."""
    return cand.sparkSession.sql(SEED_PARTIES_SQL, cand=cand, parties=parties)


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


# seed_elections' minting, the shape of SEED_PARTIES_SQL: existing rows and
# the distinct batch meet in one single-partition window pass. A batch row
# matches the old rows of its (year, turn, type) and reuses their smallest
# id; it is dropped when an old row has its exact (date, type, turn) key
# (DO NOTHING); unmatched rows are minted above the max in (year, turn,
# type) order. NULL keys never match. The batch is distinct on (year,
# turn, type), so a peer group holds at most one batch row.
SEED_ELECTIONS_SQL = """
WITH tagged AS (
  SELECT election_id, election_date, election_type, turn,
         year(election_date) AS ano, false AS is_new
  FROM {elections}
  UNION ALL
  SELECT CAST(NULL AS BIGINT), election_date, election_type, turn, ano, true
  FROM {new}
),
peers AS (
  SELECT *,
         coalesce(max(election_id) OVER (), 0) AS max_id,
         min(IF(is_new OR ano IS NULL OR turn IS NULL
                OR election_type IS NULL, NULL, election_id)) OVER by_natural
           AS old_id,
         bool_or(NOT is_new AND election_date IS NOT NULL
                 AND election_type IS NOT NULL AND turn IS NOT NULL) OVER
           by_key AS key_exists
  FROM tagged
  WINDOW by_natural AS (ORDER BY ano, turn, election_type
                     RANGE BETWEEN CURRENT ROW AND CURRENT ROW),
         by_key AS (ORDER BY election_date, election_type, turn
                 RANGE BETWEEN CURRENT ROW AND CURRENT ROW)
),
minted AS (
  SELECT *, count_if(is_new AND old_id IS NULL)
              OVER (ORDER BY ano, turn, election_type) AS k
  FROM peers
)
SELECT CASE WHEN NOT is_new THEN election_id
            WHEN old_id IS NOT NULL THEN old_id
            ELSE max_id + k END AS election_id,
       election_date, election_type, turn
FROM minted
WHERE NOT (is_new AND key_exists)
"""


def seed_elections(cand: DataFrame, elections: DataFrame) -> DataFrame:
    """Elections half of `seed_candidacies` (`load.py:59-65`): DISTINCT
    (year, turn, type), derive the hardcoded October date (`load.py:62`),
    insert-if-absent on (election_date, election_type, turn): existing
    elections win, as `DO NOTHING` does. Surrogate election_id is minted
    in `SEED_ELECTIONS_SQL`'s one pass, like seed_parties'. Existing ids
    are assumed non-NULL (every pipeline mints them)."""
    new = distinct_rows(
        cand.select(
            F.col("ANO_ELEICAO").cast("int").alias("ano"),
            F.col("NR_TURNO").cast("int").alias("turn"),
            F.col("DS_ELEICAO").alias("election_type"),
        )
    ).withColumn("election_date", election_date("ano", "turn"))
    return cand.sparkSession.sql(SEED_ELECTIONS_SQL, new=new, elections=elections)


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
