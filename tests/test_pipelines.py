"""Pipeline-fidelity tests: the four reference pipelines recomposed on
Spark, run against a tiny TSE-shaped latin-1 fixture (FIXTURES.md §A),
including the SURVEY.md §2.9 trap list as regression cases.
"""

from __future__ import annotations

import contextlib
import datetime
import io
import random
import zipfile
from concurrent.futures import ThreadPoolExecutor

import pandas as pd
import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from politicamente_etl_spark import cli, pipelines, schemas
from politicamente_etl_spark.functions.scalar import election_date
from politicamente_etl_spark.sources import ingest
from politicamente_etl_spark.sources.readers import prune_consolidated, read_tse_csv
from politicamente_etl_spark.testing import spark_jobs

# 11 columns the reference touches; edge rows per FIXTURES.md §A1:
# - party 13 repeated with differing NM_PARTIDO (keep-first dedup)
# - duplicate person rows (DISTINCT)
# - nickname containing '-' (concat-key collision trap §2.9.4)
# - party 99 excluded from the parties dim in the candidacies test (miss-drop)
CAND_HEADER = (
    "ANO_ELEICAO;NR_TURNO;DS_ELEICAO;SQ_CANDIDATO;NR_CANDIDATO;NM_CANDIDATO;"
    "NM_URNA_CANDIDATO;DS_CARGO;NR_PARTIDO;SG_PARTIDO;NM_PARTIDO"
)
CAND_ROWS = [
    "2022;1;Eleições Gerais Estaduais 2022;100000000001;1301;JOÃO DA SILVA;JOÃO;DEPUTADO ESTADUAL;13;PT;Partido dos Trabalhadores",
    "2022;1;Eleições Gerais Estaduais 2022;100000000002;1302;MARIA SOUZA;MARIA-ZÉ;DEPUTADO ESTADUAL;13;PT;PARTIDO DOS TRABALHADORES (GRAFIA 2)",
    "2022;1;Eleições Gerais Estaduais 2022;100000000003;4501;ANTÔNIO LIMA;TONICO;GOVERNADOR;45;PSDB;Partido da Social Democracia Brasileira",
    "2022;2;Eleições Gerais Estaduais 2022;100000000003;4501;ANTÔNIO LIMA;TONICO;GOVERNADOR;45;PSDB;Partido da Social Democracia Brasileira",
    "2022;1;Eleições Gerais Estaduais 2022;100000000004;9901;ZÉ NINGUÉM;ZÉ;DEPUTADO ESTADUAL;99;XX;Partido Fantasma",
    "2022;1;Eleições Gerais Estaduais 2022;100000000001;1301;JOÃO DA SILVA;JOÃO;DEPUTADO ESTADUAL;13;PT;Partido dos Trabalhadores",
]
VOTES_HEADER = "SQ_CANDIDATO;QT_VOTOS;DS_SIT_TOT_TURNO"
VOTES_ROWS = [
    "100000000001;1500;ELEITO",
    "100000000001;2500;ELEITO",
    "100000000003;900;NÃO ELEITO",
    "100000000003;100;NÃO ELEITO",
    "999999999999;7;SUPLENTE",
]


@pytest.fixture(scope="module")
def cand_csv(tmp_path_factory):
    p = tmp_path_factory.mktemp("tse") / "consulta_cand_2022_BRASIL.csv"
    p.write_bytes(("\n".join([CAND_HEADER, *CAND_ROWS]) + "\n").encode("latin-1"))
    return str(p)


@pytest.fixture(scope="module")
def votes_csv(tmp_path_factory):
    p = tmp_path_factory.mktemp("tse_votes") / "votacao_candidato_munzona_2022_SP.csv"
    p.write_bytes(("\n".join([VOTES_HEADER, *VOTES_ROWS]) + "\n").encode("latin-1"))
    return str(p)


@pytest.fixture(scope="module")
def cand(spark, cand_csv):
    return read_tse_csv(spark, cand_csv, schemas.CONSULTA_CAND)


def empty(spark, schema):
    return spark.createDataFrame([], schema)


def test_tse_csv_roundtrip(cand):
    rows = cand.collect()
    assert len(rows) == len(CAND_ROWS)
    names = {r.NM_CANDIDATO for r in rows}
    assert "JOÃO DA SILVA" in names and "ANTÔNIO LIMA" in names  # latin-1 ok
    assert rows[0].SQ_CANDIDATO == "100000000001"  # string end-to-end §2.9.6


def test_prune_consolidated():
    shards = [f"consulta_cand_2022_{uf}.csv" for uf in ("SP", "RJ", "MG")]
    both = shards + ["consulta_cand_2022_BRASIL.csv", "leiame.pdf"]
    assert prune_consolidated(both, "consulta_cand", 2022) == [
        "consulta_cand_2022_BRASIL.csv"
    ]
    assert prune_consolidated(shards + ["leiame.pdf"], "consulta_cand", 2022) == shards


def test_seed_parties_keep_first_and_upsert(spark, cand):
    parties = pipelines.seed_parties(cand, empty(spark, schemas.PARTIES))
    got = {r.party_number: r for r in parties.collect()}
    assert set(got) == {13, 45, 99}
    # keep-first by min tiebreak: party 13 keeps the first-ranked NM/SG pair
    assert got[13].party_name == "PARTIDO DOS TRABALHADORES (GRAFIA 2)"
    assert sorted(r.party_id for r in got.values()) == [1, 2, 3]
    # idempotent: re-seeding the same data changes nothing
    again = pipelines.seed_parties(cand, parties)
    assert sorted(map(tuple, again.collect())) == sorted(map(tuple, parties.collect()))


def test_seed_politicians_distinct_uuid_absent(spark, cand):
    pols = pipelines.seed_politicians(cand, empty(spark, schemas.POLITICIANS))
    rows = pols.collect()
    assert len(rows) == 4  # 6 file rows → 4 distinct (name, nickname) pairs
    assert len({r.politician_id for r in rows}) == 4  # uuids minted, unique
    again = pipelines.seed_politicians(cand, pols)
    # insert-if-absent: same people, same ids (no re-mint on conflict)
    assert sorted(map(tuple, again.collect())) == sorted(map(tuple, rows))


def test_seed_elections_hardcoded_dates(spark, cand):
    els = pipelines.seed_elections(cand, empty(spark, schemas.ELECTIONS))
    by_turn = {r.turn: r for r in els.collect()}
    assert len(by_turn) == 2
    assert by_turn[1].election_date.month == 10 and by_turn[1].election_date.day == 2
    assert by_turn[2].election_date.day == 30  # §2.9.5 exactly as hardcoded


def test_seed_candidacies_join_chain_and_missdrop(spark, cand):
    # parties dim deliberately missing party 99 → its row must drop (P6).
    parties = pipelines.seed_parties(
        cand.filter(F.col("NR_PARTIDO") != 99), empty(spark, schemas.PARTIES)
    )
    pols = pipelines.seed_politicians(cand, empty(spark, schemas.POLITICIANS))
    els = pipelines.seed_elections(cand, empty(spark, schemas.ELECTIONS))
    cands = pipelines.seed_candidacies(
        cand, parties, pols, els, empty(spark, schemas.CANDIDACIES)
    )
    rows = cands.collect()
    # 6 file rows − 1 duplicate (insert-if-absent) − 1 party-99 miss = 4
    assert len(rows) == 4
    assert all(r.sq_candidate_tse != "100000000004" for r in rows)
    assert all(r.total_votes_received is None for r in rows)


def test_update_results_sum_min_and_accounting(spark, cand, votes_csv):
    votes = read_tse_csv(spark, votes_csv, schemas.VOTACAO_MUNZONA)
    parties = pipelines.seed_parties(cand, empty(spark, schemas.PARTIES))
    pols = pipelines.seed_politicians(cand, empty(spark, schemas.POLITICIANS))
    els = pipelines.seed_elections(cand, empty(spark, schemas.ELECTIONS))
    cands = pipelines.seed_candidacies(
        cand, parties, pols, els, empty(spark, schemas.CANDIDACIES)
    )
    updated = pipelines.update_results(votes, cands)
    by_sq = {r.sq_candidate_tse: r for r in updated.collect()}
    assert by_sq["100000000001"].total_votes_received == 4000  # summed zones
    assert by_sq["100000000001"].status_resultado == "ELEITO"
    # both turns of candidate 3 get the same aggregate (key = sq only)
    assert by_sq["100000000003"].total_votes_received == 1000
    # untouched candidacy keeps NULLs (left-join + coalesce semantics)
    assert by_sq["100000000002"].total_votes_received is None
    acct = pipelines.update_results_accounting(votes, cands).collect()[0]
    assert acct.matched_keys == 2 and acct.unmatched_keys == 1  # ghost SQ warned


# --- one-pass minting against the join-algebra reference ----------------
#
# The join-algebra seed_parties / seed_elections the one-pass SQL replaced,
# kept verbatim (with the sink and dedup helpers they called inlined) as
# the reference the SQL must reproduce by column name.


def _keep_first(df, keys, order_by):
    w = Window.partitionBy(*keys).orderBy(*order_by)
    return df.withColumn("__rn", F.row_number().over(w)).filter(F.col("__rn") == 1).drop("__rn")


def _anti(new, existing, keys):
    return new.join(existing.select(*keys), on=keys, how="left_anti")


def reference_seed_parties(cand, parties):
    new = _keep_first(
        cand.select("NR_PARTIDO", "SG_PARTIDO", "NM_PARTIDO"),
        ["NR_PARTIDO"],
        [F.col("SG_PARTIDO"), F.col("NM_PARTIDO")],
    ).select(
        F.col("NR_PARTIDO").cast("int").alias("party_number"),
        F.col("SG_PARTIDO").alias("initials"),
        F.col("NM_PARTIDO").alias("party_name"),
    )
    keyed = new.join(F.broadcast(parties.select("party_id", "party_number")), "party_number", "left")
    max_id = parties.agg(F.coalesce(F.max("party_id"), F.lit(0)).alias("m"))
    minted = (
        keyed.filter(F.col("party_id").isNull())
        .crossJoin(F.broadcast(max_id))
        .withColumn("party_id", F.row_number().over(Window.orderBy("party_number")) + F.col("m"))
        .drop("m")
    )
    new_full = (
        keyed.filter(F.col("party_id").isNotNull())
        .unionByName(minted)
        .select("party_id", "party_number", "initials", "party_name")
    )
    # sinks.upsert
    kept = _anti(parties, new_full.select("party_number"), ["party_number"])
    return kept.unionByName(new_full.select(*parties.columns))


def reference_seed_elections(cand, elections):
    new = (
        cand.select(
            F.col("ANO_ELEICAO").cast("int").alias("ano"),
            F.col("NR_TURNO").cast("int").alias("turn"),
            F.col("DS_ELEICAO").alias("election_type"),
        )
        .distinct()
        .withColumn("election_date", election_date("ano", "turn"))
    )
    keyed = new.join(
        F.broadcast(
            elections.select("election_id", F.year("election_date").alias("ano"), "turn", "election_type")
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
            F.row_number().over(Window.orderBy("ano", "turn", "election_type")) + F.col("m"),
        )
        .drop("m")
    )
    new_full = (
        keyed.filter(F.col("election_id").isNotNull())
        .unionByName(minted)
        .select("election_id", "election_date", "election_type", "turn")
    )
    # sinks.insert_if_absent
    keys = ["election_date", "election_type", "turn"]
    fresh = _anti(new_full, elections, keys)
    fresh = _keep_first(fresh, keys, [F.col(c) for c in fresh.columns])
    return elections.unionByName(fresh.select(*elections.columns))


def by_name(df):
    cols = sorted(df.columns)
    return cols, sorted((tuple(r[c] for c in cols) for r in df.collect()), key=repr)


def local_df(spark, rows, schema):
    """A JVM-local relation (arrow from pandas): a Python-list
    createDataFrame scans through Python workers, several times slower
    on these tiny inputs."""
    return spark.createDataFrame(pd.DataFrame(rows, columns=schema.names, dtype=object), schema)


def _pick(rng, values, p_null=0.2):
    return None if rng.random() < p_null else rng.choice(values)


def cand_rows(rng, n):
    """Candidate rows over few distinct party and election keys, with
    NULL keys and attributes."""
    return [
        (
            _pick(rng, [2018, 2020, 2022], 0.1),
            _pick(rng, [1, 2], 0.1),
            _pick(rng, ["GERAL", "MUNICIPAL"], 0.1),
            str(i),
            i,
            "N",
            "U",
            "C",
            _pick(rng, list(range(10, 17))),
            _pick(rng, ["A", "B", "C"]),
            _pick(rng, ["x", "y"]),
        )
        for i in range(n)
    ]


def party_rows(rng, cand):
    """A parties sink: distinct numbers 8-19 (the batch draws 10-16, so
    `cand` is not needed), NULL-number rows, NULL attributes, distinct
    non-NULL ids."""
    numbers = rng.sample(range(8, 20), rng.randint(0, 6)) + [None] * rng.randint(0, 2)
    ids = rng.sample(range(1, 60), len(numbers))
    return [
        (i, n, _pick(rng, ["P", "Q"]), _pick(rng, ["old", "older"]))
        for i, n in zip(ids, numbers)
    ]


def election_rows(rng, cand):
    """An elections sink: natural keys (year, turn, type), most taken from
    the batch, holding one or two rows dated on or off the October rule
    (an off-rule date still matches its natural key), NULL keys,
    distinct non-NULL ids."""
    out = []
    ids = iter(rng.sample(range(1, 60), 10))
    batch = [r[:3] for r in cand if r[0] is not None]
    for _ in range(rng.randint(1, 5)):
        if batch and rng.random() < 0.7:
            ano, turn, kind = rng.choice(batch)
        else:
            ano = rng.choice([2018, 2020, 2022])
            turn, kind = _pick(rng, [1, 2], 0.1), _pick(rng, ["GERAL", "MUNICIPAL"], 0.1)
        for day in rng.sample([2 if turn == 1 else 30, 10, 20], rng.randint(1, 2)):
            d = None if rng.random() < 0.1 else datetime.date(ano, 10, day)
            out.append((next(ids), d, kind, turn))
    return out


# 12 seeded cases each: 0 = empty batch, 1 = empty sink, the rest random
CASES = range(12)


def cases(spark, sink_rows, sink_schema):
    out = []
    for seed in CASES:
        rng = random.Random(seed)
        n = 0 if seed == 0 else rng.randint(1, 14)
        rows = cand_rows(rng, n)
        cand = local_df(spark, rows, schemas.CONSULTA_CAND)
        sink = local_df(spark, [] if seed == 1 else sink_rows(rng, rows), sink_schema)
        out.append((cand, sink))
    return out


def mismatches(spark, pipeline, reference, sink_rows, sink_schema):
    """Seeds whose pipeline and reference rows differ by column name. Each
    case is a few tiny, latency-bound Spark jobs; four threads overlap
    their scheduling."""

    def differs(seed_case):
        seed, (cand, sink) = seed_case
        return seed if by_name(pipeline(cand, sink)) != by_name(reference(cand, sink)) else None

    with ThreadPoolExecutor(4) as pool:
        found = pool.map(differs, enumerate(cases(spark, sink_rows, sink_schema)))
        return [seed for seed in found if seed is not None]


def test_seed_parties_matches_reference(spark):
    assert mismatches(spark, pipelines.seed_parties, reference_seed_parties, party_rows, schemas.PARTIES) == []


def test_seed_elections_matches_reference(spark):
    assert mismatches(spark, pipelines.seed_elections, reference_seed_elections, election_rows, schemas.ELECTIONS) == []


def _tse_zip(data_dir, year):
    data_dir.mkdir(exist_ok=True)
    with zipfile.ZipFile(data_dir / f"consulta_cand_{year}.zip", "w") as z:
        z.writestr(
            f"consulta_cand_{year}_BRASIL.csv",
            ("\n".join([CAND_HEADER, *CAND_ROWS]) + "\n").encode("latin-1"),
        )


def test_cli_seed_parties_jobs_and_plan(spark, tmp_path):
    """A warm `seed_parties` command runs at most 3 Spark jobs (the
    join-algebra plan ran 12): the dedup shuffle, the single-partition
    minting pass and the write. Its plan has exactly those two
    exchanges."""
    _tse_zip(tmp_path / "data", 2022)
    wh = str(tmp_path / "wh")
    argv = ["seed_parties", "--year", "2022", "--data-dir", str(tmp_path / "data"), "--warehouse", wh]
    with contextlib.redirect_stdout(io.StringIO()):
        cli.main(argv, spark=spark)
        _, jobs = spark_jobs(spark, "probe:cli:seed_parties", lambda: cli.main(argv, spark=spark))
    assert jobs <= 3
    parties = cli.read_sink(spark, wh, "parties")
    assert sorted((r.party_number, r.party_id) for r in parties.collect()) == [(13, 1), (45, 2), (99, 3)]

    cand = ingest.get_tse_data(
        spark, 2022, "http://unused", "consulta_cand", schemas.CONSULTA_CAND, data_dir=str(tmp_path / "data")
    )
    df = pipelines.seed_parties(cand, parties)
    df.collect()
    final = df._jdf.queryExecution().executedPlan().toString().split("== Initial Plan ==")[0]
    assert final.count("Exchange SinglePartition") == 1
    assert final.count("Exchange hashpartitioning") == 1
    assert final.count("Exchange") == 2
