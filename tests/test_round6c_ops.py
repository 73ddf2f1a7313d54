"""Round-6 batch 3 operator tests: k-core peeling, BPE pair counting,
source KL drift, txlog schema evolution. Oracle parity is covered by
driver_sim.py (name filters); these pin semantics on constructed inputs
(known peel sequence, overlapping-pair counting, KL sign/zero
behavior, null-fill on evolved reads)."""

from __future__ import annotations

from pyspark.sql import functions as F

from politicamente_etl_spark.operators.graph import kcore_peel
from politicamente_etl_spark.operators.text import bpe_pair_stats, source_unigram_kl


def test_kcore_peels_tail_keeps_clique(spark):
    # A 4-clique with a pendant path: rounds strip the path one node per
    # round (its endpoint always has degree 1 < 2), the clique survives.
    clique = [(a, b) for a in range(4) for b in range(4) if a < b]
    path = [(3, 10), (10, 11), (11, 12)]
    e = spark.createDataFrame(clique + path, ["src", "dst"])
    out = {r["round"]: r for r in kcore_peel(e, k=2, rounds=3).collect()}
    assert (out[0]["n_nodes"], out[0]["n_edges"]) == (7, 9)
    assert (out[1]["n_nodes"], out[1]["n_edges"]) == (6, 8)  # 12 dropped
    assert (out[2]["n_nodes"], out[2]["n_edges"]) == (5, 7)  # 11 dropped
    assert (out[3]["n_nodes"], out[3]["n_edges"]) == (4, 6)  # 10 dropped
    # clique alone is the 2-core: a 4th round would be a fixpoint
    out4 = {r["round"]: r for r in kcore_peel(e, k=2, rounds=4).collect()}
    assert (out4[4]["n_nodes"], out4[4]["n_edges"]) == (4, 6)


def test_kcore_simultaneous_drop_can_empty_graph(spark):
    # A pure path under k=2: EVERY interior node keeps degree 2 only via
    # endpoints; simultaneous peeling removes ends each round.
    path = [(i, i + 1) for i in range(5)]
    e = spark.createDataFrame(path, ["src", "dst"])
    out = {r["round"]: r for r in kcore_peel(e, k=2, rounds=3).collect()}
    assert out[0]["n_edges"] == 5
    assert out[3]["n_edges"] == 0 and out[3]["n_nodes"] == 0


def test_kcore_dedups_and_orients_input(spark):
    e = spark.createDataFrame(
        [(1, 2), (2, 1), (1, 2), (3, 3)], ["src", "dst"]
    )
    out = {r["round"]: r for r in kcore_peel(e, k=1, rounds=1).collect()}
    assert (out[0]["n_nodes"], out[0]["n_edges"]) == (2, 1)  # self-loop gone


def test_bpe_overlapping_pairs_count_per_occurrence(spark):
    df = spark.createDataFrame([("aaa aaa ab",), ("aaa x",)], ["text"])
    out = {r["pair"]: r for r in bpe_pair_stats(df, top_k=10).collect()}
    # 'aaa' wf=3 contributes ('aa' twice) per occurrence -> 6; 'ab' wf=1.
    assert out["aa"]["n_occurrences"] == 6
    assert out["aa"]["n_vocab_positions"] == 2  # two positions in 'aaa'
    assert out["ab"]["n_occurrences"] == 1
    # single-char word 'x' contributes nothing
    assert "x" not in out and "xa" not in out


def test_source_kl_zero_for_identical_sources(spark):
    rows = [("a", "x y z"), ("b", "x y z")]
    df = spark.createDataFrame(rows, ["source", "text"])
    out = {r["source"]: r for r in source_unigram_kl(df).collect()}
    # both sources have the exact corpus distribution -> KL contributions
    # are ln(1/2..)-style identical terms that cancel to exactly 0
    assert out["a"]["kl_micro_tokens"] == 0
    assert out["b"]["kl_micro_tokens"] == 0
    assert out["a"]["n_tokens"] == 3 and out["a"]["n_terms"] == 3


def test_source_kl_positive_for_divergent_source(spark):
    rows = [("a", "x x x x"), ("b", "y y y y")]
    df = spark.createDataFrame(rows, ["source", "text"])
    out = {r["source"]: r for r in source_unigram_kl(df).collect()}
    # each source is maximally divergent from the 50/50 mixture:
    # KL = ln 2 per token -> 4 * 693147 micro-nats
    assert out["a"]["kl_micro_tokens"] == 4 * 693147
    assert out["b"]["kl_micro_tokens"] == 4 * 693147


def test_txlog_schema_evolution_null_fills_old_rows(spark, tmp_path):
    from politicamente_etl_spark.sources.txlog import TxLogTable

    base = spark.createDataFrame([(1, "a"), (2, "b")], ["k", "name"])
    widened = spark.createDataFrame([(3, "c", 7.5)], ["k", "name", "score"])
    t = TxLogTable.create(spark, str(tmp_path / "t"), base)
    t.append(widened, merge_schema=True)
    snap = t.snapshot().orderBy("k").collect()
    assert [r["k"] for r in snap] == [1, 2, 3]
    assert [r["score"] for r in snap] == [None, None, 7.5]
    # narrow append STILL works after evolution (null-filled on read)
    t.append(
        spark.createDataFrame([(4, "d")], ["k", "name"]), merge_schema=True
    )
    snap2 = t.snapshot().orderBy("k").collect()
    assert [r["score"] for r in snap2] == [None, None, 7.5, None]
