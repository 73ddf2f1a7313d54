"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs each
``queries()[name]`` at sf=0.01 and compares it against the matching
``oracle_sql()[name]`` via DuckDB (row-count + schema + order-insensitive
value-hash → CORRECTNESS_r{N}.json).

All real logic lives in ``politicamente_etl_spark``; this module only
adapts the query catalog (``plans/catalog.CATALOG``, whose entries live in
plans/catalog.py and the family modules it names in ``FAMILY_MODULES``) to
the driver's three-function surface. ``queries()`` and ``oracle_sql()``
iterate the catalog, which imports every family module.

Driver-window rotation: the driver emits correctness rows for exactly the
first 50 dict entries, so ``queries()`` orders by verification priority.
The CORRECTNESS_r{N}.json files beside this module are the only record of
which names passed (``verified``); nothing is kept by hand except
``REFACTORED_THIS_ROUND``, the verified queries whose operator code
changed this round (a regression there must surface as a driver row, not
only in local parity tests). Every name is still covered each round by
tests/driver_sim.py + tests/test_oracle_parity.py.
"""

from __future__ import annotations

import json
import os
import re
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from politicamente_etl_spark.plans.catalog import CATALOG

_HERE = os.path.dirname(os.path.abspath(__file__))


def verified(root: str = _HERE) -> dict[str, tuple[int, int]]:
    """Names whose latest driver row passed → (first passing round,
    latest round), read from the CORRECTNESS_r{N}.json files in ``root``
    in integer round order (r10 after r9). A row passes on
    ``hash_match``, or on ``err == "no_oracle"`` for a catalog entry that
    has no oracle SQL by design (rows-only)."""
    rounds = sorted(
        (int(m.group(1)), os.path.join(root, f))
        for f in os.listdir(root)
        if (m := re.fullmatch(r"CORRECTNESS_r(\d+)\.json", f))
    )
    first: dict[str, int] = {}
    latest: dict[str, tuple[int, bool]] = {}
    for rnd, path in rounds:
        with open(path) as fh:
            rows = json.load(fh)
        for name, row in rows.items():
            ok = row.get("hash_match") is True or (
                row.get("err") == "no_oracle"
                and name in CATALOG
                and CATALOG[name].sql is None
            )
            if ok:
                first.setdefault(name, rnd)
            latest[name] = (rnd, ok)
    return {n: (first[n], rnd) for n, (rnd, ok) in latest.items() if ok}


# Verified queries whose operator implementation changed THIS round —
# parked status is 'verified AND untouched since'; these stay in the front
# window one more round so a refactor regression gets a driver row
# (ADVICE.md r2, last item). Round-9 refactors (sources/txlog.py +
# sources/txlogstream.py — ADVICE r8 fixes: table-root-relative DV
# addressing, rename/generated non-commutation guards in the rebase
# loops, explicit rename-chain column mapping in the stream reader,
# vacuum reclaim of committed-but-still-leased sidecars; plus the
# pluggable commit-coordinator seam under _try_commit): the verified
# queries riding the changed read/commit paths re-enter the window
# (VERDICT r8 item 8 names merge/cdf/restore explicitly).
REFACTORED_THIS_ROUND: frozenset[str] = frozenset(
    {
        # Round 10 (optimization): every query riding operator code the
        # r9/r10 optimization sessions reshaped must get a driver row
        # (entry-contract rule b; VERDICT r9 item 3 names the r9 set
        # explicitly — their r9 refactors shipped after the window was
        # fixed, so their parity rested on local sims only).
        #
        # dedup.py (_hashed_posting_list / _signature_table /
        # minhash_near_dup_pairs barrier removal + has_shingle prefilter)
        "minhash_near_dup_pairs",
        "ngram_jaccard_pairs",
        "shingle_containment_pairs",
        "near_dup_edit_distance",
        "cross_source_dup_matrix",
        "minhash_calibration_report",
        "jaccard_pairs_prefix_filter",
        "near_dup_clusters",
        "dedup_cluster_report",
        "dedup_method_pr",
        "frame_hash_dedup_pairs",
        "canonical_keep_best_report",
        "minhash_incremental_pairs",
        # text.py (boilerplate barrier removal, winnowing explode_outer)
        "boilerplate_shingle_score",
        "winnowing_fingerprints",
        "winnowing_overlap_pairs",
        # sim.py (semdedup lazy checkpoint)
        "semdedup_keep_list",
        # graph.py (cooccurrence fan-out absorption; r9 pagerank rewrite)
        "copurchase_triangles",
        "copurchase_communities",
        "copurchase_pagerank",
        "personalized_pagerank_parts",
        "kcore_peeling_rounds",
        "sssp_weighted_histogram",
        "copurchase_walk_corpus",
        "copurchase_skipgram_pairs",
        # plan-level spread changes (r10) + r9 spread additions that
        # never got a driver row after their refactor
        "chunk_dedup_report",
        "template_chunks_cross_source",
        "bloom_prefiltered_join",
        "flagship_revenue_rollup",
        "cosine_topk",
        "bm25_topk_docs",
        "hashed_classifier_gate",
        "pq_code_assignment",
        "mmr_diverse_topk",
        "lsh_index_cdf_maintenance",
        "streaming_alert_ttl",
        # txlog.py (r10 snapshot commit-grouping fix for clone relpaths;
        # r9 merge materialization)
        "txlog_shallow_clone_proof",
        "txlog_deletion_vector_report",
        "txlog_merge_report",
    }
)


def _ordered_names() -> list[str]:
    """One stable sort over CATALOG (ties keep catalog order):
    REFACTORED_THIS_ROUND first; then never-verified names with oracle
    SQL; then never-verified rows-only names (a rows-only driver row is a
    weak check, so it must not take an oracle-bearing slot while the
    parity queue drains); then verified names, longest-unseen (oldest
    latest green round) first."""
    green = verified()

    def key(name: str) -> tuple[int, int]:
        if name in REFACTORED_THIS_ROUND:
            return (0, 0)
        if name not in green:
            return (1 if CATALOG[name].sql is not None else 2, 0)
        return (3, green[name][1])

    return sorted(CATALOG, key=key)


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query (SURVEY.md §7.1) on /root/testdata/sf0.001."""
    return CATALOG["flagship_revenue_rollup"].fn(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2 / §2.10."""
    return {name: CATALOG[name].fn for name in _ordered_names()}


def oracle_sql() -> dict[str, str]:
    """DuckDB-equivalent SQL per query; entries with no SQL (approximate /
    streaming-stateful ops) are omitted → driver runs rows-only checks."""
    return {
        name: CATALOG[name].sql
        for name in _ordered_names()
        if CATALOG[name].sql is not None
    }
