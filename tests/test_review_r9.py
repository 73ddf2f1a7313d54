"""Round-9 seventh review pass: regression tests for the independent
post-closing review findings over the round's storage + codec work.

1. _widen_types: nested struct evolution (field add / reorder) and
   decimal widening are legitimate merges, not CommitConflicts.
2. fold_renames: a restore rolling back renames of SEVERAL columns
   records a declared-name transition PER LINEAGE (the old single
   global `latest` dropped all but one, mis-composing later restores).
3. clone_shallow of an empty source commits an empty clone instead of
   crashing on the absent pinned version.
4. parse_jpeg accepts T.81 B.1.1.2 fill bytes (0xFF padding before
   markers) emitted by other conformant encoders.
5. _infer_declared_version: a user-supplied stream schema maps to the
   version range whose declared names match, not blindly to head.
6. _rebase_conflict_since: the incremental cleared-prefix cache still
   detects conflicts committed after the cache was primed.
"""

from __future__ import annotations

import json
import os
import tempfile

import pytest

from politicamente_etl_spark.sources.txlog import (
    TxLogTable,
    _widen_types,
    fold_renames,
)


# --- 1. widening merge ---------------------------------------------------


def test_widen_struct_field_addition():
    a = {
        "type": "struct",
        "fields": [{"name": "a", "type": "integer", "nullable": False}],
    }
    b = {
        "type": "struct",
        "fields": [
            {"name": "a", "type": "long", "nullable": False},
            {"name": "b", "type": "string", "nullable": False},
        ],
    }
    got = _widen_types(a, b)
    assert [f["name"] for f in got["fields"]] == ["a", "b"]
    assert got["fields"][0]["type"] == "long"
    # a field absent on one side must read NULL from that side's files
    assert got["fields"][1]["nullable"] is True


def test_widen_struct_field_reorder():
    fa = [
        {"name": "x", "type": "integer", "nullable": True},
        {"name": "y", "type": "string", "nullable": True},
    ]
    a = {"type": "struct", "fields": fa}
    b = {"type": "struct", "fields": list(reversed(fa))}
    got = _widen_types(a, b)
    # a-side (table) order wins
    assert [f["name"] for f in got["fields"]] == ["x", "y"]


def test_widen_decimal_precision_and_scale():
    assert _widen_types("decimal(10,2)", "decimal(12,2)") == "decimal(12,2)"
    assert _widen_types("decimal(10,2)", "decimal(8,4)") == "decimal(12,4)"
    assert _widen_types("decimal(38,0)", "decimal(38,10)") == "decimal(38,10)"
    # non-widenable scalar pairs still conflict
    assert _widen_types("decimal(10,2)", "string") is None
    assert _widen_types("integer", "string") is None


def test_append_evolves_nested_struct(spark):
    with tempfile.TemporaryDirectory() as d:
        path = os.path.join(d, "t")
        t = TxLogTable.create(
            spark,
            path,
            spark.sql("SELECT 1 AS k, named_struct('a', 1) AS meta"),
        )
        t.append(
            spark.sql(
                "SELECT 2 AS k, named_struct('a', 2, 'b', 'x') AS meta"
            ),
            merge_schema=True,
        )
        rows = {r["k"]: r for r in t.scan().collect()}
        assert rows[2]["meta"]["b"] == "x"
        assert rows[1]["meta"]["a"] == 1
        # the pre-evolution file reads NULL for the added nested field
        assert rows[1]["meta"]["b"] is None


# --- 2. per-lineage restore transitions ---------------------------------


def _fold_stream(manifests):
    trans: list = []
    out = fold_renames(
        manifests, synthesize_restore_inverses=True, transitions=trans
    )
    return out, trans


def test_restore_records_transition_per_lineage():
    ms = [
        {"version": 1},
        {"version": 2, "renames": {"a": "b"}},
        {"version": 3, "renames": {"c": "d"}},
        {"version": 4, "op": "restore", "restored_from": 1},
    ]
    out, trans = _fold_stream(ms)
    # BOTH lineages get their inverse alias AND their transition
    assert (4, 4, "b", "a") in out and (4, 4, "d", "c") in out
    assert (4, "b", "a") in trans and (4, "d", "c") in trans


def test_second_restore_composes_through_both_lineages():
    ms = [
        {"version": 1},
        {"version": 2, "renames": {"a": "b"}},
        {"version": 3, "renames": {"c": "d"}},
        {"version": 4, "op": "restore", "restored_from": 1},
        # restore to v2's state: declared names are (b, c)
        {"version": 5, "op": "restore", "restored_from": 2},
    ]
    out, _ = _fold_stream(ms)
    # files written with name 'a' in (v4, v5) must relabel to the
    # restored declared name 'b' — this mapping needs the (4, b, a)
    # transition the old global-latest rule dropped
    assert (5, 5, "a", "b") in out
    # the d lineage unwinds to c at v4; v5 re-establishes c→d? No:
    # restoring to v2 keeps c (the v3 rename postdates the target), so
    # no d alias may survive past the v5 barrier with origin > 2
    assert all(not (o > 2 and new == "d") for o, _c, _old, new in out)


def test_single_lineage_chain_restore_unchanged():
    ms = [
        {"version": 1},
        {"version": 2, "renames": {"a": "b"}},
        {"version": 3, "renames": {"b": "c"}},
        {"version": 4, "op": "restore", "restored_from": 1},
    ]
    out, trans = _fold_stream(ms)
    assert (4, 4, "b", "a") in out and (4, 4, "c", "a") in out
    # only the pre-restore DECLARED name records a transition; the b
    # vintage is an alias, not a regime
    assert (4, "c", "a") in trans and (4, "b", "a") not in trans


# --- 3. empty-source clone ----------------------------------------------


def test_clone_shallow_empty_source(spark):
    with tempfile.TemporaryDirectory() as d:
        src = os.path.join(d, "src")
        os.makedirs(src)
        t = TxLogTable(spark, src)
        assert t.latest_version() == 0
        c = t.clone_shallow(os.path.join(d, "dst"))
        assert c.latest_version() == 1
        assert c._state().files == []


# --- 4. JPEG fill bytes -------------------------------------------------


def test_parse_jpeg_accepts_fill_bytes():
    from politicamente_etl_spark.operators import multimodal as mm

    data = mm.encode_jpeg(9, 7, 33)
    # inject 0xFF fill bytes before the SOF0 marker (T.81 B.1.1.2)
    idx = data.find(b"\xff\xc0")
    padded = data[:idx] + b"\xff\xff\xff" + data[idx:]
    got = mm.parse_jpeg(padded)
    assert got == {
        "width": 9,
        "height": 7,
        "n_channels": 1,
        "pixel_sum": 9 * 7 * 33,
    }


# --- 5. declared-version inference --------------------------------------


def test_infer_declared_version_from_user_schema():
    from politicamente_etl_spark.sources.txlogstream import (
        _infer_declared_version,
    )

    with tempfile.TemporaryDirectory() as d:
        log = os.path.join(d, "_txlog")
        os.makedirs(log)
        sch_a = {
            "type": "struct",
            "fields": [{"name": "a", "type": "integer", "nullable": True}],
        }
        sch_b = {
            "type": "struct",
            "fields": [{"name": "b", "type": "integer", "nullable": True}],
        }
        for v, m in (
            (1, {"version": 1, "op": "append", "schema": sch_a}),
            (2, {"version": 2, "op": "append", "added": []}),
            (
                3,
                {
                    "version": 3,
                    "op": "rename_column",
                    "renames": {"a": "b"},
                    "schema": sch_b,
                },
            ),
            (4, {"version": 4, "op": "append", "added": []}),
        ):
            with open(os.path.join(log, f"{v:020d}.json"), "w") as fh:
                json.dump(m, fh)
        # pre-rename user schema pins the pre-rename range's top
        assert _infer_declared_version(d, ["a"]) == 2
        # post-rename names (and unknown names) resolve to head
        assert _infer_declared_version(d, ["b"]) == 4
        assert _infer_declared_version(d, ["z"]) == 4


# --- 6. rebase-conflict cache -------------------------------------------


def test_rebase_cache_still_detects_new_conflicts(spark):
    with tempfile.TemporaryDirectory() as d:
        path = os.path.join(d, "t")
        t = TxLogTable.create(spark, path, spark.sql("SELECT 1 AS k, 2 AS v"))
        base = t.latest_version()
        t.append(spark.sql("SELECT 2 AS k, 3 AS v"))
        assert t._rebase_conflict_since(base) is None
        # cache primed; a rename landing afterwards must still conflict
        assert t._rebase_conflict_since(base) is None
        t.rename_column("v", "w")
        conflict = t._rebase_conflict_since(base)
        assert conflict is not None and "rename" in conflict


def test_rebase_cache_is_per_base(spark):
    with tempfile.TemporaryDirectory() as d:
        path = os.path.join(d, "t")
        t = TxLogTable.create(spark, path, spark.sql("SELECT 1 AS k, 2 AS v"))
        t.rename_column("v", "w")
        after = t.latest_version()
        assert t._rebase_conflict_since(after) is None
        # a different (older) base must not reuse the newer base's clear
        assert t._rebase_conflict_since(1) is not None
