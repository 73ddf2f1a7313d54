"""On-demand loading of the query catalog: a lookup imports only the
family module that owns the name, and nothing a client can observe
(names, order, entries, errors) depends on which modules were imported
first. Each check runs in a fresh interpreter, since the process running
the suite has usually imported every module already; none starts Spark.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import textwrap

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = "politicamente_etl_spark.plans"

PRELUDE = f"""
import json, sys
from politicamente_etl_spark.plans import catalog
from politicamente_etl_spark.plans.catalog import CATALOG, FAMILY_MODULES

def loaded():
    return sorted(m for m in sys.modules if m.startswith({PKG!r}))

def owned_by(mod):
    return next(n for n, m in CATALOG._index().items() if m == {PKG!r} + "." + mod)
"""


def fresh(code: str):
    """Run ``code`` after PRELUDE in a new interpreter; return the JSON it
    prints on its last line."""
    out = subprocess.run(
        [sys.executable, "-c", PRELUDE + textwrap.dedent(code)],
        cwd=ROOT,
        capture_output=True,
        text=True,
        timeout=120,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    return json.loads(out.stdout.strip().splitlines()[-1])


def test_lookup_imports_only_the_owning_module():
    got = fresh(
        """
        CATALOG["cosine_topk"]
        print(json.dumps(loaded()))
        """
    )
    assert got == [PKG, f"{PKG}.catalog", f"{PKG}.extended"]


def test_iteration_order_does_not_depend_on_first_lookup():
    iterate_first = fresh("print(json.dumps(list(CATALOG)))")
    assert len(iterate_first) == 489
    for mod in ("extended_r14b", "extended_r11"):
        got = fresh(
            f"""
            CATALOG[owned_by({mod!r})]
            print(json.dumps(list(CATALOG)))
            """
        )
        assert got == iterate_first, mod


def test_every_entry_comes_from_the_module_the_index_names():
    got = fresh(
        """
        index = CATALOG._index()
        print(json.dumps({
            "mismatched": [
                n for n, q in CATALOG.items()
                if q.fn.__module__ != index.get(n, catalog.__name__)
            ],
            "indexed": len(index),
            "own": sum(q.fn.__module__ == catalog.__name__ for q in CATALOG.values()),
            "total": len(CATALOG),
        }))
        """
    )
    assert got["mismatched"] == []
    assert got["indexed"] + got["own"] == got["total"] == 489


def test_unknown_name_raises_key_error_after_full_load():
    got = fresh(
        """
        try:
            CATALOG["no_such_query"]
            raised = False
        except KeyError:
            raised = True
        print(json.dumps({
            "raised": raised,
            "in": "no_such_query" in CATALOG,
            "missing": [m for m in FAMILY_MODULES if f"{catalog.__package__}.{m}" not in sys.modules],
        }))
        """
    )
    assert got == {"raised": True, "in": False, "missing": []}


def test_register_rejects_a_name_owned_by_an_unloaded_module():
    got = fresh(
        """
        try:
            catalog.register("cosine_topk", sql=None)(lambda spark, sf_dir: None)
            err = None
        except ValueError as e:
            err = str(e)
        print(json.dumps({"err": err, "loaded": loaded()}))
        """
    )
    assert got["err"] is not None and f"{PKG}.extended" in got["err"]
    assert got["loaded"] == [PKG, f"{PKG}.catalog"]
