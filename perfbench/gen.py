"""Seeded input generator for the benchmark.

Everything the workloads read is made here from one integer seed; the
same seed always gives byte-identical inputs. Nothing is read from outside
the benchmark's scratch area.

- ``write_sf``: the star schema plus ``events``/``documents``/``embeddings``
  in the shapes the catalog expects (one parquet file per table, money
  columns at cent precision, ``timestamp[us]`` times), at sf0.01 sizes.
- ``write_tse_zips``: TSE-shaped ``consulta_cand`` and
  ``votacao_candidato_munzona`` ZIPs (``;``-separated latin-1 CSVs).
- ``txlog_seed_rows`` / ``txlog_batch``: the seeded commit sequence for
  the lakehouse table.
"""

from __future__ import annotations

import io
import os
import zipfile

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

# Row counts at sf0.01, a tenth of the sf0.1 the catalog's bench slots
# were tuned on (documents and embeddings a fifth and a quarter). At these
# sizes an op's time is fixed per-query overhead: on a 4-core VM the
# steady per-op times were within 1.0-1.7x of sf0.1's, while a run's input
# generation and first calls cost seconds less.
SF_ROWS = {
    "customer": 1_500,
    "supplier": 100,
    "part": 2_000,
    "orders": 15_000,
    "lineitem": 60_000,
    "events": 10_000,
    "documents": 1_000,
    "embeddings": 500,
}
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "plate", "ring", "rod", "widget"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]
WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
EMBED_DIM = 64
DAY0 = np.datetime64("1995-01-01", "us")


def rng_for(seed: int, stream: str) -> np.random.Generator:
    """An independent generator per (seed, purpose), so adding draws to
    one input never shifts another."""
    return np.random.default_rng([seed, *stream.encode()])


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _write(table: pa.Table, path: str) -> None:
    pq.write_table(table, path)


def _texts(rng: np.random.Generator, n: int) -> list[str]:
    """Documents of 10-100 words; every 20th is an earlier doc plus
    ' dup' (the catalog's near-duplicate probes look for these)."""
    lens = rng.integers(10, 101, n)
    words = np.array(WORDS)
    out: list[str] = []
    for i in range(n):
        if i > 0 and i % 20 == 0:
            out.append(out[int(rng.integers(0, i))] + " dup")
        else:
            out.append(" ".join(words[rng.integers(0, len(words), lens[i])]))
    return out


def _unit_vectors(rng: np.random.Generator, n: int) -> np.ndarray:
    v = rng.standard_normal((n, EMBED_DIM)).astype(np.float32)
    return v / np.linalg.norm(v, axis=1, keepdims=True)


def _embeddings_table(ids: np.ndarray, vecs: np.ndarray, labels: np.ndarray) -> pa.Table:
    flat = pa.array(vecs.reshape(-1), pa.float32())
    offsets = pa.array(np.arange(0, len(ids) * EMBED_DIM + 1, EMBED_DIM, dtype=np.int32))
    return pa.table(
        {
            "vec_id": pa.array(ids, pa.int64()),
            "embedding": pa.ListArray.from_arrays(offsets, flat),
            "label": pa.array(labels, pa.int32()),
        }
    )


def sf_orders(seed: int) -> pa.Table:
    """The ``orders`` table. It has its own random stream, so the
    lakehouse workload can take it without generating the other tables."""
    r = rng_for(seed, "sf-orders")
    no, nc = SF_ROWS["orders"], SF_ROWS["customer"]
    return pa.table(
        {
            "o_orderkey": pa.array(np.arange(no), pa.int64()),
            "o_custkey": pa.array(r.integers(0, nc, no), pa.int64()),
            "o_orderstatus": np.array(["F", "O", "P"])[r.integers(0, 3, no)],
            "o_totalprice": _money(r, 1000.0, 500000.0, no),
            "o_orderdate": pa.array(
                DAY0 + r.integers(0, 2404, no).astype("timedelta64[D]"),
                pa.timestamp("us"),
            ),
            "o_orderpriority": np.array(PRIORITIES)[r.integers(0, 5, no)],
        }
    )


def write_sf(out_dir: str, seed: int) -> dict[str, int]:
    """Write the ten catalog tables at SF_ROWS sizes; returns row counts."""
    os.makedirs(out_dir, exist_ok=True)
    n = SF_ROWS
    r = rng_for(seed, "sf")
    tables: dict[str, pa.Table] = {}
    tables["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS}
    )
    tables["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    nc = n["customer"]
    tables["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(nc), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(nc)],
            "c_nationkey": pa.array(r.integers(0, 25, nc), pa.int32()),
            "c_acctbal": _money(r, -999.99, 9999.99, nc),
            "c_mktsegment": np.array(SEGMENTS)[r.integers(0, 5, nc)],
        }
    )
    ns = n["supplier"]
    tables["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(ns), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
            "s_nationkey": pa.array(r.integers(0, 25, ns), pa.int32()),
            "s_acctbal": _money(r, -999.99, 9999.99, ns),
        }
    )
    npart = n["part"]
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    tables["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(npart), pa.int64()),
            "p_name": np.array(names)[r.integers(0, len(names), npart)],
            "p_brand": [f"Brand#{i}" for i in r.integers(1, 26, npart)],
            "p_type": np.array(PART_TYPES)[r.integers(0, 6, npart)],
            "p_size": pa.array(r.integers(1, 51, npart), pa.int32()),
            "p_retailprice": np.round(900 + (np.arange(npart) % 1000) / 10.0, 2),
        }
    )
    no = n["orders"]
    tables["orders"] = sf_orders(seed)
    nl = n["lineitem"]
    tables["lineitem"] = pa.table(
        {
            # ~2% of orders get no lineitem (anti-join probes need misses)
            "l_orderkey": pa.array(r.integers(0, int(no * 0.98), nl), pa.int64()),
            "l_partkey": pa.array(r.integers(0, npart, nl), pa.int64()),
            "l_suppkey": pa.array(r.integers(0, ns, nl), pa.int64()),
            "l_linenumber": pa.array(r.integers(1, 8, nl), pa.int32()),
            "l_quantity": r.integers(1, 51, nl).astype(np.float64),
            "l_extendedprice": _money(r, 900.0, 105000.0, nl),
            "l_discount": r.integers(0, 11, nl) / 100.0,
            "l_tax": r.integers(0, 9, nl) / 100.0,
            "l_returnflag": np.array(["A", "N", "R"])[r.integers(0, 3, nl)],
            "l_linestatus": np.array(["F", "O"])[r.integers(0, 2, nl)],
            "l_shipdate": pa.array(
                DAY0 + r.integers(1, 2499, nl).astype("timedelta64[D]"),
                pa.timestamp("us"),
            ),
        }
    )
    ne = n["events"]
    ev0 = np.datetime64("2024-01-01", "us")
    tables["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(ne), pa.int64()),
            "ts": pa.array(
                np.sort(ev0 + r.integers(0, 30 * 86400 * 10**6, ne).astype("timedelta64[us]")),
                pa.timestamp("us"),
            ),
            "user_id": pa.array(r.integers(0, 1500, ne), pa.int64()),
            "event_type": np.array(EVENT_TYPES)[r.integers(0, 5, ne)],
            "value": _money(r, 0.0, 560.0, ne),
            "props": [f'{{"k": {k}}}' for k in r.integers(0, 100, ne)],
        }
    )
    nd = n["documents"]
    texts = _texts(r, nd)
    tables["documents"] = pa.table(
        {
            "doc_id": pa.array(np.arange(nd), pa.int64()),
            "text": texts,
            "lang": np.array(LANGS)[r.integers(0, len(LANGS), nd)],
            "source": [f"src{i % 20}" for i in range(nd)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )
    nv = n["embeddings"]
    tables["embeddings"] = _embeddings_table(
        np.arange(nv), _unit_vectors(r, nv), r.integers(0, 10, nv)
    )
    for name, t in tables.items():
        _write(t, os.path.join(out_dir, f"{name}.parquet"))
    return {name: t.num_rows for name, t in tables.items()}


# --- TSE-shaped CSV-in-ZIP sources ------------------------------------------

# The readers take CSV columns by position, in the order of
# schemas.CONSULTA_CAND / schemas.VOTACAO_MUNZONA.
CAND_COLS = [
    "ANO_ELEICAO", "NR_TURNO", "DS_ELEICAO", "SQ_CANDIDATO", "NR_CANDIDATO",
    "NM_CANDIDATO", "NM_URNA_CANDIDATO", "DS_CARGO", "NR_PARTIDO",
    "SG_PARTIDO", "NM_PARTIDO",
]
VOTE_COLS = ["SQ_CANDIDATO", "QT_VOTOS", "DS_SIT_TOT_TURNO"]
UFS = ["SP", "MG", "RJ", "BA"]
OFFICES = ["DEPUTADO ESTADUAL", "DEPUTADO FEDERAL", "SENADOR"]
STATUSES = ["ELEITO", "NÃO ELEITO", "SUPLENTE"]


# Candidacies per election year: an assumption, far below a real general
# election year. The ETL op's time is fixed per-command overhead at this
# size (400 and 100 candidacies cost the same), so it is kept small.
TSE_CANDIDATES = 100


def tse_frames(seed: int, year: int, n_cand: int = TSE_CANDIDATES) -> tuple[pd.DataFrame, pd.DataFrame]:
    """Candidacy and per-zone vote rows for one election year. Party
    attributes repeat with differing names (keep-first dedup); one vote key
    has no candidacy (the unmatched-update path); every candidate has
    several vote rows, so the sum differs from any single row."""
    r = rng_for(seed, f"tse{year}")
    parties = r.integers(10, 40, n_cand)
    sq = [f"{year % 100:02d}{i:010d}" for i in range(n_cand)]
    cand = pd.DataFrame(
        {
            "ANO_ELEICAO": year,
            "NR_TURNO": 1,
            "DS_ELEICAO": f"Eleições Gerais Estaduais {year}",
            "SQ_CANDIDATO": sq,
            "NR_CANDIDATO": r.integers(10_000, 99_999, n_cand),
            "NM_CANDIDATO": [f"CANDIDATO {i % (n_cand - 7)} DA SILVA" for i in range(n_cand)],
            "NM_URNA_CANDIDATO": [f"URNA-{i % (n_cand - 7)}" for i in range(n_cand)],
            "DS_CARGO": np.array(OFFICES)[r.integers(0, 3, n_cand)],
            "NR_PARTIDO": parties,
            "SG_PARTIDO": [f"P{p}" for p in parties],
            "NM_PARTIDO": [f"PARTIDO {p} {'ÁGUA' if r.random() < 0.2 else 'AÇÃO'}" for p in parties],
            "SG_UF": np.array(UFS)[r.integers(0, len(UFS), n_cand)],
        }
    )
    per = r.integers(2, 6, n_cand)
    vsq = np.repeat(np.array(sq), per).tolist() + [f"{year % 100:02d}9999999999"]
    status = np.array(STATUSES)[r.integers(0, 3, n_cand)]
    votes = pd.DataFrame(
        {
            "SQ_CANDIDATO": vsq,
            "QT_VOTOS": r.integers(0, 50_000, len(vsq)),
            "DS_SIT_TOT_TURNO": np.repeat(status, per).tolist() + ["NÃO ELEITO"],
        }
    )
    return cand, votes


def _zip_by_state(df: pd.DataFrame, states: list[str], prefix: str, year: int, path: str) -> None:
    """One ``;``-separated latin-1 CSV per state inside the ZIP, the
    TSE CDN layout the reference unpacks."""
    with zipfile.ZipFile(path, "w", zipfile.ZIP_DEFLATED) as z:
        for uf in UFS:
            part = df[np.array(states) == uf]
            buf = io.StringIO()
            part.to_csv(buf, sep=";", index=False)
            z.writestr(f"{prefix}_{year}_{uf}.csv", buf.getvalue().encode("latin-1"))


def write_tse_zips(data_dir: str, seed: int, year: int) -> tuple[pd.DataFrame, pd.DataFrame]:
    """Write ``consulta_cand_<year>.zip`` and
    ``votacao_candidato_munzona_<year>.zip`` under ``data_dir``; returns
    the frames so checks can recompute the expected sinks."""
    os.makedirs(data_dir, exist_ok=True)
    cand, votes = tse_frames(seed, year)
    _zip_by_state(
        cand[CAND_COLS], cand["SG_UF"].tolist(), "consulta_cand", year,
        os.path.join(data_dir, f"consulta_cand_{year}.zip"),
    )
    vote_uf = dict(zip(cand["SQ_CANDIDATO"], cand["SG_UF"]))
    _zip_by_state(
        votes[VOTE_COLS], [vote_uf.get(s, UFS[0]) for s in votes["SQ_CANDIDATO"]],
        "votacao_candidato_munzona", year,
        os.path.join(data_dir, f"votacao_candidato_munzona_{year}.zip"),
    )
    return cand, votes


# --- lakehouse commit sequence ----------------------------------------------

# The table starts from the first TXLOG_KEYS rows of the generated orders.
# Seeded with all 150k sf0.1 orders, snapshot_agg and optimize took
# 8-11 s each (4-core VM), more than the benchmark's run budget holds.
TXLOG_KEYS = 5_000
# Rows each write op commits per round. No recorded traffic exists to
# take these from, so they are assumptions: appends and merges each carry
# a tenth of the seed's size; a merge is half updates and half inserts,
# the split of the catalog's ``txlog_merge_report``.
APPEND_ROWS = TXLOG_KEYS // 10
MERGE_ROWS = TXLOG_KEYS // 10


def txlog_seed_rows(seed: int) -> pd.DataFrame:
    """The table's initial contents: the first TXLOG_KEYS rows of the
    generated ``orders`` table, without ``o_orderdate``."""
    return sf_orders(seed).slice(0, TXLOG_KEYS).drop_columns(["o_orderdate"]).to_pandas()


def _order_rows(r: np.random.Generator, keys: np.ndarray) -> pd.DataFrame:
    n = len(keys)
    return pd.DataFrame(
        {
            "o_orderkey": keys.astype(np.int64),
            "o_custkey": r.integers(0, SF_ROWS["customer"], n).astype(np.int64),
            "o_orderstatus": np.array(["F", "O", "P"])[r.integers(0, 3, n)],
            "o_totalprice": _money(r, 1000.0, 500000.0, n),
            "o_orderpriority": np.array(PRIORITIES)[r.integers(0, 5, n)],
        }
    )


def txlog_batch(seed: int, i: int, kind: str, next_key: int) -> dict:
    """Batch ``i`` of the commit sequence for one write op:

    - ``append``: APPEND_ROWS fresh keys from ``next_key``;
    - ``merge``: MERGE_ROWS rows, half updates of seeded existing keys
      and half inserts of fresh keys."""
    r = rng_for(seed, f"txlog-{kind}-{i}")
    if kind == "append":
        keys = np.arange(next_key, next_key + APPEND_ROWS)
        return {"rows": _order_rows(r, keys), "next_key": next_key + APPEND_ROWS}
    if kind == "merge":
        n_upd = MERGE_ROWS // 2
        upd = r.choice(next_key, n_upd, replace=False)
        ins = np.arange(next_key, next_key + MERGE_ROWS - n_upd)
        return {"rows": _order_rows(r, np.concatenate([upd, ins])), "next_key": next_key + len(ins)}
    raise ValueError(kind)
