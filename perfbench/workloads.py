"""The benchmark's workloads.

Each workload is a closed loop with one client: ops run one after another,
in cycles that hold each of the workload's op types once, always in the
same order (an op's cost depends on the table state the ops before it
left, so a varying order would vary the figures); the seed drives the
data. An op returns its kind (``read``/``write``) and stores what it needs
for the output checks, which run once after the timed region (``check``).

- ``catalog``: read-only catalog queries over a generated sf0.01 directory.
- ``lakehouse``: commits and reads on one transactional table, and the
  reference ETL.
"""

from __future__ import annotations

import contextlib
import io
import os
import random
import sys
import time

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

import gen

# One op per layer family the read path reaches: the flagship join chain
# (spread, load_table), vector top-k (operators.sim) and MinHash pairs
# (operators.dedup).
CATALOG_OPS = (
    "flagship_revenue_rollup",
    "cosine_topk",
    "minhash_near_dup_pairs",
)


class Workload:
    name = ""
    ops: tuple[str, ...] = ()
    # Nominal length of one timed cycle, reference queries included (the
    # median on a 4-core VM was 4.5 s for both workloads). ``--seconds``
    # buys round(seconds / cycle_s) timed cycles, a count fixed before the
    # run starts, so a slow machine measures the same work as a fast one.
    cycle_s = 4.5

    def __init__(self, root: str, seed: int, cycles: int) -> None:
        self.root = root
        self.seed = seed
        self.cycles = cycles
        self.spark = None
        self.phase = None  # set by the runner: phase("build"|"exec") context

    def make_inputs(self) -> dict:
        """Generate inputs (not part of set-up time); returns sizes."""
        raise NotImplementedError

    def setup(self, spark, work: str) -> None:
        """Set the workload up in the fresh directory ``work``. A run sets
        up several times (each in a new directory) and keeps the last."""
        self.spark = spark

    def run(self, op: str) -> str:
        raise NotImplementedError

    def check(self) -> list[str]:
        raise NotImplementedError


class Catalog(Workload):
    """Read-only catalog slots: relational, vector and dedup.
    Each op builds the catalog DataFrame (``build``) and collects it to
    pandas (``exec``); the last output of each op type is compared with
    DuckDB running the op's oracle SQL over the same parquet."""

    name = "catalog"
    ops = CATALOG_OPS

    def make_inputs(self) -> dict:
        self.sf_dir = os.path.join(self.root, "sf0.01")
        return gen.write_sf(self.sf_dir, self.seed)

    def setup(self, spark, work: str) -> None:
        # Import the catalog afresh each time: a client's set-up imports
        # it, and work moved into import time (every plans module runs and
        # registers its queries) then shows in setup_s.
        for mod in [m for m in sys.modules if m.startswith("politicamente_etl_spark.plans")]:
            del sys.modules[mod]
        from politicamente_etl_spark.plans.catalog import CATALOG

        super().setup(spark, work)
        self.catalog = CATALOG
        self.last: dict[str, pd.DataFrame] = {}

    def run(self, op: str) -> str:
        with self.phase("build"):
            df = self.catalog[op].fn(self.spark, self.sf_dir)
        with self.phase("exec"):
            self.last[op] = df.toPandas()
        return "read"

    def check(self) -> list[str]:
        from politicamente_etl_spark.testing import compare_frames, duckdb_connection

        problems = []
        con = duckdb_connection(self.sf_dir)
        try:
            for op, got in self.last.items():
                sql = self.catalog[op].sql
                if sql is None:
                    continue
                problems += compare_frames(got, con.execute(sql).df(), op)
        finally:
            con.close()
        return problems


ORDER_COLS = ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderpriority"]
KEY = ["o_orderkey"]
LAKE_WRITES = ("append", "merge")
# Two point reads a round (an assumption about the mix, as are the batch
# sizes in gen.py).
LAKE_OPS = (
    LAKE_WRITES
    + ("point_read", "point_read", "snapshot_agg", "time_travel")
    + ("etl_seed_parties", "optimize")
)


class Lakehouse(Workload):
    """Writes beside reads on one TxLogTable seeded from the first
    ``gen.TXLOG_KEYS`` rows of the generated ``orders``, the reference ETL
    (``cli.main seed_parties``) over TSE-shaped ZIPs. One cycle of the op
    types is one round: the table writes, the reads, the ETL, then
    optimize.
    Time travel reads the version the round started from."""

    name = "lakehouse"
    ops = LAKE_OPS

    def make_inputs(self) -> dict:
        r = self.root
        self.batch_dir = os.path.join(r, "batches")
        os.makedirs(self.batch_dir, exist_ok=True)
        seed_rows = gen.txlog_seed_rows(self.seed)
        self.seed_file = self._write_batch("seed", seed_rows)
        # the commit sequence: one batch per write op and round
        self.batches: dict[tuple[str, int], dict] = {}
        next_key = gen.TXLOG_KEYS
        rounds = self.cycles + 1  # the warm-up pass is a round too
        for i in range(rounds):
            for kind in LAKE_WRITES:
                b = gen.txlog_batch(self.seed, i, kind, next_key)
                next_key = b["next_key"]
                b["file"] = self._write_batch(f"{kind}-{i}", b["rows"])
                self.batches[(kind, i)] = b
        self.years = [2000 + 2 * i for i in range(rounds)]
        self.tse_dir = os.path.join(r, "tse")
        self.tse = {y: gen.write_tse_zips(self.tse_dir, self.seed, y) for y in self.years}
        return {
            "txlog_seed_rows": len(seed_rows),
            "txlog_batch_rows": {
                "append": gen.APPEND_ROWS,
                "merge": gen.MERGE_ROWS,
            },
            "tse_candidates_per_year": len(self.tse[self.years[0]][0]),
        }

    def _write_batch(self, name: str, rows: pd.DataFrame) -> str:
        path = os.path.join(self.batch_dir, f"{name}.parquet")
        pq.write_table(pa.Table.from_pandas(rows[ORDER_COLS], preserve_index=False), path)
        return path

    def setup(self, spark, work: str) -> None:
        from politicamente_etl_spark.sources.txlog import TxLogTable

        super().setup(spark, work)
        self.work = work
        self.table_dir = os.path.join(work, "table")
        self.table = TxLogTable.create(spark, self.table_dir, spark.read.parquet(self.seed_file))
        self.user_bytes = os.path.getsize(self.seed_file)
        self.commits = [(self.table.latest_version(), time.time() * 1000.0)]
        self.log: list[tuple] = [("create", self.seed_file, self.commits[0][0])]
        self.reads: list[tuple] = []
        self.round = {k: 0 for k in LAKE_WRITES + ("etl_seed_parties",)}
        self.round_start = 0
        self.rng = random.Random(f"{self.seed}-reads")
        self.key_hi = gen.TXLOG_KEYS
        self.warehouse = os.path.join(work, "warehouse")
        self.years_seeded: list[int] = []

    # --- ops -----------------------------------------------------------

    def run(self, op: str) -> str:
        return getattr(self, "op_" + op)()

    def _commit(self, kind: str, payload) -> None:
        v = self.table.latest_version()
        self.commits.append((v, time.time() * 1000.0))
        self.log.append((kind, payload, v))

    def _batch(self, kind: str) -> dict:
        i = self.round[kind]
        self.round[kind] += 1
        return self.batches[(kind, i)]

    def op_append(self) -> str:
        self.round_start = len(self.commits) - 1
        b = self._batch("append")
        with self.phase("build"):
            self.table.append(self.spark.read.parquet(b["file"]))
        self.key_hi = b["next_key"]
        self.user_bytes += os.path.getsize(b["file"])
        self._commit("append", b["file"])
        return "write"

    def op_merge(self) -> str:
        b = self._batch("merge")
        with self.phase("build"):
            self.table.merge(self.spark.read.parquet(b["file"]), KEY)
        self.key_hi = b["next_key"]
        self.user_bytes += os.path.getsize(b["file"])
        self._commit("merge", b["file"])
        return "write"

    def op_optimize(self) -> str:
        with self.phase("build"):
            self.table.optimize()
        self._commit("optimize", None)
        return "write"

    def _agg(self, df) -> tuple:
        from pyspark.sql import functions as F

        with self.phase("exec"):
            r = df.agg(F.count("*"), F.sum("o_orderkey"), F.sum("o_custkey")).collect()[0]
        return (int(r[0]), int(r[1] or 0), int(r[2] or 0))

    def op_point_read(self) -> str:
        k = self.rng.randrange(self.key_hi)
        v = self.commits[-1][0]
        with self.phase("build"):
            df = self.table.scan({"o_orderkey": (k, k)})
        with self.phase("exec"):
            rows = sorted(tuple(r) for r in df.select(*ORDER_COLS).collect())
        self.reads.append(("point_read", k, v, rows))
        return "read"

    def op_snapshot_agg(self) -> str:
        v = self.commits[-1][0]
        with self.phase("build"):
            df = self.table.snapshot()
        self.reads.append(("snapshot_agg", None, v, self._agg(df)))
        return "read"

    def op_time_travel(self) -> str:
        v, ts = self.commits[self.round_start]
        with self.phase("build"):
            got_v = self.table.version_as_of(int(ts))
            df = self.table.snapshot(version=got_v)
        self.reads.append(("time_travel", got_v, v, self._agg(df)))
        return "read"

    def op_etl_seed_parties(self) -> str:
        from politicamente_etl_spark import cli

        year = self.years[self.round["etl_seed_parties"]]
        self.round["etl_seed_parties"] += 1
        argv = ["seed_parties", "--year", str(year), "--data-dir", self.tse_dir, "--warehouse", self.warehouse]
        with self.phase("build"), contextlib.redirect_stdout(io.StringIO()):
            cli.main(argv, spark=self.spark)
        self.years_seeded.append(year)
        return "write"

    # --- checks --------------------------------------------------------

    def check(self) -> list[str]:
        return self._check_txlog() + self._check_etl()

    def _check_txlog(self) -> list[str]:
        """Replay the commit log in DuckDB and compare every read and the
        final table with the model at the version it saw."""
        import duckdb

        from politicamente_etl_spark.testing import compare_frames

        con = duckdb.connect()
        problems: list[str] = []
        for kind, payload, v in self.log:
            if kind == "create":
                con.execute(f"CREATE TABLE t AS SELECT * FROM read_parquet('{payload}')")
            elif kind == "append":
                con.execute(f"INSERT INTO t SELECT * FROM read_parquet('{payload}')")
            elif kind == "merge":
                con.execute(f"DELETE FROM t WHERE o_orderkey IN (SELECT o_orderkey FROM read_parquet('{payload}'))")
                con.execute(f"INSERT INTO t SELECT * FROM read_parquet('{payload}')")
            con.execute(f"CREATE OR REPLACE TABLE v{v} AS SELECT * FROM t")

        for kind, arg, v, got in self.reads:
            if kind == "point_read":
                want = sorted(
                    tuple(r)
                    for r in con.execute(f"SELECT {', '.join(ORDER_COLS)} FROM v{v} WHERE o_orderkey = {arg}").fetchall()
                )
            else:
                if kind == "time_travel" and arg != v:
                    problems.append(f"time_travel: version_as_of gave {arg}, want {v}")
                    continue
                want = tuple(
                    int(x)
                    for x in con.execute(
                        f"SELECT count(*), coalesce(sum(o_orderkey), 0), coalesce(sum(o_custkey), 0) FROM v{v}"
                    ).fetchone()
                )
            if got != want:
                problems.append(f"txlog {kind}({arg}) at v{v}: got {str(got)[:200]} want {str(want)[:200]}")
        final = self.table.snapshot().select(*ORDER_COLS).toPandas()
        want = con.execute(f"SELECT {', '.join(ORDER_COLS)} FROM t").df()
        problems += compare_frames(final, want, "txlog final snapshot")
        con.close()
        return problems

    def _check_etl(self) -> list[str]:
        """The parties sink against DuckDB SQL over the generated CSVs of
        every year seeded: one row per party number, with its acronym, and
        distinct surrogate ids."""
        import duckdb

        from politicamente_etl_spark.cli import read_sink
        from politicamente_etl_spark.testing import compare_frames

        if not self.years_seeded:
            return []
        con = duckdb.connect()
        con.register("cand", pd.concat([self.tse[y][0] for y in sorted(set(self.years_seeded))]))
        want = con.execute(
            "SELECT DISTINCT CAST(NR_PARTIDO AS INTEGER) AS party_number, SG_PARTIDO AS initials FROM cand"
        ).df()
        con.close()
        got = read_sink(self.spark, self.warehouse, "parties").toPandas()
        problems = compare_frames(got[["party_number", "initials"]], want, "etl parties")
        if got["party_id"].nunique() != len(got):
            problems.append("etl parties: party_id not unique")
        return problems

    # --- figures for the layer report ------------------------------------

    def storage(self) -> dict:
        """Bytes under the table dir and in live files, the log's bytes,
        and the final snapshot rewritten once, compactly."""
        files, n_live = self.table.scan_files()
        live = sum(os.path.getsize(os.path.join(self.table_dir, f)) for f in files)
        total = log = 0
        for d, _, fs in os.walk(self.table_dir):
            for f in fs:
                size = os.path.getsize(os.path.join(d, f))
                total += size
                if os.path.relpath(d, self.table_dir).startswith("_txlog"):
                    log += size
        compact = os.path.join(self.work, "compact")
        self.table.snapshot().coalesce(1).write.mode("overwrite").parquet(compact)
        compact_bytes = sum(
            os.path.getsize(os.path.join(compact, f)) for f in os.listdir(compact) if f.endswith(".parquet")
        )
        return {
            "table_bytes": total,
            "live_bytes": live,
            "log_bytes": log,
            "files_live": n_live,
            "compact_bytes": compact_bytes,
            "user_bytes": self.user_bytes,
        }


WORKLOADS = {w.name: w for w in (Catalog, Lakehouse)}
