"""Structured Streaming SOURCE over the commit-log table — the Delta
"streaming source" analogue: a running query tails the transaction log,
and each micro-batch reads exactly the files added by the commits in its
offset range (versions are the offsets).

Why this is the right streaming contract:
- **Exactly-once without a broker.** Offsets are committed log versions;
  versions are immutable and totally ordered, so a restarted query
  resumes from its checkpointed version and can neither lose nor repeat
  rows. The batch writer side is already idempotent (append txn_ids), so
  writer-retry + reader-offset together give end-to-end exactly-once
  from ingest to stream consumer with plain files.
- **Append-only discipline, surfaced not fudged.** merge/overwrite
  commits rewrite rows; replaying their added files would re-emit old
  rows as if new. Like Delta, the reader REFUSES such commits unless
  `ignore_changes=true` is set (then they are skipped, with the same
  caveat Delta documents: downstream must tolerate missing updates).
  optimize/checkpoint commits are data-invisible and always skipped.
- **Partition = file.** Each added parquet file becomes one input
  partition; executors read their file straight through pyarrow and
  ship Arrow record batches (zero-copy into Spark), so micro-batch
  parallelism equals the commit's file count at any scale.

Usage:
    spark.dataSource.register(TxLogStreamDataSource)
    (spark.readStream.format("txlogstream")
        .option("path", table_path)
        .load()
        .writeStream...)
"""

from __future__ import annotations

import os
from collections.abc import Iterator, Sequence

from pyspark.sql.datasource import (
    DataSource,
    DataSourceStreamReader,
    InputPartition,
)
from pyspark.sql.types import StructType

from politicamente_etl_spark.sources.txlog import (
    fold_renames,
    load_manifest,
    log_versions,
)

# ops whose `added` files carry genuinely NEW rows (clone's v1
# references the source's files — for a stream started at offset 0
# they ARE the initial data, exactly like create)
_APPEND_OPS = ("create", "append", "clone")
# ops that move/rewrite data without changing table contents, plus
# pure-metadata commits (a constraint declaration must never kill a
# running tail — it adds no rows and rewrites none)
_INVISIBLE_OPS = (
    "optimize",
    "checkpoint",
    "set_constraint",
    "drop_constraint",
    "set_generated_column",
    "drop_generated_column",
)
# pure RETRACTIONS: key tombstones and row-index deletion vectors add
# no files and rewrite none — an append-only reader cannot express
# them, a weaker hazard than a rewrite (nothing is re-emitted;
# downstream just misses the delete). Delta splits the same contract
# into ignoreDeletes (this) vs ignoreChanges (rewrites).
_DELETE_OPS = ("delete_logical", "delete_rowindex")


class _FilePartition(InputPartition):
    def __init__(self, abs_path: str, resolve: dict[str, str] | None = None):
        self.abs_path = abs_path
        # physical column name → declared output name, derived from the
        # table's rename chain (None entries are names that resolve to
        # no declared column). Computed driver-side in partitions(),
        # shipped with the partition so executors never trust position.
        self.resolve = resolve or {}


def _rename_chain(
    path: str, transitions: list[tuple[int, str, str]] | None = None
) -> list[tuple[int, int, str, str]]:
    """[(origin_version, carrier_version, old, new)] — the SHARED fold
    (txlog.fold_renames): one visibility rule for the batch reader and
    this source (review r9, second pass: two copies of the restore-
    barrier/carriage fold is how the two readers drift apart). The
    stream asks for restore-INVERSE entries: it tails files a restore
    retracted, which batch reads never see (review r9, fifth pass).
    `transitions` (caller-owned, appended to) collects the full
    declared-name transition history the inverse synthesis composes
    over (review r9, sixth pass)."""
    return fold_renames(
        [load_manifest(path, v) for v in log_versions(path)],
        synthesize_restore_inverses=True,
        transitions=transitions,
    )


def _infer_declared_version(path: str, field_names: list[str]) -> int:
    """The newest version whose DECLARED column-name set matches
    `field_names`. Declared names only change at schema-bearing
    manifests (every rename/restore/evolving append commits one), so
    the governing range of the schema at version v runs up to just
    below the NEXT schema-bearing version. No match (or no names to
    match) falls back to the head — the pre-inference behavior."""
    vs = log_versions(path)
    head = vs[-1] if vs else 0
    if not field_names:
        return head
    want = sorted(field_names)
    nxt: int | None = None  # lowest schema-bearing version above v
    for v in reversed(vs):
        m = load_manifest(path, v)
        if "schema" not in m:
            continue
        names = sorted(f["name"] for f in m["schema"]["fields"])
        if names == want:
            return head if nxt is None else nxt - 1
        nxt = v
    return head


def _alias_resolution(
    chain: list[tuple[int, int, str, str]],
    declared: list[str],
    file_v: int,
    declared_v: int,
) -> dict[str, str]:
    """Physical-name → declared-name map for a file written at local
    version `file_v`, read by a stream whose declared schema was
    captured at local version `declared_v`. VINTAGE-AWARE (review r9,
    first pass): a physical name maps by walking the rename chain
    FORWARD through renames the file predates (origin > file_v) that
    the declared schema already reflects (carrier ≤ declared_v), and
    BACKWARD through renames the declared schema predates (carrier >
    declared_v) that the file carries natively (origin ≤ file_v — a
    mid-stream rename skipped via ignore_changes). Bounds use the
    CARRIER (the local version that made the entry visible), not the
    origin alone: a clone's v1 carries source renames whose origins
    exceed every local version, and pre-rename source files must still
    map (review r9, second pass). Version-bounding the walks — instead
    of trying both directions name-globally — disambiguates reuse
    chains like `a→x` then `b→a`: a pre-rename file's physical `a`
    maps to `x`, never short-circuits to the redeclared `a`. Names
    that reach no declared column are absent; the reader raises on
    them instead of trusting position (ADVICE r8).

    Scope: assumes origins and file vintages share one ordered space,
    which every log written by the current clone_shallow guarantees
    (the clone manifest claims the source's head version). A legacy
    pre-r9 clone log (clone manifest at v1 with foreign source
    origins) can mis-classify local files against carried entries —
    re-clone such tables before streaming them.

    'Included in the declared schema' is origin ≤ declared_v OR
    carrier ≤ declared_v — either proves the entry was visible when
    the schema was read. Origin alone misses clone carriage (foreign
    origins exceed every local version); carrier alone is unstable
    under vacuum expiry, which re-carries old entries at the keep_from
    checkpoint and would flip their classification mid-stream (review
    r9, fourth pass)."""
    declared_set = set(declared)

    def map_name(name: str) -> str:
        cur = name
        for origin, carrier, old, new in chain:  # forward, origin order
            included = origin <= declared_v or carrier <= declared_v
            if origin > file_v and included and cur == old:
                cur = new
        for origin, carrier, old, new in reversed(chain):  # backward
            included = origin <= declared_v or carrier <= declared_v
            if not included and origin <= file_v and cur == new:
                cur = old
        return cur

    names = (
        {o for _, _, o, _ in chain}
        | {n for _, _, _, n in chain}
        | declared_set
    )
    res: dict[str, str] = {}
    for name in names:
        mapped = map_name(name)
        if mapped in declared_set:
            res[name] = mapped
    return res


class TxLogStreamReader(DataSourceStreamReader):
    def __init__(
        self,
        path: str,
        ignore_changes: bool,
        ignore_deletes: bool = False,
        field_names: list[str] | None = None,
        declared_version: int | None = None,
    ):
        self.ignore_deletes = ignore_deletes
        self.path = path
        self.ignore_changes = ignore_changes
        # the DECLARED output schema's names: pre-rename files carry old
        # physical names and the DataSource contract enforces name
        # equality — batches relabel via the table's rename chain
        # (explicit vintage-aware old→new mapping computed in
        # partitions(); see read()), never by position (ADVICE r8)
        self.field_names = field_names or []
        # the schema vintage: renames at or below this version are
        # already reflected in field_names. Passed from the version the
        # DataSource actually read the schema at — re-deriving 'latest'
        # here would invert the vintage math for a rename landing
        # between schema() and reader construction (review r9, third
        # pass). With a USER-SUPPLIED schema, DataSource.schema() (the
        # only place that vintage is captured) never runs — so infer
        # the vintage from the names themselves: the newest version
        # range whose DECLARED name set matches field_names (review
        # r9, seventh pass; falling back to head mis-classified a
        # rename landing in that same window as already-reflected,
        # bricking the relabel of post-rename files).
        if declared_version is not None:
            self.declared_version = declared_version
        else:
            self.declared_version = _infer_declared_version(
                path, self.field_names
            )
        # rename-chain cache keyed by the version listing — manifests
        # are immutable (vacuum's in-place checkpoint rewrite changes
        # the listing via expiry), folded INCREMENTALLY per new commit
        # (see _current_chain)
        self._chain_key: tuple[int, ...] | None = None
        self._chain: list[tuple[int, int, str, str]] = []
        # full declared-name transition history (never pruned by
        # restore barriers) — the inverse synthesis composes over it
        # (review r9, sixth pass)
        self._transitions: list[tuple[int, str, str]] = []

    def initialOffset(self) -> dict:
        return {"version": 0}

    def latestOffset(self) -> dict:
        vs = log_versions(self.path)
        return {"version": vs[-1] if vs else 0}

    def _current_chain(self) -> list[tuple[int, int, str, str]]:
        """Rename chain with an INCREMENTAL fold: a busy table commits
        every trigger, so a whole-log refold per micro-batch is
        O(versions²) driver I/O over the stream's life (review r9,
        fourth pass). New manifests that extend the cached version
        listing fold on top of the cached chain (the barrier can't
        retroactively fire: restores among them trigger a full refold,
        and expiry/in-place rewrites shrink the listing, breaking the
        prefix match)."""
        vs = tuple(log_versions(self.path))
        if vs == self._chain_key:
            return self._chain
        prev = self._chain_key or ()
        if prev and vs[: len(prev)] == prev:
            # continuation: seed the SHARED fold with the cached chain
            # (seen is always exactly the triple set of the chain) so
            # the suffix — restores and their inverse synthesis
            # included — goes through the one fold implementation
            # (review r9, fifth pass: the inline copy was a third fold)
            self._chain = fold_renames(
                [load_manifest(self.path, v) for v in vs[len(prev):]],
                synthesize_restore_inverses=True,
                state=(
                    list(self._chain),
                    {(o, old, new) for o, _c, old, new in self._chain},
                ),
                transitions=self._transitions,
            )
            self._chain_key = vs
            return self._chain
        self._transitions = []
        self._chain = _rename_chain(self.path, self._transitions)
        self._chain_key = vs
        return self._chain

    def partitions(self, start: dict, end: dict) -> Sequence[InputPartition]:
        parts: list[InputPartition] = []
        # vintage-aware name maps for this batch's files, one per
        # commit version (a file written at v carries the names live at
        # v); recomputed when the log grows so renames that land
        # mid-stream (skipped via ignore_changes) are resolvable by the
        # time their files flow
        chain = self._current_chain() if self.field_names else []
        maps: dict[int, dict[str, str]] = {}
        lo, hi = start["version"], end["version"]
        vs = log_versions(self.path)
        in_range = [v for v in vs if lo < v <= hi]
        # version numbers can be sparse. Two causes, opposite handling
        # (review r9, fifth pass): numbers below a CLONE's first
        # manifest never existed (the clone claims the source's head
        # version) — skip, nothing was ever committed there; numbers
        # expired by a retention vacuum DID hold data this tail has not
        # emitted — that is silent data loss, fail loudly like Delta
        # does for expired starting versions. Iterating the existing
        # listing (not the dense range) also avoids O(head-version)
        # failed opens on a fresh clone stream.
        snapshot_from: int | None = None
        if len(in_range) < hi - lo:
            vset = set(vs)
            gaps = [v for v in range(lo + 1, hi + 1) if v not in vset]
            first = load_manifest(self.path, vs[0]) if vs else {}
            never_existed = (
                bool(vs)
                and first.get("op") == "clone"
                and not first.get("checkpoint")
                and all(v < vs[0] for v in gaps)
            )
            if not never_existed:
                # a FRESH stream (offset 0) over expired history is
                # still serviceable: vacuum rewrote the oldest retained
                # manifest as a self-contained CHECKPOINT folding
                # everything at or below it, so that fold IS the
                # current-snapshot initial load (Delta's fresh-stream
                # behavior on a vacuumed table). Only a RESUMED stream
                # has emitted rows the fold would duplicate / has
                # missed rows the fold absorbed — that one fails
                # loudly.
                cks = [
                    v
                    for v in in_range
                    if load_manifest(self.path, v).get("checkpoint")
                ]
                if lo == 0 and cks and all(g < max(cks) for g in gaps):
                    snapshot_from = max(cks)
                else:
                    raise RuntimeError(
                        f"txlogstream: versions {gaps[:5]}{'…' if len(gaps) > 5 else ''} "
                        "in this batch's offset range were expired by a "
                        "retention vacuum; their rows can no longer be "
                        "tailed. Restart the stream from a fresh "
                        "checkpoint (current-snapshot initial load) "
                        "instead."
                    )
        for v in in_range:
            if snapshot_from is not None and v < snapshot_from:
                # folded into the initial-load checkpoint below
                continue
            m = load_manifest(self.path, v)
            op = m.get("op", "")
            if v == snapshot_from:
                # the checkpoint's live fold is the initial data; its
                # still-applicable tombstones/DVs are retractions an
                # append-only reader cannot express — same contract as
                # a live delete commit
                if (m.get("tombstones") or m.get("dvs")) and not (
                    self.ignore_deletes or self.ignore_changes
                ):
                    raise RuntimeError(
                        f"txlogstream: the initial-load checkpoint at "
                        f"version {v} carries logical deletes "
                        "(tombstones / deletion vectors); an "
                        "append-only stream would emit the deleted "
                        "rows. Set ignore_deletes=true to accept that "
                        "(Delta's ignoreDeletes contract)."
                    )
            elif op in _INVISIBLE_OPS or m.get("checkpoint"):
                continue
            if op in _DELETE_OPS:
                if not (self.ignore_deletes or self.ignore_changes):
                    raise RuntimeError(
                        f"txlogstream: version {v} is op={op!r}, a "
                        "logical DELETE; an append-only stream cannot "
                        "retract rows. Set ignore_deletes=true to skip "
                        "delete commits (downstream then misses the "
                        "deletes — Delta's ignoreDeletes contract)."
                    )
                continue  # retraction-only: nothing to emit either way
            if op == "rename_column":
                # ignore_changes is the documented escape hatch: without
                # it a rename would BRICK the table for streaming (every
                # restart re-hits the same version) — with it, the
                # rename commit is skipped (it adds no rows) and rows
                # keep flowing; files written after carry the new name,
                # so downstream sees the old schema only for pre-rename
                # batches, the same caveat as Delta's ignoreChanges
                if not self.ignore_changes:
                    raise RuntimeError(
                        f"txlogstream: version {v} renames a column; "
                        "the stream's output schema cannot change "
                        "mid-query. Set ignore_changes=true to skip the "
                        "rename commit (pre-rename batches keep the old "
                        "column name), or restart consumers on the new "
                        "schema (Delta's schemaTrackingLocation "
                        "contract)."
                    )
                continue
            if op not in _APPEND_OPS and v != snapshot_from:
                if not self.ignore_changes:
                    raise RuntimeError(
                        f"txlogstream: version {v} is op={op!r}, which "
                        "rewrites rows; a streaming read would re-emit "
                        "old rows. Set ignore_changes=true to skip such "
                        "commits (downstream then misses updates, the "
                        "same contract as Delta's ignoreChanges)."
                    )
                continue
            # a file's vintage is its TRUE add version when the
            # manifest records one (a clone's v1 carries source files
            # written across many source versions — treating them all
            # as vintage v1 forward-applies renames their names already
            # reflect; review r9, fourth pass), else the manifest's own
            # version
            addv = m.get("added_versions", {})
            for rel in m.get("added", []):
                fv = int(addv.get(rel, v))
                if self.field_names and fv not in maps:
                    maps[fv] = _alias_resolution(
                        chain, self.field_names, fv, self.declared_version
                    )
                parts.append(
                    _FilePartition(
                        os.path.join(self.path, rel),
                        resolve=maps.get(fv, {}),
                    )
                )
        return parts

    def read(self, partition: _FilePartition) -> Iterator:
        import pyarrow as pa
        import pyarrow.parquet as pq

        declared = self.field_names
        resolve = getattr(partition, "resolve", {}) or {}
        for batch in pq.ParquetFile(partition.abs_path).iter_batches():
            names = batch.schema.names
            if not declared or names == declared:
                yield batch
                continue
            # Map each physical name to its declared name EXPLICITLY
            # via the file-vintage rename map — never positionally: a
            # file rewritten with a different projection order, or an
            # evolved schema with the same arity, would otherwise be
            # silently mislabeled (ADVICE r8).
            mapped = [resolve.get(n) for n in names]
            live = [m_ for m_ in mapped if m_ is not None]
            if len(set(live)) != len(live):
                raise RuntimeError(
                    f"txlogstream: file {partition.abs_path!r} columns "
                    f"{names} map ambiguously onto the declared schema "
                    f"{declared}; refusing to relabel by position"
                )
            if len(names) != len(declared):
                # schema-evolution vintage (column added later / the
                # file predates a widened schema): relabel what maps —
                # a renamed column must surface under its DECLARED name
                # even here (review r9, first pass) — and keep unmapped
                # extras as-is; the engine reconciles arity against the
                # declared schema
                out_names = [
                    m_ if m_ is not None else n
                    for n, m_ in zip(names, mapped)
                ]
                yield pa.RecordBatch.from_arrays(
                    [batch.column(i) for i in range(len(names))],
                    names=out_names,
                )
                continue
            if None in mapped:
                raise RuntimeError(
                    f"txlogstream: file {partition.abs_path!r} carries "
                    f"columns {names} which are neither the declared "
                    f"schema {declared} nor a rename-chain vintage of "
                    "it; refusing to relabel by position"
                )
            cols = {m_: batch.column(i) for i, m_ in enumerate(mapped)}
            yield pa.RecordBatch.from_arrays(
                [cols[d] for d in declared], names=list(declared)
            )

    def commit(self, end: dict) -> None:
        pass  # offsets live in the query checkpoint; nothing to clean


class TxLogStreamDataSource(DataSource):
    """format("txlogstream"): options `path` (required),
    `ignore_changes` and `ignore_deletes` ("true"/"false", default
    false — the Delta ignoreChanges/ignoreDeletes split: rewrites vs
    pure retractions)."""

    @classmethod
    def name(cls) -> str:
        return "txlogstream"

    def schema(self) -> StructType:
        path = self.options["path"]
        vs = log_versions(path)
        for v in reversed(vs):
            m = load_manifest(path, v)
            if "schema" in m:
                # remember the vintage this schema belongs to — the
                # reader's rename math is relative to it (review r9,
                # third pass: a rename committed between schema() and
                # streamReader() must count as mid-stream)
                self._schema_version = vs[-1]
                return StructType.fromJson(m["schema"])
        raise RuntimeError(f"no schema-bearing manifest in {path}")

    def streamReader(self, schema: StructType) -> TxLogStreamReader:
        return TxLogStreamReader(
            self.options["path"],
            str(self.options.get("ignore_changes", "false")).lower() == "true",
            str(self.options.get("ignore_deletes", "false")).lower() == "true",
            field_names=list(schema.fieldNames()),
            declared_version=getattr(self, "_schema_version", None),
        )
