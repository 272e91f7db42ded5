"""Spark Python DataSource over encoded tables — ``spark.read
.format("mojap_encoded")``, SQL ``USING mojap_encoded``, ``df.write
.format("mojap_encoded")`` and ``spark.readStream`` on one registration.

This is the engine's *catalog-free Iceberg moment*: the encoded layout
(chunks + sidecar manifest + plan.json + optional snapshots) becomes a
first-class Spark table usable from plain SQL, with the engine's
metadata pruning wired into Catalyst's filter pushdown:

- **Batch read** (:class:`EncodedTableReader`): one input partition
  per surviving chunk file. ``pushFilters`` (Spark 4.1) translates
  supported predicates — (in)equalities and ``IN`` on stats-eligible
  columns — into the same zone-map + key-Bloom prune
  ``decode_table`` uses, so ``SELECT ... WHERE doc_id = 'x'`` from
  SQL touches O(1) chunk files on a 100-TB table. EVERY filter is
  also returned to Spark for post-scan evaluation: pruning is purely
  an elimination optimization and row-level correctness never depends
  on it (the conservative contract all engine pruning follows).
  ``option("as_of", v)`` time-travels via the snapshot layer.
- **Batch write** (:class:`EncodedTableWriter`): the shuffle-free
  file-aligned encode shape (one task partition -> one chunk via
  ``write_chunk``), commit protocol = data + sidecars first,
  ``plan.json`` last on the driver (readers recognize the table only
  once the plan commits; task retries overwrite their own chunk id —
  write-once-per-identity idempotence).
- **Streaming read** (:class:`EncodedTableStreamReader`): offsets are
  snapshot versions; each micro-batch serves the chunks APPENDED
  between two committed versions (sidecar ``replaces`` empty —
  rewrite outputs carry pre-existing rows and are not new data). The
  append-only semantics every log-structured streaming source has
  (Delta/Iceberg streaming reads); requires
  ``encode_table(track_snapshots=True)``.

Scale shape: planning (partition listing, pruning, snapshot diffs)
runs on the driver over sidecar metadata — file names and typed
min/max only, through the same ``decode._live_pruned_files`` scan
every read uses; chunk payloads are
only ever opened inside ``read()`` on executors, decoded by the
package codec kernels straight to Arrow batches.

Reference parity: the reference is a pandas-facade library with no SQL
surface at all (/root/reference/arrow_pd_parser/__init__.py exposes
``reader``/``writer`` objects); this generalizes its "read any
supported format through one facade" idea to Spark's own source API.
"""

from __future__ import annotations

import json

import pyarrow as pa

from pyspark.sql.datasource import (
    DataSource,
    DataSourceArrowWriter,
    DataSourceReader,
    DataSourceStreamReader,
    EqualTo,
    Filter,
    GreaterThan,
    GreaterThanOrEqual,
    In,
    InputPartition,
    IsNotNull,
    IsNull,
    LessThan,
    LessThanOrEqual,
    WriterCommitMessage,
)
from pyspark.sql.types import StructType

from . import fsio

FORMAT_NAME = "mojap_encoded"


def register(spark) -> None:
    """Register the format with a session: after this,
    ``spark.read.format("mojap_encoded")`` and SQL
    ``CREATE TABLE ... USING mojap_encoded OPTIONS (path '...')``
    resolve. Also enables Python-source filter pushdown — Spark
    REFUSES to scan a source that implements ``pushFilters`` while
    ``spark.sql.python.filterPushdown.enabled`` is false, rather than
    silently skipping the pushdown."""
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    spark.dataSource.register(EncodedTableDataSource)


def _require_path(options) -> str:
    p = options.get("path")
    if not p:
        raise ValueError(
            f"{FORMAT_NAME} requires a path: .load('<dir>') or "
            "OPTIONS (path '<dir>')"
        )
    return p


class _ChunkPartition(InputPartition):
    def __init__(self, file: str):
        self.file = file


def _read_partition(reader, partition: _ChunkPartition):
    """Decoded batches of one chunk file in the reader's schema — the
    executor side of the batch and the streaming scan."""
    from ..operators.decode import arrow_columns, decode_chunk_file

    names, arrow_types = arrow_columns(reader.schema)
    t = decode_chunk_file(
        fsio.join(reader.path, "chunks", partition.file),
        names, arrow_types, reader.verify,
    )
    yield from t.to_batches()


class EncodedTableReader(DataSourceReader):
    """Batch scan with zone-map/bloom pushdown (see module docstring)."""

    def __init__(self, options, schema: StructType):
        self.path = _require_path(options)
        self.schema = schema
        self.verify = str(options.get("verify_checksums", "true")).lower() != "false"
        self.as_of = None
        if options.get("as_of"):
            from ..operators.snapshots import resolve_version

            raw = options["as_of"]
            try:
                raw = int(raw)
            except ValueError:
                pass  # a tag name
            self.as_of = resolve_version(self.path, raw)
        from ..operators.decode import load_plan

        self.plan = load_plan(self.path)
        self.key = self.plan.get("key")
        # pushFilters accumulates into these; both feed the same prune
        # decode_table uses
        self._bounds: dict[str, list] = {}  # col -> [lo | None, hi | None]
        self._key_in: list | None = None
        self._null_cols: list[str] = []
        self._not_null_cols: list[str] = []

    # -- pushdown ----------------------------------------------------
    def pushFilters(self, filters: list[Filter]):
        table_cols = set(StructType.fromJson(
            json.loads(self.plan["schema_json"])
        ).fieldNames())
        for f in filters:
            attr = getattr(f, "attribute", None)
            if not attr or len(attr) != 1 or attr[0] not in table_cols:
                continue
            col = attr[0]
            if isinstance(f, EqualTo):
                self._narrow(col, f.value, f.value)
                if col == self.key:
                    self._add_key_in([f.value])
            elif isinstance(f, (GreaterThan, GreaterThanOrEqual)):
                self._narrow(col, f.value, None)
            elif isinstance(f, (LessThan, LessThanOrEqual)):
                self._narrow(col, None, f.value)
            elif isinstance(f, In):
                vals = [v for v in f.value if v is not None]
                if vals:
                    self._narrow(col, min(vals), max(vals))
                    if col == self.key:
                        self._add_key_in(vals)
            elif isinstance(f, IsNull):
                self._null_cols.append(col)
            elif isinstance(f, IsNotNull):
                self._not_null_cols.append(col)
        # every filter goes back to Spark: the scan prunes FILES, Spark
        # filters ROWS — correctness never rides on the pushdown
        return filters

    def _narrow(self, col: str, lo, hi):
        b = self._bounds.setdefault(col, [None, None])
        if lo is not None and (b[0] is None or lo > b[0]):
            b[0] = lo
        if hi is not None and (b[1] is None or hi < b[1]):
            b[1] = hi

    def _add_key_in(self, vals):
        self._key_in = sorted(
            set(vals) | set(self._key_in or []), key=lambda v: (str(type(v)), v)
        )

    # -- planning ----------------------------------------------------
    def _closed_wheres(self) -> list[tuple]:
        """Pushed bounds -> fully closed (col, lo, hi) triples; an open
        side closes with the column's manifest-global min/max (one
        serial stats fold), or the predicate is skipped (no prune —
        Spark still row-filters)."""
        open_cols = [
            c for c, (lo, hi) in self._bounds.items() if lo is None or hi is None
        ]
        glob: dict[str, dict] = {}
        if open_cols:
            from ..operators.decode import table_stats

            try:
                glob = table_stats(None, self.path, columns=open_cols)["columns"]
            except (KeyError, IOError):
                glob = {}
        out = []
        for col, (lo, hi) in self._bounds.items():
            if lo is None:
                lo = (glob.get(col) or {}).get("min")
            if hi is None:
                hi = (glob.get(col) or {}).get("max")
            if lo is None or hi is None:
                continue
            out.append((col, lo, hi))
        return out

    def partitions(self):
        from ..operators.decode import _live_pruned_files

        files = _live_pruned_files(
            None,
            self.path,
            self.plan,
            None,
            self._closed_wheres(),
            key_in=self._key_in,
            as_of=self.as_of,
            where_null=self._null_cols,
            where_not_null=self._not_null_cols,
        )
        if files is None:  # no sidecars: serve the raw directory
            files = [
                f
                for f, _sz in fsio.list_files(fsio.join(self.path, "chunks"))
                if f.endswith(".parquet")
            ]
        return [_ChunkPartition(f) for f in sorted(files)]

    # -- execution ---------------------------------------------------
    def read(self, partition: _ChunkPartition | None):
        if partition is None:  # Spark's placeholder for a pruned-empty scan
            return
        yield from _read_partition(self, partition)


class _ChunkCommit(WriterCommitMessage):
    def __init__(self, chunk_id: int, n_rows: int):
        self.chunk_id = chunk_id
        self.n_rows = n_rows


class EncodedTableWriter(DataSourceArrowWriter):
    """One task partition -> one encoded chunk (the shuffle-free
    file-aligned shape, Arrow batches end-to-end); plan.json commits
    LAST on the driver."""

    def __init__(self, options, schema: StructType, overwrite: bool):
        self.path = _require_path(options)
        self.schema = schema
        self.key = options.get("key", "doc_id")
        plan_path = fsio.join(self.path, "plan.json")
        if overwrite:
            # _staging/_commits included: a prior table that crashed in
            # the commit-marker window would otherwise leave committed
            # staged sidecars visible to the NEW table's scans,
            # referencing deleted chunk files (every read would raise
            # "damaged")
            for sub in ("chunks", "manifest", "manifest.parquet",
                        "_snapshots", "_staging", "_commits"):
                fsio.delete_dir(fsio.join(self.path, sub))
            if fsio.exists(plan_path):
                fs, p = fsio.resolve(plan_path)
                fs.delete_file(p)
        elif fsio.exists(plan_path):
            raise ValueError(
                f"{self.path!r} already holds an encoded table; use "
                "mode('overwrite') to replace it, or encode_append for "
                "incremental ingest"
            )
        fsio.makedirs(fsio.join(self.path, "chunks"))
        fsio.makedirs(fsio.join(self.path, "manifest"))

    def write(self, iterator):
        from pyspark import TaskContext

        from ..operators.encode import write_chunk

        chunk_id = TaskContext.get().partitionId()
        batches = list(iterator)
        if not batches or not sum(b.num_rows for b in batches):
            return _ChunkCommit(chunk_id, 0)
        table = pa.Table.from_batches(batches)
        write_chunk(
            table, chunk_id, self.key,
            fsio.join(self.path, "chunks"), fsio.join(self.path, "manifest"),
        )
        return _ChunkCommit(chunk_id, table.num_rows)

    def commit(self, messages):
        n = len([m for m in messages if m is not None and m.n_rows])
        key_type = (
            self.schema[self.key].dataType.simpleString()
            if self.key in self.schema.fieldNames()
            else None
        )
        fsio.write_json_atomic(
            fsio.join(self.path, "plan.json"),
            {
                "version": 1,
                "mode": "datasource",
                "key": self.key,
                "key_type": key_type,
                "n_chunks": n,
                "schema_json": self.schema.json(),
            },
        )

    def abort(self, messages):
        # leave data for post-mortem; without plan.json the directory
        # is not a table, and overwrite mode resets it wholesale
        pass


class _VersionOffset(dict):
    pass


class EncodedTableStreamReader(DataSourceStreamReader):
    """Append-only streaming read over snapshot history (see module
    docstring)."""

    def __init__(self, options, schema: StructType):
        self.path = _require_path(options)
        self.schema = schema
        self.verify = str(options.get("verify_checksums", "true")).lower() != "false"
        # Delta-parity rewrite handling: a DELETE/MERGE/compaction in
        # the stream window replaces chunks whose rows were (partly)
        # already streamed. Default = fail loudly; ignoreDeletes skips
        # rewrite outputs (caller accepts losing rows appended-then-
        # rewritten inside ONE window); ignoreChanges re-emits rewrite
        # outputs (caller dedups downstream — rows may repeat).
        self.ignore_changes = (
            str(options.get("ignorechanges", "false")).lower() == "true"
        )
        self.ignore_deletes = (
            str(options.get("ignoredeletes", "false")).lower() == "true"
        )
        from ..operators.snapshots import list_snapshots, tracking_enabled

        if not tracking_enabled(self.path):
            raise ValueError(
                f"streaming reads need snapshot tracking: encode "
                f"{self.path!r} with encode_table(track_snapshots=True)"
            )
        self._list_snapshots = list_snapshots

    def initialOffset(self) -> dict:
        return {"version": 0}

    def latestOffset(self) -> dict:
        snaps = self._list_snapshots(self.path)
        return {"version": snaps[-1]["version"] if snaps else 0}

    def _members(self, version: int) -> set[int]:
        if version <= 0:
            return set()
        from ..operators.snapshots import read_snapshot_arrow

        return set(read_snapshot_arrow(self.path, version)
                   .column("chunk_id").to_pylist())

    def partitions(self, start: dict, end: dict):
        v0, v1 = int(start["version"]), int(end["version"])
        if v1 <= v0:
            return []
        from ..operators.encode import scan_done_chunks

        new_ids = self._members(v1) - self._members(v0)
        if not new_ids:
            return []
        side = scan_done_chunks(self.path)
        out = []
        for cid in sorted(new_ids):
            m = side.get(cid)
            if m is None:
                raise IOError(
                    f"streaming read of {self.path!r}: snapshot chunk "
                    f"{cid} has no sidecar (expired under the reader?)"
                )
            if m.get("replaces"):
                # rewrite output (DELETE/MERGE/compaction): carries
                # pre-existing rows, possibly already streamed
                if self.ignore_changes:
                    out.append(_ChunkPartition(m["file"]))
                elif not self.ignore_deletes:
                    raise ValueError(
                        f"streaming read of {self.path!r}: chunks were "
                        f"rewritten between versions {v0} and {v1} "
                        "(DELETE/MERGE/compaction). Streaming a rewrite "
                        "is ambiguous: set option ignoreChanges=true to "
                        "re-emit rewritten chunks (downstream must "
                        "dedup), or ignoreDeletes=true to skip them "
                        "(rows appended then rewritten inside one "
                        "window are not emitted)."
                    )
                continue
            out.append(_ChunkPartition(m["file"]))
        return out

    def read(self, partition: _ChunkPartition | None):
        if partition is None:
            return
        yield from _read_partition(self, partition)

    def commit(self, end: dict) -> None:
        pass

    def stop(self) -> None:
        pass


class EncodedTableDataSource(DataSource):
    """``mojap_encoded`` — batch read/write + streaming read over the
    engine's encoded-table layout."""

    @classmethod
    def name(cls) -> str:
        return FORMAT_NAME

    def schema(self) -> StructType:
        from ..operators.decode import load_plan

        plan = load_plan(_require_path(self.options))
        return StructType.fromJson(json.loads(plan["schema_json"]))

    def reader(self, schema: StructType) -> EncodedTableReader:
        return EncodedTableReader(self.options, schema)

    def writer(self, schema: StructType, overwrite: bool) -> EncodedTableWriter:
        return EncodedTableWriter(self.options, schema, overwrite)

    def streamReader(self, schema: StructType) -> EncodedTableStreamReader:
        return EncodedTableStreamReader(self.options, schema)
