"""Distributed decode + round-trip verification (N8, N14).

Decode reads the encoded chunk files (ordinary parquet scan — column
pruning applies: verifying only ``doc_id`` prunes every other payload),
groups rows by chunk and reassembles the original columns via the codec
kernels inside one ``applyInArrow``. Checksums are verified per column
payload before decoding.

``verify_roundtrip`` is the engine's flagship invariant — the
generalization of the reference's round-trip matrix
(/root/reference/tests/test_round_trip.py:40-74,
``assert_frame_equal(original, final)``): decode(encode(x)) must be
bit-identical per row, checked distributed with a null-safe
column-by-column comparison after an equi-join on the key (token-array
equality is native in Spark — no UDF).
"""

from __future__ import annotations

import json
import zlib

import pyarrow as pa

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from ..sources import fsio


def load_plan(out_dir: str) -> dict:
    return fsio.read_json(fsio.join(out_dir, "plan.json"))


def decode_table(
    spark: SparkSession,
    out_dir: str,
    columns: list[str] | None = None,
    verify_checksums: bool = True,
    key_range: tuple | None = None,
    where: tuple | list | None = None,
    key_in: list | None = None,
    as_of: int | str | None = None,
    where_null: list[str] | None = None,
    where_not_null: list[str] | None = None,
) -> DataFrame:
    """Decode an encoded table back to its original schema (lazy).

    ``key_range=(lo, hi)`` prunes CHUNK FILES via the manifest's
    per-chunk key_min/key_max (the engine's zone map — the same trick
    parquet row-group stats / Iceberg manifests use): only overlapping
    chunks are scanned at all, then an exact row filter applies after
    decode. A point/range lookup on a 100-TB table touches O(range)
    chunk files instead of all of them. Manifest min/max compare as
    strings, so pruning applies only when the sort key is a string
    type (everything else falls back to decode-all + row filter).

    ``where=(col, lo, hi)`` is the generalization to ANY eligible
    column via the sidecars' per-COLUMN zone map (Iceberg
    column-stats analog, ``col_stats``): chunks whose recorded typed
    [min, max] for ``col`` is disjoint with [lo, hi] are never
    scanned, then the exact ``between`` row filter applies after
    decode. Pruning only fires when the recorded bounds and the query
    bounds are the same type family (numeric-to-numeric or
    string-to-string) — chunks without comparable stats decode
    normally and rely on the row filter. A LIST of (col, lo, hi)
    triples is a CONJUNCTION: each predicate prunes independently
    (a chunk survives only if every predicate may match) and the row
    filters AND together.

    ``key_in=[v, ...]`` is the POINT-LOOKUP path: chunks are kept only
    if some probe value lands inside the chunk's typed key zone map
    AND passes its key Bloom filter (functions/bloom.py) — on tables
    whose chunks overlap in key range (appended generations, salted
    tables) the bloom prunes what min-max can't. Exact ``isin`` row
    filter after decode; correctness never depends on the filter.

    ``as_of=version`` TIME-TRAVELS: the chunk membership comes from
    that retained snapshot (operators/snapshots.py) instead of the
    current live view, so the decode reproduces the table exactly as
    of that committed version — deletes/upserts/compactions since are
    invisible. Requires the table to track snapshots and the version
    to not be expired; zone-map/bloom pruning applies as usual.

    ``where_null`` / ``where_not_null`` are IS NULL / IS NOT NULL
    filters by column name: chunks whose recorded per-column null
    count (sidecar ``col_nulls``) PROVES no match are never scanned —
    an ``IS NULL`` probe on a schema-evolved column touches only the
    pre-evolution chunks — then the exact row filter applies.
    """
    plan = load_plan(out_dir)
    if as_of is not None:
        from .snapshots import resolve_version

        as_of = resolve_version(out_dir, as_of)  # int or tag name
    wheres = _norm_wheres(where)
    nulls_w = list(where_null or [])
    not_nulls_w = list(where_not_null or [])
    full_schema = StructType.fromJson(json.loads(plan["schema_json"]))
    names = columns or [f.name for f in full_schema.fields]
    key = plan.get("key")
    if key_range is not None or key_in is not None:
        # a key filter against a table whose schema lacks the plan key
        # (DataSource-written without it, empty plan key) would
        # silently no-op and return every row — fail loudly instead
        if not key or key not in {f.name for f in full_schema.fields}:
            raise ValueError(
                f"key_range/key_in require the plan key ({key!r}) to be "
                "a column of the table schema; this table cannot serve "
                "key lookups"
            )
    key_added = (
        (key_range is not None or key_in is not None)
        and key and key not in names
    )
    if key_added:
        names = list(names) + [key]  # needed for the row-level filter
    where_added = list(dict.fromkeys(
        [w[0] for w in wheres] + nulls_w + not_nulls_w
    ))
    where_added = [c for c in where_added if c not in names]
    names = list(names) + where_added
    out_schema = StructType([f for f in full_schema.fields if f.name in names])

    # Manifest-driven file list (live view, or the as_of snapshot's
    # membership): compaction-superseded chunks and stray files are
    # invisible; key_range/where/key_in prune via the per-chunk zone
    # maps + bloom filters. A LIVE sidecar whose chunk file is
    # missing or size-mismatched is table damage — fail loudly
    # instead of silently returning fewer rows.
    keep_files = _live_pruned_files(
        spark, out_dir, plan, key_range, wheres, key_in=key_in, as_of=as_of,
        where_null=nulls_w, where_not_null=not_nulls_w,
    )
    if keep_files is not None:
        if not keep_files:
            # Match the non-empty path's final schema: columns pulled
            # in only for the key_range/where row filter are dropped
            # there, so they must not appear here either — otherwise
            # downstream unions/writes would see a data-dependent schema.
            dropped = set(where_added)
            if key_added:
                dropped.add(key)
            empty_schema = StructType(
                [f for f in out_schema.fields if f.name not in dropped]
            )
            return spark.createDataFrame([], empty_schema)
        paths = [fsio.join(out_dir, "chunks", f) for f in keep_files]
    else:
        # no sidecars (foreign writer) -> fall back to the directory
        paths = None
    enc = _read_enc_rows(spark, out_dir, paths, names)
    decoded = decode_rows_df(enc, out_schema, verify_checksums)
    have = [f.name for f in out_schema.fields]
    if key_range is not None and key in have:
        decoded = decoded.filter(F.col(key).between(key_range[0], key_range[1]))
    if key_in is not None and key in have:
        decoded = decoded.filter(F.col(key).isin(list(key_in)))
    if key_added:  # the key was only pulled in for the filter
        decoded = decoded.drop(key)
    for col, lo, hi in wheres:
        decoded = decoded.filter(F.col(col).between(lo, hi))
    for col in nulls_w:
        decoded = decoded.filter(F.col(col).isNull())
    for col in not_nulls_w:
        decoded = decoded.filter(F.col(col).isNotNull())
    for col in where_added:  # columns pulled in only for the filter
        decoded = decoded.drop(col)
    return decoded


def _norm_wheres(where) -> list[tuple]:
    """Normalize the ``where`` argument: None -> [], a single
    (col, lo, hi) triple -> [triple], a list of triples -> itself
    (each element validated)."""
    if where is None:
        return []
    if isinstance(where, tuple):
        where = [where]
    out = []
    for w in where:
        if len(w) != 3:
            raise ValueError(f"where predicate must be (col, lo, hi): {w!r}")
        out.append((w[0], w[1], w[2]))
    return out


#: projection of a chunk file the decode consumes (codec/n_rows/...
#: byte-accounting columns pruned at the parquet read on every path)
_ENC_ROWS_COLS = ["chunk_id", "column", "meta", "payload", "crc32"]
_ENC_ROWS_SCHEMA = (
    "chunk_id int, column string, meta string, payload binary, crc32 string"
)


def _read_enc_rows(
    spark: SparkSession, out_dir: str, paths: list[str] | None, names: list[str]
) -> DataFrame:
    """Encoded rows of the chunk files ``paths`` (None: every file under
    ``chunks/``), restricted to the ``names`` columns. A JVM parquet
    scan when the JVM resolves the scheme; otherwise (an object store
    without a JVM connector, e.g. s3:// and no hadoop-aws) distributed
    pyarrow reads with the same scaling shape."""
    from .encode import jvm_handles_scheme

    chunks_dir = fsio.join(out_dir, "chunks")
    if jvm_handles_scheme(spark, out_dir):
        enc = spark.read.parquet(*(paths if paths is not None else [chunks_dir]))
        return enc.filter(F.col("column").isin(names)).select(*_ENC_ROWS_COLS)
    if paths is None:
        paths = [
            fsio.join(chunks_dir, f)
            for f, _sz in fsio.list_files(chunks_dir)
            if f.endswith(".parquet")
        ]
    return _read_enc_rows_arrow(spark, paths, names)


def _read_enc_rows_arrow(
    spark: SparkSession, paths: list[str], names: list[str]
) -> DataFrame:
    """Encoded-rows DataFrame via DISTRIBUTED pyarrow parquet reads, for
    chunk URIs the JVM has no FileSystem for. The driver ships only
    file names; each task opens its files through ``pyarrow.fs`` (the
    same endpoint/credential resolution as fsio's write path), pushing
    the column projection AND the ``column IN names`` filter into the
    parquet read so unqueried payloads are never fetched. One file's
    batches stream contiguously, preserving the chunk-contiguity
    decode_rows_df's regroup relies on."""
    sel = list(names)

    def read_files(batches):
        import pyarrow.parquet as _pq

        target = pa.schema(
            [
                ("chunk_id", pa.int32()),
                ("column", pa.string()),
                ("meta", pa.string()),
                # Spark's BinaryType arrow mapping (batches from a
                # chunk file total ~MBs — far under binary's 2 GiB cap)
                ("payload", pa.binary()),
                ("crc32", pa.string()),
            ]
        )
        for b in batches:
            for path in b.column("path").to_pylist():
                fs, p = fsio.resolve(path)
                t = _pq.read_table(
                    p,
                    filesystem=fs,
                    columns=_ENC_ROWS_COLS,
                    filters=[("column", "in", sel)],
                )
                yield from t.cast(target).to_batches()

    fdf = spark.createDataFrame([(p,) for p in paths], "path string")
    fdf = fdf.repartition(
        max(1, min(len(paths), spark.sparkContext.defaultParallelism))
    )
    return fdf.mapInArrow(read_files, schema=_ENC_ROWS_SCHEMA)


def _key_probe_hashes(plan: dict, key_in: list):
    """Precomputed (h1, h2) bloom probe hashes for the key_in values,
    or None when the plan key's type has no bloom support (probe and
    build MUST agree on the hash input dtype — functions/bloom.py)."""
    from ..functions import bloom as _bloom

    kind = _bloom.key_kind(str(plan.get("key_type") or ""))
    if kind is None:
        return None
    vals = [v for v in key_in if v is not None]
    if not vals:
        return None
    try:
        return _bloom.probe_hashes(vals, kind)
    except (TypeError, ValueError):
        return None  # e.g. non-int values against an int key: no bloom


def _live_pruned_files(
    spark: SparkSession,
    out_dir: str,
    plan: dict,
    key_range: tuple | None,
    where: tuple | list | None,
    key_in: list | None = None,
    as_of: int | None = None,
    where_null: list[str] | None = None,
    where_not_null: list[str] | None = None,
) -> list[str] | None:
    """LIVE chunk file names surviving zone-map/bloom pruning — or,
    with ``as_of``, the SNAPSHOT's members — or ``None`` when the
    table has no usable sidecars (foreign writer -> caller falls back
    to a directory read). Raises ``IOError`` on damage (any selected
    sidecar whose chunk file is absent/size-mismatched — checked
    BEFORE pruning, so a damaged table never half-answers) and on a
    snapshot member whose sidecar is gone (expired out from under the
    reader).

    One driver-side pass at every table size: one
    :func:`encode.scan_sidecars` (sidecar reads plus one chunk-dir
    listing for verification), the compaction view or snapshot
    membership, then the key/col_stats zone-map, null-count and bloom
    rules on each sidecar dict. ``spark`` is accepted but unused.
    """
    from ..functions import bloom as _bloom
    from .encode import live_chunks, scan_sidecars

    wheres = _norm_wheres(where)
    key = plan.get("key")
    # NULL probe values can't match any row (SQL IN semantics) and
    # would break the sort — drop them before pruning
    in_vals = (
        sorted({v for v in key_in if v is not None}) if key_in else None
    )
    probes = _key_probe_hashes(plan, in_vals) if in_vals else None

    side = scan_sidecars(out_dir)
    if as_of is not None:
        from .snapshots import read_snapshot_arrow

        snap_ids = set(
            read_snapshot_arrow(out_dir, as_of).column("chunk_id").to_pylist()
        )
        live = {cid: m for cid, m in side.items() if cid in snap_ids}
        gone = snap_ids - set(live)
        if gone:
            raise IOError(
                f"snapshot v{as_of} at {out_dir!r} references chunks "
                f"whose sidecars are gone (GC raced an expired "
                f"snapshot?): {sorted(gone)[:20]}"
            )
    else:
        live = live_chunks(side)
    if not live:
        return None if as_of is None else []
    bad = [cid for cid, m in live.items() if not m["_verified"]]
    if bad:
        raise IOError(
            f"encoded table at {out_dir!r} is damaged or incomplete: "
            f"chunk file size mismatch / missing for chunk ids {sorted(bad)}"
        )
    keep = list(live.values())
    # Prune ONLY when the plan explicitly recorded a string key:
    # manifest key_min/key_max compare lexicographically, which is
    # wrong for numeric keys ('9' > '100') — those decode all
    # chunks and rely on the exact row filter after decode.
    if key_range is not None and plan.get("key_type") == "string":
        lo, hi = key_range
        keep = [
            m for m in keep
            if not (m["key_max"] < str(lo) or m["key_min"] > str(hi))
        ]
    for w in wheres:
        keep = [m for m in keep if _col_stats_overlap(m, w)]
    for c in where_null or []:
        keep = [m for m in keep if _null_count_of(m, c) != 0]
    for c in where_not_null or []:
        keep = [
            m for m in keep
            if (n := _null_count_of(m, c)) is None
            or n < int(m.get("n_rows") or 0)
        ]
    if in_vals:
        if len(in_vals) <= _KEY_IN_EXPR_MAX:
            keep = [
                m for m in keep
                if any(_col_stats_overlap(m, (key, v, v)) for v in in_vals)
            ]
        else:
            keep = [
                m for m in keep
                if _col_stats_overlap(m, (key, in_vals[0], in_vals[-1]))
            ]
        if probes is not None:
            h1, h2 = probes
            keep = [
                m for m in keep
                if _bloom.maybe_contains_any(
                    _parse_bloom(m.get("key_bloom")), h1, h2
                )
            ]
    return [m["file"] for m in keep]


def _null_count_of(m: dict, col: str) -> int | None:
    """Recorded null count of ``col`` in chunk ``m``: the sidecar
    value, the chunk's full row count when the column is absent from
    the chunk (schema evolution reads back all-null), or None when the
    sidecar predates null accounting (unknown -> caller keeps)."""
    raw = m.get("col_nulls")
    if raw is None:
        return None
    try:
        d = json.loads(raw)
        return int(d.get(col, m.get("n_rows") or 0))
    except (TypeError, ValueError, json.JSONDecodeError):
        return None


def _parse_bloom(raw) -> dict | None:
    """Sidecar ``key_bloom`` JSON string -> dict, None-safe."""
    if not raw:
        return None
    try:
        b = json.loads(raw)
        return b if isinstance(b, dict) else None
    except (TypeError, json.JSONDecodeError):
        return None


#: above this many key_in probe values the per-value zone-map check
#: collapses to one [min, max] range check; the Bloom filter still
#: tests every value individually
_KEY_IN_EXPR_MAX = 64


def _where_bound_strs(lo, hi, tag: str) -> tuple[str, str] | None:
    """Render query bounds into the stat-string domain of a TAGGED
    zone map ([min, max, tag] — see encode._col_min_max), or None when
    the bound types don't belong to that domain (never prune cross-
    type). Exactness: decimals compare as decimal.Decimal; ts/date
    bounds use the same fixed-width ISO rendering as the stats, where
    lexicographic order is chronological."""
    import datetime as _dt
    import decimal as _decimal

    from .encode import _ts_stat_str

    if tag == "dec":
        ok = (int, float, _decimal.Decimal)
        if (isinstance(lo, ok) and isinstance(hi, ok)
                and not isinstance(lo, bool) and not isinstance(hi, bool)):
            # Decimal(float) is the float's exact binary value — exact
            return str(_decimal.Decimal(lo)), str(_decimal.Decimal(hi))
        return None
    if tag == "ts":
        if isinstance(lo, _dt.datetime) and isinstance(hi, _dt.datetime):
            lo_s, hi_s = _ts_stat_str(lo), _ts_stat_str(hi)
            if lo_s is not None and hi_s is not None:
                return lo_s, hi_s
        return None
    if tag == "date":
        if (isinstance(lo, _dt.date) and not isinstance(lo, _dt.datetime)
                and isinstance(hi, _dt.date) and not isinstance(hi, _dt.datetime)):
            return lo.isoformat(), hi.isoformat()
        return None
    return None


def _col_stats_overlap(m: dict, where: tuple) -> bool:
    """True if chunk ``m`` may contain rows with where[0] in
    [where[1], where[2]] — i.e. prune ONLY on a provably-disjoint
    typed zone map; missing/incomparable stats keep the chunk."""
    import decimal as _decimal

    col, lo, hi = where
    try:
        stats = json.loads(m.get("col_stats") or "{}")
    except (TypeError, json.JSONDecodeError):
        return True
    mm = stats.get(col)
    if not mm:
        return True
    if len(mm) == 3:  # tagged domain: dec / ts / date
        mn, mx, tag = mm
        try:
            if tag == "dec":
                bounds = _where_bound_strs(lo, hi, "dec")
                if bounds is None:
                    return True
                lo_d = _decimal.Decimal(bounds[0])
                hi_d = _decimal.Decimal(bounds[1])
                return not (
                    _decimal.Decimal(mx) < lo_d or _decimal.Decimal(mn) > hi_d
                )
            bounds = _where_bound_strs(lo, hi, tag)
            if bounds is None:
                return True
            return not (mx < bounds[0] or mn > bounds[1])
        except (_decimal.InvalidOperation, TypeError):
            return True  # malformed/foreign tagged stats: keep the chunk
    mn, mx = mm
    numeric = (int, float)
    if isinstance(mn, bool) or isinstance(lo, bool):
        return True  # bools never recorded; don't guess
    if isinstance(mn, numeric) and isinstance(lo, numeric) and isinstance(hi, numeric):
        return not (mx < lo or mn > hi)
    if isinstance(mn, str) and isinstance(lo, str) and isinstance(hi, str):
        return not (mx < lo or mn > hi)
    return True  # mixed types: never prune on a cross-type compare


def arrow_columns(schema: StructType) -> tuple[list[str], dict]:
    """(column names, {name: arrow type}) of a table schema: the shape
    :func:`decode_chunk` reads every chunk as."""
    from pyspark.sql.pandas.types import to_arrow_type

    return (
        [f.name for f in schema.fields],
        {f.name: to_arrow_type(f.dataType) for f in schema.fields},
    )


def decode_chunk(
    enc_rows: pa.Table,
    names: list[str],
    arrow_types: dict,
    verify_checksums: bool = True,
) -> pa.Table:
    """One chunk's encoded rows -> its decoded table with exactly the
    ``names`` columns, in that order. Every path reads chunks through
    this one function: decode_table / decode_files, the DataSource
    scans and the copy-on-write rewrites (compaction, DELETE, MERGE).

    Each column payload's CRC32 is checked before it is decoded
    (``IOError`` on a mismatch). Columns the chunk lacks — it was
    written before an additive schema evolution — read as typed nulls
    of ``arrow_types[name]`` (the Iceberg add-column semantics), so
    every chunk of a table yields the same schema. Encoded rows of
    columns outside ``names`` are skipped."""
    from ..functions.codecs import decode_array

    wanted = set(names)
    by_col = {}
    metas = enc_rows.column("meta").to_pylist()
    crcs = enc_rows.column("crc32").to_pylist()
    cols = enc_rows.column("column").to_pylist()
    payloads = enc_rows.column("payload")
    for i, name in enumerate(cols):
        if name not in wanted:
            continue
        payload = payloads[i].as_py()
        if verify_checksums and f"{zlib.crc32(payload):08x}" != crcs[i]:
            raise IOError(
                f"checksum mismatch decoding column {name!r} "
                f"(chunk {enc_rows.column('chunk_id')[0].as_py()})"
            )
        by_col[name] = decode_array(json.loads(metas[i]), payload)
    n_rows = len(next(iter(by_col.values()))) if by_col else 0
    arrays = [
        by_col[n] if n in by_col else pa.nulls(n_rows, type=arrow_types[n])
        for n in names
    ]
    return pa.Table.from_arrays(arrays, names=names)


def decode_chunk_file(
    path: str, names: list[str], arrow_types: dict, verify_checksums: bool
) -> pa.Table:
    """:func:`decode_chunk` over one chunk file, opened through
    ``pyarrow.fs`` (any scheme): the executor-side reader of the
    DataSource scans and the rewrite verbs."""
    import pyarrow.parquet as _pq

    fs, p = fsio.resolve(path)
    enc_rows = _pq.read_table(p, filesystem=fs, columns=_ENC_ROWS_COLS)
    return decode_chunk(enc_rows, names, arrow_types, verify_checksums)


def decode_rows_df(
    enc: DataFrame, out_schema: StructType, verify_checksums: bool = True
) -> DataFrame:
    """Core decode: encoded-rows DataFrame -> decoded rows via one
    mapInArrow pass (shared by batch decode_table and stream_decode),
    one :func:`decode_chunk` per chunk."""
    names, arrow_types = arrow_columns(out_schema)

    def decode_partition(batches):
        """Chunk files are single row groups, so batches arrive
        chunk-contiguous — stream-decode one chunk at a time (peak
        working set ~1 chunk, no shuffle at all on the decode path)."""
        from .regroup import iter_contiguous_groups

        for _cid, table in iter_contiguous_groups(batches, "chunk_id"):
            yield from decode_chunk(
                table, names, arrow_types, verify_checksums
            ).to_batches()

    return enc.mapInArrow(decode_partition, schema=out_schema)


def decode_files(
    spark: SparkSession,
    out_dir: str,
    files: list[str],
    columns: list[str] | None = None,
    verify_checksums: bool = True,
) -> DataFrame:
    """Decode an explicit subset of chunk FILES (names relative to
    ``<out_dir>/chunks``) — the incremental-scan primitive: snapshot
    diffs (:func:`snapshots.table_changes`) decode only the chunks
    whose membership changed between two versions, never the rest of
    the table. No liveness/zone logic here; the caller owns the file
    list."""
    plan = load_plan(out_dir)
    full_schema = StructType.fromJson(json.loads(plan["schema_json"]))
    names = columns or [f.name for f in full_schema.fields]
    out_schema = StructType([f for f in full_schema.fields if f.name in names])
    if not files:
        return spark.createDataFrame([], out_schema)
    paths = [fsio.join(out_dir, "chunks", f) for f in files]
    enc = _read_enc_rows(spark, out_dir, paths, names)
    return decode_rows_df(enc, out_schema, verify_checksums)


def _contains_map(dt) -> bool:
    from pyspark.sql.types import ArrayType, MapType, StructType

    if isinstance(dt, MapType):
        return True
    if isinstance(dt, ArrayType):
        return _contains_map(dt.elementType)
    if isinstance(dt, StructType):
        return any(_contains_map(f.dataType) for f in dt.fields)
    return False


def _canonical(col, dt):
    """Deterministically comparable view of a column: every MAP (at any
    nesting depth) becomes its key-sorted entries array. Spark forbids
    both hashing and equality on map types because map iteration order
    is unspecified — the sorted-entries view carries the same value
    with an orderable, hashable type. Non-map-bearing columns pass
    through untouched."""
    from pyspark.sql.types import ArrayType, MapType, StructType

    if not _contains_map(dt):
        return col
    if isinstance(dt, MapType):
        entries = F.transform(
            F.map_entries(col),
            lambda e: F.struct(
                e["key"].alias("key"),
                _canonical(e["value"], dt.valueType).alias("value"),
            ),
        )
        return F.array_sort(entries)
    if isinstance(dt, ArrayType):
        return F.transform(col, lambda e: _canonical(e, dt.elementType))
    if isinstance(dt, StructType):
        rebuilt = F.struct(
            *[
                _canonical(col[f.name], f.dataType).alias(f.name)
                for f in dt.fields
            ]
        )
        return F.when(col.isNotNull(), rebuilt)  # keep null struct slots
    return col


def _row_digest(df: DataFrame, cols: list[str]) -> DataFrame:
    """Order-insensitive multiset digest as a 1-row DataFrame:
    count + sum of per-row hashes.

    Collision bound: ~2^-64 per row pair, not ~2^-128. The second
    accumulator, ``h2 = xxhash64(h1, seed)``, is derived from h1, so
    two rows whose 64-bit h1 collide also collide in h2. What h2 adds
    is a nonlinear remix of the SUM: two differing multisets whose h1
    sums cancel by chance (with no per-row collision) still get
    independent h2 sums. Deriving h2 from h1 instead of re-hashing
    every column halves the dominant cost, hashing the wide token
    arrays. One narrow scan, NO shuffle/join.
    """
    by_name = {f.name: f.dataType for f in df.schema.fields}
    canon = [_canonical(F.col(c), by_name[c]) for c in cols]
    h1 = F.xxhash64(*canon)
    h2 = F.xxhash64(h1, F.lit(0x5EED))
    # decimal(38,0) accumulators: exact, no ANSI long-overflow
    return df.agg(
        F.count(F.lit(1)).alias("rows"),
        F.sum(h1.cast("decimal(38,0)")).alias("d1"),
        F.sum(h2.cast("decimal(38,0)")).alias("d2"),
    )


def verify_roundtrip(
    spark: SparkSession,
    original: DataFrame,
    out_dir: str,
    key: str = "doc_id",
    deep: bool = False,
) -> dict:
    """decode(encode(x)) == x, distributed. Returns summary counts.

    Fast path (default): order-insensitive multiset hash digest of all
    columns on both sides — two narrow scans, zero shuffle, scales
    linearly. On any digest mismatch (or ``deep=True``) it falls back
    to the row-level full-outer-join comparison to pinpoint rows.
    Raises AssertionError on any mismatching row.
    """
    decoded = decode_table(spark, out_dir)
    cols = list(original.columns)
    if not deep:
        # both digests in ONE job (union of two 1-row aggregates): the
        # original-side parquet scan and the decoded-side python decode
        # are independent subtrees, so their stages overlap instead of
        # running as two serial collects (guide §2.6)
        both = (
            _row_digest(original, cols).withColumn("_side", F.lit("o"))
            .unionAll(
                _row_digest(decoded.select(*cols), cols)
                .withColumn("_side", F.lit("d"))
            )
            .collect()
        )
        a = next(r for r in both if r["_side"] == "o")
        b = next(r for r in both if r["_side"] == "d")
        if (a["rows"], a["d1"], a["d2"]) == (b["rows"], b["d1"], b["d2"]):
            return {"rows": a["rows"], "mismatches": 0}
        # fall through to the deep check to locate the mismatch
    cmp_cols = [c for c in cols if c != key]
    by_name = {f.name: f.dataType for f in original.schema.fields}
    o = original.alias("o")
    d = decoded.alias("d")
    joined = o.join(d, F.col(f"o.{key}") == F.col(f"d.{key}"), "full_outer")
    mismatch_cond = (
        F.col(f"o.{key}").isNull() | F.col(f"d.{key}").isNull()
    )
    for c in cmp_cols:
        dt = by_name[c]
        lhs = _canonical(F.col(f"o.{c}"), dt)
        rhs = _canonical(F.col(f"d.{c}"), dt)
        mismatch_cond = mismatch_cond | ~lhs.eqNullSafe(rhs)
    agg = joined.agg(
        F.count(F.lit(1)).alias("rows"),
        F.sum(F.when(mismatch_cond, 1).otherwise(0)).alias("mismatches"),
    ).collect()[0]
    result = {"rows": agg["rows"], "mismatches": agg["mismatches"] or 0}
    if result["mismatches"]:
        sample = joined.filter(mismatch_cond).limit(5).collect()
        raise AssertionError(f"round-trip mismatch: {result} sample={sample}")
    return result


def encoded_size_report(out_dir: str) -> dict:
    """Total on-disk encoded bytes (LIVE chunk files) for the
    <=parquet bound; falls back to a directory sum without sidecars."""
    from .encode import live_chunks, scan_done_chunks

    live = live_chunks(scan_done_chunks(out_dir, columns=()))
    if live:
        return {"encoded_bytes": sum(m["file_bytes"] for m in live.values())}
    total = sum(
        size
        for name, size in fsio.list_files(fsio.join(out_dir, "chunks"))
        if name.endswith(".parquet")
    )
    return {"encoded_bytes": total}


def _stat_parse(mm: list, dt) -> tuple | None:
    """One chunk's recorded [min, max] (col_stats entry ``mm``) parsed
    into the COLUMN's python domain per the table schema type ``dt``,
    or None when the stat form and the schema type don't match (foreign
    /stale sidecar — treated as a missing stat)."""
    import datetime as _dt
    import decimal as _decimal

    from pyspark.sql import types as T

    try:
        if len(mm) == 3:
            lo_s, hi_s, tag = mm
            if tag == "dec" and isinstance(dt, T.DecimalType):
                return _decimal.Decimal(lo_s), _decimal.Decimal(hi_s)
            if tag == "ts" and isinstance(dt, T.TimestampType):
                from .encode import _TS_STAT_FMT

                return (
                    _dt.datetime.strptime(lo_s, _TS_STAT_FMT),
                    _dt.datetime.strptime(hi_s, _TS_STAT_FMT),
                )
            if tag == "date" and isinstance(dt, T.DateType):
                return (
                    _dt.date.fromisoformat(lo_s),
                    _dt.date.fromisoformat(hi_s),
                )
            return None
        lo, hi = mm
        if isinstance(dt, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)):
            return (int(lo), int(hi)) if not isinstance(lo, (str, bool)) else None
        if isinstance(dt, (T.FloatType, T.DoubleType)):
            return (
                (float(lo), float(hi))
                if not isinstance(lo, (str, bool)) else None
            )
        if isinstance(dt, T.StringType):
            return (lo, hi) if isinstance(lo, str) else None
    except (TypeError, ValueError, _decimal.InvalidOperation):
        return None
    return None


def table_stats(
    spark: SparkSession | None,
    out_dir: str,
    columns: list[str] | None = None,
) -> dict:
    """COUNT / MIN / MAX answered from the manifest ALONE — aggregate
    pushdown to table metadata, the trick every columnar engine plays
    (parquet footer stats, Iceberg's snapshot summaries): on a 100-TB
    table, ``SELECT count(*), min(x), max(x)`` costs one sidecar scan
    and ZERO chunk-file reads.

    Returns ``{"n_rows": N, "n_chunks": C, "columns": {col: {"min":
    v, "max": v, "exact": bool}}}``. Per-chunk recorded stats are
    EXACT (true min/max at encode time, encode._col_min_max), so the
    fold is exact whenever every live chunk with rows carries a stat
    for the column; otherwise (all-null chunks, non-finite floats,
    stat-ineligible types) ``exact`` is False and min/max are the fold
    over the chunks that do (None when none do) — callers needing
    exactness then fall back to decoding that column.

    Damage policy matches decode: any live sidecar whose chunk file is
    missing/size-mismatched raises (stats must never describe a table
    that can't be read back). The fold runs on the driver over one
    :func:`encode.scan_sidecars`, the same scan every read uses;
    ``spark`` is accepted but unused (None is fine).
    """
    from .encode import live_chunks, scan_sidecars

    plan = load_plan(out_dir)
    schema = StructType.fromJson(json.loads(plan["schema_json"]))
    by_name = {f.name: f.dataType for f in schema.fields}
    cols = list(columns) if columns is not None else [f.name for f in schema.fields]
    unknown = [c for c in cols if c not in by_name]
    if unknown:
        raise KeyError(f"columns not in the table schema: {unknown}")

    live = live_chunks(scan_sidecars(out_dir))
    bad = [cid for cid, m in live.items() if not m["_verified"]]
    if bad:
        raise IOError(
            f"encoded table at {out_dir!r} is damaged or incomplete: "
            f"chunk file size mismatch / missing for chunk ids {sorted(bad)}"
        )
    out_cols: dict[str, dict] = {}
    for c in cols:
        mn = mx = None
        missing = 0
        nulls = 0
        nulls_missing = 0
        for m in live.values():
            raw_n = m.get("col_nulls")
            if raw_n is None:
                nulls_missing += 1  # pre-round-7 sidecar
            else:
                try:
                    d = json.loads(raw_n)
                    # a column absent from the chunk (added later
                    # by schema evolution) reads back all-null
                    nulls += int(d.get(c, m.get("n_rows") or 0))
                except (TypeError, ValueError, json.JSONDecodeError):
                    nulls_missing += 1
            if not m.get("n_rows"):
                continue  # empty chunks constrain nothing
            try:
                stats = json.loads(m.get("col_stats") or "{}")
            except (TypeError, json.JSONDecodeError):
                stats = {}
            parsed = (
                _stat_parse(stats[c], by_name[c])
                if c in stats else None
            )
            if parsed is None:
                missing += 1
                continue
            lo, hi = parsed
            mn = lo if mn is None or lo < mn else mn
            mx = hi if mx is None or hi > mx else mx
        out_cols[c] = {
            "min": mn, "max": mx, "exact": missing == 0,
            "nulls": nulls, "nulls_exact": nulls_missing == 0,
        }
    return {
        "n_rows": sum(int(m.get("n_rows") or 0) for m in live.values()),
        "n_chunks": len(live),
        "columns": out_cols,
    }
