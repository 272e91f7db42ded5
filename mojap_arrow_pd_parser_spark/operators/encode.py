"""Distributed encode: tokens table -> encoded column-chunk table (N1-N7, N12-N13).

Dataflow (all DataFrame API + one vectorized applyInArrow — zero
per-row Python):

    input df
      -> assign deterministic range bucket on the sort key   (plan.json)
      -> [resume] drop buckets whose manifest sidecar verifies (N13)
      -> shuffle on bucket id (the one shuffle in the job)
      -> applyInArrow per bucket: sort by key, encode every column
         via the codec kernels (auto-selected per column-chunk),
         write one parquet chunk file atomically, emit sidecar + one
         manifest row                                          (N12)
      -> driver: one sidecar scan, consolidated into
         out_dir/manifest.parquet with one atomic put (no Spark job;
         the verb returns it as an in-memory DataFrame)

The chunk file commit is write-tmp+rename on local filesystems and a
single atomic put on object stores (see sources/fsio.py — all file
ops route through pyarrow.fs, so the same protocol runs against
file://, s3:// or hdfs:// paths); the sidecar is written only after
the chunk file is durable, so a killed run can never leave a sidecar
pointing at a missing/partial chunk — rerun re-encodes exactly the
unfinished buckets. This mirrors the reference's post-write schema
readback guard (/root/reference/arrow_pd_parser/_writers.py:330-358)
hardened into a commit protocol, and is the same file-then-metadata
ordering Iceberg uses for snapshot commits.

At cluster scale: one narrow map (bucket assignment), one hash shuffle
on the bucket id, then embarrassingly-parallel encode tasks whose
output files never pass through the driver. No collect() anywhere.
"""

from __future__ import annotations

import json
import time
import uuid
import zlib

import pyarrow as pa

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.bloom import bloom_from_arrow
from ..functions.codecs import encode_array
from ..plans.chunking import assign_buckets, load_or_make_plan
from ..sources import fsio

ENGINE_VERSION = 1

MANIFEST_SCHEMA = (
    "chunk_id int, n_rows bigint, n_cols int, in_bytes bigint, "
    "out_bytes bigint, codecs string, crc32 string, key_min string, "
    "key_max string, wall_ms bigint, file string, status string"
)

CHUNK_FILE_SCHEMA = pa.schema(
    [
        ("chunk_id", pa.int32()),
        ("column", pa.string()),
        ("codec", pa.string()),
        ("meta", pa.string()),
        ("payload", pa.large_binary()),
        ("n_rows", pa.int64()),
        ("in_bytes", pa.int64()),
        ("out_bytes", pa.int64()),
        ("crc32", pa.string()),
    ]
)


def jvm_handles_scheme(spark: SparkSession, path: str) -> bool:
    """True when the JVM can resolve ``path``'s Hadoop FileSystem
    (local paths always; ``s3://``/``s3a://`` only with the matching
    connector on the classpath). Callers fall back to distributed
    pyarrow I/O — same credentials/endpoint resolution as the fsio
    write path — when this is False, so an encode/decode round trip
    works against an object store even on a Spark build without the
    S3A connector.

    The probe uses the EXACT uri callers will hand to spark.read — no
    s3->s3a rewriting. hadoop-aws registers only the ``s3a`` scheme,
    so an ``s3://`` path must fail the probe (and take the pyarrow
    fallback) even on a build WITH hadoop-aws; rewriting before
    probing would pass the probe and then crash the real read with 'No
    FileSystem for scheme: s3'."""
    if "://" not in path or path.startswith("file://"):
        return True
    try:
        jvm = spark._jvm
        uri = jvm.java.net.URI(path)
        jvm.org.apache.hadoop.fs.FileSystem.get(
            uri, spark._jsc.hadoopConfiguration()
        )
        return True
    except Exception:
        return False


def _codec_label(meta: dict) -> str:
    if meta.get("str_codec"):
        return meta["str_codec"]
    for s in meta.get("sections", []):
        if s["name"] == "values":
            return s["meta"].get("codec", "?")
        if s["name"] == "child":
            return "list<" + _codec_label(s["meta"]) + ">"
        if s["name"] == "codes":
            return "dict"
    return "?"


#: fixed-width timestamp format for zone-map stats: lexicographic
#: order == chronological order (microseconds always rendered)
_TS_STAT_FMT = "%Y-%m-%dT%H:%M:%S.%f"


def _ts_stat_str(dt) -> str | None:
    """Fixed-width stat string for a timestamp; aware values are
    normalized to UTC (the engine session runs UTC — session.py).
    None outside years 1000-9999, where zero-padding (and therefore
    the lexicographic==chronological guarantee) breaks."""
    import datetime as _dt

    if dt.tzinfo is not None:
        dt = dt.astimezone(_dt.timezone.utc).replace(tzinfo=None)
    if not 1000 <= dt.year <= 9999:
        return None
    return dt.strftime(_TS_STAT_FMT)


def _col_min_max(arr: pa.Array):
    """Typed [min, max] (optionally + domain tag) for the per-column
    zone map, or None when the column type/content can't be compared
    safely: all-null columns skipped, non-finite floats skipped (no
    JSON-safe total order). int/float/string values keep their python
    TYPE in the untagged 2-element form, so pruning compares
    int-to-int / str-to-str — never a stringified numeric (the
    lexicographic '9' > '100' trap). decimal128 / timestamp / date
    columns use the TAGGED 3-element form [min_str, max_str, tag]
    (tags "dec"/"ts"/"date"): decimals as exact decimal strings,
    time types as fixed-width ISO strings whose lexicographic order
    IS chronological — JSON numbers could not carry a decimal(38)
    exactly, and untagged strings would collide with genuine string
    stats."""
    import math

    import pyarrow.compute as pc

    t = arr.type
    plain = (
        pa.types.is_integer(t)
        or pa.types.is_floating(t)
        or pa.types.is_string(t)
        or pa.types.is_large_string(t)
    )
    tagged = (
        pa.types.is_decimal(t)
        or (pa.types.is_timestamp(t) and t.unit in ("s", "ms", "us"))
        or pa.types.is_date(t)
    )
    if not (plain or tagged) or not len(arr) or arr.null_count == len(arr):
        return None
    mm = pc.min_max(arr)
    mn, mx = mm["min"].as_py(), mm["max"].as_py()
    if plain:
        if isinstance(mn, float) and not (math.isfinite(mn) and math.isfinite(mx)):
            return None
        return [mn, mx]
    if pa.types.is_decimal(t):
        return [str(mn), str(mx), "dec"]
    if pa.types.is_date(t):
        return [mn.isoformat(), mx.isoformat(), "date"]
    lo_s, hi_s = _ts_stat_str(mn), _ts_stat_str(mx)
    if lo_s is None or hi_s is None:
        return None
    return [lo_s, hi_s, "ts"]


def encode_chunk_table(table: pa.Table, chunk_id: int, key: str) -> tuple[pa.Table, dict]:
    """Encode one in-memory chunk -> (encoded rows table, manifest dict)."""
    t0 = time.monotonic()
    if key in table.column_names:
        table = table.sort_by(key)
    n_rows = table.num_rows
    cols, codecs_j, metas, payloads, crcs = [], {}, [], [], []
    in_bytes = out_bytes = 0
    col_in_bytes = []
    col_stats: dict[str, list] = {}
    col_nulls: dict[str, int] = {}
    for name in table.column_names:
        arr = table.column(name).combine_chunks()
        col_nulls[name] = int(arr.null_count)
        meta, payload = encode_array(arr)
        label = _codec_label(meta)
        cols.append(name)
        codecs_j[name] = label
        metas.append(json.dumps(meta, separators=(",", ":")))
        payloads.append(payload)
        crcs.append(f"{zlib.crc32(payload):08x}")
        col_in_bytes.append(arr.nbytes)
        in_bytes += arr.nbytes
        out_bytes += len(payload) + len(metas[-1])
        mm = _col_min_max(arr)
        if mm is not None:
            col_stats[name] = mm
    enc = pa.Table.from_arrays(
        [
            pa.array([chunk_id] * len(cols), type=pa.int32()),
            pa.array(cols, type=pa.string()),
            pa.array([codecs_j[c] for c in cols], type=pa.string()),
            pa.array(metas, type=pa.string()),
            pa.array(payloads, type=pa.large_binary()),
            pa.array([n_rows] * len(cols), type=pa.int64()),
            pa.array(col_in_bytes, type=pa.int64()),
            pa.array([len(p) for p in payloads], type=pa.int64()),
            pa.array(crcs, type=pa.string()),
        ],
        schema=CHUNK_FILE_SCHEMA,
    )
    key_vals = table.column(key) if key in table.column_names else None
    # per-chunk key Bloom filter (functions/bloom.py): point-lookup
    # pruning for chunks whose key RANGES overlap (appended
    # generations, salted/file-aligned tables) where min-max alone
    # can't prune. Sidecar-only, conservative, ~10 bits/key.
    key_bloom = (
        bloom_from_arrow(key_vals.combine_chunks())
        if key_vals is not None and n_rows
        else None
    )
    manifest = {
        "chunk_id": chunk_id,
        "n_rows": n_rows,
        "n_cols": len(cols),
        "in_bytes": in_bytes,
        "out_bytes": out_bytes,
        "codecs": json.dumps(codecs_j, separators=(",", ":")),
        "crc32": f"{zlib.crc32(('|'.join(crcs)).encode()):08x}",
        "key_min": str(key_vals[0].as_py()) if n_rows and key_vals is not None else "",
        "key_max": str(key_vals[-1].as_py()) if n_rows and key_vals is not None else "",
        # per-COLUMN zone map (Iceberg column-stats analog): typed
        # min/max per eligible column, sidecar-only (not in the
        # consolidated MANIFEST_SCHEMA) — decode_table(where=) prunes
        # chunk files with it
        "col_stats": json.dumps(col_stats, separators=(",", ":")),
        # per-column null counts (free: arrow tracks them): exact NULL
        # accounting for table_stats and IS [NOT] NULL chunk pruning —
        # pre-evolution chunks are all-null for added columns, so a
        # sparse-column IS NULL scan prunes to just those
        "col_nulls": json.dumps(col_nulls, separators=(",", ":")),
        "wall_ms": int((time.monotonic() - t0) * 1000),
        "status": "ok",
    }
    if key_bloom is not None:
        manifest["key_bloom"] = json.dumps(key_bloom, separators=(",", ":"))
    return enc, manifest


def write_chunk(
    table: pa.Table,
    chunk_id: int,
    key: str,
    chunks_dir: str,
    sidecar_dir: str,
    replaces: list[int] | None = None,
) -> dict:
    """Encode ``table`` as chunk ``chunk_id`` and commit it; returns the
    sidecar (manifest dict). The one chunk writer every verb uses.

    File-then-metadata: the chunk file is durable (one atomic put)
    BEFORE its sidecar exists, so a killed task never leaves a sidecar
    pointing at a missing or partial chunk. ``replaces`` lists the
    chunk ids the sidecar retires: its commit is the atomic REPLACE of
    a copy-on-write rewrite (see :func:`live_chunks`)."""
    enc, manifest = encode_chunk_table(table, chunk_id, key)
    fname = f"chunk-{chunk_id:05d}.parquet"
    manifest["file"] = fname
    if replaces is not None:
        manifest["replaces"] = [int(r) for r in replaces]
    manifest["file_bytes"] = fsio.write_parquet_atomic(
        enc, fsio.join(chunks_dir, fname)
    )
    fsio.write_json_atomic(
        fsio.join(sidecar_dir, f"{chunk_id:05d}.json"), manifest
    )
    return manifest


#: MANIFEST_SCHEMA as an Arrow schema (task output rows and the
#: driver-committed manifest.parquet)
_MANIFEST_ARROW_SCHEMA = pa.schema(
    [
        ("chunk_id", pa.int32()),
        ("n_rows", pa.int64()),
        ("n_cols", pa.int32()),
        ("in_bytes", pa.int64()),
        ("out_bytes", pa.int64()),
        ("codecs", pa.string()),
        ("crc32", pa.string()),
        ("key_min", pa.string()),
        ("key_max", pa.string()),
        ("wall_ms", pa.int64()),
        ("file", pa.string()),
        ("status", pa.string()),
    ]
)


def _manifest_batch(m: dict) -> pa.Table:
    """One task output row from a sidecar dict; the sidecar-only fields
    (file_bytes, replaces, col_stats, col_nulls, key_bloom) are not in
    the schema and drop out."""
    return pa.Table.from_pylist([m], schema=_MANIFEST_ARROW_SCHEMA)


def _visible_staging_dirs(out_dir: str, pending_ok: str | None = None) -> list[str]:
    """Staged-sidecar directories a reader may see: one per COMMITTED
    transaction token (``_commits/<token>.json`` present) plus, for the
    transaction's own resume scans, the ``pending_ok`` token's dir.

    Staged sidecars live under ``_staging/<token>/`` (siblings of
    ``manifest/``), so every pre-existing scan is blind to them by
    construction until the single commit-marker write flips the whole
    transaction visible — the snapshot-isolation device
    :func:`upsert_rows` uses so readers never observe its
    deletes-before-inserts window."""
    toks = set()
    for fn, _sz in fsio.list_files(fsio.join(out_dir, "_commits")):
        if fn.endswith(".json"):
            toks.add(fn[:-5])
    if pending_ok:
        toks.add(pending_ok)
    dirs = []
    for tok in sorted(toks):
        d = fsio.join(out_dir, "_staging", tok)
        if fsio.list_files(d):
            dirs.append(d)
    return dirs


def _fold_committed_staging(out_dir: str) -> None:
    """Migrate every COMMITTED transaction's staged sidecars into
    ``manifest/`` and drop its marker, so steady-state scans never pay
    per-transaction directory listings. Crash-safe at any point: a
    sidecar present in both places reads identically (scans key by
    chunk_id), the marker is deleted only after every staged sidecar
    is durable in ``manifest/``, and a re-run completes any partial
    migration."""
    commits = fsio.join(out_dir, "_commits")
    manifest_dir = fsio.join(out_dir, "manifest")
    for fn, _sz in fsio.list_files(commits):
        if not fn.endswith(".json"):
            continue
        sdir = fsio.join(out_dir, "_staging", fn[:-5])
        for sfn, _s in fsio.list_files(sdir):
            if not sfn.endswith(".json"):
                continue
            fsio.write_json_atomic(
                fsio.join(manifest_dir, sfn),
                fsio.read_json(fsio.join(sdir, sfn)),
            )
            fs, p = fsio.resolve(fsio.join(sdir, sfn))
            fs.delete_file(p)
        fs, p = fsio.resolve(fsio.join(commits, fn))
        fs.delete_file(p)
        fsio.delete_dir(sdir)


def scan_done_chunks(
    out_dir: str,
    columns: tuple[str, ...] | None = None,
    pending_ok: str | None = None,
) -> dict[int, dict]:
    """Read manifest sidecars; keep only entries whose chunk file verifies.

    Returns the RAW sidecar view, including compacted chunks and the
    chunks they superseded (``replaces``). Consumers pick the view
    they need: :func:`live_chunks` for reads (replaced chunks dropped
    the instant their replacement's sidecar is durable) and
    :func:`done_chunk_ids` for encode resume (replaced bucket ids
    still count as done — their rows live on in the merged chunk).

    ``columns`` projects the per-sidecar dict (see
    :func:`scan_sidecars`): the resume/compact/GC paths pass the few
    fields they need, so the dict they hold carries no per-chunk
    ``col_stats`` JSON.
    """
    return {
        cid: {k: v for k, v in m.items() if k != "_verified"}
        for cid, m in scan_sidecars(out_dir, columns, pending_ok).items()
        if m["_verified"]
    }


#: fields every scan materializes regardless of ``columns``:
#: chunk_id/file/file_bytes drive verification, ``replaces`` drives
#: the live/done views — dropping it would silently resurrect
#: compaction-superseded chunks, so it is never projectable away.
_SIDECAR_CORE_FIELDS = ("chunk_id", "file", "file_bytes", "replaces")


def scan_sidecars(
    out_dir: str,
    columns: tuple[str, ...] | None = None,
    pending_ok: str | None = None,
) -> dict[int, dict]:
    """All parseable sidecars with a ``_verified`` flag (chunk file
    present at the recorded size). Readers use this to tell a DAMAGED
    table (sidecar present, file wrong) from an absent one.

    Every manifest view (reads, stats, snapshots and every verb) is
    built from this one driver-side scan, at every table size: one
    listing per sidecar directory, one read per sidecar, and ONE
    listing of ``chunks/`` whose sizes verify every sidecar's
    ``file_bytes`` (no per-chunk stat; a missing file lists as None,
    which never equals a recorded size). On an object store each
    sidecar read is one GET, so the scan costs O(chunks) requests.

    Malformed sidecars (a partial write from a killed run, or one
    without ``file``/``file_bytes``) are skipped, so their buckets
    re-encode on resume.

    ``columns=None`` returns every sidecar field; passing a tuple
    keeps only those fields plus the core verification/lineage fields.

    ``pending_ok`` additionally exposes that transaction token's
    STAGED sidecars (``_staging/<token>/``); committed tokens'
    staging dirs are always visible (see :func:`_visible_staging_dirs`).
    """
    dirs = [fsio.join(out_dir, "manifest")]
    dirs += _visible_staging_dirs(out_dir, pending_ok)
    sidecars = []
    for d in dirs:
        for fn, _sz in fsio.list_files(d):
            if not fn.endswith(".json"):
                continue
            try:
                sidecars.append(fsio.read_json(fsio.join(d, fn)))
            except (json.JSONDecodeError, OSError):
                continue  # partial sidecar from a killed run -> re-encode
    # listed AFTER the sidecars are read: a chunk file is durable
    # before its sidecar exists, so every sidecar read above has its
    # file in this listing
    sizes = dict(fsio.list_files(fsio.join(out_dir, "chunks")))
    keep = None if columns is None else set(_SIDECAR_CORE_FIELDS) | set(columns)
    out: dict[int, dict] = {}
    for m in sidecars:
        try:
            m["_verified"] = sizes.get(m["file"]) == m["file_bytes"]
            if keep is not None:
                m = {k: v for k, v in m.items() if k in keep or k == "_verified"}
            out[int(m["chunk_id"])] = m
        except KeyError:
            continue  # malformed sidecar: no file / file_bytes / chunk_id
    return out


def live_chunks(done: dict[int, dict]) -> dict[int, dict]:
    """The read view: drop every chunk superseded by a verified
    compacted chunk (Iceberg-style rewrite semantics — the new
    sidecar's commit atomically retires its inputs; deleting the old
    files afterwards is mere garbage collection)."""
    replaced: set[int] = set()
    for m in done.values():
        replaced.update(int(r) for r in m.get("replaces", []))
    return {cid: m for cid, m in done.items() if cid not in replaced}


def done_chunk_ids(done: dict[int, dict]) -> set[int]:
    """The resume view: a bucket id is done if its sidecar verifies OR
    its rows were folded into a verified compacted chunk."""
    ids = {int(c) for c in done}
    for m in done.values():
        ids.update(int(r) for r in m.get("replaces", []))
    return ids


#: chunk-id stride between encode GENERATIONS (appends / stream
#: epochs): generation g owns ids [g*STRIDE, (g+1)*STRIDE). Large so
#: that compaction's max(done)+1 allocation stays inside its own
#: generation's namespace for any realistic compaction history.
GENERATION_STRIDE = 1_000_000


def _bucketed_shuffle(bdf: DataFrame, n_buckets: int, chunk_base: int = 0) -> DataFrame:
    """One-bucket-per-partition shuffle for the encode mapInArrow.

    Small plans (<= chunking.PROBE_MAX_BUCKETS buckets) repartition on
    a PROBE column — an int whose Spark hash lands bucket b exactly in
    partition b (chunking.partition_probes) — so every encode task
    owns exactly one chunk: no birthday-collision stragglers (a plain
    hash repartition of n buckets into n partitions leaves ~37% of
    tasks empty while some encode 2-3 chunks serially), and no
    pre-encode sortWithinPartitions (a full external sort of the
    payload) because a single-bucket partition is trivially
    contiguous. Large plans keep hash repartition + sort: the probe
    literal array would bloat the plan, and with tasks >> cores the
    collision tail amortizes away."""
    from ..plans.chunking import PROBE_MAX_BUCKETS, partition_probes

    if n_buckets <= PROBE_MAX_BUCKETS:
        probes = partition_probes(n_buckets)
        parr = F.array(*[F.lit(p) for p in probes])
        return (
            bdf.withColumn(
                "_pt",
                F.element_at(parr, F.col("_bucket") - F.lit(chunk_base) + 1),
            )
            .repartition(n_buckets, "_pt")
            .drop("_pt")
        )
    return bdf.repartition(n_buckets, "_bucket").sortWithinPartitions("_bucket")


def _encode_buckets(
    bdf: DataFrame,
    n_buckets: int,
    chunk_base: int,
    key: str,
    chunks_dir: str,
    sidecar_dir: str,
) -> DataFrame:
    """The bucketed encode, not yet run: one shuffle on ``_bucket``,
    then one mapInArrow task per bucket that commits its chunk with
    :func:`write_chunk`, sidecar into ``sidecar_dir``. Returns the
    manifest rows."""

    def encode_partition(batches):
        """mapInArrow task body: batches arrive bucket-contiguous (the
        probe repartition places exactly one bucket per partition; the
        large-plan fallback sorts within partitions instead), so each
        chunk is assembled, encoded and committed as soon as its last
        batch streams in — peak working set ~1 chunk, not the
        partition. iter_contiguous_groups raises loudly if the
        contiguity contract is ever broken.

        mapInArrow is used instead of groupBy().applyInArrow because
        the latter materializes each group whole through the grouped
        Arrow path; here the group boundary is under our control."""
        from .regroup import iter_contiguous_groups

        for chunk_id, part in iter_contiguous_groups(batches, "_bucket"):
            manifest = write_chunk(
                part.drop_columns(["_bucket"]), int(chunk_id), key,
                chunks_dir, sidecar_dir,
            )
            yield _manifest_batch(manifest).to_batches()[0]

    return _bucketed_shuffle(bdf, n_buckets, chunk_base).mapInArrow(
        encode_partition, schema=MANIFEST_SCHEMA
    )


def encode_table(
    spark: SparkSession,
    df: DataFrame,
    out_dir: str,
    key: str = "doc_id",
    n_chunks: int = 64,
    resume: bool = True,
    seed: int = 42,
    consolidate: bool = True,
    partition_col: str | None = None,
    chunk_base: int = 0,
    pending: str | None = None,
    track_snapshots: bool = False,
    cluster_by: list[str] | None = None,
) -> DataFrame:
    """Encode ``df`` into ``out_dir`` (chunks/ + manifest/); returns manifest DF.

    Resumable: rerunning after a kill skips every bucket whose sidecar
    verifies (N13). The returned DataFrame is the consolidated
    manifest (covers prior runs too), held in the driver.

    ``partition_col`` switches to partition-salted chunking: hot
    partition values (e.g. a 70%% ``source``) are split across salts
    proportional to their size (N10) instead of range buckets on the key.

    ``chunk_base`` namespaces this run's chunk ids (bucket b ->
    chunk_base + b) and scopes the resume filter to
    [chunk_base, chunk_base + n_buckets): two runs with different
    bases APPEND to the same table instead of mistaking each other's
    buckets for done work, while a rerun with the SAME base keeps the
    crash-resume semantics. Use :func:`encode_append` (batch) or let
    the streaming sink derive it from the epoch id.

    ``pending`` stages this run's sidecars under ``_staging/<token>/``
    instead of ``manifest/`` — invisible to every reader until the
    transaction's single commit-marker write (see :func:`upsert_rows`);
    the resume scan passes the token through so a same-token rerun
    still skips its durable chunks. With ``pending`` the return value
    is the staged encode itself, NOT yet run: the transaction runs it
    in its own single action, then commits and consolidates once.

    ``track_snapshots`` opts the TABLE into versioned snapshots
    (persisted into plan.json, so appends/deletes/upserts/compactions
    inherit it): every committed verb records its live view, readable
    with ``decode_table(as_of=version)`` — see operators/snapshots.py.

    ``cluster_by=[cols]`` switches to Z-ORDER chunking (the lakehouse
    OPTIMIZE ZORDER BY analog, plans/chunking.make_zorder_plan): chunk
    membership follows the Morton interleave of the columns' quantile
    ranks, so every listed column gets a partially tight per-chunk
    zone map and ``decode_table(where=...)`` / DataSource SQL pushdown
    prune on ANY of them. Same shuffle count, same resume contract.
    """
    fsio.makedirs(fsio.join(out_dir, "chunks"))
    fsio.makedirs(fsio.join(out_dir, "manifest"))
    sidecar_dir = (
        fsio.join(out_dir, "_staging", pending) if pending
        else fsio.join(out_dir, "manifest")
    )
    if pending:
        fsio.makedirs(sidecar_dir)
    plan = load_or_make_plan(
        spark, df, out_dir, key, n_chunks, seed=seed,
        partition_col=partition_col, cluster_by=cluster_by,
    )
    plan_dirty = False
    if "schema_json" not in plan:
        plan["schema_json"] = df.schema.json()
        plan_dirty = True
    if track_snapshots and not plan.get("snapshots"):
        plan["snapshots"] = True
        plan_dirty = True
    if plan_dirty:
        fsio.write_json_atomic(fsio.join(out_dir, "plan.json"), plan)

    if chunk_base < 0:
        raise ValueError(f"chunk_base must be >= 0, got {chunk_base}")
    n_buckets = int(plan["n_chunks"])
    if chunk_base and n_buckets > GENERATION_STRIDE // 2:
        raise ValueError(
            f"plan has {n_buckets} buckets > GENERATION_STRIDE/2; "
            "generations would collide with the rewrite-id zone"
        )
    bdf = assign_buckets(df, plan)
    if chunk_base:
        bdf = bdf.withColumn(
            "_bucket", (F.col("_bucket") + F.lit(int(chunk_base))).cast("int")
        )
    if resume:
        # resume skips only the done ids INSIDE this generation's range
        done = _done_ids_in_range(
            out_dir, chunk_base, chunk_base + n_buckets, pending_ok=pending,
        )
        if done:
            bdf = bdf.filter(~F.col("_bucket").isin(done))

    mdf = _encode_buckets(
        bdf, n_buckets, chunk_base, key, fsio.join(out_dir, "chunks"),
        sidecar_dir,
    )
    if pending:
        # mid-transaction: the transaction runs this staged encode in
        # its own single action and commits once (staged sidecars are
        # invisible until then)
        return mdf
    return _finish_encode(spark, mdf, out_dir, consolidate,
                          verb="append" if chunk_base else "encode")


def _evolve_table_schema(plan: dict, df: DataFrame, plan_path: str) -> None:
    """ADDITIVE schema evolution (the Iceberg add-column subset): the
    batch must carry every existing field with its exact type, and
    every NEW field must be nullable (older chunks decode it as typed
    nulls — decode_rows_df null-fills from the table schema). The
    evolved schema commits to plan.json BEFORE any data is written: a
    crash right after leaves an evolved schema with no new rows, which
    reads fine; committing after would let new chunks carry columns
    the table schema can't decode."""
    from pyspark.sql.types import StructType as _ST

    old = _ST.fromJson(json.loads(plan["schema_json"]))
    new = df.schema
    new_by_name = {f.name: f for f in new.fields}
    for f in old.fields:
        g = new_by_name.get(f.name)
        if g is None:
            raise ValueError(
                f"schema evolution is additive only: column {f.name!r} "
                "missing from the appended batch"
            )
        if g.dataType != f.dataType:
            raise ValueError(
                f"schema evolution cannot change types: {f.name!r} is "
                f"{f.dataType.simpleString()} in the table, "
                f"{g.dataType.simpleString()} in the batch"
            )
    old_names = {f.name for f in old.fields}
    for g in new.fields:
        if g.name not in old_names and not g.nullable:
            raise ValueError(
                f"added column {g.name!r} must be nullable: rows in "
                "earlier generations have no value for it"
            )
    plan["schema_json"] = new.json()
    fsio.write_json_atomic(plan_path, plan)


def _next_rewrite_id(done: dict | set) -> int:
    """First free chunk id in the REWRITE ZONE (the upper half of the
    top generation's id namespace). Compaction and row-level deletes
    allocate here instead of max(done)+1, so their ids can never land
    inside a generation's bucket range — where a half-finished
    generation's resume would mistake them for its own done buckets
    and silently skip real work."""
    top = (max(done) // GENERATION_STRIDE) * GENERATION_STRIDE
    zone = top + GENERATION_STRIDE // 2
    in_zone = [c for c in done if c >= zone]
    nxt = (max(in_zone) + 1) if in_zone else zone
    if nxt >= top + GENERATION_STRIDE:
        # the zone is exhausted (~STRIDE/2 cumulative rewrites): ids
        # would silently cross into the NEXT generation's bucket
        # namespace and defeat the resume-scoping invariant the zone
        # exists for. Refuse loudly; appending any generation above
        # `top` opens a fresh zone.
        raise RuntimeError(
            f"rewrite-id zone [{zone}, {top + GENERATION_STRIDE}) is "
            "exhausted; append a new generation (encode_append) to "
            "open a fresh rewrite zone before further compaction/"
            "delete/upsert rewrites"
        )
    return nxt


def encode_append(
    spark: SparkSession,
    df: DataFrame,
    out_dir: str,
    generation: int,
    resume: bool = True,
    consolidate: bool = True,
    allow_schema_evolution: bool = False,
    pending: str | None = None,
) -> DataFrame:
    """Append a new batch of rows to an EXISTING encoded table — the
    incremental-ingest action (daily drops, CDC batches, stream
    epochs). The table's persisted plan supplies key, boundaries and
    bucket count, so appended chunks partition on the same key grid as
    the original ones (zone maps stay selective; key ranges across
    generations simply overlap, which the decode pruning already
    handles).

    ``generation`` is the ingest's STABLE identity (>= 1; e.g. the
    batch date ordinal or stream epoch): chunk ids live in
    [generation * GENERATION_STRIDE, ...), so re-running the same
    generation after a crash resumes it (skips its durable chunks)
    while distinct generations never collide — the same
    write-once-per-identity idempotence contract as the streaming
    sink. The caller owns generation uniqueness; auto-deriving "next"
    from existing ids would double-ingest after a crashed attempt.

    Raises if the table (its plan.json) does not exist, or if the
    appended schema differs from the table's persisted schema.
    """
    if generation < 1:
        raise ValueError(f"generation must be >= 1, got {generation}")
    plan_path = fsio.join(out_dir, "plan.json")
    if not fsio.exists(plan_path):
        raise FileNotFoundError(
            f"{out_dir} is not an encoded table (no plan.json) — "
            "create it with encode_table first"
        )
    plan = fsio.read_json(plan_path)
    want = plan.get("schema_json")
    if want and df.schema.json() != want:
        if not allow_schema_evolution:
            raise ValueError(
                "appended schema differs from the table schema; "
                "conform the batch first (functions.conform) or pass "
                "allow_schema_evolution=True for additive evolution"
            )
        _evolve_table_schema(plan, df, plan_path)
    return encode_table(
        spark, df, out_dir,
        key=plan["key"], n_chunks=int(plan["n_chunks"]),
        resume=resume, consolidate=consolidate,
        partition_col=plan.get("partition_col"),
        chunk_base=int(generation) * GENERATION_STRIDE,
        pending=pending,
    )


#: the consolidated-manifest fields (MANIFEST_SCHEMA minus the core
#: fields scan_sidecars always returns) — col_stats deliberately absent
_MANIFEST_FIELDS = (
    "n_rows", "n_cols", "in_bytes", "out_bytes", "codecs", "crc32",
    "key_min", "key_max", "wall_ms", "status",
)


def _done_ids_in_range(
    out_dir, lo: int, hi: int, pending_ok: str | None = None
) -> list[int]:
    """Resume view restricted to [lo, hi): the bucket ids a rerun may
    skip (appended generations never mistake each other's buckets for
    done work)."""
    done = done_chunk_ids(
        scan_done_chunks(out_dir, columns=(), pending_ok=pending_ok)
    )
    return sorted(cid for cid in done if lo <= cid < hi)


def _finish_encode(spark, mdf, out_dir, consolidate, verb: str = "commit"):
    """Commit a verb's metadata from the driver; returns the
    consolidated manifest as an in-memory DataFrame.

    ``mdf`` is the verb's data work, run here by one count (its rows
    land nowhere: the sidecars written inside the tasks are the source
    of truth), or None when the verb has no data work left to run."""
    if mdf is not None:
        mdf.count()
    # ONE scan of ALL LIVE verified sidecars (this run + survivors of
    # killed runs, minus compaction-superseded chunks), projected to
    # the manifest fields: col_stats / blooms stay in the sidecars.
    live = live_chunks(scan_done_chunks(out_dir, columns=_MANIFEST_FIELDS))
    # Snapshot-tracking tables persist each committed verb's live view
    # as an immutable version (operators/snapshots.py) — BEFORE any GC
    # the caller runs, so retention always sees the newest snapshot.
    # Written INDEPENDENT of the consolidate flag: 'every committed
    # verb persists its live view' must hold for consolidate=False
    # callers too, or table_changes windows lump verbs together.
    try:
        plan = fsio.read_json(fsio.join(out_dir, "plan.json"))
    except (FileNotFoundError, OSError, json.JSONDecodeError):
        plan = {}
    if plan.get("snapshots"):
        from .snapshots import write_snapshot

        write_snapshot(spark, out_dir, verb, live)
    cons = pa.Table.from_pylist(
        [m for _cid, m in sorted(live.items())], schema=_MANIFEST_ARROW_SCHEMA
    )
    if consolidate and cons.num_rows:
        # the consolidated manifest is tiny (one row per chunk): commit
        # it from the driver with one atomic put, on every scheme.
        # Write-then-clean: commit the new part under a unique name
        # FIRST, then delete stale parts (a glob reader must never see
        # duplicate manifest rows). A crash between the put and the
        # cleanup leaves duplicates a re-run's cleanup removes — never
        # an empty or missing manifest.
        mp_dir = fsio.join(out_dir, "manifest.parquet")
        fsio.makedirs(mp_dir)
        part_name = f"part-00000-{uuid.uuid4().hex}.parquet"
        fsio.write_parquet_atomic(cons, fsio.join(mp_dir, part_name))
        for name, _sz in fsio.list_files(mp_dir):
            if name != part_name and not name.startswith(("_", ".")):
                fs, p = fsio.resolve(fsio.join(mp_dir, name))
                fs.delete_file(p)
    return spark.createDataFrame(cons)


def _work_df(spark: SparkSession, chunk_ids, **cols) -> DataFrame:
    """A verb's work list — one row per output ``chunk_id`` plus the
    ``cols`` lists — as a DataFrame built from an Arrow table: Spark
    plans it as a LocalRelation held in the driver, so no job
    parallelizes it from Python rows."""
    return spark.createDataFrame(
        pa.table({"chunk_id": pa.array(chunk_ids, pa.int32()), **cols})
    )


def encode_files(
    spark: SparkSession,
    input_dir: str,
    out_dir: str,
    key: str = "doc_id",
    resume: bool = True,
    consolidate: bool = True,
) -> DataFrame:
    """Shuffle-FREE encode aligned to source files.

    At petabyte scale the range shuffle of :func:`encode_table` is the
    dominant cost when the input is already reasonably partitioned
    (e.g. an Iceberg table written sorted by doc_id). This path maps
    one source parquet file -> one encoded chunk with NO exchange at
    all: a file-list DataFrame fans out and each task reads its file
    with pyarrow and commits the chunk. Chunk identity = the stable
    file index recorded in plan.json, so resume semantics are identical
    to the shuffled path. Trade-off: chunk size = source file size, and
    no global key-range clustering beyond what the input already has.
    """
    fsio.makedirs(fsio.join(out_dir, "chunks"))
    fsio.makedirs(fsio.join(out_dir, "manifest"))
    plan_path = fsio.join(out_dir, "plan.json")
    if fsio.exists(plan_path):
        plan = fsio.read_json(plan_path)
    else:
        files = sorted(
            fsio.join(input_dir, name)
            for name, _sz in fsio.list_files(input_dir)
            if name.endswith(".parquet") and not name.startswith(("_", "."))
        )
        if not files:
            raise FileNotFoundError(f"no parquet files under {input_dir}")
        schema = spark.read.parquet(input_dir).schema
        plan = {
            "version": 1,
            "mode": "file_aligned",
            "key": key,
            # key_type gates zone-map pruning in decode_table (string
            # keys only — manifest min/max compare lexicographically)
            "key_type": (
                schema[key].dataType.simpleString()
                if key in schema.fieldNames() else None
            ),
            "files": files,
            "n_chunks": len(files),
            "schema_json": schema.json(),
        }
        fsio.write_json_atomic(plan_path, plan)

    todo = list(enumerate(plan["files"]))
    if resume:
        done = done_chunk_ids(scan_done_chunks(out_dir, columns=()))
        todo = [(i, f) for i, f in todo if i not in done]

    chunks_dir = fsio.join(out_dir, "chunks")
    manifest_dir = fsio.join(out_dir, "manifest")

    def encode_file(batches):
        import pyarrow.parquet as _pq

        for b in batches:
            for row in b.to_pylist():
                src_fs, src_path = fsio.resolve(row["path"])
                manifest = write_chunk(
                    _pq.read_table(src_path, filesystem=src_fs),
                    int(row["chunk_id"]), key, chunks_dir, manifest_dir,
                )
                yield _manifest_batch(manifest).to_batches()[0]

    mdf = None
    if todo:
        ids, files = zip(*todo)
        fdf = _work_df(spark, ids, path=list(files)).repartition(len(todo))
        mdf = fdf.mapInArrow(encode_file, schema=MANIFEST_SCHEMA)
    return _finish_encode(spark, mdf, out_dir, consolidate, verb="encode_files")


def _rewrite_chunks(
    wdf: DataFrame, out_dir: str, sidecar_dir: str, plan: dict, transform
) -> DataFrame:
    """The copy-on-write rewrite shared by compaction, DELETE and MERGE,
    not yet run. Each row of ``wdf`` names the new ``chunk_id``, the
    chunk ids it retires (``members``) and their ``files``. Its task
    reads the members exactly as a reader does — checksums verified,
    columns added by schema evolution read as nulls (decode_chunk) —
    then ``transform(tables, row)`` gives the new chunk's rows, which
    commit with :func:`write_chunk` (``replaces=members``). A transform
    returning None leaves the members untouched. Returns the manifest
    rows."""
    from pyspark.sql.types import StructType

    from .decode import arrow_columns, decode_chunk_file

    names, arrow_types = arrow_columns(
        StructType.fromJson(json.loads(plan["schema_json"]))
    )
    key = plan.get("key", "doc_id")
    chunks_dir = fsio.join(out_dir, "chunks")

    def rewrite(batches):
        for b in batches:
            for row in b.to_pylist():
                tables = [
                    decode_chunk_file(
                        fsio.join(chunks_dir, f), names, arrow_types, True
                    )
                    for f in row["files"]
                ]
                table = transform(tables, row)
                if table is None:
                    continue
                manifest = write_chunk(
                    table, int(row["chunk_id"]), key, chunks_dir,
                    sidecar_dir, replaces=row["members"],
                )
                yield _manifest_batch(manifest).to_batches()[0]

    return wdf.mapInArrow(rewrite, schema=MANIFEST_SCHEMA)


def _kept_rows(table: pa.Table, matched) -> pa.Table | None:
    """``table`` without the ``matched`` rows (a NULL match keeps the
    row), or None when nothing matched: the chunk stays untouched."""
    import pyarrow.compute as pc

    kept = table.filter(pc.invert(pc.fill_null(matched, False)))
    return None if kept.num_rows == table.num_rows else kept


def compact_chunks(
    spark: SparkSession,
    out_dir: str,
    min_rows: int = 0,
    target_rows: int | None = None,
    gc: bool = True,
    consolidate: bool = True,
) -> DataFrame:
    """Small-chunk compaction (the lakehouse OPTIMIZE / rewrite-files
    action): merge undersized chunks into full-size ones.

    Crash-safe via Iceberg-style REPLACE semantics rather than
    delete-then-write: each merged chunk's sidecar records
    ``replaces=[old ids]``; the read view (:func:`live_chunks`) drops
    the old chunks the instant the new sidecar is durable, and the
    resume view (:func:`done_chunk_ids`) keeps counting the old bucket
    ids as done. A crash at ANY point leaves either the old chunks
    live (new sidecar not yet durable) or the new chunk live (old
    files now garbage) — never duplicates, never loss. ``gc=True``
    deletes superseded sidecars+files afterwards (idempotent garbage
    collection, safe to re-run).

    Merge groups pack ascending chunk ids to ``target_rows`` (default
    4x min_rows), preserving key-range adjacency so the zone map stays
    selective. Planning runs on the driver over one
    :func:`scan_done_chunks` (n_rows/file per live chunk); the merge
    work is distributed: one task per group decodes its member chunks
    with the codec kernels and re-encodes one merged chunk — the same
    mapInArrow shape as encode_files.

    Members are read exactly as a reader reads them: each column
    payload's checksum is verified (a corrupted chunk fails the verb
    with ``IOError`` and nothing commits for its group), and columns
    added by schema evolution read as nulls in chunks written before
    them, so the merged chunk carries the table's full schema.
    """
    # grouping needs only the LIVE chunks under min_rows (plus their
    # n_rows/file)
    done = scan_done_chunks(out_dir, columns=("n_rows",))
    small_meta = {
        cid: m for cid, m in live_chunks(done).items() if m["n_rows"] < min_rows
    }
    target_rows = target_rows or max(1, 4 * min_rows)
    small = sorted(small_meta)
    groups: list[list[int]] = []
    cur: list[int] = []
    cur_rows = 0
    for cid in small:
        cur.append(cid)
        cur_rows += small_meta[cid]["n_rows"]
        if cur_rows >= target_rows:
            groups.append(cur)
            cur, cur_rows = [], 0
    if len(cur) > 1:  # a lone leftover chunk gains nothing from rewrite
        groups.append(cur)
    groups = [g for g in groups if len(g) > 1]
    if not groups:
        return _finish_encode(spark, None, out_dir, consolidate, verb="compact")

    next_id = _next_rewrite_id(done)
    wdf = _work_df(
        spark, range(next_id, next_id + len(groups)),
        members=groups, files=[[small_meta[c]["file"] for c in g] for g in groups],
    ).repartition(len(groups))
    mdf = _rewrite_chunks(
        wdf, out_dir, fsio.join(out_dir, "manifest"),
        fsio.read_json(fsio.join(out_dir, "plan.json")),
        lambda tables, _row: pa.concat_tables(tables),
    )
    result = _finish_encode(spark, mdf, out_dir, consolidate, verb="compact")
    if gc:
        gc_superseded(out_dir)
    return result


def delete_rows(
    spark: SparkSession,
    out_dir: str,
    where: tuple | list,
    gc: bool = False,
    consolidate: bool = True,
) -> DataFrame:
    """Row-level DELETE (the lakehouse copy-on-write rewrite):
    ``where=(col, lo, hi)`` removes every row with ``col BETWEEN lo
    AND hi`` (NULLs never match, SQL semantics). A LIST of triples is
    a CONJUNCTION — a row is deleted only when EVERY predicate
    matches, and each predicate prunes candidate chunks independently,
    so a two-column delete on a Z-ordered table rewrites only the
    chunks inside the predicate box.

    Candidate chunks come from the SAME zone-map prune decode uses
    (per-column typed stats over the driver's sidecar scan):
    chunks whose recorded [min, max] is disjoint with [lo, hi] are
    never touched — a targeted delete on a 100-TB table rewrites
    O(matching key range) chunks, not the table. Each candidate
    rewrites in one distributed task (codec decode -> filter -> codec
    re-encode) and commits with ``replaces=[old id]`` — the same
    Iceberg-style REPLACE sidecar as compaction, so a crash at any
    point leaves the old chunk live or the new one, never both, never
    neither. Chunks the prune kept but the exact filter leaves intact
    are skipped (no pointless rewrite); fully-deleted chunks rewrite
    to a 0-row chunk (compact_chunks folds those away later).

    Candidates are read exactly as a reader reads them: checksums are
    verified (a corrupted candidate fails the verb with ``IOError``
    and its chunk stays live), and a predicate column added by schema
    evolution reads as NULL in older chunks, so they never match.

    Returns the new-chunk manifest DF. ``gc=True`` also deletes the
    superseded files afterwards.
    """
    from .decode import _live_pruned_files, _norm_wheres

    wheres = _norm_wheres(where)
    if not wheres:
        raise ValueError("delete_rows needs at least one (col, lo, hi)")
    plan = fsio.read_json(fsio.join(out_dir, "plan.json"))
    files = _live_pruned_files(spark, out_dir, plan, None, wheres)
    if files is None:
        raise IOError(f"{out_dir} has no usable sidecars; cannot delete")
    if not files:
        return _finish_encode(spark, None, out_dir, consolidate, verb="delete")
    done = scan_done_chunks(out_dir, columns=())
    next_id = _next_rewrite_id(done) if done else 0
    files = sorted(files)

    def drop_matching(tables, _row):
        import pyarrow.compute as pc

        table = tables[0]
        matched = None
        for c, lo, hi in wheres:
            target = table.column(c)
            lo_s, hi_s = pa.scalar(lo), pa.scalar(hi)
            if lo_s.type != target.type:
                # mistyped bounds (e.g. CLI strings vs int column): cast
                # rather than crash; incompatible casts raise loudly,
                # never silently mis-delete
                lo_s = lo_s.cast(target.type)
                hi_s = hi_s.cast(target.type)
            m = pc.and_kleene(
                pc.greater_equal(target, lo_s), pc.less_equal(target, hi_s)
            )
            matched = m if matched is None else pc.and_kleene(matched, m)
        # NULL never matches the BETWEEN -> row survives; a chunk the
        # prune kept (or one written before the predicate column
        # existed, all NULL for it) that nothing matches is untouched
        return _kept_rows(table, matched)

    wdf = _work_df(
        spark, range(next_id, next_id + len(files)),
        members=[[int(fn.split("-")[1].split(".")[0])] for fn in files],
        files=[[fn] for fn in files],
    ).repartition(min(len(files), spark.sparkContext.defaultParallelism))
    mdf = _rewrite_chunks(
        wdf, out_dir, fsio.join(out_dir, "manifest"), plan, drop_matching
    )
    result = _finish_encode(spark, mdf, out_dir, consolidate, verb="delete")
    if gc:
        gc_superseded(out_dir)
    return result


def _upsert_candidate_pairs(
    spark: SparkSession,
    df: DataFrame,
    key: str,
    key_type: str,
    plan: dict,
    live_idx: DataFrame,
) -> DataFrame:
    """Phase-1 (key, candidate chunk) pairing for :func:`upsert_rows`,
    O(K · matching chunks) — NEVER keys x chunks. ``live_idx`` is the
    candidate-chunk DataFrame (chunk_id, file, key_min, key_max,
    new_id), built from the driver's sidecar scan; the joins
    broadcast it:

    * range-plan GRID chunks: the persisted plan grid maps each batch
      key to its bucket (:func:`assign_buckets`, the same deterministic
      assignment that placed the stored rows), so the pairing is one
      EQUI-join on (bucket id) — a key meets only its own bucket's
      chunk in each generation;
    * rewrite-zone chunks (ids >= STRIDE/2 within their generation) and
      ALL chunks of partition-salted plans: a typed interval join
      against the broadcast [key_min, key_max] chunk table — the
      manifest's stringified stats cast back to ``key_type`` so the
      comparison is native-typed (never lexicographic on numerics,
      never sensitive to float/timestamp render drift).

    Keys travel in their NATIVE type end-to-end ('_k'); empty/0-row
    chunks have empty-string stats that cast to NULL and drop out.
    Returns columns (_k, old_id, new_id, file).
    """
    keys = df.select(F.col(key).alias("_k")).distinct()
    zone_off = GENERATION_STRIDE // 2
    # only pure range plans persist a key->bucket grid; partition-salt
    # buckets depend on the stored row's partition value and
    # file-aligned chunks on source file identity — both take the
    # typed interval join instead
    grid_ok = plan.get("mode") is None and plan.get("boundaries") is not None
    is_grid = (
        (F.col("chunk_id") % GENERATION_STRIDE < zone_off)
        if grid_ok else F.lit(False)
    )
    rdf = live_idx.filter(~is_grid).select(
        F.col("chunk_id").cast("int").alias("old_id"),
        F.col("new_id").cast("int").alias("new_id"),
        "file",
        F.col("key_min").alias("kmin"),
        F.col("key_max").alias("kmax"),
    )
    # try_cast: empty-string stats (0-row rewrite chunks) must become
    # NULL and drop out — a plain cast raises under ANSI for numeric
    # key types
    cond = (
        (F.col("_k") >= F.col("kmin").try_cast(key_type))
        & (F.col("_k") <= F.col("kmax").try_cast(key_type))
    )
    rpairs = keys.join(F.broadcast(rdf), cond).drop("kmin", "kmax")
    if not grid_ok:
        return rpairs
    gdf = live_idx.filter(is_grid).select(
        (F.col("chunk_id") % GENERATION_STRIDE).cast("int").alias("_bucket"),
        F.col("chunk_id").cast("int").alias("old_id"),
        F.col("new_id").cast("int").alias("new_id"),
        "file",
    )
    kb = assign_buckets(keys.withColumnRenamed("_k", key), plan).select(
        F.col(key).alias("_k"), F.col("_bucket")
    )
    gpairs = kb.join(F.broadcast(gdf), "_bucket").drop("_bucket")
    return gpairs.unionByName(rpairs)


def upsert_rows(
    spark: SparkSession,
    df: DataFrame,
    out_dir: str,
    generation: int,
    consolidate: bool = True,
    gc: bool = False,
) -> DataFrame:
    """MERGE by plan key (the last lakehouse verb): every row of ``df``
    whose key already exists REPLACES the stored row; new keys insert.
    Two parts, staged by ONE Spark action (a count over the union of
    their independent subtrees, whose stages overlap) and both
    resumable under the same ``generation``:

    1. **Rewrite**: each chunk's drop-key list is assembled
       DISTRIBUTED in the key column's NATIVE type (never via string
       renderings, whose Spark-vs-Arrow forms differ for double and
       timestamp keys) — the driver never holds keys. Candidate
       pairing is O(K · matching chunks), never keys x chunks:

       * PLAN-GRID chunks (range-mode plans; chunk_id %% STRIDE <
         STRIDE/2) pair by one :func:`assign_buckets` pass over the
         batch keys + an equi-join on the bucket id — the same
         persisted grid that placed the stored rows maps each key
         straight to its one candidate chunk per generation.
       * REWRITE-ZONE chunks (compaction/delete/upsert rewrites) and
         every chunk of partition-salted plans (bucket depends on the
         STORED row's partition value, unknowable from the batch key)
         pair by a typed interval join against the broadcast
         [key_min, key_max] table — the manifest's stringified stats
         cast back to the plan key type, so '9' > '100' traps and
         float/timestamp render drift cannot occur.

       Tasks then decode -> anti-filter (native-typed ``is_in``) ->
       re-encode with ``replaces=[old]`` sidecars, ids from the rewrite
       zone. Chunks whose candidate keys turn out absent are skipped.
       Candidates are read exactly as a reader reads them: checksums
       are verified (a corrupted candidate fails the verb with
       ``IOError`` before the commit marker, so nothing becomes
       visible), and columns added by schema evolution read as nulls.
    2. **Insert**: the staged encode of the whole batch under
       ``generation`` (:func:`encode_append` with ``pending``, which
       returns the encode without running it).

    The two parts form ONE atomic snapshot: every sidecar either part
    writes is STAGED under ``_staging/g<generation>/`` (invisible to all
    readers), and one commit-marker write (``_commits/g<generation>.
    json``) flips the whole transaction visible at once — a reader at
    any point observes either the pre-upsert table or the fully-merged
    table, never deletes-without-inserts or inserts-without-deletes.
    After the commit the staged sidecars migrate into ``manifest/``
    (:func:`_fold_committed_staging`; crash-safe, re-entrant).

    Retrying the same (df, generation) converges: an UNCOMMITTED
    crashed attempt's staging dir is reset (its sidecars were invisible
    and unreferenced) and the transaction re-derives from the live
    view; a COMMITTED generation's replay folds the prior migration,
    rewrites nothing (the keys are already gone) and append-resumes to
    a no-op. Batch keys must be unique within ``df``.
    """
    token = f"g{int(generation)}"
    commit_path = fsio.join(out_dir, "_commits", f"{token}.json")
    committed = fsio.exists(commit_path)
    # finish any prior transaction's partial sidecar migration first
    _fold_committed_staging(out_dir)
    if not committed:
        # crashed UNCOMMITTED attempt: staged sidecars are invisible
        # and unreferenced — reset and re-derive from the live view
        fsio.delete_dir(fsio.join(out_dir, "_staging", token))

    plan = fsio.read_json(fsio.join(out_dir, "plan.json"))
    key = plan["key"]
    key_type = plan.get("key_type") or df.schema[key].dataType.simpleString()
    if df.schema[key].dataType.simpleString() != key_type:
        raise ValueError(
            f"upsert batch key {key!r} is "
            f"{df.schema[key].dataType.simpleString()}, but the table's "
            f"plan key is {key_type}; cast the batch first — implicit "
            "key coercion silently mis-matches keys"
        )
    # a RETRY of this generation must not rewrite its own prior
    # insert chunks (append-resume would then skip re-inserting them):
    # exclude the generation's bucket range from rewrite candidates.
    gen_lo = int(generation) * GENERATION_STRIDE
    gen_hi = gen_lo + int(plan["n_chunks"])
    done = scan_done_chunks(out_dir, columns=("key_min", "key_max"))
    live = {
        cid: m for cid, m in live_chunks(done).items()
        if not (gen_lo <= cid < gen_hi)
    }
    staging_dir = fsio.join(out_dir, "_staging", token)
    fsio.makedirs(staging_dir)
    # the staged insert encode, not run yet
    staged = encode_append(
        spark, df, out_dir, generation, consolidate=False, pending=token
    )
    if live:
        # an Arrow-built index is a LocalRelation: broadcasting it to
        # the candidate joins runs no job
        base = _next_rewrite_id(done)
        ids = sorted(live)
        live_idx = spark.createDataFrame(pa.table({
            "chunk_id": pa.array(ids, pa.int64()),
            "file": [live[c]["file"] for c in ids],
            "key_min": [live[c].get("key_min", "") for c in ids],
            "key_max": [live[c].get("key_max", "") for c in ids],
            "new_id": pa.array(range(base, base + len(ids)), pa.int64()),
        }))
        pairs = _upsert_candidate_pairs(spark, df, key, key_type, plan, live_idx)
        specs = pairs.groupBy("old_id", "new_id", "file").agg(
            F.collect_list("_k").alias("drop_keys")
        ).select(
            F.col("new_id").alias("chunk_id"),
            F.array("old_id").alias("members"),
            F.array("file").alias("files"),
            "drop_keys",
        )

        def drop_keys(tables, row):
            import pyarrow.compute as pc

            table = tables[0]
            target = table.column(key)
            # NATIVE-typed key match: the drop keys arrive in the key
            # column's own Arrow type (never through a string rendering,
            # whose Spark and Arrow forms disagree for double '1.0'/'1'
            # and timestamp second/microsecond precision)
            vs = pa.array(row["drop_keys"])
            if vs.type != target.type:
                vs = vs.cast(target.type)
            # candidate keys absent -> None: chunk untouched
            return _kept_rows(table, pc.is_in(target, value_set=vs))

        # at most one spec per live chunk
        staged = _rewrite_chunks(
            specs.repartition(
                min(len(live), spark.sparkContext.defaultParallelism)
            ),
            out_dir, staging_dir, plan, drop_keys,
        ).unionByName(staged)
    # ONE action stages rewrites and inserts: the two subtrees are
    # independent, so their stages overlap
    staged.count()
    # COMMIT: one atomic marker write flips rewrites + inserts visible
    fsio.makedirs(fsio.join(out_dir, "_commits"))
    fsio.write_json_atomic(commit_path, {"generation": int(generation)})
    _fold_committed_staging(out_dir)
    result = _finish_encode(spark, None, out_dir, consolidate, verb="upsert")
    if gc:
        gc_superseded(out_dir)
    return result


def rewrite_clustered(
    spark: SparkSession,
    out_dir: str,
    cluster_by: list[str],
    n_chunks: int | None = None,
    bits_per_col: int = 8,
    gc: bool = False,
    consolidate: bool = True,
) -> DataFrame:
    """Re-cluster an EXISTING table by Z-order — the lakehouse
    ``OPTIMIZE ... ZORDER BY`` verb: decode the live view, re-chunk on
    the Morton interleave of ``cluster_by``'s quantile ranks
    (plans/chunking.make_zorder_plan), and atomically replace the old
    chunk set, so ``decode_table(where=...)`` / DataSource SQL prune
    on ANY cluster column from then on.

    Atomicity rides the same staging + commit-marker machinery as
    MERGE (:func:`upsert_rows`): new chunks + sidecars stage invisibly
    under ``_staging/zorder<base>/``; the retirement of ALL old chunks
    is round-robin distributed across the new sidecars' ``replaces``
    lists (no single multi-MB sidecar at 10^6 chunks); ONE
    ``_commits/zorder<base>.json`` write flips the whole rewrite
    visible. A reader at any moment sees the old clustering or the
    new, never a mix. A crashed uncommitted attempt is invisible and
    cleaned by the next run; a crashed committed attempt finishes its
    sidecar migration on the next verb.

    New chunk ids come from the rewrite zone (same as compaction /
    DELETE), so they can never collide with a half-finished
    generation's resume range. The table plan is untouched except an
    informational ``clustered_by`` key — later appends keep landing on
    their generation grid (their zone maps are their own; re-run this
    verb to fold them into the clustering).

    Scale shape: one decode + one hash shuffle on the z-bucket + one
    streaming encode pass — the exact cost of the original encode; the
    driver touches only sidecar metadata.
    """
    from ..plans.chunking import make_zorder_plan

    plan_path = fsio.join(out_dir, "plan.json")
    if not fsio.exists(plan_path):
        raise FileNotFoundError(f"{out_dir} is not an encoded table")
    plan = fsio.read_json(plan_path)
    _fold_committed_staging(out_dir)
    # clear crashed uncommitted zorder attempts (invisible, unreferenced)
    for d in fsio.list_dirs(fsio.join(out_dir, "_staging")):
        if d.startswith("zorder") and not fsio.exists(
            fsio.join(out_dir, "_commits", f"{d}.json")
        ):
            fsio.delete_dir(fsio.join(out_dir, "_staging", d))

    done = scan_done_chunks(out_dir, columns=())
    old_ids = sorted(live_chunks(done))
    if not old_ids:
        raise ValueError(f"{out_dir} has no live chunks to re-cluster")
    n_out = n_chunks or len(old_ids)
    base = _next_rewrite_id(done)
    top = (max(done) // GENERATION_STRIDE) * GENERATION_STRIDE
    if base + n_out > top + GENERATION_STRIDE:
        raise RuntimeError(
            f"rewrite-id zone cannot hold {n_out} re-clustered chunks; "
            "append a new generation to open a fresh zone first"
        )
    from .decode import decode_table

    df = decode_table(spark, out_dir)
    key = plan.get("key") or ""
    zplan = make_zorder_plan(
        df, key, cluster_by, n_out, bits_per_col=bits_per_col
    )
    token = f"zorder{base}"
    staging_dir = fsio.join(out_dir, "_staging", token)
    fsio.makedirs(staging_dir)
    bdf = assign_buckets(df, zplan).withColumn(
        "_bucket", (F.col("_bucket") + F.lit(int(base))).cast("int")
    )
    _encode_buckets(
        bdf, int(zplan["n_chunks"]), int(base), key,
        fsio.join(out_dir, "chunks"), staging_dir,
    ).count()  # materialize the staged encode

    # distribute the old-chunk retirement across the staged sidecars
    staged = sorted(
        fn for fn, _sz in fsio.list_files(staging_dir) if fn.endswith(".json")
    )
    if not staged:
        raise RuntimeError(
            f"re-cluster of {out_dir} produced no chunks for "
            f"{len(old_ids)} live inputs"
        )
    for i, fn in enumerate(staged):
        sl = old_ids[i::len(staged)]
        if not sl:
            continue
        m = fsio.read_json(fsio.join(staging_dir, fn))
        m["replaces"] = [int(x) for x in sl]
        fsio.write_json_atomic(fsio.join(staging_dir, fn), m)

    plan["clustered_by"] = list(cluster_by)
    fsio.write_json_atomic(plan_path, plan)
    fsio.makedirs(fsio.join(out_dir, "_commits"))
    fsio.write_json_atomic(
        fsio.join(out_dir, "_commits", f"{token}.json"),
        {"rewrite_base": int(base), "cluster_by": list(cluster_by)},
    )
    _fold_committed_staging(out_dir)
    result = _finish_encode(
        spark, None, out_dir, consolidate, verb="rewrite_clustered"
    )
    if gc:
        gc_superseded(out_dir)
    return result


def gc_superseded(out_dir: str) -> int:
    """Delete sidecars+files of chunks superseded by verified
    compacted chunks; returns how many victims it actually deleted.
    Pure garbage collection: the read view already excludes them, so
    this is idempotent and crash-safe to re-run. The victim list
    comes from one :func:`scan_done_chunks`, and the deletes run on
    the driver, one or two per victim.

    Committed-but-unfolded staging dirs (a crash between an upsert's
    commit marker and its fold) are folded into ``manifest/`` first,
    so every victim's sidecar is where GC deletes it: a staged
    sidecar left behind would later fold back into the manifest and
    resurrect a retired chunk whose file is gone.

    Snapshot retention (operators/snapshots.py): a chunk referenced by
    ANY retained snapshot is never collected even when the live view
    superseded it — time travel to that version must keep working.
    ``expire_snapshots`` is what releases those chunks to a later GC."""
    _fold_committed_staging(out_dir)
    done = scan_done_chunks(out_dir, columns=())
    live = live_chunks(done)
    victims = [
        (int(cid), m["file"]) for cid, m in done.items() if cid not in live
    ]
    if victims:
        from .snapshots import referenced_ids

        ref = referenced_ids(out_dir) or set()
        victims = [(cid, f) for cid, f in victims if cid not in ref]
    return sum(_delete_victim(out_dir, cid, fname) for cid, fname in victims)


def _delete_victim(out_dir: str, chunk_id: int, fname: str) -> bool:
    """Delete a superseded chunk's sidecar and chunk file; True when
    either was actually removed. Missing files are tolerated: a re-run
    after a crashed GC must not break the idempotent re-run promise —
    and is not counted again."""
    removed = False
    for path in (
        fsio.join(out_dir, "manifest", f"{int(chunk_id):05d}.json"),
        fsio.join(out_dir, "chunks", fname),
    ):
        try:
            fs, p = fsio.resolve(path)
            fs.delete_file(p)
            removed = True
        except (FileNotFoundError, OSError):
            pass
    return removed
