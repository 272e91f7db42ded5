"""Table snapshots — versioned commits, time travel, expiry.

The Iceberg snapshot model re-expressed over this engine's sidecar
manifest: every committed verb (encode / append / delete / upsert /
compaction) on a snapshot-tracking table persists the LIVE VERIFIED
chunk membership as one immutable parquet under
``_snapshots/v<NNNNNN>/`` plus a tiny JSON marker whose atomic write
IS the snapshot commit. ``decode_table(as_of=version)`` then
reproduces the table exactly as of that commit — later deletes,
upserts and compactions are invisible — because garbage collection
(:func:`encode.gc_superseded`) never deletes a chunk referenced by a
retained snapshot. ``expire_snapshots`` is the retention verb
(Iceberg's ``expire_snapshots``): dropping old versions is what
releases their superseded chunks to GC.

Tracking is OPT-IN per table (``encode_table(track_snapshots=True)``
persists ``snapshots: true`` into plan.json): tables that don't opt in
keep the round-6 behavior exactly — GC frees superseded chunks
immediately and there is no per-commit snapshot write.

Scale shape: a snapshot is one row per live chunk (id, file, n_rows —
a few MB at ~10^5-10^6 chunks), built on the driver from the sidecar
scan the verb's commit already makes (`encode._finish_encode`) and
committed as one parquet put; the marker is O(1). GC's retention check reads
the retained snapshots' chunk ids on the driver (:func:`referenced_ids`).
Reference parity: the reference library has no versioning (it
reads/writes whole files, ``arrow_pd_parser/_readers.py``); this
generalizes its "what you wrote is what you read back" contract across
table history.
"""

from __future__ import annotations

import json

import pyarrow as pa

from pyspark.sql import DataFrame, SparkSession

from ..sources import fsio

_SNAP_ARROW_SCHEMA = pa.schema(
    [
        ("chunk_id", pa.int32()),
        ("file", pa.string()),
        ("n_rows", pa.int64()),
    ]
)


def _snap_root(out_dir: str) -> str:
    return fsio.join(out_dir, "_snapshots")


def _marker_path(out_dir: str, version: int) -> str:
    return fsio.join(_snap_root(out_dir), f"v{version:06d}.json")


def _data_dir(out_dir: str, version: int) -> str:
    return fsio.join(_snap_root(out_dir), f"v{version:06d}")


def tracking_enabled(out_dir: str) -> bool:
    """True when the table's plan opts into snapshot tracking."""
    try:
        return bool(fsio.read_json(fsio.join(out_dir, "plan.json")).get("snapshots"))
    except (FileNotFoundError, OSError, json.JSONDecodeError):
        return False


def list_snapshots(out_dir: str) -> list[dict]:
    """Committed snapshot markers, ascending by version. A data dir
    without a marker is an uncommitted (crashed) write and is ignored;
    a re-run's next commit simply allocates past it."""
    out = []
    for fn, _sz in fsio.list_files(_snap_root(out_dir)):
        if not (fn.startswith("v") and fn.endswith(".json")):
            continue
        try:
            m = fsio.read_json(fsio.join(_snap_root(out_dir), fn))
            out.append({"version": int(m["version"]), "verb": m.get("verb", "")})
        except (json.JSONDecodeError, KeyError, OSError, ValueError):
            continue
    return sorted(out, key=lambda m: m["version"])


def _next_version(out_dir: str) -> int:
    """First version past every marker AND every (possibly crashed,
    uncommitted) data dir, so a retry never writes into a dir a dead
    attempt half-filled."""
    top = 0
    for fn, _sz in fsio.list_files(_snap_root(out_dir)):
        if fn.startswith("v") and fn.endswith(".json"):
            try:
                top = max(top, int(fn[1:-5]))
            except ValueError:
                continue
    for d in fsio.list_dirs(_snap_root(out_dir)):
        if d.startswith("v"):
            try:
                top = max(top, int(d[1:]))
            except ValueError:
                continue
    return top + 1


def write_snapshot(
    spark: SparkSession | None, out_dir: str, verb: str, live: dict[int, dict]
) -> int:
    """Persist ``live``, the current LIVE VERIFIED chunk membership
    (``encode.live_chunks`` over a sidecar scan that carries
    ``n_rows``; the verb commit passes the scan it already made), as
    the next snapshot version; returns the version. Data-then-marker:
    the parquet is fully durable before the marker commit, so a crash
    leaves an ignored orphan dir, never a half-readable snapshot.
    ``spark`` is accepted but unused."""
    version = _next_version(out_dir)
    data_dir = _data_dir(out_dir, version)
    fsio.makedirs(data_dir)
    rows = [
        {"chunk_id": int(cid), "file": m["file"], "n_rows": int(m["n_rows"])}
        for cid, m in sorted(live.items())
    ]
    fsio.write_parquet_atomic(
        pa.Table.from_pylist(rows, schema=_SNAP_ARROW_SCHEMA),
        fsio.join(data_dir, "snap-00000.parquet"),
    )
    import time as _time

    fsio.write_json_atomic(
        _marker_path(out_dir, version),
        {"version": version, "verb": verb, "ts": _time.time()},
    )
    return version


def _tags_path(out_dir: str) -> str:
    return fsio.join(_snap_root(out_dir), "tags.json")


def list_tags(out_dir: str) -> dict[str, int]:
    """Named snapshot refs (Iceberg tags): {name: version}."""
    try:
        raw = fsio.read_json(_tags_path(out_dir))
        return {str(k): int(v) for k, v in raw.items()}
    except (FileNotFoundError, OSError, json.JSONDecodeError, ValueError):
        return {}


def tag(out_dir: str, name: str, version: int | None = None) -> int:
    """Point ``name`` at ``version`` (default: the latest snapshot).
    A tagged version is PROTECTED from :func:`expire_snapshots` until
    untagged — the release-pinning workflow (tag 'prod' at the vetted
    version; readers use ``as_of='prod'``; expiry and GC can never
    pull it out from under them)."""
    snaps = list_snapshots(out_dir)
    if not snaps:
        raise ValueError(f"{out_dir!r} has no snapshots to tag")
    have = [m["version"] for m in snaps]
    v = int(version) if version is not None else have[-1]
    if v not in have:
        raise ValueError(f"snapshot v{v} not found (available: {have})")
    tags = list_tags(out_dir)
    tags[name] = v
    fsio.write_json_atomic(_tags_path(out_dir), tags)
    return v


def untag(out_dir: str, name: str) -> None:
    tags = list_tags(out_dir)
    if name in tags:
        del tags[name]
        fsio.write_json_atomic(_tags_path(out_dir), tags)


def resolve_version(out_dir: str, as_of) -> int:
    """``as_of`` for the read paths: an int version passes through; a
    string resolves through the tag table."""
    if isinstance(as_of, str):
        tags = list_tags(out_dir)
        if as_of not in tags:
            raise ValueError(
                f"no snapshot tag {as_of!r} at {out_dir!r} "
                f"(tags: {sorted(tags)})"
            )
        return tags[as_of]
    return int(as_of)


def read_snapshot_arrow(out_dir: str, version: int) -> pa.Table:
    """One snapshot's membership as an arrow table (driver-side read —
    used by the as_of prune, table_changes and GC)."""
    import pyarrow.parquet as _pq

    if not fsio.exists(_marker_path(out_dir, version)):
        have = [m["version"] for m in list_snapshots(out_dir)]
        detail = (
            str(have) if have else
            "none — the table does not track snapshots, or the version "
            "was expired"
        )
        raise ValueError(
            f"snapshot v{version} not found at {out_dir!r} (available: {detail})"
        )
    data_dir = _data_dir(out_dir, version)
    parts = []
    for fn, _sz in fsio.list_files(data_dir):
        if fn.endswith(".parquet"):
            fs, p = fsio.resolve(fsio.join(data_dir, fn))
            parts.append(_pq.read_table(p, filesystem=fs))
    if not parts:
        raise IOError(f"snapshot v{version} at {out_dir!r} has no data files")
    return pa.concat_tables([t.cast(_SNAP_ARROW_SCHEMA) for t in parts])


def referenced_ids(out_dir: str) -> set[int] | None:
    """chunk_ids referenced by ANY retained snapshot, or None when the
    table has no snapshots — GC's retention input."""
    snaps = list_snapshots(out_dir)
    if not snaps:
        return None
    ref: set[int] = set()
    for m in snaps:
        t = read_snapshot_arrow(out_dir, m["version"])
        ref.update(t.column("chunk_id").to_pylist())
    return ref


def table_changes(
    spark: SparkSession,
    out_dir: str,
    from_version: int,
    to_version: int,
    columns: list[str] | None = None,
) -> DataFrame:
    """Row-level changes between two retained snapshots — the
    incremental / CDC read (Iceberg's incremental scan, Delta's
    ``table_changes``): returns the table's columns plus ``_change``
    (``'insert'`` rows present in ``to`` but not ``from``,
    ``'delete'`` rows present in ``from`` but not ``to``). An upserted
    key therefore shows up twice: a delete of the old payload and an
    insert of the new one.

    Scale shape: the membership diff is METADATA-only (two snapshot
    file lists on the driver — file names, not rows); only chunks
    present in exactly one of the two versions are decoded at all, and
    the cancellation of rows merely MOVED by a rewrite (a delete
    rewrite replaces chunk A with A' carrying the survivors;
    compaction repacks whole chunks) is ``exceptAll`` over just those
    chunks' rows. Consuming day N's changes on a 100-TB table costs
    O(day N's churn), not O(table).

    With a ``columns`` projection, rows whose changes are invisible in
    the projection cancel out — the diff is exact for the projected
    view. Raises if either version is missing/expired, or
    ``from_version >= to_version``.
    """
    from_version = resolve_version(out_dir, from_version)
    to_version = resolve_version(out_dir, to_version)
    if from_version >= to_version:
        raise ValueError(
            f"from_version must be < to_version, got "
            f"{from_version} >= {to_version}"
        )
    a = read_snapshot_arrow(out_dir, from_version)
    b = read_snapshot_arrow(out_dir, to_version)
    files_a = dict(
        zip(a.column("chunk_id").to_pylist(), a.column("file").to_pylist())
    )
    files_b = dict(
        zip(b.column("chunk_id").to_pylist(), b.column("file").to_pylist())
    )
    added = sorted(f for cid, f in files_b.items() if cid not in files_a)
    removed = sorted(f for cid, f in files_a.items() if cid not in files_b)

    from pyspark.sql import functions as F

    from .decode import decode_files

    add_df = decode_files(spark, out_dir, added, columns=columns)
    rem_df = decode_files(spark, out_dir, removed, columns=columns)
    ins = add_df.exceptAll(rem_df).withColumn("_change", F.lit("insert"))
    dels = rem_df.exceptAll(add_df).withColumn("_change", F.lit("delete"))
    return ins.unionByName(dels)


def expire_snapshots(out_dir: str, keep_last: int = 1) -> list[int]:
    """Drop all but the newest ``keep_last`` snapshots (markers first,
    then data dirs — a crash mid-way leaves an orphan dir that
    ``_next_version`` skips and a re-run finishes deleting). TAGGED
    versions (:func:`tag`) are always kept regardless of age. Returns
    the expired versions. Expiry is what releases a snapshot's
    superseded chunks to :func:`encode.gc_superseded`."""
    if keep_last < 1:
        raise ValueError(f"keep_last must be >= 1, got {keep_last}")
    snaps = list_snapshots(out_dir)
    pinned = set(list_tags(out_dir).values())
    victims = [
        m for m in (snaps[:-keep_last] if len(snaps) > keep_last else [])
        if m["version"] not in pinned
    ]
    expired = []
    for m in victims:
        v = m["version"]
        fs, p = fsio.resolve(_marker_path(out_dir, v))
        try:
            fs.delete_file(p)
        except (FileNotFoundError, OSError):
            pass
        fsio.delete_dir(_data_dir(out_dir, v))
        expired.append(v)
    return expired
