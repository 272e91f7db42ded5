"""Chunk planning: deterministic range partitioning on the sort key (N11).

``repartitionByRange`` alone is not resumable: its sampled boundaries
change run-to-run, so chunk identity would drift. We do what it does —
sample the key, cut quantile boundaries — but persist the boundaries in
``plan.json`` on the first run and reuse them on every subsequent run,
making chunk ids stable across restarts and parallelism levels
(SURVEY.md §2.6 N11 + N13).

Bucket assignment is strategy-selected by boundary count:

* small plans (<= _FOLD_MAX_BOUNDARIES cuts) use a pure JVM fold over
  the literal boundary array (whole-stage codegen, zero Python);
* large plans (a 100-TB table at ~256 MB chunks has ~400k cuts —
  a literal array would embed megabytes in every task's plan and cost
  O(cuts) comparisons per row) switch to one vectorized
  ``np.searchsorted`` mapInArrow pass: O(log cuts) per row and the
  boundary array rides the task-binary broadcast once per executor.

Either way it is one narrow map stage; the only shuffle is the
subsequent hash-repartition on the bucket id, which is exactly the
shuffle a range partitioner would do.

Boundaries are persisted JSON-safe: timestamps/dates as ISO strings,
decimals as strings, with the key's Spark type recorded in the plan
(``key_type``) so both assignment paths rebuild typed comparisons.
"""

from __future__ import annotations

import datetime
import decimal

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

PLAN_FILE = "plan.json"
_SAMPLE_TARGET = 100_000
_FOLD_MAX_BOUNDARIES = 128


def _json_safe_boundary(v):
    """Plan boundaries must survive json.dump and reconstruct exactly:
    datetime/date -> ISO string, Decimal -> string, primitives as-is."""
    if isinstance(v, bool):
        raise ValueError("boolean chunk keys are not range-partitionable")
    if isinstance(v, (int, float, str)):
        return v
    if isinstance(v, (datetime.datetime, datetime.date)):
        return v.isoformat(sep=" ") if isinstance(v, datetime.datetime) else v.isoformat()
    if isinstance(v, decimal.Decimal):
        return str(v)
    if hasattr(v, "isoformat"):  # pd.Timestamp
        return v.isoformat(sep=" ")
    raise ValueError(
        f"chunk key value {v!r} ({type(v).__name__}) cannot be persisted "
        "in plan.json; use an int/float/string/timestamp/date/decimal key"
    )


def make_plan(
    df: DataFrame,
    key: str,
    n_chunks: int,
    seed: int = 42,
    partition_cols: list[str] | None = None,
) -> dict:
    """Sample ``key`` and cut ``n_chunks`` quantile boundaries."""
    n_rows = df.count()
    if n_rows == 0:
        boundaries: list = []
    else:
        frac = min(1.0, _SAMPLE_TARGET / max(n_rows, 1))
        sample = (
            df.select(key).sample(fraction=frac, seed=seed).toPandas()[key].tolist()
        )
        if not sample:
            sample = [r[0] for r in df.select(key).limit(1000).collect()]
        sample.sort()
        cuts = [
            sample[int(len(sample) * i / n_chunks)]
            for i in range(1, n_chunks)
        ]
        # dedupe while preserving order (low-cardinality keys)
        boundaries = sorted({_json_safe_boundary(c) for c in cuts})
    return {
        "version": 1,
        "key": key,
        "key_type": df.schema[key].dataType.simpleString(),
        "n_chunks": len(boundaries) + 1,
        "boundaries": boundaries,
        "n_rows": n_rows,
        "seed": seed,
        "partition_cols": partition_cols or [],
    }


def make_partitioned_plan(
    df: DataFrame,
    key: str,
    partition_col: str,
    n_chunks: int,
    seed: int = 42,
) -> dict:
    """Partition-by-``partition_col`` plan with EXPLICIT skew salting
    (SURVEY N10 / north rule "salting of skewed source partitions").

    Each partition value gets a number of salts proportional to its row
    count — a 70%-hot ``source`` value is split across ~70% of the
    chunk budget instead of stalling one straggler task. Chunk id =
    dense offset(partition) + hash(key) % salts(partition); the salt
    map persists in the plan so chunk identity stays stable for resume.
    """
    counts = {
        r[0]: r[1]
        for r in df.groupBy(partition_col).count().collect()
    }
    total = sum(counts.values()) or 1
    salts: dict = {}
    # keys stringified: json.dump would coerce them on reload anyway,
    # so persist and look up consistently as strings
    for val, cnt in sorted(counts.items(), key=lambda kv: str(kv[0])):
        salts[str(val)] = max(1, round(n_chunks * cnt / total))
    offsets: dict = {}
    base = 0
    for val in salts:
        offsets[val] = base
        base += salts[val]
    return {
        "version": 1,
        "mode": "partition_salt",
        "key": key,
        "key_type": df.schema[key].dataType.simpleString(),
        "partition_col": partition_col,
        "salts": salts,
        "offsets": offsets,
        "n_chunks": base + 1,  # +1: overflow bucket for unseen values
        "overflow_bucket": base,
        "n_rows": total,
        "seed": seed,
        "boundaries": [],
    }


def make_zorder_plan(
    df: DataFrame,
    key: str,
    cluster_by: list[str],
    n_chunks: int,
    seed: int = 42,
    bits_per_col: int = 8,
) -> dict:
    """Multi-column Z-ORDER clustering plan (the lakehouse OPTIMIZE
    ZORDER BY analog — Delta/Iceberg use the same construction): each
    cluster column is rank-coded through its own sampled quantile cut
    points (``2^bits_per_col`` buckets — quantile, not min-max, so
    skewed columns still spread), the per-column ranks bit-interleave
    into one Morton/Z value, and chunk boundaries are quantiles of the
    SAMPLED Z values.

    Why: range-partitioning on one key gives tight zone maps for that
    key only; Z-ordering gives every cluster column a *partially*
    tight per-chunk [min, max], so ``decode_table(where=...)`` (and
    SQL pushdown through the DataSource) prunes on ANY of them —
    multi-dimensional pruning from the same one-shuffle encode.
    Pruning power degrades gracefully with dimension count (~N^(1/k)
    of chunks survive a point predicate on one of k columns).

    The plan persists the cut points and Z boundaries, so chunk
    identity stays deterministic across restarts (same resume contract
    as the range plan). Assignment is one vectorized mapInArrow pass
    (numpy searchsorted per column + bit interleave) — the boundary
    arrays ride the task binary, nothing in the SQL plan.
    """
    if not cluster_by:
        raise ValueError("cluster_by must name at least one column")
    if not 1 <= bits_per_col <= 16:
        raise ValueError(f"bits_per_col must be in [1, 16], got {bits_per_col}")
    for c in cluster_by:
        if c not in df.columns:
            raise KeyError(f"cluster_by column {c!r} not in the DataFrame")
    import numpy as np

    n_rows = df.count()
    n_levels = 1 << bits_per_col
    frac = min(1.0, _SAMPLE_TARGET / max(n_rows, 1))
    pdf = df.select(*cluster_by).sample(fraction=frac, seed=seed).toPandas()
    if len(pdf) == 0:
        pdf = df.select(*cluster_by).limit(1000).toPandas()
    col_cuts: dict[str, list] = {}
    ranks = []
    for c in cluster_by:
        vals = sorted(v for v in pdf[c].tolist() if v is not None)
        cuts = sorted({
            _json_safe_boundary(vals[int(len(vals) * i / n_levels)])
            for i in range(1, n_levels)
        }) if vals else []
        col_cuts[c] = cuts
        col_vals = pdf[c].tolist()
        valid = np.array([v is not None for v in col_vals])
        r = np.zeros(len(col_vals), dtype=np.uint64)
        if cuts and valid.any():
            arr = np.array(
                [v for v in col_vals if v is not None], dtype=object
            )
            r[valid] = np.searchsorted(
                np.array(cuts, dtype=object), arr, side="right"
            ).astype(np.uint64)
        ranks.append(r)
    z = _interleave_ranks(ranks, bits_per_col)
    z.sort()
    zb = sorted({
        int(z[int(len(z) * i / n_chunks)]) for i in range(1, n_chunks)
    }) if len(z) else []
    return {
        "version": 1,
        "mode": "zorder",
        "key": key,
        "key_type": df.schema[key].dataType.simpleString()
        if key in df.columns else None,
        "cluster_by": list(cluster_by),
        "col_cuts": col_cuts,
        "col_types": {
            c: df.schema[c].dataType.simpleString() for c in cluster_by
        },
        "bits_per_col": bits_per_col,
        "boundaries": zb,
        "n_chunks": len(zb) + 1,
        "n_rows": n_rows,
        "seed": seed,
    }


def _interleave_ranks(ranks: list, bits_per_col: int):
    """Vectorized Morton interleave: bit i of column c lands at
    position i * n_cols + c (LSB-first), so every column contributes
    equally at every scale."""
    import numpy as np

    n_cols = len(ranks)
    z = np.zeros(len(ranks[0]) if ranks else 0, dtype=np.uint64)
    for i in range(bits_per_col):
        for c, r in enumerate(ranks):
            z |= ((r >> np.uint64(i)) & np.uint64(1)) << np.uint64(
                i * n_cols + c
            )
    return z


def _assign_buckets_zorder(df: DataFrame, plan: dict, col_name: str) -> DataFrame:
    """One vectorized Arrow pass: per-column rank via searchsorted over
    the persisted cut points, Morton interleave, then searchsorted
    over the persisted Z boundaries. Null column values rank 0
    (deterministic, matches the plan sample's treatment)."""
    import numpy as np
    import pyarrow as pa

    cluster_by = plan["cluster_by"]
    col_cuts = plan["col_cuts"]
    bits = int(plan["bits_per_col"])
    zb = plan["boundaries"]
    out_schema = T.StructType(
        list(df.schema.fields) + [T.StructField(col_name, T.IntegerType())]
    )

    def assign(batches):
        cuts_np: dict = {}
        zb_np = np.array(zb, dtype=np.uint64)
        for batch in batches:
            ranks = []
            for c in cluster_by:
                col = batch.column(c)
                if c not in cuts_np:
                    raw = col_cuts[c]
                    cuts_np[c] = (
                        pa.array(raw).cast(col.type)
                        .to_numpy(zero_copy_only=False)
                        if raw else None
                    )
                r = np.zeros(len(col), dtype=np.uint64)
                if cuts_np[c] is not None:
                    valid = col.is_valid().to_numpy(zero_copy_only=False)
                    vnp = col.to_numpy(zero_copy_only=False)
                    if valid.any():
                        r[valid] = np.searchsorted(
                            cuts_np[c], vnp[valid], side="right"
                        ).astype(np.uint64)
                ranks.append(r)
            z = _interleave_ranks(ranks, bits)
            idx = np.searchsorted(zb_np, z, side="right").astype("int32") \
                if len(zb_np) else np.zeros(len(z), dtype="int32")
            yield batch.append_column(col_name, pa.array(idx, pa.int32()))

    return df.mapInArrow(assign, schema=out_schema)


def load_or_make_plan(
    spark: SparkSession,
    df: DataFrame,
    out_dir: str,
    key: str,
    n_chunks: int,
    seed: int = 42,
    partition_col: str | None = None,
    cluster_by: list[str] | None = None,
) -> dict:
    from ..sources import fsio

    path = fsio.join(out_dir, PLAN_FILE)
    if fsio.exists(path):
        return fsio.read_json(path)
    if partition_col and cluster_by:
        raise ValueError("partition_col and cluster_by are mutually exclusive")
    if cluster_by:
        plan = make_zorder_plan(df, key, cluster_by, n_chunks, seed=seed)
    elif partition_col:
        plan = make_partitioned_plan(df, key, partition_col, n_chunks, seed=seed)
    else:
        plan = make_plan(df, key, n_chunks, seed=seed)
    fsio.makedirs(out_dir)
    fsio.write_json_atomic(path, plan)
    return plan


def assign_buckets(df: DataFrame, plan: dict, col_name: str = "_bucket") -> DataFrame:
    """Add the deterministic range-bucket id column.

    bucket = |{ b in boundaries : key >= b }| — searchsorted(side=right).
    Small plans: a pure JVM fold over a literal boundary array
    (codegen'd; ~4x faster than a pandas UDF at small cut counts).
    Large plans: vectorized np.searchsorted in one mapInArrow pass —
    O(log cuts) per row, no multi-megabyte literal in the query plan.
    Plans with no key grid (file_aligned, datasource) place every
    appended row in bucket 0: one new chunk per append.
    """
    if plan.get("mode") == "zorder":
        return _assign_buckets_zorder(df, plan, col_name)
    if plan.get("mode") == "partition_salt":
        p = plan["partition_col"]
        key = plan["key"]
        salt_entries = []
        off_entries = []
        for val, n in plan["salts"].items():
            salt_entries += [F.lit(val), F.lit(n)]
            off_entries += [F.lit(val), F.lit(plan["offsets"][val])]
        salts_map = F.create_map(*salt_entries)
        offs_map = F.create_map(*off_entries)
        pcol = F.col(p).cast("string")  # salt keys persist as strings
        bucket = offs_map[pcol] + F.pmod(F.xxhash64(F.col(key)), salts_map[pcol])
        # partition values unseen at plan time land in the overflow bucket
        bucket = F.coalesce(bucket, F.lit(plan["overflow_bucket"]))
        return df.withColumn(col_name, bucket.cast("int"))
    boundaries = plan.get("boundaries")
    key = plan["key"]
    key_type = plan.get("key_type")
    if not boundaries:
        return df.withColumn(col_name, F.lit(0))
    if len(boundaries) > _FOLD_MAX_BOUNDARIES:
        return _assign_buckets_searchsorted(df, key, boundaries, col_name)
    if key_type and isinstance(boundaries[0], str) and key_type != "string":
        # timestamp/date/decimal boundaries persisted as strings:
        # rebuild typed literals for exact JVM comparison semantics
        lits = [F.lit(b).cast(key_type) for b in boundaries]
    else:
        lits = [F.lit(b) for b in boundaries]
    barr = F.array(*lits)
    bucket = F.aggregate(
        barr,
        F.lit(0),
        lambda acc, b: acc + F.when(F.col(key) >= b, 1).otherwise(0),
    )
    return df.withColumn(col_name, bucket.cast("int"))


def _assign_buckets_searchsorted(
    df: DataFrame, key: str, boundaries: list, col_name: str
) -> DataFrame:
    """One vectorized Arrow pass: _bucket = searchsorted(boundaries,
    key, side='right'). The boundary array is captured in the task
    closure, which Spark ships via the (compressed, once-per-executor)
    task-binary broadcast — nothing is embedded in the SQL plan."""
    import numpy as np
    import pyarrow as pa

    out_schema = T.StructType(
        list(df.schema.fields) + [T.StructField(col_name, T.IntegerType())]
    )

    def assign(batches):
        bnp = None
        for batch in batches:
            keys = batch.column(key)
            if bnp is None:
                # cast the JSON-persisted boundaries to the key's arrow
                # type (handles ISO-string timestamps/dates, decimals)
                bnp = pa.array(boundaries).cast(keys.type).to_numpy(zero_copy_only=False)
            # null keys -> bucket 0, matching the JVM fold path (null
            # comparisons contribute otherwise(0)); searchsorted would
            # send NaN/NaT last and crash on object arrays with None
            valid = keys.is_valid().to_numpy(zero_copy_only=False)
            knp = keys.to_numpy(zero_copy_only=False)
            idx = np.zeros(len(keys), dtype="int32")
            if valid.any():
                idx[valid] = np.searchsorted(
                    bnp, knp[valid], side="right"
                ).astype("int32")
            yield batch.append_column(col_name, pa.array(idx, pa.int32()))

    return df.mapInArrow(assign, schema=out_schema)


def _murmur3_int32(x: int, seed: int = 42) -> int:
    """Spark's ``Murmur3Hash`` of one IntegerType value (seed 42) —
    Murmur3 x86_32 over the int's 4 little-endian bytes, all 32-bit
    wraparound arithmetic. Pure python so the driver can derive
    partition probes without a Spark job; parity with ``F.hash`` is
    pinned by a test."""
    m = 0xFFFFFFFF

    def rotl(v, r):
        return ((v << r) | (v >> (32 - r))) & m

    k1 = (x & m) * 0xCC9E2D51 & m
    k1 = rotl(k1, 15) * 0x1B873593 & m
    h1 = (seed ^ k1) & m
    h1 = (rotl(h1, 13) * 5 + 0xE6546B64) & m
    h1 ^= 4  # fmix with total byte length
    h1 = (h1 ^ (h1 >> 16)) * 0x85EBCA6B & m
    h1 = (h1 ^ (h1 >> 13)) * 0xC2B2AE35 & m
    h1 ^= h1 >> 16
    # Spark's hash is a SIGNED int32
    return h1 - (1 << 32) if h1 >= (1 << 31) else h1


#: above this bucket count the probe literal array would bloat the
#: plan (the same concern as _FOLD_MAX_BOUNDARIES); hash collisions
#: also stop mattering when tasks >> cores, so large plans keep the
#: plain hash repartition + sort.
PROBE_MAX_BUCKETS = 4096


def partition_probes(n: int) -> list[int]:
    """``probes[b]`` = an int whose Spark hash-partition id over ``n``
    partitions is exactly ``b`` — repartitioning on the probe column
    gives an exact 1:1 bucket->partition placement.

    Why: ``repartition(n, "_bucket")`` hashes the bucket id, and with
    n buckets into n partitions the birthday effect leaves ~37% of
    partitions empty while some tasks encode 2-3 chunks serially
    (guide §2.5, synthetic keys with too few distinct values) — a
    straggler tail of ~2-3x the per-chunk time. The probe mapping
    makes every encode task own exactly one chunk, and because a
    partition then holds a single bucket, the pre-encode
    sortWithinPartitions (a full external sort of the payload) is
    unnecessary. Coupon-collector search: one pass over candidate
    ints, ~n ln n hashes."""
    found: dict[int, int] = {}
    c = 0
    while len(found) < n:
        part = _murmur3_int32(c) % n
        if part not in found:
            found[part] = c
        c += 1
    return [found[i] for i in range(n)]


def suggest_n_chunks(
    df: DataFrame,
    target_chunk_bytes: int | str = "256MB",
    probe_rows: int = 1000,
) -> int:
    """Chunk-count suggestion for :func:`make_plan` — sized so each
    chunk's IN-MEMORY payload lands near ``target_chunk_bytes`` (the
    ~256 MB sweet spot object stores and task sizing both like).

    Same probe the reference uses for its memory-string chunksize
    (/root/reference/arrow_pd_parser/reader.py:53-61): sample
    ``probe_rows`` rows for bytes/row, multiply by the row count. One
    count + one tiny collect — cheap relative to any encode run.
    """
    from ..sources.inference import human_to_bytes

    target = human_to_bytes(target_chunk_bytes)
    n_rows = df.count()
    if n_rows == 0:
        return 1
    probe = df.limit(probe_rows).toPandas()
    bpr = max(1.0, float(probe.memory_usage(deep=True).sum()) / max(len(probe), 1))
    return max(1, round(n_rows * bpr / target))


def salt_skewed(
    df: DataFrame,
    key: str,
    n_salts: int = 16,
    hot_keys: list | None = None,
    salt_col: str = "_salt",
) -> DataFrame:
    """Explicit skew salting (N10): hot keys get ``n_salts`` sub-keys.

    Downstream groupBys aggregate on (key, salt) then re-aggregate on
    key — two small shuffles instead of one stalled straggler. When
    ``hot_keys`` is None every key is salted (uniform salting).
    """
    salt = F.pmod(F.xxhash64(F.monotonically_increasing_id()), F.lit(n_salts))
    if hot_keys is None:
        return df.withColumn(salt_col, salt.cast("int"))
    is_hot = F.col(key).isin(list(hot_keys))
    return df.withColumn(
        salt_col, F.when(is_hot, salt.cast("int")).otherwise(F.lit(0))
    )
