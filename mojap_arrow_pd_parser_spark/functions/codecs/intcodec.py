"""Integer codec suite: plain, FOR+bitpack, delta(+zigzag), RLE, dictionary.

Each codec takes a 1-D numpy integer array (no nulls at this layer —
validity is handled by the column codec) and returns ``(meta, payload)``
where ``meta`` is a small JSON-serializable dict and ``payload`` is one
``bytes`` buffer. ``decode_int(meta, payload)`` is the exact inverse —
bit-identical round-trip for every integer dtype including full-range
int64/uint64 (all arithmetic is done in wraparound uint64 space).

``choose_int_codec`` implements the sampled cost model (SURVEY.md §2.6
N7): one vectorized stats pass over the chunk, analytic size estimates
per candidate, argmin, encode winner, fall back to plain if the actual
payload regressed. This mirrors — per column-chunk and dynamic — the
reference's static engine-per-format registry
(/root/reference/arrow_pd_parser/_readers.py:410-471).

Public-knowledge basis: offering BOTH frame-of-reference and delta as
separate candidates (rather than always delta) follows the findings of
"Can Delta Compete with Frame-of-Reference for Lightweight Integer
Compression?" (VLDB 2024) — FOR wins on unsorted narrow-range data,
delta on sorted/clustered data; the per-chunk cost model picks per
case instead of hard-coding either.
"""

from __future__ import annotations

import numpy as np

from .bitpack import bit_width, pack, packed_nbytes, unpack

# Sub-sample cap for the (n log n) distinct-count probe.
_NDV_SAMPLE = 1 << 16

_META_OVERHEAD = 64  # rough per-block JSON/meta bytes, used by the estimator


def _to_u64(a: np.ndarray) -> np.ndarray:
    """Canonical wraparound domain: two's-complement view in uint64."""
    if a.dtype.kind == "u":
        return a.astype(np.uint64)
    return a.astype(np.int64).view(np.uint64)


def _from_u64(u: np.ndarray, dtype: np.dtype) -> np.ndarray:
    dtype = np.dtype(dtype)
    if dtype.kind == "u":
        return u.astype(dtype)
    return u.view(np.int64).astype(dtype)


def _zigzag(x: np.ndarray) -> np.ndarray:
    """Zigzag-encode int64-viewed uint64 values -> uint64 (small for ±small)."""
    s = x.view(np.int64)
    return ((s << 1) ^ (s >> 63)).view(np.uint64)


def _unzigzag(z: np.ndarray) -> np.ndarray:
    return ((z >> np.uint64(1)) ^ (np.uint64(0) - (z & np.uint64(1)))).view(
        np.uint64
    )


# ---------------------------------------------------------------------------
# Stats + cost model
# ---------------------------------------------------------------------------


_STATS_SAMPLE = 1 << 18


def int_stats(a: np.ndarray) -> dict:
    """One cheap vectorized pass of chunk statistics for the cost model.

    For large chunks the run/delta/ndv probes run on a 256K-value
    prefix+stride sample (the estimator only ranks codecs; the chosen
    encoder always does its own exact full pass). min/max stay exact —
    FOR width must be safe for the whole chunk.
    """
    n = len(a)
    itemsize = a.dtype.itemsize
    if n > _STATS_SAMPLE:
        sample_stats = int_stats(a[: _STATS_SAMPLE])
        u = _to_u64(a)
        if a.dtype.kind == "u":
            ref = u.min()
        else:
            ref = np.uint64(u.view(np.int64).min())
        with np.errstate(over="ignore"):
            for_width = bit_width(int((u - ref).max()))
        scale = n / _STATS_SAMPLE
        return {
            "n": n,
            "itemsize": itemsize,
            "for_width": for_width,
            "delta_width": sample_stats["delta_width"],
            "delta_mb_bytes": int(sample_stats["delta_mb_bytes"] * scale),
            "n_runs": max(1, int(sample_stats["n_runs"] * scale)),
            # a saturated sample ndv means "looks all-distinct globally"
            "ndv_est": (
                n
                if sample_stats["ndv_est"] >= _STATS_SAMPLE // 2
                else max(1, sample_stats["ndv_est"])
            ),
        }
    if n == 0:
        return {
            "n": 0,
            "itemsize": itemsize,
            "for_width": 0,
            "delta_width": 0,
            "n_runs": 0,
            "ndv_est": 0,
        }
    u = _to_u64(a)
    ref = u.min() if a.dtype.kind == "u" else None
    if ref is None:
        # Signed: min in signed space, then its u64 image as the FOR ref.
        smin = u.view(np.int64).min()
        ref = np.uint64(smin)
    with np.errstate(over="ignore"):
        for_deltas = u - ref
        for_width = bit_width(int(for_deltas.max()))
        if n > 1:
            d = u[1:] - u[:-1]
            zz = _zigzag(d)
            delta_width = bit_width(int(zz.max()))
            n_runs = 1 + int(np.count_nonzero(d))
        else:
            delta_width = 0
            n_runs = 1
    # miniblock-delta estimate: per-block max widths over the zigzag run
    if n > 1:
        starts = np.arange(0, len(zz), _MB_BLOCK)
        bw = np.maximum.reduceat(zz, starts)
        mb_bytes = 0
        for i, s in enumerate(starts):
            m = min(_MB_BLOCK, len(zz) - s)
            mb_bytes += packed_nbytes(m, bit_width(int(bw[i])))
        delta_mb_bytes = mb_bytes + len(starts)  # + widths array
    else:
        delta_mb_bytes = 0
    if n > _NDV_SAMPLE:
        step = n // _NDV_SAMPLE
        sample = a[::step]
    else:
        sample = a
    ndv_s = len(np.unique(sample))
    if len(sample) < n and ndv_s > len(sample) // 2:
        ndv_est = n  # looks all-distinct; dict won't help
    else:
        ndv_est = ndv_s
    return {
        "n": n,
        "itemsize": itemsize,
        "for_width": for_width,
        "delta_width": delta_width,
        "delta_mb_bytes": delta_mb_bytes,
        "n_runs": n_runs,
        "ndv_est": max(ndv_est, 1),
    }


def estimate_int_sizes(st: dict) -> dict:
    """Analytic encoded-size estimate (bytes) per codec from stats."""
    n = st["n"]
    if n == 0:
        return {"plain": 0, "ffor": 0, "delta": 0, "delta2": 0, "rle": 0, "dict": 0}
    runs = st["n_runs"]
    ndv = st["ndv_est"]
    dict_codes_w = bit_width(ndv - 1)
    return {
        "plain": n * st["itemsize"],
        "ffor": packed_nbytes(n, st["for_width"]) + _META_OVERHEAD,
        "delta": packed_nbytes(n - 1, st["delta_width"]) + 8 + _META_OVERHEAD,
        "delta2": st.get("delta_mb_bytes", n * st["itemsize"]) + 8 + 2 * _META_OVERHEAD,
        # run values ~ffor-packed + run lengths ~32-bit worst case est
        "rle": (
            packed_nbytes(runs, st["for_width"])
            + packed_nbytes(runs, 32)
            + 2 * _META_OVERHEAD
        ),
        "dict": (
            ndv * st["itemsize"]
            + packed_nbytes(n, dict_codes_w)
            + 2 * _META_OVERHEAD
        ),
    }


# ---------------------------------------------------------------------------
# Codecs
# ---------------------------------------------------------------------------


def _enc_plain(a: np.ndarray) -> tuple[dict, bytes]:
    le = a.astype(a.dtype.newbyteorder("<"), copy=False)
    return {"codec": "plain", "n": len(a), "dtype": a.dtype.str}, le.tobytes()


def _enc_ffor(a: np.ndarray) -> tuple[dict, bytes]:
    u = _to_u64(a)
    if a.dtype.kind == "u":
        ref = np.uint64(u.min()) if len(a) else np.uint64(0)
    else:
        ref = (
            np.uint64(u.view(np.int64).min()) if len(a) else np.uint64(0)
        )
    with np.errstate(over="ignore"):
        deltas = u - ref
    width = bit_width(int(deltas.max())) if len(a) else 0
    meta = {
        "codec": "ffor",
        "n": len(a),
        "dtype": a.dtype.str,
        "ref": int(ref),
        "width": width,
    }
    return meta, pack(deltas, width)


def _dec_ffor(meta: dict, payload: bytes) -> np.ndarray:
    deltas = unpack(payload, meta["width"], meta["n"])
    with np.errstate(over="ignore"):
        u = deltas + np.uint64(meta["ref"])
    return _from_u64(u, np.dtype(meta["dtype"]))


def _enc_delta(a: np.ndarray) -> tuple[dict, bytes]:
    n = len(a)
    u = _to_u64(a)
    if n == 0:
        return (
            {
                "codec": "delta",
                "n": 0,
                "dtype": a.dtype.str,
                "first": 0,
                "width": 0,
            },
            b"",
        )
    with np.errstate(over="ignore"):
        zz = _zigzag(u[1:] - u[:-1]) if n > 1 else np.zeros(0, np.uint64)
    width = bit_width(int(zz.max())) if n > 1 else 0
    meta = {
        "codec": "delta",
        "n": n,
        "dtype": a.dtype.str,
        "first": int(u[0]),
        "width": width,
    }
    return meta, pack(zz, width)


def _dec_delta(meta: dict, payload: bytes) -> np.ndarray:
    n = meta["n"]
    dtype = np.dtype(meta["dtype"])
    if n == 0:
        return np.zeros(0, dtype=dtype)
    zz = unpack(payload, meta["width"], n - 1)
    d = _unzigzag(zz)
    u = np.empty(n, dtype=np.uint64)
    u[0] = np.uint64(meta["first"])
    with np.errstate(over="ignore"):
        np.cumsum(d, out=u[1:]) if n > 1 else None
        u[1:] += u[0]
    return _from_u64(u, dtype)


_MB_BLOCK = 2048


def _enc_delta_mb(a: np.ndarray) -> tuple[dict, bytes]:
    """Delta with per-miniblock bit widths (parquet DELTA_BINARY_PACKED
    style): one outlier gap no longer inflates the width of the whole
    chunk — crucial for sorted columns with occasional jumps
    (timestamps, clustered ids)."""
    n = len(a)
    u = _to_u64(a)
    if n <= 1:
        return (
            {"codec": "delta2", "n": n, "dtype": a.dtype.str,
             "first": int(u[0]) if n else 0, "widths": []},
            b"",
        )
    with np.errstate(over="ignore"):
        zz = _zigzag(u[1:] - u[:-1])
    widths = []
    parts = []
    for lo in range(0, len(zz), _MB_BLOCK):
        block = zz[lo : lo + _MB_BLOCK]
        w = bit_width(int(block.max()))
        widths.append(w)
        parts.append(pack(block, w))
    meta = {
        "codec": "delta2",
        "n": n,
        "dtype": a.dtype.str,
        "first": int(u[0]),
        "widths": widths,
    }
    return meta, b"".join(parts)


def _dec_delta_mb(meta: dict, payload: bytes) -> np.ndarray:
    n = meta["n"]
    dtype = np.dtype(meta["dtype"])
    if n == 0:
        return np.zeros(0, dtype=dtype)
    zz = np.empty(n - 1, dtype=np.uint64)
    off = 0
    pos = 0
    for w in meta["widths"]:
        m = min(_MB_BLOCK, (n - 1) - pos)
        nbytes = packed_nbytes(m, w)
        zz[pos : pos + m] = unpack(payload[off : off + nbytes], w, m)
        off += nbytes
        pos += m
    d = _unzigzag(zz)
    u = np.empty(n, dtype=np.uint64)
    u[0] = np.uint64(meta["first"])
    with np.errstate(over="ignore"):
        np.cumsum(d, out=u[1:])
        u[1:] += u[0]
    return _from_u64(u, dtype)


def _enc_rle(a: np.ndarray) -> tuple[dict, bytes]:
    n = len(a)
    if n == 0:
        run_values = a
        run_lengths = np.zeros(0, dtype=np.int64)
    else:
        u = _to_u64(a)
        with np.errstate(over="ignore"):
            change = np.flatnonzero(u[1:] != u[:-1]) + 1
        starts = np.concatenate(([0], change))
        ends = np.concatenate((change, [n]))
        run_values = a[starts]
        run_lengths = (ends - starts).astype(np.int64)
    vmeta, vpay = encode_int(
        run_values, codec=None, allow=("plain", "ffor", "delta", "delta2", "dict")
    )
    lmeta, lpay = _enc_ffor(run_lengths)
    meta = {
        "codec": "rle",
        "n": n,
        "dtype": a.dtype.str,
        "values": vmeta,
        "values_len": len(vpay),
        "lengths": lmeta,
    }
    return meta, vpay + lpay


def _dec_rle(meta: dict, payload: bytes) -> np.ndarray:
    vlen = meta["values_len"]
    run_values = decode_int(meta["values"], payload[:vlen])
    run_lengths = _dec_ffor(meta["lengths"], payload[vlen:])
    return np.repeat(run_values, run_lengths.astype(np.int64))


def _enc_dict(a: np.ndarray) -> tuple[dict, bytes]:
    uniq, codes = np.unique(a, return_inverse=True)
    vmeta, vpay = encode_int(uniq, codec=None, allow=("plain", "ffor", "delta"))
    cmeta, cpay = _enc_ffor(codes.astype(np.uint64).view(np.int64))
    meta = {
        "codec": "dict",
        "n": len(a),
        "dtype": a.dtype.str,
        "values": vmeta,
        "values_len": len(vpay),
        "codes": cmeta,
    }
    return meta, vpay + cpay


def _dec_dict(meta: dict, payload: bytes) -> np.ndarray:
    vlen = meta["values_len"]
    uniq = decode_int(meta["values"], payload[:vlen])
    codes = _dec_ffor(meta["codes"], payload[vlen:]).view(np.uint64)
    return uniq[codes.astype(np.int64)]


_ENCODERS = {
    "plain": _enc_plain,
    "ffor": _enc_ffor,
    "delta": _enc_delta,
    "delta2": _enc_delta_mb,
    "rle": _enc_rle,
    "dict": _enc_dict,
}

_DECODERS = {
    "plain": lambda m, p: np.frombuffer(
        p, dtype=np.dtype(m["dtype"]).newbyteorder("<"), count=m["n"]
    ).astype(np.dtype(m["dtype"])),
    "ffor": _dec_ffor,
    "delta": _dec_delta,
    "delta2": _dec_delta_mb,
    "rle": _dec_rle,
    "dict": _dec_dict,
}


#: relative ENCODE cpu rank per codec (cheapest first). Used ONLY to
#: break near-ties in the size estimates: measured on the bench tokens
#: table, delta2's miniblock pass costs ~3x a plain memcpy, and on
#: borderline chunks the size estimates sit within a fraction of a
#: percent of each other — row ORDER (range vs hash-salted chunking)
#: was enough to flip the argmin and double the whole encode wall for
#: a <1% size win. A real columnar writer charges CPU for that.
_CPU_RANK = {"plain": 0, "ffor": 1, "rle": 2, "dict": 3, "delta": 4, "delta2": 5}

#: a pricier codec must beat the cheaper one's estimate by MORE than
#: this fraction to be chosen (size-vs-encode-CPU hysteresis).
_NEAR_TIE_MARGIN = 0.02


def _pick_near_tie(est: dict) -> str:
    """Smallest estimate wins, except that within ``_NEAR_TIE_MARGIN``
    of the best the CPU-cheapest codec is taken instead."""
    best = min(est.values())
    cutoff = best * (1.0 + _NEAR_TIE_MARGIN)
    near = [k for k, v in est.items() if v <= cutoff]
    return min(near, key=lambda k: (_CPU_RANK.get(k, 99), est[k]))


def choose_int_codec(a: np.ndarray, allow: tuple = None) -> str:
    """Pick the estimated-smallest codec for this chunk (SURVEY N7),
    with CPU-aware near-tie hysteresis (:func:`_pick_near_tie`)."""
    st = int_stats(a)
    est = estimate_int_sizes(st)
    if allow:
        est = {k: v for k, v in est.items() if k in allow}
    return _pick_near_tie(est)


def encode_int(
    a: np.ndarray, codec: str | None = None, allow: tuple = None
) -> tuple[dict, bytes]:
    """Encode with ``codec`` or auto-select; guard against regression vs plain."""
    if a.ndim != 1 or a.dtype.kind not in "iu":
        raise TypeError(f"encode_int needs a 1-D integer array, got {a.dtype}")
    if codec is None:
        codec = choose_int_codec(a, allow)
    meta, payload = _ENCODERS[codec](a)
    if codec != "plain" and len(payload) >= len(a) * a.dtype.itemsize:
        return _enc_plain(a)
    return meta, payload


def decode_int(meta: dict, payload: bytes) -> np.ndarray:
    return _DECODERS[meta["codec"]](meta, payload)
