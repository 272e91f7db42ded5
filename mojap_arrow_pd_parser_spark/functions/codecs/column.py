"""Column-chunk codec: encode/decode a ``pa.Array`` to ``(meta, payload)``.

The generalization of the reference's per-column cast dispatch
(/root/reference/arrow_pd_parser/caster.py:354-417 dispatches a cast per
column; here we dispatch a *codec* per column-chunk) with the same
contract: ``decode_array(encode_array(x)) == x`` logically bit-identical
(null slots canonicalized, values preserved exactly).

Type coverage mirrors the reference's type table (SURVEY.md §1.2) plus
the types it punts on (list/struct warning at caster.py:367,398-402):

* integers int8..int64 / uint8..uint64  -> int codec suite
* float32/float64                        -> int codec on the IEEE bit view
* bool                                   -> int codec on uint8 (FOR width 1)
* date32/date64/timestamp/time/duration  -> int codec on physical ints
* string/large_string/binary             -> dict | FSST | plain on bytes
* list<integer-like> (the tokens column) -> lengths + recursive values
* dictionary<...>                        -> decoded then re-encoded
* struct<...>                            -> per-field recursion + validity
* map<k, v>                              -> lengths + recursive entries

``meta`` is JSON-serializable; ``payload`` is a single bytes buffer of
concatenated sections. Null handling: a packed validity-bitmap section;
null value slots are canonicalized to zero/empty before encoding.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

from . import fsst
from .intcodec import decode_int, encode_int

FORMAT_VERSION = 1

_INT_LIKE = {
    "int8": np.int8,
    "int16": np.int16,
    "int32": np.int32,
    "int64": np.int64,
    "uint8": np.uint8,
    "uint16": np.uint16,
    "uint32": np.uint32,
    "uint64": np.uint64,
}


def _physical_int_type(t: pa.DataType):
    """(pa storage int type, numpy dtype) for integer-like arrow types."""
    if pa.types.is_integer(t):
        return t, _INT_LIKE[str(t)]
    if pa.types.is_date32(t):
        return pa.int32(), np.int32
    if pa.types.is_date64(t) or pa.types.is_timestamp(t) or pa.types.is_duration(t):
        return pa.int64(), np.int64
    if pa.types.is_time32(t):
        return pa.int32(), np.int32
    if pa.types.is_time64(t):
        return pa.int64(), np.int64
    return None, None


class _SectionWriter:
    def __init__(self):
        self.metas: list[dict] = []
        self.parts: list[bytes] = []

    def add(self, name: str, meta: dict, payload: bytes):
        self.metas.append({"name": name, "len": len(payload), "meta": meta})
        self.parts.append(payload)

    def finish(self) -> tuple[list[dict], bytes]:
        return self.metas, b"".join(self.parts)


class _SectionReader:
    def __init__(self, metas: list[dict], payload: bytes):
        self.sections = {}
        off = 0
        for s in metas:
            self.sections[s["name"]] = (s["meta"], payload[off : off + s["len"]])
            off += s["len"]

    def get(self, name: str):
        return self.sections[name]

    def has(self, name: str) -> bool:
        return name in self.sections


def _validity_mask(arr: pa.Array) -> np.ndarray | None:
    if arr.null_count == 0:
        return None
    return np.asarray(arr.is_null())


def _add_validity(w: _SectionWriter, mask: np.ndarray | None):
    if mask is not None:
        w.add("validity", {"n": len(mask)}, np.packbits(mask).tobytes())


def _read_validity(r: _SectionReader) -> np.ndarray | None:
    if not r.has("validity"):
        return None
    meta, buf = r.get("validity")
    return np.unpackbits(
        np.frombuffer(buf, dtype=np.uint8), count=meta["n"]
    ).astype(bool)


# ---------------------------------------------------------------------------
# Encode
# ---------------------------------------------------------------------------


# Outer cascade compressor applied to the assembled column payload when
# it wins (>10% smaller). The lightweight codecs capture structure
# (runs, frames, dictionaries); the cascade captures residual byte-level
# repetition the way parquet layers snappy over its own encodings —
# required to meet the <=parquet-snappy bound on locally-repetitive but
# globally-high-cardinality data. "lz4" trades a little ratio for
# throughput; None disables.
DEFAULT_CASCADE = "zstd"


def _cascade_codec(name: str):
    import pyarrow as _pa

    # zstd-3: ~1.4% smaller than level 1 on the tokens regime mix for
    # +9% kernel CPU — and the multi-core encode wall is Arrow-transfer
    # bound, not kernel bound, so the ratio is effectively free. Decode
    # is level-agnostic (zstd frames self-describe).
    return _pa.Codec(name, compression_level=3 if name == "zstd" else None)


def encode_array(
    arr: pa.Array,
    cascade: str | None = DEFAULT_CASCADE,
    _outer: bool = True,
    _parent_cascade: str | None = None,
) -> tuple[dict, bytes]:
    if isinstance(arr, pa.ChunkedArray):
        arr = arr.combine_chunks()
    t = arr.type
    if pa.types.is_dictionary(t):
        arr = arr.cast(t.value_type)
        t = arr.type
    meta: dict = {"v": FORMAT_VERSION, "type": str(t), "n": len(arr)}
    w = _SectionWriter()
    mask = _validity_mask(arr)
    _add_validity(w, mask)

    storage_t, np_dtype = _physical_int_type(t)
    if storage_t is not None:
        kind = "int"
        vals = _int_values(arr, storage_t, np_dtype, mask)
        im, ip = encode_int(vals)
        w.add("values", im, ip)
    elif pa.types.is_floating(t):
        kind = "float"
        np_f = np.float32 if pa.types.is_float32(t) else np.float64
        np_u = np.uint32 if pa.types.is_float32(t) else np.uint64
        fvals = _float_values(arr, np_f, mask)
        vals = fvals.view(np_u)
        im, ip = encode_int(vals, allow=("plain", "ffor", "rle", "dict"))
        # planes only pay off under a downstream compressor — ours or an
        # enclosing list column's
        eff_cascade = cascade or _parent_cascade
        incompressible = len(ip) > 0.9 * fvals.nbytes
        if incompressible and eff_cascade and len(fvals) >= 1024:
            # byte-plane split: transposing IEEE bytes groups the
            # sign/exponent planes, which the cascade then compresses
            # far better than interleaved floats (classic float trick,
            # cf. blosc "shuffle"). Chosen by a sampled probe.
            pm, pp = _maybe_byteplane(fvals, eff_cascade)
            if pm is not None:
                im, ip = pm, pp
        w.add("values", im, ip)
    elif pa.types.is_boolean(t):
        kind = "bool"
        vals = _bool_values(arr, mask)
        im, ip = encode_int(vals, allow=("plain", "ffor", "rle"))
        w.add("values", im, ip)
    elif pa.types.is_string(t) or pa.types.is_large_string(t) or pa.types.is_binary(t) or pa.types.is_large_binary(t):
        kind = "str"
        _encode_str(arr, mask, w, meta)
    elif pa.types.is_list(t) or pa.types.is_large_list(t):
        kind = "list"
        lengths = pc.list_value_length(arr)
        lengths = pc.fill_null(lengths, 0)
        lens_np = np.asarray(lengths).astype(np.int64)
        lm, lp = encode_int(lens_np)
        w.add("lengths", lm, lp)
        values = arr.flatten()  # excludes null slots' ranges
        vmeta, vpay = encode_array(
            values, cascade=None, _outer=False, _parent_cascade=cascade
        )
        w.add("child", vmeta, vpay)
    elif pa.types.is_struct(t):
        # The capability the reference warns-and-skips on nested types
        # (/root/reference/arrow_pd_parser/caster.py:398-402): a struct
        # is N child columns + the parent validity section — each field
        # recurses through the same per-column codec selection, so an
        # int field RLEs, a string field dictionary/FSST-encodes, etc.
        kind = "struct"
        meta["fields"] = [
            {"name": f.name, "nullable": f.nullable} for f in t
        ]
        for i in range(t.num_fields):
            cm, cp = encode_array(
                arr.field(i), cascade=None, _outer=False, _parent_cascade=cascade
            )
            w.add(f"f{i}", cm, cp)
    elif pa.types.is_map(t):
        # map = list<entries: struct<key, value>> physically. Encode
        # through that list view (a plain cast): MapArray's .keys/.items
        # accessors ignore slices in pyarrow 16, while the list view's
        # flatten() handles slices and null ranges correctly.
        kind = "map"
        storage = arr.cast(
            pa.list_(
                pa.field(
                    "entries",
                    pa.struct(
                        [
                            pa.field("key", t.key_type, nullable=False),
                            pa.field("value", t.item_type),
                        ]
                    ),
                )
            )
        )
        lengths = pc.fill_null(pc.list_value_length(storage), 0)
        lm, lp = encode_int(np.asarray(lengths).astype(np.int64))
        w.add("lengths", lm, lp)
        entries = storage.flatten()  # struct<key, value>, null-free slots
        em, ep = encode_array(
            entries, cascade=None, _outer=False, _parent_cascade=cascade
        )
        w.add("entries", em, ep)
    elif pa.types.is_decimal128(t):
        # 16-byte little-endian values split into two 64-bit word
        # planes: the hi plane is ~constant (0 / -1 sign extension)
        # for any realistic precision -> RLE collapses it; the lo
        # plane is a plain int stream -> FOR/delta/dict apply. The
        # reference round-trips decimals through arrow untouched
        # (caster maps athena decimal -> pa.decimal128); here they
        # get real columnar encoding.
        kind = "decimal"
        lo, hi = _decimal128_words(arr, mask)
        lm, lp = encode_int(lo)
        w.add("lo", lm, lp)
        hm, hp = encode_int(hi)
        w.add("hi", hm, hp)
    else:
        raise NotImplementedError(f"encode_array: unsupported type {t}")

    meta["kind"] = kind
    meta["sections"], payload = w.finish()
    if _outer and cascade and len(payload) > 64:
        codec = _cascade_codec(cascade)
        compressed = codec.compress(payload, asbytes=True)
        if len(compressed) < 0.9 * len(payload):
            meta["outer"] = cascade
            meta["outer_raw_len"] = len(payload)
            payload = compressed
    return meta, payload


def _int_values(arr, storage_t, np_dtype, mask):
    ints = arr.view(storage_t)
    if mask is not None:
        ints = pc.fill_null(ints, 0)
    return np.asarray(ints).astype(np_dtype, copy=False)


def _decimal128_words(arr: pa.Array, mask: np.ndarray | None):
    """(lo uint64, hi int64) word planes of a decimal128 array's
    16-byte little-endian storage; null slots canonicalized to 0."""
    data = arr.buffers()[1]
    words = np.frombuffer(data, dtype=np.uint64, count=2 * (arr.offset + len(arr)))
    words = words[2 * arr.offset :]
    lo = words[0::2].copy()
    hi = words[1::2].view(np.int64).copy()
    if mask is not None:
        lo[mask] = 0
        hi[mask] = 0
    return lo, hi


def _maybe_byteplane(fvals: np.ndarray, cascade: str):
    """Byte-plane split with per-plane compression, if a sampled probe
    says it beats compressing the interleaved bytes by >=2%.

    Each IEEE byte plane is compressed independently (the exponent/sign
    plane is low-entropy even when mantissas are random; compressing
    planes separately also avoids zstd-1's weak cross-segment modeling,
    measured: concat-planes 60744 vs per-plane sum ~54k on 64 KiB).
    The probe sample is STRIDED across the whole chunk, not the head,
    so a distribution shift mid-chunk cannot mislead the choice (the
    choice only affects size, never the round-trip)."""
    itemsize = fvals.dtype.itemsize
    codec = _cascade_codec(cascade)
    if len(fvals) > 16384:
        sample = np.ascontiguousarray(fvals[:: max(1, len(fvals) // 16384)][:16384])
    else:
        sample = fvals
    plain_c = len(codec.compress(sample.tobytes(), asbytes=True))
    s_planes = sample.view(np.uint8).reshape(-1, itemsize)
    probe = sum(
        len(codec.compress(np.ascontiguousarray(s_planes[:, i]).tobytes(), asbytes=True))
        for i in range(itemsize)
    )
    if probe >= 0.98 * plain_c:
        return None, None
    planes = fvals.view(np.uint8).reshape(-1, itemsize)
    parts = [
        codec.compress(np.ascontiguousarray(planes[:, i]).tobytes(), asbytes=True)
        for i in range(itemsize)
    ]
    if sum(len(p) for p in parts) >= fvals.nbytes:
        return None, None
    meta = {
        "codec": "byteplane",
        "n": len(fvals),
        "dtype": fvals.dtype.str,
        "cascade": cascade,
        "plane_lens": [len(p) for p in parts],
    }
    return meta, b"".join(parts)


def _decode_byteplane(meta: dict, payload: bytes) -> np.ndarray:
    dtype = np.dtype(meta["dtype"])
    n = meta["n"]
    codec = _cascade_codec(meta["cascade"])
    out = np.empty((n, dtype.itemsize), dtype=np.uint8)
    off = 0
    for i, ln in enumerate(meta["plane_lens"]):
        plane = codec.decompress(payload[off : off + ln], n, asbytes=True)
        out[:, i] = np.frombuffer(plane, dtype=np.uint8)
        off += ln
    return out.reshape(-1).view(dtype)[:n]


def _float_values(arr, np_f, mask):
    if mask is not None:
        arr = pc.fill_null(arr, 0.0)
    return np.asarray(arr).astype(np_f, copy=False)


def _bool_values(arr, mask):
    if mask is not None:
        arr = pc.fill_null(arr, False)
    return np.asarray(arr).astype(np.uint8)


_STR_NDV_SAMPLE = 4096


def _encode_str(arr: pa.Array, mask, w: _SectionWriter, meta: dict):
    """dict | fsst | plain selection for string/binary chunks (N2/N4/N7)."""
    n = len(arr)
    if mask is not None:
        arr = pc.fill_null(arr, "" if pa.types.is_string(arr.type) or pa.types.is_large_string(arr.type) else b"")
    lens_np = np.asarray(pc.binary_length(arr)).astype(np.int64) if n else np.zeros(0, np.int64)
    total_bytes = int(lens_np.sum()) if n else 0

    # --- cost probe (zero-copy head slice; cheap by construction) ---------
    if n:
        sample = arr.slice(0, min(n, _STR_NDV_SAMPLE))
        ndv_s = len(pc.unique(sample))
        if len(sample) < n and ndv_s > len(sample) // 2:
            ndv_est = n
        else:
            ndv_est = max(ndv_s, 1)
        avg_len = total_bytes / n if n else 0
        from .intcodec import estimate_int_sizes, int_stats

        len_cost = min(estimate_int_sizes(int_stats(lens_np)).values())
        est_plain = total_bytes + len_cost
        from .bitpack import bit_width, packed_nbytes

        est_dict = (
            int(ndv_est * avg_len)
            + packed_nbytes(n, bit_width(max(ndv_est - 1, 0)))
            + 128
        )
        # FSST probe (train+encode on a small sample) only when dict isn't
        # already a clear win and the strings are long enough to matter.
        if ndv_est > n // 4 and avg_len >= 4:
            sample_bytes = b"".join(
                v.as_py().encode() if isinstance(v.as_py(), str) else (v.as_py() or b"")
                for v in sample[:256]
            )
            est_fsst = fsst.estimate(sample_bytes, total_bytes) + len_cost
        else:
            est_fsst = est_plain + 1
    else:
        est_plain, est_fsst, est_dict = 0, 1, 2

    choice = min(
        (("plain", est_plain), ("fsst", est_fsst), ("dict", est_dict)),
        key=lambda kv: kv[1],
    )[0]

    if choice == "dict" and n:
        denc = arr.dictionary_encode()
        indices = pc.fill_null(denc.indices, 0)
        idx_np = np.asarray(indices).astype(np.int64)
        im, ip = encode_int(idx_np)
        w.add("codes", im, ip)
        dmeta, dpay = encode_array(denc.dictionary, cascade=None, _outer=False)
        w.add("strdict", dmeta, dpay)
        meta["str_codec"] = "dict"
        return

    lm, lp = encode_int(lens_np)
    w.add("lengths", lm, lp)
    data = _string_data_bytes(arr)
    if choice == "fsst" and total_bytes:
        table = fsst.train(data[: 1 << 16])
        codes, lits = fsst.encode(data, table)
        if len(codes) + len(lits) < len(data):
            sym_lens, sym_buf = fsst.serialize_table(table)
            fm = {
                "sym_lens": sym_lens,
                "table_len": len(sym_buf),
                "n_codes": len(codes),
                "n_lits": len(lits),
            }
            w.add("fsst", fm, sym_buf + codes + lits)
            meta["str_codec"] = "fsst"
            return
    w.add("bytes", {"len": len(data)}, data)
    meta["str_codec"] = "plain"


def _string_data_bytes(arr: pa.Array) -> bytes:
    """Concatenated UTF-8/bytes payload of a (null-free) string array."""
    if len(arr) == 0:
        return b""
    # normalize offsets by recombining: cheapest is cast to large_binary and
    # read child buffer honoring offset
    la = arr.cast(pa.large_binary())
    buf_off = np.frombuffer(la.buffers()[1], dtype=np.int64, offset=la.offset * 8, count=len(la) + 1)
    data = la.buffers()[2]
    return data.to_pybytes()[buf_off[0] : buf_off[-1]] if data is not None else b""


# ---------------------------------------------------------------------------
# Decode
# ---------------------------------------------------------------------------


def decode_array(meta: dict, payload: bytes) -> pa.Array:
    if meta.get("outer"):
        payload = _cascade_codec(meta["outer"]).decompress(
            payload, meta["outer_raw_len"], asbytes=True
        )
    t = _parse_type(meta["type"])
    n = meta["n"]
    r = _SectionReader(meta["sections"], payload)
    mask = _read_validity(r)
    kind = meta["kind"]

    if kind == "int":
        im, ip = r.get("values")
        vals = decode_int(im, ip)
        storage_t, _ = _physical_int_type(t)
        arr = pa.array(vals, type=storage_t).view(t)
    elif kind == "float":
        im, ip = r.get("values")
        np_f = np.float32 if pa.types.is_float32(t) else np.float64
        if im.get("codec") == "byteplane":
            arr = pa.array(_decode_byteplane(im, ip), type=t)
        else:
            bits = decode_int(im, ip)
            arr = pa.array(bits.view(np_f), type=t)
    elif kind == "bool":
        im, ip = r.get("values")
        arr = pa.array(decode_int(im, ip).astype(bool), type=t)
    elif kind == "str":
        arr = _decode_str(meta, r, t, n)
    elif kind == "list":
        lm, lp = r.get("lengths")
        lens = decode_int(lm, lp).astype(np.int64)
        cm, cp_meta = r.get("child")
        values = decode_array(cm, cp_meta)
        offsets = np.concatenate(([0], np.cumsum(lens)))
        if pa.types.is_large_list(t):
            arr = pa.LargeListArray.from_arrays(
                pa.array(offsets, type=pa.int64()), values
            )
        else:
            arr = pa.ListArray.from_arrays(
                pa.array(offsets.astype(np.int32), type=pa.int32()), values
            )
        arr = arr.cast(t)
    elif kind == "struct":
        children = []
        fields = []
        for i, f in enumerate(meta["fields"]):
            cm, cp = r.get(f"f{i}")
            child = decode_array(cm, cp)
            children.append(child)
            fields.append(pa.field(f["name"], child.type, nullable=f["nullable"]))
        arr = pa.StructArray.from_arrays(
            children,
            fields=fields,
            mask=pa.array(mask) if mask is not None else None,
        )
        if arr.type != t:
            arr = arr.cast(t)
        return arr  # validity already applied via mask=
    elif kind == "map":
        lm, lp = r.get("lengths")
        lens = decode_int(lm, lp).astype(np.int64)
        em, ep = r.get("entries")
        entries = decode_array(em, ep)  # struct<key, value>
        offsets = np.concatenate(([0], np.cumsum(lens))).astype(np.int32)
        if mask is not None:
            # a null at offsets position i marks map entry i null
            # (Arrow's MapArray.from_arrays null convention); the final
            # offset is never null
            off_mask = np.concatenate((mask, [False]))
            off_arr = pa.array(offsets, type=pa.int32(), mask=off_mask)
        else:
            off_arr = pa.array(offsets, type=pa.int32())
        arr = pa.MapArray.from_arrays(
            off_arr, entries.field(0), entries.field(1)
        )
        if arr.type != t:
            arr = arr.cast(t)
        return arr  # validity applied via the null offsets
    elif kind == "decimal":
        lm, lp = r.get("lo")
        lo = decode_int(lm, lp).astype(np.uint64, copy=False)
        hm, hp = r.get("hi")
        hi = decode_int(hm, hp).astype(np.int64, copy=False)
        words = np.empty(2 * n, dtype=np.uint64)
        words[0::2] = lo
        words[1::2] = hi.view(np.uint64)
        arr = pa.Array.from_buffers(t, n, [None, pa.py_buffer(words.tobytes())])
    else:
        raise NotImplementedError(f"decode_array: unsupported kind {kind}")

    if mask is not None:
        arr = _apply_mask(arr, mask)
    return arr


def _decode_str(meta: dict, r: _SectionReader, t: pa.DataType, n: int) -> pa.Array:
    sc = meta.get("str_codec", "plain")
    if sc == "dict":
        im, ip = r.get("codes")
        codes = decode_int(im, ip).astype(np.int32)
        dm, dp = r.get("strdict")
        dictionary = decode_array(dm, dp)
        arr = pa.DictionaryArray.from_arrays(pa.array(codes), dictionary)
        return arr.cast(t)
    lm, lp = r.get("lengths")
    lens = decode_int(lm, lp).astype(np.int64)
    if sc == "fsst":
        fm, fp = r.get("fsst")
        tl = fm["table_len"]
        table = fsst.deserialize_table(fm["sym_lens"], fp[:tl])
        codes = fp[tl : tl + fm["n_codes"]]
        lits = fp[tl + fm["n_codes"] :]
        data = fsst.decode(codes, lits, table)
    else:
        _, data = r.get("bytes")
    offsets = np.concatenate(([0], np.cumsum(lens)))
    values_buf = pa.py_buffer(data)
    la = pa.LargeBinaryArray.from_buffers(
        pa.large_binary(), n, [None, pa.py_buffer(offsets.astype(np.int64)), values_buf]
    )
    return la.cast(t)


def _apply_mask(arr: pa.Array, mask: np.ndarray) -> pa.Array:
    """Reinstate nulls at masked positions (values there are canonical zeros)."""
    return pc.if_else(pa.array(~mask), arr, pa.nulls(len(arr), arr.type))


def _parse_type(s: str) -> pa.DataType:
    simple = {
        "int8": pa.int8(), "int16": pa.int16(), "int32": pa.int32(),
        "int64": pa.int64(), "uint8": pa.uint8(), "uint16": pa.uint16(),
        "uint32": pa.uint32(), "uint64": pa.uint64(),
        "float": pa.float32(), "float32": pa.float32(),
        "double": pa.float64(), "float64": pa.float64(),
        "bool": pa.bool_(), "string": pa.string(),
        "large_string": pa.large_string(), "binary": pa.binary(),
        "large_binary": pa.large_binary(),
        "date32[day]": pa.date32(), "date64[ms]": pa.date64(),
    }
    if s in simple:
        return simple[s]
    if s.startswith("timestamp"):
        unit = s.split("[")[1].rstrip("]").split(",")[0].strip()
        tz = None
        if "tz=" in s:
            tz = s.split("tz=")[1].rstrip("]")
        return pa.timestamp(unit, tz)
    if s.startswith("duration"):
        return pa.duration(s.split("[")[1].rstrip("]"))
    if s.startswith("decimal128("):
        prec, _, scale = s[len("decimal128(") : -1].partition(",")
        return pa.decimal128(int(prec), int(scale))
    if s.startswith("time32"):
        return pa.time32(s.split("[")[1].rstrip("]"))
    if s.startswith("time64"):
        return pa.time64(s.split("[")[1].rstrip("]"))
    if s.startswith("list<") and s.endswith(">"):
        name, inner = _split_field(s[5:-1])
        return pa.list_(pa.field(name, _parse_type(inner)))
    if s.startswith("large_list<") and s.endswith(">"):
        name, inner = _split_field(s[11:-1])
        return pa.large_list(pa.field(name, _parse_type(inner)))
    if s.startswith("struct<") and s.endswith(">"):
        fields = []
        for part in _split_top(s[7:-1]):
            name, _, typ = part.partition(": ")
            nullable = True
            if typ.endswith(" not null"):
                typ, nullable = typ[: -len(" not null")], False
            fields.append(pa.field(name, _parse_type(typ), nullable=nullable))
        return pa.struct(fields)
    if s.startswith("map<") and s.endswith(">"):
        kt, vt = _split_top(s[4:-1])
        return pa.map_(_parse_type(kt), _parse_type(vt))
    raise NotImplementedError(f"cannot parse arrow type string: {s}")


def _split_top(s: str) -> list[str]:
    """Split ``a: int64, b: struct<c: int64, d: string>`` at top-level
    commas only (angle-bracket AND parenthesis depth tracked — decimal
    types carry a comma inside ``decimal128(p, s)``)."""
    parts, depth, start = [], 0, 0
    for i, ch in enumerate(s):
        if ch in "<(":
            depth += 1
        elif ch in ">)":
            depth -= 1
        elif ch == "," and depth == 0:
            parts.append(s[start:i].strip())
            start = i + 1
    tail = s[start:].strip()
    if tail:
        parts.append(tail)
    return parts


def _split_field(inner: str) -> tuple[str, str]:
    """``element: float`` -> (child field name, bare type string).

    The child field name precedes the first ``": "`` only when no ``<``
    comes before it; bare type strings default to Arrow's ``item``.
    """
    head, sep, tail = inner.partition(": ")
    if sep and "<" not in head:
        return head, tail
    return "item", inner
