"""Codec kernel unit tests — FIXTURES.md F4 edge matrix.

Mirrors the spirit of the reference's per-type conformance tests
(/root/reference/tests/test_int_conformance.py etc.): every codec must
round-trip bit-identically on empty / single / all-equal / monotone /
random / negative / extreme inputs.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pytest

from mojap_arrow_pd_parser_spark.functions.codecs import (
    bit_width,
    choose_int_codec,
    decode_array,
    decode_int,
    encode_array,
    encode_int,
    pack,
    unpack,
)
from mojap_arrow_pd_parser_spark.functions.codecs import fsst

RNG = np.random.default_rng(42)

INT_EDGE_ARRAYS = {
    "empty": np.array([], dtype=np.int32),
    "single": np.array([7], dtype=np.int32),
    "all_equal": np.full(1000, 42, dtype=np.int32),
    "two_runs": np.repeat(np.array([5, -5], dtype=np.int32), [700, 300]),
    "monotone": np.arange(10_000, dtype=np.int32) * 3 + 100,
    "near_monotone": (np.arange(5000) + RNG.integers(-2, 3, 5000)).astype(np.int32),
    "small_vocab": RNG.choice(np.array([2, 3, 5, 7], dtype=np.int32), 5000),
    "small_range": RNG.integers(0, 31, 5000).astype(np.int32),
    "random_full": RNG.integers(-(2**31), 2**31 - 1, 5000).astype(np.int32),
    "negatives": np.array([-1, -100, -(2**31), 2**31 - 1, 0], dtype=np.int32),
    "with_zero": np.array([0, 0, 1, 0, 2**31 - 1], dtype=np.int32),
    "int64_extreme": np.array(
        [np.iinfo(np.int64).min, -1, 0, 1, np.iinfo(np.int64).max], dtype=np.int64
    ),
    "uint64_extreme": np.array([0, 1, 2**64 - 1, 2**63], dtype=np.uint64),
    "int8": RNG.integers(-128, 127, 300).astype(np.int8),
    "uint16": RNG.integers(0, 2**16, 300).astype(np.uint16),
}

ALL_CODECS = ("plain", "ffor", "delta", "delta2", "rle", "dict")


class TestBitpack:
    @pytest.mark.parametrize("width", [0, 1, 3, 5, 7, 8, 12, 16, 17, 31, 32, 33, 63, 64])
    def test_roundtrip(self, width):
        n = 4097
        if width == 0:
            vals = np.zeros(n, dtype=np.uint64)
        else:
            hi = (1 << width) - 1
            vals = RNG.integers(0, hi, n, dtype=np.uint64, endpoint=True)
        buf = pack(vals, width)
        out = unpack(buf, width, n)
        np.testing.assert_array_equal(vals, out)

    def test_bit_width(self):
        assert bit_width(0) == 0
        assert bit_width(1) == 1
        assert bit_width(255) == 8
        assert bit_width(256) == 9
        assert bit_width(2**63) == 64


class TestIntCodecs:
    @pytest.mark.parametrize("name", list(INT_EDGE_ARRAYS))
    @pytest.mark.parametrize("codec", ALL_CODECS)
    def test_roundtrip_every_codec(self, name, codec):
        a = INT_EDGE_ARRAYS[name]
        meta, payload = encode_int(a, codec=codec)
        out = decode_int(meta, payload)
        assert out.dtype == a.dtype
        np.testing.assert_array_equal(a, out)

    @pytest.mark.parametrize("name", list(INT_EDGE_ARRAYS))
    def test_roundtrip_auto(self, name):
        a = INT_EDGE_ARRAYS[name]
        meta, payload = encode_int(a)
        np.testing.assert_array_equal(a, decode_int(meta, payload))

    def test_near_tie_prefers_cheap_codec(self):
        """CPU-aware hysteresis: a pricier codec must beat the cheap
        one's size estimate by >2% (measured: delta2 costs ~3x plain
        for <1% size win on borderline chunks, and row order alone
        could flip the argmin and double the encode wall)."""
        from mojap_arrow_pd_parser_spark.functions.codecs.intcodec import (
            _pick_near_tie,
        )

        # delta2 0.5% smaller -> near-tie -> plain (cheapest) wins
        assert _pick_near_tie({"plain": 1000, "delta2": 995}) == "plain"
        # delta2 5% smaller -> genuine win -> delta2
        assert _pick_near_tie({"plain": 1000, "delta2": 950}) == "delta2"
        # among near-tied non-plain codecs, the cheaper rank wins
        assert _pick_near_tie({"plain": 1000, "ffor": 501, "dict": 500}) == "ffor"
        # exact ties break by rank, then estimate
        assert _pick_near_tie({"rle": 500, "dict": 500}) == "rle"

    def test_choices_sensible(self):
        # constant chunk: FOR with width 0 (zero payload bytes) beats RLE
        assert choose_int_codec(INT_EDGE_ARRAYS["all_equal"]) == "ffor"
        assert choose_int_codec(INT_EDGE_ARRAYS["two_runs"]) == "rle"
        assert choose_int_codec(INT_EDGE_ARRAYS["monotone"]) == "delta"
        assert choose_int_codec(INT_EDGE_ARRAYS["small_range"]) in ("ffor", "dict")
        assert choose_int_codec(INT_EDGE_ARRAYS["random_full"]) == "plain"

    def test_compression_wins(self):
        for name in ("all_equal", "two_runs", "monotone", "small_vocab", "small_range"):
            a = INT_EDGE_ARRAYS[name]
            meta, payload = encode_int(a)
            assert len(payload) < a.nbytes / 2, (name, meta["codec"], len(payload), a.nbytes)


class TestFsst:
    CASES = [
        b"",
        b"a",
        b"hello hello hello hello hello",
        b"doc_000000001doc_000000002doc_000000003" * 50,
        "emoji 💩💩 and ünïcode ẞ".encode() * 20,
        bytes(RNG.integers(0, 256, 2000, dtype=np.uint8)),  # incompressible
        b"\x00\xff" * 500 + b"\xff" * 10,  # escape byte stress
    ]

    @pytest.mark.parametrize("data", CASES, ids=range(len(CASES)))
    def test_roundtrip(self, data):
        table = fsst.train(data)
        codes, lits = fsst.encode(data, table)
        assert fsst.decode(codes, lits, table) == data

    def test_empty_table(self):
        data = b"xyz"
        codes, lits = fsst.encode(data, [])
        assert fsst.decode(codes, lits, []) == data

    def test_compresses_repetitive(self):
        data = b"doc_00000" + b"".join(b"doc_%06d" % i for i in range(2000))
        table = fsst.train(data)
        codes, lits = fsst.encode(data, table)
        assert len(codes) + len(lits) < 0.6 * len(data)

    def test_table_serialization(self):
        table = fsst.train(b"banana bandana banana bandana")
        lens, buf = fsst.serialize_table(table)
        assert fsst.deserialize_table(lens, buf) == table


def _arrow_roundtrip(arr: pa.Array):
    meta, payload = encode_array(arr)
    out = decode_array(meta, payload)
    assert out.type == arr.type, (out.type, arr.type)
    assert out.equals(arr), f"mismatch for {arr.type}: {arr[:10]} vs {out[:10]}"
    return meta, payload


class TestColumnCodec:
    def test_int_types(self):
        for dt in (pa.int8(), pa.int16(), pa.int32(), pa.int64(),
                   pa.uint8(), pa.uint16(), pa.uint32(), pa.uint64()):
            vals = [0, 1, 2, None, 4, 5, 5, 5, 100]
            _arrow_roundtrip(pa.array(vals, type=dt))

    def test_floats(self):
        for dt in (pa.float32(), pa.float64()):
            _arrow_roundtrip(pa.array([1.5, -2.25, None, 0.0, 1e30, float("inf")], type=dt))
        # NaN bit pattern preserved via bit-view
        arr = pa.array(np.array([np.nan, 1.0, np.nan], dtype=np.float64))
        meta, payload = encode_array(arr)
        out = decode_array(meta, payload)
        assert np.isnan(out[0].as_py())

    def test_float_byteplane(self):
        """Plane-friendly floats (narrow exponent range) trigger the
        byte-plane split and round-trip exactly; the probe declines on
        plane-unfriendly data."""
        rng = np.random.default_rng(3)
        friendly = (rng.standard_normal(20_000) * 0.1).astype(np.float32)
        arr = pa.array(friendly)
        meta, payload = encode_array(arr)
        sec = next(s for s in meta["sections"] if s["name"] == "values")
        assert sec["meta"]["codec"] == "byteplane"
        # ~0.85x on this micro-case (exact figure wobbles a hair with
        # the cascade's zstd level); the invariant is a real win
        assert len(payload) < 0.87 * arr.nbytes
        out = decode_array(meta, payload)
        np.testing.assert_array_equal(np.asarray(out), friendly)
        # inside a list column the outer cascade justifies planes too
        larr = pa.array([friendly[i * 100 : (i + 1) * 100].tolist() for i in range(200)],
                        type=pa.list_(pa.float32()))
        lmeta, lpayload = _arrow_roundtrip(larr)
        assert len(lpayload) < 0.85 * larr.nbytes

    def test_bool(self):
        _arrow_roundtrip(pa.array([True, False, None, True, True, True]))

    def test_temporal(self):
        import datetime as dt
        _arrow_roundtrip(pa.array([dt.date(1000, 1, 1), dt.date(2262, 4, 11), None]))
        _arrow_roundtrip(
            pa.array([dt.datetime(1677, 9, 21), dt.datetime(2262, 4, 12), None],
                     type=pa.timestamp("us"))
        )

    def test_strings(self):
        _arrow_roundtrip(pa.array(["a", "", None, "💩", 'dsfasd,"dsffadsf', "x" * 500]))
        # dict-friendly
        m, _ = _arrow_roundtrip(pa.array(["uk", "us", "uk", "uk", "fr"] * 500))
        assert m["str_codec"] == "dict"
        # fsst/plain-friendly: unique prefixed ids
        ids = pa.array([f"doc_{i:09d}" for i in range(4000)])
        m, p = _arrow_roundtrip(ids)
        assert m["str_codec"] in ("fsst", "plain")

    def test_binary(self):
        _arrow_roundtrip(pa.array([b"\x00\x01", b"", None, b"\xff" * 100], type=pa.binary()))

    def test_list_int32(self):
        cases = [
            [[1, 2, 3], [], [7] * 100, None, [5], list(range(1000))],
            [[], [], []],
            [None, None],
        ]
        for c in cases:
            _arrow_roundtrip(pa.array(c, type=pa.list_(pa.int32())))

    def test_large_list(self):
        _arrow_roundtrip(pa.array([[1, 2], None, []], type=pa.large_list(pa.int64())))

    def test_struct(self):
        t = pa.struct([("a", pa.int64()), ("b", pa.string())])
        _arrow_roundtrip(pa.array(
            [{"a": 1, "b": "x"}, {"a": 2, "b": "y"}, None,
             {"a": None, "b": "z"}] * 50, type=t))
        _arrow_roundtrip(pa.array([], type=t))
        # per-field codec selection still applies inside the struct:
        # a low-cardinality string field dictionary-encodes
        big = pa.array(
            [{"a": i % 5, "b": f"s{i % 7}"} for i in range(50_000)], type=t
        )
        meta, payload = _arrow_roundtrip(big)
        assert len(payload) < 0.01 * big.nbytes

    def test_struct_nested(self):
        t = pa.struct([
            ("xs", pa.list_(pa.int64())),
            ("inner", pa.struct([("q", pa.float64())])),
        ])
        _arrow_roundtrip(pa.array(
            [{"xs": [1, 2, 3], "inner": {"q": 1.5}},
             {"xs": [], "inner": None}, None] * 40, type=t))
        # struct inside list (multimodal-metadata shape)
        lt = pa.list_(pa.struct([("k", pa.int32()), ("v", pa.string())]))
        _arrow_roundtrip(pa.array(
            [[{"k": 1, "v": "a"}], [], None,
             [{"k": None, "v": None}, {"k": 3, "v": "c"}]] * 40, type=lt))
        # non-nullable field survives the type string round-trip
        nt = pa.struct([pa.field("req", pa.int64(), nullable=False)])
        _arrow_roundtrip(pa.array([{"req": 1}, {"req": 2}], type=nt))

    def test_struct_temporal_binary_bool_fields(self):
        import datetime as dtm
        t = pa.struct([
            ("ts", pa.timestamp("us")), ("raw", pa.binary()),
            ("flag", pa.bool_()),
        ])
        _arrow_roundtrip(pa.array(
            [{"ts": dtm.datetime(2024, 1, 1), "raw": b"\x00\x01",
              "flag": True}, None] * 30, type=t))

    def test_map(self):
        t = pa.map_(pa.string(), pa.int64())
        _arrow_roundtrip(pa.array(
            [{"a": 1, "b": 2}, {}, None, {"c": None}] * 40, type=t))
        _arrow_roundtrip(pa.array([], type=t))
        _arrow_roundtrip(pa.array(
            [[("k", {"z": 1.0})]],
            type=pa.map_(pa.string(), pa.struct([("z", pa.float64())]))))

    def test_struct_map_sliced(self):
        t = pa.struct([("a", pa.int64()), ("b", pa.string())])
        s = pa.array([{"a": i, "b": str(i)} if i % 3 else None
                      for i in range(200)], type=t)
        _arrow_roundtrip(s.slice(7, 101))
        m = pa.array([{"k": i} if i % 4 else None for i in range(160)],
                     type=pa.map_(pa.string(), pa.int64()))
        _arrow_roundtrip(m.slice(3, 77))

    def test_tokens_regimes_compress(self):
        """Synthetic per-regime token chunks must beat plain bytes."""
        run = np.repeat(RNG.integers(0, 50000, 100), RNG.integers(10, 100, 100)).astype(np.int32)
        vocab = RNG.choice(np.arange(200, dtype=np.int32), 20000)
        mono = np.cumsum(RNG.integers(1, 5, 20000)).astype(np.int32)
        small = RNG.integers(0, 1024, 20000).astype(np.int32)
        for name, vals in [("rle", run), ("dict", vocab), ("delta", mono), ("bitpack", small)]:
            arr = pa.array([vals.tolist()], type=pa.list_(pa.int32()))
            meta, payload = _arrow_roundtrip(arr)
            assert len(payload) < 0.6 * vals.nbytes, (name, len(payload), vals.nbytes)

    def test_sliced_array(self):
        base = pa.array(list(range(100)), type=pa.int32())
        _arrow_roundtrip(base.slice(10, 50))


class TestDecimalCodec:
    def test_decimal_roundtrip_and_nulls(self):
        import decimal

        D = decimal.Decimal
        t = pa.decimal128(10, 2)
        _arrow_roundtrip(pa.array(
            [D("1.23"), D("-4.56"), None, D("0.00"), D("99999999.99")], type=t
        ))
        _arrow_roundtrip(pa.array([], type=t))
        _arrow_roundtrip(pa.array([None, None], type=t))

    def test_decimal_extremes_full_precision(self):
        import decimal

        D = decimal.Decimal
        t = pa.decimal128(38, 10)
        _arrow_roundtrip(pa.array(
            [D("-0.0000000001"),
             D("12345678901234567890123456.7890123456"),
             D("-9999999999999999999999999999.9999999999")], type=t
        ))

    def test_decimal_sliced_offset(self):
        import decimal

        D = decimal.Decimal
        big = pa.array([D(i) % D(7) for i in range(100)], type=pa.decimal128(9, 1))
        sl = big.slice(13, 41)
        from mojap_arrow_pd_parser_spark.functions.codecs.column import (
            decode_array, encode_array,
        )

        meta, payload = encode_array(sl)
        assert decode_array(meta, payload).to_pylist() == sl.to_pylist()

    def test_decimal_word_planes_compress(self):
        import decimal

        D = decimal.Decimal
        from mojap_arrow_pd_parser_spark.functions.codecs.column import encode_array

        arr = pa.array([D(i) for i in range(10_000)], type=pa.decimal128(20, 0))
        meta, payload = encode_array(arr, cascade=None)
        # hi word plane is all-zero -> ffor width 0; lo is sequential
        # -> delta. 16 B/value collapses ~64x.
        assert len(payload) < 0.05 * arr.nbytes
        by_name = {s["name"]: s["meta"] for s in meta["sections"]}
        assert by_name["hi"]["width"] == 0

    def test_decimal_inside_struct_and_list(self):
        import decimal

        D = decimal.Decimal
        _arrow_roundtrip(pa.array(
            [[D("1.5"), None], None, [D("2.5")]],
            type=pa.list_(pa.decimal128(6, 1)),
        ))
        _arrow_roundtrip(pa.array(
            [{"d": D("3.14"), "x": 1}, None],
            type=pa.struct([("d", pa.decimal128(4, 2)), ("x", pa.int32())]),
        ))
