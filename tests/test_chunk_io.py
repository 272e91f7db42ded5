"""The copy-on-write verbs read chunks exactly as a reader does.

Compaction, DELETE and MERGE rewrite chunks through the same reader as
``decode_table`` (operators/decode.decode_chunk): columns added by
schema evolution read as nulls in older chunks, and every payload's
checksum is verified before a rewrite re-encodes it under a fresh one.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from mojap_arrow_pd_parser_spark.datagen import tokens_table
from mojap_arrow_pd_parser_spark.operators.decode import decode_table, verify_roundtrip
from mojap_arrow_pd_parser_spark.operators.encode import (
    compact_chunks,
    delete_rows,
    encode_append,
    encode_table,
    live_chunks,
    scan_done_chunks,
    upsert_rows,
)


def test_compact_after_schema_evolution_roundtrips(spark, tmp_path):
    out = str(tmp_path / "enc")
    base = tokens_table(spark, 300, seed=81)
    encode_table(spark, base, out, n_chunks=4)
    added = tokens_table(spark, 150, seed=82).selectExpr(
        "concat('B', doc_id) as doc_id", "tokens", "n_tok", "source",
        "CAST(n_tok * 2 AS DOUBLE) as quality",
    )
    encode_append(spark, added, out, generation=1, allow_schema_evolution=True)
    compact_chunks(spark, out, min_rows=10**6)
    live = live_chunks(scan_done_chunks(out))
    # one merged chunk holds rows from before and after the evolution
    assert len(live) == 1
    want = base.withColumn("quality", F.lit(None).cast("double")).unionAll(added)
    assert verify_roundtrip(spark, want, out) == {"rows": 450, "mismatches": 0}
    assert decode_table(spark, out).filter(F.col("quality").isNull()).count() == 300


def _flip_payload_byte(chunk_path: str, payload: bytes) -> int:
    """Flip one byte in the middle of ``payload`` inside the chunk file,
    in place: the file size (all the sidecar records) is unchanged.
    Returns the byte offset, for :func:`_restore_byte`."""
    with open(chunk_path, "rb") as f:
        data = bytearray(f.read())
    # the first occurrence is the data page; parquet stats live in the
    # footer after every page
    off = data.find(payload)
    assert off >= 0
    pos = off + len(payload) // 2
    data[pos] ^= 0xFF
    with open(chunk_path, "wb") as f:
        f.write(data)
    return pos


def _restore_byte(chunk_path: str, pos: int) -> None:
    with open(chunk_path, "r+b") as f:
        f.seek(pos)
        b = f.read(1)[0]
        f.seek(pos)
        f.write(bytes([b ^ 0xFF]))


@pytest.mark.parametrize("verb", ["compact", "delete", "upsert"])
def test_rewrite_verbs_refuse_corrupted_chunk(spark, tmp_path, verb):
    import pyarrow.parquet as pq

    out = str(tmp_path / "enc")
    src = tokens_table(spark, 400, seed=61).cache()
    encode_table(spark, src, out, n_chunks=2)
    before = live_chunks(scan_done_chunks(out))
    first = before[min(before)]
    chunk_path = os.path.join(out, "chunks", first["file"])
    enc = pq.read_table(chunk_path)
    col = enc.column("column").to_pylist().index("n_tok")
    size = os.path.getsize(chunk_path)
    pos = _flip_payload_byte(chunk_path, enc.column("payload")[col].as_py())
    assert os.path.getsize(chunk_path) == size
    # the sidecar still verifies; the flipped value decodes without the
    # checksum, so only the checksum catches it
    assert set(live_chunks(scan_done_chunks(out))) == set(before)
    got = decode_table(spark, out, verify_checksums=False).toArrow()
    want = src.toArrow()
    assert sorted(got.column("n_tok").to_pylist()) != sorted(
        want.column("n_tok").to_pylist()
    )

    k0 = first["key_min"]
    with pytest.raises(Exception, match="checksum mismatch"):
        if verb == "compact":
            compact_chunks(spark, out, min_rows=10**6)
        elif verb == "delete":
            delete_rows(spark, out, ("doc_id", k0, k0))
        else:
            batch = src.filter(F.col("doc_id") == k0).withColumn(
                "n_tok", F.col("n_tok") + 1
            )
            upsert_rows(spark, batch, out, generation=1)
    # nothing committed: the old live view is intact and, once the byte
    # is restored, reads back bit-identical
    assert set(live_chunks(scan_done_chunks(out))) == set(before)
    _restore_byte(chunk_path, pos)
    assert verify_roundtrip(spark, src, out) == {"rows": 400, "mismatches": 0}
