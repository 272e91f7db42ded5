"""Object-store I/O layer: commit protocol on local paths, file://
URIs end-to-end through the engine, and S3 (moto server) for BOTH the
scan/resume path and the write path.

The reference's moto-backed writer tests
(/root/reference/tests/test_writer_api.py:278-298) are the model: a
mocked S3 endpoint, engine file ops against s3:// URIs. pyarrow 16's
S3 *writer* cannot complete a multipart upload against moto 5 (a
known arrow<->moto CompleteMultipartUpload incompatibility); fsio
commits S3 objects ≤ 5 GiB with ONE boto3 put_object instead — the
stronger atomic commit and the testable one — so the engine's write
side runs end-to-end here (TestS3WritePath), alongside the read/scan/
resume coverage the earlier rounds had.
"""

from __future__ import annotations

import json
import os

import pytest

from mojap_arrow_pd_parser_spark.sources import fsio


class TestLocalCommit:
    def test_write_bytes_atomic_and_read(self, tmp_path):
        p = str(tmp_path / "sub" / "a.json")
        fsio.makedirs(str(tmp_path / "sub"))
        n = fsio.write_bytes_atomic(p, b'{"k": 1}')
        assert n == 8
        assert fsio.read_json(p) == {"k": 1}
        assert fsio.file_size(p) == 8
        # no tmp residue from the rename protocol
        assert [f for f, _ in fsio.list_files(str(tmp_path / "sub"))] == ["a.json"]

    def test_write_parquet_atomic_reports_final_size(self, tmp_path):
        import pyarrow as pa

        t = pa.table({"x": [1, 2, 3]})
        p = str(tmp_path / "t.parquet")
        size = fsio.write_parquet_atomic(t, p)
        assert size == os.path.getsize(p) > 0

    def test_resolve_schemes(self):
        fs, p = fsio.resolve("/tmp/x")
        assert fsio.is_local(fs) and p == "/tmp/x"
        fs, p = fsio.resolve("file:///tmp/x")
        assert fsio.is_local(fs) and p == "/tmp/x"

    def test_list_files_missing_dir_is_empty(self, tmp_path):
        assert fsio.list_files(str(tmp_path / "nope")) == []


class TestFileUriRoundTrip:
    def test_encode_decode_through_file_uri(self, spark, tmp_path):
        """The whole engine dataflow addressed by URI, not POSIX path:
        plan persist, chunk+sidecar commits (executor side), resume
        scan, decode — all through the pyarrow.fs routing."""
        from mojap_arrow_pd_parser_spark.datagen import tokens_table
        from mojap_arrow_pd_parser_spark.operators.decode import verify_roundtrip
        from mojap_arrow_pd_parser_spark.operators.encode import (
            encode_table, scan_done_chunks,
        )

        out = f"file://{tmp_path}/enc"
        src = tokens_table(spark, 800, seed=5)
        encode_table(spark, src, out, key="doc_id", n_chunks=4)
        done = scan_done_chunks(out)
        assert len(done) == 4
        assert verify_roundtrip(spark, src, out)["mismatches"] == 0
        # resume is a no-op when everything verified
        before = {c: m["crc32"] for c, m in done.items()}
        encode_table(spark, src, out, key="doc_id", n_chunks=4)
        after = {c: m["crc32"] for c, m in scan_done_chunks(out).items()}
        assert after == before


@pytest.fixture(scope="module")
def moto_s3():
    """Moto S3 server on the FIXED port conftest.py exported into the
    environment at import time — before the JVM (whose python-worker
    daemons inherit that env) could have been spawned, so executor-side
    fsio puts/reads resolve the same endpoint as the driver."""
    try:
        from moto.server import ThreadedMotoServer
    except ImportError:
        pytest.skip("moto not installed")
    from .conftest import MOTO_PORT

    if os.environ.get("AWS_ENDPOINT_URL") != f"http://127.0.0.1:{MOTO_PORT}":
        pytest.skip("real AWS environment present; not overriding it")
    server = ThreadedMotoServer(port=MOTO_PORT)
    server.start()
    import boto3

    client = boto3.client("s3")
    client.create_bucket(Bucket="engine-test")
    yield client
    server.stop()


class TestS3ScanPath:
    def test_fsio_reads_and_lists_s3(self, moto_s3):
        moto_s3.put_object(
            Bucket="engine-test", Key="out/manifest/00001.json",
            Body=json.dumps({"chunk_id": 1, "file": "c1.parquet", "file_bytes": 3}),
        )
        moto_s3.put_object(Bucket="engine-test", Key="out/chunks/c1.parquet", Body=b"abc")
        base = "s3://engine-test/out"
        assert fsio.exists(f"{base}/manifest/00001.json")
        assert fsio.file_size(f"{base}/chunks/c1.parquet") == 3
        names = [n for n, _ in fsio.list_files(f"{base}/manifest")]
        assert names == ["00001.json"]
        assert fsio.read_json(f"{base}/manifest/00001.json")["chunk_id"] == 1

    def test_scan_done_chunks_on_s3_verifies_sizes(self, moto_s3):
        from mojap_arrow_pd_parser_spark.operators.encode import scan_done_chunks

        # chunk 2: sidecar present but chunk file size mismatches -> NOT done
        moto_s3.put_object(
            Bucket="engine-test", Key="out2/manifest/00001.json",
            Body=json.dumps({"chunk_id": 1, "file": "c1.parquet", "file_bytes": 4}),
        )
        moto_s3.put_object(Bucket="engine-test", Key="out2/chunks/c1.parquet", Body=b"abcd")
        moto_s3.put_object(
            Bucket="engine-test", Key="out2/manifest/00002.json",
            Body=json.dumps({"chunk_id": 2, "file": "c2.parquet", "file_bytes": 99}),
        )
        moto_s3.put_object(Bucket="engine-test", Key="out2/chunks/c2.parquet", Body=b"xy")
        done = scan_done_chunks("s3://engine-test/out2")
        assert set(done) == {1}

    def test_s3a_scheme_maps_to_pyarrow_s3(self, moto_s3):
        moto_s3.put_object(Bucket="engine-test", Key="h/x.bin", Body=b"12345")
        assert fsio.file_size("s3a://engine-test/h/x.bin") == 5

    def test_many_sidecar_s3_scan_takes_arrow_fallback(self, spark, moto_s3):
        """A few hundred sidecars on s3:// with NO hadoop-aws on the
        classpath: the manifest scan reads them through pyarrow.fs
        (never the JVM) and flags the one size mismatch. Decode,
        resume and consolidation of object-store tables all stand on
        this scan."""
        from mojap_arrow_pd_parser_spark.operators.encode import (
            jvm_handles_scheme, scan_sidecars,
        )

        base = "s3://engine-test/big-scan"
        n = 276
        for cid in range(n):
            body = b"x" * (10 + cid % 5)
            moto_s3.put_object(
                Bucket="engine-test",
                Key=f"big-scan/chunks/chunk-{cid:05d}.parquet",
                Body=body,
            )
            moto_s3.put_object(
                Bucket="engine-test",
                Key=f"big-scan/manifest/{cid:05d}.json",
                Body=json.dumps({
                    "chunk_id": cid,
                    "n_rows": 100,
                    "n_cols": 2,
                    "in_bytes": 1000,
                    "out_bytes": 500,
                    "codecs": '{"tokens":"rle"}',
                    "crc32": "deadbeef",
                    "key_min": f"doc{cid:05d}",
                    "key_max": f"doc{cid:05d}z",
                    "wall_ms": 5,
                    "file": f"chunk-{cid:05d}.parquet",
                    "status": "ok",
                    "file_bytes": len(body) + (5 if cid == 7 else 0),
                }),
            )
        # this Spark build has no S3 connector -> probe must say so
        assert jvm_handles_scheme(spark, base) is False
        out = scan_sidecars(base)
        assert sorted(out) == list(range(n))
        assert out[7]["_verified"] is False  # size mismatch flagged
        assert all(out[c]["_verified"] for c in out if c != 7)
        assert out[8]["file_bytes"] == 13


class TestS3WritePath:
    """The WRITE half of the object-store commit protocol, end-to-end
    against moto: single-put commits (pyarrow 16 multipart cannot
    complete against moto 5 — fsio routes S3 objects <= 5 GiB through
    one put_object, the stronger commit anyway), then the whole engine
    dataflow (encode -> sidecars -> resume -> decode -> verify) against
    s3:// URIs, exercising the distributed pyarrow chunk-read fallback
    a Spark build without hadoop-aws needs. Mirrors the reference's
    moto-backed writer tests (tests/test_writer_api.py:278-298)."""

    def test_write_bytes_single_put(self, moto_s3):
        p = "s3://engine-test/wr/a.json"
        n = fsio.write_bytes_atomic(p, b'{"k": 2}')
        assert n == 8
        assert fsio.read_json(p) == {"k": 2}
        assert fsio.file_size(p) == 8

    def test_write_parquet_single_put_reports_final_size(self, moto_s3):
        import pyarrow as pa
        import pyarrow.parquet as pq

        t = pa.table({"x": [1, 2, 3], "s": ["a", None, "c"]})
        p = "s3://engine-test/wr/t.parquet"
        size = fsio.write_parquet_atomic(t, p)
        assert size == fsio.file_size(p) > 0
        fs, ip = fsio.resolve(p)
        assert pq.read_table(ip, filesystem=fs).equals(t)

    def test_encode_decode_verify_on_s3(self, spark, moto_s3):
        from mojap_arrow_pd_parser_spark.datagen import tokens_table
        from mojap_arrow_pd_parser_spark.operators.decode import (
            decode_table, verify_roundtrip,
        )
        from mojap_arrow_pd_parser_spark.operators.encode import (
            encode_table, scan_done_chunks,
        )

        out = "s3://engine-test/enc-e2e"
        src = tokens_table(spark, 400, seed=7)
        encode_table(spark, src, out, key="doc_id", n_chunks=4)
        done = scan_done_chunks(out)
        assert len(done) == 4
        # chunk objects committed at exactly the recorded sidecar size
        for m in done.values():
            assert fsio.file_size(f"{out}/chunks/{m['file']}") == m["file_bytes"]
        # decode via the distributed pyarrow fallback (no hadoop-aws jars)
        assert decode_table(spark, out).count() == 400
        assert verify_roundtrip(spark, src, out)["mismatches"] == 0
        # consolidated manifest committed driver-side, as on every
        # scheme; write-then-clean leaves exactly ONE uniquely-named part
        parts = [
            n for n, _sz in fsio.list_files(f"{out}/manifest.parquet")
            if not n.startswith(("_", "."))
        ]
        assert len(parts) == 1 and parts[0].startswith("part-00000-")
        # re-consolidating replaces it without ever duplicating rows
        encode_table(spark, src, out, key="doc_id", n_chunks=4, resume=True)
        parts2 = [
            n for n, _sz in fsio.list_files(f"{out}/manifest.parquet")
            if not n.startswith(("_", "."))
        ]
        assert len(parts2) == 1 and parts2 != parts

    def test_resume_on_s3_reencodes_only_missing_bucket(self, spark, moto_s3):
        from mojap_arrow_pd_parser_spark.datagen import tokens_table
        from mojap_arrow_pd_parser_spark.operators.encode import (
            encode_table, scan_done_chunks,
        )

        out = "s3://engine-test/enc-resume"
        src = tokens_table(spark, 300, seed=9)
        encode_table(spark, src, out, key="doc_id", n_chunks=3)
        before = {c: m["crc32"] for c, m in scan_done_chunks(out).items()}
        assert len(before) == 3
        # simulate a killed run: chunk 1's sidecar never became durable
        moto_s3.delete_object(
            Bucket="engine-test", Key="enc-resume/manifest/00001.json"
        )
        encode_table(spark, src, out, key="doc_id", n_chunks=3)
        after = {c: m["crc32"] for c, m in scan_done_chunks(out).items()}
        assert after == before  # deterministic re-encode of exactly bucket 1
