"""bulk_encode: the throughput-and-ratio path.

Each round encodes the whole regime-mix table into a fresh path
(``EncodedTable.create``, range plan, 64 chunks), decodes it into
Spark's noop sink and runs ``verify_roundtrip`` against the source.
Codecs, the shuffle and the JVM<->Python Arrow boundary do nearly all
the work; 64 sidecars keep the manifest on its serial path.
"""

from __future__ import annotations

import os
import shutil

import inputs
import sparkside
from common import check, dir_bytes
from model import same_rows

N_DOCS = 12_000
AVG_LEN = 1_000
WARMUP_DOCS = 100
N_CHUNKS = 64
WARMUP_CHUNKS = 4  # first-use costs do not grow with the task count
#: one create is ~9 s of wall; the host's speed drifts by ~15 % over such
#: spans, so write_tok_s and read_tok_s add up two rounds of every run
MIN_ROUNDS = 2


class State:
    pass


S = State()


def setup(run) -> None:
    with run.phase("jvm"):
        from mojap_arrow_pd_parser_spark import EncodedTable  # noqa: F401

        run.start_spark("perfbench-bulk_encode")
    with run.phase("inputs"):
        S.table = inputs.regime_mix(run.seed, N_DOCS, AVG_LEN)
        S.tokens = inputs.n_tokens(S.table)
        S.src_path = os.path.join(run.tmp, "src.parquet")
        S.ref_bytes = inputs.write_reference(S.table, S.src_path)
        warm = inputs.regime_mix(run.seed + 1_000_003, WARMUP_DOCS, AVG_LEN)
        S.warm_path = os.path.join(run.tmp, "warm.parquet")
        inputs.write_reference(warm, S.warm_path)
    with run.phase("warmup"):
        _encode_decode_verify(run, S.warm_path, os.path.join(run.tmp, "warm"), warm.num_rows,
                              WARMUP_CHUNKS)
    if run.trace_mode:
        sparkside.install_wrappers(run)


def _encode_decode_verify(run, src_path: str, path: str, n_rows: int, n_chunks: int) -> None:
    from mojap_arrow_pd_parser_spark import EncodedTable
    from mojap_arrow_pd_parser_spark.operators.decode import decode_table, verify_roundtrip

    spark = run.spark
    src = spark.read.parquet(src_path)
    EncodedTable.create(spark, src, path, key="doc_id", n_chunks=n_chunks)
    decode_table(spark, path).write.format("noop").mode("overwrite").save()
    res = verify_roundtrip(spark, src, path)
    check(res == {"rows": n_rows, "mismatches": 0}, f"warm-up verify_roundtrip: {res}")
    shutil.rmtree(path)


def one_round(run, i: int) -> float:
    from mojap_arrow_pd_parser_spark import EncodedTable
    from mojap_arrow_pd_parser_spark.operators import decode

    spark = run.spark
    if i:  # the last round's table stays for finish()
        shutil.rmtree(os.path.join(run.tmp, "tables", f"r{i - 1:03d}"))
    path = S.last = os.path.join(run.tmp, "tables", f"r{i:03d}")
    src = spark.read.parquet(S.src_path)
    with run.op("create", "write", tokens=S.tokens) as op:
        EncodedTable.create(spark, src, path, key="doc_id", n_chunks=N_CHUNKS)
    sparkside.probe_encode(run, op, path)
    with run.op("decode", "read", tokens=S.tokens) as op:
        decode.decode_table(spark, path).write.format("noop").mode("overwrite").save()
    sparkside.probe_decode(run, op, path)
    with run.op("verify", "read", tokens=S.tokens):
        res = decode.verify_roundtrip(spark, src, path)
    check(res == {"rows": S.table.num_rows, "mismatches": 0}, f"verify_roundtrip: {res}")
    return dir_bytes(path) / S.ref_bytes


def finish(run) -> None:
    """Bit-for-bit check of the last round's table against the input."""
    from mojap_arrow_pd_parser_spark.operators.decode import decode_table

    got = decode_table(run.spark, S.last).toArrow()
    check(same_rows(got, S.table), "decoded rows differ from the generated table")


def layers(run, traced) -> dict:
    return sparkside.layers(run, traced)
