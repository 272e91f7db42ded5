"""Parquet-snappy sizing of the bytes_ratio denominator."""

import os

import pyarrow.parquet as pq

import inputs


def test_reference_is_snappy_format_2_6(tmp_path):
    t = inputs.zipf_tokens(1, range(300), 40)
    path = str(tmp_path / "ref.parquet")
    n = inputs.write_reference(t, path)
    assert n == os.path.getsize(path)
    md = pq.ParquetFile(path).metadata
    assert md.format_version == "2.6"
    assert md.num_rows == t.num_rows
    for rg in range(md.num_row_groups):
        for c in range(md.num_columns):
            assert md.row_group(rg).column(c).compression == "SNAPPY"
    assert pq.read_table(path).equals(t)


def test_reference_bytes_removes_its_file(tmp_path):
    t = inputs.regime_mix(2, 100, 30)
    path = str(tmp_path / "x.parquet")
    n = inputs.reference_bytes(t, path)
    assert n > 0 and not os.path.exists(path)
    assert inputs.reference_bytes(t, path) == n  # deterministic size
