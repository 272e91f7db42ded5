"""Manifest/sidecar scan (operators/encode.py) and the views built on it.

Every read, stats call and verb answers its manifest questions through
one driver-side scan, at every table size: ``scan_sidecars`` reads each
sidecar once and verifies chunk sizes against ONE listing of
``chunks/``; ``live_chunks`` / ``done_chunk_ids`` derive the read and
resume views. These tests pin that scan's contract on hand-written
tables: corrupt and malformed sidecars are skipped, size mismatches
flag damage, compaction ``replaces`` lineage retires chunks, and the
zone-map/bloom prune keeps exactly the chunks the closed-form ranges
say it must. A 300-chunk verb sequence checks the same path end to end.
"""

from __future__ import annotations

import datetime as dtm
import json
import os
from decimal import Decimal

import pytest

from mojap_arrow_pd_parser_spark.operators import encode as enc_mod
from mojap_arrow_pd_parser_spark.operators.encode import (
    live_chunks,
    scan_sidecars,
)

#: > 1000 so the fixtures' %1000==999 compaction lineage exists
N_SIDECARS = 1_200


def _write_table(root: str, n: int) -> None:
    os.makedirs(f"{root}/chunks")
    os.makedirs(f"{root}/manifest")
    for cid in range(n):
        fname = f"chunk-{cid:05d}.parquet"
        payload = b"x" * (10 + cid % 7)
        with open(f"{root}/chunks/{fname}", "wb") as f:
            f.write(payload)
        m = {
            "chunk_id": cid,
            "n_rows": 100 + cid,
            "n_cols": 4,
            "in_bytes": 1000,
            "out_bytes": 500,
            "codecs": '{"tokens":"rle"}',
            "crc32": "deadbeef",
            "key_min": f"doc{cid:05d}",
            "key_max": f"doc{cid:05d}z",
            "wall_ms": 5,
            "status": "ok",
            "file": fname,
            "file_bytes": len(payload),
        }
        if cid % 1000 == 999:  # some compacted chunks with lineage
            m["replaces"] = [cid - 1, cid - 2]
        with open(f"{root}/manifest/{cid:05d}.json", "w") as f:
            f.write(json.dumps(m))
    # a partial sidecar from a killed run -> skipped
    with open(f"{root}/manifest/zzzzz.json", "w") as f:
        f.write('{"chunk_id": 99999, "n_ro')
    # a malformed-but-parseable sidecar: no file_bytes AND no chunk
    # file -> skipped, never verified through a None == None compare
    with open(f"{root}/manifest/yyyyy.json", "w") as f:
        f.write(json.dumps({"chunk_id": 77777, "file": "chunk-77777.parquet",
                            "status": "ok"}))
    # a size-mismatched chunk -> _verified False
    with open(f"{root}/chunks/chunk-00003.parquet", "ab") as f:
        f.write(b"extra")


@pytest.fixture(scope="module")
def table_small(tmp_path_factory):
    root = str(tmp_path_factory.mktemp("manifest") / "enc")
    _write_table(root, N_SIDECARS)
    return root


def test_scan_verifies_sizes_with_one_chunk_listing(table_small, monkeypatch):
    """Size verification uses ONE listing of chunks/, never a stat
    per chunk file (one round trip instead of O(chunks) on an object
    store)."""
    from mojap_arrow_pd_parser_spark.sources import fsio

    listed = []
    real_list = fsio.list_files
    monkeypatch.setattr(
        fsio, "list_files", lambda p: listed.append(p) or real_list(p)
    )
    monkeypatch.setattr(
        fsio, "file_size",
        lambda p: pytest.fail(f"scan stat'ed a chunk file: {p}"),
    )
    out = scan_sidecars(table_small)
    assert len(out) == N_SIDECARS
    assert listed.count(fsio.join(table_small, "chunks")) == 1


def test_distributed_matches_serial(table_small):
    """The scan's skip/flag/lineage contract (the name predates the
    removal of the distributed twin this test once compared against)."""
    out = scan_sidecars(table_small)
    assert len(out) == N_SIDECARS
    # the partial and the no-file_bytes/no-file sidecars are skipped (a
    # damaged table must not pass verification through a null size)
    assert 99999 not in out and 77777 not in out
    # damage flag
    assert out[3]["_verified"] is False
    assert out[4]["_verified"] is True
    # compaction lineage -> live view retires the replaced chunks
    assert out[999]["replaces"] == [998, 997]
    live = live_chunks(out)
    assert 999 in live and 998 not in live and 997 not in live
    assert len(live) == N_SIDECARS - 2
    # scan_done_chunks keeps only verified sidecars, without the flag
    done = enc_mod.scan_done_chunks(table_small)
    assert set(done) == set(out) - {3}
    assert all("_verified" not in m for m in done.values())


def _write_clean_table(root: str, n: int) -> None:
    """Undamaged table with per-column zone maps: chunk cid covers
    val in [cid*10, cid*10+9], fval in [cid+0.5, cid+1.5], cat in
    [s{cid:05d}, s{cid:05d}z], big = 2^60+cid (double-unrepresentable);
    plus TAGGED domains (encode._col_min_max's 3-element form):
    dval (decimal strings) in [cid.25, cid.75], tval (fixed-width ISO
    timestamps) covering 30s starting at 2024-01-01 + cid minutes,
    dtval (ISO dates) = 2020-01-01 + cid days."""
    import datetime as dt

    os.makedirs(f"{root}/chunks")
    os.makedirs(f"{root}/manifest")
    t0 = dt.datetime(2024, 1, 1)
    d0 = dt.date(2020, 1, 1)
    for cid in range(n):
        fname = f"chunk-{cid:05d}.parquet"
        payload = b"x" * (10 + cid % 7)
        with open(f"{root}/chunks/{fname}", "wb") as f:
            f.write(payload)
        ts_lo = t0 + dt.timedelta(minutes=cid)
        ts_hi = ts_lo + dt.timedelta(seconds=30)
        m = {
            "chunk_id": cid,
            "n_rows": 100,
            "n_cols": 4,
            "in_bytes": 1000,
            "out_bytes": 500,
            "codecs": "{}",
            "crc32": "deadbeef",
            "key_min": f"doc{cid:05d}",
            "key_max": f"doc{cid:05d}z",
            "wall_ms": 5,
            "status": "ok",
            "file": fname,
            "file_bytes": len(payload),
            "col_stats": json.dumps({
                "val": [cid * 10, cid * 10 + 9],
                "fval": [cid + 0.5, cid + 1.5],
                "cat": [f"s{cid:05d}", f"s{cid:05d}z"],
                "big": [2**60 + cid, 2**60 + cid],
                "dval": [f"{cid}.25", f"{cid}.75", "dec"],
                "tval": [
                    ts_lo.strftime("%Y-%m-%dT%H:%M:%S.%f"),
                    ts_hi.strftime("%Y-%m-%dT%H:%M:%S.%f"),
                    "ts",
                ],
                "dtval": [
                    (d0 + dt.timedelta(days=cid)).isoformat(),
                    (d0 + dt.timedelta(days=cid)).isoformat(),
                    "date",
                ],
            }),
        }
        if cid % 1000 == 999:
            m["replaces"] = [cid - 1, cid - 2]
        with open(f"{root}/manifest/{cid:05d}.json", "w") as f:
            f.write(json.dumps(m))


N_CLEAN = 2_000
_PLAN = {"key": "doc_id", "key_type": "string"}
#: live ids of _write_clean_table(N_CLEAN): each %1000==999 chunk
#: retires the two ids below it
_LIVE = set(range(N_CLEAN)) - {997, 998, 1997, 1998}


@pytest.fixture(scope="module")
def clean_table(tmp_path_factory):
    root = str(tmp_path_factory.mktemp("prune") / "enc")
    _write_clean_table(root, N_CLEAN)
    return root


def _ids(lo: int, hi: int) -> set[int]:
    return set(range(lo, hi + 1))


#: (key_range, where, surviving chunk ids), the survivors worked out
#: by hand from _write_clean_table's ranges
_PRUNE_CASES = [
    (None, None, _LIVE),
    (("doc00010", "doc00020"), None, _ids(10, 20)),
    (None, ("val", 100, 259), _ids(10, 25)),
    (None, ("val", 100.5, 250.5), _ids(10, 25)),  # float bounds vs int stats
    (None, ("fval", 3.0, 7.25), _ids(2, 6)),      # float stats
    (None, ("cat", "s00010", "s00020"), _ids(10, 20)),
    (None, ("nope", 1, 2), _LIVE),                # unmapped column -> no prune
    (None, ("val", True, True), _LIVE),           # bool bounds -> no prune
    (None, ("big", 2**60 + 5, 2**60 + 10), _ids(5, 10)),  # int64 > 2^53: exact
    (None, ("val", 10**9, 2 * 10**9), set()),     # empty survivors
    (("doc00010", "doc00100"), ("val", 100, 259), _ids(10, 25)),
    # tagged domains (decimal / timestamp / date zone maps)
    (None, ("dval", Decimal("10.30"), Decimal("20.50")), _ids(10, 20)),
    (None, ("dval", 10.3, 20.5), _ids(10, 20)),   # float bounds on dec stats
    (None, ("dval", 12, 19), _ids(12, 18)),       # int bounds on dec stats
    (None, ("dval", "a", "b"), _LIVE),            # string bounds: no prune
    (None, ("dval", Decimal("1e30"), Decimal("2e30")), set()),
    # exact-boundary case: lo sits 1e-16 above chunk 13's "13.75" max,
    # so the exact decimal compare prunes chunk 13 (a double compare
    # would round lo to 13.75 and keep it)
    (None, ("dval", Decimal("13.7500000000000001"), Decimal("20.25")),
     _ids(14, 20)),
    # bounds beyond decimal(38): still exact, everything pruned
    (None, ("dval", Decimal("1e40"), Decimal("2e40")), set()),
    (None, ("tval", dtm.datetime(2024, 1, 1, 0, 10),
            dtm.datetime(2024, 1, 1, 0, 20)), _ids(10, 20)),
    (None, ("tval", 100, 200), _LIVE),            # numeric bounds: no prune
    (None, ("dtval", dtm.date(2020, 2, 1), dtm.date(2020, 2, 10)), _ids(31, 40)),
    (None, ("dtval", dtm.datetime(2020, 2, 1),
            dtm.datetime(2020, 2, 10)), _LIVE),   # datetime vs date: keep
]


def _case_id(i: int, kr, wh) -> str:
    """The id pytest derives for a (kr, wh) pair, so case ids stay
    stable now that each case carries its expected survivors."""
    return "-".join(
        "None" if v is None else f"{name}{i}"
        for name, v in (("kr", kr), ("wh", wh))
    )


@pytest.mark.parametrize(
    "kr,wh,want",
    [
        pytest.param(kr, wh, want, id=_case_id(i, kr, wh))
        for i, (kr, wh, want) in enumerate(_PRUNE_CASES)
    ],
)
def test_distributed_prune_matches_serial(clean_table, kr, wh, want):
    """The zone-map prune keeps exactly the closed-form survivors (the
    name predates the removal of the distributed twin this test once
    compared against)."""
    from mojap_arrow_pd_parser_spark.operators.decode import _live_pruned_files

    got = _live_pruned_files(None, clean_table, _PLAN, kr, wh)
    assert sorted(got) == sorted(f"chunk-{cid:05d}.parquet" for cid in want)


def test_distributed_prune_damage_raises_like_serial(table_small):
    """Damage (size-mismatched chunk 3) raises even when pruning would
    have skipped the damaged chunk: verification precedes the prune."""
    from mojap_arrow_pd_parser_spark.operators.decode import _live_pruned_files

    with pytest.raises(IOError, match=r"damaged or incomplete.*3"):
        _live_pruned_files(
            None, table_small, _PLAN, ("doc01100", "doc01110"), None
        )


class TestDriverLightScans:
    """The ``columns`` projection keeps per-sidecar ``col_stats`` (and
    other heavy JSON) out of the resume/compact/GC views, and out of
    every DataFrame those verbs build."""

    def test_resume_consolidate_compact_gc_never_collect_col_stats(
        self, spark, tmp_path, monkeypatch
    ):
        """End-to-end: a real encode -> resume -> compact -> gc cycle;
        NO DataFrame the driver collects on those paths may carry a
        col_stats column."""
        from pyspark.sql import functions as F
        from pyspark.sql.classic.dataframe import DataFrame

        from mojap_arrow_pd_parser_spark.operators.encode import (
            compact_chunks, encode_table, gc_superseded,
        )

        df = spark.range(0, 2000).select(
            F.concat(F.lit("doc_"), F.lpad(F.col("id").cast("string"), 8, "0")
                     ).alias("doc_id"),
            (F.col("id") % 97).cast("int").alias("val"),
        )
        out = str(tmp_path / "enc_light")
        encode_table(spark, df, out, key="doc_id", n_chunks=8)

        collected = []
        real = DataFrame.collect

        def spy(self):
            rows = real(self)
            collected.append(list(self.columns))
            return rows

        monkeypatch.setattr(DataFrame, "collect", spy)
        encode_table(spark, df, out, key="doc_id", n_chunks=8)  # resume no-op
        compact_chunks(spark, out, min_rows=1000)
        gc_superseded(out)
        assert all("col_stats" not in cols for cols in collected)

    def test_serial_projection_matches(self, tmp_path):
        root = str(tmp_path / "ser")
        _write_table(root, 10)
        proj = scan_sidecars(root, columns=("n_rows",))
        full = scan_sidecars(root)
        assert set(proj) == set(full)
        core = set(enc_mod._SIDECAR_CORE_FIELDS) | {"n_rows", "_verified"}
        for cid, m in proj.items():
            assert set(m) <= core
            assert m["n_rows"] == full[cid]["n_rows"]


def test_small_tables_stay_serial(spark, clean_table):
    """Planning a read launches no Spark job, whatever the table size:
    the prune runs on the driver over the sidecar scan."""
    from mojap_arrow_pd_parser_spark.operators.decode import _live_pruned_files

    sc = spark.sparkContext
    sc.setJobGroup("manifest-scan-probe", "prune planning")
    try:
        files = _live_pruned_files(
            spark, clean_table, _PLAN, None, ("val", 100, 259)
        )
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(files) == 16  # chunks 10..25 overlap [100, 259]
    assert sc.statusTracker().getJobIdsForGroup("manifest-scan-probe") == []


class TestDistributedConsolidation:
    """The consolidated manifest (manifest.parquet) rebuilt from the
    sidecar scan: live view honored, sorted by chunk_id, and no
    DataFrame collected to build it. (The class name predates the
    removal of the distributed rebuild.)"""

    def _fresh_table(self, tmp_path, n=1500):
        # n > 1000 so the fixture's %1000==999 REPLACE lineage exists
        root = str(tmp_path / "enc")
        _write_table(root, n)
        return root

    def test_distributed_consolidation_matches_serial(self, spark, tmp_path):
        root = self._fresh_table(tmp_path)
        empty = spark.createDataFrame([], enc_mod.MANIFEST_SCHEMA)
        cons = enc_mod._finish_encode(spark, empty, root, consolidate=True)
        rows = cons.collect()
        ids = {r["chunk_id"] for r in rows}
        # live view honored: chunk 3 (damaged) excluded, replaced
        # chunks retired, malformed sidecars skipped
        want = set(range(1500)) - {3, 997, 998}
        assert ids == want and len(rows) == len(want)
        assert 77777 not in ids and 99999 not in ids
        by_id = {r["chunk_id"]: r for r in rows}
        assert by_id[42]["n_rows"] == 142 and by_id[42]["file"] == "chunk-00042.parquet"
        # written file is sorted by chunk_id (deterministic artifact)
        on_disk = spark.read.parquet(f"{root}/manifest.parquet")
        col = [r.chunk_id for r in on_disk.collect()]
        assert col == sorted(want)

    def test_distributed_consolidation_no_per_chunk_driver_rows(
        self, spark, tmp_path, monkeypatch
    ):
        """The rebuild takes its rows from the sidecar scan and writes
        them in one parquet write: no DataFrame is collected."""
        from pyspark.sql.classic.dataframe import DataFrame

        root = self._fresh_table(tmp_path)
        collected = []
        real = DataFrame.collect

        def spy(self):
            rows = real(self)
            collected.append((len(rows), list(self.columns)))
            return rows

        monkeypatch.setattr(DataFrame, "collect", spy)
        empty = spark.createDataFrame([], enc_mod.MANIFEST_SCHEMA)
        enc_mod._finish_encode(spark, empty, root, consolidate=True)
        assert collected == []

    def test_gc_distributed_10k_victims(self, tmp_path):
        """GC of ~2,900 victims in one pass (the name predates the
        removal of the distributed delete fan-out)."""
        import json as _json
        import os as _os

        from mojap_arrow_pd_parser_spark.operators.encode import gc_superseded

        root = str(tmp_path / "enc")
        n = 3000
        _write_clean_table(root, n)
        # one verified merged chunk supersedes ids 0..n-101
        victims = list(range(0, n - 100))
        fname = "chunk-99999.parquet"
        payload = b"m" * 17
        with open(f"{root}/chunks/{fname}", "wb") as f:
            f.write(payload)
        m = {
            "chunk_id": 99999, "n_rows": 1, "n_cols": 1, "in_bytes": 1,
            "out_bytes": 1, "codecs": "{}", "crc32": "0", "key_min": "a",
            "key_max": "z", "wall_ms": 1, "status": "ok", "file": fname,
            "file_bytes": len(payload), "replaces": victims,
        }
        with open(f"{root}/manifest/99999.json", "w") as f:
            f.write(_json.dumps(m))
        # _write_clean_table's own %1000==999 merges retire 2 more each
        expected = len(set(victims) | {998, 997, 1998, 1997, 2998, 2997})
        removed = gc_superseded(root)
        assert removed == expected
        left = {f for f in _os.listdir(f"{root}/chunks")}
        assert f"chunk-{0:05d}.parquet" not in left
        assert fname in left
        assert len(_os.listdir(f"{root}/manifest")) == n + 1 - expected
        # idempotent re-run deletes nothing further
        assert gc_superseded(root) == 0


def test_serial_gc_counts_only_deleted_victims(tmp_path, monkeypatch):
    import json as _json

    from mojap_arrow_pd_parser_spark.operators.encode import gc_superseded

    root = str(tmp_path / "enc")
    _write_clean_table(root, 6)
    fname = "chunk-99999.parquet"
    with open(f"{root}/chunks/{fname}", "wb") as f:
        f.write(b"m")
    m = {
        "chunk_id": 99999, "n_rows": 1, "n_cols": 1, "in_bytes": 1,
        "out_bytes": 1, "codecs": "{}", "crc32": "0", "key_min": "a",
        "key_max": "z", "wall_ms": 1, "status": "ok", "file": fname,
        "file_bytes": 1, "replaces": [0, 1, 2],
    }
    with open(f"{root}/manifest/99999.json", "w") as f:
        f.write(_json.dumps(m))
    done = enc_mod.scan_done_chunks(root)
    assert {0, 1, 2} <= set(done)
    # victim 1 vanishes after the victim list was taken (a concurrent
    # or crashed-and-rerun GC got there first): nothing left to count
    os.remove(f"{root}/chunks/chunk-00001.parquet")
    os.remove(f"{root}/manifest/00001.json")
    monkeypatch.setattr(enc_mod, "scan_done_chunks", lambda *a, **k: done)
    assert gc_superseded(root) == 2
    left = set(os.listdir(f"{root}/chunks"))
    assert not left & {"chunk-00000.parquet", "chunk-00002.parquet"}
    assert {fname, "chunk-00003.parquet"} <= left


def _add_chunk(root: str, cid: int, replaces: list[int]) -> None:
    """Write chunk ``cid``'s file and a sidecar that replaces ``replaces``."""
    fname = f"chunk-{cid:05d}.parquet"
    with open(f"{root}/chunks/{fname}", "wb") as f:
        f.write(b"m" * 9)
    m = {
        "chunk_id": cid, "n_rows": 1, "n_cols": 1, "in_bytes": 1,
        "out_bytes": 1, "codecs": "{}", "crc32": "0", "key_min": "a",
        "key_max": "z", "wall_ms": 1, "status": "ok", "file": fname,
        "file_bytes": 9, "replaces": replaces,
    }
    with open(f"{root}/manifest/{cid:05d}.json", "w") as f:
        f.write(json.dumps(m))


def test_gc_folds_committed_staging_before_deleting(tmp_path):
    """A victim whose sidecar sits in a committed-but-unfolded staging
    dir (a crash between an upsert's commit marker and its fold) must
    not come back: GC folds staging first, so the sidecar it deletes
    is the one a later fold would otherwise move into manifest/."""
    from mojap_arrow_pd_parser_spark.operators.decode import _live_pruned_files
    from mojap_arrow_pd_parser_spark.operators.encode import (
        _fold_committed_staging, gc_superseded,
    )

    root = str(tmp_path / "enc")
    _write_clean_table(root, 4)
    # 1. chunk 1's sidecar is staged under a commit marker
    os.makedirs(f"{root}/_staging/g1")
    os.rename(f"{root}/manifest/00001.json", f"{root}/_staging/g1/00001.json")
    os.makedirs(f"{root}/_commits")
    with open(f"{root}/_commits/g1.json", "w") as f:
        f.write('{"generation": 1}')
    # 2. chunk 5 replaces [1]; gc; the staging dir is folded
    _add_chunk(root, 5, [1])
    assert gc_superseded(root) == 1
    _fold_committed_staging(root)
    # 3. chunk 9 replaces [5]; gc
    _add_chunk(root, 9, [5])
    assert gc_superseded(root) == 1
    # 4. chunk 1 stays retired: reads see 0, 2, 3 and 9, no damage
    files = _live_pruned_files(None, root, _PLAN, None, None)
    assert sorted(files) == [
        f"chunk-{c:05d}.parquet" for c in (0, 2, 3, 9)
    ]
    assert not os.path.exists(f"{root}/manifest/00001.json")


class TestVerbsAtScale:
    """A 300-chunk table through delete -> upsert -> resume ->
    compact + gc, every verb on the one manifest path."""

    N_CHUNKS = 300

    @pytest.fixture(scope="class")
    def big_table(self, spark, tmp_path_factory):
        from pyspark.sql import functions as F

        from mojap_arrow_pd_parser_spark.operators.encode import encode_table

        out = str(tmp_path_factory.mktemp("verbs300") / "enc")
        src = spark.range(3000).select(
            F.col("id").cast("long").alias("k"),
            (F.col("id") * 2).cast("long").alias("v"),
        )
        encode_table(spark, src, out, key="k", n_chunks=self.N_CHUNKS)
        return out

    def test_verb_sequence_reads_back_exact(self, spark, big_table):
        from pyspark.sql import functions as F

        import mojap_arrow_pd_parser_spark.operators.encode as E
        from mojap_arrow_pd_parser_spark.operators.decode import decode_table

        E.delete_rows(spark, big_table, ("k", 10, 20), consolidate=False)
        batch = spark.range(5).select(
            F.col("id").cast("long").alias("k"),
            F.lit(999).cast("long").alias("v"),
        )
        E.upsert_rows(spark, batch, big_table, generation=1, consolidate=False)
        # resume over the whole source: every bucket is done, no-op
        E.encode_table(
            spark,
            spark.range(3000).select(
                F.col("id").cast("long").alias("k"),
                (F.col("id") * 2).cast("long").alias("v"),
            ),
            big_table, key="k", n_chunks=self.N_CHUNKS, resume=True,
            consolidate=False,
        )
        E.compact_chunks(
            spark, big_table, min_rows=50, consolidate=False, gc=True
        )

        dec = decode_table(spark, big_table)
        got = {r["k"]: r["v"] for r in dec.collect()}
        want = {k: 2 * k for k in range(3000) if not 10 <= k <= 20}
        want.update({k: 999 for k in range(5)})
        assert len(got) == dec.count() == 3000 - 11
        assert got == want
        # compaction folded the small chunks, and gc left no victim
        live = live_chunks(E.scan_done_chunks(big_table))
        assert len(live) < self.N_CHUNKS
        assert set(E.scan_done_chunks(big_table)) == set(live)


#: eleven rows of ``tokens_table``, all in the first chunk
_DOCS_10_20 = ("doc_id", "doc_000000000010", "doc_000000000020")


class TestDriverManifestCommit:
    """Every verb commits ``manifest.parquet`` from the driver with one
    write-then-clean put on local fs too: a verb with no data work runs
    no Spark job, the directory always holds exactly one data part
    equal to the live view, and a failed put leaves the previous part
    readable."""

    @pytest.fixture
    def table(self, spark, tmp_path):
        from mojap_arrow_pd_parser_spark.datagen import tokens_table
        from mojap_arrow_pd_parser_spark.operators.encode import encode_table

        out = str(tmp_path / "enc")
        encode_table(spark, tokens_table(spark, 300, seed=31), out,
                     key="doc_id", n_chunks=4, track_snapshots=True)
        return out

    @staticmethod
    def _parts(out):
        mp = f"{out}/manifest.parquet"
        return sorted(n for n in os.listdir(mp) if not n.startswith(("_", ".")))

    @staticmethod
    def _manifest_rows(out):
        import pyarrow.parquet as pq

        (part,) = TestDriverManifestCommit._parts(out)
        t = pq.read_table(f"{out}/manifest.parquet/{part}")
        return list(zip(t["chunk_id"].to_pylist(), t["n_rows"].to_pylist()))

    @staticmethod
    def _live_rows(out):
        live = live_chunks(enc_mod.scan_done_chunks(out))
        return [(cid, m["n_rows"]) for cid, m in sorted(live.items())]

    def test_no_op_verbs_launch_no_spark_job(self, spark, table):
        from mojap_arrow_pd_parser_spark.operators.snapshots import (
            list_snapshots, read_snapshot_arrow,
        )

        before = self._manifest_rows(table)
        n_snaps = len(list_snapshots(table))
        sc = spark.sparkContext
        sc.setJobGroup("verb-commit-probe", "no-op verbs")
        try:
            enc_mod.compact_chunks(spark, table, min_rows=0)
            # past every key: the zone map prunes every chunk
            enc_mod.delete_rows(spark, table, ("doc_id", "zzz0", "zzz9"))
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        assert sc.statusTracker().getJobIdsForGroup("verb-commit-probe") == []
        # both verbs still committed: manifest and snapshots re-written
        # from the one scan each verb made
        assert self._manifest_rows(table) == before == self._live_rows(table)
        snaps = list_snapshots(table)
        assert [s["verb"] for s in snaps[n_snaps:]] == ["compact", "delete"]
        last = read_snapshot_arrow(table, snaps[-1]["version"])
        assert list(zip(last["chunk_id"].to_pylist(),
                        last["n_rows"].to_pylist())) == before

    def test_consecutive_verbs_leave_one_part_equal_to_live(self, spark, table):
        first = self._parts(table)
        enc_mod.delete_rows(spark, table, _DOCS_10_20)
        second = self._parts(table)
        enc_mod.compact_chunks(spark, table, min_rows=10_000)
        third = self._parts(table)
        assert len(first) == len(second) == len(third) == 1
        assert len({*first, *second, *third}) == 3  # a fresh part each time
        assert self._manifest_rows(table) == self._live_rows(table)
        assert len(self._live_rows(table)) == 1  # compaction merged all

    def test_failed_put_keeps_previous_part(self, spark, table, monkeypatch):
        from mojap_arrow_pd_parser_spark.sources import fsio

        old_parts, old_rows = self._parts(table), self._manifest_rows(table)
        real_put = fsio.write_parquet_atomic

        def failing_put(t, path, *a, **kw):
            if "manifest.parquet" in path:
                raise OSError("simulated failed manifest put")
            return real_put(t, path, *a, **kw)

        monkeypatch.setattr(fsio, "write_parquet_atomic", failing_put)
        with pytest.raises(OSError, match="simulated failed manifest put"):
            enc_mod.delete_rows(spark, table, _DOCS_10_20)
        monkeypatch.undo()
        # the delete's chunks committed, but the previous manifest part
        # is still there, readable, with its old rows
        assert self._parts(table) == old_parts
        assert self._manifest_rows(table) == old_rows != self._live_rows(table)
