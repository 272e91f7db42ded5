"""Round-7 feature tests: per-chunk key Bloom filters (point-lookup
pruning), versioned snapshots + time travel + expiry, predicate-list /
key_in decode pruning, and manifest-only table_stats.

Reference parity note: the reference library has no versioning or
statistics pushdown (it reads whole files,
/root/reference/arrow_pd_parser/_readers.py); these generalize its
read-back-what-you-wrote contract across table history and to
metadata-only aggregate answers.
"""

import json

import numpy as np
import pytest

from pyspark.sql import functions as F


def _tbl(spark, n, seed, prefix=""):
    from mojap_arrow_pd_parser_spark.datagen import tokens_table

    t = tokens_table(spark, n, seed=seed)
    if prefix:
        t = t.selectExpr(
            f"concat('{prefix}', doc_id) as doc_id", "tokens", "n_tok", "source"
        )
    return t


class TestBloomFilter:
    """functions/bloom.py unit behavior: never a false negative,
    FPR near design, conservative on anything malformed."""

    def test_no_false_negatives_str(self):
        from mojap_arrow_pd_parser_spark.functions import bloom

        keys = [f"doc_{i:05d}" for i in range(5000)]
        b = bloom.build_bloom(keys, "str")
        assert b is not None
        for probe in keys[::97]:
            h1, h2 = bloom.probe_hashes([probe], "str")
            assert bloom.maybe_contains_any(b, h1, h2)

    def test_no_false_negatives_int(self):
        from mojap_arrow_pd_parser_spark.functions import bloom

        keys = list(range(0, 300000, 7))[:4000]
        b = bloom.build_bloom(keys, "int")
        for probe in keys[::131]:
            h1, h2 = bloom.probe_hashes([probe], "int")
            assert bloom.maybe_contains_any(b, h1, h2)

    def test_fpr_near_design(self):
        from mojap_arrow_pd_parser_spark.functions import bloom

        rng = np.random.default_rng(7)
        keys = rng.choice(10**9, size=8000, replace=False)
        b = bloom.build_bloom([int(k) for k in keys], "int")
        absent = [int(v) + 10**9 for v in rng.choice(10**9, size=4000)]
        h1, h2 = bloom.probe_hashes(absent, "int")
        fp = sum(
            bloom.maybe_contains_any(b, h1[j : j + 1], h2[j : j + 1])
            for j in range(len(absent))
        )
        # design ~1% at 10 bits/key k=7; power-of-2 sizing can only lower it
        assert fp / len(absent) < 0.03

    def test_arrow_build_matches_python_probe(self):
        import pyarrow as pa

        from mojap_arrow_pd_parser_spark.functions import bloom

        arr = pa.array([f"k{i}" for i in range(1000)] + [None])
        b = bloom.bloom_from_arrow(arr)
        h1, h2 = bloom.probe_hashes(["k500"], "str")
        assert bloom.maybe_contains_any(b, h1, h2)
        arr_i = pa.array(list(range(1000)), type=pa.int32())
        b_i = bloom.bloom_from_arrow(arr_i)
        h1, h2 = bloom.probe_hashes([999], "int")
        assert bloom.maybe_contains_any(b_i, h1, h2)
        h1, h2 = bloom.probe_hashes([10**7], "int")
        # a single absent probe is overwhelmingly likely pruned
        assert not bloom.maybe_contains_any(b_i, h1, h2)

    def test_unsupported_and_empty_and_saturated(self):
        import pyarrow as pa

        from mojap_arrow_pd_parser_spark.functions import bloom

        assert bloom.bloom_from_arrow(pa.array([1.5, 2.5])) is None
        assert bloom.bloom_from_arrow(pa.array([], type=pa.string())) is None
        assert bloom.bloom_from_arrow(pa.array([None], type=pa.string())) is None
        # > cap/bits_per_key keys -> no filter rather than a saturated one
        too_many = bloom.build_bloom(list(range(200_001)), "int")
        assert too_many is None

    def test_malformed_filter_is_conservative(self):
        from mojap_arrow_pd_parser_spark.functions import bloom

        h1, h2 = bloom.probe_hashes(["x"], "str")
        assert bloom.maybe_contains_any(None, h1, h2)
        assert bloom.maybe_contains_any({}, h1, h2)
        assert bloom.maybe_contains_any({"m": 100, "k": 7, "b64": "xx"}, h1, h2)
        assert bloom.maybe_contains_any({"m": "bad", "k": 7, "b64": ""}, h1, h2)


class TestKeyInDecode:
    """decode_table(key_in=...): exact point-lookup semantics plus
    actual chunk-file pruning via zone map + bloom."""

    def test_key_in_exact_rows(self, spark, tmp_path):
        from mojap_arrow_pd_parser_spark.operators.decode import decode_table
        from mojap_arrow_pd_parser_spark.operators.encode import encode_table

        out = str(tmp_path / "enc")
        src = _tbl(spark, 1500, 3)
        encode_table(spark, src, out, key="doc_id", n_chunks=6)
        probes = [r.doc_id for r in src.limit(7).collect()] + ["absent!", None]
        got = decode_table(spark, out, key_in=probes)
        exp = src.filter(F.col("doc_id").isin([p for p in probes if p]))
        assert got.count() == exp.count() == 7
        assert "doc_id" in got.columns

    def test_key_in_prunes_overlapping_generations(self, spark, tmp_path):
        """Appended generations share the key grid — interleaved key
        sets make every generation's zone maps overlap, so the bloom
        is what prunes. A single-key probe must touch far fewer chunk
        files than live."""
        from mojap_arrow_pd_parser_spark.operators.decode import (
            _live_pruned_files, load_plan,
        )
        from mojap_arrow_pd_parser_spark.operators.encode import (
            encode_append, encode_table, live_chunks, scan_sidecars,
        )

        out = str(tmp_path / "enc")
        full = _tbl(spark, 1600, 1)
        parity = "cast(substring(doc_id, 5, 12) as bigint) % 2"
        even, odd = full.filter(f"{parity} = 0"), full.filter(f"{parity} = 1")
        encode_table(spark, even, out, key="doc_id", n_chunks=8)
        encode_append(spark, odd, out, generation=1)
        plan = load_plan(out)
        n_live = len(live_chunks(scan_sidecars(out)))
        assert n_live >= 16
        probe = odd.limit(1).collect()[0].doc_id
        kept = _live_pruned_files(spark, out, plan, None, None, key_in=[probe])
        # min-max alone keeps one chunk PER GENERATION (ranges fully
        # interleave); the bloom must cut the generation that does not
        # hold the key
        assert 1 <= len(kept) <= 2
        # and the decode over the pruned set still answers exactly
        from mojap_arrow_pd_parser_spark.operators.decode import decode_table

        assert decode_table(spark, out, key_in=[probe]).count() == 1

    def test_key_in_empty_result_schema_stable(self, spark, tmp_path):
        from mojap_arrow_pd_parser_spark.operators.decode import decode_table
        from mojap_arrow_pd_parser_spark.operators.encode import encode_table

        out = str(tmp_path / "enc")
        encode_table(spark, _tbl(spark, 200, 5), out, key="doc_id", n_chunks=2)
        full = decode_table(spark, out)
        empty = decode_table(
            spark, out, columns=["n_tok", "source"], key_in=["no_such_key"]
        )
        assert empty.count() == 0
        assert empty.columns == ["n_tok", "source"]
        assert full.count() == 200


class TestWheresConjunction:
    def test_list_of_predicates_is_conjunction(self, spark, tmp_path):
        from mojap_arrow_pd_parser_spark.operators.decode import decode_table
        from mojap_arrow_pd_parser_spark.operators.encode import encode_table

        out = str(tmp_path / "enc")
        src = _tbl(spark, 1200, 9)
        encode_table(spark, src, out, key="doc_id", n_chunks=6)
        got = decode_table(
            spark, out, where=[("n_tok", 50, 400), ("source", "common_crawl", "github")]
        )
        exp = src.filter(
            "n_tok between 50 and 400 and source between 'common_crawl' and 'github'"
        )
        assert got.count() == exp.count()
        assert sorted(got.columns) == sorted(src.columns)

    def test_single_tuple_still_accepted(self, spark, tmp_path):
        from mojap_arrow_pd_parser_spark.operators.decode import decode_table
        from mojap_arrow_pd_parser_spark.operators.encode import encode_table

        out = str(tmp_path / "enc")
        src = _tbl(spark, 400, 10)
        encode_table(spark, src, out, key="doc_id", n_chunks=3)
        got = decode_table(spark, out, where=("n_tok", 0, 100))
        assert got.count() == src.filter("n_tok between 0 and 100").count()


class TestSnapshots:
    """Versioned commits, time travel, GC retention, expiry."""

    def _build(self, spark, tmp_path):
        from mojap_arrow_pd_parser_spark.operators.encode import (
            delete_rows, encode_append, encode_table,
        )

        out = str(tmp_path / "enc")
        a = _tbl(spark, 700, 1)
        encode_table(spark, a, out, key="doc_id", n_chunks=4, track_snapshots=True)
        b = _tbl(spark, 300, 2, prefix="B")
        encode_append(spark, b, out, generation=1)
        delete_rows(spark, out, where=("n_tok", 0, 60))
        return out, a, b

    def test_versions_accrue_per_verb(self, spark, tmp_path):
        from mojap_arrow_pd_parser_spark.operators import snapshots as snaps

        out, _a, _b = self._build(spark, tmp_path)
        got = snaps.list_snapshots(out)
        assert [m["version"] for m in got] == [1, 2, 3]
        assert [m["verb"] for m in got] == ["encode", "append", "delete"]

    def test_as_of_reproduces_history(self, spark, tmp_path):
        from mojap_arrow_pd_parser_spark.operators.decode import decode_table

        out, a, b = self._build(spark, tmp_path)
        assert decode_table(spark, out, as_of=1).count() == 700
        assert decode_table(spark, out, as_of=2).count() == 1000
        v2 = decode_table(spark, out, as_of=2)
        exp = a.unionAll(b)
        assert (
            v2.select("doc_id", "n_tok").exceptAll(exp.select("doc_id", "n_tok")).count()
            == 0
        )
        n_live = decode_table(spark, out).count()
        assert decode_table(spark, out, as_of=3).count() == n_live

    def test_as_of_with_pruning(self, spark, tmp_path):
        from mojap_arrow_pd_parser_spark.operators.decode import decode_table

        out, a, _b = self._build(spark, tmp_path)
        got = decode_table(spark, out, as_of=1, where=("n_tok", 0, 60))
        assert got.count() == a.filter("n_tok between 0 and 60").count()

    def test_gc_honors_retention_then_expiry_frees(self, spark, tmp_path):
        from mojap_arrow_pd_parser_spark.operators import snapshots as snaps
        from mojap_arrow_pd_parser_spark.operators.decode import decode_table
        from mojap_arrow_pd_parser_spark.operators.encode import gc_superseded

        out, _a, _b = self._build(spark, tmp_path)
        n_pre = decode_table(spark, out, as_of=2).count()
        assert gc_superseded(out) == 0  # all superseded chunks retained
        assert decode_table(spark, out, as_of=2).count() == n_pre
        expired = snaps.expire_snapshots(out, keep_last=1)
        assert expired == [1, 2]
        assert gc_superseded(out) > 0
        live = decode_table(spark, out)
        assert live.filter("n_tok between 0 and 60").count() == 0
        with pytest.raises(ValueError, match="not found"):
            decode_table(spark, out, as_of=2).count()

    def test_untracked_table_has_no_snapshots(self, spark, tmp_path):
        from mojap_arrow_pd_parser_spark.operators import snapshots as snaps
        from mojap_arrow_pd_parser_spark.operators.decode import decode_table
        from mojap_arrow_pd_parser_spark.operators.encode import encode_table

        out = str(tmp_path / "enc")
        encode_table(spark, _tbl(spark, 200, 4), out, key="doc_id", n_chunks=2)
        assert snaps.list_snapshots(out) == []
        assert not snaps.tracking_enabled(out)
        with pytest.raises(ValueError, match="does not track"):
            decode_table(spark, out, as_of=1).count()

    def test_crashed_snapshot_write_is_ignored_and_skipped(self, spark, tmp_path):
        from mojap_arrow_pd_parser_spark.operators import snapshots as snaps
        from mojap_arrow_pd_parser_spark.operators.encode import (
            delete_rows, encode_table,
        )

        out = str(tmp_path / "enc")
        encode_table(
            spark, _tbl(spark, 300, 6), out, key="doc_id", n_chunks=2,
            track_snapshots=True,
        )
        # simulate a crash: data dir exists, marker never committed
        import pathlib

        (pathlib.Path(out) / "_snapshots" / "v000002").mkdir()
        assert [m["version"] for m in snaps.list_snapshots(out)] == [1]
        delete_rows(spark, out, where=("n_tok", 0, 10))
        # next commit allocates PAST the orphan dir
        assert [m["version"] for m in snaps.list_snapshots(out)] == [1, 3]

    def test_expire_keep_last_validation(self, tmp_path):
        from mojap_arrow_pd_parser_spark.operators import snapshots as snaps

        with pytest.raises(ValueError, match="keep_last"):
            snaps.expire_snapshots(str(tmp_path), keep_last=0)


class TestTableChanges:
    """Incremental/CDC reads between snapshots: only membership-diff
    chunks decode; rows merely MOVED by a rewrite cancel out."""

    def test_append_yields_pure_inserts(self, spark, tmp_path):
        from mojap_arrow_pd_parser_spark.operators import snapshots as snaps
        from mojap_arrow_pd_parser_spark.operators.encode import (
            encode_append, encode_table,
        )

        out = str(tmp_path / "enc")
        encode_table(
            spark, _tbl(spark, 500, 1), out, key="doc_id", n_chunks=4,
            track_snapshots=True,
        )
        b = _tbl(spark, 200, 2, prefix="B")
        encode_append(spark, b, out, generation=1)
        ch = snaps.table_changes(spark, out, 1, 2)
        assert ch.filter("_change = 'delete'").count() == 0
        ins = ch.filter("_change = 'insert'").drop("_change")
        assert ins.count() == 200
        assert ins.select("doc_id").exceptAll(b.select("doc_id")).count() == 0

    def test_delete_yields_pure_deletes_with_rewrite_cancellation(
        self, spark, tmp_path
    ):
        from mojap_arrow_pd_parser_spark.operators import snapshots as snaps
        from mojap_arrow_pd_parser_spark.operators.encode import (
            delete_rows, encode_table,
        )

        out = str(tmp_path / "enc")
        src = _tbl(spark, 600, 3)
        encode_table(
            spark, src, out, key="doc_id", n_chunks=4, track_snapshots=True
        )
        delete_rows(spark, out, where=("n_tok", 50, 300))
        ch = snaps.table_changes(spark, out, 1, 2)
        # survivors in the rewritten chunks moved files but must cancel
        assert ch.filter("_change = 'insert'").count() == 0
        dels = ch.filter("_change = 'delete'")
        assert dels.count() == src.filter("n_tok between 50 and 300").count()

    def test_upsert_shows_delete_insert_pairs(self, spark, tmp_path):
        from mojap_arrow_pd_parser_spark.operators import snapshots as snaps
        from mojap_arrow_pd_parser_spark.operators.encode import (
            encode_table, upsert_rows,
        )

        out = str(tmp_path / "enc")
        src = _tbl(spark, 300, 4)
        encode_table(
            spark, src, out, key="doc_id", n_chunks=3, track_snapshots=True
        )
        upd = (
            src.orderBy("doc_id").limit(10)
            .withColumn("n_tok", F.col("n_tok") + 1)
        )
        new = _tbl(spark, 5, 5, prefix="NEW")
        upsert_rows(spark, upd.unionAll(new), out, generation=1)
        ch = snaps.table_changes(spark, out, 1, 2)
        assert ch.filter("_change = 'insert'").count() == 15
        dels = ch.filter("_change = 'delete'")
        assert dels.count() == 10  # old payloads of the updated keys
        assert (
            dels.select("doc_id")
            .exceptAll(upd.select("doc_id"))
            .count() == 0
        )

    def test_compaction_is_invisible(self, spark, tmp_path):
        from mojap_arrow_pd_parser_spark.operators import snapshots as snaps
        from mojap_arrow_pd_parser_spark.operators.encode import (
            compact_chunks, encode_table,
        )

        out = str(tmp_path / "enc")
        encode_table(
            spark, _tbl(spark, 400, 6), out, key="doc_id", n_chunks=8,
            track_snapshots=True,
        )
        compact_chunks(spark, out, min_rows=10**9, gc=False)
        versions = [m["version"] for m in snaps.list_snapshots(out)]
        assert len(versions) == 2
        ch = snaps.table_changes(spark, out, versions[0], versions[1])
        assert ch.count() == 0

    def test_bad_version_args_raise(self, spark, tmp_path):
        from mojap_arrow_pd_parser_spark.operators import snapshots as snaps
        from mojap_arrow_pd_parser_spark.operators.encode import encode_table

        out = str(tmp_path / "enc")
        encode_table(
            spark, _tbl(spark, 100, 7), out, key="doc_id", n_chunks=1,
            track_snapshots=True,
        )
        with pytest.raises(ValueError, match="from_version"):
            snaps.table_changes(spark, out, 1, 1)
        with pytest.raises(ValueError, match="not found"):
            snaps.table_changes(spark, out, 1, 9)


class TestTableStats:
    def test_exact_stats_match_data(self, spark, tmp_path):
        from mojap_arrow_pd_parser_spark.operators.decode import table_stats
        from mojap_arrow_pd_parser_spark.operators.encode import encode_table

        out = str(tmp_path / "enc")
        src = _tbl(spark, 900, 21)
        encode_table(spark, src, out, key="doc_id", n_chunks=5)
        st = table_stats(spark, out)
        row = src.agg(
            F.count("*"), F.min("n_tok"), F.max("n_tok"),
            F.min("doc_id"), F.max("doc_id"), F.min("source"), F.max("source"),
        ).collect()[0]
        assert st["n_rows"] == row[0]
        assert st["n_chunks"] == 5
        nt = st["columns"]["n_tok"]
        assert (nt["min"], nt["max"], nt["exact"]) == (row[1], row[2], True)
        di = st["columns"]["doc_id"]
        assert (di["min"], di["max"], di["exact"]) == (row[3], row[4], True)
        so = st["columns"]["source"]
        assert (so["min"], so["max"], so["exact"]) == (row[5], row[6], True)
        # array column: no min/max stats, marked inexact, still listed
        assert st["columns"]["tokens"]["exact"] is False

    def test_stats_track_lifecycle(self, spark, tmp_path):
        from mojap_arrow_pd_parser_spark.operators.decode import (
            decode_table, table_stats,
        )
        from mojap_arrow_pd_parser_spark.operators.encode import (
            delete_rows, encode_append, encode_table,
        )

        out = str(tmp_path / "enc")
        encode_table(spark, _tbl(spark, 500, 22), out, key="doc_id", n_chunks=3)
        encode_append(spark, _tbl(spark, 250, 23, prefix="B"), out, generation=1)
        delete_rows(spark, out, where=("n_tok", 0, 100))
        st = table_stats(spark, out, columns=["n_tok"])
        live = decode_table(spark, out)
        row = live.agg(F.count("*"), F.min("n_tok"), F.max("n_tok")).collect()[0]
        assert st["n_rows"] == row[0]
        nt = st["columns"]["n_tok"]
        # post-delete rewritten chunks re-record exact stats
        assert (nt["min"], nt["max"], nt["exact"]) == (row[1], row[2], True)

    def test_unknown_column_raises(self, spark, tmp_path):
        from mojap_arrow_pd_parser_spark.operators.decode import table_stats
        from mojap_arrow_pd_parser_spark.operators.encode import encode_table

        out = str(tmp_path / "enc")
        encode_table(spark, _tbl(spark, 100, 24), out, key="doc_id", n_chunks=1)
        with pytest.raises(KeyError, match="nope"):
            table_stats(spark, out, columns=["nope"])

    def test_serial_and_none_spark_agree(self, spark, tmp_path):
        from mojap_arrow_pd_parser_spark.operators.decode import table_stats
        from mojap_arrow_pd_parser_spark.operators.encode import encode_table

        out = str(tmp_path / "enc")
        encode_table(spark, _tbl(spark, 300, 25), out, key="doc_id", n_chunks=4)
        a = table_stats(spark, out)
        b = table_stats(None, out)
        assert a == b


class TestDistributedPaths:
    """Snapshot + stats + key_in semantics on a tracked table after a
    delete. (These once forced a distributed sidecar-scan branch; the
    same assertions now run on the one manifest path.)"""

    def test_snapshot_write_and_read_distributed(self, spark, tmp_path):
        from mojap_arrow_pd_parser_spark.operators import snapshots as snaps
        from mojap_arrow_pd_parser_spark.operators.decode import decode_table
        from mojap_arrow_pd_parser_spark.operators.encode import (
            delete_rows, encode_table,
        )

        out = str(tmp_path / "enc")
        encode_table(
            spark, _tbl(spark, 400, 31), out, key="doc_id", n_chunks=4,
            track_snapshots=True,
        )
        delete_rows(spark, out, where=("n_tok", 0, 50))
        assert [m["version"] for m in snaps.list_snapshots(out)] == [1, 2]
        assert decode_table(spark, out, as_of=1).count() == 400

    def test_stats_and_key_in_distributed(self, spark, tmp_path):
        from mojap_arrow_pd_parser_spark.operators.decode import (
            decode_table, table_stats,
        )
        from mojap_arrow_pd_parser_spark.operators.encode import encode_table

        out = str(tmp_path / "enc")
        src = _tbl(spark, 400, 32)
        encode_table(spark, src, out, key="doc_id", n_chunks=4)
        st = table_stats(spark, out)
        row = src.agg(F.count("*"), F.min("n_tok"), F.max("n_tok")).collect()[0]
        assert st["n_rows"] == row[0]
        nt = st["columns"]["n_tok"]
        assert (nt["min"], nt["max"], nt["exact"]) == (row[1], row[2], True)
        assert (nt["nulls"], nt["nulls_exact"]) == (0, True)
        k = src.limit(1).collect()[0].doc_id
        assert decode_table(spark, out, key_in=[k]).count() == 1


class TestNullAccounting:
    """Per-chunk col_nulls: exact NULL counts in table_stats and
    IS [NOT] NULL chunk pruning — sharpest on schema-evolved tables
    where pre-evolution chunks are all-null for the added column."""

    def _evolved(self, spark, tmp_path):
        from mojap_arrow_pd_parser_spark.operators.encode import (
            encode_append, encode_table,
        )

        out = str(tmp_path / "enc")
        base = _tbl(spark, 400, 51)
        encode_table(spark, base, out, key="doc_id", n_chunks=4)
        b = _tbl(spark, 200, 52, prefix="B").selectExpr(
            "doc_id", "tokens", "n_tok", "source",
            "CAST(n_tok AS DOUBLE) / 3 AS quality",
        )
        encode_append(spark, b, out, generation=1, allow_schema_evolution=True)
        return out

    def test_stats_null_counts_exact(self, spark, tmp_path):
        from mojap_arrow_pd_parser_spark.operators.decode import table_stats

        out = self._evolved(spark, tmp_path)
        st = table_stats(spark, out, columns=["quality", "n_tok"])
        q = st["columns"]["quality"]
        assert (q["nulls"], q["nulls_exact"]) == (400, True)
        nt = st["columns"]["n_tok"]
        assert (nt["nulls"], nt["nulls_exact"]) == (0, True)

    def test_where_null_prunes_to_pre_evolution_chunks(self, spark, tmp_path):
        from mojap_arrow_pd_parser_spark.operators.decode import (
            _live_pruned_files, decode_table, load_plan,
        )
        from mojap_arrow_pd_parser_spark.operators.encode import (
            live_chunks, scan_sidecars,
        )

        out = self._evolved(spark, tmp_path)
        n_live = len(live_chunks(scan_sidecars(out)))
        plan = load_plan(out)
        kept = _live_pruned_files(
            None, out, plan, None, [], where_null=["quality"]
        )
        assert len(kept) == 4  # only the pre-evolution chunks scan
        assert n_live > 4
        assert decode_table(spark, out, where_null=["quality"]).count() == 400
        got = decode_table(spark, out, where_not_null=["quality"])
        assert got.count() == 200
        kept_nn = _live_pruned_files(
            None, out, plan, None, [], where_not_null=["quality"]
        )
        assert len(kept_nn) == n_live - 4  # all-null chunks pruned

    def test_columns_projection_with_null_filter(self, spark, tmp_path):
        from mojap_arrow_pd_parser_spark.operators.decode import decode_table

        out = self._evolved(spark, tmp_path)
        got = decode_table(
            spark, out, columns=["doc_id"], where_not_null=["quality"]
        )
        assert got.columns == ["doc_id"]
        assert got.count() == 200

    def test_serial_and_distributed_stats_agree(self, spark, tmp_path):
        """Stats of an evolved table match its decoded rows, with or
        without a session."""
        from mojap_arrow_pd_parser_spark.operators.decode import (
            decode_table, table_stats,
        )

        out = self._evolved(spark, tmp_path)
        st = table_stats(spark, out, columns=["quality"])
        assert st == table_stats(None, out, columns=["quality"])
        row = decode_table(spark, out).agg(
            F.min("quality"), F.max("quality"), F.count("*")
        ).collect()[0]
        q = st["columns"]["quality"]
        assert (q["min"], q["max"]) == (row[0], row[1])
        assert st["n_rows"] == row[2] == 600

    def test_datasource_is_null_pushdown(self, spark, tmp_path):
        from mojap_arrow_pd_parser_spark.sources import datasource
        from mojap_arrow_pd_parser_spark.sources.datasource import (
            EncodedTableReader,
        )
        from pyspark.sql.datasource import IsNull
        from mojap_arrow_pd_parser_spark.operators.decode import decode_table

        out = self._evolved(spark, tmp_path)
        datasource.register(spark)
        spark.sql(
            "CREATE OR REPLACE TEMPORARY VIEW nulls_enc "
            f"USING mojap_encoded OPTIONS (path '{out}')"
        )
        n = spark.sql(
            "SELECT count(*) AS n FROM nulls_enc WHERE quality IS NULL"
        ).collect()[0].n
        assert n == 400
        schema = decode_table(spark, out).schema
        r = EncodedTableReader({"path": out}, schema)
        r.pushFilters([IsNull(("quality",))])
        assert len(r.partitions()) == 4


class TestSnapshotTags:
    """Named snapshot refs (Iceberg tags): as_of by name, expiry
    protection, the release-pinning workflow."""

    def _table(self, spark, tmp_path):
        from mojap_arrow_pd_parser_spark.operators.encode import (
            delete_rows, encode_append, encode_table,
        )

        out = str(tmp_path / "enc")
        encode_table(
            spark, _tbl(spark, 300, 61), out, key="doc_id", n_chunks=3,
            track_snapshots=True,
        )
        encode_append(spark, _tbl(spark, 100, 62, prefix="B"), out, generation=1)
        delete_rows(spark, out, where=("n_tok", 0, 80))
        return out

    def test_tag_resolves_in_reads(self, spark, tmp_path):
        from mojap_arrow_pd_parser_spark.operators import snapshots as snaps
        from mojap_arrow_pd_parser_spark.operators.decode import decode_table

        out = self._table(spark, tmp_path)
        assert snaps.tag(out, "prod", 2) == 2
        assert snaps.tag(out, "latest") == 3  # default: newest
        assert decode_table(spark, out, as_of="prod").count() == 400
        got_t = decode_table(spark, out, as_of="latest").count()
        assert got_t == decode_table(spark, out).count()
        ch = snaps.table_changes(spark, out, "prod", "latest")
        assert ch.filter("_change = 'delete'").count() > 0
        with pytest.raises(ValueError, match="no snapshot tag"):
            decode_table(spark, out, as_of="nope").count()

    def test_tagged_version_survives_expiry(self, spark, tmp_path):
        from mojap_arrow_pd_parser_spark.operators import snapshots as snaps
        from mojap_arrow_pd_parser_spark.operators.decode import decode_table
        from mojap_arrow_pd_parser_spark.operators.encode import gc_superseded

        out = self._table(spark, tmp_path)
        snaps.tag(out, "prod", 1)
        expired = snaps.expire_snapshots(out, keep_last=1)
        assert expired == [2]  # v1 pinned by the tag, v3 kept by count
        gc_superseded(out)
        assert decode_table(spark, out, as_of="prod").count() == 300
        snaps.untag(out, "prod")
        assert snaps.expire_snapshots(out, keep_last=1) == [1]

    def test_tag_validation(self, spark, tmp_path):
        from mojap_arrow_pd_parser_spark.operators import snapshots as snaps
        from mojap_arrow_pd_parser_spark.operators.encode import encode_table

        out = str(tmp_path / "enc")
        with pytest.raises(ValueError, match="no snapshots"):
            snaps.tag(out, "x")
        encode_table(
            spark, _tbl(spark, 50, 63), out, n_chunks=1, track_snapshots=True
        )
        with pytest.raises(ValueError, match="not found"):
            snaps.tag(out, "x", 9)

    def test_datasource_as_of_tag(self, spark, tmp_path):
        from mojap_arrow_pd_parser_spark.operators import snapshots as snaps
        from mojap_arrow_pd_parser_spark.sources import datasource

        out = self._table(spark, tmp_path)
        snaps.tag(out, "prod", 2)
        datasource.register(spark)
        got = (
            spark.read.format("mojap_encoded")
            .option("as_of", "prod").load(out)
        )
        assert got.count() == 400

    def test_markers_carry_timestamps(self, spark, tmp_path):
        from mojap_arrow_pd_parser_spark.operators import snapshots as snaps
        from mojap_arrow_pd_parser_spark.sources import fsio

        out = self._table(spark, tmp_path)
        for m in snaps.list_snapshots(out):
            raw = fsio.read_json(
                fsio.join(out, "_snapshots", f"v{m['version']:06d}.json")
            )
            assert raw.get("ts", 0) > 0
