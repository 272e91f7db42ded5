"""Z-order clustered encode (plans/chunking.make_zorder_plan): chunk
membership follows the Morton interleave of quantile ranks, so EVERY
cluster column gets a usable per-chunk zone map — multi-dimensional
pruning from the same one-shuffle encode."""

import numpy as np
import pytest

from pyspark.sql import functions as F


def _tbl(spark, n, seed=1):
    from mojap_arrow_pd_parser_spark.datagen import tokens_table

    return tokens_table(spark, n, seed=seed)


class TestMortonInterleave:
    def test_bit_positions(self):
        from mojap_arrow_pd_parser_spark.plans.chunking import _interleave_ranks

        a = np.array([0b11], dtype=np.uint64)
        b = np.array([0b01], dtype=np.uint64)
        z = _interleave_ranks([a, b], bits_per_col=2)
        # a bits at even positions (0, 2), b bits at odd (1, 3):
        # a=11, b=01 -> z = 0b0111
        assert int(z[0]) == 0b0111

    def test_locality(self):
        """Points close in BOTH dims get closer z than points close in
        only one — the property pruning rides on."""
        from mojap_arrow_pd_parser_spark.plans.chunking import _interleave_ranks

        def z(a, b):
            return int(_interleave_ranks(
                [np.array([a], dtype=np.uint64), np.array([b], dtype=np.uint64)],
                bits_per_col=8,
            )[0])

        assert abs(z(10, 10) - z(11, 11)) < abs(z(10, 10) - z(200, 10))

    def test_plan_validation(self, spark):
        from mojap_arrow_pd_parser_spark.plans.chunking import make_zorder_plan

        df = _tbl(spark, 50)
        with pytest.raises(ValueError, match="cluster_by"):
            make_zorder_plan(df, "doc_id", [], 4)
        with pytest.raises(KeyError, match="nope"):
            make_zorder_plan(df, "doc_id", ["nope"], 4)
        with pytest.raises(ValueError, match="bits_per_col"):
            make_zorder_plan(df, "doc_id", ["n_tok"], 4, bits_per_col=0)


class TestZorderEncode:
    def _encode(self, spark, tmp_path, n=2000, n_chunks=16):
        from mojap_arrow_pd_parser_spark.operators.encode import encode_table

        out = str(tmp_path / "enc")
        src = _tbl(spark, n)
        encode_table(
            spark, src, out, key="doc_id", n_chunks=n_chunks,
            cluster_by=["n_tok", "source"],
        )
        return out, src

    def test_roundtrip_exact(self, spark, tmp_path):
        from mojap_arrow_pd_parser_spark.operators.decode import verify_roundtrip

        out, src = self._encode(spark, tmp_path)
        assert verify_roundtrip(spark, src, out)["mismatches"] == 0

    def test_prunes_on_both_columns(self, spark, tmp_path):
        """A selective predicate on EITHER cluster column must prune
        chunks; a single-key range plan can only prune on its key."""
        from mojap_arrow_pd_parser_spark.operators.decode import (
            _live_pruned_files, load_plan,
        )
        from mojap_arrow_pd_parser_spark.operators.encode import (
            live_chunks, scan_sidecars,
        )

        out, src = self._encode(spark, tmp_path)
        plan = load_plan(out)
        n_live = len(live_chunks(scan_sidecars(out)))
        assert n_live >= 8
        lo, hi = 0, 30  # narrow n_tok slice
        kept_n = _live_pruned_files(None, out, plan, None, [("n_tok", lo, hi)])
        assert len(kept_n) < n_live / 2
        kept_s = _live_pruned_files(
            None, out, plan, None, [("source", "wikipedia", "wikipedia")]
        )
        assert len(kept_s) < n_live
        # conjunction prunes at least as hard as either alone
        kept_both = _live_pruned_files(
            None, out, plan, None,
            [("n_tok", lo, hi), ("source", "wikipedia", "wikipedia")],
        )
        assert len(kept_both) <= min(len(kept_n), len(kept_s))

    def test_where_rows_exact_after_prune(self, spark, tmp_path):
        from mojap_arrow_pd_parser_spark.operators.decode import decode_table

        out, src = self._encode(spark, tmp_path)
        got = decode_table(
            spark, out,
            where=[("n_tok", 0, 30), ("source", "github", "wikipedia")],
        )
        exp = src.filter(
            "n_tok between 0 and 30 and source between 'github' and 'wikipedia'"
        )
        assert got.count() == exp.count()

    def test_resume_is_deterministic(self, spark, tmp_path):
        """Re-running the same encode against the persisted plan skips
        all buckets (chunk identity stable — the N13 contract)."""
        from mojap_arrow_pd_parser_spark.operators.encode import (
            encode_table, live_chunks, scan_sidecars,
        )

        out, src = self._encode(spark, tmp_path, n=800, n_chunks=8)
        before = {
            cid: m["crc32"]
            for cid, m in live_chunks(scan_sidecars(out)).items()
        }
        encode_table(
            spark, src, out, key="doc_id", n_chunks=8,
            cluster_by=["n_tok", "source"],
        )
        after = {
            cid: m["crc32"]
            for cid, m in live_chunks(scan_sidecars(out)).items()
        }
        assert before == after

    def test_mutually_exclusive_with_partition_col(self, spark, tmp_path):
        from mojap_arrow_pd_parser_spark.operators.encode import encode_table

        with pytest.raises(ValueError, match="mutually exclusive"):
            encode_table(
                spark, _tbl(spark, 50), str(tmp_path / "x"),
                n_chunks=2, partition_col="source",
                cluster_by=["n_tok"],
            )


class TestRewriteClustered:
    """OPTIMIZE ZORDER BY on an existing table: atomic re-cluster via
    the staging + commit-marker machinery."""

    def test_recluster_enables_pruning_and_roundtrips(self, spark, tmp_path):
        from mojap_arrow_pd_parser_spark.operators.decode import (
            _live_pruned_files, decode_table, load_plan, verify_roundtrip,
        )
        from mojap_arrow_pd_parser_spark.operators.encode import (
            encode_table, live_chunks, rewrite_clustered, scan_sidecars,
        )

        out = str(tmp_path / "enc")
        src = _tbl(spark, 2000)
        encode_table(spark, src, out, key="doc_id", n_chunks=16)
        plan = load_plan(out)
        before = _live_pruned_files(None, out, plan, None, [("n_tok", 0, 30)])
        rewrite_clustered(spark, out, ["n_tok", "source"], n_chunks=16)
        plan2 = load_plan(out)
        assert plan2["clustered_by"] == ["n_tok", "source"]
        after = _live_pruned_files(None, out, plan2, None, [("n_tok", 0, 30)])
        # doc_id hashes are independent of n_tok, so the range-keyed
        # layout cannot prune an n_tok slice; the re-clustered one must
        assert len(after) < len(before)
        assert len(after) <= len(before) / 2
        assert verify_roundtrip(spark, src, out)["mismatches"] == 0
        n_live = len(live_chunks(scan_sidecars(out)))
        assert n_live <= 16  # old chunks retired atomically

    def test_gc_after_recluster_keeps_table_exact(self, spark, tmp_path):
        from mojap_arrow_pd_parser_spark.operators.decode import verify_roundtrip
        from mojap_arrow_pd_parser_spark.operators.encode import (
            encode_table, gc_superseded, rewrite_clustered,
        )

        out = str(tmp_path / "enc")
        src = _tbl(spark, 600)
        encode_table(spark, src, out, key="doc_id", n_chunks=6)
        rewrite_clustered(spark, out, ["n_tok"], n_chunks=6, gc=True)
        assert gc_superseded(out) == 0  # gc=True already ran
        assert verify_roundtrip(spark, src, out)["mismatches"] == 0

    def test_recluster_is_cdc_invisible(self, spark, tmp_path):
        """A pure re-cluster moves rows without changing them — the
        incremental reader must see ZERO changes across it."""
        from mojap_arrow_pd_parser_spark.operators import snapshots as snaps
        from mojap_arrow_pd_parser_spark.operators.encode import (
            encode_table, rewrite_clustered,
        )

        out = str(tmp_path / "enc")
        encode_table(
            spark, _tbl(spark, 500), out, key="doc_id", n_chunks=4,
            track_snapshots=True,
        )
        rewrite_clustered(spark, out, ["n_tok"], n_chunks=4)
        vs = [m["version"] for m in snaps.list_snapshots(out)]
        assert len(vs) == 2
        assert snaps.table_changes(spark, out, vs[0], vs[1]).count() == 0

    def test_empty_table_raises(self, spark, tmp_path):
        from mojap_arrow_pd_parser_spark.operators.encode import (
            rewrite_clustered,
        )

        with pytest.raises(FileNotFoundError):
            rewrite_clustered(spark, str(tmp_path / "nope"), ["n_tok"])


class TestDeleteConjunction:
    def test_two_column_delete_on_zordered_table(self, spark, tmp_path):
        from mojap_arrow_pd_parser_spark.operators.decode import decode_table
        from mojap_arrow_pd_parser_spark.operators.encode import (
            delete_rows, encode_table,
        )

        out = str(tmp_path / "enc")
        src = _tbl(spark, 1200)
        encode_table(
            spark, src, out, key="doc_id", n_chunks=8,
            cluster_by=["n_tok", "source"],
        )
        preds = [("n_tok", 0, 200), ("source", "github", "github")]
        delete_rows(spark, out, preds)
        live = decode_table(spark, out)
        exp = src.filter(
            "NOT (n_tok between 0 and 200 AND source = 'github')"
        )
        assert live.count() == exp.count()
        assert (
            live.select("doc_id").exceptAll(exp.select("doc_id")).count() == 0
        )

    def test_single_tuple_back_compat(self, spark, tmp_path):
        from mojap_arrow_pd_parser_spark.operators.decode import decode_table
        from mojap_arrow_pd_parser_spark.operators.encode import (
            delete_rows, encode_table,
        )

        out = str(tmp_path / "enc")
        src = _tbl(spark, 300)
        encode_table(spark, src, out, key="doc_id", n_chunks=3)
        delete_rows(spark, out, ("n_tok", 50, 200))
        assert decode_table(spark, out).count() == src.filter(
            "n_tok not between 50 and 200"
        ).count()

    def test_empty_where_raises(self, spark, tmp_path):
        from mojap_arrow_pd_parser_spark.operators.encode import (
            delete_rows, encode_table,
        )

        out = str(tmp_path / "enc")
        encode_table(spark, _tbl(spark, 50), out, n_chunks=1)
        with pytest.raises(ValueError, match="at least one"):
            delete_rows(spark, out, [])
