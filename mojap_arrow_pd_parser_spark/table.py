"""EncodedTable — one handle over an encoded table's whole verb set.

Thin, stateless delegation: every method maps 1:1 onto the operator
functions (operators/encode.py, operators/decode.py,
operators/snapshots.py, sources/datasource.py), so the facade adds a
discoverable API without a second code path to keep correct. The
reference exposes exactly this shape at file level (`reader.read` /
`writer.write` facade objects, /root/reference/arrow_pd_parser/
__init__.py); this is the table-level generalization.

    t = EncodedTable.create(spark, df, "/data/tokens", key="doc_id",
                            n_chunks=4096, track_snapshots=True)
    t.append(batch, generation=1)
    t.delete([("n_tok", 0, 10), ("source", "spam", "spam")])
    t.upsert(cdc_batch, generation=2)
    t.read(where=[("n_tok", 100, 200)])        # pruned decode
    t.as_of(1)                                  # time travel
    t.changes(1, 2)                             # incremental read
    t.stats(["n_tok"])                          # manifest-only
    t.sql_view("tokens")                        # SQL via DataSource
    t.recluster(["n_tok", "source"])            # OPTIMIZE ZORDER BY
    t.expire_snapshots(keep_last=3); t.gc()
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame, SparkSession

from .sources import fsio


class EncodedTable:
    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path

    # -- lifecycle ---------------------------------------------------
    @classmethod
    def create(
        cls,
        spark: SparkSession,
        df: DataFrame,
        path: str,
        key: str = "doc_id",
        n_chunks: int = 64,
        **kw,
    ) -> "EncodedTable":
        """Encode ``df`` into a new table at ``path`` (see
        :func:`operators.encode.encode_table` for every keyword —
        ``track_snapshots``, ``cluster_by``, ``partition_col``, ...)."""
        from .operators.encode import encode_table

        encode_table(spark, df, path, key=key, n_chunks=n_chunks, **kw)
        return cls(spark, path)

    @property
    def exists(self) -> bool:
        return fsio.exists(fsio.join(self.path, "plan.json"))

    @property
    def plan(self) -> dict:
        from .operators.decode import load_plan

        return load_plan(self.path)

    @property
    def schema(self):
        from pyspark.sql.types import StructType

        return StructType.fromJson(json.loads(self.plan["schema_json"]))

    # -- reads -------------------------------------------------------
    def read(self, **kw) -> DataFrame:
        """Pruned lazy decode (columns/where/key_in/key_range/as_of/
        where_null/where_not_null — :func:`operators.decode
        .decode_table`)."""
        from .operators.decode import decode_table

        return decode_table(self.spark, self.path, **kw)

    def as_of(self, version: int, **kw) -> DataFrame:
        return self.read(as_of=version, **kw)

    def changes(self, from_version: int, to_version: int, **kw) -> DataFrame:
        from .operators.snapshots import table_changes

        return table_changes(
            self.spark, self.path, from_version, to_version, **kw
        )

    def stats(self, columns: list[str] | None = None) -> dict:
        from .operators.decode import table_stats

        return table_stats(self.spark, self.path, columns=columns)

    def verify(self, src: DataFrame) -> dict:
        from .operators.decode import verify_roundtrip

        return verify_roundtrip(self.spark, src, self.path)

    def sql_view(self, name: str) -> None:
        """Register the table as a SQL temp view through the
        ``mojap_encoded`` DataSource (filter pushdown included)."""
        from .sources import datasource

        datasource.register(self.spark)
        self.spark.sql(
            f"CREATE OR REPLACE TEMPORARY VIEW {name} "
            f"USING {datasource.FORMAT_NAME} OPTIONS (path '{self.path}')"
        )

    # -- writes ------------------------------------------------------
    def append(self, df: DataFrame, generation: int, **kw) -> DataFrame:
        from .operators.encode import encode_append

        return encode_append(self.spark, df, self.path, generation, **kw)

    def delete(self, where, **kw) -> DataFrame:
        from .operators.encode import delete_rows

        return delete_rows(self.spark, self.path, where, **kw)

    def upsert(self, df: DataFrame, generation: int, **kw) -> DataFrame:
        from .operators.encode import upsert_rows

        return upsert_rows(self.spark, df, self.path, generation, **kw)

    # -- maintenance -------------------------------------------------
    def compact(self, **kw) -> DataFrame:
        from .operators.encode import compact_chunks

        return compact_chunks(self.spark, self.path, **kw)

    def recluster(self, cluster_by: list[str], **kw) -> DataFrame:
        from .operators.encode import rewrite_clustered

        return rewrite_clustered(self.spark, self.path, cluster_by, **kw)

    def gc(self) -> int:
        from .operators.encode import gc_superseded

        return gc_superseded(self.path)

    def snapshots(self) -> list[dict]:
        from .operators.snapshots import list_snapshots

        return list_snapshots(self.path)

    def expire_snapshots(self, keep_last: int = 1) -> list[int]:
        from .operators.snapshots import expire_snapshots

        return expire_snapshots(self.path, keep_last=keep_last)

    def __repr__(self) -> str:
        return f"EncodedTable({self.path!r})"
