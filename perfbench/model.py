"""A pyarrow model of an encoded table, built apart from the program.

:class:`TableModel` applies append, upsert and delete the way the
engine documents them, and answers the reads the benchmark issues, so
every output of the engine can be compared with an answer it did not
compute.
"""

from __future__ import annotations

import pyarrow as pa
import pyarrow.compute as pc

from inputs import SCHEMA


def canonical(table: pa.Table) -> pa.Table:
    """``table`` cast to the tokens schema, sorted by ``doc_id``, one chunk."""
    table = table.select(SCHEMA.names).cast(SCHEMA)
    return table.sort_by("doc_id").combine_chunks()


def same_rows(got: pa.Table, want: pa.Table) -> bool:
    return canonical(got).equals(canonical(want))


class TableModel:
    def __init__(self, table: pa.Table, key: str = "doc_id"):
        self.key = key
        self.table = canonical(table)

    def append(self, batch: pa.Table) -> None:
        self.table = canonical(pa.concat_tables([self.table, batch.cast(SCHEMA)]))

    def upsert(self, batch: pa.Table) -> None:
        """Rows of ``batch`` replace stored rows with the same key; new keys insert."""
        keep = pc.invert(pc.is_in(self.table.column(self.key), batch.column(self.key)))
        self.table = canonical(
            pa.concat_tables([self.table.filter(keep), batch.cast(SCHEMA)])
        )

    def _between(self, col: str, lo, hi) -> pa.ChunkedArray:
        c = self.table.column(col)
        # NULLs never match (SQL semantics): fill the mask's nulls with False
        return pc.fill_null(
            pc.and_(pc.greater_equal(c, lo), pc.less_equal(c, hi)), False
        )

    def delete(self, col: str, lo, hi) -> int:
        """Remove rows with ``col BETWEEN lo AND hi``; returns how many."""
        mask = self._between(col, lo, hi)
        n = pc.sum(mask).as_py() or 0
        self.table = self.table.filter(pc.invert(mask))
        return n

    def where(self, col: str, lo, hi) -> pa.Table:
        return self.table.filter(self._between(col, lo, hi))

    def key_in(self, keys: list) -> pa.Table:
        return self.table.filter(pc.is_in(self.table.column(self.key), pa.array(keys)))

    def stats(self, columns: list[str]) -> dict:
        out = {"n_rows": self.table.num_rows, "columns": {}}
        for col in columns:
            mm = pc.min_max(self.table.column(col))
            out["columns"][col] = {"min": mm["min"].as_py(), "max": mm["max"].as_py()}
        return out
