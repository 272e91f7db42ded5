"""The verbs model the table_verbs workload checks the engine against."""

import pyarrow as pa
import pytest

import inputs
from model import TableModel, canonical, same_rows


def _table(ids, lens, source="books"):
    toks = [list(range(n)) for n in lens]
    return pa.table(
        {
            "doc_id": [f"doc_{i:012d}" for i in ids],
            "tokens": pa.array(toks, pa.list_(pa.int32())),
            "n_tok": pa.array(lens, pa.int32()),
            "source": [source] * len(ids),
        }
    ).cast(inputs.SCHEMA)


def test_append_upsert_delete():
    m = TableModel(_table([3, 1, 2], [1, 5, 9]))
    m.append(_table([4], [2]))
    m.upsert(_table([2, 7], [4, 0], source="news"))
    assert m.table.column("doc_id").to_pylist() == [
        "doc_000000000001", "doc_000000000002", "doc_000000000003",
        "doc_000000000004", "doc_000000000007",
    ]
    assert m.table.column("n_tok").to_pylist() == [5, 4, 1, 2, 0]
    assert m.table.column("source").to_pylist()[1] == "news"
    assert m.delete("n_tok", 1, 2) == 2
    assert m.table.column("n_tok").to_pylist() == [5, 4, 0]


def test_delete_never_matches_null():
    t = _table([1, 2], [3, 3])
    t = t.set_column(2, "n_tok", pa.array([None, 3], pa.int32()))
    m = TableModel(t)
    assert m.delete("n_tok", 0, 10) == 1
    assert m.table.num_rows == 1


def test_reads_and_stats():
    m = TableModel(_table([5, 1, 9, 3], [10, 20, 30, 40]))
    assert m.key_in(["doc_000000000009", "doc_000000000777"]).num_rows == 1
    assert m.where("doc_id", "doc_000000000002", "doc_000000000005").num_rows == 2
    assert m.where("n_tok", 15, 35).column("n_tok").to_pylist() == [20, 30]
    st = m.stats(["n_tok", "doc_id"])
    assert st["n_rows"] == 4
    assert st["columns"]["n_tok"] == {"min": 10, "max": 40}
    assert st["columns"]["doc_id"]["max"] == "doc_000000000009"


def test_same_rows_ignores_order_and_list_field_name():
    t = _table([2, 1], [3, 4])
    spark_like = pa.table(
        {
            "doc_id": t.column("doc_id"),
            "tokens": t.column("tokens").cast(
                pa.list_(pa.field("element", pa.int32()))
            ),
            "n_tok": t.column("n_tok"),
            "source": t.column("source"),
        }
    ).take([1, 0])
    assert same_rows(spark_like, t)
    other = _table([2, 1], [3, 5])
    assert not same_rows(other, t)


@pytest.mark.parametrize("gen", ["mix", "zipf"])
def test_generators_are_seeded(gen):
    def make(seed):
        if gen == "mix":
            return inputs.regime_mix(seed, 200, 50)
        return inputs.zipf_tokens(seed, range(200), 50)

    assert make(3).equals(make(3))
    assert not make(3).equals(make(4))
    t = canonical(make(3))
    lens = t.column("n_tok").to_pylist()
    assert 0 in lens and 1 in lens
    toks = t.column("tokens").to_pylist()
    assert [len(x) for x in toks] == lens
