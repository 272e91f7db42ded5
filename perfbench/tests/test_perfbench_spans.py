"""Self times and the layer ledger of the traced run."""

import json
import types

import pytest

from spans import Tracer


def test_ledger_adds_up_to_the_wall():
    t = Tracer(True)
    with t.span("round"):
        with t.span("op.create", op="op-1"):
            with t.span("chunking.plan"):
                pass
            with t.span("decode.prune"):
                with t.span("inner"):
                    pass
        with t.span("op.decode", op="op-2"):
            pass
    led = t.ledger("round")
    assert led["attributed_s"] + led["unattributed_s"] == pytest.approx(led["wall_s"])
    assert set(led["self_s"]) == {"op.create", "chunking.plan", "decode.prune",
                                  "inner", "op.decode"}
    spans = {s["name"]: s for s in t.closed()}
    assert spans["chunking.plan"]["op"] == "op-1"
    assert spans["op.decode"]["op"] == "op-2"


def test_disabled_tracer_records_nothing():
    t = Tracer(False)
    with t.span("round"):
        t.count("x")
    assert t.spans == [] and not t.counts


def test_wrap_and_counter_restore(tmp_path):
    mod = types.SimpleNamespace()
    mod.inner = lambda: 1
    mod.outer = lambda: mod.inner() + 1
    t = Tracer(True)
    t.wrap(mod, "outer", "layer.outer")
    t.wrap_counter(mod, "inner", "fsio.read")
    with t.span("round", op="op-1"):
        assert mod.outer() == 2
        with t.paused():
            mod.outer()
    assert [s["name"] for s in t.closed()].count("layer.outer") == 1
    assert t.counts[("op-1", "fsio.read")] == 1
    path = tmp_path / "trace.json"
    t.dump(str(path), {"k": 1})
    assert json.loads(path.read_text())["k"] == 1
    t.unwrap_all()
    assert mod.outer.__name__ == "<lambda>" and mod.outer() == 2
