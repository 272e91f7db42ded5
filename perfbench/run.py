"""Benchmark of the encode engine: one command, three workloads.

    python3 perfbench/run.py --workload bulk_encode --seed 1 --seconds 20 --trace 0

Run from the root of a checkout. The last line of standard output is
one JSON object with ``correct``, ``attempted``, ``failed`` and
``metrics``: the end-to-end metrics with ``--trace 0``, the per-layer
metrics with ``--trace 1``. A wrong output prints ``correct: false``
and exits 1; a crash prints no result. See README.md beside this file.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import shutil
import subprocess
import sys
import tempfile
import time
from contextlib import contextmanager

T_START = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
for p in (HERE, REPO):
    if p not in sys.path:
        sys.path.insert(0, p)

from common import PROBE_SPAN, CheckFailed, median  # noqa: E402
from spans import Tracer  # noqa: E402
from common import CODEC_LABELS, COLUMNS  # noqa: E402

WORKLOADS = ("bulk_encode", "table_verbs", "codec_kernels")
END_TO_END = {
    "setup_s": "s",
    "write_tok_s": "tok/s",
    "read_tok_s": "tok/s",
    "bytes_ratio": "ratio",
}
VERB_OPS = (
    "create", "append", "upsert", "delete", "compact", "expire", "gc",
    "lookup", "range_read", "where_read", "stats", "decode", "verify",
    "encode_chunk", "decode_chunk",
)
SPARK_METRICS = {
    "spark.jobs": "count",
    "spark.tasks": "count",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.jvm_gc_s": "s",
    "spark.shuffle_write_bytes": "bytes",
    "spark.input_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "spark.driver_s": "s",
}
PER_LAYER: dict[str, str] = {
    **{f"verb.{op}_s": "s" for op in VERB_OPS},
    **SPARK_METRICS,
    "chunking.plan_s": "s",
    "encode.shuffle_task_s": "s",
    "encode.map_task_s": "s",
    "encode.chunk_s": "s",
    "encode.boundary_s": "s",
    "encode.commit_s": "s",
    "encode.files_written": "count",
    "encode.sort_stats_s": "s",
    "decode.prune_s": "s",
    "decode.exec_s": "s",
    "decode.files_scanned": "count",
    "decode.files_live": "count",
    "verify.exec_s": "s",
    "snapshots.write_s": "s",
    "fsio.list_calls": "count",
    "fsio.read_calls": "count",
    "fsio.write_calls": "count",
    **{f"codecs.encode_s.{c}": "s" for c in COLUMNS},
    **{f"codecs.decode_s.{c}": "s" for c in COLUMNS},
    **{f"codecs.out_bytes.{c}": "bytes" for c in COLUMNS},
    **{f"codecs.chunks.{lb}": "count" for lb in CODEC_LABELS},
    "bloom.build_s": "s",
    "setup.jvm_s": "s",
    "setup.inputs_s": "s",
    "setup.base_table_s": "s",
    "setup.warmup_s": "s",
    "unattributed_s": "s",
    "trace.wall_s": "s",
    "trace.attributed_s": "s",
    "trace.overhead_s": "s",
}


class Op:
    def __init__(self, op_id: str, typ: str, kind: str, tokens: int, round_no: int, traced: bool):
        self.id, self.type, self.kind = op_id, typ, kind
        self.tokens = tokens
        self.round = round_no
        self.traced = traced
        self.wall = 0.0
        self.ok = True
        self.start_ms = self.end_ms = 0.0


class Run:
    """State of one benchmark invocation: temp dir, Spark, ops, tracer."""

    def __init__(self, args):
        self.args = args
        self.workload = args.workload
        self.seed = args.seed
        self.trace_mode = bool(args.trace)
        self.tracer = Tracer(False)
        self.tmp = tempfile.mkdtemp(prefix=".perfbench-", dir=os.getcwd())
        os.environ["TMPDIR"] = os.path.join(self.tmp, "pytmp")
        os.makedirs(os.environ["TMPDIR"])
        tempfile.tempdir = None  # re-read TMPDIR
        self.spark = None
        self.event_dir = os.path.join(self.tmp, "events")
        self.setup: dict[str, float] = {}
        self.setup_s = 0.0
        self.ops: list[Op] = []
        self.rounds: list[dict] = []  # {"wall", "traced", "bytes_ratio"}
        self.probes: dict[str, dict] = {}  # op id -> artifacts read after the op
        self.event_groups: dict = {}  # op id -> eventlog.OpJobs (traced run)
        self.round_no = -1

    # -- Spark lifecycle ----------------------------------------------------
    def start_spark(self, app: str):
        from mojap_arrow_pd_parser_spark.session import get_spark

        jtmp = os.path.join(self.tmp, "jvm-tmp")
        os.makedirs(jtmp)
        conf = {
            "spark.driver.memory": "4g",
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.path.join(self.tmp, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(self.tmp, "warehouse"),
            # -XX:-UsePerfData: no hsperfdata file under /tmp
            "spark.driver.extraJavaOptions": (
                f"-Djava.net.preferIPv4Stack=true -Djava.io.tmpdir={jtmp} "
                f"-Dderby.system.home={jtmp} -XX:-UsePerfData"
            ),
        }
        if self.trace_mode:
            os.makedirs(self.event_dir)
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": self.event_dir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        cores = len(os.sched_getaffinity(0))
        self.spark = get_spark(app, cores=cores, extra_conf=conf)
        return self.spark

    def stop_spark(self) -> None:
        if self.spark is None:
            return
        from pyspark import SparkContext

        self.spark.stop()
        self.spark = None
        gw = SparkContext._gateway
        if gw is None:
            return
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=30)

    # -- timing -------------------------------------------------------------
    @contextmanager
    def phase(self, name: str):
        t = time.perf_counter()
        yield
        self.setup[name] = self.setup.get(name, 0.0) + time.perf_counter() - t

    @contextmanager
    def op(self, typ: str, kind: str, tokens: int = 0, expect_failure: bool = False):
        """Time one operation. ``kind`` is 'write' or 'read'; the body may
        set ``o.tokens``. With ``expect_failure`` an exception counts the
        op as failed instead of ending the run."""
        op = Op(f"op-{len(self.ops):05d}", typ, kind, tokens, self.round_no, self.tracer.enabled)
        if self.round_no >= 0:  # a warm-up round in setup is not counted
            self.ops.append(op)
        sc = self.spark.sparkContext if (self.spark is not None and op.traced) else None
        if sc is not None:
            sc.setJobDescription(f"{op.id} {typ}")
        op.start_ms = time.time() * 1000.0
        t = time.perf_counter()
        try:
            with self.tracer.span(f"op.{typ}", op=op.id):
                yield op
        except Exception:
            if not expect_failure:
                raise
            op.ok = False
        finally:
            op.wall = time.perf_counter() - t
            op.end_ms = time.time() * 1000.0
            if sc is not None:
                sc.setJobDescription(None)

    @contextmanager
    def probe(self):
        """Bookkeeping the traced run does between ops; its time is the
        tracer's own, never a layer's."""
        with self.tracer.span(PROBE_SPAN), self.tracer.paused():
            yield

    def run_rounds(self, wl) -> None:
        """Whole rounds until ``--seconds`` have passed and the workload's
        ``MIN_ROUNDS`` are done. The traced run alternates untraced and
        traced rounds, at least one of each."""
        self.setup_s = time.perf_counter() - T_START
        t0 = time.perf_counter()
        while True:
            self.round_no += 1
            traced = self.trace_mode and self.round_no % 2 == 1
            self.tracer.enabled = traced
            t = time.perf_counter()
            with self.tracer.span("round"):
                ratio = wl.one_round(self, self.round_no)
            self.tracer.enabled = False
            self.rounds.append(
                {"wall": time.perf_counter() - t, "traced": traced, "bytes_ratio": ratio}
            )
            done = (time.perf_counter() - t0 >= self.args.seconds
                    and self.round_no + 1 >= getattr(wl, "MIN_ROUNDS", 1))
            if done and (not self.trace_mode or self.round_no >= 1):
                break
        if hasattr(wl, "finish"):
            wl.finish(self)

    # -- results ------------------------------------------------------------
    def end_to_end(self) -> dict:
        ok = [o for o in self.ops if o.ok]

        def rate(kind):
            ops = [o for o in ok if o.kind == kind]
            wall = sum(o.wall for o in ops)
            return sum(o.tokens for o in ops) / wall if wall else 0.0

        return {
            "setup_s": self.setup_s,
            "write_tok_s": rate("write"),
            "read_tok_s": rate("read"),
            "bytes_ratio": median(r["bytes_ratio"] for r in self.rounds),
        }

    def per_layer(self, wl) -> dict:
        m = {name: 0.0 for name in PER_LAYER}
        traced = [o for o in self.ops if o.traced and o.ok]
        for typ in VERB_OPS:
            m[f"verb.{typ}_s"] = median(o.wall for o in traced if o.type == typ)
        m.update(self.spark_layer(traced))
        for name, counter in (("fsio.list_calls", "list"), ("fsio.read_calls", "read"),
                              ("fsio.write_calls", "write")):
            n = sum(v for (op, c), v in self.tracer.counts.items() if c == f"fsio.{counter}")
            m[name] = n / len(traced) if traced else 0.0
        for k in ("jvm", "inputs", "base_table", "warmup"):
            m[f"setup.{k}_s"] = self.setup.get(k, 0.0)
        led = self.tracer.ledger("round")
        rounds_t = [r["wall"] for r in self.rounds if r["traced"]]
        rounds_u = [r["wall"] for r in self.rounds if not r["traced"]]
        m["unattributed_s"] = led["unattributed_s"]
        m["trace.wall_s"] = led["wall_s"]
        m["trace.attributed_s"] = led["attributed_s"]
        m["trace.overhead_s"] = median(rounds_t) - median(rounds_u)
        m.update(wl.layers(self, traced))
        self.ledger = led
        return m

    def spark_layer(self, traced: list[Op]) -> dict:
        if not traced or not os.path.isdir(self.event_dir):
            return {}
        import eventlog

        groups = eventlog.read(self.event_dir)
        tot = dict.fromkeys(SPARK_METRICS, 0.0)
        for o in traced:
            g = groups.get(f"{o.id} {o.type}")
            if g is None:
                tot["spark.driver_s"] += o.wall
                continue
            self.event_groups[o.id] = g
            tot["spark.jobs"] += len(g.jobs)
            tot["spark.tasks"] += len(g.tasks)
            tot["spark.executor_run_s"] += sum(t.run_ms for t in g.tasks) / 1e3
            tot["spark.executor_cpu_s"] += sum(t.cpu_ns for t in g.tasks) / 1e9
            tot["spark.jvm_gc_s"] += sum(t.gc_ms for t in g.tasks) / 1e3
            tot["spark.shuffle_write_bytes"] += sum(t.shuffle_write for t in g.tasks)
            tot["spark.input_bytes"] += sum(t.input_bytes for t in g.tasks)
            tot["spark.spill_bytes"] += sum(t.spill for t in g.tasks)
            covered = g.covered_ms(o.start_ms, o.end_ms) / 1e3
            tot["spark.driver_s"] += max(0.0, o.wall - covered)
        return {k: v / len(traced) for k, v in tot.items()}

    def close(self) -> None:
        self.tracer.unwrap_all()
        self.stop_spark()
        shutil.rmtree(self.tmp, ignore_errors=True)


def write_trace_file(run: Run, metrics: dict) -> str:
    out_dir = os.path.join(os.getcwd(), ".perfbench-trace")
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, f"{run.workload}-seed{run.seed}.json")
    run.tracer.dump(path, {
        "workload": run.workload,
        "seed": run.seed,
        "ledger": run.ledger,
        "metrics": metrics,
        "ops": [
            {"id": o.id, "type": o.type, "kind": o.kind, "tokens": o.tokens,
             "wall_s": o.wall, "ok": o.ok, "round": o.round, "traced": o.traced}
            for o in run.ops
        ],
        "rounds": run.rounds,
    })
    return path


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    wl = importlib.import_module(args.workload)
    run = Run(args)
    correct = True
    try:
        wl.setup(run)
        try:
            run.run_rounds(wl)
        except CheckFailed as e:
            print(f"check failed: {e}", file=sys.stderr)
            correct = False
        run.tracer.unwrap_all()
        t_stop = time.perf_counter()
        run.stop_spark()
        teardown_s = time.perf_counter() - t_stop
        if args.trace:
            values, units = run.per_layer(wl), PER_LAYER
            print(f"trace: {write_trace_file(run, values)}", file=sys.stderr)
        else:
            values, units = run.end_to_end(), END_TO_END
    finally:
        run.close()
    walls: dict[str, list] = {}
    for o in run.ops:
        walls.setdefault(o.type, []).append(o.wall)
    print(json.dumps({"setup": run.setup, "setup_s": run.setup_s, "teardown_s": teardown_s,
                      "op_median_walls": {k: [len(v), round(median(v), 4)] for k, v in walls.items()},
                      "round_walls": [round(r["wall"], 3) for r in run.rounds]}),
          file=sys.stderr)
    result = {
        "correct": correct,
        "attempted": len(run.ops),
        "failed": sum(1 for o in run.ops if not o.ok),
        "metrics": {k: {"value": values[k], "unit": units[k]} for k in units},
    }
    print(json.dumps(result))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
