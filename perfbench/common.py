"""Helpers shared by the benchmark's workloads."""

from __future__ import annotations

import os
import statistics

COLUMNS = ("doc_id", "tokens", "n_tok", "source")
CODEC_LABELS = (
    "plain", "ffor", "delta", "delta2", "rle", "dict", "fsst",
    "list-plain", "list-ffor", "list-delta", "list-delta2", "list-rle",
    "list-dict", "other",
)
#: span name of the traced run's own bookkeeping between operations
PROBE_SPAN = "trace.probe"


class CheckFailed(Exception):
    """An output of the program differs from the benchmark's oracle."""


def check(ok: bool, what: str) -> None:
    if not ok:
        raise CheckFailed(what)


def median(xs, default: float = 0.0) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else default


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total


def codec_metric_label(label: str) -> str:
    """Metric-name form of an engine codec label (``list<dict>`` -> ``list-dict``)."""
    name = label.replace("<", "-").replace(">", "")
    return name if name in CODEC_LABELS else "other"
