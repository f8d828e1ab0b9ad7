"""Shared pieces of the two workloads: the run context, op records and
the helpers their correctness checks use."""

from __future__ import annotations

import math
import os
import statistics
import time
import traceback
from dataclasses import dataclass, field
from decimal import Decimal

import numpy as np
import pandas as pd

from probe import Tracer


@dataclass
class Op:
    kind: str
    seconds: float
    ok: bool


@dataclass
class Ctx:
    spark: object
    scratch: str  # benchmark-owned directory, removed when the run ends
    seed: int
    seconds: float
    traced_run: bool
    tracer: Tracer
    ops: list[Op] = field(default_factory=list)
    setup_s: float = 0.0
    work: int = 0  # work units completed by the measured cycles
    info: dict = field(default_factory=dict)  # workload metrics: name -> (value, unit)
    layers: dict = field(default_factory=dict)  # per-layer metrics: name -> value

    def timed(self, kind: str, fn):
        """Run one op inside the closed loop; an exception is a failed op.
        Each op gets its own op id, shared by the spans opened inside it."""
        self.tracer.op_id += 1
        t0 = time.perf_counter()
        try:
            with self.tracer.span(f"op.{kind}"):
                result = fn()
            ok = True
        except Exception:  # a failed op is counted, the run goes on
            print(f"op {kind} failed", flush=True)
            traceback.print_exc()
            result, ok = None, False
        op = Op(kind, time.perf_counter() - t0, ok)
        self.ops.append(op)
        return op, result

    def cycles(self, limit: int):
        """Yield the index of each measured cycle: at least one, more until
        ``seconds`` have passed, at most ``limit``. In a traced run every
        measured cycle is traced."""
        t0 = time.perf_counter()
        self.tracer.enabled = self.traced_run
        for i in range(limit):
            yield i
            if time.perf_counter() - t0 >= self.seconds:
                break
        self.tracer.enabled = False


def noop(df) -> float:
    """Materialize ``df`` fully without collecting it; returns seconds."""
    t0 = time.perf_counter()
    df.write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t0


def dir_bytes(path: str) -> int:
    total = 0
    for base, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(base, f)) for f in files)
    return total


def median(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def mean(xs) -> float:
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def geomean(xs, floor: float = 0.01) -> float:
    """Geometric mean: every op class moves it by its own relative change,
    however short or long the op. Latencies under ``floor`` seconds count as
    ``floor``; below it timer and scheduling jitter would dominate."""
    xs = [max(x, floor) for x in xs]
    return math.exp(sum(math.log(x) for x in xs) / len(xs)) if xs else 0.0


def tail(xs) -> tuple[float, int]:
    """The highest whole percentile with at least ten samples above it,
    and its value (nearest rank); (0, 0) when there are too few samples."""
    xs = sorted(xs)
    n = len(xs)
    if n <= 10:
        return 0.0, 0
    p = math.floor(100 * (n - 10) / n)
    return xs[max(0, math.ceil(p / 100 * n) - 1)], p


def _norm(v):
    """Cell normalization for engine-vs-oracle comparison: every number
    to six decimals (pandas turns a nullable integer column into floats),
    NULL and NaN alike, everything else as its string."""
    if v is None or v is pd.NA or (isinstance(v, float) and math.isnan(v)):
        return "NULL"
    if isinstance(v, (bool, np.bool_)):
        return str(bool(v))
    if isinstance(v, (int, float, Decimal, np.integer, np.floating)):
        f = float(v)
        return "NULL" if math.isnan(f) else f"{f:.6f}"
    return str(v)


def rows_match(got_cols, got_rows, want_df) -> bool:
    """Order-insensitive equality of a collected result and a pandas
    frame: same column names, same multiset of normalized rows."""
    if sorted(got_cols) != sorted(want_df.columns):
        return False
    cols = sorted(got_cols)
    idx = [list(got_cols).index(c) for c in cols]
    got = sorted(tuple(_norm(r[i]) for i in idx) for r in got_rows)
    want = sorted(
        tuple(_norm(v) for v in row) for row in want_df[cols].itertuples(index=False, name=None)
    )
    return got == want
