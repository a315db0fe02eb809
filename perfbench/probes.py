"""Measurement helpers: spans, process-tree RSS, box-noise diagnostics,
percentiles and order-insensitive result hashes."""

from __future__ import annotations

import hashlib
import json
import math
import os
import threading
import time
from contextlib import contextmanager


# ---------------------------------------------------------------- spans
class Tracer:
    """In-memory spans (layer, start, end, parent, unit id), written out
    when the run ends. A disabled tracer records nothing."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, layer: str, unit=None):
        if not self.enabled:
            yield
            return
        rec = {
            "id": len(self.spans),
            "layer": layer,
            "unit": unit,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.perf_counter(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def add(self, layer: str, start: float, end: float, unit=None) -> None:
        """Record a span measured elsewhere (e.g. a Spark trigger phase)."""
        if self.enabled:
            self.spans.append(
                {"id": len(self.spans), "layer": layer, "unit": unit,
                 "parent": None, "start": start, "end": end}
            )

    def durations(self, layer: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans if s["layer"] == layer]

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(self.spans, fh)


# ---------------------------------------------------- process-tree RSS
def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(d))
    return kids


def alive(pid: int) -> bool:
    """True while ``pid`` exists and is not a zombie."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def tree_pids(root: int) -> list[int]:
    kids, out, todo = _children_map(), [], [root]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


def _mem_kb(pid: int) -> int:
    """Proportional set size (shared pages split between the processes
    that map them, so forked Python workers are not double counted);
    RSS where the kernel has no smaps_rollup."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as fh:
            for line in fh:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:
        pass
    try:
        with open(f"/proc/{pid}/statm") as fh:
            return int(fh.read().split()[1]) * (os.sysconf("SC_PAGE_SIZE") // 1024)
    except OSError:
        return 0


class TreeRss:
    """Samples the summed memory of this process and all its descendants
    (driver Python, the JVM, Python workers) and keeps the peak."""

    def __init__(self, interval: float = 0.1) -> None:
        self.interval = interval
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _sample(self) -> None:
        total = sum(_mem_kb(p) for p in tree_pids(os.getpid()))
        self.peak_kb = max(self.peak_kb, total)

    def _run(self) -> None:
        while not self._stop.wait(self.interval):
            self._sample()

    def __enter__(self):
        self._sample()
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self._sample()

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0


# ------------------------------------------------------ box diagnostics
def _cpu_times() -> list[int]:
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:]]


def control_probe() -> float:
    """Seconds for a fixed amount of single-threaded CPU work, timed
    before and after the measured phase as a yardstick of box speed."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(2_000_000):
        acc += i * i % 7
    return time.perf_counter() - t0


class BoxNoise:
    """Steal share and load average over the measured phase, plus the
    control probe on both sides of it. Reported only; no metric is
    rescaled by these."""

    def __enter__(self):
        self.probe_before_s = control_probe()
        self.load_before = os.getloadavg()[0]
        self._cpu0 = _cpu_times()
        return self

    def __exit__(self, *exc) -> None:
        cpu1 = _cpu_times()
        delta = [b - a for a, b in zip(self._cpu0, cpu1)]
        total = sum(delta) or 1
        # /proc/stat columns: user nice system idle iowait irq softirq steal
        self.steal_share = delta[7] / total if len(delta) > 7 else 0.0
        self.busy_share = 1.0 - (delta[3] + delta[4]) / total
        self.load_after = os.getloadavg()[0]
        self.probe_after_s = control_probe()

    def as_dict(self) -> dict:
        return {
            "steal_share": round(self.steal_share, 5),
            "busy_share": round(self.busy_share, 4),
            "loadavg_before": self.load_before,
            "loadavg_after": self.load_after,
            "probe_before_s": round(self.probe_before_s, 4),
            "probe_after_s": round(self.probe_after_s, 4),
        }


# ------------------------------------------------------------ statistics
def percentile(values: list[float], pct: float) -> float:
    """Linear-interpolated percentile (numpy's default rule)."""
    if not values:
        return 0.0
    xs = sorted(values)
    k = (len(xs) - 1) * pct / 100.0
    lo, hi = math.floor(k), math.ceil(k)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def median(values: list[float]) -> float:
    return percentile(values, 50.0)


def drift(values: list[float]) -> float:
    """Median of the last quarter over median of the first quarter (last
    over first value when there are fewer than four)."""
    if len(values) < 2:
        return 0.0
    q = max(1, len(values) // 4)
    first = median(values[:q])
    return median(values[-q:]) / first if first else 0.0


# ------------------------------------------------------- result hashing
def _canon_column(s):
    """One result column as a hashable canonical Series: whole numbers
    exactly, other floats as (mantissa, exponent) at nine significant
    digits, timestamps as UTC epoch nanoseconds, everything else as its
    repr. The rule depends on values only, so an int column and a
    null-bearing (float) column of the same numbers agree."""
    import numpy as np
    import pandas as pd

    if pd.api.types.is_datetime64_any_dtype(s):
        if getattr(s.dt, "tz", None) is not None:
            s = s.dt.tz_convert("UTC").dt.tz_localize(None)
        ns = s.astype("datetime64[ns]").astype("int64")
        return ns.where(s.notna(), np.iinfo("int64").min).astype("int64").astype(str)
    if pd.api.types.is_integer_dtype(s) and not s.isna().any():
        return pd.Series(s.to_numpy().astype(np.int64).astype(str))
    if pd.api.types.is_numeric_dtype(s) or pd.api.types.is_bool_dtype(s):
        v = pd.to_numeric(s, errors="coerce").astype("float64").to_numpy()
        ok = np.isfinite(v) & (v != 0)
        exp = np.zeros(len(v), dtype=np.int64)
        exp[ok] = np.floor(np.log10(np.abs(v[ok]))).astype(np.int64) - 8
        man = np.zeros(len(v), dtype=np.float64)
        man[ok] = np.rint(v[ok] / np.power(10.0, exp[ok]))
        out = pd.Series(man.astype(np.int64).astype(str)) + "e" + pd.Series(exp.astype(str))
        whole = np.isfinite(v) & (np.abs(v) < 2.0**53) & (v == np.trunc(v))
        out[whole] = pd.Series(v[whole].astype(np.int64).astype(str), index=np.flatnonzero(whole))
        out[np.isnan(v)] = "null"
        return out
    return pd.Series([repr(_canon(x)) for x in s])


def _canon(v):
    if v is None or (isinstance(v, float) and math.isnan(v)):
        return None
    if hasattr(v, "tolist"):
        v = v.tolist()
    if isinstance(v, (list, tuple)):
        return tuple(_canon(x) for x in v)
    if isinstance(v, float):
        return float(f"{v:.9g}")
    return v


def frame_digest(pdf) -> tuple[int, str]:
    """(row count, order-insensitive hash) of a pandas result, columns
    taken in name order. Floats compare to nine significant digits, so
    Spark's and DuckDB's summation orders agree."""
    import pandas as pd

    cols = sorted(pdf.columns)
    h = hashlib.sha256(repr(cols).encode())
    if len(pdf):
        canon = pd.DataFrame(
            {c: _canon_column(pdf[c].reset_index(drop=True)) for c in cols}
        )
        rows = pd.util.hash_pandas_object(canon, index=False).to_numpy()
        rows.sort()
        h.update(rows.tobytes())
    return len(pdf), h.hexdigest()
