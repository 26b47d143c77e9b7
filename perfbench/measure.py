"""Small measurement helpers: order statistics, metric records, output
checksums and a resident-memory sampler for the Spark process tree."""

from __future__ import annotations

import math
import os
import re
import threading
import zlib

_NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
_UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def valid_name(name: str) -> bool:
    """A metric or workload name: a letter or digit, then at most 63 of
    letters, digits, ``_``, ``.`` and ``-``."""
    return bool(_NAME.match(name))


def valid_unit(unit: str) -> bool:
    return bool(_UNIT.match(unit))


def median(xs) -> float:
    return percentile(xs, 50.0)


def percentile(xs, q: float) -> float:
    """Linear-interpolated percentile, ``q`` in [0, 100] (numpy's default
    method)."""
    s = sorted(xs)
    if not s:
        raise ValueError("percentile of no samples")
    if not 0.0 <= q <= 100.0:
        raise ValueError(f"percentile {q} outside [0, 100]")
    pos = (len(s) - 1) * q / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def geomean(xs) -> float:
    xs = list(xs)
    if not xs or any(x <= 0 for x in xs):
        raise ValueError("geomean needs positive samples")
    return math.exp(sum(math.log(x) for x in xs) / len(xs))


def metric(value: float, unit: str) -> dict:
    return {"value": float(value), "unit": unit}


def check_metrics(metrics: dict) -> None:
    """Raise if a metric name or unit is malformed or a value is not a
    finite number, so a bad record never reaches the output."""
    for name, rec in metrics.items():
        if not valid_name(name):
            raise ValueError(f"bad metric name {name!r}")
        if not valid_unit(rec["unit"]):
            raise ValueError(f"bad unit {rec['unit']!r} for {name}")
        if not math.isfinite(rec["value"]):
            raise ValueError(f"non-finite value for {name}: {rec['value']}")


def _cell(v):
    if hasattr(v, "item"):  # numpy scalar
        v = v.item()
    if v is None or (isinstance(v, float) and math.isnan(v)):
        return None
    if isinstance(v, bool):
        return int(v)
    if isinstance(v, float) and v.is_integer():
        return int(v)  # an engine that types a count as double agrees
    return v if isinstance(v, (int, float)) else str(v)


def canonical_rows(rows, columns) -> list:
    """Rows as tuples over the columns in sorted-name order, with
    numpy scalars, NaN and integral floats normalized."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    return [tuple(_cell(row[i]) for i in order) for row in rows]


def _render(v) -> str:
    if v is None:
        return "\\N"
    if isinstance(v, float):
        return repr(round(v, 6) + 0.0)  # +0.0 folds -0.0 into 0.0
    return str(v)


def digest(rows) -> tuple:
    """Order-independent ``(row_count, checksum)`` of canonical rows:
    the sum of per-row CRC32s with floats at 6 decimals, the precision
    the registry queries round to."""
    total = sum(zlib.crc32("\x1f".join(map(_render, r)).encode()) for r in rows)
    return len(rows), total % (1 << 64)


def rows_match(a, b, atol: float = 2e-6) -> bool:
    """Multiset equality of canonical rows, floats within ``atol``.

    Two engines can round an exact half at the 6th decimal differently
    (an average of 2-decimal values over 32 rows), so a checksum
    mismatch alone does not prove a wrong result."""
    if len(a) != len(b):
        return False

    def key(r):
        return tuple((0, "") if v is None else
                     (1, round(v, 3)) if isinstance(v, float) else (2, str(v))
                     for v in r)

    for ra, rb in zip(sorted(a, key=key), sorted(b, key=key)):
        if len(ra) != len(rb):
            return False
        for x, y in zip(ra, rb):
            if isinstance(x, float) or isinstance(y, float):
                if x is None or y is None or abs(x - y) > atol:
                    return False
            elif x != y:
                return False
    return True


def cpu_times() -> list:
    """The machine's cumulative CPU jiffies by state (``/proc/stat``)."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_share(before: list, after: list) -> float:
    """Share of CPU time the hypervisor gave to other guests between two
    :func:`cpu_times` readings: a run measured under high steal is
    noisy."""
    d = [b - a for a, b in zip(before, after)]
    return d[7] / max(sum(d), 1)


def process_children() -> dict:
    """Parent pid -> child pids of every process on the machine."""
    kids: dict = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat[stat.rfind(")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(d))
    return kids


def descendant_rss_bytes(root: int) -> int:
    """Resident bytes of every process below ``root`` (the JVM and the
    Python workers it forks), not counting ``root`` itself."""
    kids = process_children()
    page = os.sysconf("SC_PAGE_SIZE")
    total = 0
    stack = list(kids.get(root, ()))
    while stack:
        pid = stack.pop()
        stack.extend(kids.get(pid, ()))
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * page
        except OSError:
            continue
    return total


class RssSampler:
    """Samples :func:`descendant_rss_bytes` of this process on a
    background thread; ``peak_mb`` is the largest sample."""

    interval_s = 0.2

    def __init__(self):
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        me = os.getpid()
        while True:
            self.peak_bytes = max(self.peak_bytes, descendant_rss_bytes(me))
            if self._stop.wait(self.interval_s):
                return

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()

    @property
    def peak_mb(self) -> float:
        return self.peak_bytes / 2**20
