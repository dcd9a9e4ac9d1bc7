"""Statistics and process measurements the benchmark reports.

Pure functions over plain Python values, so that the rules the
benchmark's numbers rest on can be tested without Spark
(``perfbench/test_measure.py``).
"""

from __future__ import annotations

import hashlib
import os
import re
import statistics
from dataclasses import dataclass, field

TAIL_MIN_BEYOND = 10


@dataclass(frozen=True)
class Tail:
    """A latency tail: the value at ``percentile`` over ``samples``
    samples, with ``beyond`` samples above that rank."""

    value: float
    percentile: float
    samples: int
    beyond: int


def tail(values: list[float], min_beyond: int = TAIL_MIN_BEYOND) -> Tail:
    """The highest percentile that has at least ``min_beyond`` samples
    beyond it.

    With n sorted samples, the k-th smallest (1-based) is the
    100*k/n-th percentile and has n-k samples beyond it, so the answer
    is the (n - min_beyond)-th smallest. With n <= min_beyond no rank
    has that many samples beyond it; the maximum is returned then, and
    ``beyond`` = 0 says so."""
    if not values:
        raise ValueError("tail of no samples")
    ordered = sorted(values)
    n = len(ordered)
    k = n - min_beyond if n > min_beyond else n
    return Tail(ordered[k - 1], 100.0 * k / n, n, n - k)


def median(values: list[float]) -> float:
    if not values:
        raise ValueError("median of no samples")
    return float(statistics.median(values))


@dataclass
class Outcomes:
    """Attempted and failed operations of one run. An operation fails
    when it raises (a guard exit included) or when a check of its
    output fails; an operation counts once however many of its checks
    fail."""

    attempted: int = 0
    failed_ops: set = field(default_factory=set)
    reasons: list = field(default_factory=list)

    def attempt(self) -> None:
        self.attempted += 1

    def fail(self, op_id, reason: str) -> None:
        self.failed_ops.add(op_id)
        self.reasons.append(f"{op_id}: {reason}")

    @property
    def failed(self) -> int:
        return len(self.failed_ops)

    @property
    def error_rate(self) -> float:
        return self.failed / self.attempted if self.attempted else 0.0


def _canon(v) -> str:
    if isinstance(v, float):
        return repr(v)
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{_canon(v[k])}" for k in sorted(v)) + "}"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_canon(x) for x in v) + "]"
    return repr(v)


def fingerprint(rows) -> str:
    """Order-insensitive digest of a table's rows (dicts or tuples):
    the sorted per-row digests, hashed together. Duplicated rows count
    once each, so a lost or doubled row changes the digest."""
    digests = sorted(hashlib.sha256(_canon(r).encode()).digest() for r in rows)
    h = hashlib.sha256()
    for d in digests:
        h.update(d)
    return h.hexdigest()[:16]


_SIZE_UNITS = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40}
_TIME_UNITS = {"ns": 1e-9, "µs": 1e-6, "us": 1e-6, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}


def parse_metric(text: str) -> float:
    """A Spark SQL metric value as the status API prints it ('1,024',
    '2.5 s', '16.1 KiB', or 'total (min, med, max ...)\\n3.0 s (...)')
    as a number: seconds for times, bytes for sizes."""
    if "\n" in text:  # "total (min, med, max (stageId: taskId))\n<total> (...)"
        text = text.split("\n", 1)[1]
    m = re.match(r"\s*([-\d.,]+)\s*([A-Za-zµ]*)", text)
    if not m:
        raise ValueError(f"unparsable metric {text!r}")
    num = float(m.group(1).replace(",", ""))
    unit = m.group(2)
    if unit in _SIZE_UNITS:
        return num * _SIZE_UNITS[unit]
    if unit in _TIME_UNITS:
        return num * _TIME_UNITS[unit]
    if unit == "":
        return num
    raise ValueError(f"unknown unit in metric {text!r}")


def process_tree(root_pid: int) -> list[int]:
    """``root_pid`` and every live descendant, from /proc."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces and parentheses; fields
        # after the last ')' are fixed: state, ppid, ...
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [root_pid]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def peak_rss_kb(pids: list[int]) -> dict[int, tuple[str, int]]:
    """Peak resident set size (VmHWM, kB) and command name of each of
    ``pids`` still alive."""
    out = {}
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status") as f:
                fields = dict(line.split(":", 1) for line in f if ":" in line)
        except OSError:
            continue  # exited since the tree was listed
        if "VmHWM" in fields:  # kernel threads have none
            out[pid] = (fields["Name"].strip(), int(fields["VmHWM"].split()[0]))
    return out


def process_age_s() -> float:
    """Seconds since this process started, from /proc."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")
