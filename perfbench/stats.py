"""The benchmark's arithmetic, kept free of Spark so ``selftest.py`` can
check it on its own."""

from __future__ import annotations

import statistics

# a p90 is reported only when a run holds at least this many samples of
# one kind: below it the 90th percentile has too few samples beyond it
P90_MIN_SAMPLES = 100


def steal_share(ticks: int, seconds: float, nproc: int, hz: int) -> float:
    """Share of the machine's CPU stolen by the host over ``seconds``."""
    return ticks / hz / (seconds * nproc)


def proc_stat(text: str) -> tuple[str, int, list[int]]:
    """(command name, ppid, [utime, stime, cutime, cstime] in clock ticks)
    from the text of a ``/proc/<pid>/stat`` or ``/proc/<pid>/task/<tid>/stat``
    file. The name may hold spaces and parentheses, so the other fields are
    counted from its last ``)``."""
    rest = text[text.rindex(")") + 2:].split()
    return (text[text.index("(") + 1:text.rindex(")")], int(rest[1]),
            [int(x) for x in rest[11:15]])


def median(xs: list[float]) -> float:
    if not xs:
        raise ValueError("median of no samples")
    return float(statistics.median(xs))


def mean(xs: list[float]) -> float:
    if not xs:
        raise ValueError("mean of no samples")
    return float(statistics.fmean(xs))


def p90(xs: list[float]) -> float | None:
    """Nearest-rank 90th percentile, or None below P90_MIN_SAMPLES."""
    if len(xs) < P90_MIN_SAMPLES:
        return None
    s = sorted(xs)
    rank = -(-9 * len(s) // 10)  # ceil(0.9 n), 1-based
    return float(s[rank - 1])


def per_second(items: int, seconds: float) -> float:
    """Items per second of wall time (files/s, queries/s)."""
    if seconds <= 0:
        raise ValueError("non-positive wall time")
    return items / seconds


def byte_ratio(out_bytes: int, in_bytes: int) -> float:
    """Bytes on disk (or written) per byte of input content."""
    if in_bytes <= 0:
        raise ValueError("no input bytes")
    return out_bytes / in_bytes

