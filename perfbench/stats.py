"""The benchmark's arithmetic, kept apart so that its tests can pin it."""
import statistics


def quantile(values, q):
    """Linear-interpolated quantile, q in [0, 1]; quantile(v, .5) is the median."""
    xs = sorted(values)
    if not xs:
        raise ValueError("quantile of no values")
    pos = q * (len(xs) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def tail_percentile(n):
    """The highest percentile with at least ten of `n` samples beyond it,
    or None: below forty samples only the median is reported."""
    if n < 40:
        return None
    for p in (99.9, 99, 90, 75):
        if n * (100 - p) / 100 >= 10:
            return p
    return None


def union_length(intervals):
    """Total length covered by (start, end) intervals, overlaps counted once."""
    total = 0.0
    cur_start = cur_end = None
    for s, e in sorted(intervals):
        if e <= s:
            continue
        if cur_end is None or s > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = s, e
        else:
            cur_end = max(cur_end, e)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


def clip(interval, window):
    s, e = max(interval[0], window[0]), min(interval[1], window[1])
    return (s, e) if e > s else None


def stage_skew(task_durations):
    """Slowest task over the median task of one stage; 1.0 below two tasks."""
    if len(task_durations) < 2:
        return 1.0
    med = statistics.median(task_durations)
    return max(task_durations) / med if med > 0 else 1.0


def steal_corrected(wall, busy_ticks, steal_ticks):
    """Wall time scaled to the CPU the host actually handed out.

    On a shared host a vCPU that has work can be descheduled (steal). The
    work then takes longer by (busy + steal) / busy, so the wall time it
    would have taken without steal is wall * busy / (busy + steal). Idle
    vCPUs accrue no steal, so driver-only phases are scaled by their own
    share too."""
    wanted = busy_ticks + steal_ticks
    return wall * busy_ticks / wanted if wanted > 0 else wall


def spread(values):
    """Interquartile distance as a share of the median."""
    q1, _, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return (q3 - q1) / med if med else 0.0
