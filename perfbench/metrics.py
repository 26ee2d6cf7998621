"""Metric math of the benchmark: medians, tail percentiles, span
self time, executor busy share, and the on-disk store walk. Pure functions
over the raw measurements the JVM side writes."""
import os
import statistics


def median(xs):
    return statistics.median(xs)


def tail(xs, beyond=10):
    """The highest percentile with at least ``beyond`` samples above it.

    Returns (percentile, value, n), or None when there are too few samples.
    The value is the sample at that rank (nearest rank, no interpolation).
    """
    s = sorted(xs)
    n = len(s)
    if n <= beyond:
        return None
    rank = n - beyond  # 1-based rank of the sample with `beyond` above it
    return (100.0 * rank / n, s[rank - 1], n)


def union_length(intervals):
    """Total length covered by a set of (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(i for i in intervals if i[1] > i[0]):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def clip(interval, window):
    return (max(interval[0], window[0]), min(interval[1], window[1]))


def self_time(span, children):
    """A span's duration minus the union of its children's intervals
    (clipped to the span). Children may overlap each other."""
    win = (span["start"], span["end"])
    return (win[1] - win[0]) - union_length(
        [clip((c["start"], c["end"]), win) for c in children])


def busy_frac(task_s, wall_s, cores):
    """Executor task time as a share of the task slots the wall offered."""
    return task_s / (wall_s * cores)


def dir_bytes(paths):
    """(bytes, files) of the regular data files under ``paths``, skipping
    hidden and bookkeeping files (names starting with '.' or '_')."""
    total = files = 0
    for root in paths:
        for d, _, names in os.walk(root):
            for name in names:
                if name.startswith((".", "_")):
                    continue
                total += os.path.getsize(os.path.join(d, name))
                files += 1
    return total, files
