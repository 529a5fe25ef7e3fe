"""Pure helpers the benchmark's metrics are computed with."""
import statistics


def median(xs):
    return statistics.median(xs) if xs else 0.0


def tail(samples, beyond=10):
    """The highest percentile of `samples` that still has at least
    `beyond` samples above it, as (percentile, value).

    With n samples the value is the (n - beyond)-th smallest, i.e. the
    `beyond + 1`-th largest, and its percentile is 100 * (n - beyond) / n.
    Fewer than `beyond + 1` samples leave no such percentile.
    """
    n = len(samples)
    if n <= beyond:
        raise ValueError(f"{n} samples: need more than {beyond} for a tail percentile")
    rank = n - beyond  # 1-based rank of the reported sample
    return 100.0 * rank / n, sorted(samples)[rank - 1]


def union_length(intervals):
    """Total length covered by a set of (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_time(span, children):
    """A span's duration minus the part of it its children cover.
    Children are clipped to the span, and overlapping children count
    once."""
    s, e = span
    clipped = [(max(s, cs), min(e, ce)) for cs, ce in children]
    return (e - s) - union_length(clipped)

