"""Arithmetic the benchmark's metrics rest on: percentiles, interval
unions, self time and attribution of events to the op that contains them.
Pure functions over plain numbers and (start, end) pairs, so they can be
tested without running anything."""
import bisect
import statistics

# tail percentiles a timing may be reported at, highest first
TAIL_PERCENTILES = (99.9, 99.0, 95.0, 90.0, 75.0)


def median(xs):
    return statistics.median(xs) if xs else None


def quantile(xs, p):
    """The p-th percentile (0..100) by linear interpolation between closest
    ranks, as numpy's default; None for no samples."""
    if not xs:
        return None
    s = sorted(xs)
    pos = (len(s) - 1) * p / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def tail_percentile(n):
    """The highest tail percentile with at least ten of n samples beyond
    it, or None when even the 75th has fewer than ten beyond it."""
    for p in TAIL_PERCENTILES:
        if n * (100.0 - p) / 100.0 >= 10.0 - 1e-9:
            return p
    return None


def merge(intervals):
    """Sorted, disjoint union of (start, end) intervals."""
    out = []
    for s, e in sorted(i for i in intervals if i[1] > i[0]):
        if out and s <= out[-1][1]:
            if e > out[-1][1]:
                out[-1] = (out[-1][0], e)
        else:
            out.append((s, e))
    return out


def union_length(intervals):
    return sum(e - s for s, e in merge(intervals))


def covered(span, children):
    """How much of span = (start, end) the children's union covers; child
    parts outside the span do not count."""
    s0, e0 = span
    return union_length((max(s, s0), min(e, e0)) for s, e in children)


def self_time(span, children):
    """A span's duration minus the part of it its children cover."""
    return (span[1] - span[0]) - covered(span, children)


class Timeline:
    """Serial, non-overlapping containers (the bench runs ops one at a
    time) indexed by start, for attributing instants to them."""

    def __init__(self, spans):
        self.spans = sorted(spans, key=lambda x: x[0])
        self.starts = [s[0] for s in self.spans]

    def find(self, t):
        """The span whose [start, end] contains t, or None."""
        i = bisect.bisect_right(self.starts, t) - 1
        if i >= 0 and self.spans[i][0] <= t <= self.spans[i][1]:
            return self.spans[i]
        return None
