"""Statistics the benchmark reports: percentiles, open-loop latency, backlog,
span self time and FADS information loss. Kept free of I/O so the tests in
test_stats.py exercise exactly the code the benchmark runs."""
import bisect
import math

TAIL_CANDIDATES = (99.9, 99.0, 90.0, 75.0, 50.0)


def percentile(values, p):
    """Linear-interpolated percentile `p` (0-100) of a non-empty sequence."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no samples")
    rank = p / 100.0 * (len(xs) - 1)
    lo = int(rank)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (rank - lo)


def tail_percentile(n, candidates=TAIL_CANDIDATES):
    """The highest candidate percentile with at least 10 of `n` samples
    beyond it, or None when even the median has fewer."""
    for p in sorted(candidates, reverse=True):
        if n * (100.0 - p) / 100.0 >= 10 - 1e-9:
            return p
    return None


def median(values):
    return percentile(values, 50.0)


def geomean(values):
    """Geometric mean of positive values: each counts by its ratio, so a
    cheap entry moves it as much as an expensive one."""
    xs = list(values)
    if not xs:
        raise ValueError("geometric mean of no values")
    return math.exp(sum(math.log(x) for x in xs) / len(xs))


def latencies_ms(due_ns, done_ns):
    """Open-loop latency of each request: completion minus the time it was
    due, not the time it was sent, so a stall also charges every request
    that queued behind it."""
    return [(d - s) / 1e6 for s, d in zip(due_ns, done_ns)]


def backlog_at(t_ns, due_ns, done_ns):
    """Requests due by `t_ns` but not yet completed by then."""
    due = sorted(due_ns)
    done = sorted(done_ns)
    return bisect.bisect_right(due, t_ns) - bisect.bisect_right(done, t_ns)


def self_times(spans):
    """Self time per span id: its duration minus the part of its interval
    that its direct children cover (overlapping children count once).

    `spans` is an iterable of (id, parent, name, start, end)."""
    children = {}
    for s in spans:
        children.setdefault(s[1], []).append(s)
    out = {}
    for sid, _, _, start, end in spans:
        covered = 0
        cur_lo = cur_hi = None
        for c in sorted(children.get(sid, ()), key=lambda c: c[3]):
            lo, hi = max(c[3], start), min(c[4], end)
            if hi <= lo:
                continue
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[sid] = (end - start) - covered
    return out


def self_time_by_name(spans):
    """Sum of self time per span name."""
    st = self_times(spans)
    out = {}
    for s in spans:
        out[s[2]] = out.get(s[2], 0) + st[s[0]]
    return out


def info_loss(intervals, bounds):
    """FADS information loss of a release: for each row, the mean over QIDs
    of interval width divided by that QID's domain width, averaged over
    rows. A QID with a zero-width domain contributes 0.

    `intervals` is one (lo, hi) sequence pair per QID, each of row length;
    `bounds` is one (min, max) pair per QID."""
    n_q = len(intervals)
    rows = len(intervals[0][0])
    if rows == 0:
        raise ValueError("information loss of an empty release")
    total = 0.0
    for (lo, hi), (g_lo, g_hi) in zip(intervals, bounds):
        width = g_hi - g_lo
        if width > 0:
            total += sum(h - l for l, h in zip(lo, hi)) / width
    return total / (rows * n_q)
