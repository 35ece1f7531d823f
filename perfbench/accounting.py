"""Pure accounting used by run.py: percentiles, interval unions, span self
times and failure ratios. Kept free of I/O so tests/ can pin it."""
import statistics

# Percentiles considered for a latency report, highest first.
TAIL_PERCENTILES = (99.9, 99.0, 90.0)


def _rank(n, p):
    """1-based nearest rank of percentile p among n samples, computed in
    integer tenths of a percent so 99.9 is exact."""
    return max(1, -(-n * round(p * 10) // 1000))


def percentile(values, p):
    """Nearest-rank percentile: the smallest sample with at least p% of the
    samples at or below it."""
    s = sorted(values)
    if not s:
        raise ValueError("percentile of no samples")
    return s[_rank(len(s), p) - 1]


def tail_percentile(n):
    """The highest percentile with at least ten samples beyond it, or None
    when n samples cannot support one."""
    for p in TAIL_PERCENTILES:
        if n - _rank(n, p) >= 10:
            return p
    return None


def latency_report(values):
    """Median, the supported tail percentile and the sample count."""
    rep = {"n": len(values), "p50": statistics.median(values)}
    p = tail_percentile(len(values))
    if p is not None:
        rep["tail_p"] = p
        rep["tail"] = percentile(values, p)
    return rep


def union_length(intervals):
    """Total length covered by (start, end) intervals; overlaps count once."""
    total = 0.0
    cur_s = cur_e = None
    for s, e in sorted((s, e) for s, e in intervals if e > s):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def clip(intervals, lo, hi):
    return [(max(s, lo), min(e, hi)) for s, e in intervals if min(e, hi) > max(s, lo)]


def self_times(spans):
    """Span id -> self time: its duration minus the part of its interval
    its child spans cover. spans are dicts with id, parent, start_ms, end_ms."""
    children = {}
    for sp in spans:
        children.setdefault(sp["parent"], []).append((sp["start_ms"], sp["end_ms"]))
    out = {}
    for sp in spans:
        lo, hi = sp["start_ms"], sp["end_ms"]
        covered = union_length(clip(children.get(sp["id"], []), lo, hi))
        out[sp["id"]] = (hi - lo) - covered
    return out


def innermost(spans, t):
    """The deepest span whose interval holds time t, or None."""
    best = None
    for sp in spans:
        if sp["start_ms"] <= t <= sp["end_ms"]:
            if best is None or sp["start_ms"] >= best["start_ms"]:
                best = sp
    return best


def fail_ratio(attempted, failed):
    if attempted < 1:
        raise ValueError("no operation attempted")
    return failed / attempted

