"""Pure arithmetic of the benchmark: percentiles with their sample support,
span self time, job coverage, and the comparison rules. No I/O, so it is
unit-tested on its own (`python3 -m unittest discover -s perfbench`)."""
import math
import statistics

# A tail percentile is reported only as far as it has this many samples
# beyond it; below that the highest supported percentile is reported.
TAIL_SUPPORT = 10


def median(values):
    return statistics.median(values) if values else 0.0


def nearest_rank(values, q):
    """The q-quantile (0 < q <= 1) by the nearest-rank rule."""
    s = sorted(values)
    return s[max(0, math.ceil(q * len(s)) - 1)]


def tail(values, q=0.9, support=TAIL_SUPPORT):
    """(value, quantile, n): the q-quantile when at least `support` samples
    lie beyond it, else the highest quantile that has them, never below the
    median. With fewer than 2 * support samples that is the median."""
    n = len(values)
    if n == 0:
        return 0.0, 0.0, 0
    q_eff = max(0.5, min(q, 1.0 - support / n))
    value = median(values) if q_eff == 0.5 else nearest_rank(values, q_eff)
    return value, q_eff, n


def union_length(intervals):
    """Total length covered by possibly overlapping [start, end) intervals."""
    total, cur_s, cur_e = 0, None, None
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


def clip(interval, within):
    return max(interval[0], within[0]), min(interval[1], within[1])


def self_times(spans):
    """{span id: self time}: each span's duration minus the part of its
    interval covered by its direct children. `spans` are dicts with id,
    parent, start_us and end_us."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        own = (s["start_us"], s["end_us"])
        covered = union_length(clip((c["start_us"], c["end_us"]), own)
                               for c in kids.get(s["id"], []))
        out[s["id"]] = (own[1] - own[0]) - covered
    return out


def driver_gap(span, jobs):
    """Part of a span's wall time during which none of `jobs` runs."""
    own = (span["start_us"], span["end_us"])
    busy = union_length(clip((j["start_us"], j["end_us"]), own) for j in jobs)
    return (own[1] - own[0]) - busy


def quartiles(values):
    """(q1, median, q3) as statistics.quantiles(values, n=4) gives them."""
    if len(values) < 2:
        v = values[0] if values else 0.0
        return v, v, v
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


def spread(values):
    """Inter-quartile distance as a share of the median."""
    q1, q2, q3 = quartiles(values)
    return (q3 - q1) / q2 if q2 else math.inf


def worse_by(parent, change, better):
    """How much worse `change` is than `parent`, as a share of `parent`
    (negative when it is better)."""
    if parent == 0:
        return 0.0 if change == 0 else math.inf
    delta = (change - parent) / abs(parent)
    return delta if better == "lower" else -delta


def win_rule(pairs, better, min_pairs=10, min_wins=0.9):
    """Guide rule for claiming a gain from alternating (parent, change) pairs:
    at least `min_pairs` pairs, the change wins at least `min_wins` of all
    pairs (ties count for neither side), and the medians differ by more than
    the parent's inter-quartile distance. Returns (claimed, wins, n, reason)."""
    n = len(pairs)
    if better == "lower":
        wins = sum(1 for p, c in pairs if c < p)
    else:
        wins = sum(1 for p, c in pairs if c > p)
    if n < min_pairs:
        return False, wins, n, f"only {n} pairs, need {min_pairs}"
    if wins < min_wins * n:
        return False, wins, n, f"won {wins}/{n}, need {math.ceil(min_wins * n)}"
    parents = [p for p, _ in pairs]
    changes = [c for _, c in pairs]
    q1, _, q3 = quartiles(parents)
    gap = abs(median(changes) - median(parents))
    if gap <= q3 - q1:
        return False, wins, n, f"median gap {gap:.6g} within parent IQR {q3 - q1:.6g}"
    return True, wins, n, "gain"
