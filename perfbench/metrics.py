"""Pure metric computations over a run's raw measurements."""
import bisect
import math
import statistics

TAIL_LADDER = (99.9, 99.0, 95.0, 90.0, 80.0)


def percentile(values, p):
    """The p-th percentile, interpolating linearly between closest ranks."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no values")
    k = (len(xs) - 1) * p / 100.0
    lo = int(k)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def tail_level(n, cap=99.9):
    """Highest percentile of TAIL_LADDER (at most `cap`) with at least ten
    of `n` samples beyond it, or None when even p80 has fewer than ten."""
    for p in TAIL_LADDER:
        if p <= cap and n * (100.0 - p) / 100.0 >= 10.0 - 1e-9:
            return p
    return None


def tail(values, cap=99.9):
    """(level, value): the tail_level percentile, or the maximum (level
    100) when there are too few samples for any percentile."""
    level = tail_level(len(values), cap)
    if level is None:
        return 100.0, max(values)
    return level, percentile(values, level)


class Commits:
    """Commit times of one streaming plane, looked up by source offset."""

    def __init__(self, progress):
        done = sorted((p for p in progress if p["end_offset"] >= 0),
                      key=lambda p: p["batch"])
        self.ends, self.times = [], []
        for p in done:
            if not self.ends or p["end_offset"] > self.ends[-1]:
                self.ends.append(p["end_offset"])
                self.times.append(p["commit"])

    def of(self, offset):
        """Commit time of the first batch that consumed `offset`, or None."""
        i = bisect.bisect_left(self.ends, offset)
        return self.times[i] if i < len(self.ends) else None


def event_latencies(sends, progress_by_plane, planes):
    """Open-loop latency of every sent event: from the time it was due (not
    when the generator got to send it) to the commit of the last batch, on
    any plane that reads it, that consumed it.

    Returns (pooled, per_plane, missing, last_done): pooled has one latency
    per event, per_plane one per event that plane reads, missing counts
    events some plane never committed, last_done is the latest commit
    that completed an event."""
    commits = {p: Commits(progress_by_plane.get(p, [])) for p in planes}
    pooled, missing, last_done = [], 0, 0.0
    per_plane = {p: [] for p in planes}
    for s in sends:
        done = {}
        for i, p in enumerate(planes):
            if p in s["offsets"]:
                done[i] = commits[p].of(s["offsets"][p])
        for due, mask in zip(s["due"], s["mask"]):
            worst = None
            for i, p in enumerate(planes):
                if mask & (1 << i):
                    c = done.get(i)
                    if c is None:
                        worst = None
                        break
                    per_plane[p].append(c - due)
                    worst = c - due if worst is None else max(worst, c - due)
            if worst is None:
                missing += 1
            else:
                pooled.append(worst)
                last_done = max(last_done, due + worst)
    return pooled, per_plane, missing, last_done


def backlog_max(sends, progress, plane_bit, plane):
    """Largest number of events that were due but not yet committed on
    `plane`, sampled at each of its commits."""
    dues = sorted(d for s in sends for d, m in zip(s["due"], s["mask"]) if m & plane_bit)
    per_offset = sorted((s["offsets"][plane], sum(1 for m in s["mask"] if m & plane_bit))
                        for s in sends if plane in s["offsets"])
    offs = [o for o, _ in per_offset]
    cum = []
    for _, n in per_offset:
        cum.append(n + (cum[-1] if cum else 0))
    worst = 0
    for p in progress:
        due_by_then = bisect.bisect_right(dues, p["commit"])
        j = bisect.bisect_right(offs, p["end_offset"])
        committed = cum[j - 1] if j else 0
        worst = max(worst, due_by_then - committed)
    return worst


def self_times(spans):
    """Self time of each span: its duration minus the part of its interval
    that its children cover (overlapping children counted once)."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        ivs = sorted((max(c["start"], s["start"]), min(c["end"], s["end"]))
                     for c in children.get(s["id"], []))
        covered, cur_lo, cur_hi = 0.0, None, None
        for lo, hi in ivs:
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
        out[s["id"]] = (s["end"] - s["start"]) - covered
    return out


def geomean(values):
    """Geometric mean: the typical value of a skewed, positive mix."""
    return math.exp(sum(math.log(v) for v in values) / len(values))


def median(values, default=0.0):
    return statistics.median(values) if values else default
