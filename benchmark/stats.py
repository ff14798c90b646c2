"""Arithmetic the benchmark reports with. Pure functions, no I/O."""
import math
import statistics

# percentiles a latency may be reported at, highest first
PERCENTILES = (0.99, 0.9, 0.5)
# samples that must lie beyond a reported percentile
TAIL_SAMPLES = 10


def percentile(xs, q):
    """Nearest-rank percentile: the smallest sample with at least a
    share q of all samples at or below it."""
    s = sorted(xs)
    if not s:
        raise ValueError("no samples")
    rank = max(1, math.ceil(q * len(s)))
    return s[rank - 1]


def supported_percentile(n, candidates=PERCENTILES, tail=TAIL_SAMPLES):
    """Highest candidate percentile with at least `tail` of n samples
    beyond it, or None when even the lowest has fewer."""
    for q in sorted(candidates, reverse=True):
        if n - max(1, math.ceil(q * n)) >= tail:
            return q
    return None


def median(xs):
    return statistics.median(xs)


def geomean(xs):
    xs = list(xs)
    if not xs or any(x <= 0 for x in xs):
        raise ValueError("geomean needs positive samples")
    return math.exp(sum(math.log(x) for x in xs) / len(xs))


def paired_ratio(pairs):
    """graft total / vanilla total over the names both engines completed,
    from adjacent runs. `pairs` maps a name to its (graft, vanilla) wall
    pairs; pairs without positive times on both sides are not counted.
    A name's vanilla total is its median vanilla wall, and its graft
    total that times the median over its pairs of graft / vanilla: a
    pair's two runs are adjacent, so load and JIT warm-up that drift
    through a run cancel. Returns (ratio, names, vanilla total); ratio
    is None when no name is comparable."""
    kept = {n: [(g, v) for g, v in ps if g > 0 and v > 0] for n, ps in pairs.items()}
    names = sorted(n for n, ps in kept.items() if ps)
    if not names:
        return None, [], 0.0
    g_tot = v_tot = 0.0
    for n in names:
        v_med = median([v for _, v in kept[n]])
        g_tot += v_med * median([g / v for g, v in kept[n]])
        v_tot += v_med
    return g_tot / v_tot, names, v_tot


def covered(intervals, lo, hi):
    """Length of [lo, hi] covered by the union of the intervals."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals
                     if min(b, hi) > max(a, lo))
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_times(spans):
    """Per layer, the summed self time of its spans: each span's length
    minus the part of it that its child spans cover. Spans are dicts
    with id, parent, layer, start and end."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    out = {}
    for s in spans:
        own = s["end"] - s["start"]
        kids = children.get(s["id"], [])
        out[s["layer"]] = out.get(s["layer"], 0.0) + own - covered(kids, s["start"], s["end"])
    return out


def slot_busy_frac(task_run_ms, exec_ms, cores):
    """Share of the task slots kept busy while executing: summed task
    run time over execution wall times the slot count."""
    if exec_ms <= 0 or cores <= 0:
        return 0.0
    return task_run_ms / (exec_ms * cores)


def failed_frac(ops):
    """Operations that threw or returned a wrong answer, over those
    attempted. Each op is a dict with a boolean `ok`."""
    ops = list(ops)
    if not ops:
        return 0.0
    return sum(1 for o in ops if not o["ok"]) / len(ops)
