"""The benchmark's own arithmetic: percentiles, interval unions, span
self time, stream latency and the seeded workload schedules. Pure
functions, tested in test_arith.py."""
import math
import random


def percentile(values, p):
    """Nearest-rank percentile: the smallest sample with at least p% of
    the samples at or below it."""
    if not values:
        raise ValueError("percentile of no samples")
    s = sorted(values)
    rank = max(1, math.ceil(p / 100.0 * len(s)))
    return s[rank - 1]


def median(values):
    """Middle value, or the mean of the two middle values: for medians of
    a few per-pass or per-cycle totals, where nearest rank would be the
    minimum of two."""
    if not values:
        raise ValueError("median of no samples")
    s = sorted(values)
    mid = len(s) // 2
    return s[mid] if len(s) % 2 else (s[mid - 1] + s[mid]) / 2


def union_length(intervals, lo=-math.inf, hi=math.inf):
    """Length of the union of (start, end) intervals, clipped to [lo, hi]."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if b <= a:
            continue
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
    """Span id -> self time: its duration minus the part of its interval
    that its child spans cover. Spans are dicts with id, parent, t0, t1."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    return {s["id"]: (s["t1"] - s["t0"]) - union_length(
        [(c["t0"], c["t1"]) for c in children.get(s["id"], [])], s["t0"], s["t1"])
        for s in spans}


def subtree(spans, root_id):
    """Ids of a span and all its descendants."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s["id"])
    out, todo = [], [root_id]
    while todo:
        i = todo.pop()
        out.append(i)
        todo.extend(children.get(i, []))
    return out


def self_time_gap(spans, root_id):
    """Relative gap between a span's wall and the sum of the self times
    of its subtree (0 when the spans account for the whole wall)."""
    by_id = {s["id"]: s for s in spans}
    ids = set(subtree(spans, root_id))
    # clip every span to its parent so the subtree is a proper tree
    clipped = []
    for s in spans:
        if s["id"] not in ids:
            continue
        t0, t1 = s["t0"], s["t1"]
        p = by_id.get(s["parent"])
        while p is not None and p["id"] in ids:
            t0, t1 = max(t0, p["t0"]), min(t1, p["t1"])
            p = by_id.get(p["parent"])
        clipped.append(dict(s, t0=t0, t1=max(t0, t1)))
    st = self_times(clipped)
    wall = by_id[root_id]["t1"] - by_id[root_id]["t0"]
    return abs(sum(st.values()) - wall) / wall if wall > 0 else 0.0


def stream_latencies(rows, commit_end_ms, batches):
    """Latency of each emitted window row, in ms: from the due time of
    the last event that contributed to it (`max_value`, the rate-source
    timestamp) until the sink commit of its micro-batch returned. Rows
    are (batch_id, max_value) pairs; only the given batches count."""
    return [commit_end_ms[b] - last for b, last in rows
            if b in batches and b in commit_end_ms]


def drift(values):
    """p50 of the last quarter of a sequence over p50 of its first."""
    q = max(1, len(values) // 4)
    return median(values[-q:]) / median(values[:q])


def batch_order(seed, queries):
    order = list(queries)
    random.Random(f"batch_mix:{seed}").shuffle(order)
    return order


def view_schedule(seed, buckets=100, warm=3, cycle=5, cycles=3):
    """Seeded bucket schedule for view_ticks. Half the buckets form the
    bootstrap; each tick commits one fresh bucket. The last tick of each
    cycle of `cycle` ticks also deletes one bootstrap bucket, and so does
    the first warm tick, so the delete path is warm before timing starts."""
    rng = random.Random(f"view_ticks:{seed}")
    order = list(range(buckets))
    rng.shuffle(order)
    boot, rest = sorted(order[:buckets // 2]), order[buckets // 2:]
    deletable = list(boot)
    rng.shuffle(deletable)
    ticks = []
    for i in range(warm + cycle * cycles):
        timed_index = i - warm
        is_delete = i == 0 or (timed_index >= 0 and timed_index % cycle == cycle - 1)
        ticks.append({"index": i, "warm": timed_index < 0, "bucket": rest[i],
                      "delete": deletable.pop() if is_delete else -1})
    return {"buckets": buckets, "bootstrap": boot, "ticks": ticks, "cycle": cycle}


def stream_offset(seed, rows):
    return random.Random(f"stream_ingest:{seed}").randrange(rows)
