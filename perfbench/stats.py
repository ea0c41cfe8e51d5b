"""The benchmark's arithmetic: percentiles, open-loop delays, release-route
classification and span self time. Pure functions, tested in test_stats.py.
"""
import math


def percentile(values, p):
    """Nearest-rank percentile (p in [0, 100]) of a non-empty sequence."""
    xs = sorted(values)
    rank = max(1, math.ceil(p / 100.0 * len(xs)))
    return xs[rank - 1]


TAIL_CAP = 99.0  # the tail the metrics name: release delay p99


def tail_percentile(n):
    """p99, or, when fewer than ten of n samples lie beyond p99, the highest
    percentile (to 0.1) that has at least ten beyond it; the median when n
    is too small for that."""
    if n < 20:
        return 50.0
    return min(TAIL_CAP, max(50.0, math.floor(1000.0 * (1.0 - 10.0 / n)) / 10.0))


def summarize(values):
    """Median and the tail percentile of a timing, with its sample count."""
    n = len(values)
    p = tail_percentile(n)
    return {"p50": percentile(values, 50), "tail": percentile(values, p),
            "tail_pct": p, "n": n}


def trigger_throughput(starts_ns, trigger_ms, rows, window):
    """Rows released per second of trigger execution, over the batches whose
    sink call started inside the window: the rate the stream could serve if
    saturated. A trigger's execution time covers every phase (offsets, batch
    planning, the sink and state commits, the WAL and offset commits)."""
    a, b = window
    inside = [(t, n) for s, t, n in zip(starts_ns, trigger_ms, rows) if a <= s <= b]
    if not inside:
        raise ValueError("no batch ran inside the measured window")
    if any(t < 0 for t, _ in inside):
        raise ValueError("a batch inside the window has no trigger progress")
    busy_ms = sum(t for t, _ in inside)
    if busy_ms <= 0:
        raise ValueError("the window's triggers took no time")
    return sum(n for _, n in inside) / (busy_ms / 1e3)


def due_delays_ms(ids, seen_ns, t0_ns, period_ns, per_chunk, base_id):
    """Open-loop delay of each released event: from the time its chunk was
    due (keyed by event_id on the generator's fixed schedule) to the time
    the sink held its generalized row."""
    out = []
    for i, seen in zip(ids, seen_ns):
        due = t0_ns + ((i - base_id) // per_chunk) * period_ns
        out.append((seen - due) / 1e6)
    return out


def generator_lag_ms(published_ns, t0_ns, period_ns):
    """How late the generator published each chunk against its schedule."""
    return [(p - (t0_ns + j * period_ns)) / 1e6 for j, p in enumerate(published_ns)]


def classify_routes(step_out, step_suppressed, k):
    """Counts of FADS release routes from each `Engine.step` return:
    k rows is a fresh cluster (pivot plus k-1 neighbours), one non-suppressed
    row is a reused cluster, one suppressed row is a suppression, and an
    empty return buffered the tuple."""
    routes = {"fresh": 0, "reuse": 0, "suppressed": 0, "buffered": 0}
    for n, s in zip(step_out, step_suppressed):
        if n == 0:
            routes["buffered"] += 1
        elif n == 1 and s == 1:
            routes["suppressed"] += 1
        elif n == 1:
            routes["reuse"] += 1
        elif n == k and s == 0:
            routes["fresh"] += 1
        else:
            raise ValueError("step released %d rows (%d suppressed) with k=%d" % (n, s, k))
    return routes


def _union_ns(intervals):
    total, cur_s, cur_e = 0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def infer_parents(spans, tolerance_ns=1_000_000):
    """Give each span flagged `infer_parent` the shortest other span that
    contains it (within `tolerance_ns`, for listener times in whole ms)."""
    by_len = sorted(spans, key=lambda s: s["end_ns"] - s["start_ns"])
    for s in spans:
        if not s.get("infer_parent"):
            continue
        best = None
        for c in by_len:
            if c is s or c["layer"] in ("sources", "fads"):
                continue
            longer = (c["end_ns"] - c["start_ns"], c["id"]) > (s["end_ns"] - s["start_ns"], s["id"])
            if (longer and c["start_ns"] <= s["start_ns"] + tolerance_ns
                    and c["end_ns"] >= s["end_ns"] - tolerance_ns):
                best = c
                break
        s["parent"] = best["id"] if best else -1
    return spans


def self_times_ns(spans):
    """Each span's duration minus the part of it its children cover, summed
    per layer."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    per_layer = {}
    for s in spans:
        a, b = s["start_ns"], s["end_ns"]
        covered = _union_ns([(max(a, c["start_ns"]), min(b, c["end_ns"]))
                             for c in kids.get(s["id"], []) if c["end_ns"] > a and c["start_ns"] < b])
        per_layer[s["layer"]] = per_layer.get(s["layer"], 0) + (b - a) - covered
    return per_layer


def unaccounted_share(spans, window):
    """Share of the window that no span covers."""
    a, b = window
    covered = _union_ns([(max(a, s["start_ns"]), min(b, s["end_ns"]))
                         for s in spans if s["end_ns"] > a and s["start_ns"] < b])
    return 1.0 - covered / float(b - a)
