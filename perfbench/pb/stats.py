"""Pure functions behind the benchmark's numbers; unit-tested in
perfbench/tests without Spark."""
import math
import statistics


def median(xs):
    return statistics.median(xs)


def tail(xs, beyond=10):
    """The highest order statistic with at least `beyond` samples above it,
    and the percentile it sits at. With fewer than beyond+1 samples no
    such value exists, and the maximum is returned at percentile 100."""
    s = sorted(xs)
    n = len(s)
    if n <= beyond:
        return s[-1], 100.0
    i = n - 1 - beyond
    return s[i], 100.0 * i / (n - 1)


def self_times(spans):
    """Self time per layer, in seconds.

    `spans` are (id, parent, layer, name, start_ns, end_ns). A span's self
    time is its duration minus the part of its interval that the union of
    its children's intervals covers (children may overlap each other and
    may spill past the parent; both are clipped)."""
    kids = {}
    for s in spans:
        kids.setdefault(s[1], []).append((s[4], s[5]))
    out = {}
    for sid, _parent, layer, _name, t0, t1 in spans:
        covered, end = 0, t0
        for a, b in sorted(kids.get(sid, [])):
            a, b = max(a, end), min(b, t1)
            if b > a:
                covered += b - a
                end = b
        out[layer] = out.get(layer, 0.0) + (t1 - t0 - covered) / 1e9
    return out


def file_batches(source_files, batch_offsets):
    """Which query batch consumed each file, from a stream checkpoint.

    The file source logs each file under its own batch counter
    (`source_files`: {file: counter}). That counter falls behind the
    query's batch id once a batch without new files has run (a
    watermark-only batch). The query's offset log (`batch_offsets`:
    {batch: counter}) records the counter each batch read up to, so a file
    belongs to the first batch that reached its counter. Files no batch
    reached are left out."""
    reached = sorted((int(b), int(k)) for b, k in batch_offsets.items())
    out = {}
    for f, k in source_files.items():
        b = next((b for b, r in reached if r >= int(k)), None)
        if b is not None:
            out[f] = b
    return out


def file_latencies(arrivals, consumed):
    """Open-loop latency of each arrival, in seconds, from the time it was
    DUE (not when it was written) to the latest end, over all queries, of
    the trigger that consumed it; so a late generator or a backlog both
    count against the system.

    `arrivals` are (file, due_ms, actual_ms); `consumed` maps each query
    to {file: trigger_end_ms}. Returns (latencies, missing files)."""
    lat, missing = [], []
    for f, due, _actual in arrivals:
        ends = [c.get(f) for c in consumed.values()]
        if any(e is None for e in ends):
            missing.append(f)
        else:
            lat.append((max(ends) - due) / 1e3)
    return lat, missing


def backlog_max(arrivals, consumed):
    """The most files that had arrived but were not yet consumed by every
    query, sampled at each arrival and each trigger end."""
    done = {}
    for c in consumed.values():
        for f, end in c.items():
            done[f] = max(done.get(f, end), end)
    times = sorted({a[2] for a in arrivals} | set(done.values()))
    return max((sum(1 for f, _d, act in arrivals
                    if act <= t and done.get(f, math.inf) > t)
                for t in times), default=0)
