"""Metric rules of the benchmark, kept free of Spark so they can be tested
on their own. Times are microseconds since the epoch unless a name says
otherwise."""

import statistics

TAIL_MIN_BEYOND = 10


def tail_percentile(values, min_beyond=TAIL_MIN_BEYOND):
    """The highest percentile of `values` that has at least `min_beyond`
    samples strictly above it.

    Returns (value, percentile, samples_beyond). The percentile is the
    nearest-rank one of the chosen sample. With `min_beyond` samples or
    fewer there is no such percentile, and the minimum is returned with
    every sample beyond it counted."""
    xs = sorted(values)
    n = len(xs)
    if n == 0:
        raise ValueError("no samples")
    rank = n - min_beyond  # 1-based rank leaving min_beyond samples after it
    while rank > 1:
        beyond = sum(1 for x in xs if x > xs[rank - 1])
        if beyond >= min_beyond:
            return xs[rank - 1], 100.0 * rank / n, beyond
        rank -= 1
    return xs[0], 100.0 / n, sum(1 for x in xs if x > xs[0])


def self_times(spans):
    """Self time of every span: its duration minus the durations of its
    direct children. Returns {span id: self microseconds}."""
    child = {}
    for s in spans:
        if s["parent"]:
            child[s["parent"]] = child.get(s["parent"], 0) + s["end_us"] - s["start_us"]
    return {s["id"]: s["end_us"] - s["start_us"] - child.get(s["id"], 0) for s in spans}


def doc_latencies_ms(due_us, emits, doc_index):
    """Open-loop latency of every document that got a verdict: from the
    time the document was due (its slot in the fixed-rate schedule), not
    from when the generator managed to send it, until its verdict was
    emitted. `doc_index(doc_id)` maps an id to its position in `due_us`.
    Returns {position: milliseconds}."""
    out = {}
    for e in emits:
        for d in e["doc_ids"]:
            i = doc_index(d)
            out[i] = (e["t_us"] - due_us[i]) / 1000.0
    return out


def generator_lateness_ms(commits):
    """How late the generator sent each commit relative to its due time."""
    return [(c["send_us"] - c["due_us"]) / 1000.0 for c in commits]


def processed_times(commits, emits, doc_index):
    """For each commit (table version), the time all of its documents had
    been emitted, or None if some never were."""
    seen = {}
    for e in emits:
        for d in e["doc_ids"]:
            seen[doc_index(d)] = e["t_us"]
    out = []
    for c in commits:
        ts = [seen.get(i) for i in range(c["lo"], c["hi"])]
        out.append(None if any(t is None for t in ts) else max(ts))
    return out


def backlog_at(t_us, commits, processed):
    """Versions committed minus versions processed at time `t_us`."""
    committed = sum(1 for c in commits if c["end_us"] <= t_us)
    done = sum(1 for p in processed if p is not None and p <= t_us)
    return committed - done


def backlog_growth(emits_us, start_us, end_us, interval_us):
    """How many versions the backlog grows by over a fixed-rate phase.

    Under load the stream runs its triggers back to back: a trigger runs
    from the previous trigger's emit to its own, and the versions
    committed meanwhile (its duration over the commit interval) are the
    backlog it leaves for the next one. The growth is the least-squares
    slope of that backlog against trigger start, over the triggers that
    start in the phase, times the phase length. Sampling once per trigger
    skips the saw-tooth the backlog draws between triggers."""
    ts = sorted(emits_us)
    pts = [(a, (b - a) / interval_us) for a, b in zip(ts, ts[1:]) if start_us <= a < end_us]
    if len(pts) < 2:
        return 0.0
    mx = statistics.fmean(x for x, _ in pts)
    my = statistics.fmean(y for _, y in pts)
    sxx = sum((x - mx) ** 2 for x, _ in pts)
    slope = sum((x - mx) * (y - my) for x, y in pts) / sxx if sxx else 0.0
    return slope * (end_us - start_us)


def sustained_rate(phases, commits, processed, emits_us, interval_us, max_late_us=None,
                   tolerance=1.0):
    """The highest offered rate (docs/s) at which the backlog does not
    grow. `phases` are (rate, start_us, end_us) in increasing rate order.
    A phase ends the ladder if its backlog grows by more than `tolerance`
    versions (`backlog_growth`), if one of its versions was never
    processed, or, with `max_late_us`, if the generator sent one of its
    commits more than that long after it was due (the rate was not
    offered).

    Returns (rate, index of the last phase that held)."""
    best, held = None, -1
    for k, (rate, start, end) in enumerate(phases):
        mine = [(c, p) for c, p in zip(commits, processed) if start <= c["due_us"] < end]
        late = max_late_us is not None and any(
            c["send_us"] - c["due_us"] > max_late_us for c, _ in mine)
        lost = any(p is None for _, p in mine)
        if late or lost or backlog_growth(emits_us, start, end, interval_us) > tolerance:
            break
        best, held = rate, k
    return best, held


def digest_mismatches(observed, expected):
    """Names whose digest differs from the stored one (or is missing)."""
    return sorted(q for q, d in observed.items() if expected.get(q) != d)


def median(xs):
    return statistics.median(xs) if xs else 0.0


def interval_union_us(intervals):
    """Total length covered by a set of [start, end) intervals."""
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
