"""Pure statistics over the raw samples the JVM side writes.

Kept free of I/O so `tests/test_stats.py` can check every rule the
benchmark reports by.
"""

PERCENTILES = (50, 75, 90, 95, 99)


def percentile(xs, p):
    """The p-th percentile of xs, linear between closest ranks."""
    if not xs:
        raise ValueError("percentile of no samples")
    s = sorted(xs)
    pos = (len(s) - 1) * p / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def median(xs):
    return percentile(xs, 50)


def tail_percentile(n, candidates=PERCENTILES):
    """The highest percentile that leaves at least ten of n samples beyond
    it, or None when not even the median does."""
    best = None
    for p in candidates:
        if n * (100 - p) / 100.0 >= 10:
            best = p
    return best


def account(attempted, failed, checks):
    """(correct, attempted, failed): a failed correctness check marks every
    operation of the run failed."""
    correct = all(c["ok"] for c in checks) and failed == 0
    if not all(c["ok"] for c in checks):
        failed = attempted
    return correct, attempted, failed


def delta(before, after):
    """Per-key difference of two cumulative counter snapshots."""
    return {k: after.get(k, 0) - before.get(k, 0) for k in set(before) | set(after)}


def union_ms(intervals):
    """Total length covered by a set of (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
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


def clip(interval, window):
    s, e = max(interval[0], window[0]), min(interval[1], window[1])
    return (s, e) if e > s else None


def assign_parents(spans):
    """Give every span the innermost other span that contains it in time.
    Spans are dicts with start_ms and end_ms; adds `id` and `parent`."""
    order = sorted(range(len(spans)),
                   key=lambda i: (spans[i]["start_ms"], -spans[i]["end_ms"]))
    for i, sp in enumerate(spans):
        sp["id"] = i
        sp["parent"] = None
    stack = []
    for i in order:
        sp = spans[i]
        while stack and spans[stack[-1]]["end_ms"] < sp["end_ms"]:
            stack.pop()
        if stack:
            sp["parent"] = stack[-1]
        stack.append(i)
    return spans


def self_times(spans):
    """Per-layer self time: each span's duration minus the part of it its
    children cover."""
    assign_parents(spans)
    children = {}
    for sp in spans:
        if sp["parent"] is not None:
            children.setdefault(sp["parent"], []).append(sp)
    out = {}
    for sp in spans:
        covered = union_ms([(c["start_ms"], c["end_ms"]) for c in children.get(sp["id"], [])])
        own = (sp["end_ms"] - sp["start_ms"]) - covered
        out[sp["layer"]] = out.get(sp["layer"], 0.0) + own
    return out


def epoch_commits(lineage, progress):
    """(rows applied, commit time) per stream epoch, in epoch order. Rows
    come from the table's lineage record of the epoch, because Spark's
    numInputRows counts every scan of the batch; the commit time is the end
    of the trigger whose batch id is the epoch. Epochs without a progress
    event have no commit time (None)."""
    ends = {p["batch"]: p["start_ms"] + p["durations"].get("triggerExecution", 0)
            for p in progress}
    return [(r["rows_in"], ends.get(r["epoch"]))
            for r in sorted(lineage, key=lambda r: r["epoch"])]


def chunk_commits(chunk_rows, epochs):
    """Commit time of each delivered chunk, or None if it never committed.
    Chunks are consumed whole and in delivery order, so chunk k is in the
    first epoch whose cumulative row count reaches the rows of chunks
    0..k."""
    out, need, total, i, last = [], 0, 0, 0, None
    for rows in chunk_rows:
        need += rows
        while total < need and i < len(epochs):
            total, last = total + epochs[i][0], epochs[i][1]
            i += 1
        out.append(last if total >= need else None)
    return out


def freshness(deliveries, chunk_rows, epochs):
    """Per delivered chunk: ms from its due time until the epoch holding it
    committed. Returns (latencies, uncommitted chunk count)."""
    commits = chunk_commits(chunk_rows, epochs)
    lat = [at - due for (due, _sent), at in zip(deliveries, commits) if at is not None]
    return lat, sum(1 for at in commits if at is None)


def max_backlog(deliveries, chunk_rows, epochs):
    """Most chunks delivered but not yet committed, seen at any delivery."""
    commits = chunk_commits(chunk_rows, epochs)
    worst = 0
    for k, (_due, sent) in enumerate(deliveries):
        done = sum(1 for at in commits[:k + 1] if at is not None and at <= sent)
        worst = max(worst, k + 1 - done)
    return worst


def lateness(deliveries):
    """How late the open-loop generator sent each chunk, in ms."""
    return [sent - due for due, sent in deliveries]
