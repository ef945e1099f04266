"""The benchmark's own arithmetic: percentiles, emit lag, failure ratio
and layer self time. Pure functions, covered by test_metrics.py."""
import math


def percentile(values, q, min_beyond=10):
    """The q-th percentile (0 < q < 100) by the nearest-rank rule, or None
    when fewer than `min_beyond` samples lie above it: a tail percentile
    of a result latency is only reported when the sample supports it.

    Nearest rank: the smallest value with at least q% of the samples at
    or below it, i.e. sorted(values)[ceil(q/100 * n) - 1].
    """
    n = len(values)
    if n == 0:
        return None
    rank = max(1, math.ceil(q / 100.0 * n))
    if n - rank < min_beyond:
        return None
    return sorted(values)[rank - 1]


def median(values):
    """Middle value (mean of the two middle values for even counts)."""
    s = sorted(values)
    n = len(s)
    if n == 0:
        return None
    return s[n // 2] if n % 2 else (s[n // 2 - 1] + s[n // 2]) / 2.0


def emit_lags(arrivals, due_ms):
    """Per result: arrival at the sink minus the moment it became due.

    `arrivals` maps a result key to the list of its arrival times (ms);
    `due_ms(key)` gives the time the result was due. A key that arrived
    more than once is measured at its first arrival; duplicates are a
    correctness failure, counted by `compare`.
    """
    return {k: min(ts) - due_ms(k) for k, ts in arrivals.items() if ts}


def window_due(window_end_ms, delay_ms):
    """A window is due once the watermark can pass its end: at the window
    end plus the watermark delay, in event time."""
    return window_end_ms + delay_ms


def compare(expected, arrived):
    """Check arrived results against expected ones.

    `expected`: key -> values; `arrived`: key -> list of values (one per
    arrival). Every expected key must arrive exactly once with equal
    values; an arrived key that was not expected is wrong. Returns
    (attempted, failures) where attempted counts expected keys plus
    unexpected arrivals and failures lists (kind, key) for each missing,
    duplicated, wrong or unexpected result.
    """
    failures = []
    for k, v in expected.items():
        got = arrived.get(k, [])
        if not got:
            failures.append(("missing", k))
        elif len(got) > 1:
            failures.append(("duplicated", k))
        elif tuple(got[0]) != tuple(v):
            failures.append(("wrong", k))
    extra = [k for k in arrived if k not in expected]
    failures.extend(("unexpected", k) for k in extra)
    return len(expected) + len(extra), failures


def failed_frac(failed, attempted):
    """failed / attempted, the base being every result or call the run
    attempted. An empty run has no base and is an error."""
    if attempted <= 0:
        raise ValueError("no attempted operations: failed_frac has no base")
    return failed / attempted


def tally(attempted, failures, thrown, counted=()):
    """(attempted, failed) over results and calls, each counted once.

    `attempted` counts the results and calls the runner checked and
    `failures` its failed ones; `thrown` lists (call, message) for every
    call that threw. A thrown call whose label is in `counted` is already
    among `attempted` (and not among `failures`), so it adds to failed
    only; any other thrown call adds to both.
    """
    extra = sum(1 for what, _ in thrown if what not in counted)
    return attempted + extra, len(failures) + len(thrown)


def self_times(spans):
    """Self time per span name: each span's duration minus the part of
    its interval covered by its children (children clipped to the parent,
    overlaps between children counted once). `spans` are
    (id, parent, name, start, end) with parent 0 for roots."""
    children = {}
    for s in spans:
        children.setdefault(s[1], []).append(s)
    out = {}
    for sid, _, name, start, end in spans:
        ivs = sorted((max(c[3], start), min(c[4], end))
                     for c in children.get(sid, []) if c[4] > start and c[3] < end)
        covered, cur_s, cur_e = 0.0, None, None
        for a, b in ivs:
            if cur_e is None or a > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = a, b
            else:
                cur_e = max(cur_e, b)
        if cur_e is not None:
            covered += cur_e - cur_s
        out[name] = out.get(name, 0.0) + (end - start) - covered
    return out
