"""Pure helpers shared by run.py and compare.py (and their tests)."""
import math
import random
import statistics

# Results of these queries are ALS floats: compared row by row within
# REL_TOL/ABS_TOL instead of by exact digest.
REL_TOL = 1e-3
ABS_TOL = 1e-6
# Alg. 1 traces: (iter, objective, rmse) rows whose objective must not rise.
TRACES = {"q_antidote_trace", "q_antidote_trace_grp", "q_antidote_trace_ind"}
# Stamp keys that must agree between two run sets before they are compared.
STAMP_KEYS = ("nproc", "xmx_mb", "sf", "trace", "seconds")


def pass_orders(names, seed, n_passes):
    """The serve-phase issue order: one seeded permutation per pass."""
    out = []
    for p in range(n_passes):
        order = list(names)
        random.Random(f"{seed}:{p}").shuffle(order)
        out.append(order)
    return out


def median(xs):
    return statistics.median(xs) if xs else 0.0


def tail(values, beyond=10):
    """The highest percentile with at least `beyond` samples above it.

    Returns (percentile, value, n) with nearest-rank semantics: the value
    is the (beyond+1)-th largest sample, so exactly `beyond` samples lie
    beyond it; None when there are not enough samples.
    """
    n = len(values)
    if n < beyond + 1:
        return None
    s = sorted(values)
    rank = n - beyond          # 1-based rank of the reported sample
    return (100.0 * rank / n, s[rank - 1], n)


def spread(values):
    """Inter-quartile distance as a share of the median."""
    q1, _, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return (q3 - q1) / med if med else float("inf")


def _close(a, b):
    if isinstance(a, (int, float)) and isinstance(b, (int, float)) \
            and not isinstance(a, bool) and not isinstance(b, bool):
        if math.isnan(a) or math.isnan(b):
            return math.isnan(a) and math.isnan(b)
        return abs(a - b) <= ABS_TOL + REL_TOL * max(abs(a), abs(b))
    return a == b


def check_call(name, got, expected):
    """Compare one call's output with its recorded expectation.

    Returns None when correct, else a one-line reason.
    """
    if expected is None:
        return f"{name}: no expected result recorded"
    if "rows" in expected:
        rows, want = got.get("rows"), expected["rows"]
        if rows is None or len(rows) != len(want):
            return f"{name}: {len(rows or [])} rows, expected {len(want)}"
        for i, (r, w) in enumerate(zip(rows, want)):
            if len(r) != len(w) or not all(map(_close, r, w)):
                return f"{name}: row {i} {r} differs from {w}"
        if name in TRACES:
            objs = [r[1] for r in rows]
            for a, b in zip(objs, objs[1:]):
                if b > a + ABS_TOL:
                    return f"{name}: objective rose {a} -> {b}"
        return None
    for k in ("count", "h1", "h2"):
        if str(got.get(k)) != str(expected[k]):
            return f"{name}: {k} {got.get(k)} != expected {expected[k]}"
    lo, hi = got.get("rating_min"), got.get("rating_max")
    if lo is not None and not (1.0 <= lo and hi <= 5.0):
        return f"{name}: ratings span [{lo}, {hi}], outside [1, 5]"
    return None


def expectation(call):
    """The part of a call's output that is recorded as its expectation."""
    if "rows" in call:
        return {"rows": call["rows"]}
    return {k: call[k] for k in ("count", "h1", "h2")}


def stamp_mismatch(a, b):
    """First stamp key on which two result stamps disagree, else None."""
    for k in STAMP_KEYS:
        if a.get(k) != b.get(k):
            return k
    return None


def win_fraction(base, change, better):
    """Share of seed-paired runs the change wins; ties count for neither."""
    pairs = [(base[s], change[s]) for s in base if s in change]
    if not pairs:
        return None
    wins = sum(1 for b, c in pairs
               if (c < b if better == "lower" else c > b))
    return wins / len(pairs)
