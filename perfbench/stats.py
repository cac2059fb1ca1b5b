"""Statistics of the benchmark harness: percentiles, interval algebra for
self time, the per-query layer ledger and failure fractions."""
import math

# A query's layer split reconciles with its wall time when the residual is
# within LEDGER_TOL_S plus LEDGER_TOL_FRAC of the wall: listener timestamps
# are whole milliseconds, so each job or phase boundary may be off by 1 ms.
LEDGER_TOL_S = 0.005
LEDGER_TOL_FRAC = 0.01


def median(xs):
    xs = sorted(xs)
    if not xs:
        raise ValueError("median of no samples")
    n = len(xs)
    return xs[n // 2] if n % 2 else (xs[n // 2 - 1] + xs[n // 2]) / 2


def tail_percentile(xs, p, beyond=10):
    """Nearest-rank ``p``-th percentile, or None unless at least ``beyond``
    samples lie strictly above the rank it picks."""
    xs = sorted(xs)
    n = len(xs)
    if n == 0:
        return None
    k = max(1, math.ceil(p / 100.0 * n))
    return xs[k - 1] if n - k >= beyond else None


def failed_frac(failed, attempted):
    """The failure share with its base."""
    if attempted < 1:
        raise ValueError("failed_frac needs at least one attempted operation")
    if not 0 <= failed <= attempted:
        raise ValueError(f"failed={failed} outside [0, attempted={attempted}]")
    return {"value": failed / attempted, "failed": failed, "attempted": attempted}


def union(intervals, lo=None, hi=None):
    """Total length covered by ``intervals`` ([start, end] pairs), clipped to
    [lo, hi] when given."""
    iv = []
    for a, b in intervals:
        if lo is not None:
            a = max(a, lo)
        if hi is not None:
            b = min(b, hi)
        if b > a:
            iv.append((a, b))
    total = 0
    cur_a = cur_b = None
    for a, b in sorted(iv):
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_time(span, children):
    """A span's duration minus the part of it that its children cover; the
    children may overlap each other and stick out of the span."""
    a, b = span
    return (b - a) - union(children, a, b)


def sample_ledger(sample, jobs, phases):
    """Layer split of one query sample (times in epoch microseconds).

    ``jobs`` are the sample's jobs and ``phases`` the Catalyst phase
    intervals of its query executions. The split is

        build    builder time outside jobs and Catalyst phases
        catalyst Catalyst analysis, optimization and planning, outside jobs
        in_job   time covered by at least one job
        out_job  action time outside jobs and Catalyst phases

    ``build`` and ``out_job`` are clipped to their spans and ``in_job`` and
    ``catalyst`` are not, so the residual (sum minus wall) is the job and
    phase time that falls outside the query -- zero when every attributed
    interval lies inside it.
    """
    s, m, e = sample["start_us"], sample["build_end_us"], sample["end_us"]
    job_iv = [(j["start_us"], j["end_us"]) for j in jobs if j["end_us"] >= j["start_us"]]
    phase_iv = [iv for p in phases for iv in p]
    in_job = union(job_iv)
    catalyst = union(job_iv + phase_iv) - in_job
    busy = job_iv + phase_iv
    build = self_time((s, m), busy)
    out_job = self_time((m, e), busy)
    wall = e - s
    residual = build + catalyst + in_job + out_job - wall
    return {"build_self_s": build / 1e6, "catalyst_s": catalyst / 1e6,
            "in_job_s": in_job / 1e6, "out_job_s": out_job / 1e6,
            "wall_s": wall / 1e6, "residual_s": residual / 1e6,
            "reconciled": abs(residual) / 1e6 <= LEDGER_TOL_S + LEDGER_TOL_FRAC * wall / 1e6}
