"""Statistics for the benchmark's result line, kept apart from the
runner so they can be unit-tested (``python3 -m unittest discover -s
perfbench -p 'test_*.py'``)."""
import math
import statistics

# Percentiles a tail figure may be reported at, highest first.
TAIL_LADDER = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)
# A percentile is reportable only with at least this many samples
# above it.
TAIL_MIN_BEYOND = 10


def percentile(values, pct):
    """Nearest-rank percentile: the smallest sample with at least
    ``pct`` percent of the samples at or below it."""
    if not values:
        return None
    xs = sorted(values)
    rank = max(1, math.ceil(pct / 100.0 * len(xs)))
    return xs[rank - 1]


def tail(values):
    """The highest ladder percentile that has at least TAIL_MIN_BEYOND
    samples beyond it, as ``(value, percentile, count)``; value and
    percentile are None when there are too few samples for any."""
    n = len(values)
    for pct in TAIL_LADDER:
        if n * (1 - pct / 100.0) >= TAIL_MIN_BEYOND - 1e-9:
            return percentile(values, pct), pct, n
    return None, None, n


def median(values):
    return statistics.median(values) if values else None


def latency_summary(values):
    """Median, tail (by the rule above) and sample count of one set of
    latency samples."""
    value, pct, n = tail(values)
    return {"p50": median(values), "tail": value, "tail_pct": pct, "n": n}


def outcome_counts(raw, oracle_failed=0, oracle_checked=0):
    """``(attempted, failed)`` for the result line: every timed
    operation and every output check is attempted once; an operation
    that errors and a check that does not hold each count as failed."""
    attempted = raw["ops"] + raw["checks"] + oracle_checked
    failed = raw["op_errors"] + raw["check_failed"] + oracle_failed
    return attempted, failed


def bytes_per_write(log_bytes_added, writes_acked):
    """Event-log bytes added per acknowledged write; None without
    writes."""
    if writes_acked <= 0:
        return None
    return log_bytes_added / writes_acked
