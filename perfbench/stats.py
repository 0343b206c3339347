"""Statistics the benchmark reports, kept apart so they can be tested."""

import statistics


def tail(values):
    """The highest percentile with at least ten samples beyond it.

    Returns ``(value, percentile)``: the sample at sorted position
    ``n - 11`` (ten samples lie above it) and its percentile rank
    ``100 * (n - 10) / n``.  With fewer than eleven samples no such
    percentile exists and the maximum is returned with rank 100.
    """
    s = sorted(values)
    if not s:
        raise ValueError("tail of no samples")
    if len(s) < 11:
        return s[-1], 100.0
    i = len(s) - 11
    return s[i], 100.0 * (i + 1) / len(s)


def spread(values):
    """Interquartile distance as a share of the median."""
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2 if q2 else float("inf")


def query_metrics(samples):
    """Latency metrics of the queries workload from ``[name, module, s, ok]``."""
    lat = [s[2] for s in samples]
    t, pct = tail(lat)
    beyond = [s for s in samples if s[2] > t]
    return {
        "query.p50_s": statistics.median(lat),
        "query.tail_s": t,
        "query.tail_pct": pct,
        "Graph.tail_share": (sum(1 for s in beyond if s[1] == "Graph") / len(beyond)
                             if beyond else 0.0),
    }


def layer_table(metrics):
    """Self time per layer and pass, as a short human-readable table."""
    rows = sorted(((k[5:-2], v) for k, v in metrics.items()
                   if k.startswith("self.") and k.endswith("_s")), key=lambda r: -r[1])
    total = sum(v for _, v in rows) or 1.0
    lines = [f"self time per pass ({total:.3f} s of operation wall time):"]
    lines += [f"  {name:<16} {v:9.3f} s  {100 * v / total:5.1f} %" for name, v in rows]
    return "\n".join(lines)
