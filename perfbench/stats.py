"""Statistics helpers of the benchmark: percentiles and the self times of
the traced run's spans."""
import math

MIN_TAIL = 10


def percentile(values, q):
    """Nearest-rank `q`-th percentile of `values`, one value per independent
    sample (a generator chunk, an email).

    A percentile is only as good as the samples beyond it: this refuses
    (ValueError) when fewer than 10 samples lie past the rank on the tail
    side -- above it for q >= 50, below it for q < 50.
    """
    xs = sorted(values)
    if not xs:
        raise ValueError("no samples")
    rank = max(1, math.ceil(q / 100.0 * len(xs)))
    beyond = len(xs) - rank if q >= 50 else rank - 1
    if beyond < MIN_TAIL:
        raise ValueError(
            f"p{q} needs {MIN_TAIL} samples beyond it; {len(xs)} samples "
            f"leave {beyond}")
    return xs[rank - 1]


def covered(start, end, intervals):
    """Length of the union of `intervals`, clipped to [start, end]."""
    clipped = sorted((max(s, start), min(e, end)) for s, e in intervals
                     if min(e, end) > max(s, start))
    total, cur_s, cur_e = 0.0, None, None
    for s, e in clipped:
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def assign_parents(spans, container_kind="batch"):
    """Give each span that names a `unit` but no parent the `container_kind`
    span of the same unit it overlaps most. Returns the spans (mutated)."""
    by_unit = {}
    for s in spans:
        if s["kind"] == container_kind and s.get("unit"):
            by_unit.setdefault(s["unit"], []).append(s)
    for s in spans:
        if s.get("parent") or not s.get("unit") or s["kind"] == container_kind:
            continue
        best, best_overlap = None, 0.0
        for c in by_unit.get(s["unit"], ()):
            overlap = min(c["end"], s["end"]) - max(c["start"], s["start"])
            if overlap > best_overlap:
                best, best_overlap = c, overlap
        if best is not None:
            s["parent"] = best["id"]
    return spans


def self_times(spans):
    """Self time of each span: its duration minus the part its children
    cover. Returns {span id: self ms}."""
    children = {}
    for s in spans:
        if s.get("parent"):
            children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    return {s["id"]: (s["end"] - s["start"])
            - covered(s["start"], s["end"], children.get(s["id"], ()))
            for s in spans}
