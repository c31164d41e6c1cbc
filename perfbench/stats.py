"""The benchmark's own arithmetic: tail percentile selection, open-loop lag,
span self time, and attribution of Spark jobs to benchmark phases. Pure
functions, no Spark."""

from __future__ import annotations

from dataclasses import dataclass
from statistics import median


@dataclass(frozen=True)
class Tail:
    """The highest percentile the samples support, with how it was chosen."""

    q: float          # the percentile reported, in [0.5, 1]
    value: float
    n: int            # samples in total
    beyond: int       # samples strictly above the reported rank


def tail(values: list[float], min_beyond: int = 10) -> Tail:
    """The highest percentile that keeps at least ``min_beyond`` samples
    beyond it, and never below the median: with ``n`` samples that is the
    sample of rank ``n - 1 - min_beyond`` (0-based, ascending). Fewer than
    ``2 * min_beyond + 1`` samples support no percentile above the median, so
    the median is reported and ``q`` says so."""
    if not values:
        raise ValueError("tail of no samples")
    xs = sorted(values)
    n = len(xs)
    med_rank = (n - 1) // 2
    rank = max(n - 1 - min_beyond, med_rank)
    if rank == med_rank:
        return Tail(0.5, median(xs), n, n - 1 - med_rank)
    return Tail(rank / (n - 1), xs[rank], n, n - 1 - rank)


def lags(due: list[float], done: dict[int, float]) -> list[float]:
    """Open-loop lag per item: time from when item ``i`` was DUE (its
    scheduled publish time, not when the publisher got to it) to when the
    result containing it returned. ``done`` maps item index to completion
    time; an item never completed raises, since its lag is unbounded."""
    missing = [i for i in range(len(due)) if i not in done]
    if missing:
        raise ValueError(f"items never completed: {missing}")
    out = [done[i] - due[i] for i in range(len(due))]
    if any(x < 0 for x in out):
        raise ValueError("an item completed before it was due")
    return out


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals)
    total = 0.0
    cur_a = cur_b = None
    for a, b in clipped:
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_times(spans: list[dict]) -> dict[int, float]:
    """Self time of every span: its duration minus the part of its interval
    covered by its direct children (children that overlap each other, as
    concurrent batches do, are counted once). Spans are dicts with ``id``,
    ``parent``, ``start`` and ``end``."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
    return {
        s["id"]: (s["end"] - s["start"])
        - covered(kids.get(s["id"], []), s["start"], s["end"])
        for s in spans
    }


def attribute_jobs(
    phases: list[tuple[str, int, int]], job_ids: list[int]
) -> dict[str, list[int]]:
    """Assign Spark job ids to benchmark phases by id range.

    ``phases`` holds ``(name, first_job, last_job)`` with inclusive bounds,
    taken as the highest job id seen before and after each phase ran. Job
    ids increase monotonically within a SparkContext and the phases run one
    after another, so ranges cannot overlap; a job outside every range (run
    between phases, e.g. by a correctness check) is left out. Job groups
    cannot do this job: the replayer's pool threads do not inherit them."""
    spans = sorted(phases, key=lambda p: (p[1], p[2]))
    for (_, _, hi_a), (name_b, lo_b, _) in zip(spans, spans[1:]):
        if lo_b <= hi_a:
            raise ValueError(f"phase {name_b} overlaps the one before it")
    out: dict[str, list[int]] = {name: [] for name, _, _ in phases}
    for j in sorted(job_ids):
        for name, lo, hi in spans:
            if lo <= j <= hi:
                out[name].append(j)
                break
    return out
