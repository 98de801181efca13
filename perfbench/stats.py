"""Pure helpers the benchmark's numbers rest on (self-tested in
``test_selfcheck.py``): percentiles, the quartile spread the steadiness
rule uses, file-to-batch freshness attribution for the CDC stream, and the
last-write-wins replay oracle for the CDC warehouse."""

from __future__ import annotations

import math
import statistics
from collections.abc import Iterable, Mapping, Sequence


def percentile(values: Sequence[float], q: float) -> float:
    """The ``q``-th percentile (0..100), linear between closest ranks
    (numpy's default method). Raises on an empty sample."""
    if not values:
        raise ValueError("percentile of an empty sample")
    if not 0.0 <= q <= 100.0:
        raise ValueError(f"percentile {q} outside 0..100")
    xs = sorted(values)
    pos = (len(xs) - 1) * q / 100.0
    lo = math.floor(pos)
    hi = math.ceil(pos)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def quartile_spread(values: Sequence[float]) -> float:
    """Distance between the first and third quartile as a share of the
    median, with quartiles as ``statistics.quantiles(values, n=4)`` gives
    them — the run-to-run steadiness measure every bound is judged by."""
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)


def attribute_freshness(
    released: Mapping[str, float],
    applied: Mapping[str, Mapping[str, float]],
) -> tuple[dict[str, float], list[str]]:
    """Freshness of each released file: the time from its release to the
    commit of the LAST micro-batch, over every query, that applied it.

    ``released`` maps file name -> release time (the generator's due time,
    so a stalled generator counts against freshness). ``applied`` maps
    query name -> {file name -> commit time of the batch that read it}.
    A file is fresh only once every query has committed it; files some
    query never committed are returned as the second element (failures).
    """
    fresh: dict[str, float] = {}
    missing: list[str] = []
    for name, t_rel in released.items():
        commits = [per_query.get(name) for per_query in applied.values()]
        if not commits or any(c is None for c in commits):
            missing.append(name)
            continue
        fresh[name] = max(commits) - t_rel
    return fresh, sorted(missing)


def file_commit_times(
    source_log: Iterable[Mapping], commit_times: Mapping[int, float]
) -> dict[str, float]:
    """Join one query's file-source log entries (``{"path", "batchId"}``,
    as Spark writes them under ``<checkpoint>/sources/0``) with its batch
    commit times: file base name -> commit time of the batch that read
    it. Entries of batches that never committed are left out."""
    out: dict[str, float] = {}
    for entry in source_log:
        t = commit_times.get(int(entry["batchId"]))
        if t is not None:
            out[entry["path"].rsplit("/", 1)[-1]] = t
    return out


def max_backlog(released: Mapping[str, float], applied_at: Mapping[str, float]) -> int:
    """Most files released but not yet applied, seen at any release
    instant. ``applied_at`` maps file name -> the time it was applied by
    every query (release + freshness); a file missing there counts as
    never applied."""
    worst = 0
    for t in released.values():
        pending = sum(
            1 for f, t_rel in released.items()
            if t_rel <= t and applied_at.get(f, math.inf) > t
        )
        worst = max(worst, pending)
    return worst


def replay_lww(
    events: Iterable[tuple[str, Mapping, int]], pks: Mapping[str, str]
) -> dict[str, dict[object, dict]]:
    """Pure-Python last-write-wins replay of ``(topic, payload, seq)``
    events into ``{entity: {pk: row}}``: ``<entity>_add``/``_edit``
    replace the row, ``<entity>_remove`` deletes it, later ``seq`` wins.
    The row keeps every payload field except ``seq``."""
    state: dict[str, dict[object, dict]] = {e: {} for e in pks}
    for topic, payload, _seq in sorted(events, key=lambda e: e[2]):
        entity, op = topic.rsplit("_", 1)
        key = payload[pks[entity]]
        if op == "remove":
            state[entity].pop(key, None)
        else:
            state[entity][key] = {k: v for k, v in payload.items() if k != "seq"}
    return state
