"""What a workload's measured phase hands back to the harness."""

from __future__ import annotations

from stats import percentile


class Outcome:
    """Latency samples, throughput, and the operation tally of one run.

    A workload subclasses this and fills in ``check`` (verify every
    output, counting each wrong, missing or failed operation into
    ``failed``) and ``layers`` (its per-layer metrics)."""

    def __init__(self, latencies: list[float], work_done: float, wall_s: float,
                 attempted: int) -> None:
        if not latencies:
            raise ValueError("a run produced no latency samples")
        self.latencies = latencies
        self.work_done = work_done
        self.wall_s = wall_s
        self.attempted = attempted
        self.failed = 0
        self.problems: list[str] = []
        self.notes: dict = {}

    def fail(self, n: int, problem: str) -> None:
        self.failed += n
        self.problems.append(problem)

    def latency_p50(self) -> float:
        return percentile(self.latencies, 50)

    def latency_p90(self) -> float:
        return percentile(self.latencies, 90)

    def throughput(self) -> float:
        return self.work_done / self.wall_s

    def samples(self) -> int:
        return len(self.latencies)

    def check(self, ctx) -> None:
        raise NotImplementedError

    def layers(self, ctx) -> dict[str, float]:
        raise NotImplementedError
