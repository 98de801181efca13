"""``pos_analytics``: one analyst client in a closed loop over 14
oracle-backed contract queries.

Each pass runs the queries in a seeded shuffled order; one operation is
``ContractQuery.build`` (the ``plans`` layer) followed by ``toPandas`` (the
``sources`` scan and ``operators`` execution, and the result transfer a
dashboard pays). ``spark.catalog.clearCache()`` runs between operations,
outside the timed span, because operators leave persisted frames for the
caller to release. Passes repeat until ``--seconds`` have elapsed; the last
pass always completes, so every query contributes equally to the sample.

Outputs: after the timed loop, every timed result is compared with its
query's DuckDB oracle (``testing.run_oracle`` + ``testing.compare``, the two
halves of ``testing.check_query``; re-running the Spark side as
``check_query`` does would cost another pass per run). Each oracle runs
once per run.
"""

from __future__ import annotations

import os
import random
import time
from concurrent.futures import ThreadPoolExecutor

import pandas as pd

import datagen
from outcome import Outcome
from stats import percentile

QUERIES = (
    "q_case_tiers q_tpch_q14 q_tpch_q21 q_tpch_q8 q_tpch_q20 q_tpch_q18 q_seg_rfm q_seg_abc "
    "q_basket_rules q_cohort_clv q_repurchase_interval q_window_rank q_sessionize "
    "q_funnel_steps"
).split()

#: 0.02 = 120k lineitem rows, 30k orders, 20k events
SCALE = 0.02
WARMUP_SCALE = 0.002


class _Rows:
    """Adapter so ``testing.compare`` can take an already-collected result."""

    def __init__(self, pdf: pd.DataFrame) -> None:
        self._pdf = pdf

    def toPandas(self) -> pd.DataFrame:  # noqa: N802 - Spark's name
        return self._pdf


def _run_query(ctx, cq, data: str, op: str):
    """One operation: build + collect. Returns (result, build_s, total_s)."""
    sc = ctx.spark.sparkContext
    sc.setJobGroup(op, cq.name)
    with ctx.tracer.span("analytics.query", op):
        t0 = time.perf_counter()
        with ctx.tracer.span("plans.build"):
            df = cq.build(ctx.spark, data)
        t1 = time.perf_counter()
        with ctx.tracer.span("operators.execute"):
            pdf = df.toPandas()
        t2 = time.perf_counter()
    ctx.spark.catalog.clearCache()
    return pdf, t1 - t0, t2 - t0


def _warm_query(ctx, cq, data: str) -> None:
    cq.build(ctx.spark, data).toPandas()


def setup(ctx):
    from simple_pos_kafka_pyspark_airflow_spark.plans import load_registry

    data = os.path.join(ctx.work, "data")
    warm_data = os.path.join(ctx.work, "warm_data")
    t0 = time.perf_counter()
    datagen.write_star_schema(data, ctx.seed, SCALE)
    datagen.write_corpus_tables(data, ctx.seed, 50)
    datagen.write_star_schema(warm_data, ctx.seed + 1, WARMUP_SCALE)
    t1 = time.perf_counter()
    registry = load_registry()
    # untimed warm-up: every query once over a small copy of the schema, so
    # query compilation and JIT warm-up stay out of the timed passes; the
    # queries run from one thread per core, since cold planning and code
    # generation are driver-bound and otherwise leave the cores idle
    with ThreadPoolExecutor(ctx.cpus) as pool:
        for f in [pool.submit(_warm_query, ctx, registry[q], warm_data) for q in QUERIES]:
            f.result()
    return {"data": data, "registry": registry,
            "datagen_s": t1 - t0, "warmup_s": time.perf_counter() - t1}


class AnalyticsOutcome(Outcome):
    def __init__(self, state, runs, wall_s: float) -> None:
        super().__init__([r[3] for r in runs], len(runs), wall_s, len(runs))
        self.state = state
        self.runs = runs  # (query, result, build_s, total_s)

    def check(self, ctx) -> None:
        from simple_pos_kafka_pyspark_airflow_spark import testing

        data, registry = self.state["data"], self.state["registry"]
        oracles = {}
        for q, pdf, _, _ in self.runs:
            if q not in oracles:
                oracles[q] = testing.run_oracle(registry[q].oracle, data)
            res = testing.compare(q, _Rows(pdf), oracles[q])
            if not res.ok:
                self.fail(1, str(res))
        self.notes["passes"] = len(self.runs) // len(QUERIES)
        self.notes["datagen_s"] = self.state["datagen_s"]
        self.notes["warmup_s"] = self.state["warmup_s"]
        self.notes["per_query_p50_s"] = {
            q: percentile([r[3] for r in self.runs if r[0] == q], 50) for q in QUERIES
        }
        self.notes["per_query_build_p50_s"] = {
            q: percentile([r[2] for r in self.runs if r[0] == q], 50) for q in QUERIES
        }
        self.runs = [(q, None, b, t) for q, _, b, t in self.runs]  # free the results

    def layers(self, ctx) -> dict[str, float]:
        builds = [r[2] for r in self.runs]
        return {"plans.build_p50_s": percentile(builds, 50), "plans.build_sum_s": sum(builds)}


def measure(ctx, state) -> AnalyticsOutcome:
    rng = random.Random(ctx.seed)
    registry, data = state["registry"], state["data"]
    runs, errors = [], []
    t0 = time.perf_counter()
    while time.perf_counter() - t0 < ctx.seconds:
        order = list(QUERIES)
        rng.shuffle(order)
        for q in order:
            op = f"op{len(runs) + len(errors)}"
            try:
                pdf, build_s, total_s = _run_query(ctx, registry[q], data, op)
            except Exception as exc:  # a failed query is counted; the client goes on
                errors.append(f"{q}: {type(exc).__name__}: {exc}"[:300])
                continue
            runs.append((q, pdf, build_s, total_s))
    out = AnalyticsOutcome(state, runs, time.perf_counter() - t0)
    out.attempted += len(errors)
    for e in errors:
        out.fail(1, e)
    return out
