"""``corpus_ingest``: closed-loop micro-batches through the LLM corpus
front door with every persistent tier enabled.

Each operation is one micro-batch of ``documents`` joined with their
embeddings (``datagen.corpus_docs``: planted exact copies, near copies and
re-crawled URLs) passed through ``streaming.corpus.ingest_corpus_batch``
with the url, digest, minhash, ANN, span, line and substring tiers — the
composition ``bench_ingest.py`` calls ``all_tiers`` — and appended to a
parquet store. An untimed warm-up batch lands first, so every timed batch
probes non-empty indexes, and index state grows with every batch. Batches
repeat until ``--seconds`` have elapsed; the last batch always completes.

The traced run times each tier's public call (``filter_batch`` /
``record_batch`` / ``dedup_batch`` / ``clean_batch``) on the index objects
the benchmark builds. The quality gate (``corpus_ingest``) is lazy: its
time lands in the first eager tier after it, the digest tier.

Outputs: no ``doc_id``, text digest or canonical URL may land twice.
"""

from __future__ import annotations

import os
import time
from contextlib import contextmanager

import pandas as pd

import datagen
from outcome import Outcome
from tracing import COUNT_GROUP, dir_bytes

BATCH_DOCS = 100
WARMUP_DOCS = 20
SCHEMA = "doc_id long, source string, url string, text string, embedding array<float>"
#: tier -> (attribute of the index object, methods the ladder calls on it)
TIERS = {
    "url": ("url_index", ("filter_batch", "record_batch")),
    "digest": ("digest_index", ("dedup_batch",)),
    "minhash": ("minhash_index", ("dedup_batch",)),
    "ann": ("ann_index", ("dedup_batch",)),
    "span": ("span_index", ("clean_batch",)),
    "line": ("line_index", ("clean_batch",)),
    "substring": ("substring_index", ("clean_batch",)),
}


def _indexes(spark, root: str) -> dict:
    from simple_pos_kafka_pyspark_airflow_spark.streaming import ann, corpus

    return {
        "url_index": corpus.IncrementalUrlIndex(spark, os.path.join(root, "url")),
        "digest_index": corpus.IncrementalDigestIndex(spark, os.path.join(root, "digest")),
        "minhash_index": corpus.IncrementalMinhashIndex(spark, os.path.join(root, "minhash")),
        "ann_index": ann.IncrementalIvfIndex(spark, os.path.join(root, "ann"), id_col="doc_id"),
        "span_index": corpus.IncrementalSpanIndex(spark, os.path.join(root, "span")),
        "line_index": corpus.IncrementalLineIndex(spark, os.path.join(root, "line")),
        "substring_index": corpus.IncrementalSubstringIndex(spark, os.path.join(root, "substring")),
    }


def _ingest(batch, batch_id: int, idx: dict, sink: str) -> None:
    from simple_pos_kafka_pyspark_airflow_spark.streaming.corpus import ingest_corpus_batch

    out = ingest_corpus_batch(batch, batch_id, ann_threshold=0.9, **idx)
    out.write.mode("append").parquet(sink)


def _frame(spark, docs: dict, lo: int, hi: int):
    return spark.createDataFrame(pd.DataFrame({k: v[lo:hi] for k, v in docs.items()}), SCHEMA)


def setup(ctx):
    # one document stream: the warm-up batch lands first, into the same
    # indexes and store the timed batches then probe and grow; generating
    # documents is cheap, so make more than any run can use (a batch per
    # measured second, plus slack); each batch's DataFrame is built only
    # when the client sends it
    n_max = WARMUP_DOCS + BATCH_DOCS * (int(ctx.seconds) + 4)
    docs = datagen.corpus_docs(ctx.seed, n_max)
    idx = _indexes(ctx.spark, os.path.join(ctx.work, "index"))
    sink = os.path.join(ctx.work, "landed")
    _ingest(_frame(ctx.spark, docs, 0, WARMUP_DOCS), 0, idx, sink)
    return {"idx": idx, "sink": sink, "docs": docs, "n_docs": n_max}


class _Counted:
    """Traced run only: wrap one tier's public methods in spans and count
    what they keep — rows for the gates, text characters for the
    excision tiers. Counting runs after the tier's span closes, in its own
    span and under its own job group, so the ``operators``/``sources``
    sums leave its Spark jobs out."""

    def __init__(self, ctx, tier: str, obj, methods) -> None:
        self.rows_in = self.rows_out = 0
        self.chars_in = self.chars_out = 0
        span = "streaming.ann.dedup" if tier == "ann" else f"streaming.corpus.{tier}"
        for m in methods:
            inner = getattr(obj, m)
            setattr(obj, m, self._wrap(ctx, span, m, inner))

    def _wrap(self, ctx, span: str, method: str, inner):
        from pyspark.sql import functions as F

        def call(docs, *args, **kwargs):
            with ctx.tracer.span(span):
                out = inner(docs, *args, **kwargs)
            if method == "record_batch":
                return out
            with ctx.tracer.span("perfbench.count"), _job_group(ctx.spark, COUNT_GROUP):
                if method == "clean_batch":
                    self.chars_in += docs.agg(F.sum(F.length("text"))).first()[0] or 0
                    self.chars_out += out.agg(F.sum(F.length("text_clean"))).first()[0] or 0
                else:
                    self.rows_in += docs.count()
                    self.rows_out += out.count()
            return out

        return call

    def keep_ratio(self) -> float:
        if self.chars_in:
            return self.chars_out / self.chars_in
        return self.rows_out / self.rows_in if self.rows_in else 0.0


@contextmanager
def _job_group(spark, group: str):
    """Run the block's Spark jobs under ``group``, then restore the
    caller's job group."""
    sc = spark.sparkContext
    prev = sc.getLocalProperty("spark.jobGroup.id"), sc.getLocalProperty("spark.job.description")
    sc.setJobGroup(group, group)
    try:
        yield
    finally:
        sc.setLocalProperty("spark.jobGroup.id", prev[0])
        sc.setLocalProperty("spark.job.description", prev[1])


def measure(ctx, state) -> "CorpusOutcome":
    idx, sink, docs = state["idx"], state["sink"], state["docs"]
    counted = {t: _Counted(ctx, t, idx[attr], methods)
               for t, (attr, methods) in TIERS.items()} if ctx.trace else {}
    lat, errors = [], []
    wall = 0.0  # time spent in batches: the client builds its next batch between them
    for i, lo in enumerate(range(WARMUP_DOCS, state["n_docs"], BATCH_DOCS)):
        if wall >= ctx.seconds:
            break
        batch = _frame(ctx.spark, docs, lo, lo + BATCH_DOCS)
        op = f"batch{i}"
        ctx.spark.sparkContext.setJobGroup(op, "corpus ingest")
        with ctx.tracer.span("corpus.batch", op):
            b0 = time.perf_counter()
            try:
                _ingest(batch, i + 1, idx, sink)
                error = None
            except Exception as exc:  # a failed batch is counted; the loop goes on
                error = f"{op}: {type(exc).__name__}: {exc}"[:300]
            took = time.perf_counter() - b0
        wall += took
        if error:
            errors.append(error)
        else:
            lat.append(took)
    n_docs = (len(lat) + len(errors)) * BATCH_DOCS
    out = CorpusOutcome(lat, len(lat) * BATCH_DOCS, wall, attempted=n_docs)
    for e in errors:
        out.fail(BATCH_DOCS, e)
    out.sink, out.idx, out.counted = sink, idx, counted
    return out


class CorpusOutcome(Outcome):
    def check(self, ctx) -> None:
        from pyspark.sql import functions as F

        from simple_pos_kafka_pyspark_airflow_spark.llm.dedup import canonical_url

        landed = ctx.spark.read.parquet(self.sink)
        row = landed.agg(
            F.count("*").alias("n"),
            F.countDistinct("doc_id").alias("ids"),
            F.countDistinct("text_sha").alias("digests"),
            F.countDistinct(canonical_url(F.col("url"))).alias("urls"),
        ).first()
        for key in ("ids", "digests", "urls"):
            if row[key] != row["n"]:
                self.fail(row["n"] - row[key], f"{row['n'] - row[key]} landed rows repeat a {key[:-1]}")
        if row["n"] == 0:
            self.fail(1, "nothing landed")
        self.notes["landed"] = row["n"]

    def layers(self, ctx) -> dict[str, float]:
        out = {}
        for tier, (attr, _) in TIERS.items():
            prefix = "streaming.ann." if tier == "ann" else f"streaming.corpus.{tier}_"
            out[prefix + ("dedup_s" if tier == "ann" else "s")] = ctx.tracer.total(
                "streaming.ann.dedup" if tier == "ann" else f"streaming.corpus.{tier}")
            out[prefix + "index_bytes"] = float(dir_bytes(self.idx[attr].path))
            if tier in self.counted:
                out[prefix + "keep_ratio"] = self.counted[tier].keep_ratio()
        if "url" in self.counted and self.counted["url"].rows_out:
            out["llm.gate_keep_ratio"] = (
                self.counted["digest"].rows_in / self.counted["url"].rows_out)
        return out
