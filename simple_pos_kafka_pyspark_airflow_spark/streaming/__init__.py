"""Structured Streaming layer (SURVEY.md §2.9, build-plan M5).

Re-expresses the reference's hand-rolled streaming stack — 9 threaded Kafka
consumers with infinite poll loops (``kafka_consumer.py:13-21,379-409``),
a tracker-file id sequence (``:56-68``), running stock state (``:111-117``),
daily file partitioning (``:82-83``) and the hourly mtime micro-batch
(``POS_spark_dag.py:66-79``) — as declarative Structured Streaming:

- ``ingest``  : Kafka / file JSON sources with declared schemas (T1, S4, S10)
- ``cdc``     : add/edit/remove topics → ``foreachBatch`` merge (T6, S7/S8)
- ``state``   : keyed state — id sequence, stock levels (T2/T3)
- ``windows`` : tumbling/sliding/session windows + watermarks (T4/T8)
- ``joins``   : watermarked stream-stream interval joins (extension)
- ``pipeline``: the 9-topic POS topology end-to-end (T1/T6 composed)
- ``corpus``  : LLM corpus ingest — quality gate, bounded exact dedup,
                incremental near-dup / span indexes (extension)
- ``ann``     : ingest-time incremental IVF similarity index (extension)
- ``indexlog``: the replay-safe append log under every persistent index
                of ``corpus`` and ``ann``

Late data, which the reference silently mishandles (T8: the mtime window can
miss or double-process files), is handled with watermarks + idempotent
merges — a deliberate semantic upgrade documented in SURVEY.md §2.9.
"""

from . import ann, cdc, corpus, indexlog, ingest, joins, pipeline, state, windows

__all__ = [
    "ann", "cdc", "corpus", "indexlog", "ingest", "joins", "pipeline", "state", "windows"
]
