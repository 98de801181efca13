"""The replay-safe append log under every persistent ingest index.

The corpus indexes (``streaming.corpus``) and the ANN index
(``streaming.ann``) keep their state the same way: parquet rows appended
per micro-batch to one directory, read back whole, and periodically
compacted. ``IndexLog`` is that protocol, written once; each index keeps
only its own algorithm and names its key (and count) columns.

- **discovery** (``landed``): probed through the Hadoop FileSystem of the
  path's own scheme, so an index on S3/HDFS/ABFS is found (a driver-local
  ``os`` probe would answer "no index" there and silently skip dedup).
  None ONLY for a never-committed path: missing, empty, or holding only
  hidden debris (``_temporary`` from a crashed first append, ``_SUCCESS``).
  A committed path that fails to read as parquet raises.
- **append**: plain parquet append — not transactional, so a
  ``foreachBatch`` replay after a crash between the append and the
  checkpoint commit lands the batch's rows twice. The two log kinds make
  that harmless in different ways:

  * a *set* log (``count=None``: minhash, digest, URL, IVF) stores facts
    keyed by ``keys``. Duplicated facts cannot change a decision — every
    index's probe ignores matches with the same id, so a replayed
    document is never rejected against its own landed row.
  * a *count* log (``count=`` the count column: span, line, substring,
    CMS, word count, k-anonymity classes) stores per-batch counts tagged
    ``_batch`` with the ``foreachBatch`` batch id. Counting is
    threshold-sensitive, so reads collapse ``(keys, _batch)`` duplicates
    before summing (a replayed earlier batch counts once), and
    ``with_history`` also skips rows tagged with the CURRENT batch id (a
    replayed batch must not count its own landed rows). A replayed batch
    therefore sees exactly the history its first run saw.
- **compaction** (``compact``): a set log keeps one row per key; a count
  log folds its history into one row per key under the sentinel batch
  ``-1``. Run count-log compaction only at a quiesced point (stream
  stopped, or the last batch's checkpoint committed): after the fold a
  replay of a pre-compaction batch can no longer exclude its own rows.
- **atomic swap** (``replace``): the new snapshot is staged beside the
  live directory and swapped in (``sources.io.overwrite_atomic``), so a
  crash leaves the old or the new index, never a half-written one.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.io import fs_dir_has_data, overwrite_atomic

BATCH = "_batch"


class IndexLog:
    """One index directory: ``keys`` identify a row, ``count`` names the
    count column of a count log (None for a set log), ``partition_by``
    is the directory layout every write keeps."""

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        keys: list[str],
        count: str | None = None,
        partition_by: tuple[str, ...] = (),
    ) -> None:
        self.spark = spark
        self.path = path
        self.keys = list(keys)
        self.count = count
        self.partition_by = tuple(partition_by)

    def landed(self) -> DataFrame | None:
        """Every landed row, or None when nothing was ever committed."""
        if not fs_dir_has_data(self.spark, self.path):
            return None
        return self.spark.read.parquet(self.path)

    def append(self, rows: DataFrame, batch_id: int | None = None) -> None:
        """Append ``rows``; a count log tags them with ``batch_id``."""
        if self.count is not None:
            rows = rows.withColumn(BATCH, F.lit(int(batch_id)).cast("long"))
        rows.write.mode("append").partitionBy(*self.partition_by).parquet(self.path)

    def _sum(self, rows: DataFrame) -> DataFrame:
        return rows.groupBy(*self.keys).agg(
            F.sum(self.count).cast("long").alias(self.count)
        )

    def _collapse(self, landed: DataFrame) -> DataFrame:
        return self._sum(landed.dropDuplicates([*self.keys, BATCH]))

    def merged(self) -> DataFrame | None:
        """Replay-collapsed counts summed per key over the whole landed
        history; None when nothing has landed."""
        landed = self.landed()
        return None if landed is None else self._collapse(landed)

    def with_history(self, batch_counts: DataFrame, batch_id: int) -> DataFrame:
        """``batch_counts`` plus the landed history of every OTHER batch,
        summed per key."""
        landed = self.landed()
        if landed is None:
            return batch_counts
        history = self._collapse(landed.where(F.col(BATCH) != F.lit(int(batch_id))))
        return self._sum(batch_counts.unionByName(history))

    def compact(self) -> None:
        """Rewrite the log with replays collapsed (see the module doc)."""
        landed = self.landed()
        if landed is None:
            return
        if self.count is None:
            self.replace(landed.dropDuplicates(self.keys))
        else:
            self.replace(self._collapse(landed).withColumn(BATCH, F.lit(-1).cast("long")))

    def replace(self, rows: DataFrame) -> None:
        """Swap ``rows`` in as the whole log, atomically."""
        overwrite_atomic(rows, self.path, self.partition_by)
