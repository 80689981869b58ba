"""Exactly-once idempotent sink (Iceberg-MERGE stand-in).

The reference's persistent queue gives at-least-once after crash
(docs/reference/persistent-queues.md:17, 319-334); the north rule upgrades
this to exactly-once: replayable source offsets (Structured Streaming
checkpoint) + an idempotent commit keyed by (epoch_id).

Without Iceberg jars in this sandbox the sink is a parquet directory plus
an atomic commit log, exactly the snapshot-commit discipline an Iceberg
`foreachBatch` MERGE would use:

  data/batch_id=N/*.parquet        (staged write, possibly partial/retried)
  _commits/N.json                  (atomic rename marks N durable)

* A replayed epoch (same batch_id after crash/restart) sees its commit
  marker and SKIPS — idempotence under Spark's epoch-replay contract.
* A partially-written epoch without a marker is invisible to readers
  (read path only trusts committed batch ids) and is overwritten on replay.
* `merge_keys` additionally dedups rows within the epoch (MERGE-style
  upsert key, e.g. (conv_id, turn_idx)).

On a real cluster this class is swapped for `writeStream.format("iceberg")`
or a foreachBatch MERGE INTO; the interface (handle(df, epoch_id)) is the
same.  Commit markers are written via temp-file + atomic os.replace.
"""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import DataFrame


class ExactlyOnceParquetSink:
    """merge_keys: optional row-identity dedup WITHIN an epoch (MERGE-style
    upsert key).  Exactly-once under epoch replay comes from the commit log
    alone; pass merge_keys only when the SOURCE may deliver duplicate rows
    inside one epoch — it costs a full shuffle of the epoch's rows, which
    on a narrow pass-through path (e.g. the per-turn output) is the
    difference between a no-shuffle write and shuffling the whole stream."""

    def __init__(self, path: str, merge_keys: list[str] | None = None,
                 compression: str = "snappy"):
        self.path = path
        self.merge_keys = merge_keys
        # measured on the parsed turns table (10.1M rows): snappy 1.46s/
        # 189MB, zstd 1.60s/125MB, lz4 1.45s/197MB — zstd buys 34% less
        # storage (and downstream scan I/O) for ~10% write CPU; at 100 TB
        # retention that trade usually wins, so it's a ctor knob
        self.compression = compression
        self.commits_dir = os.path.join(path, "_commits")
        os.makedirs(self.commits_dir, exist_ok=True)

    # -- commit log -----------------------------------------------------------

    def committed_ids(self) -> set[int]:
        return {
            int(f[: -len(".json")])
            for f in os.listdir(self.commits_dir)
            if f.endswith(".json")
        }

    def _marker(self, epoch_id: int) -> str:
        return os.path.join(self.commits_dir, f"{epoch_id}.json")

    def _commit(self, epoch_id: int, meta: dict) -> None:
        tmp = os.path.join(self.commits_dir, f".{epoch_id}.json.tmp")
        dst = self._marker(epoch_id)
        with open(tmp, "w") as f:
            json.dump(meta, f)
        os.replace(tmp, dst)  # atomic: marker exists fully or not at all

    # -- sink -----------------------------------------------------------------

    def handle(self, df: DataFrame, epoch_id: int) -> None:
        """foreachBatch body: idempotent per epoch_id."""
        if os.path.exists(self._marker(epoch_id)):
            return  # replayed epoch: already durable, skip (exactly-once)
        from logstash_spark.functions.decorators import strip_metadata

        out = strip_metadata(df)  # @metadata never serializes (Event.java:106-111)
        if self.merge_keys:
            out = out.dropDuplicates(self.merge_keys)
        target = os.path.join(self.path, f"batch_id={epoch_id}")
        (out.write.mode("overwrite")
            .option("compression", self.compression).parquet(target))
        # row count from parquet footers, read driver-side with pyarrow —
        # no Spark job at all (a count() here would run the whole pipeline
        # twice; even spark.read...count() pays listing + job scheduling)
        n = self._footer_rows(target, df.sparkSession)
        self._commit(epoch_id, {"rows": n, "ts": time.time()})

    @staticmethod
    def _footer_rows(target: str, spark=None) -> int:
        # Fast path assumes driver-local POSIX storage (this sandbox). On a
        # real cluster the sink path is typically object storage / HDFS, so
        # fall back to a footer-only Spark count — reading the just-written
        # parquet costs metadata-only I/O, not a recompute of the pipeline.
        if os.path.isdir(target):
            import pyarrow.parquet as pq

            return sum(
                pq.read_metadata(os.path.join(target, f)).num_rows
                for f in os.listdir(target)
                if f.endswith(".parquet")
            )
        if spark is None:
            raise ValueError(f"non-local sink path {target!r} needs a SparkSession "
                             "to count committed rows")
        return spark.read.parquet(target).count()

    def foreach_batch(self):
        return lambda df, eid: self.handle(df, eid)

    # -- read path -------------------------------------------------------------

    def read(self, spark) -> DataFrame:
        """Read only committed epochs (uncommitted partials are invisible)."""
        ids = sorted(self.committed_ids())
        paths = [os.path.join(self.path, f"batch_id={i}") for i in ids]
        paths = [p for p in paths if os.path.exists(p)]
        if not paths:
            from pyspark.sql.types import StructType
            return spark.createDataFrame([], StructType([]))
        return spark.read.parquet(*paths)
