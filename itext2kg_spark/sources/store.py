"""Canonical KG store with snapshot-per-batch checkpoint/resume (S3-S5).

The reference persists the graph to Neo4j with per-element Cypher MERGE
(graph_integration/neo4j_storage.py:155-246) and checkpoints batch progress as
driver-side pickles with max-completed-batch resume
(evaluation/latency/testing_atom.py:65-114, cleanup :266-291).

Here the canonical graph IS a pair of tables. On a production cluster these
are Iceberg tables (`df.writeTo(...)` + `MERGE INTO` for the upsert, snapshot
per batch, `rollback_to_snapshot` for recovery). This sandbox has no Iceberg
runtime jars, so the same contract is implemented over parquet snapshot
directories with atomic commit markers:

    root/
      snapshots/batch=<i>/entities/   (parquet)
      snapshots/batch=<i>/edges/      (parquet)
      snapshots/batch=<i>/_COMMITTED  (marker written after both writes land)

Resume = read the highest committed batch; uncommitted partial snapshot
directories are ignored and overwritten — equivalent to the reference's
find_last_completed_batch + cleanup of incomplete later batches.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from itext2kg_spark.sources.stream_hw import SnapshotLog


class KGStore(SnapshotLog):
    # ---- read / write -------------------------------------------------------
    def write_snapshot(
        self,
        batch_id: int,
        entities: DataFrame,
        edges: DataFrame,
        metrics: dict | None = None,
        lineage: DataFrame | None = None,
    ) -> None:
        with self._commit_snapshot(batch_id, metrics) as d:
            entities.write.mode("overwrite").parquet(os.path.join(d, "entities"))
            edges.write.mode("overwrite").parquet(os.path.join(d, "edges"))
            if lineage is not None:
                # per-partition lineage of the batch input (north rule): which
                # input partitions contributed, row counts, distinct keys
                lineage.write.mode("overwrite").parquet(
                    os.path.join(d, "lineage")
                )
        # streaming high-water cache, AFTER the commit marker (see
        # last_stream_epoch): a crash between the two writes leaves the
        # cache stale-low, which the bounded catch-up scan repairs — replay
        # semantics are unchanged, epochs can never be skipped
        m = metrics or {}
        if "stream_key" in m and "stream_epoch" in m:
            self._write_stream_hw(
                str(m["stream_key"]), int(m["stream_epoch"]), batch_id
            )

    def load_lineage(self, spark: SparkSession, batch_id: int) -> DataFrame:
        return spark.read.parquet(
            os.path.join(self._snap_dir(batch_id), "lineage")
        )

    def load(
        self, spark: SparkSession, batch_id: int | None = None
    ) -> tuple[DataFrame, DataFrame] | None:
        if batch_id is None:
            batch_id = self.last_committed()
        if batch_id is None:
            return None
        d = self._snap_dir(batch_id)
        return (
            spark.read.parquet(os.path.join(d, "entities")),
            spark.read.parquet(os.path.join(d, "edges")),
        )
