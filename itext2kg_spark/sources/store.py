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
    def __init__(
        self, root: str, bucketed_edges: bool = False, edge_buckets: int = 8
    ):
        """bucketed_edges=True persists each snapshot's EDGE table through
        BucketedTableStore (hash-bucketed + sorted by the canonical edge
        key) instead of plain parquet. KGPipeline.run_batch detects the
        flag and switches the incremental merge to its join form
        (merge_edges_join), so the stored side — the one table that grows
        with corpus age — is read bucket-aligned and never re-shuffles;
        only the batch side exchanges (plan-pinned in tests). Entity
        snapshots stay parquet (the entity merge needs the full similarity
        resolution pass, not a key-equi merge). Atomicity is unchanged:
        the batch id is resolved through THIS store's _COMMITTED markers;
        the bucketed version is read by explicit id, so a crash between the
        bucketed write and the marker leaves the new version invisible."""
        super().__init__(root)
        self.bucketed_edges = bucketed_edges
        self.edge_buckets = edge_buckets

    def _edge_store(self, spark: SparkSession):
        from hashlib import md5

        from itext2kg_spark.sources.bucketed import BucketedTableStore

        # catalog table names must be unique per store root (several stores
        # can live in one session, e.g. under pytest)
        tag = md5(os.path.abspath(self.root).encode()).hexdigest()[:10]
        return BucketedTableStore(
            spark,
            os.path.join(self.root, "bucketed_edges"),
            name=f"kg_edges_{tag}",
            keys=("src_name", "src_label", "pred", "dst_name", "dst_label"),
            buckets=self.edge_buckets,
        )

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
            if self.bucketed_edges:
                # versioned bucketed table keyed by this batch id; commit is
                # still THIS store's marker (see __init__)
                self._edge_store(entities.sparkSession).write(
                    edges, version=batch_id
                )
            else:
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
        if self.bucketed_edges:
            edges = self._edge_store(spark).load_version(batch_id)
        else:
            edges = spark.read.parquet(os.path.join(d, "edges"))
        return (spark.read.parquet(os.path.join(d, "entities")), edges)
