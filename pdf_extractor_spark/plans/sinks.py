"""Pluggable batch sinks: the commit protocol behind the extraction plan.

The reference's sink contract is a bulk insert with verified
``affected_rows`` and an explicit failure path
(/root/reference/api.py:1390-1445).  The plan code talks only to the
``Sink`` protocol below; two implementations ship:

* ``ParquetManifestSink`` — the local-filesystem analog of an Iceberg
  snapshot append: stage → rename → manifest; a batch without a manifest
  is invisible and is redone wholesale on resume (used everywhere
  in-sandbox).  Its counters are observed in the write job itself
  (``DataFrame.observe`` over ``operators.enrich.lineage_exprs``), so a
  commit is one Spark job with no read-back of the committed parquet.
* ``IcebergSink`` — the production path: one atomic
  ``writeTo(table).append()`` per batch, counts verified against the
  snapshot summary's ``added-records``, and a checkpoint row per batch in
  a companion table.  Idempotent under crash-between-append-and-checkpoint
  via delete-before-append on the batch key.  Requires the Iceberg Spark
  runtime on the classpath (``iceberg_available``); constructing it
  without one raises immediately rather than failing mid-run.

Both implement the same three-method surface, so ``run_extraction`` and
the resume/lineage logic are sink-agnostic.  ``run_extraction`` keeps two
batches in flight, so ``commit`` is called from two threads at once, on
disjoint batch ids; an implementation must be safe under that.
"""

from __future__ import annotations

import json
import os
import shutil
import threading
import time
import uuid
from typing import Any, Protocol, runtime_checkable

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from ..operators.enrich import batch_lineage, lineage_exprs

_BATCH_DIR = "batches"
_CKPT_DIR = "_checkpoints"


@runtime_checkable
class Sink(Protocol):
    """Atomic, verified, resumable batch commits."""

    def committed(self) -> dict[str, dict[str, Any]]:
        """batch_id → manifest for every durably committed batch."""
        ...

    def commit(
        self, multiplexed: DataFrame, batch_id: str, bucket_ids: list[int]
    ) -> dict[str, Any]:
        """Atomically persist one batch; returns its manifest (with
        exactly-once counters of the committed rows).  Called from up to
        two threads at once, never twice for one batch id."""
        ...

    def read_multiplexed(self, spark: SparkSession) -> DataFrame:
        """All committed multiplexed rows."""
        ...


def _as_counters(row: dict[str, Any]) -> dict[str, int]:
    return {k: (int(v) if v is not None else 0) for k, v in row.items()}


def _batch_counters(written: DataFrame) -> dict[str, int]:
    return _as_counters(batch_lineage(written).collect()[0].asDict())


class ParquetManifestSink:
    """Local parquet + manifest-JSON commit protocol (see module doc)."""

    def __init__(self, root: str):
        self.root = root
        os.makedirs(root, exist_ok=True)

    # -- paths -------------------------------------------------------------
    def _manifest_path(self, batch_id: str) -> str:
        return os.path.join(self.root, _CKPT_DIR, f"batch_{batch_id}.json")

    def _data_path(self, batch_id: str) -> str:
        return os.path.join(self.root, _BATCH_DIR, f"batch_{batch_id}", "data.parquet")

    # -- Sink --------------------------------------------------------------
    def committed(self) -> dict[str, dict[str, Any]]:
        ckpt = os.path.join(self.root, _CKPT_DIR)
        if not os.path.isdir(ckpt):
            return {}
        out: dict[str, dict[str, Any]] = {}
        for name in sorted(os.listdir(ckpt)):
            if name.startswith("batch_") and name.endswith(".json"):
                with open(os.path.join(ckpt, name), encoding="utf-8") as f:
                    m = json.load(f)
                out[m["batch_id"]] = m
        return out

    def commit(
        self, multiplexed: DataFrame, batch_id: str, bucket_ids: list[int]
    ) -> dict[str, Any]:
        final = self._data_path(batch_id)
        staging = final + ".staging"
        if os.path.exists(staging):
            shutil.rmtree(staging)
        if os.path.exists(final):
            shutil.rmtree(final)  # uncommitted leftovers from a killed run

        # counters of the *written* rows, observed by the write job itself:
        # the CollectMetrics node sits in the job's result stage, directly
        # under the write, and Spark applies a result task's accumulator
        # update once per partition — exactly-once, like the reference's
        # verified affected_rows (api.py:1417-1445), with no read-back
        obs = Observation(f"lineage_{batch_id}_{uuid.uuid4().hex}")
        t0 = time.time()
        multiplexed.observe(obs, *lineage_exprs()).write.mode("overwrite").parquet(
            staging
        )
        counters = _as_counters(obs.get)
        os.makedirs(os.path.dirname(final), exist_ok=True)
        os.rename(staging, final)

        manifest = {
            "batch_id": batch_id,
            "buckets": bucket_ids,
            "path": final,
            "elapsed_sec": round(time.time() - t0, 3),
            "counters": counters,
        }
        os.makedirs(os.path.join(self.root, _CKPT_DIR), exist_ok=True)
        tmp = self._manifest_path(batch_id) + ".tmp"
        with open(tmp, "w", encoding="utf-8") as f:
            json.dump(manifest, f, indent=2)
        os.rename(tmp, self._manifest_path(batch_id))
        return manifest

    def read_multiplexed(self, spark: SparkSession) -> DataFrame:
        paths = [self._data_path(b) for b in self.committed()]
        if not paths:
            raise FileNotFoundError(f"no committed batches under {self.root}")
        return spark.read.parquet(*paths)


def iceberg_available(spark: SparkSession) -> bool:
    """True when the Iceberg Spark runtime is on the JVM classpath."""
    try:
        spark._jvm.java.lang.Class.forName(  # type: ignore[union-attr]
            "org.apache.iceberg.spark.SparkCatalog"
        )
        return True
    except Exception:
        return False


class IcebergSink:
    """Iceberg table append with snapshot-verified counts.

    ``table`` is a fully-qualified catalog table
    (e.g. ``cat.db.chunks_multiplexed``); ``table + '_checkpoints'`` holds
    one row per committed batch (the resume ledger — the Iceberg analog of
    the manifest JSON).  Commit sequence per batch:

    1. first-ever commit CREATES the data table from the batch schema
       (``writeTo(...).using('iceberg').create()``) — decided, created and
       verified under a per-sink lock, so of two batches in flight on a
       fresh catalog exactly one creates and the other appends; otherwise
       ``DELETE FROM table WHERE batch_id = X``  (idempotence: a crash
       after append but before the checkpoint row leaves orphan rows; the
       redo wipes them before re-appending)
    2. ``df.withColumn('batch_id', lit(X)).writeTo(table).append()`` —
       ONE atomic snapshot commit, stamped with
       ``snapshot-property.spark_graft_batch_id = X``
    3. verify ``added-records`` == df row count against OUR OWN snapshot,
       located by the batch_id stamped into its summary — concurrent
       disjoint-bucket drivers committing interleaved snapshots can never
       be misread as ours (reference: verified affected_rows,
       api.py:1417-1445)
    4. insert the checkpoint row (batch becomes visible to resume)
    """

    _SNAP_PROP = "spark_graft_batch_id"

    def __init__(self, spark: SparkSession, table: str):
        if not iceberg_available(spark):
            raise RuntimeError(
                "IcebergSink requires the Iceberg Spark runtime "
                "(iceberg-spark-runtime jar + a configured catalog); "
                "use ParquetManifestSink in environments without one"
            )
        self.spark = spark
        self.table = table
        self.ckpt_table = table + "_checkpoints"
        self._create_lock = threading.Lock()
        spark.sql(
            f"CREATE TABLE IF NOT EXISTS {self.ckpt_table} "
            "(batch_id STRING, buckets STRING, snapshot_id BIGINT, "
            "counters STRING, committed_at TIMESTAMP) USING iceberg"
        )

    def committed(self) -> dict[str, dict[str, Any]]:
        rows = self.spark.table(self.ckpt_table).collect()
        return {
            r["batch_id"]: {
                "batch_id": r["batch_id"],
                "buckets": json.loads(r["buckets"]),
                "snapshot_id": r["snapshot_id"],
                "counters": json.loads(r["counters"]),
            }
            for r in rows
        }

    def commit(
        self, multiplexed: DataFrame, batch_id: str, bucket_ids: list[int]
    ) -> dict[str, Any]:
        spark = self.spark
        stamped = multiplexed.withColumn("batch_id", F.lit(batch_id))

        t0 = time.time()
        writer = stamped.writeTo(self.table).option(
            f"snapshot-property.{self._SNAP_PROP}", batch_id
        )
        # the create-or-append decision is re-checked under the lock: two
        # batches in flight on a fresh catalog would otherwise both see no
        # table and both create().  The winner also finds its snapshot
        # under the lock, so the loser's append cannot reach the snapshot
        # log before the create branch's sole-snapshot fallback reads it.
        with self._create_lock:
            created_here = not spark.catalog.tableExists(self.table)
            if created_here:
                # very first commit: create the data table from the batch
                # schema (a DELETE-first sequence would die on a fresh catalog)
                writer.using("iceberg").create()
                snap = self._own_snapshot(batch_id, created_here=True)
        if not created_here:
            # 1. idempotence: wipe any orphan rows from a crashed attempt
            spark.sql(f"DELETE FROM {self.table} WHERE batch_id = '{batch_id}'")
            # 2. one atomic snapshot append
            writer.append()
            snap = self._own_snapshot(batch_id, created_here=False)
        if snap is None:
            raise RuntimeError(
                f"no snapshot stamped {self._SNAP_PROP}={batch_id} found "
                f"after append to {self.table} — refusing to checkpoint"
            )
        # an all-empty append may omit the counter: absent means 0 rows
        added = int((snap["summary"] or {}).get("added-records", 0))
        written = spark.table(self.table).where(F.col("batch_id") == batch_id)
        n_written = written.count()
        if added != n_written:
            raise RuntimeError(
                f"snapshot added-records {added} != batch rows {n_written} "
                f"for batch {batch_id} — refusing to checkpoint"
            )

        counters = _batch_counters(written.drop("batch_id"))
        manifest = {
            "batch_id": batch_id,
            "buckets": bucket_ids,
            "snapshot_id": int(snap["snapshot_id"]),
            "elapsed_sec": round(time.time() - t0, 3),
            "counters": counters,
        }

        # 4. checkpoint row — the batch is now visible to resume
        spark.createDataFrame(
            [(batch_id, json.dumps(bucket_ids), int(snap["snapshot_id"]),
              json.dumps(counters))],
            "batch_id string, buckets string, snapshot_id bigint, counters string",
        ).withColumn("committed_at", F.current_timestamp()).writeTo(
            self.ckpt_table
        ).append()
        return manifest

    def _own_snapshot(self, batch_id: str, created_here: bool):
        """3. the snapshot of OUR OWN commit, found by the batch_id stamped
        into the snapshot summary — never the global latest, which a
        concurrent disjoint-bucket driver may own; a replayed batch takes
        its newest stamped snapshot.  None when there is no such snapshot."""
        snap = self.spark.sql(
            f"SELECT snapshot_id, summary FROM {self.table}.snapshots "
            f"WHERE summary['{self._SNAP_PROP}'] = '{batch_id}' "
            "ORDER BY committed_at DESC LIMIT 1"
        ).first()
        if snap is None and created_here:
            # CTAS fallback: some catalogs record writer options of a
            # create() as TABLE properties rather than snapshot-summary
            # entries, so the stamped lookup can come back empty on the
            # very first commit.  We just created this table in this call,
            # so its snapshot log has exactly ONE entry and it is ours —
            # verify that one instead (safe only on the create branch:
            # no concurrent driver can own a snapshot of a table that did
            # not exist a moment ago).
            snaps = self.spark.sql(
                f"SELECT snapshot_id, summary FROM {self.table}.snapshots "
                "ORDER BY committed_at DESC"
            ).collect()
            if len(snaps) == 1:
                snap = snaps[0]
        return snap

    def read_multiplexed(self, spark: SparkSession) -> DataFrame:
        committed_ids = list(self.committed())
        if not committed_ids:
            raise FileNotFoundError(f"no committed batches in {self.ckpt_table}")
        return (
            spark.table(self.table)
            .where(F.col("batch_id").isin(committed_ids))
            .drop("batch_id")
        )
