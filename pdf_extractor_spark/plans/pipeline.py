"""End-to-end extraction plan with partition checkpoints and resume.

Topology (SURVEY.md §7.1):

    transcripts ──[bucket filter: pmod(xxhash64(conv_id), B)]──▶ per batch:
      Stage 1  extract_turns        pandas UDF, embarrassingly parallel
      Stage 2  chunk_conversations  ONE shuffle: groupBy(conv_id), multiplexed
      Stage 3  add_embeddings       pandas UDF on chunk rows (pre-commit)
      commit   Sink.commit(batch)   write + observed counters (atomic per batch)

Per batch that is two Spark jobs (AQE runs each shuffle-map stage as its
own job, so ``salt_stage1``'s repartition adds a third): the stage-1
shuffle-map job (one task per scan partition) and the write job, whose
result stage runs stages 2 and 3, the counters' ``observe`` and the
parquet write.  AQE coalesces the small stage-2 shuffle to ONE
partition, so the write job is a single task that leaves the other
cores idle.  ``run_extraction`` therefore keeps two batches in flight
(double-buffering): while batch k runs its single-task write job, batch
k+1 runs its stage-1 job on the idle cores.  Splitting stage 2 into more
tasks instead is slower — its Python group functions pay a fixed cost
per task and per group.

The commit protocol lives behind the ``Sink`` protocol (plans/sinks.py):
``ParquetManifestSink`` (stage → rename → manifest; the local analog of an
Iceberg snapshot append — a batch without a manifest is invisible and is
redone wholesale on resume, so a killed run resumes without duplicates) is
the in-sandbox default; ``IcebergSink`` is the production
``writeTo(...).append()`` path with snapshot-summary count verification
(reference sink contract: bulk insert with verified ``affected_rows``,
/root/reference/api.py:1390-1445).  Everything upstream is sink-agnostic.

Skew handling: stage 1 runs on scan partitions (no shuffle; AQE balances),
stage 2's only shuffle keys on conv_id — per-group cost is bounded by the
MAX_TURNS_PER_CONV reject rule enforced *inside* the group fn.  An optional
stage-1 salt (`salt_stage1`) demonstrates the repartition(hash(conv_id,
salt)) pattern for inputs whose file layout clusters giant conversations.
"""

from __future__ import annotations

from concurrent.futures import FIRST_COMPLETED, Future, ThreadPoolExecutor, wait
from itertools import islice
from typing import Any, Optional

from pyspark import inheritable_thread_target
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..config import CHECKPOINT_BUCKETS, SALT_BUCKETS
from ..operators.chunk import chunk_conversations
from ..operators.enrich import add_embeddings, split_chunks, split_documents
from ..operators.extract import extract_turns
from .sinks import ParquetManifestSink, Sink


def bucket_col(buckets: int) -> F.Column:
    return F.pmod(F.xxhash64(F.col("conv_id")), F.lit(buckets)).cast("int")


def committed_batches(root: str) -> dict[str, dict[str, Any]]:
    """Manifest map of the default parquet sink rooted at ``root``."""
    return ParquetManifestSink(root).committed()


def build_multiplexed(
    transcripts: DataFrame,
    salt_stage1: bool = False,
    packed_embeddings: Optional[bool] = None,
) -> DataFrame:
    """The logical plan: stage 1 → stage 2 → stage 3 (no IO).

    ``packed_embeddings`` selects the embedding schema version (None →
    config.EMBED_PACKED): v1 ``array<float>`` or v2 packed float32
    ``binary`` — see operators/enrich.embed_udf.
    """
    src = transcripts
    if salt_stage1:
        # spread any pathological file layout before the Python stage;
        # the salt keys on (conv_id, turn_idx % SALT_BUCKETS) so one giant
        # conversation fans out across that many partitions for extraction
        src = src.repartition(
            F.xxhash64("conv_id", F.pmod(F.col("turn_idx"), F.lit(SALT_BUCKETS)))
        )
    extracted = extract_turns(src, with_first_extract=True)
    multiplexed = chunk_conversations(extracted)
    return add_embeddings(multiplexed, packed=packed_embeddings)


def run_extraction(
    spark: SparkSession,
    transcripts: DataFrame,
    output_root: Optional[str] = None,
    buckets: int = CHECKPOINT_BUCKETS,
    buckets_per_batch: int = 4,
    salt_stage1: bool = False,
    bucket_range: Optional[tuple[int, int]] = None,
    sink: Optional[Sink] = None,
    packed_embeddings: Optional[bool] = None,
) -> dict[str, Any]:
    """Checkpointed run over the whole input; resumable and idempotent.

    ``sink`` defaults to ``ParquetManifestSink(output_root)``; pass an
    ``IcebergSink`` on a cluster with a catalog.
    ``bucket_range=(lo, hi)`` restricts this run to buckets lo..hi-1 — the
    multi-executor work split: each executor process owns a disjoint bucket
    range and commits into the SAME sink (batch ids are bucket-derived, so
    ranges never collide; the commit protocol makes the shared sink safe).
    Returns a summary dict with per-batch manifests (in batch-id order),
    totals, and ``executed_now``: the batches this call committed (0 on a
    re-run over a fully committed sink).  A killed or failed run resumes by
    running it again: committed batches are skipped.

    Two batches are in flight at once (see the module doc), each committed
    on a worker thread that keeps the caller's Spark local properties (job
    group, description, scheduler pool) and session tags.  When a batch
    raises, no further batch starts; the batch still in flight finishes its
    atomic commit and the first error is re-raised.
    """
    if sink is None:
        if output_root is None:
            raise ValueError("run_extraction needs output_root or an explicit sink")
        sink = ParquetManifestSink(output_root)
    done = sink.committed()

    lo, hi = bucket_range if bucket_range else (0, buckets)
    all_buckets = list(range(lo, hi))
    batches = [
        all_buckets[i : i + buckets_per_batch]
        for i in range(0, len(all_buckets), buckets_per_batch)
    ]

    by_index: dict[int, dict[str, Any]] = {}
    pending: list[tuple[int, str, list[int]]] = []
    for i, batch_buckets in enumerate(batches):
        batch_id = f"{batch_buckets[0]:04d}"
        if batch_id in done:
            by_index[i] = done[batch_id]
        else:
            pending.append((i, batch_id, batch_buckets))

    def commit_batch(batch_id: str, batch_buckets: list[int]) -> dict[str, Any]:
        sub = transcripts.where(bucket_col(buckets).isin(batch_buckets))
        multiplexed = build_multiplexed(
            sub, salt_stage1=salt_stage1, packed_embeddings=packed_embeddings
        )
        return sink.commit(multiplexed, batch_id, batch_buckets)

    in_flight = 2
    queue = iter(pending)
    running: dict[Future, int] = {}
    error: Optional[BaseException] = None
    with ThreadPoolExecutor(in_flight, thread_name_prefix="batch-commit") as pool:
        while True:
            room = in_flight - len(running) if error is None else 0
            for i, batch_id, batch_buckets in islice(queue, room):
                # wrapped per batch: each commit gets its own copy of the
                # caller's local properties, because Spark writes the SQL
                # execution id into them while a query runs
                target = inheritable_thread_target(spark)(commit_batch)
                running[pool.submit(target, batch_id, batch_buckets)] = i
            if not running:
                break
            finished, _ = wait(running, return_when=FIRST_COMPLETED)
            for fut in finished:
                i = running.pop(fut)
                try:
                    by_index[i] = fut.result()
                except BaseException as e:
                    if error is None:
                        error = e
    if error is not None:
        raise error

    manifests = [by_index[i] for i in sorted(by_index)]
    totals: dict[str, int] = {}
    for m in manifests:
        for k, v in m["counters"].items():
            totals[k] = totals.get(k, 0) + int(v or 0)
    return {"batches": manifests, "totals": totals, "executed_now": len(pending)}


def read_multiplexed(spark: SparkSession, root: str) -> DataFrame:
    return ParquetManifestSink(root).read_multiplexed(spark)


def read_chunks(spark: SparkSession, root: str) -> DataFrame:
    return split_chunks(read_multiplexed(spark, root))


def read_documents(spark: SparkSession, root: str) -> DataFrame:
    return split_documents(read_multiplexed(spark, root))


def read_lineage(spark: SparkSession, root: str) -> DataFrame:
    rows = [
        {"batch_id": b, **{k: int(v or 0) for k, v in m["counters"].items()}}
        for b, m in committed_batches(root).items()
    ]
    return spark.createDataFrame(rows)
