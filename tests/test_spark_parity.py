"""GOLDEN CHECKS #1 and #2 (SURVEY.md §7.1): the Spark pipeline must equal
the pure-Python oracle goldens byte-for-byte — per-turn text equality and
chunk-span equality under stable turn ordering — plus checkpoint/resume
idempotence (FIXTURES.md §4 last invariant).
"""

from __future__ import annotations

import json
import pathlib
import threading

import pytest

from pdf_extractor_spark.operators.extract import extract_turns
from pdf_extractor_spark.plans.pipeline import (
    read_chunks,
    read_documents,
    read_lineage,
    run_extraction,
)
from pdf_extractor_spark.sources.transcripts import generate_rows, rows_to_pandas

GOLDEN_DIR = pathlib.Path(__file__).resolve().parent / "goldens"
GOLDEN_CONVS = 20
GOLDEN_SKEW_EVERY = 20

TURN_KEY = ("conv_id", "turn_idx")
TURN_COLS = (
    "conv_id", "turn_idx", "clean_text", "printed_page", "chapter",
    "char_count", "parse_ok", "rejected_xss",
)
CHUNK_COLS = (
    "conv_id", "chunk_index", "content", "turns", "printed_pages",
    "chapters", "char_count", "start_turn", "end_turn",
)
DOC_COLS = ("conv_id", "title", "num_turns", "chunk_count", "status")
PIPELINE_DESCRIPTION = "golden pipeline run"


def _golden(name):
    return json.loads((GOLDEN_DIR / f"{name}.json").read_text(encoding="utf-8"))


@pytest.fixture(scope="module")
def transcripts(spark):
    # same corpus as tools/make_goldens.py, rows shuffled by generate_rows
    rows = generate_rows(GOLDEN_CONVS, 42, skew_every=GOLDEN_SKEW_EVERY)
    return spark.createDataFrame(rows_to_pandas(rows)).cache()


@pytest.fixture(scope="module")
def pipeline_output(spark, transcripts, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("pipeline"))
    # the description tags this run's SQL executions (the commit threads
    # inherit it) for the plan test in TestLineage
    spark.sparkContext.setJobDescription(PIPELINE_DESCRIPTION)
    try:
        summary = run_extraction(spark, transcripts, root, buckets=8, buckets_per_batch=4)
    finally:
        spark.sparkContext.setJobDescription(None)
    return root, summary


def _rows_as_dicts(df, cols):
    return sorted(
        ([r[c] for c in cols] for r in df.select(*cols).collect()),
    )


def _golden_as_lists(rows, cols):
    return sorted([r[c] for c in cols] for r in rows)


class TestGoldenCheck1_Turns:
    def test_per_turn_text_equality(self, transcripts):
        got = _rows_as_dicts(extract_turns(transcripts), TURN_COLS)
        want = _golden_as_lists(_golden("turns"), TURN_COLS)
        assert len(got) == len(want)
        assert got == want


class TestGoldenCheck2_Chunks:
    def test_chunk_span_equality(self, spark, pipeline_output):
        root, _ = pipeline_output
        got = _rows_as_dicts(read_chunks(spark, root), CHUNK_COLS)
        want = _golden_as_lists(_golden("chunks"), CHUNK_COLS)
        assert len(got) == len(want)
        assert got == want

    def test_documents_equality(self, spark, pipeline_output):
        root, _ = pipeline_output
        got = _rows_as_dicts(read_documents(spark, root), DOC_COLS)
        want = _golden_as_lists(_golden("docs"), DOC_COLS)
        assert got == want

    def test_embeddings_present_and_deterministic(self, spark, pipeline_output):
        from pdf_extractor_spark.config import EMBED_DIM
        from pdf_extractor_spark.core.embed import embed_text

        root, _ = pipeline_output
        row = (
            read_chunks(spark, root)
            .orderBy("conv_id", "chunk_index")
            .select("content", "embedding")
            .first()
        )
        assert len(row.embedding) == EMBED_DIM
        expected = embed_text(row.content, EMBED_DIM)
        assert [round(float(x), 5) for x in row.embedding[:8]] == [
            round(float(x), 5) for x in expected[:8]
        ]


class TestLineage:
    def test_counters_match_input(self, spark, transcripts, pipeline_output):
        root, summary = pipeline_output
        totals = summary["totals"]
        assert totals["turns_in"] == transcripts.count()
        assert totals["convs"] == GOLDEN_CONVS
        assert totals["chunks_out"] == len(_golden("chunks"))
        assert totals["convs_rejected"] == sum(
            1 for d in _golden("docs") if d["status"] != "embedded"
        )
        # F3 warn-level structure flags roll up exactly-once into lineage
        assert totals["struct_warnings"] == sum(
            t["struct_warn"] for t in _golden("turns")
        )
        lineage = read_lineage(spark, root)
        assert lineage.count() == len(summary["batches"])

    def test_observed_counters_equal_batch_lineage_of_committed_rows(
        self, spark, pipeline_output
    ):
        """The manifest counters, observed by the write job, equal
        batch_lineage over the committed parquet — on a corpus with an XSS
        conversation and HTML turns."""
        from pdf_extractor_spark.operators.enrich import batch_lineage

        _, summary = pipeline_output
        assert summary["totals"]["convs_rejected"] >= 1
        for m in summary["batches"]:
            want = batch_lineage(spark.read.parquet(m["path"])).first().asDict()
            want = {k: int(v or 0) for k, v in want.items()}
            assert list(m["counters"]) == list(want)  # same keys, same order
            assert m["counters"] == want, m["batch_id"]

    def test_collect_metrics_sits_in_the_write_result_stage(
        self, spark, pipeline_output
    ):
        """Exactly-once counters: the observe's CollectMetrics node must sit
        in the write job's RESULT stage — no Exchange between it and the
        write — because Spark applies a result task's accumulator update
        once per partition (a shuffle-map stage's may be applied again when
        a stage is re-run)."""
        _, summary = pipeline_output
        trees = _final_write_plans(spark, PIPELINE_DESCRIPTION, len(summary["batches"]))
        for tree in trees:
            lines = [ln for ln in tree.splitlines() if ln.strip()]
            metrics = [i for i, ln in enumerate(lines) if "CollectMetrics" in ln]
            shuffles = [i for i, ln in enumerate(lines) if any(
                k in ln for k in ("Exchange", "ShuffleQueryStage", "AQEShuffleRead"))]
            assert len(metrics) == 1, tree
            assert shuffles, tree  # the stage-2 shuffle, below the metrics
            # a plan tree prints a parent above its children: every shuffle
            # node is below CollectMetrics, none between it and the write
            assert min(shuffles) > metrics[0], tree


def _final_write_plans(spark, description, n):
    """Final (post-AQE) plan trees of the ``n`` parquet writes run under
    the SQL execution ``description``, from the SQL status store; the
    listener bus fills the store asynchronously, so poll."""
    import time

    store = spark._jsparkSession.sharedState().statusStore()
    for _ in range(100):
        execs = store.executionsList()
        plans = [execs.apply(i).physicalPlanDescription() for i in range(execs.size())
                 if execs.apply(i).description() == description]
        trees = [p.split("== Final Plan ==", 1)[1].split("== Initial Plan ==", 1)[0]
                 for p in plans
                 if "InsertIntoHadoopFsRelationCommand" in p and "== Final Plan ==" in p]
        if len(trees) == n:
            return trees
        time.sleep(0.1)
    raise AssertionError(f"{len(trees)} final write plans under {description!r}, want {n}")


class TestResume:
    def test_disjoint_bucket_ranges_compose(self, spark, transcripts, tmp_path):
        """Multi-executor work split: two runs over disjoint bucket ranges
        commit into the SAME root (bucket-derived batch ids never collide)
        and together equal one whole-range run byte-for-byte."""
        root = str(tmp_path / "mexec")
        s1 = run_extraction(
            spark, transcripts, root,
            buckets=8, buckets_per_batch=2, bucket_range=(0, 4),
        )
        s2 = run_extraction(
            spark, transcripts, root,
            buckets=8, buckets_per_batch=2, bucket_range=(4, 8),
        )
        assert s1["executed_now"] == 2 and s2["executed_now"] == 2

        got = _rows_as_dicts(read_chunks(spark, root), CHUNK_COLS)
        want = _golden_as_lists(_golden("chunks"), CHUNK_COLS)
        assert got == want

        # a whole-range pass over the same root finds everything committed
        s3 = run_extraction(spark, transcripts, root, buckets=8, buckets_per_batch=2)
        assert s3["executed_now"] == 0


class _CountingSink:
    """ParquetManifestSink proxy recording the order commits start and
    finish in.  ``fail_call=n``: the n-th commit call raises at once.
    ``wait_for=(a, b)``: batch a's commit waits until batch b committed."""

    def __init__(self, root, fail_call=None, wait_for=None):
        from pdf_extractor_spark.plans.sinks import ParquetManifestSink

        self.inner = ParquetManifestSink(root)
        self.fail_call, self.wait_for = fail_call, wait_for or (None, None)
        self.started, self.finished = [], []
        self.local_props = []
        self._lock = threading.Lock()
        self._released = threading.Event()

    def committed(self):
        return self.inner.committed()

    def commit(self, multiplexed, batch_id, bucket_ids):
        with self._lock:
            self.started.append(batch_id)
            call = len(self.started)
        self.local_props.append(
            multiplexed.sparkSession.sparkContext.getLocalProperty("test.caller")
        )
        if call == self.fail_call:
            raise RuntimeError(f"injected commit failure on batch {batch_id}")
        if batch_id == self.wait_for[0]:
            self._released.wait(timeout=60)
        manifest = self.inner.commit(multiplexed, batch_id, bucket_ids)
        with self._lock:
            self.finished.append(batch_id)
        if batch_id == self.wait_for[1]:
            self._released.set()
        return manifest

    def read_multiplexed(self, spark):
        return self.inner.read_multiplexed(spark)


class TestPipelinedCommits:
    """run_extraction keeps two batches in flight; these pin what that
    must not change: errors, resume and the order of the result."""

    def test_failed_commit_propagates_starts_nothing_more_and_resumes(
        self, spark, transcripts, tmp_path
    ):
        from pdf_extractor_spark.plans.pipeline import committed_batches

        root = str(tmp_path / "fail")
        sink = _CountingSink(root, fail_call=2)
        with pytest.raises(RuntimeError, match="injected commit failure"):
            run_extraction(spark, transcripts, sink=sink,
                           buckets=8, buckets_per_batch=2)
        # the second commit raised at once, while the first was in flight:
        # that one finished its atomic commit, and no third batch started
        assert len(sink.started) == 2
        assert len(sink.finished) == 1
        assert list(committed_batches(root)) == sink.finished

        summary = run_extraction(spark, transcripts, root,
                                 buckets=8, buckets_per_batch=2)
        assert summary["executed_now"] == 3
        got = _rows_as_dicts(read_chunks(spark, root), CHUNK_COLS)
        want = _golden_as_lists(_golden("chunks"), CHUNK_COLS)
        assert got == want  # byte-identical, no dups, nothing missing

        # a third run is a no-op
        again = run_extraction(spark, transcripts, root,
                               buckets=8, buckets_per_batch=2)
        assert again["executed_now"] == 0

    def test_out_of_order_commits_return_batches_in_id_order(
        self, spark, transcripts, tmp_path
    ):
        # batch 0000 waits until batch 0004 has committed, so they finish
        # out of order; the worker threads keep the caller's local properties
        sink = _CountingSink(str(tmp_path / "ooo"), wait_for=("0000", "0004"))
        sc = spark.sparkContext
        sc.setLocalProperty("test.caller", "pipelined")
        try:
            summary = run_extraction(spark, transcripts, sink=sink,
                                     buckets=8, buckets_per_batch=4)
        finally:
            sc.setLocalProperty("test.caller", None)
        assert sink.finished == ["0004", "0000"]
        assert [m["batch_id"] for m in summary["batches"]] == ["0000", "0004"]
        assert sink.local_props == ["pipelined"] * 2
        assert summary["totals"]["convs"] == GOLDEN_CONVS


class TestTitlePrecedence:
    """api.py:1314-1319 parity: metadata title wins over inference when a
    caller provides the optional meta_title column; absent or blank
    metadata falls back to first-turn inference."""

    def test_meta_title_wins_and_null_falls_back(self, spark):
        from pyspark.sql import functions as F

        from pdf_extractor_spark.operators.chunk import (
            SENTINEL_INDEX,
            chunk_conversations,
        )

        rows = generate_rows(2, seed=42)
        extracted = extract_turns(
            spark.createDataFrame(rows_to_pandas(rows)), with_first_extract=True
        ).withColumn(
            "meta_title",
            F.when(F.col("conv_id") == "conv-000000", F.lit("Official Manual Title")),
        )
        sentinels = {
            r["conv_id"]: r["title"]
            for r in chunk_conversations(extracted)
            .where(F.col("chunk_index") == SENTINEL_INDEX)
            .collect()
        }
        assert sentinels["conv-000000"] == "Official Manual Title"
        golden_titles = {d["conv_id"]: d["title"] for d in _golden("docs")}
        assert sentinels["conv-000001"] == golden_titles["conv-000001"]


class TestPackedEmbeddings:
    """Schema-v2 packed embeddings: binary cells carry the identical
    float32 stream as the v1 array column, and the unpack adapter
    round-trips exactly."""

    def test_packed_roundtrip_equals_array(self, spark, tmp_path):
        import numpy as np
        from pyspark.sql import functions as F

        from pdf_extractor_spark.config import EMBED_DIM
        from pdf_extractor_spark.operators.enrich import unpack_embeddings
        from pdf_extractor_spark.plans.pipeline import build_multiplexed

        rows = generate_rows(3, seed=21)
        tx = spark.createDataFrame(rows_to_pandas(rows))

        out_v2 = str(tmp_path / "v2")
        build_multiplexed(tx, packed_embeddings=True).write.parquet(out_v2)
        packed = spark.read.parquet(out_v2).where(F.col("chunk_index") != -1)

        row = packed.select("content", "embedding").orderBy("content").first()
        assert isinstance(row.embedding, (bytes, bytearray))
        assert len(row.embedding) == 4 * EMBED_DIM

        from pdf_extractor_spark.core.embed import embed_text

        np.testing.assert_array_equal(
            np.frombuffer(row.embedding, dtype="<f4"), embed_text(row.content)
        )

        unpacked = unpack_embeddings(packed).select("content", "embedding")
        r2 = unpacked.orderBy("content").first()
        np.testing.assert_array_equal(
            np.asarray(r2.embedding, dtype=np.float32), embed_text(r2.content)
        )
