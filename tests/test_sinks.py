"""Sink protocol: the commit/resume contract is implementation-agnostic.

ParquetManifestSink is exercised for real (commit, resume-skip, counter
verification); IcebergSink is constructor-gated on the Iceberg runtime —
in this container (no iceberg-spark-runtime jar) we assert the clean
failure; the append/verify path runs wherever a catalog exists.
"""

from __future__ import annotations

import pytest

from pdf_extractor_spark.plans.pipeline import run_extraction
from pdf_extractor_spark.plans.sinks import (
    IcebergSink,
    ParquetManifestSink,
    Sink,
    iceberg_available,
)
from pdf_extractor_spark.sources.transcripts import transcripts_spark_df


def test_parquet_sink_is_a_sink(tmp_path):
    assert isinstance(ParquetManifestSink(str(tmp_path)), Sink)


def test_run_extraction_with_explicit_sink_and_resume(spark, tmp_path):
    sink = ParquetManifestSink(str(tmp_path / "out"))
    tx = transcripts_spark_df(spark, 8, seed=42)

    res = run_extraction(spark, tx, sink=sink, buckets=4, buckets_per_batch=2)
    assert res["executed_now"] == 2
    assert res["totals"]["convs"] == 8

    # resume through the SAME protocol surface a fresh process would use
    sink2 = ParquetManifestSink(str(tmp_path / "out"))
    res2 = run_extraction(spark, tx, sink=sink2, buckets=4, buckets_per_batch=2)
    assert res2["executed_now"] == 0
    assert res2["totals"] == res["totals"]

    # committed data readable through the sink; counters match the data
    rows = sink2.read_multiplexed(spark)
    n_chunks = rows.where(rows.chunk_index != -1).count()
    assert n_chunks == res["totals"]["chunks_out"]


def test_run_extraction_requires_root_or_sink(spark):
    tx = transcripts_spark_df(spark, 1, seed=42)
    with pytest.raises(ValueError, match="output_root or an explicit sink"):
        run_extraction(spark, tx)


def test_iceberg_sink_gated_without_runtime(spark):
    if iceberg_available(spark):
        pytest.skip("Iceberg runtime present — gating path not applicable")
    with pytest.raises(RuntimeError, match="Iceberg Spark runtime"):
        IcebergSink(spark, "cat.db.chunks")


@pytest.mark.skipif(
    "not config.getoption('--run-iceberg', default=False)",
    reason="needs an Iceberg catalog (pass --run-iceberg on a cluster)",
)
def test_iceberg_sink_append_verify(spark, tmp_path):
    sink = IcebergSink(spark, "local.db.chunks_multiplexed")
    assert isinstance(sink, Sink)
    tx = transcripts_spark_df(spark, 4, seed=42)
    res = run_extraction(spark, tx, sink=sink, buckets=2, buckets_per_batch=2)
    assert res["totals"]["convs"] == 4
    res2 = run_extraction(spark, tx, sink=sink, buckets=2, buckets_per_batch=2)
    assert res2["executed_now"] == 0


class _FakeWriter:
    """Records the writeTo(...).option(...).append()/create() chain."""

    def __init__(self, log, table):
        self.log, self.table, self.opts = log, table, {}

    def option(self, k, v):
        self.opts[k] = v
        return self

    def using(self, fmt):
        self.opts["_using"] = fmt
        return self

    def append(self):
        self.log.append(("append", self.table, dict(self.opts)))

    def create(self):
        self.log.append(("create", self.table, dict(self.opts)))


class _FakeDF:
    def __init__(self, log, n_rows, table=None):
        self.log, self._n, self._table = log, n_rows, table

    def withColumn(self, *_a, **_k):
        return self

    def writeTo(self, table):
        return _FakeWriter(self.log, table)

    def where(self, *_a):
        return self

    def drop(self, *_a):
        return self

    def count(self):
        return self._n

    @property
    def sparkSession(self):  # pragma: no cover - protocol compat
        return None


class _FakeCatalog:
    def __init__(self, existing):
        self._existing = existing

    def tableExists(self, name):
        return name in self._existing


class _FakeSnapRow:
    def __init__(self, summary):
        self._d = {"snapshot_id": 77, "summary": summary}

    def __getitem__(self, k):
        return self._d[k]


class _FakeSession:
    """Just enough SparkSession for IcebergSink.commit's control flow."""

    def __init__(self, existing_tables, snap_summary, snap_list=None):
        self.catalog = _FakeCatalog(existing_tables)
        self.sql_log: list[str] = []
        self.write_log: list[tuple] = []
        self._snap_summary = snap_summary
        # full snapshot log (the CTAS-fallback query, no stamp filter)
        self._snap_list = snap_list if snap_list is not None else []

    def sql(self, q):
        self.sql_log.append(q)

        class _Res:
            def __init__(s):
                s._row = None

        r = _Res()
        if ".snapshots" in q:
            if "WHERE summary[" in q:
                r.first = lambda: (
                    _FakeSnapRow(self._snap_summary)
                    if self._snap_summary is not None else None
                )
            else:
                r.collect = lambda: list(self._snap_list)
        return r

    def table(self, name):
        return _FakeDF(self.write_log, 3)

    def createDataFrame(self, *_a, **_k):
        return _FakeDF(self.write_log, 1, "_ckpt")


def _mk_iceberg_sink(monkeypatch, session):
    """Construct IcebergSink bypassing the runtime gate (unit-testing the
    commit protocol itself — the path no sandbox jar can execute)."""
    import pdf_extractor_spark.plans.sinks as sinks_mod

    monkeypatch.setattr(sinks_mod, "iceberg_available", lambda _s: True)
    monkeypatch.setattr(
        sinks_mod, "_batch_counters", lambda _df: {"chunks_out": 3}
    )
    return sinks_mod.IcebergSink(session, "cat.db.chunks")


def test_iceberg_commit_creates_table_on_fresh_catalog(monkeypatch):
    """ADVICE r02: the first-ever commit must CREATE the data table, never
    DELETE from a table that does not exist."""
    sess = _FakeSession(existing_tables=set(),
                        snap_summary={"added-records": "3",
                                      "spark_graft_batch_id": "b0"})
    sink = _mk_iceberg_sink(monkeypatch, sess)
    df = _FakeDF(sess.write_log, 3)
    manifest = sink.commit(df, "b0", [0, 1])
    kinds = [k for k, *_ in sess.write_log]
    assert kinds[0] == "create"  # data table created, not appended
    assert not any("DELETE FROM cat.db.chunks WHERE" in q
                   for q in sess.sql_log)
    assert manifest["snapshot_id"] == 77


def test_iceberg_commit_deletes_then_appends_on_existing_table(monkeypatch):
    sess = _FakeSession(existing_tables={"cat.db.chunks"},
                        snap_summary={"added-records": "3",
                                      "spark_graft_batch_id": "b1"})
    sink = _mk_iceberg_sink(monkeypatch, sess)
    sink.commit(_FakeDF(sess.write_log, 3), "b1", [2])
    assert any("DELETE FROM cat.db.chunks WHERE batch_id = 'b1'" in q
               for q in sess.sql_log)
    kinds = [k for k, *_ in sess.write_log]
    assert kinds[0] == "append"


def test_iceberg_commit_verifies_own_snapshot_by_stamp(monkeypatch):
    """ADVICE r02: the snapshot query must filter on the batch's own
    stamp, never take the global latest; the append must carry the
    stamp as a snapshot property."""
    sess = _FakeSession(existing_tables={"cat.db.chunks"},
                        snap_summary={"added-records": "3",
                                      "spark_graft_batch_id": "b2"})
    sink = _mk_iceberg_sink(monkeypatch, sess)
    sink.commit(_FakeDF(sess.write_log, 3), "b2", [0])
    snap_q = [q for q in sess.sql_log if ".snapshots" in q][0]
    assert "summary['spark_graft_batch_id'] = 'b2'" in snap_q
    append = [w for w in sess.write_log if w[0] == "append"][0]
    assert append[2]["snapshot-property.spark_graft_batch_id"] == "b2"


def test_iceberg_commit_count_mismatch_refuses_checkpoint(monkeypatch):
    sess = _FakeSession(existing_tables={"cat.db.chunks"},
                        snap_summary={"added-records": "999"})
    sink = _mk_iceberg_sink(monkeypatch, sess)
    with pytest.raises(RuntimeError, match="refusing to checkpoint"):
        sink.commit(_FakeDF(sess.write_log, 3), "b3", [0])
    # the checkpoint row was never written
    assert not any(w[1] == "cat.db.chunks_checkpoints"
                   for w in sess.write_log if w[0] == "append")


def test_iceberg_commit_missing_added_records_defaults_zero(monkeypatch):
    """ADVICE r02: an all-empty append can omit added-records — that must
    read as 0, not KeyError (and 0 == 0 rows passes)."""
    sess = _FakeSession(existing_tables={"cat.db.chunks"}, snap_summary={})
    sink = _mk_iceberg_sink(monkeypatch, sess)
    sess.table = lambda name: _FakeDF(sess.write_log, 0)  # 0 written rows
    manifest = sink.commit(_FakeDF(sess.write_log, 0), "b4", [0])
    assert manifest["snapshot_id"] == 77  # verified, no exception


def test_iceberg_commit_no_stamped_snapshot_raises(monkeypatch):
    sess = _FakeSession(existing_tables={"cat.db.chunks"}, snap_summary=None)
    sink = _mk_iceberg_sink(monkeypatch, sess)
    with pytest.raises(RuntimeError, match="no snapshot stamped"):
        sink.commit(_FakeDF(sess.write_log, 3), "b5", [0])


def test_iceberg_create_branch_falls_back_to_sole_snapshot(monkeypatch):
    """round-3 ADVICE: some catalogs record create()'s writer options as
    TABLE properties, not snapshot-summary entries, so the stamped lookup
    can be empty on the very first commit.  On the create branch (and ONLY
    there) the sink must fall back to the table's single snapshot — which
    is necessarily ours, the table did not exist a moment ago."""
    sess = _FakeSession(
        existing_tables=set(),             # fresh catalog → create()
        snap_summary=None,                 # stamped lookup finds nothing
        snap_list=[_FakeSnapRow({"added-records": "3"})],
    )
    sink = _mk_iceberg_sink(monkeypatch, sess)
    manifest = sink.commit(_FakeDF(sess.write_log, 3), "b0", [0])
    assert manifest["snapshot_id"] == 77   # verified via the fallback
    kinds = [k for k, *_ in sess.write_log]
    assert kinds[0] == "create"


def test_iceberg_create_fallback_refuses_ambiguous_snapshot_log(monkeypatch):
    """The fallback is only safe when the just-created table has exactly
    ONE snapshot; anything else (shouldn't happen, but a racing writer or
    a catalog quirk could) must refuse to checkpoint."""
    two = [_FakeSnapRow({"added-records": "3"}),
           _FakeSnapRow({"added-records": "1"})]
    sess = _FakeSession(existing_tables=set(), snap_summary=None,
                        snap_list=two)
    sink = _mk_iceberg_sink(monkeypatch, sess)
    with pytest.raises(RuntimeError, match="no snapshot stamped"):
        sink.commit(_FakeDF(sess.write_log, 3), "b0", [0])


def test_iceberg_append_branch_never_uses_sole_snapshot_fallback(monkeypatch):
    """On an EXISTING table the global-latest snapshot may belong to a
    concurrent disjoint-bucket driver — a missing stamped snapshot must
    raise, never fall back."""
    sess = _FakeSession(existing_tables={"cat.db.chunks"}, snap_summary=None,
                        snap_list=[_FakeSnapRow({"added-records": "3"})])
    sink = _mk_iceberg_sink(monkeypatch, sess)
    with pytest.raises(RuntimeError, match="no snapshot stamped"):
        sink.commit(_FakeDF(sess.write_log, 3), "b5", [0])
    # the fallback (unstamped) snapshot query never ran
    assert not any(".snapshots" in q and "WHERE summary[" not in q
                   for q in sess.sql_log)


def test_iceberg_concurrent_commits_on_fresh_catalog_create_once(monkeypatch):
    """Two batches in flight on a fresh catalog: the create-or-append
    decision is re-checked under the sink's lock, so exactly one commit
    creates the data table and the other takes the DELETE + append path."""
    import threading
    import time

    sess = _FakeSession(existing_tables=set(),
                        snap_summary={"added-records": "3"})
    existing = sess.catalog._existing

    class _SlowCreateWriter(_FakeWriter):
        def create(self):
            time.sleep(0.2)  # widen the window between the check and create
            super().create()
            existing.add(self.table)

    class _DF(_FakeDF):
        def writeTo(self, table):
            return _SlowCreateWriter(self.log, table)

    sink = _mk_iceberg_sink(monkeypatch, sess)
    start = threading.Barrier(2)
    errors: list[BaseException] = []

    def commit(batch_id):
        start.wait()
        try:
            sink.commit(_DF(sess.write_log, 3), batch_id, [0])
        except BaseException as e:  # pragma: no cover - reported below
            errors.append(e)

    threads = [threading.Thread(target=commit, args=(b,)) for b in ("b0", "b1")]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=30)
    assert not any(t.is_alive() for t in threads)
    assert not errors
    data_writes = sorted(k for k, table, _ in sess.write_log if table == "cat.db.chunks")
    assert data_writes == ["append", "create"]
    deletes = [q for q in sess.sql_log if q.startswith("DELETE FROM cat.db.chunks ")]
    assert len(deletes) == 1


def test_observed_counters_of_an_empty_batch_are_zero(spark, tmp_path):
    """A batch whose buckets hold no conversation still commits, with
    all-zero observed counters equal to the read-back of its empty parquet."""
    from pdf_extractor_spark.operators.enrich import batch_lineage

    tx = transcripts_spark_df(spark, 1, seed=42)
    res = run_extraction(spark, tx, str(tmp_path / "out"),
                         buckets=2, buckets_per_batch=1)
    assert res["executed_now"] == 2
    (empty,) = [m for m in res["batches"] if m["counters"]["convs"] == 0]
    want = batch_lineage(spark.read.parquet(empty["path"])).first().asDict()
    assert empty["counters"] == {k: int(v or 0) for k, v in want.items()}
    assert set(empty["counters"].values()) == {0}
