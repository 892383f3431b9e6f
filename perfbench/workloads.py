"""The workloads and the probes of traced runs.  A workload sets up
(session, inputs, warm-up), measures for the requested seconds, runs its
correctness gate untimed, and in a traced run also measures the per-layer
numbers, including a streaming probe (uniform_batch) or a catalog probe
(skewed_batch).

Every call goes through the package's public entry points:
``session.build_session``, ``plans.pipeline.run_extraction``,
``streaming.ingest.run_stream``, ``queries.QUERY_REGISTRY`` and the
``operators`` / ``core`` functions.
"""

from __future__ import annotations

import os
import random
import statistics
import threading
import time
from dataclasses import dataclass, field
from typing import Any, Callable, Optional

from . import inputs
from .gates import check_manifests, compare_sample, same_rows
from .tracing import (
    RssSampler,
    Spans,
    TimingLedger,
    TimingSink,
    event_log_conf,
    read_event_log,
    spark_metrics,
)

# the 16 headline catalog queries, one per operator family
CATALOG_QUERIES = [
    "pricing_summary", "broadcast_dim_join", "reject_antijoin", "set_lineage",
    "first_turn_window", "dedup_exact", "minhash_lsh_pairs", "simhash",
    "cosine_topk", "embedding_neardup", "lang_id", "token_stats",
    "bpe_token_stats", "fingerprint", "winnow_fingerprint",
    "multimodal_frame_stats",
]

INPUT_FILES = 8            # transcript parquet files per batch input
STREAM_INTERVAL_S = 3.0    # open-loop drop period, below the sustainable rate
STREAM_FILES = 6
MIN_CALLS = 2              # run_extraction calls per untraced run, at least
BUCKETS_PER_BATCH = 4      # run_extraction's default
DRAIN_TIMEOUT_S = 30.0
WARM_BUCKETS = (0, 4)      # warm-up commits one batch of the default four


def tail(values: list[float]) -> tuple[Optional[float], Optional[int]]:
    """Highest percentile with at least ten samples beyond it, as
    (value, percentile); (None, None) when there are fewer than 11 samples."""
    n = len(values)
    if n < 11:
        return None, None
    return sorted(values)[n - 11], 100 * (n - 10) // n


def _report_tail(res: "Result", name: str, values: list[float]) -> None:
    value, pct = tail(values)
    n = len(values)
    res.line(name, value, "s", f"p{pct}, n={n}" if pct else f"n={n} < 11: no percentile with 10 samples beyond")


@dataclass
class Result:
    e2e: dict[str, float] = field(default_factory=dict)
    layers: dict[str, float] = field(default_factory=dict)
    report: list[tuple[str, Any, str, str]] = field(default_factory=list)
    attempted: int = 0
    errors: list[str] = field(default_factory=list)

    def line(self, name: str, value: Any, unit: str, note: str = "") -> None:
        self.report.append((name, value, unit, note))


@dataclass
class Ctx:
    workload: str
    seed: int
    seconds: float
    trace: bool
    work: str
    cores: int
    rss: RssSampler
    spans: Spans
    spark: Any = None

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def start_session(self, cores: Optional[int] = None) -> float:
        from pdf_extractor_spark.session import build_session

        extra = event_log_conf(self.path("eventlog")) if self.trace and cores is None else None
        t0 = time.perf_counter()
        self.spark = build_session(f"perfbench-{self.workload}", cores=cores or self.cores, extra_conf=extra)
        self.spark.sparkContext.setLogLevel("ERROR")
        return time.perf_counter() - t0

    def stop_session(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None


def _epoch_ms(perf: float) -> float:
    """perf_counter instant -> epoch milliseconds (event-log time base)."""
    return (time.time() - (time.perf_counter() - perf)) * 1000.0


# --------------------------------------------------------------------------
# core kernels, single process, over a seeded sample of the workload's text
# --------------------------------------------------------------------------

def core_panel(convs: list[list[str]], repeats: int = 3) -> dict[str, float]:
    """Per-turn cost of each core module as the oracle chains them, plus the
    chunker per turn and the embedder per chunk.  ``convs`` is a list of
    conversations, each a list of raw turn texts in turn order.  Median of
    ``repeats`` passes."""
    from pdf_extractor_spark.core.chunker import TurnRecord, chunk_conversation
    from pdf_extractor_spark.core.embed import embed_batch
    from pdf_extractor_spark.core.html_extract import extract_html_main_content, looks_like_html
    from pdf_extractor_spark.core.layout import extract_turn
    from pdf_extractor_spark.core.oracle import extract_turn_fields
    from pdf_extractor_spark.core.security import count_structure_warnings, is_dangerous
    from pdf_extractor_spark.core.textnorm import normalize_text, sanitize_text

    pc = time.perf_counter
    n_turns = sum(len(c) for c in convs)
    passes: list[dict[str, float]] = []
    for _ in range(repeats):
        t = dict.fromkeys(("oracle", "layout", "html", "textnorm", "security", "chunker", "embed"), 0.0)
        n_chunks = 0
        for conv in convs:
            records = []
            for idx, raw in enumerate(conv):
                a = pc()
                fields = extract_turn_fields(raw)
                t["oracle"] += pc() - a
                a = pc()
                is_html = looks_like_html(raw)
                extracted = extract_html_main_content(raw) if is_html else None
                t["html"] += pc() - a
                if not is_html:
                    a = pc()
                    extracted = extract_turn(raw)[0]
                    t["layout"] += pc() - a
                a = pc()
                clean = sanitize_text(normalize_text(extracted))
                t["textnorm"] += pc() - a
                a = pc()
                _ = is_dangerous(raw) or is_dangerous(clean)
                count_structure_warnings(raw)
                t["security"] += pc() - a
                records.append(TurnRecord(idx, fields["clean_text"], fields["printed_page"], fields["chapter"]))
            a = pc()
            chunks = chunk_conversation(records)
            t["chunker"] += pc() - a
            contents = [c["content"] for c in chunks]
            a = pc()
            embed_batch(contents)
            t["embed"] += pc() - a
            n_chunks += len(contents)
        passes.append({
            "core.oracle.extract_us_per_turn": 1e6 * t["oracle"] / n_turns,
            "core.layout.us_per_turn": 1e6 * t["layout"] / n_turns,
            "core.html_extract.us_per_turn": 1e6 * t["html"] / n_turns,
            "core.textnorm.us_per_turn": 1e6 * t["textnorm"] / n_turns,
            "core.security.us_per_turn": 1e6 * t["security"] / n_turns,
            "core.chunker.us_per_turn": 1e6 * t["chunker"] / n_turns,
            "core.embed.us_per_chunk": 1e6 * t["embed"] / max(n_chunks, 1),
        })
    return {k: statistics.median(p[k] for p in passes) for k in passes[0]}


def _turn_sample(corpus: inputs.Corpus, seed: int, max_turns: int = 240) -> list[list[str]]:
    """Seeded whole conversations of the corpus (over-cap ones excluded)
    until ``max_turns`` turns."""
    ids = sorted(c for c in corpus.convs if c not in corpus.overcap)
    random.Random(f"{seed}:core").shuffle(ids)
    out, n = [], 0
    for cid in ids:
        turns = [r[3] for r in sorted(corpus.convs[cid], key=lambda r: r[1])][: max_turns - n]
        out.append(turns)
        n += len(turns)
        if n >= max_turns:
            break
    return out


# --------------------------------------------------------------------------
# batch workloads: run_extraction into a ParquetManifestSink
# --------------------------------------------------------------------------

def _write_batch_input(corpus: inputs.Corpus, root: str, seed: int, clustered: bool) -> None:
    """INPUT_FILES parquet files.  Shuffled rows spread every conversation
    over all files; clustered rows keep a conversation in few files, the
    layout ``salt_stage1`` exists for."""
    rows = inputs.all_rows(corpus)
    if clustered:
        rows.sort(key=lambda r: (r[0], r[1]))
    else:
        random.Random(seed).shuffle(rows)
    step = -(-len(rows) // INPUT_FILES)
    for k in range(INPUT_FILES):
        inputs.write_transcripts(rows[k * step:(k + 1) * step], os.path.join(root, f"part-{k:05d}.parquet"), seed + k)


def _sample_ids(corpus: inputs.Corpus, seed: int) -> list[str]:
    """Seeded oracle sample: one giant (the longest conversation when the
    corpus has none), one XSS, one HTML and two random conversations, plus
    every over-cap one."""
    from pdf_extractor_spark.core.html_extract import looks_like_html

    rng = random.Random(f"{seed}:sample")
    ids = sorted(corpus.convs)
    giants = sorted(corpus.giants - corpus.overcap) or [max(ids, key=lambda c: len(corpus.convs[c]))]
    xss = sorted(corpus.rejected - corpus.overcap)
    html = [c for c in ids if c not in corpus.rejected and any(looks_like_html(r[3]) for r in corpus.convs[c])]
    pick = {rng.choice(giants), rng.choice(xss), rng.choice(html), *rng.sample(ids, 2)}
    return sorted(pick | corpus.overcap)


def _extraction_call(ctx: Ctx, tx, root: str, salt: bool, spans: Spans) -> tuple[float, list[float], dict]:
    from pdf_extractor_spark.plans.pipeline import run_extraction
    from pdf_extractor_spark.plans.sinks import ParquetManifestSink

    sink = TimingSink(ParquetManifestSink(root), spans)
    t0 = time.perf_counter()
    with spans.span("plans.pipeline.run_extraction"):
        out = run_extraction(ctx.spark, tx, sink=sink, salt_stage1=salt)
    wall = time.perf_counter() - t0
    ends = [t0] + sink.commit_ends
    return wall, [b - a for a, b in zip(ends, ends[1:])], out


def _du(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs)


def batch_workload(ctx: Ctx, corpus_fn: Callable[[int], inputs.Corpus], salt: bool, clustered: bool) -> Result:
    from pdf_extractor_spark.config import CHECKPOINT_BUCKETS
    from pdf_extractor_spark.plans.pipeline import read_chunks, read_documents, run_extraction
    from pdf_extractor_spark.plans.sinks import ParquetManifestSink
    from pyspark.sql import functions as F

    res = Result()
    t0 = time.perf_counter()
    session_s = ctx.start_session()
    spark = ctx.spark
    g0 = time.perf_counter()
    corpus = corpus_fn(ctx.seed)
    _write_batch_input(corpus, ctx.path("input"), ctx.seed, clustered)
    gen_s = time.perf_counter() - g0
    tx = spark.read.parquet(ctx.path("input"))
    # warm-up: Python workers, UDF imports and JIT on a disjoint tiny corpus
    warm = inputs.tiny_corpus(ctx.seed)
    _write_batch_input(warm, ctx.path("warm_input"), ctx.seed, clustered)
    run_extraction(spark, spark.read.parquet(ctx.path("warm_input")), ctx.path("warm_out"),
                   salt_stage1=salt, bucket_range=WARM_BUCKETS)
    res.e2e["setup_s"] = time.perf_counter() - t0
    res.layers["session.start_s"] = session_s
    res.layers["sources.generate_s"] = gen_s

    # measure: closed loop, one client; MIN_CALLS calls, more while they fit.
    # A traced run makes one, the base of trace.overhead_frac, to stay short.
    min_calls = 1 if ctx.trace else MIN_CALLS
    quiet = Spans("untraced", enabled=False)
    walls: list[float] = []
    batch_s: list[float] = []
    outs: list[tuple[str, dict]] = []
    m0 = time.perf_counter()
    while len(walls) < min_calls or (
        not ctx.trace and time.perf_counter() - m0 + statistics.median(walls) <= ctx.seconds
    ):
        root = ctx.path(f"out{len(walls)}")
        wall, per_batch, out = _extraction_call(ctx, tx, root, salt, quiet)
        walls.append(wall)
        batch_s.extend(per_batch)
        outs.append((root, out))
    peak_rss_mb = ctx.rss.peak / 2**20
    turns_per_s = corpus.n_turns / statistics.median(walls)
    res.e2e["items_per_s"] = turns_per_s
    res.attempted = len(batch_s)
    root = outs[-1][0]
    bytes_out = _du(os.path.join(root, "batches"))
    res.line("turns_per_s", turns_per_s, "turns/s", f"{corpus.n_turns} turns, median of {len(walls)} run_extraction calls")
    res.line("batch_p50_s", statistics.median(batch_s), "s",
             f"per committed batch, n={len(batch_s)}: " + " ".join(f"{b:.2f}" for b in batch_s))
    _report_tail(res, "batch_tail_s", batch_s)
    res.line("peak_rss_mb", peak_rss_mb, "MB", "process tree: driver JVM + Python workers, set-up and measurement")
    res.line("write_amp", bytes_out / corpus.text_bytes, "bytes/byte", f"{bytes_out} committed bytes / {corpus.text_bytes} input text bytes")

    # correctness gate (untimed)
    n_batches = -(-CHECKPOINT_BUCKETS // BUCKETS_PER_BATCH)
    for r, _ in outs:
        res.errors += check_manifests(ParquetManifestSink(r).committed(), corpus, n_batches)
    sample = _sample_ids(corpus, ctx.seed)
    chunks = read_chunks(spark, root).where(F.col("conv_id").isin(sample)).drop("embedding").toPandas()
    docs = read_documents(spark, root).where(F.col("conv_id").isin(sample)).toPandas()
    res.errors += compare_sample(chunks, docs, corpus, sample)
    again = run_extraction(spark, tx, sink=ParquetManifestSink(root), salt_stage1=salt)
    if again["executed_now"] != 0:
        res.errors.append(f"resume on a committed root executed {again['executed_now']} batches")

    if ctx.trace:
        _trace_batch(ctx, res, tx, corpus, salt, turns_per_s)
    return res


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _trace_batch(ctx: Ctx, res: Result, tx, corpus: inputs.Corpus, salt: bool, untraced_tps: float) -> None:
    from pdf_extractor_spark.operators.chunk import chunk_conversations
    from pdf_extractor_spark.operators.enrich import add_embeddings
    from pdf_extractor_spark.operators.extract import extract_turns

    spark, spans = ctx.spark, ctx.spans
    w0 = time.perf_counter()
    wall, _, out = _extraction_call(ctx, tx, ctx.path("traced_out"), salt, spans)
    w1 = time.perf_counter()
    res.layers["trace.overhead_frac"] = wall * untraced_tps / corpus.n_turns - 1.0
    manifests = out["batches"]
    commit_s = spans.total("plans.sinks.commit")
    write_s = sum(float(m["elapsed_sec"]) for m in manifests)
    totals = out["totals"]

    # isolated operators on materialised inputs, each through a noop sink
    with spans.span("operators.extract"):
        _noop(extract_turns(tx, with_first_extract=True))
    extract_s = spans.total("operators.extract")
    extract_turns(tx, with_first_extract=True).write.mode("overwrite").parquet(ctx.path("iso_extracted"))
    extracted = spark.read.parquet(ctx.path("iso_extracted"))
    with spans.span("operators.chunk"):
        _noop(chunk_conversations(extracted))
    chunk_s = spans.total("operators.chunk")
    chunk_conversations(extracted).write.mode("overwrite").parquet(ctx.path("iso_multiplexed"))
    multiplexed = spark.read.parquet(ctx.path("iso_multiplexed"))
    with spans.span("operators.enrich"):
        _noop(add_embeddings(multiplexed))
    enrich_s = spans.total("operators.enrich")
    add_embeddings(multiplexed).write.mode("overwrite").parquet(ctx.path("iso_embedded"))
    with spans.span("plans.sinks.write_isolated"):
        spark.read.parquet(ctx.path("iso_embedded")).write.mode("overwrite").parquet(ctx.path("iso_written"))
    write_iso_s = spans.total("plans.sinks.write_isolated")

    ok_turns = sum(len(r) for c, r in corpus.convs.items() if c not in corpus.rejected)
    for name, value, unit, note in [
        ("operators.extract.busy_s", extract_s, "s", "isolated, noop sink"),
        ("operators.extract.turns", corpus.n_turns, "count", ""),
        ("operators.extract.useful_frac", ok_turns / corpus.n_turns, "ratio", "turns of OK conversations / turns extracted"),
        ("operators.chunk.busy_s", chunk_s, "s", "isolated, noop sink"),
        ("operators.chunk.groups", len(corpus.convs), "count", ""),
        ("operators.chunk.max_group_turns", max(len(r) for r in corpus.convs.values()), "count", ""),
        ("operators.enrich.busy_s", enrich_s, "s", "isolated, noop sink"),
        ("operators.enrich.chunks", totals.get("chunks_out", 0), "count", ""),
        ("plans.sinks.commit_s", commit_s, "s", "sum of Sink.commit spans"),
        ("plans.sinks.write_s", write_s, "s", "sum of manifest elapsed_sec"),
        ("plans.sinks.counters_s", commit_s - write_s, "s", "commit_s - write_s"),
        ("plans.sinks.write_isolated_s", write_iso_s, "s", "parquet write of materialised output rows"),
        ("plans.sinks.bytes_written", _du(ctx.path("traced_out", "batches")), "bytes", ""),
        ("plans.pipeline.batches", len(manifests), "count", ""),
        ("plans.pipeline.wall_s", wall, "s", "traced run_extraction"),
        ("plans.pipeline.overhead_s", wall - extract_s - chunk_s - enrich_s - write_iso_s, "s",
         "wall - isolated operator busy - isolated write"),
    ]:
        res.line(name, value, unit, note)

    res.layers.update(core_panel(_turn_sample(corpus, ctx.seed)))
    jobs_window = (w0, w1)
    scaling = None
    if ctx.workload == "uniform_batch":
        stream_probe(ctx, res)
        scaling = _single_core_tps(ctx, corpus, salt)
    else:
        catalog_probe(ctx, res)
    ctx.stop_session()
    res.layers.update(spark_metrics(read_event_log(ctx.path("eventlog")), _epoch_ms(jobs_window[0]), _epoch_ms(jobs_window[1])))
    res.line("plans.pipeline.jobs", res.layers["spark.jobs"], "count", "Spark jobs in the traced run_extraction")
    if scaling is not None:
        res.line("plans.pipeline.scaling_eff", untraced_tps / (ctx.cores * scaling), "ratio",
                 f"turns_per_s at local[{ctx.cores}] / ({ctx.cores} x {scaling:.1f} turns/s at local[1])")


def _single_core_tps(ctx: Ctx, corpus: inputs.Corpus, salt: bool) -> float:
    """uniform_batch at local[1], in a fresh SparkContext of this process.
    Its own warm-up first, like the measured run.  Returns turns/s."""
    from pdf_extractor_spark.plans.pipeline import run_extraction

    ctx.stop_session()
    ctx.start_session(cores=1)
    spark = ctx.spark
    run_extraction(spark, spark.read.parquet(ctx.path("warm_input")), ctx.path("warm_out_1"),
                   salt_stage1=salt, bucket_range=WARM_BUCKETS)
    wall, _, _ = _extraction_call(ctx, spark.read.parquet(ctx.path("input")), ctx.path("out_1core"), salt, Spans("x", False))
    return corpus.n_turns / wall


def uniform_batch(ctx: Ctx) -> Result:
    return batch_workload(ctx, inputs.uniform_corpus, salt=False, clustered=False)


def skewed_batch(ctx: Ctx) -> Result:
    return batch_workload(ctx, inputs.skewed_corpus, salt=True, clustered=True)


# --------------------------------------------------------------------------
# streaming: open-loop file drops into run_stream
# --------------------------------------------------------------------------

@dataclass
class StreamRun:
    latencies: list[float]
    lateness: list[float]
    backlog_max: int
    wall: float
    ledger: TimingLedger
    out: str
    errors: list[str]


def _seen_convs(out: str, batch_id: int) -> set[str]:
    import pyarrow.parquet as pq

    path = os.path.join(out, "_seen", f"batch_id={batch_id}")
    return set(pq.read_table(path, columns=["conv_id"]).column("conv_id").to_pylist())


def _stream_once(ctx: Ctx, files: inputs.StreamFiles, tag: str, spans: Spans) -> StreamRun:
    from pdf_extractor_spark.streaming.ingest import run_stream
    from pdf_extractor_spark.streaming.ledger import LocalParquetLedger

    in_dir, out, ckpt = ctx.path(tag, "in"), ctx.path(tag, "out"), ctx.path(tag, "ckpt")
    os.makedirs(in_dir, exist_ok=True)
    ledger = TimingLedger(LocalParquetLedger(out), spans)
    q = run_stream(ctx.spark, in_dir, out, ckpt, available_now=False, max_files_per_trigger=1, ledger=ledger)
    n = len(files.paths)
    t0 = time.perf_counter() + 1.0
    due = [t0 + i * STREAM_INTERVAL_S for i in range(n)]
    lateness: list[float] = []
    backlog = [0]

    def dropper() -> None:
        for i, src in enumerate(files.paths):
            delay = due[i] - time.perf_counter()
            if delay > 0:
                time.sleep(delay)
            os.rename(src, os.path.join(in_dir, os.path.basename(src)))
            lateness.append(time.perf_counter() - due[i])
            backlog.append(i + 1 - ledger.n_committed())

    thread = threading.Thread(target=dropper, name="file-dropper")
    thread.start()
    errors: list[str] = []
    try:
        deadline = due[-1] + DRAIN_TIMEOUT_S
        while ledger.n_committed() < n and time.perf_counter() < deadline and q.exception() is None:
            time.sleep(0.02)
    finally:
        thread.join()
        q.stop()
    if q.exception() is not None:
        errors.append(f"stream failed: {q.exception()}")
    # map batches to files by the conversations each batch recorded
    latencies = []
    committed = dict(ledger.committed_at)
    by_convs = {frozenset(c): k for k, c in enumerate(files.file_convs)}
    seen_files = {}
    for bid, at in committed.items():
        k = by_convs.get(frozenset(_seen_convs(out, bid)))
        if k is None:
            errors.append(f"micro-batch {bid} does not match any dropped file")
            continue
        seen_files[k] = at
    for k in range(n):
        if k not in seen_files:
            errors.append(f"file {k} never committed")
        else:
            latencies.append(seen_files[k] - due[k])
    wall = (max(committed.values()) - t0) if committed else float("nan")
    return StreamRun(latencies, lateness, max(backlog), wall, ledger, out, errors)


def _stream_warmup(ctx: Ctx) -> None:
    """Two files, one conversation split between them, through an
    ``availableNow`` stream one file per micro-batch: the second batch
    takes the ledger-join and quarantine path the measured run takes."""
    from pdf_extractor_spark.streaming.ingest import run_stream

    inputs.stream_files(ctx.seed + 1, 2, ctx.path("stream_warm", "in"))
    q = run_stream(ctx.spark, ctx.path("stream_warm", "in"), ctx.path("stream_warm", "out"),
                   ctx.path("stream_warm", "ckpt"), max_files_per_trigger=1)
    q.awaitTermination(120)
    q.stop()


def stream_probe(ctx: Ctx, res: Result) -> None:
    """The ``streaming`` layer, measured in the traced uniform_batch run:
    STREAM_FILES files dropped open-loop, one every STREAM_INTERVAL_S, into
    ``run_stream(available_now=False, max_files_per_trigger=1)`` with a
    ``TimingLedger``.  Its gate: every file commits, the quarantined
    conversations are exactly the ones split across files, and every
    conversation has one document row."""
    from pdf_extractor_spark.streaming.ingest import quarantined_convs, read_quarantine, read_stream_output
    from pyspark.sql import functions as F

    spark = ctx.spark
    _stream_warmup(ctx)
    files = inputs.stream_files(ctx.seed, STREAM_FILES, ctx.path("stream_stage"))
    run = _stream_once(ctx, files, "stream", ctx.spans)
    res.errors += run.errors
    got = {r[0] for r in read_quarantine(spark, run.out).select("conv_id").distinct().collect()}
    if got != files.split_convs:
        res.errors.append(f"stream quarantined {sorted(got)}, split across files {sorted(files.split_convs)}")
    n_docs = read_stream_output(spark, run.out).where(F.col("chunk_index") == -1).count()
    if n_docs != len(files.corpus.convs):
        res.errors.append(f"stream committed {n_docs} document rows for {len(files.corpus.convs)} conversations")

    led = run.ledger
    nb = max(len(led.committed_at), 1)
    body = [led.committed_at[b] - led.first_call[b] for b in led.committed_at]
    n = len(run.latencies)
    bytes_out = sum(_du(os.path.join(run.out, d)) for d in os.listdir(run.out) if d.startswith("batch_id="))
    for name, value, unit, note in [
        ("streaming.arrival_p50_s", statistics.median(run.latencies) if n else None, "s",
         f"file due -> micro-batch committed, one file per {STREAM_INTERVAL_S} s, n={n}"),
        ("streaming.turns_per_s", files.corpus.n_turns / run.wall, "turns/s", "offered load, open loop"),
        ("streaming.write_amp", bytes_out / files.corpus.text_bytes, "bytes/byte", "committed bytes / input text bytes"),
        ("streaming.ledger.prior_seen_s", ctx.spans.total("streaming.ledger.prior_seen") / nb, "s", "mean per micro-batch"),
        ("streaming.ledger.record_seen_s", ctx.spans.total("streaming.ledger.record_seen") / nb, "s", "mean per micro-batch"),
        ("streaming.ledger.quarantine_s", ctx.spans.total("streaming.ledger.quarantine") / nb, "s", "mean per micro-batch"),
        ("streaming.ingest.batch_body_s", statistics.mean(body) if body else None, "s",
         "mean, first ledger call -> record_seen returned"),
        ("streaming.ingest.backlog_max", run.backlog_max, "files", "dropped - committed, at each drop"),
        ("streaming.ingest.generator_lag_s", max(run.lateness), "s", "max dropper lateness (open-loop validity)"),
        ("streaming.ingest.quarantined_convs", quarantined_convs(spark, run.out), "count", "exact"),
    ]:
        res.line(name, value, unit, note)
    _report_tail(res, "streaming.arrival_tail_s", run.latencies)


# --------------------------------------------------------------------------
# catalog queries: measured in the traced skewed_batch run
# --------------------------------------------------------------------------

def catalog_probe(ctx: Ctx, res: Result) -> None:
    """The ``queries`` layer: the 16 headline queries on seeded tables.
    The first pass collects each result and compares it with its DuckDB
    oracle SQL (untimed, cold); the second is timed through ``noop``
    writes."""
    import duckdb

    from pdf_extractor_spark.queries import QUERY_REGISTRY

    spark, root = ctx.spark, ctx.path("catalog")
    tables = inputs.catalog_tables(ctx.seed)
    inputs.write_catalog(tables, root)
    con = duckdb.connect()
    try:
        for name in tables:
            con.sql(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{os.path.join(root, name)}.parquet')")
        for name in CATALOG_QUERIES:
            fn, oracle_sql = QUERY_REGISTRY[name]
            diff = same_rows(fn(spark, root).toPandas(), con.sql(oracle_sql).df())
            if diff:
                res.errors.append(f"query {name}: {diff}")
    finally:
        con.close()
    times = []
    for name in CATALOG_QUERIES:
        with ctx.spans.span(f"queries.{name}"):
            _noop(QUERY_REGISTRY[name][0](spark, root))
        times.append(ctx.spans.total(f"queries.{name}"))
        res.line(f"queries.{name}_s", times[-1], "s", "warm, noop sink")
    res.line("queries.p50_s", statistics.median(times), "s", f"n={len(times)}")
    _report_tail(res, "queries.tail_s", times)


WORKLOADS: dict[str, Callable[[Ctx], Result]] = {
    "uniform_batch": uniform_batch,
    "skewed_batch": skewed_batch,
}
