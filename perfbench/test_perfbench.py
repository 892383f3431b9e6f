"""Benchmark self-tests.

    python3 -m pytest perfbench -q            # gate and helper cases, seconds
    PERFBENCH_SMOKE=1 python3 -m pytest perfbench -q   # + one tiny run per workload

The gate cases need no Spark.  The smoke runs start the real benchmark
(a Spark session each, about a minute apiece).
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pandas as pd
import pytest

from perfbench import inputs
from perfbench.gates import check_manifests, compare_sample, same_rows
from perfbench.run import END_TO_END, PER_LAYER, UNITS
from perfbench.tracing import Span, Spans
from perfbench.workloads import tail

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _sink_frames(corpus: inputs.Corpus, sample: list[str]):
    """The chunk and document rows a correct sink holds for ``sample``."""
    from pdf_extractor_spark.core.oracle import process_conversation

    chunks, docs = [], []
    for cid in sample:
        out = process_conversation(cid, [(r[1], r[3]) for r in corpus.convs[cid]])
        chunks += [dict(c) for c in out["chunks"]]
        docs.append(out["doc"])
    return pd.DataFrame(chunks), pd.DataFrame(docs)


def test_gate_accepts_oracle_rows_and_rejects_a_corrupted_chunk_row():
    corpus = inputs.uniform_corpus(seed=5, target_turns=300)
    sample = ["conv-000001", "conv-000007"]  # 7 is an XSS conversation
    chunks, docs = _sink_frames(corpus, sample)
    assert compare_sample(chunks, docs, corpus, sample) == []

    bad = chunks.copy()
    bad.loc[bad.index[0], "content"] = bad.loc[bad.index[0], "content"] + " tampered"
    errors = compare_sample(bad, docs, corpus, sample)
    assert len(errors) == 1 and "conv-000001" in errors[0]

    dropped = chunks.iloc[1:]
    assert compare_sample(dropped, docs, corpus, sample)


def _write_manifests(root: str, corpus: inputs.Corpus, n_batches: int) -> None:
    ids = sorted(corpus.convs)
    os.makedirs(os.path.join(root, "_checkpoints"))
    for b in range(n_batches):
        part = ids[b::n_batches]
        counters = {
            "convs": len(part),
            "turns_in": sum(len(corpus.convs[c]) for c in part),
            "convs_rejected": len(corpus.rejected & set(part)),
        }
        with open(os.path.join(root, "_checkpoints", f"batch_{b:04d}.json"), "w") as f:
            json.dump({"batch_id": f"{b:04d}", "counters": counters}, f)


def test_gate_rejects_a_missing_manifest(tmp_path):
    from pdf_extractor_spark.plans.sinks import ParquetManifestSink

    corpus = inputs.uniform_corpus(seed=5, target_turns=300)
    root = str(tmp_path / "out")
    _write_manifests(root, corpus, 4)
    assert check_manifests(ParquetManifestSink(root).committed(), corpus, 4) == []

    os.remove(os.path.join(root, "_checkpoints", "batch_0002.json"))
    errors = check_manifests(ParquetManifestSink(root).committed(), corpus, 4)
    assert any("3 manifests" in e for e in errors)
    assert any("turns_in" in e for e in errors)


def test_skewed_corpus_has_a_conversation_over_the_cap():
    from pdf_extractor_spark.config import MAX_TURNS_PER_CONV

    corpus = inputs.skewed_corpus(seed=3, n_small=2)
    (big,) = corpus.overcap
    assert len(corpus.convs[big]) > MAX_TURNS_PER_CONV
    assert big in corpus.rejected


def test_stream_files_split_exactly_the_listed_conversations(tmp_path):
    files = inputs.stream_files(seed=4, n_files=5, stage_dir=str(tmp_path))
    assert len(files.split_convs) == inputs.STREAM_SPLITS
    for cid in files.split_convs:
        holders = [k for k, convs in enumerate(files.file_convs) if cid in convs]
        assert len(holders) == 2 and holders[1] == holders[0] + 1
    mtimes = [os.stat(p).st_mtime for p in files.paths]
    assert mtimes == sorted(mtimes) and len(set(mtimes)) == len(mtimes)


def test_inputs_repeat_for_a_seed():
    a, b = inputs.catalog_tables(9), inputs.catalog_tables(9)
    assert all(a[t].equals(b[t]) for t in a)
    assert inputs.uniform_corpus(9, 60).convs == inputs.uniform_corpus(9, 60).convs


def test_same_rows_ignores_order_and_integer_dtype_but_not_values():
    a = pd.DataFrame({"k": [1, 2], "v": [0.5, 1.25]})
    b = pd.DataFrame({"v": [1.25, 0.5], "k": pd.array([2, 1], dtype="int32")})
    assert same_rows(a, b) is None
    assert same_rows(a, b.assign(v=[1.25, 0.5001])) is not None
    assert same_rows(a, b.iloc[:1]) is not None


def test_tail_has_ten_samples_beyond():
    assert tail(list(range(10))) == (None, None)
    value, pct = tail(list(range(100)))
    assert value == 89 and pct == 90
    assert sum(v > value for v in range(100)) == 10


def test_span_self_time_subtracts_children():
    spans = Spans("t")
    spans.spans = [
        Span("outer", 0.0, 10.0, None, "t", 0),
        Span("a", 1.0, 4.0, 0, "t", 1),
        Span("b", 3.0, 6.0, 0, "t", 2),
    ]
    self_t = spans.self_times()
    assert self_t["outer"] == pytest.approx(5.0)
    assert self_t["a"] == pytest.approx(3.0)


def test_benchmark_fails_without_the_package(tmp_path):
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "uniform_batch", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=180,
        env={k: v for k, v in os.environ.items() if k != "PYTHONPATH"},
    )
    assert out.returncode != 0
    assert '"correct"' not in out.stdout


def test_benchmark_json_matches_the_runner():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert [m["name"] for m in bench["end_to_end"]] == END_TO_END
    assert [m["name"] for m in bench["per_layer"]] == PER_LAYER
    for m in bench["end_to_end"] + bench["per_layer"]:
        assert m["unit"] == UNITS[m["name"]]


@pytest.mark.skipif(not os.environ.get("PERFBENCH_SMOKE"), reason="set PERFBENCH_SMOKE=1 to start Spark")
@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", ["uniform_batch", "skewed_batch"])
def test_smoke_run_prints_every_metric(workload, trace):
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "7",
         "--seconds", "1", "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=180,
    )
    assert out.returncode == 0, out.stdout[-3000:] + out.stderr[-3000:]
    lines = out.stdout.strip().splitlines()
    result = json.loads(lines[-1])
    names = PER_LAYER if trace else END_TO_END
    assert result["correct"] and set(result["metrics"]) == set(names)
    for name in names:
        assert result["metrics"][name]["unit"] == UNITS[name]
        assert any(line.startswith(f"# {name} = ") for line in lines)
    assert any(line.startswith("# failed_frac = ") for line in lines)
