"""Correctness gates.  They run untimed on every run; any message they
return makes the run exit non-zero.

The comparison helpers take plain Python / pandas data so the self-tests
can feed them corrupted rows without starting Spark.
"""

from __future__ import annotations

import datetime as dt
import math
from typing import Any, Iterable

import numpy as np

from pdf_extractor_spark.core.oracle import STATUS_TOO_LONG, process_conversation

from .inputs import Corpus

CHUNK_FIELDS = (
    "chunk_index", "content", "turns", "printed_pages", "chapters",
    "char_count", "start_turn", "end_turn",
)


def check_manifests(committed: dict[str, dict[str, Any]], corpus: Corpus, n_batches: int) -> list[str]:
    """Every batch has a manifest and the manifest totals equal the
    generator's exact counts."""
    errors = []
    if len(committed) != n_batches:
        errors.append(f"{len(committed)} manifests committed, expected {n_batches}")
    totals: dict[str, int] = {}
    for m in committed.values():
        for k, v in m["counters"].items():
            totals[k] = totals.get(k, 0) + int(v or 0)
    want = {
        "turns_in": corpus.n_turns,
        "convs": len(corpus.convs),
        "convs_rejected": len(corpus.rejected),
    }
    for k, v in want.items():
        if totals.get(k) != v:
            errors.append(f"manifest total {k}={totals.get(k)}, generator says {v}")
    return errors


def _plain(v: Any) -> Any:
    if v is None:
        return None
    if isinstance(v, (list, tuple, np.ndarray)):
        return [_plain(x) for x in v]
    if isinstance(v, np.generic):
        return v.item()
    return v


def compare_sample(chunks, docs, corpus: Corpus, sample: Iterable[str]) -> list[str]:
    """Chunk rows and document rows of ``sample`` against
    ``core.oracle.process_conversation``.  ``chunks`` / ``docs`` are pandas
    frames read back from the sink.  Over-cap conversations are checked
    against the oracle's documented result (rejected, zero chunks) without
    re-extracting ten thousand turns."""
    errors = []
    for conv_id in sample:
        rows = corpus.convs[conv_id]
        got = chunks[chunks["conv_id"] == conv_id].sort_values("chunk_index")
        got_rows = [{f: _plain(r[f]) for f in CHUNK_FIELDS} for _, r in got.iterrows()]
        doc = docs[docs["conv_id"] == conv_id]
        if conv_id in corpus.overcap:
            want_rows, want_status = [], STATUS_TOO_LONG
        else:
            oracle = process_conversation(conv_id, [(r[1], r[3]) for r in rows])
            want_rows = [{f: _plain(c[f]) for f in CHUNK_FIELDS} for c in oracle["chunks"]]
            want_status = oracle["doc"]["status"]
        if got_rows != want_rows:
            bad = next(
                (i for i, (a, b) in enumerate(zip(got_rows, want_rows)) if a != b),
                min(len(got_rows), len(want_rows)),
            )
            errors.append(
                f"{conv_id}: chunk rows differ from the oracle at chunk {bad} "
                f"({len(got_rows)} rows written, {len(want_rows)} expected)"
            )
        if len(doc) != 1:
            errors.append(f"{conv_id}: {len(doc)} document rows, expected 1")
        else:
            d = doc.iloc[0]
            if d["status"] != want_status or int(d["num_turns"]) != len(rows):
                errors.append(
                    f"{conv_id}: document ({d['status']}, {d['num_turns']} turns) != "
                    f"oracle ({want_status}, {len(rows)} turns)"
                )
    return errors


def _cell(v: Any) -> Any:
    if v is None:
        return None
    if isinstance(v, float) and math.isnan(v):
        return None
    if isinstance(v, (list, tuple, np.ndarray)):
        return tuple(_cell(x) for x in v)
    if isinstance(v, np.generic):
        return _cell(v.item())
    if hasattr(v, "to_pydatetime"):
        v = v.to_pydatetime()
    if isinstance(v, dt.datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, bool):
        return int(v)
    if isinstance(v, float) and v.is_integer():
        return int(v)
    return v


def same_rows(spark_pdf, oracle_pdf) -> str | None:
    """Order-insensitive equality of two result frames; None when equal."""
    cols = sorted(spark_pdf.columns)
    if cols != sorted(oracle_pdf.columns):
        return f"columns {cols} != {sorted(oracle_pdf.columns)}"
    a = sorted((tuple(_cell(v) for v in r) for r in spark_pdf[cols].itertuples(index=False)), key=repr)
    b = sorted((tuple(_cell(v) for v in r) for r in oracle_pdf[cols].itertuples(index=False)), key=repr)
    if len(a) != len(b):
        return f"{len(a)} rows, oracle has {len(b)}"
    for x, y in zip(a, b):
        if x != y:
            return f"row {x!r} != oracle row {y!r}"
    return None
