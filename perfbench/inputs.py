"""Seeded inputs for every workload, generated in this process before the
system under test sees them.

Transcripts come from the program's own FIXTURES grammar
(``sources.transcripts.generate_conversation``); the catalog tables are a
small TPC-H-like star schema plus ``events`` / ``documents`` /
``embeddings``, drawn with NumPy.  The same seed always yields the same
bytes of input, and every generator also returns the exact counts the
correctness gates compare against.
"""

from __future__ import annotations

import os
import random
from dataclasses import dataclass, field
from itertools import islice

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from pdf_extractor_spark.config import MAX_TURNS_PER_CONV
from pdf_extractor_spark.sources.transcripts import generate_conversation, is_xss_conv

TRANSCRIPT_ARROW = pa.schema([
    ("conv_id", pa.string()),
    ("turn_idx", pa.int32()),
    ("role", pa.string()),
    ("text", pa.string()),
    ("tool", pa.string()),
    ("ts", pa.timestamp("us", tz="UTC")),
])

# uniform_batch: many 5-40-turn conversations, no skew; conversations are
# added until the corpus holds this many turns, so every seed does the same work
UNIFORM_TURNS = 2200
# skewed_batch: few conversations, most turns in giants, one over the cap
SKEWED_SMALL_CONVS = 24
SKEWED_EVERY = 24          # conv 23 is a giant (drawn with 1200-1600 turns)
# conv 24 is drawn as a giant with this hi: 30 * 334 > MAX_TURNS_PER_CONV, so
# it is over the cap for every seed
OVERCAP_HI = 334
# The heavy conversations keep their conv_id, hence their checkpoint bucket
# and batch, and their leading turns up to these counts, whatever the seed:
# the work per run then varies by seed only in the small conversations.
GIANT_TURNS = 1200
OVERCAP_TURNS = MAX_TURNS_PER_CONV + 50
# streaming probe: small files of whole conversations, each file filled with
# conversations until it holds this many turns
STREAM_FILE_TURNS = 60
STREAM_SPLITS = 2          # conversations split across two consecutive files


@dataclass
class Corpus:
    """Generated transcripts plus the exact counts the gates expect."""

    convs: dict[str, list[tuple]] = field(default_factory=dict)
    rejected: set[str] = field(default_factory=set)
    giants: set[str] = field(default_factory=set)
    overcap: set[str] = field(default_factory=set)

    @property
    def n_turns(self) -> int:
        return sum(len(r) for r in self.convs.values())

    @property
    def text_bytes(self) -> int:
        return sum(len(row[3].encode("utf-8")) for rows in self.convs.values() for row in rows)

    def add(self, conv_i: int, rows: list[tuple], giant: bool = False) -> None:
        conv_id = rows[0][0]
        self.convs[conv_id] = rows
        if is_xss_conv(conv_i):
            self.rejected.add(conv_id)
        if giant:
            self.giants.add(conv_id)
        if len(rows) > MAX_TURNS_PER_CONV:
            self.overcap.add(conv_id)
            self.rejected.add(conv_id)


def uniform_corpus(seed: int, target_turns: int = UNIFORM_TURNS) -> Corpus:
    corpus = Corpus()
    i = 0
    while corpus.n_turns < target_turns:
        corpus.add(i, list(generate_conversation(seed, i)))
        i += 1
    return corpus


def skewed_corpus(seed: int, n_small: int = SKEWED_SMALL_CONVS) -> Corpus:
    corpus = Corpus()
    for i in range(n_small):
        giant = i % SKEWED_EVERY == SKEWED_EVERY - 1
        turns = generate_conversation(seed, i, skew_every=SKEWED_EVERY)
        corpus.add(i, list(islice(turns, GIANT_TURNS)), giant)
    overcap = generate_conversation(seed, n_small, hi=OVERCAP_HI, skew_every=1)
    corpus.add(n_small, list(islice(overcap, OVERCAP_TURNS)), True)
    return corpus


def tiny_corpus(seed: int) -> Corpus:
    """Warm-up input: six conversations disjoint from every measured corpus."""
    corpus = Corpus()
    for i in range(900_000, 900_006):
        corpus.add(i, list(generate_conversation(seed, i, lo=3, hi=8)))
    return corpus


def write_transcripts(rows: list[tuple], path: str, seed: int) -> None:
    """One parquet file, rows shuffled so nothing relies on input order."""
    rows = list(rows)
    random.Random(seed).shuffle(rows)
    cols = list(zip(*rows)) if rows else [[] for _ in TRANSCRIPT_ARROW]
    table = pa.Table.from_arrays(
        [pa.array(list(c), type=f.type) for c, f in zip(cols, TRANSCRIPT_ARROW)],
        schema=TRANSCRIPT_ARROW,
    )
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)


def all_rows(corpus: Corpus) -> list[tuple]:
    return [row for rows in corpus.convs.values() for row in rows]


@dataclass
class StreamFiles:
    """Transcript files for the open-loop dropper, in drop order."""

    paths: list[str]
    file_convs: list[set[str]]
    split_convs: set[str]
    corpus: Corpus


def stream_files(seed: int, n_files: int, stage_dir: str) -> StreamFiles:
    """``n_files`` files of whole conversations; ``STREAM_SPLITS`` chosen
    boundaries carry one conversation's turns across two consecutive files.
    File modification times increase in drop order, which is the order the
    file source reads them."""
    rng = random.Random(f"{seed}:stream")
    corpus = Corpus()
    per_file: list[list[tuple]] = []
    conv_i = 0
    for _ in range(n_files):
        rows: list[tuple] = []
        while len(rows) < STREAM_FILE_TURNS:
            conv = list(generate_conversation(seed, conv_i))
            corpus.add(conv_i, conv)
            rows.extend(conv)
            conv_i += 1
        per_file.append(rows)
    boundaries = rng.sample(range(n_files - 1), min(STREAM_SPLITS, n_files - 1))
    split: set[str] = set()
    for b in boundaries:
        # move the back half of file b's last conversation into file b + 1
        last_id = per_file[b][-1][0]
        conv = [r for r in per_file[b] if r[0] == last_id]
        keep = len(conv) // 2
        per_file[b] = [r for r in per_file[b] if r[0] != last_id] + conv[:keep]
        per_file[b + 1] = conv[keep:] + per_file[b + 1]
        split.add(last_id)
    os.makedirs(stage_dir, exist_ok=True)
    paths, convs = [], []
    base = int(os.stat(stage_dir).st_mtime)
    for k, rows in enumerate(per_file):
        path = os.path.join(stage_dir, f"part-{k:05d}.parquet")
        write_transcripts(rows, path, seed + k)
        os.utime(path, (base + k, base + k))
        paths.append(path)
        convs.append({r[0] for r in rows})
    return StreamFiles(paths, convs, split, corpus)


# --------------------------------------------------------------------------
# catalog tables
# --------------------------------------------------------------------------

CATALOG_ROWS = {
    "part": 600, "orders": 4000, "lineitem": 16000, "events": 4000,
    "documents": 300, "embeddings": 300,
}
_VOCAB = (
    "key agg row scan slow fast table value part hash merge batch spark line "
    "sort window join small big order column query data stream filter group "
    "customer vector"
).split()
_STOP = "the a of and to in is it that for on as with was are".split()
_DAY_US = 86_400 * 1_000_000


def _dates(rng: np.random.Generator, n: int, lo: str, hi: str) -> pa.Array:
    a = np.datetime64(lo, "D").astype("int64")
    b = np.datetime64(hi, "D").astype("int64")
    days = rng.integers(a, b + 1, n)
    return pa.array(days * _DAY_US, type=pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def catalog_tables(seed: int) -> dict[str, pa.Table]:
    n = CATALOG_ROWS
    rng = np.random.default_rng(seed)
    np_, no, nl, ne, nd, nv = (
        n["part"], n["orders"], n["lineitem"], n["events"], n["documents"], n["embeddings"]
    )
    part = pa.table({
        "p_partkey": np.arange(np_, dtype="int64"),
        "p_name": [f"{_VOCAB[i % len(_VOCAB)]} {_VOCAB[(i * 7) % len(_VOCAB)]}" for i in range(np_)],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, np_)],
        "p_type": rng.choice(["ECONOMY", "STANDARD", "PROMO", "LARGE", "MEDIUM", "SMALL"], np_),
        "p_size": rng.integers(1, 51, np_).astype("int32"),
        "p_retailprice": np.round(900 + np.arange(np_) * 0.1, 2),
    })
    orders = pa.table({
        "o_orderkey": np.arange(no, dtype="int64"),
        "o_custkey": rng.integers(0, max(no // 10, 1), no).astype("int64"),
        "o_orderstatus": rng.choice(["F", "O", "P"], no),
        "o_totalprice": _money(rng, 1000, 500000, no),
        "o_orderdate": _dates(rng, no, "1992-01-01", "1998-12-31"),
        "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], no),
    })
    lineitem = pa.table({
        "l_orderkey": rng.integers(0, no, nl).astype("int64"),
        "l_partkey": rng.integers(0, np_, nl).astype("int64"),
        "l_suppkey": rng.integers(0, 100, nl).astype("int64"),
        "l_linenumber": rng.integers(1, 8, nl).astype("int32"),
        "l_quantity": rng.integers(1, 51, nl).astype("float64"),
        "l_extendedprice": _money(rng, 900, 100000, nl),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], nl),
        "l_linestatus": rng.choice(["O", "F"], nl),
        "l_shipdate": _dates(rng, nl, "1995-01-02", "2001-11-04"),
    })
    t0 = np.datetime64("2024-01-01T00:00:00", "us").astype("int64")
    events = pa.table({
        "event_id": np.arange(ne, dtype="int64"),
        "ts": pa.array(t0 + np.sort(rng.integers(0, 30 * _DAY_US, ne)), type=pa.timestamp("us")),
        "user_id": rng.integers(0, max(ne // 60, 1), ne).astype("int64"),
        "event_type": rng.choice(["click", "view", "error", "purchase", "search"], ne),
        "value": _money(rng, 0, 100, ne),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)],
    })
    texts = []
    for d in range(nd):
        if d >= 10 and rng.random() < 0.02:
            texts.append(texts[int(rng.integers(0, d))])  # exact duplicate
            continue
        words = rng.choice(_VOCAB + _STOP[:2], int(rng.integers(8, 90)))
        if d % 5 == 0:  # English-looking docs carry stopwords
            words = np.concatenate([words, rng.choice(_STOP, len(words) // 5 + 1)])
            rng.shuffle(words)
        texts.append(" ".join(words))
    documents = pa.table({
        "doc_id": np.arange(nd, dtype="int64"),
        "text": texts,
        "lang": rng.choice(["en", "zh", "de", "fr", "es"], nd),
        "source": [f"src{s}" for s in rng.integers(0, 20, nd)],
        "n_chars": np.array([len(t) for t in texts], dtype="int64"),
    })
    vecs = rng.normal(0, 0.125, (nv, 64)).astype("float32")
    for v in range(5, nv, 37):  # a few near-duplicate vectors
        vecs[v] = vecs[v - 5] + rng.normal(0, 0.02, 64).astype("float32")
    embeddings = pa.table({
        "vec_id": np.arange(nv, dtype="int64"),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": rng.integers(0, 10, nv).astype("int32"),
    })
    return {
        "part": part, "orders": orders, "lineitem": lineitem, "events": events,
        "documents": documents, "embeddings": embeddings,
    }


def write_catalog(tables: dict[str, pa.Table], root: str) -> None:
    os.makedirs(root, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(root, f"{name}.parquet"))
