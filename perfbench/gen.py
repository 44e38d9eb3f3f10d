"""Seeded inputs for the benchmark, built from the sf0.1 test corpus.

``corpus/`` holds the repository's sf0.1 test tables (TESTDATA.md) that
the workloads read, copied verbatim. ``--seed`` changes only what the
seed is meant to change:

- a bijection on ``events.user_id``: the same multiset of per-user event
  counts (the key skew) and the same timestamps, with other users
  holding each count;
- the planted near-duplicate ``documents`` rows;
- the split of ``events`` into waves, the replayed waves and the per-round
  query order (``plan_rng``).

Every other table is copied unchanged. The engine only ever reads the
parquet files written here.
"""

from __future__ import annotations

import os
import pathlib
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

CORPUS = pathlib.Path(__file__).resolve().parent / "corpus"
# documents of the corpus that neardup_dedup reads (the first N by
# doc_id), and planted one-token near-duplicate copies per document: the
# "how much work inputs share" knob
N_DOCS = 1_000
NEARDUP_RATE = 0.10
# a copy edits one token of a document with at least this many tokens, so
# at most 3 of its >= 38 distinct word 3-grams change and the pair's
# Jaccard stays above the 0.8 threshold the queries use
MIN_TOKENS = 40


def _streams(seed: int) -> dict[str, np.random.SeedSequence]:
    return dict(zip(["events", "documents", "plan"], np.random.SeedSequence(seed).spawn(3)))


def events(rng: np.random.Generator) -> pa.Table:
    ev = pq.read_table(CORPUS / "events.parquet")
    users = np.unique(ev.column("user_id").to_numpy())
    image = rng.permutation(users)
    uid = image[np.searchsorted(users, ev.column("user_id").to_numpy())]
    return ev.set_column(ev.schema.get_field_index("user_id"), "user_id", pa.array(uid, pa.int64()))


def documents(rng: np.random.Generator) -> tuple[pa.Table, int]:
    """The first ``N_DOCS`` corpus documents plus planted copies. Each copy
    replaces one middle token of a long document with another word of the
    corpus vocabulary and takes the next free ``doc_id``."""
    docs = pq.read_table(CORPUS / "documents.parquet")
    docs = docs.filter(pc.less(docs.column("doc_id"), N_DOCS)).sort_by("doc_id")
    texts = docs.column("text").to_pylist()
    toks = [t.split(" ") for t in texts]
    vocab = sorted({w for ts in toks for w in ts})
    long_rows = [i for i, ts in enumerate(toks) if len(ts) >= MIN_TOKENS]
    n_copies = int(round(NEARDUP_RATE * docs.num_rows))
    src = np.sort(rng.choice(long_rows, size=n_copies, replace=False))
    copies = []
    for row in src:
        ts = list(toks[row])
        i = int(rng.integers(len(ts) // 4, 3 * len(ts) // 4))
        others = [w for w in vocab if w != ts[i]]
        ts[i] = others[int(rng.integers(0, len(others)))]
        copies.append(" ".join(ts))
    first = pc.max(docs.column("doc_id")).as_py() + 1
    planted = docs.take(pa.array(src)).to_pydict()
    planted["doc_id"] = list(range(first, first + n_copies))
    planted["text"] = copies
    planted["n_chars"] = [len(t) for t in copies]
    return pa.concat_tables([docs, pa.table(planted, schema=docs.schema)]), n_copies


def build(seed: int, out: str, tables: list[str]) -> dict:
    """Write ``tables`` for ``seed`` under ``out/tables`` and return the
    input facts (row counts, planted copies)."""
    os.makedirs(f"{out}/tables", exist_ok=True)
    streams = _streams(seed)
    facts: dict = {}
    for name in tables:
        path = f"{out}/tables/{name}.parquet"
        if name == "events":
            table = events(np.random.default_rng(streams["events"]))
            pq.write_table(table, path)
        elif name == "documents":
            table, facts["planted_copies"] = documents(np.random.default_rng(streams["documents"]))
            pq.write_table(table, path)
        else:
            shutil.copyfile(CORPUS / f"{name}.parquet", path)
            table = pq.ParquetFile(path).metadata
        facts[f"{name}_rows"] = table.num_rows
    return facts


def plan_rng(seed: int) -> np.random.Generator:
    """The stream that orders queries and picks waves and replays."""
    return np.random.default_rng(_streams(seed)["plan"])


def split_waves(seed: int, out: str, n_waves: int) -> list[str]:
    """Split the seeded ``events`` into ``n_waves`` waves by a seeded
    hash of ``event_id``. Wave ``w`` is ``out/waves/wNNN/events.parquet``
    (a corpus directory the engine's ``load_table`` reads); the returned
    files are in delivery order."""
    ev = pq.read_table(f"{out}/tables/events.parquet")
    salt = np.uint64(plan_rng(seed).integers(1, 2**62))
    ids = ev.column("event_id").to_numpy().astype(np.uint64)
    h = (ids + salt) * np.uint64(0x9E3779B97F4A7C15)
    wave_of = (h >> np.uint64(40)) % np.uint64(n_waves)
    paths = []
    for w in range(n_waves):
        os.makedirs(f"{out}/waves/w{w:03d}", exist_ok=True)
        path = f"{out}/waves/w{w:03d}/events.parquet"
        pq.write_table(ev.filter(pa.array(wave_of == w)), path)
        paths.append(path)
    return paths
