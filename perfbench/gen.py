"""Seeded input generation for the benchmark.

Everything a run consumes is derived here from ``--seed``: the star-schema
tables the catalog queries scan, the clinical-notes stream the medallion
pipeline ingests, the commits fed to the maintained indexes, and the
order in which queries run. The same seed gives byte-identical inputs;
the program under test only ever sees the generated files and frames.

The tables follow the schema of the repository's synthetic test data
(``region nation customer supplier part orders lineitem events documents
embeddings``) so every registry query and its DuckDB oracle run on them
unchanged.
"""

from __future__ import annotations

import hashlib
import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = (
    "the a data spark table row scan filter join merge batch stream window "
    "agg sort hash value part key fast slow big small line customer order "
    "query vector column group supplier"
).split()
LANGS = ("en", "en", "zh", "es", "fr", "de")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
PART_ADJ = ("small", "red", "blue", "hot", "old", "large", "new", "cold")
PART_NOUN = ("ring", "widget", "bolt", "gear", "gizmo", "plate", "anvil", "rod")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
EVENT_TYPES = ("signup", "purchase", "view", "click", "error")
#: Identifiers sprinkled into note text so the masking UDF has entities
#: to replace (e-mail, URL, date, phone); the role words in ``WORDS``
#: supply the ``<PERSON>`` matches.
PII = (
    "jane.doe@example.org",
    "https://ehr.example.org/p/{n}",
    "2024-0{m}-1{d}",
    "+44 7700 900{n:03d}",
)

_EPOCH_1995_US = 788918400 * 1_000_000  # 1995-01-01T00:00:00Z in µs
_EPOCH_2024_US = 1704067200 * 1_000_000  # 2024-01-01T00:00:00Z in µs
_DAY_US = 86400 * 1_000_000


def rng(seed: int, stream: str) -> np.random.Generator:
    """An independent generator per (seed, purpose), so adding a stream
    never shifts the values of another."""
    tag = int.from_bytes(hashlib.sha256(stream.encode()).digest()[:8], "little")
    return np.random.default_rng([seed & (2**64 - 1), tag])


def _texts(r: np.random.Generator, n: int, lo: int = 8, hi: int = 90) -> list[str]:
    lengths = r.integers(lo, hi, n)
    words = np.array(WORDS)
    picks = r.integers(0, len(WORDS), int(lengths.sum()))
    out, at = [], 0
    for k in lengths:
        out.append(" ".join(words[picks[at : at + k]]))
        at += k
    return out


def _ts_us(values) -> pa.Array:
    return pa.array(np.asarray(values, dtype="int64"), type=pa.timestamp("us"))


def _write(out_dir: str, name: str, table: pa.Table) -> str:
    path = os.path.join(out_dir, f"{name}.parquet")
    pq.write_table(table, path)
    return path


def write_tables(out_dir: str, sf: float, seed: int) -> dict[str, int]:
    """Write the ten star-schema tables at scale ``sf`` (sf0.1 ≈ 600k
    lineitem rows) under ``out_dir``; returns rows per table."""
    os.makedirs(out_dir, exist_ok=True)
    n_cust = max(150, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(200, int(200_000 * sf))
    n_ord = max(1500, int(1_500_000 * sf))
    n_line = max(6000, int(6_000_000 * sf))
    n_evt = max(1000, int(1_000_000 * sf))
    n_doc = max(500, int(50_000 * sf))
    n_emb = max(200, int(20_000 * sf))
    r = rng(seed, "tables")
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table(
        {
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        }
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    t["customer"] = pa.table(
        {
            "c_custkey": np.arange(n_cust, dtype="int64"),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(r.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": np.round(r.uniform(-999.99, 9999.99, n_cust), 2),
            "c_mktsegment": np.array(SEGMENTS)[r.integers(0, 5, n_cust)],
        }
    )
    t["supplier"] = pa.table(
        {
            "s_suppkey": np.arange(n_supp, dtype="int64"),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(r.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": np.round(r.uniform(-999.99, 9999.99, n_supp), 2),
        }
    )
    t["part"] = pa.table(
        {
            "p_partkey": np.arange(n_part, dtype="int64"),
            "p_name": [
                f"{PART_ADJ[a]} {PART_NOUN[b]}"
                for a, b in zip(r.integers(0, 8, n_part), r.integers(0, 8, n_part))
            ],
            "p_brand": [f"Brand#{b}" for b in r.integers(1, 26, n_part)],
            "p_type": np.array(PART_TYPES)[r.integers(0, 6, n_part)],
            "p_size": pa.array(r.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10.0, 1),
        }
    )
    t["orders"] = pa.table(
        {
            "o_orderkey": np.arange(n_ord, dtype="int64"),
            "o_custkey": r.integers(0, n_cust, n_ord),
            "o_orderstatus": np.array(["F", "O", "P"])[r.integers(0, 3, n_ord)],
            "o_totalprice": np.round(r.uniform(1000, 500000, n_ord), 2),
            "o_orderdate": _ts_us(_EPOCH_1995_US + r.integers(0, 2400, n_ord) * _DAY_US),
            "o_orderpriority": np.array(PRIORITIES)[r.integers(0, 5, n_ord)],
        }
    )
    okeys = np.sort(r.integers(0, n_ord, n_line))
    linenum = np.ones(n_line, dtype="int32")
    same = np.concatenate([[False], okeys[1:] == okeys[:-1]])
    for i in np.nonzero(same)[0]:
        linenum[i] = linenum[i - 1] + 1
    t["lineitem"] = pa.table(
        {
            "l_orderkey": okeys,
            "l_partkey": r.integers(0, n_part, n_line),
            "l_suppkey": r.integers(0, n_supp, n_line),
            "l_linenumber": pa.array(linenum, pa.int32()),
            "l_quantity": r.integers(1, 51, n_line).astype("float64"),
            "l_extendedprice": np.round(r.uniform(900, 105000, n_line), 2),
            "l_discount": r.integers(0, 11, n_line) / 100.0,
            "l_tax": r.integers(0, 9, n_line) / 100.0,
            "l_returnflag": np.array(["A", "N", "R"])[r.integers(0, 3, n_line)],
            "l_linestatus": np.array(["F", "O"])[r.integers(0, 2, n_line)],
            "l_shipdate": _ts_us(_EPOCH_1995_US + r.integers(1, 2500, n_line) * _DAY_US),
        }
    )
    t["events"] = pa.table(
        {
            "event_id": np.arange(n_evt, dtype="int64"),
            "ts": _ts_us(np.sort(_EPOCH_2024_US + r.integers(0, 30 * _DAY_US, n_evt))),
            "user_id": r.integers(0, max(150, n_evt // 66), n_evt),
            "event_type": np.array(EVENT_TYPES)[r.integers(0, 5, n_evt)],
            "value": np.round(r.exponential(50.0, n_evt), 2) + 0.01,
            "props": [f'{{"k": {k}}}' for k in r.integers(0, 100, n_evt)],
        }
    )
    texts = _texts(r, n_doc)
    # 5% exact copies and 5% one-word edits of earlier documents, so the
    # exact and near-duplicate detectors have something to find.
    for i in r.choice(np.arange(n_doc // 2, n_doc), n_doc // 10, replace=False):
        src = texts[int(r.integers(0, n_doc // 2))]
        if i % 2:
            words = src.split(" ")
            words[int(r.integers(0, len(words)))] = WORDS[int(r.integers(0, len(WORDS)))]
            src = " ".join(words)
        texts[int(i)] = src
    t["documents"] = pa.table(
        {
            "doc_id": np.arange(n_doc, dtype="int64"),
            "text": texts,
            "lang": np.array(LANGS)[r.integers(0, len(LANGS), n_doc)],
            "source": [f"src{i % 20}" for i in range(n_doc)],
            "n_chars": np.array([len(x) for x in texts], dtype="int64"),
        }
    )
    emb = r.normal(size=(n_emb, 64)).astype("float32")
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    t["embeddings"] = pa.table(
        {
            "vec_id": np.arange(n_emb, dtype="int64"),
            "embedding": pa.array(list(emb), pa.list_(pa.float32())),
            "label": pa.array(r.integers(0, 10, n_emb), pa.int32()),
        }
    )
    for name, table in t.items():
        _write(out_dir, name, table)
    return {name: table.num_rows for name, table in t.items()}


@dataclass(frozen=True)
class NoteStream:
    """The medallion workload's bronze input: a bulk load, then a
    sequence of increments; the first and every ``erase_every``-th
    increment after it are followed by an erasure."""

    bulk: pa.Table
    increments: list[pa.Table]
    erasures: list[list[int]]  # note ids erased after increment i ([] = none)


def _note_rows(r, ids: np.ndarray, corpus: list[str], seed: int) -> pa.Table:
    n = len(ids)
    # Note text: a corpus document picked by a seeded hash of the note id,
    # with an identifier appended to every third note.
    pick = [
        int.from_bytes(hashlib.md5(f"{seed}:{i}".encode()).digest()[:4], "little")
        % len(corpus)
        for i in ids
    ]
    pii_kind = r.integers(0, len(PII), n)
    text = []
    for k, (i, p) in enumerate(zip(ids, pick)):
        body = corpus[p]
        if i % 3 == 0:
            body += " " + PII[pii_kind[k]].format(n=int(i) % 1000, m=1 + int(i) % 9, d=int(i) % 10)
        text.append(body)
    return pa.table(
        {
            "note_id": ids.astype("int64"),
            "patient_id": r.integers(0, 20_000, n),
            "ts": _ts_us(_EPOCH_2024_US + r.integers(0, 30 * _DAY_US, n)),
            "name": [f"Patient {j}" for j in r.integers(0, 20_000, n)],
            "text": text,
        }
    )


def note_stream(
    seed: int, bulk_rows: int, increment_rows: int, n_increments: int,
    erase_every: int, erase_rows: int, corpus_size: int = 5000,
    erase_recent: int = 0,
) -> NoteStream:
    """The first and every ``erase_every``-th increment after it are
    followed by an erasure of ``erase_rows`` notes: ``erase_recent`` of
    them from that increment (erased before the pipeline first sees
    them), the rest from earlier increments or the bulk load."""
    r = rng(seed, "notes")
    corpus = _texts(rng(seed, "note-corpus"), corpus_size)
    bulk = _note_rows(r, np.arange(bulk_rows), corpus, seed)
    incs, erasures = [], []
    nxt = bulk_rows
    live = np.arange(bulk_rows)
    for i in range(n_increments):
        new = np.arange(nxt, nxt + increment_rows)
        incs.append(_note_rows(r, new, corpus, seed))
        nxt += increment_rows
        live = np.concatenate([live, new])
        if erase_every and i % erase_every == 0:
            recent = r.choice(new, erase_recent, replace=False)
            older = r.choice(live[: len(live) - len(new)], erase_rows - len(recent), replace=False)
            gone = np.sort(np.concatenate([recent, older]))
            live = np.setdiff1d(live, gone)
            erasures.append([int(x) for x in gone])
        else:
            erasures.append([])
    return NoteStream(bulk, incs, erasures)


def index_commits(seed: int, n_docs: int, n_orders: int, n_commits: int,
                  doc_rows: int, order_rows: int, erase_every: int, erase_rows: int):
    """The index workload's sources: a seed documents / orders snapshot,
    then ``n_commits`` commits ``(kind, docs, orders)``. Commit ``i``
    appends ``doc_rows`` new documents, or (the first commit and every
    ``erase_every``-th after it) erases ``erase_rows`` live ones (``docs``
    then holds the erased rows), and appends ``order_rows`` new orders."""
    r = rng(seed, "index")
    text: dict[int, str] = {}

    def docs(ids):
        for i in ids:
            text.setdefault(int(i), None)
        fresh = [i for i in ids if text[int(i)] is None]
        for i, t in zip(fresh, _texts(r, len(fresh))):
            text[int(i)] = t
        return pa.table(
            {"doc_id": np.asarray(ids, dtype="int64"), "text": [text[int(i)] for i in ids]}
        )

    def orders(lo, hi):
        return pa.table(
            {
                "o_orderkey": np.arange(lo, hi, dtype="int64"),
                "o_totalprice": np.round(r.uniform(1000, 500000, hi - lo), 2),
            }
        )

    seed_docs, seed_orders = docs(list(range(n_docs))), orders(0, n_orders)
    commits = []
    nd, no = n_docs, n_orders
    live = list(range(n_docs))
    for i in range(n_commits):
        if erase_every and i % erase_every == 0:
            gone = sorted(int(x) for x in r.choice(live, erase_rows, replace=False))
            live = sorted(set(live) - set(gone))
            commits.append(("erase", docs(gone), orders(no, no + order_rows)))
        else:
            new = list(range(nd, nd + doc_rows))
            live.extend(new)
            nd += doc_rows
            commits.append(("append", docs(new), orders(no, no + order_rows)))
        no += order_rows
    return seed_docs, seed_orders, commits


def query_order(seed: int, names: list[str], n_passes: int) -> list[list[str]]:
    """One seeded permutation of ``names`` per pass."""
    r = rng(seed, "query-order")
    return [[names[i] for i in r.permutation(len(names))] for _ in range(n_passes)]
