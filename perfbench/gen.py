"""Seeded input generation for the benchmark workloads.

Every input is a pure function of the workload seed: the same seed gives
byte-identical inputs. Shapes follow the TPC-H-style sf0.1 tables the
engine's own fixtures use (lineitem, orders, events, documents,
embeddings), drawn with numpy so the benchmark reads nothing outside its
checkout. Sizes are fixed per workload; only the content varies with the
seed, so run-to-run timing spread measures the engine, not the input size.

The cell encoders at the bottom re-derive the engine's byte layout
(big-endian fixed width for numbers, epoch millis for timestamps, UTF-8
for strings) with ``struct`` so the oracle never calls engine code.
"""

from __future__ import annotations

import struct
from dataclasses import dataclass

import numpy as np
import pandas as pd

T0_MS = 1_700_000_000_000  # base writer timestamp for every store

# ---------------------------------------------------------------- lineitem

LINEITEM_ROWS = 20_000
LINEITEM_COLS = [
    ("l_id", "bigint"),
    ("l_orderkey", "bigint"),
    ("l_partkey", "bigint"),
    ("l_suppkey", "bigint"),
    ("l_linenumber", "int"),
    ("l_quantity", "double"),
    ("l_extendedprice", "double"),
    ("l_discount", "double"),
    ("l_tax", "double"),
    ("l_returnflag", "string"),
    ("l_linestatus", "string"),
    ("l_shipdate", "timestamp"),
]
N_SUPPLIERS = 1000


def _days(rng, n, start="1992-01-01", span_days=2500):
    base = np.datetime64(start, "ms")
    return base + rng.integers(0, span_days, n).astype("timedelta64[D]")


def lineitem(seed: int) -> pd.DataFrame:
    """A lineitem sample keyed by a unique ``l_id``; money columns carry
    exactly two decimals so the oracle's checksums are exact integers."""
    rng = np.random.default_rng([seed, 1])
    n = LINEITEM_ROWS
    orderkey = np.sort(rng.choice(600_000, n, replace=False)) + 1
    line = rng.integers(1, 8, n).astype(np.int32)
    qty = rng.integers(1, 51, n)
    return pd.DataFrame(
        {
            "l_id": orderkey * 8 + line,
            "l_orderkey": orderkey,
            "l_partkey": rng.integers(1, 20_001, n),
            "l_suppkey": rng.integers(1, N_SUPPLIERS + 1, n),
            "l_linenumber": line,
            "l_quantity": qty.astype(np.float64),
            "l_extendedprice": rng.integers(90_000, 10_500_000, n) / 100.0,
            "l_discount": rng.integers(0, 11, n) / 100.0,
            "l_tax": rng.integers(0, 9, n) / 100.0,
            "l_returnflag": rng.choice(["A", "N", "R"], n),
            "l_linestatus": rng.choice(["O", "F"], n),
            "l_shipdate": _days(rng, n),
        }
    )


# ------------------------------------------------------------------ orders

ORDERS_COLS = [
    ("o_orderkey", "bigint"),
    ("o_custkey", "bigint"),
    ("o_orderstatus", "string"),
    ("o_totalprice", "double"),
    ("o_orderdate", "timestamp"),
    ("o_orderpriority", "string"),
]
DELTA_ROWS = 400
# the rest of a delta is tombstones; new keys and tombstones balance, so
# the live key count holds at DELTA_ROWS after the first (all-new) delta
# and per-step cost does not drift with the number of steps a run makes
NEW_FRAC, UPDATE_FRAC = 0.25, 0.5
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]


@dataclass
class OrdersDelta:
    """One ingest step: ``upserts`` rows (new keys and updates; a null
    column in an update writes no cell, so the old value stays live) and
    the keys whose every cell is tombstoned."""

    step: int
    ts: int
    upserts: pd.DataFrame
    tombstone_keys: np.ndarray


class OrdersDeltas:
    """Deterministic stream of orders deltas for one seed. Updates and
    tombstones only target keys live at that step, so the generator keeps
    the live key set itself."""

    def __init__(self, seed: int):
        self.rng = np.random.default_rng([seed, 2])
        self.next_key = 1
        self.live: list[int] = []
        self.step = 0

    def next(self) -> OrdersDelta:
        rng = self.rng
        n_new = int(DELTA_ROWS * NEW_FRAC) if self.live else DELTA_ROWS
        n_upd = int(DELTA_ROWS * UPDATE_FRAC) if self.live else 0
        n_del = DELTA_ROWS - n_new - n_upd
        live = np.array(self.live, dtype=np.int64)
        touched = rng.choice(live, min(len(live), n_upd + n_del), replace=False) if len(live) else live
        upd, dele = touched[:n_upd], touched[n_upd:]
        new = np.arange(self.next_key, self.next_key + n_new, dtype=np.int64)
        self.next_key += n_new
        keys = np.concatenate([new, upd])
        n = len(keys)
        df = pd.DataFrame(
            {
                "o_orderkey": keys,
                "o_custkey": rng.integers(1, 15_001, n),
                "o_orderstatus": rng.choice(["O", "F", "P"], n).astype(object),
                "o_totalprice": rng.integers(100_000, 50_000_000, n) / 100.0,
                "o_orderdate": _days(rng, n),
                "o_orderpriority": rng.choice(PRIORITIES, n).astype(object),
            }
        )
        # updates leave about a third of their columns null: partial rows
        mask = np.zeros((n, 5), dtype=bool)
        mask[len(new):] = rng.random((len(upd), 5)) < 0.3
        for j, (c, _) in enumerate(ORDERS_COLS[1:]):
            df[c] = df[c].astype(object)
            df.loc[mask[:, j], c] = None
        dead = set(dele.tolist())
        self.live = [k for k in self.live if k not in dead] + new.tolist()
        self.step += 1
        return OrdersDelta(self.step, T0_MS + self.step * 1000, df, dele)


# ------------------------------------------------------------------ events

EVENTS_PER_FILE = 400
EVENT_DUP_FRAC = 0.05
FILE_SPAN_MS = 4 * 60_000  # each landed file covers 4 minutes of event time
EVENT_TYPES = ["view", "click", "cart", "buy"]
EVENT_COLS = [
    ("event_id", "bigint"),
    ("user_id", "bigint"),
    ("event_type", "string"),
    ("value", "double"),
    ("event_ts", "timestamp"),
]


def events_file(seed: int, i: int, prev: pd.DataFrame | None) -> pd.DataFrame:
    """Landed file ``i``: fresh events in its 4-minute slice plus exact
    copies of events from this file and the previous one. A copy keeps its
    original event time, which is almost always inside the 10-minute
    watermark, so the stream drops it as a duplicate; a copy of a copy can
    arrive late and is dropped as late data, with the same result."""
    rng = np.random.default_rng([seed, 3, i])
    n_dup = int(EVENTS_PER_FILE * EVENT_DUP_FRAC)
    n = EVENTS_PER_FILE - n_dup
    base = np.datetime64(T0_MS, "ms") + np.timedelta64(i * FILE_SPAN_MS, "ms")
    fresh = pd.DataFrame(
        {
            "event_id": np.arange(i * n, (i + 1) * n, dtype=np.int64) + 1,
            "ts": base + rng.integers(0, FILE_SPAN_MS, n).astype("timedelta64[ms]"),
            "user_id": rng.integers(1, 5_001, n),
            "event_type": rng.choice(EVENT_TYPES, n),
            "value": rng.integers(0, 100_000, n) / 100.0,
            "props": rng.choice(["{}", '{"src":"web"}', '{"src":"app"}'], n),
        }
    )
    pool = fresh if prev is None else pd.concat([prev, fresh])
    dups = pool.iloc[rng.choice(len(pool), n_dup, replace=False)]
    out = pd.concat([fresh, dups]).iloc[rng.permutation(EVENTS_PER_FILE)]
    return out.reset_index(drop=True)


# --------------------------------------------------------------- documents

N_DOCS = 200
N_VECS = 300
VEC_DIM = 32
N_QUERIES = 16
TOPK = 5
DOC_COLS = [("doc_id", "bigint"), ("text", "string"), ("lang", "string"), ("n_chars", "bigint")]
VEC_COLS = [("vec_id", "bigint"), ("embedding", "array<float>"), ("label", "int")]
STOPWORDS = ["the", "to", "of", "and", "that", "with"]


@dataclass
class Corpus:
    docs: pd.DataFrame
    junk_ids: set           # planted gopher failures (too few words)
    near_pairs: set         # planted (a, b) near-duplicate pairs, a < b
    vecs: pd.DataFrame
    query_ids: list


def _vocabulary() -> list[str]:
    rng = np.random.default_rng(4)
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    words = {"".join(rng.choice(letters, rng.integers(3, 10))) for _ in range(3000)}
    return sorted(words - set(STOPWORDS))


def corpus(seed: int) -> Corpus:
    """Documents drawn from one vocabulary shared by every seed (so every
    corpus compresses alike), with planted junk (gopher fails), exact
    duplicates and near duplicates (one word replaced: Jaccard of word
    3-shingles about 0.92), plus random float32 embeddings and a seeded
    query set."""
    vocab = _vocabulary()
    rng = np.random.default_rng([seed, 4])

    def text(n_words):
        words = list(rng.choice(vocab, n_words))
        for pos in rng.choice(n_words, 4, replace=False):
            words[pos] = STOPWORDS[rng.integers(len(STOPWORDS))]
        return " ".join(words)

    n_exact = n_near = N_DOCS * 3 // 100
    n_orig = N_DOCS - n_exact - n_near
    n_junk = N_DOCS * 5 // 100
    lens = rng.integers(55, 100, n_orig)
    lens[:n_junk] = rng.integers(20, 45, n_junk)
    texts = [text(int(k)) for k in lens]
    ids = list(range(1, n_orig + 1))
    junk = set(ids[:n_junk])
    sources = rng.choice(np.arange(n_junk + 1, n_orig + 1), n_exact + n_near, replace=False)
    near = set()
    for j, src in enumerate(sources):
        did = n_orig + j + 1
        words = texts[src - 1].split(" ")
        if j >= n_exact:  # the first n_exact copies stay exact
            words[rng.integers(len(words))] = vocab[rng.integers(len(vocab))]
            near.add((int(src), did))
        texts.append(" ".join(words))
        ids.append(did)
    docs = pd.DataFrame(
        {
            "doc_id": np.array(ids, dtype=np.int64),
            "text": texts,
            "lang": rng.choice(["en", "de", "fr"], N_DOCS),
        }
    )
    docs["n_chars"] = docs["text"].str.len().astype(np.int64)
    vecs = pd.DataFrame(
        {
            "vec_id": np.arange(1, N_VECS + 1, dtype=np.int64),
            "embedding": list(rng.standard_normal((N_VECS, VEC_DIM)).astype(np.float32)),
            "label": rng.integers(0, 10, N_VECS).astype(np.int32),
        }
    )
    qids = sorted(rng.choice(N_VECS, N_QUERIES, replace=False) + 1)
    return Corpus(docs, junk, near, vecs, [int(q) for q in qids])


# --------------------------------------------------- independent encoders

def enc(value, hive_type: str) -> bytes | None:
    """Cell bytes of one typed value, re-derived from the storage format."""
    if value is None or (isinstance(value, float) and np.isnan(value)):
        return None
    if hive_type == "bigint":
        return struct.pack(">q", int(value))
    if hive_type == "int":
        return struct.pack(">i", int(value))
    if hive_type == "double":
        return struct.pack(">d", float(value))
    if hive_type == "string":
        return str(value).encode("utf-8")
    if hive_type == "timestamp":
        return struct.pack(">q", int(pd.Timestamp(value).value // 1_000_000))
    raise ValueError(hive_type)


def row_cells(df: pd.DataFrame, cols) -> list[tuple[bytes, bytes, bytes]]:
    """(row_key, column_name, value) for every non-null cell; the first
    column keys the row."""
    (key, ktype), rest = cols[0], cols[1:]
    out = []
    for rec in df[[c for c, _ in cols]].itertuples(index=False):
        rk = enc(rec[0], ktype)
        for (name, htype), v in zip(rest, rec[1:]):
            b = enc(v, htype)
            if b is not None:
                out.append((rk, name.encode(), b))
    return out
