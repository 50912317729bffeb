"""Expected results, computed from the generated inputs with pandas and
numpy alone, and the comparisons that turn a mismatch into a failure.

Nothing here imports the engine: each expectation re-derives what the
engine should return from the workload's inputs.
"""

from __future__ import annotations

import zlib
from collections import Counter

import numpy as np
import pandas as pd

import gen


def compare(name: str, got, want) -> list[str]:
    if got == want:
        return []
    return [f"{name}: got {_short(got)}, want {_short(want)}"]


def _short(x) -> str:
    s = repr(x)
    return s if len(s) < 160 else s[:157] + "..."


def compare_cells(name: str, got: list, want: list, reversed_names: bool = False) -> list[str]:
    """Exact multiset equality of (row_key, column_name, value) cells;
    with ``reversed_names`` each row's cells must also come back in
    descending column-name order (the reversed slice contract)."""
    out = []
    if Counter(got) != Counter(want):
        missing = len(set(want) - set(got))
        extra = len(set(got) - set(want))
        out.append(f"{name}: {len(got)} cells, want {len(want)} ({missing} missing, {extra} unexpected)")
    if reversed_names:
        rows: dict[bytes, list[bytes]] = {}
        for k, n, _ in got:
            rows.setdefault(k, []).append(n)
        if any(names != sorted(names, reverse=True) for names in rows.values()):
            out.append(f"{name}: a row's cells are not in descending column order")
    return out


def corrupt(result):
    """A planted wrong answer, for the self-test: a list loses its last
    item, or its first item's trailing score moves; a number moves."""
    if isinstance(result, list):
        if result and isinstance(result[0], tuple) and isinstance(result[0][-1], float):
            return [result[0][:-1] + (result[0][-1] + 0.1,)] + result[1:]
        return result[:-1] if result else [None]
    if isinstance(result, float):
        return result * 1.5 + 1
    return result + 1


# ---------------------------------------------------------------- cf_scan

def checksums(df: pd.DataFrame, cols) -> list[int]:
    """Row count, then per column: the integer sum, the sum in cents for
    money columns, the CRC-32 sum for strings, the epoch-second sum for
    timestamps."""
    out = [len(df)]
    for c, t in cols:
        s = df[c]
        if t == "string":
            out.append(sum(zlib.crc32(v.encode("utf-8")) for v in s))
        elif t == "double":
            out.append(int(np.rint(s.to_numpy() * 100).astype(np.int64).sum()))
        elif t == "timestamp":
            out.append(int(s.to_numpy().astype("datetime64[s]").astype(np.int64).sum()))
        else:
            out.append(int(s.astype(np.int64).sum()))
    return out


def cell_payload(key: bytes, name: bytes, value: bytes) -> int:
    """User bytes of one live cell: key, name, value and an 8-byte ts."""
    return len(key) + len(name) + len(value) + 8


def payload_bytes(df: pd.DataFrame, cols) -> int:
    return sum(cell_payload(*c) for c in gen.row_cells(df, cols))


# ------------------------------------------------------------- occ_ingest

class LwwModel:
    """Last-write-wins cell state with tombstones, in plain Python."""

    def __init__(self, names, types):
        self.key_type, self.cols = types[0], list(zip(names[1:], types[1:]))
        self.cells: dict[tuple[bytes, bytes], bytes | None] = {}
        self._live = 0
        self._payload = 0

    def _put(self, k: bytes, n: bytes, v: bytes | None) -> None:
        old = self.cells.get((k, n))
        if old is not None:
            self._live -= 1
            self._payload -= cell_payload(k, n, old)
        if v is not None:
            self._live += 1
            self._payload += cell_payload(k, n, v)
        self.cells[(k, n)] = v

    def apply(self, delta: gen.OrdersDelta) -> int:
        """Apply one delta (every cell newer than all before); returns the
        number of cells it carries, tombstones included."""
        n = 0
        for k, name, v in gen.row_cells(delta.upserts, gen.ORDERS_COLS):
            self._put(k, name, v)
            n += 1
        for key in delta.tombstone_keys:
            k = gen.enc(key, self.key_type)
            for name, _ in self.cols:
                self._put(k, name.encode(), None)
                n += 1
        return n

    def live_count(self) -> int:
        return self._live

    def payload(self) -> int:
        return self._payload


# -------------------------------------------------------- corpus_curation

def shingles(text: str, n: int = 3) -> set[str]:
    """Word n-gram shingles of the lowercased, whitespace-collapsed text;
    a text shorter than n words is one shingle."""
    toks = text.lower().split()
    if len(toks) < n:
        return {" ".join(toks)}
    return {" ".join(toks[i:i + n]) for i in range(len(toks) - n + 1)}


# the gopher stopword list, restated: hits count tokens equal to any of them
GOPHER_STOPWORDS = {"the", "be", "to", "of", "and", "that", "have", "with"}
CURATED_COLS = [("doc_id", "bigint"), ("n_words", "bigint"), ("stopword_hits", "bigint")]


class CurationExpect:
    def __init__(self, c: gen.Corpus):
        docs = c.docs
        norm = docs["text"].str.lower().str.split().str.join(" ")
        g = docs.groupby(norm)["doc_id"].agg(["min", "count"])
        self.exact = sorted(zip(g["min"].astype(int), g["count"].astype(int)))
        self.junk = sorted(c.junk_ids)
        keepers = set(g["min"].astype(int))
        curated = docs[docs.doc_id.isin(keepers) & ~docs.doc_id.isin(c.junk_ids)]
        toks = curated["text"].str.lower().str.split()
        rows = pd.DataFrame({
            "doc_id": curated["doc_id"],
            "n_words": toks.str.len(),
            "stopword_hits": toks.map(lambda ws: sum(w in GOPHER_STOPWORDS for w in ws)),
        })
        self.curated_cells = gen.row_cells(rows, CURATED_COLS)
        self.curated_payload = sum(cell_payload(*cell) for cell in self.curated_cells)
        self.texts = dict(zip(docs.doc_id.astype(int), docs.text))
        self.near = c.near_pairs
        self.topk = _topk(c.vecs, c.query_ids, gen.TOPK)

    def check_pairs(self, pairs, threshold: float, min_recall: float) -> list[str]:
        """Every reported pair carries its exact shingle Jaccard (rounded to
        4) at or above the threshold; planted near-duplicate pairs are
        found at the stated recall (LSH candidate generation is
        probabilistic by design, so recall has a floor, not an equality)."""
        out = []
        for a, b, j in pairs:
            sa, sb = shingles(self.texts[a]), shingles(self.texts[b])
            want = len(sa & sb) / len(sa | sb)
            if abs(want - j) > 0.5e-4 + 1e-9 or j < threshold or not a < b:
                out.append(f"lsh: pair ({a}, {b}) jaccard {j}, want {want}")
                break
        found = {(a, b) for a, b, _ in pairs}
        recall = len(self.near & found) / len(self.near)
        if recall < min_recall:
            out.append(f"lsh: near-duplicate recall {recall:.3f} < {min_recall}")
        return out

    def check_topk(self, rows) -> list[str]:
        got: dict[int, list] = {}
        for q, nb, cos in sorted(rows, key=lambda r: (r[0], -r[2], r[1])):
            got.setdefault(q, []).append((nb, cos))
        for q, want in self.topk.items():
            have = got.get(q, [])
            if [n for n, _ in have] != [n for n, _ in want] or any(
                abs(a - b) > 2e-6 for (_, a), (_, b) in zip(have, want)
            ):
                return [f"topk: query {q} got {_short(have)}, want {_short(want)}"]
        if set(got) != set(self.topk):
            return [f"topk: queries {sorted(got)}, want {sorted(self.topk)}"]
        return []


def _topk(vecs: pd.DataFrame, query_ids: list[int], k: int) -> dict[int, list]:
    """Exact cosine top-k per query, self excluded, ties to the lower id."""
    ids = vecs["vec_id"].to_numpy()
    m = np.stack(vecs["embedding"].to_numpy()).astype(np.float64)
    unit = m / np.linalg.norm(m, axis=1, keepdims=True)
    out = {}
    for q in query_ids:
        qi = int(np.flatnonzero(ids == q)[0])
        cos = unit @ unit[qi]
        order = [j for j in np.lexsort((ids, -np.round(cos, 6))) if ids[j] != q][:k]
        out[q] = [(int(ids[j]), round(float(cos[j]), 6)) for j in order]
    return out
