"""Self-test: a planted wrong answer is caught.

    python3 perfbench/selftest.py          # oracle checks, then one planted run
    python3 perfbench/selftest.py --quick  # oracle checks only (no Spark)

First every oracle comparison is fed the right answer (must pass) and a
corrupted one (must fail). Then one short occ_ingest run is started with
``PERFBENCH_PLANT=read``, which corrupts each read-after-write result
before it is checked: the run must report ``correct: false``, count the
failed ops, and exit with status 1.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import gen
import oracle

HERE = os.path.dirname(os.path.abspath(__file__))


def oracle_cases():
    """(name, check) pairs; ``check(planted)`` returns the failure list."""
    li = gen.lineitem(7).head(200)
    sums = oracle.checksums(li, gen.LINEITEM_COLS)
    cells = gen.row_cells(li.head(3), gen.LINEITEM_COLS)
    desc = sorted(cells, key=lambda c: (c[0], c[1]), reverse=True)
    corpus = gen.corpus(7)
    e = oracle.CurationExpect(corpus)
    texts = corpus.docs.set_index("doc_id")["text"]
    pairs = []
    for a, b in sorted(corpus.near_pairs):
        sa, sb = oracle.shingles(texts[a]), oracle.shingles(texts[b])
        pairs.append((a, b, round(len(sa & sb) / len(sa | sb), 4)))
    topk = [(q, n, c) for q, rows in e.topk.items() for n, c in rows]
    deltas = gen.OrdersDeltas(7)
    model = oracle.LwwModel([c for c, _ in gen.ORDERS_COLS], [t for _, t in gen.ORDERS_COLS])
    for _ in range(3):
        model.apply(deltas.next())
    live = model.live_count()

    def plant(x, on):
        return oracle.corrupt(x) if on else x

    return [
        ("scan checksums", lambda on: oracle.compare("scan", plant(sums, on), sums)),
        ("get cell set", lambda on: oracle.compare_cells("get", plant(cells, on), cells)),
        ("slice order", lambda on: oracle.compare_cells(
            "slice", desc if not on else sorted(desc), cells, reversed_names=True)),
        ("index hit keys", lambda on: oracle.compare("index_get", plant(sorted({c[0] for c in cells}), on),
                                                     sorted({c[0] for c in cells}))),
        ("read-after-write count", lambda on: oracle.compare("read", plant(live, on), live)),
        ("exact dedup", lambda on: oracle.compare("exact_dedup", plant(e.exact, on), e.exact)),
        ("lsh jaccard", lambda on: e.check_pairs(plant(pairs, on), 0.5, 0.8)),
        ("lsh recall", lambda on: e.check_pairs(pairs[: len(pairs) // 2] if on else pairs, 0.5, 0.8)),
        ("gopher junk", lambda on: oracle.compare("gopher", plant(e.junk, on), e.junk)),
        ("top-k", lambda on: e.check_topk(plant(topk, on))),
    ]


def check_oracles() -> bool:
    ok = True
    for name, check in oracle_cases():
        clean, planted = check(False), check(True)
        good = not clean and bool(planted)
        ok &= good
        print(f"{'ok  ' if good else 'FAIL'} {name}: clean={clean} planted={planted[:1]}")
    return ok


def check_planted_run() -> bool:
    env = dict(os.environ, PERFBENCH_PLANT="read")
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", "occ_ingest",
         "--seed", "7", "--seconds", "2", "--trace", "0"],
        env=env, capture_output=True, text=True, timeout=170,
    )
    last = p.stdout.strip().splitlines()[-1] if p.stdout.strip() else "{}"
    res = json.loads(last)
    good = p.returncode == 1 and res.get("correct") is False and res.get("failed", 0) >= 1
    print(f"{'ok  ' if good else 'FAIL'} planted run: exit {p.returncode}, "
          f"correct={res.get('correct')}, failed={res.get('failed')}/{res.get('attempted')}")
    return good


def main() -> int:
    ok = check_oracles()
    if "--quick" not in sys.argv[1:]:
        ok &= check_planted_run()
    print("selftest", "passed" if ok else "FAILED")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
