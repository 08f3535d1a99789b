"""Seeded input generator for the benchmark workloads.

Everything the program under test reads is written here with numpy and
pyarrow, never with Spark, so inputs do not depend on the code being
measured.  The same ``(workload, seed, n_ops)`` always yields byte-identical
files; ``python3 perfbench/gen.py --selftest`` checks that.

Layout written under ``out_dir``:

- ``plan.json``: the fixed operation sequence the workload replays
  (warm-up ops first, then the timed ops), plus the sizes used.
- ``search``: ``collections/docs/`` (4 parquet fragments and
  ``_collection.json``) and ``queries.npy`` (query vectors, rounded to
  6 decimals so SQL text and numpy see the same doubles).
- ``ingest``: ``inbox/bNNNNN.parquet``, one micro-batch per file, each
  holding ~30% one-word-edit near-duplicates of earlier novel docs.
"""

from __future__ import annotations

import argparse
import filecmp
import json
import os
import shutil
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DIM = 128
K = 10
CATS = [f"c{i}" for i in range(8)]

# search: one resident collection, read-only traffic.  10k points keep a
# top_k near 0.6 s on 4 cores, so a run holds ~34 ops inside its budget
SEARCH_POINTS = 10_000
SEARCH_FRAGMENTS = 4
SEARCH_REPEAT_SHARE = 0.2
# op mix per 10 slots; every run holds exactly one batch_search
SEARCH_CYCLE = (
    "top_k", "sql", "top_k_filtered", "top_k", "scan",
    "sql", "top_k", "top_k_filtered", "sql", "scan",
)
BATCH_QUERIES = 2
# the JIT keeps compiling for many ops after the first call of each type
SEARCH_WARMUP_ROUNDS = 2

# ingest: one micro-batch per op into a growing signature store
VOCAB = 20_000
DOC_WORDS = 40
BATCH_DOCS = 300
DUP_SHARE = 0.3
# batch 0 meets an empty store; batch 1 is the first to join against it
INGEST_WARMUP_BATCHES = 2


def _rng(seed: int, stream: int) -> np.random.Generator:
    return np.random.default_rng([int(seed), stream])


def _payload(cat: str, price: int) -> str:
    return json.dumps({"cat": cat, "price": price}, sort_keys=True)


def _points_table(ids, vectors, payloads) -> pa.Table:
    flat = pa.array(np.asarray(vectors, dtype=np.float32).reshape(-1), pa.float32())
    vec = pa.FixedSizeListArray.from_arrays(flat, DIM).cast(pa.list_(pa.float32()))
    return pa.table(
        {
            "id": pa.array(ids, pa.string()),
            "payload": pa.array(payloads, pa.string()),
            "vector": vec,
        }
    )


def _write_collection(path: str, name: str, table: pa.Table, fragments: int) -> None:
    os.makedirs(path, exist_ok=True)
    n = table.num_rows
    for f in range(fragments):
        lo, hi = f * n // fragments, (f + 1) * n // fragments
        pq.write_table(table.slice(lo, hi - lo), os.path.join(path, f"part-{f:05d}.parquet"))
    descriptor = {
        "name": name,
        "unnamed": True,
        "fields": [{"name": "vector", "dim": DIM, "metric": "cosine", "kind": "dense"}],
    }
    with open(os.path.join(path, "_collection.json"), "w") as fh:
        json.dump(descriptor, fh)


def _random_points(rng, n: int, prefix: str, start: int = 0):
    ids = [f"{prefix}{i:06d}" for i in range(start, start + n)]
    vectors = rng.standard_normal((n, DIM)).astype(np.float32)
    cats = rng.integers(0, len(CATS), n)
    prices = rng.integers(1, 1001, n)
    payloads = [_payload(CATS[c], int(p)) for c, p in zip(cats, prices)]
    return ids, vectors, payloads


# -- search -----------------------------------------------------------------


def gen_search(seed: int, n_ops: int, out: str) -> dict:
    rng = _rng(seed, 1)
    ids, vectors, payloads = _random_points(rng, SEARCH_POINTS, "p")
    _write_collection(
        os.path.join(out, "collections", "docs"), "docs",
        _points_table(ids, vectors, payloads), SEARCH_FRAGMENTS,
    )
    # the cycle fixes how many ops of each type a run holds; the seed only
    # fixes their order and arguments, so every seed does the same work
    kinds = [SEARCH_CYCLE[i % len(SEARCH_CYCLE)] for i in range(n_ops - 1)]
    kinds.append("batch_search")
    kinds = [kinds[i] for i in rng.permutation(len(kinds))]
    warm = ["top_k", "top_k_filtered", "sql", "scan", "batch_search"] * SEARCH_WARMUP_ROUNDS

    queries: list[np.ndarray] = []

    def new_query() -> int:
        queries.append(np.round(rng.standard_normal(DIM), 6))
        return len(queries) - 1

    timed_queries: list[int] = []
    repeats = [0]

    def query(timed: bool) -> int:
        # about a fifth of timed query vectors repeat an earlier one
        if timed and timed_queries and rng.random() < SEARCH_REPEAT_SHARE:
            repeats[0] += 1
            return timed_queries[int(rng.integers(0, len(timed_queries)))]
        q = new_query()
        if timed:
            timed_queries.append(q)
        return q

    def op(kind: str, timed: bool) -> dict:
        if kind in ("top_k", "sql"):
            return {"type": kind, "q": query(timed), "k": K}
        if kind == "top_k_filtered":
            if rng.random() < 0.5:
                flt = {"cat": CATS[int(rng.integers(0, len(CATS)))]}
            else:
                flt = {"price_lt": int(rng.integers(100, 400))}
            return {"type": kind, "q": query(timed), "k": K, "filter": flt}
        if kind == "scan":
            # half the scans match fewer rows than the limit, half more
            width, limit = ((40, 100), (2000, 50))[int(rng.integers(0, 2))]
            lo = int(rng.integers(0, SEARCH_POINTS - width))
            return {
                "type": kind, "lo": f"p{lo:06d}", "hi": f"p{lo + width:06d}",
                "limit": limit,
            }
        if kind == "batch_search":
            return {"type": kind, "qs": [query(timed) for _ in range(BATCH_QUERIES)], "k": K}
        raise ValueError(kind)

    warm_ops = [op(kind, False) for kind in warm]
    timed_ops = [op(kind, True) for kind in kinds]
    np.save(os.path.join(out, "queries.npy"), np.stack(queries))
    return {
        "workload": "search",
        "sizes": {
            "points": SEARCH_POINTS, "dim": DIM, "fragments": SEARCH_FRAGMENTS,
            "k": K, "ops": len(timed_ops), "query_vectors": len(timed_queries) + repeats[0],
            "repeated_query_vectors": repeats[0],
        },
        "warmup": warm_ops,
        "ops": timed_ops,
    }


# -- ingest -----------------------------------------------------------------


def gen_ingest(seed: int, n_ops: int, out: str) -> dict:
    rng = _rng(seed, 2)
    inbox = os.path.join(out, "inbox")
    os.makedirs(inbox, exist_ok=True)
    novel_words: list[np.ndarray] = []
    batches = []
    next_id = 0
    for b in range(INGEST_WARMUP_BATCHES + n_ops):
        n_dup = 0 if b == 0 else int(round(BATCH_DOCS * DUP_SHARE))
        n_new = BATCH_DOCS - n_dup
        words = [rng.integers(0, VOCAB, DOC_WORDS) for _ in range(n_new)]
        earlier = len(novel_words)
        for src in rng.integers(0, max(earlier, 1), n_dup):
            w = novel_words[int(src)].copy()
            pos = int(rng.integers(0, DOC_WORDS))
            w[pos] = (w[pos] + 1 + int(rng.integers(0, VOCAB - 1))) % VOCAB
            words.append(w)
        novel = np.zeros(len(words), dtype=bool)
        novel[:n_new] = True
        order = rng.permutation(len(words))
        doc_ids = np.arange(next_id, next_id + len(words), dtype=np.int64)
        next_id += len(words)
        texts = [" ".join(f"w{x:05d}" for x in words[i]) for i in order]
        novel = novel[order]
        novel_words.extend(words[i] for i in order if i < n_new)
        name = f"b{b:05d}.parquet"
        pq.write_table(
            pa.table({"doc_id": pa.array(doc_ids, pa.int64()), "text": pa.array(texts, pa.string())}),
            os.path.join(inbox, name),
        )
        batches.append(
            {"type": "ingest_batch", "file": name, "docs": len(texts),
             "novel": doc_ids[novel].tolist()}
        )
    return {
        "workload": "ingest",
        "sizes": {
            "batch_docs": BATCH_DOCS, "doc_words": DOC_WORDS, "vocab": VOCAB,
            "dup_share": DUP_SHARE, "batches": len(batches),
        },
        "warmup": batches[:INGEST_WARMUP_BATCHES],
        "ops": batches[INGEST_WARMUP_BATCHES:],
    }


GENERATORS = {"search": gen_search, "ingest": gen_ingest}


def generate(workload: str, seed: int, n_ops: int, out: str) -> dict:
    """Write the workload's inputs under ``out`` and return its plan."""
    os.makedirs(out, exist_ok=True)
    plan = GENERATORS[workload](seed, n_ops, out)
    plan["seed"] = seed
    with open(os.path.join(out, "plan.json"), "w") as fh:
        json.dump(plan, fh, sort_keys=True)
    return plan


def _tree_equal(a: str, b: str) -> bool:
    cmp = filecmp.dircmp(a, b)
    if cmp.left_only or cmp.right_only or cmp.funny_files:
        return False
    _, mismatch, errors = filecmp.cmpfiles(a, b, cmp.common_files, shallow=False)
    if mismatch or errors:
        return False
    return all(_tree_equal(os.path.join(a, d), os.path.join(b, d)) for d in cmp.common_dirs)


def selftest(scratch: str) -> bool:
    """Same seed -> byte-identical inputs; another seed -> different ones."""
    ok = True
    for workload in GENERATORS:
        dirs = [os.path.join(scratch, f"{workload}-{i}") for i in range(3)]
        for d, seed in zip(dirs, (7, 7, 8)):
            shutil.rmtree(d, ignore_errors=True)
            generate(workload, seed, 6, d)
        same = _tree_equal(dirs[0], dirs[1])
        differs = not _tree_equal(dirs[0], dirs[2])
        print(f"{workload}: same seed identical={same}, other seed differs={differs}")
        ok = ok and same and differs
    shutil.rmtree(scratch, ignore_errors=True)
    return ok


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--selftest", action="store_true")
    ap.add_argument("--workload", choices=sorted(GENERATORS))
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--ops", type=int, default=10)
    ap.add_argument("--out", default=".perfbench_runs/gen")
    args = ap.parse_args(argv)
    if args.selftest:
        return 0 if selftest(os.path.join(".perfbench_runs", "gen-selftest")) else 1
    if not args.workload:
        ap.error("--workload or --selftest is required")
    plan = generate(args.workload, args.seed, args.ops, args.out)
    print(json.dumps(plan["sizes"]))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
