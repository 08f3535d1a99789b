"""One benchmark run: a fresh Spark driver replaying one workload's plan.

Started by ``run.py`` as its own process (so every run gets a fresh JVM
and a fresh data directory); writes a result JSON that ``run.py`` turns
into the metrics line.  The run:

1. generates the workload's inputs from the seed (``gen.py``);
2. starts Spark through the package's ``get_spark`` on ``local[nproc]``;
3. runs every op type at least once as warm-up, then the timed ops one
   after the other (a closed loop with one client);
4. checks every timed op's output against a numpy/pyarrow reference.

Checks run after the timed loop, so the timed window holds only calls
into the program.  A wrong result counts as a failed op.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import sys
import time
import traceback
from concurrent.futures import ThreadPoolExecutor

import numpy as np
import pyarrow.dataset as ds
import pyarrow.parquet as pq

import gen
from tracing import Tracer

SCORE_TOL = 1e-9


# -- exact references ---------------------------------------------------------


def exact_top_k(vectors: np.ndarray, q: np.ndarray, k: int, mask=None) -> list[tuple[int, float]]:
    """Cosine top-k in float64, ties broken by ascending row index (row
    order is ascending string id in every collection built here)."""
    x = vectors.astype(np.float64)
    qq = np.asarray(q, dtype=np.float64)
    scores = (x @ qq) / (np.linalg.norm(x, axis=1) * np.linalg.norm(qq))
    idx = np.arange(len(x)) if mask is None else np.flatnonzero(mask)
    s = scores[idx]
    order = np.lexsort((idx, -s))[:k]
    return [(int(idx[i]), float(s[i])) for i in order]


def same_ranking(got: list[tuple[str, float]], want: list[tuple[str, float]]) -> bool:
    """Equal ids and scores rank by rank; ids may differ only inside a
    run of reference scores tied within the tolerance."""
    if len(got) != len(want):
        return False
    for (gid, gs), (wid, ws) in zip(got, want):
        if gs is None or abs(gs - ws) > SCORE_TOL:
            return False
        if gid != wid:
            tied = [w for w in want if abs(w[1] - ws) <= SCORE_TOL]
            if gid not in {w[0] for w in tied}:
                return False
    return True


def median(xs):
    return float(np.median(xs)) if len(xs) else 0.0


# -- workloads ----------------------------------------------------------------


class Workload:
    """One workload: its set-up, its ops, and the checks of their results."""

    PARALLEL_WARMUP = True

    def __init__(self, spark, tracer: Tracer, data: str, plan: dict):
        self.spark = spark
        self.tr = tracer
        self.data = data
        self.plan = plan
        self.layers: dict[str, float] = {}

    def setup(self) -> None:
        pass

    def run_op(self, op: dict):
        raise NotImplementedError

    def check(self, op: dict, result) -> str | None:
        """Return None when ``result`` is right, else why it is wrong."""
        raise NotImplementedError

    def finish(self, results: list) -> None:
        """Per-layer figures that need the whole run."""


class Search(Workload):
    """Read-only query traffic over one resident collection."""

    def setup(self) -> None:
        from qdrant_datafusion_spark.collections import CollectionCatalog
        from qdrant_datafusion_spark.sources import register_collection_source

        self.root = os.path.join(self.data, "collections")
        self.path = os.path.join(self.root, "docs")
        self.catalog = CollectionCatalog(self.spark, self.root)
        self.descriptor = self.catalog.descriptor("docs")
        register_collection_source(self.spark)
        self.catalog.register("docs", "collection_name")
        self.queries = np.load(os.path.join(self.data, "queries.npy"))
        table = pq.read_table(self.path)
        self.ids = table.column("id").to_pylist()
        self.payloads = table.column("payload").to_pylist()
        self.vectors = np.stack(table.column("vector").to_numpy(zero_copy_only=False))
        cats = np.array([json.loads(p)["cat"] for p in self.payloads])
        prices = np.array([json.loads(p)["price"] for p in self.payloads])
        self.masks = {"cat": lambda v: cats == v, "price_lt": lambda v: prices < v}

    def _filter_col(self, flt: dict):
        from qdrant_datafusion_spark.functions import payload_get, payload_get_float

        if "cat" in flt:
            return payload_get("payload", "cat") == flt["cat"]
        return payload_get_float("payload", "price") < flt["price_lt"]

    def run_op(self, op: dict):
        from pyspark.sql import functions as F
        from qdrant_datafusion_spark.operators.topk import batch_search, top_k
        from qdrant_datafusion_spark.sql_dialect import corpus_sql

        tr, kind = self.tr, op["type"]
        if kind in ("top_k", "top_k_filtered"):
            with tr.span("collections.load"):
                df = self.catalog.load("docs")
            with tr.span("operators.top_k.build"):
                if kind == "top_k_filtered":
                    df = df.filter(self._filter_col(op["filter"]))
                res = top_k(df, "vector", self.queries[op["q"]].tolist(), op["k"])
            with tr.span("operators.top_k.run"):
                rows = res.collect()
            tr.executed(res)
            return [(r["id"], r["score"]) for r in rows]
        if kind == "sql":
            vec = ", ".join(repr(float(x)) for x in self.queries[op["q"]])
            stmt = (
                f"SELECT id, V_SEARCH([{vec}]) AS score FROM collection_name "
                f"ORDER BY score DESC, id LIMIT {op['k']}"
            )
            with tr.span("sql_dialect.corpus_sql"):
                text = corpus_sql(stmt, self.descriptor, view="collection_name")
            with tr.span("spark.sql.build"):
                res = self.spark.sql(text)
            with tr.span("spark.sql.run"):
                rows = res.collect()
            tr.executed(res)
            return [(r["id"], r["score"]) for r in rows]
        if kind == "scan":
            with tr.span("sources.scan"):
                res = (
                    self.spark.read.format("qdrant_collection")
                    .option("path", self.path)
                    .option("columns", "id,payload")
                    .option("limit", str(op["limit"]))
                    .load()
                    .filter((F.col("id") >= op["lo"]) & (F.col("id") < op["hi"]))
                    .limit(op["limit"])
                )
                rows = res.collect()
            tr.executed(res)
            tr.scanned(res, len(rows))
            return [(r["id"], r["payload"]) for r in rows]
        if kind == "batch_search":
            with tr.span("collections.load"):
                df = self.catalog.load("docs")
            with tr.span("operators.batch_search.build"):
                qdf = self.spark.createDataFrame(
                    [(i, self.queries[q].tolist()) for i, q in enumerate(op["qs"])],
                    "query_id int, query_vec array<double>",
                )
                res = batch_search(df, qdf, "vector", op["k"])
            with tr.span("operators.batch_search.run"):
                rows = res.collect()
            tr.executed(res)
            return [(r["query_id"], r["id"], r["score"]) for r in rows]
        raise ValueError(kind)

    def _want(self, q: int, k: int, mask=None):
        return [(self.ids[i], s) for i, s in exact_top_k(self.vectors, self.queries[q], k, mask)]

    def check(self, op: dict, result) -> str | None:
        kind = op["type"]
        if kind == "top_k" or kind == "sql":
            ok = same_ranking(result, self._want(op["q"], op["k"]))
        elif kind == "top_k_filtered":
            (key, val), = op["filter"].items()
            ok = same_ranking(result, self._want(op["q"], op["k"], self.masks[key](val)))
        elif kind == "batch_search":
            ok = True
            for i, q in enumerate(op["qs"]):
                got = sorted(((r[2], r[1]) for r in result if r[0] == i), key=lambda t: (-t[0], t[1]))
                ok = ok and same_ranking([(g[1], g[0]) for g in got], self._want(q, op["k"]))
        elif kind == "scan":
            lo, hi = int(op["lo"][1:]), int(op["hi"][1:])
            got_ids = [r[0] for r in result]
            ok = (
                len(set(got_ids)) == len(got_ids) == min(op["limit"], hi - lo)
                and all(lo <= int(i[1:]) < hi and self.payloads[int(i[1:])] == p for i, p in result)
            )
        else:
            raise ValueError(kind)
        return None if ok else f"{kind} result differs from the exact reference"

    def finish(self, results: list) -> None:
        disk = sum(os.path.getsize(f) for f in glob.glob(os.path.join(self.path, "*.parquet")))
        self.layers["collections.fragments"] = float(len(glob.glob(os.path.join(self.path, "*.parquet"))))
        self.layers["collections.bytes_per_user_byte"] = disk / _user_bytes(
            self.ids, self.payloads, self.vectors.shape[1]
        )


class Ingest(Workload):
    """Near-duplicate filtering stream: one seeded micro-batch per op."""

    PARALLEL_WARMUP = False

    def setup(self) -> None:
        self.inbox = os.path.join(self.data, "inbox")
        self.src = os.path.join(self.data, "stream", "src")
        self.store = os.path.join(self.data, "stream", "store")
        self.out = os.path.join(self.data, "stream", "out")
        self.ckpt = os.path.join(self.data, "stream", "ckpt")
        os.makedirs(self.src)
        self.batch_id = 0
        self.progress: list[dict] = []

    def run_op(self, op: dict):
        from qdrant_datafusion_spark.streaming.ingest import stream_near_dup_ingest

        tr = self.tr
        with tr.span("streaming.add_file"):
            os.replace(os.path.join(self.inbox, op["file"]), os.path.join(self.src, op["file"]))
        with tr.span("streaming.query_start"):
            stream = self.spark.readStream.schema("doc_id long, text string").parquet(self.src)
            query = stream_near_dup_ingest(stream, self.store, self.out, self.ckpt)
        tr.add_group(str(query.runId))
        with tr.span("streaming.await"):
            query.awaitTermination()
        if query.exception() is not None:
            raise RuntimeError(str(query.exception()))
        progress = query.lastProgress
        bid = self.batch_id
        self.batch_id += 1
        if progress is None or progress["batchId"] != bid:
            raise RuntimeError(f"expected micro-batch {bid}, progress {progress}")
        self.progress.append(progress["durationMs"])
        tr.planned(progress["durationMs"].get("queryPlanning", 0) / 1000)
        return bid

    def check(self, op: dict, result) -> str | None:
        part = os.path.join(self.out, f"_batch_id={result}")
        got = set(ds.dataset(part, format="parquet").to_table(columns=["doc_id"]).column(0).to_pylist())
        want = set(op["novel"])
        if got != want:
            return f"batch {result}: accepted {len(got)} docs, planted novel {len(want)}"
        return None

    def finish(self, results: list) -> None:
        timed = self.progress[-len(results):] if results else []
        self.layers["streaming.batch_s"] = median([p["triggerExecution"] / 1000 for p in timed])
        self.layers["streaming.add_batch_s"] = median([p["addBatch"] / 1000 for p in timed])
        self.layers["streaming.store_rows"] = float(
            sum(
                pq.ParquetFile(f).metadata.num_rows
                for f in glob.glob(os.path.join(self.store, "_batch_id=*", "*.parquet"))
            )
        )
        docs = sum(op["docs"] for op in self.plan["ops"])
        novel = sum(len(op["novel"]) for op in self.plan["ops"])
        accepted = sum(
            ds.dataset(os.path.join(self.out, f"_batch_id={bid}"), format="parquet").count_rows()
            for bid in results
            if bid is not None
        )
        self.layers["streaming.accepted_ratio"] = accepted / docs
        self.layers["streaming.planted_novel_ratio"] = novel / docs


def _user_bytes(ids, payloads, dim: int) -> int:
    """Bytes a user hands over per live point: id, payload text, float32 vector."""
    return sum(len(i) + len(p) for i, p in zip(ids, payloads)) + 4 * dim * len(ids)


WORKLOADS = {"search": Search, "ingest": Ingest}
TOP_K_KINDS = ("top_k", "top_k_filtered", "sql", "batch_search")


# -- the run ------------------------------------------------------------------


def layer_metrics(w: Workload, tr: Tracer, ops: list[dict]) -> dict:
    """Per-layer figures of a traced run: the median duration of each
    layer call, and Spark's counters as per-op means (counts) or medians
    (times)."""
    m = {}
    for name in (
        "collections.load", "sql_dialect.corpus_sql", "operators.top_k.build",
        "operators.top_k.run", "operators.batch_search.run", "sources.scan",
        "streaming.query_start",
    ):
        spans = tr.spans_named(name)
        if spans:
            m[f"{name}_s"] = median([s["end"] - s["start"] for s in spans])
    c = tr.op_counters
    for key in ("jobs", "stages", "tasks", "shuffle_write_bytes", "spill_bytes"):
        m[f"spark.{key}"] = float(np.mean([r[key] for r in c])) if c else 0.0
    for key in ("executor_run_s", "plan_s", "driver_s"):
        m[f"spark.{key}"] = median([r[key] for r in c])
    scans = tr.spans_named("sources.scan")
    if scans:
        m["sources.partitions"] = float(np.mean([s["tasks"] for s in scans]))
        read = sum(x[0] for r in c for x in r["scans"])
        returned = sum(x[1] for r in c for x in r["scans"])
        m["sources.rows_read_per_row_returned"] = read / returned
    topk = [o for o in ops if o["kind"] in TOP_K_KINDS]
    if topk:
        m["operators.top_k.exact_ratio"] = sum(1 for o in topk if o["ok"]) / len(topk)
    m.update(w.layers)
    return m


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--ops", type=int, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--run-dir", required=True)
    ap.add_argument("--result", required=True)
    ap.add_argument("--trace-out", required=True)
    args = ap.parse_args(argv)

    data = os.path.join(args.run_dir, "data")
    from qdrant_datafusion_spark import get_spark

    t = time.perf_counter()
    # inputs are generated while the JVM starts
    with ThreadPoolExecutor(1) as pool:
        planned = pool.submit(gen.generate, args.workload, args.seed, args.ops, data)
        spark = get_spark(
            app_name=f"perfbench-{args.workload}",
            cores=len(os.sched_getaffinity(0)),
            extra_conf={
                "spark.ui.showConsoleProgress": "false",
                "spark.local.dir": os.path.join(args.run_dir, "spark-local"),
                "spark.sql.warehouse.dir": os.path.join(args.run_dir, "warehouse"),
                "spark.driver.extraJavaOptions": (
                    f"-Djava.io.tmpdir={os.path.join(args.run_dir, 'tmp')} -XX:-UsePerfData"
                ),
            },
        )
        get_spark_s = time.perf_counter() - t
        plan = planned.result()
    print(f"get_spark {get_spark_s:.2f}s", flush=True)
    tracer = Tracer(spark, False)
    w = WORKLOADS[args.workload](spark, tracer, data, plan)
    w.setup()
    t = time.perf_counter()
    if w.PARALLEL_WARMUP:
        # warm-up ops are independent: running them side by side shortens
        # set-up without changing the state the timed ops start from
        with ThreadPoolExecutor(len(os.sched_getaffinity(0))) as pool:
            list(pool.map(w.run_op, plan["warmup"]))
    else:
        for op in plan["warmup"]:
            w.run_op(op)
    print(f"warmup {time.perf_counter() - t:.2f}s", flush=True)
    tracer.enabled = bool(args.trace)

    ops, results = [], []
    first_epoch = time.time()
    for i, op in enumerate(plan["ops"]):
        tracer.begin_op(i, op["type"])
        start = time.perf_counter()
        error = None
        try:
            with tracer.span(f"op.{op['type']}"):
                result = w.run_op(op)
        except Exception:  # a failed op is counted, and the run goes on
            result, error = None, traceback.format_exc()
        end = time.perf_counter()
        tracer.end_op(end - start)
        ops.append({"kind": op["type"], "start": start, "end": end, "error": error})
        print(f"op {i} {op['type']} {end - start:.3f}s", flush=True)
        results.append(result)

    for op, rec, result in zip(plan["ops"], ops, results):
        if rec["error"] is None:
            try:
                rec["error"] = w.check(op, result)
            except Exception:
                rec["error"] = traceback.format_exc()
        rec["ok"] = rec["error"] is None
    w.finish(results)

    out = {
        "workload": args.workload,
        "seed": args.seed,
        "sizes": plan["sizes"],
        "first_op_epoch": first_epoch,
        "get_spark_s": get_spark_s,
        "ops": ops,
    }
    if args.trace:
        layers = layer_metrics(w, tracer, ops)
        layers["session.get_spark_s"] = get_spark_s
        lat = [o["end"] - o["start"] for o in ops]
        layers["trace.overhead_s"] = tracer.overhead_s / max(len(ops), 1)
        layers["trace.overhead_ratio"] = tracer.overhead_s / sum(lat)
        out["layers"] = layers
        tracer.dump(args.trace_out, {"workload": args.workload, "seed": args.seed})
    with open(args.result, "w") as fh:
        json.dump(out, fh)
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
