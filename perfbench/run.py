"""Benchmark entry point: one run of one workload, one JSON line out.

    python3 perfbench/run.py --workload search --seed 1 --seconds 16 --trace 0

Run from the repository root.  The run starts ``workloads.py`` as a fresh
process (its own session: Python driver, JVM and Spark's Python workers),
samples the memory of that whole process tree from ``/proc``, and prints
the metrics as the last line of standard output:

- ``--trace 0``: the end-to-end metrics of ``BENCHMARK.json``;
- ``--trace 1``: the per-layer metrics, from spans and Spark counters.

The workload's op sequence is fixed by the seed and sized from
``--seconds`` with a nominal per-op cost, so every run of a seed does the
same work and throughput is measured up to the last completion.  All files
go under ``.perfbench_runs/`` (deleted after the run) and
``.perfbench_out/`` (child logs, traces), inside the current directory.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))

#: nominal seconds per op on 4 cores, used only to size the op sequence
#: from --seconds (an ingest op is one micro-batch)
NOMINAL_OP_S = {"search": 0.65, "ingest": 3.7}
MIN_OPS = {"search": 10, "ingest": 4}
CHILD_TIMEOUT_S = 165


def n_ops(workload: str, seconds: int) -> int:
    return max(MIN_OPS[workload], round(seconds / NOMINAL_OP_S[workload]))


def tail(latencies: list[float]) -> tuple[float, float]:
    """Latency at the highest percentile that has at least ten samples
    beyond it, and that percentile.  With ten samples or fewer no such
    percentile exists, and the maximum (p100) is reported instead."""
    xs = sorted(latencies)
    n = len(xs)
    if n <= 10:
        return xs[-1], 100.0
    return xs[n - 11], 100.0 * (n - 10) / n


# -- process tree -------------------------------------------------------------


def session_pids(sid: int) -> list[int]:
    """Every live process whose session id is ``sid``."""
    pids = []
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if int(fields[3]) == sid and fields[0] != "Z":
            pids.append(int(name))
    return pids


def tree_pss_bytes(sid: int) -> int:
    """Summed proportional set size of the session's processes.

    PSS splits each shared page among the processes mapping it, so a JVM
    caught between fork and exec, or Python workers forked from one
    daemon, are not counted twice as a plain RSS sum would."""
    total = 0
    for pid in session_pids(sid):
        try:
            with open(f"/proc/{pid}/smaps_rollup") as fh:
                for line in fh:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1]) * 1024
                        break
        except OSError:
            continue
    return total


class MemorySampler(threading.Thread):
    """Peak memory of one process session, sampled every 250 ms.  A sample
    reads every process's ``smaps_rollup``, which walks its page tables;
    sampling much faster takes CPU away from the run being measured."""

    def __init__(self, sid: int):
        super().__init__(daemon=True)
        self.sid = sid
        self.peak = 0
        self.stop = threading.Event()

    def run(self) -> None:
        while not self.stop.is_set():
            self.peak = max(self.peak, tree_pss_bytes(self.sid))
            self.stop.wait(0.25)


def reap_session(sid: int) -> None:
    """Stop every process left in the session and wait until none is."""
    deadline = time.monotonic() + 10
    sig = signal.SIGTERM
    while True:
        pids = session_pids(sid)
        if not pids:
            return
        if time.monotonic() > deadline:
            sig = signal.SIGKILL
        for pid in pids:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        time.sleep(0.2)


# -- the run ------------------------------------------------------------------


def child_env(root: str, run_dir: str) -> dict:
    env = {k: v for k, v in os.environ.items() if not k.startswith(("SPARK_GRAFT_", "PYSPARK_"))}
    env.update(
        {
            "PYTHONPATH": root,
            "PYTHONDONTWRITEBYTECODE": "1",
            "TMPDIR": os.path.join(run_dir, "tmp"),
            "SPARK_LOCAL_DIRS": os.path.join(run_dir, "spark-local"),
            # the launcher JVM of spark-submit would write /tmp/hsperfdata_*
            "SPARK_LAUNCHER_OPTS": "-XX:-UsePerfData",
            "SPARK_GRAFT_DRIVER_MEM": "2g",
        }
    )
    return env


def metrics_line(args, res: dict, peak_rss: int, t0: float) -> dict:
    ops = res["ops"]
    lat = [o["end"] - o["start"] for o in ops]
    window = ops[-1]["end"] - ops[0]["start"]
    failed = sum(1 for o in ops if not o["ok"])
    tail_s, tail_pct = tail(lat)
    e2e = {
        "ops_per_s": len(ops) / window,
        "p50_s": statistics.median(lat),
        "tail_s": tail_s,
        "setup_s": res["first_op_epoch"] - t0,
        "peak_rss_mb": peak_rss / 2**20,
        "ok_ratio": (len(ops) - failed) / len(ops),
    }
    print(
        f"# {args.workload} seed={args.seed} ops={len(ops)} failed={failed} "
        f"tail=p{tail_pct:.1f} sizes={json.dumps(res['sizes'], sort_keys=True)}"
    )
    by_kind: dict[str, list[float]] = {}
    for o, x in zip(ops, lat):
        by_kind.setdefault(o["kind"], []).append(x)
    for kind, xs in sorted(by_kind.items()):
        print(f"# op {kind}: n={len(xs)} median={statistics.median(xs):.3f}s max={max(xs):.3f}s")
    for o in ops:
        if not o["ok"]:
            print(f"# FAILED {o['kind']}: {o['error'].strip().splitlines()[-1]}")
    with open("BENCHMARK.json") as fh:
        bench = json.load(fh)
    units = {m["name"]: m["unit"] for m in bench["per_layer" if args.trace else "end_to_end"]}
    if args.trace:
        layers = dict(res["layers"])
        layers["trace.ops_per_s"] = e2e["ops_per_s"]
        layers["trace.p50_s"] = e2e["p50_s"]
        # a layer this workload never calls reads 0
        idle = sorted(k for k in units if k not in layers)
        if idle:
            print(f"# layers not exercised by {args.workload}: {' '.join(idle)}")
        metrics = {k: {"value": layers.get(k, 0.0), "unit": u} for k, u in units.items()}
    else:
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in units.items()}
    for k, v in metrics.items():
        print(f"# {k} = {v['value']:.6g} {v['unit']}")
    return {"correct": failed == 0, "attempted": len(ops), "failed": failed, "metrics": metrics}


def main(argv: list[str]) -> int:
    t0 = time.time()
    ap = argparse.ArgumentParser(description="Run one benchmark workload.")
    ap.add_argument("--workload", required=True, choices=sorted(NOMINAL_OP_S))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    for need in ("BENCHMARK.json", os.path.join("qdrant_datafusion_spark", "__init__.py")):
        if not os.path.isfile(os.path.join(root, need)):
            print(f"perfbench: run from the repository root ({need} not found)", file=sys.stderr)
            return 2
    tag = f"{args.workload}-s{args.seed}-t{args.trace}"
    run_dir = os.path.join(root, ".perfbench_runs", f"{tag}-{os.getpid()}")
    out_dir = os.path.join(root, ".perfbench_out")
    for d in (os.path.join(run_dir, "tmp"), os.path.join(run_dir, "spark-local"), out_dir):
        os.makedirs(d, exist_ok=True)
    result_path = os.path.join(run_dir, "result.json")
    log_path = os.path.join(out_dir, f"{tag}.log")
    cmd = [
        sys.executable, os.path.join(HERE, "workloads.py"),
        "--workload", args.workload, "--seed", str(args.seed),
        "--ops", str(n_ops(args.workload, args.seconds)), "--trace", str(args.trace),
        "--run-dir", run_dir, "--result", result_path,
        "--trace-out", os.path.join(out_dir, f"{tag}.trace.json"),
    ]
    # a SIGTERM to this process still stops the whole child session
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    with open(log_path, "w") as log:
        child = subprocess.Popen(
            cmd, stdout=log, stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL,
            env=child_env(root, run_dir), cwd=root, start_new_session=True,
        )
        sampler = MemorySampler(child.pid)
        sampler.start()
        try:
            rc = child.wait(timeout=CHILD_TIMEOUT_S - (time.time() - t0))
        except subprocess.TimeoutExpired:
            rc = None
        finally:
            reap_session(child.pid)
            child.wait()
            sampler.stop.set()
            sampler.join()
    try:
        if rc != 0 or not os.path.exists(result_path):
            why = "timed out" if rc is None else f"exited with {rc}"
            print(f"perfbench: workload process {why}; log in {log_path}", file=sys.stderr)
            return 1
        with open(result_path) as fh:
            res = json.load(fh)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    line = metrics_line(args, res, sampler.peak, t0)
    print(json.dumps(line), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
