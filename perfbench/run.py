"""spark-graft benchmark: one command, one workload per run.

    python3 perfbench/run.py --workload dedup_batch --seed 1 --seconds 10 --trace 0

Run from the repository root. The launcher generates the seeded inputs
(cached under ``.perfbench_work/``), then runs the workload in its own
worker process with pinned settings: ``local[N]`` (N per workload, at most
nproc), N shuffle partitions, a fixed JVM heap. It prints a readable report and,
as its last line, one JSON object:
``{"correct", "attempted", "failed", "metrics"}`` with the end-to-end
metrics (``--trace 0``) or the per-layer metrics (``--trace 1``). A traced
run also writes its spans as JSON and prints a self-time table per layer.
"""

from __future__ import annotations

import argparse
import ctypes
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
WORKLOADS = ("dedup_batch", "stream_funnel")
#: Task threads (N of local[N]) per workload, measured on a 4-core host
#: over 5 seeds. dedup_batch: the driver thread, JIT compilers and GC keep
#: more than one further core busy, and leaving them room cut the spread of
#: op_p50_s from 14% to 8.6% of the median at equal speed. stream_funnel
#: writes output, index and state in every micro-batch and uses the cores.
CPUS = {"dedup_batch": min(2, os.cpu_count() or 1),
        "stream_funnel": min(2, os.cpu_count() or 1)}
HEAP = "1g"
#: Every run must end within 180 s; the worker gets what is left of this.
DEADLINE_S = 170.0

END_TO_END = {"setup_s": "s", "rows_per_s": "1/s", "op_p50_s": "s",
              "op_tail_s": "s", "peak_rss_mb": "MB"}


def children_of(pid: int) -> list[int]:
    out = []
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    fields = f.read().rsplit(")", 1)[1].split()
            except OSError:
                continue
            if int(fields[1]) == pid:
                out.append(int(d))
    return out


def reap_all() -> None:
    """Stop and wait for every process this launcher still has: the worker's
    JVM and Python daemons are re-parented here (child subreaper) when the
    worker exits."""
    deadline = time.time() + 10
    sig = signal.SIGTERM
    while True:
        kids = children_of(os.getpid())
        if not kids:
            return
        if time.time() > deadline:
            sig = signal.SIGKILL
        for k in kids:
            try:
                os.kill(k, sig)
            except ProcessLookupError:
                pass
        time.sleep(0.2)
        for k in kids:
            try:
                os.waitpid(k, os.WNOHANG)
            except ChildProcessError:
                pass


def report(res: dict, trace: bool) -> None:
    n = res["notes"]
    print(f"operations: {res['attempted']} attempted, {res['failed']} failed "
          f"(fail_ratio {res['failed'] / max(1, res['attempted']):.4f})")
    for e in res["errors"]:
        print(f"  failure: {e}")
    print(f"op_tail_s is p{n['op_tail_percentile']} of {n['op_samples']} timed "
          f"operations ({n['op_samples_beyond_tail']} beyond it)")
    print("phases: " + ", ".join(f"{k} {v:.1f} s" for k, v in n["phases_s"].items()))
    for i, w in enumerate(n["warm_up_loops"]):
        print(f"warm-up loop {i}: {'settled' if w['settled'] else 'NOT settled'} after "
              + ", ".join(f"{t:.2f}" for t in w["calls_s"]) + " s")
    print(f"timed cycles: {n['cycles']}")
    if not trace:
        for k, v in res["end_to_end"].items():
            print(f"  {k:<12} {v:>14.6f} {END_TO_END[k]}")
        return
    pl = res["per_layer"]
    print("self time per operation, by layer (traced operations):")
    rows = ["self.driver_s", "self.spark_s", "self.stream_trigger_s", "self.unattributed_s"]
    total = sum(pl[r] for r in rows) or 1.0
    for r in rows:
        print(f"  {r[5:-2]:<16} {pl[r]:>10.4f} s  {100 * pl[r] / total:5.1f} %")
    print(f"tracing overhead: {pl['trace.overhead_pct']:+.2f} % "
          "(traced vs untraced cycles of the same run)")
    print(f"spans: {res['spans_path']}")


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    t_start = time.time()

    if not os.path.isfile(os.path.join(ROOT, "wx20222_bigdata_spark", "__init__.py")):
        print("perfbench: the wx20222_bigdata_spark package is not in this checkout",
              file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, HERE]
    import gen

    oracles = None
    if a.workload == "dedup_batch":
        from wx20222_bigdata_spark.registry import all_oracles

        oracles = all_oracles()
    inputs, _ = gen.ensure_inputs(WORK, a.workload, a.seed, oracles)

    run_dir = os.path.join(WORK, f"run-{a.workload}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    result = os.path.join(run_dir, "result.json")
    spans_path = os.path.join(WORK, f"spans-{a.workload}-s{a.seed}.json")
    env = {k: v for k, v in os.environ.items()
           if not k.startswith(("PYSPARK_", "SPARK_GRAFT_"))}
    env.update(PYTHONPATH=ROOT, TMPDIR=os.path.join(run_dir, "tmp"),
               SPARK_LOCAL_DIRS=os.path.join(run_dir, "local"),
               PYSPARK_PYTHON=sys.executable, PYSPARK_DRIVER_PYTHON=sys.executable)
    # orphaned JVM / Python daemons re-parent to this process, which stops them
    ctypes.CDLL(None, use_errno=True).prctl(36, 1, 0, 0, 0)  # PR_SET_CHILD_SUBREAPER
    cmd = [sys.executable, os.path.join(HERE, "worker.py"), "--workload", a.workload,
           "--inputs", inputs, "--work", run_dir, "--heap", HEAP, "--result", result,
           "--spans", spans_path, "--seconds", str(a.seconds), "--trace", str(a.trace),
           "--cpus", str(CPUS[a.workload]), "--spawned-at", repr(time.time())]
    log = os.path.join(run_dir, "worker.log")
    try:
        with open(log, "w") as lf:
            proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=lf, stderr=lf)
            try:
                code = proc.wait(timeout=max(10.0, DEADLINE_S - (time.time() - t_start)))
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
                code = "timeout"
    finally:
        reap_all()
    if code != 0 or not os.path.exists(result):
        with open(log) as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        print(f"perfbench: worker failed ({code})", file=sys.stderr)
        return 1
    with open(result) as f:
        res = json.load(f)
    res["spans_path"] = spans_path
    print(f"workload {a.workload}, seed {a.seed}, local[{CPUS[a.workload]}], heap {HEAP}")
    report(res, bool(a.trace))
    if a.trace:
        units = res["per_layer_units"]
        metrics = {k: {"value": v, "unit": units[k]} for k, v in res["per_layer"].items()}
    else:
        metrics = {k: {"value": v, "unit": END_TO_END[k]} for k, v in res["end_to_end"].items()}
    print(json.dumps({"correct": res["failed"] == 0, "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
