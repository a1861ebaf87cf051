"""One benchmark run of one workload, in its own process.

Started by ``run.py``: it builds the session with the launcher's pinned
settings, warms up, runs the timed phase as a single closed-loop client,
checks every result, and writes its metrics as JSON to ``--result``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time
from concurrent.futures import ThreadPoolExecutor

import spans as sp
import workloads as wl

#: Samples that must lie beyond the reported tail percentile, and the
#: fewest timed operations of a run (so the tail sits above the median).
TAIL_BEYOND = 10
MIN_OPS = 22
#: Warm-up, until timings settle. The first call of each operation type
#: pays class loading and code generation (4-10x a steady call); these
#: run side by side, which fills the cores. The JIT then keeps speeding
#: calls up for a while (a 3-seat dedup cycle on a shared 4-vCPU VM: from
#: 3.0-3.9 s to 1.6-2.1 s over 8-14 cycles). Each of the workload's
#: warm-up loops is a closed loop that stops once the median of its last
#: ``window`` calls is within SETTLE_TOL of the median of the ``window``
#: calls before, or after its ``max_calls``; the report says which. The
#: test is two-sided so that a slowdown of the host, which makes a window
#: slower, does not pass for a settled JIT.
SETTLE_TOL = 0.05

#: Every per-layer metric with its unit; a layer a workload does not
#: exercise reports 0.
PER_LAYER = {
    "driver.build_s": "s", "driver.py4j_calls": "count",
    "spark.exec_s": "s", "spark.jobs": "count", "spark.stages": "count",
    "spark.tasks": "count", "spark.shuffle_read_mb": "MB",
    "spark.shuffle_write_mb": "MB", "spark.spill_mb": "MB", "spark.input_mb": "MB",
    "spark.output_mb": "MB", "spark.executor_run_s": "s", "spark.executor_cpu_s": "s",
    "spark.gc_s": "s", "spark.task_skew": "ratio",
    "dedup.e2g_s": "s", "dedup.e2m_s": "s", "dedup.e2c_s": "s",
    "dedup.candidate_pairs": "count",
    "stream.add_batch_ms": "ms", "stream.trigger_overhead_ms": "ms",
    "stream.index_files": "count", "stream.admit_ratio": "ratio",
    "stream.batch_growth": "ratio",
    "session.start_s": "s", "session.warmup_s": "s",
    "proc.jvm_rss_mb": "MB", "proc.driver_rss_mb": "MB",
    "self.driver_s": "s", "self.spark_s": "s", "self.stream_trigger_s": "s",
    "self.unattributed_s": "s", "trace.overhead_pct": "%",
}
#: Operation name -> per-layer metric holding its median time.
OP_METRICS = {
    "e2g_minhash_lsh_production": "dedup.e2g_s", "e2m_char_lsh_production": "dedup.e2m_s",
    "e2c_simhash": "dedup.e2c_s",
}


def hwm_mb(pid: int) -> float:
    """The process's resident-set high-water mark (VmHWM)."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def make_session(work: str, cpus: int, heap: str):
    from wx20222_bigdata_spark.session import get_spark

    tmp = f"{work}/tmp"
    os.makedirs(tmp, exist_ok=True)
    spark = get_spark(
        app_name="perfbench",
        master=f"local[{cpus}]",
        shuffle_partitions=cpus,
        extra_conf={
            "spark.driver.memory": heap,
            "spark.driver.extraJavaOptions":
                f"-Xms{heap} -XX:-UsePerfData -Djava.io.tmpdir={tmp}",
            "spark.local.dir": f"{work}/local",
            "spark.sql.warehouse.dir": f"{work}/warehouse",
            "spark.ui.port": "0",
            "spark.ui.showConsoleProgress": "false",
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.sql.ui.retainedExecutions": "100",
            "spark.sql.streaming.numRecentProgressUpdates": "100000",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def settled(times: list[float], window: int) -> bool:
    if len(times) < 2 * window:
        return False
    last = statistics.median(times[-window:])
    return abs(last / statistics.median(times[-2 * window:-window]) - 1.0) <= SETTLE_TOL


def side_by_side(jobs: list) -> list:
    if not jobs:
        return []
    with ThreadPoolExecutor(len(jobs)) as ex:
        return [f.result() for f in [ex.submit(j) for j in jobs]]


def warm_up(workload) -> list[dict]:
    """First calls side by side, then the workload's warm-up loops side by
    side until each has settled; returns each loop's call times and
    whether it settled. A loop's call returns the seconds it took."""
    def call(fn, *args) -> float | None:
        try:
            return fn(*args)
        except Exception as e:  # noqa: BLE001 - the timed phase counts failures
            print(f"warm-up call failed: {type(e).__name__}: {e}", file=sys.stderr)
            return None

    def loop(fn, window: int, max_calls: int) -> dict:
        times: list[float] = []
        while len(times) < max_calls and not settled(times, window):
            t = call(fn, len(times))
            if t is None:
                break
            times.append(t)
        return {"calls_s": times, "settled": settled(times, window)}

    side_by_side([lambda fn=fn: call(fn) for fn in workload.first_calls()])
    return side_by_side([lambda spec=spec: loop(*spec) for spec in workload.warmup_loops()])


def measure(spark, workload, seconds: float, counter, tracer) -> tuple[list[dict], int]:
    """Closed loop of whole cycles until ``seconds`` have passed and
    MIN_OPS operations are done, or the generated inputs are used up;
    returns the samples and the number of cycles. A traced run traces
    every other step, alternating between cycles (step i of cycle k when
    i + k is even) and ends on an even cycle count, so every operation
    type is traced as often as not and the untraced steps measure the
    tracing overhead."""
    root = tracer.open("workload", "measure", None)["id"] if tracer else None
    samples, k = [], 0
    t_end = time.perf_counter() + seconds
    while True:
        steps = workload.cycle(k)
        if steps is None:
            break
        for i, step in enumerate(steps):
            traced = tracer is not None and (i + k) % 2 == 0
            ctx = wl.Ctx(spark, counter, tracer if traced else None, root, f"op-{k}-{i}")
            for rec in step.run(ctx):
                rec.update(traced=traced, cycle=k)
                samples.append(rec)
        k += 1
        if (time.perf_counter() >= t_end and len(samples) >= MIN_OPS
                and (tracer is None or k % 2 == 0)):
            break
    if tracer:
        tracer.close(tracer.spans[root])
    return samples, k


def tail(values: list[float]) -> tuple[float, float]:
    """(value, percentile) of the highest percentile that has
    TAIL_BEYOND samples above it."""
    v = sorted(values)
    n = len(v)
    if n <= 2 * TAIL_BEYOND + 1:
        raise RuntimeError(f"{n} operations: too few for a tail above the median")
    return v[n - TAIL_BEYOND - 1], 100.0 * (n - TAIL_BEYOND) / n


def layer_metrics(spark, samples: list[dict], extra: dict, tracer) -> dict:
    """Per-operation numbers of each layer, from the traced operations,
    plus self time per layer and the tracing overhead."""
    out = {k: 0.0 for k in PER_LAYER}
    out.update(extra)
    for name, metric in OP_METRICS.items():
        dts = [s["dt"] for s in samples if s["name"] == name]
        if dts:
            out[metric] = statistics.median(dts)
    # py4j calls per operation: median over cycles of the cycle's mean
    per_cycle: dict[int, list] = {}
    for s in samples:
        per_cycle.setdefault(s["cycle"], []).append(s["py4j"])
    out["driver.py4j_calls"] = statistics.median(sum(v) / len(v) for v in per_cycle.values())
    batches = [s for s in samples if s["name"] == wl.StreamChunk.name]
    if batches:
        bt = [s["dt"] for s in batches]
        dec = max(1, len(bt) // 10)
        out["stream.add_batch_ms"] = statistics.median(s["add_batch_ms"] for s in batches)
        out["stream.trigger_overhead_ms"] = statistics.median(
            s["trigger_ms"] - s["add_batch_ms"] for s in batches)
        out["stream.batch_growth"] = statistics.median(bt[-dec:]) / statistics.median(bt[:dec])

    rest = sp.SparkRest(spark)
    jobs = rest.settled_jobs()
    stages = rest.stages()
    sp.attach_jobs(tracer, jobs, stages)
    selfs = tracer.self_times()
    kids = tracer.children()
    traced = [s for s in samples if s["traced"] and s["span"] is not None]
    if not traced:
        return out
    stats = [sp.op_spark_stats(tracer, rest, stages, tracer.spans[s["span"]]) for s in traced]
    n = len(traced)
    for key in ("exec_s", "jobs", "stages", "tasks", "shuffle_read_mb", "shuffle_write_mb",
                "spill_mb", "input_mb", "output_mb", "executor_run_s", "executor_cpu_s",
                "gc_s"):
        out[f"spark.{key}"] = sum(st[key] for st in stats) / n
    out["spark.task_skew"] = statistics.median(st["task_skew"] for st in stats)

    # Self time per layer, per traced operation. spark: the job intervals.
    # driver: call and action time outside them (for a micro-batch: its
    # addBatch time outside them). stream trigger: the rest of a
    # micro-batch (offsets, planning, commit log). Unattributed: the rest
    # of the measured span (the harness, streaming query start and stop).
    spark_self = driver = trigger = 0.0
    build = 0.0
    for s, st in zip(traced, stats):
        spark_self += st["exec_s"]
        if s["name"] == wl.StreamChunk.name:
            d = max(0.0, s["add_batch_ms"] / 1e3 - st["exec_s"])
            driver += d
            trigger += selfs[s["span"]] - d
            build += d
        else:
            driver += sum(selfs[c["id"]] for c in kids.get(s["span"], []))
            build += sum(selfs[c["id"]] for c in kids.get(s["span"], []) if c["kind"] == "call")
    root = next(x for x in tracer.spans if x["kind"] == "workload")
    # the measured span also holds the untraced cycles: keep the traced share
    share = sum(s["dt"] for s in traced) / sum(s["dt"] for s in samples)
    total = (root["end"] - root["start"]) * share
    out["driver.build_s"] = build / n
    out["self.spark_s"] = spark_self / n
    out["self.driver_s"] = driver / n
    out["self.stream_trigger_s"] = trigger / n
    out["self.unattributed_s"] = (total - spark_self - driver - trigger) / n

    ratios = []
    for name in {s["name"] for s in samples}:
        on = [s["dt"] for s in samples if s["name"] == name and s["traced"]]
        off = [s["dt"] for s in samples if s["name"] == name and not s["traced"]]
        if on and off:
            ratios.append(statistics.median(on) / statistics.median(off))
    out["trace.overhead_pct"] = 100.0 * (statistics.mean(ratios) - 1.0) if ratios else 0.0
    return out


def main() -> int:
    ap = argparse.ArgumentParser()
    for name in ("--workload", "--inputs", "--work", "--heap", "--result", "--spans"):
        ap.add_argument(name, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, required=True)
    ap.add_argument("--cpus", type=int, required=True)
    ap.add_argument("--spawned-at", type=float, required=True)
    a = ap.parse_args()

    with open(os.path.join(a.inputs, "_DONE")) as f:
        info = json.load(f)
    spark = make_session(a.work, a.cpus, a.heap)
    session_ready = time.time()
    workload = wl.WORKLOADS[a.workload](spark, a.inputs, info, a.work)
    warm = warm_up(workload)
    warm_done = time.time()

    counter = sp.Py4jCallCounter(spark) if a.trace else None
    tracer = sp.Tracer() if a.trace else None
    samples, cycles = measure(spark, workload, a.seconds, counter, tracer)
    measured = time.time()
    busy = sum(s["dt"] for s in samples if s["name"] != wl.StreamChunk.name)
    busy += getattr(workload, "stream_wall", 0.0)
    err, extra = workload.finish()
    if err:
        for s in samples:
            if s["name"] == wl.StreamChunk.name:
                s["err"] = s["err"] or err

    jvm_pid = int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())
    driver_mb, jvm_mb = hwm_mb(os.getpid()), hwm_mb(jvm_pid)
    dts = [s["dt"] for s in samples]
    tail_s, pct = tail(dts)
    out = {
        "attempted": len(samples),
        "failed": sum(bool(s["err"]) for s in samples),
        "samples": [(s["name"], s["dt"], s["py4j"]) for s in samples],
        "errors": sorted({s["err"] for s in samples if s["err"]})[:5],
        "notes": {"op_samples": len(dts), "op_tail_percentile": round(pct, 1),
                  "op_samples_beyond_tail": TAIL_BEYOND,
                  "warm_up_loops": warm, "cycles": cycles,
                  "phases_s": {"session": session_ready - a.spawned_at,
                               "warm_up": warm_done - session_ready,
                               "measure": measured - warm_done,
                               "checks": time.time() - measured}},
        "end_to_end": {
            "setup_s": warm_done - a.spawned_at,
            "rows_per_s": sum(s["rows"] for s in samples) / busy,
            "op_p50_s": statistics.median(dts),
            "op_tail_s": tail_s,
            "peak_rss_mb": driver_mb + jvm_mb,
        },
    }
    if tracer:
        layers = layer_metrics(spark, samples, extra, tracer)
        layers.update({
            "session.start_s": session_ready - a.spawned_at,
            "session.warmup_s": warm_done - session_ready,
            "proc.driver_rss_mb": driver_mb, "proc.jvm_rss_mb": jvm_mb,
        })
        out["per_layer"] = layers
        out["per_layer_units"] = PER_LAYER
        tracer.dump(a.spans)
        counter.close()
    spark.stop()
    with open(a.result, "w") as f:
        json.dump(out, f)
    return 0


if __name__ == "__main__":
    sys.exit(main())
