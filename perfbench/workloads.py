"""The benchmark's workloads: closed loops of calls into the package's
public functions, with the correctness check of every call.

An operation is one public call plus the action that consumes its result,
timed from before the call, or one streaming micro-batch. A check returns
an error string (the operation counts as failed) or None.
"""

from __future__ import annotations

import glob
import hashlib
import json
import os
import shutil
import time

import gen
from spans import child, rest_time

#: The dedup seats plant mutants of every 50th document at doc_id+100000.
MUTANT_MOD, MUTANT_OFFSET = 50, 100_000
#: Planted mutants a production LSH seat may fail to pair with their
#: source. With 16 hashes in 4 bands of 4, a mutant whose shingle Jaccard
#: with its source is J is missed with probability (1 - J**4)**4: 0.4% at
#: J = 0.93, the Jaccard of a 15-token document and its mutant. One such
#: miss is chance (seen once in 20 generated corpora); two of the ~6
#: mutants of a corpus would be a broken tier.
MAX_MUTANT_MISSES = 1


class Ctx:
    """What one operation is run with: tracer is None when untraced."""

    def __init__(self, spark, counter, tracer, parent, group):
        self.spark, self.counter, self.tracer = spark, counter, tracer
        self.parent, self.group = parent, group


# --- dedup_batch --------------------------------------------------------------

class SeatOp:
    """One public call of a dedup seat plus its action."""

    def __init__(self, wl: "DedupBatch", name: str):
        self.wl, self.name, self.rows = wl, name, wl.docs
        self.fn = wl.queries[name]
        self.first_digest = None

    def call(self):
        return self.fn(self.wl.spark, self.wl.inputs)

    def action(self, df):
        return df.toPandas()

    def check(self, pdf) -> str | None:
        if self.wl.collisions:
            return f"{len(self.wl.collisions)} mutant ids collide with corpus ids"
        want = self.wl.expected.get(self.name)
        if want is not None:
            got = gen.canonical_rows(pdf[want["columns"]].itertuples(index=False))
            if got != want["rows"]:
                return f"{self.name}: {len(got)} rows differ from the DuckDB oracle"
            return None
        # production (rows-only) LSH seats: ids valid, mutants recovered,
        # and the same pairs on every call
        if not set(pdf.id_a) | set(pdf.id_b) <= self.wl.valid_ids:
            return f"{self.name}: pair ids outside the corpus"
        pairs = set(zip(pdf.id_a, pdf.id_b))
        hit = sum((m - MUTANT_OFFSET, m) in pairs for m in self.wl.mutant_ids)
        if hit < len(self.wl.mutant_ids) - MAX_MUTANT_MISSES:
            return f"{self.name}: recovered {hit}/{len(self.wl.mutant_ids)} mutants"
        digest = hashlib.sha1(repr(sorted(pairs)).encode()).hexdigest()
        if self.first_digest is None:
            self.first_digest = digest
        elif digest != self.first_digest:
            return f"{self.name}: pairs changed between calls"
        self.wl.candidate_pairs.append(len(pairs))
        return None

    def run(self, ctx: Ctx) -> list[dict]:
        sc, tracer, span = ctx.spark.sparkContext, ctx.tracer, None
        if tracer is not None:
            sc.setJobGroup(ctx.group, self.name)
            span = tracer.open("op", self.name, ctx.parent)
        calls0 = ctx.counter.calls if ctx.counter else 0
        err = res = None
        t0 = time.perf_counter()
        try:
            parent = span["id"] if span is not None else None
            with child(tracer, "call", self.name, parent, group=ctx.group):
                out = self.call()
            with child(tracer, "action", self.name, parent, group=ctx.group):
                res = self.action(out)
        except Exception as e:  # noqa: BLE001 - a failed call is a measured outcome
            err = f"{self.name} raised {type(e).__name__}: {str(e)[:300]}"
        dt = time.perf_counter() - t0
        calls = ctx.counter.calls - calls0 if ctx.counter else 0
        if tracer is not None:
            tracer.close(span)
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        if err is None:
            try:
                err = self.check(res)
            except Exception as e:  # noqa: BLE001 - a crashing check is a failed op
                err = f"{self.name} check raised {type(e).__name__}: {e}"
        return [{"name": self.name, "dt": dt, "rows": self.rows, "err": err, "py4j": calls,
                 "span": span["id"] if span is not None else None}]


class DedupBatch:
    """The near-dup seats over one generated corpus, cycled in order: no
    writes, no Python worker.

    Three seats, not the whole near-dup family: e7d and e9d run several
    Spark jobs each (about 2 s a call, 60% of a five-seat cycle), and
    with them a run could not both settle its warm-up and time 22
    operations within the benchmark's time budget. An odd number of
    seats also keeps the median operation inside one seat's samples."""

    SEATS = ["e2g_minhash_lsh_production", "e2m_char_lsh_production", "e2c_simhash"]

    def __init__(self, spark, inputs: str, info: dict, work: str):
        import pyarrow.parquet as pq

        from wx20222_bigdata_spark.registry import all_queries

        self.spark, self.inputs, self.docs = spark, inputs, info["docs"]
        self.queries = all_queries()
        with open(os.path.join(inputs, "expected.json")) as f:
            self.expected = json.load(f)
        ids = set(pq.read_table(f"{inputs}/documents.parquet",
                                columns=["doc_id"]).column(0).to_pylist())
        self.mutant_ids = {d + MUTANT_OFFSET for d in ids if d % MUTANT_MOD == 0}
        self.collisions = ids & self.mutant_ids
        self.valid_ids = ids | self.mutant_ids
        self.candidate_pairs: list[int] = []
        self.ops = [SeatOp(self, n) for n in self.SEATS]

    def first_calls(self) -> list:
        """The first call of every seat, run side by side."""
        return [(lambda op=op: op.action(op.call())) for op in self.ops]

    def warmup_loops(self) -> list:
        """One warm-up loop of sequential cycles, settled over windows of 3
        cycles, at most 10 cycles."""
        def cycle(k):
            t0 = time.perf_counter()
            for op in self.ops:
                op.action(op.call())
            return time.perf_counter() - t0
        return [(cycle, 3, 10)]

    def cycle(self, k: int) -> list:
        return self.ops

    def finish(self) -> tuple[str | None, dict]:
        extra = {}
        if self.candidate_pairs:
            extra["dedup.candidate_pairs"] = sum(self.candidate_pairs) / len(self.candidate_pairs)
        return None, extra


# --- stream_funnel --------------------------------------------------------------

class StreamChunk:
    """Stage the next files and drain them with one availableNow run of
    ``streaming_curation_funnel``; one operation per micro-batch."""

    name = "micro_batch"

    def __init__(self, wl: "StreamFunnel", files: list[str], d: dict):
        self.wl, self.files, self.d = wl, files, d

    def drain(self, tracer=None, parent=None):
        from wx20222_bigdata_spark.streaming.jobs import streaming_curation_funnel

        d = self.d
        for p in self.files:
            dst = os.path.join(d["src"], os.path.basename(p))
            shutil.copyfile(p, dst)
            # the file source takes files in modification-time order: keep
            # doc_id order, so first arrival is the minimum doc_id
            n = 1_700_000_000 + int(os.path.basename(p)[5:10])
            os.utime(dst, (n, n))
        t0 = time.perf_counter()
        with child(tracer, "call", "streaming_curation_funnel", parent) as span:
            stream = (self.wl.spark.readStream.schema(StreamFunnel.SCHEMA)
                      .option("maxFilesPerTrigger", 1).parquet(d["src"]))
            q = streaming_curation_funnel(stream, d["index"], d["out"], d["state"],
                                          d["ckpt"]).start()
            try:
                q.awaitTermination()
            finally:
                q.stop()
        wall = time.perf_counter() - t0
        return wall, [p for p in q.recentProgress if p["numInputRows"] > 0], span

    def run(self, ctx: Ctx) -> list[dict]:
        calls0 = ctx.counter.calls if ctx.counter else 0
        t0 = time.perf_counter()
        try:
            wall, progs, call = self.drain(ctx.tracer, ctx.parent)
        except Exception as e:  # noqa: BLE001 - a failed stream is a measured outcome
            wall = time.perf_counter() - t0
            self.wl.stream_wall += wall
            err = f"streaming_curation_funnel raised {type(e).__name__}: {str(e)[:300]}"
            return [{"name": self.name, "dt": wall / len(self.files), "rows": 0, "err": err,
                     "py4j": 0, "add_batch_ms": 0, "trigger_ms": 0, "span": None}
                    for _ in self.files]
        calls = ctx.counter.calls - calls0 if ctx.counter else 0
        self.wl.staged += self.files
        self.wl.stream_wall += wall
        err = None if len(progs) == len(self.files) else \
            f"{len(progs)} micro-batches for {len(self.files)} files"
        recs = []
        for p in progs:
            dur = p["durationMs"]
            rec = {"name": self.name, "dt": dur["triggerExecution"] / 1e3,
                   "rows": p["numInputRows"], "err": err, "py4j": calls / len(progs),
                   "add_batch_ms": dur["addBatch"], "trigger_ms": dur["triggerExecution"],
                   "span": None}
            if ctx.tracer is not None:
                start = rest_time(p["timestamp"].replace("Z", "GMT"))
                rec["span"] = ctx.tracer.add(
                    "batch", f"batch {p['batchId']}", call["id"], start,
                    start + dur["triggerExecution"] / 1e3)["id"]
            recs.append(rec)
        return recs


class StreamFunnel:
    """Per cycle, one availableNow run of the streaming curation funnel
    over the next 11 single-file micro-batches: output, key index and
    state are written every batch, and the index gains a directory each
    time."""

    SCHEMA = "doc_id bigint, source string, text string"
    CHUNK_FILES = 11

    def __init__(self, spark, inputs: str, info: dict, work: str):
        self.spark, self.inputs, self.work, self.info = spark, inputs, work, info
        self.files = sorted(glob.glob(f"{inputs}/files/*.parquet"))
        self.staged: list[str] = []
        self.stream_wall = 0.0
        self.d = self.dirs("run")

    def dirs(self, tag: str) -> dict[str, str]:
        base = f"{self.work}/stream_{tag}"
        shutil.rmtree(base, ignore_errors=True)
        d = {k: f"{base}/{k}" for k in ("src", "index", "out", "state", "ckpt")}
        os.makedirs(d["src"])
        return d

    def first_calls(self) -> list:
        return []

    def warmup_loops(self) -> list:
        """One warm-up loop: the stream over 2 more warm-up files per
        call, on its own index, timed as its micro-batches (as the timed
        phase is; query start and stop keep speeding up for longer),
        settled call by call, at most 5 calls."""
        warm = sorted(glob.glob(f"{self.inputs}/warmup/*.parquet"))
        d = self.dirs("warmup")

        def stream(k):
            _, progs, _ = StreamChunk(self, warm[2 * k:2 * k + 2], d).drain()
            return sum(p["durationMs"]["triggerExecution"] for p in progs) / 1e3
        return [(stream, 1, 5)]

    def cycle(self, k: int) -> list | None:
        """The k-th timed cycle, or None once the generated inputs are
        used up."""
        chunk = self.files[k * self.CHUNK_FILES:(k + 1) * self.CHUNK_FILES]
        return [StreamChunk(self, chunk, self.d)] if len(chunk) == self.CHUNK_FILES else None

    def finish(self) -> tuple[str | None, dict]:
        """Checks the stream's end state; returns (error for the
        micro-batches, stream per-layer numbers)."""
        d = self.d
        try:
            err = self.twin_check()
        except Exception as e:  # noqa: BLE001 - a failed check fails the micro-batches
            return f"stream check raised {type(e).__name__}: {str(e)[:300]}", {}
        state = self.spark.read.parquet(f"{d['state']}/current").collect()
        extra = {
            "stream.index_files": sum(len(fs) for _, _, fs in os.walk(d["index"])),
            "stream.admit_ratio": sum(r["n_admitted"] for r in state)
            / sum(r["n_raw"] for r in state),
        }
        return err, extra

    def twin_check(self) -> str | None:
        """Final accounting state == the declarative twin over the same
        documents; admitted rows == index keys == admitted count."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        from wx20222_bigdata_spark.operators.curation import e7c_funnel_accounting

        d, files = self.d, self.staged
        twin_dir = f"{self.work}/stream_twin"
        os.makedirs(twin_dir, exist_ok=True)
        pq.write_table(pa.concat_tables(pq.read_table(p) for p in files),
                       f"{twin_dir}/documents.parquet")
        cols = ["n_raw", "n_quality", "n_admitted", "admitted_tokens"]
        got = {r["source"]: tuple(r[c] for c in cols)
               for r in self.spark.read.parquet(f"{d['state']}/current").collect()}
        want = {r["source"]: tuple(r[c] for c in cols)
                for r in e7c_funnel_accounting(self.spark, twin_dir).collect()}
        if got != want:
            return "stream: accounting state differs from its declarative twin"
        if sum(v[0] for v in want.values()) != len(files) * self.info["batch_docs"]:
            return "stream: raw rows not conserved"
        n_adm = sum(v[2] for v in want.values())
        admitted = self.spark.read.parquet(f"{d['out']}/batch_id=*").count()
        keys = self.spark.read.parquet(f"{d['index']}/keys").select("content_key")
        if not admitted == n_adm == keys.count() == keys.distinct().count():
            return f"stream: {admitted} admitted rows, {n_adm} accounted, index differs"
        return None


WORKLOADS = {"dedup_batch": DedupBatch, "stream_funnel": StreamFunnel}
