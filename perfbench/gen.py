"""Seeded input generator for the benchmark. Uses numpy and pyarrow only,
never Spark, so the program under test sees nothing but the files.

Every workload's inputs are a pure function of (workload, seed, size):
the same triple gives byte-identical files, and the files are cached
under ``<work>/inputs/<workload>-s<seed>-<size>/`` behind a ``_DONE``
stamp. Expected results that an independent engine can compute (DuckDB
running the package's ``oracle_sql()``) are cached beside them as JSON.
"""

from __future__ import annotations

import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# --- sizes (the "stated input size" of each workload) ----------------------
#: dedup_batch: documents in the corpus every operation reads.
DEDUP_DOCS = 300
#: dedup_batch: share of documents that are near-copies of an earlier one.
DEDUP_NEAR_DUP_SHARE = 0.15
#: stream_funnel: documents per micro-batch file, and files generated: a
#: timed cycle streams 11 files, so a run has inputs for 4 cycles.
STREAM_BATCH_DOCS = 200
STREAM_FILES = 44
#: stream_funnel: share of documents whose text repeats an earlier batch's.
STREAM_CROSS_DUP_SHARE = 0.20
#: stream_funnel: files streamed during warm-up (a separate index/state),
#: 2 per warm-up call for at most 5 calls.
STREAM_WARMUP_FILES = 10

N_SOURCES = 20
LANGS = ["en", "de", "fr", "es", "zh"]
VOCAB_SIZE = 4000

DOC_SCHEMA = pa.schema(
    [
        ("doc_id", pa.int64()),
        ("text", pa.string()),
        ("lang", pa.string()),
        ("source", pa.string()),
        ("n_chars", pa.int64()),
    ]
)


def _vocab(rng: np.random.Generator) -> np.ndarray:
    letters = np.array(list("abcdefghijklmnoprstuvwyz"))
    lens = rng.integers(2, 9, size=VOCAB_SIZE)
    words = {"".join(rng.choice(letters, size=n)) for n in lens}
    return np.array(sorted(words))


def _zipf_p(n: int) -> np.ndarray:
    p = 1.0 / np.arange(1, n + 1) ** 1.05
    return p / p.sum()


def _texts(rng: np.random.Generator, n: int, vocab: np.ndarray) -> list[str]:
    """Word texts of 12..120 Zipf-distributed tokens; every 9th is
    punctuation-heavy so the quality gates have something to drop."""
    cdf = np.cumsum(_zipf_p(len(vocab)))
    out = []
    for i in range(n):
        u = rng.random(int(rng.integers(12, 121)))
        toks = list(vocab[np.minimum(np.searchsorted(cdf, u), len(vocab) - 1)])
        if i % 9 == 4:
            toks = [t + ",." for t in toks]
        out.append(" ".join(toks))
    return out


def _near_copy(rng: np.random.Generator, text: str, vocab: np.ndarray) -> str:
    """1-3 token substitutions: a near-duplicate, not an exact one."""
    toks = text.split(" ")
    for j in rng.choice(len(toks), size=min(len(toks), int(rng.integers(1, 4))), replace=False):
        toks[j] = vocab[rng.integers(len(vocab))]
    return " ".join(toks)


def _doc_table(doc_ids, texts, rng) -> pa.Table:
    n = len(texts)
    return pa.table(
        {
            "doc_id": pa.array(doc_ids, pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array([LANGS[k] for k in rng.integers(len(LANGS), size=n)]),
            "source": pa.array([f"src{k}" for k in rng.integers(N_SOURCES, size=n)]),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        },
        schema=DOC_SCHEMA,
    )


def gen_dedup(out: str, rng: np.random.Generator) -> dict:
    vocab = _vocab(rng)
    n = DEDUP_DOCS
    texts = _texts(rng, n, vocab)
    planted = []
    for i in range(1, n):
        if rng.random() < DEDUP_NEAR_DUP_SHARE:
            src = int(rng.integers(i))
            texts[i] = _near_copy(rng, texts[src], vocab)
            planted.append((src, i))
    pq.write_table(_doc_table(np.arange(n), texts, rng), f"{out}/documents.parquet")
    return {"docs": n, "planted_near_dups": len(planted),
            "near_dup_share": round(len(planted) / n, 4)}


def gen_stream(out: str, rng: np.random.Generator) -> dict:
    """Single-file micro-batches in doc_id order. A planted cross-batch
    duplicate repeats the text of a document from an earlier file, so the
    funnel's persistent key index (not its in-batch window) must drop it."""
    vocab = _vocab(rng)
    b = STREAM_BATCH_DOCS
    n = b * (STREAM_FILES + STREAM_WARMUP_FILES)
    texts = _texts(rng, n, vocab)
    cross = 0
    for i in range(b, n):
        if rng.random() < STREAM_CROSS_DUP_SHARE:
            texts[i] = texts[int(rng.integers(i - i % b))]
            cross += 1
    table = _doc_table(np.arange(n), texts, rng)
    for name, first, count in (
        ("warmup", 0, STREAM_WARMUP_FILES),
        ("files", STREAM_WARMUP_FILES, STREAM_FILES),
    ):
        os.makedirs(f"{out}/{name}")
        for k in range(count):
            part = table.slice((first + k) * b, b)
            pq.write_table(part, f"{out}/{name}/part-{k:05d}.parquet")
    return {"batch_docs": b, "files": STREAM_FILES, "warmup_files": STREAM_WARMUP_FILES,
            "cross_batch_dup_share": round(cross / n, 4)}


GENERATORS = {"dedup_batch": gen_dedup, "stream_funnel": gen_stream}
SIZES = {
    "dedup_batch": f"d{DEDUP_DOCS}",
    "stream_funnel": f"b{STREAM_BATCH_DOCS}x{STREAM_FILES}w{STREAM_WARMUP_FILES}",
}

#: Oracle-backed seats of dedup_batch whose results DuckDB recomputes.
ORACLE_SEATS = ["e2c_simhash"]


def duck_expected(sf_dir: str, names: list[str], oracles: dict[str, str]) -> dict:
    """Run each seat's DuckDB oracle over the generated documents and
    return its rows as sorted lists of lists (JSON-friendly)."""
    import duckdb

    con = duckdb.connect()
    try:
        con.execute(
            f"CREATE VIEW documents AS SELECT * FROM read_parquet('{sf_dir}/documents.parquet')"
        )
        out = {}
        for name in names:
            cur = con.execute(oracles[name])
            cols = [c[0] for c in cur.description]
            out[name] = {"columns": cols, "rows": canonical_rows(cur.fetchall())}
        return out
    finally:
        con.close()


def canonical_rows(rows) -> list:
    """Order-insensitive canonical form: values normalised, rows sorted."""
    def norm(v):
        if v is None or isinstance(v, str):
            return v
        if isinstance(v, (float, np.floating)):
            return round(float(v), 6)
        return int(v)  # ints and bools, Python or numpy

    return sorted(([norm(v) for v in r] for r in rows), key=repr)


def ensure_inputs(work: str, workload: str, seed: int, oracles=None) -> tuple[str, dict]:
    """Generate (or reuse) the inputs of ``workload`` for ``seed``."""
    d = os.path.join(work, "inputs", f"{workload}-s{seed}-{SIZES[workload]}")
    stamp = os.path.join(d, "_DONE")
    if os.path.exists(stamp):
        with open(stamp) as f:
            return d, json.load(f)
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(d)
    # workload name folded into the seed: the workloads draw independent
    # streams from one --seed
    rng = np.random.default_rng([seed, sorted(GENERATORS).index(workload)])
    info = GENERATORS[workload](d, rng)
    if workload == "dedup_batch":
        expected = duck_expected(d, ORACLE_SEATS, oracles)
        with open(os.path.join(d, "expected.json"), "w") as f:
            json.dump(expected, f)
    with open(stamp, "w") as f:
        json.dump(info, f)
    return d, info
