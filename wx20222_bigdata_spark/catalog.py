"""Table catalog for the synthetic star schema (TESTDATA.md / FIXTURES.md §B).

The reference pipeline has no schema system — records are mutated dicts
(``data_helper.py:27-39`` in /root/reference). Here every table has an explicit
``StructType`` and production reads never rely on inference.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

TABLE_NAMES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]

#: Declared schemas (mirrors FIXTURES.md §B; validated against parquet footers).
SCHEMAS: dict[str, T.StructType] = {
    "region": T.StructType(
        [
            T.StructField("r_regionkey", T.IntegerType()),
            T.StructField("r_name", T.StringType()),
        ]
    ),
    "nation": T.StructType(
        [
            T.StructField("n_nationkey", T.IntegerType()),
            T.StructField("n_name", T.StringType()),
            T.StructField("n_regionkey", T.IntegerType()),
        ]
    ),
    "customer": T.StructType(
        [
            T.StructField("c_custkey", T.LongType()),
            T.StructField("c_name", T.StringType()),
            T.StructField("c_nationkey", T.IntegerType()),
            T.StructField("c_acctbal", T.DoubleType()),
            T.StructField("c_mktsegment", T.StringType()),
        ]
    ),
    "supplier": T.StructType(
        [
            T.StructField("s_suppkey", T.LongType()),
            T.StructField("s_name", T.StringType()),
            T.StructField("s_nationkey", T.IntegerType()),
            T.StructField("s_acctbal", T.DoubleType()),
        ]
    ),
    "part": T.StructType(
        [
            T.StructField("p_partkey", T.LongType()),
            T.StructField("p_name", T.StringType()),
            T.StructField("p_brand", T.StringType()),
            T.StructField("p_type", T.StringType()),
            T.StructField("p_size", T.IntegerType()),
            T.StructField("p_retailprice", T.DoubleType()),
        ]
    ),
    "orders": T.StructType(
        [
            T.StructField("o_orderkey", T.LongType()),
            T.StructField("o_custkey", T.LongType()),
            T.StructField("o_orderstatus", T.StringType()),
            T.StructField("o_totalprice", T.DoubleType()),
            T.StructField("o_orderdate", T.TimestampNTZType()),
            T.StructField("o_orderpriority", T.StringType()),
        ]
    ),
    "lineitem": T.StructType(
        [
            T.StructField("l_orderkey", T.LongType()),
            T.StructField("l_partkey", T.LongType()),
            T.StructField("l_suppkey", T.LongType()),
            T.StructField("l_linenumber", T.IntegerType()),
            T.StructField("l_quantity", T.DoubleType()),
            T.StructField("l_extendedprice", T.DoubleType()),
            T.StructField("l_discount", T.DoubleType()),
            T.StructField("l_tax", T.DoubleType()),
            T.StructField("l_returnflag", T.StringType()),
            T.StructField("l_linestatus", T.StringType()),
            T.StructField("l_shipdate", T.TimestampNTZType()),
        ]
    ),
    "events": T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("props", T.StringType()),
        ]
    ),
    "documents": T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
            T.StructField("lang", T.StringType()),
            T.StructField("source", T.StringType()),
            T.StructField("n_chars", T.LongType()),
        ]
    ),
    "embeddings": T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.FloatType())),
            T.StructField("label", T.IntegerType()),
        ]
    ),
}


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Scan one table. Parquet scans get column pruning + predicate pushdown
    from Catalyst for free — callers should filter/select eagerly and let the
    optimizer push it into the scan.

    ``events.ts`` has shipped in two physical layouts across testdata
    generations: parquet TIMESTAMP(NANOS) (unmapped by Spark — read as raw
    nanos via ``nanosAsLong`` and floor-convert to microseconds, the same
    truncation DuckDB applies) and plain TIMESTAMP(MICROS)
    (isAdjustedToUTC=false → TIMESTAMP_NTZ). Both normalize to a session-tz
    microsecond timestamp; the session tz is pinned UTC (session.py), so the
    NTZ→TZ cast is epoch-preserving and oracle comparisons agree either way.

    Schema memo: inferring a scan's schema runs a parquet-footer Spark job
    (sf0.01 documents, local[2] on a 4-vCPU Xeon VM, median of 60: 80 ms
    a call, vs 14 ms reading with the kept schema), so the raw
    read schema that passed ``_validate_schema`` is kept per path, with the
    file's ``(mtime_ns, size, ctime_ns, inode)`` version — at most one
    entry per path. A call whose file still has that version reads with
    ``spark.read.schema(...)``: no footer job, same schema. A rewritten
    file (new version), a missing one, a directory or a non-local path
    falls back to infer-and-validate, so the drift check still runs once
    per file version. ctime and inode are in the version because mtime
    and size alone miss a same-size rewrite within one mtime tick or a
    copy that restores mtime (``cp -p``, ``rsync -t``, ``os.utime``);
    no user call can set ctime, and a replace-by-rename changes the
    inode. Only the schema is kept; rows are always read fresh. The
    memo pays off where one process loads the same unchanged file again,
    e.g. building every query in ``registry.all_queries()`` over one
    sf_dir (304 loads of 10 files at sf0.01).
    """
    if name not in TABLE_NAMES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLE_NAMES}")
    path = f"{sf_dir}/{name}.parquet"
    version = _file_version(path)
    memo = _SCHEMA_MEMO.get(path)
    known = memo[1] if memo is not None and memo[0] == version else None
    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    reader = spark.read if known is None else spark.read.schema(known)
    df = raw = reader.parquet(path)
    raw_schema = raw.schema if known is None else known
    if name == "events":
        from pyspark.sql import functions as F

        ts_type = raw_schema["ts"].dataType
        if isinstance(ts_type, T.LongType):  # legacy nanos layout
            df = raw.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        else:  # micros layout: NTZ wall-clock == UTC epoch under UTC session tz
            df = raw.withColumn("ts", F.col("ts").cast(T.TimestampType()))
    if known is None:
        _validate_schema(name, df)
        if version is not None:
            _SCHEMA_MEMO[path] = (version, raw_schema)
    return df


#: path → (file version, raw read schema that passed validation).
_SCHEMA_MEMO: dict[str, tuple[tuple[int, ...], T.StructType]] = {}


def _file_version(path: str) -> tuple[int, ...] | None:
    """``(mtime_ns, size, ctime_ns, inode)`` of a local regular file, else
    None (no memo)."""
    import os
    import stat

    try:
        st = os.stat(path)
    except OSError:
        return None
    if not stat.S_ISREG(st.st_mode):
        return None
    return (st.st_mtime_ns, st.st_size, st.st_ctime_ns, st.st_ino)


def _validate_schema(name: str, df: DataFrame) -> None:
    """Fail fast if a scan's schema drifts from the declared contract —
    the catalog boundary is where a regenerated/malformed fixture should
    break, not three operators downstream. Metadata-only (no data read).

    Note the declared truth matches parquet reality: the testdata's
    orderdate/shipdate columns are TIMESTAMP(isAdjustedToUTC=false) and
    read as TIMESTAMP_NTZ; only events.ts (converted from raw nanos) is a
    session-tz timestamp."""
    expected = [(f.name, f.dataType.simpleString()) for f in SCHEMAS[name].fields]
    actual = [(f.name, f.dataType.simpleString()) for f in df.schema.fields]
    if expected != actual:
        raise ValueError(
            f"schema drift in table {name!r}: expected {expected}, got {actual}"
        )


def rebalance_small_scan(df: DataFrame, path: str) -> DataFrame:
    """Round-robin repartition a SMALL scan across all cores before
    CPU-amplifying narrow work (shingle explode, per-token hashing, char
    n-grams — stages whose compute is 10-100× the scanned bytes).

    Narrow stages execute inside the scan stage, so their parallelism is
    capped by the input's ROW-GROUP granularity, not by Spark's split
    planner: a byte-range split that contains no row-group start is an
    empty task (measured: a single-row-group 16 MiB documents table ran
    a ×300 shingle explode + md5 as ONE task on 32 cores; see SCALE.md
    round 4). The fix is one round-robin shuffle of the raw input —
    whose cost is proportional to input bytes, i.e. negligible exactly
    when the gate below fires.

    Gate (both conditions, else no-op — at real scale the plan is
    untouched):
      1. total input bytes < defaultParallelism × maxPartitionBytes
         (a bigger input fills the cluster through splits alone), and
      2. parquet footers report fewer row groups than cores (the scan
         genuinely cannot parallelize; footer reads are driver-side and
         bounded because condition 1 already capped the file count).
    Non-local / unreadable paths skip the rebalance (conservative
    no-op)."""
    import glob
    import os

    import pyarrow as pa

    spark = df.sparkSession
    par = spark.sparkContext.defaultParallelism
    try:
        files = (
            [path]
            if os.path.isfile(path)
            else glob.glob(os.path.join(path, "*.parquet"))
        )
        if not files:
            return df
        total = sum(os.path.getsize(f) for f in files)
        max_split = _parse_byte_conf(
            spark.conf.get("spark.sql.files.maxPartitionBytes")
        )
        if total >= par * max_split:
            return df
        import pyarrow.parquet as pq

        row_groups = sum(pq.ParquetFile(f).num_row_groups for f in files)
        if row_groups >= par:
            return df
    except (OSError, ValueError, pa.ArrowException):
        # unreadable local path, malformed conf, or a truncated/corrupt/
        # in-progress parquet footer (pyarrow raises ArrowInvalid, not
        # OSError) → conservative no-op; anything else (a genuine bug)
        # propagates
        return df
    return df.repartition(par)


_BYTE_SUFFIXES = {
    "b": 1,
    "k": 1 << 10,
    "kb": 1 << 10,
    "m": 1 << 20,
    "mb": 1 << 20,
    "g": 1 << 30,
    "gb": 1 << 30,
    "t": 1 << 40,
    "tb": 1 << 40,
}


def _parse_byte_conf(value: str) -> int:
    """Parse a Spark byte-size conf value (``134217728``, ``128m``,
    ``1g``, ``512kb`` — Spark's JavaUtils.byteStringAsBytes grammar,
    binary units). Raises ValueError on malformed input."""
    s = value.strip().lower()
    i = len(s)
    while i > 0 and not s[i - 1].isdigit():
        i -= 1
    num, suffix = s[:i], s[i:].strip()
    if not num:
        raise ValueError(f"malformed byte conf: {value!r}")
    mult = _BYTE_SUFFIXES.get(suffix, None) if suffix else 1
    if mult is None:
        raise ValueError(f"unknown byte suffix in conf: {value!r}")
    return int(num) * mult


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in TABLE_NAMES}


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every table as a temp view so operators can use ``spark.sql``."""
    for name in TABLE_NAMES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
