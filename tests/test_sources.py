"""S-family source/sink round-trips on tmp fixtures (SURVEY.md §2.1)."""

from __future__ import annotations

import json
import os

from pyspark.sql import functions as F

FIXTURE_ANNS = [
    {
        "id": f"v{i:04d}",
        "title": f"title {i} words here",
        "asr": f"asr transcript {i} " + "tok " * (i % 5),
        "ocr": [{"text": f"ocr{i}a"}, {"text": f"ocr{i}b"}],
        "category_id": f"{i % 4:02d}{i % 2:02d}",
    }
    for i in range(20)
]


def test_annotations_json_roundtrip(spark, tmp_path):
    from wx20222_bigdata_spark.sources import read_annotations_json

    p = tmp_path / "anns.json"
    p.write_text(json.dumps(FIXTURE_ANNS, ensure_ascii=False))
    df = read_annotations_json(spark, str(p))
    assert df.count() == 20
    row = df.filter(F.col("id") == "v0003").first()
    assert row.title == "title 3 words here"
    assert [o.text for o in row.ocr] == ["ocr3a", "ocr3b"]
    assert row.category_id == "0301"


def test_predictions_csv_roundtrip(spark, tmp_path):
    from wx20222_bigdata_spark.sources import (
        read_predictions_csv,
        write_predictions_csv,
    )

    df = spark.createDataFrame(
        [(f"v{i}", f"{i % 3:04d}") for i in range(50)], "vid string, category_id string"
    )
    out = tmp_path / "preds"
    write_predictions_csv(df, str(out), single_file=True)
    back = read_predictions_csv(spark, str(out))
    assert back.count() == 50
    assert back.schema.simpleString() == "struct<vid:string,category_id:string>"
    # ordered single-file output: first data line is the min vid
    part = [f for f in os.listdir(out) if f.startswith("part-")]
    assert len(part) == 1
    first_line = (out / part[0]).read_text().splitlines()[0]
    assert first_line == "v0,0000"


def test_keyed_binary_scan(spark, tmp_path):
    from wx20222_bigdata_spark.sources import read_keyed_binary_dir

    d = tmp_path / "feats"
    d.mkdir()
    for i in range(5):
        (d / f"vid{i}.npy").write_bytes(bytes([i]) * (10 + i))
    df = read_keyed_binary_dir(spark, str(d))
    rows = {r.key: r.n_bytes for r in df.collect()}
    assert rows == {f"vid{i}": 10 + i for i in range(5)}


def test_sharded_parquet_sink(spark, tmp_path):
    from wx20222_bigdata_spark.sources import write_sharded_parquet

    df = spark.range(1000).withColumn("v", F.col("id") * 2)
    out = tmp_path / "shards"
    write_sharded_parquet(df, str(out), n_shards=4, max_records_per_file=100)
    files = [f for f in os.listdir(out) if f.endswith(".parquet")]
    # 4 shards x (250 rows / 100 cap) -> at least 12 files, none over cap
    assert len(files) >= 12
    back = spark.read.parquet(str(out))
    assert back.count() == 1000
    assert back.agg(F.sum("v")).first()[0] == 999 * 1000


def test_json_manifest_sink(tmp_path):
    from wx20222_bigdata_spark.sources import write_json_manifest

    p = tmp_path / "manifest.json"
    write_json_manifest({"run": 1, "seed": 42}, str(p))
    assert json.loads(p.read_text()) == {"run": 1, "seed": 42}


def test_partitioned_write_prunes_partitions(spark, tmp_path):
    """Date-partitioned layout: a day filter must become a PartitionFilter
    (directory pruning), not a data filter."""
    from tests.conftest import SF_ORACLE

    from wx20222_bigdata_spark.catalog import load_table
    from wx20222_bigdata_spark.plans import formatted_plan
    from wx20222_bigdata_spark.sources import write_sharded_parquet

    ev = load_table(spark, SF_ORACLE, "events").withColumn(
        "day", F.date_format("ts", "yyyy-MM-dd")
    )
    out = tmp_path / "events_by_day"
    write_sharded_parquet(ev, str(out), partition_by=["day"])
    back = spark.read.parquet(str(out)).filter(F.col("day") == "2024-01-05")
    plan = formatted_plan(back)
    assert "PartitionFilters: [isnotnull(day" in plan, plan[:2000]
    assert back.count() > 0
    # pruned scan reads only the one day directory
    n_all = spark.read.parquet(str(out)).count()
    assert back.count() < n_all


def test_json_corrupt_record_modes(spark, tmp_path):
    """Malformed JSON rows: PERMISSIVE (default) nulls the bad record and
    keeps the scan alive; FAILFAST raises — the reliability contract for
    100 TB ingest where a single bad row must not kill (or silently
    corrupt) a day-long job."""
    import pytest

    from wx20222_bigdata_spark.sources.annotations import ANNOTATION_SCHEMA

    p = tmp_path / "mixed.jsonl"
    p.write_text(
        '{"id": "ok1", "title": "t", "asr": "a", "ocr": [{"text": "o"}], "category_id": "0101"}\n'
        "{this is not json at all\n"
        '{"id": "ok2", "title": "t2", "asr": "a2", "ocr": [], "category_id": "0102"}\n'
    )
    permissive = spark.read.schema(ANNOTATION_SCHEMA).json(str(p))
    rows = permissive.collect()
    assert len(rows) == 3
    assert sorted(r.id for r in rows if r.id is not None) == ["ok1", "ok2"]

    failfast = (
        spark.read.schema(ANNOTATION_SCHEMA).option("mode", "FAILFAST").json(str(p))
    )
    with pytest.raises(Exception, match="(?i)malformed|failfast"):
        failfast.collect()


def test_annotations_jsonl_roundtrip(spark, tmp_path):
    """write_annotations_json emits JSON-lines (splittable at scale);
    read back via the JSONL reader, schema and values preserved."""
    from wx20222_bigdata_spark.sources import (
        read_annotations_json,
        write_annotations_json,
    )
    from wx20222_bigdata_spark.sources.annotations import read_annotations_jsonl

    src = tmp_path / "anns.json"
    src.write_text(json.dumps(FIXTURE_ANNS, ensure_ascii=False))
    df = read_annotations_json(spark, str(src))
    out = tmp_path / "out_jsonl"
    write_annotations_json(df, str(out))
    back = read_annotations_jsonl(spark, str(out))
    assert back.count() == len(FIXTURE_ANNS)
    a = {r.id: (r.title, [o.text for o in (r.ocr or [])]) for r in df.collect()}
    b = {r.id: (r.title, [o.text for o in (r.ocr or [])]) for r in back.collect()}
    assert a == b


def test_orc_roundtrip(spark, tmp_path):
    """ORC sink/source (Spark-native columnar alternative; S-family
    breadth — DuckDB has no ORC reader, so this stays a library test)."""
    from tests.conftest import SF_ORACLE

    from wx20222_bigdata_spark.catalog import load_table

    docs = load_table(spark, SF_ORACLE, "documents")
    out = tmp_path / "docs_orc"
    docs.write.mode("overwrite").orc(str(out))
    back = spark.read.orc(str(out))
    assert back.count() == docs.count()
    assert back.schema == docs.schema
    a = docs.agg(F.sum("n_chars")).first()[0]
    b = back.agg(F.sum("n_chars")).first()[0]
    assert a == b


def test_compacted_parquet_targets_file_size(spark, tmp_path):
    """write_compacted_parquet sizes shards from measured bytes/row:
    a small target must split the data into several near-target files;
    a huge target must compact to one file; rows survive either way."""
    import pyarrow.parquet as pq

    from wx20222_bigdata_spark.sources import write_compacted_parquet

    from pyspark.sql import functions as F

    df = spark.range(20_000).select(
        "id", F.sha2(F.col("id").cast("string"), 256).alias("payload")
    )

    small = tmp_path / "small_target"
    info = write_compacted_parquet(df, str(small), target_file_bytes=64 << 10)
    files = sorted(small.glob("*.parquet"))
    assert info["n_shards"] > 1
    assert len(files) == info["n_shards"]
    # every file within ~2x of target (parquet metadata overhead aside)
    sizes = [f.stat().st_size for f in files]
    assert max(sizes) < 2 * (64 << 10)

    big = tmp_path / "big_target"
    info_big = write_compacted_parquet(df, str(big), target_file_bytes=1 << 30)
    assert info_big["n_shards"] == 1
    assert len(list(big.glob("*.parquet"))) == 1

    # row-group geometry: multiple groups per file (never one blob)
    f0 = str(files[0])
    assert pq.ParquetFile(f0).num_row_groups >= 2

    back = spark.read.parquet(str(small))
    assert back.count() == 20_000
    assert back.selectExpr("sum(id)").first()[0] == sum(range(20_000))


def test_compacted_parquet_explicit_estimate_and_empty(spark, tmp_path):
    from wx20222_bigdata_spark.sources import write_compacted_parquet

    df = spark.range(1000)
    out = tmp_path / "explicit"
    # 100 bytes/row, 10 KiB target -> ceil(1000*100/10240) = 10 shards,
    # no sample write needed (the non-local-filesystem path)
    info = write_compacted_parquet(
        df, str(out), target_file_bytes=10 << 10, est_row_bytes=100.0
    )
    assert info["n_shards"] == 10
    assert spark.read.parquet(str(out)).count() == 1000

    empty = tmp_path / "empty"
    info0 = write_compacted_parquet(
        df.filter("id < 0"), str(empty), target_file_bytes=1 << 20
    )
    assert info0 == {"rows": 0, "est_row_bytes": 0.0, "n_shards": 0}
    assert spark.read.parquet(str(empty)).count() == 0


def test_compacted_parquet_zero_estimate_falls_back(spark, tmp_path):
    """est_row_bytes=0 (sampled bytes invisible to the driver on a
    non-local cluster, or passed explicitly) must not divide by zero —
    plain write fallback, n_shards=0 signals 'unsized' in the manifest."""
    from wx20222_bigdata_spark.sources import write_compacted_parquet

    df = spark.range(100)
    out = tmp_path / "zeroest"
    info = write_compacted_parquet(
        df, str(out), target_file_bytes=1 << 20, est_row_bytes=0.0
    )
    assert info == {"rows": 100, "est_row_bytes": 0.0, "n_shards": 0}
    assert spark.read.parquet(str(out)).count() == 100


def test_load_table_schema_memo_rechecks_rewritten_file(spark, tmp_path):
    """load_table keeps the validated schema per file version: an
    overwrite with the same schema returns the new rows, and an overwrite
    with a drifted schema is caught by the drift check again — also when
    it keeps the file's size and mtime."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    import pytest

    from wx20222_bigdata_spark import catalog

    path = tmp_path / "documents.parquet"

    def write(ids, id_type=pa.int64(), source_name="source"):
        pq.write_table(
            pa.table({
                "doc_id": pa.array(ids, id_type),
                "text": [f"text {i}" for i in ids],
                "lang": ["en"] * len(ids),
                source_name: ["web"] * len(ids),
                "n_chars": pa.array([6] * len(ids), pa.int64()),
            }),
            path,
        )

    def ids():
        df = catalog.load_table(spark, str(tmp_path), "documents")
        return sorted(r.doc_id for r in df.select("doc_id").collect())

    write([1, 2, 3])
    assert ids() == [1, 2, 3]
    version = catalog._file_version(str(path))
    assert catalog._SCHEMA_MEMO[str(path)][0] == version
    assert ids() == [1, 2, 3]  # memo hit: declared-schema read, same rows

    write([4, 5, 6, 7])  # same schema, different rows
    assert ids() == [4, 5, 6, 7]
    assert catalog._SCHEMA_MEMO[str(path)][0] == catalog._file_version(str(path))

    # same-size rewrite with the mtime put back (cp -p / rsync -t): a
    # renamed column of the same length keeps (mtime_ns, size), so only
    # ctime/inode in the version can send the file back to the drift check
    write([4, 5, 6, 7])
    assert ids() == [4, 5, 6, 7]
    before = os.stat(path)
    write([4, 5, 6, 7], source_name="sourcf")
    os.utime(path, ns=(before.st_atime_ns, before.st_mtime_ns))
    after = os.stat(path)
    assert (after.st_mtime_ns, after.st_size) == (before.st_mtime_ns, before.st_size)
    with pytest.raises(ValueError, match="schema drift"):
        catalog.load_table(spark, str(tmp_path), "documents")

    write([8, 9], id_type=pa.int32())  # drifted doc_id type
    with pytest.raises(ValueError, match="schema drift"):
        catalog.load_table(spark, str(tmp_path), "documents")
