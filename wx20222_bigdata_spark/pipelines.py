"""End-to-end pipeline compositions — the reference's three entry points
(SURVEY.md §3) rebuilt from the engine's operators. A user of the
reference runs these shapes, not individual operators:

- §3.4 ``evaluate_submission``: prediction/truth CSVs → integrity-checked
  join → two-level metric row (``evaluate.py:5-24`` + ``util.py:136-156``).
- §3.1 ``finetune_data_pipeline``: annotation JSON + per-key feature files
  → text features + joined visual features → stratified train/holdout
  (``data_helper.py:88-132``).
- §3.2 ``ensemble_inference_pipeline``: same ETL → K-model scoring →
  logit sum → argmax → category decode → ordered CSV
  (``inference_kfold.py:13-98``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from wx20222_bigdata_spark.operators.etl import prepare_text_features
from wx20222_bigdata_spark.operators.metrics import macro_f1
from wx20222_bigdata_spark.operators.sampling import stratified_split
from wx20222_bigdata_spark.sources import (
    read_annotations_json,
    read_keyed_binary_dir,
    read_predictions_csv,
    write_predictions_csv,
)


class SubmissionIntegrityError(ValueError):
    """Raised for dangling or duplicated vids — the reference hard-fails on
    both (``evaluate.py:16-17,21-22``) — and for blank category ids, which
    ``macro_f1`` would not score."""


def evaluate_submission(
    spark: SparkSession, result_csv: str, truth_csv: str
) -> DataFrame:
    """§3.4 offline scorer: csv_scan ×2 → integrity join → metrics.

    Returns one row: lv1_acc, lv2_acc, lv1_f1_macro, lv2_f1_macro,
    mean_f1 (micro-F1 == accuracy for single-label multiclass, so the
    mean-of-four uses the accuracies as micro terms — ``util.py:148-154``).
    lv1 is the 2-char prefix of the 4-char category id
    (``category_id_map.py:34-36``)."""
    preds = read_predictions_csv(spark, result_csv)
    truth = read_predictions_csv(spark, truth_csv).withColumnRenamed(
        "category_id", "true_category_id"
    )
    # integrity (one pass, one action): per-vid counts full-outer joined,
    # reduced to dangling/total/duplicate/blank stats in a single
    # aggregation — the naive form re-scans the CSVs once per check.
    # F.count(col) skips NULLs, so n - count(category_id) is the number of
    # blank ids; macro_f1 drops such rows, so they must fail here or a
    # blank prediction would cost accuracy but not macro F1.
    pc = preds.groupBy("vid").agg(
        F.count("*").alias("n_p"),
        (F.count("*") - F.count("category_id")).alias("blank_p"),
    )
    tc = truth.groupBy("vid").agg(
        F.count("*").alias("n_t"),
        (F.count("*") - F.count("true_category_id")).alias("blank_t"),
    )
    stats = (
        pc.join(tc, "vid", "full_outer")
        .agg(
            F.sum(F.when(F.col("n_t").isNull(), F.col("n_p")).otherwise(0)).alias(
                "dangling"
            ),
            F.sum(F.coalesce("n_p", F.lit(0))).alias("n_pred"),
            F.sum(F.coalesce("n_t", F.lit(0))).alias("n_truth"),
            F.sum(F.when(F.col("n_p") > 1, 1).otherwise(0)).alias("dup_vids"),
            F.sum(F.coalesce("blank_p", F.lit(0))).alias("blank_pred"),
            F.sum(F.coalesce("blank_t", F.lit(0))).alias("blank_truth"),
        )
        .collect()[0]
    )
    if stats.dangling:
        raise SubmissionIntegrityError(
            f"{stats.dangling} predicted vids not in ground truth"
        )
    if stats.n_pred != stats.n_truth:
        raise SubmissionIntegrityError(
            f"row count mismatch: {stats.n_pred} != {stats.n_truth}"
        )
    if stats.dup_vids:
        raise SubmissionIntegrityError("duplicate vids in submission")
    if stats.blank_pred or stats.blank_truth:
        raise SubmissionIntegrityError(
            f"blank category_id: {stats.blank_pred} in submission, "
            f"{stats.blank_truth} in ground truth"
        )

    joined = preds.join(truth, "vid").select(
        F.col("true_category_id").alias("lv2"),
        F.col("category_id").alias("pred_lv2"),
        F.substring("true_category_id", 1, 2).alias("lv1"),
        F.substring("category_id", 1, 2).alias("pred_lv1"),
    )
    acc = joined.agg(
        F.avg(F.when(F.col("lv1") == F.col("pred_lv1"), 1.0).otherwise(0.0)).alias(
            "lv1_acc"
        ),
        F.avg(F.when(F.col("lv2") == F.col("pred_lv2"), 1.0).otherwise(0.0)).alias(
            "lv2_acc"
        ),
    )
    l1 = macro_f1(joined, "lv1", "pred_lv1").withColumnRenamed("f1", "lv1_f1")
    l2 = macro_f1(joined, "lv2", "pred_lv2").withColumnRenamed("f1", "lv2_f1")
    # one-row aggregates: explicit broadcast hint (the repo-wide benign
    # crossJoin pattern — AQE would pick it anyway, but the hint keeps
    # the plan independent of AQE settings)
    return (
        acc.crossJoin(F.broadcast(l1))
        .crossJoin(F.broadcast(l2))
        .select(
            F.round("lv1_acc", 6).alias("lv1_acc"),
            F.round("lv2_acc", 6).alias("lv2_acc"),
            F.round("lv1_f1", 6).alias("lv1_f1_macro"),
            F.round("lv2_f1", 6).alias("lv2_f1_macro"),
            F.round(
                (F.col("lv1_acc") + F.col("lv2_acc") + F.col("lv1_f1") + F.col("lv2_f1"))
                / 4,
                6,
            ).alias("mean_f1"),
        )
    )


def finetune_data_pipeline(
    spark: SparkSession,
    annotations_json: str,
    features_dir: str,
    budget: int = 256,
    max_frames: int = 32,
    train_fraction: float = 0.9,
    seed: int = 42,
) -> tuple[DataFrame, DataFrame]:
    """§3.1 ingest/ETL: the ``create_dataloaders`` stage as one lazy DAG.

    JSON scan (S1) → text features (P1+F8+F7+F9) → per-key npy frame
    features decoded + stride/pad/masked (S2/S3/O1/O3, operators/frames)
    → label attach (P2) → stratified split (O5). Returns (train, holdout);
    rows carry (id, input_ids, attention_mask, n_tokens, frames,
    frame_mask, n_frames, label) — the full training-example schema of
    ``data_helper.py:212-222``. Videos without a feature file keep NULL
    frames (left join), matching the reference's hard requirement only at
    training time."""
    from pyspark.sql.window import Window

    from wx20222_bigdata_spark.operators.frames import load_frame_features

    anns = read_annotations_json(spark, annotations_json)
    text_feats = prepare_text_features(anns, budget=budget)
    # dense label = enumeration of the FULL category id (the reference's
    # CATEGORY_ID_TO_LV2ID, category_id_map.py:29): a prefix/suffix slice
    # would collide distinct categories (e.g. '0101' vs '0201') into one
    # label. The dictionary is tiny (|categories|) -> global window is fine.
    cat_dim = (
        anns.select("category_id")
        .distinct()
        .withColumn(
            "label",
            (F.row_number().over(Window.orderBy("category_id")) - 1).cast("int"),
        )
    )
    labels = anns.join(F.broadcast(cat_dim), "category_id").select("id", "label")
    frames = load_frame_features(spark, features_dir, max_frames=max_frames).select(
        F.col("key").alias("id"), "frames", "frame_mask", "n_frames"
    )
    full = text_feats.join(labels, "id").join(frames, "id", "left")
    return stratified_split(full, "label", train_fraction, seed, key_col="id")


def ensemble_inference_pipeline(
    spark: SparkSession,
    annotations_json: str,
    out_csv: str,
    n_models: int = 3,
    n_classes: int = 4,
    budget: int = 64,
) -> DataFrame:
    """§3.2 ensemble inference: ETL → K deterministic linear 'checkpoints'
    over the token-id features → logit sum (A7) → argmax (A8) → category
    decode (P4) → ordered CSV (S5/O8).

    The scorer is a self-contained mapInPandas closure (weights derived
    from (model, class, position) — the stand-in for broadcast torch
    weights, ``inference_kfold.py:66-90``)."""
    anns = read_annotations_json(spark, annotations_json)
    feats = prepare_text_features(anns, budget=budget)

    def score_batches(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            ids = np.stack(pdf["input_ids"].to_numpy()).astype("float64")
            total = np.zeros((len(pdf), n_classes))
            for m in range(n_models):
                for c in range(n_classes):
                    w = np.array(
                        [((m * 131 + c * 17 + i) % 11) - 5 for i in range(ids.shape[1])],
                        dtype="float64",
                    )
                    total[:, c] += ids @ w
            pred = total.argmax(axis=1)
            yield pd.DataFrame({"vid": pdf["id"], "pred": pred.astype("int32")})

    preds = feats.mapInPandas(score_batches, "vid string, pred int")
    # decode dense class -> category id string (P4 broadcast dim join)
    dim = spark.createDataFrame(
        [(c, f"{c // 2 + 1:02d}{c % 2 + 1:02d}") for c in range(n_classes)],
        "pred int, category_id string",
    )
    out = preds.join(F.broadcast(dim), "pred").select("vid", "category_id")
    write_predictions_csv(out, out_csv, single_file=True)
    return out


def pretrain_shard_pipeline(
    spark: SparkSession,
    annotations_json: str,
    work_dir: str,
    n_shards: int = 22,
    rows_per_shard: int | None = None,
    budget: int = 64,
    seed: int = 42,
):
    """§3.3 pretrain path (``split_pretrain_data.py`` + the shard loop of
    ``pretrained_model.py:352-368``):

    1. compact the corpus into ``n_shards`` parquet shards (S6 — the
       1.125M-rows → 22 packed files move);
    2. iterate shard PAIRS (i, i + n/2) like the reference's two-shards-
       in-RAM loop — on Spark each pair is just a partition-pruned read,
       no manual eviction (the executor spills, SURVEY §4);
    3. per pair, derive text features and the seeded MLM corruption plan
       (F13) — the pretraining view of the batch.

    Returns (shard_dir, iterator of per-pair summary DataFrames). The
    loop shape is generator-lazy: nothing reads shard j until the
    training loop asks for it."""
    from wx20222_bigdata_spark.sources import write_sharded_parquet

    anns = read_annotations_json(spark, annotations_json)
    feats = prepare_text_features(anns, budget=budget)
    shard_dir = f"{work_dir}/pretrain_shards"
    sharded = feats.withColumn(
        "shard", F.abs(F.crc32(F.col("id").cast("binary"))) % n_shards
    )
    write_sharded_parquet(
        sharded,
        shard_dir,
        max_records_per_file=rows_per_shard,
        partition_by=["shard"],
    )

    def pair_batches():
        # ceil-half so an odd shard count still covers every shard: the
        # last "pair" is a singleton instead of silently dropping shard n-1.
        half = (n_shards + 1) // 2
        for i in range(half):
            pair = tuple(s for s in (i, i + half) if s < n_shards)
            batch = spark.read.parquet(shard_dir).filter(
                F.col("shard").isin(list(pair))
            )
            r = F.rand(seed + i)
            masked = batch.withColumn("r", r).select(
                "id",
                "shard",
                F.when(F.col("r") < 0.12, "mask")
                .when(F.col("r") < 0.135, "random")
                .when(F.col("r") < 0.15, "identity")
                .otherwise("keep")
                .alias("mlm_action"),
                F.size(F.filter("attention_mask", lambda x: x == 1)).alias("n_real"),
            )
            yield pair, masked

    return shard_dir, pair_batches()
