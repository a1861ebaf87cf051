"""End-to-end pipeline tests (SURVEY.md §3): golden-value offline scoring,
the finetune ETL DAG on A1 fixtures + feature files, and ensemble
inference down to the submission CSV."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from tests.test_sources import FIXTURE_ANNS


def _write_csv(path, rows):
    path.write_text("".join(f"{v},{c}\n" for v, c in rows))


def test_evaluate_submission_golden_values(spark, tmp_path):
    """Hand-computed golden metrics (SURVEY §5 practice 2: golden-file
    scoring). 6 vids, categories '0101','0102','0201':
    preds wrong on v3 (0102->0101, same lv1) and v6 (0201->0101, lv1 miss).

    lv2: acc = 4/6; per-class f1: 0101: tp=2,n_true=2,n_pred=4 -> 2/3;
    0102: tp=1,n_true=2,n_pred=1 -> 2/3; 0201: tp=1,n_true=2,n_pred=1 -> 2/3
    -> macro = 2/3. lv1: acc = 5/6; f1('01') = 10/11 (tp=5? no: n_true=4,
    n_pred=5, tp=4 -> 8/9); f1('02'): tp=1,n_true=2,n_pred=1 -> 2/3
    -> macro = (8/9 + 2/3)/2 = 7/9.
    """
    from wx20222_bigdata_spark.pipelines import evaluate_submission

    truth = [("v1", "0101"), ("v2", "0101"), ("v3", "0102"), ("v4", "0102"),
             ("v5", "0201"), ("v6", "0201")]
    preds = [("v1", "0101"), ("v2", "0101"), ("v3", "0101"), ("v4", "0102"),
             ("v5", "0201"), ("v6", "0101")]
    tp, pp = tmp_path / "truth.csv", tmp_path / "preds.csv"
    _write_csv(tp, truth)
    _write_csv(pp, preds)
    row = evaluate_submission(spark, str(pp), str(tp)).collect()[0]
    assert row.lv2_acc == round(4 / 6, 6)
    assert row.lv1_acc == round(5 / 6, 6)
    assert row.lv2_f1_macro == round(2 / 3, 6)
    assert row.lv1_f1_macro == round((8 / 9 + 2 / 3) / 2, 6)
    assert row.mean_f1 == round((4 / 6 + 5 / 6 + 2 / 3 + (8 / 9 + 2 / 3) / 2) / 4, 6)


def test_macro_f1_drops_null_class_ids(spark):
    """macro_f1's precondition is enforced: rows with a NULL truth or pred
    id are not scored, and the result equals the DuckDB full-outer-join
    form over the non-NULL rows only."""
    import duckdb

    from wx20222_bigdata_spark.operators.metrics import macro_f1

    rows = [(0, 0), (0, 1), (1, 1), (1, 1), (2, 2), (3, 2),
            (2, None), (None, 2), (None, None), (None, 3)]
    df = spark.createDataFrame(rows, "truth INT, pred INT")
    got = macro_f1(df, "truth", "pred").collect()[0].f1
    values = ", ".join(
        f"({'NULL' if t is None else t}, {'NULL' if p is None else p})"
        for t, p in rows
    )
    want = duckdb.sql(f"""
        WITH p AS (
          SELECT * FROM (VALUES {values}) v(truth, pred)
          WHERE truth IS NOT NULL AND pred IS NOT NULL
        ),
        t AS (SELECT truth AS c, COUNT(*) AS n_true FROM p GROUP BY 1),
        q AS (SELECT pred AS c, COUNT(*) AS n_pred FROM p GROUP BY 1),
        k AS (SELECT truth AS c, COUNT(*) AS tp FROM p WHERE truth = pred GROUP BY 1)
        SELECT AVG(2.0 * COALESCE(tp, 0)
                   / (COALESCE(n_true, 0) + COALESCE(n_pred, 0))) AS f1
        FROM t FULL JOIN q USING (c) FULL JOIN k USING (c)
    """).fetchone()[0]
    assert got == pytest.approx(float(want), abs=1e-12)
    # classes 0..3 over the 6 non-NULL rows: 2/3, 4/5, 2/3, 0
    assert got == pytest.approx((2 / 3 + 4 / 5 + 2 / 3 + 0) / 4, abs=1e-12)


def test_evaluate_submission_integrity_failures(spark, tmp_path):
    from wx20222_bigdata_spark.pipelines import (
        SubmissionIntegrityError,
        evaluate_submission,
    )

    truth = [("v1", "0101"), ("v2", "0102")]
    _write_csv(tmp_path / "t.csv", truth)
    # dangling vid
    _write_csv(tmp_path / "p1.csv", [("v1", "0101"), ("vX", "0101")])
    with pytest.raises(SubmissionIntegrityError, match="not in ground truth"):
        evaluate_submission(spark, str(tmp_path / "p1.csv"), str(tmp_path / "t.csv"))
    # count mismatch
    _write_csv(tmp_path / "p2.csv", [("v1", "0101")])
    with pytest.raises(SubmissionIntegrityError, match="count mismatch"):
        evaluate_submission(spark, str(tmp_path / "p2.csv"), str(tmp_path / "t.csv"))
    # blank category_id: macro_f1 would skip the row, so it must fail here
    _write_csv(tmp_path / "p3.csv", [("v1", "0101"), ("v2", "")])
    with pytest.raises(SubmissionIntegrityError, match="blank category_id: 1 in"):
        evaluate_submission(spark, str(tmp_path / "p3.csv"), str(tmp_path / "t.csv"))
    _write_csv(tmp_path / "t4.csv", [("v1", ""), ("v2", "0102")])
    with pytest.raises(SubmissionIntegrityError, match="1 in ground truth"):
        evaluate_submission(spark, str(tmp_path / "t.csv"), str(tmp_path / "t4.csv"))


MAX_FRAMES = 4


@pytest.fixture()
def ann_fixture_dir(tmp_path):
    import numpy as np

    p = tmp_path / "anns.json"
    p.write_text(json.dumps(FIXTURE_ANNS, ensure_ascii=False))
    feats = tmp_path / "feats"
    feats.mkdir()
    rng = np.random.default_rng(5)
    for i in range(0, 20, 2):  # real npy frame features for half the ids
        n_frames = 1 + i % 7
        np.save(
            feats / f"v{i:04d}.npy",
            rng.standard_normal((n_frames, 3)).astype("float16"),
        )
    return str(p), str(feats)


def test_finetune_data_pipeline(spark, ann_fixture_dir):
    from wx20222_bigdata_spark.pipelines import finetune_data_pipeline

    anns_path, feats_dir = ann_fixture_dir
    train, holdout = finetune_data_pipeline(
        spark, anns_path, feats_dir, budget=16, max_frames=MAX_FRAMES,
        train_fraction=0.7, seed=11,
    )
    t, h = train.toPandas(), holdout.toPandas()
    assert len(t) + len(h) == len(FIXTURE_ANNS)
    assert set(t.columns) == {
        "id", "input_ids", "attention_mask", "n_tokens",
        "frames", "frame_mask", "n_frames", "label",
    }
    # disjoint split
    assert not (set(t.id) & set(h.id))
    # frame join: even ids carry decoded/padded frames, odd ids NULL
    both = list(t.itertuples()) + list(h.itertuples())
    for r in both:
        i = int(r.id[1:])
        if i % 2 == 0:
            assert len(r.frames) == MAX_FRAMES
            assert sum(r.frame_mask) == min(1 + i % 7, MAX_FRAMES)
            assert r.n_frames == 1 + i % 7
        else:
            assert r.frames is None
        assert len(r.input_ids) == 16 and len(r.attention_mask) == 16


def test_ensemble_inference_to_csv(spark, ann_fixture_dir, tmp_path):
    from wx20222_bigdata_spark.pipelines import ensemble_inference_pipeline
    from wx20222_bigdata_spark.sources import read_predictions_csv

    anns_path, _ = ann_fixture_dir
    out_dir = tmp_path / "submission"
    out = ensemble_inference_pipeline(spark, anns_path, str(out_dir))
    back = read_predictions_csv(spark, str(out_dir)).toPandas()
    assert len(back) == len(FIXTURE_ANNS)
    assert set(back.vid) == {r["id"] for r in FIXTURE_ANNS}
    assert set(back.category_id) <= {"0101", "0102", "0201", "0202"}
    # deterministic: re-running produces identical predictions
    out2 = ensemble_inference_pipeline(spark, anns_path, str(tmp_path / "s2"))
    assert out.orderBy("vid").collect() == out2.orderBy("vid").collect()


def test_pretrain_shard_pipeline(spark, ann_fixture_dir, tmp_path):
    from wx20222_bigdata_spark.pipelines import pretrain_shard_pipeline

    anns_path, _ = ann_fixture_dir
    shard_dir, batches = pretrain_shard_pipeline(
        spark, anns_path, str(tmp_path), n_shards=4, budget=8, seed=7
    )
    seen_pairs, seen_ids = [], set()
    for pair, batch in batches:
        pdf = batch.toPandas()
        seen_pairs.append(pair)
        seen_ids |= set(pdf.id)
        assert set(pdf.shard.unique()) <= set(pair)
        assert set(pdf.mlm_action.unique()) <= {"keep", "mask", "random", "identity"}
        assert (pdf.n_real <= 8).all()
    # 4 shards -> 2 pairs covering all shards, every record seen exactly once
    assert seen_pairs == [(0, 2), (1, 3)]
    assert len(seen_ids) == len(FIXTURE_ANNS)


def test_pretrain_odd_shard_count_covers_all(spark, ann_fixture_dir, tmp_path):
    """Odd n_shards: the final singleton batch must still be yielded —
    no shard silently dropped from the epoch."""
    from wx20222_bigdata_spark.pipelines import pretrain_shard_pipeline

    anns_path, _ = ann_fixture_dir
    _, batches = pretrain_shard_pipeline(
        spark, anns_path, str(tmp_path), n_shards=5, budget=8, seed=7
    )
    pairs, seen_ids, seen_shards = [], set(), set()
    for pair, batch in batches:
        pairs.append(pair)
        pdf = batch.toPandas()
        seen_ids |= set(pdf.id)
        seen_shards |= set(int(s) for s in pdf.shard.unique())
    assert pairs == [(0, 3), (1, 4), (2,)]
    assert len(seen_ids) == len(FIXTURE_ANNS)
    assert seen_shards <= set(range(5))
