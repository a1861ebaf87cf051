"""End-to-end corpus curation pipeline (LLM-pipeline north star).

The reference's data prep runs as a sequence of standalone steps (text
assembly + budgeting ``data_helper.py:41-70``, tokenize/pad ``:55-57,94``
before training); the
large-scale equivalent is ONE declarative funnel the optimizer can see
whole: quality gate → exact dedup (deterministic keep policy) → shard-local
sequence packing → per-source retention accounting. Composing the stages in
a single plan matters at 100 TB: Catalyst pushes the quality predicates
into the parquet scan (docs failing the gate are never hashed, deduped, or
packed), the dedup window and the packing window reuse the same
quality-filtered intermediate, and nothing materializes between stages.

Stage physics (each documented at its home operator):
- quality gate (textstats.e4d): narrow, no shuffle, scan-pushed;
- exact dedup (dedup.e1b): one shuffle on the md5 content key,
  keep-min-doc_id via a partitioned window (bounded partitions — a
  content key's group is the duplicate count, never the corpus);
- packing (packing.e6): one partitioned window per source shard;
- accounting: partial-aggregated groupBy on source.

All-integer outputs → bit-exact cross-engine.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from wx20222_bigdata_spark.catalog import load_table
from wx20222_bigdata_spark.operators.packing import PACK_BUDGET
from wx20222_bigdata_spark.registry import query


def quality_features(docs: DataFrame) -> DataFrame:
    """The funnel's stage-1 features over (doc_id, source, text) rows:
    md5 content key + the quality-gate signals (token/char/punct counts).
    Narrow, no shuffle — shared by the batch funnel (e7), its
    accounting-only twin (e7c), and the streaming funnel
    (streaming/jobs.make_curation_funnel_batch), so all three gates are
    the same expressions by construction. One ``selectExpr``: the
    streaming funnel builds this per micro-batch, and Column functions
    cost a py4j round trip each."""
    return docs.selectExpr(
        "doc_id",
        "source",
        "md5(text) AS content_key",
        "CAST(size(filter(split(text, ' '), x -> length(x) > 0)) AS BIGINT) AS n_tok",
        "length(text) AS n_char",
        r"length(text) - length(regexp_replace(regexp_replace(regexp_replace("
        r"text, '\\.', ''), ',', ''), '!', '')) AS n_punct",
    )


#: Stage-2 quality predicate over :func:`quality_features` columns
#: (Gopher/C4-style length + punct-ratio heuristics, same gate as e4d).
#: ``try_divide`` turns an empty text's 0/0 punct ratio into NULL rather
#: than an ANSI DIVIDE_BY_ZERO, so the streaming funnel's projected flag
#: does not rely on AND short-circuiting past it (an empty text has
#: n_tok = 0 and fails the first conjunct anyway).
QUALITY_PASS_SQL = (
    "n_tok >= 20 AND n_tok <= 1000"
    " AND try_divide(CAST(n_punct AS DOUBLE), n_char) < 0.1"
)


def quality_gate(feats: DataFrame) -> DataFrame:
    """Rows of ``feats`` that pass :data:`QUALITY_PASS_SQL`."""
    return feats.filter(QUALITY_PASS_SQL)


@query(
    "e7_curation_pipeline",
    oracle=f"""
WITH feats AS (
  SELECT doc_id, source, md5(text) AS content_key,
         len(list_filter(string_split(text, ' '), x -> length(x) > 0)) AS n_tok,
         length(text) AS n_char,
         length(text) - length(replace(replace(replace(text, '.', ''), ',', ''), '!', '')) AS n_punct
  FROM documents
),
quality AS (
  SELECT * FROM feats
  WHERE n_tok >= 20 AND n_tok <= 1000
    AND CAST(n_punct AS DOUBLE) / n_char < 0.1
),
survivors AS (
  SELECT doc_id, source, n_tok
  FROM (
    SELECT doc_id, source, n_tok,
           ROW_NUMBER() OVER (PARTITION BY content_key ORDER BY doc_id) AS rn
    FROM quality
  )
  WHERE rn = 1
),
packed AS (
  SELECT source, n_tok,
         COALESCE(SUM(n_tok) OVER (
           PARTITION BY source ORDER BY doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           // {PACK_BUDGET} AS bin_id
  FROM survivors
),
raw AS (
  SELECT source, COUNT(*) AS n_raw FROM feats GROUP BY source
),
kept AS (
  SELECT source,
         COUNT(*) AS n_kept,
         CAST(SUM(n_tok) AS BIGINT) AS kept_tokens,
         COUNT(DISTINCT bin_id) AS n_bins
  FROM packed GROUP BY source
),
qcount AS (
  SELECT source, COUNT(*) AS n_quality FROM quality GROUP BY source
)
SELECT raw.source, n_raw,
       COALESCE(n_quality, 0) AS n_quality,
       COALESCE(n_kept, 0) AS n_kept,
       COALESCE(kept_tokens, 0) AS kept_tokens,
       COALESCE(n_bins, 0) AS n_bins
FROM raw LEFT JOIN qcount ON raw.source = qcount.source
         LEFT JOIN kept ON raw.source = kept.source
""",
)
def e7_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E7 curation funnel per source: raw docs → quality-gated (Gopher/C4
    heuristics, same gate as e4d) → exact-deduped (md5 content key,
    min-doc_id keep policy, same as e1b) → packed into PACK_BUDGET-token
    bins (same contiguous shard-local packing as e6). Output is the
    retention accounting every curation run reports: n_raw -> n_quality ->
    n_kept, plus kept token mass and bin count."""
    docs = load_table(spark, sf_dir, "documents")
    feats = quality_features(docs)
    quality = quality_gate(feats)
    dedup_w = Window.partitionBy("content_key").orderBy("doc_id")
    survivors = (
        quality.withColumn("rn", F.row_number().over(dedup_w))
        .filter(F.col("rn") == 1)
        .select("doc_id", "source", "n_tok")
    )
    pack_w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    packed = survivors.withColumn(
        "_prev_cum", F.coalesce(F.sum("n_tok").over(pack_w), F.lit(0))
    ).select(
        "source",
        "n_tok",
        F.expr(f"_prev_cum div {PACK_BUDGET}").cast("bigint").alias("bin_id"),
    )
    raw = feats.groupBy("source").agg(F.count("*").alias("n_raw"))
    qcount = quality.groupBy("source").agg(F.count("*").alias("n_quality"))
    kept = packed.groupBy("source").agg(
        F.count("*").alias("n_kept"),
        F.sum("n_tok").cast("bigint").alias("kept_tokens"),
        F.countDistinct("bin_id").alias("n_bins"),
    )
    # LEFT joins: a source whose docs are all gated out still reports its
    # funnel row (n_quality = n_kept = 0) — retention reports must show
    # what vanished, not drop the row.
    return (
        raw.join(qcount, "source", "left")
        .join(kept, "source", "left")
        .select(
            "source",
            "n_raw",
            F.coalesce("n_quality", F.lit(0)).alias("n_quality"),
            F.coalesce("n_kept", F.lit(0)).alias("n_kept"),
            F.coalesce("kept_tokens", F.lit(0)).alias("kept_tokens"),
            F.coalesce("n_bins", F.lit(0)).alias("n_bins"),
        )
    )


@query(
    "e7c_funnel_accounting",
    oracle="""
WITH feats AS (
  SELECT doc_id, source, md5(text) AS content_key,
         len(list_filter(string_split(text, ' '), x -> length(x) > 0)) AS n_tok,
         length(text) AS n_char,
         length(text) - length(replace(replace(replace(text, '.', ''), ',', ''), '!', '')) AS n_punct
  FROM documents
),
quality AS (
  SELECT * FROM feats
  WHERE n_tok >= 20 AND n_tok <= 1000
    AND CAST(n_punct AS DOUBLE) / n_char < 0.1
),
admitted AS (
  SELECT source, n_tok
  FROM (
    SELECT source, n_tok,
           ROW_NUMBER() OVER (PARTITION BY content_key ORDER BY doc_id) AS rn
    FROM quality
  )
  WHERE rn = 1
),
raw AS (SELECT source, COUNT(*) AS n_raw FROM feats GROUP BY source),
qc AS (SELECT source, COUNT(*) AS n_quality FROM quality GROUP BY source),
adm AS (
  SELECT source, COUNT(*) AS n_admitted,
         CAST(SUM(n_tok) AS BIGINT) AS admitted_tokens
  FROM admitted GROUP BY source
)
SELECT raw.source, n_raw,
       COALESCE(n_quality, 0) AS n_quality,
       COALESCE(n_admitted, 0) AS n_admitted,
       COALESCE(admitted_tokens, 0) AS admitted_tokens
FROM raw LEFT JOIN qc ON raw.source = qc.source
         LEFT JOIN adm ON raw.source = adm.source
""",
)
def e7c_funnel_accounting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E7c — the BATCH TWIN of the streaming curation funnel
    (streaming/jobs.make_curation_funnel_batch): per-source retention
    accounting of quality gate → first-occurrence admission, computed
    declaratively over the whole corpus. The streaming funnel's
    persistent accounting state after an ordered availableNow pass must
    equal this exactly (law: tests/test_streaming.py — admission by
    first ARRIVAL equals admission by min doc_id when batches arrive in
    doc_id order). Same stage helpers (quality_features/quality_gate)
    feed both paths, so the gates cannot drift apart."""
    from pyspark.sql.window import Window as W

    docs = load_table(spark, sf_dir, "documents")
    feats = quality_features(docs)
    quality = quality_gate(feats)
    w = W.partitionBy("content_key").orderBy("doc_id")
    admitted = (
        quality.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("source", "n_tok")
    )
    raw = feats.groupBy("source").agg(F.count("*").alias("n_raw"))
    qc = quality.groupBy("source").agg(F.count("*").alias("n_quality"))
    adm = admitted.groupBy("source").agg(
        F.count("*").alias("n_admitted"),
        F.sum("n_tok").cast("bigint").alias("admitted_tokens"),
    )
    return (
        raw.join(qc, "source", "left")
        .join(adm, "source", "left")
        .select(
            "source",
            "n_raw",
            F.coalesce("n_quality", F.lit(0)).alias("n_quality"),
            F.coalesce("n_admitted", F.lit(0)).alias("n_admitted"),
            F.coalesce("admitted_tokens", F.lit(0)).alias("admitted_tokens"),
        )
    )


@query(
    "e30_dataset_card",
    oracle="""
WITH feats AS (
  SELECT doc_id, source, lang, md5(text) AS content_key,
         len(list_filter(string_split(text, ' '), x -> length(x) > 0)) AS n_tok
  FROM documents
),
card AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources,
         CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
         CAST(SUM(n_tok) AS BIGINT) AS total_tokens,
         CAST(COUNT(DISTINCT content_key) AS BIGINT) AS n_unique_docs,
         (list_sort(list(n_tok)))[CAST(ceil(0.5 * COUNT(*)) AS BIGINT)] AS p50_tokens,
         CAST(SUM(CASE WHEN n_tok BETWEEN 20 AND 1000 THEN 1 ELSE 0 END) AS BIGINT) AS n_in_length_band
  FROM feats
)
SELECT n_docs, n_sources, n_langs, total_tokens, n_unique_docs,
       CAST(floor((n_docs - n_unique_docs) * 10000.0 / n_docs) AS BIGINT) AS dup_rate_bp,
       p50_tokens, n_in_length_band
FROM card
""",
)
def e30_dataset_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E30 dataset card — the one-row corpus summary a curation run
    publishes with its output (HuggingFace dataset-card / Datasheets
    shape): volume, source/language diversity, token mass, exact-dup
    rate, median document length, and the length-band population the
    quality gate (e7) will keep. ONE scan computes every number — each
    statistic is a column of the same wide aggregate, so adding a card
    field costs a projection, not a pass (dq1's rule-fusion discipline
    applied to reporting). Dup rate is emitted in floor()'d basis
    points (landmine 22) and the median is the discrete order statistic
    (landmine 19). The one-row output is the documented bounded
    SinglePartition shape; at 100 TB the sorted-list median swaps to
    approx_percentile exactly as a17 documents."""
    feats = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        "lang",
        F.md5("text").alias("content_key"),
        F.size(
            F.expr("filter(split(text, ' '), x -> length(x) > 0)")
        ).cast("bigint").alias("n_tok"),
    )
    card = feats.agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.countDistinct("source").cast("bigint").alias("n_sources"),
        F.countDistinct("lang").cast("bigint").alias("n_langs"),
        F.sum("n_tok").cast("bigint").alias("total_tokens"),
        F.countDistinct("content_key").cast("bigint").alias("n_unique_docs"),
        F.expr(
            "element_at(array_sort(collect_list(n_tok)), "
            "CAST(ceil(0.5 * count(*)) AS INT))"
        ).alias("p50_tokens"),
        F.sum(F.when(F.col("n_tok").between(20, 1000), 1).otherwise(0))
        .cast("bigint")
        .alias("n_in_length_band"),
    )
    return card.select(
        "n_docs",
        "n_sources",
        "n_langs",
        "total_tokens",
        "n_unique_docs",
        F.floor(
            (F.col("n_docs") - F.col("n_unique_docs"))
            * 10000.0
            / F.col("n_docs")
        )
        .cast("bigint")
        .alias("dup_rate_bp"),
        "p50_tokens",
        "n_in_length_band",
    )


# --- e7d: dedup-family funnel (continuation seats composed) ---------------
#: e7d staging: copies seed the exact stage, snippets seed the containment
#: stage (m6 / e37 idioms); thresholds chosen so every stage drops rows on
#: the fixture corpus.
E7D_COPY_MOD = 13
E7D_COPY_OFFSET = 1_000_000
E7D_SNIP_MOD = 40
E7D_SNIP_LEN = 20
E7D_SNIP_OFFSET = 200_000
E7D_MIN_TOKENS = 10
E7D_SPAN_MAX = 0.6   #: drop docs with >= this duplicated-span fraction
E7D_STUB_MOD = 35    #: 5-token stubs — dropped by the quality gate
E7D_STUB_LEN = 5
E7D_STUB_OFFSET = 300_000
E7D_REPEAT_MOD = 45  #: first-10-tokens ×3 self-repeats — dropped by the span gate
E7D_REPEAT_LEN = 10
E7D_REPEAT_OFFSET = 400_000


@query(
    "e7d_dedup_funnel",
    oracle=f"""
WITH raw AS (
  SELECT doc_id, source, text FROM documents
  UNION ALL
  SELECT doc_id + {E7D_COPY_OFFSET} AS doc_id, source, text
  FROM documents WHERE doc_id % {E7D_COPY_MOD} = 0
  UNION ALL
  SELECT doc_id + {E7D_SNIP_OFFSET} AS doc_id, source,
         array_to_string(
           list_filter(string_split(lower(text), ' '),
                       x -> length(x) > 0)[1:{E7D_SNIP_LEN}], ' ') AS text
  FROM documents WHERE doc_id % {E7D_SNIP_MOD} = 0
  UNION ALL
  SELECT doc_id + {E7D_STUB_OFFSET} AS doc_id, source,
         array_to_string(
           list_filter(string_split(lower(text), ' '),
                       x -> length(x) > 0)[1:{E7D_STUB_LEN}], ' ') AS text
  FROM documents WHERE doc_id % {E7D_STUB_MOD} = 0
  UNION ALL
  SELECT doc_id + {E7D_REPEAT_OFFSET} AS doc_id, source,
         array_to_string(
           list_concat(list_concat(
             list_filter(string_split(lower(text), ' '),
                         x -> length(x) > 0)[1:{E7D_REPEAT_LEN}],
             list_filter(string_split(lower(text), ' '),
                         x -> length(x) > 0)[1:{E7D_REPEAT_LEN}]),
             list_filter(string_split(lower(text), ' '),
                         x -> length(x) > 0)[1:{E7D_REPEAT_LEN}]), ' ') AS text
  FROM documents WHERE doc_id % {E7D_REPEAT_MOD} = 0
),
tok AS (
  SELECT doc_id, source, text,
         list_filter(string_split(lower(text), ' '), x -> length(x) > 0) AS ws
  FROM raw
),
q1 AS (SELECT * FROM tok WHERE len(ws) >= {E7D_MIN_TOKENS}),
e1s AS (
  SELECT * FROM q1
  QUALIFY ROW_NUMBER() OVER (PARTITION BY md5(text) ORDER BY doc_id) = 1
),
grams AS (
  SELECT DISTINCT doc_id, array_to_string(ws[j:j + 4], ' ') AS g
  FROM e1s, LATERAL (SELECT unnest(range(1, len(ws) - 3)) AS j)
  WHERE len(ws) >= 5
),
sizes AS (SELECT doc_id, COUNT(*) AS n_grams FROM grams GROUP BY doc_id),
rare AS (
  SELECT doc_id, g FROM (
    SELECT doc_id, g, COUNT(*) OVER (PARTITION BY g) AS df FROM grams
  ) WHERE df BETWEEN 2 AND 50
),
cpairs AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_shared
  FROM rare a JOIN rare b ON a.g = b.g AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
),
cq AS (
  SELECT id_a, id_b, sa.n_grams AS na, sb.n_grams AS nb
  FROM cpairs
  JOIN sizes sa ON sa.doc_id = id_a
  JOIN sizes sb ON sb.doc_id = id_b
  WHERE n_shared * 1.0 / LEAST(sa.n_grams, sb.n_grams) >= 0.8
),
drops AS (
  SELECT DISTINCT CASE WHEN na < nb THEN id_a
                       WHEN nb < na THEN id_b
                       ELSE GREATEST(id_a, id_b) END AS doc_id
  FROM cq
),
c1 AS (SELECT * FROM e1s WHERE doc_id NOT IN (SELECT doc_id FROM drops)),
occ2 AS (
  SELECT doc_id, j, array_to_string(ws[j:j + 4], ' ') AS g
  FROM c1, LATERAL (SELECT unnest(range(1, len(ws) - 3)) AS j)
  WHERE len(ws) >= 5
),
dup2 AS (
  SELECT doc_id, j FROM (
    SELECT doc_id, j, COUNT(*) OVER (PARTITION BY g) AS cnt FROM occ2
  ) WHERE cnt >= 2
),
cov2 AS (
  SELECT DISTINCT doc_id, j + d AS pos
  FROM dup2, LATERAL (SELECT unnest(range(0, 5)) AS d)
),
covagg AS (SELECT doc_id, COUNT(*) AS ndup FROM cov2 GROUP BY doc_id),
final AS (
  SELECT c1.doc_id, c1.source
  FROM c1 LEFT JOIN covagg USING (doc_id)
  WHERE ROUND(COALESCE(covagg.ndup, 0) * 1.0 / len(c1.ws), 6) < {E7D_SPAN_MAX}
),
tagged AS (
  SELECT source, 0 AS st FROM raw
  UNION ALL SELECT source, 1 FROM q1
  UNION ALL SELECT source, 2 FROM e1s
  UNION ALL SELECT source, 3 FROM c1
  UNION ALL SELECT source, 4 FROM final
)
SELECT source,
       CAST(COUNT(*) FILTER (st = 0) AS BIGINT) AS n_raw,
       CAST(COUNT(*) FILTER (st = 1) AS BIGINT) AS n_quality,
       CAST(COUNT(*) FILTER (st = 2) AS BIGINT) AS n_exact,
       CAST(COUNT(*) FILTER (st = 3) AS BIGINT) AS n_containment,
       CAST(COUNT(*) FILTER (st = 4) AS BIGINT) AS n_final
FROM tagged GROUP BY source
""",
)
def e7d_dedup_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E7d dedup-family funnel — the continuation seats composed into
    one declarative curation chain with per-source stage accounting
    (the e7c funnel-accounting idiom applied to the dedup family):

      raw (documents ∪ verbatim copies ∪ snippet excerpts ∪
          5-token stubs ∪ ×3 self-repeated prefixes)
        → quality gate (≥ {E7D_MIN_TOKENS} tokens)
        → exact dedup (e1b keep-min policy — drops the copies)
        → containment dedup (e37: drop the SMALLER side of any ≥0.8
          containment pair; tie drops the larger doc_id — catches the
          snippets AND the fixture's natural subsumption families)
        → span gate (e36: drop docs whose duplicated-span coverage is
          still ≥ {E7D_SPAN_MAX} after the doc-level stages — residual
          template/boilerplate text).

    Output: per source, the surviving count after every stage — the
    loss-accounting table a curation run reports. All-integer →
    bit-exact cross-engine.

    Plan (fused, r9): the corpus is tokenized ONCE and the survivor
    K-gram occurrences ``(doc_id, j, g)`` are materialized ONCE (eager
    localCheckpoint), then BOTH dedup gates derive from that single
    frame — the containment inverted index from its ``distinct`` by
    (doc_id, g) and the span coverage from its positional form. The r8
    shape called the stage helpers (``containment_on`` then
    ``span_trim``) back-to-back, so Catalyst tokenized and
    gram-exploded the survivor corpus twice — ~2× the dominant work at
    exactly the scale the funnel exists for (sf10: 165.6 s composed vs
    ~56 s for the two stages standalone — SCALING_CURVE r8). Stage
    accounting is likewise one pass: per-doc max-stage-reached (stages
    are nested subsets, so n_stageK = count(st >= K)) instead of a
    five-way tagged union that re-executed the quality/exact lineage
    up to 4× (r8 ADVICE). Three bounded materializations: the narrow
    per-doc stage frame + survivor token arrays, the gram-occurrence
    frame (the dominant one — K × survivor tokens), and the
    containment drop set (tiny, but its pair join is one of the two
    heaviest stages — never recompute it). localCheckpoint is
    executor-local; on a real cluster with executor churn the same
    plan runs with ``persist(MEMORY_AND_DISK)`` + a reliable
    checkpoint dir. Stage physics otherwise unchanged: e1b one keyed
    window; e37 df-capped inverted-index join; e36 one gram-key
    window. The staged corpus reuses m6's copy seeding and e37's
    snippet seeding, plus 5-token stubs (quality-gate signal) and ×3
    self-repeated prefixes (span-gate signal: within-doc repetition
    survives every DOC-level dedup stage — exactly what the positional
    span gate exists to catch), so every stage's drop is observable on
    the all-unique fixture.

    Driver-side plan build (r13, guide §5 — "the driver should do
    almost no data work" applied to plan CONSTRUCTION): each stage is
    ONE ``spark.sql`` block instead of a chain of DataFrame ops. Every
    PySpark DataFrame op eagerly re-analyzes its whole plan and pays
    py4j round trips per expression; with the five-branch HOF staged
    union in the tree that cost ~1.7 s/call build+analysis and ~3 s of
    py4j chatter (r12 cProfile: 1,983 round trips). The SQL blocks
    analyze each tree once: measured 4,202 → 130 py4j ``send_command``
    calls per call, interleaved A/B in one JVM 4.415 → 3.754 s median,
    SQL form won 7/7 pairs (tools/r13_e7d_sql_ab.py; results proven
    row-identical at sf0.001/0.01/0.1 before adoption). The exact-dedup
    window runs among quality survivors in the oracle; ordering quality
    rows first inside each text group makes ``rn = 1 AND pass_q`` pick
    exactly the min-doc_id quality row. Non-winner rows drop their
    token array (``ws`` nulled) so the checkpoint stores the survivor
    corpus once, narrow rows for everything else."""
    from wx20222_bigdata_spark.operators.substring import C_DF_CAP, C_THRESHOLD, K

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "text"
    )
    # {{view}} = spark.sql placeholder; {X} = Python constant rendered as a literal
    # Stage frame: staged corpus -> tokenize -> quality flag -> exact-dedup
    # window, one analysis pass.
    tok = spark.sql(
        f"""
        WITH raw AS (
          SELECT doc_id, source, text FROM {{docs}}
          UNION ALL
          SELECT doc_id + {E7D_COPY_OFFSET} AS doc_id, source, text
          FROM {{docs}} WHERE doc_id % {E7D_COPY_MOD} = 0
          UNION ALL
          SELECT doc_id + {E7D_SNIP_OFFSET} AS doc_id, source,
                 concat_ws(' ', slice(filter(split(lower(text), ' '),
                   x -> length(x) > 0), 1, {E7D_SNIP_LEN})) AS text
          FROM {{docs}} WHERE doc_id % {E7D_SNIP_MOD} = 0
          UNION ALL
          SELECT doc_id + {E7D_STUB_OFFSET} AS doc_id, source,
                 concat_ws(' ', slice(filter(split(lower(text), ' '),
                   x -> length(x) > 0), 1, {E7D_STUB_LEN})) AS text
          FROM {{docs}} WHERE doc_id % {E7D_STUB_MOD} = 0
          UNION ALL
          SELECT doc_id + {E7D_REPEAT_OFFSET} AS doc_id, source,
                 concat_ws(' ', flatten(array_repeat(
                   slice(filter(split(lower(text), ' '), x -> length(x) > 0),
                         1, {E7D_REPEAT_LEN}), 3))) AS text
          FROM {{docs}} WHERE doc_id % {E7D_REPEAT_MOD} = 0
        )
        SELECT doc_id, source, n_tokens, pass_q,
               (pass_q AND rn = 1) AS is_winner,
               CASE WHEN pass_q AND rn = 1 THEN ws END AS ws
        FROM (
          SELECT doc_id, source, text, ws, n_tokens, pass_q,
                 ROW_NUMBER() OVER (PARTITION BY md5(text)
                                    ORDER BY pass_q DESC, doc_id) AS rn
          FROM (
            SELECT doc_id, source, text, ws,
                   size(ws) AS n_tokens,
                   (size(ws) >= {E7D_MIN_TOKENS}) AS pass_q
            FROM (
              SELECT doc_id, source, text,
                     filter(split(lower(text), ' '), x -> length(x) > 0) AS ws
              FROM raw
            )
          )
        )
        """,
        docs=docs,
    ).localCheckpoint(eager=True)
    # The single positional gram frame — both dedup gates feed from it.
    occ = spark.sql(
        f"""
        SELECT doc_id, o.j AS j, o.g AS g
        FROM (SELECT doc_id, ws FROM {{tok}}
              WHERE is_winner AND n_tokens >= {K})
        LATERAL VIEW explode(transform(sequence(1, size(ws) - {K - 1}),
          j -> struct(j AS j, concat_ws(' ', slice(ws, j, {K})) AS g))) t AS o
        """,
        tok=tok,
    ).localCheckpoint(eager=True)
    # Containment gate (e37 core) from the distinct-gram view of occ.
    drops = spark.sql(
        f"""
        WITH grams AS (SELECT DISTINCT doc_id, g FROM {{occ}}),
        sizes AS (
          SELECT doc_id, COUNT(*) AS n_grams FROM grams GROUP BY doc_id
        ),
        rare AS (
          SELECT doc_id, g FROM (
            SELECT doc_id, g, COUNT(*) OVER (PARTITION BY g) AS df FROM grams
          ) WHERE df >= 2 AND df <= {C_DF_CAP}
        ),
        cpairs AS (
          SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_shared
          FROM rare a JOIN rare b ON a.g = b.g AND a.doc_id < b.doc_id
          GROUP BY a.doc_id, b.doc_id
        ),
        cq AS (
          SELECT id_a, id_b, sa.n_grams AS n_a, sb.n_grams AS n_b
          FROM cpairs
          JOIN sizes sa ON sa.doc_id = id_a
          JOIN sizes sb ON sb.doc_id = id_b
          WHERE n_shared / LEAST(sa.n_grams, sb.n_grams) >= {C_THRESHOLD}
        )
        SELECT DISTINCT CASE WHEN n_a < n_b THEN id_a
                             WHEN n_b < n_a THEN id_b
                             ELSE GREATEST(id_a, id_b) END AS doc_id
        FROM cq
        """,
        occ=occ,
    ).localCheckpoint(eager=True)
    # Span gate (e36 core) from the positional view of occ restricted to
    # containment survivors BEFORE the duplicate-count window (the oracle
    # counts occurrences within c1 only), then one-pass stage accounting:
    # stages are nested subsets, so per-doc max-stage-reached +
    # count(st >= k) reproduces the tagged-union counts without
    # re-executing upstream lineage per stage.
    return spark.sql(
        f"""
        WITH occ_c1 AS (
          SELECT o.* FROM {{occ}} o
          LEFT ANTI JOIN {{drops}} d ON o.doc_id = d.doc_id
        ),
        dup AS (
          SELECT doc_id, j FROM (
            SELECT doc_id, j, COUNT(*) OVER (PARTITION BY g) AS cnt
            FROM occ_c1
          ) WHERE cnt >= 2
        ),
        cov AS (
          SELECT DISTINCT doc_id, pos
          FROM dup LATERAL VIEW explode(sequence(j, j + {K - 1})) t AS pos
        ),
        covagg AS (SELECT doc_id, COUNT(*) AS ndup FROM cov GROUP BY doc_id),
        winners AS (
          SELECT t.source,
                 CASE WHEN d.doc_id IS NOT NULL THEN 2
                      WHEN ROUND(COALESCE(c.ndup, 0) / t.n_tokens, 6)
                           >= {E7D_SPAN_MAX} THEN 3
                      ELSE 4 END AS st
          FROM {{tok}} t
          LEFT JOIN {{drops}} d ON t.doc_id = d.doc_id
          LEFT JOIN covagg c ON t.doc_id = c.doc_id
          WHERE t.is_winner
        ),
        losers AS (
          SELECT source, CASE WHEN pass_q THEN 1 ELSE 0 END AS st
          FROM {{tok}} WHERE NOT is_winner
        ),
        tagged AS (SELECT * FROM winners UNION ALL SELECT * FROM losers)
        SELECT source,
               CAST(COUNT(CASE WHEN st >= 0 THEN 1 END) AS BIGINT) AS n_raw,
               CAST(COUNT(CASE WHEN st >= 1 THEN 1 END) AS BIGINT)
                 AS n_quality,
               CAST(COUNT(CASE WHEN st >= 2 THEN 1 END) AS BIGINT) AS n_exact,
               CAST(COUNT(CASE WHEN st >= 3 THEN 1 END) AS BIGINT)
                 AS n_containment,
               CAST(COUNT(CASE WHEN st >= 4 THEN 1 END) AS BIGINT) AS n_final
        FROM tagged GROUP BY source
        """,
        tok=tok,
        occ=occ,
        drops=drops,
    )
