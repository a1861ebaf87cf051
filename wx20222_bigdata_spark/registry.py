"""Query/oracle registry — the driver-facing contract.

Every operator from SURVEY.md §2 that the engine implements is declared here
as a named query: a callable ``(spark, sf_dir) -> DataFrame`` plus (when the
semantics are ANSI-SQL-expressible) a DuckDB oracle SQL string over the same
tables. The driver hash-compares the two at sf0.01; ops without an oracle get
a rows-only check (seeded randomness, streaming, model UDFs — SURVEY.md §5).

Determinism rules for oracle-checked queries (SURVEY.md §7 "hard parts"):
- alias every computed column identically in Spark and SQL;
- no raw timestamps in output (format to string or epoch) — avoids tz drift;
- money/quantity sums go through DECIMAL(18,2|4) so the aggregate is exact and
  order-independent, then cast back to double;
- float-array math keeps elementwise order identical on both sides and rounds
  the final value to 6 decimals.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLES: dict[str, str] = {}


def query(name: str, oracle: str | None = None) -> Callable[[QueryFn], QueryFn]:
    """Register a named query; ``oracle=None`` marks a rows-only check."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in QUERIES:
            raise ValueError(f"duplicate query name {name!r}")
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco


# The driver checks queries in registration order and may cap the number it
# verifies per round (round 1 recorded exactly the first 50 of 99). Names
# listed here are emitted FIRST so queries without a driver-green
# CORRECTNESS row yet — plus anything new/changed this round — get checked
# before already-driver-verified ones. See NOTES_r2.md.
_FRONT: list[str] = [
    # Rotation after the near-dup SQL rewrite: seats whose plans changed
    # come first (the near-dup family: band keys, candidate pairs and SimHash
    # became spark.sql blocks), then every seat last checked by the
    # driver in r08 (the whole stale cohort, registration order), then
    # the oldest r09 seats in registration order to fill the 50-seat
    # window. Last-checked rounds come from CORRECTNESS_r*.json.
    # --- CHANGED this round ---
    "e2b_minhash_lsh_pairs",
    "e2c_simhash",
    "e2f_ml_minhash_lsh",
    "e2g_minhash_lsh_production",
    "e2j_char_shingle_lsh_pairs",
    "e2k_salted_lsh_pairs",
    "e2m_char_lsh_production",
    "e9_dedup_clusters",
    "e9b_triangle_count",
    "e9c_verified_clusters",
    "e9d_verified_clusters_capped",
    "e28_cluster_survivors",
    "o13_cluster_aware_split",
    "o13b_cluster_split_production",
    # --- r08 cohort (complete, registration order) ---
    "q11_important_stock",
    "p1_flatten_concat",
    "p2_derive_drop",
    "p3_dict_encode",
    "p4_dict_decode",
    "p5_prefix_projection",
    "p7_substring_predicates",
    "p8_conditional_gates",
    "s1_json_roundtrip",
    "s4_csv_line_parse",
    "f_string_surface",
    "f16_datetime_json",
    "f_null_semantics",
    "f_conditional_fns",
    "dq1_constraint_report",
    "o10_hash_split",
    "o15_epoch_repeat_schedule",
    "e35b_hyperplane_semdedup_production",
    "j1b_scalable_zip_index",
    "m1_upsert_merge",
    "m2_scd2_history",
    "m6_deletion_propagation",
    "e36_substring_span_trim",
    "e37_containment_pairs",
    "e36b_span_trim_production",
    "e37b_containment_prefix_production",
    "t10_decay_weighted_value",
    "a10_swa_snapshot_avg",
    "o6_ntile_kfold",
    # --- oldest r09 seats in registration order (fill to 50) ---
    "a5_masked_mean_pool",
    "a6_last4_mean",
    "a8_argmax",
    "a7_ensemble_argmax",
    "e1_exact_dedup",
    "e1b_dedup_survivors",
    "e7d_dedup_funnel",
]


def _front_loaded(mapping: dict) -> dict:
    front = {n: mapping[n] for n in _FRONT if n in mapping}
    rest = {n: v for n, v in mapping.items() if n not in front}
    return {**front, **rest}


def all_queries() -> dict[str, QueryFn]:
    # Import for side effect: operator modules self-register on import.
    from wx20222_bigdata_spark import operators  # noqa: F401

    return _front_loaded(QUERIES)


def all_oracles() -> dict[str, str]:
    from wx20222_bigdata_spark import operators  # noqa: F401

    return _front_loaded(ORACLES)
