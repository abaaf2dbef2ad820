"""Central query registry: declared-query name -> builder callable.

This is the single source of truth consumed by ``__spark_entry__.py``
(driver contract), ``bench.py``, and the parity test suite. Each builder
has signature ``(spark, sf_dir) -> DataFrame``; the matching DuckDB SQL
lives in ``iceberg_examples_spark.oracles.ORACLES`` (queries without an
oracle get the driver's rows-only check and are listed in
``ROWS_ONLY_REASON`` with the reason).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from iceberg_examples_spark.operators import cdc_pipeline as CP
from iceberg_examples_spark.operators import clustering as CL
from iceberg_examples_spark.operators import coverage as CV
from iceberg_examples_spark.operators import dedup as D
from iceberg_examples_spark.operators import events_ops as E
from iceberg_examples_spark.operators import extended_relational as XR
from iceberg_examples_spark.operators import graph as GR
from iceberg_examples_spark.operators import llm_pipeline as LP
from iceberg_examples_spark.operators import llm_quality as LQ
from iceberg_examples_spark.operators import maintenance as MT
from iceberg_examples_spark.operators import partitioning as PT
from iceberg_examples_spark.operators import reference_scenarios as RS
from iceberg_examples_spark.operators import relational as R
from iceberg_examples_spark.operators import scrub as SC
from iceberg_examples_spark.operators import similarity as SIM
from iceberg_examples_spark.operators import text as TX
from iceberg_examples_spark.operators import tpch_full as TF
from iceberg_examples_spark.sources import avro_source as AV
from iceberg_examples_spark.sources import iceberg_native as IN
from iceberg_examples_spark.sources import iceberg_sql_bridge as IB
from iceberg_examples_spark.sources import iceberg_stream_source as ISS
from iceberg_examples_spark.sources import json_source as JS
from iceberg_examples_spark.sources import multimodal as MM
from iceberg_examples_spark.sources import object_store as OS
from iceberg_examples_spark.sources import python_datasource as PD
from iceberg_examples_spark.streaming import rollup as ST
from iceberg_examples_spark.oracles import ORACLES

QueryFn = Callable[[SparkSession, str], DataFrame]

# ---------------------------------------------------------------------------
# ORDERING CONTRACT (driver correctness window = first 50 entries).
#
# The external correctness gate verifies registry entries in declaration
# order, capped at 50 per round.  Since round 5 the order is DATA-DERIVED,
# not hand-maintained: scripts/rotation.py reads every CORRECTNESS_r*.json
# the driver has produced and sorts the declared queries
# oldest-attestation-first —
#   1. queries with no green driver row yet (never attested) come first;
#      newly added queries are appended at their group's end, so they join
#      this block behind existing never-attested entries,
#   2. then ascending "latest round with a green driver row",
#   3. ties keep the previous declaration order (stable sort).
# tests/test_rotation.py asserts this file's declared order matches the
# computed order exactly, so a rotation that drifts fails CI.  History of
# past windows lives in the CORRECTNESS_r*.json files themselves and in
# DESIGN.md; rounds 1-4 rotated by hand-maintained comments (one miscount,
# caught by round-3 ADVICE — the reason this is now automated).
# Every query keeps a local DuckDB parity test regardless of position
# (tests/test_parity.py runs all of them at sf0.001 every round), and
# scripts/driver_sim.py replays the full gate under a VANILLA SparkSession
# (driver confs, not ours) at sf0.01.
# ---------------------------------------------------------------------------
QUERIES: dict[str, QueryFn] = {
    # ----- latest green driver row: r9 -----
    "iceberg_bucket_prune": IN.iceberg_bucket_prune,
    "iceberg_month_rollup": IN.iceberg_month_rollup,
    "jsonl_shard_export": LP.jsonl_shard_export,
    "mixture_temperature": LP.mixture_temperature,
    "snapshot_refs": MT.snapshot_refs,
    "bucketed_join": PT.bucketed_join,
    "stream_wap_branch": ST.stream_wap_branch,
    "python_datasource_scan": PD.python_datasource_scan,
    "bigram_lm_score": LQ.bigram_lm_score,
    "quality_weighted_sample": LP.quality_weighted_sample,
    "quantile_bins": XR.quantile_bins,
    "quantile_bins_cuts": XR.quantile_bins_cuts,
    "dedup_simhash": D.dedup_simhash,
    "vocab_coverage": LQ.vocab_coverage,
    "balanced_shards": LP.balanced_shards,
    "fixed_size_sample": CV.fixed_size_sample,
    "curation_steady_state": SC.curation_steady_state,
    "pagerank_links": GR.pagerank_links,
    "data_quality_audit": CV.data_quality_audit,
    "project_dates": XR.project_dates,
    "set_ops": XR.set_ops,
    "set_ops_all": XR.set_ops_all,
    "unpivot_metrics": XR.unpivot_metrics,
    "agg_rollup": XR.agg_rollup,
    "asof_join": XR.asof_join,
    "range_join_buckets": XR.range_join_buckets,
    "running_totals": XR.running_totals,
    "range_frame_agg": XR.range_frame_agg,
    "json_struct_parse": XR.json_struct_parse,
    "window_rank_funcs": XR.window_rank_funcs,
    "lateral_topn": XR.lateral_topn,
    "agg_cube": XR.agg_cube,
    "grouping_sets_agg": XR.grouping_sets_agg,
    "map_type_ops": XR.map_type_ops,
    "salted_agg": XR.salted_agg_query,
    "skew_join": XR.skew_join_query,
    "pivot_status": XR.pivot_status,
    "stream_static_join": ST.stream_static_join,
    "text_token_count": TX.token_count,
    "text_lang_id": TX.lang_id,
    "text_quality_score": TX.quality_score,
    "text_fingerprint": TX.doc_fingerprint,
    "text_simhash": TX.simhash16,
    "explode_tokens": TX.explode_tokens,
    "deterministic_sample": CV.deterministic_sample,
    # ----- latest green driver row: r10 -----
    "iceberg_native_upsert": IN.iceberg_native_upsert,
    "iceberg_native_manifests": IN.iceberg_native_manifests,
    "iceberg_native_partitions": IN.iceberg_native_partitions,
    "iceberg_rewrite_deletes": IN.iceberg_rewrite_deletes,
    "iceberg_delete_modes": IN.iceberg_delete_modes,
    "hybrid_rrf_search": SIM.hybrid_rrf_search,
    "iceberg_update_modes": IN.iceberg_update_modes,
    "iceberg_changelog": IN.iceberg_changelog,
    "iceberg_native_wap": IN.iceberg_native_wap,
    "stream_from_iceberg": ISS.stream_from_iceberg,
    "iceberg_wap_dml": IB.iceberg_wap_dml,
    "iceberg_native_schema_evolution": IN.iceberg_native_schema_evolution,
    "iceberg_native_sql_replay": IB.iceberg_native_sql_replay,
    "iceberg_bounds_prune": IN.iceberg_bounds_prune,
    "iceberg_native_spec_evolution": IN.iceberg_native_spec_evolution,
    "stream_to_iceberg": ST.stream_to_iceberg,
    "iceberg_incremental_read": IN.iceberg_incremental_read,
    "iceberg_partition_debt": IN.iceberg_partition_debt,
    "stream_from_iceberg_bulk": ISS.stream_from_iceberg_bulk,
    "iceberg_partition_stats": IN.iceberg_partition_stats,
    "iceberg_add_files": IN.iceberg_add_files,
    "iceberg_deletion_vectors": IN.iceberg_deletion_vectors,
    "semantic_dedup": CL.semantic_dedup,
    "iceberg_rewrite_manifests": IN.iceberg_rewrite_manifests,
    "iceberg_row_lineage": IN.iceberg_row_lineage,
    "train_test_split": CV.train_test_split,
    "corpus_mixture": LP.corpus_mixture,
    "dedup_exact": D.dedup_exact,
    "dedup_exact_keep": D.dedup_exact_keep,
    "ngram_jaccard": D.ngram_jaccard,
    "knn_cosine": SIM.knn_cosine,
    "kmeans_clusters": CL.kmeans_clusters,
    "kmeans_large": CL.kmeans_large,
    "knn_kmeans_ivf": CL.knn_kmeans_ivf,
    "epoch_shuffle": LP.epoch_shuffle,
    "domain_cap_sample": LP.domain_cap_sample,
    "length_buckets": LP.length_buckets,
    "embedding_stats": SIM.embedding_stats,
    "intra_doc_dedup": D.intra_doc_dedup,
    "hll_distinct": XR.hll_distinct,
    "observed_metrics": CV.observed_metrics,
    "sql_pipe_query": CV.sql_pipe_query,
    "funnel_stages": E.funnel_stages,
    "cohort_retention": E.cohort_retention,
    "triangle_count": GR.triangle_count,
    "stream_late_data": ST.stream_late_data,
    "bfs_levels": GR.bfs_levels,
    "fuzzy_match": D.fuzzy_match,
    "null_safe_join": CV.null_safe_join,
    # ----- latest green driver row: r11 -----
    "dsir_weights": LQ.dsir_weights,
    "iceberg_changelog_lineage": IN.iceberg_changelog_lineage,
    "iceberg_table_statistics": IN.iceberg_table_statistics,
    "object_store_listing": OS.object_store_listing,
    "stream_admission_control": ISS.stream_admission_control,
    "iceberg_default_values": IN.iceberg_default_values,
    "iceberg_rewrite_datafiles": IN.iceberg_rewrite_datafiles,
    "iceberg_refs": IN.iceberg_refs,
    "union_schema_drift": CV.union_schema_drift,
    "dynamic_partition_prune": PT.dynamic_partition_prune,
    "embedding_norms_arrow": SIM.embedding_norms_arrow,
    "dynamic_partition_overwrite": PT.dynamic_partition_overwrite,
    "merge_schema_read": CV.merge_schema_read,
    "stream_fanout": ST.stream_fanout,
    "bpe_merge_step": LQ.bpe_merge_step,
    "k_anonymity": CV.k_anonymity,
    "stream_incremental_ingest": ST.stream_incremental_ingest,
    "mad_outliers": XR.mad_outliers,
    "or_join_union": XR.or_join_union,
    "multimodal_prep_pipeline": LP.multimodal_prep_pipeline,
    "skyline_pareto": XR.skyline_pareto,
    "trajectory_similarity": E.trajectory_similarity,
    "minhash_containment": D.minhash_containment,
    "partition_stats": PT.partition_stats,
    "ordered_string_agg": CV.ordered_string_agg,
    "mode_per_group": CV.mode_per_group,
    "dedup_cluster_sizes": D.dedup_cluster_sizes,
    "nested_rollup": CV.nested_rollup,
    "csv_corrupt_records": JS.csv_corrupt_records,
    "rolling_24h": E.rolling_24h,
    "quantile_normalize": XR.quantile_normalize,
    "merge_sql_exec": RS.merge_sql_exec_query,
    "scd2_sql_exec": RS.scd2_sql_exec_query,
    "sql_script_replay": RS.sql_script_replay_query,
    "stream_curation_ingest": ST.stream_curation_ingest,
    "snapshot_rollback": MT.snapshot_rollback,
    "corpus_report": LQ.corpus_report,
    "pq_codes": CL.pq_codes,
    "pq_adc_topk": CL.pq_adc_topk,
    "embedding_neardup": SIM.embedding_neardup,
    "multimodal_meta": MM.multimodal_meta,
    "collect_sets": XR.collect_sets,
    "dedup_latest": E.dedup_latest,
    "merge_by_source_exec": RS.merge_by_source_exec_query,
    "sql_lifecycle_replay": RS.sql_lifecycle_replay_query,
    "sessionize": E.sessionize,
    "session_window_agg": E.session_window_agg,
    "window_hourly": E.window_hourly,
    "json_props": E.json_props,
    "window_sliding": E.window_sliding,
    # ----- latest green driver row: r12 -----
    "stream_admission_bulk": ISS.stream_admission_bulk,
    "iceberg_stats_union": IN.iceberg_stats_union,
    "locf_fill": E.locf_fill,
    "percentiles": XR.percentiles,
    "value_histogram": XR.value_histogram,
    "join_semi": CV.join_semi,
    "join_anti": CV.join_anti,
    "join_outer": CV.join_outer,
    "scalar_funcs": CV.scalar_funcs,
    "time_travel": CV.time_travel,
    "metadata_files": CV.metadata_files,
    "incremental_view": CV.incremental_view,
    "recursive_month_series": CV.recursive_month_series,
    "variant_json_ops": CV.variant_json_ops,
    "sql_entry": CV.sql_entry,
    "grouped_median_pandas": CV.grouped_median_pandas,
    "udtf_chunks": TX.chunk_documents_udtf,
    "tfidf_topterms": LQ.tfidf_topterms,
    "bm25_search": LQ.bm25_search,
    "repetition_topgram": LQ.repetition_topgram,
    "contamination_check": LQ.contamination_check,
    "csv_roundtrip": CV.csv_roundtrip,
    "orc_roundtrip": CV.orc_roundtrip,
    "json_infer": RS.json_infer_query,
    "json_corrupt_records": JS.json_corrupt_records,
    "stream_window_hourly": ST.stream_window_hourly,
    "stream_dedup_latest": ST.stream_dedup_latest,
    "stream_to_table": ST.stream_to_table,
    "stream_stream_join": ST.stream_stream_join,
    "merge_upsert": RS.merge_upsert_query,
    "merge_star": RS.merge_star_query,
    "merge_cdc": RS.merge_cdc_query,
    "scd2_final": RS.scd2_final_query,
    "delete_pred": RS.delete_pred_query,
    "schema_evolution": RS.schema_evolution_query,
    "cdc_pipeline": CP.cdc_pipeline,
    "partition_prune": PT.partition_prune,
    "partition_evolution": MT.partition_evolution,
    "snapshot_history": MT.snapshot_history,
    "changelog_feed": MT.changelog_feed,
    "pii_scrub": SC.pii_scrub,
    "paragraph_dedup": SC.paragraph_dedup,
    "stratified_sample_lang": SC.stratified_sample_lang,
    "table_maintenance": MT.table_maintenance,
    "wap_pattern": MT.wap_pattern,
    "stream_cdc_merge": ST.stream_cdc_merge,
    "multimodal_audio": MM.multimodal_audio,
    "scan_full": R.scan_full,
    "project_literals": R.project_literals,
    "filter_conj": R.filter_conj,
    # ----- latest green driver row: r13 -----
    "join_inner": R.join_inner,
    "union_all": R.union_all,
    "sort_multi": R.sort_multi,
    "topk": R.topk,
    "agg_sum_by_key": R.agg_sum_by_key,
    "agg_count_distinct": R.agg_count_distinct,
    "tpch_q3": R.tpch_q3,
    "tpch_q4": R.tpch_q4,
    "tpch_q5": R.tpch_q5,
    "tpch_q6": R.tpch_q6,
    "tpch_q7": R.tpch_q7,
    "tpch_q10": R.tpch_q10,
    "tpch_q12": R.tpch_q12,
    "tpch_q14": R.tpch_q14,
    "tpch_q15": R.tpch_q15,
    "tpch_q18": R.tpch_q18,
    "tpch_q19": R.tpch_q19,
    "tpch_q1": TF.tpch_q1,
    "tpch_q2": TF.tpch_q2,
    "tpch_q8": TF.tpch_q8,
    "tpch_q9": TF.tpch_q9,
    "tpch_q11": TF.tpch_q11,
    "tpch_q13": TF.tpch_q13,
    "tpch_q16": TF.tpch_q16,
    "tpch_q17": TF.tpch_q17,
    "tpch_q20": TF.tpch_q20,
    "tpch_q21": TF.tpch_q21,
    "tpch_q22": TF.tpch_q22,
    "upsert_by_key": RS.upsert_by_key_query,
    "merge_upsert_scale": RS.merge_upsert_scale_query,
    "zorder_cells": PT.zorder_cells,
    "bloom_prune_join": PT.bloom_prune_join,
    "llm_prep_pipeline": LP.llm_prep_pipeline,
    "dedup_minhash_lsh": D.minhash_lsh,
    "dedup_components": D.dedup_components,
    "approx_stats": XR.approx_stats,
    "curation_pipeline": SC.curation_pipeline,
    "curation_incremental": SC.curation_incremental,
    "sequence_packing": LP.sequence_packing,
    "multimodal_features": MM.multimodal_features,
    "knn_cosine_ivf": SIM.knn_cosine_ivf,
    "stream_sessionize": ST.stream_sessionize_stateful,
    "stream_session_window": ST.stream_session_window,
    "xml_roundtrip": CV.xml_roundtrip,
    "binary_files_ingest": MM.binary_files_ingest,
    "avro_roundtrip": AV.avro_roundtrip,
    "iceberg_native_scan": IN.iceberg_native_scan,
    "iceberg_native_mor": IN.iceberg_native_mor,
    "iceberg_native_time_travel": IN.iceberg_native_time_travel,
    "iceberg_export_roundtrip": IN.iceberg_export_roundtrip,
}

# Queries intentionally lacking a DuckDB oracle, with the reason the
# driver/judge should see. Empty since round 4: approx_stats (the last
# rows-only query) became self-verifying — it hashes boolean error-bound
# columns comparing its sketches to exact stats computed in-plan.
ROWS_ONLY_REASON: dict[str, str] = {}


def get_oracles() -> dict[str, str]:
    return {k: v for k, v in ORACLES.items() if k in QUERIES}
