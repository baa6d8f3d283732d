"""In-suite oracle gate for the TAIL of the catalog (q51+).

The driver's correctness gate stops at the first 50 `queries()`
entries (its window is pinned by test_catalog_driver_window_stable);
the tail — which includes every round-3/4 scale tier (q63 shuffle-LSH,
q64 hot-key asof, q65 distributed IVF, q66 uint64, q67 chunked bf-kNN)
— is otherwise gated only by running tools/check_oracle.py by hand.
This test folds the scale-critical tail entries into `pytest` at
sf0.01 — the driver's own correctness scale, so "suite green" also
catches the parquet-encoding drifts this testdata has shipped
(TIMESTAMP(NANOS) → NTZ), which sf0.001 logic checks missed
(VERDICT r4 "Next round" #5). The full whole-catalog gate remains
tools/check_oracle.py.
"""

from __future__ import annotations

import sys
from pathlib import Path

import duckdb
import pytest

pytestmark = pytest.mark.heavy

sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "tools"))

from check_oracle import compare_tables
from sif_spark.sources.parquet import TABLES

SF = "/root/testdata/sf0.01"

# The tail entries whose regression would matter most at 100 TB.
# (This suite runs at sf0.01 — the gate scale q54/q61's read_blob
# oracles carry verbatim, so they gate here too since round 9.)
TAIL = [
    "q51_schema_ops",
    "q52_memorystream",
    "q53_lsh_similar_pairs",
    "q54_multimodal_blobs",
    "q55_salted_agg",
    "q56_window_suite",
    "q57_streaming_sessions",
    "q58_orc_roundtrip",
    "q59_partition_pruning",
    "q60_exact_percentiles",
    "q61_frame_sampling",
    "q62_streaming_interval_join",
    "q63_lsh_knn_shuffle",
    "q64_asof_hot_key",
    "q65_ivf_knn_distributed",
    "q66_uint64_agg",
    "q67_bf_knn_chunked",
    "q68_dedup_clusters",
    "q69_corpus_clean",
    "q70_containment_pairs",
    "q71_corpus_clean_containment",
    "q72_doc_chunks",
    "q73_stratified_sample",
    "q74_repetition_hist",
    "q75_distinctive_terms",
    "q76_decontamination",
    "q77_pii_redaction",
    "q78_url_domains",
    "q79_gap_fill",
    "q80_sequence_packing",
    "q81_weighted_sample",
    "q82_heavy_hitters",
    "q83_incremental_dedup",
    "q84_cluster_survivors",
    "q85_minhash_incremental",
    "q86_clean_text",
    "q87_multisignal_dedup",
    "q88_xml_roundtrip",
    "q89_line_dedup",
    "q90_gopher_quality",
    "q91_sessions",
    "q92_event_pivot",
    "q93_value_outliers",
    "q94_order_count_histogram",
    "q95_token_mixture",
    "q96_late_shipment_priorities",
    "q97_duplication_profile",
    "q98_pipeline_declarative",
    "q99_fixed_width_roundtrip",
    "q100_grouping_sets",
    "q101_gopher_repetition",
    "q102_local_supplier_volume",
    "q103_returned_item_revenue",
    "q104_salted_join",
    "q105_boilerplate_strip",
    "q106_streaming_outliers",
    "q107_common_token_score",
    "q108_robust_outliers",
    "q109_pq_rerank_knn",
    "q110_media_decode",
    "q111_large_order_customers",
    "q112_waiting_suppliers",
    "q113_approx_percentiles",
    "q114_stream_enrich",
    "q115_correlated_scalar_subqueries",
    "q116_dominant_part_suppliers",
    "q117_rich_idle_customers",
    "q118_salted_stream_agg",
    "q119_daily_ingest",
    "q120_gif_frame_sampling",
    "q121_tolerant_decode",
    "q122_avi_frame_sampling",
    "q123_media_probe",
    "q124_flac_roundtrip",
    "q125_image_preprocess",
    "q126_audio_frame_features",
    "q127_image_near_dup",
    "q128_scene_cuts",
    "q129_mp4_sampling",
    "q130_span_dedup",
    "q131_y4m_sampling",
    "q132_srt_alignment",
    "q133_id3_curation",
    "q134_mkv_probe",
    "q135_deterministic_split",
    "q136_webdataset_shards",
    "q137_webdataset_export",
    "q138_scd2_history",
    "q139_zip_shards",
    "q140_media_census",
    "q141_url_canonicalization",
    "q142_audio_tag_curation",
    "q143_luhn_card_redaction",
    "q144_min_cost_supplier",
    "q145_volume_shipping",
    "q146_market_share",
    "q147_product_profit",
    "q148_important_parts",
    "q149_priority_shipmode",
    "q150_promo_revenue",
    "q151_top_supplier",
    "q152_supplier_part_counts",
    "q153_small_qty_revenue",
    "q154_disjunctive_revenue",
    "q155_mpeg1_injected_codec",
    "q156_avro_roundtrip",
    "q157_avro_type_matrix",
    "q158_table_time_travel",
    "q159_table_schema_evolution",
    "q160_table_compaction",
    "q161_ds_grouping_sets",
    "q162_ds_window_over_join",
    "q163_ds_disjunctive_star",
    "q164_ds_dynamic_partition_pruning",
    "q165_ds_returns_above_avg",
    "q166_ds_channel_union",
    "q167_sessions_tws",
    "q168_interval_join_tws",
    "q169_stream_table_exactly_once",
    "q170_table_bloom_upsert",
    "q171_ds_exists_pairs",
    "q172_ds_topn_per_group_ties",
    "q173_ds_yoy_decline",
    "q174_ds_multi_distinct",
    "q175_table_data_skipping",
    "q176_table_change_feed",
    "q177_table_stream_source",
    "q178_incremental_mv",
    "q179_incremental_mv_cdf",
    "q180_table_sql_pushdown",
    "q181_incremental_ann_index",
    "q182_table_sql_write",
    "q183_incremental_pq_index",
    "q184_table_cdf_batch",
    "q185_table_merge",
    "q186_table_column_evolution",
    "q187_ann_refresh_lifecycle",
    "q188_table_composite_key",
    "q189_table_deletion_vectors",
    "q190_stream_cdc_apply",
    "q191_dv_erasure_merge",
]


def test_tail_is_complete():
    """Self-enforcing gate (VERDICT r12 "Next round" #3): every
    catalog entry beyond the driver's q01–q50 window MUST be in TAIL —
    a new entry that lands without folding itself in fails the suite,
    so the per-PR `pytest` run always differentially re-verifies the
    whole tail, not just the round-close sweep."""
    import __spark_entry__ as entrymod

    import re

    expected = {
        q
        for q in entrymod.queries()
        if int(re.match(r"q(\d+)", q).group(1)) > 50
    }
    assert set(TAIL) == expected, (
        sorted(expected - set(TAIL)), sorted(set(TAIL) - expected)
    )


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF}/{t}.parquet'")
    return con


@pytest.mark.parametrize("name", TAIL)
def test_tail_entry_matches_oracle(spark, duck, name):
    import __spark_entry__ as entrymod

    fn = entrymod.queries()[name]
    sql = entrymod.oracle_sql()[name]
    atbl = fn(spark, SF).toArrow()
    dtbl = duck.execute(sql).arrow()
    assert compare_tables(atbl, dtbl) == [], name
