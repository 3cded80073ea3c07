"""Fixture-drift parity: the driver regenerates testdata between
rounds (round 3 lost 9 CORRECTNESS rows + the bench to a silent
events.ts re-encode), so every drift-prone encoding gets a synthesized
variant here and the affected queries must stay Spark==DuckDB on it.

Variants covered:
- documents with degenerate texts: empty string, single token, two
  tokens, NULL — the ADVICE-flagged latent crash class (Spark's
  sequence(1, 0) is a descending [1, 0], not empty like DuckDB's
  generate_series(1, 0));
- embeddings with float64 elements / int64 labels (current fixture:
  float32 / int32);
- events with compact (no-space) props JSON and int64-nanos ts — the
  exact encoding pair the round-3 regression taught us to probe
  (tables.py normalizes ts; props formatting must not matter because
  both engines parse, never substring, the JSON).

Each case copies sf0.001 and swaps one table, then runs the strict
driver-hash replica (tests.parity.compare) for every query that reads
the swapped table.
"""

from __future__ import annotations

import shutil

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from tests.parity import compare

_SRC = "/root/testdata/sf0.001"

# r16 two-tier rule (VERDICT r15 item 2): the chaos-matrix parities
# for driver-benched queries (bench.HEADLINE) run on every `pytest
# tests/`; the long tail runs under FHC_SLOW_TESTS=1 — same split as
# tests/test_parity.py, keeping the default suite inside the driver's
# verify window while every drift class still has fast coverage.
import bench as _bench

_FAST = set(_bench.HEADLINE)


def _tiered(names):
    return [
        n if n in _FAST else pytest.param(n, marks=pytest.mark.slow)
        for n in names
    ]

# Queries over the documents table (text-shape sensitive).
DOC_QUERIES = [
    "q_llm_chunk_docs",
    "q_llm_ngram_counts",
    "q_llm_inverted_index",
    "q_llm_exact_dedup",
    "q_llm_jaccard_dedup",
    "q_llm_minhash_lsh",
    "q_llm_text_stats",
    "q_llm_tfidf",
    "q_llm_lang_filter",
    "q_llm_dedup_clusters",
    "q_llm_corpus_pipeline",
    "q_llm_incremental_dedup",
    "q_llm_domain_mix",
    "q_llm_lang_id",
    "q_llm_quality_score",
    "q_llm_fingerprint",
    "q_llm_simhash",
    "q_llm_repetition",
    "q_llm_stratified_sample",
    "q_llm_decontaminate",
    "q_llm_pack_sequences",
    "q_llm_token_count",
    # round-5 document consumers
    "q_llm_dedup_survivor",
    "q_llm_pii_redact",
    "q_llm_length_bucket",
    "q_llm_vocab_coverage",
    "q_llm_mixture_sample",
    "q_dataset_shard",
    "q_fn_url",
    "q_llm_winnow",
    # round-5b document consumers
    "q_llm_diversity",
    "q_llm_edit_distance",
    # round-5c/d document consumers
    "q_llm_bigram_lm",
    "q_llm_safety_filter",
    "q_source_text",
    "q_llm_cross_source_leakage",
    "q_llm_lang_confusion",
    "q_llm_span_dedup",
    "q_llm_dataset_card",
    "q_llm_curriculum",
    "q_llm_typicality",
    # round-13 document consumers
    "q_llm_dsir",
    # round-15 document consumers
    "q_llm_substring_dedup",
    # round-8b document consumers
    "q_llm_bpe_pairs",
    "q_llm_bpe_train",
    "q_llm_url_canonical",
    "q_llm_dedup_eval",
    # round-10 document consumers
    "q_llm_pmi_bigrams",
    "q_llm_keyword_topk",
    "q_llm_reservoir_sample",
    "q_llm_tokenizer_fertility",
    "q_llm_charfreq_kl",
    "q_llm_length_percentiles",
    "q_llm_bloom_vocab",
    "q_agg_cms_estimate",
    "q_llm_minhash_est",
    "q_llm_kn_continuation",
    "q_llm_simhash_pairs",
    "q_llm_dup_matrix",
    "q_agg_hll_custom",
    "q_llm_xval_split",
    "q_fn_regexp",
    # round-12 document consumers
    "q_llm_lm_interp",
    "q_llm_js_divergence",
    "q_sql_lateral_view",
    # prefix-filter dedup joins and bigram perplexity
    "q_llm_prefix_jaccard",
    "q_llm_containment",
    "q_llm_bigram_ppl",
]

# Queries over the embeddings table (element/label dtype sensitive).
EMB_QUERIES = [
    "q_llm_pq_codes",
    "q_llm_hard_negatives",
    "q_llm_embed_quantize",
    "q_llm_cosine_topk",
    "q_llm_ivf_topk",
    "q_llm_knn_label",
    "q_llm_centroids",
    "q_llm_cosine_dedup",
    "q_llm_multimodal",
    # round-11 embeddings consumers: the tuned ANN serving point and
    # the retrieval-grading tail over the exact cosine run
    "q_llm_ann_tuned",
    "q_ir_rbo",
    "q_ir_ndcg",
    "q_ir_mrr",
    "q_ir_map",
    # round-14 embeddings consumers
    "q_ir_err",
]


def _clone_fixture(dst) -> str:
    dst.mkdir(exist_ok=True)
    for f in (
        "region nation customer supplier part orders lineitem "
        "events documents embeddings".split()
    ):
        shutil.copy(f"{_SRC}/{f}.parquet", str(dst / f"{f}.parquet"))
    return str(dst)


@pytest.fixture(scope="module")
def degenerate_docs_dir(tmp_path_factory):
    """sf0.001 with four degenerate documents appended."""
    d = tmp_path_factory.mktemp("drift_docs")
    sf_dir = _clone_fixture(d)
    t = pq.read_table(f"{_SRC}/documents.parquet")
    base = t.to_pydict()
    next_id = max(base["doc_id"]) + 1
    lang = base["lang"][0]
    source = base["source"][0]
    edge_texts = [
        "",
        "solo",
        "two tokens",
        None,
        # unicode: md5/sha2/xxhash operate on UTF-8 bytes in both
        # engines; token splitting must not mangle multibyte chars
        "naïve café 日本語 décor naïve café",
        # consecutive spaces: split(' ') yields empty tokens on BOTH
        # engines — they must agree, not be silently dropped by one
        "a  b   c a  b",
    ]
    for i, text in enumerate(edge_texts):
        base["doc_id"].append(next_id + i)
        base["text"].append(text)
        base["lang"].append(lang)
        base["source"].append(source)
        base["n_chars"].append(len(text) if text is not None else None)
    pq.write_table(
        pa.table(base, schema=t.schema), f"{sf_dir}/documents.parquet"
    )
    return sf_dir


@pytest.fixture(scope="module")
def wide_embeddings_dir(tmp_path_factory):
    """sf0.001 with embeddings re-encoded float32→float64, int32→int64."""
    d = tmp_path_factory.mktemp("drift_emb")
    sf_dir = _clone_fixture(d)
    t = pq.read_table(f"{_SRC}/embeddings.parquet")
    wide = pa.table(
        {
            "vec_id": t.column("vec_id"),
            "embedding": t.column("embedding").cast(
                pa.list_(pa.float64())
            ),
            "label": t.column("label").cast(pa.int64()),
        }
    )
    pq.write_table(wide, f"{sf_dir}/embeddings.parquet")
    return sf_dir


# Representative events readers: props parsers + ts/value consumers.
EVT_QUERIES = [
    "q_fn_map",
    "q_fn_json",
    "q_event_transitions",
    "q_ts_resample_ohlc",
    # round-10: microsecond gap arithmetic must survive ns re-encode
    "q_event_bounce_rate",
    "q_event_time_to_convert",
]


@pytest.fixture(scope="module")
def reencoded_events_dir(tmp_path_factory):
    """sf0.001 with events re-encoded: compact props JSON, ns ts."""
    d = tmp_path_factory.mktemp("drift_evt")
    sf_dir = _clone_fixture(d)
    t = pq.read_table(f"{_SRC}/events.parquet")
    cols = {n: t.column(n) for n in t.column_names}
    cols["props"] = pa.array(
        [None if v is None else v.replace(": ", ":").replace(", ", ",")
         for v in t.column("props").to_pylist()],
        pa.string(),
    )
    cols["ts"] = t.column("ts").cast(pa.timestamp("ns"))
    pq.write_table(pa.table(cols), f"{sf_dir}/events.parquet")
    return sf_dir


@pytest.mark.parametrize("name", _tiered(DOC_QUERIES))
def test_degenerate_documents_parity(spark, degenerate_docs_dir, name):
    ok, detail = compare(spark, name, degenerate_docs_dir)
    assert ok, f"{name} on degenerate docs: {detail}"


@pytest.mark.parametrize("name", _tiered(EMB_QUERIES))
def test_float64_embeddings_parity(spark, wide_embeddings_dir, name):
    ok, detail = compare(spark, name, wide_embeddings_dir)
    assert ok, f"{name} on float64/int64 embeddings: {detail}"


@pytest.fixture(scope="module")
def degenerate_embeddings_dir(tmp_path_factory):
    """sf0.001 embeddings plus a NULL vector, an empty vector, and a
    wrong-dimension vector — the drift class that hard-crashed every
    cosine path (both engines) before the load_embeddings dimension
    contract (probed + fixed 2026-08-14)."""
    d = tmp_path_factory.mktemp("drift_emb_degen")
    sf_dir = _clone_fixture(d)
    t = pq.read_table(f"{_SRC}/embeddings.parquet")
    base = t.to_pydict()
    nid = max(base["vec_id"]) + 1
    base["vec_id"] += [nid, nid + 1, nid + 2]
    base["embedding"] += [None, [], [1.0, 2.0]]
    base["label"] += [None, 0, 1]
    pq.write_table(
        pa.table(base, schema=t.schema), f"{sf_dir}/embeddings.parquet"
    )
    return sf_dir


@pytest.mark.parametrize("name", _tiered(EMB_QUERIES))
def test_degenerate_embeddings_parity(spark, degenerate_embeddings_dir, name):
    ok, detail = compare(spark, name, degenerate_embeddings_dir)
    assert ok, f"{name} on NULL/empty/odd-dim embeddings: {detail}"


@pytest.mark.parametrize("name", _tiered(EVT_QUERIES))
def test_reencoded_events_parity(spark, reencoded_events_dir, name):
    ok, detail = compare(spark, name, reencoded_events_dir)
    assert ok, f"{name} on compact-props/ns-ts events: {detail}"


# Orderable-events consumers: every query whose semantics depend on the
# (ts, event_id) chain, plus the JSON/props parsers — the NULL-events
# probe (2026-08-14) caught 7 of these diverging (Spark sorts NULLs
# FIRST, DuckDB LAST; Spark explode(NULL map) drops the row, DuckDB
# keeps it; collect_list skips NULL values, DuckDB list() keeps them).
# All now quarantine NULL ts/props/value identically on both engines.
NULLABLE_EVT_QUERIES = [
    "q_stat_ttest_welch",
    "q_stat_permutation_test",
    # round-11 classifier-eval family (events.value as the score)
    "q_stat_brier",
    "q_stat_log_loss",
    "q_stat_pr_auc",
    "q_stat_f1_sweep",
    "q_stat_mcnemar",
    "q_stat_cohens_kappa",
    "q_graph_clustering_coeff",
    # round-12 events consumers
    "q_stat_gtest",
    "q_graph_adamic_adar",
    "q_stat_wilson_ci",
    "q_stat_srm",
    "q_fn_map",
    "q_fn_json",
    "q_event_transitions",
    "q_ts_resample_ohlc",
    "q_ts_gapfill",
    "q_ts_ewma",
    "q_funnel_steps",
    "q_retention_cohort",
    "q_graph_pagerank",
    "q_win_sessionize",
    "q_win_distinct_count",
    "q_win_pattern",
    "q_ts_anomaly",
    "q_join_interval",
    "q_stat_chisq",
    "q_event_attribution",
    "q_win_islands",
    "q_graph_triangles",
    "q_fn_timezone",
    "q_quality_fk_audit",
    "q_ts_cusum",
    # round-5c/d event consumers
    "q_event_path_topk",
    "q_event_overlap_matrix",
    "q_event_dau_wau",
    "q_ts_seasonality",
    "q_graph_degree_dist",
    "q_ts_mad_outliers",
    "q_funnel_windowed",
    "q_join_asof_tolerance",
    "q_ts_heatmap_dow_hod",
    "q_ts_autocorr",
    "q_graph_link_predict",
    "q_ts_error_rate",
    "q_ts_impute",
    # round-13 event consumers
    "q_stat_cuped",
    "q_stat_power_mde",
    # round-14 event consumers
    "q_stat_sprt",
    # the co-grouped pandas UDF: a NULL user_id is its own output row
    "q_udf_cogroup",
]


@pytest.fixture(scope="module")
def null_events_dir(tmp_path_factory):
    """sf0.001 events plus rows with NULL value / event_type / props /
    user_id / ts — one NULL per drift-prone column."""
    d = tmp_path_factory.mktemp("drift_evt_null")
    sf_dir = _clone_fixture(d)
    t = pq.read_table(f"{_SRC}/events.parquet")
    base = t.to_pydict()
    nid = max(base["event_id"]) + 1
    uid = base["user_id"][0]
    some_ts = base["ts"][0]
    base["event_id"] += [nid, nid + 1, nid + 2, nid + 3, nid + 4]
    base["ts"] += [some_ts, some_ts, some_ts, some_ts, None]
    base["user_id"] += [uid, uid, uid, None, uid]
    base["event_type"] += ["view", None, "view", "click", "view"]
    base["value"] += [None, 1.25, 2.5, 3.75, 5.0]
    base["props"] += [
        '{"k": 1}', '{"k": 2}', None, '{"k": 3}', '{"k": 4}'
    ]
    pq.write_table(
        pa.table(base, schema=t.schema), f"{sf_dir}/events.parquet"
    )
    return sf_dir


@pytest.mark.parametrize("name", _tiered(NULLABLE_EVT_QUERIES))
def test_null_events_parity(spark, null_events_dir, name):
    ok, detail = compare(spark, name, null_events_dir)
    assert ok, f"{name} on NULL-laden events: {detail}"


# Orders consumers probed against NULL-laden orders rows (2026-08-14):
# q_snapshot_diff was the one divergence (price-NULL mistaken for a
# missing row) - now classified via explicit presence markers with
# null-safe price comparison; the rest were already NULL-robust.
NULLABLE_ORD_QUERIES = [
    "q_join_asof",
    "q_join_asof_fwd",
    "q_join_asof_nearest",
    "q_topk_group",
    "q_snapshot_diff",
    "q_zorder_key",
    "q_merge_upsert",
    "q_sql_parameterized",
    "q_ts_calendar_dim",
    "q_star_join_region",
    "q_join_null_safe",
    "q_tpch_q3",
    "q_quality_fk_audit",
    "q_union_by_name",
    # round-5c/d orders consumers
    "q_tpch_q10",
    "q_tpch_q18",
    "q_tpch_q21",
    "q_join_sort_merge",
    "q_profile_table",
    "q_pareto_deciles",
    "q_agg_gini",
    "q_orders_rfm",
    "q_orders_cohort_ltv",
    "q_orders_mix_trend",
    "q_orders_repeat_rate",
    # round-11 orders consumers
    "q_stat_sign_test",
    "q_stat_bh_fdr",
    "q_stat_paired_ttest",
    "q_agg_theta_sketch",
    # round-12 orders consumers
    "q_stat_theil",
    "q_stat_friedman",
    "q_ts_holt_linear",
    "q_sql_qualify",
    "q_ts_ljung_box",
    "q_ts_holt_winters",
    # the co-grouped pandas UDF: a NULL o_custkey is its own output row
    "q_udf_cogroup",
]


@pytest.fixture(scope="module")
def null_orders_dir(tmp_path_factory):
    """sf0.001 orders plus rows with NULL custkey / status / totalprice
    / orderdate / priority."""
    d = tmp_path_factory.mktemp("drift_ord_null")
    sf_dir = _clone_fixture(d)
    t = pq.read_table(f"{_SRC}/orders.parquet")
    base = t.to_pydict()
    nk = max(base["o_orderkey"]) + 1
    base["o_orderkey"] += [nk, nk + 1]
    base["o_custkey"] += [base["o_custkey"][0], None]
    base["o_orderstatus"] += [None, "O"]
    base["o_totalprice"] += [None, 123.45]
    base["o_orderdate"] += [base["o_orderdate"][0], None]
    base["o_orderpriority"] += ["1-URGENT", None]
    pq.write_table(
        pa.table(base, schema=t.schema), f"{sf_dir}/orders.parquet"
    )
    return sf_dir


@pytest.mark.parametrize("name", _tiered(NULLABLE_ORD_QUERIES))
def test_null_orders_parity(spark, null_orders_dir, name):
    ok, detail = compare(spark, name, null_orders_dir)
    assert ok, f"{name} on NULL-laden orders: {detail}"


@pytest.fixture(scope="module")
def null_keys_both_sides_dir(tmp_path_factory):
    """sf0.001 plus one order with a NULL o_custkey and one event with
    a NULL user_id: a FULL OUTER JOIN on those keys never matches NULL
    to NULL, so the oracle answers with two NULL-key rows."""
    d = tmp_path_factory.mktemp("drift_null_keys")
    sf_dir = _clone_fixture(d)
    for table, key, row_id in (
        ("orders", "o_custkey", "o_orderkey"),
        ("events", "user_id", "event_id"),
    ):
        t = pq.read_table(f"{_SRC}/{table}.parquet")
        base = t.to_pydict()
        for col in base:
            base[col].append(base[col][0])
        base[row_id][-1] = max(base[row_id]) + 1
        base[key][-1] = None
        pq.write_table(
            pa.table(base, schema=t.schema), f"{sf_dir}/{table}.parquet"
        )
    return sf_dir


def test_cogroup_null_keys_on_both_sides(spark, null_keys_both_sides_dir):
    from fact_hive_custom_spark.queries import QUERIES

    ok, detail = compare(spark, "q_udf_cogroup", null_keys_both_sides_dir)
    assert ok, f"q_udf_cogroup with NULL keys on both sides: {detail}"
    rows = QUERIES["q_udf_cogroup"](spark, null_keys_both_sides_dir)
    null_rows = rows.filter("custkey IS NULL").collect()
    assert sorted((r.n_orders, r.n_events) for r in null_rows) == [(0, 1), (1, 0)]


# Lineitem consumers probed against NULL-laden rows (2026-08-14): all
# 20 were already NULL-robust (aggregate NULL-skipping and join-key
# NULL-dropping agree across engines); locked here against regression.
NULLABLE_LI_QUERIES = [
    "q_agg_flagship",
    "q_agg_weighted_median",
    "q_agg_linreg",
    "q_agg_filter_clause",
    "q_agg_minmax_by",
    "q_join_inner",
    "q_join_asof",
    "q_win_running",
    "q_agg_quantile_sketch",
    "q_fn_try_arith",
    "q_agg_listagg",
    "q_agg_mode",
    "q_tpch_q3",
    "q_agg_decimal128",
    "q_agg_moments",
    "q_agg_grouping_id",
    "q_quality_fk_audit",
    # round-5c lineitem consumers
    "q_tpch_q10",
    "q_tpch_q18",
    "q_join_sort_merge",
    "q_agg_corr_exact",
    "q_ship_delay_hist",
    "q_sql_pipe",
    "q_tpch_q14",
    # round-12 lineitem consumer
    "q_stat_hhi",
    "q_tpch_q6",
    "q_basket_lift",
    "q_agg_histogram2d",
    "q_tpch_q21",
    # round-12 lineitem consumers
    "q_sql_hive_layout",
]


@pytest.fixture(scope="module")
def null_lineitem_dir(tmp_path_factory):
    """sf0.001 lineitem plus two rows spreading NULLs across every
    drift-prone column."""
    d = tmp_path_factory.mktemp("drift_li_null")
    sf_dir = _clone_fixture(d)
    t = pq.read_table(f"{_SRC}/lineitem.parquet")
    base = t.to_pydict()
    ok0 = base["l_orderkey"][0]
    base["l_orderkey"] += [ok0, None]
    base["l_partkey"] += [None, base["l_partkey"][0]]
    base["l_suppkey"] += [base["l_suppkey"][0], None]
    base["l_linenumber"] += [98, 99]
    base["l_quantity"] += [None, 7.0]
    base["l_extendedprice"] += [1234.56, None]
    base["l_discount"] += [None, 0.05]
    base["l_tax"] += [0.02, None]
    base["l_returnflag"] += [None, "N"]
    base["l_linestatus"] += ["O", None]
    base["l_shipdate"] += [base["l_shipdate"][0], None]
    pq.write_table(
        pa.table(base, schema=t.schema), f"{sf_dir}/lineitem.parquet"
    )
    return sf_dir


@pytest.mark.parametrize("name", _tiered(NULLABLE_LI_QUERIES))
def test_null_lineitem_parity(spark, null_lineitem_dir, name):
    ok, detail = compare(spark, name, null_lineitem_dir)
    assert ok, f"{name} on NULL-laden lineitem: {detail}"


# Document-METADATA nulls (lang/source/n_chars) - distinct from the
# degenerate-TEXT class above. q_fn_url was the one divergence
# (NULL-propagating concat vs the oracle's literal host column);
# fixed with COALESCE defaults in the URL builder on both sides.
NULL_DOCMETA_QUERIES = [
    "q_llm_lang_filter",
    "q_llm_domain_mix",
    "q_llm_stratified_sample",
    "q_llm_mixture_sample",
    "q_dataset_shard",
    "q_llm_dedup_survivor",
    "q_llm_vocab_coverage",
    "q_fn_url",
    "q_llm_diversity",
    "q_llm_edit_distance",
    "q_llm_dp_histogram",
]


@pytest.fixture(scope="module")
def null_docmeta_dir(tmp_path_factory):
    """sf0.001 documents plus rows with NULL lang / source / n_chars."""
    d = tmp_path_factory.mktemp("drift_docmeta_null")
    sf_dir = _clone_fixture(d)
    t = pq.read_table(f"{_SRC}/documents.parquet")
    base = t.to_pydict()
    nid = max(base["doc_id"]) + 1
    txt = base["text"][0]
    base["doc_id"] += [nid, nid + 1, nid + 2]
    base["text"] += [txt, txt + " unique tail", "short doc here"]
    base["lang"] += [None, "en", None]
    base["source"] += ["srcX", None, None]
    base["n_chars"] += [len(txt), None, 14]
    pq.write_table(
        pa.table(base, schema=t.schema), f"{sf_dir}/documents.parquet"
    )
    return sf_dir


@pytest.mark.parametrize("name", _tiered(NULL_DOCMETA_QUERIES))
def test_null_docmeta_parity(spark, null_docmeta_dir, name):
    ok, detail = compare(spark, name, null_docmeta_dir)
    assert ok, f"{name} on NULL doc metadata: {detail}"


# Malformed props payloads (2026-08-14 probe): DuckDB json_extract
# hard-errors on invalid JSON and CAST('"x"' AS INTEGER) on wrong
# types; Spark nulls (from_json) or FAILFASTs (parse_json). All three
# JSON-family queries now gate on the _PROPS_SHAPE regex contract.
MALFORMED_PROPS_QUERIES = ["q_fn_map", "q_fn_json", "q_fn_variant"]


@pytest.fixture(scope="module")
def malformed_props_dir(tmp_path_factory):
    """sf0.001 events plus malformed / empty / wrong-typed / compact
    props payloads."""
    d = tmp_path_factory.mktemp("drift_props_bad")
    sf_dir = _clone_fixture(d)
    t = pq.read_table(f"{_SRC}/events.parquet")
    base = t.to_pydict()
    nid = max(base["event_id"]) + 1
    uid = base["user_id"][0]
    some_ts = base["ts"][0]
    base["event_id"] += [nid, nid + 1, nid + 2, nid + 3]
    base["ts"] += [some_ts] * 4
    base["user_id"] += [uid] * 4
    base["event_type"] += ["view"] * 4
    base["value"] += [1.0, 2.0, 3.0, 4.0]
    base["props"] += ['{not json', '', '{"k": "str_not_int"}', '{"k":42}']
    pq.write_table(
        pa.table(base, schema=t.schema), f"{sf_dir}/events.parquet"
    )
    return sf_dir


@pytest.mark.parametrize("name", _tiered(MALFORMED_PROPS_QUERIES))
def test_malformed_props_parity(spark, malformed_props_dir, name):
    ok, detail = compare(spark, name, malformed_props_dir)
    assert ok, f"{name} on malformed props: {detail}"


# Dimension tables (customer/supplier/part) probed with NULL-laden
# rows (2026-08-14): all 12 consumers already robust; locked here.
NULL_DIM_QUERIES = [
    "q_join_spatial_grid",
    "q_stat_fisher_exact",
    "q_win_ntile",
    "q_cbo_join_reorder",
    "q_join_broadcast",
    "q_join_theta",
    "q_star_join_region",
    "q_subquery_in",
    "q_join_lateral",
    "q_tpch_q3",
    "q_quality_fk_audit",
]


@pytest.fixture(scope="module")
def null_dims_dir(tmp_path_factory):
    """sf0.001 with one NULL-laden row in each of customer, supplier,
    and part."""
    d = tmp_path_factory.mktemp("drift_dims_null")
    sf_dir = _clone_fixture(d)
    for tbl, mods in [
        ("customer", {"c_name": None, "c_nationkey": None,
                      "c_acctbal": None, "c_mktsegment": None}),
        ("supplier", {"s_name": None, "s_nationkey": None,
                      "s_acctbal": None}),
        ("part", {"p_name": None}),
    ]:
        t = pq.read_table(f"{_SRC}/{tbl}.parquet")
        base = t.to_pydict()
        keycol = [c for c in t.column_names if c.endswith("key")][0]
        nk = max(base[keycol]) + 1
        for c in t.column_names:
            if c == keycol:
                base[c].append(nk)
            elif c in mods:
                base[c].append(mods[c])
            else:
                base[c].append(base[c][0])
        pq.write_table(
            pa.table(base, schema=t.schema), f"{sf_dir}/{tbl}.parquet"
        )
    return sf_dir


@pytest.mark.parametrize("name", _tiered(NULL_DIM_QUERIES))
def test_null_dims_parity(spark, null_dims_dir, name):
    ok, detail = compare(spark, name, null_dims_dir)
    assert ok, f"{name} on NULL-laden dimension rows: {detail}"


@pytest.fixture(scope="module")
def disjoint_sources_dir(tmp_path_factory):
    """sf0.001 with documents REPLACED by two sources with disjoint
    vocabularies — the ADVICE-r12 JS-divergence signature case: before
    the rest-only-mass fix, disjoint sources scored ~ln2/2 instead of
    ln2 on BOTH engines (the oracle shared the omission, so the normal
    parity sweep could never catch it)."""
    d = tmp_path_factory.mktemp("drift_js_disjoint")
    sf_dir = _clone_fixture(d)
    t = pq.read_table(f"{_SRC}/documents.parquet")
    texts = [
        ("alpha beta gamma alpha", "s1"),
        ("beta beta gamma", "s1"),
        ("delta epsilon zeta", "s2"),
        ("epsilon zeta zeta delta", "s2"),
    ]
    base = {
        "doc_id": list(range(1, len(texts) + 1)),
        "text": [x for x, _ in texts],
        "lang": ["en"] * len(texts),
        "source": [s for _, s in texts],
        "n_chars": [len(x) for x, _ in texts],
    }
    pq.write_table(
        pa.table(base, schema=t.schema), f"{sf_dir}/documents.parquet"
    )
    return sf_dir


def test_js_divergence_disjoint_sources(spark, disjoint_sources_dir):
    """Disjoint vocabularies ⇒ JS = ln 2 exactly (each side's every
    token has the other side's mass at 0).  Pins the rest-only-mass
    term; also re-proves Spark==DuckDB on the adversarial fixture."""
    import math

    from fact_hive_custom_spark.queries import QUERIES

    ok, detail = compare(spark, "q_llm_js_divergence", disjoint_sources_dir)
    assert ok, f"q_llm_js_divergence on disjoint sources: {detail}"
    rows = QUERIES["q_llm_js_divergence"](spark, disjoint_sources_dir).collect()
    ln2_e6 = math.floor(math.log(2) * 1_000_000 + 0.5)
    assert len(rows) == 2
    for r in rows:
        # two floor-halvings of the odd 693147 lose at most 1 each
        assert ln2_e6 - 2 <= r.js_e6 <= ln2_e6, r


@pytest.fixture(scope="module")
def incomplete_blocks_dir(tmp_path_factory):
    """sf0.001 with every 1996-03 order of one priority removed — an
    INCOMPLETE block design for q_stat_friedman."""
    d = tmp_path_factory.mktemp("drift_friedman_incomplete")
    sf_dir = _clone_fixture(d)
    t = pq.read_table(f"{_SRC}/orders.parquet")
    df = t.to_pandas()
    prio = sorted(df["o_orderpriority"].dropna().unique())[0]
    mask = (
        (df["o_orderdate"].astype(str).str.startswith("1996-03"))
        & (df["o_orderpriority"] == prio)
    )
    assert mask.any(), "fixture lacks 1996-03 orders of the chosen priority"
    pq.write_table(
        pa.Table.from_pandas(df[~mask], schema=t.schema, preserve_index=False),
        f"{sf_dir}/orders.parquet",
    )
    return sf_dir


def test_friedman_incomplete_design_yields_null(spark, incomplete_blocks_dir):
    """ADVICE-r12: the Friedman closed form assumes a complete block
    design; with a treatment missing from a block both engines must
    emit NULL, not a silently wrong statistic — and stay in parity."""
    from fact_hive_custom_spark.queries import QUERIES

    ok, detail = compare(spark, "q_stat_friedman", incomplete_blocks_dir)
    assert ok, f"q_stat_friedman on incomplete design: {detail}"
    rows = QUERIES["q_stat_friedman"](spark, incomplete_blocks_dir).collect()
    assert rows and all(r.friedman_e6 is None for r in rows)


@pytest.fixture(scope="module")
def rotating_absence_dir(tmp_path_factory):
    """sf0.001 where priority i is removed from month i (i = 1..k) —
    every treatment appears in the SAME number of blocks (12 − 1) but
    not the same SET of blocks, so per-block k varies while the old
    bmin = b guard still passes. The round-13 ADVICE case."""
    d = tmp_path_factory.mktemp("drift_friedman_rotating")
    sf_dir = _clone_fixture(d)
    t = pq.read_table(f"{_SRC}/orders.parquet")
    df = t.to_pandas()
    prios = sorted(df["o_orderpriority"].dropna().unique())
    dates = df["o_orderdate"].astype(str)
    mask = None
    for i, prio in enumerate(prios, start=1):
        m = dates.str.startswith(f"1996-{i:02d}") & (
            df["o_orderpriority"] == prio
        )
        assert m.any(), f"fixture lacks 1996-{i:02d} orders of {prio!r}"
        mask = m if mask is None else (mask | m)
    pq.write_table(
        pa.Table.from_pandas(df[~mask], schema=t.schema, preserve_index=False),
        f"{sf_dir}/orders.parquet",
    )
    return sf_dir


def test_friedman_rotating_absence_yields_null(spark, rotating_absence_dir):
    """ADVICE-r13: treatments appearing in EQUAL counts of DIFFERENT
    blocks defeat the bmin = b guard while the within-block ranks are
    wrong; the b = COUNT(DISTINCT block) census check must force NULL
    on both engines — and stay in parity."""
    from fact_hive_custom_spark.queries import QUERIES

    ok, detail = compare(spark, "q_stat_friedman", rotating_absence_dir)
    assert ok, f"q_stat_friedman on rotating-absence design: {detail}"
    rows = QUERIES["q_stat_friedman"](spark, rotating_absence_dir).collect()
    assert rows and all(r.friedman_e6 is None for r in rows)


@pytest.fixture(scope="module")
def negative_value_events_dir(tmp_path_factory):
    """sf0.001 with every event value negated — makes each variant's
    post-period Y sum NEGATIVE, the case where Spark's truncating DIV
    and DuckDB's flooring // disagree by 1 (round-13 ADVICE on
    q_stat_cuped's mean_y_e4)."""
    d = tmp_path_factory.mktemp("drift_cuped_negative")
    sf_dir = _clone_fixture(d)
    t = pq.read_table(f"{_SRC}/events.parquet")
    df = t.to_pandas()
    df["value"] = -df["value"]
    pq.write_table(
        pa.Table.from_pandas(df, schema=t.schema, preserve_index=False),
        f"{sf_dir}/events.parquet",
    )
    return sf_dir


def test_cuped_negative_y_sum_stays_in_parity(spark, negative_value_events_dir):
    """ADVICE-r13: nothing in the schema guarantees value >= 0; with
    negative per-variant Y sums the sign-safe shared floor must keep
    mean_y_e4 identical cross-engine (truncation would round toward
    zero on Spark only)."""
    from fact_hive_custom_spark.queries import QUERIES

    ok, detail = compare(spark, "q_stat_cuped", negative_value_events_dir)
    assert ok, f"q_stat_cuped on negated values: {detail}"
    rows = QUERIES["q_stat_cuped"](spark, negative_value_events_dir).collect()
    # the negated fixture must actually exercise the negative branch
    assert any(r.mean_y_e4 < 0 for r in rows), rows


def _replace_orders(tmp_path_factory, tag, dates, prices):
    """Clone sf0.001 and REPLACE orders with len(dates) rows (one per
    (date, price) pair, keys/status/priority synthesized)."""
    import datetime

    d = tmp_path_factory.mktemp(tag)
    sf_dir = _clone_fixture(d)
    t = pq.read_table(f"{_SRC}/orders.parquet")
    base = {
        "o_orderkey": list(range(1, len(dates) + 1)),
        "o_custkey": [1] * len(dates),
        "o_orderstatus": ["F"] * len(dates),
        "o_totalprice": list(prices),
        "o_orderdate": [datetime.datetime(1996, 1, day) for day in dates],
        "o_orderpriority": ["1-URGENT"] * len(dates),
    }
    pq.write_table(pa.table(base, schema=t.schema), f"{sf_dir}/orders.parquet")
    return sf_dir


@pytest.fixture(scope="module")
def constant_series_dir(tmp_path_factory):
    """10 distinct days, IDENTICAL daily revenue → Ljung-Box b = 0
    (autocorrelation undefined on a constant series)."""
    return _replace_orders(
        tmp_path_factory, "drift_lb_constant", range(1, 11), [100.0] * 10
    )


@pytest.fixture(scope="module")
def short_series_dir(tmp_path_factory):
    """4 distinct days with DIFFERENT revenues → n=4 ≤ 5 lags: the Q
    term's divisor (n-k) hits zero and negative, where Spark DIV
    (truncate) and DuckDB // (floor) disagree — the case the totality
    guard exists for."""
    return _replace_orders(
        tmp_path_factory, "drift_lb_short", range(1, 5),
        [100.0, 250.0, 75.0, 400.0],
    )


@pytest.mark.parametrize("fx", ["constant_series_dir", "short_series_dir"])
def test_ljung_box_degenerate_series_total_and_parity(spark, fx, request):
    """ADVICE-r12/VERDICT item 7: the newest sketch queries must be
    TOTAL — a constant or too-short series yields NULL statistics on
    both engines, never a crash or a floor-vs-truncate divergence."""
    sf_dir = request.getfixturevalue(fx)
    ok, detail = compare(spark, "q_ts_ljung_box", sf_dir)
    assert ok, f"q_ts_ljung_box on {fx}: {detail}"
    from fact_hive_custom_spark.queries import QUERIES

    rows = QUERIES["q_ts_ljung_box"](spark, sf_dir).collect()
    assert len(rows) == 5
    for r in rows:
        if fx == "constant_series_dir" or r.lag >= 4:  # n=4: lags 4,5 undefined
            assert r.r2_ppm is None and r.q_term_e6 is None, r


@pytest.fixture(scope="module")
def null_user_events_dir(tmp_path_factory):
    """events with every user_id NULL — the Wilson-CI / SRM variant
    tables are EMPTY (no qualifying rows at all)."""
    d = tmp_path_factory.mktemp("drift_wilson_empty")
    sf_dir = _clone_fixture(d)
    t = pq.read_table(f"{_SRC}/events.parquet")
    arrs, fields = [], []
    for f in t.schema:
        if f.name == "user_id":
            arrs.append(pa.nulls(t.num_rows, f.type))
        else:
            arrs.append(t.column(f.name).combine_chunks())
        fields.append(f)
    pq.write_table(
        pa.table(dict(zip([f.name for f in fields], arrs)), schema=t.schema),
        f"{sf_dir}/events.parquet",
    )
    return sf_dir


def test_wilson_ci_and_srm_on_empty_variants(spark, null_user_events_dir):
    """Zero qualifying events → zero output rows, identically on both
    engines (the group table is sparse; no division-by-zero row can
    exist). Covers q_stat_wilson_ci and the SRM guardrail."""
    from fact_hive_custom_spark.queries import QUERIES

    for name in ("q_stat_wilson_ci", "q_stat_srm"):
        ok, detail = compare(spark, name, null_user_events_dir)
        assert ok, f"{name} on all-NULL user_id: {detail}"
        assert QUERIES[name](spark, null_user_events_dir).count() == 0


def test_embedding_modal_dim_matches_pq_contract():
    """r15 ADVICE (clustering.py d_dim): q_llm_pca_power accumulates
    the outer product as _PQ_M × _PQ_SUB columnar SUMs, and the
    embedding contract only guarantees the MODAL dimension — if a
    fixture regeneration ever changed the modal dim away from the PQ
    constant, element_at past the array end would NULL-scatter (or
    silently drop) dimensions. Fail loudly here instead."""
    from collections import Counter

    from fact_hive_custom_spark.queries.corpus import _PQ_M, _PQ_SUB

    for sf in ("sf0.001", "sf0.01"):
        t = pq.read_table(f"/root/testdata/{sf}/embeddings.parquet")
        lens = Counter(
            len(v) for v in t.column("embedding").to_pylist() if v is not None
        )
        modal = lens.most_common(1)[0][0]
        assert modal == _PQ_M * _PQ_SUB, (sf, modal, _PQ_M * _PQ_SUB)
