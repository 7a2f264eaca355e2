"""Physical-plan regression tests: the scale properties SURVEY §4 commits to.

These pin the *plan shape*, not results: filters/projections reach the parquet
scan, small dims broadcast, relational paths contain no Python UDFs, and
codegen covers the scalar pipelines. A regression here is a 100×-scale
performance bug even when results stay correct.
"""

from __future__ import annotations

import pytest

pytestmark = pytest.mark.slow  # full suite is the gate; -m 'not slow' is the fast path
from pyspark.sql import functions as F

from schwab_elt_etl_pipeline_spark.catalog import all_specs
from schwab_elt_etl_pipeline_spark.sources import load_table


def _executed_plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _optimized_plan(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_filter_pushdown_reaches_scan(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_quantity") < 10).select(
        "l_orderkey", "l_quantity"
    )
    plan = _executed_plan(li)
    assert "PushedFilters: [" in plan and "LessThan(l_quantity" in plan
    # column pruning: the 11-column table reads only the 2 referenced columns
    assert "ReadSchema: struct<l_orderkey:bigint,l_quantity:double>" in plan


def test_q5_broadcasts_dims(spark, sf_dir):
    from schwab_elt_etl_pipeline_spark.catalog.analytics import q5_region_revenue

    plan = _executed_plan(q5_region_revenue(spark, sf_dir))
    assert "BroadcastHashJoin" in plan  # region⋈nation dim side broadcast


def test_silver_optm_join_broadcasts(spark):
    import datetime as dt

    from schwab_elt_etl_pipeline_spark.plans import silver
    from schwab_elt_etl_pipeline_spark.schemas import QUOTES_STREAM

    ms = int(dt.datetime(2024, 6, 17, 13, 40, tzinfo=dt.timezone.utc).timestamp() * 1000)
    quotes = spark.createDataFrame(
        [(ms, "SPXW  240621C05500000", 20.0, ms, None, None)], QUOTES_STREAM
    )
    opt, optm = silver.run_silver(quotes)
    assert "BroadcastHashJoin" in _executed_plan(optm)


def test_no_python_udfs_in_relational_catalog(spark, sf_dir):
    """Every catalog query except the explicitly Python-backed multimodal
    decode must stay JVM-side (no BatchEvalPython / ArrowEvalPython /
    mapInPandas)."""
    for spec in all_specs():
        plan = _optimized_plan(spec.build(spark, sf_dir))
        if spec.name == "multimodal_decode":
            # the one sanctioned Python stage: Arrow-batched, irreducible
            assert "MapInPandas" in plan
            continue
        assert "PythonUDF" not in plan and "MapInPandas" not in plan, spec.name


#: Queries allowed to contain BroadcastNestedLoopJoin: each one broadcasts a
#: provably tiny side (a 1-row scalar aggregate, or the ANN query vector set).
#: (kept in sync with test_plan_shapes._BNLJ_OK — same invariant, the two
#: sweeps inspect different plan stages: optimized here, executed there)
_SANCTIONED_BNLJ = {
    "ann_cosine_topk",       # brute-force baseline: corpus × broadcast queries
    "retrieval_mmr_diverse",  # pool stage: corpus × broadcast queries
    "retrieval_rrf_hybrid",  # 1-row query-vector set (dense arm)
    "kmeans_lloyd_train",    # ≤8-row centroid table (E-step)
    "ann_ivf_kmeans",        # centroid assignment: corpus × broadcast centroids
    "ann_pq_adc",            # ≤3-row query-vector set (exact-anchor pass)
    "ann_ivfadc",            # ≤3-row query-vector set (exact-anchor pass)
    "ann_pq_index",          # ≤3-row query-vector set (exact-anchor pass)
    "ann_ivfadc_index",      # ≤3-row query-vector set (exact-anchor pass)
    "embedding_near_dup",    # pairwise baseline over broadcast sample
    "kmeans_assign_fixed",   # E-step: corpus × broadcast centroid set (8 rows)
    "q11_important_suppliers",  # 1-row global-total broadcast
    "q22_global_avg_anti",   # 1-row scalar-average broadcast
    "phrase_detection_pmi",  # 1-row token-total scalar
    "assoc_rules_lift",      # 1-row basket-total scalar
    "unigram_rarity",        # 1-row corpus-total broadcast
    "tfidf_topk_keywords",   # 1-row doc-count broadcast
    "boilerplate_line_scrub",  # 1-row doc-count threshold scalar
    "semantic_decontam_select",  # corpus x broadcast eval-anchor set
    "kneser_ney_score",      # 1-row bigram-type-total scalar
    "event_funnel",          # 1-row base-population broadcast
    "dq_expectations_orders",  # crossJoin of two 1-row check aggregates
    "a_heavy_hitters_sketch",  # 1-row token-total + 1-row sketch broadcast
    "bm25_retrieval",        # 1-row corpus-stats broadcast
    "a_theta_set_ops",       # |event_types|^2 pair join (5x5) on broadcast sketches
    "quality_quantile_gate",  # 1-row percentile-threshold scalar
    "bigram_lm_perplexity_gate",  # 1-row corpus-totals + threshold scalars
    "unigram_lm_em_round",   # 1-row M-step total scalar
    "unigram_lm_em_iterated",  # 1-row M-step total scalar
    "unigram_lm_tokenize",   # 1-row M-step total scalar (training stage)
    "perplexity_bucket_split",  # 1-row corpus-totals + cut scalars
    "dsir_importance_select",  # 1-row model-totals + shift scalars
    "doremi_mixture_reweight",  # 1-row mixture/reference/max-excess scalars per round
    "training_prep_e2e",     # 1-row percentile-threshold scalar
    "training_prep_ffd_e2e",  # same 1-row threshold scalar (shared front)
    "ann_projected_rerank",  # coarse sketch pass over broadcast query set
    "a_equidepth_hist",      # 1-row decile-boundary scalar
    "j_bloom_semi_join",     # 1-row 2KiB bloom-bitmap scalar
}


def test_no_unbounded_cross_products(spark, sf_dir):
    """No catalog plan may contain a CartesianProduct (both sides shuffled =
    quadratic at scale); BroadcastNestedLoopJoin only where the broadcast
    side is a scalar/tiny relation (allowlist above)."""
    for spec in all_specs():
        plan = _executed_plan(spec.build(spark, sf_dir))
        assert "CartesianProduct" not in plan, spec.name
        if spec.name not in _SANCTIONED_BNLJ:
            assert "BroadcastNestedLoopJoin" not in plan, spec.name


def test_new_analytics_broadcast_dims(spark, sf_dir):
    """q7/q8/q9: every nation/supplier/part dim side must broadcast — the
    fact table is the only shuffle participant."""
    from schwab_elt_etl_pipeline_spark.catalog.analytics4 import (
        q7_volume_shipping,
        q8_market_share,
        q9_product_profit,
    )

    for fn, n_bcast in ((q7_volume_shipping, 2), (q8_market_share, 3), (q9_product_profit, 2)):
        plan = _executed_plan(fn(spark, sf_dir))
        assert plan.count("BroadcastHashJoin") >= n_bcast, fn.__name__


@pytest.mark.parametrize(
    "name,max_exchanges",
    [
        # r13 long-sum rewrite: per-(group, input-partition) long partials
        # then a decimal merge — TWO tiny exchanges, neither carrying raw
        # rows (shape pinned in test_plan_shapes.py's q1 exchange test)
        ("q1_pricing_summary", 2),
        ("a_cube_revenue", 1),       # grouping sets expand map-side
        ("sample_hash_mod", 1),      # sampling predicate below the agg
        ("w_rank_family", 1),        # one window sort
        ("a_collect_sorted", 1),
        ("fuzzy_name_pairs", 0),     # blocked self-join broadcasts
        ("t_tumbling_candles", 1),
    ],
)
def test_shuffle_budget(spark, sf_dir, name, max_exchanges):
    """ARCHITECTURE.md's shuffle-budget claims, executable: these plan shapes
    are scale-invariant (no broadcast-threshold dependence), so their shuffle
    Exchange count is a hard budget."""
    import re

    spec = next(s for s in all_specs() if s.name == name)
    plan = _executed_plan(spec.build(spark, sf_dir))
    n = len(re.findall(r"^\s*[:+\-\* ]*Exchange", plan, re.M))
    assert n <= max_exchanges, f"{name}: {n} shuffle exchanges (budget {max_exchanges})"


def test_cube_single_shuffle(spark, sf_dir):
    """CUBE expands grouping sets map-side: one Exchange total."""
    from schwab_elt_etl_pipeline_spark.catalog.analytics4 import a_cube_revenue

    plan = _executed_plan(a_cube_revenue(spark, sf_dir))
    assert plan.count("Exchange hashpartitioning") == 1


def test_sample_filter_stays_in_scan_stage(spark, sf_dir):
    """Deterministic hash-mod sampling is a plain integer predicate — it must
    evaluate inside the first codegen stage (no exchange below it), so the
    sampled-out 95 % never reaches a shuffle."""
    from schwab_elt_etl_pipeline_spark.catalog.analytics4 import sample_hash_mod

    plan = _executed_plan(sample_hash_mod(spark, sf_dir))
    scan_stage = plan.split("Exchange")[-1]  # text below the last Exchange
    assert "Filter" in scan_stage and "Scan parquet" in scan_stage


def test_symbol_parse_single_codegen_stage(spark, sf_dir):
    from schwab_elt_etl_pipeline_spark.functions.symbols import parse_option_symbol

    df = (
        load_table(spark, sf_dir, "part")
        .select(F.concat(F.lit("SPXW  260813C0600000"), (F.col("p_partkey") % 10).cast("string")).alias("symbol"))
        .select(parse_option_symbol("symbol").alias("o"))
    )
    plan = _executed_plan(df)
    # toString marks codegen stages with "*(n)"; one span covers the projection
    assert plan.startswith("*(1) Project")


def test_anti_join_is_join_not_filter_loop(spark, sf_dir):
    from schwab_elt_etl_pipeline_spark.catalog.operators_demo import j3_anti_join

    plan = _executed_plan(j3_anti_join(spark, sf_dir))
    assert "LeftAnti" in plan


def test_bucketed_join_elides_shuffle(spark, sf_dir):
    """SURVEY §4: bucketing replaces the reference's join indexes — two
    tables bucketed on the join key must sort-merge-join with NO exchange."""
    from pyspark.sql import functions as F

    from schwab_elt_etl_pipeline_spark.sources.bucketed import save_bucketed

    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        li = load_table(spark, sf_dir, "lineitem")
        o = load_table(spark, sf_dir, "orders")
        save_bucketed(li.select("l_orderkey", "l_quantity"), "t_li_b", 8, ["l_orderkey"])
        save_bucketed(o.select("o_orderkey", "o_totalprice"), "t_o_b", 8, ["o_orderkey"])
        j = spark.table("t_li_b").join(
            spark.table("t_o_b"), F.col("l_orderkey") == F.col("o_orderkey")
        )
        plan = _executed_plan(j)
        assert j.count() > 0
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan  # co-located buckets: zero shuffle
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        spark.sql("DROP TABLE IF EXISTS t_li_b")
        spark.sql("DROP TABLE IF EXISTS t_o_b")


@pytest.mark.parametrize("name", ["t9_gapfill_locf", "flagship_vertical_analytics"])
def test_gapfill_partitions_explode(spark, sf_dir, name):
    """The grid explode must sit above a hash repartition on the entity —
    otherwise a coalesced single partition serializes the fan-out."""
    spec = next(s for s in all_specs() if s.name == name)
    plan = _executed_plan(spec.build(spark, sf_dir))
    assert "Exchange hashpartitioning(user_id" in plan
    assert "Generate explode" in plan


def test_multimodal_real_codec_when_available(spark):
    """Real-codec path: with Pillow importable, a genuine PNG payload decodes
    to thumbnail features and resize re-encodes at the target size. Skipped
    where no codec exists (the deterministic stub tests above still pin the
    plumbing)."""
    import pytest

    from schwab_elt_etl_pipeline_spark.operators import multimodal as mm

    if not mm.HAS_PIL:
        pytest.skip("Pillow not installed — stub kernels in use")

    import io

    from PIL import Image

    buf = io.BytesIO()
    Image.new("RGB", (32, 16), color=(200, 30, 30)).save(buf, format="PNG")
    png = buf.getvalue()
    media = spark.createDataFrame(
        [(1, "image", "image/png", bytearray(png), (32, 16, None, None))],
        mm.MEDIA_SCHEMA,
    )
    feats = mm.decode_stub_features(media).first()
    assert feats["features"] != mm._decode_one_stub(png)  # real decode ran
    assert all(0.0 <= v <= 1.0 for v in feats["features"])

    resized = mm.resize_stub(media, width=8, height=8).first()
    out = Image.open(io.BytesIO(bytes(resized["payload"])))
    assert out.size == (8, 8)
    assert resized["meta"]["width"] == 8 and resized["meta"]["height"] == 8
