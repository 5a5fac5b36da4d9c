"""Physical-plan regression tests: the scale properties the engine
advertises (no cartesian products, pruned scans, broadcast dimension
joins) pinned at the explain level so a plan regression fails CI, not a
100-TB run."""

from __future__ import annotations

import pytest

from tests.conftest import SF_DIR, spark  # noqa: F401 (fixture)


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_no_cartesian_product_in_any_catalog_plan(spark):  # noqa: F811
    """CartesianProduct (the non-broadcast cross join) is the pair-blowup
    failure mode — no catalog query may plan one. (1-row metric
    assemblies compile to BroadcastNestedLoopJoin over single-row sides,
    which is fine and explicitly not matched here.)

    Streaming/ML-fit queries are skipped: their work happens inside
    query execution harnesses, not in the returned batch plan."""
    from yelp_recommender_spark.queries import QUERIES

    skip = {
        # execute streams / iterative fits as a side effect of building
        # the result — executing them here would re-run half the suite
        "q56_als_recommend", "q57_hybrid_recommend",
        "q59_streaming_hourly_counts", "q61_streaming_sessions",
        "q62_streaming_dedup", "q42_ann_lsh_recall", "q43_ann_ivf_recall",
        "q51_item_cf_weights", "q52_item_cf_predict", "q53_user_cf_predict",
    }
    offenders = []
    for name, fn in sorted(QUERIES.items()):
        if name in skip:
            continue
        df = fn(spark, SF_DIR)
        if "CartesianProduct" in _plan(df):
            offenders.append(name)
    assert not offenders, f"cartesian products planned in: {offenders}"


def test_q01_scan_prunes_columns(spark):  # noqa: F811
    """The q01 aggregate touches 7 of lineitem's 16 columns — the parquet
    ReadSchema must not include any other column (column pruning reached
    the scan)."""
    from yelp_recommender_spark.queries import QUERIES

    plan = _plan(QUERIES["q01_pricing_summary"](spark, SF_DIR))
    scan = next(
        line for line in plan.splitlines() if "ReadSchema" in line
    )
    for col in ("l_orderkey", "l_partkey", "l_suppkey", "l_comment",
                "l_shipmode", "l_commitdate"):
        assert col not in scan, f"unpruned column {col}: {scan}"
    assert "l_quantity" in scan and "l_returnflag" in scan


def test_q20_scan_prunes_documents_payload(spark):  # noqa: F811
    """The shared token cache carries exactly its consumers' columns
    (doc_id, text, lang for q23, source for q25) — the unused n_chars
    column must NOT ride through the repartition shuffle and the cache.
    Caught live in round 4: the unprojected cache read all five columns."""
    from yelp_recommender_spark.cache import clear_caches
    from yelp_recommender_spark.queries import QUERIES

    clear_caches()  # force a fresh plan, not a prior cache substitution
    plan = _plan(QUERIES["q20_token_stats"](spark, SF_DIR))
    scans = [l for l in plan.splitlines() if "ReadSchema" in l]
    assert scans, "no documents scan found in the plan"
    for s in scans:
        assert "n_chars" not in s, s


def test_q50_dimension_joins_broadcast(spark):  # noqa: F811
    """The baseline predict joins two small average tables — both must
    plan as BroadcastHashJoin, never a shuffled sort-merge join."""
    from yelp_recommender_spark.queries import QUERIES

    plan = _plan(QUERIES["q50_baseline_predict"](spark, SF_DIR))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_q31_blocking_join_shape(spark):  # noqa: F811
    """The shingle blocking self-join must stay an equi-join on the
    shingle key: no CartesianProduct and no BroadcastNestedLoopJoin
    (the theta-join blowup shapes). At test scale AQE may legitimately
    broadcast the tiny postings side; the key-based join TYPE is the
    invariant, not the distribution strategy."""
    from yelp_recommender_spark.queries import QUERIES

    plan = _plan(QUERIES["q31_ngram_jaccard_pairs"](spark, SF_DIR))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_q83_zorder_plan_is_map_only_plus_topn(spark):  # noqa: F811
    """The Morton code is pure codegen'd column algebra and the first-
    100 cut is a TakeOrderedAndProject (per-partition heaps merged on
    the driver) — the plan must contain NO shuffle exchange at all."""
    from yelp_recommender_spark.queries import QUERIES

    plan = _plan(QUERIES["q83_zorder_events"](spark, SF_DIR))
    assert "TakeOrderedAndProject" in plan
    assert "Exchange" not in plan


def test_q85_weighted_sample_plan_is_map_only_plus_topn(spark):  # noqa: F811
    """A-ES weighted sampling = per-row selector expression + global
    top-n; like q83 it must plan without any shuffle exchange."""
    from yelp_recommender_spark.queries import QUERIES

    plan = _plan(QUERIES["q85_weighted_sample"](spark, SF_DIR))
    assert "TakeOrderedAndProject" in plan
    assert "Exchange" not in plan


def test_q84_bloom_probe_joins_broadcast(spark):  # noqa: F811
    """Every word-table lookup in the bloom pre-filter must be a
    broadcast hash join (the fact side is pruned map-side before the
    exact semi-join)."""
    from yelp_recommender_spark.queries import QUERIES

    plan = _plan(QUERIES["q84_bloom_semijoin"](spark, SF_DIR))
    assert plan.count("BroadcastHashJoin") >= 5  # n_hashes lookups


def test_q92_pivot_is_single_shuffle_no_distinct_scan(spark):  # noqa: F811
    """The pivot declares its value domain, so the plan must be the
    two-stage pivot aggregate — partial agg on (user,type), shuffle,
    pivotfirst on user (2 exchanges, the second over pre-aggregated
    rows) — with NO extra distinct subtree discovering pivot columns
    (which would add a third exchange + an eager collect job)."""
    from yelp_recommender_spark.queries import QUERIES

    plan = _plan(QUERIES["q92_event_type_pivot"](spark, SF_DIR))
    assert plan.count("Exchange") == 2, plan
    # pivot with explicit values compiles to pivot_first aggregates in
    # the same hash-aggregate pair; no separate distinct-on-event_type
    assert "pivotfirst" in plan.lower() or "pivot_first" in plan.lower(), plan


def test_q93_unpivot_is_expand_no_extra_shuffle(spark):  # noqa: F811
    """Unpivot must compile to a row-local Expand over the aggregated
    input: one exchange (the groupBy), an Expand node, nothing else."""
    from yelp_recommender_spark.queries import QUERIES

    plan = _plan(QUERIES["q93_lineitem_unpivot"](spark, SF_DIR))
    assert "Expand" in plan, plan
    assert plan.count("Exchange") == 1, plan


def test_q95_part_dimension_broadcasts(spark):  # noqa: F811
    """The Q17-shape decorrelated join must broadcast the part dimension
    (and never plan a nested-loop for the threshold comparison — that
    predicate is a post-join filter on equi-joined rows)."""
    from yelp_recommender_spark.queries import QUERIES

    plan = _plan(QUERIES["q95_small_quantity_revenue"](spark, SF_DIR))
    assert "BroadcastHashJoin" in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_q97_windows_over_aggregate_not_facts(spark):  # noqa: F811
    """The RANGE-frame window must run over the daily aggregate: exactly
    2 exchanges — the fine-grained (flag, day) groupBy, then the tiny
    repartition-to-flag for the frame. A third exchange (or a window
    before the aggregate) would shuffle raw facts onto the 3-value flag
    key."""
    from yelp_recommender_spark.queries import QUERIES

    plan = _plan(QUERIES["q97_moving_revenue_7d"](spark, SF_DIR))
    assert plan.count("Exchange") == 2, plan
    assert "Window" in plan, plan


def test_q102_window_and_groupby_share_partitioning(spark):  # noqa: F811
    """row_number cap and the per-user concat groupBy are both keyed on
    user_id — the plan must carry ONE exchange, reused by both."""
    from yelp_recommender_spark.queries import QUERIES

    plan = _plan(QUERIES["q102_event_sequences"](spark, SF_DIR))
    assert plan.count("Exchange") == 1, plan


def test_q106_overlap_join_is_equi_not_nested_loop(spark):  # noqa: F811
    """The interval-overlap join must plan as a hash equi-join on the
    bucket key (broadcast at test scale, shuffled hash/SMJ beyond) —
    never the BroadcastNestedLoopJoin a raw theta join would produce."""
    from yelp_recommender_spark.queries import QUERIES

    plan = _plan(QUERIES["q106_interval_overlap"](spark, SF_DIR))
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert (
        "BroadcastHashJoin" in plan
        or "SortMergeJoin" in plan
        or "ShuffledHashJoin" in plan
    ), plan


def test_new_ann_surfaces_plan_no_cartesian(spark):  # noqa: F811
    """The r6 operator surfaces are not catalog queries, so the catalog
    sweep above never sees their plans — pin them here: the bounded
    near-dup contract on BOTH tiers and the exact topk_auto rung must
    plan zero CartesianProduct (the LSH paths join on bucket/id keys;
    the exact paths are map-only Arrow kernels). The ivf and ivfpq
    rungs return a driver-merged local relation, so their scoring scans
    are pinned instead: map-only, no CartesianProduct and no Exchange."""
    from pyspark.sql import functions as F

    from yelp_recommender_spark.operators.ann import (
        cosine_pairs_above,
        cosine_pairs_above_lsh,
        ivf_fit_assign,
        ivf_topk_scan,
        topk_auto,
    )
    from yelp_recommender_spark.operators.pq import (
        ivfpq_topk_scan,
        train_and_encode,
    )
    from yelp_recommender_spark.sources.tables import load_tables

    emb = load_tables(spark, SF_DIR, ["embeddings"])["embeddings"]
    emb = emb.withColumn("embedding", F.col("embedding").cast("array<double>"))
    queries = emb.limit(5)
    plans = {
        "bounded_exact": cosine_pairs_above(
            emb, threshold=0.4, max_pairs_per_doc=3
        ),
        "bounded_lsh": cosine_pairs_above_lsh(
            emb, threshold=0.4, max_pairs_per_doc=3,
            n_planes=4, n_tables=2,
        ),
        "topk_exact": topk_auto(queries, emb, k=3, tier="exact"),
    }
    offenders = [n for n, df in plans.items()
                 if "CartesianProduct" in _plan(df)]
    assert not offenders, f"cartesian products planned in: {offenders}"

    assigned, centers = ivf_fit_assign(emb, n_centroids=8)
    books, coded = train_and_encode(assigned, centers, m=4, ksub=16)
    scans = {
        "ivf_scan": ivf_topk_scan(queries, assigned, centers, k=3, n_probe=4),
        "ivfpq_scan": ivfpq_topk_scan(
            queries, coded, centers, books, k=3, n_probe=4
        ),
    }
    for name, scan in scans.items():
        plan = _plan(scan)
        assert "MapInPandas" in plan, (name, plan)
        assert "CartesianProduct" not in plan, (name, plan)
        assert "Exchange" not in plan, (name, plan)
