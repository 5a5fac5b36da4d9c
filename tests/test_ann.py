"""Unit tests for the ANN operators in their design regime.

q42's recall on the synthetic embeddings table is the worst case (its
most-similar pairs are at cos≈0.45, where any sign-LSH family is weak);
here we verify the operators on data with genuine near-duplicates
(cos ≥ 0.99), where SRP-LSH must find essentially everything, and that
the brute-force top-k matches an independent numpy computation.
"""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from tests.conftest import spark  # noqa: F401 (fixture)

DIM = 32
N_BASE = 40
COPIES = 3  # near-dup copies per base vector


@pytest.fixture(scope="module")
def neardup_df(spark):  # noqa: F811
    rng = np.random.default_rng(7)
    base = rng.standard_normal((N_BASE, DIM))
    rows = []
    vid = 0
    for i in range(N_BASE):
        for _ in range(COPIES):
            noisy = base[i] + 0.01 * rng.standard_normal(DIM)
            rows.append((vid, i, [float(x) for x in noisy]))
            vid += 1
    return spark.createDataFrame(rows, "vec_id long, base int, embedding array<double>")


def _true_pairs(df):
    from yelp_recommender_spark.operators.ann import cosine_pairs_above

    return {
        (r.id1, r.id2)
        for r in cosine_pairs_above(df, threshold=0.99).collect()
    }


def test_neardup_truth_is_the_planted_copies(neardup_df):
    truth = _true_pairs(neardup_df)
    # every planted (same-base) pair is a near-dup; no cross-base pairs
    planted = {
        (a, b)
        for a in range(N_BASE * COPIES)
        for b in range(a + 1, N_BASE * COPIES)
        if a // COPIES == b // COPIES
    }
    assert truth == planted


def test_srp_lsh_recall_high_in_neardup_regime(neardup_df):
    from yelp_recommender_spark.operators.ann import lsh_bucket_candidates

    truth = _true_pairs(neardup_df)
    cand = {
        (r.id1, r.id2)
        for r in lsh_bucket_candidates(
            neardup_df, n_planes=8, dim=DIM, n_tables=6
        ).collect()
    }
    n_all_pairs = (N_BASE * COPIES) * (N_BASE * COPIES - 1) // 2
    recall = len(truth & cand) / len(truth)
    assert recall >= 0.95, f"recall {recall} on cos>=0.99 pairs"
    # and it actually prunes: candidates must be far below all-pairs
    assert len(cand) < 0.2 * n_all_pairs, f"{len(cand)} of {n_all_pairs}"


def test_cosine_topk_matches_numpy(neardup_df, spark):  # noqa: F811
    from yelp_recommender_spark.operators.ann import cosine_topk

    rows = neardup_df.orderBy("vec_id").collect()
    mat = np.array([r.embedding for r in rows])
    mat = mat / np.linalg.norm(mat, axis=1, keepdims=True)
    sims = np.round(mat @ mat.T, 6)

    probes = neardup_df.filter("vec_id < 5")
    got = cosine_topk(probes, neardup_df, k=3).collect()
    by_query: dict[int, list] = {}
    for r in got:
        by_query.setdefault(r.query_id, []).append(r)
    for q, neigh in by_query.items():
        s = sims[q].copy()
        ids = np.arange(len(s))
        mask = ids != q
        order = np.lexsort((ids[mask], -s[mask]))
        expect = [(int(ids[mask][i]), float(s[mask][i])) for i in order[:3]]
        gotten = [
            (r.neighbor_id, r.cos)
            for r in sorted(neigh, key=lambda r: r.rank)
        ]
        assert gotten == expect, f"query {q}: {gotten} != {expect}"


def test_srp_params_for_recall_algebra():
    """Derived (n_planes, n_tables) must actually reach the target
    worst-case recall, across the threshold range, and honor the table
    budget."""
    from yelp_recommender_spark.operators.ann import (
        srp_expected_recall,
        srp_params_for_recall,
    )

    for threshold in (0.2, 0.4, 0.6, 0.8, 0.95, 0.99):
        k, t = srp_params_for_recall(threshold, target_recall=0.95)
        assert t <= 64
        assert srp_expected_recall(threshold, k, t) >= 0.95, (
            f"threshold={threshold}: ({k},{t}) gives "
            f"{srp_expected_recall(threshold, k, t)}"
        )
    # lower thresholds need fewer planes / more tables — monotone shape
    k_low, _ = srp_params_for_recall(0.2)
    k_high, _ = srp_params_for_recall(0.95)
    assert k_low <= k_high


def test_allpairs_planner_limit_is_quadratic_aware():
    """The ALL-PAIRS planner must switch to LSH far below the serving
    kernels' broadcast-memory ceiling: exact all-pairs cost is O(N²·d),
    so routing exact at the 5M-row index limit would schedule ~2.5e13
    cosines. Pin the default routing limit to the quadratic-aware
    constant (and the constant to a feasible magnitude) so a refactor
    can't silently re-point the default at the memory ceiling."""
    import inspect

    from yelp_recommender_spark.operators.ann import (
        DEFAULT_ALLPAIRS_EXACT_LIMIT,
        DEFAULT_BROADCAST_INDEX_LIMIT,
        cosine_pairs_above_auto,
    )

    sig = inspect.signature(cosine_pairs_above_auto)
    assert (
        sig.parameters["broadcast_limit"].default
        == DEFAULT_ALLPAIRS_EXACT_LIMIT
    )
    assert DEFAULT_ALLPAIRS_EXACT_LIMIT <= 200_000
    assert DEFAULT_ALLPAIRS_EXACT_LIMIT < DEFAULT_BROADCAST_INDEX_LIMIT


@pytest.fixture(scope="module")
def random_df(spark):  # noqa: F811
    """Unstructured gaussian vectors — pairs land at all cosines, many
    hovering just above/below 0.4: the regime where a fixed lossy LSH
    config silently dropped ~half the promised pairs (VERDICT r3 #1)."""
    rng = np.random.default_rng(11)
    mat = rng.standard_normal((150, 16))
    rows = [(i, [float(x) for x in mat[i]]) for i in range(150)]
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def test_lsh_recall_at_threshold_04(random_df):
    """The r3 scale-killer: auto-planner's LSH fallback at threshold 0.4
    must now reach >=0.95 recall vs the exact path (params derived from
    the threshold, not the old fixed n_planes=6/n_tables=12)."""
    from yelp_recommender_spark.operators.ann import (
        cosine_pairs_above,
        cosine_pairs_above_auto,
    )

    exact = {
        (r.id1, r.id2)
        for r in cosine_pairs_above(random_df, threshold=0.4).collect()
    }
    assert len(exact) > 100  # the fixture really exercises the regime
    via_lsh = {
        (r.id1, r.id2)
        for r in cosine_pairs_above_auto(
            random_df, threshold=0.4, broadcast_limit=0
        ).collect()
    }
    assert via_lsh <= exact  # re-score makes false positives impossible
    recall = len(via_lsh & exact) / len(exact)
    assert recall >= 0.95, f"LSH recall {recall} at threshold 0.4"


def test_lsh_empty_and_null_input_guard(spark):  # noqa: F811
    """ADVICE r2 #3: cosine_pairs_above_lsh crashed on empty input
    (head()[0] TypeError); must return an empty typed result instead."""
    from yelp_recommender_spark.operators.ann import cosine_pairs_above_lsh

    empty = spark.createDataFrame([], "vec_id long, embedding array<double>")
    out = cosine_pairs_above_lsh(empty, threshold=0.4)
    assert out.collect() == []
    assert [f.name for f in out.schema.fields] == ["id1", "id2", "cos"]

    null_first = spark.createDataFrame(
        [(1, None)], "vec_id long, embedding array<double>"
    )
    assert cosine_pairs_above_lsh(null_first, threshold=0.4).collect() == []


def test_broadcast_and_ivf_ops_handle_empty_inputs(spark):  # noqa: F811
    """Same crash class across the family: the broadcast-index matmuls
    raised numpy AxisError on an empty index/query side; every ANN
    operator must return an empty typed result instead."""
    from yelp_recommender_spark.operators.ann import (
        cosine_pairs_above,
        cosine_topk,
        ivf_topk,
    )

    empty = spark.createDataFrame([], "vec_id long, embedding array<double>")
    some = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 1.0])],
        "vec_id long, embedding array<double>",
    )
    assert cosine_pairs_above(empty, threshold=0.1).collect() == []
    assert cosine_topk(empty, empty, k=3).collect() == []
    assert cosine_topk(some, empty, k=3).collect() == []  # empty index
    assert cosine_topk(empty, some, k=3).collect() == []  # empty queries
    out = ivf_topk(some, empty, k=3, n_centroids=2, n_probe=1)
    assert out.collect() == []
    assert [f.name for f in out.schema.fields] == [
        "query_id", "neighbor_id", "cos", "rank",
    ]
    assert ivf_topk(empty, some, k=3, n_centroids=2, n_probe=1).collect() == []


def test_planner_uses_plan_stats_not_count(spark, monkeypatch):  # noqa: F811
    """Stats-based planner probe (VERDICT r3 #7): a plan that carries a
    Catalyst row count must route WITHOUT running a count() job."""
    from pyspark.sql import DataFrame

    from yelp_recommender_spark.operators.ann import (
        cosine_pairs_above_auto,
        estimated_row_count,
    )

    # CBO propagates rowCount through projections (production deployments
    # pair this with ANALYZE TABLE); build the plan fresh under it
    prev = spark.conf.get("spark.sql.cbo.enabled")
    spark.conf.set("spark.sql.cbo.enabled", "true")
    try:
        df = spark.range(3).select(
            F.col("id").alias("vec_id"),
            F.array(F.col("id").cast("double"), F.lit(1.0)).alias(
                "embedding"
            ),
        )
        est = estimated_row_count(df)
        assert est == 3

        def _no_count(self):
            raise AssertionError("count() job issued despite plan stats")

        monkeypatch.setattr(DataFrame, "count", _no_count)
        # must not raise: the probe answers the cardinality question
        cosine_pairs_above_auto(df, threshold=0.9, broadcast_limit=10)
    finally:
        spark.conf.set("spark.sql.cbo.enabled", prev)


def test_ivf_topk_contract_and_recall(neardup_df):
    """IVF top-k: same output contract as cosine_topk, high recall on
    clustered data (the 40-base × 3-copy fixture clusters naturally, so
    a query's true neighbors share its centroid)."""
    from yelp_recommender_spark.operators.ann import cosine_topk, ivf_topk

    probes = neardup_df.filter("vec_id < 30")
    exact = {
        (r.query_id, r.neighbor_id)
        for r in cosine_topk(probes, neardup_df, k=2).collect()
    }
    out = ivf_topk(probes, neardup_df, k=2, n_centroids=10, n_probe=3)
    assert [f.name for f in out.schema.fields] == [
        "query_id", "neighbor_id", "cos", "rank",
    ]
    got = out.collect()
    by_q: dict[int, list] = {}
    for r in got:
        assert r.query_id != r.neighbor_id  # self-matches excluded
        by_q.setdefault(r.query_id, []).append(r)
    for q, rows in by_q.items():
        ranks = sorted(r.rank for r in rows)
        assert ranks == list(range(1, len(rows) + 1))  # dense ranks
        coss = [r.cos for r in sorted(rows, key=lambda r: r.rank)]
        assert coss == sorted(coss, reverse=True)
    approx = {(r.query_id, r.neighbor_id) for r in got}
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.9, f"IVF recall {recall}"


def test_cosine_rescore_arrow_matches_column_expr(spark):  # noqa: F811
    """The vectorized einsum re-scorer must agree with the Column-algebra
    cosine on every pair, including the zero-norm → 0.0 convention."""
    from yelp_recommender_spark.functions.similarity import cosine_arrays
    from yelp_recommender_spark.operators.ann import cosine_rescore_arrow

    pairs = spark.createDataFrame(
        [
            (1, 2, [1.0, 2.0, 3.0], [3.0, 2.0, 1.0]),
            (3, 4, [0.0, 0.0, 0.0], [1.0, 1.0, 1.0]),  # zero-norm side
            (5, 6, [-1.0, 0.5, 2.0], [4.0, -2.0, 0.25]),
        ],
        "id1 long, id2 long, _v1 array<double>, _v2 array<double>",
    )
    got = {
        (r.id1, r.id2): r.cos
        for r in cosine_rescore_arrow(pairs, "_v1", "_v2").collect()
    }
    expect = {
        (r.id1, r.id2): r.cos
        for r in pairs.select(
            "id1", "id2", F.round(cosine_arrays("_v1", "_v2"), 6).alias("cos")
        ).collect()
    }
    assert got == expect
    assert got[(3, 4)] == 0.0


def test_q42_catalog_recall_meets_derived_bound(spark):  # noqa: F811
    """The q42 catalog entry now derives its SRP params from the 0.4
    threshold: the analytic worst-case bound must be >= 0.95 (the r3
    fixed 6x12 config gave ~0.54) and the measured recall must sit at
    the bound up to per-pair sampling noise (deterministic: seed 42)."""
    from tests.conftest import SF_DIR
    from yelp_recommender_spark.queries.similarity import q42_ann_lsh_recall

    row = q42_ann_lsh_recall(spark, SF_DIR).head()
    assert row.expected_recall_bound >= 0.95
    assert row.n_true > 0
    # 66 truth pairs at sf0.001, most hovering at the 0.4 threshold where
    # per-pair success is exactly the bound: allow binomial noise
    assert row.recall >= 0.93, row
    assert row.n_hit <= row.n_true


def test_q42_probe_sampling_regime(spark):  # noqa: F811
    """Beyond RECALL_PROBE_CAP rows the q42 dial estimates recall on the
    deterministic probe subset {id ≡ 0 (mod ⌈N/cap⌉)} instead of scoring
    N² exhaustive truth. Force a tiny cap at fixture scale and check the
    sampled run scores exactly the probe-restricted pair population of
    the exhaustive run (hyperplanes are seed-fixed, so candidate buckets
    are identical between the two runs)."""
    from tests.conftest import SF_DIR
    from yelp_recommender_spark.queries.similarity import _srp_recall_frame
    from yelp_recommender_spark.sources.tables import load_tables

    emb = load_tables(spark, SF_DIR, ["embeddings"])["embeddings"]
    emb = emb.withColumn("embedding", F.col("embedding").cast("array<double>"))
    n = emb.count()
    cap = max(2, n // 3)  # forces modulus 3 (ceil(n / (n//3)))
    modulus = -(-n // cap)
    assert modulus > 1  # the sampled regime is actually exercised

    full = _srp_recall_frame(emb, probe_cap=n).head()
    sampled = _srp_recall_frame(emb, probe_cap=cap).head()

    # exhaustive truth restricted to probe-min-id pairs must equal the
    # sampled run's truth count: recompute the restriction directly
    from yelp_recommender_spark.operators.ann import (
        cosine_pairs_above_query_side,
    )

    probes = emb.filter(F.col("vec_id") % modulus == 0)
    restricted = cosine_pairs_above_query_side(
        probes, emb, threshold=0.4
    ).count()
    assert sampled.n_true == restricted
    assert sampled.n_true < full.n_true  # strictly smaller population
    assert sampled.n_hit <= sampled.n_true
    assert 0.0 <= sampled.recall <= 1.0


def test_probe_set_caps_beyond_driver_scale(spark):  # noqa: F811
    """q40/q43/q44/q45's shared probe subset: modulus 10 (the oracle's
    ``vec_id % 10``) at every driver-tested scale, capped at ~probe_cap
    probes beyond it — a fixed 10% fraction would make the exact twin
    N²/10, quadratic one decade later."""
    from tests.conftest import SF_DIR
    from yelp_recommender_spark.queries.similarity import _probe_set
    from yelp_recommender_spark.sources.tables import load_tables

    emb = load_tables(spark, SF_DIR, ["embeddings"])["embeddings"]
    n = emb.count()

    # default regime at fixture scale: exactly the oracle's modulus 10
    default_ids = {r.vec_id for r in _probe_set(emb).select("vec_id").collect()}
    assert default_ids == {
        r.vec_id for r in emb.filter(F.col("vec_id") % 10 == 0)
        .select("vec_id").collect()
    }

    # forced capped regime: probe count lands at ~cap, not n/10
    cap = max(2, n // 30)
    capped = _probe_set(emb, probe_cap=cap).count()
    assert capped <= cap + max(1, n // 100)  # ceil-division slack
    assert capped < len(default_ids)


def test_similarity_planner_routes_by_cardinality(neardup_df):
    """cosine_pairs_above_auto: broadcast path under the limit, LSH +
    exact re-score over it — with identical verified output on genuine
    near-dups (the LSH regime)."""
    from yelp_recommender_spark.operators.ann import (
        cosine_pairs_above,
        cosine_pairs_above_auto,
        cosine_pairs_above_lsh,
    )

    brute = sorted(
        map(tuple, cosine_pairs_above(neardup_df, threshold=0.99).collect())
    )
    # limit above the table size -> exact broadcast path
    via_broadcast = sorted(
        map(
            tuple,
            cosine_pairs_above_auto(
                neardup_df, threshold=0.99, broadcast_limit=10**6
            ).collect(),
        )
    )
    assert via_broadcast == brute
    # limit below the table size -> LSH path, same verified output
    via_lsh = sorted(
        map(
            tuple,
            cosine_pairs_above_auto(
                neardup_df, threshold=0.99, broadcast_limit=10
            ).collect(),
        )
    )
    assert via_lsh == brute
    # and the LSH operator called directly agrees too
    direct_lsh = sorted(
        map(
            tuple,
            cosine_pairs_above_lsh(neardup_df, threshold=0.99).collect(),
        )
    )
    assert direct_lsh == brute


def test_ivf_index_persists_and_serves(spark, tmp_path):  # noqa: F811
    """The production IVF loop: train once, persist assignments +
    centers to parquet, serve query batches from the reloaded index —
    results identical to the inline train-and-query path."""
    from tests.conftest import SF_DIR

    from yelp_recommender_spark.operators.ann import (
        centers_from_df,
        centers_to_df,
        ivf_fit_assign,
        ivf_topk,
        ivf_topk_indexed,
    )

    emb = spark.read.parquet(SF_DIR + "/embeddings.parquet").limit(300)
    queries = emb.limit(20)

    inline = sorted(
        tuple(r)
        for r in ivf_topk(
            queries, emb, k=5, n_centroids=8, n_probe=8
        ).collect()
    )

    assigned, centers = ivf_fit_assign(emb, n_centroids=8)
    a_path, c_path = str(tmp_path / "assign"), str(tmp_path / "centers")
    assigned.write.parquet(a_path)
    centers_to_df(spark, centers).write.parquet(c_path)
    served = sorted(
        tuple(r)
        for r in ivf_topk_indexed(
            queries,
            spark.read.parquet(a_path),
            centers_from_df(spark.read.parquet(c_path)),
            k=5,
            n_probe=8,
        ).collect()
    )
    # n_probe = n_centroids ⇒ both paths score the full index: results
    # must be identical even though the two KMeans fits could seed-match
    # or not — scoring covers everything either way
    assert inline == served and len(served) > 0


def test_ann_cli_build_query_round_trip(spark, tmp_path, capsys):  # noqa: F811
    """ann-build persists a self-describing index; ann-query serves
    top-k from it without refitting — the CLI face of the train-once
    serving loop, for both tiers."""
    import json

    from tests.conftest import SF_DIR

    from yelp_recommender_spark import cli

    src = SF_DIR + "/embeddings.parquet"
    qp = str(tmp_path / "queries")
    spark.read.parquet(src).limit(10).write.parquet(qp)

    for tier in ("ivf", "ivfpq"):
        idx = str(tmp_path / f"idx_{tier}")
        out = str(tmp_path / f"out_{tier}")
        cli.main(
            ["ann-build", "--input", src, "--index-dir", idx,
             "--tier", tier, "--n-centroids", "8", "--m", "4",
             "--ksub", "16"]
        )
        built = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
        assert built["tier"] == tier and built["n_indexed"] > 0
        cli.main(
            ["ann-query", "--index-dir", idx, "--queries", qp,
             "--output", out, "--k", "5", "--n-probe", "8"]
        )
        queried = json.loads(
            capsys.readouterr().out.strip().splitlines()[-1]
        )
        assert queried["n_results"] > 0
        res = spark.read.parquet(out)
        score = "cos" if tier == "ivf" else "cos_pq"
        assert set(res.columns) == {"query_id", "neighbor_id", score, "rank"}
        # every query got at most k rows, ranked from 1
        per_q = res.groupBy("query_id").count().collect()
        assert all(r["count"] <= 5 for r in per_q)
        assert res.filter("rank = 1").count() == len(per_q)


def test_ann_build_auto_tier_resolves_by_cardinality(spark, tmp_path):  # noqa: F811
    """tier='auto' (the r6 default) picks the persisted rung with the
    serving planner's threshold: IVF within ivf_limit, IVF-PQ beyond —
    and records the RESOLVED tier in meta.json so query-time dispatch
    never sees 'auto'."""
    import json

    from tests.conftest import SF_DIR

    from yelp_recommender_spark.ann_index import (
        build_ann_index,
        query_ann_index,
    )

    src = SF_DIR + "/embeddings.parquet"
    queries = spark.read.parquet(src).limit(5)

    idx_small = str(tmp_path / "auto_small")
    report = build_ann_index(
        spark, src, idx_small, tier="auto", n_centroids=8, m=4, ksub=16
    )
    assert report["tier"] == "ivf"  # test corpus ≪ the IVF limit
    assert json.load(open(idx_small + "/meta.json"))["tier"] == "ivf"

    idx_big = str(tmp_path / "auto_big")
    report = build_ann_index(
        spark, src, idx_big, tier="auto", n_centroids=8, m=4, ksub=16,
        ivf_limit=10,  # force the beyond-IVF branch at fixture scale
    )
    assert report["tier"] == "ivfpq"
    assert json.load(open(idx_big + "/meta.json"))["tier"] == "ivfpq"
    res = query_ann_index(spark, idx_big, queries, k=3, n_probe=4)
    assert res.count() > 0 and "cos_pq" in res.columns

    import pytest

    with pytest.raises(ValueError, match="tier must be one of"):
        build_ann_index(spark, src, str(tmp_path / "bad"), tier="flat")


def test_ivf_fit_assign_carries_string_ids(spark):  # noqa: F811
    """The assignment schema derives the id type from the input —
    string keys (document ids, URLs) survive the Arrow pass instead of
    being coerced to the catalog's bigint vec_id shape."""
    from yelp_recommender_spark.operators.ann import ivf_fit_assign

    rows = [(f"doc-{i}", [float(i % 3) + 0.1, float(i % 5) - 0.2])
            for i in range(40)]
    df = spark.createDataFrame(rows, "doc_key string, embedding array<double>")
    assigned, centers = ivf_fit_assign(
        df, id_col="doc_key", vec_col="embedding", n_centroids=4
    )
    out = assigned.collect()
    assert assigned.schema["doc_key"].dataType.simpleString() == "string"
    assert len(out) == 40
    assert {r["doc_key"] for r in out} == {f"doc-{i}" for i in range(40)}
    assert all(0 <= r["centroid_id"] < 4 for r in out)


def test_string_id_index_serves_end_to_end(spark, tmp_path):  # noqa: F811
    """String document keys survive the FULL serving path, not just the
    build: ann-build over a string-id table, then query_ann_index for
    both tiers — neighbor ids come back as the original keys (no int64
    coercion inside the Arrow scoring kernels), and the exact
    brute-force tier agrees on the same keys."""
    from yelp_recommender_spark.ann_index import (
        build_ann_index,
        query_ann_index,
    )
    from yelp_recommender_spark.operators.ann import cosine_topk

    rows = [
        (f"doc-{i:03d}", [float(i % 7) + 0.3, float(i % 11) - 0.5, 1.0])
        for i in range(60)
    ]
    src = str(tmp_path / "docs")
    spark.createDataFrame(
        rows, "doc_key string, embedding array<double>"
    ).write.parquet(src)
    queries = spark.read.parquet(src).limit(8)

    keys = {r[0] for r in rows}
    for tier in ("ivf", "ivfpq"):
        idx = str(tmp_path / f"idx_{tier}")
        report = build_ann_index(
            spark, src, idx, tier=tier, n_centroids=4, m=3, ksub=8,
            id_col="doc_key",
        )
        assert report["n_indexed"] == 60
        res = query_ann_index(spark, idx, queries, k=5, n_probe=4)
        got = res.collect()
        assert len(got) > 0
        assert res.schema["query_id"].dataType.simpleString() == "string"
        assert res.schema["neighbor_id"].dataType.simpleString() == "string"
        assert all(r["query_id"] in keys and r["neighbor_id"] in keys
                   for r in got)
        assert all(r["query_id"] != r["neighbor_id"] for r in got)

    exact = cosine_topk(
        queries, spark.read.parquet(src), k=5,
        id_col="doc_key", vec_col="embedding",
    ).collect()
    assert len(exact) > 0
    assert all(r["neighbor_id"] in keys for r in exact)


def test_ivf_indexed_matches_numpy_bruteforce(spark):  # noqa: F811
    """The IVF serving path — per-partition top-k in the scoring kernel,
    merged on the driver — equals a numpy brute force over the same
    artifacts: ids, scores and ranks, with string ids, a 3-partition
    assignment table, tied scores cut at the k boundary, an id listed
    in two probed lists, a query that is itself indexed, and a query
    with fewer candidates than k."""
    import numpy as np

    from tests.conftest import bruteforce_ranked, tricky_ivf_index
    from yelp_recommender_spark.operators.ann import ivf_topk_indexed

    qdf, queries, assigned, rows, centers = tricky_ivf_index(spark)
    assert assigned.rdd.getNumPartitions() == 3
    qn = [np.asarray(v) / np.linalg.norm(v) for _, v in queries]
    for k in (2, 5):
        got = sorted(
            tuple(r)
            for r in ivf_topk_indexed(
                qdf, assigned, centers, k=k, n_probe=2,
                id_col="doc_key", vec_col="embedding",
            ).collect()
        )
        want = bruteforce_ranked(
            queries, rows, centers, 2, k,
            lambda qi, row: qn[qi] @ np.asarray(row[1]),
        )
        assert got == want
        # the scenarios the fixture plants really occur
        assert sum(r[0] == "q-small" for r in got) == min(k, 3)
        # three exact ties rank first, ordered by id, cut at k=2
        by_rank = sorted((r for r in got if r[0] == "q-tie"), key=lambda r: r[3])
        assert [r[1] for r in by_rank][:3] == ["tie-a", "tie-b", "tie-c"][:k]
        assert all(r[0] != r[1] for r in got)
        assert any(r[:2] == ("q-multi", "multi") for r in got)


def test_probe_routing_groups_like_the_reference_loop(spark):  # noqa: F811
    """probe_routing's vectorized grouping yields the same routes as
    the per-query double loop it replaced: every centroid maps to the
    ascending row numbers of the queries that probe it."""
    import numpy as np

    from yelp_recommender_spark.operators.ann import probe_routing

    rng = np.random.default_rng(3)
    centers = rng.standard_normal((9, 5))
    qdf = spark.createDataFrame(
        [(i, [float(x) for x in rng.standard_normal(5)]) for i in range(30)],
        "vec_id long, embedding array<double>",
    ).coalesce(1)
    ids, qmat, route = probe_routing(qdf, centers, 4)
    top = np.argsort(-(qmat @ centers.T), axis=1)[:, :4]
    want: dict = {}
    for qi in range(top.shape[0]):
        for c in top[qi]:
            want.setdefault(int(c), []).append(qi)
    assert route.keys() == want.keys()
    for c, qi in want.items():
        assert route[c].dtype == np.int64 and route[c].tolist() == qi
    assert probe_routing(qdf.limit(0), centers, 4)[2] == {}


def _jobs_in_group(spark, group, fn):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_warm_query_runs_two_jobs_and_rebuild_serves_new_index(
    spark, tmp_path  # noqa: F811
):
    """A warm query_ann_index call runs at most two Spark jobs (collect
    the queries, scan the index) on both tiers; an in-place rebuild
    with another seed or tier is served on the next call, never the
    cached artifacts of the old build."""
    import json

    from tests.conftest import SF_DIR
    from yelp_recommender_spark import ann_index
    from yelp_recommender_spark.ann_index import (
        build_ann_index,
        query_ann_index,
    )

    src = SF_DIR + "/embeddings.parquet"
    rows = spark.read.parquet(src).limit(6)
    queries = spark.createDataFrame(rows.collect(), rows.schema)
    idx = str(tmp_path / "idx")
    kw = dict(n_centroids=8, m=4, ksub=16)

    def serve():
        return sorted(
            tuple(r) for r in query_ann_index(
                spark, idx, queries, k=4, n_probe=3
            ).collect()
        )

    for tier in ("ivf", "ivfpq"):
        build_ann_index(spark, src, idx, tier=tier, **kw)
        cold = serve()
        warm, jobs = _jobs_in_group(spark, f"warm-{tier}", serve)
        assert warm == cold and len(warm) > 0
        assert jobs <= 2, f"{tier}: a warm call ran {jobs} jobs"

    # same dir, same tier, new seed: the served result is the new
    # build's, i.e. what a cold load of the new artifacts returns
    first_id = json.load(open(idx + "/meta.json"))["build_id"]
    build_ann_index(spark, src, idx, tier="ivfpq", seed=7, **kw)
    assert json.load(open(idx + "/meta.json"))["build_id"] != first_id
    after = serve()
    ann_index._ARTIFACTS.clear()
    assert after == serve()

    build_ann_index(spark, src, idx, tier="ivf", **kw)
    assert "cos" in query_ann_index(spark, idx, queries, k=4).columns


def test_empty_query_batch_returns_typed_empty_frame(spark, tmp_path):  # noqa: F811
    """An empty query batch is served as an empty frame whose id
    columns carry the index's id type (string keys here), on both
    tiers, without scanning the index."""
    from yelp_recommender_spark.ann_index import (
        build_ann_index,
        query_ann_index,
    )

    src = str(tmp_path / "docs")
    spark.createDataFrame(
        [(f"doc-{i:02d}", [float(i % 5) + 0.5, float(i % 3) - 1.0, 1.0])
         for i in range(40)],
        "doc_key string, embedding array<double>",
    ).write.parquet(src)
    empty = spark.read.parquet(src).limit(0)
    for tier in ("ivf", "ivfpq"):
        idx = str(tmp_path / f"idx_{tier}")
        build_ann_index(
            spark, src, idx, tier=tier, n_centroids=4, m=3, ksub=8,
            id_col="doc_key",
        )
        query_ann_index(spark, idx, empty, k=5)  # loads the artifacts
        res, jobs = _jobs_in_group(
            spark, f"empty-{tier}",
            lambda: query_ann_index(spark, idx, empty, k=5),
        )
        assert res.collect() == []
        assert jobs <= 1  # collecting the (empty) queries, no scan
        assert res.schema["query_id"].dataType.simpleString() == "string"
        assert res.schema["neighbor_id"].dataType.simpleString() == "string"
        assert res.columns[-1] == "rank"


def test_serving_artifact_cache_is_bounded_under_threads(tmp_path, monkeypatch):
    """Concurrent query_ann_index callers share the artifact cache: with
    more threads than cores and a short switch interval, every caller
    gets the artifacts of the build and session it asked for and the
    cache never holds more than its fixed number of entries."""
    import json
    import sys
    import threading

    from yelp_recommender_spark import ann_index

    dirs = []
    for i in range(12):
        d = tmp_path / f"idx{i}"
        d.mkdir()
        (d / "meta.json").write_text(json.dumps({"tier": "ivf", "i": i}))
        dirs.append(str(d))
    monkeypatch.setattr(
        ann_index,
        "_load_artifacts",
        lambda spark, d, meta: {"meta": meta, "spark": spark},
    )
    monkeypatch.setattr(ann_index, "_ARTIFACTS", type(ann_index._ARTIFACTS)())
    sessions = [object(), object()]  # entries are per session
    errors, sizes = [], []

    def worker(seed):
        try:
            for j in range(300):
                i = (seed * 7 + j) % len(dirs)
                spark = sessions[j % 2]
                art = ann_index._serving_artifacts(spark, dirs[i])
                if art["meta"]["i"] != i or art["spark"] is not spark:
                    errors.append((i, art["meta"]))
                sizes.append(len(ann_index._ARTIFACTS))
        except Exception as e:  # reported by the assertion below
            errors.append(e)

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=worker, args=(s,)) for s in range(16)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
    finally:
        sys.setswitchinterval(old)
    assert not any(t.is_alive() for t in threads)
    assert not errors, errors[:3]
    assert len(sizes) == 16 * 300
    assert max(sizes) <= ann_index._ARTIFACTS_SIZE
