"""Product-quantization ANN tier (operators/pq.py): recall on planted
clusters, determinism across partitionings, empty-input guards, padding
for dims not divisible by m, and the reconstruction-error bound."""

from __future__ import annotations

import numpy as np
import pytest

from tests.conftest import spark  # noqa: F401 (fixture)

DIM = 32
N_BASE = 40
COPIES = 3


@pytest.fixture(scope="module")
def neardup_df(spark):  # noqa: F811
    # same planted-cluster construction as tests/test_ann.py: 40 bases ×
    # 3 near-identical copies — each vector's true top-2 neighbors are
    # its same-base siblings at cos ≈ 0.9999
    rng = np.random.default_rng(7)
    base = rng.standard_normal((N_BASE, DIM))
    rows = []
    vid = 0
    for i in range(N_BASE):
        for _ in range(COPIES):
            noisy = base[i] + 0.01 * rng.standard_normal(DIM)
            rows.append((vid, [float(x) for x in noisy]))
            vid += 1
    return spark.createDataFrame(
        rows, "vec_id long, embedding array<double>"
    )


def test_pq_topk_finds_planted_neighbors(neardup_df):
    from yelp_recommender_spark.operators.pq import pq_topk

    got = pq_topk(neardup_df, neardup_df, k=2, m=8, ksub=64).collect()
    # full contract: every vector queried, 2 neighbors each
    assert len(got) == N_BASE * COPIES * 2
    hit = sum(
        1 for r in got if r.neighbor_id // COPIES == r.query_id // COPIES
    )
    recall = hit / len(got)
    # quantized scores must still rank the cos≈0.9999 siblings first
    assert recall >= 0.95, recall
    # ADC estimates a near-1 cosine for the planted pairs
    sib = [r.cos_pq for r in got if r.neighbor_id // COPIES == r.query_id // COPIES]
    assert min(sib) > 0.8


def test_pq_scores_close_to_exact(neardup_df):
    from yelp_recommender_spark.operators.ann import cosine_topk
    from yelp_recommender_spark.operators.pq import pq_topk

    exact = {
        (r.query_id, r.neighbor_id): r.cos
        for r in cosine_topk(neardup_df, neardup_df, k=2).collect()
    }
    approx = {
        (r.query_id, r.neighbor_id): r.cos_pq
        for r in pq_topk(neardup_df, neardup_df, k=2, m=8, ksub=64).collect()
    }
    common = set(exact) & set(approx)
    assert len(common) >= 0.9 * len(exact)
    errs = [abs(exact[p] - approx[p]) for p in common]
    assert max(errs) < 0.2 and sum(errs) / len(errs) < 0.05


def test_pq_encode_deterministic_across_partitionings(neardup_df):
    from yelp_recommender_spark.operators.pq import (
        pq_encode,
        train_codebooks,
    )

    books = train_codebooks(neardup_df, m=8, ksub=32)
    a = {
        r.vec_id: tuple(r.codes)
        for r in pq_encode(neardup_df, books).collect()
    }
    b = {
        r.vec_id: tuple(r.codes)
        for r in pq_encode(neardup_df.repartition(7), books).collect()
    }
    assert a == b
    assert all(len(c) == 8 and max(c) < 32 for c in a.values())


def test_pq_empty_index_guard(neardup_df, spark):  # noqa: F811
    from yelp_recommender_spark.operators.pq import pq_topk, train_codebooks

    empty = spark.createDataFrame([], "vec_id long, embedding array<double>")
    out = pq_topk(neardup_df, empty, k=5)
    assert out.count() == 0
    assert [f.name for f in out.schema.fields] == [
        "query_id", "neighbor_id", "cos_pq", "rank",
    ]
    with pytest.raises(ValueError):
        train_codebooks(empty)


def test_pq_pads_non_divisible_dim(spark):  # noqa: F811
    from yelp_recommender_spark.operators.pq import pq_topk

    rng = np.random.default_rng(3)
    mat = rng.standard_normal((30, 30))  # 30 % 8 != 0 → zero padding
    df = spark.createDataFrame(
        [(i, [float(x) for x in mat[i]]) for i in range(30)],
        "vec_id long, embedding array<double>",
    )
    got = pq_topk(df, df, k=3, m=8, ksub=16)
    rows = got.collect()
    assert len(rows) == 30 * 3
    assert all(r.query_id != r.neighbor_id for r in rows)
    # deterministic rank ties: rank is 1..3 per query
    per_q = {}
    for r in rows:
        per_q.setdefault(r.query_id, []).append(r.rank)
    assert all(sorted(v) == [1, 2, 3] for v in per_q.values())


def test_pq_reconstruction_error_bounds_score_bias(neardup_df):
    """|cos − cos_pq| ≤ reconstruction error of the neighbor (Cauchy–
    Schwarz with a unit query) — the analytic handle PQ offers in place
    of LSH's collision bound."""
    from yelp_recommender_spark.operators.ann import cosine_topk
    from yelp_recommender_spark.operators.pq import (
        pq_reconstruct_error,
        pq_topk,
        train_codebooks,
    )

    books = train_codebooks(neardup_df, m=8, ksub=64)
    err = {
        r.vec_id: r.err
        for r in pq_reconstruct_error(neardup_df, books).collect()
    }
    assert all(e >= 0.0 for e in err.values())
    exact = {
        (r.query_id, r.neighbor_id): r.cos
        for r in cosine_topk(neardup_df, neardup_df, k=2).collect()
    }
    approx = pq_topk(
        neardup_df, neardup_df, k=2, m=8, ksub=64, codebooks=books
    ).collect()
    for r in approx:
        key = (r.query_id, r.neighbor_id)
        if key in exact:
            assert abs(exact[key] - r.cos_pq) <= err[r.neighbor_id] + 1e-5


def test_ivfpq_topk_finds_planted_neighbors(neardup_df):
    """The fully composed no-broadcast path: IVF routing × PQ codes.
    On the planted-cluster fixture, same-base siblings sit at
    cos ≈ 0.9999 and cluster naturally, so routing keeps them together
    and quantized scores still rank them first."""
    from yelp_recommender_spark.operators.pq import ivfpq_topk

    got = ivfpq_topk(
        neardup_df, neardup_df, k=2,
        n_centroids=8, n_probe=4, m=8, ksub=32,
    ).collect()
    per_q = {}
    for r in got:
        per_q.setdefault(r.query_id, []).append(r)
    assert len(per_q) == N_BASE * COPIES  # every query answered
    hit = sum(
        1 for r in got if r.neighbor_id // COPIES == r.query_id // COPIES
    )
    assert hit / len(got) >= 0.9, hit / len(got)
    # ranks well-formed and deterministic ties
    assert all(sorted(x.rank for x in v) == list(range(1, len(v) + 1))
               for v in per_q.values())


def test_ivfpq_empty_index_guard(neardup_df, spark):  # noqa: F811
    from yelp_recommender_spark.operators.pq import ivfpq_topk

    empty = spark.createDataFrame([], "vec_id long, embedding array<double>")
    out = ivfpq_topk(neardup_df, empty, k=3)
    assert out.count() == 0
    assert [f.name for f in out.schema.fields] == [
        "query_id", "neighbor_id", "cos_pq", "rank",
    ]


def test_codebook_parquet_round_trip(neardup_df, spark, tmp_path):  # noqa: F811
    import numpy as np

    from yelp_recommender_spark.operators.pq import (
        codebooks_from_df,
        codebooks_to_df,
        pq_encode,
        train_codebooks,
    )

    books = train_codebooks(neardup_df, m=8, ksub=16)
    path = str(tmp_path / "codebooks")
    codebooks_to_df(spark, books).write.parquet(path)
    back = codebooks_from_df(spark.read.parquet(path))
    assert back.shape == books.shape
    assert np.array_equal(back, books)  # bit-exact round trip
    # and encoding under the reloaded books is identical
    a = {r.vec_id: tuple(r.codes) for r in pq_encode(neardup_df, books).collect()}
    b = {r.vec_id: tuple(r.codes) for r in pq_encode(neardup_df, back).collect()}
    assert a == b


def test_ivfpq_index_persists_and_serves(spark, tmp_path):  # noqa: F811
    """Train + encode once, persist codes/centers/codebooks to parquet,
    serve from the reloaded artifacts — identical to the inline path."""
    from tests.conftest import SF_DIR

    from yelp_recommender_spark.operators.ann import (
        centers_from_df,
        centers_to_df,
        ivf_fit_assign,
    )
    from yelp_recommender_spark.operators.pq import (
        codebooks_from_df,
        codebooks_to_df,
        ivfpq_topk,
        ivfpq_topk_indexed,
        pq_encode,
        train_codebooks,
    )

    emb = spark.read.parquet(SF_DIR + "/embeddings.parquet").limit(300)
    queries = emb.limit(15)
    kw = dict(k=5, n_centroids=8, n_probe=8, m=4, ksub=16)

    inline = sorted(
        tuple(r) for r in ivfpq_topk(queries, emb, **kw).collect()
    )

    assigned, centers = ivf_fit_assign(emb, n_centroids=8)
    books = train_codebooks(assigned, vec_col="vec", m=4, ksub=16)
    coded = pq_encode(assigned, books, "vec_id", "vec",
                      passthrough=["centroid_id"])
    for df, name in [
        (coded, "codes"),
        (centers_to_df(spark, centers), "centers"),
        (codebooks_to_df(spark, books), "books"),
    ]:
        df.write.parquet(str(tmp_path / name))
    served = sorted(
        tuple(r)
        for r in ivfpq_topk_indexed(
            queries,
            spark.read.parquet(str(tmp_path / "codes")),
            centers_from_df(spark.read.parquet(str(tmp_path / "centers"))),
            codebooks_from_df(spark.read.parquet(str(tmp_path / "books"))),
            k=5,
            n_probe=8,
        ).collect()
    )
    assert inline == served and len(served) > 0


@pytest.mark.parametrize("encoding", ["raw", "residual", "opq", "opq_residual"])
def test_ivfpq_indexed_matches_numpy_bruteforce(spark, encoding):  # noqa: F811
    """The IVF-PQ serving path — per-partition top-k in the ADC kernel,
    merged on the driver — equals a numpy ADC brute force over the same
    codes, codebooks, centers and rotation on every encoding: ids,
    scores and ranks, with string ids, a 3-partition code table, tied
    ADC scores (identical vectors share codes), an id listed in two
    probed lists, a query that is itself indexed, and a query with
    fewer candidates than k."""
    from tests.conftest import bruteforce_ranked, tricky_ivf_index
    from yelp_recommender_spark.operators import pq

    qdf, queries, assigned, _, centers = tricky_ivf_index(spark)
    kw = dict(id_col="doc_key", m=2, ksub=8)
    rotation = None
    if encoding == "opq":
        books, coded, rotation = pq.train_and_encode_opq(assigned, **kw)
    elif encoding == "opq_residual":
        books, coded, rotation = pq.train_and_encode_opq_residual(
            assigned, centers, **kw
        )
    else:
        books, coded = pq.train_and_encode(
            assigned, centers, encoding=encoding, **kw
        )
    # the encoders are map-only: the codes keep the 3 partitions
    assert coded.rdd.getNumPartitions() == 3
    code_rows = [(r[0], r["codes"], r["centroid_id"]) for r in coded.collect()]

    qn = np.array([np.asarray(v) / np.linalg.norm(v) for _, v in queries])
    qp = pq._pad_to_multiple(qn, books.shape[0])
    if rotation is not None:
        qp = qp @ rotation
    luts = np.einsum(
        "qjd,jkd->qjk", qp.reshape(len(qn), books.shape[0], -1), books
    )

    def adc(qi, row):
        s = 0.0
        for j, c in enumerate(row[1]):
            s += luts[qi, j, c]
        if encoding in ("residual", "opq_residual"):
            s += qn[qi] @ centers[row[2]]
        return s

    for k in (2, 5):
        got = sorted(
            tuple(r)
            for r in pq.ivfpq_topk_indexed(
                qdf, coded, centers, books, k=k, n_probe=2,
                id_col="doc_key", vec_col="embedding",
                encoding=encoding, rotation=rotation,
            ).collect()
        )
        assert got == bruteforce_ranked(queries, code_rows, centers, 2, k, adc)
        assert sum(r[0] == "q-small" for r in got) == min(k, 3)
        assert all(r[0] != r[1] for r in got)
    # identical vectors share codes, so their estimates tie exactly
    # and the cut falls on neighbor_id
    ties = [r for r in got if r[0] == "q-tie" and r[1].startswith("tie-")]
    assert len(ties) >= 2 and len({r[2] for r in ties}) == 1
    by_rank = [r[1] for r in sorted(ties, key=lambda r: r[3])]
    assert by_rank == sorted(by_rank)
