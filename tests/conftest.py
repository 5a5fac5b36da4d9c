from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
SF_DIR_CORRECTNESS = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    from yelp_recommender_spark.session import get_spark

    s = get_spark(
        app_name="yelp_recommender_spark_tests",
        extra_conf={"spark.sql.shuffle.partitions": "8"},
    )
    yield s


def register_duck_views(con, sf_dir: str) -> None:
    from yelp_recommender_spark.schemas import TESTDATA_TABLES

    for t in TESTDATA_TABLES:
        path = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(path):
            con.execute(
                f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM read_parquet('{path}')"
            )


def tricky_ivf_index(spark):
    """A hand-built IVF index for serving-equivalence tests, returned as
    (queries DataFrame, query rows, assignment DataFrame in 3 partitions,
    assignment rows, centers). It holds string ids, three tied vectors,
    one id in two lists, a query that is also indexed, and a query
    ("q-small") whose two nearest lists hold only three vectors."""
    import numpy as np

    rng = np.random.default_rng(11)
    dim = 4
    centers = np.vstack(
        [rng.standard_normal((4, dim)), [0, 0.2, 1, 1.3], [0, 0, 1, 1.05]]
    )
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    tie = centers[0] + np.array([0.05, -0.05, 0.05, 0.0])
    rows = [
        (f"v{c}-{i:02d}", centers[c] + 0.3 * rng.standard_normal(dim), c)
        for c in range(4)
        for i in range(10)
    ]
    rows += [(f"tie-{s}", tie, 0) for s in "abc"]
    both = centers[1] + centers[2]
    rows += [("multi", both + 0.02, 1), ("multi", both - 0.05, 2)]
    rows += [("s4-0", centers[4] + 0.01, 4)]
    rows += [(f"s5-{i}", centers[5] + 0.02 * (i + 1), 5) for i in range(2)]
    rows = [
        (i, [float(x) for x in v / np.linalg.norm(v)], c) for i, v, c in rows
    ]
    # explicit partitions: the tied vectors straddle partitions 0 and 2,
    # and both "multi" rows share partition 1 with every other vector of
    # lists 1 and 2, so a kernel that cut at k before dropping the
    # duplicate would lose one of q-multi's neighbors
    parts = [
        [r for r in rows if r[2] == 0 and r[0] != "tie-c"] + [rows[-3]],
        [r for r in rows if r[2] in (1, 2)],
        [r for r in rows if r[2] == 3 or r[0] == "tie-c"] + rows[-2:],
    ]
    assigned = spark.createDataFrame(
        spark.sparkContext.parallelize(parts, 3).flatMap(lambda p: p),
        "doc_key string, vec array<double>, centroid_id int",
    )
    queries = [
        ("q-tie", [float(x) for x in 3 * tie]),
        ("v1-03", [2 * x for x in rows[13][1]]),
        ("q-small", [0.0, 0.0, 1.0, 1.1]),
        ("q-multi", [float(x) for x in both]),
    ]
    qdf = spark.createDataFrame(
        queries, "doc_key string, embedding array<double>"
    ).coalesce(1)
    return qdf, queries, assigned, rows, centers


def bruteforce_ranked(queries, candidates, centers, n_probe, k, score):
    """The indexed ANN contract in plain numpy: each query probes its
    ``n_probe`` nearest centers, scores every row listed there with
    ``score(query_pos, row)`` rounded to 6 digits, drops itself, keeps
    the max per neighbor id and ranks by (score desc, id asc).
    ``candidates`` are (id, payload, centroid_id) rows; returns sorted
    (query_id, neighbor_id, score, rank) tuples."""
    import numpy as np

    out = []
    for qi, (qid, qvec) in enumerate(queries):
        q = np.asarray(qvec, dtype=np.float64)
        probe = set(np.argsort(-(centers @ q), kind="stable")[:n_probe])
        best: dict = {}
        for row in candidates:
            if row[2] in probe and row[0] != qid:
                s = float(np.round(score(qi, row), 6))
                best[row[0]] = max(best.get(row[0], s), s)
        ranked = sorted(best.items(), key=lambda t: (-t[1], t[0]))[:k]
        out += [(qid, n, s, r) for r, (n, s) in enumerate(ranked, 1)]
    return sorted(out)
