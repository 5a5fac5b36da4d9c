"""Persisted ANN index lifecycle — build once / serve many, as a library
and CLI surface (``cli.py ann-build`` / ``ann-query``).

An index directory is self-describing:

    <dir>/meta.json       tier + build params + build_id (written last)
    <dir>/assignments/    IVF: (id, vec, centroid_id) parquet
    <dir>/codes/          IVF-PQ: (id, codes, centroid_id) parquet
    <dir>/centers/        routing matrix (centroid_id, center)
    <dir>/codebooks/      IVF-PQ: (subspace, code, center)
    <dir>/rotation/       IVF-PQ with opq encodings: (i, row)

Scale: building is the train-once cost (distributed KMeans + map-only
encode); querying refits nothing. The routing table and codebooks are a
few hundred KB of driver state regardless of corpus size, loaded once
per (SparkSession, index build) together with the scanned table's
resolved DataFrame and reused by later calls; ``meta.json``'s path,
bytes and mtime key that cache, so a rebuild in place serves the new
index. A warm query batch then runs two Spark jobs: collect the
queries, and one map-only Arrow scan of the persisted table that keeps
each partition's top-k
(:func:`~yelp_recommender_spark.operators.ann.ivf_topk_indexed`,
:func:`~yelp_recommender_spark.operators.pq.ivfpq_topk_indexed`). The
driver merges at most n_queries·k rows per scanned partition.
"""

from __future__ import annotations

import json
import os
import threading
import uuid
from collections import OrderedDict

from pyspark.sql import DataFrame, SparkSession

TIERS = ("ivf", "ivfpq")

#: loaded serving artifacts, least recently used first; small and fixed
#: — each entry is a few hundred KB of driver arrays plus one DataFrame
_ARTIFACTS: OrderedDict = OrderedDict()
_ARTIFACTS_SIZE = 8
_ARTIFACTS_LOCK = threading.Lock()


def build_ann_index(
    spark: SparkSession,
    input_path: str,
    index_dir: str,
    tier: str = "auto",
    n_centroids: int = 64,
    m: int = 8,
    ksub: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    ivf_limit: int | None = None,
    encoding: str = "raw",
) -> dict:
    """Train + persist an ANN index over a parquet table of embeddings;
    returns the build report (row counts + artifact paths).

    ``encoding`` ('raw' default | 'residual' | 'opq' | 'opq_residual')
    selects the IVF-PQ code semantics
    (:func:`~yelp_recommender_spark.operators.pq.ivfpq_topk`: residual
    quantizes centroid offsets — tighter ADC estimates on clustered
    corpora for the same (m, ksub) budget; opq learns an orthogonal
    rotation balancing subspace energy — the gain on
    correlated/anisotropic embeddings, with the rotation persisted as
    a fourth artifact). Recorded in meta.json so the query path always
    scores the codes as what they are. On the IVF tier it does not
    apply (float vectors serve exact scores, strictly better than any
    PQ) and is not recorded.

    ``tier="auto"`` (default) resolves the persisted rung by corpus
    cardinality with the SAME threshold as the serving planner
    (:func:`~yelp_recommender_spark.operators.ann.topk_auto`): IVF while
    a probe's worth of float vectors is cheap to stream
    (≤ ``ivf_limit``, default
    :data:`~yelp_recommender_spark.operators.ann.DEFAULT_IVF_TOPK_LIMIT`),
    IVF-PQ beyond — so a caller who never thinks about tiers still
    cannot build a float-vector assignment table for a corpus that
    needs codes. The resolved tier is recorded in meta.json."""
    from yelp_recommender_spark.operators.ann import (
        DEFAULT_IVF_TOPK_LIMIT,
        centers_to_df,
        estimated_row_count,
        ivf_fit_assign,
    )

    if tier not in TIERS + ("auto",):
        raise ValueError(
            f"tier must be one of {TIERS + ('auto',)}, got {tier!r}"
        )
    if encoding not in ("raw", "residual", "opq", "opq_residual"):
        raise ValueError(
            f"encoding must be 'raw', 'residual', 'opq', or "
            f"'opq_residual', got {encoding!r}"
        )
    df = spark.read.parquet(input_path)
    if tier == "auto":
        limit = DEFAULT_IVF_TOPK_LIMIT if ivf_limit is None else ivf_limit
        n = estimated_row_count(df)
        if n is None or n <= limit:
            # exact confirmation before persisting the float-vector
            # tier: a stale-LOW estimate must not build an
            # 8·dim-bytes/row assignment table for a corpus that needs
            # codes — the estimate is trusted only in the safe
            # (big → ivfpq) direction, same rule as the serving
            # planners (operators/ann.py topk_auto)
            n = df.count()
        tier = "ivf" if n <= limit else "ivfpq"
    assigned, centers = ivf_fit_assign(
        df, id_col, vec_col, n_centroids=n_centroids, seed=seed
    )
    os.makedirs(index_dir, exist_ok=True)
    n_rows: int
    if tier == "ivf":
        assigned.write.mode("overwrite").parquet(
            os.path.join(index_dir, "assignments")
        )
        n_rows = spark.read.parquet(
            os.path.join(index_dir, "assignments")
        ).count()
    else:
        from yelp_recommender_spark.cache import clear_caches, register_persist, registry_mark
        from yelp_recommender_spark.operators.pq import (
            codebooks_to_df,
            rotation_to_df,
            train_and_encode,
            train_and_encode_opq,
            train_and_encode_opq_residual,
        )

        mark = registry_mark()
        assigned = register_persist(assigned)  # codebook sample + encode
        if encoding in ("opq", "opq_residual"):
            if encoding == "opq":
                books, coded, rotation = train_and_encode_opq(
                    assigned, id_col=id_col, m=m, ksub=ksub, seed=seed,
                )
            else:
                books, coded, rotation = train_and_encode_opq_residual(
                    assigned, centers, id_col=id_col, m=m, ksub=ksub,
                    seed=seed,
                )
            rotation_to_df(spark, rotation).write.mode(
                "overwrite"
            ).parquet(os.path.join(index_dir, "rotation"))
        else:
            books, coded = train_and_encode(
                assigned, centers, id_col=id_col, m=m, ksub=ksub,
                seed=seed, encoding=encoding,
            )
        coded.write.mode("overwrite").parquet(os.path.join(index_dir, "codes"))
        codebooks_to_df(spark, books).write.mode("overwrite").parquet(
            os.path.join(index_dir, "codebooks")
        )
        n_rows = spark.read.parquet(os.path.join(index_dir, "codes")).count()
        clear_caches(since=mark)
    centers_to_df(spark, centers).write.mode("overwrite").parquet(
        os.path.join(index_dir, "centers")
    )
    meta = {
        "tier": tier,
        "n_centroids": n_centroids,
        "m": m,
        "ksub": ksub,
        "id_col": id_col,
        "vec_col": vec_col,
        "seed": seed,
    }
    if tier == "ivfpq":
        meta["encoding"] = encoding
    # a fresh build_id makes every build's meta.json distinct, so the
    # serving cache never confuses an in-place rebuild with its
    # predecessor; written last and swapped in atomically, so a reader
    # sees either the old build's meta or the complete new one
    meta["build_id"] = uuid.uuid4().hex
    tmp = os.path.join(index_dir, f".meta.json.{meta['build_id']}")
    with open(tmp, "w") as f:
        json.dump(meta, f)
    os.replace(tmp, os.path.join(index_dir, "meta.json"))
    return {"tier": tier, "n_indexed": int(n_rows), "index_dir": index_dir}


def _load_artifacts(spark: SparkSession, index_dir: str, meta: dict) -> dict:
    from yelp_recommender_spark.operators.ann import centers_from_df

    def read(name: str) -> DataFrame:
        return spark.read.parquet(os.path.join(index_dir, name))

    art = {"meta": meta, "centers": centers_from_df(read("centers"))}
    if meta["tier"] == "ivf":
        art["table"] = read("assignments")
        return art
    from yelp_recommender_spark.operators.pq import (
        codebooks_from_df,
        rotation_from_df,
    )

    # pre-r8 indexes carry no encoding field — they are raw codes
    art["encoding"] = meta.get("encoding", "raw")
    art["rotation"] = (
        rotation_from_df(read("rotation"))
        if art["encoding"] in ("opq", "opq_residual")
        else None
    )
    art["books"] = codebooks_from_df(read("codebooks"))
    art["table"] = read("codes")
    return art


def _serving_artifacts(spark: SparkSession, index_dir: str) -> dict:
    """The index's meta, routing matrix, codebooks/rotation and scanned
    table (its schema resolved and files listed), loaded on the first
    call per (session, build) and reused after. Keyed by the session,
    the directory's real path and meta.json's bytes and mtime:
    :func:`build_ann_index` rewrites meta.json last with a fresh
    build_id, so a rebuild in place misses the cache."""
    with open(os.path.join(index_dir, "meta.json"), "rb") as f:
        raw = f.read()
        mtime = os.fstat(f.fileno()).st_mtime_ns
    # the session itself (identity-hashed) is in the key: a cached
    # DataFrame is bound to the session that read it
    key = (spark, os.path.realpath(index_dir), raw, mtime)
    with _ARTIFACTS_LOCK:
        hit = _ARTIFACTS.get(key)
        if hit is not None:
            _ARTIFACTS.move_to_end(key)
            return hit
    art = _load_artifacts(spark, index_dir, json.loads(raw))
    with _ARTIFACTS_LOCK:
        _ARTIFACTS[key] = art
        while len(_ARTIFACTS) > _ARTIFACTS_SIZE:
            _ARTIFACTS.popitem(last=False)
    return art


def query_ann_index(
    spark: SparkSession,
    index_dir: str,
    queries: DataFrame | str,
    k: int = 10,
    n_probe: int = 8,
) -> DataFrame:
    """Top-k neighbors for a query table (DataFrame or parquet path)
    against a persisted index — dispatches on the index's meta.json.

    The result is already computed (a local relation): a warm call runs
    two Spark jobs, collecting the queries and scanning the index."""
    from yelp_recommender_spark.operators.ann import ivf_topk_indexed
    from yelp_recommender_spark.operators.pq import ivfpq_topk_indexed

    art = _serving_artifacts(spark, index_dir)
    meta = art["meta"]
    if isinstance(queries, str):
        queries = spark.read.parquet(queries)
    if meta["tier"] == "ivf":
        return ivf_topk_indexed(
            queries,
            art["table"],
            art["centers"],
            k=k,
            n_probe=n_probe,
            id_col=meta["id_col"],
            vec_col=meta["vec_col"],
        )
    return ivfpq_topk_indexed(
        queries,
        art["table"],
        art["centers"],
        art["books"],
        k=k,
        n_probe=n_probe,
        id_col=meta["id_col"],
        vec_col=meta["vec_col"],
        encoding=art["encoding"],
        rotation=art["rotation"],
    )
