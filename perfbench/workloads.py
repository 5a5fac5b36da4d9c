"""The benchmark's workloads and their correctness gates.

Each workload has the same shape, a closed loop with one client:

- set-up: generate the inputs (three times; the median counts toward
  ``setup_s``) and start the session;
- build: the write step its calls depend on, timed once. There is no
  warm-up: the build is the first work of a fresh Spark JVM, so its time
  includes that JVM's class loading and JIT compilation;
- calls: one call at a time, each starting after the previous one
  finished, until ``--seconds`` have passed and every input chunk ran once;
- gates: correctness checks on everything the build and the calls
  returned, outside the timed region.

``recsys_batch`` fits baseline averages, item-CF and ALS on seeded
ratings, then scores held-out pairs. ``corpus_serve`` curates a document
batch with planted duplicates, builds a persisted IVF-PQ index over
seeded clustered embeddings, then serves query batches from it.
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass, field

import numpy as np
import pandas as pd
import pyarrow.parquet as pq

import gen

# recall@10 gate of the IVF-PQ index (64 lists, n_probe=8, 16 residual
# sub-quantizers of 64 codes): PQ scores are approximate
RECALL_FLOOR = 0.6
TOL = 1e-6


@dataclass
class Ctx:
    spark: object
    tracer: object
    seed: int
    seconds: float
    size: str
    run_dir: str
    corrupt: str | None
    setup_parts: dict = field(default_factory=dict)


@dataclass
class Result:
    build_s: float
    call_s: list[float]
    call_items: list[int]  # pairs scored or vectors queried, per call
    builds: int
    keys: int  # distinct chunks or batches the calls cycle over
    quality: float
    gates: dict[str, bool]
    report: dict  # workload-specific figures printed by name


def _timed_gen(fn, seed: int, out_dir: str, size: str) -> tuple[dict, list[float]]:
    times, truth = [], None
    for _ in range(3):
        t0 = time.perf_counter()
        truth = fn(seed, out_dir, size)
        times.append(time.perf_counter() - t0)
    return truth, times


def _calls(ctx: Ctx, keys: list, call, seconds: float) -> dict:
    """Closed loop: call(key) for each key in turn, cycling, until every
    key ran once and ``seconds`` passed. Returns the last result per key."""
    out, t0, i = {}, time.perf_counter(), 0
    while i < len(keys) or time.perf_counter() - t0 < seconds:
        key = keys[i % len(keys)]
        with ctx.tracer.span("call"):
            out[key] = call(key)
        i += 1
    return out


def _materialize(df):
    """persist() + count(): charges a lazy plan to the span around it, and
    keeps the calls from recomputing it."""
    from yelp_recommender_spark.cache import register_persist

    df = register_persist(df)
    df.count()
    return df


# --------------------------------------------------------------- recsys_batch
def recsys_batch(ctx: Ctx) -> Result:
    tr = ctx.tracer
    data = os.path.join(ctx.run_dir, "ratings")
    with tr.span("gen"):
        truth, gen_times = _timed_gen(gen.gen_ratings, ctx.seed, data, ctx.size)
    ctx.setup_parts["gen_s"] = gen_times
    with tr.span("timed"):
        state = _recsys_round(ctx, data)
    with tr.span("gates"):
        gates, report = _recsys_gates(ctx, data, truth, state)
    return Result(
        build_s=tr.walls("build")[-1],
        call_s=state["call_s"],
        call_items=state["call_items"],
        builds=1,
        keys=gen.SCORE_CHUNKS,
        quality=report["rmse_baseline"] / report["rmse_als"],
        gates=gates,
        report=report,
    )


def _recsys_round(ctx: Ctx, data: str) -> dict:
    from yelp_recommender_spark.models.als_hybrid import predict_als, train_als
    from yelp_recommender_spark.models.baseline import fit_avgs
    from yelp_recommender_spark.models.cf import (
        corated_weights,
        predict_item_cf,
        top_n_neighbors,
    )
    from yelp_recommender_spark.sources.readers import read_parquet

    spark, tr = ctx.spark, ctx.tracer
    with tr.span("sources.read"):
        train = _materialize(read_parquet(spark, os.path.join(data, "train.parquet")))
        test = _materialize(read_parquet(spark, os.path.join(data, "test.parquet")))
    with tr.span("build"):
        with tr.span("models.baseline.fit_avgs"):
            user_avg, biz_avg = (_materialize(d) for d in fit_avgs(train))
        with tr.span("models.cf.corated_weights"):
            weights = _materialize(corated_weights(train, min_corated=2))
        with tr.span("models.cf.top_n_neighbors"):
            neighbors = _materialize(top_n_neighbors(weights, "pearson", n=10))
        with tr.span("models.als_hybrid.train_als"):
            model = train_als(train, rank=10, reg=0.1, max_iter=10, seed=ctx.seed)

    def score(chunk: int):
        pairs = test.filter(test.chunk == chunk).select("user_id", "business_id")
        with tr.span("models.cf.predict_item_cf"):
            cf = predict_item_cf(pairs, train, neighbors, user_avg, biz_avg).toPandas()
        with tr.span("models.als_hybrid.predict_als"):
            als = predict_als(model, pairs, user_avg, biz_avg).toPandas()
        return cf, als

    keys = list(range(gen.SCORE_CHUNKS))
    scored = _calls(ctx, keys, score, ctx.seconds)
    call_s = tr.walls("call")
    call_items = [len(scored[keys[k % len(keys)]][0]) for k in range(len(call_s))]
    return {
        "train": train, "test": test, "user_avg": user_avg, "biz_avg": biz_avg,
        "weights": weights, "neighbors": neighbors, "model": model,
        "scored": scored, "call_s": call_s, "call_items": call_items,
    }


def _duck_recsys(data: str) -> dict[str, pd.DataFrame]:
    """The repo's DuckDB SQL twins of item-CF, run over the same files."""
    import duckdb

    from yelp_recommender_spark.queries.recommender import (
        _AVG,
        _PREDICT_ITEM_CF,
        DUCK_R,
        DUCK_WEIGHTS,
    )

    cols = "user_id, business_id, stars"
    base = f"""
        train AS (SELECT {cols} FROM read_parquet('{os.path.join(data, "train.parquet")}')),
        test AS (SELECT {cols} FROM read_parquet('{os.path.join(data, "test.parquet")}')),
        user_avg AS (SELECT user_id, {_AVG} AS user_avg FROM train GROUP BY user_id),
        biz_avg AS (SELECT business_id, {_AVG} AS biz_avg FROM train GROUP BY business_id),
        {DUCK_R}
    """
    topn = """
        SELECT e1, e2, w FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY e1 ORDER BY w DESC, e2 ASC) AS rn
            FROM (SELECT e1, e2, pearson AS w FROM weights
                  UNION ALL SELECT e2, e1, pearson FROM weights)
        ) WHERE rn <= 10
    """
    con = duckdb.connect()
    try:
        # the weights are computed once; the later statements read the table
        con.execute(f"CREATE TABLE weights AS WITH {base}, {DUCK_WEIGHTS} SELECT * FROM weights")
        return {
            "user_avg": con.sql(f"WITH {base} SELECT * FROM user_avg").df(),
            "biz_avg": con.sql(f"WITH {base} SELECT * FROM biz_avg").df(),
            "weights": con.sql("SELECT * FROM weights").df(),
            "neighbors": con.sql(topn).df(),
            "item_cf": con.sql(f"WITH {base}, {_PREDICT_ITEM_CF}").df(),
        }
    finally:
        con.close()


def _same(spark_df: pd.DataFrame, duck_df: pd.DataFrame, keys: list[str],
          exact: list[str], approx: list[str]) -> bool:
    if len(spark_df) != len(duck_df):
        return False
    m = spark_df.merge(duck_df, on=keys, how="inner", suffixes=("", "_d"))
    if len(m) != len(duck_df):
        return False
    ok = all((m[c] == m[c + "_d"]).all() for c in exact)
    return ok and all(np.allclose(m[c], m[c + "_d"], rtol=0, atol=TOL) for c in approx)


def _recsys_gates(ctx: Ctx, data: str, truth: dict, st: dict) -> tuple[dict, dict]:
    from yelp_recommender_spark.models.baseline import predict_baseline
    from yelp_recommender_spark.models.evaluator import rmse

    spark, tr = ctx.spark, ctx.tracer
    cf = pd.concat([st["scored"][k][0] for k in sorted(st["scored"])], ignore_index=True)
    als = pd.concat([st["scored"][k][1] for k in sorted(st["scored"])], ignore_index=True)
    neighbors = st["neighbors"].toPandas()
    if ctx.corrupt == "shuffle_predictions":
        rng = np.random.default_rng(0)
        cf["stars"] = rng.permutation(cf["stars"].to_numpy())
        als["stars"] = rng.permutation(als["stars"].to_numpy())
    if ctx.corrupt == "drop_neighbors":
        neighbors = neighbors.iloc[: len(neighbors) * 9 // 10]

    duck = _duck_recsys(data)
    gates = {
        "baseline_avgs_match_duckdb": (
            _same(st["user_avg"].toPandas(), duck["user_avg"], ["user_id"], [], ["user_avg"])
            and _same(st["biz_avg"].toPandas(), duck["biz_avg"], ["business_id"], [], ["biz_avg"])
        ),
        "item_cf_weights_match_duckdb": _same(
            st["weights"].toPandas(), duck["weights"], ["e1", "e2"],
            ["n_common"], ["pearson", "cosine", "jaccard"],
        ),
        "item_cf_neighbors_match_duckdb": _same(
            neighbors, duck["neighbors"], ["e1", "e2"], [], ["w"]
        ),
        "item_cf_predictions_match_duckdb": _same(
            cf, duck["item_cf"], ["user_id", "business_id"], ["decision"], ["stars"]
        ),
        "every_heldout_pair_scored": len(als) == truth["n_test"] == len(cf),
    }

    test = st["test"]
    with tr.span("models.baseline.predict_baseline"):
        base = predict_baseline(test, st["user_avg"], st["biz_avg"]).toPandas()
    truth_df = test.toPandas()
    rmse_np = {}
    for name, pred in (("item_cf", cf), ("als", als), ("baseline", base)):
        m = truth_df.merge(pred, on=["user_id", "business_id"], suffixes=("", "_p"))
        rmse_np[name] = float(np.sqrt(np.mean((m["stars_p"] - m["stars"]) ** 2)))
    report = {}
    for name, pred in (("item_cf", cf), ("als", als), ("baseline", base)):
        with tr.span("models.evaluator.rmse"):
            row = rmse(spark.createDataFrame(pred[["user_id", "business_id", "stars"]]), test).collect()[0]
        report[f"rmse_{name}"] = float(row["rmse"])
    gates["evaluator_rmse_matches_numpy"] = all(
        abs(report[f"rmse_{n}"] - rmse_np[n]) < 1e-5 for n in rmse_np
    )
    gates["als_beats_baseline"] = report["rmse_als"] < report["rmse_baseline"]
    report["n_test"] = truth["n_test"]
    report["n_train"] = truth["n_train"]
    report["weight_rows"] = len(duck["weights"])
    return gates, report


# --------------------------------------------------------------- corpus_serve
def corpus_serve(ctx: Ctx) -> Result:
    from yelp_recommender_spark.ann_index import build_ann_index, query_ann_index
    from yelp_recommender_spark.curate import curate_corpus
    from yelp_recommender_spark.sources.readers import read_parquet

    spark, tr = ctx.spark, ctx.tracer
    data = os.path.join(ctx.run_dir, "corpus")
    with tr.span("gen"):
        truth, gen_times = _timed_gen(gen.gen_corpus, ctx.seed, data, ctx.size)
    ctx.setup_parts["gen_s"] = gen_times
    with tr.span("sources.read"):
        queries = _materialize(read_parquet(spark, os.path.join(data, "queries.parquet")))

    curated = os.path.join(ctx.run_dir, "curated")
    index_dir = os.path.join(ctx.run_dir, "ann_index")
    with tr.span("timed"):
        with tr.span("build"):
            with tr.span("curate.curate_corpus"):
                report = curate_corpus(spark, os.path.join(data, "docs.parquet"), curated)
            with tr.span("ann_index.build"):
                build_ann_index(
                    spark, os.path.join(data, "corpus.parquet"), index_dir,
                    tier="ivfpq", encoding="residual", m=16, seed=ctx.seed,
                )

        def serve(batch: int):
            q = queries.filter(queries.batch == batch).select("vec_id", "embedding")
            with tr.span("ann_index.query"):
                return query_ann_index(spark, index_dir, q, k=10).collect()

        n_batches = truth["n_queries"] // gen.QUERY_BATCH
        answers = _calls(ctx, list(range(n_batches)), serve, ctx.seconds)
        call_s = tr.walls("call")

    with tr.span("gates"):
        gates, rep = _curate_gates(ctx, curated, truth["docs"], report)
        ann_gates, ann_rep = _ann_gates(ctx, data, answers)
    gates.update(ann_gates)
    rep.update(ann_rep)
    rep["ingest_s"] = tr.walls("curate.curate_corpus")[-1]
    rep["index_build_s"] = tr.walls("ann_index.build")[-1]
    rep["curated_mb"] = _dir_mb(curated)
    return Result(
        build_s=tr.walls("build")[-1],
        call_s=call_s,
        call_items=[gen.QUERY_BATCH] * len(call_s),
        builds=2,
        keys=n_batches,
        quality=rep["recall_at_10"],
        gates=gates,
        report=rep,
    )


def _dir_mb(path: str) -> float:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, files in os.walk(path) for f in files
    ) / (1024 * 1024)


def _curate_gates(ctx: Ctx, curated: str, truth: dict, report: dict) -> tuple[dict, dict]:
    survivors = set(pq.read_table(os.path.join(curated, "documents"), columns=["doc_id"])
                    .column("doc_id").to_pylist())
    unique = set(truth["unique_ids"])
    planted = {k: set(v) for k, v in truth.items() if k.endswith("_dup_ids")}
    if ctx.corrupt == "keep_duplicates":
        survivors |= planted["near_dup_ids"]
    dups = set().union(*planted.values())
    gates = {
        "curated_survivors_are_the_unique_docs": survivors == unique,
        "curate_report_counts": (
            report["n_input"] == truth["n_docs"]
            and report["n_curated"] == len(survivors)
            and report["n_after_exact_dedup"] == truth["n_docs"] - len(planted["exact_dup_ids"])
        ),
    }
    return gates, {
        "dup_recall": len(dups - survivors) / len(dups),
        "false_dup_frac": len(unique - survivors) / len(unique),
        "n_docs": truth["n_docs"],
        "n_curated": report["n_curated"],
    }


def _ann_gates(ctx: Ctx, data: str, answers: dict) -> tuple[dict, dict]:
    corpus = pq.read_table(os.path.join(data, "corpus.parquet"))
    queries = pq.read_table(os.path.join(data, "queries.parquet"))
    x = np.array(corpus.column("embedding").to_pylist())
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    q_ids = np.array(queries.column("vec_id").to_pylist())
    q_batch = np.array(queries.column("batch").to_pylist())
    qx = np.array(queries.column("embedding").to_pylist())
    qx /= np.linalg.norm(qx, axis=1, keepdims=True)
    exact = np.argsort(-(qx @ x.T), axis=1, kind="stable")[:, :10]

    got: dict[int, list[int]] = {}
    for rows in answers.values():
        for r in rows:
            got.setdefault(int(r["query_id"]), []).append(int(r["neighbor_id"]))
    if ctx.corrupt == "shuffle_neighbors":
        keys = sorted(got)
        vals = [got[k] for k in keys]
        got = dict(zip(keys, vals[1:] + vals[:1]))
    served = [i for i, b in enumerate(q_batch) if int(b) in answers]
    hits = [len(set(got.get(int(q_ids[i]), [])) & set(exact[i])) for i in served]
    recall = sum(hits) / (10 * len(served))
    well_formed = all(
        len(got.get(int(q_ids[i]), [])) == 10
        and len(set(got[int(q_ids[i])])) == 10
        and int(q_ids[i]) not in got[int(q_ids[i])]
        for i in served
    )
    gates = {
        "ann_results_well_formed": well_formed,
        "ann_recall_at_10": recall >= RECALL_FLOOR,
    }
    return gates, {"recall_at_10": recall, "n_queries_checked": len(served)}


WORKLOADS = {"recsys_batch": recsys_batch, "corpus_serve": corpus_serve}
