"""Per-layer metrics of a traced run, from its spans and the Spark event
log counters attributed to them (see :mod:`tracing`).

Every workload reports every metric; a layer the workload does not use
reads 0. Times are seconds, sizes MB. ``<module>.stack_s`` is the driver's wall
time with that engine module innermost on its stack
(:class:`tracing.StackSampler`), Spark jobs its code started included.
"""

from __future__ import annotations

import statistics

import gen


def per_layer(spans: list[dict], result, cores: int, untraced: dict,
              stack_s: dict[str, float]) -> dict:
    def named(name: str) -> list[dict]:
        return [s for s in spans if s["name"] == name]

    def wall(name: str) -> float:
        return sum(s["wall_s"] for s in named(name))

    def med(name: str, key=lambda s: s["wall_s"]) -> float:
        vals = [key(s) for s in named(name)]
        return statistics.median(vals) if vals else 0.0

    def total(name: str, counter: str) -> float:
        return sum(s["total"][counter] for s in named(name))

    def counter(counter: str) -> float:
        return sum(s["self"][counter] for s in spans)

    rep = result.report
    q = named("ann_index.query")
    timed = named("timed")[0]
    tt = timed["total"]
    # the build plus one pass over the call keys, traced against untraced
    traced_e2e = result.build_s + statistics.median(result.call_s) * result.keys
    untraced_e2e = untraced["build_s"] + untraced["call_p50_s"] * result.keys

    m = {
        # sources: the benchmark's input scans and every parquet write job
        "sources.read_s": (wall("sources.read"), "s"),
        "sources.rows_read": (total("sources.read", "records_read"), "count"),
        "sources.writers.write_s": (counter("write_task_s"), "s"),
        "sources.writers.mb_written": (counter("output_mb"), "MB"),
        # recsys_batch: build
        "models.baseline.fit_avgs_s": (wall("models.baseline.fit_avgs"), "s"),
        "models.cf.corated_weights_s": (wall("models.cf.corated_weights"), "s"),
        "models.cf.weight_rows": (rep.get("weight_rows", 0), "count"),
        "models.cf.shuffle_write_mb": (total("models.cf.corated_weights", "shuffle_write_mb"), "MB"),
        "models.cf.spill_mb": (total("models.cf.corated_weights", "spill_mb"), "MB"),
        "models.cf.top_n_neighbors_s": (wall("models.cf.top_n_neighbors"), "s"),
        "models.als_hybrid.train_als_s": (wall("models.als_hybrid.train_als"), "s"),
        "models.als_hybrid.train_als_jobs": (total("models.als_hybrid.train_als", "jobs"), "count"),
        # recsys_batch: calls (median per call) and quality
        "models.cf.predict_item_cf_s": (med("models.cf.predict_item_cf"), "s"),
        "models.als_hybrid.predict_als_s": (med("models.als_hybrid.predict_als"), "s"),
        "models.evaluator.rmse_s": (med("models.evaluator.rmse"), "s"),
        "models.evaluator.rmse_item_cf": (rep.get("rmse_item_cf", 0.0), "stars"),
        "models.evaluator.rmse_als": (rep.get("rmse_als", 0.0), "stars"),
        "models.evaluator.rmse_baseline": (rep.get("rmse_baseline", 0.0), "stars"),
        # corpus_serve: curation of one batch
        "curate.curate_corpus_s": (wall("curate.curate_corpus"), "s"),
        "curate.jobs": (total("curate.curate_corpus", "jobs"), "count"),
        "curate.shuffle_write_mb": (total("curate.curate_corpus", "shuffle_write_mb"), "MB"),
        "curate.spill_mb": (total("curate.curate_corpus", "spill_mb"), "MB"),
        "curate.driver_only_s": (sum(s["driver_only_s"] for s in named("curate.curate_corpus")), "s"),
        "curate.stack_s": (stack_s.get("curate", 0.0), "s"),
        "operators.dedup.stack_s": (stack_s.get("operators.dedup", 0.0), "s"),
        "curate.output_mb": (rep.get("curated_mb", 0.0), "MB"),
        "operators.cc.stack_s": (stack_s.get("operators.cc", 0.0), "s"),
        "curate.docs_per_s": (rep["n_docs"] / wall("curate.curate_corpus") if "n_docs" in rep else 0.0, "1/s"),
        # corpus_serve: IVF-PQ index build
        "ann_index.build_s": (wall("ann_index.build"), "s"),
        "operators.ann.stack_s": (stack_s.get("operators.ann", 0.0), "s"),
        "operators.pq.stack_s": (stack_s.get("operators.pq", 0.0), "s"),
        # corpus_serve: query calls (median per call)
        "ann_index.query_s": (med("ann_index.query"), "s"),
        "ann_index.query_jobs": (med("ann_index.query", lambda s: s["total"]["jobs"]), "count"),
        "ann_index.query_tasks": (med("ann_index.query", lambda s: s["total"]["tasks"]), "count"),
        "ann_index.driver_overhead_s": (med("ann_index.query", lambda s: s["driver_only_s"]), "s"),
        "ann_index.rows_read_per_result": (
            sum(s["total"]["records_read"] for s in q) / (len(q) * gen.QUERY_BATCH * 10)
            if q else 0.0,
            "ratio",
        ),
        "ann_index.recall_at_10": (rep.get("recall_at_10", 0.0), "ratio"),
        # cache registry and the Spark session, over the timed region
        "cache.persisted_mb": (max((s.get("persisted_mb", 0.0) for s in spans), default=0.0), "MB"),
        "spark.jobs": (tt["jobs"], "count"),
        "spark.stages": (tt["stages"], "count"),
        "spark.tasks": (tt["tasks"], "count"),
        "spark.task_s": (tt["task_s"], "s"),
        "spark.gc_s": (tt["gc_s"], "s"),
        "spark.shuffle_read_mb": (tt["shuffle_read_mb"], "MB"),
        "spark.shuffle_write_mb": (tt["shuffle_write_mb"], "MB"),
        "spark.spill_mb": (tt["spill_mb"], "MB"),
        "spark.idle_core_frac": (1 - tt["task_s"] / (cores * timed["wall_s"]), "ratio"),
        "spark.driver_only_s": (timed["driver_only_s"], "s"),
        # the tracing itself
        "trace.overhead_frac": (traced_e2e / untraced_e2e - 1, "ratio"),
        "trace.spans": (len(spans), "count"),
    }
    return m
