"""``fold_steady``: near-dup, SemDeDup and kNN-graph folds in steady state.

Setup generates ``documents`` and ``embeddings`` (one fixed corpus),
freezes the centroids exactly as ``semdedup_incremental`` and
``knn_graph_incremental`` do (Lloyd over the whole table), and folds most
of the corpus as batch 0. The seed orders the arrivals; those left after
batch 0 are folded in small batches, each updating all three folds and
then reading back the keep decision of its own arrivals. Batches are
timed until ``--seconds`` have passed: the batch that would run past them
takes every arrival left, so the final state covers the corpus and can be
checked against the one-shot registry queries. Those queries are the
``plans`` layer of this workload: each is timed (eager ``fn()``, Catalyst,
execution) and its jobs are counted.
"""

from __future__ import annotations

import os
import random
import time

import tables
from harness import (
    WORK,
    Job,
    Tracer,
    driver_gap_s,
    job_phase_of,
    median,
    rows_digest,
)

#: Table sizes (documents, embeddings are 50_000 x sf and 20_000 x sf).
#: The corpus is the same in every run; the run's seed orders arrivals.
FOLD_SF = 0.005
CORPUS_SEED = 42
#: Share of the corpus folded at setup; the rest arrives in batches of
#: BATCH_DOCS documents and BATCH_VECS vectors, the last one taking what
#: is left.
BIRTH_SHARE = 0.8
BATCH_DOCS, BATCH_VECS = 10, 4
FOLDS = ("neardup", "semdedup", "knngraph")
#: job_phase labels with the batch number taken out.
PHASES = (
    "ndfold:batch", "ndfold:bands", "ndfold:cand", "ndfold:verify",
    "ndfold:merge", "semfold:assign", "semfold:stateread", "semfold:edges",
    "semfold:merge", "knnfold:assign", "knnfold:stateread", "knnfold:cand",
    "knnfold:delta", "cc:init", "cc:rounds", "cc:out", "commit", "-",
)


def _phase(job: Job) -> str:
    label = job_phase_of(job)
    head, _, tail = label.partition(":")
    head = head.rstrip("0123456789")
    if head == "cc":
        tail = tail.split("+")[0]
    return "commit" if head == "commit" else f"{head}:{tail}" if tail else head


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, fs in os.walk(path) for f in fs
    )


def _segments(state_dir: str) -> set[str]:
    """Directories of the committed state: every append-table segment and
    the current version directory (which holds the snapshot tables)."""
    from stock_trend_predictor_spark.operators.statestore import read_meta

    meta = read_meta(state_dir) or {}
    segs = {meta["dir"]} if meta.get("dir") else set()
    for paths in (meta.get("segments") or {}).values():
        segs.update(paths)
    return segs


class Folds:
    """The three fold state directories and their inputs."""

    def __init__(self, spark, sf_dir: str, tracer: Tracer):
        from pyspark.sql import functions as F

        from stock_trend_predictor_spark.operators import dedup as D
        from stock_trend_predictor_spark.operators.ivf import kmeans_centroids
        from stock_trend_predictor_spark.operators.similarity import (
            as_double,
            l2norm,
        )
        from stock_trend_predictor_spark.sources.tables import (
            load_table,
            materialize_once,
        )

        self.spark, self.tracer = spark, tracer
        self.dirs = {f: str(WORK / "fold" / f) for f in FOLDS}
        self.docs = materialize_once(
            D.with_shingle_hashes(load_table(spark, sf_dir, "documents"))
            .select("doc_id", "hs")
        )
        self.vecs = materialize_once(
            load_table(spark, sf_dir, "embeddings")
            .repartition(spark.sparkContext.defaultParallelism)
            .select("vec_id", as_double("embedding").alias("v"))
            .withColumn("nrm", l2norm(F.col("v")))
        )
        n = self.vecs.count()
        k = max(8, n // 500)
        self.cents = kmeans_centroids(self.vecs, k=k, iters=3, vec_col="v")
        self.n_docs = self.docs.count()
        self.n_vecs = n

    def update(self, batch_id: int, doc_ids: list[int], vec_ids: list[int],
               stats: dict | None) -> None:
        """Fold one batch into all three states; ``stats`` collects the
        figures of a timed batch and is None for the birth fold."""
        from pyspark.sql import functions as F

        from stock_trend_predictor_spark.streaming.knngraph_maintenance import (
            update_knngraph_state,
        )
        from stock_trend_predictor_spark.streaming.neardup_maintenance import (
            update_neardup_state,
        )
        from stock_trend_predictor_spark.streaming.semdedup_maintenance import (
            update_semdedup_state,
        )

        sc = self.spark.sparkContext
        docs = self.docs.where(F.col("doc_id").isin(doc_ids))
        vecs = self.vecs.where(F.col("vec_id").isin(vec_ids)).select(
            "vec_id", "v")
        calls = (
            ("neardup", lambda: update_neardup_state(
                self.spark, docs, self.dirs["neardup"], batch_id=batch_id)),
            ("semdedup", lambda: update_semdedup_state(
                self.spark, vecs, self.dirs["semdedup"], self.cents,
                batch_id=batch_id)),
            ("knngraph", lambda: update_knngraph_state(
                self.spark, vecs, self.dirs["knngraph"], self.cents,
                batch_id=batch_id)),
        )
        for name, call in calls:
            before = _segments(self.dirs[name])
            group = "fold" if stats is not None else "birth"
            sc.setJobGroup(f"{group}:{name}:{batch_id}", name)
            t = time.perf_counter()
            with self.tracer.span(f"fold.{name}.update"):
                call()
            if stats is None:
                continue
            stats.setdefault(f"{name}.update_s", []).append(
                time.perf_counter() - t)
            new = _segments(self.dirs[name]) - before
            stats.setdefault(f"{name}.bytes", []).append(sum(
                _dir_bytes(os.path.join(self.dirs[name], s)) for s in new))

    def read_keep(self, batch_id: int, doc_ids: list[int],
                  vec_ids: list[int]) -> int:
        """Keep decisions of one batch's arrivals, read back to the driver."""
        from pyspark.sql import functions as F

        from stock_trend_predictor_spark.streaming.knngraph_maintenance import (
            read_knn_graph,
        )
        from stock_trend_predictor_spark.streaming.neardup_maintenance import (
            read_neardup_clusters,
        )
        from stock_trend_predictor_spark.streaming.semdedup_maintenance import (
            read_semdedup_keep,
        )

        self.spark.sparkContext.setJobGroup(f"fold:read:{batch_id}", "read")
        with self.tracer.span("fold.read"):
            nd = read_neardup_clusters(self.spark, self.dirs["neardup"])
            sd = read_semdedup_keep(self.spark, self.dirs["semdedup"])
            kg = read_knn_graph(self.spark, self.dirs["knngraph"])
            return (
                len(nd.where(F.col("doc_id").isin(doc_ids)).collect())
                + len(sd.where(F.col("vec_id").isin(vec_ids)).collect())
                + len(kg.where(F.col("query_id").isin(vec_ids)).collect())
            )


#: The one-shot registry query each fold's final table must equal.
ONE_SHOT = {"neardup": "neardup_keep_decision",
            "semdedup": "semdedup_keep_decision",
            "knngraph": "knn_graph_ivf"}


def _catalyst_ms(df) -> float:
    """Analysis, optimisation and planning time of a query, from Spark's
    own phase tracker (plans the query if it is not planned yet)."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    it = qe.tracker().phases().iterator()
    total = 0.0
    while it.hasNext():
        total += it.next()._2().durationMs()
    return total


def _one_shot(spark, name: str, sf_dir: str, tracer: Tracer,
              layers: dict) -> list:
    """Rows of one registry query; its eager, Catalyst and execution
    times go to ``layers`` as ``plan.<name>.*``."""
    from stock_trend_predictor_spark.plans import REGISTRY

    spark.sparkContext.setJobGroup(f"plan:{name}", name)
    t = time.perf_counter()
    with tracer.span("plan.fn"):
        df = REGISTRY[name].fn(spark, sf_dir)
    layers[f"plan.{name}.fn_s"] = time.perf_counter() - t
    if name == "neardup_keep_decision":
        df = df.select("doc_id", "cluster")
    layers[f"plan.{name}.catalyst_ms"] = _catalyst_ms(df)
    t = time.perf_counter()
    with tracer.span("plan.exec"):
        rows = df.collect()
    layers[f"plan.{name}.exec_s"] = time.perf_counter() - t
    return rows


def run_fold(spark, seed: int, seconds: int, tracer: Tracer, report) -> None:
    from stock_trend_predictor_spark.streaming.knngraph_maintenance import (
        read_knn_graph,
    )
    from stock_trend_predictor_spark.streaming.neardup_maintenance import (
        read_neardup_clusters,
    )
    from stock_trend_predictor_spark.streaming.semdedup_maintenance import (
        read_semdedup_keep,
    )

    sf_dir = str(WORK / "fold-tables")
    t = time.perf_counter()
    tables.write_tables(sf_dir, CORPUS_SEED, FOLD_SF)
    report.setup("gen.input_s", time.perf_counter() - t)

    t = time.perf_counter()
    with tracer.span("fold.birth"):
        folds = Folds(spark, sf_dir, tracer)
        rng = random.Random(seed)
        doc_ids = rng.sample(range(folds.n_docs), folds.n_docs)
        vec_ids = rng.sample(range(folds.n_vecs), folds.n_vecs)
        n_doc0 = int(BIRTH_SHARE * folds.n_docs)
        n_vec0 = int(BIRTH_SHARE * folds.n_vecs)
        folds.update(0, doc_ids[:n_doc0], vec_ids[:n_vec0], None)
    report.setup("fold.birth_s", time.perf_counter() - t)

    rest_d, rest_v = doc_ids[n_doc0:], vec_ids[n_vec0:]
    stats: dict[str, list] = {}
    batch_s: list[float] = []
    start = time.perf_counter()
    while rest_d or rest_v:
        n_d, n_v = BATCH_DOCS, BATCH_VECS
        if batch_s and time.perf_counter() - start + batch_s[-1] >= seconds:
            # another batch of this size would run past --seconds: fold
            # every arrival left, so the final state covers the corpus
            n_d, n_v = len(rest_d), len(rest_v)
        bd, rest_d = rest_d[:n_d], rest_d[n_d:]
        bv, rest_v = rest_v[:n_v], rest_v[n_v:]
        b = len(batch_s) + 1
        t = time.perf_counter()
        with tracer.span("fold.batch"):
            folds.update(b, bd, bv, stats)
            t_read = time.perf_counter()
            folds.read_keep(b, bd, bv)
            stats.setdefault("read_s", []).append(time.perf_counter() - t_read)
        batch_s.append(time.perf_counter() - t)
    total = time.perf_counter() - start
    n = len(batch_s)
    arrivals = (folds.n_docs - n_doc0) + (folds.n_vecs - n_vec0)

    t_check = time.perf_counter()
    spark.sparkContext.setJobGroup("check", "check")
    final = {
        "neardup": read_neardup_clusters(spark, folds.dirs["neardup"]),
        "semdedup": read_semdedup_keep(spark, folds.dirs["semdedup"]),
        "knngraph": read_knn_graph(spark, folds.dirs["knngraph"]),
    }
    final = {f: rows_digest(df.collect()) for f, df in final.items()}
    layers: dict[str, float] = {}
    checks = {}
    for f, query in ONE_SHOT.items():
        want = rows_digest(_one_shot(spark, query, sf_dir, tracer, layers))
        checks[f] = (final[f] == want, f"{final[f][0]} vs {want[0]} rows, "
                     f"sha256 {final[f][1][:12]} vs {want[1][:12]}")
    spark.sparkContext.setJobGroup("", "")
    report.checks(checks)
    report.note("check_s", time.perf_counter() - t_check, "s")
    # a wrong final table means no timed batch can be trusted
    report.ops(n, 0 if all(ok for ok, _ in checks.values()) else n)
    report.e2e(throughput_per_s=arrivals / total,
               latency_ms_p50=1e3 * median(batch_s))
    report.note("fold_batches", n, "count")
    report.note("fold_batch_s_p50", median(batch_s), "s")
    report.note("fold_total_s", total, "s")
    layers["fold.batches"] = n
    layers["fold.read_s"] = median(stats["read_s"])
    for f in FOLDS:
        layers[f"fold.{f}.update_s"] = median(stats[f"{f}.update_s"])
        layers[f"fold.{f}.bytes_written_per_batch"] = median(stats[f"{f}.bytes"])
        layers[f"fold.{f}.state_bytes"] = _dir_bytes(folds.dirs[f])
    report.layer_counts(layers)


def job_metrics(tracer: Tracer, jobs: list[Job]) -> dict[str, float]:
    """From the event log: jobs per fold per batch, job time per phase and
    driver gap per timed batch, and the jobs of each one-shot query."""
    batches = [s for s in tracer.spans if s.name == "fold.batch"]
    n = max(1, len(batches))
    timed = [j for j in jobs if j.group.startswith("fold:")]
    out: dict[str, float] = {}
    for f in FOLDS:
        out[f"fold.{f}.jobs_per_batch"] = sum(
            j.group.startswith(f"fold:{f}:") for j in timed) / n
    for p in PHASES:
        mine = [j for j in timed if _phase(j) == p]
        key = "fold.phase." + ("unlabeled" if p == "-" else p.replace(":", "."))
        out[f"{key}.jobs"] = len(mine) / n
        out[f"{key}.job_s"] = sum(j.end - j.start for j in mine) / n
    out["fold.driver_gap_s"] = sum(
        driver_gap_s(jobs, s.start, s.end) for s in batches) / n
    for query in ONE_SHOT.values():
        out[f"plan.{query}.jobs"] = sum(j.group == f"plan:{query}" for j in jobs)
    return out
