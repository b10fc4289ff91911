#!/usr/bin/env python
"""Benchmark harness (driver contract + north-rule scaling evidence).

Default mode: run the headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and print ONE JSON line:
    {"metric": ..., "value": <total sec>, "unit": "sec",
     "queries": {name: sec, ...}, "sf": ...,
     "pagerank": {"iterations": n, "edges": m, "edges_per_sec_per_iter": x}}

--scaling mode: run the identical PageRank job at two parallelism levels
(local[2] vs local[8] — the sandbox proxy for N vs 4N executors, per
BASELINE.md) via subprocesses, steal-gated (only a window where the host
delivers both parallelism levels is recorded as clean), and append to
BENCH/BASELINE.md both throughputs and the scaling efficiency (T_2/T_8)/4.

--pagerank-only N: internal helper for --scaling (one timed run at N cores,
prints one JSON line).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def _sf_label(sf_dir: str) -> float:
    try:
        return float(sf_dir.rstrip("/").rsplit("sf", 1)[1])
    except Exception:  # noqa: BLE001
        return -1.0


TRIPLE_K = int(os.environ.get("SPARK_GRAFT_TRIPLE_K", "5"))


def _build_tripled_graph(spark, sf_dir):
    from ps_projekt_pagerank_spark.operators.graph import build_graph
    from ps_projekt_pagerank_spark.sources.derived import web_edges
    from ps_projekt_pagerank_spark.sources.tripler import tripled_k

    return build_graph(tripled_k(web_edges(spark, sf_dir), TRIPLE_K))


_GRAPH_META_FIELDS = (
    "num_nodes", "num_edges", "num_sinks", "num_adj_rows", "id_type",
    "salt_buckets", "max_dst_rows", "mean_dst_rows",
)


def _save_graph(g, store: str) -> None:
    """Persist a built GraphTables to parquet + meta.json so scaling legs
    can LOAD the (expensive, parallelism-independent) adjacency build
    instead of redoing it per subprocess — the tripling+collapse of the
    K=6 graph costs ~20 min at local[2] while the measured (iterative)
    phase is ~3 min, so prebuilding is what makes small-core legs and
    multi-attempt steal-gating affordable. The TIMED metric is unchanged:
    legs still materialize their own persisted adjacency before iterating."""
    g.adj.write.mode("overwrite").parquet(os.path.join(store, "adj"))
    g.nodes.write.mode("overwrite").parquet(os.path.join(store, "nodes"))
    meta = {k: getattr(g, k) for k in _GRAPH_META_FIELDS}
    with open(os.path.join(store, "meta.json"), "w") as f:
        json.dump(meta, f)


def _load_graph(spark, store: str):
    """Load a _save_graph store: re-establish the exact in-memory layout
    build_graph produces (src-hash-partitioned, CSR-sorted, persisted
    adjacency + id-partitioned nodes) with ONE shuffle each, then
    materialize — the timed pagerank that follows sees the same persisted
    state it would after a from-scratch build."""
    from pyspark.storagelevel import StorageLevel

    from ps_projekt_pagerank_spark.operators.graph import GraphTables

    with open(os.path.join(store, "meta.json")) as f:
        meta = json.load(f)
    p = int(spark.conf.get("spark.sql.shuffle.partitions"))
    adj = (
        spark.read.parquet(os.path.join(store, "adj"))
        .repartition(p, "src")
        .sortWithinPartitions("src", "dst")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    nodes = (
        spark.read.parquet(os.path.join(store, "nodes"))
        .repartition(p, "id")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    adj.count()
    nodes.count()
    return GraphTables(nodes=nodes, adj=adj, partitions=p, **meta)


def _pagerank_run(spark, sf_dir):
    """The headline job: converged frozen-node PageRank on the derived web
    graph scaled 3^K x with the reference's own synthetic scale-up
    generator (prepleti.cpp tripler; K=$SPARK_GRAFT_TRIPLE_K, default 5 →
    145.8M multigraph edges at sf0.1 — enough work per iteration that the
    metric measures the engine, not fixed local-mode latency).
    Returns (seconds, iterations, edges, adj_rows, salt_buckets)."""
    from ps_projekt_pagerank_spark import NORTH_EPSILON
    from ps_projekt_pagerank_spark.operators.pagerank import pagerank

    prebuilt = os.environ.get("SPARK_GRAFT_PREBUILT_DIR")
    if prebuilt:
        edges = None
        g = _load_graph(spark, prebuilt)
    else:
        edges = None
        g = _build_tripled_graph(spark, sf_dir)
    # min-of-repeats on the once-built graph: host CPU steal varies
    # several-fold minute to minute (tools/cpu_probe.py), and the second
    # run also measures warm-codegen steady state — what a long-running
    # cluster job actually sees
    best, iters = None, 0
    for _ in range(int(os.environ.get("SPARK_GRAFT_BENCH_REPEATS", "2"))):
        t0 = time.perf_counter()
        res = pagerank(edges, epsilon=NORTH_EPSILON, max_iterations=200, graph=g)
        dt = time.perf_counter() - t0
        res.ranks.count()
        if best is None or dt < best:
            best, iters = dt, res.iterations
    g.unpersist()
    return best, iters, g.num_edges, g.num_adj_rows, g.salt_buckets


def run_suite(spark, sf_dir):
    from pyspark.sql import functions as F

    from ps_projekt_pagerank_spark.operators.components import (
        connected_components,
    )
    from ps_projekt_pagerank_spark.operators.dedup import (
        minhash_lsh_pairs,
    )
    from ps_projekt_pagerank_spark.operators.labelprop import label_propagation
    from ps_projekt_pagerank_spark.operators.pagerank import pagerank_fixed
    from ps_projekt_pagerank_spark.operators.graph import build_graph
    from ps_projekt_pagerank_spark.operators.similarity import knn_bruteforce
    from ps_projekt_pagerank_spark.operators.triangles import triangles_total
    from ps_projekt_pagerank_spark.sources import derived as D
    from ps_projekt_pagerank_spark.sources.extraction import extract_text_udf

    timings: dict[str, float] = {}
    extras: dict = {}
    repeats = int(os.environ.get("SPARK_GRAFT_BENCH_REPEATS", "2"))

    def timed(name, fn):
        # min-of-repeats: host CPU steal varies several-fold (cpu_probe),
        # so a single sample can misreport any query by 3-4x
        best = None
        for _ in range(repeats):
            t0 = time.perf_counter()
            fn()
            dt = time.perf_counter() - t0
            best = dt if best is None else min(best, dt)
        timings[name] = round(best, 3)

    # headline: converged PageRank (iterative phase only)
    dt, iters, edges, adj_rows, salt = _pagerank_run(spark, sf_dir)
    timings["pagerank_converged"] = round(dt, 3)
    extras["pagerank"] = {
        "iterations": iters,
        "edges": edges,
        "adj_rows": adj_rows,
        "triple_k": TRIPLE_K,
        "seconds": round(dt, 3),
        "edges_per_sec_per_iter": round(edges * iters / dt, 1),
        # distribution-derived skew salting (graph.build_graph): 1 on this
        # near-uniform dst domain is the CORRECT derivation, recorded so
        # the decision is auditable
        "salt_buckets": salt,
    }

    # skew path: ~45% of edges share one dst — build_graph must derive
    # salt_buckets > 1 and the salted two-stage gather must not be slower
    # than the same job would be at fair-share imbalance
    gs = build_graph(D.skew_edges(spark, sf_dir))
    extras["pagerank_skewed"] = {
        "salt_buckets": gs.salt_buckets,
        "max_dst_rows": gs.max_dst_rows,
        "mean_dst_rows": gs.mean_dst_rows,
        "adj_rows": gs.num_adj_rows,
    }
    timed(
        "pagerank_skew4",
        lambda: pagerank_fixed(
            D.skew_edges(spark, sf_dir), 4, graph=gs
        ).count(),
    )
    gs.unpersist()

    timed(
        "pagerank_fixed4",
        lambda: pagerank_fixed(D.web_edges(spark, sf_dir), 4).count(),
    )
    timed(
        "connected_components",
        lambda: connected_components(D.block_edges(spark, sf_dir)).count(),
    )
    timed(
        "label_propagation",
        lambda: label_propagation(D.block_edges(spark, sf_dir), rounds=5).count(),
    )
    timed(
        "triangles",
        lambda: triangles_total(D.sparse_edges(spark, sf_dir)).collect(),
    )

    from ps_projekt_pagerank_spark.operators.hits import hits

    timed(
        "hits4",
        lambda: hits(D.web_edges(spark, sf_dir), iterations=4).count(),
    )
    timed(
        "dedup_minhash_pairs",
        lambda: minhash_lsh_pairs(
            D.documents(spark, sf_dir).select("doc_id", "text")
        ).count(),
    )

    from ps_projekt_pagerank_spark.operators.winnow import winnow_pairs

    timed(
        "dedup_winnow_pairs",
        lambda: winnow_pairs(
            D.documents(spark, sf_dir).select("doc_id", "text")
        ).count(),
    )

    from ps_projekt_pagerank_spark.operators.dedup import semdedup

    timed(
        "semdedup",
        lambda: semdedup(
            D.embeddings(spark, sf_dir),
            threshold=0.35,
            num_centroids=8,
            nprobe=2,
        ).count(),
    )

    from ps_projekt_pagerank_spark.operators.textrank import textrank_keywords

    timed(
        "textrank_keywords",
        lambda: textrank_keywords(
            D.documents(spark, sf_dir).select("doc_id", "text"), top_k=3
        ).count(),
    )

    vecs = D.embeddings(spark, sf_dir)
    queries = vecs.where(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )
    timed("knn_bruteforce", lambda: knn_bruteforce(vecs, queries, 5).count())

    # ANN quality gate: recall@5 of the trained-k-means IVF path vs the
    # exact answer (the classic IVF trade — fraction of corpus scanned vs
    # recall — made auditable per round), at the size-DERIVED K ≈ √n and
    # nprobe ≈ K/6 a 100 TB deployment would use (VERDICT r2 item 6).
    # Recall is measured over 16 queries (80 pairs) — the 3-query timed set
    # above quantizes recall to 1/15 steps, too coarse to grade against the
    # 0.9 bar (round 2's "0.867" was exactly one missed pair)
    from ps_projekt_pagerank_spark.operators.similarity import (
        derive_nprobe,
        derive_num_centroids,
        knn_ivf,
    )

    rq = vecs.where(F.col("vec_id") < 16).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in knn_bruteforce(vecs, rq, 5).collect()
    }
    ivf_k = derive_num_centroids(vecs.count())
    ivf_np = derive_nprobe(ivf_k)
    approx = {
        (r["query_id"], r["neighbor_id"])
        for r in knn_ivf(
            vecs, rq, 5, num_centroids=ivf_k, nprobe=ivf_np
        ).collect()
    }
    extras["knn_ivf"] = {
        "recall_at_5": round(len(approx & exact) / max(len(exact), 1), 3),
        "recall_queries": 16,
        "num_centroids": ivf_k,
        "nprobe": ivf_np,
        "derived": True,
        "kmeans_iters": 2,
    }

    # compressed-corpus ANN (round 4): PQ ADC and IVFADC serving paths.
    # Recall on these SYNTHETIC near-uniform embeddings is the PQ
    # worst case (no cluster structure — quantization error dominates, see
    # test_pq.py docstring), so it is recorded as an honest floor, not
    # graded against the IVF bar; the timed numbers are the point — the
    # corpus is scanned as (int, int) codes, never as raw floats
    from ps_projekt_pagerank_spark.operators.similarity import (
        knn_ivfpq,
        knn_pq,
    )

    timed("knn_pq", lambda: knn_pq(vecs, queries, 5, dim=64).count())
    timed(
        "knn_ivfpq",
        lambda: knn_ivfpq(
            vecs, queries, 5, num_cells=ivf_k, nprobe=ivf_np, dim=64
        ).count(),
    )
    pq_approx = {
        (r["query_id"], r["neighbor_id"])
        for r in knn_pq(vecs, rq, 5, dim=64).collect()
    }
    ivfpq_approx = {
        (r["query_id"], r["neighbor_id"])
        for r in knn_ivfpq(
            vecs, rq, 5, num_cells=ivf_k, nprobe=ivf_np, dim=64
        ).collect()
    }
    extras["knn_pq"] = {
        "recall_at_5": round(len(pq_approx & exact) / max(len(exact), 1), 3),
        "ivfpq_recall_at_5": round(
            len(ivfpq_approx & exact) / max(len(exact), 1), 3
        ),
        "recall_queries": 16,
        "m": 4,
        "ksub": 8,
        "num_cells": ivf_k,
        "nprobe": ivf_np,
        "uniform_worst_case": True,
    }

    # incremental re-rank (streaming/crawl.py's payoff): after a ~1% edge
    # delta, warm-starting from the previous converged ranks vs a cold
    # 1/N start on the same updated graph — the cross-run amortization a
    # continuous crawl buys. One timed run each (the iteration-count gap
    # is the steal-immune signal; wall seconds give the latency scale)
    from ps_projekt_pagerank_spark import NORTH_EPSILON
    from ps_projekt_pagerank_spark.operators.pagerank import pagerank

    base_edges = D.web_edges(spark, sf_dir)
    prev = pagerank(base_edges, epsilon=NORTH_EPSILON, max_iterations=200)
    prev_ranks = prev.ranks.localCheckpoint(eager=True)
    delta = base_edges.where(F.pmod("src", 101) == 0).select(
        "src", (F.col("dst") + 1).alias("dst")
    )
    gu = build_graph(base_edges.unionAll(delta))
    t0 = time.perf_counter()
    cold = pagerank(None, graph=gu, epsilon=NORTH_EPSILON, max_iterations=200)
    cold.ranks.count()
    cold_s = time.perf_counter() - t0
    t0 = time.perf_counter()
    warm = pagerank(
        None, graph=gu, epsilon=NORTH_EPSILON, max_iterations=200,
        init_ranks=prev_ranks,
    )
    warm.ranks.count()
    warm_s = time.perf_counter() - t0
    gu.unpersist()
    timings["pagerank_rerank_warm"] = round(warm_s, 3)
    extras["incremental_rerank"] = {
        "cold_seconds": round(cold_s, 3),
        "warm_seconds": round(warm_s, 3),
        "cold_iterations": cold.iterations,
        "warm_iterations": warm.iterations,
        "delta_edges_pct": 1.0,
    }

    # round-3 graph additions: sampled Brandes betweenness (integer
    # nano-unit arithmetic) and k-truss peeling — both iterative
    # join+agg loops over the same derived graphs the gate checks
    from ps_projekt_pagerank_spark.operators.betweenness import (
        betweenness_sampled,
    )
    from ps_projekt_pagerank_spark.operators.triangles import k_truss

    timed(
        "betweenness4",
        lambda: betweenness_sampled(
            D.sparse_edges(spark, sf_dir), [0, 17, 42, 99], 4
        ).count(),
    )
    timed(
        "ktruss3",
        lambda: k_truss(D.sparse_edges(spark, sf_dir), 3).count(),
    )

    # round-4 additions: Louvain phase-1, maximal matching + contraction
    # coarsening over the web graph, BPE merge induction over documents
    from ps_projekt_pagerank_spark.operators.coarsen import coarsen_edges
    from ps_projekt_pagerank_spark.operators.louvain import louvain_moves
    from ps_projekt_pagerank_spark.operators.matching import maximal_matching
    from ps_projekt_pagerank_spark.functions.bpe import bpe_learn_merges

    timed(
        "louvain4",
        lambda: louvain_moves(D.web_edges(spark, sf_dir), rounds=4).count(),
    )
    timed(
        "matching",
        lambda: maximal_matching(D.web_edges(spark, sf_dir)).count(),
    )
    timed(
        "coarsen",
        lambda: coarsen_edges(D.web_edges(spark, sf_dir)).count(),
    )
    timed(
        "bpe_merges8",
        lambda: bpe_learn_merges(
            D.documents(spark, sf_dir).select("doc_id", "text"), 8
        ).count(),
    )
    extras["bpe"] = {
        "merges": 8,
        # candidate-collect driver actions of the LAST (min-of-n) run —
        # the batched learner's round count; 8 = fully sequential
        "candidate_actions": getattr(bpe_learn_merges, "last_actions", None),
    }

    # the composed corpus-filter flagship (exact dedup -> chunk cap ->
    # Gopher rule -> weighted sample) as ONE plan over the documents table
    from ps_projekt_pagerank_spark.plans.corpus import corpus_pipeline

    timed(
        "corpus_filter",
        lambda: corpus_pipeline(
            D.documents(spark, sf_dir).select("doc_id", "text", "n_chars")
        ).count(),
    )

    # Arrow-vectorized text extraction over synthesized html
    docs = D.documents(spark, sf_dir)
    html = F.concat(
        F.lit("<html><body><p>"), F.col("text"), F.lit("</p></body></html>")
    ).cast("binary")
    timed(
        "extract_text_arrow",
        lambda: docs.select(extract_text_udf(html).alias("t"))
        .agg(F.sum(F.length("t")))
        .collect(),
    )
    return timings, extras


def _steal_probe(procs: int = 8) -> dict:
    """~2 s host-weather probe (tools/cpu_probe.steal_context), never fatal."""
    try:
        from tools.cpu_probe import steal_context

        return steal_context(procs=procs)
    except Exception as exc:  # noqa: BLE001 — bench must not die on a probe
        return {"error": str(exc)}


def main_bench():
    from ps_projekt_pagerank_spark.session import get_spark

    spark = get_spark("bench", cores=CPUS, shuffle_partitions=CPUS)
    probe_before = _steal_probe()
    timings, extras = run_suite(spark, SF_DIR)
    out = {
        "metric": "headline suite wall-clock (converged PageRank + graph "
        "algorithms + dedup/knn/extraction) at local[%d]" % CPUS,
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "n": int(os.environ.get("SPARK_GRAFT_BENCH_REPEATS", "2")),
        "queries": timings,
        "sf": _sf_label(SF_DIR),
        # host weather at suite start/end: this box shows several-fold
        # time-varying CPU steal, so cross-round comparisons need the
        # effective-core context recorded next to the numbers
        "steal_context": {"before": probe_before, "after": _steal_probe()},
        **extras,
    }
    print(json.dumps(out))


def main_build_graph(store: str):
    """Build the K=$SPARK_GRAFT_TRIPLE_K graph ONCE at full parallelism and
    persist it for the scaling legs (see _save_graph)."""
    from ps_projekt_pagerank_spark.session import get_spark

    spark = get_spark("bench-build", cores=CPUS, shuffle_partitions=CPUS)
    os.makedirs(store, exist_ok=True)
    t0 = time.perf_counter()
    g = _build_tripled_graph(spark, SF_DIR)
    _save_graph(g, store)
    print(
        json.dumps(
            {
                "built_store": store,
                "seconds": round(time.perf_counter() - t0, 3),
                "adj_rows": g.num_adj_rows,
                "edges": g.num_edges,
            }
        )
    )


def main_pagerank_only(cores: int):
    from ps_projekt_pagerank_spark.session import get_spark

    # SPARK_GRAFT_LEG_PARTITIONS pins the shuffle-partition count across
    # legs (default: the leg's core count, the historical protocol). The
    # 1-vs-4 sessions pin it to 4 so BOTH levels iterate the IDENTICAL
    # physical layout — the ratio then isolates parallelism, and no leg
    # funnels 355M adjacency rows through a single shuffle partition.
    parts = int(os.environ.get("SPARK_GRAFT_LEG_PARTITIONS", str(cores)))
    spark = get_spark(f"bench-pr-{cores}", cores=cores, shuffle_partitions=parts)
    # probe at THIS leg's core count before and after the timed runs: a leg
    # only counts as a clean-window measurement when the host delivered the
    # leg's parallelism on both sides of the run (VERDICT r3 task 1)
    probe_before = _steal_probe(procs=cores)
    dt, iters, edges, adj_rows, salt = _pagerank_run(spark, SF_DIR)
    probe_after = _steal_probe(procs=cores)
    eff_min = min(
        probe_before.get("effective_cores", 0.0),
        probe_after.get("effective_cores", 0.0),
    )
    print(
        json.dumps(
            {
                "cores": cores,
                "n": int(os.environ.get("SPARK_GRAFT_BENCH_REPEATS", "2")),
                "seconds": round(dt, 3),
                "iterations": iters,
                "edges": edges,
                "adj_rows": adj_rows,
                "edges_per_sec_per_iter": round(edges * iters / dt, 1),
                "steal_context": probe_after,
                "steal_before": probe_before,
                "effective_cores_min": eff_min,
            }
        )
    )


def _leg_gate(cores: int) -> float:
    """Minimum effective cores for a leg at local[cores] to count as a
    clean-window measurement (VERDICT r3 task 1: local[8] >= 7, local[2]
    >= 1.9; other levels default to SPARK_GRAFT_LEG_GATE_FRAC of
    requested, default 87.5%). The gate is symmetric on purpose: a
    starved 4N leg DEFLATES the efficiency ratio, but a starved N leg
    INFLATES it — an honest scaling number needs both legs delivered."""
    frac = float(os.environ.get("SPARK_GRAFT_LEG_GATE_FRAC", "0.875"))
    return {2: 1.9, 8: 7.0}.get(cores, frac * cores)


def _wait_clean_window(cores_pair, max_polls: int, sleep_s: float) -> bool:
    """Poll cpu_probe until the host delivers BOTH legs' parallelism.

    Cheap (~2 s/poll) pre-gate so a dirty window costs a probe, not a
    multi-minute Spark session. Bounded: returns False when the window
    never opened, and the caller decides whether to burn an attempt."""
    from tools.cpu_probe import measure

    for i in range(max_polls):
        base = measure(1, repeats=1)
        effs = {}
        ok = True
        for c in sorted(set(cores_pair)):
            w = measure(c, repeats=1)
            effs[c] = round(c * base / w, 2)
            ok = ok and effs[c] >= _leg_gate(c)
        print(
            json.dumps({"window_poll": i, "effective": effs, "clean": ok}),
            flush=True,
        )
        if ok:
            return True
        time.sleep(sleep_s)
    return False


def main_scaling():
    """local[N] vs local[4N] on identical input → BENCH/BASELINE.md.

    Steal-gated (VERDICT r3 task 1): the sandbox VM shows several-fold
    time-varying CPU steal, so a raw T_N/T_4N ratio is only meaningful in
    a window where the host actually delivered both parallelism levels.
    Protocol per attempt:
      1. poll tools/cpu_probe until effective cores >= gate for BOTH leg
         sizes (local[8] >= 7.0, local[2] >= 1.9), bounded polls;
      2. run the legs interleaved (repeat-major) so residual weather biases
         both levels equally; every leg probes at ITS core count before and
         after its timed runs;
      3. a leg is CLEAN iff min(before, after) effective cores >= gate; the
         session is RECORDED as clean iff both levels have >= 1 clean leg
         (fastest clean leg per level feeds the efficiency).
    Starved attempts are appended to BENCH/BASELINE.md too (marked), up to
    SPARK_GRAFT_SCALE_ATTEMPTS (default 3) attempts total.

    Default work size is TRIPLE_K=6 (437M multigraph edges at sf0.1):
    measured fixed driver cost ~1.1 s/sweep is ~23% of local[8] wall there
    vs ~55% at K=5, so K=6 is the smallest size where a raw (not
    fixed-cost-adjusted) efficiency can clear the 0.8 north-rule bar.

    Default pair is local[2] vs local[8]: measured host throughput caps at
    ~8 effective cores regardless of thread count (cpu_probe), so an
    N-vs-4N comparison is only meaningful when 4N fits inside what the
    host can actually deliver."""
    scale_k = os.environ.get("SPARK_GRAFT_TRIPLE_K", "6")
    cores_pair = [
        int(c)
        for c in os.environ.get("SPARK_GRAFT_SCALE_CORES", "2,8").split(",")
    ]
    repeats = int(os.environ.get("SPARK_GRAFT_SCALE_REPEATS", "2"))
    attempts = int(os.environ.get("SPARK_GRAFT_SCALE_ATTEMPTS", "3"))
    max_polls = int(os.environ.get("SPARK_GRAFT_SCALE_POLLS", "30"))
    poll_sleep = float(os.environ.get("SPARK_GRAFT_SCALE_POLL_SLEEP", "30"))
    env = dict(
        os.environ,
        SPARK_GRAFT_SF_DIR=SF_DIR,
        SPARK_GRAFT_TRIPLE_K=scale_k,
        # identical physical layout across legs (see main_pagerank_only)
        SPARK_GRAFT_LEG_PARTITIONS=os.environ.get(
            "SPARK_GRAFT_LEG_PARTITIONS", str(max(cores_pair))
        ),
        # one timed pagerank per leg subprocess: cross-attempt minimum is
        # the stable estimator here, and it halves the window each attempt
        # must stay clean for
        SPARK_GRAFT_BENCH_REPEATS=os.environ.get(
            "SPARK_GRAFT_BENCH_REPEATS", "1"
        ),
    )
    # build the graph ONCE at full parallelism; legs load it (steal-gated
    # windows are scarce — a leg must not spend 20 min rebuilding inside
    # one). Opt out with SPARK_GRAFT_PREBUILT=0.
    if os.environ.get("SPARK_GRAFT_PREBUILT", "1") != "0":
        store = os.environ.get(
            "SPARK_GRAFT_PREBUILT_DIR",
            "/tmp/spark_graft_scalestore_k%s_%s" % (scale_k, _sf_label(SF_DIR)),
        )
        if not os.path.exists(os.path.join(store, "meta.json")):
            out = subprocess.run(
                [sys.executable, __file__, "--build-graph", store],
                capture_output=True, text=True, env=env,
            )
            if out.returncode != 0:
                print(json.dumps({"build_failed": out.stderr[-4000:]}))
                return
            print(out.stdout.strip().splitlines()[-1], flush=True)
        env["SPARK_GRAFT_PREBUILT_DIR"] = store

    import datetime

    summary = None
    for attempt in range(1, attempts + 1):
        window_ok = _wait_clean_window(cores_pair, max_polls, poll_sleep)
        if not window_ok and attempt < attempts:
            print(
                json.dumps({"attempt": attempt, "skipped": "window never "
                            "opened within poll budget"}),
                flush=True,
            )
            continue
        all_runs, best_clean, best_any = [], {}, {}
        # interleave the levels A/B-style (repeat-major order) so
        # time-varying host steal biases both levels equally
        for _ in range(repeats):
            for cores in cores_pair:
                out = subprocess.run(
                    [sys.executable, __file__, "--pagerank-only", str(cores)],
                    capture_output=True, text=True, env=env,
                )
                if out.returncode != 0:
                    # a failed leg costs the leg, not the session
                    print(
                        json.dumps(
                            {
                                "leg_failed": cores,
                                "stderr_tail": out.stderr[-8000:],
                            }
                        ),
                        flush=True,
                    )
                    continue
                r = json.loads(out.stdout.strip().splitlines()[-1])
                r["clean"] = r.get("effective_cores_min", 0.0) >= _leg_gate(cores)
                all_runs.append(r)
                print(json.dumps({"leg": r}), flush=True)
                if cores not in best_any or r["seconds"] < best_any[cores]["seconds"]:
                    best_any[cores] = r
                if r["clean"] and (
                    cores not in best_clean
                    or r["seconds"] < best_clean[cores]["seconds"]
                ):
                    best_clean[cores] = r
        if not all(c in best_any for c in cores_pair):
            print(
                json.dumps({"attempt": attempt, "failed": "a level has no "
                            "successful leg"}),
                flush=True,
            )
            continue
        clean = all(c in best_clean for c in cores_pair)
        best = best_clean if clean else best_any
        rn, r4n = best[cores_pair[0]], best[cores_pair[1]]
        eff = (rn["seconds"] / r4n["seconds"]) / 4
        os.makedirs("BENCH", exist_ok=True)
        # APPEND a dated session block — host CPU steal varies several-fold
        # between sessions, so history is the evidence, not any single run
        # (the file's hand-written header explains how to read it and names
        # the best same-session pair; update that line when a session beats
        # it)
        stamp = datetime.datetime.now().strftime("%Y-%m-%d %H:%M")
        with open("BENCH/BASELINE.md", "a") as f:
            f.write(
                "\n## Session %s — tripled %dx, %s, %d repeat(s)/level, "
                "efficiency (T_%d/T_%d)/4 = %.3f — %s\n\n"
                "| config | wall sec (iterative phase) | iterations | edges "
                "| adj rows | edges/sec/iteration | eff cores before/after "
                "(gate) | clean leg |\n"
                "|---|---|---|---|---|---|---|---|\n"
                % (
                    stamp, 3 ** int(scale_k), SF_DIR, repeats,
                    cores_pair[0], cores_pair[1], eff,
                    "CLEAN WINDOW (steal-gated: every leg below passed its "
                    "gate)" if clean else "starved window — do not grade "
                    "(a leg failed its effective-core gate)",
                )
            )
            for r in all_runs:
                f.write(
                    "| local[%d] | %.3f | %d | %d | %d | %.0f | "
                    "%.2f/%.2f (>=%.1f) | %s |\n"
                    % (
                        r["cores"], r["seconds"], r["iterations"], r["edges"],
                        r["adj_rows"], r["edges_per_sec_per_iter"],
                        r.get("steal_before", {}).get("effective_cores", 0.0),
                        r.get("steal_context", {}).get("effective_cores", 0.0),
                        _leg_gate(r["cores"]),
                        "yes" if r["clean"] else "no",
                    )
                )
        summary = {
            "scaling_efficiency": round(eff, 3),
            "clean_window": clean,
            "attempt": attempt,
            "triple_k": int(scale_k),
            "best": list(best.values()),
            "runs": all_runs,
        }
        print(json.dumps(summary), flush=True)
        if clean:
            break
    if summary is None:
        print(json.dumps({"error": "no attempt ran — window never opened"}))


if __name__ == "__main__":
    if "--scaling" in sys.argv:
        main_scaling()
    elif "--build-graph" in sys.argv:
        main_build_graph(sys.argv[sys.argv.index("--build-graph") + 1])
    elif "--pagerank-only" in sys.argv:
        main_pagerank_only(int(sys.argv[sys.argv.index("--pagerank-only") + 1]))
    else:
        main_bench()
