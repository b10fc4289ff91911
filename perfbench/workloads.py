"""The three benchmark workloads: seeded inputs, the pipeline one pass runs
through the engine's public entry points, and the oracle checks of every
pass's outputs.

``draw`` picks the seed's input before set-up, untimed: the ranking
workloads run the oracle there to choose their graph. ``generate`` then
writes two inputs: the measured one, and a tiny warm-up input from the
same generator family whose pass compiles every plan the pipeline runs.
``run_pass(..., path)`` runs the pipeline over either; the workload's
``WARM_PASSES`` says how many more untimed passes over the measured input
precede the timed ones.

A workload's ``CALLS`` names the layer calls one pass makes, and ``check``
returns the names of those whose output is wrong. With ``traced`` set,
every layer call runs inside a tracer span and its output is materialised
inside that span.
"""

from __future__ import annotations

import os
import statistics
import time

import numpy as np

import gen
from spans import Tracer

EPSILON = 1e-6
ATOL = 1e-6
TOP_K = 10


def _edge_list(edges: np.ndarray) -> list[tuple[int, int]]:
    return list(map(tuple, edges.tolist()))


def _graph_counts(edges: np.ndarray) -> dict[str, int]:
    src, dst = edges[:, 0], edges[:, 1]
    nodes = np.union1d(src, dst)
    return {
        "num_nodes": len(nodes),
        "num_edges": len(edges),
        "num_sinks": len(np.setdiff1d(nodes, src)),
    }


def _graph_ok(g, want: dict[str, int]) -> bool:
    return all(getattr(g, k) == v for k, v in want.items())


class _RankOracle:
    """oracle.pagerank answers for one edge list, as id-sorted arrays."""

    def __init__(self, edges: np.ndarray):
        from ps_projekt_pagerank_spark import oracle

        ranks, self.iterations = oracle.pagerank(_edge_list(edges), delta=EPSILON)
        self.ids = np.array(sorted(ranks), dtype=np.int64)
        self.ranks = np.array([ranks[i] for i in self.ids.tolist()])
        self.top = _top_ids(self.ids, self.ranks)
        self.total = float(self.ranks.sum())

    def ranks_ok(self, ranks_pdf) -> bool:
        pdf = ranks_pdf.sort_values("id")
        ids = pdf["id"].to_numpy()
        return (
            len(ids) == len(self.ids)
            and np.array_equal(ids, self.ids)
            and np.allclose(pdf["rank"].to_numpy(), self.ranks, rtol=0.0, atol=ATOL)
        )


def _top_ids(ids: np.ndarray, ranks: np.ndarray) -> list[int]:
    order = np.lexsort((ids, -ranks))  # rank desc, then id asc
    return ids[order[:TOP_K]].tolist()


def _pagerank_extras(g, r) -> dict[str, float]:
    """Per-layer figures from the public PageRankResult.metrics.

    ``active_frac``: nodes active entering each counted sweep ÷ (nodes ×
    sweeps) — N enter sweep 1, and each metrics row's ``n_active`` enters
    the next one (the last row's 0 enters the counted empty sweep)."""
    secs = [m["seconds"] for m in r.metrics]
    entering = g.num_nodes + sum(m.get("n_active", 0) for m in r.metrics)
    return {
        "operators.pagerank.sweeps": r.iterations,
        "operators.pagerank.sweep_s_p50": statistics.median(secs) if secs else 0.0,
        "operators.pagerank.sweep_s_first": secs[0] if secs else 0.0,
        "operators.pagerank.active_frac": (
            entering / (g.num_nodes * r.iterations) if r.iterations else 0.0
        ),
    }


def _graph_extras(g) -> dict[str, float]:
    return {
        "operators.graph.adj_rows": g.num_adj_rows,
        "operators.graph.collapse_frac": g.num_adj_rows / max(g.num_edges, 1),
        "operators.graph.salt_buckets": g.salt_buckets,
    }


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(path)
        for f in files
    )


class TimedCheckpointer:
    """Wraps an IterationCheckpointer's public ``write`` in a
    ``sources.checkpoint`` span and records time and snapshot bytes."""

    def __init__(self, inner, tracer: Tracer):
        self._inner = inner
        self._tracer = tracer
        self.write_s: list[float] = []
        self.bytes = 0

    def latest(self, spark):
        return self._inner.latest(spark)

    def write(self, iteration, state, metrics) -> None:
        with self._tracer.span("sources.checkpoint") as s:
            self._inner.write(iteration, state, metrics)
        self.write_s.append(s.end - s.start)
        self.bytes += _dir_bytes(
            os.path.join(self._inner.base_dir, "ranks", f"iter={iteration}")
        )

    def extras(self) -> dict[str, float]:
        return {
            "sources.checkpoint.write_s": (
                statistics.median(self.write_s) if self.write_s else 0.0
            ),
            "sources.checkpoint.writes": len(self.write_s),
            "sources.checkpoint.bytes_mb": self.bytes / 1e6,
        }


class Ingest:
    """Pages table → (url, text) parquet, then pages → encoded edges →
    graph build. Arrow UDF workers, the url dictionary and the graph build
    do the work; no iterative layer runs."""

    name = "ingest"
    CALLS = ("extract_text", "pages_to_graph", "build_graph")
    WARM_PASSES = 1
    WARM_PAGES = 100

    def __init__(self, n_pages: int):
        self.n_pages = n_pages

    def draw(self, seed: int) -> dict:
        return {}

    def generate(self, seed: int, root: str) -> None:
        # the generator's text column is the oracle's extract_text, so it
        # is both an input column and the expected answer
        self.table = gen.pages_table(seed, self.n_pages)
        self.path = os.path.join(root, "pages")
        gen.write_pages(self.table, self.path, seed)
        self.warm_path = os.path.join(root, "warm-pages")
        gen.write_pages(gen.pages_table((seed, 1), self.WARM_PAGES), self.warm_path, seed)

    def prepare_oracle(self) -> None:
        t = self.table
        self.want_text = dict(zip(t.urls, t.text))
        # url_dictionary numbers distinct urls by url sort order from 0
        ids = {u: i for i, u in enumerate(sorted(t.urls))}
        edges = np.array(
            [(ids[s], ids[d]) for s, d in t.in_crawl_edges], dtype=np.int64
        ).reshape(-1, 2)
        self.n_ids = len(ids)
        self.want_keys, self.want_w = np.unique(
            edges[:, 0] * self.n_ids + edges[:, 1], return_counts=True
        )
        self.want_graph = _graph_counts(edges)
        self.units = self.n_pages

    def run_pass(self, spark, tr, work: str, traced: bool, path: str) -> dict:
        from ps_projekt_pagerank_spark.operators.graph import build_graph
        from ps_projekt_pagerank_spark.sources import extraction as X
        from ps_projekt_pagerank_spark.sources.pages import read_pages

        pages = read_pages(spark, path)
        text_path = os.path.join(work, "text")
        with tr.span("sources.extraction", "text"):
            X.extract_text(pages).write.mode("overwrite").parquet(text_path)
        t0 = time.perf_counter()
        out = {"text_path": text_path, "extras": {}}
        if traced:
            with tr.span("sources.extraction", "hrefs"):
                hrefs = X.extract_href_edges(pages).localCheckpoint(eager=True)
            with tr.span("sources.extraction", "dict"):
                url_dict = X.url_dictionary(pages).localCheckpoint(eager=True)
            with tr.span("sources.extraction", "encode"):
                edges = X.encode_edges(hrefs, url_dict).localCheckpoint(eager=True)
        else:
            edges, _ = X.pages_to_graph(pages)
        with tr.span("operators.graph"):
            g = build_graph(edges)
        out["edge_stage_s"] = time.perf_counter() - t0
        out["graph"] = g
        if traced:
            out["extras"] = {
                **_graph_extras(g),
                "sources.extraction.href_keep_frac": g.num_edges / hrefs.count(),
            }
        return out

    def edge_sweeps(self, out: dict) -> tuple[int, int, float]:
        """(edges, sweeps, seconds): one sweep over the encoded edges by
        the stages that produce and build them."""
        return out["graph"].num_edges, 1, out["edge_stage_s"]

    def check(self, spark, out: dict) -> list[str]:
        bad = []
        got = spark.read.parquet(out["text_path"]).toPandas()
        if dict(zip(got["url"], got["text"])) != self.want_text or len(got) != self.n_pages:
            bad.append("extract_text")
        g = out["graph"]
        adj = g.adj.toPandas()
        keys = adj["src"].to_numpy(np.int64) * self.n_ids + adj["dst"].to_numpy(np.int64)
        order = np.argsort(keys)
        if not (
            np.array_equal(keys[order], self.want_keys)
            and np.array_equal(adj["w"].to_numpy(np.int64)[order], self.want_w)
        ):
            bad.append("pages_to_graph")
        if not _graph_ok(g, self.want_graph):
            bad.append("build_graph")
        return bad

    def release(self, out: dict) -> None:
        if "graph" in out:
            out["graph"].unpersist()


class _EdgeWorkload:
    """Shared input side of the two ranking workloads.

    ``draw`` takes graphs from the seed's stream until the sequential
    oracle needs exactly ``SWEEPS`` sweeps. A generator's sweep count
    varies with the seed (rank-deep's by a few sweeps around its mode) and
    sets most of a pass's cost, so holding it fixed keeps passes comparable
    across seeds while the graph itself still changes with every seed. The
    draws and their oracle runs are untimed; ``generate`` regenerates only
    the accepted graph, so set-up time does not depend on how many draws a
    seed needed."""

    SWEEPS: int
    MAX_DRAWS = 50

    def edges(self, seed) -> np.ndarray:
        raise NotImplementedError

    def warm_edges(self, seed) -> np.ndarray:
        raise NotImplementedError

    def draw(self, seed: int) -> dict:
        t0 = time.perf_counter()
        for draw in range(self.MAX_DRAWS):
            rank = _RankOracle(self.edges((seed, draw)))
            if rank.iterations == self.SWEEPS:
                break
        else:
            raise RuntimeError(
                f"seed {seed}: no graph needing {self.SWEEPS} sweeps "
                f"in {self.MAX_DRAWS} draws"
            )
        self.accepted, self.rank = (seed, draw), rank
        return {"draws": draw + 1, "draw_oracle_s": time.perf_counter() - t0}

    def generate(self, seed: int, root: str) -> None:
        self.edge_array = self.edges(self.accepted)
        self.path = os.path.join(root, "edges")
        gen.write_edges(self.edge_array, self.path)
        self.warm_path = os.path.join(root, "warm-edges")
        gen.write_edges(self.warm_edges(seed), self.warm_path)

    def prepare_oracle(self) -> None:
        self.want_graph = _graph_counts(self.edge_array)
        self.units = self.want_graph["num_nodes"]

    def edge_sweeps(self, out: dict) -> tuple[int, int, float]:
        return out["graph"].num_edges, out["pr"].iterations, out["pr_s"]

    def _pagerank_ok(self, out: dict) -> bool:
        return out["pr"].iterations == self.rank.iterations and self.rank.ranks_ok(
            out["pr"].ranks.toPandas()
        )

    def release(self, out: dict) -> None:
        if "graph" in out:
            out["graph"].unpersist()


class RankLarge(_EdgeWorkload):
    """R-MAT multigraph → build_graph → pagerank (no durable checkpointer)
    → top_bottom_k + total_rank. Few, data-heavy sweeps."""

    name = "rank-large"
    CALLS = ("build_graph", "pagerank", "top_bottom_k", "total_rank")
    SWEEPS = 8
    WARM_PASSES = 1

    def __init__(self, n_edges: int, scale: int):
        self.n_edges = n_edges
        self.scale = scale

    def edges(self, seed) -> np.ndarray:
        return gen.rmat_edges(seed, self.n_edges, self.scale)

    def warm_edges(self, seed) -> np.ndarray:
        return gen.rmat_edges((seed, 1), 5_000, 10)

    def run_pass(self, spark, tr, work: str, traced: bool, path: str) -> dict:
        from ps_projekt_pagerank_spark.operators.graph import build_graph
        from ps_projekt_pagerank_spark.operators.pagerank import pagerank
        from ps_projekt_pagerank_spark.plans.reporting import top_bottom_k, total_rank

        edges = spark.read.parquet(path)
        out: dict = {"extras": {}}
        with tr.span("operators.graph"):
            out["graph"] = g = build_graph(edges)
        t0 = time.perf_counter()
        with tr.span("operators.pagerank"):
            out["pr"] = r = pagerank(edges, epsilon=EPSILON, graph=g)
        out["pr_s"] = time.perf_counter() - t0
        with tr.span("plans.reporting"):
            out["top"] = top_bottom_k(r.ranks, edges, TOP_K).collect()
        with tr.span("plans.reporting"):
            out["total"] = total_rank(r.ranks)
        if traced:
            out["extras"] = {**_graph_extras(g), **_pagerank_extras(g, r)}
        return out

    def check(self, spark, out: dict) -> list[str]:
        bad = []
        if not _graph_ok(out["graph"], self.want_graph):
            bad.append("build_graph")
        if not self._pagerank_ok(out):
            bad.append("pagerank")
        if [int(r["id"]) for r in out["top"] if r["which"] == "top"] != self.rank.top:
            bad.append("top_bottom_k")
        if abs(out["total"] - self.rank.total) > ATOL:
            bad.append("total_rank")
        return bad


class RankDeep(_EdgeWorkload):
    """Zipf web-link graph → build_graph → pagerank with a parquet
    IterationCheckpointer → connected_components → label_propagation(5)
    → triangles_total. Many small sweeps: fixed per-sweep cost dominates."""

    name = "rank-deep"
    CALLS = (
        "build_graph", "pagerank", "connected_components",
        "label_propagation", "triangles_total",
    )
    LP_ROUNDS = 5
    SWEEPS = 15
    # a pass is ~190 Spark jobs whose per-job code the warm-up pass warms;
    # a second untimed pass would add ~17 s to every run
    WARM_PASSES = 0

    def __init__(self, n_pages: int):
        self.n_pages = n_pages

    def edges(self, seed) -> np.ndarray:
        return gen.zipf_link_edges(seed, self.n_pages)

    def warm_edges(self, seed) -> np.ndarray:
        return gen.pair_edges()

    def prepare_oracle(self) -> None:
        from ps_projekt_pagerank_spark.oracle import graph_algos

        super().prepare_oracle()
        el = _edge_list(self.edge_array)
        self.want_cc = graph_algos.connected_components(el)
        self.want_lp = graph_algos.label_propagation(el, rounds=self.LP_ROUNDS)
        self.want_tri = graph_algos.triangle_count(el)[0]

    def run_pass(self, spark, tr, work: str, traced: bool, path: str) -> dict:
        from ps_projekt_pagerank_spark.operators.components import connected_components
        from ps_projekt_pagerank_spark.operators.graph import build_graph
        from ps_projekt_pagerank_spark.operators.labelprop import label_propagation
        from ps_projekt_pagerank_spark.operators.pagerank import pagerank
        from ps_projekt_pagerank_spark.operators.triangles import triangles_total
        from ps_projekt_pagerank_spark.sources.checkpoint import IterationCheckpointer

        edges = spark.read.parquet(path)
        out: dict = {"extras": {}}
        ck = IterationCheckpointer(os.path.join(work, "checkpoints"))
        if traced:
            ck = TimedCheckpointer(ck, tr)
        with tr.span("operators.graph"):
            out["graph"] = g = build_graph(edges)
        t0 = time.perf_counter()
        with tr.span("operators.pagerank"):
            out["pr"] = r = pagerank(edges, epsilon=EPSILON, graph=g, checkpointer=ck)
        out["pr_s"] = time.perf_counter() - t0
        with tr.span("operators.components"):
            out["cc"] = connected_components(edges)
        with tr.span("operators.labelprop"):
            out["lp"] = label_propagation(edges, rounds=self.LP_ROUNDS)
        with tr.span("operators.triangles"):
            out["tri"] = int(triangles_total(edges).first()["triangles"])
        if traced:
            out["extras"] = {
                **_graph_extras(g), **_pagerank_extras(g, r), **ck.extras(),
            }
        return out

    def check(self, spark, out: dict) -> list[str]:
        bad = []
        if not _graph_ok(out["graph"], self.want_graph):
            bad.append("build_graph")
        ranks = out["pr"].ranks.toPandas()
        top = _top_ids(ranks["id"].to_numpy(np.int64), ranks["rank"].to_numpy())
        if (
            out["pr"].iterations != self.rank.iterations
            or not self.rank.ranks_ok(ranks)
            or top != self.rank.top
        ):
            bad.append("pagerank")
        for call, key, col, want in (
            ("connected_components", "cc", "component", self.want_cc),
            ("label_propagation", "lp", "label", self.want_lp),
        ):
            pdf = out[key].toPandas()
            if dict(zip(pdf["id"].tolist(), pdf[col].tolist())) != want:
                bad.append(call)
        if out["tri"] != self.want_tri:
            bad.append("triangles_total")
        return bad

    def release(self, out: dict) -> None:
        super().release(out)
        for key in ("cc", "lp"):
            if key in out:
                out[key].unpersist()

