"""P1-P7 — iterative PageRank with the reference's exact semantics
(reference sequential loop: src/Graph.cpp:118-173; formula Naloga4.pdf p.1),
re-expressed as a driver-side while-loop over DataFrame gather/scatter —
the Spark idiom for the reference's host-driven GPU loop (Graph4CL.cpp:
112-206, which likewise collects a scalar per iteration and re-injects it).

Semantics (validated against the NumPy oracle, which reproduces the
reference binary's 25/29/44 fixture iteration counts):

P1 init      rank = 1/N, all nodes active            (Graph.cpp:124-128)
P2 sink mass sink_sum = ((1-d) + d*Σ_sinks rank)/N from CURRENT committed
             ranks — frozen sinks keep contributing  (Graph.cpp:135-140)
P3 scatter   every edge contributes rank[src]/outdeg[src]; frozen sources
             contribute their frozen rank            (Graph.cpp:149-152)
P4 gather    rank_new = sink_sum + d*Σ contribs; nodes with no in-links
             get plain sink_sum (left join+coalesce) (Graph.cpp:147-154)
P5 freeze    active nodes commit rank_new; |new-old| < δ freezes the node
             out of later recomputes                 (Graph.cpp:160-169)
P6 stop      loop ends on the first sweep that finds no active node; that
             empty sweep IS counted                  (Graph.cpp:130-158)
P7 counter   returned iteration count includes it    (Graph.cpp:133,172)

Scale design (the part the reference solves with CSR + OpenMP dynamic
scheduling, SURVEY.md §4):

- the |E|-row adjacency is partitioned ONCE by src (build_graph) and never
  re-shuffled; the |V|-row rank state is hash-partitioned by id into the
  same ``g.partitions`` buckets ONCE, when the loop starts, and every
  sweep keeps it there — so the scatter join (state ⋈ adj on src) and the
  commit join (state ⟕ gathered on id) are both partition-local and the
  only shuffle of a sweep is the gather by dst. Both joins carry a
  ``shuffle_hash`` hint, so Catalyst never broadcasts the state: a
  broadcast is one more job per sweep and re-sends all |V| rows;
- the gather is a hash aggregation with automatic partial (map-side)
  combine, which already collapses each partition's contributions to one
  row per distinct dst before the shuffle; for pathological hub skew
  ``salt_buckets`` adds an explicit two-stage aggregation
  (groupBy(dst, salt) → groupBy(dst), one more shuffle), the reference's
  dynamic-schedule analogue (Graph.cpp:206);
- the loop runs with AQE off and ``spark.sql.shuffle.partitions`` pinned
  to ``g.partitions`` (both restored on exit): AQE submits every query
  stage as its own job, and a localCheckpoint planned under AQE reports
  unknown partitioning, which would re-shuffle the state every sweep.
  Inside the loop, skew is the explicit ``salt_buckets``' job;
- exactly ONE Spark job per sweep: the eager localCheckpoint that
  truncates lineage also publishes the sweep's (active count, Σ sink
  rank) through an Observation — the same "device→host scalar per
  iteration" shape as the reference GPU path (Graph4CL.cpp:166-181);
- durable snapshots for resume go through sources.checkpoint (one write
  job per sweep).
"""

from __future__ import annotations

import time
from contextlib import contextmanager
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from .. import DAMPING, NORTH_EPSILON
from .graph import GraphTables, build_graph


@dataclass
class PageRankResult:
    ranks: DataFrame  # id LONG, rank DOUBLE
    iterations: int
    metrics: list[dict] = field(default_factory=list)


@contextmanager
def _co_partitioned_loop(spark: SparkSession, partitions: int):
    """Session settings under which the rank state keeps the adjacency's
    hash partitioning across sweeps: AQE off, shuffle partitions equal to
    the adjacency's. The previous values are restored on exit, also when
    the loop raises."""
    conf = spark.conf
    keys = {
        "spark.sql.adaptive.enabled": "false",
        "spark.sql.shuffle.partitions": str(partitions),
    }
    saved = {k: conf.get(k) for k in keys}
    for k, v in keys.items():
        conf.set(k, v)
    try:
        yield
    finally:
        for k, v in saved.items():
            conf.set(k, v)


def _loop_state(
    g: GraphTables, start: DataFrame, rank: F.Column, active: F.Column | None = None
) -> DataFrame:
    """The loop's state layout over ``start`` (id, outdeg, is_sink, ...):
    ids in the adjacency's id type, hash-partitioned by id into
    ``g.partitions`` — the layout ``g.adj`` has by src, so the scatter join
    needs no exchange (Murmur3 hashes int and long differently, hence the
    cast before the repartition)."""
    return start.select(
        F.col("id").cast(g.id_type).alias("id"),
        F.col("outdeg").cast(g.id_type).alias("outdeg"),
        "is_sink",
        rank.alias("rank"),
        (F.lit(True) if active is None else active).alias("active"),
    ).repartition(g.partitions, "id")


def _materialize(state: DataFrame, name: str) -> tuple[DataFrame, int, float]:
    """One job: checkpoint ``state`` (lineage cut, partitioning kept) and
    read (active node count, Σ rank over sinks) off the same pass."""
    obs = Observation(name)
    state = state.observe(
        obs,
        F.sum(F.col("active").cast("long")).alias("n_active"),
        F.sum(F.when(F.col("is_sink"), F.col("rank")).otherwise(0.0)).alias(
            "sink_rank"
        ),
    ).localCheckpoint(eager=True)
    row = obs.get
    return state, int(row["n_active"] or 0), float(row["sink_rank"] or 0.0)


def _step(
    state: DataFrame,
    adj: DataFrame,
    sink_sum: float,
    damping: float,
    delta: float,
    salt_buckets: int,
) -> DataFrame:
    """One Jacobi sweep: scatter-join + gather-agg + freeze-commit.

    The ``shuffle_hash`` hints keep both joins partition-local over the
    co-partitioned state (see the module docstring); the gather by dst is
    the sweep's one exchange."""
    ranks_src = state.select(
        F.col("id").alias("src_id"), "rank", F.col("outdeg").alias("od")
    ).where(F.col("od") > 0)

    contribs = adj.join(
        ranks_src.hint("shuffle_hash"), adj["src"] == ranks_src["src_id"]
    ).select("dst", (F.col("w") * F.col("rank") / F.col("od")).alias("c"))

    if salt_buckets > 1:
        # explicit two-stage agg for hub skew: partial per (dst, salt),
        # then final per dst — deterministic salt from the contribution row
        salted = contribs.withColumn(
            "salt", F.pmod(F.xxhash64("dst", "c"), F.lit(salt_buckets))
        )
        gathered = (
            salted.groupBy("dst", "salt")
            .agg(F.sum("c").alias("cs"))
            .groupBy("dst")
            .agg(F.sum("cs").alias("contrib"))
        )
    else:
        gathered = contribs.groupBy("dst").agg(F.sum("c").alias("contrib"))

    new_rank = F.lit(sink_sum) + F.lit(damping) * F.coalesce(
        F.col("contrib"), F.lit(0.0)
    )
    return (
        state.join(
            gathered.hint("shuffle_hash"), state["id"] == gathered["dst"], "left"
        )
        .select(
            "id",
            "outdeg",
            "is_sink",
            F.when(F.col("active"), new_rank).otherwise(F.col("rank")).alias("rank"),
            (
                F.col("active")
                & (F.abs(new_rank - F.col("rank")) >= F.lit(delta))
            ).alias("active"),
        )
    )


def pagerank(
    edges: DataFrame,
    damping: float = DAMPING,
    epsilon: float = NORTH_EPSILON,
    max_iterations: int = 1000,
    salt_buckets: int | None = None,
    checkpointer=None,
    graph: GraphTables | None = None,
    partitions: int | None = None,
    init_ranks: DataFrame | None = None,
) -> PageRankResult:
    """Run frozen-node PageRank to convergence.

    ``init_ranks`` (id, rank) warm-starts the iteration — the incremental
    path after small graph updates: ranks from the previous run are close
    to the new fixed point, so convergence takes a fraction of the cold
    1/N-start sweeps (tested). Nodes absent from ``init_ranks`` (newly
    discovered pages) start at 1/N; all nodes start active.

    ``salt_buckets=None`` (default) engages the bucket count build_graph
    derived from the in-degree distribution (1 on uniform graphs — see
    graph.build_graph); pass an int to override.

    A negative ``epsilon`` never freezes a node, so exactly
    ``max_iterations`` sweeps run (``pagerank_fixed``).

    ``checkpointer`` (sources.checkpoint.IterationCheckpointer) durably
    writes rank vectors + metrics after every sweep and enables resume;
    with or without it, lineage is truncated in-memory every sweep.
    """
    own_graph = graph is None
    g = graph or build_graph(edges, partitions)
    if salt_buckets is None:
        salt_buckets = g.salt_buckets
    n = g.num_nodes
    if n == 0:
        return PageRankResult(ranks=g.nodes.select("id", F.lit(0.0).alias("rank")),
                              iterations=0)

    spark = g.nodes.sparkSession
    start_iter = 0
    resumed = checkpointer.latest(spark) if checkpointer is not None else None
    if resumed is not None:
        start_iter, ck = resumed
        start = _loop_state(g, ck, F.col("rank"), F.col("active"))
    elif init_ranks is not None:
        init = init_ranks.select(
            F.col("id").cast(g.id_type).alias("iid"),
            F.col("rank").alias("init_rank"),
        )
        start = _loop_state(
            g,
            g.nodes.join(init, g.nodes["id"] == init["iid"], "left"),
            F.coalesce("init_rank", F.lit(1.0 / n)),
        )
    else:
        start = _loop_state(g, g.nodes, F.lit(1.0 / n))

    iterations = start_iter
    metrics: list[dict] = []
    with _co_partitioned_loop(spark, g.partitions):
        state, n_active, sink_rank = _materialize(start, "pr_start")
        while iterations < max_iterations:
            if n_active == 0:
                iterations += 1  # final empty sweep counted (Graph.cpp:133,158)
                break
            t0 = time.perf_counter()
            sink_sum = ((1.0 - damping) + damping * sink_rank) / n
            state, n_active, sink_rank = _materialize(
                _step(state, g.adj, sink_sum, damping, epsilon, salt_buckets),
                f"pr_sweep_{iterations}",
            )
            iterations += 1
            metrics.append(
                {
                    "iteration": iterations,
                    "edges": g.num_edges,
                    "seconds": time.perf_counter() - t0,
                    "n_active": n_active,
                }
            )
            if checkpointer is not None:
                checkpointer.write(iterations, state, metrics[-1])

    ranks = state.select(F.col("id").cast("long").alias("id"), "rank")
    if own_graph:
        g.unpersist()
    return PageRankResult(ranks=ranks, iterations=iterations, metrics=metrics)


def pagerank_personalized_fixed(
    edges: DataFrame,
    seeds: list[int],
    num_iterations: int,
    damping: float = DAMPING,
    graph: GraphTables | None = None,
) -> DataFrame:
    """Personalized PageRank, fixed sweeps (north-rule extension; the
    reference computes only the global variant — personalization changes
    Graph.cpp:124-128's uniform init/teleport into a seed-restricted one,
    everything else is the same sweep).

    Teleport vector tele(v) = 1/|seeds| for seed nodes, else 0; both the
    (1-d) restart mass and the redistributed sink mass flow to the seeds:

        rank0 = tele
        rank'(v) = ((1-d) + d·Σ_sinks rank) · tele(v) + d·Σ contribs(v)

    Exactly ``num_iterations`` synchronous sweeps — unrollable as ANSI SQL
    (the DuckDB twin in __spark_entry__ replays it). Same scale shape as
    pagerank_fixed: build-once adjacency, |V|-row state per sweep.
    """
    if not seeds:
        raise ValueError("pagerank_personalized_fixed needs >= 1 seed node")
    own_graph = graph is None
    g = graph or build_graph(edges)
    n_present = g.nodes.where(
        F.col("id").isin([int(x) for x in seeds])
    ).count()
    if n_present == 0:
        raise ValueError(
            f"none of the {len(seeds)} seed ids exist in the graph — "
            "the teleport vector would be all-zero"
        )
    tele = F.when(
        F.col("id").isin([int(x) for x in seeds]),
        F.lit(1.0 / len(seeds)),
    ).otherwise(F.lit(0.0))
    state = g.nodes.select(
        F.col("id").cast("long").alias("id"),
        F.col("outdeg").cast("long").alias("outdeg"),
        "is_sink",
        tele.alias("tele"),
        tele.alias("rank"),
    ).localCheckpoint(eager=True)
    adj = g.adj.select(
        F.col("src").cast("long").alias("src"),
        F.col("dst").cast("long").alias("dst"),
        F.col("w").cast("double").alias("w"),
    )
    for _ in range(num_iterations):
        row = state.agg(
            F.sum(
                F.when(F.col("is_sink"), F.col("rank")).otherwise(0.0)
            ).alias("s")
        ).first()
        restart = (1.0 - damping) + damping * float(row["s"] or 0.0)
        ranks_src = state.select(
            F.col("id").alias("src"), "rank", F.col("outdeg").alias("od")
        ).where(F.col("od") > 0)
        gathered = (
            adj.join(ranks_src, "src")
            .groupBy(F.col("dst").alias("gid"))
            .agg(F.sum(F.col("w") * F.col("rank") / F.col("od")).alias("contrib"))
        )
        state = (
            state.join(gathered, state["id"] == gathered["gid"], "left")
            .select(
                "id",
                "outdeg",
                "is_sink",
                "tele",
                (
                    F.lit(restart) * F.col("tele")
                    + F.lit(damping) * F.coalesce("contrib", F.lit(0.0))
                ).alias("rank"),
            )
            .localCheckpoint(eager=True)  # lineage truncation per sweep
        )
    out = state.select("id", "rank")
    if own_graph:
        g.unpersist()
    return out


def pagerank_fixed(
    edges: DataFrame,
    num_iterations: int,
    damping: float = DAMPING,
    graph: GraphTables | None = None,
    salt_buckets: int | None = None,
) -> DataFrame:
    """Plain power iteration for exactly ``num_iterations`` sweeps, no
    convergence check / freezing — identical to the reference semantics up
    to the first freeze, and exactly expressible as unrolled ANSI SQL
    (the DuckDB oracle in __spark_entry__ uses the same unrolling).
    ``salt_buckets`` defaults to build_graph's distribution-derived choice.
    Runs ``pagerank``'s loop with a negative epsilon, under which no node
    ever freezes.
    """
    return pagerank(
        edges,
        damping,
        epsilon=-1.0,
        max_iterations=num_iterations,
        graph=graph,
        salt_buckets=salt_buckets,
    ).ranks


def pagerank_personalized_batch(
    edges: DataFrame,
    seeds: list[int],
    num_iterations: int,
    damping: float = DAMPING,
    graph: GraphTables | None = None,
) -> DataFrame:
    """(seed LONG, id LONG, rank DOUBLE) — |seeds| INDEPENDENT single-seed
    personalized PageRank vectors in one frame (tele(v) = 1 for v == seed;
    the related-pages serving primitive: one batch job scores "similar to
    X" for a whole seed list instead of |seeds| separate runs).

    Differences from ``pagerank_personalized_fixed`` (which computes ONE
    vector with teleport spread over the seed SET): state is the sparse
    (seed, id, rank) table — only nodes the walk has reached carry rows,
    so early sweeps cost |seeds|·|ball| not |seeds|·|V| — and the
    per-seed sink mass stays IN-PLAN (a |seeds|-row aggregate joined back,
    no driver collect per sweep; one action per sweep total).

    Scale: the scatter join hits the same build-once src-partitioned
    adjacency as every rank loop; state rows are (seed, id)-keyed so the
    gather agg shuffles |seeds|·|reached| rows. The teleport merge is a
    two-row-per-key unionAll+sum (IEEE addition of two doubles is
    commutative — engine-exact given equal contrib sums).
    """
    if not seeds:
        raise ValueError("pagerank_personalized_batch needs >= 1 seed")
    own_graph = graph is None
    g = graph or build_graph(edges)
    spark = edges.sparkSession if edges is not None else g.nodes.sparkSession
    seed_ids = sorted({int(s) for s in seeds})
    n_present = g.nodes.where(F.col("id").isin(seed_ids)).count()
    if n_present != len(seed_ids):
        raise ValueError(
            f"{len(seed_ids) - n_present} seed id(s) absent from the "
            "graph — their teleport mass would silently leak"
        )
    nodes = g.nodes.select(
        F.col("id").cast("long").alias("id"),
        F.col("outdeg").cast("long").alias("outdeg"),
        "is_sink",
    )
    adj = g.adj.select(
        F.col("src").cast("long").alias("src"),
        F.col("dst").cast("long").alias("dst"),
        F.col("w").cast("double").alias("w"),
    )
    seeds_df = spark.createDataFrame(
        [(s,) for s in seed_ids], "seed LONG"
    )
    state = seeds_df.select(
        "seed", F.col("seed").alias("id"), F.lit(1.0).alias("rank")
    ).localCheckpoint(eager=True)
    for _ in range(num_iterations):
        with_flags = state.join(nodes, "id")
        sink_mass = (
            seeds_df.join(
                with_flags.where(F.col("is_sink"))
                .groupBy("seed")
                .agg(F.sum("rank").alias("sm")),
                "seed",
                "left",
            ).select("seed", F.coalesce("sm", F.lit(0.0)).alias("sm"))
        )
        contribs = (
            with_flags.where(F.col("outdeg") > 0)
            .select(F.col("id").alias("src"), "seed", "rank", "outdeg")
            .join(adj, "src")
            .groupBy("seed", F.col("dst").alias("id"))
            .agg(
                (
                    F.lit(damping)
                    * F.sum(F.col("w") * F.col("rank") / F.col("outdeg"))
                ).alias("rank")
            )
        )
        teleport = sink_mass.select(
            "seed",
            F.col("seed").alias("id"),
            (
                F.lit(1.0 - damping) + F.lit(damping) * F.col("sm")
            ).alias("rank"),
        )
        state = (
            contribs.unionAll(teleport)
            .groupBy("seed", "id")
            .agg(F.sum("rank").alias("rank"))
            .localCheckpoint(eager=True)
        )
    if own_graph:
        g.unpersist()
    return state


def pagerank_personalized_batch_sql(
    edges_sql: str,
    seeds: list[int],
    num_iterations: int,
    damping: float = DAMPING,
) -> str:
    """DuckDB twin — unrolled sweeps over the raw multigraph (each
    duplicate edge contributes rank/outdeg separately == the weighted
    collapse), seed column carried through every CTE. MATERIALIZED to
    stop exponential CTE inlining."""
    d = damping
    seed_rows = ", ".join(f"({int(s)})" for s in sorted({int(s) for s in seeds}))
    parts = [
        f"WITH e AS MATERIALIZED (SELECT src, dst FROM ({edges_sql})), "
        "deg AS MATERIALIZED (SELECT src AS id, count(*) AS outdeg "
        "FROM e GROUP BY src)",
        "nodes AS MATERIALIZED (SELECT DISTINCT id FROM "
        "(SELECT src AS id FROM e UNION ALL SELECT dst AS id FROM e))",
        f"sd AS (SELECT id AS seed FROM (VALUES {seed_rows}) AS t(id))",
        "r0 AS MATERIALIZED (SELECT seed, seed AS id, 1.0 AS rank FROM sd)",
    ]
    for k in range(num_iterations):
        parts += [
            f"sm{k} AS MATERIALIZED (SELECT sd.seed, coalesce(sum(r.rank), 0.0) "
            f"AS sm FROM sd LEFT JOIN (SELECT r.seed, r.rank FROM r{k} r "
            "JOIN nodes n ON r.id = n.id LEFT JOIN deg g ON r.id = g.id "
            "WHERE coalesce(g.outdeg, 0) = 0) r ON sd.seed = r.seed "
            "GROUP BY sd.seed)",
            f"c{k} AS MATERIALIZED (SELECT r.seed, e.dst AS id, "
            f"{d} * sum(r.rank / g.outdeg) AS rank "
            f"FROM r{k} r JOIN deg g ON r.id = g.id "
            "JOIN e ON e.src = r.id GROUP BY r.seed, e.dst)",
            f"r{k + 1} AS MATERIALIZED (SELECT seed, id, sum(rank) AS rank "
            f"FROM (SELECT seed, id, rank FROM c{k} UNION ALL "
            f"SELECT seed, seed AS id, {1.0 - d} + {d} * sm FROM sm{k}) "
            "GROUP BY seed, id)",
        ]
    return (
        ",\n".join(parts)
        + f"\nSELECT seed, id, round(rank, 9) AS rank "
        f"FROM r{num_iterations}"
    )
