"""Benchmark of the link-graph engine: one workload per run.

    python3 perfbench/run.py --workload rank-deep --seed 1 --seconds 12 --trace 0

Run from the root of a checkout. The run generates the workload's inputs
from ``--seed`` as parquet, starts a local Spark session over all cores,
makes one untimed warm-up pass, then makes timed passes of the workload's
pipeline for about ``--seconds`` seconds, checking every pass's outputs
against the oracles in ``ps_projekt_pagerank_spark/oracle``. The last
line of standard output is one JSON object: end-to-end metrics with
``--trace 0``, per-layer metrics with ``--trace 1``. See README.md.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

WORKLOAD_SPECS = {
    # name: (constructor name, keyword arguments). Sized so a whole run,
    # session start and warm-up passes included, takes well under a minute
    # on a 4-core host
    "ingest": ("Ingest", {"n_pages": 4_000}),
    "rank-large": ("RankLarge", {"n_edges": 300_000, "scale": 17}),
    "rank-deep": ("RankDeep", {"n_pages": 5_000}),
}

LAYERS = (
    "sources.extraction", "operators.graph", "operators.pagerank",
    "sources.checkpoint", "operators.components", "operators.labelprop",
    "operators.triangles", "plans.reporting",
)
# every layer reports these, from the counter deltas of its spans
COMMON = (
    ("s", "s"), ("task_s", "s"), ("util", "ratio"), ("shuffle_mb", "MB"),
    ("gc_s", "s"), ("jobs", "count"), ("tasks_failed", "count"),
)
EXTRA = (
    ("session.start_s", "s"),
    ("sources.extraction.text_s", "s"), ("sources.extraction.hrefs_s", "s"),
    ("sources.extraction.dict_s", "s"), ("sources.extraction.encode_s", "s"),
    ("sources.extraction.href_keep_frac", "ratio"),
    ("operators.graph.adj_rows", "count"), ("operators.graph.collapse_frac", "ratio"),
    ("operators.graph.salt_buckets", "count"),
    ("operators.pagerank.sweeps", "count"), ("operators.pagerank.sweep_s_p50", "s"),
    ("operators.pagerank.sweep_s_first", "s"), ("operators.pagerank.active_frac", "ratio"),
    ("sources.checkpoint.write_s", "s"), ("sources.checkpoint.writes", "count"),
    ("sources.checkpoint.bytes_mb", "MB"),
    ("trace.job_s", "s"), ("trace.untraced_job_s", "s"), ("trace.overhead_s", "s"),
)
PER_LAYER = tuple(
    (f"{layer}.{m}", unit) for layer in LAYERS for m, unit in COMMON
) + EXTRA
END_TO_END = (
    ("job_s", "s"), ("setup_s", "s"), ("edges_per_s_per_iter", "edges/s"),
    ("pages_per_s", "pages/s"), ("peak_rss_mb", "MB"),
)


def host_cores() -> int:
    """What ``env -u OMP_NUM_THREADS nproc`` prints."""
    return len(os.sched_getaffinity(0))


def driver_memory_mb() -> int:
    """A quarter of the host's memory, at most 2 GiB: every workload's
    inputs are tens of MB, and the host's memory is shared."""
    with open("/proc/meminfo") as f:
        total_kb = int(next(line for line in f if line.startswith("MemTotal")).split()[1])
    return max(1024, min(2048, total_kb // 4096))


def steal_probe(cores: int) -> dict:
    """tools/cpu_probe.steal_context in a child interpreter (its pool
    forks, which this process must not do once Spark's threads run)."""
    code = (
        "import json, cpu_probe; "
        f"print(json.dumps(cpu_probe.steal_context(procs={cores}, work=2_000_000)))"
    )
    env = dict(os.environ, PYTHONPATH=os.path.join(ROOT, "tools"))
    res = subprocess.run(
        [sys.executable, "-c", code], env=env, capture_output=True, text=True, timeout=60
    )
    return json.loads(res.stdout) if res.returncode == 0 else {"error": res.stderr[-300:]}


def start_session(workload: str, cores: int, run_dir: str):
    from ps_projekt_pagerank_spark.session import get_spark

    tmp = os.path.join(run_dir, "tmp")
    mem = driver_memory_mb()
    return get_spark(
        f"perfbench-{workload}",
        cores=cores,
        shuffle_partitions=cores,
        extra_conf={
            "spark.driver.memory": f"{mem}m",
            "spark.local.dir": os.path.join(run_dir, "local"),
            "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
            # a fixed-size heap: resident memory then follows what the run
            # allocates, not when G1 chose to grow the heap
            "spark.driver.extraJavaOptions": (
                f"-Xms{mem}m -Djava.io.tmpdir={tmp} -XX:-UsePerfData"
            ),
            "spark.ui.showConsoleProgress": "false",
            # executor summaries are written to the status store on every
            # task end, so counters read right after a call are complete
            "spark.ui.liveUpdate.period": "0",
        },
    )


def stop_spark(spark) -> None:
    """Stop the session and the gateway JVM it launched, then wait until no
    process this run started is left (the JVM's Python workers exit with
    it)."""
    from pyspark import SparkContext

    from spans import descendants

    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + 30
    while descendants(os.getpid()) and time.monotonic() < deadline:
        time.sleep(0.1)


def layer_metrics(tracer, run: int, cores: int) -> dict[str, float]:
    """Per-layer self values of one traced pass."""
    out: dict[str, float] = {}
    for layer in LAYERS:
        wall, ctr, parts = 0.0, {}, {}
        for idx, s in enumerate(tracer.spans):
            if s.run != run or s.layer != layer:
                continue
            w, c = tracer.self_values(idx)
            wall += w
            for k, v in c.items():
                ctr[k] = ctr.get(k, 0) + v
            if s.part:
                parts[s.part] = parts.get(s.part, 0.0) + w
        task_s = ctr.get("task_ms", 0) / 1000
        out.update({
            f"{layer}.s": wall,
            f"{layer}.task_s": task_s,
            f"{layer}.util": task_s / (wall * cores) if wall > 0 else 0.0,
            f"{layer}.shuffle_mb": ctr.get("shuffle_write_b", 0) / 1e6,
            f"{layer}.gc_s": ctr.get("gc_ms", 0) / 1000,
            f"{layer}.jobs": ctr.get("jobs", 0),
            f"{layer}.tasks_failed": ctr.get("tasks_failed", 0),
        })
        out.update({f"{layer}.{p}_s": v for p, v in parts.items()})
    return out


class Runner:
    """Runs passes of one workload and counts attempted and failed calls."""

    def __init__(self, wl, run_dir: str):
        self.wl = wl
        self.run_dir = run_dir
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []

    def one_pass(self, spark, tracer, index: int, traced: bool, path: str, rss=None):
        """Run, time and check one pass over the input at ``path``; warm-up
        passes (no ``rss``) are neither checked nor counted. Every call of a
        pass that raises, or whose check raises, counts as failed: its
        outputs went unchecked. Returns (job_s, outputs)."""
        from spans import NullTracer

        work = os.path.join(self.run_dir, f"pass-{index}")
        os.makedirs(work)
        out = None
        bad = list(self.wl.CALLS)
        if tracer is not None:
            tracer.run = index
        t0 = time.perf_counter()
        try:
            with rss.measuring() if rss else contextlib.nullcontext():
                out = self.wl.run_pass(
                    spark, tracer if traced else NullTracer(), work, traced, path
                )
        except Exception:  # noqa: BLE001 — a failing pass is counted, not fatal
            traceback.print_exc(file=sys.stderr)
        job_s = time.perf_counter() - t0
        if rss and out is not None:
            try:
                bad = self.wl.check(spark, out)
            except Exception:  # noqa: BLE001 — as above
                traceback.print_exc(file=sys.stderr)
        if rss:
            self.attempted += len(self.wl.CALLS)
            self.failed += len(bad)
            self.failures += [f"pass {index}: {c}" for c in bad]
        if out is not None:
            self.wl.release(out)
        shutil.rmtree(work, ignore_errors=True)
        return job_s, out


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def run(args) -> tuple[dict, dict]:
    import workloads
    from spans import PeakMemory, Tracer

    cores = host_cores()
    cls_name, kwargs = WORKLOAD_SPECS[args.workload]
    wl = getattr(workloads, cls_name)(**kwargs)
    run_dir = args.run_dir
    meta: dict = {"workload": args.workload, "seed": args.seed, "cores": cores}
    meta["steal_before"] = steal_probe(cores)
    meta["draw"] = wl.draw(args.seed)  # untimed, before set-up

    t0 = time.perf_counter()
    spark = start_session(args.workload, cores, run_dir)
    start_s = time.perf_counter() - t0
    try:
        conf = spark.sparkContext.getConf().getAll()
        meta["config"] = {k: v for k, v in sorted(conf) if not k.endswith("JavaOptions")}
        t0 = time.perf_counter()
        wl.generate(args.seed, os.path.join(run_dir, "input"))
        gen_s = time.perf_counter() - t0
        wl.prepare_oracle()  # untimed, outside set-up

        runner = Runner(wl, run_dir)
        tracer = Tracer(spark) if args.trace else None
        t0 = time.perf_counter()
        runner.one_pass(spark, None, 0, False, wl.warm_path)
        # a traced run compares traced with untraced passes, so both must
        # run on a JVM past its warming passes
        for _ in range(wl.WARM_PASSES + args.trace):
            runner.one_pass(spark, None, 0, False, wl.path)
        warm_s = time.perf_counter() - t0
        setup_s = start_s + gen_s + warm_s
        meta.update(session_start_s=start_s, generate_s=gen_s, warmup_s=warm_s)

        rss = PeakMemory()
        passes: list[dict] = []
        t_begin = time.perf_counter()
        index = 1
        while True:
            # traced runs alternate traced and untraced passes, so the run
            # itself reports what tracing costs
            traced = bool(args.trace) and index % 2 == 1
            job_s, out = runner.one_pass(spark, tracer, index, traced, wl.path, rss)
            rec = {"index": index, "traced": traced, "job_s": job_s}
            if out is not None:
                edges, sweeps, secs = wl.edge_sweeps(out)
                rec["edges_per_s_per_iter"] = edges * sweeps / secs
                if traced:
                    rec["layers"] = {
                        **layer_metrics(tracer, index, cores), **out["extras"],
                    }
            passes.append(rec)
            print(f"perfbench: pass {json.dumps(rec)}", file=sys.stderr)
            index += 1
            elapsed = time.perf_counter() - t_begin
            mean = elapsed / len(passes)
            kinds = {p["traced"] for p in passes}
            if elapsed + mean > args.seconds and (not args.trace or len(kinds) == 2):
                break
        rss.close()
    finally:
        stop_spark(spark)
    meta["steal_after"] = steal_probe(cores)
    meta["passes"] = passes
    meta["failures"] = runner.failures

    plain = [p for p in passes if not p["traced"]]
    traced_p = [p for p in passes if p["traced"]]
    metrics: dict[str, tuple[float, str]] = {}
    if not args.trace:
        job_s = _median([p["job_s"] for p in plain])
        values = {
            "job_s": job_s,
            "setup_s": setup_s,
            "edges_per_s_per_iter": _median(
                [p["edges_per_s_per_iter"] for p in plain if "edges_per_s_per_iter" in p]
            ),
            "pages_per_s": _median([wl.units / p["job_s"] for p in plain]),
            "peak_rss_mb": rss.peak / 1e6,
        }
        metrics = {n: (values[n], u) for n, u in END_TO_END}
    else:
        per_pass = [p.get("layers", {}) for p in traced_p]
        tj = _median([p["job_s"] for p in traced_p])
        uj = _median([p["job_s"] for p in plain])
        for name, unit in PER_LAYER:
            metrics[name] = (_median([lm.get(name, 0.0) for lm in per_pass]), unit)
        metrics["session.start_s"] = (start_s, "s")
        metrics["trace.job_s"] = (tj, "s")
        metrics["trace.untraced_job_s"] = (uj, "s")
        metrics["trace.overhead_s"] = (tj - uj, "s")
        meta["spans"] = tracer.dump()

    result = {
        "correct": runner.failed == 0 and runner.attempted > 0,
        "attempted": runner.attempted,
        "failed": runner.failed,
        "metrics": {n: {"value": float(v), "unit": u} for n, (v, u) in metrics.items()},
    }
    meta["failed_frac"] = runner.failed / max(runner.attempted, 1)
    return result, meta


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOAD_SPECS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    try:
        import ps_projekt_pagerank_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the engine package is not in {ROOT}: {e}", file=sys.stderr)
        return 2

    # everything Spark, the JVM and Python write goes under one per-run
    # directory inside the checkout, removed at exit
    base = os.path.join(ROOT, ".perfbench_run")
    os.makedirs(base, exist_ok=True)
    args.run_dir = tempfile.mkdtemp(prefix=f"{args.workload}-{args.seed}-", dir=base)
    for sub in ("tmp", "local"):
        os.makedirs(os.path.join(args.run_dir, sub))
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(args.run_dir, "local")
    os.environ["TMPDIR"] = tempfile.tempdir = os.path.join(args.run_dir, "tmp")
    try:
        result, meta = run(args)
    finally:
        shutil.rmtree(args.run_dir, ignore_errors=True)
        if not os.listdir(base):
            os.rmdir(base)

    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
    with open(os.path.join(out_dir, name), "w") as f:
        json.dump({"result": result, "meta": meta}, f, indent=1)
    print(f"perfbench: failed_frac {meta['failed_frac']:.4f}; run record in {out_dir}/{name}")
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
