"""Benchmark of the name-disambiguation engine (see perfbench/README.md).

    python3 perfbench/run.py --workload resolve_skewed_staged --seed 1 --seconds 30 --trace 0

Run from the root of a checkout. One driver process, one resolution at a
time, ``local[<cores>]``. The last stdout line is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``; end-to-end metrics with
``--trace 0``, per-layer metrics with ``--trace 1``. The line before it
holds provenance, input shape and output digests. The exit code is
nonzero when any correctness check fails. ``--workload all`` runs every
workload in turn, one process each, and prints their lines.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("resolve_skewed_staged", "resolve_many")


def _git_commit() -> str | None:
    try:
        out = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
            text=True, timeout=10,
        )
    except (OSError, subprocess.SubprocessError):
        return None
    return out.stdout.strip() if out.returncode == 0 else None


def provenance(bench, seed: int) -> dict:
    sc = bench.spark.sparkContext
    conf = sc.getConf()
    jvm = sc._jvm
    return {
        "nproc": os.cpu_count(),
        "master": sc.master,
        "shuffle_partitions": int(bench.spark.conf.get("spark.sql.shuffle.partitions")),
        "driver_memory": conf.get("spark.driver.memory", "1g (default)"),
        "spark": sc.version,
        "java": jvm.java.lang.System.getProperty("java.version"),
        "python": platform.python_version(),
        "git_commit": _git_commit(),
        "seed": seed,
    }


def _labeled_pairs(pairs, pubs):
    """(true same-entity pairs among ``pairs``, all pairs)."""
    from pyspark.sql import functions as F

    lab = pubs.select("block_key", "pub_id", "label")
    a = lab.withColumnRenamed("pub_id", "id_a").withColumnRenamed("label", "la")
    b = lab.withColumnRenamed("pub_id", "id_b").withColumnRenamed("label", "lb")
    joined = (
        pairs.select("block_key", "id_a", "id_b").distinct()
        .join(a, ["block_key", "id_a"]).join(b, ["block_key", "id_b"])
    )
    row = joined.agg(
        F.count(F.lit(1)).alias("n"),
        F.coalesce(F.sum((F.col("la") == F.col("lb")).cast("long")), F.lit(0)).alias("tp"),
    ).first()
    return row["tp"], row["n"]


def _true_pairs(pubs) -> int:
    from pyspark.sql import functions as F

    sizes = pubs.where(F.col("label").isNotNull()).groupBy("block_key", "label").count()
    return sizes.agg(F.sum(F.col("count") * (F.col("count") - 1) / 2)).first()[0] or 0


def layer_metrics(bench, tracer, wall_s: float, resumed) -> dict:
    from tracing import ALL_LAYERS, spark_stage_metrics

    per_stage, whole = spark_stage_metrics(bench.spark.sparkContext)
    self_s = tracer.self_seconds()
    calls = tracer.calls()
    m: dict[str, tuple[float, str]] = {}
    for layer in ALL_LAYERS:
        st = per_stage.get(layer, {"stages": 0, "shuffle_bytes": 0})
        # a share of the traced wall: a layer a workload bypasses reads 0
        m[f"{layer}.self_frac"] = (self_s.get(layer, 0.0) / wall_s, "ratio")
        m[f"{layer}.spark_stages"] = (st["stages"], "count")
        m[f"{layer}.shuffle_mb"] = (st["shuffle_bytes"] / 2**20, "MB")
        m[f"{layer}.materializations"] = (tracer.materializations.get(layer, 0), "count")
        m[f"{layer}.calls"] = (calls.get(layer, 0), "count")

    # the stage checkpoints the resumed pass read back
    pubs, edges, matches = resumed.pubs, resumed.edges, resumed.matches
    true_total = _true_pairs(pubs)
    tp_e, n_e = _labeled_pairs(edges, pubs)
    tp_m, n_m = _labeled_pairs(matches, pubs)
    m["parse.pubs"] = (pubs.count(), "count")
    m["candidate_pairs.pairs"] = (n_e, "count")
    m["candidate_pairs.pair_completeness"] = (tp_e / true_total if true_total else 1.0, "ratio")
    m["candidate_pairs.pair_precision"] = (tp_e / n_e if n_e else 1.0, "ratio")
    m["pipeline.match_context.matches"] = (n_m, "count")
    m["pipeline.match_context.match_precision"] = (tp_m / n_m if n_m else 1.0, "ratio")
    m["stages.written_mb"] = (tracer.written_bytes / 2**20, "MB")
    m["stages.resume_skipped"] = (len(resumed.skipped), "count")
    m["spark.gc_s"] = (whole["gc_ms"] / 1000.0, "s")
    m["spark.spill_mb"] = (whole["spill_bytes"] / 2**20, "MB")
    m["spark.task_skew"] = (
        whole["max_task_ms"] / whole["median_task_ms"] if whole["median_task_ms"] else 1.0,
        "ratio",
    )
    m["trace.wall_s"] = (wall_s, "s")
    m["tracing_overhead_frac"] = (tracer.bookkeeping_s / wall_s, "ratio")
    return m


def run_workload(workload: str, seed: int, seconds: float, trace: bool, work: str):
    """Returns (result line, detail line)."""
    from workloads import Bench

    bench = Bench(workload, seed, work)
    failures: list[str] = []
    attempted = 0
    detail: dict = {"workload": workload}
    metrics: dict = {}
    try:
        setup_times = bench.setup()
        detail["provenance"] = provenance(bench, seed)
        units = []
        if trace:
            from tracing import Tracer

            tracer = Tracer(bench.spark)
            tracer.install()
            try:
                t0 = time.perf_counter()
                units.append(bench.iteration(tracer))
                traced_wall = time.perf_counter() - t0
            finally:
                tracer.uninstall()
        else:
            # closed loop: start another unit only if it fits in --seconds
            deadline = time.perf_counter() + seconds
            while True:
                t0 = time.perf_counter()
                units.append(bench.iteration())
                now = time.perf_counter()
                if now + (now - t0) > deadline:
                    break
            rss = bench.jvm_peak_rss_mb()
            detail["spark_stages"] = bench.spark_stages()
        facts = []
        for killed, resumed in units:
            attempted += 1
            bad, f = bench.check(killed, resumed)
            failures += bad
            facts.append(f)
        if trace:
            # the resumed output must equal a run that was never killed
            attempted += 1
            full = bench.uninterrupted_digest()
            if full != facts[0]["digest"]:
                failures.append(f"resumed digest {facts[0]['digest']} != uninterrupted {full}")
            detail["uninterrupted_digest"] = full
        killed, resumed = units[0]
        detail["input_shape"] = bench.input_shape(killed)
        detail["digests"] = [f["digest"] for f in facts]
        detail["walls_s"] = [[round(k.wall_s, 4), round(r.wall_s, 4)] for k, r in units]
        detail["cpu_s"] = [[round(k.cpu_s, 4), round(r.cpu_s, 4)] for k, r in units]
        detail["setup_times_s"] = [round(t, 4) for t in setup_times]
        if trace:
            metrics = layer_metrics(bench, tracer, traced_wall, resumed)
        else:
            metrics = {
                "setup_s": (statistics.median(setup_times), "s"),
                "pubs_per_cpu_s": (
                    statistics.median(
                        f["pubs"] / (k.cpu_s + r.cpu_s) for f, (k, r) in zip(facts, units)
                    ),
                    "pubs/cpu-s",
                ),
                "resume_cpu_s": (statistics.median(r.cpu_s for _, r in units), "s"),
                "pairwise_f1": (facts[0]["pairwise_f1"], "ratio"),
                "jvm_peak_rss_mb": (rss, "MB"),
            }
    except Exception:  # any program error fails the run, reported below
        traceback.print_exc()
        failures.append("run raised: " + traceback.format_exc().strip().splitlines()[-1])
        attempted = max(attempted, 1)
        metrics = {}
    finally:
        bench.close()
    detail["failures"] = failures
    result = {
        "correct": not failures,
        "attempted": attempted,
        "failed": min(attempted, len(failures)),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    return result, detail


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS + ("all",), default="all")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if args.workload == "all":
        # one process per workload: module-level UDFs hold on to the JVM
        # they were first used with, so a JVM is never relaunched in-process
        rcs = [
            subprocess.run(
                [sys.executable, os.path.abspath(__file__), "--workload", w,
                 "--seed", str(args.seed), "--seconds", str(args.seconds),
                 "--trace", str(args.trace)],
                check=False,
            ).returncode
            for w in WORKLOADS
        ]
        return max(rcs)

    # Spark's Python workers import the engine too: give them the checkout.
    sys.path[:0] = [ROOT, HERE]
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    import hgcn_name_disambiguation_spark  # noqa: F401  fails outside a checkout

    scratch = os.path.join(ROOT, ".perfbench_work")
    os.makedirs(scratch, exist_ok=True)
    work = tempfile.mkdtemp(prefix=f"{args.workload}-", dir=scratch)
    os.makedirs(os.path.join(work, "tmp"))
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    try:
        result, detail = run_workload(
            args.workload, args.seed, args.seconds, bool(args.trace), work
        )
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(scratch)
        except OSError:  # another run still uses it
            pass
    print(json.dumps(detail, default=str), flush=True)
    print(json.dumps(result), flush=True)
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
