"""The benchmark's workloads: generated corpora resolved through the
engine's checkpointed path (``plans.stages.StageRunner`` wired by
``disambiguation_stages``), the way ``jobs/disambiguate.py --checkpoint``
resolves them.

Each unit of work is one resolution that is killed once, after the
candidate pairs are committed, and resumed: a runner holding the first two
stages commits pubs and edges; a second runner over all five stages skips
those two, runs matches, clustered and metrics, and writes the outputs.

``resolve_skewed_staged``   one mega-block.
``resolve_many``            12 name blocks of 40 pubs plus an 80-pub block.

Every resolution is timed from input read through output written, in
wall time and in CPU time of the benchmark's process tree (this Python
driver, the Spark JVM it launches, and the JVM's Python workers); the
correctness checks run outside the timed region.
"""

from __future__ import annotations

import dataclasses
import os
import shutil
import time
from contextlib import nullcontext

from pyspark.sql import DataFrame, functions as F

from hgcn_name_disambiguation_spark.config import DEFAULT_CONFIG
from hgcn_name_disambiguation_spark.fixtures.generator import (
    repo_files_dataframe_distributed,
)
from hgcn_name_disambiguation_spark.operators import evaluate, report
from hgcn_name_disambiguation_spark.plans.pipeline import verify_content_sha
from hgcn_name_disambiguation_spark.plans.stages import (
    StageRunner,
    disambiguation_stages,
)
from hgcn_name_disambiguation_spark.session import get_spark


# workload -> repo_files_dataframe_distributed arguments
WORKLOADS = {
    "resolve_skewed_staged": dict(blocks=0, pubs_per_block=12, skew_factor=25),
    "resolve_many": dict(blocks=12, pubs_per_block=40, skew_factor=2),
}
SETUP_REPEATS = 3
RESUME_SKIPS = ["pubs", "edges"]  # committed before the kill


@dataclasses.dataclass
class Resolution:
    """One timed runner pass and what its checks need."""

    wall_s: float
    cpu_s: float
    repo_files: DataFrame
    pubs: DataFrame
    edges: DataFrame
    matches: DataFrame | None  # None for a killed pass
    out_dir: str | None
    skipped: list[str]


class Bench:
    """Session, scratch paths and generated input of one benchmark run."""

    def __init__(self, workload: str, seed: int, work: str):
        self.seed = seed
        self.work = work
        self.cores = os.cpu_count() or 1
        self.shape = WORKLOADS[workload]
        self.input = os.path.join(work, "input")
        self.spark = None
        self._runs = 0

    # -- set-up --------------------------------------------------------------
    def _session(self):
        conf = {
            "spark.local.dir": os.path.join(self.work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={os.path.join(self.work, 'tmp')} -XX:-UsePerfData"
            ),
        }
        # keep every job and stage: the per-layer charge and the stage
        # count of the detail line read them back
        conf["spark.ui.retainedJobs"] = "1000000"
        conf["spark.ui.retainedStages"] = "1000000"
        return get_spark(
            app_name="perfbench",
            master=f"local[{self.cores}]",
            shuffle_partitions=self.cores,
            extra_conf=conf,
        )

    def setup(self) -> list[float]:
        """Start the session, generate the corpus, read it back; repeated,
        each time on a fresh session, and the last session is kept."""
        times = []
        for _ in range(SETUP_REPEATS):
            if self.spark is not None:
                self.spark.stop()
            t0 = time.perf_counter()
            self.spark = self._session()
            repo_files_dataframe_distributed(
                self.spark, seed=self.seed, num_partitions=self.cores, **self.shape
            ).write.mode("overwrite").parquet(self.input)
            self.spark.read.parquet(self.input).count()
            times.append(time.perf_counter() - t0)
        return times

    def _fresh(self, name: str) -> str:
        self._runs += 1
        path = os.path.join(self.work, f"{name}-{self._runs}")
        shutil.rmtree(path, ignore_errors=True)
        return path

    # -- resolutions ---------------------------------------------------------
    def write_outputs(self, clustered, metrics, lineage, out, tracer=None) -> None:
        """The output sinks of jobs/disambiguate.py."""
        with tracer.span("output") if tracer else nullcontext():
            clustered.write.mode("overwrite").parquet(f"{out}/clustered")
            metrics.write.mode("overwrite").parquet(f"{out}/metrics")
            lineage.write.mode("overwrite").parquet(f"{out}/lineage")
            back = self.spark.read.parquet(f"{out}/clustered")
            report.write_clusters_json(back, f"{out}/clusters_json")

    def resolve(self, ckpt: str, tracer=None, killed: bool = False) -> Resolution:
        """One runner pass over ``ckpt``; a killed pass stops after the
        edges stage and writes no output."""
        out = None if killed else self._fresh("out")
        c0 = tree_cpu_s()
        t0 = time.perf_counter()
        repo_files = self.spark.read.parquet(self.input)
        runner = disambiguation_stages(StageRunner(self.spark, ckpt), DEFAULT_CONFIG)
        if killed:
            runner.stages = runner.stages[: len(RESUME_SKIPS)]
        if tracer:
            tracer.force_stages(runner)
        got = runner.run({"repo_files": repo_files})
        if not killed:
            self.write_outputs(
                got["clustered"], got["metrics"], runner.lineage(), out, tracer
            )
        wall = time.perf_counter() - t0
        return Resolution(
            wall, tree_cpu_s() - c0, repo_files, got["pubs"], got["edges"],
            got.get("matches"), out, list(runner.skipped),
        )

    def iteration(self, tracer=None) -> tuple[Resolution, Resolution]:
        """One unit of work: a run killed after the edges stage, resumed."""
        ckpt = self._fresh("ckpt")
        killed = self.resolve(ckpt, tracer, killed=True)
        return killed, self.resolve(ckpt, tracer)

    # -- checks --------------------------------------------------------------
    def check(self, killed: Resolution, resumed: Resolution) -> tuple[list[str], dict]:
        """Correctness checks of one unit; returns (failures, facts)."""
        failures = []
        clustered = self.spark.read.parquet(f"{resumed.out_dir}/clustered")
        if not verify_content_sha(resumed.repo_files, clustered):
            failures.append("sha2(content) identity")
        keys = ["block_key", "pub_id"]
        parsed = killed.pubs.select(*keys).withColumn("_parsed", F.lit(True))
        misplaced = (
            clustered.groupBy(*keys).count()
            .join(parsed, keys, "full_outer")
            .where(F.col("_parsed").isNull() | F.col("count").isNull()
                   | (F.col("count") != 1))
        )
        if misplaced.count():
            failures.append("every parsed pub exactly once")
        if killed.skipped or resumed.skipped != RESUME_SKIPS:
            failures.append(
                f"resume skipped {resumed.skipped}, expected {RESUME_SKIPS}"
            )
        metrics = self.spark.read.parquet(f"{resumed.out_dir}/metrics")
        dig = digest(clustered)
        facts = {
            "pubs": int(dig.split(":")[0]),
            "pairwise_f1": evaluate.metrics_summary(metrics).first()["avg_f1"],
            "digest": dig,
        }
        return failures, facts

    def uninterrupted_digest(self) -> str:
        """Digest of one resolution that is never killed."""
        run = self.resolve(self._fresh("ckpt"))
        return digest(self.spark.read.parquet(f"{run.out_dir}/clustered"))

    def input_shape(self, run: Resolution) -> dict:
        sizes = run.pubs.groupBy("block_key").count()
        row = sizes.agg(
            F.sum("count").alias("pubs"),
            F.count(F.lit(1)).alias("blocks"),
            F.max("count").alias("largest_block"),
        ).first()
        return {**row.asDict(), "candidate_pairs": run.edges.count()}

    def spark_stages(self) -> int:
        """Spark stages run so far in the current session."""
        sc = self.spark.sparkContext
        no_quantiles = sc._gateway.new_array(sc._jvm.double, 0)
        return sc._jsc.sc().statusStore().stageList(
            None, False, False, no_quantiles, None
        ).size()

    def jvm_peak_rss_mb(self) -> float:
        pid = self.spark._jvm.java.lang.ProcessHandle.current().pid()
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
        raise RuntimeError("VmHWM not found for the driver JVM")

    def close(self) -> None:
        """Stop the session and wait for the JVM (and its workers) to exit."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gateway = SparkContext._gateway
        if gateway is None:
            return
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)


def tree_cpu_s() -> float:
    """User + system CPU seconds of this process and all its descendants,
    live ones and the children they have reaped."""
    children: dict[int, list[int]] = {}
    ticks: dict[int, int] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:  # the process ended meanwhile
            continue
        fields = stat[stat.rindex(")") + 2 :].split()
        children.setdefault(int(fields[1]), []).append(int(entry))
        # utime, stime, cutime, cstime
        ticks[int(entry)] = sum(int(x) for x in fields[11:15])
    total, todo = 0, [os.getpid()]
    while todo:
        pid = todo.pop()
        total += ticks.get(pid, 0)
        todo += children.get(pid, [])
    return total / os.sysconf("SC_CLK_TCK")


def digest(clustered: DataFrame) -> str:
    """Order-independent digest of (block_key, pub_id, cluster_id)."""
    h = F.xxhash64("block_key", "pub_id", "cluster_id")
    row = clustered.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(h.cast("decimal(38,0)")).alias("s"),
        F.bit_xor(h).alias("x"),
    ).first()
    return f"{row['n']}:{row['s']}:{row['x'] & 0xFFFFFFFFFFFFFFFF:016x}"
