"""Checkpointed, resumable pipeline runner (north_rule: "every stage
writes per-partition lineage + counters and checkpoints ... so a
killed run resumes at the last completed stage").

Design:
- Each stage is (name, fn: dict[str, DataFrame] -> DataFrame); its
  output is materialized via TableIO (Iceberg snapshot or parquet +
  commit marker — see io.catalog), so stage boundaries are durable.
- A stage is SKIPPED on re-run when its checkpoint is committed —
  resume-at-last-completed-stage falls out of the write-then-commit
  contract; a kill mid-stage leaves no marker, so only that stage
  re-runs.
- Every completed stage appends a lineage row: stage, rows,
  n_partitions, max/min rows per partition (skew visibility), wall
  seconds. The lineage table is itself a queryable DataFrame
  (`runner.lineage()`).

The reference has no notion of resume (a killed batch_disambiguation
run restarts from scratch — `batch_disambiguation.py:94-101`); this is
new, mandated capability.
"""

from __future__ import annotations

import time
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..io.catalog import TableIO

StageFn = Callable[[dict[str, DataFrame]], DataFrame]


@dataclass
class Stage:
    name: str
    fn: StageFn
    partition_by: list[str] | None = None


@dataclass
class StageRunner:
    spark: SparkSession
    workdir: str
    stages: list[Stage] = field(default_factory=list)
    run_id: str = "run"

    def __post_init__(self):
        self.io = TableIO(self.spark, self.workdir)
        self.executed: list[str] = []
        self.skipped: list[str] = []

    def add(self, name: str, fn: StageFn, partition_by: list[str] | None = None):
        self.stages.append(Stage(name, fn, partition_by))
        return self

    def _lineage_row(self, stage: str, df: DataFrame, wall: float) -> DataFrame:
        per_part = (
            df.withColumn("_pid", F.spark_partition_id())
            .groupBy("_pid")
            .count()
            .agg(
                F.count(F.lit(1)).alias("n_partitions"),
                F.coalesce(F.sum("count"), F.lit(0)).alias("rows"),
                F.coalesce(F.max("count"), F.lit(0)).alias("max_partition_rows"),
                F.coalesce(F.min("count"), F.lit(0)).alias("min_partition_rows"),
            )
        )
        return per_part.select(
            F.lit(self.run_id).alias("run_id"),
            F.lit(stage).alias("stage"),
            "rows",
            "n_partitions",
            "max_partition_rows",
            "min_partition_rows",
            F.lit(round(wall, 3)).alias("wall_sec"),
        )

    def run(self, inputs: dict[str, DataFrame]) -> dict[str, DataFrame]:
        """Execute all stages; resume skips committed ones. Returns
        {stage_name: checkpointed DataFrame} (reads, not lineage)."""
        available = dict(inputs)
        for st in self.stages:
            ck = f"stage_{st.name}"
            if self.io.exists(ck):
                available[st.name] = self.io.read(ck)
                self.skipped.append(st.name)
                continue
            t0 = time.perf_counter()
            out = st.fn(available)
            self.io.write(ck, out, partition_by=st.partition_by)
            wall = time.perf_counter() - t0
            materialized = self.io.read(ck)
            self.io.append("_lineage", self._lineage_row(st.name, materialized, wall))
            available[st.name] = materialized
            self.executed.append(st.name)
        return {st.name: available[st.name] for st in self.stages}

    def lineage(self) -> DataFrame:
        return self.io.read("_lineage")


def disambiguation_stages(runner: StageRunner, config=None) -> StageRunner:
    """Wire the standard 5-stage ER pipeline onto a runner. Input key:
    'repo_files'."""
    from ..config import DEFAULT_CONFIG
    from ..operators.candidate_pairs import combined_edges
    from ..operators.evaluate import pairwise_metrics
    from ..operators.parse import parse_publications
    from ..plans.pipeline import (
        build_match_context,
        cluster_from_context,
        with_matches,
    )

    cfg = config or DEFAULT_CONFIG
    # the match context built by the 'matches' stage is reused by
    # 'clustered' within one process; on resume (matches skipped) it
    # is rebuilt from the checkpointed pubs+edges — same inputs, same
    # deterministic context.
    _ctx: dict = {}

    def _matches(d):
        ctx = build_match_context(d["pubs"], d["edges"], cfg)
        _ctx["ctx"] = ctx
        return ctx.matches

    def _clustered(d):
        ctx = _ctx.get("ctx") or build_match_context(
            d["pubs"], d["edges"], cfg
        )
        # cluster from the CHECKPOINTED match frame (durable stage
        # boundary), not the in-memory plan that produced it
        return cluster_from_context(
            d["pubs"], with_matches(ctx, d["matches"]), cfg
        )

    runner.add("pubs", lambda d: parse_publications(d["repo_files"], cfg))
    runner.add("edges", lambda d: combined_edges(d["pubs"], cfg))
    runner.add("matches", _matches)
    runner.add("clustered", _clustered)
    runner.add("metrics", lambda d: pairwise_metrics(d["clustered"]))
    return runner
