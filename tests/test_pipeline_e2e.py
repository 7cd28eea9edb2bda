"""End-to-end golden test: fixture blocks -> clusters, F1 >= 0.99,
sha256 invariant, partition property, permutation invariance
(SURVEY §5.1; north-rule gates)."""

import hashlib

from pyspark.sql import functions as F

from hgcn_name_disambiguation_spark.plans.pipeline import (
    run_pipeline,
    verify_content_sha,
)


# sha256 of the sorted (block_key, pub_id, cluster_id) rows of
# run_pipeline(fixture_repo_files), one tab-joined line per row: any
# change to a cluster id — not only one that moves F1 — fails the pin.
CLUSTERED_DIGEST = (
    "2a54d5447282481f1b371b2cda480185e7e1f36c601e87a06f1c5a0d3b35379f"
)


def test_pipeline_f1_target(spark, fixture_repo_files):
    result = run_pipeline(fixture_repo_files)
    per_block = result.metrics.collect()
    assert len(per_block) >= 4
    for r in per_block:
        assert r.f1 >= 0.99, f"block {r.block_key}: f1={r.f1}"


def test_content_sha_invariant(spark, fixture_repo_files):
    result = run_pipeline(fixture_repo_files)
    assert verify_content_sha(fixture_repo_files, result.clustered)


def test_output_is_partition(spark, fixture_repo_files):
    clustered = run_pipeline(fixture_repo_files).clustered
    n_in = fixture_repo_files.where(F.col("lang") == "json").count()
    # every json row lands in exactly one cluster
    assert clustered.count() == n_in
    assert clustered.where(F.col("cluster_id").isNull()).count() == 0


def test_row_order_invariance(spark, fixture_repo_files):
    shuffled = fixture_repo_files.orderBy(F.reverse(F.col("commit")))
    a = run_pipeline(fixture_repo_files).clustered
    b = run_pipeline(shuffled).clustered
    sig_a = sorted((r.block_key, r.pub_id, r.cluster_id) for r in a.collect())
    sig_b = sorted((r.block_key, r.pub_id, r.cluster_id) for r in b.collect())
    assert sig_a == sig_b


def test_clustered_output_pinned(spark, fixture_repo_files):
    clustered = run_pipeline(fixture_repo_files).clustered
    rows = sorted(
        (r.block_key, r.pub_id, r.cluster_id) for r in clustered.collect()
    )
    assert len(rows) == 200
    assert len({(bk, cid) for bk, _, cid in rows}) == 31
    text = "\n".join("\t".join(r) for r in rows)
    assert hashlib.sha256(text.encode()).hexdigest() == CLUSTERED_DIGEST
