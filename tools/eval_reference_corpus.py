"""Evaluate the ER pipeline on the reference's REAL labeled corpora.

Runs the full pipeline (parse -> edges -> fuse -> threshold -> CC)
over ``/root/reference/raw-data`` (110 AMiner blocks) and/or
``raw-data-temp`` (the 4 OpenAlex blocks behind the reference's
published AM_nok.csv numbers), computes per-block pairwise P/R/F1
against the embedded ``<label>`` truth (closed form, G10), and
reports macro averages plus a comparison against every number the
reference publishes (``result/AM_nok.csv``: avg F1 0.8466; Engman
1.0, Fukagawa 1.0, Fowler 0.5399).

Usage:
    python tools/eval_reference_corpus.py [--subdirs raw-data,raw-data-temp]
        [--threshold 0.2] [--enrich] [--markdown REFERENCE_EVAL.md]

Prints one JSON line with the headline metrics.
"""

from __future__ import annotations

import argparse
import dataclasses
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession, functions as F  # noqa: E402

from hgcn_name_disambiguation_spark.config import DEFAULT_CONFIG  # noqa: E402
from hgcn_name_disambiguation_spark.fixtures.reference_corpus import (  # noqa: E402
    load_reference_repo_files,
    reference_archived_results,
)
from hgcn_name_disambiguation_spark.plans.pipeline import run_pipeline  # noqa: E402

# Every per-name F1 the reference publishes (result/AM_nok.csv).
REFERENCE_PUBLISHED = {
    "Daniel Fowler": 0.5399,
    "David Engman": 1.0,
    "Naomi Fukagawa": 1.0,
}
REFERENCE_AVG_F1 = 0.8466


def build_session(cpus: str) -> SparkSession:
    return (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("eval_reference_corpus")
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", "6g")
        .getOrCreate()
    )


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--subdirs", default="raw-data,raw-data-temp")
    ap.add_argument("--threshold", type=float, default=None)
    ap.add_argument("--enrich", action="store_true")
    ap.add_argument("--names", default=None, help="comma-separated subset")
    ap.add_argument("--markdown", default=None)
    ap.add_argument(
        "--mode",
        choices=("cc", "ghac"),
        default="cc",
        help="cc = unsupervised threshold+connected-components (the "
        "engine's primary path); ghac = per-block fixed-k HAC with k "
        "from truth labels — the reference's own AMiner 'classify' "
        "mode, and the apples-to-apples setting for comparing against "
        "its archived experimental-results numbers",
    )
    ap.add_argument(
        "--set",
        action="append",
        default=[],
        help="PipelineConfig override, e.g. --set strong_title_cos=0.6",
    )
    ap.add_argument(
        "--semantic",
        action="store_true",
        help="ghac mode: train corpus-internal word2vec (operators."
        "semantic) and add the doc-vector cosine channel to the "
        "per-block sim matrix",
    )
    ap.add_argument(
        "--ghac-ksearch",
        action="store_true",
        help="ghac mode: ignore truth labels and run the reference's "
        "modularity k-search (OpenAlex mode) instead of fixed-k",
    )
    ap.add_argument(
        "--ghac-modularity",
        choices=("sim", "combined"),
        default="sim",
        help="k-search scoring graph: 'sim' = Newman Q on the fused "
        "similarity graph (engine default); 'combined' = Q on the raw "
        "summed relation-weight graph, the reference's own Louvain "
        "target (name_disambiguation.py:649-659)",
    )
    args = ap.parse_args(argv)

    overrides = {}
    if args.threshold is not None:
        overrides["match_threshold"] = args.threshold
    if args.enrich:
        overrides["enrich"] = True
    fields = {f.name for f in dataclasses.fields(DEFAULT_CONFIG)}
    for kv in args.set:
        k, v = kv.split("=", 1)
        if k not in fields:
            sys.exit(f"--set: unknown PipelineConfig field {k!r}")
        cur = getattr(DEFAULT_CONFIG, k)
        overrides[k] = type(cur)(v) if not isinstance(cur, bool) else v == "true"
    cfg = dataclasses.replace(DEFAULT_CONFIG, **overrides)

    spark = build_session(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark.sparkContext.setLogLevel("ERROR")
    t0 = time.perf_counter()
    repo_files = load_reference_repo_files(
        spark,
        subdirs=tuple(args.subdirs.split(",")),
        names=args.names.split(",") if args.names else None,
    )
    result = run_pipeline(repo_files, cfg)
    if args.mode == "ghac":
        from pyspark.sql import functions as FF

        from hgcn_name_disambiguation_spark.operators.evaluate import (
            pairwise_metrics,
        )
        from hgcn_name_disambiguation_spark.operators.parity import (
            ghac_clusters,
        )

        doc_vecs = None
        if args.semantic:
            from hgcn_name_disambiguation_spark.operators.semantic import (
                semantic_document_vectors,
            )

            doc_vecs = semantic_document_vectors(result.pubs, cfg)
        g = ghac_clusters(
            result.pubs,
            result.scored,
            cfg,
            doc_vecs=doc_vecs,
            k_from_labels=not args.ghac_ksearch,
            # parity setting: the reference runs every block dense
            # (its own laptop ceiling is ~10^4); the engine default
            # (400) is the distributed-scale stance, not an eval rule.
            max_block_for_dense=2000,
            modularity_graph=args.ghac_modularity,
        )
        cl = (
            g.join(
                result.pubs.select("block_key", "pub_id", "label"),
                ["block_key", "pub_id"],
            )
            .join(
                result.clustered.select(
                    "block_key", "pub_id",
                    FF.col("cluster_id").alias("cc_cluster"),
                ),
                ["block_key", "pub_id"],
            )
            .select(
                "block_key",
                "pub_id",
                "label",
                # blocks above the dense cap return hac_cluster = -1:
                # keep the distributed CC assignment there (the
                # operator contract), NOT one giant -1 cluster.
                FF.when(
                    FF.col("hac_cluster") >= 0,
                    FF.concat(FF.lit("h"), FF.col("hac_cluster")),
                )
                .otherwise(FF.concat(FF.lit("c"), FF.col("cc_cluster")))
                .alias("cluster_id"),
            )
        )
        metrics = pairwise_metrics(cl)
        n_pubs = cl.count()
    else:
        metrics = result.metrics
        n_pubs = result.clustered.count()
    per_block = (
        metrics.select("block_key", "precision", "recall", "f1")
        .orderBy("block_key")
        .collect()
    )
    wall = time.perf_counter() - t0

    # block_key is the normalized (lowercased first+last) form
    rows = {r.block_key.lower(): r for r in per_block}
    avg = lambda k: (  # noqa: E731
        sum(getattr(r, k) for r in per_block) / len(per_block)
    )

    # the reference's own archived AMiner runs, matched by normalized
    # block key (same first+last normalization as the blocking key)
    import re as _re

    def _key(name: str) -> str:
        s = _re.sub(r"\s+", " ", _re.sub(r"[^\w\s]+", " ", name.lower())).strip()
        p = s.split(" ")
        return s if len(p) <= 1 else f"{p[0]} {p[-1]}"

    archived = {_key(n): v for n, v in reference_archived_results().items()}
    matched = [(b, rows[b], archived[b]) for b in rows if b in archived]
    ref_cmp = None
    if matched:
        m_avg = lambda i: sum(m[2][i] for m in matched) / len(matched)  # noqa: E731
        o_avg = lambda k: (  # noqa: E731
            sum(getattr(m[1], k) for m in matched) / len(matched)
        )
        ref_cmp = {
            "n_matched_blocks": len(matched),
            "ours": {
                "P": round(o_avg("precision"), 4),
                "R": round(o_avg("recall"), 4),
                "F1": round(o_avg("f1"), 4),
            },
            "reference_archived": {
                "P": round(m_avg(0), 4),
                "R": round(m_avg(1), 4),
                "F1": round(m_avg(2), 4),
            },
        }
    mode_label = args.mode
    if args.mode == "ghac":
        mode_label += "-ksearch" if args.ghac_ksearch else "-fixedk"
        mode_label += f"-{args.ghac_modularity}mod"
        if args.semantic:
            mode_label += "-semantic"
    headline = {
        "metric": "macro_f1_reference_corpus",
        "value": round(avg("f1"), 4),
        "unit": "f1",
        "mode": mode_label,
        "n_blocks": len(per_block),
        "n_pubs": n_pubs,
        "avg_precision": round(avg("precision"), 4),
        "avg_recall": round(avg("recall"), 4),
        "threshold": cfg.match_threshold,
        "enrich": cfg.enrich,
        "wall_s": round(wall, 1),
        "vs_reference_archived": ref_cmp,
        "published": {
            name: {
                "reference_f1": ref,
                "ours_f1": (
                    round(rows[name.lower()].f1, 4)
                    if name.lower() in rows
                    else None
                ),
            }
            for name, ref in REFERENCE_PUBLISHED.items()
        },
        "reference_avg_f1": REFERENCE_AVG_F1,
    }
    print(json.dumps(headline))

    if args.markdown:
        # self-describing header: every field that differs from the
        # library default, so each eval doc is reproducible from its
        # own first lines.
        non_default = {
            f.name: getattr(cfg, f.name)
            for f in dataclasses.fields(cfg)
            if getattr(cfg, f.name) != getattr(DEFAULT_CONFIG, f.name)
        }
        nd = (
            ", ".join(f"{k}={v}" for k, v in sorted(non_default.items()))
            or "(library defaults)"
        )
        lines = [
            "# REFERENCE_EVAL — pipeline F1 on the reference's real labeled corpora",
            "",
            f"Config: mode={mode_label}, threshold={cfg.match_threshold}, "
            f"enrich={cfg.enrich}, "
            f"subdirs={args.subdirs}. {len(per_block)} blocks, {n_pubs} pubs, "
            f"{wall:.0f}s wall.",
            "",
            f"Non-default PipelineConfig fields: {nd}. Effective adaptive "
            f"layer for THIS run: name_constraints="
            f"{cfg.name_constraints}, weak_bridge_gate={cfg.weak_bridge_gate}, "
            f"cluster_refine_rounds={cfg.cluster_refine_rounds}, "
            f"refine taus r/c/a="
            f"{cfg.refine_tau_rare}/{cfg.refine_tau_common}/"
            f"{cfg.refine_tau_amb}, min-edges "
            f"{cfg.refine_min_edges_rare}/{cfg.refine_min_edges_common}/"
            f"{cfg.refine_min_edges_amb}, richness gate < "
            f"{cfg.refine_richness_max}.",
            "",
            f"**Macro avg: P={avg('precision'):.4f} R={avg('recall'):.4f} "
            f"F1={avg('f1'):.4f}** "
            f"(reference publishes avg F1 {REFERENCE_AVG_F1} on its 3-name "
            "OpenAlex eval — result/AM_nok.csv)",
            "",
        ]
        if ref_cmp:
            o, a = ref_cmp["ours"], ref_cmp["reference_archived"]
            lines += [
                f"On the {ref_cmp['n_matched_blocks']} AMiner blocks where the "
                "reference repo archives its own predicted clustering "
                "(`experimental-results/{name}_output.txt` vs truth "
                "`{name}_ans.txt`):",
                "",
                "| run | P | R | F1 |",
                "|---|---|---|---|",
                f"| this engine ({mode_label}) | {o['P']} | {o['R']} | {o['F1']} |",
                f"| reference archived | {a['P']} | {a['R']} | {a['F1']} |",
                "",
            ]
        lines += [
            "| block | precision | recall | f1 | reference archived f1 |",
            "|---|---|---|---|---|",
        ]
        for r in per_block:
            ref = REFERENCE_PUBLISHED.get(r.block_key)
            if ref is None and r.block_key in archived:
                ref = round(archived[r.block_key][2], 4)
            lines.append(
                f"| {r.block_key} | {r.precision:.4f} | {r.recall:.4f} | "
                f"{r.f1:.4f} | {ref if ref is not None else '—'} |"
            )
        with open(args.markdown, "w") as f:
            f.write("\n".join(lines) + "\n")
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
