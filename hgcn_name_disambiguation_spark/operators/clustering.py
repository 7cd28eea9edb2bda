"""M3 — transitive clustering via large-star/small-star connected
components (SURVEY §2.9 G7).

The reference calls ``scipy.sparse.csgraph.connected_components`` on a
dense per-block matrix (``name_disambiguation.py:83,87,604-605``) —
impossible beyond ~10^4 rows. Here: the alternating large-star /
small-star algorithm (Kiveris et al., "Connected Components in
MapReduce and Beyond", SoCC'14) expressed as two join+agg rounds per
iteration over a distributed edge frame. Converges in O(log^2 n)
rounds; every round is a hash shuffle on node id, lineage truncated by
``localCheckpoint`` so the plan doesn't grow unboundedly.

Node ids are strings; the component id is the lexicographic MIN node
(== min pub id), giving stable deterministic cluster ids (SURVEY W2
note). Because blocking makes components block-local, node ids are
prefixed with the block key — one CC run covers ALL blocks at once
(the reference loops names sequentially; we don't).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..config import PipelineConfig, DEFAULT_CONFIG

_SEP = "\x1f"  # unit separator: never appears in keys


def _canon(edges: DataFrame) -> DataFrame:
    """Canonical undirected edge list (u > v), no self-loops, distinct."""
    u = F.greatest("src", "dst").alias("u")
    v = F.least("src", "dst").alias("v")
    return (
        edges.select(u, v)
        .where(F.col("u") != F.col("v"))
        .dropDuplicates(["u", "v"])
    )


def _large_star(edges: DataFrame) -> DataFrame:
    """For each u: connect every strictly-larger neighbor to
    min(N(u) ∪ {u})."""
    bidir = edges.union(edges.select(F.col("v").alias("u"), F.col("u").alias("v")))
    mins = (
        bidir.groupBy("u")
        .agg(F.min("v").alias("mv"))
        .select("u", F.least("mv", "u").alias("m"))
    )
    return (
        bidir.join(mins, "u")
        .where(F.col("v") > F.col("u"))
        .select(F.col("v").alias("src"), F.col("m").alias("dst"))
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """For each u (over smaller neighbors N⁻(u)): connect u and all of
    N⁻(u) to min(N⁻(u))."""
    directed = edges  # already u > v canonical: v ∈ N⁻(u)
    mins = directed.groupBy("u").agg(F.min("v").alias("m"))
    nbr_edges = directed.join(mins, "u").select(
        F.col("v").alias("src"), F.col("m").alias("dst")
    )
    self_edges = mins.select(F.col("u").alias("src"), F.col("m").alias("dst"))
    return nbr_edges.union(self_edges)


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    config: PipelineConfig = DEFAULT_CONFIG,
) -> DataFrame:
    """edges(src,dst) -> (node, component) for every node in any edge.

    component = min node id of the component. Isolated nodes don't
    appear (caller unions singletons back — see assign_clusters).
    """
    cur = _canon(edges.select(F.col(src).alias("src"), F.col(dst).alias("dst")))
    cur = cur.localCheckpoint(eager=True)

    # Convergence test BEFORE each round (round-6): the alternating
    # large-star/small-star iteration is at its fixpoint exactly when
    # the canonical edge set is a STAR FOREST — every u points at a
    # single v and no v is itself a u (at a star forest both star
    # operations reproduce the set unchanged, and any non-star edge
    # changes it). Testing the CURRENT set costs one tiny action on a
    # materialized frame, whereas the round-5 signature-equality rule
    # had to COMPUTE one extra full round (4 exchanges) only to find
    # it identical — the converge-confirmation round is gone.
    def _is_star_forest(df) -> bool:
        deg = df.groupBy("u").agg(F.count(F.lit(1)).alias("c"))
        vs = df.select(F.col("v").alias("u")).distinct()
        nonstar = (
            deg.where(F.col("c") > 1)
            .select("u")
            .unionByName(deg.join(vs, "u", "left_semi").select("u"))
        )
        return nonstar.isEmpty()

    # Every round truncates lineage with an eager localCheckpoint
    # (measured fastest in local mode: persisting in between and
    # checkpointing every 3rd round cost +38% on the sf0.1 flagship CC,
    # the deeper in-between plans outweighing the saved checkpoint I/O).
    if not _is_star_forest(cur):  # degenerate inputs converge at once
        for _ in range(config.cc_max_iterations):
            stars = _canon(_large_star(cur))
            cur = _canon(_small_star(stars)).localCheckpoint(eager=True)
            if _is_star_forest(cur):
                break

    # At fixpoint every edge is (node -> component root).
    comp = cur.select(F.col("u").alias("node"), F.col("v").alias("component"))
    roots = cur.select(F.col("v").alias("node")).distinct().withColumn(
        "component", F.col("node")
    )
    return comp.unionByName(roots).dropDuplicates(["node"])


def two_phase_components(
    strong_edges: DataFrame,
    extra_edges: DataFrame,
    config: PipelineConfig = DEFAULT_CONFIG,
    comp1: DataFrame | None = None,
) -> DataFrame:
    """Connected components over (strong ∪ extra) edges, computed as
    strong-CC first, then CC of the CONTRACTED extra graph.

    The adaptive pipeline needs the strong-evidence components on
    their own (the ambiguity gate reads their sizes), so rather than
    paying a second full CC over the union graph, the extra (bridge)
    edges are mapped through the strong components — intra-component
    bridges become self-loops and vanish — and a second CC runs on
    what is usually a tiny contraction graph. Composition gives the
    union-graph components exactly (standard CC contraction identity).

    Returns (node, component, strong_component): `component` is the
    final id, `strong_component` the phase-1 id (callers use it for
    gate statistics). Pass ``comp1`` when the strong components were
    already computed (the ambiguity gate needs them first) — the
    phase-1 CC is then skipped entirely.
    """
    if comp1 is None:
        comp1 = connected_components(strong_edges, config=config)
    mapped = (
        extra_edges.join(
            comp1.select(
                F.col("node").alias("src"), F.col("component").alias("_cs")
            ),
            "src",
            "left",
        )
        .join(
            comp1.select(
                F.col("node").alias("dst"), F.col("component").alias("_cd")
            ),
            "dst",
            "left",
        )
        .select(
            F.coalesce("_cs", "src").alias("src"),
            F.coalesce("_cd", "dst").alias("dst"),
        )
        .where(F.col("src") != F.col("dst"))
    )
    comp2 = connected_components(mapped, config=config)
    # nodes of the union graph: strong nodes + extra-edge endpoints
    extra_nodes = (
        extra_edges.select(F.col("src").alias("node"))
        .unionByName(extra_edges.select(F.col("dst").alias("node")))
        .distinct()
    )
    nodes = (
        comp1.select("node").unionByName(extra_nodes).distinct()
    )
    out = (
        nodes.join(comp1, "node", "left")
        .withColumn("strong_component", F.coalesce("component", "node"))
        .drop("component")
        .join(
            comp2.select(
                F.col("node").alias("strong_component"),
                F.col("component").alias("_c2"),
            ),
            "strong_component",
            "left",
        )
        .withColumn("component", F.coalesce("_c2", "strong_component"))
        .drop("_c2")
    )
    return out


def refine_clusters(
    clustered: DataFrame,
    scored: DataFrame,
    traits: DataFrame,
    config: PipelineConfig = DEFAULT_CONFIG,
) -> DataFrame:
    """Cluster-level agglomeration — the distributed analogue of the
    reference's per-block average-linkage GHAC stage (G8,
    ``name_disambiguation.py:90-92,633-637``), run AFTER the
    pair-threshold CC pass.

    Rationale (measured on the reference's 110 labeled AMiner blocks):
    a single weak pair edge is unreliable (single-coauthor-only pairs
    are 54% true), but MANY weak edges between the same two clusters
    are collectively strong. So: aggregate ALL scored pair evidence
    (including sub-threshold pairs) across each cluster pair,
    average-linkage-normalize, and merge cluster pairs whose affinity
    clears the block tier's threshold; merging is one more (tiny) CC
    run on the cluster graph, so chains merge transitively within the
    round.

      affinity(A, B) = sum(pair scores between A and B)
                       / min(|A|, |B|)

    min-normalization = "per member of the smaller cluster, how much
    aggregate evidence points across" — a mega-cluster cannot swallow a
    small one on volume alone. CAVEAT: the statistic still grows with
    EVIDENCE DENSITY, not just match probability, so a fixed threshold
    is corpus-dependent — 0.10 is the measured peak on the sparse
    AMiner corpus but over-merges the dense synthetic fixtures badly;
    hence the richness gate below. Everything is hash aggregation on
    (block, cluster_a, cluster_b) — bounded by the scored-pair count,
    never n^2 in cluster sizes. Repeats ``config.cluster_refine_rounds``
    times (sizes/affinities recomputed each round; the caller skips
    the call when it is 0); new cluster id = min member cluster id,
    preserving the min-pub-id convention.

    ``traits`` (block_key, tier, gated, sparse — see
    plans.pipeline.build_match_context) auto-calibrates refinement
    (round 3, the density-aware defaults that let rounds default on):
    - only evidence-SPARSE blocks participate (richness gate; dense
      corpora's sub-threshold pairs are true negatives — measured
      fixture collapse P 1.0 -> 0.48 without this),
    - merge thresholds are per ambiguity tier
      (config.refine_tau_* / refine_min_edges_* corroboration floor),
    - evidence rows flagged ``sig_cut`` (name-constraint contradiction)
      never count, and ``is_weak`` rows don't count in gated blocks.
    """
    e = scored
    if "sig_cut" in e.columns:
        e = e.where(~F.col("sig_cut"))
    if {"w_title", "title_cos", "w_coauthor", "w_venue", "w_org"} <= set(
        e.columns
    ):
        # pairs whose ONLY evidence is a single shared title token sit
        # below the reference's own co-title bound (min_title_overlap,
        # name_disambiguation.py:971-973); aggregating hundreds of them
        # fakes cluster affinity (measured −1.3 macro F1 on the labeled
        # corpus when admitted) — drop them from the evidence pool.
        e = e.where(
            ~(
                (F.col("w_title") <= 0)
                & (F.col("title_cos") > 0)
                & (F.col("w_coauthor") <= 0)
                & (F.col("w_venue") <= 0)
                & (F.col("w_org") <= 0)
            )
        )
    tr = traits.select("block_key", "tier", "gated", "sparse")
    e = e.join(tr, "block_key", "inner").where(F.col("sparse"))
    if "is_weak" in e.columns:
        e = e.where(~(F.col("gated") & F.col("is_weak")))
    tau_col = (
        F.when(F.col("tier") == "rare", F.lit(config.refine_tau_rare))
        .when(F.col("tier") == "common", F.lit(config.refine_tau_common))
        .otherwise(F.lit(config.refine_tau_amb))
    )
    me_col = (
        F.when(F.col("tier") == "rare", F.lit(config.refine_min_edges_rare))
        .when(
            F.col("tier") == "common", F.lit(config.refine_min_edges_common)
        )
        .otherwise(F.lit(config.refine_min_edges_amb))
    )
    e = e.select(
        "block_key", "id_a", "id_b", "score",
        tau_col.alias("_tau"), me_col.alias("_me"),
    )
    # The evidence frame is re-joined EVERY round — materialize it once
    # so each round costs one join+agg, not a re-execution of the whole
    # scoring subtree (plan depth was the round-2 OOM risk).
    e = e.localCheckpoint(eager=True)
    out = clustered.localCheckpoint(eager=True)
    for _ in range(config.cluster_refine_rounds):
        cmap = out.select("block_key", "pub_id", "cluster_id")
        ea = cmap.select(
            "block_key",
            F.col("pub_id").alias("id_a"),
            F.col("cluster_id").alias("ca"),
        )
        eb = cmap.select(
            "block_key",
            F.col("pub_id").alias("id_b"),
            F.col("cluster_id").alias("cb"),
        )
        cross = (
            e.join(ea, ["block_key", "id_a"])
            .join(eb, ["block_key", "id_b"])
            .where(F.col("ca") != F.col("cb"))
            .select(
                "block_key",
                F.least("ca", "cb").alias("ca"),
                F.greatest("ca", "cb").alias("cb"),
                "score",
                "_tau",
                "_me",
            )
        )
        sizes = out.groupBy("block_key", "cluster_id").agg(
            F.count(F.lit(1)).alias("sz")
        )
        agg = cross.groupBy("block_key", "ca", "cb").agg(
            F.sum("score").alias("s"),
            F.count(F.lit(1)).alias("n_edges"),
            F.first("_tau").alias("_tau"),
            F.first("_me").alias("_me"),
        )
        agg = (
            agg.join(
                sizes.select(
                    "block_key",
                    F.col("cluster_id").alias("ca"),
                    F.col("sz").alias("na"),
                ),
                ["block_key", "ca"],
            )
            .join(
                sizes.select(
                    "block_key",
                    F.col("cluster_id").alias("cb"),
                    F.col("sz").alias("nb"),
                ),
                ["block_key", "cb"],
            )
            .withColumn(
                "affinity", F.col("s") / F.least("na", "nb")
            )
        )
        merges = agg.where(
            (F.col("affinity") >= F.col("_tau"))
            & (F.col("n_edges") >= F.col("_me"))
        )
        if merges.isEmpty():
            break
        node = lambda c: F.concat_ws(_SEP, F.col("block_key"), c)  # noqa: E731
        comp = connected_components(
            merges.select(
                node(F.col("ca")).alias("src"), node(F.col("cb")).alias("dst")
            ),
            config=config,
        ).select(
            F.split_part(F.col("node"), F.lit(_SEP), F.lit(1)).alias("block_key"),
            F.split_part(F.col("node"), F.lit(_SEP), F.lit(2)).alias("cluster_id"),
            F.split_part(F.col("component"), F.lit(_SEP), F.lit(2)).alias(
                "_new_cid"
            ),
        )
        out = (
            out.join(comp, ["block_key", "cluster_id"], "left")
            .withColumn(
                "cluster_id", F.coalesce(F.col("_new_cid"), F.col("cluster_id"))
            )
            .drop("_new_cid")
            # truncate lineage: next round joins against `out` again
            .localCheckpoint(eager=True)
        )
    return out


def assign_clusters(
    pubs: DataFrame,
    matches: DataFrame,
    config: PipelineConfig = DEFAULT_CONFIG,
) -> DataFrame:
    """pubs + match edges -> pubs with ``cluster_id``.

    cluster_id = min pub_id of the connected component (block-scoped);
    unmatched pubs become singleton clusters of themselves — the
    reference's P7 empty-block/singleton short-circuit
    (``name_disambiguation.py:857-860,991-994``) falls out naturally.
    """
    node = lambda bk, pid: F.concat_ws(_SEP, bk, pid)  # noqa: E731
    edge_nodes = matches.select(
        node(F.col("block_key"), F.col("id_a")).alias("src"),
        node(F.col("block_key"), F.col("id_b")).alias("dst"),
    )
    comp = connected_components(edge_nodes, config=config)

    keyed = pubs.withColumn("_node", node(F.col("block_key"), F.col("pub_id")))
    out = (
        keyed.join(comp, keyed["_node"] == comp["node"], "left")
        .withColumn(
            "cluster_id",
            F.coalesce(
                F.split_part(F.col("component"), F.lit(_SEP), F.lit(2)),
                F.col("pub_id"),
            ),
        )
        .drop("node", "component", "_node")
    )
    return out
