"""M2 — candidate pair/edge generation (SURVEY §2.3 J1-J4, §2.4 A1-A2).

The reference builds three per-block publication graphs with nested
Python loops (O(n^2) per block):
- co-author  Ga: ``name_disambiguation.py:876-917``
- co-venue   Gv: ``name_disambiguation.py:919-957``
- co-title   Gt: ``name_disambiguation.py:959-976`` (weight =
  |stemmed-token-set intersection|, kept iff >= 2)
- combined    G: union summing weights, ``:978-988``

Spark-first design: all three graphs (plus an org channel) come from
ONE typed inverted index — explode every pub's (channel, key) entries,
self-join on ``(block_key, typ, key)`` with ``id_a < id_b``, then
hash-aggregate to per-channel weights (``combined_edges``). This turns
the theta-join into a shuffle equi-join whose cost is bounded by
attribute co-occurrence, not n^2.

Scale levers (explicit, per north_rule):
- **hot-key caps**: an attribute value shared by k pubs emits C(k,2)
  pairs; values with per-block document frequency above a per-channel
  cap are dropped from the index. At 10^12 rows this is what keeps
  "Unknown venue"/"the"-grade keys from exploding.
- **skew**: keys above ``salt_df_threshold`` take a salted replicated
  self-join; AQE skew-join splitting stays on (session factory) as the
  runtime backstop.
- join strategy: these are shuffle sort-merge/hash joins keyed by
  (block_key, typ, key) — exactly what Catalyst picks; no hints needed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from ..config import PipelineConfig, DEFAULT_CONFIG
from ..functions.names import block_key as _name_key


def _pairs_from_index(
    index: DataFrame,
    key_cols: list[str],
    payload_cols: tuple[str, ...],
    config: PipelineConfig,
) -> DataFrame:
    """Self-join an inverted index on (block_key, key_cols); emit
    canonical pairs (id_a < id_b), carrying payload_cols as _a/_b.

    Skew handling is differentiated (explicit, per north_rule — AQE
    skew-join splitting stays on as the runtime backstop): keys whose
    per-block ``df`` column exceeds config.salt_df_threshold take the
    salted replicated join (split into salt_buckets sub-keys);
    everything else meets in the same join unsalted. ``salt_buckets <=
    1`` or ``salt_df_threshold <= 0`` turns salting off. Results are
    identical to the unsalted join — asserted by the salt-invariance
    test.
    """
    a, b = index, index
    cond = F.col("a.block_key") == F.col("b.block_key")
    if config.salt_buckets > 1 and config.salt_df_threshold > 0:
        # The index already carries per-(block, key) df for the hot-key
        # caps, so the hot/cold split costs a per-row CASE, not a
        # shuffle. ONE join serves both tiers (round-6): a key's
        # salt-bucket count is 1 when cold (explode yields [0],
        # pmod(h, 1) = 0 — no replication, every pair meets exactly
        # once) and `salt_buckets` when hot. A cold/hot branch pair
        # would re-execute the whole index subtree — including the df
        # window above its shared exchange — once per branch per side.
        nb = F.when(
            F.col("df") > config.salt_df_threshold,
            F.lit(config.salt_buckets),
        ).otherwise(F.lit(1))
        b = index.withColumn("_sb", F.pmod(F.xxhash64("pub_id"), nb))
        a = index.withColumn("_tb", F.explode(F.sequence(F.lit(0), nb - 1)))
        cond = cond & (F.col("a._tb") == F.col("b._sb"))
    for k in key_cols:
        cond = cond & (F.col(f"a.{k}") == F.col(f"b.{k}"))
    cond = cond & (F.col("a.pub_id") < F.col("b.pub_id"))
    out = [
        F.col("a.block_key").alias("block_key"),
        F.col("a.pub_id").alias("id_a"),
        F.col("b.pub_id").alias("id_b"),
    ]
    for c in payload_cols:
        out += [F.col(f"a.{c}").alias(f"{c}_a"), F.col(f"b.{c}").alias(f"{c}_b")]
    return a.alias("a").join(b.alias("b"), cond, "inner").select(*out)


def token_idf_index(
    pubs: DataFrame, config: PipelineConfig = DEFAULT_CONFIG
) -> DataFrame:
    """Per-block IDF-weighted token index (block_key, pub_id, tok,
    idf, df, n_block) — hot tokens above max_token_df_per_block capped
    out. Feature propagation (G4) reads it; its idf is the one the
    title channel of ``combined_edges`` computes:
    idf(tok) = ln((N_block + 1) / df_block(tok))."""
    idx = pubs.select(
        "block_key", "pub_id", F.explode("title_toks").alias("tok")
    )
    # df per (block, token) as a WINDOW count (one exchange the whole
    # downstream shares via ReuseExchange; a groupBy + join-back would
    # re-execute the exploded index per consumer); hot tokens capped out.
    dfw = Window.partitionBy("block_key", "tok")
    block_sizes = pubs.groupBy("block_key").agg(
        F.count(F.lit(1)).alias("n_block")
    )
    return (
        idx.withColumn("df", F.count(F.lit(1)).over(dfw))
        .where(F.col("df") <= config.max_token_df_per_block)
        # No broadcast hint: one row per block can itself be huge at
        # 10^12 scale — let AQE pick broadcast when it actually fits.
        .join(block_sizes, "block_key")
        .withColumn("idf", F.log((F.col("n_block") + 1.0) / F.col("df")))
    )


# unified multi-channel index type tags (tinyint — narrow shuffle key,
# guide §2.3); values never leave this module
_TYP_AUTHOR, _TYP_VENUE, _TYP_ORG, _TYP_TOK = 1, 2, 3, 4


def _unified_channel_index(
    pubs: DataFrame, config: PipelineConfig
) -> DataFrame:
    """ONE inverted index covering every relation channel:
    (block_key, pub_id, typ, key, df, idf).

    Exploding ALL channel keys from one scan into a typed (typ, key)
    index gives the combined graph one scan, one window exchange and
    one pair aggregation. The index stays lazy (see the note before
    the return): the window's (block, typ, key) hash partitioning is
    the index's output partitioning, so the self-join keys are a
    superset of it and the join adds NO exchange, and the norms branch
    and both self-join sides share that exchange via ReuseExchange.

    Per-channel semantics (``typ`` tag):
    - author keys: normalized via the blocking-key function, focal
      author excluded under any variant, de-duplicated per pub
      (``array_distinct``);
    - venue keys: non-null venues;
    - org keys: lower-cased, punctuation-stripped affiliation; strings
      of 3 characters or fewer and placeholder values
      (``venue_null_values``, e.g. the AMiner corpus's 1476 literal
      "Unknown" orgs) are not evidence;
    - token keys: ``title_toks`` as-is (distinct per pub upstream);
    - per-channel hot-key caps ride as a CASE over ``typ`` against the
      one window df;
    - tok rows carry idf = ln((n_block + 1) / df); the per-pub
      idf-vector norms live in a separate tiny frame
      (``_pub_token_norms``) that combined_edges re-attaches AFTER the
      pair aggregation, so index rows never pay a norms exchange.
    """
    empty = F.array().cast("array<string>")

    def entries(typ: int, keys_arr) -> "F.Column":
        return F.transform(
            F.coalesce(keys_arr, empty),
            lambda k: F.struct(
                F.lit(typ).cast("tinyint").alias("typ"), k.alias("key")
            ),
        )

    auth_keys = F.filter(
        F.array_distinct(F.transform(F.col("authors"), _name_key)),
        lambda a: a.isNotNull()
        & (a != F.lit(""))
        & (a != F.col("block_key")),
    )
    venue_keys = F.filter(
        F.array(F.col("venue")), lambda v: v.isNotNull()
    )
    tok_keys = F.col("title_toks")
    parts = [
        entries(_TYP_AUTHOR, auth_keys),
        entries(_TYP_VENUE, venue_keys),
    ]
    if "org" in pubs.columns:
        org_norm = F.trim(
            F.regexp_replace(
                F.regexp_replace(F.lower("org"), r"[^\p{L}\p{N}\s]+", " "),
                r"\s+",
                " ",
            )
        )
        org_keys = F.filter(
            F.array(org_norm),
            lambda o: o.isNotNull()
            & (F.length(o) > 3)
            & ~o.isin(*config.venue_null_values),
        )
        parts.append(entries(_TYP_ORG, org_keys))
    parts.append(entries(_TYP_TOK, tok_keys))

    idx = pubs.select(
        "block_key", "pub_id", F.explode(F.concat(*parts)).alias("e")
    ).select(
        "block_key",
        "pub_id",
        F.col("e.typ").alias("typ"),
        F.col("e.key").alias("key"),
    )

    # per-(block, typ, key) df as ONE window count; the per-channel
    # caps become a row-level CASE against the same df. The n_block
    # join sits BELOW the window on purpose: a broadcast (or, at real
    # scale, shuffle) join there leaves the window's
    # (block, typ, key) hash partitioning as the index's output
    # partitioning, which the self-join keys are a superset of — so
    # the self-join adds NO exchange at any scale.
    dfw = Window.partitionBy("block_key", "typ", "key")
    cap = (
        F.when(
            F.col("typ") == _TYP_AUTHOR,
            F.lit(config.max_coauthor_df_per_block),
        )
        .when(F.col("typ") == _TYP_VENUE, F.lit(config.max_venue_df_per_block))
        .when(F.col("typ") == _TYP_ORG, F.lit(config.max_org_df_per_block))
        .otherwise(F.lit(config.max_token_df_per_block))
    )
    block_sizes = pubs.groupBy("block_key").agg(
        F.count(F.lit(1)).alias("n_block")
    )
    # No broadcast hint (token_idf_index note): AQE picks broadcast
    # when block_sizes actually fits.
    idx = (
        idx.join(block_sizes, "block_key")
        .withColumn("df", F.count(F.lit(1)).over(dfw))
        .where(F.col("df") <= cap)
        .withColumn(
            "idf",
            F.when(
                F.col("typ") == _TYP_TOK,
                F.log((F.col("n_block") + 1.0) / F.col("df")),
            ),
        )
        .drop("n_block")
    )
    # Fully lazy on purpose (measured): an eager checkpoint of the
    # index pays a full extra write+read pass over index rows (index
    # rows >> pair rows — ~10% slower at 8x bench volume); the lazy
    # form shares the window's exchange across the norms branch and
    # both self-join sides via ReuseExchange. Per-pub idf norms are
    # NOT attached here — combined_edges re-attaches them after the
    # pair aggregation, where only pair rows (not every index row)
    # cross the join.
    return idx


def _pub_token_norms(idx: DataFrame) -> DataFrame:
    """Per-pub idf-vector SQUARED norm from the unified index's token
    rows — (block_key, pub_id, _n2). Derived from the index subtree, so
    its exchange is shared with the self-join sides via ReuseExchange."""
    return (
        idx.where(F.col("typ") == _TYP_TOK)
        .groupBy("block_key", "pub_id")
        .agg(F.sum(F.col("idf") * F.col("idf")).alias("_n2"))
    )


def combined_edges(
    pubs: DataFrame, config: PipelineConfig = DEFAULT_CONFIG
) -> DataFrame:
    """J4/T2/A1: the reference's combined graph (per-channel graphs
    unioned with weights summed, ``name_disambiguation.py:876-988``)
    from ONE typed multi-channel index (``_unified_channel_index``)
    through ONE self-join and ONE pair aggregation.

    Returns (block_key, id_a, id_b, w_coauthor, w_title, title_cos,
    w_venue, w_org) with absent relations as 0.0. This *is* the sparse
    combined graph — the reference's dense N x N adjacency never exists
    here. Channels cannot cross-match (typ is a join key); each
    channel's weight is a conditional aggregate over its matched rows:
    - w_coauthor (J2): number of shared coauthors, focal author
      excluded (the reference's authorlist files likewise pair on
      *co*-authors only, ``openAlex_to_HGCN.py:299-308``);
    - w_venue (J3): 1.0 for an equal venue
      (``name_disambiguation.py:930-948``);
    - w_org: 1.0 for an equal normalized affiliation. The reference
      parses ``organization`` (``name_disambiguation.py:828``) but
      never feeds it to a graph — a deliberate engine extension;
    - w_title / title_cos (J1/T1): w_title is the stemmed-token-set
      intersection size when it reaches ``min_title_overlap``
      (reference parity, ``name_disambiguation.py:959-976``), else 0.0;
      title_cos is the IDF-weighted cosine (idf = ln((N_block + 1) /
      df_block)), scale-free in [0,1]. The title channel exists for a
      pair only when the overlap reaches ``min_title_cos_overlap``
      (default 1: single-token cosines are worth +1.7 macro-F1 / +6.7
      precision on the reference's 110 labeled AMiner blocks).

    ``config.max_pairs_per_block > 0`` caps candidate pairs per block,
    keeping the strongest-evidence pairs (fused-weight desc,
    deterministic tiebreak); truncation is COUNTED via ``observe()``
    (metric ``pairs_truncated`` on observation ``pair_cap_metrics``) —
    never silent. The cap is the last-resort safety valve for a block
    that survives every hot-key cap yet still explodes; default 0 (off).
    """
    side = _unified_channel_index(pubs, config)
    pairs = _pairs_from_index(side, ["typ", "key"], ("typ", "idf"), config)
    is_tok = F.col("typ_a") == _TYP_TOK
    agg = pairs.groupBy("block_key", "id_a", "id_b").agg(
        F.coalesce(
            F.sum(F.when(F.col("typ_a") == _TYP_AUTHOR, F.lit(1.0))),
            F.lit(0.0),
        ).alias("w_coauthor"),
        F.sum(F.when(is_tok, F.lit(1.0))).alias("_overlap"),
        F.sum(F.when(is_tok, F.col("idf_a") * F.col("idf_b"))).alias("_dot"),
        F.max(F.when(F.col("typ_a") == _TYP_VENUE, F.lit(1.0))).alias(
            "_venue"
        ),
        F.max(F.when(F.col("typ_a") == _TYP_ORG, F.lit(1.0))).alias("_org"),
    )
    # per-pub idf norms re-attached on the AGGREGATED pairs — only
    # pair rows cross these joins (index rows stay inside the one
    # shared exchange); AQE broadcasts the norms frame when it fits
    norms = _pub_token_norms(side)
    agg = agg.join(
        norms.select(
            "block_key",
            F.col("pub_id").alias("id_a"),
            F.col("_n2").alias("_na2"),
        ),
        ["block_key", "id_a"],
        "left",
    ).join(
        norms.select(
            "block_key",
            F.col("pub_id").alias("id_b"),
            F.col("_n2").alias("_nb2"),
        ),
        ["block_key", "id_b"],
        "left",
    )
    # post-agg channel gates, applied to the conditional aggregates:
    # the title channel only EXISTS for a pair when its token overlap
    # clears min_title_cos_overlap, so both w_title and title_cos are
    # gated on it, and a pair whose ONLY matches are sub-gate token
    # rows contributes no output row at all.
    cos_gate = F.lit(float(max(1, config.min_title_cos_overlap)))
    has_title = F.col("_overlap") >= cos_gate
    agg = agg.where(
        (F.col("w_coauthor") > 0)
        | F.col("_venue").isNotNull()
        | F.col("_org").isNotNull()
        | has_title
    )
    edges = agg.select(
        "block_key",
        "id_a",
        "id_b",
        "w_coauthor",
        F.when(
            has_title
            & (F.col("_overlap") >= F.lit(float(config.min_title_overlap))),
            F.col("_overlap"),
        )
        .otherwise(F.lit(0.0))
        .alias("w_title"),
        F.when(
            has_title & (F.col("_na2") > 0) & (F.col("_nb2") > 0),
            F.col("_dot") / (F.sqrt("_na2") * F.sqrt("_nb2")),
        )
        .otherwise(F.lit(0.0))
        .alias("title_cos"),
        F.coalesce(F.col("_venue"), F.lit(0.0)).alias("w_venue"),
        F.coalesce(F.col("_org"), F.lit(0.0)).alias("w_org"),
    )
    # No trailing repartition: the groupBy above already hash-partitioned
    # on (block_key,id_a,id_b) and AQE re-splits any skewed partition.
    if config.max_pairs_per_block > 0:
        cap = config.max_pairs_per_block
        # Rank by the SAME fused expression scoring.fuse_scores applies
        # (least(1,·) squashing, published 5/1/4 weights, org term) so
        # the pairs the cap keeps are the strongest by actual fused
        # score — raw coauthor counts must not dominate, and org-only
        # evidence must not rank as zero.
        fused = (
            config.w_coauthor * F.least(F.lit(1.0), F.col("w_coauthor"))
            + config.w_title * F.col("title_cos")
            + config.w_venue * F.least(F.lit(1.0), F.col("w_venue"))
            + config.w_org * F.least(F.lit(1.0), F.col("w_org"))
        ) / F.lit(config.weight_norm)
        rank_w = Window.partitionBy("block_key").orderBy(
            F.desc(fused),
            F.asc("id_a"),
            F.asc("id_b"),
        )
        edges = (
            edges.withColumn("_rn", F.row_number().over(rank_w))
            .observe(
                "pair_cap_metrics",
                F.sum(
                    F.when(F.col("_rn") > cap, 1).otherwise(0)
                ).alias("pairs_truncated"),
                F.count(F.lit(1)).alias("pairs_before_cap"),
            )
            .where(F.col("_rn") <= cap)
            .drop("_rn")
        )
    return edges
