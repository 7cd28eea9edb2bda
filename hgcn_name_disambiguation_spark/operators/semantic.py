"""S7/A3 — corpus-internal semantic title vectors.

The reference features each pub as the mean word2vec vector of its
stemmed title tokens, using a PRE-TRAINED embedding loaded from disk
(``name_disambiguation.py:711-716`` loads the word2vec dict;
``:849-856`` averages token vectors into the per-pub feature). That
embedding is external training data, which this from-scratch engine
does not consume — so the embedding is trained ON THE CORPUS ITSELF
with ``pyspark.ml.feature.Word2Vec`` (distributed skip-gram fit).

Two deliberate adaptations, both measured on the reference's labeled
AMiner corpus (REFERENCE_EVAL_GHAC.md, round 3):

- **Training sentences are title tokens + venue tokens.** Venue words
  act as cross-title context anchors: two titles sharing no token
  still land near each other in embedding space when they co-occur
  with the same venue words somewhere in the corpus. Title-only
  training buys +0.7 macro F1 on the archived-100 GHAC benchmark;
  title+venue training buys +1.8 (window covering the venue span).
- **Document vector = IDF-weighted mean of TITLE-token vectors**
  (venue tokens are training context only, not document content).
  Plain mean (exact A3 parity) measures ~0.7 points worse — tiny
  corpora produce noisy vectors for generic high-df tokens, and idf
  weighting suppresses exactly those.

Scale stance (100 TB): the Word2Vec fit is the one stage with a
driver-resident model (vocab x dim float matrix, broadcast to
executors per iteration — Spark ML's design). Vocabulary, not corpus
size, bounds that memory: ``w2v_min_count`` keeps the vocab to tokens
seen repeatedly, and at 10^12-doc scale the fit runs on a sampled
fraction of sentences (embeddings need token co-occurrence coverage,
not every document) while ``document_vectors`` — plain joins/aggs,
fully distributed — still covers every document. The per-component
explode in ``document_vectors`` multiplies rows by ``w2v_dim``; it
stays JVM-side (posexplode + hash agg), shuffles on (pub_id) only,
and never collects.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from ..config import DEFAULT_CONFIG, PipelineConfig
from ..functions.text import normalize_title, tokenize_keep_long


def venue_tokens(venue: Column) -> Column:
    """Venue string -> normalized word tokens (len > 1), [] for null.

    Same normalize/tokenize kernels as titles (P1/P2) — NOT stemmed:
    venue words are proper-noun-ish (conference names) where stemming
    merges distinct venues more than it canonicalizes.
    """
    return F.when(
        venue.isNotNull(), tokenize_keep_long(normalize_title(venue))
    ).otherwise(F.array().cast("array<string>"))


def training_sentences(
    pubs: DataFrame, config: PipelineConfig = DEFAULT_CONFIG
) -> DataFrame:
    """(pub_id, sent) — one token sequence per pub: title ++ venue."""
    return pubs.select(
        "pub_id",
        F.concat(
            F.col("title_toks"), venue_tokens(F.col("venue"))
        ).alias("sent"),
    )


def train_word_vectors(
    pubs: DataFrame, config: PipelineConfig = DEFAULT_CONFIG
) -> DataFrame:
    """Fit Word2Vec on the corpus's own sentences -> (word, vector).

    Deterministic for a fixed config at ``w2v_num_partitions=1``
    (Spark ML's fit is order-dependent across partitions; at cluster
    scale raise the partition count and accept run-to-run vector
    variance — the downstream channel is threshold-gated, measured
    stable across seeds 0.863-0.870 archived-100 F1).

    ``w2v_sample_fraction < 1`` is the 100-TB path: the FIT consumes a
    deterministic hash-sample of the sentences (xxhash64(pub_id, seed)
    — reproducible across reruns/executor counts, unlike
    ``DataFrame.sample``'s partition-dependent RNG), while
    ``document_vectors`` still featurizes EVERY document. Embeddings
    need token co-occurrence coverage, not every sentence.

    The DEFAULT config engages that path automatically (round 5):
    with ``w2v_sample_fraction=1.0`` the fit counts the corpus once
    and caps its input at ``w2v_max_fit_sentences`` — so the
    deterministic 1-partition fit is bounded-constant work at any
    corpus size, and sub-cap corpora (the reference corpus, every
    fixture) fit on exactly the same sentences as before.
    """
    from pyspark.ml.feature import Word2Vec
    from pyspark.ml.functions import vector_to_array

    sents = training_sentences(pubs, config)
    frac = min(max(config.w2v_sample_fraction, 0.0), 1.0)
    if frac >= 1.0 and config.w2v_max_fit_sentences > 0:
        # auto-derive the 100-TB-safe fraction: one bounded scalar
        # action (a count the fit's own cost dwarfs) caps the
        # sentences the serialized fit consumes at a constant.
        n = sents.count()
        if n > config.w2v_max_fit_sentences:
            frac = config.w2v_max_fit_sentences / n
    if frac < 1.0:
        bound = int(frac * (2 ** 63 - 1))
        sents = sents.where(
            F.abs(F.xxhash64(F.col("pub_id"), F.lit(config.w2v_seed)))
            <= F.lit(bound)
        )
    model = Word2Vec(
        vectorSize=config.w2v_dim,
        windowSize=config.w2v_window,
        minCount=config.w2v_min_count,
        maxIter=config.w2v_iter,
        numPartitions=config.w2v_num_partitions,
        seed=config.w2v_seed,
        inputCol="sent",
        outputCol="_vec",
    ).fit(sents)
    return model.getVectors().select(
        "word", vector_to_array(F.col("vector"), "float64").alias("vector")
    )


def document_vectors(
    pubs: DataFrame,
    word_vectors: DataFrame,
    config: PipelineConfig = DEFAULT_CONFIG,
) -> DataFrame:
    """IDF-weighted mean of title-token vectors per pub.

    (block_key, pub_id, vec ARRAY<DOUBLE>) — pubs with no in-vocab
    title token get NULL (callers treat NULL as "no semantic
    evidence"). idf(tok) = ln(N_corpus / (1 + df_corpus(tok))) —
    CORPUS-wide df, unlike the per-block idf of the title channel
    (candidate_pairs.combined_edges): semantic
    generality of a word is a corpus property, not a block property.

    All JVM-side: explode tokens -> df agg -> join word vectors ->
    posexplode components -> weighted hash agg per (pub, component) ->
    array rebuild. One shuffle per agg, keyed on token / pub_id.
    """
    toks = pubs.select(
        "block_key", "pub_id", F.explode("title_toks").alias("tok")
    ).dropDuplicates(["pub_id", "tok"])
    # the corpus-df aggregation and the weighting join both consume the
    # deduped token explode — materialize it once
    toks = toks.localCheckpoint(eager=True)
    n_docs = pubs.select(F.count(F.lit(1)).alias("n"))
    df_counts = (
        toks.groupBy("tok")
        .agg(F.count(F.lit(1)).alias("df"))
        .crossJoin(F.broadcast(n_docs))
        .withColumn("idf", F.log(F.col("n") / (1.0 + F.col("df"))))
        .select("tok", "idf")
    )
    weighted = (
        toks.join(df_counts, "tok")
        .join(word_vectors.withColumnRenamed("word", "tok"), "tok")
        .select(
            "block_key",
            "pub_id",
            "idf",
            F.posexplode("vector").alias("pos", "val"),
        )
    )
    comp = weighted.groupBy("block_key", "pub_id", "pos").agg(
        F.sum(F.col("idf") * F.col("val")).alias("wval"),
        F.sum("idf").alias("wsum"),
    )
    return (
        comp.groupBy("block_key", "pub_id")
        .agg(
            F.array_sort(
                F.collect_list(F.struct("pos", "wval"))
            ).alias("comps"),
            F.first("wsum").alias("wsum"),
        )
        .select(
            "block_key",
            "pub_id",
            F.when(
                F.col("wsum") > 0,
                F.transform(
                    F.col("comps"), lambda c: c["wval"] / F.col("wsum")
                ),
            ).alias("vec"),
        )
    )


def semantic_document_vectors(
    pubs: DataFrame, config: PipelineConfig = DEFAULT_CONFIG
) -> DataFrame:
    """Train + featurize in one call (the eval/pipeline entry)."""
    return document_vectors(pubs, train_word_vectors(pubs, config), config)
