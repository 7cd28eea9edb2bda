"""Unit tests for the candidate-pair channels J1-J4 of combined_edges
against tiny golden inputs (SURVEY §5.1, mirroring
experimental-results/authors/*_authorlist.txt style fixtures). Each
channel is read from its own combined_edges column."""

import json

import pytest
from pyspark.sql import functions as F

from hgcn_name_disambiguation_spark.config import PipelineConfig
from hgcn_name_disambiguation_spark.fixtures.generator import REPO_FILES_SCHEMA
from hgcn_name_disambiguation_spark.operators.candidate_pairs import (
    combined_edges,
)
from hgcn_name_disambiguation_spark.operators.parse import parse_publications


def _mk(spark, records):
    rows = []
    for r in records:
        content = json.dumps(r, sort_keys=True, separators=(",", ":"))
        rows.append(
            {
                "repo": f"block-{r['block']}",
                "path": f"pubs/{r['pub_id']}.json",
                "commit": "0" * 40,
                "lang": "json",
                "content": content,
            }
        )
    return spark.createDataFrame(rows, REPO_FILES_SCHEMA)


@pytest.fixture(scope="module")
def tiny_pubs(spark):
    records = [
        # p1,p2 share coauthor "bob roy" + venue kdd + >=2 title stems
        {"block": "ann lee", "pub_id": "p1", "title": "quantum graphene lattice models",
         "year": 2001, "authors": ["ann lee", "bob roy"], "venue": "kdd",
         "org": "null", "label": 0},
        {"block": "ann lee", "pub_id": "p2", "title": "quantum graphene transport",
         "year": 2002, "authors": ["ann lee", "bob roy", "cai wu"], "venue": "kdd",
         "org": "null", "label": 0},
        # p3 different entity: no coauthors/venue/title shared
        {"block": "ann lee", "pub_id": "p3", "title": "enzyme catalysis pathways",
         "year": 2003, "authors": ["ann lee", "dan po"], "venue": "jacs",
         "org": "null", "label": 1},
        # other block must not pair with ann lee rows
        {"block": "jim gray", "pub_id": "p4", "title": "quantum graphene lattice",
         "year": 2001, "authors": ["jim gray", "bob roy"], "venue": "kdd",
         "org": "null", "label": 0},
    ]
    return parse_publications(_mk(spark, records)).cache()


def _channel(edges, col):
    """{(block_key, id_a, id_b): col} over the rows where col > 0."""
    return {
        (r.block_key, r.id_a, r.id_b): r[col]
        for r in edges.where(F.col(col) > 0).collect()
    }


def test_coauthor_edges(tiny_pubs):
    got = _channel(combined_edges(tiny_pubs), "w_coauthor")
    # only p1-p2 share coauthor bob roy (focal author excluded; cross-block
    # bob roy must NOT pair p1/p2 with p4)
    assert got == {("ann lee", "p1", "p2"): 1.0}


def test_venue_edges(tiny_pubs):
    got = _channel(combined_edges(tiny_pubs), "w_venue")
    assert got == {("ann lee", "p1", "p2"): 1.0}


def test_title_edges_min_overlap(tiny_pubs):
    rows = combined_edges(tiny_pubs).where(F.col("title_cos") > 0).collect()
    got = {(r.block_key, r.id_a, r.id_b): r.w_title for r in rows}
    # p1-p2 share {quantum, graphene} -> weight 2; p3 shares no token
    assert got == {("ann lee", "p1", "p2"): 2.0}


def test_title_single_token_cos_edge(spark):
    """min_title_cos_overlap=1 (default): a pair sharing exactly ONE
    non-hot token gets a title_cos edge but w_title stays 0.0 (the
    reference's Gt edge needs >= min_title_overlap tokens —
    name_disambiguation.py:971-973). The strong-title rescue in
    threshold_matches must NOT fire on it (w_title == 0)."""
    records = [
        {"block": "mei xu", "pub_id": "r1", "title": "zeolite synthesis",
         "year": 2001, "authors": ["mei xu"], "venue": "a",
         "org": "null", "label": 0},
        {"block": "mei xu", "pub_id": "r2", "title": "zeolite adsorption",
         "year": 2002, "authors": ["mei xu"], "venue": "b",
         "org": "null", "label": 0},
    ]
    pubs = parse_publications(_mk(spark, records))
    rows = combined_edges(pubs).collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r.id_a, r.id_b) == ("r1", "r2")
    assert r.w_title == 0.0
    assert 0.0 < r.title_cos < 1.0
    # rescue gate: even a fabricated strong cosine must not rescue a
    # single-token pair
    from hgcn_name_disambiguation_spark.operators.scoring import (
        fuse_scores, threshold_matches,
    )
    scored = fuse_scores(combined_edges(pubs))
    assert threshold_matches(scored).count() == 0

    # legacy behavior restorable: min_title_cos_overlap=2 drops the
    # title channel for the pair
    cfg = PipelineConfig(min_title_cos_overlap=2)
    assert combined_edges(pubs, cfg).where(F.col("title_cos") > 0).count() == 0


def test_combined_edges_fuses_relations(tiny_pubs):
    rows = combined_edges(tiny_pubs).collect()
    got = {(r.block_key, r.id_a, r.id_b): (r.w_coauthor, r.w_title, r.w_venue)
           for r in rows}
    assert got[("ann lee", "p1", "p2")] == (1.0, 2.0, 1.0)
    assert len(got) == 1


def test_hot_key_cap(spark):
    # 6 pubs all sharing one venue; cap at 5 -> no venue pairs emitted.
    records = [
        {"block": "ann lee", "pub_id": f"q{i}", "title": f"topic{i} words here",
         "year": 2000, "authors": ["ann lee"], "venue": "mega",
         "org": "null", "label": 0}
        for i in range(6)
    ]
    pubs = parse_publications(_mk(spark, records))
    cfg = PipelineConfig(max_venue_df_per_block=5)
    assert len(_channel(combined_edges(pubs, cfg), "w_venue")) == 0
    # C(6,2) without cap
    assert len(_channel(combined_edges(pubs), "w_venue")) == 15


def test_org_edges(spark):
    """Org channel: equal affiliations after normalization (case,
    punctuation, whitespace) give w_org 1.0; placeholder orgs and orgs
    of <= 3 characters are not evidence."""
    def pub(block, pid, title, venue, org):
        return {"block": block, "pub_id": pid, "title": title, "year": 2001,
                "authors": [block], "venue": venue, "org": org, "label": 0}

    records = [
        pub("ann lee", "o1", "quantum lattice", "v1",
            "Dept. of Physics, Tsinghua University"),
        pub("ann lee", "o2", "enzyme pathways", "v2",
            "dept of physics  TSINGHUA university!"),
        pub("bo li", "o3", "quantum lattice", "v1", "Unknown"),
        pub("bo li", "o4", "enzyme pathways", "v2", "unknown"),
        pub("cy wu", "o5", "quantum lattice", "v1", "MIT"),
        pub("cy wu", "o6", "enzyme pathways", "v2", "mit."),
    ]
    edges = combined_edges(parse_publications(_mk(spark, records)))
    assert _channel(edges, "w_org") == {("ann lee", "o1", "o2"): 1.0}
    # no other channel links any pair either
    assert edges.count() == 1


def test_salt_invariance(spark, fixture_repo_files):
    """Salted hot-key self-join must produce the identical edge set as
    the plain join (SURVEY §5.1 salt-count invariance property)."""
    from hgcn_name_disambiguation_spark.config import PipelineConfig
    from hgcn_name_disambiguation_spark.operators.candidate_pairs import (
        combined_edges,
    )
    from hgcn_name_disambiguation_spark.operators.parse import (
        parse_publications,
    )

    unsalted_cfg = PipelineConfig(salt_buckets=0)
    # threshold 2 forces nearly every key through the salted path
    salted_cfg = PipelineConfig(salt_buckets=8, salt_df_threshold=2)
    pubs = parse_publications(fixture_repo_files, unsalted_cfg)

    def canon(df):
        return sorted(
            (
                r.block_key, r.id_a, r.id_b,
                round(r.w_coauthor or 0, 6), round(r.w_title or 0, 6),
                round(r.title_cos or 0, 6), round(r.w_venue or 0, 6),
            )
            for r in df.collect()
        )

    e1 = canon(combined_edges(pubs, unsalted_cfg))
    e2 = canon(combined_edges(pubs, salted_cfg))
    assert e1 == e2
    assert len(e1) > 0
