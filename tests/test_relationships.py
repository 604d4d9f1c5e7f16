"""Relationship-detection parity tests (reference:
test/test_relationship_detection.rb semantics, our own fixtures)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from xml_to_sqlite3_spark.operators import hierarchy, relationships as R
from xml_to_sqlite3_spark.sources import read_xml_corpus

FIXTURES = os.path.join(os.path.dirname(os.path.abspath(__file__)), "fixtures")


@pytest.fixture(scope="module")
def corpus(spark):
    return read_xml_corpus(spark, FIXTURES)


@pytest.fixture(scope="module")
def structural(corpus):
    df = R.structural_relationships(corpus.nodes)
    rows = df.collect()
    return {
        rtype: {(r["source_node_id"], r["target_node_id"]) for r in rows if r["reference_type"] == rtype}
        for rtype in {r["reference_type"] for r in rows}
    }


def test_parent_child(structural):
    pc = structural["parent_child"]
    assert ("top_node", "item_a") in pc
    assert ("top_node", "item_b") in pc
    assert ("item_b", "inner_1") in pc
    assert ("music_catalog", "albums") in pc
    assert ("album_1", "artist_1") in pc
    # reversed type exists for every pair
    assert {(b, a) for (a, b) in pc} == structural["child_parent"]


def test_siblings_bidirectional(structural):
    sib = structural["sibling"]
    assert ("item_a", "item_b") in sib and ("item_b", "item_a") in sib
    # genre_punk / genre_indie share parent genre_rock
    assert ("genre_punk", "genre_indie") in sib
    # inner_1 has no id-bearing siblings
    assert not any("inner_1" in p for p in sib)
    # nodes whose parent has no id are never siblings (nil-parent group skipped)
    assert not any("mood_fast" in p for p in sib)


def test_adjacent_siblings(structural):
    assert ("item_a", "item_b") in structural["next_sibling"]
    assert ("item_b", "item_a") in structural["previous_sibling"]
    # rating_1 / rating_2 / rating_3 are consecutive positions
    assert ("rating_1", "rating_2") in structural["next_sibling"]
    assert ("rating_2", "rating_3") in structural["next_sibling"]
    assert ("rating_1", "rating_3") not in structural["next_sibling"]


@pytest.fixture(scope="module")
def attr_refs(corpus):
    return {
        (r["source_node_id"], r["target_node_id"]): r.asDict()
        for r in R.attribute_references(corpus.nodes, corpus.properties).collect()
    }


def test_attribute_reference_targets(attr_refs):
    assert ("genre_punk", "genre_rock") in attr_refs  # parent="genre_rock"
    assert ("album_1", "genre_punk") in attr_refs  # genre="genre_punk"
    assert ("rating_1", "album_1") in attr_refs  # album_id="album_1"
    # values that match the id pattern but name no node: absent
    assert not any(t == "Rock" for (_, t) in attr_refs)


def test_attribute_reference_confidence(attr_refs):
    # 'parent' is an indicator (+0.15) and genre_rock matches prefix (+0.05) -> capped 1.0
    assert attr_refs[("genre_punk", "genre_rock")]["confidence"] == pytest.approx(1.0)
    # 'genre' has no indicator: 0.8 + 0.05 prefix
    assert attr_refs[("album_1", "genre_punk")]["confidence"] == pytest.approx(0.85)
    # 'album_id' contains 'id': 0.8 + 0.15 + 0.05 capped
    assert attr_refs[("rating_1", "album_1")]["confidence"] == pytest.approx(1.0)
    assert attr_refs[("rating_1", "album_1")]["attribute_name"] == "album_id"


def test_name_indicator_folding_matches_lower(spark):
    """The translate-based case folding must match exactly what
    lower().contains(...) matches, including the two non-ASCII code
    points whose lowercase holds an ASCII letter (U+212A, U+0130)."""
    names = [
        None, "", "id", "ID", "Album_Id", "LIN\u212a", "\u212aID", "LIN\u212aS",
        "\u0130D", "CH\u0130LD", "\u0130DS", "\uff29\uff24", "\u0131d", "\u017fource",
        "SOURCES", "Targets", "genre", "PARENT_REF", "r\u0435f", "R\u0307EF",
    ]
    df = spark.createDataFrame([(n,) for n in names], "n string")
    for indicators in (R._SINGLE_REF_INDICATORS, R._MULTI_REF_INDICATORS):
        lowered = F.lower(F.col("n"))
        spec = lowered.contains(indicators[0])
        for ind in indicators[1:]:
            spec = spec | lowered.contains(ind)
        rows = df.select(
            "n",
            R._name_contains_any(F.col("n"), indicators).alias("fast"),
            spec.alias("spec"),
        ).collect()
        for r in rows:
            assert r["fast"] == r["spec"], f"{r['n']!r}: {r['fast']} != {r['spec']}"


def test_multi_references(spark):
    nodes = spark.createDataFrame(
        [
            ("n1", "thing", "d1", None, 0, "", "/a"),
            ("n2", "thing", "d1", None, 1, "", "/b"),
            ("n3", "thing", "d1", None, 2, "", "/c"),
        ],
        "id string, node_type string, document_id string, parent_id string,"
        " position int, content string, xpath string",
    )
    properties = spark.createDataFrame(
        [
            ("n1", "linked_ids", "n2 n3", "string"),
            ("n1", "tags", "n2,missing_id", "string"),
        ],
        "node_id string, property_name string, property_value string, data_type string",
    )
    out = {
        (r["source_node_id"], r["target_node_id"]): r.asDict()
        for r in R.multi_references(nodes, properties).collect()
    }
    assert set(out) == {("n1", "n2"), ("n1", "n3")}
    # linked_ids contains 'ids' (+0.2), n2 matches no prefix pattern
    # ('n2' is letters+digits, not letters_underscore): (0.6+0.2)*0.8
    linked = [v for k, v in out.items() if v["attribute_name"] == "linked_ids"]
    assert all(v["confidence"] == pytest.approx(0.8 * 0.8) for v in linked)
    tags = [v for k, v in out.items() if v["attribute_name"] == "tags"]
    assert all(v["confidence"] == pytest.approx(0.6 * 0.8) for v in tags)


def test_same_type_pairs(spark):
    nodes = spark.createDataFrame(
        [
            ("a", "book", "d1", None, 0, "text a", "/a"),
            ("b", "book", "d1", None, 1, "text b", "/b"),
            ("c", "book", "d2", None, 0, "text c", "/c"),  # other doc
            ("d", "book", "d1", None, 2, None, "/d"),  # null content excluded
            ("e", "author", "d1", None, 3, "text e", "/e"),  # singleton type
        ],
        "id string, node_type string, document_id string, parent_id string,"
        " position int, content string, xpath string",
    )
    pairs = {
        (r["source_node_id"], r["target_node_id"])
        for r in R.same_type_relationships(nodes).collect()
    }
    assert pairs == {("a", "b"), ("b", "a")}


def test_content_similarity(spark):
    nodes = spark.createDataFrame(
        [
            ("a", "t", "d1", None, 0, "the quick brown fox", "/a"),
            ("b", "t", "d1", None, 1, "the quick brown fox", "/b"),  # jaccard 1.0
            ("c", "t", "d1", None, 2, "completely different words here", "/c"),
        ],
        "id string, node_type string, document_id string, parent_id string,"
        " position int, content string, xpath string",
    )
    out = {
        (r["source_node_id"], r["target_node_id"]): r["confidence"]
        for r in R.content_similarity_relationships(nodes).collect()
    }
    assert set(out) == {("a", "b"), ("b", "a")}
    assert out[("a", "b")] == pytest.approx(0.5)  # 1.0 jaccard * 0.5 scale


def test_node_tree_levels(spark, corpus):
    tree = {r["id"]: r["level"] for r in hierarchy.node_tree(spark, corpus.nodes).collect()}
    assert tree["music_catalog"] == 0
    assert tree["mood_fast"] == 0  # parent <moods> has no id -> root
    assert tree["albums"] == 1
    assert tree["album_1"] == 2
    assert tree["artist_1"] == 3
    assert tree["inner_1"] == 2


def test_node_tree_iterative_matches_cte(spark, corpus):
    cte = {(r["id"], r["level"]) for r in hierarchy.node_tree(spark, corpus.nodes).collect()}
    it = {
        (r["id"], r["level"])
        for r in hierarchy.node_tree_iterative(corpus.nodes).collect()
    }
    assert cte == it


def test_ancestors_descendants(spark, corpus):
    xrefs = R.structural_relationships(corpus.nodes)
    anc = {r["ancestor_id"]: r.asDict() for r in hierarchy.ancestors(spark, xrefs, "artist_1").collect()}
    assert set(anc) == {"album_1", "albums", "music_catalog"}
    assert anc["music_catalog"]["depth"] == 3
    assert anc["music_catalog"]["path"] == "music_catalog -> albums -> album_1"

    des = {r["descendant_id"]: r["depth"] for r in hierarchy.descendants(spark, xrefs, "albums").collect()}
    assert des == {"album_1": 1, "album_2": 1, "artist_1": 2, "artist_2": 2}


def test_store_build_decomposition_is_identical_multiset(spark):
    """The store build's two-tier split — small groups' pairs staged
    via detection (max_siblings = the split point), FAT groups' pairs
    generated from O(children) member-list slices inside the final
    write (plans/node_graph._sibling_chunks/_sibling_rows) — must be
    row-for-row identical to the parity (all-adapters,
    both-directions) detection output, including the pos+1 adjacency
    equi-join's next/previous_sibling rows. _SIB_FAT_K is forced low
    so sf0.001 exercises BOTH tiers (nation groups go fat, order
    groups stay staged), and _SIB_ROWS_PER_SLICE is forced low so
    every fat group splits into MULTIPLE chunks — the two-level
    source-chunk × target-chunk expansion must reproduce the exact
    multiset, not just the single-chunk degenerate case."""
    from pyspark.sql import functions as F

    import xml_to_sqlite3_spark.plans.node_graph as NG

    sf = "/root/testdata/sf0.001"
    nodes = NG.build_nodes(spark, sf)
    props = NG.build_properties(spark, sf)
    cols = list(R.XREF_COLS)

    def counted(df):
        # attribute_name is NULL on structural rows; fill before the
        # join-key compare (NULL keys never match in an equi-join)
        return df.na.fill({"attribute_name": "<null>"}).groupBy(*cols).count()

    a = counted(R.detect_all_relationships(nodes, props)).withColumnRenamed(
        "count", "ca"
    )
    old = NG._SIB_FAT_K
    old_r = NG._SIB_ROWS_PER_SLICE
    NG._SIB_FAT_K = 10
    NG._SIB_ROWS_PER_SLICE = 50
    try:
        chunks = NG._sibling_chunks(nodes)
        # the forced budget must actually produce multi-chunk groups
        assert (
            chunks.groupBy("document_id", "parent_id")
            .count()
            .filter(F.col("count") > 1)
            .limit(1)
            .count()
            == 1
        )
        fat = NG._sibling_rows(chunks, chunks)
        # both tiers must be non-trivial at this split point
        assert fat.limit(1).count() == 1
        rebuilt = R.detect_all_relationships(
            nodes, props, max_siblings=NG._SIB_FAT_K
        ).unionByName(
            fat.select(
                "source_node_id",
                "target_node_id",
                F.lit("sibling").alias("reference_type"),
                "attribute_name",
                "confidence",
                "document_id",
            )
        )
        b = counted(rebuilt).withColumnRenamed("count", "cb")
        diff = (
            a.join(b, cols, "full_outer")
            .filter(
                F.col("ca").isNull()
                | F.col("cb").isNull()
                | (F.col("ca") != F.col("cb"))
            )
            .count()
        )
        assert diff == 0
    finally:
        NG._SIB_FAT_K = old
        NG._SIB_ROWS_PER_SLICE = old_r


def test_sibling_slices_chunking_bounds_and_covers(spark):
    """Chunking must cover every member exactly once regardless of
    awkward k / rows-per-slice ratios, and each slice's pair
    expansion must stay within the per-task budget."""
    from pyspark.sql import functions as F

    import xml_to_sqlite3_spark.plans.node_graph as NG

    rows = []
    for g, k in (("p1", 2), ("p2", 3), ("p3", 7), ("p4", 50), ("p5", 1)):
        for i in range(k):
            rows.append((f"{g}_n{i:03d}", "t", "doc", g, i, None, "/x"))
    nodes = spark.createDataFrame(
        rows,
        "id string, node_type string, document_id string, parent_id string,"
        " position int, content string, xpath string",
    )
    old = NG._SIB_ROWS_PER_SLICE
    old_k = NG._SIB_FAT_K
    NG._SIB_ROWS_PER_SLICE = 100  # force multi-chunk groups
    NG._SIB_FAT_K = 1  # every k>=2 group is "fat" for this test
    try:
        got = NG._sibling_chunks(nodes)
        # every member appears in exactly one chunk of its group
        chunk_ids = got.select(F.explode("chunk").alias("m"))
        dup = chunk_ids.groupBy("m").count().filter(F.col("count") != 1).count()
        assert dup == 0
        assert chunk_ids.count() == 2 + 3 + 7 + 50  # k=1 group excluded
        # slice expansion bound: |chunk| * (k-1) <= budget (k=50 ->
        # 2500 pairs > 100 forces chunking)
        over = got.filter(
            F.size("chunk") * (F.col("k") - 1)
            > NG._SIB_ROWS_PER_SLICE + F.col("k")
        ).count()
        assert over == 0
        # pair multiset equals the direct quadratic join
        pairs = NG._sibling_rows(got, got).select(
            "source_node_id", "target_node_id"
        )
        n = pairs.count()
        assert pairs.distinct().count() == n
        expect = sum(k * (k - 1) for k in (2, 3, 7, 50))
        assert n == expect
    finally:
        NG._SIB_ROWS_PER_SLICE = old
        NG._SIB_FAT_K = old_k


def test_analytic_fat_degrees_match_full_aggregation(spark):
    """The store's degree table adds a FAT group's contribution
    analytically (k-1 out + k-1 in per member) instead of scanning
    the written multiset — must equal the degree aggregation of the
    full parity detection output. Forced low split point so sf0.001
    exercises the analytic tier."""
    from pyspark.sql import functions as F

    import xml_to_sqlite3_spark.plans.node_graph as NG

    sf = "/root/testdata/sf0.001"
    nodes = NG.build_nodes(spark, sf)
    props = NG.build_properties(spark, sf)

    def degs(df):
        return (
            df.select(
                F.explode(
                    F.array(
                        F.struct(
                            F.col("source_node_id").alias("id"),
                            F.lit(1).cast("long").alias("o"),
                            F.lit(0).cast("long").alias("i"),
                        ),
                        F.struct(
                            F.col("target_node_id").alias("id"),
                            F.lit(0).cast("long").alias("o"),
                            F.lit(1).cast("long").alias("i"),
                        ),
                    )
                ).alias("e")
            )
            .select("e.*")
            .groupBy("id")
            .agg(F.sum("o").alias("out_cnt"), F.sum("i").alias("in_cnt"))
        )

    want = {r["id"]: (r["out_cnt"], r["in_cnt"])
            for r in degs(R.detect_all_relationships(nodes, props)).collect()}
    old = NG._SIB_FAT_K
    NG._SIB_FAT_K = 10
    try:
        staged = R.detect_all_relationships(nodes, props, max_siblings=10)
        slices = NG._sibling_chunks(nodes)
        # same c*(k-c) construction as the build (handles the
        # duplicate ids the driver tables carry)
        cd = F.col("c") * (F.col("k") - F.col("c"))
        fat = (
            slices.select(
                "document_id",
                "parent_id",
                "k",
                F.explode("chunk").alias("id"),
            )
            .groupBy("document_id", "parent_id", "k", "id")
            .agg(F.count(F.lit(1)).alias("c"))
            .select("id", cd.cast("long").alias("o"), cd.cast("long").alias("i"))
        )
        got = {
            r["id"]: (r["out_cnt"], r["in_cnt"])
            for r in degs(staged)
            .select("id", F.col("out_cnt").alias("o"), F.col("in_cnt").alias("i"))
            .unionByName(fat)
            .groupBy("id")
            .agg(F.sum("o").alias("out_cnt"), F.sum("i").alias("in_cnt"))
            .collect()
        }
        assert got == want
    finally:
        NG._SIB_FAT_K = old


def test_store_targets_formula_matches_multiset_distinct(spark):
    """The store's distinct-targets table is computed from the staged
    tier + fat member chunks WITHOUT scanning the written multiset; a
    fat member is a sibling target iff its multiplicity c < k. Must
    equal DISTINCT target_node_id over the full parity detection
    output — including the all-duplicate-ids group edge case, where
    no pair exists and the id must NOT appear."""
    from pyspark.sql import functions as F

    import xml_to_sqlite3_spark.plans.node_graph as NG

    sf = "/root/testdata/sf0.001"
    nodes = NG.build_nodes(spark, sf)
    props = NG.build_properties(spark, sf)
    want = (
        R.detect_all_relationships(nodes, props)
        .select("target_node_id")
        .distinct()
    )
    old_k, old_r = NG._SIB_FAT_K, NG._SIB_ROWS_PER_SLICE
    NG._SIB_FAT_K, NG._SIB_ROWS_PER_SLICE = 10, 50
    try:
        staged = R.detect_all_relationships(nodes, props, max_siblings=10)
        slices = NG._sibling_chunks(nodes)
        fat_tgt = (
            slices.select(
                "document_id", "parent_id", "k", F.explode("chunk").alias("id")
            )
            .groupBy("document_id", "parent_id", "k", "id")
            .agg(F.count(F.lit(1)).alias("c"))
            .filter(F.col("c") < F.col("k"))
            .select(F.col("id").alias("target_node_id"))
        )
        got = staged.select("target_node_id").unionByName(fat_tgt).distinct()
        assert got.exceptAll(want).count() == 0
        assert want.exceptAll(got).count() == 0
    finally:
        NG._SIB_FAT_K, NG._SIB_ROWS_PER_SLICE = old_k, old_r


def test_store_targets_all_duplicate_group_excluded(spark):
    """A fat group whose members are all ONE id value produces zero
    sibling pairs (the != filter compares values) — its id must not
    enter the targets set from the fat tier."""
    from pyspark.sql import functions as F

    import xml_to_sqlite3_spark.plans.node_graph as NG

    rows = [("dup", "t", "doc", "p", i, None, "/x") for i in range(5)]
    rows += [(f"n{i}", "t", "doc", "q", i, None, "/x") for i in range(4)]
    nodes = spark.createDataFrame(
        rows,
        "id string, node_type string, document_id string, parent_id string,"
        " position int, content string, xpath string",
    )
    old_k = NG._SIB_FAT_K
    NG._SIB_FAT_K = 2
    try:
        slices = NG._sibling_chunks(nodes)
        fat_tgt = (
            slices.select(
                "document_id", "parent_id", "k", F.explode("chunk").alias("id")
            )
            .groupBy("document_id", "parent_id", "k", "id")
            .agg(F.count(F.lit(1)).alias("c"))
            .filter(F.col("c") < F.col("k"))
            .select("id")
        )
        ids = {r["id"] for r in fat_tgt.collect()}
        assert "dup" not in ids
        assert {"n0", "n1", "n2", "n3"} <= ids
    finally:
        NG._SIB_FAT_K = old_k
