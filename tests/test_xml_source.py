"""XML ingestion parity tests.

Semantics under test mirror the reference's minitest suite
(test/test_basic_functionality.rb, test_edge_cases.rb) but run on
our own fixtures.
"""

from __future__ import annotations

import os
import sqlite3

import pytest

from xml_to_sqlite3_spark.sources import read_xml_corpus
from xml_to_sqlite3_spark.sinks import write_corpus_parquet, write_corpus_sqlite

FIXTURES = os.path.join(os.path.dirname(os.path.abspath(__file__)), "fixtures")


@pytest.fixture(scope="module")
def corpus(spark):
    c = read_xml_corpus(spark, FIXTURES)
    yield c


@pytest.fixture(scope="module")
def nodes_by_id(corpus):
    return {r["id"]: r.asDict() for r in corpus.nodes.collect()}


@pytest.fixture(scope="module")
def props(corpus):
    out = {}
    for r in corpus.properties.collect():
        out[(r["node_id"], r["property_name"])] = (r["property_value"], r["data_type"])
    return out


def test_documents(corpus):
    docs = {r["id"]: r.asDict() for r in corpus.documents.collect()}
    assert set(docs) == {"catalog", "tiny", "broken"}
    assert docs["tiny"]["filename"].endswith("tiny.xml")
    assert docs["tiny"]["file_size"] > 0


def test_only_id_elements_extracted(corpus, nodes_by_id):
    # tiny.xml has 5 id-bearing elements; <loose>, <words>, <data> have none
    tiny_nodes = [n for n in nodes_by_id.values() if n["document_id"] == "tiny"]
    assert {n["id"] for n in tiny_nodes} == {"top_node", "item_a", "item_b", "inner_1"}


def test_node_fields(nodes_by_id):
    item_b = nodes_by_id["item_b"]
    assert item_b["node_type"] == "item"
    assert item_b["parent_id"] == "top_node"
    assert item_b["document_id"] == "tiny"
    # position counts ALL element siblings: item_a=0, item_b=1, loose=2
    assert item_b["position"] == 1
    # content concatenates descendant text, stripped (nokogiri .text)
    assert "gamma delta" in item_b["content"] and "epsilon" in item_b["content"]

    inner = nodes_by_id["inner_1"]
    assert inner["parent_id"] == "item_b"
    assert inner["position"] == 1  # words=0, inner=1

    root = nodes_by_id["top_node"]
    assert root["parent_id"] is None
    assert root["position"] == 0


def test_xpath_nokogiri_flavor(nodes_by_id):
    # multiple same-named siblings get 1-based indexes
    assert nodes_by_id["item_a"]["xpath"] == "/top/item[1]"
    assert nodes_by_id["item_b"]["xpath"] == "/top/item[2]"
    # unique names get no index
    assert nodes_by_id["inner_1"]["xpath"] == "/top/item[2]/inner"
    assert nodes_by_id["top_node"]["xpath"] == "/top"
    assert nodes_by_id["album_1"]["xpath"] == "/catalog/albums/album[1]"


def test_parent_without_id_is_null(nodes_by_id):
    # mood_fast's parent <moods> has no id attribute
    assert nodes_by_id["mood_fast"]["parent_id"] is None
    # but its position still counts among <moods>'s element children
    assert nodes_by_id["mood_fast"]["position"] == 0


def test_properties_exclude_id(props, corpus):
    names = {k[1] for k in props}
    assert "id" not in names


def test_type_inference(props):
    assert props[("item_a", "qty")] == ("7", "integer")
    assert props[("inner_1", "level")] == ("2.5", "float")
    assert props[("item_b", "live")] == ("TRUE", "boolean")
    assert props[("rating_1", "verified")] == ("true", "boolean")
    assert props[("album_1", "released")] == ("2001-07-19", "datetime")
    assert props[("item_a", "kind")] == ("plain", "string")
    assert props[("album_1", "sku")] == ("NSR-0001", "string")


def test_infer_type_matches_regex_spec(spark):
    """The translate/substring fast path must be byte-identical to the
    literal regex transcription of document_parser.rb:62-77."""
    from pyspark.sql import functions as F

    from xml_to_sqlite3_spark.functions.type_inference import (
        infer_type,
        infer_type_regex,
    )

    cases = [
        None, "", " ", "0", "007", "123", "12a3", "a123", "1.5", "1.", ".5",
        "1.2.3", "0.0", "123.", "१२३", "true", "False", "TRUE", "truex",
        "xtrue", "2001-07-19", "2001-07-19T10:00", "2001-7-19", "12:34:56",
        "12:34", "12:34:5x", "1234-56-78garbage", "9999-99-99", "customer_1",
        "NSR-0001", "-5", "+5", "5e3", "  7", "7  ", "t", "f",
        # case mappings outside ASCII: KELVIN SIGN, dotted/dotless i,
        # full-width, Cyrillic e, long s
        "\u212aRUE", "TRU\u0130", "\u0131d", "\uff54\uff52\uff55\uff45",
        "tru\u0435", "\u017false",
    ]
    df = spark.createDataFrame([(c,) for c in cases], "v string")
    rows = df.select(
        "v",
        infer_type(F.col("v")).alias("fast"),
        infer_type_regex(F.col("v")).alias("spec"),
    ).collect()
    for r in rows:
        assert r["fast"] == r["spec"], f"{r['v']!r}: {r['fast']} != {r['spec']}"


def test_malformed_xml_skipped_with_error(corpus, nodes_by_id):
    errs = {r["document_id"]: r["parse_error"] for r in corpus.errors.collect()}
    assert "broken" in errs and "parse error" in errs["broken"]
    assert not any(n["document_id"] == "broken" for n in nodes_by_id.values())


def test_catalog_counts(corpus):
    by_type = dict(
        corpus.nodes.filter("document_id = 'catalog'")
        .groupBy("node_type")
        .count()
        .collect()
    )
    assert by_type["album"] == 2
    assert by_type["rating"] == 3
    assert by_type["genre"] == 2
    assert by_type["subgenre"] == 3
    assert by_type["artist"] == 2


def test_sqlite_sink_roundtrip(tmp_path, corpus):
    db_path = str(tmp_path / "out.sqlite3")
    counts = write_corpus_sqlite(corpus, db_path)
    con = sqlite3.connect(db_path)
    # schema parity: reference's tables + migration versioning
    tables = {
        r[0]
        for r in con.execute(
            "SELECT name FROM sqlite_master WHERE type='table'"
        ).fetchall()
    }
    assert {
        "schema_migrations",
        "documents",
        "nodes",
        "node_properties",
        "cross_references",
    } <= tables
    assert con.execute("SELECT max(version) FROM schema_migrations").fetchone()[0] == 2
    n_nodes = con.execute("SELECT count(*) FROM nodes").fetchone()[0]
    assert n_nodes == counts["nodes"] == corpus.nodes.count()
    # the reference README query works verbatim on our output
    albums = con.execute("SELECT * FROM nodes WHERE node_type = 'album'").fetchall()
    assert len(albums) == 2
    con.close()


def test_sqlite_sink_job_count(tmp_path, spark, corpus):
    """The sink streams each table through toLocalIterator, one Spark
    job per partition it pulls. Documents, nodes and properties end in
    a shuffle (2 jobs each); the cross-references are rebalanced, so
    their jobs stay constant instead of growing with 6 x (parse
    partitions) — the detection plan's union width."""
    from pyspark.sql import functions as F

    from xml_to_sqlite3_spark.operators.relationships import detect_all_relationships

    xrefs = detect_all_relationships(corpus.nodes, corpus.properties).withColumn(
        "source_file", F.col("document_id")
    )
    sc = spark.sparkContext
    group = "test_sqlite_sink_job_count"
    sc.setJobGroup(group, group)
    try:
        counts = write_corpus_sqlite(
            corpus, str(tmp_path / "out.sqlite3"), cross_references=xrefs
        )
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    assert counts["cross_references"] > 0
    assert len(jobs) <= 12, f"{len(jobs)} sink jobs"


def test_sqlite_sink_rewrite_without_xrefs(tmp_path, corpus):
    """Re-writing documents whose detection now finds no
    cross-references must still drop their old rows, and a write with
    no cross-reference rows must still VACUUM."""
    from pyspark.sql import functions as F

    from xml_to_sqlite3_spark.operators.relationships import detect_all_relationships

    xrefs = detect_all_relationships(corpus.nodes, corpus.properties).withColumn(
        "source_file", F.col("document_id")
    )
    db_path = str(tmp_path / "out.sqlite3")
    write_corpus_sqlite(corpus, db_path, cross_references=xrefs, optimize=False)
    counts = write_corpus_sqlite(corpus, db_path, cross_references=xrefs.limit(0))
    assert counts["cross_references"] == 0
    con = sqlite3.connect(db_path)
    assert con.execute("SELECT count(*) FROM cross_references").fetchone()[0] == 0
    con.close()


def test_conversion_plans_skip_case_mapping(corpus):
    """lower()/upper() start ICU's case mapping in the JVM, about a
    second on a cold conversion; the conversion path folds ASCII with
    translate() instead."""
    from xml_to_sqlite3_spark.operators.relationships import detect_all_relationships

    for df in (
        corpus.properties,
        detect_all_relationships(corpus.nodes, corpus.properties),
    ):
        plan = df._jdf.queryExecution().optimizedPlan().toString()
        assert "lower(" not in plan and "upper(" not in plan, plan


def test_parquet_sink(tmp_path, spark, corpus):
    out = str(tmp_path / "pq")
    write_corpus_parquet(corpus, out)
    nodes = spark.read.parquet(os.path.join(out, "nodes"))
    assert nodes.count() == corpus.nodes.count()
    props = spark.read.parquet(os.path.join(out, "node_properties"))
    assert props.count() == corpus.properties.count()
