"""Exclude-list source (test_paper.py:200-220 analog), CSV sink, checkpoint
manager validation."""

import json
import os

import pytest

from citation_graph_spark.sources.checkpoint import CheckpointManager
from citation_graph_spark.sources.exclude_list import read_exclude_list
from citation_graph_spark.sources.sinks import CSV_COLUMNS, visited_list


def test_exclude_list(spark, tmp_path):
    path = tmp_path / "papers.txt"
    path.write_text(
        "# This file is generated for testing only. This line tests a comment\n"
        "doi::test-id-0\n"
        "dblp::test-id-1\n"
        "# This is another comment test\n"
        "arxiv::test-id-2\n"
        "corpusid::test-id-3\n"
        "malformed-line\n"
        "\n"
    )
    parsed, malformed = read_exclude_list(spark, str(path))
    ids = sorted(r["id"] for r in parsed.collect())
    assert ids == [
        "arxiv::test-id-2",
        "corpusid::test-id-3",
        "dblp::test-id-1",
        "doi::test-id-0",
    ]
    assert [r["line"] for r in malformed.collect()] == ["malformed-line"]


def test_exclude_list_allow_bare(spark, tmp_path):
    path = tmp_path / "mixed.txt"
    path.write_text(
        "# urls and canonical ids mixed\n"
        "doi::test-id-0\n"
        "https://crawl.example/page/000042\n"
        "url::https://crawl.example/page/000043\n"
        "dio::123\n"  # typo'd type: must surface as malformed, not a
        # verbatim never-matching exclude entry
    )
    parsed, malformed = read_exclude_list(spark, str(path), allow_bare=True)
    rows = {r["id"]: (r["id_type"], r["raw_id"]) for r in parsed.collect()}
    assert rows == {
        "doi::test-id-0": ("doi", "test-id-0"),
        "https://crawl.example/page/000042": (
            "url",
            "https://crawl.example/page/000042",
        ),
        # the explicit url:: prefix resolves to the bare url (the vertex id)
        "https://crawl.example/page/000043": (
            "url",
            "https://crawl.example/page/000043",
        ),
    }
    assert [r["line"] for r in malformed.collect()] == ["dio::123"]


def test_visited_list_columns(spark):
    visited = spark.createDataFrame(
        [("p1", 0, None), ("p2", 1, "p1")], "id string, depth int, parent string"
    )
    vertices = spark.createDataFrame(
        [
            (
                "p1",
                {"doi": "d1"},
                [("Jane", "Doe")],
                2020,
                "Root paper",
                "http://x",
                5,
                {"s2": 7},
                {"k": "v"},
            )
        ],
        "id string, ids map<string,string>, "
        "authors array<struct<forename:string,lastname:string>>, year int, "
        "title string, url string, citation_count long, "
        "expected_citation_count map<string,int>, meta map<string,string>",
    )
    out = visited_list(visited, vertices)
    assert out.columns == CSV_COLUMNS
    rows = out.collect()
    assert rows[0]["Depth"] == 0
    assert rows[0]["Id"] == "doi::d1"
    assert rows[0]["Authors"] == "Jane Doe"
    assert rows[0]["Received citation count"] == "s2: 7"
    # p2 has no vertex metadata: falls back to raw id, empty strings
    assert rows[1]["Id"] == "p2" and rows[1]["Authors"] == ""


def test_checkpoint_roundtrip_and_validation(spark, tmp_path):
    ck = CheckpointManager(spark, str(tmp_path / "ck"), args={"algorithm": "t"})
    df = spark.createDataFrame([(1, 0.5), (2, 0.5)], "id long, rank double")
    ck.save(df, 0, {"delta": 1.0})
    ck.save(df, 1, {"delta": 0.1})
    assert ck.iterations() == [0, 1]
    it, loaded, manifest = ck.latest()
    assert it == 1 and loaded.count() == 2
    assert manifest["metrics"]["delta"] == 0.1
    assert manifest["rows"] == 2
    assert manifest["args"] == {"algorithm": "t"}

    # corrupt the newest manifest row count → latest() falls back to iter 0
    mpath = os.path.join(str(tmp_path / "ck"), "iter=1", "_manifest.json")
    m = json.loads(open(mpath).read())
    m["rows"] = 99
    open(mpath, "w").write(json.dumps(m))
    it2, _, _ = ck.latest()
    assert it2 == 0

    # spec version mismatch → load raises
    m["file-spec-version"] = 999
    open(mpath, "w").write(json.dumps(m))
    with pytest.raises(ValueError):
        ck.load(1)


def test_checkpoint_per_file_lineage_detects_drift(spark, tmp_path):
    ck = CheckpointManager(spark, str(tmp_path / "ckf"), args={"algorithm": "t"})
    df = spark.createDataFrame([(i, 1.0 / 8) for i in range(8)], "id long, rank double")
    ck.save(df.repartition(4), 0, {})
    mpath = os.path.join(str(tmp_path / "ckf"), "iter=0", "_manifest.json")
    m = json.loads(open(mpath).read())
    files = [p for p in m["files"] if p["rows"] > 0]
    assert sum(p["rows"] for p in m["files"]) == 8
    # delete one data file but patch the TOTAL to still add up — only the
    # per-file lineage can catch this
    victim = files[0]
    os.remove(os.path.join(str(tmp_path / "ckf"), "iter=0", victim["file"]))
    m["rows"] = 8 - victim["rows"]
    open(mpath, "w").write(json.dumps(m))
    with pytest.raises(ValueError, match="per-file rows"):
        ck.load(0)


def test_checkpoint_migrates_v1_manifest(spark, tmp_path):
    """A spec-1 manifest (per-partition lineage) loads via the migration
    shim: lineage is dropped, total rows still validate, and the upgraded
    manifest is persisted — mirror of reference cache_manager.py:37-69."""
    from citation_graph_spark.sources.checkpoint import SPEC_VERSION

    ck = CheckpointManager(spark, str(tmp_path / "ckm"), args={"algorithm": "t"})
    df = spark.createDataFrame([(1, 0.5), (2, 0.5)], "id long, rank double")
    ck.save(df, 0, {"delta": 0.2})
    mpath = os.path.join(str(tmp_path / "ckm"), "iter=0", "_manifest.json")
    m = json.loads(open(mpath).read())
    # rewrite as a v1 manifest
    m["file-spec-version"] = 1
    m["partitions"] = [{"partition": 0, "rows": 2}]
    del m["files"]
    open(mpath, "w").write(json.dumps(m))

    loaded, manifest = ck.load(0)
    assert loaded.count() == 2
    assert manifest["file-spec-version"] == SPEC_VERSION
    assert manifest["files"] is None and "partitions" not in manifest
    # migration persisted: next read sees spec 2 directly
    on_disk = json.loads(open(mpath).read())
    assert on_disk["file-spec-version"] == SPEC_VERSION
    # resume still works through latest()
    it, _, mf = ck.latest()
    assert it == 0 and mf["metrics"]["delta"] == 0.2


def test_checkpoint_truncated_part_file_falls_back(spark, tmp_path):
    """A part file cut short (a torn copy, a full disk) fails the newest
    iteration's footer check, so resume falls back to the previous one
    instead of dying in the state read."""
    ck = CheckpointManager(spark, str(tmp_path / "ckt"), args={"algorithm": "t"})
    df = spark.createDataFrame([(i, 1.0 / 8) for i in range(8)], "id long, rank double")
    ck.save(df.repartition(2), 0, {})
    ck.save(df.repartition(2), 1, {})
    it1 = os.path.join(str(tmp_path / "ckt"), "iter=1")
    victim = os.path.join(it1, sorted(f for f in os.listdir(it1) if f.startswith("part-"))[0])
    with open(victim, "r+b") as fh:
        fh.truncate(os.path.getsize(victim) // 2)
    it, _, _ = ck.latest()
    assert it == 0


@pytest.mark.parametrize("n_rows", [0, 50])
def test_checkpoint_manifest_matches_grouped_reread(spark, tmp_path, n_rows):
    """The footer lineage and the schema in a manifest equal what a grouped
    count over ``input_file_name`` on a re-read of the saved dir gives: 0-row
    files are not listed, and every field is nullable as a re-read reports
    it, so manifests written either way validate the same."""
    from pyspark.sql import functions as F

    ck = CheckpointManager(spark, str(tmp_path / "ckg"), args={"algorithm": "t"})
    df = spark.range(n_rows).select(
        "id", F.array("id").alias("ids"), F.struct(F.lit(1.0).alias("w")).alias("s")
    )
    ck.save(df.repartition(4), 0, {})
    target = os.path.join(str(tmp_path / "ckg"), "iter=0")
    m = json.loads(open(os.path.join(target, "_manifest.json")).read())
    reloaded = spark.read.parquet(target)
    grouped = sorted(
        (
            {"file": os.path.basename(r["f"]), "rows": r["rows"]}
            for r in reloaded.groupBy(F.input_file_name().alias("f")).count()
            .withColumnRenamed("count", "rows").collect()
        ),
        key=lambda p: p["file"],
    )
    assert m["files"] == grouped
    assert m["rows"] == n_rows == sum(p["rows"] for p in grouped)
    assert m["schema"] == reloaded.schema.jsonValue()
    if n_rows == 0:
        assert m["files"] == []


def test_render_html_graph_with_stub(spark, tmp_path, monkeypatch):
    """Full pyvis render path driven through a stub module: every node gets
    the engine-computed attrs, dangling-endpoint edges are filtered, and
    the html file is written."""
    import sys
    import types

    calls = {"nodes": [], "edges": [], "saved": []}

    class FakeNetwork:
        def __init__(self, height=None, width=None, directed=False):
            calls["init"] = (height, width, directed)

        def add_node(self, nid, **kw):
            calls["nodes"].append((nid, kw))

        def add_edge(self, a, b):
            calls["edges"].append((a, b))

        def save_graph(self, path):
            calls["saved"].append(path)
            with open(path, "w") as fh:
                fh.write("<html></html>")

    mod = types.ModuleType("pyvis")
    sub = types.ModuleType("pyvis.network")
    sub.Network = FakeNetwork
    mod.network = sub
    monkeypatch.setitem(sys.modules, "pyvis", mod)
    monkeypatch.setitem(sys.modules, "pyvis.network", sub)

    from citation_graph_spark.sources.sinks import export_graph_attrs, render_html_graph

    verts = spark.createDataFrame(
        [("a", [("John", "Smith")], 5, 2001, "T1"), ("b", None, 1, 2005, "T2")],
        "id string, authors array<struct<forename:string,lastname:string>>, "
        "citation_count int, year int, title string",
    )
    edges = spark.createDataFrame([("a", "b"), ("a", "zz")], "src string, dst string")
    out = tmp_path / "g.html"
    assert render_html_graph(export_graph_attrs(verts), edges, str(out)) is True
    got = {nid: kw for nid, kw in calls["nodes"]}
    assert set(got) == {"a", "b"}
    assert set(got["a"]) == {"label", "size", "color", "title"}
    assert got["a"]["color"].startswith("#")
    assert calls["edges"] == [("a", "b")]  # "zz" has no node row
    assert out.exists()


def test_render_html_graph_without_pyvis(spark, tmp_path, monkeypatch):
    import sys

    monkeypatch.setitem(sys.modules, "pyvis", None)  # forces ImportError
    from citation_graph_spark.sources.sinks import export_graph_attrs, render_html_graph

    verts = spark.createDataFrame(
        [("a", [("X", "Y")], 1, 2000, "T")],
        "id string, authors array<struct<forename:string,lastname:string>>, "
        "citation_count int, year int, title string",
    )
    edges = spark.createDataFrame([("a", "a")], "src string, dst string")
    out = tmp_path / "none.html"
    assert render_html_graph(export_graph_attrs(verts), edges, str(out)) is False
    assert not out.exists()
