"""Degenerate inputs fail loudly or build an empty graph, never crash.

An empty source table — through `build_graph` directly and through a
`PipelineRunner` whose workdir never extracted a partition — gives a graph
with 0 nodes and 0 edges; an invalid STAKGRAPH_SUBUNION_K is rejected by
name before any job runs."""

import shutil
import tempfile

import pytest


def _empty_source(spark):
    from stakgraph_spark.schema import SOURCE_SCHEMA
    return spark.createDataFrame([], SOURCE_SCHEMA)


def test_build_graph_empty_source(spark):
    from stakgraph_spark.pipeline import build_graph

    g = build_graph(spark, _empty_source(spark))
    assert g.nodes.count() == 0
    assert g.edges.count() == 0
    assert g.inventory == frozenset()


def test_runner_empty_source(spark):
    from stakgraph_spark.runner import PipelineRunner

    workdir = tempfile.mkdtemp(prefix="kg_empty_")
    try:
        out = PipelineRunner(spark, workdir).run(_empty_source(spark))
        assert out["extracted_partitions"] == 0
        assert out["link_rebuilt"]
        assert sum(out["node_counts"].values()) == 0
        assert sum(out["edge_counts"].values()) == 0
    finally:
        shutil.rmtree(workdir, ignore_errors=True)


@pytest.mark.parametrize("value", ["0", "-1", "five", "2.5", ""])
def test_subunion_k_rejects_invalid(monkeypatch, value):
    from stakgraph_spark.pipeline import _subunion_k

    monkeypatch.setenv("STAKGRAPH_SUBUNION_K", value)
    with pytest.raises(ValueError, match="STAKGRAPH_SUBUNION_K"):
        _subunion_k()


def test_subunion_k_accepts_positive(monkeypatch):
    from stakgraph_spark.pipeline import _subunion_k

    monkeypatch.delenv("STAKGRAPH_SUBUNION_K", raising=False)
    assert _subunion_k() == 5
    monkeypatch.setenv("STAKGRAPH_SUBUNION_K", "1")
    assert _subunion_k() == 1
