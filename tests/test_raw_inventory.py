"""Raw-kind inventory (stakgraph_spark/inventory.py).

The RAW checkpoint observes the set of (rec, kind, lang) triples it holds;
every kind-sliced link input is planned against that set, so a family
whose input kind is absent is an empty relation that Catalyst folds away.
This pins both halves on a small source that carries two gated families'
inputs (an express `app.use("/api", router)` group and a Rails route with
its controller) and lacks every other gated kind:

* the observed inventory equals the triples `extract_batch` emits
  in-process for the same rows;
* the present families still produce their output — the group-renamed
  endpoint, and the admitted Rails endpoint with its Handler edge."""

import pandas as pd
import pytest

TS_APP = """import express from "express";
const app = express();
const router = express.Router();

function listUsers(req, res) {
  res.send("ok");
}

router.get("/users", listUsers);
app.use("/api", router);
"""

RAILS_ROUTES = """Rails.application.routes.draw do
  get "/people", to: "people#index"
end
"""

RAILS_CONTROLLER = """class PeopleController < ApplicationController
  def index
    render json: []
  end
end
"""

ROWS = [
    ("web", "server/app.ts", "c1", "typescript", TS_APP),
    ("shop", "config/routes.rb", "c2", "ruby", RAILS_ROUTES),
    ("shop", "app/controllers/people_controller.rb", "c2", "ruby",
     RAILS_CONTROLLER),
]


def _in_process_inventory() -> set:
    from stakgraph_spark.extract import extract_batch
    from stakgraph_spark.inventory import KIND_COL

    pdf = pd.DataFrame([{"repo": r, "path": p, "lang": l, "content": c}
                        for r, p, _, l, c in ROWS])
    out = set()
    for batch in extract_batch(iter([pdf])):
        for row in batch.to_dict("records"):
            out.add((row["rec"], row[KIND_COL[row["rec"]]], row["lang"]))
    return out


@pytest.fixture(scope="module")
def graph(spark):
    from stakgraph_spark.pipeline import build_graph
    from stakgraph_spark.schema import SOURCE_SCHEMA

    return build_graph(spark, spark.createDataFrame(ROWS, SOURCE_SCHEMA))


def test_inventory_equals_in_process_extraction(graph):
    expected = _in_process_inventory()
    assert graph.inventory == expected
    # the two gated families' inputs are present ...
    assert ("mention", "ep_group_use", "typescript") in expected
    assert ("node", "Endpoint", "ruby") in expected
    # ... and other gated kinds are absent, so their families fold away
    kinds = {k for _, k, _ in expected}
    for absent in ("ep_prefix_handler", "ep_prefix_import", "php_handler",
                   "ng_render", "implements", "struct_field", "Instance",
                   "IntegrationTest", "E2eTest", "Page", "Library"):
        assert absent not in kinds


def test_present_families_keep_their_output(graph):
    nodes = {(r["node_type"], r["name"], r["lang"]): r["node_key"]
             for r in graph.nodes.collect()}
    # express group prefix applied to the router's endpoint
    assert ("Endpoint", "/api/users", "typescript") in nodes
    assert ("Endpoint", "/users", "typescript") not in nodes
    # rails route admitted through its controller action
    ep = nodes[("Endpoint", "/people", "ruby")]
    action = nodes[("Function", "index", "ruby")]
    handlers = {(r["src_key"], r["dst_key"]) for r in
                graph.edges.where("edge_type = 'Handler'").collect()}
    assert (ep, action) in handlers
