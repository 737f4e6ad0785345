"""prune_graph `full=` contract (round-7 optimization).

The final payload materialization may filter a SUPERSET table (the plain
node checkpoint, before the instance-filter / endpoint-drop anti-joins)
by the pruned key set, because `keys` is derived from the filtered view
and therefore already excludes every dropped row.  This pins that the
`full=` path returns exactly the same nodes and edges as the legacy path,
across all three drop mechanisms (orphan prune, DataModel-vs-Class dedup,
dangling-edge removal)."""

from pyspark.sql import functions as F


def _mk_nodes(spark, rows):
    return spark.createDataFrame(
        rows,
        "key_h long, node_key string, node_type string, repo string, "
        "lang string, name string, file string, start long, end long, "
        "meta map<string,string>, body string")


def _mk_edges(spark, rows):
    return spark.createDataFrame(
        rows,
        "src_h long, dst_h long, edge_type string, operand string, "
        "confidence double, strategy string, repo string, lang string")


def test_prune_full_superset_equivalence(spark):
    from stakgraph_spark.prune import prune_graph

    r, l = "repo", "python"
    filtered = [
        # survives: ordinary function with a Calls edge
        (1, "k1", "Function", r, l, "f_keep", "a.py", 1, 5, {}, "b1"),
        # survives: nesting parent
        (2, "k2", "Function", r, l, "f2", "a.py", 10, 30, {}, "b2"),
        # orphan-pruned: nested in f2, no protecting edges
        (3, "k3", "Function", r, l, "f_orphan", "a.py", 12, 14, {}, "b3"),
        # survives: Class with Operand evidence
        (4, "k4", "Class", r, l, "X", "m.py", 1, 9, {}, "b4"),
        # dedup-dropped: DataModel shadowed by the Operand-bearing Class
        (5, "k5", "DataModel", r, l, "X", "m.py", 1, 9, {}, "b5"),
    ]
    # the superset additionally carries a row the pipeline's upstream
    # anti-joins removed (e.g. a java instance-filter hit) — it is absent
    # from the filtered view, hence from slim, hence from keys, and must
    # not resurface through the full= path
    superset = filtered + [
        (6, "k6", "Instance", r, l, "ghost", "m.py", 3, 3, {}, "b6"),
    ]
    edges = [
        (3, 2, "NestedIn", None, None, None, r, l),   # orphan marker
        (4, 1, "Operand", None, None, None, r, l),    # keeper evidence
        (1, 2, "Calls", None, 0.9, "same_file", r, l),
        (2, 3, "Contains", None, None, None, r, l),   # dangles after prune
    ]

    nodes_f = _mk_nodes(spark, filtered)
    nodes_s = _mk_nodes(spark, superset)
    edges_df = _mk_edges(spark, edges)

    legacy_n, legacy_e = prune_graph(nodes_f, edges_df)
    new_n, new_e = prune_graph(nodes_f, edges_df, full=nodes_s)

    legacy_nodes = sorted(map(tuple, legacy_n.collect()))
    new_nodes = sorted(map(tuple, new_n.collect()))
    assert legacy_nodes == new_nodes
    assert sorted(r["node_key"] for r in new_n.collect()) == ["k1", "k2", "k4"]

    legacy_edges = sorted(map(tuple, legacy_e.collect()))
    new_edges = sorted(map(tuple, new_e.collect()))
    assert legacy_edges == new_edges
    kept = {(r["src_key"], r["dst_key"], r["edge_type"])
            for r in new_e.collect()}
    assert kept == {("k4", "k1", "Operand"), ("k1", "k2", "Calls")}


def test_directives_share_one_post_orphan_base(spark):
    """The three clean_graph directives run side by side over one
    post-orphan base and drop their hits with one anti-join (prune_keys).

    One node table holds every directive's case: a python DataModel
    shadowed by an Operand-bearing Class, go and rust Classes without
    children next to ones with children, and a go Class whose only child
    Function is orphan-pruned — the go filter sees the base AFTER the
    orphan prune, so that Class goes too."""
    from stakgraph_spark.prune import prune_graph, prune_keys

    r = "repo"
    nodes = [
        # python: Class with Operand evidence shadows the DataModel
        (1, "py_cls", "Class", r, "python", "X", "m.py", 1, 9, {}, ""),
        (2, "py_dm", "DataModel", r, "python", "X", "m.py", 1, 9, {}, ""),
        (3, "py_fn", "Function", r, "python", "f", "m.py", 20, 25, {}, ""),
        # python: a DataModel with no shadowing Class stays
        (4, "py_dm_alone", "DataModel", r, "python", "Y", "m.py", 30, 35,
         {}, ""),
        # go: a Class without children goes, one with a child stays
        (10, "go_lonely", "Class", r, "go", "Lonely", "a.go", 1, 5, {}, ""),
        (11, "go_kept", "Class", r, "go", "Kept", "a.go", 10, 15, {}, ""),
        (12, "go_kept_m", "Function", r, "go", "m", "a.go", 16, 18,
         {"operand": "Kept"}, ""),
        # go: a Class whose only child is orphan-pruned (nested in `outer`,
        # no calls either way) goes with it
        (13, "go_orph_cls", "Class", r, "go", "Orphaned", "b.go", 1, 5,
         {}, ""),
        (14, "go_outer", "Function", r, "go", "outer", "b.go", 10, 30,
         {}, ""),
        (15, "go_orph_m", "Function", r, "go", "inner", "b.go", 12, 14,
         {"operand": "Orphaned"}, ""),
        # rust: the same filter
        (20, "rs_lonely", "Class", r, "rust", "RLonely", "a.rs", 1, 5,
         {}, ""),
        (21, "rs_kept", "Class", r, "rust", "RKept", "a.rs", 10, 15, {}, ""),
        (22, "rs_kept_m", "Function", r, "rust", "m", "a.rs", 16, 18,
         {"operand": "RKept"}, ""),
    ]
    edges = [
        (1, 3, "Operand", None, None, None, r, "python"),
        (15, 14, "NestedIn", None, None, None, r, "go"),
        (13, 15, "Operand", None, None, None, r, "go"),
    ]
    # checkpointed inputs, as the pipeline hands them over: a local
    # relation would let the optimizer fold the plan under test away
    slim = _mk_nodes(spark, nodes).drop("body").localCheckpoint()
    edges_df = _mk_edges(spark, edges).localCheckpoint()

    keys = prune_keys(slim, edges_df)
    assert {r["node_key"] for r in keys.collect()} == {
        "py_cls", "py_fn", "py_dm_alone", "go_kept", "go_kept_m",
        "go_outer", "rs_kept", "rs_kept_m"}

    n, e = prune_graph(slim, edges_df)
    assert sorted(r["node_key"] for r in n.collect()) == sorted(
        r["node_key"] for r in keys.collect())
    assert {(r["src_key"], r["dst_key"]) for r in e.collect()} == {
        ("py_cls", "py_fn")}

    # each piece is planned once: the chained directives planned the
    # orphan subtree 27 times (5,787 physical operators on the web-app
    # benchmark corpus)
    plan = keys._jdf.queryExecution().optimizedPlan().treeString()
    assert plan.count("\n") < 1000
