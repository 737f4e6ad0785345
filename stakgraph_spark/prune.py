"""Canonicalization / pruning passes (SURVEY.md §2D).

All anti-joins; key-level semantics mirror btreemap_graph.rs exactly.

Node identity inside this plane is `key_h` — the 8-byte xxhash64 surrogate
of the canonical node key (pipeline.EDGE_COLS_H rationale: the <=5000-char
key strings were the dominant shuffle payload of every prune join at scale).
Edges arrive with hashed endpoints (src_h, dst_h); the canonical STRINGS are
re-attached exactly once, by the final dangling-endpoint joins — which this
plane needs anyway, so the re-attachment costs zero extra shuffles.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from .ckpt import ckpt as _ckpt

_SER = StorageLevel.MEMORY_AND_DISK  # serialized blocks (deser default thrashes GC)

# per-language clean_graph directives (dispatch ast/src/builder/stages.rs:628-640)
#   dedup:   remove <remove_type> when a <keep_type> with same (name,file) has
#            OPERAND edges   (python.rs clean_graph)
#   filter:  remove <parent_type> whose name never appears as any
#            <child_type>'s meta[<key>]   (go.rs clean_graph "operand")
CLEAN_DIRECTIVES: dict[str, list[tuple[str, ...]]] = {
    "python": [("dedup", "DataModel", "Class")],
    "go": [("filter", "Class", "Function", "operand")],
    "rust": [("filter", "Class", "Function", "operand")],
    # react_ts clean_graph mirrors are added with the typescript extractor
}


def dedup_drops(slim: DataFrame, base: DataFrame, edges: DataFrame,
                lang: str, remove_t: str, keep_t: str) -> DataFrame:
    """key_h of each <remove_t> shadowed by a <keep_t> with the same
    (name, file) that has OPERAND edges (btreemap_graph.rs:718-754).  The
    keepers come from `base` (the post-orphan node view) and `edges`; the
    candidates may come from the wider `slim`, since the caller applies
    every drop set to slim together with the orphan set."""
    operand_srcs = (edges.where(F.col("edge_type") == "Operand")
                    .select(F.col("src_h")).distinct())
    keepers = (base.where((F.col("node_type") == keep_t)
                          & (F.col("lang") == lang))
               .join(operand_srcs,
                     base["key_h"] == operand_srcs["src_h"], "leftsemi")
               .select("repo", "lang", "name", "file").distinct())
    return (slim.where((F.col("node_type") == remove_t)
                       & (F.col("lang") == lang))
            .join(keepers, ["repo", "lang", "name", "file"], "leftsemi")
            .select("key_h"))


def filter_drops(slim: DataFrame, base: DataFrame, lang: str,
                 parent_t: str, child_t: str, meta_key: str) -> DataFrame:
    """key_h of each <parent_t> whose name never appears as a <child_t>'s
    meta[<meta_key>] in `base` (btreemap_graph.rs:664-706; name-only
    matching).  A parent whose only child was orphan-pruned goes too."""
    child_names = (base.where((F.col("node_type") == child_t)
                              & (F.col("lang") == lang))
                   .select("repo", "lang",
                           F.element_at("meta", meta_key).alias("name"))
                   .where(F.col("name").isNotNull()).distinct())
    return (slim.where((F.col("node_type") == parent_t)
                       & (F.col("lang") == lang))
            .join(child_names, ["repo", "lang", "name"], "left_anti")
            .select("key_h"))


def prune_orphan_functions(nodes: DataFrame, edges: DataFrame) -> DataFrame:
    """btreemap_graph.rs:756-885:
    A. NestedIn functions (or var-nested) outside tests with no incoming
       HANDLER/CALLS/RENDERS and no outgoing CALLS/HANDLER
    B. functions spatially inside test ranges (unconditional)
    C. var-nested functions in test files (unconditional)
    """
    funcs = nodes.where(F.col("node_type") == "Function") \
                 .select("key_h", "repo", "lang", "file", "start", "end")
    func_keys = funcs.select("key_h")

    nested = edges.where(F.col("edge_type") == "NestedIn")
    # NestedIn src must be a Function
    nested = nested.join(func_keys.withColumnRenamed("key_h", "src_h"),
                         "src_h", "leftsemi")
    nested_in_func = nested.join(
        func_keys.withColumnRenamed("key_h", "dst_h"), "dst_h", "leftsemi") \
        .select("src_h").distinct()
    # var parents: the string plane tested dst_key.startswith('var-'), i.e.
    # dst node_type == Var — expressed on surrogates as a semijoin against
    # the Var nodes' hashes
    var_keys = (nodes.where(F.col("node_type") == "Var")
                .select(F.col("key_h").alias("dst_h")))
    nested_in_var = nested.join(var_keys, "dst_h", "leftsemi") \
        .select("src_h").distinct()
    # A-candidates: nested-in-function minus those whose parent is a var
    a_cand = nested_in_func.join(nested_in_var, "src_h", "left_anti") \
                           .unionByName(nested_in_var).distinct()

    # B: functions inside test spans (same file, start>=ts, end<=te)
    tests = nodes.where(F.col("node_type").isin(
        "UnitTest", "IntegrationTest", "E2eTest")).select(
        "repo", "lang", F.col("file").alias("t_file"),
        F.col("start").alias("ts"), F.col("end").alias("te"))
    in_test = (funcs.join(tests, ["repo", "lang"])
               .where((F.col("file") == F.col("t_file"))
                      & (F.col("start") >= F.col("ts"))
                      & (F.col("end") <= F.col("te")))
               .select(F.col("key_h").alias("src_h")).distinct())

    # C: var-nested functions living in test files
    test_file = (F.col("file").rlike(r"(^|/)tests?(/|$)")
                 | F.col("file").rlike(r"_test\.[a-z]+$")
                 | F.col("file").rlike(r"\.(test|spec)\.[a-z]+$"))
    var_nested_testfile = (nested_in_var
                           .join(funcs.where(test_file)
                                 .select(F.col("key_h").alias("src_h")),
                                 "src_h", "leftsemi"))

    a_cand = a_cand.join(in_test, "src_h", "left_anti") \
                   .join(var_nested_testfile, "src_h", "left_anti")

    has_incoming = (edges.where(F.col("edge_type").isin("Handler", "Calls", "Renders"))
                    .select(F.col("dst_h").alias("src_h")).distinct())
    has_outgoing = (edges.where(F.col("edge_type").isin("Calls", "Handler"))
                    .select("src_h").distinct())
    a_remove = a_cand.join(has_incoming, "src_h", "left_anti") \
                     .join(has_outgoing, "src_h", "left_anti")

    remove = a_remove.unionByName(in_test).unionByName(var_nested_testfile) \
                     .distinct().withColumnRenamed("src_h", "key_h")
    return remove


def prune_keys(slim: DataFrame, edges: DataFrame) -> DataFrame:
    """(key_h, node_key) of every node that survives the prune plane.

    Linear plan: the orphan set and each clean_graph directive's drop set
    are computed side by side, unioned, and removed from `slim` by ONE
    anti-join.  The directives touch disjoint (lang, node_type) slices
    (python DataModel/Class, go and rust Class/Function), so no directive
    can see another's drops and evaluating them in parallel equals the
    reference's sequential dispatch.  Chaining them instead made each
    directive read the previous result three times, which planned the
    orphan subtree 3^3 = 27 times under the final checkpoint.

    The directives' EVIDENCE (Operand-bearing keepers, child Functions)
    comes from the post-orphan `base`, as in the reference, where
    clean_graph runs after the orphan prune."""
    removed = prune_orphan_functions(slim, edges)
    base = slim.join(removed, "key_h", "left_anti")

    # the reference's remove_node drops a node's edges with it — the dedup
    # directive must not count an Operand edge whose dst Function was just
    # orphan-pruned as keeper evidence (orphan-pruned nodes are all
    # Functions, and Operand dsts are Functions, so dst is the only side
    # that can dangle here).  This filtered view feeds ONLY the directives:
    # the final endpoint joins use the raw checkpointed edge table.
    edges_for_directives = edges.join(
        removed.withColumnRenamed("key_h", "dst_h"), "dst_h", "left_anti")

    drops = removed
    for lang, directives in CLEAN_DIRECTIVES.items():
        for d in directives:
            if d[0] == "dedup":
                drops = drops.unionByName(dedup_drops(
                    slim, base, edges_for_directives, lang, d[1], d[2]))
            elif d[0] == "filter":
                drops = drops.unionByName(filter_drops(
                    slim, base, lang, d[1], d[2], d[3]))
    return slim.join(drops, "key_h", "left_anti").select("key_h", "node_key")


def prune_graph(nodes: DataFrame, edges: DataFrame,
                pool=None, slim: DataFrame | None = None,
                full: DataFrame | None = None
                ) -> tuple[DataFrame, DataFrame]:
    """`edges` must arrive deduplicated + materialized with HASHED endpoints
    (the pipeline's union checkpoint applies the BTreeSet semantics of
    btreemap_graph.rs:51-55); this runs in THREE materialization jobs
    (keys, nodes, edges) — round 1 ran six, and the per-job planning/codegen
    fixed cost dominated the link plane's wall clock at bench scale.

    All removal logic runs over a SLIM projection (no bodies) joined on the
    8-byte key_h surrogate.  Edges touching removed nodes are dropped solely
    by the final endpoint joins — a removed node can never be a kept key, so
    separate removed-edge anti-joins are redundant.  Those final joins are
    INNER joins against (key_h, node_key), so they simultaneously drop
    dangling edges AND swap the surrogates back to canonical key strings:
    the returned edge table is the public EDGE_COLS shape, surrogate-free."""
    # slim IS checkpointed: the incoming nodes plan carries the endpoint-drop
    # anti-join over the call cascade, and prune_orphan + the directives read
    # slim ~8 times — uncheckpointed, each read replays the cascade.
    # node_key rides along (strings re-attach to edges from `keys` below).
    # The pipeline normally passes slim in pre-materialized — submitted
    # concurrently with the edge-union checkpoint so it fills that job's
    # straggler tail (it has no edge dependency).
    if slim is None:
        slim = _ckpt(nodes.select("key_h", "node_key", "node_type", "repo",
                                  "lang", "name", "file", "start", "end",
                                  "meta"), "prune_slim")

    keys = _ckpt(prune_keys(slim, edges), "prune_keys")
    # `keys` already encodes EVERY drop (slim was built from the filtered
    # node view, then lost the orphan and directive drop sets), so the two
    # final materializations filter the RAW CHECKPOINTED tables by keys alone —
    # re-running the anti-join subtrees (removed / instance-filter /
    # endpoint-drop) inside these jobs recomputed each of them a second
    # time and deepened the plans Catalyst had to re-optimize (measured:
    # 6.3 s zero-task planning gap entering this pair of jobs).
    payload = full if full is not None else nodes
    nodes = payload.join(keys.select("key_h"), "key_h", "leftsemi")

    # drop edges whose endpoints no longer exist (dangling after prunes) AND
    # re-attach the canonical key strings in the same two joins; Neo4j MERGE
    # enforces the consistency implicitly, the BTreeMap via remove_node.
    # An edge whose endpoint was removed at ANY prune step has that
    # endpoint's key_h absent from `keys`, so these inner joins subsume the
    # anti-joins — raw `edges` in, identical rows out.
    from .pipeline import EDGE_COLS
    edges = (edges
             .join(keys.select(F.col("key_h").alias("src_h"),
                               F.col("node_key").alias("src_key")), "src_h")
             .join(keys.select(F.col("key_h").alias("dst_h"),
                               F.col("node_key").alias("dst_key")), "dst_h")
             .select(*EDGE_COLS))
    if pool is not None:
        # the two final materializations are independent — overlap them
        fn = pool.submit(lambda: _ckpt(nodes, "graph_nodes"))
        fe = pool.submit(lambda: _ckpt(edges, "graph_edges"))
        return fn.result(), fe.result()
    return (_ckpt(nodes, "graph_nodes"), _ckpt(edges, "graph_edges"))
