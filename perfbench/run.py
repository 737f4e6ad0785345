"""Code-graph benchmark at local[4].

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> \\
        --trace <0|1>

Run from the root of a checkout.  One driver process, one closed-loop
client, Spark at local[4].  Inputs are generated from the seed and staged
as parquet under `.perfbench_cache/` in the checkout; the program sees only
the staged tables.  No STAKGRAPH_* variable is set; any that is present is
recorded in the `info` line.

Workloads
  build_webapps  full `pipeline.build_graph` builds over synthetic web-app
                 monorepos (Python Flask/FastAPI + requests + pytest, React
                 fetch, Go net/http) with planted ground truth.
  catalog        the 17 catalog queries of bench.py's headline list over
                 seeded sf0.1-shaped tables, each checked against its DuckDB
                 oracle.

With --trace 0 the timed operations run with tracing off and the end-to-end
metrics are printed.  With --trace 1 one traced pass runs instead (Spark
event log on, extraction probe, runner edit + read batch on build_webapps)
and the per-layer metrics are printed.  The last stdout line is one JSON
object {"correct", "attempted", "failed", "metrics"}; every metric is also
printed by name with its unit on the lines before it.  Any failed output
check makes the command exit 1.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
from dataclasses import dataclass

ROOT = os.getcwd()
CACHE = os.path.join(ROOT, ".perfbench_cache")
CORES = 4
DRIVER_MEM = "4g"
SETUP_REPS = 3

WEBAPP = {"repos": 12, "resources": 5, "helpers": 3}
RUNNER_REPOS = 4
# the runner part of the traced pass costs about two builds (measured: 1.95
# traced-build times).  It is skipped when the elapsed time plus
# RUNNER_COST_OPS traced-build times would pass RUNNER_BUDGET_S, so that a
# slow pass still ends inside the 180 s a run may take.
RUNNER_COST_OPS, RUNNER_BUDGET_S = 2.2, 170
LIBRARY = {"files": 30, "median_kb": 2.0, "max_kb": 32}
CATALOG_SF = 0.05
# bench.py's headline catalog list (kept in step with it by name)
CATALOG_QUERIES = ["doc_stats", "dedup_exact", "minhash_pairs", "simhash",
                   "quality_score", "ann_best_neighbor", "ann_lsh_best",
                   "ann_ivf_best", "ann_docs_embed", "ngram_jaccard",
                   "doc_fulltext", "link_cascade_resolve", "link_path_match",
                   "link_library_uses", "pricing_summary",
                   "top_nation_revenue", "event_sessions"]

END_TO_END = {"setup_s": "s", "op_s": "s", "cpu_s": "s", "peak_rss_mb": "MB"}

PROBE_LANGS = ["python", "go", "react"]
PLANES = ["file", "extract", "nodes", "link", "edges", "prune", "materialize"]
# GraphResult.metrics stage marks that close each plane's window
PLANE_END = {"file": "file_plane", "extract": "raw_extracted",
             "nodes": "nodes_assembled", "link": "linking_declared",
             "edges": "edges_linked", "prune": "pruned"}
MENTION_KINDS = ["call", "import", "import_edge", "ident_set", "dm_set",
                 "handler"]
STRATEGIES = ["type_resolved", "same_file", "import", "same_dir", "operand",
              "nested_var", "global_unique", "member_expr"]
EDGE_TYPES = ["Calls", "Contains", "Handler", "Imports", "Operand", "Uses",
              "ParentOf", "Of"]
SPARK_KEYS = ["jobs", "stages", "tasks", "idle_s", "task_cpu_s",
              "deserialize_s", "gc_s", "shuffle_write_mb", "spill_mb"]
QUERY_OPS = ["search_nodes", "fulltext", "k_hop", "coverage", "handlers"]


def _per_layer_units() -> dict:
    u: dict = {}
    for lang in PROBE_LANGS:
        u[f"extract.us_per_kb.{lang}"] = "us/KB"
        u[f"extract.tail_share.{lang}"] = "ratio"
        u[f"extract.parse_errors.{lang}"] = "ratio"
    u.update({"extract.batch_overhead_share": "ratio",
              "extract.fat_ratio": "ratio", "extract.spark_s": "s",
              "extract.parallel_eff": "ratio"})
    for k in MENTION_KINDS:
        u[f"extract.mentions.{k}"] = "count"
    for p in PLANES:
        u[f"plane.{p}_s"] = "s"
    for p in PLANES:
        u[f"plane.{p}.idle_s"] = "s"
        u[f"plane.{p}.task_cpu_s"] = "s"
        u[f"plane.{p}.shuffle_write_mb"] = "MB"
    for k in SPARK_KEYS:
        u[f"spark.{k}"] = ("count" if k in ("jobs", "stages", "tasks")
                           else "MB" if k.endswith("_mb") else "s")
    u.update({"link.call_mentions": "count", "link.calls_edges": "count"})
    for s in STRATEGIES:
        u[f"link.calls_strategy.{s}"] = "count"
    u.update({"link.calls_resolved_ratio": "ratio",
              "link.truth_recall": "ratio",
              "graph.nodes": "count", "graph.edges": "count"})
    for t in EDGE_TYPES:
        u[f"graph.edges.{t}"] = "count"
    u["graph.digest_variants"] = "count"
    u.update({"runner.extract_s": "s", "runner.link_materialize_s": "s",
              "runner.fulltext_s": "s", "runner.partitions_extracted": "count",
              "runner.update_s": "s", "runner.update.idle_s": "s",
              "runner.update.jobs": "count"})
    for q in QUERY_OPS:
        u[f"query.{q}_s"] = "s"
    u["query.batch_s"] = "s"
    for q in CATALOG_QUERIES:
        u[f"catalog.{q}_s"] = "s"
    u.update({"build.files_per_s": "files/s", "trace.op_s": "s"})
    return u


PER_LAYER = _per_layer_units()


class CheckFailed(Exception):
    pass


@dataclass
class Build:
    """The last timed build of a run and what it was built from."""
    graph: object        # pipeline.GraphResult
    counts: dict         # measure.graph_counts of the graph
    source: object       # the staged source DataFrame
    rows: list
    truth: dict


class Run:
    """State of one benchmark invocation."""

    def __init__(self, args):
        self.args = args
        self.seed = args.seed
        self.trace = bool(args.trace)
        self.info: dict = {"workload": args.workload, "seed": args.seed,
                           "cores": CORES,
                           "env": {k: v for k, v in os.environ.items()
                                   if k.startswith("STAKGRAPH_")}}
        self.layer: dict = {}
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.loop_errors = 0
        self.work = os.path.join(CACHE, f"run-{os.getpid()}")
        self.spark = None
        self.evdir = os.path.join(self.work, "evlog")
        self.ops: list = []
        self.t_ops = 0.0
        self.build = None
        self.t_start = time.perf_counter()

    def phase(self, name: str):
        """Record the wall time since the previous phase mark."""
        now = time.perf_counter()
        self.info.setdefault("phases_s", {})[name] = round(
            now - getattr(self, "_mark", now), 2)
        self._mark = now

    # ---------------- checks ----------------
    def check(self, ok: bool, what: str) -> bool:
        if not ok:
            self.errors.append(what)
            print(f"CHECK FAILED: {what}", file=sys.stderr)
        return ok

    # ---------------- session ----------------
    def start_spark(self):
        from pyspark.sql import SparkSession

        tmp = os.path.join(self.work, "tmp")
        os.makedirs(tmp, exist_ok=True)
        os.environ["TMPDIR"] = tmp
        os.environ["PYTHONPATH"] = os.pathsep.join(
            [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(
                os.pathsep) if p])
        b = (SparkSession.builder.master(f"local[{CORES}]")
             .appName("perfbench")
             .config("spark.driver.memory", DRIVER_MEM)
             # a fixed-size heap: peak RSS then does not depend on when
             # the collector decides to grow the heap
             .config("spark.driver.extraJavaOptions",
                     f"-Xms{DRIVER_MEM} -Djava.io.tmpdir={tmp}")
             .config("spark.local.dir", os.path.join(self.work, "local"))
             .config("spark.sql.warehouse.dir",
                     os.path.join(self.work, "warehouse"))
             .config("spark.sql.shuffle.partitions", str(CORES))
             .config("spark.sql.adaptive.enabled", "true")
             .config("spark.sql.adaptive.coalescePartitions."
                     "parallelismFirst", "true")
             .config("spark.sql.adaptive.coalescePartitions."
                     "minPartitionSize", "1m")
             .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "2m")
             .config("spark.rdd.compress", "true")
             .config("spark.sql.autoBroadcastJoinThreshold", "10m")
             .config("spark.sql.constraintPropagation.enabled", "false")
             .config("spark.ui.enabled", "false")
             .config("spark.ui.showConsoleProgress", "false"))
        if self.trace:
            os.makedirs(self.evdir, exist_ok=True)
            b = (b.config("spark.eventLog.enabled", "true")
                 .config("spark.eventLog.dir", "file://" + self.evdir)
                 .config("spark.eventLog.compress", "false")
                 .config("spark.eventLog.rolling.enabled", "true"))
        self.spark = b.getOrCreate()
        self.spark.sparkContext.setLogLevel("OFF")
        return self.spark

    def stop(self):
        if self.spark is None:
            return
        sc = self.spark.sparkContext
        gw = sc._gateway
        proc = getattr(gw, "proc", None)
        self.spark.stop()
        gw.shutdown()
        if proc is not None:
            try:
                proc.stdin.close()
                proc.wait(timeout=60)
            except Exception:  # noqa: BLE001 — make sure the JVM is gone
                proc.kill()
                proc.wait(timeout=30)
        self.spark = None

    def timeline(self):
        from evlog import Timeline, read_events
        return Timeline(read_events(self.evdir))

    # ---------------- op loop ----------------
    def loop(self, op) -> list[tuple[float, float]]:
        """Closed loop: run `op` until --seconds have passed (at least
        once).  -> [(wall_s, cpu_s)] of the operations that passed."""
        from measure import tree_cpu_s

        out = []
        deadline = time.perf_counter() + self.args.seconds
        while True:
            self.attempted += 1
            n_err = len(self.errors)
            c0, t0 = tree_cpu_s(), time.perf_counter()
            try:
                op()
            except CheckFailed as e:
                self.check(False, str(e))
            except Exception as e:  # noqa: BLE001 — an op that raised
                self.check(False, f"operation raised {type(e).__name__}: "
                           f"{str(e)[:300]}")
            wall, cpu = time.perf_counter() - t0, tree_cpu_s() - c0
            if len(self.errors) > n_err:
                self.failed += 1
            else:
                out.append((wall, cpu))
            if time.perf_counter() >= deadline:
                self.loop_errors = len(self.errors)
                return out


# --------------------------------------------------------------------------
# build_webapps
# --------------------------------------------------------------------------

def _stage_webapps(run: Run, rep: int):
    import corpus

    rows, truth = corpus.webapp_corpus(run.seed, **WEBAPP)
    digest = corpus.rows_digest(rows)
    key = corpus.stage_key("webapps", run.seed, WEBAPP, digest)
    path = corpus.stage_source(rows, run.work, f"{key}-rep{rep}")
    return rows, truth, digest, path


def _truth_recall(nodes, edges, truth) -> float:
    """Share of the generator's planted links found in the graph: calls and
    test calls (Calls edges by caller and callee name), handlers (Handler
    edges by route and function name) and request -> endpoint links."""
    from pyspark.sql import functions as F

    n = nodes.select("node_key", "node_type", "name", "repo")
    rows = (edges.where(F.col("edge_type").isin("Calls", "Handler"))
            .select("src_key", "dst_key", "edge_type")
            .join(n.select(F.col("node_key").alias("src_key"),
                           F.col("node_type").alias("st"),
                           F.col("name").alias("sn"), "repo"), "src_key")
            .join(n.select(F.col("node_key").alias("dst_key"),
                           F.col("node_type").alias("dt"),
                           F.col("name").alias("dn")), "dst_key")
            .collect())
    calls = {(r["repo"], r["sn"], r["dn"]) for r in rows
             if r["edge_type"] == "Calls"}
    handlers = {(r["repo"], r["sn"], r["dn"]) for r in rows
                if r["edge_type"] == "Handler"}
    requests = {(r["repo"], r["sn"]) for r in rows
                if r["edge_type"] == "Calls" and r["st"] == "Request"
                and r["dt"] == "Endpoint"}
    hits = [t in calls for t in truth["calls"] + truth["tests"]]
    hits += [t in handlers for t in truth["handlers"]]
    hits += [any(r == repo and name.endswith(base) for r, name in requests)
             for repo, _verb, base in truth["requests"]]
    return sum(hits) / max(len(hits), 1)


def _load_pins() -> dict:
    p = os.path.join(os.path.dirname(os.path.abspath(__file__)), "pins.json")
    with open(p) as f:
        return json.load(f)


def build_webapps(run: Run):
    import corpus
    from measure import file_hash_mismatches, graph_counts

    t0 = time.perf_counter()
    spark = run.start_spark()
    session_s = time.perf_counter() - t0
    stage_times, staged = [], None
    for rep in range(SETUP_REPS):
        t = time.perf_counter()
        staged = _stage_webapps(run, rep)
        stage_times.append(time.perf_counter() - t)
    rows, truth, digest, path = staged
    run.setup_s = session_s + statistics.median(stage_times)
    run.info.update({"corpus_digest": digest,
                     "corpus_langs": corpus.lang_stats(rows),
                     "files": len(rows)})

    from stakgraph_spark.pipeline import build_graph
    src = spark.read.parquet(path)
    results: list = []

    def op():
        g = build_graph(spark, src)
        results.append((g, graph_counts(g.nodes, g.edges)))

    run.phase("setup")
    run.t_ops = time.time()
    run.ops = run.loop(op)
    run.phase("ops")
    if not results:
        return
    g, gc = results[-1]
    run.build = Build(g, gc, src, rows, truth)
    # ---- output checks (untimed) ----
    for _, other in results[:-1]:
        run.check(other["key_digest"] == gc["key_digest"],
                  "key digest differs between builds in one run")
    run.check(sum(gc["nodes"].values()) > len(rows),
              f"graph has {sum(gc['nodes'].values())} nodes for "
              f"{len(rows)} files")
    # node keys carry the path, not the repo: one File node per path
    n_paths = len({r["path"] for r in rows})
    run.check(gc["nodes"].get("File") == n_paths,
              f"File nodes {gc['nodes'].get('File')} != paths {n_paths}")
    if not run.trace:  # checked on every untraced run
        run.check(file_hash_mismatches(g.nodes, src) == 0,
                  "File node hash != sha256(content)")
    pins = _load_pins()["build_webapps"]
    recall = _truth_recall(g.nodes, g.edges, truth)
    run.layer["link.truth_recall"] = recall
    run.check(recall >= pins["truth_recall_min"],
              f"truth recall {recall:.4f} < {pins['truth_recall_min']}")
    pin = pins["seeds"].get(str(run.seed))
    if pin is not None:
        run.check(pin["key_digest"] == gc["key_digest"]
                  and pin["nodes"] == gc["nodes"]
                  and pin["edges"] == gc["edges"],
                  f"graph differs from the pinned seed {run.seed}: "
                  f"{gc} vs {pin}")
    run.info["graph"] = gc
    run.phase("checks")


# --------------------------------------------------------------------------
# catalog
# --------------------------------------------------------------------------

def catalog(run: Run):
    import subprocess

    import corpus
    import oracle as oracle_mod

    from stakgraph_spark.textops.catalog import CATALOG

    stage_times = []
    for rep in range(SETUP_REPS):
        t = time.perf_counter()
        tables = corpus.catalog_tables(run.seed, CATALOG_SF)
        digest = corpus.tables_digest(tables)
        key = corpus.stage_key("catalog", run.seed, {"sf": CATALOG_SF},
                               digest)
        sf_dir = corpus.stage_tables(tables, run.work, f"{key}-rep{rep}")
        stage_times.append(time.perf_counter() - t)
    run.info.update({"corpus_digest": digest,
                     "rows": {k: v.num_rows for k, v in tables.items()}})
    del tables

    # the DuckDB oracle runs in a child process while the JVM starts
    t = time.perf_counter()
    proc = subprocess.Popen(
        [sys.executable, oracle_mod.__file__, sf_dir,
         os.path.join(run.work, "duckdb"), str(CORES), *CATALOG_QUERIES],
        cwd=ROOT, stdout=subprocess.PIPE)
    try:
        spark = run.start_spark()
        out, _ = proc.communicate(timeout=170)
    finally:
        if proc.poll() is None:
            proc.kill()
        proc.wait()
    if proc.returncode != 0:
        raise RuntimeError(f"DuckDB oracle exited with {proc.returncode}")
    oracle = {q: tuple(v) for q, v in json.loads(out).items()}
    run.setup_s = statistics.median(stage_times) + time.perf_counter() - t

    per_query: dict[str, list[float]] = {q: [] for q in CATALOG_QUERIES}

    def op():
        bad = []
        for q in CATALOG_QUERIES:
            tq = time.perf_counter()
            sdf = CATALOG[q][0](spark, sf_dir)
            rows = [r.asDict() for r in sdf.collect()]
            per_query[q].append(time.perf_counter() - tq)
            if q in oracle:
                cols = sorted(sdf.columns, key=str.lower)
                got = oracle_mod.canon_rows(rows, cols)
                if got != oracle[q]:
                    bad.append(f"{q} rows {got[0]} vs {oracle[q][0]}")
            elif not rows:
                bad.append(q)
        if bad:
            raise CheckFailed(f"catalog results differ from the DuckDB "
                              f"oracle: {bad}")

    run.t_ops = time.time()
    run.ops = run.loop(op)
    for q, ts in per_query.items():
        if ts:
            run.layer[f"catalog.{q}_s"] = statistics.median(ts)


# --------------------------------------------------------------------------
# traced passes
# --------------------------------------------------------------------------

def _window(tl, t0, t1) -> dict:
    from evlog import summarize
    return summarize(tl, t0 * 1000, t1 * 1000)


def trace_build(run: Run):
    """Per-layer report of build_webapps: planes by GraphResult.metrics
    windows + Spark event log, extraction probe, link counts, runner
    edit-and-update with a read batch."""
    from pyspark.sql import functions as F

    import corpus
    import probe
    from measure import full_row_digest

    b = run.build
    g, gc, src, rows = b.graph, b.counts, b.source, b.rows
    wall = run.ops[0][0]  # a build exists only if its operation passed
    run.layer["trace.op_s"] = wall
    run.layer["build.files_per_s"] = len(rows) / wall
    # ---- planes: stage marks are seconds after build_graph started ----
    t_build = run.t_ops
    marks = {m["stage"]: m["t"] for m in g.metrics}
    tl = run.timeline()
    prev = 0.0
    whole = _window(tl, t_build, t_build + wall)
    for p in PLANES:
        end = marks.get(PLANE_END[p], prev) if p in PLANE_END else wall
        run.layer[f"plane.{p}_s"] = max(0.0, end - prev)
        w = _window(tl, t_build + prev, t_build + max(end, prev))
        run.layer[f"plane.{p}.idle_s"] = w["idle_s"]
        run.layer[f"plane.{p}.task_cpu_s"] = w["task_cpu_s"]
        run.layer[f"plane.{p}.shuffle_write_mb"] = w["shuffle_write_mb"]
        prev = max(prev, end)
    for k in SPARK_KEYS:
        run.layer[f"spark.{k}"] = whole[k]
    run.phase("planes")
    # ---- graph + link counts ----
    run.layer["graph.nodes"] = sum(gc["nodes"].values())
    run.layer["graph.edges"] = sum(gc["edges"].values())
    for t in EDGE_TYPES:
        run.layer[f"graph.edges.{t}"] = gc["edges"].get(t, 0)
    strat = {r["strategy"]: r["count"] for r in
             g.edges.where(F.col("edge_type") == "Calls")
             .groupBy("strategy").count().collect()}
    calls_edges = gc["edges"].get("Calls", 0)
    for s in STRATEGIES:
        run.layer[f"link.calls_strategy.{s}"] = strat.get(s, 0)
    # the final node and edge frames are lazy over the build's checkpoints:
    # evaluating them twice shows whether their rows depend on timing
    variants = {full_row_digest(g.nodes, g.edges) for _ in range(2)}
    run.layer["graph.digest_variants"] = len(variants)
    run.phase("graph_counts")
    # ---- extraction: probe (no Spark) + extract_raw through Spark ----
    lib = corpus.library_corpus(run.seed, **LIBRARY)
    web = probe.time_parsers(rows)
    stats = probe.by_lang(web + probe.time_parsers(lib))
    for lang in PROBE_LANGS:
        st = stats.get(lang, {})
        run.layer[f"extract.us_per_kb.{lang}"] = st.get("us_per_kb", 0.0)
        run.layer[f"extract.tail_share.{lang}"] = st.get("tail_share", 0.0)
        run.layer[f"extract.parse_errors.{lang}"] = st.get("parse_errors",
                                                           0.0)
    web_parse = sum(x[2] for x in web)
    bt = probe.batch(rows)
    run.layer["extract.batch_overhead_share"] = \
        max(0.0, bt["batch_s"] - web_parse) / max(bt["batch_s"], 1e-9)
    run.layer["extract.fat_ratio"] = bt["fat_rows"] / max(bt["node_rows"], 1)
    run.phase("probe")
    from stakgraph_spark.extract import extract_raw
    t = time.perf_counter()
    kinds = (extract_raw(src).groupBy("rec", "m_kind").count().collect())
    spark_s = time.perf_counter() - t
    run.layer["extract.spark_s"] = spark_s
    run.layer["extract.parallel_eff"] = bt["batch_s"] / (spark_s * CORES)
    mentions = {r["m_kind"]: r["count"] for r in kinds
                if r["rec"] == "mention"}
    for k in MENTION_KINDS:
        run.layer[f"extract.mentions.{k}"] = mentions.get(k, 0)
    call_m = mentions.get("call", 0)
    run.layer["link.call_mentions"] = call_m
    run.layer["link.calls_edges"] = calls_edges
    # Calls edges resolved from call mentions (request -> endpoint and
    # test links carry no strategy) per call mention
    run.layer["link.calls_resolved_ratio"] = \
        sum(strat.get(s, 0) for s in STRATEGIES) / max(call_m, 1)
    run.phase("extract_spark")
    # ---- runner: one edit, update, read batch ----
    elapsed = time.perf_counter() - run.t_start
    if elapsed + RUNNER_COST_OPS * wall < RUNNER_BUDGET_S:
        _trace_runner(run, rows)
    else:
        run.info["skipped"] = "runner part (time guard)"


def _trace_runner(run: Run, rows):
    """PipelineRunner over the first RUNNER_REPOS repos of the corpus: an
    initial run, one edited file, `runner.run` again, then a read batch
    against the written graph."""
    from pyspark.sql import functions as F

    import corpus
    from stakgraph_spark import query
    from stakgraph_spark.runner import PipelineRunner

    spark = run.spark
    repos = sorted({r["repo"] for r in rows})[:RUNNER_REPOS]
    rows = [r for r in rows if r["repo"] in repos]
    src = spark.read.parquet(
        corpus.stage_source(rows, run.work, "runner-source"))
    runner = PipelineRunner(spark, os.path.join(run.work, "runner"),
                            fulltext_index=True)
    res = runner.run(src)
    n_files = res["node_counts"].get("File")
    run.check(n_files == len(rows),
              f"runner graph File nodes {n_files} != {len(rows)} files")
    run.phase("runner_initial")
    # one edit: append a function to one helper module of one repo
    import random
    rng = random.Random(f"edit:{run.seed}")
    cand = sorted((r for r in rows if "/helpers_" in r["path"]),
                  key=lambda r: (r["repo"], r["path"]))
    i = rng.randrange(len(cand))
    edited, fn, callee = corpus.edit_row(cand[i], 1)
    new_rows = [r for r in rows if not (r["repo"] == edited["repo"]
                                        and r["path"] == edited["path"])]
    new_rows.append(edited)
    path = corpus.stage_source(new_rows, run.work, "webapps-edited")
    src2 = spark.read.parquet(path)
    with open(runner.metrics_path) as f:
        offset = len(f.readlines())
    t0 = time.time()
    runner.run(src2)
    t1 = time.time()
    run.layer["runner.update_s"] = t1 - t0
    run.phase("runner_update")
    w = _window(run.timeline(), t0, t1)
    run.layer["runner.update.idle_s"] = w["idle_s"]
    run.layer["runner.update.jobs"] = w["jobs"]
    with open(runner.metrics_path) as f:
        recs = [json.loads(x) for x in f.readlines()[offset:]]
    by = {r["stage"]: r for r in recs}
    run.layer["runner.extract_s"] = by["extract"]["duration_ms"] / 1000
    run.layer["runner.link_materialize_s"] = \
        by["link_materialize"]["duration_ms"] / 1000
    run.layer["runner.fulltext_s"] = \
        by["fulltext_index"]["duration_ms"] / 1000
    run.layer["runner.partitions_extracted"] = \
        by["extract"]["partitions_extracted"]
    nodes = spark.read.parquet(res["nodes_path"])
    edges = spark.read.parquet(res["edges_path"])
    n = nodes.where((F.col("repo") == edited["repo"])
                    & (F.col("name").isin(fn, callee))
                    & (F.col("node_type") == "Function"))
    keys = {r["name"]: r["node_key"] for r in n.collect()}
    ok = fn in keys and callee in keys and edges.where(
        (F.col("src_key") == keys[fn]) & (F.col("dst_key") == keys[callee])
        & (F.col("edge_type") == "Calls")).count() == 1
    run.check(ok, f"edited function {fn} -> {callee} missing after update")
    run.phase("edit_check")
    # ---- read batch against the written graph ----
    repo = edited["repo"]
    eps = nodes.where((F.col("node_type") == "Endpoint")
                      & (F.col("repo") == repo)).select("node_key")
    batch = {
        "search_nodes": lambda: query.search_nodes(
            nodes, search=callee.split("_")[1], node_types=["Function"])
        .collect(),
        "fulltext": lambda: query.fulltext_search_on_disk(
            spark, res["fulltext_path"], f"{callee} value").collect(),
        "k_hop": lambda: query.k_hop(edges, eps, ["Handler", "Calls"],
                                     max_hops=3).collect(),
        "coverage": lambda: query.coverage_stats(nodes, edges).collect(),
        "handlers": lambda: query.handlers_for_endpoints(
            nodes, edges, eps).collect(),
    }
    out = {}
    tb = time.perf_counter()
    for name, fn_q in batch.items():
        t = time.perf_counter()
        out[name] = fn_q()
        run.layer[f"query.{name}_s"] = time.perf_counter() - t
    run.layer["query.batch_s"] = time.perf_counter() - tb
    run.phase("query_batch")
    run.check(all(out[k] for k in batch),
              f"empty read result: {[k for k in batch if not out[k]]}")
    planted = {h for r, _, h in run.build.truth["handlers"] if r == repo}
    found = {r["name"] for r in out["handlers"]}
    run.check(found <= planted,
              f"handlers_for_endpoints returned unplanted {found - planted}")


def trace_catalog(run: Run):
    wall = run.ops[0][0] if run.ops else 0.0
    run.layer["trace.op_s"] = wall
    tl = run.timeline()
    w = _window(tl, run.t_ops, run.t_ops + wall)
    for k in SPARK_KEYS:
        run.layer[f"spark.{k}"] = w[k]


# --------------------------------------------------------------------------

WORKLOADS = {"build_webapps": build_webapps, "catalog": catalog}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "stakgraph_spark")):
        print(f"perfbench: no stakgraph_spark package under {ROOT}; run "
              "from the root of a checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

    from measure import descendants, end_processes

    run = Run(args)
    os.makedirs(run.work, exist_ok=True)
    try:
        if args.trace:
            # the traced pass times one operation
            args.seconds = 0
        WORKLOADS[args.workload](run)
        if args.trace:
            if args.workload == "build_webapps":
                if run.build is not None:
                    trace_build(run)
            else:
                trace_catalog(run)
        if len(run.errors) > run.loop_errors:
            # a failed check on the last operation's output fails that op
            run.failed = min(run.attempted, run.failed + 1)
        from measure import jvm_pid, peak_rss_mb
        jp = jvm_pid()
        rss = peak_rss_mb([os.getpid()] + ([jp] if jp else []))
    finally:
        # every process this run started (the JVM, the Python workers it
        # forks, the oracle) has ended before the run exits
        procs = descendants()
        try:
            run.stop()
        finally:
            procs.update(descendants())
            signalled = end_processes(procs)
            if signalled:
                print(f"perfbench: stopped {len(signalled)} leftover "
                      "process(es)", file=sys.stderr)
            shutil.rmtree(run.work, ignore_errors=True)

    if args.trace:
        metrics = {k: {"value": float(run.layer.get(k, 0.0)), "unit": u}
                   for k, u in PER_LAYER.items()}
    else:
        ops = run.ops or [(float("nan"), float("nan"))]  # every op failed
        metrics = {
            "setup_s": {"value": run.setup_s, "unit": "s"},
            "op_s": {"value": statistics.median(w for w, _ in ops),
                     "unit": "s"},
            "cpu_s": {"value": statistics.median(c for _, c in ops),
                      "unit": "s"},
            "peak_rss_mb": {"value": rss, "unit": "MB"},
        }
    run.info["ops"] = len(run.ops)
    run.info["errors"] = run.errors
    print("info " + json.dumps(run.info, sort_keys=True))
    for k, m in metrics.items():
        print(f"{k} = {m['value']:.6g} {m['unit']}")
    correct = not run.errors
    print(json.dumps({"correct": correct, "attempted": max(run.attempted, 1),
                      "failed": run.failed if run.attempted else 1,
                      "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
