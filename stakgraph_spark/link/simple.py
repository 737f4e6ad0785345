"""Non-call linking joins: IMPLEMENTS, HANDLER, PARENT_OF, OF (instances),
Function-CONTAINS-Var, Function-CONTAINS-DataModel, File-IMPORTS-symbol.

Each mirrors a reference lookup loop as an equi-join + deterministic
first-pick (min_by over canonical node key = BTreeMap iteration order).

Scale design (round 2): seven edge families (implements, operands, renders,
class_new, parent_of, instance_of, dm-contains) resolve against ONE shared
symbol table — `build_symtab` aggregates Function/Class/Trait/DataModel
definitions once into a row per (repo, lang, name) carrying, per node type,
the global first-by-key candidate, the definition count, and a
file -> first-start map for the same-file preference.  Round 1 built ~12
per-family groupBy lookup tables; at fixture scale their Catalyst planning
and codegen dominated the link plane's wall time (fixed cost, thread-
independent), and at 100 TB they are 12 shuffles where 3 suffice.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..keys import node_key_col

KEY = ["repo", "lang"]

SYMTYPES = ["Function", "Class", "Trait", "DataModel"]


def _skey(node_type: str):
    return node_key_col(F.lit(node_type), F.col("name"), F.col("file"), F.col("start"))


def build_symtab(nodes: DataFrame) -> DataFrame:
    """(repo, lang, name) -> per-type resolution summaries `t_<Type>`:
    struct(glob: struct(file,start)   first candidate in node-key order,
           cnt:  long                 total definitions of that name,
           fmap: map(file -> start)   per-file first candidate).

    Feeds every 'same-file first, then first-by-key global' lookup (the
    classes_by_file / global fallback pattern of
    ast/src/builder/core.rs:521-582).  The fmap is bounded by the number of
    files defining one name in one (repo, lang) — the same bound the
    reference's per-name BTreeMap scan has."""
    c = (nodes.where(F.col("node_type").isin(SYMTYPES))
         .select(*KEY, "node_type", "name", "file", "start",
                 node_key_col(F.col("node_type"), F.col("name"), F.col("file"),
                              F.col("start")).alias("skey")))
    per_file = (c.groupBy(*KEY, "node_type", "name", "file")
                .agg(F.min_by("start", "skey").alias("f_start"),
                     F.min("skey").alias("skey_min"),
                     F.count("*").alias("cnt")))
    per_type = (per_file.groupBy(*KEY, "node_type", "name")
                .agg(F.min_by(F.struct(F.col("file"),
                                       F.col("f_start").alias("start")),
                              "skey_min").alias("glob"),
                     F.sum("cnt").alias("cnt"),
                     F.map_from_entries(
                         F.collect_list(F.struct("file", "f_start"))).alias("fmap")))
    return (per_type.groupBy(*KEY, "name")
            .agg(*[F.first(F.when(F.col("node_type") == t,
                                  F.struct("glob", "cnt", "fmap")),
                           ignorenulls=True).alias(f"t_{t}")
                   for t in SYMTYPES]))


def _sym(symtab: DataFrame, t: str, name_col: str, out: str) -> DataFrame:
    return symtab.select(*KEY, F.col("name").alias(name_col),
                         F.col(f"t_{t}").alias(out))


def _same_then_global(entry: Column, src_file: Column) -> Column:
    """struct(file,start) pick: same-file first candidate if the symbol is
    defined in src_file, else the global first-by-key candidate; NULL when
    the symbol doesn't exist as that type."""
    same_start = F.element_at(entry["fmap"], src_file)
    return F.when(entry.isNull(), F.lit(None).cast("struct<file:string,start:bigint>")) \
            .when(same_start.isNotNull(),
                  F.struct(src_file.alias("file"), same_start.alias("start"))) \
            .otherwise(entry["glob"])


def resolve_implements(mentions: DataFrame, symtab: DataFrame) -> DataFrame:
    """(class, trait-name) mentions -> Class -IMPLEMENTS-> Trait.

    BOTH endpoints resolve same-file-first-then-global — the mention's
    positional info is the impl site, not the definition
    (ast/src/builder/core.rs:521-582)."""
    m = (mentions
         .join(_sym(symtab, "Class", "src_name", "C"), KEY + ["src_name"], "left")
         .join(_sym(symtab, "Trait", "dst_name", "T"), KEY + ["dst_name"], "left")
         .withColumn("c", _same_then_global(F.col("C"), F.col("src_file")))
         .withColumn("t", _same_then_global(F.col("T"), F.col("src_file")))
         .where(F.col("c").isNotNull() & F.col("t").isNotNull()))
    return m.select(
        *KEY,
        F.lit("Implements").alias("edge_type"),
        node_key_col(F.lit("Class"), F.col("src_name"), F.col("c.file"),
                     F.col("c.start")).alias("src_key"),
        node_key_col(F.lit("Trait"), F.col("dst_name"), F.col("t.file"),
                     F.col("t.start")).alias("dst_key"),
    )


def resolve_handlers(mentions: DataFrame, functions: DataFrame) -> DataFrame:
    """Endpoint handler mentions -> Endpoint -HANDLER-> Function.

    Python handler_finder semantics (python.rs:518-562): dotted handler =
    Django style (dir/module.py, dir/module/views.py, then any function of
    that name); plain handler = same-file exact lookup."""
    fns = (functions
           .select(*KEY, "name", "file", "start", _skey("Function").alias("skey")))
    m = (mentions
         .withColumn("has_dot", F.col("dst_name").contains("."))
         .withColumn("fn_name", F.element_at(F.split("dst_name", "\\."), -1))
         .withColumn("module", F.element_at(F.split("dst_name", "\\."), 1))
         .withColumn("dir", F.regexp_replace("src_file", "/[^/]*$", "")))

    # plain: exact (name, file) lookup
    by_file = (fns.groupBy(*KEY, "name", "file")
               .agg(F.min_by("start", "skey").alias("f_start"))
               .selectExpr("repo", "lang", "name as fn_name",
                           "file as src_file", "f_start"))
    plain = (m.where(~F.col("has_dot"))
             .join(by_file, KEY + ["fn_name", "src_file"], "inner")
             .select("repo", "lang", "src_type", "src_name", "src_file",
                     "src_start", "src_verb", "fn_name",
                     F.col("src_file").alias("f_file"), "f_start"))

    # dotted: module path candidates then global fallback
    dotted = m.where(F.col("has_dot"))
    cand = (dotted.join(fns.withColumnRenamed("name", "fn_name"), KEY + ["fn_name"], "inner")
            .withColumn("rank",
                        F.when(F.col("file") == F.concat_ws("/", "dir",
                               F.concat(F.col("module"), F.lit(".py"))), 0)
                         .when(F.col("file") == F.concat_ws("/", "dir", "module",
                               F.lit("views.py")), 1)
                         .otherwise(2))
            .groupBy(*KEY, "src_type", "src_name", "src_file", "src_start", "src_verb", "fn_name")
            .agg(F.min_by(F.struct("file", "start"),
                          F.struct(F.col("rank"), F.col("skey"))).alias("c"))
            .select("repo", "lang", "src_type", "src_name", "src_file", "src_start",
                    "src_verb", "fn_name", F.col("c.file").alias("f_file"),
                    F.col("c.start").alias("f_start")))

    both = plain.unionByName(cand)
    return both.select(
        *KEY,
        F.lit("Handler").alias("edge_type"),
        node_key_col(F.col("src_type"), F.col("src_name"), F.col("src_file"),
                     F.col("src_start"), F.col("src_verb")).alias("src_key"),
        node_key_col(F.lit("Function"), F.col("fn_name"), F.col("f_file"),
                     F.col("f_start")).alias("dst_key"),
    )



def resolve_verb_handlers(mentions: DataFrame,
                          functions: DataFrame) -> DataFrame:
    """Next.js verb-style handlers: Endpoint meta.handler is an HTTP verb;
    the handler function is the same-file function whose name matches the
    verb case-insensitively (react_ts.rs:965-976)."""
    fns = (functions
           .select(*KEY, "name", "file", "start", _skey("Function").alias("skey"))
           .withColumn("uname", F.upper("name")))
    byfile = (fns.groupBy(*KEY, "uname", "file")
              .agg(F.min_by(F.struct("name", "start"), "skey").alias("f"))
              .selectExpr("repo", "lang", "uname", "file as src_file", "f"))
    m = (mentions.withColumn("uname", F.upper("dst_name"))
         .join(byfile, KEY + ["uname", "src_file"], "inner"))
    return m.select(
        *KEY,
        F.lit("Handler").alias("edge_type"),
        node_key_col(F.col("src_type"), F.col("src_name"), F.col("src_file"),
                     F.col("src_start"), F.col("src_verb")).alias("src_key"),
        node_key_col(F.lit("Function"), F.col("f.name"), F.col("src_file"),
                     F.col("f.start")).alias("dst_key"),
    )







def function_contains_vars(ident_mentions: DataFrame, variables: DataFrame,
                           import_bodies: DataFrame) -> DataFrame:
    """Identifiers used in a function body that name a Var node ->
    Function -CONTAINS-> Var when the var is same-file, imported (import
    section substring), or same-dir (format.rs:795-845)."""
    variables = (variables
                 .select(*KEY, F.col("name").alias("dst_name"),
                         F.col("file").alias("v_file"),
                         F.col("start").alias("v_start")))
    m = (ident_mentions
         .join(variables, KEY + ["dst_name"], "inner")
         .join(import_bodies, KEY + ["src_file"], "left")
         .withColumn("ok",
                     (F.col("v_file") == F.col("src_file"))
                     | (F.instr(F.coalesce("import_body", F.lit("")), F.col("dst_name")) > 0)
                     | (F.regexp_replace("v_file", "/[^/]*$", "")
                        == F.regexp_replace("src_file", "/[^/]*$", "")))
         .where(F.col("ok")))
    return m.select(
        *KEY,
        F.lit("Contains").alias("edge_type"),
        node_key_col(F.col("src_type"), F.col("src_name"), F.col("src_file"),
                     F.col("src_start")).alias("src_key"),
        node_key_col(F.lit("Var"), F.col("dst_name"), F.col("v_file"),
                     F.col("v_start")).alias("dst_key"),
    )



def import_edges(import_mentions: DataFrame, nodes: DataFrame) -> DataFrame:
    """File -IMPORTS-> Function|Class|DataModel|Var: per imported name probe
    in that node-type priority, target file must contain the resolved module
    path (parse/collect.rs:424-507)."""
    prio = F.create_map(
        F.lit("Function"), F.lit(0), F.lit("Class"), F.lit(1),
        F.lit("DataModel"), F.lit(2), F.lit("Var"), F.lit(3))
    syms = (nodes.where(F.col("node_type").isin("Function", "Class", "DataModel", "Var"))
            .select(*KEY, "node_type", F.col("name").alias("dst_name"),
                    "file", "start",
                    node_key_col(F.col("node_type"), F.col("name"), F.col("file"),
                                 F.col("start")).alias("skey"))
            .withColumn("prio", prio[F.col("node_type")]))
    m = (import_mentions
         .join(syms, KEY + ["dst_name"], "inner")
         .where(F.instr(F.col("file"), F.col("dst_file")) > 0)
         .groupBy(*KEY, "src_name", "src_file", "src_start", "dst_name")
         .agg(F.min_by(F.struct("node_type", "file", "start"),
                       F.struct(F.col("prio"), F.col("skey"))).alias("t")))
    files = nodes.where(F.col("node_type") == "File").select(
        *KEY, F.col("file").alias("src_file"), F.col("name").alias("f_name"),
        F.col("start").alias("f_start"))
    return (m.join(files, KEY + ["src_file"], "inner")
            .select(
                *KEY,
                F.lit("Imports").alias("edge_type"),
                node_key_col(F.lit("File"), F.col("f_name"), F.col("src_file"),
                             F.col("f_start")).alias("src_key"),
                node_key_col(F.col("t.node_type"), F.col("dst_name"), F.col("t.file"),
                             F.col("t.start")).alias("dst_key"),
            ))


def ruby_dm_within(data_models: DataFrame, functions: DataFrame) -> DataFrame:
    """Ruby data_model_within_finder (queries/ruby.rs:263-287): every
    Function in {dm.name}_controller.rb CONTAINS the DataModel.  Both inputs
    are the ruby slices."""
    dms = (data_models
           .select(*KEY, F.col("name").alias("dm_name"),
                   F.col("file").alias("dm_file"), F.col("start").alias("dm_start"),
                   F.concat(F.col("name"), F.lit("_controller.rb")).alias("ctrl")))
    fns = (functions
           .select(*KEY, "name", "file", "start",
                   F.element_at(F.split("file", "/"), -1).alias("ctrl")))
    return (fns.join(dms, KEY + ["ctrl"], "inner")
            .select(
                *KEY,
                F.lit("Contains").alias("edge_type"),
                node_key_col(F.lit("Function"), F.col("name"), F.col("file"),
                             F.col("start")).alias("src_key"),
                node_key_col(F.lit("DataModel"), F.col("dm_name"),
                             F.col("dm_file"), F.col("dm_start")).alias("dst_key"),
            ))



def fused_symtab_edges(tagged: DataFrame, symtab: DataFrame) -> DataFrame:
    """EIGHT same-file-then-global edge families resolved through ONE symtab
    join.  `tagged` rows carry (repo, lang, kind, src_type, src_name,
    src_file, src_start, dst_name); `kind` selects the per-family pick rule
    and edge shape:

      operand    Class|DataModel same-then-global -OPERAND-> Function
                 (format.rs:720-736, reversed edge)
      class_new  unique Class -> src -CALLS-> Class (format.rs:1040-1046)
      renders    Function same-then-global -> src -RENDERS-> Function
      test_class first Class -> src -CALLS-> Class (parse/collect.rs:237-244)
      dm         first DataModel -> src -CONTAINS-> DataModel
                 (format.rs:764-793)
      parent     first Class -PARENT_OF-> src Class (btreemap_graph.rs:603-642,
                 reversed edge)
      includes   first Class -> src Class -IMPORTS-> Class
                 (btreemap_graph.rs:603-624)
      instance   first Class -> src Instance -OF-> Class
                 (btreemap_graph.rs:238-255)

    Round 2 ran these as eight separate joins; their per-family planning +
    shuffle stages were the dominant serial fraction of the link plane
    (the failed 0.8 scaling-efficiency target's measured cause)."""
    m = tagged.join(symtab.withColumnRenamed("name", "dst_name"),
                    KEY + ["dst_name"], "left")
    k = F.col("kind")
    C = _same_then_global(F.col("t_Class"), F.col("src_file"))
    D = _same_then_global(F.col("t_DataModel"), F.col("src_file"))
    FN = _same_then_global(F.col("t_Function"), F.col("src_file"))
    cls_glob = F.col("t_Class.glob")
    dm_glob = F.col("t_DataModel.glob")

    def tgt(t, c):
        return F.when(c.isNotNull(),
                      F.struct(F.lit(t).alias("t"), c["file"].alias("f"),
                               c["start"].alias("s")))

    picked = (
        F.when(k == "operand", F.coalesce(tgt("Class", C), tgt("DataModel", D)))
        .when(k == "class_new",
              F.when(F.col("t_Class.cnt") == 1, tgt("Class", cls_glob)))
        .when(k == "renders", tgt("Function", FN))
        .when(k.isin("test_class", "parent", "includes", "instance"),
              tgt("Class", cls_glob))
        .when(k == "dm", tgt("DataModel", dm_glob)))
    m = m.withColumn("p", picked).where(F.col("p").isNotNull())

    edge_type = (F.when(k == "operand", F.lit("Operand"))
                 .when(k.isin("class_new", "test_class"), F.lit("Calls"))
                 .when(k == "renders", F.lit("Renders"))
                 .when(k == "dm", F.lit("Contains"))
                 .when(k == "parent", F.lit("ParentOf"))
                 .when(k == "includes", F.lit("Imports"))
                 .otherwise(F.lit("Of")))
    src_k = node_key_col(F.col("src_type"), F.col("src_name"),
                         F.col("src_file"), F.col("src_start"))
    dst_k = node_key_col(F.col("p.t"), F.col("dst_name"), F.col("p.f"),
                         F.col("p.s"))
    reversed_ = k.isin("operand", "parent")
    return m.select(
        *KEY,
        edge_type.alias("edge_type"),
        F.when(reversed_, dst_k).otherwise(src_k).alias("src_key"),
        F.when(reversed_, src_k).otherwise(dst_k).alias("dst_key"),
    )


def php_handler_edges(mentions: DataFrame, functions: DataFrame) -> DataFrame:
    """Laravel `[Controller::class, 'method']` / controller-group / resource
    handlers: the action Function in the file whose basename is
    {Controller}.php (handler_finder, php.rs:632-758).  Endpoints are KEPT
    when the action does not exist — only the edge is skipped (unlike ruby's
    admission drop).  `functions` is the php slice."""
    fns = (functions
           .select(*KEY, F.col("name").alias("dst_name"),
                   F.col("file").alias("f_file"), F.col("start").alias("f_start"),
                   F.element_at(F.split("file", "/"), -1).alias("ctrl"),
                   _skey("Function").alias("skey")))
    m = mentions.select(
        *KEY, "src_type", "src_name", "src_file", "src_start", "src_verb",
        "dst_name", F.element_at("m_extra", "ctrl").alias("ctrl"))
    resolved = (m.join(fns, KEY + ["dst_name", "ctrl"], "inner")
                .groupBy(*KEY, "src_type", "src_name", "src_file", "src_start",
                         "src_verb", "dst_name")
                .agg(F.min_by(F.struct("f_file", "f_start"), "skey").alias("c")))
    return resolved.select(
        *KEY,
        F.lit("Handler").alias("edge_type"),
        node_key_col(F.col("src_type"), F.col("src_name"), F.col("src_file"),
                     F.col("src_start"), F.col("src_verb")).alias("src_key"),
        node_key_col(F.lit("Function"), F.col("dst_name"), F.col("c.f_file"),
                     F.col("c.f_start")).alias("dst_key"),
    )


def angular_renders(renders: DataFrame, components: DataFrame) -> DataFrame:
    """Angular html pages render component templates through the component's
    selector: an html file using `<app-people-list>` renders the template of
    the @Component whose selector is `app-people-list`
    (angular template resolution; annotations assert html -RENDERS-> html).

    ng_render mentions carry (html Page ref, selector); ng_component
    mentions carry (component Page ref, selector, resolved template path)."""
    rend = (renders
            .select(*KEY, "src_name", "src_file", "src_start",
                    F.col("dst_name").alias("selector")))
    comp = (components
            .select(*KEY, F.col("dst_name").alias("selector"),
                    F.col("dst_file").alias("template")))
    j = rend.join(comp, KEY + ["selector"], "inner")
    return j.select(
        *KEY,
        F.lit("Renders").alias("edge_type"),
        node_key_col(F.lit("Page"), F.col("src_name"), F.col("src_file"),
                     F.col("src_start")).alias("src_key"),
        node_key_col(F.lit("Page"),
                     F.element_at(F.split("template", "/"), -1),
                     F.col("template"), F.lit(0)).alias("dst_key"),
    )


def resolve_uses(unresolved: DataFrame, imports_map: DataFrame,
                 libraries: DataFrame) -> DataFrame:
    """Cascade-unresolved call mentions that target an IMPORTED LIBRARY ->
    Function -USES-> Library.

    Reference semantics (btreemap_graph.rs:421-431, graphs/mod.rs:223-229):
    a call whose definition lives outside the repo (library / std) gets a
    USES edge instead of CALLS.  The reference discovers this via LSP
    goto-definition (format.rs:1099-1161); the table-driven re-expression
    joins the caller's import map against the Library nodes extracted from
    package manifests (extract/libs.py): the mention's receiver base (or the
    called name itself for bare imports) must be bound by an import whose
    module's last path segment names a declared Library.  The USES target is
    the Library node itself — the engine's stand-in for the reference's
    external stub Function (it carries the same identity: the dependency)."""
    m = (unresolved
         .where(F.col("skipflag").isNull())
         .withColumn("base",
                     F.coalesce(F.get(F.split(F.col("operand"), r"\."), 0),
                                F.col("called")))
         .select(*KEY, "src_type", "src_name", "src_file", "src_start",
                 "called", "base"))
    imp = imports_map.select(
        *KEY, F.col("file").alias("src_file"), F.col("name").alias("base"),
        F.element_at(F.split(F.col("module"), "/"), -1).alias("mod_last"))
    # library identity: strip version specifiers (requirements.txt Library
    # names keep the whole word, e.g. "requests==2.31.0" — reference parity)
    # then take the last path segment ("gorm.io/gorm" -> "gorm")
    lib_base = F.regexp_replace(F.col("name"), r"[=<>!~\[@].*$", "")
    libs = (libraries
            .select(*KEY, F.col("name").alias("lib_name"), "file", "start",
                    F.element_at(F.split(lib_base, "/"), -1)
                    .alias("mod_last"),
                    node_key_col(F.lit("Library"), F.col("name"),
                                 F.col("file"), F.col("start")).alias("lib_key")))
    hits = (m.join(imp, KEY + ["src_file", "base"], "inner")
            .join(libs, KEY + ["mod_last"], "inner")
            .groupBy(*KEY, "src_type", "src_name", "src_file", "src_start",
                     "called")
            .agg(F.min_by(F.struct("lib_key"), "lib_key").alias("t")))
    return hits.select(
        *KEY,
        F.lit("Uses").alias("edge_type"),
        node_key_col(F.col("src_type"), F.col("src_name"), F.col("src_file"),
                     F.col("src_start")).alias("src_key"),
        F.col("t.lib_key").alias("dst_key"),
    )


def ruby_admit_endpoints(eps: DataFrame, handlers: DataFrame,
                         functions: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Ruby (rails) endpoint admission: the handler must resolve to an action
    Function in a file whose basename is the route's controller suffix
    (handler_finder, queries/ruby.rs:531-660) — unresolvable candidates from
    the RESTful expansion are dropped; then first-FINDER-wins dedup on
    (name, file, verb) (add_endpoints, btreemap_graph.rs:352-372, finder
    order carried as meta.finder_rank).

    Every input is the ruby slice (endpoints, handler mentions,
    functions).  Returns (kept endpoint node rows, Handler edges)."""
    fns = (functions
           .select(*KEY, F.col("name").alias("dst_name"),
                   F.col("file").alias("f_file"), F.col("start").alias("f_start"),
                   F.element_at(F.split("file", "/"), -1).alias("ctrl"),
                   _skey("Function").alias("skey")))
    hm = (handlers
          .select(*KEY, "src_name", "src_file", "src_start", "src_verb",
                  "dst_name", F.element_at("m_extra", "ctrl").alias("ctrl")))
    resolved = (hm.join(fns, KEY + ["dst_name", "ctrl"], "inner")
                .groupBy(*KEY, "src_name", "src_file", "src_start", "src_verb",
                         "dst_name")
                .agg(F.min_by(F.struct("f_file", "f_start"), "skey").alias("c")))

    e = eps.withColumn("verb", F.element_at("meta", "verb")) \
           .withColumn("rank", F.coalesce(
               F.element_at("meta", "finder_rank").cast("int"), F.lit(99)))
    res_keys = resolved.select(
        *KEY, F.col("src_name").alias("name"), F.col("src_file").alias("file"),
        F.col("src_start").alias("start"),
        F.coalesce("src_verb", F.lit("")).alias("_v"))
    e = e.withColumn("_v", F.coalesce("verb", F.lit("")))
    e = e.join(res_keys, [*KEY, "name", "file", "start", "_v"], "leftsemi")

    cols = [c for c in eps.columns]
    kept = (e.groupBy(*KEY, "name", "file", "_v")
            .agg(F.min_by(F.struct(*cols, "verb"),
                          F.struct("rank", "start")).alias("k"))
            .select("k.*")
            # admission-only meta keys must not leak into the final graph
            # (the reference's endpoint node format has no finder_rank/ctrl)
            .withColumn("meta", F.map_filter(
                "meta", lambda k, _: ~k.isin("finder_rank", "ctrl"))))

    kept_keys = kept.select(
        F.col("repo").alias("k_repo"), F.col("lang").alias("k_lang"),
        F.col("name").alias("k_name"), F.col("file").alias("k_file"),
        F.col("start").alias("k_start"),
        F.coalesce(F.element_at("meta", "verb"), F.lit("")).alias("k_verb"))
    edges = (resolved
             .join(kept_keys,
                   (resolved["repo"] == kept_keys["k_repo"])
                   & (resolved["lang"] == kept_keys["k_lang"])
                   & (resolved["src_name"] == kept_keys["k_name"])
                   & (resolved["src_file"] == kept_keys["k_file"])
                   & (resolved["src_start"] == kept_keys["k_start"])
                   & (F.coalesce(resolved["src_verb"], F.lit(""))
                      == kept_keys["k_verb"]),
                   "leftsemi")
             .select(
                 *KEY,
                 F.lit("Handler").alias("edge_type"),
                 node_key_col(F.lit("Endpoint"), F.col("src_name"),
                              F.col("src_file"), F.col("src_start"),
                              F.col("src_verb")).alias("src_key"),
                 node_key_col(F.lit("Function"), F.col("dst_name"),
                              F.col("c.f_file"), F.col("c.f_start")).alias("dst_key")))
    return kept.drop("verb", "rank", "_v"), edges
