"""Call-site resolution — the reference's priority cascade re-expressed as
distributed joins.

Reference semantics: ast/src/lang/call_finder.rs:41-128 — for each call
mention (called, operand?) try, in order, first hit wins:

  1. global_unique (0.90)  exactly one non-empty-body Function of that name
                           (self excluded; mocks dropped on tie)
  2. same_file    (0.85)   first Function of that name in the caller's file
                           (non-empty body, different start)
  3. import       (0.80)   name imported from module M -> Function of that
                           name whose file contains M
  4. same_dir     (0.45)   unique non-mock Function of that name in the
                           caller's directory
  5. operand      (0.70)   operand is an Instance -> its class's method
  6. nested_var   (0.60)   operand is a Var -> Function with meta.nested_in
  7. member_expr  (0.35)   resolve the operand itself as a function (cascade
                           1-4 on the base object)

Scale design: every strategy keys its lookup on (repo, lang, name[, file|dir])
and is PRE-AGGREGATED to one row per key before the mention join, so hub
symbols (`get`, `new`, `main` defined in thousands of files) produce one
summary row instead of an exploding fanout — the skew the north rule calls
out is defused by aggregation rather than salting, which is strictly cheaper
(the salted variant is kept in utils for non-aggregatable joins).
Tie-breaking mirrors the reference's BTreeMap iteration order by min_by over
the canonical node_key.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from pyspark.storagelevel import StorageLevel

from ..ckpt import ckpt as _ckpt

from ..keys import node_key_col, sanitize_col

_SER = StorageLevel.MEMORY_AND_DISK  # serialized checkpoint blocks

KEY = ["repo", "lang"]


def _fn_base(functions: DataFrame) -> DataFrame:
    """Symbol-table base: one row per Function node with resolution columns.
    The slim link-plane node table carries a has_body flag instead of the
    (byte-heavy) body column."""
    nonempty = (F.col("has_body") if "has_body" in functions.columns
                else F.length(F.coalesce(F.col("body"), F.lit(""))) > 0)
    return functions.select(
        "repo", "lang", "name", "file", "start",
        nonempty.alias("nonempty"),
        F.col("file").contains("mock").alias("is_mock"),
        F.regexp_replace("file", "/[^/]*$", "").alias("dir"),
        F.element_at(F.col("meta"), "operand").alias("m_operand"),
        F.element_at(F.col("meta"), "nested_in").alias("m_nested_in"),
        F.element_at(F.col("meta"), "ret_type").alias("m_ret"),
        F.element_at(F.col("meta"), "trait_operand").alias("m_trait"),
        node_key_col(F.lit("Function"), F.col("name"), F.col("file"),
                     F.col("start")).alias("skey"),
    )


def _cand(extra: list[str] | None = None) -> Column:
    cols = ["file", "start"] + (extra or [])
    return F.struct(*[F.col(c) for c in cols])


def _top2(col_when: Column) -> Column:
    """First-two candidates in node-key order as a 2-slice of the sorted
    candidate array.  Single-pass groupBy aggregate — replaces the round-1
    window (row_number + count) implementation, which cost two shuffle/sort
    passes per lookup table.  collect_list materializes one group's
    candidates in memory, the same bound the window partition had."""
    return F.slice(F.array_sort(F.collect_list(col_when)), 1, 2)


def _first2(df: DataFrame, group: list[str], flt: Column) -> DataFrame:
    """cnt + first two candidates in node-key order per group (enough to
    implement 'unique after excluding self')."""
    d = df.where(flt)
    cand = F.struct("skey", "file", "start")
    firsts = (d.groupBy(*group)
                .agg(F.count("*").alias("cnt"), _top2(cand).alias("top2"))
                .withColumn("c1", F.when(
                    F.size("top2") > 0,
                    F.struct(F.get("top2", 0)["file"].alias("file"),
                             F.get("top2", 0)["start"].alias("start"))))
                .withColumn("c2", F.when(
                    F.size("top2") > 1,
                    F.struct(F.get("top2", 1)["file"].alias("file"),
                             F.get("top2", 1)["start"].alias("start"))))
                .drop("top2"))
    return firsts


def _pick_not_self(cnt: Column, c1: Column, c2: Column, self_in: Column) -> Column:
    """The unique candidate after excluding self, else NULL."""
    eff = cnt - self_in.cast("int")
    is_self1 = (c1["file"] == F.col("src_file")) & (c1["start"] == F.col("src_start"))
    return F.when(eff == 1, F.when(self_in & is_self1, c2).otherwise(c1))


def resolve_calls(mentions: DataFrame, functions: DataFrame,
                  instances: DataFrame, variables: DataFrame,
                  imports_map: DataFrame,
                  struct_fields: DataFrame | None = None,
                  trait_impls: DataFrame | None = None) -> DataFrame:
    """mentions: (repo,lang,src_type,src_name,src_file,src_start,called,operand
    [,rcv_type,rcv_base,rcv_field,skipflag])
    -> resolved (…, dst_file, dst_start, confidence, strategy).

    rcv_* columns are the hybrid-registry receiver facts (strategy 0,
    type_resolved, confidence 1.0 — fires BEFORE the skip list, so mentions
    with skipflag=1 may ONLY resolve via the registry; format.rs:1080-1098).

    Returns (resolved, unresolved): the unresolved remainder feeds the USES
    edge family (library-call linking, btreemap_graph.rs:421-431)."""
    for c in ("rcv_type", "rcv_base", "rcv_field", "rcv_call", "skipflag"):
        if c not in mentions.columns:
            mentions = mentions.withColumn(c, F.lit(None).cast("string"))
    # the symbol-table base feeds ~6 aggregate views per cascade instance;
    # checkpointing it keeps every downstream join plan shallow
    fns = _ckpt(_fn_base(functions), "cascade_functions", eager=False)

    resolved = _cascade_1_to_6(mentions, fns, instances, variables, imports_map,
                               struct_fields, trait_impls=trait_impls)
    resolved = _ckpt(resolved, "cascade")

    # 7. member_expr: unresolved mentions WITH an operand -> resolve the base
    # object as a function via cascade 1-4 (format.rs:1208-1239).  Only call
    # mentions carry operands (handler mentions don't), so this naturally
    # skips the handler path.  Gated on non-empty input: a second cascade is
    # ~10 Spark stages we don't want for zero rows.
    unres_cols = ["repo", "lang", "mk", "src_type", "src_name", "src_file",
                  "src_start", "called", "operand", "skipflag"]
    unres = resolved.where(F.col("dst_file").isNull() & F.col("operand").isNotNull())
    unres_no_op = (resolved.where(F.col("dst_file").isNull()
                                  & F.col("operand").isNull())
                   .select(*unres_cols))
    direct = (resolved.where(F.col("dst_file").isNotNull())
              .withColumn("dst_name", F.col("called")))
    if unres.isEmpty():
        return direct, unres_no_op

    base = (unres.drop("dst_file", "dst_start", "confidence", "strategy")
                 .withColumn("orig_called", F.col("called"))
                 .withColumn("called", F.col("operand"))
                 .withColumn("operand", F.lit(None).cast("string")))
    base = base.withColumn("rcv_type", F.lit(None).cast("string")) \
               .withColumn("rcv_base", F.lit(None).cast("string")) \
               .withColumn("rcv_field", F.lit(None).cast("string")) \
               .withColumn("skipflag", F.lit(None).cast("string"))
    # lean=True skips strategies 0/5/6 plan-side: the base rows carry null
    # operand + rcv_*, so those equi-joins can never match — semantics are
    # identical, but ~6 joins of plan (and their codegen stages) are saved.
    # Lazy checkpoint: both consumers below (member hits -> Calls family,
    # member misses -> USES family) share one evaluation of this cascade.
    base_res = _ckpt(_cascade_1_to_6(base, fns, instances, variables,
                                     imports_map, None, lean=True),
                     "cascade_member_expr", eager=False)
    member = (base_res.where(F.col("dst_file").isNotNull())
              .withColumn("dst_name", F.col("called"))   # the base object's name
              .withColumn("called", F.col("orig_called"))
              .drop("orig_called")
              .withColumn("confidence", F.lit(0.35))
              .withColumn("strategy", F.lit("member_expr")))
    # member-expr misses: restore the original (called, operand) shape
    member_miss = (base_res.where(F.col("dst_file").isNull())
                   .withColumn("operand", F.col("called"))
                   .withColumn("called", F.col("orig_called"))
                   .select(*unres_cols))

    return (direct.unionByName(member, allowMissingColumns=True),
            unres_no_op.unionByName(member_miss))


def _cascade_1_to_6(mentions: DataFrame, fns: DataFrame, instances: DataFrame,
                    variables: DataFrame, imports_map: DataFrame,
                    struct_fields: DataFrame | None = None,
                    lean: bool = False,
                    trait_impls: DataFrame | None = None) -> DataFrame:
    m = mentions
    _null_cand = F.lit(None).cast("struct<file:string,start:bigint>")

    if lean:
        m = m.withColumn("r_registry", _null_cand)
    else:
        # -- 0. type registry (rust/ts hybrid resolver): receiver type known
        # -> method of that type (meta.operand == type); one field
        # indirection via struct_fields (rust_registry struct-field lookup) --
        methods = (fns.where(F.col("m_operand").isNotNull())
                   .groupBy(*KEY, "name", "m_operand")
                   .agg(F.min_by(_cand(), "skey").alias("mc")))
        if trait_impls is not None:
            # interface dispatch (java_resolver.rs:239-259,
            # cs_resolver.rs:215-262): a receiver typed as an interface
            # resolves to an implementing class's method — register
            # implementors' methods under the trait name too; direct class
            # entries win on conflict, and the interface's OWN (bodyless)
            # method is the last-resort fallback when no implementation
            # exists in the graph (cs_resolver.rs:254-260)
            tm = (methods.join(
                      trait_impls.selectExpr("repo", "lang",
                                             "cls as m_operand", "trait"),
                      KEY + ["m_operand"], "inner")
                  .drop("m_operand")
                  .withColumnRenamed("trait", "m_operand")
                  .select(*KEY, "name", "m_operand", "mc"))
            towns = (fns.where(F.col("m_trait").isNotNull())
                     .groupBy(*KEY, "name", F.col("m_trait").alias("m_operand"))
                     .agg(F.min_by(_cand(), "skey").alias("mc")))
            methods = (methods.withColumn("pri", F.lit(0))
                       .unionByName(tm.withColumn("pri", F.lit(1)))
                       .unionByName(towns.withColumn("pri", F.lit(2)))
                       .groupBy(*KEY, "name", "m_operand")
                       .agg(F.min_by("mc", F.struct("pri", "mc")).alias("mc")))
        m = (m.join(methods.withColumnRenamed("name", "called")
                           .withColumnRenamed("m_operand", "rcv_type")
                           .withColumnRenamed("mc", "r_reg_direct"),
                    KEY + ["called", "rcv_type"], "left"))
        if struct_fields is not None:
            sf = struct_fields.selectExpr("repo", "lang", "type as rcv_base",
                                          "field as rcv_field", "ftype")
            m = (m.join(sf, KEY + ["rcv_base", "rcv_field"], "left")
                  .join(methods.withColumnRenamed("name", "called")
                               .withColumnRenamed("m_operand", "ftype")
                               .withColumnRenamed("mc", "r_reg_field"),
                        KEY + ["called", "ftype"], "left")
                  .drop("ftype"))
        else:
            m = m.withColumn("r_reg_field", _null_cand)
        # chained-call receivers: `getClient().query()` — the receiver call's
        # declared return type (Promise-unwrapped) names the method's type
        # (ts registry fn_returns, ts_resolver.rs:459-519 + registry
        # typescript.rs:110-127); fn_returns is keyed per (repo, lang, name)
        # with the first-by-key definition winning
        rets = (fns.where(F.col("m_ret").isNotNull())
                .groupBy(*KEY, "name")
                .agg(F.min_by("m_ret", "skey").alias("ret_type"))
                .withColumnRenamed("name", "rcv_call"))
        m = (m.join(rets, KEY + ["rcv_call"], "left")
              .join(methods.withColumnRenamed("name", "called")
                           .withColumnRenamed("m_operand", "ret_type")
                           .withColumnRenamed("mc", "r_reg_ret"),
                    KEY + ["called", "ret_type"], "left")
              .drop("ret_type"))
        # imported-object receivers (the ts registry's import tracking:
        # `import {analytics} from m; analytics.track()` -> track() in m's
        # file); fires before the skip list like the rest of strategy 0
        imp_reg = imports_map.select(
            "repo", "lang", F.col("file").alias("src_file"),
            F.col("name").alias("operand"),
            F.regexp_replace("module", r"^(\.\./)+", "").alias("module"))
        imp_op = (m.select(*KEY, "src_file", "operand", "called").distinct()
                  .where(F.col("operand").isNotNull())
                  .join(imp_reg, KEY + ["src_file", "operand"], "inner")
                  .join(fns.withColumnRenamed("name", "called"), KEY + ["called"], "inner")
                  .where(F.col("nonempty") & (F.length("module") > 0)
                         & F.col("file").contains(F.col("module")))
                  .groupBy(*KEY, "src_file", "operand", "called")
                  .agg(F.min_by(_cand(), "skey").alias("r_reg_imp")))
        m = m.join(imp_op, KEY + ["src_file", "operand", "called"], "left")
        m = (m.withColumn("r_registry",
                          F.coalesce("r_reg_direct", "r_reg_field",
                                     "r_reg_ret", "r_reg_imp"))
              .drop("r_reg_direct", "r_reg_field", "r_reg_ret", "r_reg_imp"))

    # -- 1. global_unique: one summary row per (repo,lang,name); the all-
    # candidates view and the non-mock view come out of ONE aggregation pass
    # (round 1 ran two window+groupBy chains and joined them) ---------------
    def _unpack(src: str, a: str, b: str):
        return [
            F.when(F.size(src) > 0,
                   F.struct(F.get(src, 0)["file"].alias("file"),
                            F.get(src, 0)["start"].alias("start"))).alias(a),
            F.when(F.size(src) > 1,
                   F.struct(F.get(src, 1)["file"].alias("file"),
                            F.get(src, 1)["start"].alias("start"))).alias(b),
        ]

    cand = F.struct("skey", "file", "start")
    glob = (fns.where(F.col("nonempty"))
            .groupBy(*KEY, "name")
            .agg(F.count("*").alias("cnt"), _top2(cand).alias("t_all"),
                 F.count(F.when(~F.col("is_mock"), F.lit(1))).alias("nm_cnt"),
                 _top2(F.when(~F.col("is_mock"), cand)).alias("t_nm"))
            .select(*KEY, "name", "cnt", "nm_cnt",
                    *_unpack("t_all", "c1", "c2"),
                    *_unpack("t_nm", "nm_c1", "nm_c2")))

    m = m.join(glob.withColumnRenamed("name", "called"), KEY + ["called"], "left")
    self_in = (F.col("src_type") == "Function") & (F.col("called") == F.col("src_name"))
    self_in_nm = self_in & ~F.col("src_file").contains("mock")
    g_pick = F.coalesce(
        _pick_not_self(F.col("cnt"), F.col("c1"), F.col("c2"), self_in),
        _pick_not_self(F.col("nm_cnt"), F.col("nm_c1"), F.col("nm_c2"), self_in_nm),
    )
    m = (m.withColumn("r_global", g_pick)
          .drop("cnt", "c1", "c2", "nm_cnt", "nm_c1", "nm_c2"))

    # -- 2. same_file: FIRST function of that (name, file) in key order; hit
    # only if it has a body and a different start (call_finder.rs:345-369) --
    byfile = (fns.groupBy(*KEY, "name", "file")
              .agg(F.min_by(F.struct("start", "nonempty"), "skey").alias("f1")))
    m = (m.join(byfile.withColumnRenamed("name", "called")
                      .withColumnRenamed("file", "src_file"),
                KEY + ["called", "src_file"], "left")
          .withColumn(
              "r_same_file",
              F.when(F.col("f1").isNotNull() & F.col("f1.nonempty")
                     & (F.col("f1.start") != F.col("src_start")),
                     F.struct(F.col("src_file").alias("file"),
                              F.col("f1.start").alias("start"))))
          .drop("f1"))

    # -- 3. import: imported name -> function whose file contains the module
    imp = (m.select(*KEY, "src_file", "called").distinct()
           .join(imports_map.selectExpr("repo", "lang", "file as src_file",
                                        "name as called", "module"),
                 KEY + ["src_file", "called"], "inner")
           .join(fns.withColumnRenamed("name", "called"), KEY + ["called"], "inner")
           .where(F.col("nonempty") & (F.instr(F.col("file"), F.col("module")) > 0))
           .groupBy(*KEY, "src_file", "called")
           .agg(F.min_by(_cand(), "skey").alias("r_import")))
    m = m.join(imp, KEY + ["src_file", "called"], "left")

    # -- 4. same_dir: unique non-mock candidate in the caller's directory --
    bydir = _first2(fns, KEY + ["name", "dir"],
                    F.col("nonempty") & ~F.col("is_mock"))
    m = (m.withColumn("dir", F.regexp_replace("src_file", "/[^/]*$", ""))
          .join(bydir.withColumnRenamed("name", "called"), KEY + ["called", "dir"], "left"))
    self_in_dir = ((F.col("src_type") == "Function")
                   & (F.col("called") == F.col("src_name"))
                   & ~F.col("src_file").contains("mock"))
    m = (m.withColumn("r_same_dir",
                      _pick_not_self(F.col("cnt"), F.col("c1"), F.col("c2"), self_in_dir))
          .drop("cnt", "c1", "c2", "dir"))

    if lean:
        m = m.withColumn("r_operand", _null_cand).withColumn("r_nested", _null_cand)
    else:
        # -- 5. operand: Instance -> class -> method (call_finder.rs:288-310)
        inst = (instances.where(F.col("data_type").isNotNull())
                .groupBy(*KEY, "name")
                .agg(F.min_by("data_type", node_key_col(F.lit("Instance"), F.col("name"),
                                                        F.col("file"), F.col("start")))
                     .alias("data_type"))
                .selectExpr("repo", "lang", "name as operand", "data_type"))
        by_operand = (fns.where(F.col("m_operand").isNotNull())
                      .groupBy(*KEY, "name", "m_operand")
                      .agg(F.min_by(_cand(), "skey").alias("r_operand")))
        # instance -> (method name, pick), joined BEFORE the mentions: `inst`
        # is unique per (repo, lang, operand) and by_operand per (repo, lang,
        # name, class), so the pair is unique per (operand, called) and one
        # left join equals the two chained ones — and a corpus without
        # Instance nodes folds the whole strategy away.
        # Plain shuffle joins: the instance table grows with the corpus, so
        # a mandatory broadcast would blow the driver at 10^6 repos — AQE
        # picks broadcast when it is actually small
        inst_methods = (inst.join(
            by_operand.withColumnRenamed("name", "called")
                      .withColumnRenamed("m_operand", "data_type"),
            KEY + ["data_type"], "inner").drop("data_type"))
        m = m.join(inst_methods, KEY + ["operand", "called"], "left")

        # -- 6. nested_var: Var operand -> Function meta.nested_in == operand
        var_names = (variables.select(*KEY, F.col("name").alias("operand")).distinct()
                     .withColumn("var_exists", F.lit(True)))
        trim_q = "^[\"'`]|[\"'`]$"
        by_nested = (fns.where(F.col("m_nested_in").isNotNull())
                     .withColumn("nested_in", F.regexp_replace("m_nested_in", trim_q, ""))
                     .groupBy(*KEY, "name", "nested_in")
                     .agg(F.min_by(_cand(), "skey").alias("r_nested")))
        m = (m.join(var_names, KEY + ["operand"], "left")
              .withColumn("operand_trim",
                          F.regexp_replace(F.coalesce("operand", F.lit("")), trim_q, ""))
              .join(by_nested.withColumnRenamed("name", "called")
                             .withColumnRenamed("nested_in", "operand_trim"),
                    KEY + ["called", "operand_trim"], "left")
              .withColumn("r_nested", F.when(F.col("var_exists"), F.col("r_nested")))
              .drop("var_exists", "operand_trim"))

    # -- priority coalesce (first hit wins); skip-listed mentions are only
    # eligible for the registry (skip check runs after it, format.rs:1096) --
    non_reg = F.col("skipflag").isNull()
    pick = F.coalesce(
        F.when(F.col("r_registry").isNotNull(),
               F.struct(F.col("r_registry").alias("c"), F.lit(1.0).alias("conf"),
                        F.lit("type_resolved").alias("strat"))),
        F.when(non_reg & F.col("r_global").isNotNull(),
               F.struct(F.col("r_global").alias("c"), F.lit(0.90).alias("conf"),
                        F.lit("global_unique").alias("strat"))),
        F.when(non_reg & F.col("r_same_file").isNotNull(),
               F.struct(F.col("r_same_file").alias("c"), F.lit(0.85).alias("conf"),
                        F.lit("same_file").alias("strat"))),
        F.when(non_reg & F.col("r_import").isNotNull(),
               F.struct(F.col("r_import").alias("c"), F.lit(0.80).alias("conf"),
                        F.lit("import").alias("strat"))),
        F.when(non_reg & F.col("r_same_dir").isNotNull(),
               F.struct(F.col("r_same_dir").alias("c"), F.lit(0.45).alias("conf"),
                        F.lit("same_dir").alias("strat"))),
        F.when(non_reg & F.col("r_operand").isNotNull(),
               F.struct(F.col("r_operand").alias("c"), F.lit(0.70).alias("conf"),
                        F.lit("operand").alias("strat"))),
        F.when(non_reg & F.col("r_nested").isNotNull(),
               F.struct(F.col("r_nested").alias("c"), F.lit(0.60).alias("conf"),
                        F.lit("nested_var").alias("strat"))),
    )
    return (m.withColumn("picked", pick)
             .withColumn("dst_file", F.col("picked.c.file"))
             .withColumn("dst_start", F.col("picked.c.start"))
             .withColumn("confidence", F.col("picked.conf"))
             .withColumn("strategy", F.col("picked.strat"))
             .drop("picked", "r_registry", "r_global", "r_same_file", "r_import",
                   "r_same_dir", "r_operand", "r_nested"))
