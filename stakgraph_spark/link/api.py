"""Request↔Endpoint and test↔endpoint linking.

normalize_frontend_path / normalize_backend_path / paths_match / verbs_match
re-expressed as Spark column expressions so the match is an equi-join on
(verb, segment count) plus a vectorized per-segment zip_with filter — no
Python row code (reference: ast/src/lang/linker.rs:362-506).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..keys import node_key_col

KEY = ["repo"]  # api linking is cross-language within a repo (repo.rs:164-176)


def normalize_frontend(col: Column) -> Column:
    """linker.rs:398-436: drop scheme+host, strip leading ${...}, mask ${...}
    segments to :param, ensure leading slash. Template-only paths -> NULL."""
    c = F.when(col.rlike(r"^\$\{[^{]*\}$"), F.lit(None)).otherwise(col)
    # strip scheme://host
    c = F.when(c.contains("://"),
               F.regexp_replace(c, r"^[^:]*://[^/]*", "")).otherwise(c)
    # leading ${...} prefix
    c = F.when(c.startswith("${"), F.regexp_replace(c, r"^\$\{[^}]*\}", "")).otherwise(c)
    c = F.regexp_replace(c, r"\$\{[^}]+\}", ":param")
    c = F.regexp_replace(c, "^/+", "")
    return F.concat(F.lit("/"), c)


def normalize_backend(col: Column) -> Column:
    """linker.rs:438-476: 7 param syntaxes -> :param, strip trailing slash,
    ensure leading slash."""
    c = col
    for pat in (r"<[^>]+>", r":[^/]+", r"\{[^}]+\}", r"\([^)]+\)",
                r"\[\.\.\.[^\]]+\]", r"\[[^\]]+\]"):
        c = F.regexp_replace(c, pat, ":param")
    c = F.when((F.length(c) > 1) & c.endswith("/"),
               c.substr(F.lit(1), F.length(c) - 1)).otherwise(c)
    return F.when(c.startswith("/"), c).otherwise(F.concat(F.lit("/"), c))


def _segments(c: Column) -> Column:
    return F.filter(F.split(c, "/"), lambda s: s != "")


def _paths_match(f_seg: Column, b_seg: Column) -> Column:
    """linker.rs:478-506 — equal length pre-joined; api-prefix agreement +
    per-segment equal-or-param."""
    f0 = F.get(f_seg, 0)   # null-safe: root paths have no segments
    b0 = F.get(b_seg, 0)
    api_rule = ~(((f0 == "api") | (b0 == "api"))
                 & ~(f0.eqNullSafe(b0)))
    segs_ok = F.aggregate(
        F.zip_with(f_seg, b_seg,
                   lambda a, b: (a == b) | a.startswith(":") | b.startswith(":")),
        F.lit(True), lambda acc, x: acc & x)
    # empty path arrays (root) vacuously match
    return api_rule & segs_ok


def link_requests_to_endpoints(requests: DataFrame,
                               endpoints: DataFrame) -> DataFrame:
    reqs = (requests
            .select("repo", "lang", "name", "file", "start",
                    F.element_at("meta", "verb").alias("verb"))
            .withColumn("npath", normalize_frontend(F.col("name")))
            .where(F.col("npath").isNotNull() & F.col("verb").isNotNull()))
    eps = (endpoints
           .select("repo", F.col("lang").alias("ep_lang"),
                   F.col("name").alias("ep_name"), F.col("file").alias("ep_file"),
                   F.col("start").alias("ep_start"),
                   F.element_at("meta", "verb").alias("ep_verb"))
           .withColumn("ep_npath", normalize_backend(F.col("ep_name")))
           .where(F.col("ep_verb").isNotNull()))
    r = reqs.withColumn("fseg", _segments("npath")) \
            .withColumn("nseg", F.size("fseg")) \
            .withColumn("uverb", F.upper("verb"))
    e = eps.withColumn("bseg", _segments("ep_npath")) \
           .withColumn("nseg", F.size("bseg")) \
           .withColumn("uverb", F.upper("ep_verb"))
    j = (r.join(e, KEY + ["nseg", "uverb"], "inner")
          .where(_paths_match(F.col("fseg"), F.col("bseg"))))
    return j.select(
        "repo", "lang",
        F.lit("Calls").alias("edge_type"),
        node_key_col(F.lit("Request"), F.col("name"), F.col("file"),
                     F.col("start"), F.col("verb")).alias("src_key"),
        node_key_col(F.lit("Endpoint"), F.col("ep_name"), F.col("ep_file"),
                     F.col("ep_start"), F.col("ep_verb")).alias("dst_key"),
    )


# the 11 verb-extraction regexes of linker.rs:327-359 (capture group 1)
_VERB_PATTERNS = [
    r"(?i)\b(GET|POST|PUT|DELETE|PATCH|HEAD|OPTIONS)\s*\(",
    r"(?i)\.(get|post|put|delete|patch|head|options)\s*\(",
    r"(?i)method\s*:\s*[\"']?(GET|POST|PUT|DELETE|PATCH|HEAD|OPTIONS)[\"']?",
    r"(?i)type\s*:\s*[\"']?(GET|POST|PUT|DELETE|PATCH|HEAD|OPTIONS)[\"']?",
]


def link_e2e_tests_pages(e2e_tests: DataFrame, pages: DataFrame) -> DataFrame:
    """E2eTest body contains Page name (case-insensitive) -> Calls edge
    (linker.rs:213-237)."""
    tests = (e2e_tests
             .select("repo", "lang", "name", "file", "start",
                     F.lower(F.coalesce("body", F.lit(""))).alias("body_lc")))
    pages = (pages
             .select("repo", F.col("name").alias("p_name"),
                     F.col("file").alias("p_file"), F.col("start").alias("p_start")))
    # shuffle join on repo (corpus-proportional page table must not be a
    # mandatory broadcast; AQE chooses broadcast when the side is small)
    j = (tests.join(pages, KEY, "inner")
         .where(F.instr(F.col("body_lc"), F.lower(F.col("p_name"))) > 0))
    return j.select(
        "repo", "lang",
        F.lit("Calls").alias("edge_type"),
        node_key_col(F.lit("E2eTest"), F.col("name"), F.col("file"),
                     F.col("start")).alias("src_key"),
        node_key_col(F.lit("Page"), F.col("p_name"), F.col("p_file"),
                     F.col("p_start")).alias("dst_key"),
    )


def link_integration_tests(integration_tests: DataFrame,
                           endpoints: DataFrame) -> DataFrame:
    """IntegrationTest body contains endpoint name (case-insensitive) + verb
    agreement -> Calls edge (linker.rs:34-131).

    The contains-join explodes tests × endpoints per repo; endpoints per repo
    are few (bounded by route count), so this stays linear in tests. The join
    shuffles on repo (co-partitioned with tests); AQE broadcasts the endpoint
    side when it is small — a mandatory broadcast of ALL repos' endpoints
    would grow with the corpus."""
    tests = (integration_tests
             .select("repo", "lang", "name", "file", "start",
                     F.lower(F.coalesce("body", F.lit(""))).alias("body_lc"),
                     F.coalesce("body", F.lit("")).alias("body")))
    for i, pat in enumerate(_VERB_PATTERNS):
        tests = tests.withColumn(
            f"v{i}", F.regexp_extract_all("body", F.lit(pat), 1))
    tests = tests.withColumn(
        "test_verbs",
        F.array_distinct(F.transform(
            F.flatten(F.array(*[F.col(f"v{i}") for i in range(len(_VERB_PATTERNS))])),
            lambda v: F.upper(v)))).drop(*[f"v{i}" for i in range(len(_VERB_PATTERNS))])

    eps = (endpoints
           .select("repo", F.col("name").alias("ep_name"),
                   F.col("file").alias("ep_file"), F.col("start").alias("ep_start"),
                   F.element_at("meta", "verb").alias("ep_verb")))
    j = (tests.join(eps, KEY, "inner")
         .where(F.instr(F.col("body_lc"), F.lower(F.col("ep_name"))) > 0)
         .where((F.size("test_verbs") == 0)
                | F.col("ep_verb").isNull()
                | F.array_contains("test_verbs", F.upper("ep_verb"))))
    return j.select(
        "repo", "lang",
        F.lit("Calls").alias("edge_type"),
        node_key_col(F.lit("IntegrationTest"), F.col("name"), F.col("file"),
                     F.col("start")).alias("src_key"),
        node_key_col(F.lit("Endpoint"), F.col("ep_name"), F.col("ep_file"),
                     F.col("ep_start"), F.col("ep_verb")).alias("dst_key"),
    )


# ---------------------------------------------------------------------------
# e2e test-id linking (linker.rs:242-300)
# ---------------------------------------------------------------------------

# lsp/src/language.rs:295-302 test_id_regex per language (python's pattern
# has no capture group, so it never yields ids — parity kept)
_TS_TESTID = r"""data-testid=["']([^"']+)["']"""
_TS_TESTID_BRACE = r"""data-testid=\{['"`]([^'"`]+)['"`]\}"""
_RB_TESTID = r"""get_by_test_id\(['"]([^'"]+)['"]\)"""

def _test_ids(body_col: Column, ext_col: Column) -> Column:
    ts = F.array_union(
        F.regexp_extract_all(body_col, F.lit(_TS_TESTID), 1),
        F.regexp_extract_all(body_col, F.lit(_TS_TESTID_BRACE), 1))
    rb = F.regexp_extract_all(body_col, F.lit(_RB_TESTID), 1)
    return F.when(ext_col.isin("ts", "tsx", "js", "jsx"), ts) \
            .when(ext_col == "rb", rb) \
            .otherwise(F.array().cast("array<string>"))


def link_e2e_test_ids(e2e_tests: DataFrame,
                      frontend_functions: DataFrame) -> DataFrame:
    """E2eTest and frontend (typescript / react) Function share a test id ->
    Calls edge (link_e2e_tests, linker.rs:242-280).  Keyed on (repo, id):
    the reference joins globally because it builds one repo at a time; at
    multi-repo scale a global id join would cross-link unrelated repos."""
    ext = F.element_at(F.split("file", "\\."), -1)
    tests = (e2e_tests
             .select("repo", "lang", "name", "file", "start",
                     F.explode(_test_ids(F.coalesce("body", F.lit("")), ext))
                     .alias("tid")))
    fns = (frontend_functions
           .select("repo", F.col("name").alias("f_name"),
                   F.col("file").alias("f_file"), F.col("start").alias("f_start"),
                   F.explode(_test_ids(F.coalesce("body", F.lit("")), ext))
                   .alias("tid")))
    j = tests.join(fns, ["repo", "tid"]).dropDuplicates(
        ["repo", "name", "file", "start", "f_name", "f_file", "f_start"])
    return j.select(
        "repo", "lang",
        F.lit("Calls").alias("edge_type"),
        node_key_col(F.lit("E2eTest"), F.col("name"), F.col("file"),
                     F.col("start")).alias("src_key"),
        node_key_col(F.lit("Function"), F.col("f_name"), F.col("f_file"),
                     F.col("f_start")).alias("dst_key"),
    )


# ---------------------------------------------------------------------------
# indirect integration tests via helper functions (linker.rs:94-131)
# ---------------------------------------------------------------------------

def indirect_test_endpoints(integration_tests: DataFrame,
                            functions: DataFrame, requests: DataFrame,
                            endpoints: DataFrame,
                            edges: DataFrame) -> DataFrame:
    """IntegrationTest -CALLS-> helper Function (-CALLS-> nested helper)
    whose body issues a Request matching an Endpoint -> the ENDPOINT node
    gains meta.indirect_test / meta.test_helper (linker.rs:94-131; the
    reference mutates the endpoint node, it does not add an edge).

    Returns (key_h, indirect_test, test_helper) for the meta merge —
    identity here is the 8-byte key_h surrogate (pipeline.EDGE_COLS_H):
    this runs inside the link plane, where edges carry hashed endpoints."""
    tests = integration_tests.select(
        F.col("key_h").alias("t_key"), F.col("name").alias("t_name"))
    fns = functions.select(
        F.col("key_h").alias("h_key"), F.col("name").alias("h_name"),
        F.col("repo").alias("h_repo"), F.col("file").alias("h_file"),
        F.col("start").alias("h_start"), F.col("end").alias("h_end"))
    calls = edges.where(F.col("edge_type") == "Calls")

    def _calls(i):
        return calls.select(F.col("src_h").alias(f"c{i}_src"),
                            F.col("dst_h").alias(f"c{i}_dst"))

    h1 = (tests.join(_calls(1), tests["t_key"] == F.col("c1_src"))
          .join(fns, F.col("c1_dst") == fns["h_key"])
          .select("t_key", "t_name", "h_key", "h_name", "h_repo", "h_file",
                  "h_start", "h_end"))
    # one nested level (get_requests_from_helper -> get_called_helpers)
    h2 = (h1.select("t_key", "t_name", F.col("h_key").alias("hop_src"))
          .join(_calls(2), F.col("hop_src") == F.col("c2_src"))
          .join(fns, F.col("c2_dst") == fns["h_key"])
          .select("t_key", "t_name", "h_key", "h_name", "h_repo", "h_file",
                  "h_start", "h_end"))
    helpers = h1.unionByName(h2).distinct()

    reqs = requests.select(
        F.col("key_h").alias("r_key"), F.col("name").alias("r_name"),
        F.col("repo").alias("r_repo"), F.col("file").alias("r_file"),
        F.col("start").alias("r_start"),
        F.element_at("meta", "verb").alias("r_verb"))
    # request belongs to helper: explicit Calls edge OR spatial containment
    by_edge = (helpers.join(_calls(3), helpers["h_key"] == F.col("c3_src"))
               .join(reqs, F.col("c3_dst") == reqs["r_key"])
               .select("t_name", "h_name", "r_name", "r_verb", "h_repo"))
    by_span = (helpers.join(reqs, helpers["h_repo"] == reqs["r_repo"])
               .where((F.col("r_file") == F.col("h_file"))
                      & (F.col("r_start") >= F.col("h_start"))
                      & (F.col("r_start") <= F.col("h_end")))
               .select("t_name", "h_name", "r_name", "r_verb", "h_repo"))
    hreqs = (by_edge.unionByName(by_span).distinct()
             .withColumn("npath", normalize_frontend(F.col("r_name")))
             .where(F.col("npath").isNotNull() & F.col("r_verb").isNotNull()))

    eps = endpoints.select(
        "key_h", F.col("repo").alias("h_repo"),
        normalize_backend(F.col("name")).alias("npath"),
        F.upper(F.element_at("meta", "verb")).alias("e_verb"))
    hits = hreqs.join(
        eps, (hreqs["h_repo"] == eps["h_repo"])
        & (hreqs["npath"] == eps["npath"])
        & (F.upper(hreqs["r_verb"]) == eps["e_verb"]))
    # pick BOTH names from one matched row (independent mins could name a
    # (test, helper) pair that never co-occurred)
    return (hits.groupBy("key_h")
            .agg(F.min_by(F.struct("t_name", "h_name"),
                          F.struct("t_name", "h_name")).alias("p"))
            .select("key_h", F.col("p.t_name").alias("indirect_test"),
                    F.col("p.h_name").alias("test_helper")))
