"""Seeded input generators for the benchmark.

Three generators, each a pure function of its seed and parameters:

* `webapp_corpus` — synthetic web-app monorepos (Flask / FastAPI routes,
  `requests` clients, pytest tests, React components calling `fetch`, Go
  `net/http` handlers) with dense cross-file calls and shared method names.
  It returns the source rows plus the ground truth it planted: endpoints,
  handlers, request -> endpoint links, test -> handler calls and cross-file
  calls.
* `library_corpus` — Python library modules whose sizes follow a lognormal
  tail (a few files of 50-300 KB among many small ones), with the name skew
  of real code (`__init__`, `get`, `update` on every class).  It feeds the
  extraction probe only.
* `catalog_tables` — the ten tables the textops catalog reads, shaped like
  the sf test data (same schemas, value domains and rows per scale factor).

`stage_source` / `stage_tables` write a corpus as parquet under the
benchmark's cache directory, in a directory named by (kind, seed,
parameters, content digest).
"""

from __future__ import annotations

import hashlib
import json
import os
import random
import shutil

SOURCE_COLS = ("repo", "path", "commit", "lang", "content")

_WORDS = ["user", "order", "invoice", "item", "cart", "payment", "profile",
          "ticket", "report", "session", "account", "product", "review",
          "coupon", "shipment", "refund", "message", "project", "task",
          "comment", "team", "invite", "device", "alert"]
_VERBS = ["load", "fetch", "build", "apply", "merge", "check", "render",
          "store", "parse", "sync", "score", "format"]


class CorpusError(RuntimeError):
    """A generator or sampler produced no usable input."""


def rows_digest(rows) -> str:
    """sha256 over the sorted (repo, path, lang, sha256(content)) tuples."""
    h = hashlib.sha256()
    for r in sorted(rows, key=lambda r: (r["repo"], r["path"])):
        c = hashlib.sha256((r["content"] or "").encode()).hexdigest()
        h.update(f"{r['repo']}\0{r['path']}\0{r['lang']}\0{c}\n".encode())
    return h.hexdigest()


def lang_stats(rows) -> dict:
    out: dict = {}
    for r in rows:
        s = out.setdefault(r["lang"], {"files": 0, "bytes": 0})
        s["files"] += 1
        s["bytes"] += len((r["content"] or "").encode())
    return dict(sorted(out.items()))


# --------------------------------------------------------------------------
# web-app monorepos
# --------------------------------------------------------------------------

def _title(s: str) -> str:
    return s[:1].upper() + s[1:]


def _py_helper(rng, res: str, j: int, names: list[str],
               nxt: tuple[int, str]) -> tuple[str, list]:
    """One helper module: a chain of functions, each calling the next one;
    the last calls the first function of the next helper module `nxt`."""
    lines = [f"from backend.{res}.helpers_{nxt[0]} import {nxt[1]}", "", ""]
    calls = []
    for i, n in enumerate(names):
        callee = names[i + 1] if i + 1 < len(names) else nxt[1]
        lines += [f"def {n}(value, depth=0):",
                  f'    """Step {i} of the {res} pipeline."""']
        lines += [f"    value = value + {rng.randint(1, 9)}  # step {b}"
                  for b in range(rng.randint(2, 6))]
        lines += [f"    value = {callee}(value, depth + 1)",
                  "    return value", "", ""]
        calls.append((n, callee))
    return "\n".join(lines), calls


def webapp_corpus(seed: int, repos: int = 8, resources: int = 5,
                  helpers: int = 3) -> tuple[list[dict], dict]:
    """-> (source rows, ground truth).  Every repo has `resources` REST
    resources; each resource contributes 8 + `helpers` files."""
    if repos < 1 or resources < 1 or helpers < 2:
        raise CorpusError("webapp corpus needs repos>=1, resources>=1, "
                          "helpers>=2")
    rows: list[dict] = []
    truth = {"endpoints": [], "handlers": [], "requests": [], "tests": [],
             "calls": []}
    for r in range(repos):
        rng = random.Random(f"webapp:{seed}:{r}")
        repo = f"acme/webapp-{r:02d}-{rng.randrange(16**6):06x}"
        commit = f"{rng.randrange(16**10):010x}"
        words = rng.sample(_WORDS, resources)
        port = rng.choice([5000, 8000, 8080])

        def add(path, lang, content, repo=repo, commit=commit):
            # paths are unique across repos (the checkout directory leads),
            # as node keys carry the path but not the repo
            rows.append({"repo": repo, "path": f"{repo.split('/')[1]}/{path}",
                         "commit": commit, "lang": lang, "content": content})

        add("backend/common/util.py", "python", "\n".join([
            "class Cache:",
            "    def __init__(self):",
            "        self.data = {}",
            "",
            "    def get(self, key):",
            "        return self.data.get(key)",
            "",
            "    def update(self, key, value):",
            "        self.data[key] = value",
            "",
            "",
            "def normalize(value):",
            "    return str(value).strip().lower()",
            "",
            "",
            "def paginate(items, page=0, size=20):",
            "    return items[page * size:(page + 1) * size]",
            ""]))
        for k, res in enumerate(words):
            cls = _title(res)
            base = f"/api/{res}s"
            chains = [[f"{rng.choice(_VERBS)}_{res}_{j}_{i}"
                       for i in range(4)] for j in range(helpers)]
            peers = [c[0] for c in chains]
            for j in range(helpers):
                nxt = ((j + 1) % helpers, peers[(j + 1) % helpers])
                src, calls = _py_helper(rng, res, j, chains[j], nxt)
                add(f"backend/{res}/helpers_{j}.py", "python", src)
                truth["calls"].extend((repo, a, b) for a, b in calls)

            add(f"backend/{res}/model.py", "python", "\n".join([
                "from dataclasses import dataclass", "", "",
                "@dataclass",
                f"class {cls}:",
                "    id: int",
                "    name: str",
                f"    {rng.choice(['price', 'score', 'weight'])}: float = 0.0",
                "",
                "    def validate(self):",
                "        return bool(self.name)",
                "",
                "    def update(self, **fields):",
                "        for k, v in fields.items():",
                "            setattr(self, k, v)",
                "        return self",
                ""]))
            load, lst, save = f"load_{res}", f"list_{res}s", f"save_{res}"
            add(f"backend/{res}/service.py", "python", "\n".join([
                "from backend.common.util import Cache, normalize, paginate",
                f"from backend.{res}.model import {cls}",
                f"from backend.{res}.helpers_0 import {peers[0]}",
                "", "",
                f"class {cls}Service:",
                "    def __init__(self):",
                "        self.cache = Cache()",
                "",
                "    def get(self, ident):",
                "        return self.cache.get(normalize(ident))",
                "", "",
                f"def {load}(ident):",
                f"    return {cls}(id={peers[0]}(int(ident)), "
                "name=normalize(ident))",
                "", "",
                f"def {lst}(page=0):",
                f"    return paginate([{load}(i) for i in range(40)], page)",
                "", "",
                f"def {save}(data):",
                f"    item = {cls}(id=0, name=normalize(data))",
                "    return item.validate()",
                ""]))
            truth["calls"] += [(repo, load, peers[0]), (repo, lst, load)]
            h_list, h_get, h_new = (f"{lst}_handler", f"get_{res}_handler",
                                    f"create_{res}_handler")
            imp = f"from backend.{res}.service import {load}, {lst}, {save}"
            if k % 2 == 0:
                route_src = [
                    "from flask import Blueprint, jsonify", imp, "",
                    f'bp = Blueprint("{res}", __name__)', "", "",
                    f'@bp.route("{base}", methods=["GET"])',
                    f"def {h_list}():",
                    f"    return jsonify({lst}())", "", "",
                    f'@bp.route("{base}/<ident>", methods=["GET"])',
                    f"def {h_get}(ident):",
                    f"    return jsonify({load}(ident))", "", "",
                    f'@bp.route("{base}", methods=["POST"])',
                    f"def {h_new}():",
                    f"    return jsonify({save}('x'))", ""]
                get_route = f"{base}/<ident>"
            else:
                route_src = [
                    "from fastapi import APIRouter", imp, "",
                    "router = APIRouter()", "", "",
                    f'@router.get("{base}")',
                    f"def {h_list}():",
                    f"    return {lst}()", "", "",
                    f'@router.get("{base}/{{ident}}")',
                    f"def {h_get}(ident: str):",
                    f"    return {load}(ident)", "", "",
                    f'@router.post("{base}")',
                    f"def {h_new}():",
                    f"    return {save}('x')", ""]
                get_route = f"{base}/{{ident}}"
            add(f"backend/{res}/routes.py", "python", "\n".join(route_src))
            for verb, route, h in (("GET", base, h_list),
                                   ("GET", get_route, h_get),
                                   ("POST", base, h_new)):
                truth["endpoints"].append((repo, verb, route))
                truth["handlers"].append((repo, route, h))
            truth["calls"] += [(repo, h_list, lst), (repo, h_get, load),
                               (repo, h_new, save)]

            add(f"backend/tests/test_{res}.py", "python", "\n".join([
                f"from backend.{res}.routes import {h_list}, {h_new}", "", "",
                f"def test_{res}_list():",
                f"    assert {h_list}() is not None", "", "",
                f"def test_{res}_create():",
                f"    assert {h_new}() is not None", ""]))
            truth["tests"] += [(repo, f"test_{res}_list", h_list),
                               (repo, f"test_{res}_create", h_new)]

            add(f"clients/{res}_client.py", "python", "\n".join([
                "import requests", "", "",
                f"def fetch_{res}s():",
                f'    return requests.get("http://localhost:{port}{base}")'
                ".json()", "", "",
                f"def push_{res}(payload):",
                f'    return requests.post("http://localhost:{port}{base}", '
                "json=payload)", ""]))
            truth["requests"] += [(repo, "GET", base), (repo, "POST", base)]

            add(f"frontend/src/components/{cls}List.jsx", "react", "\n".join([
                'import React, { useEffect, useState } from "react";', "",
                f"export function {cls}List() {{",
                "  const [rows, setRows] = useState([]);",
                "  useEffect(() => {",
                f'    fetch("{base}").then((r) => r.json()).then(setRows);',
                "  }, []);",
                f'  return <ul className="{res}-list">'
                "{rows.map((x) => <li key={x.id}>{x.name}</li>)}</ul>;",
                "}", "",
                f"export function {cls}Count({{ rows }}) {{",
                "  return <span>{rows.length}</span>;",
                "}", ""]))
            truth["requests"].append((repo, "GET", base))

            gname = f"handle{cls}s"
            v2 = f"/api/v2/{res}s"
            add(f"gosvc/{res}_handler.go", "go", "\n".join([
                "package gosvc", "",
                'import (\n\t"encoding/json"\n\t"net/http"\n)', "",
                f"func count{cls}s(items []string) int {{",
                "\treturn len(items)",
                "}", "",
                f"func {gname}(w http.ResponseWriter, r *http.Request) {{",
                f'\titems := []string{{"{res}"}}',
                f"\tjson.NewEncoder(w).Encode(count{cls}s(items))",
                "}", "",
                f"func Register{cls}() {{",
                f'\thttp.HandleFunc("{v2}", {gname})',
                "}", ""]))
            truth["endpoints"].append((repo, "GET", v2))
            truth["handlers"].append((repo, v2, gname))
            truth["calls"].append((repo, gname, f"count{cls}s"))
    if not rows:
        raise CorpusError("webapp generator produced zero files")
    return rows, truth


def edit_row(row: dict, step: int) -> tuple[dict, str, str]:
    """A one-file edit: append a new function that calls the file's first
    function.  -> (edited copy of the row, new function, its callee)."""
    first = None
    for line in row["content"].split("\n"):
        if line.startswith("def "):
            first = line[4:line.index("(")]
            break
    if first is None:
        raise CorpusError(f"no function to call in {row['path']}")
    fn = f"edited_step_{step}"
    extra = f"\n\ndef {fn}(value):\n    return {first}(value, 0)\n"
    return {**row, "content": row["content"] + extra}, fn, first


# --------------------------------------------------------------------------
# library code with a size tail (extraction probe)
# --------------------------------------------------------------------------

def _py_class(rng, name: str, methods: int) -> list[str]:
    out = [f"class {name}(object):", f'    """{name} keeps state."""', "",
           "    def __init__(self, *args, **kwargs):",
           "        self.args = args",
           "        self.kwargs = dict(kwargs)", ""]
    common = ["get", "update", "keys", "close", "reset", "copy"]
    for m in range(methods):
        mname = common[m] if m < len(common) else \
            f"{rng.choice(_VERBS)}_{rng.choice(_WORDS)}_{m}"
        out += [f"    def {mname}(self, key=None, default=None):",
                "        if key is None:",
                "            return default",
                "        value = self.kwargs.get(key, default)",
                f"        for i in range({rng.randint(2, 9)}):",
                "            value = self._step(value, i)",
                "        return value", ""]
    out += ["    def _step(self, value, i):",
            "        return value if i % 2 else self.get(value)", "", ""]
    return out


def library_corpus(seed: int, files: int = 120,
                   median_kb: float = 3.0, max_kb: int = 300) -> list[dict]:
    """Python modules with lognormally distributed sizes (sigma 1.3 — the
    largest 5 % of files hold roughly half the bytes, as in a stdlib)."""
    if files < 1:
        raise CorpusError("library corpus needs files>=1")
    rng = random.Random(f"library:{seed}")
    rows = []
    for i in range(files):
        pkg = f"lib{i % 6}"
        target = min(max_kb, rng.lognormvariate(0, 1.3) * median_kb) * 1024
        lines = ['"""Generated library module."""', "import os", "import re",
                 f"from {pkg}.base import Base, helper", "", ""]
        c = 0
        while sum(len(x) + 1 for x in lines) < target:
            lines += _py_class(rng, f"{_title(rng.choice(_WORDS))}{c}",
                               rng.randint(3, 10))
            lines += [f"def helper_{c}(obj):",
                      "    return obj.get('x') or helper(obj)", "", ""]
            c += 1
        rows.append({"repo": f"lib/{pkg}", "path": f"{pkg}/mod_{i:03d}.py",
                     "commit": "0", "lang": "python",
                     "content": "\n".join(lines)})
    return rows


# --------------------------------------------------------------------------
# catalog tables (sf0.1 shape)
# --------------------------------------------------------------------------

_DOC_VOCAB = ["spark", "window", "merge", "table", "column", "vector",
              "stream", "value", "data", "small", "join", "filter", "big",
              "group", "hash", "customer", "sort", "order", "slow", "line",
              "part", "fast", "row", "the", "agg", "key", "query", "a",
              "scan", "batch"]


def catalog_tables(seed: int, scale: float = 0.1) -> dict:
    """-> {table name: pyarrow.Table}.  Row counts follow the sf layout
    (documents 50k x sf, embeddings 20k x sf, events 1M x sf, lineitem
    6M x sf, ...)."""
    import numpy as np
    import pyarrow as pa

    if scale <= 0:
        raise CorpusError("catalog scale must be positive")
    rs = np.random.default_rng([seed, 0x5EED])
    n_doc, n_emb, n_ev = int(50_000 * scale), int(20_000 * scale), \
        int(1_000_000 * scale)
    n_li, n_ord, n_cust = int(6_000_000 * scale), int(1_500_000 * scale), \
        int(150_000 * scale)
    n_part, n_supp = int(200_000 * scale), int(10_000 * scale)

    langs = np.array(["en", "zh", "es", "fr", "de"])
    lens = rs.integers(10, 101, n_doc)
    words = rs.integers(0, len(_DOC_VOCAB), int(lens.sum()))
    ends = np.cumsum(lens)
    texts = [" ".join(_DOC_VOCAB[w] for w in words[e - n:e])
             for n, e in zip(lens, ends)]
    # 5 % near duplicates ("<text> dup") and 0.16 % exact duplicates, as in
    # the sf test data; every source document is copied at most once
    order = rs.permutation(n_doc)
    n_near, n_exact = n_doc // 20, max(1, n_doc // 625)
    copies = order[:n_near + n_exact]
    sources = order[n_near + n_exact:2 * (n_near + n_exact)]
    for k, (dst, src) in enumerate(zip(copies, sources)):
        texts[dst] = texts[src] + (" dup" if k < n_near else "")
    documents = pa.table({
        "doc_id": pa.array(np.arange(n_doc), pa.int64()),
        "text": texts,
        "lang": langs[rs.choice(5, n_doc, p=[.4, .15, .15, .15, .15])],
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })

    emb = rs.standard_normal((n_emb, 64)).astype("float32")
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    embeddings = pa.table({
        "vec_id": pa.array(np.arange(n_emb), pa.int64()),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(rs.integers(0, 10, n_emb), pa.int32()),
    })

    base_us = np.datetime64("2024-01-01T00:00:00", "us")
    ts = base_us + np.sort(rs.integers(0, 30 * 86_400 * 10**6, n_ev)) \
        .astype("timedelta64[us]")
    events = pa.table({
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rs.integers(0, max(1, n_ev // 66), n_ev),
                            pa.int64()),
        "event_type": np.array(["signup", "purchase", "view", "click",
                                "error"])[rs.integers(0, 5, n_ev)],
        "value": np.round(rs.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rs.integers(0, 100, n_ev)],
    })

    day0 = np.datetime64("1995-01-01T00:00:00", "us")
    days = lambda n, hi: day0 + (rs.integers(0, hi, n)  # noqa: E731
                                 * 86_400 * 10**6).astype("timedelta64[us]")
    lineitem = pa.table({
        "l_orderkey": pa.array(rs.integers(0, n_ord, n_li), pa.int64()),
        "l_partkey": pa.array(rs.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rs.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(rs.integers(1, 8, n_li), pa.int32()),
        "l_quantity": rs.integers(1, 51, n_li).astype("float64"),
        "l_extendedprice": np.round(rs.uniform(900, 105_000, n_li), 2),
        "l_discount": np.round(rs.integers(0, 11, n_li) / 100, 2),
        "l_tax": np.round(rs.integers(0, 9, n_li) / 100, 2),
        "l_returnflag": np.array(["A", "N", "R"])[rs.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[rs.integers(0, 2, n_li)],
        "l_shipdate": pa.array(days(n_li, 2500), pa.timestamp("us")),
    })
    orders = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rs.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": np.array(["F", "O", "P"])[rs.integers(0, 3, n_ord)],
        "o_totalprice": np.round(rs.uniform(1000, 500_000, n_ord), 2),
        "o_orderdate": pa.array(days(n_ord, 2405), pa.timestamp("us")),
        "o_orderpriority": np.array(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
        )[rs.integers(0, 5, n_ord)],
    })
    customer = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rs.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": np.round(rs.uniform(-1000, 10_000, n_cust), 2),
        "c_mktsegment": np.array(["AUTOMOBILE", "BUILDING", "FURNITURE",
                                  "HOUSEHOLD", "MACHINERY"]
                                 )[rs.integers(0, 5, n_cust)],
    })
    nation = pa.table({
        "n_nationkey": pa.array(np.arange(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25) % 5, pa.int32()),
    })
    region = pa.table({
        "r_regionkey": pa.array(np.arange(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    adj = ["blue", "small", "red", "large", "steel", "green", "tiny", "old"]
    noun = ["anvil", "widget", "gear", "bolt", "valve", "pump", "spring",
            "lever"]
    part = pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": [f"{adj[a]} {noun[b]}" for a, b in
                   rs.integers(0, 8, (n_part, 2))],
        "p_brand": [f"Brand#{b}" for b in rs.integers(1, 26, n_part)],
        "p_type": np.array(["ECONOMY", "STANDARD", "PROMO", "LARGE",
                            "MEDIUM", "SMALL"])[rs.integers(0, 6, n_part)],
        "p_size": pa.array(rs.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900 + rs.integers(0, 1000, n_part) / 10,
                                  1),
    })
    supplier = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rs.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": np.round(rs.uniform(-1000, 10_000, n_supp), 2),
    })
    return {"documents": documents, "embeddings": embeddings,
            "events": events, "lineitem": lineitem, "orders": orders,
            "customer": customer, "nation": nation, "region": region,
            "part": part, "supplier": supplier}


def tables_digest(tables: dict) -> str:
    h = hashlib.sha256()
    for name in sorted(tables):
        t = tables[name]
        h.update(name.encode())
        h.update(str(t.schema).encode())
        for col in t.column_names:
            for chunk in t.column(col).chunks:
                for buf in chunk.buffers():
                    if buf is not None:
                        h.update(buf)
    return h.hexdigest()


# --------------------------------------------------------------------------
# staging
# --------------------------------------------------------------------------

def stage_key(kind: str, seed: int, params: dict, digest: str) -> str:
    blob = json.dumps([kind, seed, params, digest], sort_keys=True)
    return f"{kind}-{hashlib.sha256(blob.encode()).hexdigest()[:16]}"


def stage_source(rows: list[dict], root: str, key: str,
                 files_per_part: int = 64) -> str:
    """Write source rows as single-row-group parquet files (one directory
    per key).  A finished directory carries a _SUCCESS marker and is reused;
    a partial one is replaced."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    if not rows:
        raise CorpusError(f"refusing to stage an empty corpus ({key})")
    path = os.path.join(root, key)
    if os.path.exists(os.path.join(path, "_SUCCESS")):
        return path
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    ordered = sorted(rows, key=lambda r: (r["repo"], r["path"]))
    schema = pa.schema([(c, pa.string()) for c in SOURCE_COLS])
    for i in range(0, len(ordered), files_per_part):
        chunk = ordered[i:i + files_per_part]
        tbl = pa.table({c: [r[c] for r in chunk] for c in SOURCE_COLS},
                       schema=schema)
        pq.write_table(tbl, os.path.join(path, f"part-{i:06d}.parquet"))
    open(os.path.join(path, "_SUCCESS"), "w").close()
    return path


def stage_tables(tables: dict, root: str, key: str) -> str:
    import pyarrow.parquet as pq

    path = os.path.join(root, key)
    if os.path.exists(os.path.join(path, "_SUCCESS")):
        return path
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    for name, t in tables.items():
        pq.write_table(t, os.path.join(path, f"{name}.parquet"))
    open(os.path.join(path, "_SUCCESS"), "w").close()
    return path
