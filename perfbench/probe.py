"""Extraction probe: the extractor layer timed without Spark.

Calls `extract.get_extractor(lang)(path, content)` on every file, single
threaded, and runs the same files through `extract.extract_batch` (the
mapInPandas body) in-process.  Parser exceptions are counted here, because
`extract_batch` swallows them.
"""

from __future__ import annotations

import time

TAIL = 0.05  # "tail" = the largest 5 % of files by size


def time_parsers(rows: list[dict]) -> list[tuple[str, int, float, bool]]:
    """-> one (lang, bytes, seconds, raised) sample per parser input."""
    from stakgraph_spark.extract import get_extractor
    from stakgraph_spark.extract.libs import extract_libs
    from stakgraph_spark.langspec import MAX_FILE_SIZE

    out = []
    for r in rows:
        content, lang = r["content"], r["lang"]
        size = len(content.encode("utf-8", "ignore"))
        if size > MAX_FILE_SIZE or \
                extract_libs(lang, r["path"], content) is not None:
            continue  # not a parser input (same rule as extract_batch)
        fn = get_extractor(lang)
        if fn is None:
            continue
        raised = False
        t = time.perf_counter()
        try:
            fn(r["path"], content)
        except Exception:  # noqa: BLE001 — counted as the layer's failure
            raised = True
        out.append((lang, size, time.perf_counter() - t, raised))
    return out


def by_lang(samples) -> dict:
    """-> {lang: {files, bytes, parse_s, us_per_kb, tail_share,
    parse_errors}}."""
    per: dict[str, list] = {}
    for lang, size, secs, raised in samples:
        per.setdefault(lang, []).append((size, secs, raised))
    out = {}
    for lang, xs in per.items():
        xs.sort()
        total_s = sum(s for _, s, _ in xs)
        total_b = sum(b for b, _, _ in xs)
        n_tail = max(1, round(len(xs) * TAIL))
        out[lang] = {
            "files": len(xs), "bytes": total_b, "parse_s": total_s,
            "us_per_kb": total_s * 1e6 / max(total_b / 1024, 1e-9),
            "tail_share": sum(s for _, s, _ in xs[-n_tail:])
            / max(total_s, 1e-12),
            "parse_errors": sum(e for _, _, e in xs) / len(xs),
        }
    return out


def batch(rows: list[dict], batch_rows: int = 64) -> dict:
    """Run `extract_batch` in-process over pandas batches.
    -> {batch_s, node_rows, fat_rows, mention_rows}."""
    import pandas as pd

    from stakgraph_spark.extract import extract_batch

    cols = ["repo", "path", "lang", "content"]
    frames = [pd.DataFrame([{c: r[c] for c in cols}
                            for r in rows[i:i + batch_rows]], columns=cols)
              for i in range(0, len(rows), batch_rows)]
    counts = {"node": 0, "fat": 0, "mention": 0}
    t = time.perf_counter()
    for out in extract_batch(iter(frames)):
        for rec, n in out["rec"].value_counts().items():
            counts[rec] = counts.get(rec, 0) + int(n)
    return {"batch_s": time.perf_counter() - t,
            "node_rows": counts["node"], "fat_rows": counts["fat"],
            "mention_rows": counts["mention"]}
