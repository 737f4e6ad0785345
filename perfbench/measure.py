"""Process-tree accounting and graph digests.

CPU and peak memory come from /proc, so they include the JVM and the Python
workers the JVM forks, not only the driver.
"""

from __future__ import annotations

import os
import time

_TICK = os.sysconf("SC_CLK_TCK")


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(d))
    return kids


def tree_pids(root: int | None = None) -> list[int]:
    root = root or os.getpid()
    kids, out, todo = _children(), [], [root]
    while todo:
        p = todo.pop()
        out.append(p)
        todo += kids.get(p, [])
    return out


def tree_cpu_s() -> float:
    """User + system CPU of this process and every live descendant,
    including the CPU of descendants already reaped (cutime/cstime)."""
    total = 0
    for p in tree_pids():
        try:
            with open(f"/proc/{p}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += sum(int(x) for x in fields[11:15])
    return total / _TICK


def peak_rss_mb(pids: list[int]) -> float:
    """Sum of VmHWM (peak resident set) over `pids`, in MB."""
    total = 0
    for p in pids:
        try:
            with open(f"/proc/{p}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total += int(line.split()[1])
        except OSError:
            continue
    return total / 1024


def _stat(pid: int) -> tuple[str, int] | None:
    """(state, start time) of `pid`, or None if there is no such process."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
        return fields[0], int(fields[19])
    except (OSError, IndexError, ValueError):
        return None


def descendants() -> dict[int, int]:
    """{pid: start time} of every live descendant of this process."""
    out = {}
    for p in tree_pids()[1:]:
        st = _stat(p)
        if st is not None:
            out[p] = st[1]
    return out


def _alive(pid: int, start: int) -> bool:
    st = _stat(pid)
    if st is None or st[1] != start:
        return False  # gone, or the pid now names another process
    if st[0] == "Z":
        try:  # reap it if it is our own child; else its new parent will
            os.waitpid(pid, os.WNOHANG)
        except ChildProcessError:
            pass
        return False
    return True


def end_processes(procs: dict[int, int], grace_s: float = 30.0) -> list[int]:
    """Wait until every process of `procs` ({pid: start time}, as from
    `descendants`) has ended, also those reparented since the snapshot.
    Those still alive after `grace_s` get SIGTERM, and SIGKILL 5 s later.
    -> the pids that had to be signalled."""
    import signal

    signalled: list[int] = []
    for sig, wait_s in ((None, grace_s), (signal.SIGTERM, 5.0),
                        (signal.SIGKILL, 10.0)):
        left = {p: s for p, s in procs.items() if _alive(p, s)}
        if not left:
            break
        if sig is not None:
            for p in left:
                try:
                    os.kill(p, sig)
                except ProcessLookupError:
                    pass
            signalled += [p for p in left if p not in signalled]
        deadline = time.monotonic() + wait_s
        while left and time.monotonic() < deadline:
            time.sleep(0.05)
            left = {p: s for p, s in left.items() if _alive(p, s)}
    return signalled


def jvm_pid() -> int | None:
    """The JVM launched by this process (a descendant running java)."""
    for p in tree_pids()[1:]:
        try:
            with open(f"/proc/{p}/comm") as f:
                if f.read().strip() == "java":
                    return p
        except OSError:
            continue
    return None


# --------------------------------------------------------------------------
# graph digests
# --------------------------------------------------------------------------

def _digest_agg(F, key_col):
    h = F.xxhash64(key_col)
    return [F.count(F.lit(1)).alias("n"),
            F.sum(h.cast("decimal(38,0)")).cast("string").alias("sum"),
            F.bit_xor(h).alias("xor")]


def graph_counts(nodes, edges) -> dict:
    """Per-type counts plus a layout-independent key digest (count, sum and
    xor of xxhash64 over the node_key set and the (src_key, dst_key,
    edge_type) set).  One aggregation job per table."""
    from pyspark.sql import functions as F

    n_rows = (nodes.groupBy("node_type")
              .agg(*_digest_agg(F, F.col("node_key"))).collect())
    e_rows = (edges.groupBy("edge_type")
              .agg(*_digest_agg(F, F.concat_ws(
                  "\u0001", "src_key", "dst_key", "edge_type"))).collect())
    return {
        "nodes": {r["node_type"]: r["n"] for r in n_rows},
        "edges": {r["edge_type"]: r["n"] for r in e_rows},
        "key_digest": _fold([(r["node_type"], r["sum"], r["xor"])
                             for r in n_rows]
                            + [("E:" + r["edge_type"], r["sum"], r["xor"])
                               for r in e_rows]),
    }


def _fold(parts) -> str:
    import hashlib
    h = hashlib.sha256()
    for p in sorted(parts):
        h.update(repr(p).encode())
    return h.hexdigest()[:16]


def full_row_digest(nodes, edges) -> str:
    """Order-insensitive digest over every column of every row (maps are
    canonicalized by sorting their entries)."""
    from pyspark.sql import functions as F

    def canon(df):
        cols = []
        for f in sorted(df.schema.fields, key=lambda f: f.name):
            c = F.col(f.name)
            if f.dataType.typeName() == "map":
                c = F.to_json(F.array_sort(F.map_entries(c)))
            cols.append(c.cast("string"))
        h = F.xxhash64(*cols)
        return df.agg(F.count(F.lit(1)).alias("n"),
                      F.sum(h.cast("decimal(38,0)")).cast("string")
                      .alias("s"), F.bit_xor(h).alias("x")).first()

    a, b = canon(nodes), canon(edges)
    return _fold([tuple(a), tuple(b)])


def file_hash_mismatches(nodes, source) -> int:
    """File nodes whose `hash` is not sha256(content) of their source row."""
    from pyspark.sql import functions as F

    files = nodes.where(F.col("node_type") == "File").select(
        "repo", F.col("file").alias("path"), "hash")
    src = source.select("repo", "path",
                        F.sha2(F.coalesce("content", F.lit("")), 256)
                        .alias("want"))
    return (files.join(src, ["repo", "path"], "left")
            .where(F.col("want").isNull() | (F.col("hash") != F.col("want")))
            .count())
