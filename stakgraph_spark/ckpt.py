"""Stage-checkpoint strategy, shared by the pipeline/link/prune planes.

Two interchangeable materialization backends:

* local (default)          — `localCheckpoint` with serialized+compressed
                             blocks.  Zero I/O, but block registration is
                             single-threaded on the driver — a measured
                             data-proportional serial cost at bench scale
                             (VERDICT r03), and RDD blocks are row-oriented:
                             every downstream read deserializes all columns.
* parquet (STAKGRAPH_CKPT=parquet) — write the stage to parquet in a temp
                             dir and read it back.  Costs one parallel I/O
                             pass but gives columnar pruning + predicate
                             pushdown to the ~10 families that re-read each
                             stage, and the write is executor-parallel (no
                             driver serial section).  This is also exactly
                             the cluster story (`runner.py` stage tables),
                             so the A/B doubles as a rehearsal of the
                             production plan.

`bench.py --scaling` runs whichever mode the env selects; BENCH/ records
the A/B outcome.
"""

from __future__ import annotations

import atexit
import itertools
import os
import shutil
import tempfile

from pyspark.storagelevel import StorageLevel

# serialized (+lz4 when spark.rdd.compress=true) blocks: the deserialized
# default kept multi-GB object graphs on the heap, and the GC pressure
# throttled exactly the high-parallelism runs the scaling target measures
SER_LEVEL = StorageLevel.MEMORY_AND_DISK

_SEQ = itertools.count()
_DIR: str | None = None
# live localCheckpoint DataFrames, so a bench harness can release the
# previous rep's RDD blocks SYNCHRONOUSLY before the next rep starts —
# ContextCleaner unpersists asynchronously after a driver GC, and the lag
# left rep N's serialized blocks squatting in the storage pool while
# rep N+1's extraction materialized (measured: rep-2 nodes_assembled spans
# ran 1.2-1.6x rep 1 at 0.36-0.41 core-util in the r5 scaling legs).
# BOUNDED (ADVICE r06): in a long-lived session (PipelineRunner reused,
# test suite, notebook) an unbounded strong-ref list would pin every
# build's checkpoint blocks forever — once the registry exceeds _LIVE_MAX,
# the OLDEST refs are dropped (not unpersisted), restoring the pre-r6
# behavior for them: when the caller's own references go too, the
# ContextCleaner reclaims the blocks asynchronously.  Recent checkpoints
# (the current bench rep's) stay synchronously releasable.
_LIVE: list = []
_LIVE_MAX = 64


def release_all() -> int:
    """Unpersist every registered checkpoint (blocking); -> count.

    Call between benchmark reps.  NOTE (ADVICE r06): a localCheckpoint's
    lineage is truncated, so any still-held DataFrame from a PRIOR build —
    e.g. a kept GraphResult.nodes — fails on its next action after this
    (the data is unrecoverable, not recomputable); only call when every
    stage DataFrame from earlier builds is dead."""
    n = 0
    while _LIVE:
        df = _LIVE.pop()
        try:
            df.unpersist(blocking=True)
            n += 1
        except Exception:
            pass
    return n


def _parquet_dir() -> str:
    global _DIR
    if _DIR is None:
        _DIR = tempfile.mkdtemp(prefix="stakgraph_ckpt_")
        atexit.register(shutil.rmtree, _DIR, True)
    return _DIR


def _is_empty(df) -> bool:
    """True when Catalyst has already proven `df` empty (its optimized plan
    is bounded at zero rows — an empty LocalRelation after empty-relation
    propagation).  Planning only; no job runs."""
    rows = df._jdf.queryExecution().optimizedPlan().maxRows()
    return rows.isDefined() and rows.get() == 0


def ckpt(df, name: str, eager: bool = True):
    """Materialize a stage DataFrame and truncate its lineage.

    `name` labels the stage: it is the `spark.job.description` of every job
    the materialization runs on the calling thread (restored afterwards),
    so each job in the event log maps to its checkpoint.

    A plan Catalyst has already proven empty is returned as it is: it costs
    no job, and downstream plans keep folding it away (a checkpointed empty
    table is an opaque scan to the optimizer).

    eager=False marks single-consumer stages where an immediate blocking
    materialization is pure barrier cost; BOTH backends honor it (parquet
    mode used to force an eager write, re-introducing exactly the barriers
    the lazy call sites exist to avoid — ADVICE r04).  The mode env is read
    per call so tests/benches can flip backends after import."""
    if _is_empty(df):
        return df
    sc = df.sparkSession.sparkContext
    prev = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(name)
    try:
        return _materialize(df, eager)
    finally:
        sc.setLocalProperty("spark.job.description", prev)


def _materialize(df, eager: bool):
    if os.environ.get("STAKGRAPH_CKPT", "local") == "parquet":
        if not eager:
            # no lazy parquet materialization exists; pure pass-through so
            # the lineage really is left intact.  (A lazy localCheckpoint
            # here would lazily truncate lineage and pin RDD blocks —
            # re-introducing the driver/block behavior parquet mode exists
            # to avoid, and localCheckpoint is unsafe under executor loss
            # in the cluster deployment this mode rehearses — ADVICE r05.)
            return df
        path = os.path.join(_parquet_dir(), f"c{next(_SEQ)}")
        df.write.mode("overwrite").parquet(path)
        return df.sparkSession.read.parquet(path)
    out = df.localCheckpoint(eager=eager, storageLevel=SER_LEVEL)
    _LIVE.append(out)
    if len(_LIVE) > _LIVE_MAX:
        del _LIVE[: len(_LIVE) - _LIVE_MAX]   # drop refs only; see comment
    return out
