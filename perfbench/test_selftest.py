"""Self-tests for the benchmark's own code (no Spark session needed).

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import re
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(0, os.path.dirname(HERE))

import corpus  # noqa: E402
import evlog  # noqa: E402
import measure  # noqa: E402
import run  # noqa: E402

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")
RECORDED_LOG = os.path.join(HERE, "testdata", "evlog")


def test_same_seed_same_corpus_digest():
    a, ta = corpus.webapp_corpus(7, repos=2)
    b, tb = corpus.webapp_corpus(7, repos=2)
    c, _ = corpus.webapp_corpus(8, repos=2)
    assert corpus.rows_digest(a) == corpus.rows_digest(b)
    assert ta == tb
    assert corpus.rows_digest(a) != corpus.rows_digest(c)
    la, lc = corpus.library_corpus(7, files=5), corpus.library_corpus(8,
                                                                      files=5)
    assert corpus.rows_digest(la) == corpus.rows_digest(
        corpus.library_corpus(7, files=5))
    assert corpus.rows_digest(la) != corpus.rows_digest(lc)


def test_same_seed_same_catalog_tables():
    d = lambda s: corpus.tables_digest(  # noqa: E731
        corpus.catalog_tables(s, scale=0.002))
    assert d(3) == d(3)
    assert d(3) != d(4)


def test_generators_raise_on_empty_input(tmp_path):
    with pytest.raises(corpus.CorpusError):
        corpus.webapp_corpus(1, repos=0)
    with pytest.raises(corpus.CorpusError):
        corpus.library_corpus(1, files=0)
    with pytest.raises(corpus.CorpusError):
        corpus.catalog_tables(1, scale=0)
    with pytest.raises(corpus.CorpusError):
        corpus.stage_source([], str(tmp_path), "empty")


def test_webapp_paths_unique_and_truth_consistent():
    rows, truth = corpus.webapp_corpus(1, repos=3)
    assert len({r["path"] for r in rows}) == len(rows)
    routes = {(r, p) for r, _, p in truth["endpoints"]}
    assert {(r, p) for r, p, _ in truth["handlers"]} <= routes
    assert len(truth["endpoints"]) == len(truth["handlers"])


def test_edit_row_appends_a_calling_function():
    rows, _ = corpus.webapp_corpus(1, repos=1)
    helper = next(r for r in rows if "/helpers_" in r["path"])
    e, fn, callee = corpus.edit_row(helper, 3)
    assert e["content"].startswith(helper["content"])
    assert f"def {fn}(" in e["content"]
    assert f"{callee}(value, 0)" in e["content"]


def test_metric_names_and_units_are_valid():
    names = list(run.END_TO_END) + list(run.PER_LAYER)
    assert len(names) == len(set(names))
    for n in names:
        assert NAME.match(n), n
    for u in list(run.END_TO_END.values()) + list(run.PER_LAYER.values()):
        assert UNIT.match(u), u
    assert len(run.PER_LAYER) <= 128


def test_benchmark_json_matches_the_code():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {w["name"] for w in spec["workloads"]} == set(run.WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == \
        run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == \
        run.PER_LAYER


def test_evlog_reader_on_recorded_rolling_log():
    # testdata/evlog: the job, stage and task events of a two-job local[4]
    # application, split at the second job into two rolling shards
    files = evlog.log_files(RECORDED_LOG)
    assert len(files) >= 2  # two shards of one rolling log, read in order
    tl = evlog.Timeline(evlog.read_events(RECORDED_LOG))
    assert tl.jobs and tl.stages and tl.tasks
    t0 = min(j["start"] for j in tl.jobs.values())
    t1 = max(j["end"] for j in tl.jobs.values())
    s = evlog.summarize(tl, t0, t1)
    assert s["jobs"] == len(tl.jobs)
    assert s["tasks"] == len(tl.tasks)
    assert 0 <= s["idle_s"] <= (t1 - t0) / 1000
    assert s["task_cpu_s"] > 0


def test_evlog_busy_union():
    # two overlapping tasks and one disjoint: busy = 3 + 1 of a 10 ms window
    assert evlog._busy_ms([(0, 2), (1, 3), (5, 6)], 0, 10) == 4
    assert evlog._busy_ms([(0, 20)], 5, 10) == 5


def test_evlog_refuses_compressed(tmp_path):
    d = tmp_path / "eventlog_v2_app"
    d.mkdir()
    (d / "events_1_app.zstd").write_bytes(b"x")
    with pytest.raises(ValueError):
        evlog.log_files(str(tmp_path))


def test_end_processes_stops_reparented_descendants():
    """A grandchild orphaned after the snapshot (as the JVM's Python daemon
    is when the JVM exits) is still waited for and stopped."""
    import signal
    import subprocess
    import time

    def orphans():
        out = []
        for p in measure.descendants():
            try:
                with open(f"/proc/{p}/cmdline", "rb") as f:
                    if f.read() == b"sleep\x00300\x00":
                        out.append(p)
            except OSError:
                pass
        return out

    sh = subprocess.Popen(["sh", "-c", "sleep 300 & sleep 1"])
    deadline = time.monotonic() + 10
    while not orphans() and time.monotonic() < deadline:
        time.sleep(0.05)
    procs, (orphan,) = measure.descendants(), orphans()
    try:
        sh.wait()
        assert orphan in measure.end_processes(procs, grace_s=0.5)
        assert not measure._alive(orphan, procs[orphan])  # ended (or zombie)
    finally:
        if measure._alive(orphan, procs[orphan]):
            os.kill(orphan, signal.SIGKILL)
