"""Tests of the benchmark itself (not part of the library's test suite).

    python -m pytest perfbench/ -q -m ""

- The input generators are pure functions of the seed.
- At a tiny scale, each workload run twice with tracing on repeats its
  Spark jobs, tasks, py4j trips, fs calls, files written and bytes on
  disk exactly, so later changes can cite them as counts.
- At the configured run length, each workload's tail percentile has at
  least ten samples beyond it, or the README says it does not.
"""

from __future__ import annotations

import hashlib
import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.path.insert(0, ROOT)

import gen  # noqa: E402

WORKLOADS = [w["name"] for w in json.load(open(os.path.join(ROOT, "BENCHMARK.json")))["workloads"]]


def _digest(path: str) -> str:
    h = hashlib.sha256()
    for root, _, names in sorted(os.walk(path)):
        for name in sorted(names):
            with open(os.path.join(root, name), "rb") as f:
                h.update(name.encode() + f.read())
    return h.hexdigest()


def _all_inputs(seed: int, out: str) -> dict:
    gen.write_parquet(gen.visits(seed, 3000, 20), os.path.join(out, "visits.parquet"))
    gen.write_parquet(gen.stream_batch(seed, 3, 50), os.path.join(out, "batch.parquet"))
    docs = gen.documents(seed, 300)
    gen.write_parquet(docs, os.path.join(out, "documents.parquet"))
    return gen.queries(seed, docs, set(range(300)), 10)


def test_same_seed_gives_identical_inputs(tmp_path):
    qa = _all_inputs(7, str(tmp_path / "a"))
    qb = _all_inputs(7, str(tmp_path / "b"))
    assert _digest(str(tmp_path / "a")) == _digest(str(tmp_path / "b"))
    assert qa == qb


def test_other_seed_gives_other_inputs(tmp_path):
    a, b = gen.visits(7, 3000, 20), gen.visits(8, 3000, 20)
    for col in ("space", "grouping", "indexes"):
        assert a.column(col).to_pylist() != b.column(col).to_pylist()
    qa = _all_inputs(7, str(tmp_path / "a"))
    qb = _all_inputs(8, str(tmp_path / "b"))
    assert _digest(str(tmp_path / "a")) != _digest(str(tmp_path / "b"))
    assert qa != qb


def test_stream_batches_carry_the_seqs_the_stream_assigns():
    tables = [gen.stream_batch(3, b, 40) for b in range(3)]
    assert [s for t in tables for s in t.column("seq").to_pylist()] == list(range(120))


def test_queries_match_enough_documents():
    docs = gen.documents(5, 500)
    survivors = {d for d in range(500) if d % 7}
    queries = gen.queries(5, docs, survivors, 20)
    assert sorted(queries) == sorted(s for s, _ in gen.QUERY_SHAPES)
    texts = docs.column("text").to_pylist()
    words = queries["phrase"].strip('"')
    assert sum(f" {words} " in f" {texts[d]} " for d in survivors) >= 20


# -- counter repeatability ------------------------------------------------------


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "2g")
    from esdb_spark.session import get_spark
    from spans import SESSION_CONF

    work = tmp_path_factory.mktemp("spark")
    s = get_spark(
        app_name="perfbench-test",
        master="local[2]",
        shuffle_partitions=2,
        extra_conf={"spark.local.dir": str(work), **SESSION_CONF},
    )
    yield s
    s.stop()


def _run(spark, work: str, seed: int, wl, blocks: int):
    """Set-up, warm-up and a fixed number of blocks of one workload,
    traced; returns its counters and what it left on disk."""
    from common import Ctx, Outcome, disk_usage, run_blocks
    from spans import Tracer

    tracer = Tracer(spark, enabled=True)
    try:
        ctx = Ctx(spark, seed, tracer, work)
        out = Outcome()
        st = wl.setup(ctx)
        wl.prepare(ctx, st)
        wl.warmup(ctx, st, out)
        run_blocks(ctx, st, out, wl.block, blocks)
        assert out.failed == 0, out.failures
        tracer.read_counters()
        counters = [
            (r["name"], r["trips"], r["spark"]["jobs"], r["spark"]["tasks"])
            for r in tracer.ops
        ]
        fs_calls = sum(1 for x in tracer.spans if x["name"].startswith("fs."))
        return counters, fs_calls, disk_usage(work)
    finally:
        tracer.close()


TINY = {
    "archive_lookup": {"archive_lookup": {"N_EVENTS": 2000, "N_RARE_SPACES": 5},
                       "stream_tail": {"BATCH": 100, "TAIL_CYCLES": 1}},
    "search_serve": {"search_serve": {"N_DOCS": 200, "MIN_HITS": 11}},
}


@pytest.mark.slow
@pytest.mark.parametrize("workload", sorted(TINY))
def test_traced_counters_repeat_exactly(spark, tmp_path, monkeypatch, workload):
    for module, consts in TINY[workload].items():
        mod = __import__(module)
        for name, value in consts.items():
            monkeypatch.setattr(mod, name, value)
    wl = __import__(workload)
    # the very first call of some library paths makes a few extra py4j
    # trips (one-time class lookups), so the compared runs come after one
    _run(spark, str(tmp_path / "warm"), 3, wl, blocks=1)
    first = _run(spark, str(tmp_path / "a"), 3, wl, blocks=1)
    second = _run(spark, str(tmp_path / "b"), 3, wl, blocks=1)
    assert first == second


# -- tail percentile support ----------------------------------------------------


@pytest.mark.slow
@pytest.mark.parametrize("workload", WORKLOADS)
def test_tail_percentile_has_ten_samples_beyond_or_readme_says_not(workload):
    """One full-length untraced run of the workload, as the benchmark's
    command runs it."""
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", "1", "--seconds", str(spec["run_seconds"]), "--trace", "0"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    report, result = (json.loads(x) for x in proc.stdout.strip().splitlines()[-2:])
    assert result["correct"] and result["failed"] == 0
    if report["samples"]["p90_samples_beyond"] < 10:
        with open(os.path.join(HERE, "README.md")) as f:
            readme = f.read()
        assert f"`{workload}`: op_p90_ms has fewer than 10 samples beyond it" in readme
