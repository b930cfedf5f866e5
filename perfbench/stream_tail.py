"""The stream tail: appends to and tail reads from one live EventStream.

A cycle is one compaction cycle of ``COMPACT_EVERY`` appends, each
followed by three tail reads:

1. ``append_dataframe`` of the next seeded batch of ``BATCH`` events;
2. ``scan_index_page`` on a hot and on an absent ``city`` value;
3. ``iterate_page`` resumed from the cursor a reader at the end of the
   log held before the append;

and then ``compact()``. After the last cycle ``close()`` runs and a
write after close must raise ``StreamClosedError``; both count as
operations, untimed.

Checks: tail pages match a Python oracle over the appended batches;
each resumed ``iterate_page`` returns exactly the first ``PAGE`` dense
seqs of the new batch with their payloads and the cursor of the last.

This is not a workload of its own: the benchmark's time budget holds two
workloads of this size, so ``archive_lookup`` runs these steps
(``tail()``) as the first part of its untimed warm-up, and its traced
run reports the ``stream.*`` and ``fs.*`` metrics from them.
"""

from __future__ import annotations

import time

import gen
from common import Op, disk_usage, mean, median, run_op
from spans import counter

BATCH = 1000
COMPACT_EVERY = 2
PAGE = 20
# every batch holds HOT about BATCH / len(gen.CITIES) times; COLD is in
# no batch, so its page reads the whole log and comes back empty
HOT, COLD = gen.CITIES[0], "city-absent"
TAIL_CYCLES = 2


def new_stream(ctx) -> dict:
    """A new stream under ``ctx`` and the oracle that follows it:
    payloads by seq, and seqs by city in append order."""
    from esdb_spark.stream import EventStream

    path = ctx.path("tail", "stream")
    with ctx.tracer.span("stream.new"):
        s = EventStream.new(ctx.spark, path)
    return {"s": s, "path": path, "batches": 0, "datas": [], "by_city": {},
            "user_bytes": 0, "files": [], "rewrite_bytes": 0}


def _payload(ctx, path: str):
    from pyspark.sql import types as T

    from esdb_spark.schema import EVENTS_SCHEMA

    schema = T.StructType([EVENTS_SCHEMA["data"], EVENTS_SCHEMA["indexes"]])
    return ctx.spark.read.schema(schema).parquet(path)


def cycle(ctx, cur: dict) -> list[Op]:
    """One compaction cycle on stream ``cur``. Its batches are generated
    and written to parquet here, before any operation runs."""
    ops = []
    for _ in range(COMPACT_EVERY):
        b = cur["batches"]
        cur["batches"] += 1
        table = gen.stream_batch(ctx.seed, b, BATCH)
        path = ctx.path("tail", "batches", f"b{b:05d}.parquet")
        gen.write_parquet(table, path)
        ops += _append_and_read(ctx, cur, table, path)

    def compacted(_):
        cur["rewrite_bytes"] += disk_usage(cur["path"])[1]
        return True

    return ops + [Op("compact", cur["s"].compact, compacted)]


def _append_and_read(ctx, cur: dict, table, path: str) -> list[Op]:
    start = table.column("seq")[0].as_py()
    s = cur["s"]

    def appended(_):
        # the oracle follows the stream once the append returned
        cur["datas"] += table.column("data").to_pylist()
        for seq, kv in enumerate(table.column("indexes").to_pylist(), start):
            cur["by_city"].setdefault(dict(kv)["city"], []).append(seq)
        cur["user_bytes"] += gen.payload_bytes(table)
        return True

    def page(value):
        def check(res):
            cur["files"].append(disk_usage(cur["path"])[0])
            return [r["seq"] for r in res[0]] == cur["by_city"].get(value, [])[::-1][:PAGE]

        return lambda: s.scan_index_page("city", value, limit=PAGE), check

    def iterated(res):
        rows, nxt = res
        want = list(range(start, start + PAGE))
        return (
            [r["seq"] for r in rows] == want
            and [r["data"] for r in rows] == [cur["datas"][q] for q in want]
            and nxt == want[-1]
        )

    return [
        Op("append", lambda: s.append_dataframe(_payload(ctx, path)), appended),
        Op("page_hot", *page(HOT)),
        Op("page_cold", *page(COLD)),
        # the cursor a reader at the end of the log holds: its last seq
        Op("iterate", lambda: s.iterate_page(start - 1 if start else None, limit=PAGE),
           iterated),
    ]


def close_stream(ctx, cur: dict, out) -> None:
    """Close the stream, then try a write that must raise."""
    from esdb_spark.errors import StreamClosedError

    t = time.perf_counter()
    run_op(ctx, out, Op("close", cur["s"].close))
    cur["close_s"] = time.perf_counter() - t
    cur["rewrite_bytes"] += disk_usage(cur["path"])[1]
    batch = ctx.path("tail", "batches", "b00000.parquet")

    def write_after_close():
        try:
            cur["s"].append_dataframe(_payload(ctx, batch))
        except StreamClosedError:
            return True
        return False

    run_op(ctx, out, Op("write_after_close", write_after_close, lambda r: r is True))


def tail(ctx, out) -> dict:
    """``TAIL_CYCLES`` cycles on a new stream, then close it."""
    cur = new_stream(ctx)
    for _ in range(TAIL_CYCLES):
        for op in cycle(ctx, cur):
            run_op(ctx, out, op)
    close_stream(ctx, cur, out)
    return cur


def layers(tr, cur: dict) -> dict:
    """The stream and fs metrics of the tail's operations."""
    appends = tr.ops_named("append")
    groups = {r["group"] for r in appends}
    fs_spans = [s for s in tr.spans if s["name"].startswith("fs.") and s["op"] in groups]

    def ms(*names):
        return median([tr.dur_ms(r) for n in names for r in tr.ops_named(n)])

    return {
        "stream.append_ms": ms("append"),
        "stream.append_jobs": mean(counter(appends, "jobs")),
        "stream.page_ms": ms("page_hot", "page_cold"),
        "stream.iterate_ms": ms("iterate"),
        "stream.files_per_read": mean(cur["files"]),
        "stream.compact_ms": ms("compact"),
        "stream.close_s": cur["close_s"],
        "stream.rewrite_bytes_per_user_byte": cur["rewrite_bytes"] / cur["user_bytes"],
        "fs.calls_per_append": len(fs_spans) / len(appends),
        "fs.ms_per_append": sum(tr.dur_ms(s) for s in fs_spans) / len(appends),
    }
