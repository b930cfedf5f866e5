"""archive_lookup: the reference's read benchmarks against a written archive.

Set-up writes ``N_EVENTS`` visits-shaped events (``gen.visits``: 80% in
space ``visit``, the rest in ``N_RARE_SPACES`` rare spaces) with
``write_events`` (``city`` materialized, ``visitor`` only in the map),
opens the archive with ``Db.open`` and computes the DuckDB oracle.
Warm-up runs the steps of ``stream_tail`` on a stream of their own, then
``WARMUP_BLOCKS`` blocks of lookups. The timed loop is one closed-loop
client issuing lookups, each a DataFrame build followed by ``collect()``.
A block holds these ten, in a seeded order:

=============  =====================================================
class          calls, limit
=============  =====================================================
grouping_1     ``find("visit").scan(host, limit=1)``, twice
grouping_500   ``find("visit").scan(host, limit=500)``, twice
index_mat      ``find("visit").scan_index("city", v, limit=1|500)``
index_map      ``find("visit").scan_index("visitor", v, limit=1|500)``
index_all      ``scan_index_all("city", v, limit=1|500)``
=============  =====================================================

The reference harness (esdb_test.go:176-256) times a grouping scan and a
``city`` index scan, each at limit 1 and at limit 500, in space
``visit``, with the host or city of a random one of the first 100 rows
of its input. Here every index class runs once at each of those limits
per block, and keys are drawn the same way: the host, city or visitor of
a random one of the first ``KEY_ROWS`` events of space ``visit``.
``visitor`` (map only) and ``scan_index_all`` are this engine's other
read paths. The run times whole blocks, so every run issues the same
mix; with two lookups per class, p90 falls in the middle of the slowest
class, ``index_all``, not on the edge between two classes. Every
lookup's ``seq`` list is checked against a DuckDB oracle computed over
the generated parquet.
"""

from __future__ import annotations

import os
import time

import duckdb
import numpy as np
import pyarrow.compute as pc
import pyarrow.parquet as pq

import gen
import stream_tail
from common import Op, disk_usage, mean, median, run_blocks
from spans import counter

N_EVENTS = 100_000
N_RARE_SPACES = 30
MAX_LIMIT = 500
KEY_ROWS = 100
CLASSES = ("grouping_1", "grouping_500", "index_mat", "index_map", "index_all")
#: (class, limit) of the lookups of one block
BLOCK = (
    ("grouping_1", 1), ("grouping_1", 1),
    ("grouping_500", MAX_LIMIT), ("grouping_500", MAX_LIMIT),
    ("index_mat", 1), ("index_mat", MAX_LIMIT),
    ("index_map", 1), ("index_map", MAX_LIMIT),
    ("index_all", 1), ("index_all", MAX_LIMIT),
)
WARMUP_BLOCKS = 3


def setup(ctx) -> dict:
    """Generate the events, write the archive, open it."""
    from esdb_spark.db import Db
    from esdb_spark.writer import write_events

    table = gen.visits(ctx.seed, N_EVENTS, N_RARE_SPACES)
    src = ctx.path("input.parquet")
    gen.write_parquet(table, src)
    archive = ctx.path("archive")
    tr = ctx.tracer
    t0 = time.perf_counter()
    with tr.op("writer.write_events") as wrec, tr.span("writer.write_events"):
        write_events(ctx.spark.read.parquet(src), archive, materialize_indexes=["city"])
    t1 = time.perf_counter()
    with tr.op("db.open"), tr.span("db.open"):
        db = Db.open(ctx.spark, archive)
    return {
        "table": table,
        "src": src,
        "archive": archive,
        "db": db,
        "write_s": t1 - t0,
        "open_s": time.perf_counter() - t1,
        "write_rec": wrec,
    }


def prepare(ctx, st: dict) -> None:
    """The oracle and the key streams: once, after the repeated set-up."""
    st["oracle"] = oracle(st["src"])
    st["keys"] = Keys(ctx.seed, st["table"])


def oracle(src: str) -> dict:
    """The first ``MAX_LIMIT`` expected ``seq`` values of every key a
    lookup can draw."""
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW ev AS SELECT seq, ts, space, grouping, "
        f"map_extract(indexes, 'city')[1] AS city, "
        f"map_extract(indexes, 'visitor')[1] AS visitor FROM '{src}'"
    )

    def lists(key: str, where: str = "space = 'visit'") -> dict:
        sql = (f"SELECT {key}, list(seq ORDER BY ts DESC, seq ASC)[1:{MAX_LIMIT}] "
               f"FROM ev WHERE {where} GROUP BY ALL")
        return dict(con.execute(sql).fetchall())

    out = {
        "grouping": lists("grouping"),
        "city": lists("city"),
        "visitor": lists("visitor"),
        "city_all": lists("city", "true"),
    }
    con.close()
    return out


class Keys:
    """Seeded lookup keys: the host, city or visitor of a random one of
    the first ``KEY_ROWS`` events of space ``visit``."""

    def __init__(self, seed: int, table):
        self.rng = np.random.default_rng([seed, 1])
        head = table.filter(pc.field("space") == "visit").slice(0, KEY_ROWS)
        idx = [dict(kv) for kv in head.column("indexes").to_pylist()]
        self.rows = {
            "grouping": head.column("grouping").to_pylist(),
            "city": [kv["city"] for kv in idx],
            "visitor": [kv["visitor"] for kv in idx],
        }

    def block(self) -> list[tuple[str, int, str]]:
        """(class, limit, key) of every lookup of the next block, in order."""
        order = self.rng.permutation(len(BLOCK))
        return [(*BLOCK[i], self._key(BLOCK[i][0])) for i in order]

    def _key(self, cls: str) -> str:
        col = {"index_map": "visitor", "index_mat": "city", "index_all": "city"}
        values = self.rows[col.get(cls, "grouping")]
        return values[int(self.rng.integers(len(values)))]


def build(db, cls: str, limit: int, key: str):
    if cls in ("grouping_1", "grouping_500"):
        return db.find("visit").scan(key, limit=limit)
    if cls == "index_mat":
        return db.find("visit").scan_index("city", key, limit=limit)
    if cls == "index_map":
        return db.find("visit").scan_index("visitor", key, limit=limit)
    return db.scan_index_all("city", key, limit=limit)


def expected(orc: dict, cls: str, limit: int, key: str) -> list[int]:
    table = {"index_mat": "city", "index_map": "visitor", "index_all": "city_all"}
    return orc[table.get(cls, "grouping")].get(key, [])[:limit]


def warmup(ctx, st: dict, out) -> None:
    """The stream tail, then ``WARMUP_BLOCKS`` blocks of lookups."""
    st["tail"] = stream_tail.tail(ctx, out)
    run_blocks(ctx, st, out, block, WARMUP_BLOCKS)


def block(ctx, st: dict) -> list[Op]:
    """The next seeded block of lookups."""
    tr = ctx.tracer

    def op(cls, limit, key):
        def call():
            with tr.span(f"db.{cls}.plan"):
                df = build(st["db"], cls, limit, key)
            with tr.span(f"db.{cls}.collect") as rec:
                rows = df.collect()
                if rec is not None:
                    rec["rows"] = len(rows)
            return rows

        want = expected(st["oracle"], cls, limit, key)
        return Op(cls, call, lambda rows: [r["seq"] for r in rows] == want)

    return [op(*lookup) for lookup in st["keys"].block()]


def finish(ctx, st: dict, since: float) -> dict:
    """Bytes of the archive against its user payload bytes, and the
    per-layer metrics: the writer's, the stream tail's, and the db's
    over the lookups timed since ``since``."""
    files, size = disk_usage(st["archive"])
    res = {"disk_bytes": size, "user_bytes": gen.payload_bytes(st["table"])}
    tr = ctx.tracer
    if not tr.enabled:
        return res
    row_groups = sum(
        pq.ParquetFile(os.path.join(d, n)).metadata.num_row_groups
        for d, _, names in os.walk(st["archive"])
        for n in names
        if n.endswith(".parquet")
    )
    L = {
        **stream_tail.layers(tr, st["tail"]),
        "db.open_s": st["open_s"],
        "writer.write_s": st["write_s"],
        "writer.files": files,
        "writer.row_groups": row_groups,
        "writer.bytes": size,
        "writer.shuffle_bytes": mean(counter([st["write_rec"]], "shuffle_bytes")),
    }
    spans = tr.spans_by_group()
    for cls in CLASSES:
        recs = tr.ops_named(cls, since)
        mine = [spans.get(r["group"], {}) for r in recs]
        returned = sum(m[f"db.{cls}.collect"]["rows"] for m in mine)
        L[f"db.{cls}.plan_ms"] = median([tr.dur_ms(m[f"db.{cls}.plan"]) for m in mine])
        L[f"db.{cls}.collect_ms"] = median([tr.dur_ms(m[f"db.{cls}.collect"]) for m in mine])
        L[f"db.{cls}.py4j_trips"] = mean([r["trips"] for r in recs])
        for key in ("jobs", "tasks", "executor_cpu_ms", "input_bytes"):
            name = "bytes_read" if key == "input_bytes" else key
            L[f"db.{cls}.{name}"] = mean(counter(recs, key))
        L[f"db.{cls}.rows_read_per_row_returned"] = (
            sum(counter(recs, "input_rows")) / returned if returned else 0.0
        )
    res["layers"] = L
    return res
