"""search_serve: result pages served from maintained LSM stores.

Set-up generates a seeded corpus of ``N_DOCS`` documents and stages it
the way a deployment holds a maintained index: three positional
segments (``build_positional_index`` over ``doc_id % 3``), doc-id
tombstones for ``doc_id % 7 == 0``, and three stored-fields segments
over the same splits, written as parquet from a pool of threads and
read back. The timed loop serves one page at a time:

    search_page_maintained(segments, stored_fields_segments(ssegs, tomb),
                           query, k=10, window=3, tombstones=tomb)

over one seeded boolean query of each shape in ``gen.QUERY_SHAPES``,
one serve of each per block in a seeded order. Every query matches more
surviving documents than a page holds, so every serve returns a full
page. Each page is checked against the corpus face, ``search_page``
over the surviving documents, computed once per distinct query before
the timed phase.
"""

from __future__ import annotations

import time

import numpy as np

import gen
from common import Op, disk_usage, mean, median, run_blocks
from spans import counter

N_DOCS = 500
K = 10
WINDOW = 3
# a query must match this many survivors by the generator's count, so
# the page is full
MIN_HITS = 2 * K
SHAPES = [shape for shape, _ in gen.QUERY_SHAPES]
# every query is served this many times before the timed phase: after one
# serve, its first timed serve was still about 25% slower than the rest
WARMUP_BLOCKS = 2
POOL = 4


def survives(doc_id: int) -> bool:
    return doc_id % 7 != 0


def pooled(thunks: list) -> list:
    """Run independent Spark jobs from a small thread pool, as a
    deployment stages its stores: the tail of one job back-fills the
    cores another leaves idle. Returns the results in order."""
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=POOL) as pool:
        return [f.result() for f in [pool.submit(t) for t in thunks]]


def setup(ctx) -> dict:
    """Generate the corpus and stage the stores."""
    from pyspark.sql import functions as F

    from esdb_spark.operators.search import build_positional_index
    from esdb_spark.operators.storedfields import build_stored_fields

    spark, tr = ctx.spark, ctx.tracer
    table = gen.documents(ctx.seed, N_DOCS)
    src = ctx.path("documents.parquet")
    gen.write_parquet(table, src)
    docs = spark.read.parquet(src)
    store = ctx.path("stores")
    splits = [docs.filter(F.col("doc_id") % 3 == i) for i in range(3)]
    writes = [
        *(lambda i=i: build_positional_index(splits[i], "text", "doc_id")
          .write.parquet(f"{store}/pseg{i}") for i in range(3)),
        *(lambda i=i: build_stored_fields(splits[i], "doc_id", ["text", "lang", "source"])
          .write.parquet(f"{store}/sseg{i}") for i in range(3)),
        lambda: docs.filter(F.col("doc_id") % 7 == 0)
        .select(F.col("doc_id").alias("doc"))
        .write.parquet(f"{store}/ptomb"),
    ]
    t0 = time.perf_counter()
    with tr.span("search.stage"):
        pooled(writes)
    return {
        "table": table,
        "docs": docs,
        "store": store,
        "stage_s": time.perf_counter() - t0,
    }


def prepare(ctx, st: dict) -> None:
    """Open the stores, draw the queries, compute the oracle pages."""
    from esdb_spark.operators.search import search_page

    spark, store = ctx.spark, st["store"]
    st["psegs"] = [spark.read.parquet(f"{store}/pseg{i}") for i in range(3)]
    st["ssegs"] = [spark.read.parquet(f"{store}/sseg{i}") for i in range(3)]
    st["tomb"] = [spark.read.parquet(f"{store}/ptomb")]
    ids = st["table"].column("doc_id").to_pylist()
    st["queries"] = gen.queries(ctx.seed, st["table"], {d for d in ids if survives(d)}, MIN_HITS)
    survivors = st["docs"].filter("doc_id % 7 != 0")
    qs = list(st["queries"].values())
    pages = pooled(
        [lambda q=q: [tuple(r) for r in search_page(survivors, q, k=K, window=WINDOW).collect()]
         for q in qs]
    )
    for q, page in zip(qs, pages):
        if len(page) != K:
            raise RuntimeError(f"search_serve: query {q!r} does not fill a page")
    st["oracle"] = dict(zip(qs, pages))
    st["rng"] = np.random.default_rng([ctx.seed, 2])


def warmup(ctx, st: dict, out) -> None:
    run_blocks(ctx, st, out, block, WARMUP_BLOCKS)


def block(ctx, st: dict) -> list[Op]:
    """The next seeded block of serves: one of each shape."""
    from esdb_spark.operators.search import search_page_maintained
    from esdb_spark.operators.storedfields import stored_fields_segments

    tr = ctx.tracer
    shapes = list(SHAPES)
    st["rng"].shuffle(shapes)

    def op(shape, q):
        def call():
            with tr.span("search.serve.plan"):
                page = search_page_maintained(
                    st["psegs"],
                    stored_fields_segments(st["ssegs"], st["tomb"]),
                    q,
                    k=K,
                    window=WINDOW,
                    tombstones=st["tomb"],
                )
            with tr.span("search.serve.collect"):
                return [tuple(r) for r in page.collect()]

        return Op(shape, call, lambda rows: rows == st["oracle"][q])

    return [op(shape, st["queries"][shape]) for shape in shapes]


def finish(ctx, st: dict, since: float) -> dict:
    """Bytes of the staged stores against the corpus payload, and the
    per-layer metrics of the serves timed since ``since``."""
    _, size = disk_usage(st["store"])
    res = {"disk_bytes": size, "user_bytes": gen.documents_payload_bytes(st["table"])}
    tr = ctx.tracer
    if not tr.enabled:
        return res
    recs = [r for shape in SHAPES for r in tr.ops_named(shape, since)]
    spans = tr.spans_by_group()
    L = {
        "search.stage_s": st["stage_s"],
        "search.stage_bytes": size,
        "search.serve.plan_ms": median(
            [tr.dur_ms(spans[r["group"]]["search.serve.plan"]) for r in recs]
        ),
        "search.serve.collect_ms": median(
            [tr.dur_ms(spans[r["group"]]["search.serve.collect"]) for r in recs]
        ),
        "search.serve.py4j_trips": mean([r["trips"] for r in recs]),
    }
    for key in ("jobs", "stages", "tasks", "executor_cpu_ms", "shuffle_bytes", "input_bytes"):
        L[f"search.serve.{key}"] = mean(counter(recs, key))
    res["layers"] = L
    return res
