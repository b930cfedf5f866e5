"""Seeded input generators. The engine only ever sees what is generated
here; everything is a pure function of the seed and the sizes.

Three shapes:

- ``visits``: reference-shaped archive events (``space, grouping, ts,
  seq, data, indexes``). 80% land in space ``visit``, the rest in a few
  rare spaces; every event is grouped by host and carries a ``city`` and
  a ``visitor`` index value.
- ``stream_batch``: one append batch of visits-shaped events, carrying
  the seqs the stream will assign.
- ``documents`` and ``queries``: a text corpus over a fixed vocabulary
  of pseudo-words, and boolean queries of fixed shapes drawn so that
  every one matches more documents than a page holds.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

# The visits fixture of the reference (FIXTURES.md F3): space ``visit``,
# grouping = host ("~100s distinct"), indexes {visitor, city}, ts in epoch
# seconds around 1.40e9, data = JSON of the whole row. The value counts
# are chosen so that a limit-500 scan of one host or one city is full.
HOSTS = [f"host{i:03d}.example" for i in range(100)]
CITIES = [f"city{i:03d}" for i in range(100)]
VISITORS = [f"visitor{i:05d}@example.com" for i in range(10_000)]
VISIT_SHARE = 0.8
T0_S = 1_400_000_000
EPOCH_WINDOW_S = 30 * 86400

EVENTS_ARROW_SCHEMA = pa.schema(
    [
        ("space", pa.string()),
        ("grouping", pa.string()),
        ("ts", pa.timestamp("us", tz="UTC")),
        ("seq", pa.int64()),
        ("data", pa.string()),
        ("indexes", pa.map_(pa.string(), pa.string())),
    ]
)


def zipf_weights(n: int, a: float) -> np.ndarray:
    w = 1.0 / np.arange(1, n + 1) ** a
    return w / w.sum()


def visits(seed, n: int, n_rare_spaces: int, first_seq: int = 0) -> pa.Table:
    """``n`` archive events with dense ``seq`` from ``first_seq`` in
    generation order. ``seed`` is anything ``numpy.random.default_rng``
    takes. ``VISIT_SHARE`` of the events are in space ``visit``, the rest
    in ``n_rare_spaces`` spaces; host, city and visitor are uniform."""
    rng = np.random.default_rng(seed)
    rare = [f"sp{i:06x}" for i in rng.choice(16**6, size=n_rare_spaces, replace=False)]
    in_visit = rng.random(n) < VISIT_SHARE
    rare_idx = rng.integers(0, n_rare_spaces, size=n)
    host = pa.array(HOSTS).take(rng.integers(0, len(HOSTS), size=n))
    city = pa.array(CITIES).take(rng.integers(0, len(CITIES), size=n))
    visitor = pa.array(VISITORS).take(rng.integers(0, len(VISITORS), size=n))
    secs = T0_S + rng.integers(0, EPOCH_WINDOW_S, size=n)

    space = pa.array(["visit", *rare]).take(np.where(in_visit, 0, 1 + rare_idx))
    data = pc.binary_join_element_wise(
        '{"type":"', space, '","host":"', host, '","city":"', city,
        '","visitor":"', visitor, '","timestamp":', pc.cast(pa.array(secs), pa.string()),
        "}", "",
    )
    # map entries interleaved per event: city, visitor
    values = np.empty(2 * n, dtype=object)
    values[0::2] = city.to_numpy(zero_copy_only=False)
    values[1::2] = visitor.to_numpy(zero_copy_only=False)
    indexes = pa.MapArray.from_arrays(
        pa.array(np.arange(0, 2 * n + 1, 2, dtype=np.int32)),
        pa.array(np.tile(np.array(["city", "visitor"], dtype=object), n), pa.string()),
        pa.array(values, pa.string()),
    )
    return pa.table(
        [
            space,
            host,
            pa.array(secs * 1_000_000, type=pa.timestamp("us", tz="UTC")),
            pa.array(np.arange(first_seq, first_seq + n, dtype=np.int64)),
            data,
            indexes,
        ],
        schema=EVENTS_ARROW_SCHEMA,
    )


def payload_bytes(table: pa.Table) -> int:
    """User payload of events: UTF-8 bytes of ``data`` plus every index
    name and value. Space, grouping, ts and seq are keys, not payload."""
    idx = table.column("indexes").combine_chunks()
    return sum(
        pc.sum(pc.binary_length(a)).as_py() or 0
        for a in (table.column("data"), idx.keys, idx.items)
    )


def write_parquet(table: pa.Table, path: str) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)


def stream_batch(seed, batch: int, size: int) -> pa.Table:
    """Append batch number ``batch`` of a stream: ``size`` visits events
    whose ``seq`` is the one the stream assigns (dense from 0 over the
    batches in order)."""
    return visits([*np.atleast_1d(seed), batch], size, n_rare_spaces=8,
                  first_seq=batch * size)


# -- documents -----------------------------------------------------------------

_ONSETS = ("b", "d", "f", "g", "k", "l", "m", "n", "p", "r", "s", "t", "v", "z")
_VOWELS = ("a", "e", "i", "o", "u")
#: 300 two-syllable pseudo-words, in a fixed order that is also their
#: frequency rank: the corpus draws them Zipf-skewed
VOCAB = [
    str(w)
    for w in np.random.default_rng(0).permutation(
        [a + b + c + d for a in _ONSETS for b in _VOWELS for c in _ONSETS for d in _VOWELS]
    )[:300]
]
LANGS = ("en", "de", "fr")
LANG_P = (0.6, 0.25, 0.15)
SOURCES = ("web", "wiki", "books", "news")
DOC_TOKENS = (30, 70)


def documents(seed, n: int) -> pa.Table:
    """``n`` documents ``(doc_id, text, lang, source)`` with dense ids."""
    rng = np.random.default_rng(seed)
    lens = rng.integers(*DOC_TOKENS, size=n)
    words = rng.choice(len(VOCAB), size=int(lens.sum()), p=zipf_weights(len(VOCAB), 0.9))
    vocab = np.asarray(VOCAB, dtype=object)
    bounds = np.concatenate([[0], np.cumsum(lens)])
    texts = [" ".join(vocab[words[bounds[i]:bounds[i + 1]]]) for i in range(n)]
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n, dtype=np.int64)),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(np.asarray(LANGS, dtype=object)[rng.choice(3, size=n, p=LANG_P)]),
            "source": pa.array(np.asarray(SOURCES, dtype=object)[rng.integers(0, 4, size=n)]),
        }
    )


def documents_payload_bytes(table: pa.Table) -> int:
    """UTF-8 bytes of every stored text and metadata value."""
    return sum(
        pc.sum(pc.binary_length(table.column(c))).as_py() for c in ("text", "lang", "source")
    )


#: query shapes, as the serve loop issues them: (name, template)
QUERY_SHAPES = (
    ("phrase", '"{a} {b}"'),
    ("field_prefix", "lang:en AND {p}* AND {a} AND NOT {c}"),
)


def _doc_tokens(table: pa.Table) -> list[list[str]]:
    return [t.split() for t in table.column("text").to_pylist()]


def queries(seed, table: pa.Table, survivors: set[int], min_hits: int) -> dict[str, str]:
    """One query of every shape in ``QUERY_SHAPES``, each matching at
    least ``min_hits`` surviving documents by a conservative Python count
    (the page itself comes from the engine's corpus face). Words are
    drawn Zipf-skewed from the head of the vocabulary, so every seed
    issues queries of the same kind. Returns {shape: query}."""
    rng = np.random.default_rng([*np.atleast_1d(seed), 7])
    toks = _doc_tokens(table)
    ids = table.column("doc_id").to_pylist()
    langs = table.column("lang").to_pylist()
    live = [i for i, d in enumerate(ids) if d in survivors]
    sets = {i: set(toks[i]) for i in live}
    pairs = {i: {(x, y) for x, y in zip(toks[i], toks[i][1:])} for i in live}
    head = VOCAB[:40]
    w = zipf_weights(len(head), 1.0)

    def hits(shape: str, a: str, b: str, c: str, p: str) -> int:
        if shape == "phrase":
            return sum((a, b) in pairs[i] for i in live)
        return sum(
            langs[i] == "en" and a in sets[i] and c not in sets[i]
            and any(t.startswith(p) for t in sets[i])
            for i in live
        )

    out = {}
    for shape, template in QUERY_SHAPES:
        for _ in range(10_000):
            a, b, c = (head[int(k)] for k in rng.choice(len(head), size=3, replace=False, p=w))
            p = b[:2]
            if hits(shape, a, b, c, p) >= min_hits:
                out[shape] = template.format(a=a, b=b, c=c, p=p)
                break
        else:
            raise RuntimeError(f"gen.queries: no {shape} query reaches {min_hits} hits")
    return out
