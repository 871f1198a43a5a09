"""Seeded benchmark inputs: pure functions of (seed, index).

Every workload draws its data, probe keys and operation order from
here, so one seed always yields the same inputs and two seeds never
share a url. Nothing in this module touches Spark or the filesystem.

Webtext rows come from ``eel_sdk_spark.corpus.gen_batch``, a pure
function of the row id. Ids are laid out per seed as::

    base = (seed mod 2**30) * 2**32
    table rows      base + 2*i                (i < n)
    appended rows   base + 2*(n + i)          (fresh, never in the table)
    absent probes   base + 2*i + 1            (well-formed, never written)

so absent keys interleave with present ones and no key range or prefix
separates them.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa

from eel_sdk_spark import corpus

WEBTEXT_DDL = corpus.SCHEMA_DDL
WEBTEXT_COLS = ["url", "warc_ts", "html", "text", "lang"]

# The documents shape the repository's corpus queries read (see
# __spark_entry__.queries): a 30-word vocabulary, 10..100 tokens a
# document, ~5% near-duplicates (an earlier document's text + " dup")
# and 20 round-robin sources.
VOCAB = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part "
         "fast row the agg key query a scan batch").split()
LANGS = ["en", "en", "en", "zh", "es", "fr", "de"]


def id_base(seed: int) -> int:
    return (int(seed) % (1 << 30)) << 32


def table_ids(seed: int, n: int) -> np.ndarray:
    return id_base(seed) + 2 * np.arange(n, dtype=np.int64)


def append_ids(seed: int, n_table: int, batch: int, size: int) -> np.ndarray:
    """Ids of the ``batch``-th appended batch (fresh, even, beyond the table)."""
    start = n_table + batch * size
    return id_base(seed) + 2 * np.arange(start, start + size, dtype=np.int64)


def absent_id(seed: int, i: int) -> int:
    return id_base(seed) + 2 * int(i) + 1


def webtext(ids) -> pa.RecordBatch:
    return corpus.gen_batch(np.asarray(ids, dtype=np.int64))


def url_of(row_id: int) -> str:
    return webtext([row_id]).column(0)[0].as_py()


def webtext_df(spark, seed: int, start: int, n: int, parts: int):
    """Rows ``start .. start+n`` of the seed's even-id sequence (table
    rows, then appended batches) as a Spark DataFrame, generated on the
    executors by one ``mapInArrow`` over ``spark.range``."""
    base = id_base(seed)

    def gen(batches):
        for b in batches:
            yield webtext(base + 2 * np.asarray(b.column(0)))

    return spark.range(start, start + n, numPartitions=parts).mapInArrow(
        gen, WEBTEXT_DDL)


def documents(seed: int, n: int) -> pa.Table:
    rng = np.random.default_rng([int(seed), 1])
    lens = rng.integers(10, 101, n)
    toks = rng.integers(0, len(VOCAB), int(lens.sum()))
    vocab = np.array(VOCAB, dtype=object)
    ends = np.cumsum(lens)
    texts = [" ".join(vocab[toks[e - k:e]]) for e, k in zip(ends, lens)]
    dup = rng.random(n) < 0.05
    src = rng.integers(0, np.maximum(np.arange(n), 1))
    for i in np.nonzero(dup)[0]:
        if i > 0:
            texts[i] = texts[src[i]] + " dup"
    langs = np.array(LANGS, dtype=object)[rng.integers(0, len(LANGS), n)]
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(langs, pa.string()),
        "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


# -- lookup_append operation plan ---------------------------------------

LOOKUP_KINDS = ("lookup_hit", "lookup_miss", "pushdown_hit",
                "pushdown_miss", "append")


def lookup_plan(seed: int, n_table: int, batch_size: int):
    """Endless deterministic operation stream for ``lookup_append``.

    Rounds of the five kinds in a seed-shuffled order. A hit key is a
    table row or, once appends have landed, a row appended earlier in
    the run (one hit in four, when any exist); a miss key is an odd id.
    Yields ``(kind, payload)``: a row id for probes, the batch number
    for appends."""
    rng = np.random.default_rng([int(seed), 3])
    appended = 0
    while True:
        for k in rng.permutation(len(LOOKUP_KINDS)):
            kind = LOOKUP_KINDS[k]
            if kind == "append":
                yield kind, appended
                appended += 1
            elif kind.endswith("_hit"):
                if appended and rng.random() < 0.25:
                    b = int(rng.integers(0, appended))
                    i = int(rng.integers(0, batch_size))
                    yield kind, int(append_ids(seed, n_table, b,
                                               batch_size)[i])
                else:
                    yield kind, int(table_ids(seed, n_table)[
                        rng.integers(0, n_table)])
            else:
                yield kind, absent_id(seed, int(rng.integers(0, n_table)))
