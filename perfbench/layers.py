"""Per-layer measurements for the traced run (``--trace 1``).

Two kinds of measurement, both from outside the engine:

- :class:`CallClock` wraps a few public calls while the loop runs:
  ``encode.encode_df`` (the DataFrame-building half of encode and
  append) and ``ManifestTable.commit`` (manifest commit I/O and CAS
  conflicts). The wrappers only time and count; they are installed in
  traced runs only.
- :func:`probe_layers` runs after the loop on the workload's eel table:
  codec bytes and times, the parquet comparison, the Arrow channel
  floor, table shape, the lookup pruning tiers and scan planning.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time

from eel_sdk_spark import checkpoint, codecs
from eel_sdk_spark import encode as encode_mod
from eel_sdk_spark import table as table_mod


class CallClock:
    def __init__(self):
        self.build_s = 0.0
        self.commit_s: list[float] = []
        self.conflicts = 0

    def install(self) -> None:
        orig_encode_df = encode_mod.encode_df
        orig_commit = table_mod.ManifestTable.commit
        clock = self

        def encode_df(*a, **kw):
            t = time.perf_counter()
            try:
                return orig_encode_df(*a, **kw)
            finally:
                clock.build_s += time.perf_counter() - t

        def commit(tbl, *a, **kw):
            t = time.perf_counter()
            try:
                return orig_commit(tbl, *a, **kw)
            except table_mod.CommitConflict:
                clock.conflicts += 1
                raise
            finally:
                clock.commit_s.append(time.perf_counter() - t)

        # checkpoint binds encode_df at import; append_encode re-imports
        # it from the encode module on every call
        encode_mod.encode_df = checkpoint.encode_df = encode_df
        table_mod.ManifestTable.commit = commit

    def reset(self) -> None:
        self.build_s, self.commit_s, self.conflicts = 0.0, [], 0

    def take_build(self) -> float:
        v, self.build_s = self.build_s, 0.0
        return v


def _codec_figures(spark, tbl):
    """Per-codec encoded MB and encode ms from the blocks' own columns;
    decode ms from timing ``codecs.decode_column`` on every block."""
    rows = (tbl.read(spark)
            .select("codec", "enc_bytes", "encode_ms", "header", "payload")
            .collect())
    per = {c: {"enc_mb": 0.0, "encode_ms": 0.0, "decode_ms": 0.0,
               "blocks": 0} for c in codecs.CODEC_NAMES}
    for r in rows:
        if r["codec"] not in per or r["header"] is None:
            continue
        f = per[r["codec"]]
        f["blocks"] += 1
        f["enc_mb"] += (r["enc_bytes"] or 0) / 1e6
        f["encode_ms"] += r["encode_ms"] or 0.0
        header, payload = bytes(r["header"]), bytes(r["payload"])
        t = time.perf_counter()
        codecs.decode_column(header, payload)
        f["decode_ms"] += (time.perf_counter() - t) * 1e3
    return per


def _parquet_bytes(src, out_dir: str) -> int:
    """Bytes of ``src`` written by Spark's parquet writer (snappy,
    dictionary on: the session defaults)."""
    src.write.mode("overwrite").parquet(out_dir)
    n = sum(os.path.getsize(os.path.join(out_dir, f))
            for f in os.listdir(out_dir) if f.endswith(".parquet"))
    shutil.rmtree(out_dir, ignore_errors=True)
    return n


def _channel_floor_s(src, reps: int = 3) -> float:
    """Median wall time of an identity ``mapInArrow`` over ``src``
    (cached first): the JVM<->Python Arrow round trip with no kernel."""
    src = src.cache()
    src.write.format("noop").mode("overwrite").save()

    def ident(batches):
        yield from batches

    times = []
    for _ in range(reps):
        t = time.perf_counter()
        (src.mapInArrow(ident, src.schema)
         .write.format("noop").mode("overwrite").save())
        times.append(time.perf_counter() - t)
    return statistics.median(times)


def probe_layers(spark, tbl, key, keys, src, clock: CallClock,
                 scratch: str):
    """Returns (json_metrics, detail_lines). ``json_metrics`` maps the
    per-layer names to (value, unit); ``detail_lines`` carries the
    per-codec breakdown."""
    m, detail = {}, []
    snap = tbl.current()

    per = _codec_figures(spark, tbl)
    for c in codecs.CODEC_NAMES:
        for k, unit in (("enc_mb", "MB"), ("encode_ms", "ms"),
                        ("decode_ms", "ms"), ("blocks", "count")):
            detail.append((f"codecs.{c}.{k}", per[c][k], unit))
    enc_mb = sum(f["enc_mb"] for f in per.values())
    m["codecs.enc_mb"] = (enc_mb, "MB")
    m["codecs.encode_ms"] = (sum(f["encode_ms"] for f in per.values()), "ms")
    m["codecs.decode_ms"] = (sum(f["decode_ms"] for f in per.values()), "ms")

    if src is None:
        src = tbl.read_decoded(spark)
    pq_mb = _parquet_bytes(src, os.path.join(scratch, "parquet_probe")) / 1e6
    m["selector.vs_parquet"] = (enc_mb / pq_mb, "ratio")
    m["channel.floor_s"] = (_channel_floor_s(src), "s")

    m["table.commit_s"] = (statistics.median(clock.commit_s)
                           if clock.commit_s else 0.0, "s")
    m["table.commit_retries"] = (clock.conflicts, "count")
    manifest = os.path.join(tbl.manifest_dir, f"m-{snap.snapshot_id}.json")
    m["table.manifest_kb"] = (os.path.getsize(manifest) / 1e3, "KB")
    m["table.files"] = (len(snap.files), "count")

    n_parts = snap.properties["runs"][-1]["n_parts"]
    times, kept, meta = [], [], []
    for k in keys:
        t = time.perf_counter()
        files = checkpoint.lookup_files(spark, snap, k, key,
                                        set(range(n_parts)))
        times.append(time.perf_counter() - t)
        kept.append(len(files))
        meta.append(len(checkpoint.prune_files_metadata(
            snap, list(snap.files), key, k, keep_floor=False)))
    m["checkpoint.lookup_files_s"] = (statistics.median(times), "s")
    m["checkpoint.files_kept"] = (statistics.mean(kept), "count")
    m["checkpoint.meta_files_kept"] = (statistics.mean(meta), "count")

    wh = os.path.dirname(tbl.dir)
    m["datasource.partitions"] = (
        spark.read.format("eel").load(wh).rdd.getNumPartitions(), "count")
    return m, detail
