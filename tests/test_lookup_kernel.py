"""The lookup decode kernel: point and range lookups decode their
surviving files in zero-shuffle Python tasks, one file slice per task,
skipping block groups on part membership, key min/max and key bloom
inside the task. These tests pin what the kernel owes the old Spark
plan — identical rows, CRC verification, tombstones, renames and
widenings — and the plan shape it exists for."""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from eel_sdk_spark.checkpoint import (append_encode, build_bloom_index,
                                      encode_with_checkpoint, lookup_files,
                                      point_lookup, range_lookup)
from eel_sdk_spark.codecs import decode_column
from eel_sdk_spark.corpus import SCHEMA_DDL, webtext_df
from eel_sdk_spark.deletes import delete_rows
from eel_sdk_spark.table import ManifestTable


def _docs(spark, n: int, prefix: str):
    """url/text/n rows; ``n`` is an INT column so it can be widened."""
    return (webtext_df(spark, n, parts=2)
            .withColumn("url", F.concat(F.lit(prefix), F.col("url")))
            .withColumn("n", (F.xxhash64("url") % 1000).cast("int"))
            .select("url", "text", "n"))


def test_point_lookup_verifies_block_crcs(spark, tmp_path):
    """One flipped payload byte in the block group holding the probed
    key must fail the lookup with the block's coordinates, before the
    codec sees the bytes."""
    tbl = ManifestTable(str(tmp_path), "crc")
    encode_with_checkpoint(spark, webtext_df(spark, 2000, parts=4), tbl,
                           n_parts=4, run_id="r1")
    path = tbl.current().files[0]
    t = pq.read_table(path)
    rows = t.to_pylist()
    url_row = next(r for r in rows if r["col"] == "url")
    gid = (url_row["part_id"], url_row["block_seq"], url_row["writer_uid"])
    probe = decode_column(url_row["header"],
                          pa.py_buffer(url_row["payload"]))[0].as_py()
    i = next(i for i, r in enumerate(rows)
             if (r["part_id"], r["block_seq"], r["writer_uid"]) == gid
             and r["col"] == "text")
    payloads = t.column("payload").to_pylist()
    victim = bytearray(payloads[i])
    victim[len(victim) // 2] ^= 0xFF
    payloads[i] = bytes(victim)
    t = t.set_column(t.schema.get_field_index("payload"), "payload",
                     pa.array(payloads, type=pa.binary()))
    pq.write_table(t, path)
    d, b = os.path.split(path)
    if os.path.exists(os.path.join(d, f".{b}.crc")):
        os.remove(os.path.join(d, f".{b}.crc"))

    want = (f"block payload CRC mismatch in {path} (part_id={gid[0]}, "
            f"block_seq={gid[1]}, writer_uid={gid[2]}, col='text')")
    with pytest.raises(Exception) as err:
        point_lookup(spark, tbl, probe, SCHEMA_DDL).collect()
    assert want in str(err.value)


def test_lookups_match_filtered_read_and_plan_has_no_exchange(spark,
                                                              tmp_path):
    """Appends, a delete, a widening and a rename of the key: point and
    range lookups return exactly what a full filtered read returns, and
    the point lookup's executed plan has no Exchange and no join."""
    tbl = ManifestTable(str(tmp_path), "parity")
    base = _docs(spark, 1200, "").cache()
    encode_with_checkpoint(spark, base, tbl, key="url", n_parts=4,
                           run_id="base")
    app1 = _docs(spark, 300, "v1-").cache()
    append_encode(spark, app1, tbl, run_id="a1")
    b_urls = sorted(r["url"] for r in base.select("url").collect())
    a_urls = sorted(r["url"] for r in app1.select("url").collect())
    victims = [b_urls[7], a_urls[3]]
    delete_rows(spark, tbl, victims, key="url")
    tbl.widen_column("n", "bigint")
    app2 = spark.createDataFrame(
        [(f"w2-https://wide.example/{i}", f"wide {i}", 2**40 + i)
         for i in range(40)], "url string, text string, n bigint")
    append_encode(spark, app2, tbl, run_id="a2")
    tbl.rename_column("url", "page_url")
    ddl = tbl.row_schema()
    assert "page_url string" in ddl and "n bigint" in ddl
    full = tbl.read_decoded(spark, ddl).cache()
    assert full.count() == 1200 + 300 + 40 - len(victims)

    def same(got, want):
        return (sorted(map(tuple, got.collect()))
                == sorted(map(tuple, want.collect())))

    probes = [b_urls[0], b_urls[600], a_urls[0], "w2-https://wide.example/7",
              *victims, "https://no.such/url", "v1-zzz"]
    for u in probes:
        got = point_lookup(spark, tbl, u, ddl, key="page_url")
        assert same(got, full.filter(F.col("page_url") == u)), u
    assert point_lookup(spark, tbl, b_urls[0], ddl,
                        key="page_url").count() == 1
    for lo, hi in [(b_urls[100], b_urls[400]), ("https://", "w3"),
                   ("v1-", "v1-~"), ("zz", "zzz")]:
        got = range_lookup(spark, tbl, lo, hi, ddl, key="page_url")
        want = full.filter((F.col("page_url") >= lo)
                           & (F.col("page_url") <= hi))
        assert same(got, want), (lo, hi)

    hit = point_lookup(spark, tbl, a_urls[0], ddl, key="page_url")
    assert hit.count() == 1
    hit.collect()
    plan = hit._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan and "BroadcastHashJoin" not in plan, plan
    full.unpersist()
    base.unpersist()
    app1.unpersist()


def test_bloom_index_read_once_under_budget(spark, tmp_path, monkeypatch):
    """When the pyarrow index consult answers (sidecar under the
    driver-side budget), Spark must not read the index files again;
    only the files appended after the index build go to the per-file
    bloom scan."""
    from pyspark.sql.readwriter import DataFrameReader

    from eel_sdk_spark import checkpoint
    from eel_sdk_spark.corpus import gen_batch

    tbl = ManifestTable(str(tmp_path), "idx1")
    base = webtext_df(spark, 2000, parts=4)
    target = base.select("url").first()["url"]
    encode_with_checkpoint(spark, base, tbl, n_parts=8, run_id="r1")
    idx_files = set(build_bloom_index(spark, tbl, key="url")["files"])
    covered = {os.path.basename(f) for f in tbl.current().files}

    def gen(batches):
        import numpy as np

        for b in batches:
            yield gen_batch(np.asarray(b.column(0)))

    # new ids: urls interleave with the indexed ones, so key ranges
    # keep the appended files as candidates
    new = spark.range(2000, 2400, numPartitions=4).mapInArrow(gen,
                                                             SCHEMA_DDL)
    append_encode(spark, new, tbl, run_id="a1")
    snap = tbl.current()
    # files without summary blooms (as written before summaries
    # existed): tier 0 keeps every candidate for the index tiers
    for r in snap.properties["runs"]:
        r.pop("file_summary_blooms", None)
    appended = {os.path.basename(f) for f in snap.files} - covered
    assert len(appended) >= 3

    read_paths: list[str] = []
    real_parquet = DataFrameReader.parquet

    def spy_parquet(self, *paths, **kw):
        read_paths.extend(paths)
        return real_parquet(self, *paths, **kw)

    scanned: list[set] = []
    real_scan = checkpoint._bloom_scan_files

    def spy_scan(sp, files, *a, **kw):
        scanned.append({os.path.basename(f) for f in files})
        return real_scan(sp, files, *a, **kw)

    monkeypatch.setattr(DataFrameReader, "parquet", spy_parquet)
    monkeypatch.setattr(checkpoint, "_bloom_scan_files", spy_scan)
    kept = lookup_files(spark, snap, target, "url", set(range(8)))
    assert not idx_files & set(read_paths), read_paths
    assert scanned and all(s <= appended for s in scanned), scanned
    assert 1 <= len(kept) <= 3
    assert point_lookup(spark, tbl, target, SCHEMA_DDL).count() == 1
