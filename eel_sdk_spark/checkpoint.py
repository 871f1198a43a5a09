"""Per-partition lineage + idempotent resume for the encode pipeline.

Every encode run commits, in ONE atomic manifest commit (table.py), both
its new block files and the set of logical part_ids they cover, plus
per-part metrics (rows, raw/encoded bytes, codec mix) and an input
fingerprint. A restarted run reads the committed part_ids from the current
snapshot and anti-filters them from the input — work is either committed
and skipped or uncommitted and redone, never half-visible.

This is the reference's staged-commit idea (eel-hive/.../HiveSinkWriter.scala:78-101
writes to .staging then renames per-file) upgraded to snapshot semantics;
part_ids are content-derived (xxhash64 of the key column, encode.py), so
resume is valid across different cluster sizes.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F

from .encode import BLOCK_SCHEMA_DDL, encode_df
from .table import ManifestTable


def _check_key_type(schema_ddl: str, key: str, value,
                    what: str = "lookup") -> None:
    """Fail fast when a probe value's Python type disagrees with the
    key column's declared type (r6 guard): blooms hash strings via md5
    and ints via splitmix64, so a mismatched probe (int against a
    string-keyed table or vice versa) tests the WRONG hash family and
    the bloom tier would silently drop files/blocks that contain the
    value — a silent-empty-result bug, not a slow path. The residual
    filter's implicit cast would mask or ANSI-throw it; neither is
    acceptable for a lookup API."""
    from pyspark.sql.types import StringType, StructType

    try:
        f = next(f for f in StructType.fromDDL(schema_ddl).fields
                 if f.name == key)
    except StopIteration:
        return  # key not in the decode schema; nothing to check
    is_str_col = isinstance(f.dataType, StringType)
    if is_str_col != isinstance(value, str):
        raise TypeError(
            f"{what}: key column {key!r} is "
            f"{f.dataType.simpleString()} but the probe value "
            f"{value!r} is {type(value).__name__} — pass the value in "
            "the key's own type (bloom/range pruning hashes each type "
            "differently and would silently miss)")


def lookup_files(spark: SparkSession, snap, key_value, key: str,
                 parts: set[int],
                 aliases: set[str] = frozenset()) -> list[str]:
    """The file tiers of a point lookup, run on the driver in increasing
    cost order; returns the files the decode kernel opens (never empty).
    Block-group skipping happens afterwards, per file, in the kernel.

    1. Part coverage (manifest): exact per-file part sets. Vacuous on
       banded tables, where every file spans all parts.
    2. Per-file KEY ranges (manifest): prune when the input arrived
       clustered by the key; files without a range are kept.
    3. Per-file SUMMARY blooms (manifest), then the bloom INDEX sidecar
       read with pyarrow under a 256 MB budget
       (:func:`prune_files_metadata`).
    4. Only while more than two files survive: the index read by Spark
       when the pyarrow read did not answer (over budget, unreadable),
       and one narrow scan of the per-block KEY BLOOMS of the files the
       index does not cover (payloads untouched; pre-bloom files kept).
    """
    from .encode import key_cols, key_values

    cols = key_cols(key)
    vals = key_values(key, key_value)
    coverage: dict[str, list[int]] = {}
    for r in snap.properties.get("runs", []):
        coverage.update(r.get("file_parts", {}))
    # compaction rewrites files and re-records their coverage here
    coverage.update(snap.properties.get("file_parts_extra", {}))
    files = prune_files_by_part(snap.files, parts, coverage=coverage)
    part_pruned = files
    # tiers 2+3 run per key COMPONENT and intersect: a file survives
    # only if every component's range admits it AND every component's
    # bloom may contain its value (per-component blooms over-approximate
    # the tuple — components may match in different rows — which is the
    # standard conservative trade; the residual filter stays exact)
    for c, v in zip(cols, vals):
        al = (set(aliases) if isinstance(key, str)
              else _key_aliases(snap, c))
        files = _prune_files_one_component(spark, snap, files, c, v, al)
    # empty parquet read is invalid; keep one file (filter drops all)
    return files or part_pruned[:1] or list(snap.files)[:1]


def _component_key_ranges(snap, names: set[str]) -> dict[str, dict]:
    """Per-file [lo, hi] ranges recorded for ONE key component (under
    any of its ``names`` incl. historical renames): single-key runs'
    legacy ``file_key_ranges`` (their primary IS the component),
    composite runs' per-column ``file_key_ranges_cols``, and the
    compaction extra."""
    from .encode import key_cols

    key_ranges: dict[str, dict] = {}
    for r in snap.properties.get("runs", []):
        rkey = r.get("key")
        rprimary = key_cols(rkey)[0] if rkey is not None else None
        if rkey is None or rprimary in names:
            key_ranges.update(r.get("file_key_ranges", {}))
        byc = r.get("file_key_ranges_cols") or {}
        for n in names:
            key_ranges.update(byc.get(n, {}))
    kr_extra = snap.properties.get("file_key_ranges_extra", {})
    xk = kr_extra.get("key")
    if xk is not None and key_cols(xk)[0] in names:
        key_ranges.update(kr_extra.get("files", {}))
    return key_ranges


def _files_in_range(snap, files: list[str], names: set[str], lo, hi
                    ) -> list[str]:
    """Files whose manifest key range for one component (under any of
    ``names``) overlaps [lo, hi]; files without a range are kept."""
    ranges = _component_key_ranges(snap, names)
    fam = "s" if isinstance(lo, str) else "i"
    return [f for f in files
            if (r := ranges.get(os.path.basename(f), {}).get(fam)) is None
            or (r[0] <= hi and lo <= r[1])]


def prune_files_metadata(snap, files: list[str], key: str, key_value,
                         aliases: set[str] = frozenset(),
                         keep_floor: bool = True) -> list[str]:
    """:func:`_metadata_tiers` without the index coverage."""
    return _metadata_tiers(snap, files, key, key_value, aliases,
                           keep_floor)[0]


def _metadata_tiers(snap, files: list[str], key: str, key_value,
                    aliases: set[str] = frozenset(),
                    keep_floor: bool = True
                    ) -> tuple[list[str], set[str] | None]:
    """The ZERO-I/O, ZERO-Spark pruning tiers for one key component:
    manifest per-file key ranges, then the manifest-resident per-file
    SUMMARY blooms (tier 0). Runs entirely driver-side from snapshot
    JSON — no SparkSession, no file opens — so it is also usable from
    contexts without a session (the Python DataSource's pushFilters
    planning hook). Conservative throughout: files without a recorded
    range/summary are kept. ``keep_floor=True`` keeps one file when
    everything pruned (the Spark decode path can't read an empty
    parquet list); ``False`` allows an empty result — correct when all
    files carried metadata and all excluded the value.

    Also returns the basenames the bloom index covered (None: index
    not consulted), so later tiers skip the files it already answered."""
    names = {key} | set(aliases)
    # empty parquet read is invalid; keep one file (filter drops all)
    files = (_files_in_range(snap, files, names, key_value, key_value)
             or (files[:1] if keep_floor else []))
    # tier 0 (r8): manifest-resident per-file SUMMARY blooms — coarse
    # fixed-size blooms the encoder stamped per file (sentinel rows ->
    # _run_record -> snapshot JSON), probed DRIVER-SIDE before ANY file
    # or index open. Files without a summary (pre-r8, saturated, or
    # compaction-rewritten) are conservatively kept; the finer tiers
    # below still run on what survives.
    if len(files) > (2 if keep_floor else 0):
        summaries: dict[str, dict] = {}
        for r in snap.properties.get("runs", []):
            fsb = r.get("file_summary_blooms") or {}
            for n in names:
                summaries.update(fsb.get(n, {}))
        if summaries:
            import base64

            import numpy as _np

            from .encode import SUMMARY_BLOOM_K, bloom_probe_seeds

            # decoded word arrays are cached ON the snapshot object:
            # base64+frombuffer per file per probe was the consult's
            # whole cost (~0.35 ms x files); repeat lookups against the
            # same snapshot now test bits directly
            cache = getattr(snap, "_fsb_cache", None)
            if cache is None:
                cache = {}
                snap._fsb_cache = cache
            h1, h2 = bloom_probe_seeds(key_value)
            kept0 = []
            for f in files:
                s = summaries.get(os.path.basename(f))
                if s is None:
                    kept0.append(f)
                    continue
                w = cache.get(s["b64"])
                if w is None:
                    w = _np.frombuffer(base64.b64decode(s["b64"]),
                                       dtype=_np.uint64)
                    cache[s["b64"]] = w
                m = w.size * 64
                if all((int(w[p >> 6]) >> (p & 63)) & 1
                       for p in ((h1 + i * h2) % m
                                 for i in range(SUMMARY_BLOOM_K))):
                    kept0.append(f)
            files = kept0 or (files[:1] if keep_floor else [])
    # tier 0b (r9): the bloom INDEX sidecar read with pyarrow (no
    # SparkSession needed), so session-less planning gets the precise
    # per-block blooms once the summaries saturate (~6k keys/file).
    # Above the size budget the tier is skipped, never partial, and the
    # Spark-side consult in _prune_files_one_component takes over.
    # Files absent from the index stay conservatively kept.
    covered = None
    if len(files) > (2 if keep_floor else 0):
        v = _bloom_index_verdicts_pyarrow(snap, key_value, names)
        if v is not None:
            covered, hits = v
            files = [f for f in files
                     if os.path.basename(f) not in covered
                     or os.path.basename(f) in hits] \
                or (files[:1] if keep_floor else [])
    return files, covered


#: driver-side pyarrow index-consult budget: a sidecar bigger than this
#: is executor work (the Spark tier), not a planning-worker read
_BLOOM_INDEX_PLAN_BUDGET = 256 << 20


def _bloom_index_verdicts_pyarrow(snap, key_value, names: set[str]):
    """(covered basenames, hit basenames) from the bloom INDEX sidecar,
    computed with pyarrow+numpy only — or None when the snapshot has no
    matching index, the sidecar is unreadable (degrade, never fail), or
    it exceeds the planning budget. Decoded word arrays are cached on
    the snapshot object; per-value probes are vectorized over all block
    rows at once."""
    idx = snap.properties.get("bloom_index")
    if not idx or idx.get("key") not in names:
        return None
    idx_files = idx.get("files") or []
    if not idx_files:
        return None
    import numpy as _np

    from .encode import bloom_hits, bloom_words

    cache = getattr(snap, "_bix_cache", None)
    ckey = tuple(idx_files)
    if cache is None or cache[0] != ckey:
        try:
            if sum(os.path.getsize(f)
                   for f in idx_files) > _BLOOM_INDEX_PLAN_BUDGET:
                return None
            import pyarrow as _pa
            import pyarrow.parquet as _pq

            t = _pa.concat_tables(
                _pq.read_table(f, columns=["file", "key_bloom"],
                               use_threads=False)
                for f in idx_files)
        except Exception:
            return None  # accelerator tier: degrade to coarser tiers
        fl = _np.array(t.column("file").to_pylist(), dtype=object)
        uniq, inv = _np.unique(fl, return_inverse=True)
        cache = (ckey, bloom_words(t.column("key_bloom")), uniq, inv)
        snap._bix_cache = cache
    _, words, uniq, inv = cache
    hit = bloom_hits(words, key_value)
    agg = _np.zeros(len(uniq), dtype=bool)
    _np.logical_or.at(agg, inv, hit)
    return set(uniq.tolist()), set(uniq[agg].tolist())


def _prune_files_one_component(spark: SparkSession, snap,
                               files: list[str], key: str, key_value,
                               aliases: set[str]) -> list[str]:
    """Range tier + bloom tiers (index sidecar, per-file narrow scan)
    for one key component over an already part-pruned candidate list."""
    names = {key} | set(aliases)
    files, covered = _metadata_tiers(snap, files, key, key_value,
                                     aliases=aliases)
    if len(files) <= 2:
        return files
    keep: set[str] | None = None
    if covered is not None:
        # tier 0b answered: covered survivors are index hits already
        keep = {os.path.basename(f) for f in files} & covered
    else:
        idx = snap.properties.get("bloom_index")
        if idx and idx.get("key") in names:
            # tier 3a (r7): the BLOOM INDEX read by Spark, only when
            # tier 0b did not answer (over budget or unreadable): O(1)
            # index files instead of one footer per candidate (512
            # files: 1.9 s of a 3.0 s lookup, BENCH.md round-7)
            from .encode import bloom_may_contain

            try:
                verdicts = (spark.read.parquet(*idx["files"])
                            .groupBy("file")
                            .agg(F.max(bloom_may_contain(key_value)
                                       .cast("int")).alias("hit"))
                            .collect())
            except Exception:
                # deleted/unreadable index files must degrade to the
                # per-file scan, never fail the lookup — the index is an
                # accelerator, not a correctness dependency
                verdicts = []
            covered = {r["file"] for r in verdicts}
            keep = {r["file"] for r in verdicts if r["hit"]}
    # files committed AFTER the index build (appends, compaction
    # survivors) are absent from it and fall to the per-file scan —
    # append-safe without invalidation
    uncovered = [f for f in files
                 if os.path.basename(f) not in (covered or ())]
    if uncovered:
        scanned = _bloom_scan_files(spark, uncovered, key, key_value,
                                    aliases=aliases)
        if scanned is None:  # pre-bloom table: keep them all
            scanned = {os.path.basename(f) for f in uncovered}
        keep = (keep or set()) | scanned
    if keep is not None:
        files = [f for f in files
                 if os.path.basename(f) in keep] or files[:1]
    return files


def _bloom_scan_files(spark: SparkSession, files: list[str], key: str,
                      key_value,
                      aliases: set[str] = frozenset()) -> set[str] | None:
    """Tier 3b: the per-file narrow columnar bloom scan (footers + the
    key blocks' bloom words). Returns surviving basenames, or None when
    the table predates blooms entirely (caller keeps everything)."""
    from .encode import bloom_may_contain

    nar = spark.read.option("mergeSchema", "true").parquet(*files)
    if "key_bloom" not in nar.columns:
        return None
    cand = (nar.filter(F.col("col").isin(key, *aliases))
            .filter(bloom_may_contain(key_value))
            .select(F.input_file_name().alias("f"))
            .distinct().collect())
    return {os.path.basename(r["f"]) for r in cand}


def _key_aliases(snap, key: str) -> set[str]:
    """Historical names of ``key`` under the snapshot's rename history
    (ManifestTable.rename_column) — blocks written pre-rename carry
    them, so every key-matching tier must accept them too."""
    from .table import fold_renames

    fold = fold_renames(snap.properties.get("column_renames", []))
    return {h for h, c in fold.items() if c == key}


def build_bloom_index(spark: SparkSession, tbl: ManifestTable,
                      key: str = "url") -> dict:
    """Copy the current snapshot's per-block key blooms into a few
    narrow INDEX files and register them in the table properties — the
    manifest-level bloom summary tier (ORC's separate bloom streams /
    Iceberg's puffin sidecars, expressed as a parquet sidecar so the
    probe stays the same pure-Column expression).

    Why not blooms in the manifest JSON itself: a bloom scales with
    VALUE count (~1.25 MB per 1M-row file at 10 bits/key) — at 100k
    files that is a 100+ GB manifest nobody can load. The sidecar keeps
    the manifest O(bytes-per-file) while the lookup reads ~1% of the
    table's bytes from O(1) files instead of opening every candidate's
    footer. NULL-bloom block rows are indexed too (bloom_may_contain is
    conservatively true on NULL), so mixed-generation files stay
    correct; files with NO key rows at all (empty writes) simply stay
    uncovered and fall to the per-file scan, which drops them.

    Maintenance contract: the index describes the files that existed at
    build time. Appends and compaction survivors are absent -> lookups
    fall back to the per-file scan for exactly those files; re-run
    build_bloom_index to fold them in (the old index files are
    superseded in-place by the property swap and can be deleted)."""
    import uuid as _uuid

    snap = tbl.current()
    if snap is None or not snap.files:
        raise ValueError("build_bloom_index: table has no snapshot/files")
    nar = spark.read.option("mergeSchema", "true").parquet(*snap.files)
    if "key_bloom" not in nar.columns:
        raise ValueError("build_bloom_index: table has no key_bloom "
                         "column (encoded with key_bloom=False?)")
    out_dir = os.path.join(tbl.dir, "bloom_index", _uuid.uuid4().hex)
    n_out = max(1, len(snap.files) // 1024)
    (nar.filter(F.col("col") == key)
        .select(F.substring_index(F.input_file_name(), "/", -1)
                .alias("file"), "key_bloom")
        .coalesce(n_out)
        .write.mode("overwrite").parquet(out_dir))
    idx_files = ManifestTable.list_written_files(out_dir)
    prop = {"key": key, "files": idx_files,
            "as_of_snapshot": snap.snapshot_id}
    tbl.commit([], "", {"bloom_index": prop}, mode="append")
    return prop


FSCK_SCHEMA_DDL = ("file string, part_id int, block_seq int, "
                   "writer_uid bigint, col string, status string, "
                   "n_blocks bigint")


def fsck(spark: SparkSession, tbl: ManifestTable | None = None,
         files: list[str] | None = None,
         snapshot_id: int | None = None,
         n_tasks: int | None = None) -> DataFrame:
    """Distributed integrity scan of an encoded table: recompute every
    block's ``payload_crc`` against its stored value WITHOUT decoding
    values, and cross-check the manifest's file list against storage.

    Returns one DataFrame (schema ``FSCK_SCHEMA_DDL``) with:

    - one row per corrupted block — ``status='bad_crc'`` with the exact
      (file, part_id, block_seq, writer_uid, col) coordinates, so the
      operator can map damage to the specific parts/columns affected
      (and re-encode just those parts via the checkpoint lineage);
    - one ``status='ok'`` row per file carrying ``n_blocks`` verified
      clean (healthy blocks aggregate per file — at 100k files a
      per-healthy-block row set would dwarf the signal);
    - one ``status='no_crc'`` row per file counting blocks written
      before the crc column existed (uncovered, not failed — rewrite
      via ``ManifestTable.compact`` does NOT backfill crcs, a fresh
      encode does);
    - one ``status='missing_file'`` row per manifest entry that storage
      no longer serves (manifest/storage drift: a too-eager GC, a
      partial restore).

    The unit of work is the file (zero shuffle, like the decode path);
    cost is a narrow columnar read of header+payload bytes + crc32 at
    memory speed — ~the cheapest full-table read possible, suitable as
    a scheduled audit on a 100 TB table. This is the integrity half the
    reference delegates to ORC's file checksums (eel-orc
    OrcSink.scala); here it spans any snapshot including time travel
    (``snapshot_id=``)."""
    if files is None:
        if tbl is None:
            raise ValueError("fsck: pass a ManifestTable or a files list")
        snap = (tbl.snapshot(snapshot_id) if snapshot_id is not None
                else tbl.current())
        if snap is None or not snap.files:
            raise FileNotFoundError(
                f"fsck: table {tbl.dir} has no committed snapshot")
        files = snap.files

    def _scan(batches):
        import zlib

        import pyarrow as pa
        import pyarrow.parquet as pq

        for b in batches:
            for path in b.column("path").to_pylist():
                base = os.path.basename(path)
                out = {"file": [], "part_id": [], "block_seq": [],
                       "writer_uid": [], "col": [], "status": [],
                       "n_blocks": []}

                def emit(status, n, part=None, seq=None, uid=None,
                         col=None):
                    out["file"].append(base)
                    out["part_id"].append(part)
                    out["block_seq"].append(seq)
                    out["writer_uid"].append(uid)
                    out["col"].append(col)
                    out["status"].append(status)
                    out["n_blocks"].append(n)

                def typed_batch():
                    # explicit types: an all-null column (missing_file
                    # rows) must still match the declared int32/int64
                    # fields, inference would make it null-typed
                    return pa.record_batch(
                        [pa.array(out["file"], type=pa.string()),
                         pa.array(out["part_id"], type=pa.int32()),
                         pa.array(out["block_seq"], type=pa.int32()),
                         pa.array(out["writer_uid"], type=pa.int64()),
                         pa.array(out["col"], type=pa.string()),
                         pa.array(out["status"], type=pa.string()),
                         pa.array(out["n_blocks"], type=pa.int64())],
                        names=list(out.keys()))

                try:
                    names = pq.read_schema(path).names
                    has_crc = "payload_crc" in names
                    want = ["part_id", "block_seq", "writer_uid", "col",
                            "header", "payload"]
                    if has_crc:
                        want.append("payload_crc")
                    t = pq.read_table(path, columns=want,
                                      use_threads=False)
                except (FileNotFoundError, OSError):
                    emit("missing_file", 0)
                    yield typed_batch()
                    continue
                except pa.ArrowInvalid:
                    # file exists but is not readable parquet (truncated
                    # upload, bad magic): container-level corruption,
                    # reported distinctly from block-level bad_crc
                    emit("unreadable_file", 0)
                    yield typed_batch()
                    continue
                n_ok = n_uncov = 0
                for tb in t.to_batches():
                    headers = tb.column("header")
                    payloads = tb.column("payload")
                    crcs = tb.column("payload_crc") if has_crc else None
                    for i in range(tb.num_rows):
                        if crcs is None or not crcs[i].is_valid:
                            n_uncov += 1
                            continue
                        got = zlib.crc32(payloads[i].as_buffer(),
                                         zlib.crc32(headers[i].as_py()))
                        if got == crcs[i].as_py():
                            n_ok += 1
                        else:
                            emit("bad_crc", 1,
                                 part=tb.column("part_id")[i].as_py(),
                                 seq=tb.column("block_seq")[i].as_py(),
                                 uid=tb.column("writer_uid")[i].as_py(),
                                 col=tb.column("col")[i].as_py())
                if n_ok:
                    emit("ok", n_ok)
                if n_uncov:
                    emit("no_crc", n_uncov)
                yield typed_batch()

    n_tasks = n_tasks or min(
        len(files), spark.sparkContext.defaultParallelism * 2) or 1
    fdf = spark.createDataFrame([(f,) for f in files], "path string") \
        .repartition(n_tasks)
    return fdf.mapInArrow(_scan, FSCK_SCHEMA_DDL)


def fsck_summary(report: DataFrame) -> dict:
    """Collapse an ``fsck`` report to the operator-facing counters (the
    report itself is the per-block detail). Healthy table =>
    ``bad_crc == 0 and missing_files == 0``."""
    rows = (report.groupBy("status")
            .agg(F.sum("n_blocks").alias("blocks"),
                 F.countDistinct("file").alias("files"))
            .collect())
    by = {r["status"]: r for r in rows}

    def blocks(s):
        return int(by[s]["blocks"]) if s in by else 0

    def files(s):
        return int(by[s]["files"]) if s in by else 0

    return {
        "blocks_ok": blocks("ok"),
        "blocks_bad_crc": blocks("bad_crc"),
        "blocks_no_crc": blocks("no_crc"),
        "missing_files": files("missing_file"),
        "unreadable_files": files("unreadable_file"),
        "healthy": (blocks("bad_crc") == 0 and "missing_file" not in by
                    and "unreadable_file" not in by),
    }


def _expand_coverage(cov) -> set[int]:
    """Inverse of compact_coverage: exact part set from either form."""
    if isinstance(cov, dict):
        out: set[int] = set()
        for lo, hi in cov.get("ranges", []):
            out.update(range(int(lo), int(hi) + 1))
        return out
    return {int(p) for p in cov}


def repair_table(spark: SparkSession, tbl: ManifestTable,
                 input_df: DataFrame,
                 report: DataFrame | None = None,
                 verify_fingerprint: bool = True,
                 run_index: int = -1,
                 dry_run: bool = False) -> dict:
    """Lineage-driven self-healing: take an ``fsck`` damage report, drop
    every affected file, re-encode EXACTLY the parts those files covered
    from the original input, and commit the healed snapshot atomically.

    Part ids are content-derived (``with_part_id``: pmod(xxhash64(key)))
    — the same input rows land in the same parts on any cluster size —
    so "which rows were in the lost file" is answerable from the
    manifest's per-file part coverage without any record of physical row
    placement. The rewrite unit is the PART, not the file: dropping a
    damaged file removes its parts' rows wherever they sit, so every
    OTHER file holding any of those parts must be dropped and re-encoded
    too (the cascade below runs to a fixed point over manifest coverage,
    driver-side, zero I/O).

    Layout determines the blast radius, not correctness:

    - part-aligned layout (``shuffle=True``): a file covers exactly its
      own parts — the cascade stops immediately and one damaged file
      costs ~1/n_parts of an encode pass. This is the layout to choose
      when repairability matters (same trade as Iceberg
      rewrite_data_files granularity).
    - banded 'local' layout: every file spans the full part range, so
      any damage cascades to a full re-encode (returned as
      ``full_rebuild=True``). Still correct, just honest about cost.

    Guards: the committed run's partitioning params are adopted from the
    manifest (never guessed), and ``verify_fingerprint=True`` refuses to
    repair from input whose content fingerprint differs from what the
    damaged run actually encoded — repairing from drifted input would
    silently replace data. MULTI-RUN LIMITATION: repair re-encodes from
    ONE input_df, so a table with appended/upserted/purged runs (their
    records carry fingerprint=None) is refused under the default guard —
    rows later runs contributed to a damaged part would otherwise be
    silently dropped. Pass ``verify_fingerprint=False`` only with an
    input_df that is the exact union of every committed row. Files the manifest has NO coverage for are
    scanned for their exact parts when readable; a damaged file that is
    BOTH unreadable and uncovered forces ``full_rebuild``.

    ``dry_run=True`` returns the plan (files to drop, parts to
    re-encode) without writing anything.

    The healing commit is CAS-guarded on the tombstone list (r8): a
    ``delete_rows`` landing mid-repair must not be erased by the
    property overwrite — on conflict the repair re-reads and retries.
    """
    from .table import CommitConflict

    last_err = None
    for _ in range(3):
        try:
            return _repair_once(spark, tbl, input_df, report,
                                verify_fingerprint, run_index, dry_run)
        except CommitConflict as e:
            last_err = e  # rival delete landed mid-repair: recompute
    raise last_err


def _repair_once(spark: SparkSession, tbl: ManifestTable,
                 input_df: DataFrame, report, verify_fingerprint: bool,
                 run_index: int, dry_run: bool) -> dict:
    from .encode import PART_COL, encode_df, with_part_id

    snap = tbl.current()
    if snap is None or not snap.files:
        raise FileNotFoundError(f"repair: table {tbl.dir} has no snapshot")
    runs = snap.properties.get("runs", [])
    if not runs:
        raise ValueError("repair: table has no encode run lineage")
    run = runs[run_index]
    key, n_parts = run.get("key", "url"), run["n_parts"]
    salt, salt_by = run.get("salt", 1), run.get("salt_by")

    if report is None:
        report = fsck(spark, tbl)
    dmg = report.filter(
        "status in ('bad_crc', 'missing_file', 'unreadable_file')") \
        .select("file", "status").distinct().collect()
    damaged_names = {r["file"] for r in dmg}
    unreadable_names = {r["file"] for r in dmg
                        if r["status"] in ("missing_file",
                                           "unreadable_file")}
    if not damaged_names:
        return {"healthy": True, "dropped_files": [], "repaired_parts": [],
                "full_rebuild": False}

    by_name = {os.path.basename(f): f for f in snap.files}
    coverage: dict[str, object] = {}
    for r in runs:
        coverage.update(r.get("file_parts", {}))
    coverage.update(snap.properties.get("file_parts_extra", {}))

    file_parts: dict[str, set[int]] = {
        n: _expand_coverage(coverage[n]) for n in by_name if n in coverage}
    uncovered = [n for n in by_name if n not in coverage]
    full_rebuild = False
    if any(n in unreadable_names for n in uncovered):
        # a gone/unreadable file with no manifest coverage: its parts
        # are unknowable -> the only safe repair is everything
        full_rebuild = True
    elif uncovered:
        # exact parts for coverage-less files, ONE narrow scan (same
        # aggregate compact() re-records); parts is exact membership,
        # pre-banding rows normalize to [part_id]
        rows = (spark.read.option("mergeSchema", "true")
                .parquet(*[by_name[n] for n in uncovered])
                .select(F.input_file_name().alias("f"),
                        F.explode(F.coalesce(
                            F.col("parts"),
                            F.array(F.col("part_id")))).alias("p"))
                .distinct().collect())
        for n in uncovered:
            file_parts[n] = set()
        for r in rows:
            file_parts[os.path.basename(r["f"])].add(int(r["p"]))

    if full_rebuild:
        drop = set(by_name)
        parts = set(range(n_parts))
    else:
        drop = set(damaged_names)
        parts: set[int] = set()
        for n in drop:
            parts |= file_parts[n]
        changed = True
        while changed:  # cascade: any survivor sharing a part must go too
            changed = False
            for n, ps in file_parts.items():
                if n not in drop and ps & parts:
                    drop.add(n)
                    parts |= ps
                    changed = True
        if len(drop) == len(by_name):
            full_rebuild = True

    out = {"healthy": False, "full_rebuild": full_rebuild,
           "dropped_files": sorted(drop),
           "repaired_parts": sorted(parts),
           "surviving_files": len(by_name) - len(drop)}
    if dry_run:
        return out

    cur_fp = input_fingerprint(input_df, key)
    if verify_fingerprint:
        # EVERY lineage run must fingerprint-match input_df, not just the
        # resolved one: append/upsert/purge runs record fingerprint=None
        # (no single input reproduces them), and on a multi-run table the
        # part-cascade rewrite would silently DROP the other runs' rows
        # that share a damaged part, replacing them with input_df rows
        # only. Same-fingerprint multi-run (a checkpoint resume) is fine.
        fps = {r.get("fingerprint") for r in runs}
        if fps != {cur_fp}:
            raise ValueError(
                f"repair input mismatch: lineage fingerprints "
                f"{sorted(str(f) for f in fps)} != input fingerprint "
                f"{cur_fp}. Either the input drifted, or the table has "
                f"appended/merged runs (recorded fingerprint=None) that "
                f"input_df cannot prove it contains — repairing would "
                f"silently replace their rows. Pass "
                f"verify_fingerprint=False ONLY if input_df is the exact "
                f"union of every row ever committed")

    new_files: list[str] = []
    rec = None
    if full_rebuild or parts:
        src = input_df
        if not full_rebuild:
            src = (with_part_id(input_df, key, n_parts, salt, salt_by)
                   .filter(F.col(PART_COL).isin(*sorted(parts)))
                   .drop(PART_COL))
        blocks = encode_df(src, key=key, n_parts=n_parts,
                           salt=salt, salt_by=salt_by)
        job_dir = tbl.new_data_path()
        blocks.write.mode("overwrite").parquet(job_dir)
        new_files = ManifestTable.list_written_files(job_dir)
        rec = _run_record(spark, job_dir, new_files,
                          run_id=f"repair-{snap.snapshot_id}",
                          fingerprint=cur_fp, n_parts=n_parts, salt=salt,
                          salt_by=salt_by, key=key,
                          bloom_bits=getattr(blocks, "_eel_bloom_bits",
                                             None))
    # else: every damaged file covered ZERO parts (hash-empty writes) —
    # dropping them from the snapshot IS the repair
    props = dict(snap.properties)
    props["runs"] = runs + ([rec] if rec else [])
    survivors = [f for f in snap.files
                 if os.path.basename(f) not in drop]
    healed = tbl.commit(survivors + new_files,
                        snap.schema_ddl or BLOCK_SCHEMA_DDL,
                        props, mode="overwrite",
                        expect_properties={
                            "committed_at":
                            snap.properties.get("committed_at")})
    out["new_files"] = len(new_files)
    out["snapshot_id"] = healed.snapshot_id
    return out


def point_lookup(spark: SparkSession, tbl: ManifestTable, key_value,
                 schema_ddl: str | None = None, key="url",
                 salt_by_value: str | None = None,
                 run_index: int = -1) -> DataFrame:
    """Key point-lookup against an encoded table. Tier order:

    1. Part ids of the key, recomputed with the encoder's hash chain (a
       one-row Spark job — the JVM xxhash64 has no Python twin), at
       every historical width of a widened key.
    2. File tiers on the driver (:func:`lookup_files`).
    3. Per surviving file, in one zero-shuffle Python task
       (:func:`_decode_lookup`): block-group skipping on part
       membership, key min/max and key bloom, then CRC-verified decode
       of the kept groups, minus tombstoned rows.

    The exact equality filter runs last, as a Spark filter. Salted
    tables: pass ``salt_by_value`` (e.g. the url when key is its domain)
    to resolve the exact shard; without it all ``salt`` candidate parts
    are probed."""
    from .encode import key_cols, key_values

    snap = tbl.current()
    if schema_ddl is None:
        schema_ddl = tbl.row_schema(snap)
    # composite keys: key=["source","doc_id"], key_value=(v1, v2) — the
    # part hash chains the component literals exactly like the encoder
    cols = key_cols(key)
    vals = key_values(key, key_value)
    for c, v in zip(cols, vals):
        _check_key_type(schema_ddl, c, v, "point_lookup")
    aliases_by_col = {c: _key_aliases(snap, c) for c in cols}
    aliases = aliases_by_col[cols[0]]
    run = snap.properties.get("runs", [])[run_index]
    n_parts, salt = run["n_parts"], run.get("salt", 1)
    # probe literals MUST carry the key column's exact type: Py4J boxes
    # a small Python int as java.lang.Integer, so F.lit(300) is an
    # IntegerType literal — and xxhash64 hashes int32 and int64
    # DIFFERENTLY, silently deriving the wrong part for long-keyed
    # tables (caught by the r8 composite-key gate leg; the same cast
    # also pins decimal/short keys). A WIDENED key column
    # (ManifestTable.widen_column) is probed at every historical width
    # too — old generations' parts were derived from the narrow type.
    from itertools import product

    from pyspark.sql.types import StructType

    types = {f.name: f.dataType.simpleString()
             for f in StructType.fromDDL(schema_ddl).fields}
    widenings = snap.properties.get("column_widenings", [])
    type_variants = []
    for c in cols:
        names_c = {c} | aliases_by_col[c]
        chain = [types.get(c)] + [e["from"] for e in widenings
                                  if e["col"] in names_c]
        type_variants.append(list(dict.fromkeys(chain)))

    def _parts_expr(kvs):
        if salt > 1 and salt_by_value is not None:
            shard = F.pmod(F.xxhash64(F.lit(salt_by_value)), F.lit(salt))
            return F.array(F.pmod(F.xxhash64(*kvs, shard),
                                  F.lit(n_parts)).cast("int"))
        if salt > 1:
            # shard values must be hashed as BIGINT — that is the type
            # of the encoder's pmod(xxhash64(salt_by), salt) column, and
            # xxhash64 hashes int32 and int64 inputs differently
            return F.array(*[
                F.pmod(F.xxhash64(*kvs, F.lit(s).cast("long")),
                       F.lit(n_parts)).cast("int")
                for s in range(salt)])
        return F.array(F.pmod(F.xxhash64(*kvs), F.lit(n_parts))
                       .cast("int"))

    # a value outside a historical narrow type's range cannot exist in
    # that generation — skip the variant (also avoids the ANSI
    # CAST_OVERFLOW throw on the literal)
    int_caps = {"tinyint": 2**7, "smallint": 2**15, "int": 2**31}

    def _fits(v, t):
        cap = int_caps.get(t)
        return cap is None or not isinstance(v, int) or -cap <= v < cap

    exprs = []
    for combo in product(*type_variants):
        if not all(_fits(v, t) for v, t in zip(vals, combo)):
            continue
        kvs = [F.lit(v).cast(t) if t else F.lit(v)
               for v, t in zip(vals, combo)]
        exprs.append(_parts_expr(kvs))
    row = spark.range(1).select(*[e.alias(f"p{i}")
                                  for i, e in enumerate(exprs)]).first()
    parts = {p for i in range(len(exprs)) for p in row[f"p{i}"]}
    files = lookup_files(spark, snap, key_value, key, parts,
                         aliases=aliases)
    comps = [({c} | aliases_by_col[c], v, v, v) for c, v in zip(cols, vals)]
    from functools import reduce
    from operator import and_

    return _decode_lookup(spark, snap, files, schema_ddl, comps,
                          parts).filter(
        reduce(and_, [F.col(c) == v for c, v in zip(cols, vals)]))


def range_lookup(spark: SparkSession, tbl: ManifestTable,
                 lower, upper, schema_ddl: str | None = None,
                 key: str = "url") -> DataFrame:
    """Key-RANGE query (``lower <= key <= upper``), the scan sibling of
    :func:`point_lookup`: no part tier (a range spans arbitrary parts);
    manifest per-file key ranges prune files on the driver (files
    without a range are kept), then the same per-file kernel skips
    block groups on key min/max and decodes the rest; the exact range
    filter runs last, as a Spark filter."""
    snap = tbl.current()
    if schema_ddl is None:
        schema_ddl = tbl.row_schema(snap)
    _check_key_type(schema_ddl, key, lower, "range_lookup")
    _check_key_type(schema_ddl, key, upper, "range_lookup")
    if snap is None or not snap.files:
        raise FileNotFoundError(f"table {tbl.dir} has no committed snapshot")
    # ``key`` is ONE column — on composite-keyed tables pass any
    # component (ranges are recorded per component); _component_key_ranges
    # resolves it across single-key runs, composite runs, and compaction
    names = {key} | _key_aliases(snap, key)
    files = _files_in_range(snap, snap.files, names, lower, upper)
    return _decode_lookup(spark, snap, files, schema_ddl,
                          [(names, lower, upper, None)], None).filter(
        (F.col(key) >= lower) & (F.col(key) <= upper))


#: block-row columns the lookup kernel reads to pick block groups
_GROUP_SELECT_COLS = ["part_id", "parts", "block_seq", "writer_uid", "col",
                      "min_i", "max_i", "min_s", "max_s", "key_bloom"]


def _select_groups(path: str, comps: list, parts: set[int] | None) -> set:
    """Block groups (part_id, block_seq, writer_uid) of ONE file that may
    hold the probe, read from the key components' block rows only.
    ``comps`` holds one (names, lo, hi, bloom probe or None) per key
    component; ``parts`` (None: any) must overlap a row's exact part
    membership. Same rules as ``encode.prune_block_groups`` and
    ``prune_block_groups_bloom``: a NULL stat or bloom, or a column the
    file predates, keeps the group; a group missing a component's row
    is dropped."""
    import numpy as np
    import pyarrow.parquet as pq

    from .encode import bloom_hits, bloom_words

    have = set(pq.read_schema(path).names)
    t = pq.read_table(
        path, columns=[c for c in _GROUP_SELECT_COLS if c in have],
        filters=[("col", "in", sorted(set().union(*(c[0] for c in comps))))],
        use_threads=False)
    py = {c: t.column(c).to_pylist() for c in t.column_names
          if c != "key_bloom"}
    gids = list(zip(py["part_id"], py["block_seq"], py["writer_uid"]))
    ok = np.array([parts is None or not parts.isdisjoint(
        (g[0],) if m is None else m)  # pre-banding rows: [part_id]
        for g, m in zip(gids, py.get("parts", [None] * len(gids)))], bool)
    survivors = None
    for names, lo, hi, probe in comps:
        keep = ok & np.array([c in names for c in py["col"]], bool)
        fam = ("s" if isinstance(lo, str) else
               "i" if type(lo) is int and type(hi) is int else None)
        if fam and f"min_{fam}" in py:
            keep &= np.array([(a is None or a <= hi) and (b is None or b >= lo)
                              for a, b in zip(py[f"min_{fam}"],
                                              py[f"max_{fam}"])], bool)
        if probe is not None and "key_bloom" in have:
            keep &= bloom_hits(bloom_words(t.column("key_bloom")), probe)
        found = {g for g, k in zip(gids, keep) if k}
        survivors = found if survivors is None else survivors & found
    return survivors


def _decode_lookup(spark: SparkSession, snap, files: list[str],
                   schema_ddl: str, comps: list,
                   parts: set[int] | None) -> DataFrame:
    """The lookups' decode stage: zero-shuffle Python tasks over file
    slices (``spark.range(n).mapInArrow``). Per file, the task picks the
    surviving block groups (:func:`_select_groups`), decodes only those
    through ``encode.decode_file_batches`` (CRCs verified, renames and
    widenings resolved as in ``read_decoded``) and drops tombstoned
    rows; a file with no surviving group is never read past its key
    rows. The caller applies the exact residual filter."""
    from pyspark.sql.types import StructType

    from .encode import decode_file_batches
    from .sources.eel_datasource import (_decode_context, _filter_tombstones,
                                         _load_tombstone_keys,
                                         _tombstone_specs)

    col_order, arrow_types, alias_of = _decode_context(
        snap, StructType.fromDDL(schema_ddl))
    tombstones = _tombstone_specs(snap)
    n = max(1, min(len(files), spark.sparkContext.defaultParallelism * 2))

    def _kernel(batches):
        loaded = _load_tombstone_keys(tombstones)
        for b in batches:
            for i in b.column("id").to_pylist():
                for path in files[i::n]:
                    groups = _select_groups(path, comps, parts)
                    if not groups:
                        continue
                    for out in decode_file_batches(
                            path, col_order, arrow_types, alias_of, True,
                            groups=groups):
                        if loaded:
                            out = _filter_tombstones(out, loaded)
                        if out.num_rows:
                            yield out

    return spark.range(n, numPartitions=n).mapInArrow(_kernel, schema_ddl)


def compact_coverage(parts: list[int]) -> "list[int] | dict":
    """Coverage encoding for one file's part set: exact sorted list, or
    ``{"ranges": [[lo, hi], ...]}`` when collapsing consecutive runs is
    smaller (banded files cover contiguous runs -> one pair instead of
    n_parts ints). Range form may only OVER-approximate on the gaps it
    doesn't have — consumers use it for file pruning, where extra kept
    files are safe and skipped real ones are not possible."""
    if len(parts) < 8:
        return parts
    ranges = []
    lo = prev = parts[0]
    for p in parts[1:]:
        if p == prev + 1:
            prev = p
            continue
        ranges.append([lo, prev])
        lo = prev = p
    ranges.append([lo, prev])
    return {"ranges": ranges} if 2 * len(ranges) < len(parts) else parts


def coverage_overlaps(cov, part_ids: set[int]) -> bool:
    """Does a file's recorded coverage (exact list OR range form)
    intersect the wanted parts?"""
    if isinstance(cov, dict):
        return any(lo <= p <= hi
                   for lo, hi in cov.get("ranges", ()) for p in part_ids)
    return not part_ids.isdisjoint(cov)


def prune_files_by_part(files: list[str], part_ids: set[int],
                        max_workers: int = 16,
                        coverage: dict[str, list[int]] | None = None,
                        ) -> list[str]:
    """File pruning for part-targeted reads, two tiers:

    1. ``coverage`` (basename -> exact sorted part_id list, recorded in
       the manifest at commit time from the same one-scan stats
       aggregate): ZERO I/O — a point lookup on a 10k-file table decides
       from the manifest alone which handful of files to open.
    2. Footer-stats fallback for files without manifest coverage (tables
       written before the coverage existed, or rewritten by a compactor):
       parallel metadata-only reads of the part_id row-group min/max.
       Blocks are sorted by part_id within each file, so ranges are tight.
       Mirrors the reference's stats-based row-group dropping one level
       up, at the file manifest (ParquetPredicateBuilder.scala:96-119)."""
    from concurrent.futures import ThreadPoolExecutor

    import pyarrow.parquet as pq

    all_files = files
    kept_manifest: list[str] = []
    need_footer: list[str] = []
    for f in files:
        cov = (coverage or {}).get(os.path.basename(f))
        if cov is None:
            need_footer.append(f)
        elif coverage_overlaps(cov, part_ids):
            kept_manifest.append(f)
    files = need_footer
    if not files:
        # empty parquet read is invalid; keep one file (filter drops all)
        return kept_manifest or all_files[:1]

    def keep(path: str) -> bool:
        meta = pq.ParquetFile(path).metadata
        idx = next((i for i in range(meta.num_columns)
                    if meta.schema.column(i).name == "part_id"), None)
        if idx is None:
            return True  # not a blocks file: cannot prune, keep
        # banded blocks (no-exchange 'local' layout) span [part_id,
        # part_hi]; the upper bound must come from part_hi stats or the
        # range check would miss parts above the anchor
        idx_hi = next((i for i in range(meta.num_columns)
                       if meta.schema.column(i).name == "part_hi"), idx)
        for rg in range(meta.num_row_groups):
            st = meta.row_group(rg).column(idx).statistics
            st_hi = meta.row_group(rg).column(idx_hi).statistics
            if (st is None or not st.has_min_max
                    or st_hi is None or not st_hi.has_min_max):
                return True  # no stats: conservatively keep
            if any(st.min <= p <= st_hi.max for p in part_ids):
                return True
        return False

    with ThreadPoolExecutor(max_workers=min(max_workers,
                                            max(1, len(files)))) as ex:
        kept = kept_manifest + [f for f, k in zip(files, ex.map(keep, files))
                                if k]
    # empty parquet read is invalid; fall back to one file (filter drops all)
    return kept or files[:1]


def input_fingerprint(df: DataFrame, key) -> str:
    """Order-independent content fingerprint: sum + xor-ish of key hashes
    (composite keys chain their components into one xxhash64)."""
    from .encode import key_cols

    row = df.agg(
        F.count("*").alias("n"),
        F.bit_xor(F.xxhash64(*[F.col(k) for k in key_cols(key)]))
        .alias("s"),
    ).collect()[0]
    return f"{row['n']}:{row['s']}"


def committed_part_ids(tbl: ManifestTable,
                       stage: str | None = None) -> set[int]:
    # resume reads the line it writes: a killed STAGED encode must skip
    # the parts already committed on its ref, not on main
    snap = tbl.head(stage)
    if snap is None:
        return set()
    done: set[int] = set()
    for run in snap.properties.get("runs", []):
        done.update(run["part_ids"])
    return done


def encode_with_checkpoint(
    spark: SparkSession,
    df: DataFrame,
    tbl: ManifestTable,
    key: str = "url",
    n_parts: int | None = None,
    salt: int = 1,
    salt_by: str | None = None,
    run_id: str = "run",
    profile: str = "speed",
    codec_overrides: dict[str, str] | None = None,
    fail_after_commit_parts: int | None = None,
    verify_fingerprint: bool = True,
    shuffle: bool | str = "auto",
    sort_by: list[str] | None = None,
    key_bloom: bool = True,
    bloom_cols: list[str] | None = None,
    bloom_bits: int | None = None,
    stage: str | None = None,
) -> dict:
    """Encode ``df`` into ``tbl``, skipping parts already committed.

    ``stage`` commits onto a named ref instead of main (write half of
    write-audit-publish: audit with fsck, then ``tbl.publish(stage)``).
    Resume and run lineage then read from the ref's head, so a killed
    staged encode resumes on its own line without touching main.

    Resume safety: committed part_ids are only meaningful under the
    partitioning params (n_parts/salt/salt_by/key) of the run that wrote
    them — anti-filtering them against part_ids computed under different
    params silently drops rows. On resume this adopts the committed run's
    params when the caller left them at their defaults, and raises on an
    explicit mismatch. ``verify_fingerprint`` additionally checks that the
    input content matches what the committed run saw before skipping
    anything (an order-independent key-hash fingerprint, one narrow scan).

    ``fail_after_commit_parts`` artificially stops after committing only
    the first K parts — the hook the kill-and-resume test uses.
    Returns run metrics (also persisted in the manifest).
    """
    cur_fp = None  # computed at most ONCE (it is a full key-column scan)
    snap0 = tbl.head(stage)
    prior_runs = snap0.properties.get("runs", []) if snap0 else []
    if prior_runs:
        last = prior_runs[-1]
        adopted = {"n_parts": last["n_parts"], "salt": last.get("salt", 1),
                   "salt_by": last.get("salt_by"), "key": last.get("key", key)}
        asked = {"n_parts": n_parts, "salt": salt, "salt_by": salt_by,
                 "key": key}
        defaults = {"n_parts": None, "salt": 1, "salt_by": None, "key": "url"}
        for p, want in asked.items():
            if want != defaults[p] and want != adopted[p]:
                raise ValueError(
                    f"resume partitioning mismatch: {p}={want!r} but the "
                    f"committed run used {adopted[p]!r}; committed part_ids "
                    f"are only valid under the original params")
        n_parts, salt = adopted["n_parts"], adopted["salt"]
        salt_by, key = adopted["salt_by"], adopted["key"]
        if verify_fingerprint:
            prior_fp = last.get("fingerprint")
            cur_fp = input_fingerprint(df, key)  # reused in the run record
            if prior_fp is not None and cur_fp != prior_fp:
                raise ValueError(
                    f"resume input mismatch: fingerprint {cur_fp} != "
                    f"committed {prior_fp}; skipping committed parts over "
                    f"different input would lose rows")
    n_parts = n_parts or spark.sparkContext.defaultParallelism * 2
    done = committed_part_ids(tbl, stage)

    from .encode import PART_COL, with_part_id
    tagged = with_part_id(df, key, n_parts, salt, salt_by)
    if done:
        tagged = tagged.filter(~F.col(PART_COL).isin(*done))
    if fail_after_commit_parts is not None:
        remaining = sorted(
            r[0] for r in tagged.select(PART_COL).distinct().collect())
        keep = set(remaining[:fail_after_commit_parts])
        tagged = tagged.filter(F.col(PART_COL).isin(*keep))

    # shuffle='local' keeps resume lineage valid (content-derived part
    # assignment) without moving the corpus through shuffle storage;
    # shuffle=False (layout-derived parts) is rejected here because its
    # lineage breaks under any input-split change — exactly what a resume
    # on a different cluster size does
    if shuffle is False:
        raise ValueError("encode_with_checkpoint requires content-derived "
                         "part ids: use shuffle=True or shuffle='local'")
    blocks = encode_df(tagged.drop(PART_COL), key, n_parts, salt, salt_by,
                       profile=profile, codec_overrides=codec_overrides,
                       shuffle=shuffle, sort_by=sort_by,
                       key_bloom=key_bloom, bloom_cols=bloom_cols,
                       bloom_bits=bloom_bits)

    job_dir = tbl.new_data_path()
    blocks.write.mode("overwrite").parquet(job_dir)
    files = ManifestTable.list_written_files(job_dir)

    run = _run_record(spark, job_dir, files, run_id,
                      cur_fp if cur_fp is not None
                      else input_fingerprint(df, key),
                      n_parts, salt, salt_by, key,
                      bloom_bits=getattr(blocks, "_eel_bloom_bits",
                                         bloom_bits))
    if run is None:
        return {"run_id": run_id, "part_ids": [], "skipped_parts": sorted(done),
                "n_rows": 0, "raw_bytes": 0, "enc_bytes": 0}
    from .table import CommitConflict, ddl_of

    # the runs list is a read-modify-write: CAS + retry (r8 audit), or
    # two concurrent committers would each append to the same stale
    # list and the second would erase the first's lineage record
    for _ in range(5):
        snap = tbl.head(stage)
        runs0 = snap.properties.get("runs") if snap else None
        try:
            tbl.commit(files, BLOCK_SCHEMA_DDL,
                       {"runs": (runs0 or []) + [run],
                        "row_schema_ddl": ddl_of(df)},
                       mode="append", stage=stage,
                       expect_properties={"runs": runs0})
            break
        except CommitConflict:
            continue
    else:
        raise CommitConflict(
            f"encode commit to {tbl.dir}: runs lineage kept changing "
            f"under 5 retries")
    return run


def append_encode(spark: SparkSession, df: DataFrame, tbl: ManifestTable,
                  run_id: str = "append", key: str | None = None,
                  n_parts: int | None = None, profile: str = "speed",
                  shuffle: bool | str = "auto",
                  sort_by: list[str] | None = None,
                  stage: str | None = None, **encode_kw) -> dict:
    """Append NEW rows to an existing encoded table with full run
    lineage — the sibling of :func:`encode_with_checkpoint` for data
    that was NOT part of the original run (daily crawl increments).
    The checkpoint API is a same-input resume surface (its fingerprint
    guard rejects different data by design); this one adopts the
    table's partitioning params from the head's last run (raising on an
    explicit mismatch, same rule as resume) and commits ONE run record,
    so ``changes_between`` classifies the files as new data (not
    unclassified) and the manifest prune tiers cover them. ``stage``
    lands the append on a named ref for write-audit-publish."""
    from .encode import BLOCK_SCHEMA_DDL, encode_df

    snap = tbl.head(stage)
    if snap is None:
        raise FileNotFoundError(
            f"append_encode: table {tbl.dir} has no snapshot — bootstrap "
            f"with encode_with_checkpoint")
    runs = snap.properties.get("runs", [])
    last = runs[-1] if runs else {}
    adopted_key = last.get("key", "url")
    adopted_parts = last.get("n_parts")
    from .encode import key_cols as _kcols

    if key is not None and last and _kcols(key) != _kcols(adopted_key):
        raise ValueError(f"append_encode: key={key!r} but the table's "
                         f"lineage key is {adopted_key!r}")
    if n_parts is not None and adopted_parts and n_parts != adopted_parts:
        raise ValueError(f"append_encode: n_parts={n_parts} but the "
                         f"table was encoded with {adopted_parts}")
    key = key or adopted_key
    n_parts = n_parts or adopted_parts \
        or spark.sparkContext.defaultParallelism * 2
    salt = last.get("salt", 1)
    salt_by = last.get("salt_by")

    blocks = encode_df(df, key=key, n_parts=n_parts, salt=salt,
                       salt_by=salt_by, profile=profile, shuffle=shuffle,
                       sort_by=sort_by, **encode_kw)
    job_dir = tbl.new_data_path()
    blocks.write.mode("overwrite").parquet(job_dir)
    files = ManifestTable.list_written_files(job_dir)
    run = _run_record(spark, job_dir, files, run_id,
                      fingerprint=None, n_parts=n_parts, salt=salt,
                      salt_by=salt_by, key=key,
                      bloom_bits=getattr(blocks, "_eel_bloom_bits",
                                         None))
    if run is None:
        return {"run_id": run_id, "part_ids": [], "n_rows": 0,
                "raw_bytes": 0, "enc_bytes": 0}
    from .table import CommitConflict, ddl_of

    for _ in range(5):  # runs-list read-modify-write: CAS + retry
        head = tbl.head(stage)
        runs0 = head.properties.get("runs") if head else None
        try:
            tbl.commit(files, BLOCK_SCHEMA_DDL,
                       {"runs": (runs0 or []) + [run],
                        "row_schema_ddl": ddl_of(df)},
                       mode="append", stage=stage,
                       expect_properties={"runs": runs0})
            break
        except CommitConflict:
            continue
    else:
        raise CommitConflict(
            f"append_encode to {tbl.dir}: runs lineage kept changing "
            f"under 5 retries")
    return run


def _fold_summaries(rows) -> dict:
    """Sentinel rows -> {col: {basename: {"b64": words, "n": n}}}."""
    import base64

    import numpy as _np

    from .encode import SUMMARY_COL_PREFIX

    out: dict[str, dict] = {}
    for r in rows:
        col = r["col"][len(SUMMARY_COL_PREFIX):]
        words = _np.array(r["key_bloom"], dtype=_np.int64)
        out.setdefault(col, {})[os.path.basename(r["file"])] = {
            "b64": base64.b64encode(words.tobytes()).decode("ascii"),
            "n": int(r["n_values"])}
    return out


def _run_record(spark, job_dir: str, files: list[str], run_id: str,
                fingerprint: str, n_parts: int, salt: int,
                salt_by: str | None, key: str,
                bloom_bits: int | None = None) -> dict | None:
    """ONE scan, ONE action over freshly-written blocks: a grouped
    aggregate on (file, parts, col, codec) — cardinality n_files x n_cols
    x codecs, tiny — carries everything the run record needs (part ids,
    rows, byte totals, codec mix) PLUS the per-file part coverage,
    recorded in the manifest so point lookups prune files with ZERO I/O
    (no footer pass at all). Parquet column pruning keeps the payload
    bytes unread. Grouping on the EXACT parts array (banded 'local'
    blocks span a sorted part run; part-aligned blocks carry [part_id])
    keeps run part_ids and file coverage exact in every layout.
    Returns None for an empty write."""
    from .encode import SUMMARY_COL_PREFIX, effective_bloom_bits

    stats = []
    summary_rows = []
    if files:
        blocks = spark.read.parquet(job_dir)
        # tier-0 sentinels (one per file per bloomed column) are lifted
        # into the manifest and EXCLUDED from the stats aggregate (their
        # synthetic col name would otherwise pollute first_col/codec_mix)
        summary_rows = (blocks
                        .filter(F.col("col").startswith(SUMMARY_COL_PREFIX))
                        .select(F.input_file_name().alias("file"), "col",
                                "key_bloom", "n_values")
                        .collect())
        stats = (blocks
                 .filter(~F.col("col").startswith(SUMMARY_COL_PREFIX))
                 .groupBy(F.input_file_name().alias("file"),
                          "parts", "col", "codec")
                 .agg(F.sum("n_values").alias("nv"),
                      F.sum("raw_bytes").alias("raw"),
                      F.sum("enc_bytes").alias("enc"),
                      F.count("*").alias("cnt"),
                      F.min("min_s").alias("mns"), F.max("max_s").alias("mxs"),
                      F.min("min_i").alias("mni"), F.max("max_i").alias("mxi"),
                      F.count("min_s").alias("cns"),
                      F.count("min_i").alias("cni"))
                 .collect())
    if not stats:
        return None

    from .encode import key_cols as _kc

    kset = set(_kc(key))
    first_col = min(r["col"] for r in stats)
    codec_mix: dict[str, int] = {}
    col_bytes: dict[str, list[int]] = {}
    fp_sets: dict[str, set[int]] = {}
    key_acc: dict[str, dict] = {}
    file_stats: dict[str, list[int]] = {}
    for r in stats:
        k = f"{r['col']}:{r['codec']}"
        codec_mix[k] = codec_mix.get(k, 0) + int(r["cnt"])
        cb = col_bytes.setdefault(r["col"], [0, 0])
        cb[0] += int(r["raw"])
        cb[1] += int(r["enc"])
        base = os.path.basename(r["file"])
        fs = file_stats.setdefault(base, [0, 0, 0])
        if r["col"] == first_col:
            fs[0] += int(r["nv"])
        fs[1] += int(r["raw"])
        fs[2] += int(r["enc"])
        fp_sets.setdefault(base, set()).update(int(p) for p in r["parts"])
        if r["col"] in kset:
            a = key_acc.setdefault((r["col"], base),
                                   {"cnt": 0, "cns": 0, "cni": 0,
                                    "mns": None, "mxs": None,
                                    "mni": None, "mxi": None})
            a["cnt"] += int(r["cnt"])
            a["cns"] += int(r["cns"])
            a["cni"] += int(r["cni"])
            for lo_k, hi_k in (("mns", "mxs"), ("mni", "mxi")):
                if r[lo_k] is not None:
                    a[lo_k] = (r[lo_k] if a[lo_k] is None
                               else min(a[lo_k], r[lo_k]))
                if r[hi_k] is not None:
                    a[hi_k] = (r[hi_k] if a[hi_k] is None
                               else max(a[hi_k], r[hi_k]))
    # Per-file KEY RANGE (min..max of the key column across the file's
    # blocks) — the manifest-side lookup pruner for banded tables whose
    # input arrives CLUSTERED by the key (time-ordered appends,
    # monotonic ids, range-partitioned upstreams): the no-exchange
    # layout preserves input clustering, so files cover disjoint key
    # slices and a lookup opens ~1 file instead of all of them (part
    # coverage is vacuous under hash part ids; BENCH.md round-5 lookup
    # table). On hash-scattered input the ranges overlap harmlessly.
    # Recorded ONLY when every key block in the file carries stats:
    # string stats are omitted past 64 chars (parquet-style truncation
    # would make max an invalid upper bound), and a range built from the
    # other blocks would wrongly exclude the statless block's keys.
    # Consumers treat a missing entry as keep — over-approximation safe,
    # like part coverage.
    # Composite keys record a range per COMPONENT column
    # (file_key_ranges_cols); the legacy single-map field keeps carrying
    # the PRIMARY (first) component so every existing consumer — lookup
    # tiers, purge/upsert pruners, analyze-table — works unchanged.
    ranges_by_col: dict[str, dict[str, dict]] = {}
    for (col, base), a in key_acc.items():
        if a["cnt"] and a["cns"] == a["cnt"] and a["mns"] is not None:
            ranges_by_col.setdefault(col, {})[base] = {
                "s": [a["mns"], a["mxs"]]}
        elif a["cnt"] and a["cni"] == a["cnt"] and a["mni"] is not None:
            ranges_by_col.setdefault(col, {})[base] = {
                "i": [int(a["mni"]), int(a["mxi"])]}
    primary = _kc(key)[0]
    file_key_ranges = ranges_by_col.get(primary, {})
    # Part membership per file. Part-ALIGNED files hold few scattered
    # parts -> exact sorted lists (a min/max range would match almost
    # every lookup once AQE coalesces parts into a file). BANDED files
    # hold long contiguous part runs -> the exact list is O(n_parts) PER
    # FILE, which at 800k files x 10k parts is a multi-GB manifest; those
    # collapse to {"ranges": [[lo, hi], ...]} (coverage is used for
    # PRUNING only, so a range over-approximation is safe — it can only
    # keep extra files, never skip a real one; run part_ids above stays
    # the exact union regardless). Empty output files (hash-empty
    # partitions) are recorded as [] so pruning skips them without
    # falling back to a footer read.
    file_parts = {os.path.basename(f): compact_coverage(sorted(
        fp_sets.get(os.path.basename(f), set()))) for f in files}

    return {
        "run_id": run_id,
        "part_ids": sorted({int(p) for r in stats for p in r["parts"]}),
        "n_rows": sum(int(r["nv"]) for r in stats if r["col"] == first_col),
        "raw_bytes": sum(int(r["raw"]) for r in stats),
        "enc_bytes": sum(int(r["enc"]) for r in stats),
        "codec_mix": codec_mix,
        # col -> [raw_bytes, enc_bytes]: per-column ratio accounting (the
        # signal that tells an operator WHICH column to re-profile/sort)
        "col_bytes": col_bytes,
        # basename -> sorted part_id list: manifest-side file pruning
        "file_parts": file_parts,
        # basename -> {"s"|"i": [lo, hi]} key range: manifest-side lookup
        # pruning for banded tables (absent entries = keep). For a
        # composite key this is the PRIMARY component; the other
        # components' ranges ride file_key_ranges_cols below.
        "file_key_ranges": file_key_ranges,
        **({"file_key_ranges_cols": ranges_by_col}
           if len(kset) > 1 else {}),
        # col -> basename -> {"b64": words, "n": values}: the tier-0
        # per-file summary blooms (driver-side consult, zero I/O);
        # saturated files are simply absent (conservatively kept)
        **({"file_summary_blooms": _fold_summaries(summary_rows)}
           if summary_rows else {}),
        # basename -> [n_rows, raw_bytes, enc_bytes]: lets table stats be
        # summed over the LIVE file set after rewrites (purge/compact)
        # instead of over lineage totals that still count replaced files
        "file_stats": {os.path.basename(f): file_stats.get(
            os.path.basename(f), [0, 0, 0]) for f in files},
        "fingerprint": fingerprint,
        "n_parts": n_parts,
        "salt": salt,
        "salt_by": salt_by,
        "key": key,
        # the bits/key this run's blooms were actually sized with (the
        # explicit knob, else the deterministic auto-derivation from
        # n_parts) — analyze-table compares it against the LIVE file
        # count to flag grown tables whose blooms are now under-sized
        "bloom_bits": effective_bloom_bits(n_parts, bloom_bits),
    }


def realign_table(spark: SparkSession, tbl: ManifestTable, schema_ddl: str,
                  run_id: str = "realign", n_parts: int | None = None,
                  profile: str = "speed",
                  codec_overrides: dict[str, str] | None = None,
                  sort_by: list | None = None,
                  verify_fingerprint: bool = True) -> dict:
    from .table import CommitConflict

    last_err = None
    for _ in range(3):  # rival delete mid-realign: recompute (CAS below)
        try:
            return _realign_once(spark, tbl, schema_ddl, run_id, n_parts,
                                 profile, codec_overrides, sort_by,
                                 verify_fingerprint)
        except CommitConflict as e:
            last_err = e
    raise last_err


def _realign_once(spark: SparkSession, tbl: ManifestTable, schema_ddl: str,
                  run_id: str, n_parts: int | None, profile: str,
                  codec_overrides: dict[str, str] | None,
                  sort_by: list | None,
                  verify_fingerprint: bool) -> dict:
    """Layout migration: decode the CURRENT snapshot and re-encode it
    part-ALIGNED (``shuffle=True``) in one overwrite commit — the
    "write fast banded now, realign for point-lookup-heavy serving
    later" path. Banded blocks span parts, so compaction alone can
    never restore one-part-per-file locality; this is the honest way.

    Partitioning params (key/n_parts/salt) are adopted from the last
    committed run so part ids — and therefore resume lineage of future
    appends — stay IDENTICAL; the content fingerprint is recomputed
    over the decoded rows and must match the committed one (decode is
    lossless, so a mismatch means the table is not what its lineage
    claims — abort rather than republish it). Time travel to the
    pre-realign snapshot keeps working; old files are reclaimed by
    ``expire_snapshots``."""
    snap = tbl.current()
    if snap is None:
        raise ValueError("realign_table: no committed snapshot")
    runs = snap.properties.get("runs", [])
    if not runs:
        raise ValueError("realign_table: table has no run lineage")
    last = runs[-1]
    key = last.get("key", "url")
    n_parts = n_parts or last["n_parts"]
    salt, salt_by = last.get("salt", 1), last.get("salt_by")

    df = tbl.read_decoded(spark, schema_ddl)
    # the fingerprint check is one EXTRA decode pass over the table (the
    # frame is recomputed per action) — sound default, skippable at
    # 100 TB where the rewrite pass itself is already the budget
    committed_fp = last.get("fingerprint")
    if verify_fingerprint:
        fp = input_fingerprint(df, key)
        if committed_fp is not None and fp != committed_fp:
            raise ValueError(
                f"realign_table: decoded fingerprint {fp} != committed "
                f"{committed_fp} — refusing to republish")
    else:
        fp = committed_fp
    from .encode import encode_df

    blocks = encode_df(df, key, n_parts, salt, salt_by, profile=profile,
                       codec_overrides=codec_overrides, shuffle=True,
                       sort_by=sort_by)
    job_dir = tbl.new_data_path()
    blocks.write.mode("overwrite").parquet(job_dir)
    files = ManifestTable.list_written_files(job_dir)
    run = _run_record(spark, job_dir, files, run_id, fp,
                      n_parts, salt, salt_by, key,
                      bloom_bits=getattr(blocks, "_eel_bloom_bits", None))
    if run is None:
        raise ValueError("realign_table: empty table")
    # carry durable properties forward (r8 fix — the bare {"runs": [run]}
    # commit silently dropped them): row_schema_ddl (stored-schema reads),
    # cdc.* cursors (a realigned FOLLOWER SINK must not re-bootstrap and
    # duplicate its table), tombstones + renames (suppression of rows
    # that may re-enter via repair, and the fold that translates old
    # tombstone key names). Rewrite-scoped extras (file_*_extra,
    # bloom_index) are dropped — their basenames no longer exist; blocks
    # are re-encoded under CURRENT column names so reads need no mapping,
    # but the rename HISTORY stays for tombstone translation. CAS on the
    # tombstone list like every other full-rewrite commit.
    from .table import ddl_of

    props = {k: v for k, v in snap.properties.items()
             if k not in ("runs", "file_parts_extra", "file_stats_extra",
                          "file_key_ranges_extra", "bloom_index",
                          "committed_at")}
    props["runs"] = [run]
    props["row_schema_ddl"] = ddl_of(df)
    tbl.commit(files, BLOCK_SCHEMA_DDL, props, mode="overwrite",
               expect_properties={
                   "committed_at": snap.properties.get("committed_at")})
    return run
