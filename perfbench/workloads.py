"""The benchmark workloads.

Each workload owns its inputs and tables under a private work directory
and exposes the same shape to the runner:

- ``build()``: generate the seeded inputs and build the tables. The
  runner calls it several times and reports the median as set-up work.
- ``reference()``: compute what the checks compare against, once, after
  the last build and outside the set-up timing.
- ``warm()``: one pass of every operation kind, before timing.
- ``round_s``: the wall time of one round (every kind once), as
  measured at ``local[4]`` on a shared 4-vCPU VM; a run does
  ``ceil(seconds / round_s)`` rounds.
- ``next_op()``: the next ``(kind, fn)`` of the closed loop; ``fn()``
  runs one operation, checks its output and returns ``(ok, build_s)``,
  where ``build_s`` is the time of the public call that returned the
  DataFrame the operation then executes.
- ``final_check(run)``: checks made once after the timed loop, counted
  as operations but not timed.
- ``table()``: the eel table and probe keys the per-layer probes use.
- ``stored_ratio()`` and ``named(medians)``: the figures the runner
  prints.

Operations only call the public API of ``eel_sdk_spark`` and
``__spark_entry__``; correctness is checked against the generated
inputs (or DuckDB for the corpus queries), never against the engine's
own bookkeeping alone.
"""

from __future__ import annotations

import datetime as dt
import os
import shutil
import sys
import time

import pyspark.sql.functions as F

from eel_sdk_spark import checkpoint
from eel_sdk_spark.table import ManifestTable

from . import inputs

MB = 1e6
FIXED_WIDTH = {"boolean": 1, "byte": 1, "short": 2, "integer": 4, "date": 4,
               "float": 4, "long": 8, "double": 8, "timestamp": 8}


def _row_hash(cols):
    # 32-bit masked row hashes keep the sums clear of ANSI long overflow
    return F.xxhash64(*[F.col(c) for c in cols]).bitwiseAND(
        F.lit(0xFFFFFFFF))


def content_agg(df, cols):
    """(rows, order-independent hash) over every listed column — the
    sink that materialises each column of a scan."""
    r = df.select(F.count(F.lit(1)).alias("n"),
                  F.coalesce(F.sum(_row_hash(cols)), F.lit(0)).alias("h")
                  ).first()
    return int(r["n"]), int(r["h"])


def raw_bytes_col(df):
    """Uncompressed payload bytes of each row of ``df``: UTF-8 bytes of
    strings, bytes of binaries, the fixed width of everything else;
    nulls count zero."""
    parts = []
    for f in df.schema.fields:
        c, t = F.col(f.name), f.dataType.typeName()
        if t == "string":
            n = F.octet_length(c)
        elif t == "binary":
            n = F.length(c)
        else:
            n = F.when(c.isNotNull(), F.lit(FIXED_WIDTH[t]))
        parts.append(F.coalesce(n, F.lit(0)).cast("long"))
    total = parts[0]
    for p in parts[1:]:
        total = total + p
    return total


def raw_bytes(df) -> int:
    return int(df.select(F.sum(raw_bytes_col(df))).first()[0])


def _norm(v):
    if isinstance(v, dt.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(dt.timezone.utc).replace(tzinfo=None)
        return v
    if isinstance(v, (bytes, bytearray, memoryview)):
        return bytes(v)
    return v


def rows_match(rows, row_id) -> bool:
    """Exactly one row, equal to the generated row ``row_id``."""
    if len(rows) != 1:
        return False
    want = inputs.webtext([row_id]).to_pylist()[0]
    got = rows[0].asDict()
    return all(_norm(got.get(c)) == _norm(want[c])
               for c in inputs.WEBTEXT_COLS)


def table_bytes(tbl: ManifestTable) -> int:
    return sum(os.path.getsize(f) for f in tbl.current().files)


def table_rows(tbl: ManifestTable) -> int:
    return sum(r.get("n_rows", 0)
               for r in tbl.current().properties.get("runs", []))


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


class Workload:
    name = ""
    # one round of the closed loop runs each kind once
    kinds: tuple = ()

    def __init__(self, spark, seed: int, work: str, cpus: int):
        self.spark, self.seed, self.work, self.cpus = spark, seed, work, cpus
        self._builds = 0
        # wall and CPU time the warm pass spent checking outputs
        self.check_s = self.check_cpu_s = 0.0

    def fresh_dir(self, label: str) -> str:
        self._builds += 1
        d = os.path.join(self.work, f"{label}{self._builds}")
        os.makedirs(d)
        return d

    def reference(self) -> None:
        pass

    def final_check(self, run) -> None:
        pass

    def warm(self, run) -> None:
        """Run ops until every kind has run once (``run`` is the
        runner's recorder, so warm ops are counted as attempted)."""
        seen = set()
        while seen != set(self.kinds):
            kind, fn = self.next_op()
            run(kind, fn)
            seen.add(kind)

    def close(self) -> None:
        pass


class BulkRoundtrip(Workload):
    """Encode the seeded webtext corpus into a fresh table, read it back
    in full and through a selective two-column projection, and run the
    repository's ``text_metrics`` query over seeded documents:
    executor-side kernels (codecs and ``functions/``) do the work."""

    name = "bulk_roundtrip"
    QUERIES = ("text_metrics",)
    kinds = ("encode", "scan", "select") + QUERIES
    round_s = 6.0
    # ~300 MB raw. Driver self time stays ~0.5 s an operation at any
    # size; at 200k rows it is 19% of an encode and 43% of a full scan
    # (31% and 54% at 40k rows). More rows do not fit the run budget.
    ROWS = 200_000
    # text_metrics takes about 1 s warm
    DOCS = 8_000
    SELECT_LANG = "de"

    def __init__(self, *a):
        super().__init__(*a)
        import __spark_entry__ as entry

        self._queries = entry.queries()
        self._oracles = entry.oracle_sql()
        self.oracle = None
        self._checking = False

    def build(self) -> None:
        import pyarrow.parquet as pq

        if getattr(self, "src", None) is not None:
            self.src.unpersist(blocking=True)
        self.src = inputs.webtext_df(self.spark, self.seed, 0, self.ROWS,
                                     self.cpus).cache()
        noop(self.src)  # generate and cache every column
        self.tables: list[str] = []
        self._step = 0
        self.root = self.fresh_dir("bulk")
        # the corpus queries read <sf>/documents.parquet
        self.sf = self.fresh_dir("sf")
        pq.write_table(inputs.documents(self.seed, self.DOCS),
                       os.path.join(self.sf, "documents.parquet"))

    def reference(self) -> None:
        """Raw bytes and the expected scan results, in one job."""
        from .oracle import Oracle

        sel = F.col("lang") == self.SELECT_LANG
        r = self.src.select(
            F.sum(raw_bytes_col(self.src)).alias("raw"),
            F.count(F.lit(1)).alias("n"),
            F.coalesce(F.sum(_row_hash(inputs.WEBTEXT_COLS)),
                       F.lit(0)).alias("h"),
            F.count(F.when(sel, 1)).alias("n_sel"),
            F.coalesce(F.sum(F.when(sel, _row_hash(["url", "warc_ts"]))),
                       F.lit(0)).alias("h_sel")).first()
        self.raw_bytes = int(r["raw"])
        self.expect_all = int(r["n"]), int(r["h"])
        self.expect_sel = int(r["n_sel"]), int(r["h_sel"])
        self.oracle = Oracle(self.sf)

    def warm(self, run) -> None:
        # the warm pass checks each query against DuckDB; timed passes
        # only materialise them
        self._checking = True
        super().warm(run)
        self._checking = False

    def _encode(self):
        wh = os.path.join(self.root, f"t{self._step}")
        tbl = ManifestTable(wh, "blocks")
        run = checkpoint.encode_with_checkpoint(
            self.spark, self.src, tbl, run_id=f"bulk-{self._step}")
        self.tables.append(wh)
        self.tbl = tbl
        return run.get("n_rows") == self.ROWS and table_rows(tbl) == self.ROWS

    def _scan(self):
        t = time.perf_counter()
        df = self.spark.read.format("eel").load(self.tables[-1])
        build = time.perf_counter() - t
        return content_agg(df, inputs.WEBTEXT_COLS) == self.expect_all, build

    def _select(self):
        t = time.perf_counter()
        df = (self.spark.read.format("eel")
              .option("columns", "url,warc_ts,lang").load(self.tables[-1])
              .filter(F.col("lang") == self.SELECT_LANG)
              .select("url", "warc_ts"))
        build = time.perf_counter() - t
        return content_agg(df, ["url", "warc_ts"]) == self.expect_sel, build

    def _query(self, name: str):
        """Run a corpus query in full: compared with its DuckDB twin on
        the warm pass, through a ``noop`` sink otherwise."""
        t = time.perf_counter()
        df = self._queries[name](self.spark, self.sf)
        build = time.perf_counter() - t
        if not self._checking:
            noop(df)
            return True, build
        got = df.toPandas()
        # DuckDB runs in this process: its threads count in process_time
        t, c = time.perf_counter(), time.process_time()
        bad = self.oracle.check(self._oracles[name], got)
        self.check_s += time.perf_counter() - t
        self.check_cpu_s += time.process_time() - c
        if bad:
            print(f"oracle mismatch in {name}: {bad}", file=sys.stderr)
        return bad is None, build

    def next_op(self):
        kind = self.kinds[self._step % len(self.kinds)]
        self._step += 1
        if kind == "encode":
            # keep the newest table only; older ones just cost disk
            for old in self.tables[:-1]:
                shutil.rmtree(old, ignore_errors=True)
            self.tables = self.tables[-1:]
            return kind, lambda: (self._encode(), 0.0)
        if kind in self.QUERIES:
            return kind, lambda: self._query(kind)
        return kind, self._scan if kind == "scan" else self._select

    def table(self):
        ids = inputs.table_ids(self.seed, self.ROWS)[::self.ROWS // 8]
        keys = [inputs.url_of(int(i)) for i in ids[:4]]
        keys += [inputs.url_of(inputs.absent_id(self.seed, i))
                 for i in range(4)]
        return self.tbl, "url", keys, self.src

    def stored_ratio(self) -> float:
        return table_bytes(self.tbl) / self.raw_bytes

    def named(self, med):
        return [("encode_mb_s", self.raw_bytes / MB / med["encode"], "MB/s"),
                ("scan_mb_s", self.raw_bytes / MB / med["scan"], "MB/s"),
                ("select_scan_s", med["select"], "s")] + [
                (f"{q}_s", med[q], "s") for q in self.QUERIES]

    def close(self) -> None:
        if self.oracle is not None:
            self.oracle.close()


class LookupAppend(Workload):
    """Point lookups, pushdown reads and small appends, interleaved on
    one table built with engine defaults."""

    name = "lookup_append"
    kinds = inputs.LOOKUP_KINDS
    # At least three rounds: about one absent key in ten passes the
    # blooms and costs 4x a plain miss, and a median of three absorbs it.
    round_s = 5.0
    # Small on purpose: a probe should plan much and decode little. The
    # base table has one file per core, and each append adds as many,
    # so by the end of a run pruning keeps ~1 file of ~20.
    ROWS = 10_000
    BATCH = 200

    def build(self) -> None:
        src = inputs.webtext_df(self.spark, self.seed, 0, self.ROWS,
                                self.cpus)
        self.wh = self.fresh_dir("lookup")
        self.tbl = ManifestTable(self.wh, "blocks")
        run = checkpoint.encode_with_checkpoint(self.spark, src, self.tbl,
                                                run_id="base")
        if run.get("n_rows") != self.ROWS:
            raise RuntimeError(f"base table has {run.get('n_rows')} rows")
        self.plan = inputs.lookup_plan(self.seed, self.ROWS, self.BATCH)
        self.probes: list[str] = []
        self.batches = 0

    def _lookup(self, row_id: int, url: str, hit: bool):
        t = time.perf_counter()
        df = checkpoint.point_lookup(self.spark, self.tbl, url)
        build = time.perf_counter() - t
        rows = df.collect()
        return (rows_match(rows, row_id) if hit else not rows), build

    def _pushdown(self, row_id: int, url: str, hit: bool):
        t = time.perf_counter()
        df = (self.spark.read.format("eel").option("pushdown", "true")
              .load(self.wh).filter(F.col("url") == url))
        build = time.perf_counter() - t
        rows = df.collect()
        return (rows_match(rows, row_id) if hit else not rows), build

    def _append(self, batch: int):
        self.batches = batch + 1
        start = self.ROWS + batch * self.BATCH
        df = inputs.webtext_df(self.spark, self.seed, start, self.BATCH,
                               self.cpus)
        before = table_rows(self.tbl)
        run = checkpoint.append_encode(self.spark, df, self.tbl,
                                       run_id=f"append-{batch}")
        ok = (run.get("n_rows") == self.BATCH
              and table_rows(self.tbl) - before == self.BATCH)
        return ok, 0.0

    def final_check(self, run) -> None:
        """Read the whole table back and compare it with every row
        generated for it: catches an append whose data never landed."""
        def check():
            want = inputs.webtext_df(self.spark, self.seed, 0,
                                     self.ROWS + self.batches * self.BATCH,
                                     self.cpus)
            got = self.spark.read.format("eel").load(self.wh)
            cols = inputs.WEBTEXT_COLS
            return content_agg(got, cols) == content_agg(want, cols), 0.0

        run("verify_table", check)

    def next_op(self):
        kind, arg = next(self.plan)
        if kind == "append":
            return kind, lambda: self._append(arg)
        hit, url = kind.endswith("_hit"), inputs.url_of(arg)
        self.probes.append(url)
        op = self._lookup if kind.startswith("lookup") else self._pushdown
        return kind, lambda: op(arg, url, hit)

    def table(self):
        return self.tbl, "url", self.probes[-8:], None

    def stored_ratio(self) -> float:
        rows = table_rows(self.tbl)
        return table_bytes(self.tbl) / raw_bytes(inputs.webtext_df(
            self.spark, self.seed, 0, rows, self.cpus))

    def named(self, med):
        return [(f"{k}_p50_s", med[k], "s") for k in self.kinds]


WORKLOADS = {w.name: w for w in (BulkRoundtrip, LookupAppend)}
