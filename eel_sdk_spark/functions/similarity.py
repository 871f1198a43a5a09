"""Similarity search over embedding columns (array<float>).

- ``brute_force_topk``: exact cosine top-k — the correctness baseline;
  one broadcast of the query vector, one pass, one small top-k sort
  (Spark's TakeOrderedAndProject), no shuffle of the vectors themselves.
- ``ivf_topk``: the scale path — k-means-lite (deterministic seeded
  centroid pick + one Lloyd step computed distributedly), vectors assigned
  to nearest centroid once (write-time in a real deployment), queries
  probe only ``n_probe`` cells. At 10^12 vectors the probe prunes the
  scan to cells/n_list of the data; centroid assignment is a narrow map.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .dedup import array_lit_sql, cosine, cosine_sql


def brute_force_topk(emb: DataFrame, id_col: str, vec_col: str,
                     query_vec: list[float], k: int = 10) -> DataFrame:
    """Exact cosine top-k against a literal query vector."""
    # one-string expression build (r9, second pass): the Column-API
    # cosine cost ~0.15 s of py4j round trips per query BUILD (after
    # the earlier fix that replaced per-dimension lit() calls with one
    # array literal); cosine_sql parses the identical tree in one call
    scored = emb.select(
        F.col(id_col),
        F.round(cosine_sql(f"`{vec_col}`", array_lit_sql(query_vec)), 4)
        .alias("cos"))
    return scored.orderBy(F.desc("cos"), F.col(id_col)).limit(k)


def l2_norm(vec) -> F.Column:
    """L2 norm of an array column — JVM higher-order functions."""
    v = F.transform(vec, lambda x: x.cast("double"))
    return F.sqrt(F.aggregate(F.transform(v, lambda x: x * x),
                              F.lit(0.0), lambda acc, x: acc + x))


def normalize(vec) -> F.Column:
    """Unit-normalize an array column (zero vectors pass through)."""
    n = l2_norm(vec)
    return F.when(n > 0, F.transform(
        vec, lambda x: x.cast("double") / n)).otherwise(
            F.transform(vec, lambda x: x.cast("double")))


def label_centroids(emb: DataFrame, label_col: str, vec_col: str) -> DataFrame:
    """Per-label centroid in long format (label, pos, value): posexplode +
    one map-side-combinable groupBy — the scale shape for class prototypes
    / cluster summaries over 10^12 vectors (the vectors never shuffle,
    only (label, pos, partial-sum) triples)."""
    return (emb.select(F.col(label_col),
                       F.posexplode(F.col(vec_col)).alias("pos", "v"))
            .groupBy(label_col, "pos")
            .agg(F.round(F.avg(F.col("v").cast("double")), 4).alias("value")))


def batch_topk(emb: DataFrame, queries: DataFrame, id_col: str,
               vec_col: str, qid_col: str, qvec_col: str,
               k: int = 10) -> DataFrame:
    """Exact cosine top-k for MANY query vectors in one corpus pass.

    Plan shape for scale: the query set is broadcast (it is the small
    side by definition); the corpus is scanned ONCE, scoring every
    (row, query) pair JVM-side; only the narrow (qid, id, cos) projection
    — never the vectors — moves through the top-k shuffle, so shuffle
    bytes are ~24·n·Q regardless of embedding width."""
    from pyspark.sql import Window

    q = queries.select(F.col(qid_col).alias("__qid"),
                       F.col(qvec_col).alias("__qvec"))
    scored = (emb.crossJoin(F.broadcast(q))
              .select(F.col("__qid").alias(qid_col), F.col(id_col),
                      F.round(cosine_sql(f"`{vec_col}`", "`__qvec`"), 4)
                      .alias("cos")))
    w = Window.partitionBy(qid_col).orderBy(F.desc("cos"), F.col(id_col))
    return (scored.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") <= k).drop("__rn"))


def _lite_centroids(emb: DataFrame, vec_col: str, n_list: int) -> np.ndarray:
    """Deterministic centroids: hash-ordered sample (TakeOrderedAndProject —
    a parallel top-k over xxhash64 of the vector, NOT first-partition-biased
    limit()), one averaging refinement over the bounded sample. Returns at
    most n_list centroids — fewer when the table is smaller than n_list;
    empty array for an empty table (callers fall back to brute force)."""
    sample_rows = (emb.select(vec_col)
                   .filter(F.col(vec_col).isNotNull())
                   .orderBy(F.xxhash64(F.col(vec_col)))
                   .limit(n_list * 32).collect())
    if not sample_rows:
        return np.empty((0, 0))
    # ragged input: sample only vectors of the most common length
    lens = [len(r[0]) for r in sample_rows]
    dim = max(set(lens), key=lens.count)
    sample = np.array([list(r[0]) for r in sample_rows if len(r[0]) == dim],
                      dtype=np.float64)
    n_list = min(n_list, len(sample))
    seeds = sample[:n_list]
    # one Lloyd step on the sample
    sims = sample @ seeds.T
    assign = np.argmax(sims, axis=1)
    cents = np.stack([
        sample[assign == c].mean(axis=0) if np.any(assign == c) else seeds[c]
        for c in range(n_list)])
    norms = np.linalg.norm(cents, axis=1, keepdims=True)
    return cents / np.clip(norms, 1e-12, None)


#: above this many centroids, cell assignment switches from the codegen
#: expression tree to a broadcast numpy matmul: a tree of n_list×dim
#: literal dot products stops compiling (and stops being fast) in the
#: thousands-of-cells regime a 10^12-vector index actually needs.
ASSIGN_EXPR_MAX = 128

#: the tree size is n_list × dim LITERALS, so wide embeddings hit the
#: analyzer wall long before ASSIGN_EXPR_MAX (64 cells × 768 dims is
#: already ~50k literal nodes) — bound the product too.
ASSIGN_EXPR_MAX_LITERALS = 8192


def assign_cells(emb: DataFrame, cents: np.ndarray, vec_col: str,
                 cell_name: str = "cell",
                 method: str | None = None) -> DataFrame:
    """Nearest-centroid cell id per vector — the one IVF primitive used at
    build, append, and query-time assignment.

    Two physical strategies, same semantics (argmax of centroid dot
    products, first-max tie-break):

    - ``expr`` (n_list <= ASSIGN_EXPR_MAX): pure Column algebra — stays
      inside whole-stage codegen, zero Python.
    - ``matmul``: one Arrow-batched numpy ``(batch × dim) @ (dim ×
      n_list)`` with the centroid matrix broadcast to executors — flat
      BLAS work per batch, unbounded n_list. (Float-sum order differs
      from the sequential expression fold, so an exactly-tied dot could
      in principle resolve differently — never across a real argmax
      margin.)

    ``method`` forces a strategy (tests); default picks by n_list AND
    total literal count (n_list × dim)."""
    if method is None:
        cents_arr = np.asarray(cents)
        literals = cents_arr.shape[0] * (
            cents_arr.shape[1] if cents_arr.ndim > 1 else 1)
        method = ("expr" if len(cents) <= ASSIGN_EXPR_MAX
                  and literals <= ASSIGN_EXPR_MAX_LITERALS else "matmul")
    if method == "expr":
        return emb.withColumn(cell_name, _cell_expr(cents, vec_col))

    import pyarrow as pa

    sc = emb.sparkSession.sparkContext
    # dim × n_list, contiguous for the batch matmul
    bc = sc.broadcast(np.ascontiguousarray(
        np.asarray(cents, dtype=np.float64).T))
    ddl = ", ".join(f"{f.name} {f.dataType.simpleString()}"
                    for f in emb.schema.fields) + f", {cell_name} int"

    def _assign(batches):
        m = bc.value
        dim, _ = m.shape
        for b in batches:
            arr = b.column(vec_col)
            if arr.null_count:
                raise ValueError(
                    f"assign_cells: {arr.null_count} null vectors in "
                    f"'{vec_col}' — drop or impute before indexing")
            flat = np.asarray(arr.flatten(), dtype=np.float64)
            if flat.size != len(arr) * dim:
                raise ValueError(
                    f"assign_cells: ragged vectors in '{vec_col}' "
                    f"(expected dim {dim})")
            cells = np.argmax(flat.reshape(len(arr), dim) @ m, axis=1)
            yield b.append_column(
                cell_name, pa.array(cells.astype(np.int32)))

    return emb.mapInArrow(_assign, ddl)


def _cell_expr(cents: np.ndarray, vec_col: str) -> F.Column:
    """argmax over centroid dot products as a JVM expression tree — the
    per-vector cell assignment, usable both at query time and write time.

    Linear-size tree: dots collected into ONE array, argmax =
    ``array_position(d, array_max(d)) - 1`` (first occurrence — the same
    first-max tie-break as np.argmax on the matmul path). The obvious
    chained-``when`` running-max duplicates the accumulator twice per
    step, so its tree grows 2^n_list — measured OOM of a 1 GB driver at
    just 16 centroids × 64 dims."""
    dots = [F.aggregate(
        F.zip_with(F.col(vec_col),
                   F.lit([float(x) for x in c]),
                   lambda x, y: x * y),
        F.lit(0.0), lambda acc, x: acc + x)
        for c in cents]
    d = F.array(*dots)
    return (F.array_position(d, F.array_max(d)) - 1).cast("int")


def kmeans(emb: DataFrame, vec_col: str, k: int = 16,
           max_iter: int = 10, tol: float = 1e-4) -> np.ndarray:
    """Distributed spherical k-means (full Lloyd iterations — the
    training counterpart of the one-step ``_lite_centroids`` the IVF
    index uses when a better codebook is worth k passes).

    Per iteration: one NARROW assignment pass (``assign_cells`` —
    codegen expression or broadcast matmul, no shuffle of vectors) and
    one map-side-combinable ``posexplode → groupBy(cell, pos).avg``
    (only (cell, pos, partial-sum) triples shuffle, never vectors —
    exactly the ``label_centroids`` scale shape). The k×dim centroid
    matrix is collected driver-side each round (tiny), renormalized
    (spherical: assignment is argmax dot = cosine on unit centroids),
    and the loop stops early when max centroid movement < ``tol``.
    Empty cells keep their previous centroid. Deterministic end to end
    (seed-free hash-ordered init)."""
    sample_rows = (emb.select(vec_col)
                   .orderBy(F.xxhash64(F.col(vec_col)))
                   .limit(k * 32).collect())
    if not sample_rows:
        return np.empty((0, 0))
    sample = np.array([list(r[0]) for r in sample_rows], dtype=np.float64)
    sample = sample / np.clip(
        np.linalg.norm(sample, axis=1, keepdims=True), 1e-12, None)
    k = min(k, len(sample))
    # farthest-point (k-center greedy) init on the deterministic sample:
    # hash-ordered seeds can land several centroids inside one true
    # cluster, and Lloyd cannot split them apart afterwards
    idx = [0]
    d = 1.0 - sample @ sample[0]
    for _ in range(1, k):
        nxt = int(np.argmax(d))
        idx.append(nxt)
        d = np.minimum(d, 1.0 - sample @ sample[nxt])
    cents = sample[idx]
    for _ in range(max_iter):
        assigned = assign_cells(emb, cents, vec_col)
        rows = (assigned.select(F.col("cell"),
                                F.posexplode(F.col(vec_col))
                                .alias("pos", "v"))
                .groupBy("cell", "pos")
                .agg(F.avg(F.col("v").cast("double")).alias("m"))
                .collect())
        new = cents.copy()
        by_cell: dict[int, dict[int, float]] = {}
        for r in rows:
            by_cell.setdefault(int(r["cell"]), {})[int(r["pos"])] = r["m"]
        for c, dims in by_cell.items():
            for p, m in dims.items():
                new[c, p] = m
        norms = np.linalg.norm(new, axis=1, keepdims=True)
        new = new / np.clip(norms, 1e-12, None)
        moved = float(np.abs(new - cents).max())
        cents = new
        if moved < tol:
            break
    return cents


def _probe_cells(cents: np.ndarray, query_vec: list[float],
                 n_probe: int) -> list[int]:
    q = np.asarray(query_vec, dtype=np.float64)
    qn = q / max(np.linalg.norm(q), 1e-12)
    return np.argsort(-(cents @ qn))[:n_probe].tolist()


def ivf_topk(emb: DataFrame, id_col: str, vec_col: str,
             query_vec: list[float], k: int = 10, n_list: int = 16,
             n_probe: int = 4) -> DataFrame:
    """IVF approximate top-k WITHOUT a persisted index: assigns cells at
    query time (one pass — costs a full scan, like any one-shot query).
    For repeated queries build an :class:`IvfIndex` once; its probes read
    only the probed cells' files."""
    cents = _lite_centroids(emb, vec_col, n_list)
    if len(cents) == 0:
        return brute_force_topk(emb, id_col, vec_col, query_vec, k)
    n_probe = min(n_probe, len(cents))
    probe_cells = _probe_cells(cents, query_vec, n_probe)
    assigned = assign_cells(emb, cents, vec_col)
    pruned = assigned.filter(F.col("cell").isin(probe_cells))
    return (pruned.select(
        F.col(id_col),
        F.round(cosine_sql(f"`{vec_col}`", array_lit_sql(query_vec)), 4)
        .alias("cos"))
        .orderBy(F.desc("cos"), F.col(id_col)).limit(k))


class IvfIndex:
    """Persisted IVF index: cell assignment happens at WRITE time — vectors
    land in a manifest table hive-partitioned by ``cell``, centroids ride
    in the manifest properties. A probe resolves its cells driver-side
    (n_list-sized matrix) and reads ONLY those cells' files via
    manifest-side partition pruning — the encoded analogue of the
    reference's metastore partition pruning (HiveSource.scala:104-133).
    At 10^12 vectors a probe touches n_probe/n_list of the data; nothing
    else is listed, let alone scanned."""

    CELL = "cell"

    def __init__(self, table):
        self.table = table

    @classmethod
    def build(cls, emb: DataFrame, id_col: str, vec_col: str,
              root: str, name: str, n_list: int = 16,
              centroids: "np.ndarray | None" = None) -> "IvfIndex":
        """``centroids`` (unit-norm, e.g. from :func:`kmeans`) overrides
        the default one-step lite codebook — trained codebooks cluster
        tighter, so probes at the same n_probe recall more."""
        from ..table import ManifestTable

        cents = (np.asarray(centroids, dtype=np.float64)
                 if centroids is not None
                 else _lite_centroids(emb, vec_col, n_list))
        if len(cents) == 0:
            raise ValueError("cannot build an IVF index over an empty table")
        assigned = assign_cells(emb, cents, vec_col, cell_name=cls.CELL)
        ddl = ", ".join(f"{f.name} {f.dataType.simpleString()}"
                        for f in assigned.schema.fields)
        tbl = ManifestTable(root, name)
        tbl.write_df(assigned, ddl,
                     properties={"ivf": {"centroids": cents.tolist(),
                                         "id_col": id_col,
                                         "vec_col": vec_col}},
                     partition_by=[cls.CELL])
        return cls(tbl)

    @classmethod
    def load(cls, root: str, name: str) -> "IvfIndex":
        from ..table import ManifestTable

        return cls(ManifestTable(root, name))

    def append(self, emb: DataFrame) -> "IvfIndex":
        """Index maintenance: add new vectors to the EXISTING index —
        they are assigned to the nearest existing centroid and appended
        as a new snapshot (atomic, time-travelable). Centroids are NOT
        recomputed: the index stays consistent for concurrent readers
        and probes keep pruning correctly; if the data distribution
        drifts far enough that recall degrades, rebuild (the standard
        IVF maintenance contract, same as FAISS add vs train)."""
        p = self._props()
        cents = np.asarray(p["centroids"])
        assigned = assign_cells(emb, cents, p["vec_col"],
                                cell_name=self.CELL)
        ddl = ", ".join(f"{f.name} {f.dataType.simpleString()}"
                        for f in assigned.schema.fields)
        self.table.write_df(assigned, ddl, properties={"ivf": p},
                            mode="append", partition_by=[self.CELL])
        return self

    def _props(self) -> dict:
        return self.table.current().properties["ivf"]

    def probe_files(self, query_vec: list[float], n_probe: int) -> list[str]:
        """The exact file set a probe will read (for IO assertions/plans)."""
        p = self._props()
        cents = np.asarray(p["centroids"])
        cells = _probe_cells(cents, query_vec, min(n_probe, len(cents)))
        snap = self.table.current()
        from ..partition import PartitionIn

        c = PartitionIn(self.CELL, tuple(cells))
        return [f for f, pv in zip(snap.files, snap.partitions) if c.eval(pv)]

    def search(self, spark, query_vec: list[float], k: int = 10,
               n_probe: int = 4) -> DataFrame:
        from ..partition import PartitionIn

        p = self._props()
        cents = np.asarray(p["centroids"])
        cells = _probe_cells(cents, query_vec, min(n_probe, len(cents)))
        probed = self.table.read(
            spark, constraints=[PartitionIn(self.CELL, tuple(cells))])
        return brute_force_topk(probed, p["id_col"], p["vec_col"],
                                query_vec, k)
