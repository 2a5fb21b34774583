"""IVF approximate-nearest-neighbor over embedding columns — the
100 TB similarity-search path, as composable DataFrame operators.

The toy-constant version of this shape lives in queries.q31 (oracle-
certified); this module is the scale path the bench exercises at 1e5+
vectors with sqrt(N) centroids:

- ``kmeans_fit``: distributed Lloyd iterations. Each round is one
  map-side pass (zero shuffle) against the always-small (sqrt(N)-row)
  broadcast centroid set: a per-Arrow-batch BLAS argmin that emits
  per-cell partial sums, merged on the driver. No RNG (hash-ordered
  deterministic init). At planet scale you fit on a
  sample (``vectors.sample(...)``) and assign the full table once.
- ``ivf_assign``: nearest-centroid cell id per vector.
- ``ivf_search``: per query, rank the nprobe nearest cells, then an
  exact dot-product top-k over ONLY those cells' vectors — the
  candidate set is a cell-restricted equi-join, never all vectors.

Numeric kernels ride Arrow-batched numpy (a BLAS matmul per batch) —
the vectorized-UDF lane the input contract allows; a pure JVM
higher-order-function lane (``method="sql"``) is retained for
bit-exact difference arithmetic and plan-shape pinning. Search-side
dot products stay JVM-side (``zip_with``/``aggregate``).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import LongType
from pyspark.sql.window import Window

from ..session import local_frame


def _argmin_cells(
    v: np.ndarray, cmat: np.ndarray, chunk: int = 8192
) -> np.ndarray:
    """Row-wise nearest-centroid INDEX via cache-blocked GEMM.

    argmin_c ||v - c||^2 == argmin_c (-2 v.c + ||c||^2) — the ||v||^2
    term is constant per row and dropping it halves the arithmetic;
    chunking keeps the (chunk x k) score block in cache instead of
    materializing the full n x k distance matrix (measured 5-7x on
    100k x 64 x 317: 5.0 s -> 0.75 s). First minimum wins, as before.
    """
    cn = (cmat * cmat).sum(axis=1)
    out = np.empty(len(v), dtype=np.int64)
    for s in range(0, len(v), chunk):
        e = s + chunk
        out[s:e] = (-2.0 * (v[s:e] @ cmat.T) + cn[None, :]).argmin(axis=1)
    return out


def _d2(vec_col: str, cent_col: str) -> str:
    return (
        f"aggregate(zip_with({vec_col}, {cent_col}, (x, y) -> (x - y) * (x - y)), "
        "0.0D, (acc, v) -> acc + v)"
    )


def _dot(vec_col: str, q_col: str) -> str:
    return (
        f"aggregate(zip_with({vec_col}, {q_col}, (x, y) -> x * y), "
        "0.0D, (acc, v) -> acc + v)"
    )


def kmeans_fit(
    vectors: DataFrame,
    n_centroids: int,
    iters: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "vec",
) -> DataFrame:
    """vectors(id, vec array<double>) -> centroids(centroid_id bigint,
    cv array<double>). Init is fully deterministic: the ``n_centroids``
    rows with the smallest ``xxhash64(id)`` (a hash-ordered
    pseudo-random sample — no RNG, stable across partitionings). The
    Lloyd update is deterministic up to floating point: per-batch
    partial sums merge in batch order, so centroid coordinates can
    differ in the last ulp across cluster layouts, which can flip a
    near-tie assignment — runs on a fixed layout reproduce exactly.
    Cells that lose all members drop out (standard k-means behavior),
    so the result may have fewer rows.
    """
    spark = vectors.sparkSession
    # init: distributed partial top-n (TakeOrderedAndProject), NOT a
    # global-sort window — only the n winners ever leave their partitions.
    # Collected immediately: the Lloyd loop only ever consumes centroids
    # as a driver-side matrix (broadcast into the assignment), so the
    # table lives as plain rows between rounds — no per-round
    # localCheckpoint job, no window.
    init_rows = (
        vectors.select(id_col, vec_col)
        .orderBy(F.xxhash64(F.col(id_col)), F.col(id_col))
        .limit(n_centroids)
        .collect()
    )
    cents_rows = [(int(i), list(r[1])) for i, r in enumerate(init_rows)]
    if not cents_rows:
        return local_frame(spark, [], "centroid_id long, cv array<double>")
    sc = spark.sparkContext
    for _ in range(iters):
        # FUSED assign + partial update: one mapInPandas pass emits
        # per-batch (cell, count, sum-vector) partials — k rows per
        # Arrow batch — merged driver-side. One job per Lloyd round,
        # no per-round assignment stage, and no 64-column aggregate
        # whose generated code costs seconds to compile. Partial
        # sums merge in batch order (deterministic for a fixed
        # layout).
        cids = np.array([i for i, _ in cents_rows], dtype=np.int64)
        cmat = np.array([cv for _, cv in cents_rows], dtype=np.float64)
        bc = sc.broadcast((cids, cmat))

        def partials(batches):
            ids, cm = bc.value
            for pdf in batches:
                if pdf.empty:
                    continue
                v = np.vstack(pdf[vec_col].to_numpy())
                a = _argmin_cells(v, cm)  # first min = lowest id
                sums = np.zeros((len(ids), v.shape[1]))
                np.add.at(sums, a, v)
                counts = np.bincount(a, minlength=len(ids))
                nz = np.flatnonzero(counts)
                yield pd.DataFrame(
                    {
                        "centroid_id": ids[nz],
                        "n": counts[nz],
                        "s": [sums[i] for i in nz],
                    }
                )

        rows = (
            vectors.select(vec_col)
            .mapInPandas(
                partials, "centroid_id long, n long, s array<double>"
            )
            .collect()
        )
        bc.unpersist()
        acc: dict[int, tuple[int, np.ndarray]] = {}
        for r in rows:
            n0, s0 = acc.get(int(r.centroid_id), (0, None))
            sv = np.asarray(r.s, dtype=np.float64)
            acc[int(r.centroid_id)] = (
                n0 + int(r.n),
                sv if s0 is None else s0 + sv,
            )
        cents_rows = sorted(
            (cid, (s / n).tolist()) for cid, (n, s) in acc.items()
        )
    return local_frame(spark, cents_rows, "centroid_id long, cv array<double>")


def ivf_assign(
    vectors: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "vec",
    method: str = "numpy",
) -> DataFrame:
    """vectors + centroids -> vectors + centroid_id: nearest cell per
    vector. ZERO shuffle either way — assignment is embarrassingly
    parallel, the 100 TB shape.

    ``method="numpy"`` (default): the (sqrt(N)-small) centroid matrix
    rides a ``sparkContext.broadcast`` and each Arrow batch computes
    all pairwise distances as ONE BLAS matmul
    (||v||^2 - 2 v.C^T + ||c||^2) — numeric kernels belong in GEMM,
    not the Catalyst expression interpreter (measured ~10x on 1e5x64).
    ``method="sql"``: pure higher-order-function argmin against the
    centroid table broadcast as one array row — bit-exact difference
    arithmetic with a deterministic (d2, centroid_id) struct
    tie-break; the lane the plan tests pin. The two lanes agree
    everywhere except ties closer than float64 rounding of the
    expanded form."""
    if method == "sql":
        # NOTE: on an EMPTY centroid table this lane yields NULL
        # centroid_id for every row (array_min over an empty array);
        # the numpy lane raises instead. kmeans_fit never emits an
        # empty table for non-empty input.
        cent_arr = centroids.agg(
            F.collect_list(F.struct("centroid_id", "cv")).alias("_cents")
        )
        argmin = (
            "array_min(transform(_cents, c -> struct("
            + _d2(vec_col, "c.cv")
            + " as d2, c.centroid_id as centroid_id))).centroid_id"
        )
        return (
            vectors.crossJoin(F.broadcast(cent_arr))
            .withColumn("centroid_id", F.expr(argmin))
            .drop("_cents")
        )
    if method != "numpy":
        raise ValueError(f"unsupported method={method}")
    # standalone use: the centroid broadcast must outlive the returned
    # lazy DataFrame, so it is left for the ContextCleaner (the same
    # lifetime Spark's own broadcast joins have)
    assigned, _bc = _assign_numpy(vectors, centroids, vec_col)
    return assigned


def _broadcast_centroids(vectors: DataFrame, centroids: DataFrame, *extra):
    """Broadcast ``(centroid ids, centroid matrix, *extra)``, rows sorted
    by centroid_id (so an argmin tie breaks to the lowest id); raises on
    an empty centroid table. Caller owns the broadcast's release."""
    rows = sorted(centroids.collect(), key=lambda r: r.centroid_id)
    if not rows:
        raise ValueError("empty centroid table")
    cids = np.array([r.centroid_id for r in rows], dtype=np.int64)
    cmat = np.array([r.cv for r in rows], dtype=np.float64)
    return vectors.sparkSession.sparkContext.broadcast((cids, cmat, *extra))


def _assign_numpy(vectors: DataFrame, centroids: DataFrame, vec_col: str):
    """(assigned DataFrame, centroid Broadcast) — caller owns release."""
    bc = _broadcast_centroids(vectors, centroids)

    @F.pandas_udf(LongType())
    def nearest(vec: pd.Series) -> pd.Series:
        ids, cm = bc.value
        v = np.vstack(vec.to_numpy())
        # blocked no-vnorm argmin (see _argmin_cells); first minimum
        # wins and cm is sorted by centroid_id, so ties break to the
        # lowest id — same documented float-tie contract as before
        return pd.Series(ids[_argmin_cells(v, cm)])

    return vectors.withColumn("centroid_id", nearest(F.col(vec_col))), bc


def _assign_encode_fused(vectors: DataFrame, centroids: DataFrame, codebook,
                         vec_col: str):
    """(vectors + centroid_id + codes, Broadcast) in ONE Arrow pass.

    The index build/append pipeline previously crossed the Python
    boundary twice per vector (centroid argmin, then PQ code argmin on
    the SQL-quantized copy) with a Catalyst per-element quantize
    transform in between. Here the float vector crosses ONCE and the
    quantize runs as the bit-exact numpy twin (``quantize_np``), so the
    stored centroid_id/codes are identical to the unfused path —
    guarded by the quantize parity test and the build-path equality
    test. Caller owns the broadcast's lifetime (same contract as
    ``_assign_numpy``)."""
    from .pq import _argmin_codes_exact, quantize_np

    bc = _broadcast_centroids(vectors, centroids, codebook.codes)

    @F.pandas_udf("centroid_id bigint, codes array<int>")
    def fused(vec: pd.Series) -> pd.DataFrame:
        ids, cm, cb = bc.value
        if not len(vec):
            return pd.DataFrame(
                {"centroid_id": pd.Series([], dtype="int64"),
                 "codes": pd.Series([], dtype=object)}
            )
        v = np.vstack(vec.to_numpy())
        cid = ids[_argmin_cells(v, cm)]
        qv = quantize_np(v)
        m, _, dsub = cb.shape
        out = np.empty((len(v), m), dtype=np.int32)
        for j in range(m):
            out[:, j] = _argmin_codes_exact(qv[:, j * dsub:(j + 1) * dsub], cb[j])
        return pd.DataFrame({"centroid_id": cid, "codes": list(out)})

    fused_col = fused(F.col(vec_col))
    assigned = (
        vectors.withColumn("_ac", fused_col)
        .withColumn("centroid_id", F.col("_ac.centroid_id"))
        .withColumn("codes", F.col("_ac.codes"))
        .drop("_ac")
    )
    return assigned, bc


def ivf_search(
    vectors_assigned: DataFrame,
    centroids: DataFrame,
    queries: DataFrame,
    nprobe: int = 8,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "vec",
    query_id_col: str = "query_id",
) -> DataFrame:
    """vectors_assigned(id, vec, centroid_id) x queries(query_id, vec)
    -> (query_id, vec_id, dot, rank): exact dot-product top-k over the
    union of each query's ``nprobe`` nearest cells.

    The candidate join is ``centroid_id``-restricted: with sqrt(N)
    cells and nprobe probes, each query scans ~nprobe/sqrt(N) of the
    table. Queries are broadcast (they are the small side); the vector
    table streams at any scale.
    """
    d2q = _d2("qv", "cv")
    wp = Window.partitionBy(query_id_col).orderBy(F.asc("_d2"), F.asc("centroid_id"))
    probes = (
        queries.select(query_id_col, F.col(vec_col).alias("qv"))
        .crossJoin(F.broadcast(centroids))
        .select(query_id_col, "qv", "centroid_id", F.expr(d2q).alias("_d2"))
        .withColumn("_rn", F.row_number().over(wp))
        .where(F.col("_rn") <= nprobe)
        .select(query_id_col, "qv", "centroid_id")
    )
    dot = _dot(vec_col, "qv")
    wk = Window.partitionBy(query_id_col).orderBy(F.desc("dot"), F.asc(id_col))
    return (
        vectors_assigned.join(F.broadcast(probes), "centroid_id")
        .select(query_id_col, id_col, F.expr(dot).alias("dot"))
        .withColumn("rank", F.row_number().over(wk))
        .where(F.col("rank") <= k)
    )


def brute_topk(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "vec",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Exact dot-product top-k over ALL vectors (the recall oracle and
    the small-scale baseline): one pass, queries broadcast."""
    dot = _dot(vec_col, "qv")
    wk = Window.partitionBy(query_id_col).orderBy(F.desc("dot"), F.asc(id_col))
    return (
        vectors.crossJoin(
            F.broadcast(queries.select(query_id_col, F.col(vec_col).alias("qv")))
        )
        .select(query_id_col, id_col, F.expr(dot).alias("dot"))
        .withColumn("rank", F.row_number().over(wk))
        .where(F.col("rank") <= k)
    )


def _pq_codebook_to_df(spark, codebook):
    rows = [
        (j, c, [int(x) for x in codebook.codes[j, c]])
        for j in range(codebook.m)
        for c in range(codebook.ksub)
    ]
    return local_frame(spark, rows, "j int, code int, cv array<bigint>")


def _pq_codebook_from_df(df):
    import numpy as np

    from .pq import PQCodebook

    rows = df.collect()
    m = max(r.j for r in rows) + 1
    ksub = max(r.code for r in rows) + 1
    dsub = len(rows[0].cv)
    codes = np.zeros((m, ksub, dsub), dtype=np.int64)
    for r in rows:
        codes[r.j, r.code] = r.cv
    return PQCodebook(codes=codes)


def ivf_index_build(
    vectors: DataFrame,
    index_dir: str,
    n_centroids: int | None = None,
    iters: int = 2,
    fit_fraction: float | None = None,
    id_col: str = "vec_id",
    vec_col: str = "vec",
    pq_m: int | None = None,
    pq_ksub: int = 256,
    pq_iters: int = 2,
) -> dict:
    """Persist an IVF index: centroids + the vector table partitioned
    BY CELL, so a search's probe set prunes at the directory level —
    cell-restricted I/O, not merely a cell-restricted join. The
    at-scale usage shape: fit/assign once, amortize across queries.

    ``n_centroids`` defaults to ceil(sqrt(N)); ``fit_fraction``
    subsamples the fit (deterministic hash sample) while the full
    table is still assigned — at planet scale Lloyd iterations run on
    a sample, assignment is one map-side pass. Writes
    ``<index_dir>/centroids``, ``<index_dir>/vectors`` (partitioned by
    ``centroid_id``), and an ``_index.json`` descriptor; returns the
    descriptor.

    ``pq_m``: also train an integer PQ codebook (operators/pq) on the
    fit subset and store an m-byte ``codes`` column next to every
    vector, plus ``<index_dir>/pq_codebook``. Search can then run in
    the compressed domain (``ivf_index_search(mode="adc")``) reading
    only the codes of the probed cells.
    """
    import json
    import math
    import os
    import time

    spark = vectors.sparkSession
    t0 = time.time()
    n = vectors.count()
    if n == 0:
        raise ValueError("cannot index an empty vector table")
    k = n_centroids or max(1, math.ceil(math.sqrt(n)))
    fit_input = vectors
    if fit_fraction is not None and fit_fraction < 1.0:
        # deterministic hash sample (no RNG — resume/replay safe)
        mod = max(1, int(round(1.0 / fit_fraction)))
        fit_input = vectors.where(
            F.pmod(F.xxhash64(F.col(id_col)), F.lit(mod)) == 0
        )
    cents = kmeans_fit(fit_input, k, iters=iters, vec_col=vec_col)
    # kmeans_fit returns a local relation — no lineage to truncate, so
    # the persisted copy need not be read back
    cents.write.mode("overwrite").parquet(os.path.join(index_dir, "centroids"))
    dim = len(cents.first()["cv"])
    bc = None
    if pq_m is not None:
        from .pq import pq_train, quantize_expr

        qexpr = quantize_expr(vec_col)
        codebook = pq_train(
            fit_input.selectExpr(id_col, f"{qexpr} as __qv"),
            m=pq_m, ksub=pq_ksub, iters=pq_iters,
            id_col=id_col, vec_col="__qv",
        )
        _pq_codebook_to_df(spark, codebook).write.mode("overwrite").parquet(
            os.path.join(index_dir, "pq_codebook")
        )
        # one fused Arrow pass: centroid assign + quantize + PQ encode
        # (identical output to ivf_assign + SQL quantize + pq_encode)
        assigned, bc = _assign_encode_fused(vectors, cents, codebook, vec_col)
    else:
        assigned = ivf_assign(vectors, cents, id_col=id_col, vec_col=vec_col)
    (
        assigned.repartition("centroid_id")
        .write.mode("overwrite")
        .partitionBy("centroid_id")
        .parquet(os.path.join(index_dir, "vectors"))
    )
    if bc is not None:
        bc.unpersist()
    desc = {
        "n_vectors": n,
        "n_centroids": k,
        "dim": dim,
        "iters": iters,
        "fit_fraction": fit_fraction,
        "id_col": id_col,
        "vec_col": vec_col,
        "pq_m": pq_m,
        "pq_ksub": pq_ksub if pq_m is not None else None,
        "build_sec": round(time.time() - t0, 3),
    }
    with open(os.path.join(index_dir, "_index.json"), "w") as f:
        json.dump(desc, f, indent=1, sort_keys=True)
    return desc


def ivf_index_append(
    spark,
    index_dir: str,
    new_vectors: DataFrame,
) -> dict:
    """Append vectors to a persisted IVF index WITHOUT refitting: the
    new rows are assigned against the existing (frozen) centroid set —
    one map-side GEMM pass over ONLY the new rows — and appended to the
    cell-partitioned vector table, so new parquet files land inside the
    existing ``centroid_id=<c>/`` directories and resident data is
    never read or rewritten. This is the steady-state shape that
    composes with incremental ingest: per-batch cost is O(new rows),
    independent of index size.

    Crash-safety: the parquet append commits via Spark's output
    committer before the descriptor is rewritten; a crash in between
    leaves a searchable index whose descriptor undercounts
    ``n_vectors`` (search never consults the counts — it reads the
    partitioned table), and the next append's descriptor rewrite
    self-heals the bookkeeping from the recorded history.

    Quality caveat (recorded, not enforced): centroids are frozen, so
    if the appended distribution drifts from the fit distribution,
    recall decays. The descriptor tracks ``appended_since_fit`` so a
    caller can trigger ``ivf_index_build`` refit past a threshold.
    Appended ``vec_id``s are assumed fresh (the same contract as the
    incremental page ingest); duplicates are not deduplicated here.

    Returns the updated descriptor.
    """
    import json
    import os
    import time

    with open(os.path.join(index_dir, "_index.json")) as f:
        desc = json.load(f)
    id_col, vec_col = desc["id_col"], desc["vec_col"]
    t0 = time.time()
    n_new = new_vectors.count()
    if n_new == 0:
        return desc
    cents = spark.read.parquet(os.path.join(index_dir, "centroids"))
    bc = None
    if desc.get("pq_m"):
        # the PQ codebook is as frozen as the centroids: new vectors
        # encode against it so the appended rows stay ADC-searchable —
        # assign + quantize + encode in one fused Arrow pass
        codebook = _pq_codebook_from_df(
            spark.read.parquet(os.path.join(index_dir, "pq_codebook"))
        )
        assigned, bc = _assign_encode_fused(
            new_vectors, cents, codebook, vec_col
        )
    else:
        assigned = ivf_assign(new_vectors, cents, id_col=id_col, vec_col=vec_col)
    (
        assigned.repartition("centroid_id")
        .write.mode("append")
        .partitionBy("centroid_id")
        .parquet(os.path.join(index_dir, "vectors"))
    )
    if bc is not None:
        bc.unpersist()
    desc["n_vectors"] = int(desc["n_vectors"]) + n_new
    desc["appended_since_fit"] = int(desc.get("appended_since_fit", 0)) + n_new
    desc.setdefault("appends", []).append(
        {"n": n_new, "sec": round(time.time() - t0, 3)}
    )
    with open(os.path.join(index_dir, "_index.json"), "w") as f:
        json.dump(desc, f, indent=1, sort_keys=True)
    return desc


def ivf_index_search(
    spark,
    index_dir: str,
    queries: DataFrame,
    nprobe: int = 8,
    k: int = 10,
    query_id_col: str = "query_id",
    mode: str = "float",
    rerank: int | None = None,
) -> DataFrame:
    """Search a persisted IVF index. The probe cells (nprobe nearest
    centroids per query, a tiny driver-side set) become a STATIC
    ``centroid_id IN (...)`` predicate on the partitioned vector
    table, so the scan reads only the probed cells' directories —
    with sqrt(N) cells and Q queries, at most Q*nprobe of them.

    ``mode="float"`` (default): exact dot-product over the probed
    cells' float vectors, ranked desc. ``mode="adc"`` (requires a
    ``pq_m`` build): ADC over the stored m-byte codes — the probed
    scan reads only (id, centroid_id, codes) columns, never the float
    vectors; optional ``rerank=R`` re-scores the ADC top-R with exact
    integer L2 (columns: query_id, vec_id, adc_d2[, d2], rank asc)."""
    import json
    import os

    with open(os.path.join(index_dir, "_index.json")) as f:
        desc = json.load(f)
    id_col, vec_col = desc["id_col"], desc["vec_col"]
    cents = spark.read.parquet(os.path.join(index_dir, "centroids"))
    d2q = _d2("qv", "cv")
    wp = Window.partitionBy(query_id_col).orderBy(F.asc("_d2"), F.asc("centroid_id"))
    probes = (
        queries.select(query_id_col, F.col(vec_col).alias("qv"))
        .crossJoin(F.broadcast(cents))
        .select(query_id_col, "qv", "centroid_id", F.expr(d2q).alias("_d2"))
        .withColumn("_rn", F.row_number().over(wp))
        .where(F.col("_rn") <= nprobe)
        .select(query_id_col, "qv", "centroid_id")
    )
    cells = [int(r.centroid_id) for r in probes.select("centroid_id").distinct().collect()]
    vecs = spark.read.parquet(os.path.join(index_dir, "vectors")).where(
        F.col("centroid_id").isin(cells)
    )
    if mode == "adc":
        if not desc.get("pq_m"):
            raise ValueError("adc mode needs an index built with pq_m")
        from .pq import ivfpq_search, quantize_expr

        codebook = _pq_codebook_from_df(
            spark.read.parquet(os.path.join(index_dir, "pq_codebook"))
        )
        return ivfpq_search(
            vecs.select(id_col, "centroid_id", "codes"),
            cents,
            codebook,
            queries,
            nprobe=nprobe,
            k=k,
            id_col=id_col,
            vec_col=vec_col,
            query_id_col=query_id_col,
            rerank=rerank,
            vectors=vecs.select(id_col, vec_col) if rerank else None,
        )
    if mode != "float":
        raise ValueError(f"unsupported mode={mode}")
    dot = _dot(vec_col, "qv")
    wk = Window.partitionBy(query_id_col).orderBy(F.desc("dot"), F.asc(id_col))
    return (
        vecs.join(F.broadcast(probes), "centroid_id")
        .select(query_id_col, id_col, F.expr(dot).alias("dot"))
        .withColumn("rank", F.row_number().over(wk))
        .where(F.col("rank") <= k)
    )
