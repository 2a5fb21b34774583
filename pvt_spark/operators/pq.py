"""Product quantization (PQ) + IVF-PQ — the compressed-domain ANN path.

At 100 TB an embedding table is too large to scan in float: PQ splits
each vector into ``m`` subspaces, k-means each subspace to ``ksub``
codes, and stores vectors as ``m`` small code ids (64-dim float32 =
256 B -> 8 B at m=8). Search runs in the compressed domain via ADC
(asymmetric distance): per query ONE (m x ksub) lookup table of
subspace distances, then scoring a vector is m integer table gathers —
no float vector is ever read. IVF restricts candidates to probed
cells first (``ivfpq_search``); PQ makes scanning them cheap.
Jegou, Douze, Schmid, "Product Quantization for Nearest Neighbor
Search", TPAMI 2011.

EXACT-INTEGER BY CONSTRUCTION — the whole ladder (training, encode,
ADC) runs on milli-quantized int64 vectors (the q39/q57-certified
idiom), so results are bit-identical across partitionings, replays,
and an independent scalar twin (q61's oracle):

- init: the ``ksub`` rows with the smallest ``(md5(vec_id), vec_id)``
  — replicable in any runtime, no RNG;
- Lloyd updates: integer sums (order-independent) + truncate-toward-
  zero division; a code that loses all members keeps its previous
  centroid;
- assignment/ADC ties break to the lowest code id / vec_id.

Scale shape: ALL subspaces train in the same jobs (a long-format
(subspace, code) keyed table — m never multiplies the job count);
assignment and ADC are map-side pandas UDFs against a broadcast
codebook/LUT; the per-iteration update shuffle carries m*ksub*dsub
aggregate rows, not data rows.
"""

from __future__ import annotations

import math
from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, IntegerType, LongType
from pyspark.sql.window import Window

from ..session import local_frame


def quantize_expr(vec_col: str) -> str:
    """The certified milli-quantization idiom (q39/q57): float vector ->
    exact int64 vector, identical in Spark and DuckDB."""
    return f"transform({vec_col}, e -> cast(round(e * 1000) as bigint))"


def quantize_np(v: np.ndarray) -> np.ndarray:
    """Bit-exact numpy twin of ``quantize_expr``: float64 matrix ->
    int64 milli vectors with Spark's ``round`` semantics (HALF_UP —
    halves away from zero, unlike ``np.round``'s half-to-even).

    Exactness: ``e * 1000`` is the same IEEE-754 double product in both
    runtimes. Spark then rounds via the decimal expansion of that
    double; for |x| < 2^52, ``floor(|x|)`` is exact and ``|x| -
    floor(|x|)`` is exact (two doubles within 1 of each other), and the
    half boundary k+0.5 is itself a representable double, so the
    comparison ``frac >= 0.5`` lands on the same side as the decimal
    expansion does — the two paths agree on every double in range
    (property-tested against the SQL expression incl. exact halves and
    1-ulp-from-half adversaries in test_pq.py).

    Out of range: under ANSI mode (Spark 4's default, kept by
    ``get_spark``) the bigint cast raises ``CAST_OVERFLOW`` on NaN, ±inf
    and anything rounding past ±2^63, so this raises ``ArithmeticError``
    on the same inputs; exactly 2^63 saturates like Spark's cast."""
    x = v * 1000.0
    ax = np.abs(x)
    if not (ax <= 2.0**63).all():  # NaN compares False
        raise ArithmeticError(
            "[CAST_OVERFLOW] quantize_np: NaN, infinite or out-of-bigint-range "
            "value (the SQL quantize_expr raises on the same input)"
        )
    fl = np.floor(ax)
    r = fl + (ax - fl >= 0.5)
    out = np.where(x < 0, -r, np.minimum(r, 2.0**63 - 1024)).astype(np.int64)
    out[x == 2.0**63] = np.iinfo(np.int64).max
    return out


def _argmin_codes_exact(vj: np.ndarray, cbj: np.ndarray) -> np.ndarray:
    """Exact-integer nearest-code argmin for one subspace, first (=
    lowest) index wins ties.

    Fast path: when every |value| is small enough that
    3 * dsub * M^2 < 2^53, the score -2*v.c + ||c||^2 is an integer
    computed EXACTLY in float64 (every product and partial sum is an
    integer below 2^53), so a cache-blocked BLAS GEMM gives the
    bit-identical argmin ~10x faster than int64 matmul (numpy int
    matmul is a naive loop). Milli-quantized unit vectors are ~1e3,
    the guard admits up to ~1.8e7 at dsub=8. Larger magnitudes fall
    back to exact int64 arithmetic — never to approximate math.
    """
    dsub = vj.shape[1]
    m_cap = int(math.sqrt((1 << 53) / (3.0 * max(1, dsub))))
    mx = 0
    if len(vj):
        mx = max(mx, int(np.abs(vj).max()))
    if len(cbj):
        mx = max(mx, int(np.abs(cbj).max()))
    if mx <= m_cap:
        vf = vj.astype(np.float64)
        cf = cbj.astype(np.float64)
        cn = (cf * cf).sum(axis=1)
        out = np.empty(len(vf), dtype=np.int64)
        for s in range(0, len(vf), 8192):
            e = s + 8192
            out[s:e] = (-2.0 * (vf[s:e] @ cf.T) + cn[None, :]).argmin(axis=1)
        return out
    d = (
        (vj * vj).sum(axis=1)[:, None]
        - 2 * (vj @ cbj.T)
        + (cbj * cbj).sum(axis=1)[None, :]
    )
    return np.argmin(d, axis=1)


def _trunc_div(s: int, c: int) -> int:
    """Truncate-toward-zero integer division (SQL ``div`` semantics —
    python ``//`` floors, which differs on negatives)."""
    q = abs(s) // c
    return q if s >= 0 else -q


@dataclass
class PQCodebook:
    """codes[m][ksub][dsub] int milli centroids."""

    codes: np.ndarray  # int64 (m, ksub, dsub)

    @property
    def m(self) -> int:
        return self.codes.shape[0]

    @property
    def ksub(self) -> int:
        return self.codes.shape[1]

    @property
    def dsub(self) -> int:
        return self.codes.shape[2]

    def as_lists(self) -> list:
        return self.codes.tolist()


def _assign_codes_udf(spark, codebook: PQCodebook):
    """vec (int milli, len m*dsub) -> m code ids; exact-integer argmin
    per subspace, first (= lowest) index wins ties."""
    bc = spark.sparkContext.broadcast(codebook.codes)

    @F.pandas_udf(ArrayType(IntegerType()))
    def assign(vec: pd.Series) -> pd.Series:
        cb = bc.value  # (m, ksub, dsub)
        m, _, dsub = cb.shape
        if not len(vec):
            return pd.Series([], dtype=object)
        v = np.vstack(vec.to_numpy()).astype(np.int64)  # (n, m*dsub)
        out = np.empty((len(v), m), dtype=np.int32)
        for j in range(m):
            vj = v[:, j * dsub : (j + 1) * dsub]  # (n, dsub)
            # exact-integer argmin (guarded f64 GEMM fast path)
            out[:, j] = _argmin_codes_exact(vj, cb[j])
        return pd.Series(list(out))

    return assign


def pq_train(
    qvecs: DataFrame,
    m: int = 8,
    ksub: int = 16,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "qv",
) -> PQCodebook:
    """Train integer PQ codebooks over milli-quantized vectors.

    One pass picks the deterministic init rows; each Lloyd iteration is
    ONE map-side assignment (broadcast codebook, all m subspaces per
    Arrow batch) + ONE aggregate shuffle of (subspace, code, dim)
    integer sums — m*ksub*dsub rows regardless of input size. At
    planet scale, train on a sample (pass ``qvecs.sample(...)`` or a
    hash filter) and encode the full table once."""
    spark = qvecs.sparkSession
    # deterministic init: ksub rows with smallest (md5(id), id) —
    # distributed partial top-n, replicable anywhere (hex-string order).
    # The dimension comes from the first init row (no separate job).
    init_rows = (
        qvecs.select(id_col, vec_col)
        .orderBy(F.md5(F.col(id_col).cast("string")), F.col(id_col))
        .limit(ksub)
        .collect()
    )
    if not init_rows:
        raise ValueError("cannot train PQ on an empty table")
    d = len(init_rows[0][1])
    if d % m != 0:
        raise ValueError(f"dim {d} not divisible by m={m}")
    dsub = d // m
    init = np.array([r[1] for r in init_rows], dtype=np.int64)  # (k0, d)
    k0 = len(init)
    cb = np.stack(
        [init[:, j * dsub : (j + 1) * dsub] for j in range(m)]
    )  # (m, k0, dsub)
    codebook = PQCodebook(codes=cb)

    sc = spark.sparkContext
    for _ in range(iters):
        # FUSED assign + partial update: one mapInPandas pass emits
        # per-batch (subspace, code, count, sum-vector) integer partials
        # — at most m*ksub rows per Arrow batch — merged driver-side.
        # int64 sums are EXACTLY order-independent, so the partitioning-
        # invariance contract is preserved bit-for-bit while each Lloyd
        # round costs ONE job with no explode, no shuffle, and no
        # generated-aggregate compile.
        bc = sc.broadcast(codebook.codes)

        def partials(batches):
            cb = bc.value  # (m, ksub, dsub) int64
            m, ksub_, ds = cb.shape
            for pdf in batches:
                if pdf.empty:
                    continue
                v = np.vstack(pdf[vec_col].to_numpy()).astype(np.int64)
                js, codes, ns, svecs = [], [], [], []
                for j in range(m):
                    vj = v[:, j * ds : (j + 1) * ds]
                    # exact-integer argmin (guarded f64 GEMM fast path)
                    a = _argmin_codes_exact(vj, cb[j])
                    sums = np.zeros((ksub_, ds), dtype=np.int64)
                    np.add.at(sums, a, vj)
                    counts = np.bincount(a, minlength=ksub_)
                    nz = np.flatnonzero(counts)
                    js.extend([j] * len(nz))
                    codes.extend(int(c) for c in nz)
                    ns.extend(int(counts[c]) for c in nz)
                    svecs.extend(sums[c] for c in nz)
                yield pd.DataFrame(
                    {"j": js, "code": codes, "n": ns, "s": svecs}
                )

        rows = (
            qvecs.select(vec_col)
            .mapInPandas(partials, "j int, code int, n long, s array<long>")
            .collect()
        )
        bc.unpersist()
        acc: dict[tuple[int, int], tuple[int, np.ndarray]] = {}
        for r in rows:
            key = (int(r.j), int(r.code))
            n0, s0 = acc.get(key, (0, None))
            sv = np.asarray(r.s, dtype=np.int64)
            acc[key] = (n0 + int(r.n), sv if s0 is None else s0 + sv)
        new_cb = codebook.codes.copy()  # losers keep previous centroid
        for (j, code), (n, svec) in acc.items():
            for t in range(dsub):
                new_cb[j, code, t] = _trunc_div(int(svec[t]), int(n))
        codebook = PQCodebook(codes=new_cb)
    return codebook


def pq_encode(
    qvecs: DataFrame,
    codebook: PQCodebook,
    id_col: str = "vec_id",
    vec_col: str = "qv",
    out_col: str = "codes",
) -> DataFrame:
    """Append ``out_col array<int>``: the m nearest-code ids. Map-side
    only (broadcast codebook, one Arrow pass)."""
    assign = _assign_codes_udf(qvecs.sparkSession, codebook)
    return qvecs.withColumn(out_col, assign(F.col(vec_col)))


def _adc_luts(codebook: PQCodebook, queries: list[tuple[int, list[int]]]):
    """(query_id -> row index, LUT int64 (Q, m, ksub)) — the per-query
    subspace distance tables ADC gathers from."""
    m, ksub, dsub = codebook.m, codebook.ksub, codebook.dsub
    qids = [q for q, _ in queries]
    lut = np.empty((len(queries), m, ksub), dtype=np.int64)
    for qi, (_, qv) in enumerate(queries):
        q = np.asarray(qv, dtype=np.int64)
        for j in range(m):
            diff = codebook.codes[j] - q[j * dsub : (j + 1) * dsub][None, :]
            lut[qi, j] = (diff * diff).sum(axis=1)
    return {q: i for i, q in enumerate(qids)}, lut


def pq_adc_topk(
    codes_df: DataFrame,
    codebook: PQCodebook,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    codes_col: str = "codes",
    query_id_col: str = "query_id",
    query_vec_col: str = "qv",
) -> DataFrame:
    """ADC top-k: (query_id, vec_id, adc_d2, rank). The code table
    streams once per query batch (queries broadcast); scoring is m
    integer gathers per row from the broadcast LUT — the compressed-
    domain scan. Ranks break ties to the lowest vec_id."""
    spark = codes_df.sparkSession
    qrows = [
        (int(r[0]), list(r[1]))
        for r in queries.select(query_id_col, query_vec_col).collect()
    ]
    qindex, lut = _adc_luts(codebook, qrows)
    bc = spark.sparkContext.broadcast((qindex, lut))

    @F.pandas_udf(LongType())
    def adc(qid: pd.Series, codes: pd.Series) -> pd.Series:
        qidx, table = bc.value
        if not len(qid):
            return pd.Series([], dtype="int64")
        c = np.vstack(codes.to_numpy()).astype(np.int64)  # (n, m)
        qi = qid.map(qidx).to_numpy()
        m = c.shape[1]
        d = np.zeros(len(c), dtype=np.int64)
        for j in range(m):
            d += table[qi, j, c[:, j]]
        return pd.Series(d)

    qids = local_frame(
        codes_df.sparkSession, [(q,) for q, _ in qrows], f"{query_id_col} long"
    )
    wk = Window.partitionBy(query_id_col).orderBy(
        F.asc("adc_d2"), F.asc(id_col)
    )
    return (
        codes_df.crossJoin(F.broadcast(qids))
        .select(
            query_id_col,
            id_col,
            adc(F.col(query_id_col), F.col(codes_col)).alias("adc_d2"),
        )
        .withColumn("rank", F.row_number().over(wk))
        .where(F.col("rank") <= k)
    )


def ivfpq_search(
    assigned_codes: DataFrame,
    centroids: DataFrame,
    codebook: PQCodebook,
    queries: DataFrame,
    nprobe: int = 8,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "vec",
    codes_col: str = "codes",
    query_id_col: str = "query_id",
    rerank: int | None = None,
    vectors: DataFrame | None = None,
) -> DataFrame:
    """IVF candidate restriction + ADC scoring: the full at-scale ANN
    stack. ``assigned_codes`` carries (id, centroid_id, codes) — the
    float vector is NOT needed at scan time. Queries probe their
    nprobe nearest IVF cells (float-space, matching ivf_search), then
    only those cells' code rows are ADC-scored.

    ``rerank=R`` (with ``vectors``: the id -> float vector table) adds
    the standard exact re-rank: the ADC top-R per query fetch their
    true vectors (an R*Q-row broadcast join — point lookups, not a
    scan) and the final top-k orders by exact milli-integer L2. ADC
    alone ranks coarsely inside tight clusters (all members reconstruct
    to similar codes); re-rank restores exactness at R-bounded float
    I/O — the IVFADC+R design of Jegou et al. 2011 §VI."""
    d2q = (
        "aggregate(zip_with(qv, cv, (x, y) -> (x - y) * (x - y)), "
        "0.0D, (acc, v) -> acc + v)"
    )
    wp = Window.partitionBy(query_id_col).orderBy(
        F.asc("_d2"), F.asc("centroid_id")
    )
    probes = (
        queries.select(query_id_col, F.col(vec_col).alias("qv"))
        .crossJoin(F.broadcast(centroids))
        .select(query_id_col, "centroid_id", F.expr(d2q).alias("_d2"))
        .withColumn("_rn", F.row_number().over(wp))
        .where(F.col("_rn") <= nprobe)
        .select(query_id_col, "centroid_id")
    )
    spark = assigned_codes.sparkSession
    # milli-quantize the float queries with the certified idiom so ADC
    # runs in the same integer domain the codebook was trained in
    qint = queries.select(
        query_id_col, F.expr(quantize_expr(vec_col)).alias("qv")
    )
    qrows = [(int(r[0]), list(r[1])) for r in qint.collect()]
    qindex, lut = _adc_luts(codebook, qrows)
    bc = spark.sparkContext.broadcast((qindex, lut))

    @F.pandas_udf(LongType())
    def adc(qid: pd.Series, codes: pd.Series) -> pd.Series:
        qidx, table = bc.value
        if not len(qid):
            return pd.Series([], dtype="int64")
        c = np.vstack(codes.to_numpy()).astype(np.int64)
        qi = qid.map(qidx).to_numpy()
        d = np.zeros(len(c), dtype=np.int64)
        for j in range(c.shape[1]):
            d += table[qi, j, c[:, j]]
        return pd.Series(d)

    wk = Window.partitionBy(query_id_col).orderBy(
        F.asc("adc_d2"), F.asc(id_col)
    )
    scored = (
        assigned_codes.join(F.broadcast(probes), "centroid_id")
        .select(
            query_id_col,
            id_col,
            adc(F.col(query_id_col), F.col(codes_col)).alias("adc_d2"),
        )
        .withColumn("rank", F.row_number().over(wk))
    )
    if rerank is None:
        return scored.where(F.col("rank") <= k)
    if vectors is None:
        raise ValueError("rerank needs the vectors table for exact re-scoring")
    cand = scored.where(F.col("rank") <= max(rerank, k)).drop("rank")
    vint = vectors.select(
        F.col(id_col), F.expr(quantize_expr(vec_col)).alias("_vq")
    )
    qmap = {q: v for q, v in qrows}
    qdf = local_frame(
        assigned_codes.sparkSession,
        list(qmap.items()),
        f"{query_id_col} long, _qq array<bigint>",
    )
    d2 = (
        "aggregate(zip_with(_vq, _qq, (x, y) -> (x - y) * (x - y)), "
        "0L, (acc, v) -> acc + v)"
    )
    wr = Window.partitionBy(query_id_col).orderBy(F.asc("d2"), F.asc(id_col))
    return (
        cand.join(vint, id_col)
        .join(F.broadcast(qdf), query_id_col)
        .select(query_id_col, id_col, "adc_d2", F.expr(d2).alias("d2"))
        .withColumn("rank", F.row_number().over(wr))
        .where(F.col("rank") <= k)
    )
