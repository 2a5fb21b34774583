"""Product quantization: exact-integer training/encode/ADC semantics,
partitioning invariance, hand-checked goldens, IVF-PQ recall, q61."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from pvt_spark.operators.pq import (
    PQCodebook,
    _trunc_div,
    pq_adc_topk,
    pq_encode,
    pq_train,
    quantize_expr,
)


def test_trunc_div_sql_semantics():
    assert _trunc_div(7, 2) == 3
    assert _trunc_div(-7, 2) == -3  # python -7 // 2 == -4: must NOT floor
    assert _trunc_div(6, 3) == 2 and _trunc_div(-6, 3) == -2
    assert _trunc_div(0, 5) == 0


def _int_vecs(spark, rows):
    return spark.createDataFrame(rows, "vec_id long, qv array<bigint>")


def test_train_encode_adc_hand_golden(spark):
    """d=2, m=2, dsub=1, two obvious clusters per subspace — every step
    checkable by hand."""
    rows = [
        (0, [0, 100]),
        (1, [2, 102]),
        (2, [50, 0]),
        (3, [52, 2]),
    ]
    vecs = _int_vecs(spark, rows)
    cb = pq_train(vecs, m=2, ksub=2, iters=2)
    # each subspace's two codes converge to the two cluster means:
    # subspace 0 clusters {0,2} and {50,52} -> (1, 51); subspace 1
    # clusters {100,102} and {0,2} -> (1, 101)
    got = {tuple(sorted(int(c[0]) for c in cb.codes[j])) for j in range(2)}
    assert got == {(1, 51), (1, 101)}

    coded = {r.vec_id: list(r.codes) for r in pq_encode(vecs, cb).collect()}
    # vectors sharing a cluster share a code per subspace
    assert coded[0][0] == coded[1][0] != coded[2][0] == coded[3][0]
    assert coded[0][1] == coded[1][1] != coded[2][1] == coded[3][1]

    # ADC distance == sum over subspaces of ||q_j - centroid(code_j)||^2
    queries = _int_vecs(spark, [(100, [1, 101])]).selectExpr(
        "vec_id as query_id", "qv"
    )
    out = pq_adc_topk(
        pq_encode(vecs, cb).select("vec_id", "codes"), cb, queries, k=4
    ).collect()
    by_vec = {r.vec_id: (r.adc_d2, r.rank) for r in out}
    # q=[1,101]: codes of vec 0/1 reconstruct to (1, 101) -> d2=0
    assert by_vec[0][0] == 0 and by_vec[1][0] == 0
    # ranks 1,2 go to vec_id 0 then 1 (tie -> lowest id)
    assert by_vec[0][1] == 1 and by_vec[1][1] == 2
    # vec 2/3 reconstruct to (51, 1): (1-51)^2 + (101-1)^2 = 12500
    assert by_vec[2][0] == 12500 and by_vec[3][0] == 12500


def test_partitioning_invariance(spark):
    """Exact-integer ladder: identical codebooks/codes/ADC regardless
    of layout — the replay/determinism contract."""
    base = spark.range(200).selectExpr(
        "id as vec_id",
        "transform(sequence(0, 15),"
        " j -> cast(pmod(xxhash64(id % 7, j), 2001) as bigint) - 1000) as qv",
    )
    a = pq_train(base.repartition(1), m=4, ksub=8, iters=2)
    b = pq_train(base.repartition(13), m=4, ksub=8, iters=2)
    assert np.array_equal(a.codes, b.codes)
    ca = {r.vec_id: list(r.codes) for r in pq_encode(base, a).collect()}
    cb_ = {r.vec_id: list(r.codes) for r in pq_encode(base.repartition(7), b).collect()}
    assert ca == cb_


def test_empty_code_keeps_previous_centroid(spark):
    # ksub=3 over 2 distinct points: one code never wins members and
    # must keep its init centroid instead of NaN/zeroing
    rows = [(0, [0]), (1, [0]), (2, [100])]
    vecs = _int_vecs(spark, rows)
    cb = pq_train(vecs, m=1, ksub=3, iters=2)
    cents = sorted(int(c[0]) for c in cb.codes[0])
    assert 0 in cents and 100 in cents and len(cents) == 3


def test_ivfpq_recall_clustered(spark):
    """The full stack (IVF cells + PQ codes) against float brute force
    on clustered unit vectors: the compressed-domain search finds the
    true neighbors at useful recall."""
    from pvt_spark.operators.ann import brute_topk, ivf_assign, kmeans_fit
    from pvt_spark.operators.pq import ivfpq_search

    n = 2000
    center = "cast(pmod(xxhash64(id % 40, j, 7), 1000) as double) / 500.0 - 1.0"
    noise = "(cast(pmod(xxhash64(id, j, 8), 1000) as double) / 500.0 - 1.0) * 0.1"
    vecs = (
        spark.range(n)
        .selectExpr(
            "id as vec_id",
            f"transform(sequence(0, 31), j -> {center} + {noise}) as raw",
        )
        .selectExpr(
            "vec_id",
            "transform(raw, x -> x / sqrt(aggregate(transform(raw, y -> y * y),"
            " 0.0D, (a, v) -> a + v))) as vec",
        )
        .localCheckpoint(eager=True)
    )
    cents = kmeans_fit(vecs, 16, iters=2)
    assigned = ivf_assign(vecs, cents)
    qints = vecs.selectExpr("vec_id", quantize_expr("vec") + " as qv")
    cb = pq_train(qints, m=8, ksub=16, iters=2)
    assigned_codes = pq_encode(
        assigned.selectExpr("vec_id", "centroid_id", quantize_expr("vec") + " as qv"),
        cb,
    ).select("vec_id", "centroid_id", "codes")
    queries = vecs.where(F.col("vec_id") % 400 == 3).select(
        F.col("vec_id").alias("query_id"), "vec"
    )
    want = brute_topk(vecs, queries, k=10).collect()
    w: dict[int, set] = {}
    for r in want:
        w.setdefault(r.query_id, set()).add(r.vec_id)

    def recall(rows):
        g: dict[int, set] = {}
        for r in rows:
            g.setdefault(r.query_id, set()).add(r.vec_id)
        rs = [len(g.get(q, set()) & s) / len(s) for q, s in w.items()]
        assert len(rs) == 5
        return float(np.mean(rs))

    # ADC alone ranks coarsely inside tight clusters (members share
    # codes) — a floor, not the operating point
    adc_only = ivfpq_search(
        assigned_codes, cents, cb, queries, nprobe=4, k=10
    ).collect()
    assert recall(adc_only) >= 0.2

    # the operating point: exact re-rank of the ADC top-50
    reranked = ivfpq_search(
        assigned_codes, cents, cb, queries, nprobe=4, k=10,
        rerank=50, vectors=vecs,
    ).collect()
    assert recall(reranked) >= 0.8, recall(reranked)


def test_persisted_pq_index_and_append(spark, tmp_path):
    """IVF index built with pq_m: codes stored per vector, ADC search
    reads the compressed domain, append encodes against the frozen
    codebook, appended vectors are immediately ADC-searchable."""
    import json
    import os

    from pvt_spark.operators.ann import (
        ivf_index_append,
        ivf_index_build,
        ivf_index_search,
    )

    center = "cast(pmod(xxhash64(id % 12, j, 7), 1000) as double) / 500.0 - 1.0"
    noise = "(cast(pmod(xxhash64(id, j, 8), 1000) as double) / 500.0 - 1.0) * 0.1"

    def mk(n):
        return (
            spark.range(n)
            .selectExpr(
                "id as vec_id",
                f"transform(sequence(0, 15), j -> {center} + {noise}) as raw",
            )
            .selectExpr(
                "vec_id",
                "transform(raw, x -> x / sqrt(aggregate(transform(raw,"
                " y -> y * y), 0.0D, (a, v) -> a + v))) as vec",
            )
        )

    idx = str(tmp_path / "ivfpq")
    desc = ivf_index_build(mk(1500), idx, iters=1, pq_m=8, pq_ksub=16)
    assert desc["pq_m"] == 8 and desc["pq_ksub"] == 16
    stored = spark.read.parquet(os.path.join(idx, "vectors"))
    assert "codes" in stored.columns
    assert stored.where(F.size("codes") != 8).count() == 0

    queries = (
        mk(1500).where("vec_id % 300 = 7")
        .selectExpr("vec_id as query_id", "vec")
    )
    # float mode still works on a PQ build
    fl = ivf_index_search(spark, idx, queries, nprobe=4, k=5)
    assert fl.count() == 25
    # adc + rerank: every query's own vector is its rank-1 hit (exact
    # integer L2 re-rank, self distance 0)
    rr = ivf_index_search(
        spark, idx, queries, nprobe=4, k=5, mode="adc", rerank=30
    ).collect()
    top1 = {r.query_id: r.vec_id for r in rr if r.rank == 1}
    assert top1 == {q: q for q in top1}
    assert len(rr) == 25 and {"adc_d2", "d2"} <= {c for c in rr[0].asDict()}

    # append: frozen centroids AND frozen codebook
    batch = mk(1800).where("vec_id >= 1500")
    d2 = ivf_index_append(spark, idx, batch)
    assert d2["n_vectors"] == 1800
    stored2 = spark.read.parquet(os.path.join(idx, "vectors"))
    assert stored2.where(F.col("codes").isNull()).count() == 0
    self_q = batch.where("vec_id = 1600").selectExpr(
        "vec_id as query_id", "vec"
    )
    hit = ivf_index_search(
        spark, idx, self_q, nprobe=2, k=1, mode="adc", rerank=20
    ).collect()
    assert len(hit) == 1 and hit[0].vec_id == 1600
    assert json.load(open(os.path.join(idx, "_index.json")))["pq_m"] == 8


def test_quantize_np_parity(spark):
    """quantize_np == the SQL quantize_expr bit-for-bit, including
    HALF_UP adversaries (exact halves, 1-ulp-from-half, negatives)."""
    import math

    from pvt_spark.operators.pq import quantize_np

    half_adv = []
    for k in [0, 1, 2, 7, 499, 10**6]:
        for s in (1.0, -1.0):
            t = s * (k + 0.5) / 1000.0  # product may land on/near k+0.5
            half_adv += [t, math.nextafter(t, 0.0), math.nextafter(t, s * 2.0)]
    rows = [
        (0, half_adv),
        (1, [0.0, -0.0, 1e-12, -1e-12, 0.9994999, -0.9995001]),
        (2, [(h * 7919 % 2000 - 1000) / 997.0 for h in range(36)]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, vec array<double>")
    got_sql = {
        r.vec_id: list(r.qv)
        for r in df.selectExpr("vec_id", quantize_expr("vec") + " as qv").collect()
    }
    for vid, vec in rows:
        want = quantize_np(np.array([vec], dtype=np.float64))[0].tolist()
        assert got_sql[vid] == want, (vid, got_sql[vid], want)


def test_quantize_np_non_finite_matches_sql(spark):
    """Out-of-range input: NaN, +-inf and values past the bigint range
    make the SQL quantize_expr (ANSI cast) raise CAST_OVERFLOW, and
    quantize_np raises on the same inputs instead of returning an
    undefined int64. At exactly +-2^63 both saturate."""
    from pvt_spark.operators.pq import quantize_np
    from pvt_spark.session import local_frame

    for bad in [float("nan"), float("inf"), float("-inf"), 1e17, -1e17]:
        df = local_frame(spark, [([0.5, bad],)], "vec array<double>")
        with pytest.raises(Exception, match="CAST_OVERFLOW"):
            df.selectExpr(quantize_expr("vec")).collect()
        with pytest.raises(ArithmeticError, match="CAST_OVERFLOW"):
            quantize_np(np.array([[0.5, bad]], dtype=np.float64))
    edge = [2.0**63 / 1000, -(2.0**63) / 1000]  # products are exactly +-2^63
    got_sql = (
        local_frame(spark, [(edge,)], "vec array<double>")
        .selectExpr(quantize_expr("vec") + " as qv")
        .collect()[0]
        .qv
    )
    assert list(got_sql) == quantize_np(np.array([edge]))[0].tolist()


def test_fused_assign_encode_matches_unfused(spark, tmp_path):
    """The ivf_index_build fused Arrow pass stores exactly the
    centroid_id/codes the unfused ivf_assign + SQL quantize + pq_encode
    chain produces against the same persisted centroids/codebook."""
    import os

    from pvt_spark.operators.ann import (
        _pq_codebook_from_df,
        ivf_assign,
        ivf_index_build,
    )

    center = "cast(pmod(xxhash64(id % 9, j, 3), 1000) as double) / 500.0 - 1.0"
    noise = "(cast(pmod(xxhash64(id, j, 4), 1000) as double) / 500.0 - 1.0) * 0.1"
    vecs = spark.range(600).selectExpr(
        "id as vec_id",
        f"transform(sequence(0, 15), j -> {center} + {noise}) as vec",
    )
    idx = str(tmp_path / "fusedidx")
    ivf_index_build(vecs, idx, iters=1, pq_m=4, pq_ksub=8)
    stored = {
        r.vec_id: (r.centroid_id, list(r.codes))
        for r in spark.read.parquet(os.path.join(idx, "vectors")).collect()
    }
    cents = spark.read.parquet(os.path.join(idx, "centroids"))
    cbook = _pq_codebook_from_df(
        spark.read.parquet(os.path.join(idx, "pq_codebook"))
    )
    unfused = pq_encode(
        ivf_assign(vecs, cents).withColumn(
            "__qv", F.expr(quantize_expr("vec"))
        ),
        cbook, vec_col="__qv",
    )
    want = {
        r.vec_id: (r.centroid_id, list(r.codes)) for r in unfused.collect()
    }
    assert stored == want


@pytest.mark.parametrize(
    "sf_dir", ["/root/testdata/sf0.001", "/root/testdata/sf0.01"]
)
def test_q61_oracle(spark, sf_dir):
    """Engine PQ ladder == the independent scalar replay, value-exact."""
    from pvt_spark.queries import compare_against_oracle

    res = compare_against_oracle(spark, sf_dir, names={"q61_pq_topk"})
    assert res["q61_pq_topk"].get("match") is True, res
