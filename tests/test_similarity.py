"""ANN: LSH-bucketed top-k recall vs brute force; bucket determinism."""

import pytest
from pyspark.sql import functions as F

from marie_icr_spark.operators.similarity import (
    LSH_PLANES,
    ann_batch_topk,
    cosine_topk,
    lsh_bucket,
)

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF_DIR}/embeddings.parquet")


def test_lsh_bucket_range_and_determinism(spark, emb):
    b1 = lsh_bucket(emb).select("vec_id", "buckets").toPandas()
    b2 = lsh_bucket(emb).select("vec_id", "buckets").toPandas()
    assert b1.sort_values("vec_id")["buckets"].map(list).tolist() == \
        b2.sort_values("vec_id")["buckets"].map(list).tolist()
    for bs in b1["buckets"]:
        assert all(0 <= b < (1 << LSH_PLANES) for b in bs)


def _planted(spark, n_base=25, copies=4, dim=64, noise=0.05):
    """Clusters of near-duplicate vectors (cos ≈ 0.97 within a cluster) —
    the workload ANN indexes exist for."""
    import numpy as np

    rng = np.random.RandomState(5)
    rows = []
    vid = 0
    for _ in range(n_base):
        base = rng.randn(dim)
        base /= np.linalg.norm(base)
        for _c in range(copies):
            v = base + noise * rng.randn(dim)
            rows.append((vid, [float(x) for x in v], 0))
            vid += 1
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")


def test_lsh_topk_recall_on_planted_neighbors(spark):
    """LSH top-k (``ann_batch_topk``) per single query vector."""
    emb = _planted(spark)
    recalls = []
    for qid in [0, 4, 8, 40, 80]:
        qdf = emb.filter(F.col("vec_id") == qid)
        k = 3  # the other copies of the same base vector
        exact = {r["vec_id"]: r["cosine"] for r in cosine_topk(emb, qdf, k=k).collect()}
        approx = {
            r["vec_id"]: r["cosine"]
            for r in ann_batch_topk(emb, qdf, k=k).collect()
        }
        hits = set(exact) & set(approx)
        recalls.append(len(hits) / len(exact))
        for h in hits:  # same quantized arithmetic → identical cosines
            assert exact[h] == approx[h]
    avg = sum(recalls) / len(recalls)
    assert avg >= 0.8, f"LSH recall on planted near-dups too low: {recalls}"


def test_ann_probe_is_equi_join_not_scan(spark, emb):
    """The round-2 contract: the probe is an equi-join on (tbl, bucket) —
    partition-prunable when the index is materialized — NOT a nested-loop /
    cross-join filter over the full index."""
    qdf = emb.orderBy("vec_id").limit(3)
    plan = ann_batch_topk(emb, qdf)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan or "SortMergeJoin" in plan or "ShuffledHashJoin" in plan


def test_ivf_topk_recall_on_planted(spark):
    """IVF coarse quantizer: near-identical vectors land in the same cell,
    so the nprobe probe recovers the brute-force neighbors with exact
    cosines on hits."""
    from marie_icr_spark.operators.similarity import ivf_topk

    emb = _planted(spark)
    qids = [0, 4, 40]
    qdf = emb.filter(F.col("vec_id").isin(qids))
    by_q = {}
    for r in ivf_topk(emb, qdf, k=3, n_centroids=16).collect():
        by_q.setdefault(r["query_id"], {})[r["vec_id"]] = r["cosine"]
    recalls = []
    for qid in qids:
        exact = {
            r["vec_id"]: r["cosine"]
            for r in cosine_topk(emb, emb.filter(F.col("vec_id") == qid), k=3).collect()
        }
        approx = by_q.get(qid, {})
        hits = set(exact) & set(approx)
        recalls.append(len(hits) / len(exact))
        for h in hits:
            assert exact[h] == approx[h]
    assert sum(recalls) / len(recalls) >= 0.8, f"IVF recall too low: {recalls}"


def test_ann_batch_topk_matches_brute_force_on_planted(spark):
    """On clustered near-dup data, the bucketed probe recovers the brute-force
    top-k (same quantized arithmetic → identical cosines on hits)."""
    emb = _planted(spark)
    qids = [0, 4, 40, 80]
    qdf = emb.filter(F.col("vec_id").isin(qids))
    batch = ann_batch_topk(emb, qdf, k=3).collect()
    by_q = {}
    for r in batch:
        by_q.setdefault(r["query_id"], {})[r["vec_id"]] = r["cosine"]
    recalls = []
    for qid in qids:
        exact = {
            r["vec_id"]: r["cosine"]
            for r in cosine_topk(emb, emb.filter(F.col("vec_id") == qid), k=3).collect()
        }
        approx = by_q.get(qid, {})
        hits = set(exact) & set(approx)
        recalls.append(len(hits) / len(exact))
        for h in hits:
            assert exact[h] == approx[h]
    assert sum(recalls) / len(recalls) >= 0.8, f"batch ANN recall too low: {recalls}"
    for qid, res in by_q.items():
        assert len(res) <= 3


def test_lsh_bucket_degrades_on_null_and_ragged_vectors(spark):
    """NULL / wrong-dimension embeddings must yield all-zero buckets (the
    pre-vectorization Column semantics: null dot → bit 0), not an
    executor crash."""
    from pyspark.sql import Row

    from marie_icr_spark.operators.similarity import EMB_DIM, lsh_bucket

    rows = [
        Row(vec_id=1, embedding=[0.5] * EMB_DIM),
        Row(vec_id=2, embedding=None),
        Row(vec_id=3, embedding=[0.5] * (EMB_DIM - 3)),
        # null ELEMENT: arrives as NaN float64 in the UDF; NaN->int64
        # would be INT64_MIN garbage without the finite guard
        Row(vec_id=4, embedding=[0.5] * (EMB_DIM - 1) + [None]),
    ]
    df = spark.createDataFrame(
        rows, "vec_id int, embedding array<double>"
    )
    got = {
        r["vec_id"]: list(r["buckets"])
        for r in lsh_bucket(df).select("vec_id", "buckets").collect()
    }
    assert got[2] == [0, 0, 0, 0]
    assert got[3] == [0, 0, 0, 0]
    assert got[4] == [0, 0, 0, 0]
    assert len(got[1]) == 4 and any(b != 0 for b in got[1])
