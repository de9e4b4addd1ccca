"""Similarity search over embedding columns.

Brute-force cosine top-k as the exactness baseline (and oracle target) plus a
random-hyperplane LSH-bucketed variant as the scale path: at 10^12 rows the
bucketed index turns a full scan into a handful of bucket probes; candidates
are re-ranked exactly.

All arithmetic is quantized-integer (q = floor(x·1000 + 0.5)) so Spark and
DuckDB produce bit-identical cosines.
"""

from __future__ import annotations

import random

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.columns import round_half_up
from ..session import local_frame

QUANT = 1000
# Multi-table random-hyperplane LSH: L tables × P planes. One table of many
# planes has vanishing recall on weakly-structured data; the union of
# several short-signature tables (plus Hamming-1 multiprobe at query time)
# is the standard trade (recall ≈ 1-(1-p^P(1+P(1-p)/p))^L for sign-agreement
# probability p = 1 - θ/π).
LSH_TABLES = 4
LSH_PLANES = 8  # per table → 2^8 buckets each
EMB_DIM = 64
_rng = random.Random(20250817)
# quantized hyperplane components in [-50, 50]
HYPERPLANES = [
    [[_rng.randint(-50, 50) for _ in range(EMB_DIM)] for _ in range(LSH_PLANES)]
    for _ in range(LSH_TABLES)
]


def quantize(emb: DataFrame, vec_col: str = "embedding") -> DataFrame:
    return emb.withColumn(
        "q",
        F.transform(
            F.col(vec_col),
            lambda x: F.floor(x.cast("double") * QUANT + 0.5).cast("long"),
        ),
    ).withColumn(
        "nrm",
        F.aggregate(F.col("q"), F.lit(0).cast("long"), lambda a, v: a + v * v),
    )


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )


def cosine_topk(
    emb: DataFrame, query: DataFrame, k: int = 10
) -> DataFrame:
    """Exact top-k by cosine against a (broadcast) one-row query vector.
    Ties broken by vec_id asc. Output: (vec_id, cosine)."""
    qn = quantize(emb)
    qv = quantize(query).select(
        F.col("q").alias("qq"), F.col("nrm").alias("qnrm"),
        F.col("vec_id").alias("qid"),
    )
    scored = (
        qn.crossJoin(F.broadcast(qv))
        .filter(F.col("vec_id") != F.col("qid"))
        .select(
            "vec_id",
            round_half_up(
                _dot(F.col("q"), F.col("qq"))
                / (F.sqrt(F.col("nrm")) * F.sqrt(F.col("qnrm"))),
                6,
            ).alias("cosine"),
        )
    )
    return scored.orderBy(F.col("cosine").desc(), F.col("vec_id").asc()).limit(k)


def _buckets_udf():
    """Vectorized (Arrow-batched numpy) twin of the per-table bucket
    expression: one [batch, D] @ [D, L·P] integer matmul replaces
    L·P interpreted `aggregate(zip_with(...))` Catalyst expressions per
    row (~2k literal nodes and tens of µs per element interpreted — the
    same hotspot class the shingle UDF removed from the dedup path).
    Identical integer math, so the DuckDB oracle twin
    (queries_ext._lsh_bucket_exprs) is unchanged."""
    import numpy as np
    from pyspark.sql import types as T
    from pyspark.sql.functions import pandas_udf

    import pandas as pd

    hmat = np.array(HYPERPLANES, dtype=np.int64).reshape(
        LSH_TABLES * LSH_PLANES, EMB_DIM
    )
    pow2 = 1 << np.arange(LSH_PLANES, dtype=np.int64)

    zeros = np.zeros(LSH_TABLES, dtype=np.int64)

    @pandas_udf(T.ArrayType(T.LongType()))
    def buckets(q):
        if not len(q):
            return pd.Series([], dtype=object)
        vecs = q.to_numpy()
        # NULL / wrong-dimension / null-element vectors: the replaced
        # Column expression yielded all-zero buckets for them (null dot →
        # bit 0), not an executor crash — keep that degradation. A null
        # ELEMENT arrives as NaN (Arrow list<int64> with a null → float64
        # array), and NaN.astype(int64) is INT64_MIN garbage, so the
        # finite check matters as much as the length check.
        ok = np.fromiter(
            (
                v is not None
                and len(v) == EMB_DIM
                and np.isfinite(np.asarray(v, dtype=np.float64)).all()
            for v in vecs),
            dtype=bool,
            count=len(vecs),
        )
        out = np.empty(len(vecs), dtype=object)
        if ok.any():
            mat = np.vstack(vecs[ok]).astype(np.int64)   # [m, D]
            bits = (mat @ hmat.T >= 0).astype(np.int64)  # [m, L*P]
            vals = bits.reshape(-1, LSH_TABLES, LSH_PLANES) @ pow2
            for i, v in zip(np.flatnonzero(ok), vals):
                out[i] = v
        for i in np.flatnonzero(~ok):
            out[i] = zeros
        return pd.Series(out)

    return buckets


def lsh_bucket(emb: DataFrame) -> DataFrame:
    """Random-hyperplane signature buckets per vector, one per LSH table
    (the ANN index keys). Output: input + (buckets array<long> len L)."""
    qn = quantize(emb)
    return qn.withColumn("buckets", _buckets_udf()(F.col("q")))


def lsh_index(emb: DataFrame) -> DataFrame:
    """The ANN index in its probe-able physical shape: one row per
    (table, bucket) membership — L rows per vector. At cluster scale this is
    materialized once, partitioned/clustered BY (tbl, bucket), so a probe
    equi-join reads only the probed partitions instead of scanning the
    index. Output: (vec_id, q, nrm, tbl, bucket)."""
    idx = lsh_bucket(emb)
    return idx.select(
        "vec_id", "q", "nrm", F.posexplode("buckets").alias("tbl", "bucket")
    )


def ann_batch_topk(
    emb: DataFrame, queries: DataFrame, k: int = 10, multiprobe: bool = True
) -> DataFrame:
    """Batch ANN top-k: a DataFrame of query vectors probed against the LSH
    index in ONE equi-join — the realistic training-data shape (dedup a
    whole shard of queries at once), replacing the round-1 scan-and-filter
    probe.

    Per query and table the probe keys are the query's bucket plus its
    LSH_PLANES Hamming-1 neighbors (multiprobe), ≤ L·(1+P) keys total. The
    probe side is tiny → Spark broadcasts it; the index side is touched only
    on matching (tbl, bucket) keys (partition-pruned when the index is
    materialized as in :func:`lsh_index`). Candidates are deduped per
    (query, vector) then exactly re-ranked with the quantized cosine.
    Output: (query_id, vec_id, cosine, rank) with rank 1..k per query.
    """
    index = lsh_index(emb)
    qb = lsh_bucket(queries).select(
        F.col("vec_id").alias("query_id"),
        F.posexplode("buckets").alias("tbl", "qbucket"),
    )
    if multiprobe:
        probe_arr = F.array(
            F.col("qbucket"),
            *[
                F.col("qbucket").bitwiseXOR(F.lit(1 << i)).cast("long")
                for i in range(LSH_PLANES)
            ],
        )
    else:
        probe_arr = F.array(F.col("qbucket"))
    probes = qb.select("query_id", "tbl", F.explode(probe_arr).alias("bucket"))
    pairs = (
        F.broadcast(probes)
        .join(index.select("tbl", "bucket", "vec_id"), ["tbl", "bucket"])
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", "vec_id")
        .distinct()
    )
    dvecs = quantize(emb).select("vec_id", "q", "nrm")
    qvecs = quantize(queries).select(
        F.col("vec_id").alias("query_id"),
        F.col("q").alias("qq"),
        F.col("nrm").alias("qnrm"),
    )
    scored = (
        pairs.join(dvecs, "vec_id")
        .join(F.broadcast(qvecs), "query_id")
        .select(
            "query_id",
            "vec_id",
            round_half_up(
                _dot(F.col("q"), F.col("qq"))
                / (F.sqrt(F.col("nrm")) * F.sqrt(F.col("qnrm"))),
                6,
            ).alias("cosine"),
        )
    )
    from pyspark.sql.window import Window

    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("vec_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "vec_id", "cosine", "rank")
    )


# ---------------------------------------------------------------------------
# IVF (inverted-file) ANN — the coarse-quantizer alternative to the LSH
# tables. Deterministic integer arithmetic end-to-end so the whole fit /
# assign / probe path replays in SQL: centroids seed from the K lowest
# vec_ids, Lloyd steps with floor-mean updates (|sums| < 2^53 → the double
# division is exact — the exactness argument holds for ANY number of
# iterations), assignment = argmin integer squared-L2 with ties to the
# lowest centroid id. Centroids are driver-side metadata (K×dim ints, the
# k-means broadcast pattern) shipped as ONE broadcast row holding an
# array<struct<cid,cq>> column: assignment is a zero-shuffle scan whose
# per-row cost is the inherent K·dim distance work, and the PLAN stays O(1)
# regardless of K (the round-2 literal-expression form capped K at ~64 —
# plan size grew K·dim nodes); only the centroid update shuffles (K·dim
# keys).
# ---------------------------------------------------------------------------

IVF_K = 64
IVF_ITERS = 2
IVF_NPROBE = 2
_CENTS_SCHEMA = T.StructType(
    [
        T.StructField(
            "cents",
            T.ArrayType(
                T.StructType(
                    [
                        T.StructField("cid", T.IntegerType()),
                        T.StructField("cq", T.ArrayType(T.LongType())),
                    ]
                )
            ),
        )
    ]
)


def _with_nearest_cids(
    df: DataFrame,
    centroids: list[tuple[int, list[int]]],
    nprobe: int,
    out_col: str,
    qcol: str = "q",
) -> DataFrame:
    """Append ``out_col`` = array of the nprobe nearest centroid ids
    (d2 asc, cid asc). Centroids travel as a single broadcast row — one
    array column evaluated JVM-side per input row — so K scales to
    thousands without growing the plan."""
    spark = df.sparkSession
    one = local_frame(
        spark,
        [([(int(cid), [int(v) for v in cq]) for cid, cq in centroids],)],
        _CENTS_SCHEMA,
    )

    def d2(cq):
        return F.aggregate(
            F.zip_with(F.col(qcol), cq, lambda x, y: (x - y) * (x - y)),
            F.lit(0).cast("long"),
            lambda acc, v: acc + v,
        )

    ranked = F.array_sort(
        F.transform(
            F.col("cents"),
            lambda c: F.struct(d2(c["cq"]).alias("d2"), c["cid"].alias("cid")),
        )
    )
    return (
        df.crossJoin(F.broadcast(one))
        .withColumn(
            out_col, F.transform(F.slice(ranked, 1, nprobe), lambda s: s["cid"])
        )
        .drop("cents")
    )


def ivf_fit(emb: DataFrame, k: int = IVF_K, iters: int = IVF_ITERS) -> list:
    """Fit the coarse quantizer; returns [(cid, [int centroid]), ...].
    Empty clusters are dropped (deterministic; the SQL twin does the same)."""
    qn = quantize(emb).select("vec_id", "q")
    seeds = qn.orderBy("vec_id").limit(k).collect()
    centroids = [(i, list(r["q"])) for i, r in enumerate(seeds)]
    for _ in range(iters):
        assigned = _with_nearest_cids(qn, centroids, 1, "cids").withColumn(
            "cid", F.col("cids")[0]
        )
        sums = (
            assigned.select("cid", F.posexplode("q").alias("pos", "v"))
            .groupBy("cid", "pos")
            .agg(F.floor(F.sum("v") / F.count(F.lit(1))).cast("long").alias("cv"))
        )
        rows = (
            sums.groupBy("cid")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "cv"))),
                    lambda s: s["cv"],
                ).alias("cq")
            )
            .collect()
        )
        centroids = sorted((int(r["cid"]), list(r["cq"])) for r in rows)
    return centroids


def ivf_topk(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 10,
    nprobe: int = IVF_NPROBE,
    n_centroids: int = IVF_K,
    iters: int = IVF_ITERS,
) -> DataFrame:
    """Batch ANN top-k via the IVF index: per query probe the nprobe nearest
    centroids' inverted lists (equi-join on cid), exact cosine re-rank.
    ``n_centroids``/``iters`` size the coarse quantizer — pick
    n_centroids ≈ sqrt(n_vectors) (the default suits the testdata scale;
    a tiny corpus wants a smaller K or clusters fragment and recall drops).
    Output: (query_id, vec_id, cosine, rank)."""
    from pyspark.sql.window import Window

    centroids = ivf_fit(emb, k=n_centroids, iters=iters)
    assigned = _with_nearest_cids(quantize(emb), centroids, 1, "cids").withColumn(
        "cid", F.col("cids")[0]
    ).drop("cids")
    probes = (
        _with_nearest_cids(quantize(queries), centroids, nprobe, "cids")
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("q").alias("qq"),
            F.col("nrm").alias("qnrm"),
            F.explode("cids").alias("cid"),
        )
    )
    scored = (
        F.broadcast(probes)
        .join(assigned, "cid")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            "vec_id",
            round_half_up(
                _dot(F.col("q"), F.col("qq"))
                / (F.sqrt(F.col("nrm")) * F.sqrt(F.col("qnrm"))),
                6,
            ).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("vec_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "vec_id", "cosine", "rank")
    )
