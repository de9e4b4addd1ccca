"""Deterministic text embeddings: the model-free twin of the reference's
embeddings adapter layer.

The reference ships an embeddings package with pluggable backends —
``marie/embeddings/base.py`` (``EmbeddingsBase.get_embeddings``), adapters
for transformers/sentence-transformers/jina/openai — whose job is "text
column in, fixed-width float vector out", consumed downstream by similarity
search (``marie/vectorstores/pgvector/pgvector.py``). The backends are
GPU/API models, so (like B11/N1) the transposition keeps the *contract* and
replaces the model with a deterministic featurizer:

* **hashed n-gram embedding** (feature hashing / "hashing trick",
  Weinberger et al. 2009): each word 3-gram is hashed to one of ``dims``
  buckets with a +/-1 sign; the vector is the signed occurrence count per
  bucket. Counts are INTEGERS (stored as integer-valued doubles), so every
  downstream dot product is exact in both Spark and DuckDB — the
  cross-engine float rule of this repo (see ``functions.columns``).
* the hash is the portable md5-based ``portable_hash31`` so the DuckDB
  oracle replays the embedding bit-for-bit. At cluster scale the hash is a
  pluggable detail; a real deployment could swap xxhash64 for speed without
  changing the plan shape (engine-internal-key rule, CLAUDE.md).

Scale story: embedding is a **narrow Arrow-batched map** — zero shuffle,
O(rows) work, linear in executors at 10^12 turns. ``embed_topk`` is the
distributed brute-force similarity baseline: the probe matrix rides along
as a broadcast variable, each partition emits its LOCAL top-k per probe via
one numpy matmul, and a final tiny window keeps the global top-k — no
cartesian join, no BroadcastNestedLoopJoin, shuffle only over the
``n_partitions * n_probes * k`` candidate rows. The bucketed/IVF scale
paths for bigger probe sets live in ``operators/similarity.py``.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.columns import portable_hash31_py as _hash31
from ..functions.columns import ws_tokens_py
from ..session import local_frame

DIMS = 64
NGRAM = 3


def _py_tokens(text: str | None) -> list[str]:
    """Whitespace tokens — the pinned ``ws_tokens``/``WS_TOKENS_SQL``
    contract, ONE definition in functions.columns."""
    return ws_tokens_py(text)


def py_embed(text: str | None, dims: int = DIMS, ngram: int = NGRAM) -> list[float]:
    """Pure-Python golden: signed hashed n-gram count vector (with
    multiplicity — unlike shingles, repeated grams keep adding signal)."""
    toks = _py_tokens(text)
    v = [0] * dims
    k = len(toks) - (ngram - 1)
    for i in range(max(0, k)):
        g = " ".join(toks[i : i + ngram])
        b = _hash31("emb:" + g) % dims
        s = 1 if _hash31("sgn:" + g) % 2 == 0 else -1
        v[b] += s
    return [float(x) for x in v]


def embedding_udf(dims: int = DIMS, ngram: int = NGRAM):
    """Arrow-batched pandas UDF: text → array<double> hashed embedding."""

    @F.pandas_udf(T.ArrayType(T.DoubleType()))
    def emb(texts: pd.Series) -> pd.Series:
        return texts.map(lambda x: py_embed(x, dims, ngram))

    return emb


def embed_rows(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    dims: int = DIMS,
    ngram: int = NGRAM,
) -> DataFrame:
    """(id, embedding array<double>, norm_sq bigint) per input row.

    norm_sq is the exact integer squared L2 norm — consumers that need
    cosine divide at the edge (after the exact integer ranking), keeping
    every engine-compared value integer-valued.
    """
    out = df.select(
        F.col(id_col),
        embedding_udf(dims, ngram)(F.col(text_col)).alias("embedding"),
    )
    norm = F.aggregate(
        "embedding",
        F.lit(0.0),
        lambda acc, x: acc + x * x,
    ).cast("long")
    return out.withColumn("norm_sq", norm)


def embed_topk(
    corpus: DataFrame,
    probes: list[tuple[int, list[float]]],
    k: int = 5,
) -> DataFrame:
    """Brute-force dot-product top-k of ``probes`` against the corpus.

    ``corpus`` is ``embed_rows`` output; ``probes`` a SMALL collected list
    of (probe_id, embedding) — it is broadcast to every partition (the
    pattern of ``similarity.ann_batch_topk``'s probe side). Each partition
    computes one numpy matmul and emits its local top-k per probe; a final
    window over the ``partitions * len(probes) * k`` candidates picks the
    global top-k. Ranking is exact (integer dots), ties broken by doc_id.
    """
    spark = corpus.sparkSession
    probe_ids = [int(p) for p, _ in probes]
    pm = np.asarray([e for _, e in probes], dtype=np.float64)

    schema = T.StructType(
        [
            T.StructField("probe_id", T.LongType()),
            T.StructField("hit_id", T.LongType()),
            T.StructField("dot", T.LongType()),
        ]
    )
    if not probe_ids:
        # no probes → zero candidate rows (an empty pm has shape (0,), so
        # the per-partition matmul would raise in every task otherwise)
        empty = T.StructType(
            schema.fields + [T.StructField("rank", T.IntegerType())]
        )
        return local_frame(spark, [], empty)

    bc = spark.sparkContext.broadcast((probe_ids, pm))
    n_probe = len(probe_ids)

    def local_topk(batches):
        pids, mat = bc.value
        for pdf in batches:
            if not len(pdf):
                continue
            ids = pdf["doc_id"].to_numpy(dtype=np.int64)
            emb = np.asarray(list(pdf["embedding"]), dtype=np.float64)
            dots = emb @ mat.T  # (rows, n_probe), exact: integer-valued
            out = []
            for j in range(n_probe):
                col = dots[:, j]
                mask = ids != pids[j]  # never return the probe itself
                cand_ids = ids[mask]
                cand = col[mask]
                if not len(cand):
                    continue
                take = min(k, len(cand))
                # top-k by (dot desc, id asc): lexsort on (-dot, id)
                sel = np.lexsort((cand_ids, -cand))[:take]
                out.append(
                    pd.DataFrame(
                        {
                            "probe_id": pids[j],
                            "hit_id": cand_ids[sel],
                            "dot": cand[sel].astype(np.int64),
                        }
                    )
                )
            if out:
                yield pd.concat(out)

    cand = corpus.mapInPandas(local_topk, schema=schema)
    w = F.row_number().over(
        Window.partitionBy("probe_id").orderBy(
            F.col("dot").desc(), F.col("hit_id")
        )
    )
    return (
        cand.withColumn("rank", w)
        .filter(F.col("rank") <= k)
        .select("probe_id", "hit_id", "dot", "rank")
    )
