"""Expected outputs, derived without the engine, and the checks against them.

Extraction golden: ``transcripts_from_docs`` wraps each document's text,
reflowed into 8-word lines, in an html / layout-JSON / markdown / plain /
empty payload chosen by ``vid % 100``. So the expected per-turn output is
computable in Spark SQL from the staged documents alone: the 8-word lines
joined by newlines (empty for the empty band), and one span per line.

Outputs are compared by an order-insensitive digest (sum of 32-bit row
hashes); only on a mismatch is the exact number of differing turns counted,
with a join. Heavy registry queries are compared against their DuckDB
oracles, whose digests are cached per (seed, oracle SQL).
"""

from __future__ import annotations

import hashlib
import json
import math
import os
from decimal import Decimal

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

WORDS_PER_LINE = 8
TURN_JOIN = "\f"


def digest(*cols) -> Column:
    """Order-insensitive digest of rows: overflow-free for < 2^31 rows."""
    return F.sum(F.xxhash64(*cols).bitwiseAND(F.lit(0xFFFFFFFF)))


def turn_digest() -> Column:
    return digest(
        F.col("conv_id"), F.col("turn_idx").cast("int"),
        F.col("extracted_text"), F.col("span_count").cast("int"),
    )


def golden_turns(spark, documents: str, replicate: int, conv_mod: int) -> DataFrame:
    """(conv_id, turn_idx, kind, extracted_text, span_count, n_words) per
    turn of ``transcripts_from_docs(documents, replicate)``; ``conv_mod`` is
    the generator's base conversation modulus."""
    d = spark.read.parquet(documents).select("doc_id", "text")
    if replicate > 1:
        d = d.withColumn("rep", F.explode(F.sequence(F.lit(0), F.lit(replicate - 1))))
        d = d.withColumn("vid", F.col("doc_id") * replicate + F.col("rep"))
    else:
        d = d.withColumn("vid", F.col("doc_id"))
    mod = conv_mod * max(1, int(math.sqrt(replicate)))
    d = d.selectExpr(
        "vid",
        "CAST(vid % 100 AS INT) AS kb",
        "split(regexp_replace(trim(text), '[ \\\\t\\\\n\\\\x0B\\\\f\\\\r]+', ' '), ' ') AS w",
    ).selectExpr(
        f"concat('conv-', lpad(CAST(vid % {mod} AS STRING), 6, '0')) AS conv_id",
        f"CAST(vid DIV {mod} AS INT) AS turn_idx",
        "kb",
        "w",
        f"CAST(ceil(size(w) / {WORDS_PER_LINE}.0) AS INT) AS n_lines",
    )
    lines = (
        f"transform(sequence(0, n_lines - 1), i -> "
        f"array_join(slice(w, i * {WORDS_PER_LINE} + 1, {WORDS_PER_LINE}), ' '))"
    )
    return d.selectExpr(
        "conv_id",
        "turn_idx",
        "CASE WHEN kb < 40 THEN 'html' WHEN kb < 65 THEN 'layout' "
        "WHEN kb < 90 THEN 'markdown' WHEN kb < 98 THEN 'plain' "
        "ELSE 'empty' END AS kind",
        f"CASE WHEN kb >= 98 THEN '' ELSE array_join({lines}, '\\n') END "
        "AS extracted_text",
        "CAST(CASE WHEN kb >= 98 THEN 0 ELSE n_lines END AS INT) AS span_count",
        "size(w) AS n_words",
    )


def golden_assembled(golden: DataFrame) -> DataFrame:
    """(conv_id, conversation_text, turn_count): turn texts in turn order
    joined by the page separator."""
    return golden.groupBy("conv_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("turn_idx", "extracted_text"))),
                lambda s: s["extracted_text"],
            ),
            TURN_JOIN,
        ).alias("conversation_text"),
        F.count(F.lit(1)).alias("turn_count"),
    )


def assembled_digest() -> Column:
    return digest(
        F.col("conv_id"), F.col("conversation_text"), F.col("turn_count").cast("long")
    )


def mismatched_turns(engine: DataFrame, golden: DataFrame) -> int:
    """Exact count of turns whose text or span count differs from the
    golden, or that are missing on either side."""
    e = engine.select(
        "conv_id", "turn_idx",
        F.col("extracted_text").alias("e_text"), F.col("span_count").alias("e_spans"),
    )
    g = golden.select(
        "conv_id", "turn_idx",
        F.col("extracted_text").alias("g_text"), F.col("span_count").alias("g_spans"),
    )
    j = e.join(g, ["conv_id", "turn_idx"], "full_outer")
    same = F.col("e_text").eqNullSafe(F.col("g_text")) & F.col("e_spans").eqNullSafe(
        F.col("g_spans")
    )
    return j.filter(~same).count()


def expected_extraction(golden: DataFrame) -> dict:
    """Every value the extract_mixed and commit_distinct checks compare."""
    golden = golden.cache()
    row = golden.agg(
        F.count(F.lit(1)).alias("turns"),
        F.sum("span_count").alias("spans"),
        turn_digest().alias("digest"),
        F.sum(F.when(F.col("kind") == "layout", F.col("n_words")).otherwise(0)).alias(
            "layout_words"
        ),
        F.sum(F.when(F.col("kind") == "layout", F.col("span_count")).otherwise(0)).alias(
            "layout_lines"
        ),
    ).collect()[0]
    kinds = {
        r["kind"]: [r["turns"], r["spans"]]
        for r in golden.groupBy("kind")
        .agg(F.count(F.lit(1)).alias("turns"), F.sum("span_count").alias("spans"))
        .collect()
    }
    a = golden_assembled(golden).agg(
        F.count(F.lit(1)).alias("convs"),
        F.sum("turn_count").alias("turns"),
        assembled_digest().alias("digest"),
    ).collect()[0]
    golden.unpersist()
    return {
        "turns": row["turns"],
        "spans": row["spans"],
        "digest": row["digest"],
        "layout_words": row["layout_words"],
        "layout_lines": row["layout_lines"],
        "kinds": kinds,
        "assembled": [a["convs"], a["turns"], a["digest"]],
    }


def cached_json(path: str, compute) -> dict:
    """``compute()`` once per path; later calls read the file."""
    if os.path.exists(path):
        with open(path) as fh:
            return json.load(fh)
    value = compute()
    tmp = f"{path}.tmp{os.getpid()}"
    with open(tmp, "w") as fh:
        json.dump(value, fh)
    os.replace(tmp, path)
    return value


# -- registry queries against their DuckDB oracles ---------------------------


def _canon_value(v):
    if isinstance(v, (float, Decimal)):
        return f"{float(v):.6f}"
    return v


def rows_digest(columns: list[str], rows) -> str:
    """Digest of a result set that ignores row and column order and the
    float width (values rounded to 6 decimals, as the oracles round)."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    canon = sorted(
        json.dumps([_canon_value(r[i]) for i in order], default=str) for r in rows
    )
    h = hashlib.sha256()
    h.update(json.dumps(sorted(columns)).encode())
    for line in canon:
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()


def oracle_digest(sql: str, documents: str, cache_dir: str, seed: int) -> dict:
    """Digest and row count of one oracle over the staged documents."""
    key = hashlib.sha256(sql.encode()).hexdigest()[:16]
    path = os.path.join(cache_dir, f"s{seed}-{os.path.basename(os.path.dirname(documents))}-{key}.json")

    def compute() -> dict:
        import duckdb

        con = duckdb.connect()
        try:
            con.execute(f"CREATE VIEW documents AS SELECT * FROM '{documents}'")
            cur = con.execute(sql)
            cols = [c[0] for c in cur.description]
            rows = cur.fetchall()
        finally:
            con.close()
        return {"rows": len(rows), "digest": rows_digest(cols, rows)}

    return cached_json(path, compute)
