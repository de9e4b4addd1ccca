"""The stager, the extraction golden and the output checks, on tiny inputs."""

import os

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

import golden
import stage


@pytest.fixture(scope="module")
def tiny(spark, tmp_path_factory):
    """60 seeded documents fanned out 4 ways, the engine's output, and the
    golden derived from the documents alone."""
    from marie_icr_spark.operators.extraction import extract_turns
    from marie_icr_spark.sources.transcripts import CONV_MOD, transcripts_from_docs

    d = str(tmp_path_factory.mktemp("tiny"))
    docs = stage.staged_documents("heavy", 7).slice(0, 60)
    pq.write_table(docs, os.path.join(d, "documents.parquet"))
    engine = extract_turns(transcripts_from_docs(spark, d, replicate=4)).cache()
    gold = golden.golden_turns(spark, os.path.join(d, "documents.parquet"), 4, CONV_MOD)
    return engine, gold


def _digest(df):
    return df.agg(golden.turn_digest()).collect()[0][0]


def test_golden_equals_engine(tiny):
    engine, gold = tiny
    assert engine.count() == gold.count() == 240
    assert _digest(engine) == _digest(gold)
    assert golden.mismatched_turns(engine, gold) == 0
    kinds = {r[0] for r in gold.select("kind").distinct().collect()}
    assert {"html", "layout", "markdown"} <= kinds


def test_planted_wrong_text_is_caught(tiny):
    engine, gold = tiny
    victim = engine.orderBy("conv_id", "turn_idx").first()
    hit = (F.col("conv_id") == victim["conv_id"]) & (F.col("turn_idx") == victim["turn_idx"])
    planted = engine.withColumn(
        "extracted_text",
        F.when(hit, F.concat(F.col("extracted_text"), F.lit(" x"))).otherwise(
            F.col("extracted_text")
        ),
    )
    assert _digest(planted) != _digest(gold)
    assert golden.mismatched_turns(planted, gold) == 1
    dropped = engine.filter(~hit)
    assert golden.mismatched_turns(dropped, gold) == 1


def test_expected_values_match_engine_aggregates(tiny):
    engine, gold = tiny
    e = golden.expected_extraction(gold)
    row = engine.agg(F.count(F.lit(1)), F.sum("span_count"), golden.turn_digest()).collect()[0]
    assert list(row) == [e["turns"], e["spans"], e["digest"]]
    kinds = {
        r[0]: [r[1], r[2]]
        for r in engine.groupBy("payload_kind").agg(F.count(F.lit(1)), F.sum("span_count")).collect()
    }
    assert kinds == e["kinds"]


def test_rows_digest_ignores_order_and_float_width():
    a = golden.rows_digest(["b", "a"], [(1.0000001, "x"), (2.5, None)])
    b = golden.rows_digest(["a", "b"], [(None, 2.5), ("x", 1.0)])
    assert a == b
    assert a != golden.rows_digest(["a", "b"], [(None, 2.5), ("x", 1.01)])
    assert a != golden.rows_digest(["a", "b"], [("x", 1.0)])


def test_stager_is_seeded():
    a = stage.staged_documents("extract_mixed", 3)
    assert a.equals(stage.staged_documents("extract_mixed", 3))
    b = stage.staged_documents("extract_mixed", 4)
    assert a.column("text").equals(b.column("text"))  # same corpus ...
    assert not a.column("doc_id").equals(b.column("doc_id"))  # ... new doc ids
    assert sorted(a.column("doc_id").to_pylist()) == list(range(a.num_rows))
    c = stage.staged_documents("commit_distinct", 3)
    texts = c.column("text").to_pylist()
    assert len(set(texts)) == len(texts)
    assert not c.equals(stage.staged_documents("commit_distinct", 4))


def test_base_corpus_has_the_sf01_shape():
    import statistics

    docs = stage.base_documents(5000)
    words = [t.split() for t in docs["text"]]
    counts = [len(w) - w.count("dup") for w in words]
    assert min(counts) == 10 and max(counts) == 100
    assert 50 < statistics.mean(counts) < 58
    assert {x for w in words for x in w} == set(stage.VOCAB) | {"dup"}
    assert len(stage.VOCAB) == 30
    near_dups = sum("dup" in w for w in words)
    assert 0.04 * 5000 < near_dups <= 0.05 * 5000
    assert docs["n_chars"] == [len(t) for t in docs["text"]]
