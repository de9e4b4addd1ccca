"""Extended query registry: voting, text stats, dedup, similarity, spans.

Every query here is value-hash-checked against a DuckDB oracle. Floating
point is kept cross-engine-exact by (a) quantizing to integer-valued
numbers before aggregation (integer sums in doubles are associative up to
2^53) and (b) only applying single-expression double math afterwards.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .functions.columns import (
    HASH_P,
    WS_TOKENS_SQL as _TOKENS_SQL,  # the ONE token-split contract definition
    portable_hash31_sql,
    rate_millionths,
    rolling_fingerprint_sql,
    shingles_sql,
    ws_tokens,
)
from .operators.assembly import segment_conversations
from .operators.extraction import extract_turns
from .operators.dedup import (
    LSH_BANDS,
    LSH_ROWS,
    MINHASH_A,
    MINHASH_B,
    embedding_near_dup_pairs,
    exact_dedup,
    jaccard_pairs,
    minhash_lsh_pairs,
    simhash,
)
from .operators.similarity import cosine_topk
from .operators.spans import runlength_spans, topk_per_group
from .operators.textstats import (
    STOPWORDS,
    document_fingerprint,
    language_id,
    quality_score,
    token_stats,
)
from .operators.voting import (
    class_majority_vote,
    max_score_pick,
    word_majority_vote,
)
from .sources.tables import load_table
from .sources.transcripts import CONV_MOD, transcripts_from_docs

def _docs(spark, sf_dir):
    return load_table(spark, sf_dir, "documents").select("doc_id", "text")


def _events_scored(spark, sf_dir):
    """events with integer-cent confidence (cross-engine-exact sums)."""
    return load_table(spark, sf_dir, "events").withColumn(
        "conf", F.floor(F.col("value") * 100 + 0.5).cast("double")
    )


_EVENTS_SCORED_SQL = (
    "SELECT *, CAST(floor(value * 100 + 0.5) AS DOUBLE) AS conf FROM events"
)


# ---------------------------------------------------------------------------
# Voting (SURVEY §2.4 A3–A6)
# ---------------------------------------------------------------------------

def q_vote_word_majority(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events_scored(spark, sf_dir)
    return word_majority_vote(ev, ["user_id"], "event_type", "conf", min_vote_count=2)


ORACLE_VOTE_WORD_MAJORITY = f"""
WITH ev AS ({_EVENTS_SCORED_SQL}),
c AS (SELECT user_id, event_type, COUNT(*) votes, SUM(conf) conf_sum
      FROM ev GROUP BY 1, 2),
r AS (SELECT *, row_number() OVER (PARTITION BY user_id
        ORDER BY votes DESC, conf_sum DESC, event_type ASC) rn FROM c),
m AS (SELECT user_id, event_type b_single, conf b_conf, row_number() OVER
        (PARTITION BY user_id ORDER BY conf DESC, event_type ASC) rm FROM ev)
SELECT r.user_id,
       CASE WHEN r.votes >= 2 THEN r.event_type ELSE m.b_single END AS voted,
       -- fallback rows report the RETURNED candidate's own vote count
       CASE WHEN r.votes >= 2 THEN r.votes ELSE mc.votes END AS votes,
       (floor((CASE WHEN r.votes >= 2 THEN r.conf_sum / r.votes ELSE m.b_conf END) * 10000.0 + 0.5) / 10000.0) AS vote_confidence
FROM r
JOIN m ON r.user_id = m.user_id AND m.rm = 1
JOIN c mc ON mc.user_id = m.user_id AND mc.event_type = m.b_single
WHERE r.rn = 1
"""


def q_vote_class_abstain(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events_scored(spark, sf_dir)
    return class_majority_vote(
        ev, ["user_id"], "event_type", "conf", tie_break="abstain"
    )


ORACLE_VOTE_CLASS_ABSTAIN = f"""
WITH ev AS ({_EVENTS_SCORED_SQL}),
c AS (SELECT user_id, event_type, COUNT(*) votes,
             (floor((AVG(conf)) * 10000.0 + 0.5) / 10000.0) avg_score, MAX(conf) max_score
      FROM ev GROUP BY 1, 2),
s AS (SELECT *, MAX(votes) OVER (PARTITION BY user_id) mx,
             SUM(votes) OVER (PARTITION BY user_id) n_cand
      FROM c),
t AS (SELECT user_id, COUNT(*) tied FROM s WHERE votes = mx GROUP BY 1),
w AS (SELECT s.*, t.tied, row_number() OVER (PARTITION BY s.user_id
        ORDER BY s.max_score DESC, s.event_type ASC) rn
      FROM s JOIN t USING (user_id) WHERE s.votes = s.mx)
SELECT user_id,
       CASE WHEN tied > 1 THEN NULL ELSE event_type END AS classification,
       (floor((CASE WHEN tied > 1 THEN 0.0 ELSE avg_score END) * 10000.0 + 0.5) / 10000.0) AS vote_score,
       CAST(n_cand AS BIGINT) AS n_candidates
FROM w WHERE rn = 1
"""


def q_vote_max_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events_scored(spark, sf_dir)
    return max_score_pick(ev, ["user_id"], "event_type", "conf")


ORACLE_VOTE_MAX_SCORE = f"""
WITH ev AS ({_EVENTS_SCORED_SQL})
SELECT user_id, event_type AS picked, conf AS best_score
FROM (SELECT *, row_number() OVER (PARTITION BY user_id
        ORDER BY conf DESC, event_type ASC) rn FROM ev)
WHERE rn = 1
"""


# ---------------------------------------------------------------------------
# Text analysis (training-data ops over documents)
# ---------------------------------------------------------------------------

def q_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return token_stats(_docs(spark, sf_dir))


ORACLE_TOKEN_STATS = f"""
WITH t AS (SELECT doc_id, text, {_TOKENS_SQL.format(e='text')} w FROM documents)
SELECT doc_id,
       CAST(len(text) AS BIGINT) AS n_chars,
       CAST(len(w) AS BIGINT) AS n_ws_tokens,
       CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+')) AS BIGINT)
         AS n_word_tokens,
       (floor((CAST(list_sum(list_transform(w, t -> len(t))) AS DOUBLE) / len(w)) * 10000.0 + 0.5) / 10000.0) AS avg_token_len
FROM t
"""


def q_language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    return language_id(_docs(spark, sf_dir))


def _lang_score_sql(lang: str) -> str:
    words = ", ".join(f"'{w}'" for w in STOPWORDS[lang])
    return (
        f"(floor(CAST(len(list_filter(w, t -> list_contains([{words}], t)))"
        f" AS DOUBLE) / len(w) * 1000000.0 + 0.5) / 1000000.0)"
    )


ORACLE_LANGUAGE_ID = f"""
WITH t AS (SELECT doc_id, {_TOKENS_SQL.format(e='text')} w FROM documents),
s AS (SELECT doc_id,
        {_lang_score_sql('de')} s_de, {_lang_score_sql('en')} s_en,
        {_lang_score_sql('es')} s_es, {_lang_score_sql('fr')} s_fr
      FROM t),
b AS (SELECT *, greatest(s_de, s_en, s_es, s_fr) best FROM s)
SELECT doc_id,
       CASE WHEN best < 0.05 THEN 'und'
            WHEN s_de = best THEN 'de' WHEN s_en = best THEN 'en'
            WHEN s_es = best THEN 'es' ELSE 'fr' END AS pred_lang,
       best AS lang_score
FROM b
"""


def q_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    return quality_score(_docs(spark, sf_dir))


_ALL_STOP_SQL = ", ".join(
    f"'{w}'" for w in sorted({w for ws in STOPWORDS.values() for w in ws})
)

ORACLE_QUALITY_SCORE = f"""
WITH t AS (SELECT doc_id, text, {_TOKENS_SQL.format(e='text')} w FROM documents),
x AS (SELECT doc_id, len(w) n_toks,
        len(text) - len(regexp_replace(text, '[^A-Za-z0-9 ]', '', 'g')) punct,
        len(text) n_chars,
        len(list_filter(w, t -> list_contains([{_ALL_STOP_SQL}], t))) n_stop
      FROM t),
r AS (SELECT doc_id, n_toks,
        (floor((CAST(punct AS DOUBLE) / greatest(n_chars, 1)) * 1000000.0 + 0.5) / 1000000.0) punct_ratio,
        (floor((CAST(n_stop AS DOUBLE) / greatest(n_toks, 1)) * 1000000.0 + 0.5) / 1000000.0) stop_ratio
      FROM x)
SELECT doc_id, CAST(n_toks AS BIGINT) AS n_tokens, punct_ratio, stop_ratio,
       (floor((0.4 * least(1.0, n_toks / 64.0) + 0.3 * (1.0 - least(1.0, punct_ratio * 4)) + 0.3 * least(1.0, stop_ratio * 4)) * 10000.0 + 0.5) / 10000.0) AS quality
FROM r
"""


def q_doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    return document_fingerprint(_docs(spark, sf_dir))


ORACLE_DOC_FINGERPRINT = f"""
WITH t AS (SELECT doc_id, {_TOKENS_SQL.format(e='text')} w FROM documents)
SELECT doc_id, {rolling_fingerprint_sql('w')} AS fingerprint FROM t
"""


# ---------------------------------------------------------------------------
# Dedup (corpus = documents ∪ truncated near-dups ∪ exact dups)
# ---------------------------------------------------------------------------

def _corpus(spark, sf_dir):
    docs = _docs(spark, sf_dir)
    w = ws_tokens(F.col("text"))
    trunc = docs.select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.array_join(
            F.slice(w, 1, F.greatest(F.size(w) - 3, F.lit(1))), " "
        ).alias("text"),
    )
    dups = docs.filter(F.col("doc_id") % 7 == 0).select(
        (F.col("doc_id") + 2000000).alias("doc_id"), "text"
    )
    return docs.unionByName(trunc).unionByName(dups)


_CORPUS_SQL = f"""
corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 1000000,
         array_to_string(w[1 : greatest(len(w) - 3, 1)], ' ')
  FROM (SELECT doc_id, {_TOKENS_SQL.format(e='text')} w FROM documents)
  UNION ALL
  SELECT doc_id + 2000000, text FROM documents WHERE doc_id % 7 = 0
)
"""


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return exact_dedup(_corpus(spark, sf_dir))


ORACLE_DEDUP_EXACT = f"""
WITH {_CORPUS_SQL}
SELECT md5(text) AS content_md5, MIN(doc_id) AS keep_id,
       CAST(COUNT(*) AS BIGINT) AS dup_count
FROM corpus GROUP BY 1
"""

_JACCARD_T = 0.5


def q_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return jaccard_pairs(_corpus(spark, sf_dir), _JACCARD_T)


_SH_SQL = shingles_sql("w", 3)

from .operators.dedup import MAX_BUCKET_SIZE, MAX_SHINGLE_DF  # noqa: E402

ORACLE_JACCARD_PAIRS = f"""
WITH {_CORPUS_SQL},
tw AS (SELECT doc_id, {_TOKENS_SQL.format(e='text')} w FROM corpus),
ss AS (SELECT doc_id did, {_SH_SQL} sh FROM tw),
inv0 AS (SELECT did, unnest(sh) s FROM ss),
keep AS (SELECT s FROM inv0 GROUP BY s HAVING COUNT(*) <= {MAX_SHINGLE_DF}),
inv AS (SELECT did, s FROM inv0 JOIN keep USING (s)),
sz AS (SELECT did, COUNT(*) sz FROM inv GROUP BY did),
i AS (SELECT x.did a, y.did b, COUNT(*) i FROM inv x JOIN inv y USING (s)
      WHERE x.did < y.did GROUP BY 1, 2)
SELECT a AS id_a, b AS id_b,
       (floor((CAST(i AS DOUBLE) / (za.sz + zb.sz - i)) * 1000000.0 + 0.5) / 1000000.0) AS jaccard
FROM i JOIN sz za ON i.a = za.did JOIN sz zb ON i.b = zb.did
WHERE CAST(i AS DOUBLE) / (za.sz + zb.sz - i) >= {_JACCARD_T}
"""


def q_minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return minhash_lsh_pairs(_corpus(spark, sf_dir), _JACCARD_T)


def _minhash_oracle_sql() -> str:
    h31 = portable_hash31_sql("s")
    sig_cols = ",\n        ".join(
        f"list_min(list_transform(hv, h -> ({a} * h + {b}) % {HASH_P})) m{i}"
        for i, (a, b) in enumerate(zip(MINHASH_A, MINHASH_B))
    )
    band_selects = "\n  UNION ALL\n".join(
        "  SELECT did, {b} band, md5({expr}) bucket FROM sig".format(
            b=b,
            expr=" || ':' || ".join(
                f"CAST(m{i} AS VARCHAR)"
                for i in range(b * LSH_ROWS, (b + 1) * LSH_ROWS)
            ),
        )
        for b in range(LSH_BANDS)
    )
    return f"""
WITH {_CORPUS_SQL},
tw AS (SELECT doc_id, {_TOKENS_SQL.format(e='text')} w FROM corpus),
ss AS (SELECT doc_id did, {_SH_SQL} sh FROM tw),
nz AS (SELECT did, sh FROM ss WHERE len(sh) > 0),
hs AS (SELECT did, sh, list_transform(sh, s -> {h31}) hv FROM nz),
sig AS (SELECT did, sh,
        {sig_cols}
        FROM hs),
bands AS (
{band_selects}
),
small AS (SELECT band, bucket FROM bands GROUP BY 1, 2
          HAVING COUNT(*) <= {MAX_BUCKET_SIZE}),
bandsf AS (SELECT bands.* FROM bands JOIN small USING (band, bucket)),
cand AS (SELECT DISTINCT x.did a, y.did b FROM bandsf x
         JOIN bandsf y USING (band, bucket) WHERE x.did < y.did),
v AS (SELECT a id_a, b id_b,
        (floor((CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE) / len(list_distinct(sa.sh || sb.sh))) * 1000000.0 + 0.5) / 1000000.0) jaccard
      FROM cand JOIN nz sa ON cand.a = sa.did JOIN nz sb ON cand.b = sb.did)
SELECT id_a, id_b, jaccard FROM v WHERE jaccard >= {_JACCARD_T}
"""


ORACLE_MINHASH_LSH_PAIRS = _minhash_oracle_sql()


def q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return simhash(_docs(spark, sf_dir))


def _simhash_oracle_sql() -> str:
    h31 = portable_hash31_sql("t")
    from .operators.dedup import SIMHASH_BITS  # 31 — hash values are < 2^31

    terms = " + ".join(
        f"(CASE WHEN 2 * len(list_filter(hv, h -> (h // {1 << b}) % 2 = 1))"
        f" > len(hv) THEN CAST({1 << b} AS BIGINT) ELSE 0 END)"
        for b in range(SIMHASH_BITS)
    )
    return f"""
WITH t AS (SELECT doc_id, {_TOKENS_SQL.format(e='text')} w FROM documents),
hs AS (SELECT doc_id, list_transform(w, t -> {h31}) hv FROM t)
SELECT doc_id, {terms} AS simhash FROM hs
"""


ORACLE_SIMHASH = _simhash_oracle_sql()


# ---------------------------------------------------------------------------
# Similarity search (embeddings)
# ---------------------------------------------------------------------------

_NEAR_DUP_T = 0.35


def q_emb_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return embedding_near_dup_pairs(emb, _NEAR_DUP_T)


_Q_SQL = "list_transform(CAST(embedding AS DOUBLE[]), x -> CAST(floor(x * 1000 + 0.5) AS BIGINT))"


def _lsh_bucket_exprs(qcol: str = "q") -> list:
    """Per-table LSH bucket expressions over a quantized-vector column —
    the SQL twin of operators.similarity._table_bucket."""
    from .operators.similarity import HYPERPLANES, LSH_TABLES

    exprs = []
    for t in range(LSH_TABLES):
        bits = []
        for i, plane in enumerate(HYPERPLANES[t]):
            lit = "[" + ",".join(str(c) for c in plane) + "]"
            dot = (
                f"list_dot_product({qcol}, {lit})"
            )
            bits.append(
                f"(CASE WHEN {dot} >= 0 THEN CAST({1 << i} AS BIGINT) ELSE 0 END)"
            )
        exprs.append("(" + " + ".join(bits) + ")")
    return exprs


def _lsh_index_sql() -> str:
    """CTE body: quantized embeddings exploded to (tbl, bucket) index rows.
    Expects to be placed after a CTE ``n(vec_id, q, nrm)``."""
    exprs = _lsh_bucket_exprs("q")
    bk = ",\n       ".join(f"{e} AS b{t}" for t, e in enumerate(exprs))
    pe = "\n  UNION ALL\n".join(
        f"  SELECT vec_id, q, nrm, {t} tbl, b{t} bucket FROM bk"
        for t in range(len(exprs))
    )
    return f"""
bk AS (SELECT vec_id, q, nrm,
       {bk}
       FROM n),
pe AS (
{pe}
)"""


_COS_PAIR_SQL = (
    "(floor((list_dot_product(na.q, nb.q)"
    " / (sqrt(na.nrm) * sqrt(nb.nrm))) * 1000000.0 + 0.5) / 1000000.0)"
)

ORACLE_EMB_NEAR_DUP = f"""
WITH q AS (SELECT vec_id, {_Q_SQL} q FROM embeddings),
n AS (SELECT vec_id, q, list_dot_product(q, q) nrm FROM q),
{_lsh_index_sql()},
small AS (SELECT tbl, bucket FROM pe GROUP BY 1, 2
          HAVING COUNT(*) <= {MAX_BUCKET_SIZE}),
pk AS (SELECT pe.tbl, pe.bucket, pe.vec_id FROM pe JOIN small USING (tbl, bucket)),
cand AS (SELECT DISTINCT x.vec_id a, y.vec_id b FROM pk x
         JOIN pk y USING (tbl, bucket) WHERE x.vec_id < y.vec_id)
SELECT a AS id_a, b AS id_b, {_COS_PAIR_SQL} AS cosine
FROM cand JOIN n na ON cand.a = na.vec_id JOIN n nb ON cand.b = nb.vec_id
WHERE {_COS_PAIR_SQL} >= {_NEAR_DUP_T}
"""


def q_ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    qmin = emb.orderBy("vec_id").limit(1)
    return cosine_topk(emb, qmin, k=10)


ORACLE_ANN_COSINE_TOPK = f"""
WITH q AS (SELECT vec_id, {_Q_SQL} q FROM embeddings),
n AS (SELECT vec_id, q, list_dot_product(q, q) nrm FROM q),
qq AS (SELECT * FROM n ORDER BY vec_id LIMIT 1)
SELECT n.vec_id,
       (floor((list_dot_product(n.q, qq.q) / (sqrt(n.nrm) * sqrt(qq.nrm))) * 1000000.0 + 0.5) / 1000000.0) AS cosine
FROM n, qq WHERE n.vec_id != qq.vec_id
ORDER BY cosine DESC, n.vec_id ASC LIMIT 10
"""


# ---------------------------------------------------------------------------
# Segmentation / spans / misc window ops
# ---------------------------------------------------------------------------

def q_conv_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = transcripts_from_docs(spark, sf_dir)
    return segment_conversations(t).select("conv_id", "turn_idx", "segment_id")


ORACLE_CONV_SEGMENTS = """
WITH d AS (
  SELECT 'conv-' || lpad(CAST(doc_id % 89 AS VARCHAR), 6, '0') conv_id,
         CAST(doc_id // 89 AS INTEGER) turn_idx,
         CASE doc_id % 4 WHEN 0 THEN 'user' WHEN 1 THEN 'assistant'
              WHEN 2 THEN 'tool' ELSE 'system' END AS "role"
  FROM documents
)
SELECT conv_id, turn_idx,
       CAST(SUM(CASE WHEN "role" = 'system' THEN 1 ELSE 0 END) OVER (
         PARTITION BY conv_id ORDER BY turn_idx
         ROWS UNBOUNDED PRECEDING) AS INTEGER) AS segment_id
FROM d
"""


def q_event_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return runlength_spans(
        ev, ["user_id"], ["ts", "event_id"], "event_type", None
    )


ORACLE_EVENT_SPANS = """
WITH f AS (
  SELECT user_id, event_type, ts, event_id,
         CASE WHEN lag(event_type) OVER w IS NULL
                   OR lag(event_type) OVER w != event_type
              THEN 1 ELSE 0 END chg
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
s AS (SELECT user_id, event_type,
        CAST(SUM(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id
          ROWS UNBOUNDED PRECEDING) AS INTEGER) span_id
      FROM f)
SELECT user_id, span_id, event_type AS label,
       CAST(COUNT(*) AS BIGINT) AS span_len
FROM s GROUP BY 1, 2, 3
"""


def q_topk_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events_scored(spark, sf_dir)
    return topk_per_group(ev, ["user_id"], "conf", "event_id", 3).select(
        "user_id", "event_id", "conf", "rank"
    )


ORACLE_TOPK_EVENTS = f"""
WITH ev AS ({_EVENTS_SCORED_SQL})
SELECT user_id, event_id, conf, CAST(rank AS INTEGER) AS rank
FROM (SELECT *, row_number() OVER (PARTITION BY user_id
        ORDER BY conf DESC, event_id ASC) rank FROM ev)
WHERE rank <= 3
"""


def q_state_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lineage/job-state style counts (A9, marie/scheduler/psql.py:734-760)."""
    return (
        load_table(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )


ORACLE_STATE_COUNTS = (
    "SELECT event_type, CAST(COUNT(*) AS BIGINT) n FROM events GROUP BY 1"
)


EXT_QUERIES = {
    "vote_word_majority": q_vote_word_majority,
    "vote_class_abstain": q_vote_class_abstain,
    "vote_max_score": q_vote_max_score,
    "token_stats": q_token_stats,
    "language_id": q_language_id,
    "quality_score": q_quality_score,
    "doc_fingerprint": q_doc_fingerprint,
    "dedup_exact": q_dedup_exact,
    "jaccard_pairs": q_jaccard_pairs,
    "minhash_lsh_pairs": q_minhash_lsh_pairs,
    "simhash": q_simhash,
    "emb_near_dup": q_emb_near_dup,
    "ann_cosine_topk": q_ann_cosine_topk,
    "conv_segments": q_conv_segments,
    "event_spans": q_event_spans,
    "topk_events": q_topk_events,
    "state_counts": q_state_counts,
}

EXT_ORACLES = {
    "vote_word_majority": ORACLE_VOTE_WORD_MAJORITY,
    "vote_class_abstain": ORACLE_VOTE_CLASS_ABSTAIN,
    "vote_max_score": ORACLE_VOTE_MAX_SCORE,
    "token_stats": ORACLE_TOKEN_STATS,
    "language_id": ORACLE_LANGUAGE_ID,
    "quality_score": ORACLE_QUALITY_SCORE,
    "doc_fingerprint": ORACLE_DOC_FINGERPRINT,
    "dedup_exact": ORACLE_DEDUP_EXACT,
    "jaccard_pairs": ORACLE_JACCARD_PAIRS,
    "minhash_lsh_pairs": ORACLE_MINHASH_LSH_PAIRS,
    "simhash": ORACLE_SIMHASH,
    "emb_near_dup": ORACLE_EMB_NEAR_DUP,
    "ann_cosine_topk": ORACLE_ANN_COSINE_TOPK,
    "conv_segments": ORACLE_CONV_SEGMENTS,
    "event_spans": ORACLE_EVENT_SPANS,
    "topk_events": ORACLE_TOPK_EVENTS,
    "state_counts": ORACLE_STATE_COUNTS,
}


# ---------------------------------------------------------------------------
# Layout struct parity + renderer sinks (SURVEY §2.2 F7, §2.1 S10, FIXTURES §3)
# ---------------------------------------------------------------------------

# DuckDB reconstruction of the layout payload's word grid straight from
# documents.text: canonical 8-word lines, word (x, y, w, h) = (9·char_offset,
# 20·line, 9·len, 16), ids/word_index replaying the engine's x-stable sort
# over the md5-scrambled input order.
_LAYOUT_WORDS_SQL = f"""
WITH d AS (
  SELECT doc_id,
         'conv-' || lpad(CAST(doc_id % {CONV_MOD} AS VARCHAR), 6, '0') conv_id,
         CAST(doc_id // {CONV_MOD} AS INTEGER) turn_idx,
         {_TOKENS_SQL.format(e='text')} w
  FROM documents WHERE doc_id % 100 >= 40 AND doc_id % 100 < 65
),
lines AS (
  SELECT doc_id, conv_id, turn_idx,
         unnest(range(CAST(ceil(len(w) / 8.0) AS BIGINT))) ln, w
  FROM d
),
lw AS (
  SELECT doc_id, conv_id, turn_idx, ln,
         list_transform(range(len(lws)), j -> {{'t': lws[j+1], 'j': j}}) pairs
  FROM (SELECT *, w[ln*8+1 : ln*8+8] lws FROM lines)
),
words AS (
  SELECT doc_id, conv_id, turn_idx, ln, unnest(pairs) p FROM lw
),
pos AS (
  SELECT doc_id, conv_id, turn_idx, ln, p.t word_text, p.j j,
         9 * (COALESCE(SUM(len(p.t) + 1) OVER (PARTITION BY doc_id, ln
              ORDER BY p.j ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
              0)) x
  FROM words
),
gi AS (
  SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY ln, j) - 1 g
  FROM pos
),
keyed AS (
  SELECT *, md5(CAST(doc_id AS VARCHAR) || ':' || CAST(g AS VARCHAR)) k
  FROM gi
)
SELECT conv_id, turn_idx,
       CAST(row_number() OVER (PARTITION BY doc_id ORDER BY x, k) - 1
            AS INTEGER) word_id,
       word_text,
       CAST(ln + 1 AS INTEGER) line_no,
       CAST(g AS INTEGER) word_index,
       CAST(x AS INTEGER) x0, CAST(ln * 20 AS INTEGER) y0,
       CAST(x + 9 * len(word_text) AS INTEGER) x1,
       CAST(ln * 20 + 16 AS INTEGER) y1
FROM keyed
"""


def q_layout_words(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full word-struct parity for layout turns, emitted in XYXY
    (coordinate conversion F7, marie/ocr/coordinate_format.py:23-55)."""
    t = transcripts_from_docs(spark, sf_dir)
    e = extract_turns(t, with_structs=True).filter(
        F.col("payload_kind") == "layout"
    )
    w = e.select("conv_id", "turn_idx", F.explode("words").alias("w"))
    return w.select(
        "conv_id",
        "turn_idx",
        F.col("w.id").cast("int").alias("word_id"),
        F.col("w.text").alias("word_text"),
        F.col("w.line").cast("int").alias("line_no"),
        F.col("w.word_index").cast("int").alias("word_index"),
        F.col("w.box")[0].alias("x0"),
        F.col("w.box")[1].alias("y0"),
        (F.col("w.box")[0] + F.col("w.box")[2]).alias("x1"),
        (F.col("w.box")[1] + F.col("w.box")[3]).alias("y1"),
    )


def q_layout_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Line-struct parity: renumbered line ids, assembled text, envelope
    bbox (ocr_processor.py:241-247), plus the per-page ``meta`` header
    (with_meta: imageSize grid envelope, pinned lang, line count —
    ocr_processor.py:140-144) repeated on each line row."""
    from .operators.extraction import with_meta

    t = transcripts_from_docs(spark, sf_dir)
    e = with_meta(
        extract_turns(t, with_structs=True).filter(
            F.col("payload_kind") == "layout"
        )
    )
    ln = e.select(
        "conv_id", "turn_idx", "meta", F.explode("lines").alias("l")
    )
    return ln.select(
        "conv_id",
        "turn_idx",
        F.col("l.line").cast("int").alias("line_no"),
        F.col("l.text").alias("line_text"),
        F.col("l.bbox")[0].alias("bb_x"),
        F.col("l.bbox")[1].alias("bb_y"),
        F.col("l.bbox")[2].alias("bb_w"),
        F.col("l.bbox")[3].alias("bb_h"),
        F.col("l.confidence").alias("line_conf"),
        F.col("meta.imageSize.width").alias("img_w"),
        F.col("meta.imageSize.height").alias("img_h"),
        F.col("meta.lang").alias("lang"),
        F.col("meta.lines").cast("int").alias("n_lines"),
    )


ORACLE_LAYOUT_LINES = f"""
WITH d AS (
  SELECT doc_id,
         'conv-' || lpad(CAST(doc_id % {CONV_MOD} AS VARCHAR), 6, '0') conv_id,
         CAST(doc_id // {CONV_MOD} AS INTEGER) turn_idx,
         {_TOKENS_SQL.format(e='text')} w
  FROM documents WHERE doc_id % 100 >= 40 AND doc_id % 100 < 65
),
lines AS (
  SELECT conv_id, turn_idx,
         unnest(range(CAST(ceil(len(w) / 8.0) AS BIGINT))) ln, w
  FROM d
),
rows_ AS (
  SELECT conv_id, turn_idx,
         CAST(ln + 1 AS INTEGER) line_no,
         array_to_string(w[ln*8+1 : ln*8+8], ' ') line_text,
         0 bb_x, CAST(ln * 20 AS INTEGER) bb_y,
         CAST(9 * len(array_to_string(w[ln*8+1 : ln*8+8], ' ')) AS INTEGER)
           bb_w,
         16 bb_h,
         1.0 line_conf
  FROM lines
)
SELECT *,
       CAST(MAX(bb_x + bb_w) OVER (PARTITION BY conv_id, turn_idx)
            AS INTEGER) img_w,
       CAST(MAX(bb_y + bb_h) OVER (PARTITION BY conv_id, turn_idx)
            AS INTEGER) img_h,
       'en' lang,
       CAST(COUNT(*) OVER (PARTITION BY conv_id, turn_idx) AS INTEGER)
         n_lines
FROM rows_
"""


def q_blob_xml(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blob-XML renderer sink (S10, marie/renderer/blob_renderer.py:23-90):
    per layout turn, one XML string of word blobs in word_index order."""
    t = transcripts_from_docs(spark, sf_dir)
    e = extract_turns(t, with_structs=True).filter(
        F.col("payload_kind") == "layout"
    )

    def esc(c):
        x = F.replace(c, F.lit("&"), F.lit("&amp;"))
        x = F.replace(x, F.lit("<"), F.lit("&lt;"))
        return F.replace(x, F.lit(">"), F.lit("&gt;"))

    blob = lambda w: F.concat(
        F.lit('<blob x="'), w["box"][0].cast("string"),
        F.lit('" y="'), w["box"][1].cast("string"),
        F.lit('" w="'), w["box"][2].cast("string"),
        F.lit('" h="'), w["box"][3].cast("string"),
        F.lit('">'), esc(w["text"]), F.lit("</blob>"),
    )
    return e.select(
        "conv_id",
        "turn_idx",
        F.concat(
            F.lit("<blobs>"),
            F.array_join(F.transform(F.col("words"), blob), ""),
            F.lit("</blobs>"),
        ).alias("blobs_xml"),
    )


ORACLE_BLOB_XML = f"""
WITH base AS ({_LAYOUT_WORDS_SQL})
SELECT conv_id, turn_idx,
       '<blobs>' || string_agg(
         '<blob x="' || CAST(x0 AS VARCHAR) || '" y="' || CAST(y0 AS VARCHAR)
         || '" w="' || CAST(x1 - x0 AS VARCHAR) || '" h="'
         || CAST(y1 - y0 AS VARCHAR) || '">'
         || replace(replace(replace(word_text, '&', '&amp;'), '<', '&lt;'),
                    '>', '&gt;')
         || '</blob>', '' ORDER BY word_index) || '</blobs>' blobs_xml
FROM base GROUP BY conv_id, turn_idx
"""

EXT_QUERIES["layout_words"] = q_layout_words
EXT_QUERIES["layout_lines"] = q_layout_lines
EXT_QUERIES["blob_xml"] = q_blob_xml
EXT_ORACLES["layout_words"] = _LAYOUT_WORDS_SQL
EXT_ORACLES["layout_lines"] = ORACLE_LAYOUT_LINES
EXT_ORACLES["blob_xml"] = ORACLE_BLOB_XML


# ---------------------------------------------------------------------------
# Entity spans + KV pairing oracles (SURVEY §2.9 N4/N6) over a labeled token
# table derived from documents: first-line words with label key/O/value by
# position, grid x offsets, score = (j+1)/10.
# ---------------------------------------------------------------------------

def _labeled_tokens(spark, sf_dir):
    from pyspark.sql.window import Window

    d = _docs(spark, sf_dir)
    toks = d.select(
        "doc_id",
        F.posexplode(F.slice(ws_tokens(F.col("text")), 1, 8)).alias("j", "tok"),
    )
    w = (
        Window.partitionBy("doc_id")
        .orderBy("j")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return toks.select(
        "doc_id",
        F.lit(1).alias("line_no"),
        F.col("j").cast("int").alias("token_idx"),
        F.when(F.col("j") == 0, "key")
        .when(F.col("j") == 1, "O")
        .otherwise("value")
        .alias("label"),
        F.col("tok").alias("text"),
        (9 * F.coalesce(F.sum(F.length("tok") + 1).over(w), F.lit(0)))
        .cast("int")
        .alias("x"),
        F.lit(0).alias("y"),
        (9 * F.length("tok")).cast("int").alias("w"),
        F.lit(16).alias("h"),
        ((F.col("j") + 1) / 10.0).alias("score"),
    )


_LABELED_TOKENS_SQL = f"""
  SELECT doc_id, 1 line_no, CAST(p.j AS INTEGER) token_idx,
         CASE WHEN p.j = 0 THEN 'key' WHEN p.j = 1 THEN 'O'
              ELSE 'value' END "label",
         p.t AS text,
         CAST(9 * COALESCE(SUM(len(p.t) + 1) OVER (PARTITION BY doc_id
              ORDER BY p.j ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
              0) AS INTEGER) x,
         0 y, CAST(9 * len(p.t) AS INTEGER) w, 16 h,
         (p.j + 1) / 10.0 score
  FROM (
    SELECT doc_id,
           unnest(list_transform(range(len(w8)), j -> {{'t': w8[j+1], 'j': j}})) p
    FROM (SELECT doc_id, ({_TOKENS_SQL.format(e='text')})[1:8] w8 FROM documents)
  )
"""


def q_entity_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.kv import aggregate_entity_spans

    return aggregate_entity_spans(_labeled_tokens(spark, sf_dir))


ORACLE_ENTITY_SPANS = f"""
WITH tok AS ({_LABELED_TOKENS_SQL}),
flag AS (
  SELECT *, CASE WHEN lag("label") OVER w IS NULL
                 OR lag("label") OVER w != "label" THEN 1 ELSE 0 END chg
  FROM tok WINDOW w AS (PARTITION BY doc_id, line_no ORDER BY token_idx)
),
runs AS (
  SELECT *, CAST(SUM(chg) OVER (PARTITION BY doc_id, line_no
            ORDER BY token_idx ROWS UNBOUNDED PRECEDING) AS INTEGER) span_id
  FROM flag
)
SELECT doc_id, line_no, span_id, "label",
       string_agg(text, ' ' ORDER BY token_idx) span_text,
       MIN(x) x, MIN(y) y,
       MAX(x + w) - MIN(x) w, MAX(y + h) - MIN(y) h,
       (floor(AVG(score) * 1000000.0 + 0.5) / 1000000.0) score,
       CAST(COUNT(*) AS BIGINT) n_tokens
FROM runs WHERE "label" != 'O'
GROUP BY doc_id, line_no, span_id, "label"
"""


def q_kv_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.kv import aggregate_entity_spans, kv_pairs

    return kv_pairs(aggregate_entity_spans(_labeled_tokens(spark, sf_dir)))


# first key, then first value AT-OR-RIGHT of it (the reference's ordered
# scan, ner_extraction_executor.py:620-664): the value rank is computed
# AFTER the >= filter — ranking all values first would wrongly drop a
# line whose leftmost value sits left of the key. Total order (x, text)
# on both picks mirrors the engine's pinned tie-break.
ORACLE_KV_PAIRS = f"""
WITH spans AS ({ORACLE_ENTITY_SPANS.strip()})
SELECT doc_id, line_no, key_text, value_text, key_x, value_x
FROM (
  SELECT k.doc_id, k.line_no, k.span_text key_text, v.span_text value_text,
         k.x key_x, v.x value_x,
         row_number() OVER (PARTITION BY k.doc_id, k.line_no
                            ORDER BY v.x, v.span_text) rv
  FROM (SELECT *, row_number() OVER (PARTITION BY doc_id, line_no
                                     ORDER BY x, span_text) rn
        FROM spans WHERE "label" = 'key') k
  JOIN (SELECT * FROM spans WHERE "label" = 'value') v
    ON k.doc_id = v.doc_id AND k.line_no = v.line_no AND v.x >= k.x
  WHERE k.rn = 1
)
WHERE rv = 1
"""

EXT_QUERIES["entity_spans"] = q_entity_spans
EXT_QUERIES["kv_pairs"] = q_kv_pairs
EXT_ORACLES["entity_spans"] = ORACLE_ENTITY_SPANS
EXT_ORACLES["kv_pairs"] = ORACLE_KV_PAIRS


# ---------------------------------------------------------------------------
# Template/anchor matching (SURVEY §2.8 B10) over canonical document lines
# ---------------------------------------------------------------------------

_ANCHORS = (
    "the fast key order sort table scan merge",
    "spark group query row data slow small filter",
    "join a filter window row join stream customer",
)
_ANCHOR_T = 0.4


def q_anchor_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.template_match import match_anchors
    from .sources.transcripts import canonical_lines

    d = _docs(spark, sf_dir).select(
        "doc_id",
        F.posexplode(canonical_lines(F.col("text"))).alias("line_idx", "line_text"),
    ).withColumn("line_no", (F.col("line_idx") + 1).cast("int"))
    return match_anchors(
        d, list(_ANCHORS), ["doc_id"], threshold=_ANCHOR_T
    ).select("doc_id", "anchor", "matched_line", "match_line_no", "score")


_ANCHOR_LIST_SQL = ", ".join(f"'{a}'" for a in _ANCHORS)

ORACLE_ANCHOR_MATCH = f"""
WITH t AS (SELECT doc_id, {_TOKENS_SQL.format(e='text')} w FROM documents),
l AS (
  SELECT doc_id,
         CAST(unnest(range(CAST(ceil(len(w) / 8.0) AS BIGINT))) + 1 AS INTEGER)
           line_no, w
  FROM t
),
lines AS (
  SELECT doc_id, line_no,
         array_to_string(w[(line_no-1)*8+1 : (line_no-1)*8+8], ' ') line_text
  FROM l
),
scored AS (
  -- byte-vs-codepoint levenshtein parity: both engines project non-ASCII
  -- to chr(26) first (extractors/templatematch.py _NON_ASCII_SENTINEL)
  SELECT doc_id, line_no, line_text, anchor,
         1.0 - CAST(levenshtein(
                 regexp_replace(line_text, '[^\\x00-\\x7F]', chr(26), 'g'),
                 regexp_replace(anchor, '[^\\x00-\\x7F]', chr(26), 'g'))
               AS DOUBLE)
               / greatest(len(line_text), len(anchor), 1) score
  FROM lines, (SELECT unnest([{_ANCHOR_LIST_SQL}]) anchor)
),
best AS (
  SELECT *, row_number() OVER (PARTITION BY doc_id, anchor
            ORDER BY score DESC, line_no ASC) rn
  FROM scored WHERE score >= {_ANCHOR_T}
)
SELECT doc_id, anchor, line_text AS matched_line, line_no AS match_line_no,
       (floor(score * 1000000.0 + 0.5) / 1000000.0) AS score
FROM best WHERE rn = 1
"""

EXT_QUERIES["anchor_match"] = q_anchor_match
EXT_ORACLES["anchor_match"] = ORACLE_ANCHOR_MATCH


# ---------------------------------------------------------------------------
# Temporal operators: as-of join + sessionization (oracled via DuckDB's
# native ASOF JOIN and window SQL)
# ---------------------------------------------------------------------------

def q_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Each event joined to the user's most recent prior 'signup'/'login'
    checkpoint (union+window as-of join — one shuffle)."""
    from .operators.temporal import asof_join

    ev = load_table(spark, sf_dir, "events")
    left = ev.select("event_id", "user_id", "ts", "event_type")
    right = (
        ev.filter(F.col("event_type").isin("signup", "login"))
        .select("user_id", F.col("ts").alias("cp_ts"),
                F.col("event_id").alias("cp_event_id"))
    )
    out = asof_join(
        left, right, on=["user_id"], left_ts="ts", right_ts="cp_ts",
        value_cols=["cp_event_id"], suffix="",
    )
    return out.select("event_id", "user_id", "event_type", "cp_event_id")


# the MAX(event_id) pre-aggregation pins the equal-timestamp tiebreak to
# the engine's greatest-value-tuple rule (DuckDB's native ASOF JOIN leaves
# duplicate right timestamps unspecified, same as an unpinned window)
ORACLE_ASOF_JOIN = """
SELECT l.event_id, l.user_id, l.event_type, r.event_id AS cp_event_id
FROM events l
ASOF LEFT JOIN (
  SELECT user_id, ts, MAX(event_id) AS event_id FROM events
  WHERE event_type IN ('signup', 'login')
  GROUP BY user_id, ts
) r ON l.user_id = r.user_id AND l.ts >= r.ts
"""


def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.temporal import session_stats, sessionize

    ev = load_table(spark, sf_dir, "events")
    s = sessionize(ev, ["user_id"], "ts", gap_minutes=30)
    return session_stats(s, ["user_id"], "ts")


ORACLE_SESSIONIZE = """
WITH g AS (
  SELECT user_id, ts,
         CASE WHEN lag(ts) OVER w IS NULL
                   OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
              THEN 1 ELSE 0 END new_s
  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)
),
s AS (
  SELECT user_id, ts,
         CAST(SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts
              ROWS UNBOUNDED PRECEDING) AS INTEGER) session_id
  FROM g
)
SELECT user_id, session_id, CAST(COUNT(*) AS BIGINT) n_events,
       CAST((epoch_us(MAX(ts)) - epoch_us(MIN(ts))) // 1000000 AS BIGINT)
         AS duration_sec
FROM s GROUP BY user_id, session_id
"""

def q_sessionize_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-safe two-phase session stats. Oracle is LITERALLY the plain
    sessionize SQL — the value-hash match is a bucketed == single-window
    equivalence certificate (same pattern as corpus_incremental)."""
    from .operators.temporal import session_stats_bucketed

    ev = load_table(spark, sf_dir, "events")
    # small bucket (1h) so sf0.01's event span crosses many bucket edges
    # and the session-merge phase is genuinely exercised
    return session_stats_bucketed(
        ev, ["user_id"], "ts", gap_minutes=30, bucket_minutes=60
    )


EXT_QUERIES["asof_join"] = q_asof_join
EXT_QUERIES["sessionize"] = q_sessionize
EXT_QUERIES["sessionize_bucketed"] = q_sessionize_bucketed
EXT_ORACLES["asof_join"] = ORACLE_ASOF_JOIN
EXT_ORACLES["sessionize"] = ORACLE_SESSIONIZE
EXT_ORACLES["sessionize_bucketed"] = ORACLE_SESSIONIZE


# ---------------------------------------------------------------------------
# LayoutLM-style box normalization (ner/utils.py:13-28) + composed
# extraction→quality pipeline
# ---------------------------------------------------------------------------

def q_normalized_boxes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word boxes normalized to the 0-1000 LayoutLM grid per turn
    (normalize_bbox, marie/executor/ner/utils.py:13-28: trunc(1000·v/dim));
    page dims = max extents of the turn's words."""
    from pyspark.sql.window import Window

    t = transcripts_from_docs(spark, sf_dir)
    e = extract_turns(t, with_structs=True).filter(
        F.col("payload_kind") == "layout"
    )
    w = e.select("conv_id", "turn_idx", F.explode("words").alias("w")).select(
        "conv_id", "turn_idx",
        F.col("w.id").cast("int").alias("word_id"),
        F.col("w.box")[0].alias("x0"), F.col("w.box")[1].alias("y0"),
        (F.col("w.box")[0] + F.col("w.box")[2]).alias("x1"),
        (F.col("w.box")[1] + F.col("w.box")[3]).alias("y1"),
    )
    wt = Window.partitionBy("conv_id", "turn_idx")
    w = w.withColumn("pw", F.max("x1").over(wt)).withColumn(
        "ph", F.max("y1").over(wt)
    )
    def norm(c, dim):
        return ((F.col(c).cast("long") * 1000) / F.col(dim)).cast("int")
    return w.select(
        "conv_id", "turn_idx", "word_id",
        norm("x0", "pw").alias("nx0"), norm("y0", "ph").alias("ny0"),
        norm("x1", "pw").alias("nx1"), norm("y1", "ph").alias("ny1"),
    )


ORACLE_NORMALIZED_BOXES = f"""
WITH base AS ({_LAYOUT_WORDS_SQL}),
dims AS (
  SELECT *, MAX(x1) OVER (PARTITION BY conv_id, turn_idx) pw,
            MAX(y1) OVER (PARTITION BY conv_id, turn_idx) ph
  FROM base
)
SELECT conv_id, turn_idx, word_id,
       CAST((CAST(x0 AS BIGINT) * 1000) // pw AS INTEGER) nx0,
       CAST((CAST(y0 AS BIGINT) * 1000) // ph AS INTEGER) ny0,
       CAST((CAST(x1 AS BIGINT) * 1000) // pw AS INTEGER) nx1,
       CAST((CAST(y1 AS BIGINT) * 1000) // ph AS INTEGER) ny1
FROM dims
"""


def q_turn_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Operator composition: extraction → quality scoring of the extracted
    text per turn (the training-data filter applied to pipeline output)."""
    from .operators.textstats import quality_score

    t = transcripts_from_docs(spark, sf_dir)
    e = extract_turns(t)
    return quality_score(
        e, text_col="extracted_text", id_cols=("conv_id", "turn_idx")
    )


from .oracle_common import _ORACLE_DERIVE as _ORACLE_DERIVE_REF  # noqa: E402

ORACLE_TURN_QUALITY = (
    _ORACLE_DERIVE_REF
    + f"""
, x AS (SELECT conv_id, turn_idx, extracted_text AS txt,
          CASE WHEN extracted_text = '' THEN ['']
               ELSE string_split(replace(extracted_text, chr(10), ' '), ' ')
          END w
        FROM g),
y AS (SELECT conv_id, turn_idx, len(w) n_toks,
        len(txt) - len(regexp_replace(txt, '[^A-Za-z0-9 ]', '', 'g')) punct,
        len(txt) n_chars,
        len(list_filter(w, t -> list_contains([{_ALL_STOP_SQL}], t))) n_stop
      FROM x),
r AS (SELECT conv_id, turn_idx, n_toks,
        (floor((CAST(punct AS DOUBLE) / greatest(n_chars, 1)) * 1000000.0 + 0.5) / 1000000.0) punct_ratio,
        (floor((CAST(n_stop AS DOUBLE) / greatest(n_toks, 1)) * 1000000.0 + 0.5) / 1000000.0) stop_ratio
      FROM y)
SELECT conv_id, turn_idx, CAST(n_toks AS BIGINT) n_tokens, punct_ratio,
       stop_ratio,
       (floor((0.4 * least(1.0, n_toks / 64.0)
               + 0.3 * (1.0 - least(1.0, punct_ratio * 4))
               + 0.3 * least(1.0, stop_ratio * 4)) * 10000.0 + 0.5) / 10000.0)
         AS quality
FROM r
"""
)

EXT_QUERIES["normalized_boxes"] = q_normalized_boxes
EXT_QUERIES["turn_quality"] = q_turn_quality
EXT_ORACLES["normalized_boxes"] = ORACLE_NORMALIZED_BOXES
EXT_ORACLES["turn_quality"] = ORACLE_TURN_QUALITY


# ---------------------------------------------------------------------------
# Dedup grouping: connected components of near-dup pairs (iterative label
# propagation in Spark; recursive-CTE transitive closure as the oracle)
# ---------------------------------------------------------------------------

def q_dedup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.components import dedup_groups

    pairs = jaccard_pairs(_corpus(spark, sf_dir), _JACCARD_T)
    return dedup_groups(pairs)


ORACLE_DEDUP_GROUPS = f"""
WITH {_CORPUS_SQL},
tw AS (SELECT doc_id, {_TOKENS_SQL.format(e='text')} w FROM corpus),
ss AS (SELECT doc_id did, {_SH_SQL} sh FROM tw),
inv0 AS (SELECT did, unnest(sh) s FROM ss),
keep AS (SELECT s FROM inv0 GROUP BY s HAVING COUNT(*) <= {MAX_SHINGLE_DF}),
inv AS (SELECT did, s FROM inv0 JOIN keep USING (s)),
sz AS (SELECT did, COUNT(*) sz FROM inv GROUP BY did),
i AS (SELECT x.did a, y.did b, COUNT(*) i FROM inv x JOIN inv y USING (s)
      WHERE x.did < y.did GROUP BY 1, 2),
pairs AS (
  SELECT a, b FROM i JOIN sz za ON i.a = za.did JOIN sz zb ON i.b = zb.did
  WHERE CAST(i AS DOUBLE) / (za.sz + zb.sz - i) >= {_JACCARD_T}
),
sym AS (SELECT a u, b v FROM pairs UNION SELECT b, a FROM pairs),
rec AS (
  WITH RECURSIVE reach(u, v) AS (
    SELECT u, v FROM sym
    UNION
    SELECT r.u, s.v FROM reach r JOIN sym s ON r.v = s.u
  )
  SELECT u, v FROM reach
)
SELECT u AS doc_id, LEAST(u, MIN(v)) AS keep_id FROM rec GROUP BY u
"""

EXT_QUERIES["dedup_groups"] = q_dedup_groups
EXT_ORACLES["dedup_groups"] = ORACLE_DEDUP_GROUPS


# ---------------------------------------------------------------------------
# Remaining MajorityVoter tie policies (best / best_with_diff) as oracles
# ---------------------------------------------------------------------------

def q_vote_class_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events_scored(spark, sf_dir)
    return class_majority_vote(
        ev, ["user_id"], "event_type", "conf", tie_break="best"
    )


ORACLE_VOTE_CLASS_BEST = f"""
WITH ev AS ({_EVENTS_SCORED_SQL}),
c AS (SELECT user_id, event_type, COUNT(*) votes,
             (floor((AVG(conf)) * 10000.0 + 0.5) / 10000.0) avg_score,
             MAX(conf) max_score
      FROM ev GROUP BY 1, 2),
s AS (SELECT *, MAX(votes) OVER (PARTITION BY user_id) mx,
             SUM(votes) OVER (PARTITION BY user_id) n_cand
      FROM c),
t AS (SELECT user_id, COUNT(*) tied FROM s WHERE votes = mx GROUP BY 1),
w AS (SELECT s.*, t.tied, row_number() OVER (PARTITION BY s.user_id
        ORDER BY s.max_score DESC, s.event_type ASC) rn
      FROM s JOIN t USING (user_id) WHERE s.votes = s.mx)
SELECT user_id, event_type AS classification,
       (floor((CASE WHEN tied > 1 THEN max_score ELSE avg_score END)
              * 10000.0 + 0.5) / 10000.0) AS vote_score,
       CAST(n_cand AS BIGINT) AS n_candidates
FROM w WHERE rn = 1
"""


def q_vote_class_best_with_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events_scored(spark, sf_dir)
    return class_majority_vote(
        ev, ["user_id"], "event_type", "conf",
        tie_break="best_with_diff", max_diff=50.0,
    )


ORACLE_VOTE_CLASS_BEST_WITH_DIFF = f"""
WITH ev AS ({_EVENTS_SCORED_SQL}),
c AS (SELECT user_id, event_type, COUNT(*) votes,
             (floor((AVG(conf)) * 10000.0 + 0.5) / 10000.0) avg_score,
             MAX(conf) max_score,
             list_extract(list(conf ORDER BY conf DESC), 2) s2c
      FROM ev GROUP BY 1, 2),
s AS (SELECT *, MAX(votes) OVER (PARTITION BY user_id) mx,
             SUM(votes) OVER (PARTITION BY user_id) n_cand
      FROM c),
t AS (SELECT user_id, COUNT(*) tied FROM s WHERE votes = mx GROUP BY 1),
w AS (SELECT s.*, t.tied,
        row_number() OVER (PARTITION BY s.user_id
          ORDER BY s.max_score DESC, s.event_type ASC) rn,
        lead(s.max_score) OVER (PARTITION BY s.user_id
          ORDER BY s.max_score DESC, s.event_type ASC) second_score
      FROM s JOIN t USING (user_id) WHERE s.votes = s.mx),
f AS (SELECT *, abs(max_score - CASE WHEN s2c IS NULL THEN second_score
                                     ELSE greatest(s2c, second_score) END)
             < 50.0 AS close
      FROM w WHERE rn = 1)
SELECT user_id,
       CASE WHEN tied <= 1 OR close THEN event_type ELSE NULL END
         AS classification,
       (floor((CASE WHEN tied > 1
                    THEN CASE WHEN close THEN max_score ELSE 0.0 END
                    ELSE avg_score END) * 10000.0 + 0.5) / 10000.0)
         AS vote_score,
       CAST(n_cand AS BIGINT) AS n_candidates
FROM f
"""

EXT_QUERIES["vote_class_best"] = q_vote_class_best
EXT_QUERIES["vote_class_best_with_diff"] = q_vote_class_best_with_diff
EXT_ORACLES["vote_class_best"] = ORACLE_VOTE_CLASS_BEST
EXT_ORACLES["vote_class_best_with_diff"] = ORACLE_VOTE_CLASS_BEST_WITH_DIFF


# ---------------------------------------------------------------------------
# LSH index parity: the ANN bucket assignment is exact integer math, so the
# whole index (4 tables × 8 hyperplanes over quantized vectors) is oracled.
# ---------------------------------------------------------------------------

def q_lsh_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.similarity import LSH_TABLES, lsh_bucket

    emb = load_table(spark, sf_dir, "embeddings")
    idx = lsh_bucket(emb)
    return idx.select(
        "vec_id",
        *[F.col("buckets")[t].alias(f"b{t}") for t in range(LSH_TABLES)],
    )


def _lsh_bucket_oracle_sql() -> str:
    from .operators.similarity import HYPERPLANES, LSH_TABLES

    cols = []
    for t in range(LSH_TABLES):
        bits = []
        for i, plane in enumerate(HYPERPLANES[t]):
            lit = "[" + ",".join(str(c) for c in plane) + "]"
            dot = (
                f"list_dot_product(q, {lit})"
            )
            bits.append(f"(CASE WHEN {dot} >= 0 THEN CAST({1 << i} AS BIGINT) ELSE 0 END)")
        cols.append("(" + " + ".join(bits) + f") AS b{t}")
    col_sql = ",\n       ".join(cols)
    return f"""
WITH q AS (SELECT vec_id, {_Q_SQL} q FROM embeddings)
SELECT vec_id,
       {col_sql}
FROM q
"""


ORACLE_LSH_BUCKETS = _lsh_bucket_oracle_sql()

EXT_QUERIES["lsh_buckets"] = q_lsh_buckets
EXT_ORACLES["lsh_buckets"] = ORACLE_LSH_BUCKETS


# ---------------------------------------------------------------------------
# Batch ANN probe: a batch of query vectors equi-joined against the exploded
# (tbl, bucket) LSH index with Hamming-1 multiprobe — the round-2 replacement
# for the scan-and-filter single-query probe. Every step is deterministic
# integer math, so the full probe → candidate → re-rank path is oracled.
# ---------------------------------------------------------------------------

_ANN_BATCH_K = 10
_ANN_BATCH_NQ = 3


def q_ann_batch_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.similarity import ann_batch_topk

    emb = load_table(spark, sf_dir, "embeddings")
    qs = emb.orderBy("vec_id").limit(_ANN_BATCH_NQ)
    return ann_batch_topk(emb, qs, k=_ANN_BATCH_K)


def _ann_batch_oracle_sql() -> str:
    from .operators.similarity import LSH_PLANES

    probe_list = ", ".join(
        ["pe.bucket"] + [f"xor(pe.bucket, {1 << i})" for i in range(LSH_PLANES)]
    )
    cos = (
        "(floor((list_dot_product(na.q, nb.q)"
        " / (sqrt(na.nrm) * sqrt(nb.nrm))) * 1000000.0 + 0.5) / 1000000.0)"
    )
    return f"""
WITH q AS (SELECT vec_id, {_Q_SQL} q FROM embeddings),
n AS (SELECT vec_id, q, list_dot_product(q, q) nrm FROM q),
{_lsh_index_sql()},
qs AS (SELECT vec_id FROM embeddings ORDER BY vec_id LIMIT {_ANN_BATCH_NQ}),
probes AS (SELECT pe.vec_id query_id, pe.tbl,
                  unnest([{probe_list}]) bucket
           FROM pe JOIN qs ON pe.vec_id = qs.vec_id),
pairs AS (SELECT DISTINCT p.query_id, i.vec_id
          FROM probes p JOIN pe i ON p.tbl = i.tbl AND p.bucket = i.bucket
          WHERE i.vec_id != p.query_id),
scored AS (SELECT pairs.query_id, pairs.vec_id, {cos} cosine
           FROM pairs JOIN n na ON pairs.query_id = na.vec_id
                      JOIN n nb ON pairs.vec_id = nb.vec_id),
r AS (SELECT *, row_number() OVER (PARTITION BY query_id
        ORDER BY cosine DESC, vec_id ASC) rk FROM scored)
SELECT query_id, vec_id, cosine, CAST(rk AS INTEGER) AS "rank"
FROM r WHERE rk <= {_ANN_BATCH_K}
"""


ORACLE_ANN_BATCH_TOPK = _ann_batch_oracle_sql()

EXT_QUERIES["ann_batch_topk"] = q_ann_batch_topk
EXT_ORACLES["ann_batch_topk"] = ORACLE_ANN_BATCH_TOPK


# ---------------------------------------------------------------------------
# Cross-turn quoted-context dedup (repeated quoted context, FIXTURES.md §2)
# ---------------------------------------------------------------------------

def q_context_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.assembly import dedup_quoted_context

    t = transcripts_from_docs(spark, sf_dir)
    out = dedup_quoted_context(extract_turns(t))
    return out.select("conv_id", "turn_idx", "deduped_text", "dropped_lines")


ORACLE_CONTEXT_DEDUP = (
    _ORACLE_DERIVE_REF
    + """
, l AS (
  SELECT conv_id, turn_idx, extracted_text,
         string_split(extracted_text, chr(10)) lines,
         lag(string_split(extracted_text, chr(10))) OVER (
           PARTITION BY conv_id ORDER BY turn_idx) prev
  FROM g
),
k AS (
  SELECT conv_id, turn_idx, extracted_text, lines,
         CASE WHEN prev IS NULL OR extracted_text = '' THEN lines
              ELSE list_filter(lines, x -> NOT list_contains(prev, x))
         END kept
  FROM l
)
SELECT conv_id, turn_idx,
       CASE WHEN extracted_text = '' THEN ''
            ELSE array_to_string(kept, chr(10)) END AS deduped_text,
       CAST(len(lines) - len(kept) AS INTEGER) AS dropped_lines
FROM k
"""
)

EXT_QUERIES["context_dedup"] = q_context_dedup
EXT_ORACLES["context_dedup"] = ORACLE_CONTEXT_DEDUP


# ---------------------------------------------------------------------------
# Adlib XML sink (SURVEY §2.1 S11): per-line OCR XML with DPI-normalized
# 2-decimal coordinates (300dpi px → points = px·72/300 = px·0.24), rendered
# with exact fixed-point string math (no printf rounding semantics).
# ---------------------------------------------------------------------------

def _fixed2(col):
    """px·0.24 formatted with exactly 2 decimals: cents = floor(px·24+0.5)."""
    cents = F.floor(col.cast("long") * 24 + 0.5).cast("long")
    return F.concat(
        (cents / 100).cast("long").cast("string"),
        F.lit("."),
        F.lpad((cents % 100).cast("string"), 2, "0"),
    )


def q_adlib_xml(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = transcripts_from_docs(spark, sf_dir)
    e = extract_turns(t, with_structs=True).filter(
        F.col("payload_kind") == "layout"
    )
    ln = e.select("conv_id", "turn_idx", F.explode("lines").alias("l"))
    line_xml = F.concat(
        F.lit('<Line l="'), _fixed2(F.col("l.bbox")[0]),
        F.lit('" t="'), _fixed2(F.col("l.bbox")[1]),
        F.lit('" r="'), _fixed2(F.col("l.bbox")[0] + F.col("l.bbox")[2]),
        F.lit('" b="'), _fixed2(F.col("l.bbox")[1] + F.col("l.bbox")[3]),
        F.lit('">'), F.col("l.text"), F.lit("</Line>"),
    )
    return (
        ln.groupBy("conv_id", "turn_idx")
        .agg(
            F.concat(
                F.lit("<Page>"),
                F.array_join(
                    F.transform(
                        F.array_sort(
                            F.collect_list(F.struct(F.col("l.line"), line_xml.alias("x")))
                        ),
                        lambda s: s["x"],
                    ),
                    "",
                ),
                F.lit("</Page>"),
            ).alias("adlib_xml")
        )
    )


_FIXED2_SQL = (
    "(CAST(CAST(floor(CAST({e} AS BIGINT) * 24 + 0.5) AS BIGINT) // 100 AS VARCHAR)"
    " || '.' || lpad(CAST(CAST(floor(CAST({e} AS BIGINT) * 24 + 0.5) AS BIGINT) % 100 AS VARCHAR), 2, '0'))"
)

ORACLE_ADLIB_XML = f"""
WITH d AS (
  SELECT doc_id,
         'conv-' || lpad(CAST(doc_id % {CONV_MOD} AS VARCHAR), 6, '0') conv_id,
         CAST(doc_id // {CONV_MOD} AS INTEGER) turn_idx,
         {_TOKENS_SQL.format(e='text')} w
  FROM documents WHERE doc_id % 100 >= 40 AND doc_id % 100 < 65
),
lines AS (
  SELECT conv_id, turn_idx,
         unnest(range(CAST(ceil(len(w) / 8.0) AS BIGINT))) ln, w
  FROM d
),
geo AS (
  SELECT conv_id, turn_idx, ln,
         array_to_string(w[ln*8+1 : ln*8+8], ' ') line_text,
         0 x0, ln * 20 y0,
         9 * len(array_to_string(w[ln*8+1 : ln*8+8], ' ')) x1,
         ln * 20 + 16 y1
  FROM lines
)
SELECT conv_id, turn_idx,
       '<Page>' || string_agg(
         '<Line l="' || {_FIXED2_SQL.format(e='x0')}
         || '" t="' || {_FIXED2_SQL.format(e='y0')}
         || '" r="' || {_FIXED2_SQL.format(e='x1')}
         || '" b="' || {_FIXED2_SQL.format(e='y1')}
         || '">' || line_text || '</Line>', '' ORDER BY ln)
       || '</Page>' AS adlib_xml
FROM geo GROUP BY conv_id, turn_idx
"""

EXT_QUERIES["adlib_xml"] = q_adlib_xml
EXT_ORACLES["adlib_xml"] = ORACLE_ADLIB_XML


# ---------------------------------------------------------------------------
# PSM modes (B6, marie/boxes/box_processor.py:129-162): the same layout
# payload extracted under every page-segmentation mode, oracled line by line.
# The DuckDB twin replays the payload's word grid (x, line, md5-scramble key)
# and each mode's assembly rule: sparse/multiline cluster per line band,
# word/line collapse to one x-sorted line, raw_line keeps input order.
# ---------------------------------------------------------------------------

_LAYOUT_GRID_CTES = f"""
d AS (
  SELECT doc_id,
         'conv-' || lpad(CAST(doc_id % {CONV_MOD} AS VARCHAR), 6, '0') conv_id,
         CAST(doc_id // {CONV_MOD} AS INTEGER) turn_idx,
         {_TOKENS_SQL.format(e='text')} w
  FROM documents WHERE doc_id % 100 >= 40 AND doc_id % 100 < 65
),
lines AS (
  SELECT doc_id, conv_id, turn_idx,
         unnest(range(CAST(ceil(len(w) / 8.0) AS BIGINT))) ln, w
  FROM d
),
lw AS (
  SELECT doc_id, conv_id, turn_idx, ln,
         list_transform(range(len(lws)), j -> {{'t': lws[j+1], 'j': j}}) pairs
  FROM (SELECT *, w[ln*8+1 : ln*8+8] lws FROM lines)
),
words AS (
  SELECT doc_id, conv_id, turn_idx, ln, unnest(pairs) p FROM lw
),
pos AS (
  SELECT doc_id, conv_id, turn_idx, ln, p.t wt, p.j j,
         9 * (COALESCE(SUM(len(p.t) + 1) OVER (PARTITION BY doc_id, ln
              ORDER BY p.j ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
              0)) x
  FROM words
),
gi AS (
  SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY ln, j) - 1 g
  FROM pos
),
keyed AS (
  SELECT *, md5(CAST(doc_id AS VARCHAR) || ':' || CAST(g AS VARCHAR)) k
  FROM gi
)"""


def _is_layout_turn():
    """JVM-side pre-filter: reconstruct doc_id from (conv_id, turn_idx) and
    test the payload-kind bucket — prunes 75% of turns before the 5-mode
    extraction fan-out (replicate=1 derivation only)."""
    doc_id = (
        F.col("turn_idx").cast("long") * CONV_MOD
        + F.substring("conv_id", 6, 6).cast("long")
    )
    return (doc_id % 100 >= 40) & (doc_id % 100 < 65)


def q_layout_psm_modes(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .extractors.layout import PSM_MODES

    t = transcripts_from_docs(spark, sf_dir).filter(_is_layout_turn())
    parts = []
    for m in PSM_MODES:
        e = extract_turns(t, with_structs=True, mode=m).filter(
            F.col("payload_kind") == "layout"
        )
        parts.append(
            e.select(
                "conv_id",
                "turn_idx",
                F.lit(m).alias("mode"),
                F.col("extracted_text").alias("psm_text"),
                F.size("lines").cast("int").alias("n_lines"),
            )
        )
    from functools import reduce

    return reduce(lambda a, b: a.unionByName(b), parts)


ORACLE_LAYOUT_PSM_MODES = f"""
WITH {_LAYOUT_GRID_CTES},
line_txt AS (SELECT doc_id, conv_id, turn_idx, ln,
               string_agg(wt, ' ' ORDER BY x, k) lt
             FROM keyed GROUP BY 1, 2, 3, 4),
banded AS (SELECT conv_id, turn_idx,
             string_agg(lt, chr(10) ORDER BY ln) ptext,
             CAST(COUNT(*) AS INTEGER) nl
           FROM line_txt GROUP BY 1, 2),
oneline AS (SELECT conv_id, turn_idx,
              string_agg(wt, ' ' ORDER BY x, k) ptext
            FROM keyed GROUP BY 1, 2),
rawline AS (SELECT conv_id, turn_idx,
              string_agg(wt, ' ' ORDER BY k) ptext
            FROM keyed GROUP BY 1, 2)
SELECT conv_id, turn_idx, 'sparse' AS mode, ptext AS psm_text, nl AS n_lines
FROM banded
UNION ALL
SELECT conv_id, turn_idx, 'multiline', ptext, nl FROM banded
UNION ALL
SELECT conv_id, turn_idx, 'word', ptext, CAST(1 AS INTEGER) FROM oneline
UNION ALL
SELECT conv_id, turn_idx, 'line', ptext, CAST(1 AS INTEGER) FROM oneline
UNION ALL
SELECT conv_id, turn_idx, 'raw_line', ptext, CAST(1 AS INTEGER) FROM rawline
"""

EXT_QUERIES["layout_psm_modes"] = q_layout_psm_modes
EXT_ORACLES["layout_psm_modes"] = ORACLE_LAYOUT_PSM_MODES


# ---------------------------------------------------------------------------
# Char-grid renderer (W8, marie/renderer/text_renderer.py:44-143): the real
# Python renderer runs per turn over the layout structs; the oracle replays
# column binning (np.linspace bins embedded as literals — constants, like the
# LSH hyperplanes), sequential string insertion in word_index order, and
# baseline cell-row gaps.
# ---------------------------------------------------------------------------

_GRID_PAGE_W = 1024


def _grid_bins() -> list[int]:
    import numpy as np
    from math import ceil

    from .extractors.grid_render import CHAR_WIDTH

    cols = ceil(_GRID_PAGE_W // CHAR_WIDTH)
    return np.linspace(0, _GRID_PAGE_W, max(cols, 1)).astype(np.int32).tolist()


def _grid_pages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grid-rendered layout pages + total word-box width per page (the
    ``total_width`` input of the reference char-width estimator,
    box_processor.py:103-110)."""
    import pandas as pd

    from .extractors.grid_render import render_grid_text

    t = transcripts_from_docs(spark, sf_dir).filter(_is_layout_turn())
    e = extract_turns(t, with_structs=True).filter(
        F.col("payload_kind") == "layout"
    )

    def render(batches):
        for pdf in batches:
            texts, widths = [], []
            for words, lines in zip(pdf["words"], pdf["lines"]):
                ws = [
                    {
                        "id": w["id"], "text": w["text"],
                        "box": list(w["box"]), "word_index": w["word_index"],
                    }
                    for w in words
                ]
                ls = [
                    {"bbox": list(l["bbox"]), "wordids": list(l["wordids"])}
                    for l in lines
                ]
                texts.append(render_grid_text(ws, ls, _GRID_PAGE_W))
                widths.append(sum(w["box"][2] for w in ws))
            yield pd.DataFrame(
                {
                    "conv_id": pdf["conv_id"],
                    "turn_idx": pdf["turn_idx"],
                    "grid_text": texts,
                    "total_box_w": widths,
                }
            )

    return e.select("conv_id", "turn_idx", "words", "lines").mapInPandas(
        render,
        "conv_id string, turn_idx int, grid_text string, total_box_w long",
    )


def q_grid_render(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _grid_pages(spark, sf_dir).select(
        "conv_id", "turn_idx", "grid_text"
    )


def _grid_render_oracle_sql() -> str:
    bins = "[" + ",".join(str(b) for b in _grid_bins()) + "]"
    cols = len(_grid_bins())
    return f"""
WITH {_LAYOUT_GRID_CTES},
wc AS (SELECT doc_id, conv_id, turn_idx, ln, g,
         len(list_filter({bins}, b -> b < least(greatest(x, 0), {_GRID_PAGE_W - 1}))) col,
         wt
       FROM keyed),
wl AS (SELECT doc_id, conv_id, turn_idx, ln,
         list(lpad(CAST(col AS VARCHAR), 6, '0') || wt ORDER BY g) items
       FROM wc GROUP BY 1, 2, 3, 4),
buf AS (SELECT *, rtrim(list_reduce(
          list_prepend(repeat(' ', {cols}), items),
          (a, s) -> substr(a, 1, CAST(substr(s, 1, 6) AS INTEGER)) ||
                    substr(s, 7) ||
                    substr(a, CAST(substr(s, 1, 6) AS INTEGER) + 1))) line_buf
       FROM wl),
g2 AS (SELECT *, (ln * 20 + 16) // 16 cell_y,
         lag((ln * 20 + 16) // 16, 1, CAST(1 AS BIGINT))
           OVER (PARTITION BY doc_id ORDER BY ln) prev_y
       FROM buf),
pieces AS (SELECT *, repeat(chr(10), CAST(greatest(cell_y - prev_y - 1, 0) AS INTEGER))
             || line_buf piece
           FROM g2)
SELECT conv_id, turn_idx, string_agg(piece, chr(10) ORDER BY ln) AS grid_text
FROM pieces GROUP BY conv_id, turn_idx
"""


ORACLE_GRID_RENDER = _grid_render_oracle_sql()

EXT_QUERIES["grid_render"] = q_grid_render
EXT_ORACLES["grid_render"] = ORACLE_GRID_RENDER


# ---------------------------------------------------------------------------
# Resume-protocol invariant (S4/Q4-Q7, plans/manifest.py + the _lineage
# audit log of plans/lineage.py): run the checkpoint job with an injected
# mid-run kill, resume it, then check that (a) every committed bucket's
# partition_hash recomputed from the COMMITTED results equals its lineage
# audit row, and (b) the total turn/span counts equal the source
# derivation — the part DuckDB can replay exactly.
# ---------------------------------------------------------------------------

def q_lineage_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile

    from .plans import lineage as L
    from .plans import manifest as M

    t = transcripts_from_docs(spark, sf_dir)
    out = tempfile.mkdtemp(prefix="lineage_oracle_")
    try:
        try:
            M.run_extraction_job_atomic(
                spark, t, out, n_buckets=8, buckets_per_commit=2,
                fail_after_commits=1,
            )
        except L.SimulatedFailure:
            pass
        M.run_extraction_job_atomic(
            spark, t, out, n_buckets=8, buckets_per_commit=2
        )

        lin = (
            L.read_lineage(spark, out)
            .filter(F.col("status") == L.STATUS_COMPLETED)
            .select("bucket", "partition_hash", "turn_count", "span_count")
            .dropDuplicates(["bucket"])
        )
        # a zero-count lineage row for a bucket that is legitimately empty
        # on disk verifies as correct; any other unmatched bucket fails
        turns, spans, ok = M.verify(
            spark, out, {str(r["bucket"]): r.asDict() for r in lin.collect()}
        )
        return spark.createDataFrame(
            [(turns, spans, ok)],
            "total_turns long, total_spans long, all_buckets_verified boolean",
        )
    finally:
        shutil.rmtree(out, ignore_errors=True)


ORACLE_LINEAGE_ROUNDTRIP = (
    _ORACLE_DERIVE_REF
    + """
SELECT CAST(COUNT(*) AS BIGINT) AS total_turns,
       CAST(SUM(span_count) AS BIGINT) AS total_spans,
       TRUE AS all_buckets_verified
FROM g
"""
)

EXT_QUERIES["lineage_roundtrip"] = q_lineage_roundtrip
EXT_ORACLES["lineage_roundtrip"] = ORACLE_LINEAGE_ROUNDTRIP


# ---------------------------------------------------------------------------
# Model-inference stage (N1/N3) + sub-classifier routing (J6): the
# deterministic stub model's integer arithmetic replays exactly in SQL, so
# the full batch-UDF inference path — tokenize → hashed vocab bucket →
# per-label weight dot → argmax + normalized score — is oracle-gated.
# ---------------------------------------------------------------------------

_CLS_LABELS = ("invoice", "letter", "report")
_SUB_REGISTRY_SQLSPEC = (
    ("sub_invoice", "invoice", ("paid", "unpaid")),
    ("sub_report", "report", ("annual", "quarterly")),
)


def _stub_argmax_sql(labels, docs_rel: str) -> str:
    """Argmax-per-doc SELECT replaying StubLinearClassifier over a relation
    with (doc_id, text)."""
    from .operators.inference import VOCAB_BUCKETS, WEIGHT_MOD

    h31tk = portable_hash31_sql("tk")
    h31w = portable_hash31_sql("l || ':' || CAST(b AS VARCHAR)")
    toks = _TOKENS_SQL.format(e="text")
    labs = ", ".join(f"'{l}'" for l in labels)
    return f"""(
  SELECT doc_id, l AS "label",
         (floor(raw / tot * 1000000.0 + 0.5) / 1000000.0) AS score,
         CAST(raw AS BIGINT) AS raw_best, CAST(tot AS BIGINT) AS raw_total
  FROM (SELECT doc_id, l, raw, SUM(raw) OVER (PARTITION BY doc_id) tot,
               row_number() OVER (PARTITION BY doc_id
                 ORDER BY raw DESC, l ASC) rn
        FROM (SELECT tb.doc_id, wt.l, SUM(wt.w) raw
              FROM (SELECT t.doc_id, db.b
                    FROM (SELECT doc_id, unnest({toks}) tk FROM {docs_rel}) t
                    JOIN (SELECT tk, ({h31tk}) % {VOCAB_BUCKETS} b
                          FROM (SELECT DISTINCT tk FROM
                                (SELECT doc_id, unnest({toks}) tk
                                 FROM {docs_rel}))) db
                      USING (tk)) tb
              JOIN (SELECT l, b, ({h31w}) % {WEIGHT_MOD} w
                    FROM (SELECT unnest([{labs}]) l)
                    CROSS JOIN (SELECT unnest(range({VOCAB_BUCKETS})) b)) wt
                USING (b)
              GROUP BY 1, 2))
  WHERE rn = 1
)"""


def q_classify_stub(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.inference import TextClassifierStage

    stage = TextClassifierStage(list(_CLS_LABELS))
    return stage.transform(_docs(spark, sf_dir))


ORACLE_CLASSIFY_STUB = (
    "SELECT * FROM " + _stub_argmax_sql(_CLS_LABELS, "documents")
)


def q_classify_routed(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.inference import TextClassifierStage, route_subclassifiers

    docs = _docs(spark, sf_dir)
    primary = TextClassifierStage(list(_CLS_LABELS)).transform(docs)
    registry = {
        name: {
            "filter": {"type": "exact", "pattern": pat},
            "stage": TextClassifierStage(list(sub_labels)),
        }
        for name, pat, sub_labels in _SUB_REGISTRY_SQLSPEC
    }
    return route_subclassifiers(primary, docs, registry)


def _classify_routed_oracle_sql() -> str:
    prim = _stub_argmax_sql(_CLS_LABELS, "documents")
    parts = []
    for name, pat, sub_labels in _SUB_REGISTRY_SQLSPEC:
        sub = _stub_argmax_sql(sub_labels, f"r_{name}")
        parts.append(
            f"""r_{name} AS (
  SELECT d.doc_id, d.text, p.label primary_label
  FROM documents d JOIN prim p USING (doc_id) WHERE p."label" = '{pat}'),
s_{name} AS (SELECT * FROM {sub})"""
        )
    selects = "\nUNION ALL\n".join(
        f"""SELECT r.doc_id, r.primary_label, '{name}' AS classifier,
       s."label" AS sub_label, s.score AS sub_score
FROM r_{name} r JOIN s_{name} s USING (doc_id)"""
        for name, _, _ in _SUB_REGISTRY_SQLSPEC
    )
    return f"WITH prim AS (SELECT * FROM {prim}),\n" + ",\n".join(parts) + "\n" + selects


ORACLE_CLASSIFY_ROUTED = _classify_routed_oracle_sql()

EXT_QUERIES["classify_stub"] = q_classify_stub
EXT_QUERIES["classify_routed"] = q_classify_routed
EXT_ORACLES["classify_stub"] = ORACLE_CLASSIFY_STUB
EXT_ORACLES["classify_routed"] = ORACLE_CLASSIFY_ROUTED


# ---------------------------------------------------------------------------
# Real-weights inference path (N3): the SAME TextClassifierStage, but
# predict_fn is NumpyLinearClassifier loading the checked-in weight file and
# scoring with a vectorized int64 matmul. The oracle inlines the fixture's
# weights/bias as VALUES rows, so a hash match certifies that the file's
# numbers — not any pinned formula — drove every score.
# ---------------------------------------------------------------------------

def q_classify_numpy(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.inference import (
        NumpyLinearClassifier,
        TextClassifierStage,
        default_weights_path,
    )

    clf = NumpyLinearClassifier(default_weights_path())
    stage = TextClassifierStage(clf.labels, predict_fn=clf)
    return stage.transform(_docs(spark, sf_dir))


def _numpy_classifier_oracle_sql() -> str:
    import json

    from .operators.inference import VOCAB_BUCKETS, default_weights_path

    with open(default_weights_path()) as f:
        spec = json.load(f)
    labels = sorted(spec["labels"])
    wvals = ", ".join(
        f"('{lab}', {b}, {w})"
        for lab in labels
        for b, w in enumerate(spec["weights"][lab])
    )
    bvals = ", ".join(f"('{lab}', {spec['bias'][lab]})" for lab in labels)
    h31tk = portable_hash31_sql("tk")
    toks = _TOKENS_SQL.format(e="text")
    return f"""
WITH wt AS (SELECT * FROM (VALUES {wvals}) AS t(l, b, w)),
bs AS (SELECT * FROM (VALUES {bvals}) AS t(l, bv)),
tb AS (SELECT t.doc_id, db.b
       FROM (SELECT doc_id, unnest({toks}) tk FROM documents) t
       JOIN (SELECT tk, ({h31tk}) % {VOCAB_BUCKETS} b
             FROM (SELECT DISTINCT tk FROM
                   (SELECT doc_id, unnest({toks}) tk FROM documents))) db
         USING (tk)),
raws AS (SELECT s.doc_id, s.l, s.sw + bs.bv AS raw
         FROM (SELECT tb.doc_id, wt.l, SUM(wt.w) sw
               FROM tb JOIN wt USING (b) GROUP BY 1, 2) s
         JOIN bs ON s.l = bs.l),
rk AS (SELECT doc_id, l, raw, SUM(raw) OVER (PARTITION BY doc_id) tot,
              row_number() OVER (PARTITION BY doc_id
                ORDER BY raw DESC, l ASC) rn
       FROM raws)
SELECT doc_id, l AS "label",
       (floor(raw / tot * 1000000.0 + 0.5) / 1000000.0) AS score,
       CAST(raw AS BIGINT) AS raw_best, CAST(tot AS BIGINT) AS raw_total
FROM rk WHERE rn = 1
"""


ORACLE_CLASSIFY_NUMPY = _numpy_classifier_oracle_sql()

EXT_QUERIES["classify_numpy"] = q_classify_numpy
EXT_ORACLES["classify_numpy"] = ORACLE_CLASSIFY_NUMPY


# ---------------------------------------------------------------------------
# Composite entities (N8): multi-line labeled tokens → entity spans →
# line-gap grouping, fully replayed in SQL.
# ---------------------------------------------------------------------------

_COMPOSITE_CFG = [{"name": "contact", "entities": ["name", "addr"]}]
_COMPOSITE_MAX_LINE_DIFF = 1


def _labeled_tokens_ml(spark, sf_dir):
    """Three-line labeled token grid: first 24 tokens, 8 per line; labels
    'name' at j∈{0,2} (line 1), 'addr' at j=16 (line 3), else 'O' — spans on
    lines 1 and 3 so the max_line_diff=1 gap splits composites."""
    from pyspark.sql.window import Window

    d = _docs(spark, sf_dir)
    toks = d.select(
        "doc_id",
        F.posexplode(F.slice(ws_tokens(F.col("text")), 1, 24)).alias("j", "tok"),
    ).withColumn("line_no", (F.floor(F.col("j") / 8) + 1).cast("int"))
    w = (
        Window.partitionBy("doc_id", "line_no")
        .orderBy("j")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return toks.select(
        "doc_id",
        "line_no",
        F.col("j").cast("int").alias("token_idx"),
        F.when(F.col("j").isin(0, 2), "name")
        .when(F.col("j") == 16, "addr")
        .otherwise("O")
        .alias("label"),
        F.col("tok").alias("text"),
        (9 * F.coalesce(F.sum(F.length("tok") + 1).over(w), F.lit(0)))
        .cast("int")
        .alias("x"),
        (20 * (F.col("line_no") - 1)).cast("int").alias("y"),
        (9 * F.length("tok")).cast("int").alias("w"),
        F.lit(16).alias("h"),
        ((F.col("j") + 1) / 10.0).alias("score"),
    )


_LABELED_TOKENS_ML_SQL = f"""
  SELECT doc_id, CAST(p.j // 8 + 1 AS INTEGER) line_no,
         CAST(p.j AS INTEGER) token_idx,
         CASE WHEN p.j IN (0, 2) THEN 'name'
              WHEN p.j = 16 THEN 'addr' ELSE 'O' END "label",
         p.t AS text,
         CAST(9 * COALESCE(SUM(len(p.t) + 1) OVER (PARTITION BY doc_id, p.j // 8
              ORDER BY p.j ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
              0) AS INTEGER) x,
         CAST(20 * (p.j // 8) AS INTEGER) y,
         CAST(9 * len(p.t) AS INTEGER) w, 16 h,
         (p.j + 1) / 10.0 score
  FROM (
    SELECT doc_id,
           unnest(list_transform(range(len(w24)), j -> {{'t': w24[j+1], 'j': j}})) p
    FROM (SELECT doc_id, ({_TOKENS_SQL.format(e='text')})[1:24] w24 FROM documents)
  )
"""


def q_composite_entities(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.composite import group_composite_entities
    from .operators.kv import aggregate_entity_spans

    spans = aggregate_entity_spans(_labeled_tokens_ml(spark, sf_dir))
    return group_composite_entities(
        spans, _COMPOSITE_CFG, max_line_diff=_COMPOSITE_MAX_LINE_DIFF
    )


ORACLE_COMPOSITE_ENTITIES = f"""
WITH tok AS ({_LABELED_TOKENS_ML_SQL}),
flag AS (
  SELECT *, CASE WHEN lag("label") OVER w IS NULL
                 OR lag("label") OVER w != "label" THEN 1 ELSE 0 END chg
  FROM tok WINDOW w AS (PARTITION BY doc_id, line_no ORDER BY token_idx)
),
runs AS (
  SELECT *, CAST(SUM(chg) OVER (PARTITION BY doc_id, line_no
            ORDER BY token_idx ROWS UNBOUNDED PRECEDING) AS INTEGER) span_id
  FROM flag
),
spans AS (
  SELECT doc_id, line_no, span_id, "label",
         string_agg(text, ' ' ORDER BY token_idx) span_text,
         MIN(x) x, MIN(y) y,
         MAX(x + w) - MIN(x) w, MAX(y + h) - MIN(y) h,
         (floor(AVG(score) * 1000000.0 + 0.5) / 1000000.0) score
  FROM runs WHERE "label" != 'O'
  GROUP BY doc_id, line_no, span_id, "label"
),
f AS (SELECT * FROM spans WHERE "label" IN ('name', 'addr')),
gflag AS (
  SELECT *, CASE WHEN lag(line_no) OVER w IS NULL
                 OR line_no - lag(line_no) OVER w > {_COMPOSITE_MAX_LINE_DIFF}
            THEN 1 ELSE 0 END nw
  FROM f WINDOW w AS (PARTITION BY doc_id ORDER BY line_no, x, "label")
),
grp AS (
  SELECT *, CAST(SUM(nw) OVER (PARTITION BY doc_id
            ORDER BY line_no, x, "label" ROWS UNBOUNDED PRECEDING)
            AS INTEGER) group_id
  FROM gflag
)
SELECT doc_id, 'contact' AS entity_name, group_id,
       string_agg(span_text, ' ' ORDER BY line_no, x, "label") AS text,
       array_to_string(list_sort(list_distinct(list("label"))), ',') AS labels,
       MIN(x) x, MIN(y) y,
       MAX(x + w) - MIN(x) w, MAX(y + h) - MIN(y) h,
       CAST(COUNT(*) AS BIGINT) n_spans, MAX(score) score
FROM grp GROUP BY doc_id, group_id
"""

EXT_QUERIES["composite_entities"] = q_composite_entities
EXT_ORACLES["composite_entities"] = ORACLE_COMPOSITE_ENTITIES


# ---------------------------------------------------------------------------
# PII scrubbing + rational tf-idf top-terms (training-data hygiene ops).
# The PII fixture appends deterministic synthetic PII to every document so
# the redaction counts are non-zero; patterns are RE2-compatible and applied
# in pinned order on both engines.
# ---------------------------------------------------------------------------

def q_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.textstats import pii_scrub

    d = _docs(spark, sf_dir).select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact user"), F.col("doc_id").cast("string"),
            F.lit("@example.com ph 555-123-4567 ip 10.0.0."),
            (F.col("doc_id") % 255).cast("string"),
            F.lit(" ssn 123-45-6789"),
        ).alias("text"),
    )
    return pii_scrub(d)


def _pii_oracle_sql() -> str:
    from .operators.textstats import PII_PATTERNS

    base = (
        "SELECT doc_id, text || ' contact user' || CAST(doc_id AS VARCHAR)"
        " || '@example.com ph 555-123-4567 ip 10.0.0.'"
        " || CAST(doc_id % 255 AS VARCHAR) || ' ssn 123-45-6789' AS text"
        " FROM documents"
    )
    cur = "text"
    count_cols = []
    for name, pat, repl in PII_PATTERNS:
        count_cols.append(
            f"CAST(len(regexp_extract_all({cur}, '{pat}')) AS BIGINT) AS n_{name}"
        )
        cur = f"regexp_replace({cur}, '{pat}', '{repl}', 'g')"
    total = " + ".join(f"n_{name}" for name, _, _ in PII_PATTERNS)
    cols = ",\n       ".join(count_cols)
    return f"""
WITH d AS ({base}),
s AS (SELECT doc_id, {cur} AS scrubbed_text,
       {cols}
      FROM d)
SELECT doc_id, scrubbed_text, n_email, n_ssn, n_phone, n_ipv4,
       CAST({total} AS BIGINT) AS n_redactions
FROM s
"""


ORACLE_PII_SCRUB = _pii_oracle_sql()


def q_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.textstats import tfidf_top_terms

    return tfidf_top_terms(_docs(spark, sf_dir), k=3)


ORACLE_TFIDF_TOP_TERMS = f"""
WITH toks AS (SELECT doc_id did, unnest({_TOKENS_SQL.format(e='text')}) term
              FROM documents),
tf AS (SELECT did, term, COUNT(*) tf FROM toks GROUP BY 1, 2),
dfq AS (SELECT term, COUNT(*) df FROM tf GROUP BY 1),
n AS (SELECT COUNT(*) n_docs FROM documents),
s AS (SELECT did, term, tf, df,
        (floor((tf * n_docs / df) * 1000000.0 + 0.5) / 1000000.0) score
      FROM tf JOIN dfq USING (term) CROSS JOIN n),
r AS (SELECT *, row_number() OVER (PARTITION BY did
        ORDER BY score DESC, term ASC) rk FROM s)
SELECT did AS doc_id, term, CAST(tf AS BIGINT) tf, CAST(df AS BIGINT) df,
       score, CAST(rk AS INTEGER) AS "rank"
FROM r WHERE rk <= 3
"""

EXT_QUERIES["pii_scrub"] = q_pii_scrub
EXT_QUERIES["tfidf_top_terms"] = q_tfidf_top_terms
EXT_ORACLES["pii_scrub"] = ORACLE_PII_SCRUB
EXT_ORACLES["tfidf_top_terms"] = ORACLE_TFIDF_TOP_TERMS


# ---------------------------------------------------------------------------
# Subword filter (F5): deterministic wordpiece split over labeled tokens,
# then keep only offset-0 pieces and non-zero boxes
# (ner_extraction_executor.py:300-330).
# ---------------------------------------------------------------------------

def q_subword_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.kv import first_subword_filter, subword_pieces

    pieces = subword_pieces(_labeled_tokens(spark, sf_dir))
    return first_subword_filter(pieces).select(
        "doc_id", "token_idx", "label", "piece_text", "n_pieces",
        (F.col("n_pieces") - 1).cast("int").alias("n_subwords_dropped"),
    )


def _subword_oracle_sql() -> str:
    from .operators.kv import SUBWORD_PIECE_LEN as L

    return f"""
WITH tok AS ({_LABELED_TOKENS_SQL}),
np AS (SELECT *, CAST(greatest(CAST(ceil(len(text) / {L}.0) AS BIGINT), 1)
                 AS INTEGER) n_pieces FROM tok),
p AS (SELECT *, unnest(range(n_pieces)) piece_idx FROM np),
pt AS (SELECT *, CAST(piece_idx * {L} AS INTEGER) char_start,
         CASE WHEN piece_idx > 0
              THEN '##' || substr(text, piece_idx * {L} + 1, {L})
              ELSE substr(text, piece_idx * {L} + 1, {L}) END piece_text
       FROM p)
SELECT doc_id, token_idx, "label", piece_text, n_pieces,
       CAST(n_pieces - 1 AS INTEGER) n_subwords_dropped
FROM pt
WHERE char_start = 0 AND NOT (x = 0 AND y = 0 AND w = 0 AND h = 0)
"""


ORACLE_SUBWORD_FILTER = _subword_oracle_sql()

EXT_QUERIES["subword_filter"] = q_subword_filter
EXT_ORACLES["subword_filter"] = ORACLE_SUBWORD_FILTER


# ---------------------------------------------------------------------------
# Ensemble extraction voting (B12 'best' engine / J4): three strategies —
# two full extractions + a degraded first-line-only strategy — majority-vote
# per turn (voting_ocr_engine.py:424-471). The oracle replays the winner,
# vote count, and averaged confidence per turn from the derived truth.
# ---------------------------------------------------------------------------

def q_vote_extractions(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.voting import vote_extractions

    t = transcripts_from_docs(spark, sf_dir)
    a = extract_turns(t)
    # degraded strategy: first line only (a weak engine in the ensemble)
    b = a.withColumn(
        "extracted_text", F.split("extracted_text", "\n").getItem(0)
    ).withColumn(
        "span_count",
        F.when(F.col("span_count") > 0, F.lit(1)).otherwise(F.lit(0)).cast("int"),
    )
    return vote_extractions([a, b, a]).select(
        "conv_id", "turn_idx", "voted", "votes", "vote_confidence"
    )


ORACLE_VOTE_EXTRACTIONS = (
    _ORACLE_DERIVE_REF
    + """
SELECT conv_id, turn_idx,
       extracted_text AS voted,
       CAST(CASE WHEN extracted_text = split_part(extracted_text, chr(10), 1)
            THEN 3 ELSE 2 END AS BIGINT) AS votes,
       (floor((CASE WHEN extracted_text = split_part(extracted_text, chr(10), 1)
               THEN (2.0 * span_count + least(span_count, 1)) / 3.0
               ELSE CAST(span_count AS DOUBLE) END) * 10000.0 + 0.5) / 10000.0)
         AS vote_confidence
FROM g
"""
)

EXT_QUERIES["vote_extractions"] = q_vote_extractions
EXT_ORACLES["vote_extractions"] = ORACLE_VOTE_EXTRACTIONS


# ---------------------------------------------------------------------------
# End-to-end dedup composition: near-dup pairs → connected components →
# survivors (the rows a training pipeline actually keeps).
# ---------------------------------------------------------------------------

def q_dedup_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.components import dedup_groups

    corpus = _corpus(spark, sf_dir)
    groups = dedup_groups(jaccard_pairs(corpus, _JACCARD_T))
    drops = groups.filter(F.col("doc_id") != F.col("keep_id")).select("doc_id")
    return corpus.select("doc_id").join(drops, "doc_id", "left_anti")


ORACLE_DEDUP_SURVIVORS = ORACLE_DEDUP_GROUPS.rstrip().replace(
    ")\nSELECT u AS doc_id, LEAST(u, MIN(v)) AS keep_id FROM rec GROUP BY u",
    """),
gr AS (SELECT u AS doc_id, LEAST(u, MIN(v)) AS keep_id FROM rec GROUP BY u)
SELECT doc_id FROM corpus
WHERE doc_id NOT IN (SELECT doc_id FROM gr WHERE doc_id != keep_id)""",
)

EXT_QUERIES["dedup_survivors"] = q_dedup_survivors
EXT_ORACLES["dedup_survivors"] = ORACLE_DEDUP_SURVIVORS


# ---------------------------------------------------------------------------
# Structured-Streaming oracles: transcripts land as a file stream and run
# through the REAL streaming pipeline (availableNow) inside the query; the
# results are deterministic (ts = EPOCH_UNIX + doc_id seconds), so the
# windowed aggregation and the stateful per-conversation totals both replay
# in SQL.
# ---------------------------------------------------------------------------

from .sources.transcripts import WORDS_PER_LINE  # noqa: E402


def _stream_input(spark, sf_dir: str, n_files: int = 8) -> tuple[str, str]:
    import tempfile

    base = tempfile.mkdtemp(prefix="stream_oracle_")
    inp = f"{base}/in"
    # several input files so maxFilesPerTrigger yields MULTIPLE micro-batches
    # (the multi-epoch case is what the streaming oracles must certify)
    (
        transcripts_from_docs(spark, sf_dir)
        .repartition(n_files)
        .write.mode("overwrite")
        .parquet(inp)
    )
    return base, inp


def q_stream_kind_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import uuid

    from .streaming.pipeline import stream_kind_counts

    base, inp = _stream_input(spark, sf_dir)
    name = f"kc_{uuid.uuid4().hex[:8]}"
    try:
        q, sink = stream_kind_counts(
            spark, inp, f"{base}/ckpt", available_now=True, sink_name=name
        )
        q.awaitTermination()
        # memory sink rows live in driver memory — a plain DataFrame off the
        # sink table is safe after the temp-dir cleanup, and keeps the "no
        # collect() in query paths" rule literally true
        return spark.table(sink).select(
            F.col("window.start").alias("window_start"),
            "payload_kind",
            F.col("turn_count").cast("long").alias("turn_count"),
            F.coalesce(F.col("total_spans"), F.lit(0))
            .cast("long")
            .alias("total_spans"),
        )
    finally:
        shutil.rmtree(base, ignore_errors=True)


ORACLE_STREAM_KIND_COUNTS = f"""
WITH d AS (
  SELECT doc_id, doc_id % 100 AS kb,
         string_split(regexp_replace(trim(text), '[ \\t\\n\\x0b\\f\\r]+', ' ', 'g'), ' ') AS w
  FROM documents),
s AS (
  SELECT doc_id, kb,
         CAST(CASE WHEN kb >= 98 THEN 0
              ELSE ceil(len(w) / {WORDS_PER_LINE}.0) END AS INTEGER) span_count
  FROM d)
SELECT TIMESTAMP '2025-01-01 00:00:00'
         + ((doc_id // 60) * 60) * INTERVAL 1 SECOND AS window_start,
       CASE WHEN kb < 40 THEN 'html' WHEN kb < 65 THEN 'layout'
            WHEN kb < 90 THEN 'markdown' WHEN kb < 98 THEN 'plain'
            ELSE 'empty' END AS payload_kind,
       CAST(COUNT(*) AS BIGINT) AS turn_count,
       CAST(SUM(span_count) AS BIGINT) AS total_spans
FROM s GROUP BY 1, 2
"""


def q_stream_conv_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import uuid

    from .streaming.pipeline import stream_conversation_state

    base, inp = _stream_input(spark, sf_dir)
    name = f"cs_{uuid.uuid4().hex[:8]}"
    try:
        q, sink = stream_conversation_state(
            spark, inp, f"{base}/ckpt", available_now=True, sink_name=name
        )
        q.awaitTermination()
        # update-mode sink: keep the final state row per conversation (the
        # memory sink holds every update; max over updates == final state
        # since all three stats are monotone). Direct DataFrame — no
        # driver-side collect loop.
        return (
            spark.table(sink)
            .groupBy("conv_id")
            .agg(
                F.max("turns_seen").cast("long").alias("turns_seen"),
                F.max("spans_total").cast("long").alias("spans_total"),
                F.max("max_turn_idx").cast("int").alias("max_turn_idx"),
            )
        )
    finally:
        shutil.rmtree(base, ignore_errors=True)


ORACLE_STREAM_CONV_STATE = (
    _ORACLE_DERIVE_REF
    + """
SELECT conv_id, CAST(COUNT(*) AS BIGINT) AS turns_seen,
       CAST(SUM(span_count) AS BIGINT) AS spans_total,
       CAST(MAX(turn_idx) AS INTEGER) AS max_turn_idx
FROM g GROUP BY conv_id
"""
)

EXT_QUERIES["stream_kind_counts"] = q_stream_kind_counts
EXT_QUERIES["stream_conv_state"] = q_stream_conv_state
EXT_ORACLES["stream_kind_counts"] = ORACLE_STREAM_KIND_COUNTS
EXT_ORACLES["stream_conv_state"] = ORACLE_STREAM_CONV_STATE


# ---------------------------------------------------------------------------
# IVF ANN (coarse-quantizer variant): the entire path — seeded centroids,
# one floor-mean Lloyd step, argmin assignment, nprobe probing, exact
# re-rank — is integer-deterministic and replayed in SQL.
# ---------------------------------------------------------------------------

def q_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.similarity import ivf_topk

    emb = load_table(spark, sf_dir, "embeddings")
    qs = emb.orderBy("vec_id").limit(_ANN_BATCH_NQ)
    return ivf_topk(emb, qs, k=_ANN_BATCH_K)


def _ivf_oracle_sql() -> str:
    """The Lloyd chain is emitted programmatically for IVF_ITERS iterations
    (c0 = seeds; a_i = assign against c_{i-1}; c_i = floor-mean of a_i) —
    the floor-mean keeps every centroid integer, so exactness holds for any
    iteration count, matching ivf_fit."""
    from .operators.similarity import IVF_ITERS, IVF_K, IVF_NPROBE

    # ||a-b||² = a·a − 2 a·b + b·b over native dots: every term is an
    # integer-valued double < 2^53, so the expansion is EXACTLY the lambda
    # sum-of-squares it replaces (and ~50× faster than per-element lambdas)
    d2 = (
        "(list_dot_product(nq.q, nq.q) - 2 * list_dot_product(nq.q, c.cq)"
        " + list_dot_product(c.cq, c.cq))"
    )
    cos = (
        "(floor((list_dot_product(na.q, nb.q)"
        " / (sqrt(na.nrm) * sqrt(nb.nrm))) * 1000000.0 + 0.5) / 1000000.0)"
    )
    ctes = [
        f"q AS (SELECT vec_id, {_Q_SQL} q FROM embeddings)",
        "n AS (SELECT vec_id, q, list_dot_product(q, q) nrm"
        " FROM q)",
        "c0 AS (SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INTEGER)"
        " cid, q cq"
        f" FROM (SELECT vec_id, q FROM q ORDER BY vec_id LIMIT {IVF_K}))",
    ]
    for it in range(1, IVF_ITERS + 1):
        prev = f"c{it - 1}"
        ctes.append(
            f"""a{it} AS (SELECT vec_id, cid, q FROM (
         SELECT nq.vec_id, c.cid, nq.q,
                row_number() OVER (PARTITION BY nq.vec_id
                  ORDER BY {d2}, c.cid) rn
         FROM q nq CROSS JOIN {prev} c)
       WHERE rn = 1)"""
        )
        ctes.append(
            f"""u{it} AS (SELECT cid, p.i pos,
               CAST(floor(SUM(p.v) / COUNT(*)) AS BIGINT) cv
        FROM (SELECT cid,
                unnest(list_transform(range(64),
                  i -> {{'i': i, 'v': q[i+1]}})) p
              FROM a{it})
        GROUP BY cid, p.i)"""
        )
        ctes.append(
            f"c{it} AS (SELECT cid, list(cv ORDER BY pos) cq FROM u{it}"
            " GROUP BY cid)"
        )
    final = f"c{IVF_ITERS}"
    ctes.append(
        f"""af AS (SELECT vec_id, cid FROM (
         SELECT nq.vec_id, c.cid,
                row_number() OVER (PARTITION BY nq.vec_id
                  ORDER BY {d2}, c.cid) rn
         FROM q nq CROSS JOIN {final} c)
       WHERE rn = 1)"""
    )
    ctes.append(
        f"qs AS (SELECT vec_id FROM embeddings ORDER BY vec_id"
        f" LIMIT {_ANN_BATCH_NQ})"
    )
    ctes.append(
        f"""probes AS (SELECT vec_id query_id, cid FROM (
             SELECT nq.vec_id, c.cid,
                    row_number() OVER (PARTITION BY nq.vec_id
                      ORDER BY {d2}, c.cid) rn
             FROM (SELECT q.* FROM q JOIN qs USING (vec_id)) nq
             CROSS JOIN {final} c)
           WHERE rn <= {IVF_NPROBE})"""
    )
    ctes.append(
        f"""scored AS (SELECT p.query_id, af.vec_id, {cos} cosine
           FROM probes p
           JOIN af USING (cid)
           JOIN n na ON p.query_id = na.vec_id
           JOIN n nb ON af.vec_id = nb.vec_id
           WHERE af.vec_id != p.query_id)"""
    )
    ctes.append(
        """r AS (SELECT *, row_number() OVER (PARTITION BY query_id
        ORDER BY cosine DESC, vec_id ASC) rk FROM scored)"""
    )
    return (
        "WITH " + ",\n".join(ctes)
        + f"""
SELECT query_id, vec_id, cosine, CAST(rk AS INTEGER) AS "rank"
FROM r WHERE rk <= {_ANN_BATCH_K}
"""
    )


ORACLE_IVF_TOPK = _ivf_oracle_sql()

EXT_QUERIES["ivf_topk"] = q_ivf_topk
EXT_ORACLES["ivf_topk"] = ORACLE_IVF_TOPK


# ---------------------------------------------------------------------------
# Within-document repetition (Gopher/RefinedWeb-style quality filters).
# ---------------------------------------------------------------------------

def q_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.textstats import repetition_stats

    return repetition_stats(_docs(spark, sf_dir))


def _repetition_oracle_sql() -> str:
    # set-based (unnest + lead windows), not per-row list expressions:
    # ngrams_sql inlines the tokenizer once per token reference, which made
    # DuckDB re-split every text ~5x per row (78s at sf0.1 vs ~2s now)
    from .functions.columns import round_half_up_sql

    # coalesce: a NULL text must still yield its one-empty-token row
    # (tot1=1, fracs 0.0) like the Spark side — bare unnest(NULL) would
    # drop the document from the result entirely
    toks = _TOKENS_SQL.format(e="coalesce(text, '')")

    def frac(tot: str, d: str) -> str:
        return round_half_up_sql(f"CAST({tot} - {d} AS DOUBLE) / {tot}", 6)

    return f"""
WITH d AS (SELECT doc_id, {toks} w FROM documents),
t AS (SELECT doc_id, unnest(w) tok, unnest(range(len(w))) i FROM d),
g AS (SELECT doc_id, tok,
             lead(tok, 1) OVER (PARTITION BY doc_id ORDER BY i) t2,
             lead(tok, 2) OVER (PARTITION BY doc_id ORDER BY i) t3
      FROM t),
c AS (SELECT doc_id,
             COUNT(*) tot1, COUNT(DISTINCT tok) d1,
             COUNT(t2) tot2, COUNT(DISTINCT tok || ' ' || t2) d2,
             COUNT(t3) tot3,
             COUNT(DISTINCT CASE WHEN t3 IS NOT NULL
                   THEN tok || ' ' || t2 || ' ' || t3 END) d3
      FROM g GROUP BY doc_id)
SELECT doc_id,
       {frac('tot1', 'd1')} AS dup_1gram_frac,
       CASE WHEN tot2 > 0 THEN {frac('tot2', 'd2')}
            ELSE 0.0 END AS dup_2gram_frac,
       CASE WHEN tot3 > 0 THEN {frac('tot3', 'd3')}
            ELSE 0.0 END AS dup_3gram_frac
FROM c
"""


ORACLE_REPETITION_STATS = _repetition_oracle_sql()

EXT_QUERIES["repetition_stats"] = q_repetition_stats
EXT_ORACLES["repetition_stats"] = ORACLE_REPETITION_STATS


# ---------------------------------------------------------------------------
# Deterministic stratified sampling (data mixing): hash-gated per-stratum
# rates — reproducible across engines and partitionings, replayed in SQL.
# ---------------------------------------------------------------------------

_SAMPLE_RATES = {"html": 0.5, "layout": 0.25, "markdown": 1.0, "plain": 0.1}


def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.textstats import stratified_hash_sample

    t = transcripts_from_docs(spark, sf_dir)
    e = extract_turns(t).withColumn(
        "turn_key", F.concat_ws(":", "conv_id", F.col("turn_idx").cast("string"))
    )
    return stratified_hash_sample(
        e, _SAMPLE_RATES, strata_col="payload_kind", key_col="turn_key"
    ).select("conv_id", "turn_idx", "payload_kind", "span_count")


def _stratified_sample_oracle_sql() -> str:
    h = portable_hash31_sql(
        "'sample:v1:' || conv_id || ':' || CAST(turn_idx AS VARCHAR)"
    )
    cases = " ".join(
        f"WHEN '{k}' THEN {rate_millionths(v)}"
        for k, v in sorted(_SAMPLE_RATES.items())
    )
    return (
        _ORACLE_DERIVE_REF
        + f"""
SELECT conv_id, turn_idx,
       CASE WHEN kb < 40 THEN 'html' WHEN kb < 65 THEN 'layout'
            WHEN kb < 90 THEN 'markdown' WHEN kb < 98 THEN 'plain'
            ELSE 'empty' END AS payload_kind,
       span_count
FROM g
WHERE ({h}) % 1000000 <
      (CASE (CASE WHEN kb < 40 THEN 'html' WHEN kb < 65 THEN 'layout'
                  WHEN kb < 90 THEN 'markdown' WHEN kb < 98 THEN 'plain'
                  ELSE 'empty' END) {cases} ELSE 0 END)
"""
    )


ORACLE_STRATIFIED_SAMPLE = _stratified_sample_oracle_sql()

EXT_QUERIES["stratified_sample"] = q_stratified_sample
EXT_ORACLES["stratified_sample"] = ORACLE_STRATIFIED_SAMPLE


# ---------------------------------------------------------------------------
# Atomic manifest-swap commit (plans/manifest.py — the Iceberg-snapshot
# contract over plain files): the query kills a run mid-commit, proves the
# reader sees EXACTLY the committed units, upgrades the snapshot with a
# second kill, resumes, and verifies every manifest entry against hashes
# recomputed from the written partitions. DuckDB replays the totals.
# ---------------------------------------------------------------------------

def q_atomic_commit_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile

    from .plans import manifest as M
    from .plans.lineage import SimulatedFailure

    t = transcripts_from_docs(spark, sf_dir)
    out = tempfile.mkdtemp(prefix="atomic_oracle_")
    try:
        try:
            M.run_extraction_job_atomic(
                spark, t, out, n_buckets=8, buckets_per_commit=2,
                fail_after_commits=1,
            )
        except SimulatedFailure:
            pass
        # mid-kill invariant: visible rows = exactly the committed units
        mid = M.load_manifest(out)
        mid_expected = sum(e["turn_count"] for e in mid["buckets"].values())
        mid_visible = M.read_results(spark, out).count()
        partial_ok = (
            mid["version"] == 1
            and len(mid["buckets"]) == 2
            and mid_visible == mid_expected
        )
        M.run_extraction_job_atomic(spark, t, out, n_buckets=8,
                                    buckets_per_commit=2)

        turns, spans, ok = M.verify(spark, out)
        return spark.createDataFrame(
            [(turns, spans, ok and partial_ok and M.current_version(out) == 4)],
            "total_turns long, total_spans long, all_commits_atomic boolean",
        )
    finally:
        shutil.rmtree(out, ignore_errors=True)


ORACLE_ATOMIC_COMMIT_ROUNDTRIP = (
    _ORACLE_DERIVE_REF
    + """
SELECT CAST(COUNT(*) AS BIGINT) AS total_turns,
       CAST(SUM(span_count) AS BIGINT) AS total_spans,
       TRUE AS all_commits_atomic
FROM g
"""
)

EXT_QUERIES["atomic_commit_roundtrip"] = q_atomic_commit_roundtrip
EXT_ORACLES["atomic_commit_roundtrip"] = ORACLE_ATOMIC_COMMIT_ROUNDTRIP


# ---------------------------------------------------------------------------
# PNG pixel decode (multimodal): per-doc PNGs are synthesized from a linear
# pixel formula, every scanline filtered as doc_id % 5 (all five PNG filter
# types exercised), then decoded back via the stdlib zlib-inflate +
# unfilter path. DuckDB replays the channel means and luminance range
# directly from the formula — a hash match certifies the decoder bit-exact.
# ---------------------------------------------------------------------------

_PNG_W, _PNG_H = 8, 4


def _formula_png_assets(spark: SparkSession, sf_dir: str):
    """Planted PNG assets whose pixels follow the pinned per-(doc, index)
    formula both pixel oracles replay in SQL; filter type cycles over all
    five spec filters so the unfilter path is fully exercised."""
    import pandas as pd

    from .operators.multimodal import ASSET_SCHEMA, encode_png

    npix = _PNG_W * _PNG_H

    def enc(batches):
        for pdf in batches:
            rows = []
            for did in pdf["doc_id"]:
                did = int(did)
                pix = bytearray()
                for i in range(npix):
                    pix.append((7 * did + 11 * i) % 256)
                    pix.append((13 * did + 17 * i) % 256)
                    pix.append((19 * did + 23 * i) % 256)
                rows.append(
                    (
                        str(did),
                        "image",
                        encode_png(_PNG_W, _PNG_H, bytes(pix),
                                   filter_type=did % 5),
                        None,
                    )
                )
            yield pd.DataFrame(
                rows, columns=["asset_id", "media_type", "content", "meta"]
            )

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    return docs.mapInPandas(enc, ASSET_SCHEMA)


def q_png_pixel_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.multimodal import media_pixel_stats

    stats = media_pixel_stats(_formula_png_assets(spark, sf_dir))
    return stats.filter(F.col("ok")).select(
        F.col("asset_id").cast("long").alias("doc_id"),
        "mean_r", "mean_g", "mean_b", "min_lum", "max_lum",
    )


ORACLE_PNG_PIXEL_STATS = f"""
WITH px AS (
  SELECT d.doc_id, t.i,
         (7 * d.doc_id + 11 * t.i) % 256 AS r,
         (13 * d.doc_id + 17 * t.i) % 256 AS g,
         (19 * d.doc_id + 23 * t.i) % 256 AS b
  FROM documents d CROSS JOIN (SELECT unnest(range({_PNG_W * _PNG_H})) i) t)
SELECT doc_id,
       AVG(r) AS mean_r, AVG(g) AS mean_g, AVG(b) AS mean_b,
       CAST(MIN((299 * r + 587 * g + 114 * b) // 1000) AS INTEGER) AS min_lum,
       CAST(MAX((299 * r + 587 * g + 114 * b) // 1000) AS INTEGER) AS max_lum
FROM px GROUP BY doc_id
"""

EXT_QUERIES["png_pixel_stats"] = q_png_pixel_stats
EXT_ORACLES["png_pixel_stats"] = ORACLE_PNG_PIXEL_STATS


# ---------------------------------------------------------------------------
# Exactly-once streaming sink through the manifest catalog: the stream runs
# in multiple micro-batches (maxFilesPerTrigger), each committed atomically
# via a CURRENT-pointer swap; the query verifies every epoch-scoped manifest
# entry against hashes recomputed from the written partitions and that more
# than one epoch actually committed. DuckDB replays the totals.
# ---------------------------------------------------------------------------

def q_stream_atomic_commit(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile

    from .plans import manifest as M
    from .streaming.pipeline import stream_extract_atomic

    base, inp = _stream_input(spark, sf_dir)
    out = tempfile.mkdtemp(prefix="stream_atomic_")
    try:
        q = stream_extract_atomic(
            spark, inp, out, f"{base}/ckpt", available_now=True,
            n_buckets=8, max_files_per_trigger=4,
        )
        q.awaitTermination()

        epochs = {k.split("/")[0] for k in M.load_manifest(out)["buckets"]}
        turns, spans, ok = M.verify(spark, out)
        return spark.createDataFrame(
            [(turns, spans, ok and len(epochs) >= 2)],
            "total_turns long, total_spans long, all_epochs_atomic boolean",
        )
    finally:
        shutil.rmtree(base, ignore_errors=True)
        shutil.rmtree(out, ignore_errors=True)


ORACLE_STREAM_ATOMIC_COMMIT = (
    _ORACLE_DERIVE_REF
    + """
SELECT CAST(COUNT(*) AS BIGINT) AS total_turns,
       CAST(SUM(span_count) AS BIGINT) AS total_spans,
       TRUE AS all_epochs_atomic
FROM g
"""
)

EXT_QUERIES["stream_atomic_commit"] = q_stream_atomic_commit
EXT_ORACLES["stream_atomic_commit"] = ORACLE_STREAM_ATOMIC_COMMIT


# ---------------------------------------------------------------------------
# Snapshot compaction: a two-epoch streaming-sink table (2 immutable run
# dirs, epoch-scoped keys — the small-files shape a long-running stream
# accretes) is collapsed into ONE bucketed run dir by an atomic manifest
# swap. The query certifies: keys collapse to plain bucket ids over a single
# run, per-bucket hashes/counts of the compacted data equal the XOR/sums of
# the entries they merged, vacuum reclaims exactly the two superseded dirs,
# and the visible rows are unchanged. DuckDB replays the totals.
# ---------------------------------------------------------------------------

def q_compaction_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os as _os
    import shutil
    import tempfile

    from .operators.extraction import extract_turns
    from .plans import manifest as M

    t = transcripts_from_docs(spark, sf_dir)
    out = tempfile.mkdtemp(prefix="compact_oracle_")
    try:
        batch = extract_turns(t)
        half = F.pmod(F.xxhash64("conv_id"), F.lit(2)) == 0
        M.commit_stream_batch(batch.filter(half), 0, out, n_buckets=8)
        M.commit_stream_batch(batch.filter(~half), 1, out, n_buckets=8)
        v = M.current_version(out)

        m = M.compact(spark, out)
        keys_ok = (
            m["version"] == v + 1
            and all("/" not in k for k in m["buckets"])
            and len({e["run_id"] for e in m["buckets"].values()
                     if e["run_id"] is not None}) == 1
        )
        orphans = [p for p in M.vacuum(out) if f"{_os.sep}data{_os.sep}" in p]
        turns, spans, ok = M.verify(spark, out)
        return spark.createDataFrame(
            [(turns, spans, ok and keys_ok and len(orphans) == 2)],
            "total_turns long, total_spans long, compaction_atomic boolean",
        )
    finally:
        shutil.rmtree(out, ignore_errors=True)


ORACLE_COMPACTION_ROUNDTRIP = (
    _ORACLE_DERIVE_REF
    + """
SELECT CAST(COUNT(*) AS BIGINT) AS total_turns,
       CAST(SUM(span_count) AS BIGINT) AS total_spans,
       TRUE AS compaction_atomic
FROM g
"""
)

EXT_QUERIES["compaction_roundtrip"] = q_compaction_roundtrip
EXT_ORACLES["compaction_roundtrip"] = ORACLE_COMPACTION_ROUNDTRIP


# ---------------------------------------------------------------------------
# The full training-corpus curation pipeline as ONE hash-certified query:
# extract → assemble → quality gate → language ID → exact dedup → near-dup
# survivors (inverted-index Jaccard + connected components) → stratified
# sample. The DuckDB twin replays every stage — including the recursive-CTE
# component labels and the portable-hash sample gate — over the same derived
# transcripts, so a value-hash match certifies the composition end-to-end,
# not just the stages in isolation.
# ---------------------------------------------------------------------------

from .operators.textstats import LANG_MIN_SCORE  # noqa: E402
from .plans import corpus as _CP  # noqa: E402


def q_corpus_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = transcripts_from_docs(spark, sf_dir)
    handles: list = []
    out = _CP.build_corpus(
        t, rates=dict(_CP.SAMPLE_RATES), persist_handles=handles
    )
    # oracle-harness hygiene: materialize the (small, sampled) result, then
    # free exactly the blocks THIS pipeline persisted — a shared-session
    # runner must neither accumulate them nor lose unrelated cached frames
    pdf = out.toPandas()
    for h in handles:
        h.unpersist()
    return spark.createDataFrame(pdf, schema=out.schema)


def _corpus_pipeline_oracle_sql() -> str:
    sample_gate = portable_hash31_sql(f"'{_CP.SAMPLE_SALT}:' || conv_id")
    rate_cases = " ".join(
        f"WHEN '{k}' THEN {rate_millionths(v)}"
        for k, v in sorted(_CP.SAMPLE_RATES.items())
    )
    default_millionths = rate_millionths(_CP.SAMPLE_DEFAULT_RATE)
    return f"""{_ORACLE_DERIVE_REF},
conv AS (
  SELECT conv_id,
         string_agg(extracted_text, chr(12) ORDER BY turn_idx)
           AS conversation_text,
         CAST(COUNT(*) AS BIGINT) AS turn_count
  FROM g GROUP BY conv_id),
tw AS (SELECT conv_id, conversation_text, turn_count,
              {_TOKENS_SQL.format(e='conversation_text')} w
       FROM conv),
qx AS (SELECT *, len(w) n_toks,
        len(conversation_text)
          - len(regexp_replace(conversation_text, '[^A-Za-z0-9 ]', '', 'g'))
          punct,
        len(conversation_text) n_chars,
        len(list_filter(w, t -> list_contains([{_ALL_STOP_SQL}], t))) n_stop
      FROM tw),
qr AS (SELECT conv_id, conversation_text, turn_count, w, n_toks,
        (floor((CAST(punct AS DOUBLE) / greatest(n_chars, 1)) * 1000000.0 + 0.5) / 1000000.0) punct_ratio,
        (floor((CAST(n_stop AS DOUBLE) / greatest(n_toks, 1)) * 1000000.0 + 0.5) / 1000000.0) stop_ratio
      FROM qx),
ql AS (SELECT *,
        (floor((0.4 * least(1.0, n_toks / 64.0)
                + 0.3 * (1.0 - least(1.0, punct_ratio * 4))
                + 0.3 * least(1.0, stop_ratio * 4)) * 10000.0 + 0.5) / 10000.0)
          AS quality
      FROM qr),
kept AS (SELECT * FROM ql WHERE quality >= {_CP.MIN_QUALITY}),
lg AS (SELECT conv_id,
        {_lang_score_sql('de')} s_de, {_lang_score_sql('en')} s_en,
        {_lang_score_sql('es')} s_es, {_lang_score_sql('fr')} s_fr
       FROM kept),
lb AS (SELECT *, greatest(s_de, s_en, s_es, s_fr) best FROM lg),
lang AS (SELECT conv_id,
        CASE WHEN best < {LANG_MIN_SCORE} THEN 'und'
             WHEN s_de = best THEN 'de' WHEN s_en = best THEN 'en'
             WHEN s_es = best THEN 'es' ELSE 'fr' END AS pred_lang
      FROM lb),
kl AS (SELECT k.*, l.pred_lang FROM kept k JOIN lang l USING (conv_id)),
ex AS (SELECT * FROM (
        SELECT *, MIN(conv_id) OVER (PARTITION BY md5(conversation_text))
                    _keep
        FROM kl) WHERE conv_id = _keep),
ids AS (SELECT *, {portable_hash31_sql('conv_id')} cid FROM ex),
ss AS (SELECT cid did, {_SH_SQL} sh FROM ids),
inv0 AS (SELECT did, unnest(sh) s FROM ss),
shkeep AS (SELECT s FROM inv0 GROUP BY s HAVING COUNT(*) <= {MAX_SHINGLE_DF}),
inv AS (SELECT did, s FROM inv0 JOIN shkeep USING (s)),
sz AS (SELECT did, COUNT(*) sz FROM inv GROUP BY did),
i AS (SELECT x.did a, y.did b, COUNT(*) i FROM inv x JOIN inv y USING (s)
      WHERE x.did < y.did GROUP BY 1, 2),
pairs AS (
  SELECT a, b FROM i JOIN sz za ON i.a = za.did JOIN sz zb ON i.b = zb.did
  WHERE CAST(i AS DOUBLE) / (za.sz + zb.sz - i) >= {_CP.JACCARD_THRESHOLD}
),
sym AS (SELECT a u, b v FROM pairs UNION SELECT b, a FROM pairs),
rec AS (
  WITH RECURSIVE reach(u, v) AS (
    SELECT u, v FROM sym
    UNION
    SELECT r.u, s.v FROM reach r JOIN sym s ON r.v = s.u
  )
  SELECT u, v FROM reach
),
losers AS (SELECT u FROM rec GROUP BY u HAVING LEAST(u, MIN(v)) < u)
SELECT conv_id, conversation_text, turn_count,
       CAST(n_toks AS BIGINT) AS n_tokens, quality, pred_lang
FROM ids
WHERE cid NOT IN (SELECT u FROM losers)
  AND ({sample_gate}) % 1000000 <
      (CASE pred_lang {rate_cases} ELSE {default_millionths} END)
"""


ORACLE_CORPUS_PIPELINE = _corpus_pipeline_oracle_sql()

EXT_QUERIES["corpus_pipeline"] = q_corpus_pipeline
EXT_ORACLES["corpus_pipeline"] = ORACLE_CORPUS_PIPELINE


# ---------------------------------------------------------------------------
# Benchmark decontamination (the GPT-3/PaLM 8-gram membership test): docs
# sharing any 8-gram with the benchmark slice (doc_id % 97 == 0 stands in
# for a held-out eval suite) are flagged. Broadcast benchmark grams →
# map-side probe; DuckDB replays the same distinct-shingle join.
# ---------------------------------------------------------------------------

_DECON_N = 8
_DECON_BENCH_MOD = 97


def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.textstats import decontaminate

    docs = _docs(spark, sf_dir)
    bench = docs.filter(F.col("doc_id") % _DECON_BENCH_MOD == 0)
    return decontaminate(docs, bench, n=_DECON_N)


ORACLE_DECONTAMINATE = f"""
WITH bt AS (SELECT {_TOKENS_SQL.format(e='text')} w FROM documents
            WHERE doc_id % {_DECON_BENCH_MOD} = 0),
bg AS (SELECT DISTINCT unnest({shingles_sql('w', _DECON_N)}) g FROM bt),
dt AS (SELECT doc_id, {_TOKENS_SQL.format(e='text')} w FROM documents),
dgr AS (SELECT doc_id, unnest({shingles_sql('w', _DECON_N)}) g FROM dt),
hits AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) c
         FROM dgr JOIN bg USING (g) GROUP BY doc_id)
SELECT d.doc_id,
       CAST(COALESCE(h.c, 0) AS BIGINT) AS contaminated_ngrams,
       COALESCE(h.c, 0) > 0 AS contaminated
FROM documents d LEFT JOIN hits h USING (doc_id)
"""

EXT_QUERIES["decontaminate"] = q_decontaminate
EXT_ORACLES["decontaminate"] = ORACLE_DECONTAMINATE


# ---------------------------------------------------------------------------
# Nearest-neighbor resize certified end-to-end: plant the SAME formula PNGs
# as png_pixel_stats (all 5 filter types), resize 8x4 → 3x2 through the
# pixel decoder + numpy gather, re-encode as PPM, run pixel stats over the
# RESIZED asset — and DuckDB recomputes the stats from the pinned integer
# coordinate mapping (x·sw//tw, y·sh//th) applied to the pixel formula.
# ---------------------------------------------------------------------------

_RSZ_W, _RSZ_H = 3, 2


def q_resize_pixel_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.multimodal import media_pixel_stats, resize_media

    resized = resize_media(
        _formula_png_assets(spark, sf_dir), _RSZ_W, _RSZ_H
    ).select(
        "asset_id", "media_type", "content",
        F.lit(None).cast("string").alias("meta"),
    )
    stats = media_pixel_stats(resized)
    return stats.filter(F.col("ok")).select(
        F.col("asset_id").cast("long").alias("doc_id"),
        "mean_r", "mean_g", "mean_b", "min_lum", "max_lum",
    )


ORACLE_RESIZE_PIXEL_STATS = f"""
WITH grid AS (
  SELECT x.x, y.y,
         ((y.y * {_PNG_H}) // {_RSZ_H}) * {_PNG_W} + ((x.x * {_PNG_W}) // {_RSZ_W}) AS i
  FROM (SELECT unnest(range({_RSZ_W})) x) x
  CROSS JOIN (SELECT unnest(range({_RSZ_H})) y) y),
px AS (
  SELECT d.doc_id,
         (7 * d.doc_id + 11 * g.i) % 256 AS r,
         (13 * d.doc_id + 17 * g.i) % 256 AS g,
         (19 * d.doc_id + 23 * g.i) % 256 AS b
  FROM documents d CROSS JOIN grid g)
SELECT doc_id,
       AVG(r) AS mean_r, AVG(g) AS mean_g, AVG(b) AS mean_b,
       CAST(MIN((299 * r + 587 * g + 114 * b) // 1000) AS INTEGER) AS min_lum,
       CAST(MAX((299 * r + 587 * g + 114 * b) // 1000) AS INTEGER) AS max_lum
FROM px GROUP BY doc_id
"""

EXT_QUERIES["resize_pixel_stats"] = q_resize_pixel_stats
EXT_ORACLES["resize_pixel_stats"] = ORACLE_RESIZE_PIXEL_STATS


# ---------------------------------------------------------------------------
# Token-window chunking (context-window prep): fixed 64-token windows with
# 16-token overlap over whitespace tokens; zero-shuffle explode fan-out.
# DuckDB replays the window arithmetic with range + list slicing.
# ---------------------------------------------------------------------------

_CHUNK_MAX, _CHUNK_OVERLAP = 64, 16


def q_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.textstats import chunk_documents

    return chunk_documents(
        _docs(spark, sf_dir), max_tokens=_CHUNK_MAX, overlap=_CHUNK_OVERLAP
    )


_CHUNK_STRIDE = _CHUNK_MAX - _CHUNK_OVERLAP

ORACLE_CHUNK_DOCUMENTS = f"""
WITH t AS (SELECT doc_id, {_TOKENS_SQL.format(e='text')} w FROM documents),
n AS (SELECT doc_id, w, greatest(
        CAST(ceil((len(w) - {_CHUNK_OVERLAP}) / {_CHUNK_STRIDE}.0) AS INTEGER),
        1) n_chunks
      FROM t),
c AS (SELECT doc_id, w, unnest(range(n_chunks)) ci FROM n)
SELECT doc_id,
       CAST(ci AS INTEGER) AS chunk_idx,
       array_to_string(
         w[ci*{_CHUNK_STRIDE}+1 : ci*{_CHUNK_STRIDE}+{_CHUNK_MAX}], ' ')
         AS chunk_text,
       CAST(len(w[ci*{_CHUNK_STRIDE}+1 : ci*{_CHUNK_STRIDE}+{_CHUNK_MAX}])
         AS INTEGER) AS n_chunk_tokens
FROM c
"""

EXT_QUERIES["chunk_documents"] = q_chunk_documents
EXT_ORACLES["chunk_documents"] = ORACLE_CHUNK_DOCUMENTS


# ---------------------------------------------------------------------------
# Native streaming session windows: events split across micro-batches
# (maxFilesPerTrigger) so per-key session state must MERGE across batches;
# the final sessions must equal the batch gaps-and-islands computation.
# ---------------------------------------------------------------------------

def q_stream_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile
    import uuid

    from .streaming.pipeline import stream_session_windows

    base = tempfile.mkdtemp(prefix="stream_sess_")
    inp = f"{base}/in"
    (
        load_table(spark, sf_dir, "events")
        .withColumn("ts", F.col("ts").cast("timestamp"))
        .repartition(6)
        .write.parquet(inp)
    )
    name = f"sw_{uuid.uuid4().hex[:8]}"
    try:
        q, sink = stream_session_windows(
            spark, inp, f"{base}/ckpt", gap_minutes=30, available_now=True,
            max_files_per_trigger=2, sink_name=name,
        )
        q.awaitTermination()
        return spark.table(sink).select(
            "user_id",
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            F.col("n_events").cast("long").alias("n_events"),
        )
    finally:
        shutil.rmtree(base, ignore_errors=True)


ORACLE_STREAM_SESSIONIZE = """
WITH g AS (
  SELECT user_id, ts,
         CASE WHEN lag(ts) OVER w IS NULL
                   OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
              THEN 1 ELSE 0 END new_s
  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)
),
s AS (
  SELECT user_id, ts,
         SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts
              ROWS UNBOUNDED PRECEDING) session_id
  FROM g
)
SELECT user_id,
       MIN(ts) AS session_start,
       MAX(ts) + INTERVAL 30 MINUTE AS session_end,
       CAST(COUNT(*) AS BIGINT) AS n_events
FROM s GROUP BY user_id, session_id
"""

EXT_QUERIES["stream_sessionize"] = q_stream_sessionize
EXT_ORACLES["stream_sessionize"] = ORACLE_STREAM_SESSIONIZE


# ---------------------------------------------------------------------------
# Streaming exact dedup: the transcript table is delivered TWICE in
# interleaved files (at-least-once upstream), split over micro-batches;
# dropDuplicates state must suppress every cross-batch replay so each
# (conv_id, turn_idx) is emitted exactly once.
# ---------------------------------------------------------------------------

def q_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile
    import uuid

    from .streaming.pipeline import stream_dedup_turns

    base = tempfile.mkdtemp(prefix="stream_dedup_")
    inp = f"{base}/in"
    t = transcripts_from_docs(spark, sf_dir)
    t.repartition(4).write.parquet(inp)
    t.repartition(3).write.mode("append").parquet(inp)  # the replay
    name = f"dd_{uuid.uuid4().hex[:8]}"
    try:
        # the production bounded-state operator, with a horizon far beyond
        # the data's time span so the full replay is exactly deduped
        q, sink = stream_dedup_turns(
            spark, inp, f"{base}/ckpt", available_now=True,
            max_files_per_trigger=2, sink_name=name, watermark="3650 days",
        )
        q.awaitTermination()
        return spark.table(sink).select(
            "conv_id", F.col("turn_idx").cast("int").alias("turn_idx"), "role"
        )
    finally:
        shutil.rmtree(base, ignore_errors=True)


ORACLE_STREAM_DEDUP = (
    _ORACLE_DERIVE_REF
    + """
SELECT conv_id, turn_idx,
       CASE (doc_id % 4) WHEN 0 THEN 'user' WHEN 1 THEN 'assistant'
            WHEN 2 THEN 'tool' ELSE 'system' END AS "role"
FROM d
"""
)

EXT_QUERIES["stream_dedup"] = q_stream_dedup
EXT_ORACLES["stream_dedup"] = ORACLE_STREAM_DEDUP


# ---------------------------------------------------------------------------
# GPT-style sequence packing (concat docs in id order, chunk the global
# token stream into fixed ctx windows). The Spark side computes the global
# prefix sum in two phases (bucket sums -> broadcast offsets); DuckDB does
# it with one global window — identical placement.
# ---------------------------------------------------------------------------

_PACK_CTX = 512


def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.textstats import pack_sequences

    return pack_sequences(_docs(spark, sf_dir), ctx=_PACK_CTX)


ORACLE_PACK_SEQUENCES = f"""
WITH t AS (SELECT doc_id,
                  len({_TOKENS_SQL.format(e='text')}) n
           FROM documents),
cum AS (SELECT doc_id, n,
               SUM(n) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) - n
                 AS before
        FROM t),
p AS (SELECT doc_id, n, before,
             unnest(range(CAST(before // {_PACK_CTX} AS BIGINT),
                          CAST((before + n - 1) // {_PACK_CTX} + 1 AS BIGINT)))
               pack_id
      FROM cum)
SELECT CAST(pack_id AS BIGINT) AS pack_id,
       doc_id,
       CAST(greatest(pack_id * {_PACK_CTX} - before, 0) AS INTEGER)
         AS start_tok,
       CAST(least((pack_id + 1) * {_PACK_CTX} - before, n)
            - greatest(pack_id * {_PACK_CTX} - before, 0) AS INTEGER)
         AS n_toks
FROM p
"""

EXT_QUERIES["pack_sequences"] = q_pack_sequences
EXT_ORACLES["pack_sequences"] = ORACLE_PACK_SEQUENCES


# ---------------------------------------------------------------------------
# Corpus length profile: exact token-length histogram (32-token bins) with
# per-bin totals — the dataset profiling readout a curation run reports.
# Pure integer bucketing, one hash agg; DuckDB replays it verbatim.
# ---------------------------------------------------------------------------

_HIST_BIN = 32


def q_length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .functions.columns import ws_tokens

    n = F.size(ws_tokens(F.col("text")))
    return (
        _docs(spark, sf_dir)
        .groupBy(F.floor(n / _HIST_BIN).cast("long").alias("bin"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum(n).cast("long").alias("total_tokens"),
            F.min(n).cast("int").alias("min_tokens"),
            F.max(n).cast("int").alias("max_tokens"),
        )
    )


ORACLE_LENGTH_HISTOGRAM = f"""
WITH t AS (SELECT len({_TOKENS_SQL.format(e='text')}) n FROM documents)
SELECT CAST(n // {_HIST_BIN} AS BIGINT) AS bin,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n) AS BIGINT) AS total_tokens,
       CAST(MIN(n) AS INTEGER) AS min_tokens,
       CAST(MAX(n) AS INTEGER) AS max_tokens
FROM t GROUP BY 1
"""

EXT_QUERIES["length_histogram"] = q_length_histogram
EXT_ORACLES["length_histogram"] = ORACLE_LENGTH_HISTOGRAM


# ---------------------------------------------------------------------------
# Tokenizer-grade inference (N1/N3 depth): file-driven subword tokenization,
# max_length/stride sliding windows, linear head per window — the Spark twin
# of the reference's tokenize→window→model loop
# (marie/executor/ner/ner_extraction_executor.py:192-374). The oracle replays
# the greedy longest-match tokenization from the SAME vocab file via a
# recursive CTE, the window math in integer SQL, and the head as a
# VALUES-join matmul (same pattern as ORACLE_CLASSIFY_NUMPY).
# ---------------------------------------------------------------------------

# query-time window params: small enough that sf0.01 documents (~50-100
# words → ~100-200 pieces) produce MULTI-window docs, so the stride/overlap
# contract is actually exercised by the driver gate; the operator defaults
# stay at the reference's 512/128
_SW_MAX_LENGTH = 64
_SW_STRIDE = 16


def q_classify_subword(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.inference import default_weights_path
    from .operators.tokenizer import tokenize_windows

    return tokenize_windows(
        _docs(spark, sf_dir),
        max_length=_SW_MAX_LENGTH,
        stride=_SW_STRIDE,
        weights_path=default_weights_path(),
    ).select(
        "doc_id", "window_idx", "n_windows", "n_tokens", "window_fp",
        "label", "score", "raw_best", "raw_total",
    )


def _subword_tok_ctes() -> str:
    """Shared WITH-body: vocab VALUES + greedy longest-match recursive
    tokenization per DISTINCT word + the ordered per-document token stream
    (CTE ``toks``: doc_id, i, pid). Used by the classify_subword and
    pack_subword oracles."""
    from .extractors.subword import UNK_ID, default_vocab_path, load_vocab

    vocab = load_vocab(default_vocab_path())
    vvals = ", ".join(
        f"('{p[2:] if p.startswith('##') else p}', "
        f"{1 if p.startswith('##') else 0}, {i})"
        for p, i in sorted(vocab.items(), key=lambda kv: kv[1])
        if not (p.startswith("[") and p.endswith("]"))
    )
    toks = _TOKENS_SQL.format(e="text")
    return f"""
vocab AS (SELECT * FROM (VALUES {vvals}) AS t(m, cont, id)),
words AS (
  SELECT doc_id, unnest(ws) AS w, unnest(range(len(ws))) AS wi
  FROM (SELECT doc_id, {toks} AS ws FROM documents)
),
dw AS (SELECT DISTINCT w FROM words WHERE length(w) > 0),
-- greedy longest-match per DISTINCT word: each step consumes the longest
-- vocab piece matching at pos (word-initial vs ##-continuation), or [UNK]
-- over one char when nothing matches
tok AS (
  SELECT w, 0 AS pos, 0 AS stp, CAST(NULL AS INTEGER) AS pid FROM dw
  UNION ALL
  SELECT w, pos + CAST(coalesce(m.l, 1) AS INTEGER), stp + 1,
         CAST(coalesce(m.i, {UNK_ID}) AS INTEGER)
  FROM (
    SELECT t.w, t.pos, t.stp,
      (SELECT {{'i': v.id, 'l': length(v.m)}}
       FROM vocab v
       WHERE v.cont = (CASE WHEN t.pos > 0 THEN 1 ELSE 0 END)
         AND substr(t.w, t.pos + 1, length(v.m)) = v.m
       ORDER BY length(v.m) DESC, v.id ASC LIMIT 1) AS m
    FROM tok t WHERE t.pos < length(t.w)
  )
),
pieces AS (SELECT w, stp, pid FROM tok WHERE stp >= 1),
toks AS (
  SELECT ws.doc_id,
         row_number() OVER (PARTITION BY ws.doc_id
                            ORDER BY ws.wi, p.stp) - 1 AS i,
         p.pid
  FROM words ws JOIN pieces p USING (w)
)"""


def _classify_subword_oracle_sql() -> str:
    import json

    from .extractors.subword import HASH_P
    from .operators.inference import default_weights_path

    with open(default_weights_path()) as f:
        spec = json.load(f)
    labels = sorted(spec["labels"])
    nb = int(spec["vocab_buckets"])
    wvals = ", ".join(
        f"('{lb}', {b}, {w})"
        for lb in labels
        for b, w in enumerate(spec["weights"][lb])
    )
    bvals = ", ".join(f"('{lb}', {spec['bias'][lb]})" for lb in labels)
    c = _SW_MAX_LENGTH - 2
    step = c - _SW_STRIDE
    return f"""
WITH RECURSIVE
{_subword_tok_ctes()},
wt AS (SELECT * FROM (VALUES {wvals}) AS t(l, b, w)),
bs AS (SELECT * FROM (VALUES {bvals}) AS t(l, bv)),
nn AS (
  SELECT doc_id, COUNT(*) AS n,
         CASE WHEN COUNT(*) <= {c} THEN 1
              ELSE CAST((COUNT(*) - {c} + {step} - 1) // {step} AS BIGINT) + 1
         END AS nw
  FROM toks GROUP BY doc_id
),
-- token i belongs to windows k in [max(0, ceil((i-C+1)/step)), min(i//step, nw-1)]
wk AS (
  SELECT t.doc_id, t.i, t.pid,
         CAST(unnest(range(
           CASE WHEN t.i < {c} THEN 0
                ELSE CAST((t.i - {c} + {step}) // {step} AS BIGINT) END,
           least(CAST(t.i // {step} AS BIGINT), nn.nw - 1) + 1
         )) AS INTEGER) AS k
  FROM toks t JOIN nn USING (doc_id)
),
win AS (
  SELECT wk.doc_id, wk.k, nn.nw, COUNT(*) AS n_tokens,
         list_reduce(
           list_prepend(CAST(0 AS BIGINT),
                        list(CAST(wk.pid AS BIGINT) ORDER BY wk.i)),
           (a, b) -> (a * 257 + b + 1) % {HASH_P}
         ) AS window_fp
  FROM wk JOIN nn USING (doc_id)
  GROUP BY wk.doc_id, wk.k, nn.nw
),
raws AS (
  SELECT s.doc_id, s.k, s.l, s.sw + bs.bv AS raw
  FROM (SELECT wk.doc_id, wk.k, wt.l, SUM(wt.w) AS sw
        FROM wk JOIN wt ON wt.b = wk.pid % {nb}
        GROUP BY 1, 2, 3) s
  JOIN bs ON s.l = bs.l
),
rk AS (
  SELECT doc_id, k, l, raw,
         SUM(raw) OVER (PARTITION BY doc_id, k) AS tot,
         row_number() OVER (PARTITION BY doc_id, k
                            ORDER BY raw DESC, l ASC) AS rn
  FROM raws
)
SELECT w.doc_id, CAST(w.k AS INTEGER) AS window_idx,
       CAST(w.nw AS INTEGER) AS n_windows,
       CAST(w.n_tokens AS INTEGER) AS n_tokens,
       CAST(w.window_fp AS BIGINT) AS window_fp,
       r.l AS "label",
       (CASE WHEN r.tot != 0
             THEN floor(r.raw / r.tot * 1000000.0 + 0.5) / 1000000.0
             ELSE 0.0 END) AS score,
       CAST(r.raw AS BIGINT) AS raw_best, CAST(r.tot AS BIGINT) AS raw_total
FROM win w JOIN rk r ON r.doc_id = w.doc_id AND r.k = w.k AND r.rn = 1
"""


ORACLE_CLASSIFY_SUBWORD = _classify_subword_oracle_sql()

EXT_QUERIES["classify_subword"] = q_classify_subword
EXT_ORACLES["classify_subword"] = ORACLE_CLASSIFY_SUBWORD


# ---------------------------------------------------------------------------
# Subword-exact sequence packing: tokenize → pack, the end-to-end
# context-window prep composition (pack_sequences sized by REAL subword
# counts from the vocab file instead of whitespace counts). The oracle
# reuses the shared recursive-CTE tokenization and replays the pack math.
# ---------------------------------------------------------------------------

_PACK_SW_CTX = 96
_PACK_SW_BUCKET = 64


def q_pack_subword(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.tokenizer import pack_subword

    return pack_subword(
        _docs(spark, sf_dir), ctx=_PACK_SW_CTX, bucket_size=_PACK_SW_BUCKET
    )


def _pack_subword_oracle_sql() -> str:
    return f"""
WITH RECURSIVE
{_subword_tok_ctes()},
t AS (SELECT doc_id, COUNT(*) n FROM toks GROUP BY doc_id),
cum AS (SELECT doc_id, n,
               SUM(n) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) - n
                 AS before
        FROM t),
p AS (SELECT doc_id, n, before,
             unnest(range(CAST(before // {_PACK_SW_CTX} AS BIGINT),
                          CAST((before + n - 1) // {_PACK_SW_CTX} + 1
                               AS BIGINT)))
               pack_id
      FROM cum)
SELECT CAST(pack_id AS BIGINT) AS pack_id,
       doc_id,
       CAST(greatest(pack_id * {_PACK_SW_CTX} - before, 0) AS INTEGER)
         AS start_tok,
       CAST(least((pack_id + 1) * {_PACK_SW_CTX} - before, n)
            - greatest(pack_id * {_PACK_SW_CTX} - before, 0) AS INTEGER)
         AS n_toks
FROM p
"""


ORACLE_PACK_SUBWORD = _pack_subword_oracle_sql()

EXT_QUERIES["pack_subword"] = q_pack_subword
EXT_ORACLES["pack_subword"] = ORACLE_PACK_SUBWORD


# ---------------------------------------------------------------------------
# CDC-driven incremental curation (plans/incremental.py): the query builds a
# PRE-DELTA stage catalog (some conversations absent, some truncated),
# then runs curate_incremental over the full transcripts with exactly those
# conversations marked affected. The oracle is LITERALLY the full-recompute
# corpus_pipeline SQL — the value-hash compare IS the incremental ==
# full-recompute equivalence certificate.
# ---------------------------------------------------------------------------


def q_corpus_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile

    from .plans import incremental as INC

    t = transcripts_from_docs(spark, sf_dir)
    # deterministic delta: conversations with hash%5==0 are NEW arrivals
    # (absent from the base), hash%5==1 GREW (base had only turns 0-1)
    h = F.pmod(F.xxhash64("conv_id"), F.lit(5))
    base = t.filter(~((h == 0) | ((h == 1) & (F.col("turn_idx") >= 2))))
    affected = (
        t.filter((h == 0) | (h == 1)).select("conv_id").distinct()
    )
    tmp = tempfile.mkdtemp(prefix="inc_stage_")
    handles: list = []
    try:
        INC.commit_stage(
            _CP.stage_convs(base), f"{tmp}/stage", n_buckets=8
        )
        out = INC.curate_incremental(
            spark,
            t,
            affected,
            f"{tmp}/stage",
            rates=dict(_CP.SAMPLE_RATES),
            n_buckets=8,
            persist_handles=handles,
        )
        pdf = out.toPandas()
    finally:
        for hd in handles:
            hd.unpersist()
        shutil.rmtree(tmp, ignore_errors=True)
    return spark.createDataFrame(pdf, schema=out.schema)


EXT_QUERIES["corpus_incremental"] = q_corpus_incremental
EXT_ORACLES["corpus_incremental"] = ORACLE_CORPUS_PIPELINE


# ---------------------------------------------------------------------------
# Mislabeled-token span merge (N5 / B5): horizontally-overlapping same-label
# spans chain-merge into envelope spans (the interval-merge twin of
# ner_extraction_executor.py:550-599 / boxmath merge_boxes). Spans derive
# deterministically from documents (one span per word; x unique within a
# (doc, line) by construction so window order is tie-free cross-engine),
# and the oracle replays the running-max chain flag + cumsum group id.
# ---------------------------------------------------------------------------


def q_span_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .functions.columns import portable_hash31, ws_tokens
    from .operators.kv import merge_spans_horizontal

    d = _docs(spark, sf_dir)
    words = d.select(
        "doc_id",
        F.posexplode(ws_tokens(F.col("text"))).alias("wi", "word"),
    )
    h = portable_hash31(F.concat_ws(":", "word", F.col("wi").cast("string")))
    spans = words.select(
        "doc_id",
        (F.col("wi") / 10).cast("int").alias("line_no"),
        F.when(portable_hash31(F.col("word")) % 2 == 0, F.lit("key"))
        .otherwise(F.lit("value"))
        .alias("label"),
        (F.pmod(F.col("wi"), F.lit(10)) * 500).cast("int").alias("x"),
        ((F.col("wi") / 10).cast("int") * 20).cast("int").alias("y"),
        (100 + h % 900).cast("int").alias("w"),
        (10 + h % 15).cast("int").alias("h"),
        F.col("word").alias("span_text"),
        (h % 1000).cast("long").alias("score"),
    )
    return merge_spans_horizontal(spans).select(
        "doc_id", "line_no", "label", "group_id", "span_text",
        "x", "y", "w", "h", F.col("score").cast("long").alias("score"),
    )


def _span_merge_oracle_sql() -> str:
    toks = _TOKENS_SQL.format(e="text")
    h = portable_hash31_sql("word || ':' || CAST(wi AS VARCHAR)")
    hw = portable_hash31_sql("word")
    return f"""
WITH words AS (
  SELECT doc_id, unnest(w) AS word,
         CAST(unnest(range(len(w))) AS INTEGER) AS wi
  FROM (SELECT doc_id, {toks} AS w FROM documents)
),
spans AS (
  SELECT doc_id,
         CAST(wi // 10 AS INTEGER) AS line_no,
         CASE WHEN ({hw}) % 2 = 0 THEN 'key' ELSE 'value' END AS "label",
         CAST((wi % 10) * 500 AS INTEGER) AS x,
         CAST((wi // 10) * 20 AS INTEGER) AS y,
         CAST(100 + ({h}) % 900 AS INTEGER) AS w,
         CAST(10 + ({h}) % 15 AS INTEGER) AS h,
         word AS span_text,
         CAST(({h}) % 1000 AS BIGINT) AS score
  FROM words
),
flag AS (
  SELECT *,
         max(x + w) OVER (PARTITION BY doc_id, line_no, "label"
                          ORDER BY x
                          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
           AS pm
  FROM spans
),
grp AS (
  SELECT *,
         CAST(SUM(CASE WHEN pm IS NULL OR x >= pm THEN 1 ELSE 0 END)
              OVER (PARTITION BY doc_id, line_no, "label" ORDER BY x
                    ROWS UNBOUNDED PRECEDING) AS INTEGER) AS group_id
  FROM flag
)
SELECT doc_id, line_no, "label", group_id,
       string_agg(span_text, ' ' ORDER BY x) AS span_text,
       CAST(MIN(x) AS INTEGER) AS x, CAST(MIN(y) AS INTEGER) AS y,
       CAST(MAX(x + w) - MIN(x) AS INTEGER) AS w,
       CAST(MAX(y + h) - MIN(y) AS INTEGER) AS h,
       CAST(MAX(score) AS BIGINT) AS score
FROM grp
GROUP BY doc_id, line_no, "label", group_id
"""


ORACLE_SPAN_MERGE = _span_merge_oracle_sql()

EXT_QUERIES["span_merge"] = q_span_merge
EXT_ORACLES["span_merge"] = ORACLE_SPAN_MERGE


# ---------------------------------------------------------------------------
# JPEG pixel decode under the driver gate: flat-block baseline JPEGs are
# synthesized per document (YCbCr derived from doc_id by integer math), the
# REAL decoder (Huffman → IDCT → YCbCr→RGB, multimodal.decode_jpeg_pixels)
# recovers the pixels, and the oracle replays the exact pinned math —
# floor(channel + .5) of the JFIF formulas — in SQL.
# ---------------------------------------------------------------------------


def _jpeg_ycc_exprs(doc_id: str) -> tuple[str, str, str]:
    return (
        f"(7 * {doc_id} + 31) % 256",
        f"128 + (13 * {doc_id}) % 80 - 40",
        f"128 + (19 * {doc_id}) % 80 - 40",
    )


def q_jpeg_pixel_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.multimodal import encode_flat_jpeg, media_pixel_stats

    def make(batches):
        import pandas as pd

        for pdf in batches:
            rows = []
            for did in pdf["doc_id"]:
                d = int(did)
                rows.append(
                    (
                        str(d),
                        "image/jpeg",
                        encode_flat_jpeg(
                            (7 * d + 31) % 256,
                            128 + (13 * d) % 80 - 40,
                            128 + (19 * d) % 80 - 40,
                        ),
                    )
                )
            yield pd.DataFrame(
                rows, columns=["asset_id", "media_type", "content"]
            )

    assets = (
        _docs(spark, sf_dir)
        .select("doc_id")
        .mapInPandas(
            make, "asset_id string, media_type string, content binary"
        )
    )
    return media_pixel_stats(assets).filter(F.col("ok")).select(
        F.col("asset_id").cast("long").alias("doc_id"),
        "mean_r", "mean_g", "mean_b", "min_lum", "max_lum",
    )


def _jpeg_pixel_oracle_sql() -> str:
    yv, cbv, crv = _jpeg_ycc_exprs("doc_id")
    rgb = {
        "r": f"({yv}) + 1.402 * (({crv}) - 128)",
        "g": (
            f"({yv}) - 0.344136 * (({cbv}) - 128)"
            f" - 0.714136 * (({crv}) - 128)"
        ),
        "b": f"({yv}) + 1.772 * (({cbv}) - 128)",
    }
    ch = ",\n         ".join(
        f"least(greatest(floor(({e}) + 0.5), 0), 255) AS {c}"
        for c, e in rgb.items()
    )
    return f"""
WITH px AS (
  SELECT doc_id,
         {ch}
  FROM documents)
SELECT doc_id,
       CAST(r AS DOUBLE) AS mean_r, CAST(g AS DOUBLE) AS mean_g,
       CAST(b AS DOUBLE) AS mean_b,
       CAST((299 * CAST(r AS BIGINT) + 587 * CAST(g AS BIGINT)
             + 114 * CAST(b AS BIGINT)) // 1000 AS INTEGER) AS min_lum,
       CAST((299 * CAST(r AS BIGINT) + 587 * CAST(g AS BIGINT)
             + 114 * CAST(b AS BIGINT)) // 1000 AS INTEGER) AS max_lum
FROM px
"""


ORACLE_JPEG_PIXEL_STATS = _jpeg_pixel_oracle_sql()

EXT_QUERIES["jpeg_pixel_stats"] = q_jpeg_pixel_stats
EXT_ORACLES["jpeg_pixel_stats"] = ORACLE_JPEG_PIXEL_STATS


# ---------------------------------------------------------------------------
# Multi-page TIFF decode under the driver gate: per document a multi-page
# bilevel TIFF is synthesized (page count, dims, and a black rectangle all
# integer-derived from doc_id; compression cycles G4 / none / PackBits so
# all three REAL codecs in operators.tiffio are exercised), the real
# container walk + CCITT Group-4 decoder recovers the pixels page-by-page
# (tiff_page_stats fan-out — the reference's frame-per-page loader shape,
# marie/utils/docs.py:224), and the oracle replays the geometry in pure
# integer SQL. Scaled integer-division means keep the compare exact.
# ---------------------------------------------------------------------------


def q_tiff_page_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators import tiffio
    from .operators.multimodal import tiff_page_stats

    def make(batches):
        import numpy as np
        import pandas as pd

        comps = (tiffio.COMP_G4, tiffio.COMP_NONE, tiffio.COMP_PACKBITS)
        for pdf in batches:
            rows = []
            for did in pdf["doc_id"]:
                d = int(did)
                frames = []
                for k in range(1 + d % 3):
                    w = 24 + 8 * ((d + k) % 4)
                    h = 16 + 8 * (k % 3)
                    img = np.zeros((h, w), np.uint8)
                    r0, c0 = k % 4, d % 5
                    img[r0 : r0 + h // 2, c0 : c0 + w // 2] = 1
                    frames.append(
                        dict(mode="bilevel", width=w, height=h,
                             pixels=img, compression=comps[k % 3])
                    )
                rows.append((str(d), tiffio.encode_tiff(frames)))
            yield pd.DataFrame(rows, columns=["asset_id", "content"])

    assets = (
        _docs(spark, sf_dir)
        .select("doc_id")
        .mapInPandas(make, "asset_id string, content binary")
    )
    stats = tiff_page_stats(assets).filter(F.col("ok"))
    return stats.select(
        (F.col("asset_id").cast("long") * 10 + F.col("page")).alias("doc_id"),
        F.expr("CAST((sum_r * 1000) DIV (CAST(width AS BIGINT)"
               " * height) AS DOUBLE)").alias("mean_r"),
        F.expr("CAST((sum_g * 1000) DIV (CAST(width AS BIGINT)"
               " * height) AS DOUBLE)").alias("mean_g"),
        F.expr("CAST((sum_b * 1000) DIV (CAST(width AS BIGINT)"
               " * height) AS DOUBLE)").alias("mean_b"),
        "min_lum", "max_lum",
    )


ORACLE_TIFF_PAGE_STATS = """
WITH pages AS (
  SELECT doc_id AS d, CAST(unnest(range(1 + doc_id % 3)) AS BIGINT) AS k
  FROM documents
),
stats AS (
  SELECT d, k,
         CAST(24 + 8 * ((d + k) % 4) AS BIGINT)
           * CAST(16 + 8 * (k % 3) AS BIGINT) AS total,
         (CAST(16 + 8 * (k % 3) AS BIGINT) // 2)
           * (CAST(24 + 8 * ((d + k) % 4) AS BIGINT) // 2) AS black
  FROM pages
)
SELECT d * 10 + k AS doc_id,
       CAST((255 * (total - black) * 1000) // total AS DOUBLE) AS mean_r,
       CAST((255 * (total - black) * 1000) // total AS DOUBLE) AS mean_g,
       CAST((255 * (total - black) * 1000) // total AS DOUBLE) AS mean_b,
       CAST(0 AS INTEGER) AS min_lum,
       CAST(255 AS INTEGER) AS max_lum
FROM stats
"""

EXT_QUERIES["tiff_page_stats"] = q_tiff_page_stats
EXT_ORACLES["tiff_page_stats"] = ORACLE_TIFF_PAGE_STATS


# ---------------------------------------------------------------------------
# TIFF packer sink (S12 output side): the reference merges per-page clean
# images into ONE multi-page CCITT G4 TIFF per unit
# (marie/pipe/extract_pipeline.py:594-604 merge_tiff → .clean.tif). The
# transposition packs each conversation's grid-rendered layout pages
# (text_renderer twin) into one multi-page G4 blob with the REAL encoder,
# re-decodes it with the REAL decoder, and certifies per-page dims + ink
# pixel counts against the grid SQL replay: every non-space char cell
# contributes exactly one 6x12 ink block (72 px) in an 8x16 cell.
# ---------------------------------------------------------------------------


def q_tiff_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators import tiffio
    from .operators.multimodal import label_components_4

    grid = _grid_pages(spark, sf_dir)
    packed = grid.groupBy("conv_id").agg(
        F.array_sort(
            F.collect_list(F.struct("turn_idx", "grid_text", "total_box_w"))
        ).alias("pages")
    )

    def pack(batches):
        import numpy as np
        import pandas as pd

        glyph = np.zeros((16, 8), np.uint8)
        glyph[2:14, 1:7] = 1
        for pdf in batches:
            out_rows = []
            for conv_id, pages in zip(pdf["conv_id"], pdf["pages"]):
                frames, meta = [], []
                for p in pages:
                    rows = p["grid_text"].split("\n")
                    ml = max(max(len(r) for r in rows), 1)
                    mask = np.zeros((len(rows), ml), np.uint8)
                    for i, r in enumerate(rows):
                        b = np.frombuffer(
                            r.ljust(ml).encode("latin1", "replace"),
                            np.uint8,
                        )
                        mask[i] = (b != 32).astype(np.uint8)
                    img = np.kron(mask, glyph)
                    frames.append(
                        dict(mode="bilevel", width=img.shape[1],
                             height=img.shape[0], pixels=img,
                             compression=tiffio.COMP_G4)
                    )
                    meta.append((int(p["turn_idx"]), int(p["total_box_w"])))
                blob = tiffio.encode_tiff(frames)
                decoded = tiffio.decode_tiff_frames(
                    blob, max_pages=len(frames)
                )
                for (ti, tw), (w, h, rgb) in zip(meta, decoded):
                    # stats from the DECODED raster: ink census + the
                    # reference's char-width estimate (CC count over the
                    # page, box_processor.py:70-127)
                    bl = (
                        np.frombuffer(rgb, np.uint8)[0::3].reshape(h, w)
                        == 0
                    ).astype(np.uint8)
                    ink = int(bl.sum())
                    ncc = label_components_4(bl)
                    cw = 8 if ncc == 0 else tw // ncc
                    out_rows.append(
                        (conv_id, ti, f"{w}x{h}:{ink}:{ncc}:{cw}")
                    )
            yield pd.DataFrame(
                out_rows, columns=["conv_id", "turn_idx", "tiff_stats"]
            )

    return packed.mapInPandas(
        pack, "conv_id string, turn_idx int, tiff_stats string"
    )


ORACLE_TIFF_PACK = """
WITH gt AS ({grid}),
tw AS (
  SELECT conv_id, turn_idx, SUM(x1 - x0) tot
  FROM ({words}) GROUP BY 1, 2),
m AS (
  SELECT gt.conv_id, gt.turn_idx,
         greatest(list_max(list_transform(
           str_split(grid_text, chr(10)), s -> len(s))), 1) ml,
         len(str_split(grid_text, chr(10))) nr,
         len(replace(replace(grid_text, ' ', ''), chr(10), '')) ink,
         COALESCE(tw.tot, 0) tot
  FROM gt LEFT JOIN tw USING (conv_id, turn_idx))
SELECT conv_id, turn_idx,
       CAST(8 * ml AS VARCHAR) || 'x' || CAST(16 * nr AS VARCHAR)
         || ':' || CAST(72 * ink AS VARCHAR)
         || ':' || CAST(ink AS VARCHAR)
         || ':' || CAST(CASE WHEN ink = 0 THEN 8
                             ELSE tot // ink END AS VARCHAR) AS tiff_stats
FROM m
""".format(grid=ORACLE_GRID_RENDER, words=_LAYOUT_WORDS_SQL)

EXT_QUERIES["tiff_pack"] = q_tiff_pack
EXT_ORACLES["tiff_pack"] = ORACLE_TIFF_PACK


# ---------------------------------------------------------------------------
# ZIP packer sink (the other half of S12): the reference merges the per-page
# Adlib / blob XML artifacts into {prefix}.ocr.zip / {prefix}.blobs.xml.zip
# via merge_zip (marie/utils/zip_ops.py:9-15 — sorted names, default
# ZIP_STORED, no compression). The transposition packs each conversation's
# per-turn XML sink outputs into a REAL in-memory stdlib zipfile with
# pinned metadata (epoch 1980 timestamps, STORED), and certifies entry
# count, total payload bytes, and the exact container byte size — STORED
# zip size is pure arithmetic (30+name+data local header, 46+name central
# entry, 22 EOCD), so the oracle replays it from the XML strings alone.
# ---------------------------------------------------------------------------


def q_zip_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    adlib = q_adlib_xml(spark, sf_dir).select(
        "conv_id", "turn_idx", F.col("adlib_xml").alias("xml"),
        F.lit("ocr.zip").alias("kind"),
    )
    blob = q_blob_xml(spark, sf_dir).select(
        "conv_id", "turn_idx", F.col("blobs_xml").alias("xml"),
        F.lit("blobs.xml.zip").alias("kind"),
    )
    entries = adlib.unionByName(blob).groupBy("conv_id", "kind").agg(
        F.array_sort(
            F.collect_list(F.struct("turn_idx", "xml"))
        ).alias("entries")
    )

    def pack(batches):
        import io
        import zipfile

        import pandas as pd

        for pdf in batches:
            rows = []
            for conv_id, kind, ents in zip(
                pdf["conv_id"], pdf["kind"], pdf["entries"]
            ):
                ext = "adlib.xml" if kind == "ocr.zip" else "blobs.xml"
                bio = io.BytesIO()
                with zipfile.ZipFile(bio, "w") as zf:
                    for e in ents:
                        zi = zipfile.ZipInfo(
                            f"{int(e['turn_idx']):06d}.{ext}",
                            (1980, 1, 1, 0, 0, 0),
                        )
                        zf.writestr(
                            zi, e["xml"].encode("utf-8"),
                            zipfile.ZIP_STORED,
                        )
                blob_bytes = len(bio.getvalue())
                n = len(ents)
                tot = sum(len(e["xml"].encode("utf-8")) for e in ents)
                rows.append(
                    (conv_id, -1, f"{kind}:{n}:{tot}:{blob_bytes}")
                )
            yield pd.DataFrame(
                rows, columns=["conv_id", "turn_idx", "zip_stats"]
            )

    return entries.mapInPandas(
        pack, "conv_id string, turn_idx int, zip_stats string"
    )


ORACLE_ZIP_PACK = """
WITH a AS ({adlib}), b AS ({blob}),
u AS (
  SELECT conv_id, turn_idx, 'ocr.zip' AS kind, strlen(adlib_xml) AS sz
  FROM a
  UNION ALL
  SELECT conv_id, turn_idx, 'blobs.xml.zip' AS kind, strlen(blobs_xml) AS sz
  FROM b
),
-- entry name is printf('%06d.', turn_idx) + a 9-char extension: 16 bytes
-- until turn_idx needs 7+ digits (>= 10^6, i.e. >= 89M documents), then
-- it grows — size the local+central headers per entry, not at 16 flat
e AS (
  SELECT *,
         greatest(6, len(CAST(turn_idx AS VARCHAR))) + 10 AS name_len
  FROM u
),
g AS (
  SELECT conv_id, kind, COUNT(*) n, SUM(sz) tot,
         SUM(2 * name_len) nl2
  FROM e GROUP BY 1, 2)
SELECT conv_id, CAST(-1 AS INTEGER) AS turn_idx,
       kind || ':' || CAST(n AS VARCHAR) || ':' || CAST(tot AS VARCHAR)
         || ':' || CAST(n * (30 + 46) + nl2 + tot + 22 AS VARCHAR)
         AS zip_stats
FROM g
""".format(adlib=ORACLE_ADLIB_XML, blob=ORACLE_BLOB_XML)

EXT_QUERIES["zip_pack"] = q_zip_pack
EXT_ORACLES["zip_pack"] = ORACLE_ZIP_PACK


def _pdf_page_from_turn(words, lines) -> "object":
    """One turn's (word structs, line structs) → a ``pdfio.PdfPage``.

    Fail-soft like the extraction contract: a blank turn (no lines/words)
    becomes an op-less 1×1 page (the reference's degenerate empty
    ``drawString``, pdf_renderer.py:80-83), and a word whose line id is
    missing from the line structs falls back to its own box for the
    baseline — exactly the reference's ``wid in word2line`` else-branch
    (pdf_renderer.py:113-122).
    """
    from .operators import pdfio

    line_map = {
        int(l["line"]): (int(l["bbox"][1]), int(l["bbox"][3]))
        for l in lines
    }
    extents = [
        (int(l["bbox"][0] + l["bbox"][2]), int(l["bbox"][1] + l["bbox"][3]))
        for l in lines
    ] or [
        (int(w["box"][0] + w["box"][2]), int(w["box"][1] + w["box"][3]))
        for w in words
    ]
    if not extents:
        return pdfio.PdfPage(1, 1, [])
    img_w = max(e[0] for e in extents)
    img_h = max(e[1] for e in extents)
    rows_in = []
    for w in sorted(words, key=lambda w: int(w["word_index"])):
        ly, lh = line_map.get(
            int(w["line"]), (int(w["box"][1]), int(w["box"][3]))
        )
        rows_in.append(
            (
                w["text"],
                int(w["box"][0]),
                int(w["box"][1]),
                int(w["box"][2]),
                int(w["box"][3]),
                ly,
                lh,
            )
        )
    return pdfio.PdfPage(
        img_w, img_h, pdfio.render_word_ops(rows_in, img_h)
    )


def q_pdf_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PDF renderer sink (S9, marie/renderer/pdf_renderer.py:33-168): one
    searchable PDF per conversation, a page per layout turn, each word a
    Helvetica text op placed by the reference's baseline transform (left
    pad 5, ``img_h - line_y - lh*0.80``, font from line height via
    draw_truetype.py:51-63, word2line lookup, empty/vertical-text skips).

    Certification is a full encode→parse roundtrip: the emitted stats are
    computed from the PARSED ops of the packed PDF bytes, and the oracle
    replays the placement arithmetic over the layout-word SQL. Pages with
    zero draw ops are dropped on both sides (inner-join semantics).

    Scale shape: two keyed shuffles (turn page build, conversation pack)
    + one narrow mapInPandas; a conversation is bounded by CONV_MOD so no
    single task holds more than one conversation's pages.
    """
    from .functions.columns import portable_hash31_py
    from .operators import pdfio

    t = transcripts_from_docs(spark, sf_dir)
    e = extract_turns(t, with_structs=True).filter(
        F.col("payload_kind") == "layout"
    )
    convs = (
        e.select("conv_id", "turn_idx", "words", "lines")
        .groupBy("conv_id")
        .agg(
            F.array_sort(
                F.collect_list(F.struct("turn_idx", "words", "lines"))
            ).alias("pages")
        )
    )

    def pack(batches):
        import pandas as pd

        for pdf in batches:
            rows = []
            for conv_id, pages in zip(pdf["conv_id"], pdf["pages"]):
                built, tidx = [], []
                for p in pages:
                    built.append(
                        _pdf_page_from_turn(p["words"], p["lines"])
                    )
                    tidx.append(int(p["turn_idx"]))
                blob = pdfio.encode_pdf(built)
                for ti, pg in zip(tidx, pdfio.decode_pdf_pages(blob)):
                    if not pg.ops:
                        continue
                    txt = " ".join(op[3] for op in pg.ops)
                    h31 = portable_hash31_py(txt)
                    rows.append(
                        (
                            conv_id,
                            ti,
                            "%dx%d:%d:%d:%d:%d:%d"
                            % (
                                pg.width,
                                pg.height,
                                len(pg.ops),
                                sum(op[0] for op in pg.ops),
                                sum(op[1] for op in pg.ops),
                                sum(op[2] for op in pg.ops),
                                h31,
                            ),
                        )
                    )
            yield pd.DataFrame(
                rows, columns=["conv_id", "turn_idx", "pdf_stats"]
            )

    return convs.mapInPandas(
        pack, "conv_id string, turn_idx int, pdf_stats string"
    )


ORACLE_PDF_PACK = """
WITH w AS ({words}),
pg AS (
  SELECT conv_id, turn_idx, MAX(x1) iw, MAX(y1) ih
  FROM w GROUP BY 1, 2),
ops AS (
  SELECT w.conv_id, w.turn_idx, w.word_index, w.word_text,
         (((w.y1 - w.y0) // 2) * 13) // 10 fs,
         w.x0 + 5 px,
         pg.ih - w.y0 - ((w.y1 - w.y0) * 4) // 5 py
  FROM w JOIN pg USING (conv_id, turn_idx)
  WHERE len(w.word_text) > 0
    AND NOT (len(w.word_text) > 2
             AND 10 * (w.x1 - w.x0) < 4 * (w.y1 - w.y0))),
agg AS (
  SELECT conv_id, turn_idx, COUNT(*) n, SUM(fs) sfs, SUM(px) sx,
         SUM(py) sy,
         string_agg(word_text, ' ' ORDER BY word_index) txt
  FROM ops GROUP BY 1, 2)
SELECT pg.conv_id, pg.turn_idx,
       CAST(pg.iw AS VARCHAR) || 'x' || CAST(pg.ih AS VARCHAR)
         || ':' || CAST(agg.n AS VARCHAR)
         || ':' || CAST(agg.sfs AS VARCHAR)
         || ':' || CAST(agg.sx AS VARCHAR)
         || ':' || CAST(agg.sy AS VARCHAR)
         || ':' || CAST({h31} AS VARCHAR) AS pdf_stats
FROM pg JOIN agg USING (conv_id, turn_idx)
""".format(words=_LAYOUT_WORDS_SQL, h31=portable_hash31_sql("agg.txt"))

EXT_QUERIES["pdf_pack"] = q_pdf_pack
EXT_ORACLES["pdf_pack"] = ORACLE_PDF_PACK
