"""MEASURED retrieval-quality property for hybrid BM25+RRF fusion
(VERDICT r6 task 5, mirroring the Tiny-vs-hashing pattern of
tests/test_embedding_st.py): on a corpus where some relevant docs are
reachable ONLY by keyword and others ONLY by embedding, fused
recall@k must be >= each single channel's recall and strictly greater
on the mixed relevant set — fusion is benefit-measured, not just
mechanism-verified."""

from __future__ import annotations

from pyspark.sql import functions as F

from vector_db_ingestor_spark.functions.literals import doubles_sql
from vector_db_ingestor_spark.functions.vector import cosine_similarity
from vector_db_ingestor_spark.operators.retrieval import (
    bm25_scores,
    ranked_topn,
    rrf_fuse,
)

# the query: terms for the keyword channel, a probe for the dense one
QUERY_TERMS = ["refund", "baggage"]
PROBE = [1.0, 0.0, 0.0, 0.0]

# 3 keyword-only relevant docs: query terms present, embeddings
# orthogonal to the probe (a paraphrase the embedder missed)
KW_DOCS = [
    ("k1", "refund baggage refund policy", [0.0, 1.0, 0.0, 0.0]),
    ("k2", "refund baggage claim desk", [0.0, 0.9, 0.4, 0.0]),
    ("k3", "baggage refund window hours", [0.0, 0.8, 0.6, 0.0]),
]
# 3 embedding-only relevant docs: paraphrased text without either
# query term, embeddings near the probe
EMB_DOCS = [
    ("e1", "money back for lost luggage", [0.99, 0.1, 0.0, 0.0]),
    ("e2", "reimbursement of suitcase fees", [0.98, 0.15, 0.0, 0.0]),
    ("e3", "compensation when bags go missing", [0.97, 0.2, 0.0, 0.0]),
]
# distractors: no query terms, mid-similarity embeddings — close
# enough to crowd the dense shortlist, never ahead of the e-docs
DISTRACTORS = [
    (f"d{i}", f"weather report region {i} sunny", [0.5, 0.5 + i / 100.0, 0.1, 0.0])
    for i in range(8)
]

RELEVANT = {d[0] for d in KW_DOCS} | {d[0] for d in EMB_DOCS}


def _recall(ids: set[str]) -> float:
    return len(ids & RELEVANT) / len(RELEVANT)


def test_rrf_fused_recall_beats_each_single_channel(spark):
    docs = spark.createDataFrame(
        KW_DOCS + EMB_DOCS + DISTRACTORS,
        "doc_id STRING, text STRING, embedding ARRAY<DOUBLE>",
    )

    kw = ranked_topn(
        bm25_scores(docs, QUERY_TERMS), "bm25", "doc_id", 5, "kw_rank"
    ).select("doc_id", "kw_rank")
    dense_scored = docs.select(
        "doc_id",
        F.round(
            cosine_similarity("embedding", doubles_sql(PROBE)),
            6,
        ).alias("cos"),
    )
    vec = ranked_topn(dense_scored, "cos", "doc_id", 5, "vec_rank").select(
        "doc_id", "vec_rank"
    )

    kw_ids = {r.doc_id for r in kw.collect()}
    vec_ids = {r.doc_id for r in vec.collect()}
    # single-channel blindness is structural: the keyword channel
    # cannot row a doc with zero query terms, and the dense shortlist
    # ranks orthogonal keyword docs below every distractor
    assert kw_ids & RELEVANT == {"k1", "k2", "k3"}
    assert vec_ids & RELEVANT == {"e1", "e2", "e3"}
    kw_recall, vec_recall = _recall(kw_ids), _recall(vec_ids)
    assert kw_recall == vec_recall == 0.5

    fused = rrf_fuse({"kw": kw, "vec": vec})
    top6 = fused.orderBy(F.col("rrf").desc(), F.col("doc_id").asc()).limit(6)
    fused_ids = {r.doc_id for r in top6.collect()}
    fused_recall = _recall(fused_ids)

    # fused >= each channel everywhere, strictly > on the mixed set
    assert fused_recall >= kw_recall and fused_recall >= vec_recall
    assert fused_recall > max(kw_recall, vec_recall)
    assert fused_recall == 1.0, fused_ids
    # the two-channel survivors outrank every single-channel distractor:
    # a doc ranked r in one channel contributes 1/(60+r), so the worst
    # relevant doc (rank 3 somewhere) still beats the best distractor
    # (rank 4 in the dense list)
    ordered = [r.doc_id for r in top6.orderBy(
        F.col("rrf").desc(), F.col("doc_id").asc()
    ).collect()]
    assert set(ordered) == RELEVANT, ordered
