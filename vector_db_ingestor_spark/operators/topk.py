"""Exact top-k similarity search as DataFrame plans.

Reference capabilities covered (SURVEY §2A):

* R10 — ``search_documents`` top-k k-NN (``src/PDFToChromaIngester.py:225-235``)
* R11 — ``search_for_rag`` filtered top-k with metadata ``where``
  (``src/PDFToChromaIngester.py:250-287``)

Spark-first design:

* Single probe / small probe batch → score with a JVM-side cosine
  expression, then ``orderBy(...).limit(k)``.  Catalyst compiles that to
  ``TakeOrderedAndProject`` — each task keeps a k-row heap, only k rows
  per partition move to the driver side of the exchange.  No full sort,
  no full shuffle; this scales linearly with table size at 100 TB.
* Metadata filters go *before* scoring (`.filter` on the scan) so
  Catalyst pushes them into the parquet scan (row-group skipping) and we
  never score excluded rows — the moral equivalent of Chroma's
  pre-filter ``where``.
* Grouped (per-label / per-query) top-k → window ``row_number() <= k``,
  one hash shuffle on the partition key; at scale prefer
  pre-partitioning the table by that key to make the shuffle a no-op.

Every ranking carries an explicit ``vec_id`` tie-break (determinism
rule, FIXTURES.md) — the reference's HNSW ties are unordered, which is
exactly what we must not reproduce under a hash-checking oracle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from vector_db_ingestor_spark.functions.literals import doubles_sql
from vector_db_ingestor_spark.functions.vector import cosine_similarity


def topk_cosine(
    embeddings: DataFrame,
    probe: list[float],
    k: int = 10,
    predicate: Column | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_dp: int = 6,
) -> DataFrame:
    """Exact top-k cosine neighbors of one probe vector.

    Returns (id, label-ish passthroughs.., score, rank) with score
    rounded for cross-engine float stability and rank tie-broken on id.
    """
    scored = embeddings
    if predicate is not None:
        scored = scored.filter(predicate)
    scored = scored.withColumn(
        "score", F.round(cosine_similarity(f"`{vec_col}`", doubles_sql(probe)), round_dp)
    )
    top = (
        scored.drop(vec_col)
        .orderBy(F.col("score").desc(), F.col(id_col).asc())
        .limit(k)
    )
    w = Window.orderBy(F.col("score").desc(), F.col(id_col).asc())
    return top.withColumn("rank", F.row_number().over(w))


def topk_cosine_batch(
    embeddings: DataFrame,
    probes: DataFrame,
    k: int = 10,
    predicate: Column | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    probe_id_col: str = "query_idx",
    probe_vec_col: str = "query_vec",
    round_dp: int = 6,
) -> DataFrame:
    """Batched R10 (Chroma ``query_texts`` is a LIST,
    ``src/PDFToChromaIngester.py:228-231``): N probes answered by ONE
    scan of the collection.

    The probe set is tiny → broadcast; scoring is a JVM cosine against
    each probe; per-probe ranking is a window on the probe id.  All
    passthrough columns survive (unlike
    :func:`~vector_db_ingestor_spark.operators.similarity.
    brute_force_topk`, which returns ids only).  One scan + one window
    shuffle regardless of probe count — at 100 TB, batching 100 queries
    costs ~1 scan, not 100.
    """
    scored = embeddings
    if predicate is not None:
        scored = scored.filter(predicate)
    scored = scored.crossJoin(F.broadcast(probes)).withColumn(
        "score",
        F.round(cosine_similarity(f"`{vec_col}`", f"`{probe_vec_col}`"), round_dp),
    )
    w = Window.partitionBy(probe_id_col).orderBy(
        F.col("score").desc(), F.col(id_col).asc()
    )
    return (
        scored.drop(vec_col, probe_vec_col)
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def knn_per_group(
    embeddings: DataFrame,
    probe: list[float],
    group_col: str = "label",
    k: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_dp: int = 6,
) -> DataFrame:
    """Best k neighbors of the probe within each group (batched R10).

    One shuffle on ``group_col``; ``row_number`` keeps k rows per group.
    """
    scored = embeddings.withColumn(
        "score", F.round(cosine_similarity(f"`{vec_col}`", doubles_sql(probe)), round_dp)
    )
    w = Window.partitionBy(group_col).orderBy(F.col("score").desc(), F.col(id_col).asc())
    return (
        scored.drop(vec_col)
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )
