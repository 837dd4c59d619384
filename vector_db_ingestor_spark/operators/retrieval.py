"""Hybrid retrieval operators: BM25 keyword scoring, reciprocal-rank
fusion, and MMR diversified re-ranking.

Reference context: the reference's retrieval surface is dense-only
top-k over Chroma's HNSW index (``src/PDFToChromaIngester.py:225-235``)
followed by greedy RAG context assembly
(``src/PDFToChromaIngester.py:250-287``).  A production retrieval stack
pairs the dense channel with a keyword (BM25) channel, fuses the two
rank lists with reciprocal-rank fusion, and diversifies the final list
with maximal-marginal-relevance re-ranking — these operators complete
that suite Spark-first:

* :func:`bm25_scores` — pure DataFrame plan: one token explode with
  map-side partial aggregation, document-frequency table broadcast back
  (vocabulary-sized, like q_tfidf's df table), corpus stats as a
  broadcast 1-row aggregate.  No Python in the hot path.
* :func:`rrf_fuse` — full outer join of per-channel rank lists; each
  list is already top-N (tiny), so fusion is a driver-light broadcast
  join at any corpus scale.
* :func:`mmr_rerank` — greedy selection is inherently sequential in k,
  but it only ever runs on an O(N) shortlist (N fixed, independent of
  corpus size), so it executes as ONE ``applyInPandas`` task over the
  shortlist's pairwise-similarity rows.  The pairwise cosines are
  computed JVM-side on the N x N self-join (N^2 rows of a constant-size
  shortlist) and rounded BEFORE entering Python, so the Python step does
  no float reduction of its own — the oracle can replay the identical
  greedy argmax on identical doubles.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from vector_db_ingestor_spark.functions.literals import doubles_sql
from vector_db_ingestor_spark.functions.vector import cosine_similarity

# ------------------------------------------------------------- BM25


def bm25_scores(
    docs: DataFrame,
    terms: list[str],
    text_col: str = "text",
    id_col: str = "doc_id",
    k1: float = 1.2,
    b: float = 0.75,
    round_dp: int = 6,
) -> DataFrame:
    """Per-document BM25 score for a bag-of-terms query.

    ``idf = ln(1 + (N - df + 0.5) / (df + 0.5))`` (the non-negative
    Robertson-Sparck-Jones form), ``score = sum_t idf_t * tf * (k1+1) /
    (tf + k1 * (1 - b + b * dl/avgdl))``.  Only documents containing at
    least one query term get a row (classic inverted-index behavior).

    Shuffle budget: one partial-aggregated explode for tf (filtered to
    the query terms BEFORE the aggregation, so the exchange carries only
    matching tokens), one tiny hash agg for df (broadcast back), one
    1-row corpus-stats agg (broadcast cross join).  At 100 TB the only
    data-sized movement is the per-(doc, query-term) tf exchange.

    Each term's contribution is rounded to ``round_dp`` BEFORE the
    per-doc sum (and again after): cross-engine oracles sum in their
    own partial-agg order, and pre-rounding the <=len(terms) addends
    keeps a score landing on a rounding boundary from hash-diverging.
    """
    base = docs.select(
        F.col(id_col).alias("bm_id"),
        F.split(F.lower(F.trim(F.col(text_col))), r"\s+").alias("toks"),
    )
    stats = base.agg(
        F.count("*").cast("double").alias("n_docs"),
        F.avg(F.size("toks")).alias("avgdl"),
    )
    tf = (
        base.select("bm_id", F.size("toks").alias("dl"), F.explode("toks").alias("term"))
        .filter(F.col("term").isin([t.lower() for t in terms]))
        .groupBy("bm_id", "dl", "term")
        .agg(F.count("*").alias("tf"))
    )
    dfq = tf.groupBy("term").agg(F.count("*").alias("df"))
    idf = F.log(
        F.lit(1.0)
        + (F.col("n_docs") - F.col("df") + F.lit(0.5)) / (F.col("df") + F.lit(0.5))
    )
    tf_part = (F.col("tf") * F.lit(k1 + 1.0)) / (
        F.col("tf")
        + F.lit(k1) * (F.lit(1.0 - b) + F.lit(b) * F.col("dl") / F.col("avgdl"))
    )
    return (
        tf.join(F.broadcast(dfq), "term")
        .crossJoin(F.broadcast(stats))
        .groupBy("bm_id")
        .agg(F.round(F.sum(F.round(idf * tf_part, round_dp)), round_dp).alias("bm25"))
        .select(F.col("bm_id").alias(id_col), "bm25")
    )


def ranked_topn(
    scored: DataFrame,
    score_col: str,
    id_col: str,
    n: int,
    rank_name: str = "rank",
) -> DataFrame:
    """Top-n of a scored list with a dense deterministic rank
    (score desc, id asc).  ``limit`` before the rank window keeps the
    window over <= n rows — the global window is bounded by
    construction, never data-sized."""
    top = scored.orderBy(F.col(score_col).desc(), F.col(id_col).asc()).limit(n)
    w = Window.orderBy(F.col(score_col).desc(), F.col(id_col).asc())
    return top.withColumn(rank_name, F.row_number().over(w))


def rrf_fuse(
    channels: dict[str, DataFrame],
    id_col: str = "doc_id",
    k_rrf: int = 60,
    round_dp: int = 6,
) -> DataFrame:
    """Reciprocal-rank fusion of named rank lists.

    Each channel DataFrame is ``(id_col, <name>_rank)`` (already top-N,
    so every input is tiny).  ``rrf = sum_channels 1/(k + rank)`` with
    absent channels contributing 0; output keeps each channel's rank
    column (null where the doc missed that channel's top-N).
    """
    names = list(channels)
    fused: DataFrame | None = None
    for name in names:
        ch = channels[name]
        fused = ch if fused is None else fused.join(ch, id_col, "full_outer")
    assert fused is not None, "rrf_fuse needs at least one channel"
    contrib = [
        F.coalesce(
            F.lit(1.0) / (F.lit(float(k_rrf)) + F.col(f"{name}_rank")), F.lit(0.0)
        )
        for name in names
    ]
    total = contrib[0]
    for c in contrib[1:]:
        total = total + c
    return fused.withColumn("rrf", F.round(total, round_dp))


# ------------------------------------------------------------- MMR


def shortlist_with_sims(
    embeddings: DataFrame,
    probe: list[float],
    n: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_dp: int = 6,
) -> DataFrame:
    """Top-n relevance shortlist plus its pairwise cosine rows.

    Output: one row per ordered shortlist pair ``(id_a, rel_a, id_b,
    sim)`` with ``id_a != id_b`` (plus a self row with null sim so a
    1-row shortlist still yields input).  Both rel and sim are rounded
    JVM-side — the greedy step downstream never recomputes a float
    reduction, so the oracle replays it exactly.

    Scale shape: the corpus-sized work is the top-n scan
    (TakeOrderedAndProject); everything after operates on n rows / n^2
    pairs with n a fixed constant.
    """
    scored = embeddings.select(
        F.col(id_col).alias("sid"),
        F.col(vec_col).alias("svec"),
        F.round(
            cosine_similarity(f"`{vec_col}`", doubles_sql(probe)), round_dp
        ).alias("rel"),
    )
    # materialize the n-row shortlist before the self-join: TakeOrdered
    # is not an Exchange, so without this both join sides re-scan and
    # re-score the full corpus — the one cost the design promises to
    # pay once.  r16: persist+register, not localCheckpoint — even
    # eager=False localCheckpoint runs analysis+physical planning AT
    # BUILD time (~0.3-0.7 s of py4j/planning per invocation, the
    # dominant cost of the mmr keys), while declaring a persist is
    # free and materializes inside the job.  Identical values; the
    # harness reclaims the handle via release_all().
    from pyspark import StorageLevel

    from vector_db_ingestor_spark.caching import register

    short = register(
        scored.orderBy(F.col("rel").desc(), F.col("sid").asc())
        .limit(n)
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    a = short.select(
        F.col("sid").alias("id_a"), F.col("rel").alias("rel_a"), F.col("svec").alias("vec_a")
    )
    bside = short.select(F.col("sid").alias("id_b"), F.col("svec").alias("vec_b"))
    pairs = (
        a.join(bside, F.col("id_a") != F.col("id_b"), "left")
        .withColumn(
            "sim", F.round(cosine_similarity("vec_a", "vec_b"), round_dp)
        )
        .select("id_a", "rel_a", "id_b", "sim")
    )
    return pairs


_MMR_SCHEMA = T.StructType(
    [
        T.StructField("rank", T.IntegerType()),
        T.StructField("vec_id", T.LongType()),
        T.StructField("rel", T.DoubleType()),
        T.StructField("mmr", T.DoubleType()),
    ]
)


def _greedy_mmr(pdf: pd.DataFrame, lam: float, k: int) -> pd.DataFrame:
    """Greedy MMR argmax chain over one shortlist's pair rows (the
    Arrow batch of :func:`mmr_rerank` / :func:`mmr_rerank_batch`).
    Operates on ALREADY-ROUNDED doubles; performs no float reductions
    of its own beyond the two-multiply-one-subtract mmr expression."""
    rel: dict[int, float] = {}
    sim: dict[tuple[int, int], float] = {}
    for row in pdf.itertuples(index=False):
        rel[row.id_a] = row.rel_a
        if row.id_b is not None and not pd.isna(row.id_b):
            sim[(row.id_a, int(row.id_b))] = row.sim
    selected: list[int] = []
    out = []
    remaining = sorted(rel)
    for step in range(1, min(k, len(remaining)) + 1):
        best_id = None
        best_m = None
        for c in remaining:
            pen = 0.0
            if selected:
                # KeyError on a missing pair by design: see the
                # all-pairs input contract in mmr_rerank's docstring
                pen = max(sim[(c, s)] for s in selected)
            m = lam * rel[c] - (1.0 - lam) * pen
            if best_id is None or m > best_m or (m == best_m and c < best_id):
                best_id, best_m = c, m
        if best_id is None:
            break
        out.append((step, best_id, rel[best_id], best_m))
        selected.append(best_id)
        remaining.remove(best_id)
    return pd.DataFrame(out, columns=["rank", "vec_id", "rel", "mmr"])


def mmr_rerank(
    pairs: DataFrame,
    lam: float = 0.7,
    k: int = 8,
    round_dp: int = 6,
) -> DataFrame:
    """Maximal-marginal-relevance selection over a shortlist.

    ``mmr(c) = lam * rel(c) - (1 - lam) * max_{s in S} sim(c, s)``;
    iteratively pick the argmax (ties -> lowest id), k rounds.  The
    first pick has no selected set: its penalty term is 0.

    Input contract: ``pairs`` must contain EVERY ordered (id_a, id_b)
    pair of the shortlist (what :func:`shortlist_with_sims` emits) —
    a missing pair raises ``KeyError`` rather than being silently
    scored as similarity 0, which would diverge from the SQL oracle's
    NULL-yielding ``max(sim)`` on the same gap.

    The greedy loop is Python, but on ALREADY-ROUNDED doubles produced
    JVM-side, and its own arithmetic (two multiplies, one subtract) is
    bit-deterministic IEEE — so a SQL oracle evaluating the same
    expressions on the same inputs picks the same argmax chain.  The
    output ``mmr`` column is rounded JVM-side AFTER the greedy (the
    ``F.round`` on the last line), never in Python: Python ``round``
    is half-to-even while Spark/DuckDB round half-away.
    """
    lam = float(lam)
    one = pairs.withColumn("g", F.lit(1))
    picked = one.groupBy("g").applyInPandas(
        lambda _, pdf: _greedy_mmr(pdf, lam, k), schema=_MMR_SCHEMA
    )
    return picked.withColumn("mmr", F.round("mmr", round_dp))


def shortlist_with_sims_batch(
    embeddings: DataFrame,
    probes: DataFrame,
    n: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    probe_id_col: str = "query_id",
    probe_vec_col: str = "query_vec",
    round_dp: int = 6,
) -> DataFrame:
    """Per-query top-n shortlists plus pairwise cosine rows for a PROBE
    BATCH, from ONE corpus scan (the batched twin of
    :func:`shortlist_with_sims`).

    The tiny probe set broadcasts onto the scan (`topk_cosine_batch`'s
    shape: B queries cost ~1 scan, not B); per-query ranking is one
    window shuffle on the probe id; the self-join for sims then touches
    only B x n rows.  Output adds ``probe_id_col`` to the single-probe
    pair schema.
    """
    scored = embeddings.crossJoin(F.broadcast(probes)).select(
        F.col(probe_id_col).alias("qid"),
        F.col(id_col).alias("sid"),
        F.col(vec_col).alias("svec"),
        F.round(
            cosine_similarity(f"`{vec_col}`", f"`{probe_vec_col}`"), round_dp
        ).alias("rel"),
    )
    w = Window.partitionBy("qid").orderBy(F.col("rel").desc(), F.col("sid").asc())
    # persist+register, not localCheckpoint: see shortlist_with_sims —
    # eager=False localCheckpoint plans at BUILD time (~0.7 s here)
    from pyspark import StorageLevel

    from vector_db_ingestor_spark.caching import register

    short = register(
        scored.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= n)
        .drop("__rn")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    a = short.select(
        "qid",
        F.col("sid").alias("id_a"),
        F.col("rel").alias("rel_a"),
        F.col("svec").alias("vec_a"),
    )
    bside = short.select(
        F.col("qid").alias("qid_b"),
        F.col("sid").alias("id_b"),
        F.col("svec").alias("vec_b"),
    )
    return (
        a.join(
            bside,
            (F.col("qid") == F.col("qid_b")) & (F.col("id_a") != F.col("id_b")),
            "left",
        )
        .withColumn("sim", F.round(cosine_similarity("vec_a", "vec_b"), round_dp))
        .select(F.col("qid").alias(probe_id_col), "id_a", "rel_a", "id_b", "sim")
    )


def mmr_rerank_batch(
    pairs: DataFrame,
    lam: float = 0.7,
    k: int = 8,
    probe_id_col: str = "query_id",
    round_dp: int = 6,
) -> DataFrame:
    """Grouped MMR: every query in a probe batch re-ranks CONCURRENTLY
    — ``groupBy(query_id).applyInPandas`` runs one greedy task per
    query (one Arrow eval node in the plan), instead of serializing the
    batch through :func:`mmr_rerank`'s single task.  Same per-query
    semantics and all-pairs input contract as the single-probe form.
    """
    lam = float(lam)
    # the probe-id field mirrors the caller's column type (long/string
    # ids must round-trip through Arrow unchanged, not downcast to int)
    schema = T.StructType(
        [
            T.StructField(probe_id_col, pairs.schema[probe_id_col].dataType),
            *_MMR_SCHEMA.fields,
        ]
    )

    def _per_query(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        out = _greedy_mmr(pdf, lam, k)
        out.insert(0, probe_id_col, key[0])
        return out

    picked = pairs.groupBy(probe_id_col).applyInPandas(_per_query, schema=schema)
    return picked.withColumn("mmr", F.round("mmr", round_dp))
