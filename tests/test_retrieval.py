"""Hybrid-retrieval operator contracts: BM25 known values, RRF fusion
semantics, MMR greedy selection, PQ encode/ADC round trips."""

import math

import pytest
from pyspark.sql import functions as F

from vector_db_ingestor_spark.operators.retrieval import (
    bm25_scores,
    mmr_rerank,
    ranked_topn,
    rrf_fuse,
)
from vector_db_ingestor_spark.operators.similarity import (
    pq_adc_tables,
    pq_code,
    pq_codebooks,
)


def _r6(x: float) -> float:
    """Round half-away-from-zero at 6dp (Spark/DuckDB `round`, not
    Python's banker's rounding)."""
    from decimal import ROUND_HALF_UP, Decimal

    return float(Decimal(repr(x)).quantize(Decimal("0.000001"), ROUND_HALF_UP))


def _bm25_ref(corpus, terms, k1=1.2, b=0.75):
    """Row-at-a-time reference implementation.  Each term contribution
    is rounded at 6dp before the sum, mirroring bm25_scores' order-
    insensitive reduction."""
    toks = {d: t.lower().strip().split() for d, t in corpus}
    n = float(len(toks))
    avgdl = sum(len(v) for v in toks.values()) / n
    df = {
        t: sum(1 for v in toks.values() if t in v)
        for t in terms
    }
    out = {}
    for d, v in toks.items():
        s = 0.0
        matched = False
        for t in terms:
            tf = v.count(t)
            if tf == 0 or df[t] == 0:
                continue
            matched = True
            idf = math.log(1.0 + (n - df[t] + 0.5) / (df[t] + 0.5))
            s += _r6(
                idf * (tf * (k1 + 1.0)) / (
                    tf + k1 * (1.0 - b + b * len(v) / avgdl)
                )
            )
        if matched:
            out[d] = _r6(s)
    return out


def test_bm25_matches_reference(spark):
    corpus = [
        (1, "spark vector search engine"),
        (2, "vector vector vector index"),
        (3, "keyword only document"),
        (4, "the quick brown fox jumps over the lazy dog today"),
    ]
    docs = spark.createDataFrame(corpus, ["doc_id", "text"])
    got = {
        r["doc_id"]: r["bm25"]
        for r in bm25_scores(docs, ["vector", "search"]).collect()
    }
    want = _bm25_ref(corpus, ["vector", "search"])
    assert set(got) == set(want)
    for d in want:
        assert got[d] == pytest.approx(want[d], abs=1e-6)
    # doc 1 matches both query terms and beats doc 2's tf=3 single-term
    # match (BM25's tf saturation keeps repeated terms sub-linear)
    assert got[1] > got[2]
    # doc 3 and 4 match no query term: no row at all
    assert 3 not in got and 4 not in got


def test_rrf_fuse_single_and_both_channels(spark):
    a = spark.createDataFrame([(1, 1), (2, 2)], ["doc_id", "a_rank"])
    b = spark.createDataFrame([(2, 1), (3, 2)], ["doc_id", "b_rank"])
    rows = {
        r["doc_id"]: r
        for r in rrf_fuse({"a": a, "b": b}, k_rrf=60).collect()
    }
    assert rows[1]["rrf"] == pytest.approx(1 / 61, abs=1e-6)
    assert rows[2]["rrf"] == pytest.approx(1 / 62 + 1 / 61, abs=1e-6)
    assert rows[3]["rrf"] == pytest.approx(1 / 62, abs=1e-6)
    assert rows[1]["b_rank"] is None and rows[3]["a_rank"] is None


def test_ranked_topn_deterministic_ties(spark):
    df = spark.createDataFrame(
        [(3, 1.0), (1, 1.0), (2, 2.0)], ["doc_id", "s"]
    )
    got = [(r["doc_id"], r["rank"]) for r in ranked_topn(df, "s", "doc_id", 2).collect()]
    assert sorted(got, key=lambda x: x[1]) == [(2, 1), (1, 2)]


def test_mmr_prefers_diverse_over_redundant(spark):
    """Three candidates: a (rel .9), b (rel .8, near-dup of a), c (rel
    .5, orthogonal).  With lambda=0.7 the redundancy penalty must push
    c ahead of b at step 2: mmr(b) = .7*.8 - .3*.95 = .275 < mmr(c) =
    .7*.5 - .3*.0 = .35."""
    pairs = spark.createDataFrame(
        [
            (1, 0.9, 2, 0.95),
            (1, 0.9, 3, 0.0),
            (2, 0.8, 1, 0.95),
            (2, 0.8, 3, 0.0),
            (3, 0.5, 1, 0.0),
            (3, 0.5, 2, 0.0),
        ],
        ["id_a", "rel_a", "id_b", "sim"],
    )
    got = [
        (r["rank"], r["vec_id"], r["mmr"])
        for r in mmr_rerank(pairs, lam=0.7, k=3).orderBy("rank").collect()
    ]
    assert [(g[0], g[1]) for g in got] == [(1, 1), (2, 3), (3, 2)]
    assert got[0][2] == pytest.approx(0.63, abs=1e-6)
    assert got[1][2] == pytest.approx(0.35, abs=1e-6)
    assert got[2][2] == pytest.approx(0.275, abs=1e-6)


def test_mmr_singleton_shortlist(spark):
    pairs = spark.createDataFrame(
        [(7, 0.4, None, None)],
        "id_a long, rel_a double, id_b long, sim double",
    )
    got = mmr_rerank(pairs, lam=0.7, k=5).collect()
    assert len(got) == 1
    assert got[0]["vec_id"] == 7 and got[0]["rank"] == 1


def test_mmr_missing_pair_raises(spark):
    """A pairs input violating the all-pairs contract must fail loudly
    (KeyError inside the greedy), never silently score the gap as 0 —
    that would diverge from the SQL oracle's NULL-yielding max(sim)."""
    pairs = spark.createDataFrame(
        [(1, 0.9, 2, 0.5), (2, 0.8, None, None)],  # (2,1) pair missing
        "id_a long, rel_a double, id_b long, sim double",
    )
    with pytest.raises(Exception, match="KeyError"):
        mmr_rerank(pairs, lam=0.7, k=2).collect()


def test_mmr_batch_matches_per_query_single(spark):
    """Each query in a batch must get EXACTLY the ranking the
    single-probe path produces on that query's shortlist alone."""
    from vector_db_ingestor_spark.constants import PROBE_BATCH
    from vector_db_ingestor_spark.operators.retrieval import (
        mmr_rerank_batch,
        shortlist_with_sims,
        shortlist_with_sims_batch,
    )
    from vector_db_ingestor_spark.tables import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    probes = spark.createDataFrame(
        list(enumerate(PROBE_BATCH[:2])), "query_id INT, query_vec ARRAY<DOUBLE>"
    )
    batch = mmr_rerank_batch(
        shortlist_with_sims_batch(emb, probes, n=10), lam=0.7, k=5
    )
    got = {
        (r["query_id"], r["rank"]): (r["vec_id"], r["mmr"])
        for r in batch.collect()
    }
    assert len(got) == 10
    for qid, vec in enumerate(PROBE_BATCH[:2]):
        single = mmr_rerank(
            shortlist_with_sims(emb, vec, n=10), lam=0.7, k=5
        )
        for r in single.collect():
            assert got[(qid, r["rank"])] == (r["vec_id"], r["mmr"]), (qid, r)


def test_pq_code_exact_centroid_and_first_wins(spark):
    cbs = pq_codebooks(8, m=2, ksub=4)
    # vector whose first subvector IS codebook[0][2] and second IS
    # codebook[1][0] -> codes (2, 0) with distance 0
    vec = [float(x) for x in cbs[0][2] + cbs[1][0]]
    df = spark.createDataFrame([(1, vec)], ["vec_id", "embedding"])
    row = df.select(
        F.expr(pq_code("embedding", cbs[0], 0)).alias("c0"),
        F.expr(pq_code("embedding", cbs[1], 4)).alias("c1"),
    ).collect()[0]
    assert (row["c0"], row["c1"]) == (2, 0)
    # duplicated centroid -> equal distances -> argmin takes the FIRST
    dup = [cbs[0][2], cbs[0][2], cbs[0][1], cbs[0][0]]
    row2 = df.select(F.expr(pq_code("embedding", dup, 0)).alias("c")).collect()[0]
    assert row2["c"] == 0


def test_pq_train_recovers_cluster_means(spark):
    """Two well-separated clusters whose members use exact-quarter
    offsets (binary-exact sums, so expected means are computable
    exactly in Python): after 2 Lloyd steps the codebook must hold the
    rounded cluster means and members must code consistently.  The
    first two md5-ordered ids are planted one per cluster so the
    seeded init provably covers both."""
    import hashlib

    from vector_db_ingestor_spark.operators.similarity import pq_train

    ids = list(range(12))
    order = sorted(ids, key=lambda i: hashlib.md5(str(i).encode()).hexdigest())
    in_a = {order[0]} | set(order[2::2])
    base = {True: [1.0, 2.0, 3.0, 4.0], False: [-3.0, -1.0, -4.0, -2.0]}
    vecs = {
        i: [x + 0.25 * (i % 3) for x in base[i in in_a]] * 2 for i in ids
    }
    df = spark.createDataFrame(
        [(i, vecs[i]) for i in ids], "vec_id LONG, embedding ARRAY<DOUBLE>"
    )
    cbs = pq_train(df, dim=8, m=2, ksub=2, iters=2)
    for s in range(2):
        got = {tuple(c) for c in cbs[s]}
        want = set()
        for cluster in (True, False):
            members = [i for i in ids if (i in in_a) == cluster]
            want.add(
                tuple(
                    round(sum(vecs[i][s * 4 + d] for i in members) / len(members), 4)
                    for d in range(4)
                )
            )
        assert got == want, (s, got, want)
    # members of one cluster share a code, clusters differ, and the
    # duplicated per-subspace pattern codes identically in both
    codes = df.select(
        "vec_id",
        F.expr(pq_code("embedding", cbs[0], 0)).alias("c0"),
        F.expr(pq_code("embedding", cbs[1], 4)).alias("c1"),
    ).collect()
    by_cluster = {True: set(), False: set()}
    for r in codes:
        assert r["c0"] == r["c1"]
        by_cluster[r["vec_id"] in in_a].add(r["c0"])
    assert len(by_cluster[True]) == 1 and len(by_cluster[False]) == 1
    assert by_cluster[True] != by_cluster[False]


def test_pq_train_empty_clusters_keep_previous(spark):
    """All-identical corpus with ksub=3: every vector codes to the
    first centroid, so clusters 1 and 2 stay empty through both Lloyd
    steps and must retain their init centroids (no NaN/None)."""
    from vector_db_ingestor_spark.operators.similarity import pq_train

    df = spark.createDataFrame(
        [(i, [0.25, 0.5, -0.5, 1.0]) for i in range(4)],
        "vec_id LONG, embedding ARRAY<DOUBLE>",
    )
    cbs = pq_train(df, dim=4, m=2, ksub=3, iters=2)
    for s in range(2):
        assert cbs[s][0] == cbs[s][1] == cbs[s][2]
        assert all(x == round(x, 4) for x in cbs[s][0])


def test_pq_adc_tables_are_subspace_dots():
    cbs = pq_codebooks(8, m=2, ksub=3)
    probe = [0.5] * 8
    tabs = pq_adc_tables(probe, cbs)
    assert len(tabs) == 2 and all(len(t) == 3 for t in tabs)
    want = sum(0.5 * x for x in cbs[1][2])
    assert tabs[1][2] == pytest.approx(want, abs=1e-12)


def test_mmr_batch_preserves_probe_id_type(spark):
    """The applyInPandas output schema must mirror the caller's
    query-id type — LONG and STRING ids round-trip unchanged instead
    of being forced through IntegerType (round-6 advice, low)."""
    from vector_db_ingestor_spark.operators.retrieval import mmr_rerank_batch

    pairs = spark.createDataFrame(
        [(5_000_000_000, 1, 0.9, 2, 0.5), (5_000_000_000, 2, 0.8, 1, 0.5)],
        "query_id long, id_a long, rel_a double, id_b long, sim double",
    )
    got = mmr_rerank_batch(pairs, lam=0.7, k=2).collect()
    assert {r["query_id"] for r in got} == {5_000_000_000}
    assert [r["rank"] for r in sorted(got, key=lambda r: r["rank"])] == [1, 2]

    spairs = pairs.withColumn("query_id", F.concat(F.lit("q"), F.col("query_id")))
    sgot = mmr_rerank_batch(spairs, lam=0.7, k=2).collect()
    assert {r["query_id"] for r in sgot} == {"q5000000000"}
