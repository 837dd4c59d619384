"""Property-based tests: BM25, MMR greedy, PQ code assignment, and the
mirrorable PQ/IVF Lloyd trainer must agree with brute-force Python
references on arbitrary inputs (ties, single-row shortlists, empty
matches, duplicate centroids, empty clusters).  The oracle gate proves
Spark == DuckDB; these prove the shared algorithm is the INTENDED one,
independent of both engines."""

from decimal import ROUND_HALF_UP, Decimal

from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from test_retrieval import _bm25_ref
from vector_db_ingestor_spark.operators.retrieval import bm25_scores, mmr_rerank
from vector_db_ingestor_spark.operators.similarity import pq_code

# words over a tiny alphabet force shared terms, zero-match docs, and
# repeated-term saturation
word = st.sampled_from(["alpha", "beta", "gamma", "delta"])
doc_text = st.lists(word, min_size=1, max_size=12).map(" ".join)

# micro-unit scores: exactly representable at 6 dp by construction, so
# the float comparisons below are free of rounding-boundary ambiguity
micro = st.integers(min_value=-1_000_000, max_value=1_000_000).map(
    lambda v: v / 1_000_000
)


@settings(max_examples=15, deadline=None)
@given(texts=st.lists(doc_text, min_size=1, max_size=6))
def test_bm25_matches_reference_on_random_corpora(spark, texts):
    corpus = list(enumerate(texts))
    docs = spark.createDataFrame(corpus, "doc_id INT, text STRING")
    got = {
        r["doc_id"]: r["bm25"]
        for r in bm25_scores(docs, ["alpha", "beta"]).collect()
    }
    want = _bm25_ref(corpus, ["alpha", "beta"])
    assert set(got) == set(want)
    for d, w in want.items():
        assert abs(got[d] - w) < 1e-6, (d, got[d], w, texts)


def _mmr_ref(rel, sim, lam, k):
    selected, out = [], []
    remaining = sorted(rel)
    for step in range(1, min(k, len(remaining)) + 1):
        best, best_m = None, None
        for c in remaining:
            pen = max((sim.get((c, s), 0.0) for s in selected), default=0.0)
            m = lam * rel[c] - (1.0 - lam) * pen
            if best is None or m > best_m:
                best, best_m = c, m
        out.append((step, best))
        selected.append(best)
        remaining.remove(best)
    return out


@settings(max_examples=20, deadline=None)
@given(
    rels=st.lists(micro, min_size=1, max_size=6),
    seed=st.integers(0, 10**6),
    k=st.integers(1, 5),
)
def test_mmr_greedy_matches_reference(spark, rels, seed, k):
    n = len(rels)
    rel = {i: rels[i] for i in range(n)}
    # deterministic pseudo-random symmetric sims in 6dp micro-units
    sim = {}
    for i in range(n):
        for j in range(n):
            if i != j:
                h = (seed + 31 * min(i, j) + 37 * max(i, j)) % 2_000_001
                sim[(i, j)] = (h - 1_000_000) / 1_000_000
    rows = []
    for i in range(n):
        if n == 1:
            rows.append((i, rel[i], None, None))
        for j in range(n):
            if i != j:
                rows.append((i, rel[i], j, sim[(i, j)]))
    pairs = spark.createDataFrame(
        rows, "id_a long, rel_a double, id_b long, sim double"
    )
    got = [
        (r["rank"], r["vec_id"])
        for r in mmr_rerank(pairs, lam=0.7, k=k).orderBy("rank").collect()
    ]
    assert got == _mmr_ref(rel, sim, 0.7, k), (rels, seed, k)


def _round_half_up(x: float, dp: int = 6) -> float:
    """Spark F.round semantics: BigDecimal.valueOf(double) (shortest
    decimal repr) + HALF_UP — NOT Python's half-to-even round()."""
    return float(Decimal(repr(x)).quantize(Decimal(f"1e-{dp}"), ROUND_HALF_UP))


@settings(max_examples=20, deadline=None)
@given(
    vec=st.lists(
        st.floats(min_value=-2.0, max_value=2.0, allow_nan=False, width=32),
        min_size=4,
        max_size=4,
    ),
    dup_first_two=st.booleans(),
)
def test_pq_code_matches_reference_argmin(spark, vec, dup_first_two):
    cb = [
        [1.0, 0.0, 0.0, 0.0],
        [0.0, 1.0, 0.0, 0.0],
        [0.5, 0.5, -0.5, -0.5],
        [-1.0, 0.25, 0.0, 0.75],
    ]
    if dup_first_two:
        cb[1] = list(cb[0])  # equal distances -> first-wins tie-break
    df = spark.createDataFrame([(1, [float(x) for x in vec])], "vec_id INT, embedding ARRAY<FLOAT>")
    got = df.select(F.expr(pq_code("embedding", cb, 0)).alias("c")).collect()[0]["c"]
    # reference replicates the exact reduced-distance algebra: float32
    # storage cast to double, sequential dot, HALF_UP rounding
    v = [float(F_) for F_ in df.collect()[0]["embedding"]]
    dists = []
    for c in cb:
        acc = 0.0
        for a, b in zip(v, c):
            acc += a * b
        dists.append(_round_half_up(-2.0 * acc + sum(x * x for x in c)))
    want = dists.index(min(dists))
    assert got == want, (v, dists, got)


def _pq_train_ref(rows, dim, m, ksub, iters, cent_dp=4, dist_dp=6):
    """Pure-Python mirror of similarity.pq_train: md5-ordered init,
    rounded reduced-L2 first-wins assignment, per-component rounded
    means, empty clusters keep their previous centroid."""
    import hashlib

    dsub = dim // m
    order = sorted(rows, key=lambda r: (hashlib.md5(str(r[0]).encode()).hexdigest(), r[0]))
    init = order[:ksub]
    cbs = [
        [[_round_half_up(v[s * dsub + i], cent_dp) for i in range(dsub)] for _, v in init]
        for s in range(m)
    ]
    for _ in range(iters):
        nxt = []
        for s in range(m):
            members: dict[int, list[list[float]]] = {}
            for _id, v in rows:
                sub = v[s * dsub : (s + 1) * dsub]
                dists = [
                    _round_half_up(
                        -2.0 * sum(a * b for a, b in zip(sub, c))
                        + sum(x * x for x in c),
                        dist_dp,
                    )
                    for c in cbs[s]
                ]
                members.setdefault(dists.index(min(dists)), []).append(sub)
            nxt.append(
                [
                    [
                        _round_half_up(sum(sub[i] for sub in mem) / len(mem), cent_dp)
                        for i in range(dsub)
                    ]
                    if (mem := members.get(j))
                    else cbs[s][j]
                    for j in range(ksub)
                ]
            )
        cbs = nxt
    return cbs


quarter = st.integers(min_value=-8, max_value=8).map(lambda v: v / 4.0)


@settings(max_examples=12, deadline=None)
@given(
    vecs=st.lists(
        st.lists(quarter, min_size=4, max_size=4), min_size=2, max_size=8
    ),
    iters=st.integers(1, 2),
)
def test_pq_train_matches_python_reference(spark, vecs, iters):
    """The mirrorable Lloyd trainer must reproduce a brute-force Python
    Lloyd exactly.  Exact-quarter components keep every sum/dot exact
    in binary, so the only rounding events are the deliberate
    cent_dp/dist_dp ones — any mismatch is an algorithm bug, not float
    noise.  Duplicate vectors exercise empty-cluster retention."""
    from vector_db_ingestor_spark.operators.similarity import pq_train

    rows = [(i, v) for i, v in enumerate(vecs)]
    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in rows],
        "vec_id LONG, embedding ARRAY<DOUBLE>",
    )
    got = pq_train(df, dim=4, m=2, ksub=2, iters=iters)
    want = _pq_train_ref(rows, dim=4, m=2, ksub=2, iters=iters)
    assert got == want, (vecs, iters, got, want)
