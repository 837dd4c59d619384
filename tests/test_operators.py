"""Operator-level unit tests on small inline frames (semantics that the
DuckDB oracle cannot pin down: tie-breaks, budget edges, join corners)."""

import datetime as dt

from pyspark.sql import functions as F

from vector_db_ingestor_spark.operators.context import assemble_context
from vector_db_ingestor_spark.operators.dedup import dedup_exact
from vector_db_ingestor_spark.operators.joins import asof_join, range_join_count
from vector_db_ingestor_spark.operators.topk import knn_per_group, topk_cosine


def test_topk_tie_break_on_id(spark):
    df = spark.createDataFrame(
        [(3, [1.0, 0.0], 0), (1, [1.0, 0.0], 0), (2, [0.0, 1.0], 0)],
        "vec_id INT, embedding ARRAY<DOUBLE>, label INT",
    )
    out = topk_cosine(df, [1.0, 0.0], k=2).select("vec_id", "rank").collect()
    # vec 1 and 3 tie at cosine 1.0 -> lower id first
    assert [(r.vec_id, r.rank) for r in out] == [(1, 1), (3, 2)]


def test_knn_per_group_keeps_k(spark):
    rows = [(i, [float(i % 5), 1.0], i % 2) for i in range(10)]
    df = spark.createDataFrame(rows, "vec_id INT, embedding ARRAY<DOUBLE>, label INT")
    out = knn_per_group(df, [1.0, 0.0], group_col="label", k=2)
    counts = out.groupBy("label").count().collect()
    assert all(r["count"] == 2 for r in counts)


def test_context_budget_stops_at_first_overflow(spark):
    # pieces of length 10 each (incl. newlines added by format: none here)
    df = spark.createDataFrame(
        [("g", 1, "a" * 10), ("g", 2, "b" * 10), ("g", 3, "c" * 10)],
        "grp STRING, rank INT, piece STRING",
    )
    out = assemble_context(df, "grp", "rank", "piece", budget=25).collect()
    assert len(out) == 1
    assert out[0].n_pieces == 2  # third piece would make cum 30 > 25
    assert out[0].context == "a" * 10 + "\n---\n" + "b" * 10


def test_context_budget_exact_fit(spark):
    df = spark.createDataFrame(
        [("g", 1, "a" * 10), ("g", 2, "b" * 15)],
        "grp STRING, rank INT, piece STRING",
    )
    out = assemble_context(df, "grp", "rank", "piece", budget=25).collect()
    assert out[0].n_pieces == 2  # cum == budget is kept (<=, reference 308)


def test_dedup_exact_keeps_lowest_id(spark):
    df = spark.createDataFrame(
        [(5, "same"), (2, "same"), (9, "other")], "doc_id INT, text STRING"
    )
    kept = sorted(r.doc_id for r in dedup_exact(df).collect())
    assert kept == [2, 9]


def _ts(minute, second=0):
    return dt.datetime(2024, 1, 1, 0, minute, second)


def test_range_join_count_brute_force_parity(spark):
    probe_rows = [(i, _ts(i)) for i in range(0, 30, 3)]
    build_rows = [(_ts(i, 30),) for i in range(30)]
    probe = spark.createDataFrame(probe_rows, "event_id INT, ts TIMESTAMP")
    build = spark.createDataFrame(build_rows, "ts TIMESTAMP")
    out = {
        r.event_id: r.n
        for r in range_join_count(probe, build, "ts", "ts", 300, ["event_id"], "n").collect()
    }
    for eid, pts in probe_rows:
        expected = sum(
            1
            for (bts,) in build_rows
            if bts <= pts and bts >= pts - dt.timedelta(seconds=300)
        )
        assert out[eid] == expected, eid
    # probes with zero matches must still appear
    assert out[0] == 0


def test_asof_join_brute_force_parity(spark):
    probe = spark.createDataFrame(
        [(1, 10, _ts(5)), (2, 10, _ts(0)), (3, 20, _ts(9))],
        "event_id INT, user_id INT, ts TIMESTAMP",
    )
    build = spark.createDataFrame(
        [(10, _ts(1), 101), (10, _ts(5), 105), (20, _ts(20), 201)],
        "user_id INT, ts TIMESTAMP, click_id INT",
    )
    out = {
        r.event_id: r.asof_click_id
        for r in asof_join(
            probe, build, by="user_id", probe_ts="ts", build_ts="ts",
            value_cols=["click_id"],
        ).collect()
    }
    assert out[1] == 105  # equal ts is visible (<=)
    assert out[2] is None  # nothing at or before
    assert out[3] is None  # other user's events invisible


def test_asof_join_whole_row_null_semantics(spark):
    """pandas merge_asof whole-row parity (round-15 ADVICE fix): the
    match is the NEWEST qualifying build ROW — a null value on that row
    yields null (it must not resurrect an older row's value), and the
    tolerance gate must judge the SAME row that supplies the values."""
    probe = spark.createDataFrame(
        [(1, 10, _ts(9))], "event_id INT, user_id INT, ts TIMESTAMP"
    )
    # older row has a value and is WITHIN tolerance; newest row (the
    # match) has a null value
    build = spark.createDataFrame(
        [(10, _ts(8), 108), (10, _ts(9), None)],
        "user_id INT, ts TIMESTAMP, click_id INT",
    )
    out = asof_join(
        probe, build, by="user_id", probe_ts="ts", build_ts="ts",
        value_cols=["click_id"],
    ).collect()
    assert out[0].asof_click_id is None  # newest row's null, not 108

    # tolerance judged on the matched row's ts: newest build row is
    # stale (null result) even though an older IN-tolerance row carries
    # a non-null value — per-column carries would wrongly emit 208
    probe2 = spark.createDataFrame(
        [(1, 10, _ts(30))], "event_id INT, user_id INT, ts TIMESTAMP"
    )
    build2 = spark.createDataFrame(
        [(10, _ts(29), 208), (10, _ts(29, 30), None)],
        "user_id INT, ts TIMESTAMP, click_id INT",
    )
    out2 = asof_join(
        probe2, build2, by="user_id", probe_ts="ts", build_ts="ts",
        value_cols=["click_id"],
        tolerance=F.expr("INTERVAL 45 SECONDS"),
    ).collect()
    assert out2[0].asof_click_id is None
    # and when the newest row IS within tolerance and non-null it wins
    build3 = spark.createDataFrame(
        [(10, _ts(20), 301), (10, _ts(29, 50), 302)],
        "user_id INT, ts TIMESTAMP, click_id INT",
    )
    out3 = asof_join(
        probe2, build3, by="user_id", probe_ts="ts", build_ts="ts",
        value_cols=["click_id"],
        tolerance=F.expr("INTERVAL 45 SECONDS"),
    ).collect()
    assert out3[0].asof_click_id == 302


def test_asof_join_directions_match_pandas(spark):
    """Full pandas merge_asof parity (round 15): direction
    backward/forward/nearest x allow_exact_matches x tolerance, checked
    row-for-row against REAL pd.merge_asof on an adversarial fixture
    (exact-ts ties, equidistant nearest ties, per-key gaps, matches
    only one side of a probe)."""
    import pandas as pd

    probe_rows = [
        (1, 10, _ts(5)), (2, 10, _ts(0)), (3, 10, _ts(9)),
        (4, 20, _ts(3)), (5, 20, _ts(7)), (6, 30, _ts(4)),
        (7, 10, _ts(6)),  # equidistant between builds at 5 and 7
    ]
    build_rows = [
        (10, _ts(1), 101), (10, _ts(5), 105), (10, _ts(7), 107),
        (20, _ts(6), 206), (30, _ts(2), 302),
    ]
    probe = spark.createDataFrame(
        probe_rows, "event_id INT, user_id INT, ts TIMESTAMP"
    )
    build = spark.createDataFrame(
        build_rows, "user_id INT, ts TIMESTAMP, click_id INT"
    )
    pdf_probe = pd.DataFrame(
        probe_rows, columns=["event_id", "user_id", "ts"]
    ).sort_values("ts", kind="stable")
    pdf_build = pd.DataFrame(
        build_rows, columns=["user_id", "ts", "click_id"]
    ).sort_values("ts", kind="stable")

    for direction in ("backward", "forward", "nearest"):
        for strict in (False, True):
            for tol_s in (None, 120):
                want_df = pd.merge_asof(
                    pdf_probe, pdf_build, on="ts", by="user_id",
                    direction=direction, allow_exact_matches=not strict,
                    tolerance=(
                        pd.Timedelta(seconds=tol_s) if tol_s else None
                    ),
                )
                want = {
                    int(r.event_id): (
                        None if pd.isna(r.click_id) else int(r.click_id)
                    )
                    for r in want_df.itertuples()
                }
                got = {
                    r.event_id: r.asof_click_id
                    for r in asof_join(
                        probe, build, by="user_id", probe_ts="ts",
                        build_ts="ts", value_cols=["click_id"],
                        strict=strict, direction=direction,
                        tolerance=(
                            F.expr(f"INTERVAL {tol_s} SECONDS")
                            if tol_s else None
                        ),
                    ).collect()
                }
                assert got == want, (direction, strict, tol_s, got, want)


def test_simhash_identical_docs_distance_zero(spark):
    from vector_db_ingestor_spark.operators.dedup import simhash_near_dups

    df = spark.createDataFrame(
        [(1, "the quick brown fox jumps"), (2, "the quick brown fox jumps"),
         (3, "completely different words entirely unrelated")],
        "doc_id INT, text STRING",
    )
    out = simhash_near_dups(df, max_hamming=0, bands=4).collect()
    assert [(r.id_a, r.id_b, r.hamming) for r in out] == [(1, 2, 0)]


def test_minhash_identical_docs_est_one(spark):
    from vector_db_ingestor_spark.operators.dedup import minhash_candidates

    df = spark.createDataFrame(
        [(1, "a b c d e f g h"), (2, "a b c d e f g h"),
         (3, "z y x w v u t s")],
        "doc_id INT, text STRING",
    )
    out = {(r.id_a, r.id_b): r.est_jaccard for r in minhash_candidates(df).collect()}
    assert out[(1, 2)] == 1.0


def test_minhash_agg_signature_matches_column_contract(spark):
    """minhash_signatures (the explode-agg hot path that
    minhash_candidates actually calls) must equal the per-row
    minhash_signature contract term-for-term, for BOTH hash families —
    the two build from one family definition, and this guards the
    execution shapes against each other."""
    from pyspark.sql import functions as F

    from vector_db_ingestor_spark.operators.dedup import (
        minhash_signature,
        minhash_signatures,
        word_shingles_sql,
    )

    df = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog"),
         (2, "pack my box with five dozen liquor jugs"),
         (3, "the quick brown fox jumps over the lazy dog again and again")],
        "doc_id INT, text STRING",
    )
    sh = df.select("doc_id", F.expr(word_shingles_sql("text", 2)).alias("sh"))
    for family in ("xxhash64", "md5"):
        contract = {
            r.doc_id: list(r.sig)
            for r in sh.select(
                "doc_id", minhash_signature("sh", 8, family).alias("sig")
            ).collect()
        }
        hot = {
            r.doc_id: list(r.sig)
            for r in minhash_signatures(
                sh, 8, family, id_col="doc_id"
            ).collect()
        }
        assert hot == contract, family


def test_minhash_md5_family_cross_engine_signature(spark):
    """The portable minhash family (md5 base + affine permutations) is
    re-derivable bit-for-bit by another engine: DuckDB computes the
    identical signature minima from the closed form."""
    import duckdb

    from vector_db_ingestor_spark.operators.dedup import (
        MINHASH_P,
        minhash_perm_consts,
        minhash_signature,
        word_shingles_sql,
    )
    from pyspark.sql import functions as F

    docs = [(1, "the quick brown fox jumps over the lazy dog"),
            (2, "pack my box with five dozen liquor jugs")]
    df = spark.createDataFrame(docs, "doc_id INT, text STRING")
    sh = df.select("doc_id", F.expr(word_shingles_sql("text", 2)).alias("sh"))
    spark_sig = {
        r.doc_id: list(r.sig)
        for r in sh.select(
            "doc_id", minhash_signature("sh", 8, "md5").alias("sig")
        ).collect()
    }

    mins = ", ".join(
        f"list_min(list_transform(hh, x -> (x * {a} + {b}) % {MINHASH_P}))"
        for a, b in minhash_perm_consts(8)
    )
    toks = "string_split_regex(lower(trim(text)), '\\s+')"
    con = duckdb.connect()
    con.execute("CREATE TABLE d (doc_id INT, text VARCHAR)")
    con.executemany("INSERT INTO d VALUES (?, ?)", docs)
    duck_sig = {
        row[0]: list(row[1])
        for row in con.execute(
            f"""
            WITH g AS (
                SELECT doc_id,
                       list_distinct(list_transform(range(1, len({toks})),
                           i -> {toks}[i] || ' ' || {toks}[i+1])) AS grams
                FROM d
            ),
            h AS (
                SELECT doc_id,
                       list_transform(grams,
                           x -> CAST('0x' || substring(md5(x), 1, 8) AS BIGINT)) AS hh
                FROM g
            )
            SELECT doc_id, [{mins}] FROM h
            """
        ).fetchall()
    }
    assert spark_sig == duck_sig


def test_simhash_fnv_cross_engine_and_fixture_ascii(sf_dir):
    """The simhash oracle folds FNV-1a in DuckDB HUGEINT arithmetic over
    ascii(char) — exact iff text is ASCII (code point == utf-8 byte).
    Pin both halves: the fold matches the Python/numpy reference, and
    the fixture corpus is actually all-ASCII."""
    import duckdb

    def fnv(s: str) -> int:
        h = 0xCBF29CE484222325
        for b in s.encode("utf-8"):
            h = ((h ^ b) * 0x100000001B3) & 0xFFFFFFFFFFFFFFFF
        return h

    con = duckdb.connect()
    for tok in ("merge", "a", "windowing", "x1!"):
        got = con.execute(
            """
            SELECT list_reduce(
                list_prepend(14695981039346656037::HUGEINT,
                    list_transform(string_split(?, ''), c -> ascii(c)::HUGEINT)),
                (h, b) -> ((h - (h % 256) + xor(h % 256, b))
                           * 1099511628211::HUGEINT)
                          % 18446744073709551616::HUGEINT)
            """,
            [tok],
        ).fetchone()[0]
        assert int(got) == fnv(tok), tok

    n_non_ascii = con.execute(
        f"""
        SELECT count(*) FROM read_parquet('{sf_dir}/documents.parquet')
        WHERE regexp_matches(text, '[^\\x00-\\x7F]')
        """
    ).fetchone()[0]
    assert n_non_ascii == 0, "simhash oracle assumes an ASCII corpus"


def test_simhash_vectorized_kernel_matches_scalar_reference(spark):
    """The numpy batch FNV sweep in simhash_udf must be bit-identical to
    the scalar fold (fnv1a64_ref) + per-token vote loop it replaced —
    including unicode multi-byte tokens, empty/null/whitespace docs,
    repeated tokens, and a pathologically long token (exercises the
    length-sorted prefix loop).  The scalar reference is the shared
    module-level _scalar_simhash_fp (one copy, also used by the
    hypothesis property) so the two reference paths cannot drift."""
    from vector_db_ingestor_spark.operators.dedup import simhash_udf

    texts = [
        "the quick brown fox jumps over the lazy dog",
        "",
        None,
        "   \t  ",
        "a",
        "a a a a b",
        "café naïve 你好世界 \U0001f600",
        "MiXeD CaSe TOKENS lower",
        "x" * 5000 + " short tail",
        "punct!@# $%^ &*() end.",
    ]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id INT, text STRING"
    )
    got = {
        r.doc_id: r.fp
        for r in df.select(
            "doc_id", simhash_udf()(F.col("text")).alias("fp")
        ).collect()
    }
    assert got == {i: _scalar_simhash_fp(t) for i, t in enumerate(texts)}


def test_salted_join_equals_plain_join(spark):
    from vector_db_ingestor_spark.operators.joins import salted_join

    big = spark.createDataFrame(
        [(i, i % 3, float(i)) for i in range(100)], "rid INT, k INT, v DOUBLE"
    )
    small = spark.createDataFrame([(0, "a"), (1, "b")], "k INT, name STRING")
    plain = {tuple(r) for r in big.join(small, "k").select("rid", "k", "v", "name").collect()}
    salted = {
        tuple(r)
        for r in salted_join(big, small, "k", n_salts=4)
        .select("rid", "k", "v", "name")
        .collect()
    }
    assert salted == plain
    # hot-key rows spread across several salts (the point of salting)
    n_salt_values = (
        big.withColumn("s", F.pmod(F.xxhash64("rid", "k", "v"), F.lit(4)))
        .select("s")
        .distinct()
        .count()
    )
    assert n_salt_values > 1


def test_salted_join_left_matches_and_right_rejected(spark):
    from vector_db_ingestor_spark.operators.joins import salted_join

    big = spark.createDataFrame(
        [(i, i % 4, float(i)) for i in range(50)], "rid INT, k INT, v DOUBLE"
    )
    small = spark.createDataFrame([(0, "a"), (9, "unmatched")], "k INT, name STRING")
    plain = {
        tuple(r)
        for r in big.join(small, "k", "left").select("rid", "k", "v", "name").collect()
    }
    salted = {
        tuple(r)
        for r in salted_join(big, small, "k", n_salts=4, how="left")
        .select("rid", "k", "v", "name")
        .collect()
    }
    assert salted == plain
    # right/full would emit unmatched small-side rows once per salt copy
    import pytest

    for bad in ("right", "full", "right_outer", "full_outer"):
        with pytest.raises(ValueError):
            salted_join(big, small, "k", n_salts=4, how=bad)


def test_word_shingles_short_doc_yields_empty(spark):
    from vector_db_ingestor_spark.operators.dedup import word_shingles_sql

    df = spark.createDataFrame(
        [(1, "one two"), (2, ""), (3, "a b c d")], "doc_id INT, text STRING"
    )
    rows = {
        r.doc_id: r.g
        for r in df.select(
            "doc_id", F.expr(word_shingles_sql("text", 3)).alias("g")
        ).collect()
    }
    # docs with < 3 tokens produce an empty gram set, not an ANSI
    # element_at fault from a descending sequence
    assert rows[1] == []
    assert rows[2] == []
    assert rows[3] == ["a b c", "b c d"]


def test_word_shingles_sql_matches_python_reference(spark):
    """The shingle builder against a Python reference (lowercase, trim
    spaces, split on whitespace runs, n-grams, sorted distinct) —
    including short docs, repeated grams, mixed whitespace, and n=1."""
    import re

    from vector_db_ingestor_spark.operators.dedup import word_shingles_sql

    docs = {
        1: "one two",
        2: "",
        3: "a b c d",
        4: "  The  QUICK   brown\tfox the quick brown fox  ",
        5: "x x x x x",
    }
    df = spark.createDataFrame(list(docs.items()), "doc_id INT, text STRING")

    def reference(text: str, n: int) -> list[str]:
        toks = re.split(r"\s+", text.lower().strip(" "))
        if len(toks) < n:
            return []
        return sorted({" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)})

    for n in (1, 2, 3):
        got = {
            r.doc_id: r.g
            for r in df.select(
                "doc_id", F.expr(word_shingles_sql("`text`", n)).alias("g")
            ).collect()
        }
        assert got == {d: reference(t, n) for d, t in docs.items()}, f"n={n}"


def _seq_dot(a, b) -> float:
    """Left-to-right double dot product, the engine's fold order."""
    acc = 0.0
    for x, y in zip(a, b):
        acc += float(x) * float(y)
    return acc


def _round_half_up(x: float, dp: int) -> float:
    """Spark's round(double, dp): HALF_UP on the shortest decimal repr."""
    from decimal import ROUND_HALF_UP, Decimal

    return float(Decimal(repr(x)).quantize(Decimal(1).scaleb(-dp), ROUND_HALF_UP))


def test_rp_lsh_bucket_matches_python_sign_bits(spark, sf_dir):
    """rp_lsh_bucket over real fixture vectors (hyperplane dots include
    near-zero values) equals the sign bits of left-to-right dots against
    :func:`_hyperplane`, bit b weighted 2^b."""
    from vector_db_ingestor_spark.constants import EMBEDDING_DIM
    from vector_db_ingestor_spark.operators.similarity import _hyperplane, rp_lsh_bucket
    from vector_db_ingestor_spark.tables import load_table

    planes = [_hyperplane(EMBEDDING_DIM, b) for b in range(8)]
    emb = load_table(spark, sf_dir, "embeddings").limit(200)
    rows = emb.select(
        "vec_id", "embedding", rp_lsh_bucket("`embedding`", EMBEDDING_DIM, 8).alias("s")
    ).collect()
    assert len(rows) == 200, "fixture read produced too few rows"
    for r in rows:
        want = sum(1 << b for b, h in enumerate(planes) if _seq_dot(r.embedding, h) > 0)
        assert r.s == want, f"vec_id={r.vec_id}: {r.s} != {want}"


def test_assign_cid_and_pq_code_match_python_reference(spark, sf_dir):
    """The IVF assignment is the first-wins argmax of 6dp-rounded
    cosines to the centroids, and a PQ code the first-wins argmin of the
    6dp-rounded reduced distance -2 x.c + c.c, both recomputed in Python
    over 200 fixture vectors; duplicated centroids force exact ties."""
    import math

    from vector_db_ingestor_spark.constants import EMBEDDING_DIM
    from vector_db_ingestor_spark.operators.similarity import (
        _assign_cid,
        pq_code,
        pq_codebooks,
    )
    from vector_db_ingestor_spark.queries import _ivf_assign_centroids
    from vector_db_ingestor_spark.tables import load_table

    cents = _ivf_assign_centroids()
    cents = cents + [cents[3]]  # a later duplicate never wins
    cbs = pq_codebooks(EMBEDDING_DIM, m=4, ksub=16)
    cbs[1][5] = list(cbs[1][2])
    dsub = EMBEDDING_DIM // 4
    emb = load_table(spark, sf_dir, "embeddings").limit(200)
    rows = emb.select(
        "vec_id",
        "embedding",
        F.expr(_assign_cid("embedding", cents, round_dp=6)).alias("cid"),
        *[
            F.expr(pq_code("embedding", cbs[s], s * dsub)).alias(f"c{s}")
            for s in range(4)
        ],
    ).collect()
    assert len(rows) == 200, "fixture read produced too few rows"
    cnorms = [math.sqrt(_seq_dot(c, c)) for c in cents]
    for r in rows:
        v = [float(x) for x in r.embedding]
        nv = math.sqrt(_seq_dot(v, v))
        sims = [
            _round_half_up(_seq_dot(v, c) / (nv * cn), 6)
            for c, cn in zip(cents, cnorms)
        ]
        assert r.cid == sims.index(max(sims)), r.vec_id
        for s in range(4):
            sub = v[s * dsub : (s + 1) * dsub]
            dists = [
                _round_half_up(-2.0 * _seq_dot(sub, c) + float(sum(x * x for x in c)), 6)
                for c in cbs[s]
            ]
            assert r[f"c{s}"] == dists.index(min(dists)), (r.vec_id, s)


def test_ngram_jaccard_df_cap_contract(spark, sf_dir):
    from vector_db_ingestor_spark.operators.dedup import ngram_jaccard_pairs
    from vector_db_ingestor_spark.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    n_docs = docs.count()
    exact = {tuple(r) for r in ngram_jaccard_pairs(
        docs, block_col="lang", n=2, threshold=0.2).collect()}
    # generous cap (no gram in the fixture exceeds it for a true pair):
    # capped result is IDENTICAL — every reported jaccard is exact
    generous = {tuple(r) for r in ngram_jaccard_pairs(
        docs, block_col="lang", n=2, threshold=0.2, max_df=n_docs).collect()}
    assert generous == exact
    # tight cap: only drops pairs (recall contract), never adds or
    # changes a jaccard value
    tight = {tuple(r) for r in ngram_jaccard_pairs(
        docs, block_col="lang", n=2, threshold=0.2, max_df=3).collect()}
    assert tight <= exact


def test_ngram_uncapped_hot_gram_guard_fails_fast(spark):
    """The uncapped plan must refuse a hot-gram corpus BEFORE the
    self-join (the df^2 blowup is unbounded at scale): the guard names
    the offending gram and its df, and routes to the capped/LSH paths.
    Disabling the guard (max_hot_df=None) restores verify-stage
    behavior, and the default guard stays silent when no gram is hot.
    """
    import pytest

    from vector_db_ingestor_spark.operators.dedup import ngram_jaccard_pairs

    docs = spark.createDataFrame(
        [(i, "en", f"hot gram everywhere unique{i} tail{i}") for i in range(8)],
        "doc_id INT, lang STRING, text STRING",
    )
    # bigram 'hot gram' appears in all 8 docs > max_hot_df=3
    with pytest.raises(ValueError, match="hot gram"):
        ngram_jaccard_pairs(docs, block_col="lang", n=2, threshold=0.2,
                            max_hot_df=3)
    # guard off -> the exact plan still builds and runs
    n_off = ngram_jaccard_pairs(
        docs, block_col="lang", n=2, threshold=0.2, max_hot_df=None
    ).count()
    # no hot grams at df=8 vs default cap -> guard silent, same result
    guarded = ngram_jaccard_pairs(docs, block_col="lang", n=2, threshold=0.2)
    # single-shingling contract: the guard's agg job and the returned
    # join plan share ONE persisted token stream — the corpus is never
    # shingled twice per uncapped guarded call
    assert "InMemoryRelation" in (
        guarded._jdf.queryExecution().optimizedPlan().toString()
    )
    assert guarded.count() == n_off
    # the capped path never triggers the eager guard job (hot grams are
    # dropped by construction there) even on the hot corpus
    ngram_jaccard_pairs(
        docs, block_col="lang", n=2, threshold=0.2, max_df=3, max_hot_df=3
    ).count()
    spark.catalog.clearCache()


def test_simhash_banded_recall_warning(spark):
    """simhash_near_dups warns iff max_hamming exceeds the pigeonhole
    guarantee bands-1 (partial banded recall), and stays silent inside
    the guarantee."""
    import warnings

    from vector_db_ingestor_spark.operators.dedup import simhash_near_dups

    df = spark.createDataFrame(
        [(1, "a b"), (2, "a c")], "doc_id INT, text STRING"
    )
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        simhash_near_dups(df, max_hamming=10, bands=4)
        assert any("pigeonhole" in str(w.message) for w in caught)
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        simhash_near_dups(df, max_hamming=3, bands=4)
        assert not any("pigeonhole" in str(w.message) for w in caught)
    # bands="auto" is complete by construction, so no recall warning
    # even at distances the default 4-band config would warn about
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        simhash_near_dups(df, max_hamming=10, bands="auto")
        assert not any("pigeonhole" in str(w.message) for w in caught)


def test_simhash_band_layout_partitions_all_64_bits():
    """The banding layout is a contiguous disjoint cover of all 64
    fingerprint bits (no bit outside every band), and the default
    4-band case reproduces the historical equal 16-bit split
    bit-for-bit (oracle continuity for q_dedup_simhash)."""
    import pytest

    from vector_db_ingestor_spark.operators.dedup import simhash_band_layout

    for n in (1, 2, 3, 4, 5, 7, 11, 13, 33, 64):
        layout = simhash_band_layout(n)
        assert len(layout) == n
        off = 0
        for o, w in layout:
            assert o == off and w >= 1
            off += w
        assert off == 64
    assert simhash_band_layout(4) == [(0, 16), (16, 16), (32, 16), (48, 16)]
    with pytest.raises(ValueError):
        simhash_band_layout(65)


from hypothesis import given, settings
from hypothesis import strategies as hyp_st


@given(
    fp=hyp_st.integers(min_value=0, max_value=2**64 - 1),
    flips=hyp_st.lists(
        hyp_st.integers(min_value=0, max_value=63),
        min_size=0, max_size=20, unique=True,
    ),
)
@settings(max_examples=300, deadline=None)
def test_simhash_auto_bands_pigeonhole_completeness(fp, flips):
    """Completeness property behind bands='auto': ANY pair of 64-bit
    fingerprints at Hamming distance d shares at least one of d+1
    bands — d differing bits can dirty at most d bands, and every bit
    belongs to exactly one band, so one band must match.  This is the
    guarantee that replaces the partial-recall warning."""
    from vector_db_ingestor_spark.operators.dedup import simhash_band_layout

    fp_b = fp
    for b in flips:
        fp_b ^= 1 << b
    layout = simhash_band_layout(len(flips) + 1)  # bands = max_hamming + 1

    def band_vals(x: int) -> list[int]:
        return [(x >> o) & ((1 << w) - 1) for o, w in layout]

    assert any(a == b for a, b in zip(band_vals(fp), band_vals(fp_b)))


def test_simhash_auto_bands_matches_exhaustive(spark):
    """bands='auto' at max_hamming=10 emits exactly the pairs the
    fully-complete 64-band config (one band per bit: complete for any
    distance <= 63) emits on the same corpus — the guarantee holds on
    real fingerprints, not just the abstract property."""
    from vector_db_ingestor_spark.operators.dedup import simhash_near_dups

    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "the quick brown fox jumps over the lazy cat"),
            (3, "the quick brown fox leaps over the lazy dog"),
            (4, "completely different text about spark shuffles"),
            (5, "completely different text about spark shuffling"),
        ],
        "doc_id INT, text STRING",
    )
    auto = {
        tuple(r)
        for r in simhash_near_dups(docs, max_hamming=10, bands="auto").collect()
    }
    full = {
        tuple(r)
        for r in simhash_near_dups(docs, max_hamming=10, bands=64).collect()
    }
    assert auto == full
    assert auto, "fixture must contain at least one near-dup pair"


def test_aqe_skew_join_splits_and_matches_salted(spark):
    """100 TB join story: AQE splits the hot partition at runtime
    (SortMergeJoin(skew=true) in the executed plan) and explicit
    salting produces the identical result — the two mitigations agree.
    """
    from vector_db_ingestor_spark.operators.joins import salted_join

    conf = spark.conf
    keys = [
        "spark.sql.autoBroadcastJoinThreshold",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes",
    ]
    saved = {}
    for k in keys:
        try:
            saved[k] = conf.get(k)
        except Exception:
            saved[k] = None
    try:
        conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
        conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "16KB")
        conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16KB")

        # one hot key with 300k rows vs 50 cold keys with 300 each
        big = (
            spark.range(300_000)
            .select(F.lit(0).cast("long").alias("k"), F.col("id").alias("rid"))
            .unionAll(
                spark.range(15_000).select(
                    (F.col("id") % 50 + 1).cast("long").alias("k"),
                    (F.col("id") + 1_000_000).alias("rid"),
                )
            )
        )
        small = spark.createDataFrame(
            [(i, f"n{i}") for i in range(51)], "k LONG, name STRING"
        )
        plain = big.join(small, "k")
        plain_rows = plain.collect()
        plan = (
            plain._jdf.queryExecution().executedPlan().toString()
            .split("== Initial Plan ==")[0]
        )
        assert "skew=true" in plan, plan
        salted_rows = salted_join(big, small, "k", n_salts=8).collect()
        assert len(salted_rows) == len(plain_rows) == 315_000
        assert {tuple(r) for r in salted_rows} == {tuple(r) for r in plain_rows}
    finally:
        for k, v in saved.items():
            if v is None:
                conf.unset(k)
            else:
                conf.set(k, v)


def test_dedup_clusters_known_graph(spark):
    from vector_db_ingestor_spark.operators.dedup import dedup_clusters

    # components: chain 1-2-3, triangle 10-11-12 (with redundant edge),
    # pair 20-21, singletons 30 and 31
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (11, 12), (10, 12), (20, 21)],
        "id_a LONG, id_b LONG",
    )
    nodes = spark.createDataFrame(
        [(i,) for i in [1, 2, 3, 10, 11, 12, 20, 21, 30, 31]], "doc_id LONG"
    )
    out = {r.doc_id: r.cluster_id for r in dedup_clusters(pairs, nodes).collect()}
    assert out == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 12: 10,
                   20: 20, 21: 20, 30: 30, 31: 31}


def test_dedup_clusters_nonconvergence_raises(spark):
    """Hitting max_iters before the fixpoint must raise, not silently
    return half-propagated cluster ids (min label travels one hop per
    round, so a 6-chain cannot settle in 2 rounds)."""
    import pytest

    from vector_db_ingestor_spark.operators.dedup import dedup_clusters

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(5)], "id_a LONG, id_b LONG"
    )
    nodes = spark.createDataFrame([(i,) for i in range(6)], "doc_id LONG")
    with pytest.raises(RuntimeError, match="did not converge"):
        dedup_clusters(chain, nodes, max_iters=2).collect()
    # and with enough rounds the same graph resolves fully
    out = {r.doc_id: r.cluster_id
           for r in dedup_clusters(chain, nodes, max_iters=10).collect()}
    assert out == {i: 0 for i in range(6)}


def test_minhash_shapes_agree_on_adversarial_corpus(spark):
    """Hot-path (explode-agg) vs contract (per-row HOF) signatures on a
    corpus of edge cases: unicode whitespace, empty/whitespace-only
    docs, single tokens, heavy gram repetition, mixed scripts.  Docs
    with no gram must be absent from BOTH shapes' outputs."""
    from pyspark.sql import functions as F

    from vector_db_ingestor_spark.operators.dedup import (
        minhash_signature,
        minhash_signatures,
        word_shingles_sql,
    )

    texts = [
        "",                      # no tokens
        "   \t  \n ",            # whitespace only
        "solo",                  # fewer tokens than shingle_n=2
        "a a a a a a a a",       # one distinct gram
        "x y z",            # NBSP inside — not split by \s+? pinned either way
        "ümlaut tökens über äll",
        "混合 script tokens 日本語 と english",
        "tab\tseparated\ttokens\there",
        "newline\nseparated\ntokens",
        " leading and trailing  ",
        "the quick brown fox " * 20,
        " em-space tokens wide",
    ]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id INT, text STRING"
    )
    sh = df.select(
        "doc_id", F.expr(word_shingles_sql("text", 2)).alias("sh")
    ).filter(F.size("sh") > 0)
    for family in ("xxhash64", "md5"):
        contract = {
            r.doc_id: list(r.sig)
            for r in sh.select(
                "doc_id", minhash_signature("sh", 8, family).alias("sig")
            ).collect()
        }
        hot = {
            r.doc_id: list(r.sig)
            for r in minhash_signatures(sh, 8, family, id_col="doc_id").collect()
        }
        assert hot == contract, family
        assert all(len(sig) == 8 for sig in hot.values())


def test_agg_approx_hll_within_rsd_of_exact(spark, sf_dir):
    """Quality pin for the rows-only q_agg_approx key: the HLL++
    estimate must land within a generous multiple of its configured
    relative standard deviation (AGG_APPROX_RSD, shared with the query
    implementation) of the exact per-group distinct count —
    approximate by design, but not unboundedly so."""
    from vector_db_ingestor_spark.queries import AGG_APPROX_RSD, QUERIES
    from vector_db_ingestor_spark.tables import load_table

    approx = {
        r.l_returnflag: r.approx_parts
        for r in QUERIES["q_agg_approx"](spark, sf_dir).collect()
    }
    exact = {
        r.l_returnflag: r.exact_parts
        for r in load_table(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(F.count_distinct("l_partkey").alias("exact_parts"))
        .collect()
    }
    assert set(approx) == set(exact)
    for flag, est in approx.items():
        rel_err = abs(est - exact[flag]) / exact[flag]
        assert rel_err <= 5 * AGG_APPROX_RSD, (flag, est, exact[flag], rel_err)


def _scalar_simhash_fp(text):
    """Brute-force SimHash reference for the kernel property test."""
    from vector_db_ingestor_spark.operators.dedup import fnv1a64_ref

    if not text:
        return 0
    votes = [0] * 64
    for tok in text.lower().split():
        h = fnv1a64_ref(tok)
        for i in range(64):
            votes[i] += 1 if (h >> i) & 1 else -1
    fp = sum(1 << i for i in range(64) if votes[i] > 0)
    return fp - (1 << 64) if fp >= (1 << 63) else fp


def test_simhash_kernel_property_random_text():
    """Hypothesis sweep of the numpy batch kernel against the scalar
    reference on arbitrary unicode text — runs the pandas function
    directly (no Spark session), so hundreds of examples are cheap.
    Catches any drift in the byte-matrix FNV sweep, the length-sorted
    prefix bookkeeping, or the per-bit reduceat vote."""
    import pandas as pd
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from vector_db_ingestor_spark.operators.dedup import simhash_udf

    kernel = simhash_udf().func
    texts_strategy = st.lists(
        st.one_of(
            st.none(),
            st.text(max_size=60),  # full unicode incl. surrogate-free astral
            st.text(
                alphabet=" abcde\t\n", max_size=40
            ),  # whitespace-heavy: many short tokens, token collisions
        ),
        min_size=0,
        max_size=12,
    )

    @settings(max_examples=200, deadline=None)
    @given(texts=texts_strategy)
    def check(texts):
        (out,) = list(kernel(iter([pd.Series(texts, dtype="object")])))
        assert out.tolist() == [_scalar_simhash_fp(t) for t in texts]

    check()


def test_hll_sketches_merge_exactly(spark, sf_dir):
    """The MERGEABILITY contract behind every 100 TB aggregation of
    q_agg_approx's family: per-group datasketches HLL sketches unioned
    register-wise must yield the IDENTICAL estimate to one global
    sketch over the same rows — so shard/day/partition-level sketches
    can be persisted and rolled up without ever rescanning the corpus
    (the same amortization bucketed_write gives joins).  Exact
    equality, not tolerance: union is a register-wise max, and both
    paths see the same values at the same lgK."""
    from pyspark.sql import functions as F

    from vector_db_ingestor_spark.tables import load_table

    ev = load_table(spark, sf_dir, "events")
    global_est = ev.agg(
        F.hll_sketch_estimate(F.hll_sketch_agg("user_id")).alias("e")
    ).first()["e"]
    merged_est = (
        ev.groupBy("event_type")
        .agg(F.hll_sketch_agg("user_id").alias("sk"))
        .agg(F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("e"))
        .first()["e"]
    )
    exact = ev.select("user_id").distinct().count()
    assert merged_est == global_est
    assert abs(merged_est - exact) / exact < 0.05


# ------------------------------------------------- fast literal parity

def test_lit_doubles_bitwise_parity(spark):
    """lit_doubles/lit_double_matrix (one-expr-string literals, r15
    optimization) must be BIT-identical to the per-element F.lit path
    they replaced — including -0.0 sign, denormals, and extreme
    magnitudes — or every model-literal plan would drift vs its oracle."""
    import math

    from vector_db_ingestor_spark.functions.literals import (
        lit_double_matrix,
        lit_doubles,
    )

    vals = [0.0, -0.0, 1e-300, -1e-300, 2.0**-1074, -1.5e308, 1.5e308,
            0.1, -1 / 3, 123456789.123456789, 2654435761.0]
    mat = [vals, list(reversed(vals))]
    row = (
        spark.range(1)
        .select(
            F.lit(vals).alias("a"),
            lit_doubles(vals).alias("b"),
            F.lit(mat).alias("ma"),
            lit_double_matrix(mat).alias("mb"),
        )
        .collect()[0]
    )
    assert len(row["a"]) == len(row["b"])
    for x, y in zip(row["a"], row["b"]):
        assert x == y and math.copysign(1.0, x) == math.copysign(1.0, y)
    for ra, rb in zip(row["ma"], row["mb"]):
        for x, y in zip(ra, rb):
            assert x == y and math.copysign(1.0, x) == math.copysign(1.0, y)
    # dtype parity: both sides must be array<double>
    df = spark.range(1).select(
        F.lit(vals).alias("a"), lit_doubles(vals).alias("b")
    )
    assert dict(df.dtypes) == {"a": "array<double>", "b": "array<double>"}


def test_lit_doubles_empty_is_typed_empty_array(spark):
    """Empty input returns a typed empty array<double> literal instead
    of raising (ADVICE r15 #2): the operator API boundary the F.lit
    path accepted must stay accepting, and a bare array() would parse
    as array<string> — a silent type change."""
    from vector_db_ingestor_spark.functions.literals import (
        lit_double_matrix,
        lit_doubles,
    )

    df = spark.range(1).select(
        lit_doubles([]).alias("e"), lit_double_matrix([]).alias("m")
    )
    assert dict(df.dtypes) == {"e": "array<double>", "m": "array<array<double>>"}
    row = df.collect()[0]
    assert row["e"] == [] and row["m"] == []


def test_contamination_report_pregrouped_shape_semantics(spark):
    """The r16 pre-grouped-eval contamination shape must reproduce the
    original two-countDistinct semantics on a crafted corpus covering
    the edges: a corpus doc that IS an eval doc (self-match excluded, a
    gram shared ONLY with itself not counted), one gram shared with
    several eval docs (counted once for n_shared_grams, each doc once
    for n_eval_docs), and a doc with no eval overlap (absent)."""
    from vector_db_ingestor_spark.operators.text_analysis import (
        contamination_report,
    )

    corpus = spark.createDataFrame(
        [
            # doc 1: bigrams {a b, b c} -> shares "a b" with evals 10+20,
            # "b c" with eval 10 -> n_shared=2, n_eval=2
            (1, "a b c"),
            # doc 10 IS an eval doc: its own grams excluded; shares
            # "a b" with eval 20 only -> n_shared=1, n_eval=1
            (10, "a b q r"),
            # doc 2: no overlap -> absent from the report
            (2, "x y z"),
        ],
        "doc_id INT, text STRING",
    )
    eval_docs = spark.createDataFrame(
        [(10, "a b q r"), (20, "a b w")], "doc_id INT, text STRING"
    )
    got = {
        r["doc_id"]: (r["n_shared_grams"], r["n_eval_docs"])
        for r in contamination_report(corpus, eval_docs, n=2).collect()
    }
    # doc 1 grams {a b, b c}: "a b" hits evals {10, 20}, "b c" none
    # doc 10 grams {a b, b q, q r}: all three hit eval 10 (itself,
    # excluded); "a b" also hits eval 20 -> (1, 1)
    assert got == {1: (1, 2), 10: (1, 1)}
