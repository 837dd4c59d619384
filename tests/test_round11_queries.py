"""Round-11 additions: the batched IVF-PQ key, the semantic-dedup
representative join-back recipe, and the WARC byte-length regression.
"""

import pandas as pd
from pyspark.sql import functions as F

from vector_db_ingestor_spark.queries import QUERIES


def test_ivfpq_batch_probe0_equals_single_key(spark, sf_dir):
    """q_ann_ivfpq_batch's probe-0 slice must equal q_ann_ivfpq row for
    row (same literals, same routing, same codes, same ADC): the batch
    plan may reorganize the computation — one encode pass, route
    fan-out, window rank — but never the per-probe answer."""
    single = (
        QUERIES["q_ann_ivfpq"](spark, sf_dir)
        .toPandas()
        .sort_values("score", ascending=False, ignore_index=True)
    )
    batch = QUERIES["q_ann_ivfpq_batch"](spark, sf_dir).toPandas()
    p0 = (
        batch[batch["query_id"] == 0]
        .sort_values("rank", ignore_index=True)[["vec_id", "cid", "score"]]
    )
    pd.testing.assert_frame_equal(
        p0, single[["vec_id", "cid", "score"]], check_dtype=False
    )
    # both probes answered, k rows each, ranks dense from 1
    for qid in (0, 1):
        ranks = sorted(batch[batch["query_id"] == qid]["rank"])
        assert ranks == list(range(1, len(ranks) + 1))
    assert set(batch["query_id"]) == {0, 1}


def test_semantic_dedup_representative_joinback(spark, sf_dir):
    """The join-back recipe the q_dedup_semantic docstring promises
    (mirroring q_dedup_representatives for the embedding channel):
    verdict joined onto the corpus yields (a) the surviving corpus =
    keep rows, (b) a per-representative report of how many near-dup
    vectors each kept row absorbed.  Invariants: survivors == distinct
    clusters, every member maps to a kept representative, member
    counts sum back to the corpus."""
    from vector_db_ingestor_spark.tables import load_table

    verdict = QUERIES["q_dedup_semantic"](spark, sf_dir)
    emb = load_table(spark, sf_dir, "embeddings")

    survivors = emb.join(
        verdict.filter("keep").select("vec_id"), "vec_id"
    )
    report = (
        verdict.groupBy("cluster_id")
        .agg(F.count("*").alias("n_members"))
        .withColumnRenamed("cluster_id", "vec_id")
    )
    rep_rows = report.join(survivors, "vec_id").collect()

    n_emb = emb.count()
    n_clusters = verdict.select("cluster_id").distinct().count()
    assert survivors.count() == n_clusters  # one survivor per cluster
    assert len(rep_rows) == n_clusters  # every representative survives
    assert sum(r.n_members for r in rep_rows) == n_emb  # partition
    assert any(r.n_members > 1 for r in rep_rows)  # dups were absorbed


def test_warc_synthesis_byte_correct_for_utf8(spark):
    """Regression for the ADVICE r10 char-vs-byte caveat: the
    q_warc_pipeline synthesis pattern (Content-Length from
    octet_length) must round-trip NON-ASCII text exactly — with
    char-count length the parser would slice short and corrupt every
    multi-byte document."""
    from vector_db_ingestor_spark.sources.warc import parse_warc_bytes

    texts = ["héllo wörld — ünïcode", "日本語のテキスト", "plain ascii"]
    docs = spark.createDataFrame(
        [(str(i), t) for i, t in enumerate(texts)], "doc_id string, text string"
    )
    http = F.concat(
        F.lit("HTTP/1.1 200 OK\r\nContent-Type: text/plain\r\n\r\n"),
        F.col("text"),
    )
    record = F.concat(
        F.lit("WARC/1.0\r\nWARC-Type: response\r\nWARC-Target-URI: "),
        F.concat(F.lit("http://fixtures/"), F.col("doc_id")),
        F.lit("\r\nWARC-Date: 2026-08-15T00:00:00Z\r\nContent-Length: "),
        F.octet_length(http).cast("string"),
        F.lit("\r\n\r\n"),
        http,
        F.lit("\r\n\r\n"),
    )
    segments = docs.select(
        F.concat(F.lit("mem://"), F.col("doc_id")).alias("path"),
        F.to_binary(record, F.lit("utf-8")).alias("content"),
    )
    got = {
        r.url: bytes(r.payload).decode("utf-8")
        for r in parse_warc_bytes(segments).collect()
    }
    assert got == {f"http://fixtures/{i}": t for i, t in enumerate(texts)}


def test_char_length_would_have_broken_utf8(spark):
    """The counterfactual the fix closes: char-count Content-Length
    under-slices multi-byte payloads (documents the WHY of
    octet_length; if this ever starts passing with equality, the
    parser stopped honoring Content-Length)."""
    t = "héllo wörld — ünïcode"
    assert len(t) < len(t.encode("utf-8"))  # chars undercount bytes


def test_ivf_drift_report_matches_duckdb_oracle(spark, sf_dir):
    """Round-12 queue item, differentially tested AHEAD of declaration
    (the round-11 rotation window is full): q_ivf_drift_report_impl on
    Spark vs _ivf_drift_oracle on DuckDB over the same parquet — the
    exact comparison the driver gate will run once the key registers."""
    import duckdb

    from vector_db_ingestor_spark.queries import (
        _ivf_drift_oracle,
        q_ivf_drift_report_impl,
    )

    got = (
        q_ivf_drift_report_impl(spark, sf_dir)
        .toPandas()
        .sort_values("cid", ignore_index=True)
    )
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW embeddings AS SELECT * FROM "
        f"read_parquet('{sf_dir}/embeddings.parquet')"
    )
    want = con.execute(_ivf_drift_oracle()).df().sort_values(
        "cid", ignore_index=True
    )
    assert len(got) == len(want) == 8  # full cid range, empties included
    pd.testing.assert_frame_equal(
        got[["cid", "n", "share", "skew"]].astype(
            {"cid": "int64", "n": "int64", "share": "float64", "skew": "float64"}
        ),
        want[["cid", "n", "share", "skew"]].astype(
            {"cid": "int64", "n": "int64", "share": "float64", "skew": "float64"}
        ),
    )
    assert abs(got["share"].sum() - 1.0) < 1e-6
    assert abs(got["skew"].mean() - 1.0) < 1e-6


def test_warc_ingest_matches_duckdb_oracle(spark, sf_dir):
    """Round-12 queue item 2/2, differentially tested ahead of
    declaration: the synthesized-WARC -> real parser -> real chunk
    kernel chain vs its recursive-CTE oracle on DuckDB — the driver
    comparison q_warc_ingest will face once registered."""
    import duckdb

    from vector_db_ingestor_spark.queries import (
        _warc_ingest_oracle,
        q_warc_ingest_impl,
    )

    cols = ["chunk_uid", "filename", "chunk_index", "total_chunks",
            "chunk_chars", "emb_dim"]
    got = (
        q_warc_ingest_impl(spark, sf_dir)
        .toPandas()[cols]
        .sort_values(cols, ignore_index=True)
    )
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{sf_dir}/documents.parquet')"
    )
    want = con.execute(_warc_ingest_oracle()).df()[cols].sort_values(
        cols, ignore_index=True
    )
    assert len(got) == len(want) > 0
    for c in cols:
        got[c] = got[c].astype(str)
        want[c] = want[c].astype(str)
    pd.testing.assert_frame_equal(got, want)


def test_url_curation_matches_duckdb_oracle(spark, sf_dir):
    """Round-13 queue item, differentially tested ahead of declaration:
    synthesized crawl URLs through functions/url.py's host /
    registrable-domain / canonical-normalization expressions vs an
    oracle that rebuilds every output from the raw document fields."""
    import duckdb

    from vector_db_ingestor_spark.queries import (
        _url_curation_oracle,
        q_url_curation_impl,
    )

    cols = ["doc_id", "url_raw", "host", "rdom", "url_canon"]
    got = (
        q_url_curation_impl(spark, sf_dir)
        .toPandas()[cols]
        .astype(str)
        .sort_values(cols, ignore_index=True)
    )
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{sf_dir}/documents.parquet')"
    )
    want = (
        con.execute(_url_curation_oracle())
        .df()[cols]
        .astype(str)
        .sort_values(cols, ignore_index=True)
    )
    pd.testing.assert_frame_equal(got, want)
    assert len(got) > 0


def _duck(sf_dir, tables=("documents",)):
    import duckdb

    con = duckdb.connect()
    for t in tables:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


def _frames_equal(got, want, cols):
    got = got[cols].astype(str).sort_values(cols, ignore_index=True)
    want = want[cols].astype(str).sort_values(cols, ignore_index=True)
    pd.testing.assert_frame_equal(got, want)


def test_dedup_url_matches_duckdb_oracle(spark, sf_dir):
    """Round-13/14 queue item: canonical-URL dedup — url_normalize's
    collapse of host casing / tracking params / trailing slash vs the
    oracle's hand-built canonical, plus the first-seen keep rule."""
    from vector_db_ingestor_spark.queries import (
        _dedup_url_oracle,
        q_dedup_url_impl,
    )

    cols = ["doc_id", "url_canon", "n_dups", "keep"]
    got = q_dedup_url_impl(spark, sf_dir).toPandas()
    want = _duck(sf_dir).execute(_dedup_url_oracle()).df()
    _frames_equal(got, want, cols)
    # collisions actually engineered: dedup must drop something
    assert (~got["keep"]).sum() > 0
    assert got["keep"].sum() == got["url_canon"].nunique()


def test_boilerplate_strip_matches_duckdb_oracle(spark, sf_dir):
    """Round-13/14 queue item: the boilerplate REMOVAL pass — cleaned
    text pinned by sha256 cross-engine, order preserved, footers gone."""
    from vector_db_ingestor_spark.queries import (
        _boilerplate_strip_oracle,
        q_text_boilerplate_strip_impl,
    )

    cols = ["doc_id", "n_kept", "n_dropped", "clean_chars", "clean_sha"]
    got = q_text_boilerplate_strip_impl(spark, sf_dir).toPandas()
    want = _duck(sf_dir).execute(_boilerplate_strip_oracle()).df()
    _frames_equal(got, want, cols)
    # the seeded footers are 2 lines per doc and must all be dropped
    assert (got["n_dropped"].astype(int) >= 2).all()
    assert (got["n_kept"].astype(int) >= 1).all()


def test_nb_classify_matches_duckdb_oracle(spark, sf_dir):
    """Round-13/14 queue item: closed-form Naive Bayes train+score —
    integer micro-nat scores and argmax verdicts must agree exactly."""
    from vector_db_ingestor_spark.queries import (
        _nb_classify_oracle,
        q_nb_classify_impl,
    )

    cols = ["doc_id", "actual_lang", "pred_lang", "correct", "score_mn"]
    got = q_nb_classify_impl(spark, sf_dir).toPandas()
    want = _duck(sf_dir).execute(_nb_classify_oracle()).df()
    _frames_equal(got, want, cols)


def test_nb_classify_learns_the_seeded_marker(spark, sf_dir):
    """Quality property: held-out docs carrying the seeded lang marker
    must classify correctly (the marker is class-pure in training), and
    overall accuracy must beat chance."""
    from vector_db_ingestor_spark.queries import q_nb_classify_impl

    got = q_nb_classify_impl(spark, sf_dir).toPandas()
    marked = got[got["doc_id"] % 7 < 4]
    assert len(marked) > 0
    assert marked["correct"].astype(bool).mean() >= 0.9
    assert got["correct"].astype(bool).mean() > 1.0 / 5


def test_stream_dedup_matches_duckdb_oracle(spark, sf_dir):
    """Round-13/14 queue item: at-least-once -> exactly-once batch
    parity of streaming/windows.py dedup_stream."""
    from vector_db_ingestor_spark.queries import (
        _stream_dedup_oracle,
        q_stream_dedup_impl,
    )

    cols = ["event_type", "n_delivered", "n_unique", "total_value"]
    got = q_stream_dedup_impl(spark, sf_dir).toPandas()
    want = _duck(sf_dir, tables=("events",)).execute(
        _stream_dedup_oracle()
    ).df()
    _frames_equal(got, want, cols)
    assert (got["n_delivered"].astype(int) > got["n_unique"].astype(int)).all()


def test_html_extract_matches_duckdb_oracle(spark, sf_dir):
    """Round-13/14 queue item: in-plan synthesized HTML through the
    REAL stdlib extractor vs the oracle's hand-built expectation —
    script-subtree skipping, title capture, entity unescaping, and
    block/whitespace normalization all pinned by sha256."""
    from vector_db_ingestor_spark.queries import (
        _html_extract_oracle,
        q_html_extract_impl,
    )

    cols = ["doc_id", "title", "extract_chars", "extract_sha"]
    got = q_html_extract_impl(spark, sf_dir).toPandas()
    want = _duck(sf_dir).execute(_html_extract_oracle()).df()
    _frames_equal(got, want, cols)
    assert len(got) == 500


def test_fixture_text_is_html_safe(sf_dir):
    """The q_html_extract oracle rebuilds the extraction verbatim from
    raw text — valid only while fixture text is single-line,
    single-spaced, markup-free.  Pin that contract."""
    import duckdb

    con = duckdb.connect()
    bad = con.execute(
        f"""SELECT count(*) FROM read_parquet('{sf_dir}/documents.parquet')
        WHERE contains(text, '  ') OR text <> trim(text)
           OR contains(text, '<') OR contains(text, '&')
           OR contains(text, chr(10)) OR contains(text, chr(9))"""
    ).fetchone()[0]
    assert bad == 0


def test_sketch_cms_matches_duckdb_oracle(spark, sf_dir):
    """Round-14 queue item: count-min sketch build + probe, every hash
    closed-form — estimates and top-20 ranking must agree exactly."""
    from vector_db_ingestor_spark.queries import (
        _sketch_cms_oracle,
        q_sketch_cms_impl,
    )

    cols = ["token", "exact_n", "cms_est"]
    got = q_sketch_cms_impl(spark, sf_dir).toPandas()
    want = _duck(sf_dir).execute(_sketch_cms_oracle()).df()
    _frames_equal(got, want, cols)
    # count-min error is one-sided: never underestimates
    assert (got["cms_est"].astype(int) >= got["exact_n"].astype(int)).all()
    assert len(got) == 20


def test_ivfpq_refine_matches_duckdb_oracle(spark, sf_dir):
    """Round-14 queue item: ADC shortlist + exact re-rank — the
    composition of two hash-green primitives must stay hash-exact."""
    from vector_db_ingestor_spark.queries import (
        _ivfpq_refine_oracle,
        q_ann_ivfpq_refine_impl,
    )

    cols = ["vec_id", "label", "score", "rank"]
    got = q_ann_ivfpq_refine_impl(spark, sf_dir).toPandas()
    want = _duck(sf_dir, tables=("embeddings",)).execute(
        _ivfpq_refine_oracle()
    ).df()
    _frames_equal(got, want, cols)
    assert len(got) == 10


def test_ivfpq_refine_improves_on_raw_adc(spark, sf_dir):
    """Quality property: against exact full-corpus top-10, the refined
    list must recall at least as much as the raw ADC top-10 (refine
    can only fix PQ ordering error, never introduce it)."""
    from vector_db_ingestor_spark.constants import PROBE_64
    from vector_db_ingestor_spark.operators.topk import topk_cosine
    from vector_db_ingestor_spark.queries import (
        QUERIES as Q,
        q_ann_ivfpq_refine_impl,
    )
    from vector_db_ingestor_spark.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    exact = {r.vec_id for r in topk_cosine(emb, PROBE_64, k=10).collect()}
    adc = {r.vec_id for r in Q["q_ann_ivfpq"](spark, sf_dir).collect()}
    refined = {
        r.vec_id for r in q_ann_ivfpq_refine_impl(spark, sf_dir).collect()
    }
    assert len(refined & exact) >= len(adc & exact)


def test_join_interval_matches_quadratic_oracle(spark, sf_dir):
    """Round-14 queue item: the bucketed interval-overlap plan vs the
    literal quadratic theta join it replaces — per-campaign visit
    counts must agree exactly, including zero-overlap campaigns."""
    from vector_db_ingestor_spark.queries import (
        _join_interval_oracle,
        q_join_interval_impl,
    )

    cols = ["event_id", "n_visits"]
    got = q_join_interval_impl(spark, sf_dir).toPandas()
    want = _duck(sf_dir, tables=("events",)).execute(
        _join_interval_oracle()
    ).df()
    _frames_equal(got, want, cols)
    assert len(got) >= 5  # one campaign per 97 events
    assert (got["n_visits"].astype(int) > 0).any()


def test_interval_overlap_counts_each_pair_once(spark):
    """Adversarial micro-fixture for the canonical-bucket dedup: a pair
    sharing MANY buckets (long intervals, small buckets) must still
    count once, and a zero-overlap probe must keep its 0."""
    from vector_db_ingestor_spark.operators.joins import (
        interval_overlap_count,
    )

    probe = spark.createDataFrame(
        [(1, "2024-01-01 00:00:00", "2024-01-01 02:00:00"),
         (2, "2024-06-01 00:00:00", "2024-06-01 00:10:00")],
        "pid int, s string, e string",
    ).select("pid", F.col("s").cast("timestamp").alias("s"),
             F.col("e").cast("timestamp").alias("e"))
    build = spark.createDataFrame(
        [("2024-01-01 00:30:00", "2024-01-01 01:30:00"),  # nested, 60min
         ("2024-01-01 01:59:00", "2024-01-01 03:00:00")],  # straddles end
        "s string, e string",
    ).select(F.col("s").cast("timestamp").alias("s"),
             F.col("e").cast("timestamp").alias("e"))
    out = {
        r.pid: r.n
        for r in interval_overlap_count(
            probe, build, "s", "e", "s", "e",
            probe_keys=["pid"], bucket_seconds=300, count_alias="n",
        ).collect()
    }
    # pid 1: both build intervals overlap, each spanning many 5-min
    # buckets shared with the 2h probe — still exactly 1 count each
    assert out == {1: 2, 2: 0}


def test_interval_overlap_null_probe_bounds_surface_as_zero(spark):
    """Left-semantics corner: a probe with a NULL start/end must NOT
    vanish from the report — it overlaps nothing, so it keeps a
    0-count row (ADVICE r11: explode over a NULL sequence silently
    dropped the probe key entirely)."""
    from vector_db_ingestor_spark.operators.joins import (
        interval_overlap_count,
    )

    probe = spark.createDataFrame(
        [(1, "2024-01-01 00:00:00", "2024-01-01 02:00:00"),
         (2, None, "2024-01-01 02:00:00"),
         (3, "2024-01-01 00:00:00", None)],
        "pid int, s string, e string",
    ).select("pid", F.col("s").cast("timestamp").alias("s"),
             F.col("e").cast("timestamp").alias("e"))
    build = spark.createDataFrame(
        [("2024-01-01 00:30:00", "2024-01-01 01:30:00")],
        "s string, e string",
    ).select(F.col("s").cast("timestamp").alias("s"),
             F.col("e").cast("timestamp").alias("e"))
    out = {
        r.pid: r.n
        for r in interval_overlap_count(
            probe, build, "s", "e", "s", "e",
            probe_keys=["pid"], bucket_seconds=300, count_alias="n",
        ).collect()
    }
    assert out == {1: 1, 2: 0, 3: 0}


def test_graph_pagerank_conserves_total_rank(spark, sf_dir):
    """Round-15 queue item sanity: on a dangling-free 3-out-regular
    graph total PageRank is invariant (sum = 1 at every iteration —
    the integer recurrence preserves it exactly)."""
    from vector_db_ingestor_spark.queries import q_graph_pagerank_impl

    got = q_graph_pagerank_impl(spark, sf_dir).toPandas()
    assert abs(got["pagerank"].sum() - 1.0) < 1e-5
    assert got["pagerank"].min() > 0  # teleport floor reaches everyone
    assert got["pr_units"].nunique() > 10  # structure, not uniformity


# the 22 pairs built rounds 11-15 ahead of their declaration, each
# kept under the uniform comparison after it was declared
BUILT_AHEAD_KEYS = (
    "q_agg_decay",
    "q_ann_ivf_escalate",
    "q_ann_ivf_filtered",
    "q_ann_nprobe_curve",
    "q_bpe_train",
    "q_csv_ingest",
    "q_curation_pipeline",
    "q_dedup_containment",
    "q_dedup_passage",
    "q_graph_hits",
    "q_join_asof_nearest",
    "q_join_asof_tolerance",
    "q_join_spatial",
    "q_jsonl_ingest",
    "q_multimodal_dedup",
    "q_multimodal_manifest",
    "q_sample_reservoir",
    "q_sample_temperature",
    "q_sketch_kmv",
    "q_stats_ab",
    "q_tokens_per_source",
    "q_vec_pq_quality",
)


import pytest  # noqa: E402


@pytest.mark.parametrize("key", BUILT_AHEAD_KEYS)
def test_queue_registry_pair_is_hash_green(spark, sf_dir, key):
    """Every pair built ahead of its declaration through the uniform
    driver-style comparison (schema by sorted column names, values
    exact after string-normalization) — the registry-wide safety net
    behind the per-key tests above, and the same check
    scripts/check_oracle.py runs."""
    from vector_db_ingestor_spark.queries import ORACLE_SQL

    fn, sql = QUERIES[key], ORACLE_SQL[key]
    got = fn(spark, sf_dir).toPandas()
    want = _duck(
        sf_dir, tables=("documents", "embeddings", "events")
    ).execute(sql).df()
    assert sorted(got.columns) == sorted(want.columns)
    assert len(got) == len(want) > 0
    _frames_equal(got, want, sorted(got.columns))


def test_bloom_has_no_false_negatives(spark, sf_dir):
    """The Bloom guarantee the pre-filter use case rests on: every
    truly-present probed token MUST report in_bloom (one-sided error);
    any false positives are visible in the same result."""
    from vector_db_ingestor_spark.queries import q_sketch_bloom_impl

    got = q_sketch_bloom_impl(spark, sf_dir).toPandas()
    present = got[got["truly_present"].astype(bool)]
    assert len(present) > 0
    assert present["in_bloom"].astype(bool).all()


def test_linear_counting_estimate_tracks_exact(spark, sf_dir):
    """Linear counting at ~1% bitmap load is near-exact: the
    milli-encoded estimate must land within 10% of the true distinct
    count for every language group."""
    from vector_db_ingestor_spark.queries import q_sketch_linear_impl

    got = q_sketch_linear_impl(spark, sf_dir).toPandas()
    assert len(got) == 5
    est = got["est_milli"].astype(float) / 1000.0
    exact = got["exact_distinct"].astype(float)
    assert ((est - exact).abs() / exact < 0.10).all()


def test_matryoshka_shortlist_recall_property(spark, sf_dir):
    """The progressive-retrieval quality fact: the prefix-dim top-50
    shortlist must recall most of the exact full-dim top-10 even on
    non-MRL vectors (leading dims of generic embeddings still carry
    signal); the final output is exact-ranked so any recalled id is
    ranked correctly."""
    from vector_db_ingestor_spark.constants import PROBE_64
    from vector_db_ingestor_spark.operators.topk import topk_cosine
    from vector_db_ingestor_spark.queries import q_topk_matryoshka_impl
    from vector_db_ingestor_spark.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    exact = [r.vec_id for r in topk_cosine(emb, PROBE_64, k=10).collect()]
    got = q_topk_matryoshka_impl(spark, sf_dir).toPandas()
    recalled = set(got["vec_id"]) & set(exact)
    # fixture embeddings are NOT MRL-trained (random-ish dims), so the
    # calibrated bar is signal-above-chance, not production recall:
    # a 50-of-500 shortlist recalls E[overlap]=1.0 of the exact top-10
    # by chance; require >=2x chance (observed: 3x at sf0.001).  On an
    # MRL model the leading dims are trained to carry the ranking and
    # this shortlist recalls nearly everything — a model property the
    # key's docstring declares out of scope.
    assert len(recalled) >= 2
    # exactness of ranking among recalled ids: relative order preserved
    got_order = [v for v in got["vec_id"] if v in recalled]
    exact_order = [v for v in exact if v in recalled]
    assert got_order == exact_order
