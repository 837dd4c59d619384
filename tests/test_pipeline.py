"""End-to-end ingestion pipeline tests (reference EP1/EP2 parity)."""

import pathlib

import pytest
from pyspark.sql import functions as F

from vector_db_ingestor_spark.embedding import HashingEmbedder
from vector_db_ingestor_spark.pipeline import (
    VectorCollection,
    build_chunks,
    ingest_directory,
    ingest_report,
)

PDF_DIR = pathlib.Path("/root/reference/pdf_datasets")
GOLDEN_DIR = pathlib.Path(__file__).parent / "goldens" / "pdf_extract"


@pytest.mark.skipif(not PDF_DIR.exists(), reason="reference corpus not present")
def test_pdf_extraction_content_goldens():
    """Per-file CONTENT parity for the stdlib extractor over the full
    reference corpus (R2/R3, src/PDFToChromaIngester.py:68-92): the
    committed goldens are the extractor's output on all 8 PDFs, so any
    regression in the Flate/CID/Type0 engines changes bytes here —
    "status == ok" alone would not catch garbled-but-nonempty text.
    pypdf/PyPDF2 are not in the image, so cross-engine similarity
    cannot be asserted; the goldens freeze OUR engine instead, and the
    keyword checks below pin that the text is real prose, not
    xref/stream noise."""
    from vector_db_ingestor_spark.sources.pdf import extract_pdf_text

    pdfs = sorted(PDF_DIR.glob("*.pdf"))
    assert len(pdfs) == 8
    for pdf in pdfs:
        golden = GOLDEN_DIR / (pdf.stem + ".txt")
        assert golden.exists(), f"missing golden for {pdf.name}"
        got = extract_pdf_text(pdf.read_bytes())
        want = golden.read_text(encoding="utf-8")
        assert got == want, (
            f"{pdf.name}: extraction drifted from golden "
            f"({len(got)} vs {len(want)} chars)"
        )
    # spot semantic anchors: domain terms must survive extraction
    anchors = {
        "Skyline_Airways_policy_doc": "Customer Service Policy",
        "IATA_guidance_document_on_baggage_standards_for_airlines": "baggage",
        "COMPLETE_TRAVEL_INSURANCE_GUIDE": "insurance",
        "Airline_FAQ_generic": "boarding pass",
    }
    for stem, needle in anchors.items():
        text = (GOLDEN_DIR / (stem + ".txt")).read_text(encoding="utf-8")
        assert needle.lower() in text.lower(), f"{stem}: {needle!r} not found"


def test_hashing_embedder_deterministic_and_normalized():
    e = HashingEmbedder(dim=64)
    v1 = e.embed_one("hello world")
    v2 = e.embed_one("hello world")
    assert v1 == v2
    assert sum(x * x for x in v1) == pytest.approx(1.0)
    # passage vs query prefixes differ (BGE contract)
    assert e.embed_one("hello", "passage") != e.embed_one("hello", "query")


def test_build_chunks_from_synthetic_binary(spark, tmp_path):
    # a fake "pdf" the stdlib extractor can read: uncompressed stream with Tj ops
    body = b"stream\n" + b"(Sentence one. Sentence two! More words here? " + \
        b"Lots of text follows and follows. ) Tj\nendstream"
    files = spark.createDataFrame(
        [("file:/fake/a.pdf", "a.pdf", len(body), bytearray(body))],
        "source STRING, filename STRING, file_bytes LONG, content BINARY",
    )
    chunks = build_chunks(files, metadata={"category": "t"}, chunk_size=30, overlap=5)
    rows = chunks.collect()
    assert len(rows) > 1
    r0 = rows[0]
    assert r0.chunk_id == "a.pdf_chunk_0"
    assert r0.total_chunks == len(rows)
    assert r0.metadata["category"] == "t"
    assert len(r0.embedding) == 64
    assert len(r0.chunk_uid) == 64  # sha2-256 hex
    # deterministic ids across runs
    rows2 = build_chunks(files, metadata={"category": "t"}, chunk_size=30, overlap=5).collect()
    assert [r.chunk_uid for r in rows2] == [r.chunk_uid for r in rows]


def test_search_accepts_query_list(spark, tmp_path):
    from vector_db_ingestor_spark.pipeline import VectorCollection

    body = (
        b"stream\n(Spark processes data at scale. Chroma stores embeddings. "
        b"Retrieval augmented generation needs context. ) Tj\nendstream"
    )
    files = spark.createDataFrame(
        [("file:/fake/a.pdf", "a.pdf", len(body), bytearray(body))],
        "source STRING, filename STRING, file_bytes LONG, content BINARY",
    )
    coll = VectorCollection(spark, str(tmp_path / "coll"))
    coll.overwrite(build_chunks(files, chunk_size=40, overlap=5))

    queries = ["spark scale", "chroma embeddings", "rag context"]
    hits = coll.search(queries, n_results=2).collect()
    by_query = {}
    for r in hits:
        by_query.setdefault(r.query_idx, []).append(r)
    # every query gets its own ranked hits, tagged with its text
    assert set(by_query) == {0, 1, 2}
    for i, q in enumerate(queries):
        ranks = sorted(r.rank for r in by_query[i])
        assert ranks == list(range(1, len(ranks) + 1))
        assert all(r.query_text == q for r in by_query[i])
    # single-string path unchanged
    single = coll.search("spark scale", n_results=2).collect()
    assert [r.chunk_uid for r in single] == [
        r.chunk_uid for r in sorted(by_query[0], key=lambda r: r.rank)
    ]
    import pytest

    with pytest.raises(ValueError):
        coll.search(["ok", "  "])


def test_build_chunks_honors_embedder_subclass(spark):
    from vector_db_ingestor_spark.embedding import HashingEmbedder

    class MarkerEmbedder(HashingEmbedder):
        def embed_one(self, text, prefix="passage"):
            v = [0.0] * self.dim
            v[0] = 42.0
            return v

    body = b"stream\n(Enough words to make at least one chunk here.) Tj\nendstream"
    files = spark.createDataFrame(
        [("file:/fake/m.pdf", "m.pdf", len(body), bytearray(body))],
        "source STRING, filename STRING, file_bytes LONG, content BINARY",
    )
    rows = build_chunks(files, embedder=MarkerEmbedder(dim=8)).collect()
    assert rows, "expected chunks"
    # the subclass's embed_one must run inside the fused kernel — a
    # silently substituted base HashingEmbedder would fail this
    assert all(r.embedding[0] == 42.0 and len(r.embedding) == 8 for r in rows)


@pytest.mark.skipif(not PDF_DIR.exists(), reason="reference corpus not present")
def test_ingest_directory_end_to_end(spark, tmp_path):
    out = str(tmp_path / "collection")
    report = ingest_directory(
        spark, str(PDF_DIR), out, metadata={"category": "airline_docs"}
    )
    rows = {r.filename: r for r in report.collect()}
    assert len(rows) == 8  # all 8 pdfs accounted for (R17)
    # full extraction parity: every reference PDF yields text (the
    # stdlib CID/Type0 engine covers what the Flate extractor cannot)
    assert all(r.status == "ok" for r in rows.values()), {
        f: r.status for f, r in rows.items()
    }
    coll = VectorCollection(spark, out)
    assert coll.count() > 50

    hits = coll.search("baggage allowance", n_results=3)
    got = hits.collect()
    assert len(got) == 3
    assert [r.rank for r in got] == [1, 2, 3]

    ctx = coll.context_for_rag("interline baggage", max_context_length=800)
    assert 0 < len(ctx) <= 800
    assert ctx.startswith("[Source: ")

    # R15 input validation (src/RagWorkflow.py:30-32)
    with pytest.raises(ValueError):
        coll.search("   ")


def test_append_lifecycle(spark, tmp_path):
    out = str(tmp_path / "coll2")
    df = spark.createDataFrame([(1, "x")], "a INT, b STRING")
    coll = VectorCollection(spark, out)
    coll.overwrite(df)
    coll.append(df)
    assert coll.count() == 2
    coll.overwrite(df)
    assert coll.count() == 1


def test_metadata_filtered_search(spark, tmp_path):
    e = HashingEmbedder()
    texts = [("alpha beta gamma", "cat1"), ("alpha beta gamma", "cat2")]
    rows = [
        (
            f"uid{i}", f"f{i}_chunk_0", f"src{i}", f"f{i}.pdf", 0, 1, t,
            {"category": c}, e.embed_one(t),
        )
        for i, (t, c) in enumerate(texts)
    ]
    schema = (
        "chunk_uid STRING, chunk_id STRING, source STRING, filename STRING, "
        "chunk_index INT, total_chunks INT, text STRING, "
        "metadata MAP<STRING,STRING>, embedding ARRAY<DOUBLE>"
    )
    out = str(tmp_path / "coll3")
    coll = VectorCollection(spark, out)
    coll.overwrite(spark.createDataFrame(rows, schema))
    hits = coll.search("alpha beta", n_results=5, filter_metadata={"category": "cat2"})
    got = hits.collect()
    assert [r.chunk_uid for r in got] == ["uid1"]


def test_bucketed_collection_join_is_shuffle_free(spark, tmp_path):
    spark.sql(f"CREATE DATABASE IF NOT EXISTS bkt LOCATION '{tmp_path}/bkt'")
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    # forbid broadcast so the assert proves bucket co-location, not AQE
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        a = spark.range(0, 1000).select(
            F.sha2(F.col("id").cast("string"), 256).alias("chunk_uid"),
            F.col("id").alias("va"),
        )
        b = spark.range(0, 1000).select(
            F.sha2(F.col("id").cast("string"), 256).alias("chunk_uid"),
            (F.col("id") * 2).alias("vb"),
        )
        for name, df in (("ta", a), ("tb", b)):
            (
                df.write.mode("overwrite").format("parquet")
                .bucketBy(8, "chunk_uid").sortBy("chunk_uid")
                .saveAsTable(f"bkt.{name}")
            )
        joined = spark.table("bkt.ta").join(spark.table("bkt.tb"), "chunk_uid")
        assert joined.count() == 1000
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan, plan
        n_shuffles = plan.count("Exchange") - plan.count("BroadcastExchange")
        assert n_shuffles == 0, plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP DATABASE IF EXISTS bkt CASCADE")


def test_upsert_files_replaces_only_named_files(spark, tmp_path):
    from vector_db_ingestor_spark.pipeline import VectorCollection

    def chunks_for(filename, texts):
        return spark.createDataFrame(
            [
                (f"{filename}_{i}", f"{filename}_chunk_{i}", f"mem://{filename}",
                 filename, i, len(texts), t, {"v": "1"}, [0.0] * 4)
                for i, t in enumerate(texts)
            ],
            "chunk_uid STRING, chunk_id STRING, source STRING, filename STRING, "
            "chunk_index INT, total_chunks INT, text STRING, "
            "metadata MAP<STRING,STRING>, embedding ARRAY<DOUBLE>",
        )

    coll = VectorCollection(spark, str(tmp_path / "coll"))
    coll.upsert_files(chunks_for("a.pdf", ["one", "two"]).unionByName(
        chunks_for("b.pdf", ["three"])))
    assert coll.count() == 3
    # re-ingest only a.pdf with new content; b.pdf must survive
    coll.upsert_files(chunks_for("a.pdf", ["ONE"]))
    rows = {(r.filename, r.text) for r in coll.df().collect()}
    assert rows == {("a.pdf", "ONE"), ("b.pdf", "three")}



def test_text_sources_roundtrip(spark, tmp_path):
    from vector_db_ingestor_spark.sources.text import (
        scan_csv,
        scan_jsonl,
        scan_text_files,
    )

    (tmp_path / "docs.jsonl").write_text(
        '{"doc_id": 1, "text": "alpha beta", "lang": "en", "source": "s0"}\n'
        '{"doc_id": 2, "text": "gamma", "lang": "de", "source": "s1"}\n'
    )
    (tmp_path / "docs.csv").write_text(
        "doc_id,text,lang,source\n1,alpha beta,en,s0\n2,gamma,de,s1\n"
    )
    (tmp_path / "a.txt").write_text("plain text body. second sentence.")

    jl = scan_jsonl(spark, str(tmp_path / "docs.jsonl"))
    cv = scan_csv(spark, str(tmp_path / "docs.csv"))
    assert {tuple(r) for r in jl.collect()} == {tuple(r) for r in cv.collect()}
    tx = scan_text_files(spark, str(tmp_path)).collect()
    assert len(tx) == 1 and tx[0].filename == "a.txt"
    assert tx[0].text.startswith("plain text body")


def test_compact_collapses_small_files(spark, tmp_path):
    from vector_db_ingestor_spark.pipeline import VectorCollection
    import os

    path = str(tmp_path / "frag_coll")
    coll = VectorCollection(spark, path)
    # simulate 10 micro-batch appends -> many small files
    for batch in range(10):
        spark.range(batch * 100, (batch + 1) * 100).selectExpr(
            "cast(id as string) AS chunk_uid", "id AS n"
        ).repartition(4).write.mode("append").parquet(path)

    def parquet_files():
        return [f for f in os.listdir(path) if f.endswith(".parquet")]

    before = coll.df().count()
    assert len(parquet_files()) >= 40
    n_files = coll.compact(target_file_bytes=10 * 1024 * 1024)
    assert n_files == len(parquet_files())
    assert n_files < 5
    after_df = coll.df()
    assert after_df.count() == before
    assert set(after_df.columns) == {"chunk_uid", "n"}


def test_compact_restores_range_layout(spark, tmp_path):
    """Compaction on a range-laid-out collection must RESTORE the
    global order (append leaves per-batch disjoint ranges; compact
    folds them back into one corpus-wide order — the contract the
    append docstring promises) and must re-record the sidecar (the
    rewrite's parquet read skips underscore dirs, so the record would
    otherwise vanish with the retired directory)."""
    import glob as _glob

    import pyarrow.parquet as pq

    from vector_db_ingestor_spark.pipeline import VectorCollection

    path = str(tmp_path / "ranged_frag")
    coll = VectorCollection(spark, path)
    mk = lambda lo, hi: spark.range(lo, hi).selectExpr(
        "format_string('uid%06d', id) AS chunk_uid", "id AS n"
    )
    coll.overwrite(mk(0, 400), layout="range:chunk_uid", layout_files=4)
    # per-batch layouts: each append is range-sorted within itself,
    # but batches overlap each other -> files are NOT globally disjoint
    for batch in range(3):
        coll.append(mk(batch * 100 + 400, batch * 100 + 900))
    before_rows = coll.df().count()

    def uid_ranges():
        out = []
        for f in sorted(_glob.glob(f"{path}/part-*.parquet")):
            md = pq.ParquetFile(f).metadata
            col = next(
                i for i in range(md.num_columns)
                if md.schema.column(i).name == "chunk_uid"
            )
            st = [md.row_group(g).column(col).statistics
                  for g in range(md.num_row_groups)]
            out.append((min(s.min for s in st), max(s.max for s in st)))
        return sorted(out)

    overlapped = uid_ranges()
    assert any(
        overlapped[i][1] >= overlapped[i + 1][0]
        for i in range(len(overlapped) - 1)
    ), "appends should have produced cross-batch overlapping files"

    coll.compact(target_file_bytes=4 * 1024)
    assert coll.layout() == "range:chunk_uid"  # sidecar re-recorded
    assert coll.df().count() == before_rows
    ranges = uid_ranges()
    assert len(ranges) > 1
    assert all(
        ranges[i][1] < ranges[i + 1][0] for i in range(len(ranges) - 1)
    ), "compaction should restore globally disjoint file ranges"
    # and the pruned point lookup works post-compaction
    fetched = coll.fetch_rows(["uid000123", "uid000456"])
    assert {r.chunk_uid for r in fetched.collect()} == {
        "uid000123", "uid000456"
    }
    fplan = fetched._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [In(chunk_uid" in fplan


def test_upsert_refuses_layouted_collection(spark, tmp_path):
    """upsert_files' dynamic partition overwrite would drop
    filename= dirs next to a range layout's flat files (static root
    files aren't cleared) — the guard turns that mixed-directory
    corruption into a loud error."""
    import pytest

    from vector_db_ingestor_spark.pipeline import VectorCollection

    coll = VectorCollection(spark, str(tmp_path / "ranged_up"))
    df = spark.range(0, 50).selectExpr(
        "format_string('uid%04d', id) AS chunk_uid",
        "format_string('%d.pdf', id % 5) AS filename",
        "id AS n",
    )
    coll.overwrite(df, layout="range:chunk_uid", layout_files=2)
    with pytest.raises(ValueError, match="different layout modes"):
        coll.upsert_files(df.limit(10))


def test_synthetic_pdf_extraction_is_identity(sf_dir):
    """The q_ingest_pipeline oracle chunks raw fixture text directly,
    which is valid iff extracting the synthetic single-stream wrapping
    returns the text verbatim — pin that against the real extractor."""
    import duckdb

    from vector_db_ingestor_spark.sources.pdf import extract_pdf_text

    rows = duckdb.query(
        f"SELECT text FROM read_parquet('{sf_dir}/documents.parquet')"
    ).fetchall()
    assert rows
    for (text,) in rows:
        blob = b"stream\n(" + text.encode() + b") Tj\nendstream"
        assert extract_pdf_text(blob) == text


def test_collection_ann_index_build_and_search(spark, tmp_path):
    """Collection-level ANN (the reference gets HNSW implicitly from
    Chroma; here it's an explicit build step): both index kinds build
    inside the collection directory WITHOUT perturbing the exact path
    (underscore dirs are invisible to the collection scan), and
    search_ann returns full ranked hit rows whose shape matches the
    exact search.  IVF re-scores raw vectors inside probed cells, so
    with every cell probed its hits EQUAL exact search — pinned."""
    import pytest

    from vector_db_ingestor_spark.pipeline import VectorCollection

    texts = [
        b"Spark processes data at scale across many executors. ",
        b"Chroma stores embeddings for retrieval workloads daily. ",
        b"Retrieval augmented generation assembles cited context. ",
        b"Product quantization compresses vectors into tiny codes. ",
    ]
    files = spark.createDataFrame(
        [
            (
                f"file:/fake/{i}.pdf",
                f"{i}.pdf",
                len(b),
                bytearray(b"stream\n(" + b * 4 + b") Tj\nendstream"),
            )
            for i, b in enumerate(texts)
        ],
        "source STRING, filename STRING, file_bytes LONG, content BINARY",
    )
    coll = VectorCollection(spark, str(tmp_path / "coll"))
    coll.overwrite(build_chunks(files, chunk_size=60, overlap=10))
    n_before = coll.count()

    with pytest.raises(ValueError, match="build_ann_index"):
        coll.search_ann("spark scale", kind="ivf")

    coll.build_ann_index(kind="ivf", n_centroids=4)
    coll.build_ann_index(kind="ivfpq", n_centroids=4, m=4, ksub=8)
    # index dirs are invisible to the exact path
    assert coll.count() == n_before

    exact = coll.search("spark executors scale", n_results=3).collect()
    # nprobe == n_centroids: zero pruning loss, IVF must equal exact
    ivf = coll.search_ann(
        "spark executors scale", n_results=3, kind="ivf", nprobe=4
    ).collect()
    assert [r.chunk_uid for r in ivf] == [r.chunk_uid for r in exact]
    assert {"text", "filename", "rank", "score"} <= set(ivf[0].asDict())

    pq = coll.search_ann(
        "spark executors scale", n_results=3, kind="ivfpq", nprobe=4
    ).collect()
    assert len(pq) == 3
    assert [r.rank for r in pq] == [1, 2, 3]
    assert {"text", "filename", "rank", "score"} <= set(pq[0].asDict())
    # deterministic: same call, same hits
    pq2 = coll.search_ann(
        "spark executors scale", n_results=3, kind="ivfpq", nprobe=4
    ).collect()
    assert [r.chunk_uid for r in pq] == [r.chunk_uid for r in pq2]

    with pytest.raises(ValueError, match="unknown ANN index kind"):
        coll.build_ann_index(kind="hnsw")


def test_collection_range_layout_prunes_hit_fetch(spark, tmp_path):
    """VERDICT r11 #4 e2e: opt into a write layout on the collection
    API (no operator imports) and the search_ann hit fetch becomes a
    file-skipping In pushdown instead of a broadcast join over every
    row-group.  Pins: (a) results identical to a plain collection,
    (b) the fetch plan carries PushedFilters In(chunk_uid), (c) files
    have disjoint chunk_uid footer ranges, (d) an append re-applies
    the recorded layout to its own batch, (e) the knob fails loudly on
    bad input."""
    import glob as _glob

    import pyarrow.parquet as pq
    import pytest

    from vector_db_ingestor_spark.pipeline import VectorCollection

    texts = [
        (f"document number {i} about spark layout pruning topic "
         f"{'alpha beta gamma delta '[: 8 + i % 12]} ").encode() * 3
        for i in range(12)
    ]
    files = spark.createDataFrame(
        [
            (
                f"file:/fake/{i}.pdf",
                f"{i}.pdf",
                len(b),
                bytearray(b"stream\n(" + b + b") Tj\nendstream"),
            )
            for i, b in enumerate(texts)
        ],
        "source STRING, filename STRING, file_bytes LONG, content BINARY",
    )
    chunks = build_chunks(files, chunk_size=60, overlap=10)

    plain = VectorCollection(spark, str(tmp_path / "plain"))
    plain.overwrite(chunks)
    assert plain.layout() is None

    coll = VectorCollection(spark, str(tmp_path / "ranged"))
    coll.overwrite(chunks, layout="range:chunk_uid", layout_files=6)
    assert coll.layout() == "range:chunk_uid"
    assert coll.count() == plain.count()  # sidecar invisible to scans

    for c in (plain, coll):
        c.build_ann_index(kind="ivfpq", n_centroids=4, m=4, ksub=8)
    q = "spark layout pruning"
    want = plain.search_ann(q, n_results=3, kind="ivfpq", nprobe=4)
    got = coll.search_ann(q, n_results=3, kind="ivfpq", nprobe=4)
    assert [(r.chunk_uid, r.score, r.rank) for r in got.collect()] == [
        (r.chunk_uid, r.score, r.rank) for r in want.collect()
    ]
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [In(chunk_uid" in plan, plan

    # the BATCH query path rides the same pruned fetch
    qs = [q, "quick document number"]
    want_b = plain.search_ann(qs, n_results=2, kind="ivfpq", nprobe=4)
    got_b = coll.search_ann(qs, n_results=2, kind="ivfpq", nprobe=4)
    assert [
        (r.query_id, r.chunk_uid, r.rank) for r in got_b.collect()
    ] == [(r.query_id, r.chunk_uid, r.rank) for r in want_b.collect()]
    plan_b = got_b._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [In(chunk_uid" in plan_b, plan_b

    # disjoint per-file footer ranges (what makes the pushdown skip)
    def uid_ranges(path):
        out = []
        for f in sorted(_glob.glob(f"{path}/part-*.parquet")):
            md = pq.ParquetFile(f).metadata
            col = next(
                i for i in range(md.num_columns)
                if md.schema.column(i).name == "chunk_uid"
            )
            st = [md.row_group(g).column(col).statistics
                  for g in range(md.num_row_groups)]
            out.append((min(s.min for s in st), max(s.max for s in st)))
        return sorted(out)

    ranges = uid_ranges(coll.path)
    assert len(ranges) > 1
    assert all(ranges[i][1] < ranges[i + 1][0] for i in range(len(ranges) - 1))

    # an append re-applies the recorded layout to its own batch: the
    # NEW files are range-disjoint among themselves too
    before = set(_glob.glob(f"{coll.path}/part-*.parquet"))
    coll.append(build_chunks(files.limit(4), chunk_size=60, overlap=10))
    new = sorted(set(_glob.glob(f"{coll.path}/part-*.parquet")) - before)
    assert len(new) > 1
    # range-disjointness over just the appended files
    nr = []
    for f in new:
        md = pq.ParquetFile(f).metadata
        col = next(
            i for i in range(md.num_columns)
            if md.schema.column(i).name == "chunk_uid"
        )
        st = [md.row_group(g).column(col).statistics
              for g in range(md.num_row_groups)]
        nr.append((min(s.min for s in st), max(s.max for s in st)))
    nr.sort()
    assert all(nr[i][1] < nr[i + 1][0] for i in range(len(nr) - 1))

    with pytest.raises(ValueError, match="not both"):
        coll.overwrite(chunks, partition_by=["filename"], layout="range:chunk_uid")
    with pytest.raises(ValueError, match="unknown layout"):
        coll.overwrite(chunks, layout="hilbert:chunk_uid")

    # the public point lookup rides the same pruned scan
    some_ids = [r.chunk_uid for r in coll.df().limit(3).collect()]
    fetched = coll.fetch_rows(some_ids)
    assert sorted(r.chunk_uid for r in fetched.collect()) == sorted(some_ids)
    fplan = fetched._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [In(chunk_uid" in fplan
    with pytest.raises(ValueError, match="driver-model scale"):
        coll.fetch_rows(range(100_001))


def test_collection_zorder_layout(spark, tmp_path):
    """The zorder: collection layout: writes via operators/layout.py,
    records the sidecar, keeps the row set intact, and refuses appends
    (cell boundaries are corpus statistics — append plain, re-overwrite
    to restore)."""
    import pytest

    from vector_db_ingestor_spark.pipeline import VectorCollection

    files = spark.createDataFrame(
        [
            (
                f"file:/fake/{i}.pdf",
                f"{i}.pdf",
                40,
                bytearray(b"stream\n(word " + str(i).encode() * 20 + b") Tj\nendstream"),
            )
            for i in range(8)
        ],
        "source STRING, filename STRING, file_bytes LONG, content BINARY",
    )
    chunks = build_chunks(files, chunk_size=40, overlap=5)
    n = chunks.count()
    coll = VectorCollection(spark, str(tmp_path / "zc"))
    coll.overwrite(
        chunks, layout="zorder:chunk_index,total_chunks", layout_files=4
    )
    assert coll.layout() == "zorder:chunk_index,total_chunks"
    assert coll.count() == n  # __z helper column dropped, rows intact
    assert "__z" not in coll.df().columns
    with pytest.raises(ValueError, match="overwrite-only"):
        coll._write_with_layout(chunks, coll.layout(), None, "append")
    # append on a zorder collection lands plain (no re-layout, no error)
    coll.append(chunks.limit(2))
    assert coll.count() == n + 2


def test_collection_layout_sidecar_corruption_degrades(spark, tmp_path):
    """A corrupted _layout sidecar must read as 'no layout' (searches
    fall back to the broadcast-join fetch) — an optimization hint must
    never be able to fail a query."""
    import glob as _glob

    from vector_db_ingestor_spark.pipeline import VectorCollection

    files = spark.createDataFrame(
        [("file:/f/0.pdf", "0.pdf", 20,
          bytearray(b"stream\n(some text here today) Tj\nendstream"))],
        "source STRING, filename STRING, file_bytes LONG, content BINARY",
    )
    chunks = build_chunks(files, chunk_size=30, overlap=5)
    coll = VectorCollection(spark, str(tmp_path / "c"))
    coll.overwrite(chunks, layout="range:chunk_uid", layout_files=2)
    assert coll.layout() == "range:chunk_uid"
    for f in _glob.glob(f"{coll.path}/_layout/*.parquet"):
        with open(f, "wb") as fh:
            fh.write(b"not parquet")
    assert coll.layout() is None
    # and an append still works (plain path, no re-layout attempt)
    coll.append(chunks.limit(1))
    assert coll.count() == chunks.count() + 1


def _make_warc_records() -> list[bytes]:
    def rec(rtype: str, uri: str | None, body: bytes) -> bytes:
        h = [b"WARC/1.0", b"WARC-Type: " + rtype.encode()]
        if uri:
            h.append(b"WARC-Target-URI: " + uri.encode())
        h += [
            b"WARC-Date: 2026-08-15T00:00:00Z",
            b"Content-Length: " + str(len(body)).encode(),
        ]
        return b"\r\n".join(h) + b"\r\n\r\n" + body + b"\r\n\r\n"

    html = (
        b"HTTP/1.1 200 OK\r\nContent-Type: text/html; charset=utf-8\r\n\r\n"
        # adversarial: payload CONTAINS a record marker — only exact
        # Content-Length slicing parses this corpus correctly
        b"<html>training text about WARC/1.0 markers inside bodies</html>"
    )
    nf = b"HTTP/1.1 404 Not Found\r\nContent-Type: text/plain\r\n\r\ngone"
    return [
        rec("warcinfo", None, b"software: test"),
        rec("request", "http://a.example/", b"GET / HTTP/1.1\r\n\r\n"),
        rec("response", "http://a.example/", html),
        rec("response", "http://b.example/missing", nf),
    ]


def test_warc_source_plain_and_gzip(spark, tmp_path):
    """WARC crawl segments (the Common Crawl arrival format) parse
    identically whether plain or member-per-record gzip (the CC
    layout), Content-Length slicing survives bodies containing record
    markers, and warc_responses narrows to HTTP-200 rows shaped like
    every other document source."""
    import gzip as _gzip

    from vector_db_ingestor_spark.sources.warc import scan_warc, warc_responses

    recs = _make_warc_records()
    (tmp_path / "seg1.warc").write_bytes(b"".join(recs))
    (tmp_path / "seg2.warc.gz").write_bytes(
        b"".join(_gzip.compress(r) for r in recs)
    )

    rows = scan_warc(spark, str(tmp_path)).collect()
    by_file = {}
    for r in rows:
        by_file.setdefault(r.source.rsplit("/", 1)[-1], []).append(r)
    assert set(by_file) == {"seg1.warc", "seg2.warc.gz"}
    for fname, rs in by_file.items():
        assert [r.record_type for r in rs] == [
            "warcinfo", "request", "response", "response",
        ], fname
        ok = next(r for r in rs if r.http_status == 200)
        assert ok.url == "http://a.example/"
        assert ok.content_type == "text/html; charset=utf-8"
        assert bytes(ok.payload).startswith(b"<html>")
        assert b"WARC/1.0 markers" in bytes(ok.payload)
        nf = next(r for r in rs if r.http_status == 404)
        assert bytes(nf.payload) == b"gone"

    docs = warc_responses(spark, str(tmp_path)).collect()
    # only the 200s survive, one per segment file
    assert len(docs) == 2
    assert {d.filename for d in docs} == {"http://a.example/"}
    assert all("training text" in d.text for d in docs)
    assert all(d.file_bytes == len(docs[0].text.encode()) for d in docs)


def test_ingest_warc_end_to_end(spark, tmp_path):
    """VERDICT r10 gap #3 closed: synthetic .warc.gz crawl segments ->
    ingest_warc -> a searchable collection with rows schema-identical
    to the PDF path's, per-URL ingest report, and non-200/non-response
    records excluded."""
    import gzip as _gzip

    from vector_db_ingestor_spark.pipeline import (
        CHUNK_SCHEMA_COLS,
        VectorCollection,
        ingest_warc,
    )

    def rec(rtype: str, uri: str | None, body: bytes) -> bytes:
        h = [b"WARC/1.0", b"WARC-Type: " + rtype.encode()]
        if uri:
            h.append(b"WARC-Target-URI: " + uri.encode())
        h += [
            b"WARC-Date: 2026-08-15T00:00:00Z",
            b"Content-Length: " + str(len(body)).encode(),
        ]
        return b"\r\n".join(h) + b"\r\n\r\n" + body + b"\r\n\r\n"

    def ok(text: str) -> bytes:
        return (
            b"HTTP/1.1 200 OK\r\nContent-Type: text/plain\r\n\r\n"
            + text.encode()
        )

    long_a = "alpha crawl sentence about spark ingestion. " * 12
    seg1 = [
        rec("warcinfo", None, b"software: test"),
        rec("response", "http://a.example/doc", ok(long_a)),
        rec("response", "http://gone.example/", b"HTTP/1.1 404 Not Found\r\n\r\nx"),
    ]
    seg2 = [
        rec("response", "http://b.example/doc", ok("short beta document.")),
        rec("request", "http://b.example/doc", b"GET / HTTP/1.1\r\n\r\n"),
    ]
    raw = tmp_path / "raw"
    raw.mkdir()
    (raw / "seg1.warc.gz").write_bytes(b"".join(_gzip.compress(r) for r in seg1))
    (raw / "seg2.warc.gz").write_bytes(b"".join(_gzip.compress(r) for r in seg2))
    coll_path = str(tmp_path / "coll")

    report = ingest_warc(
        spark, str(raw), coll_path,
        metadata={"corpus": "cc-test"}, mode="overwrite",
        chunk_size=120, overlap=20,
    ).collect()
    by_url = {r.filename: r for r in report}
    # the 404 and the request record never reach the collection
    assert set(by_url) == {"http://a.example/doc", "http://b.example/doc"}
    assert all(r.status == "ok" for r in by_url.values())
    assert by_url["http://a.example/doc"].n_chunks > 1  # long doc chunked
    assert by_url["http://b.example/doc"].n_chunks == 1

    coll = VectorCollection(spark, coll_path)
    rows = coll.df().collect()
    assert set(coll.df().columns) == set(CHUNK_SCHEMA_COLS)
    assert {r.filename for r in rows} == set(by_url)
    assert all(r.metadata["corpus"] == "cc-test" for r in rows)
    assert all(r.source.endswith(".warc.gz") for r in rows)
    # same collection contract as the PDF path: searchable as-is
    hits = coll.search("alpha crawl sentence", n_results=3).collect()
    assert hits and hits[0].filename == "http://a.example/doc"


def test_collection_ann_batch_queries(spark, tmp_path):
    """search_ann with a LIST of queries (Chroma query_texts parity,
    round 11): served by the batched operators over the persisted
    index, one union'd-shortlist scan for the whole batch; per-query
    slices must equal the single-query calls."""
    import pytest

    from vector_db_ingestor_spark.pipeline import VectorCollection

    texts = [
        b"Spark processes data at scale across many executors. ",
        b"Chroma stores embeddings for retrieval workloads daily. ",
        b"Retrieval augmented generation assembles cited context. ",
        b"Product quantization compresses vectors into tiny codes. ",
    ]
    files = spark.createDataFrame(
        [
            (
                f"file:/fake/{i}.pdf",
                f"{i}.pdf",
                len(b),
                bytearray(b"stream\n(" + b * 4 + b") Tj\nendstream"),
            )
            for i, b in enumerate(texts)
        ],
        "source STRING, filename STRING, file_bytes LONG, content BINARY",
    )
    coll = VectorCollection(spark, str(tmp_path / "coll"))
    coll.overwrite(build_chunks(files, chunk_size=60, overlap=10))
    coll.build_ann_index(kind="ivf", n_centroids=4)
    coll.build_ann_index(kind="ivfpq", n_centroids=4, m=4, ksub=8)

    qs = ["spark executors scale", "quantization codes"]
    for kind, refine in (("ivf", False), ("ivfpq", False), ("ivfpq", True)):
        batch = coll.search_ann(
            qs, n_results=3, kind=kind, nprobe=4, refine=refine
        ).collect()
        assert {r.query_id for r in batch} == {0, 1}
        for qid, q in enumerate(qs):
            single_df = coll.search_ann(
                q, n_results=3, kind=kind, nprobe=4, refine=refine
            )
            # a single string is a batch of one without the query_id
            assert "query_id" not in single_df.columns
            single = single_df.collect()
            got = sorted(
                ((r.rank, r.chunk_uid, r.score) for r in batch if r.query_id == qid)
            )
            want = sorted(((r.rank, r.chunk_uid, r.score) for r in single))
            assert got == want, (kind, refine, qid)

    with pytest.raises(ValueError, match="non-empty"):
        coll.search_ann(["ok", "  "], kind="ivf")
    with pytest.raises(ValueError, match="non-empty"):
        coll.search_ann([], kind="ivf")


def test_collection_ann_drift_report(spark, tmp_path):
    """ann_drift_report completes the collection-level index
    maintenance story: full cid range (empty cells as n=0), shares sum
    to 1, mean skew is 1 by construction, works for both index kinds,
    and refuses an unbuilt index."""
    import pytest

    from vector_db_ingestor_spark.pipeline import VectorCollection

    texts = [
        b"Spark processes data at scale across many executors. ",
        b"Chroma stores embeddings for retrieval workloads daily. ",
        b"Retrieval augmented generation assembles cited context. ",
        b"Product quantization compresses vectors into tiny codes. ",
    ]
    files = spark.createDataFrame(
        [
            (
                f"file:/fake/{i}.pdf",
                f"{i}.pdf",
                len(b),
                bytearray(b"stream\n(" + b * 4 + b") Tj\nendstream"),
            )
            for i, b in enumerate(texts)
        ],
        "source STRING, filename STRING, file_bytes LONG, content BINARY",
    )
    coll = VectorCollection(spark, str(tmp_path / "coll"))
    coll.overwrite(build_chunks(files, chunk_size=60, overlap=10))

    with pytest.raises(ValueError, match="build_ann_index"):
        coll.ann_drift_report(kind="ivf")

    coll.build_ann_index(kind="ivf", n_centroids=4)
    coll.build_ann_index(kind="ivfpq", n_centroids=4, m=4, ksub=8)
    n_rows = coll.count()
    for kind in ("ivf", "ivfpq"):
        rep = coll.ann_drift_report(kind=kind).collect()
        assert sorted(r.cid for r in rep) == [0, 1, 2, 3], kind
        assert sum(r.n for r in rep) == n_rows, kind
        assert abs(sum(r.share for r in rep) - 1.0) < 1e-6, kind
        assert abs(sum(r.skew for r in rep) / len(rep) - 1.0) < 1e-6, kind


def test_pdf_extractor_never_raises_on_corrupt_bytes():
    """The PDF front door's corruption policy, pinned like the WARC
    salvage: damaged/garbage inputs extract to '' (the file lands in
    the ingest report as no_text_extracted) — one bad file must never
    fail a task."""
    from vector_db_ingestor_spark.sources.pdf import extract_pdf_text

    for blob in (
        b"",
        b"not a pdf at all",
        b"%PDF-1.4 garbage \x00\xff" * 50,
        b"%PDF-1.7\n1 0 obj\n<< /Filter /FlateDecode >>\nstream\n"
        b"\xde\xad\xbe\xef\nendstream\nendobj",
        b"%PDF-1.5\nxref\n0 999999999\n",
    ):
        assert extract_pdf_text(blob) == ""


def test_append_partition_by_refused_on_layouted_collection(spark, tmp_path):
    """ADVICE r12: append(chunks, partition_by=[...]) on a layouted
    collection would land hive dirs next to flat layout files — the
    same mixed-directory corruption upsert_files guards, now refused
    on the append path too (both range and zorder layouts)."""
    import pytest

    from vector_db_ingestor_spark.pipeline import VectorCollection

    df = spark.range(0, 50).selectExpr(
        "format_string('uid%04d', id) AS chunk_uid",
        "format_string('%d.pdf', id % 5) AS filename",
        "id AS chunk_index",
        "id AS total_chunks",
    )
    ranged = VectorCollection(spark, str(tmp_path / "ranged_app"))
    ranged.overwrite(df, layout="range:chunk_uid", layout_files=2)
    with pytest.raises(ValueError, match="mix hive partition dirs"):
        ranged.append(df, partition_by=["filename"])
    zord = VectorCollection(spark, str(tmp_path / "zord_app"))
    zord.overwrite(
        df, layout="zorder:chunk_index,total_chunks", layout_files=2
    )
    with pytest.raises(ValueError, match="mix hive partition dirs"):
        zord.append(df, partition_by=["filename"])
    # plain partition_by append on an UN-layouted collection still works
    plain = VectorCollection(spark, str(tmp_path / "plain_app"))
    plain.append(df, partition_by=["filename"])
    assert plain.df().count() == 50


def test_compact_records_layout_into_tmp_before_swap(spark, tmp_path):
    """ADVICE r12: the _layout sidecar must be written into the tmp
    directory BEFORE the tmp->live rename, so a crash between the swap
    and any post-swap record can no longer silently drop the layout
    (pruning and append re-layout would degrade without signal)."""
    from vector_db_ingestor_spark.pipeline import VectorCollection

    path = str(tmp_path / "preswap")
    coll = VectorCollection(spark, path)
    df = spark.range(0, 200).selectExpr(
        "format_string('uid%05d', id) AS chunk_uid", "id AS n"
    )
    coll.overwrite(df, layout="range:chunk_uid", layout_files=2)

    recorded = []
    orig = VectorCollection._record_layout

    def spy(self, layout, path=None):
        recorded.append(path)
        return orig(self, layout, path)

    VectorCollection._record_layout = spy
    try:
        coll.compact(target_file_bytes=4 * 1024)
    finally:
        VectorCollection._record_layout = orig
    assert recorded, "compact must record the layout"
    assert all(p and "__compact_" in p for p in recorded), (
        "the sidecar must be written into the tmp dir pre-swap, "
        f"got {recorded}"
    )
    assert coll.layout() == "range:chunk_uid"


def test_fetch_hits_caps_id_collection(spark, tmp_path):
    """VERDICT r12 'what's wrong' #1: _fetch_hits must state the same
    driver-model-scale contract fetch_rows/fetch_vectors do — a
    non-shortlist DataFrame routed through the pruned fetch gets a
    loud error, not an unbounded driver collect."""
    import pytest

    from vector_db_ingestor_spark.pipeline import VectorCollection

    coll = VectorCollection(spark, str(tmp_path / "cap_coll"))
    df = spark.range(0, 40).selectExpr(
        "format_string('uid%04d', id) AS chunk_uid", "id AS n"
    )
    coll.overwrite(df, layout="range:chunk_uid", layout_files=2)
    ranked = df.selectExpr("chunk_uid", "n AS rank")
    with pytest.raises(ValueError, match="shortlist"):
        coll._fetch_hits(ranked, max_ids=5)
    # within the cap the pruned fetch works and carries the rank col
    got = coll._fetch_hits(ranked.limit(3), max_ids=5)
    assert got.count() == 3
    assert {"chunk_uid", "n", "rank"} <= set(got.columns)


def test_build_ann_index_default_refine_companion(spark, tmp_path):
    """VERDICT r12 #2 e2e: the ONE-CALL path — build_ann_index(
    kind='ivfpq') persists the range-laid-out _vectors companion
    automatically, so search_ann(refine=True) gets the file-skipping
    exact re-rank without the caller ever learning the layout
    contract.  Pins: (a) the companion's files carry disjoint
    chunk_uid footer ranges (what makes the pushdown skip), (b) the
    refined search plan pushes In(chunk_uid) into the vector fetch,
    (c) refined scores are the EXACT cosine values (not ADC
    approximations), (d) the batch refine returns per-query results
    identical to the single-probe refine, (e) refine on ivf and a
    missing companion both fail loudly."""
    import glob as _glob

    import pyarrow.parquet as pq
    import pytest

    from vector_db_ingestor_spark.operators.topk import topk_cosine
    from vector_db_ingestor_spark.pipeline import VectorCollection

    texts = [
        (f"refined document {i} about spark index topics "
         f"{'alpha beta gamma delta '[: 8 + i % 12]} ").encode() * 3
        for i in range(12)
    ]
    files = spark.createDataFrame(
        [
            (
                f"file:/fake/{i}.pdf",
                f"{i}.pdf",
                len(b),
                bytearray(b"stream\n(" + b + b") Tj\nendstream"),
            )
            for i, b in enumerate(texts)
        ],
        "source STRING, filename STRING, file_bytes LONG, content BINARY",
    )
    coll = VectorCollection(spark, str(tmp_path / "refined_coll"))
    coll.overwrite(build_chunks(files, chunk_size=60, overlap=10))
    coll.build_ann_index(kind="ivfpq", n_centroids=4, m=4, ksub=8)

    # (a) companion exists with disjoint per-file id ranges
    vecs = coll._ann_vectors_path("ivfpq")
    assert coll._ann_vectors_complete("ivfpq")
    vfiles = sorted(_glob.glob(f"{vecs}/part-*.parquet"))
    assert len(vfiles) > 1
    ranges = []
    for f in vfiles:
        md = pq.ParquetFile(f).metadata
        col = next(
            i for i in range(md.num_columns)
            if md.schema.column(i).name == "chunk_uid"
        )
        st = [md.row_group(g).column(col).statistics
              for g in range(md.num_row_groups)]
        ranges.append((min(s.min for s in st), max(s.max for s in st)))
    ranges.sort()
    assert all(
        ranges[i][1] < ranges[i + 1][0] for i in range(len(ranges) - 1)
    ), ranges

    # (b) the refined search's vector fetch is an In pushdown
    q = "spark index topics"
    got = coll.search_ann(q, n_results=3, kind="ivfpq", refine=True)
    rows = got.collect()
    assert [r.rank for r in rows] == [1, 2, 3]
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [In(chunk_uid" in plan, plan

    # (c) refined scores are exact cosine values
    probe = coll.embedder.embed_one(q, prefix="query")
    exact = {
        r.chunk_uid: r.score
        for r in topk_cosine(
            coll.df(), probe, k=coll.count(), id_col="chunk_uid",
            vec_col="embedding",
        ).collect()
    }
    for r in rows:
        assert r.score == exact[r.chunk_uid]

    # (d) batch refine == per-query single refine
    qs = [q, "refined document alpha"]
    got_b = coll.search_ann(qs, n_results=2, kind="ivfpq", refine=True)
    single = [
        (qi, r.chunk_uid, r.score, r.rank)
        for qi, qq in enumerate(qs)
        for r in coll.search_ann(
            qq, n_results=2, kind="ivfpq", refine=True
        ).collect()
    ]
    assert [
        (r.query_id, r.chunk_uid, r.score, r.rank) for r in got_b.collect()
    ] == single
    plan_b = got_b._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [In(chunk_uid" in plan_b, plan_b

    # (e) loud failures: refine needs ivfpq + a companion
    coll.build_ann_index(kind="ivf", n_centroids=4)
    with pytest.raises(ValueError, match="applies to kind='ivfpq'"):
        coll.search_ann(q, kind="ivf", refine=True)
    stale = VectorCollection(spark, str(tmp_path / "stale_coll"))
    stale.overwrite(build_chunks(files, chunk_size=60, overlap=10))
    from vector_db_ingestor_spark.operators.similarity import ivfpq_train_write

    ivfpq_train_write(
        stale.df(), stale._ann_path("ivfpq"), dim=stale.embedder.dim,
        n_centroids=4, m=4, ksub=8, id_col="chunk_uid",
        vec_col="embedding",
    )
    with pytest.raises(ValueError, match="rebuild with build_ann_index"):
        stale.search_ann(q, kind="ivfpq", refine=True)


def test_ann_absorb_keeps_index_and_refine_current(spark, tmp_path):
    """Collection-level index maintenance (round 13): after
    coll.append(batch) + coll.ann_absorb(batch, kind), search_ann
    finds the NEW rows — frozen model, assign-only absorb — and the
    refined path's companion fetch still covers every hit (Chroma's
    add -> HNSW update, src/PDFToChromaIngester.py:189-193, as an
    explicit two-call flow)."""
    import pytest

    from vector_db_ingestor_spark.pipeline import VectorCollection

    def corpus(tag, n):
        texts = [
            (f"{tag} document {i} about spark absorb topics "
             f"{'alpha beta gamma delta '[: 8 + i % 12]} ").encode() * 3
            for i in range(n)
        ]
        return spark.createDataFrame(
            [
                (
                    f"file:/fake/{tag}{i}.pdf",
                    f"{tag}{i}.pdf",
                    len(b),
                    bytearray(b"stream\n(" + b + b") Tj\nendstream"),
                )
                for i, b in enumerate(texts)
            ],
            "source STRING, filename STRING, file_bytes LONG, content BINARY",
        )

    coll = VectorCollection(spark, str(tmp_path / "absorb_coll"))
    coll.overwrite(build_chunks(corpus("base", 10), chunk_size=60, overlap=10))
    for kind in ("ivf", "ivfpq"):
        coll.build_ann_index(kind=kind, n_centroids=4, m=4, ksub=8)

    total_before = {
        kind: coll.ann_drift_report(kind).agg(F.sum("n")).first()[0]
        for kind in ("ivf", "ivfpq")
    }
    batch = build_chunks(corpus("new", 4), chunk_size=60, overlap=10)
    n_new = batch.count()
    coll.append(batch)
    for kind in ("ivf", "ivfpq"):
        coll.ann_absorb(batch, kind=kind)
        total = coll.ann_drift_report(kind).agg(F.sum("n")).first()[0]
        assert total == total_before[kind] + n_new, kind

    # a query keyed to the NEW docs surfaces an absorbed chunk on
    # every serving rung (exact recall not promised — membership is)
    q = "new document absorb"
    k = coll.count()
    for kwargs in (
        {"kind": "ivf"},
        {"kind": "ivfpq"},
        {"kind": "ivfpq", "refine": True},
    ):
        hits = coll.search_ann(q, n_results=k, nprobe=4, **kwargs)
        got = {r.filename for r in hits.collect()}
        assert any(f.startswith("new") for f in got), (kwargs, got)
    # refined fetch covers absorbed ids exactly (companion appended)
    refined = coll.search_ann(q, n_results=k, kind="ivfpq", refine=True)
    assert refined.filter(F.col("text").isNull()).count() == 0

    # absorb without an index is loud
    empty = VectorCollection(spark, str(tmp_path / "no_index"))
    empty.overwrite(build_chunks(corpus("x", 3), chunk_size=60, overlap=10))
    with pytest.raises(ValueError, match="no complete"):
        empty.ann_absorb(batch, kind="ivfpq")


def test_ann_absorb_idempotent_per_artifact(spark, tmp_path):
    """ADVICE r13: absorb keys idempotence on each index artifact's
    OWN ids, so any crash-point replay converges.  (1) absorbing the
    same batch twice duplicates nothing in codes, companion, or the
    ivf partitions; (2) a batch appended to the collection but never
    indexed (crash between the two writes) is still absorbed by a
    replay — collection membership must NOT mask it; (3) a partial
    absorb (companion written, codes not — the crash the
    companion-first ordering makes harmless) is completed, not
    duplicated, by the replay."""
    from vector_db_ingestor_spark.pipeline import VectorCollection

    def corpus(tag, n):
        texts = [
            (f"{tag} replay document {i} about absorb idempotence "
             f"{'alpha beta gamma delta '[: 8 + i % 12]} ").encode() * 3
            for i in range(n)
        ]
        return spark.createDataFrame(
            [
                (
                    f"file:/fake/{tag}{i}.pdf",
                    f"{tag}{i}.pdf",
                    len(b),
                    bytearray(b"stream\n(" + b + b") Tj\nendstream"),
                )
                for i, b in enumerate(texts)
            ],
            "source STRING, filename STRING, file_bytes LONG, content BINARY",
        )

    coll = VectorCollection(spark, str(tmp_path / "replay_coll"))
    coll.overwrite(build_chunks(corpus("base", 8), chunk_size=60, overlap=10))
    for kind in ("ivf", "ivfpq"):
        coll.build_ann_index(kind=kind, n_centroids=4, m=4, ksub=8)

    def artifact_ids(path):
        return [
            r[0]
            for r in spark.read.parquet(path).select("chunk_uid").collect()
        ]

    codes_path = coll._ann_path("ivfpq")
    comp_path = coll._ann_vectors_path("ivfpq")
    ivf_path = coll._ann_path("ivf")

    # (2) crash between append and absorb: rows live in the collection
    # but not the index; the replayed absorb must still index them
    batch = build_chunks(
        corpus("crash", 3), chunk_size=60, overlap=10
    ).localCheckpoint(eager=True)
    n_new = batch.count()
    coll.append(batch)  # ... crash here: no absorb
    for kind, path in (("ivf", ivf_path), ("ivfpq", codes_path)):
        before = len(artifact_ids(path))
        coll.ann_absorb(batch, kind=kind)  # the replay
        assert len(artifact_ids(path)) == before + n_new, kind
        # (1) second replay: nothing duplicated anywhere
        coll.ann_absorb(batch, kind=kind)
        ids = artifact_ids(path)
        assert len(ids) == len(set(ids)) == before + n_new, kind
    comp_ids = artifact_ids(comp_path)
    assert len(comp_ids) == len(set(comp_ids))
    assert set(comp_ids) == set(artifact_ids(codes_path))

    # (3) partial absorb: companion holds the batch, codes do not
    # (the crash ordering ann_absorb's companion-first write allows);
    # the replay completes the codes without re-appending vectors
    from vector_db_ingestor_spark.operators.similarity import vectors_append

    batch2 = build_chunks(
        corpus("half", 2), chunk_size=60, overlap=10
    ).localCheckpoint(eager=True)
    coll.append(batch2)
    comp_schema = spark.read.parquet(comp_path).schema
    vectors_append(
        batch2.select(
            *[F.col(f.name).cast(f.dataType) for f in comp_schema.fields]
        ),
        comp_path, id_col="chunk_uid",
    )  # ... crash here: codes never written
    coll.ann_absorb(batch2, kind="ivfpq")  # the replay
    comp_ids = artifact_ids(comp_path)
    assert len(comp_ids) == len(set(comp_ids))
    assert set(comp_ids) == set(artifact_ids(codes_path))
    # and every absorbed row actually serves through the refine ladder
    hits = coll.search_ann(
        "half replay absorb", n_results=coll.count(), kind="ivfpq",
        refine=True,
    )
    got = {r.filename for r in hits.collect()}
    assert any(f.startswith("half") for f in got)

    # (4) round-15 ADVICE: a batch carrying duplicate ROWS per id (the
    # at-least-once redelivery shape, NOT pre-deduped by the caller) is
    # absorbed once — duplicates must not land in any artifact
    batch3 = build_chunks(
        corpus("dup", 2), chunk_size=60, overlap=10
    ).localCheckpoint(eager=True)
    dup_batch = batch3.unionByName(batch3).localCheckpoint(eager=True)
    coll.append(batch3)
    n3 = batch3.count()
    for kind, path in (("ivf", ivf_path), ("ivfpq", codes_path)):
        before = len(artifact_ids(path))
        coll.ann_absorb(dup_batch, kind=kind)
        ids = artifact_ids(path)
        assert len(ids) == len(set(ids)) == before + n3, kind
    comp_ids = artifact_ids(comp_path)
    assert len(comp_ids) == len(set(comp_ids))
    assert set(comp_ids) == set(artifact_ids(codes_path))


def test_ann_compact_preserves_serving(spark, tmp_path):
    """Round 14: ann_compact folds absorb-accumulated small files back
    into ~target-sized ones WITHOUT changing a single serving result —
    search_ann (ivf, ivfpq, refined), drift totals, and the index
    contract (complete marker, sidecars, refine companion) all survive
    the rewrite; the data-file count drops."""
    from vector_db_ingestor_spark.operators.similarity import (
        ivf_index_complete,
    )
    from vector_db_ingestor_spark.pipeline import VectorCollection

    def corpus(tag, n):
        texts = [
            (f"{tag} compaction document {i} about index maintenance "
             f"{'alpha beta gamma delta '[: 8 + i % 12]} ").encode() * 3
            for i in range(n)
        ]
        return spark.createDataFrame(
            [
                (
                    f"file:/fake/{tag}{i}.pdf",
                    f"{tag}{i}.pdf",
                    len(b),
                    bytearray(b"stream\n(" + b + b") Tj\nendstream"),
                )
                for i, b in enumerate(texts)
            ],
            "source STRING, filename STRING, file_bytes LONG, content BINARY",
        )

    coll = VectorCollection(spark, str(tmp_path / "cmp_coll"))
    coll.overwrite(build_chunks(corpus("base", 8), chunk_size=60, overlap=10))
    for kind in ("ivf", "ivfpq"):
        coll.build_ann_index(kind=kind, n_centroids=4, m=4, ksub=8)
    # several absorbs: each appends one small file per touched cid
    for tag in ("a", "b", "c"):
        batch = build_chunks(
            corpus(tag, 3), chunk_size=60, overlap=10
        ).localCheckpoint(eager=True)
        coll.append(batch)
        for kind in ("ivf", "ivfpq"):
            coll.ann_absorb(batch, kind=kind)

    k = coll.count()
    q = "compaction index maintenance"
    before = {
        kind: [
            (r.chunk_uid, r.score)
            for r in coll.search_ann(q, n_results=k, kind=kind).collect()
        ]
        for kind in ("ivf", "ivfpq")
    }
    before["refined"] = [
        (r.chunk_uid, r.score)
        for r in coll.search_ann(
            q, n_results=k, kind="ivfpq", refine=True
        ).collect()
    ]
    totals = {
        kind: coll.ann_drift_report(kind).agg(F.sum("n")).first()[0]
        for kind in ("ivf", "ivfpq")
    }

    for kind in ("ivf", "ivfpq"):
        files_before = coll._data_files(coll._ann_path(kind))[0]
        files_after = coll.ann_compact(kind=kind)
        assert files_after < files_before, (kind, files_before, files_after)
        assert ivf_index_complete(spark, coll._ann_path(kind))
        assert (
            coll.ann_drift_report(kind).agg(F.sum("n")).first()[0]
            == totals[kind]
        )
        got = [
            (r.chunk_uid, r.score)
            for r in coll.search_ann(q, n_results=k, kind=kind).collect()
        ]
        assert got == before[kind], kind
    # refine companion rewritten into one global range order, still exact
    assert coll._ann_vectors_complete("ivfpq")
    got_r = [
        (r.chunk_uid, r.score)
        for r in coll.search_ann(
            q, n_results=k, kind="ivfpq", refine=True
        ).collect()
    ]
    assert got_r == before["refined"]
    # and the compacted index keeps absorbing
    batch = build_chunks(
        corpus("post", 2), chunk_size=60, overlap=10
    ).localCheckpoint(eager=True)
    coll.append(batch)
    coll.ann_absorb(batch, kind="ivfpq")
    assert (
        coll.ann_drift_report("ivfpq").agg(F.sum("n")).first()[0]
        == totals["ivfpq"] + batch.count()
    )

    # the one-call maintenance report carries both action signals
    rep = coll.ann_maintenance_report("ivfpq")
    assert rep["complete"] and rep["refine_companion"]
    assert rep["n_rows"] == totals["ivfpq"] + batch.count()
    assert rep["n_data_files"] == coll._data_files(
        coll._ann_path("ivfpq")
    )[0]
    assert rep["avg_file_bytes"] > 0 and rep["data_bytes"] > 0
    assert isinstance(rep["rebuild_recommended"], bool)
    assert isinstance(rep["compact_recommended"], bool)
    # round-15 ADVICE: the compact recommendation keys to the SAME
    # target the deployment passes ann_compact — tiny files under the
    # default threshold stop being "fragmented" under a tiny target
    assert rep["target_file_bytes"] == 128 * 1024 * 1024
    tiny = coll.ann_maintenance_report("ivfpq", target_file_bytes=256)
    assert tiny["target_file_bytes"] == 256
    assert not tiny["compact_recommended"]  # avg >= 256/4 bytes/file
    if rep["n_data_files"] > 8:
        huge = coll.ann_maintenance_report(
            "ivfpq", target_file_bytes=1 << 40
        )
        assert huge["compact_recommended"]  # avg << (1 TiB)/4
    # an index that was never built reports incomplete, not an error
    empty = VectorCollection(spark, str(tmp_path / "no_idx"))
    assert empty.ann_maintenance_report("ivf") == {
        "kind": "ivf", "complete": False,
    }


def test_ann_rebuild_swaps_without_downtime(spark, tmp_path):
    """Round 15: ann_rebuild retrains a LIVE index at a tmp path and
    promotes it with the rename-only swap — serving results equal a
    fresh build_ann_index over the same rows, every index row
    survives, no tmp/trash directories are left behind, and the
    refine companion is rebuilt for ivfpq.  A never-built index
    raises (first builds go through build_ann_index)."""
    import pytest

    from vector_db_ingestor_spark.operators.similarity import (
        ivf_index_complete,
    )
    from vector_db_ingestor_spark.pipeline import VectorCollection

    def corpus(tag, n):
        texts = [
            (f"{tag} rebuild document {i} about drifted centroids "
             f"{'alpha beta gamma delta '[: 8 + i % 12]} ").encode() * 3
            for i in range(n)
        ]
        return spark.createDataFrame(
            [
                (
                    f"file:/fake/{tag}{i}.pdf",
                    f"{tag}{i}.pdf",
                    len(b),
                    bytearray(b"stream\n(" + b + b") Tj\nendstream"),
                )
                for i, b in enumerate(texts)
            ],
            "source STRING, filename STRING, file_bytes LONG, content BINARY",
        )

    coll = VectorCollection(spark, str(tmp_path / "rb_coll"))
    coll.overwrite(build_chunks(corpus("base", 6), chunk_size=60, overlap=10))
    for kind in ("ivf", "ivfpq"):
        coll.build_ann_index(kind=kind, n_centroids=4, m=4, ksub=8)
    # drift the index: absorb a skewed batch under the frozen model
    batch = build_chunks(
        corpus("drift", 4), chunk_size=60, overlap=10
    ).localCheckpoint(eager=True)
    coll.append(batch)
    for kind in ("ivf", "ivfpq"):
        coll.ann_absorb(batch, kind=kind)

    k = coll.count()
    q = "drifted centroids rebuild"
    for kind in ("ivf", "ivfpq"):
        n_before = coll.ann_drift_report(kind).agg(F.sum("n")).first()[0]
        rep = coll.ann_rebuild(kind=kind, n_centroids=4, m=4, ksub=8)
        # returns the post-rebuild maintenance report
        assert rep["complete"] and rep["kind"] == kind
        assert rep["n_rows"] == n_before == coll.count()
        assert ivf_index_complete(spark, coll._ann_path(kind))
        # serving equals a fresh build_ann_index over the same rows
        # (same seeds/hyperparams -> identical model -> identical hits)
        got = [
            (r.chunk_uid, round(r.score, 9))
            for r in coll.search_ann(q, n_results=k, kind=kind).collect()
        ]
        coll.build_ann_index(kind=kind, n_centroids=4, m=4, ksub=8)
        ref = [
            (r.chunk_uid, round(r.score, 9))
            for r in coll.search_ann(q, n_results=k, kind=kind).collect()
        ]
        assert got == ref, kind
    assert coll._ann_vectors_complete("ivfpq")
    # a NO-ARG rebuild infers the live model's shape from the sidecars
    # (review fix: library defaults must not silently collapse a
    # non-default deployment — ksub=8 here vs the default 16)
    coll.ann_rebuild(kind="ivfpq")
    from vector_db_ingestor_spark.operators.similarity import ivfpq_read

    _, cents2, cbs2 = ivfpq_read(spark, coll._ann_path("ivfpq"))
    assert len(cents2) == 4 and len(cbs2) == 4 and len(cbs2[0]) == 8
    # rename-only swap leaves no tmp/trash siblings behind
    leftovers = [
        p.name
        for p in (tmp_path / "rb_coll").iterdir()
        if "__rebuild_" in p.name or "__retired_" in p.name
    ]
    assert leftovers == []
    # first builds go through build_ann_index, loudly
    fresh = VectorCollection(spark, str(tmp_path / "rb_none"))
    fresh.overwrite(
        build_chunks(corpus("x", 2), chunk_size=60, overlap=10)
    )
    with pytest.raises(ValueError, match="build_ann_index"):
        fresh.ann_rebuild(kind="ivf")

    # the "crash at any step leaves one complete copy" contract,
    # exercised at the worst point — between the two renames (live
    # retired, tmp not yet promoted): serving fails LOUDLY (the index
    # reads as incomplete, never partially), and promoting either
    # sibling restores byte-identical serving
    import shutil

    live = tmp_path / "rb_coll" / "_ann_ivf"
    got_before = [
        (r.chunk_uid, r.score)
        for r in coll.search_ann(q, n_results=k, kind="ivf").collect()
    ]
    shutil.move(str(live), str(live) + "__retired_crash")
    with pytest.raises(ValueError, match="no complete"):
        coll.search_ann(q, n_results=k, kind="ivf")
    shutil.move(str(live) + "__retired_crash", str(live))
    got_after = [
        (r.chunk_uid, r.score)
        for r in coll.search_ann(q, n_results=k, kind="ivf").collect()
    ]
    assert got_after == got_before


def test_ann_recommend_refine_grid_semantics(spark, tmp_path):
    """Round 15: the refine-ladder tuning action — complete grid over
    (nprobe doublings) x (k, 2k, 4k), recall nondecreasing in k2 at
    fixed nprobe (superset shortlist into an exact re-rank), cheapest
    config chosen nprobe-major, trivial target picks (1, k), and a
    missing index raises."""
    import pytest

    from vector_db_ingestor_spark.pipeline import VectorCollection

    def corpus(n):
        texts = [
            (f"refine tuning document {i} about quantized serving "
             f"{'alpha beta gamma delta '[: 8 + i % 12]} ").encode() * 3
            for i in range(n)
        ]
        return spark.createDataFrame(
            [
                (
                    f"file:/fake/r{i}.pdf",
                    f"r{i}.pdf",
                    len(b),
                    bytearray(b"stream\n(" + b + b") Tj\nendstream"),
                )
                for i, b in enumerate(texts)
            ],
            "source STRING, filename STRING, file_bytes LONG, content BINARY",
        )

    coll = VectorCollection(spark, str(tmp_path / "ref_coll"))
    coll.overwrite(build_chunks(corpus(8), chunk_size=60, overlap=10))
    coll.build_ann_index(kind="ivfpq", n_centroids=4, m=4, ksub=8)

    k = 5
    rec = coll.ann_recommend_refine(target_recall=1.0, n_queries=3, k=k)
    depths = sorted({np for np, _ in rec["grid"]})
    assert depths[-1] == 4 and len(rec["grid"]) == len(depths) * 3
    assert all(0.0 <= v <= 1.0 for v in rec["grid"].values())
    # superset shortlist into an exact re-rank: recall nondecreasing
    # in k2 at every fixed nprobe
    for np_ in depths:
        assert (
            rec["grid"][(np_, k)]
            <= rec["grid"][(np_, 2 * k)] + 1e-9
        )
        assert (
            rec["grid"][(np_, 2 * k)]
            <= rec["grid"][(np_, 4 * k)] + 1e-9
        )
    # the chosen config actually carries its met verdict
    assert rec["met"] == (rec["grid"][(rec["nprobe"], rec["k2"])] >= 1.0)
    # a trivial target picks the cheapest rung of the ladder
    cheap = coll.ann_recommend_refine(target_recall=0.0, n_queries=2, k=k)
    assert (cheap["nprobe"], cheap["k2"]) == (1, k) and cheap["met"]
    # loud without an index
    empty = VectorCollection(spark, str(tmp_path / "ref_none"))
    with pytest.raises(ValueError, match="ivfpq index"):
        empty.ann_recommend_refine()


def test_ann_maintain_runs_recommended_actions(spark, tmp_path):
    """Round 15: ann_maintain is the one-call batch-side maintenance
    driver — it reads the report and runs exactly the recommended
    action (rebuild on drift with hyperparams INFERRED from the live
    sidecars, compact on fragmentation, nothing otherwise), returning
    before/after reports."""
    from vector_db_ingestor_spark.pipeline import VectorCollection

    def corpus(texts, tag):
        blobs = [t.encode() * 3 for t in texts]
        return spark.createDataFrame(
            [
                (
                    f"file:/fake/{tag}{i}.pdf",
                    f"{tag}{i}.pdf",
                    len(b),
                    bytearray(b"stream\n(" + b + b") Tj\nendstream"),
                )
                for i, b in enumerate(blobs)
            ],
            "source STRING, filename STRING, file_bytes LONG, content BINARY",
        )

    varied = [
        f"maintain document {i} about {topic} pipelines and "
        f"{'alpha beta gamma delta epsilon zeta '[: 12 + i % 20]}"
        for i, topic in enumerate(
            ["spark", "index", "parquet", "shuffle", "codegen", "arrow",
             "stream", "window"] * 2
        )
    ]

    # --- rebuild branch: 16 cells + a near-duplicate absorb pile ---
    coll = VectorCollection(spark, str(tmp_path / "mnt_coll"))
    coll.overwrite(build_chunks(corpus(varied, "base"),
                                chunk_size=60, overlap=10))
    coll.build_ann_index(kind="ivf", n_centroids=16)
    pile = build_chunks(
        corpus(["drifted hot cluster text about one single topic"] * 24,
               "pile"),
        chunk_size=60, overlap=10,
    ).localCheckpoint(eager=True)
    coll.append(pile)
    coll.ann_absorb(pile, kind="ivf")
    out = coll.ann_maintain(kind="ivf")
    assert out["before"]["rebuild_recommended"], out["before"]
    assert out["actions"] == ["rebuild"]
    assert out["after"]["complete"]
    assert out["after"]["n_rows"] == out["before"]["n_rows"] == coll.count()
    # retraining on the CURRENT data splits the hot cluster
    assert out["after"]["max_skew"] < out["before"]["max_skew"]
    # the inferred hyperparams preserved the model shape
    assert spark.read.parquet(
        coll._ann_path("ivf") + "/_centroids"
    ).count() == 16

    # --- compact branch: 4 cells (skew can never exceed 4) ---
    c2 = VectorCollection(spark, str(tmp_path / "mnt_c2"))
    c2.overwrite(build_chunks(corpus(varied, "v"),
                              chunk_size=60, overlap=10))
    c2.build_ann_index(kind="ivf", n_centroids=4)
    # a generous per-file threshold: nothing is recommended -> no-op
    noop = c2.ann_maintain(kind="ivf", target_file_bytes=256)
    assert noop["actions"] == [] and noop["after"] is noop["before"]
    for tag in ("fa", "fb", "fc"):
        b = build_chunks(
            corpus([f"{tag} fragmentation batch doc {i} spark" for i in
                    range(3)], tag),
            chunk_size=60, overlap=10,
        ).localCheckpoint(eager=True)
        c2.append(b)
        c2.ann_absorb(b, kind="ivf")
    out2 = c2.ann_maintain(kind="ivf", target_file_bytes=1 << 40)
    assert out2["before"]["compact_recommended"], out2["before"]
    assert not out2["before"]["rebuild_recommended"]
    assert out2["actions"] == ["compact"]
    assert out2["after"]["n_data_files"] < out2["before"]["n_data_files"]
    assert out2["after"]["n_rows"] == out2["before"]["n_rows"]

    # --- never built: report passthrough, no actions, no error ---
    empty = VectorCollection(spark, str(tmp_path / "mnt_none"))
    none = empty.ann_maintain(kind="ivf")
    assert none["actions"] == [] and none["before"]["complete"] is False


def test_search_ann_filtered_ivf(spark, tmp_path):
    """Filtered ANN (round 13, reference R11 at the index rung): the
    ivf index keeps full rows, so filter_metadata applies INSIDE the
    probed cells before ranking.  With nprobe == n_centroids the
    filtered ANN must equal the exact filtered search row-for-row;
    every hit carries the filter value; ivfpq refuses the knob."""
    import pytest

    from vector_db_ingestor_spark.pipeline import VectorCollection

    def corpus(tag, n):
        texts = [
            (f"{tag} filtered document {i} about spark metadata topics "
             f"{'alpha beta gamma delta '[: 8 + i % 12]} ").encode() * 3
            for i in range(n)
        ]
        return spark.createDataFrame(
            [
                (
                    f"file:/fake/{tag}{i}.pdf",
                    f"{tag}{i}.pdf",
                    len(b),
                    bytearray(b"stream\n(" + b + b") Tj\nendstream"),
                )
                for i, b in enumerate(texts)
            ],
            "source STRING, filename STRING, file_bytes LONG, content BINARY",
        )

    a = build_chunks(corpus("policy", 6), metadata={"category": "policy"},
                     chunk_size=60, overlap=10)
    b = build_chunks(corpus("faq", 6), metadata={"category": "faq"},
                     chunk_size=60, overlap=10)
    coll = VectorCollection(spark, str(tmp_path / "filt_coll"))
    coll.overwrite(a.unionByName(b))
    coll.build_ann_index(kind="ivf", n_centroids=4)
    coll.build_ann_index(kind="ivfpq", n_centroids=4, m=4, ksub=8)

    q = "spark metadata topics"
    flt = {"category": "faq"}
    # nprobe == n_centroids -> no cell is unprobed -> exact-equivalent
    got = coll.search_ann(q, n_results=5, kind="ivf", nprobe=4,
                          filter_metadata=flt)
    rows = got.collect()
    assert rows and all(r.metadata["category"] == "faq" for r in rows)
    want = coll.search(q, n_results=5, filter_metadata=flt)
    assert [(r.chunk_uid, r.score) for r in rows] == [
        (r.chunk_uid, r.score) for r in want.collect()
    ]
    # batch path carries the same filter
    got_b = coll.search_ann([q, "faq filtered document"], n_results=3,
                            kind="ivf", nprobe=4, filter_metadata=flt)
    brows = got_b.collect()
    assert brows and all(r.metadata["category"] == "faq" for r in brows)
    assert {r.query_id for r in brows} == {0, 1}
    # codes index carries no metadata: loud refusal WITHOUT refine
    # (refine=True extends filtering to ivfpq — round 14, tested in
    # test_search_ann_filtered_escalation below)
    with pytest.raises(ValueError, match="needs kind='ivf'"):
        coll.search_ann(q, kind="ivfpq", filter_metadata=flt)

    # round 15: the recall-tuning action — the curve is monotone
    # nondecreasing, exactly 1.0 at all cells, and the recommended
    # depth is the minimal one meeting the target
    rec = coll.ann_recommend_nprobe(target_recall=1.0, n_queries=4, k=5)
    depths = sorted(rec["curve"])
    assert depths[-1] == 4 and rec["curve"][4] == 1.0
    assert all(
        rec["curve"][a] <= rec["curve"][b] + 1e-9
        for a, b in zip(depths, depths[1:])
    )
    assert rec["nprobe"] == min(
        d for d in depths if rec["curve"][d] >= 1.0
    )
    # a trivial target recommends the shallowest depth
    assert coll.ann_recommend_nprobe(
        target_recall=0.0, n_queries=2, k=5
    )["nprobe"] == 1
    with pytest.raises(ValueError, match="ivf index"):
        coll.ann_recommend_nprobe(kind="ivfpq")


def test_search_ann_filtered_escalation(spark, tmp_path):
    """Round 14, the filtered-ANN recall contract (VERDICT r13 #2/#3):
    a filtered search that underfills escalates nprobe (and k2 on the
    refine ladder) until it returns the EXACT filtered top-k — never
    silently fewer rows; escalate=False restores the single-pass
    underfill signal.  Also certifies filtered IVF-PQ serving via
    refine=True (the predicate applies at the full-row candidate
    fetch), single and batched."""
    from vector_db_ingestor_spark.pipeline import VectorCollection

    def corpus(tag, n, vocab):
        texts = [
            (f"{tag} document {i} about {vocab} "
             f"{vocab.split()[i % len(vocab.split())]} topic {i} ").encode()
            * 3
            for i in range(n)
        ]
        return spark.createDataFrame(
            [
                (
                    f"file:/fake/{tag}{i}.pdf",
                    f"{tag}{i}.pdf",
                    len(b),
                    bytearray(b"stream\n(" + b + b") Tj\nendstream"),
                )
                for i, b in enumerate(texts)
            ],
            "source STRING, filename STRING, file_bytes LONG, content BINARY",
        )

    a = build_chunks(
        corpus("policy", 10, "aviation safety rules and cabin procedures"),
        metadata={"category": "policy"}, chunk_size=60, overlap=10,
    )
    b = build_chunks(
        corpus("faq", 10, "billing refunds loyalty points and upgrades"),
        metadata={"category": "faq"}, chunk_size=60, overlap=10,
    )
    coll = VectorCollection(spark, str(tmp_path / "esc_coll"))
    coll.overwrite(a.unionByName(b))
    coll.build_ann_index(kind="ivf", n_centroids=4)
    coll.build_ann_index(kind="ivfpq", n_centroids=4, m=4, ksub=8)

    # query keyed to the OTHER category's vocabulary, so nprobe=1
    # probes a cell the faq rows likely don't own
    q = "aviation safety cabin procedures"
    flt = {"category": "faq"}
    n_faq = coll.df().filter(F.col("metadata")["category"] == "faq").count()
    exact = [
        (r.chunk_uid, r.score)
        for r in coll.search(q, n_results=n_faq, filter_metadata=flt).collect()
    ]
    assert len(exact) == n_faq

    # do the faq rows span more than one ivf cell? (fixture sanity —
    # if they do, any single-cell probe MUST underfill at k=n_faq)
    idx = spark.read.parquet(coll._ann_path("ivf"))
    faq_cells = (
        idx.filter(F.col("metadata")["category"] == "faq")
        .select("cid").distinct().count()
    )

    naive = coll.search_ann(
        q, n_results=n_faq, kind="ivf", nprobe=1, filter_metadata=flt,
        escalate=False,
    )
    if faq_cells > 1:
        # the documented underfill signal, now opt-in
        assert naive.count() < n_faq
    # escalation fills to the exact filtered top-k
    esc = coll.search_ann(
        q, n_results=n_faq, kind="ivf", nprobe=1, filter_metadata=flt
    )
    assert [(r.chunk_uid, r.score) for r in esc.collect()] == exact

    # batched ivf: per-query escalation reaches the same exact result
    esc_b = coll.search_ann(
        [q, "billing refunds"], n_results=n_faq, kind="ivf", nprobe=1,
        filter_metadata=flt,
    )
    got0 = [
        (r.chunk_uid, r.score) for r in esc_b.collect() if r.query_id == 0
    ]
    assert got0 == exact

    # filtered refine (ivfpq): tiny k2 + nprobe=1 must escalate to the
    # exact filtered top-k; every hit satisfies the filter
    esc_r = coll.search_ann(
        q, n_results=n_faq, kind="ivfpq", refine=True, nprobe=1, k2=2,
        filter_metadata=flt,
    )
    rrows = esc_r.collect()
    assert all(r.metadata["category"] == "faq" for r in rrows)
    assert [(r.chunk_uid, r.score) for r in rrows] == exact
    # escalate=False: at most k2 candidates survive — the underfill
    # signal, not a silent recall choice someone else made
    naive_r = coll.search_ann(
        q, n_results=n_faq, kind="ivfpq", refine=True, nprobe=1, k2=2,
        filter_metadata=flt, escalate=False,
    )
    assert naive_r.count() <= 2 < n_faq

    # batched filtered refine: per-query equal to the single-probe path
    esc_rb = coll.search_ann(
        [q, "billing refunds"], n_results=3, kind="ivfpq", refine=True,
        nprobe=1, k2=2, filter_metadata=flt,
    )
    single0 = [
        (r.chunk_uid, r.score)
        for r in coll.search_ann(
            q, n_results=3, kind="ivfpq", refine=True, nprobe=1, k2=2,
            filter_metadata=flt,
        ).collect()
    ]
    got_rb0 = [
        (r.chunk_uid, r.score) for r in esc_rb.collect() if r.query_id == 0
    ]
    assert got_rb0 == single0


def _corpus(spark, tag, n):
    """files(source, filename, file_bytes, content) for n synthetic
    one-sentence PDFs named ``<tag><i>.pdf``."""
    texts = [
        (f"{tag} lifecycle document {i} about index maintenance "
         f"{'alpha beta gamma delta '[: 8 + i % 12]} ").encode() * 3
        for i in range(n)
    ]
    return spark.createDataFrame(
        [
            (
                f"file:/fake/{tag}{i}.pdf",
                f"{tag}{i}.pdf",
                len(b),
                bytearray(b"stream\n(" + b + b") Tj\nendstream"),
            )
            for i, b in enumerate(texts)
        ],
        "source STRING, filename STRING, file_bytes LONG, content BINARY",
    )


def _serve_all(coll, q, k):
    """Every (kind, refine) serving route of one query, as id/score
    lists."""
    return {
        (kind, refine): [
            (r.chunk_uid, r.score)
            for r in coll.search_ann(
                q, n_results=k, kind=kind, refine=refine
            ).collect()
        ]
        for kind, refine in (("ivf", False), ("ivfpq", False), ("ivfpq", True))
    }


def test_compact_keeps_ann_indexes(spark, tmp_path):
    """compact() rewrites only the collection's data files: its ANN
    indexes are carried across the swap and serve identical results
    afterwards, and the rewrite is sized from the data files' bytes
    alone — index and refine-companion bytes must not inflate the file
    count."""
    coll = VectorCollection(spark, str(tmp_path / "keep_coll"))
    coll.overwrite(build_chunks(_corpus(spark, "base", 8), chunk_size=60,
                                overlap=10))
    for i in range(3):
        coll.append(build_chunks(_corpus(spark, f"more{i}", 2),
                                 chunk_size=60, overlap=10))
    for kind in ("ivf", "ivfpq"):
        coll.build_ann_index(kind=kind, n_centroids=4, m=4, ksub=8)
    k = coll.count()
    q = "index maintenance lifecycle"
    before = _serve_all(coll, q, k)
    assert all(before.values())

    data_bytes = sum(
        p.stat().st_size for p in (tmp_path / "keep_coll").glob("*.parquet")
    )
    n_files = coll.compact(target_file_bytes=data_bytes)
    assert coll.count() == k
    assert _serve_all(coll, q, k) == before
    assert n_files == 1
    assert coll.ann_maintenance_report("ivfpq")["refine_companion"]
    # nothing left behind next to or inside the collection
    assert [p.name for p in tmp_path.iterdir()] == ["keep_coll"]
    assert sorted(
        p.name for p in (tmp_path / "keep_coll").iterdir()
        if p.name.startswith("_ann_")
    ) == ["_ann_ivf", "_ann_ivfpq"]


def test_compact_keeps_partition_layout(spark, tmp_path):
    """compact() on a partition_by collection keeps its hive partition
    directories (no flat files appear next to them, so a later
    upsert_files still sees one consistent layout) and returns the
    parquet count INSIDE those directories."""
    path = tmp_path / "part_coll"
    coll = VectorCollection(spark, str(path))
    chunks = build_chunks(_corpus(spark, "part", 4), chunk_size=60,
                          overlap=10)
    # three tasks per write -> several small files per partition dir
    coll.overwrite(chunks.repartition(3), partition_by=["filename"])
    rows = sorted((r.chunk_uid, r.filename) for r in coll.df().collect())

    def layout():
        dirs = sorted(p.name for p in path.iterdir() if p.is_dir()
                      and not p.name.startswith(("_", ".")))
        flat = [p.name for p in path.glob("*.parquet")]
        files = [p for p in path.glob("filename=*/*.parquet")]
        return dirs, flat, files

    dirs, flat, files = layout()
    assert len(dirs) == 4 and flat == [] and len(files) > 4
    n = coll.compact(target_file_bytes=128 * 1024 * 1024)
    dirs2, flat2, files2 = layout()
    assert dirs2 == dirs and flat2 == []
    assert n == len(files2) == 4
    assert sorted((r.chunk_uid, r.filename) for r in coll.df().collect()) \
        == rows

    # file-granular refresh still lands in the same partition layout
    redo = build_chunks(_corpus(spark, "part", 1), chunk_size=30,
                        overlap=5)
    coll.upsert_files(redo)
    dirs3, flat3, _ = layout()
    assert dirs3 == dirs and flat3 == []
    assert coll.df().filter(F.col("filename") == "part0.pdf").count() \
        == redo.count()

    # partition values are rewritten verbatim, not re-typed on read
    num = VectorCollection(spark, str(tmp_path / "num_coll"))
    num.overwrite(
        spark.createDataFrame(
            [("u1", "001", "a"), ("u2", "002", "b")],
            "chunk_uid STRING, filename STRING, text STRING",
        ),
        partition_by=["filename"],
    )
    num.compact()
    assert sorted(
        p.name for p in (tmp_path / "num_coll").glob("filename=*")
    ) == ["filename=001", "filename=002"]


def test_search_ann_rejects_nprobe_below_one(spark, tmp_path):
    """nprobe < 1 is a ValueError before any index access: the
    underfill escalation doubles nprobe, and doubling 0 never ends."""
    coll = VectorCollection(spark, str(tmp_path / "no_index"))
    for bad in (0, -1):
        for kw in ({}, {"filter_metadata": {"category": "faq"}}):
            with pytest.raises(ValueError, match="nprobe must be >= 1"):
                coll.search_ann("refunds", kind="ivf", nprobe=bad, **kw)


@pytest.fixture(scope="module")
def swap_base(spark, tmp_path_factory):
    """A collection with a complete ivfpq index, its row count, and its
    refined serving result for one query."""
    root = tmp_path_factory.mktemp("swap_base") / "coll"
    coll = VectorCollection(spark, str(root))
    coll.overwrite(build_chunks(_corpus(spark, "swap", 6), chunk_size=60,
                                overlap=10))
    coll.build_ann_index(kind="ivfpq", n_centroids=4, m=4, ksub=8)
    q = "swap lifecycle document"
    want = [
        (r.chunk_uid, r.score)
        for r in coll.search_ann(q, kind="ivfpq", refine=True).collect()
    ]
    return root, coll.count(), q, want


@pytest.mark.parametrize(
    "target,step",
    [("ivfpq", s) for s in ("built", "retired", "promoted", "deleted")]
    + [
        ("compact", s)
        for s in ("built", "carried", "retired", "promoted", "deleted")
    ],
)
def test_swap_crash_matrix(spark, tmp_path, swap_base, target, step):
    """A crash after any step of the one rename swap — for an ivfpq
    index rewrite (build_ann_index / ann_rebuild / ann_compact) and for
    compact(), including compact's carry of the index into its tmp
    dir — leaves at least one complete copy on disk, and serving
    either returns the pre-crash result (a complete index is live) or
    refuses with the "no complete" ValueError, never a partial
    answer.  Each post-step disk state is reproduced with shutil."""
    import pathlib
    import shutil

    base, n_rows, q, want = swap_base
    coll_dir = tmp_path / "coll"
    shutil.copytree(base, coll_dir)
    if target == "ivfpq":
        live = coll_dir / "_ann_ivfpq"
        tmp = coll_dir / "_ann_ivfpq__rebuild_crash"
        shutil.copytree(live, tmp)  # a fully built replacement
        steps = ["built", "retired", "promoted", "deleted"]
    else:
        live = coll_dir
        tmp = tmp_path / "coll__compact_crash"
        shutil.copytree(  # the rewritten data files, no index yet
            coll_dir, tmp, ignore=shutil.ignore_patterns("_ann_*")
        )
        steps = ["built", "carried", "retired", "promoted", "deleted"]
    trash = pathlib.Path(str(live) + "__retired_crash")
    do = {
        "carried": lambda: shutil.move(
            str(coll_dir / "_ann_ivfpq"), str(tmp / "_ann_ivfpq")
        ),
        "retired": lambda: shutil.move(str(live), str(trash)),
        "promoted": lambda: shutil.move(str(tmp), str(live)),
        "deleted": lambda: shutil.rmtree(trash),
    }
    for s in steps[1 : steps.index(step) + 1]:
        do[s]()

    def complete(d):
        if target == "ivfpq":
            return (d / "_INDEX_SUCCESS").exists() and (
                d / "_vectors" / "_SUCCESS"
            ).exists()
        return (
            d.exists()
            and (d / "_ann_ivfpq" / "_INDEX_SUCCESS").exists()
            and spark.read.parquet(str(d)).count() == n_rows
        )

    assert any(complete(d) for d in (live, trash, tmp)), step
    coll = VectorCollection(spark, str(coll_dir))
    if complete(live):
        got = coll.search_ann(q, kind="ivfpq", refine=True).collect()
        assert [(r.chunk_uid, r.score) for r in got] == want
    else:
        with pytest.raises(ValueError, match="no complete"):
            coll.search_ann(q, kind="ivfpq", refine=True)
