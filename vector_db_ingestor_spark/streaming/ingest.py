"""Continuous ingestion — the reference's EP1 batch loop
(``ingest_directory``, src/PDFToChromaIngester.py:207-223) as a
Structured Streaming job.

The reference re-scans and re-ingests the whole directory on every run
(its ``__main__`` even ingests twice per process, SURVEY §3 EP1 step 5).
The streaming form subsumes that: the binaryFile file-stream source
tracks which files have been seen (exactly-once per file via the
checkpoint), new PDFs landing in the directory flow through the SAME
fused extract→chunk→embed kernel (:func:`pipeline.build_chunks` —
batch/stream parity is Spark's unified DataFrame API), and the parquet
sink appends atomically per micro-batch.

Scale knobs: ``max_files_per_trigger`` bounds micro-batch size (keeps
executor memory flat no matter how many files land at once);
parallelism inside a micro-batch comes from build_chunks' round-robin
repartition.  State is only the file-source log — the pipeline itself
is stateless (no watermark needed).
"""

from __future__ import annotations

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from vector_db_ingestor_spark.embedding import HashingEmbedder
from vector_db_ingestor_spark.pipeline import build_chunks

BINARY_FILE_SCHEMA = (
    "path STRING, modificationTime TIMESTAMP, length LONG, content BINARY"
)


def stream_pdf_files(
    spark: SparkSession,
    directory: str,
    glob: str = "*.pdf",
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """readStream twin of sources.pdf.scan_pdfs."""
    reader = (
        spark.readStream.format("binaryFile")
        .schema(BINARY_FILE_SCHEMA)
        .option("pathGlobFilter", glob)
    )
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    return reader.load(directory).select(
        F.col("path").alias("source"),
        F.regexp_extract(F.col("path"), r"[^/]+$", 0).alias("filename"),
        F.col("length").alias("file_bytes"),
        F.col("content"),
    )


def stream_ingest_directory(
    spark: SparkSession,
    directory: str,
    collection_path: str,
    checkpoint_path: str,
    metadata: dict[str, str] | None = None,
    chunk_size: int = 600,
    overlap: int = 50,
    embedder: HashingEmbedder | None = None,
    glob: str = "*.pdf",
    max_files_per_trigger: int | None = None,
    available_now: bool = True,
) -> StreamingQuery:
    """Start (and with ``available_now`` drain) the streaming ingest.

    ``available_now=True`` processes everything currently in the
    directory then stops — the batch-equivalent run the tests and the
    reference's one-shot ``__main__`` correspond to; ``False`` leaves a
    continuous query tailing the directory.
    """
    files = stream_pdf_files(spark, directory, glob, max_files_per_trigger)
    chunks = build_chunks(files, metadata, chunk_size, overlap, embedder)
    writer = (
        chunks.writeStream.format("parquet")
        .option("path", collection_path)
        .option("checkpointLocation", checkpoint_path)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_ingest_dedup(
    spark: SparkSession,
    directory: str,
    collection_path: str,
    checkpoint_path: str,
    metadata: dict[str, str] | None = None,
    chunk_size: int = 600,
    overlap: int = 50,
    embedder: HashingEmbedder | None = None,
    glob: str = "*.pdf",
    max_files_per_trigger: int | None = None,
) -> StreamingQuery:
    """Streaming ingest with content-level dedup at the sink.

    The file source already gives exactly-once *per file*; this adds
    exactly-once *per chunk content*: each micro-batch anti-joins its
    chunks against the collection on the deterministic ``chunk_uid``
    (sha2 of filename+index+text) before appending, so re-ingesting
    renamed/duplicated documents adds nothing.  foreachBatch is the
    escape hatch because the sink needs to read its own output; the
    anti-join is an equi-join on the content hash — broadcast the batch
    side (micro-batches are bounded by ``maxFilesPerTrigger``), or with
    the collection bucketed on ``chunk_uid`` (save_bucketed) it is
    co-located and shuffle-free at any size.
    """
    files = stream_pdf_files(spark, directory, glob, max_files_per_trigger)
    chunks = build_chunks(files, metadata, chunk_size, overlap, embedder)

    def merge(batch_df, batch_id: int) -> None:
        sess = batch_df.sparkSession
        try:
            existing = sess.read.parquet(collection_path).select("chunk_uid")
        except AnalysisException as e:
            # Only a genuinely-missing collection means "first batch".
            # Any other read failure (permissions, corrupt footer) must
            # propagate — swallowing it would silently disable the
            # content-level anti-join and append duplicates.
            cls = getattr(e, "getCondition", lambda: None)() or ""
            if "PATH_NOT_FOUND" not in cls and "PATH_NOT_FOUND" not in str(e):
                raise
            existing = None
        fresh = batch_df.dropDuplicates(["chunk_uid"])
        if existing is not None:
            fresh = fresh.join(existing, "chunk_uid", "left_anti")
        fresh.write.mode("append").parquet(collection_path)

    return (
        chunks.writeStream.foreachBatch(merge)
        .option("checkpointLocation", checkpoint_path)
        .trigger(availableNow=True)
        .start()
    )


def stream_ingest_absorb(
    spark: SparkSession,
    directory: str,
    collection_path: str,
    checkpoint_path: str,
    kind: str = "ivfpq",
    metadata: dict[str, str] | None = None,
    chunk_size: int = 600,
    overlap: int = 50,
    embedder: HashingEmbedder | None = None,
    glob: str = "*.pdf",
    max_files_per_trigger: int | None = None,
    compact_every_n_batches: int | None = None,
    compact_target_file_bytes: int = 128 * 1024 * 1024,
) -> StreamingQuery:
    """Streaming ingest that keeps a prebuilt ANN index CURRENT — the
    full streaming twin of Chroma's ``add`` → HNSW-update loop
    (``src/PDFToChromaIngester.py:189-193``): each micro-batch appends
    to the collection AND absorbs into the frozen-model index
    (:meth:`VectorCollection.ann_absorb` — assign-only into existing
    ``cid=`` partitions, plus the refine companion for ivfpq), so
    ``search_ann`` serves files seconds after they land, no rebuild in
    the loop.

    Idempotent under retries, with the INDEX as the absorb's
    idempotence key (ADVICE r13): the collection append anti-joins on
    ``chunk_uid`` against the collection (the
    :func:`stream_ingest_dedup` merge), while ``ann_absorb`` is passed
    the WHOLE deduped batch and drops already-indexed ids per artifact
    itself.  A replay after a crash between the two writes therefore
    re-absorbs exactly the chunks that were appended but never indexed
    — keying both writes to collection membership would anti-join
    those chunks away and leave the index silently, permanently
    stale.  Refuses to start without a complete index (build once
    after a seed ingest): an absorb-into-nothing would silently skip
    maintenance.  The frozen model still drifts with the data — watch
    :meth:`VectorCollection.ann_drift_report` and rebuild out-of-band
    when skew crosses tolerance.

    ``compact_every_n_batches`` (round 15 — closes the maintenance
    loop, VERDICT r14 #4): every N micro-batches the sink consults
    :meth:`VectorCollection.ann_maintenance_report` (a namenode
    listing + partition-column read, cheap at any scale) and, if it
    recommends, runs :meth:`VectorCollection.ann_compact` with
    ``compact_target_file_bytes`` — so the small-file-per-absorb tax
    is folded back hands-off, the way Chroma's in-place HNSW updates
    never accumulate files at all.  The swap is rename-only with
    ``_INDEX_SUCCESS`` written last, so a crash mid-compaction leaves
    the old index serving and the next cadence retries; a replayed
    micro-batch at a compaction boundary re-runs a no-op-safe
    compaction, never a duplicate absorb.  ``None`` (default) keeps
    the round-14 behavior: maintenance stays out-of-band.
    """
    from vector_db_ingestor_spark.pipeline import VectorCollection

    coll = VectorCollection(spark, collection_path)
    coll._ann_index(kind, "streaming absorbs into it")
    files = stream_pdf_files(spark, directory, glob, max_files_per_trigger)
    chunks = build_chunks(files, metadata, chunk_size, overlap, embedder)

    def merge_and_absorb(batch_df, batch_id: int) -> None:
        sess = batch_df.sparkSession
        try:
            existing = sess.read.parquet(collection_path).select("chunk_uid")
        except AnalysisException as e:
            cls = getattr(e, "getCondition", lambda: None)() or ""
            if "PATH_NOT_FOUND" not in cls and "PATH_NOT_FOUND" not in str(e):
                raise
            existing = None
        # SNAPSHOT before the writes: coll.append MUTATES the
        # collection, so any lazy plan over it recomputed between the
        # two writes would see the just-appended rows (observed: the
        # anti-join re-ran post-append and absorbed an EMPTY batch —
        # 6 empty code files, index stuck at the seed count).
        # localCheckpoint breaks the lineage eagerly, so both writes
        # read the same frozen rows.
        batch = batch_df.dropDuplicates(["chunk_uid"]).localCheckpoint(
            eager=True
        )
        if batch.count() == 0:
            return
        fresh = batch
        if existing is not None:
            fresh = fresh.join(existing, "chunk_uid", "left_anti")
        if fresh.count() > 0:
            coll.append(fresh)
        # the WHOLE batch, not `fresh`: ann_absorb keys idempotence on
        # each index artifact's own ids, so a replayed batch whose
        # chunks were appended but never indexed (crash between the
        # two writes) still reaches the index exactly once
        coll.ann_absorb(batch, kind=kind)
        if (
            compact_every_n_batches
            and (batch_id + 1) % compact_every_n_batches == 0
        ):
            report = coll.ann_maintenance_report(
                kind, target_file_bytes=compact_target_file_bytes
            )
            if report.get("compact_recommended"):
                coll.ann_compact(
                    kind, target_file_bytes=compact_target_file_bytes
                )

    return (
        chunks.writeStream.foreachBatch(merge_and_absorb)
        .option("checkpointLocation", checkpoint_path)
        .trigger(availableNow=True)
        .start()
    )


def stream_warc_segments(
    spark: SparkSession,
    directory: str,
    glob: str = "*.warc*",
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """readStream twin of sources.warc.scan_warc's file scan: new crawl
    segments landing in the directory become (path, content) rows
    exactly once (the file-source checkpoint), ready for the record
    parser."""
    reader = (
        spark.readStream.format("binaryFile")
        .schema(BINARY_FILE_SCHEMA)
        .option("pathGlobFilter", glob)
    )
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    return reader.load(directory).select("path", "content")


def stream_ingest_warc(
    spark: SparkSession,
    directory: str,
    collection_path: str,
    checkpoint_path: str,
    metadata: dict[str, str] | None = None,
    chunk_size: int = 600,
    overlap: int = 50,
    embedder: HashingEmbedder | None = None,
    glob: str = "*.warc*",
    max_files_per_trigger: int | None = None,
    html_to_text: bool = False,
    available_now: bool = True,
) -> StreamingQuery:
    """Continuous crawl ingest — ``pipeline.ingest_warc`` as a
    Structured Streaming job, which is how crawl data actually arrives
    (a bucket that new segments land in every hour, not a directory
    scanned once).  Segments flow exactly-once through the SAME chain
    as the batch path: stdlib WARC record parse (one Arrow stage) →
    HTTP-200 filter → the fused chunk/embed kernel (optionally behind
    the stdlib HTML→text reducer) → atomic per-micro-batch parquet
    appends into the same collection layout every other source writes.
    ``max_files_per_trigger`` bounds executor memory per micro-batch
    (segments are whole-file rows, the binaryFile contract); all other
    state is the file-source log — the pipeline itself is stateless."""
    from vector_db_ingestor_spark.sources.warc import parse_warc_bytes

    segments = stream_warc_segments(spark, directory, glob, max_files_per_trigger)
    recs = parse_warc_bytes(segments)
    files = recs.filter(
        (F.col("record_type") == "response") & (F.col("http_status") == 200)
    ).select(
        "source",
        F.col("url").alias("filename"),
        F.col("payload").alias("content"),
    )
    if html_to_text:
        from vector_db_ingestor_spark.sources.html import (
            html_to_text as _extract,
        )
    else:
        def _extract(b: bytes) -> str:
            return b.decode("utf-8", "replace")
    chunks = build_chunks(
        files, metadata, chunk_size, overlap, embedder, extract=_extract
    )
    writer = (
        chunks.writeStream.format("parquet")
        .option("path", collection_path)
        .option("checkpointLocation", checkpoint_path)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
