"""End-to-end ingestion pipeline + collection API — reference parity
for EP1/EP2 (SURVEY §3) as one lazy DataFrame chain.

Reference flow (``ingest_directory`` -> ``ingest_pdf`` -> chunk ->
metadata -> embed -> ``collection.add``, src/PDFToChromaIngester.py:126-223):
a sequential per-file loop with per-file error capture.  Here the whole
ingest is a single narrow plan — binaryFile scan -> extract UDF ->
chunk UDF + posexplode -> metadata projections -> embedding UDF ->
parquet write — parallel over files, with these deliberate deltas
(SURVEY §7 risk register):

* ids are deterministic ``sha2(filename || chunk_index || chunk)``
  instead of ``uuid4`` (src/PDFToChromaIngester.py:170) so re-runs,
  tests, and the oracle are stable;
* ALL chunks are written — the canonical copy's ``[0:2]`` truncation
  (src/PDFToChromaIngester.py:190-192) is a debug bug its three clones
  don't share, and is not reproduced;
* per-file failure becomes a ``status`` column in the ingest report
  (R17, src/PDFToChromaIngester.py:370-378) instead of a bool dict.

Scale notes: the plan is fully narrow — ``total_chunks`` is
``size(chunks)`` taken from the chunker's array *before* ``posexplode``
(reference semantics is ``len(chunks)`` per file,
src/PDFToChromaIngester.py:145-150), so no per-file window and no
shuffle anywhere in the ingest.  PDF blobs are non-splittable and
wildly variable in CPU cost, so the file scan is round-robin
repartitioned to the cluster parallelism before the extract UDF —
one bounded shuffle of raw bytes buys straggler-free CPU stages.  The
write partitions by ingest batch at 100 TB (partitionBy on a
batch/date column); here files are small so the default layout is
kept.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from typing import Callable, Iterator

import pandas as pd

from vector_db_ingestor_spark.embedding import HashingEmbedder
from vector_db_ingestor_spark.operators.chunker import chunk_text
from vector_db_ingestor_spark.operators.context import SEPARATOR, format_piece
from vector_db_ingestor_spark.operators.topk import topk_cosine
from vector_db_ingestor_spark.sources.pdf import extract_pdf_text, scan_pdfs

CHUNK_SCHEMA_COLS = (
    "chunk_uid",
    "chunk_id",
    "source",
    "filename",
    "chunk_index",
    "total_chunks",
    "text",
    "metadata",
    "embedding",
)


def build_chunks(
    files: DataFrame,
    metadata: dict[str, str] | None = None,
    chunk_size: int = 600,
    overlap: int = 50,
    embedder: HashingEmbedder | None = None,
    num_partitions: int | None = None,
    extract: "Callable[[bytes], str] | None" = None,
) -> DataFrame:
    """files(source, filename, content) -> chunk records.

    Mirrors ingest_pdf's metadata assembly (src/PDFToChromaIngester.py:144-170):
    file-level {source, filename, total_chunks} + chunk-level
    {chunk_index, chunk_id} + caller metadata, plus the embedding col.

    The chain extract -> chunk -> enrich -> embed is one narrow stage.
    ``num_partitions`` rebalances the non-splittable file blobs across
    CPUs first; the default (None) repartitions ONLY when the input
    carries fewer partitions than the cluster's parallelism — the
    rebalance exists for small directory listings (binaryFile gives
    one partition per file), and on an already-parallel input (e.g.
    parsed WARC records) the exchange is a pure loss: it shuffles the
    raw blob bytes between two Python stages, measured at 42% of the
    whole ingest wall at 100x sf0.1 (SCALE_PROBE round-11) while
    buying nothing.  Pass an explicit ``num_partitions`` to force the
    rebalance either way (e.g. a few huge skewed segments).

    ``extract`` maps a document's raw bytes to text inside the fused
    kernel; default is the PDF engine chain.  Non-PDF front doors
    (WARC payloads are already text) pass their own decoder and reuse
    the identical chunk -> enrich -> embed tail, so every source
    format produces schema-identical collection rows.
    """
    embedder = embedder or HashingEmbedder()
    if num_partitions is None:
        parallelism = files.sparkSession.sparkContext.defaultParallelism
        if files.isStreaming:
            # micro-batches carry a handful of newly-arrived files;
            # .rdd is illegal on a stream, so always rebalance
            num_partitions = parallelism
        elif files.rdd.getNumPartitions() < parallelism:
            num_partitions = parallelism
        # else: input is already at least as parallel as the cluster —
        # an exchange here would shuffle raw blob bytes between two
        # Python stages for nothing (42% of ingest wall at 100x,
        # SCALE_PROBE round-11)
    extract_fn = extract or extract_pdf_text
    make_embedder = embedder.task_factory()

    def fused(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # Fused extract -> chunk -> explode -> embed kernel: ONE Python
        # round-trip instead of three chained ArrowEvalPython nodes, so
        # document text and chunk arrays never ping-pong JVM<->Python.
        emb = make_embedder()  # per-task init (model load)
        for pdf in batches:
            out: dict[str, list] = {
                "source": [], "filename": [], "total_chunks": [],
                "chunk_index": [], "text": [], "embedding": [],
            }
            for source, filename, content in zip(
                pdf["source"], pdf["filename"], pdf["content"]
            ):
                text = extract_fn(bytes(content)) if content is not None else ""
                # empty/whitespace extraction -> no chunks, file shows
                # up only in the ingest report
                # (src/PDFToChromaIngester.py:130-138)
                chunks = chunk_text(text, chunk_size, overlap)
                total = len(chunks)  # len(chunks) per file (:145-150)
                for i, piece in enumerate(chunks):
                    if not piece.strip():
                        continue
                    out["source"].append(source)
                    out["filename"].append(filename)
                    out["total_chunks"].append(total)
                    out["chunk_index"].append(i)
                    out["text"].append(piece)
                    out["embedding"].append(emb.embed_one(piece, "passage"))
            if out["source"]:  # empty frame's array col trips Arrow
                yield pd.DataFrame(out)

    src = files.select("source", "filename", "content")
    if num_partitions is not None:
        src = src.repartition(num_partitions)
    chunks = src.mapInPandas(
        fused,
        schema=(
            "source string, filename string, total_chunks int, "
            "chunk_index int, text string, embedding array<double>"
        ),
    )
    meta_map = F.create_map(
        *[x for k, v in (metadata or {}).items() for x in (F.lit(k), F.lit(str(v)))]
    ) if metadata else F.create_map().cast("map<string,string>")
    return (
        chunks.withColumn(
            "chunk_id",
            F.concat("filename", F.lit("_chunk_"), F.col("chunk_index")),
        )
        .withColumn(
            "chunk_uid",
            F.sha2(F.concat_ws("\x01", "filename", "chunk_index", "text"), 256),
        )
        .withColumn("metadata", meta_map)
        .select(*CHUNK_SCHEMA_COLS)
    )


def ingest_report(
    files: DataFrame, chunks: DataFrame, key_col: str = "source"
) -> DataFrame:
    """R17: per-file status + summary-friendly counts
    (src/PDFToChromaIngester.py:370-378).

    ``key_col`` is the document-identity column the counts roll up on:
    ``source`` (the file path) for directory scans, ``filename`` (the
    URL) for WARC segments where many documents share one source file.
    """
    per_file = chunks.groupBy(key_col).agg(F.count("*").alias("n_chunks"))
    return (
        files.select("source", "filename")
        .join(per_file, key_col, "left")
        .select(
            "source",
            "filename",
            F.coalesce("n_chunks", F.lit(0)).alias("n_chunks"),
            F.when(F.coalesce("n_chunks", F.lit(0)) > 0, "ok")
            .otherwise("no_text_extracted")
            .alias("status"),
        )
    )


class VectorCollection:
    """The reference's *collection* as a partitioned parquet table
    (SURVEY §1.4): overwrite lifecycle = mode("overwrite")
    (src/PDFToChromaIngester.py:29-33,51-66), add = mode("append")
    (src/PDFToChromaIngester.py:189-193), count = df.count()
    (src/PDFToChromaIngester.py:237-247), plus the search/RAG query
    path (R10/R11/R14)."""

    def __init__(self, spark: SparkSession, path: str, embedder: HashingEmbedder | None = None):
        self.spark = spark
        self.path = path
        self.embedder = embedder or HashingEmbedder()

    # ------------------------------------------------------------- sink
    def overwrite(
        self,
        chunks: DataFrame,
        partition_by: list[str] | None = None,
        layout: str | None = None,
        layout_files: int | None = None,
    ) -> None:
        """Collection overwrite (src/PDFToChromaIngester.py:29-33).

        ``partition_by`` is the 100 TB layout knob: partition by an
        ingest-batch/date column so re-ingestion overwrites only its own
        partitions and metadata filters prune at the directory level.

        ``layout`` is the other scale lever (VERDICT r11 #4), applied at
        write time without importing operators directly:

        * ``"range:<col>"`` — ``repartitionByRange`` + within-file sort
          on ``col`` (the ``vectors_write`` contract): every file gets
          a disjoint ``[min,max]`` footer range, so id fetches — the
          :meth:`search_ann` hit join in particular — become
          file-skipping ``In`` pushdown instead of a second collection
          scan.  Recorded in a ``_layout`` sidecar; later
          :meth:`append` batches re-apply it automatically.
        * ``"zorder:<c1>,<c2>[,...]"`` — Morton multi-column layout
          (operators/layout.py ``zorder_write``, equidepth cells) for
          multi-dimension range pruning.

        Mutually exclusive with ``partition_by`` (hive partitioning and
        a within-table sort order solve different pruning problems;
        combining them is a per-partition layout this API keeps out of
        scope).
        """
        if layout and partition_by:
            raise ValueError("pass either partition_by or layout, not both")
        if layout:
            self._write_with_layout(chunks, layout, layout_files, "overwrite")
            self._record_layout(layout)
            return
        w = chunks.write.mode("overwrite")
        if partition_by:
            w = w.partitionBy(*partition_by)
        w.parquet(self.path)

    def append(self, chunks: DataFrame, partition_by: list[str] | None = None) -> None:
        """Append a batch.  If the collection was overwritten with a
        recorded ``range:`` layout, the batch is re-laid-out the same
        way before appending — per-batch disjoint footer ranges keep id
        fetches prunable (a given id list hits at most a few files per
        batch) without rewriting history.  ``zorder:`` layouts are
        overwrite-only (their cell boundaries are corpus statistics);
        appends to a z-ordered collection land unsorted and a periodic
        re-``overwrite`` restores the layout (the compact() story).

        Refuses ``partition_by`` on a layouted collection for the same
        reason :meth:`upsert_files` does: hive ``col=...`` dirs would
        land NEXT TO the flat layout files, a mixed directory no reader
        handles and a sidecar describing files that stop being
        authoritative.

        Also refuses a collection written by the STREAMING PARQUET SINK
        (``_spark_metadata`` transaction log present): Spark reads such
        a directory through the log, so batch-appended files would be
        silently INVISIBLE to every subsequent read — data loss without
        an error.  :meth:`compact` is the sanctioned migration (it
        rewrites through the log into a plain directory); the
        foreachBatch ingest variants (``stream_ingest_dedup`` /
        ``stream_ingest_absorb``) write batch-mode and don't create a
        log in the first place."""
        if self._has_stream_log():
            raise ValueError(
                f"{self.path} carries a streaming-sink _spark_metadata "
                "log: batch appends would be invisible to reads (the log "
                "is the source of truth) — compact() first to migrate to "
                "a plain directory, or ingest via the foreachBatch "
                "streaming variants"
            )
        lay = self.layout()
        if lay and partition_by:
            raise ValueError(
                f"append(partition_by=...) on a collection with recorded "
                f"layout {lay!r} would mix hive partition dirs into a "
                "flat-file layout — re-overwrite without a layout first"
            )
        if lay and lay.startswith("range:"):
            self._write_with_layout(chunks, lay, None, "append")
            return
        w = chunks.write.mode("append")
        if partition_by:
            w = w.partitionBy(*partition_by)
        w.parquet(self.path)

    def _write_with_layout(
        self,
        chunks: DataFrame,
        layout: str,
        n_files: int | None,
        mode: str,
    ) -> None:
        kind, _, spec = layout.partition(":")
        if kind == "range" and spec:
            n = n_files or self.spark.sparkContext.defaultParallelism
            (
                chunks.repartitionByRange(n, spec)
                .sortWithinPartitions(spec)
                .write.mode(mode)
                .parquet(self.path)
            )
        elif kind == "zorder" and spec:
            if mode != "overwrite":
                raise ValueError(
                    "zorder layout is overwrite-only (cell boundaries are "
                    "corpus statistics); append plain and re-overwrite to "
                    "restore the layout"
                )
            from vector_db_ingestor_spark.operators.layout import zorder_write

            zorder_write(
                chunks, self.path, spec.split(","), n_files=n_files or 32
            )
        else:
            raise ValueError(
                f"unknown layout {layout!r}: expected 'range:<col>' or "
                "'zorder:<c1>,<c2>'"
            )

    def _has_stream_log(self) -> bool:
        """True iff the collection directory was written by the
        streaming parquet sink (its ``_spark_metadata`` commit log is
        present) — reads then go through the log and ignore any file
        it doesn't list."""
        hpath, fs = self._fs()
        return bool(fs.exists(hpath(self.path.rstrip("/") + "/_spark_metadata")))

    def _fs(self):
        """(Hadoop ``Path`` constructor, the collection's FileSystem)."""
        hpath = self.spark._jvm.org.apache.hadoop.fs.Path
        return hpath, hpath(self.path).getFileSystem(
            self.spark._jsc.hadoopConfiguration()
        )

    def _data_files(self, path: str) -> tuple[int, int]:
        """(parquet data files, their bytes) under ``path``, walking
        hive ``col=value`` partition dirs.  Underscore and dot entries
        (ANN indexes, sidecars, markers, checksums, the stream log) are
        not data and are skipped — the one listing that sizes and counts
        both collection and index rewrites."""
        hpath, fs = self._fs()
        n_files = n_bytes = 0
        todo = [hpath(path)]
        while todo:
            for st in fs.listStatus(todo.pop()):
                name = st.getPath().getName()
                if name.startswith(("_", ".")):
                    continue
                if st.isDirectory():
                    todo.append(st.getPath())
                elif name.endswith(".parquet"):
                    n_files += 1
                    n_bytes += st.getLen()
        return n_files, n_bytes

    def _partition_cols(self) -> list[str]:
        """Hive partition columns of the collection, read off its first
        ``col=value`` directory chain (``[]`` for a flat layout)."""
        hpath, fs = self._fs()
        cols, cur = [], hpath(self.path)
        while True:
            dirs = (
                st.getPath().getName()
                for st in fs.listStatus(cur)
                if st.isDirectory()
            )
            part = next(
                (d for d in dirs if "=" in d and not d.startswith(("_", "."))),
                None,
            )
            if part is None:
                return cols
            cols.append(part.split("=", 1)[0])
            cur = hpath(cur, part)

    def _swap(self, live: str, tmp: str, token: str, op: str) -> None:
        """Promote the fully-built directory ``tmp`` to ``live`` with
        renames only — the one swap every rewrite goes through
        (:meth:`compact`, :meth:`ann_compact`, :meth:`build_ann_index`
        and so :meth:`ann_rebuild`): live -> ``__retired_<token>``,
        tmp -> live, delete the retired copy; with nothing live the
        promote is a single rename.  A crash at any step leaves one
        complete copy on disk (old under ``__retired_*`` or new at
        ``tmp``) — an abandoned tmp is never promoted.  The instant
        between the two renames is the one moment ``live`` is absent, so
        run rewrites out-of-band, not under readers on a non-atomic
        filesystem."""
        hpath, fs = self._fs()
        if not fs.exists(hpath(live)):
            if not fs.rename(hpath(tmp), hpath(live)):
                raise IOError(f"{op}: could not promote {tmp}")
            return
        trash = live + f"__retired_{token}"
        if not fs.rename(hpath(live), hpath(trash)):
            raise IOError(f"{op}: could not retire {live}")
        if not fs.rename(hpath(tmp), hpath(live)):
            # roll back: put the live copy back before failing
            if fs.rename(hpath(trash), hpath(live)):
                raise IOError(f"{op}: could not promote {tmp}; rolled back")
            raise IOError(
                f"{op}: could not promote {tmp} AND rollback failed — "
                f"live copy intact under {trash}"
            )
        fs.delete(hpath(trash), True)

    def _record_layout(self, layout: str, path: str | None = None) -> None:
        # sidecar inside the collection dir; the leading underscore
        # hides it from the collection scan (the _centroids trick)
        self.spark.createDataFrame(
            [(layout,)], "layout STRING"
        ).coalesce(1).write.mode("overwrite").parquet(
            (path or self.path) + "/_layout"
        )

    def layout(self) -> str | None:
        """The recorded write layout, or None for a plain collection.

        Degrades, never breaks: a missing, truncated, or corrupted
        sidecar reads as "no layout", so queries fall back to the
        broadcast-join fetch (correct, just unpruned) instead of a
        search failing over an optimization hint."""
        try:
            rows = self.spark.read.parquet(self.path + "/_layout").collect()
        except Exception:
            return None
        return rows[0]["layout"] if rows else None

    def upsert_files(self, chunks: DataFrame) -> None:
        """File-granular re-ingest: replace exactly the files present in
        ``chunks``, leave every other file's chunks untouched.

        The collection is laid out partitioned by ``filename`` and the
        write uses dynamic partition overwrite — only partitions that
        appear in ``chunks`` are replaced, no delete+rewrite of the
        whole collection (the reference's only refresh story is
        drop-and-recreate, src/PDFToChromaIngester.py:29-33).  At
        100 TB partition by (ingest_date, filename-bucket) instead of
        raw filename to bound partition count.

        Refuses a collection with a recorded flat-file layout: dynamic
        partition overwrite would drop ``filename=...`` dirs NEXT TO
        the existing range/zorder files (static root files are not
        cleared), leaving a mixed directory no reader handles and a
        sidecar describing files that stop being authoritative.
        """
        lay = self.layout()
        if lay:
            raise ValueError(
                f"upsert_files needs a filename-partitioned collection; "
                f"this one records layout {lay!r} — re-overwrite without "
                "a layout first (file-granular refresh and a global sort "
                "order are different layout modes)"
            )
        spark = chunks.sparkSession
        prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        try:
            chunks.write.mode("overwrite").partitionBy("filename").parquet(self.path)
        finally:
            spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)

    def save_bucketed(
        self,
        chunks: DataFrame,
        table: str,
        n_buckets: int = 64,
        bucket_col: str = "chunk_uid",
    ) -> None:
        """Bucketed managed-table sink: co-locates the collection on
        ``bucket_col`` so every downstream equi-join/agg on that key
        (chunk↔embedding enrich, dedup carry-forward, incremental
        upsert) runs shuffle-free on the collection side.  At 100 TB
        pick n_buckets ~ total size / target task input (e.g. 4096)."""
        (
            chunks.write.mode("overwrite")
            .format("parquet")
            .bucketBy(n_buckets, bucket_col)
            .sortBy(bucket_col)
            .saveAsTable(table)
        )

    def compact(self, target_file_bytes: int = 128 * 1024 * 1024) -> int:
        """Rewrite the collection into ~target-sized files and return
        the new file count.

        Streaming ingest appends one small file per micro-batch per
        partition; at 100 TB that death-by-small-files tax hits every
        subsequent scan (task-per-file scheduling, footer reads, no
        row-group locality).  Compaction sizes the rewrite from the
        ACTUAL on-disk bytes of the collection's data files (not row
        counts; index and sidecar bytes excluded), writes to a temp
        directory ``__compact_*`` first, then promotes it with the
        rename-only :meth:`_swap`.  A crash at any step leaves a full
        copy of the data on disk, never a partial mix; run compaction
        out-of-band (like an LSM/iceberg rewrite-data-files
        maintenance job), not concurrently with readers.

        The collection's ANN indexes (``_ann_*``) survive: their rows
        key on ``chunk_uid``, which the rewrite keeps, so they are
        renamed into the tmp directory just before the swap (a crash
        after that carry leaves the index complete under the tmp dir
        and ``search_ann`` refusing loudly).  The streaming sink's
        ``_spark_metadata`` log is NOT carried: dropping it is the
        migration to a plain directory.  Hive partition columns
        (``partition_by`` / :meth:`upsert_files` collections) are kept
        as partition directories, and the returned count includes the
        files inside them.

        Layout-aware: a recorded ``range:<col>`` layout is re-applied
        as a GLOBAL range sort across the new files — compaction is
        exactly the moment the per-batch disjoint ranges that
        :meth:`append` leaves behind fold back into one corpus-wide
        order (the "compact() story" the append docstring promises) —
        and a ``zorder:`` layout is re-interleaved the same way; the
        sidecar is written INTO THE TMP DIRECTORY before the swap (the
        parquet read that feeds the rewrite skips underscore dirs, so
        the record would otherwise vanish with the old directory, and
        recording it only after the promote would let a crash between
        the rename and the record silently drop the layout — pruning
        and append re-layout would then degrade without any signal).
        """
        import math
        import uuid

        root = self.path.rstrip("/")
        n_files = max(
            1, math.ceil(self._data_files(root)[1] / target_file_bytes)
        )
        token = uuid.uuid4().hex[:8]
        tmp = root + f"__compact_{token}"
        lay = self.layout()
        parts = self._partition_cols()
        # partition values are rewritten verbatim: with type inference a
        # "filename=001" dir would come back as "filename=1"
        infer = "spark.sql.sources.partitionColumnTypeInference.enabled"
        prev = self.spark.conf.get(infer, "true")
        self.spark.conf.set(infer, "false")
        try:
            live = self.spark.read.parquet(self.path)
        finally:
            self.spark.conf.set(infer, prev)
        kind, _, spec = (lay or "").partition(":")
        if kind == "range" and spec:
            (
                live.repartitionByRange(n_files, spec)
                .sortWithinPartitions(spec)
                .write.mode("overwrite")
                .parquet(tmp)
            )
        elif kind == "zorder" and spec:
            from vector_db_ingestor_spark.operators.layout import zorder_write

            zorder_write(live, tmp, spec.split(","), n_files=n_files)
        else:
            # hash on the partition columns: each partition value lands
            # in one task, so partitionBy writes ~one file per value
            (
                live.repartition(n_files, *parts)
                .write.mode("overwrite")
                .partitionBy(*parts)
                .parquet(tmp)
            )
        if lay:
            # promoted directory must already carry its layout record:
            # a crash after the swap can no longer drop it
            self._record_layout(lay, path=tmp)
        hpath, fs = self._fs()
        for st in fs.listStatus(hpath(root)):
            name = st.getPath().getName()
            if name.startswith("_ann_") and not fs.rename(
                st.getPath(), hpath(tmp + "/" + name)
            ):
                raise IOError(f"compact: could not carry {name} into {tmp}")
        self._swap(root, tmp, token, "compact")
        return self._data_files(root)[0]

    # ------------------------------------------------------------- scan
    def df(self) -> DataFrame:
        return self.spark.read.parquet(self.path)

    def count(self) -> int:
        return self.df().count()

    def stats(self) -> DataFrame:
        """get_collection_stats (src/PDFToChromaIngester.py:237-247)."""
        return self.df().agg(
            F.count("*").alias("total_chunks"),
            F.countDistinct("filename").alias("n_files"),
            F.avg(F.length("text")).alias("avg_chunk_chars"),
        )

    # ------------------------------------------------------------ query
    def fetch_rows(self, ids: list, key: str = "chunk_uid") -> DataFrame:
        """Point lookup by id — full rows for a driver-held id list
        (shortlist/citation scale, capped like
        operators/similarity.fetch_vectors).  Under a recorded
        ``range:<key>`` layout the list becomes one ``In`` predicate
        pushed into the scan (file-skipping on the disjoint footer
        ranges); on a plain collection it is a pushed filter that still
        prunes row groups where footer stats allow.  This is the
        user-facing half of the :meth:`search_ann` hit fetch."""
        ids = list(ids)
        if len(ids) > 100_000:
            raise ValueError(
                f"fetch_rows got {len(ids)} ids: point lookups are "
                "driver-model scale; join the tables instead"
            )
        return self.df().filter(F.col(key).isin(ids))

    def _fetch_hits(
        self,
        ranked: DataFrame,
        key: str = "chunk_uid",
        max_ids: int = 100_000,
    ) -> DataFrame:
        """Join k ranked hit rows back to the collection for the full
        text/metadata rows.  With a recorded ``range:<key>`` layout the
        hit ids become ONE ``In`` predicate pushed into the collection
        scan — file-skipping on the disjoint footer ranges — instead of
        a broadcast join that still reads every row-group (the linear
        fetch VERDICT r11 #2 flagged).  The hit rows are k-scale
        driver-held state (the centroid rule), collected ONCE and
        re-emitted locally so the shortlist plan doesn't run twice.
        Capped at the same 100k ids as :meth:`fetch_rows` /
        ``operators.similarity.fetch_vectors`` (VERDICT r12): every
        driver-side id collection states its scale contract — a caller
        routing a non-shortlist DataFrame through here gets a loud
        error, not a driver OOM."""
        if self.layout() == f"range:{key}":
            # cap INSIDE the collect (limit pushes into the shortlist
            # plan), so an oversized input raises without the driver
            # ever materializing more than max_ids+1 rows (ADVICE r13:
            # a post-collect check still OOMs during the collect)
            rows = ranked.limit(max_ids + 1).collect()
            if len(rows) > max_ids:
                raise ValueError(
                    f"_fetch_hits got more than {max_ids} ranked rows: "
                    "hit fetches are shortlist (driver-model) scale; "
                    "join the tables instead"
                )
            local = self.spark.createDataFrame(rows, ranked.schema)
            ids = [r[key] for r in rows]
            return (
                self.df()
                .filter(F.col(key).isin(ids))
                .join(F.broadcast(local), key)
            )
        return self.df().join(F.broadcast(ranked), key)

    def _metadata_predicate(self, filter_metadata: dict[str, str] | None):
        predicate = None
        if filter_metadata:
            for k, v in filter_metadata.items():
                cond = F.col("metadata")[k] == str(v)
                predicate = cond if predicate is None else (predicate & cond)
        return predicate

    def search(
        self,
        query: str | list[str],
        n_results: int = 5,
        filter_metadata: dict[str, str] | None = None,
    ) -> DataFrame:
        """search_documents / search_for_rag
        (src/PDFToChromaIngester.py:225-235,250-287): embed the query
        (``query:`` prefix, src/PDFToChromaIngestorBgeEmbedding.py:195),
        optional metadata pre-filter, exact top-k cosine.

        Chroma's ``query_texts`` is a list; passing a list here routes
        through :meth:`search_batch` and returns per-query ranked hits
        with ``query_idx``/``query_text`` columns.
        """
        if isinstance(query, (list, tuple)):
            return self.search_batch(list(query), n_results, filter_metadata)
        if not query or not query.strip():
            # R15 input validation (src/RagWorkflow.py:30-32)
            raise ValueError("query must be a non-empty string")
        probe = self.embedder.embed_one(query, prefix="query")
        return topk_cosine(
            self.df(),
            probe,
            k=n_results,
            predicate=self._metadata_predicate(filter_metadata),
            id_col="chunk_uid",
            vec_col="embedding",
        )

    def search_batch(
        self,
        queries: list[str],
        n_results: int = 5,
        filter_metadata: dict[str, str] | None = None,
    ) -> DataFrame:
        """Multi-query search (Chroma ``query_texts`` list parity,
        ``src/PDFToChromaIngester.py:228-231``): all queries answered by
        ONE scan of the collection via a broadcast probe set
        (:func:`~vector_db_ingestor_spark.operators.topk.
        topk_cosine_batch`)."""
        from vector_db_ingestor_spark.operators.topk import topk_cosine_batch

        if not queries:
            raise ValueError("queries must be a non-empty list")
        for q in queries:
            if not q or not q.strip():
                raise ValueError("every query must be a non-empty string")
        probes = self.spark.createDataFrame(
            [
                (i, q, self.embedder.embed_one(q, prefix="query"))
                for i, q in enumerate(queries)
            ],
            "query_idx INT, query_text STRING, query_vec ARRAY<DOUBLE>",
        )
        return topk_cosine_batch(
            self.df(),
            probes,
            k=n_results,
            predicate=self._metadata_predicate(filter_metadata),
            id_col="chunk_uid",
            vec_col="embedding",
        )

    # -------------------------------------------------------- ANN index
    def _ann_path(self, kind: str) -> str:
        # leading underscore: Spark's parquet reader skips the directory
        # when scanning the collection itself (the _centroids trick)
        return self.path + f"/_ann_{kind}"

    def _ann_vectors_path(self, kind: str) -> str:
        # refine companion INSIDE the index dir (underscore: the codes
        # scan skips it) — rebuilt with the index, dropped with it
        return self._ann_path(kind) + "/_vectors"

    def _ann_vectors_complete(self, kind: str) -> bool:
        hpath, fs = self._fs()
        return bool(fs.exists(hpath(self._ann_vectors_path(kind) + "/_SUCCESS")))

    def _ann_index(self, kind: str, op: str) -> str:
        """Path of the complete ``kind`` index, else a ValueError naming
        ``op`` — the one completeness gate of every ANN call (every
        build writes ``_INDEX_SUCCESS`` last)."""
        from vector_db_ingestor_spark.operators.similarity import (
            ivf_index_complete,
        )

        path = self._ann_path(kind)
        if not ivf_index_complete(self.spark, path):
            raise ValueError(
                f"no complete {kind} index at {path}; run "
                f"build_ann_index(kind={kind!r}) before {op}"
            )
        return path

    def _ann_refine_vectors(self) -> str:
        """Path of the complete ivfpq refine companion, else a
        ValueError with the rebuild hint."""
        if not self._ann_vectors_complete("ivfpq"):
            raise ValueError(
                f"no refine companion at {self._ann_vectors_path('ivfpq')} "
                "(index predates the refine contract or its write "
                "failed); rebuild with build_ann_index(kind='ivfpq')"
            )
        return self._ann_vectors_path("ivfpq")

    def build_ann_index(
        self,
        kind: str = "ivf",
        n_centroids: int = 16,
        iters: int = 2,
        m: int = 4,
        ksub: int = 16,
    ) -> None:
        """Build a persisted ANN index INSIDE the collection directory
        (the reference gets this implicitly from Chroma's HNSW,
        ``src/PDFToChromaIngester.py:189-193``; here it is an explicit
        build step, which is the honest shape for a batch engine).

        ``kind="ivf"`` persists a cid-partitioned copy of the
        collection (raw vectors, exact re-scoring inside probed cells);
        ``kind="ivfpq"`` trains residual codebooks and persists codes
        only (~m bytes/row at query time) PLUS a range-laid-out
        raw-vector companion (``_vectors`` inside the index dir,
        ``operators.similarity.vectors_write``) so
        ``search_ann(refine=True)`` gets the file-skipping exact
        re-rank BY DEFAULT — no separate layout opt-in (VERDICT r12
        #2).  Underscore-prefixed index directories are invisible to
        the collection scan, so exact search and ``df()`` are
        unaffected.

        Always builds into a tmp directory (``_ann_<kind>__rebuild_*``)
        and promotes it with the rename-only :meth:`_swap`: a first
        build is a single rename, and a build over a LIVE index keeps
        the old one serving until the renames — a crash at any step
        leaves one complete index on disk."""
        import uuid

        from vector_db_ingestor_spark.operators.similarity import (
            ivf_write,
            ivfpq_train_write,
            vectors_write,
        )

        path = self._ann_path(kind)
        token = uuid.uuid4().hex[:8]
        tmp = path + f"__rebuild_{token}"
        if kind == "ivf":
            ivf_write(
                self.df(), tmp, dim=self.embedder.dim,
                n_centroids=n_centroids, iters=iters,
                id_col="chunk_uid", vec_col="embedding",
            )
        elif kind == "ivfpq":
            ivfpq_train_write(
                self.df(), tmp, dim=self.embedder.dim,
                n_centroids=n_centroids, m=m, ksub=ksub, iters=iters,
                id_col="chunk_uid", vec_col="embedding",
            )
            # AFTER the codes overwrite (which clears the index dir);
            # parquet's own _SUCCESS marker gates the refine path, so
            # a missing companion degrades to a loud "rebuild" error,
            # never a partial fetch
            vectors_write(
                self.df().select("chunk_uid", "embedding"),
                tmp + "/_vectors",
                id_col="chunk_uid",
            )
        else:
            raise ValueError(f"unknown ANN index kind: {kind!r}")
        self._swap(path, tmp, token, "build_ann_index")

    def ann_rebuild(
        self,
        kind: str = "ivf",
        n_centroids: int | None = None,
        iters: int = 2,
        m: int | None = None,
        ksub: int | None = None,
    ) -> dict:
        """Retrain a LIVE index without serving downtime (round 15 —
        the rebuild half of the maintenance loop, pairing
        :meth:`ann_maintenance_report`'s ``rebuild_recommended`` with
        an action the way ``compact_recommended`` pairs with
        :meth:`ann_compact`): train a FRESH model over the CURRENT
        collection through :meth:`build_ann_index`, which builds into a
        tmp directory and promotes it with the rename-only swap — the
        old index serves until two directory renames, and a crash at
        ANY step leaves one complete index on disk.  Unlike
        :meth:`build_ann_index`, it refuses a never-built index.

        Hyperparameters default to the LIVE index's own shape, read
        from its sidecars (``n_centroids`` = centroid count, ``m`` /
        ``ksub`` = codebook layout) — a drift rebuild must not
        silently collapse a 64-cell / m=8 deployment to library
        defaults.  Pass explicit values only to deliberately resize
        the model (``iters`` is the one knob the artifacts don't
        record).

        Returns the post-rebuild :meth:`ann_maintenance_report`, so a
        maintenance driver can assert the skew actually reset."""
        from vector_db_ingestor_spark.operators.similarity import (
            ivf_read,
            ivfpq_read,
        )

        path = self._ann_index(kind, "ann_rebuild")
        if kind == "ivfpq":
            _, cents, cbs = ivfpq_read(self.spark, path)
            m, ksub = m or len(cbs), ksub or len(cbs[0])
        else:
            _, cents = ivf_read(self.spark, path)
        self.build_ann_index(
            kind, n_centroids or len(cents), iters, m or 4, ksub or 16
        )
        return self.ann_maintenance_report(kind)

    def ann_recommend_refine(
        self,
        target_recall: float = 0.95,
        n_queries: int = 8,
        k: int = 10,
    ) -> dict:
        """The :meth:`ann_recommend_nprobe` sibling for the ivfpq
        REFINE ladder (round 15): measure recall@``k`` of refined
        serving at every (nprobe doubling) x (k2 in {k, 2k, 4k})
        against the EXACT ranking over the indexed vectors (the
        ``_vectors`` refine companion — same rows the ladder re-ranks
        from), and return the cheapest config meeting
        ``target_recall`` (probing cost dominates, so nprobe-major
        order).

        Unlike the full-row ivf curve — exactly 1.0 at all cells by
        construction — the refine ladder's ceiling is QUANTIZATION
        bound: an exact-top-k id the ADC sketch ranks below ``k2``
        never reaches the re-rank, at any probe depth.  That makes
        this report the tuning-time rebuild signal the drift report
        can't give: ``met=False`` at the maximal config means no
        serving knob reaches the target and the codebooks themselves
        need more resolution (``build_ann_index(m=..., ksub=...)``).

        Probes are the first ``n_queries`` indexed vectors by id
        (deterministic self-retrieval, the zero-label tuning proxy).
        Cost: one exact scan of the companion per probe plus
        ``n_queries * depths * 3`` pruned k2-row ladders — tuning
        time, never the serving path.  Returns ``{"nprobe", "k2",
        "met", "grid": {(nprobe, k2): mean recall}, ...}``."""
        from vector_db_ingestor_spark.operators.similarity import (
            fetch_vectors,
            ivfpq_read,
            ivfpq_topk_indexed,
        )
        from vector_db_ingestor_spark.operators.topk import topk_cosine

        path = self._ann_index("ivfpq", "ann_recommend_refine")
        vecs_path = self._ann_refine_vectors()
        # read the codes table + model sidecars ONCE and drive the
        # ladder's stages directly — the packaged
        # ivfpq_topk_refined_indexed would re-collect both sidecars
        # for every one of the n_queries * depths * 3 grid cells
        codes, cents, cbs = ivfpq_read(self.spark, path)
        vectors = self.spark.read.parquet(vecs_path)
        probes = self._ann_probe_vectors(vectors, n_queries, "ann_recommend_refine")
        depths = self._doubling_depths(len(cents))
        k2s = [k, 2 * k, 4 * k]
        # per-cell recall lists, averaged ONCE at the end: an
        # incremental `+= rec/len(probes)` float accumulation can read
        # 0.999... for a true 1.0 (e.g. 6 probes) and spuriously fail
        # target_recall=1.0 — which this report defines as the
        # rebuild-codebooks signal
        recs: dict[tuple[int, int], list[float]] = {
            (nprobe, k2): [] for nprobe in depths for k2 in k2s
        }
        for probe in probes:
            exact = {
                r.chunk_uid
                for r in topk_cosine(
                    vectors, probe, k=k,
                    id_col="chunk_uid", vec_col="embedding",
                ).collect()
            }
            for nprobe in depths:
                for k2 in k2s:
                    short = ivfpq_topk_indexed(
                        codes, cents, cbs, probe, k=k2, nprobe=nprobe,
                        id_col="chunk_uid",
                    )
                    ids = [r[0] for r in short.select("chunk_uid").collect()]
                    got = {
                        r.chunk_uid
                        for r in topk_cosine(
                            fetch_vectors(
                                self.spark, vecs_path, ids,
                                id_col="chunk_uid",
                            ),
                            probe, k=k,
                            id_col="chunk_uid", vec_col="embedding",
                        ).collect()
                    }
                    recs[(nprobe, k2)].append(
                        len(got & exact) / max(1, len(exact))
                    )
        grid = {cell: sum(v) / len(v) for cell, v in recs.items()}
        chosen = next(
            (
                (nprobe, k2)
                for nprobe in depths
                for k2 in k2s
                if grid[(nprobe, k2)] >= target_recall
            ),
            (depths[-1], k2s[-1]),
        )
        return {
            "nprobe": chosen[0],
            "k2": chosen[1],
            "met": grid[chosen] >= target_recall,
            "grid": grid,
            "target_recall": target_recall,
            "n_queries": len(probes),
            "k": k,
        }

    def _ann_probe_vectors(
        self, df, n_queries: int, op: str
    ) -> list[list[float]]:
        """The tuners' shared deterministic probe set: the first
        ``n_queries`` indexed vectors by id (zero-label self-retrieval
        proxy).  ``df`` carries (chunk_uid, embedding)."""
        probes = [
            list(r.embedding)
            for r in df.select("chunk_uid", "embedding")
            .orderBy("chunk_uid")
            .limit(n_queries)
            .collect()
        ]
        if not probes:
            raise ValueError(f"{op}: empty index")
        return probes

    @staticmethod
    def _doubling_depths(n_cells: int) -> list[int]:
        """1, 2, 4, ... capped-and-terminated at all cells — the probe
        schedule both recall tuners share."""
        depths: list[int] = []
        d = 1
        while d < n_cells:
            depths.append(d)
            d *= 2
        depths.append(n_cells)
        return depths

    def ann_maintain(
        self,
        kind: str = "ivf",
        target_file_bytes: int = 128 * 1024 * 1024,
        iters: int = 2,
    ) -> dict:
        """One-call hands-off maintenance for a BATCH deployment (the
        streaming path has its cadence via ``stream_ingest_absorb(...,
        compact_every_n_batches=N)``): read
        :meth:`ann_maintenance_report` and run whichever action it
        recommends — :meth:`ann_rebuild` on drift (which also rewrites
        every file, so a same-pass compact would be redundant), else
        :meth:`ann_compact` on fragmentation, else nothing.

        Rebuild hyperparameters are INFERRED from the live index's own
        sidecars (``n_centroids`` = centroid count, ``m``/``ksub`` =
        codebook shape), so the call needs no configuration beyond the
        compaction target — the shape a cron-style maintenance driver
        wants.  ``iters`` is the one knob the artifacts don't record.

        Returns ``{"actions": [...], "before": report, "after":
        report}`` (``after`` is ``before`` when nothing ran).  An
        index that was never built reports ``complete: False`` with no
        actions, mirroring the report's own contract."""
        before = self.ann_maintenance_report(kind, target_file_bytes)
        if not before.get("complete"):
            return {"actions": [], "before": before, "after": before}
        actions: list[str] = []
        if before["rebuild_recommended"]:
            # ann_rebuild infers n_centroids/m/ksub from the live
            # sidecars itself
            self.ann_rebuild(kind, iters=iters)
            actions.append("rebuild")
        elif before["compact_recommended"]:
            self.ann_compact(kind, target_file_bytes)
            actions.append("compact")
        after = (
            self.ann_maintenance_report(kind, target_file_bytes)
            if actions
            else before
        )
        return {"actions": actions, "before": before, "after": after}

    def _novel_rows(
        self,
        batch: DataFrame,
        artifact_path: str,
        id_col: str = "chunk_uid",
        max_ids: int = 100_000,
    ) -> DataFrame | None:
        """Rows of ``batch`` whose ``id_col`` is NOT yet in the parquet
        artifact at ``artifact_path`` — the per-artifact idempotence
        filter for :meth:`ann_absorb`.  Membership is resolved on the
        driver at shortlist scale (the fetch_rows/_fetch_hits 100k
        cap): ONE ``In``-pushed scan of the artifact's id column (no
        shuffle, no join — the batch side never broadcasts against the
        full artifact), then a plain list difference.  Returns ``None``
        when nothing is novel so callers skip the append entirely
        (an empty append still writes empty files).

        The batch itself is also deduplicated on ``id_col`` (round-15
        ADVICE): the stream path pre-dedups, but a direct caller
        passing duplicate ROWS for one id would otherwise append them
        all verbatim — one ``dropDuplicates`` at micro-batch scale
        keeps the "replay after ANY crash point converges" claim true
        for arbitrary callers, not just pre-deduped batches."""
        batch = batch.dropDuplicates([id_col])
        rows = batch.select(id_col).distinct().limit(max_ids + 1).collect()
        if len(rows) > max_ids:
            raise ValueError(
                f"ann_absorb got more than {max_ids} distinct ids: "
                "absorbs are micro-batch scale; rebuild the index for "
                "bulk loads (build_ann_index)"
            )
        ids = [r[0] for r in rows]
        if not ids:
            return None
        present = {
            r[0]
            for r in self.spark.read.parquet(artifact_path)
            .filter(F.col(id_col).isin(ids))
            .select(id_col)
            .collect()
        }
        novel = [i for i in ids if i not in present]
        if not novel:
            return None
        if len(novel) == len(ids):
            return batch
        return batch.filter(F.col(id_col).isin(novel))

    def ann_absorb(self, new_chunks: DataFrame, kind: str = "ivf") -> None:
        """Absorb an appended batch into a prebuilt index WITHOUT
        retraining — the collection-level twin of Chroma's implicit
        ``collection.add`` → HNSW update
        (``src/PDFToChromaIngester.py:189-193``); until now only the
        operator layer (``ivf_append``/``ivfpq_append``) had it, so a
        collection append silently left ``search_ann`` blind to the
        new rows until a full rebuild.

        Flow: ``coll.append(batch)`` writes the collection, then
        ``coll.ann_absorb(batch, kind)`` updates the index artifacts —
        assign-only against the FROZEN model into existing ``cid=``
        partitions, and (ivfpq) a range-laid-out ``vectors_append``
        into the refine companion so ``search_ann(refine=True)`` keeps
        fetching every hit.  A companion-less index (predating the
        refine contract) absorbs codes only — the refine path already
        fails loudly on it.  The model standing still while data moves
        is the no-retrain trade: watch :meth:`ann_drift_report` and
        rebuild via :meth:`build_ann_index` when skew crosses ~4.

        IDEMPOTENT per artifact (ADVICE r13): each artifact append
        first drops ids that artifact already holds
        (:meth:`_novel_rows` — one In-pushed id-column scan, driver
        list difference at the 100k shortlist cap), so replaying a
        batch after ANY crash point converges instead of duplicating
        rows or silently skipping them.  Duplicate ROWS within the
        batch are likewise dropped per id (round-15 ADVICE) — they
        must be exact copies (the at-least-once redelivery shape);
        two DIFFERENT rows claiming one id is a caller error with no
        defined winner, same as replaying an id with new content
        (absorbed content is immutable — rebuild to change it).  For
        ivfpq the refine
        companion is appended BEFORE the codes: companion rows
        without codes are never shortlisted (harmless), while codes
        without companion rows would silently vanish from the exact
        re-rank.

        ``new_chunks`` must not be a lazy plan derived from this
        collection's own files: :meth:`append` mutates the collection,
        so such a plan re-evaluated here would see its own appended
        rows (snapshot first — ``localCheckpoint(eager=True)`` — as
        ``stream_ingest_absorb`` does)."""
        from vector_db_ingestor_spark.operators.similarity import (
            ivf_append,
            ivfpq_append,
            vectors_append,
        )

        path = self._ann_index(kind, "ann_absorb")
        if kind == "ivf":
            novel = self._novel_rows(new_chunks, path)
            if novel is not None:
                ivf_append(novel, path, vec_col="embedding")
        elif kind == "ivfpq":
            if self._ann_vectors_complete(kind):
                # companion FIRST (see docstring) — and align to its
                # exact on-disk types: a wider-typed append
                # (array<double> into array<float>) writes fine but
                # breaks every later read (the ivf_append footgun)
                vpath = self._ann_vectors_path(kind)
                novel_v = self._novel_rows(new_chunks, vpath)
                if novel_v is not None:
                    comp = self.spark.read.parquet(vpath).schema
                    vectors_append(
                        novel_v.select(
                            *[
                                F.col(f.name).cast(f.dataType)
                                for f in comp.fields
                            ]
                        ),
                        vpath, id_col="chunk_uid",
                    )
            novel_c = self._novel_rows(new_chunks, path)
            if novel_c is not None:
                ivfpq_append(
                    novel_c.select("chunk_uid", "embedding"), path,
                    id_col="chunk_uid", vec_col="embedding",
                )
        else:
            raise ValueError(f"unknown ANN index kind: {kind!r}")

    def ann_compact(
        self, kind: str = "ivf", target_file_bytes: int = 128 * 1024 * 1024
    ) -> int:
        """Rewrite a prebuilt ANN index into ~target-sized files and
        return the new data-file count — the index-side twin of
        :meth:`compact` (round 14).

        Every :meth:`ann_absorb` / :func:`stream_ingest_absorb`
        micro-batch appends one small file per touched ``cid``
        partition (codes/rows) plus a range-sorted slice into the
        refine companion; at streaming cadence that is the same
        death-by-small-files tax the collection compactor exists for,
        multiplied by nprobe-pruned scans that pay a task per file.
        The rewrite:

        * codes/rows — ONE ``repartitionByRange(n, cid, chunk_uid)``
          (cids stay contiguous across tasks, so ``partitionBy("cid")``
          emits ~one file per task, sized from the ACTUAL on-disk
          bytes) + within-file sort on the id, so footer stats prune
          id lookups inside probed cells too;
        * the ivfpq refine companion — a fresh
          :func:`~vector_db_ingestor_spark.operators.similarity.
          vectors_write`, folding the per-batch disjoint id ranges
          that ``vectors_append`` leaves behind back into ONE global
          range order (the compaction story its docstring promises);
        * model sidecars — rewritten into the tmp dir (the live index
          is untouched until the swap), ``_INDEX_SUCCESS`` written
          LAST so a half-built tmp can never read as complete.

        Promotion is the rename-only :meth:`_swap` every rewrite
        shares: a crash at any step leaves one full copy on disk — run
        out-of-band, not under readers."""
        import math
        import uuid

        from vector_db_ingestor_spark.operators.similarity import vectors_write

        path = self._ann_index(kind, "ann_compact")
        hpath, fs = self._fs()
        n_files = max(
            1, math.ceil(self._data_files(path)[1] / target_file_bytes)
        )
        token = uuid.uuid4().hex[:8]
        tmp = path + f"__compact_{token}"

        (
            self.spark.read.parquet(path)
            .repartitionByRange(n_files, "cid", "chunk_uid")
            .sortWithinPartitions("cid", "chunk_uid")
            .write.mode("overwrite")
            .partitionBy("cid")
            .parquet(tmp)
        )
        for side in ("_centroids", "_codebooks"):
            src = path + "/" + side
            if fs.exists(hpath(src)):
                (
                    self.spark.read.parquet(src)
                    .coalesce(1)
                    .write.mode("overwrite")
                    .parquet(tmp + "/" + side)
                )
        if kind == "ivfpq" and self._ann_vectors_complete(kind):
            vectors_write(
                self.spark.read.parquet(self._ann_vectors_path(kind)),
                tmp + "/_vectors",
                id_col="chunk_uid",
            )
        fs.create(hpath(tmp + "/_INDEX_SUCCESS"), True).close()
        self._swap(path, tmp, token, "ann_compact")
        return self._data_files(path)[0]

    def ann_maintenance_report(
        self, kind: str = "ivf",
        target_file_bytes: int = 128 * 1024 * 1024,
    ) -> dict:
        """One driver-side dict with every signal the two maintenance
        actions key on (round 14): ``rebuild`` when drift skew crosses
        ~4 (:meth:`build_ann_index` — the frozen model no longer fits
        the data) and ``compact`` when absorb-accumulated files push
        the per-file average under ~1/4 of the target
        (:meth:`ann_compact` — the scan pays a task per file).  Cheap
        at any scale: the drift report reads only the cid partition
        column; the file stats are a namenode listing.

        ``target_file_bytes`` (round-15 ADVICE) must match the value a
        deployment passes to :meth:`ann_compact`, so the
        ``compact_recommended`` threshold keys to the file size the
        compaction will actually produce; it defaults to
        ``ann_compact``'s default."""
        try:
            path = self._ann_index(kind, "ann_maintenance_report")
        except ValueError:
            return {"kind": kind, "complete": False}
        drift = self.ann_drift_report(kind).agg(
            F.max("skew").alias("max_skew"), F.sum("n").alias("n_rows")
        ).first()
        n_files, data_bytes = self._data_files(path)
        target = target_file_bytes
        return {
            "kind": kind,
            "complete": True,
            "n_rows": int(drift["n_rows"]),
            "max_skew": float(drift["max_skew"]),
            "rebuild_recommended": float(drift["max_skew"]) > 4.0,
            "n_data_files": n_files,
            "data_bytes": int(data_bytes),
            "target_file_bytes": int(target),
            "avg_file_bytes": int(data_bytes / n_files) if n_files else 0,
            "compact_recommended": bool(
                n_files and data_bytes / n_files < target / 4 and n_files > 8
            ),
            "refine_companion": (
                self._ann_vectors_complete(kind) if kind == "ivfpq" else None
            ),
        }

    def ann_drift_report(self, kind: str = "ivf") -> DataFrame:
        """Occupancy report for a prebuilt index (per-cell n / share /
        skew, operators/similarity.py ivf_drift_report): the retrain
        signal for a frozen-model index absorbing appends — rule of
        thumb, rebuild via :meth:`build_ann_index` when max(skew)
        exceeds ~4.  Reads ONLY the cid partition column (no vectors,
        no codes), so the report is cheap at any collection size."""
        from vector_db_ingestor_spark.operators.similarity import (
            ivf_drift_report,
            ivf_read,
            ivfpq_read,
        )

        path = self._ann_index(kind, "ann_drift_report")
        if kind == "ivf":
            indexed, cents = ivf_read(self.spark, path)
        elif kind == "ivfpq":
            indexed, cents, _ = ivfpq_read(self.spark, path)
        else:
            raise ValueError(f"unknown ANN index kind: {kind!r}")
        return ivf_drift_report(indexed, n_centroids=len(cents))

    def ann_recommend_nprobe(
        self,
        target_recall: float = 0.95,
        n_queries: int = 8,
        k: int = 10,
        kind: str = "ivf",
    ) -> dict:
        """Turn the nprobe/recall trade into an ACTION (round 15 — the
        recall-tuning sibling of :meth:`ann_maintenance_report` →
        :meth:`ann_compact`): measure recall@``k`` of the ivf serve at
        every doubling probe depth against the all-cells-probed result
        (which IS the exact ranking over indexed rows — the escalation
        contract's pinned property), and return the SMALLEST depth
        whose mean recall over ``n_queries`` self-query probes meets
        ``target_recall``.

        Probes are the first ``n_queries`` indexed vectors by id —
        deterministic, and self-retrieval recall is the standard
        zero-label proxy for tuning a frozen index.  Cost: one pruned
        scan per (probe, depth) — ``n_queries * (log2(cells)+1)``
        k-row jobs, a tuning-time operation to run once per
        (re)build, not on the serving path.  At 100 TB every job is
        still nprobe-pruned file-skipping; nothing scans the corpus.

        Returns ``{"nprobe": chosen, "curve": {depth: mean recall},
        "target_recall": ..., "n_queries": ..., "k": ...}``; the curve
        is monotone in expectation and exactly 1.0 at all cells, so a
        target of 1.0 degrades to exhaustive probing by construction.
        """
        from vector_db_ingestor_spark.operators.similarity import (
            ivf_read,
            ivf_topk,
        )

        if kind != "ivf":
            raise ValueError(
                "ann_recommend_nprobe tunes the full-row ivf index; for "
                "ivfpq tune k2/nprobe via the refine ladder's escalation"
            )
        indexed, cents = ivf_read(
            self.spark, self._ann_index(kind, "ann_recommend_nprobe")
        )
        probes = self._ann_probe_vectors(
            indexed, n_queries, "ann_recommend_nprobe"
        )
        depths = self._doubling_depths(len(cents))
        ids: dict[tuple[int, int], set] = {}
        for qi, probe in enumerate(probes):
            for depth in depths:
                ids[(qi, depth)] = {
                    r.chunk_uid
                    for r in ivf_topk(
                        indexed, cents, probe, k=k, nprobe=depth,
                        id_col="chunk_uid", vec_col="embedding",
                    ).collect()
                }
        curve = {}
        for depth in depths:
            recs = [
                len(ids[(qi, depth)] & ids[(qi, len(cents))])
                / max(1, len(ids[(qi, len(cents))]))
                for qi in range(len(probes))
            ]
            curve[depth] = sum(recs) / len(recs)
        chosen = next(
            (d for d in depths if curve[d] >= target_recall), len(cents)
        )
        return {
            "nprobe": chosen,
            "curve": curve,
            "target_recall": target_recall,
            "n_queries": len(probes),
            "k": k,
        }

    def _refined_filtered_topk(
        self,
        path: str,
        vecs: str,
        probe: list[float],
        n_results: int,
        k2: int,
        nprobe: int,
        n_cells: int,
        meta_pred,
        escalate: bool,
    ) -> DataFrame:
        """Filtered IVF-PQ serving through the refine ladder (round
        14): ADC shortlists ``k2`` candidates (codes carry no
        metadata, so the shortlist is unfiltered), the exact re-rank
        pool is fetched as FULL collection rows (:meth:`_fetch_hits` —
        In-pushdown under a range layout), the metadata predicate
        applies there, and the top ``n_results`` survivors by exact
        cosine win.  Underfill escalation doubles BOTH ``nprobe`` and
        ``k2`` (a selective filter needs a deeper candidate pool, not
        just wider probing) until filled, the pool is exhausted with
        every cell probed (the result is then the exact filtered
        top-k), or ``k2`` hits the 100k fetch cap (the documented
        driver-state ceiling — at that point use the ivf index or the
        exact :meth:`search`)."""
        from vector_db_ingestor_spark.operators.similarity import (
            ivfpq_topk_refined_indexed,
        )

        cur_np, cur_k2 = nprobe, k2
        while True:
            ranked = ivfpq_topk_refined_indexed(
                self.spark, path, vecs, probe,
                k=cur_k2, k2=cur_k2, nprobe=cur_np, id_col="chunk_uid",
            )
            # materialize the candidate fetch ONCE per escalation round
            # (VERDICT r14 #1): the underfill count, the exhaustion
            # check, and the final rank all read this k2-scale snapshot
            # instead of re-running the shortlist fetch + predicate
            fetched = self._fetch_hits(ranked.drop("rank")).localCheckpoint(
                eager=True
            )
            surv = fetched.filter(meta_pred)
            if not escalate or surv.count() >= n_results:
                break
            # fetched is 1:1 with the shortlist (unique ids), so its
            # count IS the candidate-pool size — no ADC re-run
            exhausted = (
                cur_np >= n_cells and fetched.count() < cur_k2
            )
            if exhausted or cur_k2 >= 100_000:
                break
            cur_np = min(n_cells, cur_np * 2)
            cur_k2 = min(100_000, cur_k2 * 2)
        w = Window.orderBy(F.col("score").desc(), F.col("chunk_uid").asc())
        return surv.withColumn("rank", F.row_number().over(w)).filter(
            F.col("rank") <= n_results
        )

    def search_ann(
        self,
        query: str | list[str],
        n_results: int = 5,
        kind: str = "ivf",
        nprobe: int = 4,
        refine: bool = False,
        k2: int | None = None,
        filter_metadata: dict[str, str] | None = None,
        escalate: bool = True,
    ) -> DataFrame:
        """Approximate search against a prebuilt index
        (:meth:`build_ann_index`): embeds the query, prunes to the
        probe's ``nprobe`` cells (partition file-skipping), scores
        inside them, and joins the top-k ids back to the collection for
        the full rows — same output shape as :meth:`search` (ranked
        hits with text/metadata) with approximate recall.

        Every call is served by the BATCHED operators — the union'd
        shortlist is scanned once for the whole batch.  A LIST of
        queries (Chroma's ``query_texts`` shape, the
        :meth:`search`/:meth:`search_batch` parity) gets a ``query_id``
        column (position in the list) with per-query ranks; a single
        string is a batch of one whose ``query_id`` is dropped.
        ``nprobe`` must be at least 1.

        ``filter_metadata`` (round 13, reference R11 at the index
        rung): for ``kind="ivf"`` the index keeps full rows, so the
        predicate applies INSIDE the probed cells before ranking
        (Chroma's filtered-HNSW shape: non-matching rows never enter
        the top-k, unlike post-filtering which silently returns
        fewer-than-k with recall no one chose).  For ``kind="ivfpq"``
        the codes index carries no metadata, so filtering needs
        ``refine=True``: the refine ladder's candidate fetch joins the
        collection's full rows, where the predicate applies before the
        exact re-rank picks the top-k (round 14 — filtered IVF-PQ
        serving without a second index).  Plain ``kind="ivfpq"``
        without refine still refuses the knob.

        ``escalate`` (round 14, the filtered-ANN recall contract —
        Chroma widens its HNSW search under filters, and silent
        under-k was the one behavioral gap vs reference R11 at the
        index rung): when a filtered search underfills (< ``n_results``
        survivors inside the probed cells / candidate shortlist), the
        search automatically doubles ``nprobe`` (and, on the refine
        ladder, ``k2``) and retries until filled, every cell is probed,
        or the candidate pool is exhausted — at which point the result
        IS the exact filtered top-k (the all-cells-probed ==
        exact-filtered property).  ``escalate=False`` restores the
        single-pass behavior: fewer-than-k rows is then the documented
        underfill signal.  Escalation rounds are log2-bounded and each
        retry is itself a pruned scan, so the scale story survives: a
        non-selective filter never escalates, a pathological one
        degrades gracefully toward the exact filtered scan it would
        otherwise silently approximate.

        ``refine=True`` (ivfpq only — ivf already re-scores raw
        vectors inside probed cells) runs the FAISS
        IndexRefineFlat-style ladder: ADC shortlists ``k2`` candidates
        (default ``max(4*n_results, 30)``), then an exact cosine
        re-rank of only those rows fetched from the index's
        range-laid-out ``_vectors`` companion — file-skipping ``In``
        pushdown, never a second collection scan.  The companion is
        written by :meth:`build_ann_index` automatically; an index
        predating it fails loudly with a rebuild hint."""
        from vector_db_ingestor_spark.operators.similarity import (
            ivf_read,
            ivf_topk_batch,
            ivfpq_read,
            ivfpq_topk_batch_indexed,
            ivfpq_topk_refined_batch_indexed,
        )

        queries = query if isinstance(query, list) else [query]
        if not queries or any(not q or not q.strip() for q in queries):
            raise ValueError("query must be (a list of) non-empty string(s)")
        if nprobe < 1:
            # escalation doubles nprobe: 0 would re-probe forever
            raise ValueError(f"nprobe must be >= 1, got {nprobe}")
        if filter_metadata and kind != "ivf" and not (
            kind == "ivfpq" and refine
        ):
            raise ValueError(
                "filter_metadata needs kind='ivf' (full-row index) or "
                "kind='ivfpq' with refine=True (the refine fetch joins "
                f"full rows); the plain {kind!r} codes index carries no "
                "metadata — or use the exact search()"
            )
        meta_pred = self._metadata_predicate(filter_metadata)
        path = self._ann_index(kind, "search_ann")
        if refine and kind != "ivfpq":
            raise ValueError(
                "refine=True applies to kind='ivfpq' (the ivf index "
                "keeps raw vectors and re-scores exactly already)"
            )
        # a single string is a batch of one; its query_id is dropped
        probes = [
            (i, self.embedder.embed_one(q, prefix="query"))
            for i, q in enumerate(queries)
        ]
        k2 = k2 or max(4 * n_results, 30)
        hits = None
        if refine and meta_pred is not None:
            # filtered refine (round 14): per-probe candidate
            # over-fetch + predicate at the collection fetch + exact
            # re-rank, with underfill escalation — served
            # query-by-query because escalation depth is per-query
            # state; the result rows are already full rows
            vecs = self._ann_refine_vectors()
            _, cents, _ = ivfpq_read(self.spark, path)
            for i, probe in probes:
                one = self._refined_filtered_topk(
                    path, vecs, probe, n_results, k2, nprobe, len(cents),
                    meta_pred, escalate,
                ).withColumn("query_id", F.lit(i))
                hits = one if hits is None else hits.unionByName(one)
        elif refine:
            ranked = ivfpq_topk_refined_batch_indexed(
                self.spark, path, self._ann_refine_vectors(), probes,
                k=n_results, k2=k2, nprobe=nprobe, id_col="chunk_uid",
            )
        elif kind == "ivf":
            indexed, cents = ivf_read(self.spark, path)
            ranked = ivf_topk_batch(
                indexed, cents, probes, k=n_results, nprobe=nprobe,
                id_col="chunk_uid", vec_col="embedding",
                predicate=meta_pred,
            )
            if meta_pred is not None and escalate:
                # per-query underfill escalation: only queries with
                # < n_results survivors re-probe at doubled nprobe (each
                # retry is one pruned scan for the whole underfilled
                # subset, log2(|cells|) rounds worst case; at
                # all-cells-probed the result IS the exact filtered
                # top-k).  ranked is materialized after every round
                # (ADVICE r14: Q*k-scale rows), so each round's count —
                # and the final fetch — reads the snapshot instead of
                # re-executing every prior topk leg (O(rounds^2) pruned
                # scans otherwise)
                ranked = ranked.localCheckpoint(eager=True)
                cur = nprobe
                while cur < len(cents):
                    counts = {
                        r[0]: r[1]
                        for r in ranked.groupBy("query_id")
                        .count()
                        .collect()
                    }
                    under = [
                        (qid, vec)
                        for qid, vec in probes
                        if counts.get(qid, 0) < n_results
                    ]
                    if not under:
                        break
                    cur = min(len(cents), cur * 2)
                    redo = ivf_topk_batch(
                        indexed, cents, under, k=n_results,
                        nprobe=cur, id_col="chunk_uid",
                        vec_col="embedding", predicate=meta_pred,
                    )
                    under_ids = [qid for qid, _ in under]
                    ranked = ranked.filter(
                        ~F.col("query_id").isin(under_ids)
                    ).unionByName(redo).localCheckpoint(eager=True)
        elif kind == "ivfpq":
            codes, cents, cbs = ivfpq_read(self.spark, path)
            ranked = ivfpq_topk_batch_indexed(
                codes, cents, cbs, probes, k=n_results, nprobe=nprobe,
                id_col="chunk_uid",
            )
        else:
            raise ValueError(f"unknown ANN index kind: {kind!r}")
        if hits is None:
            # k rows per query back onto the collection for the full
            # hit: In-pushdown file-skipping under a range layout,
            # broadcast join otherwise
            hits = self._fetch_hits(
                ranked.select("query_id", "chunk_uid", "score", "rank")
            )
        if isinstance(query, list):
            return hits.orderBy("query_id", "rank")
        return hits.drop("query_id").orderBy("rank")

    def context_for_rag(
        self,
        query: str,
        max_context_length: int = 4000,
        n_results: int = 10,
        filter_metadata: dict[str, str] | None = None,
    ) -> str:
        """get_context_for_rag (src/PDFToChromaIngester.py:289-314):
        top-10 retrieval, piece formatting, greedy char budget, join."""
        from vector_db_ingestor_spark.operators.context import assemble_context

        hits = self.search(query, n_results, filter_metadata).withColumn(
            "piece", format_piece(F.col("filename"), F.col("chunk_id"), F.col("text"))
        ).withColumn("grp", F.lit(1))
        out = assemble_context(
            hits, group_col="grp", rank_col="rank", piece_col="piece",
            budget=max_context_length,
        ).collect()
        return out[0].context if out else ""


def ingest_directory(
    spark: SparkSession,
    directory: str,
    collection_path: str,
    metadata: dict[str, str] | None = None,
    mode: str = "overwrite",
    chunk_size: int = 600,
    overlap: int = 50,
    embedder: HashingEmbedder | None = None,
    layout: str | None = None,
) -> DataFrame:
    """EP1 end-to-end (src/PDFToChromaIngester.py:207-223 + 126-205):
    scan -> extract -> chunk -> enrich -> embed -> write; returns the
    ingest report DataFrame.  ``layout`` (e.g. ``"range:chunk_uid"``)
    opts the collection into a prunable write layout — see
    :meth:`VectorCollection.overwrite`; appends re-apply a recorded
    range layout automatically."""
    files = scan_pdfs(spark, directory)
    chunks = build_chunks(files, metadata, chunk_size, overlap, embedder)
    coll = VectorCollection(spark, collection_path, embedder)
    if mode == "overwrite":
        coll.overwrite(chunks, layout=layout)
    else:
        coll.append(chunks)
    return ingest_report(files, coll.df().select("source", "filename"))


def ingest_warc(
    spark: SparkSession,
    path: str,
    collection_path: str,
    metadata: dict[str, str] | None = None,
    mode: str = "append",
    chunk_size: int = 600,
    overlap: int = 50,
    embedder: HashingEmbedder | None = None,
    glob: str = "*.warc*",
    html_to_text: bool = False,
    layout: str | None = None,
) -> DataFrame:
    """The Common Crawl front door, wired into the SAME collection the
    PDF path feeds (VERDICT r10 gap #3): WARC segments under ``path``
    -> HTTP 200 response records (sources/warc.py: binaryFile scan +
    stdlib record parser, exact Content-Length slicing) -> the
    build_chunks fused chunk->enrich->embed kernel (extract = UTF-8
    payload decode; web text needs no PDF engine) -> parquet collection
    write -> per-URL ingest report.  Rows are schema-identical to
    ``ingest_directory``'s (CHUNK_SCHEMA_COLS), so search / RAG /
    dedup / ANN indexing downstream cannot tell the sources apart:
    ``source`` is the segment file, ``filename`` is the document URL
    (the identity the report and upserts key on).

    ``html_to_text=True`` routes each payload through the stdlib HTML
    extractor (sources/html.py) inside the SAME fused kernel — crawl
    bodies are overwhelmingly HTML, and chunking markup would poison
    every downstream text signal (quality ratios, shingles, LM score).
    Leave it False for plain-text corpora.

    Scale: one task per segment (crawl shards arrive pre-sized ~1 GB),
    record parse + chunk + embed all inside one Arrow stage, and the
    collection write partitions like any other ingest — the 100 TB
    path is exactly this plan over a bucket listing.  Default mode is
    ``append``: crawls arrive in batches and land next to existing
    sources (use ``overwrite`` to rebuild).
    """
    from vector_db_ingestor_spark.sources.warc import scan_warc

    recs = scan_warc(spark, path, glob)
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
        files,
        metadata,
        chunk_size,
        overlap,
        embedder,
        extract=_extract,
    )
    coll = VectorCollection(spark, collection_path, embedder)
    if mode == "overwrite":
        coll.overwrite(chunks, layout=layout)
    else:
        coll.append(chunks)
    return ingest_report(
        files, coll.df().select("filename"), key_col="filename"
    )


def list_collections(spark: SparkSession, database: str | None = None):
    """R16 catalog op (client.list_collections, src/RagWorkflow.py:26):
    collections are tables/views in the Spark catalog."""
    return spark.catalog.listTables(database) if database else spark.catalog.listTables()
