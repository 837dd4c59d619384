"""Similarity search over embedding columns (north star).

The reference's search path is ChromaDB HNSW (approximate,
single-node, ``src/PDFToChromaIngester.py:228-231``).  Spark has no
HNSW; the scalable equivalents are:

* **Brute-force exact top-k** (:func:`brute_force_topk`) — score every
  row with a JVM-side cosine expression, ``TakeOrderedAndProject``
  keeps k per partition.  Linear scan, but embarrassingly parallel and
  exact; right answer up to ~10^8 vectors per probe batch.
* **Random-hyperplane LSH buckets** (:func:`rp_lsh_bucket`,
  :func:`lsh_topk`) — sign of dot(v, h_i) for ``n_bits`` fixed
  hyperplanes gives a bucket id; probes only score rows in their own
  bucket (optionally multi-probe neighboring buckets).  Deterministic
  (hyperplanes from a closed-form formula), no model fitting, and the
  bucket join is a plain hash join — the 100 TB path.
* **IVF (inverted file)** (:func:`ivf_write`, :func:`ivf_topk`) —
  k-means-style centroids (a few fixed Lloyd iterations, deterministic
  seeded init from content hashes), vectors assigned to nearest
  centroid; probes search the ``nprobe`` nearest centroid lists.
* **IVF-PQ** (:func:`ivfpq_write`, :func:`ivfpq_topk_indexed`) — the
  IVF routing plus product-quantized residual codes, scored by ADC
  table lookups.  One residual encoder (:func:`_ivfpq_encode`) feeds
  every build, append and encode-inline serve; the exact re-rank
  (refine) ladder is :func:`ivfpq_topk_refined_batch_indexed` over
  the codes index and a range-laid-out vector table.  Every index
  build ends with the one ``_INDEX_SUCCESS`` writer
  (:func:`_mark_index_complete`) that :func:`ivf_index_complete`
  checks.

Also :func:`simjoin_lsh` — approximate all-pairs similarity self-join
via spark.ml's BucketedRandomProjectionLSH (euclidean), the stock
MLlib route.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from vector_db_ingestor_spark.functions.vector import (
    cosine_similarity,
    dot_sql,
    l2_norm_sql,
)
from vector_db_ingestor_spark.functions.literals import (
    double_matrix_sql,
    doubles_sql,
    lit_double_matrix,
    lit_doubles,
)


def _hyperplane(dim: int, bit: int) -> list[float]:
    """Deterministic pseudo-random hyperplane, md5-derived components
    uniform in [-1, 1).

    Computed once at PLAN-BUILD time in Python and embedded as array
    literals (both in the Spark expression and in the DuckDB oracle), so
    the formula is free at execution and any formula change stays
    oracle-exact automatically.  md5 replaced the earlier
    ``sin(0.7*(bit+1)*(i+1)+0.31*bit)`` lattice: per-bit sign balance of
    the sin planes looked fine (~0.5 each) but the bits were JOINTLY
    correlated — at n_bits=12 over the sf0.1 embeddings only 664/4096
    buckets were occupied and within-bucket candidate pairs ran 13.7x
    the md5 planes' (9825 vs 718; near-uniform expectation ~490).  That
    joint skew is what made ``embedding_near_dups`` candidate volume
    grow superlinearly as ``auto_n_bits`` added bits with corpus size
    (SCALE_PROBE.md round 4): the marginal hyperplanes split almost
    nothing.  Independent-per-component digests have no such lattice
    structure.
    """
    import hashlib

    out = []
    for i in range(dim):
        h = hashlib.md5(f"rp:{bit}:{i}".encode()).digest()
        out.append(2.0 * (int.from_bytes(h[:8], "big") / 2.0**64) - 1.0)
    return out


def auto_n_bits(n_rows: int, target_bucket: int = 64, max_bits: int = 24) -> int:
    """Hyperplane count for a target mean bucket population.

    LSH blocking is only linear-in-corpus if bucket COUNT grows with
    the corpus: with fixed n_bits, bucket populations grow ~n/2^bits
    and the within-bucket self-join grows ~n^2/2^bits — measured 43x
    wall-time at 10x rows in scripts/scale_probe.py before this rule.
    Choosing n_bits = log2(n / target_bucket) pins expected bucket size
    and keeps candidate volume ~target_bucket * n / 2.
    """
    bits = math.ceil(math.log2(max(n_rows / max(target_bucket, 1), 2.0)))
    return max(2, min(max_bits, bits))


def rp_lsh_bucket(vec: str, dim: int, n_bits: int = 8) -> Column:
    """Random-hyperplane (SimHash-for-cosine) bucket id in [0, 2^n_bits):
    the int sum of ``sign(dot(vec, h_b)) << b`` over the hyperplanes
    :func:`_hyperplane`, with ``vec`` a column name or SQL fragment.
    One ArrayType literal per plane keeps the tree O(n_bits), not
    O(n_bits * dim)."""
    terms = ["0"]
    for b in range(n_bits):
        h = doubles_sql(_hyperplane(dim, b))
        terms.append(f"(CAST(({dot_sql(vec, h)}) > 0 AS INT) * {1 << b})")
    return F.expr(" + ".join(terms))


def brute_force_topk(
    embeddings: DataFrame,
    probes: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    probe_id_col: str = "query_id",
    probe_vec_col: str = "query_vec",
    round_dp: int = 6,
) -> DataFrame:
    """Exact batched top-k: broadcast the (small) probe set against the
    (huge) embedding table, score JVM-side, window-rank per probe."""
    scored = embeddings.crossJoin(F.broadcast(probes)).withColumn(
        "score",
        F.round(cosine_similarity(f"`{vec_col}`", f"`{probe_vec_col}`"), round_dp),
    )
    w = Window.partitionBy(probe_id_col).orderBy(
        F.col("score").desc(), F.col(id_col).asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(probe_id_col, id_col, "score", "rank")
    )


def lsh_topk(
    embeddings: DataFrame,
    probes: DataFrame,
    dim: int,
    k: int = 10,
    n_bits: int = 6,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    probe_id_col: str = "query_id",
    probe_vec_col: str = "query_vec",
    round_dp: int = 6,
) -> DataFrame:
    """Approximate top-k: candidates restricted to the probe's LSH
    bucket, then exact re-rank inside the bucket.  The bucket equi-join
    replaces the cross join — at 100 TB this is the difference between
    scanning everything per probe and scanning ~1/2^n_bits of it."""
    e = embeddings.withColumn("__bucket", rp_lsh_bucket(f"`{vec_col}`", dim, n_bits))
    p = probes.withColumn("__bucket", rp_lsh_bucket(f"`{probe_vec_col}`", dim, n_bits))
    scored = e.join(F.broadcast(p), "__bucket").withColumn(
        "score",
        F.round(cosine_similarity(f"`{vec_col}`", f"`{probe_vec_col}`"), round_dp),
    )
    w = Window.partitionBy(probe_id_col).orderBy(
        F.col("score").desc(), F.col(id_col).asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(probe_id_col, id_col, "score", "rank")
    )


# ------------------------------------------------------------------ IVF

def _assign_cid(
    vec: str, centroids: list[list[float]], round_dp: int | None = None
) -> str:
    """cid of the nearest centroid, as a narrow SQL array expression
    over ``vec`` (a column name or SQL fragment).

    ``transform`` over a literal array-of-centroids computes all sims in
    one pass; ``array_position(sims, array_max(sims))`` is argmax with
    first-wins (= lowest-cid) tie-break.  No crossJoin, no window, no
    shuffle — assignment stays inside the scan stage, which is what
    makes a Lloyd step at 100 TB one map + one small hash-agg.

    ``round_dp`` rounds each sim before the argmax — the cross-engine
    oracle (``q_ann_ivf_assign``) needs last-ulp sum differences
    squashed so Spark and DuckDB argmax the same values.  The IVF paths
    (:func:`ivf_train`, :func:`ivf_write`, :func:`ivf_append`) assign
    at full precision (None); every IVF-PQ encode
    (:func:`_ivfpq_encode`) passes its ``round_dp`` (6 by default).

    Evaluation shape: HOF lambdas are interpreted with NO
    common-subexpression elimination, so the row vector and its norm
    bind ONCE per row (transform over a singleton struct), centroid
    norms are Python-precomputed literals (``math.sqrt`` of a
    left-to-right sum — the same IEEE operation sequence as the
    engine-side fold, so bit-identical doubles; the ``pq_adc_tables``
    contract), and the sims array binds once for the argmax.
    """
    cnorms = doubles_sql(
        [math.sqrt(sum(float(x) * float(x) for x in c)) for c in centroids]
    )
    sims = (
        f"transform({double_matrix_sql(centroids)}, (c, i) -> "
        f"{dot_sql('b.v', 'c')} / (b.n * element_at({cnorms}, i + 1)))"
    )
    if round_dp is not None:
        sims = f"transform({sims}, s -> round(s, {round_dp}))"
    bound = (
        f"array(struct(CAST({vec} AS ARRAY<DOUBLE>) AS v, {l2_norm_sql(vec)} AS n))"
    )
    return (
        f"CAST(element_at(transform(transform({bound}, b -> {sims}),"
        " s -> array_position(s, array_max(s))), 1) - 1 AS INT)"
    )


def ivf_train(
    embeddings: DataFrame,
    dim: int,
    n_centroids: int = 16,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[list[float]]:
    """Train IVF centroids: deterministic seeded k-means, driver-held
    model state.

    Init = the ``n_centroids`` vectors with smallest content hash
    (``TakeOrderedAndProject`` — no global-sort shuffle, no RNG).  Each
    Lloyd step assigns narrowly (:func:`_assign_cid`) and reduces
    per-element sums in ONE hash aggregation; the resulting
    ``n_centroids x dim`` floats come back to the driver and re-enter
    the next step as literals — the iterative plan never grows, unlike
    chaining DataFrames across iterations (lineage explosion).  At
    100 TB train on a deterministic sample (e.g. ``pmod(xxhash64(id),
    100)=0``) and assign the full table once — same code path.
    """
    from pyspark import StorageLevel

    v = embeddings.select(
        F.col(id_col).alias("__id"), F.col(vec_col).cast("array<double>").alias("__v")
    ).persist(StorageLevel.MEMORY_AND_DISK)  # 1 + iters jobs read it (see pq_train)
    init = (
        v.orderBy(F.xxhash64(F.col("__id").cast("string")), F.col("__id"))
        .limit(n_centroids)
        .collect()
    )
    centroids = [list(r["__v"]) for r in init]
    if not centroids:
        v.unpersist()
        raise ValueError("ivf_train: empty input, no vectors to train on")
    # ONE array-valued agg column instead of dim separate sum columns:
    # the same dim SUM aggregate buffers execute (byte-identical sums
    # and therefore byte-identical centroids), but each Lloyd step's
    # plan builds with one F.expr parse instead of dim x (col + getItem
    # + sum + alias) py4j calls — measured ~0.4 s of driver time per
    # step at dim=64 (guide §7.3; the lit_doubles pattern applied to
    # aggregation lists)
    sums_sql = "array(" + ",".join(f"sum(__v[{i}])" for i in range(dim)) + ")"
    for _ in range(iters):
        sums = (
            v.withColumn("cid", F.expr(_assign_cid("__v", centroids)))
            .groupBy("cid")
            .agg(F.count("*").alias("n"), F.expr(sums_sql).alias("s"))
            .collect()
        )
        new = {r["cid"]: [s / r["n"] for s in r["s"]] for r in sums}
        # empty clusters keep their previous centroid (deterministic)
        centroids = [new.get(cid, c) for cid, c in enumerate(centroids)]
    v.unpersist()
    return centroids


def _checked_vec(vec_col: str, dim: int, caller: str) -> Column:
    """Identity on a right-length vector, job-failing otherwise.

    A wrong-length vector would null-pad through ``zip_with``, get a
    null cid, and be written to ``cid=__HIVE_DEFAULT_PARTITION__`` —
    silently unsearchable by ``cid IN (...)`` pruning while the write
    reports success.  Riding the first scan that consumes the column,
    the guard aborts the FIRST training pass — before a malformed
    batch's prefix is summed into any centroid.  ``size(NULL)`` is
    null, so a null embedding still gets the diagnostic."""
    col = f"`{vec_col}`"
    return F.expr(
        f"CASE WHEN size({col}) = {dim} THEN {col} ELSE raise_error(concat("
        f"'{caller}: embedding dimension != {dim}: got ',"
        f" coalesce(CAST(size({col}) AS STRING), 'NULL'))) END"
    )


def ivf_write(
    embeddings: DataFrame,
    path: str,
    dim: int,
    n_centroids: int = 16,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[list[float]]:
    """BUILD TIME: train centroids and persist the collection
    partitioned by ``cid``, so query-time ``nprobe`` pruning is file
    skipping (``PartitionFilters`` on the scan, not a post-scan
    filter).  The centroid model (n_centroids x dim floats — tiny) is
    stored as a ``_centroids`` parquet inside the index directory;
    the leading underscore makes Spark's reader skip it when scanning
    the collection itself.
    """
    # one guard for training and write: a wrong-length vector fails
    # the first Lloyd pass instead of shaping the centroids
    guarded = embeddings.withColumn(vec_col, _checked_vec(vec_col, dim, "ivf_write"))
    centroids = ivf_train(guarded, dim, n_centroids, iters, id_col, vec_col)
    (
        guarded.withColumn("cid", F.expr(_assign_cid(f"`{vec_col}`", centroids)))
        .write.mode("overwrite")
        .partitionBy("cid")
        .parquet(path)
    )
    _write_model(embeddings.sparkSession, path, centroids)
    return centroids


def _write_model(
    spark,
    path: str,
    centroids: list[list[float]],
    codebooks: list[list[list[float]]] | None = None,
) -> None:
    """Persist the model sidecars (``_centroids``, and ``_codebooks``
    for IVF-PQ) inside the index directory, then mark it complete.
    The leading underscore makes Spark's reader skip them when
    scanning the indexed rows."""
    spark.createDataFrame(
        [(i, c) for i, c in enumerate(centroids)], schema="cid INT, cvec ARRAY<DOUBLE>"
    ).coalesce(1).write.mode("overwrite").parquet(path + "/_centroids")
    if codebooks is not None:
        spark.createDataFrame(
            [(s, j, c) for s, cb in enumerate(codebooks) for j, c in enumerate(cb)],
            schema="s INT, j INT, cvec ARRAY<DOUBLE>",
        ).coalesce(1).write.mode("overwrite").parquet(path + "/_codebooks")
    _mark_index_complete(spark, path)


def _mark_index_complete(spark, path: str) -> None:
    """Write ``_INDEX_SUCCESS``, the one completion marker of every
    index build or rewrite.  Call it LAST: the data write drops its own
    ``_SUCCESS`` before the model sidecars exist, so a crash between
    the writes would otherwise leave a "successful" index with no
    model.  Readers gate on :func:`ivf_index_complete`, not
    ``_SUCCESS``."""
    jvm_path = spark._jvm.org.apache.hadoop.fs.Path(path + "/_INDEX_SUCCESS")
    fs = jvm_path.getFileSystem(spark._jsc.hadoopConfiguration())
    fs.create(jvm_path, True).close()


def ivf_index_complete(spark, path: str) -> bool:
    """True iff ``path`` holds a fully-written IVF index (collection +
    centroid sidecar + final marker)."""
    jvm_path = spark._jvm.org.apache.hadoop.fs.Path(path + "/_INDEX_SUCCESS")
    fs = jvm_path.getFileSystem(spark._jsc.hadoopConfiguration())
    return bool(fs.exists(jvm_path))


def ivf_read(spark, path: str) -> tuple[DataFrame, list[list[float]]]:
    """Open a persisted IVF index: (cid-partitioned collection, centroid
    model).  The collection scan skips the ``_centroids`` sidecar."""
    indexed = spark.read.parquet(path)
    rows = spark.read.parquet(path + "/_centroids").orderBy("cid").collect()
    return indexed, [list(r.cvec) for r in rows]


def ivf_append(
    new_embeddings: DataFrame,
    path: str,
    vec_col: str = "embedding",
) -> list[list[float]]:
    """APPEND TIME: absorb a new batch into a prebuilt IVF index
    WITHOUT retraining — the incremental-maintenance path the
    reference gets from Chroma's add -> HNSW update
    (``src/PDFToChromaIngester.py:189-193``).

    Centroids stay FROZEN: new rows are assigned ``cid`` against the
    persisted model (one scan-stage :func:`_assign_cid` projection)
    and appended into their ``cid=`` partition directories.  Untouched
    partitions' files are never rewritten, and the centroid sidecar is
    unchanged, so query-time ``PartitionFilters`` pruning and every
    existing shortlist stay valid — appends only ADD files to probed
    partitions.  The model standing still while the data moves is the
    cost of no retraining: watch :func:`ivf_drift_report` and rebuild
    with :func:`ivf_write` when occupancy skew crosses your tolerance.
    Refuses an incomplete index (no ``_INDEX_SUCCESS`` marker).
    Returns the frozen centroids so callers can search immediately.
    """
    spark = new_embeddings.sparkSession
    if not ivf_index_complete(spark, path):
        raise ValueError(f"not a complete IVF index (no _INDEX_SUCCESS): {path}")
    indexed, centroids = ivf_read(spark, path)
    # align the batch to the collection's exact schema: parquet appends
    # with a wider type (e.g. array<double> into an array<float>
    # collection) write fine but BREAK every subsequent read of the
    # partition — a silently index-corrupting footgun
    stored = [f for f in indexed.schema.fields if f.name != "cid"]
    batch_cols = set(new_embeddings.columns)
    if batch_cols != {f.name for f in stored}:
        raise ValueError(
            f"append batch columns {sorted(batch_cols)} != index "
            f"columns {sorted(f.name for f in stored)}"
        )
    aligned = new_embeddings.select(
        *[F.col(f.name).cast(f.dataType) for f in stored]
    ).withColumn(vec_col, _checked_vec(vec_col, len(centroids[0]), "ivf_append"))
    (
        aligned.withColumn("cid", F.expr(_assign_cid(f"`{vec_col}`", centroids)))
        .write.mode("append")
        .partitionBy("cid")
        .parquet(path)
    )
    return centroids


def ivf_drift_report(indexed: DataFrame, n_centroids: int | None = None) -> DataFrame:
    """Per-centroid occupancy of a (possibly appended) IVF collection:
    ``(cid, n, share, skew)`` with ``skew = n / mean(n)``.

    A frozen-centroid index degrades as appends shift the data
    distribution — a hot centroid makes every probe of that cid scan
    ``skew``x the ideal row count.  Rule of thumb: retrain
    (:func:`ivf_write`) when ``max(skew)`` exceeds ~4.  One small hash
    agg over the cid column (partition-pruned scan reads no vectors).

    Pass ``n_centroids`` (e.g. ``len(centroids)`` from
    :func:`ivf_read`) so EMPTY centroids appear as ``n=0`` rows and the
    mean divides by the full report row count instead of only the
    observed-group count — otherwise skew is understated exactly when
    drift is worst (12 of 16 partitions empty looks ~4x calmer than it
    is).  Anomalous groups — a null cid (null-partition corruption
    predating the :func:`_checked_vec` guard) or a cid outside the
    model range — still appear as extra rows with their own counts, and
    they intentionally stay in the denominator too (it is
    ``n_centroids`` + anomalous-group count, per the full-outer join
    below): an anomaly dilutes every skew slightly, but hiding its mass
    from the mean would overstate the healthy centroids' skew while the
    anomaly itself demands a retrain anyway.
    """
    counts = indexed.groupBy("cid").agg(F.count("*").alias("n"))
    if n_centroids is not None:
        spark = indexed.sparkSession
        all_cids = spark.range(n_centroids).select(F.col("id").cast("int").alias("cid"))
        # FULL outer, not left: an anomalous group — cid=null (legacy
        # null-partition corruption) or a cid outside the model range
        # (stale n_centroids) — must stay visible as a row and keep its
        # n in the denominators, not silently vanish from the report
        counts = all_cids.join(counts, "cid", "full_outer").select(
            "cid", F.coalesce("n", F.lit(0)).alias("n")
        )
    tot = counts.agg(
        F.sum("n").cast("double").alias("__tot"), F.count("*").alias("__k")
    )
    return counts.crossJoin(F.broadcast(tot)).select(
        "cid",
        "n",
        F.round(F.col("n") / F.col("__tot"), 6).alias("share"),
        F.round(F.col("n") * F.col("__k") / F.col("__tot"), 6).alias("skew"),
    )


def ivf_shortlist(
    centroids: list[list[float]], probe: list[float], nprobe: int
) -> list[int]:
    """Driver-side: the ``nprobe`` centroid ids nearest the probe."""
    pv = [float(x) for x in probe]

    def cos(a: list[float], b: list[float]) -> float:
        s = sum(x * y for x, y in zip(a, b))
        na = math.sqrt(sum(x * x for x in a))
        nb = math.sqrt(sum(x * x for x in b))
        return s / (na * nb) if na and nb else 0.0

    return sorted(range(len(centroids)), key=lambda i: (-cos(centroids[i], pv), i))[
        :nprobe
    ]


def ivf_topk(
    indexed: DataFrame,
    centroids: list[list[float]],
    probe: list[float],
    k: int = 10,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_dp: int = 6,
    predicate: Column | None = None,
) -> DataFrame:
    """QUERY TIME: approximate top-k for one probe over a prebuilt
    index — NO training, NO full-table pass.

    ``indexed`` carries a ``cid`` column (from :func:`ivf_read`); ``centroids`` is the driver-held model.  The
    probe's centroid shortlist is computed driver-side (tiny), so the
    plan is a single scan with ``cid IN (...)`` +
    ``TakeOrderedAndProject``.  With the collection written
    ``partitionBy("cid")`` (:func:`ivf_write`) the ``isin`` lands in
    ``PartitionFilters`` — (1 - nprobe/n_centroids) of a 100 TB
    collection is never read at all.

    ``predicate`` (round 13): filtered ANN, reference R11 at the index
    rung — the IVF index keeps FULL rows, so a metadata predicate
    applies inside the probed cells before ranking (Chroma's filtered
    HNSW shape: candidates outside the filter never enter the top-k).
    The filter sits directly over the pruned scan, so pushable
    predicates reach the parquet reader.  Recall caveat: cells are
    probed by the query vector alone; a filter whose matches
    concentrate in unprobed cells returns fewer/approximate hits —
    raise ``nprobe`` for highly-selective filters.
    """
    shortlist = ivf_shortlist(centroids, probe, nprobe)
    cos = cosine_similarity(f"`{vec_col}`", doubles_sql(probe))
    scored = indexed.filter(F.col("cid").isin(shortlist))
    if predicate is not None:
        scored = scored.filter(predicate)
    return (
        scored
        .withColumn("score", F.round(cos, round_dp))
        .orderBy(F.col("score").desc(), F.col(id_col).asc())
        .limit(k)
        .select(id_col, "cid", "score")
    )


def ivf_topk_batch(
    indexed: DataFrame,
    centroids: list[list[float]],
    probes: list[tuple[int, list[float]]],
    k: int = 10,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_dp: int = 6,
    predicate: Column | None = None,
) -> DataFrame:
    """QUERY TIME, batched: N probes against one prebuilt IVF index in
    ONE pruned scan.

    Driver-side, each probe shortlists its ``nprobe`` centroids (tiny:
    N x n_centroids cosines over the driver-held model); the union of
    shortlisted cids is the scan's partition filter, and a small
    broadcast (cid, query_id, query_vec) table routes each scanned row
    to exactly the probes that shortlisted its cid.  Scoring happens
    once per (row, interested probe), then a per-query window keeps k —
    the IVF analogue of ``topk_cosine_batch``: B queries cost ~1 scan
    of the union'd partitions, not B scans.

    ``predicate`` (round 13): same filtered-ANN contract as
    :func:`ivf_topk` — applied over the pruned scan BEFORE the route
    join, so excluded rows never fan out to probes at all.
    """
    spark = indexed.sparkSession
    routes = [
        (cid, int(qid), [float(x) for x in vec])
        for qid, vec in probes
        for cid in ivf_shortlist(centroids, vec, nprobe)
    ]
    route_df = spark.createDataFrame(
        routes, schema="cid INT, query_id INT, query_vec ARRAY<DOUBLE>"
    )
    union_cids = sorted({cid for cid, _, _ in routes})
    pruned = indexed.filter(F.col("cid").isin(union_cids))
    if predicate is not None:
        pruned = pruned.filter(predicate)
    scored = (
        pruned
        .join(F.broadcast(route_df), "cid")
        .withColumn(
            "score",
            F.round(cosine_similarity(f"`{vec_col}`", "query_vec"), round_dp),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col(id_col).asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", id_col, "cid", "score", "rank")
    )


def ivfpq_topk(
    embeddings: DataFrame,
    centroids: list[list[float]],
    codebooks: list[list[list[float]]],
    probe: list[float],
    k: int = 10,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_dp: int = 6,
) -> DataFrame:
    """IVF-PQ serving (the FAISS IVFPQ shape, inner-product metric):
    coarse nearest-centroid routing, PQ codes over the RESIDUAL
    (vector minus its cell centroid — residual magnitudes are far
    smaller than raw vectors, so the same codebook budget quantizes
    them much tighter), and ADC scoring that decomposes
    ``<q, x> ~= <q, c_cid> + sum_s <q_s, cb_s[code_s]>`` — the first
    term a per-cell literal, the rest m table lookups.  Reference
    parity: the HNSW-backed store in
    ``/root/reference/src/PDFToChromaIngester.py:189-193`` serves the
    same contract (approximate top-k under a trained index); IVF-PQ is
    the partition-friendly equivalent for a data-parallel engine.

    Everything after training is closed-form: with literal centroids
    and codebooks this entire query is cross-engine mirrorable
    (training stays engine-side — the ``ivf_train``/``pq_train``
    seeded-Lloyd contract).  Plan shape: assignment and encoding ride
    the scan (narrow transforms, zero Python), the shortlist filter
    prunes to ``nprobe`` cells, and the top-k compiles to
    ``TakeOrderedAndProject`` — at deployment scale (cid, codes) is a
    persisted table partitioned by cid (``ivf_write``'s layout) and
    the scan reads only probed partitions and ~m bytes per row.  It is
    exactly "encode (:func:`_ivfpq_encode`), then
    :func:`ivfpq_topk_indexed`".
    """
    coded = _ivfpq_encode(embeddings, centroids, codebooks, id_col, vec_col, round_dp)
    return ivfpq_topk_indexed(
        coded, centroids, codebooks, probe, k, nprobe, id_col, round_dp
    )


def _ivfpq_encode(
    embeddings: DataFrame,
    centroids: list[list[float]],
    codebooks: list[list[list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_dp: int = 6,
    keep_resid: bool = False,
    id_type: str | None = None,
) -> DataFrame:
    """The one IVF-PQ residual encoder: ``(id, cid[, __r],
    c0..c{m-1})`` — nearest-centroid assignment (:func:`_assign_cid`),
    residual = vector minus its cell centroid, one :func:`pq_code` per
    subspace.  Every build, append and encode-inline serve goes
    through it, so codes written and codes scored cannot drift apart.

    ``round_dp`` rounds the assignment sims and the code distances.
    ``keep_resid`` keeps the residual as ``__r``: with no codebooks
    that is the codebook-training input, assigned exactly as the
    written codes are.  ``id_type`` casts the id to
    the stored codes' type (appends).  Narrow expressions only — the
    encode rides the scan, and a ``cid`` filter placed above it is
    pushed below the encode by the optimizer.
    """
    vec = F.col(vec_col).cast("array<double>")
    assigned = embeddings.select(
        F.col(id_col).cast(id_type).alias(id_col) if id_type else id_col,
        vec.alias("v"),
        F.expr(_assign_cid(f"`{vec_col}`", centroids, round_dp)).alias("cid"),
    )
    resid = F.zip_with(
        F.col("v"),
        F.element_at(lit_double_matrix(centroids), F.col("cid") + 1),
        lambda a, b: a - b,
    )
    # materialize the residual once per row: inlining the zip_with into
    # every pq_code re-evaluated it per subspace (and per centroid
    # before pq_code bound its slice) — same doubles, one evaluation
    dsub = len(codebooks[0][0]) if codebooks else 0
    return assigned.withColumn("__r", resid).select(
        id_col,
        "cid",
        *(["__r"] if keep_resid else []),
        *[
            F.expr(pq_code("__r", cb, s * dsub, round_dp)).alias(f"c{s}")
            for s, cb in enumerate(codebooks)
        ],
    )


def ivfpq_write(
    embeddings: DataFrame,
    path: str,
    centroids: list[list[float]],
    codebooks: list[list[list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_dp: int = 6,
) -> None:
    """BUILD TIME: encode the corpus ONCE and persist only (id, codes)
    partitioned by ``cid`` — the deployment artifact the IVF-PQ
    docstrings promise.  Raw vectors never enter the index: a row is
    ``m`` small ints + the id, so the query-time scan reads ~m bytes
    per row and ``nprobe`` pruning is file skipping
    (``PartitionFilters``), same layout contract as :func:`ivf_write`.
    Model sidecars (``_centroids``, ``_codebooks``) ride inside the
    index directory; ``_INDEX_SUCCESS`` is written LAST so a crash
    between writes can't leave a "successful" index missing its model
    (the :func:`ivf_write` marker discipline).
    """
    dim = len(centroids[0])
    guarded = embeddings.withColumn(
        vec_col, _checked_vec(vec_col, dim, "ivfpq_write")
    )
    (
        _ivfpq_encode(guarded, centroids, codebooks, id_col, vec_col, round_dp)
        .write.mode("overwrite")
        .partitionBy("cid")
        .parquet(path)
    )
    _write_model(embeddings.sparkSession, path, centroids, codebooks)


def ivfpq_train_write(
    embeddings: DataFrame,
    path: str,
    dim: int,
    n_centroids: int = 16,
    m: int = 4,
    ksub: int = 16,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> tuple[list[list[float]], list[list[list[float]]]]:
    """BUILD TIME, end-to-end: train the coarse centroids
    (:func:`ivf_train`), train the PQ codebooks ON THE RESIDUALS
    (vector minus its cell centroid — the encoding the quality test
    shows beating raw-vector PQ when centers outnumber codewords),
    then persist the codes index (:func:`ivfpq_write`).  Returns
    (centroids, codebooks) so callers can serve immediately.  At
    100 TB both trainings run on a sample; write/encode is the only
    corpus-sized pass."""
    cents = ivf_train(embeddings, dim, n_centroids, iters, id_col, vec_col)
    resid = _ivfpq_encode(embeddings, cents, [], id_col, vec_col, keep_resid=True)
    cbs = pq_train(resid, dim, m, ksub, iters, id_col, "__r")
    ivfpq_write(embeddings, path, cents, cbs, id_col, vec_col)
    return cents, cbs


def ivfpq_read(
    spark, path: str
) -> tuple[DataFrame, list[list[float]], list[list[list[float]]]]:
    """Open a persisted IVF-PQ index: (cid-partitioned codes table,
    centroid model, PQ codebooks).  Sidecars are skipped by the codes
    scan (leading-underscore directories)."""
    codes = spark.read.parquet(path)
    cent_rows = spark.read.parquet(path + "/_centroids").orderBy("cid").collect()
    cb_rows = spark.read.parquet(path + "/_codebooks").orderBy("s", "j").collect()
    m = 1 + max(r.s for r in cb_rows)
    codebooks: list[list[list[float]]] = [[] for _ in range(m)]
    for r in cb_rows:
        codebooks[r.s].append(list(r.cvec))
    return codes, [list(r.cvec) for r in cent_rows], codebooks


def ivfpq_topk_indexed(
    codes: DataFrame,
    centroids: list[list[float]],
    codebooks: list[list[list[float]]],
    probe: list[float],
    k: int = 10,
    nprobe: int = 4,
    id_col: str = "vec_id",
    round_dp: int = 6,
) -> DataFrame:
    """QUERY TIME over a prebuilt IVF-PQ index: NO assignment, NO
    encode, NO raw vectors — the shortlist prunes ``cid=`` partitions
    (file skipping) and scoring is ``m`` array lookups + adds per row
    against Python-precomputed literal tables.  This is the plan shape
    the 100 TB claim rests on; its output is pinned equal to the
    encode-inline :func:`ivfpq_topk` in tests."""
    m = len(codebooks)
    short = ivf_shortlist(centroids, probe, nprobe)
    tabs = pq_adc_tables(probe, codebooks)
    q_dot_c = lit_doubles(
        [float(sum(p * c for p, c in zip(probe, cc))) for cc in centroids]
    )
    adc = F.element_at(q_dot_c, F.col("cid") + 1)
    for s in range(m):
        adc = adc + F.element_at(lit_doubles(tabs[s]), F.col(f"c{s}") + 1)
    return (
        codes.filter(F.col("cid").isin(short))
        .withColumn("score", F.round(adc, round_dp))
        .orderBy(F.col("score").desc(), F.col(id_col).asc())
        .limit(k)
        .select(id_col, "cid", "score")
    )


def vectors_write(
    embeddings: DataFrame,
    path: str,
    id_col: str = "vec_id",
    n_files: int = 32,
) -> None:
    """BUILD TIME: persist the raw-vector table RANGE-LAID-OUT by id —
    ``repartitionByRange`` + within-file sort gives every output file a
    disjoint ``[min, max]`` id range in its parquet footer, so a
    query-time id lookup (:func:`fetch_vectors`) skips every file and
    row group whose range can't contain the ids.  This is the layout
    half of the refine contract: without it the exact re-rank's
    "point lookup" is a full linear scan (min/max stats on a
    randomly-distributed id column prune nothing — VERDICT r11).
    One write-time range shuffle, amortized over every later fetch;
    the :func:`ivf_write` companion for the vectors the codes index
    deliberately drops."""
    (
        embeddings.repartitionByRange(n_files, id_col)
        .sortWithinPartitions(id_col)
        .write.mode("overwrite")
        .parquet(path)
    )


def vectors_append(
    new_embeddings: DataFrame,
    path: str,
    id_col: str = "vec_id",
    n_files: int = 32,
) -> None:
    """APPEND TIME for a :func:`vectors_write` layout: the new batch is
    range-laid-out WITHIN ITSELF and appended — per-batch disjoint
    footer ranges keep :func:`fetch_vectors` prunable (an id list hits
    at most a few files per batch) without rewriting history; a
    periodic :func:`vectors_write` rewrite restores the single global
    order (the compaction story)."""
    (
        new_embeddings.repartitionByRange(n_files, id_col)
        .sortWithinPartitions(id_col)
        .write.mode("append")
        .parquet(path)
    )


def fetch_vectors(
    spark,
    path: str,
    ids: list,
    id_col: str = "vec_id",
    max_ids: int = 100_000,
) -> DataFrame:
    """QUERY TIME point lookup against a :func:`vectors_write` layout:
    the id list (shortlist scale — k2 ids, driver-held model state)
    becomes ONE ``In`` predicate pushed into the parquet scan
    (``PushedFilters: [In(vec_id, ...)]``), so the range layout turns
    the fetch into file/row-group skipping instead of a second corpus
    scan.  Guarded: an unbounded id list would mean the caller is
    routing DATA through the driver, which is the anti-pattern this
    function exists to avoid.

    Pushdown note: Spark pushes the shortlist-scale In literally
    (asserted for k2=30 in tests); past the parquet In-pushdown
    threshold the scan filter degrades to a [min(ids), max(ids)]
    range — which the RANGE LAYOUT still serves (files outside the id
    envelope skip), another reason the layout and the fetch are one
    contract."""
    ids = list(ids)
    if len(ids) > max_ids:
        raise ValueError(
            f"fetch_vectors got {len(ids)} ids (> {max_ids}): shortlist "
            "fetches are driver-model scale; join the tables instead"
        )
    return spark.read.parquet(path).filter(F.col(id_col).isin(ids))


def ivfpq_topk_refined_batch_indexed(
    spark,
    index_path: str,
    vectors_path: str,
    probes: list[tuple[int, list[float]]],
    k: int = 10,
    k2: int = 30,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_dp: int = 6,
) -> DataFrame:
    """QUERY TIME, the full FAISS IndexRefineFlat ladder over PERSISTED
    artifacts, for Q probes at once (a single probe is a batch of
    one): ADC shortlists (k2 over-fetch per probe) from ONE pruned scan
    of the cid-partitioned codes index (:func:`ivfpq_topk_batch_indexed`
    — no raw vectors), the UNION of shortlist ids fetched from the
    range-laid-out vector table in ONE file-skipping ``In``-pushdown
    pass (:func:`fetch_vectors`), and a broadcast (query_id, id) route
    table restricting the exact cosine re-rank to each probe's own
    shortlist.  BOTH scans prune — nprobe/|cells| of the codes and
    ~Q·k2 row-groups of the vectors — so query cost is sub-linear in
    corpus size.  The deployment twin of the inline
    ``q_ann_ivfpq_refine`` plan.  The Q·k2 route pairs collected
    between the stages are shortlist-scale driver state (the centroid
    rule, not a data-path collect)."""
    return _ivfpq_refine(
        spark, ivfpq_read(spark, index_path), vectors_path, probes,
        k, k2, nprobe, id_col, vec_col, round_dp,
    )


def _ivfpq_refine(
    spark,
    model: tuple[DataFrame, list[list[float]], list[list[list[float]]]],
    vectors_path: str,
    probes: list[tuple[int, list[float]]],
    k: int,
    k2: int,
    nprobe: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_dp: int = 6,
) -> DataFrame:
    """:func:`ivfpq_topk_refined_batch_indexed` over an already-read
    ``model`` (:func:`ivfpq_read`'s triple), so callers that run the
    ladder repeatedly read the sidecars once."""
    codes, cents, cbs = model
    short = ivfpq_topk_batch_indexed(
        codes, cents, cbs, probes, k=k2, nprobe=nprobe,
        id_col=id_col, round_dp=round_dp,
    )
    pairs = short.select("query_id", id_col).collect()
    ids = sorted({r[id_col] for r in pairs})
    cand = fetch_vectors(spark, vectors_path, ids, id_col=id_col)
    id_type = dict(cand.dtypes)[id_col]
    route = spark.createDataFrame(
        [(int(r["query_id"]), r[id_col]) for r in pairs],
        schema=f"query_id INT, {id_col} {id_type}",
    )
    probes_df = spark.createDataFrame(
        [(int(qid), [float(x) for x in vec]) for qid, vec in probes],
        schema="query_id INT, query_vec ARRAY<DOUBLE>",
    )
    scored = (
        cand.join(F.broadcast(route), id_col)
        .join(F.broadcast(probes_df), "query_id")
        .withColumn(
            "score",
            F.round(
                cosine_similarity(f"`{vec_col}`", "query_vec"),
                round_dp,
            ),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col(id_col).asc()
    )
    return (
        scored.drop(vec_col, "query_vec")
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", id_col, "score", "rank")
    )


def ivfpq_append(
    new_embeddings: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_dp: int = 6,
) -> None:
    """APPEND TIME: absorb a new batch into a prebuilt IVF-PQ index
    WITHOUT retraining — both models stay FROZEN (the
    :func:`ivf_append` discipline, extended to the codebooks): new
    rows are assigned against the persisted centroids, their residuals
    encoded against the persisted codebooks, and the resulting code
    rows appended into their ``cid=`` partition directories.  Existing
    files are never rewritten and the sidecars are unchanged, so every
    existing query plan and shortlist stays valid.  Same degradation
    contract as IVF: appends shift the data under a standing model —
    watch :func:`ivf_drift_report` (it reads only the cid column, so
    it works on the codes table as-is) and rebuild with
    :func:`ivfpq_write` when occupancy skew crosses tolerance.
    Refuses an incomplete index (no ``_INDEX_SUCCESS`` marker)."""
    spark = new_embeddings.sparkSession
    if not ivf_index_complete(spark, path):
        raise ValueError(f"not a complete IVF-PQ index (no _INDEX_SUCCESS): {path}")
    codes, centroids, codebooks = ivfpq_read(spark, path)
    guarded = new_embeddings.withColumn(
        vec_col, _checked_vec(vec_col, len(centroids[0]), "ivfpq_append")
    )
    (
        _ivfpq_encode(
            guarded, centroids, codebooks, id_col, vec_col, round_dp,
            id_type=dict(codes.dtypes)[id_col],
        )
        .write.mode("append")
        .partitionBy("cid")
        .parquet(path)
    )


def ivfpq_topk_batch(
    embeddings: DataFrame,
    centroids: list[list[float]],
    codebooks: list[list[list[float]]],
    probes: list[tuple[int, list[float]]],
    k: int = 10,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_dp: int = 6,
) -> DataFrame:
    """Batched IVF-PQ: N probes served by ONE assignment + residual
    encode of the union'd shortlist cells — the production serving
    shape (queries arrive in batches; the codes never get re-derived
    per probe).

    Per-probe model state is all literals: a broadcast (cid, query_id)
    route table sends each encoded row to exactly the probes that
    shortlisted its cell, and each probe's ADC tables + per-cell
    ``<q, c_cid>`` terms enter as arrays indexed by the probe's
    position in the batch (O(Q x m x ksub) doubles — driver-held-model
    scale).  Per-probe results are pinned equal to :func:`ivfpq_topk`
    in tests; the batch property mirrors :func:`ivf_topk_batch` — Q
    probes cost ~1 pruned scan, not Q.  The encode feeds the SAME
    scoring tail the persisted-codes path uses
    (:func:`ivfpq_topk_batch_indexed`), so inline and indexed batch
    answers are equal by construction given an up-to-date index.
    """
    coded = _ivfpq_encode(embeddings, centroids, codebooks, id_col, vec_col, round_dp)
    return ivfpq_topk_batch_indexed(
        coded, centroids, codebooks, probes, k, nprobe, id_col, round_dp
    )


def ivfpq_topk_batch_indexed(
    codes: DataFrame,
    centroids: list[list[float]],
    codebooks: list[list[list[float]]],
    probes: list[tuple[int, list[float]]],
    k: int = 10,
    nprobe: int = 4,
    id_col: str = "vec_id",
    round_dp: int = 6,
) -> DataFrame:
    """QUERY TIME, batched, over a prebuilt IVF-PQ codes table
    (:func:`ivfpq_write`'s layout): the batch counterpart of
    :func:`ivfpq_topk_indexed` and the tail of
    :func:`ivfpq_topk_batch` — no assignment, no encode, no raw
    vectors.  The union'd shortlist prunes ``cid=`` partitions (file
    skipping), the broadcast route table fans each code row out to
    exactly the probes that shortlisted its cell, per-probe ADC tables
    enter as literals indexed by batch position, and one window rank
    takes each probe's top-k.  This is the production serving plan at
    100 TB: Q queries cost one pruned ~m-bytes-per-row scan plus one
    bounded shuffle (the rank, <= Q x union-cell rows of code ints)."""
    m = len(codebooks)
    spark = codes.sparkSession
    routes = [
        (cid, int(qid))
        for qid, vec in probes
        for cid in ivf_shortlist(centroids, vec, nprobe)
    ]
    route_df = spark.createDataFrame(routes, schema="cid INT, query_id INT")
    union_cids = sorted({cid for cid, _ in routes})
    # probe order defines the literal index space; qpos = position+1
    qids = [int(qid) for qid, _ in probes]
    qpos = F.array_position(F.lit(qids), F.col("query_id")).cast("int")
    tabs_by_probe = [pq_adc_tables(vec, codebooks) for _, vec in probes]
    qdotc_by_probe = [
        [float(sum(p * c for p, c in zip(vec, cc))) for cc in centroids]
        for _, vec in probes
    ]
    adc = F.element_at(
        F.element_at(lit_double_matrix(qdotc_by_probe), qpos), F.col("cid") + 1
    )
    for s in range(m):
        adc = adc + F.element_at(
            F.element_at(lit_double_matrix([t[s] for t in tabs_by_probe]), qpos),
            F.col(f"c{s}") + 1,
        )
    scored = (
        codes.filter(F.col("cid").isin(union_cids))
        .join(F.broadcast(route_df), "cid")
        .withColumn("score", F.round(adc, round_dp))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col(id_col).asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", id_col, "cid", "score", "rank")
    )


# ------------------------------------------------- spark.ml LSH simjoin

def simjoin_lsh(
    embeddings: DataFrame,
    threshold_l2: float = 1.2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bucket_length: float = 2.0,
    num_hash_tables: int = 3,
    seed: int = 42,
) -> DataFrame:
    """Approximate similarity self-join via spark.ml
    BucketedRandomProjectionLSH (euclidean distance < threshold on
    unit-normalized vectors — rank-equivalent to cosine, mirroring the
    reference's normalized-BGE setup where l2 ~ cosine,
    src/PDFToChromaIngestorBgeEmbedding.py:45)."""
    from pyspark.ml.feature import BucketedRandomProjectionLSH
    from pyspark.ml.functions import array_to_vector

    from vector_db_ingestor_spark.functions.vector import normalize_sql

    df = embeddings.select(
        F.col(id_col),
        array_to_vector(F.expr(normalize_sql(f"`{vec_col}`"))).alias("features"),
    )
    lsh = BucketedRandomProjectionLSH(
        inputCol="features",
        outputCol="hashes",
        bucketLength=bucket_length,
        numHashTables=num_hash_tables,
        seed=seed,
    )
    model = lsh.fit(df)
    pairs = model.approxSimilarityJoin(df, df, threshold_l2, distCol="l2_dist")
    return (
        pairs.select(
            F.col(f"datasetA.{id_col}").alias("id_a"),
            F.col(f"datasetB.{id_col}").alias("id_b"),
            F.round("l2_dist", 6).alias("l2_dist"),
        )
        .filter(F.col("id_a") < F.col("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )


def lsh_topk_multiprobe(
    embeddings: DataFrame,
    probes: DataFrame,
    dim: int,
    k: int = 10,
    n_bits: int = 6,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    probe_id_col: str = "query_id",
    probe_vec_col: str = "query_vec",
    round_dp: int = 6,
) -> DataFrame:
    """Multi-probe LSH top-k: each probe searches its own bucket plus
    every bucket at Hamming distance 1 (one hyperplane flip).

    Recall recovers most of what single-bucket LSH loses at bucket
    boundaries for (n_bits + 1)x more candidate rows per probe — still
    ~(n_bits+1)/2^n_bits of a full scan.  The probe side (tiny) is the
    one exploded, the big table is bucketed once; the join stays a
    broadcast hash join on the bucket id.
    """
    e = embeddings.withColumn("__bucket", rp_lsh_bucket(f"`{vec_col}`", dim, n_bits))
    base = probes.withColumn("__b0", rp_lsh_bucket(f"`{probe_vec_col}`", dim, n_bits))
    flips = F.array(F.lit(0), *[F.lit(1 << b) for b in range(n_bits)])
    p = base.withColumn(
        "__bucket", F.explode(F.transform(flips, lambda m: F.col("__b0").bitwiseXOR(m)))
    ).drop("__b0")
    scored = e.join(F.broadcast(p), "__bucket").withColumn(
        "score",
        F.round(cosine_similarity(f"`{vec_col}`", f"`{probe_vec_col}`"), round_dp),
    )
    w = Window.partitionBy(probe_id_col).orderBy(
        F.col("score").desc(), F.col(id_col).asc()
    )
    return (
        scored.dropDuplicates([probe_id_col, id_col])
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(probe_id_col, id_col, "score", "rank")
    )


# ---------------------------------------------------- product quantization

def pq_codebooks(
    dim: int, m: int = 4, ksub: int = 16, seed_base: int = 2000
) -> list[list[list[float]]]:
    """Deterministic PQ codebooks: ``m`` subspaces x ``ksub`` centroids
    of ``dim // m`` components each, md5-derived (the same generator as
    :func:`_hyperplane`, at a disjoint seed range).

    Like :func:`q_ann_ivf_assign`'s literal centroids, these pin the
    closed-form MECHANICS of product quantization — subvector argmin
    assignment, code storage, ADC lookup scoring — cross-engine; a
    production deployment would train each sub-codebook with the same
    seeded-Lloyd path :func:`ivf_train` already demonstrates (training
    is float-iterative and therefore stays engine-side, exactly the
    IVF story).
    """
    dsub = dim // m
    return [
        [_hyperplane(dsub, seed_base + s * ksub + j) for j in range(ksub)]
        for s in range(m)
    ]


def pq_code(
    vec: str, codebook: list[list[float]], offset: int, round_dp: int = 6
) -> str:
    """Code (centroid index) of one subvector of ``vec`` (a column name
    or SQL fragment) against one sub-codebook, as a SQL expression.

    Argmin of the REDUCED squared-L2 ``d_j = -2 x.c_j + c_j.c_j`` (the
    row-constant ``x.x`` term cannot change the argmin, so it is
    dropped — the standard PQ trick; both engines round the same
    reduced form, so parity holds by construction).  ``c_j.c_j`` is a
    Python literal; the per-centroid dots run inside ONE ``transform``
    over an array-of-centroids literal — the expression tree is O(1)
    in ``ksub``.  First-wins tie-break via ``array_position``; same
    sequential-dot algebra as DuckDB `list_dot_product`.  Narrow array
    expression: no shuffle, no Python — assignment rides the scan.

    The subvector binds ONCE per row (transform over a singleton):
    HOF lambdas get no CSE, so referencing the slice (and, through it,
    the residual expression on the IVF-PQ paths) inside the
    per-centroid lambda would re-evaluate it ksub times per row; the
    argmin's double reference to the distance array binds likewise.
    """
    dsub = len(codebook[0])
    ccs = doubles_sql([float(sum(x * x for x in c)) for c in codebook])
    dists = (
        f"transform({double_matrix_sql(codebook)}, (c, i) -> "
        f"round(-2.0D * {dot_sql('sv', 'c')} + element_at({ccs}, i + 1), {round_dp}))"
    )
    sub = f"slice(CAST({vec} AS ARRAY<DOUBLE>), {offset + 1}, {dsub})"
    return (
        f"CAST(element_at(transform(transform(array({sub}), sv -> {dists}),"
        " d -> array_position(d, array_min(d))), 1) - 1 AS INT)"
    )


def pq_adc_tables(
    probe: list[float], codebooks: list[list[list[float]]]
) -> list[list[float]]:
    """Per-subspace ADC lookup tables: ``t[s][j] = <probe_sub_s, c_sj>``
    computed driver-side in Python and embedded as literals in BOTH
    engines' plans — scoring a code is then m array lookups + m-1 adds,
    no per-row dot products at all.  This is the whole point of PQ at
    scale: the scan touches only the (m x 1 byte-ish) code columns,
    never the raw vectors."""
    m = len(codebooks)
    dsub = len(codebooks[0][0])
    out = []
    for s in range(m):
        subq = probe[s * dsub : (s + 1) * dsub]
        out.append(
            [float(sum(q * x for q, x in zip(subq, c))) for c in codebooks[s]]
        )
    return out


def pq_train(
    embeddings: DataFrame,
    dim: int,
    m: int = 4,
    ksub: int = 8,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cent_dp: int = 4,
    dist_dp: int = 6,
) -> list[list[list[float]]]:
    """Train PQ sub-codebooks with a CROSS-ENGINE-MIRRORABLE seeded
    Lloyd — the training-time analogue of ``q_ann_ivf_assign``'s
    literal-centroid contract: every float that enters the model is
    rounded ENGINE-side, so an oracle can replay init, every Lloyd
    step, and the final assignment from the same parquet.

    * init — the ``ksub`` vectors with smallest ``md5(cast(id as
      string))`` (tie: id): a deterministic pseudo-random sample both
      engines order identically, components rounded to ``cent_dp``.
    * each Lloyd step — assign every subvector with :func:`pq_code`'s
      rounded reduced-L2 argmin (first-wins ties), then recompute each
      centroid component as ``round(avg(x), cent_dp)`` INSIDE the
      aggregation.  Rounding the model after every step squashes
      engine-specific partial-sum order — the one float nondeterminism
      Lloyd has (:func:`ivf_train` is the full-precision path when
      training quality matters more than cross-engine replay).  Empty
      clusters keep their previous centroid.  All ``m`` subspaces
      aggregate in ONE explode + hash-agg pass per iteration (fan-out
      ``m``, group key (subspace, code), m*ksub groups) — at 100 TB
      each step is one map stage + one small agg, same as
      :func:`ivf_train`'s.
    * model state is driver-held (m x ksub x dsub rounded floats) and
      re-enters each step as literals — the iterative plan never grows.
    """
    from pyspark import StorageLevel

    dsub = dim // m
    v = embeddings.select(
        F.col(id_col).alias("__id"),
        F.col(vec_col).cast("array<double>").alias("__v"),
    )
    # the projected (id, vec) table feeds 1 + iters sequential jobs
    # (init sample + one assign/agg per Lloyd step): persist it for the
    # duration of training so each step reads the narrow cached columns
    # instead of re-scanning + re-casting the source (guide §5 — reused
    # and cheaper than the memory pressure it creates; at 100 TB the
    # same handle holds the training SAMPLE, which is the documented
    # deployment shape).  Released before returning — training is
    # eager, so no returned plan depends on the cache.
    v = v.persist(StorageLevel.MEMORY_AND_DISK)
    init = (
        v.orderBy(F.md5(F.col("__id").cast("string").cast("binary")), F.col("__id"))
        .limit(ksub)
        .select(F.transform("__v", lambda x: F.round(x, cent_dp)).alias("__v"))
        .collect()
    )
    cbs = [
        [[float(x) for x in r["__v"][s * dsub : (s + 1) * dsub]] for r in init]
        for s in range(m)
    ]
    for _ in range(iters):
        entries = F.array(
            *[
                F.struct(
                    F.lit(s).alias("s"),
                    F.expr(pq_code("__v", cbs[s], s * dsub, dist_dp)).alias("c"),
                    F.slice("__v", s * dsub + 1, dsub).alias("sub"),
                )
                for s in range(m)
            ]
        )
        rows = (
            v.select(F.explode(entries).alias("e"))
            .select(
                F.col("e.s").alias("s"),
                F.col("e.c").alias("c"),
                F.col("e.sub").alias("sub"),
            )
            .groupBy("s", "c")
            # one array-valued agg column (identical AVG buffers and
            # identical engine-side rounding, one F.expr parse instead
            # of dsub expr+alias py4j calls per step — see ivf_train)
            .agg(
                F.expr(
                    "array("
                    + ",".join(
                        f"round(avg(sub[{i}]), {cent_dp})" for i in range(dsub)
                    )
                    + ")"
                ).alias("a")
            )
            .collect()
        )
        got = {(r["s"], r["c"]): [float(x) for x in r["a"]] for r in rows}
        cbs = [
            [got.get((s, j), cbs[s][j]) for j in range(ksub)] for s in range(m)
        ]
    v.unpersist()
    return cbs
