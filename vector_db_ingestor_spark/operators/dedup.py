"""Deduplication operators for the training-data pipeline (north star).

The reference has no dedup (its nearest analogue is the deterministic
``chunk_id = f"{filename}_chunk_{i}"`` at
``src/PDFToChromaIngester.py:163``); these are the standard large-corpus
dedup families, each expressed shuffle-consciously:

* exact        — content-hash groupBy; one shuffle on the hash.
* minhash LSH  — shingle -> K minhash perms -> B bands -> band-bucket
                 join; candidate pairs only ever meet inside a bucket,
                 so the join never goes quadratic.
* simhash      — 64-bit weighted-bit fingerprint per doc (Arrow-batched
                 numpy UDF), near-dup = small Hamming distance within
                 band buckets.
* n-gram Jaccard — token-shingle set similarity verified pairwise on
                 LSH candidates (or a blocked self-join at small scale).
* embedding cosine — near-dup by vector similarity on a blocked
                 self-join (label blocks here; LSH buckets at scale).

All hashing uses Spark built-ins (``xxhash64``, ``sha2``) — fully
deterministic, JVM-side, no Python in the hot path except the simhash
fingerprint which is a vectorized pandas UDF.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T


# ---------------------------------------------------------------- exact

def dedup_exact(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Keep the lowest-id row per exact text duplicate group.

    ``sha2`` the text (256-bit — collision-free in practice at 100 TB),
    rank within hash groups, keep rank 1.  One shuffle, on the digest,
    which is uniformly distributed — no skew by construction.
    """
    w = Window.partitionBy(F.sha2(F.col(text_col), 256)).orderBy(F.col(id_col))
    return (
        df.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )


# ------------------------------------------------------------- shingles

def word_shingles_sql(text_sql: str, n: int = 3) -> str:
    """Sorted distinct word n-grams of lowercased whitespace tokens, as
    a SQL fragment over a SQL sub-expression (usually a quoted column
    name).

    The token array is bound once per row through a lambda variable
    (``transform`` over a singleton array): referencing the raw
    ``split(...)`` expression inside the per-gram lambda makes Catalyst
    re-evaluate the regex split for every gram — measured ~5x slower on
    the documents table.  With the binding, shingling is one split +
    O(words * n) array work per row, all JVM-side.  Grams are
    ``concat_ws`` over n ``element_at`` lookups (no per-gram array;
    slice+array_join was ~2x slower).  Docs with fewer than n tokens
    yield an empty set: ``sequence(0, size-n)`` would otherwise descend
    through negative indices and fault ``element_at`` under ANSI mode.
    """
    toks = f"split(lower(trim({text_sql})), '\\\\s+')"
    if n == 1:
        return f"array_sort(array_distinct({toks}))"
    gram = "concat_ws(' ', " + ", ".join(
        f"element_at(t, i + {j + 1})" for j in range(n)
    ) + ")"
    grams = (
        f"array_sort(array_distinct(transform(sequence(0, size(t) - {n}),"
        f" i -> {gram})))"
    )
    return (
        f"element_at(transform(array({toks}), t -> "
        f"CASE WHEN size(t) >= {n} THEN {grams} "
        f"ELSE CAST(array() AS ARRAY<STRING>) END), 1)"
    )


# ---------------------------------------------------------- minhash LSH

#: modulus for the portable ("md5") minhash permutation family: the
#: smallest prime above 2^32, so a 32-bit base hash permutes without bias
MINHASH_P = 4294967311


def minhash_perm_consts(num_perm: int) -> list[tuple[int, int]]:
    """Deterministic (a, b) pairs for the affine permutations
    h_s(x) = (a_s*x + b_s) mod P of the portable minhash family.
    Constants are < 2^31 so a_s * x never overflows int64 for any
    32-bit base hash — the same closed form any external engine can
    re-derive (multipliers are the public Knuth/xxhash mixing primes).
    """
    m31 = 2147483647  # 2^31 - 1 (prime)
    consts = []
    for s in range(num_perm):
        a = (2654435761 * (s + 1)) % m31 or 1
        b = (2246822519 * (s + 1) + 3266489917) % m31
        consts.append((a, b))
    return consts


def minhash_signature(
    shingles: str, num_perm: int = 64, hash_family: str = "xxhash64"
) -> Column:
    """num_perm minhash values of a gram-array column (name or SQL
    fragment), all JVM-side.

    Classic K-hash construction with the standard one-string-hash
    optimization: each shingle string is hashed ONCE, and the K
    "independent" functions re-hash that value with K seeds; the re-hash
    is far cheaper than hashing the string K times, and the composition
    stays uniform and deterministic.  The base-hash array is bound
    through a lambda variable so it is computed once, not once per seed.

    This per-row form is the portable CONTRACT (tests and the DuckDB
    oracle mirror it term-for-term).  The hot path,
    :func:`minhash_candidates`, computes the identical signature as
    explode + K MIN aggregates instead (:func:`minhash_signatures`) —
    one hash-agg pass rather than K array walks per doc.  Both shapes
    build from the one family definition, :func:`_minhash_family_sql`,
    and are asserted equal in tests/test_operators.py.
    """
    base_of, perms = _minhash_family_sql(num_perm, hash_family)
    sig = "array(" + ",".join(
        f"array_min(transform(h, x -> {p('x')}))" for p in perms
    ) + ")"
    return F.expr(
        f"element_at(transform(array(transform({shingles}, g -> {base_of('g')})),"
        f" h -> {sig}), 1)"
    )


def _minhash_family_sql(num_perm: int, hash_family: str):
    """The ONE definition of a minhash family, as SQL-fragment
    builders: ``(base_of, perms)`` where ``base_of(gram_sql)`` is the
    per-gram base hash and ``perms[s](base_sql)`` the s-th permutation.

    * ``"xxhash64"`` (default, hot path) — base xxhash64(s); perm s
      re-hashes with seed s; 8-byte long minima.
    * ``"md5"`` (portable/verification) — base is the first 8 md5 hex
      chars as a 32-bit int; perms are affine (a*x + b) mod P
      (:func:`minhash_perm_consts`) — pure BIGINT arithmetic both
      engines evaluate identically (products stay under 2^63: base <
      2^32, consts < 2^31), so an external engine re-derives the
      signature — and therefore the LSH candidate set — bit-for-bit.
    """
    if hash_family == "md5":
        base_of = lambda g: (  # noqa: E731
            f"CAST(conv(substring(md5({g}), 1, 8), 16, 10) AS BIGINT)"
        )
        perms = [
            (lambda x, a=a, b=b: f"(({x} * {a} + {b}) % {MINHASH_P})")
            for a, b in minhash_perm_consts(num_perm)
        ]
    else:
        base_of = lambda g: f"xxhash64({g})"  # noqa: E731
        perms = [(lambda x, s=s: f"xxhash64({x}, {s})") for s in range(num_perm)]
    return base_of, perms


def minhash_signatures(
    sh_df: DataFrame,
    num_perm: int = 64,
    hash_family: str = "xxhash64",
    id_col: str = "mh_id",
    sh_col: str = "sh",
) -> DataFrame:
    """(id, sig) signatures via explode + K MIN aggregates — the hot
    path :func:`minhash_candidates` uses (2.2x faster than K per-row
    HOF array walks; see SCALING.md).  Same family definition as
    :func:`minhash_signature`, and the two shapes are asserted equal
    in tests/test_operators.py.  Rows with empty gram arrays produce
    no signature."""
    base_of, perms = _minhash_family_sql(num_perm, hash_family)
    exploded = sh_df.select(id_col, F.explode(sh_col).alias("__g")).select(
        id_col, F.expr(base_of("__g")).alias("__bh")
    )
    # ONE agg column holding array(min(p0), ..., min(pK-1)): the same
    # K MIN aggregate buffers execute (identical values), but the plan
    # builds with ONE F.expr parse instead of K expr+alias py4j calls,
    # a K-column agg conversion, and a separate array-building Project
    # — measured ~1.3 s -> ~0.3 s of per-invocation build at K=64.
    sig = "array(" + ",".join(f"min({p('__bh')})" for p in perms) + ")"
    return exploded.groupBy(id_col).agg(F.expr(sig).alias("sig"))


def minhash_candidates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_perm: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
    with_estimate: bool = True,
    hash_family: str = "xxhash64",
    shingled: DataFrame | None = None,
) -> DataFrame:
    """LSH candidate pairs: docs sharing >=1 minhash band.

    rows = bands x rows_per_band; a pair collides in a band iff all
    rows_per_band minhashes agree there.  The plan:

      sig -> explode bands -> groupBy (band_idx, band_hash) bucket join

    The only shuffle keys are band buckets — cardinality ~n_docs x B /
    bucket_size; no quadratic blow-up.  Output: (id_a < id_b) pairs with
    their estimated jaccard (fraction of agreeing minhashes).

    ``with_estimate=False`` drops the signature columns from the banded
    exchange and returns bare (id_a, id_b) pairs: the band shuffle then
    carries ~20 bytes/row instead of ~550 (the num_perm x int64
    signature rides every one of the `bands` copies otherwise).  Use it
    when a downstream verify stage recomputes exact similarity anyway
    (:func:`minhash_verified_pairs`) — shuffle volume is the dominant
    cost of candidate generation at 100 TB.

    ``shingled`` OVERRIDES ``df``/``text_col``/``shingle_n`` (ADVICE
    r15 #4): when provided it must carry exactly ``(mh_id, sh)`` —
    the id column renamed to ``mh_id`` and ``sh`` built by
    :func:`word_shingles_sql` with the SAME
    ``shingle_n`` the caller would otherwise pass; the other three
    arguments are ignored.  The only intended caller is
    :func:`minhash_verified_pairs`'s shared-scan path, which persists
    one shingle table and feeds both the signature pipeline and the
    exact verify.
    """
    from pyspark import StorageLevel

    from vector_db_ingestor_spark.caching import register

    rows_per_band = num_perm // bands
    if shingled is None:
        # materialize shingles in their own projection: inlining the
        # shingle expression into all num_perm minhash expressions
        # defeats CSE and recomputes the split/ngram work 64x
        shingled = df.select(
            F.col(id_col).alias("mh_id"),
            F.expr(word_shingles_sql(f"`{text_col}`", shingle_n)).alias("sh"),
        )
    # gram-less docs (fewer tokens than shingle_n) have no signature;
    # they can never near-dup anyway, and excluding them (a) keeps the
    # oracle-side expression NULL-free, (b) avoids the all-NULL-sig
    # artifact where every empty doc would share one band bucket
    shingled = shingled.filter(F.size("sh") > 0)
    # signature via explode -> num_perm MIN aggregates, NOT num_perm
    # array passes: the per-row HOF shape (array_min(transform(...)) x
    # K, see minhash_signature) re-walks the gram array K times per
    # doc; as exploded rows the K affine perms + minima run in ONE
    # codegen'd hash-agg pass — measured 2.2x faster at sf0.1.  The
    # map-side partial agg collapses each doc's grams before the
    # exchange (a doc's grams all sit in its input partition), so the
    # groupBy shuffle carries just num_perm longs per doc — the
    # signature itself, same volume the old narrow plan produced.
    sig = minhash_signatures(shingled, num_perm, hash_family)
    if with_estimate:
        # r16: the signature never rides the banded exchange any more.
        # Carrying it multiplied the band shuffle by ~num_perm x 8 B x
        # bands per doc (the guide-§8 heavy-payload-through-the-shuffle
        # anti-pattern); instead the signature table is persisted once
        # (corpus x (id + num_perm longs) — the smallest relation that
        # can answer the estimate) and joined back onto the DEDUPED
        # candidate pairs, so each unique pair folds its agreement
        # exactly once.  Same signatures, same pairs, same est_jaccard.
        sig = register(sig.persist(StorageLevel.MEMORY_AND_DISK))
    if hash_family == "md5":
        # band key as md5 of the pipe-joined decimal minima: reproducible
        # by any engine, unlike Spark's murmur hash() over an array<long>
        band_of = lambda b: (  # noqa: E731
            f"md5(array_join(CAST(slice(sig, {b * rows_per_band + 1},"
            f" {rows_per_band}) AS ARRAY<STRING>), '|'))"
        )
    else:
        band_of = lambda b: (  # noqa: E731
            f"hash(slice(sig, {b * rows_per_band + 1}, {rows_per_band}))"
        )
    banded = sig.select(
        "mh_id",
        F.posexplode(
            F.expr("array(" + ",".join(band_of(b) for b in range(bands)) + ")")
        ).alias("band_idx", "band_hash"),
    )
    # persist the banded table (bands x (id, band key) per doc, the
    # smallest corpus-derived relation in this plan) so the signature
    # pipeline computes once: both self-join sides read the cache.
    # Each side then shuffles the cached rows on (band_idx, band_hash)
    # for the join; a persisted table cannot feed a ReusedExchange
    # (canonicalized InMemoryTableScan instances differ), and a
    # repartition before the persist would only add a third shuffle
    # of the same rows.  The shuffle_hash hint keeps AQE from
    # broadcasting one side — at real scale the banded corpus is never
    # broadcast-able anyway.
    banded = register(banded.persist(StorageLevel.MEMORY_AND_DISK))
    left = banded.select(
        F.col("mh_id").alias("id_a"),
        "band_idx",
        "band_hash",
    )
    right = banded.select(
        F.col("mh_id").alias("id_b"),
        "band_idx",
        "band_hash",
    )
    pairs = (
        left.hint("shuffle_hash")
        .join(right, ["band_idx", "band_hash"])
        .filter(F.col("id_a") < F.col("id_b"))
        .drop("band_idx", "band_hash")
        .dropDuplicates(["id_a", "id_b"])
    )
    if not with_estimate:
        return pairs.select("id_a", "id_b")
    # estimate folds ONCE per unique pair, after the dedup, from the
    # persisted signature table (two id-equi-joins on a pair set that
    # is orders of magnitude smaller than the corpus; AQE broadcasts
    # the smaller side whichever that is)
    agree = F.size(
        F.filter(
            F.zip_with(F.col("sig_a"), F.col("sig_b"), lambda x, y: x == y),
            lambda v: v,
        )
    )
    return (
        pairs.join(
            sig.select(F.col("mh_id").alias("id_a"), F.col("sig").alias("sig_a")),
            "id_a",
        )
        .join(
            sig.select(F.col("mh_id").alias("id_b"), F.col("sig").alias("sig_b")),
            "id_b",
        )
        .select(
            "id_a",
            "id_b",
            F.round(agree / F.lit(float(num_perm)), 6).alias("est_jaccard"),
        )
    )


# -------------------------------------------------------------- simhash

def fnv1a64_ref(token: str) -> int:
    """Scalar FNV-1a 64 reference (unsigned), the contract the batch
    kernel below must reproduce bit-for-bit — it is also what the
    DuckDB oracle replays in HUGEINT arithmetic."""
    h = 0xCBF29CE484222325
    for byte in token.encode("utf-8"):
        h = ((h ^ byte) * 0x100000001B3) & 0xFFFFFFFFFFFFFFFF
    return h


def simhash_udf(num_bits: int = 64):
    """64-bit SimHash fingerprint over whitespace tokens.

    Fully vectorized: per Arrow batch, ALL tokens of the batch are
    FNV-1a hashed in one numpy sweep — tokens sorted by length
    descending, then one xor-multiply step per byte position over the
    still-live prefix (uint64 wraps mod 2^64, bit-identical to
    :func:`fnv1a64_ref`).  Bits vote +-1, votes aggregate per document
    with ``add.reduceat`` over the doc-ordered token runs, and the sign
    vector packs into one int64.  No per-token Python remains.
    """

    @F.pandas_udf(T.LongType())
    def _simhash(batch_iter: Iterator[pd.Series]) -> Iterator[pd.Series]:
        shifts = np.arange(num_bits, dtype=np.uint64)

        for series in batch_iter:
            texts = series.tolist()
            n_docs = len(texts)
            out = np.zeros(n_docs, dtype=np.uint64)
            doc_toks = [
                [t.encode("utf-8") for t in text.lower().split()] if text else []
                for text in texts
            ]
            counts = np.fromiter(
                (len(d) for d in doc_toks), dtype=np.int64, count=n_docs
            )
            total = int(counts.sum())
            if total:
                toks = [t for doc in doc_toks for t in doc]
                lens = np.fromiter((len(t) for t in toks), dtype=np.int64, count=total)
                flat = np.frombuffer(b"".join(toks), dtype=np.uint8)
                starts = np.concatenate(([0], np.cumsum(lens)[:-1]))
                # length-descending order => the tokens still unhashed at
                # byte position j are a prefix, so each step is a slice
                perm = np.argsort(-lens, kind="stable")
                starts_s, neg_lens_s = starts[perm], -lens[perm]
                maxlen = int(lens.max())
                live = np.searchsorted(neg_lens_s, -np.arange(maxlen), side="left")
                h = np.full(total, 0xCBF29CE484222325, dtype=np.uint64)
                prime = np.uint64(0x100000001B3)
                with np.errstate(over="ignore"):
                    for j in range(maxlen):
                        n = live[j]
                        h[:n] = (h[:n] ^ flat[starts_s[:n] + j]) * prime
                h_doc = np.empty_like(h)
                h_doc[perm] = h  # back to doc order for the segment sums
                nz = counts > 0
                cnz = counts[nz]
                bounds = np.concatenate(([0], np.cumsum(cnz)[:-1]))
                # one bit at a time: a tokens x num_bits sign matrix
                # would be ~0.5 KB/token — per-batch GBs once 32 tasks
                # run it concurrently; this keeps one token-length temp
                fp = np.zeros(len(cnz), dtype=np.uint64)
                for b in shifts:
                    ones = np.add.reduceat(
                        ((h_doc >> b) & np.uint64(1)).astype(np.int64), bounds
                    )
                    # votes = 2*ones - n_tokens; bit set iff votes > 0
                    fp |= (2 * ones > cnz).astype(np.uint64) << b
                out[nz] = fp
            yield pd.Series(out.view(np.int64))

    return _simhash


def simhash_band_layout(n_bands: int) -> list[tuple[int, int]]:
    """(offset, width) per band, covering ALL 64 fingerprint bits with
    widths as equal as possible (64//n + an extra bit on the first
    64%n bands).  Completeness argument: a pair at Hamming distance d
    dirties at most d bands, so for d <= n_bands-1 at least one band
    matches exactly — and because every bit belongs to exactly one
    band, no differing bit can hide outside the layout.  For n_bands
    dividing 64 (the default 4) this reproduces the historical equal
    16-bit split bit-for-bit.
    """
    if not 1 <= n_bands <= 64:
        raise ValueError(f"n_bands must be in [1, 64], got {n_bands}")
    base, extra = divmod(64, n_bands)
    layout, off = [], 0
    for i in range(n_bands):
        w = base + (1 if i < extra else 0)
        layout.append((off, w))
        off += w
    return layout


def simhash_near_dups(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
    bands: int | str = 4,
) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance <= max_hamming.

    Pigeonhole blocking: split the 64-bit fingerprint into ``bands``
    near-equal blocks; any pair within Hamming distance bands-1 shares
    at least one exact block, so the self-join runs on block buckets,
    never all-pairs.

    Recall contract: completeness is guaranteed ONLY for
    ``max_hamming <= bands - 1``.  Above that, a pair can spread its
    differing bits across ALL bands (e.g. Hamming 4 with one flipped
    bit in each of 4 bands) and share no block — such pairs are
    silently missed; what IS emitted is still exact (the Hamming
    filter runs on full fingerprints).  Callers wanting banded-recall
    semantics on purpose (candidate generation, not exhaustive
    enumeration) get a ``UserWarning`` so the partial recall is never
    invisible.

    ``bands="auto"`` derives ``max_hamming + 1`` bands, turning the
    warning into a completeness-by-construction GUARANTEE: every pair
    at Hamming <= max_hamming shares at least one band.  The cost is
    narrower bands (e.g. 11 bands of 5-6 bits at max_hamming=10), so
    more spurious bucket collisions reach the exact Hamming verify —
    candidate volume rises as bands narrow; the verify stays exact
    either way, so this is a recall/cost dial, not a precision one.
    """
    if bands == "auto":
        if max_hamming > 63:
            raise ValueError(
                f"bands='auto' needs max_hamming <= 63 (got {max_hamming}): "
                "a 64-bit fingerprint cannot carry max_hamming+1 bands"
            )
        n_bands = max_hamming + 1
    else:
        n_bands = int(bands)
        if max_hamming > n_bands - 1:
            import warnings

            warnings.warn(
                f"simhash_near_dups: max_hamming={max_hamming} exceeds the "
                f"pigeonhole guarantee of bands-1={n_bands - 1}; pairs whose "
                "differing bits spread across all bands are missed "
                "(banded-recall candidate semantics, not exhaustive "
                "enumeration). Use bands='auto' (= max_hamming + 1 bands) "
                "for completeness by construction.",
                UserWarning,
                stacklevel=2,
            )
    # coalesce marks fp provably non-null (the kernel never returns
    # null): without it, the join-key constraint isnotnull(band_val)
    # infers isnotnull(fp) and Catalyst evaluates the Arrow kernel a
    # SECOND time per side just to run that filter (observed in the
    # executed plan as two ArrowEvalPython nodes per scan)
    fp = df.select(
        F.col(id_col).alias("sh_id"),
        F.coalesce(simhash_udf()(F.col(text_col)), F.lit(0)).alias("fp"),
    )
    banded = fp.select(
        "sh_id",
        "fp",
        F.posexplode(
            F.array(
                *[
                    F.shiftright(F.col("fp"), off).bitwiseAND(
                        F.lit((1 << width) - 1)
                    )
                    for off, width in simhash_band_layout(n_bands)
                ]
            )
        ).alias("band_idx", "band_val"),
    )
    # shared exchange, pinned with shuffle_hash: letting AQE broadcast
    # one side breaks ReusedExchange and re-runs the Arrow simhash
    # kernel (the expensive stage) over the corpus twice
    banded = banded.repartition("band_idx", "band_val")
    left = banded.selectExpr("sh_id as id_a", "fp as fp_a", "band_idx", "band_val")
    right = banded.selectExpr("sh_id as id_b", "fp as fp_b", "band_idx", "band_val")
    hamming = F.bit_count(F.col("fp_a").bitwiseXOR(F.col("fp_b")))
    # r16: emit each pair from its FIRST colliding band instead of
    # dropDuplicates (guide §2.4 — one Exchange removed).  A joined row
    # exists for every (pair, colliding band); the row survives iff
    # every EARLIER band of the pair differs, i.e. (fp_a ^ fp_b) has a
    # set bit inside that band's placed mask — pure codegen arithmetic
    # on columns already in the row.  Every colliding pair has exactly
    # one minimal colliding band, so each pair is emitted exactly once
    # with the identical (id_a, id_b, hamming) values the dedup kept;
    # the multi-collision rows (near-identical fps collide in ~all
    # bands on a dense corpus) stop riding a corpus-pairs-sized
    # exchange.  The Hamming predicate stays FIRST in the conjunction:
    # it kills the vast majority of joined rows before the per-band
    # CASE runs.
    layout = simhash_band_layout(n_bands)

    def _sign64(m: int) -> int:
        return m - (1 << 64) if m >= (1 << 63) else m

    placed = [_sign64(((1 << w) - 1) << off) for off, w in layout]
    first_band = F.expr(
        "CASE band_idx "
        + " ".join(
            f"WHEN {b} THEN "
            + (
                " AND ".join(
                    f"((fp_a ^ fp_b) & {placed[i]}L) != 0" for i in range(b)
                )
                or "true"
            )
            for b in range(n_bands)
        )
        + " ELSE false END"
    )
    return (
        left.hint("shuffle_hash")
        .join(right, ["band_idx", "band_val"])
        .filter(F.col("id_a") < F.col("id_b"))
        .filter((hamming <= max_hamming) & first_band)
        .select("id_a", "id_b", hamming.alias("hamming"))
    )


# ----------------------------------------------------- n-gram jaccard

def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    block_col: str | None = "lang",
    n: int = 2,
    threshold: float = 0.5,
    max_df: int | None = None,
    max_hot_df: int | None = 1000,
) -> DataFrame:
    """Exact Jaccard over word n-gram sets.

    NOT a pairwise array-ops join: intersection sizes come from the
    explode -> self-join on (block, gram) -> groupBy-count pattern, and
    ``|A u B| = |A| + |B| - |A n B|``.  Everything is hash joins and
    hash aggregation (JVM-side, AQE/skew-aware) — no quadratic
    per-pair array scanning.  Pairs sharing zero grams can never reach
    any positive threshold, so restricting to gram-sharing pairs is
    exact.

    ``max_df`` is the hot-gram cap for scale: a gram occurring in more
    than ``max_df`` documents (a stopword-like shingle) contributes
    ~df^2/2 join rows — the one place this plan can go quadratic.  With
    the cap, candidate pairs are generated from *rare* grams only, then
    verified with an exact array-intersection over the pair's FULL gram
    sets, so every reported jaccard is still exact.  Recall contract:
    the only pairs missed are those whose shared grams are ALL hot
    (each in > max_df docs) — for near-dup thresholds those are
    boilerplate-only overlaps, and any pair sharing one rare gram is
    still found.  ``max_df=None`` keeps the fully-exact single-pass
    plan (the verify-stage role, cf. :func:`minhash_verified_pairs`).

    ``max_hot_df`` is the fail-fast guard for the UNCAPPED plan: a gram
    in df documents emits ~df^2/2 self-join rows, so one stopword-like
    shingle in 10^6 docs means 5*10^11 rows from that gram alone — an
    unbounded shuffle discovered only after hours of cluster time.
    Before building the join, the uncapped path runs one cheap
    hash-agg job over the gram stream and raises ``ValueError`` if any
    (block, gram) exceeds ``max_hot_df`` documents, naming the worst
    offender and routing the caller to ``max_df=...`` (capped
    candidates + exact verify) or :func:`minhash_verified_pairs`.
    With the guard on, the shingled/hashed token stream is persisted
    (MEMORY_AND_DISK) so the corpus is shingled ONCE — the guard's
    aggregation and the returned join plan share the cache rather than
    each re-running tokenize+shingle+hash; the cache stays alive for
    the returned DataFrame and its handle is registered with
    :mod:`vector_db_ingestor_spark.caching` — call
    ``caching.release_all()`` after consuming the result (bench.py
    does this per rep), or it waits for ContextCleaner GC.  ``max_hot_df=None`` disables the guard, its
    eager job, and the cache — the fully-lazy single-exchange plan —
    for verify-stage calls on pre-vetted/pre-blocked corpora (the
    registered query keys pass ``None``: their fixtures are vetted and
    plan-audited).  The capped plan needs no guard: its candidate
    generation drops hot grams by construction.
    """
    sh = df.select(
        F.col(id_col).alias("gid"),
        *( [F.col(block_col).alias("blk")] if block_col else [F.lit(1).alias("blk")] ),
        F.expr(word_shingles_sql(f"`{text_col}`", n)).alias("grams"),
    )
    if max_df is not None:
        return _ngram_jaccard_capped(sh, threshold, max_df)
    # join on a 64-bit gram hash, not the string: smaller shuffle rows,
    # cheaper key compare (collisions across distinct grams of one doc
    # pair are ~n_grams^2/2^64 — immaterial next to float rounding).
    # The set size rides along with every gram row (constant per gid,
    # min() in the agg), so no separate sizes branch re-computing the
    # shingles and no post-aggregation joins — one exchange (reused on
    # both join sides) + one pair aggregation is the whole plan.
    toks = (
        sh.select(
            "gid", "blk", F.size("grams").alias("sz"), F.explode("grams").alias("g")
        )
        .select("gid", "blk", "sz", F.xxhash64("g").alias("gram"))
        # pre-partition on the join key: both self-join sides hang off
        # the SAME exchange (ReusedExchange), so tokenize+shingle+hash
        # runs ONCE over the corpus instead of once per side — and the
        # join itself needs no further shuffle
        .repartition("blk", "gram")
    )
    if max_hot_df is not None:
        # eager, mirrors the ivf_write input-guard pattern
        # (similarity.py): pay one small aggregation job now rather
        # than an unbounded shuffle later.  The guard aggregates the
        # SAME cached token stream the join consumes, so shingling runs
        # once per corpus, not once for the guard and again for the
        # join.  Grams are distinct per doc (word_shingles_sql dedups), so
        # count(*) == document frequency — per xxhash64(gram) bucket:
        # a 64-bit collision between distinct grams would merge their
        # dfs and could trip the guard spuriously (never miss a real
        # hot gram — collisions only INFLATE a bucket's count), at
        # ~n_grams^2/2^64 odds; the same hash space the join itself
        # keys on, so the guard is exactly as collision-exposed as the
        # plan it protects.
        from pyspark import StorageLevel

        from vector_db_ingestor_spark.caching import register

        toks = register(toks.persist(StorageLevel.MEMORY_AND_DISK))
        worst = (
            toks.groupBy("blk", "gram")
            .count()
            .filter(F.col("count") > max_hot_df)
            .orderBy(F.col("count").desc())
            .take(1)
        )
        if worst:
            row = worst[0]
            # failure path only: recover the human-readable gram for the
            # error message (the cached stream carries just the hash)
            offender = (
                sh.select("blk", F.explode("grams").alias("g"))
                .filter(
                    (F.col("blk") == F.lit(row["blk"]))
                    & (F.xxhash64("g") == F.lit(row["gram"]))
                )
                .take(1)
            )
            gram_repr = repr(offender[0]["g"]) if offender else f"hash={row['gram']}"
            toks.unpersist()
            raise ValueError(
                "ngram_jaccard_pairs (uncapped): hot gram "
                f"{gram_repr} appears in {row['count']} documents of "
                f"block {row['blk']!r} (> max_hot_df={max_hot_df}); the "
                f"self-join would emit ~{row['count'] ** 2 // 2:,} rows "
                "for this gram alone. Use max_df=<cap> (rare-gram "
                "candidates + exact verify), minhash_verified_pairs "
                "(LSH candidates + exact verify), or raise "
                "max_hot_df/pass max_hot_df=None if the blowup is "
                "genuinely intended."
            )
    x = toks.selectExpr("gid as id_a", "blk", "gram", "sz as sz_a")
    y = toks.selectExpr("gid as id_b", "blk", "gram", "sz as sz_b")
    inter = (
        x.join(y, ["blk", "gram"])
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(
            F.count("*").alias("n_inter"),
            F.min("sz_a").alias("sz_a"),
            F.min("sz_b").alias("sz_b"),
        )
    )
    jac = F.col("n_inter") / (F.col("sz_a") + F.col("sz_b") - F.col("n_inter"))
    return inter.select(
        "id_a", "id_b", F.round(jac, 6).alias("jaccard")
    ).filter(F.col("jaccard") >= threshold)


def _capped_candidates(sh: DataFrame, max_df: int) -> DataFrame:
    """Candidate ``(id_a, id_b)`` pairs sharing at least one RARE gram
    (document frequency <= ``max_df``) — the shared candidate stage of
    the capped verify-exact plans (:func:`_ngram_jaccard_capped`,
    :func:`containment_pairs`).

    The hot-gram list itself is tiny by definition (few grams exceed
    ``max_df``), so compute it with a hash agg and remove via broadcast
    anti-join — the token stream is shuffled ONCE (repartition on the
    self-join key; both sides read the persisted rare stream and
    inherit its hash partitioning), not re-sorted for a window.  Grams
    are distinct per doc, so count(*) == df.  Pairs join on a 64-bit
    gram hash (smaller shuffle rows; cross-doc collisions only ADD
    candidates, at ~n_grams²/2^64 odds, and the exact verify scores
    them honestly).

    r16: the rare-gram stream is persisted (MEMORY_AND_DISK, registered
    with :mod:`vector_db_ingestor_spark.caching`).  Without it the two
    self-join sides each recomputed scan -> shingle -> explode -> hash
    -> anti-join (ReusedExchange does not match once the callers hand
    in a persisted shingle table — the r15 InMemoryTableScan
    canonicalization issue), so the corpus was re-shingled per side."""
    from pyspark import StorageLevel

    from vector_db_ingestor_spark.caching import register

    toks = sh.select(
        "gid", "blk", F.explode("grams").alias("g")
    ).select("gid", "blk", F.xxhash64("g").alias("gram"))
    hot = (
        toks.groupBy("blk", "gram")
        .count()
        .filter(F.col("count") > max_df)
        .select("blk", "gram")
    )
    rare = toks.repartition("blk", "gram").join(
        F.broadcast(hot), ["blk", "gram"], "left_anti"
    )
    rare = register(rare.persist(StorageLevel.MEMORY_AND_DISK))
    return (
        rare.selectExpr("gid as id_a", "blk", "gram")
        .join(rare.selectExpr("gid as id_b", "blk", "gram"), ["blk", "gram"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .dropDuplicates(["id_a", "id_b"])
    )


def _ngram_jaccard_capped(sh: DataFrame, threshold: float, max_df: int) -> DataFrame:
    """Candidates from rare grams (df <= max_df), exact verify on full
    gram sets.  See :func:`ngram_jaccard_pairs` for the recall contract.

    r16: the shingled table is persisted for the query's duration —
    the candidate stage (token stream + hot-gram guard) and the two
    verify-side gram-array joins all consume it, and without the cache
    each consumer re-ran scan -> tokenize -> shingle over the corpus
    (6 parquet scans in the executed plan; 1 with the cache).
    """
    from pyspark import StorageLevel

    from vector_db_ingestor_spark.caching import register

    sh = register(sh.persist(StorageLevel.MEMORY_AND_DISK))
    cand = _capped_candidates(sh, max_df)
    ga = sh.select(F.col("gid").alias("id_a"), F.col("grams").alias("grams_a"))
    gb = sh.select(F.col("gid").alias("id_b"), F.col("grams").alias("grams_b"))
    n_inter = F.size(F.array_intersect("grams_a", "grams_b"))
    n_union = F.size("grams_a") + F.size("grams_b") - n_inter
    return (
        cand.join(ga, "id_a")
        .join(gb, "id_b")
        .select(
            "id_a",
            "id_b",
            F.round(n_inter / n_union, 6).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def containment_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    block_col: str | None = "lang",
    n: int = 2,
    threshold: float = 0.5,
    max_df: int = 5,
) -> DataFrame:
    """Exact min-side CONTAINMENT over word n-gram sets — the
    asymmetric near-subset detector Jaccard washes out.

    ``containment = |A n B| / min(|A|, |B|)``: a 50-gram doc fully
    embedded in a 5000-gram doc scores jaccard ~0.01 (invisible at any
    sane threshold) but containment 1.0 — the quote/excerpt/
    re-publication duplication shape a crawl-scale corpus is full of,
    and the reason containment is the standard complement to Jaccard
    in training-data dedup.  Output: ``(id_a, id_b, sz_a, sz_b,
    n_inter, containment)`` with ``id_a < id_b`` and the direction
    recoverable from the sizes (the smaller side is the contained
    one; equal sizes make the measure symmetric).

    The plan is :func:`ngram_jaccard_pairs`'s capped shape verbatim —
    candidates from RARE grams only (document frequency <=
    ``max_df``, hot grams removed via broadcast anti-join; the token
    stream shuffles ONCE on the self-join key), then exact
    verification over the candidate pair's FULL gram sets.  Recall
    contract, inherited and sharper here: the only pairs missed are
    those whose every shared gram is hot (> ``max_df`` docs) — i.e.
    docs "contained" purely in boilerplate, exactly the pairs a
    containment dedup must NOT merge.  There is deliberately no
    uncapped variant: a contained short doc shares ALL its grams, so
    candidate volume without the cap is bounded by the hottest gram's
    df^2 — worse than Jaccard's, not better.
    """
    from pyspark import StorageLevel

    from vector_db_ingestor_spark.caching import register

    sh = df.select(
        F.col(id_col).alias("gid"),
        *(
            [F.col(block_col).alias("blk")]
            if block_col
            else [F.lit(1).alias("blk")]
        ),
        F.expr(word_shingles_sql(f"`{text_col}`", n)).alias("grams"),
    )
    # shared-scan persist, same shape as _ngram_jaccard_capped (r16)
    sh = register(sh.persist(StorageLevel.MEMORY_AND_DISK))
    cand = _capped_candidates(sh, max_df)
    ga = sh.select(F.col("gid").alias("id_a"), F.col("grams").alias("grams_a"))
    gb = sh.select(F.col("gid").alias("id_b"), F.col("grams").alias("grams_b"))
    n_inter = F.size(F.array_intersect("grams_a", "grams_b"))
    sz_a, sz_b = F.size("grams_a"), F.size("grams_b")
    return (
        cand.join(ga, "id_a")
        .join(gb, "id_b")
        .select(
            "id_a",
            "id_b",
            sz_a.alias("sz_a"),
            sz_b.alias("sz_b"),
            n_inter.alias("n_inter"),
            F.round(
                n_inter / F.least(sz_a, sz_b), 6
            ).alias("containment"),
        )
        .filter(F.col("containment") >= threshold)
    )


# ------------------------------------------------- embedding near-dup

def embedding_near_dups(
    embeddings: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.9,
    dim: int | None = None,
    n_bits: int = 8,
    block_col: str | None = None,
) -> DataFrame:
    """Near-dup pairs by embedding cosine >= threshold.

    Default blocking is random-hyperplane LSH buckets with 1-bit
    multiprobe (:func:`~vector_db_ingestor_spark.operators.similarity.
    rp_lsh_bucket`): candidates are pairs whose n_bits-bit signatures
    are at Hamming distance <= 1, generated by exploding ONE side of
    the self-join into its (n_bits + 1) probe buckets and hash-joining
    on the bucket id — candidate volume stays ~linear in corpus size,
    unlike any fixed-column blocking where a low-cardinality block goes
    quadratic within the block (the 100 TB failure mode of label
    blocking).  Exact cosine verify runs on candidates only.  Each
    qualifying pair is emitted exactly once: the flip mask matching a
    pair's signature xor is unique.

    Two preconditions for linearity, both measured in
    ``scripts/scale_probe.py`` (see SCALING.md): ``n_bits`` must grow
    with the corpus (use :func:`~vector_db_ingestor_spark.operators.
    similarity.auto_n_bits`; fixed bits measured 43x at 10x rows), and
    exact duplicates must be collapsed FIRST (:func:`dedup_exact`) —
    k-clone groups make the pair output itself quadratic in k.

    ``block_col`` forces equality blocking on an explicit column
    instead — the small-scale / verify-stage variant; it requires
    domain knowledge that near-dups can't cross blocks.

    Cost shape: cosine(a, b) is computed as dot(â, b̂) of pre-normalized
    vectors, while the per-pair work in the join (the O(candidates)
    part) drops from three interpreted HOF aggregates to one.
    Higher-order functions are interpreted, not codegen'd, so per-pair
    expression count is the dominant constant.

    The norm binds ONCE per row (:func:`~vector_db_ingestor_spark.
    functions.vector.normalize_sql`'s singleton-struct transform);
    a separate norm column would not protect it — CollapseProject
    inlines a single-use alias into the consuming lambda, re-running
    the 64-element norm aggregate PER ELEMENT and per CANDIDATE side
    (measured 2.26 s -> 0.91 s noop median for the whole pipeline at
    sf0.1 with the struct binding; identical pair set and cosines).
    """
    from vector_db_ingestor_spark.functions.vector import dot_sql, normalize_sql

    base = embeddings.select(
        F.col(id_col),
        F.col(vec_col).cast("array<double>").alias("__v"),
        *( [F.col(block_col)] if block_col is not None else [] ),
    )
    normed = base.select(
        id_col,
        "__v",
        *( [block_col] if block_col is not None else [] ),
        F.expr(normalize_sql("__v")).alias("__nv"),
    )
    cos = F.round(F.expr(dot_sql("vec_a", "vec_b")), 6)
    if block_col is not None:
        a = normed.select(
            F.col(id_col).alias("id_a"),
            F.col("__nv").alias("vec_a"),
            F.col(block_col).alias("blk"),
        )
        b = normed.select(
            F.col(id_col).alias("id_b"),
            F.col("__nv").alias("vec_b"),
            F.col(block_col).alias("blk"),
        )
        joined = a.join(b, "blk")
    else:
        if dim is None:
            raise ValueError("embedding_near_dups: dim is required for LSH blocking")
        from vector_db_ingestor_spark.operators.similarity import rp_lsh_bucket

        # bucket on the RAW vector (bit-parity with the oracle; a
        # near-zero hyperplane dot could flip sign under rescaling)
        e = normed.withColumn("__bkt", rp_lsh_bucket("__v", dim, n_bits))
        # the probe explode binds the bucket ONCE per row (singleton
        # struct, same CollapseProject-inlines-the-alias issue as the
        # norm above: referencing __bkt from the per-flip lambda re-ran
        # the n_bits hyperplane aggregates per probe variant — measured
        # 1.00 -> 0.89 s on the pipeline)
        masks = ",".join(str(1 << b) for b in range(n_bits))
        a = e.select(
            F.col(id_col).alias("id_a"),
            F.col("__nv").alias("vec_a"),
            F.explode(
                F.expr(
                    "element_at(transform(array(struct(__bkt AS k)),"
                    f" s -> transform(array(0,{masks}), m -> s.k ^ m)), 1)"
                )
            ).alias("__bkt"),
        )
        b = e.select(
            F.col(id_col).alias("id_b"),
            F.col("__nv").alias("vec_b"),
            F.col("__bkt"),
        )
        joined = a.join(b, "__bkt")
    return (
        joined.filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", cos.alias("cosine"))
        .filter(F.col("cosine") >= threshold)
    )


def minhash_verified_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.5,
    num_perm: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
    hash_family: str = "xxhash64",
) -> DataFrame:
    """The 100 TB near-dup pipeline: MinHash LSH candidates -> exact
    Jaccard verify on candidates only.

    :func:`ngram_jaccard_pairs` is exact but inherently quadratic in
    gram-sharing pairs; this caps the verify stage at the LSH candidate
    set (|candidates| ~ linear in corpus size for a sane band config).
    Verification here IS pairwise array ops — array_intersect/union per
    candidate row — which is the right tool once the pair set is small;
    recall is bounded by the band collision probability, precision is
    exact (every emitted pair's jaccard is true).

    With ``hash_family="md5"`` the candidate set itself is re-derivable
    by any engine (see :func:`minhash_signature`), so "candidates ∩
    jaccard >= t" is a closed-form, scale-independent contract — an
    external oracle can verify the output exactly at ANY corpus size,
    not just on fixtures where band recall happens to be complete.
    """
    from pyspark import StorageLevel

    from vector_db_ingestor_spark.caching import register

    # r15 optimization: the candidate path and the verify path both
    # need the shingled corpus; computing it twice meant two full
    # tokenize+shingle scans.  One persisted shingle table now feeds
    # both (the signature pipeline consumes it via the ``shingled``
    # hook, the verify joins consume the gram arrays directly) — same
    # shingle expression, identical values, one corpus pass.  The
    # handle is registered for the harness's release_all().
    sh = df.select(
        F.col(id_col).alias("gid"),
        F.expr(word_shingles_sql(f"`{text_col}`", shingle_n)).alias("grams"),
    ).persist(StorageLevel.MEMORY_AND_DISK)
    register(sh)
    cands = minhash_candidates(
        df, text_col, id_col, num_perm, bands, shingle_n,
        with_estimate=False, hash_family=hash_family,
        shingled=sh.select(
            F.col("gid").alias("mh_id"), F.col("grams").alias("sh")
        ),
    )
    a = sh.selectExpr("gid as id_a", "grams as grams_a")
    b = sh.selectExpr("gid as id_b", "grams as grams_b")
    jac = F.size(F.array_intersect("grams_a", "grams_b")) / F.size(
        F.array_union("grams_a", "grams_b")
    )
    return (
        cands.join(a, "id_a")
        .join(b, "id_b")
        .select("id_a", "id_b", F.round(jac, 6).alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


# ------------------------------------------------- duplicate clusters

def dedup_clusters(
    pairs: DataFrame,
    nodes: DataFrame,
    id_col: str = "doc_id",
    max_iters: int = 50,
) -> DataFrame:
    """Resolve pairwise near-dup edges into duplicate CLUSTERS:
    (id, cluster_id) where cluster_id is the minimum id in the
    connected component; singletons map to themselves.  This is the
    step that turns any pair-producing dedup (minhash / simhash /
    ngram / embedding) into "keep one representative per group".

    Min-label propagation: every node starts labeled with itself; each
    round a node adopts the smallest label among itself and its
    neighbors.  Converges in O(component diameter) rounds — near-dup
    components are short chains, so a handful of rounds in practice
    (``max_iters`` is a cycle-safety bound, not an accuracy knob: the
    fixpoint is exact).  Each round is one equi-join + one partial
    hash-agg; ``localCheckpoint`` cuts the growing lineage so the plan
    stays O(1) per round (same driver-held-iteration discipline as
    ``ivf_train``).  At 100 TB scale-out, the round count can be
    reduced with the large-star/small-star transform (Kiveris et al.,
    "Connected Components in MapReduce"), which this converges to for
    the fixture sizes without the extra machinery.
    """
    ids = nodes.select(F.col(id_col).alias("__node")).distinct()
    edges = (
        pairs.selectExpr("id_a AS __u", "id_b AS __v")
        .unionByName(pairs.selectExpr("id_b AS __u", "id_a AS __v"))
        .distinct()
        .localCheckpoint()
    )
    labels = ids.select("__node", F.col("__node").alias("__label")).localCheckpoint()
    converged = False
    for _ in range(max_iters):
        nbr_min = (
            edges.join(labels, edges["__v"] == labels["__node"])
            .groupBy("__u")
            .agg(F.min("__label").alias("__nbr_label"))
        )
        new_labels = (
            labels.join(nbr_min, labels["__node"] == nbr_min["__u"], "left")
            .select(
                "__node",
                F.least(
                    F.col("__label"), F.coalesce("__nbr_label", F.col("__label"))
                ).alias("__label"),
            )
            .localCheckpoint()
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), F.col("n.__node") == F.col("o.__node"))
            .filter(F.col("n.__label") != F.col("o.__label"))
            .count()
        )
        labels = new_labels
        if changed == 0:
            converged = True
            break
    if not converged:
        # labels would be a MIX of components resolved and not — wrong
        # cluster ids with no signal.  The fixpoint is exact, so hitting
        # the bound means a component's diameter exceeds max_iters (or a
        # pathological chain): surface it instead of returning bad data.
        raise RuntimeError(
            f"dedup_clusters did not converge within max_iters={max_iters}; "
            "raise max_iters (rounds needed ~ largest component diameter)"
        )
    return labels.select(
        F.col("__node").alias(id_col), F.col("__label").alias("cluster_id")
    )
