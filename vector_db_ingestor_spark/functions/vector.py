"""Vector distance / similarity, each formula written once as SQL.

The reference delegates similarity to ChromaDB's HNSW index with the
default ``l2`` space (collection creation at
``src/PDFToChromaIngester.py:51-54``); its BGE variants L2-normalize
embeddings (``src/PDFToChromaIngestorBgeEmbedding.py:45``) which makes
L2 rank-equivalent to cosine.  Here the same math is expressed as
built-in higher-order-function expressions (``zip_with`` +
``aggregate``), so scoring stays JVM-side — no Python round trip — and
is dimension-agnostic (the fixtures are 64-d, the reference models
384-d).

Each builder returns a SQL fragment over SQL sub-expressions (column
names, literals such as :func:`~vector_db_ingestor_spark.functions.
literals.doubles_sql`, or lambda variables of an enclosing fragment),
so larger expressions — the IVF assignment, PQ codes, LSH buckets —
compose from the same text.  A caller that needs a Column wraps the
fragment in ONE ``F.expr``: one parse instead of a py4j round trip per
lambda and per node (tens of ms of driver time per plan build).

All arithmetic is done in double precision regardless of the stored
array element type (the fixtures store ``array<float>``): inputs are
cast up front so Spark and the DuckDB oracle accumulate identically.
The fold order of ``aggregate`` is the array order — deterministic.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def _double(a: str) -> str:
    return f"CAST({a} AS ARRAY<DOUBLE>)"


def dot_sql(a: str, b: str) -> str:
    """Dot product of two arrays (double accumulation, left-to-right)."""
    return (
        f"aggregate(zip_with({_double(a)}, {_double(b)}, (x, y) -> x * y),"
        f" 0.0D, (acc, v) -> acc + v)"
    )


def l2_norm_sql(a: str) -> str:
    return f"sqrt({dot_sql(a, a)})"


def l2_distance_sql(a: str, b: str) -> str:
    return (
        f"sqrt(aggregate(zip_with({_double(a)}, {_double(b)}, (x, y) -> x - y),"
        f" 0.0D, (acc, v) -> acc + v * v))"
    )


def cosine_sql(a: str, b: str) -> str:
    """cos(a, b) = a.b / (|a| |b|); matches DuckDB list_cosine_similarity."""
    return f"({dot_sql(a, b)} / ({l2_norm_sql(a)} * {l2_norm_sql(b)}))"


def normalize_sql(a: str) -> str:
    """Unit-normalize an array (reference BGE ``normalize_embeddings=True``,
    src/PDFToChromaIngestorBgeEmbedding.py:45).

    The norm binds once per row via a singleton-struct transform:
    referencing it directly from the per-element lambda lets
    CollapseProject inline the 64-element norm aggregate into the
    lambda body, re-running it PER ELEMENT (and, through collapsed
    projections, per downstream consumer).  Identical divisions,
    identical values."""
    return (
        f"element_at(transform(array(struct({_double(a)} AS v,"
        f" {l2_norm_sql(a)} AS n)), s -> transform(s.v, x -> x / s.n)), 1)"
    )


def cosine_similarity(a: str, b: str) -> Column:
    """:func:`cosine_sql` as a Column."""
    return F.expr(cosine_sql(a, b))
