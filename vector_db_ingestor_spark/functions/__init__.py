from vector_db_ingestor_spark.functions.vector import (  # noqa: F401
    cosine_similarity,
    cosine_sql,
    dot_sql,
    l2_distance_sql,
    l2_norm_sql,
    normalize_sql,
)
