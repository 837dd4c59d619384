"""Round-13 queue item: q_ann_ivf_filtered — filtered ANN under the
hash gate (the search_ann(filter_metadata=...) semantics on the
literal-centroid IVF model).  The uniform DuckDB gate runs via
scripts/check_oracle.py and the registry-wide parametrized
test; this file pins the SEMANTIC boundary the oracle can't state:
with every cell probed, filtered ANN degrades to exact filtered
retrieval."""

from pyspark.sql import functions as F

from vector_db_ingestor_spark.operators.similarity import _assign_cid, ivf_topk
from vector_db_ingestor_spark.operators.topk import topk_cosine
from vector_db_ingestor_spark.queries import PROBE_64, _ivf_assign_centroids
from vector_db_ingestor_spark.tables import load_table


def test_filtered_ivf_topk_all_cells_equals_exact_filtered(spark, sf_dir):
    """nprobe == n_centroids -> no cell unprobed -> the filtered ANN
    result must equal brute-force filtered top-k row-for-row (ids AND
    scores); at nprobe < n_centroids it must be a subset of the exact
    result's id universe with the filter still airtight."""
    cents = _ivf_assign_centroids()
    emb = load_table(spark, sf_dir, "embeddings")
    indexed = emb.withColumn(
        "cid", F.expr(_assign_cid("embedding", cents, round_dp=6))
    )
    pred = F.col("label").isin(1, 3, 5, 7)

    got = ivf_topk(
        indexed, cents, PROBE_64, k=10, nprobe=len(cents), predicate=pred
    ).collect()
    want = topk_cosine(emb, PROBE_64, k=10, predicate=pred).collect()
    assert [(r.vec_id, r.score) for r in got] == [
        (r.vec_id, r.score) for r in want
    ]

    pruned = ivf_topk(
        indexed, cents, PROBE_64, k=10, nprobe=2, predicate=pred
    ).collect()
    assert len(pruned) == 10
    labels = {
        r.label for r in emb.filter(
            F.col("vec_id").isin([x.vec_id for x in pruned])
        ).collect()
    }
    assert labels <= {1, 3, 5, 7}
