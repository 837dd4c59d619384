"""Dump normalized plans of declared keys, one file per key.

Usage: python scripts/dump_plans.py <out_dir> <suffix> [key ...]
Writes <out_dir>/<key>_<suffix>.txt for each key (every declared key
when none is named), reading fixtures from ``$SPARK_GRAFT_SF_DIR``
(default /root/testdata/sf0.1).

Each file holds the optimized logical plan and the formatted physical
plan with exprIds (``#123``), exchange plan and RDD ids, lambda-variable
names and the checkout's own path stripped, so two checkouts' dumps
compare with a plain ``diff -r``.
"""

from __future__ import annotations

import os
import re
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from vector_db_ingestor_spark.caching import release_all  # noqa: E402
from vector_db_ingestor_spark.queries import QUERIES  # noqa: E402
from vector_db_ingestor_spark.session import get_spark  # noqa: E402

_LAMBDA_VAR = re.compile(r"lambda \w+#\d+")
_IDS = re.compile(r"#\d+|(?<=plan_id=)\d+|(?<=RDD\[)\d+")


def normalize(plan: str) -> str:
    """Strip what differs between two builds of the same plan."""
    plan = _LAMBDA_VAR.sub("lambda _", plan)
    return _IDS.sub("", plan).replace(ROOT, "<root>")


def plan_text(df) -> str:
    """Normalized optimized logical plan plus formatted physical plan."""
    qe = df._jdf.queryExecution()
    mode = df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode
    return normalize(
        "== Optimized Logical Plan ==\n"
        + qe.optimizedPlan().toString()
        + "\n"
        + qe.explainString(mode.fromString("formatted"))
    )


def main() -> None:
    out_dir, suffix = sys.argv[1], sys.argv[2]
    keys = sys.argv[3:] or list(QUERIES)
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    os.makedirs(out_dir, exist_ok=True)
    spark = get_spark("dump-plans")
    # untruncated scan metadata: the cut would otherwise fall at a
    # different character whenever an exprId's digit count changes
    spark.conf.set("spark.sql.maxMetadataStringLength", "1000000")
    for key in keys:
        with open(os.path.join(out_dir, f"{key}_{suffix}.txt"), "w") as fh:
            fh.write(plan_text(QUERIES[key](spark, sf_dir)))
        release_all()
        print("wrote", key)
    spark.stop()


if __name__ == "__main__":
    main()
