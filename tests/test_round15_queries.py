"""Round-15 queue items: q_dedup_containment (the asymmetric
min-side-containment near-subset detector — the excerpt/re-publication
duplication shape Jaccard washes out) and q_agg_decay (exponentially
time-decayed aggregation with exact power-of-two weights).  The
uniform DuckDB gate runs via scripts/check_oracle.py and the
registry-wide parametrized test; this file pins the SEMANTIC
properties the oracles can't state: a true subset doc scores
containment 1.0 while its jaccard is tiny, containment dominates
jaccard on every shared pair, the rare-gram cap drops exactly the
boilerplate-only containments — and the decay obeys the half-life
LAW (shifting every event one half-life older exactly halves the
decayed mass while the raw sum is invariant).
"""

import duckdb
import pandas as pd

from vector_db_ingestor_spark.operators.dedup import (
    containment_pairs,
    ngram_jaccard_pairs,
)
from vector_db_ingestor_spark.queries import ORACLE_SQL, QUERIES, _CONTAIN


def test_containment_differential_vs_duckdb(spark, sf_dir):
    """Declaration-window insurance: Spark impl vs DuckDB oracle,
    value-for-value on the fixture."""
    fn, sql = QUERIES["q_dedup_containment"], ORACLE_SQL["q_dedup_containment"]
    got = (
        fn(spark, sf_dir)
        .toPandas()
        .sort_values(["id_a", "id_b"])
        .reset_index(drop=True)
    )
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{sf_dir}/documents.parquet')"
    )
    want = (
        con.execute(sql)
        .df()
        .sort_values(["id_a", "id_b"])
        .reset_index(drop=True)
    )
    assert len(got) == len(want) > 0
    for col in ("id_a", "id_b", "sz_a", "sz_b", "n_inter"):
        assert list(got[col]) == list(want[col]), col
    assert (got["containment"] - want["containment"]).abs().max() < 1e-9


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id LONG, lang STRING, text STRING")


def test_containment_catches_subset_jaccard_misses(spark):
    """The metric's reason to exist: a short doc fully embedded in a
    long one scores containment 1.0 while jaccard ~ |A|/|B| is far
    below any dedup threshold."""
    quote = "the quick brown fox jumps over the lazy dog tonight"
    filler = " ".join(f"unique{i} word{i}" for i in range(120))
    docs = _docs(
        spark,
        [
            (1, "en", quote),
            (2, "en", filler + " " + quote + " " + filler.upper()),
        ],
    )
    out = containment_pairs(docs, threshold=0.9, max_df=5).collect()
    assert len(out) == 1
    r = out[0]
    assert (r.id_a, r.id_b) == (1, 2)
    assert r.containment == 1.0
    # the contained side is recoverable from the sizes
    assert r.sz_a < r.sz_b
    # jaccard on the SAME pair is far below any dedup threshold
    jac = ngram_jaccard_pairs(
        docs, threshold=0.0, max_df=5
    ).collect()
    assert jac and jac[0].jaccard < 0.1


def test_containment_dominates_jaccard(spark, sf_dir):
    """containment = inter/min(sz) >= inter/union = jaccard on every
    pair both report (same shingles, same candidates at max_df)."""
    from vector_db_ingestor_spark.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    cont = {
        (r.id_a, r.id_b): r.containment
        for r in containment_pairs(
            docs, block_col="lang", n=2, threshold=0.0,
            max_df=_CONTAIN["max_df"],
        ).collect()
    }
    jac = {
        (r.id_a, r.id_b): r.jaccard
        for r in ngram_jaccard_pairs(
            docs, block_col="lang", n=2, threshold=0.0,
            max_df=_CONTAIN["max_df"],
        ).collect()
    }
    assert set(cont) == set(jac) != set()
    assert all(cont[p] >= jac[p] - 1e-9 for p in cont)


def test_containment_cap_drops_boilerplate_only_pairs(spark):
    """The recall contract, stated positively: a pair whose every
    shared gram is hot (> max_df docs) is NOT reported — docs
    'contained' purely in boilerplate must not merge — while a pair
    sharing one rare gram still is."""
    boiler = "all rights reserved copyright notice footer"
    docs = _docs(
        spark,
        [(i, "en", f"doc number {i} body {boiler}") for i in range(1, 9)]
        + [
            (100, "en", boiler),                      # pure boilerplate
            (101, "en", f"rare signature phrase {boiler}"),
            (102, "en", "rare signature phrase"),
        ],
    )
    out = containment_pairs(docs, threshold=0.5, max_df=5)
    pairs = {(r.id_a, r.id_b) for r in out.collect()}
    # 100's grams are all hot (boiler appears in 10 docs > max_df=5):
    # no pair involving 100 survives, despite containment 1.0 uncapped
    assert not any(100 in p for p in pairs)
    # the rare 'rare signature phrase' bigrams still pair 101 with 102
    assert (101, 102) in pairs


def test_agg_decay_differential_vs_duckdb(spark, sf_dir):
    """Declaration-window insurance: Spark impl vs DuckDB oracle,
    value-for-value on the fixture (BIGINT columns exact-equal)."""
    import duckdb as ddb

    fn, sql = QUERIES["q_agg_decay"], ORACLE_SQL["q_agg_decay"]
    got = (
        fn(spark, sf_dir)
        .toPandas()
        .sort_values(["user_id", "event_type"])
        .reset_index(drop=True)
    )
    con = ddb.connect()
    con.execute(
        "CREATE VIEW events AS SELECT * FROM "
        f"read_parquet('{sf_dir}/events.parquet')"
    )
    want = (
        con.execute(sql)
        .df()
        .sort_values(["user_id", "event_type"])
        .reset_index(drop=True)
    )
    assert len(got) == len(want) > 0
    for col in ("n_events", "raw_centi", "decayed_scaled", "decayed_milli"):
        assert list(got[col]) == list(want[col]), col


def test_agg_decay_halflife_law(spark):
    """The decay semantics the oracle can't state: shifting every
    event exactly one half-life older halves decayed_scaled EXACTLY
    (power-of-two weights make this integer-exact, not approximate),
    while n_events and raw_centi are invariant; same-day events weigh
    2^kcap; events past the clamp all weigh 1."""
    from vector_db_ingestor_spark.queries import (
        _DECAY,
        q_agg_decay_impl,
    )

    hl, kcap = _DECAY["halflife_days"], _DECAY["kcap"]

    def run(shift_days):
        import datetime

        ref = datetime.date.fromisoformat(_DECAY["ref"])
        rows = [
            (
                i,
                datetime.datetime.combine(
                    ref - datetime.timedelta(days=shift_days + hl * i),
                    datetime.time(12, 0),
                ),
                1,
                "click",
                10.00,
                "{}",
            )
            for i in range(3)
        ]
        df = spark.createDataFrame(
            rows,
            "event_id LONG, ts TIMESTAMP, user_id LONG, "
            "event_type STRING, value DOUBLE, props STRING",
        )
        import tempfile

        d = tempfile.mkdtemp()
        df.coalesce(1).write.mode("overwrite").parquet(f"{d}/events.parquet")
        out = q_agg_decay_impl(spark, d).collect()
        assert len(out) == 1
        return out[0]

    base = run(0)
    shifted = run(hl)
    assert base.n_events == shifted.n_events == 3
    assert base.raw_centi == shifted.raw_centi == 3000
    # exactly one half-life older -> exactly half the decayed mass
    assert shifted.decayed_scaled * 2 == base.decayed_scaled
    # age-0 event carries full weight 2^kcap: 1000 centi * 2^kcap
    # plus the two older events' halves
    assert base.decayed_scaled == 1000 * (
        (1 << kcap) + (1 << (kcap - 1)) + (1 << (kcap - 2))
    )
    # far past the clamp every event weighs exactly 1
    deep = run(hl * (kcap + 5))
    assert deep.decayed_scaled == 3000
