"""Round-14 queue item: q_ann_ivf_escalate — the filtered-ANN recall
contract under the hash gate (the search_ann escalation decision rule
as one closed-form plan).  The uniform DuckDB gate runs via
scripts/check_oracle.py and the registry-wide parametrized
test; this file pins the SEMANTIC properties the oracle can't state:
the chosen depth is the minimal sufficient one, and at the all-cells
depth the result equals exact filtered retrieval."""

import duckdb
import pandas as pd
from pyspark.sql import functions as F

from vector_db_ingestor_spark.operators.topk import topk_cosine
from vector_db_ingestor_spark.queries import (
    PROBE_64,
    ORACLE_SQL,
    QUERIES,
    _ivf_assign_centroids,
)
from vector_db_ingestor_spark.operators.similarity import (
    _assign_cid,
    ivf_shortlist,
)
from vector_db_ingestor_spark.tables import load_table


def test_escalate_differential_vs_duckdb(spark, sf_dir):
    """The uniform hash comparison, run early (declaration-window
    insurance): Spark impl vs DuckDB oracle, value-for-value."""
    fn, sql = QUERIES["q_ann_ivf_escalate"], ORACLE_SQL["q_ann_ivf_escalate"]
    got = fn(spark, sf_dir).toPandas()
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW embeddings AS SELECT * FROM "
        f"read_parquet('{sf_dir}/embeddings.parquet')"
    )
    want = con.execute(sql).df()
    got = got.reindex(sorted(got.columns), axis=1).sort_values(
        list(sorted(got.columns)), ignore_index=True
    )
    want = want.reindex(sorted(want.columns), axis=1).sort_values(
        list(sorted(want.columns)), ignore_index=True
    )
    assert list(got.columns) == list(want.columns)
    assert len(got) == len(want)
    for c in got.columns:
        g, w = got[c], want[c]
        if pd.api.types.is_float_dtype(g) or pd.api.types.is_float_dtype(w):
            assert (g.astype(float) - w.astype(float)).abs().max() < 1e-9, c
        else:
            assert (g.astype("int64") == w.astype("int64")).all(), c


def test_multimodal_dedup_accounting(spark, sf_dir):
    """q_multimodal_dedup semantics the oracle can't state: keeper is
    the min doc_id of its content group, reclaimed bytes equal the
    total minus one payload per distinct content, and copy counts
    partition the corpus."""
    fn = QUERIES["q_multimodal_dedup"]
    rows = fn(spark, sf_dir).collect()
    assert rows
    by_sha = {}
    for r in rows:
        by_sha.setdefault(r.content_sha, []).append(r)
    for sha, grp in by_sha.items():
        keep = min(x.doc_id for x in grp)
        assert all(x.keeper_id == keep for x in grp)
        assert all(x.is_dup == (x.doc_id != keep) for x in grp)
        assert all(x.n_copies == len(grp) for x in grp)
        assert len({x.payload_bytes for x in grp}) == 1
    total = sum(r.payload_bytes for r in rows)
    distinct = sum(grp[0].payload_bytes for grp in by_sha.values())
    assert sum(r.bytes_reclaimed for r in rows) == total - distinct


def test_multimodal_manifest_matches_sequential_writer(spark, sf_dir):
    """q_multimodal_manifest must equal a literal sequential shard
    writer: replay the media stream per modality in doc_id order in
    plain Python, cut shards at the running-byte boundary, and compare
    the manifest row-for-row; shards must partition the stream
    contiguously."""
    fn = QUERIES["q_multimodal_manifest"]
    got = {
        (r.modality, r.shard_id): (
            r.n_items, r.shard_bytes, r.first_doc, r.last_doc
        )
        for r in fn(spark, sf_dir).collect()
    }
    assert got

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "n_chars"
    ).collect()
    target = 50_000
    want = {}
    streams = {}
    for r in sorted(docs, key=lambda x: x.doc_id):
        modality = ("image", "audio", "video")[r.doc_id % 3]
        pay = len(f"MEDIA:{r.doc_id % 200}:" + "x" * 100)
        streams.setdefault(modality, []).append((r.doc_id, pay + r.n_chars))
    for modality, items in streams.items():
        run = 0
        for doc_id, b in items:
            run += b
            shard = (run - 1) // target
            key = (modality, shard)
            n, tot, first, last = want.get(key, (0, 0, doc_id, doc_id))
            want[key] = (n + 1, tot + b, min(first, doc_id), max(doc_id, last))
    assert got == want
    # contiguity: within a modality, shard ranges are ordered + disjoint
    for modality in streams:
        shards = sorted(
            (sid, v) for (m, sid), v in got.items() if m == modality
        )
        for (s1, v1), (s2, v2) in zip(shards, shards[1:]):
            assert s2 == s1 + 1
            assert v1[3] < v2[2]


def test_jsonl_scan_survives_corrupt_lines(spark, tmp_path):
    """The REAL file-based front door (sources/text.py scan_jsonl)
    under the dirty-dump case the in-plan pair certifies: a corrupt
    line lands a null row under the explicit schema's PERMISSIVE
    default instead of killing the scan, and intact lines are
    untouched."""
    from vector_db_ingestor_spark.sources.text import scan_jsonl

    (tmp_path / "dirty.jsonl").write_text(
        '{"doc_id": 1, "text": "alpha", "lang": "en", "source": "s0"}\n'
        '{"doc_id": 2, "text": "TRUNCAT\n'
        '{"doc_id": 3, "text": "gamma", "lang": "de", "source": "s1"}\n'
    )
    rows = scan_jsonl(spark, str(tmp_path / "dirty.jsonl")).collect()
    assert len(rows) == 3
    good = {r.doc_id: (r.text, r.lang) for r in rows if r.doc_id is not None}
    assert good == {1: ("alpha", "en"), 3: ("gamma", "de")}
    bad = [r for r in rows if r.doc_id is None]
    assert len(bad) == 1 and bad[0].text is None and bad[0].lang is None


def test_jsonl_roundtrip_corruption_is_exact(spark, sf_dir):
    """q_jsonl_ingest semantics: corruption is EXACTLY the doc_id % 17
    set, good rows round-trip id/lang and pin text by sha — recomputed
    here from the raw table."""
    import hashlib

    fn = QUERIES["q_jsonl_ingest"]
    got = {r.src_doc_id: r for r in fn(spark, sf_dir).collect()}
    raw = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "text"
    ).collect()
    assert set(got) == {r.doc_id for r in raw}
    for r in raw:
        g = got[r.doc_id]
        if r.doc_id % 17 == 0:
            assert g.is_corrupt and g.parsed_doc_id is None
            assert g.parsed_lang is None and g.text_sha is None
        else:
            assert not g.is_corrupt
            assert g.parsed_doc_id == r.doc_id
            assert g.parsed_lang == r.lang
            assert g.text_sha == hashlib.sha256(
                r.text.encode()
            ).hexdigest()


def test_nprobe_curve_is_monotone_to_exact(spark, sf_dir):
    """q_ann_nprobe_curve semantics the oracle can't state: recall is
    non-decreasing in nprobe (a wider probe can only add exact-top-k
    members) and reaches exactly 1000 milli at all-cells-probed — the
    q_ann_ivf_escalate boundary property read as a curve."""
    fn = QUERIES["q_ann_nprobe_curve"]
    rows = sorted(fn(spark, sf_dir).collect(), key=lambda r: r.nprobe)
    assert [r.nprobe for r in rows] == [1, 2, 4, 8]
    recalls = [r.recall_milli for r in rows]
    assert recalls == sorted(recalls)
    assert recalls[-1] == 1000
    assert all(r.n_hits <= 20 for r in rows)


def test_csv_scan_roundtrips_quoted_fields(spark, tmp_path):
    """The REAL file-based scan_csv under the quoting the in-plan pair
    certifies: embedded delimiters and doubled quotes round-trip
    through an actual file."""
    from vector_db_ingestor_spark.sources.text import scan_csv

    (tmp_path / "quoted.csv").write_text(
        'doc_id,text,lang,source\n'
        '1,"alpha, with a ""quoted"" word",en,s0\n'
        '2,plain,de,s1\n'
    )
    rows = {
        r.doc_id: r.text
        for r in scan_csv(spark, str(tmp_path / "quoted.csv")).collect()
    }
    assert rows == {1: 'alpha, with a "quoted" word', 2: "plain"}


def test_csv_ingest_every_row_quoted(spark, sf_dir):
    """q_csv_ingest semantics: the injected tail forces the writer to
    quote EVERY row (the contract the key exists to certify), and the
    parsed text always ends with the tail."""
    fn = QUERIES["q_csv_ingest"]
    rows = fn(spark, sf_dir).collect()
    assert rows
    assert all(r.was_quoted for r in rows)
    assert all(r.parsed_doc_id == r.src_doc_id for r in rows)


def test_asof_tolerance_three_way_split(spark, sf_dir):
    """q_join_asof_tolerance semantics: the fixture splits three ways
    (matched-within / matched-stale / never-matched, all nonempty);
    within-tolerance matches agree with the unbounded as-of join;
    never-matched rows agree with its nulls; and a huge tolerance
    degrades to exactly the unbounded join."""
    from pyspark.sql import functions as F

    from vector_db_ingestor_spark.operators.joins import asof_join
    from vector_db_ingestor_spark.queries import QUERIES

    fn = QUERIES["q_join_asof_tolerance"]
    got = {r.event_id: r for r in fn(spark, sf_dir).collect()}
    base = {
        r.event_id: r.asof_click_id
        for r in QUERIES["q_join_asof"](spark, sf_dir).collect()
    }
    assert set(got) == set(base)
    within = [e for e, r in got.items() if r.within_tolerance]
    stale = [
        e for e, r in got.items()
        if not r.within_tolerance and base[e] is not None
    ]
    unmatched = [e for e, r in got.items() if base[e] is None]
    assert within and stale and unmatched
    for e in within:
        assert got[e].asof_click_id == base[e]
    for e in stale + unmatched:
        assert got[e].asof_click_id is None
    for e in unmatched:
        assert not got[e].within_tolerance

    # tolerance wide enough to cover everything == the unbounded join
    ev = load_table(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    clicks = (
        ev.filter(F.col("event_type") == "click")
        .groupBy("user_id", "ts")
        .agg(F.max("event_id").alias("click_id"))
    )
    wide = {
        r.event_id: r.asof_click_id
        for r in asof_join(
            purchases, clicks, by="user_id", probe_ts="ts", build_ts="ts",
            value_cols=["click_id"],
            tolerance=F.expr("INTERVAL 3650 DAYS"),
        ).collect()
    }
    assert wide == base


def test_asof_nearest_semantics(spark, sf_dir):
    """q_join_asof_nearest semantics: wherever the nearest pick is
    backward, it agrees with q_join_asof's match; every matched delta
    is the MINIMUM of the two directions' deltas (nearest really is
    nearest); side is null exactly when no click exists for the user."""
    from vector_db_ingestor_spark.queries import QUERIES

    fn = QUERIES["q_join_asof_nearest"]
    got = {r.event_id: r for r in fn(spark, sf_dir).collect()}
    back = {
        r.event_id: r.asof_click_id
        for r in QUERIES["q_join_asof"](spark, sf_dir).collect()
    }
    assert set(got) == set(back)
    sides = {r.nearest_side for r in got.values()}
    assert "backward" in sides and "forward" in sides  # both exercised
    for e, r in got.items():
        if r.nearest_side == "backward":
            assert r.asof_click_id == back[e], e
        if r.nearest_side is None:
            assert r.asof_click_id is None and r.delta_s is None
        else:
            assert r.asof_click_id is not None and r.delta_s >= 0
        # a forward pick implies the backward side was farther (or
        # absent): its delta must beat any backward match's delta
    # cross-check minimality on a sample: forward picks must be at
    # least as close as the backward candidate the plain asof found
    ev = load_table(spark, sf_dir, "events")
    purch_ts = {
        r.event_id: r.ts
        for r in ev.filter(F.col("event_type") == "purchase")
        .select("event_id", "ts").collect()
    }
    click_ts = {
        (r.user_id, r.click_id): r.ts
        for r in ev.filter(F.col("event_type") == "click")
        .groupBy("user_id", "ts")
        .agg(F.max("event_id").alias("click_id"))
        .select("user_id", "click_id", "ts").collect()
    }
    for e, r in got.items():
        if r.nearest_side == "forward" and back[e] is not None:
            bts = click_ts[(r.user_id, back[e])]
            fwd_delta = r.delta_s
            back_delta = int((purch_ts[e] - bts).total_seconds())
            assert fwd_delta <= back_delta, e


def test_sample_temperature_flattens(spark, sf_dir):
    """q_sample_temperature semantics: weights form a distribution,
    alpha < 1 FLATTENS it (the largest-share source is undersampled,
    the smallest oversampled), and expected counts spend the budget up
    to per-source rounding."""
    fn = QUERIES["q_sample_temperature"]
    rows = fn(spark, sf_dir).collect()
    assert len(rows) >= 2
    assert abs(sum(r.temp_weight for r in rows) - 1.0) < 1e-3
    assert abs(sum(r.share for r in rows) - 1.0) < 1e-3
    hi = max(rows, key=lambda r: r.share)
    lo = min(rows, key=lambda r: r.share)
    assert hi.oversample < 1.0 < lo.oversample
    # flattened ordering is preserved (alpha-sampling reweights, it
    # does not reorder)
    by_share = sorted(rows, key=lambda r: r.share)
    weights = [r.temp_weight for r in by_share]
    assert weights == sorted(weights)
    assert abs(sum(r.expected_docs for r in rows) - 100_000) <= len(rows)


def test_escalate_depth_is_minimal_sufficient(spark, sf_dir):
    """The emitted nprobe_used must be exactly the smallest depth in
    (1, 2, 4, 8) whose probed-cell prefix holds >= k filtered
    survivors (or 8 when none does) — recomputed here independently
    from the candidate set."""
    fn = QUERIES["q_ann_ivf_escalate"]
    rows = fn(spark, sf_dir).collect()
    assert rows, "fixture must yield candidates"
    used = {r.nprobe_used for r in rows}
    assert len(used) == 1
    used = used.pop()

    k = 25
    cents = _ivf_assign_centroids()
    order = ivf_shortlist(cents, PROBE_64, nprobe=len(cents))
    emb = load_table(spark, sf_dir, "embeddings")
    cand = (
        emb.withColumn("cid", F.expr(_assign_cid("embedding", cents, round_dp=6)))
        .filter(F.col("label") == 9)
        .groupBy("cid")
        .count()
        .collect()
    )
    per_cell = {r.cid: r["count"] for r in cand}
    want = len(cents)
    for p in (1, 2, 4):
        if sum(per_cell.get(c, 0) for c in order[:p]) >= k:
            want = p
            break
    assert used == want
    # and the result is exactly min(k, survivors-at-depth) rows
    n_at_depth = sum(per_cell.get(c, 0) for c in order[:used])
    assert len(rows) == min(k, n_at_depth)


def test_escalate_all_cells_equals_exact_filtered(spark, sf_dir):
    """When escalation reaches every cell (or the fixture's chosen
    depth already covers all matches' cells), the contract is
    exactness: compare against brute-force filtered top-k whenever
    nprobe_used == n_cells; at shallower depths the hits must still
    all satisfy the filter and be ordered by (score desc, vec_id)."""
    fn = QUERIES["q_ann_ivf_escalate"]
    rows = fn(spark, sf_dir).collect()
    assert rows
    scores = [(r.score, r.vec_id) for r in rows]
    assert scores == sorted(scores, key=lambda t: (-t[0], t[1]))
    emb = load_table(spark, sf_dir, "embeddings")
    hit_labels = {
        r.label
        for r in emb.filter(
            F.col("vec_id").isin([x.vec_id for x in rows])
        ).collect()
    }
    assert hit_labels == {9}
    if rows[0].nprobe_used == len(_ivf_assign_centroids()):
        want = topk_cosine(
            emb, PROBE_64, k=25, predicate=F.col("label") == 9
        ).collect()
        assert [(r.vec_id, r.score) for r in rows] == [
            (r.vec_id, r.score) for r in want
        ]
