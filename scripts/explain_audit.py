"""Physical-plan audit: assert the plan properties the engine is
designed around, and emit PLANS.md as evidence.

Each audited query declares expectations against its *executed* plan
string (AQE final plan where applicable):

* pushed      — parquet scan carries PushedFilters (predicate pushdown)
* pruned      — ReadSchema contains only the named columns
* broadcast   — a BroadcastHashJoin/BroadcastExchange is present
* top_k       — global sort+limit compiled to TakeOrderedAndProject
* no_shuffle  — zero Exchange operators (fully narrow plan)
* max_arrow   — at most N Python eval nodes (fused UDF stages)

Run: python scripts/explain_audit.py [sf_dir]
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from vector_db_ingestor_spark.queries import QUERIES  # noqa: E402
from vector_db_ingestor_spark.session import get_spark  # noqa: E402

AUDITS: dict[str, dict] = {
    "q_scan_project": {
        "pruned_to": ["o_orderkey", "o_custkey", "o_totalprice", "o_orderpriority"],
    },
    "q_filter_pred": {"pushed": True},
    "q_sort_limit": {"top_k": True},
    "q_join_broadcast": {"broadcast": True},
    "q_sql_tpch_q3": {"broadcast": True, "pushed": True},
    "q_ingest_pipeline": {"max_exchange": 1, "max_arrow": 1},
    "q_chunk_explode": {"max_exchange": 1, "max_arrow": 1},
    "q_topk_cosine": {"top_k": True, "pushed": True},
    "q_ann_ivf": {"top_k": True, "max_exchange": 0, "partition_pruned": True},
    "q_agg_group": {"partial_agg": True},
    "q_array_fns": {"max_exchange": 0},
    "q_sql_tpch_q6": {"pushed": True, "partial_agg": True},
    "q_agg_stats": {"partial_agg": True},
    "q_conditional_fns": {"max_exchange": 0},
    "q_token_freq": {"top_k": True, "partial_agg": True},
    "q_multimodal_frames": {"partial_agg": True, "max_exchange": 1},
    "q_sql_tpch_q5": {"broadcast": True, "pushed": True, "partial_agg": True},
    "q_topk_batch": {"broadcast": True},
    "q_histogram": {"partial_agg": True},
    "q_agg_conditional": {"partial_agg": True},
    # double row_number + two groupBys all cluster on user_id subsets:
    # the single user_id exchange serves the whole pipeline
    "q_gaps_islands": {"max_exchange": 1},
    "q_docs_clean_pipeline": {"pushed": True},
    "q_retention_cohort": {"broadcast": True},
    # PII scrub is pure projections: rides the scan stage, zero shuffles
    "q_pii_redact": {"max_exchange": 0},
    # token agg shuffles once on (doc,token); window + final rollup
    # share the second hash(doc) exchange
    "q_text_repetition": {"max_exchange": 2, "partial_agg": True},
    # eval grams broadcast; the corpus side only shuffles for its agg
    "q_contamination": {"broadcast": True, "max_exchange": 2},
    # the r4 2.6x bench "regression" was cold-rep noise (n=7 warm median
    # 0.649s vs r3's 0.671s); pin the plan so a real change can't hide:
    # the 8x-replicated dim still broadcasts, so the salted join is
    # shuffle-free at audit sf
    "q_join_skew_salted": {"broadcast": True, "no_nested_loop": True, "max_exchange": 0},
    # exactly ONE token-stream shuffle (REPARTITION_BY_COL on
    # (blk, gram)), reused by both self-join sides; the other two
    # exchanges move only aggregated rows (hot-gram df counts,
    # candidate-pair dedup)
    "q_dedup_ngram_capped": {"broadcast": True, "max_exchange": 3, "reused_exchange": True},
    # signature explode-agg (one partial-agg exchange of num_perm longs
    # per doc) + band repartition reused by both self-join sides
    # (shuffle_hash hint keeps AQE from broadcasting, which would break
    # reuse and re-run the signature pipeline twice) + the pair-dedup
    # exchange carrying (id_a, id_b, est) only + the ordered output
    "q_dedup_minhash": {
        "max_exchange": 4, "reused_exchange": True, "partial_agg": True,
        "no_nested_loop": True,
    },
    # uncapped exact ngram: one token-stream exchange reused by both
    # gram-join sides + the pair aggregation; never a nested loop
    "q_dedup_ngram": {
        "max_exchange": 2, "reused_exchange": True, "partial_agg": True,
        "no_nested_loop": True,
    },
    # ONE persisted shingle scan feeds signatures and the exact-jaccard
    # verify, and the banded table is persisted so the signature
    # pipeline computes exactly once; each self-join side shuffles the
    # cached band rows on (band_idx, band_hash) once (exchange reuse
    # does not match across InMemoryTableScan instances); broadcast
    # verify joins
    "q_dedup_minhash_verified": {
        "max_exchange": 4, "no_nested_loop": True, "broadcast": True,
    },
    # LSH-bucketed near-dup: at audit sf fully broadcast (zero
    # exchanges); the structural guarantee is no nested loop — the
    # multiprobe OR is realized as an exploded equi-join, never BNLJ
    "q_dedup_embed": {"max_exchange": 0, "no_nested_loop": True, "broadcast": True},
    # ONE Arrow simhash pass over the corpus: the band exchange is
    # reused by both self-join sides (shuffle_hash pin) and the
    # coalesce(fp, 0) keeps the inferred join-key null filter from
    # spawning a second ArrowEvalPython per side
    "q_dedup_simhash": {
        "max_exchange": 3, "reused_exchange": True, "max_arrow": 1,
        "no_nested_loop": True,
    },
    # same plan shape at 11 auto-derived bands: one Arrow pass, band
    # exchange reused across both self-join sides
    "q_dedup_simhash_auto": {
        "max_exchange": 3, "reused_exchange": True, "max_arrow": 1,
        "no_nested_loop": True,
    },
    # the whole IVF-PQ serving path is ONE narrow scan stage: routing,
    # residual encode and ADC ride the scan, top-k is a heap
    "q_ann_ivfpq": {"max_exchange": 0, "top_k": True},
    # batched IVF-PQ: encode once, broadcast the (cid, query_id) route
    # table, ONE shuffle total (the per-query window rank)
    "q_ann_ivfpq_batch": {"broadcast": True, "max_exchange": 1},
    # train+score over ONE persisted bigram table: the final plan
    # reads the cache; the vocab scalar is hint-broadcast and AQE
    # broadcasts the context table at sf scale (the explicit c1 hint
    # was removed in r11 — vocabulary-sized at web scale, VERDICT r10
    # #1 — so at 100 TB this pin's broadcast comes from vocab alone).
    # (no no_nested_loop pin: the 1-row vocab scalar enters via
    # crossJoin(broadcast) = a 1-row BNLJ, the same benign shape as
    # bm25's corpus-stats join)
    "q_text_lm_score": {"broadcast": True, "partial_agg": True},
    # synth + parse + project all ride one stage: a single Arrow
    # eval node, zero shuffles
    "q_warc_pipeline": {"max_exchange": 0, "max_arrow": 1},
    # EXISTS must compile to a semi join, never a per-row subquery
    "q_sql_tpch_q4": {"semi_join": True, "pushed": True},
    "q_sql_tpch_q13": {"partial_agg": True},
    # correlated scalar avg decorrelates to aggregate-then-join
    "q_sql_tpch_q17": {"partial_agg": True, "no_nested_loop": True},
    # disjunctive predicates stay a hash/broadcast join + residual
    # filter, not a BroadcastNestedLoopJoin
    "q_sql_tpch_q19": {"broadcast": True, "no_nested_loop": True},
    # centroid-argmax assignment is a projection riding the scan
    "q_ann_ivf_assign": {"max_exchange": 0},
    # pure vector math rides the scan: zero shuffles
    "q_vector_fns": {"max_exchange": 0},
    "q_vec_quantize": {"max_exchange": 0},
    # df table broadcasts back onto the tf stream
    "q_tfidf": {"broadcast": True, "partial_agg": True},
    # round-4 additions
    "q_sql_tpch_q7": {"broadcast": True, "pushed": True, "partial_agg": True},
    "q_sql_tpch_q8": {"broadcast": True, "pushed": True, "partial_agg": True},
    "q_sql_tpch_q15": {"partial_agg": True, "pushed": True},
    "q_sql_tpch_q22": {"partial_agg": True},
    "q_vec_centroid": {"partial_agg": True},
    "q_topk_maxsim": {"top_k": True, "max_exchange": 0},
    "q_dedup_incremental": {"partial_agg": True, "pushed": True},
    "q_knn_classify": {"top_k": True, "partial_agg": True},
    "q_ann_recall_report": {"top_k": True, "broadcast": True},
    "q_stream_join": {"no_nested_loop": True, "pushed": True},
    "q_text_boilerplate": {"top_k": True, "partial_agg": True},
    "q_pack_sequences": {"max_exchange": 1},
    "q_mixture_weights": {"broadcast": True, "partial_agg": True},
    # round-5 hybrid-retrieval suite
    # BM25's df table + corpus stats broadcast onto the partial-agg'd
    # tf stream; both channel shortlists are TakeOrdered heaps
    "q_hybrid_rrf": {"broadcast": True, "partial_agg": True, "top_k": True},
    # the corpus-sized TakeOrdered scan runs ONCE inside the
    # shortlist's localCheckpoint lineage (so it is absent from the
    # final plan string); the observable guarantee is the greedy in
    # ONE FlatMapGroupsInPandas stage over the shortlist pairs
    "q_topk_mmr": {"max_arrow": 1},
    # batched MMR: one grouped Arrow node re-ranks every query
    "q_topk_mmr_batch": {"max_arrow": 1},
    # encode is a narrow projection riding the scan; top-10 membership
    # joins a broadcast 10-row list — no global window, no extra shuffle
    "q_vec_pq_adc": {"broadcast": True, "top_k": True},
    # the returned plan is the final encode: a narrow argmin projection
    # riding the scan (training's per-step jobs run at build time, like
    # ivf_train — driver-held model state)
    "q_vec_pq_train": {"max_exchange": 0},
    "q_ann_ivf_train": {"max_exchange": 0},
    # round-7 TPC-H completion
    # r15 rewrite: the cost CTE is referenced ONCE (per-part minimum via
    # window over the single EU-joined pass), so there is no duplicated
    # subtree left to reuse — one lineitem scan+agg by construction;
    # dims broadcast, never a loop join
    "q_sql_tpch_q2": {
        "broadcast": True,
        "partial_agg": True,
        "no_nested_loop": True,
    },
    "q_sql_tpch_q9": {"broadcast": True, "partial_agg": True},
    # val CTE aggregated twice (group set + global threshold) — both partial
    "q_sql_tpch_q11": {"partial_agg": True, "no_nested_loop": True},
    # NOT IN compiles to a null-aware broadcast anti-join, never a loop
    "q_sql_tpch_q16": {"broadcast": True, "partial_agg": True, "pushed": True},
    # nested IN chain: both levels compile to (broadcast) left-semi joins
    "q_sql_tpch_q20": {"semi_join": True, "broadcast": True, "pushed": True},
    # EXISTS -> left-semi, NOT EXISTS -> left-anti, both hash joins
    "q_sql_tpch_q21": {"semi_join": True, "no_nested_loop": True, "partial_agg": True},
    # round 9: flag projection rides the scan; ONE single-row exchange
    # feeds the global counter agg (partial counts per partition first)
    "q_docs_filter_report": {"partial_agg": True, "max_exchange": 1},
    # explode -> (doc,term) agg -> doc agg: exactly two hash exchanges,
    # both behind map-side partial aggregation
    "q_text_entropy": {"partial_agg": True, "max_exchange": 2},
    # candidate pairs are orders of magnitude smaller than the corpus:
    # AQE must broadcast the pair side into the doc->source lookups
    "q_dedup_crosssource": {"broadcast": True, "partial_agg": True},
    # declared round 12 (pins kept from their queue days)
    "q_ivf_drift_report": {"partial_agg": True},
    "q_warc_ingest": {"max_arrow": 2, "no_nested_loop": True},
    # declared round 13
    "q_url_curation": {"max_exchange": 0},
    "q_dedup_url": {"max_exchange": 1},
    # pins set when these pairs were built (rounds 11-15), ahead of
    # their declaration; q_nb_classify's bounded 5-row class fan-out is
    # a deliberate broadcast cross join, so it pins partial_agg rather
    # than no_nested_loop
    "q_ann_ivf_filtered": {"top_k": True, "max_exchange": 0},
    # the 1-row escalation-depth decision rides a broadcast cross join
    # (scalar-model pattern); the serve pass stays TakeOrdered
    "q_ann_ivf_escalate": {"top_k": True, "broadcast": True},
    # both multimodal pairs: ONE hash exchange (dedup's windows share
    # the content-sha partitioning; manifest's rollup reuses the
    # modality window partitioning)
    "q_multimodal_dedup": {"max_exchange": 1},
    "q_multimodal_manifest": {"max_exchange": 1, "partial_agg": True},
    "q_join_asof_tolerance": {"no_nested_loop": True},
    "q_join_asof_nearest": {"no_nested_loop": True},
    # temperature's 1-row grand total is the scalar-model broadcast
    # cross join, so it pins partial_agg + broadcast
    "q_sample_temperature": {"partial_agg": True, "broadcast": True},
    "q_jsonl_ingest": {"max_exchange": 0},
    "q_csv_ingest": {"max_exchange": 0},
    "q_ann_nprobe_curve": {"top_k": True, "broadcast": True},
    "q_text_boilerplate_strip": {"broadcast": True, "partial_agg": True},
    "q_nb_classify": {"partial_agg": True},
    "q_stream_dedup": {"partial_agg": True},
    "q_html_extract": {"max_arrow": 1},
    "q_sketch_cms": {"broadcast": True, "partial_agg": True},
    "q_ann_ivfpq_refine": {"top_k": True, "broadcast": True},
    "q_join_interval": {"no_nested_loop": True, "partial_agg": True},
    "q_graph_pagerank": {"no_nested_loop": True, "partial_agg": True},
    "q_sketch_linear": {"partial_agg": True},
    "q_sketch_bloom": {"broadcast": True, "partial_agg": True},
    "q_stream_totals": {"partial_agg": True},
    "q_topk_matryoshka": {"top_k": True, "broadcast": True},
    # round-12 additions (rounds 16-20 windows).  hits / bpe / tokens
    # carry a deliberate 1-row broadcast cross join (the scalar-model
    # pattern: global max / winning merge / grand total), so like
    # nb_classify they pin partial_agg instead of no_nested_loop.
    "q_sample_reservoir": {"max_exchange": 1},
    "q_dedup_passage": {"top_k": True, "partial_agg": True},
    # hot grams removed via broadcast anti-join; candidate generation
    # and verify are hash joins + hash aggs only
    "q_dedup_containment": {
        "broadcast": True, "no_nested_loop": True, "partial_agg": True,
    },
    # one map-side-combined hash agg on (user_id, event_type): exactly
    # one exchange, state O(entities)
    "q_agg_decay": {"partial_agg": True, "max_exchange": 1},
    "q_graph_hits": {"partial_agg": True, "broadcast": True},
    "q_sketch_kmv": {"partial_agg": True},
    "q_stats_ab": {"partial_agg": True, "no_nested_loop": True},
    "q_join_spatial": {"no_nested_loop": True, "broadcast": True},
    "q_vec_pq_quality": {"partial_agg": True, "no_nested_loop": True},
    "q_tokens_per_source": {"partial_agg": True, "broadcast": True},
    "q_bpe_train": {"partial_agg": True, "broadcast": True},
    "q_curation_pipeline": {"broadcast": True, "partial_agg": True},
}


def executed_plan(df) -> str:
    plan = df._jdf.queryExecution().executedPlan().toString()
    # An executed AdaptiveSparkPlan prints "== Final Plan ==" followed by
    # "== Initial Plan ==" — keep only the final section so operator
    # counts aren't doubled (ReadSchema/PushedFilters live in both).
    return plan.split("== Initial Plan ==")[0]


def count_shuffles(plan: str) -> int:
    """Count distinct shuffle Exchange OPERATORS (operator-position
    lines only).  Substring counting overcounts: a ``ReusedExchange``
    line names its target ("ReusedExchange [...], Exchange
    hashpartitioning(...)"), which would double-count the one real
    exchange it points at."""
    n = 0
    for line in plan.splitlines():
        stripped = re.sub(r"^[\s:+\-|]*(\*\(\d+\)\s*)?", "", line)
        if stripped.startswith("Exchange "):
            n += 1
    return n


def audit(key: str, plan: str, exp: dict) -> list[tuple[str, bool, str]]:
    out = []
    if exp.get("pushed"):
        ok = bool(re.search(r"PushedFilters: \[[^\]]*(IsNotNull|GreaterThan|LessThan|EqualTo|In\()", plan))
        out.append(("pushed-filters", ok, "filters reach the parquet scan"))
    if "pruned_to" in exp:
        m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
        cols = sorted(c.split(":")[0] for c in m.group(1).split(",")) if m else []
        ok = cols == sorted(exp["pruned_to"])
        out.append(("column-pruning", ok, f"ReadSchema = {cols}"))
    if exp.get("broadcast"):
        ok = "BroadcastHashJoin" in plan or "BroadcastExchange" in plan
        out.append(("broadcast-join", ok, "small side broadcast"))
    if exp.get("top_k"):
        ok = "TakeOrderedAndProject" in plan
        out.append(("take-ordered", ok, "sort+limit fused to per-partition top-k"))
    if "max_exchange" in exp:
        n = count_shuffles(plan)
        ok = n <= exp["max_exchange"]
        out.append((f"shuffles<={exp['max_exchange']}", ok, f"{n} shuffle exchange(s)"))
    if exp.get("reused_exchange"):
        ok = "ReusedExchange" in plan
        out.append(("reused-exchange", ok, "one exchange feeds multiple consumers"))
    if "max_arrow" in exp:
        n = (
            plan.count("ArrowEvalPython")
            + plan.count("MapInPandas")
            + plan.count("FlatMapGroupsInPandas")
        )
        ok = n <= exp["max_arrow"]
        out.append((f"python-evals<={exp['max_arrow']}", ok, f"{n} Python eval node(s)"))
    if exp.get("partition_pruned"):
        ok = bool(re.search(r"PartitionFilters: \[[^\]]*(IN|EqualTo)", plan))
        out.append(("partition-pruning", ok, "nprobe shortlist skips files"))
    if exp.get("partial_agg"):
        ok = plan.count("HashAggregate") >= 2  # partial + final
        out.append(("partial-agg", ok, "map-side partial aggregation"))
    if exp.get("semi_join"):
        ok = "LeftSemi" in plan or "SemiJoin" in plan
        out.append(("semi-join", ok, "EXISTS compiled to a semi join"))
    if exp.get("no_nested_loop"):
        ok = "BroadcastNestedLoopJoin" not in plan and "CartesianProduct" not in plan
        out.append(("no-nested-loop", ok, "no nested-loop/cartesian fallback"))
    return out


def _top_level_groups(s: str) -> list[str]:
    """Extract top-level ``[...]`` group contents (function literals
    nest arrays, so track depth instead of regexping)."""
    depth = 0
    groups: list[str] = []
    buf: list[str] = []
    for ch in s:
        if ch == "[":
            if depth == 0:
                buf = []
            depth += 1
            if depth == 1:
                continue
        elif ch == "]":
            depth = max(0, depth - 1)
            if depth == 0:
                groups.append("".join(buf))
                continue
        if depth >= 1:
            buf.append(ch)
    return groups


def _is_global_window(spec: str) -> bool:
    """A Window line prints [funcs], [partition], [order] — but empty /
    order-less groups are elided, so 2 groups is ambiguous: global
    ([funcs], [order]) vs partitioned-unordered ([funcs], [partition],
    e.g. count(*) OVER (PARTITION BY k)).  Ordering groups are
    recognizable by ASC/DESC direction tokens."""
    groups = _top_level_groups(spec)
    if len(groups) >= 3:
        return not groups[1].strip()  # explicit empty partition group
    if len(groups) == 2:
        return " ASC" in groups[1] or " DESC" in groups[1]
    return True  # Window [funcs] alone: no partition at all


_BOUNDING = re.compile(r"TakeOrderedAndProject|GlobalLimit|CollectLimit|LocalLimit")
_DATA_SIZED = re.compile(r"FileScan|Exchange|Join\b|HashAggregate|MapInPandas|ArrowEval")


def global_window_violations(plan: str) -> list[str]:
    """Find partition-less Window operators whose input is NOT bounded
    by a limit.  A global window moves ALL its input to one partition
    (the WindowExec warning) — only legal above a TakeOrderedAndProject
    / limit, where the single partition holds O(k) rows by construction.

    A Window line prints 2 top-level bracket groups when global
    ([funcs], [order]) and 3 when partitioned ([funcs], [part], [order]).
    The window is bounded iff a limit operator appears in its subtree
    BEFORE any data-sized operator (scan/exchange/join/agg)."""
    lines = plan.splitlines()
    viol = []
    for i, line in enumerate(lines):
        m = re.match(r"^(?P<pre>[\s:+\-|]*)(\*\(\d+\)\s*)?Window (?P<spec>.*)", line)
        if m is None:
            continue
        if not _is_global_window(m.group("spec")):
            continue  # partitioned window: parallel, fine
        indent = len(m.group("pre"))
        bounded = False
        for sub in lines[i + 1:]:
            sm = re.match(r"^([\s:+\-|]*)", sub)
            if len(sm.group(1)) <= indent and sub.strip():
                break  # left the subtree
            if _BOUNDING.search(sub):
                bounded = True
                break
            if _DATA_SIZED.search(sub):
                break
        if not bounded:
            viol.append(line.strip()[:120])
    return viol


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    spark = get_spark("explain_audit")
    lines = [
        "# PLANS — physical-plan audit",
        "",
        f"Generated by `scripts/explain_audit.py` over `{sf_dir}`.",
        "Checks that the executed plans have the shape the engine is",
        "designed for (pushdown, pruning, broadcast, top-k fusion, fused",
        "Python stages, shuffle budget).",
        "",
        "| query | check | status | evidence |",
        "|---|---|---|---|",
    ]
    failures = 0
    for key, exp in AUDITS.items():
        df = QUERIES[key](spark, sf_dir)
        # Execute df's OWN QueryExecution so AQE settles on the final
        # plan (a noop write would spawn a separate QueryExecution and
        # leave df's plan un-adapted — the audited string would be the
        # pre-AQE initial plan, hiding runtime broadcast conversion and
        # coalesced/skew-split exchanges).
        df.collect()
        plan = executed_plan(df)
        assert "isFinalPlan=false" not in plan.splitlines()[0], key
        for name, ok, detail in audit(key, plan, exp):
            status = "ok" if ok else "FAIL"
            failures += (not ok)
            lines.append(f"| {key} | {name} | {status} | {detail} |")
            print(f"{'OK  ' if ok else 'FAIL'} {key:20s} {name:18s} {detail}")

    # escalation-bounded (round 15, VERDICT r14 #7): the filtered-ANN
    # recall contract escalates by re-running ivf_topk(predicate=...)
    # at doubled nprobe — so its scale story holds only if the
    # single-pass plan stays TakeOrdered + zero-exchange +
    # partition-pruned at EVERY probe depth (a shape regression at one
    # depth would multiply by the log2-bounded escalation rounds).
    # Pin it against a real persisted index, not an in-plan stand-in.
    import shutil
    import tempfile

    from pyspark.sql import functions as F  # noqa: N812

    from vector_db_ingestor_spark.operators.similarity import (
        ivf_read,
        ivf_topk,
        ivf_write,
    )

    tmp_ivf = tempfile.mkdtemp(prefix="explain_audit_ivf_")
    try:
        emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
        dim = len(emb.select("embedding").first()[0])
        probe_vec = [1.0 if i % 7 == 0 else 0.1 for i in range(dim)]
        ivf_write(emb, tmp_ivf, dim=dim, n_centroids=8, iters=1)
        indexed, cents = ivf_read(spark, tmp_ivf)
        depth = 1
        while depth <= len(cents):
            df = ivf_topk(
                indexed, cents, probe_vec, k=10, nprobe=depth,
                predicate=F.col("label") == 3,
            )
            df.collect()
            plan = executed_plan(df)
            checks = [
                ("take-ordered", "TakeOrderedAndProject" in plan),
                ("zero-exchange", count_shuffles(plan) == 0),
                # a 1-cell shortlist prints "(cid#n = 3)", wider ones
                # "cid#n IN (..)" — both are file-skipping
                (
                    "partition-pruned",
                    bool(
                        re.search(
                            r"PartitionFilters: \[[^\]]*(IN |= |EqualTo)",
                            plan,
                        )
                    ),
                ),
            ]
            ok = all(c[1] for c in checks)
            failures += (not ok)
            detail = ", ".join(
                f"{n}={'ok' if v else 'FAIL'}" for n, v in checks
            )
            lines.append(
                f"| ivf_topk(predicate) nprobe={depth} | escalation-bounded "
                f"| {'ok' if ok else 'FAIL'} | {detail} |"
            )
            print(
                f"{'OK  ' if ok else 'FAIL'} ivf_topk(pred) nprobe={depth:2d} "
                f"escalation-bounded  {detail}"
            )
            depth *= 2
    finally:
        shutil.rmtree(tmp_ivf, ignore_errors=True)

    # repo-wide invariants over every declared query's structural plan
    # (pre-AQE suffices: Window-vs-limit position and Python eval
    # fan-out are both decided at planning time, so no execution is
    # needed):
    # 1. every partition-less Window must rank a post-limit O(k) row
    #    set, never a data-sized single partition;
    # 2. no plan carries more than 2 Python eval nodes — the declared
    #    maximum is q_udf_surface's udf + pandas_udf pair; more than
    #    that means Catalyst duplicated a kernel (e.g. an inferred
    #    join-key null filter re-evaluating the UDF below the
    #    projection, caught on simhash in round 5 — fold such filters
    #    with coalesce(udf(...), <sentinel>)).  Self-join sides count
    #    pre-reuse, so the bound also caps unshared kernel fan-out.
    # per-invariant fail counters: a failure in one invariant must not
    # suppress the other invariant's summary row from PLANS.md
    window_fails = 0
    fanout_fails = 0
    eval_re = re.compile(
        r"ArrowEvalPython|BatchEvalPython|MapInPandas|FlatMapGroupsInPandas"
    )
    for key, fn in QUERIES.items():
        try:
            plan = fn(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
        except Exception as exc:  # pragma: no cover - audit-time visibility
            # exception text can hold newlines/pipes that would break
            # the Markdown table exactly when the evidence matters
            msg = " ".join(str(exc).split()).replace("|", "/")[:200]
            lines.append(f"| {key} | global-window-bounded | FAIL | plan error: {msg} |")
            lines.append(f"| {key} | python-eval-fanout | FAIL | plan error: {msg} |")
            failures += 1
            window_fails += 1
            fanout_fails += 1
            continue
        for v in global_window_violations(plan):
            failures += 1
            window_fails += 1
            lines.append(f"| {key} | global-window-bounded | FAIL | {v} |")
            print(f"FAIL {key:20s} global-window-bounded {v}")
        n_evals = len(eval_re.findall(plan))
        if n_evals > 2:
            failures += 1
            fanout_fails += 1
            lines.append(
                f"| {key} | python-eval-fanout | FAIL | {n_evals} Python eval nodes |"
            )
            print(f"FAIL {key:20s} python-eval-fanout {n_evals} eval nodes")
    if not window_fails:
        lines.append(
            f"| (all {len(QUERIES)} queries) | global-window-bounded | ok | "
            f"every partition-less Window ranks a post-limit row set |"
        )
        print(f"OK   global-window-bounded across {len(QUERIES)} queries")
    if not fanout_fails:
        lines.append(
            f"| (all {len(QUERIES)} queries) | python-eval-fanout | ok | "
            f"no structural plan exceeds 2 Python eval nodes |"
        )
        print(f"OK   python-eval-fanout across {len(QUERIES)} queries")
    spark.stop()
    with open(os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "PLANS.md"), "w") as f:
        f.write("\n".join(lines) + "\n")
    print(f"\n{failures} failures")
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
