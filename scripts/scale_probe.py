"""Scale runner: time declared query keys on the fixture corpus
replicated ``factor`` times, and append the measured scaling to
SCALE_PROBE.md.

    python scripts/scale_probe.py [sf_dir] [factors] [reps] key [key ...]

``factors`` is comma-separated (default ``30,100``), ``reps`` the timed
repetitions per leg (default 3).  The local core count is
``SPARK_GRAFT_CPUS``, as for every session ``get_spark`` builds, so a
core-scaling comparison is the same command run under two values.

For each factor, every fixture table in ``tables.TABLES`` is replicated
once into a temp fixture dir (``FILES`` parquet files per table), and
each key is timed calling the production callable exactly as the driver
does, ``QUERIES[key](spark, dir)``, the way bench.py times it: one noop
sink warm-up, then every rep rebuilds the plan, runs it to the noop
sink and calls ``release_all()``.  Each leg also reports the first
DataFrame build (Python plan build plus any eager driver jobs) and the
Catalyst analysis / optimization / planning ms of a fresh plan.

Replication must grow the corpus WITHOUT growing duplicate-group sizes:
identical copies turn every document into a k-clone duplicate cluster,
and pair-producing dedup output is quadratic in clone-group size (first
measured run: embed_near_dups went 38x at 10x data purely from
clone-pair output — see SCALING.md "order exact dedup first").  So
copy k of every row is transformed by a structure-preserving,
cross-copy-disjoint bijection, and its key columns get ``+ k *
ID_STRIDE``:

* embeddings — elementwise sign mask s_k in {-1,+1}^dim (one mask per
  copy): dot(a*s, b*s) == dot(a, b) BIT-EXACTLY, so intra-copy near-dup
  structure and LSH-bucket occupancy are preserved, while cross-copy
  cosines collapse toward 0.
* documents — per-copy alphabet rotation via translate(): a bijection
  on tokens, so intra-copy gram equality (and jaccard) is exact, while
  cross-copy grams are disjoint.
* events — disjoint ``user_id`` ranges per copy.
* customer / supplier / part / orders / lineitem — every key column
  (``REL_KEYS``) offset, so cross-copy rows never join.
* nation, region — dimension tables, copied unchanged.

Near-dup and join density per unit of corpus is then constant as the
corpus grows — the honest scaling regime.
"""

from __future__ import annotations

import math
import os
import re
import shutil
import statistics
import sys
import tempfile
import time
from typing import NamedTuple

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from vector_db_ingestor_spark.caching import release_all
from vector_db_ingestor_spark.constants import EMBEDDING_DIM
from vector_db_ingestor_spark.queries import QUERIES
from vector_db_ingestor_spark.session import get_spark
from vector_db_ingestor_spark.tables import TABLES, load_table

ID_STRIDE = 10_000_000

ALPHABET = "abcdefghijklmnopqrstuvwxyz"

# parquet files per replicated table: fixed, so a leg's scan
# parallelism does not change with SPARK_GRAFT_CPUS
FILES = 32

REL_KEYS = {
    "customer": ["c_custkey"],
    "supplier": ["s_suppkey"],
    "part": ["p_partkey"],
    "orders": ["o_orderkey", "o_custkey"],
    "lineitem": ["l_orderkey", "l_partkey", "l_suppkey"],
}

SCALE_PROBE_MD = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "SCALE_PROBE.md"
)


def _sign_mask(k: int, dim: int) -> list[float]:
    """Deterministic ±1 mask for copy k (identity for k=0)."""
    if k == 0:
        return [1.0] * dim
    return [1.0 if math.sin(0.9 * k * (i + 1) + 0.17) > 0 else -1.0 for i in range(dim)]


def _replicated(df: DataFrame, id_col: str, factor: int) -> DataFrame:
    """factor copies with disjoint id ranges, flattened through ONE
    explode (no union tower — a 10-way union makes 10 scan branches;
    the explode keeps a single scan).  Caller transforms payload per
    __k before dropping it."""
    k = F.explode(F.sequence(F.lit(0), F.lit(factor - 1))).alias("__k")
    # long multiply: int __k * int stride overflows ANSI int32 at
    # k >= 215 (first hit probing 300x); fixture ids are long, so the
    # resulting id type is unchanged
    return df.select("*", k).withColumn(
        id_col, F.col(id_col) + F.col("__k").cast("long") * F.lit(ID_STRIDE)
    )


def replicate_docs(df: DataFrame, factor: int) -> DataFrame:
    if factor == 1:
        return df
    out = _replicated(df, "doc_id", factor)
    # translate() takes static alphabets, so pick the copy's rotation
    # with a when-chain of static translates.  The chain branches on
    # __k % 26 (rotations repeat mod 26), NOT on __k: a per-k chain is
    # factor-1 deep and the nested Column tree overflowed the JVM
    # conversion stack at 300x — bounding depth at 25 makes the
    # replicator factor-independent.  Values are unchanged.
    rotated = F.col("text")
    for r in range(min(factor - 1, 25), 0, -1):
        rot = ALPHABET[r:] + ALPHABET[:r]
        rotated = F.when(
            F.col("__k") % 26 == r,
            F.translate(F.col("text"), ALPHABET, rot),
        ).otherwise(rotated)
    if factor > 26:
        # rotations repeat mod 26: without this, copy k is an EXACT
        # clone of copy k-26 and cross-copy near-dup pairs reappear
        # (the clone-pair quadratic the bijections exist to prevent
        # — first seen as minhash candidates growing 11.6x for 3x
        # data in the 30x deep probe).  Tagging every token with a
        # copy-unique marker (U+00A7 appears in no fixture and in
        # no rotation's image) keeps intra-copy gram equality exact
        # while making cross-copy grams disjoint again.
        marked = F.regexp_replace(
            rotated,
            F.lit(r"(\S+)"),
            F.concat(F.lit("§"), F.col("__k").cast("string"), F.lit("§$1")),
        )
        rotated = F.when(F.col("__k") >= 26, marked).otherwise(rotated)
    return out.withColumn("text", rotated).drop("__k")


def replicate_embeddings(df: DataFrame, factor: int, dim: int) -> DataFrame:
    if factor == 1:
        return df
    out = _replicated(df, "vec_id", factor)
    masks = F.array(*[F.lit(_sign_mask(k, dim)) for k in range(factor)])
    mask = F.element_at(masks, F.col("__k") + 1)
    # x * ±1 is exact in any float width, so casting back keeps every
    # leg at the fixture's element type (a float -> double widening
    # would double the vector bytes of the replicated legs only)
    return out.withColumn(
        "embedding",
        F.zip_with(
            F.col("embedding").cast("array<double>"), mask, lambda x, s: x * s
        ).cast(df.schema["embedding"].dataType),
    ).drop("__k")


def replicate_events(df: DataFrame, factor: int) -> DataFrame:
    """Disjoint user_id ranges per copy: cross-copy rows can never
    join, so per-user join-output density stays constant as the corpus
    grows (same invariant as the doc/embedding bijections)."""
    if factor == 1:
        return df
    out = _replicated(df, "event_id", factor)
    return out.withColumn(
        "user_id", F.col("user_id") + F.col("__k").cast("long") * F.lit(ID_STRIDE)
    ).drop("__k")


def _replicate_rel(df: DataFrame, id_cols: list[str], factor: int) -> DataFrame:
    """factor copies of a relational table with EVERY listed key column
    offset into a disjoint per-copy range — cross-copy rows can never
    join and per-key group/partition sizes stay constant as the corpus
    grows (the relational twin of the doc/embedding bijections)."""
    if factor == 1:
        return df
    out = _replicated(df, id_cols[0], factor)
    for c in id_cols[1:]:
        out = out.withColumn(
            c, F.col(c) + F.col("__k").cast("long") * F.lit(ID_STRIDE)
        )
    return out.drop("__k")


def replicate_table(
    spark: SparkSession, sf_dir: str, name: str, factor: int
) -> DataFrame:
    df = load_table(spark, sf_dir, name)
    if name == "documents":
        return replicate_docs(df, factor)
    if name == "embeddings":
        return replicate_embeddings(df, factor, EMBEDDING_DIM)
    if name == "events":
        return replicate_events(df, factor)
    if name in REL_KEYS:
        return _replicate_rel(df, REL_KEYS[name], factor)
    return df  # nation, region


def write_fixture(spark: SparkSession, sf_dir: str, factor: int, out_dir: str) -> None:
    """Materialize every fixture table at ``factor`` under ``out_dir``,
    laid out like an sf_dir, so the replicator stays out of the timed
    plans and the keys run unmodified."""
    for name in TABLES:
        replicate_table(spark, sf_dir, name, factor).repartition(FILES).write.mode(
            "overwrite"
        ).parquet(os.path.join(out_dir, f"{name}.parquet"))


def catalyst_phases(df: DataFrame) -> dict[str, int]:
    """Phase name -> duration ms from the JVM-side phase tracker."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()  # force analysis -> physical planning
    out: dict[str, int] = {}
    it = qe.tracker().phases().iterator()
    while it.hasNext():
        kv = it.next()
        out[str(kv._1())] = int(kv._2().endTimeMs() - kv._2().startTimeMs())
    return out


def monotone_violations(
    times: dict[str, dict[int, float]], linear: set[str]
) -> list[str]:
    """Families whose LARGEST-factor leg measured FASTER than their
    smallest-factor leg despite a linear cost expectation — physically
    impossible on this workload, so the number is box noise, not
    engine behavior (round-11 recorded two such orderings by hand;
    this makes the detection mechanical — VERDICT r11 #5)."""
    out = []
    for name in sorted(linear):
        t = times.get(name)
        if not t or len(t) < 2:
            continue
        lo, hi = min(t), max(t)
        if t[hi] < t[lo]:
            out.append(name)
    return out


def time_with_guard(
    builders: "dict[str, dict[int, object]]",
    reps: int,
    linear: set[str],
    timer,
    retime_over: float | None = None,
) -> tuple[dict[str, dict[int, float]], set[str]]:
    """Time every (family, factor) leg with the measurement discipline
    the round-11 prose applied by hand, enforced in the runner: a
    linear-expectation family whose big-factor leg comes out FASTER
    than its small-factor leg is re-timed once, BOTH legs,
    within-session (the only comparison this box supports —
    BENCH-notes r11); a family still inverted after the re-run is
    returned in ``polluted`` so the published table marks the row
    instead of presenting a number the box already disproved.

    ``builders[name][factor]`` is a zero-arg callable returning what
    ``timer(leg, reps)`` times (called afresh per timing so re-runs
    don't reuse a cached plan).

    ``retime_over`` (round 12, from the 24-family queue-probe lesson:
    a long back-to-back run heats the box enough to pollute its LATER
    families' big legs) re-times, once, any linear family whose
    big/small ratio exceeds the threshold — at the END of the run,
    when the box is quiet again — and publishes the RE-RUN numbers
    whatever they say.  This is not retry-until-it-fits: the rerun
    always replaces the first reading, a still-high rerun stays in the
    table, and only the first reading's contention is removed."""

    def _retime(name: str, tag: str) -> None:
        for factor in sorted(builders[name]):
            times[name][factor] = timer(builders[name][factor](), reps)
            print(
                f"x{factor:<4d} {name} ({tag}): {times[name][factor]:.2f}s",
                flush=True,
            )

    times: dict[str, dict[int, float]] = {}
    for name, legs in builders.items():
        for factor in sorted(legs):
            times.setdefault(name, {})[factor] = timer(legs[factor](), reps)
            print(
                f"x{factor:<4d} {name}: {times[name][factor]:.2f}s",
                flush=True,
            )
    polluted: set[str] = set()
    for name in monotone_violations(times, linear):
        print(f"GUARD {name}: impossible ordering, re-timing both legs",
              flush=True)
        _retime(name, "rerun")
        if monotone_violations({name: times[name]}, {name}):
            polluted.add(name)
            print(f"GUARD {name}: still inverted — marking POLLUTED",
                  flush=True)
    if retime_over is not None:
        for name in sorted(linear):
            t = times.get(name)
            if not t or len(t) < 2 or name in polluted:
                continue
            lo, hi = min(t), max(t)
            if t[lo] > 0 and t[hi] / t[lo] > retime_over:
                print(
                    f"GUARD {name}: ratio {t[hi] / t[lo]:.2f} over "
                    f"{retime_over:.2f}, re-timing both legs",
                    flush=True,
                )
                _retime(name, "retimed")
    return times, polluted


class Leg(NamedTuple):
    key: str
    factor: int
    fixture: str


def _noop(df: DataFrame) -> None:
    df.write.format("noop").mode("overwrite").save()


def run(
    spark: SparkSession,
    sf_dir: str,
    factors: tuple[int, ...],
    reps: int,
    keys: list[str],
    out: str = SCALE_PROBE_MD,
) -> dict[str, dict[int, float]]:
    """Time ``keys`` at every factor and append one section to ``out``;
    returns the warm medians, key -> factor -> seconds."""
    factors = tuple(sorted(factors))
    # key -> factor -> (first build s, Catalyst phase ms)
    profile: dict[str, dict[int, tuple[float, dict[str, int]]]] = {}

    def timer(leg: Leg, reps: int) -> float:
        def build() -> DataFrame:
            return QUERIES[leg.key](spark, leg.fixture)

        t0 = time.perf_counter()
        df = build()
        build_s = time.perf_counter() - t0
        _noop(df)
        release_all()
        phases = catalyst_phases(build())
        release_all()
        ts = []
        for _ in range(reps):
            t0 = time.perf_counter()
            _noop(build())
            ts.append(time.perf_counter() - t0)
            release_all()
        profile.setdefault(leg.key, {})[leg.factor] = (build_s, phases)
        return statistics.median(ts)

    tmp = tempfile.mkdtemp(prefix="scale_probe_")
    try:
        doc_rows = {}
        builders: dict[str, dict[int, object]] = {}
        for factor in factors:
            fixture = os.path.join(tmp, f"x{factor}")
            write_fixture(spark, sf_dir, factor, fixture)
            doc_rows[factor] = load_table(spark, fixture, "documents").count()
            for key in keys:
                builders.setdefault(key, {})[factor] = (
                    lambda leg=Leg(key, factor, fixture): leg
                )
        # every leg carries a linear expectation: guarded against
        # impossible orderings, and re-timed at the end of the run when
        # it overshoots linear by 1.5x (a long back-to-back run
        # pollutes its own later keys)
        times, polluted = time_with_guard(
            builders, reps, set(keys), timer,
            retime_over=factors[-1] / factors[0] * 1.5,
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)

    lo = factors[0]
    lines = [
        "",
        "## scale run — SPARK_GRAFT_CPUS=%s (%s), factors %s, warm median-of-%d"
        % (
            os.environ.get("SPARK_GRAFT_CPUS", "unset"),
            spark.sparkContext.master,
            ",".join(map(str, factors)),
            reps,
        ),
        "",
        f"`scripts/scale_probe.py` over `{sf_dir}` (documents rows: {doc_rows}).",
        f"`vs {lo}x` is the median over the {lo}x median; linear is the",
        "factor ratio.  `build` is the first `QUERIES[key](spark, dir)`",
        "call; `catalyst ms` is analysis / optimization / planning of a",
        "fresh plan.  Rows time_with_guard could not clear are POLLUTED.",
        "",
        f"| key | factor | median | vs {lo}x | build | catalyst ms |",
        "|---|---|---|---|---|---|",
    ]
    for key in keys:
        for factor in factors:
            t = times[key][factor]
            build_s, ph = profile[key][factor]
            mark = " POLLUTED" if key in polluted and factor != lo else ""
            lines.append(
                f"| {key} | {factor}x | {t:.2f}s | "
                f"{t / times[key][lo]:.2f}{mark} | {build_s:.3f}s | "
                f"{ph.get('analysis', -1)} / {ph.get('optimization', -1)} / "
                f"{ph.get('planning', -1)} |"
            )
    with open(out, "a") as f:
        f.write("\n".join(lines) + "\n")
    print("\n".join(lines))
    print(f"appended to {out}")
    return times


def main(argv: list[str]) -> None:
    args = list(argv)
    sf_dir = args.pop(0) if args and os.path.isdir(args[0]) else "/root/testdata/sf0.1"
    factors: tuple[int, ...] = (30, 100)
    reps = 3
    if args and re.fullmatch(r"\d+(,\d+)*", args[0]):
        factors = tuple(int(x) for x in args.pop(0).split(","))
    if args and args[0].isdigit():
        reps = int(args.pop(0))
    if not args:
        raise SystemExit(__doc__)
    unknown = [k for k in args if k not in QUERIES]
    if unknown:
        raise SystemExit(f"unknown query keys: {unknown}")
    spark = get_spark("scale_probe")
    try:
        run(spark, sf_dir, factors, reps, args)
    finally:
        spark.stop()


if __name__ == "__main__":
    main(sys.argv[1:])
