"""The scale runner (scripts/scale_probe.py).

The measurement guard (VERDICT r11 #5): a linear-expectation family
whose big-factor leg measures FASTER than its small-factor leg is
physically impossible — the runner must re-time it within-session and
mark the row POLLUTED if the inversion persists, instead of publishing
a number the box already disproved.  Pure-function tests with an
injected timer; no Spark.

The replicators the runner's fixture dirs are built from, at factor 3,
and one smoke run of the runner itself (Spark)."""

import importlib.util
import os
import sys

import numpy as np
import pytest

_SPEC = importlib.util.spec_from_file_location(
    "scale_probe",
    os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                 "scripts", "scale_probe.py"),
)
scale_probe = importlib.util.module_from_spec(_SPEC)
sys.modules.setdefault("scale_probe", scale_probe)
_SPEC.loader.exec_module(scale_probe)

monotone_violations = scale_probe.monotone_violations
time_with_guard = scale_probe.time_with_guard


def test_monotone_violations_flags_only_linear_inversions():
    times = {
        "linear_ok": {30: 1.0, 100: 3.1},
        "linear_bad": {30: 2.0, 100: 1.2},   # impossible
        "flat_fastish": {30: 0.5, 100: 0.45},  # flat family: fine
        "partial": {30: 1.0},                 # one leg: not comparable
    }
    got = monotone_violations(times, {"linear_ok", "linear_bad", "partial"})
    assert got == ["linear_bad"]
    # a flat family is never flagged even when slightly inverted
    assert monotone_violations(times, {"flat_fastish"}) == ["flat_fastish"], (
        "sanity: the function itself is expectation-agnostic — the "
        "CALLER exempts flat families via the linear set"
    )


class _ScriptedTimer:
    """Returns scripted values per (family, call index)."""

    def __init__(self, script):
        self.script = {k: list(v) for k, v in script.items()}
        self.calls = []

    def __call__(self, token, reps):
        self.calls.append(token)
        return self.script[token].pop(0)


def _builders(names):
    # builder returns a token identifying (name, factor) so the fake
    # timer can script per-leg values
    return {
        n: {30: (lambda n=n: f"{n}@30"), 100: (lambda n=n: f"{n}@100")}
        for n in names
    }


def test_guard_retimes_and_clears_transient_inversion():
    timer = _ScriptedTimer({
        "a@30": [2.0, 1.0],   # first pass inverted, rerun sane
        "a@100": [1.5, 3.0],
        "b@30": [1.0],
        "b@100": [3.2],
    })
    times, polluted = time_with_guard(
        _builders(["a", "b"]), reps=1, linear={"a", "b"}, timer=timer
    )
    assert polluted == set()
    assert times["a"] == {30: 1.0, 100: 3.0}  # the RERUN numbers stand
    assert times["b"] == {30: 1.0, 100: 3.2}  # untouched: one timing each
    assert timer.calls.count("a@30") == 2 and timer.calls.count("b@30") == 1


def test_guard_marks_persistent_inversion_polluted():
    timer = _ScriptedTimer({
        "a@30": [2.0, 2.1],
        "a@100": [1.5, 1.4],  # still impossible after the rerun
    })
    times, polluted = time_with_guard(
        _builders(["a"]), reps=1, linear={"a"}, timer=timer
    )
    assert polluted == {"a"}
    assert times["a"] == {30: 2.1, 100: 1.4}


def test_guard_retimes_superlinear_overshoot_and_keeps_rerun():
    """retime_over: a linear family over the threshold is re-timed once
    at the end of the run; the rerun values REPLACE the first reading
    whatever they say (cleared here; a still-high rerun would also
    stand — no retry-until-it-fits)."""
    timer = _ScriptedTimer({
        "a@30": [2.0, 2.0],
        "a@100": [16.0, 6.2],  # 8.0 ratio first pass, 3.1 on retime
        "b@30": [1.0],
        "b@100": [3.2],        # under threshold: single timing
    })
    times, polluted = time_with_guard(
        _builders(["a", "b"]), reps=1, linear={"a", "b"}, timer=timer,
        retime_over=5.0,
    )
    assert polluted == set()
    assert times["a"] == {30: 2.0, 100: 6.2}
    assert times["b"] == {30: 1.0, 100: 3.2}
    assert timer.calls.count("a@100") == 2 and timer.calls.count("b@100") == 1


def test_guard_skips_flat_families():
    timer = _ScriptedTimer({
        "flat@30": [0.50],
        "flat@100": [0.45],  # inverted but exempt
    })
    times, polluted = time_with_guard(
        _builders(["flat"]), reps=1, linear=set(), timer=timer
    )
    assert polluted == set()
    assert len(timer.calls) == 2  # no rerun


FACTOR = 3


@pytest.fixture(scope="module")
def fixture_x3(spark, sf_dir, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("scale_x3"))
    scale_probe.write_fixture(spark, sf_dir, FACTOR, out)
    return out


def test_replicated_tables_have_disjoint_per_copy_key_ranges(
    spark, sf_dir, fixture_x3
):
    """Every replicated table holds FACTOR x the rows, and each key
    column holds exactly the 1x values shifted by k * ID_STRIDE for
    k = 0..FACTOR-1 (1x keys lie in [0, ID_STRIDE), so the per-copy
    ranges are disjoint); nation and region are copied unchanged."""
    from vector_db_ingestor_spark.tables import TABLES, load_table

    stride = scale_probe.ID_STRIDE
    key_cols = {
        "documents": ["doc_id"],
        "embeddings": ["vec_id"],
        "events": ["event_id", "user_id"],
        **scale_probe.REL_KEYS,
    }
    for name in TABLES:
        base = load_table(spark, sf_dir, name)
        rep = load_table(spark, fixture_x3, name)
        if name not in key_cols:
            assert sorted(rep.collect()) == sorted(base.collect()), name
            continue
        assert rep.count() == FACTOR * base.count(), name
        for c in key_cols[name]:
            one = [r[0] for r in base.select(c).collect()]
            assert 0 <= min(one) and max(one) < stride, (name, c)
            got = sorted(r[0] for r in rep.select(c).collect())
            want = sorted(v + k * stride for k in range(FACTOR) for v in one)
            assert got == want, (name, c)


def test_replicate_embeddings_keeps_within_copy_dots_bit_exact(spark, sf_dir):
    from vector_db_ingestor_spark.constants import EMBEDDING_DIM
    from vector_db_ingestor_spark.tables import load_table

    base = load_table(spark, sf_dir, "embeddings")
    rep = scale_probe.replicate_embeddings(base, FACTOR, EMBEDDING_DIM).toPandas()
    rep["copy"] = rep["vec_id"] // scale_probe.ID_STRIDE
    rep = rep.sort_values("vec_id")

    def dots(k):
        a = np.stack(rep.loc[rep["copy"] == k, "embedding"].map(np.asarray))
        a = a[:120]  # 120 x 120 pairs keeps the product tensor small
        return a, (a[:, None, :] * a[None, :, :]).sum(axis=-1)

    a0, d0 = dots(0)
    for k in range(1, FACTOR):
        ak, dk = dots(k)
        assert not np.array_equal(ak, a0)  # the mask really flips signs
        assert np.array_equal(dk, d0), f"copy {k} dot products moved"


def test_dedup_ngram_on_replicated_dir_is_shifted_1x_pairs(
    spark, sf_dir, fixture_x3
):
    """The exact-pair key on the 3x dir returns exactly the 1x pairs,
    once per copy, shifted by k * ID_STRIDE: no cross-copy pair, none
    lost within a copy."""
    from vector_db_ingestor_spark.queries import QUERIES

    stride = scale_probe.ID_STRIDE
    one = QUERIES["q_dedup_ngram"](spark, sf_dir).collect()
    assert one
    got = sorted(tuple(r) for r in QUERIES["q_dedup_ngram"](spark, fixture_x3).collect())
    want = sorted(
        (r["id_a"] + k * stride, r["id_b"] + k * stride, r["jaccard"])
        for k in range(FACTOR)
        for r in one
    )
    assert got == want


def test_runner_smoke_appends_one_section(spark, sf_dir, tmp_path):
    out = tmp_path / "SCALE_PROBE.md"
    out.write_text("# existing\n")
    key = "q_scan_project"
    times = scale_probe.run(spark, sf_dir, (1, 2), 1, [key], out=str(out))
    assert set(times[key]) == {1, 2}
    assert all(t > 0 for t in times[key].values())
    text = out.read_text()
    assert text.startswith("# existing\n")
    assert text.count("## scale run") == 1
    assert f"| {key} | 1x |" in text and f"| {key} | 2x |" in text
