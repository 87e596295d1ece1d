"""Round-10 ADVICE closures — one pinned test per round-9 advisory.

1. binary_auc: rows with a NULL label were silently counted as
   negatives (otherwise-branch of the when) and a NULL score formed
   its own distinct-score group ordering NULLS FIRST; the fix excludes
   both, mirroring welch_ttest/ks_test. Pinned: NULL rows do not move
   the AUC or the counts.
2. km_survival: a NULL duration emitted a t=NULL curve row and a NULL
   event flag silently counted as censored; the fix excludes both.
   Pinned: NULL rows do not change the curve.
3. welch_ttest: the <2-rows loud guard was attached only to n_a, so a
   projection pruning n_a optimized the raise_error away and t/var
   degraded to NULL/Inf silently; the fix threads the guard through
   every output column. Pinned: selecting ONLY t still raises.
4. bench.py truncation loop: the estimated decrement could overshoot
   past small feasible sizes straight to <= 0, shipping the map-less
   headline when a 1-2 entry map still fit. Pinned: the loop always
   attempts keep == 1 before dropping the map.
"""
import json

import pytest
from pyspark.sql import Row

from powerdatapipeline_spark.operators import stats as st


def _auc_rows(spark, rows):
    return spark.createDataFrame(rows, "score double, label boolean")


def test_binary_auc_ignores_null_label_and_score(spark):
    clean = [(0.9, True), (0.8, True), (0.4, False), (0.1, False)]
    noisy = clean + [(0.95, None), (None, True), (None, None)]
    a = st.binary_auc(_auc_rows(spark, clean), "score", "label").collect()[0]
    b = st.binary_auc(_auc_rows(spark, noisy), "score", "label").collect()[0]
    assert a.asDict() == b.asDict()
    assert (b["n_pos"], b["n_neg"], b["n_scores"]) == (2, 2, 4)
    assert b["auc"] == 1.0


def test_km_survival_ignores_null_duration_and_event(spark):
    clean = [(1, True), (2, True), (2, False), (5, True)]
    noisy = clean + [(None, True), (3, None), (None, None)]
    mk = lambda rows: spark.createDataFrame(rows, "t bigint, ev boolean")
    a = st.km_survival(mk(clean), "t", "ev").orderBy("t").collect()
    b = st.km_survival(mk(noisy), "t", "ev").orderBy("t").collect()
    assert [r.asDict() for r in a] == [r.asDict() for r in b]
    assert all(r["t"] is not None for r in b)
    # the at-risk set never saw the NULL rows
    assert b[0]["n_risk"] == 4


def test_welch_guard_survives_column_pruning(spark):
    df = spark.createDataFrame(
        [Row(v=1.0, g="a"), Row(v=2.0, g="b"), Row(v=3.0, g="b")])
    out = st.welch_ttest(df, "v", "g", "a", "b")
    with pytest.raises(Exception, match="< 2 non-null rows"):
        # project a single non-n_a column: pruning must NOT optimize
        # the loud guard away
        out.select("t").collect()


def test_bench_truncation_attempts_keep_one():
    """Reconstruct the ADVICE scenario: a full query map that overflows
    so hard the estimated decrement would overshoot keep straight past
    1 to <= 0 — yet a 1-entry map fits. The clamped loop must ship the
    1-entry map, not the map-less headline."""
    from bench import build_payloads, MAX_LINE

    # non-qNN names pass through short_name unshortened: 50 entries at
    # ~310 chars each -> first truncation estimate jumps by ~1100 keeps
    timings = {f"op_{'x' * 300}_{i:02d}": 1.0 for i in range(50)}
    detail, line = build_payloads(timings, "0.1")
    obj = json.loads(line)
    assert len(line) <= MAX_LINE
    # the map survived truncation (>= 1 entry), never dropped wholesale
    assert obj.get("queries"), line
    # q_omitted counts queries absent from the line entirely; the packed
    # ``t`` field carries every timing, so none is (bench.py docstring)
    assert obj["q_omitted"] == 0
