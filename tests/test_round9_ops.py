"""Round-9 operators: ROC AUC, mutual information, Welch t, KS test,
Kaplan-Meier survival (stats.py) and large-star/small-star connected
components (graph.py). Hand-computed pins beside the q179-q184 oracles.
"""
import math

import pytest
from pyspark.sql import Row, functions as F

from powerdatapipeline_spark.operators import dedup as dd
from powerdatapipeline_spark.operators import graph as gr
from powerdatapipeline_spark.operators import stats as st


# ------------------------------------------------------------------ AUC

def test_auc_perfect_separation(spark):
    df = spark.createDataFrame([Row(s=0.9, y=True), Row(s=0.8, y=True),
                                Row(s=0.3, y=False), Row(s=0.1, y=False)])
    r = st.binary_auc(df, "s", "y").collect()[0]
    assert (r["auc"], r["gini"]) == (1.0, 1.0)
    assert (r["n_pos"], r["n_neg"], r["n_scores"]) == (2, 2, 4)


def test_auc_reversed_is_zero(spark):
    df = spark.createDataFrame([Row(s=0.1, y=True), Row(s=0.9, y=False)])
    r = st.binary_auc(df, "s", "y").collect()[0]
    assert (r["auc"], r["gini"]) == (0.0, -1.0)


def test_auc_tie_half_credit(spark):
    # pos {0.5, 0.9}, neg {0.5, 0.1}: pairs = 0.5 + 1 + 1 + 1 of 4
    df = spark.createDataFrame([Row(s=0.5, y=True), Row(s=0.5, y=False),
                                Row(s=0.9, y=True), Row(s=0.1, y=False)])
    r = st.binary_auc(df, "s", "y").collect()[0]
    assert r["auc"] == 0.875 and r["n_scores"] == 3


def test_auc_single_class_empty(spark):
    df = spark.createDataFrame([Row(s=0.5, y=True), Row(s=0.9, y=True)])
    assert st.binary_auc(df, "s", "y").count() == 0


def test_auc_keys(spark):
    rows = [Row(k="g1", s=0.9, y=True), Row(k="g1", s=0.1, y=False),
            Row(k="g2", s=0.1, y=True), Row(k="g2", s=0.9, y=False)]
    out = {r["k"]: r["auc"]
           for r in st.binary_auc(spark.createDataFrame(rows), "s", "y",
                                  keys=["k"]).collect()}
    assert out == {"g1": 1.0, "g2": 0.0}


# ------------------------------------------------- mutual information

def test_mi_independent_zero(spark):
    df = spark.createDataFrame([Row(x="a", y="p"), Row(x="a", y="q"),
                                Row(x="b", y="p"), Row(x="b", y="q")])
    r = st.mutual_information(df, "x", "y").collect()[0]
    assert r["mi"] == 0.0 and r["nmi"] == 0.0
    assert (r["x_levels"], r["y_levels"], r["n"]) == (2, 2, 4)
    assert abs(r["h_x"] - math.log(2)) < 2e-6


def test_mi_identical_is_entropy(spark):
    df = spark.createDataFrame([Row(x="a", y="a"), Row(x="b", y="b")] * 3)
    r = st.mutual_information(df, "x", "y").collect()[0]
    assert abs(r["mi"] - math.log(2)) < 2e-6 and r["nmi"] == 1.0


def test_mi_nulls_excluded(spark):
    df = spark.createDataFrame([Row(x="a", y="p"), Row(x=None, y="p"),
                                Row(x="a", y=None), Row(x="b", y="q")])
    r = st.mutual_information(df, "x", "y").collect()[0]
    assert r["n"] == 2


# ------------------------------------------------------------- Welch t

def test_welch_hand_case(spark):
    rows = [Row(g="x", v=float(i)) for i in (1, 2, 3, 4)] + \
           [Row(g="y", v=float(i)) for i in (10, 20, 30, 40)]
    r = st.welch_ttest(spark.createDataFrame(rows), "v", "g",
                       "x", "y").collect()[0]
    assert (r["n_a"], r["n_b"]) == (4, 4)
    assert r["mean_a"] == 2.5 and r["mean_b"] == 25.0
    va, vb = 5.0 / 3, 500.0 / 3
    assert abs(r["var_a"] - va) < 2e-6 and abs(r["var_b"] - vb) < 2e-6
    se2 = va / 4 + vb / 4
    t = (2.5 - 25.0) / math.sqrt(se2)
    dfree = se2 ** 2 / ((va / 4) ** 2 / 3 + (vb / 4) ** 2 / 3)
    assert abs(r["t"] - t) < 2e-6 and abs(r["df"] - dfree) < 2e-6


def test_welch_small_group_raises(spark):
    rows = [Row(g="x", v=1.0), Row(g="y", v=2.0), Row(g="y", v=3.0)]
    with pytest.raises(Exception, match="< 2 non-null rows"):
        st.welch_ttest(spark.createDataFrame(rows), "v", "g",
                       "x", "y").collect()


def test_welch_large_magnitude_stable(spark):
    # ~5e4-scale values: the regime where double-product decimal casts
    # diverged cross-engine (q182's original failure)
    rows = [Row(g="x", v=51836.40), Row(g="x", v=53471.62),
            Row(g="y", v=51000.01), Row(g="y", v=52999.99)]
    r = st.welch_ttest(spark.createDataFrame(rows), "v", "g",
                       "x", "y").collect()[0]
    assert r["mean_a"] == 52654.01 and r["mean_b"] == 52000.0


# ---------------------------------------------------------------- KS

def test_ks_identical_zero(spark):
    rows = [Row(g="x", v=1.0), Row(g="x", v=2.0),
            Row(g="y", v=1.0), Row(g="y", v=2.0)]
    r = st.ks_test(spark.createDataFrame(rows), "v", "g",
                   "x", "y").collect()[0]
    assert r["d"] == 0.0


def test_ks_disjoint_one(spark):
    rows = [Row(g="x", v=1.0), Row(g="x", v=2.0),
            Row(g="y", v=5.0), Row(g="y", v=6.0)]
    r = st.ks_test(spark.createDataFrame(rows), "v", "g",
                   "x", "y").collect()[0]
    assert r["d"] == 1.0 and r["d_at"] == 2.0


def test_ks_hand_case(spark):
    # x={1,2,3}, y={2,3,4}: D = 1/3 attained first at v=1
    rows = [Row(g="x", v=float(v)) for v in (1, 2, 3)] + \
           [Row(g="y", v=float(v)) for v in (2, 3, 4)]
    r = st.ks_test(spark.createDataFrame(rows), "v", "g",
                   "x", "y").collect()[0]
    assert abs(r["d"] - 1.0 / 3) < 2e-6
    assert r["d_at"] == 1.0 and r["n_values"] == 4


# ------------------------------------------------------- Kaplan-Meier

def test_km_hand_case(spark):
    # durations: 1 censored, 2 event, 3 censored, 4 event (terminal)
    rows = [Row(t=1, e=False), Row(t=2, e=True),
            Row(t=3, e=False), Row(t=4, e=True)]
    out = {r["t"]: r for r in
           st.km_survival(spark.createDataFrame(rows), "t", "e").collect()}
    assert set(out) == {2, 4}
    assert out[2]["n_risk"] == 3 and out[2]["survival"] == 0.666667
    assert abs(out[2]["log_survival"] - math.log(2.0 / 3)) < 2e-6
    # terminal time: every remaining subject dies -> survival exactly 0,
    # log undefined
    assert out[4]["n_risk"] == 1 and out[4]["survival"] == 0.0
    assert out[4]["log_survival"] is None


def test_km_censoring_shrinks_risk_set(spark):
    rows = [Row(t=1, e=False), Row(t=2, e=True), Row(t=2, e=True),
            Row(t=3, e=False), Row(t=5, e=False)]
    out = {r["t"]: r for r in
           st.km_survival(spark.createDataFrame(rows), "t", "e").collect()}
    assert set(out) == {2}
    assert out[2]["n_risk"] == 4 and out[2]["n_events"] == 2
    assert out[2]["survival"] == 0.5


def test_km_no_events_empty(spark):
    rows = [Row(t=1, e=False), Row(t=2, e=False)]
    assert st.km_survival(spark.createDataFrame(rows), "t", "e").count() == 0


# --------------------------------------------- connected components

def _edges(spark, pairs):
    return spark.createDataFrame([Row(src=a, dst=b) for a, b in pairs])


def test_cc_path_graph_logarithmic(spark):
    # 61-node path: min-label flood needs 60 rounds; star contraction
    # converges well inside the default budget
    cc = gr.connected_components(
        _edges(spark, [(i, i + 1) for i in range(60)])).collect()
    labels = {r["node"]: r["label"] for r in cc}
    assert len(labels) == 61 and set(labels.values()) == {0}


def test_cc_components_and_self_loop(spark):
    e = _edges(spark, [(1, 2), (2, 3), (10, 11), (20, 20)])
    out = {r["node"]: r["label"]
           for r in gr.connected_components(e).collect()}
    assert out == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 20: 20}


def test_cc_matches_min_label_flood(spark):
    import random
    rnd = random.Random(7)
    pairs = sorted({(min(a, b), max(a, b))
                    for a, b in [(rnd.randrange(200), rnd.randrange(200))
                                 for _ in range(150)] if a != b})
    cc = {r["node"]: r["label"] for r in
          gr.connected_components(_edges(spark, pairs)).collect()}
    flood = {r["node"]: r["label"] for r in
             dd.dedup_clusters(
                 spark.createDataFrame(
                     [Row(id_a=a, id_b=b) for a, b in pairs]),
                 max_iter=60).collect()}
    assert cc == flood


def test_cc_large_ids(spark):
    big = 5_000_000_000
    cc = {r["node"]: r["label"] for r in gr.connected_components(
        _edges(spark, [(big, big + 1), (big + 1, big + 2)])).collect()}
    assert cc == {big: big, big + 1: big, big + 2: big}


def test_cc_budget_exhaustion_raises(spark, graph_distributed):
    # graph_distributed pins the DISTRIBUTED star contraction: the
    # round budget is a property of the iterative path (the single-task
    # kernel converges exactly and has no budget)
    with pytest.raises(RuntimeError, match="did not converge"):
        gr.connected_components(
            _edges(spark, [(i, i + 1) for i in range(300)]), max_iter=2)
