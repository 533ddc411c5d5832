"""kNN join (counts-pyramid radius proof) vs brute-force O(N^2) oracle."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from dxf_postgis_converter_spark.operators.knn import knn_join


@pytest.fixture(scope="module")
def knn_data(spark):
    rng = np.random.default_rng(5)
    # clustered + uniform targets so probes select different levels
    t1 = rng.uniform(0, 8192, size=(400, 2))
    t2 = rng.normal(loc=(1500, 1500), scale=30, size=(100, 2))
    targets = np.vstack([t1, t2])
    probes = rng.uniform(0, 8192, size=(60, 2))
    tdf = spark.createDataFrame(
        [(f"t{i}", float(x), float(y)) for i, (x, y) in enumerate(targets)],
        "target_id string, x double, y double")
    pdf = spark.createDataFrame(
        [(f"p{i}", float(x), float(y)) for i, (x, y) in enumerate(probes)],
        "probe_id string, x double, y double")
    return pdf, tdf, probes, targets


def brute_knn(probes, targets, k):
    exp = {}
    for i, (px, py) in enumerate(probes):
        d = np.hypot(targets[:, 0] - px, targets[:, 1] - py)
        # tie-break by target_id string, matching the engine
        order = sorted(range(len(targets)), key=lambda j: (d[j], f"t{j}"))
        exp[f"p{i}"] = [(f"t{j}", d[j]) for j in order[:k]]
    return exp


@pytest.mark.parametrize("k,res", [(3, 8), (5, 6), (1, 10)])
def test_knn_vs_bruteforce(knn_data, k, res):
    pdf, tdf, probes, targets = knn_data
    got = knn_join(pdf, tdf, k=k, res=res).collect()
    exp = brute_knn(probes, targets, k)
    by_probe = {}
    for r in got:
        by_probe.setdefault(r.probe_id, []).append((r.rank, r.target_id, r.dist))
    assert set(by_probe) == set(exp)
    for pid, rows in by_probe.items():
        rows.sort()
        assert [t for _, t, _ in rows] == [t for t, _ in exp[pid]]
        for (_, _, dg), (_, de) in zip(rows, exp[pid]):
            assert dg == pytest.approx(de, rel=1e-12)


@pytest.mark.parametrize("targets,probes,k", [
    # two targets, one probe between them
    ([(10.0, 10.0), (20.0, 20.0)], [(15.0, 15.0)], 5),
    # a dense 30-point cluster: one probe inside it, one far away
    (np.random.default_rng(4).normal(loc=(100, 100), scale=2, size=(30, 2)),
     [(100.0, 100.0), (5000.0, 5000.0)], 50),
], ids=["two_targets", "dense_cluster"])
def test_knn_fewer_targets_than_k(spark, targets, probes, k):
    """With < k targets total no probe can have k neighbours: every probe
    is absent from the result (documented semantics — no partial rows,
    no hang), also when the targets are packed into one hot cell."""
    tdf = spark.createDataFrame(
        [(f"t{i}", float(x), float(y)) for i, (x, y) in enumerate(targets)],
        "target_id string, x double, y double")
    pdf = spark.createDataFrame(
        [(f"p{i}", float(x), float(y)) for i, (x, y) in enumerate(probes)],
        "probe_id string, x double, y double")
    assert knn_join(pdf, tdf, k=k, res=4).collect() == []


def test_knn_exact_k_targets(spark):
    tdf = spark.createDataFrame(
        [(f"t{i}", float(i * 100), 0.0) for i in range(5)],
        "target_id string, x double, y double")
    pdf = spark.createDataFrame([("p0", 0.0, 0.0)], "probe_id string, x double, y double")
    rows = knn_join(pdf, tdf, k=5, res=6).orderBy("rank").collect()
    assert [r.target_id for r in rows] == ["t0", "t1", "t2", "t3", "t4"]
    assert [r.rank for r in rows] == [1, 2, 3, 4, 5]


def test_knn_tie_determinism(spark):
    """Four equidistant targets: ranks break ties by target_id."""
    tdf = spark.createDataFrame(
        [("a", 10.0, 0.0), ("b", -10.0, 0.0), ("c", 0.0, 10.0), ("d", 0.0, -10.0)],
        "target_id string, x double, y double")
    pdf = spark.createDataFrame([("p", 0.0, 0.0)], "probe_id string, x double, y double")
    r1 = [(r.target_id, r.rank) for r in
          knn_join(pdf, tdf, k=3, res=5).orderBy("rank").collect()]
    r2 = [(r.target_id, r.rank) for r in
          knn_join(pdf, tdf, k=3, res=5).orderBy("rank").collect()]
    assert r1 == r2 == [("a", 1), ("b", 2), ("c", 3)]


def test_knn_probe_on_target(spark):
    """A probe colocated with a target gets it at dist 0, rank 1."""
    tdf = spark.createDataFrame(
        [("t0", 50.0, 50.0), ("t1", 60.0, 60.0)], "target_id string, x double, y double")
    pdf = spark.createDataFrame([("p", 50.0, 50.0)], "probe_id string, x double, y double")
    top = knn_join(pdf, tdf, k=1, res=6).first()
    assert top.target_id == "t0" and top.dist == 0.0 and top.rank == 1


# --- level selection and the floor ----------------------------------------


def test_knn_oneshot_dense_hot_cell_exact(spark):
    """A dense hot cell + scattered probes: level selection must pick
    fine levels for the core and coarse for the sparse region, and the
    answer must equal brute force exactly."""
    import dxf_postgis_converter_spark.operators.knn as knn_mod
    rng = np.random.default_rng(9)
    dense = rng.normal(loc=(700, 700), scale=12, size=(3000, 2))
    sparse = rng.uniform(0, 8192, size=(200, 2))
    targets = np.vstack([dense, sparse])
    probes = np.vstack([
        rng.normal(loc=(700, 700), scale=12, size=(25, 2)),  # in the core
        rng.uniform(0, 8192, size=(25, 2)),                  # scattered
    ])
    tdf = spark.createDataFrame(
        [(f"t{i}", float(x), float(y)) for i, (x, y) in enumerate(targets)],
        "target_id string, x double, y double")
    pdf = spark.createDataFrame(
        [(f"p{i}", float(x), float(y)) for i, (x, y) in enumerate(probes)],
        "probe_id string, x double, y double")
    got = knn_join(pdf, tdf, k=3, res=6).collect()
    tag, used = knn_mod._LAST_SCHEDULE[0]
    assert tag == "oneshot"
    # core probes select a finer level than the sparse ones
    assert len(used) >= 2 and max(used) > 6, used
    exp = brute_knn(probes, targets, 3)
    by_probe = {}
    for r in got:
        by_probe.setdefault(r.probe_id, []).append((r.rank, r.target_id, r.dist))
    assert set(by_probe) == set(exp)
    for pid, rows in by_probe.items():
        rows.sort()
        assert [t for _, t, _ in rows] == [t for t, _ in exp[pid]]
        for (_, _, dg), (_, de) in zip(rows, exp[pid]):
            assert dg == pytest.approx(de, rel=1e-12)


def test_knn_oneshot_sparse_probe_near_cluster(spark):
    """A probe in empty space beside a huge cluster: its neighborhood
    count first clears k at a coarse level whose ring-3 sweeps in the
    cluster — the per-(probe, cell) pre-prune must keep the sort bounded
    and the answer exact (the adversarial case for grid selection)."""
    rng = np.random.default_rng(17)
    cluster = rng.normal(loc=(1000, 1000), scale=3, size=(4000, 2))
    lone = np.array([[1500.0, 1000.0], [7000.0, 7000.0]])
    targets = np.vstack([cluster, lone])
    probes = np.array([[1300.0, 1000.0], [6900.0, 7100.0]])
    tdf = spark.createDataFrame(
        [(f"t{i}", float(x), float(y)) for i, (x, y) in enumerate(targets)],
        "target_id string, x double, y double")
    pdf = spark.createDataFrame(
        [(f"p{i}", float(x), float(y)) for i, (x, y) in enumerate(probes)],
        "probe_id string, x double, y double")
    got = knn_join(pdf, tdf, k=5, res=7).collect()
    exp = brute_knn(probes, targets, 5)
    by_probe = {}
    for r in got:
        by_probe.setdefault(r.probe_id, []).append((r.rank, r.target_id))
    assert set(by_probe) == set(exp)
    for pid, rows in by_probe.items():
        rows.sort()
        assert [t for _, t in rows] == [t for t, _ in exp[pid]]


def test_knn_out_of_extent_points_exact(spark):
    """grid.py clamps out-of-extent coordinates to border cells, which
    voids every cell-radius argument for those rows. The join must stay
    exact: clamped targets are excluded from the count statistics and
    clamped probes are routed to the whole-grid floor."""
    rng = np.random.default_rng(23)
    inside = rng.uniform(0, 8192, size=(300, 2))
    out_t = np.array([[-500.0, 4000.0], [9000.0, 9500.0], [4000.0, -50.0]])
    targets = np.vstack([inside, out_t])
    probes = np.array([
        [10.0, 10.0],          # border, nearest may be a clamped target
        [-2000.0, 4000.0],     # clamped probe west
        [8200.0, 8200.0],      # clamped probe just past the NE corner
        [4000.0, 4000.0],      # interior control
    ])
    tdf = spark.createDataFrame(
        [(f"t{i}", float(x), float(y)) for i, (x, y) in enumerate(targets)],
        "target_id string, x double, y double")
    pdf = spark.createDataFrame(
        [(f"p{i}", float(x), float(y)) for i, (x, y) in enumerate(probes)],
        "probe_id string, x double, y double")
    got = knn_join(pdf, tdf, k=4, res=6).collect()
    exp = brute_knn(probes, targets, 4)
    by_probe = {}
    for r in got:
        by_probe.setdefault(r.probe_id, []).append((r.rank, r.target_id, r.dist))
    assert set(by_probe) == set(exp)
    for pid, rows in by_probe.items():
        rows.sort()
        assert [t for _, t, _ in rows] == [t for t, _ in exp[pid]], pid
        for (_, _, dg), (_, de) in zip(rows, exp[pid]):
            assert dg == pytest.approx(de, rel=1e-12)


def test_knn_oneshot_all_targets_clamped(spark):
    """Every target out of extent: the floor must still answer every
    probe (counts live only on the floor row)."""
    targets = [("t0", -10.0, -10.0), ("t1", 9000.0, 9000.0),
               ("t2", -5.0, 9000.0)]
    probes = [("p0", 100.0, 100.0), ("p1", 8000.0, 8000.0)]
    tdf = spark.createDataFrame(targets, "target_id string, x double, y double")
    pdf = spark.createDataFrame(probes, "probe_id string, x double, y double")
    got = knn_join(pdf, tdf, k=2, res=6).collect()
    tarr = np.array([[x, y] for _, x, y in targets])
    parr = np.array([[x, y] for _, x, y in probes])
    exp = brute_knn(parr, tarr, 2)
    by_probe = {}
    for r in got:
        by_probe.setdefault(r.probe_id, []).append((r.rank, r.target_id))
    assert set(by_probe) == {"p0", "p1"}
    for pid, rows in by_probe.items():
        rows.sort()
        assert [t for _, t in rows] == [t for t, _ in exp[pid]]
