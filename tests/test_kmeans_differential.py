"""Whole-query hypothesis differential for the k-means family:
random small embedding tables through ``embedding_kmeans_inertia`` and
``embedding_kmeans_balanced_sample`` vs an independent pure-Python
Lloyd reference with the identical quantization, truncating-division,
argmin-tie and empty-cluster semantics — plus structural sanity on the
real sf0.001 fixture.

Vector components are exact multiples of 1/16 so the scan-side
``floor(x·10⁴ + 0.5)`` quantization has no float-boundary ambiguity the
reference could disagree on (the quantizer itself is engine-shared and
oracle-verified; THIS test targets the loop semantics).
"""

from __future__ import annotations

import hashlib

import pyarrow as pa
import pyarrow.parquet as pq
from hypothesis import given, settings
from hypothesis import strategies as st

from _helpers import tdiv
from decisions_kinesis_spark.operators.clustering import (
    _K,
    _KM_ITERS,
    _KQ,
    _SAMPLE_PER_CLUSTER,
    embedding_kmeans_balanced_sample,
    embedding_kmeans_ch_index,
    embedding_kmeans_inertia,
)

_DIM = 4

_component = st.integers(min_value=-16, max_value=16).map(lambda k: k / 16)
_vector = st.lists(_component, min_size=_DIM, max_size=_DIM)


def _quant(x: float) -> int:
    import math

    return int(math.floor(x * _KQ + 0.5))


def _ref(vectors: list[list[float]]):
    """Pure-python Lloyd loop mirroring the module contract: seeds =
    vec_ids < _K, argmin ties to the smaller cent_id, truncating
    centroid updates, emptied clusters vanish."""
    q = {i: [_quant(x) for x in v] for i, v in enumerate(vectors)}
    cents = {i: list(qv) for i, qv in q.items() if i < _K}
    stats, assign = [], {}
    for it in range(1, _KM_ITERS + 1):
        assign = {}
        for vid, qv in q.items():
            best = min(
                (
                    sum((a - b) * (a - b) for a, b in zip(qv, cv)),
                    cid,
                )
                for cid, cv in cents.items()
            )
            assign[vid] = best  # (dist, cent_id)
        members: dict[int, list[int]] = {}
        for vid, (_d, cid) in assign.items():
            members.setdefault(cid, []).append(vid)
        cents = {}
        for cid, vids in members.items():
            n = len(vids)
            cents[cid] = [
                tdiv(sum(q[v][p] for v in vids), n) for p in range(_DIM)
            ]
            sd = sum(assign[v][0] for v in vids)
            stats.append(
                (
                    it,
                    cid,
                    n,
                    sd // n,
                    sum(abs(c) for c in cents[cid]),
                )
            )
    return stats, assign, q, cents


def _ref_ch(q, assign, cents):
    """Reference Calinski–Harabasz on the final state: W against the
    POST-update centroids, g the truncated global mean, NULL when
    K ≤ 1 or W = 0."""
    n_vec = len(q)
    w = sum(
        sum((a - b) * (a - b) for a, b in zip(q[vid], cents[cid]))
        for vid, (_d, cid) in assign.items()
    )
    g = [
        tdiv(sum(qv[p] for qv in q.values()), n_vec) for p in range(_DIM)
    ]
    sizes: dict[int, int] = {}
    for _vid, (_d, cid) in assign.items():
        sizes[cid] = sizes.get(cid, 0) + 1
    b = sum(
        sizes[cid] * sum((a - c) * (a - c) for a, c in zip(cv, g))
        for cid, cv in cents.items()
    )
    k = len(cents)
    ch = (
        None
        if k <= 1 or w == 0
        else tdiv(b * (n_vec - k) * 1_000_000, w * (k - 1))
    )
    return (n_vec, k, str(w), str(b), ch)


def _hash15(vid: int) -> int:
    return int(hashlib.md5(str(vid).encode()).hexdigest()[:15], 16)


def _write_fixture(d, vectors):
    pq.write_table(
        pa.table(
            {
                "vec_id": pa.array(range(len(vectors)), pa.int64()),
                "embedding": pa.array(
                    vectors, pa.list_(pa.float32())
                ),
                "label": pa.array([0] * len(vectors), pa.int32()),
            }
        ),
        str(d / "embeddings.parquet"),
    )


@settings(max_examples=8, deadline=None)
@given(vectors=st.lists(_vector, min_size=1, max_size=14))
def test_kmeans_inertia_matches_python_reference(
    spark, tmp_path_factory, vectors
):
    d = tmp_path_factory.mktemp("kmfix")
    _write_fixture(d, vectors)
    rows = sorted(
        tuple(r)
        for r in embedding_kmeans_inertia(spark, str(d)).collect()
    )
    expect, _assign, _q, _cents = _ref(vectors)
    assert rows == sorted(expect)


@settings(max_examples=6, deadline=None)
@given(vectors=st.lists(_vector, min_size=1, max_size=14))
def test_kmeans_balanced_sample_matches_python_reference(
    spark, tmp_path_factory, vectors
):
    d = tmp_path_factory.mktemp("kmsfix")
    _write_fixture(d, vectors)
    rows = sorted(
        tuple(r)
        for r in embedding_kmeans_balanced_sample(spark, str(d)).collect()
    )
    _stats, assign, _q, _cents = _ref(vectors)
    members: dict[int, list[int]] = {}
    for vid, (_d, cid) in assign.items():
        members.setdefault(cid, []).append(vid)
    expect = []
    for cid, vids in members.items():
        ordered = sorted(vids, key=lambda v: (_hash15(v), v))
        expect.extend(
            (cid, v, rk + 1)
            for rk, v in enumerate(ordered[:_SAMPLE_PER_CLUSTER])
        )
    assert rows == sorted(expect)


@settings(max_examples=6, deadline=None)
@given(vectors=st.lists(_vector, min_size=1, max_size=14))
def test_kmeans_ch_index_matches_python_reference(
    spark, tmp_path_factory, vectors
):
    d = tmp_path_factory.mktemp("kmchfix")
    _write_fixture(d, vectors)
    rows = embedding_kmeans_ch_index(spark, str(d)).collect()
    assert len(rows) == 1
    r = rows[0]
    _stats, assign, q, cents = _ref(vectors)
    assert (
        r["n_vectors"], r["k_clusters"], r["w_total"], r["b_total"],
        r["ch_ppm"],
    ) == _ref_ch(q, assign, cents)


def test_kmeans_structure_on_fixture(spark):
    """sf0.001 sanity: every iteration is present, cluster ids come
    from the seed set, quotas hold, and the per-iteration TOTAL
    inertia (Σ n·mean — the exact cluster sums are what mean_dist
    truncates) never increases across the Lloyd loop on the real
    fixture."""
    sf = "/root/testdata/sf0.001"
    rows = embedding_kmeans_inertia(spark, sf).collect()
    assert {r["iter"] for r in rows} == set(range(1, _KM_ITERS + 1))
    assert all(0 <= r["cluster_id"] < _K for r in rows)
    per_iter = {
        it: sum(
            r["n_members"] * r["mean_dist"]
            for r in rows
            if r["iter"] == it
        )
        for it in range(1, _KM_ITERS + 1)
    }
    assert all(
        per_iter[it + 1] <= per_iter[it]
        for it in range(1, _KM_ITERS)
    ), per_iter

    sample = embedding_kmeans_balanced_sample(spark, sf).collect()
    by_cluster: dict[int, int] = {}
    for r in sample:
        by_cluster[r["cluster_id"]] = by_cluster.get(r["cluster_id"], 0) + 1
    assert all(n <= _SAMPLE_PER_CLUSTER for n in by_cluster.values())
    final_clusters = {
        r["cluster_id"] for r in rows if r["iter"] == _KM_ITERS
    }
    assert set(by_cluster) == final_clusters


def test_kmeans_ch_index_reuses_final_centroids(spark):
    """The final centroid frame is materialized once per Lloyd-loop
    slot: a second ch_index construction in one session runs no Spark
    job (the first one, or the loop itself, already paid for it)."""
    sf = "/root/testdata/sf0.001"
    sc = spark.sparkContext
    embedding_kmeans_ch_index(spark, sf)
    sc.setJobGroup("km-ch-second-build", "second ch_index construction")
    try:
        embedding_kmeans_ch_index(spark, sf)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert sc.statusTracker().getJobIdsForGroup("km-ch-second-build") == []
