"""ANN: brute-force exactness (vs numpy) + IVF near-dup scale-path recall."""

import numpy as np
import pytest

from htmlx.spark.analytics import ann_topk, ivf_assign
from htmlx.spark.session import get_spark

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def spark():
    s = get_spark(cores=4, app_name="htmlx-ann-test")
    yield s
    s.stop()


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF_DIR}/embeddings.parquet").cache()


def numpy_topk(emb_df, num_queries=5, k=5):
    rows = emb_df.select("vec_id", "embedding").collect()
    ids = np.array([r.vec_id for r in rows])
    E = np.array([r.embedding for r in rows], dtype=np.float64)
    En = E / np.linalg.norm(E, axis=1, keepdims=True)
    out = set()
    for q in range(num_queries):
        qi = int(np.where(ids == q)[0][0])
        sims = En @ En[qi]
        order = sorted(range(len(ids)), key=lambda j: (-sims[j], ids[j]))
        order = [j for j in order if ids[j] != q][:k]
        for rank, j in enumerate(order, 1):
            out.add((q, int(ids[j]), rank))
    return out


def test_brute_force_matches_numpy(spark, emb):
    got = {(r.query_id, r.neighbor_id, r.rank) for r in ann_topk(emb).collect()}
    assert got == numpy_topk(emb)


def test_ivf_assignment_partitions_all(spark, emb):
    assigned, centroids = ivf_assign(emb, num_centroids=8)
    n = emb.count()
    assert assigned.count() == n  # every vector in exactly one bucket
    buckets = {r.bucket for r in assigned.select("bucket").distinct().collect()}
    assert len(buckets) >= 4  # non-degenerate bucketing


def test_embedding_near_dup_blocked_is_exact(spark, emb):
    """Block-pair decomposition must produce EXACTLY the pairs of a naive
    all-pairs cosine join — each unordered pair meets in exactly one task
    (no dupes), every pair meets somewhere (no loss)."""
    from pyspark.sql import functions as F

    from htmlx.spark.analytics import _dot, _normalized, embedding_near_dup

    got = {
        (r.vec_a, r.vec_b)
        for r in embedding_near_dup(emb, threshold=0.4).collect()
    }
    norm = _normalized(emb)
    naive = (
        norm.alias("a")
        .join(norm.alias("b"), F.col("a.vec_id") < F.col("b.vec_id"))
        .select(
            F.col("a.vec_id").cast("long").alias("vec_a"),
            F.col("b.vec_id").cast("long").alias("vec_b"),
            _dot("a.nvec", "b.nvec").alias("cosine"),
        )
        .where(F.col("cosine") >= 0.4)
    )
    want = {(r.vec_a, r.vec_b) for r in naive.collect()}
    assert got == want and len(got) > 0


def test_embedding_near_dup_ivf_recall(spark, emb):
    """The approximate IVF near-dup path must (a) emit only true pairs
    (precision 1 — in-bucket scores are exact) and (b) recall TRUE
    near-duplicates (tight cosine): inject clusters of tiny perturbations
    of base vectors — those co-locate in a cell by construction. (At loose
    thresholds like 0.4 the pairs are not near-dups and recall is poor —
    that regime belongs to the exact path; measured 0.3-0.5 there.)"""
    import numpy as np

    from htmlx.spark.analytics import embedding_near_dup, embedding_near_dup_ivf

    rng = np.random.RandomState(7)
    dim = 16
    rows = []
    vid = 0
    for cluster in range(10):
        base = rng.randn(dim)
        base /= np.linalg.norm(base)
        for _ in range(3):  # 3 near-identical members per cluster
            v = base + 0.01 * rng.randn(dim)
            rows.append((vid, [float(x) for x in v]))
            vid += 1
    for _ in range(100):  # decoys
        v = rng.randn(dim)
        rows.append((vid, [float(x) for x in v]))
        vid += 1
    emb2 = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    exact = {(r.vec_a, r.vec_b) for r in embedding_near_dup(emb2, 0.99).collect()}
    approx = {(r.vec_a, r.vec_b) for r in embedding_near_dup_ivf(emb2, 0.99, num_centroids=8).collect()}
    assert approx <= exact  # precision 1: no false pairs
    assert len(exact) >= 25  # ~30 true pairs injected
    recall = len(approx) / len(exact)
    assert recall >= 0.9, recall  # true near-dups co-locate


def test_curate_embdedup_cli(spark, tmp_path, monkeypatch):
    """--mode embdedup --emb-approx e2e over an embeddings parquet: the
    IVF path collapses a planted near-identical pair to one keeper (min
    vec_id) and keeps the distinct vectors (the exact path runs in
    test_curate_cli's mode-table test)."""
    import sys

    from jobs.curate import main

    rows = [
        (1, [1.0, 0.0, 0.0]),
        (2, [0.9999, 0.01, 0.0]),   # near-dup of 1
        (3, [0.0, 1.0, 0.0]),
        (4, [0.0, 0.0, 1.0]),
    ]
    inp = str(tmp_path / "emb.parquet")
    spark.createDataFrame(
        rows, "vec_id long, embedding array<double>"
    ).write.parquet(inp)
    out = str(tmp_path / "out")
    monkeypatch.setattr(sys, "argv", [
        "curate.py", "--mode", "embdedup", "--input", inp, "--output", out,
        "--threshold", "0.95", "--emb-approx", "--emb-centroids", "1",
    ])
    main()
    got = {r["vec_id"]: (r["keep_vec_id"], r["is_dup"])
           for r in spark.read.parquet(out).collect()}
    assert got == {1: (1, False), 2: (1, True), 3: (3, False), 4: (4, False)}
