"""IVF ANN recall vs brute force."""

import random

import pytest
from pyspark.sql import functions as F

from iceberg_hybrid_spark.functions import similarity as S


@pytest.fixture(scope="module")
def emb(spark):
    rng = random.Random(11)
    # 8 well-separated cluster centers + noise → IVF has real structure
    centers = [[rng.gauss(0, 5) for _ in range(16)] for _ in range(8)]
    rows = [
        (i, [c + rng.gauss(0, 0.5) for c in centers[i % 8]], i % 8)
        for i in range(400)
    ]
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>, label int")


def test_ivf_deterministic(emb):
    a1, c1 = S.ivf_build(emb, k=8, seed=42)
    a2, c2 = S.ivf_build(emb, k=8, seed=42)
    assert c1 == c2
    assert sorted(map(tuple, a1.select("vec_id", "ivf_centroid").collect())) == \
           sorted(map(tuple, a2.select("vec_id", "ivf_centroid").collect()))


def test_ivf_recall_vs_brute_force(emb):
    assigned, centers = S.ivf_build(emb, k=8, seed=42)
    queries = emb.filter(F.col("vec_id") < 5)
    ivf = S.ivf_topk(assigned, centers, queries, k=10, nprobe=2)
    bf = S.brute_force_topk(emb, queries, k=10)
    ivf_sets = {}
    for r in ivf.collect():
        ivf_sets.setdefault(r.q_vec_id, set()).add(r.vec_id)
    bf_sets = {}
    for r in bf.collect():
        bf_sets.setdefault(r.q_vec_id, set()).add(r.vec_id)
    recalls = [
        len(ivf_sets.get(q, set()) & bf_sets[q]) / len(bf_sets[q]) for q in bf_sets
    ]
    # clustered data + 2 probes: near-perfect recall expected
    assert sum(recalls) / len(recalls) >= 0.9


def test_ivf_probes_limit_candidates(emb):
    """nprobe=1 must only score vectors from one inverted list per query."""
    assigned, centers = S.ivf_build(emb, k=8, seed=42)
    queries = emb.filter(F.col("vec_id") == 0)
    out = S.ivf_topk(assigned, centers, queries, k=400, nprobe=1)
    probed = out.count()
    total = emb.count()
    assert probed < total / 2  # one list ≈ total/8


def test_pinned_recall_oracle_assignments_are_argmin_consistent():
    """The recall oracle's pinned artifacts (IVF centroids + per-vector
    assignments) are COLLECTED from ivf_build, so an assignment bug
    would reproduce verbatim in the oracle.  This re-derives every
    assignment independently — numpy argmin of squared Euclidean
    distance over the pinned centroids against the raw sf0.01
    embeddings (pyspark.ml KMeans assigns by squared Euclidean) — and
    must reproduce the pinned cid for every vector.  (Training quality
    itself needs no independent check: the recall curve measures the
    index against the brute-force exact side, which DuckDB recomputes
    from scratch.)"""
    import re

    import numpy as np
    import pyarrow.parquet as pq

    from iceberg_hybrid_spark.queries._recall_oracle import ANN_RECALL_SQL

    centers_txt = re.findall(
        r"\((\d+), \[([^\]]+)\]::DOUBLE\[\]\)", ANN_RECALL_SQL
    )
    centers = {
        int(cid): np.array([float(x) for x in vec.split(",")])
        for cid, vec in centers_txt
    }
    C = np.stack([centers[i] for i in range(len(centers))])
    assert C.shape[0] == 8

    pinned = {
        int(v): int(c)
        for v, c in re.findall(
            r"\(CAST\((\d+) AS BIGINT\), (\d+)\)", ANN_RECALL_SQL
        )
    }
    tbl = pq.read_table(
        "/root/testdata/sf0.01/embeddings.parquet",
        columns=["vec_id", "embedding"],
    ).to_pydict()
    assert len(pinned) == len(tbl["vec_id"])
    for vid, emb in zip(tbl["vec_id"], tbl["embedding"]):
        x = np.asarray(emb, dtype=np.float64)
        d2 = ((C - x) ** 2).sum(axis=1)
        assert int(d2.argmin()) == pinned[int(vid)], vid
