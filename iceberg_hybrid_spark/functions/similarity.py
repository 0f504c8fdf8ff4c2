"""Embedding similarity kernels (north-star similarity search).

Vector math is expressed with higher-order array functions
(``zip_with`` + ``aggregate``) so it stays JVM-side — no Python in the
scoring loop.  At 100 TB the brute-force path is a broadcast of the query
vectors against a partitioned scan of the corpus (map-side score + top-k
per partition + global top-k merge: ``orderBy().limit()`` lets Catalyst
do exactly that via TakeOrderedAndProject).  The LSH path buckets vectors
by random-hyperplane sign bits so candidate generation is a hash-partition
join instead of a cross join.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..session import local_frame


def as_double_array(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return c.cast("array<double>")


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column, scale: int | None = 6) -> Column:
    c = dot(a, b) / (norm(a) * norm(b))
    return F.round(c, scale) if scale is not None else c


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "q_vec_id",
) -> DataFrame:
    """Exact top-k cosine neighbors for each query vector.

    ``queries`` is expected to be small (it is broadcast); the corpus scan
    is embarrassingly parallel.  Ranking uses the rounded similarity plus
    the neighbor id as tiebreak so results are deterministic.

    Two-phase top-k: phase 1 ranks within ``(scan partition, query)`` so
    the heavy scored relation is never hash-partitioned on the bare query
    id — with a 100 TB corpus and a handful of queries that would funnel
    every scored row into #queries tasks.  Phase 2 merges only the
    ``partitions x k`` survivors per query, a tiny relation.  The global
    result is identical: each query's true top-k is a subset of the union
    of its partition-local top-ks.
    """
    from pyspark.sql import Window

    q = queries.select(
        F.col(id_col).alias(query_id_col),
        as_double_array(vec_col).alias("_qvec"),
    )
    c = corpus.select(
        F.col(id_col),
        *[f for f in corpus.columns if f not in (id_col, vec_col)],
        as_double_array(vec_col).alias("_cvec"),
    )
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col(query_id_col) != F.col(id_col))
        .withColumn("cosine_sim", cosine(F.col("_cvec"), F.col("_qvec")))
        # Captured before any exchange: the id of the scan partition that
        # produced the row (broadcast join is a narrow map over the scan).
        .withColumn("_scan_part", F.spark_partition_id())
    )
    w_local = Window.partitionBy("_scan_part", query_id_col).orderBy(
        F.desc("cosine_sim"), F.asc(id_col)
    )
    survivors = (
        scored.withColumn("_local_rank", F.row_number().over(w_local))
        .filter(F.col("_local_rank") <= k)
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.desc("cosine_sim"), F.asc(id_col)
    )
    return (
        survivors.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .drop("_cvec", "_qvec", "_scan_part", "_local_rank")
    )


# Trained-index cache: KMeans training is a separate, amortized pipeline
# stage in production (built once, served many times), so repeated calls
# against the same immutable input may reuse the fitted model.  Keyed by
# the Spark application id so a model never outlives its JVM session.
_IVF_MODEL_CACHE: dict[tuple, tuple[object, list[list[float]]]] = {}


def ivf_build(
    df: DataFrame,
    vec_col: str = "embedding",
    k: int = 16,
    seed: int = 42,
    centroid_col: str = "ivf_centroid",
    cache_key: str | None = None,
) -> tuple[DataFrame, list[list[float]]]:
    """IVF index build: KMeans (pyspark.ml, seeded) partitions the corpus
    into k inverted lists.  Returns (corpus with centroid assignment,
    centroid vectors).  At 100 TB: train on a sample, assign with one
    map-only pass, and write the corpus bucketed by the centroid id so
    probes become partition-pruned scans.

    ``cache_key`` (e.g. the immutable input path) opts into reusing the
    fitted model across calls in the same session — training is
    deterministic (seeded), so the reuse is exact, and assignment still
    runs as a fresh map-only pass every call."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    assembled = df.withColumn("_v", array_to_vector(as_double_array(vec_col)))
    # Identity of the INPUT relation, taken pre-transform (a plain
    # relation's analyzed plan canonicalizes stably, unlike ML-transform
    # outputs): folded into both the model cache key and the downstream
    # content stamp so two different corpora passed with the same
    # cache_key and params can never alias to one cache slot — neither
    # here (a model trained on the other corpus) nor in pq_build's
    # persisted-codes cache (codes encoded from the other corpus).
    src_id = int(df.semanticHash())
    key = None
    if cache_key is not None:
        # centroid_col is baked into the fitted model's predictionCol, so
        # it must be part of the key — a hit fitted under a different
        # output column would assign under the wrong name.
        key = (
            df.sparkSession.sparkContext.applicationId,
            cache_key, vec_col, k, seed, centroid_col, src_id,
        )
    if key is not None and key in _IVF_MODEL_CACHE:
        model, centers = _IVF_MODEL_CACHE[key]
    else:
        model = KMeans(
            k=k, seed=seed, featuresCol="_v", predictionCol=centroid_col
        ).fit(assembled)
        centers = [list(map(float, c)) for c in model.clusterCenters()]
        if key is not None:
            _IVF_MODEL_CACHE[key] = (model, centers)
    assigned = model.transform(assembled).drop("_v")
    # Deterministic content marker for downstream caches (pq_build's
    # persisted-codes key): ML-transform plans do NOT canonicalize
    # stably across calls (semanticHash differs per transform()), so
    # the builder that KNOWS its parameters stamps them on the result.
    # A derived DataFrame (filter/select of this one) is a new object
    # without the attribute and falls back to the semantic hash.
    try:
        assigned._ihs_content_key = (
            "ivf", vec_col, k, seed, centroid_col, cache_key, src_id,
        )
    except Exception:
        pass
    return assigned, centers


def ivf_topk(
    assigned: DataFrame,
    centers: list[list[float]],
    queries: DataFrame,
    k: int = 10,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroid_col: str = "ivf_centroid",
    query_id_col: str = "q_vec_id",
) -> DataFrame:
    """ANN search over the IVF index: each query probes its ``nprobe``
    nearest centroids' lists only — candidate generation is an equi-join
    on the centroid id (hash-partitioned), never a cross join.

    The query set is small (serving batch): nearest centroids per query
    are computed driver-side; everything corpus-sized stays distributed.
    """
    import math

    from pyspark.sql import Window

    q_rows = queries.select(
        F.col(id_col).alias(query_id_col), as_double_array(vec_col).alias("_qv")
    ).collect()

    def cos(a: list[float], b: list[float]) -> float:
        dp = sum(x * y for x, y in zip(a, b))
        na = math.sqrt(sum(x * x for x in a))
        nb = math.sqrt(sum(x * x for x in b))
        return dp / (na * nb) if na and nb else 0.0

    probe_pairs = []
    for row in q_rows:
        ranked = sorted(
            range(len(centers)),
            key=lambda c: (-cos(row["_qv"], centers[c]), c),
        )
        for c in ranked[:nprobe]:
            probe_pairs.append((row[query_id_col], c, row["_qv"]))
    spark = assigned.sparkSession
    probes = local_frame(
        spark, probe_pairs, f"{query_id_col} long, {centroid_col} int, _qv array<double>"
    )
    scored = (
        assigned.join(F.broadcast(probes), centroid_col)
        .filter(F.col(query_id_col) != F.col(id_col))
        .withColumn("cosine_sim", cosine(as_double_array(vec_col), F.col("_qv")))
        .withColumn("_scan_part", F.spark_partition_id())
    )
    # Same two-phase shape as brute_force_topk: rank within (scan
    # partition, query) first so a huge inverted list never funnels into
    # #queries tasks, then merge the partitions x k survivors.
    w_local = Window.partitionBy("_scan_part", query_id_col).orderBy(
        F.desc("cosine_sim"), F.asc(id_col)
    )
    survivors = (
        scored.withColumn("_local_rank", F.row_number().over(w_local))
        .filter(F.col("_local_rank") <= k)
    )
    w = Window.partitionBy(query_id_col).orderBy(F.desc("cosine_sim"), F.asc(id_col))
    return (
        survivors.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id_col, id_col, "cosine_sim", "rank")
    )


def bucket_top1_neighbors(
    bucketed: DataFrame,
    bucket_col: str = "lsh_bucket",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-1 cosine neighbor within each LSH bucket, executed as ONE
    Arrow-batched ``applyInPandas`` task per bucket (dense Gram matrix),
    replacing the pair self-join + per-pair array folds.

    Semantics are identical to the join form: vectors alone in their
    bucket emit no row (inner-join behavior); cosine rounded to 6dp; the
    neighbor tiebreak is (cosine desc, neighbor id asc).  Work is
    Σ n_b² over buckets either way, but dense BLAS beats the interpreted
    higher-order folds by ~10× and the all-pairs relation is never
    materialized through a shuffle — only one row per vector leaves the
    task.  Same justification (and kernel shape) as
    functions/dedup.py::semantic_dedup_victims; at 100 TB the plane count
    is sized so buckets stay task-sized, which this execution shape
    requires anyway.
    """
    import numpy as np
    import pandas as pd

    def _top1(pdf: pd.DataFrame) -> pd.DataFrame:
        if len(pdf) < 2:
            return pd.DataFrame({id_col: [], "neighbor_id": [], "cosine_sim": []}).astype(
                {id_col: "int64", "neighbor_id": "int64", "cosine_sim": "float64"}
            )
        pdf = pdf.sort_values(id_col)  # column order = ascending id → argmax
        ids = pdf[id_col].to_numpy()  # first-hit IS the min-id tiebreak
        mat = np.stack(pdf["_v"].to_numpy()).astype(np.float64)
        norms = np.linalg.norm(mat, axis=1)
        norms[norms == 0.0] = 1.0
        normed = mat / norms[:, None]
        sims = np.round(normed @ normed.T, 6)
        np.fill_diagonal(sims, -np.inf)
        best = np.argmax(sims, axis=1)
        return pd.DataFrame(
            {
                id_col: ids,
                "neighbor_id": ids[best],
                "cosine_sim": sims[np.arange(len(ids)), best],
            }
        )

    return (
        bucketed.select(
            F.col(id_col),
            F.col(bucket_col),
            as_double_array(vec_col).alias("_v"),
        )
        .groupBy(bucket_col)
        .applyInPandas(_top1, f"{id_col} long, neighbor_id long, cosine_sim double")
    )


def lsh_candidate_pairs(
    df: DataFrame,
    planes: list[list[float]],
    bands: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Banded random-hyperplane LSH candidate pairs for cosine near-dup
    detection: the sign bits over ``planes`` split into ``bands`` bands
    of ``len(planes)//bands`` bits; two vectors are candidates iff they
    agree on every bit of at least one band (the classic OR-of-ANDs LSH
    amplification).

    Returns distinct ``(id_a, id_b)`` with ``id_a < id_b``.  The plan is
    an explode to ``bands`` rows per vector (ids + short signatures only
    — vectors never fan out) followed by an equi-join on
    ``(band, signature)``: a hash-partitioned self-join whose candidate
    count tracks true near-dup density, never the n²/2 pair space.  For
    a pair at cosine θ the per-band match probability is
    ``(1 - θ/π)^bits``; miss probability decays as
    ``(1 - p_band)^bands`` — size bands/bits to the target threshold.
    """
    n = len(planes)
    if n % bands:
        raise ValueError(f"{n} planes not divisible into {bands} bands")
    r = n // bands
    v = as_double_array(vec_col)
    bits = [
        F.when(dot(v, F.array(*[F.lit(float(x)) for x in p])) >= 0, "1").otherwise("0")
        for p in planes
    ]
    band_keys = F.array(
        *[
            F.struct(
                F.lit(j).alias("band"),
                F.concat(*bits[j * r : (j + 1) * r]).alias("sig"),
            )
            for j in range(bands)
        ]
    )
    keyed = df.select(F.col(id_col), F.explode(band_keys).alias("bk")).select(
        id_col, F.col("bk.band").alias("band"), F.col("bk.sig").alias("sig")
    )
    a = keyed.alias("a")
    b = keyed.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.sig") == F.col("b.sig"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b")
        )
        .distinct()
    )


def all_pairs_cosine_pairs(
    df: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact all-pairs cosine pairs at/above ``threshold`` via blocked
    dense Gram products — the audit/baseline path for BOUNDED corpora
    (eval sets, recall-measurement samples), deliberately O(n²) in
    comparisons but never in materialized rows.

    The (bounded-by-contract) corpus matrix is gathered once driver-side
    — same bounded-collect posture as the IVF serving batch — and each
    Arrow batch computes ``V_batch @ V_all.T`` as one BLAS call, emitting
    only pairs that pass the threshold with ``id_a < id_b``.  Replaces a
    non-equi self-join whose per-pair interpreted array folds measured
    180 s on 2 000 vectors (2M pairs); the matmul form is ~1 s at the
    same exact result.  Cosine rounded to 6dp (zero-norm vectors treated
    as cosine 0), matching ``cosine(scale=6)`` and the DuckDB oracles.
    """
    import numpy as np
    import pandas as pd

    rows = df.select(F.col(id_col), as_double_array(vec_col).alias("_v")).collect()
    if not rows:
        # np.stack([]) raises; an empty corpus has an empty pair relation
        # (the behavior of the non-equi-join form this path replaced).
        return local_frame(
            df.sparkSession, [], "id_a long, id_b long, cosine_sim double"
        )
    ids_all = np.array([r[id_col] for r in rows], dtype=np.int64)
    mat = np.stack([np.asarray(r["_v"], dtype=np.float64) for r in rows])
    norms = np.linalg.norm(mat, axis=1)
    norms[norms == 0.0] = 1.0
    normed_all = mat / norms[:, None]
    thr = float(threshold)

    def _batches(it):
        for pdf in it:
            if not len(pdf):
                continue
            ids = pdf[id_col].to_numpy()
            v = np.stack(pdf["_v"].to_numpy()).astype(np.float64)
            n = np.linalg.norm(v, axis=1)
            n[n == 0.0] = 1.0
            sims = np.round((v / n[:, None]) @ normed_all.T, 6)
            keep = (sims >= thr) & (ids[:, None] < ids_all[None, :])
            ii, jj = np.nonzero(keep)
            yield pd.DataFrame(
                {
                    "id_a": ids[ii],
                    "id_b": ids_all[jj],
                    "cosine_sim": sims[ii, jj],
                }
            )

    return df.select(F.col(id_col), as_double_array(vec_col).alias("_v")).mapInPandas(
        _batches, "id_a long, id_b long, cosine_sim double"
    )


def lsh_band_rows_arrow(
    df: DataFrame,
    planes: list[list[float]],
    bands: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Banded hyperplane sign-bit rows ``(id, band, sig)`` computed as ONE
    numpy matmul per Arrow batch — the vectorized form of the per-plane
    column expressions in ``lsh_candidate_pairs``.

    With P planes of dimension d inlined as column literals, the JVM form
    evaluates P interpreted ``zip_with``+``aggregate`` folds per row
    (P·d lambda invocations against a P·d-literal expression tree — at
    64×64 that measured ~11 ms/row); here the whole batch is a single
    (m×d)@(d×P) BLAS call, the same documented bar that justifies the
    SemDeDup and bucket-top-1 kernels.  Band signatures pack to int64
    (8-byte join keys); both sides of any candidate self-join must use
    THIS function so representations agree.  Map-only — no shuffle, no
    state."""
    import numpy as np
    import pandas as pd

    n = len(planes)
    if n % bands:
        raise ValueError(f"{n} planes not divisible into {bands} bands")
    r = n // bands
    if r > 62:
        raise ValueError("bits per band must fit an int64 signature")
    P = np.asarray(planes, dtype=np.float64)
    weights = 1 << np.arange(r, dtype=np.int64)

    def _batches(it):
        for pdf in it:
            if not len(pdf):
                continue
            ids = pdf[id_col].to_numpy()
            mat = np.stack(pdf["_v"].to_numpy()).astype(np.float64)
            bits = (mat @ P.T) >= 0.0  # m x n sign bits
            for j in range(bands):
                sig = bits[:, j * r : (j + 1) * r].astype(np.int64) @ weights
                yield pd.DataFrame({id_col: ids, "band": j, "sig": sig})

    return df.select(
        F.col(id_col), as_double_array(vec_col).alias("_v")
    ).mapInPandas(_batches, f"{id_col} long, band int, sig long")


def lsh_candidate_pairs_arrow(
    df: DataFrame,
    planes: list[list[float]],
    bands: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """``lsh_candidate_pairs`` with Arrow-vectorized signature generation:
    identical banding semantics (candidate iff some band's bits all
    agree), hash-partitioned equi-join on the 8-byte (band, sig) key."""
    keyed = lsh_band_rows_arrow(df, planes, bands, id_col, vec_col)
    a = keyed.alias("a")
    b = keyed.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.sig") == F.col("b.sig"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b")
        )
        .distinct()
    )


def hyperplane_lsh_buckets(
    df: DataFrame,
    planes: list[list[float]],
    vec_col: str = "embedding",
    bucket_col: str = "lsh_bucket",
) -> DataFrame:
    """Random-hyperplane LSH: bucket = sign-bit string over fixed planes.

    ``planes`` is generated driver-side from a seeded RNG and inlined as
    literals, so bucketing is deterministic and fully JVM-side.  Vectors
    sharing a bucket are ANN candidates — candidate generation becomes a
    shuffle on the bucket key instead of a cross join (the 100 TB path).
    """
    v = as_double_array(vec_col)
    bits = [
        F.when(dot(v, F.array(*[F.lit(float(x)) for x in plane])) >= 0, "1").otherwise("0")
        for plane in planes
    ]
    return df.withColumn(bucket_col, F.concat(*bits))


# Product-quantization model cache: same amortization contract as
# _IVF_MODEL_CACHE (train once per immutable input, serve many times).
_PQ_MODEL_CACHE: dict[tuple, tuple[list, int]] = {}

# Coded-corpus cache (opt-in via pq_build(persist_codes=True)): the codes
# relation IS the PQ index — an immutable artifact of the corpus that
# production builds once and serves many times (FAISS writes it to disk;
# a lakehouse deployment writes it as a table).  Recomputing the Arrow
# encode pass per query was the dominant serve cost (~0.9 s of the
# 1.5 s embedding_pq_ann floor at sf0.1).  The persisted relation is
# codes-only — id + m small ints (+ the IVF list id when present), the
# ~1/128-of-corpus-bytes artifact, never the raw vectors.
_PQ_CODES_CACHE: dict[tuple, tuple[DataFrame, list, int]] = {}


def _kmeans_local(X, k: int, seed: int, iters: int = 25):
    """Seeded k-means++ init + Lloyd's iterations, driver-side numpy.

    Deterministic for a fixed input ORDER (the caller samples with a
    deterministic order), independent of Spark partitioning — which is
    exactly why PQ training uses it: the fitted codebooks feed
    literal-pinned oracles, so the model may depend only on the data,
    never on the scan layout or core count.  Empty clusters keep their
    previous center (standard Lloyd's degenerate-case handling)."""
    import numpy as np

    rng = np.random.RandomState(seed)
    n = len(X)
    centers = [X[rng.randint(n)]]
    for _ in range(k - 1):
        d2 = ((X[:, None, :] - np.asarray(centers)[None, :, :]) ** 2).sum(-1).min(1)
        total = d2.sum()
        if total <= 0:
            centers.append(X[rng.randint(n)])
            continue
        centers.append(X[rng.choice(n, p=d2 / total)])
    C = np.asarray(centers, dtype=np.float64)
    for _ in range(iters):
        assign = ((X[:, None, :] - C[None, :, :]) ** 2).sum(-1).argmin(1)
        for j in range(k):
            members = X[assign == j]
            if len(members):
                C[j] = members.mean(0)
    return C


# Deterministic training-sample cap: PQ codebooks are fitted on the
# xxhash64(id)-ordered prefix — a deterministic UNBIASED sample (an
# id-ordered prefix would correlate with crawl time/domain at 100 TB,
# fitting codebooks to early-corpus geometry; the hash order is a
# uniform draw that is still a pure function of the data).  Bounded by
# contract — the collect is <= this many rows.
_PQ_TRAIN_SAMPLE = 16384


def pq_encode(
    df: DataFrame,
    codebooks: list[list[list[float]]],
    sub: int,
    vec_col: str = "embedding",
) -> DataFrame:
    """Assign PQ codes against FROZEN codebooks — the pure per-vector
    encode stage shared by the initial build and the incremental append
    (the FAISS ``add()`` contract: adding vectors never retrains).

    ONE Arrow-vectorized pass computes all m codes per batch as dense
    matmul-style argmin against the codebooks — the same measured Arrow
    boundary the LSH signatures use, vs 64 interpreted aggregate-fold
    expressions JVM-side."""
    import numpy as np

    from pyspark.sql.functions import pandas_udf

    m = len(codebooks)
    books = [np.asarray(b, dtype=np.float64) for b in codebooks]
    sub_dim = sub

    @pandas_udf("array<int>")
    def _codes(col: pd.Series) -> pd.Series:
        V = np.asarray([np.asarray(v, dtype=np.float64) for v in col])
        out = []
        for j, C in enumerate(books):
            S_ = V[:, j * sub_dim:(j + 1) * sub_dim]
            # argmin ||s - c||² == argmin (||c||² - 2 s·c): one matmul
            d = (C * C).sum(1)[None, :] - 2.0 * (S_ @ C.T)
            out.append(d.argmin(1))
        return pd.Series(list(np.stack(out, axis=1)))

    coded = df.withColumn("_pq", _codes(as_double_array(vec_col)))
    for j in range(m):
        coded = coded.withColumn(f"pq_code_{j}", F.element_at("_pq", j + 1))
    return coded.drop("_pq")


def assign_frozen_centers(
    df: DataFrame,
    centers: list[list[float]],
    vec_col: str = "embedding",
    centroid_col: str = "ivf_centroid",
) -> DataFrame:
    """Assign each vector to its nearest FROZEN IVF centroid (squared
    euclidean, matching pyspark.ml KMeans.transform's metric) — the
    inverted-list half of the incremental-append contract: appended
    vectors join existing lists, the lists themselves never move."""
    import numpy as np

    from pyspark.sql.functions import pandas_udf

    C = np.asarray(centers, dtype=np.float64)

    @pandas_udf("int")
    def _assign(col: pd.Series) -> pd.Series:
        V = np.asarray([np.asarray(v, dtype=np.float64) for v in col])
        d = (C * C).sum(1)[None, :] - 2.0 * (V @ C.T)
        return pd.Series(d.argmin(1).astype("int32"))

    return df.withColumn(centroid_col, _assign(as_double_array(vec_col)))


def pq_build(
    df: DataFrame,
    vec_col: str = "embedding",
    m: int = 4,
    k: int = 16,
    seed: int = 42,
    cache_key: str | None = None,
    id_col: str = "vec_id",
    persist_codes: bool = False,
) -> tuple[DataFrame, list[list[list[float]]], int]:
    """Product quantization (Jégou et al., "Product Quantization for
    Nearest Neighbor Search", IEEE TPAMI 2011): split each vector into
    ``m`` contiguous subvectors and vector-quantize each subspace with
    its own seeded codebook of ``k`` centroids, so a D-dim float vector
    compresses to ``m`` small codes (here 4x16 codes = 4 bytes per
    vector vs 512 for raw doubles — the compression that lets a 100 TB
    embedding corpus serve ANN from memory).

    Training is DRIVER-SIDE on a bounded deterministic sample
    (xxhash64-of-id ordered prefix, <= ``_PQ_TRAIN_SAMPLE`` rows — the
    FAISS hash-sampling practice: unbiased w.r.t. crawl order, yet a
    pure function of the data), and deliberately different from
    ``ivf_build``'s distributed
    pyspark.ml trainer: codebooks for 16-dim subspaces converge on a
    tiny sample, a driver fit costs milliseconds instead of m Spark
    KMeans jobs (measured 14.2 s cold for m=4), and the fitted model
    depends only on the data, never on scan layout or core count (which
    keeps the literal-pinned oracles machine-independent).

    Assignment is distributed: ONE Arrow-vectorized pass computes all m
    codes per batch as dense matmul-style argmin against the codebooks —
    the same measured Arrow boundary the LSH signatures use, vs 64
    interpreted aggregate-fold expressions JVM-side.

    Returns (corpus with ``pq_code_j`` int columns, codebooks[m][k][sub],
    sub-dimension)."""
    import numpy as np

    key = None
    if cache_key is not None:
        # Same corpus-identity discipline as ivf_build's model cache:
        # the upstream content stamp when present (ML-transform plans
        # don't canonicalize stably), else the analyzed plan's semantic
        # hash — so two corpora sharing a cache_key (e.g. a base split
        # and the full table under one sf_dir) can never alias to one
        # trained-codebook slot.
        src_marker = getattr(df, "_ihs_content_key", None)
        if src_marker is None:
            src_marker = int(df.semanticHash())
        key = (
            df.sparkSession.sparkContext.applicationId,
            "pq", cache_key, vec_col, m, k, seed, src_marker,
        )
    # ``persist_codes``: also cache the ENCODED corpus (index-build-once
    # semantics — see _PQ_CODES_CACHE).  Keyed additionally on a CONTENT
    # MARKER of the input relation, so two pipelines that differ only in
    # upstream parameters — e.g. ivf_build with a different k/seed
    # feeding the same column set — can never alias to one cache slot
    # and serve codes carrying stale centroid assignments.  The marker
    # is the upstream builder's parameter stamp when present
    # (``_ihs_content_key``, set by ivf_build — ML-transform plans do
    # not canonicalize stably, so their semanticHash would miss every
    # time), else Spark's semanticHash of the canonicalized analyzed
    # plan (stable for ordinary relations; an unstable hash only costs a
    # recompute, never a stale hit).  The column tuple stays in the key
    # as a cheap human-readable discriminator; the persisted relation
    # drops the raw vector column.
    if persist_codes and key is not None:
        content = getattr(df, "_ihs_content_key", None)
        if content is None:
            content = int(df.semanticHash())
        ckey = key + ("codes", content, tuple(df.columns))
    else:
        ckey = None
    if ckey is not None and ckey in _PQ_CODES_CACHE:
        return _PQ_CODES_CACHE[ckey]
    if key is not None and key in _PQ_MODEL_CACHE:
        codebooks, sub = _PQ_MODEL_CACHE[key]
    else:
        sample = (
            df.select(
                as_double_array(vec_col).alias("_a"),
                # deterministic unbiased draw: hash order, id tiebreak —
                # TakeOrderedAndProject either way (no global sort)
                F.xxhash64(F.col(id_col)).alias("_h"),
                F.col(id_col).alias("_i"),
            )
            .orderBy("_h", "_i")
            .limit(_PQ_TRAIN_SAMPLE)
            .collect()
        )
        if not sample:
            raise ValueError("pq_build: empty training input")
        X = np.asarray([r["_a"] for r in sample], dtype=np.float64)
        dim = X.shape[1]
        if dim % m:
            # silent truncation would drop dim % m trailing coordinates
            # from every codebook and code, changing ADC scores with no
            # error — refuse instead (FAISS asserts d % M == 0 too).
            raise ValueError(f"pq_build: dim {dim} not divisible by m={m}")
        sub = dim // m
        codebooks = [
            [list(map(float, c)) for c in _kmeans_local(
                X[:, j * sub:(j + 1) * sub], k, seed + j)]
            for j in range(m)
        ]
        if key is not None:
            _PQ_MODEL_CACHE[key] = (codebooks, sub)

    coded = pq_encode(df, codebooks, sub, vec_col)
    if ckey is not None:
        codes_only = coded.drop(vec_col).persist()
        _PQ_CODES_CACHE[ckey] = (codes_only, codebooks, sub)
        return codes_only, codebooks, sub
    return coded, codebooks, sub


# The literal-ADC serving shape inlines |q| x m x k doubles into the
# plan (pq_topk) or one union branch per query (ivfpq_topk) — the right
# trade for a BOUNDED serving batch, pathological for an unbounded one
# (a few hundred queries build a Catalyst literal tree / union fan-out
# with analysis time far beyond the query itself).  Enforced, not
# assumed: past this cap the call refuses loudly instead of degrading.
_ADC_MAX_QUERY_BATCH = 32


def _adc_empty(coded: DataFrame, query_id_col: str, id_col: str) -> DataFrame:
    """Empty (q, id, adc_dot, rank) relation — the zero-query result.

    The id column's type is DERIVED from the coded relation (the
    non-empty path passes ``id_col`` through unchanged), so the
    degenerate branch unions cleanly with the served branch whatever the
    source id type (bigint vec_id or not).  The query id is bigint by
    construction in both paths (the non-empty path casts the collected
    literals to long)."""
    id_type = dict(coded.dtypes)[id_col]
    return local_frame(
        coded.sparkSession, [],
        f"{query_id_col} bigint, {id_col} {id_type}, adc_dot double, "
        "rank int",
    )


def _adc_guard_batch(q_rows, fn: str) -> None:
    if len(q_rows) > _ADC_MAX_QUERY_BATCH:
        raise ValueError(
            f"{fn}: serving batch of {len(q_rows)} queries exceeds the "
            f"literal-ADC cap ({_ADC_MAX_QUERY_BATCH}); split the batch "
            "or use the broadcast-join cosine path for bulk scoring"
        )


def pq_topk(
    coded: DataFrame,
    codebooks: list[list[list[float]]],
    sub: int,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "q_vec_id",
) -> DataFrame:
    """ADC (asymmetric distance computation) inner-product ANN over PQ
    codes: each query precomputes its partial dot product against every
    codebook centroid (a |q|·m·k literal table — 192 rows here), and a
    corpus vector's approximate score is the sum of its ``m`` table
    lookups.  The raw vectors never participate in serving.

    Plan shape: the per-query ADC tables are tiny (|q|·m·k = 192
    doubles here), so they are inlined as LITERAL lookup arrays and a
    corpus vector's score is m ``element_at`` lookups summed map-side —
    one scan of the codes relation, no explode, no join, and no
    aggregation exchange (the previous posexplode → broadcast-join →
    groupBy shape spent three extra stages moving m rows per vector to
    recombine them; measured 1.46 s → ~0.6 s warm at sf0.1).  Ranking
    reuses the two-phase top-k trick (partition-local heads, then a
    survivors-only global rank) so the scored relation is never
    hash-partitioned on the bare query id.
    """
    import functools
    import operator

    from pyspark.sql import Window

    m = len(codebooks)
    q_rows = queries.select(
        F.col(id_col).alias(query_id_col), as_double_array(vec_col).alias("_qv")
    ).collect()
    if not q_rows:
        return _adc_empty(coded, query_id_col, id_col)
    _adc_guard_batch(q_rows, "pq_topk")
    q_structs = []
    for r in q_rows:
        tables = [
            F.array(*[
                F.lit(float(sum(
                    x * y for x, y in zip(
                        r["_qv"][j * sub:(j + 1) * sub], codebooks[j][c])
                )))
                for c in range(len(codebooks[j]))
            ]).alias(f"_t{j}")
            for j in range(m)
        ]
        q_structs.append(
            F.struct(
                F.lit(int(r[query_id_col])).cast("long").alias(query_id_col),
                *tables,
            )
        )
    scored = (
        coded.select(
            id_col,
            *[f"pq_code_{j}" for j in range(m)],
            F.explode(F.array(*q_structs)).alias("_q"),
        )
        .filter(F.col(f"_q.{query_id_col}") != F.col(id_col))
        .select(
            F.col(f"_q.{query_id_col}").alias(query_id_col),
            id_col,
            F.round(
                functools.reduce(operator.add, [
                    F.element_at(
                        F.col(f"_q._t{j}"), F.col(f"pq_code_{j}") + 1
                    )
                    for j in range(m)
                ]),
                6,
            ).alias("adc_dot"),
        )
        .withColumn("_p", F.spark_partition_id())
    )
    w_local = Window.partitionBy("_p", query_id_col).orderBy(
        F.desc("adc_dot"), F.asc(id_col)
    )
    w = Window.partitionBy(query_id_col).orderBy(F.desc("adc_dot"), F.asc(id_col))
    return (
        scored.withColumn("_lr", F.row_number().over(w_local))
        .filter(F.col("_lr") <= k)
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .drop("_p", "_lr")
    )


def ivfpq_topk(
    coded: DataFrame,
    centers: list[list[float]],
    codebooks: list[list[list[float]]],
    sub: int,
    queries: DataFrame,
    k: int = 10,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroid_col: str = "ivf_centroid",
    query_id_col: str = "q_vec_id",
) -> DataFrame:
    """IVF-PQ serving — the composition that runs billion-vector ANN in
    production (FAISS's default shape): IVF probe pruning restricts each
    query to its ``nprobe`` inverted lists, and PQ ADC scores the
    surviving candidates from their codes alone.  Per query the work is
    (corpus/k_lists)·nprobe code lookups — neither the raw vectors nor
    the unprobed lists are touched.

    ``coded`` must carry both the IVF assignment (``centroid_col``) and
    the PQ code columns (from ``pq_build``).  Plan shape: one branch per
    query (the serving batch is bounded by contract), each a PUSHDOWN
    probe filter ``centroid IN (probed lists)`` — on a codes table
    partitioned/clustered by list id this is partition pruning, the
    read-only-the-probed-lists behavior real IVF serving has — with the
    per-query ADC tables inlined as literal lookup arrays and the score
    summed map-side (same shape as ``pq_topk``; replaces two broadcast
    joins + a groupBy exchange), then union + two-phase top-k."""
    import functools
    import math
    import operator

    from pyspark.sql import Window

    m = len(codebooks)
    q_rows = queries.select(
        F.col(id_col).alias(query_id_col), as_double_array(vec_col).alias("_qv")
    ).collect()
    if not q_rows:
        return _adc_empty(coded, query_id_col, id_col)
    _adc_guard_batch(q_rows, "ivfpq_topk")

    def cos(a: list[float], b: list[float]) -> float:
        dp = sum(x * y for x, y in zip(a, b))
        na = math.sqrt(sum(x * x for x in a))
        nb = math.sqrt(sum(x * x for x in b))
        return dp / (na * nb) if na and nb else 0.0

    branches = []
    for row in q_rows:
        # probe selection driver-side (|q| x k_lists), same tie-break as
        # ivf_topk: cosine DESC, centroid id ASC
        ranked = sorted(
            range(len(centers)),
            key=lambda c: (-cos(row["_qv"], centers[c]), c),
        )
        probed = ranked[:nprobe]
        tables = [
            F.array(*[
                F.lit(float(sum(
                    x * y for x, y in zip(
                        row["_qv"][j * sub:(j + 1) * sub], codebooks[j][c])
                )))
                for c in range(len(codebooks[j]))
            ])
            for j in range(m)
        ]
        branches.append(
            coded.filter(F.col(centroid_col).isin(*probed))
            .filter(F.lit(int(row[query_id_col])) != F.col(id_col))
            .select(
                F.lit(int(row[query_id_col])).cast("long").alias(query_id_col),
                id_col,
                F.round(
                    functools.reduce(operator.add, [
                        F.element_at(tables[j], F.col(f"pq_code_{j}") + 1)
                        for j in range(m)
                    ]),
                    6,
                ).alias("adc_dot"),
            )
        )
    scored = functools.reduce(
        lambda a, b: a.unionByName(b), branches
    ).withColumn("_p", F.spark_partition_id())
    w_local = Window.partitionBy("_p", query_id_col).orderBy(
        F.desc("adc_dot"), F.asc(id_col)
    )
    w = Window.partitionBy(query_id_col).orderBy(F.desc("adc_dot"), F.asc(id_col))
    return (
        scored.withColumn("_lr", F.row_number().over(w_local))
        .filter(F.col("_lr") <= k)
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .drop("_p", "_lr")
    )


# ---------------------------------------------------------------------------
# PQ index persistence — the index as a LAKE ARTIFACT
# ---------------------------------------------------------------------------
# The session cache (_PQ_CODES_CACHE) makes serving warm-fast within one
# driver; production wants the index to SURVIVE the driver like the
# reference's manifests survive a writer (TableMetadata persists the data
# file list — modules/domain/.../TableMetadata.scala:9-16; the PQ code
# table is the same build-once/read-many artifact for ANN serving).  Two
# snapshot tables: codes (id + m small ints, ~1/128 of corpus bytes) and
# codebooks (m*k rows of sub-dim vectors, a bounded side relation).

PQ_BOOKS_DDL = "subspace int, code int, center array<double>"


def pq_write_index(
    coded: DataFrame,
    codebooks: list[list[list[float]]],
    codes_table,
    books_table,
    vec_col: str = "embedding",
) -> None:
    """Persist a built PQ index: the codes relation (raw vectors
    DROPPED — the whole point of the artifact) and the codebooks as a
    bounded relation.  Tables are created-or-overwritten, so rebuilding
    the index is an atomic snapshot commit on both, and time travel over
    the codes table gives index versioning for free."""
    codes = coded.drop(vec_col)
    rows = [
        (j, c, [float(x) for x in cv])
        for j, book in enumerate(codebooks)
        for c, cv in enumerate(book)
    ]
    books = local_frame(codes.sparkSession, rows, PQ_BOOKS_DDL)
    for table, df in ((codes_table, codes), (books_table, books)):
        if table.current_snapshot() is None:
            table.create(df)
        else:
            table.overwrite(df)


def pq_read_index(codes_table, books_table):
    """Load a persisted PQ index: returns (codes DataFrame, codebooks,
    sub) exactly as ``pq_build`` does, but from the lake tables — a new
    driver serves ANN without re-training or re-encoding anything.  The
    codebook collect is bounded by construction (m·k rows)."""
    rows = books_table.read().collect()
    if not rows:
        raise ValueError("pq_read_index: empty codebook table")
    by_sub: dict[int, dict[int, list[float]]] = {}
    for r in rows:
        by_sub.setdefault(r.subspace, {})[r.code] = list(r.center)
    codebooks = [
        [by_sub[j][c] for c in sorted(by_sub[j])] for j in sorted(by_sub)
    ]
    sub = len(codebooks[0][0])
    return codes_table.read(), codebooks, sub


IVF_CENTERS_DDL = "cid int, center array<double>"


def ivfpq_write_index(
    coded: DataFrame,
    centers: list[list[float]],
    codebooks: list[list[list[float]]],
    codes_table,
    books_table,
    centers_table,
    vec_col: str = "embedding",
    centroid_col: str = "ivf_centroid",
) -> None:
    """Persist a built IVF-PQ index: the codes table is written SORTED
    BY the inverted-list id, so files and row groups cluster by list and
    the serving probe filter (``centroid IN (probed lists)``) prunes at
    the STORAGE layer — footer min/max skip whole row groups of
    unprobed lists, which is the read-only-the-probed-lists behavior
    real IVF serving has (FAISS keeps lists contiguous for the same
    reason).  Centers join the codebooks as a second bounded side
    relation; raw vectors are dropped."""
    codes = coded.drop(vec_col)
    rows = [
        (j, c, [float(x) for x in cv])
        for j, book in enumerate(codebooks)
        for c, cv in enumerate(book)
    ]
    spark = codes.sparkSession
    books = local_frame(spark, rows, PQ_BOOKS_DDL)
    cents = local_frame(
        spark,
        [(i, [float(x) for x in c]) for i, c in enumerate(centers)],
        IVF_CENTERS_DDL,
    )
    for table, df, sort in (
        (codes_table, codes, [centroid_col]),
        (books_table, books, None),
        (centers_table, cents, None),
    ):
        if table.current_snapshot() is None:
            # sort_by is a carried table property (write.sort-order):
            # every later append/overwrite re-applies the clustering
            table.create(df, sort_by=sort)
        else:
            table.overwrite(df)


def ivfpq_read_index(codes_table, books_table, centers_table):
    """Load a persisted IVF-PQ index: (codes DataFrame, centers,
    codebooks, sub) exactly as the build pair returns, from the lake
    tables alone.  Both side collects are bounded by construction
    (k_lists and m·k rows)."""
    codes, codebooks, sub = pq_read_index(codes_table, books_table)
    crows = centers_table.read().collect()
    if not crows:
        raise ValueError("ivfpq_read_index: empty centers table")
    centers = [list(r.center) for r in sorted(crows, key=lambda r: r.cid)]
    return codes, centers, codebooks, sub


# ---------------------------------------------------------------------------
# Incremental index maintenance — the FAISS add() contract as lake appends
# ---------------------------------------------------------------------------
# Real corpora grow daily; a full rebuild per delta wastes the
# build-once/read-many story.  Appends encode ONLY the delta against the
# FROZEN codebooks (and frozen IVF centers), committed as a snapshot
# APPEND on the codes table — existing code files are never rewritten
# (byte-identical, pinned by test), and a crashed append is invisible
# (the snapshot either commits or it doesn't).  The quantization model
# drifts as the appended distribution diverges from the training sample,
# so index_staleness() reads the append fraction off the snapshot log
# and recommends rebuild past a threshold.


def pq_append_index(
    new_vectors: DataFrame,
    codes_table,
    books_table,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> int:
    """Append new vectors to a persisted PQ index: encode the delta with
    the FROZEN persisted codebooks (never retrained — the FAISS add()
    contract) and commit one snapshot append of the new code rows.
    Ids already indexed are skipped (idempotent re-delivery, the
    dedup-ingest discipline).  Returns the number of rows appended."""
    codes, codebooks, sub = pq_read_index(codes_table, books_table)
    fresh = new_vectors.join(
        codes.select(id_col), id_col, "left_anti"
    )
    # within-batch dedup too: an at-least-once delivery can carry the
    # same id twice in ONE batch (neither copy is indexed yet, so the
    # anti-join passes both) — a duplicate code row would serve one id
    # at two ranks forever.  Redelivery is verbatim by contract, so any
    # surviving copy encodes identically.
    fresh = fresh.dropDuplicates([id_col])
    delta = pq_encode(fresh, codebooks, sub, vec_col).drop(vec_col)
    # align to the persisted schema (column order + any extra columns);
    # registry-bounded: the delta is consumed by the append below, so
    # the next invocation may free it (one resident checkpoint per tag
    # instead of one per append — plans/residency.py)
    from ..plans.residency import register_checkpointed

    delta = register_checkpointed(
        delta.select(*codes.columns).localCheckpoint(eager=True),
        "pq_append_delta",
    )
    n = delta.count()
    if n:
        codes_table.append(delta)
    return n


def ivfpq_append_index(
    new_vectors: DataFrame,
    codes_table,
    books_table,
    centers_table,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    centroid_col: str = "ivf_centroid",
) -> int:
    """Append new vectors to a persisted IVF-PQ index: assign each to
    its nearest FROZEN centroid, encode with the FROZEN codebooks, and
    commit one snapshot append.  The codes table's carried
    write.sort-order re-clusters the appended file by inverted list, so
    the serving probe's storage-layer pruning keeps working across
    appends.  Returns the number of rows appended."""
    codes, centers, codebooks, sub = ivfpq_read_index(
        codes_table, books_table, centers_table
    )
    fresh = new_vectors.join(codes.select(id_col), id_col, "left_anti")
    fresh = fresh.dropDuplicates([id_col])  # within-batch redelivery
    assigned = assign_frozen_centers(fresh, centers, vec_col, centroid_col)
    delta = pq_encode(assigned, codebooks, sub, vec_col).drop(vec_col)
    # registry-bounded like pq_append_index's delta
    from ..plans.residency import register_checkpointed

    delta = register_checkpointed(
        delta.select(*codes.columns).localCheckpoint(eager=True),
        "ivfpq_append_delta",
    )
    n = delta.count()
    if n:
        codes_table.append(delta)
    return n


def index_staleness(codes_table, threshold: float = 0.2) -> dict:
    """How far a persisted index has drifted from its training base:
    the fraction of currently-served codes that were appended AFTER the
    last full (re)build, read off the snapshot log — appends encode
    against frozen codebooks, so quantization error grows as the
    appended distribution diverges from the training sample.  Returns
    {base_rows, appended_rows, staleness, rebuild_recommended}; callers
    rebuild via pq_write_index/ivfpq_write_index (an atomic overwrite)
    when recommended."""
    snaps = sorted(
        codes_table.snapshots(include_staged=False),
        key=lambda s: s.sequence_number
    )
    if not snaps:
        raise ValueError("index_staleness: table has no snapshots")
    # Only a REBUILD (create/overwrite — retraining + re-encode) resets
    # the drift base.  A 'replace' is compaction: it rewrites layout,
    # preserving rows — the appended codes are still frozen-codebook
    # encodes of post-training data, so the staleness they represent
    # must survive the rewrite.  When snapshot expiry has already
    # dropped the last rebuild snapshot from the retained log (more
    # appends than retain_last), fall back to the OLDEST retained
    # snapshot as the drift base: everything appended after it is
    # still post-rebuild drift, so the reported staleness is a LOWER
    # bound — conservative in the safe direction (never under-reports
    # relative to the truncated log, never raises on a healthy table).
    rebuild_seqs = [
        s.sequence_number
        for s in snaps
        if s.operation in ("create", "overwrite")
    ]
    base_seq = (
        max(rebuild_seqs) if rebuild_seqs else snaps[0].sequence_number
    )
    base_rows = codes_table.read(seq=base_seq).count()
    total_rows = codes_table.read().count()
    appended = total_rows - base_rows
    staleness = appended / total_rows if total_rows else 0.0
    return {
        "base_rows": base_rows,
        "appended_rows": appended,
        "staleness": staleness,
        "rebuild_recommended": staleness > threshold,
    }
