"""Similarity search over embedding columns (BASELINE.json north star).

* ``band_lsh_pairs`` (and ``_auto`` / ``_calibration_pairs``) —
  banded random-hyperplane LSH near-duplicate pairs: vectors sharing
  a whole band of sign bits become candidates, verified by exact
  cosine. Hyperplanes come from a seeded RNG, so band keys are
  deterministic and re-computable on read.
* ``kmeans_fit`` — Lloyd's k-means, one distributed pass per
  iteration; only the centroid matrix reaches the driver.
* ``pq_fit`` / ``pq_encode`` — product quantization, and the serving
  paths on top of it: ``ivfpq_topk`` (coarse k-means lists + residual
  PQ), ``pq_adc_batch_topk`` (fit-in-query) and
  ``pq_adc_batch_serve`` (from a persisted codebook and codes table).

Per-row vector math is ``zip_with``/``aggregate`` expressions (JVM).
The DENSE stages — many-plane sign projections, pairwise verify dots,
k-means assignment — are Arrow-batched numpy (`pandas_udf`): dense
linear algebra is the one shape built-in Column ops can't express
efficiently (higher-order functions interpret per element; fully
unrolled expression trees break the 64 KB codegen method limit), and
batch matmul is how production engines run it. Everything relational
around them stays native and codegen'd.
"""

from __future__ import annotations

import math
import random

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from epl_cas_etl_2026_spark.functions.vectors import dot, to_double
from epl_cas_etl_2026_spark.sources.parquet import spread_scan


def hyperplanes(dim: int, n_planes: int, seed: int = 42) -> list[list[float]]:
    """Deterministic Gaussian hyperplanes for sign-LSH."""
    rng = random.Random(seed)
    return [
        [rng.gauss(0.0, 1.0) for _ in range(dim)] for _ in range(n_planes)
    ]


def _band_keys_udf(planes: list[list[float]], n_bands: int, rows_per_band: int):
    """Arrow-vectorized sign-bit band keys: one float64 matmul per
    batch (V[batch×dim] @ P.T[dim×planes]), then pack each band's bits
    into a string key. Sign decisions match the oracle's per-plane
    list_dot_product except for dots within float summation-order
    noise of zero (~1e-15 relative) — probability ~0 for real data.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    P = np.asarray(planes, dtype=np.float64).T  # dim × n_planes

    def keys(col):
        if col.empty:
            return pd.Series([], dtype=object)
        V = np.vstack([np.asarray(a, dtype=np.float64) for a in col])
        S = (V @ P) >= 0  # batch × n_planes
        out = []
        for row in S:
            bits = "".join("1" if b else "0" for b in row)
            out.append(
                [
                    bits[b * rows_per_band : (b + 1) * rows_per_band]
                    for b in range(n_bands)
                ]
            )
        return pd.Series(out)

    # set resolved annotations directly: the module-level
    # `from __future__ import annotations` would stringify inline
    # hints and pandas_udf can't resolve them.
    keys.__annotations__ = {"col": pd.Series, "return": pd.Series}
    return pandas_udf(keys, "array<string>")


def _pair_dot_udf():
    """Arrow-vectorized pairwise dot over two array<double> columns —
    the exact-cosine verify over LSH candidates, one einsum per batch
    instead of an interpreted per-element fold."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    def pair_dot(a, b):
        if a.empty:
            return pd.Series([], dtype="float64")
        A = np.vstack([np.asarray(x, dtype=np.float64) for x in a])
        B = np.vstack([np.asarray(x, dtype=np.float64) for x in b])
        return pd.Series(np.einsum("ij,ij->i", A, B))

    pair_dot.__annotations__ = {
        "a": pd.Series,
        "b": pd.Series,
        "return": pd.Series,
    }
    return pandas_udf(pair_dot, "double")


def band_lsh_pairs(
    embeddings: DataFrame,
    planes: list[list[float]],
    n_bands: int,
    rows_per_band: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.4,
) -> DataFrame:
    """Banded random-hyperplane LSH near-duplicate pairs — the
    sub-quadratic embedding analogue of MinHash banding
    (operators/dedup.py): each vector gets ``n_bands`` keys (one per
    band of ``rows_per_band`` sign bits); two vectors are CANDIDATES
    iff they share at least one whole band key; candidates are then
    verified with exact cosine (normalize once per vector, one dot per
    pair).

    Scale law: a random pair collides in a band with probability
    2^-rows_per_band, so candidate volume is ~n²·b/2^r — choose
    r ≈ log2(n) to keep per-bucket occupancy O(1) and the candidate
    set ~O(n·b), while recall for sim-s pairs is 1-(1-p^r)^b with
    p = 1 - arccos(s)/π (raise b to recover recall as r grows).
    Unlike a single fixed-width bucket key, the (r, b) knobs make the
    candidate stage shrink with n instead of staying ~n²/const.

    Physical shape: band join and pair-dedup carry only (id, band,
    key) — normalized vectors are joined back onto the DISTINCT
    candidate id pairs, so the shuffles stay slim. The two dense
    stages (sign projection, pairwise verify dot) run as Arrow-batched
    numpy — see _band_keys_udf / _pair_dot_udf.
    """
    assert len(planes) == n_bands * rows_per_band
    # The sign-bit projection is the compute-heavy stage (n_planes
    # dots per row); small local scans give 1-2 splits which would
    # serialize it, so spread ONLY when the scan is under-parallel —
    # at scale the scan has plenty of splits and no exchange happens.
    embeddings = spread_scan(embeddings)
    # The n_planes×dim sign-bit projection is dense linear algebra —
    # the one stage built-in Column ops can't express efficiently
    # (zip_with/aggregate HOFs are interpreted per element; a fully
    # unrolled expression tree breaks the 64 KB codegen method limit
    # and falls back to interpreted too). So this stage alone is an
    # Arrow-batched pandas_udf doing ONE numpy matmul per batch —
    # exactly how a production engine runs projections at 100 TB.
    # Everything before/after stays native and codegen'd.
    band_keys = _band_keys_udf(planes, n_bands, rows_per_band)
    with_keys = embeddings.select(
        F.col(id_col),
        to_double(F.col(vec_col)).alias("__v"),
        band_keys(F.col(vec_col)).alias("__bands"),
    )
    # One pass computes keys + normalized vectors; materialize so the
    # banded side and the verify side don't re-run the scan + matmul.
    # (~n·(b keys + dim doubles) — tiny next to the input.) persist(),
    # not localCheckpoint: the r12 per-callsite interleaved A/B at 32
    # cores (verdict item 1) measured the r11 lazy-localCheckpoint swap
    # as the LOSER here (embedding_lsh_auto_params 2.35/2.94 ckpt vs
    # 1.47/1.65 persist min/med; near_dup_cosine 2.32/3.03 vs
    # 2.00/2.53) — the serial consumer pattern of this frame never
    # hits the KMV-style concurrent cache-block-lock case, and the
    # checkpoint's extra write job + AQE pinning are pure cost.
    keyed = with_keys.withColumn(
        "__n", F.sqrt(dot(F.col("__v"), F.col("__v")))
    ).select(
        F.col(id_col),
        F.transform("__v", lambda x: x / F.col("__n")).alias("nv"),
        "__bands",
    ).persist()
    banded = keyed.select(
        F.col(id_col), F.posexplode("__bands").alias("band", "key")
    )
    a = banded.select(F.col(id_col).alias("id_a"), "band", "key")
    b = banded.select(F.col(id_col).alias("id_b"), "band", "key")
    # equi-join on (band, key): shuffles on the band key like any LSH
    # bucket join — no all-pairs stage anywhere. The join + DISTINCT
    # carry only id pairs (slim shuffle); vectors join back after.
    cand = (
        a.join(b, ["band", "key"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    vecs = keyed.select(F.col(id_col), "nv")
    pairs = cand.join(
        vecs.select(F.col(id_col).alias("id_a"), F.col("nv").alias("na")),
        "id_a",
    ).join(
        vecs.select(F.col(id_col).alias("id_b"), F.col("nv").alias("nb")),
        "id_b",
    )
    # filter on the RAW dot (like the oracle's WHERE), round only for
    # output — rounding first would admit values like 0.3999997.
    return (
        pairs.withColumn("__sim", _pair_dot_udf()(F.col("na"), F.col("nb")))
        .filter(F.col("__sim") >= threshold)
        .select("id_a", "id_b", F.round("__sim", 6).alias("sim"))
    )


def band_lsh_calibration_pairs(
    embeddings: DataFrame,
    planes: list[list[float]],
    n_bands: int,
    rows_per_band: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Estimator-calibration companion to ``band_lsh_pairs`` (round-11,
    the embedding twin of the r10 MinHash estimate-error audit): for
    every banded candidate pair, emit the SIGN-BIT ESTIMATE alongside
    the exact cosine — (id_a, id_b, est_matches, sim) — so a caller can
    build the calibration curve that tells how many true-cosine millis
    each sign-agreement count spans before trusting a threshold at
    100 TB.

    ``est_matches`` is the number of agreeing sign bits across ALL
    n_bands·rows_per_band planes (the Goemans-Williamson estimator:
    P[bit match] = 1 - θ/π, so m/P estimates 1 - θ/π). It is computed
    from the band keys the banding stage already produced — each key is
    an r-char bit string, converted once per VECTOR to an integer via
    ``conv`` (codegen'd), then per PAIR the agreement is
    r - bit_count(xor) folded over the n_bands-element arrays — integer
    everywhere, no re-projection of the planes.

    Physical shape is band_lsh_pairs' (candidates from the banded
    equi-join, never all-pairs; slim id-only shuffles; vectors and key
    arrays join back onto the DISTINCT pairs; exact dot via the
    Arrow-batched pairwise einsum). No threshold filter: calibration
    wants the full candidate population, including the false positives
    a threshold would drop.
    """
    assert len(planes) == n_bands * rows_per_band
    embeddings = spread_scan(embeddings)
    band_keys = _band_keys_udf(planes, n_bands, rows_per_band)
    with_keys = embeddings.select(
        F.col(id_col),
        to_double(F.col(vec_col)).alias("__v"),
        band_keys(F.col(vec_col)).alias("__bands"),
    )
    keyed = (
        with_keys.withColumn("__n", F.sqrt(dot(F.col("__v"), F.col("__v"))))
        .select(
            F.col(id_col),
            F.transform("__v", lambda x: x / F.col("__n")).alias("nv"),
            "__bands",
            F.expr(
                "transform(__bands, k -> cast(conv(k, 2, 10) as bigint))"
            ).alias("bk"),
        )
        .persist()  # r12 A/B: persist ≥ localCheckpoint here, see band_lsh_pairs
    )
    banded = keyed.select(
        F.col(id_col), F.posexplode("__bands").alias("band", "key")
    )
    a = banded.select(F.col(id_col).alias("id_a"), "band", "key")
    b = banded.select(F.col(id_col).alias("id_b"), "band", "key")
    cand = (
        a.join(b, ["band", "key"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    pairs = cand.join(
        keyed.select(
            F.col(id_col).alias("id_a"),
            F.col("nv").alias("na"),
            F.col("bk").alias("ka"),
        ),
        "id_a",
    ).join(
        keyed.select(
            F.col(id_col).alias("id_b"),
            F.col("nv").alias("nb"),
            F.col("bk").alias("kb"),
        ),
        "id_b",
    )
    est = F.expr(
        f"aggregate(zip_with(ka, kb, (x, y) -> "
        f"{rows_per_band}L - bit_count(x ^ y)), 0L, (acc, v) -> acc + v)"
    )
    return pairs.select(
        "id_a",
        "id_b",
        est.cast("long").alias("est_matches"),
        _pair_dot_udf()(F.col("na"), F.col("nb")).alias("sim"),
    )


def _assign_udf(centroids):
    """Arrow-batched nearest-centroid assignment: one (batch × k)
    distance matrix per batch; ties break to the lowest cluster index
    (numpy argmin). Centroids ride along in the closure — the Python
    worker gets them once per task, the broadcast-variable pattern."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    C = np.asarray(centroids, dtype=np.float64)  # k × dim

    def assign(col):
        if col.empty:
            return pd.DataFrame({"cluster": [], "sq_dist": []})
        V = np.vstack([np.asarray(a, dtype=np.float64) for a in col])
        # ||v - c||² = ||v||² - 2 v·c + ||c||²
        d2 = (
            (V * V).sum(axis=1, keepdims=True)
            - 2.0 * (V @ C.T)
            + (C * C).sum(axis=1)
        )
        cl = d2.argmin(axis=1)
        best = np.maximum(d2[np.arange(len(cl)), cl], 0.0)
        return pd.DataFrame(
            {"cluster": cl.astype("int32"), "sq_dist": best}
        )

    assign.__annotations__ = {"col": pd.Series, "return": pd.DataFrame}
    return pandas_udf(assign, "cluster int, sq_dist double")


def kmeans_fit(
    embeddings: DataFrame,
    k: int = 4,
    iters: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    return_centroids: bool = False,
):
    """Lloyd's k-means, Spark-first: each iteration is one distributed
    pass (Arrow-batched nearest-centroid + a (cluster, dim) mean
    aggregation); only the k×dim centroid matrix crosses the driver
    boundary per iteration — the data never does. Deterministic:
    centroids init from rows id 0..k-1, argmin ties take the lowest
    cluster. Returns (id, cluster, sq_dist) assignments, plus the
    final k×dim centroid list when ``return_centroids``."""
    init = (
        embeddings.filter(F.col(id_col) < k)
        .orderBy(id_col)
        .select(to_double(F.col(vec_col)).alias("v"))
        .collect()
    )
    if len(init) != k:
        raise ValueError(
            f"kmeans_fit init needs rows with {id_col} 0..{k - 1}; "
            f"found {len(init)}"
        )
    centroids = [list(r["v"]) for r in init]

    # NOTE (r11 optimization round): a one-exchange rewrite of the
    # means job (groupBy(cluster) with dim avg(__v[i]) columns, no
    # explode) was measured AND REVERTED — interleaved A/B at sf0.1
    # put it at ~1.0 s/iteration vs ~0.61 s for this shape: the wide
    # aggregate's 2·dim accumulators lose to posexplode + two tiny
    # exchanges inside whole-stage codegen. Keep the explode form.
    for _ in range(iters):
        assigned = embeddings.select(
            F.col(id_col),
            to_double(F.col(vec_col)).alias("__v"),
            _assign_udf(centroids)(F.col(vec_col)).alias("__a"),
        ).select(id_col, "__v", "__a.cluster", "__a.sq_dist")
        means = (
            assigned.select("cluster", F.posexplode("__v").alias("dim", "x"))
            .groupBy("cluster", "dim")
            .agg(F.avg("x").alias("m"))
            .groupBy("cluster")
            .agg(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("dim", "m"))
                    ),
                    lambda s: s["m"],
                ).alias("centroid")
            )
            .collect()
        )
        new_centroids = list(centroids)
        for r in means:
            new_centroids[r["cluster"]] = list(r["centroid"])
        centroids = new_centroids

    assigned = embeddings.select(
        F.col(id_col),
        _assign_udf(centroids)(F.col(vec_col)).alias("__a"),
    ).select(id_col, "__a.cluster", "__a.sq_dist")
    return (assigned, centroids) if return_centroids else assigned


def lsh_params_for(
    n_rows: int,
    target_sim: float = 0.8,
    target_recall: float = 0.9,
    max_bands: int = 32,
) -> tuple[int, int]:
    """Pick (n_bands, rows_per_band) for :func:`band_lsh_pairs` from
    the dataset size — the scale rule the fixed-bucket approach lacks:

    * rows_per_band r ≈ log2(n): a random pair collides in a band
      with prob 2^-r, so expected per-band bucket occupancy stays O(1)
      and candidate volume ~O(n·b) instead of ~n²/const.
    * n_bands b = smallest b with 1-(1-p^r)^b ≥ target_recall where
      p = 1 - arccos(target_sim)/π — recall is recovered by adding
      bands as r grows (capped at max_bands).
    """
    r = max(4, math.ceil(math.log2(max(n_rows, 2))))
    p = 1.0 - math.acos(min(max(target_sim, -1.0), 1.0)) / math.pi
    per_band = p**r
    if per_band >= 1.0:
        return 1, r
    b = math.ceil(math.log(1.0 - target_recall) / math.log(1.0 - per_band))
    return min(max(b, 1), max_bands), r


def band_lsh_pairs_auto(
    embeddings: DataFrame,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.4,
    target_sim: float = 0.8,
    target_recall: float = 0.9,
    seed: int = 7,
) -> DataFrame:
    """:func:`band_lsh_pairs` with (b, r) chosen from the actual row
    count — candidates shrink as n grows. One count() pass to size the
    index; at production scale the count comes from table stats
    instead. (The driver-gated query pins FIXED (b, r) so its DuckDB
    twin can reproduce the banding; this is the operational entry
    point.)"""
    n = embeddings.count()
    b, r = lsh_params_for(n, target_sim, target_recall)
    planes = [
        [round(x, 4) for x in p] for p in hyperplanes(dim, b * r, seed=seed)
    ]
    return band_lsh_pairs(
        embeddings,
        planes,
        n_bands=b,
        rows_per_band=r,
        id_col=id_col,
        vec_col=vec_col,
        threshold=threshold,
    )


# ---------------------------------------------------------------------------
# Product quantization (Jégou et al., "Product Quantization for
# Nearest Neighbor Search", TPAMI 2011 — public algorithm): compress
# each vector to m sub-codes (one 4-bit code per 8-dim subspace at
# the defaults) and answer top-k through an ADC (asymmetric distance
# computation) lookup table — the memory-side half of IVF-PQ, the
# workhorse layout of production vector stores. At 100 TB the win is
# the 64× compression (64 float32 dims → 8 bytes of codes): the
# shortlist scan touches codes only, never the raw vectors; exact
# re-ranking reads full vectors for just the shortlist.
# ---------------------------------------------------------------------------
def _pq_assign_udf(codebooks):
    """Arrow-batched per-subspace nearest-code assignment. The full
    m×k×dsub codebook tensor rides in the closure (the broadcast
    pattern); each batch does one distance matrix per subspace
    present in the batch."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    C = np.asarray(codebooks, dtype=np.float64)  # m × k × dsub

    def assign(sub_id, subvec):
        if subvec.empty:
            return pd.DataFrame({"code": [], "sq_dist": []})
        V = np.vstack([np.asarray(a, dtype=np.float64) for a in subvec])
        S = sub_id.to_numpy().astype(int)
        code = np.empty(len(S), dtype=np.int32)
        best = np.empty(len(S), dtype=np.float64)
        for s in np.unique(S):
            mask = S == s
            Vs, Cs = V[mask], C[s]
            d2 = (
                (Vs * Vs).sum(axis=1, keepdims=True)
                - 2.0 * (Vs @ Cs.T)
                + (Cs * Cs).sum(axis=1)
            )
            cl = d2.argmin(axis=1)
            code[mask] = cl
            best[mask] = np.maximum(d2[np.arange(len(cl)), cl], 0.0)
        return pd.DataFrame({"code": code, "sq_dist": best})

    assign.__annotations__ = {
        "sub_id": pd.Series,
        "subvec": pd.Series,
        "return": pd.DataFrame,
    }
    return pandas_udf(assign, "code int, sq_dist double")


def pq_subvectors(
    emb: DataFrame,
    dim: int,
    m: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, sub_id, subvec) long form: each vector split into m
    contiguous subspaces — per-row array slicing inside the scan
    stage, fan-out m. ``dim`` must divide evenly into m subspaces;
    anything else would silently drop trailing dimensions from the
    codes while the exact re-rank still sees them."""
    if dim % m:
        raise ValueError(f"dim={dim} not divisible by m={m} subspaces")
    dsub = dim // m
    v = to_double(F.col(vec_col))
    parts = F.array(
        *[
            F.struct(
                F.lit(s).alias("sub_id"),
                F.slice(v, s * dsub + 1, dsub).alias("subvec"),
            )
            for s in range(m)
        ]
    )
    return emb.select(F.col(id_col), F.explode(parts).alias("p")).select(
        id_col, "p.sub_id", "p.subvec"
    )


def pq_fit(
    emb: DataFrame,
    dim: int = 64,
    m: int = 8,
    k: int = 16,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
):
    """Per-subspace Lloyd's k-means, ALL m subspaces trained in the
    same distributed pass per iteration (the long-form frame carries
    sub_id; assignment and the (sub, code, dim) mean aggregation are
    shared). Only the m×k×dsub codebook tensor (1 K floats at the
    defaults) crosses the driver per iteration. Deterministic: init
    codes are the subvectors of rows id 0..k-1; argmin ties take the
    lowest code."""
    dsub = dim // m
    init = (
        emb.filter(F.col(id_col) < k)
        .orderBy(id_col)
        .select(to_double(F.col(vec_col)).alias("v"))
        .collect()
    )
    if len(init) != k:
        raise ValueError(f"pq_fit init needs rows with {id_col} 0..{k - 1}")
    codebooks = [
        [list(r["v"][s * dsub : (s + 1) * dsub]) for r in init]
        for s in range(m)
    ]
    subs = pq_subvectors(emb, dim, m, id_col, vec_col).localCheckpoint(
        eager=False
    )
    for _ in range(iters):
        a = subs.select(
            "sub_id",
            "subvec",
            _pq_assign_udf(codebooks)(F.col("sub_id"), F.col("subvec")).alias(
                "__a"
            ),
        ).select("sub_id", "subvec", "__a.code")
        # same explode-shaped means as kmeans_fit (the wide-avg
        # one-exchange variant measured slower — see kmeans_fit note)
        means = (
            a.select("sub_id", "code", F.posexplode("subvec").alias("dim", "x"))
            .groupBy("sub_id", "code", "dim")
            .agg(F.avg("x").alias("mu"))
            .groupBy("sub_id", "code")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("dim", "mu"))),
                    lambda s: s["mu"],
                ).alias("centroid")
            )
            .collect()
        )
        new_cb = [list(cb) for cb in codebooks]
        for r in means:
            new_cb[r["sub_id"]][r["code"]] = list(r["centroid"])
        codebooks = new_cb
    return codebooks


def pq_encode(
    emb: DataFrame,
    codebooks,
    dim: int = 64,
    m: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, sub_id, code, sq_dist) long-form codes under the given
    codebooks — the PQ index build. 8 bytes/vector once packed."""
    subs = pq_subvectors(emb, dim, m, id_col, vec_col)
    return subs.select(
        F.col(id_col),
        "sub_id",
        "subvec",
        _pq_assign_udf(codebooks)(F.col("sub_id"), F.col("subvec")).alias(
            "__a"
        ),
    ).select(id_col, "sub_id", "subvec", "__a.code", "__a.sq_dist")


# ---------------------------------------------------------------------------
# IVF-PQ — the two halves composed into the production ANN serving
# path (Jégou et al. 2011 §IV; the faiss IVFPQ layout): a learned
# coarse quantizer (k-means) partitions the corpus into inverted
# lists; each vector's RESIDUAL against its list centroid is
# PQ-encoded; a query probes only its nprobe nearest lists, scans
# their codes with a per-list ADC lookup table built from the query's
# residual against that list's centroid, and exact-reranks the ADC
# shortlist. At 100 TB: the corpus-side state is (cluster, m codes)
# per vector (≈10 bytes at the defaults); a probe touches
# nprobe/n_clusters of the codes and reads raw vectors only for the
# shortlist. The inverted lists ARE a partitioning column — written
# out partitioned by `cluster`, the probe prunes file listings.
# ---------------------------------------------------------------------------
def ivfpq_topk(
    emb: DataFrame,
    dim: int = 64,
    m: int = 8,
    k_codes: int = 16,
    n_clusters: int = 8,
    nprobe: int = 2,
    coarse_iters: int = 2,
    pq_iters: int = 2,
    query_id: int = 0,
    shortlist: int = 50,
    topk: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    return_debug: bool = False,
):
    """End-to-end IVF-PQ top-k.

    Pipeline (driver-side state is ONLY the k×dim centroids, the
    m×k_codes×dsub codebook tensor, the query vector, and the
    nprobe×m×k_codes LUT — all tiny):

    1. coarse quantizer: :func:`kmeans_fit` → inverted-list
       assignments + centroids;
    2. residual encode: r = v − centroid[cluster] (JVM ``zip_with``
       against the broadcast centroid table), :func:`pq_fit` +
       :func:`pq_encode` over the residuals;
    3. probe selection: rank centroids by distance to the query,
       keep the nprobe nearest (numpy, k×dim);
    4. per-probed-list ADC LUT: T_c[s][j] = ||(q − centroid_c)_s −
       cb[s][j]||², shipped as a 256-row broadcast frame keyed
       (cluster, sub_id, code) — the scan over probed lists' codes is
       a broadcast equi-join + per-id SUM, all codegen;
    5. exact re-rank of the ADC ``shortlist`` over raw vectors.

    With ``return_debug`` also returns (assigned, centroids,
    codebooks, probed, codes) for invariant checks.
    """
    import numpy as np

    spark = emb.sparkSession
    dsub = dim // m
    assigned, centroids = kmeans_fit(
        emb,
        k=n_clusters,
        iters=coarse_iters,
        id_col=id_col,
        vec_col=vec_col,
        return_centroids=True,
    )
    # pin the assignment ONCE: its plan re-runs the Arrow argmin UDF
    # over the whole corpus for EVERY consumer otherwise (residual
    # build, probed-member filter, and the gate's coverage/member
    # aggregates — 4 full UDF passes measured before this checkpoint)
    assigned = assigned.localCheckpoint(eager=False)
    cent_df = spark.createDataFrame(
        [(i, [float(x) for x in c]) for i, c in enumerate(centroids)],
        "cluster int, centroid array<double>",
    )
    resid = (
        emb.select(id_col, to_double(F.col(vec_col)).alias("__v"))
        .join(assigned.select(id_col, "cluster"), id_col)
        .join(F.broadcast(cent_df), "cluster")
        .select(
            id_col,
            "cluster",
            F.zip_with("__v", "centroid", lambda a, b: a - b).alias("resid"),
        )
        # pq_fit iterates over the residual frame: pin it once so the
        # coarse assignment + subtraction don't re-run per Lloyd pass
        .localCheckpoint(eager=False)
    )
    codebooks = pq_fit(
        resid, dim=dim, m=m, k=k_codes, iters=pq_iters,
        id_col=id_col, vec_col="resid",
    )
    codes = pq_encode(
        resid, codebooks, dim=dim, m=m, id_col=id_col, vec_col="resid"
        # pin: the encode UDF otherwise re-runs per consumer (the ADC
        # scan here + the gate's independent LUT re-derivation)
    ).localCheckpoint(eager=False)
    q = (
        emb.filter(F.col(id_col) == query_id)
        .select(to_double(F.col(vec_col)).alias("v"))
        .collect()
    )
    if not q:
        raise ValueError(f"query {id_col}={query_id} not found")
    qv = np.asarray(q[0]["v"], dtype=np.float64)
    C = np.asarray(centroids, dtype=np.float64)
    dc = ((C - qv) ** 2).sum(axis=1)
    probed = [int(i) for i in np.argsort(dc, kind="stable")[:nprobe]]
    CB = np.asarray(codebooks, dtype=np.float64)  # m × k × dsub
    lut_rows = []
    for c in probed:
        qr = qv - C[c]
        for s in range(m):
            qs = qr[s * dsub : (s + 1) * dsub]
            for j in range(k_codes):
                lut_rows.append(
                    (c, s, j, float(((qs - CB[s][j]) ** 2).sum()))
                )
    lut = spark.createDataFrame(
        lut_rows, "cluster int, sub_id int, code int, t double"
    )
    member_codes = (
        codes.select(id_col, "sub_id", "code")
        .join(assigned.select(id_col, "cluster"), id_col)
        .filter(F.col("cluster").isin(probed))
        .filter(F.col(id_col) != query_id)
    )
    adc = (
        member_codes.join(F.broadcast(lut), ["cluster", "sub_id", "code"])
        .groupBy(id_col, "cluster")
        .agg(F.sum("t").alias("adc_dist"))
        .orderBy("adc_dist", id_col)
        .limit(shortlist)
    )
    qlit = F.array(*[F.lit(float(x)) for x in qv])
    exact = F.aggregate(
        F.zip_with(
            to_double(F.col(vec_col)), qlit, lambda a, b: (a - b) * (a - b)
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    out = (
        adc.join(emb.select(id_col, vec_col), id_col)
        .select(F.col(id_col), "cluster", "adc_dist", exact.alias("exact_dist"))
        .orderBy("exact_dist", id_col)
        .limit(topk)
    )
    if return_debug:
        return out, assigned, centroids, codebooks, probed, codes
    return out


# ---------------------------------------------------------------------------
# BATCH multi-query ANN serving (round-7): a production pipeline
# scores a query TABLE, not one vector per driver invocation.
# pq_adc_batch_topk runs ONE plan for Q queries: the per-query ADC
# lookup tables are computed IN-PLAN (query subvectors ⋈ broadcast
# codebook frame, zip_with distances) instead of as driver-side numpy
# literals, so Q scales without Q driver loops; the code scan is the
# true batch-ADC cost O(n·m·Q) with map-side partial aggregation,
# per-query shortlists via one window, exact re-rank against the
# broadcast query vectors.
# ---------------------------------------------------------------------------
def pq_adc_batch_topk(
    emb: DataFrame,
    codebooks,
    query_ids,
    dim: int = 64,
    m: int = 8,
    shortlist: int = 50,
    topk: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Batch ADC top-k over a query id list, one plan for all queries.

    Returns (q_id, id, adc_dist, exact_dist, rank) with rank 1..topk
    per query by exact distance: the query's m×k ADC lookup table
    scores every code row, and the ADC shortlist is re-ranked by EXACT
    distance over full vectors (per query identical to a one-query ADC
    scan, property-pinned by
    tests/test_analytics_props.py::test_pq_batch_matches_single).

    This is the IN-QUERY form: it materializes the codebook frame from
    the Python tensor and encodes the corpus inline. The production
    build-once/serve-many form is :func:`pq_adc_batch_serve`, which
    takes the two PERSISTED index artifacts (codebook frame + codes
    frame) instead — both share the serving core verbatim.
    """
    spark = emb.sparkSession
    k_codes = len(codebooks[0])
    cbdf = spark.createDataFrame(
        [
            (s, j, [float(x) for x in codebooks[s][j]])
            for s in range(m)
            for j in range(k_codes)
        ],
        "sub_id int, code int, centroid array<double>",
    )
    codes = pq_encode(emb, codebooks, dim, m, id_col, vec_col)
    return pq_adc_batch_serve(
        emb, cbdf, codes, query_ids,
        dim=dim, m=m, shortlist=shortlist, topk=topk,
        id_col=id_col, vec_col=vec_col,
    )


def pq_adc_batch_serve(
    emb: DataFrame,
    codebook_df: DataFrame,
    codes: DataFrame,
    query_ids,
    dim: int = 64,
    m: int = 8,
    shortlist: int = 50,
    topk: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """ADC batch serving from PERSISTED index artifacts.

    ``codebook_df``: (sub_id, code, centroid array<double>) — the m×k
    codebook rows as read back from the index table; ``codes``: the
    encoded corpus (id, sub_id, code) as read back from the codes
    table. NO fitting or encoding happens here — the plan touches raw
    vectors only for the Q query rows (LUT construction) and the
    per-query exact-rerank shortlist, which is exactly the production
    serve cost: at 100 TB the codes table (~m bytes/vector) is the
    only corpus-wide scan, and with the codes written bucketed/sorted
    by id the rerank join prunes to shortlist row groups.
    """
    from pyspark.sql import Window

    qids = [int(q) for q in query_ids]
    # per-query LUT rows (q_id, sub_id, code, t) computed in-plan:
    # Q·m·k_codes rows — broadcastable for any sane Q
    sub_d = F.aggregate(
        F.zip_with(
            F.col("subvec"), F.col("centroid"), lambda a, b: (a - b) * (a - b)
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    # r12 NOTE (verdict item 4 — MEASURED AND DECLINED): two rewrites
    # of this ADC core were built bit-identical (exact-equality
    # verified on the full served frame incl. float adc_dist) and both
    # LOST the interleaved 32-core A/B:
    #   v2 — LUT pivoted to one Q-vector row per (sub_id, code), codes
    #        join fan-out ×1 instead of ×Q, groupBy(id) with Q sum
    #        columns: pq_batch_topk med 4.04->4.55 s, pq_index_serve
    #        med 4.35->5.42 s (the pivot exchange + wide agg lose to
    #        the codegen'd fan-out join, the wide-avg Lloyd-means
    #        pathology again);
    #   v3 — LUT as a driver-side literal (no join): med 3.7->7.0 and
    #        4.6->8.5 s (2048-double literal trees per agg column
    #        swamp codegen).
    # The broadcast fan-out join + hash agg below stays (guide §1.1:
    # empirical winner over the "ideal" plan).
    lut = (
        pq_subvectors(
            emb.filter(F.col(id_col).isin(qids)), dim, m, id_col, vec_col
        )
        .withColumnRenamed(id_col, "q_id")
        .join(F.broadcast(codebook_df), "sub_id")
        .select("q_id", "sub_id", "code", sub_d.alias("t"))
    )
    adc = (
        codes.select(id_col, "sub_id", "code")
        .join(F.broadcast(lut), ["sub_id", "code"])
        .filter(F.col(id_col) != F.col("q_id"))
        .groupBy("q_id", id_col)
        .agg(F.sum("t").alias("adc_dist"))
    )
    # two-phase shortlist (the embedding_dim_truncation_recall
    # pattern): prune to the per-(query, input-partition) top-K first —
    # Q×P window groups spread over every core — then rank the tiny
    # survivor set per query. Lossless: each partition's local top-K
    # is a superset of its contribution to the global top-K, and both
    # phases order by (adc_dist, id) so ties resolve identically to
    # the single-window form.
    pid = adc.withColumn("__pid", F.spark_partition_id())
    w_pre = Window.partitionBy("q_id", "__pid").orderBy("adc_dist", id_col)
    pruned = (
        pid.withColumn("__rn", F.row_number().over(w_pre))
        .filter(F.col("__rn") <= shortlist)
        .drop("__pid", "__rn")
    )
    w_short = Window.partitionBy("q_id").orderBy("adc_dist", id_col)
    short = (
        pruned.withColumn("__rn", F.row_number().over(w_short))
        .filter(F.col("__rn") <= shortlist)
        .drop("__rn")
    )
    qvecs = emb.filter(F.col(id_col).isin(qids)).select(
        F.col(id_col).alias("q_id"), to_double(F.col(vec_col)).alias("__qv")
    )
    exact = F.aggregate(
        F.zip_with(
            to_double(F.col(vec_col)), F.col("__qv"), lambda a, b: (a - b) * (a - b)
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    w_rank = Window.partitionBy("q_id").orderBy("exact_dist", id_col)
    return (
        short.join(emb.select(id_col, vec_col), id_col)
        .join(F.broadcast(qvecs), "q_id")
        .select("q_id", F.col(id_col), "adc_dist", exact.alias("exact_dist"))
        .withColumn("rank", F.row_number().over(w_rank))
        .filter(F.col("rank") <= topk)
    )
