"""Independent-oracle property tests for the late-round analytic ops:
numpy / pure-Python recomputation (a THIRD implementation, independent
of both the Spark plan and the DuckDB twin) must agree exactly."""

from __future__ import annotations

import math

import numpy as np

from epl_cas_etl_2026_spark.plans.extensions import (
    events_robust_outliers_mad,
    events_user_ewma_dyadic,
    lineitem_ols_price_on_qty,
)
from epl_cas_etl_2026_spark.sources.parquet import load_table
from tests.conftest import SF_SMOKE as SF


def test_ols_matches_numpy_lstsq(spark):
    rows = lineitem_ols_price_on_qty(spark, SF).collect()
    li = load_table(spark, SF, "lineitem").select(
        "l_returnflag", "l_quantity", "l_extendedprice"
    ).toPandas()
    li["q"] = np.floor(li["l_quantity"].astype(float) + 0.5).astype(np.int64)
    li["y"] = np.floor(li["l_extendedprice"].astype(float) + 0.5).astype(
        np.int64
    )
    assert rows
    for r in rows:
        g = li[li["l_returnflag"] == r["l_returnflag"]]
        slope, intercept = np.polyfit(g["q"], g["y"], 1)
        # quantization boundary tolerance: polyfit solves by SVD, the
        # query by normal equations — agree to ~1e-6 relative, so the
        # scaled ints match within 1
        assert abs(r["slope_micro"] - round(slope * 1e6)) <= 1
        assert abs(r["intercept_milli"] - round(intercept * 1e3)) <= 1
        rho = np.corrcoef(g["q"], g["y"])[0, 1]
        assert abs(r["r2_ppm"] - round(rho * rho * 1e6)) <= 2
        assert r["n"] == len(g)


def test_mad_matches_numpy_median(spark):
    rows = events_robust_outliers_mad(spark, SF).collect()
    ev = load_table(spark, SF, "events").select(
        "event_type", "value"
    ).toPandas()
    ev["cents"] = np.floor(ev["value"].astype(float) * 100 + 0.5).astype(
        np.int64
    )
    assert rows
    for r in rows:
        x = ev[ev["event_type"] == r["event_type"]]["cents"].to_numpy()
        med = np.median(x)
        mad = np.median(np.abs(x - med))
        assert r["med_x2"] == round(med * 2)
        assert r["mad_x4"] == round(mad * 4)
        assert r["n_outliers"] == int(np.sum(np.abs(x - med) > 3 * mad))


def test_ewma_matches_python_recursion(spark):
    out = {
        (r["user_id"], r["event_id"]): r["ewma_milli"]
        for r in events_user_ewma_dyadic(spark, SF).collect()
    }
    ev = (
        load_table(spark, SF, "events")
        .select("user_id", "event_id", "ts", "value")
        .toPandas()
        .sort_values(["user_id", "ts", "event_id"])
    )
    assert out
    checked = 0
    for uid, g in ev.groupby("user_id"):
        cents = [
            math.floor(v * 100 + 0.5) for v in g["value"].astype(float)
        ]
        eids = list(g["event_id"])
        for t in range(len(cents)):
            lo = max(0, t - 15)
            win = cents[lo : t + 1]
            k = len(win)
            num = sum(x * 2.0 ** (i + 1 - k) for i, x in enumerate(win))
            ewma = num / (2.0 - 2.0 ** (1 - k))
            assert out[(uid, eids[t])] == math.floor(ewma * 1000 + 0.5)
            checked += 1
    assert checked == len(out)


def test_pq_adc_recall_and_monotone_mse(spark):
    """PQ properties: (a) training reduces quantization error vs the
    init codebooks (Lloyd's is monotone per subspace); (b) the
    ADC-shortlist + exact-rerank top-10 recovers most of the true
    exact-distance top-10 on the clustered fixture."""
    import numpy as np

    from epl_cas_etl_2026_spark.operators.similarity import (
        pq_encode,
        pq_fit,
        to_double,
    )
    from pyspark.sql import functions as F
    from tests.baselines import pq_adc_topk

    emb = load_table(spark, SF, "embeddings")
    # init codebooks = subvectors of rows 0..15 (what pq_fit starts from)
    init_rows = (
        emb.filter(F.col("vec_id") < 16)
        .orderBy("vec_id")
        .select(to_double(F.col("embedding")).alias("v"))
        .collect()
    )
    init_cb = [
        [list(r["v"][s * 8 : (s + 1) * 8]) for r in init_rows]
        for s in range(8)
    ]
    cb = pq_fit(emb, dim=64, m=8, k=16, iters=2)

    def mse(codebooks):
        return (
            pq_encode(emb, codebooks, dim=64, m=8)
            .agg(F.sum("sq_dist").alias("s"))
            .collect()[0]["s"]
        )

    assert mse(cb) <= mse(init_cb) + 1e-9

    approx = {
        r["vec_id"]
        for r in pq_adc_topk(
            emb, cb, query_id=0, dim=64, m=8, shortlist=100, topk=10
        ).collect()
    }
    vecs = emb.select("vec_id", "embedding").collect()
    q = np.asarray(
        [r["embedding"] for r in vecs if r["vec_id"] == 0][0], dtype=float
    )
    exact = sorted(
        (
            (float(((np.asarray(r["embedding"], dtype=float) - q) ** 2).sum()),
             r["vec_id"])
            for r in vecs
            if r["vec_id"] != 0
        )
    )[:10]
    true10 = {vid for _, vid in exact}
    # measured 10/10 at shortlist=100 on this fixture; ≥8 leaves noise
    # margin while still proving the ADC ordering is informative
    assert len(approx & true10) >= 8


def test_greedy_pair_merge_edge_cases(spark):
    """The BPE fold's greedy rule on crafted streams, vs a pure-Python
    greedy scan."""
    from pyspark.sql import functions as F

    from epl_cas_etl_2026_spark.functions.text import greedy_pair_merge

    cases = [
        (["a", "b", "a", "a", "b"], ("a", "b")),
        (["a", "a", "a"], ("a", "a")),
        (["a", "a", "a", "a"], ("a", "a")),
        (["b", "a", "b"], ("a", "b")),
        ([], ("a", "b")),
        (["x"], ("a", "b")),
        (["a", "b", "b"], ("a", "b")),
    ]

    def py_greedy(ws, w1, w2):
        out, i = [], 0
        while i < len(ws):
            if i + 1 < len(ws) and ws[i] == w1 and ws[i + 1] == w2:
                out.append(f"{w1}_{w2}")
                i += 2
            else:
                out.append(ws[i])
                i += 1
        return out

    df = spark.createDataFrame(
        [(i, ws, p[0], p[1]) for i, (ws, p) in enumerate(cases)],
        "i int, w array<string>, w1 string, w2 string",
    )
    got = {
        r["i"]: r["m"]
        for r in df.select(
            "i",
            greedy_pair_merge(
                F.col("w"),
                F.col("w1"),
                F.col("w2"),
                F.concat_ws("_", F.col("w1"), F.col("w2")),
            ).alias("m"),
        ).collect()
    }
    for i, (ws, (w1, w2)) in enumerate(cases):
        assert got[i] == py_greedy(ws, w1, w2), (i, ws)


def test_folds_randomized_against_python(spark):
    """200 seeded random token streams for the pair-merge fold, all
    checked in ONE Spark job — broad coverage of merge edge
    interactions (runs of equal tokens, singletons) beyond the crafted
    cases above."""
    import random

    from pyspark.sql import functions as F

    from epl_cas_etl_2026_spark.functions.text import greedy_pair_merge

    rng = random.Random(42)
    merge_cases = []
    for i in range(200):
        ws = [rng.choice("abc") for _ in range(rng.randint(0, 12))]
        w1, w2 = rng.choice("abc"), rng.choice("abc")
        merge_cases.append((i, ws, w1, w2))

    def py_greedy(ws, w1, w2):
        out, i = [], 0
        while i < len(ws):
            if i + 1 < len(ws) and ws[i] == w1 and ws[i + 1] == w2:
                out.append(f"{w1}_{w2}")
                i += 2
            else:
                out.append(ws[i])
                i += 1
        return out

    df = spark.createDataFrame(
        merge_cases, "i int, w array<string>, w1 string, w2 string"
    )
    got = {
        r["i"]: r["m"]
        for r in df.select(
            "i",
            greedy_pair_merge(
                F.col("w"),
                F.col("w1"),
                F.col("w2"),
                F.concat_ws("_", F.col("w1"), F.col("w2")),
            ).alias("m"),
        ).collect()
    }
    for i, ws, w1, w2 in merge_cases:
        assert got[i] == py_greedy(ws, w1, w2), (i, ws, w1, w2)


def test_ivfpq_recall_and_probe_discipline(spark):
    """IVF-PQ end-to-end (operators/similarity.ivfpq_topk): with half
    the lists probed and a generous ADC shortlist, the served top-10
    must recover most of the GLOBAL exact top-10 on the clustered
    fixture, and every served row must come from a probed list. Recall
    lives here, not in the gate: a hard recall bound in the gated
    output would break on a testdata regeneration without a code bug."""
    from pyspark.sql import functions as F

    from epl_cas_etl_2026_spark.operators.similarity import ivfpq_topk

    emb = load_table(spark, SF, "embeddings")
    out, assigned, centroids, codebooks, probed, codes = ivfpq_topk(
        emb, nprobe=4, shortlist=100, topk=10, return_debug=True
    )
    rows = out.collect()
    assert all(r["cluster"] in probed for r in rows)
    served = {r["vec_id"] for r in rows}
    vecs = emb.select("vec_id", "embedding").collect()
    q = np.asarray(
        [r["embedding"] for r in vecs if r["vec_id"] == 0][0], dtype=float
    )
    exact = sorted(
        (
            (
                float(((np.asarray(r["embedding"], dtype=float) - q) ** 2).sum()),
                r["vec_id"],
            )
            for r in vecs
            if r["vec_id"] != 0
        )
    )[:10]
    true10 = {vid for _, vid in exact}
    # measured 10/10 at nprobe=4/shortlist=100 on this fixture; >= 8
    # leaves noise margin while proving probe selection + residual ADC
    # ordering are informative
    assert len(served & true10) >= 8
    # exact_dist column really is the exact squared distance
    by_id = {r["vec_id"]: r["exact_dist"] for r in rows}
    for vid, ed in by_id.items():
        v = np.asarray(
            [r["embedding"] for r in vecs if r["vec_id"] == vid][0],
            dtype=float,
        )
        assert abs(float(((v - q) ** 2).sum()) - ed) < 1e-6


# --------------------------------------------------------------------------
# Round-6 ops: benchmark decontamination, Efraimidis-Spirakis weighted
# sampling, KMV/theta distinct-intersection sketch.
# --------------------------------------------------------------------------
def _md5_prefix_int(val, nhex: int) -> int:
    import hashlib

    return int(hashlib.md5(str(val).encode()).hexdigest()[:nhex], 16)


def test_decontaminate_matches_pure_python(spark):
    from epl_cas_etl_2026_spark.plans.extensions import (
        docs_benchmark_decontaminate,
    )

    rows = {
        r["source"]: r
        for r in docs_benchmark_decontaminate(spark, SF).collect()
    }
    docs = load_table(spark, SF, "documents").select(
        "doc_id", "source", "text"
    ).toPandas()
    grams = {
        d: {
            " ".join(w[i : i + 3])
            for i in range(len(w) - 2)
        }
        for d, w in zip(
            docs["doc_id"], (t.split(" ") for t in docs["text"])
        )
    }
    bench = set().union(
        *(g for d, g in grams.items() if d % 97 == 0), set()
    )
    by_source: dict = {}
    for d, src in zip(docs["doc_id"], docs["source"]):
        if d % 97 == 0:
            continue
        n, c = by_source.get(src, (0, 0))
        by_source[src] = (n + 1, c + bool(grams[d] & bench))
    assert set(rows) == set(by_source)
    for src, (n, c) in by_source.items():
        assert rows[src]["n_docs"] == n
        assert rows[src]["n_contaminated"] == c
        assert rows[src]["n_clean"] == n - c


def test_weighted_sample_matches_numpy(spark):
    from epl_cas_etl_2026_spark.plans.extensions import (
        _ES_K,
        orders_weighted_sample_noreplace,
    )

    picked = [
        r["o_orderkey"]
        for r in orders_weighted_sample_noreplace(spark, SF).collect()
    ]
    orders = load_table(spark, SF, "orders").select(
        "o_orderkey", "o_totalprice"
    ).toPandas()
    keys = np.array(
        [
            math.log((_md5_prefix_int(k, 8) + 0.5) / 2**32) / float(w)
            for k, w in zip(orders["o_orderkey"], orders["o_totalprice"])
        ]
    )
    k = min(_ES_K, len(orders))
    top = orders["o_orderkey"].to_numpy()[np.argsort(-keys)[:k]]
    assert sorted(picked) == sorted(top.tolist())
    # the point of weighting: the sample's mean weight must exceed the
    # population's (price-weighted inclusion probabilities)
    pop_mean = float(orders["o_totalprice"].astype(float).mean())
    samp_mean = float(
        orders[orders["o_orderkey"].isin(picked)]["o_totalprice"]
        .astype(float)
        .mean()
    )
    assert samp_mean > pop_mean


def test_kmv_estimate_bounds_and_partition_invariance(spark):
    from epl_cas_etl_2026_spark.plans.sketches import (
        KMV_K,
        events_kmv_theta_intersection,
    )
    from tests.conftest import SF_ORACLE

    rows = events_kmv_theta_intersection(spark, SF_ORACLE).collect()
    assert rows
    for r in rows:
        if r["n_in_sketch"] < KMV_K and "&" not in r["entity"]:
            # exact mode: estimator IS the count
            assert r["est_distinct"] == r["n_in_sketch"]
        if r["exact_distinct"] > 0:
            rel = abs(r["est_distinct"] - r["exact_distinct"]) / r[
                "exact_distinct"
            ]
            # RSE ~ 1/sqrt(K-1) = 12.6%; intersection noisier — 3 sigma
            bound = 0.4 if "&" in r["entity"] else 0.38
            assert rel <= bound, (r, rel)
    # k-minima form a semilattice: the partial-sketch merge must be
    # invariant to how the input is partitioned
    import hashlib

    from pyspark.sql import functions as F

    from epl_cas_etl_2026_spark.plans.sketches import (
        _KMV_FILTER,
        _kmv_partition_minima,
    )

    ev = load_table(spark, SF_ORACLE, "events").filter(F.expr(_KMV_FILTER))
    h32 = F.conv(
        F.substring(F.md5(F.col("user_id").cast("string")), 1, 8), 16, 10
    ).cast("long")
    hashed = ev.select("event_type", h32.alias("h"))
    sketches = []
    for parts in (1, 7):
        kept = (
            hashed.repartition(parts)
            .mapInPandas(_kmv_partition_minima, "event_type string, h long")
            .distinct()
            .toPandas()
            .sort_values(["event_type", "h"])
            .groupby("event_type")["h"]
            .apply(lambda s: tuple(s.head(KMV_K)))
        )
        sketches.append(dict(kept))
    assert sketches[0] == sketches[1]
    # cross-check the hash primitive against hashlib
    sample = ev.select("user_id", h32.alias("h")).limit(20).collect()
    assert sample
    for r in sample:
        assert r["h"] == _md5_prefix_int(r["user_id"], 8)


def test_stratified_weighted_sample_matches_numpy(spark):
    from epl_cas_etl_2026_spark.plans.extensions import (
        _ES_STRAT_K,
        docs_stratified_weighted_sample,
    )

    got: dict = {}
    for r in docs_stratified_weighted_sample(spark, SF).collect():
        got.setdefault(r["lang"], []).append(r["doc_id"])
    docs = load_table(spark, SF, "documents").select(
        "lang", "doc_id", "n_chars"
    ).toPandas()
    docs["key"] = [
        math.log((_md5_prefix_int(d, 8) + 0.5) / 2**32) / float(w)
        for d, w in zip(docs["doc_id"], docs["n_chars"])
    ]
    for lang, grp in docs.groupby("lang"):
        order = np.lexsort((grp["doc_id"].values, -grp["key"].values))
        want = sorted(
            grp["doc_id"].values[order[:_ES_STRAT_K]].tolist()
        )
        assert got[lang] == want, lang
    # partial top-k is a semilattice: result invariant to partitioning
    from pyspark.sql import functions as F

    from epl_cas_etl_2026_spark.plans.extensions import _es_partition_topk

    h32 = F.conv(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10
    ).cast("long")
    keyed = load_table(spark, SF, "documents").select(
        "lang",
        "doc_id",
        (
            F.log((h32 + F.lit(0.5)) / F.lit(float(2**32)))
            / F.col("n_chars").cast("double")
        ).alias("es_key"),
    )
    outs = []
    for parts in (1, 5):
        pdf = (
            keyed.repartition(parts)
            .mapInPandas(
                _es_partition_topk, "lang string, doc_id long, es_key double"
            )
            .toPandas()
        )
        top = {
            lang: sorted(
                grp.sort_values(
                    ["es_key", "doc_id"], ascending=[False, True]
                )["doc_id"]
                .head(_ES_STRAT_K)
                .tolist()
            )
            for lang, grp in pdf.groupby("lang")
        }
        outs.append(top)
    assert outs[0] == outs[1]


def test_jl_projection_matches_numpy_and_preserves_distances(spark):
    from epl_cas_etl_2026_spark.plans.extensions import (
        _JL_K,
        _JL_S,
        embedding_jl_projection,
    )

    rows = embedding_jl_projection(spark, SF).collect()
    assert rows
    got: dict = {}
    for r in rows:
        got.setdefault(r["vec_id"], [0] * _JL_K)[r["dim_id"]] = r[
            "proj_micro"
        ]
    emb = load_table(spark, SF, "embeddings").toPandas()
    S = np.array(_JL_S, dtype=np.float64)  # k x d
    P: dict = {}
    for vid, v in zip(emb["vec_id"], emb["embedding"]):
        if vid % 7 != 0:
            continue
        p = S @ np.asarray(v, dtype=np.float64) / 4.0
        P[vid] = p
        want = np.floor(p * 1e6 + 0.5).astype(np.int64)
        # numpy matmul sums pairwise; the query folds sequentially —
        # agree to the last ulp of the double, so the micro ints
        # match within 1
        assert np.max(np.abs(np.array(got[vid]) - want)) <= 1, vid
    # JL property (loose — k=16 is a noisy projection): squared-
    # distance ratios concentrate around 1
    orig = {
        vid: np.asarray(v, dtype=np.float64)
        for vid, v in zip(emb["vec_id"], emb["embedding"])
        if vid % 7 == 0
    }
    ids = sorted(orig)[:20]
    ratios = []
    for i in range(len(ids)):
        for j in range(i + 1, len(ids)):
            a, b = ids[i], ids[j]
            d0 = float(((orig[a] - orig[b]) ** 2).sum())
            d1 = float(((P[a] - P[b]) ** 2).sum())
            if d0 > 0:
                ratios.append(d1 / d0)
    assert ratios
    med = float(np.median(ratios))
    assert 0.4 <= med <= 2.5, med


def test_bloom_novelty_matches_pure_python(spark):
    import hashlib

    from epl_cas_etl_2026_spark.plans.extensions import (
        _BLOOM_HASHES,
        _BLOOM_M,
        docs_bloom_novelty_check,
    )

    row = docs_bloom_novelty_check(spark, SF).collect()[0]
    docs = load_table(spark, SF, "documents").select(
        "doc_id", "text"
    ).toPandas()

    def positions(text: str):
        inner = hashlib.md5(text.encode()).hexdigest()
        return {
            int(
                hashlib.md5(f"{h}:{inner}".encode()).hexdigest()[:8], 16
            )
            % _BLOOM_M
            for h in range(1, _BLOOM_HASHES + 1)
        }

    hist = docs[docs["doc_id"] % 3 != 0]
    batch = docs[docs["doc_id"] % 3 == 0]
    bits: set = set()
    for t in hist["text"]:
        bits |= positions(t)
    hist_texts = set(hist["text"])
    n_flagged = sum(
        1 for t in batch["text"] if positions(t) <= bits
    )
    n_exact = sum(1 for t in batch["text"] if t in hist_texts)
    assert row["n_batch"] == len(batch)
    assert row["n_exact_dup"] == n_exact
    assert row["n_flagged"] == n_flagged
    assert row["n_false_positives"] == n_flagged - n_exact
    assert row["no_false_negatives"] is True
    assert row["n_set_bits"] == len(bits)


def test_k_anonymity_audit_matches_pandas(spark):
    from epl_cas_etl_2026_spark.plans.extensions import (
        _KANON_K,
        _KANON_L,
        customers_k_anonymity_audit,
    )

    row = customers_k_anonymity_audit(spark, SF).collect()[0]
    c = load_table(spark, SF, "customer").select(
        "c_nationkey", "c_mktsegment", "c_acctbal"
    ).toPandas()
    c["sens"] = np.where(
        c["c_acctbal"].astype(float) < 0,
        "neg",
        np.where(c["c_acctbal"].astype(float) < 5000, "mid", "high"),
    )
    g = c.groupby(["c_nationkey", "c_mktsegment"]).agg(
        n=("sens", "size"), l_div=("sens", "nunique")
    )
    assert row["n_rows"] == len(c)
    assert row["n_groups"] == len(g)
    assert row["min_group_size"] == int(g["n"].min())
    assert row["n_groups_below_k"] == int((g["n"] < _KANON_K).sum())
    assert row["n_rows_below_k"] == int(g.loc[g["n"] < _KANON_K, "n"].sum())
    assert row["n_groups_below_l"] == int((g["l_div"] < _KANON_L).sum())
    assert row["anonymity_ok"] == bool(
        (g["n"] >= _KANON_K).all() and (g["l_div"] >= _KANON_L).all()
    )


def _py_coin(a: int, b: int) -> bool:
    """Pure-Python third implementation of the DOULION edge coin."""
    import hashlib

    from epl_cas_etl_2026_spark.plans.extensions import _DLN_DEN, _DLN_SEED

    h = hashlib.md5(f"{a}|{b}|{_DLN_SEED}".encode()).hexdigest()[:8]
    return int(h, 16) % _DLN_DEN == 0


def test_doulion_matches_python_and_unbiased_identity(spark):
    """Third implementation of the DOULION sparsified triangle count
    (pure-Python coin + set-intersection counting) must agree EXACTLY
    with the Spark degree-ordered enumeration, and the published
    estimate must be exactly n_tri_sampled x inv_p^3."""
    from epl_cas_etl_2026_spark.operators.dedup import simhash_near_dup_pairs
    from epl_cas_etl_2026_spark.plans.extensions import (
        _DLN_DEN,
        _DLN_SEED,
        docs_near_dup_triangles_doulion,
    )

    row = docs_near_dup_triangles_doulion(spark, SF).collect()[0]
    assert row["est_triangles"] == row["n_tri_sampled"] * _DLN_DEN**3
    assert row["inv_p"] == _DLN_DEN

    docs = load_table(spark, SF, "documents")
    edges = [
        (r["id_a"], r["id_b"])
        for r in simhash_near_dup_pairs(docs, max_hamming=3)
        .select("id_a", "id_b")
        .collect()
    ]
    assert len(edges) == row["n_edges_full"]
    sampled = [(a, b) for a, b in edges if _py_coin(a, b)]
    assert len(sampled) == row["n_edges_sampled"]
    adj: dict[int, set[int]] = {}
    for a, b in sampled:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    # each triangle is counted once per incident edge -> /3
    tri = sum(len(adj[a] & adj[b]) for a, b in sampled) // 3
    assert row["n_tri_sampled"] == tri


def test_doulion_accuracy_on_planted_cliques(spark):
    """Estimator accuracy on a SEEDED planted-clique graph (robust to
    testdata regeneration): 40 disjoint 12-cliques = 40*C(12,3) = 8800
    triangles; the deterministic 1-in-10 coin's estimate must land
    within 35% (the fixed coin makes this a deterministic assertion,
    not a flake)."""
    from pyspark.sql import functions as F

    from epl_cas_etl_2026_spark.plans.extensions import _DLN_DEN

    edges = []
    for c in range(40):
        ids = [c * 30 + i for i in range(30)]
        edges += [(a, b) for i, a in enumerate(ids) for b in ids[i + 1:]]
    exact = 40 * (30 * 29 * 28 // 6)
    sampled = [(a, b) for a, b in edges if _py_coin(a, b)]
    adj: dict[int, set[int]] = {}
    for a, b in sampled:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    est = (
        sum(len(adj[a] & adj[b]) for a, b in sampled) // 3 * _DLN_DEN**3
    )
    assert abs(est - exact) / exact < 0.35


def test_pq_batch_matches_single(spark):
    """pq_adc_batch_topk must serve, per query, EXACTLY what the
    single-query pq_adc_topk serves with the same codebooks — the
    batch form is a plan restructuring, not a semantics change."""
    from epl_cas_etl_2026_spark.operators.similarity import (
        pq_adc_batch_topk,
        pq_fit,
    )
    from tests.baselines import pq_adc_topk

    emb = load_table(spark, SF, "embeddings")
    dim, m, k_codes = 64, 8, 16
    codebooks = pq_fit(emb, dim=dim, m=m, k=k_codes, iters=2)
    qids = [r["vec_id"] for r in emb.filter("vec_id < 16").collect()]
    assert len(qids) == 16
    batch = (
        pq_adc_batch_topk(
            emb, codebooks, qids, dim=dim, m=m, shortlist=50, topk=10
        )
        .collect()
    )
    by_q: dict[int, list] = {}
    for r in batch:
        by_q.setdefault(r["q_id"], []).append(r)
    for q in qids[:4] + qids[-2:]:  # 6-query sample: each ~1 plan
        single = pq_adc_topk(
            emb, codebooks, query_id=q, dim=dim, m=m, shortlist=50, topk=10
        ).collect()
        got = sorted(by_q.get(q, []), key=lambda r: r["rank"])
        assert [r["vec_id"] for r in got] == [r["vec_id"] for r in single]
        for g, s in zip(got, single):
            assert abs(g["adc_dist"] - s["adc_dist"]) < 1e-9
            assert abs(g["exact_dist"] - s["exact_dist"]) < 1e-9


def test_holt_matches_python_state_recursion(spark):
    """Third implementation for events_user_holt_dyadic: run the
    Holt STATE recurrence (l, b) directly in Python over the same
    trailing windows — not the unrolled weight matrix the query and
    its oracle share — so a derivation bug in _holt_weights cannot
    pass unnoticed just because both engines embed the same
    literals."""
    from epl_cas_etl_2026_spark.plans.extensions import (
        events_user_holt_dyadic,
    )

    out = {
        (r["user_id"], r["event_id"]): r["holt_milli"]
        for r in events_user_holt_dyadic(spark, SF).collect()
    }
    ev = (
        load_table(spark, SF, "events")
        .select("user_id", "event_id", "ts", "value")
        .toPandas()
        .sort_values(["user_id", "ts", "event_id"])
    )
    assert out
    checked = 0
    for uid, g in ev.groupby("user_id"):
        cents = [
            math.floor(v * 100 + 0.5) for v in g["value"].astype(float)
        ]
        eids = list(g["event_id"])
        for t in range(len(cents)):
            win = cents[max(0, t - 15) : t + 1]
            lv, bv = float(win[0]), 0.0
            for x in win[1:]:
                nl = x / 2.0 + (lv + bv) / 2.0
                bv = (nl - lv) / 2.0 + bv / 2.0
                lv = nl
            assert out[(uid, eids[t])] == math.floor(
                (lv + bv) * 10 + 0.5
            ), (uid, eids[t])
            checked += 1
    assert checked == len(out)


def test_fleiss_kappa_matches_textbook_python(spark):
    """Third implementation for orders_label_fleiss_kappa: textbook
    Fleiss from the raw pandas rating matrix."""
    from epl_cas_etl_2026_spark.plans.dataprep import (
        _FLEISS_N,
        orders_label_fleiss_kappa,
    )

    row = orders_label_fleiss_kappa(spark, SF).collect()[0]
    li = (
        load_table(spark, SF, "lineitem")
        .select("l_orderkey", "l_returnflag")
        .toPandas()
    )
    mat = li.groupby(["l_orderkey", "l_returnflag"]).size().unstack(
        fill_value=0
    )
    mat = mat[mat.sum(axis=1) == _FLEISS_N]
    N, n = len(mat), _FLEISS_N
    assert row["n_items"] == N and row["n_raters"] == n
    p_bar = (float((mat**2).to_numpy().sum()) - N * n) / (N * n * (n - 1))
    p_j = mat.sum(axis=0).to_numpy(dtype=float) / (N * n)
    p_e = float((p_j**2).sum())
    kappa = (p_bar - p_e) / (1 - p_e)
    assert abs(row["p_bar_ppm"] / 1e6 - p_bar) < 2e-6
    assert abs(row["p_e_ppm"] / 1e6 - p_e) < 2e-6
    assert abs(row["kappa_ppm"] / 1e6 - kappa) < 2e-6


def test_ann_recall_curve_matches_numpy(spark):
    """Third implementation for embedding_ann_recall_curve: exact and
    multiprobe rankings recomputed in numpy from the raw vectors."""
    from epl_cas_etl_2026_spark.plans.extensions import (
        _RECALL_KS,
        embedding_ann_recall_curve,
    )

    got = {
        r["k"]: (r["n_queries"], r["recall_ppm"])
        for r in embedding_ann_recall_curve(spark, SF).collect()
    }
    emb = load_table(spark, SF, "embeddings").toPandas()
    V = np.stack(
        emb.sort_values("vec_id")["embedding"].map(np.asarray).to_numpy()
    ).astype(np.float64)
    ids = emb.sort_values("vec_id")["vec_id"].to_numpy()
    buckets = np.array(
        [sum((1 << i) for i in range(6) if v[i] >= 0) for v in V]
    )
    nq = int((ids < 16).sum())
    hits = {k: 0 for k in _RECALL_KS}
    norms = np.sqrt((V * V).sum(axis=1))
    for qpos in np.flatnonzero(ids < 16):
        sims = np.round(
            (V @ V[qpos]) / (norms * norms[qpos]), 6
        )
        mask = ids != ids[qpos]
        order = sorted(
            np.flatnonzero(mask), key=lambda i: (-sims[i], ids[i])
        )
        exact = [ids[i] for i in order[:10]]
        probed = [
            i
            for i in order
            if bin(int(buckets[i]) ^ int(buckets[qpos])).count("1") <= 1
        ]
        ann = [ids[i] for i in probed[:10]]
        for k in _RECALL_KS:
            hits[k] += len(set(exact[:k]) & set(ann[:k]))
    for k in _RECALL_KS:
        want = (hits[k] * 1_000_000 + (nq * k) // 2) // (nq * k)
        assert got[k] == (nq, want), (k, got[k], want)


def test_kneser_ney_simplex_and_python_recompute(spark):
    """KN sanity: (1) for every observed context w1 the full-vocab
    probability mass (discounted observed + backoff for the rest)
    sums to exactly 1; (2) per-source millibit sums recomputed in
    pure Python from raw counts match the query."""
    from collections import Counter, defaultdict

    from epl_cas_etl_2026_spark.plans.extensions import (
        _KN_D,
        docs_kneser_ney_bigram,
    )

    got = {
        r["source"]: (r["n_docs_scored"], r["sum_millibits"])
        for r in docs_kneser_ney_bigram(spark, SF).collect()
    }
    docs = load_table(spark, SF, "documents").select(
        "doc_id", "source", "text"
    ).toPandas()
    pair: Counter = Counter()
    transitions = []
    for _, row in docs.iterrows():
        ws = [w for w in row["text"].split(" ") if w != ""]
        bgs = list(zip(ws[:-1], ws[1:]))
        pair.update(bgs)
        transitions.append((row["doc_id"], row["source"], bgs))
    ch: Counter = Counter()
    n1f: Counter = Counter()
    n1b: Counter = Counter()
    for (w1, w2), c in pair.items():
        ch[w1] += c
        n1f[w1] += 1
        n1b[w2] += 1
    T = len(pair)

    def p_kn(w1, w2):
        return max(pair[(w1, w2)] - _KN_D, 0.0) / ch[w1] + (
            _KN_D * n1f[w1] / ch[w1]
        ) * (n1b[w2] / T)

    # (1) simplex: total mass over the continuation-unigram support
    vocab2 = list(n1b)
    for w1 in list(ch)[:5]:
        mass = sum(p_kn(w1, w2) for w2 in vocab2)
        assert abs(mass - 1.0) < 1e-9, (w1, mass)
    # (2) per-source recompute
    want: dict = defaultdict(lambda: [0, 0])
    for doc_id, source, bgs in transitions:
        if not bgs:
            continue
        q = math.floor(
            (-sum(math.log2(p_kn(w1, w2)) for w1, w2 in bgs) / len(bgs))
            * 1000
            + 0.5
        )
        want[source][0] += 1
        want[source][1] += q
    assert got == {s: tuple(v) for s, v in want.items()}


# -- round-10: Q30 fixed-point ln — the documented accuracy bound ---------


def test_lnfp_accuracy_bound_pure_python():
    """plans/extensions._lnfp_steps documents |ln_fp(x)/2^30 - ln(x)|
    < 1.2e-7 for BIGINT x. Replay the integer chain in pure Python
    (truncating division == both engines' div on non-negative
    operands) across the full magnitude range and verify the bound —
    a third implementation of the primitive both JM-LM queries and
    DSIR now score through."""
    import math

    from epl_cas_etl_2026_spark.plans.extensions import (
        _LNFP_LN2,
        _LNFP_ONE,
    )

    def lnfp(x: int) -> int:
        e = x.bit_length() - 1
        if e > 30:
            z = x // (1 << (e - 30))
        elif e < 30:
            z = x * (1 << (30 - e))
        else:
            z = x
        u = ((z - _LNFP_ONE) * _LNFP_ONE) // (z + _LNFP_ONE)
        u2 = (u * u) // _LNFP_ONE
        u3 = (u2 * u) // _LNFP_ONE
        u5 = (u3 * u2) // _LNFP_ONE
        u7 = (u5 * u2) // _LNFP_ONE
        u9 = (u7 * u2) // _LNFP_ONE
        u11 = (u9 * u2) // _LNFP_ONE
        return e * _LNFP_LN2 + 2 * (
            u + u3 // 3 + u5 // 5 + u7 // 7 + u9 // 9 + u11 // 11
        )

    xs = [1, 2, 3, 5, 7, 10, 63, 64, 65, 1023, 1 << 20, (1 << 30) - 1,
          1 << 30, (1 << 30) + 1, 10**12, (1 << 52) + 12345, 2**53]
    # dense pseudo-random coverage, deterministic (no RNG)
    xs += [(37 * k * k + 1009 * k + 7) % (2**53 - 1) + 1
           for k in range(2000)]
    worst = 0.0
    for x in xs:
        err = abs(lnfp(x) / _LNFP_ONE - math.log(x))
        worst = max(worst, err)
    assert worst < 1.2e-7, worst
    # exactness anchors: powers of two hit e*LN2_FP exactly (u = 0)
    for e in (0, 1, 10, 30, 40, 52):
        assert lnfp(1 << e) == e * _LNFP_LN2


def test_lnfp_python_replay_matches_spark_sql(spark):
    """The pure-Python fold above IS the Spark expression chain: build
    the _lnfp_steps SQL on a literal frame and compare bit-for-bit."""
    from pyspark.sql import functions as F

    from epl_cas_etl_2026_spark.plans.extensions import (
        _LNFP_LN2,
        _LNFP_ONE,
        _lnfp_spark_div,
        _lnfp_spark_shl,
        _lnfp_steps,
    )

    def lnfp(x: int) -> int:
        e = x.bit_length() - 1
        z = (x // (1 << (e - 30))) if e > 30 else (
            x * (1 << (30 - e)) if e < 30 else x
        )
        u = ((z - _LNFP_ONE) * _LNFP_ONE) // (z + _LNFP_ONE)
        u2 = (u * u) // _LNFP_ONE
        u3 = (u2 * u) // _LNFP_ONE
        u5 = (u3 * u2) // _LNFP_ONE
        u7 = (u5 * u2) // _LNFP_ONE
        u9 = (u7 * u2) // _LNFP_ONE
        u11 = (u9 * u2) // _LNFP_ONE
        return e * _LNFP_LN2 + 2 * (
            u + u3 // 3 + u5 // 5 + u7 // 7 + u9 // 9 + u11 // 11
        )

    xs = [1, 2, 3, 17, 1000, 65535, (1 << 30) - 1, 1 << 30,
          (1 << 30) + 999, 10**15, 2**53]
    df = spark.createDataFrame([(x,) for x in xs], "v long")
    for name, sql in _lnfp_steps("t_", "v", _lnfp_spark_div,
                                 _lnfp_spark_shl):
        df = df.withColumn(name, F.expr(sql))
    got = {r["v"]: r["t_ln"] for r in df.collect()}
    assert got == {x: lnfp(x) for x in xs}
