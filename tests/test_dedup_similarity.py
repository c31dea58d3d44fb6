"""Unit tests for dedup / similarity / text operators."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from epl_cas_etl_2026_spark.functions.text import quality_class, token_count
from epl_cas_etl_2026_spark.operators.dedup import keep_first_exact, near_dup_pairs
from tests.baselines import connected_components_propagation


@pytest.fixture()
def docs(spark):
    return spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "the quick brown fox jumps over the lazy dog"),  # exact dup
            (3, "the quick brown fox leaps over the lazy dog"),  # near dup
            (4, "completely different text about spark engines"),
            (5, "ab"),  # shorter than shingle width
        ],
        "doc_id long, text string",
    )


def test_exact_dedup(spark, docs):
    kept = keep_first_exact(docs, "doc_id")
    assert sorted(r["doc_id"] for r in kept.collect()) == [1, 3, 4, 5]


def test_near_dup_pipeline_finds_planted_pair(spark, docs):
    # band_size=1 → 16 single-hash bands: recall for the planted pair
    # (shingle-set Jaccard 0.4) is 1-(1-0.4)^16 ≈ 0.9997, and the md5
    # hash family makes the outcome deterministic. The default 4×4
    # banding targets higher-similarity pairs and would miss J=0.4.
    pairs = near_dup_pairs(
        docs, threshold=0.5, use_md5=True, band_size=1
    ).collect()
    got = {(r["id_a"], r["id_b"]) for r in pairs}
    assert (1, 2) in got  # exact dup certainly caught
    assert (1, 3) in got or (2, 3) in got  # near dup shares most shingles
    assert all(a < b for a, b in got)


def test_text_helpers(spark, docs):
    row = docs.filter(F.col("doc_id") == 1).select(
        token_count(F.col("text")).alias("n"),
        quality_class(F.col("text")).alias("q"),
    ).collect()[0]
    assert row["n"] == 9
    assert row["q"] == "keep"
    short = docs.filter(F.col("doc_id") == 5).select(
        quality_class(F.col("text")).alias("q")).collect()[0]
    assert short["q"] == "drop"


def test_minhash_agg_drops_short_docs(spark, docs):
    from epl_cas_etl_2026_spark.operators.dedup import minhash_signature_agg

    sig = minhash_signature_agg(docs, "doc_id", "text", n_hashes=4, use_md5=True)
    ids = sorted(r["doc_id"] for r in sig.collect())
    assert ids == [1, 2, 3, 4]  # doc 5 ("ab") has no 3-shingles
    # identical docs → identical signatures
    rows = {r["doc_id"]: (r["h0"], r["h1"], r["h2"], r["h3"]) for r in sig.collect()}
    assert rows[1] == rows[2]


def test_signbit_bucket_groups_similar_vectors(spark):
    from epl_cas_etl_2026_spark.plans.extensions import _signbits_col
    from epl_cas_etl_2026_spark.functions.vectors import to_double

    vecs = spark.createDataFrame(
        [
            (0, [1.0, 1.0, -1.0, 0.5]),
            (1, [0.9, 1.1, -0.8, 0.4]),   # same orthant as 0
            (3, [-1.0, -1.0, 1.0, -0.5]), # opposite orthant
        ],
        "vec_id long, embedding array<float>",
    )
    b = vecs.select(
        "vec_id",
        _signbits_col(to_double(F.col("embedding")), n_bits=4).alias("bucket"),
    ).collect()
    by = {r["vec_id"]: r["bucket"] for r in b}
    assert by[0] == by[1]  # near-identical directions share a bucket
    assert by[0] != by[3]  # opposite vector lands elsewhere


def test_band_lsh_pairs_finds_planted_near_dup(spark):
    from epl_cas_etl_2026_spark.operators.similarity import (
        band_lsh_pairs,
        hyperplanes,
    )

    base = [1.0, 0.5, -0.3, 0.8, 0.1, -0.9, 0.4, 0.2]
    near = [x * 1.01 + 0.001 for x in base]           # cosine ≈ 1
    anti = [-x for x in base]                          # cosine = -1
    ortho = [0.5, -1.0, 0.3, 0.1, -0.8, 0.2, -0.4, 0.9]
    vecs = spark.createDataFrame(
        [(0, base), (1, near), (2, anti), (3, ortho)],
        "vec_id long, embedding array<double>",
    )
    planes = hyperplanes(8, 32, seed=7)  # 4 bands × 8 bits
    pairs = band_lsh_pairs(
        vecs, planes, n_bands=4, rows_per_band=8, threshold=0.9
    ).collect()
    found = {(r["id_a"], r["id_b"]): r["sim"] for r in pairs}
    assert (0, 1) in found and found[(0, 1)] > 0.99
    assert all(a != 2 and b != 2 for a, b in found)  # anti never passes


def test_band_lsh_calibration_matches_numpy(spark):
    """Third implementation for embedding_lsh_estimate_error's core
    (r11): per candidate pair, est_matches must equal the numpy count
    of agreeing sign bits over ALL planes, and sim the numpy cosine —
    the Spark side computes est from conv/bit_count over band keys,
    the reference from raw projections."""
    import numpy as np

    from epl_cas_etl_2026_spark.operators.similarity import (
        band_lsh_calibration_pairs,
        hyperplanes,
    )

    rng = np.random.default_rng(11)
    n, dim, bands, rows = 40, 8, 8, 4
    V = rng.normal(size=(n, dim))
    # plant a few near-dups so candidates exist at high agreement
    V[1] = V[0] * 1.02 + 0.01
    V[3] = V[2] * 0.98 - 0.005
    planes = hyperplanes(dim, bands * rows, seed=7)
    vecs = spark.createDataFrame(
        [(i, [float(x) for x in V[i]]) for i in range(n)],
        "vec_id long, embedding array<double>",
    )
    got = {
        (r["id_a"], r["id_b"]): (r["est_matches"], r["sim"])
        for r in band_lsh_calibration_pairs(
            vecs, planes, n_bands=bands, rows_per_band=rows
        ).collect()
    }
    assert got, "planted near-dups must produce candidates"
    P = np.asarray(planes)  # (bands*rows) × dim
    bits = (V @ P.T) >= 0  # n × (bands*rows)
    Vn = V / np.linalg.norm(V, axis=1, keepdims=True)
    for (a, b), (est, sim) in got.items():
        assert est == int((bits[a] == bits[b]).sum())
        assert abs(sim - float(Vn[a] @ Vn[b])) < 1e-9
    # the candidate set is exactly the pairs sharing >= 1 whole band
    expect = set()
    for a in range(n):
        for b in range(a + 1, n):
            for k in range(bands):
                s = slice(k * rows, (k + 1) * rows)
                if (bits[a][s] == bits[b][s]).all():
                    expect.add((a, b))
                    break
    assert set(got) == expect


def test_lsh_params_scale_with_n():
    from epl_cas_etl_2026_spark.operators.similarity import lsh_params_for

    b1, r1 = lsh_params_for(1_000)
    b2, r2 = lsh_params_for(1_000_000)
    b3, r3 = lsh_params_for(1_000_000_000)
    # bits per band grow ~log2(n) → buckets per band grow with n,
    # keeping candidate volume ~O(n·b) instead of ~n²/const
    assert r1 < r2 < r3
    assert 2**r3 >= 1_000_000_000 / 2
    # recall is recovered with more bands as r grows
    assert b1 <= b2 <= b3


def test_band_lsh_auto_finds_planted_pair(spark):
    from epl_cas_etl_2026_spark.operators.similarity import band_lsh_pairs_auto

    base = [1.0, 0.5, -0.3, 0.8, 0.1, -0.9, 0.4, 0.2]
    vecs = spark.createDataFrame(
        [(0, base), (1, [x * 1.01 for x in base]), (2, [-x for x in base])],
        "vec_id long, embedding array<double>",
    )
    pairs = band_lsh_pairs_auto(
        vecs, dim=8, threshold=0.9, target_sim=0.95
    ).collect()
    assert {(r["id_a"], r["id_b"]) for r in pairs} == {(0, 1)}


def test_connected_components_long_chain_integral_ids(spark):
    from epl_cas_etl_2026_spark.operators.dedup import connected_components

    # a 6-node path: full propagation needs several rounds; early
    # convergence would leave the tail in a different component
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(5)], "id_a long, id_b long"
    )
    got = {
        r["node"]: r["label"]
        for r in connected_components(edges, max_iter=20).collect()
    }
    assert got == {i: 0 for i in range(6)}


def test_connected_components_string_ids(spark):
    """Non-numeric node ids: the decimal-cast sum convergence trick
    yields NULL sums (None == None → one-round false convergence); the
    operator must fall back to a changed-row check and still fully
    propagate labels down a chain."""
    from epl_cas_etl_2026_spark.operators.dedup import connected_components

    names = ["a", "b", "c", "d", "e", "f"]
    edges = spark.createDataFrame(
        list(zip(names, names[1:])), "id_a string, id_b string"
    )
    comp = connected_components(edges, max_iter=20).collect()
    got = {r["node"]: r["label"] for r in comp}
    assert got == {n: "a" for n in names}


def test_connected_components_star_beats_diameter(spark):
    """The O(log n)-round guarantee: a 60-node path graph (diameter
    59) fully contracts within 8 alternating large-star/small-star
    rounds — min-label propagation at the same budget provably cannot
    (its round count IS the diameter)."""
    from epl_cas_etl_2026_spark.operators.dedup import connected_components

    n = 60
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "id_a long, id_b long"
    )
    got = {
        r["node"]: r["label"]
        for r in connected_components(edges, max_iter=8).collect()
    }
    assert got == {i: 0 for i in range(n)}
    # the diameter-bounded baseline genuinely needs more rounds — at
    # the same 8-round budget the chain tail is NOT yet merged
    partial = {
        r["node"]: r["label"]
        for r in connected_components_propagation(edges, max_iter=8).collect()
    }
    assert partial[n - 1] != 0


def test_connected_components_star_matches_propagation_random(spark):
    """Differential twin: star contraction and min-label propagation
    produce IDENTICAL labelings on pseudo-random graphs (multiple
    components, isolated self-loop nodes, duplicate + reversed
    edges)."""
    import random

    from epl_cas_etl_2026_spark.operators.dedup import connected_components

    rng = random.Random(7)
    for trial in range(3):
        n = 40
        edges = [
            (rng.randrange(n), rng.randrange(n)) for _ in range(35)
        ]
        edges += [(b, a) for a, b in edges[:5]]  # reversed dups
        edges += [(99, 99)]  # self-loop-only node keeps its row
        df = spark.createDataFrame(edges, "id_a long, id_b long")
        star = {
            r["node"]: r["label"]
            for r in connected_components(df, max_iter=20).collect()
        }
        prop = {
            r["node"]: r["label"]
            for r in connected_components_propagation(
                df, max_iter=40
            ).collect()
        }
        assert star == prop, f"trial {trial}: {star} != {prop}"


def test_incremental_near_dup_matches_batch_restriction(spark):
    """The incremental path (batch hashed, corpus served from its
    signature index) must produce exactly the batch pipeline's pairs
    restricted to pairs touching the batch."""
    from epl_cas_etl_2026_spark.operators.dedup import (
        minhash_signature_agg,
        near_dup_pairs,
        near_dup_pairs_incremental,
    )

    rows = [
        (i, f"w{i} common text shared tokens alpha beta gamma delta e{i % 3}")
        for i in range(12)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    is_new = (F.col("doc_id") % 4) == 3

    batch = {
        (r["id_a"], r["id_b"], r["jaccard"])
        for r in near_dup_pairs(
            docs, "doc_id", "text", threshold=0.5, n_hashes=16, band_size=4
        ).collect()
        if r["id_a"] % 4 == 3 or r["id_b"] % 4 == 3
    }
    incr = {
        (r["id_a"], r["id_b"], r["jaccard"])
        for r in near_dup_pairs_incremental(
            docs.filter(is_new),
            minhash_signature_agg(docs.filter(~is_new), "doc_id", "text", 16, 3),
            docs,
            threshold=0.5,
            n_hashes=16,
            band_size=4,
        ).collect()
    }
    assert batch and incr == batch


def test_leakage_safe_split_cluster_consistent(spark):
    """Every near-dup cluster lands wholly inside one split: the query's
    own straddle audit must be 0, and the split must still cover every
    document exactly once."""
    from epl_cas_etl_2026_spark.plans.extensions import (
        docs_leakage_safe_split,
    )
    from epl_cas_etl_2026_spark.sources.parquet import load_table

    from tests.conftest import SF_SMOKE as sf  # noqa: N806
    out = docs_leakage_safe_split(spark, sf).collect()
    assert all(r["straddling_pairs"] == 0 for r in out)
    n_docs = load_table(spark, sf, "documents").count()
    assert sum(r["n_docs"] for r in out) == n_docs
    assert {r["split"] for r in out} <= {"train", "val", "test"}


def test_gopher_repetition_third_implementation(spark, tmp_path):
    """docs_gopher_repetition_stats vs a pure-Python evaluation of the
    published rules (Rae et al. 2021 Table A1, n-gram variants) on a
    hand-built corpus with known flags."""
    import os
    from collections import Counter

    import pandas as pd

    docs = [
        # top-2gram spam: "buy now" repeated -> cov2 way over 0.20
        (0, "buy now buy now buy now buy now buy now", "en", "a"),
        # clean: all words distinct
        (1, "alpha beta gamma delta epsilon zeta eta theta", "en", "a"),
        # duplicate 5-gram: a 5-word phrase occurring twice
        (2, "one two three four five x y z one two three four five", "en", "b"),
        # too short for any 5-gram, single 2-gram
        (3, "tiny doc", "es", "a"),
        (4, "", "es", "a"),
    ]
    sf = str(tmp_path / "sf")
    os.makedirs(sf, exist_ok=True)
    pd.DataFrame(
        {
            "doc_id": [d for d, *_ in docs],
            "text": [t for _, t, *_ in docs],
            "lang": [l for *_, l, _ in docs],
            "source": [s for *_, s in docs],
            "n_chars": [len(t) for _, t, *_ in docs],
        }
    ).to_parquet(os.path.join(sf, "documents.parquet"))

    def ref(text):
        w = [x for x in text.split(" ") if x]
        total = sum(len(x) for x in w)
        if total == 0:
            return 0, 0
        g2 = Counter(
            (w[i], w[i + 1]) for i in range(len(w) - 1)
        )
        if g2:
            top = sorted(
                g2.items(), key=lambda kv: (-kv[1], " ".join(kv[0]))
            )[0]
            cov2 = 1000 * top[1] * (len(top[0][0]) + len(top[0][1]) + 1) // total
        else:
            cov2 = 0
        g5pos = {}
        for i in range(len(w) - 4):
            g5pos.setdefault(tuple(w[i : i + 5]), []).append(i)
        covered = set()
        for g, ps in g5pos.items():
            if len(ps) >= 2:
                for p in ps:
                    covered.update(range(p, p + 5))
        cov5 = 1000 * sum(len(w[i]) for i in covered) // total
        return cov2, cov5

    exp = {}
    for d, t, lang, _src in docs:
        cov2, cov5 = ref(t)
        e = exp.setdefault(
            lang, {"n": 0, "f2": 0, "f5": 0, "rm": 0, "s2": 0, "s5": 0}
        )
        e["n"] += 1
        e["f2"] += cov2 > 200
        e["f5"] += cov5 > 150
        e["rm"] += (cov2 > 200) or (cov5 > 150)
        e["s2"] += cov2
        e["s5"] += cov5

    from epl_cas_etl_2026_spark.plans.extensions import (
        docs_gopher_repetition_stats,
    )

    got = {
        r["lang"]: r.asDict()
        for r in docs_gopher_repetition_stats(spark, sf).collect()
    }
    assert set(got) == set(exp)
    for lang, e in exp.items():
        g = got[lang]
        assert g["n_docs"] == e["n"]
        assert g["flagged_top2gram"] == e["f2"], (lang, g)
        assert g["flagged_dup5gram"] == e["f5"], (lang, g)
        assert g["n_removed"] == e["rm"]
        assert g["sum_cov2_millis"] == e["s2"]
        assert g["sum_cov5_millis"] == e["s5"]
    # the engineered docs actually exercised both rules
    assert exp["en"]["f2"] >= 1 and exp["en"]["f5"] >= 1


def test_minhash_estimate_error_third_impl(spark, tmp_path):
    """docs_minhash_estimate_error: pure-Python MinHash + exact-Jaccard
    recompute on a tiny planted corpus must reproduce the gate's
    calibration rows exactly (third implementation, no Spark/DuckDB
    machinery)."""
    import hashlib

    from epl_cas_etl_2026_spark.plans.extensions import (
        docs_minhash_estimate_error,
    )

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    rows = [
        (1, base, "en", "s", len(base)),
        (2, base + " extra", "en", "s", len(base) + 6),  # near-dup of 1
        (3, base.replace("gamma", "mu"), "en", "s", len(base)),
        (4, "totally different words here nothing shared at all x y",
         "en", "s", 55),
    ]
    d = str(tmp_path / "docs")
    spark.createDataFrame(
        rows,
        "doc_id long, text string, lang string, source string, "
        "n_chars long",
    ).write.parquet(d + "/documents.parquet")
    got = {
        r["est_matches"]: r
        for r in docs_minhash_estimate_error(spark, d).collect()
    }

    # pure-Python replay of the whole pipeline
    P, H2M = 4294967291, 72057594037927936

    def sig(text):
        w = text.split(" ")
        sh = [" ".join(w[i : i + 3]) for i in range(len(w) - 2)]
        if not sh:
            return None, set()
        pairs = []
        for s in sh:
            m = hashlib.md5(s.encode()).hexdigest()
            pairs.append((int(m[:15], 16), int(m[16:31], 16) % H2M))
        return (
            [min((h1 + j * h2) % P for h1, h2 in pairs) for j in range(16)],
            set(sh),
        )

    sigs = {i: sig(t) for i, t, *_ in rows}
    cands = set()
    for a in sigs:
        for b in sigs:
            if a < b and any(
                sigs[a][0][4 * k : 4 * k + 4] == sigs[b][0][4 * k : 4 * k + 4]
                for k in range(4)
            ):
                cands.add((a, b))
    expect: dict = {}
    for a, b in cands:
        est = sum(x == y for x, y in zip(sigs[a][0], sigs[b][0]))
        sa, sb = sigs[a][1], sigs[b][1]
        exact = 1000 * len(sa & sb) // max(len(sa | sb), 1)
        e = expect.setdefault(est, [0, 0, 10**9, -1, 0])
        e[0] += 1
        e[1] += exact
        e[2] = min(e[2], exact)
        e[3] = max(e[3], exact)
        e[4] += abs(1000 * est // 16 - exact)
    assert cands, "fixture must produce at least one candidate pair"
    assert set(got) == set(expect)
    for est, (n, s, mn, mx, err) in expect.items():
        r = got[est]
        assert (
            r["n_pairs"], r["sum_exact_milli"], r["min_exact_milli"],
            r["max_exact_milli"], r["sum_abs_err_milli"],
        ) == (n, s, mn, mx, err)
        assert r["est_milli"] == 1000 * est // 16

