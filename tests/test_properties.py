"""Property-based checks (SURVEY.md §5 item 4, hypothesis-driven).

Spark jobs are slow per example, so each property runs a small number
of generated cases over tiny literal frames — the properties, not the
volume, carry the value:

  * competition rank is a function of the score multiset only
    (permutation-invariant), ties share a position, gaps follow ties;
  * AVG ignores NULLs — injecting NULL rows never changes it;
  * sink dedup is idempotent under re-delivery/duplication of pages.
"""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from epl_cas_etl_2026_spark.etl.pipeline import dedup_against_sink
from epl_cas_etl_2026_spark.operators.ranking import competition_rank

_SETTINGS = dict(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

scores = st.lists(
    st.one_of(st.none(), st.integers(min_value=0, max_value=5)),
    min_size=1,
    max_size=8,
)


@given(xs=scores, seed=st.randoms())
@settings(**_SETTINGS)
def test_rank_is_permutation_invariant(spark, xs, seed):
    rows = [(i, float(x) if x is not None else None) for i, x in enumerate(xs)]
    shuffled = rows[:]
    seed.shuffle(shuffled)

    def ranks(data):
        df = spark.createDataFrame(data, "id long, score double")
        out = competition_rank(df, "score", rank_col="r").collect()
        return {row["id"]: row["r"] for row in out}

    assert ranks(rows) == ranks(shuffled)
    # competition-rank law: position = 1 + #strictly-better scores
    by_id = ranks(rows)
    vals = [x for x in xs if x is not None]
    for i, x in enumerate(xs):
        if x is None:
            assert by_id[i] is None
        else:
            assert by_id[i] == 1 + sum(1 for v in vals if v > x)


@given(
    vals=st.lists(st.floats(0, 100, allow_nan=False), min_size=1, max_size=8),
    n_nulls=st.integers(min_value=0, max_value=5),
)
@settings(**_SETTINGS)
def test_avg_null_injection_invariant(spark, vals, n_nulls):
    base = [(float(v),) for v in vals]
    with_nulls = base + [(None,)] * n_nulls
    a = spark.createDataFrame(base, "v double").agg(F.avg("v")).collect()[0][0]
    b = (
        spark.createDataFrame(with_nulls, "v double")
        .agg(F.avg("v"))
        .collect()[0][0]
    )
    # ulp-tolerant: the two frames partition differently, so the
    # double summation order (and hence the last bit) may differ —
    # the PROPERTY is that NULLs don't change the average.
    import math

    assert math.isclose(a, b, rel_tol=1e-12, abs_tol=1e-12)


@given(
    keys=st.lists(st.integers(0, 5), min_size=1, max_size=8),
    redeliver=st.integers(min_value=1, max_value=3),
)
@settings(**_SETTINGS)
def test_dedup_idempotent_under_redelivery(spark, keys, redeliver):
    schema = "zenput_submission_id string, fecha_supervision timestamp, payload long"
    page = [(f"k{k}", None, k) for k in keys]
    once = spark.createDataFrame(page, schema)
    many = spark.createDataFrame(page * redeliver, schema)
    sink = spark.createDataFrame([("k0", None, 0)], schema)
    got_once = sorted(
        r["zenput_submission_id"]
        for r in dedup_against_sink(once, sink).collect()
    )
    got_many = sorted(
        r["zenput_submission_id"]
        for r in dedup_against_sink(many, sink).collect()
    )
    assert got_once == got_many
    assert "k0" not in got_once


@given(
    lefts=st.lists(
        st.tuples(st.integers(0, 3), st.integers(0, 50)),
        min_size=1,
        max_size=12,
    ),
    rights=st.lists(
        st.tuples(st.integers(0, 3), st.integers(0, 50)),
        min_size=0,
        max_size=12,
    ),
    strict=st.booleans(),
)
@settings(**_SETTINGS)
def test_as_of_join_matches_bruteforce(spark, lefts, rights, strict):
    import datetime as dt

    from epl_cas_etl_2026_spark.operators.windows import as_of_join

    base = dt.datetime(2026, 1, 1)
    ts = lambda m: base + dt.timedelta(minutes=m)
    # dedup right ties on (key, ts): operator contract (deterministic
    # pick is the caller's job) — keep max payload like the query does
    rmap = {}
    for k, m in rights:
        rmap[(k, m)] = max(rmap.get((k, m), -1), m * 10 + k)
    left_rows = [(i, k, ts(m)) for i, (k, m) in enumerate(lefts)]
    right_rows = [(p, k, ts(m)) for (k, m), p in rmap.items()]
    ldf = spark.createDataFrame(
        left_rows, "event_id long, user_id long, ts timestamp"
    )
    rdf = spark.createDataFrame(
        right_rows or [(None, None, None)],
        "r_id long, user_id long, r_ts timestamp",
    ).filter(F.col("r_id").isNotNull())

    got = {
        r["event_id"]: r["r_id"]
        for r in as_of_join(
            ldf, rdf, "user_id", "ts", "r_ts", ["r_id"], strict=strict
        ).collect()
    }

    def brute(i, k, t):
        cands = [
            (rt, p)
            for (rk, rm), p in rmap.items()
            if rk == k
            for rt in [ts(rm)]
            if (rt < t if strict else rt <= t)
        ]
        return max(cands)[1] if cands else None

    expected = {i: brute(i, k, ts(m)) for i, (k, m) in enumerate(lefts)}
    assert got == expected


def test_kmeans_deterministic_and_total(spark):
    from epl_cas_etl_2026_spark.operators.similarity import kmeans_fit
    from epl_cas_etl_2026_spark.sources.parquet import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    n = emb.count()
    a1 = kmeans_fit(emb, k=3, iters=2).collect()
    a2 = kmeans_fit(emb, k=3, iters=2).collect()
    assert {r["vec_id"]: r["cluster"] for r in a1} == {
        r["vec_id"]: r["cluster"] for r in a2
    }
    assert len(a1) == n  # every vector assigned exactly once
    assert all(0 <= r["cluster"] < 3 and r["sq_dist"] >= 0 for r in a1)


# ---------------------------------------------------------------------------
# New-op properties: z-score outlier inequality matches the float
# definition.
# ---------------------------------------------------------------------------
values = st.lists(
    st.floats(min_value=0.0, max_value=1000.0, allow_nan=False, width=32),
    min_size=2,
    max_size=12,
)


@given(vals=values)
@settings(**_SETTINGS)
def test_zscore_integer_inequality_matches_float_definition(spark, vals):
    """(q*n - S)^2 > 4*(n*Sxx - S^2) over milli-quantized values is
    the same set as |v-mean| > 2*sigma_pop over those quantized
    values, computed in floats — the integer form just removes the
    cross-engine drift."""
    import math
    from fractions import Fraction

    q = [math.floor(v * 1000 + 0.5) for v in vals]
    n = len(q)
    # the definition evaluated in EXACT rational arithmetic: plain
    # floats miscount inputs that land exactly on the |v-mean| == 2σ
    # boundary (hypothesis found [0,0,1.28125,0,0], where (x-mean)²
    # equals 4·var exactly and float error flips the strict >)
    mean = Fraction(sum(q), n)
    var = Fraction(sum((x - mean) ** 2 for x in q), n)
    expect = sum(1 for x in q if (x - mean) ** 2 > 4 * var)

    df = spark.createDataFrame(
        [(1, float(v)) for v in vals], "user_id long, value double"
    )
    from pyspark.sql import Window

    qv = F.floor(F.col("value") * 1000 + 0.5).cast("decimal(38,0)")
    w = Window.partitionBy("user_id")
    m = df.select("user_id", qv.alias("qv")).select(
        "user_id",
        "qv",
        F.count(F.lit(1)).over(w).cast("decimal(38,0)").alias("n"),
        F.sum("qv").over(w).alias("s"),
        F.sum(F.col("qv") * F.col("qv")).over(w).alias("sxx"),
    )
    dev = F.col("qv") * F.col("n") - F.col("s")
    var4 = F.lit(4).cast("decimal(38,0)") * (
        F.col("n") * F.col("sxx") - F.col("s") * F.col("s")
    )
    got = m.filter(dev * dev > var4).count()
    assert got == expect


def _write_docs(spark, tmp_path, rows):
    """Materialize a tiny documents table (driver schema) for the
    corpus-analysis queries, which read {sf_dir}/documents.parquet."""
    d = str(tmp_path / "docs_sf")
    spark.createDataFrame(
        [(i, t, "en", s, len(t)) for i, (t, s) in enumerate(rows)],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).coalesce(1).write.mode("overwrite").parquet(f"{d}/documents.parquet")
    return d


def test_span_dedup_zero_without_shared_grams_then_rises(spark, tmp_path):
    from epl_cas_etl_2026_spark.plans.extensions import docs_span_dedup_stats

    # 2 docs, disjoint vocabularies → no shared 8-gram span
    a = " ".join(f"a{i}" for i in range(12))
    b = " ".join(f"b{i}" for i in range(12))
    d = _write_docs(spark, tmp_path, [(a, "s0"), (b, "s0")])
    row = docs_span_dedup_stats(spark, d).collect()[0]
    assert row.dup_spans == 0 and row.dup_permille == 0

    # duplicate doc a verbatim → every one of a's spans is duplicated
    d2 = _write_docs(spark, tmp_path, [(a, "s0"), (a, "s0"), (b, "s1")])
    rows = {r.source: r for r in docs_span_dedup_stats(spark, d2).collect()}
    assert rows["s0"].dup_permille == 1000  # all spans shared between the twins
    assert rows["s1"].dup_spans == 0


def test_char_entropy_known_distributions(spark, tmp_path):
    from epl_cas_etl_2026_spark.plans.extensions import docs_char_entropy

    # single repeated char → 0 bits; uniform 2-symbol → exactly 1 bit
    d = _write_docs(spark, tmp_path, [("aaaaaaaa", "s0")])
    assert docs_char_entropy(spark, d).collect()[0].char_entropy_bits == 0.0
    d2 = _write_docs(spark, tmp_path, [("abababab", "s0")])
    assert docs_char_entropy(spark, d2).collect()[0].char_entropy_bits == 1.0


def test_vocab_topk_counts_and_rank_are_stable(spark, tmp_path):
    from epl_cas_etl_2026_spark.plans.extensions import docs_vocab_topk

    # 'x' 3×, 'y' 2×, 'z' 1× across docs; ties broken by word
    d = _write_docs(
        spark, tmp_path, [("x y x", "s0"), ("y x z", "s1")]
    )
    got = [(r.word, r.n, r.vocab_rank) for r in docs_vocab_topk(spark, d).collect()]
    assert got == [("x", 3, 1), ("y", 2, 2), ("z", 1, 3)]


# ---------------------------------------------------------------------------
# LSH auto-sizing laws (pure function — no Spark; hypothesis sweeps the
# parameter space the gated embedding_lsh_auto_params row cannot):
# rows_per_band follows the r = max(4, ceil(log2 n)) occupancy rule,
# and bands are monotone non-decreasing in target_recall (more recall
# can never mean fewer bands).
# ---------------------------------------------------------------------------
@given(
    n=st.integers(min_value=2, max_value=10**9),
    sim=st.floats(min_value=0.5, max_value=0.95),
    rec_lo=st.floats(min_value=0.5, max_value=0.98),
    rec_hi=st.floats(min_value=0.5, max_value=0.98),
)
@settings(max_examples=200, deadline=None)
def test_lsh_params_laws(n, sim, rec_lo, rec_hi):
    import math

    from epl_cas_etl_2026_spark.operators.similarity import lsh_params_for

    if rec_lo > rec_hi:
        rec_lo, rec_hi = rec_hi, rec_lo
    b_lo, r_lo = lsh_params_for(n, target_sim=sim, target_recall=rec_lo)
    b_hi, r_hi = lsh_params_for(n, target_sim=sim, target_recall=rec_hi)
    expected_r = max(4, math.ceil(math.log2(n)))
    assert r_lo == r_hi == expected_r
    assert 1 <= b_lo <= 32 and 1 <= b_hi <= 32
    assert b_lo <= b_hi  # more recall never costs fewer bands


edge_sets = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=4),  # src node id
        st.integers(min_value=0, max_value=4),  # dst node id
        st.integers(min_value=1, max_value=9),  # weight
    ),
    min_size=1,
    max_size=10,
    unique_by=lambda e: (e[0], e[1]),
)


@given(edges=edge_sets, iters=st.integers(min_value=1, max_value=3))
@settings(**_SETTINGS)
def test_pagerank_matches_python_reference(spark, edges, iters):
    """The distributed fixed-point PageRank equals a sequential pure-
    Python evaluation of the same recurrence EXACTLY (integer
    arithmetic makes bit-equality a meaningful spec, independent of
    partitioning/aggregation order)."""
    from epl_cas_etl_2026_spark.operators.graph import (
        BASE,
        RANK_SCALE,
        pagerank_fixed_point,
    )

    nodes = sorted({e[0] for e in edges} | {e[1] for e in edges})
    out_w = {}
    for s, _, w in edges:
        out_w[s] = out_w.get(s, 0) + w
    ranks = {n: RANK_SCALE for n in nodes}
    for _ in range(iters):
        inc = {n: 0 for n in nodes}
        for s, d, w in edges:
            inc[d] += (ranks[s] * w) // out_w[s]
        ranks = {n: BASE + (85 * inc[n]) // 100 for n in nodes}

    ndf = spark.createDataFrame([(str(n),) for n in nodes], ["word"])
    edf = spark.createDataFrame(
        [(str(s), str(d), w) for s, d, w in edges], ["src", "dst", "w"]
    )
    got = {
        r.word: r.rank_micros
        for r in pagerank_fixed_point(ndf, edf, iterations=iters).collect()
    }
    assert got == {str(n): r for n, r in ranks.items()}


edge_lists = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=25),
        st.integers(min_value=0, max_value=25),
    ),
    min_size=1,
    max_size=30,
)


@given(edges=edge_lists)
@settings(**_SETTINGS)
def test_connected_components_star_matches_union_find(spark, edges):
    """Property: large-star/small-star contraction labels every node
    with the MIN id of its component — checked against an independent
    pure-Python union-find oracle on arbitrary small graphs
    (self-loops, parallel/reversed edges, multiple components)."""
    from epl_cas_etl_2026_spark.operators.dedup import connected_components

    df = spark.createDataFrame(edges, "id_a long, id_b long")
    got = {
        r["node"]: r["label"]
        for r in connected_components(df, max_iter=20).collect()
    }

    parent: dict[int, int] = {}

    def find(x: int) -> int:
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    expect = {x: find(x) for x in parent}
    assert got == expect


# ---------------------------------------------------------------------------
# Round-6 operator laws (pure Python — no Spark job per example):
#   * KMV partial k-minima form a semilattice: merging per-part
#     sketches equals sketching the union, under ANY partitioning;
#   * Efraimidis-Spirakis selection is invariant to scaling all
#     weights by a positive constant, and with equal weights reduces
#     to top-k by the uniform key.
# ---------------------------------------------------------------------------
@given(
    hashes=st.lists(
        st.integers(min_value=0, max_value=2**32 - 1),
        min_size=1,
        max_size=300,
    ),
    cut=st.integers(min_value=0, max_value=300),
)
@settings(max_examples=30, deadline=None)
def test_kmv_partial_minima_semilattice(hashes, cut):
    import pandas as pd

    from epl_cas_etl_2026_spark.plans.sketches import (
        KMV_K,
        _kmv_partition_minima,
    )

    def sketch(parts):
        frames = [
            pd.DataFrame({"event_type": "t", "h": p}) for p in parts if p
        ]
        out = list(_kmv_partition_minima(iter(frames)))
        if not out:
            return []
        merged = pd.concat(out)["h"]
        return sorted(merged.unique())[:KMV_K]

    cut = min(cut, len(hashes))
    assert sketch([hashes[:cut], hashes[cut:]]) == sketch([hashes])


@given(
    weights=st.lists(
        st.floats(min_value=0.01, max_value=1e6, allow_nan=False),
        min_size=1,
        max_size=60,
    ),
    scale=st.floats(min_value=0.001, max_value=1000.0),
)
@settings(max_examples=30, deadline=None)
def test_es_selection_weight_scale_invariant(weights, scale):
    import hashlib
    import math

    k = 10

    def select(ws):
        keyed = []
        for i, w in enumerate(ws):
            u = (
                int(hashlib.md5(str(i).encode()).hexdigest()[:8], 16) + 0.5
            ) / 2**32
            keyed.append((math.log(u) / w, -i))
        return sorted(
            (-key, -negi) for key, negi in sorted(keyed, reverse=True)[:k]
        )

    a = [i for _, i in select(weights)]
    b = [i for _, i in select([w * scale for w in weights])]
    assert [abs(i) for i in a] == [abs(i) for i in b]


@given(
    n=st.integers(min_value=1, max_value=40),
)
@settings(max_examples=20, deadline=None)
def test_es_equal_weights_is_uniform_topk(n):
    import hashlib
    import math

    k = 5
    us = {
        i: (
            int(hashlib.md5(str(i).encode()).hexdigest()[:8], 16) + 0.5
        )
        / 2**32
        for i in range(n)
    }
    by_key = sorted(
        range(n), key=lambda i: (math.log(us[i]) / 7.5, -i), reverse=True
    )[:k]
    by_u = sorted(range(n), key=lambda i: (us[i], -i), reverse=True)[:k]
    assert sorted(by_key) == sorted(by_u)
