"""Count-min sketch heavy hitters over the events stream: a
deterministic, MERGEABLE frequency sketch (Cormode/Muthukrishnan)
whose d×w counter matrix is built with one map-side-combined groupBy
— the streaming-friendly answer to "top values without a full
per-value shuffle" (reference analogue: the dashboard's distribution
counts, app.py:387-399, generalized to sketch form).

Why count-min and not Misra-Gries/space-saving here: CMS cell values
are sums over a fixed hash partition of the input, so the sketch is
identical no matter how the data is partitioned or merged — it can be
hash-gated against a SQL oracle. MG/space-saving summaries depend on
merge order and could only ever be rows-only checked.

Scale shape (100 TB): the sketch build explodes each row into d=4
(row, bucket) cells and immediately partial-aggregates — the shuffle
carries at most d×w=128 cells per map task regardless of input size
(this is exactly a mergeable-sketch combine). The estimate probe
joins the D distinct probe values against the 128-cell sketch
(broadcast), and the exact side is one groupBy on the probed column.
At 100 TB the sketch build is the only full-data pass; everything
downstream is KB-sized.

Emitted invariant (oracle-verified): CMS never underestimates —
`overestimate_ok = cms_est >= exact_count` must be TRUE on every row,
and both engines recompute the same md5-derived buckets bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from epl_cas_etl_2026_spark.plans.extensions import _HEX16
from epl_cas_etl_2026_spark.plans.registry import register as _register
from epl_cas_etl_2026_spark.sources.parquet import load_table


D = 4  # hash rows
WIDTH = 32  # buckets per row (100 distinct props-k values → real collisions)
TOP_K = 10

# bucket_j(v) = first 16 md5 bits of "<j>:<v>" mod WIDTH — deterministic
# and identical in both engines (md5 + instr/substr arithmetic only).
_BUCKET = (
    "(" + _HEX16.format(m="md5(concat(CAST({j} AS STRING), ':', {v}))") + ")"
    f" % {WIDTH}"
)
_BUCKET_DUCK = (
    "(" + _HEX16.format(m="md5(CAST({j} AS VARCHAR) || ':' || {v})") + ")"
    f" % {WIDTH}"
)


# ---------------------------------------------------------------------------
# Heavy hitters on the JSON props.k field: exact top-10 values with
# their count-min estimates and the no-underestimate invariant.
# ---------------------------------------------------------------------------
@_register(
    "events_heavy_hitters_cms",
    f"""
    WITH vals AS (
      SELECT json_extract_string(props, '$.k') AS v FROM events
      WHERE json_extract_string(props, '$.k') IS NOT NULL
    ), cells AS (
      SELECT j, {_BUCKET_DUCK.format(j='j', v='v')} AS bucket,
             CAST(COUNT(*) AS BIGINT) AS c
      FROM vals, unnest([0, 1, 2, 3]) AS r(j)
      GROUP BY 1, 2
    ), exact AS (
      SELECT v, CAST(COUNT(*) AS BIGINT) AS exact_count
      FROM vals GROUP BY v
    ), probes AS (
      SELECT e.v, e.exact_count, r.j,
             {_BUCKET_DUCK.format(j='r.j', v='e.v')} AS bucket
      FROM exact e, unnest([0, 1, 2, 3]) AS r(j)
    ), est AS (
      SELECT p.v, p.exact_count, CAST(MIN(c.c) AS BIGINT) AS cms_est
      FROM probes p
      JOIN cells c ON c.j = p.j AND c.bucket = p.bucket
      GROUP BY p.v, p.exact_count
    )
    SELECT v AS value, exact_count, cms_est,
           cms_est >= exact_count AS overestimate_ok
    FROM est
    ORDER BY exact_count DESC, value
    LIMIT {TOP_K}
    """,
)
def events_heavy_hitters_cms(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    vals = events.select(
        F.get_json_object("props", "$.k").alias("v")
    ).filter(F.col("v").isNotNull())

    # materialized: `exact` feeds both the sketch build and the probe
    # side; without it each branch re-scans the raw parquet
    # (plan-asserted single scan in tests/test_plan_audit.py). The
    # frame is value-cardinality rows, not data-sized. persist(), not
    # localCheckpoint (r12): the consumers are serial (broadcast build
    # then probe stream), so the KMV concurrent-cache-lock case never
    # applies; interleaved A/B measured a wash (0.82/1.00 ckpt vs
    # 0.79/1.07 persist min/med) and persist keeps the
    # InMemoryTableScan shape the plan-audit test pins.
    exact = vals.groupBy("v").agg(
        F.count(F.lit(1)).cast("long").alias("exact_count")
    ).persist()
    # cell(j, b) = Σ exact_count over values hashing to b — identical
    # to counting the exploded raw stream (the direct mergeable build
    # described above), but here the exact per-value counts already
    # exist for the emitted invariant, so the sketch folds from that
    # aggregate and the raw data is scanned exactly once.
    cells = (
        exact.select(
            "exact_count",
            "v",
            F.explode(F.sequence(F.lit(0), F.lit(D - 1))).alias("j"),
        )
        .withColumn("bucket", F.expr(_BUCKET.format(j="j", v="v")))
        .groupBy("j", "bucket")
        .agg(F.sum("exact_count").cast("long").alias("c"))
    )
    probes = exact.select(
        "v",
        "exact_count",
        F.explode(F.sequence(F.lit(0), F.lit(D - 1))).alias("j"),
    ).withColumn("bucket", F.expr(_BUCKET.format(j="j", v="v")))
    est = (
        probes.join(F.broadcast(cells), ["j", "bucket"])
        .groupBy("v", "exact_count")
        .agg(F.min("c").cast("long").alias("cms_est"))
    )
    return (
        est.select(
            F.col("v").alias("value"),
            "exact_count",
            "cms_est",
            (F.col("cms_est") >= F.col("exact_count")).alias(
                "overestimate_ok"
            ),
        )
        .orderBy(F.desc("exact_count"), "value")
        .limit(TOP_K)
    )


# ---------------------------------------------------------------------------
# Misra-Gries approximate top-k (Misra & Gries 1982; merge rule from
# Agarwal et al., "Mergeable Summaries") — the deterministic-output
# complement to the CMS query above. The sketch itself is merge-order
# dependent, so the GATED output is the classic two-phase scheme whose
# result is exact whenever the guarantee holds:
#
#   phase 1: per-partition MG summaries of capacity m (Arrow-batched
#            mapInPandas; state lives across batches of one partition;
#            each batch folds in via value_counts + the mergeable
#            subtract-(m+1)th-largest rule) → candidate values.
#            Pigeonhole guarantee: every value with GLOBAL count
#            > N/(m+1) survives in at least one partition.
#   phase 2: exact recount restricted to candidates — the broadcast
#            semi-join filters BEFORE the groupBy shuffle, so only
#            candidate-valued rows (≤ m×P distinct values) shuffle;
#            the full-data groupBy that MG exists to avoid never runs.
#
# The probed value column is a deterministic skew transform of
# event_id (zipf-ish hot head + singleton cold tail, ~N/2 distinct
# values → capacity-256 summaries genuinely evict), and every output
# row carries the oracle-checked guarantee `exact_count*(m+1) > N` —
# the condition under which candidate top-k == true top-k.
# ---------------------------------------------------------------------------
MG_M = 256
MG_K = 10

# hot_k on even ids with k = 1000 div (event_id mod 1000 + 1) (harmonic
# → count(hot_k) ~ N/(2k(k+1))); odd ids are singletons. Integer `div`
# on both engines — no float rounding anywhere.
_MG_VALUE_SPARK = (
    "CASE WHEN event_id % 2 = 0 "
    "THEN concat('hot_', CAST(1000 div (event_id % 1000 + 1) AS STRING)) "
    "ELSE concat('cold_', CAST(event_id AS STRING)) END"
)
_MG_VALUE_DUCK = (
    "CASE WHEN event_id % 2 = 0 "
    "THEN 'hot_' || CAST(1000 // (event_id % 1000 + 1) AS VARCHAR) "
    "ELSE 'cold_' || CAST(event_id AS VARCHAR) END"
)


def _mg_partition_summaries(iterator):
    """Per-partition Misra-Gries of capacity MG_M over column ``v``.

    Maintains one pandas Series of counters across all Arrow batches
    of the partition; per batch: vectorized value_counts, mergeable-
    summaries combine (add, then subtract the (m+1)-th largest count
    and drop non-positives). Yields the surviving values once at
    partition end.
    """
    import pandas as pd

    counters = pd.Series(dtype="int64")
    for pdf in iterator:
        vc = pdf["v"].value_counts()
        counters = counters.add(vc, fill_value=0)
        if len(counters) > MG_M:
            t = counters.nlargest(MG_M + 1).iloc[-1]
            counters = counters[counters > t] - t
    yield pd.DataFrame({"v": counters.index.astype(str)})


# ORACLE PRECONDITION (gate-pairing validity): the oracle takes the
# exact top-k over ALL values, while the Spark side recounts only the
# MG survivors. The two agree iff every top-k value's frequency
# exceeds n/(m+1) — then Misra-Gries provably cannot have evicted it
# from every partition (pigeonhole), so it IS a candidate. On the
# current skew transform the 10th value's count is ~n/220 > n/257, so
# the precondition holds with margin — but a REGENERATED testdata with
# a flatter distribution would hash-mismatch here WITHOUT a code bug.
# tests/test_sketch_fingerprint.py::test_mg_topk_oracle_precondition
# asserts the precondition on current data so such a regeneration
# fails visibly in pytest, not mysteriously in the gate; if it ever
# trips, lower MG_K or raise MG_M (both sides) to restore the margin.
@_register(
    "events_mg_topk",
    f"""
    WITH vals AS (
      SELECT {_MG_VALUE_DUCK} AS v FROM events
    ), tot AS (SELECT COUNT(*) AS n FROM vals),
    exact AS (
      SELECT v, CAST(COUNT(*) AS BIGINT) AS exact_count
      FROM vals GROUP BY v
    )
    SELECT v AS value, exact_count,
           exact_count * {MG_M + 1} > (SELECT n FROM tot)
             AS mg_guarantee_ok
    FROM exact ORDER BY exact_count DESC, v LIMIT {MG_K}
    """,
)
def events_mg_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    vals = events.select(F.expr(_MG_VALUE_SPARK).alias("v"))
    cand = vals.mapInPandas(
        _mg_partition_summaries, "v string"
    ).distinct()
    total = vals.agg(F.count(F.lit(1)).cast("long").alias("n_total"))
    exact = (
        vals.join(F.broadcast(cand), "v", "left_semi")
        .groupBy("v")
        .agg(F.count(F.lit(1)).cast("long").alias("exact_count"))
    )
    return (
        exact.crossJoin(total)
        .select(
            F.col("v").alias("value"),
            "exact_count",
            (F.col("exact_count") * (MG_M + 1) > F.col("n_total")).alias(
                "mg_guarantee_ok"
            ),
        )
        .orderBy(F.desc("exact_count"), "value")
        .limit(MG_K)
    )


# ---------------------------------------------------------------------------
# KMV / theta sketch distinct counting + set INTERSECTION (Bar-Yossef
# et al. 2002; Dasgupta et al., the DataSketches theta framework) —
# the sketch family HLL cannot replace: k-minimum-hash-values sketches
# compose under intersection, so "distinct users in A AND B" needs no
# second pass. Per event_type, the sketch is the K smallest distinct
# 32-bit md5 values of user_id (md5-derived → bit-identical across
# engines, partitionings, and merge orders — unlike real theta
# sketches, which are seed/merge-order-dependent and could only ever
# be rows-only gated).
#
#   estimate(A)   = (K-1) * 2^32 div h_K(A)     [exact-mode: |A| if < K]
#   theta(A∩B)    = min over full sketches of h_K  (2^32 if exact-mode)
#   estimate(A∩B) = |{h in both sketches, h < theta}| * 2^32 div theta
#
# All estimator arithmetic is INTEGER (long div — (K-1)*2^32 ≈ 2.7e11
# fits int64), so both engines compute the same numbers bit-for-bit;
# no float anywhere. The exact_distinct column rides along to let the
# oracle double-check the sketch against ground truth — at 100 TB it
# is the COUNT(DISTINCT) the sketch exists to avoid and would be
# dropped. Accuracy (RSE ≈ 1/sqrt(K-1)) is bounded in
# tests/test_analytics_props.py, NOT in the gated output (testdata-
# regeneration safety — the events_mg_topk lesson).
#
# Scale shape (100 TB): k-minima form a semilattice, so per-PARTITION
# partial sketches (Arrow-batched mapInPandas, bounded K*T state) make
# the only shuffle carry <= partitions * types * K slim longs; the
# full-data per-type window/sort that a naive KMV needs never runs.
# ---------------------------------------------------------------------------
KMV_K = 64
_KMV_SCALE = 2**32  # h is uniform on [0, 2^32)
_KMV_A, _KMV_B = "click", "purchase"
_KMV_FILTER = "CAST(value AS DOUBLE) > 60"


def _kmv_partition_minima(iterator):
    """Per-partition K smallest DISTINCT h per event_type; state is one
    small dict of numpy arrays across the partition's Arrow batches."""
    import numpy as np
    import pandas as pd

    state: dict = {}
    for pdf in iterator:
        # dropna=False: a NULL event_type is a stratum too — pandas'
        # default silently drops it while the DuckDB twin's
        # PARTITION BY keeps the NULL partition
        for et, grp in pdf.groupby("event_type", dropna=False):
            merged = np.concatenate(
                [state.get(et, np.empty(0, dtype="int64")), grp["h"].values]
            )
            state[et] = np.sort(np.unique(merged))[:KMV_K]
    if state:
        yield pd.DataFrame(
            {
                "event_type": np.repeat(
                    list(state), [len(v) for v in state.values()]
                ),
                "h": np.concatenate(list(state.values())),
            }
        )


@_register(
    "events_kmv_theta_intersection",
    f"""
    WITH dh AS (
      SELECT DISTINCT event_type,
             CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8))
                  AS BIGINT) AS h
      FROM events WHERE {_KMV_FILTER}
    ),
    kept AS (
      SELECT event_type, h FROM (
        SELECT event_type, h,
               ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY h) AS rn
        FROM dh) WHERE rn <= {KMV_K}
    ),
    sk AS (
      SELECT event_type, COUNT(*) AS n_in_sketch, MAX(h) AS h_k
      FROM kept GROUP BY event_type
    ),
    exact AS (
      SELECT event_type, COUNT(DISTINCT user_id) AS exact_distinct
      FROM events WHERE {_KMV_FILTER} GROUP BY event_type
    ),
    theta AS (
      SELECT LEAST(
        (SELECT CASE WHEN n_in_sketch < {KMV_K} THEN {_KMV_SCALE} ELSE h_k END
         FROM sk WHERE event_type = '{_KMV_A}'),
        (SELECT CASE WHEN n_in_sketch < {KMV_K} THEN {_KMV_SCALE} ELSE h_k END
         FROM sk WHERE event_type = '{_KMV_B}')) AS th
    ),
    inter AS (
      SELECT COUNT(*) AS n_common
      FROM (SELECT h FROM kept WHERE event_type = '{_KMV_A}') a
      JOIN (SELECT h FROM kept WHERE event_type = '{_KMV_B}') b USING (h),
      theta WHERE a.h < theta.th
    ),
    exact_inter AS (
      SELECT COUNT(*) AS xd FROM (
        SELECT user_id FROM events
        WHERE event_type = '{_KMV_A}' AND {_KMV_FILTER}
        INTERSECT
        SELECT user_id FROM events
        WHERE event_type = '{_KMV_B}' AND {_KMV_FILTER}) t
    )
    SELECT s.event_type AS entity,
           CAST(s.n_in_sketch AS BIGINT) AS n_in_sketch,
           CAST(CASE WHEN s.n_in_sketch < {KMV_K} THEN s.n_in_sketch
                     ELSE ({KMV_K} - 1) * {_KMV_SCALE} // s.h_k END
                AS BIGINT) AS est_distinct,
           x.exact_distinct
    FROM sk s JOIN exact x USING (event_type)
    UNION ALL
    SELECT '{_KMV_A}&{_KMV_B}',
           CAST(i.n_common AS BIGINT),
           CAST(CASE WHEN t.th >= {_KMV_SCALE} THEN i.n_common
                     ELSE i.n_common * {_KMV_SCALE} // t.th END AS BIGINT),
           x.xd
    FROM inter i, theta t, exact_inter x
    ORDER BY entity
    """,
)
def events_kmv_theta_intersection(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").filter(F.expr(_KMV_FILTER))
    # ONE scan of events (r11 optimization round; was FOUR — sketch,
    # per-type exact distinct, and both intersect sides each re-read
    # the table): the shared distinct (event_type, user_id) frame is
    # exactly the map-side-deduped exchange countDistinct would have
    # paid anyway, materialized once and read by all four consumers.
    # h = md5(user_id) is a pure function of user_id, so hashing the
    # DISTINCT pairs yields the identical distinct (event_type, h)
    # population the KMV minima are defined over (fewer md5 evals too).
    # LAZY localCheckpoint, not persist(): with persist() the noop
    # job's concurrent consumer stages serialize on cache-block
    # computation locks (measured 23-34 s vs 1.2 s for the checkpoint
    # on the same data — the worst cache-contention case in the repo).
    d = ev.select("event_type", "user_id").distinct().localCheckpoint(
        eager=False
    )
    h32 = F.conv(
        F.substring(F.md5(F.col("user_id").cast("string")), 1, 8), 16, 10
    ).cast("long")
    hashed = d.select("event_type", h32.alias("h"))
    # partial per-partition sketches -> tiny merge frame (<= P*T*K rows)
    partials = hashed.mapInPandas(
        _kmv_partition_minima, "event_type string, h long"
    ).distinct()
    from pyspark.sql import Window

    rn = F.row_number().over(
        Window.partitionBy("event_type").orderBy("h")
    )
    kept = partials.withColumn("rn", rn).filter(F.col("rn") <= KMV_K)
    sk = kept.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_in_sketch"), F.max("h").alias("h_k")
    )
    exact = d.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("exact_distinct")
    )
    per_type = (
        sk.join(exact, "event_type")
        .select(
            F.col("event_type").alias("entity"),
            F.col("n_in_sketch").cast("long").alias("n_in_sketch"),
            F.when(F.col("n_in_sketch") < KMV_K, F.col("n_in_sketch"))
            .otherwise(F.expr(f"{(KMV_K - 1) * _KMV_SCALE} div h_k"))
            .cast("long")
            .alias("est_distinct"),
            "exact_distinct",
        )
    )
    # theta intersection of the two named sets (dim-sized frames only).
    # Each side folds to a guaranteed 1-row aggregate (MIN over the
    # filtered frame is NULL when the type is absent), matching the
    # oracle's scalar subqueries; Spark's least() ignores NULLs exactly
    # like DuckDB's LEAST, so the intersection row is ALWAYS emitted —
    # an empty/missing type can no longer drop it from the Spark side
    # while the oracle keeps it (cross-engine twin contract).
    eff = sk.select(
        "event_type",
        F.when(F.col("n_in_sketch") < KMV_K, F.lit(_KMV_SCALE))
        .otherwise(F.col("h_k"))
        .alias("eff_theta"),
    )
    th_a = eff.filter(F.col("event_type") == _KMV_A).agg(
        F.min("eff_theta").alias("th_a")
    )
    th_b = eff.filter(F.col("event_type") == _KMV_B).agg(
        F.min("eff_theta").alias("th_b")
    )
    theta = th_a.crossJoin(th_b).select(
        F.least("th_a", "th_b").alias("th")
    )
    inter = (
        kept.filter(F.col("event_type") == _KMV_A)
        .select("h")
        .join(kept.filter(F.col("event_type") == _KMV_B).select("h"), "h")
        .crossJoin(theta)
        .filter(F.col("h") < F.col("th"))
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    exact_inter = (
        d.filter(F.col("event_type") == _KMV_A)
        .select("user_id")
        .join(
            d.filter(F.col("event_type") == _KMV_B).select("user_id"),
            "user_id",
        )
        .agg(F.count(F.lit(1)).cast("long").alias("xd"))
    )
    inter_row = (
        inter.crossJoin(theta)
        .crossJoin(exact_inter)
        .select(
            F.lit(f"{_KMV_A}&{_KMV_B}").alias("entity"),
            F.col("n_common").cast("long").alias("n_in_sketch"),
            F.when(F.col("th") >= _KMV_SCALE, F.col("n_common"))
            .otherwise(F.expr(f"n_common * {_KMV_SCALE} div th"))
            .cast("long")
            .alias("est_distinct"),
            F.col("xd").alias("exact_distinct"),
        )
    )
    return per_type.unionAll(inter_row).orderBy("entity")
