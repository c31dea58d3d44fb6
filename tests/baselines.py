"""Reference implementations that tests compare live operators
against. Nothing in the package calls them: each is a simpler or
differently shaped twin of a package operator, kept only so the
comparison can run.

* ``connected_components_propagation`` — min-label propagation, the
  twin of ``operators.dedup.connected_components``;
* ``pq_adc_topk`` — one-query ADC top-k with a driver-side lookup
  table, the twin of ``operators.similarity.pq_adc_batch_topk``;
* ``with_fingerprints_udf`` — the Arrow pandas_udf form of winnowing,
  the twin of ``plans.winnow._with_fingerprints``.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ByteType, IntegerType, LongType, ShortType

from epl_cas_etl_2026_spark.functions.vectors import to_double
from epl_cas_etl_2026_spark.operators.similarity import pq_encode
from epl_cas_etl_2026_spark.plans.winnow import K, POS_SCALE, W


def connected_components_propagation(
    edges,
    src: str = "id_a",
    dst: str = "id_b",
    max_iter: int = 20,
):
    """Connected components by min-label propagation — each round every
    node takes the min of its own label and its neighbors' labels (one
    join + one groupBy); rounds needed = graph DIAMETER. The
    differential twin of ``operators.dedup.connected_components`` (the
    O(log n)-round star contraction): tests assert both produce
    identical labelings, and that the star form needs fewer rounds.

    Returns (node, component) where component = min node id reachable.
    """
    sym = (
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .unionByName(edges.select(F.col(dst).alias("a"), F.col(src).alias("b")))
        .distinct()
        # materialize ONCE: every round joins against sym, and without
        # this the whole upstream edge pipeline (LSH banding + verify)
        # re-executes per round — the dominant cost of the loop.
        .localCheckpoint(eager=True)
    )
    labels = (
        sym.select(F.col("a").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
        .localCheckpoint(eager=True)
    )

    def _label_sum(frame):
        # exact decimal sum — labels only ever DECREASE (least of own
        # and neighbor min), so the sum strictly decreases iff any
        # label changed; comparing sums detects convergence without
        # the old-vs-new join + count (a full extra shuffle join per
        # round). decimal(38,0) keeps it exact for 64-bit ids.
        return frame.agg(
            F.sum(F.col("label").cast("decimal(38,0)")).alias("s")
        ).collect()[0]["s"]

    # The sum trick is only sound for integral node ids: casting e.g. a
    # string id to decimal yields NULL, both sums come back None, and
    # None == None would declare convergence after one round — silently
    # wrong components. Non-integral ids use a changed-row check over
    # the already-checkpointed round result instead (no extra join; one
    # early-exit count job per round).
    use_sum = isinstance(
        labels.schema["label"].dataType,
        (ByteType, ShortType, IntegerType, LongType),
    )
    prev_sum = _label_sum(labels) if use_sum else None
    for _ in range(max_iter):
        nbr = (
            sym.join(
                labels.select(
                    F.col("node").alias("b"), F.col("label").alias("nl")
                ),
                "b",
            )
            .groupBy("a")
            .agg(F.min("nl").alias("min_nbr"))
        )
        # NOTE: pointer jumping (label-of-label path halving) was
        # measured here and reverted: the extra self-join adds more
        # per-round scheduler jobs than the saved rounds return
        # (6 rounds × 1 join beat 4 rounds × 2 joins). For adversarial
        # long-chain graphs, large-star/small-star is the right upgrade.
        cand = (
            labels.join(nbr, labels["node"] == nbr["a"], "left")
            .select(
                "node",
                F.col("label").alias("__old"),
                F.least(
                    F.col("label"), F.coalesce("min_nbr", F.col("label"))
                ).alias("label"),
            )
            .localCheckpoint(eager=True)
        )
        labels = cand.select("node", "label")
        if use_sum:
            new_sum = _label_sum(labels)
            converged = new_sum == prev_sum
            prev_sum = new_sum
        else:
            converged = (
                cand.filter(F.col("label") != F.col("__old")).limit(1).count()
                == 0
            )
        if converged:
            break
    return labels


def pq_adc_topk(
    emb: DataFrame,
    codebooks,
    query_id: int = 0,
    dim: int = 64,
    m: int = 8,
    shortlist: int = 50,
    topk: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """ADC top-k: the query's m×k lookup table T[s][j] =
    ||q_s − c_sj||² is computed driver-side (tiny) and folded into the
    plan as a literal tensor; each candidate's approximate distance is
    m table lookups summed per row — codes only, no vector math on
    the corpus side. The ADC shortlist is then re-ranked by EXACT
    distance over full vectors (standard PQ pipeline). The one-query
    baseline ``operators.similarity.pq_adc_batch_topk`` must match per
    query."""
    import numpy as np

    dsub = dim // m
    q = (
        emb.filter(F.col(id_col) == query_id)
        .select(to_double(F.col(vec_col)).alias("v"))
        .collect()
    )
    if not q:
        raise ValueError(f"query {id_col}={query_id} not found")
    qv = np.asarray(q[0]["v"], dtype=np.float64)
    C = np.asarray(codebooks, dtype=np.float64)  # m × k × dsub
    T = [
        [float(((qv[s * dsub : (s + 1) * dsub] - C[s][j]) ** 2).sum())
         for j in range(C.shape[1])]
        for s in range(m)
    ]
    t_lit = F.array(*[F.array(*[F.lit(x) for x in row]) for row in T])
    codes = pq_encode(emb, codebooks, dim, m, id_col, vec_col)
    approx = (
        codes.filter(F.col(id_col) != query_id)
        .select(
            F.col(id_col),
            F.element_at(
                F.element_at(t_lit, F.col("sub_id") + 1), F.col("code") + 1
            ).alias("t"),
        )
        .groupBy(id_col)
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
    return (
        approx.join(emb.select(id_col, vec_col), id_col)
        .select(F.col(id_col), "adc_dist", exact.alias("exact_dist"))
        .orderBy("exact_dist", id_col)
        .limit(topk)
    )


def with_fingerprints_udf(docs: DataFrame) -> DataFrame:
    """documents → (doc_id, source, fp) like
    ``plans.winnow._with_fingerprints``, computed by an Arrow-batched
    pandas_udf (hashlib md5 in C instead of the interpreted
    higher-order-function evaluator)."""
    import hashlib

    @F.pandas_udf("array<long>")
    def winnow_fp(texts: pd.Series) -> pd.Series:
        out = []
        for t in texts:
            ws = [w for w in (t or "").split(" ") if w]
            n = len(ws)
            ks = [
                int(
                    hashlib.md5(
                        " ".join(ws[i : i + K]).encode()
                    ).hexdigest()[:4],
                    16,
                )
                * POS_SCALE
                + i
                + 1
                for i in range(max(n - K + 1, 0))
            ]
            n_win = len(ks) - W + 1
            sel = (
                {min(ks[s : s + W]) for s in range(n_win)}
                if n_win > 0
                else set()
            )
            out.append(sorted(sel))
        return pd.Series(out)

    return docs.select("doc_id", "source", winnow_fp("text").alias("fp"))
