"""Deduplication operators for training-data pipelines: exact,
MinHash+LSH near-dup, SimHash. (BASELINE.json north star; no analogue
in the reference, which dedups only on a natural key —
etl_sync.py:215-217 = the J6 anti-join.)

Design for 100 TB:

* Exact dedup is a hash-groupBy — one shuffle on a 16-byte digest, the
  canonical Spark dedup.
* Near-dup NEVER compares all pairs. MinHash signatures are computed
  per-document inside the scan stage (pure higher-order expressions —
  no explode of the shingle set, no UDF), then LSH banding turns
  near-dup detection into an equi-join on (band_index, band_key):
  only documents sharing a band bucket are candidate pairs, and the
  exact Jaccard verification runs on candidates only. The expensive
  O(n²) step is gone; what remains shuffles on band keys, which are
  uniformly distributed by construction (hash values).
* Two hash families: ``xxhash64`` (native, fastest — production path)
  and an md5-derived 60-bit hash (the DuckDB oracle can compute the
  identical value — correctness path). Same algorithm either way.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from epl_cas_etl_2026_spark.functions.text import words
from epl_cas_etl_2026_spark.sources.parquet import spread_scan


def keep_first_exact(df: DataFrame, id_col: str, text_col: str = "text") -> DataFrame:
    """Exact dedup keeping the lowest id per text hash (deterministic
    survivor selection — groupBy + min, one shuffle)."""
    h = F.md5(F.col(text_col)).alias("__h")
    keepers = (
        df.select(h, F.col(id_col))
        .groupBy("__h")
        .agg(F.min(id_col).alias(id_col))
    )
    return df.join(keepers, id_col, "left_semi")


def shingles_of_words(w: Column, n: int = 3) -> Column:
    """Word n-gram shingles from an already-materialized words array.

    Pass a *column reference* (not the inline ``split`` expression) as
    ``w`` when this runs interpreted: higher-order lambdas re-evaluate
    captured subtrees per element, so an inline split costs O(words)
    per shingle — a bound column costs O(1).
    """
    # i ranges over 1 .. size-(n-1), 1-based slice; guard the short-doc
    # case explicitly (F.sequence(1, 0) would generate a DESCENDING
    # sequence, not an empty one).
    idx = F.when(
        F.size(w) >= n, F.sequence(F.lit(1), F.size(w) - (n - 1))
    ).otherwise(F.array().cast("array<int>"))
    return F.transform(idx, lambda i: F.array_join(F.slice(w, i, n), " "))


# Kirsch-Mitzenmacher double hashing: ONE digest per shingle, the
# n_hashes MinHash functions derived as (h1 + i*h2) mod P. Hashing the
# string n_hashes times (md5(s || '|seed')) both costs 16× the digest
# work AND inflates the generated aggregate code past the JIT/codegen-
# cache sweet spot (observed: multi-second Janino recompiles per run).
# The mod-P wrap is essential for band independence: without it, large
# i*h2 dominates and the min-h2 shingle wins every high-i band,
# correlating the signature. Ranges keep every intermediate inside a
# signed 64-bit int even with ANSI overflow checks on: h1 < 2^60,
# i*h2 < 16*2^56 = 2^60, sum < 2^61.
_H2_MOD = 2**56
_KM_P = 4294967291  # largest prime < 2^32; pre-mod values wrap ~2^29 times


def _km_hash_pair(s: Column, use_md5: bool) -> tuple[Column, Column]:
    if use_md5:
        m = F.md5(s)
        h1 = F.conv(F.substring(m, 1, 15), 16, 10).cast("long")
        h2 = F.conv(F.substring(m, 17, 15), 16, 10).cast("long") % F.lit(_H2_MOD)
    else:
        h1 = F.pmod(F.xxhash64(s), F.lit(2**60))
        h2 = F.pmod(F.xxhash64(s, F.lit(1)), F.lit(_H2_MOD))
    return h1, h2


def minhash_signature_agg(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    n_hashes: int = 16,
    shingle_n: int = 3,
    use_md5: bool = False,
) -> DataFrame:
    """MinHash signature via explode + groupBy-min.

    Each shingle becomes a row once, so the ``n_hashes`` hash
    expressions are flat codegen-able columns (a per-row
    higher-order-function form nests transform inside transform, runs
    INTERPRETED outside whole-stage codegen and re-evaluates ``split``
    per shingle), and one partial-agg ``min`` per seed reduces
    map-side before the single shuffle on ``id_col``. Returns (id,
    h0..h{n-1}); docs with no shingles (fewer than ``shingle_n`` words)
    drop out, matching the oracle's ``len(shingles) > 0`` guard.
    """
    docs = df.select(F.col(id_col), words(F.col(text_col)).alias("__w"))
    sh = docs.select(
        F.col(id_col),
        F.explode(shingles_of_words(F.col("__w"), shingle_n)).alias("__sh"),
    )
    # Spread the hash work ONLY when the scan is under-parallel (one
    # small parquet file locally). At scale the scan has plenty of
    # splits and this must NOT fire: repartitioning here would shuffle
    # the full shingle stream (~8× the corpus text), while without it
    # the per-seed mins partial-aggregate map-side and the groupBy
    # shuffles ~one 16-long row per (doc, partition) — the slim plan.
    sh = spread_scan(sh, F.col(id_col))
    h1, h2 = _km_hash_pair(F.col("__sh"), use_md5)
    base = sh.select(F.col(id_col), h1.alias("__h1"), h2.alias("__h2"))
    derived = base.select(
        F.col(id_col),
        *[
            ((F.col("__h1") + F.lit(seed) * F.col("__h2")) % F.lit(_KM_P)).alias(
                f"h{seed}"
            )
            for seed in range(n_hashes)
        ],
    )
    return derived.groupBy(id_col).agg(
        *[F.min(f"h{seed}").alias(f"h{seed}") for seed in range(n_hashes)]
    )


def lsh_candidate_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    n_hashes: int = 16,
    band_size: int = 4,
    shingle_n: int = 3,
    use_md5: bool = False,
) -> DataFrame:
    """LSH banding: docs sharing any (band_index, band_key) bucket are
    candidate near-duplicate pairs. Returns distinct (id_a < id_b)
    pairs. Equi-join on band keys — no all-pairs comparison."""
    n_bands = n_hashes // band_size
    # materialized: the self-join below consumes this twice; signatures
    # are n_hashes longs per doc (~128 B/doc — holdable even at
    # billions of docs), while recomputing means re-hashing every
    # shingle twice. persist(), not localCheckpoint: the r12
    # per-callsite interleaved A/B (verdict item 1) measured persist
    # ≥ lazy localCheckpoint at this callsite (docs_near_dup_pairs
    # med 1.84 s persist vs 3.50 s ckpt at 32 cores) — the KMV
    # cache-block-lock pathology does not reproduce on the self-join
    # consumer shape, and the checkpoint costs an extra write job.
    sig_df = minhash_signature_agg(
        df, id_col, text_col, n_hashes, shingle_n, use_md5
    ).persist()
    band_keys = F.array(
        *[
            F.concat_ws(
                "-", *[F.col(f"h{b * band_size + j}") for j in range(band_size)]
            )
            for b in range(n_bands)
        ]
    )
    banded = sig_df.select(
        F.col(id_col).alias("doc"),
        F.posexplode(band_keys).alias("band", "band_key"),
    )
    a = banded.alias("a")
    b = banded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.doc") < F.col("b.doc")),
        )
        .select(F.col("a.doc").alias("id_a"), F.col("b.doc").alias("id_b"))
        .distinct()
    )


def jaccard_words(text_a: Column, text_b: Column) -> Column:
    """Exact word-set Jaccard similarity (the verify step after LSH)."""
    wa = F.array_distinct(words(text_a))
    wb = F.array_distinct(words(text_b))
    inter = F.size(F.array_intersect(wa, wb)).cast("double")
    union = F.size(F.array_union(wa, wb)).cast("double")
    return inter / F.nullif(union, F.lit(0.0))


def near_dup_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.6,
    n_hashes: int = 16,
    band_size: int = 4,
    shingle_n: int = 3,
    use_md5: bool = False,
) -> DataFrame:
    """Full near-dup pipeline: MinHash → LSH candidates → exact Jaccard
    verify ≥ threshold. Returns (id_a, id_b, jaccard)."""
    cands = lsh_candidate_pairs(
        docs, id_col, text_col, n_hashes, band_size, shingle_n, use_md5
    )
    texts = docs.select(F.col(id_col), F.col(text_col))
    ta = texts.select(
        F.col(id_col).alias("id_a"), F.col(text_col).alias("__text_a")
    )
    tb = texts.select(
        F.col(id_col).alias("id_b"), F.col(text_col).alias("__text_b")
    )
    return (
        cands.join(ta, "id_a")
        .join(tb, "id_b")
        .withColumn(
            "jaccard",
            F.round(jaccard_words(F.col("__text_a"), F.col("__text_b")), 6),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def near_dup_pairs_incremental(
    new_docs: DataFrame,
    index_sigs: DataFrame,
    all_texts: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.6,
    n_hashes: int = 16,
    band_size: int = 4,
    shingle_n: int = 3,
    use_md5: bool = False,
) -> DataFrame:
    """Incremental near-dup: check a NEW batch against a persisted
    MinHash signature index without re-hashing the existing corpus —
    the daily-ingest shape of dedup at 100 TB (re-running
    :func:`near_dup_pairs` over corpus+batch re-shingles everything;
    here only the batch is hashed and the index (n_hashes longs/doc,
    ~128 B) is banded straight from storage).

    ``index_sigs`` is the stored signature table (schema: id, h0..h15 —
    exactly :func:`minhash_signature_agg`'s output, same hash params).
    Candidates come from banding the batch against index ∪ batch, so
    batch-internal duplicates are found too. Returns (id_a, id_b,
    jaccard ≥ threshold) where at least one side is from the batch,
    verified with exact word-set Jaccard against ``all_texts``.
    """
    n_bands = n_hashes // band_size
    new_sigs = minhash_signature_agg(
        new_docs, id_col, text_col, n_hashes, shingle_n, use_md5
    )
    band_keys = F.array(
        *[
            F.concat_ws(
                "-", *[F.col(f"h{b * band_size + j}") for j in range(band_size)]
            )
            for b in range(n_bands)
        ]
    )

    def banded(sigs: DataFrame) -> DataFrame:
        return sigs.select(
            F.col(id_col).alias("doc"),
            F.posexplode(band_keys).alias("band", "band_key"),
        )

    new_banded = banded(new_sigs).persist()  # r12 A/B: see lsh_candidate_pairs
    all_banded = banded(index_sigs).unionByName(new_banded)
    # equi-join on (band, key): the new side is the small batch, the
    # index side streams from storage — same slim-shuffle shape as the
    # batch pipeline, but the hash work is O(batch), not O(corpus)
    cands = (
        new_banded.alias("a")
        .join(
            all_banded.alias("b"),
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.doc") != F.col("b.doc")),
        )
        .select(
            F.least(F.col("a.doc"), F.col("b.doc")).alias("id_a"),
            F.greatest(F.col("a.doc"), F.col("b.doc")).alias("id_b"),
        )
        .distinct()
    )
    texts = all_texts.select(F.col(id_col), F.col(text_col))
    ta = texts.select(
        F.col(id_col).alias("id_a"), F.col(text_col).alias("__text_a")
    )
    tb = texts.select(
        F.col(id_col).alias("id_b"), F.col(text_col).alias("__text_b")
    )
    return (
        cands.join(ta, "id_a")
        .join(tb, "id_b")
        .withColumn(
            "jaccard",
            F.round(jaccard_words(F.col("__text_a"), F.col("__text_b")), 6),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def simhash60_udf():
    """Arrow-batched SimHash-60 over distinct word tokens: each bit is
    the sign of a ±1 vote of the tokens' md5-derived 60-bit hashes,
    bit-identical to the DuckDB oracle. Vectorized: a Column-expression
    form would run 60 interpreted HOF aggregates per row. One numpy
    vote matrix per batch."""
    import hashlib

    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    idx = np.arange(60, dtype=np.int64)
    weights = (np.int64(1) << idx)

    def sh(col):
        # Batch-level vectorization: md5 is computed ONCE per DISTINCT
        # token in the batch (the corpus repeats tokens heavily, so
        # this collapses the dominant per-doc hashlib loop), votes are
        # one ±1 matrix row per vocab token summed per doc with numpy.
        # Bit-identical to the per-doc loop: same md5-derived 60-bit
        # value per token, same integer vote sums, same bit rule.
        toks_per_doc = [
            sorted(set((text or "").split(" "))) for text in col
        ]
        vocab: dict = {}
        for toks in toks_per_doc:
            for t in toks:
                if t not in vocab:
                    vocab[t] = len(vocab)
        if vocab:
            hs = np.empty(len(vocab), dtype=np.int64)
            for t, i in vocab.items():
                hs[i] = int(
                    hashlib.md5(t.encode("utf-8")).hexdigest()[:15], 16
                )
            M = (((hs[:, None] >> idx) & 1) * 2 - 1).astype(np.int64)
        out = np.zeros(len(toks_per_doc), dtype=np.int64)
        for j, toks in enumerate(toks_per_doc):
            if not toks:
                continue
            votes = M[[vocab[t] for t in toks]].sum(axis=0)
            out[j] = int(weights[votes > 0].sum())
        return pd.Series(out, dtype="int64")

    sh.__annotations__ = {"col": pd.Series, "return": pd.Series}
    return pandas_udf(sh, "long")


def simhash_near_dup_pairs(
    docs,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 8,
    n_bands: int = 4,
    band_bits: int = 15,
    prehashed=None,
):
    """SimHash near-dup via band join: split the 60-bit hash into
    ``n_bands`` bands; a pair is a CANDIDATE iff some whole band is
    equal (pigeonhole: any pair with hamming < n_bands is guaranteed
    caught), then verify bit_count(xor) <= max_hamming exactly. One
    shuffle on the band keys — no all-pairs stage.

    ``prehashed``: an already-computed ``(id_col, h)`` frame — callers
    sweeping several banding configs hash the corpus ONCE and share it
    (the Arrow simhash UDF is the expensive stage, not the band join).
    """
    if prehashed is not None:
        hashed = prehashed
    else:
        # spread the hashing stage when the local scan is a single
        # split (at scale the scan has plenty of splits — no exchange)
        hashed = spread_scan(docs).select(
            F.col(id_col), simhash60_udf()(F.col(text_col)).alias("h")
        ).localCheckpoint(eager=False)  # not persist(): cache-block
        # locks serialize concurrent consumer stages (r11 session-3)
    mask = (1 << band_bits) - 1
    # Unlike the vector-LSH paths (which keep the band join slim and
    # join the WIDE payload back onto the deduped pairs), the whole
    # payload here is the 8-byte hash itself — carrying it through the
    # band join costs one extra long per row and ELIMINATES the two
    # post-candidate hash joins; the exact verify runs before the
    # pair-dedup (bit_count is ~free, repeated at most n_bands times
    # per pair, and the early hamming filter shrinks the dedup input).
    banded = hashed.select(
        F.col(id_col),
        F.col("h"),
        F.posexplode(
            F.array(
                *[
                    F.shiftright("h", k * band_bits).bitwiseAND(F.lit(mask))
                    for k in range(n_bands)
                ]
            )
        ).alias("band", "key"),
    )
    a = banded.select(
        F.col(id_col).alias("id_a"), F.col("h").alias("ha"), "band", "key"
    )
    b = banded.select(
        F.col(id_col).alias("id_b"), F.col("h").alias("hb"), "band", "key"
    )
    joined = a.join(b, ["band", "key"]).filter(F.col("id_a") < F.col("id_b"))
    return (
        joined.withColumn(
            "hamming", F.bit_count(F.col("ha").bitwiseXOR(F.col("hb")))
        )
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
        .distinct()
    )


def _local_contract(edges):
    """Per-partition union-find pre-contraction (round-12; the local
    contraction step of the CC-MR family, Kiveris et al. SoCC'14):
    each input partition's edge set is replaced by the star forest of
    its OWN spanning forest (center = partition-local min). Global
    connectivity is preserved exactly — the union of per-partition
    spanning forests connects u,v iff some path of input edges does —
    and the star-contraction loop then starts from a graph whose only
    remaining structure is CROSS-partition, cutting rounds (measured
    3 → 2 on customers_golden_record's 2.3k-edge graph, loop wall
    2.45 → 1.92 s med interleaved) and shrinking every round's
    exchange to ≤ nodes-per-partition rows. Memory is bounded by one
    partition's distinct node count. Output schema/direction matches
    the input (a, b) frame; the caller re-symmetrizes.
    """
    schema = edges.schema

    def contract(batches):
        import pyarrow as pa

        parent: dict = {}

        def find(x):
            r = x
            while parent[r] != r:
                r = parent[r]
            while parent[x] != r:
                parent[x], x = r, parent[x]
            return r

        types = None
        for batch in batches:
            if types is None:
                types = (batch.column(0).type, batch.column(1).type)
            for x, y in zip(
                batch.column(0).to_pylist(), batch.column(1).to_pylist()
            ):
                if x not in parent:
                    parent[x] = x
                if y not in parent:
                    parent[y] = y
                rx, ry = find(x), find(y)
                if rx == ry:
                    continue
                if ry < rx:
                    rx, ry = ry, rx
                parent[ry] = rx
        out_a, out_b = [], []
        for v in parent:
            r = find(v)
            if r != v:
                out_a.append(v)
                out_b.append(r)
        if out_a:
            yield pa.record_batch(
                [
                    pa.array(out_a, type=types[0]),
                    pa.array(out_b, type=types[1]),
                ],
                names=[schema[0].name, schema[1].name],
            )

    return edges.mapInArrow(contract, schema)


def connected_components(
    edges,
    src: str = "id_a",
    dst: str = "id_b",
    max_iter: int = 20,
):
    """Connected components by alternating large-star/small-star
    contraction (Kiveris et al., "Connected Components in MapReduce
    and Beyond", SoCC'14 — public algorithm) — the step that turns
    near-dup PAIRS into duplicate CLUSTERS.

    Each round rewrites the edge set toward a star forest centered at
    component minima:

    - large-star: every node points its STRICTLY LARGER neighbors at
      the minimum of its closed neighborhood — (v, m(u)) for
      v ∈ Γ(u), v > u, m(u) = min(Γ(u) ∪ {u});
    - small-star: every node and its ≤-neighbors all point at the
      smallest of them — (v, m⁻(u)) for v ∈ Γ⁻(u) ∪ {u} \\ {m⁻},
      m⁻(u) = min(Γ⁻(u) ∪ {u}).

    Both are one groupBy(min) + one join over id pairs; connectivity
    is invariant under each step, and convergence (edge set stable) is
    reached in O(log n) rounds even on CHAIN graphs — the upgrade over
    min-label propagation (kept in the tests as the differential
    baseline), whose round count is the graph DIAMETER. On the dense
    near-dup cluster graphs both converge in a handful of rounds; on
    adversarial chains this one stays logarithmic. Per-round
    localCheckpoint truncates the
    iterative lineage; if ``max_iter`` rounds pass without
    convergence the star forest may still be partially contracted —
    raise max_iter for pathological inputs (20 rounds covers any
    graph a 100 TB corpus can produce: convergence is ~log₂ n).

    Returns (node, component) where component = min node id reachable
    — identical output contract (and ordering semantics for string
    ids: lexicographic min) to the propagation variant.
    """
    pairs = edges.select(F.col(src).alias("a"), F.col(dst).alias("b")).unionByName(
        edges.select(F.col(dst).alias("a"), F.col(src).alias("b"))
    )
    sym0 = (
        pairs.filter(F.col("a") != F.col("b"))
        .distinct()
        # materialize ONCE so the upstream pair pipeline (LSH banding
        # + verification) never re-executes inside the loop
        .localCheckpoint(eager=True)
    )
    # nodes from the UNfiltered pairs: a node seen only in self-loop
    # edges still gets a (node, node) label row, like the propagation
    # variant
    nodes = (
        pairs.select(F.col("a").alias("node"))
        .distinct()
        .localCheckpoint(eager=True)
    )

    # round-12: collapse every partition-local structure in ONE narrow
    # pass before the loop (see _local_contract); the loop then only
    # resolves cross-partition connectivity. Labels are connectivity-
    # determined, so the result is identical (pinned by the CC property
    # tests and an old-vs-new label-equality A/B on the golden-record
    # graph).
    star = _local_contract(sym0)
    e0 = star.unionByName(
        star.select(F.col("b").alias("a"), F.col("a").alias("b"))
    ).localCheckpoint(eager=True)

    e = e0  # current UNDIRECTED edge set, kept symmetric on entry
    prev_cnt = None
    for _ in range(max_iter):
        # Each star phase establishes hash-partitioning on "a" ONCE
        # (explicit repartition, AQE-coalescible) and lets the
        # neighborhood-min groupBy and the min join both reuse that
        # exchange; the two INTERMEDIATE distincts of the former shape
        # are dropped — they only bounded row counts (min-aggregations
        # are duplicate-insensitive and the per-round closing distinct
        # restores the canonical edge set), and each cost a full
        # (a, b) exchange. 8 exchanges/round -> 3.
        # ---- large-star ----
        ep = e.repartition("a")
        mins = ep.groupBy("a").agg(
            F.least(F.min("b"), F.first("a")).alias("m")
        )
        large = (
            ep.filter(F.col("b") > F.col("a"))
            .join(mins, "a")
            .select(F.col("b").alias("a"), F.col("m").alias("b"))
            .filter(F.col("a") != F.col("b"))
        )
        # ---- small-star (on the symmetric view of large's output) ----
        sym = large.unionByName(
            large.select(F.col("b").alias("a"), F.col("a").alias("b"))
        ).repartition("a")
        smaller = sym.filter(F.col("b") < F.col("a"))
        mins2 = smaller.groupBy("a").agg(F.min("b").alias("m"))
        small = (
            smaller.join(mins2, "a")
            .select(F.col("b").alias("a"), F.col("m").alias("b"))
            .filter(F.col("a") != F.col("b"))
            .unionByName(mins2.select(F.col("a"), F.col("m").alias("b")))
        )
        new_e = (
            small.unionByName(
                small.select(F.col("b").alias("a"), F.col("a").alias("b"))
            )
            .distinct()
            # lazy: the count() below is the round's first action and
            # materializes the checkpoint in the same job (was eager —
            # one materialization job + one cached count per round)
            .localCheckpoint(eager=False)
        )
        cnt = new_e.count()
        if prev_cnt is not None and cnt == prev_cnt:
            # counts equal → confirm set equality (cheap: both sides
            # checkpointed id-pair frames)
            if new_e.exceptAll(e).limit(1).count() == 0:
                if e is not e0:
                    e.unpersist()
                e = new_e
                break
        if e is not e0:
            e.unpersist()
        e = new_e
        prev_cnt = cnt
    # at (or near) convergence e is a symmetric star forest: each
    # non-center node neighbors exactly its component min; centers and
    # isolated-in-e nodes label themselves
    parent = e.filter(F.col("b") < F.col("a")).groupBy("a").agg(
        F.min("b").alias("label")
    )
    labels = (
        nodes.join(parent, nodes["node"] == parent["a"], "left")
        .select(
            "node", F.coalesce(F.col("label"), F.col("node")).alias("label")
        )
        .localCheckpoint(eager=True)
    )
    if e is not e0:
        e.unpersist()
    e0.unpersist()
    sym0.unpersist()
    nodes.unpersist()
    return labels
