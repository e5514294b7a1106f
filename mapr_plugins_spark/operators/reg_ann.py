"""ANN / embedding similarity extension queries + DuckDB oracles.

A query family (see ``__spark_entry__.FAMILIES``): every ``q*``/``x_*``
function defined here is a registered key, and ``oracles()`` holds the
DuckDB SQL for those keys.
"""

from __future__ import annotations
from collections.abc import Callable
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from mapr_plugins_spark.catalog import table as _t
from mapr_plugins_spark.functions.portable_hash import (
    hex15_to_bigint_sql,
    seeded_hash60_sql,
)
from mapr_plugins_spark.operators.sampling import poisson_weight_sql
from mapr_plugins_spark.operators import dedup as D
from mapr_plugins_spark.operators import joins as J
from mapr_plugins_spark.operators import multimodal as M
from mapr_plugins_spark.operators import similarity as S
from mapr_plugins_spark.operators import text as X
from mapr_plugins_spark.plans.partitioning import fan_out
from mapr_plugins_spark.operators.reg_common import _data_fingerprint, _ensure_staged


def q24_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    return S.brute_force_topk(emb, S.probe_of(emb, probe_id=0), k=5)


def _with_recall_guard(approx: DataFrame, exact: DataFrame, k: int, floor: float) -> DataFrame:
    """Join an approximate top-k against the exact top-k and emit each
    approx row with a ``recall_at_k`` column whose expression IS the
    assertion: when(recall >= floor, recall).otherwise(raise_error) —
    a quality regression fails the rows check itself, and Catalyst
    cannot prune the guard because it's the retained column."""
    from pyspark.sql import Window as _W

    flagged = approx.join(
        exact.select(F.col("vec_id").alias("__exact_id")),
        F.col("vec_id") == F.col("__exact_id"),
        "left",
    ).withColumn("__hit", F.col("__exact_id").isNotNull().cast("int"))
    recall = F.round(F.sum("__hit").over(_W.partitionBy()) / F.lit(k), 3)
    # The assertion is folded INTO the retained recall column — a
    # standalone `withColumn(assert_true).drop()` is eliminated by
    # Catalyst column pruning and never evaluates (verified by
    # tests/test_extensions.py::test_recall_guard_throws_on_violation).
    guarded = F.when(recall >= F.lit(floor), recall).otherwise(
        F.raise_error(
            F.concat(F.lit("ANN recall below floor: "), recall.cast("string"))
        ).cast("double")
    )
    return flagged.withColumn("recall_at_k", guarded).drop("__exact_id", "__hit")


def x_ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH top-5 with an in-plan recall guard: the output carries
    recall@5 vs the exact top-5 and assert_true fails the whole query
    if it drops below 0.4. Since round 6 the signature arithmetic is
    exact-integer (micro-unit dots over md5-derived ±1 hyperplanes),
    so the candidate set — hence the whole output, recall column
    included — is replayed verbatim by a full-value DuckDB oracle;
    this key graduated from the rows-only tier (round-5 item #7)."""
    emb = _t(spark, sf_dir, "embeddings")
    probe = S.probe_of(emb, probe_id=0)
    approx = S.lsh_topk(emb, probe, k=5, n_bits=6, dim=64)
    exact = S.brute_force_topk(emb, probe, k=5)
    return _with_recall_guard(approx, exact, k=5, floor=0.4)


def x_ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Index-backed IVF top-5 with EXHAUSTIVE probing (n_probe =
    n_lists), which is provably identical to brute force
    (tests/test_extensions.py pins the equivalence) — so this key
    carries the same full-value DuckDB cosine oracle as q24 while
    transiting the production machinery: persisted list-partitioned
    index staged once per data fingerprint (NO query-time KMeans fit),
    centroid-routed list assignment, list-id equi-join, per-probe
    window ranking. The partial-probe IVF paths stay rows-only with
    in-plan recall floors (x_ann_ivf_batch); the LSH pair carries
    full-value oracles since round 6 (integer-exact signatures)."""
    emb = _t(spark, sf_dir, "embeddings")
    d = _ivf_index_dir(sf_dir)
    _ensure_staged(d, lambda tmp: S.ivf_index_write(emb, tmp, n_lists=16))
    probe = S.probe_of(emb, probe_id=0)
    out = S.ivf_topk_indexed_batch(spark, d, probe, k=5, n_probe=16)
    return out.select("vec_id", "cos6")


#: Encoder code-version token folded into every staged-index dir name:
#: bump it whenever the signature/codebook/encoding LOGIC changes, so a
#: stale on-disk index from an older encoder can never be served for a
#: matching data fingerprint (the old "-ivf16v2" suffix was a one-off
#: manual bump of exactly this kind — now it is systematic).
_INDEX_CODE_VERSION = "c2"  # c2: LSH signature → exact integer micro-units


def _lsh_index_dir(sf_dir: str) -> str:
    import os

    d = f"/tmp/mapr_plugins_lsh/{_data_fingerprint(sf_dir)}-lsh6-{_INDEX_CODE_VERSION}"
    os.makedirs(os.path.dirname(d), exist_ok=True)
    return d


def x_ann_lsh_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH top-5 against a SIGNATURE-PARTITIONED persisted index: the
    probe's Hamming ball becomes a partition filter, so the scan reads
    only the candidate ``sig=`` directories — the I/O-pruning layout
    flat LSH lacks. Index staged once per sf_dir (idempotent); output
    carries the same in-plan recall guard as the flat variant, and
    (round 6) the same full-value oracle — the ball-filtered
    candidate set is provably the hamming≤2 set the oracle replays."""
    emb = _t(spark, sf_dir, "embeddings")
    d = _lsh_index_dir(sf_dir)
    _ensure_staged(d, lambda tmp: S.lsh_index_write(emb, tmp, n_bits=6, dim=64))
    probe = S.probe_of(emb, probe_id=0)
    approx = S.lsh_topk_indexed(spark, d, probe, k=5, n_bits=6, dim=64)
    exact = S.brute_force_topk(emb, probe, k=5)
    return _with_recall_guard(approx, exact, k=5, floor=0.4)


def _ivf_index_dir(sf_dir: str) -> str:
    import os

    # v2: corpus/centroids subdirs (atomically-renameable single root)
    d = f"/tmp/mapr_plugins_ivf/{_data_fingerprint(sf_dir)}-ivf16v2-{_INDEX_CODE_VERSION}"
    os.makedirs(os.path.dirname(d), exist_ok=True)
    return d


def _pq_index_dir(sf_dir: str) -> str:
    import os

    d = f"/tmp/mapr_plugins_pq/{_data_fingerprint(sf_dir)}-pq8x16-{_INDEX_CODE_VERSION}"
    os.makedirs(os.path.dirname(d), exist_ok=True)
    return d


def _ivfpq_index_dir(sf_dir: str) -> str:
    import os

    d = f"/tmp/mapr_plugins_ivfpq/{_data_fingerprint(sf_dir)}-ivfpq8l8m16-{_INDEX_CODE_VERSION}"
    os.makedirs(os.path.dirname(d), exist_ok=True)
    return d


def x_kcenter_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Diverse 8-point coreset by Gonzalez greedy farthest-point
    k-center over the embeddings corpus — deterministic (lowest-id
    seed, max-min-d² argmax with id tie-break, PQ-pinned sequential
    distance fold), so the full greedy trajectory (chosen ids AND
    separation curve) replays in the DuckDB oracle as 7 unrolled
    argmax rounds."""
    emb = _t(spark, sf_dir, "embeddings")
    return S.kcenter_select(emb, k=8)


def x_kmeans_lloyd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lloyd k-means (k=8, 3 rounds) over the embeddings corpus in
    exact BIGINT micro-unit arithmetic — lowest-id seeds, lowest-index
    tie-break, truncating-division centroid updates — so the FULL
    3-round trajectory (not just the final partition) is replayed
    bit-for-bit by the unrolled-CTE DuckDB oracle. The missing
    clustering flagship next to the k-center coreset and the
    centroid-argmax semantic dedup."""
    emb = _t(spark, sf_dir, "embeddings")
    return S.kmeans_lloyd(emb, k=8, rounds=3)


def _kmeans_oracle(k: int = 8, rounds: int = 3, dim: int = 64) -> str:
    """Unrolled Lloyd rounds: a_i = nearest-centroid assignment under
    cent_{i-1} (ties → lowest cluster), cent_i = per-dim truncating
    integer mean (empty clusters COALESCE to their previous centroid
    — same rule as the Spark driver fold). AS MATERIALIZED on every
    round: DuckDB inlines multiply-referenced CTEs otherwise and the
    base scan expands exponentially."""
    d2 = (
        f"CAST(list_sum(list_transform(range(1, {dim + 1}),"
        " i -> (e.q[i] - c.cq[i]) * (e.q[i] - c.cq[i]))) AS BIGINT)"
    )
    parts = [
        f"""
        WITH e AS MATERIALIZED (
            SELECT vec_id,
                   list_transform(embedding::DOUBLE[],
                       x -> CAST(floor(x * 1000000) AS BIGINT)) AS q
            FROM embeddings
        ),
        cent0 AS MATERIALIZED (
            SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS cl,
                   q AS cq
            FROM e ORDER BY vec_id LIMIT {k}
        )"""
    ]
    # rounds updates + one final assignment under the last centroids:
    # assignment pass r runs under cent{r-1}; pass rounds+1 is final.
    for r in range(1, rounds + 2):
        parts.append(f""",
        a{r} AS MATERIALIZED (
            SELECT vec_id, cl, d2 FROM (
                SELECT vec_id, cl, d2,
                       row_number() OVER (PARTITION BY vec_id
                                          ORDER BY d2 ASC, cl ASC) AS rn
                FROM (
                    SELECT e.vec_id, c.cl, {d2} AS d2
                    FROM e CROSS JOIN cent{r - 1} c
                )
            ) WHERE rn = 1
        )""")
        if r == rounds + 1:
            break
        parts.append(f""",
        agg{r} AS MATERIALIZED (
            SELECT a.cl, t.i, SUM(e.q[t.i]) AS s, COUNT(*) AS n
            FROM a{r} a JOIN e USING (vec_id)
            CROSS JOIN range(1, {dim + 1}) t(i)
            GROUP BY a.cl, t.i
        ),
        cent{r} AS MATERIALIZED (
            SELECT p.cl, COALESCE(u.cq, p.cq) AS cq
            FROM cent{r - 1} p LEFT JOIN (
                SELECT cl,
                       list(CASE WHEN s < 0 THEN -((-s) // n)
                            ELSE s // n END ORDER BY i) AS cq
                FROM agg{r} GROUP BY cl
            ) u USING (cl)
        )""")
    parts.append(f"""
        SELECT vec_id, CAST(cl AS INTEGER) AS cluster, d2 FROM a{rounds + 1}""")
    return "".join(parts)


def _kcenter_oracle(k: int = 8, dim: int = 64) -> str:
    """Unrolled Gonzalez rounds: cents_i = chosen set so far; round i
    takes the corpus argmax of min squared-L2 to cents_i (ties to the
    lowest vec_id)."""
    d2 = (
        f"list_sum(list_transform(range(1, {dim + 1}),"
        " i -> (e.v[i] - c.v[i]) * (e.v[i] - c.v[i])))"
    )
    parts = [
        f"""
        WITH e AS MATERIALIZED (
            SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
        ),
        c0 AS (
            SELECT vec_id, v, 0.0 AS md FROM e ORDER BY vec_id LIMIT 1
        )"""
    ]
    for i in range(1, k):
        prev = " UNION ALL ".join(f"SELECT vec_id, v FROM c{j}" for j in range(i))
        parts.append(f""",
        cents{i} AS MATERIALIZED ({prev}),
        d{i} AS MATERIALIZED (
            SELECT e.vec_id, MIN({d2}) AS md
            FROM e CROSS JOIN cents{i} c GROUP BY e.vec_id
        ),
        c{i} AS (
            SELECT d.vec_id, e.v, d.md FROM d{i} d JOIN e USING (vec_id)
            ORDER BY d.md DESC, d.vec_id LIMIT 1
        )""")
    sel = " UNION ALL ".join(
        f"SELECT {j} AS center_rank, vec_id, md AS sep_d2 FROM c{j}"
        for j in range(k)
    )
    parts.append(f"\n        SELECT CAST(center_rank AS INTEGER) AS center_rank,"
                 f" vec_id, sep_d2 FROM ({sel})")
    return "".join(parts)


def x_mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MMR diversified re-ranking (λ=1/2) of the 8-probe ANN candidate
    cut — integer-exact greedy (2·MMR = rel − max_sim stays BIGINT),
    every round replayed by the unrolled-CTE oracle."""
    emb = _t(spark, sf_dir, "embeddings")
    return S.mmr_rerank(emb, k=5, n_candidates=20)


def _mmr_oracle(k: int = 5, n_candidates: int = 20, dim: int = 64) -> str:
    """Unrolled greedy MMR rounds: sel1 = top relevance; round r picks
    argmax of rel − max-sim-to-selected (ties → lowest vec_id) among
    unselected candidates."""
    dot_ce = (
        f"CAST(list_sum(list_transform(range(1, {dim + 1}),"
        " i -> c.q[i] * s.q[i])) AS BIGINT)"
    )
    parts = [f"""
        WITH e AS MATERIALIZED (
            SELECT vec_id,
                   list_transform(embedding::DOUBLE[],
                       x -> CAST(floor(x * 1000000) AS BIGINT)) AS q
            FROM embeddings
        ),
        p AS MATERIALIZED (
            SELECT vec_id AS probe_id, q AS pq FROM e
            WHERE vec_id % 97 = 0 ORDER BY vec_id LIMIT 8
        ),
        dots AS MATERIALIZED (
            SELECT p.probe_id, e.vec_id, e.q,
                   CAST(list_sum(list_transform(range(1, {dim + 1}),
                        i -> p.pq[i] * e.q[i])) AS BIGINT) AS rel
            FROM p CROSS JOIN e WHERE e.vec_id <> p.probe_id
        ),
        cand AS MATERIALIZED (
            SELECT probe_id, vec_id, q, rel FROM (
                SELECT *, row_number() OVER (PARTITION BY probe_id
                         ORDER BY rel DESC, vec_id ASC) AS rn
                FROM dots
            ) WHERE rn <= {n_candidates}
        ),
        sel1 AS MATERIALIZED (
            SELECT probe_id, vec_id, q, rel, rel AS mmr2 FROM (
                SELECT *, row_number() OVER (PARTITION BY probe_id
                         ORDER BY rel DESC, vec_id ASC) AS rn
                FROM cand
            ) WHERE rn = 1
        ),
        selall1 AS (SELECT probe_id, vec_id, q FROM sel1)"""]
    for r in range(2, k + 1):
        parts.append(f""",
        ms{r} AS MATERIALIZED (
            SELECT c.probe_id, c.vec_id, c.q, c.rel,
                   c.rel - MAX({dot_ce}) AS mmr2
            FROM cand c JOIN selall{r - 1} s USING (probe_id)
            WHERE NOT EXISTS (
                SELECT 1 FROM selall{r - 1} x
                WHERE x.probe_id = c.probe_id AND x.vec_id = c.vec_id
            )
            GROUP BY c.probe_id, c.vec_id, c.q, c.rel
        ),
        sel{r} AS MATERIALIZED (
            SELECT probe_id, vec_id, q, rel, mmr2 FROM (
                SELECT *, row_number() OVER (PARTITION BY probe_id
                         ORDER BY mmr2 DESC, vec_id ASC) AS rn
                FROM ms{r}
            ) WHERE rn = 1
        ),
        selall{r} AS (
            SELECT probe_id, vec_id, q FROM selall{r - 1}
            UNION ALL SELECT probe_id, vec_id, q FROM sel{r}
        )""")
    sel = " UNION ALL ".join(
        f"SELECT probe_id, {r} AS rank, vec_id, rel, mmr2 FROM sel{r}"
        for r in range(1, k + 1)
    )
    parts.append(f"""
        SELECT probe_id, CAST(rank AS INTEGER) AS rank, vec_id,
               rel AS rel_dot, mmr2
        FROM ({sel})""")
    return "".join(parts)


def x_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining for contrastive training: per probe, the 5
    most-cosine-similar vectors with a DIFFERENT label (the DPR/ANCE
    dense-retrieval recipe). Deterministic 8-probe batch, broadcast
    against one corpus scan, per-probe window top-k."""
    emb = _t(spark, sf_dir, "embeddings")
    probes = (
        emb.filter(F.col("vec_id") % 97 == 0)
        .orderBy("vec_id")
        .limit(8)
        .select(
            F.col("vec_id").alias("probe_id"),
            F.col("embedding").alias("probe_vec"),
            F.col("label").alias("probe_label"),
        )
    )
    return S.hard_negatives(emb, probes, k=5)


def _ivf_probe_batch(emb: DataFrame):
    """Deterministic 8-probe batch: orderBy before limit — LIMIT
    without ORDER BY returns arbitrary rows, which would make the
    probe set (and bench timings) nondeterministic across
    partitionings."""
    return emb.filter(F.col("vec_id") % 97 == 0).orderBy("vec_id").limit(8).select(
        F.col("vec_id").alias("probe_id"), F.col("embedding").alias("probe_vec")
    )


def x_ann_ivf_batch_prod(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The production batch-IVF plan WITHOUT the in-plan exact-recall
    guard: persisted list-partitioned index, centroid routing, list-id
    equi-join, per-probe ranking. The guarded variant computes a
    brute-force exact top-k alongside (corpus × probes) purely as a
    correctness harness — at 100 TB that guard IS the dominant cost,
    so the bench times this plan separately to reflect what actually
    runs at scale (rows-only key; exactness of the machinery is graded
    via x_ann_ivf_topk's full-value oracle)."""
    emb = _t(spark, sf_dir, "embeddings")
    d = _ivf_index_dir(sf_dir)
    _ensure_staged(d, lambda tmp: S.ivf_index_write(emb, tmp, n_lists=16))
    return S.ivf_topk_indexed_batch(spark, d, _ivf_probe_batch(emb), k=5, n_probe=4)


def x_ann_ivf_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch-probe IVF ANN against a PERSISTED list-partitioned index
    (staged once per sf_dir — the KMeans fit amortizes across probe
    batches, and the probed lists become a partition filter so the scan
    reads n_probe/n_lists of the files). 8 probe vectors as a TABLE,
    list-id equi-join instead of per-probe crossJoin, with mean
    recall@5 vs the exact batch top-k asserted ≥ 0.2 in-plan."""
    emb = _t(spark, sf_dir, "embeddings")
    d = _ivf_index_dir(sf_dir)
    _ensure_staged(d, lambda tmp: S.ivf_index_write(emb, tmp, n_lists=16))
    probes = _ivf_probe_batch(emb)
    approx = S.ivf_topk_indexed_batch(spark, d, probes, k=5, n_probe=4)
    exact = S.brute_force_topk_batch(emb, probes, k=5).select(
        F.col("probe_id").alias("__epid"), F.col("vec_id").alias("__eid")
    )
    hit = approx.join(
        exact,
        (F.col("probe_id") == F.col("__epid")) & (F.col("vec_id") == F.col("__eid")),
        "left",
    )
    # per-probe recall, then asserted mean over the batch
    from pyspark.sql import Window as _W

    per_probe = F.sum(F.col("__eid").isNotNull().cast("int")).over(
        _W.partitionBy("probe_id")
    ) / F.lit(5)
    out = hit.withColumn("recall_at_5", F.round(per_probe, 3)).drop("__epid", "__eid")
    mean_recall = F.avg("recall_at_5").over(_W.partitionBy())
    # assertion folded into the retained column (prune-proof, see
    # _with_recall_guard)
    guarded = F.when(mean_recall >= 0.2, F.col("recall_at_5")).otherwise(
        F.raise_error(F.lit("batch IVF mean recall below floor")).cast("double")
    )
    return out.withColumn("recall_at_5", guarded)


def x_ann_ivf_batch_codebook(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The batch-IVF production plan SHAPE — probes explode to
    (probe_id, list_id) pairs, corpus equi-joins on list_id, per-probe
    window top-k — with the coarse lists derived from a deterministic
    FIXED-COUNT codebook instead of MLlib KMeans float centroids, so
    the ENTIRE plan hash-grades end-to-end against a full-value DuckDB
    oracle (round-12 verdict #1: the x_semantic_dedup_codebook
    precedent applied to the IVF batch pair, retiring its rows-only
    status). The codebook is ``stride = (count + 15) // 16`` strided
    corpus vectors (~16 cells at EVERY corpus size — integer
    arithmetic the oracle replays via a scalar subquery), routing is
    exact-integer micro-unit squared-L2 with lowest-cell-id ties, and
    the final ranking is the same cosine/rank contract as the graded
    x_hard_negatives oracle. KMeans would place better centroids; what
    this key grades is the PLAN — one corpus assignment, query-sized
    codebook collect, broadcast probe×list explode, candidate
    equi-join, one window pass — which is identical between the two
    quantizers. Assumes DENSE 0..n-1 vec_ids (the testdata contract),
    asserted into the expected ~16-cell band below."""
    emb = _t(spark, sf_dir, "embeddings")
    stride = (emb.count() + 15) // 16
    cents = emb.filter(F.col("vec_id") % stride == 0).select(
        F.col("vec_id").alias("cell_id"), F.col("embedding").alias("centroid")
    )
    n_sel = cents.limit(40).count()  # bounded probe: a band check, never corpus-sized
    if not 8 <= n_sel <= 32:
        raise ValueError(
            f"fixed-codebook strided sample selected {n_sel} cells, outside "
            "the expected ~16 band [8, 32] — the guard catches sparsity "
            "COLLAPSE (ids far from dense 0..n-1 select few/zero cells); "
            "benign block-shifted layouts overshoot slightly, hence the 2x "
            "headroom. With truly sparse ids pass a trained codebook table"
        )
    probes = _ivf_probe_batch(emb)
    return S.ivf_topk_codebook_batch(emb, probes, cents, k=5, n_probe=4)


def x_retrieval_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retrieval eval harness over a pinned 8-probe batch: MRR /
    precision@10 / recall@10 of exact dense retrieval vs label ground
    truth — all-rational metrics, full DuckDB oracle."""
    emb = _t(spark, sf_dir, "embeddings")
    probes = (
        emb.filter(F.col("vec_id") % 97 == 0)
        .orderBy("vec_id")
        .limit(8)
        .select(
            F.col("vec_id").alias("probe_id"),
            F.col("embedding").alias("probe_vec"),
            F.col("label").alias("probe_label"),
        )
    )
    return S.retrieval_metrics(emb, probes, k=10)


def x_embed_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L2-normalize embeddings (row-local zip_with/aggregate fold —
    codegen'd, zero shuffle; the mandatory prep for cosine ANN)."""
    from mapr_plugins_spark.functions.vectors import l2_norm, l2_normalize

    emb = _t(spark, sf_dir, "embeddings")
    unit = l2_normalize("embedding")
    # scalar projection of the unit vector (head components + its norm,
    # which must be 1): hashable output, still pins the whole transform
    unit_norm = F.sqrt(
        F.aggregate(unit, F.lit(0.0), lambda acc, x: acc + x * x)
    )
    return emb.select(
        "vec_id",
        l2_norm("embedding").alias("norm"),
        F.round(F.element_at(unit, 1), 9).alias("u1"),
        F.round(F.element_at(unit, 2), 9).alias("u2"),
        F.round(F.element_at(unit, 3), 9).alias("u3"),
        F.round(F.element_at(unit, 4), 9).alias("u4"),
        F.round(unit_norm, 9).alias("unit_norm"),
    )


def x_embed_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric per-vector int8 quantization (scale = max|x|/127) with
    reconstruction-error audit — 4× storage cut for ANN at 100 TB;
    row-local, zero shuffle."""
    from mapr_plugins_spark.functions.vectors import max_abs

    emb = _t(spark, sf_dir, "embeddings")
    d = emb.select(
        "vec_id", "embedding", (max_abs("embedding") / 127.0).alias("scale")
    )
    q = F.transform(
        F.col("embedding"),
        lambda x: F.round(x.cast("double") / F.col("scale")).cast("int"),
    )
    d = d.withColumn("qvec", q)
    err = F.aggregate(
        F.zip_with(
            F.col("embedding"),
            F.col("qvec"),
            lambda x, qi: F.abs(qi.cast("double") * F.col("scale") - x.cast("double")),
        ),
        F.lit(0.0),
        lambda acc, e: F.greatest(acc, e),
    )
    return d.select(
        "vec_id",
        "scale",
        F.concat_ws(",", F.col("qvec")).alias("qvec"),
        err.alias("max_err"),
    )


def x_embed_jl_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson–Lindenstrauss random projection 64→16 dims with ±1
    (Rademacher) rows — Achlioptas 2003's database-friendly JL, the
    cheap dimensionality-reduction step upstream of ANN at 100 TB
    (4× less vector I/O per scan; distance orderings approximately
    preserved with the JL guarantee). Exact integer micro-unit
    staging end-to-end (same convention as the round-6 LSH
    signatures), so every projected component replays bit-for-bit in
    the SQL oracle. Row-local, zero shuffle, whole-stage codegen.
    Output: first 4 components, the projected norm², and the
    norm-preservation ratio ‖y‖²/(k·‖v_micro‖²) — concentrated near 1
    by the JL lemma (σ ≈ √(2/k) ≈ 0.35 at k=16) and carried as an
    in-plan guard: a broken projection fails the query itself."""
    from mapr_plugins_spark.operators.similarity import (
        JL_K,
        SIG_MICRO,
        jl_projection_exprs,
    )

    emb = _t(spark, sf_dir, "embeddings")
    ys = jl_projection_exprs("embedding", k=JL_K, dim=64)
    d = emb.select(
        "vec_id",
        "embedding",
        *[y.alias(f"__y{j}") for j, y in enumerate(ys)],
    )
    ynorm2 = None
    for j in range(JL_K):
        t = F.col(f"__y{j}") * F.col(f"__y{j}")
        ynorm2 = t if ynorm2 is None else ynorm2 + t
    micro = lambda v: F.floor(v.cast("double") * F.lit(SIG_MICRO)).cast(  # noqa: E731
        "long"
    )
    orig2 = F.aggregate(
        F.col("embedding"),
        F.lit(0).cast("long"),
        lambda acc, v: acc + micro(v) * micro(v),
    )
    d = d.withColumn("ynorm2", ynorm2).withColumn("__orig2", orig2)
    ratio = F.when(F.col("__orig2") == 0, F.lit(1.0)).otherwise(
        F.round(
            F.col("ynorm2").cast("double")
            / (F.lit(float(JL_K)) * F.col("__orig2").cast("double")),
            6,
        )
    )
    d = d.withColumn("__ratio", ratio)
    guarded = F.when(
        (F.col("__ratio") >= 0.2) & (F.col("__ratio") <= 5.0), F.col("__ratio")
    ).otherwise(
        F.raise_error(
            F.concat(
                F.lit("JL norm-preservation ratio out of band: "),
                F.col("__ratio").cast("string"),
            )
        ).cast("double")
    )
    return d.select(
        "vec_id",
        F.col("__y0").alias("y0"),
        F.col("__y1").alias("y1"),
        F.col("__y2").alias("y2"),
        F.col("__y3").alias("y3"),
        "ynorm2",
        guarded.alias("ratio6"),
    )


def x_embed_pq_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization compression of the embeddings table: every
    64-float vector → 8 codebook codes (32× memory reduction), the
    representation a billion-scale ANN index actually stores. Row-local
    codegen against a literal codebook — zero shuffle, zero Python.
    Codes render as a comma-joined scalar (the engine-portable graded
    form — collection cells break the driver's pandas hashing). The
    codebook loads from the staged PQ index (metadata-sized), so the
    per-call seed derivation scan is amortized away."""
    emb = _t(spark, sf_dir, "embeddings")
    d = _pq_index_dir(sf_dir)
    _ensure_staged(d, lambda tmp: S.pq_index_write(emb, tmp, m=8, kc=16))
    enc = S.pq_encode(emb, m=8, kc=16, cents=S.load_pq_codebook(spark, d))
    return enc.select(
        "vec_id", F.concat_ws(",", F.col("codes").cast("array<string>")).alias("codes")
    )


def x_ann_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ADC top-10 for probe vec_id=0 over PQ codes: the probe expands to
    a per-subspace distance table (probe-side work, corpus-independent)
    and each corpus row costs 8 table lookups over its compressed codes
    — the float vectors never enter the scan. Deterministic codebook ⇒
    full-value DuckDB oracle replays encode AND search exactly. Serves
    from the staged PQ index (codes + codebook persisted once per data
    fingerprint): the scan reads the compressed code column, with no
    seed collects and no encode pass in the query path."""
    emb = _t(spark, sf_dir, "embeddings")
    d = _pq_index_dir(sf_dir)
    _ensure_staged(d, lambda tmp: S.pq_index_write(emb, tmp, m=8, kc=16))
    return S.pq_topk_indexed(spark, d, S.probe_of(emb, 0), k=10)


def x_ann_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ ADC top-10 — the composed production ANN architecture
    (coarse lists prune I/O, residual PQ compresses memory) with every
    stage deterministic and replayed by the full-value oracle: coarse
    argmin over seed centroids, residual v−c_list, PQ codes of the
    residual, per-probed-list distance tables, code-lookup ADC sum.
    The codebooks load from the staged IVF-PQ index (two metadata
    reads), so the round-3 per-call seed-collect scans are gone; the
    corpus encode itself stays IN-PLAN here (one codegen scan) — the
    fully-staged query path is x_ann_ivfpq_indexed."""
    emb = _t(spark, sf_dir, "embeddings")
    d = _ivfpq_index_dir(sf_dir)
    _ensure_staged(d, lambda tmp: S.ivfpq_index_write(emb, tmp, n_lists=8, m=8, kc=16))
    coarse, cents = S.load_ivfpq_codebooks(spark, d)
    assigned = S.ivfpq_assign(emb, coarse, cents)
    return S.ivfpq_topk(
        emb, S.probe_of(emb, 0), k=10, n_probe=4, parts=(coarse, cents, assigned)
    )


def x_ann_ivfpq_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ against the PERSISTED index — the production query path:
    codebooks load as metadata, the probe's list set becomes a
    partition filter on the list-partitioned corpus of codes (reads
    n_probe/n_lists of the files, none of the float vectors), ADC
    ranks. Provably identical to x_ann_ivfpq_topk (same codebooks ⇒
    same codes ⇒ same ADC), so it carries the same full-value oracle;
    the partition pruning is plan-pinned in tests/test_plans.py."""
    emb = _t(spark, sf_dir, "embeddings")
    d = _ivfpq_index_dir(sf_dir)
    _ensure_staged(d, lambda tmp: S.ivfpq_index_write(emb, tmp, n_lists=8, m=8, kc=16))
    return S.ivfpq_topk_indexed(spark, d, S.probe_of(emb, 0), k=10, n_probe=4)


def _ivfpq_oracle(
    n_lists: int = 8, n_probe: int = 4, m: int = 8, kc: int = 16, dsub: int = 8, k: int = 10
) -> str:
    """Replays the whole IVF-PQ pipeline: same coarse argmin (ties →
    lowest list), same engine-order residual arithmetic, same PQ argmin
    and per-list probe tables, ADC summed in explicit subspace order."""
    dim = m * dsub
    fcols = ", ".join(f"sum(d2) FILTER (WHERE j = {j}) AS d_{j}" for j in range(m))
    fsum = " + ".join(f"coalesce(d_{j}, 0.0)" for j in range(m))
    return f"""
        WITH ev AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        cl AS (SELECT vec_id AS l, v FROM ev WHERE vec_id < {n_lists}),
        cd AS (
            SELECT ev.vec_id, cl.l,
                   list_sum(list_transform(range(1, {dim + 1}),
                       i -> (ev.v[i] - cl.v[i]) * (ev.v[i] - cl.v[i]))) AS d2
            FROM ev CROSS JOIN cl
        ),
        cassign AS (
            SELECT vec_id, l AS list_id FROM (
                SELECT vec_id, l,
                       row_number() OVER (PARTITION BY vec_id ORDER BY d2, l) AS rn
                FROM cd
            ) WHERE rn = 1
        ),
        res AS (
            SELECT ev.vec_id, ca.list_id,
                   list_transform(range(1, {dim + 1}), i -> ev.v[i] - cl.v[i]) AS r
            FROM ev JOIN cassign ca USING (vec_id) JOIN cl ON cl.l = ca.list_id
        ),
        seeds AS (SELECT vec_id AS c, r AS v FROM res WHERE vec_id < {kc}),
        js AS (SELECT unnest(range(0, {m})) AS j),
        dists AS (
            SELECT s.vec_id, js.j, sd.c,
                   list_sum(list_transform(range(1, {dsub + 1}),
                       i -> (s.r[js.j * {dsub} + i] - sd.v[js.j * {dsub} + i])
                          * (s.r[js.j * {dsub} + i] - sd.v[js.j * {dsub} + i]))) AS d2
            FROM res s CROSS JOIN js CROSS JOIN seeds sd
        ),
        codes AS (
            SELECT vec_id, j, c FROM (
                SELECT vec_id, j, c,
                       row_number() OVER (PARTITION BY vec_id, j
                                          ORDER BY d2, c) AS rn
                FROM dists
            ) WHERE rn = 1
        ),
        probe AS (SELECT v AS pv FROM ev WHERE vec_id = 0),
        pd AS (
            SELECT cl.l,
                   list_sum(list_transform(range(1, {dim + 1}),
                       i -> (probe.pv[i] - cl.v[i]) * (probe.pv[i] - cl.v[i]))) AS d2
            FROM cl CROSS JOIN probe
        ),
        pl AS (
            SELECT l AS list_id FROM (
                SELECT l, row_number() OVER (ORDER BY d2, l) AS rn FROM pd
            ) WHERE rn <= {n_probe}
        ),
        pres AS (
            SELECT pl.list_id,
                   list_transform(range(1, {dim + 1}), i -> probe.pv[i] - cl.v[i]) AS qr
            FROM pl JOIN cl ON cl.l = pl.list_id CROSS JOIN probe
        ),
        pdt AS (
            SELECT p.list_id, js.j, sd.c,
                   list_sum(list_transform(range(1, {dsub + 1}),
                       i -> (p.qr[js.j * {dsub} + i] - sd.v[js.j * {dsub} + i])
                          * (p.qr[js.j * {dsub} + i] - sd.v[js.j * {dsub} + i]))) AS d2
            FROM pres p CROSS JOIN js CROSS JOIN seeds sd
        ),
        looked AS (
            SELECT c.vec_id, c.j, pdt.d2
            FROM codes c
            JOIN cassign a ON a.vec_id = c.vec_id
            JOIN pdt ON pdt.list_id = a.list_id AND pdt.j = c.j AND pdt.c = c.c
        ),
        pivoted AS (SELECT vec_id, {fcols} FROM looked GROUP BY vec_id),
        adc AS (SELECT vec_id, {fsum} AS d FROM pivoted)
        SELECT vec_id, round(d, 6) AS adc6
        FROM adc WHERE vec_id <> 0
        ORDER BY d, vec_id LIMIT {k}"""


def x_ann_pq_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ-candidates → exact re-rank: ADC top-50 from the compressed
    scan, exact cosine top-10 among only those — the standard two-stage
    retrieval recipe, deterministic in both stages so the full oracle
    replays it. Stage one serves from the staged PQ index (compressed
    code scan, zero codebook derivation)."""
    emb = _t(spark, sf_dir, "embeddings")
    d = _pq_index_dir(sf_dir)
    _ensure_staged(d, lambda tmp: S.pq_index_write(emb, tmp, m=8, kc=16))
    return S.pq_topk_rerank(
        emb, S.probe_of(emb, 0), k=10, k_cand=50, index_path=d
    )


def _pq_rerank_oracle(m: int = 8, kc: int = 16, dsub: int = 8, k: int = 10, k_cand: int = 50) -> str:
    """Two-stage replay: the ADC candidate cut (reusing the PQ chain)
    then exact cosine among candidates only."""
    inner = _pq_topk_oracle(m, kc, dsub, k=k_cand)
    return f"""
        WITH cands AS ({inner}),
        pv AS (SELECT embedding FROM embeddings WHERE vec_id = 0)
        SELECT e.vec_id,
               round(list_cosine_similarity(e.embedding::DOUBLE[],
                     pv.embedding::DOUBLE[]), 6) AS cos6
        FROM embeddings e JOIN cands c ON c.vec_id = e.vec_id CROSS JOIN pv
        ORDER BY list_cosine_similarity(e.embedding::DOUBLE[],
                 pv.embedding::DOUBLE[]) DESC, e.vec_id
        LIMIT {k}"""


def x_ann_jl_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JL-candidates → exact re-rank: top-50 by EXACT INTEGER squared
    distance in the 16-dim Rademacher projection (4× less vector math
    and I/O per corpus row than full-width scoring), then exact cosine
    top-10 among only those — the two-stage recipe of x_ann_pq_rerank
    with the JL projection as the coarse stage. The projection is of
    the UNIT vector (components divided by the deterministic
    left-fold L2 norm before micro quantization): on unit vectors
    ‖a−b‖² = 2−2·cos, so the projected Euclidean ordering tracks the
    cosine ordering the re-rank serves — projecting RAW vectors would
    rank by magnitude-dominated L2 and miss the cosine top-k (caught
    by the recall test). Both stages stay deterministic (integer
    distances, id tie-breaks), so the full oracle replays candidate
    cut AND re-rank. Plan: one broadcast of the 1-row projected
    probe, one corpus scan, TakeOrdered — no corpus shuffle."""
    from mapr_plugins_spark.functions.vectors import l2_norm
    from mapr_plugins_spark.operators.similarity import (
        JL_K,
        jl_projection_exprs,
    )

    emb = _t(spark, sf_dir, "embeddings").withColumn(
        "__nrm", l2_norm("embedding")
    ).filter(F.col("__nrm") > 0)
    # k=32 (not the transform key's 16): the synthetic corpus is
    # near-random (cosines ±0.35), the hardest case for a coarse cut —
    # 32 projections + a 100-candidate stage hold recall@10 ≥ 0.5 at
    # every sf (measured; real embedding corpora have structure and
    # tolerate lower k).
    ys = jl_projection_exprs("embedding", k=2 * JL_K, dim=64, norm_col="__nrm")
    proj = emb.select("vec_id", "embedding", F.array(*ys).alias("__y"))
    probe = proj.filter(F.col("vec_id") == 0).select(
        F.col("__y").alias("__py"), F.col("embedding").alias("probe_vec")
    )
    j = proj.filter(F.col("vec_id") != 0).crossJoin(F.broadcast(probe))
    d2 = F.aggregate(
        F.zip_with(F.col("__y"), F.col("__py"), lambda a, b: (a - b) * (a - b)),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    cand = (
        j.withColumn("jl_d2", d2)
        .orderBy(F.col("jl_d2").asc(), F.col("vec_id").asc())
        .limit(100)
    )
    from mapr_plugins_spark.functions.vectors import cosine_similarity as _cos

    return (
        cand.withColumn("cos", _cos("embedding", "probe_vec"))
        .orderBy(F.col("cos").desc(), F.col("vec_id").asc())
        .limit(10)
        .select("vec_id", "jl_d2", F.round("cos", 6).alias("cos6"))
    )


def _jl_rerank_oracle(k: int = 10, k_cand: int = 100) -> str:
    """Two-stage replay of x_ann_jl_rerank: the integer JL candidate
    cut over UNIT vectors (list_sum norm — the x_embed_normalize
    precedent matches Spark's left fold), then exact cosine among
    candidates only."""
    from mapr_plugins_spark.operators.similarity import JL_K, jl_component_sql

    comps = ", ".join(
        f"{jl_component_sql('embedding', j, norm_sql='nrm')} AS y{j}"
        for j in range(2 * JL_K)
    )
    d2 = " + ".join(
        f"(s.y{j} - p.y{j})*(s.y{j} - p.y{j})" for j in range(2 * JL_K)
    )
    return f"""
        WITH normed AS (
            SELECT vec_id, embedding,
                   sqrt(list_sum(list_transform(embedding,
                        y -> CAST(y AS DOUBLE) * CAST(y AS DOUBLE)))) AS nrm
            FROM embeddings
        ),
        proj AS (
            SELECT vec_id, embedding, {comps} FROM normed WHERE nrm > 0
        ),
        p AS (SELECT * FROM proj WHERE vec_id = 0),
        cand AS (
            SELECT s.vec_id, s.embedding,
                   CAST({d2} AS BIGINT) AS jl_d2,
                   p.embedding AS pvec
            FROM proj s, p WHERE s.vec_id <> 0
            ORDER BY jl_d2 ASC, s.vec_id ASC LIMIT {k_cand}
        )
        SELECT vec_id, jl_d2,
               round(list_cosine_similarity(embedding::DOUBLE[],
                                            pvec::DOUBLE[]), 6) AS cos6
        FROM cand
        ORDER BY list_cosine_similarity(embedding::DOUBLE[],
                                        pvec::DOUBLE[]) DESC, vec_id
        LIMIT {k}"""


def x_matryoshka_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retrieval-quality-vs-dimension report for prefix-truncated
    embeddings (MRL recipe): top-10 overlap with the full-dimension
    answer at dims 16/32/64, plus each prefix's top-1."""
    emb = _t(spark, sf_dir, "embeddings")
    return S.matryoshka_eval(emb, S.probe_of(emb, 0), dims=(16, 32, 64), k=10)


def _matryoshka_oracle(dims: tuple[int, ...] = (16, 32, 64), k: int = 10) -> str:
    full = max(dims)

    def topd(d: int, limit: int) -> str:
        return f"""(
            SELECT vec_id FROM embeddings
            WHERE vec_id <> 0
            ORDER BY list_cosine_similarity((embedding::DOUBLE[])[1:{d}],
                  (SELECT (embedding::DOUBLE[])[1:{d}] FROM embeddings
                   WHERE vec_id = 0)) DESC, vec_id
            LIMIT {limit}
        )"""

    parts = []
    for d in dims:
        parts.append(f"""
            SELECT {d} AS dim,
                   CAST((SELECT COUNT(*) FROM {topd(d, k)} t
                         WHERE t.vec_id IN (SELECT vec_id FROM {topd(full, k)} f))
                        AS INTEGER) AS overlap_at_k,
                   (SELECT vec_id FROM {topd(d, 1)}) AS top1_id""")
    return " UNION ALL ".join(parts)


# ---------------------------------------------------------------------------
# oracles


def _pq_ctes(m: int = 8, kc: int = 16, dsub: int = 8) -> str:
    """CTE chain ``seeds .. codes`` replaying PQ encoding exactly: the
    codebook is the ``kc`` lowest-id vectors sliced into ``m`` subspaces
    (same seed convention as the Spark side), per-(vector, subspace)
    squared-L2 distances fold in list order (matching zip_with/aggregate
    associativity), argmin ties resolve to the lowest code."""
    return f"""seeds AS (
            SELECT vec_id AS c, embedding::DOUBLE[] AS v
            FROM embeddings WHERE vec_id < {kc}
        ),
        js AS (SELECT unnest(range(0, {m})) AS j),
        sub AS (
            SELECT e.vec_id, js.j, e.embedding::DOUBLE[] AS v
            FROM embeddings e CROSS JOIN js
        ),
        dists AS (
            SELECT s.vec_id, s.j, sd.c,
                   list_sum(list_transform(range(1, {dsub + 1}),
                       i -> (s.v[s.j * {dsub} + i] - sd.v[s.j * {dsub} + i])
                          * (s.v[s.j * {dsub} + i] - sd.v[s.j * {dsub} + i]))) AS d2
            FROM sub s CROSS JOIN seeds sd
        ),
        codes AS (
            SELECT vec_id, j, c FROM (
                SELECT vec_id, j, c,
                       row_number() OVER (PARTITION BY vec_id, j
                                          ORDER BY d2, c) AS rn
                FROM dists
            ) WHERE rn = 1
        )"""


def _pq_topk_oracle(m: int = 8, kc: int = 16, dsub: int = 8, k: int = 10) -> str:
    """ADC search oracle: probe distance table per (subspace, code),
    then per-vector lookup of its code's entry, summed in EXPLICIT
    subspace order (pivot + coalesce chain — same associativity as the
    Spark left-to-right fold; a bare SUM..GROUP BY would add doubles in
    nondeterministic order)."""
    fcols = ", ".join(f"sum(d2) FILTER (WHERE j = {j}) AS d_{j}" for j in range(m))
    fsum = " + ".join(f"coalesce(d_{j}, 0.0)" for j in range(m))
    return f"""WITH {_pq_ctes(m, kc, dsub)},
        probe AS (
            SELECT embedding::DOUBLE[] AS pv FROM embeddings WHERE vec_id = 0
        ),
        pdt AS (
            SELECT js.j, sd.c,
                   list_sum(list_transform(range(1, {dsub + 1}),
                       i -> (probe.pv[js.j * {dsub} + i] - sd.v[js.j * {dsub} + i])
                          * (probe.pv[js.j * {dsub} + i] - sd.v[js.j * {dsub} + i]))) AS d2
            FROM js CROSS JOIN seeds sd CROSS JOIN probe
        ),
        looked AS (
            SELECT codes.vec_id, codes.j, pdt.d2
            FROM codes JOIN pdt ON codes.j = pdt.j AND codes.c = pdt.c
        ),
        pivoted AS (SELECT vec_id, {fcols} FROM looked GROUP BY vec_id),
        adc AS (SELECT vec_id, {fsum} AS d FROM pivoted)
        SELECT vec_id, round(d, 6) AS adc6
        FROM adc WHERE vec_id <> 0
        ORDER BY d, vec_id LIMIT {k}"""


def _jl_oracle() -> str:
    """Replay of x_embed_jl_project: same ±1 rows, same integer
    staging, same ratio arithmetic and guard band."""
    from mapr_plugins_spark.operators.similarity import (
        JL_K,
        SIG_MICRO,
        jl_component_sql,
    )

    comps = ", ".join(
        f"{jl_component_sql('embedding', j)} AS y{j}" for j in range(JL_K)
    )
    ynorm2 = " + ".join(f"y{j}*y{j}" for j in range(JL_K))
    orig2 = " + ".join(
        f"CAST(floor(CAST(embedding[{d + 1}] AS DOUBLE)*{SIG_MICRO}) AS BIGINT)"
        f"*CAST(floor(CAST(embedding[{d + 1}] AS DOUBLE)*{SIG_MICRO}) AS BIGINT)"
        for d in range(64)
    )
    return f"""
        WITH proj AS (
            SELECT vec_id, {comps}, ({orig2}) AS orig2 FROM embeddings
        ),
        norms AS (
            SELECT vec_id, y0, y1, y2, y3,
                   CAST({ynorm2} AS BIGINT) AS ynorm2, orig2
            FROM proj
        )
        SELECT vec_id, y0, y1, y2, y3, ynorm2,
               CASE WHEN orig2 = 0 THEN 1.0
                    ELSE round(CAST(ynorm2 AS DOUBLE)
                               / ({float(JL_K)} * CAST(orig2 AS DOUBLE)), 6)
               END AS ratio6
        FROM norms
    """


def _lsh_oracle() -> str:
    """Full-value oracle for BOTH LSH keys (flat and index-partitioned
    — the Hamming-ball partition filter provably selects the same
    hamming≤2 candidate set): replay the exact-integer signatures via
    :func:`lsh_signature_sql`, take the hamming≤2 candidates, score
    exact cosine, and recompute the recall@5 guard column."""
    from mapr_plugins_spark.operators.similarity import lsh_signature_sql

    sig = lsh_signature_sql("embedding", n_bits=6, dim=64)
    pop = " + ".join(f"((xor(s.sig, p.psig) >> {i}) & 1)" for i in range(6))
    return f"""
        WITH sigs AS (
            SELECT vec_id, embedding, {sig} AS sig FROM embeddings
        ),
        p AS (
            SELECT sig AS psig, embedding AS pvec FROM sigs WHERE vec_id = 0
        ),
        cands AS (
            SELECT s.vec_id,
                   list_cosine_similarity(s.embedding::DOUBLE[],
                                          p.pvec::DOUBLE[]) AS cos
            FROM sigs s, p
            WHERE s.vec_id <> 0 AND ({pop}) <= 2
        ),
        approx AS (
            SELECT vec_id, round(cos, 6) AS cos6
            FROM cands ORDER BY cos DESC, vec_id LIMIT 5
        ),
        exact AS (
            SELECT vec_id FROM (
                SELECT e.vec_id,
                       list_cosine_similarity(e.embedding::DOUBLE[],
                                              p.pvec::DOUBLE[]) AS cos
                FROM embeddings e, p WHERE e.vec_id <> 0
                ORDER BY cos DESC, vec_id LIMIT 5
            )
        ),
        rec AS (
            SELECT round(COUNT(*) / 5.0, 3) AS recall_at_k
            FROM approx JOIN exact USING (vec_id)
        )
        SELECT a.vec_id, a.cos6, r.recall_at_k FROM approx a, rec r
    """


def oracles() -> dict[str, str]:
    """DuckDB oracles for the ann family keys."""
    from mapr_plugins_spark.operators.reg_common import _int_d2_sql

    return {
        "q24_ann_topk": """
            SELECT vec_id,
                   round(list_cosine_similarity(embedding::DOUBLE[],
                       (SELECT embedding FROM embeddings WHERE vec_id = 0)::DOUBLE[]), 6)
                       AS cos6
            FROM embeddings WHERE vec_id <> 0
            ORDER BY list_cosine_similarity(embedding::DOUBLE[],
                     (SELECT embedding FROM embeddings WHERE vec_id = 0)::DOUBLE[]) DESC,
                     vec_id
            LIMIT 5
        """,
        # exhaustive-probe indexed IVF ≡ brute force, so it shares the
        # exact cosine oracle — the index machinery is what's under test
        "x_ann_ivf_topk": """
            SELECT vec_id,
                   round(list_cosine_similarity(embedding::DOUBLE[],
                       (SELECT embedding FROM embeddings WHERE vec_id = 0)::DOUBLE[]), 6)
                       AS cos6
            FROM embeddings WHERE vec_id <> 0
            ORDER BY list_cosine_similarity(embedding::DOUBLE[],
                     (SELECT embedding FROM embeddings WHERE vec_id = 0)::DOUBLE[]) DESC,
                     vec_id
            LIMIT 5
        """,
        "x_embed_pq_encode": f"""
            WITH {_pq_ctes()}
            SELECT vec_id,
                   array_to_string(list(CAST(c AS VARCHAR) ORDER BY j), ',')
                       AS codes
            FROM codes GROUP BY vec_id
        """,
        # round 6: JL projection — exact integer staging, full replay
        "x_embed_jl_project": _jl_oracle(),
        "x_ann_jl_rerank": _jl_rerank_oracle(),
        # round 6: integer-exact signatures made the LSH candidate set
        # engine-portable — both LSH keys now carry the full-value
        # replay oracle (flat scan ≡ Hamming-ball partition filter)
        "x_ann_lsh_topk": _lsh_oracle(),
        "x_ann_lsh_indexed": _lsh_oracle(),
        "x_ann_pq_topk": _pq_topk_oracle(),
        "x_ann_ivfpq_topk": _ivfpq_oracle(),
        "x_ann_ivfpq_indexed": _ivfpq_oracle(),
        "x_ann_pq_rerank": _pq_rerank_oracle(),
        "x_matryoshka_eval": _matryoshka_oracle(),
        # independent replay of the codebook-IVF batch plan: the stride
        # is re-derived by a scalar subquery, cell routing / probe
        # routing are integer-d² argmin / arg-top-4 via row_number (ties
        # ASC cell id), and the final ranking reuses DuckDB's own cosine
        # — no float ever decides a bucket, so the cut is bit-stable
        "x_ann_ivf_batch_codebook": f"""
            WITH e AS MATERIALIZED (
                SELECT vec_id, embedding::DOUBLE[] AS v,
                       list_transform(embedding::DOUBLE[],
                           x -> CAST(floor(x * 1000000) AS BIGINT)) AS q
                FROM embeddings
            ),
            cent AS MATERIALIZED (
                SELECT vec_id AS cl, q AS cq FROM e
                WHERE vec_id % ((SELECT count(*) + 15 FROM e) // 16) = 0
            ),
            asg AS MATERIALIZED (
                SELECT vec_id, v, cl AS list_id FROM (
                    SELECT e.vec_id, e.v, c.cl,
                           row_number() OVER (PARTITION BY e.vec_id ORDER BY
                               {_int_d2_sql("e.q", "c.cq")} ASC, c.cl ASC) AS rn
                    FROM e CROSS JOIN cent c
                ) WHERE rn = 1
            ),
            probes AS (
                SELECT vec_id AS probe_id, v AS pv, q AS pq FROM e
                WHERE vec_id % 97 = 0 ORDER BY vec_id LIMIT 8
            ),
            plists AS (
                SELECT probe_id, pv, cl AS list_id FROM (
                    SELECT p.probe_id, p.pv, c.cl,
                           row_number() OVER (PARTITION BY p.probe_id ORDER BY
                               {_int_d2_sql("p.pq", "c.cq")} ASC, c.cl ASC) AS rn
                    FROM probes p CROSS JOIN cent c
                ) WHERE rn <= 4
            ),
            ranked AS (
                SELECT pl.probe_id, a.vec_id,
                       list_cosine_similarity(a.v, pl.pv) AS c,
                       row_number() OVER (PARTITION BY pl.probe_id
                           ORDER BY list_cosine_similarity(a.v, pl.pv) DESC,
                                    a.vec_id) AS rn
                FROM plists pl JOIN asg a USING (list_id)
                WHERE a.vec_id <> pl.probe_id
            )
            SELECT probe_id, vec_id, round(c, 6) AS cos6,
                   CAST(rn AS BIGINT) AS rank
            FROM ranked WHERE rn <= 5
        """,
        "x_hard_negatives": """
            WITH probes AS (
                SELECT vec_id AS probe_id, embedding AS pv, label AS pl
                FROM embeddings WHERE vec_id % 97 = 0 ORDER BY vec_id LIMIT 8
            ),
            scored AS (
                SELECT p.probe_id, e.vec_id, e.label AS neg_label,
                       list_cosine_similarity(e.embedding::DOUBLE[],
                                              p.pv::DOUBLE[]) AS c
                FROM embeddings e CROSS JOIN probes p
                WHERE e.vec_id <> p.probe_id AND e.label <> p.pl
            ),
            ranked AS (
                SELECT probe_id, vec_id, neg_label, c,
                       row_number() OVER (PARTITION BY probe_id
                                          ORDER BY c DESC, vec_id) AS rn
                FROM scored
            )
            SELECT probe_id, vec_id, neg_label, round(c, 6) AS cos6,
                   CAST(rn AS BIGINT) AS rank
            FROM ranked WHERE rn <= 5
        """,
        # SUMs cast to BIGINT: DuckDB integer SUM is HUGEINT, which the
        # driver's pandas canonicalizer would float64-ify (round-2 bug
        # class)
        "x_retrieval_metrics": """
            WITH p AS (
                SELECT vec_id AS probe_id, embedding::DOUBLE[] AS pv,
                       label AS plabel
                FROM embeddings WHERE vec_id % 97 = 0
                ORDER BY vec_id LIMIT 8
            ),
            r AS (
                SELECT p.probe_id, e.label, p.plabel,
                       row_number() OVER (PARTITION BY p.probe_id
                           ORDER BY list_cosine_similarity(
                               e.embedding::DOUBLE[], p.pv) DESC,
                               e.vec_id) AS rank
                FROM embeddings e CROSS JOIN p
                WHERE e.vec_id <> p.probe_id
            ),
            a AS (
                SELECT probe_id,
                       CAST(SUM(CASE WHEN label = plabel THEN 1 ELSE 0 END)
                            AS BIGINT) AS n_relevant,
                       CAST(MIN(CASE WHEN label = plabel THEN rank END)
                            AS BIGINT) AS first_rel_rank,
                       CAST(SUM(CASE WHEN rank <= 10 AND label = plabel
                                     THEN 1 ELSE 0 END) AS BIGINT) AS rel_at_k
                FROM r GROUP BY probe_id
            )
            SELECT probe_id, n_relevant, first_rel_rank,
                   1.0 / first_rel_rank AS rr,
                   CAST(rel_at_k AS DOUBLE) / 10 AS precision_at_k,
                   CAST(rel_at_k AS DOUBLE) / least(n_relevant, 10) AS recall_at_k
            FROM a
        """,
        "x_embed_normalize": """
            SELECT vec_id,
                   sqrt(list_sum(list_transform(embedding,
                        y -> CAST(y AS DOUBLE) * CAST(y AS DOUBLE)))) AS norm,
                   round(CAST(embedding[1] AS DOUBLE) / sqrt(list_sum(list_transform(embedding,
                        y -> CAST(y AS DOUBLE) * CAST(y AS DOUBLE)))), 9) AS u1,
                   round(CAST(embedding[2] AS DOUBLE) / sqrt(list_sum(list_transform(embedding,
                        y -> CAST(y AS DOUBLE) * CAST(y AS DOUBLE)))), 9) AS u2,
                   round(CAST(embedding[3] AS DOUBLE) / sqrt(list_sum(list_transform(embedding,
                        y -> CAST(y AS DOUBLE) * CAST(y AS DOUBLE)))), 9) AS u3,
                   round(CAST(embedding[4] AS DOUBLE) / sqrt(list_sum(list_transform(embedding,
                        y -> CAST(y AS DOUBLE) * CAST(y AS DOUBLE)))), 9) AS u4,
                   round(sqrt(list_sum(list_transform(
                        list_transform(embedding,
                             x -> CAST(x AS DOUBLE)
                                  / sqrt(list_sum(list_transform(embedding,
                                         y -> CAST(y AS DOUBLE) * CAST(y AS DOUBLE))))),
                        u -> u * u))), 9) AS unit_norm
            FROM embeddings
        """,
        "x_embed_quantize": """
            WITH s AS (
                SELECT vec_id, embedding,
                       list_max(list_transform(embedding,
                            x -> abs(CAST(x AS DOUBLE)))) / 127.0 AS scale
                FROM embeddings
            )
            SELECT vec_id, scale,
                   array_to_string(list_transform(embedding,
                        x -> CAST(round(CAST(x AS DOUBLE) / scale) AS INTEGER)), ',') AS qvec,
                   list_max(list_transform(embedding,
                        x -> abs(round(CAST(x AS DOUBLE) / scale) * scale
                                 - CAST(x AS DOUBLE)))) AS max_err
            FROM s
        """,
        "x_kcenter_select": _kcenter_oracle(k=8, dim=64),
        "x_mmr_rerank": _mmr_oracle(k=5, n_candidates=20, dim=64),
        "x_kmeans_lloyd": _kmeans_oracle(k=8, rounds=3, dim=64),
    }
