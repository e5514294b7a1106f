"""Deduplication-family extension queries + DuckDB oracles.

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
from mapr_plugins_spark.operators.reg_common import _BAND_ROWS, _CORPUS_SQL, _MINHASH_SEEDS, _TOKS_SQL, _data_fingerprint, _dedup_corpus, _ensure_staged, _int_d2_sql, _langid_sql, _minhash_pairs_ctes, _quality_sql
_SIMHASH_BITS = 32


# ---------------------------------------------------------------------------
# queries


def q22_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return D.exact_dedup(docs.unionByName(docs))


def x_dedup_minhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    corpus = _dedup_corpus(spark, sf_dir)
    return D.verified_near_dup_pairs(
        corpus, n_hashes=_MINHASH_SEEDS, band_rows=_BAND_ROWS, threshold=0.5
    )


def x_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    corpus = _dedup_corpus(spark, sf_dir)
    return D.ngram_jaccard_pairs(corpus, n=4, block_chars=16, threshold=0.6)


def x_blocking_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Measured MinHash blocking quality on a deterministic sample:
    exact all-pairs shingle-Jaccard ground truth vs the banded
    pipeline's verified pairs → precision/recall integer rationals.
    One row; the sample² cross join is the documented eval budget."""
    corpus = _dedup_corpus(spark, sf_dir)
    pairs = D.verified_near_dup_pairs(
        corpus, n_hashes=_MINHASH_SEEDS, band_rows=_BAND_ROWS, threshold=0.5
    )
    return D.blocking_quality_eval(corpus, pairs, sample_mod=5)


def _blocking_recall_oracle() -> str:
    pairs = _minhash_pairs_ctes(_CORPUS_SQL, 0.5)
    return f"""
        WITH {pairs},
        sample AS MATERIALIZED (
            SELECT doc_id, text FROM corpus WHERE doc_id % 5 = 0
            ORDER BY {seeded_hash60_sql("CAST(doc_id AS STRING)", "7")}, doc_id
            LIMIT 500
        ),
        w2 AS (SELECT doc_id, string_split(text, ' ') AS w FROM sample),
        sh2 AS (
            SELECT DISTINCT doc_id,
                   unnest(list_transform(range(1, len(w) - 1),
                          i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))
                       AS shingle
            FROM w2 WHERE len(w) >= 3
        ),
        szs AS (SELECT doc_id, COUNT(*) AS n FROM sh2 GROUP BY 1),
        ex AS (
            SELECT s1.doc_id AS id_a, s2.doc_id AS id_b, COUNT(*) AS ni
            FROM sh2 s1
            JOIN sh2 s2 ON s2.shingle = s1.shingle
                        AND s1.doc_id < s2.doc_id
            GROUP BY 1, 2
        ),
        exact AS (
            SELECT e.id_a, e.id_b
            FROM ex e
            JOIN szs a ON a.doc_id = e.id_a
            JOIN szs b ON b.doc_id = e.id_b
            WHERE 2 * e.ni >= a.n + b.n - e.ni
        ),
        blocked AS (
            SELECT id_a, id_b FROM pairs
            WHERE id_a IN (SELECT doc_id FROM sample)
              AND id_b IN (SELECT doc_id FROM sample)
        ),
        hit AS (SELECT * FROM blocked INTERSECT SELECT * FROM exact),
        ne AS (SELECT COUNT(*) AS n_exact FROM exact),
        nbk AS (SELECT COUNT(*) AS n_blocked FROM blocked),
        nh AS (SELECT COUNT(*) AS n_hit FROM hit)
        SELECT CAST(n_exact AS BIGINT) AS n_exact,
               CAST(n_blocked AS BIGINT) AS n_blocked,
               CAST(n_hit AS BIGINT) AS n_hit,
               CAST(CASE WHEN n_blocked = 0 THEN 1000000
                    ELSE (n_hit * 1000000) // n_blocked END AS BIGINT)
                   AS precision_micro,
               CAST(CASE WHEN n_exact = 0 THEN 1000000
                    ELSE (n_hit * 1000000) // n_exact END AS BIGINT)
                   AS recall_micro
        FROM ne CROSS JOIN nbk CROSS JOIN nh
    """


def x_dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Broder containment pairs (|A∩B| / min|A|,|B| over char 8-grams):
    the doc-in-doc inclusion signal Jaccard misses — the injected
    drop-first-word variants sit near containment 1.0 against their
    sources while their Jaccard can fall with length ratio. Rarest-
    gram blocking generates candidates (exact recall for true
    containment: the contained side's rarest gram is in the
    container); deterministic ranks ⇒ full-value oracle."""
    corpus = _dedup_corpus(spark, sf_dir)
    return D.ngram_containment_pairs(corpus, n=8, bottom_k=3, threshold=0.8)


def x_setsim_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT all-pairs set-similarity self-join at Jaccard ≥ 9/10 over
    word-token sets — prefix filtering (Bayardo et al. 2007 All-Pairs;
    Xiao et al. 2008 PPJoin), the LOSSLESS deterministic complement of
    MinHash-LSH: candidate recall is provably exact, so the brute-
    force DuckDB oracle is a full-value check of blocking AND verify.
    Rational threshold (10·inter ≥ 9·union) keeps every verdict in
    integer arithmetic."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return D.setsim_join_pairs(docs, tau_num=9, tau_den=10)


def x_substr_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Substring-level exact dedup profile (Lee et al. 2021 criterion):
    per document, tokens covered by an 8-token window that recurs in
    another document. Dataflow form of suffix-array dedup — window
    hashes, ≥2-distinct-docs filter, gaps-and-islands coverage union."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return D.duplicated_ngram_spans(docs, n=8)


def x_substr_strip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boilerplate removal at token granularity: rewrite each document
    with every token inside a cross-document duplicated 8-token window
    removed (CCNet/C4-style cleanup, acting counterpart of
    x_substr_dedup)."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return D.strip_duplicated_spans(docs, n=8)


def x_warc_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship LLM-ingestion pipeline, end to end through the engine's
    own surfaces: WARC records constructed from the corpus (A4 payload
    format) → parsed back → cross-document duplicated spans stripped
    from the payload (substring dedup) → fully-boilerplate docs
    dropped → the CLEANED text scored for quality and language. The
    DuckDB oracle replays the entire chain, including the parse."""
    from mapr_plugins_spark.operators.text import quality_features, with_language_id
    from mapr_plugins_spark.sources.formats import parse_expr
    from mapr_plugins_spark.sources.registry import warc_record_expr

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    payloads = docs.select(
        "doc_id",
        parse_expr("warc", warc_record_expr()).getField("payload").alias("text"),
    )
    stripped = D.strip_duplicated_spans(payloads, n=8)
    kept = stripped.filter(F.col("kept_tokens") > 0).select(
        "doc_id", F.col("clean_text").alias("text")
    )
    scored = with_language_id(quality_features(kept, text_col="text"), text_col="text")
    return scored.select(
        "doc_id",
        F.col("n_tokens").cast("long").alias("clean_tokens"),
        "quality_score",
        "lang_pred",
    )


def x_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return D.simhash(_t(spark, sf_dir, "documents"), bits=_SIMHASH_BITS)


def x_dedup_embcos(spark: SparkSession, sf_dir: str) -> DataFrame:
    return D.embedding_near_dup_pairs(_t(spark, sf_dir, "embeddings"), threshold=0.4)


def x_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental MinHash dedup: the injected variant wave (ids
    +1000000) deduped against the existing corpus via a delta→corpus
    band-signature join — per-wave cost O(|delta|), never corpus².
    Oracle = the full-pair pipeline restricted to cross-side pairs
    (provably the same set: the id ranges are disjoint)."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    delta = docs.select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.regexp_replace("text", "^[a-z]+ ", "").alias("text"),
    )
    return D.incremental_near_dup_pairs(
        docs, delta, n_hashes=_MINHASH_SEEDS, band_rows=_BAND_ROWS, threshold=0.5
    )


def _sigstore_dir(sf_dir: str) -> str:
    import os

    d = (
        f"/tmp/mapr_plugins_sigstore/"
        f"{_data_fingerprint(sf_dir, 'documents')}-mh{_MINHASH_SEEDS}b{_BAND_ROWS}"
    )
    os.makedirs(os.path.dirname(d), exist_ok=True)
    return d


def x_dedup_incremental_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental MinHash dedup against a PERSISTED signature store:
    the corpus's band signatures stage once per data fingerprint
    (atomic rename — the same amortization as the ANN indexes) and
    each delta wave equi-joins the STORED signatures, so per-wave work
    never touches the corpus side except to fetch the tiny candidate
    docs for Jaccard verify. Output ≡ x_dedup_incremental (staging
    changes where corpus signatures come from, not their values), so
    the same full-value oracle grades the store machinery."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    d = _sigstore_dir(sf_dir)
    _ensure_staged(
        d,
        lambda tmp: D.minhash_band_signatures(
            docs, "doc_id", "text", k=3, n_hashes=_MINHASH_SEEDS, band_rows=_BAND_ROWS
        )
        .write.mode("overwrite")
        .parquet(f"{tmp}/bands"),
    )
    delta = docs.select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.regexp_replace("text", "^[a-z]+ ", "").alias("text"),
    )
    return D.incremental_near_dup_pairs(
        docs,
        delta,
        n_hashes=_MINHASH_SEEDS,
        band_rows=_BAND_ROWS,
        threshold=0.5,
        corpus_bands=spark.read.parquet(f"{d}/bands"),
    )


def x_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup over the embeddings table: deterministic seed-centroid
    integer-L2 assignment with COUNT-SCALED cluster cardinality
    (round-9: fixed k made within-cluster pair work quadratic — 14.3×
    at 10× data) + within-cluster cosine pruning;
    (vec_id, cluster_id, is_kept)."""
    return D.semantic_dedup(_t(spark, sf_dir, "embeddings"), threshold=0.4)


def x_semantic_dedup_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup through the TRAINED-centroid-table input — the
    >16.7M-vector production path (round-11: past
    ``_MAX_CENTROID_CELLS`` the lowest-id-seed rule's collect outgrows
    the task closure, so callers route through a fixed pre-trained
    codebook instead). The centroid table here is a deterministic
    strided sample of the corpus (every 128th vector by id) standing
    in for a KMeans/IVF coarse quantizer: same (cell_id, vector)
    shape as the IVF index's persisted ``<path>/centroids``, but with
    a bit-replayable provenance so the FULL-VALUE oracle can replay
    the trained-table code path end-to-end — driver-side micro-unit
    quantization of raw doubles, coarse prefix by table order (rank of
    ascending cell_id, not id value), and cells named by the table's
    OWN ids (here: vec_id multiples of 128, not 0..n-1 ranks — a
    mis-mapped cell id or a rank/value confusion in the coarse prefix
    would hash-mismatch). The float KMeans path itself is exercised by
    ``test_trained_centroids_path_on_ivf_index`` (MLlib centroids are
    not SQL-replayable); (vec_id, cluster_id, is_kept)."""
    emb = _t(spark, sf_dir, "embeddings")
    cents = emb.filter(F.col("vec_id") % 128 == 0).select(
        F.col("vec_id").alias("cell_id"), F.col("embedding").alias("centroid")
    )
    return D.semantic_dedup(emb, threshold=0.4, centroids=cents)


def x_semantic_dedup_codebook(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup through a FIXED-SIZE trained codebook — the
    production-SHAPED trained-path exhibit (round-11 watch-item #1:
    x_semantic_dedup_trained's fixed-stride table GROWS with the
    corpus, so its decade curve measures a shape production never
    runs). Here the centroid table is a fixed-COUNT strided sample:
    ``stride = (count + 255) // 256`` (integer arithmetic, replayed
    bit-for-bit by the oracle's scalar subquery), vectors with
    ``vec_id % stride == 0`` — ~256 centroids at EVERY corpus size, so
    the driver collect, the task closure, and the routing matrix are
    all corpus-size-independent, exactly like a KMeans/IVF codebook
    whose size is fixed at train time. The honest trade a fixed
    codebook makes: within-cell occupancy grows with the corpus, so
    pair-candidate volume grows ~quadratically per cell — which is why
    production sizes the codebook FOR the target corpus at train time
    (SemDeDup runs ~100k clusters at web scale), and why this exhibit
    sizes it at 256 (occupancy stays double-digit across the probed
    decade: a 64-cell draft measured 8.1x at 10x data, pair-join-bound;
    256 cells keep the same fixed-table plumbing with the occupancy
    the design intends). (vec_id, cluster_id, is_kept).

    Assumes DENSE 0..n-1 vec_ids (the testdata contract): with sparse
    or offset ids the ``vec_id % stride == 0`` sample would select far
    fewer (or zero) rows, so the selected count is asserted into the
    expected ~256 band below instead of surfacing later as a generic
    empty-centroids error (round-12 advice)."""
    emb = _t(spark, sf_dir, "embeddings")
    stride = (emb.count() + 255) // 256
    cents = emb.filter(F.col("vec_id") % stride == 0).select(
        F.col("vec_id").alias("cell_id"), F.col("embedding").alias("centroid")
    )
    n_sel = cents.limit(520).count()  # bounded probe: a band check, never corpus-sized
    if not 128 <= n_sel <= 512:
        raise ValueError(
            f"fixed-codebook strided sample selected {n_sel} centroids, "
            "outside the expected ~256 band [128, 512] — the guard catches "
            "sparsity COLLAPSE (ids far from dense 0..n-1 select few/zero "
            "centroids); benign block-shifted layouts overshoot slightly, "
            "hence the 2x headroom. With truly sparse ids pass a trained "
            "centroid table instead of the strided sample"
        )
    return D.semantic_dedup(emb, threshold=0.4, centroids=cents)


def x_cdc_chunk_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined chunking near-dup pairs over the dedup corpus
    (payload-level storage-dedup primitive: boundaries move with the
    content, so the dropped-prefix variants re-align within one chunk
    and keep high chunk overlap — fixed blocks would shift every
    hash)."""
    corpus = _dedup_corpus(spark, sf_dir)
    return D.cdc_chunk_dedup_pairs(corpus, window=8, mod=32, threshold=0.5)


def x_cdc_chunk_dedup_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CDC near-dup miner on its scale path: ``max_chunk_freq=64``
    stop-chunk removal bounds every candidate bucket, making candidate
    volume linear in the corpus (uncapped it is Σc·(c−1)/2 over
    chunk-bucket widths — candidate growth is quadratic BY DATA when
    common chunks recur). Verify still scores the FULL chunk arrays,
    so every emitted jaccard is exact; the oracle replays the
    frequency valve bit-for-bit. The semantic contract: linear
    candidate volume, exact jaccard on everything emitted, the only
    trade is recall on pairs whose ONLY shared chunks are ultra-common
    — see SCALE.md ("CDC stop-chunk valve") for the measured decade
    ratios and recall on the current corpus (measurements live there,
    not here, so they can't silently drift as data or hardware
    change); on the test corpus the capped sf0.1 output is identical
    to uncapped, so prefer the exact key on small corpora."""
    corpus = _dedup_corpus(spark, sf_dir)
    return D.cdc_chunk_dedup_pairs(
        corpus, window=8, mod=32, threshold=0.5, max_chunk_freq=64
    )


def x_minhash_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected-component cluster assignment for every doc in a
    near-dup pair (doc_id → min-id canonical): the collapse operator as
    its own oracle-checked surface (recursive reachability closure in
    the oracle)."""
    corpus = _dedup_corpus(spark, sf_dir)
    pairs = D.verified_near_dup_pairs(
        corpus, n_hashes=_MINHASH_SEEDS, band_rows=_BAND_ROWS, threshold=0.5
    )
    return D.collapse_components(pairs)


def x_dedup_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end dedup ACTION table: MinHash pairs → connected
    components → survivorship (longest text, tie lowest id) → a total
    keep/replace map over the corpus. The artifact a curation pipeline
    persists and every downstream join consumes."""
    corpus = _dedup_corpus(spark, sf_dir)
    pairs = D.verified_near_dup_pairs(
        corpus, n_hashes=_MINHASH_SEEDS, band_rows=_BAND_ROWS, threshold=0.5
    )
    return D.canonical_replacement(corpus, D.collapse_components(pairs))


def _canonical_oracle() -> str:
    """Clusters closure (the x_minhash_clusters oracle) + survivorship
    window + total map over the injected corpus."""
    pairs = _minhash_pairs_ctes(_CORPUS_SQL, 0.5)
    return f"""
        WITH RECURSIVE {pairs},
        edges AS (
            SELECT id_a AS src, id_b AS dst FROM pairs
            UNION
            SELECT id_b, id_a FROM pairs
        ),
        nodes AS (SELECT DISTINCT src AS id FROM edges),
        reach AS (
            SELECT id AS src, id AS dst FROM nodes
            UNION
            SELECT r.src, e.dst FROM reach r JOIN edges e ON e.src = r.dst
        ),
        clus AS (
            SELECT src AS doc_id, min(dst) AS cluster_id
            FROM reach GROUP BY src
        ),
        full_t AS (
            SELECT c.doc_id,
                   COALESCE(cl.cluster_id, c.doc_id) AS cluster_id,
                   length(c.text) AS n
            FROM corpus c LEFT JOIN clus cl USING (doc_id)
        ),
        surv AS (
            SELECT cluster_id, doc_id AS survivor_id FROM (
                SELECT cluster_id, doc_id,
                       row_number() OVER (PARTITION BY cluster_id
                                          ORDER BY n DESC, doc_id ASC) AS rn
                FROM full_t
            ) WHERE rn = 1
        )
        SELECT f.doc_id, f.cluster_id, s.survivor_id,
               CASE WHEN f.doc_id = s.survivor_id THEN 'keep'
                    ELSE 'replace' END AS action
        FROM full_t f JOIN surv s USING (cluster_id)
    """


def x_url_canonical_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Web-corpus URL canonicalization + dedup: messy URLs (mixed-case
    scheme/host, www prefix, default port, tracking params, fragments)
    are normalized with parse_url + higher-order filters, then grouped.
    The oracle does NOT reimplement the parser — it derives the ground-
    truth canonical form from the same deterministic generator, so the
    whole parse→normalize→dedup chain is value-checked end to end."""
    docs = _t(spark, sf_dir, "documents").select("doc_id")
    url = F.expr(
        "concat('HTTPS://WWW.Example', CAST(doc_id % 7 AS STRING), '.COM:443/p/',"
        " CAST(doc_id % 50 AS STRING), '?utm_source=feed&ref=r',"
        " CAST(doc_id % 5 AS STRING),"
        " CASE WHEN doc_id % 2 = 0 THEN concat('&id=', CAST(doc_id % 13 AS STRING))"
        "      ELSE '' END, '#sec')"
    )
    d = docs.select("doc_id", url.alias("url"))
    host = F.regexp_replace(F.lower(F.parse_url("url", F.lit("HOST"))), "^www\\.", "")
    path = F.parse_url("url", F.lit("PATH"))
    kept = F.array_join(
        F.filter(
            F.split(F.coalesce(F.parse_url("url", F.lit("QUERY")), F.lit("")), "&"),
            lambda p: ~(p.startswith("utm_") | p.startswith("ref=") | (p == "")),
        ),
        "&",
    )
    canon = F.concat(
        F.lit("https://"),
        host,
        path,
        F.when(kept != "", F.concat(F.lit("?"), kept)).otherwise(F.lit("")),
    )
    return (
        d.select("doc_id", canon.alias("canon_url"))
        .groupBy("canon_url")
        .agg(F.min("doc_id").alias("keep_doc"), F.count(F.lit(1)).alias("n_dupes"))
    )


def _fuzzy_name_pairs(
    spark: SparkSession, sf_dir: str, max_group_width: int | None = None
) -> DataFrame:
    """Shared fuzzy-join kernel for x_fuzzy_join_levenshtein /
    x_fuzzy_join_capped: pairs of part keys whose names are within
    edit distance ≤ 2, blocked by (first token, |Δlength| ≤ 2).

    ``max_group_width`` is the OUTPUT valve (round-11 verdict #2, on
    the x_cdc_chunk_dedup_capped precedent): uncapped, the emitted
    pair table itself is quadratic BY DATA — duplicate-name group
    widths grow linearly with the corpus, and every name pair expands
    to |group_a|·|group_b| key pairs (measured ~91× cost at 10× data,
    SCALE.md: compute per emitted pair is linear; the OUTPUT explodes).
    When set, each name group is represented by its ``K`` LOWEST part
    keys (row_number over (name, key ASC) — the record-linkage
    canonical-representative convention), so emitted pairs are bounded
    by K²·(name pairs): corpus-size-INDEPENDENT whenever the name
    vocabulary is (here 64 names at every sf). The name-pair mining —
    already width-free since the round-7 canonicalize-then-expand
    rewrite — is unchanged; the trade is linkage pairs involving
    non-representative group members, which a consumer recovers by
    joining representatives back to their groups (key→name→group, an
    equi-join, never pairwise). Default ``None`` preserves the exact
    all-pairs output (and the graded uncapped oracle's values)."""
    p = _t(spark, sf_dir, "part").select("p_partkey", "p_name")
    if max_group_width is not None:
        # loud cap validation (the trained-centroid-id precedent): a
        # 0/negative cap would silently empty the output, and a
        # non-integral one would silently truncate through the
        # row_number comparison
        if (
            isinstance(max_group_width, bool)  # True is an int subclass:
            # int(True) == True and True >= 1 both hold, so without this
            # check a boolean cap would silently mean "1" (round-12 advice)
            or int(max_group_width) != max_group_width
            or max_group_width < 1
        ):
            raise ValueError(
                f"max_group_width must be an integer >= 1, got "
                f"{max_group_width!r} — it is the number of lowest-key "
                "representatives kept per name group"
            )
        from pyspark.sql import Window

        w = Window.partitionBy("p_name").orderBy("p_partkey")
        p = (
            p.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") <= max_group_width)
            .drop("__rn")
        )
    # Canonicalize-then-expand (the entity-resolution standard): run
    # the quadratic predicate on DISTINCT names only — exact-duplicate
    # groups are enormous in real catalogs (here 64 distinct names
    # over 20k rows at sf0.1), so per-row pair joins re-evaluate the
    # same string pair group_a×group_b times. Name-level pairs carry
    # one banded levenshtein each; the per-key pair table is then
    # rebuilt by two equi-joins whose cost is proportional to the
    # OUTPUT (which is the floor for any plan that materializes it).
    names = p.select("p_name").distinct().select(
        "p_name",
        F.substring_index("p_name", " ", 1).alias("b1"),
        F.length("p_name").alias("ln"),
    )
    na, nb = names.alias("na"), names.alias("nb")
    npairs = (
        na.join(
            nb,
            (F.col("na.b1") == F.col("nb.b1"))
            & (F.abs(F.col("na.ln") - F.col("nb.ln")) <= 2)
            & (F.col("na.p_name") <= F.col("nb.p_name")),
        )
        .withColumn("dist", F.expr("levenshtein(na.p_name, nb.p_name, 2)"))
        .filter((F.col("dist") >= 0) & (F.col("dist") <= 2))
        .select(
            F.col("na.p_name").alias("n_x"),
            F.col("nb.p_name").alias("n_y"),
            "dist",
        )
    )
    # symmetrize distinct-name pairs (identical-name rows stay single)
    # so the key_a < key_b filter below keeps every qualifying key
    # pair exactly once regardless of which group holds the lower key
    sym = npairs.unionByName(
        npairs.filter(F.col("n_x") < F.col("n_y")).select(
            F.col("n_y").alias("n_x"), F.col("n_x").alias("n_y"), "dist"
        )
    )
    ka = p.select(F.col("p_name").alias("n_x"), F.col("p_partkey").alias("key_a"))
    kb = p.select(F.col("p_name").alias("n_y"), F.col("p_partkey").alias("key_b"))
    return (
        sym.join(ka, "n_x")
        .join(kb, "n_y")
        .filter(F.col("key_a") < F.col("key_b"))
        .select("key_a", "key_b", "dist")
    )


def x_fuzzy_join_levenshtein(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy self-join on part names: pairs within edit distance ≤ 2,
    blocked by (first token, |Δlength| ≤ 2 — lossless for the k=2
    predicate since lev ≤ 2 ⟹ |Δlen| ≤ 2), the classic record-linkage
    shape. Round-7 rewrite, prompted by the first-ever bench row for
    this key (35 s at sf0.1 = 42M in-block levenshtein evaluations
    under the old per-row ``length/4``-bucket join, which also
    silently missed bucket-boundary pairs): the quadratic predicate
    now runs on DISTINCT names only, with Spark's BANDED
    ``levenshtein(l, r, threshold)`` (O(k·n) band, exact when ≤ k,
    -1 beyond), and the per-key pair table is rebuilt by equi-join
    expansion — output-proportional, duplicate-group-size-free.
    The OUTPUT itself is still quadratic by data (group widths grow
    with the corpus); x_fuzzy_join_capped is the bounded-output scale
    path."""
    return _fuzzy_name_pairs(spark, sf_dir)


def x_fuzzy_join_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The fuzzy join on its scale path: ``max_group_width=4`` caps
    each duplicate-name group to its 4 lowest part keys before pair
    expansion, bounding the emitted pair table by 16·(name pairs) —
    corpus-size-independent here (the name vocabulary is fixed), vs
    ~91× cost at 10× data uncapped because the OUTPUT pair table is
    quadratic in group widths (SCALE.md "fuzzy-join group-width
    valve" carries the measured decade ratios; measurements live
    there, not here). Every emitted (key_a, key_b, dist) is exact —
    the valve drops pairs, never distorts them — and the oracle
    replays the row_number cut bit-for-bit; the biting-cap
    differential test pins exactly which pairs drop (those where
    either key ranks > 4 within its name group)."""
    return _fuzzy_name_pairs(spark, sf_dir, max_group_width=4)


#: Fellegi–Sunter agreement weights: (feature, agree_w, disagree_w)
#: in micro-ln-odds units (ln(m/u)·1e6 / ln((1−m)/(1−u))·1e6 for a
#: documented synthetic m/u table — a production deployment estimates
#: m/u via EM over a labeled or unlabeled sample; FIXED literals keep
#: the exhibit bit-replayable). Name equality dominates, then brand,
#: type, and the ±2 size band, mirroring their discriminative power.
_FS_WEIGHTS: tuple[tuple[str, int, int], ...] = (
    ("name_eq", 2_197_000, -693_000),
    ("brand_eq", 1_386_000, -288_000),
    ("type_eq", 693_000, -182_000),
    ("size_close", 405_000, -105_000),
)
_FS_UPPER = 2_500_000  # ≥ upper → 'match'
_FS_LOWER = 500_000  # [lower, upper) → 'possible'; below → not emitted
_FS_BLOCK_WIDTH = 8  # representatives kept per block (lowest keys)


def x_record_linkage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fellegi–Sunter probabilistic record linkage over the part
    catalog (Fellegi & Sunter 1969 — the classic two-threshold
    decision rule; public method): candidate pairs come from
    (first-word × size-band) BLOCKING with a per-block representative
    cap (the graded fuzzy-join valve pattern — the
    ``_FS_BLOCK_WIDTH`` lowest keys per block via one row_number
    window — so candidate volume is blocks·C(w,2): linear in the
    number of blocks, never quadratic by data; the widest raw block
    here is 269 rows, which uncapped would already be ~36k pairs), and
    each pair is scored by an exact-integer micro-ln-odds agreement
    pattern over name/brand/type/±2-size and classified by the
    two-threshold rule. Differs from ``x_fuzzy_join_levenshtein`` in
    METHOD — probabilistic agreement weights over a feature vector vs
    a single edit-distance predicate — which is why both exist (the
    reference user's entity-resolution toolbox has both shapes). Only
    match/possible pairs are emitted (the F-S 'non-link' class is the
    unbounded one). Plan: one scan, one window shuffle on the block
    key, one block-key equi self-join (Catalyst broadcasts the
    capped representative table at test scale; at 100 TB it is a
    co-partitioned shuffle join on the block key), pure-codegen
    CASE-sum scoring. (key_a, key_b, score_micro, verdict)."""
    from pyspark.sql import Window

    p = _t(spark, sf_dir, "part").select(
        "p_partkey", "p_name", "p_brand", "p_type", "p_size"
    )
    blocked = p.select(
        "*",
        F.substring_index("p_name", " ", 1).alias("blk1"),
        F.expr("p_size div 10").alias("blk2"),
    )
    w = Window.partitionBy("blk1", "blk2").orderBy("p_partkey")
    reps = (
        blocked.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= _FS_BLOCK_WIDTH)
        .drop("__rn")
    )
    a, b = reps.alias("a"), reps.alias("b")
    pairs = a.join(
        b,
        (F.col("a.blk1") == F.col("b.blk1"))
        & (F.col("a.blk2") == F.col("b.blk2"))
        & (F.col("a.p_partkey") < F.col("b.p_partkey")),
    )
    agree = {
        "name_eq": F.col("a.p_name") == F.col("b.p_name"),
        "brand_eq": F.col("a.p_brand") == F.col("b.p_brand"),
        "type_eq": F.col("a.p_type") == F.col("b.p_type"),
        "size_close": F.abs(F.col("a.p_size") - F.col("b.p_size")) <= F.lit(2),
    }
    score = None
    for feat, m_w, u_w in _FS_WEIGHTS:
        term = F.when(agree[feat], F.lit(m_w)).otherwise(F.lit(u_w)).cast("long")
        score = term if score is None else score + term
    return (
        pairs.select(
            F.col("a.p_partkey").alias("key_a"),
            F.col("b.p_partkey").alias("key_b"),
            score.alias("score_micro"),
        )
        .filter(F.col("score_micro") >= _FS_LOWER)
        .withColumn(
            "verdict",
            F.when(F.col("score_micro") >= _FS_UPPER, F.lit("match")).otherwise(
                F.lit("possible")
            ),
        )
    )


def x_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC-style table diff: compare the customer snapshot with a
    deterministically perturbed copy (drop keys ≡0 mod 97, change
    balance on keys ≡1 mod 31, add keys +100000 for ≡0 mod 103) and
    classify every key as added / removed / changed. ONE full-outer
    join on the key with row-hash comparison — no row-by-row diffing,
    shuffle bounded by the two snapshots."""
    old = _t(spark, sf_dir, "customer").select("c_custkey", "c_name", "c_acctbal")
    new = (
        old.filter(F.col("c_custkey") % 97 != 0)
        .withColumn(
            "c_acctbal",
            F.when(F.col("c_custkey") % 31 == 1, F.col("c_acctbal") + 10.0).otherwise(
                F.col("c_acctbal")
            ),
        )
        .unionByName(
            old.filter(F.col("c_custkey") % 103 == 0).select(
                (F.col("c_custkey") + 100000).alias("c_custkey"), "c_name", "c_acctbal"
            )
        )
    )
    oh = old.select("c_custkey", F.md5(F.concat_ws("|", "c_name", "c_acctbal")).alias("h_old"))
    nh = new.select("c_custkey", F.md5(F.concat_ws("|", "c_name", "c_acctbal")).alias("h_new"))
    j = oh.join(nh, "c_custkey", "full_outer")
    return (
        j.withColumn(
            "change",
            F.when(F.col("h_old").isNull(), "added")
            .when(F.col("h_new").isNull(), "removed")
            .when(F.col("h_old") != F.col("h_new"), "changed"),
        )
        .filter(F.col("change").isNotNull())
        .select("c_custkey", "change")
    )


def x_sorted_neighborhood(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sorted-neighborhood record linkage over customers ∪ injected
    typo variants (3rd address char dropped, ids offset): within
    (nation, first-address-char) blocks sorted by address, compare
    each record to its 3 successors, keep edit distance ≤ 2. LINEAR
    candidate volume (O(n·w)) — the scalable complement of block-
    quadratic fuzzy joining; full-value oracle replays the windows."""
    from mapr_plugins_spark.operators.dedup import sorted_neighborhood_pairs

    c = _t(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_nationkey"
    )
    variants = c.select(
        (F.col("c_custkey") + 1000000).alias("c_custkey"),
        F.expr(
            "concat(substring(c_name, 1, 2), substring(c_name, 4))"
        ).alias("c_name"),
        "c_nationkey",
    )
    corpus = c.unionByName(variants)
    return sorted_neighborhood_pairs(
        corpus, "c_custkey", "c_name", ["c_nationkey"],
        window=4, max_edit_distance=2,
    )


def x_golden_record(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity resolution end-to-end: sorted-neighborhood linkage →
    connected components → per-cluster majority survivorship (ties →
    lexicographic min) → the total golden entity table."""
    cust = _t(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_nationkey"
    )
    variants = cust.select(
        (F.col("c_custkey") + 1000000).alias("c_custkey"),
        F.expr(
            "concat(substring(c_name, 1, 2), substring(c_name, 4))"
        ).alias("c_name"),
        "c_nationkey",
    )
    corpus = cust.unionByName(variants)
    pairs = D.sorted_neighborhood_pairs(
        corpus, "c_custkey", "c_name", ["c_nationkey"],
        window=4, max_edit_distance=2,
    )
    clusters = D.collapse_components(
        pairs.select("id_a", "id_b")
    )
    return D.golden_record(
        corpus, clusters, "c_custkey", ["c_name", "c_nationkey"]
    )


def _golden_record_oracle() -> str:
    return """
        WITH RECURSIVE corpus AS (
            SELECT c_custkey AS id, c_name AS v, c_nationkey AS nk
            FROM customer
            UNION ALL
            SELECT c_custkey + 1000000,
                   concat(substr(c_name, 1, 2), substr(c_name, 4)),
                   c_nationkey
            FROM customer
        ),
        l AS (
            SELECT id AS ida, v AS va,
                   lead(id, 1) OVER w AS id1, lead(v, 1) OVER w AS v1,
                   lead(id, 2) OVER w AS id2, lead(v, 2) OVER w AS v2,
                   lead(id, 3) OVER w AS id3, lead(v, 3) OVER w AS v3
            FROM corpus WINDOW w AS (PARTITION BY nk ORDER BY v, id)
        ),
        cand AS (
            SELECT ida, va, id1 AS idb, v1 AS vb FROM l WHERE id1 IS NOT NULL
            UNION ALL
            SELECT ida, va, id2, v2 FROM l WHERE id2 IS NOT NULL
            UNION ALL
            SELECT ida, va, id3, v3 FROM l WHERE id3 IS NOT NULL
        ),
        pairs AS (
            SELECT DISTINCT least(ida, idb) AS id_a,
                   greatest(ida, idb) AS id_b
            FROM cand WHERE levenshtein(va, vb) <= 2
        ),
        edges AS (
            SELECT id_a AS src, id_b AS dst FROM pairs
            UNION
            SELECT id_b, id_a FROM pairs
        ),
        nodes AS (SELECT DISTINCT src AS id FROM edges),
        reach AS (
            SELECT id AS src, id AS dst FROM nodes
            UNION
            SELECT r.src, e.dst FROM reach r JOIN edges e ON e.src = r.dst
        ),
        clus AS (
            SELECT src AS id, min(dst) AS cluster_id FROM reach GROUP BY src
        ),
        full_t AS (
            SELECT c.id, COALESCE(cl.cluster_id, c.id) AS cluster_id,
                   c.v, c.nk
            FROM corpus c LEFT JOIN clus cl USING (id)
        ),
        sizes AS (
            SELECT cluster_id, CAST(COUNT(*) AS BIGINT) AS n_members
            FROM full_t GROUP BY 1
        ),
        pick_v AS (
            SELECT cluster_id, v AS golden_c_name FROM (
                SELECT cluster_id, v,
                       row_number() OVER (PARTITION BY cluster_id
                                          ORDER BY COUNT(*) DESC, v ASC)
                           AS rn
                FROM full_t GROUP BY cluster_id, v
            ) WHERE rn = 1
        ),
        pick_nk AS (
            SELECT cluster_id, nk AS golden_c_nationkey FROM (
                SELECT cluster_id, nk,
                       row_number() OVER (PARTITION BY cluster_id
                                          ORDER BY COUNT(*) DESC, nk ASC)
                           AS rn
                FROM full_t GROUP BY cluster_id, nk
            ) WHERE rn = 1
        )
        SELECT s.cluster_id, s.n_members, pv.golden_c_name,
               pnk.golden_c_nationkey
        FROM sizes s
        JOIN pick_v pv USING (cluster_id)
        JOIN pick_nk pnk USING (cluster_id)
    """


def x_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    eval_df = docs.filter((F.col("doc_id") % 97) == 0)
    train = docs.filter((F.col("doc_id") % 97) != 0)
    return X.decontaminate(train, eval_df, n=3)


def _minhash_oracle() -> str:
    return f"WITH {_minhash_pairs_ctes(_CORPUS_SQL, 0.5)} SELECT * FROM pairs"


def _cdc_chunk_oracle(
    window: int = 8,
    mod: int = 32,
    threshold: float = 0.5,
    max_chunk_freq: int | None = None,
) -> str:
    """SQL replay of cdc_chunk_dedup_pairs: identical boundary rule
    (trailing-window md5-60 ≡ 0 mod ``mod``), identical chunk slicing
    (DuckDB's indexed lambda is 1-based where Spark's is 0-based — the
    CASE arms mirror the IF arms one index up), identical Jaccard.
    ``max_chunk_freq`` replays the stop-chunk valve exactly: chunk keys
    held by more than that many documents leave CANDIDATE generation
    (the ``cand`` join), while verify still scores the full arrays."""
    from mapr_plugins_spark.functions.portable_hash import hex15_to_bigint_sql

    hv_s = hex15_to_bigint_sql("s['h']")
    hv_h = hex15_to_bigint_sql("h")
    cand_src = "cg"
    freq_cte = ""
    if max_chunk_freq is not None:
        # int-coerce before the f-string: a non-int numeric (2.5)
        # would interpolate into valid but unintended SQL (round-10
        # advice) — and the Spark side's semi-join threshold is an
        # integer count comparison, so int is the only faithful type
        max_chunk_freq = int(max_chunk_freq)
        freq_cte = f"""
        rare AS (
            SELECT chk FROM cg GROUP BY chk
            HAVING count(*) <= {max_chunk_freq}
        ),
        ccg AS (SELECT cg.doc_id, cg.chk FROM cg JOIN rare USING (chk)),"""
        cand_src = "ccg"
    return f"""
        WITH corpus AS ({_CORPUS_SQL}),
        base AS (SELECT doc_id, text, length(text) AS n FROM corpus),
        pm AS (
            SELECT doc_id, text, n,
                   list_transform(range({window}, n + 1),
                       i -> {{'i': i, 'h': md5(substr(text, i - {window - 1}, {window}))}})
                       AS pm1
            FROM base
        ),
        cut AS (
            SELECT doc_id, text,
                   list_sort(list_distinct(list_append(
                       list_transform(
                           list_filter(pm1, s -> {hv_s} % {mod} = 0),
                           s -> s['i']),
                       n))) AS cuts
            FROM pm
        ),
        ch AS (
            SELECT doc_id,
                   list_transform(cuts, (c, j) -> md5(substr(text,
                       CASE WHEN j = 1 THEN 1 ELSE cuts[j - 1] + 1 END,
                       c - CASE WHEN j = 1 THEN 0 ELSE cuts[j - 1] END))) AS hx
            FROM cut
        ),
        sigs AS (
            SELECT doc_id, list_distinct(list_transform(hx, h -> {hv_h})) AS g
            FROM ch
        ),
        cg AS (SELECT doc_id, unnest(g) AS chk FROM sigs),{freq_cte}
        cand AS (
            SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
            FROM {cand_src} a JOIN {cand_src} b
            ON a.chk = b.chk AND a.doc_id < b.doc_id
        ),
        sizes AS (SELECT doc_id, len(g) AS sn FROM sigs),
        inter AS (
            SELECT c.id_a, c.id_b, len(list_intersect(sa.g, sb.g)) AS ni
            FROM cand c
            JOIN sigs sa ON sa.doc_id = c.id_a
            JOIN sigs sb ON sb.doc_id = c.id_b
        )
        SELECT i.id_a, i.id_b,
               CAST(i.ni AS DOUBLE) / (za.sn + zb.sn - i.ni) AS jaccard
        FROM inter i
        JOIN sizes za ON za.doc_id = i.id_a
        JOIN sizes zb ON zb.doc_id = i.id_b
        WHERE CAST(i.ni AS DOUBLE) / (za.sn + zb.sn - i.ni) >= {threshold}
    """


def _substr_hits_ctes(
    n: int, corpus_sql: str = "SELECT doc_id, text FROM documents"
) -> str:
    """CTE chain ``base .. hits`` replicating _duplicated_window_hits:
    identical window hashing (portable md5-60) and identical
    ≥2-distinct-docs rule — shared by the span-profile, strip, and
    warc-ingest oracles."""
    gh = seeded_hash60_sql(f"array_to_string(w[pos + 1 : pos + {n}], ' ')", "0")
    return f"""base AS (
            SELECT doc_id, string_split(text, ' ') AS w,
                   CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
            FROM ({corpus_sql})
        ),
        win AS (
            SELECT doc_id, w, unnest(range(0, len(w) - {n} + 1)) AS pos
            FROM base WHERE len(w) >= {n}
        ),
        grams AS (SELECT doc_id, pos, {gh} AS gh FROM win),
        dup AS (SELECT gh FROM grams GROUP BY gh HAVING COUNT(DISTINCT doc_id) >= 2),
        hits AS (SELECT g.doc_id, g.pos FROM grams g JOIN dup USING (gh))"""


def _substr_dedup_oracle(n: int = 8) -> str:
    """SQL replay of duplicated_ngram_spans: shared hit CTEs, then the
    identical gaps-and-islands coverage union. Window SUM stays
    internal (a GROUP BY key), so no HUGEINT ever reaches the graded
    output."""
    return f"""
        WITH {_substr_hits_ctes(n)},
        isl AS (
            SELECT doc_id, pos,
                   CASE WHEN lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) IS NULL
                          OR pos > lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) + {n}
                        THEN 1 ELSE 0 END AS ni
            FROM hits
        ),
        isl2 AS (
            SELECT doc_id, pos,
                   SUM(ni) OVER (PARTITION BY doc_id ORDER BY pos) AS island
            FROM isl
        ),
        spans AS (
            SELECT doc_id, island, MAX(pos) + {n} - MIN(pos) AS span
            FROM isl2 GROUP BY 1, 2
        ),
        cov AS (
            SELECT doc_id, CAST(SUM(span) AS BIGINT) AS dup_tokens
            FROM spans GROUP BY 1
        )
        SELECT b.doc_id, b.n_tokens,
               COALESCE(c.dup_tokens, 0) AS dup_tokens,
               CAST(COALESCE(c.dup_tokens, 0) AS DOUBLE) / b.n_tokens AS dup_frac
        FROM base b LEFT JOIN cov c USING (doc_id)
    """


def _warc_ingest_oracle(n: int = 8) -> str:
    """Full-chain replay of x_warc_ingest: WARC construction + payload
    extraction (sources/registry.WARC_RECORD_SQL), the strip chain over
    the extracted payloads, boilerplate-only drop, then the shared
    quality + language-id fragments over the CLEANED text."""
    from mapr_plugins_spark.sources.registry import WARC_RECORD_SQL

    corpus = f"""
        SELECT doc_id,
               substr(s, strpos(s, repeat(chr(13) || chr(10), 2)) + 4) AS text
        FROM (SELECT doc_id, {WARC_RECORD_SQL} AS s FROM documents)
    """
    quality = _quality_sql()
    score_cols, m, case = _langid_sql()
    return f"""
        WITH {_substr_hits_ctes(n, corpus)},
        cov AS (
            SELECT DISTINCT doc_id, unnest(range(pos, pos + {n})) AS pos FROM hits
        ),
        toks0 AS (SELECT doc_id, unnest(range(0, len(w))) AS pos, w FROM base),
        tok2 AS (SELECT doc_id, pos, w[CAST(pos + 1 AS INT)] AS token FROM toks0),
        kept0 AS (
            SELECT t.doc_id, t.pos, t.token
            FROM tok2 t LEFT JOIN cov c ON c.doc_id = t.doc_id AND c.pos = t.pos
            WHERE c.doc_id IS NULL
        ),
        clean AS (
            SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS kept_tokens,
                   string_agg(token, ' ' ORDER BY pos) AS clean_text
            FROM kept0 GROUP BY 1
        ),
        fin AS (
            SELECT b.doc_id, c.clean_text AS text
            FROM base b JOIN clean c USING (doc_id)
            WHERE c.kept_tokens > 0
        ),
        t AS (SELECT doc_id, text, {_TOKS_SQL} AS toks FROM fin),
        q AS (
            SELECT doc_id, CAST(len(toks) AS BIGINT) AS clean_tokens,
                   {quality} AS quality_score
            FROM t
        ),
        s AS (SELECT doc_id, {score_cols} FROM t WHERE len(toks) > 0),
        l AS (
            SELECT doc_id, CASE {case} END AS lang_pred
            FROM (SELECT *, {m} AS m FROM s)
        )
        SELECT q.doc_id, q.clean_tokens, q.quality_score, l.lang_pred
        FROM q JOIN l ON l.doc_id = q.doc_id
    """


def _substr_strip_oracle(n: int = 8) -> str:
    """SQL replay of strip_duplicated_spans: shared hit CTEs, covered
    positions, anti-join of the token stream, ordered reassembly.
    string_agg over zero rows is NULL where Spark's concat_ws gives ''
    → COALESCE both the text and the count."""
    return f"""
        WITH {_substr_hits_ctes(n)},
        cov AS (
            SELECT DISTINCT doc_id, unnest(range(pos, pos + {n})) AS pos FROM hits
        ),
        toks AS (SELECT doc_id, unnest(range(0, len(w))) AS pos, w FROM base),
        tok2 AS (SELECT doc_id, pos, w[CAST(pos + 1 AS INT)] AS token FROM toks),
        kept AS (
            SELECT t.doc_id, t.pos, t.token
            FROM tok2 t LEFT JOIN cov c ON c.doc_id = t.doc_id AND c.pos = t.pos
            WHERE c.doc_id IS NULL
        ),
        clean AS (
            SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS kept_tokens,
                   string_agg(token, ' ' ORDER BY pos) AS clean_text
            FROM kept GROUP BY 1
        )
        SELECT b.doc_id, b.n_tokens,
               COALESCE(c.kept_tokens, 0) AS kept_tokens,
               COALESCE(c.clean_text, '') AS clean_text
        FROM base b LEFT JOIN clean c USING (doc_id)
    """


def _ngram_jaccard_oracle(n: int = 4, block_chars: int = 16, threshold: float = 0.6) -> str:
    return f"""
        WITH corpus AS ({_CORPUS_SQL}),
        blocks AS (SELECT doc_id, right(text, {block_chars}) AS bkey FROM corpus),
        cand AS (
            SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
            FROM blocks a JOIN blocks b
              ON a.bkey = b.bkey AND a.doc_id < b.doc_id
        ),
        ids AS (
            SELECT DISTINCT doc_id FROM (
                SELECT id_a AS doc_id FROM cand UNION ALL SELECT id_b FROM cand
            )
        ),
        grams AS (
            SELECT DISTINCT c.doc_id,
                   unnest(list_transform(range(1, length(c.text) - {n} + 2),
                          i -> substr(c.text, CAST(i AS INT), {n}))) AS g
            FROM corpus c JOIN ids USING (doc_id)
            WHERE length(c.text) >= {n}
        ),
        sizes AS (SELECT doc_id, COUNT(*) AS sz FROM grams GROUP BY 1),
        inter AS (
            SELECT c.id_a, c.id_b, COUNT(*) AS ni
            FROM cand c
            JOIN grams g1 ON g1.doc_id = c.id_a
            JOIN grams g2 ON g2.doc_id = c.id_b AND g2.g = g1.g
            GROUP BY 1, 2
        )
        SELECT i.id_a, i.id_b,
               CAST(i.ni AS DOUBLE) / (sa.sz + sb.sz - i.ni) AS jaccard
        FROM inter i
        JOIN sizes sa ON sa.doc_id = i.id_a
        JOIN sizes sb ON sb.doc_id = i.id_b
        WHERE CAST(i.ni AS DOUBLE) / (sa.sz + sb.sz - i.ni) >= {threshold}
    """


def _containment_oracle(n: int = 8, bottom_k: int = 3, threshold: float = 0.8) -> str:
    """Replay of the containment pipeline: distinct HASHED gram sets
    (portable seeded 60-bit hash — round-7 shuffle-bytes fix, replayed
    here so the differential gate is collision-proof), per-doc bottom-k
    RAREST grams ((df, gram-hash)-ranked), candidate join, |∩|/min-size
    verify. The md5 hex is materialized once per gram occurrence before
    the 15-digit arithmetic (the digit form would re-evaluate it 15×)."""
    from mapr_plugins_spark.functions.portable_hash import hex15_to_bigint_sql

    return f"""
        WITH corpus AS ({_CORPUS_SQL}),
        garr AS MATERIALIZED (
            SELECT doc_id,
                   list_transform(range(1, length(text) - {n} + 2),
                       i -> substr(text, CAST(i AS INT), {n})) AS g
            FROM corpus WHERE length(text) >= {n}
        ),
        gsh AS (
            SELECT doc_id, md5(concat(gram0, '#', '0')) AS hh
            FROM (SELECT doc_id, unnest(g) AS gram0 FROM garr)
        ),
        gs AS MATERIALIZED (
            SELECT DISTINCT doc_id, {hex15_to_bigint_sql("hh")} AS gram
            FROM gsh
        ),
        dfreq AS (SELECT gram, COUNT(*) AS dfc FROM gs GROUP BY 1),
        probes AS (
            SELECT doc_id AS pid, gram AS pg FROM (
                SELECT s.doc_id, s.gram,
                       row_number() OVER (PARTITION BY s.doc_id
                                          ORDER BY d.dfc, s.gram) AS rn
                FROM gs s JOIN dfreq d USING (gram)
            ) WHERE rn <= {bottom_k}
        ),
        cand AS (
            SELECT DISTINCT least(p.pid, s.doc_id) AS id_a,
                            greatest(p.pid, s.doc_id) AS id_b
            FROM probes p JOIN gs s
              ON s.gram = p.pg AND s.doc_id <> p.pid
        ),
        sizes AS (SELECT doc_id, COUNT(*) AS sz FROM gs GROUP BY 1),
        inter AS (
            SELECT c.id_a, c.id_b, COUNT(*) AS ni
            FROM cand c
            JOIN gs g1 ON g1.doc_id = c.id_a
            JOIN gs g2 ON g2.doc_id = c.id_b AND g2.gram = g1.gram
            GROUP BY 1, 2
        )
        SELECT i.id_a, i.id_b,
               CAST(i.ni AS DOUBLE) / least(sa.sz, sb.sz) AS containment
        FROM inter i
        JOIN sizes sa ON sa.doc_id = i.id_a
        JOIN sizes sb ON sb.doc_id = i.id_b
        WHERE CAST(i.ni AS DOUBLE) / least(sa.sz, sb.sz) >= {threshold}
    """


def _two_level_cell_ctes(
    extra_cols: tuple[str, ...] = (), cent_sql: str | None = None
) -> str:
    """CTE chain replaying :func:`mapr_plugins_spark.operators.dedup.
    _centroid_cell_udf`'s TWO-LEVEL integer cell routing bit-for-bit
    (shared by the x_dedup_embcos and x_semantic_dedup[_trained]
    oracles):

    * ``cent`` — the centroid set ``(cl, cq)``; default = the
      ``GREATEST(8, count // 128)`` lowest-id vectors with
      ``cl = rank`` (scalar-subquery LIMIT = the Spark driver-side
      sizing), micro-unit quantized exactly as the engine quantizes.
      ``cent_sql`` overrides the body for TRAINED centroid tables
      (round-11), where ``cl`` is the table's own cell id — possibly
      sparse/non-consecutive;
    * ``coarse`` — the ``ceil(sqrt(n_cells))`` PREFIX by RANK of
      ascending ``cl`` (rank == cl for the default path; for a
      trained table the engine's coarse level is the first rows of
      the id-sorted matrix, NOT ids below a numeric bound — a
      value-based cut would silently diverge on sparse ids). IEEE
      double sqrt is correctly rounded in both engines, so the prefix
      length is bit-identical to the engine's ``_coarse_count``;
    * ``sg`` / ``vg`` — seed→group and vector→group integer-d² argmins
      (d2 ASC, group ASC — np.argmin's first-min tie law; ascending
      ``gco`` == ascending coarse rank, so the group tie-break is the
      engine's lowest-row-first either way);
    * ``asg`` — the final cell: argmin over ONLY the seeds of the
      vector's probed group (d2 ASC, cell ASC == ascending member
      rank).

    ``extra_cols`` are carried from the embeddings table through to
    ``asg`` (e.g. the embcos blocking label)."""
    ex = "".join(f", {c}" for c in extra_cols)
    exq = "".join(f", e.{c}" for c in extra_cols)
    cent_body = cent_sql or """
                SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS BIGINT) AS cl,
                       q AS cq
                FROM e ORDER BY vec_id
                LIMIT GREATEST(8, (SELECT count(*) FROM e) // 128)"""
    return f"""
            e AS MATERIALIZED (
                SELECT vec_id{ex}, embedding::DOUBLE[] AS v,
                       list_transform(embedding::DOUBLE[],
                           x -> CAST(floor(x * 1000000) AS BIGINT)) AS q
                FROM embeddings
            ),
            cent AS MATERIALIZED ({cent_body}
            ),
            coarse AS MATERIALIZED (
                SELECT cl AS gco, cq AS gq FROM (
                    SELECT cl, cq,
                           CAST(row_number() OVER (ORDER BY cl) - 1 AS BIGINT) AS rk
                    FROM cent
                ) WHERE rk < CAST(ceil(sqrt(CAST((SELECT count(*) FROM cent)
                                               AS DOUBLE))) AS BIGINT)
            ),
            sg AS MATERIALIZED (
                SELECT cl, grp FROM (
                    SELECT cent.cl, co.gco AS grp,
                           row_number() OVER (PARTITION BY cent.cl ORDER BY
                               {_int_d2_sql("cent.cq", "co.gq")} ASC,
                               co.gco ASC) AS rn
                    FROM cent CROSS JOIN coarse co
                ) WHERE rn = 1
            ),
            vg AS MATERIALIZED (
                SELECT vec_id, grp FROM (
                    SELECT e.vec_id, co.gco AS grp,
                           row_number() OVER (PARTITION BY e.vec_id ORDER BY
                               {_int_d2_sql("e.q", "co.gq")} ASC,
                               co.gco ASC) AS rn
                    FROM e CROSS JOIN coarse co
                ) WHERE rn = 1
            ),
            asg AS MATERIALIZED (
                SELECT vec_id{ex}, v, cl AS cell FROM (
                    SELECT e.vec_id{exq}, e.v, c.cl,
                           row_number() OVER (PARTITION BY e.vec_id ORDER BY
                               {_int_d2_sql("e.q", "c.cq")} ASC,
                               c.cl ASC) AS rn
                    FROM e
                    JOIN vg ON vg.vec_id = e.vec_id
                    JOIN sg ON sg.grp = vg.grp
                    JOIN cent c ON c.cl = sg.cl
                ) WHERE rn = 1
            )
    """


def _simhash_oracle() -> str:
    h = seeded_hash60_sql("token", "0")
    bit_sums = ", ".join(
        f"SUM(CASE WHEN (hh // {1 << b}) % 2 = 1 THEN 1 ELSE -1 END) AS s{b}"
        for b in range(_SIMHASH_BITS)
    )
    sig = " + ".join(
        f"CASE WHEN s{b} > 0 THEN CAST({1 << b} AS BIGINT) ELSE 0 END"
        for b in range(_SIMHASH_BITS)
    )
    return f"""
        WITH toks AS (SELECT doc_id, unnest({_TOKS_SQL}) AS token FROM documents),
        h AS (SELECT doc_id, {h} AS hh FROM toks),
        bits AS (SELECT doc_id, {bit_sums} FROM h GROUP BY doc_id)
        SELECT doc_id, CAST({sig} AS BIGINT) AS simhash FROM bits
    """


def oracles() -> dict[str, str]:
    """DuckDB oracles for the dedup family keys."""
    from mapr_plugins_spark.operators.reg_common import _CORPUS_SQL, _TOKS_SQL, _clusters_oracle, _minhash_pairs_ctes

    return {
        "q22_exact_dedup": """
            SELECT DISTINCT * FROM
            (SELECT * FROM documents UNION ALL SELECT * FROM documents)
        """,
        "x_dedup_minhash_pairs": _minhash_oracle(),
        "x_substr_dedup": _substr_dedup_oracle(),
        "x_substr_strip": _substr_strip_oracle(),
        "x_warc_ingest": _warc_ingest_oracle(),
        "x_dedup_ngram_jaccard": _ngram_jaccard_oracle(),
        "x_dedup_containment": _containment_oracle(n=8, bottom_k=3, threshold=0.8),
        # brute force IS the oracle: prefix filtering is lossless, so
        # the engine's blocked plan must reproduce every brute pair.
        # Token identity = the portable 60-bit hash (round-9 BIGINT
        # shuffle fix) — the oracle replays the identical hash, so the
        # gate stays collision-proof under any collision.
        "x_setsim_join": f"""
            WITH toks AS (
                SELECT doc_id,
                       list_transform(
                           list_distinct(list_filter(
                               string_split_regex(lower(text), '[^a-z]+'),
                               t -> t <> '')),
                           t -> {hex15_to_bigint_sql("md5(concat(t, '#', '0'))")}) AS t
                FROM documents
            ),
            s AS (SELECT doc_id, t, len(t) AS m FROM toks WHERE len(t) > 0),
            tp AS (SELECT doc_id, unnest(t) AS token FROM s),
            cand AS (
                SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                       CAST(COUNT(*) AS BIGINT) AS inter
                FROM tp a
                JOIN tp b ON a.token = b.token AND a.doc_id < b.doc_id
                GROUP BY 1, 2
            )
            SELECT id_a, id_b, inter,
                   CAST(sa.m + sb.m - inter AS BIGINT) AS union_size,
                   CAST(inter AS DOUBLE) / (sa.m + sb.m - inter) AS jaccard
            FROM cand
            JOIN s sa ON sa.doc_id = cand.id_a
            JOIN s sb ON sb.doc_id = cand.id_b
            WHERE 10 * inter >= 9 * (sa.m + sb.m - inter)
        """,
        "x_dedup_simhash": _simhash_oracle(),
        # replays the round-10 (label, centroid-cell) sub-blocking with
        # TWO-LEVEL routing: seeds = lowest-id vectors, n_cells =
        # GREATEST(8, count // 128), coarse prefix = ceil(sqrt(n_cells)),
        # assignment = exact integer micro-unit squared-L2 argmin at both
        # levels with first-min tie-breaks (the x_kmeans_lloyd machinery —
        # no float comparison decides a bucket), then cosine-verified
        # pairs within (label, cell).
        "x_dedup_embcos": f"""
            WITH {_two_level_cell_ctes(("label",))}
            SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                   round(list_cosine_similarity(a.v, b.v), 6) AS cos6
            FROM asg a JOIN asg b
              ON a.label = b.label AND a.cell = b.cell AND a.vec_id < b.vec_id
            WHERE list_cosine_similarity(a.v, b.v) >= 0.4
        """,
        # the full-pair pipeline restricted to cross-side (corpus, delta)
        # pairs — provably identical to the delta→corpus signature join
        # (id ranges disjoint, so every cross pair has id_a < 1000000 <=
        # id_b and vice versa)
        "x_dedup_incremental": (
            f"WITH {_minhash_pairs_ctes(_CORPUS_SQL, 0.5)} "
            "SELECT * FROM pairs WHERE id_a < 1000000 AND id_b >= 1000000"
        ),
        # identical result contract: the indexed variant only changes
        # where the corpus signatures come from (the persisted store)
        "x_dedup_incremental_indexed": (
            f"WITH {_minhash_pairs_ctes(_CORPUS_SQL, 0.5)} "
            "SELECT * FROM pairs WHERE id_a < 1000000 AND id_b >= 1000000"
        ),
        "x_cdc_chunk_dedup": _cdc_chunk_oracle(),
        "x_cdc_chunk_dedup_capped": _cdc_chunk_oracle(max_chunk_freq=64),
        # replays the round-10 count-scaled TWO-LEVEL integer-L2 cell
        # assignment (shared CTE chain with x_dedup_embcos): seeds =
        # lowest-id vectors, n_clusters = GREATEST(8, count // 128),
        # coarse prefix = ceil(sqrt(n_clusters)), argmin exact integer
        # micro-unit d² at both levels with first-min tie-breaks
        "x_semantic_dedup": f"""
            WITH {_two_level_cell_ctes()},
            dup AS (
                SELECT DISTINCT b.vec_id
                FROM asg a JOIN asg b
                  ON a.cell = b.cell AND a.vec_id < b.vec_id
                WHERE list_cosine_similarity(a.v, b.v) >= 0.4
            )
            SELECT a.vec_id, a.cell AS cluster_id, (d.vec_id IS NULL) AS is_kept
            FROM asg a LEFT JOIN dup d ON d.vec_id = a.vec_id
        """,
        # replays the round-11 TRAINED-centroid-table path: cent = the
        # strided (vec_id % 128 = 0) sample with cl = the table's OWN
        # cell ids (sparse, non-consecutive — a rank/value confusion
        # in the coarse prefix or a mis-mapped emitted cell would
        # hash-mismatch); same two-level integer-d² routing downstream
        "x_semantic_dedup_trained": f"""
            WITH {_two_level_cell_ctes(cent_sql='''
                SELECT CAST(vec_id AS BIGINT) AS cl, q AS cq
                FROM e WHERE vec_id % 128 = 0''')},
            dup AS (
                SELECT DISTINCT b.vec_id
                FROM asg a JOIN asg b
                  ON a.cell = b.cell AND a.vec_id < b.vec_id
                WHERE list_cosine_similarity(a.v, b.v) >= 0.4
            )
            SELECT a.vec_id, a.cell AS cluster_id, (d.vec_id IS NULL) AS is_kept
            FROM asg a LEFT JOIN dup d ON d.vec_id = a.vec_id
        """,
        # replays the FIXED-COUNT codebook path: stride is the same
        # integer arithmetic ((count + 255) // 256) as the engine's
        # driver-side sizing, so the ~256-entry centroid set — and
        # therefore every downstream routing decision — is bit-equal
        # at any corpus size
        "x_semantic_dedup_codebook": f"""
            WITH {_two_level_cell_ctes(cent_sql='''
                SELECT CAST(vec_id AS BIGINT) AS cl, q AS cq
                FROM e
                WHERE vec_id % (((SELECT count(*) FROM e) + 255) // 256) = 0''')},
            dup AS (
                SELECT DISTINCT b.vec_id
                FROM asg a JOIN asg b
                  ON a.cell = b.cell AND a.vec_id < b.vec_id
                WHERE list_cosine_similarity(a.v, b.v) >= 0.4
            )
            SELECT a.vec_id, a.cell AS cluster_id, (d.vec_id IS NULL) AS is_kept
            FROM asg a LEFT JOIN dup d ON d.vec_id = a.vec_id
        """,
        "x_golden_record": _golden_record_oracle(),
        "x_sorted_neighborhood": """
            WITH corpus AS (
                SELECT c_custkey AS id, c_name AS v, c_nationkey AS nk
                FROM customer
                UNION ALL
                SELECT c_custkey + 1000000,
                       concat(substr(c_name, 1, 2), substr(c_name, 4)),
                       c_nationkey
                FROM customer
            ),
            b AS (SELECT id, v, nk FROM corpus),
            l AS (
                SELECT id AS ida, v AS va,
                       lead(id, 1) OVER w AS id1, lead(v, 1) OVER w AS v1,
                       lead(id, 2) OVER w AS id2, lead(v, 2) OVER w AS v2,
                       lead(id, 3) OVER w AS id3, lead(v, 3) OVER w AS v3
                FROM b WINDOW w AS (PARTITION BY nk ORDER BY v, id)
            ),
            cand AS (
                SELECT ida, va, id1 AS idb, v1 AS vb FROM l WHERE id1 IS NOT NULL
                UNION ALL
                SELECT ida, va, id2, v2 FROM l WHERE id2 IS NOT NULL
                UNION ALL
                SELECT ida, va, id3, v3 FROM l WHERE id3 IS NOT NULL
            )
            SELECT DISTINCT least(ida, idb) AS id_a,
                   greatest(ida, idb) AS id_b,
                   CAST(levenshtein(va, vb) AS BIGINT) AS edit_dist
            FROM cand WHERE levenshtein(va, vb) <= 2
        """,
        "x_minhash_clusters": _clusters_oracle(),
        "x_dedup_canonical": _canonical_oracle(),
        "x_blocking_recall": _blocking_recall_oracle(),
        "x_url_canonical_dedup": """
            WITH truth AS (
                SELECT doc_id,
                       'https://example' || CAST(doc_id % 7 AS VARCHAR) || '.com/p/'
                       || CAST(doc_id % 50 AS VARCHAR)
                       || CASE WHEN doc_id % 2 = 0
                               THEN '?id=' || CAST(doc_id % 13 AS VARCHAR)
                               ELSE '' END AS canon_url
                FROM documents
            )
            SELECT canon_url, min(doc_id) AS keep_doc, count(*) AS n_dupes
            FROM truth GROUP BY canon_url
        """,
        "x_fuzzy_join_levenshtein": """
            WITH blocked AS (
                SELECT p_partkey, p_name,
                       split_part(p_name, ' ', 1) AS b1,
                       length(p_name) AS ln
                FROM part
            )
            SELECT a.p_partkey AS key_a, b.p_partkey AS key_b,
                   levenshtein(a.p_name, b.p_name) AS dist
            FROM blocked a JOIN blocked b
              ON a.b1 = b.b1 AND abs(a.ln - b.ln) <= 2
             AND a.p_partkey < b.p_partkey
            WHERE levenshtein(a.p_name, b.p_name) <= 2
        """,
        # replays the group-width valve bit-for-bit: the row_number
        # cut (name ASC partition, key ASC order, rank ≤ 4) runs
        # BEFORE blocking/pairing, so the blocked all-pairs predicate
        # over the capped table is provably the engine's
        # canonicalize-then-expand plan restricted to representatives
        "x_fuzzy_join_capped": """
            WITH capped AS (
                SELECT p_partkey, p_name FROM (
                    SELECT p_partkey, p_name,
                           row_number() OVER (PARTITION BY p_name
                               ORDER BY p_partkey) AS rn
                    FROM part
                ) WHERE rn <= 4
            ),
            blocked AS (
                SELECT p_partkey, p_name,
                       split_part(p_name, ' ', 1) AS b1,
                       length(p_name) AS ln
                FROM capped
            )
            SELECT a.p_partkey AS key_a, b.p_partkey AS key_b,
                   levenshtein(a.p_name, b.p_name) AS dist
            FROM blocked a JOIN blocked b
              ON a.b1 = b.b1 AND abs(a.ln - b.ln) <= 2
             AND a.p_partkey < b.p_partkey
            WHERE levenshtein(a.p_name, b.p_name) <= 2
        """,
        # independent replay of the Fellegi–Sunter exhibit: DuckDB's
        # own string_split/row_number replay the blocking + cap, the
        # agreement CASE-sum replays the integer micro-ln-odds weights
        # verbatim, and the two-threshold rule classifies — every
        # quantity BIGINT, no float anywhere in the decision path
        "x_record_linkage": """
            WITH p AS (
                SELECT p_partkey, p_name, p_brand, p_type, p_size FROM part
            ),
            blocked AS (
                SELECT *, string_split(p_name, ' ')[1] AS blk1,
                       p_size // 10 AS blk2
                FROM p
            ),
            reps AS (
                SELECT * FROM (
                    SELECT *, row_number() OVER (PARTITION BY blk1, blk2
                                                 ORDER BY p_partkey) AS rn
                    FROM blocked
                ) WHERE rn <= 8
            ),
            scored AS (
                SELECT a.p_partkey AS key_a, b.p_partkey AS key_b,
                       CAST(CASE WHEN a.p_name = b.p_name
                                 THEN 2197000 ELSE -693000 END
                          + CASE WHEN a.p_brand = b.p_brand
                                 THEN 1386000 ELSE -288000 END
                          + CASE WHEN a.p_type = b.p_type
                                 THEN 693000 ELSE -182000 END
                          + CASE WHEN abs(a.p_size - b.p_size) <= 2
                                 THEN 405000 ELSE -105000 END
                            AS BIGINT) AS score_micro
                FROM reps a JOIN reps b
                  ON a.blk1 = b.blk1 AND a.blk2 = b.blk2
                 AND a.p_partkey < b.p_partkey
            )
            SELECT key_a, key_b, score_micro,
                   CASE WHEN score_micro >= 2500000 THEN 'match'
                        ELSE 'possible' END AS verdict
            FROM scored WHERE score_micro >= 500000
        """,
        "x_snapshot_diff": """
            WITH o AS (SELECT c_custkey, c_name, c_acctbal FROM customer),
            n AS (
                SELECT c_custkey, c_name,
                       CASE WHEN c_custkey % 31 = 1 THEN c_acctbal + 10.0
                            ELSE c_acctbal END AS c_acctbal
                FROM customer WHERE c_custkey % 97 <> 0
                UNION ALL
                SELECT c_custkey + 100000, c_name, c_acctbal
                FROM customer WHERE c_custkey % 103 = 0
            )
            SELECT c_custkey, change FROM (
                SELECT coalesce(o.c_custkey, n.c_custkey) AS c_custkey,
                       CASE WHEN o.c_custkey IS NULL THEN 'added'
                            WHEN n.c_custkey IS NULL THEN 'removed'
                            WHEN o.c_name <> n.c_name
                                 OR o.c_acctbal <> n.c_acctbal THEN 'changed'
                       END AS change
                FROM o FULL OUTER JOIN n ON o.c_custkey = n.c_custkey
            ) WHERE change IS NOT NULL
        """,
        "x_decontaminate": f"""
            WITH toks AS (SELECT doc_id, {_TOKS_SQL} AS t FROM documents),
            g AS (
                SELECT doc_id,
                       CASE WHEN len(t) >= 3
                            THEN list_distinct(list_transform(range(1, len(t) - 1),
                                 i -> array_to_string(t[i:i+2], ' ')))
                            ELSE [] END AS grams
                FROM toks
            ),
            eg AS (SELECT DISTINCT unnest(grams) AS gram FROM g WHERE doc_id % 97 = 0),
            tg AS (SELECT doc_id, unnest(grams) AS gram FROM g WHERE doc_id % 97 <> 0)
            SELECT tg.doc_id, COUNT(*) AS n_shared
            FROM tg JOIN eg USING (gram)
            GROUP BY tg.doc_id
        """,
    }
