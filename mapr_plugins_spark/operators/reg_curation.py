"""Corpus-curation extension queries + DuckDB oracles.

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
from mapr_plugins_spark.operators.reg_common import _EN_STOP, _TOKS_SQL, _langid_sql, _minhash_pairs_ctes, _quality_sql


def _chunk_oracle() -> str:
    from mapr_plugins_spark.operators.chunking import chunk_oracle_sql

    return chunk_oracle_sql(max_tokens=32, overlap=8, toks_sql=_TOKS_SQL)


def _pack_oracle() -> str:
    from mapr_plugins_spark.operators.chunking import pack_oracle_sql

    return pack_oracle_sql(
        budget=256,
        n_buckets=8,
        toks_sql=_TOKS_SQL,
        hash_sql=seeded_hash60_sql("CAST(doc_id AS STRING)", "0"),
    )


def x_split_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mapr_plugins_spark.operators.sampling import hash_split

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return hash_split(docs, "CAST(doc_id AS STRING)", train_pct=80, seed=7).select(
        "doc_id", "bucket", "split"
    )


def x_hash_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mapr_plugins_spark.operators.sampling import hash_sample

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return hash_sample(docs, "CAST(doc_id AS STRING)", fraction=0.25, seed=7).select(
        "doc_id"
    )


def x_target_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leave-one-out target encoding of event_type by event value
    (smoothing=10): exact-decimal category/global sums, one fixed
    double-op sequence — the standard leakage-safe categorical
    feature."""
    from mapr_plugins_spark.operators.analytics import target_encode_loo

    ev = _t(spark, sf_dir, "events").select("event_id", "event_type", "value")
    return target_encode_loo(ev, "event_type", "value", "event_id", smoothing=10.0)


def x_feature_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event_type equal-frequency (decile) binning of event values
    at exact rank arithmetic — the quantile bucketizer, with no
    percentile-interpolation convention to match."""
    from mapr_plugins_spark.operators.analytics import equal_frequency_bins

    ev = _t(spark, sf_dir, "events").select("event_id", "event_type", "value")
    return equal_frequency_bins(ev, "event_type", "value", "event_id", n_bins=10)


def x_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-weighted deterministic sampling: acceptance probability =
    least(1, n_chars/500) per doc (operators/sampling.py::
    weighted_hash_sample; zero shuffle)."""
    from mapr_plugins_spark.operators.sampling import weighted_hash_sample

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", F.least(F.lit(1.0), F.col("n_chars") / 500.0).alias("w")
    )
    return weighted_hash_sample(docs, "CAST(doc_id AS STRING)", "w").select("doc_id", "w")


def x_domain_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equal-share domain rebalancing over a deterministically skewed
    corpus slice: every source downsampled to the smallest source's
    size via per-source hash acceptance rates (operators/sampling.py::
    rebalance_sources)."""
    from mapr_plugins_spark.operators.sampling import rebalance_sources

    docs = (
        _t(spark, sf_dir, "documents")
        .filter(
            (F.col("doc_id") % 3 != 0)
            | F.col("source").isin("src0", "src1", "src2")
        )
        .select("doc_id", "source")
    )
    return rebalance_sources(docs, "CAST(doc_id AS STRING)", "source")


def x_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """α=1/2 temperature domain sampling (the XLM-R/mT5 multilingual
    mixing rule) over the same deterministically skewed corpus slice
    as x_domain_mix: output shares ∝ sqrt(n_s), smallest source kept
    whole — the middle ground between the natural mix (α=1) and
    equal-share rebalancing (α→0, x_domain_mix). α is fixed at 1/2 so
    the per-source rate is IEEE-correctly-rounded sqrt/÷ — bit-equal
    across engines, full-value oracle."""
    from mapr_plugins_spark.operators.sampling import temperature_mix

    docs = (
        _t(spark, sf_dir, "documents")
        .filter(
            (F.col("doc_id") % 3 != 0)
            | F.col("source").isin("src0", "src1", "src2")
        )
        .select("doc_id", "source")
    )
    return temperature_mix(docs, "source", "CAST(doc_id AS STRING)")


def x_doc_chunk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping token-window chunking (max 32 tokens, 8 overlap) —
    row-local sequence/slice HOFs, zero shuffle (operators/chunking.py)."""
    from mapr_plugins_spark.operators.chunking import chunk_tokens

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return chunk_tokens(docs, max_tokens=32, overlap=8)


def x_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy sequential context-window packing (budget 256 tokens,
    8 hash buckets) — bucketed applyInPandas fold (operators/chunking.py)."""
    from mapr_plugins_spark.operators.chunking import pack_sequences

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return pack_sequences(docs, budget=256, n_buckets=8)


def x_feature_hashing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashing-trick featurization (Weinberger et al. 2009) of the
    corpus into a fixed 64-bucket signed sparse space — the
    vocabulary-free crawl-scale vectorizer. Portable-hash buckets and
    signs; sparse long-format output; one explode + one aggregate."""
    from mapr_plugins_spark.operators.text import feature_hashing

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return feature_hashing(docs, n_buckets=64)


def x_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sampling: per-segment keep rates through
    portable content-hash buckets (full-value oracle)."""
    from mapr_plugins_spark.operators.sampling import stratified_hash_sample

    cust = _t(spark, sf_dir, "customer")
    return stratified_hash_sample(
        cust,
        "CAST(c_custkey AS STRING)",
        "c_mktsegment",
        {"BUILDING": 0.5, "MACHINERY": 0.1},
        default_rate=0.25,
    ).select("c_custkey", "c_mktsegment")


def x_vocab_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary build (top-20 tokens, dense ids) + order-preserving
    document encoding with OOV → -1."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    enc = X.encode_tokens(docs, X.build_vocab(docs, size=20))
    return enc.select("doc_id", F.concat_ws(",", F.col("ids")).alias("ids"))


def x_curate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end curation (exact dedup → near-dup collapse → quality
    filter → language tag) over the documents table. The iterative
    collapse runs during construction (Pregel-shaped); the DuckDB
    oracle replays the WHOLE chain — minhash pairs, a recursive
    reachability closure for the components, min-id survivors, quality
    + language scoring — so even the iterative stage is value-checked."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    out = D.curate(docs, min_quality=0.0)
    return out.select("doc_id", "lang_pred", "quality_score")


def x_training_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-call training-mix build — the composition a corpus pipeline
    ships: curate (exact + near-dup collapse → quality ≥ 0.5 →
    language tag) → deterministic 80/20 hash split → per
    (source, lang_pred, split) mix report with document and token
    budgets and the quality envelope (min/max — aggregate PICKS of
    bit-identical per-row doubles, immune to the decimal-midpoint
    rounding divergence a cross-engine mean can hit: Spark casts
    HALF_UP, DuckDB HALF_EVEN). Every stage is an already-graded
    operator; the oracle replays the ENTIRE chain (minhash pairs,
    recursive component closure, quality, langid, portable-hash
    split) down to the aggregated report."""
    from mapr_plugins_spark.operators.sampling import hash_split

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text", "source")
    curated = D.curate(docs, min_quality=0.5)
    split = hash_split(curated, "CAST(doc_id AS STRING)", train_pct=80, seed=7)
    return split.groupBy("source", "lang_pred", "split").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.col("n_tokens").cast("long")).alias("total_tokens"),
        F.min("quality_score").alias("min_quality"),
        F.max("quality_score").alias("max_quality"),
    )


def x_token_budget_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source token-budget fill (2000 tokens/source, ingestion
    order): the training-mix cap expressed in tokens, with running
    totals and keep verdicts for auditability."""
    from mapr_plugins_spark.operators.sampling import token_budget_fill

    docs = _t(spark, sf_dir, "documents")
    return token_budget_fill(
        docs, "source", "doc_id", F.size(X.tokens_col("text")), budget=2000
    )


def x_rare_collapse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequency-based rare-category collapsing of part types
    (min_count=30): the categorical-feature hygiene step — long-tail
    values fold into '__other__'. Total, deterministic, auditable."""
    from mapr_plugins_spark.operators.analytics import rare_category_collapse

    p = _t(spark, sf_dir, "part").select("p_partkey", "p_type")
    return rare_category_collapse(p, "p_type", "p_partkey", min_count=30)


def x_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document novelty curve: fraction of each doc's distinct
    3-gram shingles first seen in that doc (min-doc-id convention) —
    the curriculum/crawl-snapshot value measurement. Integer
    rationals."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return D.ngram_novelty(docs, k=3)


def x_wave_ingest_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-wave ingest observability report (waves = doc_id mod 4):
    doc and token volume, quality-classifier keep rate, predicted-
    English rate — the one-screen dashboard a crawl-snapshot ingest
    publishes per wave so drift in ANY upstream signal is visible
    before training consumes the data. Pure composition of the
    engine's own scoring operators; every rate an integer rational;
    ONE scan feeds all signals (the scoring columns are row-local) and
    one 4-group aggregate finishes."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    scored = X.lr_quality_score(docs)  # appends keep (row-local)
    lang = X.with_language_id(docs).select("doc_id", "lang_pred")
    from mapr_plugins_spark.operators.text import tokens_col

    base = docs.select(
        "doc_id",
        (F.col("doc_id") % 4).cast("int").alias("wave"),
        F.size(tokens_col("text")).cast("long").alias("n_toks"),
    )
    j = (
        base.join(scored.select("doc_id", "keep"), "doc_id")
        .join(lang, "doc_id")
    )
    return (
        j.groupBy("wave")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_toks").alias("total_tokens"),
            F.sum(F.col("keep").cast("long")).alias("n_keep"),
            F.sum((F.col("lang_pred") == "en").cast("long")).alias("n_en"),
        )
        .select(
            "wave",
            "n_docs",
            "total_tokens",
            F.expr("(n_keep * 1000000) DIV n_docs").alias("keep_rate_micro"),
            F.expr("(n_en * 1000000) DIV n_docs").alias("en_rate_micro"),
        )
    )


def _wave_report_oracle() -> str:
    score_cols, m, case = _langid_sql()
    return f"""
        WITH t AS (
            SELECT doc_id, doc_id % 4 AS wave, {_TOKS_SQL} AS toks
            FROM documents
        ),
        f AS (
            SELECT doc_id, wave, toks,
                   LEAST(len(toks), 100) * 10000 AS f_cap,
                   (len(list_filter(toks, x -> list_contains([{_EN_STOP}], x)))
                    * 1000000) // GREATEST(len(toks), 1) AS f_stop,
                   (len(list_distinct(toks)) * 1000000)
                    // GREATEST(len(toks), 1) AS f_ttr,
                   LEAST((list_sum(list_transform(toks, x -> strlen(x)))
                          * 1000000) // GREATEST(len(toks), 1), 8000000)
                    // 8 AS f_wlen
            FROM t
        ),
        sc AS (
            SELECT doc_id, wave, toks,
                   (3*f_cap + 2*f_stop + 3*f_ttr + 2*f_wlen) > 4300000
                       AS keep
            FROM f
        ),
        lg AS (
            SELECT doc_id, wave, keep, len(toks) AS n_toks, {score_cols}
            FROM sc
        ),
        lid AS (
            SELECT doc_id, wave, keep, n_toks,
                   (SELECT CASE {case} END
                    FROM (SELECT {m} AS m) _x) AS lang_pred
            FROM lg
        )
        SELECT CAST(wave AS INTEGER) AS wave,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(n_toks) AS BIGINT) AS total_tokens,
               CAST((SUM(CASE WHEN keep THEN 1 ELSE 0 END) * 1000000)
                    // COUNT(*) AS BIGINT) AS keep_rate_micro,
               CAST((SUM(CASE WHEN lang_pred = 'en' THEN 1 ELSE 0 END)
                    * 1000000) // COUNT(*) AS BIGINT) AS en_rate_micro
        FROM lid GROUP BY wave
    """


def x_incremental_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wave-vs-corpus novelty (docs ≡0 mod 4 are the incoming wave):
    per incoming doc, the fraction of its shingles absent from the
    whole existing corpus — the crawl-snapshot acquisition-value
    number; O(wave) probe against the persisted gram store at scale."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    wave = docs.filter(F.col("doc_id") % 4 == 0)
    existing = docs.filter(F.col("doc_id") % 4 != 0)
    return D.incremental_novelty(existing, wave, k=3)


def x_length_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Power-of-two length histogram per source (binary-digit-count
    buckets — no float log2), with integer-rational per-source
    shares — the corpus QA profile."""
    docs = _t(spark, sf_dir, "documents").select("source", "n_chars")
    return X.length_profile(docs)


def x_group_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe group-coherent train/test split keyed on the
    document's source domain: all docs of a source land on one side, so
    intra-source near-duplicates cannot straddle the eval boundary."""
    from mapr_plugins_spark.operators.sampling import group_split

    docs = _t(spark, sf_dir, "documents").select("doc_id", "source")
    return group_split(docs, "source", train_pct=80, seed=13).select(
        "doc_id", "source", "bucket", "split"
    )


def x_epoch_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic training-epoch shuffle: portable-hash permutation
    of the corpus with dense global positions (range partition +
    prefix-sum, no global-sort window) and round-robin shard
    assignment — the reproducible data-loader order a training run
    needs at 100 TB."""
    from mapr_plugins_spark.operators.sampling import epoch_shuffle

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    return epoch_shuffle(docs, "CAST(doc_id AS STRING)", n_shards=8, seed=23, epoch=1)


def x_dsir_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance resampling toward the src0 'target domain':
    hashed-bigram bucket profiles, integer micro-unit log-likelihood-
    ratio weights, top-10 kept per source."""
    from mapr_plugins_spark.operators.sampling import dsir_select

    docs = _t(spark, sf_dir, "documents").select("doc_id", "source", "text")
    return dsir_select(
        docs, "source = 'src0'", group_col="source", n_buckets=64, k_per_group=10, seed=29
    )


def _curate_oracle() -> str:
    """End-to-end curation replicated in SQL: minhash pairs → connected
    components (recursive reachability closure over the tiny pair
    graph) → min-id survivors → quality + language scoring."""
    pairs = _minhash_pairs_ctes("SELECT doc_id, text FROM documents", 0.5)
    quality = _quality_sql()
    score_cols, m, case = _langid_sql()
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
        canon AS (SELECT src AS did, min(dst) AS root FROM reach GROUP BY src),
        kept AS (
            SELECT d.doc_id, d.text FROM documents d
            WHERE d.doc_id NOT IN (SELECT did FROM canon WHERE did <> root)
        ),
        t AS (SELECT doc_id, text, {_TOKS_SQL} AS toks FROM kept),
        q AS (SELECT doc_id, {quality} AS quality_score FROM t),
        s AS (SELECT doc_id, {score_cols} FROM t WHERE len(toks) > 0),
        l AS (
            SELECT doc_id, CASE {case} END AS lang_pred
            FROM (SELECT *, {m} AS m FROM s)
        )
        SELECT q.doc_id, l.lang_pred, q.quality_score
        FROM q JOIN l ON l.doc_id = q.doc_id
    """


def _training_mix_oracle() -> str:
    """SQL replay of x_training_mix: the curate chain (pairs →
    recursive closure → min-id survivors), quality filter ≥ 0.5,
    langid, portable-hash 80/20 split, aggregated mix report. Integer
    SUM CAST to BIGINT (HUGEINT artifact class); the quality envelope
    is MIN/MAX (value picks) — a mean would round a decimal cast,
    where the engines' HALF_UP vs HALF_EVEN can diverge on
    representable midpoints."""
    from mapr_plugins_spark.functions.portable_hash import seeded_hash60_sql

    pairs = _minhash_pairs_ctes("SELECT doc_id, text FROM documents", 0.5)
    quality = _quality_sql()
    score_cols, m, case = _langid_sql()
    split = seeded_hash60_sql("CAST(doc_id AS STRING)", "7")
    return f"""
        WITH RECURSIVE {pairs},
        edges AS (
            SELECT id_a AS src, id_b AS dst FROM pairs
            UNION
            SELECT id_b, id_a FROM pairs
        ),
        cnodes AS (SELECT DISTINCT src AS id FROM edges),
        reach AS (
            SELECT id AS src, id AS dst FROM cnodes
            UNION
            SELECT r.src, e.dst FROM reach r JOIN edges e ON e.src = r.dst
        ),
        canon AS (SELECT src AS did, min(dst) AS root FROM reach GROUP BY src),
        kept AS (
            SELECT d.doc_id, d.text, d.source FROM documents d
            WHERE d.doc_id NOT IN (SELECT did FROM canon WHERE did <> root)
        ),
        t AS (SELECT doc_id, text, source, {_TOKS_SQL} AS toks FROM kept),
        q AS (
            SELECT doc_id, CAST(len(toks) AS INTEGER) AS n_tokens,
                   {quality} AS quality_score
            FROM t
        ),
        s AS (SELECT doc_id, {score_cols} FROM t WHERE len(toks) > 0),
        l AS (
            SELECT doc_id, CASE {case} END AS lang_pred
            FROM (SELECT *, {m} AS m FROM s)
        ),
        sp AS (
            SELECT doc_id,
                   CASE WHEN {split} % 100 < 80 THEN 'train' ELSE 'test' END AS split
            FROM kept
        )
        SELECT t.source, l.lang_pred, sp.split,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(CAST(q.n_tokens AS BIGINT)) AS BIGINT) AS total_tokens,
               MIN(q.quality_score) AS min_quality,
               MAX(q.quality_score) AS max_quality
        FROM t
        JOIN q ON q.doc_id = t.doc_id
        JOIN l ON l.doc_id = t.doc_id
        JOIN sp ON sp.doc_id = t.doc_id
        WHERE q.quality_score >= 0.5
        GROUP BY 1, 2, 3
    """


TOKEN_BUDGET_ORACLE_SQL = f"""
            WITH t AS (
                SELECT doc_id, source,
                       CAST(len({_TOKS_SQL}) AS INTEGER) AS n_tokens
                FROM documents
            ),
            c AS (
                SELECT doc_id, source, n_tokens,
                       CAST(SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                            AS BIGINT) AS cum_tokens
                FROM t
            )
            SELECT doc_id, source, n_tokens, cum_tokens,
                   cum_tokens <= 2000 AS kept
            FROM c
        """


def oracles() -> dict[str, str]:
    """DuckDB oracles for the curation family keys."""
    from mapr_plugins_spark.operators.reg_common import _TOKS_SQL

    return {
        "x_length_profile": """
            WITH b AS (
                SELECT source,
                       CAST(strlen(bin(n_chars)) AS INTEGER) AS bucket,
                       CAST(n_chars AS BIGINT) AS l
                FROM documents
            ),
            per AS (
                SELECT source, bucket, COUNT(*) AS n_docs,
                       SUM(l) AS total_chars
                FROM b GROUP BY 1, 2
            )
            SELECT source, bucket,
                   CAST(n_docs AS BIGINT) AS n_docs,
                   CAST(total_chars AS BIGINT) AS total_chars,
                   CAST((n_docs * 1000000)
                        // SUM(n_docs) OVER (PARTITION BY source)
                        AS BIGINT) AS share_micro
            FROM per
        """,
        "x_token_budget_fill": TOKEN_BUDGET_ORACLE_SQL,
        "x_rare_collapse": """
            WITH c AS (
                SELECT p_type, COUNT(*) AS category_count
                FROM part GROUP BY 1
            )
            SELECT p.p_partkey, p.p_type AS category,
                   CASE WHEN c.category_count >= 30 THEN p.p_type
                        ELSE '__other__' END AS encoded_category,
                   CAST(c.category_count AS BIGINT) AS category_count
            FROM part p JOIN c ON c.p_type = p.p_type
        """,
        "x_wave_ingest_report": _wave_report_oracle(),
        "x_incremental_novelty": """
            WITH w2 AS (
                SELECT doc_id, string_split(text, ' ') AS w FROM documents
            ),
            g AS (
                SELECT DISTINCT doc_id,
                       unnest(list_transform(range(1, len(w) - 1),
                              i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))
                           AS shingle
                FROM w2 WHERE len(w) >= 3
            ),
            wv AS (SELECT * FROM g WHERE doc_id % 4 = 0),
            seen AS (
                SELECT DISTINCT shingle FROM g WHERE doc_id % 4 <> 0
            ),
            tot AS (SELECT doc_id, COUNT(*) AS n_grams FROM wv GROUP BY 1),
            nw AS (
                SELECT doc_id, COUNT(*) AS n_new
                FROM wv ANTI JOIN seen USING (shingle)
                GROUP BY 1
            )
            SELECT t.doc_id,
                   CAST(n_grams AS BIGINT) AS n_grams,
                   CAST(COALESCE(n_new, 0) AS BIGINT) AS n_new,
                   CAST((COALESCE(n_new, 0) * 1000000) // n_grams
                        AS BIGINT) AS novelty_micro
            FROM tot t LEFT JOIN nw USING (doc_id)
        """,
        "x_ngram_novelty": """
            WITH w2 AS (
                SELECT doc_id, string_split(text, ' ') AS w FROM documents
            ),
            g AS (
                SELECT DISTINCT doc_id,
                       unnest(list_transform(range(1, len(w) - 1),
                              i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))
                           AS shingle
                FROM w2 WHERE len(w) >= 3
            ),
            f AS (
                SELECT shingle, MIN(doc_id) AS first_doc FROM g GROUP BY 1
            ),
            per AS (
                SELECT g.doc_id, COUNT(*) AS n_grams,
                       SUM(CASE WHEN f.first_doc = g.doc_id
                                THEN 1 ELSE 0 END) AS n_novel
                FROM g JOIN f USING (shingle) GROUP BY 1
            )
            SELECT doc_id, CAST(n_grams AS BIGINT) AS n_grams,
                   CAST(n_novel AS BIGINT) AS n_novel,
                   CAST((n_novel * 1000000) // n_grams AS BIGINT)
                       AS novelty_micro
            FROM per
        """,
        "x_group_split": f"""
            SELECT doc_id, source,
                   CAST({seeded_hash60_sql("source", "13")} % 100 AS INTEGER)
                       AS bucket,
                   CASE WHEN {seeded_hash60_sql("source", "13")} % 100 < 80
                        THEN 'train' ELSE 'test' END AS split
            FROM documents
        """,
        "x_feature_bins": """
            SELECT event_id, event_type, value,
                   CAST((row_number() OVER (PARTITION BY event_type
                                            ORDER BY value NULLS LAST,
                                                     event_id) - 1)
                        * 10
                        // (COUNT(*) OVER (PARTITION BY event_type))
                        AS BIGINT) AS bin
            FROM events
        """,
        "x_target_encode": """
            WITH g AS (
                SELECT event_id, event_type, value,
                       SUM(CAST(value AS DECIMAL(18,6)))
                           OVER (PARTITION BY event_type) AS csum,
                       CAST(COUNT(*) OVER (PARTITION BY event_type)
                            AS BIGINT) AS n_cat
                FROM events
            ),
            t AS (
                SELECT CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE)
                       / CAST(COUNT(*) AS DOUBLE) AS gmean
                FROM events
            )
            SELECT event_id, event_type, value, n_cat,
                   (CAST(csum - CAST(value AS DECIMAL(18,6)) AS DOUBLE)
                    + 10.0 * gmean)
                   / (CAST(n_cat - 1 AS DOUBLE) + 10.0) AS loo_te
            FROM g, t
        """,
        "x_epoch_shuffle": f"""
            WITH h AS (
                SELECT doc_id,
                       {seeded_hash60_sql("CAST(doc_id AS STRING)", "'23e1'")}
                           AS shuffle_key
                FROM documents
            ),
            r AS (
                SELECT doc_id, shuffle_key,
                       row_number() OVER (ORDER BY shuffle_key, doc_id) - 1
                           AS epoch_pos
                FROM h
            )
            SELECT doc_id, shuffle_key,
                   CAST(epoch_pos AS BIGINT) AS epoch_pos,
                   CAST(epoch_pos % 8 AS BIGINT) AS shard,
                   CAST(epoch_pos // 8 AS BIGINT) AS within_shard_pos
            FROM r
        """,
        "x_dsir_select": f"""
            WITH t AS (
                SELECT doc_id, source, (source = 'src0') AS is_tgt,
                       {_TOKS_SQL} AS toks
                FROM documents
            ),
            g AS (
                SELECT doc_id, source, is_tgt,
                       CASE WHEN len(toks) >= 2
                            THEN list_transform(range(1, len(toks)),
                                                i -> toks[i] || '_' || toks[i + 1])
                            ELSE [] END AS bgs
                FROM t
            ),
            e AS (SELECT doc_id, is_tgt, unnest(bgs) AS bg FROM g),
            b AS (
                SELECT doc_id, is_tgt,
                       {seeded_hash60_sql("bg", "29")} % 64 AS bucket
                FROM e
            ),
            cnt AS (
                SELECT doc_id, bucket, CAST(COUNT(*) AS BIGINT) AS c
                FROM b GROUP BY doc_id, bucket
            ),
            dist AS (
                SELECT bucket,
                       CAST(SUM(c) AS BIGINT) AS raw_n,
                       CAST(SUM(CASE WHEN b2.is_tgt THEN c ELSE 0 END)
                            AS BIGINT) AS tgt_n
                FROM cnt
                JOIN (SELECT DISTINCT doc_id, is_tgt FROM b) b2 USING (doc_id)
                GROUP BY bucket
            ),
            fulld AS (
                SELECT rb.bucket,
                       coalesce(raw_n, 0) AS raw_n,
                       coalesce(tgt_n, 0) AS tgt_n
                FROM (SELECT unnest(range(0, 64)) AS bucket) rb
                LEFT JOIN dist USING (bucket)
            ),
            tot AS (
                SELECT CAST(SUM(raw_n) AS BIGINT) AS raw_tot,
                       CAST(SUM(tgt_n) AS BIGINT) AS tgt_tot
                FROM fulld
            ),
            ratio AS (
                SELECT bucket,
                       CAST(round((ln((tgt_n + 1.0) / (tgt_tot + 64.0))
                                   - ln((raw_n + 1.0) / (raw_tot + 64.0)))
                                  * 1000000, 0) AS BIGINT) AS r
                FROM fulld, tot
            ),
            wts AS (
                SELECT g.doc_id, g.source,
                       CAST(len(g.bgs) AS INTEGER) AS n_bigrams,
                       CAST(coalesce(SUM(c * r), 0) AS BIGINT) AS weight_micro
                FROM g
                LEFT JOIN cnt ON cnt.doc_id = g.doc_id
                LEFT JOIN ratio ON ratio.bucket = cnt.bucket
                GROUP BY g.doc_id, g.source, len(g.bgs)
            )
            SELECT doc_id, source, n_bigrams, weight_micro,
                   CAST(row_number() OVER (PARTITION BY source
                                           ORDER BY weight_micro DESC, doc_id)
                        AS INTEGER) AS sel_rank,
                   row_number() OVER (PARTITION BY source
                                      ORDER BY weight_micro DESC, doc_id) <= 10
                       AS kept
            FROM wts
        """,
        "x_split_assign": f"""
            SELECT doc_id,
                   CAST({seeded_hash60_sql("CAST(doc_id AS STRING)", "7")} % 100 AS INTEGER)
                       AS bucket,
                   CASE WHEN {seeded_hash60_sql("CAST(doc_id AS STRING)", "7")} % 100 < 80
                        THEN 'train' ELSE 'test' END AS split
            FROM documents
        """,
        "x_hash_sample": f"""
            SELECT doc_id FROM documents
            WHERE {seeded_hash60_sql("CAST(doc_id AS STRING)", "7")} % 10000 < 2500
        """,
        "x_curate": _curate_oracle(),
        "x_training_mix": _training_mix_oracle(),
        "x_stratified_sample": f"""
            SELECT c_custkey, c_mktsegment FROM customer
            WHERE {seeded_hash60_sql("CAST(c_custkey AS STRING)", "11")} % 10000 <
                  CASE c_mktsegment WHEN 'BUILDING' THEN 5000
                                    WHEN 'MACHINERY' THEN 1000
                                    ELSE 2500 END
        """,
        "x_vocab_encode": f"""
            WITH toks AS (SELECT doc_id, {_TOKS_SQL} AS t FROM documents),
            tp AS (
                SELECT doc_id, unnest(t) AS token,
                       unnest(range(1, len(t) + 1)) AS pos
                FROM toks
            ),
            counts AS (SELECT token, COUNT(*) AS cnt FROM tp GROUP BY token),
            vocab AS (
                SELECT * FROM (
                    SELECT token,
                           CAST(row_number() OVER (ORDER BY cnt DESC, token) - 1 AS INT)
                               AS token_id
                    FROM counts
                ) WHERE token_id < 20
            )
            SELECT tp.doc_id,
                   COALESCE(array_to_string(list(COALESCE(v.token_id, -1) ORDER BY tp.pos), ','), '') AS ids
            FROM tp LEFT JOIN vocab v USING (token)
            GROUP BY tp.doc_id
        """,
        "x_doc_chunk": _chunk_oracle(),
        "x_pack_sequences": _pack_oracle(),
        "x_weighted_sample": f"""
            WITH w AS (
                SELECT doc_id, least(1.0, n_chars / 500.0) AS w
                FROM documents
            )
            SELECT doc_id, w FROM w
            WHERE ({seeded_hash60_sql("CAST(doc_id AS STRING)", "13")}) % 10000
                  < CAST(floor(w * 10000) AS INTEGER)
        """,
        "x_domain_mix": f"""
            WITH base AS (
                SELECT doc_id, source FROM documents
                WHERE doc_id % 3 <> 0 OR source IN ('src0', 'src1', 'src2')
            ),
            counts AS (SELECT source, count(*) AS n FROM base GROUP BY 1),
            mn AS (SELECT min(n) AS mn FROM counts),
            rates AS (
                SELECT source, CAST(mn.mn AS DOUBLE) / counts.n AS rate
                FROM counts CROSS JOIN mn
            )
            SELECT b.doc_id, b.source
            FROM base b JOIN rates r ON r.source = b.source
            WHERE ({seeded_hash60_sql("CAST(b.doc_id AS STRING)", "17")}) % 10000
                  < CAST(floor(r.rate * 10000) AS INTEGER)
        """,
        "x_temperature_mix": f"""
            WITH base AS (
                SELECT doc_id, source FROM documents
                WHERE doc_id % 3 <> 0 OR source IN ('src0', 'src1', 'src2')
            ),
            counts AS (
                SELECT source, count(*) AS n_source FROM base GROUP BY 1
            ),
            mn AS (SELECT min(n_source) AS nmin FROM counts),
            rates AS (
                SELECT source, n_source,
                       CAST(floor(1000000 * sqrt(CAST(nmin AS DOUBLE)
                            / CAST(n_source AS DOUBLE))) AS BIGINT)
                           AS rate_micro
                FROM counts CROSS JOIN mn
            )
            SELECT b.doc_id, b.source, r.n_source, r.rate_micro
            FROM base b JOIN rates r ON r.source = b.source
            WHERE ({seeded_hash60_sql("CAST(b.doc_id AS STRING)", "'tmix1'")})
                  % 1000000 < r.rate_micro
        """,
        "x_feature_hashing": f"""
            WITH t AS (
                SELECT doc_id, unnest({_TOKS_SQL}) AS tok FROM documents
            ),
            h AS (
                SELECT doc_id,
                       CAST((CAST((instr('0123456789abcdef', substr(md5(t.tok), 1, 1)) - 1) * CAST(72057594037927936 AS BIGINT) + (instr('0123456789abcdef', substr(md5(t.tok), 2, 1)) - 1) * CAST(4503599627370496 AS BIGINT) + (instr('0123456789abcdef', substr(md5(t.tok), 3, 1)) - 1) * CAST(281474976710656 AS BIGINT) + (instr('0123456789abcdef', substr(md5(t.tok), 4, 1)) - 1) * CAST(17592186044416 AS BIGINT) + (instr('0123456789abcdef', substr(md5(t.tok), 5, 1)) - 1) * CAST(1099511627776 AS BIGINT) + (instr('0123456789abcdef', substr(md5(t.tok), 6, 1)) - 1) * CAST(68719476736 AS BIGINT) + (instr('0123456789abcdef', substr(md5(t.tok), 7, 1)) - 1) * CAST(4294967296 AS BIGINT) + (instr('0123456789abcdef', substr(md5(t.tok), 8, 1)) - 1) * CAST(268435456 AS BIGINT) + (instr('0123456789abcdef', substr(md5(t.tok), 9, 1)) - 1) * CAST(16777216 AS BIGINT) + (instr('0123456789abcdef', substr(md5(t.tok), 10, 1)) - 1) * CAST(1048576 AS BIGINT) + (instr('0123456789abcdef', substr(md5(t.tok), 11, 1)) - 1) * CAST(65536 AS BIGINT) + (instr('0123456789abcdef', substr(md5(t.tok), 12, 1)) - 1) * CAST(4096 AS BIGINT) + (instr('0123456789abcdef', substr(md5(t.tok), 13, 1)) - 1) * CAST(256 AS BIGINT) + (instr('0123456789abcdef', substr(md5(t.tok), 14, 1)) - 1) * CAST(16 AS BIGINT) + (instr('0123456789abcdef', substr(md5(t.tok), 15, 1)) - 1) * CAST(1 AS BIGINT) AS BIGINT) % 64) AS INTEGER) AS bucket,
                       CASE WHEN ((CAST((instr('0123456789abcdef', substr(md5(t.tok), 1, 1)) - 1) * CAST(72057594037927936 AS BIGINT) + (instr('0123456789abcdef', substr(md5(t.tok), 2, 1)) - 1) * CAST(4503599627370496 AS BIGINT) + (instr('0123456789abcdef', substr(md5(t.tok), 3, 1)) - 1) * CAST(281474976710656 AS BIGINT) + (instr('0123456789abcdef', substr(md5(t.tok), 4, 1)) - 1) * CAST(17592186044416 AS BIGINT) + (instr('0123456789abcdef', substr(md5(t.tok), 5, 1)) - 1) * CAST(1099511627776 AS BIGINT) + (instr('0123456789abcdef', substr(md5(t.tok), 6, 1)) - 1) * CAST(68719476736 AS BIGINT) + (instr('0123456789abcdef', substr(md5(t.tok), 7, 1)) - 1) * CAST(4294967296 AS BIGINT) + (instr('0123456789abcdef', substr(md5(t.tok), 8, 1)) - 1) * CAST(268435456 AS BIGINT) + (instr('0123456789abcdef', substr(md5(t.tok), 9, 1)) - 1) * CAST(16777216 AS BIGINT) + (instr('0123456789abcdef', substr(md5(t.tok), 10, 1)) - 1) * CAST(1048576 AS BIGINT) + (instr('0123456789abcdef', substr(md5(t.tok), 11, 1)) - 1) * CAST(65536 AS BIGINT) + (instr('0123456789abcdef', substr(md5(t.tok), 12, 1)) - 1) * CAST(4096 AS BIGINT) + (instr('0123456789abcdef', substr(md5(t.tok), 13, 1)) - 1) * CAST(256 AS BIGINT) + (instr('0123456789abcdef', substr(md5(t.tok), 14, 1)) - 1) * CAST(16 AS BIGINT) + (instr('0123456789abcdef', substr(md5(t.tok), 15, 1)) - 1) * CAST(1 AS BIGINT) AS BIGINT) // 64) % 2) = 0
                            THEN 1 ELSE -1 END AS sign
                FROM t
            )
            SELECT doc_id, bucket, CAST(SUM(sign) AS BIGINT) AS weight
            FROM h GROUP BY doc_id, bucket HAVING SUM(sign) <> 0
        """,
    }
