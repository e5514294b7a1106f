"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash → CORRECTNESS_r{N}.json).

All implementations live in the ``mapr_plugins_spark`` package; this
module is a thin registry over it. A query key is registered by being
defined: every function named ``qNN_*``, ``sNN_*`` or ``x_*`` in one of
the :data:`FAMILIES` modules is a key, and each family's ``oracles()``
holds the DuckDB SQL for its own keys. Adding an operator means editing
only its family module.
"""

from __future__ import annotations

import importlib
import inspect
import re
import sys
from collections.abc import Callable, Iterable
from pathlib import Path
from types import ModuleType

from pyspark.sql import DataFrame, SparkSession

# Make the package importable no matter where the driver launched us from.
_REPO_ROOT = str(Path(__file__).resolve().parent)
if _REPO_ROOT not in sys.path:
    sys.path.insert(0, _REPO_ROOT)


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001: revenue by nation
    (3-way join + exact-decimal aggregation + sort)."""
    from mapr_plugins_spark import queries as Q

    return Q.q03_revenue_by_nation(spark, "/root/testdata/sf0.001")


#: Explicit registration priority. The verify protocol grades a prefix
#: window of the registry, so the leading keys are chosen to represent
#: EVERY engine family. Round-3 structure: ~30 STABLE family
#: representatives (keep driver regression coverage on every family,
#: including the three round-2 fix-flips q62/x_interval_merge/
#: x_ann_ivf_topk) + ~20 ROTATED slots cycling through keys the driver
#: has never graded, so every registry key eventually earns a driver
#: row. All 50 carry full-value DuckDB oracles (a rows-only key in the
#: window burns a graded slot on a weaker check — round-2 lesson).
#: Keys not listed here follow in their module definition order.
#:
#: Round-14 rotation (the round-13 verdict #3 + the standing r14
#: note): the 26 rotation slots refill with, in order,
#: (a) the 10 keys whose operators were REWRITTEN in round 13 but
#: whose driver rows predate those rewrites (the verdict's explicit
#: re-grade request: assoc_rules, both novelty keys, containment, the
#: substr/warc chain, canonical, blocking_recall, minhash_clusters),
#: (b) the 8 keys whose operators changed in THIS round's
#: optimization work (streaming fold/partition rewrites s13 s17 s20
#: s22 s23 s26 — s10 already sits in the stable block — plus
#: x_decontaminate's fan_out and x_pagerank's lazy round chaining),
#: each driver-sim green at sf0.01 AND sf0.1 before rotation, and
#: (c) the 6 remaining never-refreshed r1 keys (q42 q43 q45 q46 q48
#: q50) plus the head of the r2 cohort (q17_array_ops
#: q18_json_funcs). Remaining r2 cohort for round 15:
#: q20_scalar_subquery q31_map_funcs q34_collect q36_grouping_sets
#: q41_row_udf q44_higher_order_funcs q47_exists_subquery
#: q57_recursive_cte q63_url_funcs s03_session_window ... —
#: oldest-first. The 3 documented rows-only keys stay outside by
#: design (x_ann_ivf_batch x_ann_ivf_batch_prod x_sketch_hll — a
#: rows-only key in the window burns a graded slot on a weaker
#: check, the round-2 lesson).
PRIORITY: tuple[str, ...] = (
    # --- stable family representatives (24, unchanged from r13) ---
    # relational core
    "q01_filter_project", "q02_groupagg", "q03_revenue_by_nation",
    "q04_broadcast_join", "q07_range_join", "q10_window_rank",
    "q21_pandas_udf",
    # events-table paths (catalog NTZ contract)
    "q62_sessionize",
    # advanced joins / merge
    "x_asof_join", "x_merge_upsert",
    # format parse + document sink round-trip (reference A4/A5/A6/A6⁻¹)
    "q26_clf_parse", "x_doc_sink_roundtrip",
    # dedup family
    "q22_exact_dedup", "x_dedup_minhash_pairs",
    # similarity search
    "q24_ann_topk",
    # text analysis / curation
    "x_text_tokens", "x_tfidf", "x_doc_chunk",
    # sampling / sketches / analytics
    "x_split_assign", "x_sketch_cms", "x_interval_merge",
    # multimodal plumbing
    "x_mm_meta",
    # streaming
    "s01_tumbling_window", "s10_cdc_merge_upsert",
    # --- rotation slots (26) ---
    # (a) round-13 rewrites whose driver rows predate the rewrite
    "x_assoc_rules", "x_incremental_novelty", "x_ngram_novelty",
    "x_dedup_containment", "x_substr_strip", "x_warc_ingest",
    "x_substr_dedup", "x_dedup_canonical", "x_blocking_recall",
    "x_minhash_clusters",
    # (b) round-14 rewrites (this round)
    "s13_stream_dedup_admission", "s17_stream_heavy_hitters_bounded",
    "s20_stream_rollup", "s22_stream_zscore", "s23_stream_markov",
    "s26_stream_bigram_drift", "x_decontaminate", "x_pagerank",
    # (c) stalest never-refreshed relational rows, oldest-first
    "q42_pivot", "q43_unpivot", "q45_misc_funcs", "q46_window_extras",
    "q48_string_extras", "q50_null_order_try_arith", "q17_array_ops",
    "q18_json_funcs",
)


#: The family modules, in registration order. A key is registered by
#: being defined: every function in a family module whose name matches
#: ``_KEY_NAME`` and whose ``__module__`` is that module (so a key
#: imported into another family is not counted twice). Each family also
#: exposes one ``oracles()`` dict, keyed by its own query names.
FAMILIES: tuple[str, ...] = (
    "mapr_plugins_spark.queries",
    "mapr_plugins_spark.operators.reg_ann",
    "mapr_plugins_spark.operators.reg_dedup",
    "mapr_plugins_spark.operators.reg_text",
    "mapr_plugins_spark.operators.reg_curation",
    "mapr_plugins_spark.operators.reg_analytics",
    "mapr_plugins_spark.operators.reg_sketch_graph",
    "mapr_plugins_spark.operators.reg_relops",
    "mapr_plugins_spark.streaming.registry",
    "mapr_plugins_spark.sources.registry",
)

_KEY_NAME = re.compile(r"^(q\d+|s\d+|x)_")


def _family_queries(module: ModuleType) -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """The query keys ``module`` defines (see :data:`FAMILIES`)."""
    return {
        name: fn
        for name, fn in vars(module).items()
        if _KEY_NAME.match(name)
        and inspect.isfunction(fn)
        and fn.__module__ == module.__name__
    }


def _merge_disjoint(parts: Iterable[dict], what: str) -> dict:
    """Union of per-family dicts. A key defined by two families would
    silently shadow one of them, so it fails loudly instead."""
    out: dict = {}
    for part in parts:
        dup = out.keys() & part.keys()
        if dup:
            raise KeyError(f"{what} keys defined in two family modules: {sorted(dup)}")
        out.update(part)
    return out


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2, emitted in
    PRIORITY order first so any graded prefix covers the whole engine."""
    from mapr_plugins_spark.streaming.registry import tws_available

    # No try/except here: an unimportable family must fail LOUDLY with
    # its real cause, not silently shrink the registry (a silent except
    # would drop PRIORITY keys and trip the missing-check below with a
    # misleading KeyError instead of the actual ImportError).
    reg = _merge_disjoint(
        (_family_queries(importlib.import_module(m)) for m in FAMILIES), "query"
    )
    if not tws_available():
        del reg["s09_transform_with_state"]
    missing = [k for k in PRIORITY if k not in reg]
    if missing:  # a priority key must never silently vanish
        raise KeyError(f"PRIORITY keys missing from registry: {missing}")
    ordered = {k: reg[k] for k in PRIORITY}
    ordered.update({k: v for k, v in reg.items() if k not in ordered})
    return ordered


def oracle_sql() -> dict[str, str]:
    """DuckDB-equivalent SQL per query key (omitted keys → rows-only check)."""
    return _merge_disjoint(
        (importlib.import_module(m).oracles() for m in FAMILIES), "oracle"
    )
