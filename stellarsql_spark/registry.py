"""Query registry: binds each declared operator (SURVEY.md §2) to

- a Spark builder ``(SparkSession, sf_dir) -> DataFrame``, and
- an optional DuckDB oracle SQL string (None → rows-only check).

``__spark_entry__.py`` assembles its ``queries()`` / ``oracle_sql()``
dicts from this registry, so every operator is declared exactly once,
next to its oracle, keeping column aliases aligned by construction.

Cross-engine determinism conventions (see SURVEY.md §5.2.6):
- money math is done in DECIMAL with explicit intermediate casts
  (inputs are exact 2-decimal values, so decimal sums are exact and
  order-independent in both engines), then CAST to DOUBLE at the end;
- every computed column is aliased identically in builder and oracle;
- arrays from collect_* are sorted; top-k ties are broken on unique
  keys.
"""

from __future__ import annotations

import importlib
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

Builder = Callable[[SparkSession, str], DataFrame]

# Modules that register queries on import.
_QUERY_MODULES: tuple[str, ...] = (
    "stellarsql_spark.operators.tier_a",
    "stellarsql_spark.operators.filters",
    "stellarsql_spark.operators.tpch",
    "stellarsql_spark.operators.tpch2",
    "stellarsql_spark.operators.tpch3",
    "stellarsql_spark.operators.reshape",
    "stellarsql_spark.operators.subqueries",
    "stellarsql_spark.operators.sql_surface",
    "stellarsql_spark.operators.modern_sql",
    "stellarsql_spark.operators.timeseries",
    "stellarsql_spark.operators.events_analytics",
    "stellarsql_spark.operators.quality",
    "stellarsql_spark.operators.graph",
    "stellarsql_spark.operators.skew",
    "stellarsql_spark.operators.spatial",
    "stellarsql_spark.operators.merge",
    "stellarsql_spark.operators.runtime_filters",
    "stellarsql_spark.sources.bucketed",
    "stellarsql_spark.sources.events_layout",
    "stellarsql_spark.sources.python_ds",
    "stellarsql_spark.operators.aggregates",
    "stellarsql_spark.operators.joins",
    "stellarsql_spark.operators.windows",
    "stellarsql_spark.operators.sorts",
    "stellarsql_spark.operators.setops",
    "stellarsql_spark.sources.io",
    "stellarsql_spark.functions.families",
    "stellarsql_spark.functions.udfs",
    "stellarsql_spark.streaming.windows",
    "stellarsql_spark.streaming.parity",
    "stellarsql_spark.pipeline.dedup",
    "stellarsql_spark.pipeline.groups",
    "stellarsql_spark.pipeline.similarity",
    "stellarsql_spark.pipeline.vectors",
    "stellarsql_spark.pipeline.textstats",
    "stellarsql_spark.pipeline.curation",
    "stellarsql_spark.pipeline.spans",
    "stellarsql_spark.pipeline.multimodal",
)


@dataclass(frozen=True)
class QuerySpec:
    name: str
    builder: Builder
    oracle: str | None = None  # DuckDB SQL; None → driver rows-only check
    tags: tuple[str, ...] = field(default_factory=tuple)
    doc: str = ""


_REGISTRY: dict[str, QuerySpec] = {}
_LOADED = False


def register(name: str, oracle: str | None = None, tags: tuple[str, ...] = ()):
    """Decorator: register ``fn(spark, sf_dir) -> DataFrame`` under ``name``."""

    def deco(fn: Builder) -> Builder:
        if name in _REGISTRY:
            raise ValueError(f"duplicate query key {name!r}")
        _REGISTRY[name] = QuerySpec(name=name, builder=fn, oracle=oracle, tags=tuple(tags), doc=fn.__doc__ or "")
        return fn

    return deco


def _load() -> None:
    global _LOADED
    if _LOADED:
        return
    for mod in _QUERY_MODULES:
        importlib.import_module(mod)
    _LOADED = True


def all_specs() -> dict[str, QuerySpec]:
    _load()
    return dict(_REGISTRY)


# The driver's correctness run walks queries() in dict order with a
# bounded budget (50 keys/round in rounds 1-2), so the order below is
# evidence strategy: keys the driver has never green-stamped come
# first, interleaved round-robin across modules so ANY prefix the
# driver completes spans joins/aggregates/windows/streaming/pipeline,
# and keys already driver-green in a CORRECTNESS_r*.json come last.
#
# Stamps are read from the repo-root CORRECTNESS_r*.json files at
# import time (latest round wins per key; a row counts as green only
# if it ran without error and either hash-matched or is a declared
# rows-only contract), so this rotation is self-updating each round.
# The frozensets below are the fallback if those files are unreadable.
_R01_CHECKED = frozenset(
    {
        "a_create_load", "a_insert_roundtrip", "a_scan", "a_project",
        "a_filter_predicates", "a_sql_text", "a_ddl_lifecycle",
        "a_constraint_enforce", "b_project_compute", "b_filter_rich",
        "b_case_when", "b_tpch_q3", "b_tpch_q5", "b_tpch_q4", "b_tpch_q6",
        "b_tpch_q7", "b_tpch_q8", "b_tpch_q9", "b_tpch_q10", "b_tpch_q13",
        "b_tpch_q14", "b_tpch_q15", "b_tpch_q17", "b_tpch_q18", "b_tpch_q19",
        "b_tpch_q22", "b_tpch_q2", "b_tpch_q11", "b_tpch_q12", "b_tpch_q16",
        "b_tpch_q20", "b_tpch_q21", "b_pivot", "b_unpivot",
        "b_agg_grouping_sets", "b_sample_seeded", "b_llm_split", "b_sql_cte",
        "b_sql_scalar_subquery", "b_sql_in_subquery", "b_sql_corr_subquery",
        "b_sql_lateral", "b_win_nth", "b_fn_try", "b_fn_string2", "b_fn_map",
        "b_sql_hints", "b_ts_gapfill", "b_ts_resample", "b_ts_rollup_reuse",
    }
)
_R02_CHECKED = frozenset(
    {
        "b_tpch_q12", "b_fn_string2", "b_sample_bounds", "b_sql_recursive",
        "b_ev_funnel", "b_quality_profile", "b_join_salted", "b_merge_upsert",
        "b_join_bucketed", "b_agg_groupby", "b_join_inner", "b_win_rank",
        "b_sort_multi", "b_set_union", "b_read_csv_json", "b_fn_string",
        "b_udf_scalar", "b_stream_tumbling", "b_stream_run_tumbling",
        "b_llm_dedup_exact", "b_llm_dup_groups", "b_llm_cosine_topk",
        "b_llm_centroids", "b_llm_wordcount", "b_llm_multimodal",
        "b_ev_retention", "b_merge_scd2", "b_agg_global", "b_join_outer",
        "b_win_laglead", "b_topk_global", "b_set_intersect", "b_write_orc",
        "b_fn_datetime", "b_udf_pandas", "b_stream_sliding", "b_stream_dedup",
        "b_llm_jaccard", "b_llm_ann_lsh", "b_llm_ann_ivf", "b_llm_textstats",
        "b_mm_binary_meta", "b_ev_anomaly", "b_agg_distinct",
        "b_join_semi_anti", "b_win_running_sum", "b_topk_per_group",
        "b_set_except", "b_write_roundtrip", "b_fn_math",
    }
)
# Keys whose oracle was strengthened AFTER their last driver stamp, so
# the stamp no longer reflects the current (stricter) contract — they
# go right behind the never-stamped block.  Rounds 1-4 used this for
# oracle-hash upgrades and the ns→µs corpus migration; every key so
# flagged was re-stamped green in CORRECTNESS_r04, so the block is
# empty as of round 5.  Add a key here whenever its oracle or builder
# semantics change after its latest stamp; remove it once the driver
# re-stamps it.  Routine staleness needs no entry — the stamped tail
# is ordered oldest-stamp-first, so the driver's ~50-key window
# re-certifies the stalest evidence automatically each round.
# (r8's eight entries — editdist, read_text, cosine_topk, jaccard,
# repetition, contamination, curation_funnel, ann_recall — were all
# re-stamped green in CORRECTNESS_r08 and are dropped per the removal
# rule above.)
_RESTAMP: tuple[str, ...] = (
    # (r8's b_sample_seeded hash-oracle upgrade was re-stamped green
    # in CORRECTNESS_r10 and was dropped per the removal rule above;
    # empty r11–r14.  r15's seven entries — the topk trio, b_tpch_q3,
    # b_graph_label_prop_converged and the two minute-PageRank keys —
    # were all re-stamped green in CORRECTNESS_r15 and are dropped per
    # the same rule.)
)


def _driver_stamp_rounds() -> dict[str, int]:
    """Latest green-stamp round per key, from CORRECTNESS_r*.json.

    A row counts as green only if it ran without error and either
    hash-matched or is a declared rows-only contract.  A later round's
    row REPLACES the earlier stamp for that key — including demoting a
    key back to unstamped if the latest row is red.
    """
    import json
    import re
    from pathlib import Path

    root = Path(__file__).resolve().parent.parent
    rounds = sorted(
        (p for p in root.glob("CORRECTNESS_r*.json")
         if re.fullmatch(r"CORRECTNESS_r\d+\.json", p.name)),
        key=lambda p: p.name,
    )
    if not rounds:
        return dict.fromkeys(_R01_CHECKED, 1) | dict.fromkeys(_R02_CHECKED, 2)
    latest: dict[str, tuple[int, dict]] = {}
    try:
        for p in rounds:
            rnd = int(re.search(r"r(\d+)", p.name).group(1))
            for key, row in json.loads(p.read_text()).items():
                latest[key] = (rnd, row)
    except (OSError, ValueError, AttributeError):
        return dict.fromkeys(_R01_CHECKED, 1) | dict.fromkeys(_R02_CHECKED, 2)
    green: dict[str, int] = {}
    for key, (rnd, row) in latest.items():
        if not isinstance(row, dict):
            continue
        err = row.get("err")
        if err is None and row.get("hash_match"):
            green[key] = rnd  # hash oracle, matched
        elif err == "no_oracle" and row.get("spark_rows") is not None:
            green[key] = rnd  # declared rows-only contract: the run counts
    return green


def _driver_stamped() -> frozenset[str]:
    """Keys green-stamped by any past driver round (latest row wins)."""
    return frozenset(_driver_stamp_rounds())


def driver_key_order() -> list[str]:
    """Key order for __spark_entry__.queries()/oracle_sql().

    _RESTAMP → never-stamped (module round-robin) → stamped tail
    ordered OLDEST stamp first: the driver re-checks ~50 keys per
    round, so once every key is stamped, each round's window
    re-certifies the stalest evidence (stamps rot when the corpus or
    an oracle changes — age-based rotation keeps every stamp fresh
    within ~4 rounds).

    _RESTAMP leads (r8 change): a changed-contract key carrying a
    stale green stamp is MISLEADING evidence, while a never-stamped
    new key is honestly unstamped and simply fronts the next round —
    so when one round adds more new keys than the window holds, the
    restamps must not be the ones squeezed out.
    """
    from itertools import zip_longest

    specs = all_specs()
    stamp_rounds = _driver_stamp_rounds()
    stamped = frozenset(stamp_rounds)
    restamp = [k for k in _RESTAMP if k in specs]
    pending = [k for k in specs if k not in stamped and k not in restamp]
    groups_by_mod: dict[str, list[str]] = {}
    for k in pending:
        groups_by_mod.setdefault(specs[k].builder.__module__, []).append(k)
    round_robin = [
        k
        for batch in zip_longest(*groups_by_mod.values())
        for k in batch
        if k is not None
    ]
    tail = sorted(
        (k for k in specs if k in stamped and k not in restamp and k not in round_robin),
        key=lambda k: (stamp_rounds[k], k),
    )
    ordered = restamp + round_robin + tail
    assert sorted(ordered) == sorted(specs), "driver_key_order must cover every key exactly once"
    return ordered


def get_spec(name: str) -> QuerySpec:
    _load()
    return _REGISTRY[name]
