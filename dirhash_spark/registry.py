"""Query registry backing ``__spark_entry__``.

Each operator from SURVEY.md §2 registers one named query: a callable
``(spark, sf_dir) -> DataFrame`` plus (when SQL-expressible) the equivalent
ANSI SQL a DuckDB oracle can run on the same parquet tables.  Operators
without an exact SQL oracle (approximate sketches, UDF-opaque or stateful
ops) register ``oracle=None`` and get a rows-only check.

Contract details that live here so every operator honors them:
- column names must match between the Spark result and the oracle SQL
  (the comparison sorts columns by name before hashing values);
- floating-point outputs are rounded *inside* the query on both sides
  (summation order differs between engines; rounding makes values
  bit-comparable);
- construction is NOT guaranteed side-effect free: the index- and
  parameter-deriving ops (``sim_ann_ivfpq``, the ``*_indexed`` ANN
  forms, ``dedup_simhash``, ``dedup_embedding_ann``) do bounded work
  at query-construction time — index build for the indexed forms, one
  memoized corpus row count for the derived-sizing rules
  (answered from local parquet footers without a Spark job where
  possible; a distributed count on non-local layouts) — see SURVEY
  §2.C's eager-construction note.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass
class Query:
    name: str
    fn: QueryFn
    oracle: str | None = None
    tags: tuple[str, ...] = field(default_factory=tuple)
    doc: str = ""


#: name -> Query; populated by importing dirhash_spark.operators.
REGISTRY: dict[str, Query] = {}


def query(name: str, oracle: str | None = None, tags: tuple[str, ...] = ()):
    """Decorator registering an operator query under ``name``."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in REGISTRY:
            raise ValueError(f"duplicate query name: {name}")
        REGISTRY[name] = Query(name=name, fn=fn, oracle=oracle, tags=tags, doc=fn.__doc__ or "")
        return fn

    return deco


#: Names pinned to the FRONT of ``all_queries()`` order, in this order.
#: The external driver's CORRECTNESS run verifies a prefix window of the
#: registry (50 entries per round), so we rotate which queries appear
#: first.  Rounds 1-3 covered the relational / dedup+text+streaming /
#: codec+asof+SQL slices; round 4 fronted the never-checked + fixed +
#: new queries; round 5 fronted the hex-projected binary outputs plus
#: every remaining r1-code row; round 6 re-fronted the 40 r2-code rows
#: plus 10 never-checked; round 7 drained the 39-query never-checked
#: backlog plus the 11 oldest r3 rows; round 8 drained the 23 remaining
#: r3 rows, the 8 r7 registrations, and the first 19 r4 rows; round 9
#: drained the 28 remaining r4 rows, the 6 r8 registrations, and the
#: first 16 r5 rows; round 10 drained the 34 remaining r5 rows, the
#: r9 driver-red ``ts_seasonal_decompose`` (confirmed green), the 3 r9
#: registrations, and the first 12 r6 rows; round 11 drained the 38
#: remaining r6 rows, the 2 r10 registrations, and the first 10
#: r7-code rows (alphabetical); round 12 drained the 40 remaining
#: r7-code rows plus the first 10 r8-code rows (alphabetical); round
#: 13 drained the 40 remaining r8-code rows plus the first 10 r9-code
#: rows (alphabetical).  Round 14 (per the r13 plan): (a) the 39
#: remaining r9-code rows — they hit MUST age 5 the moment
#: CORRECTNESS_r14 lands (r13 registered NO new queries, so there is
#: no never-checked tier this round); (b) 11 slack slots on the
#: oldest r10-code rows, MAY-front tier (age >= 4 at r14 close),
#: taken alphabetically (first 11 of 50).  Exactly 50 names.
#: Names not listed keep registration (insertion) order after these.
#: Every name listed here MUST exist in the registry — ``all_queries()``
#: raises otherwise (a silently skipped name is how coverage gaps hide).
#: tests/test_entry.py::test_window_covers_stalest_driver_rows enforces
#: the rotation policy against the committed CORRECTNESS_r*.json files.
PRIORITY_ORDER: tuple[str, ...] = (
    # (a) the 39 remaining r10-code rows — MUST tier the moment
    # CORRECTNESS_r15 lands (age 5); alphabetical
    "dedup_ngram_jaccard",
    "dedup_simhash",
    "embedding_pca",
    "fn_math_cond",
    "fn_string",
    "join_anti",
    "join_asof_forward",
    "join_broadcast",
    "join_cross",
    "join_full_outer",
    "join_inner_hash",
    "join_left_outer",
    "join_semi",
    "join_theta_range",
    "limit_topk",
    "merge_upsert",
    "mm_frame_sample",
    "project_rename",
    "scan_binary_file",
    "scan_csv_infer",
    "scan_fixed_binary",
    "scan_parquet",
    "set_except",
    "set_intersect",
    "set_union_all",
    "set_union_dist",
    "sim_ann_ivf_distfit",
    "sink_parquet",
    "text_span_dedup",
    "topk_per_group",
    "ts_anomaly_mad",
    "ts_seasonal_decompose",
    "win_first_last",
    "win_lag_lead",
    "win_moving_avg",
    "win_percent_rank",
    "win_range_frame",
    "win_rank",
    "win_running",
    # (b) slack -> pre-emptive rotation of the oldest r11-code rows
    # (age 4 at r15 close = MAY-front tier; first 11 of 50
    # alphabetically)
    "agg_approx_top_k",
    "agg_bitmap_distinct",
    "agg_boolean",
    "agg_corr_matrix",
    "agg_filtered",
    "agg_grouping_id",
    "agg_hll_sketch_merge",
    "agg_listagg",
    "corpus_cross_source_overlap",
    "corpus_vocab_coverage",
    "dirhash_full_streamed",
)
# r16 rotation backlog: after r15's window lands, the oldest driver
# rows are the 39 remaining r11-code queries (the 50 r11 rows minus
# the 11 fronted above) — they hit MUST age 5 when CORRECTNESS_r16
# lands — with remaining slack on the oldest r12 rows.
# Backlog arithmetic after r15's window: 239 registered = 39 (r10
# remainder, this window) + 11 (r11, this window) + 39 (r11 remainder,
# r16 MUST) + 50 (r12) + 50 (r13) + 50 (r14) — every query has either
# a driver row or a dated slot here.


def all_queries() -> dict[str, Query]:
    """Import all operator modules and return the populated registry,
    reordered so :data:`PRIORITY_ORDER` names come first (see its doc).

    Raises ValueError if a PRIORITY_ORDER name is not registered: an
    unknown name means a planned query was never implemented (or a
    rename went stale), and silently skipping it would quietly drop the
    intended verification coverage.
    """
    from . import operators  # noqa: F401  (import populates REGISTRY)

    unknown = [name for name in PRIORITY_ORDER if name not in REGISTRY]
    if unknown:
        raise ValueError(f"PRIORITY_ORDER names not in registry: {unknown}")
    ordered: dict[str, Query] = {}
    for name in PRIORITY_ORDER:
        ordered[name] = REGISTRY[name]
    for name, q in REGISTRY.items():
        if name not in ordered:
            ordered[name] = q
    return ordered
