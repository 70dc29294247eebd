"""Query registry: every operator surface from SURVEY.md §2 as a
named (spark_fn, oracle_sql) pair, wired into ``__spark_entry__``.

Each spark_fn takes ``(spark, sf_dir)`` and returns a DataFrame; the
oracle is the ANSI-SQL twin DuckDB runs on the same parquet tables.
Column names are aliased identically on both sides (the driver's
compare sorts columns by name before hashing).  ``oracle=None`` marks
ops whose semantics are not SQL-expressible (driver falls back to a
rows-only check).
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from flink_s3_read_write_spark.functions.numeric import davg, dsum
from flink_s3_read_write_spark.operators import raw_text
from flink_s3_read_write_spark.sources.io import load_table


@dataclass(frozen=True)
class Query:
    name: str
    fn: Callable[[SparkSession, str], DataFrame]
    oracle: str | None
    doc: str = ""


_REGISTRY: dict[str, Query] = {}


def register(name: str, oracle: str | None, doc: str = ""):
    def deco(fn):
        _REGISTRY[name] = Query(name, fn, oracle, doc)
        return fn

    return deco


# Driver-facing ordering.  The correctness driver consumes registry
# entries in iteration order with a bounded per-round budget (~50 per
# round), so the order is computed FROM the committed
# CORRECTNESS_r*.json sidecars at import time (the hand-maintained
# tuple this replaces went stale twice — r04 and r05 — leaving
# never-checked queries below the budget cutoff).  Tiers:
#   0 — never driver-checked (no row in any sidecar);
#   1 — latest driver row is an error or a mismatch;
#   2 — listed in _TOUCHED_THIS_ROUND (code/oracle edited since the
#       latest green row — update that tuple when editing a query);
#   3 — green, oldest-round rows first (natural re-confirm rotation).
# Ties break by registration order, which is stable.
#
# Staleness is mechanical, not manual: an entry added while touching a
# query in round N is confirmed once a sidecar row from round >=
# _TOUCHED_SINCE_ROUND comes back green — at that point the entry
# auto-demotes to tier 3 (so a forgotten clear can no longer steal
# window slots, the r06→r07 trap) and ``stale_touched()`` /
# ``tools/check.py`` report it for removal.  When a new round starts,
# bump _TOUCHED_SINCE_ROUND and delete the reported-stale entries.
#
# INVARIANT (enforced by tools/check.py): _TOUCHED_SINCE_ROUND must be
# the round whose CORRECTNESS sidecar does NOT yet exist — i.e. the
# round currently being built.  Bump it FIRST at round start, before
# editing any query; otherwise a pre-edit green row from the previous
# round would count as post-touch confirmation and auto-demote an
# edited query on stale evidence.
_TOUCHED_SINCE_ROUND = 17
_TOUCHED_THIS_ROUND: tuple[str, ...] = (
    # r17 global-window burn-down: the three row-scaling unpartitioned
    # windows became exact two-phase ranks (approx-quantile bins +
    # per-bin row_number + broadcast offsets) — output-identical by
    # construction, but restructured plans.
    "q132_ntile_deciles",
    "q196_rfm_segmentation",
    "q198_pps_systematic_sample",
    # r17 two-phase parallel prefix sum for the price running count
    # (VERDICT r16 #4) — output-identical, restructured plan.
    "q189_spearman_rank_corr",
    # r17 crossing-bin prefix sum for the weighted median — output-
    # identical, restructured plan (no rank window anywhere).
    "q186_weighted_median",
    # connected_components as large-star/small-star rounds (same
    # fixpoint, restructured plan): every registry path through CC.
    "q54_dedup_keep_list",
    "q210_keep_list_ring",
    "q212_keep_list_star2",
)


def stale_touched() -> list[str]:
    """_TOUCHED_THIS_ROUND entries already confirmed green by a sidecar
    from round >= _TOUCHED_SINCE_ROUND (i.e. after the touch) — safe
    and correct to delete from the tuple."""
    rows = _driver_rows()
    out = []
    for name in _TOUCHED_THIS_ROUND:
        row = rows.get(name)
        if row is not None and row[1] and row[0] >= _TOUCHED_SINCE_ROUND:
            out.append(name)
    return out


def _driver_rows() -> dict[str, tuple[int, bool]]:
    """name -> (latest round with a row, that row passed)."""
    import glob
    import json
    import os
    import re

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    latest: dict[str, tuple[int, bool]] = {}
    for path in sorted(glob.glob(os.path.join(root, "CORRECTNESS_r*.json"))):
        m = re.search(r"_r(\d+)\.json$", path)
        if not m:
            continue
        rnd = int(m.group(1))
        try:
            with open(path) as fh:
                data = json.load(fh)
        except (OSError, ValueError):
            continue
        for name, row in data.items():
            if not isinstance(row, dict):
                continue
            ok = (
                not row.get("err")
                and row.get("rows_match") is True
                and row.get("schema_match") is not False
                and row.get("hash_match") is not False
            )
            prev = latest.get(name)
            if prev is None or rnd >= prev[0]:
                latest[name] = (rnd, ok)
    return latest


def registry() -> dict[str, Query]:
    # Import side-effect modules that register queries.
    from flink_s3_read_write_spark import (  # noqa: F401
        queries_relational,
        queries_llmdata,
        queries_streaming,
        queries_sql,
        queries_graph,
        queries_tpch,
    )

    rows = _driver_rows()
    touched = set(_TOUCHED_THIS_ROUND) - set(stale_touched())
    reg_idx = {n: i for i, n in enumerate(_REGISTRY)}

    def tier(item: tuple[str, Query]) -> tuple[int, int, int]:
        name, q = item
        if q.oracle is None:  # rows-only checks go last
            return (4, 0, reg_idx[name])
        row = rows.get(name)
        if row is None:
            return (0, 0, reg_idx[name])
        rnd, ok = row
        if not ok:
            return (1, rnd, reg_idx[name])
        if name in touched:
            return (2, rnd, reg_idx[name])
        return (3, rnd, reg_idx[name])

    return dict(sorted(_REGISTRY.items(), key=tier))


# ---------------------------------------------------------------------------
# Tier A analogues on the driver's synthetic tables (SURVEY.md §2.1).
# The fixture-faithful raw-text versions run in tests/test_fixture_faithful.py;
# here the same operator chain runs over driver tables so the DuckDB oracle
# can check it at sf0.01.
# ---------------------------------------------------------------------------


@register(
    "q1_uppercase",
    oracle="SELECT doc_id, upper(text) AS text_upper FROM documents",
    doc="A1∘A3∘A12 (S3ReadWriteExample.java:22-40): text in, uppercase out.",
)
def q1_uppercase(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return docs.select("doc_id", F.upper("text").alias("text_upper"))


@register(
    "q2_filter_exclude_key",
    oracle="""
    WITH raw AS (
      SELECT concat_ws(',', c_custkey, c_name, c_nationkey, c_mktsegment) AS value
      FROM customer
    )
    SELECT value FROM raw
    WHERE len(string_split(value, ',')) > 3
      AND string_split(value, ',')[4] <> 'BUILDING'
    """,
    doc=(
        "A2∘A4∘A5∘A7∘A12 (S3FlinkFilterJacksonville.java:31-51): raw CSV "
        "line → split(',') → positional filter on field 3 → rejoin. Same "
        "tokenize/filter/rejoin chain as the reference, running on lines "
        "serialized from the customer table ('BUILDING' plays Jacksonville)."
    ),
)
def q2_filter_exclude_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    raw = cust.select(
        F.concat_ws(",", "c_custkey", "c_name", "c_nationkey", "c_mktsegment").alias("value")
    )
    toks = raw_text.tokenize_csv(raw)
    kept = raw_text.filter_excluding_city(toks, "BUILDING")
    return raw_text.rejoin_csv(kept)


@register(
    "q3_avg_by_group",
    oracle="""
    SELECT event_type,
           CAST(SUM(CAST(value AS DECIMAL(30,6))) AS DOUBLE) / COUNT(value) AS avg_value,
           COUNT(*) AS cnt
    FROM events
    WHERE event_type <> 'error'
    GROUP BY event_type
    """,
    doc=(
        "FLAGSHIP. A2∘A4∘A6∘A8∘A9∘A10∘A11 "
        "(S3FlinkAverageSalaryByCity.java:28-48): filter out one key, "
        "then keyed avg+count. Catalyst partial+final HashAggregate "
        "replaces the manual Tuple3 running reduce; decimal-routed sum "
        "makes the double deterministic under any partitioning."
    ),
)
def q3_avg_by_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.filter(F.col("event_type") != "error")
        .groupBy("event_type")
        .agg(davg("value", "avg_value"), F.count(F.lit(1)).alias("cnt"))
    )


@register(
    "q3_formatted",
    oracle="""
    SELECT event_type || ',' || format('{:.2f}',
             round(CAST(SUM(CAST(value AS DECIMAL(30,6))) AS DOUBLE) / COUNT(value), 2))
           || ',' || COUNT(*) AS value
    FROM events
    WHERE event_type <> 'error'
    GROUP BY event_type
    """,
    doc=(
        "A11 output formatting — '%s,%.2f,%d' exactly as "
        "S3FlinkAverageSalaryByCity.java:86 (JVM String.format HALF_UP)."
    ),
)
def q3_formatted(spark: SparkSession, sf_dir: str) -> DataFrame:
    agg = q3_avg_by_group(spark, sf_dir)
    return agg.select(
        F.format_string("%s,%.2f,%d", "event_type", "avg_value", "cnt").alias("value")
    )
