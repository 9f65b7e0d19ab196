"""Cost-based-optimizer exercise: ANALYZE-fed statistics driving the
join planner (VERDICT r4 "What's missing" #1).

AQE fixes join strategy at *runtime* from observed shuffle sizes; the
CBO fixes join ORDER at *plan* time from catalog statistics — at 100 TB
with real dimension tables, stats-fed reordering is what keeps a
5-table star from materializing a fact×fact intermediate. This module
materializes the star's tables into the catalog, runs
``ANALYZE TABLE ... COMPUTE STATISTICS FOR ALL COLUMNS``, enables
``spark.sql.cbo.enabled`` + ``joinReorder.enabled``, and plans the
5-table star against the analyzed tables. tests/test_plans.py pins that
the cost-mode plan carries per-table ``rowCount`` statistics (proof the
ANALYZE numbers reach the optimizer, not just the catalog) and that the
dimension side still broadcasts.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from python_etl_sample_spark.functions.determinism import dsum_sql
from python_etl_sample_spark.registry import query
from python_etl_sample_spark.scratch import scratch_path
from python_etl_sample_spark.sources import table

#: (catalog suffix, fixture table, pruned columns) for the 5-table star.
_STAR = (
    ("lineitem", ("l_orderkey", "l_extendedprice", "l_discount")),
    ("orders", ("o_orderkey", "o_custkey", "o_orderstatus")),
    ("customer", ("c_custkey", "c_nationkey")),
    ("nation", ("n_nationkey", "n_name", "n_regionkey")),
    ("region", ("r_regionkey", "r_name")),
)


def ensure_analyzed_star(spark: SparkSession, sf_dir: str) -> dict[str, str]:
    """Materialize the pruned star tables into the catalog (once per
    process, scratch-backed like join_bucketed) and ANALYZE each with
    full column statistics. Returns fixture-name → catalog-name."""
    import shutil

    sf_tag = os.path.basename(os.path.normpath(sf_dir)).replace(".", "_")
    names: dict[str, str] = {}
    for src_name, cols in _STAR:
        tbl = f"cbo_{src_name}_{sf_tag}"
        names[src_name] = tbl
        if spark.catalog.tableExists(tbl):
            continue
        path = scratch_path(f"cbo/{tbl}", sf_dir)
        shutil.rmtree(path, ignore_errors=True)
        table(spark, sf_dir, src_name).select(*cols).write.mode(
            "overwrite"
        ).option("path", path).saveAsTable(tbl)
        spark.sql(f"ANALYZE TABLE {tbl} COMPUTE STATISTICS FOR ALL COLUMNS")
    return names


def cbo_star_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 5-table star against the analyzed catalog tables with CBO on."""
    # CBO + stats-fed join reordering. Session-wide and deliberately
    # left on: both only act where catalog statistics exist, so the
    # parquet-scan queries (no catalog stats) are unaffected.
    spark.conf.set("spark.sql.cbo.enabled", "true")
    spark.conf.set("spark.sql.cbo.joinReorder.enabled", "true")
    t = ensure_analyzed_star(spark, sf_dir)
    return spark.sql(
        f"""
        SELECT r.r_name, COUNT(*) AS n_items,
               {dsum_sql("l.l_extendedprice * (1 - l.l_discount)")} AS revenue
        FROM {t["lineitem"]} l
        JOIN {t["orders"]} o ON l.l_orderkey = o.o_orderkey
        JOIN {t["customer"]} c ON o.o_custkey = c.c_custkey
        JOIN {t["nation"]} n ON c.c_nationkey = n.n_nationkey
        JOIN {t["region"]} r ON n.n_regionkey = r.r_regionkey
        WHERE o.o_orderstatus = 'F'
        GROUP BY r.r_name
        """
    )


@query(
    "plan_cbo_multiway",
    oracle=f"""
    SELECT r.r_name, COUNT(*) AS n_items,
           {dsum_sql('l.l_extendedprice * (1 - l.l_discount)')} AS revenue
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    WHERE o.o_orderstatus = 'F'
    GROUP BY r.r_name
    """,
    tags=("staged",),
)
def plan_cbo_multiway(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stats-fed 5-table star: revenue per region, planned by the CBO
    over ANALYZE'd catalog tables. Results are identical to the same
    star over raw parquet (the oracle) — what changes is the *plan*:
    `explain("cost")` carries `rowCount=` per relation, and the join
    reorderer works from those counts instead of raw file sizes. The
    ETL cost (pruned-column materialization + ANALYZE) is the point —
    it is the once-per-load step a warehouse pays so every subsequent
    query plans against real cardinalities.

    Warm-up tag ``staged``: the analyzed catalog star is staged once per
    process (saveAsTable + ANALYZE), so bench's timed pass measures the
    CBO-planned query, not the ETL."""
    return cbo_star_frame(spark, sf_dir)
