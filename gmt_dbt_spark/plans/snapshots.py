"""dbt snapshots (SCD Type 2) + seeds — the two dbt artifacts whose
directories exist EMPTY in the reference (`dbt_project.yml:14-15`
declares `snapshot-paths`/`seed-paths`; both hold only .gitkeep).
A dbt user switching to this engine gets the full surface anyway.

**Snapshot** (`strategy='timestamp'`): track history of a mutable
source — each key's current row is compared by `updated_at`; a newer
version closes the previous one (`valid_to` = new `valid_from`) and
inserts itself open-ended (`valid_to` NULL). The whole transition is
one window/merge pass over (key, version) — no per-row driver logic —
and, like dbt, is idempotent: re-snapshotting an unchanged source
changes nothing.

Scale: the target history shuffles on the snapshot key once per run;
with a date-partitioned history table only open rows + the incoming
batch need to be read (partition on `valid_to IS NULL` bucket or
snapshot date) — same partition-scoped pattern as
operators/upsert.upsert_partitioned.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from gmt_dbt_spark.catalog import table
from gmt_dbt_spark.registry import query

REPO = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def snapshot_apply(
    history: DataFrame | None, batch: DataFrame, key: str, updated_at: str
) -> DataFrame:
    """Apply one snapshot run. `history` has batch columns +
    (valid_from, valid_to); None means first run (all rows open).

    Semantics (dbt timestamp strategy):
      - new key            → insert open row (valid_from=updated_at)
      - same key, newer ts → close current row at the new ts, insert
        the new version open
      - same key, same ts  → no-op (idempotence)
    """
    opened = batch.withColumn("valid_from", F.col(updated_at))
    if history is None:
        return opened.withColumn("valid_to", F.lit(None).cast("timestamp"))
    # a batch row is NEW only if its (key, updated_at) version isn't
    # already in history — dbt's timestamp strategy compares only the
    # timestamp, and history always wins a tie (deterministic, makes
    # re-snapshotting an unchanged source a no-op)
    fresh = opened.join(
        history.select(key, "valid_from"), [key, "valid_from"], "left_anti"
    )
    all_versions = history.drop("valid_to").unionByName(fresh)
    w = Window.partitionBy(key).orderBy("valid_from")
    return all_versions.withColumn("valid_to", F.lead("valid_from").over(w))


@query(
    "model_snapshot",
    oracle="""
WITH v1 AS (
  SELECT o_orderkey, o_orderstatus, o_orderdate AS updated_at
  FROM orders WHERE o_orderkey % 2 = 0
),
v2 AS (
  SELECT o_orderkey, 'X' AS o_orderstatus,
         o_orderdate + INTERVAL '30 days' AS updated_at
  FROM orders WHERE o_orderkey % 10 = 0
),
versions AS (SELECT * FROM v1 UNION ALL SELECT * FROM v2)
SELECT o_orderkey, o_orderstatus,
       updated_at AS valid_from,
       LEAD(updated_at) OVER (PARTITION BY o_orderkey ORDER BY updated_at)
         AS valid_to
FROM versions
""",
)
def model_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dbt snapshot lifecycle, two real runs: run 1 snapshots even
    order keys; run 2's source re-states the %10 keys with status 'X'
    and a 30-day-later `updated_at` — those rows must close their v1
    version (valid_to = v2's timestamp) and open a v2 row, while
    untouched keys stay open. The oracle reconstructs the same
    history declaratively with LEAD over the version sequence."""
    orders = table(spark, sf_dir, "orders")
    v1 = orders.filter(F.col("o_orderkey") % 2 == 0).select(
        "o_orderkey", "o_orderstatus", F.col("o_orderdate").alias("updated_at")
    )
    hist = snapshot_apply(None, v1, "o_orderkey", "updated_at")
    v2 = orders.filter(F.col("o_orderkey") % 10 == 0).select(
        "o_orderkey",
        F.lit("X").alias("o_orderstatus"),
        (F.col("o_orderdate") + F.expr("INTERVAL 30 DAYS")).alias("updated_at"),
    )
    hist = snapshot_apply(hist, v2, "o_orderkey", "updated_at")
    return hist.select("o_orderkey", "o_orderstatus", "valid_from", "valid_to")


@query(
    "model_seed",
    oracle=f"""
SELECT code, label, weight
FROM read_csv('{REPO}/fixtures/seed_lookup.csv', header=true,
              columns={{'code': 'VARCHAR', 'label': 'VARCHAR',
                        'weight': 'INTEGER'}})
""",
)
def model_seed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dbt seed: a version-controlled CSV loaded as a table (the
    lookup/mapping pattern — dims small enough to live in the repo).
    Declared schema, header row, materialized like any model; at
    scale a seed is exactly the broadcast side of every enrichment
    join."""
    path = os.path.join(REPO, "fixtures", "seed_lookup.csv")
    return spark.read.csv(
        path, header=True, schema="code string, label string, weight int"
    )
