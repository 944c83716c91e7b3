"""Driver-facing queries for the model DAG + data-quality layer.

`model_dag` exercises the full dbt lifecycle the reference runs
(`dbt run`, SURVEY.md §3.2): source resolution → compile → toposort →
threaded materialization (threads=4, `profile.yml:9`) → mart read.
The dq_* queries are the dbt built-in schema tests (SURVEY.md §5.3)
summarized to stable one-row-per-check results.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gmt_dbt_spark.catalog import table
from gmt_dbt_spark.plans import dq
from gmt_dbt_spark.plans.models import Model, ModelProject
from gmt_dbt_spark.registry import query
from gmt_dbt_spark.sources.sinks import SCRATCH, scratch_dir

REPO = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def stg_sources(spark, sf_dir, *tables):
    """Register stg_<table> temp views for the given warehouse tables
    and return the dbt-style source mapping — the one definition of
    the staging convention every model-lifecycle query shares."""
    from gmt_dbt_spark.catalog import table as _table

    for t in tables:
        _table(spark, sf_dir, t).createOrReplaceTempView(f"stg_{t}")
    return {("stg", t): f"stg_{t}" for t in tables}


_MODELS = [
    # bronze copies of staging sources — the reference's 8 models'
    # shape ({{config}} + select from {{source}}), with named columns
    # instead of its `SELECT *` (column pruning, SURVEY.md §4).
    Model(
        "bronze_orders",
        """
        {{ config(materialized='table') }}
        SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
        FROM {{ source('stg', 'orders') }}
        WHERE o_orderdate >= TIMESTAMP '1996-01-01'
        """,
    ),
    Model(
        "bronze_customer",
        """
        {{ config(materialized='view') }}
        SELECT c_custkey, c_nationkey FROM {{ source('stg', 'customer') }}
        """,
    ),
    # mart joining two ref() models and a source — the DAG level dbt
    # schedules after both bronze models complete.
    Model(
        "mart_nation_orders",
        """
        {{ config(materialized='table') }}
        SELECT n.n_name,
               COUNT(*) AS n_orders,
               CAST(CAST(SUM(CAST(o.o_totalprice AS DECIMAL(25,6))) AS STRING)
                    AS DOUBLE) AS total_price
        FROM {{ ref('bronze_orders') }} o
        JOIN {{ ref('bronze_customer') }} c ON o.o_custkey = c.c_custkey
        JOIN {{ source('stg', 'nation') }} n ON c.c_nationkey = n.n_nationkey
        GROUP BY n.n_name
        """,
    ),
]


@query(
    "model_dag",
    oracle="""
SELECT n.n_name,
       COUNT(*) AS n_orders,
       CAST(CAST(SUM(CAST(o.o_totalprice AS DECIMAL(25,6))) AS VARCHAR)
            AS DOUBLE) AS total_price
FROM (SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
      FROM orders WHERE o_orderdate >= TIMESTAMP '1996-01-01') o
JOIN (SELECT c_custkey, c_nationkey FROM customer) c
  ON o.o_custkey = c.c_custkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
GROUP BY n.n_name
""",
)
def model_dag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Run a three-model dbt-style DAG (bronze ×2 → mart) end-to-end:
    compile (config/source/ref), toposort, 4-thread execution, table
    + view materializations — and return the mart's materialized
    read-back, proving the full `dbt run` lifecycle on Spark."""
    sources = stg_sources(spark, sf_dir, "orders", "customer", "nation")
    project = ModelProject(
        spark,
        [Model(m.name, m.raw_sql) for m in _MODELS],  # fresh copies per run
        sources,
        warehouse_dir=os.path.join(SCRATCH, "model_warehouse"),
        threads=4,
    )
    return project.run()["mart_nation_orders"]


def _counted(name: str, violations: DataFrame) -> DataFrame:
    return violations.agg(
        F.lit(name).alias("check_name"), F.count("*").alias("n_violations")
    )


@query(
    "dq_not_null",
    oracle="""
SELECT 'customer.c_name' AS check_name,
       COUNT(*) FILTER (WHERE c_name IS NULL) AS n_violations
FROM customer
UNION ALL
SELECT 'orders.o_custkey', COUNT(*) FILTER (WHERE o_custkey IS NULL)
FROM orders
""",
)
def dq_not_null(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dbt `not_null` over two columns, summarized to counts."""
    customer = table(spark, sf_dir, "customer")
    orders = table(spark, sf_dir, "orders")
    return _counted(
        "customer.c_name", dq.test_not_null(customer, "c_name")
    ).unionAll(_counted("orders.o_custkey", dq.test_not_null(orders, "o_custkey")))


@query(
    "dq_unique",
    oracle="""
SELECT 'orders.o_orderkey' AS check_name, COUNT(*) AS n_violations
FROM (SELECT o_orderkey FROM orders GROUP BY o_orderkey HAVING COUNT(*) > 1)
UNION ALL
SELECT 'lineitem.l_orderkey', COUNT(*)
FROM (SELECT l_orderkey FROM lineitem GROUP BY l_orderkey HAVING COUNT(*) > 1)
""",
)
def dq_unique(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dbt `unique`: a passing check (orders PK) and a failing one
    (lineitem's key repeats per line number) — proving the test
    detects real duplication, not just vacuous truth."""
    orders = table(spark, sf_dir, "orders")
    lineitem = table(spark, sf_dir, "lineitem")
    return _counted(
        "orders.o_orderkey", dq.test_unique(orders, "o_orderkey")
    ).unionAll(_counted("lineitem.l_orderkey", dq.test_unique(lineitem, "l_orderkey")))


@query(
    "dq_accepted_values",
    oracle="""
SELECT 'orders.o_orderstatus IN (O,F)' AS check_name,
       COUNT(*) FILTER (WHERE o_orderstatus IS NOT NULL
                        AND o_orderstatus NOT IN ('O','F')) AS n_violations
FROM orders
""",
)
def dq_accepted_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dbt `accepted_values` on o_orderstatus against {O, F} — the
    'P' (pending) rows are real violations the check must count."""
    orders = table(spark, sf_dir, "orders")
    return _counted(
        "orders.o_orderstatus IN (O,F)",
        dq.test_accepted_values(orders, "o_orderstatus", ["O", "F"]),
    )


@query(
    "dq_relationships",
    oracle="""
SELECT 'lineitem.l_orderkey -> orders.o_orderkey' AS check_name,
       (SELECT COUNT(*) FROM lineitem l
        WHERE l.l_orderkey IS NOT NULL
          AND NOT EXISTS (SELECT 1 FROM orders o
                          WHERE o.o_orderkey = l.l_orderkey)) AS n_violations
UNION ALL
SELECT 'orders.o_custkey -> customer.c_custkey',
       (SELECT COUNT(*) FROM orders o
        WHERE o.o_custkey IS NOT NULL
          AND NOT EXISTS (SELECT 1 FROM customer c
                          WHERE c.c_custkey = o.o_custkey))
""",
)
def dq_relationships(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dbt `relationships` (referential integrity) via left-anti
    join; the parent key set broadcasts when small."""
    lineitem = table(spark, sf_dir, "lineitem")
    orders = table(spark, sf_dir, "orders")
    customer = table(spark, sf_dir, "customer")
    return _counted(
        "lineitem.l_orderkey -> orders.o_orderkey",
        dq.test_relationships(lineitem, "l_orderkey", orders, "o_orderkey"),
    ).unionAll(
        _counted(
            "orders.o_custkey -> customer.c_custkey",
            dq.test_relationships(orders, "o_custkey", customer, "c_custkey"),
        )
    )


@query(
    "dq_suite_single_pass",
    oracle="""
WITH j AS (
  SELECT o.*, c.c_custkey AS parent_key
  FROM orders o
  LEFT JOIN (SELECT DISTINCT c_custkey FROM customer) c
    ON o.o_custkey = c.c_custkey
),
agg AS (
  SELECT COUNT(*) FILTER (WHERE o_custkey IS NULL) AS null_custkey,
         COUNT(*) FILTER (WHERE o_orderstatus IS NOT NULL
                          AND o_orderstatus NOT IN ('O','F','P')) AS bad_status,
         COUNT(o_orderkey) - COUNT(DISTINCT o_orderkey) AS dup_rows,
         COUNT(*) FILTER (WHERE o_custkey IS NOT NULL
                          AND parent_key IS NULL) AS orphans
  FROM j
)
SELECT 'not_null: o_custkey' AS check_name,
       CAST(null_custkey AS BIGINT) AS n_violations FROM agg
UNION ALL SELECT 'accepted_values: o_orderstatus',
       CAST(bad_status AS BIGINT) FROM agg
UNION ALL SELECT 'unique: o_orderkey (excess rows)',
       CAST(dup_rows AS BIGINT) FROM agg
UNION ALL SELECT 'relationships: o_custkey -> customer',
       CAST(orphans AS BIGINT) FROM agg
""",
)
def dq_suite_single_pass(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The WHOLE dbt test suite for a table in ONE scan — the scale
    lesson the per-check ops above deliberately don't teach: running
    not_null, accepted_values, unique, and relationships as four
    separate queries scans the 100 TB fact FOUR times; batched as
    conditional aggregates over a single broadcast-joined pass it
    scans ONCE. The FK check rides the same pass as a LEFT join to
    the (distinct, broadcast) parent key set — an unmatched parent
    key is an orphan — so even referential integrity adds no extra
    fact scan. The unique check reports EXCESS ROWS
    (count − count distinct), the one uniqueness metric computable in
    the same aggregate (dbt's per-key violation list needs the
    groupBy shape of `dq_unique`). Parent keys are pre-distincted so
    a (buggy) duplicated dim could never inflate the fact rows and
    corrupt the other checks' denominators. stack() unpivots the
    one-row aggregate into the (check_name, n_violations) report.
    Plan-guarded: exactly one orders scan."""
    orders = table(spark, sf_dir, "orders")
    cust_keys = (
        table(spark, sf_dir, "customer").select("c_custkey").distinct()
    )
    j = orders.join(
        F.broadcast(cust_keys),
        orders["o_custkey"] == cust_keys["c_custkey"],
        "left",
    )
    agg = j.agg(
        F.count(F.when(F.col("o_custkey").isNull(), 1)).alias("null_custkey"),
        F.count(
            F.when(
                F.col("o_orderstatus").isNotNull()
                & ~F.col("o_orderstatus").isin("O", "F", "P"),
                1,
            )
        ).alias("bad_status"),
        # count(key), not count(*): dbt's unique test EXCLUDES NULL
        # keys (they're not duplicates of each other — they're a
        # not_null problem); count(*) would double-report every
        # NULL-keyed row under both checks (review finding)
        (F.count("o_orderkey") - F.countDistinct("o_orderkey")).alias("dup_rows"),
        F.count(
            F.when(
                F.col("o_custkey").isNotNull() & F.col("c_custkey").isNull(), 1
            )
        ).alias("orphans"),
    )
    return agg.selectExpr(
        "stack(4, "
        "'not_null: o_custkey', null_custkey, "
        "'accepted_values: o_orderstatus', bad_status, "
        "'unique: o_orderkey (excess rows)', dup_rows, "
        "'relationships: o_custkey -> customer', orphans) "
        "AS (check_name, n_violations)"
    )


@query(
    "model_incremental",
    oracle="""
SELECT o_orderkey, o_custkey,
       CASE WHEN o_orderkey % 10 = 0 THEN o_totalprice * 2
            ELSE o_totalprice END AS o_totalprice
FROM orders
""",
)
def model_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dbt `materialized='incremental'` lifecycle, two real runs:
    run 1 full-loads even order keys; run 2's batch carries the odd
    keys (inserts) plus re-stated %10 keys with doubled totals
    (updates) — the final target must equal the declarative
    recompute, proving MERGE-on-unique_key semantics inside the model
    DAG. Fresh warehouse per invocation (rerun-safe)."""
    orders = table(spark, sf_dir, "orders")
    cols = ["o_orderkey", "o_custkey", "o_totalprice"]
    model_sql = """
        {{ config(materialized='incremental', unique_key='o_orderkey') }}
        SELECT o_orderkey, o_custkey, o_totalprice
        FROM {{ source('stg', 'orders_batch') }}
        """
    with scratch_dir("model_incr") as wh:
        sources = {("stg", "orders_batch"): "stg_orders_batch"}
        # run 1: even keys, original values
        orders.filter(F.col("o_orderkey") % 2 == 0).select(
            *cols
        ).createOrReplaceTempView("stg_orders_batch")
        ModelProject(
            spark, [Model("incr_orders", model_sql)], sources, warehouse_dir=wh
        ).run()
        # run 2: odd keys (new) + %10 keys re-stated with doubled totals
        batch2 = orders.filter(F.col("o_orderkey") % 2 == 1).select(*cols).unionByName(
            orders.filter(F.col("o_orderkey") % 10 == 0).select(
                "o_orderkey", "o_custkey",
                (F.col("o_totalprice") * 2).alias("o_totalprice"),
            )
        )
        batch2.createOrReplaceTempView("stg_orders_batch")
        out = ModelProject(
            spark, [Model("incr_orders", model_sql)], sources, warehouse_dir=wh
        ).run()["incr_orders"]
        return out.localCheckpoint(eager=True)


@query(
    "model_lineage",
    oracle="""
SELECT * FROM (VALUES
  ('bronze_orders',      'source', 'stg.orders'),
  ('bronze_customer',    'source', 'stg.customer'),
  ('mart_nation_orders', 'ref',    'bronze_orders'),
  ('mart_nation_orders', 'ref',    'bronze_customer'),
  ('mart_nation_orders', 'source', 'stg.nation')
) t(model, edge_type, upstream)
""",
)
def model_lineage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compile-time lineage (the `dbt docs` dependency graph): every
    source()/ref() edge of the demo project as (model, edge_type,
    upstream) rows — extracted from the COMPILED models, so the
    lineage is exactly what execution will use, not a re-parse."""
    from gmt_dbt_spark.plans.models import _SOURCE_RE, compile_model

    rows = []
    names = {m.name for m in _MODELS}
    for m in _MODELS:
        fresh = Model(m.name, m.raw_sql)
        for sm in _SOURCE_RE.finditer(fresh.raw_sql):
            rows.append((fresh.name, "source", f"{sm.group(1)}.{sm.group(2)}"))
        compile_model(
            fresh, {("stg", t): f"stg_{t}" for t in ("orders", "customer", "nation")},
            names,
        )
        for dep in fresh.depends_on:
            rows.append((fresh.name, "ref", dep))
    return spark.createDataFrame(
        rows, "model string, edge_type string, upstream string"
    )


def _macro_money(col: str) -> str:
    """dbt-style macro: exact-decimal money aggregate (the exprs.py
    contract as a reusable template — each model stops hand-writing
    the CAST chain)."""
    return (
        f"CAST(CAST(SUM(CAST({col} AS DECIMAL(25,6))) AS STRING) AS DOUBLE)"
    )


def _macro_order_filter(status: str) -> str:
    return f"o_orderstatus = '{status}'"


@query(
    "model_macro",
    oracle="""
SELECT o_orderpriority,
       COUNT(*) AS n,
       CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(25,6))) AS VARCHAR) AS DOUBLE)
         AS total
FROM orders
WHERE o_orderstatus = 'F'
GROUP BY o_orderpriority
""",
)
def model_macro(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dbt macros in the model compiler (reference declares
    `macro-paths` with an empty dir): `{{ money(col) }}` expands to
    the exact-decimal aggregate template and `{{ order_filter(s) }}`
    to a predicate — compile-time SQL reuse, the dbt facility that
    keeps a 100-model project consistent."""
    table(spark, sf_dir, "orders").createOrReplaceTempView("stg_orders")
    project = ModelProject(
        spark,
        [
            Model(
                "finished_orders",
                """
                {{ config(materialized='view') }}
                SELECT o_orderpriority,
                       COUNT(*) AS n,
                       {{ money('o_totalprice') }} AS total
                FROM {{ source('stg', 'orders') }}
                WHERE {{ order_filter('F') }}
                GROUP BY o_orderpriority
                """,
            )
        ],
        {("stg", "orders"): "stg_orders"},
        warehouse_dir=os.path.join(SCRATCH, "macro_wh"),
        macros={"money": _macro_money, "order_filter": _macro_order_filter},
    )
    return project.run()["finished_orders"]


@query(
    "pipeline_reference_e2e",
    oracle=f"""
WITH b AS (
  SELECT business_id, city, state, stars
  FROM read_json('{os.path.join(REPO, "fixtures", "yelp_business.ndjson")}',
                 format='newline_delimited',
                 columns={{'business_id':'VARCHAR','city':'VARCHAR',
                          'state':'VARCHAR','stars':'DOUBLE'}})
),
tips AS (
  SELECT business_id, COUNT(*) AS n_tips
  FROM read_json('{os.path.join(REPO, "fixtures", "yelp_tip.ndjson")}',
                 format='newline_delimited',
                 columns={{'business_id':'VARCHAR'}})
  GROUP BY business_id
)
SELECT b.state, b.city,
       COUNT(*) AS n_business,
       CAST(CAST(SUM(CAST(b.stars AS DECIMAL(25,6))) AS VARCHAR) AS DOUBLE)
         / COUNT(*) AS avg_stars,
       CAST(SUM(COALESCE(t.n_tips, 0)) AS BIGINT) AS n_tips
FROM b LEFT JOIN tips t ON b.business_id = t.business_id
GROUP BY b.state, b.city
""",
)
def pipeline_reference_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's WHOLE pipeline replayed in one query, on
    Spark, over the Yelp-shaped fixtures: NDJSON discovery + schema
    autodetect ingest (`main.py:318-320`) → identifier sanitize
    (`main.py:215-230`, metadata-only here) → staging views (the
    STG_Yelp dataset, `main.py:38-55`) → dbt-style DAG of bronze
    CTAS models with NAMED columns (fixing the reference's
    `SELECT *`, §3.2) → a mart aggregate over two bronze models.
    What took the reference a GCS bucket, two BigQuery datasets and
    a dbt invocation is one lazy Spark DAG: ingest scans feed the
    CTAS writes, which feed the mart — each stage distributed."""
    from gmt_dbt_spark.sources.readers import scan_json
    from gmt_dbt_spark.sources.sanitize import sanitize_columns

    fx = os.path.join(REPO, "fixtures")
    for name, view in (
        ("yelp_business.ndjson", "stg_yelp_business"),
        ("yelp_tip.ndjson", "stg_yelp_tip"),
    ):
        sanitize_columns(scan_json(spark, os.path.join(fx, name))).createOrReplaceTempView(view)

    models = [
        Model(
            "bronze_business",
            """
            {{ config(materialized='table') }}
            SELECT business_id, city, state, stars
            FROM {{ source('stg', 'yelp_business') }}
            """,
        ),
        Model(
            "bronze_tip",
            """
            {{ config(materialized='view') }}
            SELECT business_id FROM {{ source('stg', 'yelp_tip') }}
            """,
        ),
        Model(
            "mart_city_stats",
            """
            {{ config(materialized='table') }}
            WITH tips AS (
              SELECT business_id, COUNT(*) AS n_tips
              FROM {{ ref('bronze_tip') }} GROUP BY business_id
            )
            SELECT b.state, b.city,
                   COUNT(*) AS n_business,
                   CAST(CAST(SUM(CAST(b.stars AS DECIMAL(25,6))) AS STRING)
                        AS DOUBLE) / COUNT(*) AS avg_stars,
                   CAST(SUM(COALESCE(t.n_tips, 0)) AS BIGINT) AS n_tips
            FROM {{ ref('bronze_business') }} b
            LEFT JOIN tips t ON b.business_id = t.business_id
            GROUP BY b.state, b.city
            """,
        ),
    ]
    sources = {
        ("stg", "yelp_business"): "stg_yelp_business",
        ("stg", "yelp_tip"): "stg_yelp_tip",
    }
    with scratch_dir("ref_e2e") as wh:
        out = ModelProject(
            spark, models, sources, warehouse_dir=wh, threads=4
        ).run()["mart_city_stats"]
        return out.localCheckpoint(eager=True)


@query(
    "model_ephemeral",
    oracle="""
WITH big_orders AS (
  SELECT o_orderkey, o_custkey, o_totalprice FROM orders
  WHERE o_totalprice > 100000.0
)
SELECT c.c_nationkey,
       COUNT(*) AS n_big,
       CAST(CAST(SUM(CAST(b.o_totalprice AS DECIMAL(25,6))) AS VARCHAR) AS DOUBLE)
         AS revenue
FROM big_orders b JOIN customer c ON b.o_custkey = c.c_custkey
GROUP BY c.c_nationkey
""",
)
def model_ephemeral(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dbt `materialized='ephemeral'`: the intermediate model never
    becomes a relation — its compiled SQL is spliced into consumers
    as a CTE (dbt's `__dbt__cte__` rewrite), so Catalyst optimizes
    straight through it (filter pushdown crosses the model boundary;
    nothing is materialized or registered). The mart consumes the
    ephemeral via {{ ref() }} and is the only table written."""
    stg_sources(spark, sf_dir, "orders", "customer")
    models = [
        Model(
            "big_orders",
            """
            {{ config(materialized='ephemeral') }}
            SELECT o_orderkey, o_custkey, o_totalprice
            FROM {{ source('stg', 'orders') }}
            WHERE o_totalprice > 100000.0
            """,
        ),
        Model(
            "mart_big_by_nation",
            """
            {{ config(materialized='table') }}
            SELECT c.c_nationkey,
                   COUNT(*) AS n_big,
                   CAST(CAST(SUM(CAST(b.o_totalprice AS DECIMAL(25,6)))
                        AS STRING) AS DOUBLE) AS revenue
            FROM {{ ref('big_orders') }} b
            JOIN {{ source('stg', 'customer') }} c ON b.o_custkey = c.c_custkey
            GROUP BY c.c_nationkey
            """,
        ),
    ]
    project = ModelProject(
        spark,
        models,
        {("stg", t): f"stg_{t}" for t in ("orders", "customer")},
        warehouse_dir=os.path.join(SCRATCH, "model_warehouse_eph"),
        threads=2,
    )
    results = project.run()
    assert "big_orders" not in [
        t.name for t in spark.catalog.listTables()
    ], "ephemeral model must not be registered as a relation"
    return results["mart_big_by_nation"]


@query(
    "dq_freshness",
    oracle="""
WITH anchor AS (SELECT MAX(ts) AS now_ts FROM events),
f AS (
  SELECT e.event_type,
         date_diff('second', MAX(e.ts), a.now_ts) AS lag_s
  FROM events e CROSS JOIN anchor a
  GROUP BY e.event_type, a.now_ts
)
SELECT event_type, lag_s,
       CASE WHEN lag_s > 3600 THEN 'error'
            WHEN lag_s > 600 THEN 'warn'
            ELSE 'pass' END AS status
FROM f
""",
)
def dq_freshness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dbt `source freshness`: age of each source's newest record vs
    warn_after/error_after thresholds. The reference's source.yml
    declares no freshness block (`models/yelp/source.yml:1-18`) but
    the check is standard dbt source config; the wall-clock anchor is
    pinned to the globally newest event so the result is
    deterministic. One aggregate per source + a scalar broadcast —
    no data movement beyond a per-type MAX."""
    ev = table(spark, sf_dir, "events")
    anchor = ev.agg(F.max("ts").alias("now_ts"))
    per_type = ev.groupBy("event_type").agg(F.max("ts").alias("max_ts"))
    lag_s = F.unix_timestamp("now_ts") - F.unix_timestamp("max_ts")
    return (
        per_type.crossJoin(F.broadcast(anchor))
        .select("event_type", lag_s.alias("lag_s"))
        .select(
            "event_type",
            "lag_s",
            F.when(F.col("lag_s") > 3600, "error")
            .when(F.col("lag_s") > 600, "warn")
            .otherwise("pass")
            .alias("status"),
        )
    )


def _py_customer_stats(dbt, session) -> DataFrame:
    """The Python model body for `model_python` — dbt ≥1.3 contract:
    `def model(dbt, session)` returning a DataFrame. Built from
    dbt.ref()/dbt.source() DataFrames with ordinary Spark ops (NOT
    pandas — the frame stays distributed; dbt on Spark behaves the
    same way), so the 100 TB story is identical to a SQL model."""
    o = dbt.ref("bronze_orders_py")
    c = dbt.source("stg", "customer")
    return (
        o.join(c, o["o_custkey"] == c["c_custkey"])
        .groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(25,6)"))
            .cast("string")
            .cast("double")
            .alias("total_price"),
        )
    )


@query(
    "model_python",
    oracle="""
SELECT c.c_nationkey,
       COUNT(*) AS n_orders,
       CAST(CAST(SUM(CAST(o.o_totalprice AS DECIMAL(25,6))) AS VARCHAR)
            AS DOUBLE) AS total_price,
       COUNT(*) * 2 AS doubled
FROM (SELECT o_orderkey, o_custkey, o_totalprice FROM orders
      WHERE o_orderstatus = 'O') o
JOIN customer c ON o.o_custkey = c.c_custkey
GROUP BY c.c_nationkey
""",
)
def model_python(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dbt PYTHON model inside the DAG runner: SQL bronze → Python
    model (DataFrame-building function, deps discovered statically
    from its dbt.ref()/dbt.source() calls — dbt's AST-extraction
    contract) → SQL mart consuming the Python model via ref(). The
    Python model materializes as a table like dbt requires, so the
    downstream SQL model reads an ordinary relation."""
    sources = stg_sources(spark, sf_dir, "orders", "customer")
    models = [
        Model(
            "bronze_orders_py",
            """
            {{ config(materialized='table') }}
            SELECT o_orderkey, o_custkey, o_totalprice
            FROM {{ source('stg', 'orders') }}
            WHERE o_orderstatus = 'O'
            """,
        ),
        Model("customer_stats_py", python_fn=_py_customer_stats),
        Model(
            "mart_from_python",
            """
            {{ config(materialized='view') }}
            SELECT c_nationkey, n_orders, total_price, n_orders * 2 AS doubled
            FROM {{ ref('customer_stats_py') }}
            """,
        ),
    ]
    with scratch_dir("model_py") as wh:
        project = ModelProject(spark, models, sources, warehouse_dir=wh, threads=4)
        out = project.run()["mart_from_python"]
        return out.localCheckpoint(eager=True)


@query(
    "model_contract",
    oracle="""
SELECT o_orderpriority, COUNT(*) AS n_orders,
       CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(25,6))) AS VARCHAR)
            AS DOUBLE) AS total_price
FROM orders
GROUP BY o_orderpriority
""",
)
def model_contract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dbt model CONTRACT (`contracts: enforced`): the model declares
    its exact output schema (name → type) and materialization aborts
    BEFORE writing if the computed frame drifts — extra, missing, or
    retyped columns all fail. The schema-stability guarantee
    downstream consumers of a 100 TB mart actually need (a silent
    type widening breaks every reader); negative cases pinned in
    tests/test_models.py."""
    table(spark, sf_dir, "orders").createOrReplaceTempView("stg_orders")
    m = Model(
        "priority_rollup",
        """
        {{ config(materialized='table', contract='enforced') }}
        SELECT o_orderpriority,
               COUNT(*) AS n_orders,
               CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(25,6))) AS STRING)
                    AS DOUBLE) AS total_price
        FROM {{ source('stg', 'orders') }}
        GROUP BY o_orderpriority
        """,
        contract={
            "o_orderpriority": "string",
            "n_orders": "bigint",
            "total_price": "double",
        },
    )
    with scratch_dir("model_contract") as wh:
        project = ModelProject(
            spark, [m], {("stg", "orders"): "stg_orders"}, warehouse_dir=wh
        )
        out = project.run()["priority_rollup"]
        return out.localCheckpoint(eager=True)


@query(
    "model_dir_run",
    oracle="""
SELECT c.c_mktsegment,
       COUNT(*) AS n_orders,
       CAST(CAST(SUM(CAST(o.o_totalprice AS DECIMAL(25,6))) AS VARCHAR)
            AS DOUBLE) AS total_price
FROM (SELECT o_orderkey, o_custkey, o_totalprice FROM orders
      WHERE o_orderstatus <> 'P') o
JOIN customer c ON o.o_custkey = c.c_custkey
GROUP BY c.c_mktsegment
""",
)
def model_dir_run(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`dbt run` from FILES: load `fixtures/models/*.sql` +
    `sources.json` off disk (the reference's project layout —
    `models/yelp/*.sql` + `source.yml`), compile, toposort,
    materialize, read the mart back. The complete file-in →
    warehouse-out lifecycle with zero Python model definitions."""
    from gmt_dbt_spark.plans.models import load_models_dir

    stg_sources(spark, sf_dir, "orders", "customer")
    models, sources = load_models_dir(os.path.join(REPO, "fixtures", "models"))
    with scratch_dir("model_dir") as wh:
        out = ModelProject(spark, models, sources, warehouse_dir=wh).run()[
            "mart_segment_sales_f"
        ]
        return out.localCheckpoint(eager=True)


@query(
    "model_unit_test",
    oracle="""
WITH mock AS (
  SELECT * FROM (VALUES
    ('O', 101.0), ('O', 202.0), ('F', 50.0),
    ('F', 150.0), ('F', 100.0), ('P', 999.0)
  ) t(o_orderstatus, o_totalprice)
),
actual AS (
  SELECT o_orderstatus, COUNT(*) AS n_orders,
         CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(25,6))) AS VARCHAR)
              AS DOUBLE) AS total
  FROM mock GROUP BY o_orderstatus
),
expected AS (
  SELECT * FROM (VALUES
    ('O', CAST(2 AS BIGINT), CAST(303.0 AS DOUBLE)),
    ('F', CAST(3 AS BIGINT), CAST(300.0 AS DOUBLE)),
    ('P', CAST(1 AS BIGINT), CAST(999.0 AS DOUBLE))
  ) t(o_orderstatus, n_orders, total)
)
SELECT COALESCE(a.o_orderstatus, e.o_orderstatus) AS o_orderstatus,
       a.n_orders AS actual_n, e.n_orders AS expected_n,
       a.total AS actual_total, e.total AS expected_total,
       (a.n_orders IS NOT DISTINCT FROM e.n_orders
        AND a.total IS NOT DISTINCT FROM e.total) AS row_ok
FROM actual a FULL OUTER JOIN expected e
  ON a.o_orderstatus = e.o_orderstatus
""",
)
def model_unit_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dbt UNIT TEST (dbt 1.8 `unit_tests:`): run a model against
    hand-written MOCK input rows and diff the result against
    hand-computed expected rows — logic testing decoupled from
    warehouse data, the missing rung below the dq_* data tests. The
    model compiles through the SAME Jinja shim + ModelProject path
    production uses (config/source resolution, view
    materialization); only the source mapping is swapped to the mock
    relation — exactly dbt's given/expect mechanics.

    The verdict is a FULL OUTER diff on the group key with
    null-safe comparisons, so missing rows, extra rows, and value
    drift all surface as row_ok=false (and the driver's hash pins
    the whole diff table). Unit tests run on mock-sized inputs by
    construction — scale-free."""
    mock = spark.createDataFrame(
        [("O", 101.0), ("O", 202.0), ("F", 50.0),
         ("F", 150.0), ("F", 100.0), ("P", 999.0)],
        "o_orderstatus string, o_totalprice double",
    )
    mock.createOrReplaceTempView("unit_mock_orders")
    project = ModelProject(
        spark,
        [
            Model(
                "status_rollup_under_test",
                """
                {{ config(materialized='view') }}
                SELECT o_orderstatus, COUNT(*) AS n_orders,
                       CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(25,6)))
                            AS STRING) AS DOUBLE) AS total
                FROM {{ source('stg', 'orders') }}
                GROUP BY o_orderstatus
                """,
            )
        ],
        {("stg", "orders"): "unit_mock_orders"},
        # a view-only project never writes its warehouse
        warehouse_dir=os.path.join(SCRATCH, "unit_test_wh"),
    )
    actual = project.run()["status_rollup_under_test"]
    expected = spark.createDataFrame(
        [("O", 2, 303.0), ("F", 3, 300.0), ("P", 1, 999.0)],
        "o_orderstatus string, n_orders bigint, total double",
    )
    a = actual.alias("a")
    e = expected.alias("e")
    return a.join(
        e, F.col("a.o_orderstatus") == F.col("e.o_orderstatus"), "full_outer"
    ).select(
        F.coalesce(F.col("a.o_orderstatus"), F.col("e.o_orderstatus")).alias(
            "o_orderstatus"
        ),
        F.col("a.n_orders").alias("actual_n"),
        F.col("e.n_orders").alias("expected_n"),
        F.col("a.total").alias("actual_total"),
        F.col("e.total").alias("expected_total"),
        (
            F.col("a.n_orders").eqNullSafe(F.col("e.n_orders"))
            & F.col("a.total").eqNullSafe(F.col("e.total"))
        ).alias("row_ok"),
    )


@query(
    "model_select_graph",
    oracle="""
SELECT n.n_name,
       COUNT(*) AS n_orders,
       CAST(CAST(SUM(CAST(o.o_totalprice AS DECIMAL(25,6))) AS VARCHAR)
            AS DOUBLE) AS total_price,
       TRUE AS unrelated_skipped
FROM (SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
      FROM orders WHERE o_orderdate >= TIMESTAMP '1996-01-01') o
JOIN (SELECT c_custkey, c_nationkey FROM customer) c
  ON o.o_custkey = c.c_custkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
GROUP BY n.n_name
""",
)
def model_select_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dbt NODE SELECTION (`--select +model`): run only the chosen
    model and its ancestors — the daily-operations surface that makes
    a 500-model project usable (rebuild one mart without paying for
    the whole DAG). The project here adds an UNRELATED fourth model
    whose materialization would write a table; selecting
    `+mart_nation_orders` must leave it untouched, asserted by the
    hashed `unrelated_skipped` boolean (its target table must NOT
    exist after the run)."""
    sources = stg_sources(spark, sf_dir, "orders", "customer", "nation")
    unrelated = Model(
        "unrelated_nation_copy",
        """
        {{ config(materialized='table') }}
        SELECT n_nationkey, n_name FROM {{ source('stg', 'nation') }}
        """,
    )
    project = ModelProject(
        spark,
        [Model(m.name, m.raw_sql) for m in _MODELS] + [unrelated],
        sources,
        warehouse_dir=os.path.join(SCRATCH, "model_warehouse_sel"),
        threads=4,
    )
    spark.sql("DROP TABLE IF EXISTS unrelated_nation_copy")
    results = project.run(select="+mart_nation_orders")
    skipped = (
        "unrelated_nation_copy" not in results
        and not spark.catalog.tableExists("unrelated_nation_copy")
    )
    return results["mart_nation_orders"].withColumn(
        "unrelated_skipped", F.lit(skipped)
    )


@query(
    "model_slim_ci",
    oracle="""
SELECT n.n_name,
       COUNT(*) AS n_orders,
       CAST(CAST(SUM(CAST(o.o_totalprice AS DECIMAL(25,6))) AS VARCHAR)
            AS DOUBLE) AS total_price,
       TRUE AS only_affected_ran
FROM (SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
      FROM orders WHERE o_orderdate >= TIMESTAMP '1996-01-02') o
JOIN (SELECT c_custkey, c_nationkey FROM customer) c
  ON o.o_custkey = c.c_custkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
GROUP BY n.n_name
""",
)
def model_slim_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SLIM CI (`dbt --select state:modified+ --state prior/`): a
    manifest of COMPILED-SQL hashes captures the prior state; after
    one bronze model's SQL changes, the diff selects exactly that
    model, its descendants rebuild (the mart), and — with --defer —
    the untouched sibling bronze resolves to its PRIOR materialized
    relation instead of re-running — the CI cost
    model that keeps 500-model projects shippable. Asserted by the
    hashed `only_affected_ran` boolean over the second run's result
    keys; the mart's values are hash-checked against the EDITED
    cutoff (1996-01-02), proving the rebuild actually picked up the
    change."""
    sources = stg_sources(spark, sf_dir, "orders", "customer", "nation")

    def project_with(cutoff: str) -> ModelProject:
        models = [
            Model(
                m.name,
                m.raw_sql.replace("1996-01-01", cutoff)
                if m.name == "bronze_orders"
                else m.raw_sql,
            )
            for m in _MODELS
        ]
        return ModelProject(
            spark,
            models,
            sources,
            warehouse_dir=os.path.join(SCRATCH, "model_warehouse_ci"),
            threads=4,
        )

    prior = project_with("1996-01-01")
    prior.run()
    state = prior.manifest()

    edited = project_with("1996-01-02")
    changed = edited.modified_vs(state)
    if not changed:
        # Steady state (nothing edited): an empty selector selects the
        # empty set, run() builds nothing, and the current mart is the
        # PRIOR warehouse artifact — read it back instead of indexing
        # into an empty results dict (ADVICE r2: the old fast-path
        # comment claimed this but the code would have raised KeyError;
        # unreachable in this query since the cutoff edit always
        # modifies bronze_orders, guarded anyway so the advertised
        # steady-state contract actually holds). only_affected_ran is
        # TRUE here — nothing changed ⇒ the empty set of affected
        # models "ran" vacuously (dbt's steady-state CI semantics),
        # and TRUE is what the oracle pins for every row.
        mart = edited.read_warehouse("mart_nation_orders")
        return mart.withColumn("only_affected_ran", F.lit(True))
    selector = ",".join(f"{n}+" for n in sorted(changed))
    results = edited.run(select=selector, defer=True)
    only_affected = (
        changed == {"bronze_orders"}
        and set(results) == {"bronze_orders", "mart_nation_orders"}
    )
    return results["mart_nation_orders"].withColumn(
        "only_affected_ran", F.lit(only_affected)
    )


@query(
    "model_docs_manifest",
    oracle="""
SELECT * FROM (VALUES
  ('bronze_customer',    'view',  '',                              2),
  ('bronze_orders',      'table', '',                              4),
  ('mart_nation_orders', 'table', 'bronze_customer,bronze_orders', 3)
) AS t(model, materialized, depends_on, n_columns)
""",
)
def model_docs_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`dbt docs generate`: the project introspected into a queryable
    catalog artifact — one row per model with its materialization,
    resolved ref() dependencies, and the POST-RUN column count read
    back from the warehouse relation (docs reflect what actually
    materialized, not what the SQL claims). This is the lineage
    metadata a data portal ingests; the dependency column is the
    edge list model_lineage expands."""
    sources = stg_sources(spark, sf_dir, "orders", "customer", "nation")
    project = ModelProject(
        spark,
        [Model(m.name, m.raw_sql) for m in _MODELS],
        sources,
        warehouse_dir=os.path.join(SCRATCH, "model_warehouse_docs"),
        threads=4,
    )
    results = project.run()
    rows = [
        (
            name,
            project.models[name].materialized,
            ",".join(sorted(project.models[name].depends_on)),
            len(results[name].columns),
        )
        for name in sorted(project.models)
    ]
    return spark.createDataFrame(
        rows, "model string, materialized string, depends_on string, n_columns int"
    )
