"""Output checks, run outside the timed region.

Query outputs are compared against their registry DuckDB oracle with
the normalization of ``tools/selfcheck.py`` (imported, not copied).
The ELT pipeline's mart, incremental target and final upsert target
are compared against DuckDB SQL over the generated source files.
"""

from __future__ import annotations

import os

import duckdb

from tools.selfcheck import canon_frame

REVIEW_COLS = (
    "{'review_id':'VARCHAR','user_id':'VARCHAR','business_id':'VARCHAR',"
    "'stars':'DOUBLE','useful':'BIGINT','funny':'BIGINT','cool':'BIGINT',"
    "'text':'VARCHAR','date':'VARCHAR'}"
)
BIZ_COLS = "{'business_id':'VARCHAR','city':'VARCHAR','state':'VARCHAR','stars':'DOUBLE'}"


def compare(spark_pdf, oracle_pdf) -> str | None:
    """None when both frames hold the same rows, else a short reason."""
    s_cols, o_cols = sorted(spark_pdf.columns), sorted(oracle_pdf.columns)
    if s_cols != o_cols:
        return f"columns differ: {s_cols} vs {o_cols}"
    s_rows, o_rows = canon_frame(spark_pdf, "spark"), canon_frame(oracle_pdf, "oracle")
    if len(s_rows) != len(o_rows):
        return f"row count {len(s_rows)} vs oracle {len(o_rows)}"
    for a, b in zip(s_rows, o_rows):
        if a != b:
            return f"first differing row: {a!r} vs oracle {b!r}"
    return None


def oracle_connection(sf_dir: str, tables) -> duckdb.DuckDBPyConnection:
    """DuckDB with one view per generated table, as tools/selfcheck.py sets it up."""
    con = duckdb.connect()
    for t in tables:
        extra = " WHERE ts IS NOT NULL" if t == "events" else ""
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'{extra}")
    return con


def _ndjson(path: str, cols: str) -> str:
    return (f"read_json('{path}', format='newline_delimited', ignore_errors=true, "
            f"columns={cols})")


def _apply(reviews: str, batch: str) -> str:
    """Reviews with a batch applied: its rows replace or add by review_id."""
    return (f"(SELECT * FROM {reviews} t WHERE t.review_id NOT IN "
            f"(SELECT review_id FROM {batch}) UNION ALL SELECT * FROM {batch})")


def elt_expected(src: str, delta: str, batch_paths: list[str]) -> dict[str, str]:
    """DuckDB SQL for the three ELT outputs the benchmark checks.

    The first model run reads the ingested reviews; the second reads
    them with ``delta`` applied, so the incremental model MERGEs the
    stats of the businesses with reviews newer than its first load
    (known and new keys) and keeps the others.  The upsert batches are
    then applied to ``bronze_review`` in order."""
    yelp = os.path.join(src, "yelp")
    reviews = (f"(SELECT * FROM {_ndjson(os.path.join(yelp, 'yelp_academic_dataset_review.json'), REVIEW_COLS)}"
               " WHERE review_id IS NOT NULL)")
    reviews2 = _apply(reviews, _ndjson(delta, REVIEW_COLS))
    biz = (f"(SELECT * FROM {_ndjson(os.path.join(yelp, 'yelp_academic_dataset_business.json'), BIZ_COLS)}"
           f" UNION ALL SELECT * FROM read_json('{os.path.join(yelp, 'extra', 'yelp_business_extra.json')}',"
           f" format='array', columns={BIZ_COLS}))")
    stars_sum = "CAST(CAST(SUM(CAST(r.stars AS DECIMAL(25,6))) AS VARCHAR) AS DOUBLE)"
    mart = f"""
SELECT b.state, b.city, COUNT(*) AS n_reviews, COUNT(DISTINCT r.user_id) AS n_users,
       {stars_sum} / COUNT(*) AS avg_stars
FROM {reviews2} r JOIN {biz} b ON r.business_id = b.business_id
GROUP BY b.state, b.city"""

    def stats(rows: str) -> str:
        return (f"SELECT r.business_id, COUNT(*) AS n_reviews, {stars_sum} AS stars_sum, "
                f"MAX(r.date) AS last_review_date FROM {rows} r GROUP BY r.business_id")

    stats_sql = f"""
WITH run1 AS ({stats(reviews)}),
     run2 AS ({stats(f"(SELECT * FROM {reviews2} WHERE date > (SELECT MAX(last_review_date) FROM run1))")})
SELECT * FROM run1 WHERE business_id NOT IN (SELECT business_id FROM run2)
UNION ALL SELECT * FROM run2"""
    target = reviews2
    for p in batch_paths:
        target = _apply(target, _ndjson(p, REVIEW_COLS))
    return {
        "mart_city_reviews": mart,
        "business_review_stats": stats_sql,
        "bronze_review": f"SELECT * FROM {target}",
    }
