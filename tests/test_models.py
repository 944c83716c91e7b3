"""Model-DAG runner tests: Jinja-lite compile, ref-edge toposort,
threaded execution, table-vs-view materialization, and the dbt
contract errors (undeclared source, unknown ref, cycle)."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from gmt_dbt_spark.plans import dq
from gmt_dbt_spark.plans.models import Model, ModelProject, compile_model

SRC = {("stg", "t1"): "src_t1", ("stg", "t2"): "src_t2"}


def test_compile_resolves_directives():
    m = Model(
        "m1",
        "{{ config(materialized='table') }}\n"
        "SELECT * FROM {{ source('stg', 't1') }} "
        "JOIN {{ ref('m0') }} USING (k)",
    )
    compile_model(m, SRC, {"m0", "m1"})
    assert m.materialized == "table"
    assert m.depends_on == ["m0"]
    assert "src_t1" in m.compiled_sql
    assert "{{" not in m.compiled_sql


def test_compile_rejects_undeclared_source():
    # the reference's own defect: 2 models reference sources missing
    # from source.yml (SURVEY.md §3.2 defect 1) — we enforce the
    # contract dbt enforces.
    m = Model("bad", "SELECT * FROM {{ source('stg', 'nope') }}")
    with pytest.raises(KeyError, match="undeclared source"):
        compile_model(m, SRC, {"bad"})


def test_compile_rejects_unknown_ref():
    m = Model("bad", "SELECT * FROM {{ ref('ghost') }}")
    with pytest.raises(KeyError, match="unknown model"):
        compile_model(m, SRC, {"bad"})


def test_cycle_detection(spark, tmp_path):
    a = Model("a", "SELECT * FROM {{ ref('b') }}")
    b = Model("b", "SELECT * FROM {{ ref('a') }}")
    with pytest.raises(ValueError, match="cycle"):
        ModelProject(spark, [a, b], SRC, str(tmp_path)).run()


def test_dag_runs_in_dependency_order(spark, tmp_path):
    spark.createDataFrame([(1, "x"), (2, "y")], "k int, v string").createOrReplaceTempView(
        "src_t1"
    )
    models = [
        # declared mart-first to prove order comes from edges, not list position
        Model(
            "mart",
            "{{ config(materialized='table') }} "
            "SELECT k, upper(v) AS v FROM {{ ref('bronze') }}",
        ),
        Model("bronze", "SELECT k, v FROM {{ source('stg', 't1') }} WHERE k > 1"),
    ]
    out = ModelProject(spark, models, SRC, str(tmp_path), threads=4).run()
    assert [r.asDict() for r in out["mart"].collect()] == [{"k": 2, "v": "Y"}]
    # table materialization produced a parquet-backed copy; view did not
    assert (tmp_path / "mart").exists()
    assert not (tmp_path / "bronze").exists()
    # both are queryable as views afterwards (dbt's ref contract)
    assert spark.sql("SELECT COUNT(*) AS n FROM mart").first().n == 1


def test_ready_queue_starts_child_before_slow_sibling_finishes(spark, tmp_path):
    """A model starts as soon as its own parents are done, not when
    every model of the previous topological level is: `rq_slow` waits
    for an event that only `rq_c` (child of the fast `rq_b`) sets.
    Level-barrier scheduling would hold `rq_c` behind `rq_slow`, and
    `rq_slow` would time out and fail."""
    import threading

    released = threading.Event()

    def rq_slow(dbt, session):
        if not released.wait(timeout=30):
            raise RuntimeError("rq_c did not start while rq_slow was running")
        return session.range(1)

    def rq_c(dbt, session):
        df = dbt.ref("rq_b")
        released.set()
        return df

    models = [
        Model("rq_slow", python_fn=rq_slow),
        Model("rq_b", "SELECT 1 AS x"),
        Model("rq_c", python_fn=rq_c),
    ]
    out = ModelProject(spark, models, {}, str(tmp_path), threads=4).run()
    assert released.is_set()
    assert out["rq_c"].collect()[0].x == 1
    assert list(out) == ["rq_slow", "rq_b", "rq_c"]  # topological order


def test_failed_model_stops_its_descendants(spark, tmp_path):
    """The first failure re-raises after running models finish, and no
    model is started after it: the failed model's child never runs."""

    def rq_bad(dbt, session):
        raise RuntimeError("planted model failure")

    models = [
        Model("rq_bad", python_fn=rq_bad),
        Model(
            "rq_after_bad",
            "{{ config(materialized='table') }} SELECT * FROM {{ ref('rq_bad') }}",
        ),
    ]
    with pytest.raises(RuntimeError, match="planted model failure"):
        ModelProject(spark, models, {}, str(tmp_path)).run()
    assert not (tmp_path / "rq_after_bad").exists()


def test_dq_primitives(spark):
    df = spark.createDataFrame(
        [(1, "a"), (1, "b"), (2, None), (3, "zz")], "k int, v string"
    )
    parent = spark.createDataFrame([(1,), (2,)], "pk int")
    assert dq.test_not_null(df, "v").count() == 1
    dups = dq.test_unique(df, "k").collect()
    assert [(r.k, r.n_rows) for r in dups] == [(1, 2)]
    assert {r.k for r in dq.test_accepted_values(df, "v", ["a", "b"]).collect()} == {3}
    assert {r.k for r in dq.test_relationships(df, "k", parent, "pk").collect()} == {3}


def test_incremental_model_merge_and_guard(spark, tmp_path):
    """Incremental materialization: first run full-loads; second run
    sees is_incremental()=TRUE and `{{ this }}` bound to the current
    target, loads ONLY rows newer than the target's max id, and
    merges on unique_key. The guard must actually prune (we feed the
    full source both times — without the guard run 2 would re-merge
    everything; with it, only the new rows arrive, which we observe
    via an updated-in-source row that must NOT change)."""
    sql = """
    {{ config(materialized='incremental', unique_key='id') }}
    SELECT id, val FROM {{ source('s', 'src') }}
    {% if is_incremental() %}
    WHERE id > (SELECT MAX(id) FROM {{ this }})
    {% endif %}
    """
    sources = {("s", "src"): "incr_src"}
    wh = str(tmp_path / "wh")

    spark.createDataFrame(
        [(1, "a"), (2, "b")], "id bigint, val string"
    ).createOrReplaceTempView("incr_src")
    ModelProject(spark, [Model("m", sql)], sources, warehouse_dir=wh).run()

    # source now: row 1 CHANGED (guard must skip it), row 3 new.
    spark.createDataFrame(
        [(1, "CHANGED"), (2, "b"), (3, "c")], "id bigint, val string"
    ).createOrReplaceTempView("incr_src")
    out = ModelProject(
        spark, [Model("m", sql)], sources, warehouse_dir=wh
    ).run()["m"]
    got = {r.id: r.val for r in out.collect()}
    assert got == {1: "a", 2: "b", 3: "c"}


def test_incremental_requires_unique_key(spark, tmp_path):
    sql = "{{ config(materialized='incremental') }} SELECT 1 AS id"
    wh = str(tmp_path / "wh2")
    p = ModelProject(spark, [Model("m2", sql)], {}, warehouse_dir=wh)
    p.run()  # first run is a plain CTAS — no key needed yet
    with pytest.raises(Exception, match="unique_key"):
        ModelProject(spark, [Model("m2", sql)], {}, warehouse_dir=wh).run()


def test_snapshot_idempotent_and_closes_versions(spark):
    """SCD2 contract: re-applying an unchanged source is a no-op;
    a changed row closes its previous version at exactly the new
    version's valid_from; keys never touched stay open."""
    from gmt_dbt_spark.plans.snapshots import snapshot_apply

    v1 = spark.createDataFrame(
        [(1, "a", "2024-01-01"), (2, "b", "2024-01-01")],
        "id bigint, val string, d string",
    ).select("id", "val", F.to_timestamp("d").alias("updated_at"))
    hist1 = snapshot_apply(None, v1, "id", "updated_at")

    # idempotence: same source again → identical history
    hist1b = snapshot_apply(hist1, v1, "id", "updated_at")
    assert sorted(map(tuple, hist1b.collect())) == sorted(map(tuple, hist1.collect()))

    # change row 1 on 2024-02-01
    v2 = spark.createDataFrame(
        [(1, "a2", "2024-02-01")], "id bigint, val string, d string"
    ).select("id", "val", F.to_timestamp("d").alias("updated_at"))
    hist2 = snapshot_apply(hist1, v2, "id", "updated_at")
    rows = {(r.id, r.val): (r.valid_from.isoformat(), r.valid_to.isoformat() if r.valid_to else None)
            for r in hist2.collect()}
    assert rows[(1, "a")] == ("2024-01-01T00:00:00", "2024-02-01T00:00:00")
    assert rows[(1, "a2")] == ("2024-02-01T00:00:00", None)
    assert rows[(2, "b")][1] is None


def test_macro_expansion_and_unknown_macro(spark):
    from gmt_dbt_spark.plans.models import expand_macros

    macros = {"upper_of": lambda c: f"upper({c})", "two": lambda: "2"}
    out = expand_macros(
        "SELECT {{ upper_of('v') }} FROM t WHERE k > {{ two() }} "
        "AND {{ is_incremental() }}",
        macros,
    )
    assert out == "SELECT upper(v) FROM t WHERE k > 2 AND {{ is_incremental() }}"
    with pytest.raises(KeyError, match="undefined macro"):
        expand_macros("SELECT {{ ghost(1) }}", macros)


def test_macro_can_emit_directives(spark, tmp_path):
    """A macro that expands to a source() directive must compile —
    macros run before directive resolution (dbt semantics)."""
    from gmt_dbt_spark.plans.models import Model, ModelProject

    spark.createDataFrame([(1,)], "k int").createOrReplaceTempView("src_t1")
    m = Model("mm", "SELECT k FROM {{ base_table() }}")
    out = ModelProject(
        spark, [m], {("stg", "t1"): "src_t1"}, str(tmp_path),
        macros={"base_table": lambda: "{{ source('stg', 't1') }}"},
    ).run()["mm"]
    assert out.collect()[0].k == 1


def test_snapshot_random_sequences_match_declarative(spark):
    """Property: applying version batches one-at-a-time through
    snapshot_apply must equal the declarative reconstruction (LEAD
    over all versions) no matter how versions are grouped into
    batches. Seeded random keys/timestamps/batch splits."""
    import random

    from gmt_dbt_spark.plans.snapshots import snapshot_apply

    rng = random.Random(8132026)
    for _ in range(4):
        # random version set: key → sorted distinct day offsets
        versions = []
        for key in range(rng.randint(1, 6)):
            days = sorted(rng.sample(range(1, 28), rng.randint(1, 4)))
            for d in days:
                versions.append((key, f"v{d}", f"2024-01-{d:02d}"))
        rng.shuffle(versions)
        cut = rng.randint(0, len(versions))
        batches = [versions[:cut], versions[cut:]]
        # batches must arrive in timestamp order per key (snapshot
        # contract: sources move forward); sort each batch's rows and
        # route each key's earlier versions to the earlier batch
        versions.sort(key=lambda v: v[2])
        mid = len(versions) // 2
        batches = [versions[:mid], versions[mid:]]

        hist = None
        for b in batches:
            if not b:
                continue
            df = spark.createDataFrame(
                b, "id bigint, val string, d string"
            ).select("id", "val", F.to_timestamp("d").alias("updated_at"))
            hist = snapshot_apply(hist, df, "id", "updated_at")

        got = {
            (r.id, r.valid_from.isoformat()): (
                r.val, r.valid_to.isoformat() if r.valid_to else None
            )
            for r in hist.collect()
        }
        # declarative expectation
        by_key: dict[int, list] = {}
        for k, v, d in versions:
            by_key.setdefault(k, []).append((d, v))
        expect = {}
        for k, vs in by_key.items():
            vs.sort()
            for i, (d, v) in enumerate(vs):
                nxt = f"{vs[i+1][0]}T00:00:00" if i + 1 < len(vs) else None
                expect[(k, f"{d}T00:00:00")] = (v, nxt)
        assert got == expect


def test_python_model_static_dep_extraction():
    """Python-model deps must be discovered statically from
    dbt.ref()/dbt.source() calls (dbt's AST contract) — before any
    execution."""
    from gmt_dbt_spark.plans.models import Model, compile_model

    def pymodel(dbt, session):
        a = dbt.ref("upstream_a")
        b = dbt.source("stg", "orders")
        return a.join(b, "k")

    m = compile_model(
        Model("pm", python_fn=pymodel),
        sources={("stg", "orders"): "stg_orders"},
        model_names={"pm", "upstream_a"},
    )
    assert m.depends_on == ["upstream_a"]
    assert m.materialized == "table"  # python default


def test_python_model_unknown_ref_rejected():
    from gmt_dbt_spark.plans.models import Model, compile_model

    def pymodel(dbt, session):
        return dbt.ref("nope")

    try:
        compile_model(Model("pm", python_fn=pymodel), {}, {"pm"})
        raise AssertionError("expected KeyError")
    except KeyError:
        pass


def test_python_model_cannot_be_ephemeral():
    from gmt_dbt_spark.plans.models import Model, compile_model

    def pymodel(dbt, session):
        return dbt.ref("pm2")

    try:
        compile_model(
            Model("pm", config={"materialized": "ephemeral"}, python_fn=pymodel),
            {},
            {"pm", "pm2"},
        )
        raise AssertionError("expected ValueError")
    except ValueError:
        pass


def test_contract_violation_aborts_before_write(spark, tmp_path):
    """A contract mismatch (retyped column) must raise and leave NO
    materialized artifact behind."""
    import os

    from gmt_dbt_spark.plans.models import Model, ModelProject

    spark.range(5).selectExpr("id AS k", "id * 2 AS v").createOrReplaceTempView(
        "stg_contract_src"
    )
    m = Model(
        "contracted",
        """
        {{ config(materialized='table', contract='enforced') }}
        SELECT k, CAST(v AS STRING) AS v FROM {{ source('s', 't') }}
        """,
        contract={"k": "bigint", "v": "bigint"},  # v is actually string
    )
    project = ModelProject(
        spark, [m], {("s", "t"): "stg_contract_src"}, warehouse_dir=str(tmp_path)
    )
    try:
        project.run()
        raise AssertionError("expected contract violation")
    except ValueError as e:
        assert "retyped=['v']" in str(e)
    assert not os.path.exists(str(tmp_path / "contracted"))


def test_select_nodes_syntax(spark):
    """Selector algebra: name / +name / name+ / comma-union, unknown
    names raise — over a known diamond DAG."""
    import pytest as _pytest

    from gmt_dbt_spark.plans.models import Model, ModelProject
    from tests.conftest import SF_DIR
    from gmt_dbt_spark.catalog import table

    table(spark, SF_DIR, "nation").createOrReplaceTempView("stg_nation")
    models = [
        Model("a", "SELECT n_nationkey FROM {{ source('stg', 'nation') }}"),
        Model("b", "SELECT * FROM {{ ref('a') }}"),
        Model("c", "SELECT * FROM {{ ref('a') }}"),
        Model("d", "SELECT * FROM {{ ref('b') }} UNION ALL SELECT * FROM {{ ref('c') }}"),
    ]
    proj = ModelProject(
        spark, models, {("stg", "nation"): "stg_nation"},
        warehouse_dir="/tmp/sel_test_wh",
    )
    assert proj.select_nodes("d") == {"d"}
    assert proj.select_nodes("+d") == {"a", "b", "c", "d"}
    assert proj.select_nodes("a+") == {"a", "b", "c", "d"}
    assert proj.select_nodes("b+") == {"b", "d"}
    assert proj.select_nodes("+b") == {"a", "b"}
    assert proj.select_nodes("b,c") == {"b", "c"}
    with _pytest.raises(KeyError):
        proj.select_nodes("nope")


def test_defer_resolves_from_warehouse(spark, tmp_path):
    """run(select=..., defer=True) must bind deferred ancestors to
    their WAREHOUSE prior state, not to session temp-view luck: after
    a full run, drop every temp view, build a FRESH project over the
    same warehouse and defer-run only the mart — the deferred table
    ancestor must re-register from parquet and the result must match
    the full run."""
    from gmt_dbt_spark.catalog import table
    from gmt_dbt_spark.plans.models import Model, ModelProject
    from tests.conftest import SF_DIR

    table(spark, SF_DIR, "nation").createOrReplaceTempView("stg_nation")
    sources = {("stg", "nation"): "stg_nation"}
    wh = str(tmp_path / "wh")

    def make_project():
        return ModelProject(
            spark,
            [
                Model(
                    "base_nations",
                    "{{ config(materialized='table') }} "
                    "SELECT n_nationkey, n_name FROM {{ source('stg', 'nation') }}",
                ),
                Model(
                    "mart_n",
                    "{{ config(materialized='table') }} "
                    "SELECT COUNT(*) AS n FROM {{ ref('base_nations') }}",
                ),
            ],
            sources,
            warehouse_dir=wh,
        )

    full = make_project().run()
    expected = full["mart_n"].collect()[0]["n"]

    # simulate a fresh session for model relations
    spark.catalog.dropTempView("base_nations")
    spark.catalog.dropTempView("mart_n")

    deferred = make_project().run(select="mart_n", defer=True)
    assert set(deferred) == {"mart_n"}
    assert deferred["mart_n"].collect()[0]["n"] == expected


def test_dq_suite_unique_excludes_null_keys(spark, tmp_path):
    """dbt's unique test excludes NULL keys (they are a not_null
    problem, not duplicates of each other); the one-scan suite's
    excess-rows metric must agree — count(key) − count(distinct key),
    not count(*) (review finding: count(*) double-reported every
    NULL-keyed row under both checks)."""
    import datetime as dt

    import pyarrow as pa
    import pyarrow.parquet as pq

    from gmt_dbt_spark.registry import all_queries

    d = tmp_path / "sf"
    d.mkdir()
    ts = dt.datetime(2024, 1, 1)
    # two NULL-keyed rows, all non-null keys unique, one real dup pair
    keys = [1, 2, 3, None, None, 4, 4]
    pq.write_table(
        pa.table(
            {
                "o_orderkey": pa.array(keys, pa.int64()),
                "o_custkey": pa.array([10] * 7, pa.int64()),
                "o_orderstatus": pa.array(["O"] * 7, pa.string()),
                "o_totalprice": pa.array([100.0] * 7, pa.float64()),
                "o_orderdate": pa.array([ts] * 7, pa.timestamp("us")),
                "o_orderpriority": pa.array(["1-URGENT"] * 7, pa.string()),
            }
        ),
        str(d / "orders.parquet"),
    )
    pq.write_table(
        pa.table({"c_custkey": pa.array([10], pa.int64()),
                  "c_name": pa.array(["c"], pa.string()),
                  "c_acctbal": pa.array([5.0], pa.float64()),
                  "c_nationkey": pa.array([1], pa.int64()),
                  "c_mktsegment": pa.array(["B"], pa.string())}),
        str(d / "customer.parquet"),
    )
    out = {
        r.check_name: r.n_violations
        for r in all_queries()["dq_suite_single_pass"](spark, str(d)).collect()
    }
    # exactly ONE excess row (the 4/4 dup) — the two NULL keys are
    # not uniqueness violations; they are also not not_null
    # violations for o_custkey (which is populated)
    assert out["unique: o_orderkey (excess rows)"] == 1
    assert out["not_null: o_custkey"] == 0
    assert out["relationships: o_custkey -> customer"] == 0
