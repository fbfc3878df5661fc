"""Executable MERGE INTO (plans/merge.py): parser units plus end-to-end
upsert / delete / insert-only runs through SqlTask against the session
catalog. Reference surface: warehouse-side MERGE reachable through the
SnowflakeOperator pass-through (dags/dev_db_test.py:41-70)."""

from __future__ import annotations

from datetime import datetime

import pytest

from bfs_etl_sep2025_spark.plans import Pipeline, SqlTask
from bfs_etl_sep2025_spark.plans.merge import parse_merge, run_merge

FROZEN = datetime(2024, 3, 1, 12, 0, 0)

MERGE_UPSERT = """\
MERGE INTO m_tgt t USING m_src s ON t.id = s.id
WHEN MATCHED THEN UPDATE SET val = s.val, n = t.n + 1
WHEN NOT MATCHED THEN INSERT (id, val, n) VALUES (s.id, s.val, 0)"""


def test_parse_upsert_shape():
    spec = parse_merge(MERGE_UPSERT)
    assert spec.target == "m_tgt" and spec.target_alias == "t"
    assert spec.source_sql == "m_src" and spec.source_alias == "s"
    assert spec.on == "t.id = s.id"
    assert spec.update_sets == {"val": "s.val", "n": "t.n + 1"}
    assert spec.insert_cols == ["id", "val", "n"]
    assert spec.insert_vals == ["s.id", "s.val", "0"]


def test_parse_subquery_source_and_delete():
    spec = parse_merge(
        "MERGE INTO db.tgt USING (SELECT id FROM x WHERE ok) AS s "
        "ON tgt.id = s.id WHEN MATCHED THEN DELETE"
    )
    assert spec.target == "db.tgt" and spec.target_alias == "tgt"
    assert spec.source_sql == "(SELECT id FROM x WHERE ok)"
    assert spec.delete_matched and not spec.update_sets
    assert spec.insert_vals is None


def test_parse_rejects_update_plus_delete():
    """An unguarded branch makes any later branch on the same side
    unreachable (first-true-wins), so the statement is rejected."""
    with pytest.raises(ValueError):
        parse_merge(
            "MERGE INTO t USING s ON t.id = s.id "
            "WHEN MATCHED THEN UPDATE SET a = 1 "
            "WHEN MATCHED THEN DELETE"
        )


def test_parse_guarded_branches():
    spec = parse_merge(
        "MERGE INTO t USING s ON t.id = s.id "
        "WHEN MATCHED AND s.op = 'D' THEN DELETE "
        "WHEN MATCHED AND s.op = 'U' THEN UPDATE SET v = s.v "
        "WHEN NOT MATCHED AND s.op <> 'D' THEN INSERT (id, v) "
        "VALUES (s.id, s.v)"
    )
    assert [b.guard for b in spec.matched] == ["s.op = 'D'", "s.op = 'U'"]
    assert spec.matched[0].delete and not spec.matched[1].delete
    assert spec.matched[1].sets == {"v": "s.v"}
    assert spec.not_matched[0].guard == "s.op <> 'D'"
    # a guard containing AND / THEN inside parens or strings still parses
    spec2 = parse_merge(
        "MERGE INTO t USING s ON t.id = s.id "
        "WHEN MATCHED AND (s.a > 1 AND s.note <> 'THEN') THEN DELETE"
    )
    assert spec2.matched[0].guard == "(s.a > 1 AND s.note <> 'THEN')"


def test_split_top_level_sparse_positions_regression():
    """A long parenthesized expression leaves few-but-large top-level
    indices; iterating them through a set() once scrambled CPython's int
    iteration order and silently mis-split SET clauses (ADVICE r3, high)."""
    from bfs_etl_sep2025_spark.plans.merge import _split_top_level

    big = "(" + " + ".join(f"col{i:05d}" for i in range(500)) + ")"
    parts = _split_top_level(f"a = {big}, b = 2, c = 3")
    assert len(parts) == 3
    assert parts[0] == f"a = {big}" and parts[1] == "b = 2"
    assert parts[2] == "c = 3"


def _seed(spark, pipeline):
    SqlTask(
        "seed",
        sql=(
            "CREATE OR REPLACE TABLE m_tgt (id INT, val VARCHAR(10), n INT); "
            "INSERT INTO m_tgt VALUES (1, 'a', 10), (2, 'b', 20); "
            "CREATE OR REPLACE TABLE m_src (id INT, val VARCHAR(10)); "
            "INSERT INTO m_src VALUES (2, 'B'), (3, 'C')"
        ),
        schema="dev_db",
        pipeline=pipeline,
    )


def test_merge_upsert_executes(spark):
    p = Pipeline("merge_upsert", clock=lambda: FROZEN)
    _seed(spark, p)
    p.run(spark)
    p2 = Pipeline("merge_upsert2", clock=lambda: FROZEN)
    SqlTask("merge", sql=MERGE_UPSERT, schema="dev_db", pipeline=p2)
    p2.run(spark)
    rows = {
        (r.id, r.val, r.n) for r in spark.table("dev_db.m_tgt").collect()
    }
    # 1 untouched, 2 updated (val from source, n incremented), 3 inserted
    assert rows == {(1, "a", 10), (2, "B", 21), (3, "C", 0)}
    # staging table cleaned up
    assert not spark.catalog.tableExists("dev_db.m_tgt__merge_stage")


def test_merge_delete_executes(spark):
    p = Pipeline("merge_del", clock=lambda: FROZEN)
    _seed(spark, p)
    p.run(spark)
    p2 = Pipeline("merge_del2", clock=lambda: FROZEN)
    SqlTask(
        "merge",
        sql=(
            "MERGE INTO m_tgt t USING m_src s ON t.id = s.id "
            "WHEN MATCHED THEN DELETE"
        ),
        schema="dev_db",
        pipeline=p2,
    )
    p2.run(spark)
    rows = {(r.id, r.val, r.n) for r in spark.table("dev_db.m_tgt").collect()}
    assert rows == {(1, "a", 10)}


def test_merge_insert_only_with_null_fill(spark):
    """INSERT listing a subset of target columns: the rest land as typed
    NULLs (schema-driven CAST in the rewrite)."""
    p = Pipeline("merge_ins", clock=lambda: FROZEN)
    _seed(spark, p)
    p.run(spark)
    p2 = Pipeline("merge_ins2", clock=lambda: FROZEN)
    SqlTask(
        "merge",
        sql=(
            "MERGE INTO m_tgt t USING m_src s ON t.id = s.id "
            "WHEN NOT MATCHED THEN INSERT (id, val) VALUES (s.id, s.val)"
        ),
        schema="dev_db",
        pipeline=p2,
    )
    p2.run(spark)
    rows = {(r.id, r.val, r.n) for r in spark.table("dev_db.m_tgt").collect()}
    assert rows == {(1, "a", 10), (2, "b", 20), (3, "C", None)}


def test_merge_guarded_cdc_executes(spark):
    """The canonical CDC shape: one MERGE routing deletes/updates/inserts
    by an op column, guards evaluated first-true-wins."""
    p = Pipeline("merge_cdc", clock=lambda: FROZEN)
    SqlTask(
        "seed",
        sql=(
            "CREATE OR REPLACE TABLE c_tgt (id INT, val VARCHAR(10), n INT); "
            "INSERT INTO c_tgt VALUES (1, 'a', 10), (2, 'b', 20), (3, 'c', 30); "
            "CREATE OR REPLACE TABLE c_src (id INT, val VARCHAR(10), op VARCHAR(1)); "
            "INSERT INTO c_src VALUES (1, NULL, 'D'), (2, 'B', 'U'), "
            "(4, 'd', 'I'), (5, NULL, 'D')"
        ),
        schema="dev_db",
        pipeline=p,
    )
    p.run(spark)
    p2 = Pipeline("merge_cdc2", clock=lambda: FROZEN)
    SqlTask(
        "merge",
        sql=(
            "MERGE INTO c_tgt t USING c_src s ON t.id = s.id "
            "WHEN MATCHED AND s.op = 'D' THEN DELETE "
            "WHEN MATCHED THEN UPDATE SET val = s.val, n = t.n + 1 "
            "WHEN NOT MATCHED AND s.op <> 'D' THEN INSERT (id, val, n) "
            "VALUES (s.id, s.val, 0)"
        ),
        schema="dev_db",
        pipeline=p2,
    )
    p2.run(spark)
    rows = {(r.id, r.val, r.n) for r in spark.table("dev_db.c_tgt").collect()}
    # 1 deleted; 2 updated; 3 untouched; 4 inserted; 5 (op=D, unmatched) skipped
    assert rows == {(2, "B", 21), (3, "c", 30), (4, "d", 0)}


def test_merge_duplicate_source_raises(spark):
    """A target row matching two source rows is a nondeterministic MERGE —
    the runtime guard raises like Snowflake/Delta instead of silently
    fanning out the LEFT JOIN (VERDICT r3 item 2)."""
    p = Pipeline("merge_dup", clock=lambda: FROZEN)
    SqlTask(
        "seed",
        sql=(
            "CREATE OR REPLACE TABLE u_tgt (id INT, v INT); "
            "INSERT INTO u_tgt VALUES (1, 10); "
            "CREATE OR REPLACE TABLE u_src (id INT, v INT); "
            "INSERT INTO u_src VALUES (1, 100), (1, 200)"
        ),
        schema="dev_db",
        pipeline=p,
    )
    p.run(spark)
    from bfs_etl_sep2025_spark.plans.merge import run_merge

    with pytest.raises(ValueError, match="nondeterministic"):
        run_merge(
            spark,
            "MERGE INTO dev_db.u_tgt t USING dev_db.u_src s ON t.id = s.id "
            "WHEN MATCHED THEN UPDATE SET v = s.v",
        )
    # target untouched by the failed merge
    assert sorted((r.id, r.v) for r in spark.table("dev_db.u_tgt").collect()) == [
        (1, 10)
    ]
    # insert-only MERGE is deterministic under duplicate matches: the anti
    # join drops both source rows and the target row is neither fanned out
    # nor rewritten (an append of nothing)
    run_merge(
        spark,
        "MERGE INTO dev_db.u_tgt t USING dev_db.u_src s ON t.id = s.id "
        "WHEN NOT MATCHED THEN INSERT (id, v) VALUES (s.id, s.v)",
    )
    assert sorted((r.id, r.v) for r in spark.table("dev_db.u_tgt").collect()) == [
        (1, 10)
    ]


# -- UPDATE / DELETE (plans/dml.py, same staging-rewrite machinery) ---------


def test_update_with_where_and_null_predicate(spark):
    """UPDATE applies SET only where the predicate is TRUE; rows where it
    evaluates NULL are untouched (warehouse three-valued semantics)."""
    p = Pipeline("dml_upd", clock=lambda: FROZEN)
    SqlTask(
        "seed",
        sql=(
            "CREATE OR REPLACE TABLE d_t (id INT, v INT); "
            "INSERT INTO d_t VALUES (1, 10), (2, 20), (3, NULL)"
        ),
        schema="dev_db",
        pipeline=p,
    )
    p.run(spark)
    p2 = Pipeline("dml_upd2", clock=lambda: FROZEN)
    SqlTask(
        "upd",
        sql="UPDATE d_t SET v = v + 1 WHERE v >= 20",
        schema="dev_db",
        pipeline=p2,
    )
    p2.run(spark)
    rows = {(r.id, r.v) for r in spark.table("dev_db.d_t").collect()}
    # id=1: pred false; id=2: updated; id=3: pred NULL -> untouched
    assert rows == {(1, 10), (2, 21), (3, None)}


def test_delete_where_and_unconditional(spark):
    p = Pipeline("dml_del", clock=lambda: FROZEN)
    SqlTask(
        "seed",
        sql=(
            "CREATE OR REPLACE TABLE d_d (id INT, v INT); "
            "INSERT INTO d_d VALUES (1, 10), (2, 20), (3, NULL)"
        ),
        schema="dev_db",
        pipeline=p,
    )
    p.run(spark)
    p2 = Pipeline("dml_del2", clock=lambda: FROZEN)
    SqlTask("del", sql="DELETE FROM d_d WHERE v > 15", schema="dev_db", pipeline=p2)
    p2.run(spark)
    rows = {(r.id, r.v) for r in spark.table("dev_db.d_d").collect()}
    # v=20 deleted; NULL predicate row survives
    assert rows == {(1, 10), (3, None)}
    p3 = Pipeline("dml_del3", clock=lambda: FROZEN)
    SqlTask("del_all", sql="DELETE FROM d_d", schema="dev_db", pipeline=p3)
    p3.run(spark)
    assert spark.table("dev_db.d_d").count() == 0


def test_update_where_boundary_is_top_level(spark):
    """A WHERE inside a SET subquery or a string literal must not become
    the statement's predicate boundary (ADVICE r3, medium): the boundary
    scan is quote- and paren-aware, not a lazy regex."""
    p = Pipeline("dml_sub", clock=lambda: FROZEN)
    SqlTask(
        "seed",
        sql=(
            "CREATE OR REPLACE TABLE d_s (id INT, v INT); "
            "INSERT INTO d_s VALUES (1, 10), (2, 20), (3, 30); "
            "CREATE OR REPLACE TABLE d_u (c INT, x INT); "
            "INSERT INTO d_u VALUES (1, 7), (2, 99)"
        ),
        schema="dev_db",
        pipeline=p,
    )
    p.run(spark)
    p2 = Pipeline("dml_sub2", clock=lambda: FROZEN)
    SqlTask(
        "upd",
        sql=(
            "UPDATE d_s SET v = (SELECT max(x) FROM d_u WHERE c = 1) "
            "WHERE id = 1"
        ),
        schema="dev_db",
        pipeline=p2,
    )
    p2.run(spark)
    rows = {(r.id, r.v) for r in spark.table("dev_db.d_s").collect()}
    assert rows == {(1, 7), (2, 20), (3, 30)}
    # string literal containing ' where ' is not a boundary either
    p3 = Pipeline("dml_sub3", clock=lambda: FROZEN)
    SqlTask(
        "seed2",
        sql=(
            "CREATE OR REPLACE TABLE d_w (id INT, note VARCHAR(40)); "
            "INSERT INTO d_w VALUES (1, 'x'), (2, 'y')"
        ),
        schema="dev_db",
        pipeline=p3,
    )
    p3.run(spark)
    p4 = Pipeline("dml_sub4", clock=lambda: FROZEN)
    SqlTask(
        "upd2",
        sql="UPDATE d_w SET note = 'tell me where it hurts' WHERE id = 2",
        schema="dev_db",
        pipeline=p4,
    )
    p4.run(spark)
    rows = {(r.id, r.note) for r in spark.table("dev_db.d_w").collect()}
    assert rows == {(1, "x"), (2, "tell me where it hurts")}


# -- property-based parser robustness (same strategy as test_sqlsplit) ------

from hypothesis import given, settings  # noqa: E402
from hypothesis import strategies as st  # noqa: E402

_kw = {"MERGE", "INTO", "USING", "ON", "WHEN", "MATCHED", "THEN", "UPDATE",
       "SET", "DELETE", "INSERT", "VALUES", "NOT", "AS"}
_ident = st.from_regex(r"[A-Za-z_][A-Za-z0-9_]{0,8}", fullmatch=True).filter(
    lambda s: s.upper() not in _kw
)


@given(
    tgt=_ident, talias=_ident, salias=_ident,
    key=_ident, cols=st.lists(_ident, min_size=1, max_size=3, unique=True),
)
@settings(max_examples=60, deadline=None)
def test_parse_merge_extracts_fields_exactly(tgt, talias, salias, key, cols):
    """Generated well-formed upserts always parse into exactly their own
    pieces — aliases, ON condition, SET map, and INSERT lists verbatim."""
    sets = ", ".join(f"{c} = {salias}.{c}" for c in cols)
    icols = ", ".join([key] + cols)
    ivals = ", ".join(f"{salias}.{c}" for c in [key] + cols)
    spec = parse_merge(
        f"MERGE INTO {tgt} AS {talias} USING src AS {salias} "
        f"ON {talias}.{key} = {salias}.{key} "
        f"WHEN MATCHED THEN UPDATE SET {sets} "
        f"WHEN NOT MATCHED THEN INSERT ({icols}) VALUES ({ivals})"
    )
    assert spec.target == tgt and spec.target_alias == talias
    assert spec.source_alias == salias
    assert spec.on == f"{talias}.{key} = {salias}.{key}"
    assert spec.update_sets == {c: f"{salias}.{c}" for c in cols}
    assert spec.insert_cols == [key] + cols
    assert spec.insert_vals == [f"{salias}.{c}" for c in [key] + cols]


@given(
    tgt=_ident, salias=_ident, key=_ident,
    cols=st.lists(_ident, min_size=1, max_size=3, unique=True),
    gval=st.integers(min_value=0, max_value=99),
)
@settings(max_examples=40, deadline=None)
def test_parse_merge_guarded_roundtrip(tgt, salias, key, cols, gval):
    """Guarded multi-branch merges parse into their exact branch list,
    guards verbatim, order preserved."""
    sets = ", ".join(f"{c} = {salias}.{c}" for c in cols)
    spec = parse_merge(
        f"MERGE INTO {tgt} USING src AS {salias} "
        f"ON {tgt}.{key} = {salias}.{key} "
        f"WHEN MATCHED AND {salias}.{key} > {gval} THEN DELETE "
        f"WHEN MATCHED THEN UPDATE SET {sets} "
        f"WHEN NOT MATCHED AND {salias}.{key} <= {gval} THEN "
        f"INSERT ({key}) VALUES ({salias}.{key})"
    )
    assert spec.matched[0].guard == f"{salias}.{key} > {gval}"
    assert spec.matched[0].delete
    assert spec.matched[1].guard is None
    assert spec.matched[1].sets == {c: f"{salias}.{c}" for c in cols}
    assert spec.not_matched[0].guard == f"{salias}.{key} <= {gval}"


# -- WHEN NOT MATCHED BY SOURCE (full-sync clause, VERDICT r5 item 3) -------


def test_parse_by_source_branches():
    spec = parse_merge(
        "MERGE INTO t USING s ON t.id = s.id "
        "WHEN MATCHED THEN UPDATE SET v = s.v "
        "WHEN NOT MATCHED BY TARGET THEN INSERT (id, v) VALUES (s.id, s.v) "
        "WHEN NOT MATCHED BY SOURCE AND t.v > 0 THEN UPDATE SET v = -t.v "
        "WHEN NOT MATCHED BY SOURCE THEN DELETE"
    )
    # BY TARGET is a synonym for plain NOT MATCHED
    assert spec.insert_cols == ["id", "v"]
    assert len(spec.nm_by_source) == 2
    assert spec.nm_by_source[0].guard == "t.v > 0"
    assert spec.nm_by_source[0].sets == {"v": "-t.v"}
    assert spec.nm_by_source[1].delete and spec.nm_by_source[1].guard is None


def test_parse_by_source_rejections():
    # BY SOURCE/TARGET qualify only NOT MATCHED
    with pytest.raises(ValueError):
        parse_merge(
            "MERGE INTO t USING s ON t.id = s.id "
            "WHEN MATCHED BY SOURCE THEN DELETE"
        )
    # INSERT is not a BY SOURCE action (there is no source row to insert)
    with pytest.raises(ValueError):
        parse_merge(
            "MERGE INTO t USING s ON t.id = s.id "
            "WHEN NOT MATCHED BY SOURCE THEN INSERT (id) VALUES (1)"
        )
    # unreachable-branch rule applies per side
    with pytest.raises(ValueError):
        parse_merge(
            "MERGE INTO t USING s ON t.id = s.id "
            "WHEN NOT MATCHED BY SOURCE THEN DELETE "
            "WHEN NOT MATCHED BY SOURCE THEN UPDATE SET v = 0"
        )


def test_parse_by_source_does_not_shadow_other_sides():
    """An unguarded BY SOURCE branch must not make MATCHED / NOT MATCHED
    branches unreachable — the three sides are disjoint row sets."""
    spec = parse_merge(
        "MERGE INTO t USING s ON t.id = s.id "
        "WHEN NOT MATCHED BY SOURCE THEN DELETE "
        "WHEN MATCHED THEN UPDATE SET v = s.v "
        "WHEN NOT MATCHED THEN INSERT (id, v) VALUES (s.id, s.v)"
    )
    assert spec.nm_by_source[0].delete
    assert spec.update_sets == {"v": "s.v"}
    assert spec.insert_cols == ["id", "v"]


def test_merge_full_sync_executes(spark):
    """The canonical full-sync: upsert everything the source has, delete
    what it no longer has. Target {1,2} + source {2,3} -> {2 updated,
    3 inserted}, row 1 deleted by the BY SOURCE branch."""
    p = Pipeline("merge_sync", clock=lambda: FROZEN)
    _seed(spark, p)
    p.run(spark)
    p2 = Pipeline("merge_sync2", clock=lambda: FROZEN)
    SqlTask(
        "merge",
        sql=(
            "MERGE INTO m_tgt t USING m_src s ON t.id = s.id "
            "WHEN MATCHED THEN UPDATE SET val = s.val "
            "WHEN NOT MATCHED THEN INSERT (id, val, n) "
            "VALUES (s.id, s.val, 0) "
            "WHEN NOT MATCHED BY SOURCE THEN DELETE"
        ),
        schema="dev_db",
        pipeline=p2,
    )
    p2.run(spark)
    rows = {(r.id, r.val, r.n) for r in spark.table("dev_db.m_tgt").collect()}
    assert rows == {(2, "B", 20), (3, "C", 0)}


def test_merge_by_source_guarded_update_executes(spark):
    """Soft-retire variant: rows gone upstream are flagged, not deleted;
    guards evaluated first-true-wins on the BY SOURCE side. SET
    expressions see only target columns (source side is all-NULL)."""
    p = Pipeline("merge_ret", clock=lambda: FROZEN)
    _seed(spark, p)
    p.run(spark)
    p2 = Pipeline("merge_ret2", clock=lambda: FROZEN)
    SqlTask(
        "merge",
        sql=(
            "MERGE INTO m_tgt t USING m_src s ON t.id = s.id "
            "WHEN NOT MATCHED BY SOURCE AND t.n >= 100 THEN DELETE "
            "WHEN NOT MATCHED BY SOURCE THEN UPDATE SET val = 'gone', "
            "n = t.n + 1"
        ),
        schema="dev_db",
        pipeline=p2,
    )
    p2.run(spark)
    rows = {(r.id, r.val, r.n) for r in spark.table("dev_db.m_tgt").collect()}
    # row 1 (n=10 < 100) soft-retired; row 2 matched -> untouched
    assert rows == {(1, "gone", 11), (2, "b", 20)}


def test_merge_by_source_only_duplicate_source_raises(spark):
    """Even with no MATCHED branch, a BY SOURCE merge takes the LEFT JOIN
    path, so duplicate source matches would fan matched rows out — the
    nondeterminism pre-check must fire."""
    p = Pipeline("merge_dupbs", clock=lambda: FROZEN)
    _seed(spark, p)
    p.run(spark)
    p2 = Pipeline("merge_dupbs2", clock=lambda: FROZEN)
    SqlTask(
        "dup",
        sql="INSERT INTO m_src VALUES (2, 'B2')",
        schema="dev_db",
        pipeline=p2,
    )
    SqlTask(
        "merge",
        sql=(
            "MERGE INTO m_tgt t USING m_src s ON t.id = s.id "
            "WHEN NOT MATCHED BY SOURCE THEN DELETE"
        ),
        schema="dev_db",
        pipeline=p2,
    )
    p2.tasks["dup"] >> p2.tasks["merge"]
    with pytest.raises(Exception, match="nondeterministic"):
        p2.run(spark)


@given(
    tgt=_ident, salias=_ident, key=_ident,
    cols=st.lists(_ident, min_size=1, max_size=3, unique=True),
    gval=st.integers(min_value=0, max_value=99),
)
@settings(max_examples=40, deadline=None)
def test_parse_merge_by_source_roundtrip(tgt, salias, key, cols, gval):
    """Generated three-sided merges parse into their exact branch lists,
    BY SOURCE guards and SET maps verbatim, order preserved per side."""
    sets = ", ".join(f"{c} = {salias}.{c}" for c in cols)
    bs_sets = ", ".join(f"{c} = NULL" for c in cols)
    spec = parse_merge(
        f"MERGE INTO {tgt} USING src AS {salias} "
        f"ON {tgt}.{key} = {salias}.{key} "
        f"WHEN MATCHED THEN UPDATE SET {sets} "
        f"WHEN NOT MATCHED BY SOURCE AND {tgt}.{key} > {gval} "
        f"THEN UPDATE SET {bs_sets} "
        f"WHEN NOT MATCHED BY SOURCE THEN DELETE "
        f"WHEN NOT MATCHED BY TARGET THEN "
        f"INSERT ({key}) VALUES ({salias}.{key})"
    )
    assert spec.update_sets == {c: f"{salias}.{c}" for c in cols}
    assert spec.nm_by_source[0].guard == f"{tgt}.{key} > {gval}"
    assert spec.nm_by_source[0].sets == {c: "NULL" for c in cols}
    assert spec.nm_by_source[1].delete
    assert spec.insert_cols == [key]


# -- partition-pruned MERGE path ---------------------------------------------


def _location(spark, table):
    return (
        spark.sql(f"DESCRIBE TABLE EXTENDED {table}")
        .filter("col_name = 'Location'")
        .first()["data_type"]
    )


def _part_files(spark, table, part):
    import os

    d = os.path.join(_location(spark, table).replace("file:", ""), part)
    return sorted(os.listdir(d)) if os.path.isdir(d) else []


def test_partitioned_merge_prunes_untouched_partitions(spark):
    """A MERGE whose ON equates the partition column rewrites ONLY the
    partitions the source names: the untouched partition's data files are
    byte-for-byte the same directory entries afterwards, and semantics
    (update + insert + delete-to-empty) hold across touched partitions."""
    spark.sql("DROP TABLE IF EXISTS pm_tgt")
    spark.sql(
        "CREATE TABLE pm_tgt (id INT, v STRING, dt STRING) "
        "USING parquet PARTITIONED BY (dt)"
    )
    spark.sql(
        "INSERT INTO pm_tgt VALUES "
        "(1, 'a', 'd1'), (2, 'b', 'd1'), (3, 'c', 'd2'), (4, 'd', 'd3')"
    )
    before_d2 = _part_files(spark, "pm_tgt", "dt=d2")
    assert before_d2  # partition exists on disk
    spark.sql(
        "CREATE OR REPLACE TEMPORARY VIEW pm_src AS "
        "SELECT * FROM VALUES (1, 'A', 'd1'), (9, 'i', 'd1'), (4, NULL, 'd3') "
        "AS t(id, v, dt)"
    )
    run_merge(
        spark,
        "MERGE INTO pm_tgt AS t USING pm_src AS s "
        "ON t.id = s.id AND t.dt = s.dt "
        "WHEN MATCHED AND s.v IS NULL THEN DELETE "
        "WHEN MATCHED THEN UPDATE SET v = s.v "
        "WHEN NOT MATCHED THEN INSERT (id, v, dt) VALUES (s.id, s.v, s.dt)",
    )
    got = {
        (r["id"], r["v"], r["dt"]) for r in spark.table("pm_tgt").collect()
    }
    assert got == {
        (1, "A", "d1"),
        (2, "b", "d1"),
        (9, "i", "d1"),
        (3, "c", "d2"),  # untouched partition intact
        # (4, 'd', 'd3') deleted -> d3 emptied
    }
    # pruning proof: the untouched partition's files were not rewritten
    assert _part_files(spark, "pm_tgt", "dt=d2") == before_d2
    # emptied partition truncated despite dynamic overwrite semantics
    assert (
        spark.sql("SELECT count(*) n FROM pm_tgt WHERE dt = 'd3'").first()["n"]
        == 0
    )
    spark.sql("DROP TABLE IF EXISTS pm_tgt")


def test_partitioned_merge_falls_back_when_unsafe(spark):
    """Shapes pruning cannot prove safe — BY SOURCE branches, an UPDATE
    assigning the partition column — still execute correctly through the
    full rewrite."""
    spark.sql("DROP TABLE IF EXISTS pm_fb")
    spark.sql(
        "CREATE TABLE pm_fb (id INT, v STRING, dt STRING) "
        "USING parquet PARTITIONED BY (dt)"
    )
    spark.sql(
        "INSERT INTO pm_fb VALUES (1, 'a', 'd1'), (2, 'b', 'd2')"
    )
    spark.sql(
        "CREATE OR REPLACE TEMPORARY VIEW pm_fb_src AS "
        "SELECT * FROM VALUES (1, 'moved', 'd9') AS t(id, v, dt)"
    )
    # UPDATE assigns dt -> row migrates partitions; must not clobber d2
    run_merge(
        spark,
        "MERGE INTO pm_fb AS t USING pm_fb_src AS s ON t.id = s.id "
        "WHEN MATCHED THEN UPDATE SET v = s.v, dt = s.dt",
    )
    got = {(r["id"], r["v"], r["dt"]) for r in spark.table("pm_fb").collect()}
    assert got == {(1, "moved", "d9"), (2, "b", "d2")}
    # the emptied partition is gone from the catalog, not left pointing at
    # the replaced snapshot's directory
    parts = sorted(r[0] for r in spark.sql("SHOW PARTITIONS pm_fb").collect())
    assert parts == ["dt=d2", "dt=d9"]
    # BY SOURCE retire pass touches every partition; full rewrite path
    run_merge(
        spark,
        "MERGE INTO pm_fb AS t USING pm_fb_src AS s "
        "ON t.id = s.id AND t.dt = s.dt "
        "WHEN NOT MATCHED BY SOURCE THEN DELETE",
    )
    got = {(r["id"], r["v"], r["dt"]) for r in spark.table("pm_fb").collect()}
    assert got == {(1, "moved", "d9")}
    spark.sql("DROP TABLE IF EXISTS pm_fb")


def test_partitioned_merge_survives_source_typed_partition_values(spark):
    """A source supplying the partition column in a DIFFERENT type (INT vs
    the target's STRING) must not trip the emptied-partition truncation
    into deleting freshly merged rows: touched values are collected CAST
    to the target's partition type."""
    spark.sql("DROP TABLE IF EXISTS pm_ty")
    spark.sql(
        "CREATE TABLE pm_ty (id INT, v STRING, dt STRING) "
        "USING parquet PARTITIONED BY (dt)"
    )
    spark.sql("INSERT INTO pm_ty VALUES (1, 'a', '7'), (2, 'b', '8')")
    spark.sql(
        "CREATE OR REPLACE TEMPORARY VIEW pm_ty_src AS "
        "SELECT * FROM VALUES (1, 'A', 7) AS t(id, v, dt)"  # dt is INT
    )
    run_merge(
        spark,
        "MERGE INTO pm_ty AS t USING pm_ty_src AS s "
        "ON t.id = s.id AND t.dt = s.dt "
        "WHEN MATCHED THEN UPDATE SET v = s.v",
    )
    got = {(r["id"], r["v"], r["dt"]) for r in spark.table("pm_ty").collect()}
    assert got == {(1, "A", "7"), (2, "b", "8")}
    spark.sql("DROP TABLE IF EXISTS pm_ty")


def test_partitioned_merge_prunes_multiline_on_clause(spark):
    """Pruning must engage on newline/multi-space-formatted ON clauses —
    the shapes SqlTask pipelines actually feed it."""
    spark.sql("DROP TABLE IF EXISTS pm_ml")
    spark.sql(
        "CREATE TABLE pm_ml (id INT, v STRING, dt STRING) "
        "USING parquet PARTITIONED BY (dt)"
    )
    spark.sql("INSERT INTO pm_ml VALUES (1, 'a', 'd1'), (2, 'b', 'd2')")
    before_d2 = _part_files(spark, "pm_ml", "dt=d2")
    spark.sql(
        "CREATE OR REPLACE TEMPORARY VIEW pm_ml_src AS "
        "SELECT * FROM VALUES (1, 'A', 'd1') AS t(id, v, dt)"
    )
    run_merge(
        spark,
        "MERGE INTO pm_ml AS t USING pm_ml_src AS s "
        "ON t.id = s.id\n   AND\n   t.dt = s.dt "
        "WHEN MATCHED THEN UPDATE SET v = s.v",
    )
    got = {(r["id"], r["v"], r["dt"]) for r in spark.table("pm_ml").collect()}
    assert got == {(1, "A", "d1"), (2, "b", "d2")}
    assert _part_files(spark, "pm_ml", "dt=d2") == before_d2  # pruned
    spark.sql("DROP TABLE IF EXISTS pm_ml")


# -- property tests: pruned path == full rewrite, every dtype/format ----------
# (VERDICT r6 item 7: the r6 8-defect commit showed exactly this surface —
# typed partition casts, source pinning, formatted-SQL ON splitting — hides
# bugs; hypothesis sweeps the input space and a pure-Python model is the
# semantic oracle, so pruned and unpruned paths cannot silently diverge.)

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

_PDTYPES = ("INT", "STRING", "DATE")


def _plit(dtype: str, i: int) -> str:
    """SQL literal for partition value i in the given dtype."""
    if dtype == "INT":
        return str(i)
    if dtype == "STRING":
        return f"'p{i}'"
    return f"DATE'2024-01-{i + 1:02d}'"


def _pkey(dtype: str, i: int):
    """Python rendering of the partition value as read back from Spark."""
    import datetime

    if dtype == "INT":
        return i
    if dtype == "STRING":
        return f"p{i}"
    return datetime.date(2024, 1, i + 1)


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=list(HealthCheck),
)
@given(
    dtype=st.sampled_from(_PDTYPES),
    tgt=st.lists(
        st.tuples(st.integers(0, 9), st.integers(0, 3)),
        max_size=10,
        unique_by=lambda t: t[0],
    ),
    src=st.lists(
        st.tuples(
            st.integers(0, 9),
            st.integers(0, 3),
            st.sampled_from(["upsert", "delete"]),
        ),
        min_size=1,
        max_size=8,
        unique_by=lambda t: t[0],
    ),
    ws=st.sampled_from([" ", "\n  ", " \t\n   "]),
)
def test_pruned_merge_matches_python_model(spark, dtype, tgt, src, ws):
    """For every partition dtype, random target/source contents and
    newline/tab-mangled ON formatting, the executed MERGE equals a pure-
    Python model of MERGE semantics — whichever of the pruned / pin-reuse /
    full-rewrite paths it took."""
    spark.sql("DROP TABLE IF EXISTS pm_h")
    spark.sql(
        f"CREATE TABLE pm_h (id INT, v STRING, dt {dtype}) "
        "USING parquet PARTITIONED BY (dt)"
    )
    if tgt:
        vals = ", ".join(
            f"({i}, 't{i}', {_plit(dtype, p)})" for i, p in tgt
        )
        spark.sql(f"INSERT INTO pm_h VALUES {vals}")
    svals = ", ".join(
        f"({i}, " + ("NULL" if verb == "delete" else f"'s{i}'")
        + f", {_plit(dtype, p)})"
        for i, p, verb in src
    )
    spark.sql(
        "CREATE OR REPLACE TEMPORARY VIEW pm_h_src AS "
        f"SELECT * FROM VALUES {svals} AS t(id, v, dt)"
    )
    on = f"t.id{ws}={ws}s.id{ws}AND{ws}t.dt{ws}={ws}s.dt"
    run_merge(
        spark,
        f"MERGE INTO pm_h AS t USING pm_h_src AS s ON {on} "
        "WHEN MATCHED AND s.v IS NULL THEN DELETE "
        "WHEN MATCHED THEN UPDATE SET v = s.v "
        "WHEN NOT MATCHED THEN INSERT (id, v, dt) VALUES (s.id, s.v, s.dt)",
    )
    # pure-Python MERGE model keyed on (id, partition)
    state = {(i, _pkey(dtype, p)): f"t{i}" for i, p in tgt}
    for i, p, verb in src:
        k = (i, _pkey(dtype, p))
        if k in state:
            if verb == "delete":
                del state[k]
            else:
                state[k] = f"s{i}"
        else:
            # NOT MATCHED is unguarded: every unmatched source row inserts,
            # carrying s.v — NULL for the 'delete' rows
            state[k] = None if verb == "delete" else f"s{i}"
    got = {
        (r["id"], r["dt"]): r["v"] for r in spark.table("pm_h").collect()
    }
    assert got == state
    # no pin/pruned temp views may survive the statement
    leftover = [
        v.name
        for v in spark.catalog.listTables()
        if v.name.startswith("__merge_")
    ]
    assert leftover == []
    spark.sql("DROP TABLE IF EXISTS pm_h")


def test_pruned_merge_date_partitions_actually_prune(spark):
    """DATE partition values render as DATE literals (new in r7): the
    untouched date partition's files are not rewritten."""
    spark.sql("DROP TABLE IF EXISTS pm_dt")
    spark.sql(
        "CREATE TABLE pm_dt (id INT, v STRING, dt DATE) "
        "USING parquet PARTITIONED BY (dt)"
    )
    spark.sql(
        "INSERT INTO pm_dt VALUES (1, 'a', DATE'2024-01-01'), "
        "(2, 'b', DATE'2024-01-02')"
    )
    before = _part_files(spark, "pm_dt", "dt=2024-01-02")
    assert before
    spark.sql(
        "CREATE OR REPLACE TEMPORARY VIEW pm_dt_src AS "
        "SELECT * FROM VALUES (1, 'A', DATE'2024-01-01') AS t(id, v, dt)"
    )
    run_merge(
        spark,
        "MERGE INTO pm_dt AS t USING pm_dt_src AS s "
        "ON t.id = s.id AND t.dt = s.dt "
        "WHEN MATCHED THEN UPDATE SET v = s.v",
    )
    got = {(r["id"], r["v"]) for r in spark.table("pm_dt").collect()}
    assert got == {(1, "A"), (2, "b")}
    assert _part_files(spark, "pm_dt", "dt=2024-01-02") == before
    spark.sql("DROP TABLE IF EXISTS pm_dt")


def test_over_cap_bail_reuses_pin_and_drops_views(spark):
    """A source touching more partitions than the pruning cap bails AFTER
    pinning: the full rewrite must reuse the SAME pinned evaluation (a
    nondeterministic source evaluated twice could insert rows the probe
    never saw — ADVICE r6), and neither the pin view nor any pruned view
    may leak past the statement."""
    spark.sql("DROP TABLE IF EXISTS pm_cap")
    spark.sql(
        "CREATE TABLE pm_cap (id INT, v STRING, dt INT) "
        "USING parquet PARTITIONED BY (dt)"
    )
    spark.sql("INSERT INTO pm_cap VALUES (9999, 'keep', -1)")
    # 200 partitions (> _MAX_TOUCHED_PARTITIONS = 128), nondeterministic
    # data column: only ONE evaluation may ever be observed
    spark.sql(
        "CREATE OR REPLACE TEMPORARY VIEW pm_cap_src AS "
        "SELECT id, CAST(rand() AS STRING) AS v, CAST(id AS INT) AS dt "
        "FROM range(200) t(id)"
    )
    run_merge(
        spark,
        "MERGE INTO pm_cap AS t USING pm_cap_src AS s "
        "ON t.id = s.id AND t.dt = s.dt "
        "WHEN NOT MATCHED THEN INSERT (id, v, dt) VALUES (s.id, s.v, s.dt)",
    )
    assert spark.table("pm_cap").count() == 201
    assert (
        spark.sql("SELECT count(*) n FROM pm_cap WHERE dt = -1").first()["n"]
        == 1
    )  # the pre-existing partition survived
    # that insert-only MERGE was an append; an upsert over the same source
    # takes the pin, bails past the cap and rewrites the whole partitioned
    # table, which must re-register all 201 partitions
    run_merge(
        spark,
        "MERGE INTO pm_cap AS t USING pm_cap_src AS s "
        "ON t.id = s.id AND t.dt = s.dt "
        "WHEN MATCHED THEN UPDATE SET v = s.v "
        "WHEN NOT MATCHED THEN INSERT (id, v, dt) VALUES (s.id, s.v, s.dt)",
    )
    assert spark.table("pm_cap").count() == 201
    assert spark.sql("SHOW PARTITIONS pm_cap").count() == 201
    assert (
        spark.sql("SELECT count(*) n FROM pm_cap WHERE dt = -1").first()["n"]
        == 1
    )
    leftover = [
        v.name
        for v in spark.catalog.listTables()
        if v.name.startswith("__merge_")
    ]
    assert leftover == []
    spark.sql("DROP TABLE IF EXISTS pm_cap")


def test_null_partition_value_bails_to_full_rewrite(spark):
    """A NULL partition value has no literal rendering: pruning bails
    post-pin and the pin-reuse full rewrite still lands the NULL-partition
    row (Hive default partition) without clobbering others."""
    spark.sql("DROP TABLE IF EXISTS pm_null")
    spark.sql(
        "CREATE TABLE pm_null (id INT, v STRING, dt STRING) "
        "USING parquet PARTITIONED BY (dt)"
    )
    spark.sql("INSERT INTO pm_null VALUES (1, 'a', 'd1')")
    spark.sql(
        "CREATE OR REPLACE TEMPORARY VIEW pm_null_src AS "
        "SELECT * FROM VALUES (2, 'b', CAST(NULL AS STRING)) AS t(id, v, dt)"
    )
    run_merge(
        spark,
        "MERGE INTO pm_null AS t USING pm_null_src AS s "
        "ON t.id = s.id AND t.dt = s.dt "
        "WHEN NOT MATCHED THEN INSERT (id, v, dt) VALUES (s.id, s.v, s.dt)",
    )
    got = {(r["id"], r["v"], r["dt"]) for r in spark.table("pm_null").collect()}
    assert got == {(1, "a", "d1"), (2, "b", None)}
    # an upsert takes the pin and the full rewrite: NULL never equals NULL,
    # so the row inserts again, and the NULL partition is re-registered
    run_merge(
        spark,
        "MERGE INTO pm_null AS t USING pm_null_src AS s "
        "ON t.id = s.id AND t.dt = s.dt "
        "WHEN MATCHED THEN UPDATE SET v = s.v "
        "WHEN NOT MATCHED THEN INSERT (id, v, dt) VALUES (s.id, s.v, s.dt)",
    )
    got = sorted(
        (r["id"], r["v"], r["dt"] or "") for r in spark.table("pm_null").collect()
    )
    assert got == [(1, "a", "d1"), (2, "b", ""), (2, "b", "")]
    assert [
        v.name
        for v in spark.catalog.listTables()
        if v.name.startswith("__merge_")
    ] == []
    spark.sql("DROP TABLE IF EXISTS pm_null")


# -- one-write snapshot swap (merge.swap_snapshot) ----------------------------


def _listing(path):
    import os

    return sorted(
        os.path.relpath(os.path.join(d, f), path)
        for d, _, files in os.walk(path)
        for f in files
    )


def test_failed_duplicate_match_merge_leaves_everything_untouched(spark):
    """A duplicate-match MERGE raises from inside the rewrite's own write:
    the target keeps its rows, its location and its files, and the
    database directory holds no leftover snapshot directory. The
    delete-only shape runs the same counted join, so it raises too."""
    import os

    spark.sql("CREATE DATABASE IF NOT EXISTS swap_fail_db")
    spark.sql("DROP TABLE IF EXISTS swap_fail_db.f_tgt")
    spark.sql("CREATE TABLE swap_fail_db.f_tgt (id INT, v INT) USING parquet")
    spark.sql("INSERT INTO swap_fail_db.f_tgt VALUES (1, 10), (2, 20)")
    spark.sql(
        "CREATE OR REPLACE TEMPORARY VIEW f_src AS "
        "SELECT * FROM VALUES (1, 100), (1, 200), (3, 300) AS t(id, v)"
    )
    loc = _location(spark, "swap_fail_db.f_tgt")
    path = loc.replace("file:", "")
    db_dir = os.path.dirname(path)
    files, db_before = _listing(path), sorted(os.listdir(db_dir))
    for stmt in (
        "MERGE INTO swap_fail_db.f_tgt t USING f_src s ON t.id = s.id "
        "WHEN MATCHED THEN UPDATE SET v = s.v "
        "WHEN NOT MATCHED THEN INSERT (id, v) VALUES (s.id, s.v)",
        "MERGE INTO swap_fail_db.f_tgt t USING f_src s ON t.id = s.id "
        "WHEN MATCHED THEN DELETE",
    ):
        with pytest.raises(ValueError, match="nondeterministic"):
            run_merge(spark, stmt)
        rows = spark.table("swap_fail_db.f_tgt").collect()
        assert sorted((r.id, r.v) for r in rows) == [(1, 10), (2, 20)]
        assert _location(spark, "swap_fail_db.f_tgt") == loc
        assert _listing(path) == files
        assert sorted(os.listdir(db_dir)) == db_before
    spark.sql("DROP DATABASE swap_fail_db CASCADE")


def test_full_rewrite_is_one_write_without_staging_table(spark):
    """MERGE, UPDATE and DELETE on a managed table issue no staging-table
    statement: the snapshot is written once and the table flips onto it,
    leaving one directory for the table in its database directory."""
    import os

    from bfs_etl_sep2025_spark.plans.dml import run_update_or_delete

    class Recorder:
        def __init__(self, inner):
            self._inner, self.stmts = inner, []

        def sql(self, stmt, *a, **kw):
            self.stmts.append(stmt)
            return self._inner.sql(stmt, *a, **kw)

        def __getattr__(self, name):
            return getattr(self._inner, name)

    spark.sql("CREATE DATABASE IF NOT EXISTS swap_one_db")
    spark.sql("DROP TABLE IF EXISTS swap_one_db.o_tgt")
    spark.sql("CREATE TABLE swap_one_db.o_tgt (id INT, v STRING) USING parquet")
    spark.sql("INSERT INTO swap_one_db.o_tgt VALUES (1, 'a'), (2, 'b')")
    spark.sql(
        "CREATE OR REPLACE TEMPORARY VIEW o_src AS "
        "SELECT * FROM VALUES (2, 'B'), (3, 'C') AS t(id, v)"
    )
    rec = Recorder(spark)
    before = _location(spark, "swap_one_db.o_tgt")
    run_merge(
        rec,
        "MERGE INTO swap_one_db.o_tgt t USING o_src s ON t.id = s.id "
        "WHEN MATCHED THEN UPDATE SET v = s.v "
        "WHEN NOT MATCHED THEN INSERT (id, v) VALUES (s.id, s.v)",
    )
    run_update_or_delete(rec, "UPDATE swap_one_db.o_tgt SET v = 'x' WHERE id = 1")
    run_update_or_delete(rec, "DELETE FROM swap_one_db.o_tgt WHERE id = 3")
    assert not [s for s in rec.stmts if "_stage" in s or "CREATE TABLE" in s]
    rows = spark.table("swap_one_db.o_tgt").collect()
    assert sorted((r.id, r.v) for r in rows) == [(1, "x"), (2, "B")]
    after = _location(spark, "swap_one_db.o_tgt")
    assert after != before
    db_dir = os.path.dirname(after.replace("file:", ""))
    assert os.listdir(db_dir) == [os.path.basename(after)]
    # a managed drop still deletes the (relocated) data, and the name can
    # be created again at its default path
    spark.sql("DROP TABLE swap_one_db.o_tgt")
    assert os.listdir(db_dir) == []
    spark.sql("CREATE TABLE swap_one_db.o_tgt (id INT) USING parquet")
    spark.sql("DROP DATABASE swap_one_db CASCADE")


def test_external_table_rewrites_keep_location(spark, tmp_path):
    """MERGE and DELETE on an external table replace its files in place:
    LOCATION never moves, and a DROP plus CREATE … LOCATION over the same
    path (what a new process does) reads the merged rows. The partitioned
    variant re-registers its partitions from the new layout."""
    from bfs_etl_sep2025_spark.plans.dml import run_update_or_delete

    for part in ("", " PARTITIONED BY (dt)"):
        path = str(tmp_path / f"ext{len(part)}")
        ddl = (
            "CREATE TABLE ext_t (id INT, v STRING, dt STRING) "
            f"USING parquet{part} LOCATION '{path}'"
        )
        spark.sql("DROP TABLE IF EXISTS ext_t")
        spark.sql(ddl)
        spark.sql(
            "INSERT INTO ext_t VALUES (1, 'a', 'd1'), (2, 'b', 'd1'), "
            "(3, 'c', 'd2')"
        )
        if part:
            spark.sql("ALTER TABLE ext_t RECOVER PARTITIONS")
        loc = _location(spark, "ext_t")
        spark.sql(
            "CREATE OR REPLACE TEMPORARY VIEW ext_src AS SELECT * FROM "
            "VALUES (2, 'B', 'd3'), (4, 'd', 'd3') AS t(id, v, dt)"
        )
        run_merge(
            spark,
            "MERGE INTO ext_t t USING ext_src s ON t.id = s.id "
            "WHEN MATCHED THEN UPDATE SET v = s.v, dt = s.dt "
            "WHEN NOT MATCHED THEN INSERT (id, v, dt) VALUES (s.id, s.v, s.dt)",
        )
        run_update_or_delete(spark, "DELETE FROM ext_t WHERE id = 1")
        want = [(2, "B", "d3"), (3, "c", "d2"), (4, "d", "d3")]
        got = sorted((r.id, r.v, r.dt) for r in spark.table("ext_t").collect())
        assert got == want
        assert _location(spark, "ext_t") == loc
        assert not [f for f in _listing(path) if "_rewrite-" in f]
        if part:
            parts = [r[0] for r in spark.sql("SHOW PARTITIONS ext_t").collect()]
            assert sorted(parts) == ["dt=d2", "dt=d3"]
        spark.sql("DROP TABLE ext_t")  # external: the files stay
        spark.sql(ddl)
        if part:
            spark.sql("ALTER TABLE ext_t RECOVER PARTITIONS")
        got = sorted((r.id, r.v, r.dt) for r in spark.table("ext_t").collect())
        assert got == want
        spark.sql("DROP TABLE ext_t")


def test_rewrite_keeps_char_varchar_insert_contract(spark):
    """A path write skips the table-insert checks, so the rewrite applies
    them itself: an over-long VARCHAR value raises and leaves the table
    as it was; CHAR values are padded as INSERT pads them."""
    from bfs_etl_sep2025_spark.plans.dml import run_update_or_delete

    spark.sql("DROP TABLE IF EXISTS cv_t")
    spark.sql("CREATE TABLE cv_t (id INT, s VARCHAR(3), c CHAR(3)) USING parquet")
    spark.sql("INSERT INTO cv_t VALUES (1, 'ab', 'x')")
    with pytest.raises(Exception, match="length limitation"):
        run_update_or_delete(spark, "UPDATE cv_t SET s = 'toolong'")
    run_update_or_delete(spark, "UPDATE cv_t SET s = 'xyz  ', c = 'y'")
    got = [(r.s, r.c) for r in spark.table("cv_t").collect()]
    assert got == [("xyz", "y  ")]
    spark.sql("DROP TABLE cv_t")
