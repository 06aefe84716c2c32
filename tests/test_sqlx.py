"""Unit tests for the SQL dialect rewrite layer (sqlx)."""

from __future__ import annotations

import re

import pytest

from duckdb_parachute_spark.sqlx import (
    _mask_literals,
    _unmask,
    rewrite_distinct_on,
    rewrite_intdiv,
    rewrite_json_arrows,
    rewrite_qualify,
    rewrite_sample,
    rewrite_string_split,
    transpile,
)


def test_qualify_basic():
    out = rewrite_qualify("SELECT a, row_number() OVER (ORDER BY b) rn FROM t QUALIFY rn = 1", [])
    assert out.startswith("SELECT * FROM (")
    assert "WHERE rn = 1" in out
    assert "QUALIFY" not in out.upper().replace("__Q", "")


def test_qualify_keeps_trailing_order_limit():
    out = rewrite_qualify(
        "SELECT a, rank() OVER (ORDER BY b) r FROM t QUALIFY r <= 2 ORDER BY a LIMIT 5", []
    )
    assert out.rstrip().endswith("ORDER BY a LIMIT 5")
    assert "WHERE r <= 2" in out


def test_distinct_on():
    out = rewrite_distinct_on(
        "SELECT DISTINCT ON (k) k, v FROM t ORDER BY k, v DESC", []
    )
    assert "row_number() OVER (PARTITION BY k ORDER BY k, v DESC)" in out
    assert "__rn = 1" in out


def test_distinct_on_without_order_by():
    out = rewrite_distinct_on("SELECT DISTINCT ON (k) k, v FROM t", [])
    assert "PARTITION BY k ORDER BY k" in out


def _run_masked(rewrite, sql: str) -> str:
    """Run one pass the way transpile() does: on literal-masked text, with
    the placeholder table, unmasking the result."""
    masked, parts = _mask_literals(sql)
    return _unmask(rewrite(masked, parts=parts), parts)


def test_json_arrows():
    out = _run_masked(rewrite_json_arrows, "SELECT props -> 'k' AS a, props ->> 'x' AS b FROM t")
    assert out.count("get_json_object(props, '$.k')") == 1
    assert out.count("get_json_object(props, '$.x')") == 1


def test_json_arrow_cast_chain_operand(spark):
    # '::' binds tighter than ->>: the whole cast chain is the arrow's left
    # operand, exactly as if parenthesized
    import duckdb

    from duckdb_parachute_spark import sqlx

    bare = transpile("SELECT j::JSON->>'k' FROM t")
    assert bare == (
        "SELECT get_json_object(CASE WHEN try_parse_json(j) IS NOT NULL THEN j "
        "ELSE NULL END, '$.k') FROM t"
    )
    paren = transpile("SELECT (j::JSON)->>'k' FROM t")
    assert paren == bare.replace("object(CASE", "object((CASE").replace("END, ", "END), ")
    q = """SELECT '{"k": "v"}'::JSON->>'k' AS r"""
    assert sqlx.sql(spark, q).collect()[0]["r"] == duckdb.sql(q).fetchone()[0] == "v"


def test_string_split_direct_call_uses_placeholder_table():
    # every pass takes (sql, parts): called directly with the table, a pass
    # rewrites exactly as it does inside transpile()
    sql = "SELECT string_split(s, '.') FROM t"
    assert _run_masked(rewrite_string_split, sql) == r"SELECT split(s, '\Q.\E') FROM t"
    assert transpile(sql) == r"SELECT split(s, '\\Q.\\E') FROM t"
    # a computed separator keeps its DuckDB name (fails loudly in Spark)
    # without stopping the rewrite of later calls
    assert transpile("SELECT string_split(s, sep), string_split(t, ',') FROM x") == (
        r"SELECT string_split(s, sep), split(t, '\\Q,\\E') FROM x"
    )


def test_intdiv():
    assert rewrite_intdiv("SELECT a // b FROM t", []) == "SELECT a DIV b FROM t"


def test_sample():
    assert "TABLESAMPLE (10 PERCENT)" in rewrite_sample("SELECT * FROM t USING SAMPLE 10%", [])


def test_transpile_passthrough():
    # int-target casts are no longer passthrough (round 10: DuckDB rounds,
    # Spark truncates — rewrite_int_casts), so the inert sample uses DOUBLE
    sql = "SELECT try_cast(a AS DOUBLE), b ILIKE '%x%' FROM t GROUP BY ALL"
    assert transpile(sql) == sql


def test_exclude_paren_and_bare():
    from duckdb_parachute_spark.sqlx import rewrite_exclude

    assert rewrite_exclude("SELECT * EXCLUDE (a, b) FROM t", []) == "SELECT * EXCEPT (a, b) FROM t"
    assert rewrite_exclude("SELECT t.* EXCLUDE b FROM t", []) == "SELECT t.* EXCEPT (b) FROM t"


def test_bracket_list_literal_vs_subscript():
    from duckdb_parachute_spark.sqlx import rewrite_brackets

    assert rewrite_brackets("SELECT [1, 2, 3] AS xs", []) == "SELECT array(1, 2, 3) AS xs"
    assert rewrite_brackets("SELECT xs[2] FROM t", []) == "SELECT try_element_at(xs, 2) FROM t"
    # subscript binds to a full call chain, 1-based like DuckDB
    assert (
        rewrite_brackets("SELECT split(s, ',')[1] FROM t", [])
        == "SELECT try_element_at(split(s, ','), 1) FROM t"
    )
    # keyword before '[' means literal, not subscript
    assert rewrite_brackets("WHERE k IN [1,2]", []) == "WHERE k IN array(1,2)"
    # nested literals; brackets inside strings untouched
    assert rewrite_brackets("SELECT [[1],[2]] , 'a[1]'", []) == "SELECT array(array(1),array(2)) , 'a[1]'"


def test_bracket_slice_inclusive():
    from duckdb_parachute_spark.sqlx import rewrite_brackets

    # round 13: the slice emit handles open ends and negative indexes via
    # a let-bound size probe; pin the shape, behavior pinned cross-engine
    # in test_slices_ignore_nulls_round13
    out = rewrite_brackets("SELECT xs[2:3] FROM t", []).replace("\x02", "")
    assert out.startswith("SELECT try_element_at(transform(array(xs)")
    assert "slice(" in out and "FROM t" in out


def test_grouping_sets_passthrough():
    sql = "SELECT a, count(*) FROM t GROUP BY GROUPING SETS ((a), ())"
    assert transpile(sql) == sql


def test_qualify_inline_window_hoisted():
    # the canonical DuckDB form: window expression directly in QUALIFY
    out = rewrite_qualify(
        "SELECT g, x FROM t QUALIFY row_number() OVER (PARTITION BY g ORDER BY x DESC) = 1", []
    )
    assert "AS __qw0" in out and "WHERE __qw0 = 1" in out
    assert "EXCEPT (__qw0)" in out
    # the ORDER BY inside OVER() must not be mistaken for a trailing clause
    assert "OVER (PARTITION BY g ORDER BY x DESC)" in out


def test_qualify_inline_window_with_trailer():
    out = rewrite_qualify(
        "SELECT g, x FROM t QUALIFY rank() OVER (ORDER BY x) <= 3 ORDER BY g LIMIT 2", []
    )
    assert out.rstrip().endswith("ORDER BY g LIMIT 2")
    assert "WHERE __qw0 <= 3" in out


def test_literals_are_inert():
    # No rewrite may fire on text INSIDE a string literal, while the same
    # token outside literals still rewrites.
    assert transpile("SELECT 'a -> b' AS s") == "SELECT 'a -> b' AS s"
    assert transpile("SELECT 'use QUALIFY here' AS s FROM t") == (
        "SELECT 'use QUALIFY here' AS s FROM t"
    )
    assert transpile("SELECT '[1,2]' AS s") == "SELECT '[1,2]' AS s"
    assert (
        transpile("SELECT a // 2 FROM t WHERE s = 'x // y'")
        == "SELECT a DIV 2 FROM t WHERE s = 'x // y'"
    )
    # doubled-quote escapes survive round-trip
    assert transpile("SELECT 1 WHERE s = 'it''s'") == "SELECT 1 WHERE s = 'it''s'"
    # the arrow's own key literal still reaches the rewrite through the mask
    assert transpile("SELECT props -> 'k' AS a FROM t") == (
        "SELECT get_json_object(props, '$.k') AS a FROM t"
    )


def test_star_replace():
    from duckdb_parachute_spark.sqlx import rewrite_star_replace

    out = transpile("SELECT * REPLACE (round(a, 2) AS a, f(b, c) AS b) FROM t")
    assert out == "SELECT * EXCEPT (a, b), round(a, 2) AS a, f(b, c) AS b FROM t"
    # untouched when absent; fails loud on a missing AS
    assert rewrite_star_replace("SELECT * FROM t", []) == "SELECT * FROM t"
    import pytest

    with pytest.raises(ValueError, match="expr AS col"):
        rewrite_star_replace("SELECT * REPLACE (a) FROM t", [])


def test_struct_and_map_literals():
    assert transpile("SELECT {'k': a, 'j': b + 1} AS s FROM t") == (
        "SELECT named_struct('k', a, 'j', b + 1) AS s FROM t"
    )
    # nested + MAP prefix + :: cast inside a value must not split the pair
    assert transpile("SELECT {'o': {'i': x}} AS s") == (
        "SELECT named_struct('o', named_struct('i', x)) AS s"
    )
    # the '::INT' cast inside a value must not split the pair; it then takes
    # the round-10 rounding dispatch (rewrite_int_casts), so check shape
    out = transpile("SELECT MAP {'a': 1, 'b': v::INT} AS m")
    # round 13: the rounding dispatch binds its operand once (let-binding)
    assert out.startswith("SELECT map('a', 1, 'b', try_element_at(transform(array(v)")
    assert "CASE WHEN typeof(" in out
    assert out.endswith(", 1)) AS m")
    # a brace inside a string literal is inert
    assert transpile("SELECT '{not: struct}' AS s") == "SELECT '{not: struct}' AS s"
    # identifier merely ENDING in 'map' is not the MAP keyword
    assert transpile("SELECT heatmap {'a': 1}") == (
        "SELECT heatmap named_struct('a', 1)"
    )


def test_expand_columns(spark):
    from duckdb_parachute_spark.sqlx import expand_columns

    spark.range(3).selectExpr("id AS a_key", "id * 2 AS b_key", "id AS other").createOrReplaceTempView(
        "t_cols"
    )
    out = expand_columns(spark, "SELECT min(COLUMNS(*)) FROM t_cols")
    assert out.strip() == "SELECT min(a_key) AS a_key, min(b_key) AS b_key, min(other) AS other FROM t_cols"
    out = expand_columns(spark, "SELECT max(COLUMNS('_key$')) FROM t_cols WHERE other > 0")
    assert "max(a_key) AS a_key, max(b_key) AS b_key" in out and "other" not in out.split("FROM")[0]
    # multiple refs in one item share the expansion (DuckDB zip rule)
    out = expand_columns(spark, "SELECT COLUMNS('_key$') + COLUMNS('_key$') FROM t_cols")
    assert "a_key + a_key AS a_key" in out
    # non-COLUMNS text passes through untouched
    s = "SELECT a_key FROM t_cols"
    assert expand_columns(spark, s) is s


def test_list_comprehension_and_list_fns():
    assert transpile("SELECT [x * 2 FOR x IN [1,2,3] IF x > 1] AS c") == (
        "SELECT transform(filter(array(1,2,3), x -> x > 1), x -> x * 2) AS c"
    )
    assert transpile("SELECT [upper(s) FOR s IN names] AS u FROM t") == (
        "SELECT transform(names, s -> upper(s)) AS u FROM t"
    )
    assert transpile("SELECT list_transform(l, x -> x + 1), LIST_FILTER(l, x -> x > 0) FROM t") == (
        "SELECT transform(l, x -> x + 1), filter(l, x -> x > 0) FROM t"
    )
    # IN inside the body (a subquery-ish predicate) does not confuse the split
    assert transpile("SELECT [y FOR y IN l IF y % 2 = 0] FROM t") == (
        "SELECT transform(filter(l, y -> y % 2 = 0), y -> y) FROM t"
    )
    # list_sort graduated to mapped in round 10 (null-ordering matched:
    # DuckDB default ASC NULLS LAST ≡ array_sort); each variant measured
    assert transpile("SELECT list_sort(l) FROM t") == "SELECT array_sort(l) FROM t"
    assert transpile("SELECT list_sort(l, 'ASC', 'NULLS FIRST') FROM t") == (
        "SELECT sort_array(l) FROM t"
    )
    assert transpile("SELECT list_sort(l, 'DESC', 'NULLS FIRST') FROM t") == (
        "SELECT reverse(array_sort(l)) FROM t"
    )
    assert "array_sort(l, (l, r) -> CASE" in transpile("SELECT list_reverse_sort(l) FROM t")
    # string_agg → listagg [WITHIN GROUP]
    assert transpile("SELECT string_agg(s, '|' ORDER BY s DESC) FROM t") == (
        "SELECT listagg(s, '|') WITHIN GROUP (ORDER BY s DESC NULLS LAST) FROM t"
    )
    assert transpile("SELECT string_agg(s) FROM t") == "SELECT listagg(s, ',') FROM t"


def test_sample_rows_form():
    assert transpile("SELECT * FROM t USING SAMPLE 10%") == (
        "SELECT * FROM t TABLESAMPLE (10 PERCENT)"
    )
    assert transpile("SELECT * FROM t USING SAMPLE 10 ROWS") == (
        "SELECT * FROM t TABLESAMPLE (10 ROWS)"
    )
    assert transpile("SELECT * FROM t USING SAMPLE 10") == (
        "SELECT * FROM t TABLESAMPLE (10 ROWS)"
    )


def test_pivot_stmt_static_values(spark):
    from duckdb_parachute_spark.sqlx import rewrite_pivot_stmt

    out = rewrite_pivot_stmt(
        spark, "PIVOT t ON status IN ('a', 'b') USING sum(v) GROUP BY grp"
    )
    assert out == (
        "SELECT * FROM (SELECT grp, status, v FROM t) "
        "PIVOT (sum(v) FOR status IN ('a' AS `a`, 'b' AS `b`)) "
    )


def test_pivot_stmt_count_star_no_group(spark):
    from duckdb_parachute_spark.sqlx import rewrite_pivot_stmt

    out = rewrite_pivot_stmt(spark, "PIVOT t ON k IN (1, 2) USING count(*)")
    assert out == "SELECT * FROM t PIVOT (count(1) FOR k IN (1 AS `1`, 2 AS `2`)) "


def test_unpivot_stmt(spark):
    from duckdb_parachute_spark.sqlx import rewrite_pivot_stmt

    out = rewrite_pivot_stmt(
        spark, 'UNPIVOT wide ON jan, feb, "odd name" INTO NAME month VALUE amount'
    )
    assert out == (
        "SELECT * FROM wide UNPIVOT (amount FOR month "
        "IN (jan, feb, `odd name`)) "
    )


def test_pivot_stmt_passthrough(spark):
    from duckdb_parachute_spark.sqlx import rewrite_pivot_stmt

    assert rewrite_pivot_stmt(spark, "SELECT pivot_col FROM t") is None


def test_from_first_rewrites():
    from duckdb_parachute_spark.sqlx import transpile

    assert transpile("FROM t").strip() == "SELECT * FROM t"
    assert transpile("FROM t WHERE x = 1 LIMIT 2") == "SELECT * FROM t WHERE x = 1 LIMIT 2"
    out = transpile("FROM t SELECT a, b WHERE x = 1")
    assert out.split() == ["SELECT", "a,", "b", "FROM", "t", "WHERE", "x", "=", "1"]
    # subquery SELECTs are not confused for the moved list
    out2 = transpile("FROM (SELECT a FROM u) t SELECT a ORDER BY a")
    assert out2.split()[0] == "SELECT" and "ORDER" in out2


def test_trailing_commas_dropped():
    from duckdb_parachute_spark.sqlx import transpile

    assert transpile("SELECT a, b, FROM t") == "SELECT a, b FROM t"
    assert (
        transpile("SELECT a, count(*) c, FROM t GROUP BY a, ORDER BY a,")
        == "SELECT a, count(*) c FROM t GROUP BY a ORDER BY a NULLS LAST"
    )
    # literals with commas are inert; f(a,) stays invalid
    assert transpile("SELECT 'a, FROM b', x, FROM t") == "SELECT 'a, FROM b', x FROM t"
    assert transpile("SELECT f(a,) FROM t") == "SELECT f(a,) FROM t"


def test_prepare_execute_positional_qmarks(spark):
    from duckdb_parachute_spark import sqlx

    spark.range(5).createOrReplaceTempView("pq_t")
    sqlx.sql(spark, "PREPARE pq_probe AS SELECT count(*) AS c FROM pq_t WHERE id > ? AND id < ?")
    got = sqlx.sql(spark, "EXECUTE pq_probe(0, 4)").collect()[0]["c"]
    assert got == 3
    # '?' inside a literal is inert
    sqlx.sql(spark, "PREPARE pq_lit AS SELECT '?' AS marker, count(*) AS c FROM pq_t WHERE id >= $1")
    row = sqlx.sql(spark, "EXECUTE pq_lit(3)").collect()[0]
    assert (row["marker"], row["c"]) == ("?", 2)
    import pytest as _pytest

    with _pytest.raises(ValueError):
        sqlx.sql(spark, "EXECUTE pq_probe(1)")
    with _pytest.raises(ValueError):
        sqlx.sql(spark, "EXECUTE missing_stmt(1)")


def test_copy_statement_roundtrip(spark, tmp_path):
    from duckdb_parachute_spark import sqlx

    spark.range(10).selectExpr("id", "id % 3 AS g").createOrReplaceTempView("cp_t")
    out = str(tmp_path / "out.csv")
    sqlx.sql(spark, f"COPY (SELECT * FROM cp_t WHERE id < 6) TO '{out}' (FORMAT CSV, HEADER)")
    back = spark.read.option("header", True).csv(out)
    assert back.count() == 6
    # bare table + suffix-inferred parquet + PARTITION_BY
    outp = str(tmp_path / "part_out")
    sqlx.sql(spark, f"COPY cp_t TO '{outp}' (PARTITION_BY (g))")
    import os

    assert any(d.startswith("g=") for d in os.listdir(outp))
    assert spark.read.parquet(outp).count() == 10


def test_set_pragma_statements(spark):
    from duckdb_parachute_spark import sqlx

    before = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        sqlx.sql(spark, "SET threads = 4")
        assert spark.conf.get("spark.sql.shuffle.partitions") == "4"
        sqlx.sql(spark, "PRAGMA threads=6")
        assert spark.conf.get("spark.sql.shuffle.partitions") == "6"
        sqlx.sql(spark, "SET spark.sql.ansi.enabled = true")
        assert spark.conf.get("spark.sql.ansi.enabled") == "true"
        # unknown DuckDB setting: accepted no-op
        got = sqlx.sql(spark, "SET memory_limit = '4GB'").collect()[0]
        assert got["setting"] == "memory_limit"
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", before)
        spark.conf.set("spark.sql.ansi.enabled", "true")


def test_summarize_statement(spark, sf_dir):
    from duckdb_parachute_spark import sqlx
    from duckdb_parachute_spark.catalog import load_table

    load_table(spark, sf_dir, "nation").createOrReplaceTempView("nation")
    got = {r["column_name"]: r for r in sqlx.sql(spark, "SUMMARIZE nation").collect()}
    assert {"n_nationkey", "n_name", "n_regionkey"} <= set(got)
    assert got["n_nationkey"]["count"] == 25 and got["n_nationkey"]["null_percentage"] == 0.0
    assert got["n_regionkey"]["min"] == "0" and got["n_regionkey"]["max"] == "4"
    assert got["n_name"]["avg"] is None  # non-numeric: numeric stats NULL
    sub = sqlx.sql(spark, "SUMMARIZE (SELECT n_regionkey FROM nation WHERE n_nationkey < 5)")
    assert sub.count() == 1


def test_run_script_semicolon_handling(spark):
    from duckdb_parachute_spark import sqlx

    spark.range(4).createOrReplaceTempView("rs_t")
    out = sqlx.run_script(
        spark,
        "SELECT ';' AS semi, count(*) AS c FROM rs_t; -- comment; with semi\n"
        "SELECT count(*) AS c FROM rs_t WHERE id > 0;",
    )
    assert out.collect()[0]["c"] == 3
    assert sqlx.run_script(spark, "  ; ; ") is None


def test_create_macro_expansion(spark):
    from duckdb_parachute_spark import sqlx

    spark.range(3).createOrReplaceTempView("mc_t")
    sqlx.sql(spark, "CREATE MACRO mc_double(x) AS x + x")
    sqlx.sql(spark, "CREATE MACRO mc_tag(x) AS 'v -> ' || CAST(mc_double(x) AS STRING)")
    got = [r["s"] for r in sqlx.sql(spark, "SELECT mc_tag(id) AS s FROM mc_t ORDER BY id").collect()]
    # the literal inside the macro body must survive the -> rewrite
    assert got == ["v -> 0", "v -> 2", "v -> 4"]
    # macro names inside string literals never expand
    lit = sqlx.sql(spark, "SELECT 'call mc_double(9)' AS s").collect()[0]["s"]
    assert lit == "call mc_double(9)"
    import pytest as _pytest

    with _pytest.raises(ValueError):
        sqlx.sql(spark, "SELECT mc_double(1, 2)")


def test_macro_param_inside_body_literal(spark):
    # review finding: \b-param substitution over the RAW body rewrote the
    # 'v' inside the body's own literal 'v=' — must stay untouched
    from duckdb_parachute_spark import sqlx

    sqlx.sql(spark, "CREATE MACRO mc_lit(v) AS concat('v=', CAST(v AS STRING))")
    try:
        got = sqlx.sql(spark, "SELECT mc_lit(7) AS s").collect()[0]["s"]
        assert got == "v=7"
    finally:
        sqlx.sql(spark, "DROP MACRO IF EXISTS mc_lit")


def test_recursive_macro_raises_not_hangs(spark):
    from duckdb_parachute_spark import sqlx

    sqlx.sql(spark, "CREATE MACRO mc_rec(x) AS mc_rec(x) + 1")
    try:
        with pytest.raises(ValueError, match="did not terminate"):
            sqlx.transpile("SELECT mc_rec(2)")
    finally:
        sqlx.sql(spark, "DROP MACRO IF EXISTS mc_rec")


def test_drop_macro_and_deallocate(spark):
    from duckdb_parachute_spark import sqlx

    sqlx.sql(spark, "CREATE MACRO mc_tmp(x) AS x + 1")
    sqlx.sql(spark, "DROP MACRO mc_tmp")
    assert "mc_tmp" not in sqlx._MACROS
    with pytest.raises(ValueError):
        sqlx.sql(spark, "DROP MACRO mc_tmp")
    sqlx.sql(spark, "DROP MACRO IF EXISTS mc_tmp")  # no raise
    sqlx.sql(spark, "PREPARE pp_tmp AS SELECT 1 AS one")
    sqlx.sql(spark, "DEALLOCATE pp_tmp")
    assert "pp_tmp" not in sqlx._PREPARED
    with pytest.raises(ValueError):
        sqlx.sql(spark, "DEALLOCATE pp_tmp")


def test_execute_arg_with_comma_in_literal(spark):
    # review finding: paren-depth-only split broke 'x,y' into two args
    from duckdb_parachute_spark import sqlx

    spark.createDataFrame([("x,y", "z"), ("a", "z")], "a string, b string").createOrReplaceTempView(
        "exq_t"
    )
    sqlx.sql(spark, "PREPARE exq_p AS SELECT count(*) AS c FROM exq_t WHERE a = $1 AND b = $2")
    try:
        assert sqlx.sql(spark, "EXECUTE exq_p('x,y', 'z')").collect()[0]["c"] == 1
    finally:
        sqlx.sql(spark, "DEALLOCATE exq_p")


def test_expand_columns_literal_with_comma_and_from(spark):
    # review finding: expand_columns parsed the raw text, splitting inside
    # 'a,b' and matching a FROM inside a literal as the source boundary
    from duckdb_parachute_spark.sqlx import expand_columns

    spark.createDataFrame([(1, 2)], "x int, y int").createOrReplaceTempView("ec_t2")
    out = expand_columns(spark, "SELECT COLUMNS(*), 'a,b' AS s, 'see FROM docs' AS n FROM ec_t2")
    r = spark.sql(out).collect()[0]
    assert (r["x"], r["y"], r["s"], r["n"]) == (1, 2, "a,b", "see FROM docs")


def test_copy_options_delimiter_comma(spark, tmp_path):
    # review finding: string-blind option split rejected DELIMITER ','
    from duckdb_parachute_spark import sqlx

    spark.createDataFrame([(1, "a"), (2, "b")], "id int, s string").createOrReplaceTempView("cpo_t")
    dest = str(tmp_path / "out_csv")
    sqlx.sql(spark, f"COPY cpo_t TO '{dest}.csv' (HEADER, DELIMITER ',')")
    back = spark.read.option("header", True).csv(f"{dest}.csv")
    assert back.count() == 2


def test_star_replace_inside_subquery():
    from duckdb_parachute_spark.sqlx import transpile

    out = transpile("SELECT * FROM (SELECT * REPLACE (x + 1 AS x) FROM t) q")
    assert "REPLACE" not in out.upper()
    assert "EXCEPT (x)" in out


def test_pivot_stmt_date_values(spark):
    # review finding: bare str(date) rendered 2020-01-01 → integer arithmetic
    from duckdb_parachute_spark import sqlx

    spark.sql(
        "SELECT * FROM VALUES (DATE'2020-01-01', 1), (DATE'2020-02-01', 2), "
        "(DATE'2020-01-01', 3) AS t(d, v)"
    ).createOrReplaceTempView("pvd_t")
    out = sqlx.sql(spark, "PIVOT pvd_t ON d USING sum(v)")
    row = out.collect()[0]
    assert row["2020-01-01"] == 4 and row["2020-02-01"] == 2


def test_create_temp_table_materialized_once(spark):
    from duckdb_parachute_spark import sqlx

    out = sqlx.run_script(
        spark,
        "CREATE TEMP TABLE ctt_a AS SELECT 1 AS x UNION ALL SELECT 2; "
        "CREATE OR REPLACE TEMP TABLE ctt_b AS SELECT x * 10 AS y FROM ctt_a; "
        "SELECT sum(y) AS s FROM ctt_b;",
    )
    assert out.collect()[0]["s"] == 30
    # duplicate name without OR REPLACE: loud error, like DuckDB
    with pytest.raises(ValueError, match="already exists"):
        sqlx.sql(spark, "CREATE TEMP TABLE ctt_a AS SELECT 1 AS x")
    # snapshot-once: a nondeterministic defining query reads the same value
    r1 = sqlx.run_script(
        spark, "CREATE OR REPLACE TEMP TABLE ctt_r AS SELECT rand() AS r; SELECT r FROM ctt_r;"
    ).collect()[0]["r"]
    r2 = sqlx.sql(spark, "SELECT r FROM ctt_r").collect()[0]["r"]
    assert r1 == r2
    sqlx.sql(spark, "DROP TABLE ctt_a")
    sqlx.sql(spark, "DROP TABLE ctt_b")
    sqlx.sql(spark, "DROP TABLE IF EXISTS ctt_r")
    sqlx.sql(spark, "DROP TABLE IF EXISTS ctt_never")
    with pytest.raises(Exception):
        sqlx.sql(spark, "SELECT * FROM ctt_a").collect()


def test_delta_scan_table_function(spark, tmp_path):
    import json
    import glob as g
    import os
    import shutil

    from duckdb_parachute_spark import sqlx

    root = str(tmp_path / "dsql")
    os.makedirs(os.path.join(root, "_delta_log"))
    staging = os.path.join(root, ".s")
    spark.range(6).selectExpr("id", "id * 3 AS v").coalesce(1).write.parquet(staging)
    shutil.move(g.glob(os.path.join(staging, "part-*.parquet"))[0], os.path.join(root, "f.parquet"))
    shutil.rmtree(staging)
    with open(os.path.join(root, "_delta_log", f"{0:020d}.json"), "w") as f:
        f.write(json.dumps({"add": {"path": "f.parquet", "partitionValues": {}}}) + "\n")
    out = sqlx.sql(spark, f"SELECT sum(v) AS s FROM delta_scan('{root}') WHERE id >= 2")
    assert out.collect()[0]["s"] == (2 + 3 + 4 + 5) * 3
    # inside a string literal: text, not a table function
    lit = sqlx.sql(spark, "SELECT 'see delta_scan(...) docs' AS s").collect()[0]["s"]
    assert lit == "see delta_scan(...) docs"


def test_insert_into_temp_table(spark):
    from duckdb_parachute_spark import sqlx

    out = sqlx.run_script(
        spark,
        """
        CREATE OR REPLACE TEMP TABLE itt AS SELECT 1 AS x;
        INSERT INTO itt SELECT 2;
        INSERT INTO itt VALUES (3), (4);
        SELECT sum(x) AS s, count(*) AS n FROM itt;
        """,
    )
    r = out.collect()[0]
    assert (r["s"], r["n"]) == (10, 4)
    sqlx.sql(spark, "DROP TABLE itt")


def test_insert_into_temp_table_column_list(spark):
    from duckdb_parachute_spark import sqlx

    out = sqlx.run_script(
        spark,
        """
        CREATE OR REPLACE TEMP TABLE itc AS SELECT 1 AS x, 'a' AS s;
        INSERT INTO itc (x) VALUES (2);
        INSERT INTO itc (s, x) SELECT 'c', 3;
        SELECT x, s FROM itc ORDER BY x;
        """,
    )
    rows = [(r["x"], r["s"]) for r in out.collect()]
    assert rows == [(1, "a"), (2, None), (3, "c")]
    with pytest.raises(ValueError, match="expected 1"):
        sqlx.sql(spark, "INSERT INTO itc (x) VALUES (4, 5)")
    sqlx.sql(spark, "DROP TABLE itc")


def test_regex_operators():
    # the emitted literal carries DOUBLED backslashes: Spark's string parser
    # un-escapes them back to \A / \z (DuckDB literals are escape-free)
    assert transpile("SELECT a SIMILAR TO 'x.y' FROM t") == r"SELECT a RLIKE '\\A(?:x.y)\\z' FROM t"
    assert transpile("SELECT a NOT SIMILAR TO 'p' FROM t") == r"SELECT a NOT RLIKE '\\A(?:p)\\z' FROM t"
    assert transpile("WHERE s ~ 'a+b'") == r"WHERE s RLIKE '\\A(?:a+b)\\z'"
    assert transpile("WHERE s !~ 'a+b'") == r"WHERE s NOT RLIKE '\\A(?:a+b)\\z'"
    # a user literal with backslashes reaches Spark byte-identical to DuckDB
    assert transpile(r"SELECT '\d+' AS p") == r"SELECT '\\d+' AS p"
    assert transpile("WHERE s ~~ 'a%'") == "WHERE s LIKE 'a%'"
    assert transpile("WHERE s !~~ 'a%'") == "WHERE s NOT LIKE 'a%'"
    # inert inside literals; -> arrow unaffected
    assert transpile("SELECT 'x ~ y' AS s") == "SELECT 'x ~ y' AS s"


def test_regex_operators_live(spark):
    from duckdb_parachute_spark import sqlx

    r = sqlx.sql(
        spark,
        "SELECT 'abc' SIMILAR TO 'a.c' AS a, 'abcd' SIMILAR TO 'a.c' AS b, "
        "'abc' ~ 'a.c' AS c, 'abcd' ~ 'b.d' AS d, 'abcd' !~ 'xyz' AS e, "
        "'abc' ~~ 'a%' AS f",
    ).collect()[0]
    # pinned against duckdb 1.0 results for the same row
    assert (r["a"], r["b"], r["c"], r["d"], r["e"], r["f"]) == (
        True, False, True, False, True, True,
    )


def test_union_by_name(spark):
    from duckdb_parachute_spark import sqlx

    rows = sqlx.sql(
        spark,
        "SELECT 1 AS a, 2 AS b UNION ALL BY NAME SELECT 3 AS b, 4 AS c ORDER BY b",
    ).collect()
    assert [(r["a"], r["b"], r["c"]) for r in rows] == [(1, 2, None), (None, 3, 4)]
    # plain (non-ALL) BY NAME dedups
    rows = sqlx.sql(
        spark,
        "SELECT 1 AS a UNION BY NAME SELECT 1 AS a UNION BY NAME SELECT 2 AS a",
    ).collect()
    assert sorted(r["a"] for r in rows) == [1, 2]
    # literal containing the keywords is inert
    lit = sqlx.sql(spark, "SELECT 'x UNION BY NAME y' AS s").collect()[0]["s"]
    assert lit == "x UNION BY NAME y"


def test_power_operator(spark):
    import duckdb

    from duckdb_parachute_spark import sqlx
    from duckdb_parachute_spark.sqlx import rewrite_power

    assert rewrite_power("SELECT 2^3", []) == "SELECT power(2, 3)"
    assert rewrite_power("SELECT 2 ** 3 AS p", []) == "SELECT power(2, 3) AS p"
    # left-associative like DuckDB: 2^3^2 = (2^3)^2
    assert rewrite_power("SELECT 2^3^2", []) == "SELECT power(power(2, 3), 2)"
    # binds tighter than +; unary minus joins the left operand (-2^2 = 4)
    assert rewrite_power("SELECT 2+3^2", []) == "SELECT 2+power(3, 2)"
    assert rewrite_power("SELECT -2^2", []) == "SELECT power(-2, 2)"
    assert rewrite_power("SELECT a - 2^2 FROM t", []) == "SELECT a - power(2, 2) FROM t"
    assert rewrite_power("SELECT f(x)^g(y)", []) == "SELECT power(f(x), g(y))"
    assert rewrite_power("SELECT (a+b)^2", []) == "SELECT power((a+b), 2)"
    # a sign binds tighter than ^ on the right too, but duckdb 1.0 lexes
    # '^-' as one operator and rejects it ("Scalar Function ^- does not
    # exist"); '**-' and '//-' lex as the operator then the sign
    for q in ("SELECT 2^-2", "SELECT 2 ^- 2"):
        with pytest.raises(duckdb.Error):
            duckdb.sql(q).fetchall()
        with pytest.raises(ValueError):
            rewrite_power(q, [])
    for q in ("SELECT 2 ^ -1", "SELECT 2 ** -1", "SELECT 2**-2", "SELECT 7 // -2"):
        assert sqlx.sql(spark, q).collect()[0][0] == duckdb.sql(q).fetchone()[0], q
    assert rewrite_power("SELECT 2^(-2)", []) == "SELECT power(2, (-2))"
    # '::' binds tighter than '^' (round 10, ADVICE r9): the cast suffix
    # stays inside the operand on BOTH sides
    assert rewrite_power("SELECT x::int ^ 2 FROM t", []) == "SELECT power(x::int, 2) FROM t"
    assert rewrite_power("SELECT 2 ^ x::int FROM t", []) == "SELECT power(2, x::int) FROM t"
    assert (
        rewrite_power("SELECT x::decimal(4,1) ^ y::int FROM t", [])
        == "SELECT power(x::decimal(4,1), y::int) FROM t"
    )
    assert rewrite_power("SELECT (a+b)::int ^ 2", []) == "SELECT power((a+b)::int, 2)"
    # regex anchors inside literals are inert through transpile
    assert transpile("SELECT '^abc$' AS s") == "SELECT '^abc$' AS s"


def test_power_operator_live(spark):
    from duckdb_parachute_spark import sqlx

    r = sqlx.sql(
        spark, "SELECT 2^3 AS a, 2^3^2 AS b, 2+3^2 AS c, -2^2 AS d, 2**10 AS e"
    ).collect()[0]
    # pinned against duckdb 1.0: (8.0, 64.0, 11.0, 4.0, 1024.0)
    assert (r["a"], r["b"], r["c"], r["d"], r["e"]) == (8.0, 64.0, 11.0, 4.0, 1024.0)
    # cast-suffixed operands, pinned against duckdb 1.0:
    # 2.9::int ^ 2 = 9.0 (round-to-3 cast first), 2 ^ 2.9::int = 8.0
    r2 = sqlx.sql(spark, "SELECT 2.9::int ^ 2 AS a, 2 ^ 2.9::int AS b").collect()[0]
    assert (r2["a"], r2["b"]) == (9.0, 8.0)


def test_full_match_excludes_trailing_newline(spark):
    # duckdb 1.0: ('abc' || chr(10)) ~ 'abc' is FALSE; Java $ would match
    # before the newline, hence the \A/\z anchors
    from duckdb_parachute_spark import sqlx

    r = sqlx.sql(spark, "SELECT ('abc' || chr(10)) ~ 'abc' AS m").collect()[0]["m"]
    assert r is False


def test_comments_are_inert(spark):
    from duckdb_parachute_spark import sqlx

    assert transpile("SELECT 1 /**/") == "SELECT 1 /**/"
    assert transpile("SELECT 1 /* **bold** QUALIFY 'x */ FROM t") == (
        "SELECT 1 /* **bold** QUALIFY 'x */ FROM t"
    )
    # a comment is no operand: a list literal after one stays a list, and
    # an operator whose operand is a comment raises instead of splicing it
    assert transpile("SELECT /* c */ [1, 2]") == "SELECT /* c */ array(1, 2)"
    assert transpile("SELECT 1, -- c\n[1, 2]") == "SELECT 1, -- c\narray(1, 2)"
    with pytest.raises(ValueError, match="operands of"):
        transpile("SELECT 2 ^ /* c */ 3")
    out = sqlx.run_script(
        spark,
        "-- leading comment only;\n/* block; with semi */ SELECT 1 AS x; -- trailing",
    )
    assert out.collect()[0]["x"] == 1


def test_union_by_name_per_operator_dedup(spark):
    from duckdb_parachute_spark import sqlx

    # duckdb 1.0: 3 rows — the trailing UNION ALL keeps the duplicate
    rows = sqlx.sql(
        spark,
        "SELECT 1 AS a UNION BY NAME SELECT 2 AS a UNION ALL BY NAME SELECT 2 AS a",
    ).collect()
    assert sorted(r["a"] for r in rows) == [1, 2, 2]
    # positional set op after a BY NAME: refused, not silently misgrouped
    with pytest.raises(NotImplementedError, match="positional"):
        sqlx.sql(
            spark,
            "SELECT 1 AS a, 2 AS b UNION BY NAME SELECT 20 AS b, 10 AS a UNION ALL SELECT 1, 2",
        )


def test_order_by_all_nulls_last_and_from_first(spark):
    from duckdb_parachute_spark import sqlx

    # duckdb default null order is NULLS LAST for both directions
    rows = sqlx.sql(
        spark,
        "SELECT * FROM (SELECT 2 AS v UNION ALL SELECT NULL UNION ALL SELECT 1) ORDER BY ALL",
    ).collect()
    assert [r["v"] for r in rows] == [1, 2, None]
    spark.createDataFrame([(2,), (1,)], "v int").createOrReplaceTempView("oba_t")
    rows = sqlx.sql(spark, "FROM oba_t ORDER BY ALL").collect()
    assert [r["v"] for r in rows] == [1, 2]


def test_order_by_all_and_factorial(spark):
    from duckdb_parachute_spark import sqlx
    from duckdb_parachute_spark.sqlx import rewrite_factorial

    assert rewrite_factorial("SELECT 5! AS f", []) == "SELECT factorial(5) AS f"
    assert rewrite_factorial("SELECT f(3)! + 1", []) == "SELECT factorial(f(3)) + 1"
    assert rewrite_factorial("WHERE a != b AND c !~ 'x'", []) == "WHERE a != b AND c !~ 'x'"
    assert rewrite_factorial("SELECT (2+1)!", []) == "SELECT factorial((2+1))"
    # DuckDB binds '!' looser than arithmetic and signs: 2 - 3! = (2 - 3)! = 1,
    # -5! = 1, 2 * 3! = 720; the operand grammar cannot read that, so raise
    for q in ("SELECT 2 - 3!", "SELECT -5!", "SELECT 2 * 3!"):
        with pytest.raises(ValueError, match="postfix '!'"):
            sqlx.transpile(q)
    rows = sqlx.sql(
        spark, "SELECT 2 AS b, 1 AS a UNION ALL SELECT 1, 9 ORDER BY ALL"
    ).collect()
    assert [(r["b"], r["a"]) for r in rows] == [(1, 9), (2, 1)]
    rows = sqlx.sql(
        spark, "SELECT 2 AS b, 1 AS a UNION ALL SELECT 1, 9 ORDER BY ALL DESC"
    ).collect()
    assert [(r["b"], r["a"]) for r in rows] == [(2, 1), (1, 9)]
    assert sqlx.sql(spark, "SELECT 5! AS f").collect()[0]["f"] == 120
    # ORDER BY ALL with LIMIT tail
    rows = sqlx.sql(
        spark, "SELECT 2 AS b UNION ALL SELECT 1 ORDER BY ALL LIMIT 1"
    ).collect()
    assert [r["b"] for r in rows] == [1]


def test_string_split_literal_separator(spark):
    from duckdb_parachute_spark import sqlx

    # DuckDB string_split takes a LITERAL separator; Spark split takes a
    # regex — '.' must not split on every character
    r = sqlx.sql(spark, "SELECT string_split('a.b.c', '.') AS xs").collect()[0]["xs"]
    assert r == ["a", "b", "c"]
    r = sqlx.sql(spark, "SELECT str_split('x||y', '||') AS xs").collect()[0]["xs"]
    assert r == ["x", "y"]
    # computed separator keeps the DuckDB name → loud analysis error
    with pytest.raises(Exception):
        sqlx.sql(spark, "SELECT string_split('a.b', concat('.', '')) AS xs").collect()


def test_asof_join_sql(spark):
    from duckdb_parachute_spark import sqlx

    spark.createDataFrame(
        [("a", 1, 10.0), ("a", 5, 11.0), ("a", 9, 12.0), ("b", 2, 20.0)],
        "sym string, t long, price double",
    ).createOrReplaceTempView("px")
    spark.createDataFrame(
        [("a", 4, 100), ("a", 5, 200), ("a", 0, 300), ("b", 3, 400), ("c", 1, 500)],
        "sym string, ts long, qty long",
    ).createOrReplaceTempView("tr")
    rows = sqlx.sql(
        spark,
        "SELECT tr.sym, tr.ts, tr.qty, px.price FROM tr AS tr ASOF LEFT JOIN px AS px "
        "ON tr.sym = px.sym AND tr.ts >= px.t ORDER BY tr.sym, tr.ts",
    ).collect()
    # pinned against duckdb 1.0 for the same data
    assert [(r["sym"], r["ts"], r["qty"], r["price"]) for r in rows] == [
        ("a", 0, 300, None),
        ("a", 4, 100, 10.0),
        ("a", 5, 200, 11.0),
        ("b", 3, 400, 20.0),
        ("c", 1, 500, None),
    ]
    # inner variant drops unmatched; reversed-operand inequality normalizes
    rows = sqlx.sql(
        spark,
        "SELECT tr.ts, px.price FROM tr tr ASOF JOIN px px "
        "ON tr.sym = px.sym AND px.t <= tr.ts ORDER BY tr.ts, px.price",
    ).collect()
    assert [(r["ts"], r["price"]) for r in rows] == [(3, 20.0), (4, 10.0), (5, 11.0)]
    # loudly rejected: strict inequality, multiple inequalities
    with pytest.raises(ValueError, match="strict"):
        sqlx.sql(spark, "SELECT tr.ts FROM tr tr ASOF JOIN px px ON tr.sym = px.sym AND tr.ts > px.t")


def test_strftime_strptime(spark):
    from duckdb_parachute_spark import sqlx

    r = sqlx.sql(
        spark,
        "SELECT strftime(DATE '2020-03-07', '%Y-%m-%d') AS a, "
        "strftime(TIMESTAMP '2020-03-07 14:05:09', '%H:%M:%S %p') AS b, "
        "strftime(DATE '2020-03-07', '%a %b %d') AS c, "
        "CAST(strptime('2020-03-07', '%Y-%m-%d') AS DATE) AS d",
    ).collect()[0]
    # pinned against duckdb 1.0 output for the same expressions
    assert r["a"] == "2020-03-07"
    assert r["b"] == "14:05:09 PM"
    assert r["c"] == "Sat Mar 07"
    assert str(r["d"]) == "2020-03-07"
    # unmapped specifier: loud error, never a silently-wrong Java pattern
    # (%f/%G/%V/%u graduated to mapped in round 10; %n nanoseconds has no
    # Spark representation and stays the loud-raise witness)
    with pytest.raises(ValueError, match="specifier"):
        sqlx.transpile("SELECT strftime(x, '%n') FROM t")
    # format-only specifiers cannot PARSE: strptime raises, never guesses
    with pytest.raises(ValueError, match="format-only"):
        sqlx.transpile("SELECT strptime('2020-53-5', '%G-%V-%u')")
    # round-10 additions, pinned against duckdb 1.0
    r2 = sqlx.sql(
        spark,
        "SELECT strftime(TIMESTAMP '2021-01-01 09:08:07.123456', '%G-%V-%u') AS iso, "
        "strftime(TIMESTAMP '2021-07-04 09:08:07.123456', '%H:%M:%S.%f') AS micros, "
        "strftime(DATE '2023-03-05', 'day: %d') AS bare, "
        "strftime(DATE '2023-03-05', 'it''s %Y') AS apos",
    ).collect()[0]
    assert r2["iso"] == "2020-53-5"
    assert r2["micros"] == "09:08:07.123456"
    assert r2["bare"] == "day: 05"
    assert r2["apos"] == "it's 2023"


def test_regexp_extract_default_group(spark):
    from duckdb_parachute_spark import sqlx
    from duckdb_parachute_spark.sqlx import rewrite_regexp_extract

    assert rewrite_regexp_extract("SELECT regexp_extract(s, p) FROM t", []) == (
        "SELECT regexp_extract(s, p, 0) FROM t"
    )
    assert rewrite_regexp_extract("SELECT regexp_extract(s, p, 2) FROM t", []) == (
        "SELECT regexp_extract(s, p, 2) FROM t"
    )
    # duckdb 1.0: 2-arg form returns the WHOLE match (group 0)
    r = sqlx.sql(
        spark,
        r"SELECT regexp_extract('ab123', '([a-z]+)(\d+)') AS g0, "
        r"regexp_extract('ab123', '([a-z]+)(\d+)', 2) AS g2",
    ).collect()[0]
    assert (r["g0"], r["g2"]) == ("ab123", "123")


def test_star_replace_positional_expansion(spark):
    """Round 10 (ADVICE r9): with a probeable outer FROM, * REPLACE expands
    to the full column list with replacements IN PLACE — positional
    consumers (UNION by position) now align exactly as in DuckDB."""
    from duckdb_parachute_spark import sqlx

    spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0)], "k int, s string, x double"
    ).createOrReplaceTempView("srp_t")
    df = sqlx.sql(spark, "SELECT * REPLACE (x * 2 AS x) FROM srp_t ORDER BY k")
    assert df.columns == ["k", "s", "x"]  # x stays third, not moved to the end
    assert [tuple(r) for r in df.collect()] == [(1, "a", 20.0), (2, "b", 40.0)]
    rows = sqlx.sql(
        spark,
        "SELECT * REPLACE (k + 100 AS k) FROM srp_t "
        "UNION ALL SELECT k, s, x FROM srp_t",
    ).collect()
    assert sorted(r["k"] for r in rows) == [1, 2, 101, 102]
    # unknown replaced column: loud
    with pytest.raises(ValueError, match="unknown column"):
        sqlx.sql(spark, "SELECT * REPLACE (1 AS nope) FROM srp_t")


def test_star_replace_token_path_guards_positional_consumers():
    """The session-free token rewrite still moves replaced columns to the
    end; combined with a positional set operator or INSERT that would
    silently misalign vs DuckDB, so it raises."""
    from duckdb_parachute_spark.sqlx import rewrite_star_replace

    with pytest.raises(ValueError, match="positional"):
        rewrite_star_replace("SELECT * REPLACE (a+1 AS a) FROM t UNION ALL SELECT a, b FROM t", [])
    with pytest.raises(ValueError, match="positional"):
        rewrite_star_replace("INSERT INTO u SELECT * REPLACE (a+1 AS a) FROM t", [])
    # star-EXCEPT column lists and UNION BY NAME are NOT positional consumers
    out = rewrite_star_replace("SELECT * EXCEPT (b), * REPLACE (a+1 AS a) FROM t", [])
    assert "EXCEPT (a), a+1 AS a" in out


def test_columns_in_subquery_raises(spark):
    from duckdb_parachute_spark import sqlx

    spark.createDataFrame([(1, 2)], "a int, b int").createOrReplaceTempView("colsub_t")
    with pytest.raises(ValueError, match="subquery"):
        sqlx.sql(spark, "SELECT (SELECT max(COLUMNS(*)) FROM colsub_t) FROM colsub_t")
    # aggregate-wrapped refs (depth >= 1 but no SELECT of their own) still work
    r = sqlx.sql(spark, "SELECT min(COLUMNS(*)) FROM colsub_t").collect()[0]
    assert (r["a"], r["b"]) == (1, 2)


def test_fn_aliases_and_zero_safe_subscripts(spark):
    """Round 10: DuckDB function-name aliases (verified-identical semantics)
    and the zero-index rule — DuckDB list[0] / list_extract(l, 0) yield
    NULL, Spark's [try_]element_at throws INVALID_INDEX_OF_ZERO."""
    from duckdb_parachute_spark import sqlx
    from duckdb_parachute_spark.sqlx import rewrite_fn_aliases

    assert rewrite_fn_aliases("SELECT strpos(s, 'a') FROM t", []) == "SELECT instr(s, 'a') FROM t"
    assert rewrite_fn_aliases("SELECT list_extract(l, i) FROM t", []) == (
        "SELECT try_element_at(l, nullif(i, 0)) FROM t"
    )
    assert rewrite_fn_aliases("SELECT list_extract(l, 0)", []) == (
        "SELECT try_element_at(l, CAST(NULL AS INT))"
    )
    assert rewrite_fn_aliases("SELECT list_extract(l, 2)", []) == "SELECT try_element_at(l, 2)"
    r = sqlx.sql(
        spark,
        "SELECT list_extract([10, 20, 30], 0) AS z, [10, 20][0] AS zb, "
        "list_extract([10, 20, 30], -1) AS neg, list_position([1, 2], 9) AS miss, "
        "strpos('hello', 'z') AS sp, regexp_matches('abcd', 'b.d') AS rm",
    ).collect()[0]
    # pinned against duckdb 1.0: (None, None, 30, 0, 0, True)
    assert (r["z"], r["zb"], r["neg"], r["miss"], r["sp"], r["rm"]) == (
        None, None, 30, 0, 0, True,
    )
    # arg_min/arg_max are aggregates -> min_by/max_by
    spark.createDataFrame([(1, 5), (2, 3), (3, 9)], "k int, v int").createOrReplaceTempView("am_t")
    r2 = sqlx.sql(spark, "SELECT arg_min(k, v) AS lo, arg_max(k, v) AS hi FROM am_t").collect()[0]
    assert (r2["lo"], r2["hi"]) == (2, 3)


def test_arg_max_window_null_skip(spark):
    """Round 13 (ADVICE): arg_max under OVER — the r12 FILTER spelling is
    rejected by Spark for window aggregates, so the rewrite nulls the KEY
    instead (max/min skip NULL keys). Pinned against DuckDB: window
    arg_max(v,k) over {(NULL,9),('b',1)} partition = 'b' on every row."""
    from duckdb_parachute_spark import sqlx

    spark.createDataFrame(
        [("a", None, 9), ("a", "b", 1), ("b", None, 5)],
        "p string, v string, k int",
    ).createOrReplaceTempView("amw_t")
    rows = sqlx.sql(
        spark,
        "SELECT p, arg_max(v, k) OVER (PARTITION BY p) AS am, "
        "arg_min(v, k) OVER (PARTITION BY p) AS an FROM amw_t ORDER BY p",
    ).collect()
    assert [(r["p"], r["am"], r["an"]) for r in rows] == [
        ("a", "b", "b"), ("a", "b", "b"), ("b", None, None),
    ]
    # duckdb agrees (measured in-round):
    import duckdb

    ref = duckdb.sql(
        "SELECT p, arg_max(v, k) OVER (PARTITION BY p) AS am, "
        "arg_min(v, k) OVER (PARTITION BY p) AS an "
        "FROM (VALUES ('a', NULL, 9), ('a', 'b', 1), ('b', NULL, 5)) "
        "t(p, v, k) ORDER BY p"
    ).fetchall()
    assert [tuple(r) for r in ref] == [(r["p"], r["am"], r["an"]) for r in rows]


def test_blob_literal_escapes(spark):
    """Round 13 (ADVICE): BLOB 'ab\\xAA' must decode the \\xNN escapes to
    bytes (DuckDB stores 6162AA); the r12 CAST(text AS BINARY) kept the
    backslash text. Only \\xNN is a legal escape; anything else raises,
    mirroring DuckDB's conversion error."""
    from duckdb_parachute_spark import sqlx

    r = sqlx.sql(
        spark,
        r"SELECT hex(BLOB 'ab\xAA') AS h1, hex(BYTEA 'a\x5Cb') AS h2, "
        r"octet_length(BLOB '\x00\xFF') AS n",
    ).collect()[0]
    import duckdb

    ref = duckdb.sql(
        r"SELECT hex(BLOB 'ab\xAA') AS h1, hex(BYTEA 'a\x5Cb') AS h2, "
        r"octet_length(BLOB '\x00\xFF') AS n"
    ).fetchone()
    assert (r["h1"], r["h2"], r["n"]) == tuple(ref) == ("6162AA", "615C62", 2)
    with pytest.raises(ValueError, match="only .xNN is legal"):
        sqlx.transpile(r"SELECT BLOB 'a\nb'")
    with pytest.raises(ValueError, match="non-ASCII"):
        sqlx.transpile("SELECT BLOB 'café'")


def test_date_diff_boundary_semantics(spark):
    """date_diff counts PART BOUNDARIES CROSSED (duckdb 1.0:
    date_diff('month', Jan 31, Feb 1) = 1), not complete units
    (timestampdiff would say 0)."""
    from duckdb_parachute_spark import sqlx

    r = sqlx.sql(
        spark,
        "SELECT date_diff('month', DATE '2021-01-31', DATE '2021-02-01') AS m, "
        "date_diff('month', DATE '2021-02-01', DATE '2021-01-31') AS mneg, "
        "date_diff('year', DATE '2020-12-31', DATE '2021-01-01') AS y, "
        "date_diff('week', DATE '2021-01-03', DATE '2021-01-04') AS w, "
        "date_diff('day', TIMESTAMP '2021-01-01 23:59:59', TIMESTAMP '2021-01-02 00:00:01') AS d, "
        "date_diff('hour', TIMESTAMP '2021-01-01 01:59:59', TIMESTAMP '2021-01-01 02:00:01') AS h, "
        "datediff('days', DATE '2021-01-01', DATE '2021-03-01') AS dd, "
        "datediff(DATE '2021-03-01', DATE '2021-01-01') AS spark2arg",
    ).collect()[0]
    assert (r["m"], r["mneg"], r["y"], r["w"], r["d"], r["h"], r["dd"], r["spark2arg"]) == (
        1, -1, 1, 1, 1, 1, 59, 59,
    )
    with pytest.raises(ValueError, match="date_diff part"):
        sqlx.transpile("SELECT date_diff('millennium', a, b) FROM t")


def test_quantile_rewrites(spark):
    from duckdb_parachute_spark import sqlx

    # round 13: quantile_cont carries the decimal-scale truncation dispatch
    # (typeof CASE over percentile); quantile_disc/quantile emit the
    # sorted-array element — type-preserving, so VARCHAR/DATE/DECIMAL
    # groups work where percentile_disc was numeric-only
    assert "percentile(x, 0.5)" in transpile("SELECT quantile_cont(x, 0.5) FROM t")
    assert "decimal%" in transpile("SELECT quantile_cont(x, 0.5) FROM t")
    disc = transpile("SELECT quantile_disc(x, 0.25) FROM t")
    assert "array_sort(collect_list(x))" in disc and "ceil((0.25)" in disc
    assert "ceil((0.9)" in transpile("SELECT quantile(x, 0.9) FROM t")
    # pinned against duckdb 1.0: disc picks the exact element at the rank
    r = sqlx.sql(
        spark,
        "SELECT quantile_cont(CAST(x AS DOUBLE), 0.25) AS a, "
        "CAST(quantile_disc(x, 0.6) AS DOUBLE) AS b "
        "FROM (VALUES (1.0),(2.0),(4.0),(8.0)) t(x)",
    ).collect()[0]
    assert (r["a"], r["b"]) == (1.75, 4.0)


def test_copy_from_and_insert_by_name(spark, tmp_path):
    """COPY <tbl> FROM 'path' (the ingest direction, reference
    copy_statement.cpp) routes through INSERT INTO — temp tables AND
    versioned tables (one transactional snapshot per COPY); INSERT INTO ...
    BY NAME aligns by column name, NULL-fills missing, raises on extras."""
    from duckdb_parachute_spark import sqlx
    from duckdb_parachute_spark.operators.acid import VersionedTable

    csv = str(tmp_path / "in.csv")
    with open(csv, "w") as f:
        f.write("k,v\n1,10\n2,20\n")
    sqlx.sql(spark, "CREATE OR REPLACE TEMP TABLE cft AS SELECT 0 AS k, 0 AS v WHERE FALSE")
    sqlx.sql(spark, f"COPY cft FROM '{csv}' (HEADER)")
    assert sorted(tuple(r) for r in spark.table("cft").collect()) == [(1, 10), (2, 20)]
    root = str(tmp_path / "vt")
    VersionedTable.create(spark, root, spark.createDataFrame([(9, 90)], "k int, v int"))
    sqlx.sql(spark, f"ATTACH '{root}' AS vcf (TYPE VERSIONED)")
    try:
        sqlx.sql(spark, f"COPY vcf FROM '{csv}' (HEADER)")
        assert VersionedTable.open(spark, root).snapshot.version == 1
        assert sqlx.sql(spark, "SELECT count(*) AS n FROM vcf").head().n == 3
    finally:
        sqlx.sql(spark, "DETACH vcf")
    # BY NAME: reordered + missing columns
    sqlx.sql(spark, "INSERT INTO cft BY NAME SELECT 77 AS v, 7 AS k")
    sqlx.sql(spark, "INSERT INTO cft BY NAME SELECT 99 AS v")
    got = {(r.k, r.v) for r in spark.table("cft").collect()}
    assert (7, 77) in got and (None, 99) in got
    with pytest.raises(ValueError, match="not in the table"):
        sqlx.sql(spark, "INSERT INTO cft BY NAME SELECT 1 AS nope")


def test_bracket_map_access_with_column_key(spark):
    """Round 11 (ADVICE r10): brackets are also MAP access — m[key_col]
    with a string column must NOT get the numeric zero-guard (nullif would
    compare string to int and error under ANSI). Provably-numeric bracket
    indexes keep the guard; the list_* functions always do (numeric by
    signature)."""
    from duckdb_parachute_spark import sqlx
    from duckdb_parachute_spark.sqlx import rewrite_brackets, transpile

    # computed key of unknown type: raw passthrough
    assert rewrite_brackets("SELECT m[k] FROM t", []) == "SELECT try_element_at(m, k) FROM t"
    # provably numeric shapes keep the NULL-on-zero guard
    assert rewrite_brackets("SELECT l[i + 1] FROM t", []) == (
        "SELECT try_element_at(l, nullif(i + 1, 0)) FROM t"
    )
    assert "nullif" in transpile("SELECT l[CAST(k AS INT)] FROM t")
    assert "nullif" in transpile("SELECT l[k::bigint] FROM t")
    # end-to-end: string-keyed map lookup through a column (DuckDB's
    # map[varchar]), incl. a missing key -> NULL
    spark.createDataFrame(
        [("a",), ("b",), ("nope",)], "k string"
    ).createOrReplaceTempView("mapk_t")
    rows = sqlx.sql(
        spark, "SELECT k, map('a', 1, 'b', 2)[k] AS v FROM mapk_t ORDER BY k"
    ).collect()
    assert [(r["k"], r["v"]) for r in rows] == [("a", 1), ("b", 2), ("nope", None)]


def test_star_replace_guard_sees_parenthesized_setop():
    """Round 11 (ADVICE r10): 'UNION ((SELECT ...' — extra parens around the
    set operand must not escape the positional-consumer guard."""
    from duckdb_parachute_spark.sqlx import rewrite_star_replace

    with pytest.raises(ValueError, match="positional"):
        rewrite_star_replace(
            "SELECT * REPLACE (a+1 AS a) FROM t UNION ((SELECT a, b FROM t))", []
        )
    with pytest.raises(ValueError, match="positional"):
        rewrite_star_replace(
            "SELECT * REPLACE (a+1 AS a) FROM t INTERSECT (((SELECT a, b FROM t)))", []
        )


def test_date_part_divergence_map(spark):
    """Round 11: DuckDB date_part/extract semantics that diverge from Spark
    — dow Sunday=0, isodow, isoyear, epoch (tz-independent, fractional
    micros), truncated second, sub-second fields including the seconds
    component, decade/century/millennium/era/yearweek. Identical parts and
    unknown parts pass through (the latter fail loudly in the analyzer)."""
    from duckdb_parachute_spark import sqlx

    r = sqlx.sql(
        spark,
        "SELECT date_part('dow', DATE '2021-07-04') AS dow,"
        " extract(isodow FROM DATE '2021-07-04') AS iso,"
        " date_part('epoch', TIMESTAMP '2021-07-04 10:20:30.123456') AS ep,"
        " date_part('us', TIMESTAMP '2021-07-04 10:20:30.123456') AS us,"
        " date_part('seconds', TIMESTAMP '2021-07-04 10:20:30.987') AS sec,"
        " extract(century FROM DATE '2001-01-01') AS cen,"
        " date_part('yearweek', DATE '2021-01-01') AS yw,"
        " date_part('year', DATE '2021-07-04') AS y",
    ).head()
    assert (r["dow"], r["iso"], r["sec"], r["cen"], r["yw"], r["y"]) == (
        0, 7, 30, 21, 202053, 2021,
    )
    assert r["ep"] == 1625394030.123456 and r["us"] == 30123456


def test_xor_and_list_reduce_rewrites(spark):
    """Round 11: DuckDB xor(a,b) is bitwise (its ^ is power); list_reduce
    folds left with the first element as the initial accumulator."""
    from duckdb_parachute_spark import sqlx

    r = sqlx.sql(
        spark,
        "SELECT xor(5, 3) AS x, 2 ^ 3 AS pow,"
        " list_reduce([1, 2, 3], (a, b) -> a + b) AS lr,"
        " reduce([1, 2, 3, 4], (a, b) -> a * b) AS rd,"
        " array_reduce([5], (a, b) -> a + b) AS single,"
        " list_reduce(['x', 'y'], (a, b) -> a || b) AS cat",
    ).head()
    assert (r["x"], r["pow"], r["lr"], r["rd"], r["single"], r["cat"]) == (
        6, 8.0, 6, 24, 5, "xy",
    )


def test_function_gap_rewrites_match_duckdb(spark):
    """Round 11: the systematic function-gap batch — every spelling below
    runs through sqlx on Spark AND raw on DuckDB and must agree. Includes
    the silent-wrong-answer trap (DuckDB 1-arg log() is log10, Spark's is
    ln), arg-order swaps (trim family, list_prepend), the floored-mod fmod,
    banker's round_even → bround, epoch_ms/us/ns, the T[] array-type
    spelling, and the rename batch. Round 12 adds the JSON tail
    (json_structure/json_contains UDFs + json_transform -> from_json)."""
    from duckdb_parachute_spark.functions import register_udfs

    register_udfs(spark)
    import duckdb

    from duckdb_parachute_spark import sqlx

    con = duckdb.connect()
    cases = [
        "log(100.0)", "round(log(50.0), 8)", "log(2.0, 8.0)",
        "ltrim('xxay', 'x')", "rtrim('ayxx', 'x')", "trim('xayx', 'x')",
        "list_prepend(0, [1,2])", "list_slice([1,2,3,4], 2, 3)",
        "list_sum([1.5, 2.5])", "list_sum(CAST([] AS INT[]))",
        "list_avg([1, NULL, 2])", "list_unique([1,1,NULL,2])",
        "list_has_all([1,2,3],[2,3])", "list_has_all([1,2],[5])",
        "fdiv(-7.0, 2.0)", "fmod(-7.5, 2.0)", "fmod(7.5, -2.0)",
        "even(2.5)", "even(-2.5)", "even(0)",
        "isinf(1.0)", "isfinite(1.0)",
        "round_even(2.345, 2)", "roundbankers(2.665, 2)",
        "to_base(255, 16)",
        "dayname(DATE '2021-07-04')", "monthname(DATE '2021-07-04')",
        "epoch_ms(TIMESTAMP '2021-07-04 10:20:30.123')",
        "epoch_us(TIMESTAMP '2021-07-04 10:20:30.123456')",
        "epoch_ns(TIMESTAMP '2021-07-04 10:20:30.123456')",
        "format('{} x {}', 1, 'two')", "format('100% {}', 5)",
        "starts_with('hello', 'he')", "ends_with('hello', 'lo')",
        "printf('%d-%s', 7, 'x')", "to_hex(255)", "unicode('é')", "ord('Z')",
        "list_append([1,2], 3)", "list_min([3,1])", "list_max([3,1])",
        "array_length([1,2,3])", "list_concat([1],[2])",
        "list_has_any([1,2],[2,3])",
        "CAST([1,2] AS DOUBLE[])[1]", "CAST([[1],[2]] AS INT[][])[1][1]",
        "list_sum(list_slice([1,2,3,4], 2, 4))",
        # batch 3: first-match-only regexp_replace (DuckDB default!),
        # 0-based dayofweek/weekday function forms, map/struct accessors,
        # vector metrics, julian, PostgreSQL-origin time_bucket
        "regexp_replace('aaa', 'a', 'b')",
        "regexp_replace('aaa', 'a', 'b', 'g')",
        "regexp_replace('aAa', 'a', 'b', 'i')",
        "regexp_replace('aAa', 'a', 'b', 'ig')",
        "regexp_replace('cost: 4 dollars', '(\\d+) dollars', 'USD \\1')",
        "regexp_replace('banana', '^ba', 'X')",
        "dayofweek(DATE '2021-07-04')", "weekday(DATE '2021-07-05')",
        "isodow(DATE '2021-07-04')", "epoch(TIMESTAMP '2021-07-04 10:20:30.5')",
        "decade(DATE '2021-07-04')", "century(DATE '2021-07-04')",
        "yearweek(DATE '2021-01-01')", "week(DATE '2021-07-04')",
        "map_extract(MAP {'a': 5}, 'a')[1]",
        "array_length(map_extract(MAP {'a': 5}, 'zz'))",
        "struct_pack(a := 1, b := 'x').b",
        "struct_extract({'a': 7}, 'a')",
        "array_unique([1,1,NULL])", "array_distinct([1,1,NULL])[1]",
        "list_resize([1,2,3], 2)[2]", "array_length(list_resize([1], 0))",
        "list_where([1,2,3],[true,false,true])[2]",
        "list_select([10,20,30],[3,1])[1]",
        "julian(DATE '2021-07-04')", "julian(TIMESTAMP '2021-07-04 12:00:00')",
        "round(list_cosine_similarity([1.0,2.0],[2.0,1.0]), 10)",
        "list_inner_product([1.0,2.0],[3.0,4.0])",
        "list_distance([0.0,0.0],[3.0,4.0])",
        "time_bucket(INTERVAL 15 MINUTE, TIMESTAMP '2021-07-04 10:22:30')",
        "time_bucket(INTERVAL 2 DAY, TIMESTAMP '2021-07-04 10:22:30')",
        "time_bucket(INTERVAL 1 WEEK, TIMESTAMP '2021-07-08 10:22:30')",
        # round 12 (ADVICE r11): quoted interval spellings arrive masked
        "time_bucket(INTERVAL '2' DAY, TIMESTAMP '2021-07-04 10:22:30')",
        "time_bucket(INTERVAL '2 days', TIMESTAMP '2021-07-04 10:22:30')",
        "time_bucket(INTERVAL '90 minutes', TIMESTAMP '2021-07-04 10:22:30')",
        # list_distinct ORDER is unspecified in DuckDB — compare order-free
        "list_sum(list_distinct([1,1,NULL,3]))", "list_unique([1,1,NULL,3])",
        "list_value(1, 2)[1]", "array_value(7, 8)[2]",
    ]
    agg_rows = "(VALUES (1, 1.5), (2, -2.5), (3, 4.0), (4, 8.5), (5, NULL)) t(i, x)"
    agg_cases = [
        # round-12 aggregate sweep: the whole arg_max family SKIPS
        # NULL-arg rows (Spark's min_by/max_by return them); *_null
        # variants ARE Spark's semantics; listagg/group_concat default
        # separator is ',' (Spark listagg: ''); count_star spelling
        "arg_max(CASE WHEN x > 3 THEN NULL ELSE i END, x)",
        "max_by(CASE WHEN x > 3 THEN NULL ELSE i END, x)",
        "arg_min(CASE WHEN x < 0 THEN NULL ELSE i END, x)",
        "arg_max_null(CASE WHEN x > 3 THEN NULL ELSE i END, x)",
        "arg_max(i, x)", "argmin(i, x)",
        "listagg(i)", "group_concat(i)", "group_concat(i, '|')",
        "count_star()",
        # DuckDB skewness/kurtosis are SAMPLE-corrected (Spark: population);
        # kurtosis_pop == Spark's kurtosis bit-for-bit; product is a true
        # multiplication fold; ordered first/last -> min_by/max_by with
        # DuckDB's NULLS-LAST key handling
        "round(skewness(x), 10)", "round(kurtosis(x), 10)",
        "round(kurtosis_pop(x), 10)", "product(i)", "round(product(x), 10)",
        "product(i * 0)", "round(sem(x), 10)", "round(geomean(i), 10)",
        "favg(x)", "fsum(x)", "kahan_sum(x)",
        "first(i ORDER BY x)", "last(i ORDER BY x)",
        "first(i ORDER BY x DESC)", "last(i ORDER BY x DESC)",
    ]
    json_doc = """'{"a": 1, "b": [1, 2, 3], "c": {"d": "x"}}'"""
    json_cases = [
        # JSON family on Spark VARIANT: json_extract keeps JSON quoting
        # (to_json over variant_get), json_type maps schema_of_variant to
        # DuckDB's names incl. the UBIGINT/BIGINT sign split, CAST AS JSON
        # validates but preserves text verbatim
        f"json_valid({json_doc})", "json_valid('null')", "json_valid('oops')",
        f"json_extract({json_doc}, '$.c.d')",
        f"json_extract({json_doc}, '$.b[1]')",
        f"json_extract({json_doc}, '$.zz')",
        f"json_extract_string({json_doc}, '$.c.d')",
        f"json_keys({json_doc})[2]",
        f"json_array_length({json_doc}, '$.b')",
        f"json_type({json_doc})", "json_type('7')", "json_type('-7')",
        "json_type('1.5')", "json_type('\"s\"')", "json_type('null')",
        "json_object('k', 7)", "json_array(1, 2)",
        f"json({json_doc})", f"CAST({json_doc} AS JSON)", f"({json_doc}::JSON)",
        # round-12 JSON tail: structure inference lattice, recursive
        # containment (type-strict scalars), transform -> from_json (null
        # on cast failure; *_strict raises — tested separately), to_json
        # keeps null struct fields like DuckDB
        f"json_structure({json_doc})",
        "json_structure('{\"a\":1,\"e\":1.5,\"f\":true,\"g\":null}')",
        "json_structure('[{\"a\":1},{\"a\":2.5}]')", "json_structure('[1,\"x\"]')",
        "json_structure('{\"a\":[{\"b\":1},{\"c\":2}]}')",
        "json_structure('{\"a\":-1}')", "json_structure('{}')",
        "json_structure('[]')", "json_structure('[{},{\"a\":1}]')",
        "json_structure('{\"a\":[1,null,2]}')",
        "json_structure('{\"a\":18446744073709551615}')",
        "json_structure('{\"a\":18446744073709551616}')",
        "json_contains('{\"a\":1,\"b\":2}', '{\"a\":1}')",
        "json_contains('{\"a\":{\"b\":1},\"c\":2}', '{\"b\":1}')",
        "json_contains('[1,2,3]', '[3,1]')", "json_contains('[1,2,3]', '[]')",
        "json_contains('[[1,2]]', '[1]')", "json_contains('{\"a\":1}', '{\"a\":2}')",
        "json_contains('1', '1.0')", "json_contains('{\"a\":\"1\"}', '{\"a\":1}')",
        "json_contains('[{\"a\":1,\"b\":2}]', '{\"a\":1}')",
        "json_contains('[true,false]', 'true')", "json_contains('{\"a\":1}', 'true')",
        "json_contains('{\"a\":null}', '{\"a\":null}')",
        "to_json(json_transform('{\"a\":1,\"b\":\"x\"}', '{\"a\":\"DOUBLE\",\"b\":\"VARCHAR\"}'))",
        "to_json(json_transform('[{\"a\":1},{\"a\":2}]', '[{\"a\":\"BIGINT\"}]'))",
        "to_json(json_transform('{\"b\":2}', '{\"a\":\"BIGINT\"}'))",
        "to_json(json_transform('{\"a\":{\"b\":[1,2]}}', '{\"a\":{\"b\":[\"DOUBLE\"]}}'))",
        "to_json(from_json('{\"a\":7}', '{\"a\":\"BIGINT\"}'))",
        "json_transform('{\"a\":\"2021-01-02\"}', '{\"a\":\"DATE\"}').a",
        # RFC 7386 merge patch: null deletes, nested merges, non-object replaces
        "json_merge_patch('{\"a\":1,\"b\":2}', '{\"b\":null,\"c\":3}')",
        "json_merge_patch('{\"a\":{\"x\":1}}', '{\"a\":{\"y\":2}}')",
        "json_merge_patch('[1,2]', '{\"a\":1}')",
        "json_merge_patch('{\"a\":1}', 'null')",
    ]
    series_cases = [
        # scalar series lists (slice-guarded empties) + Euclid-fold gcd/lcm
        # + array slice/pop + prefix/suffix renames
        "range(5)[2]", "range(2, 6)[3]", "array_length(range(3, 3))",
        "array_length(generate_series(2, 1))", "generate_series(1, 7, 2)[3]",
        "gcd(12, 18)", "lcm(4, 6)", "gcd(-12, 18)", "gcd(0, 5)",
        "greatest_common_divisor(21, 6)", "least_common_multiple(21, 6)",
        "prefix('hello', 'he')", "suffix('hello', 'lo')",
        "array_slice([1,2,3,4], 2, 3)[1]",
        "array_pop_front([1,2,3])[1]", "array_pop_back([1,2,3])[2]",
        # list_aggregate dispatch + late aliases
        "list_aggregate([3,1], 'max')", "list_aggr([1.5,2.5], 'avg')",
        "list_aggregate([1,NULL,2], 'count')",
        "list_aggregate([NULL,7], 'first')", "list_aggregate([7,NULL], 'last')",
        "list_aggregate([NULL,7], 'any_value')",
        "apply([1,2], y -> y + 1)[2]", "array_indexof([1,2,3], 3)",
        "list_reverse([1,2,3])[1]", "array_has_all([1,2],[2])",
        "list_cat([1],[2])[2]", "strlen('héllo')",
        "list_any_value([NULL, 7])",
        # round-12 batch: map-only element_at (returns a LIST — Spark's
        # scalar would silently unwrap), char-set jaccard, TRUNC-to-1-dp
        # byte formatters (1048575 -> 1023.9 KiB, not 1024.0), path family,
        # base64/levenshtein/split renames
        "element_at(MAP {'a': 5}, 'a')[1]",
        "array_length(element_at(MAP {'a': 5}, 'zz'))",
        "map_keys(MAP {'a': 1, 'b': 2})[2]", "map_values(MAP {'a': 7})[1]",
        "cardinality(MAP {'a': 1, 'b': 2})",
        "round(jaccard('abc', 'abd'), 6)", "round(jaccard('Ab', 'ab'), 6)",
        "round(jaccard('aa', 'a'), 6)", "round(jaccard('héllo', 'hello'), 6)",
        "format_bytes(999)", "format_bytes(1024)", "format_bytes(1048575)",
        "format_bytes(-2048)", "format_bytes(1536)", "format_bytes(0)",
        "format_bytes(9000000000000000000)", "formatReadableSize(1536)",
        "formatReadableDecimalSize(999999)", "formatReadableDecimalSize(1000)",
        "formatReadableDecimalSize(-999999)",
        "parse_path('/a/b/c.txt')[1]", "parse_path('/a/b/c.txt')[4]",
        "parse_path('a/b/c.txt')[1]", "array_length(parse_path('//a//b'))",
        "parse_dirname('/a/b/c.txt')", "parse_dirname('c.txt')",
        "parse_dirpath('/a/b/c.txt')", "parse_dirpath('c.txt')",
        "parse_dirpath('a/b/')",
        "parse_filename('/a/b/c.txt')", "parse_filename('a/b/c.tar.gz', true)",
        "parse_filename('noslash', true)", "parse_filename('.bashrc', true)",
        "to_base64(BLOB 'ab')", "octet_length(from_base64('YWI='))",
        "editdist3('kitten', 'sitting')", "levenshtein('', 'abc')",
        "string_split_regex('a1b2c', '[0-9]')[2]",
        "array_length(string_split_regex('ab1', '[0-9]'))",
        "strpos('hello', 'll')", "strpos('hello', 'zz')",
        "like_escape('a%c', 'a$%c', '$')", "like_escape('abc', 'a$%c', '$')",
        "ilike_escape('A%C', 'a$%c', '$')",
        "not_like_escape('abc', 'a$%c', '$')",
        "regexp_escape('a.b*')", "regexp_escape('a b(c)[d]')",
        "regexp_matches('a.b', regexp_escape('a.b'))",
        "octet_length(encode('hé'))", "decode(encode('hé'))",
        # round-12 date batch: 3-arg date_sub counts COMPLETE units (1 where
        # date_diff says 2); date_add with INTERVAL returns TIMESTAMP;
        # century/decade/millennium interval constructors; tz constructor
        "date_sub('month', DATE '2021-01-15', DATE '2021-03-14')",
        "date_sub('day', DATE '2021-01-01', DATE '2021-03-05')",
        "date_sub('week', TIMESTAMP '2021-01-01 06:00:00', TIMESTAMP '2021-01-15 05:00:00')",
        "date_add(DATE '2021-01-01', INTERVAL 3 DAY)",
        "date_add(TIMESTAMP '2021-01-01 01:00:00', INTERVAL 90 MINUTE)",
        # CAST AS DATE both sides: DuckDB date+interval yields a midnight
        # TIMESTAMP where Spark keeps DATE — same instant, different repr
        "CAST(DATE '2020-01-01' + to_decades(1) AS DATE)",
        "CAST(DATE '2020-01-01' + to_centuries(1) AS DATE)",
        "CAST(DATE '2020-01-01' + to_millennia(1) AS DATE)",
        # tz-aware vs naive repr: compare through epoch seconds
        "epoch(make_timestamptz(2021, 1, 2, 3, 4, 5.5))",
        "generate_series(TIMESTAMP '2021-01-01', TIMESTAMP '2021-01-02', INTERVAL 8 HOUR)[2]",
        "CAST(generate_series(DATE '2021-01-01', DATE '2021-01-05', INTERVAL 2 DAY)[3] AS DATE)",
        # 3-arg range: end-EXCLUSIVE, signed step, typed empty on mismatch
        "range(5, 1, -2)", "range(0, 10, 3)", "array_length(range(1, 5, -1))",
        "array_length(range(1, 1, 1))",
        # 2-param lambdas are 1-BASED in DuckDB (Spark's are 0-based — the
        # zip_with rewrite keeps the user lambda text, shifts the index)
        "list_transform([10,20], (x, i) -> x + i)",
        "apply([10,20,30], (v, pos) -> v * pos)[3]",
        "list_filter([10,20,30], (x, i) -> i > 1)",
        "list_filter([5,6], (x, i) -> x + i > 6)",
        "array_length(list_filter(CAST([] AS INT[]), (x, i) -> i > 0))",
        "list_transform([7], x -> x + 1)[1]",
        # argsort: 1-based, NULLs last, stable ties
        "list_grade_up([30,10,20])", "list_grade_up([30,NULL,10])",
        "list_grade_up(['b','a','c'])", "list_grade_up([5,5,1])",
        "list_position([5,6,7], 7)", "list_pack(1, 2)[2]",
        "list_dot_product([1.0,2.0],[3.0,4.0])",
        # systematic-sweep batch: sha256, identity greatest/least, numeric
        # trunc toward zero, epoch-us make_timestamp, group-0 default for
        # regexp_extract_all (Spark defaults to group 1!), anchored
        # regexp_full_match, quarter intervals, arithmetic spellings,
        # seconds-inclusive ms/us function forms
        "sha256('abc')", "greatest(7)", "least('a')",
        "trunc(2.7)", "trunc(-2.7)", "trunc(7)",
        "make_timestamp(1700000000000000)",
        "regexp_extract_all('a1b2', '([a-z])[0-9]')[1]",
        "regexp_extract_all('a1b2', '([a-z])[0-9]', 1)[2]",
        "regexp_full_match('abc', 'a.c')", "regexp_full_match('abcd', 'a.c')",
        "CAST(DATE '2020-01-01' + to_quarters(3) AS DATE)",
        "add(2, 3)", "subtract(5, 2)", "multiply(3, 4)",
        "microsecond(TIMESTAMP '2021-07-04 10:20:30.123456')",
        "millisecond(TIMESTAMP '2021-07-04 10:20:30.123456')",
        # chr is a UNICODE codepoint in DuckDB; Spark's chr is ascii%256
        "chr(65)", "chr(233)", "chr(769)", "chr(128169)", "ascii(chr(960))",
        # negative counts drop from the OTHER end (Spark returns '')
        "left('hello', -2)", "right('hello', -2)", "left('hello', 2)",
        "right('hello', 2)", "left('ab', -5)", "right('ab', 5)",
        "left('hello', 0)", "right('hello', 0)",
    ]
    bad = []
    for c in cases + agg_cases + series_cases + json_cases:
        sql = f"SELECT {c} AS r" + (f" FROM {agg_rows}" if c in agg_cases else "")
        a = sqlx.sql(spark, sql).head()[0]
        b = con.sql(sql).fetchone()[0]
        # numeric results compare by value (duck HUGEINT/DECIMAL arrive as
        # int/Decimal where ours are BIGINT/DOUBLE — same number)
        from decimal import Decimal

        num = (int, float, Decimal)
        same = a == b or (
            isinstance(a, num)
            and isinstance(b, num)
            and not isinstance(a, bool)
            and not isinstance(b, bool)
            and float(a) == float(b)
        )
        if not same:
            bad.append((c, a, b))
    assert not bad, bad
    # loud, not silent: brace-spec formats and fixed-size array casts
    with pytest.raises(ValueError, match="plain"):
        sqlx.sql(spark, "SELECT format('{:d}', 1)")


def test_statement_surface_round11(spark, tmp_path):
    """Round 11: SET k TO v, SHOW <t> ≡ DESCRIBE, PRAGMA table_info/version/
    show_tables, CHECKPOINT/ANALYZE no-ops, TRUNCATE on temp and versioned
    tables (reference transform_show/pragma/checkpoint.cpp)."""
    from duckdb_parachute_spark import sqlx
    from duckdb_parachute_spark.operators.acid import VersionedTable

    spark.createDataFrame([(1, "x"), (2, "y")], "a int, b string").createOrReplaceTempView("st_t")
    r = sqlx.sql(spark, "SET threads TO 4").head()
    assert (r["setting"], r["value"]) == ("threads", "4")
    assert spark.conf.get("spark.sql.shuffle.partitions") == "4"
    spark.conf.set("spark.sql.shuffle.partitions", "32")
    # SHOW <t> = DESCRIBE <t>, DuckDB's six-column shape
    rows = sqlx.sql(spark, "SHOW st_t").collect()
    assert [(r["column_name"], r["column_type"]) for r in rows] == [
        ("a", "INTEGER"), ("b", "VARCHAR"),
    ]
    ti = sqlx.sql(spark, "PRAGMA table_info('st_t')").collect()
    assert [(r["cid"], r["name"], r["type"], r["notnull"], r["pk"]) for r in ti] == [
        (0, "a", "INTEGER", False, False), (1, "b", "VARCHAR", False, False),
    ]
    assert sqlx.sql(spark, "PRAGMA version").head()["library_version"].startswith("spark")
    assert "st_t" in {r["name"] for r in sqlx.sql(spark, "PRAGMA show_tables").collect()}
    with pytest.raises(ValueError, match="unsupported PRAGMA"):
        sqlx.sql(spark, "PRAGMA nope")
    sqlx.sql(spark, "CHECKPOINT")
    sqlx.sql(spark, "ANALYZE")
    # TRUNCATE a temp table: empty, schema intact
    sqlx.sql(spark, "TRUNCATE st_t")
    out = sqlx.sql(spark, "SELECT count(*) AS n FROM st_t").head()
    assert out["n"] == 0
    assert [f.name for f in spark.table("st_t").schema.fields] == ["a", "b"]
    # TRUNCATE a versioned table: one delete-all commit
    root = str(tmp_path / "tr")
    VersionedTable.create(
        spark, root, spark.range(5).selectExpr("id AS k", "id * 2 AS v")
    )
    sqlx.sql(spark, f"ATTACH '{root}' AS trv (TYPE VERSIONED)")
    try:
        r2 = sqlx.sql(spark, "TRUNCATE TABLE trv").head()
        assert r2["version"] == 1
        assert sqlx.sql(spark, "SELECT count(*) AS n FROM trv").head()["n"] == 0
        assert VersionedTable.open(spark, root).read().count() == 0
        # time travel still sees the pre-truncate rows
        assert sqlx.sql(spark, "SELECT count(*) AS n FROM trv AT (VERSION => 0)").head()["n"] == 5
    finally:
        sqlx.sql(spark, "DETACH trv")


def test_series_table_functions(spark):
    """Round 11: FROM generate_series / FROM range map to Spark's native
    lazy range() TVF (per-partition generation, no array materialization)
    with DuckDB's column names and inclusive/exclusive end semantics."""
    import duckdb

    from duckdb_parachute_spark import sqlx

    con = duckdb.connect()
    for q in [
        "SELECT i, i * 2 AS d FROM generate_series(0, 4) t(i) ORDER BY i",
        "SELECT * FROM generate_series(2, 10, 3) ORDER BY 1",
        "SELECT * FROM generate_series(5, 1, -2) ORDER BY 1",
        "SELECT * FROM range(3) ORDER BY 1",
        "SELECT * FROM range(1, 7, 2) t(v) ORDER BY v",
        "SELECT sum(g.i) AS s FROM generate_series(1, 100) g(i)",
        "SELECT u AS v FROM unnest([4, 5]) t(u) ORDER BY v",
        "SELECT sum(x) AS s FROM unnest([1, 2, 3]) t(x)",
        "SELECT TIMESTAMP '2021-01-01 00:00:00' + to_hours(5) AS r",
        "SELECT TIMESTAMP '2021-01-01 00:00:00' + to_months(2) AS r",
        "SELECT TIMESTAMP '2021-01-01 00:00:00' + to_milliseconds(1500) AS r",
        "SELECT mismatches('abc', 'abd') AS r",
        "SELECT hamming('karolin', 'kathrin') AS r",
        "SELECT try_strptime('2021-07-04', '%Y-%m-%d') AS r",
        "SELECT try_strptime('bogus', '%Y-%m-%d') AS r",
    ]:
        a = [tuple(r) for r in sqlx.sql(spark, q).collect()]
        b = con.sql(q).fetchall()
        assert a == b, (q, a, b)
    # the plan is Spark's native Range source — no exploded array scan
    plan = sqlx.sql(spark, "SELECT * FROM generate_series(1, 10)")._jdf.queryExecution().executedPlan().toString()
    assert "Range (" in plan, plan


def test_json_transform_strict_and_pretty(spark):
    """Round 12: json_transform_strict raises on a failed cast (DuckDB
    Invalid Input Error -> Spark FAILFAST), non-strict NULLs the field;
    json_pretty pins the documented DuckDB (>=1.1 — the container oracle
    is 1.0.0, so unit-pinned) yyjson 4-space format."""
    import pytest

    from duckdb_parachute_spark import sqlx
    from duckdb_parachute_spark.functions import register_udfs
    from duckdb_parachute_spark.functions.jsonfns import json_pretty_py

    register_udfs(spark)
    ok = sqlx.sql(
        spark, """SELECT json_transform('{"a":"zz"}', '{"a":"BIGINT"}').a AS r"""
    ).head()[0]
    assert ok is None
    with pytest.raises(Exception, match="MALFORMED_RECORD|FAILFAST|Malformed"):
        sqlx.sql(
            spark,
            """SELECT json_transform_strict('{"a":"zz"}', '{"a":"BIGINT"}').a AS r""",
        ).collect()
    assert json_pretty_py('{"a":[1,2],"b":"x"}') == (
        '{\n    "a": [\n        1,\n        2\n    ],\n    "b": "x"\n}'
    )
    assert (
        sqlx.sql(spark, """SELECT json_pretty('{"a":1}') AS r""").head()[0]
        == '{\n    "a": 1\n}'
    )
    # unsupported structure slot raises loudly, not silently
    with pytest.raises(ValueError, match="unsupported structure"):
        sqlx.sql(spark, """SELECT json_transform('{"a":1}', '{"a":"JSON"}') AS r""")


def test_udf_registered_metrics_match_duckdb(spark):
    """Round 12: the registered-UDF surface (jaro_similarity /
    jaro_winkler_similarity / damerau_levenshtein / nfc_normalize) vs the
    real DuckDB implementations."""
    import duckdb

    from duckdb_parachute_spark import sqlx
    from duckdb_parachute_spark.functions import register_udfs

    register_udfs(spark)
    con = duckdb.connect()
    cases = [
        "round(jaro_similarity('martha', 'marhta'), 10)",
        "round(jaro_similarity('abc', 'xyz'), 10)",
        "round(jaro_winkler_similarity('martha', 'marhta'), 10)",
        "damerau_levenshtein('ca', 'abc')",
        "nfc_normalize('e' || chr(769))",  # e + combining acute -> é
        "length(nfc_normalize('e' || chr(769)))",
    ]
    for c in cases:
        a = sqlx.sql(spark, f"SELECT {c} AS r").head()[0]
        b = con.sql(f"SELECT {c} AS r").fetchone()[0]
        assert a == b, (c, a, b)


def test_order_by_default_nulls_match_duckdb(spark):
    """Round 12 (found by the window sweep): DuckDB's default null order is
    NULLS LAST in BOTH directions; Spark's is NULLS FIRST on ASC. Every
    transpiled ORDER BY item without explicit NULLS must get NULLS LAST —
    top-level, window OVER, and the distribution functions whose VALUES
    depend on null placement (cume_dist / percent_rank / row_number)."""
    import duckdb

    from duckdb_parachute_spark import sqlx

    con = duckdb.connect()
    tbl = "(VALUES (1, 1.5), (2, -2.5), (3, 4.0), (4, CAST(NULL AS DOUBLE))) v(i, x)"
    queries = [
        f"SELECT i FROM {tbl} ORDER BY x",
        f"SELECT i FROM {tbl} ORDER BY x DESC",
        f"SELECT i, rank() OVER (ORDER BY x) AS rnk FROM {tbl} ORDER BY i",
        f"SELECT i, rank() OVER (ORDER BY x DESC) AS rnk FROM {tbl} ORDER BY i",
        f"SELECT i, round(cume_dist() OVER (ORDER BY x), 6) AS cd FROM {tbl} ORDER BY i",
        f"SELECT i, round(percent_rank() OVER (ORDER BY x), 6) AS pr FROM {tbl} ORDER BY i",
        f"SELECT i, row_number() OVER (ORDER BY x) AS rn FROM {tbl} ORDER BY i",
        f"SELECT i, lead(i) OVER (ORDER BY x) AS nxt FROM {tbl} ORDER BY i",
        f"SELECT i, sum(i) OVER (ORDER BY x ROWS BETWEEN UNBOUNDED PRECEDING "
        f"AND CURRENT ROW) AS cum FROM {tbl} ORDER BY i",
        # explicit NULLS FIRST must survive untouched
        f"SELECT i FROM {tbl} ORDER BY x NULLS FIRST",
    ]
    for q in queries:
        a = [tuple(r) for r in sqlx.sql(spark, q).collect()]
        b = [tuple(r) for r in con.sql(q).fetchall()]
        assert a == b, (q, a, b)


def test_at_time_zone_conversions(spark):
    """Round 13: AT TIME ZONE / timezone() (reference extension/icu/
    icu_extension.cpp:213,383) — naive wall AT tz -> instant; instant AT
    tz -> naive wall; 1-arg timezone = offset part. All spellings pinned
    against DuckDB on the same values."""
    from duckdb_parachute_spark import sqlx
    import duckdb

    q = (
        "SELECT (TIMESTAMP '2021-06-01 12:00:00' AT TIME ZONE 'Asia/Tokyo')"
        " AT TIME ZONE 'UTC' AS rt,"
        " TIMESTAMPTZ '2021-06-01 05:00:00-07' AT TIME ZONE 'Europe/Berlin' AS berlin,"
        " timezone('America/New_York', timezone('UTC', TIMESTAMP '2021-11-07 05:30:00')) AS dst_edge,"
        " CAST(timezone(TIMESTAMP '2021-06-01 12:00:00') AS BIGINT) AS naive_off"
    )
    a = tuple(sqlx.sql(spark, q).collect()[0])
    b = duckdb.sql(q).fetchone()
    assert a == tuple(b)
    # instant kind tracked through a chain: roundtrip restores the wall
    assert str(a[0]) == "2021-06-01 03:00:00"


def test_at_time_zone_session_independent(spark):
    """The emitted convert_timezone spellings read current_timezone() —
    the same instant/wall comes back under ANY session timezone (the
    driver runs a vanilla session; ours pins UTC)."""
    from duckdb_parachute_spark import sqlx

    q = (
        "SELECT unix_timestamp(TIMESTAMP '2021-06-01 12:00:00' AT TIME ZONE 'Asia/Tokyo') AS e,"
        " TIMESTAMPTZ '2021-06-01 12:00:00+00' AT TIME ZONE 'Asia/Tokyo' AS w"
    )
    old = spark.conf.get("spark.sql.session.timeZone")
    try:
        got = []
        for tz in ("UTC", "America/Los_Angeles", "Asia/Kolkata"):
            spark.conf.set("spark.sql.session.timeZone", tz)
            r = sqlx.sql(spark, q).collect()[0]
            got.append((r["e"], str(r["w"])))
    finally:
        spark.conf.set("spark.sql.session.timeZone", old)
    assert got == [(1622516400, "2021-06-01 21:00:00")] * 3


def test_at_time_zone_ambiguous_raises():
    """timezone() buried inside a non-timezone expression: the operand's
    naive-vs-instant kind is unknowable at the token layer -> loud."""
    from duckdb_parachute_spark import sqlx
    import pytest as _pytest

    with _pytest.raises(NotImplementedError, match="naive-vs-instant"):
        sqlx.transpile("SELECT coalesce(timezone('UTC', ts), x) AT TIME ZONE 'UTC' FROM t")


def test_bitstring_family(spark):
    """Round 13 (VERDICT r12 missing #4): BIT type as its '0'/'1' digit
    string — literals validate, get_bit/set_bit 0-based, bit_position
    1-based, bitstring widens (and raises when the input is longer, as
    DuckDB does), bit_count masks to the integer TYPE's width
    (bit_count(-1::TINYINT) = 8, not Spark's promoted 64), int::BIT is
    the type-width two's complement. All pinned against DuckDB."""
    from duckdb_parachute_spark import sqlx
    import duckdb

    q = (
        "SELECT get_bit(BIT '0110010', 2) AS gb,"
        " set_bit(BIT '0110010', 5, 1)::VARCHAR AS sb,"
        " bit_position(BIT '010', BIT '1110101') AS bp,"
        " bitstring('0101011', 12)::VARCHAR AS bs,"
        " bit_count(BIT '0101011') AS bc,"
        " CAST(bit_count(CAST(-1 AS TINYINT)) AS BIGINT) AS bcn,"
        " 123::BIT::VARCHAR AS ib,"
        " '0101011'::BIT::VARCHAR AS vb"
    )
    a = tuple(sqlx.sql(spark, q).collect()[0])
    assert a == tuple(duckdb.sql(q).fetchone())
    # bitstring_agg over an explicit range, vs DuckDB on the same rows
    q2 = (
        "SELECT bitstring_agg(x, 0, 10)::VARCHAR AS bits "
        "FROM (VALUES (3),(5),(6)) t(x)"
    )
    spark.sql("CREATE OR REPLACE TEMP VIEW bits_t AS SELECT * FROM VALUES (3),(5),(6) t(x)")
    got = sqlx.sql(spark, "SELECT bitstring_agg(x, 0, 10)::VARCHAR AS bits FROM bits_t").collect()[0][0]
    assert got == duckdb.sql(q2).fetchone()[0] == "00010110000"
    with pytest.raises(ValueError, match="only contain 0/1"):
        sqlx.transpile("SELECT BIT '0102'")
    with pytest.raises(NotImplementedError, match="explicit .min, max."):
        sqlx.transpile("SELECT bitstring_agg(x) FROM t")


def test_root_collation_locales(spark):
    """Round 13 (VERDICT r12 missing #3): untailored locales resolve to
    the measured ICU ROOT spec — accent secondary order, ligature
    expansion, þ as a full letter, lower-first case. Spot-pin one ordering
    per family against DuckDB's ICU; the property suite deep-runs pt/nl/id."""
    from pyspark.sql import functions as F
    import duckdb

    from duckdb_parachute_spark.functions.collate import locale_collation_key

    words = ["ax", "áx", "àx", "âx", "ãx", "äx", "aX", "Ax", "çx", "cx",
             "aex", "æx", "afx", "ssx", "ßx", "sx", "ox", "øx", "ōx",
             "zx", "þx", "dx", "đx", "ðx", "ex"]
    vals = ",".join(f"('{w}')" for w in words)
    want = [r[0] for r in duckdb.sql(
        f"SELECT w FROM (VALUES {vals}) t(w) ORDER BY w COLLATE pt, hex(w)"
    ).fetchall()]
    df = spark.createDataFrame([(w,) for w in words], "w string")
    for loc in ("pt", "nl", "id", "en", "fr", "gl", "af", "fil", "ga"):
        got = [r[0] for r in df.orderBy(
            locale_collation_key("w", loc), F.encode("w", "utf-8")
        ).collect()]
        assert got == want, loc
    with pytest.raises(ValueError, match="unsupported collation"):
        from duckdb_parachute_spark.functions.collate import collation_key
        collation_key(F.col("w"), "az")  # CLDR-tailored, unmeasured: still loud


def test_age_calendar_interval(spark):
    """Round 13: age() — Postgres fieldwise calendar diff with borrows
    (negative time borrows a day; negative day borrows the EARLIER
    timestamp's month length; components carry the sign). Fields pinned
    against DuckDB; the interval composes with timestamp arithmetic."""
    from duckdb_parachute_spark import sqlx
    import duckdb

    q = (
        "SELECT CAST(extract(YEAR FROM age(TIMESTAMP '2001-04-10 12:30:15', TIMESTAMP '1957-06-13 10:00:05')) AS BIGINT) AS y,"
        " CAST(extract(MONTH FROM age(TIMESTAMP '2001-04-10 12:30:15', TIMESTAMP '1957-06-13 10:00:05')) AS BIGINT) AS m,"
        " CAST(extract(DAY FROM age(TIMESTAMP '2001-04-10 12:30:15', TIMESTAMP '1957-06-13 10:00:05')) AS BIGINT) AS d,"
        " CAST(extract(HOUR FROM age(TIMESTAMP '2001-04-10 12:30:15', TIMESTAMP '1957-06-13 10:00:05')) AS BIGINT) AS h,"
        " CAST(extract(MONTH FROM age(TIMESTAMP '2001-04-10', TIMESTAMP '2001-06-13')) AS BIGINT) AS negm,"
        " CAST(extract(DAY FROM age(TIMESTAMP '2001-04-10', TIMESTAMP '2001-06-13')) AS BIGINT) AS negd,"
        " CAST(extract(MONTH FROM age(TIMESTAMP '2000-03-01', TIMESTAMP '2000-01-31')) AS BIGINT) AS bm,"
        " CAST(extract(DAY FROM age(TIMESTAMP '2000-03-01', TIMESTAMP '2000-01-31')) AS BIGINT) AS bd,"
        " CAST(extract(DAY FROM age(TIMESTAMP '2000-03-31', TIMESTAMP '2000-01-31 01:02:03.004005')) AS BIGINT) AS tbd,"
        " CAST(extract(HOUR FROM age(TIMESTAMP '2000-03-31', TIMESTAMP '2000-01-31 01:02:03.004005')) AS BIGINT) AS tbh"
    )
    a = tuple(sqlx.sql(spark, q).collect()[0])
    assert a == tuple(duckdb.sql(q).fetchone()) == (43, 9, 27, 2, -2, -3, 1, 1, 30, 22)
    # interval arithmetic composes — NOT an exact inverse (the borrow used
    # the earlier month's length; addition crosses different months), and
    # both engines agree on the same off-by-the-borrow instant
    rt_q = (
        "SELECT TIMESTAMP '1957-06-13 10:00:05' "
        "+ age(TIMESTAMP '2001-04-10 12:30:15', TIMESTAMP '1957-06-13 10:00:05') AS rt"
    )
    r = sqlx.sql(spark, rt_q).collect()[0][0]
    assert r == duckdb.sql(rt_q).fetchone()[0]
    assert str(r) == "2001-04-09 12:30:15"


def test_fn_gaps3_signbit_grapheme_md5number(spark):
    """Round 13: signbit (= x < 0 vs this oracle, incl. -inf/nan/-0.0),
    grapheme family via Java regex \\X (clusters match utf8proc), and
    md5_number_lower/upper (LE uint64 digest halves) — value-pinned
    against DuckDB; 128-bit md5_number raises loudly."""
    from duckdb_parachute_spark import sqlx
    import duckdb

    q = (
        "SELECT signbit(-1.5) AS s1, signbit(0.0) AS s2,"
        " signbit('-inf'::DOUBLE) AS s3, signbit('nan'::DOUBLE) AS s4,"
        " length_grapheme('ạ̇xé🇩🇪') AS lg,"
        " substring_grapheme('🤦🏼‍♂️test', 2, 3) AS sg3,"
        " substring_grapheme('🤦🏼‍♂️test', 2) AS sg2,"
        " CAST(md5_number_lower('abc') AS VARCHAR) AS ml,"
        " CAST(md5_number_upper('abc') AS VARCHAR) AS mu"
    )
    a = tuple(sqlx.sql(spark, q).collect()[0])
    assert a == tuple(duckdb.sql(q).fetchone())
    assert (a[4], a[7]) == (4, "8250560606382298838")
    with pytest.raises(NotImplementedError, match="128-bit"):
        sqlx.transpile("SELECT md5_number('abc')")


def test_at_time_zone_dst_edges(spark):
    """Round 13 follow-up (caught by the new timezone property test's
    probe): AMBIGUOUS fall-back walls resolve to the EARLIER instant in
    Spark but the LATER in ICU/DuckDB (measured NY, Sydney, Berlin,
    Chatham) — the emission recovers ICU's pick via the wall-24h-ahead
    candidate, guarded to leave unambiguous and NONEXISTENT (spring-gap)
    walls on Spark's already-matching instant."""
    from duckdb_parachute_spark import sqlx
    import duckdb

    q = (
        "SELECT (TIMESTAMP '2021-03-14 02:30:00' AT TIME ZONE 'America/New_York') AT TIME ZONE 'UTC' AS spring,"
        " (TIMESTAMP '2021-11-07 01:30:00' AT TIME ZONE 'America/New_York') AT TIME ZONE 'UTC' AS fall,"
        " (TIMESTAMP '2021-04-04 02:30:00' AT TIME ZONE 'Australia/Sydney') AT TIME ZONE 'UTC' AS syd,"
        " (TIMESTAMP '2021-04-04 03:15:00' AT TIME ZONE 'Pacific/Chatham') AT TIME ZONE 'UTC' AS cha,"
        " (TIMESTAMP '2021-10-31 02:30:00' AT TIME ZONE 'Europe/Berlin') AT TIME ZONE 'UTC' AS ber,"
        " timezone('UTC', timezone('America/New_York', TIMESTAMP '2021-11-07 01:30:00')) AS fn_fall"
    )
    a = tuple(sqlx.sql(spark, q).collect()[0])
    assert a == tuple(duckdb.sql(q).fetchone())
    assert str(a[1]) == "2021-11-07 06:30:00"  # LATER occurrence (EST), not Spark's 05:30


def test_fn_gaps4_round13_extended_sweep(spark):
    """Round 13: the extended cross-engine sweep batch (list/map/temporal
    arg shapes the r12 sweep skipped) — every spelling runs through sqlx
    on Spark AND raw on DuckDB and must agree. Silent-wrong-answer traps
    pinned here: divide() is `//` (int division for ints, PLAIN division
    for fractional); bin/to_binary are bit STRINGS (Spark's to_binary is
    hex-decode); strptime with no year directive defaults to 1900 (vs
    Spark's 1970); json paths accept bare keys with spaces / int indexes /
    pointer / list forms; bit ops are per-digit over BIT; regexp_escape
    leaves non-ASCII alone; typeof prints DuckDB spellings."""
    import duckdb

    from duckdb_parachute_spark import sqlx

    con = duckdb.connect()
    cases = [
        # bit ops (digit-string BIT; ~ flips, lengths must match)
        "xor(BIT '0110', BIT '0101')::VARCHAR", "(~(BIT '0110'))::VARCHAR",
        "(BIT '0110' & BIT '0101')::VARCHAR", "(BIT '0110' | BIT '0101')::VARCHAR",
        "((5)::INTEGER::BIT & (3)::INTEGER::BIT)::VARCHAR",
        "bit_length(BIT '0110010')", "octet_length(BIT '011001001')",
        "bit_length((BIT '0101'))", "octet_length((BIT '011001001'))",
        "xor((BIT '01'), (BIT '11'))::VARCHAR",
        "bit_length('abc')", "(5 & 3)", "(5 | 3)",
        # arithmetic spellings
        "@(-2.5)", "@ -3", "add(7)", "subtract(7)",
        "CAST(divide(7, 2) AS DOUBLE)", "CAST(divide(-7, 2) AS DOUBLE)",
        "CAST(divide(7.0, 2) AS DOUBLE)", "CAST(divide(2.5, 2.5) AS DOUBLE)",
        "subtract(DATE '2021-03-16', DATE '2021-03-14')",
        # bin / to_base
        "bin('abc')", "to_binary(7)", "bin(-7)", "bin(-7::TINYINT)",
        "to_base(7, 7, 7)", "to_base(255, 16, 1)",
        # list ops
        "array_to_string(grade_up([3,1,2]), ',')",
        "array_to_string(array_select([10,20,30], [3,1]), ',')",
        "array_length(array_select([10,20,30], [0]))",
        "array_to_string(array_where([10,20,30], [true,false,true]), ',')",
        "array_to_string(array_where([10], [true,true]), ',')",
        "len([1,2,3])", "length(['a','b'])", "len('abc')",
        "array_to_string(generate_series(4), ',')",
        # UDF-backed gaps (auto-registered by sqlx.sql)
        "strip_accents('héLlo Wörld æß')",
        "damerau_levenshtein('ca', 'abc')", "damerau_levenshtein('abcd', 'acbd')",
        "nextafter(1.0, 2.0)", "round(gamma(2.5), 10)", "round(lgamma(2.5), 10)",
        "gamma(7)",
        # graphemes
        "right_grapheme('héLlo', 3)", "left_grapheme('héLlo', 3)",
        "right_grapheme('héLlo', 9)", "right_grapheme('héLlo', 0)",
        # temporal tail
        "strftime('%Y-%m', DATE '2021-03-14')",
        "CAST(strptime('03-14', '%m-%d') AS VARCHAR)",
        "CAST(CAST(try_strptime('2021x03', ['%Y-%m', '%Yx%m']) AS TIMESTAMP) AS VARCHAR)",
        "CAST(try_strptime('nope', ['%Y-%m']) AS TIMESTAMP)",
        "timezone_hour(TIMESTAMP '2021-03-14 05:06:07')",
        "timezone_minute(TIMESTAMP '2021-03-14 05:06:07')",
        "CAST(epoch(INTERVAL '1 month 2 days 3 hours') AS DOUBLE)",
        "year(INTERVAL '26 months')", "month(INTERVAL '26 months')",
        "day(INTERVAL '400 days')", "hour(INTERVAL '25 hours')",
        "epoch_ms(INTERVAL '1 month')", "year(DATE '2021-05-01')",
        "array_to_string(list_transform(range(TIMESTAMP '2021-01-01', TIMESTAMP '2021-01-04', INTERVAL '1 day'), t -> CAST(epoch(t) AS BIGINT)), ',')",
        "array_to_string(list_transform(generate_series(TIMESTAMP '2021-01-01', TIMESTAMP '2021-01-04', INTERVAL '1 day'), t -> CAST(epoch(t) AS BIGINT)), ',')",
        "CAST(epoch_ms(7) AS VARCHAR)",
        # system surface
        "constant_or_null(42, 1)", "constant_or_null(42, NULL)",
        "array_to_string(current_schemas(true), ',')",
        "array_length(current_schemas(false))",
        "array_to_string(unpivot_list('a','b'), ',')",
        # typeof with DuckDB spellings
        "typeof(1)", "typeof('x')", "typeof(1.5)", "typeof([1,2])",
        "typeof(DATE '2021-01-01')",
        # json path forms
        "json_extract('{\"my key\":5}', 'my key')",
        "json_extract('[10,20,30]', 1)",
        "array_to_string(json_extract('{\"a\":{\"b\":2}}', ['a','$.a.b']), ',')",
        "json_extract_string('{\"my key\":5}', 'my key')",
        "json_extract('{\"a\":1}', '/a')",
        "json_array_length('{\"a\":1}')", "json_array_length('[1,2,3]')",
        "json_array_length(NULL)", "json_object()",
        "CAST(json_array_length('[[1,2],[3]]', '$[0]') AS BIGINT)",
        # blob repeat + regexp_escape ASCII rule
        "repeat('ab'::BLOB, 3)::VARCHAR",
        "regexp_escape('héLlo (W)orld')",
    ]
    bad = []
    from decimal import Decimal

    for c in cases:
        sql = f"SELECT {c} AS r"
        a = sqlx.sql(spark, sql).head()[0]
        b = con.sql(sql).fetchone()[0]
        num = (int, float, Decimal)
        same = a == b or (
            isinstance(a, num)
            and isinstance(b, num)
            and not isinstance(a, bool)
            and not isinstance(b, bool)
            and float(a) == float(b)
        )
        if not same:
            bad.append((c, a, b))
    assert not bad, bad
    # error fidelity: mismatched BIT lengths raise in both engines
    with pytest.raises(Exception, match="different sizes"):
        sqlx.sql(spark, "SELECT xor(BIT '0110', BIT '01011') AS r").collect()


def test_holistic_aggregates_round13(spark):
    """Round 13 aggregate-registry sweep catches: DuckDB's list()/
    array_agg() KEEP NULL elements (collect_list drops them — struct-wrap
    emit); median over DECIMAL is the DISCRETE lower-middle element at
    every width while DOUBLE/int interpolate; quantile_cont truncates
    DECIMAL results to the source scale toward zero; quantile_disc works
    for every orderable type (the old percentile_disc spelling was
    numeric-only) and supports FILTER and the list-of-quantiles form;
    entropy (log2, 0.0 on empty), histogram (sorted-key MAP), mad
    (interpolating median of absolute deviations) are implemented;
    corr/regr_slope/regr_intercept/regr_r2 return NULL on zero-variance
    groups instead of Spark's ANSI DIVIDE_BY_ZERO, pair-filtered like
    DuckDB via the regr_s* co-moments."""
    import duckdb

    from duckdb_parachute_spark import sqlx

    con = duckdb.connect()
    rows = (
        "(VALUES (1, 1.5, 'a', DATE '2021-01-02'), (2, -2.5, 'bb', DATE '2021-03-04'), "
        "(3, 4.0, 'a', DATE '2021-01-02'), (4, NULL, NULL, NULL), "
        "(5, 8.5, 'cc', DATE '2022-05-06')) t(i, x, s, d)"
    )
    cases = [
        "array_to_string(list_transform(list(x), e -> coalesce(CAST(e AS VARCHAR), 'N')), ',')",
        "array_to_string(list_transform(array_agg(s), e -> coalesce(e, 'N')), ',')",
        "array_to_string(list(x ORDER BY x DESC), ',')",
        "array_to_string(list(i ORDER BY s), ',')",
        "array_to_string(list(x) FILTER (WHERE i != 3), ',')",
        "array_to_string(list(i ORDER BY x DESC) FILTER (WHERE i < 4), ',')",
        "CAST(count() AS BIGINT)",
        "corr(x, x * 0 + 1.0)",
        "round(corr(x::DOUBLE, (x*2)::DOUBLE), 8)",
        "round(corr(i::DOUBLE, coalesce(x, 0)::DOUBLE), 8)",
        "regr_slope(x::DOUBLE, x*0+1.0)",
        "round(regr_slope((x*2)::DOUBLE, x::DOUBLE), 8)",
        "regr_r2(x::DOUBLE, x*0+1.0)", "regr_r2(x*0+1.0, x::DOUBLE)",
        "round(regr_r2((x*2+1)::DOUBLE, x::DOUBLE), 8)",
        "round(regr_intercept((x*2+1)::DOUBLE, x::DOUBLE), 8)",
        "round(entropy(s), 8)", "round(entropy(i), 8)", "round(entropy(x), 8)",
        "CAST(mad(x) AS DOUBLE)", "CAST(mad(x::DOUBLE) AS DOUBLE)",
        "CAST(mad(i) AS DOUBLE)",
        "CAST(median(x) AS DOUBLE)", "CAST(median(x::DOUBLE) AS DOUBLE)",
        "CAST(median(i) AS DOUBLE)",
        "CAST(quantile_cont(x, 0.5) AS DOUBLE)",
        "CAST(quantile_cont(x::DOUBLE, 0.5) AS DOUBLE)",
        "CAST(quantile_disc(x, 0.25) AS DOUBLE)",
        "quantile_disc(s, 0.5)", "quantile_disc(d, 0.5)",
        "CAST(quantile(x, 0.5) AS DOUBLE)",
        "array_to_string(list_transform(quantile_disc(x, [0.25, 0.5, 0.75]), e -> e::VARCHAR), ',')",
        "CAST(quantile_disc(x, 0.5) FILTER (WHERE x > 0) AS DOUBLE)",
        "CAST(quantile(i, 0.25) FILTER (WHERE i != 2) AS DOUBLE)",
        "map_keys(histogram(s))[1]",
        "CAST(map_values(histogram(i))[1] AS BIGINT)",
        "CAST(cardinality(histogram(s)) AS BIGINT)",
    ]
    # WINDOW position (round 13: DuckDB admits every aggregate under OVER
    # — the compound emissions attach the window to their inner
    # collect_list/percentile/any_value calls)
    window_cases = [
        "CAST(median(x::DOUBLE) OVER (PARTITION BY i % 2) AS DOUBLE)",
        "CAST(quantile_disc(x, 0.5) OVER (PARTITION BY i % 2) AS DOUBLE)",
        "round(entropy(s) OVER (PARTITION BY i % 2), 8)",
        "CAST(mad(x::DOUBLE) OVER (PARTITION BY i % 2) AS DOUBLE)",
        "CAST(quantile_cont(x, 0.25) OVER (PARTITION BY i % 2) AS DOUBLE)",
        "CAST(cardinality(histogram(s) OVER (PARTITION BY i % 2)) AS BIGINT)",
    ]
    from decimal import Decimal

    num = (int, float, Decimal)

    def same(a, b):
        return a == b or (
            isinstance(a, num) and isinstance(b, num)
            and not isinstance(a, bool) and not isinstance(b, bool)
            and float(a) == float(b)
        )

    bad = []
    for c in cases:
        sql = f"SELECT {c} AS r FROM {rows}"
        a = sqlx.sql(spark, sql).head()[0]
        b = con.sql(sql).fetchone()[0]
        if not same(a, b):
            bad.append((c, a, b))
    for c in window_cases:
        sql = f"SELECT {c} AS r FROM {rows} ORDER BY coalesce(r, -1e18), i"
        av = [r[0] for r in sqlx.sql(spark, sql).collect()]
        bv = [r[0] for r in con.sql(sql).fetchall()]
        if len(av) != len(bv) or not all(same(x, y) for x, y in zip(av, bv)):
            bad.append((c, av, bv))
    assert not bad, bad


def test_time_type_round13(spark):
    """Round 13 TIME family (SURVEY §1.2: BIGINT micros-since-midnight —
    Spark 4.1 parses TIME literals into a type it rejects). Measured:
    ± INTERVAL wraps modulo 24 h (calendar components drop — '+1 day' is
    a no-op), ::VARCHAR renders HH:MM:SS with trailing fraction zeros
    TRIMMED, second() truncates while millisecond/microsecond INCLUDE
    seconds, epoch is a DOUBLE second count, make_time takes DECIMAL
    seconds, ts::TIME takes time-of-day, strings parse, DATE + TIME is a
    TIMESTAMP in either order, and comparisons ride the BIGINT."""
    import duckdb

    from duckdb_parachute_spark import sqlx

    con = duckdb.connect()
    cases = [
        "(TIME '11:22:33')::VARCHAR", "(TIME '11:22:33.100000')::VARCHAR",
        "(TIME '11:22:33.123456')::VARCHAR",
        "(TIME '23:00:00' + INTERVAL '2 hours')::VARCHAR",
        "(TIME '01:00:00' - INTERVAL '2 hours')::VARCHAR",
        "(TIME '11:22:33' + INTERVAL '1 day')::VARCHAR",
        "hour(TIME '11:22:33')", "minute(TIME '11:22:33')",
        "second(TIME '11:22:33.5')",
        "epoch(TIME '11:22:33')", "epoch_ms(TIME '11:22:33.123')",
        "millisecond(TIME '11:22:33.123456')",
        "microsecond(TIME '11:22:33.123456')",
        "(make_time(7, 8, 9.5))::VARCHAR",
        "TIME '11:22:33' < TIME '11:22:34'",
        "('11:22:33'::TIME)::VARCHAR",
        "((TIMESTAMP '2021-03-14 05:06:07.25')::TIME)::VARCHAR",
        "CAST(DATE '2021-01-02' + TIME '11:22:33' AS VARCHAR)",
        "CAST(TIME '11:22:33' + DATE '2021-01-02' AS VARCHAR)",
        "TIME '11:22:33' = '11:22:33'::TIME",
        "(greatest(TIME '11:22:33', TIME '12:00:00') = TIME '12:00:00')",
        "typeof(TIME '11:22:33')",
        "CAST('05:06:07' AS TIME)::VARCHAR",
    ]
    from decimal import Decimal

    bad = []
    for c in cases:
        sql = f"SELECT {c} AS r"
        a = sqlx.sql(spark, sql).head()[0]
        b = con.sql(sql).fetchone()[0]
        num = (int, float, Decimal)
        same = a == b or (
            isinstance(a, num) and isinstance(b, num)
            and not isinstance(a, bool) and not isinstance(b, bool)
            and float(a) == float(b)
        )
        if not same:
            bad.append((c, a, b))
    assert not bad, bad
    # one-level kind tracking: rendering an expression that merely
    # CONTAINS a time raises instead of printing the raw micros
    with pytest.raises(NotImplementedError, match="one level"):
        sqlx.transpile("SELECT greatest(TIME '11:00:00', TIME '12:00:00')::VARCHAR")


def test_filter_over_fold_round13(spark):
    """Round 13: aggregate FILTER (WHERE p) under OVER — DuckDB admits
    the clause; Spark rejects it ('Window aggregate function with filter
    predicate is not supported'). Filtered rows fold into the arguments
    as CASE-null (aggregates skip NULL inputs; every argument NULLed
    excludes multi-arg pairs exactly like the row filter); frame
    membership is untouched — excluded rows still produce output rows.
    Composes with the arg_max null-skip rewrite and the holistic window
    emissions. Also: struct_insert(s, k := v) literal-struct folding."""
    import duckdb

    from duckdb_parachute_spark import sqlx

    con = duckdb.connect()
    rows = "(VALUES (1,1.0),(2,2.0),(3,3.0),(4,4.0),(5,NULL)) t(i,x)"
    cases = [
        "CAST(sum(x) FILTER (WHERE i % 2 = 0) OVER (ORDER BY i) AS DOUBLE)",
        "CAST(count(*) FILTER (WHERE i > 1) OVER (PARTITION BY i % 2) AS BIGINT)",
        "CAST(avg(x) FILTER (WHERE x > 1.5) OVER (ORDER BY i ROWS BETWEEN 1 PRECEDING AND CURRENT ROW) AS DOUBLE)",
        "arg_max(i, x) FILTER (WHERE i < 4) OVER (PARTITION BY i % 2)",
        "CAST(median(x::DOUBLE) FILTER (WHERE i != 2) OVER (PARTITION BY i % 2) AS DOUBLE)",
    ]
    from decimal import Decimal

    num = (int, float, Decimal)
    bad = []
    for c in cases:
        sql = f"SELECT {c} AS r FROM {rows} ORDER BY i"
        av = [r[0] for r in sqlx.sql(spark, sql).collect()]
        bv = [r[0] for r in con.sql(sql).fetchall()]
        ok = len(av) == len(bv) and all(
            a == b or (isinstance(a, num) and isinstance(b, num)
                       and not isinstance(a, bool) and float(a) == float(b))
            for a, b in zip(av, bv)
        )
        if not ok:
            bad.append((c, av, bv))
    assert not bad, bad
    q = "SELECT struct_insert({'a': 1}, b := 2, c := 'y') AS v"
    assert sqlx.sql(spark, q).head()[0].asDict() == {"a": 1, "b": 2, "c": "y"}
    with pytest.raises(NotImplementedError, match="withField"):
        sqlx.transpile("SELECT struct_insert(s, b := 2) FROM t")


def test_slices_ignore_nulls_round13(spark):
    """Round 13: open-ended / negative [a:b] slicing (1-based, both ends
    inclusive, negatives from the back — measured on lists AND strings;
    Spark's slice() is array-only so string-shaped operands take
    substring), IGNORE/RESPECT NULLS relocation (DuckDB puts the modifier
    inside the call, Spark between call and OVER), and list_zip ≡
    arrays_zip (NULL-padded to the longer side; struct field names
    differ — documented)."""
    import duckdb

    from duckdb_parachute_spark import sqlx

    con = duckdb.connect()
    scalar_cases = [
        "([1,2,3,4,5])[2:4]", "([1,2,3,4,5])[-2:]", "([1,2,3,4,5])[:3]",
        "([1,2,3,4,5])[2:]", "([1,2,3,4,5])[2:-2]", "([1,2,3,4,5])[-4:-2]",
        "('abcdef')[2:4]", "('abcdef')[-3:]", "('abcdef')[:2]",
        "'abcdef'[2:4]", "'héLlo'[2]",
        "(concat('ab', 'cdef'))[2:4]",
        "('héLlo')[2]", "('héLlo')[-1]", "array_extract('héLlo', 2)",
        "list_extract('héLlo', -1)", "list_extract([10,20], 2)",
        "array_length(list_zip([1,2],[10,20,30]))",
        "array_length(list_zip([1,2],[10,20]))",
    ]
    bad = []
    for c in scalar_cases:
        sql = f"SELECT {c} AS r"
        a = sqlx.sql(spark, sql).head()[0]
        b = con.sql(sql).fetchone()[0]
        if isinstance(a, list) and isinstance(b, list):
            a, b = list(a), list(b)
        if a != b:
            bad.append((c, a, b))
    rows = "(VALUES (1, 10), (2, NULL), (3, 30), (4, NULL), (5, 50)) t(i, x)"
    win_cases = [
        "lag(x IGNORE NULLS) OVER (ORDER BY i)",
        "lead(x IGNORE NULLS) OVER (ORDER BY i)",
        "last_value(x IGNORE NULLS) OVER (ORDER BY i)",
        "first_value(x IGNORE NULLS) OVER (ORDER BY i ROWS BETWEEN 1 PRECEDING AND CURRENT ROW)",
        "lag(x RESPECT NULLS) OVER (ORDER BY i)",
    ]
    for c in win_cases:
        sql = f"SELECT {c} AS r FROM {rows} ORDER BY i"
        av = [r[0] for r in sqlx.sql(spark, sql).collect()]
        bv = [r[0] for r in con.sql(sql).fetchall()]
        if av != bv:
            bad.append((c, av, bv))
    assert not bad, bad


def test_current_setting_roundtrip(spark):
    """Round 13: current_setting() reads back values the SET/PRAGMA
    surface remembered (reference src/main/settings GetSetting);
    'threads' maps back from the shuffle-partition knob; an unset key
    raises loudly (its only value would be a DuckDB-machine default)."""
    from duckdb_parachute_spark import sqlx

    sqlx.sql(spark, "SET some_knob TO 'forty-two'")
    assert sqlx.sql(spark, "SELECT current_setting('some_knob') AS v").head()[0] == "forty-two"
    thr = sqlx.sql(spark, "SELECT current_setting('threads') AS v").head()[0]
    assert thr == spark.conf.get("spark.sql.shuffle.partitions")
    with pytest.raises(NotImplementedError, match="machine-specific"):
        sqlx.sql(spark, "SELECT current_setting('never_set_key_xyz') AS v").collect()


def test_current_query_does_not_outlive_its_sql_call(spark):
    """current_query() is the text of the running sqlx.sql() call; once
    it returns, transpile() has no statement text and raises."""
    from duckdb_parachute_spark import sqlx

    q = "SELECT current_query() AS q"
    assert sqlx.sql(spark, q).head()[0] == q
    sqlx.sql(spark, "SELECT 1 AS a").collect()
    with pytest.raises(NotImplementedError, match="outside sqlx.sql"):
        sqlx.transpile(q)


def test_transpile_routes_by_the_conf_it_is_given(spark):
    """transpile() is a function of (sql, conf): the SET surface of an
    earlier sqlx.sql() call reaches it only through the conf passed in."""
    from duckdb_parachute_spark import sqlx

    q = "SELECT median(x) AS m FROM t"
    sqlx.sql(spark, "SET holistic_exact = false")
    try:
        assert "approx_percentile" not in sqlx.transpile(q)
        assert "approx_percentile" in sqlx.transpile(q, conf=spark.conf)
        assert sqlx._CURRENT_CONF.get() is None
    finally:
        sqlx.sql(spark, "SET holistic_exact = true")


def test_nested_sql_restores_the_outer_current_query(spark, tmp_path, monkeypatch):
    """COPY, SUMMARIZE and PRAGMA run an inner sqlx.sql(); each hands the
    outer statement text back when it returns."""
    from duckdb_parachute_spark import sqlx

    spark.range(3).createOrReplaceTempView("cq_t")
    inner = []
    _sql = sqlx._sql

    def spy(spark_, text):
        inner.append(sqlx._CURRENT_QUERY.get())
        return _sql(spark_, text)

    monkeypatch.setattr(sqlx, "_sql", spy)
    token = sqlx._CURRENT_QUERY.set("outer statement")
    try:
        for stmt in (
            f"COPY (SELECT id FROM cq_t) TO '{tmp_path / 'cq.csv'}' (FORMAT CSV)",
            "SUMMARIZE cq_t",
            "PRAGMA table_info('cq_t')",
        ):
            inner.clear()
            sqlx.sql(spark, stmt)
            assert inner[0] == stmt and len(inner) >= 2, inner
            assert sqlx._CURRENT_QUERY.get() == "outer statement", stmt
    finally:
        sqlx._CURRENT_QUERY.reset(token)


def test_advice_round14_regressions(spark, tmp_path):
    """Round 14 ADVICE batch, each pinned against DuckDB:
    1. length()/len() over polymorphic concat/reverse — string operands
       keep length(); list-spelled originals (list_concat/list_reverse)
       keep size() through the \\x02 alias marker.
    2. FILTER (WHERE ...) under OVER in lowercase (the case-sensitive
       str.index regression).
    3. list(DISTINCT x) / array_agg(DISTINCT x) — dedup on the wrapped
       struct, NULL elements kept.
    4. _bind_file_scans on masked text: file-TVF spellings inside
       comments or string literals stay text."""
    import duckdb

    from duckdb_parachute_spark import sqlx

    con = duckdb.connect()
    rows = ("(VALUES (1,'ab','cd',[1,2],[3]),(2,'x','yz',[4],[5,6])) "
            "t(i,a,b,la,lb)")
    cases = [
        "length(concat(a, b))",
        "len(concat(a, b))",
        "length(reverse(a))",
        "CAST(len(list_concat(la, lb)) AS BIGINT)",
        "CAST(len(list_reverse(la)) AS BIGINT)",
        # (bare concat over LIST args is varchar-cast by DuckDB —
        # concat([9,9],[1,2]) = '[9, 9][1, 2]', probed — while Spark's
        # concat stays an array; documented residual, use list_concat)
    ]
    for c in cases:
        sql = f"SELECT {c} AS r FROM {rows} ORDER BY i"
        av = [r[0] for r in sqlx.sql(spark, sql).collect()]
        bv = [r[0] for r in con.sql(sql).fetchall()]
        assert av == bv, (c, av, bv)
    # lowercase filter-over (previously ValueError: substring not found)
    q = f"select sum(i) filter (where i > 1) over () as s from {rows}"
    assert [r[0] for r in sqlx.sql(spark, q).collect()] == [2, 2]
    # list(DISTINCT ...) with and without ORDER BY; NULLs kept once
    nrows = "(VALUES (1,NULL),(1,'x'),(1,'x'),(1,NULL)) t(g,v)"
    for q in (
        f"SELECT list(DISTINCT v ORDER BY v) AS l FROM {nrows}",
        f"SELECT CAST(len(array_agg(DISTINCT v)) AS BIGINT) AS n FROM {nrows}",
    ):
        av = [r[0] for r in sqlx.sql(spark, q).collect()]
        bv = [r[0] for r in con.sql(q).fetchall()]
        assert av == bv, (q, av, bv)
    # masked file-TVF binding: comment + literal mentions are inert
    import pyarrow as pa
    import pyarrow.parquet as pq

    p = str(tmp_path / "five.parquet")
    pq.write_table(pa.table({"x": list(range(5))}), p)
    q = (f"-- comment mentions read_parquet('/nope/absent.parquet')\n"
         f"SELECT count(*) AS n FROM read_parquet('{p}')")
    assert sqlx.sql(spark, q).head()[0] == 5
    lit_q = "SELECT 'read_parquet(''/nope.parquet'')' AS s"
    assert sqlx.sql(spark, lit_q).head()[0] == "read_parquet('/nope.parquet')"


def test_parquet_schema_decimal_zero_scale(spark, tmp_path):
    """ADVICE r14 low: DECIMAL(p, 0) must report scale 0 (not NULL) in
    parquet_schema; the root row carries the writer's real root-group
    name and top-level child count — column-for-column vs DuckDB."""
    import duckdb

    from duckdb_parachute_spark.sources.parquet_meta import parquet_schema

    p = str(tmp_path / "dec0.parquet")
    con = duckdb.connect()
    con.execute(
        f"COPY (SELECT CAST(7 AS DECIMAL(9,0)) AS d0, "
        f"CAST(1.5 AS DECIMAL(9,2)) AS d2, 'x' AS s) TO '{p}' (FORMAT PARQUET)"
    )
    duck = sorted(con.execute(
        f"SELECT name, type, type_length, scale, precision, num_children "
        f"FROM parquet_schema('{p}') ORDER BY name"
    ).fetchall())
    ours = sorted(
        (r.name, r.type, r.type_length, r.scale, r.precision, r.num_children)
        for r in parquet_schema(spark, p).collect()
    )
    assert ours == duck


def test_holistic_scale_paths_round14(spark):
    """Round 14 (VERDICT r13 next #2): (a) rewrite_shared_holistics hoists
    a sorted-collect span shared by >=2 select items into a lateral
    column alias (one sort per group) and is bit-identical to the
    unshared spelling; (b) SET holistic_exact = false routes median/
    quantile_cont/quantile_disc onto approx_percentile with MAP-SIDE
    partial aggregation; (c) the gates leave HAVING/unaliased/ordinal
    shapes untouched."""
    import duckdb

    from duckdb_parachute_spark import sqlx

    con = duckdb.connect()
    spark.range(0, 20000).selectExpr(
        "id % 7 AS g", "CAST((id * 37) % 1009 AS DOUBLE) AS x"
    ).createOrReplaceTempView("hq")
    con.execute(
        "CREATE TABLE hq AS SELECT i % 7 AS g, CAST((i*37) % 1009 AS DOUBLE) AS x "
        "FROM range(20000) r(i)"
    )
    q = ("SELECT g, median(x) AS m, mad(x) AS d, quantile_disc(x, 0.25) AS a, "
         "quantile_disc(x, 0.75) AS b FROM hq GROUP BY g ORDER BY g")
    tp = sqlx.transpile(q, conf=spark.conf)
    assert "__hs" in tp and tp.strip().startswith("SELECT g, m, d, a, b FROM (")
    av = [tuple(r) for r in sqlx.sql(spark, q).collect()]
    bv = con.execute(q).fetchall()
    assert av == bv, (av[:2], bv[:2])
    # gates: HAVING blocks the hoist; single occurrence never hoists
    assert "__hs" not in sqlx.transpile(
        "SELECT g, quantile_disc(x, 0.2) AS a, quantile_disc(x, 0.8) AS b "
        "FROM hq GROUP BY g HAVING count(*) > 0",
        conf=spark.conf,
    )
    assert "__hs" not in sqlx.transpile(
        "SELECT g, quantile_disc(x, 0.5) AS a FROM hq GROUP BY g",
        conf=spark.conf,
    )
    # approx routing: transpile carries approx_percentile only under the knob
    try:
        sqlx.sql(spark, "SET holistic_exact = false")
        tp2 = sqlx.transpile("SELECT median(x) AS m, quantile_cont(x, 0.9) AS q, "
                             "quantile_disc(x, 0.25) AS d FROM hq", conf=spark.conf)
        assert tp2.count("approx_percentile") == 3
        df = sqlx.sql(spark, "SELECT g, median(x) AS m FROM hq GROUP BY g")
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "partial_approx_percentile" in plan  # map-side sketch
        exact = {r["g"]: r["m"] for r in spark.sql(
            "SELECT g, percentile(x, 0.5) AS m FROM hq GROUP BY g").collect()}
        for r in df.collect():
            assert abs(r["m"] - exact[r["g"]]) <= 0.02 * exact[r["g"]]
    finally:
        sqlx.sql(spark, "SET holistic_exact = true")
    assert "approx_percentile" not in sqlx.transpile(
        "SELECT median(x) AS m FROM hq", conf=spark.conf)


def test_gamma_pole_semantics_round14(spark):
    """Round 14 (VERDICT r13 what's-wrong #1), all measured on DuckDB:
    gamma(0)/lgamma(0) ERROR; negative-integer poles are the libm values
    (gamma -> NaN, lgamma -> +inf), NOT errors."""
    import math

    from duckdb_parachute_spark import sqlx

    r = sqlx.sql(spark, "SELECT gamma(-1.0) AS g, lgamma(-2.0) AS l").head()
    assert math.isnan(r["g"]) and math.isinf(r["l"]) and r["l"] > 0
    with pytest.raises(Exception, match="gamma of zero"):
        sqlx.sql(spark, "SELECT gamma(0.0) AS g").collect()
    with pytest.raises(Exception, match="log gamma of zero"):
        sqlx.sql(spark, "SELECT lgamma(0.0) AS g").collect()


def test_macro_registry_round14(spark):
    """Round-14 macro-registry sweep (scripts/registry_sweep.py runs all
    118; this pins the batch's load-bearing shapes against DuckDB):
    list_<agg> family incl. two-pass moments and bit/bool folds, the
    && / @> / <@ containment operators with their NULL rules, count_if
    over numeric conditions, json group aggregates, format_bytes'
    integer-shift truncation, and the pg compat tables."""
    import duckdb

    from duckdb_parachute_spark import sqlx

    con = duckdb.connect()
    cases = [
        "SELECT list_median([1,2,4,8]) AS r",
        "SELECT list_mad([1.0,5.0,9.0]) AS r",
        "SELECT list_mode([1,2,2,3]) AS r",
        "SELECT round(list_entropy([1,1,2]), 9) AS r",
        "SELECT CAST(list_count([1,NULL,3]) AS BIGINT) AS r, list_first([NULL,2]) AS f, list_last([1,NULL]) AS l",
        "SELECT list_product([2,NULL,4]) AS r, list_product([]) AS e",
        "SELECT CAST(list_bit_and([6,3]) AS BIGINT) AS a, CAST(list_bit_xor([5,3]) AS BIGINT) AS x",
        "SELECT list_bool_and([1=1, NULL]) AS a, list_bool_or([1=2, NULL]) AS o",
        "SELECT list_string_agg([1,NULL,2]) AS r, array_to_string([1,NULL,2], '-') AS s",
        "SELECT round(list_stddev_samp([1,2,3,4]), 9) AS a, round(list_var_pop([1,2,3,4]), 9) AS b, "
        "round(list_sem([1,2,3,4]), 9) AS c",
        "SELECT round(list_skewness([1.0,2.0,2.0,9.0]), 9) AS s, round(list_kurtosis([1.0,2.0,2.0,9.0]), 9) AS k, "
        "round(list_kurtosis_pop([1.0,2.0,2.0,9.0]), 9) AS kp",
        "SELECT list_skewness([1.0,2.0]) AS s, list_kurtosis([1.0,2.0,3.0]) AS k",
        # large-mean variance: the two-pass central moments keep precision
        "SELECT round(list_var_samp([1000000001.0, 1000000002.0, 1000000003.0]), 6) AS r",
        "SELECT [1,2] && [2,3] AS a, [1,2] && [3,4] AS b, [1,NULL] && [NULL::INT] AS c",
        "SELECT [1,2] <@ [2,1,4] AS a, [1,5] <@ [1,2] AS b, [1,2,3] @> [3,1] AS c, [1,2] @> [2,NULL] AS d",
        "SELECT count_if(x) AS r FROM (VALUES (7),(0),(NULL),(2)) t(x)",
        "SELECT json_group_array(x) AS r FROM (VALUES (1),(NULL),(2)) t(x)",
        "SELECT json_group_object(k, v) AS r FROM (VALUES ('a',1),('b',2)) t(k,v)",
        "SELECT format_bytes(CAST(1677722 AS BIGINT)) AS a, format_bytes(CAST(1 AS BIGINT)) AS b, "
        "pg_size_pretty(CAST(-2048 AS BIGINT)) AS c",
        "SELECT pg_typeof(7) AS a, pg_typeof([1]) AS b, format_pg_type('BIGINT', 'x') AS c, "
        "map_to_pg_oid('bigint') AS d",
        "SELECT has_table_privilege('t','select') AS a, pg_table_is_visible(1) AS b, current_role() AS c",
        "SELECT generate_subscripts([7,8,9], 1) AS r",
        "SELECT regexp_split_to_table('a1b2', '[0-9]') AS r",
        "SELECT array_push_front([1,2], 5) AS a, array_prepend(0, [1,2]) AS b",
        "SELECT json([1,2,3]) AS a, json('{\"a\":  1}') AS b",
    ]
    bad = []
    for q in cases:
        av = sorted(tuple(r) for r in sqlx.sql(spark, q).collect())
        bv = sorted(con.execute(q).fetchall())
        if av != bv:
            bad.append((q, av, bv))
    assert not bad, bad


def test_advice_round15_fixes(spark):
    """Round 15 ADVICE items, each reproduced before fixing:
    (a) gamma/lgamma under a user CASE must not abort — Spark extracts
        Python UDFs out of CaseWhen branches and evaluates them on EVERY
        row, so the pandas UDFs never raise; gamma(0)'s error semantics
        live solely in the emitted JVM raise_error CASE, which DOES
        short-circuit (DuckDB measured: SELECT CASE WHEN x <> 0 THEN
        gamma(x) ELSE 0 END over [0,3] = [0.0, 2.0]).
    (b) list(DISTINCT v) OVER () raises NotImplementedError (Spark
        rejects DISTINCT aggregates in window position — no spelling
        exists); list(DISTINCT v ORDER BY k) with k not textually the
        collected expression raises (DuckDB binder: 'ORDER BY
        expressions must appear in the argument list') instead of
        silently deduping the (k, v) struct.
    (c) rewrite_shared_holistics emits nested helper defs innermost-
        first: Spark lateral column aliases only resolve to PRECEDING
        select items, so an enclosing span's def must come AFTER the
        inner helper it references."""
    import duckdb

    from duckdb_parachute_spark import sqlx
    from duckdb_parachute_spark.sqlx import rewrite_shared_holistics

    # (a) extracted-UDF safety: x=0 row flows through the UDF but the
    # outer CASE never reads it; gamma(3) = 2
    r = sqlx.sql(
        spark,
        "SELECT CASE WHEN x <> 0 THEN gamma(x) ELSE 0 END AS g, "
        "CASE WHEN x <> 0 THEN lgamma(x) ELSE 0 END AS l "
        "FROM (VALUES (CAST(0 AS DOUBLE)), (CAST(3 AS DOUBLE))) t(x) ORDER BY x",
    ).collect()
    assert [row["g"] for row in r] == [0.0, 2.0]
    assert r[0]["l"] == 0.0 and abs(r[1]["l"] - 0.6931471805599453) < 1e-12
    con = duckdb.connect()
    assert con.execute(
        "SELECT CASE WHEN x <> 0 THEN gamma(x) ELSE 0 END AS g "
        "FROM (VALUES (CAST(0 AS DOUBLE)), (CAST(3 AS DOUBLE))) t(x) ORDER BY x"
    ).fetchall() == [(0.0,), (2.0,)]
    # direct gamma(0) still errors (JVM CASE raise_error, short-circuits)
    with pytest.raises(Exception, match="gamma of zero"):
        sqlx.sql(spark, "SELECT gamma(0.0) AS g").collect()

    # (b) DISTINCT gates
    with pytest.raises(NotImplementedError, match="window position"):
        sqlx.transpile("SELECT list(DISTINCT v) OVER () AS l FROM t")
    with pytest.raises(ValueError, match="argument list"):
        sqlx.transpile("SELECT list(DISTINCT v ORDER BY k) AS l FROM t GROUP BY g")
    # the legal spelling still works and matches DuckDB
    q = ("SELECT list(DISTINCT v ORDER BY v) AS l "
         "FROM (VALUES (2),(1),(2),(NULL),(1)) t(v)")
    assert [tuple(r) for r in sqlx.sql(spark, q).collect()] == con.execute(q).fetchall()

    # (c) nested shared spans: inner helper must be DEFINED before the
    # enclosing def that references it (synthetic spans exercise the
    # ordering directly; with the old append order this fails analysis)
    s1 = "array_sort\x02(collect_list(x))"
    s2 = f"array_sort\x02(flatten(array({s1})))"
    q = (f"SELECT g, size({s2}) AS a, size({s2}) AS b, "
         f"size({s1}) AS c, size({s1}) AS d FROM hs15 GROUP BY g")
    out = rewrite_shared_holistics(q, [])
    assert "__hs" in out
    inner = out[out.index("(") + 1 : out.rindex(") __hsq")]
    sel = inner[len("SELECT "):inner.index(" FROM ")]
    # every __hsN reference inside a def must point at an EARLIER def
    defs = [it.strip() for it in sel.split(", ")]
    seen = set()
    for it in defs:
        m = re.search(r"\s+AS\s+(__hs\d+)$", it)
        for ref in re.findall(r"__hs\d+", it[: m.start()] if m else it):
            assert ref in seen, (ref, it, out)
        if m:
            seen.add(m.group(1))
    # and the rewritten statement analyzes + runs on Spark
    spark.range(0, 10).selectExpr("id % 2 AS g", "CAST(id AS DOUBLE) AS x") \
        .createOrReplaceTempView("hs15")
    rows = {r["g"]: tuple(r)[1:] for r in
            spark.sql(out.replace("\x02(", "(")).collect()}
    assert rows == {0: (5, 5, 5, 5), 1: (5, 5, 5, 5)}


def test_holistic_scale_paths_round15(spark):
    """Round 15 (VERDICT r14 next #2/#3): (a) the shared-holistic hoist
    applies PER SELECT BLOCK — CTE bodies, derived tables, and
    correlated subqueries hoist independently and stay bit-identical to
    DuckDB; (b) under SET holistic_exact = false, mad() routes onto the
    two-pass approx_percentile spelling (per-group sketch median joined
    back, sketch median of deviations) with NO collect anywhere in the
    plan; (c) the mad gates decline FILTER / OVER / ordinal-or-alias
    GROUP BY keys / comma joins back to the exact path."""
    import duckdb

    from duckdb_parachute_spark import sqlx

    con = duckdb.connect()
    spark.range(0, 20000).selectExpr(
        "id % 7 AS g", "CAST((id * 37) % 1009 AS DOUBLE) AS x"
    ).createOrReplaceTempView("hq15")
    con.execute(
        "CREATE TABLE hq15 AS SELECT i % 7 AS g, CAST((i*37) % 1009 AS DOUBLE) AS x "
        "FROM range(20000) r(i)"
    )
    # (a) per-block hoist: CTE body, nested derived tables, EXISTS-correlated
    shapes = [
        "WITH s AS (SELECT g, median(x) AS m, quantile_disc(x, 0.25) AS a, "
        "quantile_disc(x, 0.75) AS b FROM hq15 GROUP BY g) "
        "SELECT g, m, b - a AS iqr FROM s ORDER BY g",
        "SELECT g2, mx FROM (SELECT g % 2 AS g2, max(q1 + q2) AS mx FROM "
        "(SELECT g, quantile_disc(x, 0.2) AS q1, quantile_disc(x, 0.8) AS q2 "
        "FROM hq15 GROUP BY g) GROUP BY g % 2) ORDER BY g2",
        "SELECT c.g, c.iqr FROM (SELECT g, quantile_disc(x, 0.75) - "
        "quantile_disc(x, 0.25) AS iqr FROM hq15 GROUP BY g) c WHERE EXISTS "
        "(SELECT 1 FROM hq15 h WHERE h.g = c.g AND h.x > 1000) ORDER BY c.g",
    ]
    for q in shapes:
        assert "__hs" in sqlx.transpile(q, conf=spark.conf), q
        av = [tuple(r) for r in sqlx.sql(spark, q).collect()]
        assert av == con.execute(q).fetchall(), q
    # the hoisted CTE plan carries ONE array_sort per shared span
    tp = sqlx.transpile(shapes[0], conf=spark.conf)
    assert tp.count("array_sort(collect_list(x))") == 1

    # (b) mad sketch routing
    sqlx.sql(spark, "SET holistic_exact = false")
    try:
        q = "SELECT g, mad(x) AS d, count(*) AS c FROM hq15 WHERE x > 10 GROUP BY g"
        tp = sqlx.transpile(q, conf=spark.conf)
        assert "approx_percentile" in tp and "collect_list" not in tp
        df = sqlx.sql(spark, q)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "collect_list" not in plan
        assert "partial_approx_percentile" in plan  # map-side sketch partials
        ex = {r[0]: (r[1], r[2]) for r in con.execute(q).fetchall()}
        for r in df.collect():
            assert abs(r["d"] - ex[r["g"]][0]) <= 0.02 * ex[r["g"]][0]
            assert r["c"] == ex[r["g"]][1]
        # ungrouped + CTE-body routing
        assert "collect_list" not in sqlx.transpile("SELECT mad(x) AS d FROM hq15", conf=spark.conf)
        assert "collect_list" not in sqlx.transpile(
            "WITH s AS (SELECT g, mad(x) AS d FROM hq15 GROUP BY g) "
            "SELECT max(d) AS m FROM s",
            conf=spark.conf,
        )
        # (c) decline paths keep the exact collect
        for q in [
            "SELECT g, mad(x) FILTER (WHERE x > 5) AS d FROM hq15 GROUP BY g",
            "SELECT g, mad(x) OVER (PARTITION BY g) AS d FROM hq15",
            "SELECT g AS k, mad(x) AS d FROM hq15 GROUP BY k",
            "SELECT g, mad(x) AS d FROM hq15 GROUP BY 1",
        ]:
            assert "collect_list" in sqlx.transpile(q, conf=spark.conf), q
    finally:
        sqlx.sql(spark, "SET holistic_exact = true")
    assert "collect_list" in sqlx.transpile("SELECT mad(x) AS d FROM hq15", conf=spark.conf)


def test_mad_decline_observability_round16(spark):
    """Round 16 (VERDICT r15 next #4 + #6): (a) under SET holistic_exact
    = false, a mad() block that a routing gate DECLINES warns, naming the
    gate — the exact collect path still runs, values unchanged; (b) SET
    holistic_strict = true turns the warning into a raise; (c) the new
    correlation gate declines a correlated mad subquery (the replay
    would emit a correlated derived table Spark may reject) and the
    exact path runs GREEN against DuckDB; (d) cleanly routed shapes warn
    nothing."""
    import warnings as _w

    import duckdb

    from duckdb_parachute_spark import sqlx

    con = duckdb.connect()
    spark.range(0, 2000).selectExpr(
        "id % 5 AS g", "CAST((id * 53) % 997 AS DOUBLE) AS x"
    ).createOrReplaceTempView("hq16")
    con.execute(
        "CREATE TABLE hq16 AS SELECT i % 5 AS g, CAST((i*53) % 997 AS DOUBLE) AS x "
        "FROM range(2000) r(i)"
    )
    sqlx.sql(spark, "SET holistic_exact = false")
    try:
        # (a) each gate warns by name; the exact collect path is kept
        for q, gate in [
            ("SELECT g, mad(x) AS d FROM hq16 GROUP BY g HAVING count(*) > 0",
             "HAVING"),
            ("SELECT g, mad(x) FILTER (WHERE x > 5) AS d FROM hq16 GROUP BY g",
             "FILTER"),
            ("SELECT g, mad(x) AS d FROM hq16 GROUP BY 1",
             "ordinal"),
            ("SELECT a.g, mad(a.x) AS d FROM hq16 a, hq16 b GROUP BY a.g",
             "comma join"),
        ]:
            with pytest.warns(UserWarning, match=gate):
                assert "collect_list" in sqlx.transpile(q, conf=spark.conf), q
        # (b) strict mode raises instead (and resets cleanly)
        sqlx.sql(spark, "SET holistic_strict = true")
        with pytest.raises(Exception, match="HAVING"):
            sqlx.transpile(
                "SELECT g, mad(x) AS d FROM hq16 GROUP BY g HAVING count(*) > 0",
                conf=spark.conf,
            )
        sqlx.sql(spark, "SET holistic_strict = false")
        # (c) correlated mad subquery: gate declines (named alias), runs green
        q = (
            "SELECT o.g, (SELECT mad(h.x) FROM hq16 h WHERE h.g = o.g) AS d "
            "FROM (SELECT DISTINCT g FROM hq16) o ORDER BY o.g"
        )
        with pytest.warns(UserWarning, match="correlated outer reference 'o'"):
            tp = sqlx.transpile(q, conf=spark.conf)
        assert "collect_list" in tp
        av = [tuple(r) for r in sqlx.sql(spark, q).collect()]
        assert av == con.execute(q).fetchall()
        # (d) a cleanly routed block emits NO warning
        with _w.catch_warnings():
            _w.simplefilter("error")
            tp = sqlx.transpile(
                "SELECT g, mad(x) AS d FROM hq16 WHERE x > 10 GROUP BY g",
                conf=spark.conf,
            )
        assert "approx_percentile" in tp and "collect_list" not in tp
    finally:
        sqlx.sql(spark, "SET holistic_strict = false")
        sqlx.sql(spark, "SET holistic_exact = true")


def test_timetz_minimal_round15(spark):
    """TIMETZ (round 15, VERDICT r14 next #6): the BIGINT carrier
    reproduces DuckDB's dtime_tz_t semantics — wall-ASC/offset-DESC
    ordering, both-field equality (NOT instant equality), canonical
    offset renders, ::TIME wall extraction, typeof — and the documented
    subset raises loudly outside it."""
    import duckdb

    from duckdb_parachute_spark import sqlx

    con = duckdb.connect()
    q = (
        "SELECT CAST(TIMETZ '11:30:00+05:30' AS VARCHAR) AS a, "
        "'10:00:00+05:00'::TIMETZ::VARCHAR AS b, "
        "CAST(TIMETZ '23:00:00-02' AS TIME)::VARCHAR AS c, "
        "TIMETZ '11:30:00+05:30' = TIMETZ '06:00:00+00' AS eq, "
        "TIMETZ '02:00:00-08' < TIMETZ '10:00:00+05' AS lt_wall, "
        "TIMETZ '10:00:00+05' < TIMETZ '10:00:00+02' AS lt_offdesc, "
        "typeof(TIMETZ '10:00:00+05') AS ty, "
        "CAST(TIMETZ '10:00:00+05:30:30' AS VARCHAR) AS secoff"
    )
    assert tuple(sqlx.sql(spark, q).head()) == con.execute(q).fetchone()
    # bounds probed on DuckDB: +16:00 errors, 24:00:00 is legal
    with pytest.raises(ValueError, match="out of range"):
        sqlx.transpile("SELECT TIMETZ '10:00:00+16:00' AS t")
    assert sqlx.sql(
        spark, "SELECT TIMETZ '24:00:00+01'::VARCHAR AS t"
    ).head()["t"] == "24:00:00+01"  # 24:00 wall is legal (probed)
    # non-literal string -> TIMETZ: documented loud raise
    with pytest.raises(NotImplementedError, match="literals only"):
        sqlx.transpile("SELECT c::TIMETZ FROM t")


def test_transpile_is_deterministic_across_calls():
    """Synthetic names (__bN let-bindings, __hsN shared holistics) are
    numbered per transpile() call: the same text always yields the same
    output, however many queries ran before it."""
    q = (
        "SELECT k, mad(v) AS m, quantile_disc(v, 0.25) AS q1, "
        "quantile_disc(v, 0.75) AS q3 FROM t GROUP BY k"
    )
    first = transpile(q)
    assert "__hs1" in first and "__b1 " in first
    assert transpile(q) == first
