"""Dialect front-end tests: Pinot-named SQL runs through HurricaneSQL,
default LIMIT 10, function rewrites, TEXT_MATCH translation, lookUp join."""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

from hurricanedb_spark.sql.dialect import (
    HurricaneSQL,
    apply_default_limit,
    rewrite_functions,
)
from hurricanedb_spark.sql.text_match import translate_text_match


@pytest.fixture(scope="module")
def hdb(spark, sf_dir):
    return HurricaneSQL(spark, sf_dir)


def test_default_limit_applied():
    assert apply_default_limit("SELECT * FROM t").endswith("LIMIT 10")
    assert apply_default_limit("SELECT * FROM t LIMIT 5") == "SELECT * FROM t LIMIT 5"


def test_rewrite_simple_rename():
    assert rewrite_functions("SELECT arraylength(c) FROM t") == \
        "SELECT (size((c))) FROM t"


def test_rewrite_nested_calls():
    out = rewrite_functions("SELECT arraylength(arraydistinct(c)) FROM t")
    assert "size" in out and "array_distinct" in out and "arraylength" not in out


def test_rewrite_agg_templates():
    out = rewrite_functions("SELECT distinctcounthll(x), minmaxrange(y) FROM t")
    assert "approx_count_distinct(x)" in out
    assert "(max(y) - min(y))" in out


def test_find_calls_lexes_like_spark():
    """The call scan reads the masked query (sql/lexer.py): an escaped
    quote, parens or commas inside a literal, and a call inside a
    comment never steer it; the args are sliced from the original."""
    from hurricanedb_spark.sql.dialect import _find_calls, rewrite_mode_avg_bounded

    assert rewrite_functions(
        "SELECT regexpExtract(s, 'a\\'b(c)', 1) AS r FROM t"
    ) == "SELECT (regexp_extract(s, 'a\\'b(c)', 1)) AS r FROM t"
    q = "SELECT concat(s, 'it\\'s, (ok') AS c FROM t"
    [(_s, e, name, args)] = _find_calls(q, {"concat"})
    assert (name, args, q[e:]) == ("concat", ["s", "'it\\'s, (ok'"], " AS c FROM t")
    q2 = "SELECT g, -- mode(y, 'AVG')\n mode(x, 'MIN') AS m FROM t GROUP BY g"
    assert [c[3] for c in _find_calls(q2, {"mode"})] == [["x", "'MIN'"]]
    assert rewrite_mode_avg_bounded(q2) == q2


def test_dialect_selection_default_limit(hdb):
    df = hdb.sql("SELECT l_orderkey FROM lineitem ORDER BY l_orderkey")
    assert df.count() == 10  # Pinot default LIMIT 10 (query.thrift:34)


def test_dialect_pinot_functions_run(hdb):
    row = hdb.sql(
        "SELECT distinctcount(l_suppkey) AS dc, minmaxrange(l_quantity) AS r, "
        "percentileest(l_quantity, 50) AS p50 FROM lineitem"
    ).collect()[0]
    assert row.dc == 10
    assert row.r > 0
    assert 1 <= row.p50 <= 50


def test_dialect_epoch_functions(hdb):
    row = hdb.sql(
        "SELECT toepochdays(fromepochseconds(86400 * 10)) AS d"
    ).collect()[0]
    assert row.d == 10


def test_dialect_mv_aggregates(hdb):
    row = hdb.sql(
        "SELECT countmv(embedding) AS n, summv(embedding) AS s FROM embeddings"
    ).collect()[0]
    assert row.n == 500 * 64
    assert isinstance(row.s, float)


def test_dialect_json_functions(hdb):
    row = hdb.sql(
        "SELECT jsonpathlong(props, '$.k') AS k FROM events WHERE event_id = 0"
    ).collect()[0]
    assert isinstance(row.k, int)


def test_text_match_translation():
    e = translate_text_match("col", "'apple AND (banana OR cherry)'")
    assert e == (
        "(contains(col, 'apple') AND ( contains(col, 'banana') OR "
        "contains(col, 'cherry') ))"
    ).replace("( c", "( c") or "AND" in e
    assert "contains(col, 'apple')" in e and "AND" in e and "OR" in e


def test_text_match_runs(hdb):
    df = hdb.sql(
        "SELECT count(*) AS n FROM documents WHERE text_match(text, 'scan AND merge')",
        default_limit=None,
    )
    n_tm = df.collect()[0].n
    n_direct = hdb.sql(
        "SELECT count(*) AS n FROM documents "
        "WHERE contains(text, 'scan') AND contains(text, 'merge')",
        default_limit=None,
    ).collect()[0].n
    assert n_tm == n_direct > 0


def test_lookup_join(hdb):
    row = hdb.sql(
        "SELECT c_name, lookup('nation', 'n_name', 'n_nationkey', c_nationkey) AS nation "
        "FROM customer WHERE c_custkey = 1",
        default_limit=None,
    ).collect()[0]
    assert row.nation is not None


def test_lookup_plans_broadcast_and_is_deterministic(hdb, spark):
    """lookUp() must reach the broadcast-join path (fact side unshuffled)
    and return a deterministic value even when the dim table violates PK
    uniqueness (min of the candidates, not whichever partition answered
    first)."""
    df = hdb.sql(
        "SELECT c_name, lookup('nation', 'n_name', 'n_nationkey', "
        "c_nationkey) AS nation FROM customer",
        default_limit=None,
    )
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    assert "BroadcastHashJoin" in plan
    assert "Exchange hashpartitioning(c_" not in plan  # fact never shuffles

    # duplicate-key dim: deterministic min, not first-seen
    spark.createDataFrame(
        [(1, "zeta"), (1, "alpha"), (2, "only")], "k int, v string"
    ).repartition(4).createOrReplaceTempView("dup_dim")
    rows = hdb.sql(
        "SELECT c_custkey, lookup('dup_dim', 'v', 'k', "
        "CAST(1 AS INT)) AS v FROM customer WHERE c_custkey <= 3",
        default_limit=None,
    ).collect()
    assert all(r.v == "alpha" for r in rows)


def test_geo_sql_surface(hdb):
    # WKB hex literal: little-endian point (1.5, 2.5)
    import struct

    from hurricanedb_spark.functions.geo import wkb_point_bytes, wkb_polygon_bytes

    pt_hex = wkb_point_bytes(1.5, 2.5).hex()
    poly_hex = wkb_polygon_bytes([(0, 0), (1, 0), (1, 1), (0, 0)]).hex()
    be_pt_hex = struct.pack(">BI2d", 0, 1, 1.5, 2.5).hex()
    row = hdb.sql(
        f"SELECT stgeometrytype(X'{pt_hex}') AS t_pt, "
        f"stgeometrytype(X'{poly_hex}') AS t_poly, "
        f"stgeometrytype(X'{be_pt_hex}') AS t_be, "
        "stastext(stpoint(1.5, 2.5)) AS wkt, "
        "stequals(stpoint(0.0, 1.0), stpoint(-0.0, 1.0)) AS eq "
        "FROM region",
        default_limit=1,
    ).collect()[0]
    assert row.t_pt == "Point" and row.t_poly == "Polygon" and row.t_be == "Point"
    assert row.wkt == "POINT (1.5 2.5)"
    assert row.eq is True


def test_explain_plan_for(hdb):
    out = hdb.sql("EXPLAIN PLAN FOR SELECT count(*) FROM lineitem").collect()
    assert len(out) == 1 and "Physical Plan" in out[0].plan


def test_timeconvert(hdb):
    row = hdb.sql(
        "SELECT timeconvert(86400000, 'MILLISECONDS', 'DAYS') AS d, "
        "timeconvert(2, 'HOURS', 'MINUTES') AS m, "
        "timeconvert(3599999, 'MILLISECONDS', 'SECONDS') AS s"
    ).collect()[0]
    assert row.d == 1 and row.m == 120 and row.s == 3599  # truncation


def test_datetimeconvert_epoch_to_epoch(hdb):
    # ms epoch -> 15-minute epoch buckets (classic Pinot shape)
    row = hdb.sql(
        "SELECT datetimeconvert(3600000, '1:MILLISECONDS:EPOCH', "
        "'15:MINUTES:EPOCH', '15:MINUTES') AS b"
    ).collect()[0]
    assert row.b == 4  # 1h = 4 x 15min


def test_datetimeconvert_timestamp_and_sdf(hdb):
    row = hdb.sql(
        "SELECT datetimeconvert(ts, '1:MILLISECONDS:TIMESTAMP', "
        "'1:DAYS:SIMPLE_DATE_FORMAT:yyyy-MM-dd', '1:DAYS') AS day "
        "FROM events WHERE event_id = 0",
        default_limit=None,
    ).collect()[0]
    assert row.day == "2024-01-01"


def test_datetimeconvert_sdf_input(hdb):
    row = hdb.sql(
        "SELECT datetimeconvert('2024-03-05', '1:DAYS:SIMPLE_DATE_FORMAT:yyyy-MM-dd', "
        "'1:MILLISECONDS:EPOCH', '1:DAYS') AS ms"
    ).collect()[0]
    assert row.ms == 1709596800000


def test_null_handling_dual_mode(spark):
    from hurricanedb_spark.sql.dialect import HurricaneSQL

    hdb2 = HurricaneSQL(spark)
    df = spark.createDataFrame([(1, None), (2, "x"), (3, None)], "id int, s string")

    # native NULLs (enableNullHandling=true analog)
    hdb2.register("t_native", df)
    n_null = hdb2.sql(
        "SELECT count(*) AS n FROM t_native WHERE s IS NULL", default_limit=None
    ).collect()[0].n
    assert n_null == 2

    # Pinot default mode: default-null substitution (FieldSpec 'null' string)
    hdb2.register("t_default", df, null_defaults={"s": "null"})
    row = hdb2.sql(
        "SELECT count(*) AS n_null, "
        "count(CASE WHEN s = 'null' THEN 1 END) AS n_default FROM t_default",
        default_limit=None,
    ).collect()[0]
    assert row.n_null == 3  # count(s) sees no NULLs anymore -> count(*) = 3
    assert row.n_default == 2


def test_set_query_options_parsed_and_stripped(hdb):
    rows = hdb.sql(
        "SET enableNullHandling=true; SET timeoutMs = 5000; "
        "SELECT 1 AS one",
        default_limit=None,
    ).collect()
    assert rows[0].one == 1
    assert hdb.last_query_options == {
        "enableNullHandling": "true",
        "timeoutMs": "5000",
    }


def test_trailing_option_clause(hdb):
    rows = hdb.sql(
        "SELECT 2 AS two OPTION(useMultistageEngine=true, timeoutMs='99')",
        default_limit=None,
    ).collect()
    assert rows[0].two == 2
    assert hdb.last_query_options == {
        "useMultistageEngine": "true",
        "timeoutMs": "99",
    }


def test_options_compose_with_default_limit(hdb):
    df = hdb.sql("SET useMultistageEngine=true; SELECT o_orderkey FROM orders")
    assert df.count() == 10  # default LIMIT 10 still applied after SET strip


def test_new_datetime_macros(hdb):
    row = hdb.sql(
        "SELECT todatetime(1709596800000, 'yyyy-MM-dd') AS d, "
        "fromdatetime('2024-03-05', 'yyyy-MM-dd') AS ms, "
        "totimestamp(0) AS t0, "
        "fromtimestamp(TIMESTAMP '1970-01-01 00:00:10') AS ms10, "
        "toepochdaysbucket(TIMESTAMP '2024-03-05 12:00:00', 7) AS wk, "
        "CAST(fromepochsecondsbucket(toepochsecondsbucket("
        "TIMESTAMP '2024-03-05 12:34:56', 3600), 1) AS STRING) AS rt",
        default_limit=None,
    ).collect()[0]
    assert row.d == "2024-03-05"
    assert row.ms == 1709596800000
    assert str(row.t0) == "1970-01-01 00:00:00"
    assert row.ms10 == 10000
    assert row.wk == 1709596800 // 86400 // 7
    assert row.rt == "2024-03-05 12:00:00"


def test_timezone_and_ascii_macros(hdb):
    row = hdb.sql(
        "SELECT timezoneminute('+05:30') AS pm, timezoneminute('-08:45') AS nm, "
        "timezonehour('-08:45') AS nh, toascii('héllo wörld') AS a",
        default_limit=None,
    ).collect()[0]
    assert row.pm == 30
    assert row.nm == -45
    assert row.nh == -8
    assert row.a == "hllo wrld"


def test_json_match_translator_shapes():
    from hurricanedb_spark.sql.json_match import translate_json_match as t

    assert (
        t("j", '"$.name" = \'zhang\'')
        == "(get_json_object(j, '$.name') = 'zhang')"
    )
    assert t("j", '"$.a.b" > 3') == "(CAST(get_json_object(j, '$.a.b') AS DOUBLE) > 3)"
    assert t("j", '"$.x" != 1.5') == "(CAST(get_json_object(j, '$.x') AS DOUBLE) <> 1.5)"
    assert (
        t("j", '"$.s" IN (\'a\', \'b\') OR NOT ("$.n" IS NULL)')
        == "(get_json_object(j, '$.s') IN ('a', 'b') OR NOT "
        "(get_json_object(j, '$.n') IS NULL))"
    )
    assert (
        t("j", '"$.arr[0]" >= 2 AND "$.k" IS NOT NULL')
        == "(CAST(get_json_object(j, '$.arr[0]') AS DOUBLE) >= 2 AND "
        "get_json_object(j, '$.k') IS NOT NULL)"
    )


def test_json_match_executes(spark):
    from pyspark.sql import functions as F

    from hurricanedb_spark.sql.json_match import translate_json_match as t

    df = spark.createDataFrame(
        [('{"a": {"b": 5}, "s": "x"}',), ('{"a": {"b": 1}, "s": "y"}',), (None,)],
        "j string",
    )
    got = df.filter(F.expr(t("j", '"$.a.b" > 3 AND "$.s" = \'x\''))).count()
    assert got == 1


def test_idset_roundtrip_small(spark):
    from pyspark.sql import functions as F

    from hurricanedb_spark.sql.idset import id_set, in_id_set

    inner = spark.createDataFrame([(3,), (1,), (3,), (None,)], "k int")
    lit = id_set(inner, "k")
    # round-13: the literal IS the reference's IdSet wire format —
    # INT column -> RoaringBitmapIdSet (type tag 1 + portable roaring
    # bytes, RoaringBitmapIdSet.java), distinct, no nulls
    import base64

    from hurricanedb_spark.operators.idset_wire import decode_idset

    blob = base64.b64decode(lit)
    assert blob[0] == 1  # ROARING_BITMAP
    assert sorted(decode_idset(blob).values()) == [1, 3]
    outer = spark.createDataFrame([(1, "a"), (2, "b"), (3, "c")], "k int, v string")
    got = sorted(r.v for r in outer.filter(in_id_set(F.col("k"), lit)).collect())
    assert got == ["a", "c"]
    # legacy base64-JSON literals still decode
    import json

    legacy = base64.b64encode(json.dumps([1, 3]).encode()).decode()
    got2 = sorted(
        r.v for r in outer.filter(in_id_set(F.col("k"), legacy)).collect()
    )
    assert got2 == ["a", "c"]


def test_text_match_fuzzy_translation():
    e = translate_text_match("col", "colum~1")
    assert "levenshtein" in e and "<= 1" in e and "lower(col)" in e
    # bare ~ defaults to Lucene's max edit distance 2
    assert "<= 2" in translate_text_match("col", "spark~")


def test_text_match_range_translation():
    e = translate_text_match("col", "[slow TO sorta]")
    assert "t >= 'slow'" in e and "t <= 'sorta'" in e
    ex = translate_text_match("col", "{slow TO sorta}")
    assert "t > 'slow'" in ex and "t < 'sorta'" in ex
    open_hi = translate_text_match("col", "[slow TO *]")
    assert "t >= 'slow'" in open_hi and "<=" not in open_hi


def test_text_match_field_grouping(spark):
    grouped = translate_text_match("col", "col:(java AND python)")
    plain = translate_text_match("col", "(java AND python)")
    assert grouped == plain


def test_text_match_fuzzy_range_live(spark):
    df = spark.createDataFrame(
        [(1, "the column store"), (2, "a colum typo here"), (3, "nothing")],
        "id int, col string",
    )
    from pyspark.sql import functions as F
    e = translate_text_match("col", "colum~1")
    assert {r.id for r in df.filter(F.expr(e)).collect()} == {1, 2}
    e = translate_text_match("col", "[store TO typo]")
    assert {r.id for r in df.filter(F.expr(e)).collect()} == {1, 2}


def test_id_set_size_guard(spark):
    from hurricanedb_spark.sql.idset import IdSetTooLargeError, id_set, in_id_set
    import pytest as _pytest

    df = spark.range(100).withColumnRenamed("id", "k")
    lit = id_set(df, "k", max_ids=200)  # under bound: fine
    assert df.filter(in_id_set(df.k, lit)).count() == 100
    with _pytest.raises(IdSetTooLargeError):
        id_set(df, "k", max_ids=50)


def test_groovy_expression_translation():
    from hurricanedb_spark.sql.dialect import translate_groovy

    out = translate_groovy(
        ["'{\"returnType\":\"LONG\",\"isSingleValue\":true}'",
         "'arg0 * 2 + arg1'", "a", "b"]
    )
    assert out == "CAST(((a) * 2 + (b)) AS BIGINT)"
    # ternary + logic + Math.*
    out = translate_groovy(
        ["'{\"returnType\":\"DOUBLE\"}'",
         "'arg0 > 0 && arg1 > 0 ? Math.max(arg0, arg1) : 0'", "x", "y"]
    )
    assert "CASE WHEN" in out and "greatest" in out and out.endswith("AS DOUBLE)")


def test_groovy_rejects_general_scripts():
    from hurricanedb_spark.sql.dialect import translate_groovy

    with pytest.raises(ValueError):
        translate_groovy(["'{\"returnType\":\"STRING\"}'",
                          "'for (i in 0..9) { sum += i }'", "a"])


def test_groovy_literal_safety():
    """Operator/ternary/argN rewriting must not touch string literals.

    Scripts arrive through the SQL surface as single-quoted literals, so an
    embedded quote is SQL-doubled (''): the translator decodes that before
    scanning, then locates ?/: and substitutes argN only outside literals."""
    from hurricanedb_spark.sql.dialect import translate_groovy

    meta = "'{\"returnType\":\"STRING\"}'"
    # ':' inside a literal must not be taken as the ternary split point
    out = translate_groovy([meta, "'arg0 > 5 ? ''a:b'' : ''c'''", "x"])
    assert "THEN  'a:b'" in out and "ELSE  'c'" in out
    # '&&' inside a literal survives; 'arg0' inside a literal is not substituted
    out = translate_groovy(
        [meta, "'arg0 == ''a&&b'' ? ''arg0'' : ''no'''", "x"]
    )
    assert "'a&&b'" in out and "THEN  'arg0'" in out and "(x) = " in out
    # ';' and '{' inside literals are data, not script structure
    out = translate_groovy([meta, "'arg0 == ''a;{b'' ? 1 : 0'", "x"])
    assert "'a;{b'" in out
    # ...but in code they still reject
    with pytest.raises(ValueError):
        translate_groovy([meta, "'arg0; arg0'", "x"])


def test_groovy_string_methods(hdb, spark):
    """Java/Groovy String methods in the groovy() subset, executed:
    index conventions must be JAVA's (substring 0-based end-exclusive,
    indexOf 0-based with -1 absent), chains and literal receivers work,
    and unknown methods / bare property access reject loudly."""
    from hurricanedb_spark.sql.dialect import translate_groovy

    spark.createDataFrame(
        [("  Hello World  ", "x"), ("spark", "y")], "s string, t string"
    ).createOrReplaceTempView("groovy_str_t")
    meta = "'{\"returnType\":\"STRING\"}'"
    imeta = "'{\"returnType\":\"INT\"}'"
    bmeta = "'{\"returnType\":\"BOOLEAN\"}'"
    rows = hdb.sql(
        f"SELECT groovy({meta}, 'arg0.trim().toUpperCase()', s) AS up, "
        f"groovy({imeta}, 'arg0.trim().length()', s) AS ln, "
        f"groovy({meta}, 'arg0.trim().substring(0, 5)', s) AS sub, "
        f"groovy({imeta}, 'arg0.indexOf(''World'')', s) AS iw, "
        f"groovy({imeta}, 'arg0.indexOf(''zzz'')', s) AS iz, "
        f"groovy({bmeta}, 'arg0.trim().startsWith(''Hel'')', s) AS st, "
        f"groovy({meta}, 'arg0.replace(''l'', ''L'').trim()', s) AS rp, "
        f"groovy({bmeta}, '''pre''.concat(arg1).equalsIgnoreCase(''PREX'')', s, t) AS eq "
        "FROM groovy_str_t ORDER BY ln DESC",
        default_limit=None,
    ).collect()
    r = rows[0]  # the '  Hello World  ' row
    assert r["up"] == "HELLO WORLD"
    assert r["ln"] == 11
    assert r["sub"] == "Hello"  # Java substring(0,5): end-exclusive
    assert r["iw"] == 8  # 0-based indexOf into the untrimmed string
    assert r["iz"] == -1  # absent -> -1, Java convention
    assert r["st"] is True
    assert r["rp"] == "HeLLo WorLd"
    assert r["eq"] is True
    # rejections: unknown method, property access, bad arity
    with pytest.raises(ValueError, match="unsupported method"):
        translate_groovy([meta, "'arg0.reverse()'", "s"])
    with pytest.raises(ValueError, match="property access"):
        translate_groovy(["'{\"returnType\":\"INT\"}'", "'arg0.length'", "s"])
    with pytest.raises(ValueError, match="takes"):
        translate_groovy([meta, "'arg0.substring()'", "s"])


def test_groovy_literal_safety_through_sql(hdb):
    df = hdb.sql(
        "SELECT groovy('{\"returnType\":\"STRING\"}', "
        "'arg0 > 3 ? ''hi:&&there'' : ''lo'''"
        ", l_linenumber) AS g FROM lineitem WHERE l_orderkey = 1 ORDER BY g"
    )
    vals = {r.g for r in df.collect()}
    assert vals <= {"hi:&&there", "lo"} and vals


def test_groovy_through_sql_surface(hdb):
    df = hdb.sql(
        "SELECT groovy('{\"returnType\":\"LONG\"}', 'arg0 * 2 + arg1', "
        "l_orderkey, l_linenumber) AS g FROM lineitem "
        "WHERE l_orderkey = 1 ORDER BY g"
    )
    rows = [r.g for r in df.collect()]
    assert rows and all(isinstance(v, int) for v in rows)
    base = hdb.sql(
        "SELECT l_orderkey * 2 + l_linenumber AS g FROM lineitem "
        "WHERE l_orderkey = 1 ORDER BY g"
    )
    assert rows == [r.g for r in base.collect()]


def test_text_match_boost_dropped():
    """Boosts weight scoring, never the match set of a filter — term^2 and
    "phrase"^0.5 must translate identically to their unboosted forms."""
    assert translate_text_match("col", "spark^2") == \
        translate_text_match("col", "spark")
    assert translate_text_match("col", '"fast table"^0.5') == \
        translate_text_match("col", '"fast table"')
    assert translate_text_match("col", "colum~1^3") == \
        translate_text_match("col", "colum~1")
    # regex terms keep ^ (it is a regex anchor, not a boost)
    assert "a^b" in translate_text_match("col", "/a^b/")


def test_text_match_midword_wildcards(spark):
    e = translate_text_match("col", "te?t")
    assert "^te.t$" in e and "exists" in e
    e2 = translate_text_match("col", "s*k")
    assert "^s.*k$" in e2
    # trailing-star prefix keeps the cheap whole-column scan path
    assert "exists" not in translate_text_match("col", "spark*")

    df = spark.createDataFrame(
        [(1, "a quick test of text"), (2, "the toast is burnt"),
         (3, "nothing matches here")],
        "id int, col string",
    )
    got = sorted(
        r.id for r in df.filter(F.expr(translate_text_match("col", "te?t"))).collect()
    )
    assert got == [1]  # 'test' and 'text' match te?t; 'toast' does not
    got2 = sorted(
        r.id for r in df.filter(F.expr(translate_text_match("col", "t*t"))).collect()
    )
    assert got2 == [1, 2]  # test/text/toast all match t*t


def test_text_match_two_term_slop_exact(spark):
    """Two-term "a b"~N now uses exact Lucene slop semantics: in-order
    cost = gap, reversed adjacent pair costs 2."""
    df = spark.createDataFrame(
        [(1, "the quick fox jumped"),       # quick fox adjacent
         (2, "the quick brown fox jumped"), # gap 1
         (3, "the quick brown lazy fox"),   # gap 2
         (4, "the fox saw something quick"),# reversed, gap 3
         (5, "fox quick")],                 # reversed adjacent
        "id int, col string",
    )

    def ids(q):
        e = translate_text_match("col", q)
        return sorted(r.id for r in df.filter(F.expr(e)).collect())

    assert ids('"quick fox"~0') == [1]
    assert ids('"quick fox"~1') == [1, 2]
    assert ids('"quick fox"~2') == [1, 2, 3, 5]  # reversed adjacent = 2
    assert ids('"quick fox"~4') == [1, 2, 3, 4, 5]
    # slop-less phrases keep exact containment semantics
    assert ids('"quick fox"') == [1]


def test_json_extract_scalar_typed_and_default(hdb):
    rows = hdb.sql(
        "SELECT jsonextractscalar(props, '$.k', 'DOUBLE') AS kd, "
        "jsonextractscalar(props, '$.missing', 'LONG', 42) AS dflt, "
        "jsonextractscalar(props, '$.k') AS raw "
        "FROM events WHERE event_id = 0",
        default_limit=None,
    ).collect()
    r = rows[0]
    assert isinstance(r.kd, float)
    assert r.dflt == 42
    assert isinstance(r.raw, str)


def test_json_match_array_star_semantics(spark):
    """'[*]' paths use Pinot's flattened any-element semantics: the
    predicate matches when ANY array element satisfies it."""
    from hurricanedb_spark.sql.json_match import translate_json_match as t

    df = spark.createDataFrame(
        [
            (1, '{"tags": ["red", "blue"], "scores": [1, 9]}'),
            (2, '{"tags": ["green"], "scores": [2, 3]}'),
            (3, '{"tags": [], "scores": []}'),
        ],
        "id int, j string",
    )

    def ids(cond):
        return sorted(
            r.id for r in df.filter(F.expr(t("j", cond))).collect()
        )

    assert ids('"$.tags[*]" = \'red\'') == [1]
    assert ids('"$.scores[*]" > 5') == [1]
    assert ids('"$.scores[*]" <= 3') == [1, 2]
    assert ids('"$.tags[*]" IN (\'green\', \'red\')') == [1, 2]
    assert ids('"$.tags[*]" != \'red\'') == [1, 2]  # any element differs


def test_histogram_and_mv_aggregates(hdb):
    row = hdb.sql(
        "SELECT histogram(l_quantity, 0, 50, 5) AS bins FROM lineitem",
        default_limit=None,
    ).collect()[0]
    assert len(row.bins) == 5 and sum(row.bins) == 6000  # every qty in range
    row2 = hdb.sql(
        "SELECT distinctcountmv(embedding) AS dc, "
        "minmaxrangemv(embedding) AS mmr, "
        "percentilemv(embedding, 100) AS p100 FROM embeddings",
        default_limit=None,
    ).collect()[0]
    assert row2.dc > 0 and row2.mmr > 0
    gmax = hdb.sql(
        "SELECT max(array_max(embedding)) AS m FROM embeddings",
        default_limit=None,
    ).collect()[0].m
    assert row2.p100 == gmax  # percentile 100 = last sorted element


def test_mapvalue_inidset_regexpextract(hdb, spark):
    import base64 as _b64

    lit = _b64.b64encode(b"[2, 5]").decode()
    row = hdb.sql(
        "SELECT mapvalue(array('a','b'), 'b', array(10, 20)) AS mv, "
        "mapvalue(array('a'), 'zz', array(1)) AS mv_missing, "
        f"inidset(2, '{lit}') AS in_set, "
        f"inidset(3, '{lit}') AS out_set, "
        "regexpextract('ab-12-cd', '(\\\\d+)') AS whole, "
        "regexpextract('ab-12-cd', '(\\\\d+)', 1) AS grp, "
        "regexpextract('nope', '(\\\\d+)', 1, 'dflt') AS dflt",
        default_limit=1,
    ).collect()[0]
    assert row.mv == 20 and row.mv_missing is None
    assert row.in_set is True and row.out_set is False
    assert row.whole == "12" and row.grp == "12" and row.dflt == "dflt"


def test_json_match_midpath_array_star(spark):
    from hurricanedb_spark.sql.json_match import translate_json_match as t

    df = spark.createDataFrame(
        [
            (1, '{"items": [{"price": 5}, {"price": 20}]}'),
            (2, '{"items": [{"price": 1}]}'),
            (3, '{"items": []}'),
        ],
        "id int, j string",
    )
    got = sorted(
        r.id
        for r in df.filter(F.expr(t("j", '"$.items[*].price" > 10'))).collect()
    )
    assert got == [1]


def test_groovy_embedded_quote_and_malformed_escape():
    """Canonical SQL-doubled embedded quotes decode + emit correctly;
    inconsistently escaped input (one doubling level skipped) fails closed
    instead of emitting an unterminated Spark literal."""
    from hurricanedb_spark.sql.dialect import translate_groovy

    meta = "'{\"returnType\":\"STRING\"}'"
    out = translate_groovy([meta, "'arg0 == ''it''''s'''", "x"])
    assert out == "CAST(((x) = 'it''s') AS STRING)"
    with pytest.raises(ValueError, match="escaping"):
        translate_groovy([meta, "'arg0 == ''it''s'''", "x"])


def test_expand_qualified_stars_edges():
    """`t.*` expands only as a WHOLE select item; expression-context
    stars, unresolvable qualifiers, and non-identifier column names
    decline (None) so the caller keeps the single-phase form."""
    from hurricanedb_spark.sql.dialect import _expand_qualified_stars as ex

    schema = {"t": ["a", "b"], "u": ["c"]}
    look = lambda q: schema.get(q)  # noqa: E731
    assert ex("t.*, sum(x) AS s", look) == "t.a, t.b, sum(x) AS s"
    assert ex("u.*, t.*", look) == "u.c, t.a, t.b"
    assert ex("a, sum(x) AS s", look) == "a, sum(x) AS s"  # unchanged
    assert ex("count(t.*)", look) is None  # expression context
    assert ex("z.*", look) is None  # unresolvable qualifier
    assert ex("t.*", lambda q: ["weird col"]) is None  # needs quoting


def test_mv_percentile_qualified_star_restructures():
    """Round-14: the bounded-MV restructure expands `u.*` through the
    analyzer instead of declining on the `.*` guard (r13 verdict #3)."""
    from hurricanedb_spark.sql.dialect import rewrite_mv_percentile_bounded as rw

    def analyze(s):
        if "SELECT u.*" in s:
            return (["a", "b"], [])
        return (["k", "x", "kk", "a", "b"], [])

    q = (
        "SELECT u.*, percentileEstMV(t.x, 90) AS p "
        "FROM t JOIN u ON t.k = u.kk GROUP BY u.a, u.b"
    )
    out = rw(q, analyze=analyze)
    assert out != q and "percentile_approx" in out
    assert "explode(x)" in out and "GROUP BY a, b" in out
    # bare `*` still declines (helper-column leak)
    q2 = "SELECT *, percentileEstMV(x, 90) AS p FROM t GROUP BY a"
    assert rw(q2, analyze=analyze) == q2


def test_strip_declines_on_implicit_select_alias_collision():
    """Round-13 ADVICE (medium): the ORDER BY/HAVING alias-rebind guard
    only detected explicit `AS` aliases. With an IMPLICIT alias —
    `SELECT d.fam g ... ORDER BY t.g` — the strip proceeded and
    `ORDER BY g` silently rebound to the select alias (fam), reordering
    rows under LIMIT; the dry-run analysis passes so it was silent. The
    guard now catches `expr ident` spellings too and declines."""
    from hurricanedb_spark.sql.dialect import rewrite_mv_percentile_bounded as rw

    # subtree carries a real column g (from t) AND the select list
    # implicitly aliases d.fam as g: stripping ORDER BY t.g -> g would
    # rebind the sort to fam. Must decline (query returned unchanged).
    q = (
        "SELECT d.fam g, percentileEstMV(t.x, 90) AS p "
        "FROM t JOIN u d ON t.k = d.k GROUP BY d.fam ORDER BY t.g"
    )
    assert rw(q, analyze=lambda s: (["k", "x", "g", "kk", "fam"], [])) == q
    # the explicit-AS spelling of the same collision restructures via
    # alias PROJECTION (every item carries an AS): ORDER BY t.g binds
    # to the projected alias for t.g — resolved in the original FROM
    # scope — never to the select alias g, so no rebind is possible
    q_as = (
        "SELECT d.fam AS g, percentileEstMV(t.x, 90) AS p "
        "FROM t JOIN u d ON t.k = d.k GROUP BY d.fam ORDER BY t.g"
    )
    out_as = rw(q_as, analyze=lambda s: (["k", "x", "g", "kk", "fam"], []))
    m = re.search(r"t\.g AS (__q\d+_\w+)", out_as)
    assert m and out_as.rstrip().endswith(f"ORDER BY {m.group(1)}")
    # an implicit alias that IS the same column does not block the strip
    ok = rw(
        "SELECT t.g g, percentileEstMV(t.x, 90) AS p "
        "FROM t JOIN u d ON t.k = d.k GROUP BY t.g ORDER BY t.g",
        analyze=lambda s: (["k", "x", "g", "kk", "fam"], []),
    )
    assert "_mvsrc" in ok and "ORDER BY g" in ok


def test_mv_percentile_bounded_restructure_shapes():
    from hurricanedb_spark.sql.dialect import rewrite_mv_percentile_bounded as rw

    grouped = rw(
        "SELECT label, percentileTDigestMV(embedding, 95) AS p95 "
        "FROM embeddings GROUP BY label"
    )
    assert "percentile_approx" in grouped and "explode(embedding)" in grouped
    assert "collect_list" not in grouped and "LEFT JOIN" in grouped
    global_q = rw("SELECT percentileRawTDigestMV(embedding, 50) AS p FROM embeddings")
    # the RAW MV form builds the serialized digest (hex envelope), not
    # the estimate
    assert "CROSS JOIN" in global_q and "rawtdigest" in global_q
    assert "lower(hex(" in global_q
    # r11: a JOIN shape restructures too — the whole FROM subtree
    # becomes the _mvsrc CTE (rewrite_mode_avg_bounded pattern)
    joined = rw(
        "SELECT a, percentileEstMV(x, 90) AS p FROM t JOIN u ON t.k = u.k "
        "GROUP BY a"
    )
    assert "_mvsrc AS (SELECT * FROM t JOIN u ON t.k = u.k)" in joined
    assert "percentile_approx" in joined
    # r12: qualified outer refs restructure when `analyze` resolves them
    # uniquely in the subtree output; they strip to bare columns
    qual = rw(
        "SELECT u.a, percentileEstMV(t.x, 90) AS p FROM t JOIN u ON t.k = u.k "
        "GROUP BY u.a",
        analyze=lambda s: (["k", "x", "kk", "a"], []),
    )
    assert "_mvsrc AS (SELECT * FROM t JOIN u ON t.k = u.k)" in qual
    assert "explode(x)" in qual and "GROUP BY a" in qual
    # ...and decline when the bare name is ambiguous (both sides carry
    # it), when the qualifier is a STRUCT column (field access), or
    # when no analyzer is supplied; a qualifier colliding with a
    # NON-struct column is fine (dot access needs a struct)
    ok = rw(
        "SELECT u.a, percentileEstMV(t.x, 90) AS p FROM t JOIN u ON t.k = u.k "
        "GROUP BY u.a",
        analyze=lambda s: (["k", "x", "u", "a"], []),  # u a plain column
    )
    assert "_mvsrc" in ok
    for cols in (
        (["k", "x", "k", "a", "x"], []),  # ambiguous x
        (["k", "x", "u", "a"], ["u"]),  # u is a struct: field access
        None,
    ):
        q = (
            "SELECT u.a, percentileEstMV(t.x, 90) FROM t JOIN u ON t.k = u.k "
            "GROUP BY u.a"
        )
        assert rw(q, analyze=(lambda s, c=cols: c) if cols else None) == q
    # exact form and genuinely dynamic shapes fall back unchanged:
    # select-star, ordinal keys, set ops
    for q in (
        "SELECT percentileMV(embedding, 50) FROM embeddings",
        "SELECT *, percentileEstMV(x, 90) FROM t",
        "SELECT percentileEstMV(x, 90) FROM t GROUP BY 1",
        "SELECT percentileEstMV(x, 90) FROM t UNION "
        "SELECT percentileEstMV(x, 90) FROM u",
    ):
        assert rw(q) == q


def test_mv_percentile_bounded_live(hdb, spark):
    """Bounded TDigest MV percentile: no collect_list in the plan (state is
    O(sketch) per group, not O(values)), result within 2% of the exact
    form, NULL on empty groups even under ANSI mode."""
    q = (
        "SELECT label, percentileTDigestMV(embedding, 95) AS p95 "
        "FROM embeddings GROUP BY label ORDER BY label"
    )
    df = hdb.sql(q, default_limit=None)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "collect_list" not in plan
    bounded = df.collect()
    exact = hdb.sql(
        "SELECT label, percentileMV(embedding, 95) AS p95 "
        "FROM embeddings GROUP BY label ORDER BY label",
        default_limit=None,
    ).collect()
    assert len(bounded) == len(exact) > 0
    for a, b in zip(bounded, exact):
        assert a.label == b.label
        assert abs(a.p95 - b.p95) <= max(1e-9, abs(b.p95) * 0.02)
    # r11: a CTE-wrapped shape restructures too (subtree becomes _mvsrc)
    # and agrees with the exact macro over the same rows
    cte = hdb.sql(
        "WITH src AS (SELECT label, embedding FROM embeddings) "
        "SELECT label, percentileTDigestMV(embedding, 95) AS p95 "
        "FROM src GROUP BY label ORDER BY label",
        default_limit=None,
    )
    assert "collect_list" not in cte._jdf.queryExecution().executedPlan().toString()
    for a, b in zip(cte.collect(), exact):
        assert a.label == b.label
        assert abs(a.p95 - b.p95) <= max(1e-9, abs(b.p95) * 0.02)
    # r12: the qualified join spelling (`e.embedding`, `e.label`)
    # restructures too — qualifiers strip against the subtree output
    hdb.spark.sql(
        "SELECT label AS lbl FROM embeddings GROUP BY label"
    ).createOrReplaceTempView("mv_qual_dim")
    qual = hdb.sql(
        "SELECT e.label, percentileTDigestMV(e.embedding, 95) AS p95 "
        "FROM embeddings e JOIN mv_qual_dim d ON e.label = d.lbl "
        "GROUP BY e.label ORDER BY e.label",
        default_limit=None,
    )
    assert "collect_list" not in qual._jdf.queryExecution().executedPlan().toString()
    for a, b in zip(qual.collect(), exact):
        assert a.label == b.label
        assert abs(a.p95 - b.p95) <= max(1e-9, abs(b.p95) * 0.02)
    spark.conf.set("spark.sql.ansi.enabled", "true")
    try:
        r = hdb.sql(
            "SELECT percentileRawTDigestMV(embedding, 50) AS p, "
            "percentileMV(embedding, 100) AS pe "
            "FROM embeddings WHERE vec_id < 0",
            default_limit=None,
        ).collect()
        assert r[0].p is None and r[0].pe is None
    finally:
        spark.conf.set("spark.sql.ansi.enabled", "false")


def test_text_match_three_term_slop_lucene_semantics(spark):
    """k-term sloppy phrases use the exact SloppyPhraseMatcher rule:
    max_m(p_m - m) - min_m(p_m - m) <= slop over per-term token
    positions; repeated terms need distinct positions. Golden vectors
    derived from Lucene's documented costs (gap = 1 each, adjacent
    transposition = 2, full reversal of 3 terms = 4)."""
    docs = [
        (1, "one two three"),        # exact
        (2, "one two x three"),      # one gap        -> slop 1
        (3, "one three two"),        # transposition  -> slop 2
        (4, "three two one"),        # full reversal  -> slop 4
        (5, "one x x two three"),    # two gaps, same offset shift -> slop 2
        (6, "one two"),              # missing term: never matches
    ]
    df = spark.createDataFrame(docs, "id int, text string")

    def ids(frame, q):
        cond = F.expr(translate_text_match("text", q))
        return sorted(r.id for r in frame.filter(cond).collect())

    assert ids(df, '"one two three"~0') == [1]
    assert ids(df, '"one two three"~1') == [1, 2]
    assert ids(df, '"one two three"~2') == [1, 2, 3, 5]
    assert ids(df, '"one two three"~3') == [1, 2, 3, 5]
    assert ids(df, '"one two three"~4') == [1, 2, 3, 4, 5]
    # repeated terms must occupy distinct positions
    rep = spark.createDataFrame(
        [(1, "two two"), (2, "x two x")], "id int, text string"
    )
    assert ids(rep, '"two two"~0') == [1]


def test_mv_percentile_restructure_literal_masking():
    """Clause keywords inside string literals must not steer the shape
    parse (WHERE name = 'x group by y' once split into a bogus GROUP BY)."""
    from hurricanedb_spark.sql.dialect import rewrite_mv_percentile_bounded as rw

    out = rw(
        "SELECT percentileTDigestMV(vals, 50) AS p FROM t "
        "WHERE name = 'x group by y'"
    )
    assert "WHERE name = 'x group by y'" in out and "percentile_approx" in out
    # a literal containing ' from ' must not trip the single-FROM bail
    out2 = rw(
        "SELECT percentileTDigestMV(vals, 50) AS p FROM t WHERE name = 'a from b'"
    )
    assert "percentile_approx" in out2
    # HAVING referencing the call routes through the bounded column
    out3 = rw(
        "SELECT grp, count(*) AS n FROM t GROUP BY grp "
        "HAVING percentileTDigestMV(vals, 50) > 3"
    )
    assert "HAVING min(_tdmv_0) > 3" in out3


def test_exact_mv_percentile_rank_widened_to_bigint():
    """size() is INT; without a BIGINT widen the rank multiply overflows
    for groups past ~21M MV values at p=95 (found by
    tools/bench_mv_percentile.py at a 32M-value hot group)."""
    from hurricanedb_spark.sql.dialect import _PCTL_MV_EXACT

    assert "CAST(size(flatten(collect_list($1))) AS BIGINT) * ($2)" in _PCTL_MV_EXACT


def test_mv_percentile_bounded_multiple_columns_and_pcts(spark):
    """Two distinct MV columns and repeated percentiles: one exploded CTE
    per column, every call routed to its own bounded output column."""
    from hurricanedb_spark.sql.dialect import HurricaneSQL

    df = spark.range(200).selectExpr(
        "id % 4 AS grp",
        "transform(sequence(1, 10), i -> CAST(id * 10 + i AS DOUBLE)) AS a",
        "transform(sequence(1, 5), i -> CAST(id + i AS DOUBLE)) AS b",
    )
    hdb = HurricaneSQL(spark)
    hdb.register("mv2", df)
    got = hdb.sql(
        "SELECT grp, percentileTDigestMV(a, 50) AS a50, "
        "percentileTDigestMV(a, 90) AS a90, "
        "percentileRawTDigestMV(b, 50) AS b50 "
        "FROM mv2 GROUP BY grp ORDER BY grp",
        default_limit=None,
    )
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "collect_list" not in plan
    rows = got.collect()
    exact = hdb.sql(
        "SELECT grp, percentileMV(a, 50) AS a50, percentileMV(a, 90) AS a90, "
        "percentileMV(b, 50) AS b50 FROM mv2 GROUP BY grp ORDER BY grp",
        default_limit=None,
    ).collect()
    assert len(rows) == 4
    from hurricanedb_spark.operators.tdigest import deserialize_tdigest

    for r, e in zip(rows, exact):
        assert r.grp == e.grp
        for c in ("a50", "a90"):
            assert abs(getattr(r, c) - getattr(e, c)) <= abs(getattr(e, c)) * 0.05
        # b50 is the RAW form: a hex-serialized t-digest whose median
        # estimate must track the exact MV percentile
        d = deserialize_tdigest(bytes.fromhex(r.b50))
        assert abs(d.quantile(0.5) - e.b50) <= abs(e.b50) * 0.05
    # monotonic sanity: a90 >= a50 within each group
    assert all(r.a90 >= r.a50 for r in rows)


def test_slop_fuzz_vs_duckdb(spark, sf_dir):
    """Seeded fuzz of the k-term sloppy-phrase translator: random 2-4 term
    phrases (duplicates included) at random slops, Spark match count vs
    the DuckDB replay of the same SloppyPhraseMatcher position algebra."""
    import random

    import duckdb

    from hurricanedb_spark.catalog.tables import load_table
    from hurricanedb_spark.queries.ingestion_q import _duck_slop_pred

    rng = random.Random(99)
    vocab = ["fast", "table", "value", "scan", "key", "row", "agg",
             "batch", "spark", "order", "data", "line"]
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{sf_dir}/documents.parquet'"
    )
    docs = load_table(spark, sf_dir, "documents").cache()
    # seeded case list first (deterministic), then both engines count
    # concurrently (guide §2.6 — 15 independent sub-second actions)
    from concurrent.futures import ThreadPoolExecutor

    cases = []
    for _ in range(15):
        k = rng.choice([2, 2, 3, 3, 4])
        words = [rng.choice(vocab) for _ in range(k)]  # duplicates allowed
        slop = rng.randint(0, 4)
        cases.append((words, slop))

    def counts(case):
        words, slop = case
        q = '"' + " ".join(words) + f'"~{slop}'
        cond = translate_text_match("text", q)
        n_spark = docs.filter(F.expr(cond)).count()
        n_duck = con.cursor().execute(
            f"SELECT count(*) FROM documents WHERE {_duck_slop_pred(words, slop)}"
        ).fetchone()[0]
        return q, n_spark, n_duck

    with ThreadPoolExecutor(max_workers=8) as pool:
        results = list(pool.map(counts, cases))
    n_nonzero = 0
    for q, n_spark, n_duck in results:
        assert n_spark == n_duck, (q, n_spark, n_duck)
        n_nonzero += n_spark > 0
    docs.unpersist()
    assert n_nonzero >= 3  # the cases actually exercise matches


def test_mv_hll_distinct_bounded_restructure(hdb, spark):
    """distinctCountHLL*MV routes through the bounded restructure (HLL++
    sketch state via approx_count_distinct over the exploded CTE, rsd
    0.016 ~ the reference's log2m=12 default): no collect_set of arrays
    in the plan, estimates within 5% of exact, 0 (not NULL) for empty
    groups, and a TDigest call on the same column shares the CTE."""
    q = (
        "SELECT label, distinctCountHLLMV(embedding) AS dc, "
        "percentileTDigestMV(embedding, 95) AS p95 "
        "FROM embeddings GROUP BY label ORDER BY label"
    )
    df = hdb.sql(q, default_limit=None)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "collect_set" not in plan and "collect_list" not in plan
    rows = df.collect()
    exact = hdb.sql(
        "SELECT label, distinctCountMV(embedding) AS dc FROM embeddings "
        "GROUP BY label ORDER BY label",
        default_limit=None,
    ).collect()
    assert len(rows) == len(exact) > 0
    for a, b in zip(rows, exact):
        assert abs(a.dc - b.dc) <= max(2, b.dc * 0.05), (a, b)
    r = hdb.sql(
        "SELECT distinctCountHLLMV(embedding) AS dc FROM embeddings "
        "WHERE vec_id < 0",
        default_limit=None,
    ).collect()
    assert r[0].dc == 0


def test_mv_raw_hll_returns_serialized_sketch(hdb, spark):
    """distinctCountRawHLLMV returns the SERIALIZED HLL sketch of the
    exploded MV values as a lowercase-HEX STRING (the reference's raw
    HLL envelope, SerializedHLL.toString), not a count — the bytes are
    the CLEARSPRING HyperLogLog wire format (HyperLogLog.getBytes), and
    their estimate must track the exact MV distinct count."""
    rows = hdb.sql(
        "SELECT label, distinctCountRawHLLMV(embedding) AS sk "
        "FROM embeddings GROUP BY label ORDER BY label",
        default_limit=None,
    ).collect()
    exact = {
        r["label"]: r["dc"]
        for r in hdb.sql(
            "SELECT label, distinctCountMV(embedding) AS dc "
            "FROM embeddings GROUP BY label",
            default_limit=None,
        ).collect()
    }
    assert rows
    from hurricanedb_spark.operators.clearspring_hll import ClearspringHLL

    for r in rows:
        # lowercase-hex STRING envelope (SerializedHLL.toString — raw
        # HLL is hex in the reference, unlike raw theta's base64)
        assert isinstance(r["sk"], str) and r["sk"] == r["sk"].lower()
        est = ClearspringHLL.deserialize(bytes.fromhex(r["sk"])).cardinality()
        want = exact[r["label"]]
        # default log2m=8 (the reference's DEFAULT_HYPERLOGLOG_LOG2M):
        # rsd = 1.04/sqrt(256) = 6.5%; bound at ~2 sigma
        assert abs(est - want) <= max(2, want * 0.14), (r["label"], est, want)
    # r13 alias projection: the ambiguous-qualified self-join shape
    # (embedding on BOTH sides, so the qualifier strip declines) now
    # RESTRUCTURES via `e.embedding AS __q0_<tag>` instead of raising —
    # it returns a valid clearspring sketch whose estimate tracks the
    # exact distinct count (the join on vec_id pairs each row with
    # itself, so the element population is unchanged)
    row = hdb.sql(
        "SELECT distinctCountRawHLLMV(e.embedding) AS sk "
        "FROM embeddings e JOIN embeddings e2 ON e.vec_id = e2.vec_id",
        default_limit=None,
    ).collect()[0]
    assert isinstance(row["sk"], str) and row["sk"] == row["sk"].lower()
    est = ClearspringHLL.deserialize(bytes.fromhex(row["sk"])).cardinality()
    exact_all = hdb.sql(
        "SELECT distinctCountMV(embedding) AS dc FROM embeddings",
        default_limit=None,
    ).collect()[0]["dc"]
    assert abs(est - exact_all) <= max(2, exact_all * 0.14), (est, exact_all)
    # the UNALIASED composite spelling still declines the restructure
    # (r13 ADVICE: projecting refs inside an unaliased item would change
    # the auto-generated output column name) and refuses loudly instead
    # of silently returning a wrong-typed count (the r8 raw-theta class)
    with pytest.raises(Exception, match="serialized HLL sketch"):
        hdb.sql(
            "SELECT distinctCountRawHLLMV(e.embedding) "
            "FROM embeddings e JOIN embeddings e2 ON e.vec_id = e2.vec_id",
            default_limit=None,
        ).collect()


def test_bounded_mv_restructure_falls_back_for_alias_group_keys():
    """GROUP BY over a select-list alias resolves in plain Spark GROUP BY
    but not inside the generated CTE/join — those shapes must keep the
    exact macro instead of being restructured."""
    from hurricanedb_spark.sql.dialect import rewrite_mv_percentile_bounded

    q = (
        "SELECT label AS l, percentileTDigestMV(embedding, 95) AS p "
        "FROM embeddings GROUP BY l"
    )
    assert rewrite_mv_percentile_bounded(q) == q
    # a plain column key still restructures
    q2 = (
        "SELECT label, percentileTDigestMV(embedding, 95) AS p "
        "FROM embeddings GROUP BY label"
    )
    assert rewrite_mv_percentile_bounded(q2) != q2
    # an alias that happens to equal the underlying column name is fine
    q3 = (
        "SELECT label AS label, percentileTDigestMV(embedding, 95) AS p "
        "FROM embeddings GROUP BY label"
    )
    assert rewrite_mv_percentile_bounded(q3) == q3  # conservative fallback


def test_explain_implementation_plan(spark, sf_dir):
    """V2 `EXPLAIN IMPLEMENTATION PLAN` analog
    (ExplainPlanStageVisitor.java): stage-annotated [k]@host lines with
    MAIL_SEND/MAIL_RECEIVE pairs at every exchange, distribution kinds
    named, and broadcast joins visible as BROADCAST mailboxes."""
    from hurricanedb_spark.sql.dialect import HurricaneSQL

    hdb = HurricaneSQL(spark, sf_dir=sf_dir)
    plan = hdb.sql(
        "EXPLAIN IMPLEMENTATION PLAN FOR "
        "SELECT l_returnflag, COUNT(*) AS n FROM lineitem "
        "JOIN orders ON l_orderkey = o_orderkey "
        "GROUP BY l_returnflag ORDER BY n DESC"
    ).collect()[0]["plan"]
    lines = plan.splitlines()
    assert all(l.startswith("[") and "]@" in l for l in lines)
    sends = [l for l in lines if "MAIL_SEND" in l]
    recvs = [l for l in lines if "MAIL_RECEIVE" in l]
    assert len(sends) == len(recvs) >= 2  # agg shuffle + broadcast at least
    assert any("MAIL_SEND(HASH)" in l for l in sends)
    assert any("MAIL_SEND(BROADCAST)" in l for l in sends)
    # every send names its receiver stage: MAIL_SEND(..)->{[k]@host}
    assert all("->{[" in l for l in sends)
    # stage ids increase from the root; the final aggregate's partial
    # phase lives in a deeper stage than its final phase
    stages = [int(l[1 : l.index("]")]) for l in lines]
    assert stages[0] == 0 and max(stages) >= 2


# ---------------------------------------------------------------------------
# round 8: filtered multi-arg distinctCountThetaSketch + arity-strict macros


def test_theta_filtered_rewrite_intersect():
    q = ("SELECT distinctCountThetaSketch(ck, 'nominalEntries=4096', "
         "'s = ''F''', 's = ''O''', 'SET_INTERSECT($1, $2)') FROM t")
    out = rewrite_functions(q)
    # inclusion-exclusion: |A∩B| = |A| + |B| - |A∪B|, each term a fully
    # distributed count(DISTINCT) — no per-group collect_set arrays
    assert "count(DISTINCT CASE WHEN (s = 'F') THEN (ck) END)" in out
    assert "(-1) * count(DISTINCT CASE WHEN (s = 'F') OR (s = 'O') THEN (ck) END)" in out
    assert "collect_set" not in out
    assert "approx_count_distinct" not in out  # r7 defect: silent fallback
    assert "AS BIGINT" in out  # reference rounds the estimate to a long


def test_theta_filtered_rewrite_nested_and_default_sketch():
    # $0 = unfiltered default sketch: $0 \ A = |all| - |A|
    q = ("SELECT distinctCountThetaSketch(ck, '', 'a = 1', "
         "'SET_DIFF($0, $1)') FROM t")
    out = rewrite_functions(q)
    assert "(1) * count(DISTINCT (ck))" in out
    assert "(-1) * count(DISTINCT CASE WHEN (a = 1) THEN (ck) END)" in out
    # nested: (A∪B) \ $0 is empty over feasible values -> terms cancel
    q2 = ("SELECT distinctCountThetaSketch(ck, '', 'a = 1', 'b = 2', "
          "'SET_DIFF(SET_UNION($1, $2), $0)') FROM t")
    out2 = rewrite_functions(q2)
    assert "(-1) * count(DISTINCT (ck)) + (1) * count(DISTINCT (ck))" in out2


def test_theta_filtered_rewrite_varargs_union():
    q = ("SELECT distinctCountThetaSketch(ck, '', 'a=1', 'b=2', 'c=3', "
         "'SET_UNION($1, $2, $3)') FROM t")
    out = rewrite_functions(q)
    # a plain union needs exactly ONE distinct-count term (OR of all three)
    assert out.count("count(DISTINCT") == 1
    assert "(a=1) OR (b=2) OR (c=3)" in out


def test_theta_filtered_rewrite_rejections():
    # 3-arg form: the reference silently ignores arg 3; this engine refuses
    with pytest.raises(ValueError, match="ambiguous"):
        rewrite_functions(
            "SELECT distinctCountThetaSketch(ck, '', 'a = 1') FROM t"
        )
    # sketch id beyond the filter count
    with pytest.raises(ValueError, match="exceeds number of filters"):
        rewrite_functions(
            "SELECT distinctCountThetaSketch(ck, '', 'a = 1', "
            "'SET_UNION($1, $2)') FROM t"
        )
    # SET_DIFF arity (validatePostAggregationExpression: exactly 2)
    with pytest.raises(ValueError, match="SET_DIFF"):
        rewrite_functions(
            "SELECT distinctCountThetaSketch(ck, '', 'a = 1', "
            "'SET_DIFF($1)') FROM t"
        )
    # unknown set operation
    with pytest.raises(ValueError, match="Invalid set operation"):
        rewrite_functions(
            "SELECT distinctCountThetaSketch(ck, '', 'a = 1', "
            "'SET_XOR($1, $1)') FROM t"
        )


def test_theta_filtered_executes(hdb):
    rows = hdb.sql(
        """
        SELECT distinctCountThetaSketch(o_custkey, 'nominalEntries=4096',
                 'o_orderstatus = ''F''', 'o_orderstatus = ''O''',
                 'SET_INTERSECT($1, $2)') AS dc_i,
               distinctCountThetaSketch(o_custkey, '',
                 'o_orderstatus = ''F''', 'SET_DIFF($0, $1)') AS dc_rest
        FROM orders
        """,
        default_limit=None,
    ).collect()
    exact = hdb.spark.sql(
        """
        SELECT count(DISTINCT CASE WHEN o_orderstatus = 'F' THEN o_custkey END)
             + count(DISTINCT CASE WHEN o_orderstatus = 'O' THEN o_custkey END)
             - count(DISTINCT CASE WHEN o_orderstatus IN ('F','O')
                     THEN o_custkey END) AS dc_i
        FROM orders
        """
    ).collect()[0]["dc_i"]
    assert rows[0]["dc_i"] == exact


def test_agg_template_arity_strict():
    # the r7 silent-drop class: extra args must raise, never be dropped
    for bad in (
        "SELECT distinctcount(a, b) FROM t",
        "SELECT minmaxrange(a, b) FROM t",
        "SELECT percentileest(a) FROM t",
        "SELECT arraylength(a, b) FROM t",  # macro path
    ):
        with pytest.raises(ValueError, match="expects"):
            rewrite_functions(bad)


def test_hll_log2m_mapped_not_dropped():
    out = rewrite_functions("SELECT distinctCountHLL(x, 8) FROM t")
    assert "approx_count_distinct(x, 0.065" in out  # 1.04/sqrt(2^8)
    out = rewrite_functions("SELECT distinctCountRawHLL(x, 14) FROM t")
    assert "rawclearspringhll(x, 14)" in out
    with pytest.raises(ValueError, match="log2m out of range"):
        rewrite_functions("SELECT distinctCountRawHLL(x, 40) FROM t")
    # log2m < 4 maps to rsd > 0.26, past approx_count_distinct's cap —
    # the error must name distinctCountHLL, not Spark's internal check
    with pytest.raises(ValueError, match="distinctCountHLL log2m"):
        rewrite_functions("SELECT distinctCountHLL(x, 3) FROM t")
    with pytest.raises(ValueError, match="distinctCountHLL log2m"):
        rewrite_functions("SELECT distinctCountHLL(x, 31) FROM t")


def test_first_last_with_time_3arg():
    out = rewrite_functions("SELECT firstWithTime(v, ts, 'LONG') FROM t")
    assert "min_by(CAST(v AS BIGINT), ts)" in out
    out = rewrite_functions("SELECT lastWithTime(v, ts, 'STRING') FROM t")
    assert "max_by(CAST(v AS STRING), ts)" in out
    with pytest.raises(ValueError, match="dataType"):
        rewrite_functions("SELECT firstWithTime(v, ts, 'BLOB') FROM t")


def test_sumprecision_optional_args():
    out = rewrite_functions("SELECT sumPrecision(v, 20, 2) FROM t")
    assert "bround" in out and "DECIMAL(20,2)" in out
    with pytest.raises(ValueError, match="significant"):
        rewrite_functions("SELECT sumPrecision(v, 20) FROM t")


def test_truncate_negative_scale(hdb):
    # BigDecimal.setScale accepts negative scales: truncate(123.45, -1)
    # = 120.0 (ADVICE r7) — previously returned the value unchanged
    row = hdb.sql(
        "SELECT truncate(123.45, -1) AS a, truncate(-987.6, -2) AS b, "
        "truncate(55.0, -3) AS c FROM region",
        default_limit=1,
    ).collect()[0]
    assert row["a"] == 120.0 and row["b"] == -900.0 and row["c"] == 0.0


def test_rounddecimal_1arg_math_round(hdb):
    # Math.round = floor(x + 0.5): roundDecimal(-2.5) = -2.0, not -3.0
    row = hdb.sql(
        "SELECT roundDecimal(-2.5) AS a, roundDecimal(2.5) AS b, "
        "roundDecimal(-2.6) AS c FROM region",
        default_limit=1,
    ).collect()[0]
    assert row["a"] == -2.0 and row["b"] == 3.0 and row["c"] == -3.0


def test_wkt_point_space_free(hdb):
    # JTS WKTReader accepts 'POINT(1 2)' — the SQL constructors must too
    row = hdb.sql(
        "SELECT ST_Distance(ST_GeomFromText('POINT(10 20)'), "
        "ST_GeomFromText('POINT (10 20)')) AS d FROM region",
        default_limit=1,
    ).collect()[0]
    assert row["d"] == 0.0


def test_rewrite_error_drops_accel_views(hdb):
    # a ValueError raised AFTER an accel rewrite created its temp view
    # must not leak the view in the session catalog (ADVICE r7)
    before = {t.name for t in hdb.spark.catalog.listTables()}
    with pytest.raises(ValueError):
        hdb.sql(
            "SELECT distinctcount(l_orderkey, l_suppkey) FROM lineitem"
        )
    after = {t.name for t in hdb.spark.catalog.listTables()}
    assert after == before


def test_theta_set_expr_randomized_vs_python_sets(hdb):
    """Property probe: random nested SET_UNION/SET_INTERSECT/SET_DIFF
    expressions over three filters, the translated SQL's cardinality
    must equal the python-set ground truth computed independently."""
    import random

    rng = random.Random(42)
    rows = [(i, i % 7, i % 5, i % 3) for i in range(200)]
    hdb.spark.createDataFrame(rows, "v int, a int, b int, c int") \
        .createOrReplaceTempView("theta_prop_t")
    filters = ["a = 1", "b < 2", "c != 0"]
    universe = {r[0] for r in rows}
    sets = {
        0: set(universe),
        1: {r[0] for r in rows if r[1] == 1},
        2: {r[0] for r in rows if r[2] < 2},
        3: {r[0] for r in rows if r[3] != 0},
    }

    def gen(depth):
        if depth == 0 or rng.random() < 0.35:
            return f"${rng.randint(0, 3)}"
        op = rng.choice(["SET_UNION", "SET_INTERSECT", "SET_DIFF"])
        n = 2 if op == "SET_DIFF" else rng.randint(2, 3)
        return f"{op}({', '.join(gen(depth - 1) for _ in range(n))})"

    def ground_truth(expr):
        expr = expr.strip()
        if expr.startswith("$"):
            return sets[int(expr[1:])]
        op, body = expr.split("(", 1)
        depth, args, start = 0, [], 0
        body = body[: body.rindex(")")]
        for i, ch in enumerate(body):
            if ch == "(":
                depth += 1
            elif ch == ")":
                depth -= 1
            elif ch == "," and depth == 0:
                args.append(body[start:i])
                start = i + 1
        args.append(body[start:])
        parts = [ground_truth(a) for a in args]
        if op == "SET_UNION":
            out = set().union(*parts)
        elif op == "SET_INTERSECT":
            out = parts[0]
            for p in parts[1:]:
                out = out & p
        else:
            out = parts[0] - parts[1]
        return out

    exprs = [gen(3) for _ in range(12)]
    quoted = [e.replace("'", "''") for e in exprs]
    sel = ", ".join(
        "distinctCountThetaSketch(v, '', "
        + ", ".join(f"'{f}'" for f in filters)
        + f", '{e}') AS x{i}"
        for i, e in enumerate(quoted)
    )
    row = hdb.sql(
        f"SELECT {sel} FROM theta_prop_t", default_limit=None
    ).collect()[0]
    for i, e in enumerate(exprs):
        assert row[f"x{i}"] == len(ground_truth(e)), e


def test_theta_fallback_array_path_above_cap(hdb):
    """Expressions referencing >6 sketches take the collect_set array
    fallback; result must match the python-set ground truth too."""
    hdb.spark.createDataFrame(
        [(i,) for i in range(100)], "v int"
    ).createOrReplaceTempView("theta_cap_t")
    filters = [f"v % {p} = 0" for p in (2, 3, 5, 7, 11, 13, 17)]
    expr = "SET_UNION(" + ", ".join(f"${i}" for i in range(1, 8)) + ")"
    q = (
        "SELECT distinctCountThetaSketch(v, '', "
        + ", ".join(f"'{f}'" for f in filters)
        + f", '{expr}') AS x FROM theta_cap_t"
    )
    from hurricanedb_spark.sql.dialect import rewrite_functions as _rw

    assert "collect_set" in _rw(q)  # above the cap -> array path
    got = hdb.sql(q, default_limit=None).collect()[0]["x"]
    want = len({
        i for i in range(100) if any(i % p == 0 for p in (2, 3, 5, 7, 11, 13, 17))
    })
    assert got == want


def test_smarthll_params_form(hdb):
    # 2-arg SmartHLL takes a parameters STRING; the engine answers
    # exactly in both of the reference's regimes (exact below threshold,
    # HLL above), so the result equals plain count(DISTINCT)
    out = rewrite_functions(
        "SELECT distinctCountSmartHLL(x, 'threshold=10;log2m=8') FROM t"
    )
    assert "count(DISTINCT x)" in out
    with pytest.raises(ValueError, match="invalid parameter"):
        rewrite_functions(
            "SELECT distinctCountSmartHLL(x, 'bogus=1') FROM t"
        )
    row = hdb.sql(
        "SELECT distinctCountSmartHLL(l_suppkey, 'threshold=1') AS dc "
        "FROM lineitem",
        default_limit=None,
    ).collect()[0]
    assert row["dc"] == 10


def test_mode_reducers(hdb):
    """ModeAggregationFunction: Double result, MultiModeReducerType
    MIN (default) / MAX / AVG tie-breaking — exact vs hand-computed
    over a two-way tie {1: x3, 4: x3}."""
    hdb.spark.createDataFrame(
        [(v,) for v in (1, 1, 1, 4, 4, 4, 2)], "x int"
    ).createOrReplaceTempView("mode_t")
    row = hdb.sql(
        "SELECT mode(x) AS m_def, mode(x, 'MIN') AS m_min, "
        "mode(x, 'MAX') AS m_max, mode(x, 'AVG') AS m_avg FROM mode_t",
        default_limit=None,
    ).collect()[0]
    assert row["m_def"] == 1.0 and row["m_min"] == 1.0
    assert row["m_max"] == 4.0
    assert row["m_avg"] == 2.5
    with pytest.raises(ValueError, match="MultiModeReducerType"):
        hdb.sql("SELECT mode(x, 'MEDIAN') FROM mode_t")
    with pytest.raises(ValueError, match="at most 2"):
        hdb.sql("SELECT mode(x, 'MIN', 3) FROM mode_t")


def test_mode_avg_matches_counter_model(hdb):
    """mode(x, 'AVG') == average of ALL most-frequent values, checked
    against a Counter model over groups engineered with 1-, 2- and
    3-way ties, a singleton group, and a NULL-bearing group."""
    from collections import Counter

    groups = {
        "one": [5, 5, 5, 2, 2, 9],
        "two_way": [1, 1, 4, 4, 7],
        "three_way": [3, 3, 6, 6, 9, 9, 2],
        "single": [8],
        "with_null": [2, 2, None, 7, 7, None],
    }
    rows = [(g, v) for g, vs in groups.items() for v in vs]
    hdb.spark.createDataFrame(rows, "g string, x int") \
        .createOrReplaceTempView("mode_avg_t")
    got = {
        r["g"]: r["m"]
        for r in hdb.sql(
            "SELECT g, mode(x, 'AVG') AS m FROM mode_avg_t GROUP BY g",
            default_limit=None,
        ).collect()
    }
    for g, vs in groups.items():
        c = Counter(v for v in vs if v is not None)
        best = max(c.values())
        modes = [v for v, n in c.items() if n == best]
        assert got[g] == pytest.approx(sum(modes) / len(modes)), (g, got[g])


def test_mode_avg_hot_group_linear(hdb):
    """Round-8 wart: the AVG tie reducer rebuilt a frequency map per
    element (quadratic in the group size) — a 1M-row hot group would
    never finish. The sorted run-length fold is linear: 1M rows with 10
    distinct values must complete (seconds, not hours) and be exact."""
    import time

    from pyspark.sql import functions as F

    hdb.spark.range(1_000_000).select(
        F.lit("g").alias("g"),
        # 0..9, each 100k times except value 7 which also takes the
        # id<10 band -> unique mode 7
        F.when(F.col("id") < 10, F.lit(7))
        .otherwise((F.col("id") % 10).cast("int"))
        .alias("x"),
    ).createOrReplaceTempView("mode_hot_t")
    t0 = time.time()
    row = hdb.sql(
        "SELECT g, mode(x, 'AVG') AS m FROM mode_hot_t GROUP BY g",
        default_limit=None,
    ).collect()[0]
    elapsed = time.time() - t0
    assert row["m"] == 7.0
    assert elapsed < 120, f"hot-group mode AVG took {elapsed:.0f}s"


def test_mode_avg_restructures_to_value_counts(hdb):
    """Round-10: single-table mode(col,'AVG') rewrites to a
    pre-aggregated value-counts shape (rewrite_mode_avg_bounded) — per
    group state is O(distinct) like ModeAggregationFunction.java:65-75's
    value->count map, and the hot-group buffer (collect_list of every
    row) disappears from the plan."""
    from hurricanedb_spark.sql.dialect import rewrite_mode_avg_bounded

    q = "SELECT g, mode(x, 'AVG') AS m FROM mode_hot_t GROUP BY g"
    assert rewrite_mode_avg_bounded(q) != q
    df = hdb.sql(q, default_limit=None)
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    assert "collect_list" not in plan
    assert df.collect()[0]["m"] == 7.0
    # MIN/MAX reducers keep Spark's native mode() (already O(distinct))
    q_min = "SELECT g, mode(x, 'MIN') AS m FROM mode_hot_t GROUP BY g"
    assert rewrite_mode_avg_bounded(q_min) == q_min


def test_restructures_keep_unaliased_output_names(spark):
    """An unaliased MV-percentile or mode-AVG call is named as the exact
    macro names it, whether or not the restructure fires; the raw-digest
    family already pinned its names this way."""
    hq = HurricaneSQL(spark)
    hq.register(
        "pin_t",
        spark.range(40).selectExpr(
            "id % 3 AS g", "CAST(id % 5 AS DOUBLE) AS x",
            "array(CAST(id AS DOUBLE), CAST(id + 1 AS DOUBLE)) AS arr",
        ),
    )
    for q, family in (
        ("SELECT g, percentileTDigestMV(arr, 95) FROM pin_t GROUP BY g", "mv_percentile"),
        ("SELECT g, mode(x, 'AVG') FROM pin_t GROUP BY g", "mode_avg"),
    ):
        got = hq.sql(q, default_limit=None)
        notes = hq._request.notes
        assert [n["restructure"] for n in notes if "restructure" in n] == [family]
        assert got.columns == spark.sql(rewrite_functions(q)).columns, q
        assert len(got.collect()) == 3, q


def test_mode_avg_join_shape_restructures(hdb):
    """Round-11 (r10 verdict #7): a JOIN-shaped mode(col,'AVG') routes
    through the value-counts restructure too — the whole FROM subtree
    becomes the _msrc CTE, so the O(rows/group) collect_list fold is
    gone from joined inputs as well. Exact on ties."""
    hdb.spark.createDataFrame(
        [("one", 1), ("one", 1), ("one", 4), ("one", 4), ("one", 9)],
        "g string, x int",
    ).createOrReplaceTempView("mode_join_t")
    hdb.spark.createDataFrame(
        [("one", "fam")], "g string, fam string"
    ).createOrReplaceTempView("mode_join_dim")
    df = hdb.sql(
        "SELECT fam, mode(x, 'AVG') AS m FROM mode_join_t t "
        "JOIN mode_join_dim d ON t.g = d.g GROUP BY fam",
        default_limit=None,
    )
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    assert "collect_list" not in plan
    assert df.collect()[0]["m"] == 2.5  # avg of tied modes {1, 4}


def test_mode_avg_qualified_tail_restructures(hdb):
    """Round-12 (r11 verdict #1): qualified outer refs — the most common
    join spelling — restructure too: `d.fam` strips to `fam` against the
    collapsed _msrc output (unique, non-struct), so the value-counts
    shape replaces the linear fold for this spelling as well."""
    hdb.spark.createDataFrame(
        [("one", 1), ("one", 1), ("one", 4), ("one", 4), ("one", 9)],
        "g string, x int",
    ).createOrReplaceTempView("mode_join_t")
    hdb.spark.createDataFrame(
        [("one", "fam")], "g string, fam string"
    ).createOrReplaceTempView("mode_join_dim")
    df = hdb.sql(
        "SELECT d.fam AS fam, mode(x, 'AVG') AS m FROM mode_join_t t "
        "JOIN mode_join_dim d ON t.g = d.g GROUP BY d.fam",
        default_limit=None,
    )
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    assert "collect_list" not in plan
    assert df.collect()[0]["m"] == 2.5  # avg of tied modes {1, 4}
    # ambiguous bare name (g on both sides): the strip declines, but
    # r13 alias PROJECTION restructures anyway — `t.g` is projected into
    # the source CTE under a generated alias resolved in the original
    # FROM scope (no rebinding possible), the select item keeps its
    # output name (`__q0_<tag> AS g`), and the value-counts shape still
    # replaces the linear collect_list fold
    df2 = hdb.sql(
        "SELECT t.g, mode(x, 'AVG') AS m FROM mode_join_t t "
        "JOIN mode_join_dim d ON t.g = d.g GROUP BY t.g",
        default_limit=None,
    )
    plan2 = df2._sc._jvm.PythonSQLUtils.explainString(
        df2._jdf.queryExecution(), "formatted"
    )
    assert "collect_list" not in plan2  # restructured, not the fold macro
    assert df2.columns == ["g", "m"]  # output name preserved
    assert df2.collect()[0]["m"] == 2.5


def test_mode_avg_reserved_cte_name_falls_back(hdb):
    """Round-11 ADVICE: a user CTE named _msrc would collide with the
    generated CTE (duplicate-name AnalysisException) — the session-level
    dry-run catches it and keeps the fold macro, so the wrap never turns
    a working query into an error."""
    df = hdb.sql(
        "WITH _msrc AS (SELECT g, x FROM mode_join_t WHERE x < 9) "
        "SELECT g, mode(x, 'AVG') AS m FROM _msrc GROUP BY g",
        default_limit=None,
    )
    assert df.collect()[0]["m"] == 2.5  # {1,1,4,4}: tied modes 1 and 4


def test_mode_avg_cte_shape_restructures(hdb):
    """WITH-prefixed shapes keep their CTEs and still restructure: the
    original CTE list is preserved ahead of _msrc."""
    df = hdb.sql(
        "WITH src AS (SELECT g, x FROM mode_join_t WHERE x < 9) "
        "SELECT g, mode(x, 'AVG') AS m FROM src GROUP BY g",
        default_limit=None,
    )
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    assert "collect_list" not in plan
    assert df.collect()[0]["m"] == 2.5  # {1,1,4,4}: tied modes 1 and 4


def test_percentile_smart_tdigest_params(hdb):
    # 3rd optional params literal (PercentileSmartTDigestAggregation
    # Function.java:45-71) — validated, then moot: the engine's
    # percentile_approx has its own bounded sketch in both regimes
    row = hdb.sql(
        "SELECT percentileSmartTDigest(l_quantity, 50, "
        "'threshold=100;compression=50') AS p FROM lineitem",
        default_limit=None,
    ).collect()[0]
    assert 1 <= row["p"] <= 50
    with pytest.raises(ValueError, match="invalid parameter"):
        hdb.sql(
            "SELECT percentileSmartTDigest(l_quantity, 50, 'zap=1') "
            "FROM lineitem"
        )


def test_raw_theta_sketch_sql_returns_wire_bytes(hdb):
    """distinctCountRawThetaSketch returns the SERIALIZED DataSketches
    compact sketch as a base64 STRING (the reference's raw-form envelope,
    ColumnDataType.STRING — clients persist and re-merge it),
    deserializable with operators/theta_ds and exact below
    nominalEntries."""
    import base64

    from hurricanedb_spark.operators.theta_ds import deserialize

    rows = hdb.sql(
        "SELECT l_returnflag, "
        "distinctCountRawThetaSketch(l_suppkey, 'nominalEntries=1024') "
        "AS sk FROM lineitem GROUP BY l_returnflag",
        default_limit=None,
    ).collect()
    exact = {
        r["l_returnflag"]: r["n"]
        for r in hdb.sql(
            "SELECT l_returnflag, count(DISTINCT l_suppkey) AS n "
            "FROM lineitem GROUP BY l_returnflag",
            default_limit=None,
        ).collect()
    }
    assert rows
    for r in rows:
        assert isinstance(r["sk"], str)  # base64 STRING, not BINARY
        sk = deserialize(base64.b64decode(r["sk"]))
        assert round(sk.estimate()) == exact[r["l_returnflag"]]


def test_base64_results_are_one_line(hdb):
    """Raw theta sketches, IdSets and toBase64 come back as one-line
    base64, as the reference's java.util.Base64 strings do: Spark's
    base64() alone breaks its output with CRLF every 76 characters
    (57 input bytes), which a strict decoder rejects."""
    import base64

    from hurricanedb_spark.operators.idset_wire import decode_idset
    from hurricanedb_spark.operators.theta_ds import deserialize

    def one_line(s: str) -> bytes:
        assert "\r" not in s and "\n" not in s
        return base64.b64decode(s, validate=True)

    n_supp = hdb.sql(
        "SELECT count(DISTINCT l_suppkey) AS n FROM lineitem", default_limit=None
    ).collect()[0]["n"]
    row = hdb.sql(
        "SELECT distinctCountRawThetaSketch(l_suppkey) AS sk, "
        "distinctCountRawThetaSketch(l_suppkey, 'nominalEntries=1024', "
        "  'l_returnflag = ''R''', 'l_returnflag <> ''R''', "
        "  'SET_UNION($1, $2)') AS sk_union "
        "FROM lineitem",
        default_limit=None,
    ).collect()[0]
    for col in ("sk", "sk_union"):
        blob = one_line(row[col])
        assert len(blob) > 57
        assert round(deserialize(blob).estimate()) == n_supp
    ids = hdb.sql("SELECT idSet(o_orderkey) AS ids FROM orders", default_limit=None)
    blob = one_line(ids.collect()[0]["ids"])
    assert len(blob) > 57
    n_orders = hdb.sql("SELECT count(*) AS n FROM orders", default_limit=None)
    assert len(list(decode_idset(blob).values())) == n_orders.collect()[0]["n"]
    text = hdb.sql(
        "SELECT toBase64(toUtf8(repeat('x', 100))) AS b", default_limit=None
    ).collect()[0]["b"]
    assert one_line(text) == b"x" * 100

def test_raw_theta_sketch_filtered_returns_setop_sketch(hdb):
    """The FILTERED raw form distinctCountRawThetaSketch(col, params,
    filter..., 'SET_OP(...)') returns the base64 serialized sketch OF THE
    SET-OP RESULT (DistinctCountRawThetaSketchAggregationFunction.java:
    50-56) — mergeable state, not a BIGINT count (round-8 defect: the
    >=4-arg path fell through to the inclusion-exclusion estimate)."""
    import base64

    from hurricanedb_spark.operators.theta_ds import deserialize

    exact = {
        r["op"]: r["n"]
        for r in hdb.sql(
            """
            SELECT 'union' AS op, count(DISTINCT CASE WHEN
                   o_orderstatus IN ('F', 'O') THEN o_custkey END) AS n
            FROM orders
            UNION ALL
            SELECT 'intersect', count(DISTINCT CASE WHEN c_f AND c_o
                   THEN o_custkey END)
            FROM (SELECT o_custkey,
                         bool_or(o_orderstatus = 'F') AS c_f,
                         bool_or(o_orderstatus = 'O') AS c_o
                  FROM orders GROUP BY o_custkey)
            UNION ALL
            SELECT 'diff', count(DISTINCT CASE WHEN c_f AND NOT c_o
                   THEN o_custkey END)
            FROM (SELECT o_custkey,
                         bool_or(o_orderstatus = 'F') AS c_f,
                         bool_or(o_orderstatus = 'O') AS c_o
                  FROM orders GROUP BY o_custkey)
            """,
            default_limit=None,
        ).collect()
    }
    row = hdb.sql(
        "SELECT "
        "distinctCountRawThetaSketch(o_custkey, 'nominalEntries=65536', "
        "  'o_orderstatus = ''F''', 'o_orderstatus = ''O''', "
        "  'SET_UNION($1, $2)') AS sk_union, "
        "distinctCountRawThetaSketch(o_custkey, 'nominalEntries=65536', "
        "  'o_orderstatus = ''F''', 'o_orderstatus = ''O''', "
        "  'SET_INTERSECT($1, $2)') AS sk_intersect, "
        "distinctCountRawThetaSketch(o_custkey, 'nominalEntries=65536', "
        "  'o_orderstatus = ''F''', 'o_orderstatus = ''O''', "
        "  'SET_DIFF($1, $2)') AS sk_diff "
        "FROM orders",
        default_limit=None,
    ).collect()[0]
    # nominalEntries=65536 > fixture NDV -> the sketches are exact, so
    # the set-op result sketch's estimate must equal the exact counts
    for field, op in (
        ("sk_union", "union"),
        ("sk_intersect", "intersect"),
        ("sk_diff", "diff"),
    ):
        assert isinstance(row[field], str)
        sk = deserialize(base64.b64decode(row[field]))
        assert round(sk.estimate()) == exact[op], (field, exact[op])


def test_theta_above_cap_routes_to_array_fallback():
    """Expressions referencing MORE than 6 sketches must route to the
    per-group collect_set array algebra, not the 2^k inclusion-exclusion
    expansion (which would emit 127 count(DISTINCT) children)."""
    filters = ", ".join(f"'f{i} = {i}'" for i in range(1, 8))
    out = rewrite_functions(
        f"SELECT distinctCountThetaSketch(x, '', {filters}, "
        "'SET_UNION($1, $2, $3, $4, $5, $6, $7)') FROM t"
    )
    assert "collect_set" in out and "array_union" in out
    assert out.count("count(DISTINCT") == 0
    # ...and 6 referenced sketches stay on the distributed expansion
    filters6 = ", ".join(f"'f{i} = {i}'" for i in range(1, 7))
    out6 = rewrite_functions(
        f"SELECT distinctCountThetaSketch(x, '', {filters6}, "
        "'SET_UNION($1, $2, $3, $4, $5, $6)') FROM t"
    )
    assert "collect_set" not in out6 and "count(DISTINCT" in out6


def test_theta_empty_region_is_aggregate_shaped(hdb, spark):
    """A provably-empty set expression (SET_DIFF($1,$1)) must still emit
    an AGGREGATE zero: pre-fix the dialect rendered a bare literal,
    which projected one 0 per INPUT row in a global query instead of
    one row total (round-9 fuzz finding)."""
    spark.createDataFrame([(i,) for i in range(5)], "v bigint") \
        .createOrReplaceTempView("theta_empty_t")
    rows = hdb.sql(
        "SELECT distinctCountThetaSketch(v, '', 'v > 1', "
        "'SET_DIFF($1, $1)') AS z FROM theta_empty_t",
        default_limit=None,
    ).collect()
    assert len(rows) == 1 and rows[0]["z"] == 0
    # grouped: one zero per group
    spark.createDataFrame([(i % 2, i) for i in range(6)], "g int, v bigint") \
        .createOrReplaceTempView("theta_empty_g")
    rows = hdb.sql(
        "SELECT g, distinctCountThetaSketch(v, '', 'v > 1', "
        "'SET_DIFF($1, $1)') AS z FROM theta_empty_g GROUP BY g",
        default_limit=None,
    ).collect()
    assert sorted((r["g"], r["z"]) for r in rows) == [(0, 0), (1, 0)]


def test_raw_theta_hash_space_stable_across_null_batches(hdb, spark):
    """Hashing must follow the SPARK column type, not the pandas dtype:
    CASE WHEN filters introduce NULLs, which degrade int64 Arrow batches
    to float64 — hashed as doubles they'd live in a different hash space
    than the NULL-free $0 sketch (update(long) vs update(double) differ
    in DataSketches by design). SET_DIFF($0, $1) over an int column is
    the failure shape: pre-fix, $0 and $1 never intersected and the diff
    returned ~|$0|."""
    import base64

    from hurricanedb_spark.operators.theta_ds import deserialize, union

    spark.createDataFrame(
        [(i, "keep" if i % 3 == 0 else "drop") for i in range(100)]
        + [(None, "keep")],  # a NULL value: the $0 batch is float64 too
        "v bigint, tag string",
    ).createOrReplaceTempView("theta_nulls_t")
    row = hdb.sql(
        "SELECT "
        "distinctCountRawThetaSketch(v, 'nominalEntries=4096', "
        "  'tag = ''keep''', 'SET_DIFF($0, $1)') AS sk_not_keep, "
        "distinctCountRawThetaSketch(v, 'nominalEntries=4096', "
        "  'tag = ''keep''', 'SET_INTERSECT($0, $1)') AS sk_keep "
        "FROM theta_nulls_t",
        default_limit=None,
    ).collect()[0]
    # exact: values 0..99; keep = multiples of 3 (34 values), rest 66
    assert round(deserialize(base64.b64decode(row["sk_not_keep"])).estimate()) == 66
    assert round(deserialize(base64.b64decode(row["sk_keep"])).estimate()) == 34
    # and the simple-form sketch of the same column merges losslessly
    # with the filtered ones (same hash space)
    simple = hdb.sql(
        "SELECT distinctCountRawThetaSketch(v) AS sk FROM theta_nulls_t",
        default_limit=None,
    ).collect()[0]["sk"]
    merged = union(
        [
            deserialize(base64.b64decode(simple)),
            deserialize(base64.b64decode(row["sk_keep"])),
        ],
        k=4096,
    )
    assert round(merged.estimate()) == 100


def test_raw_theta_filtered_sketches_are_mergeable(hdb):
    """Per-slice filtered raw sketches must re-merge: union of the two
    per-status result sketches == the sketch over both statuses (the
    persist-then-cross-slice-merge workflow the raw form exists for)."""
    import base64

    from hurricanedb_spark.operators.theta_ds import deserialize, union

    rows = hdb.sql(
        "SELECT "
        "distinctCountRawThetaSketch(o_custkey, 'nominalEntries=65536', "
        "  'o_orderstatus = ''F''', 'SET_UNION($1, $1)') AS sk_f, "
        "distinctCountRawThetaSketch(o_custkey, 'nominalEntries=65536', "
        "  'o_orderstatus = ''O''', 'SET_UNION($1, $1)') AS sk_o "
        "FROM orders",
        default_limit=None,
    ).collect()[0]
    merged = union(
        [
            deserialize(base64.b64decode(rows["sk_f"])),
            deserialize(base64.b64decode(rows["sk_o"])),
        ],
        k=65536,
    )
    exact = hdb.sql(
        "SELECT count(DISTINCT o_custkey) AS n FROM orders "
        "WHERE o_orderstatus IN ('F', 'O')",
        default_limit=None,
    ).collect()[0]["n"]
    assert round(merged.estimate()) == exact


def test_theta_over_bytes_column_unions_sketches(hdb, spark):
    """A BYTES column holds PRE-BUILT sketches: the aggregate must
    deserialize + union them (reference type-dispatch on the input
    column), never count distinct blobs."""
    from hurricanedb_spark.operators.theta_ds import (
        build_sketch,
        serialize,
    )

    # 4 sketches over overlapping populations; true union ndv = 30
    pops = [range(0, 10), range(5, 20), range(15, 30), range(0, 30)]
    rows = [
        ("g1", bytearray(serialize(build_sketch(list(p), k=1024), 10)))
        for p in pops
    ]
    spark.createDataFrame(rows, "g string, sk binary") \
        .createOrReplaceTempView("theta_bytes_t")
    row = hdb.sql(
        "SELECT g, distinctCountThetaSketch(sk) AS dc, "
        "distinctCountRawThetaSketch(sk, 'nominalEntries=1024') AS raw "
        "FROM theta_bytes_t GROUP BY g",
        default_limit=None,
    ).collect()[0]
    assert row["dc"] == 30  # union, exact below nominalEntries
    import base64

    from hurricanedb_spark.operators.theta_ds import deserialize

    assert isinstance(row["raw"], str)  # base64 STRING envelope
    assert round(deserialize(base64.b64decode(row["raw"])).estimate()) == 30
    # the filtered form over BYTES re-hashes blobs in the reference's
    # value path — refuse loudly rather than silently mis-counting
    with pytest.raises(ValueError, match="BYTES"):
        hdb.sql(
            "SELECT distinctCountThetaSketch(sk, '', 'g = ''g1''', "
            "'SET_UNION($0, $1)') FROM theta_bytes_t"
        )


def test_theta_bytes_estimate_is_a_jvm_aggregate(hdb, spark):
    """The estimate form over a BYTES column unions the stored sketches
    natively: a global aggregate over no rows returns one row reading 0,
    and the estimate sits beside JVM aggregates in one SELECT."""
    from hurricanedb_spark.operators.theta_ds import build_sketch, serialize

    # 6 sketches over [i, i + 10) for i = 0, 5, ..., 25: 35 distinct
    rows = [
        (i, bytearray(serialize(build_sketch(list(range(i, i + 10))))))
        for i in range(0, 30, 5)
    ]
    spark.createDataFrame(rows, "p int, sk binary") \
        .createOrReplaceTempView("theta_bytes_jvm_t")
    empty = hdb.sql(
        "SELECT distinctCountThetaSketch(sk) AS dc FROM theta_bytes_jvm_t "
        "WHERE p < 0",
        default_limit=None,
    ).collect()
    assert [r["dc"] for r in empty] == [0]
    mixed = hdb.sql(
        "SELECT COUNT(*) AS n, distinctCountThetaSketch(sk) AS dc "
        "FROM theta_bytes_jvm_t",
        default_limit=None,
    ).collect()
    assert [(r["n"], r["dc"]) for r in mixed] == [(6, 35)]


def test_raw_theta_over_bytes_returns_the_empty_sketch_on_no_rows(hdb, spark):
    """The raw form over a BYTES column unions through a JVM
    collect_list: a global aggregate over no rows returns one row holding
    the empty serVer-3 sketch, as the value path and the reference do,
    and the raw form sits beside JVM aggregates in one SELECT."""
    import base64

    from hurricanedb_spark.operators.theta_ds import (
        build_sketch,
        deserialize,
        serialize,
        union,
    )

    blobs = [serialize(build_sketch(list(range(i, i + 10)))) for i in range(0, 30, 5)]
    spark.createDataFrame(
        [(i, bytearray(b)) for i, b in enumerate(blobs)], "p int, sk binary"
    ).createOrReplaceTempView("theta_bytes_raw_t")
    empty = serialize(union([]))
    for where, want, n in (
        ("p < 0", empty, 0),
        ("p >= 0", serialize(union([deserialize(b) for b in blobs], k=4096)), 6),
    ):
        rows = hdb.sql(
            "SELECT distinctCountRawThetaSketch(sk) AS raw, COUNT(*) AS n "
            f"FROM theta_bytes_raw_t WHERE {where}",
            default_limit=None,
        ).collect()
        assert [(base64.b64decode(r["raw"]), r["n"]) for r in rows] == [(want, n)]
    assert deserialize(empty).estimate() == 0


def test_theta_over_qualified_bytes_column_unions(hdb, spark):
    """Round-12: a table-QUALIFIED BYTES argument (`t.sk` — how join
    queries are written) must type-dispatch to the sketch union too; the
    bare-identifier check used to silently count distinct BLOBS for this
    spelling. Ambiguous base names (both join sides carry `sk`) decline
    to the value path rather than guessing."""
    from hurricanedb_spark.operators.theta_ds import build_sketch, serialize

    pops = [range(0, 10), range(5, 20), range(15, 30)]
    rows = [
        (i, bytearray(serialize(build_sketch(list(p), k=1024), 10)))
        for i, p in enumerate(pops)
    ]
    spark.createDataFrame(rows, "kid int, sk binary") \
        .createOrReplaceTempView("theta_bytes_q_t")
    spark.createDataFrame(
        [(0, "g1"), (1, "g1"), (2, "g1")], "kid int, fam string"
    ).createOrReplaceTempView("theta_bytes_q_dim")
    row = hdb.sql(
        "SELECT d.fam, distinctCountThetaSketch(t.sk) AS dc "
        "FROM theta_bytes_q_t t JOIN theta_bytes_q_dim d "
        "ON t.kid = d.kid GROUP BY d.fam",
        default_limit=None,
    ).collect()[0]
    assert row["dc"] == 30  # union of the stored sketches, not 3 blobs
    # ambiguous: a second binary `sk` on the dim side -> value path
    # (counts distinct blobs - the documented non-provable shape)
    spark.createDataFrame(
        [(0, bytearray(b"x")), (1, bytearray(b"y")), (2, bytearray(b"z"))],
        "kid int, sk binary",
    ).createOrReplaceTempView("theta_bytes_q_dim2")
    row2 = hdb.sql(
        "SELECT count(DISTINCT t.sk) AS dc "
        "FROM theta_bytes_q_t t JOIN theta_bytes_q_dim2 d ON t.kid = d.kid",
        default_limit=None,
    ).collect()[0]
    assert row2["dc"] == 3


def test_hll_over_bytes_column_merges_sketches(hdb, spark):
    """distinctCountHLL / distinctCountRawHLL over a BYTES column merge
    the pre-built HLL sketches (reference type-dispatch); this engine's
    HLL wire format is the DataSketches HLL hll_sketch_agg emits."""
    src = spark.createDataFrame(
        [(i % 3, i) for i in range(300)], "p int, v int"
    )
    src.createOrReplaceTempView("hll_src_t")
    spark.sql(
        "SELECT p, hll_sketch_agg(v) AS sk FROM hll_src_t GROUP BY p"
    ).createOrReplaceTempView("hll_bytes_t")
    row = hdb.sql(
        "SELECT distinctCountHLL(sk) AS dc FROM hll_bytes_t",
        default_limit=None,
    ).collect()[0]
    assert abs(row["dc"] - 300) / 300 < 0.05
    raw = hdb.sql(
        "SELECT distinctCountRawHLL(sk) AS m FROM hll_bytes_t",
        default_limit=None,
    ).collect()[0]["m"]
    # lowercase-hex STRING envelope (SerializedHLL.toString)
    assert isinstance(raw, str) and raw == raw.lower()
    est = spark.sql(
        "SELECT hll_sketch_estimate(X'" + raw + "') AS e"
    ).collect()[0]["e"]
    assert abs(est - 300) / 300 < 0.05


def test_theta_above_cap_estimate_optin_bounded(hdb):
    """Round-13 (r12 'what's wrong' #1): OPTION(thetaEstimate=true)
    routes the >6-sketch filtered ESTIMATE form through the bounded
    mergeable theta_ds sketches (one O(nominalEntries) sketch per
    referenced filter, set ops folded post-aggregation, rounded
    estimate out — the reference's actual always-estimate semantics,
    DistinctCountThetaSketchAggregationFunction.java:60-151) instead of
    the O(ndv)-per-group collect_set algebra. Default stays exact."""
    hdb.spark.createDataFrame(
        [(i,) for i in range(100)], "v int"
    ).createOrReplaceTempView("theta_cap_opt_t")
    filters = [f"v % {p} = 0" for p in (2, 3, 5, 7, 11, 13, 17)]
    expr = "SET_UNION(" + ", ".join(f"${i}" for i in range(1, 8)) + ")"
    q = (
        "SELECT distinctCountThetaSketch(v, 'nominalEntries=65536', "
        + ", ".join(f"'{f}'" for f in filters)
        + f", '{expr}') AS x FROM theta_cap_opt_t"
    )
    want = len({
        i for i in range(100)
        if any(i % p == 0 for p in (2, 3, 5, 7, 11, 13, 17))
    })
    # opt-in: sketch path (no collect_set anywhere in the plan), and at
    # NDV far below nominalEntries the theta estimate is exact
    df = hdb.sql(f"SET thetaEstimate=true; {q}", default_limit=None)
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    assert "collect_set" not in plan
    assert df.collect()[0]["x"] == want
    # trailing OPTION(...) spelling reaches the same path
    df_opt = hdb.sql(
        f"{q} OPTION(thetaEstimate=true)", default_limit=None
    )
    assert df_opt.collect()[0]["x"] == want
    # default (no option): exact collect_set fallback, same number here
    df2 = hdb.sql(q, default_limit=None)
    plan2 = df2._sc._jvm.PythonSQLUtils.explainString(
        df2._jdf.queryExecution(), "formatted"
    )
    assert "collect_set" in plan2
    assert df2.collect()[0]["x"] == want
    # the option must not leak into subsequent queries
    df3 = hdb.sql(q, default_limit=None)
    plan3 = df3._sc._jvm.PythonSQLUtils.explainString(
        df3._jdf.queryExecution(), "formatted"
    )
    assert "collect_set" in plan3


def test_mv_exact_distinct_explode_restructure(hdb, spark):
    """Round-13 (r12 'what's wrong' #2): the EXACT MV distinct macros
    (distinctCountMV / distinctCountBitmapMV / distinctSumMV /
    distinctAvgMV) restructure to explode + count/sum/avg(DISTINCT) —
    shuffle-bound (Spark's Expand-based distinct agg) instead of
    collect_set array state per group — with values identical to the
    macro and the macro's empty-group defaults (0 / 0.0 / NaN)."""
    import math

    from hurricanedb_spark.sql.dialect import rewrite_functions

    q = (
        "SELECT label, distinctCountMV(embedding) AS dc, "
        "distinctCountBitmapMV(embedding) AS dcb, "
        "distinctSumMV(embedding) AS ds, "
        "distinctAvgMV(embedding) AS da "
        "FROM embeddings GROUP BY label ORDER BY label"
    )
    df = hdb.sql(q, default_limit=None)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "collect_set" not in plan and "collect_list" not in plan
    rows = df.collect()
    # ground truth: the exact macro, expanded directly (no restructure)
    exact = spark.sql(rewrite_functions(q)).collect()
    assert len(rows) == len(exact) > 0
    for a, b in zip(rows, exact):
        assert (a.label, a.dc, a.dcb) == (b.label, b.dc, b.dcb)
        assert abs(a.ds - b.ds) < 1e-6 and abs(a.da - b.da) < 1e-9
    # schema parity with the macro (the gate is dtype-strict)
    assert [f.dataType.simpleString() for f in df.schema.fields] == [
        f.dataType.simpleString()
        for f in spark.sql(rewrite_functions(q)).schema.fields
    ]
    # all-empty-array group: macro defaults 0 / 0.0 / NaN
    hdb.register(
        "mv_empty_t",
        spark.sql("SELECT 'g' AS g, array() AS arr"),
    )
    r = hdb.sql(
        "SELECT g, distinctCountMV(arr) AS dc, distinctSumMV(arr) AS ds, "
        "distinctAvgMV(arr) AS da FROM mv_empty_t GROUP BY g",
        default_limit=None,
    ).collect()[0]
    assert r.dc == 0 and r.ds == 0.0 and math.isnan(r.da)
