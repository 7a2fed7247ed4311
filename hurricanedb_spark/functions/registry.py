"""Dialect function registry — Pinot-named functions callable from Spark SQL.

The reference exposes two registries (SURVEY.md §2.8): vectorized
TransformFunctionType operators (pinot-common/.../function/TransformFunctionType.java:29-161)
and 228 @ScalarFunction row methods (pinot-common/.../function/scalar/*.java).
Here every Pinot name that differs from Spark resolves through
`spark.sql(...)` after `register_all(spark)`:

  - pure renames           -> SQL expression aliases (stay JVM-side, codegen)
  - semantic shims         -> small SQL expressions (epoch bucketing, MV ops)
  - genuinely new kernels  -> tiny deterministic UDFs only where Spark has no
                             expression form (haversine, H3 bucket, subnet)

Registration uses CREATE OR REPLACE TEMPORARY FUNCTION-style SQL macros
(spark.udf.register only for true UDFs) so the hot path never leaves the JVM.
"""

from __future__ import annotations

import ipaddress
import math

import pyarrow as pa  # Arrow-native UDAF batches (round-15)
from pyspark.sql import SparkSession, functions as F, types as T


def unchunked_base64(expr: str) -> str:
    """SQL for the one-line base64 text of the binary `expr`. Spark's
    base64() (like to_char(x, 'base64')) puts CRLF after every 76
    characters; the reference's Base64 strings (java.util.Base64) have
    no line breaks."""
    return f"replace(base64({expr}), '\\r\\n', '')"


# SQL-macro shims: name -> (args, body). Registered as Spark SQL temp
# functions via `CREATE OR REPLACE TEMPORARY FUNCTION` is unavailable for
# macros, so these are registered through spark.sql("SELECT ...") rewriting
# helpers; callers use hurricane_sql() (sql dialect layer) or the exprs here.
_SQL_ALIASES: dict[str, tuple[list[str], str]] = {
    # --- datetime (DateTimeFunctions.java) ---
    "fromepochseconds": (["s"], "timestamp_seconds(CAST(s AS BIGINT))"),
    "fromepochmillis": (["ms"], "timestamp_millis(CAST(ms AS BIGINT))"),
    "fromepochminutes": (["m"], "timestamp_seconds(CAST(m AS BIGINT) * 60)"),
    "fromepochhours": (["h"], "timestamp_seconds(CAST(h AS BIGINT) * 3600)"),
    "fromepochdays": (["d"], "timestamp_seconds(CAST(d AS BIGINT) * 86400)"),
    "toepochseconds": (["t"], "unix_seconds(t)"),
    "toepochmillis": (["t"], "unix_millis(t)"),
    "toepochminutes": (["t"], "CAST(floor(unix_seconds(t) / 60) AS BIGINT)"),
    "toepochhours": (["t"], "CAST(floor(unix_seconds(t) / 3600) AS BIGINT)"),
    "toepochdays": (["t"], "CAST(floor(unix_seconds(t) / 86400) AS BIGINT)"),
    "toepochsecondsbucket": (
        ["t", "b"],
        "CAST(floor(unix_seconds(t) / b) * b AS BIGINT)",
    ),
    "toepochminutesbucket": (
        ["t", "b"],
        "CAST(floor(unix_seconds(t) / (60 * b)) AS BIGINT)",
    ),
    "toepochhoursbucket": (
        ["t", "b"],
        "CAST(floor(unix_seconds(t) / (3600 * b)) AS BIGINT)",
    ),
    "toepochdaysbucket": (
        ["t", "b"],
        "CAST(floor(unix_seconds(t) / (86400 * b)) AS BIGINT)",
    ),
    # fromEpoch<unit>Bucket(bucketed, size): invert the bucketed epoch back
    # to a timestamp (DateTimeFunctions.java fromEpoch*Bucket family)
    "fromepochsecondsbucket": (["v", "b"], "timestamp_seconds(CAST(v AS BIGINT) * b)"),
    "fromepochminutesbucket": (["v", "b"], "timestamp_seconds(CAST(v AS BIGINT) * 60 * b)"),
    "fromepochhoursbucket": (["v", "b"], "timestamp_seconds(CAST(v AS BIGINT) * 3600 * b)"),
    "fromepochdaysbucket": (["v", "b"], "timestamp_seconds(CAST(v AS BIGINT) * 86400 * b)"),
    # toDateTime(millis, pattern) / fromDateTime(str, pattern): Java
    # SimpleDateFormat patterns are Spark's date_format dialect for the
    # subset Pinot documents (yyyy-MM-dd HH:mm:ss etc.)
    "todatetime": (["ms", "p"], "date_format(timestamp_millis(CAST(ms AS BIGINT)), p)"),
    "fromdatetime": (["s", "p"], "unix_millis(to_timestamp(s, p))"),
    "totimestamp": (["ms"], "timestamp_millis(CAST(ms AS BIGINT))"),
    "fromtimestamp": (["t"], "unix_millis(t)"),
    "datetrunc": (["unit", "t"], "date_trunc(unit, t)"),
    "yearofweek": (["t"], "CAST(extract(YEAROFWEEK FROM t) AS INT)"),
    "monthofyear": (["t"], "month(t)"),
    "dayofyear_": (["t"], "dayofyear(t)"),
    "millisecond": (["t"], "CAST(date_format(t, 'SSS') AS INT)"),
    "timezonehour": (["tz"], "CAST(substr(tz, 1, 3) AS INT)"),
    "timezoneminute": (
        ["tz"],
        # ±HH:MM offset string -> signed minute component
        "CAST(concat(substr(tz, 1, 1), substr(tz, 5, 2)) AS INT)",
    ),
    "ago": (["p"], "current_timestamp() - CAST(p AS INTERVAL DAY TO SECOND)"),
    # --- aggregation renames (AggregationFunctionType.java) ---
    # used via the dialect rewriter; kept here for selectExpr call sites
    # --- strings (StringFunctions.java) ---
    "strpos": (["s", "sub"], "CAST(instr(s, sub) - 1 AS INT)"),  # Pinot is 0-based
    "strrpos": (
        ["s", "sub"],
        "CAST(length(s) - instr(reverse(s), reverse(sub)) - length(sub) + 1 AS INT)",
    ),
    "leftsubstr": (["s", "n"], "left(s, n)"),
    "rightsubstr": (["s", "n"], "right(s, n)"),
    "strcmp": (["a", "b"], "CAST(CASE WHEN a < b THEN -1 WHEN a > b THEN 1 ELSE 0 END AS INT)"),
    "codepoint": (["s"], "ascii(s)"),
    "chr_": (["i"], "char(i)"),
    "normalize_str": (["s"], "s"),  # NFC normalization: Spark strings are UTF-8; no-op shim
    "toascii": (["s"], "regexp_replace(s, '[^\\\\x00-\\\\x7F]', '')"),
    "splitpart": (["s", "sep", "i"], "split_part(s, sep, i + 1)"),  # Pinot 0-based
    "remove": (["s", "sub"], "replace(s, sub, '')"),
    "encodeurl": (["s"], "url_encode(s)"),
    "decodeurl": (["s"], "url_decode(s)"),
    "tobase64": (["b"], unchunked_base64("b")),
    "frombase64": (["s"], "unbase64(s)"),
    "toutf8": (["s"], "encode(s, 'UTF-8')"),
    "fromutf8": (["b"], "decode(b, 'UTF-8')"),
    # function-call forms of the comparison operators
    # (TransformFunctionType EQUALS..LESS_THAN_OR_EQUAL; the reference's
    # PredicateComparisonRewriter turns them into predicates)
    "equals": (["a", "b"], "(a = b)"),
    "not_equals": (["a", "b"], "(a <> b)"),
    "greater_than": (["a", "b"], "(a > b)"),
    "greater_than_or_equal": (["a", "b"], "(a >= b)"),
    "less_than": (["a", "b"], "(a < b)"),
    "less_than_or_equal": (["a", "b"], "(a <= b)"),
    # --- typed MV array forms (ArrayFunctions.java: one Java method per
    # element type; one SQL body serves them all) ---
    "arrayconcatint": (["a", "b"], "concat(a, b)"),
    "arrayconcatlong": (["a", "b"], "concat(a, b)"),
    "arrayconcatfloat": (["a", "b"], "concat(a, b)"),
    "arrayconcatdouble": (["a", "b"], "concat(a, b)"),
    "arrayconcatstring": (["a", "b"], "concat(a, b)"),
    "arraycontainsint": (["a", "v"], "array_contains(a, v)"),
    "arraycontainsstring": (["a", "v"], "array_contains(a, v)"),
    "arraydistinctint": (["a"], "array_distinct(a)"),
    "arraydistinctstring": (["a"], "array_distinct(a)"),
    # elementAt is 1-based with an out-of-range null placeholder; real
    # NULL is this engine's null encoding (enableNullHandling semantics)
    "arrayelementatint": (["a", "i"], "CASE WHEN i > 0 AND i <= size(a) THEN element_at(a, CAST(i AS INT)) END"),
    "arrayelementatlong": (["a", "i"], "CASE WHEN i > 0 AND i <= size(a) THEN element_at(a, CAST(i AS INT)) END"),
    "arrayelementatfloat": (["a", "i"], "CASE WHEN i > 0 AND i <= size(a) THEN element_at(a, CAST(i AS INT)) END"),
    "arrayelementatdouble": (["a", "i"], "CASE WHEN i > 0 AND i <= size(a) THEN element_at(a, CAST(i AS INT)) END"),
    "arrayelementatstring": (["a", "i"], "CASE WHEN i > 0 AND i <= size(a) THEN element_at(a, CAST(i AS INT)) END"),
    # ArrayUtils.indexOf: 0-based, -1 absent (array_position is 1-based, 0 absent)
    "arrayindexofint": (["a", "v"], "CAST(array_position(a, v) - 1 AS INT)"),
    "arrayindexofstring": (["a", "v"], "CAST(array_position(a, v) - 1 AS INT)"),
    "arrayremoveint": (["a", "v"], "array_remove(a, v)"),
    "arrayremovestring": (["a", "v"], "array_remove(a, v)"),
    "arrayreverseint": (["a"], "reverse(a)"),
    "arrayreversestring": (["a"], "reverse(a)"),
    # Arrays.copyOfRange: [start, end) 0-based -> slice(1-based, length)
    "arraysliceint": (["a", "s", "e"], "slice(a, s + 1, e - s)"),
    "arrayslicestring": (["a", "s", "e"], "slice(a, s + 1, e - s)"),
    "arraysortint": (["a"], "array_sort(a)"),
    "arraysortstring": (["a"], "array_sort(a)"),
    "arrayunionint": (["a", "b"], "array_union(a, b)"),
    "arrayunionstring": (["a", "b"], "array_union(a, b)"),
    # --- DataTypeConversionFunctions / StringFunctions byte helpers ---
    "base64encode": (["b"], f"encode({unchunked_base64('b')}, 'UTF-8')"),
    "base64decode": (["b"], "unbase64(decode(b, 'UTF-8'))"),
    "frombytes": (["b", "c"], "decode(b, c)"),
    "tobytes": (["s", "c"], "encode(s, c)"),
    # --- function-call forms of comparisons / null tests, camel and
    # underscore spellings (ComparisonFunctions / LogicalFunctions) ---
    "greaterthan": (["a", "b"], "(a > b)"),
    "greaterthanorequal": (["a", "b"], "(a >= b)"),
    "lessthan": (["a", "b"], "(a < b)"),
    "lessthanorequal": (["a", "b"], "(a <= b)"),
    "notequals": (["a", "b"], "(a <> b)"),
    "isnull": (["a"], "(a IS NULL)"),
    "isnotnull": (["a"], "(a IS NOT NULL)"),
    "isdistinctfrom": (["a", "b"], "(a IS DISTINCT FROM b)"),
    "isnotdistinctfrom": (["a", "b"], "(a IS NOT DISTINCT FROM b)"),
    "is_distinct_from": (["a", "b"], "(a IS DISTINCT FROM b)"),
    "is_not_distinct_from": (["a", "b"], "(a IS NOT DISTINCT FROM b)"),
    "is_null": (["a"], "(a IS NULL)"),
    "is_not_null": (["a"], "(a IS NOT NULL)"),
    # --- arithmetic aliases (ArithmeticFunctions names) ---
    "plus": (["a", "b"], "a + b"),
    "minus": (["a", "b"], "a - b"),
    "times": (["a", "b"], "a * b"),
    # --- json (JsonFunctions) ---
    "jsonpath": (["j", "p"], "get_json_object(j, p)"),
    "jsonpatharraydefaultempty": (
        ["j", "p"],
        "coalesce(from_json(get_json_object(j, p), 'array<string>'), array())",
    ),
    "tojsonmapstr": (["m"], "to_json(m)"),
    # --- regex camel spellings (Matcher.find semantics == Spark) ---
    "regexplike": (["s", "p"], "regexp_like(s, p)"),
    # --- string spellings ---
    "ends_with": (["s", "x"], "endswith(s, x)"),
    "starts_with": (["s", "x"], "startswith(s, x)"),
    # --- datetime spellings + Joda conventions (DateTimeFunctions) ---
    # Pinot dayOfWeek is ISO (Joda getDayOfWeek: Monday=1..Sunday=7);
    # Spark's builtin is Sunday=1 — remap
    "dayofweek": (["t"], "(((`dayofweek`(t) + 5) % 7) + 1)"),
    "dow": (["t"], "(((`dayofweek`(t) + 5) % 7) + 1)"),
    "day_of_week": (["t"], "(((`dayofweek`(t) + 5) % 7) + 1)"),
    "doy": (["t"], "dayofyear(t)"),
    "day_of_year": (["t"], "dayofyear(t)"),
    "day_of_month": (["t"], "dayofmonth(t)"),
    "month_of_year": (["t"], "month(t)"),
    "week": (["t"], "weekofyear(t)"),
    "week_of_year": (["t"], "weekofyear(t)"),
    "year_of_week": (["t"], "CAST(extract(YEAROFWEEK FROM t) AS INT)"),
    "yow": (["t"], "CAST(extract(YEAROFWEEK FROM t) AS INT)"),
    # toEpoch<unit>Rounded(millis, n): unit value floored to a multiple
    "toepochsecondsrounded": (["t", "n"], "CAST(floor(unix_seconds(t) / n) * n AS BIGINT)"),
    "toepochminutesrounded": (["t", "n"], "CAST(floor(unix_seconds(t) / (60 * n)) * n AS BIGINT)"),
    "toepochhoursrounded": (["t", "n"], "CAST(floor(unix_seconds(t) / (3600 * n)) * n AS BIGINT)"),
    "toepochdaysrounded": (["t", "n"], "CAST(floor(unix_seconds(t) / (86400 * n)) * n AS BIGINT)"),
    "hammingdistance_str": (
        ["a", "b"],
        "CASE WHEN length(a) <> length(b) THEN -1 ELSE "
        "size(filter(zip_with(split(a, ''), split(b, ''), (x, y) -> x <> y), v -> v)) END",
    ),
    # --- geospatial (TransformFunctionType.java:124-146; geometry model
    # from functions/geo.py: point = struct<lon,lat>) ---
    "stpoint": (
        ["x", "y"],
        "named_struct('lon', CAST(x AS DOUBLE), 'lat', CAST(y AS DOUBLE))",
    ),
    "stastext": (
        ["p"],
        "concat('POINT (', CAST(p.lon AS STRING), ' ', CAST(p.lat AS STRING), ')')",
    ),
    # ST_Equals on points: coordinate equality with -0.0/0.0 normalized
    # (StEqualsFunction.java via JTS equality)
    "stequals": (
        ["a", "b"],
        "(named_struct('lon', a.lon + 0.0D, 'lat', a.lat + 0.0D) = "
        "named_struct('lon', b.lon + 0.0D, 'lat', b.lat + 0.0D))",
    ),
    # ST_Distance on geographies: haversine meters over struct points,
    # identical to functions/geo.py:st_distance (StDistanceFunction sphere
    # model) — trig expressions, codegen'd
    "stdistance": (
        ["a", "b"],
        "(2 * 6371008.8 * asin(sqrt("
        "pow(sin(radians(b.lat - a.lat) / 2), 2) + "
        "cos(radians(a.lat)) * cos(radians(b.lat)) * "
        "pow(sin(radians(b.lon - a.lon) / 2), 2))))",
    ),
    # ST_GeomFromText / ST_GeogFromText for POINT WKT -> struct<lon,lat>
    # (StGeomFromTextFunction; POLYGON WKT goes through stpolygon — the
    # SQL surface models the two geometry kinds with distinct types)
    "stgeomfromtext": (
        ["w"],
        "named_struct("
        "'lon', CAST(regexp_extract(w, 'POINT\\\\s*\\\\(([-0-9.eE+]+) ([-0-9.eE+]+)\\\\)', 1) AS DOUBLE), "
        "'lat', CAST(regexp_extract(w, 'POINT\\\\s*\\\\(([-0-9.eE+]+) ([-0-9.eE+]+)\\\\)', 2) AS DOUBLE))",
    ),
    "stgeogfromtext": (
        ["w"],
        "named_struct("
        "'lon', CAST(regexp_extract(w, 'POINT\\\\s*\\\\(([-0-9.eE+]+) ([-0-9.eE+]+)\\\\)', 1) AS DOUBLE), "
        "'lat', CAST(regexp_extract(w, 'POINT\\\\s*\\\\(([-0-9.eE+]+) ([-0-9.eE+]+)\\\\)', 2) AS DOUBLE))",
    ),
    # ST_Polygon: 'POLYGON ((lon lat, ...))' outer ring ->
    # array<struct<lon,lat>> (StPolygonFunction via JTS; expression twin
    # of functions/geo.py:st_polygon_from_text)
    "stpolygon": (
        ["w"],
        "transform("
        "split(regexp_extract(w, 'POLYGON\\\\s*\\\\(\\\\s*\\\\(([^)]*)\\\\)', 1), ','), "
        "v -> named_struct("
        "'lon', CAST(element_at(split(trim(v), ' '), 1) AS DOUBLE), "
        "'lat', CAST(element_at(split(trim(v), ' '), 2) AS DOUBLE)))",
    ),
    # ST_Contains(polygon, point) / ST_Within(point, polygon): ray-casting
    # crossings count over the ring, the exact expression form of
    # functions/geo.py:st_within_polygon — aggregate() keeps it in codegen
    "stcontains": (
        ["g", "p"],
        "((aggregate(sequence(1, size(g) - 1), 0, (acc, i) -> acc + "
        "(CASE WHEN ((element_at(g, i).lat > p.lat) != (element_at(g, i + 1).lat > p.lat)) "
        "AND (p.lon < (element_at(g, i + 1).lon - element_at(g, i).lon) * "
        "(p.lat - element_at(g, i).lat) / (element_at(g, i + 1).lat - element_at(g, i).lat) "
        "+ element_at(g, i).lon) THEN 1 ELSE 0 END)) % 2) = 1)",
    ),
    "stwithin": (
        ["p", "g"],
        "((aggregate(sequence(1, size(g) - 1), 0, (acc, i) -> acc + "
        "(CASE WHEN ((element_at(g, i).lat > p.lat) != (element_at(g, i + 1).lat > p.lat)) "
        "AND (p.lon < (element_at(g, i + 1).lon - element_at(g, i).lon) * "
        "(p.lat - element_at(g, i).lat) / (element_at(g, i + 1).lat - element_at(g, i).lat) "
        "+ element_at(g, i).lon) THEN 1 ELSE 0 END)) % 2) = 1)",
    ),
    # ST_AsBinary over struct points: delegates to the registered WKB
    # emit kernel with scalar args (StAsBinaryFunction / JTS WKBWriter LE)
    "stasbinary": (["p"], "_st_point_wkb(p.lon, p.lat)"),
    # ST_Area for a spherical polygon in m^2
    # (Chamberlain-Duquette spherical excess; R^2/2 = 6371008.8^2 / 2;
    # expression twin of functions/geo.py:st_area_spherical)
    "starea": (
        ["g"],
        "(abs(aggregate(sequence(1, size(g) - 1), CAST(0.0 AS DOUBLE), "
        "(acc, i) -> acc + (radians(element_at(g, i + 1).lon) - "
        "radians(element_at(g, i).lon)) * (2.0 + "
        "sin(radians(element_at(g, i).lat)) + "
        "sin(radians(element_at(g, i + 1).lat))))) * 20294876564838.72)",
    ),
    # ST_GeometryType over raw WKB: reads only the 5-byte header (endian
    # byte + uint32 type code), stays in codegen (StGeometryTypeFunction)
    "stgeometrytype": (
        ["w"],
        "element_at(map(1, 'Point', 2, 'LineString', 3, 'Polygon', "
        "4, 'MultiPoint', 5, 'MultiLineString', 6, 'MultiPolygon', "
        "7, 'GeometryCollection'), "
        "CAST(conv(CASE WHEN hex(substring(w, 1, 1)) = '01' "
        "THEN substring(hex(substring(w, 2, 4)), 1, 2) "
        "ELSE substring(hex(substring(w, 2, 4)), 7, 2) END, 16, 10) AS INT))",
    ),
    # mapValue(keysCol, 'key', valuesCol): parallel-array map lookup
    # (TransformFunctionType.MAPVALUE / MapValueTransformFunction)
    "mapvalue": (
        ["ks", "k", "vs"],
        "CASE WHEN array_position(ks, k) > 0 "
        "THEN element_at(vs, CAST(array_position(ks, k) AS INT)) END",
    ),
    # inIdSet(col, 'serialized-idset'): membership against the base64-JSON
    # IdSet literal produced by sql/idset.py (IN_ID_SET / InIdSetTransformFunction)
    "inidset": (
        ["c", "s"],
        "array_contains(from_json(CAST(unbase64(s) AS STRING), 'array<bigint>'), "
        "CAST(c AS BIGINT))",
    ),
    # --- json (JsonFunctions.java) ---
    # jsonextractscalar: 2/3/4-arg forms handled in sql/dialect.py
    "jsonextractkey": (["j"], "json_object_keys(j)"),
    "jsonformat": (["j"], "to_json(j)"),
    "jsonpathstring": (["j", "p"], "get_json_object(j, p)"),
    "jsonpathlong": (["j", "p"], "CAST(get_json_object(j, p) AS BIGINT)"),
    "jsonpathdouble": (["j", "p"], "CAST(get_json_object(j, p) AS DOUBLE)"),
    "jsonpatharray": (["j", "p"], "from_json(get_json_object(j, p), 'array<string>')"),
    # --- arrays / MV (ArrayFunctions.java, TransformFunctionType:104-110) ---
    "arraylength": (["a"], "size(a)"),
    "cardinality_": (["a"], "size(a)"),
    "arrayaverage": (["a"], "aggregate(a, CAST(0.0 AS DOUBLE), (acc, x) -> acc + CAST(x AS DOUBLE)) / size(a)"),
    "arraymin": (["a"], "array_min(a)"),
    "arraymax": (["a"], "array_max(a)"),
    "arraysum": (["a"], "aggregate(a, CAST(0.0 AS DOUBLE), (acc, x) -> acc + CAST(x AS DOUBLE))"),
    "arraydistinct": (["a"], "array_distinct(a)"),
    "arrayindexof": (["a", "v"], "array_position(a, v) - 1"),  # Pinot 0-based
    "arraycontains": (["a", "v"], "array_contains(a, v)"),
    "arrayelementat": (["a", "i"], "element_at(a, i + 1)"),  # Pinot 0-based
    "arrayreverse": (["a"], "reverse(a)"),
    "arrayslice": (["a", "s", "e"], "slice(a, s + 1, e - s)"),
    "arraysort": (["a"], "sort_array(a)"),
    "arrayunion": (["a", "b"], "array_union(a, b)"),
    "arrayconcat": (["a", "b"], "concat(a, b)"),
    "arrayremove": (["a", "v"], "array_remove(a, v)"),
    # valueIn(mvCol, v1, v2, ...) is VARARGS in the reference
    # (ValueInTransformFunction); handled with arity dispatch in
    # sql/dialect.py:rewrite_functions, not as a fixed-arity macro
    # MV filter semantics: Pinot `mvCol = v` means "any element equals"
    "mv_equals": (["a", "v"], "array_contains(a, v)"),
    # --- hash/binary (HashFunctions.java, DataTypeConversionFunctions.java) ---
    "sha": (["b"], "sha1(b)"),
    "sha256_": (["b"], "sha2(b, 256)"),
    "sha512_": (["b"], "sha2(b, 512)"),
    "md5_": (["b"], "md5(b)"),
    # commons-codec DigestUtils hex digests, reachable from groovy()
    # scripts (GroovyFunctionEvaluatorTest.java's sha256Hex pattern):
    # Spark's sha2/sha1/md5 emit the same lowercase-hex strings
    "sha256hex": (["s"], "sha2(s, 256)"),
    "sha1hex": (["s"], "sha1(s)"),
    "md5hex": (["s"], "md5(s)"),
    "bytestohex": (["b"], "hex(b)"),
    "hextobytes": (["s"], "unhex(s)"),
    # --- numbers ---
    "div": (["a", "b"], "a / b"),
    "mult": (["a", "b"], "a * b"),
    "sub": (["a", "b"], "a - b"),
    "add": (["a", "b"], "a + b"),
    "mod_": (["a", "b"], "a % b"),
    "ln_": (["x"], "ln(x)"),
    "log2_": (["x"], "log2(x)"),
    "log10_": (["x"], "log10(x)"),
    "power_": (["x", "y"], "power(x, y)"),
    # roundDecimal: 1-/2-arg arity dispatched in sql/dialect.py
    "truncate_": (["x", "n"], "CAST(floor(x * power(10, n)) / power(10, n) AS DOUBLE)"),
    "roundrobin_bucket": (["x", "n"], "pmod(hash(x), n)"),
}


def sql_macros() -> dict[str, tuple[list[str], str]]:
    """The alias table (name -> (params, SQL body)) for the dialect
    rewriter in hurricanedb_spark/sql/dialect.py."""
    return dict(_SQL_ALIASES)


# --- true UDFs (no Spark expression equivalent) ------------------------------


def _haversine_m(lat1, lon1, lat2, lon2):
    if None in (lat1, lon1, lat2, lon2):
        return None
    r = 6371008.8
    p1, p2 = math.radians(lat1), math.radians(lat2)
    dp, dl = math.radians(lat2 - lat1), math.radians(lon2 - lon1)
    a = math.sin(dp / 2) ** 2 + math.cos(p1) * math.cos(p2) * math.sin(dl / 2) ** 2
    return 2 * r * math.asin(math.sqrt(a))


def _is_subnet_of(prefix: str, addr: str):
    if prefix is None or addr is None:
        return None
    try:
        return ipaddress.ip_address(addr) in ipaddress.ip_network(prefix, strict=False)
    except ValueError:
        return None


def _geo_to_grid(lat, lon, res: int):
    """Deterministic geo bucketing stand-in for geoToH3 (the h3 lib is not in
    the container): hierarchical lat/lon grid cell id at resolution `res`.
    Same contract: nearby points share cells, resolution raises precision.
    (pinot-core/.../geospatial/transform/function/GeoToH3Function)."""
    if lat is None or lon is None:
        return None
    # SQL decimal literals arrive as decimal.Decimal — coerce before
    # the float arithmetic (round-7 inventory-gate finding)
    lat, lon = float(lat), float(lon)
    cells = 2 ** int(res)
    y = int((lat + 90.0) / 180.0 * cells)
    x = int((lon + 180.0) / 360.0 * cells)
    return (int(res) << 40) | (min(y, cells - 1) << 20) | min(x, cells - 1)


# Arrow-native grouped-agg inputs (round-15): pyarrow batch type ->
# Spark simpleString. With `arrow_udf` the batch type IS the declared
# column type — a null-bearing BIGINT column arrives as pa.int64 with a
# validity bitmap instead of pandas float64 (which silently rounded ids
# past 2^53), so the raw-digest builders need neither the typeof() pin
# nor the CAST-AS-STRING exact channel the pandas forms carried in
# rounds 13-14. drop_null() then yields exact int64 numpy directly.
_PA_TO_SPARK_TYPE = {
    "int8": "tinyint",
    "int16": "smallint",
    "int32": "int",
    "int64": "bigint",
    "float": "float",
    "halffloat": "float",
    "double": "double",
    "string": "string",
    "large_string": "string",
    "string_view": "string",
    "binary": "binary",
    "large_binary": "binary",
}


def _pa_values(v, fn: str, allow_binary: bool = False):
    """arrow UDAF column -> (null-free values, spark type simpleString).

    Numeric columns come back as exact numpy arrays (int64 stays int64
    — Arrow carries nulls in the validity bitmap, never by dtype
    degrade); strings/binary as an object array (cold path)."""
    if isinstance(v, pa.ChunkedArray):
        v = v.combine_chunks()
    stype = _PA_TO_SPARK_TYPE.get(str(v.type))
    if stype is None or (stype == "binary" and not allow_binary):
        sketchable = "int/long/float/double/string" + (
            "/bytes" if allow_binary else ""
        )
        raise ValueError(
            f"{fn}: unsupported input type {v.type} "
            f"(sketchable: {sketchable})"
        )
    return v.drop_null().to_numpy(zero_copy_only=False), stype


def register_all(spark: SparkSession) -> None:
    """Register the true-UDF surface (geo/net). Everything in _SQL_ALIASES is
    applied by the SQL dialect rewriter instead (JVM-side, no UDF cost)."""
    spark.udf.register("st_distance_haversine", _haversine_m, T.DoubleType())
    # STUnion over WKT geometry values (grouped-agg; exact subset with
    # loud degradation — functions/geo_union.py). The point-struct form
    # stays on the `stunion` macro; this name takes the WKT column.
    from pyspark.sql import functions as _F

    from hurricanedb_spark.functions.geo_union import union_wkt as _union_wkt

    def _st_union_wkt(v):
        return _union_wkt(v.tolist())

    _st_union_udf = _F.pandas_udf(
        _st_union_wkt, "string", _F.PandasUDFType.GROUPED_AGG
    )
    spark.udf.register("stunionwkt", _st_union_udf)
    spark.udf.register("st_union_wkt", _st_union_udf)
    # distinctCountRawThetaSketch: the reference returns the SERIALIZED
    # DataSketches compact sketch (clients persist and re-merge these);
    # grouped-agg over the group's values via operators/theta_ds — the
    # byte layout is the public org.apache.datasketches compact format.
    # Arrow-native UDAF (round-15): the batch type IS the Spark column
    # type, so hashing dispatches on it directly — a null-bearing
    # BIGINT group arrives as pa.int64 with a validity bitmap, never
    # the pandas float64 degrade that rounded ids past 2^53 and forced
    # rounds 13-14's typeof() pin + CAST-AS-STRING exact channel
    # (update(long) vs update(double) hash differently in DataSketches
    # by design, so the type pin is still what keeps $0 and the CASE
    # WHEN filter sketches in one hash space).
    from hurricanedb_spark.operators.theta_ds import (
        DEFAULT_SEED as _theta_seed,
        _SPARK_TO_HASH_DTYPE as _hash_dtypes,
        compute_seed_hash as _theta_seed_hash,
        from_hashes as _theta_from_hashes,
        hash_column_np as _theta_hash_col,
        serialize as _theta_serialize,
    )

    def _raw_theta(v: pa.Array, k: pa.Array) -> bytes:
        nominal = int(k[0].as_py()) if len(k) else 4096
        vals, stype = _pa_values(v, "rawthetasketch")
        dtype = _hash_dtypes[stype] if stype in _hash_dtypes else None
        if dtype is None:
            raise ValueError(
                f"rawthetasketch: unsupported input type {stype!r} "
                "(sketchable: int/long/float/double/string)"
            )
        hs = _theta_hash_col(vals, dtype)
        sk = _theta_from_hashes(
            (int(h) for h in hs if h), nominal, _theta_seed_hash(_theta_seed)
        )
        return _theta_serialize(sk)

    spark.udf.register("rawthetasketch", _F.arrow_udf(_raw_theta, "binary"))
    # thetaSetOpSketch('<set expr>', array(<sketch bytes>...), nominal):
    # scalar post-aggregation evaluator for the FILTERED raw theta form —
    # deserializes the per-filter sketches and folds the set expression
    # through theta union/intersect/a_not_b, returning the serialized
    # compact result sketch (DistinctCountRawThetaSketchAggregationFunction
    # .java:50-56 returns the serialized set-op result, not its estimate).
    # Runs once per output group (post-aggregation projection), cold path.
    def _theta_setop_sketch(expr_s, blobs, nominal):
        from hurricanedb_spark.operators.theta_ds import (
            deserialize as _d,
            eval_set_tree as _ev,
            serialize as _s,
        )
        from hurricanedb_spark.sql.dialect import _theta_parse_tree

        sks = [_d(bytes(b)) for b in blobs]
        tree = _theta_parse_tree(expr_s, len(sks) - 1)
        return _s(_ev(tree, sks, int(nominal)))

    spark.udf.register("thetasetopsketch", _theta_setop_sketch, "binary")

    # rawQDigest(longCol): exact-regime Pinot QuantileDigest wire bytes
    # per group (operators/percentile_digest.py — vendored
    # QuantileDigest.java layout); the percentileRawEst surface wraps it
    # in the reference's lowercase-hex STRING envelope
    from hurricanedb_spark.operators.percentile_digest import (
        build_qdigest as _qd_build,
    )

    def _raw_qdigest(v: pa.Array) -> bytes:
        # QuantileDigest keys the EXACT long: the Arrow-native batch
        # carries int64 + validity bitmap (round-15), so a null-bearing
        # group never degrades to float64 (which rounded keys past 2^53
        # and forced round-14's decimal-string channel)
        vals, _ = _pa_values(v, "rawqdigest")
        return _qd_build(vals.astype("int64", copy=False).tolist())

    spark.udf.register("rawqdigest", _F.arrow_udf(_raw_qdigest, "binary"))
    # rawTDigest(doubleCol): t-digest MergingDigest wire bytes per group
    # (operators/tdigest.py — public tdunning layout, compression 100 =
    # the reference's DEFAULT_TDIGEST_COMPRESSION); percentileRawTDigest
    # wraps it in the lowercase-hex STRING envelope
    from hurricanedb_spark.operators.tdigest import (
        build_tdigest as _td_build,
    )

    def _raw_tdigest(v):
        return _td_build(v.dropna().astype("float64").tolist())

    spark.udf.register(
        "rawtdigest",
        _F.pandas_udf(_raw_tdigest, "binary", _F.PandasUDFType.GROUPED_AGG),
    )

    # thetaSketchEstimate(sketch) -> rounded BIGINT estimate of a compact
    # sketch; accepts BINARY wire bytes or the base64 STRING envelope the
    # SQL surface's raw forms return (reference scalar of the same name
    # over raw sketch results)
    def _theta_estimate(blob):
        import base64 as _b64

        from hurricanedb_spark.operators.theta_ds import deserialize as _d

        raw = _b64.b64decode(blob) if isinstance(blob, str) else bytes(blob)
        return round(_d(raw).estimate())

    spark.udf.register("thetasketchestimate", _theta_estimate, "bigint")

    # inidsetblob(col, 'base64-idset'): membership probe against a
    # reference-wire IdSet literal (operators/idset_wire.py) — the
    # fallback the dialect's inIdSet rewrite emits for BLOOM_FILTER
    # IdSets (approximate by design, BloomFilterIdSet.java) and for
    # exact sets too large to inline as an IN list. Arrow-batched; the
    # literal decodes once per batch.
    def _in_idset_blob(s, lit):
        from hurricanedb_spark.operators.idset_wire import probe_series

        return probe_series(s, lit.iloc[0])

    spark.udf.register(
        "inidsetblob",
        _F.pandas_udf(_in_idset_blob, "boolean"),
    )

    # inidsetblobx(col, CAST(col AS STRING), 'base64-idset'): the
    # exact-channel variant of the fallback (round-15) — emitted when
    # the set demands the decimal-string channel (ROARING64 past 2^53
    # or a LONG-funnel bloom) and no session was active at rewrite
    # time; the string column carries exact values for batches the
    # Arrow transfer degraded to float64
    def _in_idset_blobx(s, t, lit):
        from hurricanedb_spark.operators.idset_wire import probe_series_pair

        return probe_series_pair(s, t, lit.iloc[0])

    spark.udf.register(
        "inidsetblobx",
        _F.pandas_udf(_in_idset_blobx, "boolean"),
    )

    # idsetwireagg(col, 'params'): per-group reference-wire IdSet bytes
    # (operators/idset_wire.py — IdSetAggregationFunction's result is
    # the base64 of exactly these bytes; the SQL surface wraps
    # base64()). Arrow-native UDAF (round-15): the batch type IS the
    # declared column type, so the dispatch needs no typeof() pin, and
    # a null-bearing INT/LONG group arrives exact (validity bitmap, no
    # float64 degrade) — the rounds-13/14 CAST-AS-STRING lossless
    # channel and its per-row JVM cast + doubled Arrow transfer are
    # gone from this path.
    def _idset_agg(v: pa.Array, params: pa.Array) -> bytes:
        from hurricanedb_spark.operators.idset_wire import (
            DEFAULT_EXPECTED_INSERTIONS,
            DEFAULT_FPP,
            DEFAULT_SIZE_THRESHOLD,
            IdSetAccumulator,
            spark_type_to_pinot,
        )

        vals, stype = _pa_values(v, "idSet", allow_binary=True)
        dtype = spark_type_to_pinot(stype)
        th, ins, fpp = (
            DEFAULT_SIZE_THRESHOLD,
            DEFAULT_EXPECTED_INSERTIONS,
            DEFAULT_FPP,
        )
        p0 = params[0].as_py() if len(params) else ""
        for kv in (p0 or "").split(";"):
            k, sep, val = kv.partition("=")
            if not sep:
                continue
            k = k.strip().lower()
            if k == "sizethresholdinbytes":
                th = int(val)
            elif k == "expectedinsertions":
                ins = int(val)
            elif k == "fpp":
                fpp = float(val)
        if dtype in ("FLOAT", "DOUBLE"):
            # match the pandas path's dropna semantics: NaN values are
            # skipped (arrow's drop_null keeps them — NaN is a value)
            import numpy as np

            vals = vals[~np.isnan(vals)]
        # streaming accumulator (round-13 verdict #6): chunked folds
        # with the incremental threshold->bloom conversion keep even a
        # single-phase high-cardinality group under a fixed state
        # bound; bytes identical to a one-shot encode_idset
        acc = IdSetAccumulator(
            dtype,
            size_threshold_in_bytes=th,
            expected_insertions=ins,
            fpp=fpp,
        )
        step = 1 << 20
        for i in range(0, len(vals), step):
            acc.add(vals[i : i + step])
        return acc.emit()

    spark.udf.register("idsetwireagg", _F.arrow_udf(_idset_agg, "binary"))
    # distinctCountRawHLL builder: the reference serializes the
    # CLEARSPRING HyperLogLog (CustomSerDeUtils.HYPER_LOG_LOG_SER_DE ->
    # HyperLogLog.getBytes), hashing each value through the real
    # stream-2.9.8 MurmurHash type dispatch — operators/clearspring_hll
    # reproduces the wire format so reference clients can persist /
    # deserialize / re-merge these strings. Arrow-native UDAF
    # (round-15): the batch type IS the Spark column type (no typeof()
    # arg), and a null-bearing BIGINT group arrives as exact int64 —
    # the reference hashes the EXACT long, which the pandas float64
    # degrade silently rounded past 2^53 until round-14's
    # decimal-string channel; both channel and cast are now gone.
    from hurricanedb_spark.operators.clearspring_hll import (
        ClearspringHLL as _CsHLL,
        build_hll as _cs_build,
        merge_hlls as _cs_merge,
    )

    def _raw_cs_hll(v: pa.Array, k: pa.Array) -> bytes:
        log2m = int(k[0].as_py()) if len(k) else 8
        vals, stype = _pa_values(v, "distinctCountRawHLL")
        return _cs_build(vals, stype, log2m)

    spark.udf.register(
        "rawclearspringhll", _F.arrow_udf(_raw_cs_hll, "binary")
    )

    # scalar estimate over a serialized clearspring HLL (BINARY or the
    # raw form's lowercase-hex STRING envelope) — closes the raw-form
    # loop like thetaSketchEstimate does for theta
    def _cs_hll_card(blob):
        raw = bytes.fromhex(blob) if isinstance(blob, str) else bytes(blob)
        return _CsHLL.deserialize(raw).cardinality()

    spark.udf.register("clearspringhllcard", _cs_hll_card, "bigint")

    # union of pre-built clearspring sketches in a BYTES column
    # (DistinctCountRawHLLAggregationFunction BYTES dispatch: addAll),
    # as scalars over collect_list(sketch column): JVM aggregates, so a
    # global aggregate over no rows still returns a row. A list with no
    # sketch unions to NULL; the dialect reads that as the empty sketch
    def _cs_hll_union_est(blobs):
        raw = _cs_merge(blobs)
        return None if raw is None else _CsHLL.deserialize(raw).cardinality()

    spark.udf.register("clearspringhllunion", _cs_merge, "binary")
    spark.udf.register("clearspringhllunionest", _cs_hll_union_est, "bigint")
    # raw theta aggregation over a BYTES column = union of the PRE-BUILT
    # sketches stored in it (DistinctCountThetaSketchAggregationFunction
    # aggregate(): valueTypes[0] == BYTES deserializes and unions instead
    # of hashing the blobs), re-serialized as serVer-3 wire bytes. The
    # dialect routes BINARY columns here (HurricaneSQL.
    # _theta_bytes_rewrite); the estimate form unions natively
    # (theta_union_agg), which reads the same bytes.
    from hurricanedb_spark.operators.theta_ds import (
        deserialize as _theta_deser,
        union as _theta_union,
    )

    # a scalar over collect_list(sketch column): a JVM aggregate, so a
    # global aggregate over no rows still returns one row, holding the
    # empty sketch, as the reference does
    def _theta_union_list(blobs, k):
        sks = [_theta_deser(bytes(b)) for b in blobs]
        return _theta_serialize(_theta_union(sks, k=int(k)))

    spark.udf.register("thetasketchunionlist", _theta_union_list, "binary")
    # EXACT distinct over serialized value RoaringBitmaps (star-tree
    # distinctCountBitmap pairs): union + cardinality
    from hurricanedb_spark.sources.pinot_segment import (
        roaring_deserialize as _roar_deser,
    )

    def _bitmap_union_count(v):
        out = set()
        for b in v:
            if b is not None:
                out.update(int(x) for x in _roar_deser(bytes(b)))
        return len(out)

    spark.udf.register(
        "bitmapunioncount",
        _F.pandas_udf(_bitmap_union_count, "bigint", _F.PandasUDFType.GROUPED_AGG),
    )
    spark.udf.register("issubnetof", _is_subnet_of, T.BooleanType())
    spark.udf.register("geotoh3", _geo_to_grid, T.LongType())
    # WKB parse/emit kernels (binary reinterpret has no Spark expression;
    # Arrow-batched, cold path): ST_GeomFromWKB/ST_GeogFromWKB for point
    # geometries, ST_AsBinary for points, plus the polygon reader under
    # its explicit name — the SQL surface models the two geometry kinds
    # with distinct types (struct vs ring array), as with the WKT forms
    import pandas as _pd

    from hurricanedb_spark.functions.geo import (
        parse_wkb as _parse_wkb,
        wkb_point_bytes as _wkb_point_bytes,
    )

    def _wkb_to_point(col):
        out = []
        for b in col:
            p = _parse_wkb(bytes(b)) if b is not None else None
            out.append(p[1] if p and p[0] == "Point" else (None, None))
        return _pd.DataFrame(out, columns=["lon", "lat"])

    def _wkb_to_ring(col):
        out = []
        for b in col:
            p = _parse_wkb(bytes(b)) if b is not None else None
            if p and p[0] == "Polygon" and p[1]:
                out.append([{"lon": x, "lat": y} for x, y in p[1][0]])
            else:
                out.append(None)
        return _pd.Series(out)

    def _point_to_wkb(lon, lat):
        return _pd.Series(
            [
                None if _pd.isna(lo) else _wkb_point_bytes(float(lo), float(la))
                for lo, la in zip(lon, lat)
            ]
        )

    from pyspark.sql.functions import pandas_udf as _pudf

    spark.udf.register(
        "stgeomfromwkb", _pudf(_wkb_to_point, "lon double, lat double")
    )
    spark.udf.register(
        "stgeogfromwkb", _pudf(_wkb_to_point, "lon double, lat double")
    )
    spark.udf.register(
        "stpolygonfromwkb",
        _pudf(_wkb_to_ring, "array<struct<lon:double,lat:double>>"),
    )
    spark.udf.register("_st_point_wkb", _pudf(_point_to_wkb, "binary"))

    # BigDecimal wire format (BigDecimalUtils.serialize: 2-byte
    # big-endian scale + BigInteger.toByteArray minimal two's-complement
    # unscaled value) — bytes written here deserialize in a real
    # deployment and vice versa
    def _bigdecimal_to_bytes(col):
        import decimal

        def ser(d):
            if d is None:
                return None
            d = decimal.Decimal(d)
            exp = d.as_tuple().exponent
            scale = max(0, -exp)
            unscaled = int(d.scaleb(scale).to_integral_value())
            n = (unscaled.bit_length() // 8) + 1  # toByteArray sign byte
            return (scale & 0xFFFF).to_bytes(2, "big") + unscaled.to_bytes(
                n, "big", signed=True
            )

        return _pd.Series([ser(d) for d in col])

    def _bytes_to_bigdecimal(col):
        import decimal

        def de(b):
            if b is None:
                return None
            b = bytes(b)
            scale = int.from_bytes(b[:2], "big", signed=True)
            unscaled = int.from_bytes(b[2:], "big", signed=True)
            return decimal.Decimal(unscaled).scaleb(-scale)

        return _pd.Series([de(b) for b in col])

    spark.udf.register("bigdecimaltobytes", _pudf(_bigdecimal_to_bytes, "binary"))
    spark.udf.register(
        "bytestobigdecimal", _pudf(_bytes_to_bigdecimal, "decimal(38,18)")
    )
    # underscore spellings (Pinot canonicalizes ST_GeomFromWKB etc. by
    # dropping underscores; Spark UDF lookup does not, so register both)
    spark.udf.register(
        "st_geomfromwkb", _pudf(_wkb_to_point, "lon double, lat double")
    )
    spark.udf.register(
        "st_geogfromwkb", _pudf(_wkb_to_point, "lon double, lat double")
    )
    spark.udf.register(
        "st_polygonfromwkb",
        _pudf(_wkb_to_ring, "array<struct<lon:double,lat:double>>"),
    )
