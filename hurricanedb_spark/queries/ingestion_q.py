"""Ingestion-pipeline and text-search queries in the correctness gate.

The record-transformer chain (SURVEY.md §2.1,
pinot-segment-local/.../recordtransformer/) and the TEXT_MATCH filter
(pinot-core/.../filter/TextMatchFilterOperator.java) were previously
pytest-only; these register oracle-checked end-to-end forms.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from hurricanedb_spark.queries._fixture import (
    fixture_stale,
    write_fixture_marker,
)
from hurricanedb_spark.catalog.tables import load_table
from hurricanedb_spark.queries import register
from hurricanedb_spark.sources.ingestion import IngestionPipeline
from hurricanedb_spark.sql.text_match import translate_text_match


@register(
    "q_ingestion_transform_chain",
    oracle="""
    SELECT event_type,
           COUNT(*) AS n,
           CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
             AS sum_cents,
           MIN(CAST(user_id AS INT)) AS min_user
    FROM events
    WHERE NOT event_type = 'error'
      AND ts >= TIMESTAMP '2024-01-10 00:00:00'
      AND ts <= TIMESTAMP '2024-12-31 00:00:00'
    GROUP BY event_type
    """,
    doc="Full record-transformer chain as one declarative pipeline "
    "(FilterTransformer drop-matching + ExpressionTransformer derived "
    "column + DataTypeTransformer cast + SanitizationTransformer trim + "
    "TimeValidationTransformer range drop), then an aggregate over the "
    "ingested result. Catalyst fuses the chain into the scan.",
    tags=("ingestion",),
)
def q_ingestion_transform_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    pipe = IngestionPipeline(
        {
            "filter": {"expr": "event_type = 'error'"},  # drop matching rows
            "transforms": [
                {
                    "column": "value_cents",
                    "expr": "CAST(FLOOR(value * 100 + 0.5) AS BIGINT)",
                }
            ],
            "data_types": {"user_id": "int"},
            "sanitize": {"trim": True},
            "time_validate": {
                "column": "ts",
                "min": "2024-01-10 00:00:00",
                "max": "2024-12-31 00:00:00",
                "action": "drop",
            },
        }
    )
    ingested = pipe.apply(ev)
    return ingested.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("value_cents").alias("sum_cents"),
        F.min("user_id").alias("min_user"),
    )


@register(
    "q_text_match_lucene",
    oracle="""
    SELECT lang,
           COUNT(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars
    FROM documents
    WHERE ((text LIKE '%fast table%' OR text LIKE '%slow merge%')
           AND text LIKE '%spark%'
           AND NOT text LIKE '%zebra%')
    GROUP BY lang
    """,
    doc="TEXT_MATCH with Lucene boolean syntax "
    "(TextMatchFilterOperator; shapes from TextSearchQueriesTest): "
    "'(\"fast table\" OR \"slow merge\") AND spark AND NOT zebra' "
    "translated by sql/text_match.py into contains() predicates that "
    "Catalyst pushes into the scan; the text index itself is an "
    "access-path optimization with no semantic surface.",
    tags=("filter", "text"),
)
def q_text_match_lucene(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    cond = translate_text_match(
        "text", '("fast table" OR "slow merge") AND spark AND NOT zebra'
    )
    return docs.filter(F.expr(cond)).groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
    )


@register(
    "q_text_match_fuzzy_range",
    oracle="""
    SELECT lang,
           COUNT(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars
    FROM documents
    WHERE len(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
              t -> t <> '' AND levenshtein(t, 'colum') <= 1)) > 0
      AND len(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
              t -> t <> '' AND t >= 'slow' AND t <= 'sorta')) > 0
      AND NOT regexp_matches(text, '\\bzebra')
    GROUP BY lang
    """,
    doc="TEXT_MATCH fuzzy + range shapes (TextSearchQueriesTest fuzzy "
    "`term~`, TermRangeQuery `[a TO b]`, field grouping `text:(...)`): "
    "'text:(colum~1 AND [slow TO sorta] AND NOT zebra*)' — fuzzy and "
    "range match per analyzed token via exists() over split(), all "
    "JVM-side.",
    tags=("filter", "text"),
)
def q_text_match_fuzzy_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    cond = translate_text_match(
        "text", "text:(colum~1 AND [slow TO sorta] AND NOT zebra*)"
    )
    return docs.filter(F.expr(cond)).groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
    )


@register(
    "q_text_match_wildcard_boost",
    oracle="""
    SELECT lang,
           COUNT(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars
    FROM documents
    WHERE len(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
              t -> t <> '' AND regexp_matches(t, '^sc.n$'))) > 0
      AND text LIKE '%merge%'
    GROUP BY lang
    """,
    doc="TEXT_MATCH mid-word wildcard + boost shapes (Lucene "
    "WildcardQuery `sc?n` — matches whole analyzed terms via an anchored "
    "per-token regex — and `merge^2`, whose boost weights scoring only "
    "and is parsed away in a filter context). sql/text_match.py keeps "
    "trailing-star prefixes on the cheap whole-column scan path; only "
    "true mid-word wildcards pay the per-token exists().",
    tags=("filter", "text"),
)
def q_text_match_wildcard_boost(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    cond = translate_text_match("text", "sc?n AND merge^2")
    return docs.filter(F.expr(cond)).groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
    )


@register(
    "q_json_match_filter",
    oracle="""
    SELECT event_type,
           COUNT(*) AS n,
           MIN(CAST(json_extract_string(props, '$.k') AS DOUBLE)) AS min_k
    FROM events
    WHERE (CAST(json_extract_string(props, '$.k') AS DOUBLE) > 50
           AND CAST(json_extract_string(props, '$.k') AS DOUBLE) NOT IN (69, 70)
           AND json_extract_string(props, '$.k') IS NOT NULL)
    GROUP BY event_type
    """,
    doc="JSON_MATCH predicate syntax (JsonMatchFilterOperator; JSON-index "
    "semantics are path predicates): '\"$.k\" > 50 AND \"$.k\" NOT IN "
    "(69, 70) AND \"$.k\" IS NOT NULL' translated by sql/json_match.py "
    "into get_json_object comparisons.",
    tags=("filter", "json"),
)
def q_json_match_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hurricanedb_spark.sql.json_match import translate_json_match

    ev = load_table(spark, sf_dir, "events")
    cond = translate_json_match(
        "props", '"$.k" > 50 AND "$.k" NOT IN (69, 70) AND "$.k" IS NOT NULL'
    )
    return ev.filter(F.expr(cond)).groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.min(F.expr("CAST(get_json_object(props, '$.k') AS DOUBLE)")).alias(
            "min_k"
        ),
    )


@register(
    "q_idset_roundtrip",
    oracle="""
    SELECT l_returnflag,
           COUNT(*) AS n,
           CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
    FROM lineitem
    WHERE l_orderkey IN (
      SELECT o_orderkey FROM orders WHERE o_totalprice > 300000
    )
    GROUP BY l_returnflag
    """,
    doc="IN_SUBQUERY two-phase protocol "
    "(BaseBrokerRequestHandler.handleSubquery:783-820): the inner query "
    "runs first and its ID_SET serializes to a base64 literal, then the "
    "outer query filters with IN_ID_SET against that literal "
    "(sql/idset.py). Same result as the semi-join form (q_in_subquery) "
    "by construction; this exercises the serialized-set path.",
    tags=("join", "idset"),
)
def q_idset_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hurricanedb_spark.sql.idset import id_set, in_id_set

    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    literal = id_set(orders.filter(F.col("o_totalprice") > 300000), "o_orderkey")
    return (
        li.filter(in_id_set(F.col("l_orderkey"), literal))
        .groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("l_quantity").cast("bigint")).alias("sum_qty"),
        )
    )


@register(
    "q_idset_sql_wire",
    oracle="""
    SELECT l_returnflag,
           COUNT(*) AS n,
           CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
    FROM lineitem
    WHERE l_orderkey IN (
      SELECT o_orderkey FROM orders WHERE o_totalprice > 350000
    )
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
    doc="Round-13: the full IN_SUBQUERY protocol through the SQL "
    "surface with the reference's ACTUAL IdSet wire format — the inner "
    "query's idSet(o_orderkey) aggregate returns the base64 of the "
    "reference's IdSet bytes (Roaring64NavigableMapIdSet for the LONG "
    "key; operators/idset_wire.py, byte-identical to the real jars), "
    "and the outer inIdSet(l_orderkey, '<literal>') decodes it to an "
    "in-plan IN list. Exact oracle: the wire round-trip must equal the "
    "plain semi-join.",
    tags=("join", "idset", "dialect"),
)
def q_idset_sql_wire(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hurricanedb_spark.sql.dialect import HurricaneSQL

    hdb = HurricaneSQL(spark, sf_dir)
    lit = hdb.sql(
        "SELECT idset(o_orderkey) AS s FROM orders "
        "WHERE o_totalprice > 350000",
        default_limit=None,
    ).collect()[0]["s"]
    return hdb.sql(
        f"""
        SELECT l_returnflag,
               count(*) AS n,
               CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
        FROM lineitem
        WHERE inidset(l_orderkey, '{lit}')
        GROUP BY l_returnflag
        ORDER BY l_returnflag
        """,
        default_limit=None,
    )


@register(
    "q_text_match_slop",
    oracle="""
    SELECT lang,
           COUNT(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars
    FROM documents
    WHERE len(list_filter(
            list_filter(range(1, len(list_filter(string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' '), t -> t <> '')) + 1),
                        i -> list_filter(string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' '), t -> t <> '')[i] = 'fast'),
            i -> len(list_filter(
                   list_filter(range(1, len(list_filter(string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' '), t -> t <> '')) + 1),
                               j -> list_filter(string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' '), t -> t <> '')[j] = 'table'),
                   j -> CASE WHEN j > i THEN j - i - 1 <= 1
                             WHEN j < i THEN i - j + 1 <= 1
                             ELSE false END)) > 0)) > 0
    GROUP BY lang
    """,
    doc="TEXT_MATCH two-term sloppy phrase '\"fast table\"~1' with EXACT "
    "Lucene slop semantics (in-order cost = token gap, reversed adjacent "
    "pair costs 2 — SloppyPhraseMatcher): token positions via "
    "sequence/element_at inside codegen; the oracle replays the same "
    "position algebra with DuckDB range/list_filter. Note the analyzed-"
    "token tokenization differs from raw substring containment, so this "
    "is a strictly different (and larger) match set than LIKE "
    "'%fast table%'.",
    tags=("filter", "text"),
)
def q_text_match_slop(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    cond = translate_text_match("text", '"fast table"~1')
    return docs.filter(F.expr(cond)).groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
    )


# DuckDB rendering of the SloppyPhraseMatcher max-min rule used by
# sql/text_match.py:_slop_expr — same tokenization ([^a-z0-9]+ split),
# same position algebra, k-way nested lambdas.
_DUCK_TOKS = (
    "list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), t -> t <> '')"
)


def _duck_slop_pred(words: list[str], slop: int) -> str:
    k = len(words)
    pos = [
        f"list_filter(range(1, len({_DUCK_TOKS}) + 1), "
        f"i{m} -> {_DUCK_TOKS}[i{m}] = '{w}')"
        for m, w in enumerate(words)
    ]
    adj = ", ".join(f"(p{m} - {m})" for m in range(k))
    conds = [f"greatest({adj}) - least({adj}) <= {slop}"]
    # repeated terms must occupy distinct positions (mirrors _slop_expr)
    for a in range(k):
        for b in range(a + 1, k):
            if words[a] == words[b]:
                conds.append(f"p{a} <> p{b}")
    expr = "(" + " AND ".join(conds) + ")"
    for m in reversed(range(k)):
        expr = f"len(list_filter({pos[m]}, p{m} -> {expr})) > 0"
    return expr


@register(
    "q_text_match_slop3",
    oracle=f"""
    SELECT lang, COUNT(*) AS n_docs
    FROM documents
    WHERE {_duck_slop_pred(["fast", "table", "value"], 3)}
    GROUP BY lang
    """,
    doc="TEXT_MATCH three-term sloppy phrase '\"fast table value\"~3' with "
    "exact Lucene SloppyPhraseMatcher semantics: token positions p_m with "
    "phrase offsets m match when max(p_m - m) - min(p_m - m) <= slop "
    "(sql/text_match.py:_slop_expr, generalizing the two-term costs; "
    "reference TextSearchQueriesTest slop cases). Oracle replays the same "
    "position algebra with DuckDB nested list lambdas.",
    tags=("filter", "text"),
)
def q_text_match_slop3(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    cond = translate_text_match("text", '"fast table value"~3')
    return docs.filter(F.expr(cond)).groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs")
    )




def _is_segment(ps, path: str) -> bool:
    """Skip partially-written segment dirs left by an interrupted export."""
    try:
        ps.read_segment_metadata(path)
        return True
    except Exception:  # noqa: BLE001
        return False


@register(
    "q_segment_format_roundtrip",
    oracle="""
    SELECT s_nationkey,
           COUNT(*) AS n_supp,
           CAST(CAST(SUM(CAST(s_acctbal AS DECIMAL(12,4))) AS DECIMAL(30,4))
                AS DOUBLE) AS sum_acctbal
    FROM supplier GROUP BY s_nationkey
    """,
    doc="Native v3 segment format round trip (SingleFileIndexDirectory / "
    "SegmentDictionaryCreator / FixedBitSVForwardIndexWriter layouts, "
    "sources/pinot_segment.py): supplier is exported to on-disk v3 "
    "segments (columns.psf + index_map + metadata.properties, bit-packed "
    "dictionary-encoded forward indexes), read back distributed (mapInPandas "
    "tasks capped at the core count, each decoding the segments whose "
    "ids it holds, as CombineOperatorUtils caps the reference's "
    "operator pool), and aggregated; the "
    "oracle aggregates the original parquet — proving the segment "
    "migration path is lossless.",
    tags=("sources", "segment-format"),
)
def q_segment_format_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    from hurricanedb_spark.queries._exact import dcol
    from hurricanedb_spark.sources import pinot_segment as ps

    base = os.path.join(
        "/tmp/hurricanedb_segments", os.path.basename(os.path.normpath(sf_dir))
    )
    marker = os.path.join(base, "_written")
    if fixture_stale(marker, sf_dir):
        sup = load_table(spark, sf_dir, "supplier").select(
            "s_suppkey", "s_nationkey", "s_acctbal"
        )
        ps.export_segments(sup.repartition(4), base, "supplier")
        write_fixture_marker(marker, sf_dir)
    segs = sorted(
        os.path.join(base, d)
        for d in os.listdir(base)
        if os.path.isdir(os.path.join(base, d))
        and _is_segment(ps, os.path.join(base, d))
    )
    df = ps.read_segments(spark, segs)
    return df.groupBy("s_nationkey").agg(
        F.count(F.lit(1)).alias("n_supp"),
        F.sum(dcol("s_acctbal")).cast("decimal(30,4)").cast("double").alias("sum_acctbal"),
    )


@register(
    "q_segment_pruned_scan",
    oracle="""
    SELECT o_orderpriority,
           COUNT(*) AS n_orders,
           CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(12,4))) AS DECIMAL(30,4))
                AS DOUBLE) AS sum_price
    FROM orders
    WHERE o_custkey BETWEEN 200 AND 400
    GROUP BY o_orderpriority
    """,
    doc="Segment-level pruning end-to-end (the reference's "
    "ColumnValueSegmentPruner over metadata min/max, "
    "SegmentPrunerService): orders is exported once to v3 segments "
    "RANGE-PARTITIONED on o_custkey, prune_segments drops every segment "
    "whose [min,max] misses the BETWEEN bound before any columns.psf is "
    "opened, the survivors decode distributed, and the residual filter + "
    "aggregate run on the pruned scan. The oracle filters the original "
    "parquet — proving pruning loses no rows.",
    tags=("sources", "segment-format", "pruning"),
)
def q_segment_pruned_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    from hurricanedb_spark.queries._exact import dcol
    from hurricanedb_spark.sources import pinot_segment as ps

    base = os.path.join(
        "/tmp/hurricanedb_segments",
        os.path.basename(os.path.normpath(sf_dir)) + "_orders_ranged",
    )
    marker = os.path.join(base, "_written")
    if fixture_stale(marker, sf_dir):
        od = load_table(spark, sf_dir, "orders").select(
            "o_custkey", "o_orderpriority", "o_totalprice"
        )
        # range-partition on the prune key so segments carry disjoint
        # [min,max] spans (the layout a time/key-partitioned deep store has)
        ps.export_segments(
            od.repartitionByRange(6, "o_custkey"), base, "orders"
        )
        write_fixture_marker(marker, sf_dir)
    segs = sorted(
        os.path.join(base, d)
        for d in os.listdir(base)
        if os.path.isdir(os.path.join(base, d))
        and _is_segment(ps, os.path.join(base, d))
    )
    kept = ps.prune_segments(segs, "o_custkey", "between", (200, 400))
    assert len(kept) < len(segs), "pruning must drop disjoint segments"
    # at tiny SFs the whole range can prune away (sf0.001 custkeys stop at
    # 149): the correct result is an empty frame, schema from the store
    df = ps.read_segments(spark, kept, schema_from=segs)
    return (
        df.filter(F.col("o_custkey").between(200, 400))
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(dcol("o_totalprice"))
            .cast("decimal(30,4)")
            .cast("double")
            .alias("sum_price"),
        )
    )


def _orders_startree_store(spark: SparkSession, sf_dir: str) -> tuple[str, str]:
    """Seal orders as a native v3 segment carrying a star-tree on
    (o_orderpriority, o_orderstatus) with count + exact integer-cents
    sum/min/max pairs; cached per sf_dir under /tmp. Shared by the
    binary-interop query and the SQL-redirect gate query."""
    import os

    import numpy as np

    from hurricanedb_spark.sources import pinot_segment as ps
    from hurricanedb_spark.sources import startree_v2 as st

    base = os.path.join(
        "/tmp/hurricanedb_segments",
        os.path.basename(os.path.normpath(sf_dir)) + "_orders_startree",
    )
    seg = os.path.join(base, "orders_st")
    # v3: + the distinctCountThetaSketch__o_custkey pair (round 8)
    marker = os.path.join(base, "_written_v3")
    if fixture_stale(marker, sf_dir):
        od = load_table(spark, sf_dir, "orders").select(
            "o_orderpriority", "o_orderstatus", "o_custkey", "o_totalprice"
        )
        # driver-side build is the interop PROOF at gate SF only; the
        # scale path is per-segment write_star_trees inside the export
        # tasks (trees are per-segment artifacts in the reference too)
        n_rows = od.count()
        if n_rows > 5_000_000:
            raise RuntimeError(
                f"orders star-tree store: {n_rows} rows — build star-trees "
                "per segment via export_segments + write_star_trees, not "
                "a whole-table driver collect"
            )
        pdf = od.toPandas()
        pdf["cents"] = np.floor(pdf["o_totalprice"] * 100 + 0.5).astype(np.int64)
        pdf = pdf.drop(columns="o_totalprice")
        import shutil

        shutil.rmtree(seg, ignore_errors=True)
        ps.write_segment_pandas(pdf, seg)
        st.write_star_trees(
            seg,
            pdf,
            [
                st.StarTreeSpec(
                    split_order=["o_orderpriority", "o_orderstatus"],
                    function_column_pairs=[
                        "count__*",
                        "sum__cents",
                        "min__cents",
                        "max__cents",
                        "distinctcountthetasketch__o_custkey",
                    ],
                    max_leaf_records=1,
                )
            ],
        )
        write_fixture_marker(marker, sf_dir)
    return base, seg


@register(
    "q_startree_binary_agg",
    oracle="""
    SELECT o_orderpriority, o_orderstatus,
           COUNT(*) AS n,
           CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT))
                AS BIGINT) AS sum_cents
    FROM orders GROUP BY o_orderpriority, o_orderstatus
    """,
    doc="Star-tree v2 in the reference's on-disk binary format "
    "(StarTreeBuilderUtils.serializeTree / OffHeapStarTree layout, "
    "sources/startree_v2.py): orders is sealed as a v3 segment with a "
    "star-tree on (o_orderpriority, o_orderstatus) carrying count + "
    "exact integer-cents sums, and the aggregation is answered from the "
    "TREE's pre-aggregated records via traversal — never the raw docs. "
    "The oracle aggregates the raw parquet, proving the tree is "
    "lossless.",
    tags=("sources", "segment-format", "startree"),
)
def q_startree_binary_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hurricanedb_spark.sources import pinot_segment as ps
    from hurricanedb_spark.sources import startree_v2 as st

    base, seg = _orders_startree_store(spark, sf_dir)
    out = st.star_tree_aggregate(
        seg,
        ["o_orderpriority", "o_orderstatus"],
        ["count__*", "sum__cents"],
    )
    # decode dictIds via the segment dictionaries
    meta = ps.read_segment_metadata(seg)
    psf = ps._read_psf(meta)
    for col in ("o_orderpriority", "o_orderstatus"):
        lut = ps._decode_dictionary(
            ps._index_buffer(meta, psf, col, "dictionary"), meta.columns[col]
        )
        out[col] = out[col].map(lambda i: lut[i])
    out = out.rename(columns={"count__*": "n", "sum__cents": "sum_cents"})
    return spark.createDataFrame(
        out[["o_orderpriority", "o_orderstatus", "n", "sum_cents"]]
    )


@register(
    "q_startree_sql_redirect",
    oracle="""
    SELECT o_orderpriority,
           COUNT(*) AS n,
           CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT))
                AS BIGINT) AS sum_cents,
           CAST(MAX(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT))
                AS BIGINT) AS max_cents
    FROM orders
    WHERE o_orderstatus = 'F'
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
    doc="Transparent star-tree redirect in the SQL path "
    "(StarTreeUtils.java:144 isFitForStarTree + AggregationPlanNode "
    "analog, sql/dialect.py:_star_tree_rewrite): orders is sealed as a "
    "native segment with a serialized star-tree, registered via "
    "register_segment_table, and plain Pinot SQL is answered from the "
    "TREE's pre-aggregated records — the query raises if the redirect "
    "did not fire, so this row proves the rewrite, not just the result. "
    "The oracle aggregates the raw parquet, proving tree-path results "
    "identical to a scan.",
    tags=("sources", "segment-format", "startree", "dialect"),
)
def q_startree_sql_redirect(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hurricanedb_spark.sql.dialect import HurricaneSQL

    base, _seg = _orders_startree_store(spark, sf_dir)
    hq = HurricaneSQL(spark)
    hq.register_segment_table("orders_startree_sql", base)
    df = hq.sql(
        """
        SELECT o_orderpriority,
               COUNT(*) AS n,
               SUM(cents) AS sum_cents,
               MAX(cents) AS max_cents
        FROM orders_startree_sql
        WHERE o_orderstatus = 'F'
        GROUP BY o_orderpriority
        ORDER BY o_orderpriority
        LIMIT 100
        """
    )
    if hq.last_star_tree_redirect is None:
        raise RuntimeError(
            "star-tree redirect did not fire — gate row would silently "
            "test the scan path"
        )
    return df


@register(
    "q_startree_range_redirect",
    oracle="""
    SELECT o_orderstatus,
           COUNT(*) AS n,
           CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT))
                AS BIGINT) AS sum_cents,
           CAST(MIN(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT))
                AS BIGINT) AS min_cents
    FROM orders
    WHERE o_orderpriority BETWEEN '1-URGENT' AND '3-MEDIUM'
      AND (o_orderstatus = 'F' OR o_orderstatus = 'O')
    GROUP BY o_orderstatus
    ORDER BY o_orderstatus
    """,
    doc="Star-tree redirect with RANGE + single-dimension OR predicates "
    "(round-8 item 3): the reference's star-tree accepts any "
    "per-dimension predicate evaluator (StarTreeFilterOperator.java:"
    "59-117; the fit check is column-membership only, StarTreeUtils."
    "java:144-169). The dialect accepts BETWEEN / comparison / OR "
    "conjuncts over one dimension each, keys the pre-agg view by their "
    "columns and re-applies the verbatim WHERE on it — the query "
    "raises if the redirect did not fire.",
    tags=("sources", "segment-format", "startree", "dialect"),
)
def q_startree_range_redirect(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hurricanedb_spark.sql.dialect import HurricaneSQL

    base, _seg = _orders_startree_store(spark, sf_dir)
    hq = HurricaneSQL(spark)
    hq.register_segment_table("orders_startree_range", base)
    df = hq.sql(
        """
        SELECT o_orderstatus,
               COUNT(*) AS n,
               SUM(cents) AS sum_cents,
               MIN(cents) AS min_cents
        FROM orders_startree_range
        WHERE o_orderpriority BETWEEN '1-URGENT' AND '3-MEDIUM'
          AND (o_orderstatus = 'F' OR o_orderstatus = 'O')
        GROUP BY o_orderstatus
        ORDER BY o_orderstatus
        LIMIT 100
        """
    )
    if hq.last_star_tree_redirect is None:
        raise RuntimeError(
            "star-tree range redirect did not fire — gate row would "
            "silently test the scan path"
        )
    return df


@register(
    "q_startree_theta_redirect",
    oracle="""
    SELECT o_orderpriority,
           CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS dc_cust
    FROM orders
    WHERE o_orderstatus = 'O'
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
    doc="distinctCountThetaSketch answered from the star-tree's sketch "
    "records through the transparent SQL redirect (theta function-column "
    "pairs, DistinctCountThetaSketchStarTreeV2Test analog): per-segment "
    "tree records carry serialized compact sketches, the final union "
    "estimates — exact below nominalEntries. That is a DATA-SCALE "
    "precondition, not a property of the query, so the query asserts it "
    "(max per-group NDV <= nominalEntries) and RAISES loudly when the "
    "fixture outgrows it, instead of letting the exact oracle silently "
    "rot into sketch-estimation mismatches. Raises if the redirect did "
    "not fire.",
    tags=("sources", "segment-format", "startree", "sketch", "dialect"),
)
def q_startree_theta_redirect(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from hurricanedb_spark.sql.dialect import HurricaneSQL

    base, _seg = _orders_startree_store(spark, sf_dir)
    ndv = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus") == "O")
        .groupBy("o_orderpriority")
        .agg(F.countDistinct("o_custkey").alias("ndv"))
        .agg(F.max("ndv"))
        .collect()[0][0]
    )
    if ndv and ndv > 4096:
        raise RuntimeError(
            f"q_startree_theta_redirect: per-group NDV {ndv} exceeds the "
            "tree's nominalEntries 4096 — the sketches enter estimation "
            "mode and the exact count-distinct oracle no longer applies "
            "at this SF; rebuild the tree with larger nominalEntries or "
            "switch the row to a tolerance check"
        )
    hq = HurricaneSQL(spark)
    hq.register_segment_table("orders_startree_theta", base)
    df = hq.sql(
        """
        SELECT o_orderpriority,
               distinctCountThetaSketch(o_custkey) AS dc_cust
        FROM orders_startree_theta
        WHERE o_orderstatus = 'O'
        GROUP BY o_orderpriority
        ORDER BY o_orderpriority
        LIMIT 100
        """
    )
    if hq.last_star_tree_redirect is None:
        raise RuntimeError(
            "star-tree theta redirect did not fire — gate row would "
            "silently test the scan path"
        )
    return df


@register(
    "q_segment_mixed_store",
    oracle="""
    SELECT lang,
           COUNT(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           CAST(SUM(doc_id % 10 + doc_id % 7 + n_chars % 13) AS BIGINT)
             AS mv_sum,
           CAST(SUM(CASE WHEN text LIKE '%spark%' THEN 1 ELSE 0 END)
                AS BIGINT) AS n_spark
    FROM documents GROUP BY lang
    """,
    doc="Segment-migration composite: ONE store whose five segments each "
    "use a different on-disk encoding a migrating deployment would "
    "actually contain — v3 dictionary-encoded (+ inverted/bloom on "
    "lang), pre-v3 per-file layout, v3 raw SV chunks with the text "
    "column in the V4 relocated-offset container "
    "(VarByteChunkSVForwardIndexWriterV4.java), dictionary-encoded MV "
    "with var-length string dicts, and raw (noDictionary) MV "
    "(Fixed/VarByteChunkMVForwardIndexReader layouts). read_segments "
    "decodes all five in one distributed scan (at most min(#segments, "
    "cores) tasks, CombineOperatorUtils' cap, each segment assigned by id) "
    "and the aggregate must equal the parquet oracle — proving the "
    "migration path as a composite, not per-feature tests.",
    tags=("sources", "segment-format", "migration"),
)
def q_segment_mixed_store(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    import numpy as np

    from hurricanedb_spark.sources import pinot_segment as ps

    base = os.path.join(
        "/tmp/hurricanedb_segments",
        os.path.basename(os.path.normpath(sf_dir)) + "_mixed_store",
    )
    marker = os.path.join(base, "_written")
    if fixture_stale(marker, sf_dir):
        docs = load_table(spark, sf_dir, "documents").select(
            "doc_id", "lang", "text", "n_chars"
        )
        n_rows = docs.count()
        if n_rows > 5_000_000:
            raise RuntimeError(
                f"q_segment_mixed_store: {n_rows} rows — build the mixed "
                "store per-partition via export_segments, not a driver "
                "collect"
            )
        pdf = docs.toPandas()
        # deterministic MV column so the parquet oracle can recompute it
        pdf["mv"] = [
            np.array([d % 10, d % 7, c % 13], dtype=np.int64)
            for d, c in zip(pdf["doc_id"], pdf["n_chars"])
        ]
        os.makedirs(base, exist_ok=True)
        slices = [
            pdf[pdf["doc_id"] % 5 == i].reset_index(drop=True) for i in range(5)
        ]
        configs = [
            # v3 dictionary-encoded with auxiliary indexes
            dict(inverted_index_columns=["lang"], bloom_filter_columns=["lang"]),
            # pre-v3 per-file layout
            dict(layout="v1"),
            # raw SV chunks; text in the V4 container
            dict(
                raw_columns={"text": "LZ4", "n_chars": "ZSTANDARD"},
                raw_writer_versions={"text": 4},
            ),
            # dictionary MV + var-length string dictionaries
            dict(var_length_string_dicts=True),
            # raw (noDictionary) MV
            dict(raw_columns={"mv": "SNAPPY"}),
        ]
        for i, (sl, cfg) in enumerate(zip(slices, configs)):
            ps.write_segment_pandas(
                sl, os.path.join(base, f"segment_{i:02d}"), **cfg
            )
        write_fixture_marker(marker, sf_dir)
    segs = sorted(
        os.path.join(base, d)
        for d in os.listdir(base)
        if os.path.isdir(os.path.join(base, d))
        and _is_segment(ps, os.path.join(base, d))
    )
    assert len(segs) == 5, f"expected 5 mixed segments, found {len(segs)}"
    df = ps.read_segments(spark, segs)
    mv_sum = F.aggregate(
        "mv", F.lit(0).cast("bigint"), lambda acc, x: acc + x
    )
    return df.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
        F.sum(mv_sum).alias("mv_sum"),
        F.sum(
            F.when(F.col("text").contains("spark"), 1).otherwise(0)
        ).alias("n_spark"),
    )


def _docs_text_store(spark: SparkSession, sf_dir: str) -> str:
    """documents sealed as v3 segments with a .nativetext.idx on text;
    cached per sf_dir under /tmp. Shared by the TEXT_CONTAINS and
    dialect-TEXT_MATCH gate queries."""
    import os

    from hurricanedb_spark.sources import pinot_segment as ps

    base = os.path.join(
        "/tmp/hurricanedb_segments",
        os.path.basename(os.path.normpath(sf_dir)) + "_docs_textidx",
    )
    marker = os.path.join(base, "_written")
    if fixture_stale(marker, sf_dir):
        docs = load_table(spark, sf_dir, "documents").select(
            "doc_id", "lang", "text", "n_chars"
        )
        ps.export_segments(
            docs.repartition(4), base, text_index_columns=["text"]
        )
        write_fixture_marker(marker, sf_dir)
    return base



@register(
    "q_segment_text_index_scan",
    oracle="""
    SELECT lang,
           COUNT(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars
    FROM documents
    WHERE len(list_filter(
            list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                        t -> t <> ''),
            t -> t = 'spark')) > 0
    GROUP BY lang
    """,
    doc="Native text index end to end (NativeTextIndexCreator /"
    "ImmutableFST FSA5 binary + posting lists, "
    "sources/native_text_index.py): documents sealed as v3 segments "
    "with a .nativetext.idx on text, TEXT_CONTAINS 'spark' answered "
    "through the index (segment skip + docId allowlist + analyzed-token "
    "residual). The oracle evaluates the same token predicate over the "
    "raw parquet — proving the index path is lossless.",
    tags=("sources", "segment-format", "text"),
)
def q_segment_text_index_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    from hurricanedb_spark.sources import native_text_index as nti
    from hurricanedb_spark.sources import pinot_segment as ps

    base = _docs_text_store(spark, sf_dir)
    segs = sorted(
        os.path.join(base, d)
        for d in os.listdir(base)
        if os.path.isdir(os.path.join(base, d))
        and _is_segment(ps, os.path.join(base, d))
    )
    hits = nti.read_segments_text_contains(spark, segs, "text", "spark")
    return hits.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
    )


@register(
    "q_segment_textmatch_accel",
    oracle="""
    SELECT lang,
           COUNT(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars
    FROM documents
    WHERE contains(text, 'spark') AND contains(text, 'merge')
    GROUP BY lang
    ORDER BY lang
    """,
    doc="TEXT_MATCH boolean query answered through the native text "
    "index from plain dialect SQL (TextMatchFilterOperator.java + "
    "NativeTextIndexReader.getDocIds analog, sql/dialect.py:"
    "_index_pass -> sources/native_text_index.py:"
    "text_match_segment_docs): the segment store registers as a table, "
    "TEXT_MATCH(text, 'spark AND merge') prunes via AND-intersected "
    "postings (substring-superset unions, so 'spark' also reaches "
    "'sparkly'), and the exact translated residual re-applies. The "
    "query raises if the rewrite did not fire. The oracle evaluates "
    "raw-substring containment over the parquet — the translator's "
    "authoritative TEXT_MATCH term semantics.",
    tags=("sources", "segment-format", "text", "dialect"),
)
def q_segment_textmatch_accel(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    from hurricanedb_spark.sources import pinot_segment as ps
    from hurricanedb_spark.sql.dialect import HurricaneSQL

    base = _docs_text_store(spark, sf_dir)
    hq = HurricaneSQL(spark)
    hq.register_segment_table("documents_textidx", base)
    df = hq.sql(
        """
        SELECT lang, COUNT(*) AS n_docs, SUM(n_chars) AS total_chars
        FROM documents_textidx
        WHERE TEXT_MATCH(text, 'spark AND merge')
        GROUP BY lang
        ORDER BY lang
        LIMIT 1000
        """
    )
    if not hq.last_text_match_accel:
        raise RuntimeError(
            "TEXT_MATCH rewrite did not fire — gate row would silently "
            "test the expression path"
        )
    return df


def _docs_multi_index_store(spark: SparkSession, sf_dir: str) -> str:
    """documents sealed with BOTH a json index (synthetic props holding
    lang + doc_id%50) and a native text index — the AND-composition
    fixture; cached per sf_dir under /tmp."""
    import os

    from pyspark.sql import functions as F

    from hurricanedb_spark.sources import pinot_segment as ps

    base = os.path.join(
        "/tmp/hurricanedb_segments",
        os.path.basename(os.path.normpath(sf_dir)) + "_docs_multiidx",
    )
    marker = os.path.join(base, "_written")
    if fixture_stale(marker, sf_dir):
        docs = (
            load_table(spark, sf_dir, "documents")
            .select("doc_id", "lang", "text", "n_chars")
            .withColumn(
                "props",
                F.concat(
                    F.lit('{"lang": "'),
                    F.col("lang"),
                    F.lit('", "k": '),
                    (F.col("doc_id") % 50).cast("string"),
                    F.lit("}"),
                ),
            )
        )
        ps.export_segments(
            docs.repartition(4),
            base,
            json_index_columns=["props"],
            text_index_columns=["text"],
        )
        write_fixture_marker(marker, sf_dir)
    return base


@register(
    "q_segment_compose_and",
    oracle="""
    SELECT lang,
           COUNT(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars
    FROM documents
    WHERE doc_id % 50 = 7 AND contains(text, 'spark')
    GROUP BY lang
    ORDER BY lang
    """,
    doc="AND-composed index access from plain dialect SQL "
    "(FilterOperatorUtils.java:183-220 analog, sql/dialect.py:"
    "_index_pass -> sources/pinot_segment.py:read_segments(bounds=...)): "
    "JSON_MATCH AND TEXT_MATCH over one dual-indexed segment store "
    "intersect their per-segment docId allowlists before decode, and "
    "the query's own WHERE re-applies. The query raises if the composition did "
    "not fire; the oracle replays the predicates over the raw parquet.",
    tags=("sources", "segment-format", "json", "text", "dialect"),
)
def q_segment_compose_and(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hurricanedb_spark.sql.dialect import HurricaneSQL

    base = _docs_multi_index_store(spark, sf_dir)
    hq = HurricaneSQL(spark)
    hq.register_segment_table("documents_multiidx", base)
    df = hq.sql(
        """
        SELECT lang, COUNT(*) AS n_docs, SUM(n_chars) AS total_chars
        FROM documents_multiidx
        WHERE JSON_MATCH(props, '"$.k" = ''7''')
          AND TEXT_MATCH(text, 'spark')
        GROUP BY lang
        ORDER BY lang
        LIMIT 1000
        """
    )
    if hq.last_multi_index_accel != ["JSON_INDEX", "TEXT_INDEX"]:
        raise RuntimeError(
            "AND-composition did not fire — gate row would silently "
            "test a single-index or scan path"
        )
    return df


@register(
    "q_segment_fst_regexp",
    oracle="""
    SELECT o_orderstatus,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT))
                AS BIGINT) AS sum_cents
    FROM orders
    WHERE regexp_matches(o_orderpriority, '^[12]-')
    GROUP BY o_orderstatus
    """,
    doc="Native FST index end to end (NativeFSTIndexCreator's "
    ".lucene.fst FSA5 over sorted dictionary values): orders sealed "
    "with an FST index on o_orderpriority, REGEXP_LIKE '^[12]-' pushed "
    "into the segment read (automaton enumeration -> dictIds -> "
    "inverted postings, exact). The oracle regexp-filters the raw "
    "parquet (both engines use unanchored search semantics).",
    tags=("sources", "segment-format", "fst"),
)
def q_segment_fst_regexp(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    from hurricanedb_spark.sources import pinot_segment as ps

    base = os.path.join(
        "/tmp/hurricanedb_segments",
        os.path.basename(os.path.normpath(sf_dir)) + "_orders_fstidx",
    )
    marker = os.path.join(base, "_written")
    if fixture_stale(marker, sf_dir):
        od = load_table(spark, sf_dir, "orders").select(
            "o_orderkey", "o_orderstatus", "o_orderpriority", "o_totalprice"
        )
        ps.export_segments(
            od.repartition(4),
            base,
            fst_index_columns=["o_orderpriority"],
            inverted_index_columns=["o_orderpriority"],
        )
        write_fixture_marker(marker, sf_dir)
    segs = sorted(
        os.path.join(base, d)
        for d in os.listdir(base)
        if os.path.isdir(os.path.join(base, d))
        and _is_segment(ps, os.path.join(base, d))
    )
    df = ps.read_segments(
        spark, segs, where=("o_orderpriority", "regexp_like", "^[12]-")
    )
    return df.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(
            F.floor(F.col("o_totalprice") * 100 + 0.5).cast("bigint")
        ).alias("sum_cents"),
    )
