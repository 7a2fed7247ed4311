"""Dedup operator tests: exact, MinHash-LSH, SimHash, jaccard — verifies
planted near-duplicates in the synthetic documents table are found."""

from __future__ import annotations

from pyspark.sql import functions as F

from hurricanedb_spark.catalog.tables import load_table
from hurricanedb_spark.operators import dedup as dd
from hurricanedb_spark.operators import text_analysis as ta


def test_exact_dedup_inline(spark):
    df = spark.createDataFrame(
        [(1, "Hello  World!"), (2, "hello world"), (3, "different doc")],
        "doc_id long, text string",
    )
    out = dd.exact_dedup(df, "doc_id", ta.fingerprint(F.col("text")))
    rows = {r.keep_id: r.n_copies for r in out.collect()}
    # normalization folds case/punct/whitespace -> 1 and 2 are one group
    assert rows == {1: 2, 3: 1}


def test_portable_hash32_range(spark):
    df = spark.createDataFrame([("abc",), ("def",), ("",)], "s string")
    vals = [r.h for r in df.select(dd.portable_hash32(F.col("s")).alias("h")).collect()]
    assert all(0 <= v < 2**32 for v in vals)
    assert len(set(vals)) == 3


def test_minhash_lsh_finds_planted_neardups(spark, sf_dir):
    # hot-path idiom (two-step tokenization + fan_out), value-identical
    # to the inline compositions (pinned by
    # test_two_step_tokenization_matches_inline_forms) — the inline form
    # re-tokenized per array element and ran the O(n²) brute-force
    # verify below on the single-row-group scan's ONE task
    from hurricanedb_spark.operators.skew import fan_out

    doc = fan_out(load_table(spark, sf_dir, "documents"))
    sh = doc.withColumn("__toks", dd.norm_tokens(F.col("text"))).select(
        "doc_id", dd.shingles_from_tokens(F.col("__toks"), 2).alias("sh")
    )
    sig = sh.withColumn("__hsh", dd.hashed_shingles(F.col("sh"))).withColumn(
        "sig", dd.minhash_from_hashed(F.col("__hsh"), k=8)
    ).select("doc_id", "sh", "sig")
    pairs = dd.lsh_candidate_pairs(sig, "doc_id", "sig", bands=4, rows_per_band=2)
    verified = (
        pairs.join(sh.select(F.col("doc_id").alias("id_a"), F.col("sh").alias("sh_a")), "id_a")
        .join(sh.select(F.col("doc_id").alias("id_b"), F.col("sh").alias("sh_b")), "id_b")
        .withColumn("j", dd.jaccard(F.col("sh_a"), F.col("sh_b")))
        .filter(F.col("j") >= 0.5)
    )
    n = verified.count()
    assert n > 0, "expected planted near-duplicate pairs at jaccard>=0.5"

    # LSH candidates must be a superset of high-jaccard pairs found by
    # brute force on a sample (recall sanity)
    brute = (
        sh.alias("l")
        .join(sh.alias("r"), F.col("l.doc_id") < F.col("r.doc_id"))
        .withColumn("j", dd.jaccard(F.col("l.sh"), F.col("r.sh")))
        .filter(F.col("j") >= 0.8)
    )
    n_brute = brute.count()
    n_lsh_high = verified.filter(F.col("j") >= 0.8).count()
    assert n_lsh_high >= 0.8 * n_brute, (n_lsh_high, n_brute)


def test_simhash_neardups_close_in_hamming(spark, sf_dir):
    # two-step idiom + fan_out, same rationale as the minhash test above
    from hurricanedb_spark.operators.skew import fan_out

    doc = fan_out(load_table(spark, sf_dir, "documents"))
    sh = doc.withColumn("__toks", dd.norm_tokens(F.col("text"))).select(
        "doc_id", dd.shingles_from_tokens(F.col("__toks"), 2).alias("sh")
    )
    # ground-truth near-dup pairs
    near = (
        sh.alias("l")
        .join(sh.alias("r"), F.col("l.doc_id") < F.col("r.doc_id"))
        .withColumn("j", dd.jaccard(F.col("l.sh"), F.col("r.sh")))
        .filter(F.col("j") >= 0.8)
        .select(F.col("l.doc_id").alias("id_a"), F.col("r.doc_id").alias("id_b"))
    )
    sims = doc.withColumn("__h", dd.hashed_tokens(F.col("text"))).select(
        "doc_id", dd.simhash_from_hashed(F.col("__h")).alias("sim")
    )
    a = sims.select(F.col("doc_id").alias("id_a"), F.col("sim").alias("sim_a"))
    b = sims.select(F.col("doc_id").alias("id_b"), F.col("sim").alias("sim_b"))
    joined = near.join(a, "id_a").join(b, "id_b").withColumn(
        "ham", F.bit_count(F.col("sim_a").bitwiseXOR(F.col("sim_b")))
    )
    rows = joined.collect()
    assert rows, "need at least one near-dup pair"
    avg_ham = sum(r.ham for r in rows) / len(rows)
    # near-dup docs should average well under the random expectation of 16
    assert avg_ham < 10, avg_ham


def test_jaccard_bounds(spark):
    df = spark.createDataFrame([(["a", "b"], ["a", "b"]), (["a"], ["b"]), ([], [])],
                               "x array<string>, y array<string>")
    vals = [r.j for r in df.select(dd.jaccard(F.col("x"), F.col("y")).alias("j")).collect()]
    assert vals[0] == 1.0 and vals[1] == 0.0 and vals[2] == 1.0


def test_lsh_hot_bucket_cap_bounds_candidates(spark):
    """A degenerate bucket (thousands of identical signatures) must not
    explode into O(b²) candidate pairs: the cap drops it, the normal
    near-dup pairs survive, and the drop is reported, not silent."""
    import pyspark.sql.functions as F

    # 2000 identical empty-ish docs (one hot bucket) + 3 distinct docs
    hot = [(i, "the same boilerplate text") for i in range(2000)]
    normal = [
        (10_000, "a unique document about spark"),
        (10_001, "a unique document about spark"),  # near-dup pair
        (10_002, "completely different content entirely"),
    ]
    df = spark.createDataFrame(hot + normal, "doc_id long, body string")
    sig = df.select(
        "doc_id", dd.minhash_signature(dd.word_shingles(F.col("body")), k=8).alias("sig")
    )

    capped = dd.lsh_candidate_pairs(
        sig, "doc_id", "sig", bands=4, rows_per_band=2, max_bucket_size=100
    )
    pairs = {(r.id_a, r.id_b) for r in capped.collect()}
    assert (10_000, 10_001) in pairs  # normal near-dups still found
    # hot bucket (2000² / 2 ≈ 2M pairs) is gone — nothing references it
    assert all(a >= 10_000 for a, _ in pairs), pairs
    assert len(pairs) < 100

    dropped = dd.lsh_dropped_buckets(
        sig, "doc_id", "sig", bands=4, rows_per_band=2, max_bucket_size=100
    ).collect()
    assert dropped and all(r.size == 2000 for r in dropped)

    # uncapped (None) still produces the quadratic blowup — the cap is load-bearing
    uncapped = dd.lsh_candidate_pairs(
        sig, "doc_id", "sig", bands=4, rows_per_band=2, max_bucket_size=None
    )
    assert uncapped.count() > 1_000_000


def test_contamination_report_semantics_and_plan(spark):
    from hurricanedb_spark.operators.contamination import ngram_overlap_report

    corpus = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog today"),
            (2, "the quick brown fox jumps over a sleepy cat today"),
            (3, "completely unrelated text about spark shuffles and joins"),
        ],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame(
        [(100, "the quick brown fox jumps over the lazy dog today")],
        "bench_id long, text string",
    )
    rep = ngram_overlap_report(corpus, bench, n=3, min_overlap=0.3)
    rows = {r.doc_id: r for r in rep.collect()}
    # verbatim copy: full containment
    assert rows[1].overlap == 1.0
    assert rows[1].matched_grams == rows[1].bench_grams
    # partial overlap passes the 0.3 gate; unrelated text is absent
    assert 0.3 <= rows[2].overlap < 1.0
    assert 3 not in rows

    # scale shape: the two bench-side joins broadcast; the only hash
    # exchange is the per-(doc,bench) count
    plan = rep._sc._jvm.PythonSQLUtils.explainString(
        rep._jdf.queryExecution(), "formatted"
    )
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_ngram_jaccard_quadratic_guard(spark):
    """The exact pairwise baseline must refuse oversized blocks and point
    at the LSH scale path instead of silently launching an O(pairs) join."""
    import pytest

    from pyspark.sql import functions as F

    from hurricanedb_spark.operators import dedup as dd

    df = spark.range(30).select(
        F.col("id").alias("doc_id"),
        F.lit("blk").alias("source"),
        F.concat(F.lit("w"), F.col("id").cast("string")).alias("text"),
    )
    sh = dd.hashed_shingles(dd.word_shingles(F.col("text"), 1))
    with pytest.raises(dd.QuadraticBlockError, match="minhash"):
        dd.ngram_jaccard_pairs(df, "doc_id", "source", sh, max_block_rows=10)
    # under the cap: runs and self-pairs are excluded
    out = dd.ngram_jaccard_pairs(df, "doc_id", "source", sh, max_block_rows=100)
    assert out.filter("id_a >= id_b").count() == 0


def test_connected_components_chain_clique_singleton(spark):
    """Chain (worst diameter), clique, and singleton topologies all label
    with the component min; early stop fires when labels fix."""
    from pyspark.sql import functions as F

    from hurricanedb_spark.operators import dedup as dd

    edges = spark.createDataFrame(
        # chain 1-2-3-4-5, clique {10,11,12}, pair {20,21}; 30 is isolated
        [(1, 2), (2, 3), (3, 4), (4, 5),
         (10, 11), (10, 12), (11, 12),
         (20, 21)],
        "id_a long, id_b long",
    )
    nodes = spark.createDataFrame(
        [(i,) for i in [1, 2, 3, 4, 5, 10, 11, 12, 20, 21, 30]], "doc_id long"
    )
    got = {
        r.doc_id: r.component
        for r in dd.connected_components(
            edges, "id_a", "id_b", nodes, "doc_id"
        ).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 5: 1,
                   10: 10, 11: 10, 12: 10, 20: 20, 21: 20, 30: 30}
    # survivors: min per component (the dedup keep-rule)
    comp = dd.connected_components(edges, "id_a", "id_b", nodes, "doc_id")
    survivors = sorted(
        r.component for r in comp.select("component").distinct().collect()
    )
    assert survivors == [1, 10, 20, 30]


def test_connected_components_long_chain_log_rounds(spark):
    """A 60-node chain needs ~59 rounds under plain propagation; pointer
    jumping must close it within 8 rounds (O(log d))."""
    from hurricanedb_spark.operators import dedup as dd

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(60)], "id_a long, id_b long"
    )
    nodes = spark.range(61).selectExpr("id AS doc_id")
    got = dd.connected_components(
        edges, "id_a", "id_b", nodes, "doc_id", max_iter=8
    )
    comps = {r.component for r in got.collect()}
    assert comps == {0}, comps


def test_connected_components_edge_subgraph_iteration(spark):
    """Round-16: the label loop iterates ONLY edge-involved nodes;
    singletons union back unchanged, include_singletons=False returns
    exactly the edge-subgraph rows, and edge endpoints absent from
    `nodes` stay excluded from propagation AND output (the old
    init-from-nodes semantics: a dangling edge cannot bridge)."""
    from hurricanedb_spark.operators import dedup as dd

    edges = spark.createDataFrame(
        # pair {1,2}; chain 10-11-12; edges through 99 which is NOT a
        # node — 20 and 21 must stay separate components
        [(1, 2), (10, 11), (11, 12), (20, 99), (99, 21)],
        "id_a long, id_b long",
    )
    nodes = spark.createDataFrame(
        [(i,) for i in [1, 2, 10, 11, 12, 20, 21, 30, 31]], "doc_id long"
    )
    full = {
        r.doc_id: r.component
        for r in dd.connected_components(
            edges, "id_a", "id_b", nodes, "doc_id"
        ).collect()
    }
    assert full == {1: 1, 2: 1, 10: 10, 11: 10, 12: 10,
                    20: 20, 21: 21, 30: 30, 31: 31}
    sub = {
        r.doc_id: r.component
        for r in dd.connected_components(
            edges, "id_a", "id_b", nodes, "doc_id", include_singletons=False
        ).collect()
    }
    # exactly the edge-involved nodes that are real nodes; 99 never leaks
    assert sub == {1: 1, 2: 1, 10: 10, 11: 10, 12: 10, 20: 20, 21: 21}


def test_connected_components_duplicate_node_ids(spark):
    """Pins today's output when `nodes` repeats an id (the docstring
    requires unique ids): an edge-touching duplicate comes out once, a
    singleton duplicate once per copy."""
    edges = spark.createDataFrame([(1, 2)], "id_a long, id_b long")
    nodes = spark.createDataFrame(
        [(i,) for i in [1, 1, 2, 3, 3]], "doc_id long"
    )
    got = sorted(
        tuple(r)
        for r in dd.connected_components(
            edges, "id_a", "id_b", nodes, "doc_id"
        ).collect()
    )
    assert got == [(1, 1), (2, 1), (3, 3), (3, 3)]


def test_dedup_clean_corpus_drops_null_doc_id(spark, sf_dir, tmp_path):
    """A NULL doc_id joins no component in the oracle (inner JOIN comp),
    so it must not survive the losers anti join either: appending one
    NULL-id copy of a document leaves the per-language counts as they
    were."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from hurricanedb_spark.queries.datapipe import q_dedup_clean_corpus

    docs = pq.read_table(f"{sf_dir}/documents.parquet")
    null_row = docs.slice(0, 1).set_column(
        0, "doc_id", pa.array([None], pa.int64())
    )
    pq.write_table(
        pa.concat_tables([docs, null_row]), tmp_path / "documents.parquet"
    )
    base = sorted(tuple(r) for r in q_dedup_clean_corpus(spark, sf_dir).collect())
    got = sorted(
        tuple(r) for r in q_dedup_clean_corpus(spark, str(tmp_path)).collect()
    )
    assert got == base


def test_two_step_tokenization_matches_inline_forms(spark):
    """Round-15: the materialized-token fast path (norm_tokens +
    shingles_from_tokens / ngram_set_from_tokens / simhash_from_hashed)
    must be value-identical to the inline compositions it replaced on the
    hot paths — including whitespace runs, short docs, and empties."""
    from pyspark.sql import functions as F

    from hurricanedb_spark.operators import dedup as dd
    from hurricanedb_spark.operators.contamination import ngram_set, ngram_set_from_tokens

    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "  spaced\t\tout   text \n with   runs  "),
            (3, "single"),
            (4, ""),
            (5, "a b"),
            (6, "Repeated repeated REPEATED tokens tokens"),
        ],
        "doc_id long, text string",
    )
    stepped = docs.withColumn("__toks", dd.norm_tokens(F.col("text")))
    for n in (2, 3):
        inline = docs.select("doc_id", dd.word_shingles(F.col("text"), n).alias("v"))
        fast = stepped.select(
            "doc_id", dd.shingles_from_tokens(F.col("__toks"), n).alias("v")
        )
        assert inline.exceptAll(fast).count() == 0
        assert fast.exceptAll(inline).count() == 0
        gi = docs.select("doc_id", ngram_set(F.col("text"), n).alias("v"))
        gf = stepped.select(
            "doc_id", ngram_set_from_tokens(F.col("__toks"), n).alias("v")
        )
        assert gi.exceptAll(gf).count() == 0 and gf.exceptAll(gi).count() == 0
    si = docs.select("doc_id", dd.simhash32(F.col("text")).alias("s"))
    sf = docs.withColumn("__h", dd.hashed_tokens(F.col("text"))).select(
        "doc_id", dd.simhash_from_hashed(F.col("__h")).alias("s")
    )
    assert si.collect() == sf.collect()


def test_jaccard_sizes_equals_union_form(spark):
    """Round-15: jaccard derives |A∪B| as |A|+|B|-|A∩B| (one hash-set
    pass per pair instead of intersect + union). Bit-identical to the
    explicit array_union form for distinct-element arrays — the stated
    input contract — including both-empty (1.0) and disjoint (0.0)."""
    rows = [
        (1, [1, 2, 3], [2, 3, 4]),
        (2, [], []),
        (3, [1], []),
        (4, [5, 6], [7, 8]),
        (5, [9, 10, 11, 12], [9, 10, 11, 12]),
        (6, [-3, 0, 2**62], [0, 2**62]),
    ]
    df = spark.createDataFrame(rows, "id long, a array<long>, b array<long>")
    inter = F.size(F.array_intersect(F.col("a"), F.col("b"))).cast("double")
    union = F.size(F.array_union(F.col("a"), F.col("b"))).cast("double")
    old = F.when(union == 0, F.lit(1.0)).otherwise(inter / union)
    got = df.select("id", dd.jaccard(F.col("a"), F.col("b")).alias("j"), old.alias("o")).collect()
    for r in got:
        assert r["j"] == r["o"], (r["id"], r["j"], r["o"])


def test_fan_out_identity_when_wide_and_spread_when_narrow(spark):
    """Round-15: fan_out adds one round-robin exchange only when the
    input's planned partitions are below defaultParallelism; a wide
    input passes through unchanged (the at-scale identity), and results
    are row-identical either way."""
    from hurricanedb_spark.operators.skew import fan_out

    par = spark.sparkContext.defaultParallelism
    narrow = spark.range(0, 1000).coalesce(1)
    spread = fan_out(narrow)
    assert spread.rdd.getNumPartitions() == par
    assert spread is fan_out(narrow)  # memoized per input handle
    assert sorted(r.id for r in spread.collect()) == list(range(1000))
    wide = spark.range(0, 1000, numPartitions=par + 4)
    assert fan_out(wide) is wide
