"""Training-data-pipeline queries: text analysis, dedup family, similarity
search, multimodal plumbing — first-class operators alongside the SURVEY §2
inventory, each oracle-checked where SQL-expressible.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F

from hurricanedb_spark.operators import dedup as dd
from hurricanedb_spark.operators import similarity as sim
from hurricanedb_spark.operators import text_analysis as ta
from hurricanedb_spark.operators.multimodal import extract_features, synth_media_from_documents
from hurricanedb_spark.operators.skew import fan_out
from hurricanedb_spark.catalog.tables import load_table, table_footprint_bytes
from hurricanedb_spark.queries import register

# MinHash fingerprint-proxy checkpoint threshold (round-15, guide §8.1):
# below this corpus footprint the three-way recompute of the signature
# subplan is cheaper than a blocking localCheckpoint job; above it, one
# materialized pass replaces three corpus scans + three shingle+md5
# passes. 256 MB keeps every local/test SF on the plain path.
_PROXY_CHECKPOINT_BYTES = 256 << 20


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


# --- text analysis -----------------------------------------------------------

_TOKENS_SQL = "list_filter(string_split_regex(trim(text), '\\s+'), t -> t <> '')"
_STOPWORDS_SQL = "['the','a','and','of','to','in','is','it','for','on']"


@register(
    "q_text_stats",
    oracle=f"""
    SELECT lang,
           COUNT(*) AS n_docs,
           CAST(SUM(len({_TOKENS_SQL})) AS BIGINT) AS total_tokens,
           CAST(SUM(length(text)) AS BIGINT) AS total_chars,
           CAST(SUM(len(list_filter({_TOKENS_SQL},
                t -> list_contains({_STOPWORDS_SQL}, lower(t)))))
                AS BIGINT) AS total_stopwords,
           CAST(SUM(len(list_distinct({_TOKENS_SQL}))) AS BIGINT)
                AS total_uniq_tokens
    FROM documents
    GROUP BY lang
    """,
    doc="Token counting + stopword stats per language tag (whitespace "
    "tokenizer, empty tokens dropped) — text-quality pipeline base metrics.",
    tags=("datapipe", "text"),
)
def q_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    doc = _t(spark, sf_dir, "documents")
    toks = ta.tokens(F.col("text"))
    sw = F.array(*[F.lit(w) for w in ta.STOPWORDS])
    return doc.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size(toks)).alias("total_tokens"),
        F.sum(F.length("text")).alias("total_chars"),
        F.sum(
            F.size(F.filter(toks, lambda t: F.array_contains(sw, F.lower(t))))
        ).alias("total_stopwords"),
        F.sum(F.size(F.array_distinct(toks))).alias("total_uniq_tokens"),
    )


@register(
    "q_quality_score",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, lang, text,
             {_TOKENS_SQL} AS toks,
             length(text) - length(regexp_replace(text, '[^\\w\\s]', '', 'g')) AS n_punct
      FROM documents
    ), m AS (
      SELECT doc_id, lang,
             len(toks) AS n_tok,
             CAST(len(list_distinct(toks)) AS DOUBLE) / greatest(len(toks), 1) AS diversity,
             CAST(n_punct AS DOUBLE) / greatest(length(text), 1) AS punct,
             CAST(list_sum(list_transform(toks, t -> length(t))) AS DOUBLE)
               / greatest(len(toks), 1) AS mean_len
      FROM t
    )
    SELECT doc_id, lang,
           CAST(n_tok BETWEEN 5 AND 10000 AS DOUBLE) * 0.25
           + CAST(mean_len BETWEEN 2.0 AND 12.0 AS DOUBLE) * 0.25
           + diversity * 0.25
           + (1.0 - least(punct * 4, 1.0)) * 0.25 AS quality
    FROM m
    WHERE doc_id % 5 = 0
    """,
    doc="Composite document quality score (length band, lexical diversity, "
    "punctuation ratio, mean token length) — operators/text_analysis.py.",
    tags=("datapipe", "text", "quality"),
)
def q_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    doc = _t(spark, sf_dir, "documents")
    return doc.filter(F.col("doc_id") % 5 == 0).select(
        "doc_id", "lang", ta.quality_score(F.col("text")).alias("quality")
    )


@register(
    "q_lang_id",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, lang, {_TOKENS_SQL} AS toks FROM documents
    ), s AS (
      SELECT doc_id, lang,
        len(list_filter(toks, t -> list_contains(['the','and','of','to','a'], lower(t)))) AS hits_en,
        len(list_filter(toks, t -> list_contains(['der','die','das','und','ist'], lower(t)))) AS hits_de,
        len(list_filter(toks, t -> list_contains(['le','la','les','et','est'], lower(t)))) AS hits_fr,
        len(list_filter(toks, t -> list_contains(['el','la','los','y','es'], lower(t)))) AS hits_es
      FROM t
    )
    SELECT doc_id, lang AS tagged_lang,
           CASE WHEN greatest(hits_en, hits_de, hits_es, hits_fr) = 0 THEN 'und'
                WHEN hits_de = greatest(hits_en, hits_de, hits_es, hits_fr) THEN 'de'
                WHEN hits_en = greatest(hits_en, hits_de, hits_es, hits_fr) THEN 'en'
                WHEN hits_es = greatest(hits_en, hits_de, hits_es, hits_fr) THEN 'es'
                ELSE 'fr' END AS guessed_lang
    FROM s
    WHERE doc_id % 7 = 0
    """,
    doc="Heuristic language ID by marker-word hits (deterministic tiebreak "
    "de<en<es<fr by code order) — operators/text_analysis.py:lang_id.",
    tags=("datapipe", "text", "langid"),
)
def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    doc = _t(spark, sf_dir, "documents")
    return doc.filter(F.col("doc_id") % 7 == 0).select(
        "doc_id",
        F.col("lang").alias("tagged_lang"),
        ta.lang_id(F.col("text")).alias("guessed_lang"),
    )


@register(
    "q_fingerprint_dedup",
    oracle="""
    WITH fp AS (
      SELECT doc_id,
             md5(regexp_replace(trim(regexp_replace(lower(text), '[^\\w\\s]', '', 'g')),
                                '\\s+', ' ', 'g')) AS __fp
      FROM documents
    )
    SELECT MIN(doc_id) AS keep_id, COUNT(*) AS n_copies
    FROM fp GROUP BY __fp
    """,
    doc="Exact dedup on a normalized md5 fingerprint: keep min doc_id per "
    "group (operators/dedup.py:exact_dedup + text_analysis.py:fingerprint).",
    tags=("datapipe", "dedup"),
)
def q_fingerprint_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    doc = _t(spark, sf_dir, "documents")
    return dd.exact_dedup(doc, "doc_id", ta.fingerprint(F.col("text")))


# --- MinHash LSH near-dup ----------------------------------------------------

_SHINGLES_SQL = """
  list_distinct(
    list_transform(
      range(0, greatest(len(list_filter(string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' '), t -> t <> '')) - 2, 0) + 1),
      i -> array_to_string(list_filter(string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' '), t -> t <> '')[i+1:i+2], ' ')
    )
  )
"""


def _minhash_oracle_sql() -> str:
    """DuckDB SQL computing the identical K=8 minhash signature, banded
    2-rows x 4-bands, candidate pairs + exact jaccard >= 0.5 over the
    int-hashed bigram sets (same hash as Spark: oracle_hash32_sql)."""
    h = dd.oracle_hash32_sql("s")
    perms = dd.perm_params(8)
    sig_cols = ",\n        ".join(
        f"list_min(list_transform(hsh, h -> (h * {a} + {b}) % {dd.MINHASH_P})) AS mh{i}"
        for i, (a, b) in enumerate(perms)
    )
    return f"""
    WITH docs AS (
      SELECT doc_id,
             list_distinct(list_transform({_SHINGLES_SQL}, s -> {h})) AS hsh
      FROM documents
    ),
    sigs AS (
      SELECT doc_id, hsh,
        {sig_cols}
      FROM docs
    ),
    bands AS (
      SELECT doc_id, hsh, 0 AS band, concat(mh0, ',', mh1) AS bucket FROM sigs
      UNION ALL SELECT doc_id, hsh, 1, concat(mh2, ',', mh3) FROM sigs
      UNION ALL SELECT doc_id, hsh, 2, concat(mh4, ',', mh5) FROM sigs
      UNION ALL SELECT doc_id, hsh, 3, concat(mh6, ',', mh7) FROM sigs
    ),
    cand AS (
      SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b,
             l.hsh AS sh_a, r.hsh AS sh_b
      FROM bands l JOIN bands r
        ON l.band = r.band AND l.bucket = r.bucket AND l.doc_id < r.doc_id
    )
    SELECT id_a, id_b,
           CAST(len(list_intersect(sh_a, sh_b)) AS DOUBLE)
             / len(list_distinct(list_concat(sh_a, sh_b))) AS jaccard
    FROM cand
    WHERE CAST(len(list_intersect(sh_a, sh_b)) AS DOUBLE)
             / len(list_distinct(list_concat(sh_a, sh_b))) >= 0.5
    """


@register(
    "q_minhash_lsh_dedup",
    oracle=_minhash_oracle_sql(),
    doc="MinHash+LSH near-duplicate pairs: word-bigram shingles -> K=8 "
    "portable minhashes -> 4 bands x 2 rows -> bucket self-join -> exact "
    "jaccard >= 0.5 verification (operators/dedup.py). Candidate "
    "generation is O(docs*K + candidates), never all-pairs.",
    tags=("datapipe", "dedup", "minhash"),
)
def q_minhash_lsh_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    doc = _t(spark, sf_dir, "documents")
    # hash the gram set ONCE (one md5 pass); signatures and the exact
    # verify both run over the int array — see dd.hashed_shingles.
    # Tokens materialize first (round-15): the inline shingle expression
    # re-ran the tokenizer per gram inside the transform lambda
    # (dedup.shingles_from_tokens capture-cost note; 3.8s -> 0.5s here).
    # fan_out (round-15): the tokenize+shingle+md5+minhash projection
    # fuses onto the documents scan — one task for a single-row-group
    # file, serializing the whole signature pass (identity at scale)
    with_sh = fan_out(doc).withColumn(
        "__toks", dd.norm_tokens(F.col("text"))
    ).select(
        "doc_id",
        dd.hashed_shingles(
            dd.shingles_from_tokens(F.col("__toks"), 2), portable=True
        ).alias("hsh"),
    )
    # fingerprint-proxy pass (round-15, guide §8.1): the signature table
    # (doc_id, hsh, sig — a few % of corpus bytes) feeds the banding side
    # AND both verify-join sides, i.e. three corpus scans and three
    # shingle+md5 passes per run when left as a plan. Past the threshold
    # below it is materialized ONCE per invocation via localCheckpoint
    # (lives and dies with this plan object — nothing persists across
    # runs). Below it the recompute (~0.6s/scan at sf0.1) is cheaper than
    # the blocking checkpoint job, measured a wash locally — so the
    # switch is data-size-adaptive, not tuned to either regime.
    proxy = with_sh.withColumn("sig", dd.minhash_from_hashed(F.col("hsh"), k=8))
    if table_footprint_bytes(sf_dir, "documents") > _PROXY_CHECKPOINT_BYTES:
        proxy = proxy.localCheckpoint()
    pairs = dd.lsh_candidate_pairs(proxy, "doc_id", "sig", bands=4, rows_per_band=2)
    sh_a = proxy.select(
        F.col("doc_id").alias("id_a"), F.col("hsh").alias("sh_a")
    )
    sh_b = proxy.select(
        F.col("doc_id").alias("id_b"), F.col("hsh").alias("sh_b")
    )
    return (
        pairs.join(sh_a, "id_a")
        .join(sh_b, "id_b")
        .withColumn("jaccard", dd.jaccard(F.col("sh_a"), F.col("sh_b")))
        .filter(F.col("jaccard") >= 0.5)
        .select("id_a", "id_b", "jaccard")
    )


def _components_oracle_sql() -> str:
    """Recursive transitive closure over the SAME LSH pair derivation as
    _minhash_oracle_sql: component(doc) = min doc id reachable through
    jaccard>=0.5 candidate pairs (reflexive base covers singletons)."""
    pairs = _minhash_oracle_sql()
    return f"""
    WITH RECURSIVE pairs AS ({pairs}),
    und AS (
      SELECT id_a AS a, id_b AS b FROM pairs
      UNION SELECT id_b, id_a FROM pairs
    ),
    reach(a, b) AS (
      SELECT doc_id, doc_id FROM documents
      UNION
      SELECT r.a, u.b FROM reach r JOIN und u ON r.b = u.a
    )
    SELECT a AS doc_id, min(b) AS component FROM reach GROUP BY a
    """


@register(
    "q_dedup_components",
    oracle=_components_oracle_sql(),
    doc="Connected components over the MinHash-LSH near-duplicate graph "
    "(operators/dedup.py:connected_components, min-label propagation — "
    "one shuffle join per round, rounds = cluster diameter, lineage "
    "truncated per round): every transitively-linked duplicate cluster "
    "collapses to component = min doc_id; singletons keep their own id. "
    "The oracle replays the identical pair derivation and takes the "
    "recursive transitive closure in DuckDB.",
    tags=("datapipe", "dedup", "components"),
)
def q_dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    doc = _t(spark, sf_dir, "documents")
    pairs = q_minhash_lsh_dedup(spark, sf_dir)
    return dd.connected_components(
        pairs, "id_a", "id_b", doc, "doc_id"
    ).orderBy("doc_id")


@register(
    "q_dedup_clean_corpus",
    oracle=f"""
    WITH RECURSIVE pairs AS ({_minhash_oracle_sql()}),
    und AS (
      SELECT id_a AS a, id_b AS b FROM pairs
      UNION SELECT id_b, id_a FROM pairs
    ),
    reach(a, b) AS (
      SELECT doc_id, doc_id FROM documents
      UNION
      SELECT r.a, u.b FROM reach r JOIN und u ON r.b = u.a
    ),
    comp AS (SELECT a AS doc_id, min(b) AS component FROM reach GROUP BY a)
    SELECT d.lang AS lang,
           COUNT(*) AS kept_docs,
           CAST(SUM(d.n_chars) AS BIGINT) AS kept_chars
    FROM documents d JOIN comp c ON d.doc_id = c.doc_id
    WHERE c.doc_id = c.component
    GROUP BY d.lang
    """,
    doc="End-to-end corpus cleaning: MinHash-LSH pairs -> connected "
    "components -> keep only component survivors (doc_id = component "
    "min), reporting surviving docs/chars per language — the full "
    "training-data dedup pipeline in one query. Oracle replays pair "
    "derivation + recursive closure + survivor filter in DuckDB.",
    tags=("datapipe", "dedup", "components"),
)
def q_dedup_clean_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    doc = _t(spark, sf_dir, "documents")
    # Components over the edge SUBGRAPH only (include_singletons=False):
    # a doc is dropped iff component != doc_id, and such docs are edge
    # nodes by construction — singleton rows would be filtered straight
    # back out here. kept = docs MINUS losers, so the anti join below is
    # row-identical to the previous survivors semi join, while the joined
    # id set shrinks from ~every doc to the duplicate subset (round-16;
    # at 100 TB the losers are the few % of the corpus that near-dup).
    comp = dd.connected_components(
        q_minhash_lsh_dedup(spark, sf_dir),
        "id_a",
        "id_b",
        doc,
        "doc_id",
        include_singletons=False,
    )
    losers = comp.filter(F.col("doc_id") != F.col("component")).select("doc_id")
    # Broadcast when provably within the session budget (upper bound:
    # total docs from the parquet footer x ~32B/entry of hashed-relation
    # footprint — sound for the loser subset). Past the budget the
    # planner keeps the shuffle join (AQE can still flip it to broadcast
    # from the RUNTIME size of the loser set, which is far below this
    # static bound); nothing here can force an executor-OOM broadcast.
    from hurricanedb_spark.catalog.tables import _parse_size_bytes
    from hurricanedb_spark.operators.skew import _footer_row_bound

    try:
        thresh = _parse_size_bytes(
            spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        )
    except Exception:  # noqa: BLE001 — unset/unparseable conf
        thresh = 10 << 20
    n_docs = _footer_row_bound(doc)
    if n_docs is not None and 0 < thresh and n_docs * 32 <= thresh:
        losers = F.broadcast(losers)
    # NULL doc_id matches no loser, so the anti join alone would keep it;
    # the oracle's inner JOIN comp (and the earlier semi join) drop it.
    return (
        doc.filter(F.col("doc_id").isNotNull())
        .join(losers, "doc_id", "anti")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("kept_docs"),
            F.sum("n_chars").alias("kept_chars"),
        )
    )


def _simhash_oracle_sql() -> str:
    """DuckDB mirror of simhash32: same tokenization, same md5-derived
    32-bit token hash (oracle_hash32_sql), same sign-of-bit-sum rule.
    Division by 2^b is exact in double for h < 2^32, so floor(h/2^b)%2
    is bit-identical across engines."""
    h32 = dd.oracle_hash32_sql("tok")
    return f"""
    WITH toks AS (
      SELECT doc_id, unnest(list_filter(
               string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' '),
               t -> t <> '')) AS tok
      FROM documents
    ),
    hashed AS (SELECT doc_id, {h32} AS h FROM toks),
    bits AS (
      SELECT doc_id, b.b,
             SUM(CASE WHEN CAST(floor(h / power(2, b.b)) AS BIGINT) % 2 = 1
                      THEN 1 ELSE -1 END) AS s
      FROM hashed CROSS JOIN (SELECT unnest(range(0, 32)) AS b) b
      GROUP BY doc_id, b.b
    )
    SELECT doc_id,
           CAST(SUM(CASE WHEN s > 0 THEN CAST(power(2, b) AS BIGINT)
                         ELSE 0 END) AS BIGINT) AS simhash
    FROM bits
    GROUP BY doc_id
    """


@register(
    "q_simhash",
    oracle=_simhash_oracle_sql(),
    doc="32-bit SimHash signature per document "
    "(operators/dedup.py:simhash32, portable md5 token hash): bit b is "
    "the sign of the per-token bit-sum. Full oracle; "
    "tests/test_dedup.py additionally asserts near-dup pairs land at "
    "small Hamming distance.",
    tags=("datapipe", "dedup", "simhash"),
)
def q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    doc = _t(spark, sf_dir, "documents")
    # materialize the hashed-token array once; the 32 per-bit folds then
    # read a bound ref instead of re-tokenizing per bit (dedup.
    # simhash_from_hashed capture-cost note)
    # NO fan_out (round-15, measured 1.10-1.13x worse at sf0.1 and sf1,
    # interleaved A/B): the 32 per-bit folds over the bound token-hash
    # ref are light enough that the round-robin exchange plus the wider
    # final sort costs more than the serial projection it spreads.
    return (
        doc.withColumn("__h", dd.hashed_tokens(F.col("text")))
        .select("doc_id", dd.simhash_from_hashed(F.col("__h")).alias("simhash"))
        .orderBy("doc_id")
    )


@register(
    "q_ngram_jaccard_pairs",
    oracle=f"""
    WITH docs AS (
      SELECT doc_id, source,
             list_distinct(list_transform({_SHINGLES_SQL}, s -> {dd.oracle_hash32_sql("s")})) AS shingles
      FROM documents
    )
    SELECT l.doc_id AS id_a, r.doc_id AS id_b,
           CAST(len(list_intersect(l.shingles, r.shingles)) AS DOUBLE)
             / len(list_distinct(list_concat(l.shingles, r.shingles))) AS jaccard
    FROM docs l JOIN docs r ON l.source = r.source AND l.doc_id < r.doc_id
    WHERE CAST(len(list_intersect(l.shingles, r.shingles)) AS DOUBLE)
             / len(list_distinct(list_concat(l.shingles, r.shingles))) >= 0.3
    """,
    doc="Exact n-gram Jaccard similarity within source-blocked pairs "
    "(blocking keeps the join off the all-pairs cliff; the LSH variant "
    "removes even the block constraint at scale). Grams are int-hashed "
    "once (dd.hashed_shingles, oracle mirrored) so the pairwise "
    "intersect/union runs on longs, not strings. The registered row "
    "pins max_block_rows=1000 so the EXACT baseline is opt-in past "
    "sf0.1 (250-row blocks pass; sf1's 2500-row blocks refuse loudly "
    "naming the LSH route — it burned 27 min/run in the r10 sf1 bench); "
    "q_minhash_lsh_dedup is the benched scale path.",
    tags=("datapipe", "dedup", "jaccard"),
)
def q_ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Guarded library op: refuses any source-block past max_block_rows
    # (QuadraticBlockError naming the LSH scale path) before launching the
    # O(pairs) join; includes the size prefilter inside the join.
    doc = _t(spark, sf_dir, "documents").withColumn(
        "__toks", dd.norm_tokens(F.col("text"))
    )
    return dd.ngram_jaccard_pairs(
        doc,
        "doc_id",
        "source",
        dd.hashed_shingles(dd.shingles_from_tokens(F.col("__toks"), 2)),
        threshold=0.3,
        max_block_rows=1000,
    )


# --- similarity search -------------------------------------------------------


@register(
    "q_ann_bruteforce_topk",
    oracle="""
    WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 5),
    scored AS (
      SELECT q.query_id, e.vec_id AS neighbor_id,
        CAST(list_sum(list_transform(range(1, 65), i -> CAST(floor(CAST(qv[i] AS DOUBLE) * 1000000) AS BIGINT) * CAST(floor(CAST(e.embedding[i] AS DOUBLE) * 1000000) AS BIGINT))) AS DOUBLE)
        / (sqrt(CAST(list_sum(list_transform(range(1, 65), i -> CAST(floor(CAST(qv[i] AS DOUBLE) * 1000000) AS BIGINT) * CAST(floor(CAST(qv[i] AS DOUBLE) * 1000000) AS BIGINT))) AS DOUBLE))
         * sqrt(CAST(list_sum(list_transform(range(1, 65), i -> CAST(floor(CAST(e.embedding[i] AS DOUBLE) * 1000000) AS BIGINT) * CAST(floor(CAST(e.embedding[i] AS DOUBLE) * 1000000) AS BIGINT))) AS DOUBLE)))
        AS cosine
      FROM embeddings e, q WHERE e.vec_id <> q.query_id
    )
    SELECT query_id, neighbor_id, cosine, rank FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY cosine DESC, neighbor_id ASC) AS rank
      FROM scored
    ) WHERE rank <= 10
    """,
    doc="Brute-force cosine top-10 per query vector (operators/similarity.py"
    ":brute_force_topk, exact decimal dot products so both engines agree "
    "bit-for-bit). The LSH-bucketed ANN scale path is q_ann_lsh_topk.",
    tags=("datapipe", "similarity"),
)
def q_ann_bruteforce_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    em = _t(spark, sf_dir, "embeddings")
    queries = em.filter(F.col("vec_id") < 5)
    return sim.brute_force_topk(em, queries, k=10, exact=True)


@register(
    "q_ann_lsh_topk",
    oracle=None,  # approximate by design; recall vs brute force in pytest
    doc="LSH-bucketed ANN top-k (operators/similarity.py:ann_topk): "
    "random-hyperplane sketch bucket join + exact re-rank; recall measured "
    "against brute force in tests/test_similarity.py. Rows-only check.",
    tags=("datapipe", "similarity", "ann"),
)
def q_ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    em = _t(spark, sf_dir, "embeddings")
    queries = em.filter(F.col("vec_id") < 5)
    return sim.ann_topk(em, queries, dim=64, k=10)


@register(
    "q_ann_ivf_topk",
    oracle=None,  # approximate by design; recall vs brute force in pytest
    doc="IVF ANN top-k (operators/similarity.py:ivf_topk): k-means coarse "
    "quantizer (trained on a corpus sample), single-cell corpus "
    "assignment, multi-probe query search, exact cosine re-rank inside "
    "probed cells. The data-dependent scale path next to LSH; recall "
    "measured against brute force in tests/test_similarity.py. Rows-only.",
    tags=("datapipe", "similarity", "ann"),
)
def q_ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    em = _t(spark, sf_dir, "embeddings")
    queries = em.filter(F.col("vec_id") < 5)
    centroids = sim.train_ivf_centroids(em, n_centroids=16)
    return sim.ivf_topk(em, queries, centroids, k=10, n_probe=4)


@register(
    "q_embedding_neardup",
    oracle="""
    WITH sub AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id % 10 = 0),
    pairs AS (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        CAST(list_sum(list_transform(range(1, 65), i -> CAST(floor(CAST(a.embedding[i] AS DOUBLE) * 1000000) AS BIGINT) * CAST(floor(CAST(b.embedding[i] AS DOUBLE) * 1000000) AS BIGINT))) AS DOUBLE)
        / (sqrt(CAST(list_sum(list_transform(range(1, 65), i -> CAST(floor(CAST(a.embedding[i] AS DOUBLE) * 1000000) AS BIGINT) * CAST(floor(CAST(a.embedding[i] AS DOUBLE) * 1000000) AS BIGINT))) AS DOUBLE))
         * sqrt(CAST(list_sum(list_transform(range(1, 65), i -> CAST(floor(CAST(b.embedding[i] AS DOUBLE) * 1000000) AS BIGINT) * CAST(floor(CAST(b.embedding[i] AS DOUBLE) * 1000000) AS BIGINT))) AS DOUBLE)))
        AS cosine
      FROM sub a JOIN sub b ON a.vec_id < b.vec_id
    )
    SELECT id_a, id_b, cosine FROM pairs WHERE cosine >= 0.95
    """,
    doc="Embedding-cosine near-duplicate pairs — the EXACT all-pairs "
    "baseline/oracle metric (subset blocked by id). O(N^2) by "
    "construction: the registered row pins max_vectors=1000 so the "
    "exact baseline is opt-in past sf0.1 (its 500-vector subset passes; "
    "sf1's 2000-vector subset refuses loudly — it measured 114-152s in "
    "the r10 sf1 bench); q_embedding_neardup_lsh is the production "
    "route and the benched scale row. Library default stays 5000.",
    tags=("datapipe", "dedup", "similarity"),
)
def q_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    em = _t(spark, sf_dir, "embeddings").filter(F.col("vec_id") % 10 == 0)
    return sim.exact_neardup_pairs(em, threshold=0.95, max_vectors=1000)


@register(
    "q_embedding_neardup_lsh",
    oracle="""
    WITH pert AS (
      SELECT vec_id, embedding,
        list_transform(range(1, 65), i ->
          CAST(CAST(embedding[i] AS DOUBLE)
               * (1.0 + 0.02 * (((i - 1) % 5) - 2) / 10.0) AS REAL)
        ) AS pembedding
      FROM embeddings
    ),
    pairs AS (
      SELECT vec_id AS id_a, vec_id + 1000000 AS id_b,
        CAST(list_sum(list_transform(range(1, 65), i -> CAST(floor(CAST(embedding[i] AS DOUBLE) * 1000000) AS BIGINT) * CAST(floor(CAST(pembedding[i] AS DOUBLE) * 1000000) AS BIGINT))) AS DOUBLE)
        / (sqrt(CAST(list_sum(list_transform(range(1, 65), i -> CAST(floor(CAST(embedding[i] AS DOUBLE) * 1000000) AS BIGINT) * CAST(floor(CAST(embedding[i] AS DOUBLE) * 1000000) AS BIGINT))) AS DOUBLE))
         * sqrt(CAST(list_sum(list_transform(range(1, 65), i -> CAST(floor(CAST(pembedding[i] AS DOUBLE) * 1000000) AS BIGINT) * CAST(floor(CAST(pembedding[i] AS DOUBLE) * 1000000) AS BIGINT))) AS DOUBLE)))
        AS cosine
      FROM pert
    )
    SELECT id_a, id_b, cosine FROM pairs WHERE cosine >= 0.95
    """,
    doc="Embedding-cosine near-dup, LSH scale path "
    "(operators/similarity.py:lsh_neardup_pairs): multi-table "
    "random-hyperplane buckets (adaptive bits + adaptive table count) -> "
    "capped per-bucket self-join -> exact quantized-cosine re-rank >= "
    "0.95. Shuffle O(N*tables + candidates), never O(N^2). The corpus is "
    "embeddings UNION a deterministic perturbed copy of every vector "
    "(elementwise scaling, cosine ~0.9999 to its original) so genuine "
    "near-dup pairs EXIST at gate SF; the natural table has none (max "
    "pair cosine 0.513, measured). Oracle-able because the output is "
    "deterministic: fixed hash planes, and the re-rank recomputes the "
    "exact 1e-6-quantized cosine, so emitted pairs are a SOUND subset of "
    "the exact pairs — which are precisely the (v, v+1000000) "
    "constructed pairs (cross-pair cosines <= ~0.51); recall on them is "
    "1.0 at the adaptive operating point (per-pair miss probability "
    "(1 - 0.9941^bits)^tables ~= 3e-7 at sf0.01, verified exact-match, "
    "and pytest-bounded in tests/test_similarity.py).",
    tags=("datapipe", "dedup", "similarity"),
)
def q_embedding_neardup_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    em = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    pert = em.select(
        (F.col("vec_id") + 1_000_000).alias("vec_id"),
        F.expr(
            "transform(embedding, (x, i) -> CAST(x * (1.0 + 0.02 * "
            "((i % 5) - 2) / 10.0) AS FLOAT))"
        ).alias("embedding"),
    )
    both = em.unionByName(pert)
    return sim.lsh_neardup_pairs(both, dim=64, threshold=0.95)


@register(
    "q_ann_lsh_topk_oracle",
    oracle="""
    WITH q AS (
      SELECT vec_id, embedding FROM embeddings WHERE vec_id < 5
    ),
    copies AS (
      SELECT q.vec_id AS query_id,
             q.vec_id * 100 + t.j + 1000000 AS neighbor_id,
             q.embedding AS qemb,
             list_transform(range(1, 65), i ->
               CAST(CAST(q.embedding[i] AS DOUBLE)
                    * (1.0 + 0.002 * (t.j + 1) * (((i - 1) % 5) - 2) / 10.0)
                    AS REAL)
             ) AS cemb
      FROM q CROSS JOIN range(0, 10) t(j)
    ),
    scored AS (
      SELECT query_id, neighbor_id,
        CAST(list_sum(list_transform(range(1, 65), i ->
          CAST(qemb[i] AS DOUBLE) * CAST(cemb[i] AS DOUBLE))) AS DOUBLE)
        / (sqrt(CAST(list_sum(list_transform(range(1, 65), i ->
            CAST(qemb[i] AS DOUBLE) * CAST(qemb[i] AS DOUBLE))) AS DOUBLE))
         * sqrt(CAST(list_sum(list_transform(range(1, 65), i ->
            CAST(cemb[i] AS DOUBLE) * CAST(cemb[i] AS DOUBLE))) AS DOUBLE)))
        AS cosine
      FROM copies
    )
    SELECT query_id, neighbor_id,
           CAST(row_number() OVER (
             PARTITION BY query_id ORDER BY cosine DESC, neighbor_id
           ) AS INTEGER) AS rank
    FROM scored
    ORDER BY query_id, rank
    """,
    doc="LSH ANN top-k with an EXACT oracle — the q_embedding_neardup_lsh "
    "construction applied to the full ann_topk path (bucket join + "
    "multi-probe + cosine re-rank + per-query ranking): the corpus is "
    "embeddings UNION 10 deterministic perturbed copies of each of the "
    "5 query vectors, scaled so copy j sits at cosine ~1 - c*(0.002*(j+1))^2 "
    "to its query — every copy ranks strictly above every natural vector "
    "(max natural pair cosine 0.513, measured) with inter-copy gaps "
    ">= ~1e-6, far above double rounding, so BOTH engines order them "
    "identically and the true top-10 per query is exactly its 10 copies "
    "in ascending-j order. Oracle-able because the planes are fixed "
    "(similarity._planes, seed 9176) and candidate recall at the "
    "adaptive operating point is 1.0 (per-pair miss (1-p1^bits)^tables "
    "~= 1e-14 at gate SF, ~1e-11 at sf1, before multi-probe; "
    "deterministic given the planes — verified exact-match at "
    "sf0.001/0.01/0.1/1). The cosine column is excluded from the "
    "output: ranks are cross-engine stable, last-bit float folds are "
    "not. ann_topk itself stays rows-only as q_ann_lsh_topk (natural "
    "corpus, no constructed ground truth).",
    tags=("datapipe", "similarity", "ann"),
)
def q_ann_lsh_topk_oracle(spark: SparkSession, sf_dir: str) -> DataFrame:
    em = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    q = em.filter(F.col("vec_id") < 5)
    copies = q.select(
        "vec_id",
        "embedding",
        F.explode(F.sequence(F.lit(0), F.lit(9))).alias("j"),
    ).select(
        (F.col("vec_id") * 100 + F.col("j") + 1_000_000).alias("vec_id"),
        F.expr(
            "transform(embedding, (x, i) -> CAST(x * (1.0 + 0.002 * (j + 1)"
            " * ((i % 5) - 2) / 10.0) AS FLOAT))"
        ).alias("embedding"),
    )
    corpus = em.unionByName(copies)
    ann = sim.ann_topk(corpus, q, dim=64, k=10)
    return ann.select(
        "query_id", "neighbor_id", F.col("rank").cast("int").alias("rank")
    ).orderBy("query_id", "rank")


# --- multimodal plumbing -----------------------------------------------------


@register(
    "q_multimodal_features",
    oracle=None,  # pandas-UDF pipeline; rows-only
    doc="Multimodal binary-column pipeline: documents -> synthetic media "
    "table (binary payload + typed metadata) -> Arrow-batched mapInPandas "
    "feature extraction (operators/multimodal.py). Decode kernels are "
    "REAL for PNG/BMP/WAV (stdlib codecs, tests/test_codecs.py); "
    "codec-less formats fall back to byte-stat features, labeled in the "
    "`decoder` column.",
    tags=("datapipe", "multimodal"),
)
def q_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    doc = _t(spark, sf_dir, "documents")
    # fan_out: the Arrow mapInPandas decode pipeline fuses onto the
    # narrow documents scan. min_rows: below ~10k docs the exchange
    # costs more than the serial decode (round-15 interleaved A/B:
    # 1.33x worse at 5k rows, 0.35x — 2.9x faster — at 50k); identity
    # at scale.
    media = synth_media_from_documents(fan_out(doc, min_rows=10_000))
    feats = extract_features(media)
    # the driver canonicalizes even rows-only outputs through pandas, so
    # the array<double> feature vector is joined into one string column
    return feats.select(
        "media_id",
        "media_type",
        "n_bytes",
        "decoder",
        F.array_join(
            F.transform(F.col("feature"), lambda x: F.round(x, 6).cast("string")),
            ",",
        ).alias("feature"),
    ).orderBy("media_id")


# --- Benchmark contamination -------------------------------------------------

# 3-gram shingles, DuckDB form matching operators.contamination.ngram_set
# (same tokenization as _SHINGLES_SQL, window of 3, empty grams dropped)
_SHINGLES3_SQL = """
  list_filter(list_distinct(
    list_transform(
      range(0, greatest(len(list_filter(string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' '), t -> t <> '')) - 3, 0) + 1),
      i -> array_to_string(list_filter(string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' '), t -> t <> '')[i+1:i+3], ' ')
    )
  ), g -> g <> '')
"""


@register(
    "q_contamination_ngram",
    oracle=f"""
    WITH corpus AS (
      SELECT doc_id, {_SHINGLES3_SQL} AS grams FROM documents
    ),
    bench AS (
      SELECT doc_id AS bench_id, {_SHINGLES3_SQL} AS grams
      FROM documents WHERE doc_id % 97 = 0
    ),
    bg AS (SELECT DISTINCT bench_id, unnest(grams) AS gram FROM bench),
    bsize AS (SELECT bench_id, COUNT(*) AS bench_grams FROM bg GROUP BY bench_id),
    cg AS (SELECT doc_id, unnest(grams) AS gram FROM corpus),
    m AS (
      SELECT cg.doc_id, bg.bench_id, COUNT(*) AS matched_grams
      FROM cg JOIN bg USING (gram) GROUP BY cg.doc_id, bg.bench_id
    )
    SELECT m.doc_id, m.bench_id, m.matched_grams, bsize.bench_grams,
           CAST(m.matched_grams AS DOUBLE) / bsize.bench_grams AS overlap
    FROM m JOIN bsize USING (bench_id)
    WHERE m.doc_id <> m.bench_id
      AND CAST(m.matched_grams AS DOUBLE) / bsize.bench_grams >= 0.04
    """,
    doc="Benchmark-contamination scan (operators/contamination.py): every "
    "corpus document checked against a benchmark set (here: the doc_id%97 "
    "slice standing in for an eval suite) for 3-gram containment >= 0.04 (threshold chosen to exercise rows in the synthetic corpus; production decontamination uses ~0.5-0.8), "
    "self-pairs excluded. Benchmark grams + sizes broadcast; corpus "
    "explodes once (O(tokens)); exactly one shuffle (the per-pair count).",
    tags=("datapipe", "contamination", "text"),
)
def q_contamination_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hurricanedb_spark.operators.contamination import ngram_overlap_report

    doc = _t(spark, sf_dir, "documents")
    bench = doc.filter(F.col("doc_id") % 97 == 0).select(
        F.col("doc_id").alias("bench_id"), "text"
    )
    return ngram_overlap_report(
        doc, bench, n=3, min_overlap=0.04
    ).filter(F.col("doc_id") != F.col("bench_id"))


@register(
    "q_theta_sketch_distinct",
    oracle="""
    SELECT l_returnflag, COUNT(DISTINCT l_suppkey) AS n_supp
    FROM lineitem GROUP BY l_returnflag
    """,
    doc="Mergeable theta sketch (reference distinctCountThetaSketch): "
    "Spark's bundled DataSketches theta_sketch_agg per group, run as a JVM "
    "partial and final aggregate (one shuffle of O(groups x K) sketch "
    "bytes), estimated by theta_sketch_estimate. Below K the sketch is "
    "lossless, so THIS query is exact and oracle-checked — a DATA-SCALE "
    "precondition the query asserts loudly (per-group NDV <= K) instead "
    "of letting the exact oracle silently rot when the fixture grows "
    "(sf1 crosses it); the estimation regime and the set algebra are "
    "bounded in tests/test_theta_ds.py.",
    tags=("datapipe", "sketch", "approx"),
)
def q_theta_sketch_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hurricanedb_spark.operators.theta_ds import lg_k

    li = _t(spark, sf_dir, "lineitem")
    k = 1024
    ndv = (
        li.groupBy("l_returnflag")
        .agg(F.countDistinct("l_suppkey").alias("ndv"))
        .agg(F.max("ndv"))
        .collect()[0][0]
    )
    if ndv and ndv > k:
        raise RuntimeError(
            f"q_theta_sketch_distinct: per-group NDV {ndv} exceeds K={k} — "
            "the theta sketch enters estimation mode and the exact oracle no "
            "longer applies at this SF (estimation accuracy is bounds-"
            "tested in tests/test_theta_ds.py)"
        )
    sketch = F.theta_sketch_agg("l_suppkey", lg_k(k))
    return li.groupBy("l_returnflag").agg(
        F.theta_sketch_estimate(sketch).alias("n_supp")
    )
