"""§2.5 LLM-data-pipeline surface, batch 7 (EXT): corpus-rebalance
sampling, the cross-source overlap matrix, hybrid lexical+vector
retrieval, and tokenizer fertility accounting.

House determinism: sampling decisions are md5-derived integer thresholds
(the `_hex16` fold from ``curation.py`` — content-free, reproducible
across engines and cluster sizes); overlap clustering keys on md5 prefix
fingerprints; BM25 and cosine reuse the exact formulations already
hash-proven in ``text.bm25_topdocs`` and ``similarity.sim_search_topk``;
every ratio is half-up integer ppm.

Scale posture: sampling and fertility are map + one aggregate; the
overlap matrix joins two copies of a (fingerprint, source) AGGREGATE
(never doc×doc); hybrid retrieval is two broadcast-fed reduces and a
TakeOrdered tail.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from esxsnmp_tsdb_spark.functions.topk import ranked_topk
from esxsnmp_tsdb_spark.functions.vector import cosine
from esxsnmp_tsdb_spark.operators.dedup import _hex16
from esxsnmp_tsdb_spark.operators.similarity import DOT_SQL, QUERY_VEC_ID
from esxsnmp_tsdb_spark.functions.exact import half_up_div
from esxsnmp_tsdb_spark.registry import op
from esxsnmp_tsdb_spark.session import local_frame
from esxsnmp_tsdb_spark.sources import register_views

# Per-language keep thresholds out of 65536 (the _hex16 range): the classic
# "rebalance toward the target language mix" importance-sampling step.
# Powers of two so target_ppm = thr * 15625 / 1024 is exact integer ppm.
LANG_KEEP_THR = {
    "en": 65536,  # keep all
    "de": 32768,  # 1/2
    "fr": 32768,  # 1/2
    "es": 16384,  # 1/4
    "zh": 8192,   # 1/8
}
_THR_VALUES = ", ".join(
    f"('{lang}', {thr})" for lang, thr in sorted(LANG_KEEP_THR.items())
)

PREFIX_K = 8  # tokens in the opening-chunk fingerprint
HYBRID_TERMS = ("spark", "merge", "window")  # same demo query as BM25
HYBRID_K1 = 1.2
HYBRID_B = 0.75
HYBRID_TOP = 10


@op(
    "sample_importance_weighted",
    oracle=f"""
WITH thr(lang, thr) AS (VALUES {_THR_VALUES}),
d AS (
  SELECT doc_id, documents.lang, n_chars, thr,
         CASE WHEN {_hex16("CAST(doc_id AS VARCHAR)")} < thr
              THEN 1 ELSE 0 END AS keep
  FROM documents JOIN thr ON documents.lang = thr.lang
)
SELECT lang, count(*) AS n_docs,
       CAST(sum(keep) AS BIGINT) AS n_kept,
       CAST(sum(CASE WHEN keep = 1 THEN n_chars END) AS BIGINT) AS kept_chars,
       CAST(thr * 15625 // 1024 AS BIGINT) AS target_ppm,
       CAST({half_up_div('sum(keep)', 'count(*)', mul=1_000_000, idiv='//')}
            AS BIGINT) AS achieved_ppm
FROM d GROUP BY lang, thr
""",
)
def sample_importance_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Importance-weighted corpus rebalancing: each language keeps a
    configured fraction of its documents ({LANG_KEEP_THR}), decided by a
    content-free doc_id hash against the integer threshold — the
    reproducible form of "downsample the over-represented languages"
    (`split_train_test`'s mechanism pointed at mix control, and
    `domain_quota_sample`'s sibling keyed on rate instead of quota).

    Map-only decision + one aggregate; at 100 TB the keep column is a
    pure expression so the sampled shard writes in the same pass.
    target vs achieved ppm lands the sampling-error report in the same
    row, both as exact integers."""
    thr = local_frame(
        spark, sorted(LANG_KEEP_THR.items()), "lang string, thr bigint"
    )
    d = (
        register_views(spark, sf_dir)["documents"]
        .join(F.broadcast(thr), "lang")
        .select(
            "lang",
            "n_chars",
            "thr",
            (F.expr(_hex16("CAST(doc_id AS STRING)")) < F.col("thr"))
            .cast("bigint")
            .alias("keep"),
        )
    )
    return d.groupBy("lang", "thr").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("keep").cast("bigint").alias("n_kept"),
        F.sum(F.when(F.col("keep") == 1, F.col("n_chars")))
        .cast("bigint")
        .alias("kept_chars"),
        F.expr("CAST(thr * 15625 div 1024 AS BIGINT)").alias("target_ppm"),
        F.expr(
            f"CAST({half_up_div('sum(keep)', 'count(1)', mul=1_000_000)}"
            " AS BIGINT)"
        ).alias("achieved_ppm"),
    ).drop("thr")


@op(
    "dedup_cross_source_matrix",
    oracle=f"""
WITH d AS (
  SELECT doc_id, source,
         md5(array_to_string(
             list_slice(string_split(text, ' '), 1, {PREFIX_K}), ' ')) AS h
  FROM documents
),
per AS (SELECT h, source, count(*) AS k FROM d GROUP BY h, source)
SELECT a.source AS source_a, b.source AS source_b,
       count(*) AS n_fingerprints,
       CAST(sum(a.k * b.k) AS BIGINT) AS n_doc_pairs
FROM per a JOIN per b ON a.h = b.h AND a.source < b.source
GROUP BY a.source, b.source
""",
)
def dedup_cross_source_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source duplication matrix: which source pairs share document
    openings (first {PREFIX_K} tokens, md5 fingerprint) — the
    syndication/mirror detector that tells a corpus curator WHERE its
    near-dups come from, upstream of `cross_source_dedup_priority`'s
    which-copy-wins decision.

    The join runs on the (fingerprint, source) AGGREGATE — |clusters|
    rows, not |docs| — and a<b keeps each unordered pair once, so the
    candidate space is bands × source-pairs exactly like the LSH
    blockers, never doc².  Pair multiplicity k_a·k_b is exact int."""
    d = register_views(spark, sf_dir)["documents"].select(
        "source",
        F.md5(
            F.concat_ws(" ", F.slice(F.split("text", " "), 1, PREFIX_K))
        ).alias("h"),
    )
    per = d.groupBy("h", "source").agg(F.count(F.lit(1)).alias("k"))
    a = per.alias("a")
    b = per.alias("b")
    return (
        a.join(
            b,
            (F.col("a.h") == F.col("b.h"))
            & (F.col("a.source") < F.col("b.source")),
        )
        .groupBy(
            F.col("a.source").alias("source_a"),
            F.col("b.source").alias("source_b"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_fingerprints"),
            F.sum(F.col("a.k") * F.col("b.k"))
            .cast("bigint")
            .alias("n_doc_pairs"),
        )
    )


@op(
    "rag_hybrid_retrieval",
    oracle=f"""
WITH dl AS (
  SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS dl
  FROM documents
),
corpus AS (
  SELECT count(*) AS n_docs, round(avg(dl), 6) AS avgdl FROM dl
),
tf AS (
  SELECT doc_id, tok, count(*) AS tf
  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents)
  WHERE tok IN ('spark', 'merge', 'window')
  GROUP BY doc_id, tok
),
idf AS (SELECT tok, count(DISTINCT doc_id) AS df FROM tf GROUP BY tok),
bm25 AS (
  SELECT tf.doc_id,
         sum(ln((corpus.n_docs - idf.df + 0.5) / (idf.df + 0.5) + 1.0)
             * tf.tf * ({HYBRID_K1} + 1.0)
             / (tf.tf + {HYBRID_K1} * (1.0 - {HYBRID_B}
                                       + {HYBRID_B} * dl.dl / corpus.avgdl)))
           AS score
  FROM tf
  JOIN idf ON tf.tok = idf.tok
  JOIN dl ON tf.doc_id = dl.doc_id
  CROSS JOIN corpus
  GROUP BY tf.doc_id
),
q AS (SELECT embedding AS qv, len(embedding) AS d FROM embeddings
      WHERE vec_id = {QUERY_VEC_ID}),
vec AS (
  SELECT e.vec_id AS doc_id,
         {DOT_SQL.format(d='q.d', a='e.embedding', b='q.qv')} /
         (sqrt({DOT_SQL.format(d='q.d', a='e.embedding', b='e.embedding')}) *
          sqrt({DOT_SQL.format(d='q.d', a='q.qv', b='q.qv')})) AS cos
  FROM embeddings e CROSS JOIN q
  WHERE e.vec_id != {QUERY_VEC_ID}
),
hybrid AS (
  SELECT vec.doc_id,
         round(0.5 * coalesce(bm25.score, 0.0) + 0.5 * vec.cos, 4) AS hybrid
  FROM vec LEFT JOIN bm25 ON vec.doc_id = bm25.doc_id
)
SELECT doc_id, hybrid, rank FROM (
  SELECT doc_id, hybrid,
         row_number() OVER (ORDER BY hybrid DESC, doc_id) AS rank
  FROM hybrid
) WHERE rank <= {HYBRID_TOP}
""",
)
def rag_hybrid_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval: 0.5·BM25 (lexical, fixed 3-term demo query) +
    0.5·cosine (vector, query = embedding {QUERY_VEC_ID}) per document,
    top-{HYBRID_TOP} — the standard RAG retriever composition, fusing the
    two scorers this engine already proves independently
    (`bm25_topdocs`, `sim_search_topk`).

    The lexical side shuffles only (doc, matched-term) tf rows with df
    and corpus stats broadcast back; the vector side is a map-only
    broadcast-query scan; the fuse is one equi-join on doc_id (LEFT from
    the vector side — docs with no query term score lexical 0) and the
    tail is TakeOrdered on the ROUNDED fused score with a doc_id
    tiebreak.  Ranking on the rounded value keeps ulp-level summation
    differences from flipping ranks cross-engine."""
    docs = register_views(spark, sf_dir)["documents"]
    emb = register_views(spark, sf_dir)["embeddings"]
    dl = docs.select(
        "doc_id", F.size(F.split("text", " ")).cast("bigint").alias("dl")
    )
    corpus = dl.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.avg("dl"), 6).alias("avgdl"),
    )
    tf = (
        docs.select("doc_id", F.explode(F.split("text", " ")).alias("tok"))
        .filter(F.col("tok").isin(*HYBRID_TERMS))
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    idf = tf.groupBy("tok").agg(F.countDistinct("doc_id").alias("df"))
    term_score = (
        F.log(
            (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0
        )
        * F.col("tf")
        * (HYBRID_K1 + 1.0)
        / (
            F.col("tf")
            + HYBRID_K1
            * (1.0 - HYBRID_B + HYBRID_B * F.col("dl") / F.col("avgdl"))
        )
    )
    bm25 = (
        tf.join(F.broadcast(idf), "tok")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(corpus))
        .groupBy("doc_id")
        .agg(F.sum(term_score).alias("score"))
    )
    q = emb.filter(F.col("vec_id") == QUERY_VEC_ID).select(
        F.col("embedding").alias("qv")
    )
    dbl = lambda c: F.transform(c, lambda x: x.cast("double"))  # noqa: E731
    vec = (
        emb.filter(F.col("vec_id") != QUERY_VEC_ID)
        .crossJoin(F.broadcast(q))
        .select(
            F.col("vec_id").alias("doc_id"),
            cosine(dbl(F.col("embedding")), dbl(F.col("qv"))).alias("cos"),
        )
    )
    hybrid = vec.join(bm25, "doc_id", "left").select(
        "doc_id",
        F.round(
            0.5 * F.coalesce(F.col("score"), F.lit(0.0)) + 0.5 * F.col("cos"),
            4,
        ).alias("hybrid"),
    )
    return ranked_topk(
        hybrid, HYBRID_TOP, [F.col("hybrid").desc(), F.col("doc_id")]
    ).select("doc_id", "hybrid", "rank")


@op(
    "tokenizer_fertility_by_lang",
    oracle="""
WITH toks AS (
  SELECT lang, unnest(string_split(text, ' ')) AS tok FROM documents
),
per AS (
  SELECT lang, count(*) AS ws_tokens,
         CAST(sum(CAST(ceil(length(tok) / 4.0) AS BIGINT)) AS BIGINT)
           AS bpe_tokens,
         CAST(sum(length(tok)) AS BIGINT) AS tok_chars
  FROM toks GROUP BY lang
),
nd AS (SELECT lang, count(*) AS n_docs FROM documents GROUP BY lang)
SELECT per.lang, n_docs, ws_tokens, bpe_tokens,
       CAST(""" + half_up_div("bpe_tokens", "ws_tokens", mul=1_000_000, idiv="//") + """
            AS BIGINT) AS fertility_ppm,
       round(CAST(tok_chars AS DOUBLE) / bpe_tokens, 6) AS chars_per_bpe
FROM per JOIN nd ON per.lang = nd.lang
""",
)
def tokenizer_fertility_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility per language: BPE-ish subword count (the
    ceil(len/4) estimate from `token_count_bpe`) over whitespace words —
    the compression-rate table that decides per-language token budgets
    (high-fertility languages cost more context per word).

    One explode + one (lang-keyed, ≤|langs| groups) aggregate; the doc
    counts join on the same tiny key.  Fertility is half-up integer ppm;
    chars_per_bpe divides two exact int sums."""
    docs = register_views(spark, sf_dir)["documents"]
    toks = docs.select("lang", F.explode(F.split("text", " ")).alias("tok"))
    per = toks.groupBy("lang").agg(
        F.count(F.lit(1)).alias("ws_tokens"),
        F.sum(F.ceil(F.length("tok") / 4.0).cast("bigint"))
        .cast("bigint")
        .alias("bpe_tokens"),
        F.sum(F.length("tok")).cast("bigint").alias("tok_chars"),
    )
    nd = docs.groupBy("lang").agg(F.count(F.lit(1)).alias("n_docs"))
    return per.join(nd, "lang").select(
        "lang",
        "n_docs",
        "ws_tokens",
        "bpe_tokens",
        F.expr(
            f"CAST({half_up_div('bpe_tokens', 'ws_tokens', mul=1_000_000)}"
            " AS BIGINT)"
        ).alias("fertility_ppm"),
        F.round(
            F.col("tok_chars").cast("double") / F.col("bpe_tokens"), 6
        ).alias("chars_per_bpe"),
    )
