"""§2.5 text analysis (EXT): tokenize stats, TF-IDF top terms, language
distribution, heuristic language-ID, quality scoring, BPE-ish token
counting, and rolling-hash document fingerprinting over `documents`.

Everything is built-in expressions (explode/groupBy/window + the md5-based
deterministic hashes from ``operators.dedup``) — whole-stage codegen, no
Python.  These are the per-document map passes that dominate a training
corpus pipeline; at 100 TB they are embarrassingly parallel and the only
shuffles are the final small aggregations (per-lang / per-source).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from esxsnmp_tsdb_spark.operators.dedup import _hex16
from esxsnmp_tsdb_spark.functions.exact import half_up_div_signed
from esxsnmp_tsdb_spark.registry import op
from esxsnmp_tsdb_spark.sources import register_views


@op(
    "text_tokenize_stats",
    oracle="""
WITH toks AS (
  SELECT doc_id, lang, unnest(string_split(text, ' ')) AS tok FROM documents
)
SELECT lang, count(*) AS n_tokens, count(DISTINCT tok) AS vocab,
       count(DISTINCT doc_id) AS n_docs,
       round(avg(length(tok)), 6) AS avg_tok_len
FROM toks GROUP BY lang
""",
)
def text_tokenize_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token/vocabulary statistics per language (split → explode → agg)."""
    toks = register_views(spark, sf_dir)["documents"].select(
        "doc_id", "lang", F.explode(F.split("text", " ")).alias("tok")
    )
    return toks.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.countDistinct("tok").alias("vocab"),
        F.countDistinct("doc_id").alias("n_docs"),
        F.round(F.avg(F.length("tok")), 6).alias("avg_tok_len"),
    )


@op(
    "tfidf_topterms",
    oracle="""
WITH toks AS (
  SELECT source, unnest(string_split(text, ' ')) AS tok FROM documents
),
tf AS (SELECT source, tok, count(*) AS tf FROM toks GROUP BY 1, 2),
df AS (SELECT tok, count(DISTINCT source) AS df FROM toks GROUP BY 1),
nsrc AS (SELECT count(DISTINCT source) AS n FROM documents),
scored AS (
  SELECT tf.source, tf.tok,
         round(tf.tf * ln(CAST(nsrc.n AS DOUBLE) / df.df), 6) AS tfidf
  FROM tf JOIN df ON tf.tok = df.tok CROSS JOIN nsrc
)
SELECT source, tok, tfidf, rn FROM (
  SELECT *, row_number() OVER (PARTITION BY source
                               ORDER BY tfidf DESC, tok) AS rn
  FROM scored
) WHERE rn <= 5
""",
)
def tfidf_topterms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 terms per source by TF-IDF — explode + two aggregations + a
    broadcast DF join + per-source window.  No MLlib: plain log math."""
    docs = register_views(spark, sf_dir)["documents"]
    toks = docs.select("source", F.explode(F.split("text", " ")).alias("tok"))
    tf = toks.groupBy("source", "tok").agg(F.count(F.lit(1)).alias("tf"))
    df = toks.groupBy("tok").agg(F.countDistinct("source").alias("df"))
    n_src = docs.select(F.countDistinct("source").alias("n"))
    scored = (
        tf.join(F.broadcast(df), "tok")
        .crossJoin(F.broadcast(n_src))
        .select(
            "source",
            "tok",
            F.round(
                F.col("tf") * F.log(F.col("n").cast("double") / F.col("df")), 6
            ).alias("tfidf"),
        )
    )
    w = Window.partitionBy("source").orderBy(F.col("tfidf").desc(), F.col("tok"))
    return (
        scored.withColumn("rn", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rn") <= 5)
        .select("source", "tok", "tfidf", "rn")
    )


@op(
    "lang_distribution",
    oracle="""
SELECT lang, source, count(*) AS n_docs,
       round(avg(n_chars), 6) AS mean_chars,
       CAST(sum(n_chars) AS BIGINT) AS total_chars
FROM documents GROUP BY lang, source
""",
)
def lang_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus composition: docs + char mass per (lang, source)."""
    return (
        register_views(spark, sf_dir)["documents"]
        .groupBy("lang", "source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(F.avg("n_chars"), 6).alias("mean_chars"),
            F.sum("n_chars").cast("bigint").alias("total_chars"),
        )
    )


@op(
    "lang_id_ngram",
    oracle=f"""
WITH feats AS (
  SELECT doc_id, lang,
         CAST(length(text) AS DOUBLE) AS n,
         CAST(length(text) - length(regexp_replace(text, '[aeiou]', '', 'g'))
              AS DOUBLE) AS vowels,
         CAST(len(string_split(text, ' ')) AS DOUBLE) AS n_toks
  FROM documents
),
scored AS (
  SELECT doc_id, lang,
         round(vowels / n, 6) AS vowel_ratio,
         round(n / n_toks, 6) AS avg_wordish
  FROM feats
)
SELECT doc_id, lang, vowel_ratio, avg_wordish,
       CASE WHEN vowel_ratio >= 0.38 THEN 'en'
            WHEN vowel_ratio >= 0.33 THEN 'es'
            WHEN avg_wordish >= 6.5 THEN 'de'
            ELSE 'other' END AS predicted_lang
FROM scored
""",
)
def lang_id_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic language-ID from character n-gram features (vowel density
    + mean word length buckets).  A real model would load per-language
    trigram profiles; the classifier shape — per-doc feature map + CASE
    decision, no shuffle — is what matters at corpus scale."""
    docs = register_views(spark, sf_dir)["documents"]
    n = F.length("text").cast("double")
    vowels = (
        F.length("text") - F.length(F.regexp_replace("text", "[aeiou]", ""))
    ).cast("double")
    n_toks = F.size(F.split("text", " ")).cast("double")
    feats = docs.select(
        "doc_id",
        "lang",
        F.round(vowels / n, 6).alias("vowel_ratio"),
        F.round(n / n_toks, 6).alias("avg_wordish"),
    )
    return feats.select(
        "doc_id",
        "lang",
        "vowel_ratio",
        "avg_wordish",
        F.when(F.col("vowel_ratio") >= 0.38, "en")
        .when(F.col("vowel_ratio") >= 0.33, "es")
        .when(F.col("avg_wordish") >= 6.5, "de")
        .otherwise("other")
        .alias("predicted_lang"),
    )


@op(
    "text_quality_score",
    oracle="""
WITH feats AS (
  SELECT doc_id, lang,
         CAST(length(text) AS DOUBLE) AS n_ch,
         CAST(len(string_split(text, ' ')) AS DOUBLE) AS n_tok,
         CAST(length(regexp_replace(text, '[^0-9]', '', 'g')) AS DOUBLE) AS n_digit,
         CAST(length(regexp_replace(text, '[^a-z ]', '', 'g')) AS DOUBLE) AS n_clean
  FROM documents
)
SELECT doc_id, lang,
       round(n_digit / n_ch, 6) AS digit_ratio,
       round(n_clean / n_ch, 6) AS clean_ratio,
       round(n_ch / n_tok, 6) AS chars_per_token,
       round(least(n_tok / 50.0, 1.0) * (n_clean / n_ch), 6) AS quality
FROM feats
""",
)
def text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document quality scoring: length / digit-ratio / charset-cleanliness
    features folded into one bounded score — the filter stage of a
    pretraining pipeline (map-only at scale)."""
    docs = register_views(spark, sf_dir)["documents"]
    n_ch = F.length("text").cast("double")
    n_tok = F.size(F.split("text", " ")).cast("double")
    n_digit = F.length(F.regexp_replace("text", "[^0-9]", "")).cast("double")
    n_clean = F.length(F.regexp_replace("text", "[^a-z ]", "")).cast("double")
    return docs.select(
        "doc_id",
        "lang",
        F.round(n_digit / n_ch, 6).alias("digit_ratio"),
        F.round(n_clean / n_ch, 6).alias("clean_ratio"),
        F.round(n_ch / n_tok, 6).alias("chars_per_token"),
        F.round(F.least(n_tok / 50.0, F.lit(1.0)) * (n_clean / n_ch), 6).alias(
            "quality"
        ),
    )


@op(
    "token_count_bpe",
    oracle="""
WITH toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
)
SELECT doc_id, count(*) AS ws_tokens,
       CAST(sum(CAST(ceil(length(tok) / 4.0) AS BIGINT)) AS BIGINT) AS bpe_tokens
FROM toks GROUP BY doc_id
""",
)
def token_count_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting: whitespace tokens + a BPE-ish estimate (≈4 chars per
    subword piece, the standard back-of-envelope) — the budget accountant
    of every training-data pipeline."""
    toks = register_views(spark, sf_dir)["documents"].select(
        "doc_id", F.explode(F.split("text", " ")).alias("tok")
    )
    return toks.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("ws_tokens"),
        F.sum(F.ceil(F.length("tok") / 4.0).cast("bigint"))
        .cast("bigint")
        .alias("bpe_tokens"),
    )


@op(
    "doc_fingerprint",
    oracle=f"""
WITH toks AS (
  SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
),
hashed AS (SELECT doc_id, {_hex16('tok')} AS h FROM toks)
SELECT doc_id, CAST(min(h) AS BIGINT) AS fp_min,
       CAST(max(h) AS BIGINT) AS fp_max,
       count(DISTINCT h) AS n_distinct_hashes
FROM hashed GROUP BY doc_id
""",
)
def doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling-hash document fingerprint (winnowing-lite): deterministic
    16-bit token hashes reduced to min/max/cardinality — constant-size
    per-doc signature for shard-level dedup bookkeeping."""
    from esxsnmp_tsdb_spark.session import fan_out

    toks = fan_out(register_views(spark, sf_dir)["documents"]).select(
        "doc_id", F.explode(F.array_distinct(F.split("text", " "))).alias("tok")
    )
    hashed = toks.select("doc_id", F.expr(_hex16("tok")).alias("h"))
    return hashed.groupBy("doc_id").agg(
        F.min("h").cast("bigint").alias("fp_min"),
        F.max("h").cast("bigint").alias("fp_max"),
        F.countDistinct("h").alias("n_distinct_hashes"),
    )


@op(
    "text_unigram_logprob",
    oracle="""
WITH toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
),
vocab AS (SELECT tok, count(*) AS c FROM toks GROUP BY tok),
total AS (SELECT count(*) AS n FROM toks)
SELECT doc_id, count(*) AS n_tok,
       round(avg(ln(CAST(v.c AS DOUBLE) / t.n)), 6) AS logprob
FROM toks k JOIN vocab v ON k.tok = v.tok CROSS JOIN total t
GROUP BY doc_id
""",
)
def text_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram language-model score: mean log-probability of a document's
    tokens under the corpus's own unigram distribution — the classic
    KenLM-perplexity stand-in used to drop gibberish / off-domain docs
    (near-zero means typical text, strongly negative means rare tokens).

    Two cheap shuffles (vocab count, per-doc mean); the vocab table is
    tiny relative to the corpus (Heaps' law), so at 100 TB it broadcasts
    and the scoring pass stays map-side — the token count `n` rides along
    as a 1-row broadcast cross join."""
    toks = register_views(spark, sf_dir)["documents"].select(
        "doc_id", F.explode(F.split("text", " ")).alias("tok")
    )
    vocab = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("c"))
    total = toks.agg(F.count(F.lit(1)).alias("n"))
    return (
        toks.join(F.broadcast(vocab), "tok")
        .crossJoin(F.broadcast(total))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tok"),
            F.round(F.avg(F.log(F.col("c").cast("double") / F.col("n"))), 6).alias(
                "logprob"
            ),
        )
    )


STOPWORDS = ("the", "a", "of", "and", "to", "in", "is", "on", "for", "with")


@op(
    "text_stopword_stats",
    oracle=f"""
WITH toks AS (
  SELECT doc_id, lang, unnest(string_split(text, ' ')) AS tok FROM documents
)
SELECT doc_id, lang, count(*) AS n_tok,
       CAST(sum(CASE WHEN tok IN {STOPWORDS} THEN 1 ELSE 0 END) AS BIGINT)
         AS n_stop,
       round(sum(CASE WHEN tok IN {STOPWORDS} THEN 1 ELSE 0 END) * 1.0
             / count(*), 6) AS stop_ratio
FROM toks GROUP BY doc_id, lang
""",
)
def text_stopword_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-ratio quality feature (north-star 'length/punct/stopword
    ratios'): natural prose carries a stable stopword fraction; keyword
    soup and boilerplate don't.  Map-only explode + one per-doc aggregate;
    the stopword set is a literal IN-list, constant-folded into codegen."""
    toks = register_views(spark, sf_dir)["documents"].select(
        "doc_id", "lang", F.explode(F.split("text", " ")).alias("tok")
    )
    is_stop = F.col("tok").isin(*STOPWORDS).cast("long")
    return toks.groupBy("doc_id", "lang").agg(
        F.count(F.lit(1)).alias("n_tok"),
        F.sum(is_stop).alias("n_stop"),
        F.round(F.sum(is_stop) / F.count(F.lit(1)), 6).alias("stop_ratio"),
    )


@op(
    "text_repetition_stats",
    oracle="""
WITH toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
),
tf AS (SELECT doc_id, tok, count(*) AS c FROM toks GROUP BY doc_id, tok),
per_doc AS (
  SELECT doc_id, sum(c) AS n_tokens, max(c) AS top_c,
         count(*) AS n_distinct
  FROM tf GROUP BY doc_id
),
grams AS (
  SELECT doc_id,
         array_to_string(list_slice(string_split(text, ' '), i, i + 1), ' ')
           AS bigram
  FROM (SELECT doc_id, text,
               unnest(generate_series(1, len(string_split(text, ' ')) - 1)) AS i
        FROM documents
        WHERE len(string_split(text, ' ')) >= 2)
),
bg AS (
  SELECT doc_id, count(*) AS n_bigrams,
         count(DISTINCT bigram) AS n_distinct_bigrams
  FROM grams GROUP BY doc_id
)
SELECT p.doc_id, CAST(p.n_tokens AS BIGINT) AS n_tokens,
       round(p.top_c * 1.0 / p.n_tokens, 6) AS top_token_ratio,
       round(1.0 - b.n_distinct_bigrams * 1.0 / b.n_bigrams, 6)
         AS dup_bigram_ratio
FROM per_doc p JOIN bg b ON p.doc_id = b.doc_id
""",
)
def text_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition signals per document: most-frequent-token
    mass fraction and duplicate-bigram fraction — the standard filters
    for boilerplate/keyword-stuffed pages in a training corpus.

    Scale: both signals are explode → per-doc aggregate, partitioned by
    doc_id — embarrassingly parallel, map-side combined; the bigram set
    is never collected, only counted.  Short docs (<2 tokens) have no
    bigrams and drop from the join, matching the oracle."""
    from esxsnmp_tsdb_spark.session import fan_out

    docs = fan_out(register_views(spark, sf_dir)["documents"])
    toks = docs.select("doc_id", F.explode(F.split("text", " ")).alias("tok"))
    tf = toks.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("c"))
    per_doc = tf.groupBy("doc_id").agg(
        F.sum("c").alias("n_tokens"),
        F.max("c").alias("top_c"),
    )
    tcol = F.split("text", " ")
    bigrams = docs.filter(F.size(tcol) >= 2).select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size(tcol) - 1),
                lambda i: F.concat_ws(" ", F.slice(tcol, i, 2)),
            )
        ).alias("bigram"),
    )
    bg = bigrams.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        F.count_distinct("bigram").alias("n_distinct_bigrams"),
    )
    return per_doc.join(bg, "doc_id").select(
        "doc_id",
        "n_tokens",
        F.round(F.col("top_c") / F.col("n_tokens"), 6).alias("top_token_ratio"),
        F.round(
            1.0 - F.col("n_distinct_bigrams") / F.col("n_bigrams"), 6
        ).alias("dup_bigram_ratio"),
    )


# BM25 constants (Robertson/Sparck-Jones defaults) and the demo query.
BM25_K1 = 1.2
BM25_B = 0.75
BM25_TERMS = ("spark", "merge", "window")


@op(
    "bm25_topdocs",
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
idf AS (
  SELECT tok, count(DISTINCT doc_id) AS df FROM tf GROUP BY tok
),
scored AS (
  SELECT tf.doc_id,
         sum(ln((corpus.n_docs - idf.df + 0.5) / (idf.df + 0.5) + 1.0)
             * tf.tf * ({BM25_K1} + 1.0)
             / (tf.tf + {BM25_K1} * (1.0 - {BM25_B}
                                     + {BM25_B} * dl.dl / corpus.avgdl)))
           AS score
  FROM tf
  JOIN idf ON tf.tok = idf.tok
  JOIN dl ON tf.doc_id = dl.doc_id
  CROSS JOIN corpus
  GROUP BY tf.doc_id
)
SELECT doc_id, round(score, 4) AS bm25
FROM scored
ORDER BY round(score, 4) DESC, doc_id
LIMIT 10
""",
)
def bm25_topdocs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 ranking for a fixed 3-term query — the lexical-retrieval
    counterpart to `tfidf_topterms`, and the classic quality-weighted
    join shape: per-(doc, term) tf is the only corpus-scale shuffle; df
    (≤|terms| rows) and the corpus length stats (1 row) broadcast back
    onto it, the per-doc score is a second keyed reduce, and the top-10
    is TakeOrdered on the ROUNDED score with a doc_id tiebreak (ulp-level
    summation differences cannot flip a rank).

    At 100 TB the same plan serves real queries: nothing depends on the
    term list being small except the broadcast, and a large term set
    degrades to a shuffled join on `tok` — never to a scan per term."""
    docs = register_views(spark, sf_dir)["documents"]
    dl = docs.select(
        "doc_id", F.size(F.split("text", " ")).cast("bigint").alias("dl")
    )
    corpus = dl.agg(
        F.count(F.lit(1)).alias("n_docs"), F.round(F.avg("dl"), 6).alias("avgdl")
    )
    tf = (
        docs.select("doc_id", F.explode(F.split("text", " ")).alias("tok"))
        .filter(F.col("tok").isin(*BM25_TERMS))
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    idf = tf.groupBy("tok").agg(F.countDistinct("doc_id").alias("df"))
    term_score = (
        F.log(
            (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0
        )
        * F.col("tf")
        * (BM25_K1 + 1.0)
        / (
            F.col("tf")
            + BM25_K1 * (1.0 - BM25_B + BM25_B * F.col("dl") / F.col("avgdl"))
        )
    )
    return (
        tf.join(F.broadcast(idf), "tok")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(corpus))
        .groupBy("doc_id")
        .agg(F.sum(term_score).alias("score"))
        .select("doc_id", F.round("score", 4).alias("bm25"))
        .orderBy(F.col("bm25").desc(), "doc_id")
        .limit(10)
    )


ZIPF_TOP = 500  # ranks fitted per language


@op(
    "term_zipf_slope",
    oracle=f"""
WITH toks AS (
  SELECT lang, unnest(string_split(text, ' ')) AS tok FROM documents
),
tf AS (SELECT lang, tok, count(*) AS n FROM toks GROUP BY lang, tok),
ranked AS (
  SELECT lang, n,
         row_number() OVER (PARTITION BY lang ORDER BY n DESC, tok) AS rnk
  FROM tf
),
pts AS (
  SELECT lang,
         CAST(floor(ln(n) * 1000000 + 0.5) AS BIGINT) AS lm,
         CAST(floor(ln(rnk) * 1000000 + 0.5) AS BIGINT) AS rm
  FROM ranked WHERE rnk <= {ZIPF_TOP}
),
sums AS (
  SELECT lang, count(*) AS k, sum(rm) AS sr, sum(rm * rm) AS sr2,
         sum(lm) AS sl, sum(lm * rm) AS slr, sum(lm * lm) AS sl2
  FROM pts GROUP BY lang
),
fit AS (
  SELECT lang, k,
         k * slr - sl * sr AS num,
         k * sr2 - sr * sr AS den,
         k * sl2 - sl * sl AS deny
  FROM sums
)
SELECT lang,
       CASE WHEN den > 0 THEN
         ({half_up_div_signed('num', 'den', mul=10_000, idiv='//')}) / 1e4
       END AS zipf_slope,
       CASE WHEN den > 0 AND deny > 0 THEN
         CAST(floor(CAST(num AS DOUBLE) * CAST(num AS DOUBLE)
                    / (CAST(den AS DOUBLE) * CAST(deny AS DOUBLE))
                    * 10000 + 0.5) AS BIGINT) / 1e4
       END AS r2,
       k AS n_terms
FROM fit
""",
)
def term_zipf_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf-law fit per language: OLS slope of log-frequency over log-rank
    for the top {ZIPF_TOP} terms — a natural-language health check for a
    corpus (natural text ≈ −1; templated/synthetic text drifts shallow).

    Term counting is the standard explode + partial-aggregated count;
    ranks are a per-language window (bounded by vocab, never global).
    The fit is closed-form OLS over EXACT integer power sums — the idiom
    `ts_capacity_forecast` relies on — not regr_* on doubles,
    whose engine-order double summation is one partition-order change
    away from a last-digit flip.  The log axes aren't grid-valued, so
    they're quantized first: lm/rm = floor(ln(·)·10⁶ + 0.5) — one IEEE
    expression over the same small-integer argument yields the identical
    double on both engines, and floor(x+0.5) grid-snaps it WITHOUT either
    engine's round() tie rules (Spark rounds the shortest-decimal repr
    HALF_UP, DuckDB the true binary — they disagree on display-tie
    doubles, and ln-products can land on them).  The 10⁻⁶ quantization
    perturbs the fitted slope by ~10⁻⁶ — invisible on the 10⁻⁴ output
    grid — while making every downstream sum order-free integer math.
    Sums are held as Decimal(38,0) on the Spark side (DuckDB promotes to
    HUGEINT): the slope-grid numerator 2·10⁴·num reaches ~4e23.  Slope is
    integer-rounded half-up via the sign-split (2n+d) div 2d idiom (the
    common 10⁶ log scale cancels in slope and r²); r²'s exact num² would
    need ~5e38, so its sums are cast to DOUBLE first and grid-snapped
    with the same floor(x·10⁴+0.5).  One shuffle on (lang, tok) for the
    counts, one bounded per-lang window, one partial-aggregated shuffle
    on lang for the five sums — all map-side combinable at 100 TB."""
    docs = register_views(spark, sf_dir)["documents"]
    tf = (
        docs.select("lang", F.explode(F.split("text", " ")).alias("tok"))
        .groupBy("lang", "tok")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w = Window.partitionBy("lang").orderBy(F.col("n").desc(), "tok")
    ranked = tf.withColumn("rnk", F.row_number().over(w)).filter(
        F.col("rnk") <= ZIPF_TOP
    )
    pts = ranked.select(
        "lang",
        F.expr("CAST(floor(ln(n) * 1000000 + 0.5) AS BIGINT)").alias("lm"),
        F.expr("CAST(floor(ln(rnk) * 1000000 + 0.5) AS BIGINT)").alias("rm"),
    )
    dec = "decimal(20,0)"
    sums = pts.groupBy("lang").agg(
        F.count(F.lit(1)).alias("k"),
        F.sum(F.col("rm").cast(dec)).alias("sr"),
        F.sum((F.col("rm") * F.col("rm")).cast(dec)).alias("sr2"),
        F.sum(F.col("lm").cast(dec)).alias("sl"),
        F.sum((F.col("lm") * F.col("rm")).cast(dec)).alias("slr"),
        F.sum((F.col("lm") * F.col("lm")).cast(dec)).alias("sl2"),
    )
    fit = sums.select(
        "lang",
        "k",
        F.expr("k * slr - sl * sr").alias("num"),
        F.expr("k * sr2 - sr * sr").alias("den"),
        F.expr("k * sl2 - sl * sl").alias("deny"),
    )
    return fit.select(
        "lang",
        F.expr(
            "CASE WHEN den > 0 THEN"
            f" ({half_up_div_signed('num', 'den', mul=10_000)}) / 1e4"
            " END"
        ).alias("zipf_slope"),
        F.expr(
            "CASE WHEN den > 0 AND deny > 0 THEN"
            " CAST(floor(CAST(num AS DOUBLE) * CAST(num AS DOUBLE)"
            "            / (CAST(den AS DOUBLE) * CAST(deny AS DOUBLE))"
            "            * 10000 + 0.5) AS BIGINT) / 1e4"
            " END"
        ).alias("r2"),
        F.col("k").alias("n_terms"),
    )
