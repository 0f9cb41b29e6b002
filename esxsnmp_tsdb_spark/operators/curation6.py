"""§2.5 curation, batch 6 (EXT): the rule-table end of a pretraining
corpus pipeline — composite quality rules, term blocklists, per-source
distribution drift, and the corpus mix report.

* ``quality_gopher_rules`` — the Gopher/C4-style composite rule funnel:
  every document is scored on word count, mean word length, stopword
  ratio, and type-token ratio in ONE codegen pass, and attributed to the
  FIRST rule it fails (rules are ordered, as in the published pipelines,
  so the funnel is additive).  The report is the per-source verdict
  histogram a corpus owner actually reads.
* ``blocklist_filter`` — term-blocklist screening.  The list ships as a
  broadcast TABLE (not an IN-literal) because production blocklists run
  to 10⁴–10⁵ terms — far past constant-folding — and the explode +
  broadcast-hash-join shape is the one that scales; the fixture list is
  a 3-term stand-in over the synthetic vocabulary.
* ``source_divergence_kl`` — KL(P_source ‖ P_corpus) over unigram
  distributions: the drift detector that flags a domain whose language
  stops looking like the rest of the mix.  Log terms are summed as
  integer micro-logs (the `bigram_lm_perplexity` trick) so cross-engine
  float summation order cannot flip the hash.
* ``corpus_mix_report`` — the (lang, source) token budget table every
  data-mixture recipe starts from: doc/token counts, share of the
  global token budget, and rank within the language.

Scale posture: everything is one explode + hash aggregates.  The
blocklist join broadcasts the small side; the KL join broadcasts the
35-row global distribution; the mix report's global total rides a
broadcast cross join, NOT a single-partition window (plan-audit
invariant).  No per-doc state, no self-joins, no driver loops.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from esxsnmp_tsdb_spark.registry import op
from esxsnmp_tsdb_spark.session import fan_out, local_frame
from esxsnmp_tsdb_spark.operators.text import STOPWORDS
from esxsnmp_tsdb_spark.sources import register_views

# Gopher-style rule thresholds (rule order = attribution order).
MIN_WORDS, MAX_WORDS = 30, 100_000
MIN_MWL, MAX_MWL = 3.0, 10.0
MIN_STOP_FRAC = 0.01
MIN_TTR = 0.2

# Fixture stand-in for a production term blocklist ('error' never occurs
# in the synthetic vocabulary — exercises the zero-hit path).
BLOCKLIST = ("slow", "big", "error")
BLOCK_FRAC = 0.08  # docs with > 8% blocklisted tokens are flagged

_SQL_STOP = "(" + ", ".join(f"'{w}'" for w in STOPWORDS) + ")"
_SQL_BLOCK = "(" + ", ".join(f"'{w}'" for w in BLOCKLIST) + ")"


# Shared metric CTE: one pass computes every per-doc quality feature.
_METRICS_CTE = f"""m AS (
  SELECT doc_id, source,
         len(string_split(text, ' ')) AS n_words,
         round((len(text) - (len(string_split(text, ' ')) - 1)) * 1.0
               / len(string_split(text, ' ')), 6) AS mwl,
         round(len(list_filter(string_split(text, ' '),
                               t -> t IN {_SQL_STOP})) * 1.0
               / len(string_split(text, ' ')), 6) AS stop_frac,
         round(len(list_distinct(string_split(text, ' '))) * 1.0
               / len(string_split(text, ' ')), 6) AS ttr
  FROM documents
)"""


@op(
    "quality_gopher_rules",
    oracle=f"""
WITH {_METRICS_CTE},
v AS (
  SELECT source,
         CASE
           WHEN n_words < {MIN_WORDS} OR n_words > {MAX_WORDS} THEN 'word_count'
           WHEN mwl < {MIN_MWL} OR mwl > {MAX_MWL} THEN 'mean_word_len'
           WHEN stop_frac < {MIN_STOP_FRAC} THEN 'stopword_ratio'
           WHEN ttr < {MIN_TTR} THEN 'type_token_ratio'
           ELSE 'pass'
         END AS verdict,
         n_words
  FROM m
)
SELECT source, verdict,
       CAST(count(*) AS BIGINT) AS n_docs,
       round(avg(n_words), 6) AS avg_words
FROM v GROUP BY source, verdict
""",
)
def quality_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite quality-rule funnel (Gopher rules 1/2/5 + TTR, C4-style
    ordering): each doc is attributed to the FIRST rule it fails, so the
    per-source verdict histogram decomposes losses additively — the
    report a corpus owner uses to decide which rule to retune.

    All four features come out of one projection over the token array
    (split once, reused); the histogram is a (source, verdict) hash
    aggregate with map-side combine.  Nothing shuffles but the ~100
    result groups, which is why the same plan holds at 100 TB."""
    docs = fan_out(
        register_views(spark, sf_dir)["documents"].select("doc_id", "source", "text")
    )
    toks = F.split(F.col("text"), " ")
    m = docs.select(
        "source",
        F.size(toks).alias("n_words"),
        F.round(
            (F.length("text") - (F.size(toks) - 1)) / F.size(toks), 6
        ).alias("mwl"),
        F.round(
            F.size(F.filter(toks, lambda t: t.isin(*STOPWORDS))) / F.size(toks), 6
        ).alias("stop_frac"),
        F.round(F.size(F.array_distinct(toks)) / F.size(toks), 6).alias("ttr"),
    )
    verdict = (
        F.when(
            (F.col("n_words") < MIN_WORDS) | (F.col("n_words") > MAX_WORDS),
            "word_count",
        )
        .when((F.col("mwl") < MIN_MWL) | (F.col("mwl") > MAX_MWL), "mean_word_len")
        .when(F.col("stop_frac") < MIN_STOP_FRAC, "stopword_ratio")
        .when(F.col("ttr") < MIN_TTR, "type_token_ratio")
        .otherwise("pass")
    )
    return (
        m.withColumn("verdict", verdict)
        .groupBy("source", "verdict")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(F.avg("n_words"), 6).alias("avg_words"),
        )
    )


@op(
    "blocklist_filter",
    oracle=f"""
WITH h AS (
  SELECT doc_id, source,
         len(string_split(text, ' ')) AS n_words,
         len(list_filter(string_split(text, ' '),
                         t -> t IN {_SQL_BLOCK})) AS hits
  FROM documents
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(CASE WHEN hits * 1.0 / n_words > {BLOCK_FRAC} THEN 1 ELSE 0 END)
            AS BIGINT) AS n_flagged,
       CAST(sum(hits) AS BIGINT) AS total_hits,
       round(avg(hits * 1.0 / n_words), 6) AS avg_hit_frac
FROM h GROUP BY source
""",
)
def blocklist_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Term-blocklist screening: docs whose blocklisted-token fraction
    exceeds the threshold are flagged, reported per source.

    The blocklist is joined as a BROADCAST TABLE against the exploded
    token stream — the shape that survives a 50k-term production list,
    where an IN-literal would blow the codegen constant pool.  Docs with
    zero hits re-enter via a left join against the doc spine, so the
    per-source denominators count every document."""
    docs = fan_out(
        register_views(spark, sf_dir)["documents"].select("doc_id", "source", "text")
    )
    spine = docs.select(
        "doc_id", "source", F.size(F.split("text", " ")).alias("n_words")
    )
    block = F.broadcast(
        local_frame(spark, [(w,) for w in BLOCKLIST], "tok string")
    )
    hits = (
        docs.select("doc_id", F.explode(F.split("text", " ")).alias("tok"))
        .join(block, "tok")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("hits"))
    )
    h = spine.join(hits, "doc_id", "left").withColumn(
        "hits", F.coalesce(F.col("hits"), F.lit(0))
    )
    flagged = (F.col("hits") / F.col("n_words")) > BLOCK_FRAC
    return h.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(flagged.cast("int")).cast("bigint").alias("n_flagged"),
        F.sum("hits").cast("bigint").alias("total_hits"),
        F.round(F.avg(F.col("hits") / F.col("n_words")), 6).alias("avg_hit_frac"),
    )


@op(
    "source_divergence_kl",
    oracle="""
WITH tok AS (
  SELECT source, unnest(string_split(text, ' ')) AS t FROM documents
),
st AS (SELECT source, t, CAST(count(*) AS BIGINT) AS c_st
       FROM tok GROUP BY source, t),
s AS (SELECT source, CAST(sum(c_st) AS BIGINT) AS n_s FROM st GROUP BY source),
g AS (SELECT t, CAST(sum(c_st) AS BIGINT) AS c_t FROM st GROUP BY t),
n AS (SELECT CAST(sum(c_t) AS BIGINT) AS n FROM g),
terms AS (
  SELECT st.source,
         st.c_st * (CAST(round(ln(st.c_st * n.n) * 1e6) AS BIGINT)
                    - CAST(round(ln(g.c_t * s.n_s) * 1e6) AS BIGINT)) AS micro
  FROM st JOIN g USING (t) JOIN s USING (source) CROSS JOIN n
)
SELECT terms.source,
       s.n_s AS n_tokens,
       round(sum(terms.micro) / 1e6 / s.n_s, 6) AS kl_divergence
FROM terms JOIN s USING (source)
GROUP BY terms.source, s.n_s
""",
)
def source_divergence_kl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram KL(P_source ‖ P_corpus) per source — the domain-drift
    score: a source whose token distribution diverges from the corpus
    mix is either a different register (fine) or contamination/spam
    (not fine); either way it is the first thing a mixture owner plots.

    KL = Σ_t p(t|s)·ln(p(t|s)/p(t)) with the log expanded to
    ln(c_st·N) − ln(c_t·N_s): each log is quantized to an INTEGER
    micro-log (×1e6) before the weighted sum, so both engines add
    identical integers and summation order can't flip the 6-dp hash.
    The global distribution (vocab-sized) broadcasts; the only shuffle
    of corpus-proportional data is the (source, token) count."""
    docs = fan_out(register_views(spark, sf_dir)["documents"].select("source", "text"))
    tok = docs.select("source", F.explode(F.split("text", " ")).alias("t"))
    st = tok.groupBy("source", "t").agg(F.count(F.lit(1)).alias("c_st"))
    s = st.groupBy("source").agg(F.sum("c_st").alias("n_s"))
    g = st.groupBy("t").agg(F.sum("c_st").alias("c_t"))
    n = g.agg(F.sum("c_t").alias("n"))

    def _mlog(col):
        return F.round(F.log(col) * 1e6).cast("bigint")

    terms = (
        st.join(F.broadcast(g), "t")
        .join(F.broadcast(s), "source")
        .crossJoin(F.broadcast(n))
        .select(
            "source",
            "n_s",
            (
                F.col("c_st")
                * (_mlog(F.col("c_st") * F.col("n")) - _mlog(F.col("c_t") * F.col("n_s")))
            ).alias("micro"),
        )
    )
    return terms.groupBy("source", F.col("n_s").alias("n_tokens")).agg(
        F.round(F.sum("micro") / 1e6 / F.first("n_s"), 6).alias("kl_divergence")
    )


@op(
    "corpus_mix_report",
    oracle="""
WITH t AS (
  SELECT lang, source,
         CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
  FROM documents GROUP BY lang, source
),
g AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS total FROM t)
SELECT lang, source, n_docs, n_tokens,
       round(n_tokens * 1.0 / g.total, 6) AS token_share,
       CAST(rank() OVER (PARTITION BY lang
                         ORDER BY n_tokens DESC, source) AS BIGINT)
         AS rank_in_lang
FROM t CROSS JOIN g
""",
)
def corpus_mix_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The (lang, source) token-budget table a data-mixture recipe is
    written against: doc and token counts, each cell's share of the
    global token budget, and the source's rank within its language.

    One hash aggregate over the corpus; the global total re-enters by
    broadcast cross join (NOT a single-partition window — plan-audit
    invariant), and the rank window partitions by lang, so no stage ever
    concentrates on one task."""
    docs = register_views(spark, sf_dir)["documents"]
    t = docs.groupBy("lang", "source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size(F.split("text", " "))).alias("n_tokens"),
    )
    g = t.agg(F.sum("n_tokens").alias("total"))
    w = Window.partitionBy("lang").orderBy(F.col("n_tokens").desc(), "source")
    return (
        t.crossJoin(F.broadcast(g))
        .select(
            "lang",
            "source",
            "n_docs",
            F.col("n_tokens").cast("bigint").alias("n_tokens"),
            F.round(F.col("n_tokens") / F.col("total"), 6).alias("token_share"),
            F.rank().over(w).cast("bigint").alias("rank_in_lang"),
        )
    )


@op(
    "embedding_dim_stats",
    oracle="""
WITH q AS (
  SELECT i AS dim,
         CAST(round(CAST(embedding[i] AS DOUBLE) * 1e6) AS BIGINT) AS qv
  FROM (SELECT embedding,
               unnest(generate_series(1, len(embedding))) AS i
        FROM embeddings)
)
SELECT CAST(dim AS BIGINT) AS dim,
       CAST(count(*) AS BIGINT) AS n_vecs,
       round(CAST(sum(qv) AS DOUBLE) / count(*) / 1e6, 6) AS mean_val,
       round(sqrt(CAST(count(*) * sum(qv * qv) - sum(qv) * sum(qv) AS DOUBLE))
             / count(*) / 1e6, 6) AS std_val,
       round(min(qv) / 1e6, 6) AS min_val,
       round(max(qv) / 1e6, 6) AS max_val
FROM q GROUP BY dim
""",
)
def embedding_dim_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension mean/std/min/max over the embedding corpus — the
    normalization statistics every vector pipeline computes before
    whitening, quantization codebook training, or drift monitoring.

    Exact-second-moment discipline: each component quantizes to a BIGINT
    micro-unit (the float×1e6 product is exact in double — 24-bit float
    mantissa + 20-bit scale < 53 bits — so no tie ambiguity), and the
    moments accumulate as DecimalType(38,0) integers: n·Σq² − (Σq)²
    is computed in exact integer arithmetic on BOTH engines (Spark
    decimal, DuckDB HUGEINT) before the one double sqrt.  Cross-engine
    summation order therefore cannot move the hash.  The plan is
    posexplode + a d-group map-side-combined aggregate — each task
    contributes d partial moment triples no matter how many vectors it
    scans (the same allreduce shape as `embedding_pca_power_iteration`)."""
    e = fan_out(register_views(spark, sf_dir)["embeddings"])
    q = e.select(F.posexplode("embedding").alias("pos", "comp")).select(
        (F.col("pos") + 1).cast("bigint").alias("dim"),
        F.round(F.col("comp").cast("double") * 1e6).cast("bigint").alias("qv"),
    )
    dec = "decimal(38,0)"
    n = F.count(F.lit(1))
    sq = F.sum(F.col("qv").cast(dec))
    sqq = F.sum((F.col("qv") * F.col("qv")).cast(dec))
    return q.groupBy("dim").agg(
        n.alias("n_vecs"),
        F.round(sq.cast("double") / n / 1e6, 6).alias("mean_val"),
        F.round(
            F.sqrt((n.cast(dec) * sqq - sq * sq).cast("double")) / n / 1e6, 6
        ).alias("std_val"),
        F.round(F.min("qv") / 1e6, 6).alias("min_val"),
        F.round(F.max("qv") / 1e6, 6).alias("max_val"),
    )


VOCAB_SOURCE = "src0"  # the "tokenizer training set" stand-in


@op(
    "tokenizer_vocab_coverage",
    oracle=f"""
WITH vocab AS (
  SELECT DISTINCT unnest(string_split(text, ' ')) AS tok
  FROM documents WHERE source = '{VOCAB_SOURCE}'
),
tok AS (
  SELECT source, unnest(string_split(text, ' ')) AS tok FROM documents
)
SELECT t.source,
       CAST(count(*) AS BIGINT) AS n_tokens,
       CAST(sum(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_oov,
       round(sum(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END) * 1.0
             / count(*), 6) AS oov_rate
FROM tok t LEFT JOIN vocab v ON t.tok = v.tok
GROUP BY t.source
""",
)
def tokenizer_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-vocabulary coverage: out-of-vocabulary rate per source
    against a vocab derived from one source's documents (the stand-in
    for a tokenizer's training corpus) — the check that tells you which
    incoming domain the tokenizer will shred into bytes.

    The vocab is an aggregate (DISTINCT tokens of the training source)
    joined BROADCAST against the corpus token stream: vocabularies are
    10⁴–10⁵ entries at any corpus size, so the membership test never
    shuffles the token stream on the term key.  OOV counts are exact
    integers; one (source) hash aggregate emits the report."""
    docs = fan_out(register_views(spark, sf_dir)["documents"].select("source", "text"))
    tok = docs.select("source", F.explode(F.split("text", " ")).alias("tok"))
    vocab = (
        tok.where(F.col("source") == VOCAB_SOURCE)
        .select("tok")
        .distinct()
        .withColumn("in_vocab", F.lit(1))
    )
    j = tok.join(F.broadcast(vocab), "tok", "left")
    oov = F.col("in_vocab").isNull()
    return j.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.sum(oov.cast("int")).cast("bigint").alias("n_oov"),
        F.round(F.sum(oov.cast("int")) / F.count(F.lit(1)), 6).alias("oov_rate"),
    )


CTX_W = 32  # context window (tokens)
CTX_S = 24  # stride (tokens) — W - S = 8 tokens of overlap


@op(
    "doc_sliding_context_chunks",
    oracle=f"""
WITH d AS (
  SELECT source,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
         CAST(CASE WHEN len(string_split(text, ' ')) <= {CTX_W} THEN 1
              ELSE 1 + (len(string_split(text, ' ')) - {CTX_W}
                        + {CTX_S} - 1) // {CTX_S}
              END AS BIGINT) AS n_chunks
  FROM documents
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_tok) AS BIGINT) AS tokens_in,
       CAST(sum(n_chunks) AS BIGINT) AS n_sequences,
       CAST(sum(n_chunks * {CTX_W}) AS BIGINT) AS tokens_emitted,
       round(sum(n_chunks * {CTX_W}) * 1.0 / sum(n_tok), 6)
         AS duplication_factor
FROM d GROUP BY source
""",
)
def doc_sliding_context_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-context chunking plan: how many W-token training
    sequences (stride S, W−S overlap) each source yields, and the
    token-duplication factor the overlap costs — the numbers that size
    a pretraining run before anyone materializes a single sequence.

    chunks(n) = 1 + ceil(max(0, n−W)/S) in pure integer arithmetic — a
    closed form per document, so the 'plan' costs one codegen projection
    + one hash aggregate and never explodes the corpus (the
    materializing twin would explode ranges exactly like `ts_bin_split`
    and is deliberately NOT run for a sizing report)."""
    docs = register_views(spark, sf_dir)["documents"]
    n_tok = F.size(F.split("text", " ")).cast("bigint")
    n_chunks = F.when(n_tok <= CTX_W, F.lit(1)).otherwise(
        1 + F.floor((n_tok - CTX_W + CTX_S - 1) / CTX_S)
    ).cast("bigint")
    d = docs.select("source", n_tok.alias("n_tok"), n_chunks.alias("n_chunks"))
    return d.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tok").cast("bigint").alias("tokens_in"),
        F.sum("n_chunks").cast("bigint").alias("n_sequences"),
        (F.sum("n_chunks") * CTX_W).cast("bigint").alias("tokens_emitted"),
        F.round(F.sum("n_chunks") * CTX_W / F.sum("n_tok"), 6).alias(
            "duplication_factor"
        ),
    )
