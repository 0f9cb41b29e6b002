"""§2.5 text pipeline, batch 3 (EXT): PII scrubbing, a smoothed bigram
language model with per-doc perplexity, and a language-ID confusion
matrix over the labeled corpus.

Determinism notes:

* ``pii_scrub_stats`` stages deterministic PII (email + IPv4 derived
  from doc_id) into the fixture text first — the synthetic-PII analog of
  the synthetic counters in ``aggregator.py`` — then scrubs with
  patterns valid in BOTH regex dialects (Java and RE2: character
  classes, ``\\d``, bounded repetition only; no lookaround).  The
  scrubbed text is reported as an md5, so the comparator checks the
  full masked string without hauling text through the driver.
* ``bigram_lm_perplexity`` chain-rounds: each bigram's log-probability
  is rounded at 6 (absorbing any libm ln ulp skew), the per-doc mean of
  rounded values is rounded again, and only then exponentiated.

Scale posture: the bigram counts are two map-side-combined groupBys
whose results are vocabulary-sized (≪ corpus) and broadcast back; the
scrub is map-only; the confusion matrix is a groupBy over a bounded
(lang × predicted) grid."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from esxsnmp_tsdb_spark.operators.text import lang_id_ngram
from esxsnmp_tsdb_spark.registry import op
from esxsnmp_tsdb_spark.sources import register_views

EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
IPV4_RE = r"\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}"


# Staged text: fixture text + two deterministic PII tokens per doc.
_STAGED_SQL = """concat(text, ' contact user', doc_id, '@example.com from ',
                 '10.0.', doc_id % 256, '.', doc_id % 100)"""


@op(
    "pii_scrub_stats",
    oracle=f"""
WITH staged AS (
  SELECT doc_id, source, {_STAGED_SQL} AS t FROM documents
),
scrubbed AS (
  SELECT doc_id, source,
         len(regexp_extract_all(t, '{EMAIL_RE}')) AS n_emails,
         len(regexp_extract_all(t, '{IPV4_RE}')) AS n_ips,
         regexp_replace(regexp_replace(t, '{EMAIL_RE}', '<EMAIL>', 'g'),
                        '{IPV4_RE}', '<IP>', 'g') AS clean
  FROM staged
)
SELECT doc_id, source, n_emails, n_ips,
       CAST(length(clean) AS BIGINT) AS clean_len,
       md5(clean) AS clean_md5
FROM scrubbed
""",
)
def pii_scrub_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub: count and mask emails / IPv4 literals per document —
    the redaction pass a training-data pipeline runs before anything
    else sees the text.

    The fixture corpus is synthetic word salad with no PII, so the op
    first stages two deterministic PII tokens per doc (derived from
    doc_id — same closed form in the oracle) and then proves the
    scrubber removes exactly those.  Map-only: regex masking in
    whole-stage codegen, no shuffle, and the masked text leaves the
    executor only as an md5."""
    docs = register_views(spark, sf_dir)["documents"]
    staged = docs.select("doc_id", "source", F.expr(_STAGED_SQL).alias("t"))
    clean = F.regexp_replace(
        F.regexp_replace(F.col("t"), EMAIL_RE, "<EMAIL>"), IPV4_RE, "<IP>"
    )
    return staged.select(
        "doc_id",
        "source",
        F.regexp_count(F.col("t"), F.lit(EMAIL_RE)).cast("bigint").alias("n_emails"),
        F.regexp_count(F.col("t"), F.lit(IPV4_RE)).cast("bigint").alias("n_ips"),
        F.length(clean).cast("bigint").alias("clean_len"),
        F.md5(clean).alias("clean_md5"),
    )


@op(
    "bigram_lm_perplexity",
    oracle="""
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS ts FROM documents
),
bg AS (
  SELECT doc_id, unnest(list_transform(range(1, len(ts)),
                                       i -> struct_pack(w1 := ts[i],
                                                        w2 := ts[i + 1]))) AS b
  FROM toks WHERE len(ts) >= 2
),
bgf AS (SELECT doc_id, b.w1 AS w1, b.w2 AS w2 FROM bg),
c2 AS (SELECT w1, w2, count(*) AS n2 FROM bgf GROUP BY w1, w2),
c1 AS (SELECT w1, count(*) AS n1 FROM bgf GROUP BY w1),
v AS (SELECT count(DISTINCT w) AS vocab
      FROM (SELECT unnest(ts) AS w FROM toks)),
lp AS (
  -- integer micro-logs: summing them per doc is EXACT (no float-order
  -- boundary flips on the later average)
  SELECT bgf.doc_id,
         CAST(round(ln((c2.n2 + 1.0) / (c1.n1 + v.vocab)) * 1000000) AS BIGINT)
           AS lp_micro
  FROM bgf
  JOIN c2 ON bgf.w1 = c2.w1 AND bgf.w2 = c2.w2
  JOIN c1 ON bgf.w1 = c1.w1
  CROSS JOIN v
)
SELECT doc_id, n_bigrams, avg_logp,
       round(exp(-avg_logp), 4) AS perplexity
FROM (
  SELECT doc_id, count(*) AS n_bigrams,
         round(CAST(sum(lp_micro) AS DOUBLE)
               / CAST(count(*) AS DOUBLE) / 1000000.0, 6) AS avg_logp
  FROM lp GROUP BY doc_id
)
""",
)
def bigram_lm_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-trained add-one-smoothed bigram LM, scored back over every
    document as perplexity — the classic statistical quality filter
    (high perplexity ⇒ the doc doesn't look like the corpus).

    P(w₂|w₁) = (c(w₁w₂)+1) / (c(w₁·)+V), trained and scored in one
    pass: two groupBys produce vocabulary-sized count tables that
    broadcast back onto the exploded bigram stream, so the corpus
    shuffles once (the explode) and the model tables never grow with
    corpus size — at 100 TB the counts become the static side of a
    broadcast join exactly as written here."""
    docs = register_views(spark, sf_dir)["documents"]
    toks = docs.select("doc_id", F.split("text", " ").alias("ts"))
    bgf = (
        toks.filter(F.size("ts") >= 2)
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    "transform(sequence(1, size(ts) - 1),"
                    " i -> struct(ts[i - 1] AS w1, ts[i] AS w2))"
                )
            ).alias("b"),
        )
        .select("doc_id", F.col("b.w1").alias("w1"), F.col("b.w2").alias("w2"))
    )
    c2 = bgf.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("n2"))
    c1 = bgf.groupBy("w1").agg(F.count(F.lit(1)).alias("n1"))
    v = (
        toks.select(F.explode("ts").alias("w"))
        .agg(F.countDistinct("w").alias("vocab"))
    )
    lp = (
        bgf.join(F.broadcast(c2), ["w1", "w2"])
        .join(F.broadcast(c1), "w1")
        .crossJoin(F.broadcast(v))
        .select(
            "doc_id",
            # integer micro-logs: per-doc sums are exact, so the average
            # can't land on a rounding boundary differently per engine
            F.round(
                F.log((F.col("n2") + 1.0) / (F.col("n1") + F.col("vocab")))
                * 1_000_000
            )
            .cast("bigint")
            .alias("lp_micro"),
        )
    )
    agg = lp.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        F.round(
            F.sum("lp_micro").cast("double")
            / F.count(F.lit(1)).cast("double")
            / 1_000_000.0,
            6,
        ).alias("avg_logp"),
    )
    return agg.select(
        "doc_id",
        "n_bigrams",
        "avg_logp",
        F.round(F.exp(-F.col("avg_logp")), 4).alias("perplexity"),
    )


@op(
    "lang_id_confusion",
    oracle="""
WITH feats AS (
  SELECT doc_id, lang,
         round(CAST(length(text) - length(regexp_replace(text, '[aeiou]', '', 'g'))
                    AS DOUBLE) / CAST(length(text) AS DOUBLE), 6) AS vowel_ratio,
         round(CAST(length(text) AS DOUBLE)
               / CAST(len(string_split(text, ' ')) AS DOUBLE), 6) AS avg_wordish
  FROM documents
),
pred AS (
  SELECT lang,
         CASE WHEN vowel_ratio >= 0.38 THEN 'en'
              WHEN vowel_ratio >= 0.33 THEN 'es'
              WHEN avg_wordish >= 6.5 THEN 'de'
              ELSE 'other' END AS predicted_lang
  FROM feats
),
cm AS (SELECT lang, predicted_lang, count(*) AS n FROM pred GROUP BY 1, 2),
tot AS (SELECT lang, sum(n) AS t FROM cm GROUP BY lang)
SELECT cm.lang, cm.predicted_lang, cm.n,
       round(cm.n * 1.0 / tot.t, 6) AS share
FROM cm JOIN tot ON cm.lang = tot.lang
""",
)
def lang_id_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Confusion matrix of the heuristic language-ID (`lang_id_ngram`)
    against the corpus's labeled lang column — the evaluation table that
    tells you whether the cheap classifier is good enough to route docs.

    Reuses the registered classifier verbatim, so the two ops cannot
    drift.  The matrix is a groupBy over a bounded (lang × predicted)
    grid; the per-lang totals join is grid-sized and broadcast."""
    pred = lang_id_ngram(spark, sf_dir).select("lang", "predicted_lang")
    cm = pred.groupBy("lang", "predicted_lang").agg(F.count(F.lit(1)).alias("n"))
    tot = cm.groupBy("lang").agg(F.sum("n").alias("t"))
    return (
        cm.join(F.broadcast(tot), "lang")
        .select(
            "lang",
            "predicted_lang",
            "n",
            F.round(F.col("n") / F.col("t"), 6).alias("share"),
        )
    )
