"""§2.5 dataset-curation ops (EXT — training-data pipeline, mandated by
BASELINE.json · north_star): the steps between "raw corpus" and "training
shards" that aren't dedup or search — deterministic splits, stratified
sampling, quality funnels, length histograms, per-source top-k, and
embedding quantization.

Determinism design (same rules as dedup.py): every pseudo-random choice
is an ``md5``-derived integer (the ``_hex16`` hex-nibble fold — valid and
bit-identical in Spark SQL and DuckDB), every float→int step is ``floor``
(DuckDB CAST rounds, Spark CAST truncates — floor sidesteps both), and
every reported float is rounded before comparison.

Scale notes per op in the docstrings; the common theme: all of these are
map-only or single-shuffle aggregations — nothing here materializes the
corpus more than once, so they run at 100 TB exactly as written.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from esxsnmp_tsdb_spark.functions.topk import bounded_running
from esxsnmp_tsdb_spark.operators.dedup import _hex16
from esxsnmp_tsdb_spark.registry import op
from esxsnmp_tsdb_spark.sources import register_views

HIST_BIN = 100  # chars per histogram bucket


_DOC_HASH = _hex16("CAST(doc_id AS STRING)")


@op(
    "split_train_test",
    oracle=f"""
WITH assigned AS (
  SELECT doc_id, n_chars,
         CASE WHEN {_hex16("CAST(doc_id AS VARCHAR)")} % 10 < 8 THEN 'train'
              WHEN {_hex16("CAST(doc_id AS VARCHAR)")} % 10 = 8 THEN 'val'
              ELSE 'test' END AS split
  FROM documents
)
SELECT split, count(*) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS tot_chars,
       round(count(*) * 1.0 / (SELECT count(*) FROM documents), 6) AS share
FROM assigned GROUP BY split
""",
)
def split_train_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 80/10/10 train/val/test split keyed on a content-free
    doc_id hash — reproducible across runs, engines, and cluster sizes
    (the property `df.randomSplit` does NOT have).

    Map-only at scale: the split column is a pure expression, so shards
    can be written with ``partitionBy('split')`` in the same pass.  The
    denominator for `share` is the sum over the (≤3-row) per-split
    aggregate broadcast back — ONE corpus scan, no driver-side count."""
    docs = register_views(spark, sf_dir)["documents"]
    bucket = F.expr(_DOC_HASH) % 10
    assigned = docs.select(
        "n_chars",
        F.when(bucket < 8, "train")
        .when(bucket == 8, "val")
        .otherwise("test")
        .alias("split"),
    )
    agg = assigned.groupBy("split").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").cast("bigint").alias("tot_chars"),
    )
    total = agg.agg(F.sum("n_docs").cast("double").alias("_total"))
    return agg.crossJoin(F.broadcast(total)).select(
        "split",
        "n_docs",
        "tot_chars",
        F.round(F.col("n_docs") / F.col("_total"), 6).alias("share"),
    )


@op(
    "sample_stratified",
    oracle=f"""
WITH marked AS (
  SELECT lang, CASE WHEN {_hex16("CAST(doc_id AS VARCHAR)")} % 5 = 0
               THEN 1 ELSE 0 END AS picked
  FROM documents
)
SELECT lang, count(*) AS n_total,
       CAST(sum(picked) AS BIGINT) AS n_sample,
       round(sum(picked) * 1.0 / count(*), 6) AS sample_ratio
FROM marked GROUP BY lang
""",
)
def sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic ~20% sample that preserves strata: the keep/drop
    decision is per-row hash-mod, so each language's sample ratio
    concentrates to 1/5 independent of skew — no shuffle, no sort, and
    (unlike ``df.sample``) the same rows every run on every engine."""
    docs = register_views(spark, sf_dir)["documents"]
    picked = (F.expr(_DOC_HASH) % 5 == 0).cast("int")
    return (
        docs.select("lang", picked.alias("picked"))
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_total"),
            F.sum("picked").cast("bigint").alias("n_sample"),
            F.round(F.sum("picked") / F.count(F.lit(1)), 6).alias("sample_ratio"),
        )
    )


@op(
    "quality_filter_funnel",
    oracle="""
WITH feat AS (
  SELECT lang, n_chars,
         length(regexp_replace(text, '[^a-z ]', '', 'g')) * 1.0
           / length(text) AS clean_ratio
  FROM documents
)
SELECT * FROM (
  SELECT 0 AS stage_ord, 'all' AS stage, count(*) AS n_docs FROM feat
  UNION ALL
  SELECT 1, 'min_len', count(*) FROM feat WHERE n_chars >= 200
  UNION ALL
  SELECT 2, 'clean', count(*) FROM feat
  WHERE n_chars >= 200 AND clean_ratio >= 0.7
  UNION ALL
  SELECT 3, 'lang', count(*) FROM feat
  WHERE n_chars >= 200 AND clean_ratio >= 0.7
    AND lang IN ('en', 'de', 'fr', 'es')
)
""",
)
def quality_filter_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The pretraining quality funnel as ONE pass: survivor counts after
    each cumulative filter stage (length → charset cleanliness → language
    whitelist).  Expressed as conditional aggregation, not four scans —
    at 100 TB this is a single map + one tiny reduce, and the per-stage
    counts are the funnel report every data team asks for."""
    docs = register_views(spark, sf_dir)["documents"]
    clean = (
        F.length(F.regexp_replace("text", "[^a-z ]", "")).cast("double")
        / F.length("text")
    )
    feat = docs.select(
        "lang", "n_chars", clean.alias("clean_ratio")
    )
    s1 = F.col("n_chars") >= 200
    s2 = s1 & (F.col("clean_ratio") >= 0.7)
    s3 = s2 & F.col("lang").isin("en", "de", "fr", "es")
    agg = feat.agg(
        F.count(F.lit(1)).alias("c0"),
        F.sum(s1.cast("long")).alias("c1"),
        F.sum(s2.cast("long")).alias("c2"),
        F.sum(s3.cast("long")).alias("c3"),
    )
    stages = F.array(
        *[
            F.struct(
                F.lit(i).cast("int").alias("stage_ord"),
                F.lit(name).alias("stage"),
                F.col(f"c{i}").alias("n_docs"),
            )
            for i, name in enumerate(["all", "min_len", "clean", "lang"])
        ]
    )
    return (
        agg.select(F.explode(stages).alias("s"))
        .select("s.stage_ord", "s.stage", "s.n_docs")
    )


@op(
    "doc_length_histogram",
    oracle=f"""
WITH b AS (
  SELECT CAST(floor(n_chars / {HIST_BIN}.0) AS BIGINT) AS bucket FROM documents
),
h AS (SELECT bucket, count(*) AS n_docs FROM b GROUP BY bucket)
SELECT bucket, bucket * {HIST_BIN} AS lo, (bucket + 1) * {HIST_BIN} AS hi,
       n_docs,
       CAST(sum(n_docs) OVER (ORDER BY bucket
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         AS cum_docs
FROM h
""",
)
def doc_length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length distribution: fixed-width buckets + cumulative count (the
    CDF view used to pick truncation lengths).  Bucketing is a map-side
    expression; the histogram is one tiny aggregate.  The cumulative
    window runs over #buckets rows (hundreds), not #docs — the classic
    trick for computing a CDF without sorting the corpus."""
    docs = register_views(spark, sf_dir)["documents"]
    b = docs.select(
        F.floor(F.col("n_chars") / float(HIST_BIN)).cast("bigint").alias("bucket")
    )
    h = b.groupBy("bucket").agg(F.count(F.lit(1)).alias("n_docs"))
    w = bounded_running(F.col("bucket"), [F.col("bucket")])
    return h.select(
        "bucket",
        (F.col("bucket") * HIST_BIN).alias("lo"),
        ((F.col("bucket") + 1) * HIST_BIN).alias("hi"),
        "n_docs",
        F.sum("n_docs").over(w).cast("bigint").alias("cum_docs"),
    )


@op(
    "topk_docs_per_source",
    oracle="""
WITH scored AS (
  SELECT doc_id, source,
         round(least(length(string_split(text, ' ')) / 50.0, 1.0) *
               (length(regexp_replace(text, '[^a-z ]', '', 'g')) * 1.0
                / length(text)), 6) AS quality
  FROM documents
)
SELECT source, doc_id, quality, rn FROM (
  SELECT *, row_number() OVER (PARTITION BY source
                               ORDER BY quality DESC, doc_id) AS rn
  FROM scored
) WHERE rn <= 3
""",
)
def topk_docs_per_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Group-wise top-k: the 3 highest-quality docs per source (the
    curation step that picks exemplars per domain).  Per-group window on
    the source partitioning — one shuffle by source, heaps per group; no
    global sort.  Quality = the same formula as `text_quality_score`."""
    docs = register_views(spark, sf_dir)["documents"]
    n_tok = F.size(F.split("text", " ")).cast("double")
    clean = (
        F.length(F.regexp_replace("text", "[^a-z ]", "")).cast("double")
        / F.length("text")
    )
    scored = docs.select(
        "doc_id",
        "source",
        F.round(F.least(n_tok / 50.0, F.lit(1.0)) * clean, 6).alias("quality"),
    )
    w = Window.partitionBy("source").orderBy(F.col("quality").desc(), "doc_id")
    return (
        scored.withColumn("rn", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rn") <= 3)
        .select("source", "doc_id", "quality", "rn")
    )


@op(
    "embedding_quantize",
    oracle="""
WITH q AS (
  SELECT vec_id,
         list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE))))
           AS maxabs
  FROM embeddings
),
quant AS (
  SELECT e.vec_id, q.maxabs,
         list_transform(e.embedding,
           x -> CAST(floor(CAST(x AS DOUBLE) * 127.0 / q.maxabs + 0.5)
                     AS BIGINT)) AS qv
  FROM embeddings e JOIN q ON e.vec_id = q.vec_id
)
SELECT vec_id, round(127.0 / maxabs, 6) AS scale,
       CAST(list_sum(qv) AS BIGINT) AS q_checksum,
       CAST(list_min(qv) AS BIGINT) AS q_min,
       CAST(list_max(qv) AS BIGINT) AS q_max
FROM quant
""",
)
def embedding_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 quantization per vector (scale = 127/max|x|), the
    4× shrink applied before ANN index build.  All array math stays in
    codegen (`transform`/`aggregate` folds); `floor(x+0.5)` instead of
    round() because Spark rounds half-up and DuckDB half-even — floor is
    the same everywhere.  Output is scalar per vector (scale + checksum +
    range) so the oracle compares no float arrays."""
    e = register_views(spark, sf_dir)["embeddings"]
    xd = F.transform("embedding", lambda x: x.cast("double"))
    maxabs = F.array_max(F.transform(xd, F.abs))
    qv = F.transform(
        xd, lambda x: F.floor(x * 127.0 / F.col("maxabs") + 0.5).cast("bigint")
    )
    return (
        e.select("vec_id", "embedding", maxabs.alias("maxabs"))
        .select("vec_id", "maxabs", qv.alias("qv"))
        .select(
            "vec_id",
            F.round(F.lit(127.0) / F.col("maxabs"), 6).alias("scale"),
            F.aggregate(
                "qv", F.lit(0).cast("bigint"), lambda a, x: a + x
            ).alias("q_checksum"),
            F.array_min("qv").cast("bigint").alias("q_min"),
            F.array_max("qv").cast("bigint").alias("q_max"),
        )
    )


@op(
    "pipeline_corpus_curate",
    oracle=f"""
WITH feat AS (
  SELECT doc_id, lang, text, n_chars,
         length(regexp_replace(text, '[^a-z ]', '', 'g')) * 1.0
           / length(text) AS clean_ratio
  FROM documents
),
kept AS (
  SELECT * FROM feat
  WHERE n_chars >= 200 AND clean_ratio >= 0.7
    AND lang IN ('en', 'de', 'fr', 'es')
),
deduped AS (
  SELECT doc_id, lang, text FROM (
    SELECT doc_id, lang, text,
           row_number() OVER (PARTITION BY md5(lower(trim(text)))
                              ORDER BY doc_id) AS rn
    FROM kept
  ) WHERE rn = 1
),
assigned AS (
  SELECT lang, text,
         CASE WHEN {_hex16("CAST(doc_id AS VARCHAR)")} % 10 < 8 THEN 'train'
              WHEN {_hex16("CAST(doc_id AS VARCHAR)")} % 10 = 8 THEN 'val'
              ELSE 'test' END AS split
  FROM deduped
),
toks AS (
  SELECT split, lang, unnest(string_split(text, ' ')) AS tok FROM assigned
)
SELECT split, lang,
       count(DISTINCT tok) AS vocab, count(*) AS n_tok,
       CAST(sum(CAST(ceil(length(tok) / 4.0) AS BIGINT)) AS BIGINT)
         AS bpe_tokens
FROM toks GROUP BY split, lang
""",
)
def pipeline_corpus_curate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The whole curation pipeline as ONE declarative chain — quality
    filter → exact dedup (normalized-hash LWW) → deterministic split →
    per-(split, lang) token budget.  This is the flagship composition for
    the training-data story: Catalyst fuses the filter+feature stage into
    the scan, the dedup window and the final aggregate are the only
    shuffles, and every stage reuses an operator family that is also
    tested standalone (funnel, dedup_exact, split, token_count)."""
    docs = register_views(spark, sf_dir)["documents"]
    clean = (
        F.length(F.regexp_replace("text", "[^a-z ]", "")).cast("double")
        / F.length("text")
    )
    kept = docs.filter(
        (F.col("n_chars") >= 200)
        & (clean >= 0.7)
        & F.col("lang").isin("en", "de", "fr", "es")
    )
    wdup = Window.partitionBy(F.md5(F.lower(F.trim(F.col("text"))))).orderBy(
        "doc_id"
    )
    deduped = (
        kept.withColumn("rn", F.row_number().over(wdup))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )
    bucket = F.expr(_DOC_HASH) % 10
    assigned = deduped.select(
        "lang",
        "text",
        F.when(bucket < 8, "train")
        .when(bucket == 8, "val")
        .otherwise("test")
        .alias("split"),
    )
    toks = assigned.select(
        "split", "lang", F.explode(F.split("text", " ")).alias("tok")
    )
    return toks.groupBy("split", "lang").agg(
        F.countDistinct("tok").alias("vocab"),
        F.count(F.lit(1)).alias("n_tok"),
        F.sum(F.ceil(F.length("tok") / 4.0).cast("bigint"))
        .cast("bigint")
        .alias("bpe_tokens"),
    )


EVAL_MOD = 97  # doc_id % EVAL_MOD == 0 -> held-out eval doc
DECON_K = 3  # shingle width for contamination detection


@op(
    "decontaminate_ngram",
    oracle=f"""
WITH sh AS (
  SELECT doc_id,
         array_to_string(list_slice(string_split(text, ' '), i,
                                    i + {DECON_K - 1}), ' ') AS shingle
  FROM (SELECT doc_id, text,
               unnest(generate_series(1, len(string_split(text, ' '))
                                         - {DECON_K - 1})) AS i
        FROM documents
        WHERE len(string_split(text, ' ')) >= {DECON_K})
),
dsh AS (SELECT DISTINCT doc_id, shingle FROM sh),
eval_sh AS (SELECT DISTINCT shingle FROM dsh
            WHERE doc_id % {EVAL_MOD} = 0)
SELECT t.doc_id, count(DISTINCT t.shingle) AS n_shared_shingles
FROM dsh t JOIN eval_sh e ON t.shingle = e.shingle
WHERE t.doc_id % {EVAL_MOD} != 0
GROUP BY t.doc_id
""",
)
def decontaminate_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/eval decontamination by n-gram overlap: training documents
    that share any {DECON_K}-token shingle with the held-out eval slice
    (doc_id % {EVAL_MOD} == 0), with the shared-shingle count — the
    standard pre-training hygiene pass (eval leakage detection).

    Scale: candidate generation is an equi-join on the shingle string
    (at 100 TB: on its 64-bit hash) — never an all-pairs compare; the
    eval side is the small distinct-shingle set of the benchmark and
    broadcasts.  Short docs have no shingles and cannot be flagged,
    matching the oracle's generate_series guard."""
    from esxsnmp_tsdb_spark.session import fan_out

    docs = fan_out(register_views(spark, sf_dir)["documents"])
    tcol = F.split("text", " ")
    sh = docs.filter(F.size(tcol) >= DECON_K).select(
        "doc_id",
        F.explode(
            F.array_distinct(
                F.transform(
                    F.sequence(F.lit(1), F.size(tcol) - (DECON_K - 1)),
                    lambda i: F.concat_ws(" ", F.slice(tcol, i, DECON_K)),
                )
            )
        ).alias("shingle"),
    )
    eval_sh = (
        sh.filter(F.col("doc_id") % EVAL_MOD == 0).select("shingle").distinct()
    )
    return (
        sh.filter(F.col("doc_id") % EVAL_MOD != 0)
        .join(F.broadcast(eval_sh), "shingle")
        .groupBy("doc_id")
        .agg(F.count_distinct("shingle").alias("n_shared_shingles"))
    )
