"""§2.5 curation, batch 5 (EXT): corpus-order n-gram novelty scoring and
one PCA power-iteration step over the embedding table.

* ``text_ngram_novelty`` — how much of each document's n-gram mass is
  NEW relative to everything that arrived before it (doc_id as arrival
  order).  The streaming-curriculum signal: a feed whose novelty decays
  is repeating itself.  First-occurrence is ``min(doc_id)`` per shingle
  — the same O(n) first-touch formulation as `cumulative_distinct_users`
  (no quadratic self-join against the growing history).
* ``embedding_pca_power_iteration`` — v₁ = normalize(Σᵣ ⟨eᵣ, v₀⟩·eᵣ)
  from the deterministic all-ones start: the dominant-eigenvector step
  every distributed PCA runs, expressed as one scan (per-row dot in
  codegen) + one per-dimension aggregate.  Iterating is a driver loop
  over this exact shape; one step keeps the op oracle-checkable.

Scale posture: novelty shuffles (shingle-hash, doc) pairs once on the
shingle key; PCA's per-dimension aggregate is a 64-group map-side-
combined groupBy — the corpus never moves, only d partial sums per
task."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from esxsnmp_tsdb_spark.registry import op
from esxsnmp_tsdb_spark.session import fan_out
from esxsnmp_tsdb_spark.sources import register_views

NOVELTY_K = 5  # shingle width for novelty


@op(
    "text_ngram_novelty",
    oracle=f"""
WITH sh AS (
  SELECT DISTINCT doc_id,
         array_to_string(list_slice(string_split(text, ' '), i, i + {NOVELTY_K - 1}), ' ')
           AS shingle
  FROM (SELECT doc_id, text,
               unnest(generate_series(1, len(string_split(text, ' ')) - {NOVELTY_K - 1}))
                 AS i
        FROM documents)
),
first AS (SELECT shingle, min(doc_id) AS first_doc FROM sh GROUP BY shingle)
SELECT s.doc_id,
       count(*) AS n_shingles,
       count(CASE WHEN f.first_doc = s.doc_id THEN 1 END) AS n_novel,
       round(count(CASE WHEN f.first_doc = s.doc_id THEN 1 END) * 1.0
             / count(*), 6) AS novelty
FROM sh s JOIN first f ON s.shingle = f.shingle
GROUP BY s.doc_id
""",
)
def text_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document novelty vs the corpus-so-far: the share of the doc's
    distinct 5-gram shingles it is the FIRST document (by doc_id) to
    contain.

    One explode, one groupBy on the shingle, one join back — the
    first-touch trick replaces 'join each doc against all earlier docs'
    (quadratic in corpus size) with a single min() aggregate, which is
    why this stays one pass at 100 TB."""
    docs = fan_out(register_views(spark, sf_dir)["documents"].select("doc_id", "text"))
    toks = F.split(F.col("text"), " ")
    sh = docs.select(
        "doc_id",
        F.explode(
            F.array_distinct(
                F.when(
                    F.size(toks) >= NOVELTY_K,
                    F.transform(
                        F.sequence(F.lit(1), F.size(toks) - (NOVELTY_K - 1)),
                        lambda i: F.concat_ws(" ", F.slice(toks, i, NOVELTY_K)),
                    ),
                ).otherwise(F.array().cast("array<string>"))
            )
        ).alias("shingle"),
    )
    first = sh.groupBy("shingle").agg(F.min("doc_id").alias("first_doc"))
    novel = F.count(F.when(F.col("first_doc") == F.col("doc_id"), 1))
    return (
        sh.join(first, "shingle")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            novel.alias("n_novel"),
            F.round(novel / F.count(F.lit(1)), 6).alias("novelty"),
        )
    )


_DOT_ONES = """list_sum(list_transform({v}, x -> CAST(x AS DOUBLE)))"""


@op(
    "embedding_pca_power_iteration",
    oracle=f"""
WITH scored AS (  -- per row: <e, v0> with v0 = all-ones
  SELECT embedding, {_DOT_ONES.format(v='embedding')} AS dot0,
         len(embedding) AS d
  FROM embeddings
),
dims AS (SELECT unnest(range(1, (SELECT max(d) FROM scored) + 1)) AS dim),
u AS (
  SELECT dims.dim,
         round(sum(s.dot0 * CAST(s.embedding[dims.dim] AS DOUBLE)), 6) AS ud
  FROM scored s CROSS JOIN dims
  GROUP BY dims.dim
),
nrm AS (SELECT sqrt(sum(ud * ud)) AS n FROM u)
SELECT u.dim, round(u.ud / nrm.n, 6) AS component
FROM u CROSS JOIN nrm
""",
)
def embedding_pca_power_iteration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One power-iteration step toward the corpus's dominant principal
    direction: v₁ = normalize(Σᵣ ⟨eᵣ, v₀⟩ · eᵣ), v₀ = 1⃗ (deterministic
    start, no RNG).

    The per-row dot is a codegen fold; the per-dimension accumulation is
    posexplode + a 64-group aggregate with map-side combine, so each
    task contributes d partial sums no matter how many vectors it scans
    — the classic allreduce shape of distributed PCA.  Full PCA = this
    op iterated from the driver (the same checkpointed-loop pattern as
    `doc_pagerank`); the normalize runs on the 64-row result.  The
    pre-normalization sums round at 6 on both sides, so the division
    consumes identical doubles."""
    e = register_views(spark, sf_dir)["embeddings"]
    scored = e.select(
        F.aggregate(
            F.col("embedding"), F.lit(0.0), lambda a, x: a + x.cast("double")
        ).alias("dot0"),
        F.posexplode("embedding").alias("pos", "comp"),
    )
    u = (
        scored.groupBy((F.col("pos") + 1).alias("dim"))
        .agg(
            F.round(F.sum(F.col("dot0") * F.col("comp").cast("double")), 6).alias(
                "ud"
            )
        )
    )
    nrm = u.agg(F.sqrt(F.sum(F.col("ud") * F.col("ud"))).alias("n"))
    return (
        u.crossJoin(F.broadcast(nrm))
        .select(
            F.col("dim").cast("bigint").alias("dim"),
            F.round(F.col("ud") / F.col("n"), 6).alias("component"),
        )
    )


TOKEN_BUDGET = 800  # tokens kept per source by sample_token_budget

# THE token-budget prefix convention — hash order, running-token window,
# cum ≤ budget keeps — single-sourced here (both dialects) for
# sample_token_budget and the composed pipeline (training_mix), so a
# change to the ordering or keep rule cannot half-apply.
BUDGET_HASH_SQL = "md5(CAST(doc_id AS VARCHAR))[1:16]"


def budget_cum_sql(partition: str) -> str:
    """DuckDB running token sum in (h, doc_id) order within ``partition``
    — expects columns ``tok`` and ``h`` (from BUDGET_HASH_SQL)."""
    return (
        f"""sum(tok) OVER (PARTITION BY {partition} ORDER BY h, doc_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)"""
    )


def budget_hash_col():
    """Spark twin of BUDGET_HASH_SQL."""
    return F.expr("substring(md5(CAST(doc_id AS STRING)), 1, 16)")


def budget_cum_window(partition: str):
    """Spark twin of ``budget_cum_sql``'s window."""
    return (
        Window.partitionBy(partition)
        .orderBy("h", "doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )


@op(
    "sample_token_budget",
    oracle=f"""
WITH toks AS (
  SELECT source, doc_id,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS tok,
         {BUDGET_HASH_SQL} AS h
  FROM documents
),
ordered AS (
  SELECT source, tok,
         {budget_cum_sql('source')}
           AS cum
  FROM toks
)
SELECT source,
       count(*) AS n_total,
       CAST(sum(CASE WHEN cum <= {TOKEN_BUDGET} THEN 1 ELSE 0 END) AS BIGINT)
         AS n_kept,
       CAST(sum(CASE WHEN cum <= {TOKEN_BUDGET} THEN tok ELSE 0 END) AS BIGINT)
         AS tokens_kept,
       round(sum(CASE WHEN cum <= {TOKEN_BUDGET} THEN tok ELSE 0 END)
             / {TOKEN_BUDGET}.0, 6) AS budget_used
FROM ordered GROUP BY source
""",
)
def sample_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget sampling — the pretraining-mix primitive
    `domain_quota_sample` (doc-count quota) approximates: keep the
    hash-ordered PREFIX of each source until the cumulative WHITESPACE
    TOKEN count reaches the per-source budget.  Mix recipes are specified
    in tokens, not documents, because doc length varies 100×; the prefix
    rule (cum ≤ budget keeps) is deterministic across engines and
    cluster sizes — no sampling RNG, no order dependence.

    One shuffle on ``source``; the running sum rides the same bounded
    per-source window as the quota op.  At 100 TB the hash order also
    de-correlates the kept prefix from crawl order — the budget takes a
    uniform slice of the domain, not its first day."""
    docs = register_views(spark, sf_dir)["documents"]
    toks = docs.select(
        "source",
        "doc_id",
        F.size(F.split("text", " ")).cast("bigint").alias("tok"),
        budget_hash_col().alias("h"),
    )
    ordered = toks.withColumn(
        "cum", F.sum("tok").over(budget_cum_window("source"))
    )
    kept = F.col("cum") <= TOKEN_BUDGET
    return ordered.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_total"),
        F.sum(kept.cast("int")).cast("bigint").alias("n_kept"),
        F.sum(F.when(kept, F.col("tok")).otherwise(0))
        .cast("bigint")
        .alias("tokens_kept"),
        F.round(
            F.sum(F.when(kept, F.col("tok")).otherwise(0)) / float(TOKEN_BUDGET),
            6,
        ).alias("budget_used"),
    )
