"""§2.5 composed pretraining-data pipeline (EXT — the north-star
training-data mandate in BASELINE.json): quality gate → exact dedup →
LSH-proposed / Jaccard-verified near dedup → n-gram decontamination →
per-language token-budget sampling → mixture manifest, as ONE declarative
chain whose every stage reuses an operator family that is also tested
standalone (quality_filter_funnel, dedup_exact, dedup_near_minhash,
dedup_ngram_jaccard, decontaminate_ngram, sample_token_budget,
corpus_mix_report).

`pipeline_corpus_curate` is the lightweight sibling (quality → exact
dedup → split → token stats); this op is the full near-dedup-aware
recipe a pretraining run actually executes, ending in the per-language
manifest (docs surviving each stage, tokens sampled, half-up-ppm mix
share) that a mixture config is written from.

Design points, in pipeline order:

- The corpus is documents ∪ manufactured exact copies (doc_id+100000) ∪
  drop-last-token near copies (doc_id+200000) — the house fixture trick
  (dedup.py: all 500 texts are distinct, so duplicates are manufactured
  inside the query, identically in both engines) — so the exact stage
  and the near stage each demonstrably remove their own kind.
- The quality gate is pure integer math (10·len(clean) ≥ 7·len(text)):
  no float ratio, no divide-by-zero on the 1-token mutant whose text
  becomes empty.
- ONE k=6 shingle pass (JACCARD_K, localCheckpoint-ed / MATERIALIZED)
  feeds all four shingle consumers: MinHash signatures, the Jaccard
  verification join, the eval-side contamination shingles, and the
  train-side contamination probe.  LSH proposes candidate pairs
  (band-bucket equi-join, never corpus²); exact shingle Jaccard ≥ 0.8
  disposes (integer form 5·|∩| ≥ 4·|∪|) — band false positives do NOT
  delete documents, unlike a drop-on-candidate rule.
- Near-dedup keep rule is greedy: the LARGER doc_id of every verified
  pair is dropped.  Chains (a~b, b~c) therefore drop both b and c even
  though c's only verified partner was itself dropped — deterministic
  and single-pass; the clustering-correct variant is
  dedup_connected_components.
- Decontamination: held-out eval docs (doc_id % EVAL_MOD == 0 among
  near-dedup survivors) are excluded from training, and any training doc
  sharing a 6-shingle with the eval slice is dropped.  This ACTS on the
  pipeline's own 6-gram overlap (the shared JACCARD_K shingle pass) —
  deliberately wider-grained than decontaminate_ngram's 3-gram REPORT
  (DECON_K=3 flags much more: on short synthetic text 3-gram overlap
  marks ~98% of the corpus contaminated, which is a report, not a
  deletion rule).  The two ops share the eval-slice convention
  (EVAL_MOD), not the shingle width.
- Token budget: per-language hash-ordered prefix (md5(doc_id) order)
  until the cumulative whitespace-token count reaches
  MIX_BUDGET_TOKENS — mix recipes are specified in tokens, not docs
  (sample_token_budget's rule, partitioned by lang instead of source).
  Equal per-lang budgets make the manifest's mix_ppm ≈ 250k each when
  every language can fill its budget — the balanced-mix target.

Scale: the only joins are (band, sig) equi-joins, shingle equi-joins
bounded by the candidate set, and 4-row lang-key manifest joins
(broadcast).  Stage tables are localCheckpoint-ed exactly where they
fan out to multiple consumers ACROSS jobs (the exact survivors, the
shingle table, the near/clean survivors); the signature table and the
4-row per-lang sample aggregate deliberately are NOT — their consumers
share one job each, where parallel lineage replay beats a serialized
materialization; at 100 TB
those checkpoints become persisted inter-stage tables, and the funnel
counts read them instead of re-deriving lineage.  The manifest's
total-token normalizer is a 1-row broadcast (BroadcastNestedLoopJoin,
never CartesianProduct); every window is partitioned (hash exchange,
never SinglePartition).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from esxsnmp_tsdb_spark.operators.curation import EVAL_MOD
from esxsnmp_tsdb_spark.operators.curation5 import (
    BUDGET_HASH_SQL,
    budget_cum_sql,
    budget_cum_window,
    budget_hash_col,
)
from esxsnmp_tsdb_spark.operators.dedup import (
    JACCARD_K,
    _minhash_sigs,
    _pairs_from_sigs,
    _shingled,
    pairs_sql,
    shingle_sql,
    sigs_sql,
)
from esxsnmp_tsdb_spark.functions.exact import half_up_div
from esxsnmp_tsdb_spark.registry import op
from esxsnmp_tsdb_spark.sources import register_views

MIX_LANGS = ("de", "en", "es", "fr")
MIX_MIN_CHARS = 200
MIX_CLEAN_NUM, MIX_CLEAN_DEN = 7, 10  # keep iff 10*len(clean) >= 7*len(text)
MIX_BUDGET_TOKENS = 4000  # whitespace tokens kept per language
_J_NUM, _J_DEN = 4, 5  # verified duplicate iff 5*|∩| >= 4*|∪| (Jaccard ≥ 0.8)

_LANG_LIST = ", ".join(f"'{lg}'" for lg in MIX_LANGS)

_MIX_ORACLE = f"""
WITH corpus AS (
  SELECT doc_id, lang, text FROM documents
  UNION ALL
  SELECT doc_id + 100000 AS doc_id, lang, text FROM documents
  UNION ALL
  SELECT doc_id + 200000 AS doc_id, lang,
         coalesce(array_to_string(list_slice(string_split(text, ' '), 1,
                                    len(string_split(text, ' ')) - 1), ' '),
                  '') AS text
  FROM documents
),
quality AS MATERIALIZED (
  SELECT doc_id, lang, text FROM corpus
  WHERE length(text) >= {MIX_MIN_CHARS}
    AND {MIX_CLEAN_DEN} * length(regexp_replace(text, '[^a-z ]', '', 'g'))
        >= {MIX_CLEAN_NUM} * length(text)
    AND lang IN ({_LANG_LIST})
),
exact_kept AS MATERIALIZED (
  SELECT doc_id, lang, text FROM (
    SELECT doc_id, lang, text,
           row_number() OVER (PARTITION BY md5(lower(trim(text)))
                              ORDER BY doc_id) AS rn
    FROM quality
  ) WHERE rn = 1
),
{shingle_sql(JACCARD_K, src="exact_kept", out="shingled", materialized=True)},
{sigs_sql('shingled', 'sigs', materialized=True)},
{pairs_sql('sigs')},
sizes AS MATERIALIZED (
  SELECT doc_id, count(*) AS n_sh FROM shingled GROUP BY doc_id
),
overlap AS (
  SELECT p.doc_a, p.doc_b, count(*) AS n_shared
  FROM pairs p
  JOIN shingled sa ON sa.doc_id = p.doc_a
  JOIN shingled sb ON sb.doc_id = p.doc_b AND sb.shingle = sa.shingle
  GROUP BY p.doc_a, p.doc_b
),
dups AS (
  SELECT DISTINCT o.doc_b
  FROM overlap o JOIN sizes za ON za.doc_id = o.doc_a
                 JOIN sizes zb ON zb.doc_id = o.doc_b
  WHERE {_J_DEN} * o.n_shared
        >= {_J_NUM} * (za.n_sh + zb.n_sh - o.n_shared)
),
near_kept AS MATERIALIZED (
  SELECT doc_id, lang, text FROM exact_kept
  WHERE doc_id NOT IN (SELECT doc_b FROM dups)
),
eval_sh AS (
  SELECT DISTINCT s.shingle
  FROM shingled s JOIN near_kept n USING (doc_id)
  WHERE n.doc_id % {EVAL_MOD} = 0
),
contaminated AS (
  SELECT DISTINCT s.doc_id
  FROM shingled s JOIN near_kept n USING (doc_id)
                  JOIN eval_sh e USING (shingle)
  WHERE s.doc_id % {EVAL_MOD} != 0
),
clean AS MATERIALIZED (
  SELECT doc_id, lang, text FROM near_kept
  WHERE doc_id % {EVAL_MOD} != 0
    AND doc_id NOT IN (SELECT doc_id FROM contaminated)
),
toks AS (
  SELECT doc_id, lang,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS tok,
         {BUDGET_HASH_SQL} AS h
  FROM clean
),
cum AS (
  SELECT lang, tok,
         {budget_cum_sql('lang')}
           AS c
  FROM toks
),
sampled AS (SELECT lang, tok FROM cum WHERE c <= {MIX_BUDGET_TOKENS}),
c_q AS (SELECT lang, count(*) AS docs_quality FROM quality GROUP BY lang),
c_e AS (SELECT lang, count(*) AS docs_exact FROM exact_kept GROUP BY lang),
c_n AS (SELECT lang, count(*) AS docs_near FROM near_kept GROUP BY lang),
c_c AS (SELECT lang, count(*) AS docs_clean FROM clean GROUP BY lang),
c_s AS MATERIALIZED (
  SELECT lang, count(*) AS docs_sampled,
         CAST(sum(tok) AS BIGINT) AS tokens_sampled
  FROM sampled GROUP BY lang
),
tot AS (SELECT CAST(sum(tokens_sampled) AS BIGINT) AS t FROM c_s)
SELECT q.lang,
       q.docs_quality,
       COALESCE(e.docs_exact, 0) AS docs_exact,
       COALESCE(n.docs_near, 0) AS docs_near,
       COALESCE(c.docs_clean, 0) AS docs_clean,
       COALESCE(s.docs_sampled, 0) AS docs_sampled,
       COALESCE(s.tokens_sampled, 0) AS tokens_sampled,
       CAST({half_up_div("COALESCE(s.tokens_sampled, 0)", "greatest(t, 1)", mul=1_000_000, idiv="//")} AS BIGINT) AS mix_ppm
FROM c_q q
LEFT JOIN c_e e USING (lang)
LEFT JOIN c_n n USING (lang)
LEFT JOIN c_c c USING (lang)
LEFT JOIN c_s s USING (lang)
CROSS JOIN tot
"""


def _mix_corpus(docs: DataFrame) -> DataFrame:
    """documents ∪ exact copies (+100000) ∪ drop-last-token mutants
    (+200000), lang retained — the corpus whose duplicates each pipeline
    stage is supposed to remove."""
    base = docs.select("doc_id", "lang", "text")
    exact = docs.select(
        (F.col("doc_id") + 100000).alias("doc_id"), "lang", "text"
    )
    toks = F.split(F.col("text"), " ")
    near = docs.select(
        (F.col("doc_id") + 200000).alias("doc_id"),
        "lang",
        F.concat_ws(" ", F.slice(toks, 1, F.size(toks) - 1)).alias("text"),
    )
    return base.unionAll(exact).unionAll(near)


@op("pipeline_pretraining_mix", oracle=_MIX_ORACLE)
def pipeline_pretraining_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full pretraining-data recipe as one chain — see module
    docstring.  Returns the per-language mixture manifest: documents
    surviving quality / exact-dedup / verified-near-dedup /
    decontamination / budget-sampling, tokens sampled, and the half-up
    integer-ppm share of the total sampled tokens."""
    from esxsnmp_tsdb_spark.session import fan_out

    docs = register_views(spark, sf_dir)["documents"]
    corpus = fan_out(_mix_corpus(docs))

    quality = corpus.filter(
        (F.length("text") >= MIX_MIN_CHARS)
        & (
            MIX_CLEAN_DEN * F.length(F.regexp_replace("text", "[^a-z ]", ""))
            >= MIX_CLEAN_NUM * F.length("text")
        )
        & F.col("lang").isin(*MIX_LANGS)
    )

    wdup = Window.partitionBy(
        F.md5(F.lower(F.trim(F.col("text"))))
    ).orderBy("doc_id")
    # Text is only ever needed again for the shingle pass below — every
    # later stage carries the precomputed whitespace-token count instead,
    # so the near/clean checkpoints and the budget window move
    # (doc_id, lang, tok) rows, never document bodies.
    exact_kept = (
        quality.withColumn("rn", F.row_number().over(wdup))
        .filter(F.col("rn") == 1)
        .select(
            "doc_id",
            "lang",
            "text",
            F.size(F.split("text", " ")).cast("bigint").alias("tok"),
        )
    ).localCheckpoint()

    # One shingle pass; four consumers (sigs, verify, eval side, probe).
    sh = _shingled(
        exact_kept.select("doc_id", "text"), k=JACCARD_K
    ).localCheckpoint()
    # NO checkpoint on sigs here: unlike minhash_jaccard_estimate
    # (4 sig consumers), this op's signature table feeds ONLY the pair
    # self-join — both sides of ONE job.  The eager checkpoint serialized
    # a ~0.9 s signature job in front of the near-dedup job; inlining the
    # lineage recomputes the sig aggregate once per join side IN PARALLEL
    # inside that job (idle-core work at this stage width), removing a
    # sequential link.  A/B at sf0.1: won every interleaved rep, values
    # identical (exceptAll 0 both ways).
    sigs = _minhash_sigs(sh)
    pairs = _pairs_from_sigs(sigs)

    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    sa = sh.select(F.col("doc_id").alias("doc_a"), "shingle")
    sb = sh.select(F.col("doc_id").alias("doc_b"), "shingle")
    overlap = (
        pairs.join(sa, "doc_a")
        .join(sb, ["doc_b", "shingle"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    dups = (
        overlap.join(
            sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("na")),
            "doc_a",
        )
        .join(
            sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("nb")),
            "doc_b",
        )
        .filter(
            _J_DEN * F.col("n_shared")
            >= _J_NUM * (F.col("na") + F.col("nb") - F.col("n_shared"))
        )
        .select(F.col("doc_b").alias("doc_id"))
        .distinct()
    )
    near_kept = (
        exact_kept.select("doc_id", "lang", "tok")
        .join(dups, "doc_id", "left_anti")
        .localCheckpoint()
    )

    # No broadcast hints here: the eval slice is ~1/EVAL_MOD of the whole
    # post-dedup corpus by construction — not a small fixed benchmark like
    # decontaminate_ngram's — so its shingle set grows with the corpus and
    # must stay eligible for a shuffle join (forcing broadcast would OOM
    # at the scale the module docstring designs for).
    evals = near_kept.filter(F.col("doc_id") % EVAL_MOD == 0).select("doc_id")
    eval_sh = sh.join(evals, "doc_id").select("shingle").distinct()
    contaminated = (
        sh.join(near_kept.select("doc_id"), "doc_id")
        .filter(F.col("doc_id") % EVAL_MOD != 0)
        .join(eval_sh, "shingle")
        .select("doc_id")
        .distinct()
    )
    clean = (
        near_kept.filter(F.col("doc_id") % EVAL_MOD != 0)
        .join(contaminated, "doc_id", "left_anti")
    ).localCheckpoint()

    toks = clean.select("lang", "doc_id", "tok", budget_hash_col().alias("h"))
    sampled = (
        toks.withColumn("c", F.sum("tok").over(budget_cum_window("lang")))
        .filter(F.col("c") <= MIX_BUDGET_TOKENS)
        .select("lang", "tok")
    )

    def _cnt(df: DataFrame, name: str) -> DataFrame:
        return df.groupBy("lang").agg(F.count(F.lit(1)).alias(name))

    # NO checkpoint on c_s: its two consumers (the broadcast join
    # leg and the 1-row total) are both ≤4-row aggregates over the
    # ALREADY-checkpointed `clean` — recomputing the tiny window twice
    # inside the one final job is cheaper than a dedicated
    # materialization job (~0.3 s of scheduling at fixture scale).
    c_s = sampled.groupBy("lang").agg(
        F.count(F.lit(1)).alias("docs_sampled"),
        F.sum("tok").cast("bigint").alias("tokens_sampled"),
    )
    tot = c_s.agg(F.sum("tokens_sampled").cast("bigint").alias("t"))

    def _z(name: str):
        return F.coalesce(F.col(name), F.lit(0).cast("bigint")).alias(name)

    return (
        _cnt(quality, "docs_quality")
        .join(F.broadcast(_cnt(exact_kept, "docs_exact")), "lang", "left")
        .join(F.broadcast(_cnt(near_kept, "docs_near")), "lang", "left")
        .join(F.broadcast(_cnt(clean, "docs_clean")), "lang", "left")
        .join(F.broadcast(c_s), "lang", "left")
        .crossJoin(F.broadcast(tot))
        .select(
            "lang",
            "docs_quality",
            _z("docs_exact"),
            _z("docs_near"),
            _z("docs_clean"),
            _z("docs_sampled"),
            _z("tokens_sampled"),
            F.expr(
                "CAST("
                + half_up_div(
                    "coalesce(tokens_sampled, 0)",
                    "greatest(t, 1)",
                    mul=1_000_000,
                )
                + " AS BIGINT)"
            ).alias("mix_ppm"),
        )
    )
