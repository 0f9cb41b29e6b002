"""§2.5 LLM-data-pipeline surface, batch 8 (EXT): semantic dedup via
cluster-then-prune (the SemDeDup recipe) and winnowing fingerprint
overlap (the MOSS local-fingerprinting scheme).

Both are the published algorithms' Spark-first shapes:

* SemDeDup (Abbas et al., 2023): assign every embedding to a coarse
  cluster, then prune near-duplicates ONLY within a cluster — the
  pairwise square never spans the corpus.  The cluster here is the same
  deterministic every-50th-vector coarse quantizer the IVF family uses
  (`similarity.sim_search_ivf`), so cells are ingest-persistable
  partitions and the prune is an intra-partition join.
* Winnowing (Schleimer et al., SIGMOD 2003): hash k-token shingles,
  slide a w-hash window, keep each window's minimum — guarantees any
  match of length ≥ w+k−1 tokens shares a fingerprint, at ~2/(w+1)
  density.  Fingerprints are md5-derived 16-bit ints (`dedup._hex16`)
  so both engines pick identical minima.

House determinism: no RNG anywhere; keeper choice is min-vec_id; ratios
are half-up integer ppm.

Scale posture: SemDeDup's pair join is equi on cell id (bounded by the
largest cell, salt-able like any hot key); winnowing joins the DISTINCT
(doc, fingerprint) AGGREGATE with itself on fingerprint — with k=6-token
shingles the fingerprint df is ~1 off the true overlaps (the
`dedup_ngram_jaccard` blocker lesson), so the join output is
overlap-sized, never doc².
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from esxsnmp_tsdb_spark.functions.vector import dot, norm
from esxsnmp_tsdb_spark.operators.dedup import (
    NEAR_CTE,
    _docs_with_near_copies,
    _hex16,
)
from esxsnmp_tsdb_spark.operators.similarity import DOT_SQL, _dbl
from esxsnmp_tsdb_spark.functions.exact import half_up_div
from esxsnmp_tsdb_spark.registry import op
from esxsnmp_tsdb_spark.session import local_frame
from esxsnmp_tsdb_spark.sources import register_views

SEM_TAU = 0.6  # same near-dup threshold dedup_embedding_cosine proves
CELL_SEED_MOD = 50  # every-50th vector seeds a centroid (IVF convention)

WINNOW_K = 6  # tokens per shingle (selective on the small-vocab fixture)
WINNOW_W = 4  # hashes per winnowing window
WINNOW_MIN_SHARED = 3  # report pairs sharing at least this many prints


_COS_AB = (
    f"{DOT_SQL.format(d='a.d', a='a.embedding', b='b.embedding')} / "
    f"(sqrt({DOT_SQL.format(d='a.d', a='a.embedding', b='a.embedding')}) * "
    f"sqrt({DOT_SQL.format(d='b.d', a='b.embedding', b='b.embedding')}))"
)

# argmax-cosine against the centroid CTE `c` (cid, cv, cd) from a row
# aliased `s` (vec_id, embedding, d) — the DuckDB twin of `_assign_to`'s
# scoring expression, shared by every assignment CTE below.
_CENT_COS_S = (
    f"{DOT_SQL.format(d='s.d', a='s.embedding', b='c.cv')} / "
    f"(sqrt({DOT_SQL.format(d='s.d', a='s.embedding', b='s.embedding')}) * "
    f"sqrt({DOT_SQL.format(d='c.cd', a='c.cv', b='c.cv')}))"
)


def assign_cte(src: str, out: str, extra: tuple[str, ...] = ()) -> str:
    """DuckDB twin of ``_assign_to(<src>, c)`` as CTE ``out``: every row
    of CTE ``src`` (vec_id, embedding, d, *extra) gets the cid of its
    argmax-cosine centroid from CTE ``c`` (cid, cv, cd), ties to the
    smaller cid.  Single-sourced for the same reason `_assign_to` is:
    forked copies of the cell geometry could silently diverge."""
    outer = ", ".join(["vec_id", *extra, "embedding", "d", "cid"])
    inner = ", ".join(
        ["s.vec_id", *(f"s.{c}" for c in extra), "s.embedding", "s.d", "c.cid"]
    )
    return f"""{out} AS (
  SELECT {outer} FROM (
    SELECT {inner},
           row_number() OVER (
             PARTITION BY s.vec_id
             ORDER BY COALESCE({_CENT_COS_S}, -2.0) DESC, c.cid) AS rn
    FROM {src} s CROSS JOIN c
  ) WHERE rn = 1
)"""

# Near-dup embedding corpus: original ∪ zero-the-last-component mutation
# (cosine ≈ 0.99 to its source) — the fixture's natural pairs top out
# near cosine 0.48, so the planted copies are what gives the prune real
# signal, exactly as `dedup.NEAR_CTE` does for the text dedup family.
# The zero-last-component mutated arm (vec_id + 100000) — SQL twin of
# `_emb_near_batch`, single-sourced so every oracle that manufactures an
# "arriving batch" of embeddings (here and in dedup2) mutates the same
# fixture.
EMB_NEAR_BATCH_SQL = """SELECT vec_id + 100000 AS vec_id,
         list_concat(list_slice(embedding, 1, len(embedding) - 1),
                     [CAST(0.0 AS FLOAT)]) AS embedding
  FROM embeddings"""

EMB_NEAR_CTE = f"""emb2 AS (
  SELECT vec_id, embedding FROM embeddings
  UNION ALL
  {EMB_NEAR_BATCH_SQL}
)"""


def _emb_near_batch(e: DataFrame) -> DataFrame:
    """The manufactured "arriving batch": zero-last-component near copies
    (vec_id + 100000, cosine ≈ 0.99 to their source) of the given
    embeddings — the mutated half of `_emb_with_near_copies`."""
    return e.select(
        (F.col("vec_id") + 100000).alias("vec_id"),
        F.concat(
            F.slice(F.col("embedding"), 1, F.size(F.col("embedding")) - 1),
            F.array(F.lit(0.0).cast("float")),
        ).alias("embedding"),
    )


def _emb_with_near_copies(e: DataFrame) -> DataFrame:
    return e.select("vec_id", "embedding").unionAll(_emb_near_batch(e))


def _cell_seeds(e: DataFrame, mod: int = CELL_SEED_MOD) -> DataFrame:
    """Coarse centroids seeded from every ``mod``th vector of the given
    corpus — (cid, cv, cnrm), catalog-sized, broadcastable.

    The default keeps the oracle-static {CELL_SEED_MOD} convention
    (C ∝ N).  Deployment sizing is C ≈ √N (docs/CLUSTER.md): callers on
    a growing corpus pass ``mod ≈ default × √(growth)`` so the probe
    cost term Θ(C) + Θ(N/C) stays at its √N minimum — the scaling
    probe's ``--seed-scale sqrt`` mode measures exactly that."""
    return e.filter(F.col("vec_id") % mod == 0).select(
        F.col("vec_id").alias("cid"),
        F.col("embedding").alias("cv"),
        F.col("nrm").alias("cnrm"),
    )


def _assign_to(e: DataFrame, cent: DataFrame) -> DataFrame:
    """Assign every row of ``e`` to its argmax-cosine centroid from
    ``cent`` (ties to the smaller cid).  Input must carry (vec_id,
    embedding, nrm) plus any extra columns to keep; output adds ``cid``
    and ``best_cos`` (the winning raw cosine).  Centroids broadcast;
    norms are hoisted so the k-way scoring pays one dot fold per
    (row, centroid).  The argmax is a ``max_by`` aggregation, not a
    row_number window: partial (map-side) aggregation folds the N×K
    scored rows down to N BEFORE the exchange, so only one row per
    vector ever shuffles."""
    # Double-casts hoisted OUT of the N×K scored expression: `__v` is
    # cast once per input row and `__cv` once per
    # centroid before the fan-out, instead of two O(d) array transforms
    # per (row, centroid).  float→double is exact — every c_cos is
    # bit-identical to the per-pair-cast form.
    ev = e.withColumn("__v", _dbl(F.col("embedding")))
    cent = cent.withColumn("__cv", _dbl(F.col("cv"))).drop("cv")
    scored = ev.crossJoin(F.broadcast(cent)).withColumn(
        # try_divide: a zero-norm vector must score NULL (handled by the
        # sentinel below), not raise ANSI DIVIDE_BY_ZERO mid-stage.
        "c_cos",
        F.try_divide(
            dot(F.col("__v"), F.col("__cv")),
            F.col("nrm") * F.col("cnrm"),
        ),
    )
    carry = [F.first(c).alias(c) for c in e.columns if c != "vec_id"]
    # A zero-norm (degenerate) vector scores NULL against every centroid;
    # max_by would skip NULL keys entirely and leave cid NULL, while the
    # oracle's row_number argmax still assigns the smallest cid.  Coalesce
    # to a below-range sentinel in BOTH engines (assign_cte mirrors it) so
    # degenerate vectors land deterministically in the smallest cell.
    argmax_key = F.struct(
        F.coalesce(F.col("c_cos"), F.lit(-2.0)).alias("c_cos"),
        (-F.col("cid")).alias("neg_cid"),
    )
    return scored.groupBy("vec_id").agg(
        *carry,
        F.max_by("cid", argmax_key).alias("cid"),
        F.max("c_cos").alias("best_cos"),
    )


def _assign_cells(e: DataFrame) -> DataFrame:
    """The ONE coarse-quantizer assignment every cell-blocked op here
    shares (SemDeDup prune, hard-negative mining, OOD screen, and the
    incremental index in dedup2): seeds from the GIVEN corpus, then
    `_assign_to`.  Keeping this in one place is what keeps every
    consumer on the SAME cell geometry — forked copies could silently
    diverge."""
    return _assign_to(e, _cell_seeds(e))


@op(
    "dedup_semantic_cells",
    oracle=f"""
WITH {EMB_NEAR_CTE},
e AS (SELECT vec_id, embedding, len(embedding) AS d FROM emb2),
c AS (SELECT vec_id AS cid, embedding AS cv, d AS cd FROM e
      WHERE vec_id % {CELL_SEED_MOD} = 0),
{assign_cte('e', 'assigned')},
victims AS (
  SELECT DISTINCT a.cid, b.vec_id AS victim
  FROM assigned a JOIN assigned b
    ON a.cid = b.cid AND a.vec_id < b.vec_id
  WHERE {_COS_AB} >= {SEM_TAU}
),
dropped AS (SELECT cid, count(*) AS n_dropped FROM victims GROUP BY cid),
cells AS (SELECT cid, count(*) AS n_vecs FROM assigned GROUP BY cid)
SELECT cells.cid, n_vecs,
       COALESCE(n_dropped, 0) AS n_dropped,
       n_vecs - COALESCE(n_dropped, 0) AS n_kept
FROM cells LEFT JOIN dropped ON dropped.cid = cells.cid
""",
)
def dedup_semantic_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup: coarse-cluster the embedding corpus, then inside each
    cluster drop every vector that has a cosine-≥-τ neighbor with a
    smaller vec_id (min-id keeper — the deterministic stand-in for
    "keep one per ε-similar group").  Output is the per-cell impact
    table (n_vecs / n_dropped / n_kept) a curation run reports.

    The cluster is the IVF coarse quantizer (every-{CELL_SEED_MOD}th
    vector seeds a centroid, assignment = argmax cosine, ties to the
    smaller cid) — at 100 TB the assignment happens at ingest and the
    table is partitioned by cell, so the prune shuffles once on cid and
    the corpus-wide pairwise square never materializes: exactly the
    property that makes SemDeDup tractable at scale.  Centroids
    broadcast (catalog-sized).

    The in-cell square itself runs as ONE Arrow-batched
    ``applyInPandas`` per cell — a normalized-matrix BLAS matmul, the
    same kernel a FAISS-style SemDeDup job runs per IVF list — instead
    of a pair join whose per-pair dot rides Spark's interpreted
    higher-order fold.  Cells are quantizer-bounded (~{CELL_SEED_MOD}
    vectors here), so the |cell|² Gram matrix is small by construction;
    census (n_vecs) and prune (n_dropped) fall out of the same pass, so
    the assignment stage has exactly one consumer and needs no
    checkpoint.  Runs on the planted near-copy corpus (`EMB_NEAR_CTE`)
    so the prune has real signal — the raw fixture's most-similar pair
    is only cosine ≈ 0.48, far from τ={SEM_TAU}, which also keeps the
    float64 BLAS sum order irrelevant to the threshold decision."""
    import numpy as np
    import pandas as pd

    e = _emb_with_near_copies(
        register_views(spark, sf_dir)["embeddings"]
    ).select(
        "vec_id", "embedding", norm(_dbl(F.col("embedding"))).alias("nrm")
    )
    assigned = _assign_cells(e).select("vec_id", "embedding", "nrm", "cid")

    def prune(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("vec_id")
        n = len(pdf)
        vn = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
        # Zero-norm guard: both engines turn 0/0 into NULL (never ≥ τ,
        # so never dropped); dividing by 1 gives a zero Gram row — the
        # same not-dropped outcome — without NaN warnings.
        nrm = pdf["nrm"].to_numpy(dtype=np.float64)
        vn /= np.where(nrm == 0.0, 1.0, nrm)[:, None]
        gram = vn @ vn.T
        iu, ju = np.triu_indices(n, 1)  # (i, j) with vec_id_i < vec_id_j
        victim = np.zeros(n, dtype=bool)
        victim[ju[gram[iu, ju] >= SEM_TAU]] = True
        return pd.DataFrame(
            {
                "cid": [pdf["cid"].iat[0]],
                "n_vecs": [n],
                "n_dropped": [int(victim.sum())],
            }
        )

    return (
        assigned.groupBy("cid")
        .applyInPandas(prune, "cid bigint, n_vecs bigint, n_dropped bigint")
        .select(
            "cid",
            "n_vecs",
            "n_dropped",
            (F.col("n_vecs") - F.col("n_dropped")).alias("n_kept"),
        )
    )


def winnow_fingerprints(
    docs2: DataFrame, k: int = WINNOW_K, w: int = WINNOW_W
) -> DataFrame:
    """Distinct winnowed fingerprints per doc: (doc_id, fp).

    k-token shingle hashes, trailing w-hash window minima, distinct —
    the Schleimer-Wilkerson-Aiken selection whose guarantee (any shared
    run of ≥ w+k−1 tokens shares a fingerprint) is property-tested in
    tests/test_properties.py."""
    toks = F.split(F.col("text"), " ")
    sh = F.when(
        F.size(toks) >= k,
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - (k - 1)),
            lambda i: F.concat_ws(" ", F.slice(toks, i, k)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    pos = docs2.select(
        "doc_id", F.posexplode(sh).alias("p0", "shingle")
    ).select(
        "doc_id",
        (F.col("p0") + 1).alias("i"),
        F.expr(_hex16("shingle")).alias("h"),
    )
    wmin = Window.partitionBy("doc_id").orderBy("i").rowsBetween(0, w - 1)
    wcnt = Window.partitionBy("doc_id")
    return (
        pos.select(
            "doc_id",
            "i",
            F.min("h").over(wmin).alias("fp"),
            F.count(F.lit(1)).over(wcnt).alias("n_sh"),
        )
        .filter(F.col("i") <= F.col("n_sh") - (w - 1))
        .select("doc_id", "fp")
        .distinct()
    )


@op(
    "doc_winnowing_overlap",
    oracle=f"""
WITH {NEAR_CTE},
pos AS (
  SELECT doc_id, i, {_hex16('shingle')} AS h FROM (
    SELECT doc_id, i,
           array_to_string(list_slice(string_split(text, ' '),
                                      i, i + {WINNOW_K - 1}), ' ')
             AS shingle
    FROM (SELECT doc_id, text,
                 unnest(generate_series(
                   1, len(string_split(text, ' ')) - {WINNOW_K - 1})) AS i
          FROM docs2)
  )
),
win AS (
  SELECT doc_id, i,
         min(h) OVER (PARTITION BY doc_id ORDER BY i
                      ROWS BETWEEN CURRENT ROW
                      AND {WINNOW_W - 1} FOLLOWING) AS fp,
         count(*) OVER (PARTITION BY doc_id) AS n_sh
  FROM pos
),
fps AS (SELECT DISTINCT doc_id, fp FROM win WHERE i <= n_sh - {WINNOW_W - 1}),
sizes AS (SELECT doc_id, count(*) AS n_fp FROM fps GROUP BY doc_id),
shared AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_shared
  FROM fps a JOIN fps b ON a.fp = b.fp AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT s.doc_a, s.doc_b, s.n_shared,
       CAST({half_up_div('s.n_shared', 'least(za.n_fp, zb.n_fp)', mul=1_000_000, idiv='//')}
            AS BIGINT) AS overlap_ppm
FROM shared s
JOIN sizes za ON za.doc_id = s.doc_a
JOIN sizes zb ON zb.doc_id = s.doc_b
WHERE s.n_shared >= {WINNOW_MIN_SHARED}
""",
)
def doc_winnowing_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing overlap detection: hash every {WINNOW_K}-token shingle,
    slide a {WINNOW_W}-hash window per document, keep each window's
    minimum hash — the selected fingerprints guarantee any shared run of
    ≥ {WINNOW_W + WINNOW_K - 1} tokens surfaces, at ~2/(w+1) the density
    of full shingling (the MOSS plagiarism-detector scheme).  Pairs of
    documents sharing ≥ {WINNOW_MIN_SHARED} fingerprints are reported
    with a half-up-ppm containment ratio against the smaller document.

    Scale: fingerprint selection is a bounded ROWS window inside each
    doc (state = {WINNOW_W} hashes); the pair join runs on the DISTINCT
    (doc, fingerprint) aggregate — fingerprint df is ~1 except on true
    overlaps, so join output is overlap-sized, never doc².  Runs on the
    near-copy corpus (`dedup.NEAR_CTE`) so the fixture has real signal."""
    from esxsnmp_tsdb_spark.session import fan_out

    docs2 = fan_out(
        _docs_with_near_copies(register_views(spark, sf_dir)["documents"])
    )
    fps = winnow_fingerprints(docs2)
    sizes = fps.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_fp"))
    a = fps.alias("a")
    b = fps.alias("b")
    shared = (
        a.join(
            b,
            (F.col("a.fp") == F.col("b.fp"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= WINNOW_MIN_SHARED)
    )
    za = F.broadcast(sizes).alias("za")
    zb = F.broadcast(sizes).alias("zb")
    return (
        shared.join(za, F.col("doc_a") == F.col("za.doc_id"))
        .join(zb, F.col("doc_b") == F.col("zb.doc_id"))
        .withColumn("m", F.least(F.col("za.n_fp"), F.col("zb.n_fp")))
        .select(
            "doc_a",
            "doc_b",
            "n_shared",
            F.expr(
                f"CAST({half_up_div('n_shared', 'm', mul=1_000_000)} AS BIGINT)"
            ).alias("overlap_ppm"),
        )
    )


# Content-defined chunking: a token STARTS a new chunk when its hash is
# ≡ 0 (mod CDC_MOD) — the Rabin/LBFS boundary rule with md5 playing the
# rolling hash.  Expected chunk length = CDC_MOD tokens.
CDC_MOD = 16
BPE_TOP = 20


def cdc_chunk_table(docs2: DataFrame, mod: int = CDC_MOD) -> DataFrame:
    """Content-defined chunk table: (doc_id, chunk_id, n_toks, sig).

    A token starts a new chunk when its hash ≡ 0 (mod ``mod``); the
    signature is the position-weighted integer Σh·(i−start+1), closed
    over the group aggregate — its edit-locality (a one-token change
    touches only the chunks adjacent to the edit) is property-tested in
    tests/test_properties.py."""
    toks = docs2.select(
        "doc_id",
        F.posexplode(F.split(F.col("text"), " ")).alias("p0", "tok"),
    ).select(
        "doc_id",
        (F.col("p0") + 1).alias("i"),
        F.expr(_hex16("tok")).alias("h"),
    )
    wrun = (
        Window.partitionBy("doc_id")
        .orderBy("i")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    marked = toks.withColumn(
        "chunk_id",
        F.sum((F.col("h") % mod == 0).cast("bigint")).over(wrun),
    )
    return marked.groupBy("doc_id", "chunk_id").agg(
        F.count(F.lit(1)).alias("n_toks"),
        (
            (
                F.sum(F.col("h") * F.col("i"))
                - (F.min("i") - 1) * F.sum("h")
            )
            * 1009
            + F.count(F.lit(1))
        ).alias("sig"),
    )


@op(
    "chunk_dedup_cdc",
    oracle=f"""
WITH {NEAR_CTE},
toks AS (
  SELECT doc_id, i, {_hex16('tok')} AS h FROM (
    SELECT doc_id, i, string_split(text, ' ')[i] AS tok
    FROM (SELECT doc_id, text,
                 unnest(generate_series(1, len(string_split(text, ' '))))
                   AS i
          FROM docs2)
  )
),
marked AS (
  SELECT doc_id, i, h,
         sum(CASE WHEN h % {CDC_MOD} = 0 THEN 1 ELSE 0 END)
           OVER (PARTITION BY doc_id ORDER BY i
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS chunk_id
  FROM toks
),
chunks AS (
  SELECT doc_id, chunk_id,
         count(*) AS n_toks,
         CAST((sum(h * i) - (min(i) - 1) * sum(h)) * 1009 + count(*)
              AS BIGINT) AS sig
  FROM marked GROUP BY doc_id, chunk_id
)
SELECT sig, count(DISTINCT doc_id) AS n_docs, count(*) AS n_occ,
       min(n_toks) AS n_toks
FROM chunks GROUP BY sig HAVING count(DISTINCT doc_id) >= 2
""",
)
def chunk_dedup_cdc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined chunk dedup (the Rabin-fingerprint / LBFS / rsync
    boundary scheme): a token opens a new chunk when its hash ≡ 0 mod
    {CDC_MOD}, so chunk boundaries move WITH the content — edit one
    token and only the chunk containing it changes, unlike fixed-width
    chunking where one insertion shifts every later chunk
    (`exact_substring_dedup` is the fixed-width contrast).  On the
    near-copy corpus every mutated doc re-shares ALL its chunks except
    the final one, which is exactly the cross-doc reuse table reported
    here (chunk signature → how many docs / occurrences carry it).

    The chunk signature is position-weighted integer arithmetic —
    Σh·(i−start+1), closed over the group aggregate as Σh·i −
    (start−1)·Σh — never a string rebuild, so no ordered string-agg
    parity problem exists between engines.

    Scale: tokenize+mark is map-side; chunk ids are a per-doc running
    sum (bounded window state: one counter); the reuse table groups on
    the 8-byte signature — only signatures and counts shuffle, the
    corpus text never does.  This is the storage-dedup shape used on
    multimodal blobs too: the same boundary rule on bytes instead of
    tokens."""
    from esxsnmp_tsdb_spark.session import fan_out

    docs2 = fan_out(_docs_with_near_copies(register_views(spark, sf_dir)["documents"]))
    return (
        cdc_chunk_table(docs2)
        .groupBy("sig")
        .agg(
            F.count_distinct("doc_id").alias("n_docs"),
            F.count(F.lit(1)).alias("n_occ"),
            F.min("n_toks").alias("n_toks"),
        )
        .filter(F.col("n_docs") >= 2)
    )


@op(
    "bpe_merge_pair_step",
    oracle=f"""
WITH toks AS (
  SELECT doc_id, i, string_split(text, ' ')[i] AS tok
  FROM (SELECT doc_id, text,
               unnest(generate_series(1, len(string_split(text, ' '))))
                 AS i
        FROM documents)
),
pairs AS (
  SELECT tok AS left_tok,
         lead(tok) OVER (PARTITION BY doc_id ORDER BY i) AS right_tok
  FROM toks
),
counted AS (
  SELECT left_tok, right_tok, count(*) AS n
  FROM pairs WHERE right_tok IS NOT NULL
  GROUP BY left_tok, right_tok
)
SELECT left_tok, right_tok, n, rank FROM (
  SELECT *, row_number() OVER (
           ORDER BY n DESC, left_tok, right_tok) AS rank
  FROM counted
) WHERE rank <= {BPE_TOP}
""",
)
def bpe_merge_pair_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One BPE-training merge step: count every adjacent token pair in
    the corpus and rank the top {BPE_TOP} merge candidates — the inner
    loop of byte-pair-encoding tokenizer training (the real trainer
    repeats this, applies the winning merge, and recounts; each round
    is exactly this plan).

    Scale: pairing is a per-doc lead() window whose state is one token;
    the count is a partial-aggregated group-by on the pair key; the
    final ranking is `ranked_topk` = TakeOrderedAndProject — k rows per
    partition to the driver, never a global sort.  Ties break on the
    pair text so the merge choice is reproducible run-to-run (a
    nondeterministic tie here would fork the whole tokenizer)."""
    from esxsnmp_tsdb_spark.functions.topk import ranked_topk
    from esxsnmp_tsdb_spark.session import fan_out

    docs = fan_out(register_views(spark, sf_dir)["documents"])
    toks = docs.select(
        "doc_id",
        F.posexplode(F.split(F.col("text"), " ")).alias("p0", "tok"),
    )
    w = Window.partitionBy("doc_id").orderBy("p0")
    pairs = toks.select(
        F.col("tok").alias("left_tok"),
        F.lead("tok").over(w).alias("right_tok"),
    ).filter(F.col("right_tok").isNotNull())
    counted = pairs.groupBy("left_tok", "right_tok").agg(
        F.count(F.lit(1)).alias("n")
    )
    return ranked_topk(
        counted,
        BPE_TOP,
        [F.col("n").desc(), F.col("left_tok"), F.col("right_tok")],
    )


KANON_K = 5  # classes smaller than this re-identify their members
KANON_LEN_BUCKET = 100


@op(
    "privacy_k_anonymity",
    oracle=f"""
WITH classes AS (
  SELECT lang, source, n_chars // {KANON_LEN_BUCKET} AS len_bucket,
         count(*) AS k
  FROM documents GROUP BY lang, source, len_bucket
)
SELECT lang, source, len_bucket, k
FROM classes WHERE k < {KANON_K}
""",
)
def privacy_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-anonymity screen over the release quasi-identifiers: group the
    corpus by (lang, source, length-bucket) and report every
    equivalence class smaller than k={KANON_K} — the classes where
    publishing per-document metadata re-identifies the document (the
    governance gate a dataset release runs before shipping metadata
    alongside text; `pii_scrub_stats` handles the content, this handles
    the METADATA side channel).

    Scale: one partial-aggregated group-by on the quasi-identifier
    tuple — counts shuffle, documents don't; the report is
    classes-sized.  The fix loop (generalize the bucket, re-screen) is
    re-running this op with a coarser KANON_LEN_BUCKET."""
    docs = register_views(spark, sf_dir)["documents"]
    return (
        docs.groupBy(
            "lang",
            "source",
            F.expr(f"n_chars div {KANON_LEN_BUCKET}").alias("len_bucket"),
        )
        .agg(F.count(F.lit(1)).alias("k"))
        .filter(F.col("k") < KANON_K)
    )


HARDNEG_TOP = 3  # negatives mined per anchor


@op(
    "mine_hard_negatives",
    oracle=f"""
WITH e AS (SELECT vec_id, label, embedding, len(embedding) AS d
           FROM embeddings),
c AS (SELECT vec_id AS cid, embedding AS cv, d AS cd FROM e
      WHERE vec_id % {CELL_SEED_MOD} = 0),
{assign_cte('e', 'assigned', extra=('label',))},
cand AS (
  SELECT a.vec_id AS anchor_id, b.vec_id AS neg_id,
         round({_COS_AB}, 6) AS cos
  FROM assigned a JOIN assigned b
    ON a.cid = b.cid AND a.label != b.label AND a.vec_id != b.vec_id
)
SELECT anchor_id, neg_id, cos, rank FROM (
  SELECT *, row_number() OVER (PARTITION BY anchor_id
                               ORDER BY cos DESC, neg_id) AS rank
  FROM cand
) WHERE rank <= {HARDNEG_TOP}
""",
)
def mine_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining for contrastive training: for every anchor
    vector, the {HARDNEG_TOP} most-similar vectors with a DIFFERENT
    label — the near-misses that actually teach an embedding model its
    decision boundary (random negatives are trivially separable and
    contribute ~zero gradient).  Selection ranks on the ROUNDED cosine
    with vec_id tiebreak so the mined pair set is reproducible
    run-to-run — a nondeterministic pair set would make training runs
    unrepeatable.

    Scale: candidates come from the IVF cell blocker (same coarse cell,
    different label), NOT an all-pairs sweep — exactly where hard
    negatives live, since same-cell vectors are the similar ones; the
    per-anchor top-k is a window partitioned by anchor (never global).
    At 100 TB the cell assignment is the ingest-persisted partition key
    and mining runs cell-by-cell, embarrassingly parallel."""
    e = register_views(spark, sf_dir)["embeddings"].select(
        "vec_id",
        "label",
        "embedding",
        norm(_dbl(F.col("embedding"))).alias("nrm"),
    )
    # both self-join sides read the checkpointed assignment — one N×K
    # centroid scoring, not two (the ingest-persisted cell table at scale).
    # The double-cast is hoisted INTO the checkpoint:
    # one O(d) transform per vector instead of two per candidate pair,
    # bit-identical values (float→double is exact).
    assigned = (
        _assign_cells(e)
        .select(
            "vec_id", "label", _dbl(F.col("embedding")).alias("v"), "nrm", "cid"
        )
        .localCheckpoint()
    )
    a = assigned.alias("a")
    b = assigned.alias("b")
    cos = F.round(
        dot(F.col("a.v"), F.col("b.v"))
        / (F.col("a.nrm") * F.col("b.nrm")),
        6,
    )
    cand = a.join(
        b,
        (F.col("a.cid") == F.col("b.cid"))
        & (F.col("a.label") != F.col("b.label"))
        & (F.col("a.vec_id") != F.col("b.vec_id")),
    ).select(
        F.col("a.vec_id").alias("anchor_id"),
        F.col("b.vec_id").alias("neg_id"),
        cos.alias("cos"),
    )
    wr = Window.partitionBy("anchor_id").orderBy(
        F.col("cos").desc(), "neg_id"
    )
    return (
        cand.withColumn("rank", F.row_number().over(wr).cast("bigint"))
        .filter(F.col("rank") <= HARDNEG_TOP)
        .select("anchor_id", "neg_id", "cos", "rank")
    )


# Target language mix for the training run, in ppm of the token budget
# (powers-of-two-ish shares so the table reads like a real mixture
# recipe; any set summing to 1e6 works).
MIX_TARGET_PPM = {
    "en": 500_000,
    "de": 150_000,
    "fr": 150_000,
    "es": 120_000,
    "zh": 80_000,
}
_MIX_VALUES = ", ".join(
    f"('{lang}', {ppm})" for lang, ppm in sorted(MIX_TARGET_PPM.items())
)
MIX_BUDGET_TOKENS = 1_000_000  # total training-token budget


@op(
    "dataset_mixture_epochs",
    oracle=f"""
WITH tgt(lang, target_ppm) AS (VALUES {_MIX_VALUES}),
have AS (
  SELECT lang, CAST(sum(len(string_split(text, ' '))) AS BIGINT)
           AS n_tokens
  FROM documents GROUP BY lang
)
SELECT t.lang, COALESCE(h.n_tokens, 0) AS n_tokens, t.target_ppm,
       CAST(t.target_ppm AS BIGINT) * {MIX_BUDGET_TOKENS} // 1000000
         AS target_tokens,
       CASE WHEN COALESCE(h.n_tokens, 0) > 0
            THEN CAST({half_up_div(f'CAST(t.target_ppm AS BIGINT) * {MIX_BUDGET_TOKENS} // 1000000', 'h.n_tokens', mul=1_000_000, idiv='//')} AS BIGINT)
            END AS epochs_ppm
FROM tgt t LEFT JOIN have h ON h.lang = t.lang
""",
)
def dataset_mixture_epochs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The data-mixture epochs table: given a target language mix (ppm
    of a fixed training-token budget) and the tokens actually available
    per language, how many passes over each language's data the sampler
    must take — epochs_ppm > 1e6 means UPSAMPLING (repeat data, the
    low-resource-language regime), < 1e6 means subsampling (the
    `sample_importance_weighted` / `sample_token_budget` regime).  This
    is the table a pretraining run's §"data" section publishes.

    All arithmetic is half-up integer ppm over exact token counts — the
    recipe is reproducible to the token.  The join runs FROM the target
    table (left join onto availability): a target language with zero
    corpus tokens must surface as an n_tokens = 0 / NULL-epochs row —
    an unallocatable share of the budget is a finding, not a row to
    drop silently.  Scale: one aggregate per language over the corpus;
    the target table is a broadcast literal; output is |languages|
    rows."""
    docs = register_views(spark, sf_dir)["documents"]
    tgt = local_frame(
        spark, sorted(MIX_TARGET_PPM.items()), "lang string, target_ppm int"
    )
    have = docs.groupBy("lang").agg(
        F.sum(F.size(F.split("text", " "))).cast("bigint").alias("n_tokens")
    )
    return (
        # broadcast the aggregate (the BUILD side of the left join —
        # the preserved target side can't build)
        tgt.join(F.broadcast(have), "lang", "left")
        .withColumn(
            "n_tokens", F.coalesce(F.col("n_tokens"), F.lit(0).cast("bigint"))
        )
        .withColumn(
            "target_tokens",
            F.expr(
                f"CAST(target_ppm AS BIGINT) * {MIX_BUDGET_TOKENS}"
                " div 1000000"
            ),
        )
        .select(
            "lang",
            "n_tokens",
            "target_ppm",
            "target_tokens",
            F.expr(
                "CASE WHEN n_tokens > 0 THEN CAST("
                + half_up_div("target_tokens", "n_tokens", mul=1_000_000)
                + " AS BIGINT) END"
            ).alias("epochs_ppm"),
        )
    )


OOD_TAU = 0.1  # best-centroid cosine below this = out-of-distribution


@op(
    "doc_semantic_outliers",
    oracle=f"""
WITH e AS (SELECT vec_id, embedding, len(embedding) AS d FROM embeddings),
c AS (SELECT vec_id AS cid, embedding AS cv, d AS cd FROM e
      WHERE vec_id % {CELL_SEED_MOD} = 0),
best AS (
  SELECT vec_id, cid AS best_cid, best_cos FROM (
    SELECT e.vec_id, c.cid,
           round({DOT_SQL.format(d='e.d', a='e.embedding', b='c.cv')} /
                 (sqrt({DOT_SQL.format(d='e.d', a='e.embedding',
                                       b='e.embedding')}) *
                  sqrt({DOT_SQL.format(d='c.cd', a='c.cv', b='c.cv')})),
                 6) AS best_cos,
           row_number() OVER (
             PARTITION BY e.vec_id
             ORDER BY {DOT_SQL.format(d='e.d', a='e.embedding', b='c.cv')} /
                      (sqrt({DOT_SQL.format(d='e.d', a='e.embedding',
                                            b='e.embedding')}) *
                       sqrt({DOT_SQL.format(d='c.cd', a='c.cv', b='c.cv')}))
                      DESC, c.cid) AS rn
    FROM e CROSS JOIN c
  ) WHERE rn = 1
)
SELECT vec_id, best_cid, best_cos
FROM best WHERE best_cos < {OOD_TAU}
""",
)
def doc_semantic_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Out-of-distribution screen on the embedding corpus: vectors whose
    BEST coarse-centroid cosine is still below τ sit in no cluster's
    direction at all — the mis-embedded / off-domain / garbage-input
    rows a curation run quarantines before they seed a cluster of their
    own (`embedding_norm_outliers` catches magnitude pathologies; this
    catches directional ones).  The in/out decision compares the
    ROUNDED best cosine on both engines.

    Scale: the scoring is the same corpus × broadcast-centroid fan-out
    every IVF op pays at ingest — at 100 TB this screen is a free
    by-product of cell assignment (the argmax is already computed; the
    outlier bit is one comparison on it)."""
    e = register_views(spark, sf_dir)["embeddings"].select(
        "vec_id", "embedding", norm(_dbl(F.col("embedding"))).alias("nrm")
    )
    return (
        _assign_cells(e)
        .select(
            "vec_id",
            F.col("cid").alias("best_cid"),
            F.round("best_cos", 6).alias("best_cos"),
        )
        .filter(F.col("best_cos") < OOD_TAU)
    )
