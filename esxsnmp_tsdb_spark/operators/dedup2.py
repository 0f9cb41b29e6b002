"""§2.5 dedup, batch 2: INCREMENTAL dedup against ingest-persisted
indexes — the continuous-ingestion posture the batch dedup family
promises in its docstrings, made real (mirrors how the ANN family got
`sim_search_ivf_pq_indexed` / `sim_search_lsh_indexed`).

At 100 TB a corpus is not re-deduped per arriving batch: the standing
corpus's MinHash signatures (text) and cell-partitioned embeddings
(semantic) persist at ingest, and an arriving batch is checked AGAINST
the index at batch-proportional cost — batch shingle/assign pass + one
equi-join whose corpus side is an index read, never a corpus recompute.

The "arriving batch" is the manufactured near-copy half of the dedup
fixtures (`dedup.NEAR_CTE` / `curation8.EMB_NEAR_CTE` mutations), so
every batch row has a true match in the standing corpus and the hit
tables carry real signal.  Oracles recompute both sides from raw in
DuckDB — persistence must not change a single pair.
"""

from __future__ import annotations

import math
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from esxsnmp_tsdb_spark.functions.vector import dot, norm
from esxsnmp_tsdb_spark.operators._workdirs import fixture_dir, op_dir
from esxsnmp_tsdb_spark.operators.curation8 import (
    CELL_SEED_MOD,
    DOT_SQL,
    EMB_NEAR_BATCH_SQL,
    SEM_TAU,
    _assign_to,
    _cell_seeds,
    _dbl,
    _emb_near_batch,
    assign_cte,
)
from esxsnmp_tsdb_spark.operators.dedup import (
    NEAR_BATCH_SQL,
    SHINGLE_K,
    _minhash_sigs,
    _near_batch,
    _shingled,
    near_batch_sql,
    shingle_sql,
    sigs_sql,
)
from esxsnmp_tsdb_spark.operators.similarity import BATCH_Q_MOD
from esxsnmp_tsdb_spark.registry import op
from esxsnmp_tsdb_spark.sources import register_views
from esxsnmp_tsdb_spark.sources.catalog import fixture_memo


# The manufactured "arriving batch", as a reusable CTE — the SAME
# drop-last-token mutation as `dedup.NEAR_CTE`'s second arm (SQL twin of
# `dedup._near_batch`, single-sourced there).
BATCH_CTE = f"""batch AS (
  {NEAR_BATCH_SQL}
)"""


# --- MinHash signature index --------------------------------------------

def build_minhash_index(spark: SparkSession, sf_dir: str) -> str:
    """The ingest-persisted MinHash signature index for the STANDING
    corpus (original documents, no manufactured copies): (doc_id, sig)
    written PARTITIONED BY band — |docs|×{N_BANDS} bigint rows, the
    whole shingle+hash corpus pass paid once per ``documents`` stamp
    (``fixture_memo``).  A band-partitioned layout keeps each probe join
    reading only the partitions its band keys touch."""

    def build() -> str:
        root = fixture_dir("minhash_index", sf_dir)
        corpus = register_views(spark, sf_dir)["documents"].select("doc_id", "text")
        # (16 band dirs × writer tasks is a healthy file count at every
        # scale — unlike the per-cell members write below, which needs the
        # explicit repartition to avoid tasks × cells slivers)
        _minhash_sigs(_shingled(corpus)).write.mode("overwrite").partitionBy(
            "band"
        ).parquet(os.path.join(root, "sigs"))
        return root

    return fixture_memo(spark, "minhash_index", sf_dir, ("documents",), build)


@op(
    "dedup_minhash_indexed",
    oracle=f"""
WITH corpus AS (SELECT doc_id, text FROM documents),
{BATCH_CTE},
{shingle_sql(SHINGLE_K, 'corpus', 'cor_sh', materialized=True)},
{sigs_sql('cor_sh', 'cor_sigs', materialized=True)},
{shingle_sql(SHINGLE_K, 'batch', 'bat_sh', materialized=True)},
{sigs_sql('bat_sh', 'bat_sigs', materialized=True)}
SELECT DISTINCT b.doc_id AS new_id, c.doc_id AS match_id
FROM bat_sigs b JOIN cor_sigs c ON b.band = c.band AND b.sig = c.sig
""",
)
def dedup_minhash_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup hits of an ARRIVING batch against the standing corpus,
    answered from the ingest-persisted signature index
    (`build_minhash_index`) — incremental `dedup_near_minhash`.

    Query cost is batch-proportional: one shingle+minhash pass over the
    batch (the drop-last-token near-copy fixture), then a (band, sig)
    equi-join whose corpus side is a READ of the persisted index — the
    corpus text is never re-shingled (plan-asserted: documents.parquet
    is scanned once, for the batch side only).  At 100 TB the index is
    |docs|×{N_BANDS} bigint rows next to a corpus-scale shingle pass,
    and appending the batch's own signatures keeps it current."""
    return minhash_index_hits(spark, sf_dir)


def minhash_index_hits(
    spark: SparkSession,
    sf_dir: str,
    batch_docs: DataFrame | None = None,
    broadcast_batch: bool = False,
) -> DataFrame:
    """Library form of `dedup_minhash_indexed`: probe ``sf_dir``'s
    persisted signature index with the near-copy batch manufactured from
    ``batch_docs`` (default: the corpus itself, the oracle's shape).
    The scaling probe's ``--batch-fixed`` mode passes the 1× fixture here
    while ``sf_dir`` scales — the real incremental-ingest shape, where
    probe cost must track the BATCH, not the corpus.

    ``broadcast_batch`` pins the join shape for a SMALL arriving batch:
    broadcast the batch signatures and stream the index, so the index is
    never shuffled no matter how large it grows (the planner cannot know
    the derived batch is tiny; without the hint it broadcasts the INDEX
    at small scale and flips to shuffling both sides once the index
    outgrows the threshold — an exchange count that changes with corpus
    size).  The default (False) keeps the planner's choice, which is
    right for the oracle's corpus-sized batch shape."""
    root = build_minhash_index(spark, sf_dir)
    src = (
        batch_docs
        if batch_docs is not None
        else register_views(spark, sf_dir)["documents"]
    )
    batch = _near_batch(src)
    bat_sigs = _minhash_sigs(_shingled(batch)).select(
        F.col("doc_id").alias("new_id"), "band", "sig"
    )
    if broadcast_batch:
        bat_sigs = F.broadcast(bat_sigs)
    idx = spark.read.parquet(os.path.join(root, "sigs")).select(
        F.col("doc_id").alias("match_id"), "band", "sig"
    )
    return bat_sigs.join(idx, ["band", "sig"]).select("new_id", "match_id").distinct()


@op(
    "dedup_minhash_indexed_smallbatch",
    oracle=f"""
WITH corpus AS (SELECT doc_id, text FROM documents),
batch AS (
  {near_batch_sql(f'(SELECT doc_id, text FROM documents'
                  f' WHERE doc_id % {BATCH_Q_MOD} = 3)')}
),
{shingle_sql(SHINGLE_K, 'corpus', 'cor_sh', materialized=True)},
{sigs_sql('cor_sh', 'cor_sigs', materialized=True)},
{shingle_sql(SHINGLE_K, 'batch', 'bat_sh', materialized=True)},
{sigs_sql('bat_sh', 'bat_sigs', materialized=True)}
SELECT DISTINCT b.doc_id AS new_id, c.doc_id AS match_id
FROM bat_sigs b JOIN cor_sigs c ON b.band = c.band AND b.sig = c.sig
""",
)
def dedup_minhash_indexed_smallbatch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`dedup_minhash_indexed` in the SMALL-arriving-batch shape — the
    steady-state of continuous ingestion, where each batch is a sliver
    of the standing corpus (here the ~1% `doc_id % {BATCH_Q_MOD} == 3`
    slice, the deterministic-batch convention `similarity.BATCH_Q_MOD`
    established, mutated by the same drop-last-token template).

    What the registered default cannot pin, this op does: with
    ``broadcast_batch=True`` the batch signatures BROADCAST and the
    persisted index streams map-side through the (band, sig) hash join,
    so the index side is NEVER exchanged — an invariant that holds no
    matter how large the corpus grows (plan-asserted: no
    hashpartitioning(band, …) exchange; the only shuffle is the
    batch-proportional DISTINCT on the hits).  Without the hint the
    planner broadcasts the INDEX at small scale and flips to shuffling
    both sides once the index outgrows the threshold — the measured r8
    failure mode the `broadcast_batch` pin exists to prevent.  The
    batch-fixed scaling probe (docs/SCALING_r08.json `batch_fixed`
    minhash: 10× corpus → 0.95× probe wall, exchanges 6=6) is this op's
    shape held at two corpus scales."""
    docs = register_views(spark, sf_dir)["documents"].select("doc_id", "text")
    small = docs.filter(F.col("doc_id") % BATCH_Q_MOD == 3)
    return minhash_index_hits(
        spark, sf_dir, batch_docs=small, broadcast_batch=True
    )


# --- Semantic cell index ------------------------------------------------

def build_semantic_cell_index(
    spark: SparkSession, sf_dir: str, seed_mod: int | None = None
) -> str:
    """The ingest-persisted semantic dedup index for the STANDING corpus
    (original embeddings): the coarse centroids (catalog-sized,
    `centroids/`) and every corpus vector with its cell assignment,
    written PARTITIONED BY cid (`members/`) — the layout
    `dedup_semantic_cells`' docstring promises at ingest time, shared
    geometry via `curation8._assign_cells`.  Built once per
    ``embeddings`` stamp (``fixture_memo``).

    ``seed_mod`` overrides the cell-seeding stride (default
    `curation8.CELL_SEED_MOD`, the oracle-static convention).  A growing
    corpus should pass ``CELL_SEED_MOD × √(growth)`` so the cell count
    follows the √N deployment rule (docs/CLUSTER.md); each stride gets
    its own index directory."""
    suffix = "" if seed_mod in (None, CELL_SEED_MOD) else f"__m{seed_mod}"

    def build() -> str:
        root = fixture_dir("semcell_index", sf_dir, suffix)
        e = register_views(spark, sf_dir)["embeddings"].select(
            "vec_id", "embedding", norm(_dbl(F.col("embedding"))).alias("nrm")
        )
        _cell_seeds(e, seed_mod or CELL_SEED_MOD).write.mode(
            "overwrite"
        ).parquet(os.path.join(root, "centroids"))
        # assign against the just-written centroids so the members job
        # broadcasts a parquet read instead of re-deriving the seed
        # lineage (a second corpus scan)
        cent = spark.read.parquet(os.path.join(root, "centroids"))
        # repartition BY cid before the partitioned write: without it every
        # upstream task writes a sliver into every cell directory (tasks ×
        # cells tiny files — measured 10× scan-task overhead at a 10×
        # corpus); with it each cell is one file, and a DPP-pruned probe
        # read opens only the touched cells' files.
        _assign_to(e, cent).select(
            "vec_id", "embedding", "nrm", "cid"
        ).repartition(F.col("cid")).write.mode("overwrite").partitionBy(
            "cid"
        ).parquet(os.path.join(root, "members"))
        return root

    return fixture_memo(
        spark, "semcell_index" + suffix, sf_dir, ("embeddings",), build
    )


@op(
    "dedup_semantic_indexed",
    oracle=f"""
WITH e AS (
  SELECT vec_id, embedding, len(embedding) AS d FROM embeddings
),
c AS (SELECT vec_id AS cid, embedding AS cv, d AS cd FROM e
      WHERE vec_id % {CELL_SEED_MOD} = 0),
{assign_cte('e', 'assigned')},
batch AS (
  SELECT vec_id, embedding, len(embedding) AS d
  FROM ({EMB_NEAR_BATCH_SQL})
),
{assign_cte('batch', 'bassigned')}
SELECT b.vec_id AS new_id, m.vec_id AS dup_of, b.cid AS cid,
       round({DOT_SQL.format(d='b.d', a='b.embedding', b='m.embedding')} /
             (sqrt({DOT_SQL.format(d='b.d', a='b.embedding',
                                   b='b.embedding')}) *
              sqrt({DOT_SQL.format(d='m.d', a='m.embedding',
                                   b='m.embedding')})), 6) AS cos
FROM bassigned b
JOIN assigned m ON m.cid = b.cid
WHERE {DOT_SQL.format(d='b.d', a='b.embedding', b='m.embedding')} /
      (sqrt({DOT_SQL.format(d='b.d', a='b.embedding', b='b.embedding')}) *
       sqrt({DOT_SQL.format(d='m.d', a='m.embedding', b='m.embedding')}))
      >= {SEM_TAU}
""",
)
def dedup_semantic_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic near-dup hits of an ARRIVING embedding batch against the
    standing corpus, answered from the ingest-persisted cell index
    (`build_semantic_cell_index`) — incremental `dedup_semantic_cells`.

    Query cost is batch-proportional: route each batch vector to its
    cell with ONE broadcast pass over the O(C) persisted centroids
    (map-side `max_by` argmax), then compare against ONLY that cell's
    persisted members via a cid equi-join — the corpus-wide pairwise
    square never materializes, and the corpus assignment pass is never
    re-run (plan-asserted: embeddings.parquet is scanned once, for the
    batch side only).  Cosines ride the exact sequential fold, matching
    the DuckDB oracle digit-for-digit; τ={SEM_TAU} sits far from every
    natural fixture cosine (≤0.48) and every planted copy (≈0.99), so
    the threshold is decided with wide margin.  The batch is the
    zero-last-component near-copy fixture, so every arriving vector has
    a true match to find."""
    return semantic_index_hits(spark, sf_dir)


def semantic_index_hits(
    spark: SparkSession,
    sf_dir: str,
    batch_emb: DataFrame | None = None,
    broadcast_batch: bool = False,
    seed_mod: int | None = None,
) -> DataFrame:
    """Library form of `dedup_semantic_indexed`: probe ``sf_dir``'s
    persisted cell index with the near-copy batch manufactured from
    ``batch_emb`` (default: the corpus itself, the oracle's shape).  The
    scaling probe's ``--batch-fixed`` mode passes the 1× fixture while
    ``sf_dir`` scales — batch constant, corpus/index growing.

    ``broadcast_batch`` pins the small-arriving-batch join shape (see
    `minhash_index_hits`): broadcast the assigned batch, stream the
    members read — which also hands DPP a broadcast-side subquery to
    prune the cell-partitioned members scan to the touched cells.
    ``seed_mod`` forwards to `build_semantic_cell_index` (√N sizing)."""
    root = build_semantic_cell_index(spark, sf_dir, seed_mod=seed_mod)
    e = (
        batch_emb
        if batch_emb is not None
        else register_views(spark, sf_dir)["embeddings"]
    )
    batch = _emb_near_batch(e).withColumn("nrm", norm(_dbl(F.col("embedding"))))
    cent = spark.read.parquet(os.path.join(root, "centroids"))
    bassigned = _assign_to(batch, cent).select(
        F.col("vec_id").alias("new_id"),
        _dbl(F.col("embedding")).alias("bv"),
        F.col("nrm").alias("bnrm"),
        "cid",
    )
    if broadcast_batch:
        bassigned = F.broadcast(bassigned)
    # Double-cast hoisted to the per-MEMBER projection:
    # the index stores float arrays (half the bytes on disk); the cast to
    # double runs once per member row below the join instead of once per
    # (batch, member) candidate pair.  And cos is projected ONCE before
    # the τ filter — the old filter-then-round shape evaluated the dot
    # fold twice per pair (Filter and Project each carried the full
    # expression; codegen does not CSE across those operators).
    members = spark.read.parquet(os.path.join(root, "members")).select(
        F.col("vec_id").alias("dup_of"),
        _dbl(F.col("embedding")).alias("mv"),
        F.col("nrm").alias("mnrm"),
        "cid",
    )
    cos = dot(F.col("bv"), F.col("mv")) / (
        F.col("bnrm") * F.col("mnrm")
    )
    return (
        bassigned.join(members, "cid")
        .select("new_id", "dup_of", "cid", cos.alias("cos_raw"))
        .filter(F.col("cos_raw") >= SEM_TAU)
        .select(
            "new_id",
            "dup_of",
            "cid",
            F.round("cos_raw", 6).alias("cos"),
        )
    )


def sqrtn_stride(spark: SparkSession, sf_dir: str) -> int:
    """The √N cell-seeding stride for ``sf_dir``'s embedding corpus:
    ``ceil(√N)``, so cell count ≈ corpus size / √N ≈ √N — the sizing
    that keeps the probe cost term Θ(C) + Θ(N/C) at its minimum as the
    corpus grows (docs/CLUSTER.md).  The census is one scalar COUNT to
    the driver (parquet-metadata cheap), the same bounded-metadata class
    as the dynamic-partition target lists — an ingest job knows its
    corpus size.  Memoized per session and ``embeddings`` stamp, so
    repeated invocations skip the census until the table is rewritten."""

    def census() -> int:
        n = register_views(spark, sf_dir)["embeddings"].count()
        return max(1, math.ceil(math.sqrt(n)))

    return fixture_memo(spark, "sqrtn_stride", sf_dir, ("embeddings",), census)


@op(
    "dedup_semantic_indexed_sqrtn",
    oracle=f"""
WITH n AS (
  SELECT greatest(1, CAST(ceil(sqrt(count(*))) AS BIGINT)) AS stride
  FROM embeddings
),
e AS (
  SELECT vec_id, embedding, len(embedding) AS d FROM embeddings
),
c AS (SELECT vec_id AS cid, embedding AS cv, d AS cd FROM e
      WHERE vec_id % (SELECT stride FROM n) = 0),
{assign_cte('e', 'assigned')},
batch AS (
  SELECT vec_id, embedding, len(embedding) AS d
  FROM ({EMB_NEAR_BATCH_SQL})
),
{assign_cte('batch', 'bassigned')}
SELECT b.vec_id AS new_id, m.vec_id AS dup_of, b.cid AS cid,
       round({DOT_SQL.format(d='b.d', a='b.embedding', b='m.embedding')} /
             (sqrt({DOT_SQL.format(d='b.d', a='b.embedding',
                                   b='b.embedding')}) *
              sqrt({DOT_SQL.format(d='m.d', a='m.embedding',
                                   b='m.embedding')})), 6) AS cos
FROM bassigned b
JOIN assigned m ON m.cid = b.cid
WHERE {DOT_SQL.format(d='b.d', a='b.embedding', b='m.embedding')} /
      (sqrt({DOT_SQL.format(d='b.d', a='b.embedding', b='b.embedding')}) *
       sqrt({DOT_SQL.format(d='m.d', a='m.embedding', b='m.embedding')}))
      >= {SEM_TAU}
""",
)
def dedup_semantic_indexed_sqrtn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`dedup_semantic_indexed` under the √N cell-sizing DEPLOYMENT rule
    instead of the oracle-static mod-{CELL_SEED_MOD} convention: the
    index is seeded at stride ``ceil(√N)`` (`sqrtn_stride`), so cell
    count grows as √N — not ∝ N — and the batch-side centroid
    assignment term (batch × C) stays sub-linear as the corpus grows.
    This is the registered form of the r8-measured gap: at a 100×
    corpus, a fixed batch probes the mod-50 index at 6.54× the 1× wall
    (cells ∝ N) but the √N-seeded index at ~1.9×
    (docs/SCALING_r08.json `embeddings_factor100`); the static-stride
    sibling stays registered as the oracle-convention twin, this op is
    the shape a 100 TB deployment runs.

    The oracle derives the SAME stride non-statically — a DuckDB scalar
    subquery ``vec_id % (SELECT ceil(sqrt(count(*))) …) = 0`` — so
    correctness is attested at whatever size the fixture has, not at a
    hard-coded modulus: both engines compute ``ceil`` of an IEEE-754
    correctly-rounded ``sqrt`` of the same integer census, which is
    deterministic and identical.  Everything else (argmax-cosine
    assignment, exact sequential cosine fold, τ={SEM_TAU} margin,
    near-copy arriving batch) is shared with `dedup_semantic_indexed`
    via `semantic_index_hits` / `assign_cte`."""
    return semantic_index_hits(
        spark, sf_dir, seed_mod=sqrtn_stride(spark, sf_dir)
    )


# --- Streaming twin: probe AND maintain the signature index -------------

@op(
    "stream_dedup_indexed",
    oracle=f"""
WITH corpus AS (SELECT doc_id, text FROM documents),
{BATCH_CTE},
{shingle_sql(SHINGLE_K, 'corpus', 'cor_sh', materialized=True)},
{sigs_sql('cor_sh', 'cor_sigs', materialized=True)},
{shingle_sql(SHINGLE_K, 'batch', 'bat_sh', materialized=True)},
{sigs_sql('bat_sh', 'bat_sigs', materialized=True)},
targets AS (
  SELECT doc_id, band, sig, -1 AS part FROM cor_sigs
  UNION ALL
  SELECT doc_id, band, sig, CAST(doc_id % 3 AS INT) AS part FROM bat_sigs
)
SELECT DISTINCT b.doc_id AS new_id, t.doc_id AS match_id
FROM bat_sigs b
JOIN targets t ON t.band = b.band AND t.sig = b.sig
              AND t.part < CAST(b.doc_id % 3 AS INT)
""",
)
def stream_dedup_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of `dedup_minhash_indexed` that also MAINTAINS the
    index: each arriving micro-batch is (1) probed against the standing
    corpus index PLUS every previously appended batch's signatures, and
    (2) its own signatures are appended, so later batches dedup against
    earlier ones — the continuous-ingestion loop the batch op's
    docstring promises ("appending the batch's own signatures keeps it
    current"), run for real over three staged slices of the near-copy
    batch (split on doc_id % 3, mtime-pinned for delivery order).

    Replay safety follows the `stream_replay_exactly_once` recipe: both
    the per-epoch hit table and the per-epoch signature append land in
    ``.../epoch=<id>`` directories with mode=overwrite, so a re-
    delivered micro-batch overwrites its own artifacts and changes
    nothing — probe inputs (corpus index + EARLIER epochs only) are
    unaffected by a retry of the current epoch.  Batch-twin oracle: the
    hit set equals the one-shot SQL where a batch row's probe targets
    are the corpus plus strictly-earlier parts."""
    from esxsnmp_tsdb_spark.streaming import drive, stage_ordered_slices

    root = build_minhash_index(spark, sf_dir)
    out = op_dir("stream_dedup_indexed")
    src = os.path.join(out, "src")
    hits_dir = os.path.join(out, "hits")
    appended_dir = os.path.join(out, "appended")

    batch = _near_batch(register_views(spark, sf_dir)["documents"])
    # delivery order is load-bearing (later batches probe earlier ones'
    # appended signatures) — the shared stager pins increasing mtimes
    stage_ordered_slices(
        [batch.filter(F.col("doc_id") % 3 == part) for part in range(3)], src
    )

    corpus_idx = spark.read.parquet(os.path.join(root, "sigs")).select(
        F.col("doc_id").alias("match_id"), "band", "sig"
    )

    def probe_and_append(bdf: DataFrame, epoch_id: int) -> None:
        # two consumers (hits write + index append) — checkpoint so the
        # shingle+md5+min pass runs once per micro-batch
        bsigs = (
            _minhash_sigs(_shingled(bdf))
            .select(F.col("doc_id").alias("new_id"), "band", "sig")
            .localCheckpoint()
        )
        targets = corpus_idx
        if os.path.isdir(appended_dir):
            # strictly-earlier epochs only: a RETRIED epoch must not probe
            # its own failed attempt's append (self-matches would differ
            # between first delivery and replay)
            targets = targets.unionByName(
                spark.read.parquet(appended_dir)
                .filter(F.col("epoch") < epoch_id)
                .select(F.col("doc_id").alias("match_id"), "band", "sig")
            )
        hits = (
            bsigs.join(targets, ["band", "sig"])
            .select("new_id", "match_id")
            .distinct()
        )
        hits.write.mode("overwrite").parquet(
            os.path.join(hits_dir, f"epoch={epoch_id}")
        )
        bsigs.select(
            F.col("new_id").alias("doc_id"), "band", "sig"
        ).write.mode("overwrite").parquet(
            os.path.join(appended_dir, f"epoch={epoch_id}")
        )

    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(src + "/part=*")
    )
    drive(stream, probe_and_append, os.path.join(out, "ckpt"))
    return spark.read.parquet(hits_dir).select("new_id", "match_id")
