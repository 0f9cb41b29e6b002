"""§2.5 multimodal columns (EXT): image/audio/video as opaque ``binary``
columns with typed metadata; decode / feature-extract / frame-sample as
Arrow-batched Pandas UDFs over ``mapInPandas``.

The container has no image/audio libraries (build constraint), so the
actual codec step is STUBBED: ``decode_image_real`` raises
``NotImplementedError`` and the registered operator uses a deterministic
fake decode (byte stats) instead.  Everything Spark-side — binary schema,
``mapInPandas`` batch iteration, Arrow transfer, output schema — is real
and oracle-checked: the fake features are re-derivable in SQL, so the
oracle proves the Python batch path computes exactly what it claims.

Scale: ``mapInPandas`` streams Arrow batches per partition — memory is
bounded by batch size (``spark.sql.execution.arrow.maxRecordsPerBatch``),
not partition size, which is what makes Python feature extraction viable
next to 100 TB of blobs.  Real blob storage would keep bytes out-of-line
(parquet BYTE_ARRAY with a size/offset manifest) and partition by content
shard.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from esxsnmp_tsdb_spark.registry import op
from esxsnmp_tsdb_spark.sources import register_views

FRAME_STEP = 7  # sample every 7th fake video frame

# Decoded blob bytes per parquet byte (utf-8 text vs compressed column),
# used to size the Python-boundary stage by real batch volume.
_DECODE_EXPANSION = 8


def _size_bytes(conf_val: str) -> int:
    """Parse a Spark size conf ('4m', '128m', '1g', plain bytes)."""
    s = conf_val.strip().lower()
    mult = {"k": 1 << 10, "m": 1 << 20, "g": 1 << 30, "b": 1}
    if s and s[-1] in mult:
        return int(float(s[:-1] or 0) * mult[s[-1]])
    return int(s)


def _blob_fan_out(spark, sf_dir: str, df):
    """Fan the blob stream out for the Python boundary with a width the
    INPUT VOLUME justifies (scale-adaptive partitioning, not a
    constant tuned for local mode): one Arrow task per
    ``spark.sql.files.maxPartitionBytes`` of decoded blob bytes, capped
    at the session's parallelism.

    Root cause this fixes (multimodal_decode ran FASTER on 8 cores
    than 32): the fixture corpus arrives as ONE scan
    split and the unconditional ``fan_out`` sliced it into 32 ~150-row
    Arrow tasks whose per-task Python worker/Arrow round-trip overhead
    dominated the trivial per-row work (A/B at sf0.1: 32-way 0.42 s,
    width-adaptive 0.22-0.31 s).  At 100 TB the same formula saturates
    the cluster cap, so nothing changes where parallelism is real."""
    import math

    from esxsnmp_tsdb_spark.sources.catalog import _table_stamp

    raw = _table_stamp(sf_dir, "documents")[0]
    target = _size_bytes(
        spark.conf.get("spark.sql.files.maxPartitionBytes", "128m")
    )
    cap = int(spark.conf.get("spark.sql.shuffle.partitions"))
    # Floor 2, never 1: a deliberate single-partition funnel of raw rows
    # is exactly what the plan-hygiene gate (tests/test_plan_audit.py,
    # bench plan_violations) exists to refuse.
    n = max(2, min(cap, math.ceil(raw * _DECODE_EXPANSION / max(target, 1))))
    return df.repartition(n)


def decode_image_real(blob: bytes) -> "object":
    """Real decode would use PIL/libvips — not present in this container.

    Kept as the single, clearly-marked seam: swap this implementation and
    ``_decode_batch`` below feeds real pixel features through the same
    Spark plumbing unchanged.
    """
    raise NotImplementedError(
        "image codec libraries are not available in this environment; "
        "use the deterministic fake decode (multimodal_decode_features)"
    )


def _decode_batch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Deterministic fake 'decode': per-blob byte statistics.

    Runs on executors over Arrow batches (the real Pandas path) — one
    pandas pass per batch, no per-row Python.
    """
    for pdf in batches:
        blobs = pdf["img"]
        yield pd.DataFrame(
            {
                "doc_id": pdf["doc_id"],
                "byte_len": blobs.map(len).astype("int64"),
                "first_byte": blobs.map(lambda b: b[0] if len(b) else -1).astype(
                    "int64"
                ),
                "byte_sum_mod": blobs.map(lambda b: sum(b) % 65536).astype("int64"),
            }
        )


@op(
    "multimodal_decode",
    oracle="""
WITH chars AS (
  SELECT doc_id, unnest(string_split(text, '')) AS ch FROM documents
),
sums AS (
  SELECT doc_id, CAST(sum(ascii(ch)) % 65536 AS BIGINT) AS byte_sum_mod
  FROM chars GROUP BY doc_id
)
SELECT d.doc_id,
       CAST(length(d.text) AS BIGINT) AS byte_len,
       CAST(ascii(substr(d.text, 1, 1)) AS BIGINT) AS first_byte,
       s.byte_sum_mod
FROM documents d JOIN sums s ON d.doc_id = s.doc_id
""",
)
def multimodal_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-column decode via ``mapInPandas``: text → binary blob (the
    fixture's stand-in for image bytes) → Arrow-batched Python feature
    extraction.  The oracle recomputes the same byte stats in SQL, proving
    the Python path end-to-end (schema, batching, values)."""
    docs = register_views(spark, sf_dir)["documents"]
    blobs = _blob_fan_out(
        spark, sf_dir, docs.select("doc_id", F.encode("text", "utf-8").alias("img"))
    )
    return blobs.mapInPandas(
        _decode_batch,
        schema="doc_id bigint, byte_len bigint, first_byte bigint, byte_sum_mod bigint",
    )


@op(
    "multimodal_frame_sample",
    oracle=f"""
WITH vids AS (
  SELECT doc_id, CAST(n_chars % 90 + 10 AS BIGINT) AS n_frames FROM documents
)
SELECT doc_id, CAST(unnest(generate_series(0, n_frames - 1, {FRAME_STEP}))
                    AS BIGINT) AS frame_idx
FROM vids
""",
)
def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video frame sampling plumbing: a fake per-doc frame count (derived
    from metadata) exploded to every FRAME_STEP-th frame index — the row
    shape a real ffmpeg-backed sampler would produce, JVM-side."""
    docs = register_views(spark, sf_dir)["documents"]
    vids = docs.select(
        "doc_id", (F.col("n_chars") % 90 + 10).cast("bigint").alias("n_frames")
    )
    return vids.select(
        "doc_id",
        F.explode(
            F.sequence(F.lit(0).cast("bigint"), F.col("n_frames") - 1, F.lit(FRAME_STEP).cast("bigint"))
        ).alias("frame_idx"),
    )


EMB_DIM = 8  # fake embedding width


def _embed_batch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Deterministic fake 'embedding': 8 scaled residues of the blob's
    byte-sum — stands in for a vision encoder.  Emits an Arrow
    list<double> column (the real multimodal-embedding output shape)."""
    for pdf in batches:
        sums = pdf["img"].map(lambda b: sum(b) % 65536)
        yield pd.DataFrame(
            {
                "doc_id": pdf["doc_id"],
                "emb": sums.map(
                    lambda s: [((s * (j + 13)) % 1000) / 1000.0 for j in range(EMB_DIM)]
                ),
            }
        )


@op(
    "multimodal_embed",
    oracle=f"""
WITH chars AS (
  SELECT doc_id, unnest(string_split(text, '')) AS ch FROM documents
),
sums AS (
  SELECT doc_id, CAST(sum(ascii(ch)) % 65536 AS BIGINT) AS s
  FROM chars GROUP BY doc_id
),
norms AS (
  SELECT d.source,
         sqrt(list_sum(list_transform(range(0, {EMB_DIM}),
              j -> pow(((s.s * (j + 13)) % 1000) / 1000.0, 2)))) AS nrm
  FROM documents d JOIN sums s ON d.doc_id = s.doc_id
)
SELECT source, count(*) AS n, round(avg(nrm), 6) AS avg_emb_norm
FROM norms GROUP BY source
""",
)
def multimodal_embed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blob → embedding through the REAL multimodal plumbing: binary
    column in, ``mapInPandas`` batch encode out as an Arrow
    ``array<double>`` column (the schema a vision/audio encoder
    produces), then JVM-side vector math (norm via higher-order
    ``aggregate``) and a per-source roll-up.

    The encoder itself is the deterministic byte-residue fake (no image
    libs in the container — same seam as `multimodal_decode`), so the
    oracle can recompute the whole pipeline in SQL: equality proves the
    Arrow list transfer and the downstream JVM fold, not just scalars.
    At scale the Python stage is batch-bounded and the vector never
    leaves the executor until the 20-row aggregate."""
    docs = register_views(spark, sf_dir)["documents"]
    blobs = _blob_fan_out(
        spark, sf_dir, docs.select("doc_id", F.encode("text", "utf-8").alias("img"))
    )
    embedded = blobs.mapInPandas(
        _embed_batch, schema="doc_id bigint, emb array<double>"
    )
    nrm = F.sqrt(
        F.aggregate(F.col("emb"), F.lit(0.0), lambda acc, x: acc + x * x)
    )
    src = docs.select("doc_id", "source")
    return (
        embedded.join(src, "doc_id")
        .select("source", nrm.alias("nrm"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.avg("nrm"), 6).alias("avg_emb_norm"),
        )
    )


TILE = 224  # model input tile edge (pixels)


@op(
    "multimodal_tile_plan",
    oracle=f"""
WITH imgs AS (  -- typed metadata derived deterministically from doc_id
  SELECT doc_id,
         CAST(640 + (doc_id * 37) % 1281 AS BIGINT) AS width,
         CAST(480 + (doc_id * 53) % 961 AS BIGINT) AS height
  FROM documents
)
SELECT doc_id, width, height,
       CAST((width + {TILE} - 1) // {TILE} AS BIGINT) AS tiles_x,
       CAST((height + {TILE} - 1) // {TILE} AS BIGINT) AS tiles_y,
       CAST(((width + {TILE} - 1) // {TILE})
            * ((height + {TILE} - 1) // {TILE}) AS BIGINT) AS n_tiles,
       round(CAST(width AS DOUBLE) / height, 4) AS aspect
FROM imgs
""",
)
def multimodal_tile_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Preprocessing shard plan for image tiling: per image, how many
    TILE x TILE crops a vision encoder will consume — the metadata-only
    pass that sizes the (much more expensive) GPU decode stage and
    drives its partitioning.

    Pure JVM arithmetic over typed metadata (width/height derived
    deterministically from doc_id, the multimodal house trick): map-only,
    no Python, no shuffle — exactly the cost profile a planning pass
    must have when the blob corpus is 100 TB and only this plan decides
    how much of it each worker pulls."""
    docs = register_views(spark, sf_dir)["documents"]
    imgs = docs.select(
        "doc_id",
        (640 + (F.col("doc_id") * 37) % 1281).cast("bigint").alias("width"),
        (480 + (F.col("doc_id") * 53) % 961).cast("bigint").alias("height"),
    )
    tx = F.floor((F.col("width") + TILE - 1) / TILE).cast("bigint")
    ty = F.floor((F.col("height") + TILE - 1) / TILE).cast("bigint")
    return imgs.select(
        "doc_id",
        "width",
        "height",
        tx.alias("tiles_x"),
        ty.alias("tiles_y"),
        (tx * ty).alias("n_tiles"),
        F.round(F.col("width").cast("double") / F.col("height"), 4).alias(
            "aspect"
        ),
    )


PHASH_BLOCKS = 64  # perceptual-hash blocks (bits)
PHASH_BAND_BITS = 8  # bits per LSH band -> 8 bands
PHASH_HAM_T = 20  # Hamming threshold for a confirmed near-dup


@op(
    "multimodal_phash_dedup",
    oracle=f"""
WITH chars AS (
  SELECT doc_id, CAST(len(text) AS BIGINT) AS ln,
         ascii(unnest(string_split(text, ''))) AS a,
         CAST(unnest(generate_series(0, len(text) - 1)) AS BIGINT) AS pos
  FROM documents
),
blk AS (
  SELECT doc_id, ln, (pos * {PHASH_BLOCKS}) // ln AS b,
         CAST(sum(a) AS BIGINT) AS s_b, CAST(count(*) AS BIGINT) AS n_b
  FROM chars GROUP BY doc_id, ln, (pos * {PHASH_BLOCKS}) // ln
),
tot AS (
  SELECT doc_id, CAST(sum(s_b) AS BIGINT) AS s, CAST(sum(n_b) AS BIGINT) AS n
  FROM blk GROUP BY doc_id
),
bits AS (  -- bit_b = block mean above doc mean, exact integer cross-multiply
  SELECT blk.doc_id, blk.b,
         CASE WHEN blk.s_b * tot.n > tot.s * blk.n_b THEN 1 ELSE 0 END AS bit
  FROM blk JOIN tot USING (doc_id)
),
sig AS (
  SELECT doc_id, b // {PHASH_BAND_BITS} AS band_idx,
         CAST(sum(bit * (CAST(1 AS BIGINT) << (b % {PHASH_BAND_BITS})))
              AS BIGINT) AS key
  FROM bits GROUP BY doc_id, b // {PHASH_BAND_BITS}
),
cand AS (
  SELECT a.band_idx, a.doc_id AS da, b.doc_id AS db
  FROM sig a JOIN sig b
    ON a.band_idx = b.band_idx AND a.key = b.key AND a.doc_id < b.doc_id
),
pairs AS (SELECT DISTINCT da, db FROM cand),
ham AS (
  SELECT p.da, p.db,
         CAST(sum(bit_count(xor(sa.key, sb.key))) AS BIGINT) AS hamming
  FROM pairs p
  JOIN sig sa ON sa.doc_id = p.da
  JOIN sig sb ON sb.doc_id = p.db AND sb.band_idx = sa.band_idx
  GROUP BY p.da, p.db
)
SELECT s.band_idx,
       CAST(count(DISTINCT s.key) AS BIGINT) AS n_buckets,
       CAST(coalesce(c.n_pairs, 0) AS BIGINT) AS n_candidate_pairs,
       CAST(coalesce(c.n_confirmed, 0) AS BIGINT) AS n_confirmed
FROM (SELECT band_idx, key FROM sig) s
LEFT JOIN (
  SELECT cand.band_idx, count(*) AS n_pairs,
         sum(CASE WHEN ham.hamming <= {PHASH_HAM_T} THEN 1 ELSE 0 END)
           AS n_confirmed
  FROM cand JOIN ham ON cand.da = ham.da AND cand.db = ham.db
  GROUP BY cand.band_idx
) c ON s.band_idx = c.band_idx
GROUP BY s.band_idx, c.n_pairs, c.n_confirmed
""",
)
def multimodal_phash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image near-duplicate detection by perceptual hash: each blob
    (the fixture's text-as-bytes stand-in) maps to a 64-bit block hash
    — bit b set iff block b's byte mean exceeds the blob mean, decided
    by EXACT integer cross-multiply (s_b·N > S·n_b), never floats —
    then LSH-banded into 8×8-bit keys.  Candidates come from band
    equi-joins (never all pairs); a candidate confirms when the full
    64-bit Hamming distance (bit_count ∘ xor over the 8 band keys) is
    ≤ the threshold.  The report is the per-band sensitivity table:
    buckets, candidate pairs, confirmed near-dups.

    This is `dedup_near_minhash`'s banding recipe transplanted onto a
    byte-level perceptual signature — the standard image-dedup pipeline
    (pHash + Hamming ball) with the codec stubbed exactly as
    `multimodal_decode` documents.  At 100 TB the sig table is 8 small
    rows per blob and the only corpus-proportional shuffle keys are
    8-bit band buckets."""
    from esxsnmp_tsdb_spark.session import fan_out

    docs = fan_out(
        register_views(spark, sf_dir)["documents"].select("doc_id", "text")
    )
    chars = docs.select(
        "doc_id",
        F.length("text").cast("bigint").alias("ln"),
        F.posexplode(F.split("text", "")).alias("pos", "ch"),
    ).select(
        "doc_id", "ln", F.ascii("ch").alias("a"), F.col("pos").cast("bigint").alias("pos")
    )
    blk = (
        chars.withColumn("b", F.expr(f"(pos * {PHASH_BLOCKS}) div ln"))
        .groupBy("doc_id", "ln", "b")
        .agg(F.sum("a").alias("s_b"), F.count(F.lit(1)).alias("n_b"))
    )
    tot = blk.groupBy("doc_id").agg(
        F.sum("s_b").alias("s"), F.sum("n_b").alias("n")
    )
    bits = blk.join(tot, "doc_id").select(
        "doc_id",
        "b",
        (F.col("s_b") * F.col("n") > F.col("s") * F.col("n_b"))
        .cast("int")
        .alias("bit"),
    )
    # The signature table feeds FIVE consumers (both sides of the band
    # self-join, both sides of the Hamming join, and the bucket census);
    # localCheckpoint it so the per-character explode chain runs once,
    # not once per consumer (the minhash_jaccard_estimate recipe).
    sig = (
        bits.withColumn("band_idx", F.expr(f"b div {PHASH_BAND_BITS}"))
        .withColumn(
            "k",
            F.expr(
                f"bit * (shiftleft(CAST(1 AS BIGINT), "
                f"CAST(b % {PHASH_BAND_BITS} AS INT)))"
            ),
        )
        .groupBy("doc_id", "band_idx")
        .agg(F.sum("k").cast("bigint").alias("key"))
        .localCheckpoint()
    )
    a = sig.alias("a")
    b = sig.alias("b")
    cand = a.join(
        b,
        (F.col("a.band_idx") == F.col("b.band_idx"))
        & (F.col("a.key") == F.col("b.key"))
        & (F.col("a.doc_id") < F.col("b.doc_id")),
    ).select(
        F.col("a.band_idx").alias("band_idx"),
        F.col("a.doc_id").alias("da"),
        F.col("b.doc_id").alias("db"),
    )
    pairs = cand.select("da", "db").distinct()
    sa = sig.alias("sa")
    sb = sig.alias("sb")
    ham = (
        pairs.join(sa, F.col("sa.doc_id") == F.col("da"))
        .join(
            sb,
            (F.col("sb.doc_id") == F.col("db"))
            & (F.col("sb.band_idx") == F.col("sa.band_idx")),
        )
        .groupBy("da", "db")
        .agg(
            F.sum(
                F.bit_count(
                    F.col("sa.key").bitwiseXOR(F.col("sb.key"))
                )
            )
            .cast("bigint")
            .alias("hamming")
        )
    )
    band_stats = (
        cand.join(ham, ["da", "db"])
        .groupBy("band_idx")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.sum((F.col("hamming") <= PHASH_HAM_T).cast("int")).alias(
                "n_confirmed_raw"
            ),
        )
    )
    return (
        sig.select("band_idx", "key")
        .join(band_stats, "band_idx", "left")
        .groupBy("band_idx", "n_pairs", "n_confirmed_raw")
        .agg(F.countDistinct("key").alias("n_buckets"))
        .select(
            "band_idx",
            F.col("n_buckets").cast("bigint").alias("n_buckets"),
            F.coalesce(F.col("n_pairs"), F.lit(0))
            .cast("bigint")
            .alias("n_candidate_pairs"),
            F.coalesce(F.col("n_confirmed_raw"), F.lit(0))
            .cast("bigint")
            .alias("n_confirmed"),
        )
    )
