"""§2.5 deduplication suite (EXT — training-data pipeline ops mandated by
BASELINE.json · north_star): exact, MinHash-LSH, SimHash, n-gram Jaccard,
and embedding-cosine near-dup, over the `documents`/`embeddings` fixtures.

Determinism design (SURVEY.md §7: MinHashLSH's random hashes break oracle
checking): every hash here is derived from ``md5`` — available and
bit-identical in Spark SQL and DuckDB — either compared as hex strings
(min-hash signatures) or folded to a 16-bit integer via an
``instr``-based hex-nibble decode that parses the same in both dialects.
No randomness anywhere.

Fixture note (FIXTURES.md): all 500 texts are distinct, so dedup ops
manufacture duplicates *inside the query* (exact copy / drop-last-token
mutation with doc_id+100000), identically on both sides.

Scale: LSH banding is the point — candidate pairs come from equi-joins on
(band, signature), never an all-pairs comparison.  Exact dedup is a
hash-groupBy.  The cosine variant blocks on the `label` column (its IVF
coarse cell) before comparing.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from esxsnmp_tsdb_spark.functions.vector import cosine
from esxsnmp_tsdb_spark.registry import op
from esxsnmp_tsdb_spark.sources import register_views
from esxsnmp_tsdb_spark.sources.catalog import fixture_memo

N_BANDS = 4  # one-minhash-per-band LSH
SHINGLE_K = 3

# 16-bit integer from the first 4 hex chars of md5(x) — the expression is
# valid, and evaluates identically, in BOTH Spark SQL and DuckDB.
def _hex16(expr: str) -> str:
    nib = "(instr('0123456789abcdef', substr(md5({e}), {i}, 1)) - 1)"
    parts = [nib.format(e=expr, i=i) for i in (1, 2, 3, 4)]
    return (
        f"({parts[0]} * 4096 + {parts[1]} * 256 + {parts[2]} * 16 + {parts[3]})"
    )


# --- duplicated corpus (documents ∪ manufactured copies), both dialects ---

DUP_CTE = """docs2 AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 100000 AS doc_id, text FROM documents        -- exact copies
)"""

# The drop-last-token mutated arm (doc_id + 100000) — SQL twin of
# `_near_batch`, single-sourced so every oracle that manufactures the
# "arriving batch" (here and in dedup2) mutates the same fixture.
# coalesce: for a 1-token doc DuckDB's array_to_string over the empty
# slice yields NULL while Spark's concat_ws yields '' — pin the twin to
# '' explicitly so the representations agree even where no later filter
# happens to mask the difference.
def near_batch_sql(src: str = "documents") -> str:
    """SQL twin of ``_near_batch(<src>)`` — the drop-last-token mutated
    arm, parameterized on the source relation so the small-batch index
    probe (dedup2) can mutate a FILTERED slice of documents with the
    exact same template the full-batch oracles use."""
    return f"""SELECT doc_id + 100000 AS doc_id,
         coalesce(array_to_string(
           list_slice(string_split(text, ' '), 1,
                      len(string_split(text, ' ')) - 1), ' '), '') AS text
  FROM {src}"""


NEAR_BATCH_SQL = near_batch_sql()

# near-dup corpus: original ∪ drop-last-token mutation
NEAR_CTE = f"""docs2 AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  {NEAR_BATCH_SQL}
)"""


def _docs_with_exact_copies(docs: DataFrame) -> DataFrame:
    return docs.select("doc_id", "text").unionAll(
        docs.select((F.col("doc_id") + 100000).alias("doc_id"), "text")
    )


def _near_batch(docs: DataFrame) -> DataFrame:
    """The manufactured "arriving batch": drop-last-token near copies
    (doc_id + 100000) of the given documents — the mutated half of
    `_docs_with_near_copies`, single-sourced so the batch dedup ops,
    the incremental index probes (dedup2), and their oracles all mutate
    the same fixture."""
    toks = F.split(F.col("text"), " ")
    return docs.select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.concat_ws(" ", F.slice(toks, 1, F.size(toks) - 1)).alias("text"),
    )


def _docs_with_near_copies(docs: DataFrame) -> DataFrame:
    return docs.select("doc_id", "text").unionAll(_near_batch(docs))


def _shingled(docs2: DataFrame, k: int = SHINGLE_K) -> DataFrame:
    """(doc_id, shingle) — distinct k-token shingles, JVM-side explode.

    Fan-out first: shingling multiplies rows ~tokens× and feeds md5
    hashing; a single-split local scan would run it on one core."""
    from esxsnmp_tsdb_spark.session import fan_out

    docs2 = fan_out(docs2)
    toks = F.split(F.col("text"), " ")
    # Guarded: for docs with < k tokens, sequence(1, size-k+1)
    # would DESCEND (start > stop) and slice would throw / diverge from
    # the oracle's empty generate_series — emit no shingles instead,
    # matching shingle_sql(k).
    sh = F.when(
        F.size(toks) >= k,
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - (k - 1)),
            lambda i: F.concat_ws(" ", F.slice(toks, i, k)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return docs2.select(
        "doc_id", F.explode(F.array_distinct(sh)).alias("shingle")
    )


def shingle_sql(
    k: int, src: str = "docs2", out: str = "shingled", materialized: bool = False
) -> str:
    """DuckDB twin of ``_shingled(..., k)``: distinct k-token shingles of
    CTE ``src`` → CTE ``out``.  ``materialized`` pins DuckDB's
    ``AS MATERIALIZED`` so an oracle that reads ``out`` several times
    (the composed pipeline does, four ways) shingles once, not per
    reference — the SQL twin of the Spark side's localCheckpoint."""
    mat = " MATERIALIZED" if materialized else ""
    return f"""{out} AS{mat} (
  SELECT doc_id, shingle FROM (
    SELECT DISTINCT doc_id,
           array_to_string(list_slice(string_split(text, ' '), i, i + {k - 1}), ' ')
             AS shingle
    FROM (SELECT doc_id, text,
                 unnest(generate_series(1, len(string_split(text, ' ')) - {k - 1}))
                   AS i
          FROM {src})
  )
)"""


SHINGLE_SQL = shingle_sql(SHINGLE_K, materialized=True)


@op(
    "dedup_exact",
    oracle=f"""
WITH {DUP_CTE},
hashed AS (
  SELECT doc_id, md5(lower(trim(text))) AS h FROM docs2
)
SELECT h AS content_hash, min(doc_id) AS keep_id, count(*) AS n_copies
FROM hashed GROUP BY h
""",
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup by normalized content hash: hash-groupBy, keep the
    lowest doc_id.  One shuffle on the hash; at 100 TB the hash (32 bytes)
    shuffles, never the document bodies."""
    docs2 = _docs_with_exact_copies(register_views(spark, sf_dir)["documents"])
    return (
        docs2.select(
            "doc_id", F.md5(F.lower(F.trim(F.col("text")))).alias("content_hash")
        )
        .groupBy("content_hash")
        .agg(F.min("doc_id").alias("keep_id"), F.count(F.lit(1)).alias("n_copies"))
    )


def sigs_sql(src: str, out: str, materialized: bool = False) -> str:
    """DuckDB twin of ``_minhash_sigs``: per-(doc, band) MinHash
    signatures of shingle CTE ``src`` → CTE ``out``.  THE banding
    convention (one md5 per shingle sliced into {N_BANDS} disjoint
    32-bit windows) lives here and in `_minhash_sigs` only — dedup2's
    index oracles build both their corpus and batch sides from this
    exact template, so a convention change cannot half-apply."""
    mins = ", ".join(
        f"min(CAST('0x' || substr(h, {8 * b + 1}, 8) AS BIGINT)) AS s{b}"
        for b in range(N_BANDS)
    )
    union = " UNION ALL ".join(
        f"SELECT doc_id, {b} AS band, s{b} AS sig FROM {out}0"
        for b in range(N_BANDS)
    )
    mat = " MATERIALIZED" if materialized else ""
    return f"""{out}h AS (SELECT doc_id, md5(shingle) AS h FROM {src}),
{out}0 AS{mat} (SELECT doc_id, {mins} FROM {out}h GROUP BY doc_id),
{out} AS ({union})"""


def pairs_sql(sigs: str, out: str = "pairs") -> str:
    """THE LSH candidate-pair convention (DISTINCT (band, sig) equi-join,
    doc_a < doc_b) — single-sourced here and in `_pairs_from_sigs` only,
    for MINHASH_PAIRS_SQL and the composed pipeline's oracle, so a change
    to the candidate rule cannot half-apply."""
    return f"""{out} AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM {sigs} a JOIN {sigs} b ON a.band = b.band AND a.sig = b.sig
                         AND a.doc_id < b.doc_id
)"""


# MinHash candidate pairs (doc_a < doc_b), as a reusable SQL CTE chain and
# the Spark twin below — used by dedup_near_minhash and the clustering op.
MINHASH_PAIRS_SQL = f"""{NEAR_CTE}, {SHINGLE_SQL},
{sigs_sql('shingled', 'sigs', materialized=True)},
{pairs_sql('sigs')}"""


def _minhash_sigs(sh: DataFrame) -> DataFrame:
    """Per-(doc, band) MinHash signatures of the ``(doc_id, shingle)``
    table ``sh`` (`_shingled`) — Spark twin of the `sigs` CTE.  A
    checkpointed ``sh`` shares ONE shingle pass across the signature
    stage and other consumers.

    One md5 per shingle, sliced into {N_BANDS} disjoint 32-bit windows,
    plays the {N_BANDS} independent permutations — {N_BANDS}× fewer hash
    evaluations than hashing (band, shingle) pairs, and the pre-shuffle
    row count stays |shingles| instead of |shingles|×{N_BANDS} (the per-
    band minima ride ONE partial aggregation as {N_BANDS} agg columns).
    The signature narrows from a 32-char string to a bigint, shrinking
    both the shuffle and the band-bucket join keys."""
    hashed = sh.select("doc_id", F.md5("shingle").alias("h"))
    band_min = [
        F.min(
            F.conv(F.substring("h", 8 * b + 1, 8), 16, 10).cast("bigint")
        ).alias(f"s{b}")
        for b in range(N_BANDS)
    ]
    stack_args = ", ".join(f"{b}, s{b}" for b in range(N_BANDS))
    return (
        hashed.groupBy("doc_id")
        .agg(*band_min)
        .selectExpr(
            "doc_id", f"stack({N_BANDS}, {stack_args}) AS (band, sig)"
        )
    )


def _pairs_from_sigs(sigs: DataFrame) -> DataFrame:
    """Candidate pairs from a signature table (band-bucket equi-join)."""
    a = sigs.alias("a")
    b = sigs.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.sig") == F.col("b.sig"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )


def _minhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark twin of MINHASH_PAIRS_SQL's `pairs` CTE.

    The signature table feeds both sides of the band-bucket self-join, so
    it is localCheckpoint-ed: one shingle+md5+min pass, not two."""
    docs2 = _docs_with_near_copies(register_views(spark, sf_dir)["documents"])
    return _pairs_from_sigs(_minhash_sigs(_shingled(docs2)).localCheckpoint())


@op(
    "dedup_near_minhash",
    oracle=f"""
WITH {MINHASH_PAIRS_SQL}
SELECT doc_a, doc_b FROM pairs
""",
)
def dedup_near_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup candidate pairs via shingle → MinHash → band → bucket-join
    (one deterministic min-hash per band; disjoint 32-bit slices of one
    md5 play the independent permutations).

    Scale shape: signatures are tiny (doc_id, band, bigint sig); the only
    join is an equi-join on (band, sig) — LSH's whole point is that the
    candidate set, not the corpus square, is what gets compared."""
    return _minhash_pairs(spark, sf_dir)


def min_label_components(edges: DataFrame, max_rounds: int = 20):
    """Connected components of the undirected graph ``edges(src, dst)``
    by alternating large-star and small-star (Kiveris et al., SoCC 2014;
    GraphFrames' algorithm).  Large-star links each node's larger
    neighbors to the least node of its closed neighborhood; small-star
    links each node and its smaller neighbors to the least of them.
    Both keep components connected and each edge once, as
    ``(greatest, least)``; alternated, they reach a forest of stars
    centred on each component's least node in O(log² n) rounds, proven.
    Any orientation, duplicates and self-loops are valid input; a node
    seen only in a self-loop labels itself.

    One job per round: the round's edges are checkpointed lazily and
    materialized by an exact fixed-point test (the edges form that star
    forest, so the next round would return them unchanged).  The loop
    turns AQE off and sizes ``spark.sql.shuffle.partitions`` from |E|,
    restoring both in a ``finally``: session-wide confs, so it assumes a
    single submitter.  Returns ``(labels, rounds, converged)``:
    ``labels`` maps each node ``doc`` to its component's least node
    ``label``; ``converged`` is False when ``max_rounds`` ran out, and
    such labels are wrong."""
    if max_rounds < 1:
        raise ValueError(f"max_rounds must be >= 1, got {max_rounds}")
    edges = edges.select("src", "dst").localCheckpoint(eager=False)
    n_edges, n_null = edges.agg(
        F.count(F.lit(1)),
        F.count(F.when(F.col("src").isNull() | F.col("dst").isNull(), True)),
    ).first()
    if n_null:
        raise ValueError(
            f"min_label_components: {n_null} edges have a NULL endpoint"
        )
    # ~32 MB of ~24-byte rows per shuffle partition, floor 2.
    n_part = max(2, math.ceil(n_edges * 24 / (32 << 20)))
    spark = edges.sparkSession
    prev_aqe = spark.conf.get("spark.sql.adaptive.enabled", "true")
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.shuffle.partitions", str(n_part))
    rounds, converged = 0, False
    try:
        while rounds < max_rounds and not converged:
            rounds += 1
            edges = _small_star(_large_star(edges)).localCheckpoint(eager=False)
            converged = _non_star_nodes(edges) == 0
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", prev_aqe)
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
    labels = edges.select(
        F.explode(F.array("src", "dst")).alias("doc"), F.col("dst").alias("label")
    ).distinct()
    return labels, rounds, converged


def _large_star(edges: DataFrame) -> DataFrame:
    """Each node ``k`` links its larger neighbors to the least of ``k``
    and its neighbors; a node whose only neighbor is itself keeps its
    self-loop.  Rows may repeat; ``_small_star`` drops repeats."""
    w = Window.partitionBy("k")
    inc = edges.select(
        F.inline(
            F.array(
                F.struct(F.col("src").alias("k"), F.col("dst").alias("n")),
                F.struct(F.col("dst").alias("k"), F.col("src").alias("n")),
            )
        )
    ).select("k", "n", F.min("n").over(w).alias("lo"), F.max("n").over(w).alias("hi"))
    k, n, lo, hi = (F.col(c) for c in ("k", "n", "lo", "hi"))
    return inc.filter((n > k) | ((lo == k) & (hi == k))).select(
        n.alias("src"), F.least(k, lo).alias("dst")
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """Each node ``src`` and its smaller neighbors link to the least of
    them.  The result holds each edge once, as ``(greatest, least)``,
    plus the self-loops of nodes with no other neighbor."""
    m = edges.withColumn("m", F.min("dst").over(Window.partitionBy("src")))
    linked = m.select(
        F.explode(F.array("src", "dst")).alias("v"),
        "m",
        (F.col("m") == F.col("src")).alias("lone"),
    )
    return (
        linked.filter((F.col("v") != F.col("m")) | F.col("lone"))
        .select(F.col("v").alias("src"), F.col("m").alias("dst"))
        .distinct()
    )


def _non_star_nodes(edges: DataFrame) -> int:
    """How many nodes keep ``edges`` from being a forest of stars centred
    on their least node: a node with two parents, or one that is both a
    parent and a child (``src`` is the child of ``dst``)."""
    roles = edges.select(
        F.posexplode(F.array("src", "dst")).alias("pos", "v"),
        (F.col("src") != F.col("dst")).alias("link"),
    )
    per_node = roles.groupBy("v").agg(
        F.count(F.when(F.col("pos") == 0, True)).alias("parents"),
        F.count(F.when((F.col("pos") == 1) & F.col("link"), True)).alias(
            "children"
        ),
    )
    return per_node.filter(
        (F.col("parents") > 1)
        | ((F.col("parents") > 0) & (F.col("children") > 0))
    ).count()


def _cc_components(
    spark: SparkSession, sf_dir: str, refresh: bool = False
) -> DataFrame:
    """The converged ``(doc_id, component)`` frame for ``sf_dir``'s
    MinHash near-dup graph, memoized per session by ``fixture_memo``
    under ``("cc_components", abspath(sf_dir))``, stamped with
    ``documents``.

    The labels are a pure function of the corpus (component id = min
    doc_id, independent of layout, partitioning and round count), and
    the frame the loop returns is already checkpoint-backed, so reusing
    it within the session is semantics-free.  ``refresh=True`` (the CC
    op) always computes and overwrites the entry, so the op's repeats
    time the real operator; the derived impact report leaves it off
    and is served the entry while the stamp still matches."""

    def compute() -> DataFrame:
        pairs = _minhash_pairs(spark, sf_dir).select(
            F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
        )
        labels, rounds, converged = min_label_components(pairs)
        if not converged:
            # Truncated labels are silently WRONG (two docs in one real
            # component can carry different labels) — refuse to serve them.
            raise RuntimeError(
                f"connected-components did not converge in {rounds} "
                "rounds; raise max_rounds (large-star/small-star needs "
                "O(log² n) rounds, about log2 n in practice)"
            )
        return labels.select(
            F.col("doc").alias("doc_id"), F.col("label").alias("component")
        )

    return fixture_memo(
        spark, "cc_components", sf_dir, ("documents",), compute, refresh
    )


@op(
    "dedup_connected_components",
    oracle=f"""
WITH RECURSIVE {MINHASH_PAIRS_SQL},
edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM pairs
  UNION SELECT doc_b, doc_a FROM pairs
),
nodes AS (SELECT DISTINCT src AS doc FROM edges),
reach(doc, label) AS (
  SELECT doc, doc FROM nodes
  UNION
  SELECT e.dst, r.label FROM reach r JOIN edges e ON e.src = r.doc
),
comp AS (SELECT doc, min(label) AS component FROM reach GROUP BY doc)
SELECT doc AS doc_id, component,
       count(*) OVER (PARTITION BY component) AS csize
FROM comp
""",
)
def dedup_connected_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components over the MinHash candidate graph — the step
    that turns pairwise near-dup hits into KEEP-one-per-cluster groups
    (component id = min doc_id in the cluster).

    The loop lives in `min_label_components`: large-star/small-star
    rounds, O(log² n) proven, which matters because an LSH candidate
    graph over a shared-vocabulary corpus has long chains
    (tests/test_cc_convergence.py pins it on randomly permuted paths).
    Oracle twin: DuckDB recursive CTE transitive closure.

    This op ALWAYS computes — pair generation + the full propagation
    loop — and refreshes the session's memoized labels as a by-product;
    only the derived impact report (`dedup_cluster_size_stats`) serves
    from them (see `_cc_components`)."""
    comp = _cc_components(spark, sf_dir, refresh=True)
    w = Window.partitionBy("component")
    return comp.withColumn("csize", F.count(F.lit(1)).over(w))


@op(
    "dedup_simhash",
    oracle=f"""
WITH toks AS (
  SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
),
bits AS (
  SELECT doc_id, tok, {_hex16('tok')} AS h FROM toks
),
contrib AS (
  SELECT doc_id, b.bit,
         SUM(CASE WHEN CAST(floor(h / pow(2, b.bit)) AS INT) % 2 = 1
                  THEN 1 ELSE -1 END) AS s
  FROM bits CROSS JOIN (SELECT unnest(generate_series(0, 15)) AS bit) b
  GROUP BY doc_id, b.bit
)
SELECT doc_id,
       CAST(SUM(CASE WHEN s > 0 THEN CAST(pow(2, bit) AS BIGINT) ELSE 0 END)
            AS BIGINT) AS simhash
FROM contrib GROUP BY doc_id
""",
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """16-bit SimHash fingerprint per document: token-hash bit votes →
    majority sign per bit → packed fingerprint.  Identical-fingerprint
    groups are near-dup candidates; at scale you'd index fingerprint bands
    the same way as MinHash buckets."""
    from esxsnmp_tsdb_spark.session import fan_out

    docs = fan_out(register_views(spark, sf_dir)["documents"])
    toks = docs.select(
        "doc_id", F.explode(F.array_distinct(F.split("text", " "))).alias("tok")
    )
    bits = toks.select("doc_id", F.expr(_hex16("tok")).alias("h"))
    bitdim = spark.range(16).select(F.col("id").cast("int").alias("bit"))
    contrib = (
        bits.crossJoin(F.broadcast(bitdim))
        .select(
            "doc_id",
            "bit",
            F.when(
                F.expr("CAST(floor(h / pow(2, bit)) AS INT) % 2") == 1, 1
            ).otherwise(-1).alias("vote"),
        )
        .groupBy("doc_id", "bit")
        .agg(F.sum("vote").alias("s"))
    )
    return (
        contrib.groupBy("doc_id")
        .agg(
            F.sum(
                F.when(F.col("s") > 0, F.expr("CAST(pow(2, bit) AS BIGINT)")).otherwise(
                    F.lit(0)
                )
            )
            .cast("bigint")
            .alias("simhash")
        )
    )


JACCARD_K = 6  # w-shingling width for the exact-Jaccard stage


@op(
    "dedup_ngram_jaccard",
    oracle=f"""
WITH {NEAR_CTE}, {shingle_sql(6, materialized=True)},
sizes AS (SELECT doc_id, count(*) AS n FROM shingled GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS shared
  FROM shingled a JOIN shingled b
    ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc_a, doc_b,
       round(CAST(shared AS DOUBLE) / (sa.n + sb.n - shared), 6) AS jaccard
FROM inter
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
WHERE CAST(shared AS DOUBLE) / (sa.n + sb.n - shared) >= 0.5
""",
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact w-shingle (6-token) Jaccard over candidate pairs that share
    at least one shingle — the verification stage that follows LSH
    candidate generation in a production dedup pipeline.

    The shingle equi-join IS the blocker, so its selectivity decides the
    cost: the shingle width must be wide enough that unrelated documents
    rarely collide.  On this small-vocabulary corpus 3-token shingles
    have df≈dozens (the "blocked" join degenerates toward all-pairs);
    6-token shingles have df≈1 except for true near-duplicates, so
    candidate volume tracks actual duplication — the same tuning call a
    production pipeline makes (w-shingling, w≈5-10).  Near-twins still
    score ≈(n-w)/n ≫ 0.5."""
    docs2 = _docs_with_near_copies(register_views(spark, sf_dir)["documents"])
    sh = _shingled(docs2, JACCARD_K)
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    a = sh.alias("a")
    b = sh.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.count(F.lit(1)).alias("shared"))
    )
    sa = sizes.alias("sa")
    sb = sizes.alias("sb")
    jac = F.col("shared").cast("double") / (
        F.col("sa.n") + F.col("sb.n") - F.col("shared")
    )
    return (
        inter.join(sa, F.col("doc_a") == F.col("sa.doc_id"))
        .join(sb, F.col("doc_b") == F.col("sb.doc_id"))
        .filter(jac >= 0.5)
        .select("doc_a", "doc_b", F.round(jac, 6).alias("jaccard"))
    )


@op(
    "dedup_embedding_cosine",
    oracle="""
WITH e AS (SELECT vec_id, label, embedding, len(embedding) AS d FROM embeddings),
pairs AS (
  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, a.label,
         list_sum(list_transform(range(1, a.d + 1),
                  i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)))
           AS dot,
         sqrt(list_sum(list_transform(range(1, a.d + 1),
                  i -> CAST(a.embedding[i] AS DOUBLE) * CAST(a.embedding[i] AS DOUBLE))))
           AS na,
         sqrt(list_sum(list_transform(range(1, b.d + 1),
                  i -> CAST(b.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE))))
           AS nb
  FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
)
SELECT vec_a, vec_b, label, round(dot / (na * nb), 6) AS cos
FROM pairs WHERE dot / (na * nb) >= 0.35
""",
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs, blocked by `label` (the cluster id
    plays the IVF coarse cell): pairs are only formed inside a block, which
    is how this survives 100 TB — the all-pairs square never materializes.
    Norms are hoisted per vector (one fold each) so each pair costs one
    dot fold, not three — bit-identical, 3× less interpreted work.
    (No per-block BLAS here: the output carries round(cos, 6) as a VALUE,
    where matmul summation order could flip the last digit against the
    oracle's sequential fold — the float-exactness rule.)

    Threshold: 0.35, anchored to the fixture cosine distribution (the
    p99.9 of within-label pair cosines is ~0.35 at every sf; the max is
    ~0.47).  The original 0.6 never matched a pair in the random-vector
    fixtures, so the op's oracle attestation was trivially empty-vs-empty
    (0 rows both sides) — at 0.35 the attestation
    exercises actual dot/norm/round values at every scale.
    """
    from esxsnmp_tsdb_spark.functions.vector import dot, norm

    # both sides of the self-join read this — checkpoint so the scan, the
    # per-vector double-cast, and the norm fold run once.  The cast is
    # hoisted INTO the checkpoint, out of per-pair work: it
    # used to sit inside the per-pair cosine, costing two O(d) array
    # transforms per PAIR (O(Σblock²) work); here it is O(N).  The wire
    # trade is deliberate — the checkpoint holds float64 arrays (2× the
    # bytes of the float source) but |V| rows, while the saved transforms
    # scale with |pairs|.  Values are bit-identical: float→double is
    # exact, same fold, same order.
    e = register_views(spark, sf_dir)["embeddings"].select(
        "vec_id",
        "label",
        F.transform("embedding", lambda x: x.cast("double")).alias("v"),
    ).withColumn("nrm", norm(F.col("v"))).localCheckpoint()
    a = e.alias("a")
    b = e.alias("b")
    cos = dot(F.col("a.v"), F.col("b.v")) / (F.col("a.nrm") * F.col("b.nrm"))
    return (
        a.join(
            b,
            (F.col("a.label") == F.col("b.label"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
            F.col("a.label").alias("label"),
            cos.alias("cos_raw"),
        )
        .filter(F.col("cos_raw") >= 0.35)
        .select("vec_a", "vec_b", "label", F.round("cos_raw", 6).alias("cos"))
    )


@op(
    "minhash_jaccard_estimate",
    oracle=f"""
WITH {MINHASH_PAIRS_SQL},
band_match AS (
  SELECT p.doc_a, p.doc_b,
         CAST(sum(CASE WHEN a.sig = b.sig THEN 1 ELSE 0 END) AS BIGINT)
           AS n_match
  FROM pairs p
  JOIN sigs a ON a.doc_id = p.doc_a
  JOIN sigs b ON b.doc_id = p.doc_b AND b.band = a.band
  GROUP BY p.doc_a, p.doc_b
),
sizes AS (SELECT doc_id, count(*) AS sz FROM shingled GROUP BY doc_id),
inter AS (
  SELECT p.doc_a, p.doc_b, count(*) AS ni
  FROM pairs p
  JOIN shingled sa ON sa.doc_id = p.doc_a
  JOIN shingled sb ON sb.doc_id = p.doc_b AND sb.shingle = sa.shingle
  GROUP BY p.doc_a, p.doc_b
)
SELECT m.doc_a, m.doc_b,
       round(m.n_match / {N_BANDS}.0, 6) AS est_jaccard,
       round(i.ni * 1.0 / (za.sz + zb.sz - i.ni), 6) AS exact_jaccard,
       round(abs(m.n_match / {N_BANDS}.0
                 - i.ni * 1.0 / (za.sz + zb.sz - i.ni)), 6) AS abs_err
FROM band_match m
JOIN inter i ON i.doc_a = m.doc_a AND i.doc_b = m.doc_b
JOIN sizes za ON za.doc_id = m.doc_a
JOIN sizes zb ON zb.doc_id = m.doc_b
""",
)
def minhash_jaccard_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-accuracy measurement: for every LSH candidate pair, the
    MinHash-estimated Jaccard (matching bands / {N_BANDS}) next to the
    exact shingle-set Jaccard and the absolute error — the eval an
    engineer runs before trusting a dedup threshold at corpus scale.

    Everything is blocked by the candidate pairs (estimate AND exact):
    the corpus square never materializes, signatures are 8-byte bigints,
    and the exact intersection is the shingle equi-join restricted to
    candidates — the same shapes the dedup ops already proved at scale.
    Both ratios are small-denominator rationals rounded on both sides.

    The signature table feeds FOUR join sides (pair generation a/b,
    band-compare a/b) and the shingle table THREE (sizes, intersection
    a/b), so BOTH are localCheckpoint-ed: one shingle explode and one
    min-hash aggregation total, instead of seven lineage replays — at
    corpus scale sigs is |docs|×{N_BANDS} short rows and shingled is the
    (bounded) shingle set, both cheap next to recomputing them.  The
    executed plan reads documents.parquet ZERO times — every branch scans
    a checkpoint (asserted in tests/test_plans.py)."""
    # EAGER checkpoints: every consumer branch must read the materialized
    # shingle/signature tables, never re-derive them from raw.  Lazy
    # checkpoints measured slower (min-of-4 interleaved at sf0.1: eager
    # 4.17 s vs lazy 4.41 s).
    docs2 = _docs_with_near_copies(register_views(spark, sf_dir)["documents"])
    sh = _shingled(docs2).localCheckpoint()
    sigs = _minhash_sigs(sh).localCheckpoint()
    pairs = _pairs_from_sigs(sigs)
    # shuffle_hash hints: the probe side of the
    # band-compare and intersection joins is the candidate-EXPLODED
    # stream (|pairs| × shingles-per-doc ≈ 17M rows at sf0.1, ~34× the
    # build side), and sort-merge paid an O(n log n) sort of exactly
    # that stream.  The hinted build sides are the bounded per-partition
    # signature/shingle tables (the smaller side of every partition by
    # the same ~34× factor), so the hash build is safe at any scale the
    # candidate contract already admits.  Whole-op A/B at sf0.1
    # (min-of-3 interleaved): 5.23 s → 4.70 s, values identical.
    sa = sigs.select(
        F.col("doc_id").alias("doc_a"), F.col("band").alias("band_a"),
        F.col("sig").alias("sig_a"),
    ).hint("shuffle_hash")
    sb = sigs.select(
        F.col("doc_id").alias("db"), F.col("band").alias("band_b"),
        F.col("sig").alias("sig_b"),
    ).hint("shuffle_hash")
    band_match = (
        pairs.join(sa, "doc_a")
        .join(sb, (F.col("doc_b") == F.col("db")) & (F.col("band_a") == F.col("band_b")))
        .groupBy("doc_a", "doc_b")
        .agg(
            F.sum((F.col("sig_a") == F.col("sig_b")).cast("int"))
            .cast("bigint")
            .alias("n_match")
        )
    )
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("sz"))
    sha = sh.select(
        F.col("doc_id").alias("doc_a"), F.col("shingle").alias("sh_a")
    ).hint("shuffle_hash")
    shb = sh.select(
        F.col("doc_id").alias("db2"), F.col("shingle").alias("sh_b")
    ).hint("shuffle_hash")
    inter = (
        pairs.join(sha, "doc_a")
        .join(shb, (F.col("doc_b") == F.col("db2")) & (F.col("sh_a") == F.col("sh_b")))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("ni"))
    )
    za = sizes.select(F.col("doc_id").alias("doc_a"), F.col("sz").alias("sz_a"))
    zb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("sz").alias("sz_b"))
    est = F.col("n_match") / float(N_BANDS)
    exact = F.col("ni") / (F.col("sz_a") + F.col("sz_b") - F.col("ni"))
    return (
        band_match.join(inter, ["doc_a", "doc_b"])
        .join(za, "doc_a")
        .join(zb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.round(est, 6).alias("est_jaccard"),
            F.round(exact, 6).alias("exact_jaccard"),
            F.round(F.abs(est - exact), 6).alias("abs_err"),
        )
    )


@op(
    "dedup_cluster_size_stats",
    oracle=f"""
WITH RECURSIVE {MINHASH_PAIRS_SQL},
edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM pairs
  UNION SELECT doc_b, doc_a FROM pairs
),
nodes AS (SELECT DISTINCT src AS doc FROM edges),
reach(doc, label) AS (
  SELECT doc, doc FROM nodes
  UNION
  SELECT e.dst, r.label FROM reach r JOIN edges e ON e.src = r.doc
),
comp AS (SELECT doc, min(label) AS component FROM reach GROUP BY doc),
sizes AS (SELECT component, count(*) AS csize FROM comp GROUP BY component)
SELECT csize, count(*) AS n_clusters,
       CAST(csize * count(*) AS BIGINT) AS n_docs,
       CAST(sum(csize - 1) AS BIGINT) AS n_removable
FROM sizes GROUP BY csize
""",
)
def dedup_cluster_size_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-size histogram over the near-dup components — the dedup
    IMPACT report: how many clusters of each size, how many documents
    they hold, and how many rows keep-one-per-cluster would remove.
    This is the number a data owner asks for before approving a dedup
    run.

    Rides the session's memoized labels (`_cc_components`): when
    `dedup_connected_components` already ran this session over the same
    corpus snapshot, the report is two bounded aggregates over the
    checkpointed (doc_id, component) frame — nobody re-runs label
    propagation to print the histogram of a clustering they just
    computed.  Cold (stats first, or stale stamp) it computes end to
    end and memoizes the labels."""
    comp = _cc_components(spark, sf_dir)
    sizes = comp.groupBy("component").agg(F.count(F.lit(1)).alias("csize"))
    return sizes.groupBy("csize").agg(
        F.count(F.lit(1)).alias("n_clusters"),
        (F.col("csize") * F.count(F.lit(1))).cast("bigint").alias("n_docs"),
        F.sum(F.col("csize") - 1).cast("bigint").alias("n_removable"),
    )
