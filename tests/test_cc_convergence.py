"""Pin the round bound and the labels of `min_label_components`.

The helper (operators/dedup.py) alternates large-star and small-star,
which converges in O(log² n) rounds whatever the node ids, about log2 n
in practice.  Paths are the hard case for label propagation: a sorted
chain happens to help id-order tricks, a randomly permuted path does
not, so both are pinned here, along with label exactness against a
union-find reference, the truncation flag, the NULL-endpoint guard and
the session confs the loop borrows."""

from __future__ import annotations

import math
import random

import pytest
from pyspark.sql import functions as F

from esxsnmp_tsdb_spark.operators.dedup import min_label_components
from esxsnmp_tsdb_spark.session import local_frame


def _bidirectional(spark, pairs):
    df = local_frame(
        spark,
        [(int(a), int(b)) for a, b in pairs] + [(int(b), int(a)) for a, b in pairs],
        "src bigint, dst bigint",
    )
    return df.localCheckpoint(eager=True)


def _union_find(pairs):
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {v: find(v) for v in sorted(parent)}


def _labels(labels):
    return {r.doc: r.label for r in labels.collect()}


def test_chain_converges_in_log_rounds(spark):
    """129-node path graph (diameter 128): rounds must scale with
    log2(n), not with the diameter that plain min-label propagation
    needs; allow up to 10 (the loop's default max_rounds=20 would
    silently truncate a run that needed more)."""
    edges = _bidirectional(spark, [(i, i + 1) for i in range(128)])
    labels, rounds, converged = min_label_components(edges, max_rounds=200)
    assert converged
    got = {r.doc: r.label for r in labels.collect()}
    assert got == {i: 0 for i in range(129)}
    assert rounds <= 10, f"chain-128 took {rounds} rounds"


@pytest.mark.parametrize("n, seed", [(129, 1), (540, 2), (2000, 3)])
def test_permuted_path_converges_in_log_rounds(spark, n, seed):
    """A path whose node ids are randomly permuted converges within
    2⌈log2 n⌉ rounds with exact labels: the bound cannot lean on ids
    that happen to run along the path."""
    rng = random.Random(seed)
    ids = list(range(n))
    rng.shuffle(ids)
    pairs = [(ids[i], ids[i + 1]) for i in range(n - 1)]
    edges = local_frame(spark, pairs, "src bigint, dst bigint")
    bound = 2 * math.ceil(math.log2(n))
    labels, rounds, converged = min_label_components(edges, max_rounds=bound)
    assert converged, f"path-{n} did not converge in {bound} rounds"
    assert _labels(labels) == {i: 0 for i in range(n)}


def test_self_loop_only_node_labels_itself(spark):
    """A node seen only in a self-loop is a component of its own; its
    self-loop must not drop it, nor leave a label on a connected node."""
    edges = local_frame(
        spark, [(9, 9), (3, 4), (4, 4), (7, 7), (7, 7)], "src bigint, dst bigint"
    )
    labels, _, converged = min_label_components(edges)
    assert converged
    assert _labels(labels) == {3: 3, 4: 3, 7: 7, 9: 9}


def test_star_converges_immediately(spark):
    """Star around node 0, centred on its least node, is already the
    fixed point: every leaf sees the root directly."""
    edges = _bidirectional(spark, [(0, i) for i in range(1, 40)])
    labels, rounds, converged = min_label_components(edges)
    assert converged
    got = {r.doc: r.label for r in labels.collect()}
    assert got == {i: 0 for i in range(40)}
    assert rounds <= 2


def test_two_components_stay_separate(spark):
    edges = _bidirectional(spark, [(0, 1), (1, 2), (10, 11), (11, 12)])
    labels, _, converged = min_label_components(edges)
    assert converged
    got = {r.doc: r.label for r in labels.collect()}
    assert got == {0: 0, 1: 0, 2: 0, 10: 10, 11: 10, 12: 10}


def test_random_graphs_match_union_find(spark):
    """Seeded random topologies vs a pure-Python union-find reference —
    chain/star pin convergence SPEED; this pins label CORRECTNESS on
    graphs with cycles, bridges, self-duplicated edges and isolated
    pairs, where a wrong star step could stabilize on a non-minimal
    representative without failing the fixture oracle (the LSH fixture's
    components are shallow)."""
    for seed in (7, 23, 101):
        rng = random.Random(seed)
        n = 60
        pairs = {(a, b) for a, b in (sorted(rng.sample(range(n), 2)) for _ in range(70))}
        pairs = sorted(pairs)
        want = _union_find(pairs)

        edges = _bidirectional(spark, pairs)
        labels, rounds, converged = min_label_components(edges)
        assert converged
        got = {r.doc: r.label for r in labels.collect()}
        assert got == want, f"seed {seed}: component labels diverge from union-find"
        assert rounds <= 10, f"seed {seed}: {rounds} rounds on a 60-node graph"


def test_truncation_is_flagged_not_silent(spark):
    """A max_rounds too small to converge must come back converged=False
    (rounds == max_rounds alone cannot distinguish truncated from
    converged-on-the-last-round), and
    dedup_connected_components refuses to serve truncated labels."""
    edges = _bidirectional(spark, [(i, i + 1) for i in range(64)])
    labels, rounds, converged = min_label_components(edges, max_rounds=2)
    assert rounds == 2 and not converged


def test_big_graph_tier_matches_plain_tier(spark):
    """The input's partition layout can never change a label or the
    round count: the same mixed-topology graph given as one partition
    and repartitioned 8 ways on a random key yields identical labels
    and rounds."""
    pairs = (
        [(i, i + 1) for i in range(64)]        # chain
        + [(0, 1_000 + i) for i in range(50)]  # star
        + [(200, 201), (201, 202)]             # separate component
    )
    edges = _bidirectional(spark, pairs)
    one = edges.coalesce(1)
    spread = (
        edges.withColumn("r", F.rand(7))
        .repartition(8, "r")
        .drop("r")
        .localCheckpoint(eager=True)
    )
    assert (one.rdd.getNumPartitions(), spread.rdd.getNumPartitions()) == (1, 8)
    labels_a, rounds_a, conv_a = min_label_components(one)
    labels_b, rounds_b, conv_b = min_label_components(spread)
    assert conv_a and conv_b
    assert rounds_a == rounds_b
    a, b = _labels(labels_a), _labels(labels_b)
    assert a == b, "the input layout changed component labels"
    assert a == _union_find(pairs)


def test_adversarial_long_path_plus_hot_star_envelope(spark):
    """The mixed worst case — one long path (depth)
    welded to a hot star (skew) at 10× the fixture candidate-pair volume
    (~1.3k bidirectional edges vs the ~60-pair LSH fixture graph).  The
    envelope pinned: rounds stay logarithmic (the star cannot slow the
    chain, the chain cannot stall the star), labels exact, convergence
    genuine."""
    chain = [(i, i + 1) for i in range(256)]                 # diameter 256
    star = [(0, 10_000 + i) for i in range(400)]             # hot key: node 0
    bridges = [(256, 20_000 + i) for i in range(16)]         # side spurs
    edges = _bidirectional(spark, chain + star + bridges)
    labels, rounds, converged = min_label_components(edges, max_rounds=30)
    assert converged, "mixed chain+star graph failed to converge"
    assert rounds <= 11, (
        f"{rounds} rounds on diameter-256 mixed graph — above the "
        "ceil(log2(256))+3 envelope"
    )
    got = {r.doc: r.label for r in labels.collect()}
    n_nodes = len({v for p in chain + star + bridges for v in p})
    assert len(got) == n_nodes
    assert set(got.values()) == {0}, "one welded component must label to 0"


def test_directed_only_input_fails_loud(spark, monkeypatch):
    """Each edge is read as undirected, so directed-only input gets the
    union-find labels.  An edge with a NULL endpoint raises in the
    sizing count, before round 1 runs, and leaves AQE and the shuffle
    width, which the loop sets session-wide, as they were."""
    from esxsnmp_tsdb_spark.operators import dedup as dedup_mod

    edges = local_frame(
        spark, [(5, 2), (7, 2)], "src bigint, dst bigint"  # no reverse rows
    )
    labels, _, converged = min_label_components(edges)
    assert converged
    assert _labels(labels) == _union_find([(5, 2), (7, 2)])

    def no_round(edges):
        raise AssertionError("a round ran over a NULL endpoint")

    monkeypatch.setattr(dedup_mod, "_large_star", no_round)
    broken = local_frame(spark, [(5, 2), (7, None)], "src bigint, dst bigint")
    keys = ("spark.sql.adaptive.enabled", "spark.sql.shuffle.partitions")
    before = {k: spark.conf.get(k) for k in keys}
    with pytest.raises(ValueError, match="NULL endpoint"):
        min_label_components(broken, max_rounds=4)
    assert {k: spark.conf.get(k) for k in keys} == before


def test_nonpositive_max_rounds_rejected(spark):
    """max_rounds <= 0 used to skip the loop and return labels=None,
    crashing callers downstream — must raise here."""
    edges = local_frame(
        spark, [(1, 2), (2, 1)], "src bigint, dst bigint"
    ).localCheckpoint(eager=True)
    with pytest.raises(ValueError, match="max_rounds"):
        min_label_components(edges, max_rounds=0)
