"""Pin the pointer-jumping convergence claim with a measured worst case.

`min_label_components` (operators/dedup.py) claims O(log diameter)
rounds via path halving — previously docstring prose.  The LSH fixture
graph converges in ~5 rounds but its components are shallow, so it
cannot distinguish O(log d) from O(d).  A synthetic 128-hop chain can:
plain min-label propagation needs ~128 rounds to pull the far end's
label to the root, the jump step needs ~⌈log2(128)⌉+1.  If someone
removes the pointer-jump join, this test fails long before the fixture
oracle would notice anything."""

from __future__ import annotations

import pytest

from esxsnmp_tsdb_spark.operators.dedup import min_label_components
from esxsnmp_tsdb_spark.session import local_frame


def _bidirectional(spark, pairs):
    df = local_frame(
        spark,
        [(int(a), int(b)) for a, b in pairs] + [(int(b), int(a)) for a, b in pairs],
        "src bigint, dst bigint",
    )
    return df.localCheckpoint(eager=True)


def test_chain_converges_in_log_rounds(spark):
    """129-node path graph (diameter 128): rounds must scale with
    log2(diameter), not diameter.  Halving gives ⌈log2(128)⌉ = 7 label
    rounds + 1 fixed-point-detection round; allow slack to 10 — an order
    of magnitude under the 128 plain propagation would need (and above
    the loop's own max_rounds=20 safety valve, which would silently
    truncate a non-converged run)."""
    edges = _bidirectional(spark, [(i, i + 1) for i in range(128)])
    labels, rounds, converged = min_label_components(edges, max_rounds=200)
    assert converged
    got = {r.doc: r.label for r in labels.collect()}
    assert got == {i: 0 for i in range(129)}
    assert rounds <= 10, f"chain-128 took {rounds} rounds — jump step broken?"


def test_star_converges_immediately(spark):
    """Star around node 0: every leaf sees the root directly — one label
    round plus the fixed-point round."""
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
    pairs, where a wrong jump step could stabilize on a non-minimal
    representative without failing the fixture oracle (the LSH fixture's
    components are shallow)."""
    import random

    for seed in (7, 23, 101):
        rng = random.Random(seed)
        n = 60
        pairs = {(a, b) for a, b in (sorted(rng.sample(range(n), 2)) for _ in range(70))}
        pairs = sorted(pairs)

        parent = list(range(n))

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in pairs:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        touched = {v for p in pairs for v in p}
        want = {v: find(v) for v in sorted(touched)}

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


def test_big_graph_tier_matches_plain_tier(spark, monkeypatch):
    """The size-tiered edge layout (r11): above
    ``_EDGE_REPARTITION_THRESHOLD`` the loop runs over a cached
    ``repartition("src")`` edge set instead of the plain checkpoint.
    Fixtures never cross the real 5M-edge threshold, so lower it to 0
    and pin that the big-graph tier yields byte-identical labels and
    the same round count on a mixed-topology graph — a layout choice
    must never be able to change a single label."""
    from esxsnmp_tsdb_spark.operators import dedup as dedup_mod

    pairs = (
        [(i, i + 1) for i in range(64)]        # chain
        + [(0, 1_000 + i) for i in range(50)]  # star
        + [(200, 201), (201, 202)]             # separate component
    )
    edges = _bidirectional(spark, pairs)
    labels_a, rounds_a, conv_a = min_label_components(edges)
    monkeypatch.setattr(dedup_mod, "_EDGE_REPARTITION_THRESHOLD", 0)
    labels_b, rounds_b, conv_b = min_label_components(edges)
    assert conv_a and conv_b
    assert rounds_a == rounds_b
    a = {r.doc: r.label for r in labels_a.collect()}
    b = {r.doc: r.label for r in labels_b.collect()}
    assert a == b, "big-graph tier changed component labels"


def test_adversarial_long_path_plus_hot_star_envelope(spark):
    """The mixed worst case — one long path (depth)
    welded to a hot star (skew) at 10× the fixture candidate-pair volume
    (~1.3k bidirectional edges vs the ~60-pair LSH fixture graph).  The
    envelope pinned: rounds stay O(log d) (the star cannot slow the
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
        "ceil(log2(256))+3 envelope; jump step degraded"
    )
    got = {r.doc: r.label for r in labels.collect()}
    n_nodes = len({v for p in chain + star + bridges for v in p})
    assert len(got) == n_nodes
    assert set(got.values()) == {0}, "one welded component must label to 0"


def test_directed_only_input_fails_loud(spark):
    """Precondition guard: the helper's contract is a BIDIRECTIONAL
    edge list.  A directed-only input leaves dst-only nodes without a
    self-loop (old=NULL); the round-1 NULL tally must raise immediately
    — never converge quietly over wrong labels, and never burn
    max_rounds of cluster work before reporting the violation.  The
    loop sets AQE and the shuffle width session-wide, so the raise must
    also leave both confs as they were before the call."""
    edges = local_frame(
        spark, [(5, 2), (7, 2)], "src bigint, dst bigint"  # no reverse rows
    ).localCheckpoint(eager=True)
    keys = ("spark.sql.adaptive.enabled", "spark.sql.shuffle.partitions")
    before = {k: spark.conf.get(k) for k in keys}
    with pytest.raises(ValueError, match="BIDIRECTIONAL"):
        min_label_components(edges, max_rounds=4)
    assert {k: spark.conf.get(k) for k in keys} == before


def test_nonpositive_max_rounds_rejected(spark):
    """max_rounds <= 0 used to skip the loop and return labels=None,
    crashing callers downstream — must raise here."""
    edges = local_frame(
        spark, [(1, 2), (2, 1)], "src bigint, dst bigint"
    ).localCheckpoint(eager=True)
    with pytest.raises(ValueError, match="max_rounds"):
        min_label_components(edges, max_rounds=0)
