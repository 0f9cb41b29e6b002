"""The attestation flywheel (registry._attest_order): the driver hashes the
first 50 entries of ``queries()`` per round, so the order must put (1) any
never-attested key first, (2) ops touched this round (`_REATTEST_QUEUE`)
next, then (3) the STALEST previous attestations — keys whose latest driver
hash is oldest (`_HASH_ROUND`), oldest-first.  Without (3) the window would
re-hash the same lowest-registration-index cohort every round."""

import pytest

from esxsnmp_tsdb_spark import registry


def test_queue_heads_the_window():
    # never-attested keys sort BEFORE the queue by design (a new op heads
    # the window), so the queue check applies to the attested prefix only
    order = list(registry.queries())
    queue = [k for k in registry._REATTEST_QUEUE if k in registry.QUERIES]
    attested_head = [k for k in order if k in registry._ATTESTED][: len(queue)]
    assert attested_head == queue


def test_fallthrough_is_stalest_first():
    order = list(registry.queries())
    queue = set(registry._REATTEST_QUEUE)
    rounds = [
        registry._LAST_HASHED.get(k, 0)
        for k in order
        if k not in queue and k in registry._ATTESTED
    ]
    assert rounds == sorted(rounds)


def test_hash_round_covers_attested():
    # regenerated by scripts/update_attested.py --write; a key in _ATTESTED
    # but absent from _HASH_ROUND would silently sort as round 0 (front of
    # the window) forever
    registry.load_all()
    attested = registry._ATTESTED & set(registry.QUERIES)
    assert attested <= set(registry._LAST_HASHED)


def test_window_is_full_and_fresh():
    # the 50-key window must never spend a slot on a key re-hashed in the
    # most recent round unless it is queued for drift re-attestation
    order = list(registry.queries())
    latest = max(registry._HASH_ROUND)
    queue = set(registry._REATTEST_QUEUE)
    for k in order[:50]:
        if k in queue or k not in registry._ATTESTED:
            continue
        assert registry._LAST_HASHED[k] < latest, k


def test_missing_operator_module_raises(monkeypatch):
    # load_all imports every listed module; a missing module (or a
    # missing dependency of one) must fail loudly, never silently drop
    # that module's ops from queries()
    registry.load_all()
    monkeypatch.setattr(
        registry,
        "_OPERATOR_MODULES",
        registry._OPERATOR_MODULES + ("esxsnmp_tsdb_spark.operators.no_such_ops",),
    )
    monkeypatch.setattr(registry, "_loaded", False)
    with pytest.raises(ModuleNotFoundError):
        registry.load_all()
