"""Property-based invariants (SURVEY.md §5.2): wrap/rate correctness for
arbitrary counter sequences, spine density, dedup idempotence.  Examples
kept small — each example is a Spark job."""

from __future__ import annotations

import math

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from esxsnmp_tsdb_spark.functions import tsdb
from esxsnmp_tsdb_spark.session import local_frame

WRAP = 1000

PROP = settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

increments = st.lists(
    st.integers(min_value=0, max_value=WRAP - 1), min_size=1, max_size=20
)


@given(incs=increments)
@PROP
def test_wrap_correction_recovers_increments(spark, incs):
    # A counter that wraps at WRAP: wrap-corrected deltas must equal the
    # true increments, whatever the sequence (each increment < WRAP).
    total = 0
    rows = [("s", 0, 0, 0)]
    for i, inc in enumerate(incs, start=1):
        total += inc
        rows.append(("s", i * 300, total % WRAP, i))
    df = local_frame(
        spark, rows, "path string, tse long, counter long, event_id long"
    )
    out = tsdb.counter_rate(df, "counter", modulus=WRAP)
    got = [
        r.wrapped_delta
        for r in sorted(out.collect(), key=lambda r: r.tse)
        if r.wrapped_delta is not None
    ]
    assert got == incs
    # and rates are never negative for a (wrapped) monotonic counter
    assert all(
        r.rate >= 0 for r in out.collect() if r.rate is not None
    )


@given(
    begin=st.integers(min_value=0, max_value=10_000),
    n_slots=st.integers(min_value=1, max_value=50),
    step=st.sampled_from([60, 300, 3600]),
)
@PROP
def test_spine_density(spark, begin, n_slots, step):
    # The spine always yields exactly ceil((end-begin)/step) slots per
    # path, however sparse the observations.
    begin = begin * step  # slot-aligned begin, like the reference
    end = begin + n_slots * step
    df = local_frame(
        spark,
        [("s", begin + 1, 1.0, 1, 0)],
        "path string, tse long, value double, flags int, event_id long",
    )
    out = tsdb.time_spine(df, begin, end, step)
    assert out.count() == math.ceil((end - begin) / step)
    assert out.filter(F.col("valid")).count() == 1


@given(
    ts_list=st.lists(
        st.integers(min_value=0, max_value=3000), min_size=1, max_size=30
    )
)
@PROP
def test_slot_dedup_idempotent_and_unique(spark, ts_list):
    rows = [("s", t, float(i), 1, i) for i, t in enumerate(ts_list)]
    df = local_frame(
        spark, rows, "path string, tse long, value double, flags int, event_id long"
    )
    once = tsdb.slot_dedup(df, 300)
    twice = tsdb.slot_dedup(once.drop("slot"), 300)
    a = sorted((r.slot, r.value) for r in once.collect())
    b = sorted((r.slot, r.value) for r in twice.collect())
    assert a == b  # idempotent
    slots = [s for s, _ in a]
    assert len(slots) == len(set(slots))  # one row per slot


# --- Counter64: digit-exact decimal pipeline at the 2**64 modulus ---------

C64 = 2**64

counter64_cases = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=2**40),  # increment
        st.integers(min_value=1, max_value=3600),  # dt to next sample
    ),
    min_size=1,
    max_size=16,
)


@given(
    case=counter64_cases,
    gap_to_wrap=st.integers(min_value=0, max_value=2**41),
)
@PROP
def test_counter64_rate_digit_exact(spark, case, gap_to_wrap):
    """A real Counter64 near 2**64: wrapped deltas recover the true
    increments DIGIT-exactly (never through a float64, which cannot
    represent 2**64-adjacent integers), the decimal rate equals Python
    Decimal division at the same scale, and the delta consolidation sums
    are exact."""
    from decimal import ROUND_HALF_UP, Decimal

    from pyspark.sql.types import (
        DecimalType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    # start just below the modulus so the staged sequence actually wraps
    start = C64 - 1 - gap_to_wrap
    rows, total, tse = [("p", 0, Decimal(start % C64), 0)], start, 0
    for i, (inc, dt) in enumerate(case, start=1):
        total += inc
        tse += dt
        rows.append(("p", tse, Decimal(total % C64), i))
    schema = StructType(
        [
            StructField("path", StringType()),
            StructField("tse", LongType()),
            StructField("counter", DecimalType(38, 0)),
            StructField("event_id", LongType()),
        ]
    )
    df = local_frame(spark, rows, schema)
    out = sorted(
        tsdb.counter_rate(df, "counter", modulus=C64).collect(),
        key=lambda r: r.tse,
    )
    deltas_got = [r.wrapped_delta for r in out[1:]]
    # digit-exact increments (each staged increment < the modulus)
    assert deltas_got == [Decimal(inc) for inc, _ in case]
    # decimal rate == Python Decimal division quantized at the same scale
    for r, (inc, dt) in zip(out[1:], case):
        assert r.rate is not None
        scale = -r.rate.as_tuple().exponent
        want = (Decimal(inc) / Decimal(dt)).quantize(
            Decimal(1).scaleb(-scale), rounding=ROUND_HALF_UP
        )
        assert r.rate == want, (r.rate, want, inc, dt)
    # consolidation: exact decimal bucket sums, no double transit
    cons = tsdb.delta_consolidate(df, "counter", C64, 600)
    got = {(r.path, r.slot): r.delta_total for r in cons.collect()}
    want_sums: dict = {}
    tse = 0
    for inc, dt in case:
        tse += dt
        k = ("p", tse - tse % 600)
        want_sums[k] = want_sums.get(k, Decimal(0)) + Decimal(inc)
    assert got == want_sums


@given(st.integers(min_value=0, max_value=10**15), st.integers(min_value=1, max_value=10**9))
@settings(max_examples=300, deadline=None)
def test_integer_round_half_up_identity(n, d):
    """(2n + d) // (2d) is exact round-half-up of n/d — the identity the
    utilization/rate micro-unit path (analytics5, streaming_ops2,
    aggregator2.ts_wrap_eta) relies on for cross-engine hash stability.
    Verified against Fraction arithmetic, no floats anywhere."""
    from fractions import Fraction

    got = (2 * n + d) // (2 * d)
    q = Fraction(n, d)
    lo = q.numerator // q.denominator  # floor
    frac = q - lo
    want = lo + (1 if frac >= Fraction(1, 2) else 0)
    assert got == want


# ---- round-6 algorithmic guarantees (winnowing, CDC chunking) ----

_tok = st.integers(min_value=0, max_value=29).map(lambda i: f"w{i}")
_toklist = lambda lo, hi: st.lists(_tok, min_size=lo, max_size=hi)  # noqa: E731


def _docs_df(spark, docs):
    return local_frame(
        spark,
        [(i, " ".join(toks)) for i, toks in enumerate(docs)],
        "doc_id long, text string",
    )


@given(
    shared=_toklist(9, 14),  # >= WINNOW_W + WINNOW_K - 1 = 9 tokens
    p1=_toklist(0, 6),
    p2=_toklist(0, 6),
    s1=_toklist(0, 6),
    s2=_toklist(0, 6),
)
@PROP
def test_winnowing_guarantee(spark, shared, p1, p2, s1, s2):
    """The published winnowing guarantee: two docs sharing a token run
    of length >= w+k-1 MUST share at least one fingerprint, whatever
    surrounds the run (Schleimer et al. §2 — the property the MOSS
    detector is built on)."""
    from esxsnmp_tsdb_spark.operators.curation8 import winnow_fingerprints

    df = _docs_df(spark, [p1 + shared + s1, p2 + shared + s2])
    fps = winnow_fingerprints(df).collect()
    a = {r.fp for r in fps if r.doc_id == 0}
    b = {r.fp for r in fps if r.doc_id == 1}
    assert a & b, (sorted(a), sorted(b))


@given(toks=_toklist(2, 40))
@PROP
def test_cdc_tail_deletion_preserves_all_but_last_chunk(spark, toks):
    """Dropping the LAST token must leave every chunk except the final
    one bit-identical — the content-defined locality that fixed-width
    chunking lacks."""
    from esxsnmp_tsdb_spark.operators.curation8 import cdc_chunk_table

    df = _docs_df(spark, [toks, toks[:-1]])
    rows = cdc_chunk_table(df).collect()
    import collections

    sig0 = collections.Counter(r.sig for r in rows if r.doc_id == 0)
    sig1 = collections.Counter(r.sig for r in rows if r.doc_id == 1)
    n_chunks = sum(sig0.values())
    matched = sum(min(sig0[s], sig1[s]) for s in sig0)
    assert matched >= n_chunks - 1, (n_chunks, matched)


@given(toks=_toklist(3, 40), data=st.data())
@PROP
def test_cdc_substitution_is_local(spark, toks, data):
    """Substituting ONE token changes at most the chunk containing it
    plus one boundary-adjacent neighbour; everything else re-shares."""
    from esxsnmp_tsdb_spark.operators.curation8 import cdc_chunk_table

    pos = data.draw(st.integers(min_value=0, max_value=len(toks) - 1))
    repl = data.draw(_tok.filter(lambda t: t != toks[pos]))
    mutated = toks[:pos] + [repl] + toks[pos + 1 :]
    df = _docs_df(spark, [toks, mutated])
    rows = cdc_chunk_table(df).collect()
    import collections

    sig0 = collections.Counter(r.sig for r in rows if r.doc_id == 0)
    sig1 = collections.Counter(r.sig for r in rows if r.doc_id == 1)
    n_chunks = sum(sig0.values())
    matched = sum(min(sig0[s], sig1[s]) for s in sig0)
    assert matched >= n_chunks - 2, (n_chunks, matched, toks, pos, repl)


@given(
    toks=st.lists(
        st.tuples(
            st.integers(min_value=1, max_value=50),  # token count
            st.sampled_from(["a", "b"]),  # partition key
        ),
        min_size=1,
        max_size=20,
    ),
    budget=st.integers(min_value=1, max_value=200),
)
@PROP
def test_budget_prefix_matches_reference(spark, toks, budget):
    """The token-budget prefix convention (curation5.budget_hash_col /
    budget_cum_window, shared by sample_token_budget and
    pipeline_pretraining_mix): for ANY doc-length multiset and budget,
    the kept set must equal a sequential walk of each partition in
    (md5-hash, doc_id) order keeping docs while the running token total
    stays within budget — i.e. the distributed window is exactly the
    deterministic greedy prefix, independent of input order and
    partitioning."""
    import hashlib

    from esxsnmp_tsdb_spark.operators.curation5 import (
        budget_cum_window,
        budget_hash_col,
    )

    rows = [(i, part, tok) for i, (tok, part) in enumerate(toks)]
    df = local_frame(spark, rows, "doc_id long, part string, tok long")
    out = (
        df.select("doc_id", "part", "tok", budget_hash_col().alias("h"))
        .withColumn("cum", F.sum("tok").over(budget_cum_window("part")))
        .filter(F.col("cum") <= budget)
    )
    got = sorted(r.doc_id for r in out.collect())

    # reference: per-partition greedy prefix in (md5-prefix, doc_id) order
    expect = []
    for part in {p for _, p, _ in rows}:
        members = sorted(
            ((hashlib.md5(str(i).encode()).hexdigest()[:16], i, tok)
             for i, p, tok in rows if p == part),
        )
        running = 0
        for _, i, tok in members:
            running += tok
            if running > budget:
                break
            expect.append(i)
    assert got == sorted(expect)
