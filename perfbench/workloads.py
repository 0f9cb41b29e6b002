"""The two workloads.  Each is a closed loop with one client: a call is
issued only after the previous one returned.  A workload runs in *passes*
(a fixed, seed-shuffled script), so every run times the same multiset of
calls and run-to-run spread comes from the system, not from the draw.

- ``curation_batch``: one pass of the dedup chain over a 500-document
  corpus (sf0.01).  Long serial job chains, eager checkpoints and the
  largest shuffles.
- ``facade_ingest``: the reference object API (``api.TSDB``) with writes
  beside reads, aggregate maintenance and compaction.  The only workload on
  ``api``, ``sources.ladder``, ``sources.compaction`` and the write path.
"""

from __future__ import annotations

import os
import random
import time

import datagen

CURATION_SF = 0.01

# Independent chain steps; connected components always runs directly
# before cluster_size_stats, whose job count shows whether it reused them.
CHAIN_UNITS = (
    ("dedup_near_minhash",),
    ("minhash_jaccard_estimate",),
    ("dedup_connected_components", "dedup_cluster_size_stats"),
    ("dedup_semantic_cells",),
    ("dedup_threshold_sweep",),
    ("pipeline_pretraining_mix",),
)


class CurationBatch:
    """A curation batch runs once per process, so its users pay the
    first-call (JIT, codegen) costs on every run: the timed pass is the
    process's first, with no warm-up.  Each op's output is collected to
    the driver, as a batch report is, and checked against the oracle
    afterwards."""

    name = "curation_batch"
    # What one closed-loop request of the workload's client is: a "call"
    # (each op or API call) or a whole "pass".  The client submits the
    # whole batch and waits.
    request = "pass"

    def __init__(self, seed: int, work_dir: str):
        self.seed = seed
        self.data_dir = os.path.join(work_dir, "data", f"sf{CURATION_SF}")
        self.first_df: dict = {}
        self.outputs: dict = {}

    def generate(self) -> None:
        datagen.write(self.seed, CURATION_SF, self.data_dir)

    def warm_and_check(self, runner) -> None:
        pass  # no warm-up: see the class docstring

    def pass_script(self, i: int) -> list[str]:
        units = list(CHAIN_UNITS)
        random.Random(self.seed * 7919 + i).shuffle(units)
        return [k for unit in units for k in unit]

    def run_pass(self, runner, i: int) -> None:
        for key in self.pass_script(i):
            built, out = [], []

            def build(key=key):
                built.append(runner.op_fns[key](runner.spark, self.data_dir))
                return built[0]

            runner.call(key, "query", build, lambda df: out.append(df.toPandas()))
            if out and key not in self.first_df:
                self.first_df[key], self.outputs[key] = built[0], out[0]

    def verify(self, runner) -> None:
        oracle_check(runner, self.data_dir, self.outputs)

    def plan_counts(self) -> dict[str, tuple[int, list[str]]]:
        """Exchange count (simple-mode plan) and plan violations of each
        op, read from the frames the first timed pass built.  Each is read
        through an alias, which plans the frame afresh: an executed
        adaptive plan would print its final and its initial plan."""
        from esxsnmp_tsdb_spark.plans import plan_str, plan_violations

        out = {}
        for key, df in self.first_df.items():
            built = df.alias("_plan")
            out[key] = (plan_str(built, "simple").count("Exchange"), plan_violations(built))
        return out


def oracle_check(runner, sf_dir: str, outputs: dict) -> None:
    """Compare op outputs (key -> pandas frame) with their DuckDB oracle
    through tests/oracle_harness.py: its connection, and its ``compare``
    for columns and dtypes (on the frames' empty heads).  The rows are
    compared inside DuckDB instead (``_row_diff``), with a float tolerance
    wider than ``compare``'s 1e-9.  Ops without an oracle get a rows-only
    check, as in the driver contract.  An empty output fails: an empty
    oracle would check nothing."""
    import oracle_harness

    con = oracle_harness.duck_connection(sf_dir)
    for key, got in outputs.items():
        problems = [] if len(got) else [f"{key}: no rows"]
        if key in runner.oracle:
            want = con.execute(runner.oracle[key]).fetchdf()
            problems += oracle_harness.compare(got.head(0), want.head(0), key)
            if len(got) != len(want):
                problems.append(f"{key}: row count {len(got)} vs {len(want)}")
            if not problems:
                problems += _row_diff(con, got, want, key)
        runner.check(key, problems)
    con.close()


# Floats match within an absolute or a relative tolerance.  Spark and
# DuckDB can round an exact tie (a cosine of 0.0646875, rounded to 6
# decimals) in opposite directions, and they sum doubles in different
# orders, so a rounded sum can land on either side of a rounding boundary.
# Both show as one unit in the last decimal kept.
FLOAT_ABS_TOL, FLOAT_REL_TOL = 1.5e-6, 1e-8


def _row_diff(con, got, want, key: str) -> list[str]:
    """Rows that differ between two frames with the same columns and row
    count.  Equal sums of the rows' 64-bit hashes settle it fast.  Else
    both frames are sorted on every column (floats last) and compared row
    by row, floats within the tolerances above."""
    cols = sorted(got.columns)
    floats = [c for c in cols if got[c].dtype.kind == "f"]
    quoted = ", ".join(f'"{c}"' for c in cols)
    con.register("got", got)
    con.register("want", want)
    try:
        sums = [
            con.execute(f"SELECT sum(hash({quoted})) FROM {t}").fetchone()[0]
            for t in ("got", "want")
        ]
        if sums[0] == sums[1]:
            return []
        order = ", ".join(f'"{c}"' for c in [c for c in cols if c not in floats] + floats)
        same = " AND ".join(
            f'(g."{c}" IS NOT DISTINCT FROM w."{c}"'
            + (
                f' OR abs(g."{c}" - w."{c}") <= '
                f'greatest({FLOAT_ABS_TOL}, {FLOAT_REL_TOL} * abs(w."{c}")))'
                if c in floats else ")"
            )
            for c in cols
        )
        numbered = f"SELECT *, row_number() OVER (ORDER BY {order}) AS pb_row__ FROM"
        bad = con.execute(
            f"SELECT count(*) FROM ({numbered} got) g JOIN ({numbered} want) w "
            f"USING (pb_row__) WHERE NOT ({same})"
        ).fetchone()[0]
    finally:
        con.unregister("got")
        con.unregister("want")
    return [f"{key}: {bad} rows differ from the oracle's"] if bad else []


# -- facade_ingest ---------------------------------------------------------

STEP = 30
LADDER = ("+5m", "+1h", "+1d")
N_VARS = 2
ROUNDS = 2
BATCH_SLOTS = 120  # one hour of 30 s samples per insert batch
T0 = 1_704_067_200  # 2024-01-01T00:00:00Z
REWRITE_P, HIDDEN_P, INVALID_P = 0.05, 0.03, 0.02
VAR_NAMES = ("ifHCInOctets", "ifHCOutOctets", "ifInErrors", "ifOutErrors")


class VarModel:
    """Pure-Python last-write-wins model of one var (the reference's slot
    semantics): slot -> (ingest_seq, tse, flags, value)."""

    def __init__(self, path: str):
        self.path = path
        self.slots: dict[int, tuple] = {}
        self.seq = 0

    def insert(self, rows) -> None:
        for tse, value, flags in rows:
            self.seq += 1
            self.slots[tse - tse % STEP] = (self.seq, tse, flags, value)

    def select(self, begin: int, end: int) -> list[tuple]:
        lo, hi = begin - begin % STEP, (end - 1) - (end - 1) % STEP
        out = []
        for slot in range(lo, hi + 1, STEP):
            if slot in self.slots:
                _, tse, flags, value = self.slots[slot]
                out.append((tse, flags, value, slot))
            else:
                out.append((slot, 0, None, slot))
        return out

    def timerange(self, begin: int, end: int, step: int) -> list[tuple]:
        lo = begin - begin % step
        hi = (end - 1) - (end - 1) % step + step
        sums: dict[int, list] = {}
        for slot, (_, _, flags, value) in self.slots.items():
            if flags & 1 and lo <= slot < hi:
                acc = sums.setdefault(slot - slot % step, [0.0, 0])
                acc[0] += value
                acc[1] += 1
        return [
            (self.path, s, acc[0] / acc[1], acc[1]) for s, acc in sorted(sums.items())
        ]

    def get_last(self) -> tuple:
        slot = max(s for s, r in self.slots.items() if r[2] & 1)
        _, tse, flags, value = self.slots[slot]
        return (tse, flags, value, slot)


def _rows_match(got: list[tuple], want: list[tuple]) -> bool:
    if len(got) != len(want):
        return False
    for g, w in zip(got, want):
        for a, b in zip(g, w):
            if isinstance(a, float) and isinstance(b, float):
                if abs(a - b) > 1e-9 * max(1.0, abs(b)):
                    return False
            elif a != b:
                return False
    return True


class FacadeIngest:
    name = "facade_ingest"
    request = "call"

    def __init__(self, seed: int, work_dir: str):
        self.seed = seed
        self.work_dir = work_dir
        self.rng = random.Random(seed)
        self.reads: list[tuple] = []  # (label, got rows, expected rows)
        self.user_bytes = 0
        self.disk_bytes = 0
        self.files_per_var: list[int] = []

    def generate(self) -> None:
        pass  # batches are drawn from the seed as each pass runs

    def _batch(self, model: VarModel, state: dict, hour: int) -> list[tuple]:
        rng = self.rng
        rows = []
        for k in range(BATCH_SLOTS):
            slot = T0 + hour * 3600 + k * STEP
            state["counter"] += rng.uniform(1e5, 1e6) * STEP
            value, flags = round(state["counter"], 1), 1
            u = rng.random()
            if u < INVALID_P:
                value, flags = None, 0
            elif u < INVALID_P + HIDDEN_P:
                flags = 1 | 2
            rows.append((slot + rng.randrange(STEP), value, flags))
        # Rewrites of already-written slots (earlier batches or this one):
        # the later write must win.
        written = list(model.slots) + [r[0] - r[0] % STEP for r in rows]
        for _ in range(int(BATCH_SLOTS * REWRITE_P)):
            slot = rng.choice(written)
            rows.append((slot + rng.randrange(STEP), round(rng.uniform(0, 1e9), 1), 1))
        return rows

    def _reads(self, runner, var, model: VarModel, hour: int, tag: str) -> None:
        begin, end = T0 + hour * 3600, T0 + (hour + 1) * 3600
        box = []
        runner.call(
            "select", "read",
            lambda: var.select(begin, end),
            lambda df: box.append([tuple(r) for r in df.collect()]),
        )
        if box:
            self.reads.append((f"{tag} select", box.pop(), model.select(begin, end)))
        runner.call(
            "timerange", "read",
            lambda: var.timerange(T0, end, step=3600),
            lambda df: box.append([tuple(r) for r in df.collect()]),
        )
        if box:
            self.reads.append(  # the ladder's output is unordered
                (f"{tag} timerange", sorted(box.pop()), model.timerange(T0, end, 3600))
            )
        runner.call("get_last", "read", lambda: box.append(tuple(var.get_last())))
        if box:
            self.reads.append((f"{tag} get_last", [box.pop()], [model.get_last()]))

    def _script(self, runner, root: str, i: int, timed: bool) -> None:
        from esxsnmp_tsdb_spark.api import TSDB

        db = TSDB.create(runner.spark, root)
        dev = db.add_set(f"router{i}")
        names = VAR_NAMES[: N_VARS if timed else 1]
        tsvars = [dev.add_var(n, step=STEP, type_id="Counter64") for n in names]
        for v in tsvars:
            for spec in LADDER:
                v.add_aggregate(spec)
        models = [VarModel(v.path) for v in tsvars]
        states = [{"counter": self.rng.uniform(0, 1e12)} for _ in tsvars]
        rounds = ROUNDS if timed else 1
        for hour in range(rounds):
            for v, m, st in zip(tsvars, models, states):
                rows = self._batch(m, st, hour)
                runner.call(
                    "insert_batch", "insert",
                    lambda v=v, r=rows: v.insert_batch(r), rows=len(rows),
                )
                m.insert(rows)
            j = hour % len(tsvars)
            self._reads(runner, tsvars[j], models[j], hour, f"pass{i} h{hour}")
        if timed:
            self.files_per_var.extend(v.file_count() for v in tsvars)
        for v in tsvars:
            runner.call("update_all_aggregates", "maintenance", v.update_all_aggregates)
            runner.call("compact", "maintenance", v.compact)
        for v, m in zip(tsvars, models):
            self._reads(runner, v, m, rounds - 1, f"pass{i} final")
        if timed:
            # 20 user bytes per row: an 8 B timestamp, an 8 B value and
            # 4 B of flags.
            self.user_bytes += 20 * sum(len(m.slots) for m in models)
            self.disk_bytes += sum(
                os.path.getsize(os.path.join(d, f))
                for d, _, fs in os.walk(root)
                for f in fs
            )

    def warm_and_check(self, runner) -> None:
        """Warm-up: one var through one insert round, maintenance and reads
        on a scratch database.  Its reads are checked like the timed ones."""
        t0 = time.perf_counter()
        self._script(runner, os.path.join(self.work_dir, "tsdb", "warmup"), -1, False)
        runner.setup_program_s += time.perf_counter() - t0

    def run_pass(self, runner, i: int) -> None:
        self._script(runner, os.path.join(self.work_dir, "tsdb", f"pass{i}"), i, True)

    def verify(self, runner) -> None:
        """Every read against the last-write-wins model."""
        for label, got, want in self.reads:
            ok = _rows_match(got, want)
            runner.check(label, [] if ok else [f"{label}: {got[:2]} != {want[:2]}"])

    def plan_counts(self) -> dict:
        return {}


WORKLOADS = {w.name: w for w in (CurationBatch, FacadeIngest)}
