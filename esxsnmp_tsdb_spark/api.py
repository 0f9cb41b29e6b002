"""Reference object-API façade: ``TSDB / TSDBSet / TSDBVar`` (SURVEY.md
§1.1, §3.1–§3.3 — ``tsdb/__init__.py · TSDB / TSDBSet / TSDBVar`` †).

A user porting reference-era code drives this lifecycle:

    db  = TSDB.create(spark, root)          # † TSDB.create(path)
    rtr = db.add_set("router1")             # † TSDBSet.add_set
    var = rtr.add_var("inOctets", step=300) # † TSDBSet.add_var
    var.insert(tse, value)                  # † TSDBVar.insert (slot LWW)
    db.get_var("router1/inOctets").select(begin, end)   # † TSDBVar.select

Everything delegates to the engine's existing functions — this is a
discoverability wrapper, not a second engine:

- the set/var tree is a directory tree, each node carrying the reference's
  flat ``TSDB_METADATA`` key=value text file († TSDBBase.load_metadata /
  save_metadata), with STEP / HEARTBEAT / TYPE_ID / LAST_UPDATE keys;
- observations live per-var as parquet appends with an ``ingest_seq``
  batch counter, so slot-addressed overwrite (last-write-wins per slot,
  † TSDBVar.insert positional overwrite) replays deterministically through
  ``row_number`` — same semantics as operators/ingest.py `ts_merge_upsert`;
- ``select(begin, end)`` materializes never-written slots as invalid rows
  (flags=0, value NULL) on a dense ``range`` spine († TSDBVar.select
  yielding invalid rows) — the `ts_time_spine` pattern;
- ``get`` / ``get_last`` are the `ts_point_lookup` / `ts_last_known`
  semantics against the var's own step.

Driver-side rows (an insert batch, the empty frame of an empty window)
become DataFrames through ``session.local_frame``: an Arrow local
relation the JVM scans in place, never a Python list that Spark would
parallelize into slices served by Python workers.

Scale note: the façade's per-var parquet directory mirrors the reference's
per-var chunk files 1:1 (compat path, small var counts).  A var holds one
series (a year at a 30 s step is about a million rows), so it is read as
ONE partition (``_rows`` coalesces the scan to 1).  A single partition
satisfies every distribution a façade plan asks for — the LWW window, the
ladder's group-bys, the spine join, ``orderBy`` and top-1 — so no plan
adds an Exchange and every read is one job of one task, instead of
shuffles sized for a distributed table.  On a 4-core host with a
year-sized var (1.05M rows, 12 files or compacted to 1) the one-task
plans were as fast or faster than the shuffled ones for ``select``, raw
``timerange``, ``update_all_aggregates`` and ``compact``; ``get_last``
on the 12-file var was about 0.15 s slower.  Bulk and multi-series
analytics stay on the engine's long-table layout (sources/catalog.py);
nothing in the operator registry depends on this module.

A small var's call time is mostly driver time: each DataFrame step is
analyzed on the JVM and each Column operator is a JVM round trip, so a
read is a few steps over SQL-text expressions, and the ladder's levels
are written concurrently.
"""

from __future__ import annotations

import functools
import os
from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.util import inheritable_thread_target

from esxsnmp_tsdb_spark.functions.tsdb import (
    CF_COLUMN,
    ROW_HIDDEN,
    ROW_VALID,
    slot_of,
)
from esxsnmp_tsdb_spark.session import local_frame

METADATA_FILE = "TSDB_METADATA"
AGG_DIR = "TSDB_AGGREGATES"
_ROW_SCHEMA = "tse long, flags int, value double, ingest_seq long"
_AGG_SCHEMA = (
    "slot long, flags int, average double, total double, vmin double, "
    "vmax double, last double, n long"
)

_AGG_UNITS = {"s": 1, "m": 60, "h": 3600, "d": 86400, "w": 604800}


def parse_agg_spec(spec: int | str) -> int:
    """``"+1h" / "1h" / "+300" / 300`` → step seconds († the reference's
    aggregate names are pdtime-style suffixed steps: 30s/5m/1h/1d)."""
    if isinstance(spec, int):
        step = spec
    else:
        s = spec.strip().lstrip("+")
        if s and s[-1] in _AGG_UNITS:
            step = int(s[:-1]) * _AGG_UNITS[s[-1]]
        else:
            step = int(s)
    if step <= 0:
        raise ValueError(f"aggregate step must be positive: {spec!r}")
    return step


def _flag_mask(mask: int) -> str:
    """SQL predicate for ``select(flags=mask)``: any requested bit set,
    and hidden rows excluded unless ROW_HIDDEN is itself requested — so
    ``mask=ROW_VALID`` is exactly the displayable predicate
    ``flags & 0b11 == 0b01`` (`ts_flag_visibility`'s bit test †) and
    ``mask=ROW_VALID | ROW_HIDDEN`` opts hidden rows back in."""
    keep = f"(flags & {mask}) != 0"
    if not mask & ROW_HIDDEN:
        keep += f" AND (flags & {ROW_HIDDEN}) = 0"
    return keep


# ROW_VALID set, hidden or not: the rows maintenance and get_last see
_VALID = f"(flags & {ROW_VALID}) != 0"


def _slot(tse: int, step: int) -> int:
    """Driver-side twin of ``slot_of``: Spark's ``%`` is truncation-mod
    (sign follows the dividend), Python's is floor-mod — they differ for
    negative timestamps, and a façade slot must land exactly where the
    engine's ``slot_of`` puts the stored row."""
    rem = tse % step if tse >= 0 else -((-tse) % step)
    return tse - rem


def _read_metadata(path: str) -> dict[str, str]:
    meta: dict[str, str] = {}
    with open(os.path.join(path, METADATA_FILE)) as f:
        for line in f:
            line = line.strip()
            if line and "=" in line:
                k, _, v = line.partition("=")
                meta[k] = v
    return meta


def _write_metadata(path: str, meta: dict[str, str]) -> None:
    with open(os.path.join(path, METADATA_FILE), "w") as f:
        for k, v in sorted(meta.items()):
            f.write(f"{k}={v}\n")


class _Node:
    """Shared set/var node behavior († TSDBBase)."""

    def __init__(self, spark: SparkSession, fs_path: str, path: str):
        if not os.path.isfile(os.path.join(fs_path, METADATA_FILE)):
            raise KeyError(f"no TSDB node at {fs_path!r}")
        self.spark = spark
        self.fs_path = fs_path
        self.path = path  # slash-joined logical path ("" for the root)
        self.metadata = _read_metadata(fs_path)

    def save_metadata(self) -> None:
        _write_metadata(self.fs_path, self.metadata)


class TSDBSet(_Node):
    """Namespace node († TSDBSet): nestable grouping of sets and vars."""

    def _child(self, name: str) -> str:
        if "/" in name or name in ("", ".", ".."):
            raise ValueError(f"invalid node name {name!r}")
        return os.path.join(self.fs_path, name)

    def add_set(self, name: str) -> "TSDBSet":
        fs = self._child(name)
        os.makedirs(fs, exist_ok=True)
        if not os.path.isfile(os.path.join(fs, METADATA_FILE)):
            _write_metadata(fs, {"NODE": "set"})
        elif _read_metadata(fs).get("NODE") != "set":
            raise KeyError(f"{name!r} already exists and is a var, not a set")
        return TSDBSet(self.spark, fs, f"{self.path}/{name}".lstrip("/"))

    def add_var(
        self,
        name: str,
        step: int = 300,
        heartbeat: int | None = None,
        type_id: str = "Gauge32",
    ) -> "TSDBVar":
        fs = self._child(name)
        os.makedirs(fs, exist_ok=True)
        if not os.path.isfile(os.path.join(fs, METADATA_FILE)):
            _write_metadata(
                fs,
                {
                    "NODE": "var",
                    "STEP": str(step),
                    "HEARTBEAT": str(heartbeat if heartbeat is not None else 3 * step),
                    "TYPE_ID": type_id,
                    "LAST_SEQ": "0",
                    "VERSION": "1",
                },
            )
        elif _read_metadata(fs).get("NODE") != "var":
            # get-or-create returns the EXISTING var (step/heartbeat args
            # are then ignored, † TSDBSet.add_var), but a kind mismatch is
            # always a caller bug — fail here, not on a later .step access
            raise KeyError(f"{name!r} already exists and is a set, not a var")
        return TSDBVar(self.spark, fs, f"{self.path}/{name}".lstrip("/"))

    def _walk(self, kind: str) -> list[str]:
        out = []
        for dirpath, _dirnames, filenames in os.walk(self.fs_path):
            if dirpath != self.fs_path and METADATA_FILE in filenames:
                if _read_metadata(dirpath).get("NODE") == kind:
                    out.append(os.path.relpath(dirpath, self.fs_path).replace(os.sep, "/"))
        return sorted(out)

    def list_sets(self) -> list[str]:
        return self._walk("set")

    def list_vars(self) -> list[str]:
        return self._walk("var")

    def get_set(self, path: str) -> "TSDBSet":
        node = self._get(path)
        if not isinstance(node, TSDBSet):
            raise KeyError(f"{path!r} is a var, not a set")
        return node

    def get_var(self, path: str) -> "TSDBVar":
        node = self._get(path)
        if not isinstance(node, TSDBVar):
            raise KeyError(f"{path!r} is a set, not a var")
        return node

    def _get(self, path: str) -> "_Node":
        parts = path.split("/")
        if any(p in ("", ".", "..") or os.sep in p for p in parts):
            raise KeyError(f"invalid node path {path!r}")
        fs = os.path.join(self.fs_path, *parts)
        kind = _read_metadata(fs).get("NODE") if os.path.isfile(
            os.path.join(fs, METADATA_FILE)
        ) else None
        if kind is None:
            raise KeyError(f"no such node {path!r}")
        cls = TSDBVar if kind == "var" else TSDBSet
        return cls(self.spark, fs, f"{self.path}/{path}".lstrip("/"))


class TSDB(TSDBSet):
    """Database root († TSDB): ``TSDB.create(spark, root)`` then
    ``TSDB(spark, root)`` to reopen."""

    def __init__(self, spark: SparkSession, root: str):
        super().__init__(spark, root, "")

    @classmethod
    def create(cls, spark: SparkSession, root: str) -> "TSDB":
        if os.path.isfile(os.path.join(root, METADATA_FILE)):
            raise FileExistsError(f"TSDB already exists at {root!r}")
        os.makedirs(root, exist_ok=True)
        _write_metadata(root, {"NODE": "set", "TSDB_VERSION": "4"})
        return cls(spark, root)


class TSDBVar(_Node):
    """One series († TSDBVar): slot-quantized rows, last-write-wins.

    A var may carry an aggregate ladder († ``TSDBVar.add_aggregate`` /
    ``update_all_aggregates`` — SURVEY §1.1 ``Aggregate`` row type, §3.2):
    each aggregate is a child var at ``<var>/TSDB_AGGREGATES/+<spec>``
    with ``TYPE_ID=Aggregate``, reachable through ``get_var`` with the
    reference's path shape.  Aggregate rows carry the consolidation
    columns ``(average, total, vmin, vmax, last, n)`` and are rebuilt by
    ``update_all_aggregates`` through ``sources/ladder.build_ladder`` —
    coarse levels cascade from the next finer level, never from raw (†).
    """

    @property
    def step(self) -> int:
        return int(self.metadata["STEP"])

    @property
    def is_aggregate(self) -> bool:
        return self.metadata.get("TYPE_ID") == "Aggregate"

    def _locked(self):
        """Advisory write lock for this var's store: an exclusive
        ``flock`` on the var's own metadata file — or the OWNING var's
        for an aggregate child, so one lock serializes ``insert_batch``,
        ``add_aggregate``, ``update_all_aggregates``, and ``compact``
        across the whole ladder (the reference's one-persister-per-var
        rule, enforced).  Each call locks a freshly opened fd, so
        threads in one process serialize like separate processes."""
        from contextlib import contextmanager

        fs = self.fs_path
        if self.is_aggregate:
            fs = os.path.dirname(os.path.dirname(fs))

        @contextmanager
        def hold():
            import fcntl

            with open(os.path.join(fs, METADATA_FILE)) as lockf:
                fcntl.flock(lockf, fcntl.LOCK_EX)
                try:
                    yield
                finally:
                    fcntl.flock(lockf, fcntl.LOCK_UN)

        return hold()

    @property
    def heartbeat(self) -> int:
        return int(self.metadata["HEARTBEAT"])

    @property
    def _data(self) -> str:
        return os.path.join(self.fs_path, "data")

    def insert(self, tse: int, value: float | None, flags: int = ROW_VALID) -> None:
        self.insert_batch([(tse, value, flags)])

    # -- aggregate ladder ------------------------------------------------

    @staticmethod
    def _agg_name(spec: int | str) -> str:
        s = str(spec).strip()
        return s if s.startswith("+") else "+" + s

    def list_aggregates(self) -> list[str]:
        """Configured aggregate specs in ladder (finest-first) order."""
        raw = self.metadata.get("AGGREGATES", "")
        names = [s for s in raw.split(",") if s]
        return sorted(names, key=parse_agg_spec)

    def get_aggregate(self, spec: int | str) -> "TSDBVar":
        """Resolve a configured level by spec or step seconds — '+1d',
        '1d', and 86400 all name the same stored aggregate."""
        step = parse_agg_spec(spec)
        by_step = {parse_agg_spec(n): n for n in self.list_aggregates()}
        if step not in by_step:
            raise KeyError(
                f"var {self.path!r} has no aggregate {self._agg_name(spec)!r}"
            )
        name = by_step[step]
        fs = os.path.join(self.fs_path, AGG_DIR, name)
        return TSDBVar(self.spark, fs, f"{self.path}/{AGG_DIR}/{name}")

    def add_aggregate(self, spec: int | str) -> "TSDBVar":
        """Configure a consolidation level († ``TSDBVar.add_aggregate``):
        records the spec in this var's metadata and creates the child
        aggregate var.  Idempotent per step.  The full ladder must chain —
        the finest level a multiple of the var's step, every coarser level
        a multiple of the previous — because each level is cascaded from
        the next finer one (`sources/ladder.build_ladder` enforces the
        same invariant)."""
        if self.is_aggregate:
            raise ValueError("aggregates of aggregates are not supported")
        step = parse_agg_spec(spec)
        name = self._agg_name(spec)
        # The whole read-validate-write runs under the var lock: an
        # unlocked metadata rewrite here would race insert_batch's
        # LAST_SEQ bump and could write a stale counter back.
        with self._locked():
            self.metadata = _read_metadata(self.fs_path)
            existing = {parse_agg_spec(n): n for n in self.list_aggregates()}
            if step in existing:
                return self.get_aggregate(existing[step])
            chain = sorted(existing) + [step]
            chain.sort()
            if chain[0] % self.step != 0:
                raise ValueError(
                    f"finest aggregate {chain[0]} is not a multiple of var "
                    f"step {self.step}"
                )
            for a, b in zip(chain, chain[1:]):
                if b % a != 0:
                    raise ValueError(
                        f"aggregate ladder must chain: {b} is not a multiple "
                        f"of finer level {a}"
                    )
            fs = os.path.join(self.fs_path, AGG_DIR, name)
            os.makedirs(fs, exist_ok=True)
            if not os.path.isfile(os.path.join(fs, METADATA_FILE)):
                _write_metadata(
                    fs,
                    {
                        "NODE": "var",
                        "STEP": str(step),
                        "HEARTBEAT": str(3 * step),
                        "TYPE_ID": "Aggregate",
                        "LAST_SEQ": "0",
                        "VERSION": "1",
                    },
                )
            names = [
                s for s in self.metadata.get("AGGREGATES", "").split(",") if s
            ]
            if name not in names:
                names.append(name)
            self.metadata["AGGREGATES"] = ",".join(
                sorted(names, key=parse_agg_spec)
            )
            self.save_metadata()
        return self.get_aggregate(name)

    def update_all_aggregates(self) -> None:
        """Rebuild every configured level from this var's current rows
        († ``TSDBVar.update_all_aggregates``): the finest level aggregates
        the last-write-wins valid rows, each coarser level cascades from
        the previous via `sources/ladder.build_ladder` (weighted mean =
        sum/count, so cascade ≡ direct — the `ts_agg_cascade` identity).
        Hidden rows still count: ROW_HIDDEN suppresses display, not
        maintenance (`ts_flag_visibility` semantics †).

        Runs under the var lock (serialized against inserts, config
        changes, and ladder compaction).  The LWW-resolved valid rows
        are localCheckpointed once, so the per-level writes re-run only
        the cheap cascade aggregations — not the raw scan + LWW window
        per level.  The checkpointed scan reports no partitioning, so it
        is coalesced back to the var's one partition: one checkpoint job,
        then one single-task job per level, with no Exchange, the levels
        written concurrently, one thread per level.  Every thread is
        joined before the lock is released, and the finest failing
        level's error is raised only then.  A crash mid-upkeep can leave
        any subset of levels rewritten; each level is a whole overwrite,
        so the next upkeep repairs them all."""
        from esxsnmp_tsdb_spark.sources.compaction import recover_swap
        from esxsnmp_tsdb_spark.sources.ladder import build_ladder

        with self._locked():
            recover_swap(self._data)  # lock held: heal directly
            self.metadata = _read_metadata(self.fs_path)
            names = self.list_aggregates()
            if not names:
                return
            steps = tuple(parse_agg_spec(n) for n in names)
            obs = (
                self._lww(self._rows(), _VALID)
                # post-LWW a slot holds one row, so tse alone orders the
                # "last" consolidation; the event_id tiebreak is moot
                .select(F.lit(self.path).alias("path"),
                        *map(F.expr, ("tse", "value", "0L AS event_id")))
                .localCheckpoint(eager=True)
                .coalesce(1)
            )
            ladder = build_ladder(obs, levels=steps)

            # Lock-free work only: _heal and _data_files take the lock
            # this thread holds, so a worker calling them would deadlock.
            def write(agg: TSDBVar, out: DataFrame) -> None:
                recover_swap(agg._data)  # clear stale swap debris too
                out.write.mode("overwrite").parquet(agg._data)
                agg.metadata["LAST_UPDATE"] = self.metadata.get("LAST_UPDATE", "0")
                agg.save_metadata()

            levels = [
                (self.get_aggregate(name), ladder[step].selectExpr(
                    "slot", f"{ROW_VALID} AS flags", "average", "total",
                    "vmin", "vmax", "last", "n",
                ))
                for name, step in zip(names, steps)
            ]
            # One wrapper per thread: each carries its own clone of the
            # caller's local properties (job group) and the session's
            # tags; threads sharing a clone would share its SQL execution id.
            with ThreadPoolExecutor(len(levels)) as pool:
                done = [
                    pool.submit(inheritable_thread_target(self.spark)(write), *lv)
                    for lv in levels
                ]
            for level in done:  # the pool has joined every thread
                level.result()

    def insert_batch(self, rows) -> None:
        """Append one ingest batch; every row gets its own LAST_SEQ
        counter value (position within the batch included), so slot
        overwrite (last insert wins, † TSDBVar.insert) replays
        deterministically regardless of file listing order — including
        two same-slot rows inside one batch.

        Writer concurrency: the LAST_SEQ read-modify-write (and the data
        append it numbers) runs under an advisory ``flock`` on the var's
        metadata file, so concurrent writers in separate processes cannot
        mint duplicate ingest_seq values and break the LWW replay — the
        reference's one-persister-per-var rule, enforced instead of
        assumed.  Each call locks its own freshly opened fd, so the
        blocking ``flock`` serializes threads within one process as well
        as separate processes.

        Transport: the batch reaches the JVM as one typed Arrow table
        (``session.local_frame``) and is written by one single-task job.
        As a Python list it would start one Python worker per
        ``defaultParallelism`` slice inside that job, a fixed cost that
        dominated small batches.  A flag outside ``int`` range or a
        non-numeric value raises before any part file is written."""
        if self.is_aggregate:
            raise ValueError(
                "aggregate vars are maintained by update_all_aggregates, "
                "not inserted into"
            )
        norm = [
            (int(r[0]), None if r[1] is None else float(r[1]),
             int(r[2]) if len(r) > 2 else ROW_VALID)
            for r in rows
        ]
        if not norm:
            return
        from esxsnmp_tsdb_spark.sources.compaction import recover_swap

        with self._locked():
            # A parquet append would silently recreate a data dir whose
            # compaction died mid-swap, hiding the ._old history until
            # the next recovery deletes it — heal before writing.
            recover_swap(self._data)
            # Re-read LAST_SEQ under the lock: two coexisting handles
            # to the same var must not mint duplicate ingest_seq
            # values (the LWW tiebreak depends on every batch getting
            # a strictly later counter).
            self.metadata = _read_metadata(self.fs_path)
            seq0 = int(self.metadata["LAST_SEQ"])
            df = local_frame(
                self.spark,
                [
                    (t, fl, v, seq0 + 1 + i)
                    for i, (t, v, fl) in enumerate(norm)
                ],
                _ROW_SCHEMA,
            )
            df.coalesce(1).write.mode("append").parquet(self._data)
            self.metadata["LAST_SEQ"] = str(seq0 + len(norm))
            prev_update = int(self.metadata.get("LAST_UPDATE", "0"))
            self.metadata["LAST_UPDATE"] = str(
                max(prev_update, max(t for (t, _v, _fl) in norm))
            )
            self.save_metadata()

    def _heal(self) -> None:
        """If a compaction swap died mid-flight (data dir gone, ``._old``
        intact), roll it back — under the var lock, so an in-flight
        compaction is waited out rather than raced, and concurrent
        readers serialize instead of racing the same rename.  No-op in
        the common case (one isdir check).  Never call while already
        holding the lock; locked paths call ``recover_swap`` directly."""
        if not os.path.isdir(self._data) and os.path.isdir(
            self._data + "._old"
        ):
            from esxsnmp_tsdb_spark.sources.compaction import recover_swap

            with self._locked():
                recover_swap(self._data)

    def _data_files(self) -> list[str]:
        """Committed parquet files currently backing this var (heals an
        interrupted compaction swap first; an existing dir with no
        committed part-files — e.g. a killed overwrite — reports [])."""
        self._heal()
        if not os.path.isdir(self._data):
            return []
        return [
            f for f in os.listdir(self._data) if f.endswith(".parquet")
        ]

    def _rows(self) -> DataFrame:
        schema = _AGG_SCHEMA if self.is_aggregate else _ROW_SCHEMA
        self._heal()
        if not os.path.isdir(self._data):
            return local_frame(self.spark, [], schema)
        return self.spark.read.schema(schema).parquet(self._data).coalesce(1)

    @functools.cached_property
    def _lww_cols(self) -> tuple:
        """The LWW projection's Columns, built once per handle: a Column
        chain costs a JVM round trip per operator, a reused one none."""
        slot = slot_of(F.expr("tse"), self.step)
        w = Window.partitionBy(slot).orderBy(F.desc("ingest_seq"), F.desc("tse"))
        return (*map(F.expr, ("tse", "flags", "value")), slot.alias("slot"),
                F.row_number().over(w).alias("_rn"))

    def _lww(self, df: DataFrame, keep: str) -> DataFrame:
        """Last-write-wins per slot (later ingest_seq, then later tse),
        then the winners that satisfy ``keep``: one projection carrying
        the ``row_number`` window, then one filter.  Adds ``slot``; drops
        ``ingest_seq`` and leaves the ``_rn`` rank column."""
        return df.select(*self._lww_cols).filter(f"_rn = 1 AND {keep}")

    def select(
        self, begin: int, end: int, flags: int | None = None
    ) -> DataFrame:
        """One row per slot overlapping ``[begin, end)`` († TSDBVar.select
        is slot-addressed): each covered slot yields its last-write-wins
        row, never-written slots materialize as invalid rows (flags=0,
        value NULL †) unless a ``flags`` mask filters them out.

        Mask semantics (SURVEY §8 ledger: displayable =
        ``flags & 0b11 == 0b01`` is the ``TSDBVar.select(flags=…)``
        predicate, same bit test as `ts_flag_visibility`): a row is kept
        when any requested bit is set AND, unless ROW_HIDDEN is itself
        requested, the row is not hidden — ``flags=ROW_VALID`` yields
        exactly the displayable rows (valid and not hidden);
        ``flags=ROW_VALID | ROW_HIDDEN`` opts back into hidden rows."""
        if self.is_aggregate:
            return self._select_agg(begin, end, flags)
        step = self.step
        if end <= begin:  # empty or inverted window
            return local_frame(
                self.spark, [], "tse long, flags int, value double, slot long"
            )
        lo, hi = _slot(begin, step), _slot(end - 1, step)
        # Slot-complete filtering: last-write-wins must see EVERY row of
        # a covered slot — clipping at `end` would resurrect an
        # overwritten value (or blank an occupied slot) whenever the
        # window ends mid-slot and the slot's winning row sits past it.
        # The exact membership test is on the slot value (under
        # truncation-mod, slot 0 spans (-step, step), so tse bounds alone
        # cannot delimit it); the surrounding tse range is a conservative
        # superset that still pushes down to the parquet scan.
        present = self._lww(
            self._rows().filter(f"tse > {lo - step} AND tse < {hi + step}"),
            f"slot BETWEEN {lo} AND {hi}",
        )
        return self._spine_join(
            lo, hi, present, flags, "coalesce(tse, id) AS tse",
            "coalesce(flags, 0) AS flags", "value", "id AS slot",
        )

    def _select_agg(self, begin: int, end: int, flags: int | None) -> DataFrame:
        """Aggregate-var select: one Aggregate row per stored slot in
        ``[begin, end)`` — consolidation columns, never-materialized slots
        as invalid rows, same mask semantics as raw select."""
        step = self.step
        if end <= begin:
            return local_frame(self.spark, [], _AGG_SCHEMA)
        lo, hi = _slot(begin, step), _slot(end - 1, step)
        present = self._rows().filter(f"slot BETWEEN {lo} AND {hi}")
        return self._spine_join(
            lo, hi, present, flags, "id AS slot", "coalesce(flags, 0) AS flags",
            "average", "total", "vmin", "vmax", "last", "n",
        )

    def _spine_join(
        self, lo: int, hi: int, present: DataFrame, flags: int | None, *cols: str
    ) -> DataFrame:
        """Every slot in ``[lo, hi]`` (``id``) left-joined to the stored
        ``present`` rows on ``slot``, projected to ``cols``, masked by
        ``flags``, ordered by slot.  The spine is one range slice and
        ``present`` one partition, so a shuffled hash join needs no
        Exchange — left to size-based planning, ``present`` would be
        broadcast."""
        out = (
            self.spark.range(lo, hi + 1, self.step, 1)
            .join(present.hint("shuffle_hash"), F.expr("id = slot"), "left")
            .selectExpr(*cols)
        )
        if flags is not None:
            out = out.filter(_flag_mask(flags))
        return out.orderBy("slot")

    def timerange(
        self, begin: int, end: int, step: int | None = None,
        cf: str = "average",
    ) -> DataFrame:
        """``GET …?begin&end&agg=<step>&cf=<cf>`` through the façade
        (``esxsnmp/api.py`` † — SURVEY §3.3): ``step=None`` returns the
        raw slot select; otherwise route to the coarsest stored aggregate
        level that divides ``step`` (`sources/ladder.pick_level`), slice
        whole covered slots, and re-consolidate if the request is coarser
        than stored — exactly `sources/ladder.timerange` (its
        ``serve_level`` tail once routed), fed from this var's
        maintained ``TSDB_AGGREGATES`` levels.

        The var's own rows always participate as the ladder's raw level
        (each LWW slot is a 1-sample consolidation), so a request at or
        below the finest stored aggregate — including ``step ==
        self.step`` — is served from raw instead of failing.  Configured
        levels whose data was never built (``add_aggregate`` without a
        later ``update_all_aggregates``) are excluded from routing rather
        than silently answering empty.  ``begin``/``end`` are aligned
        outward to whole requested-step buckets, the same slot-overlap
        convention ``select`` uses.

        The level is picked from the built levels' steps before any
        DataFrame is built, and only that level is read — one job with
        no Exchange, as every read of the var's single partition."""
        if step is None:
            return self.select(begin, end)
        from esxsnmp_tsdb_spark.sources.ladder import pick_level, serve_level

        # Validate cf even when the window is empty: a bad cf is a
        # caller bug and must not depend on the window being non-empty.
        if cf not in CF_COLUMN:
            raise ValueError(f"unknown consolidation function {cf!r}")
        if end <= begin:  # empty request stays empty, like select's
            return local_frame(
                self.spark, [], "path string, slot long, value double, n long"
            )

        # Route before building: only the routed level becomes a
        # DataFrame.  The raw level wins the tie when a stored level has
        # the var's own step, so a row inserted after the last ladder
        # rebuild is still served.
        built = {}
        for name in self.list_aggregates():
            agg = self.get_aggregate(name)
            # committed part-files, not bare isdir: a killed overwrite
            # leaves an existing-but-empty dir, and a crashed compaction
            # leaves the data in ._old (healed by _data_files) — neither
            # should route as "built" / "never built" wrongly
            if agg._data_files():
                built[agg.step] = agg
        stored = pick_level(tuple(sorted({*built, self.step})), step)
        if stored == self.step:
            # Raw level: every LWW valid row is a 1-sample consolidation
            # at the var's own step; a NULL value is an unknown sample
            # (n = 0), as in `functions/tsdb.consolidation_partial`.
            rows = self._lww(self._rows(), _VALID)
            cols = [f"value AS {c}" for c in ("average", "total", "vmin", "vmax", "last")]
            cols.append("CAST(value IS NOT NULL AS BIGINT) AS n")
        else:
            rows = built[stored]._rows().filter(_VALID)
            cols = ["average", "total", "vmin", "vmax", "last", "n"]
        level = rows.select(
            F.lit(self.path).alias("path"), *map(F.expr, ["slot", *cols])
        )
        lo = _slot(begin, step)
        hi_excl = _slot(end - 1, step) + step
        return serve_level(level, stored, lo, hi_excl, step, cf)

    def get(self, tse: int):
        """The row in the slot containing ``tse`` († TSDBVar.get)."""
        slot = _slot(tse, self.step)
        return self.select(slot, slot + self.step).collect()[0]

    def get_last(self):
        """Latest valid row († TSDBVar.get_last)."""
        if self.is_aggregate:
            rows = self._rows().filter(_VALID)
        else:
            rows = self._lww(self._rows(), _VALID).drop("_rn")
        last = rows.orderBy(F.desc("slot")).limit(1).collect()
        if not last:
            raise KeyError(f"var {self.path!r} has no valid rows")
        return last[0]

    def file_count(self) -> int:
        """Parquet data files currently backing this var (one per insert
        batch until :meth:`compact` folds them).  Heals an interrupted
        compaction swap first, so it never reports 0 for a var whose
        history sits in ``._old``."""
        return len(self._data_files())

    def compact(self) -> None:
        """Fold the one-file-per-insert-batch append history into
        ~target-sized sorted files (`sources/compaction.compact_flat`),
        under the var's write lock so compaction never races an insert.
        ``ingest_seq`` rides along, so last-write-wins winners are
        identical before and after — the façade twin of
        `storage_compaction_integrity` (operators/storage.py)."""
        if not os.path.isdir(self._data) and not os.path.isdir(
            self._data + "._old"
        ):
            return
        from esxsnmp_tsdb_spark.sources.compaction import compact_flat

        # For an aggregate child the lock is the OWNING var's, so
        # compaction never races update_all_aggregates' overwrite.
        with self._locked():
            if self.is_aggregate:
                compact_flat(
                    self.spark, self._data,
                    sort_cols=("slot",), schema=_AGG_SCHEMA,
                )
            else:
                compact_flat(
                    self.spark, self._data,
                    sort_cols=("tse", "ingest_seq"), schema=_ROW_SCHEMA,
                )
