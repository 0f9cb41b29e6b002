"""Per-session working directories for ops that WRITE datasets.

Every directory the engine writes — op outputs, persisted indexes,
streaming checkpoints and source staging — lives under ONE session root,
so repeated bench/test runs never accumulate copies in the temp dir.
Every write-op gets ONE stable directory per op key under that root:

* the same path is returned on every call, so repeated invocations
  overwrite (or, for append-mode ops, explicitly clear) rather than
  accumulate;
* the session root is removed at interpreter exit via ``atexit``, so a
  finished pytest/bench/driver process leaves nothing behind.

Clearing at the START of the next call (not in a ``finally``) is
deliberate: the DataFrame an op returns is lazy and reads the written
files when the CALLER collects it, which happens after the op function
returned but before any op runs again.
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile

# Overridable so a driver can point the scratch space at a big volume.
_BASE = os.environ.get("SPARK_GRAFT_INGEST_DIR")

_session_root: str | None = None


def session_root() -> str:
    """The one scratch root for this process (created lazily, removed at
    exit)."""
    global _session_root
    if _session_root is None:
        if _BASE:
            os.makedirs(_BASE, exist_ok=True)
            _session_root = tempfile.mkdtemp(prefix="session_", dir=_BASE)
        else:
            _session_root = tempfile.mkdtemp(prefix="esxsnmp_tsdb_work_")
        atexit.register(shutil.rmtree, _session_root, ignore_errors=True)
    return _session_root


def op_dir(name: str, fresh: bool = True) -> str:
    """Working directory for op ``name`` — same path every call.

    ``fresh=True`` clears the previous call's contents first; required
    for append-mode writers (a leftover copy would double their counts),
    harmless for overwrite-mode writers.  Safe because the previous
    call's returned DataFrame has already been collected by the time the
    op is invoked again (driver/bench collect between ops).
    """
    d = os.path.join(session_root(), name)
    if fresh and os.path.exists(d):
        shutil.rmtree(d, ignore_errors=True)
    os.makedirs(d, exist_ok=True)
    return d


def fixture_dir(name: str, sf_dir: str, suffix: str = "") -> str:
    """``op_dir`` ``<name>__<sf_dir, / as _><suffix>``, cleared, for an
    index its builder rebuilds on a ``sources.catalog.fixture_memo`` miss."""
    return op_dir(f"{name}__" + sf_dir.strip("/").replace("/", "_") + suffix)


def scratch_dir(prefix: str) -> str:
    """A new, empty directory under the session root — for a streaming
    checkpoint, which must start empty on every query."""
    return tempfile.mkdtemp(prefix=prefix, dir=session_root())
