"""Every directory a streaming op writes — its checkpoint and its staged
file source — lives under the session root (``operators._workdirs``),
which is removed at exit; nothing is left in the temp dir beside it."""

from __future__ import annotations

import os
import tempfile

import pytest

from esxsnmp_tsdb_spark import registry
from esxsnmp_tsdb_spark.operators import _workdirs
from tests.conftest import SF_SMOKE


@pytest.mark.parametrize(
    "key",
    [
        "stream_topk_talkers",  # streaming.runner: staged source + memory sink
        "stream_cdc_apply",
        "stream_cdc_apply_bucketed",
        "stream_ladder_maintenance",  # streaming.maintenance
    ],
)
def test_streaming_op_writes_only_under_session_root(
    spark, key, tmp_path, monkeypatch
):
    tmp = tmp_path / "tmp"
    root = tmp_path / "root"
    tmp.mkdir()
    root.mkdir()
    monkeypatch.setattr(tempfile, "tempdir", str(tmp))
    monkeypatch.setattr(_workdirs, "_session_root", str(root))
    registry.load_all()
    registry.QUERIES[key](spark, SF_SMOKE).collect()
    assert os.listdir(tmp) == []
    assert os.listdir(root) != []
