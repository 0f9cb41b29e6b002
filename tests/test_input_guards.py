"""Latent input assumptions, each either handled or failing loudly:

* two counter samples of one series in the same second (dt = 0) give a
  NULL rate, as the DuckDB oracle does, instead of an ANSI
  DIVIDE_BY_ZERO;
* LSH bucketing refuses an embedding whose width is not the corpus'
  width instead of null-padding it into bucket 0;
* a directory-style (Spark-written) table is stamped over its part
  files, so rewriting one part file invalidates the catalog memo.
"""

from __future__ import annotations

import os
import shutil

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from esxsnmp_tsdb_spark import registry
from esxsnmp_tsdb_spark.operators.similarity import LSH_BUCKET_SQL, _lsh_bucket_expr
from esxsnmp_tsdb_spark.sources import catalog
from esxsnmp_tsdb_spark.session import local_frame
from tests.conftest import SF_SMOKE
from tests.oracle_harness import duck_connection, run_op


def test_ts_rate_same_second_samples_match_oracle(spark, tmp_path):
    sf = str(tmp_path / "sf")
    shutil.copytree(SF_SMOKE, sf)
    path = os.path.join(sf, "events.parquet")
    events = pq.read_table(path)
    first = events.slice(0, 1).to_pylist()[0]
    ts = first["ts"]
    same_second = ts.replace(microsecond=0 if ts.microsecond else 1)
    extra = dict(
        first,
        event_id=max(events.column("event_id").to_pylist()) + 1,
        ts=same_second,
        value=first["value"] + 1.0,
    )
    pq.write_table(
        pa.concat_tables(
            [events, pa.Table.from_pylist([extra], schema=events.schema)]
        ),
        path,
    )
    registry.load_all()
    con = duck_connection(sf)
    try:
        # The copy really has a dt = 0 step, and its rate is NULL.
        zero = con.execute(
            f"WITH r AS ({registry.ORACLE['ts_rate']}) "
            "SELECT count(*) FROM r WHERE rate IS NULL"
        ).fetchone()[0]
        n_paths = con.execute(
            "SELECT count(DISTINCT concat_ws('/', user_id, event_type)) "
            "FROM events"
        ).fetchone()[0]
        assert zero == n_paths + 1
        problems = run_op(
            spark, con, registry.QUERIES["ts_rate"],
            registry.ORACLE["ts_rate"], sf, "ts_rate",
        )
    finally:
        con.close()
    assert not problems, "\n".join(problems)


def _embeddings(spark, rows):
    return local_frame(
        spark,
        [(i, e) for i, e in enumerate(rows)], "vec_id bigint, embedding array<float>"
    )


def test_lsh_bucket_matches_oracle_at_fixed_width(spark):
    rows = [[1.0, -2.0, 3.5, 0.25], [-1.0, 0.5, -3.0, 2.0], [0.0, 0.0, 0.0, 1.0]]
    got = {
        r.vec_id: r.bucket
        for r in _embeddings(spark, rows)
        .select("vec_id", _lsh_bucket_expr(4).alias("bucket"))
        .collect()
    }
    con = duckdb.connect()
    con.execute("CREATE TABLE e (vec_id BIGINT, embedding FLOAT[])")
    con.executemany("INSERT INTO e VALUES (?, ?)", list(enumerate(rows)))
    want = dict(
        con.execute(
            f"SELECT vec_id, {LSH_BUCKET_SQL} FROM "
            "(SELECT *, len(embedding) AS d FROM e)"
        ).fetchall()
    )
    assert got == want


def test_lsh_ragged_width_fails_loud(spark):
    ragged = _embeddings(spark, [[1.0, 2.0, 3.0, 4.0], [1.0, 2.0, 3.0]])
    with pytest.raises(Exception, match="expects embeddings of width 4, got 3"):
        ragged.select(_lsh_bucket_expr(4).alias("bucket")).collect()


def test_directory_table_rewrite_invalidates_memo(spark, tmp_path):
    sf = str(tmp_path / "sf")
    os.makedirs(sf)
    table = os.path.join(sf, "region.parquet")
    rows = pq.read_table(os.path.join(SF_SMOKE, "region.parquet"))
    os.makedirs(table)
    part0 = os.path.join(table, "part-00000.parquet")
    pq.write_table(rows, part0)
    pq.write_table(rows, os.path.join(table, "part-00001.parquet"))
    with open(os.path.join(table, "_SUCCESS"), "w"):
        pass

    first = catalog.load_table(spark, sf, "region")
    assert first.count() == 2 * rows.num_rows
    assert catalog.load_table(spark, sf, "region") is first, "memo miss"
    stamp = catalog._table_stamp(sf, "region")
    assert stamp[2] == 2

    dir_mtime = os.stat(table).st_mtime_ns
    pq.write_table(rows.slice(0, 1), part0)  # rewrite in place
    os.utime(table, ns=(dir_mtime, dir_mtime))  # directory entry unchanged
    assert catalog._table_stamp(sf, "region") != stamp
    second = catalog.load_table(spark, sf, "region")
    assert second is not first, "stale directory listing served"
    assert second.count() == rows.num_rows + 1
