"""Round-15 ADVICE regressions — one test per advisor finding.

1. ``table_file_bytes`` must count what Spark's reader lists: both the
   os.walk fast path and the Hadoop listing fallback skip marker files
   (``_SUCCESS``, ``.part-*.crc``) and ``_``/``.`` directories (a
   crashed write's ``_temporary/``), and keep ``=``-named partition
   directories, so directory-shaped tables report data bytes only.
(The asof NULL-left-pred carry fix is pinned in
tests/test_asof_same_scan.py::test_same_scan_null_left_pred_carries.)
"""

from __future__ import annotations

import os

from weather_etl_pipeline_spark.catalog import table_file_bytes


def test_table_file_bytes_skips_hidden_and_marker_files(tmp_path):
    tdir = tmp_path / "mytable.parquet"
    tdir.mkdir()
    (tdir / "part-00000.snappy.parquet").write_bytes(b"x" * 1000)
    (tdir / "part-00001.snappy.parquet").write_bytes(b"y" * 500)
    # Hadoop artifacts the ChecksumFileSystem listing never returned
    (tdir / "_SUCCESS").write_bytes(b"")
    (tdir / ".part-00000.snappy.parquet.crc").write_bytes(b"z" * 64)
    (tdir / "._COMMITTED_123").write_bytes(b"w" * 32)
    # spark unused on the local-dir fast path
    assert table_file_bytes(None, str(tmp_path), "mytable") == 1500


def test_table_file_bytes_single_file_and_amplification(tmp_path):
    (tmp_path / "t.parquet").write_bytes(b"a" * 123)
    assert table_file_bytes(None, str(tmp_path), "t") == 123
    # @xN amplification multiplies fact-table listings; 't' is not a
    # fact table so replication stays 1
    assert table_file_bytes(None, str(tmp_path) + "@x10", "t") == 123


def test_table_file_bytes_dir_amplification_counts_data_only(tmp_path):
    from weather_etl_pipeline_spark.catalog import _SCALE_FACT_TABLES

    name = sorted(_SCALE_FACT_TABLES)[0]
    tdir = tmp_path / f"{name}.parquet"
    tdir.mkdir()
    (tdir / "part-00000.snappy.parquet").write_bytes(b"x" * 100)
    (tdir / "_SUCCESS").write_bytes(b"")
    assert table_file_bytes(None, str(tmp_path) + "@x10", name) == 1000


def _partitioned_table_with_debris(tmp_path) -> int:
    """A directory table with partition dirs and a crashed write's
    leftovers; returns its data bytes."""
    tdir = tmp_path / "ptable.parquet"
    for part, size in (("year=2020", 100), ("_flag=1", 40)):
        (tdir / part).mkdir(parents=True)
        (tdir / part / "part-00000.snappy.parquet").write_bytes(b"x" * size)
    # an aborted job's attempt dir, a hidden dir and a marker file
    tmp = tdir / "_temporary" / "0" / "_temporary" / "attempt_0"
    tmp.mkdir(parents=True)
    (tmp / "part-00000.snappy.parquet").write_bytes(b"t" * 7000)
    (tdir / ".staging").mkdir()
    (tdir / ".staging" / "part-00001.snappy.parquet").write_bytes(b"s" * 900)
    (tdir / "year=2020" / "_SUCCESS").write_bytes(b"")
    return 140


def test_table_file_bytes_prunes_hidden_dirs_keeps_partitions(tmp_path):
    want = _partitioned_table_with_debris(tmp_path)
    assert table_file_bytes(None, str(tmp_path), "ptable") == want


def test_table_file_bytes_hadoop_listing_matches_local_walk(spark, tmp_path):
    # a file: URI is not an os path, so this takes the Hadoop listing
    want = _partitioned_table_with_debris(tmp_path)
    assert table_file_bytes(spark, f"file:{tmp_path}", "ptable") == want
