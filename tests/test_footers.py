"""Footer-walk failure paths: every error the walk can meet returns None, the
documented "fall back to a distributed count" signal, and logs why."""

import logging
import os
import sys

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from osmquadtree_bin_spark import footers


@pytest.fixture()
def layout(tmp_path):
    """A two-tile hive layout: tile_idx=0 with 3 rows, tile_idx=1 with 2."""
    for t, n in ((0, 3), (1, 2)):
        d = tmp_path / f"tile_idx={t}"
        d.mkdir()
        pq.write_table(pa.table({"id": list(range(n))}), d / "part-0.parquet")
    return str(tmp_path)


def test_footer_walk_counts(layout):
    assert footers.tile_rows_from_footers(layout) == {0: 3, 1: 2}
    assert footers.tile_rows_from_footers(layout, tiles=[1, 7]) == {1: 2}
    assert footers.tile_rows_from_footers(layout, tiles=[7]) == {}


def test_missing_pyarrow_falls_back(layout, monkeypatch, caplog):
    monkeypatch.setitem(sys.modules, "pyarrow.parquet", None)  # import fails
    with caplog.at_level(logging.WARNING, logger=footers.__name__):
        assert footers.tile_rows_from_footers(layout) is None
    assert "no pyarrow" in caplog.text


def test_arrow_error_beyond_invalid_falls_back(layout, monkeypatch, caplog):
    def boom(path):
        raise pa.ArrowNotImplementedError("unsupported footer feature")

    assert not issubclass(pa.ArrowNotImplementedError, (OSError, ValueError, KeyError))
    monkeypatch.setattr(pq, "read_metadata", boom)
    with caplog.at_level(logging.WARNING, logger=footers.__name__):
        assert footers.tile_rows_from_footers(layout) is None
    assert "ArrowNotImplementedError" in caplog.text


def test_truncated_footer_falls_back(layout, caplog):
    f = os.path.join(layout, "tile_idx=1", "part-0.parquet")
    with open(f, "r+b") as fh:
        fh.truncate(os.path.getsize(f) // 2)
    with caplog.at_level(logging.WARNING, logger=footers.__name__):
        assert footers.tile_rows_from_footers(layout, tiles=[1]) is None
    assert "failed" in caplog.text


def test_parquet_rows_counts(layout):
    assert footers.parquet_rows(os.path.join(layout, "tile_idx=0")) == 3
    assert footers.parquet_rows(layout) is None  # no *.parquet at this level


def test_parquet_rows_missing_pyarrow_falls_back(layout, monkeypatch, caplog):
    monkeypatch.setitem(sys.modules, "pyarrow.parquet", None)  # import fails
    with caplog.at_level(logging.WARNING, logger=footers.__name__):
        assert footers.parquet_rows(os.path.join(layout, "tile_idx=0")) is None
    assert "no pyarrow" in caplog.text


def test_parquet_rows_arrow_error_falls_back(layout, monkeypatch, caplog):
    def boom(path):
        raise pa.ArrowNotImplementedError("unsupported footer feature")

    monkeypatch.setattr(pq, "read_metadata", boom)
    with caplog.at_level(logging.WARNING, logger=footers.__name__):
        assert footers.parquet_rows(os.path.join(layout, "tile_idx=0")) is None
    assert "ArrowNotImplementedError" in caplog.text
