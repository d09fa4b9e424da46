"""Prepare-job phase checkpointing + per-tile lineage audit (north rule:
"checkpoints per-partition with lineage + row-count metrics for resumable
re-runs"). Reference job shape: osmquadtree-prepare.go (one-shot); the
resume semantics are this engine's addition for 10^12-doc bulk runs."""

import os
import shutil
import sys

import pytest


def _run(spark, docs, out, **kw):
    from jobs.prepare_job import prepare_pipeline

    return prepare_pipeline(
        spark, docs, out, target=500, minimum=250, **kw
    )


@pytest.fixture(scope="module")
def prep(spark, tmp_path_factory):
    from osmquadtree_bin_spark.datagen import gen_docs_dist

    out = str(tmp_path_factory.mktemp("prep_resume"))
    docs = gen_docs_dist(spark, n_docs=800, seed=7, partitions=4)
    stages, arts = _run(spark, docs, out)
    return docs, out, stages, arts


def test_lineage_rows_match_group_expectations(spark, prep):
    _docs, _out, stages, arts = prep
    assert stages["lineage"] > 0
    # per-phase host metrics (north rule): every timed phase carries its
    # own process-group CPU cost (steal- and neighbor-immune, hostmetrics);
    # the counters are /proc-backed, so Linux-only by contract
    if sys.platform == "linux":
        assert stages.get("parse_qt_pg_cpu_s", 0) > 0
    lin = spark.read.parquet(arts["lineage_path"]).toPandas()
    # every tile accounted for, actual == expected, totals == n_elements
    assert len(lin) == len(arts["groups"])
    assert (lin["rows"] == lin["expected_rows"]).all()
    assert int(lin["rows"].sum()) == arts["n_elements"]


def test_resume_skips_committed_phases(spark, prep):
    docs, out, _stages, arts1 = prep
    stages2, arts2 = _run(spark, docs, out, resume=True)
    assert arts2["resumed_phases"] == ["parse_qt", "assign_write_tiled"]
    assert stages2["parse_qt"] == 0.0 and stages2["assign_write_tiled"] == 0.0
    # deterministic driver phases recompute identically
    assert arts2["groups"].equals(arts1["groups"])
    assert arts2["n_elements"] == arts1["n_elements"]


def test_resume_after_kill_between_phases(spark, prep):
    """Killed-after-parse shape: tiles/ gone, elements/ committed — resume
    redoes ONLY the write, and the rewritten store matches the original."""
    docs, out, _stages, arts1 = prep
    n_before = spark.read.parquet(arts1["tiled_path"]).count()
    shutil.rmtree(arts1["tiled_path"])
    stages3, arts3 = _run(spark, docs, out, resume=True)
    assert arts3["resumed_phases"] == ["parse_qt"]
    assert stages3["assign_write_tiled"] > 0
    assert spark.read.parquet(arts3["tiled_path"]).count() == n_before
    lin = spark.read.parquet(arts3["lineage_path"]).toPandas()
    assert (lin["rows"] == lin["expected_rows"]).all()


def test_resume_rejects_changed_parameters(spark, prep):
    docs, out, _stages, _arts = prep
    from jobs.prepare_job import prepare_pipeline

    with pytest.raises(ValueError, match="different parameters"):
        prepare_pipeline(
            spark, docs, out, target=400, minimum=200, resume=True
        )


def test_apply_diff_then_resume_and_overwrite_semantics(spark, tmp_path):
    """Regression (round-4 verdict #1): apply_diff's dynamic partition
    overwrite must be scoped to its own DataFrameWriter, not the session.
    After it runs in this session: (a) the session conf is still static,
    (b) a resumable prepare still sees its _SUCCESS checkpoints, and (c) a
    partitioned full overwrite truly truncates stale partitions."""
    from pyspark.sql import functions as F

    from osmquadtree_bin_spark.datagen import gen_docs_dist
    from osmquadtree_bin_spark.streaming.update import TiledStore

    out = str(tmp_path / "prep")
    docs = gen_docs_dist(spark, n_docs=400, seed=13, partitions=2)
    _s1, arts1 = _run(spark, docs, out)

    st = TiledStore(spark, str(tmp_path / "store"))
    st.write_initial(spark.read.parquet(arts1["tiled_path"]))
    diff = (
        st.read().limit(3)
        .withColumn("changetype", F.lit("modify"))
        .withColumn("version", F.lit(1))
    )
    assert st.apply_diff(diff, state=1)

    # (a) no session-wide leak
    assert spark.conf.get(
        "spark.sql.sources.partitionOverwriteMode", "STATIC"
    ).upper() == "STATIC"

    # (b) resume in the SAME session still skips committed phases
    stages2, arts2 = _run(spark, docs, out, resume=True)
    assert arts2["resumed_phases"] == ["parse_qt", "assign_write_tiled"]
    assert stages2["assign_write_tiled"] == 0.0

    # (c) static overwrite truncates: the k=1 partition must not survive
    p = str(tmp_path / "plain")
    spark.range(10).withColumn("k", (F.col("id") % 2).cast("int")).write.mode(
        "overwrite"
    ).partitionBy("k").parquet(p)
    spark.range(4).withColumn("k", F.lit(0)).write.mode("overwrite").partitionBy(
        "k"
    ).parquet(p)
    assert os.path.exists(os.path.join(p, "_SUCCESS"))
    ks = sorted(r["k"] for r in spark.read.parquet(p).select("k").distinct().collect())
    assert ks == [0]


def test_killed_run_pins_checkpoint_before_first_phase(spark, tmp_path, monkeypatch):
    """A run killed mid-pipeline leaves committed phase outputs behind;
    checkpoint.json must already exist so a later --resume with different
    parameters is rejected instead of silently mixing layouts."""
    from jobs.prepare_job import prepare_pipeline
    from osmquadtree_bin_spark import tiling
    from osmquadtree_bin_spark.datagen import gen_docs_dist

    out = str(tmp_path / "killed")
    docs = gen_docs_dist(spark, n_docs=300, seed=11, partitions=2)

    def boom(*_a, **_k):
        raise RuntimeError("simulated kill")

    monkeypatch.setattr(tiling, "find_groups", boom)
    with pytest.raises(RuntimeError, match="simulated kill"):
        prepare_pipeline(spark, docs, out, target=500, minimum=250)
    assert os.path.exists(os.path.join(out, "checkpoint.json"))
    assert os.path.exists(os.path.join(out, "elements", "_SUCCESS"))

    monkeypatch.undo()
    with pytest.raises(ValueError, match="different parameters"):
        prepare_pipeline(spark, docs, out, target=400, minimum=200, resume=True)
    stages, arts = prepare_pipeline(
        spark, docs, out, target=500, minimum=250, resume=True
    )
    assert arts["resumed_phases"] == ["parse_qt"]
    assert stages["assign_write_tiled"] > 0


def test_uncommitted_output_is_not_a_checkpoint(spark, tmp_path):
    """A phase dir WITHOUT _SUCCESS (killed mid-write) must re-run."""
    from osmquadtree_bin_spark.datagen import gen_docs_dist

    out = str(tmp_path / "prep2")
    docs = gen_docs_dist(spark, n_docs=300, seed=9, partitions=2)
    _stages, arts = _run(spark, docs, out)
    os.remove(os.path.join(arts["elements_path"], "_SUCCESS"))
    stages2, arts2 = _run(spark, docs, out, resume=True)
    assert "parse_qt" not in arts2["resumed_phases"]
    assert stages2["parse_qt"] > 0


def test_lineage_footer_path_equals_distributed_count(spark, tmp_path):
    """The hive-layout lineage audit reads the written tiles' parquet
    footers driver-side (the Iceberg-manifest analogue); the non-partitioned
    layout takes the distributed count. Same tiles in, identical audit
    table out — and the fast path must not have launched a Spark scan of
    the store (footer metadata only)."""
    from osmquadtree_bin_spark.datagen import gen_docs_dist

    docs = gen_docs_dist(spark, n_docs=600, seed=13, partitions=2)
    _s1, a1 = _run(spark, docs, str(tmp_path / "hive"), partition_by_tile=True)
    _s2, a2 = _run(spark, docs, str(tmp_path / "flat"), partition_by_tile=False)
    lin1 = (
        spark.read.parquet(a1["lineage_path"])
        .toPandas()
        .sort_values("tile_idx")
        .reset_index(drop=True)
    )
    lin2 = (
        spark.read.parquet(a2["lineage_path"])
        .toPandas()
        .sort_values("tile_idx")
        .reset_index(drop=True)
    )
    for col in ("tile_idx", "tile_qt", "rows", "expected_rows"):
        assert lin1[col].astype("int64").tolist() == lin2[col].astype(
            "int64"
        ).tolist(), col
    assert (lin1["rows"] == lin1["expected_rows"]).all()


def test_tile_rows_from_footers_fallbacks(tmp_path):
    """Non-partitioned layout and over-budget file counts decline the
    driver walk (→ distributed count)."""
    from osmquadtree_bin_spark.footers import tile_rows_from_footers

    assert tile_rows_from_footers(str(tmp_path)) is None  # no tile dirs
    d = tmp_path / "tile_idx=3"
    d.mkdir()
    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(pa.table({"id": [1, 2, 3]}), str(d / "f.parquet"))
    assert tile_rows_from_footers(str(tmp_path)) == {3: 3}
    assert tile_rows_from_footers(str(tmp_path), max_files=0) is None


def test_lineage_overwrite_clears_stale_part_files(spark, tmp_path):
    """Re-running prepare into the SAME work_dir with a different layout
    flag (distributed-count audit first, footer fast path second) must
    OVERWRITE the lineage table, not union the old part files with the new
    one."""
    from osmquadtree_bin_spark.datagen import gen_docs_dist

    docs = gen_docs_dist(spark, n_docs=600, seed=13, partitions=2)
    out = str(tmp_path / "re")
    _run(spark, docs, out, partition_by_tile=False)  # Spark part files
    _s, arts = _run(spark, docs, out, partition_by_tile=True)  # fast path
    lin = spark.read.parquet(arts["lineage_path"]).toPandas()
    assert len(lin) == len(arts["groups"])  # no unioned stale rows
    assert (lin["rows"] == lin["expected_rows"]).all()


def test_lineage_fast_path_keeps_tile_qt_exact_on_anomaly(tmp_path):
    """The anomaly path (a written tile absent from groups) triggers an
    outer merge; tile_qt packs the quadtree path in bits >= 2^53, so a
    float64 round-trip would silently corrupt EVERY key. Exercise the same
    pandas shape the fast path uses and pin exactness."""
    import pandas as pd
    import pyarrow.parquet as pq

    big = (1 << 61) | 1  # depth bit would be destroyed by float64
    expected = pd.DataFrame(
        {"tile_idx": [0], "tile_qt": [big], "expected_rows": [5]}
    )
    exp = expected.copy()
    exp["tile_qt"] = exp["tile_qt"].astype("Int64")
    adf = pd.DataFrame({"tile_idx": [0, 7], "rows": [5, 2]})  # 7 = anomaly
    lin = exp.merge(adf, on="tile_idx", how="outer")
    assert str(lin["tile_qt"].dtype) == "Int64"
    assert lin.loc[lin["tile_idx"] == 0, "tile_qt"].iloc[0] == big
    assert pd.isna(lin.loc[lin["tile_idx"] == 7, "tile_qt"]).all()
