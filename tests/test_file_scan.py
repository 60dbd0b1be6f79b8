"""Range-indexed file scan and parse-once ``write_tables``.

The mzML and idXML readers run one task per input file (task ``i`` parses
``paths[i]``) over a ``Range`` scan — no exchange, no RDD of path rows in
front of the parse. ``write_tables`` caches the spectra while it writes more
than one table and always drops that cache before it returns.
"""

from __future__ import annotations

import pytest
from pyspark import StorageLevel
from pyspark.sql import functions as F

from quantms_utils_spark.pipelines import mzml_stats
from quantms_utils_spark.plans import explain_str
from quantms_utils_spark.sources.idxml import read_identifications
from quantms_utils_spark.sources.mzml import read_spectra

PATHS = [f"scanRun{i}.mzML" for i in range(5)]
STEMS = [p.split(".")[0] for p in PATHS]


def _partition_runs(df):
    """{partition id: sorted distinct run names in that partition}."""
    rows = (
        df.select(F.spark_partition_id().alias("pid"), "reference_file_name")
        .distinct()
        .collect()
    )
    out: dict[int, list[str]] = {}
    for r in rows:
        out.setdefault(r["pid"], []).append(r["reference_file_name"])
    return {k: sorted(v) for k, v in out.items()}


@pytest.mark.parametrize(
    "read",
    [
        lambda spark, paths: read_spectra(
            spark, paths, parser="synthetic", synthetic_spectra_per_file=20
        ),
        lambda spark, paths: read_identifications(spark, paths, parser="synthetic"),
    ],
    ids=["read_spectra", "read_identifications"],
)
def test_one_file_per_partition(spark, read):
    df = read(spark, PATHS)
    assert df.rdd.getNumPartitions() == len(PATHS)
    # partition i holds exactly the rows of paths[i]: no file shares a task
    # and no task is left without a file
    assert _partition_runs(df) == {i: [s] for i, s in enumerate(STEMS)}


def test_read_spectra_plan_is_range_under_map_in_pandas(spark):
    plan = explain_str(read_spectra(spark, PATHS, parser="synthetic"), "simple")
    assert "MapInPandas" in plan and "Range (0, 5, step=1, splits=5)" in plan, plan
    assert plan.index("MapInPandas") < plan.index("Range ("), plan
    assert "Exchange" not in plan, plan
    assert "Scan ExistingRDD" not in plan, plan


def test_read_identifications_plan_is_range_under_map_in_pandas(spark):
    plan = explain_str(read_identifications(spark, PATHS, parser="synthetic"), "simple")
    assert "Range (0, 5, step=1, splits=5)" in plan, plan
    assert "Exchange" not in plan and "Scan ExistingRDD" not in plan, plan


class TestWriteTablesCacheLifetime:
    def _spectra(self, spark):
        return read_spectra(spark, PATHS[:2], parser="synthetic")

    def test_cached_during_writes_and_released_after(
        self, spark, tmp_path, monkeypatch
    ):
        spectra = self._spectra(spark)
        seen = []
        real = mzml_stats.compute_ms2_info

        def spy(df):
            seen.append(df.storageLevel)
            return real(df)

        monkeypatch.setattr(mzml_stats, "compute_ms2_info", spy)
        outputs = mzml_stats.write_tables(
            spectra, str(tmp_path), "run", ms2_file=True
        )
        assert set(outputs) == {"ms_info", "ms2_info"}
        assert seen and seen[0] != StorageLevel.NONE  # the 2nd table hit the cache
        assert spectra.storageLevel == StorageLevel.NONE
        assert spark.read.parquet(outputs["ms2_info"]).count() > 0

    def test_released_when_a_write_raises(self, spark, tmp_path):
        spectra = self._spectra(spark)
        not_a_dir = tmp_path / "file"
        not_a_dir.write_text("")
        with pytest.raises(Exception):
            mzml_stats.write_tables(spectra, str(not_a_dir), "run", ms2_file=True)
        assert spectra.storageLevel == StorageLevel.NONE

    def test_single_table_is_not_cached(self, spark, tmp_path, monkeypatch):
        spectra = self._spectra(spark)
        seen = []
        real = mzml_stats.compute_ms_info

        def spy(df, *a, **k):
            seen.append(df.storageLevel)
            return real(df, *a, **k)

        monkeypatch.setattr(mzml_stats, "compute_ms_info", spy)
        mzml_stats.write_tables(spectra, str(tmp_path), "run")
        assert seen == [StorageLevel.NONE]

    def test_caller_cache_is_left_alone(self, spark, tmp_path):
        spectra = self._spectra(spark).persist(StorageLevel.DISK_ONLY)
        try:
            mzml_stats.write_tables(spectra, str(tmp_path), "run", ms2_file=True)
            assert spectra.storageLevel == StorageLevel.DISK_ONLY
        finally:
            spectra.unpersist()
