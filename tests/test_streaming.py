"""The AvailableNow incremental-streaming wrapper of the extraction job."""

from pyspark.sql import functions as F


def test_available_now_streaming(spark, tmp_path):
    from py_image_toolkit_spark.config import ExtractConfig
    from py_image_toolkit_spark.fixtures import pages_df
    from py_image_toolkit_spark.sources.tables import SnapshotTable
    from py_image_toolkit_spark.streaming import run_available_now

    inp = str(tmp_path / "incoming")
    pages_df(spark, 20).write.parquet(inp)
    out = SnapshotTable(str(tmp_path / "out"))
    runs = SnapshotTable(str(tmp_path / "runs"))

    run_available_now(spark, inp, out, runs, str(tmp_path / "ckpt"),
                      ExtractConfig(), max_files_per_trigger=4)
    assert out.read(spark).count() == 40  # 20 urls × 2 rules, exactly once

    # drain again with new files landing: only the new urls are processed
    pages_df(spark, 30).filter(F.xxhash64("url") % 3 == 0).write.mode("append").parquet(inp)
    run_available_now(spark, inp, out, runs, str(tmp_path / "ckpt"),
                      ExtractConfig(), max_files_per_trigger=4)
    dupes = out.read(spark).groupBy("url", "rule").count().filter("count > 1").count()
    assert dupes == 0
