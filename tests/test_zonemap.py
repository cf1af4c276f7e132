"""Zone-map file pruning (hllspark/zonemap.py): per-file min/max + Bloom
sidecars must never drop a matching row (Bloom has no false negatives),
must actually skip files, and must behave identically on sorted and
shuffled layouts."""

import os
import shutil

import pyspark.sql.functions as F
import pytest

from hllspark import zonemap as zm


@pytest.fixture(scope="module")
def events(spark):
    return spark.read.parquet("/root/testdata/sf0.001/events.parquet")


def _roundtrip(spark, df, path, probe, layout_df):
    shutil.rmtree(path, ignore_errors=True)
    meta = zm.write_with_zonemaps(
        layout_df, path, ["user_id"], expected_keys_per_file=5000, fpp=0.01
    )
    assert meta["m_bits"] % 8 == 0 and meta["k"] >= 1
    files, total = zm.pruned_files(spark, path, "user_id", probe)
    got = sorted(
        zm.read_pruned(spark, path, "user_id", probe).collect()
    )
    want = sorted(
        spark.read.parquet(path).where(F.col("user_id").isin(probe)).collect()
    )
    assert got == want  # row-identical to the full scan's filter
    return files, total


def test_zonemap_sorted_layout_prunes_by_range(spark, events):
    probe = [int(r["user_id"]) for r in events.limit(3).collect()]
    files, total = _roundtrip(
        spark,
        events,
        "/tmp/hllspark_test_zm_sorted",
        probe,
        events.repartitionByRange(8, "user_id"),
    )
    assert total == 8
    assert 0 < len(files) < total  # min/max alone prunes a sorted layout


def test_zonemap_shuffled_layout_prunes_by_bloom(spark, events):
    # one present key: every file spans the full range, so only the Bloom
    # layer can prune; with ~15 users per sf0.001 each file likely holds
    # most keys — use an ABSENT key for the hard guarantee and a present
    # key for the no-false-negative equality
    present = [int(events.first()["user_id"])]
    path = "/tmp/hllspark_test_zm_shuffled"
    files, total = _roundtrip(
        spark, events, path, present, events.repartition(8)
    )
    assert total == 8
    absent = [999_999_999]
    f2, t2 = zm.pruned_files(spark, path, "user_id", absent)
    assert f2 == []  # min/max + bloom rule out every file
    assert zm.read_pruned(spark, path, "user_id", absent).count() == 0
    # empty-prune result keeps the table schema
    assert (
        zm.read_pruned(spark, path, "user_id", absent).schema
        == spark.read.parquet(path).schema
    )


def test_zonemap_string_keys_and_meta(spark):
    df = spark.range(2000).select(
        (F.col("id") % 50).alias("k"),
        F.concat(F.lit("host-"), (F.col("id") % 40).cast("string")).alias("host"),
    )
    path = "/tmp/hllspark_test_zm_str"
    shutil.rmtree(path, ignore_errors=True)
    zm.write_with_zonemaps(
        df.repartitionByRange(6, "host"), path, ["host", "k"],
        expected_keys_per_file=1000,
    )
    meta = zm.zonemap_meta(path)
    assert set(meta["cols"]) == {"host", "k"}
    got = sorted(
        zm.read_pruned(spark, path, "host", ["host-7", "host-33"]).collect()
    )
    want = sorted(
        spark.read.parquet(path)
        .where(F.col("host").isin(["host-7", "host-33"]))
        .collect()
    )
    assert got == want
    files, total = zm.pruned_files(spark, path, "host", ["host-7"])
    assert 0 < len(files) < total
    # second indexed column works independently
    got_k = zm.read_pruned(spark, path, "k", [7]).count()
    assert got_k == 40
    # an explicit m_bits sizes k for that bitmap, not for the fpp-optimal one
    zm.build_zonemaps(
        spark, path, ["host"], expected_keys_per_file=1000, m_bits=4096
    )
    meta = zm.zonemap_meta(path)
    assert (meta["m_bits"], meta["k"]) == (4096, 3)  # round(4096/1000 ln 2)
    assert zm.read_pruned(spark, path, "host", ["host-7"]).count() == 50


def test_zonemap_all_null_file_skipped(spark):
    df = spark.range(100).select(
        F.when(F.col("id") < 50, F.col("id")).alias("maybe"),
        F.col("id").alias("id"),
    )
    path = "/tmp/hllspark_test_zm_null"
    shutil.rmtree(path, ignore_errors=True)
    # force a layout where one file is all-null in the key column
    layout = df.repartitionByRange(2, F.col("maybe").asc_nulls_last())
    zm.write_with_zonemaps(layout, path, ["maybe"], expected_keys_per_file=100)
    got = zm.read_pruned(spark, path, "maybe", [7]).collect()
    assert len(got) == 1 and got[0]["id"] == 7
    # the all-null file has its own sidecar row (vmin NULL, pruned), so
    # the file total is exact and an append does not rescan it
    files, total = zm.pruned_files(spark, path, "maybe", [7])
    assert (len(files), total) == (1, 2)
    zm.append_zonemaps(spark, path)
    assert zm.pruned_files(spark, path, "maybe", [7])[1] == 2


def test_zonemap_range_pruning(spark, events):
    path = "/tmp/hllspark_test_zm_range"
    shutil.rmtree(path, ignore_errors=True)
    zm.write_with_zonemaps(
        events.repartitionByRange(8, "user_id"), path, ["user_id"],
        expected_keys_per_file=5000,
    )
    lo, hi = 3, 6
    files, total = zm.pruned_files_range(spark, path, "user_id", lo, hi)
    assert total == 8 and 0 < len(files) < total
    got = sorted(zm.read_pruned_range(spark, path, "user_id", lo, hi).collect())
    want = sorted(
        spark.read.parquet(path)
        .where(F.col("user_id").between(lo, hi))
        .collect()
    )
    assert got == want
    # empty range prunes everything
    f2, _ = zm.pruned_files_range(spark, path, "user_id", 10**9, 2 * 10**9)
    assert f2 == []
    assert (
        zm.read_pruned_range(spark, path, "user_id", 10**9, 2 * 10**9).count()
        == 0
    )


def test_zonemap_incremental_append(spark, events):
    """append mode builds sidecar rows ONLY for new files, appended rows
    are probe-compatible, and the result equals a from-scratch rebuild."""
    path = "/tmp/hllspark_test_zm_append"
    shutil.rmtree(path, ignore_errors=True)
    first = events.where(F.col("user_id") < 8)
    second = events.where(F.col("user_id") >= 8)
    zm.write_with_zonemaps(
        first.repartition(4), path, ["user_id"], expected_keys_per_file=5000
    )
    _, total1 = zm.pruned_files(spark, path, "user_id", [0])
    assert total1 == 4
    # append: only the 4 new files are scanned for sidecar rows
    zm.write_with_zonemaps(
        second.repartition(4), path, ["user_id"], mode="append"
    )
    _, total2 = zm.pruned_files(spark, path, "user_id", [0])
    assert total2 == 8
    # probes against keys from BOTH batches stay row-identical to a scan
    for probe in ([2], [11], [2, 11, 999]):
        got = sorted(zm.read_pruned(spark, path, "user_id", probe).collect())
        want = sorted(
            spark.read.parquet(path).where(F.col("user_id").isin(probe)).collect()
        )
        assert got == want
    # idempotent: re-running append with no new files adds nothing
    zm.append_zonemaps(spark, path)
    _, total3 = zm.pruned_files(spark, path, "user_id", [0])
    assert total3 == 8
    # a second-batch-only key prunes to second-batch files
    files, total = zm.pruned_files(spark, path, "user_id", [11])
    assert 0 < len(files) <= 4


def test_zonemap_streaming_ingest(spark, tmp_path):
    """Zone maps maintained AT INGEST: a foreachBatch sink that appends
    the batch to the table and covers the new files with
    write_with_zonemaps(mode='append').  Three streamed micro-batches
    must yield a sidecar equivalent to a one-shot batch build — the
    probe answers are row-identical and every file is covered."""
    src = str(tmp_path / "src")
    table = str(tmp_path / "table")
    ckpt = str(tmp_path / "ckpt")
    df = spark.range(3000).select(
        (F.col("id") % 700).alias("user_id"),
        (F.col("id") % 3).cast("string").alias("grp"),
    )
    # three source files -> maxFilesPerTrigger=1 gives three micro-batches
    df.repartition(3).write.mode("overwrite").parquet(src)

    def sink(batch_df, batch_id):
        zm.write_with_zonemaps(
            batch_df.repartition(2), table, ["user_id"], mode="append",
            expected_keys_per_file=2000,
        )

    q = (
        spark.readStream.schema("user_id bigint, grp string")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)

    # every data file is sidecar-covered
    covered_files, total = zm.pruned_files(spark, table, "user_id", [0])
    assert total == len(spark.read.parquet(table).inputFiles())
    # probes row-identical to full-scan filters, across batch boundaries
    for probe in ([5], [699], [5, 123, 699, 10**6]):
        got = sorted(zm.read_pruned(spark, table, "user_id", probe).collect())
        want = sorted(
            spark.read.parquet(table).where(F.col("user_id").isin(probe)).collect()
        )
        assert got == want
