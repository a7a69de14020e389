"""Write layout of the Parquet fallback: every partitioned write of a pages
table clusters rows by bucket, so a bucket directory gets one file per
write (split only above the AQE advisory partition size); the clean write
inherits that layout from the scan; tiny driver-built appends are one
file each."""

import os

import pyspark.sql.functions as F

from data_quality_autohealer_spark import synth
from data_quality_autohealer_spark.plans.pipeline import run_filter
from data_quality_autohealer_spark.warehouse import Warehouse, bucket_expr

BUCKETS = 8


def _data_files(table_path):
    """{bucket dir: {file name: (size, mtime_ns)}} for the Parquet data
    files of a partitioned table."""
    out = {}
    for d in sorted(os.listdir(table_path)):
        if d.startswith("bucket="):
            full = os.path.join(table_path, d)
            out[d] = {f: (os.stat(os.path.join(full, f)).st_size,
                          os.stat(os.path.join(full, f)).st_mtime_ns)
                      for f in os.listdir(full) if f.endswith(".parquet")}
    return out


def _parquet_files(path):
    return [f for f in os.listdir(path) if f.endswith(".parquet")]


def test_write_pages_one_file_per_bucket(spark, tmp_path):
    wh = Warehouse(spark, str(tmp_path / "wh"), num_buckets=BUCKETS)
    # 6 input partitions: without clustering each bucket gets up to 6 files
    wh.write_pages(synth.gen_pages_df(spark, 600, num_partitions=6))
    files = _data_files(str(tmp_path / "wh" / "pages"))
    assert len(files) == BUCKETS
    assert all(len(f) == 1 for f in files.values()), files

    # an append adds one file per bucket it writes to
    more = synth.gen_pages_df(spark, 600, num_partitions=6).withColumn(
        "url", F.concat(F.lit("http://append.test/"), F.col("url")))
    wh.write_pages(more, mode="append")
    files = _data_files(str(tmp_path / "wh" / "pages"))
    assert all(len(f) == 2 for f in files.values()), files
    assert wh.read_pages().count() == 1200


def test_clean_files_never_exceed_pages_files(spark, tmp_path):
    wh = Warehouse(spark, str(tmp_path / "wh"), num_buckets=BUCKETS)
    wh.write_pages(synth.gen_pages_df(spark, 600, num_partitions=6))
    summary = run_filter(wh, "r1")
    assert summary["docs_kept"] > 0
    pages = _data_files(str(tmp_path / "wh" / "pages"))
    clean = _data_files(str(tmp_path / "wh" / "pages_clean"))
    assert clean and set(clean) <= set(pages)
    for d, fs in clean.items():
        assert len(fs) <= len(pages[d]), (d, clean, pages)


def test_upsert_one_file_per_touched_bucket(spark, tmp_path):
    wh = Warehouse(spark, str(tmp_path / "wh"), num_buckets=BUCKETS)
    base = synth.gen_pages_df(spark, 600, num_partitions=6).cache()
    wh.write_pages(base)
    path = str(tmp_path / "wh" / "pages")
    before = _data_files(path)

    # re-crawl urls of two buckets only, spread over several partitions
    touched = {0, 3}
    delta = (base.where(bucket_expr("url", BUCKETS).isin(list(touched)))
             .withColumn("warc_ts",
                         F.col("warc_ts") + F.expr("interval 1 day"))
             .withColumn("text", F.concat("text", F.lit(" v2")))
             .repartition(4)).cache()
    summary = wh.upsert_pages(delta)
    assert summary["affected_buckets"] == len(touched)

    after = _data_files(path)
    assert set(after) == set(before)
    for d, fs in after.items():
        if int(d.split("=")[1]) in touched:
            assert len(fs) == 1, (d, fs)
            assert fs != before[d]
        else:
            assert fs == before[d], f"{d} was rewritten needlessly"
    assert wh.read_pages().count() == 600
    assert (wh.read_pages().where(F.col("text").endswith(" v2")).count()
            == delta.count())
    base.unpersist()
    delta.unpersist()


def test_hot_bucket_split_above_advisory_size(spark, tmp_path):
    """A bucket larger than the AQE advisory partition size is written by
    several tasks (several files) and still reads back row-for-row."""
    wh = Warehouse(spark, str(tmp_path / "wh"), num_buckets=BUCKETS)
    urls = (spark.range(0, 4000)
            .select(F.concat(F.lit("http://hot.test/"), F.col("id").cast(
                "string")).alias("url"))
            .withColumn("b", bucket_expr("url", BUCKETS)))
    hot = urls.where("b = 0").limit(400)
    cold = urls.where("b != 0").limit(40)
    pages = (hot.unionByName(cold).drop("b")
             .withColumn("warc_ts", F.lit("2026-01-01").cast("timestamp"))
             .withColumn("html", F.lit(b"").cast("binary"))
             # hex digests: shuffle blocks are compressed, so the text must
             # not compress away below the advisory size
             .withColumn("text", F.concat_ws(" ", *[
                 F.sha2(F.concat(F.col("url"), F.lit(str(i))), 256)
                 for i in range(8)]))
             .withColumn("lang", F.lit("en"))
             .repartition(4)).cache()
    expected = sorted(tuple(r) for r in pages.select("url", "text").collect())
    key = "spark.sql.adaptive.advisoryPartitionSizeInBytes"
    spark.conf.set(key, "16k")
    try:
        wh.write_pages(pages)
    finally:
        spark.conf.unset(key)
    files = _data_files(str(tmp_path / "wh" / "pages"))
    assert len(files["bucket=0"]) > 1, files
    got = sorted(tuple(r) for r in
                 wh.read_pages().select("url", "text").collect())
    assert got == expected
    hot_back = wh.read_pages().where("bucket = 0").count()
    assert hot_back == 400
    pages.unpersist()


def test_tiny_appends_write_one_file(spark, tmp_path):
    import datetime

    from data_quality_autohealer_spark.plans.pipeline import quality_alerts
    from data_quality_autohealer_spark.warehouse import (
        AUDIT_SCHEMA, METRICS_SCHEMA,
    )

    wh = Warehouse(spark, str(tmp_path / "wh"), num_buckets=BUCKETS)
    ts = datetime.datetime(2026, 1, 1)
    metrics = spark.createDataFrame(
        [("r", b, 10, 1, 9, {"langid": 9}, {}, ts) for b in range(BUCKETS)],
        METRICS_SCHEMA).repartition(4)
    audit = spark.createDataFrame(
        [("r", "step", 1, 0.0, "ok", "m", ts)] * 3, AUDIT_SCHEMA
    ).repartition(3)
    for _ in range(2):
        wh.append_metrics(metrics)
        wh.append_alerts(quality_alerts(metrics))
        wh.append_audit(audit)
    for table in ("metrics", "alerts", "audit"):
        assert len(_parquet_files(str(tmp_path / "wh" / table))) == 2, table
    assert wh.read_metrics().count() == 2 * BUCKETS
    assert wh.read_alerts().count() == 2 * BUCKETS
    assert wh.read_audit().count() == 6
