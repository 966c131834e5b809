"""S2/S3 model persistence, T4 streaming dedup and fan-out materialization."""

from __future__ import annotations

from pyspark.sql import functions as F

from kbgen_spark.models.learn import learn_m2, load_model, save_model


def test_model_save_load_roundtrip(spark, tmp_path):
    t = spark.createDataFrame(
        [("a", "p", "x"), ("a", "p", "y"), ("b", "q", "x")],
        "subj string, pred string, obj string",
    )
    y = spark.createDataFrame([("a", "T"), ("x", "U")], "entity string, type string")
    m = learn_m2(t, y)
    path = str(tmp_path / "model")
    save_model(m, path, name="m2-test")
    back = load_model(spark, path)
    assert set(back) == set(m)
    for key in m:
        assert back[key].exceptAll(m[key]).count() == 0, key
        assert m[key].exceptAll(back[key]).count() == 0, key


def test_streaming_dedup_within_watermark(spark, tmp_path):
    from kbgen_spark.streaming.ingest import streaming_dedup

    events = spark.read.parquet("/root/testdata/sf0.001/events.parquet").limit(200)
    dup = events.union(events)  # every event twice
    src = str(tmp_path / "dup_events")
    dup.write.parquet(src)
    stream = spark.readStream.schema(dup.schema).parquet(src)
    q = (
        streaming_dedup(stream, watermark="10 days")
        .writeStream.format("memory")
        .queryName("dedup_test")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql("select count(*) as n, count(distinct event_id) as d from dedup_test").collect()[0]
    assert got["n"] == got["d"] == events.select("event_id").distinct().count()


def test_materialize_fanout_persists_to_disk_until_released(spark):
    from pyspark import StorageLevel

    from kbgen_spark.plans.lineage import materialize_fanout, release_fanouts

    df = spark.range(200).withColumn("sq", F.col("id") * F.col("id"))
    out = materialize_fanout(df)
    assert out.storageLevel == StorageLevel.DISK_ONLY
    assert sorted(out.collect()) == sorted(df.collect())
    release_fanouts()
    assert out.storageLevel == StorageLevel.NONE
