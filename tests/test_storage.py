"""Storage layout contracts: partition pruning + exchange-free
bucketed joins (the paid-once-shuffle property)."""

import io
from contextlib import redirect_stdout

from pyspark.sql import functions as F

from webdq import storage


def _plan(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_partitioned_write_prunes(spark, tmp_path):
    path = str(tmp_path / "part")
    df = spark.range(0, 2000, 1, 4).select(
        F.col("id").alias("doc_id"),
        F.element_at(F.array(F.lit("web"), F.lit("news"), F.lit("wiki")), (F.col("id") % 3 + 1).cast("int")).alias("source"),
        (F.col("id") * 7 % 100).alias("score"),
    )
    storage.write_partitioned(df, path, ["source"])
    back = storage.read_partitioned(spark, path).filter(F.col("source") == "news")
    # planning-time pruning: the partition filter reaches the scan node
    plan = _plan(back.groupBy().agg(F.count(F.lit(1)).alias("n")))
    assert "PartitionFilters" in plan and "news" in plan
    assert back.count() == df.filter("source = 'news'").count()
    # values survive the layout roundtrip
    a = back.orderBy("doc_id").select("doc_id", "score").collect()
    b = df.filter("source = 'news'").orderBy("doc_id").select("doc_id", "score").collect()
    assert a == b


def test_bucketed_join_has_no_exchange(spark, tmp_path):
    """Two tables bucketed by the join key into the same bucket count
    must join with NO Exchange on either side — the write-time shuffle
    amortizes across every downstream keyed operation."""
    spark.sql("DROP TABLE IF EXISTS wdq_bucket_a")
    spark.sql("DROP TABLE IF EXISTS wdq_bucket_b")
    a = spark.range(0, 5000, 1, 4).select(F.col("id").alias("doc_id"), (F.col("id") % 97).alias("fa"))
    b = spark.range(0, 5000, 1, 4).select(F.col("id").alias("doc_id"), (F.col("id") % 31).alias("fb"))
    storage.write_bucketed(a, "wdq_bucket_a", "doc_id", n_buckets=8, sort_col="doc_id")
    storage.write_bucketed(b, "wdq_bucket_b", "doc_id", n_buckets=8, sort_col="doc_id")
    ta = spark.table("wdq_bucket_a")
    tb = spark.table("wdq_bucket_b")
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")  # force a shuffle-class join
    try:
        joined = ta.join(tb, "doc_id").select("doc_id", "fa", "fb")
        plan = _plan(joined)
        assert "Exchange" not in plan, "bucketed join must not reshuffle"
        assert joined.count() == 5000
        got = dict((r["doc_id"], (r["fa"], r["fb"])) for r in joined.collect())
        assert got[123] == (123 % 97, 123 % 31)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS wdq_bucket_a")
        spark.sql("DROP TABLE IF EXISTS wdq_bucket_b")


def test_spread_scan_caps_width_by_file_bytes(spark, tmp_path):
    """min_split_bytes caps the spread width at the scanned bytes (read
    through the Hadoop FileSystem of each input file) divided by the cap;
    without it the spread goes to full width."""
    import os

    path = str(tmp_path / "multi")
    rows = spark.range(0, 20000, 1, 3).select("id", F.sha2(F.col("id").cast("string"), 256).alias("h"))
    rows.write.parquet(path)
    files = [f for f in os.listdir(path) if f.endswith(".parquet")]
    assert len(files) == 3
    nbytes = sum(os.path.getsize(os.path.join(path, f)) for f in files)
    df = spark.read.parquet(path).coalesce(1)
    dp = spark.sparkContext.defaultParallelism
    assert dp >= 4
    for split in (nbytes // 2, nbytes // 3, nbytes * 2, 1):
        want = max(1, min(dp, nbytes // split))
        assert storage.spread_scan(df, min_split_bytes=split).rdd.getNumPartitions() == want, split
    assert storage.spread_scan(df).rdd.getNumPartitions() == dp
