"""Source/sink tests: partitioned parquet idempotency + JDBC merge SQL."""

from __future__ import annotations

from pyspark.sql import functions as F

from projekt_data_engineering_iubh_spark.catalog import load_table
from projekt_data_engineering_iubh_spark.pipeline import daily_aggregator as da
from projekt_data_engineering_iubh_spark.pipeline.config import DEFAULT_RULES
from projekt_data_engineering_iubh_spark.sources import jdbc, parquet as pq

SF_DIR = "/root/testdata/sf0.001"


def test_partitioned_write_and_partition_pruning(spark, tmp_path):
    orders = load_table(spark, SF_DIR, "orders").withColumn(
        "order_year", F.year("o_orderdate")
    )
    path = str(tmp_path / "orders_by_year")
    pq.write_partitioned(orders, path, partition_by=["order_year"], mode="overwrite")
    back = pq.read(spark, path)
    assert back.count() == orders.count()
    # partition filter prunes the scan to one directory
    pruned = back.filter(F.col("order_year") == 1997)
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert pruned.count() > 0


def test_overwrite_partitions_is_idempotent(spark, tmp_path):
    orders = load_table(spark, SF_DIR, "orders").withColumn(
        "order_year", F.year("o_orderdate")
    )
    path = str(tmp_path / "idem")
    pq.write_partitioned(
        orders, path, partition_by=["order_year"], mode="overwrite_partitions"
    )
    n1 = pq.read(spark, path).count()
    pq.write_partitioned(
        orders, path, partition_by=["order_year"], mode="overwrite_partitions"
    )
    n2 = pq.read(spark, path).count()
    assert n1 == n2 == orders.count()

    # rewriting a subset only replaces that partition
    just_97 = orders.filter(F.col("order_year") == 1997)
    pq.write_partitioned(
        just_97, path, partition_by=["order_year"], mode="overwrite_partitions"
    )
    assert pq.read(spark, path).count() == n1


def test_overwrite_after_overwrite_partitions_is_static(spark, tmp_path):
    # the dynamic mode is a per-write option: a later plain "overwrite"
    # replaces the whole table, not just the partitions it writes
    path = str(tmp_path / "t")
    xy = spark.createDataFrame([("x", 1), ("y", 2)], "p string, v int")
    pq.write_partitioned(xy, path, partition_by=["p"], mode="overwrite_partitions")
    z = spark.createDataFrame([("z", 3)], "p string, v int")
    pq.write_partitioned(z, path, partition_by=["p"], mode="overwrite")
    assert sorted(r.p for r in pq.read(spark, path).collect()) == ["z"]


def test_daily_run_leaves_partition_overwrite_mode(spark, tmp_path):
    csv = tmp_path / "day.csv"
    csv.write_text(
        "timestamp,machine_id,event_name,parameter_name,value\n"
        "2024-05-01T00:00:01.000Z,M1,Cycle_Start,,\n"
        "2024-05-01T00:00:01.140Z,M1,AS_Check,AS_VacuumUnits,75.55\n"
        "2024-05-01T00:00:01.600Z,M1,Cycle_End,,\n"
    )
    key = "spark.sql.sources.partitionOverwriteMode"
    spark.conf.set(key, "static")
    try:
        da.run(spark, str(csv), str(tmp_path / "wh"), DEFAULT_RULES)
        assert spark.conf.get(key) == "static"
    finally:
        spark.conf.unset(key)


def test_merge_sql_shape():
    sql = jdbc.merge_sql(
        "hourly_machine_summary",
        "hourly_machine_summary_staging",
        ["summary_date", "hour_of_day", "machine_id", "cycle_count"],
        ["summary_date", "hour_of_day", "machine_id"],
    )
    assert sql == (
        "INSERT INTO hourly_machine_summary "
        "(summary_date, hour_of_day, machine_id, cycle_count) "
        "SELECT summary_date, hour_of_day, machine_id, cycle_count "
        "FROM hourly_machine_summary_staging "
        "ON CONFLICT (summary_date, hour_of_day, machine_id) "
        "DO UPDATE SET cycle_count = EXCLUDED.cycle_count"
    )


def test_jsonl_roundtrip_and_quarantine(spark, tmp_path):
    from pyspark.sql import types as T

    from projekt_data_engineering_iubh_spark.sources import jsonl

    raw = tmp_path / "docs.jsonl"
    raw.write_text(
        '{"doc_id": 1, "text": "hello world", "lang": "en"}\n'
        '{"doc_id": 2, "text": "guten tag", "lang": "de"}\n'
        "{not json at all}\n"
        "42\n"  # valid JSON scalar, NOT an object -> corrupt in struct read
        '[{"doc_id": 9}]\n'  # array of objects: Spark UNWRAPS into rows
        "\n"  # blank: skipped by the main read, belongs to neither lane
        '{"doc_id": 4, "text": null, "lang": "fr"}\n'
    )
    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType(), True),
            T.StructField("text", T.StringType(), True),
            T.StructField("lang", T.StringType(), True),
        ]
    )
    df = jsonl.read(spark, str(raw), schema)
    good = jsonl.good_records(df)
    good_rows = good.collect()
    assert {r.doc_id for r in good_rows} == {1, 2, 4, 9}
    bad = jsonl.bad_records(spark, str(raw), schema).collect()
    bad_texts = {b[0] for b in bad}
    # unparseable + scalar quarantined; blank line in NEITHER lane;
    # the object array unwraps into good rows (r2 ADVICE partition fix)
    assert bad_texts == {"{not json at all}", "42"}
    # good rows + quarantined lines = non-blank lines (the single-element
    # array contributes exactly one good row here); counted from collect()
    # because good.count() trips QUERY_ONLY_CORRUPT_RECORD_COLUMN (the
    # count prunes every column but the corrupt-filter's)
    assert len(good_rows) + len(bad) == 6

    out = tmp_path / "out"
    jsonl.write(good, str(out), partitions=1)
    back = jsonl.good_records(jsonl.read(spark, str(out), schema))
    assert sorted((r.doc_id, r.text, r.lang) for r in back.collect()) == sorted(
        (r.doc_id, r.text, r.lang) for r in good.collect()
    )
