import datetime

import pytest
from pyspark.sql import functions as F

from govgis_nov2023_slim_spatial_server_spark.streaming.facade import drain, staged_stream
from govgis_nov2023_slim_spatial_server_spark.streaming.stateful import running_totals_per_user


def test_stateful_running_totals_match_batch(spark):
    base = datetime.datetime(2024, 1, 1)
    rows = [
        (i, base + datetime.timedelta(minutes=i), i % 3, "t", float(i)) for i in range(90)
    ]
    df = spark.createDataFrame(
        rows, "event_id: long, ts: timestamp, user_id: long, event_type: string, value: double"
    )
    # several files → several micro-batches → state must carry across
    frames = [df.where(F.floor(F.col("event_id") / 15) == i) for i in range(6)]
    with staged_stream(spark, frames) as stream:
        drain(running_totals_per_user(stream), "update").createOrReplaceTempView(
            "running_totals"
        )

    # in update mode the LAST row per user is the final running total
    final = spark.sql(
        """
        SELECT user_id, n_events, sum_value FROM (
          SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY n_events DESC) rn
          FROM running_totals) WHERE rn = 1
        """
    ).collect()
    got = {r["user_id"]: (r["n_events"], r["sum_value"]) for r in final}
    expect = {
        r["user_id"]: (r["n"], r["s"])
        for r in df.groupBy("user_id")
        .agg({"*": "count", "value": "sum"})
        .withColumnRenamed("count(1)", "n")
        .withColumnRenamed("sum(value)", "s")
        .collect()
    }
    assert set(got) == set(expect)
    for k in expect:
        assert got[k][0] == expect[k][0]
        assert got[k][1] == pytest.approx(expect[k][1])
