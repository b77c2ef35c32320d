"""Streaming ingest tests (SURVEY §5 item 4): file-arrival → table
visibility with Trigger.AvailableNow, exactly-once across restarts
(the semantic upgrade over the reference, which re-ingests re-sent
files), incremental derived-table refresh, and the watermarked
event-time window."""

from __future__ import annotations

import shutil
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from big_data_processing_spark.plans import weather as W
from big_data_processing_spark.streaming import (
    refresh_derived_tables,
    stream_ingest_weather,
    streaming_hourly_aggregate,
)

from .weather_fixture import generate


@pytest.fixture()
def dirs(tmp_path):
    d = {
        "in": tmp_path / "incoming",
        "fact": tmp_path / "fact",
        "ckpt": tmp_path / "ckpt",
        "derived": tmp_path / "derived",
        "srcdata": tmp_path / "srcdata",
    }
    d["in"].mkdir()
    return d


def _run_ingest(spark, dirs):
    q = stream_ingest_weather(
        spark,
        str(dirs["in"]),
        str(dirs["fact"]),
        str(dirs["ckpt"]),
        derived_dir=str(dirs["derived"]),
    )
    q.awaitTermination(120)
    return q


def test_file_arrival_to_table_exactly_once(spark, dirs):
    info = generate(str(dirs["srcdata"]), years=(2013, 2013))
    src = Path(info["weather_csv"])

    # first file arrives
    shutil.copy(src, dirs["in"] / "weather_2013_a.csv")
    _run_ingest(spark, dirs)
    n1 = spark.read.parquet(str(dirs["fact"])).count()
    assert n1 == info["n_clean_weather"]  # dirty rows dropped in-stream

    # restart with NOTHING new: checkpoint must prevent re-ingest
    _run_ingest(spark, dirs)
    assert spark.read.parquet(str(dirs["fact"])).count() == n1

    # a second file arrives; restart picks up only the delta
    shutil.copy(src, dirs["in"] / "weather_2013_b.csv")
    _run_ingest(spark, dirs)
    n2 = spark.read.parquet(str(dirs["fact"])).count()
    assert n2 == 2 * n1

    # fact is partitioned by year (partition pruning at serve time)
    assert (Path(dirs["fact"]) / "year=2013").exists()


def test_sink_replay_is_idempotent(spark, dirs):
    """foreachBatch is at-least-once: a crash between the parquet write
    and the checkpoint commit REPLAYS the batch. The per-batch dynamic
    partition overwrite must absorb the replay without duplicating."""
    from big_data_processing_spark.streaming.ingest import (
        _typed_weather,
        make_ingest_sink,
    )

    info = generate(str(dirs["srcdata"]), years=(2013, 2013))
    batch = _typed_weather(
        spark.read.option("header", "true")
        .schema(W.WEATHER_SCHEMA)
        .csv(info["weather_csv"])
    )
    sink = make_ingest_sink(str(dirs["fact"]), str(dirs["derived"]))
    sink(batch, 0)
    n1 = spark.read.parquet(str(dirs["fact"])).count()
    d1 = spark.read.parquet(str(dirs["derived"])).count()
    sink(batch, 0)  # simulated replay of the SAME micro-batch
    assert spark.read.parquet(str(dirs["fact"])).count() == n1
    assert spark.read.parquet(str(dirs["derived"])).count() == d1
    sink(batch, 1)  # a genuinely new batch still appends
    assert spark.read.parquet(str(dirs["fact"])).count() == 2 * n1


def test_sink_write_failure_propagates_after_the_other_write(spark, dirs):
    """The sink's two writes run at once: when the derived-partial write
    fails, the fact append still completes, the error reaches the
    stream, and the persisted batch is released."""
    from big_data_processing_spark.streaming.ingest import (
        _typed_weather,
        make_ingest_sink,
    )

    info = generate(str(dirs["srcdata"]), years=(2013, 2013))
    batch = _typed_weather(
        spark.read.option("header", "true")
        .schema(W.WEATHER_SCHEMA)
        .csv(info["weather_csv"])
    )
    dirs["derived"].write_text("a file where the derived table should go")
    sink = make_ingest_sink(str(dirs["fact"]), str(dirs["derived"]))
    with pytest.raises(Exception, match="derived"):
        sink(batch, 0)
    assert spark.read.parquet(str(dirs["fact"])).count() == info["n_clean_weather"]
    level = batch.storageLevel
    assert not (level.useMemory or level.useDisk)


def test_derived_table_incremental_refresh(spark, dirs):
    info = generate(str(dirs["srcdata"]), years=(2013, 2013))
    src = Path(info["weather_csv"])
    shutil.copy(src, dirs["in"] / "w1.csv")
    _run_ingest(spark, dirs)
    shutil.copy(src, dirs["in"] / "w2.csv")
    _run_ingest(spark, dirs)

    merged = refresh_derived_tables(spark, str(dirs["derived"]))
    fact = spark.read.parquet(str(dirs["fact"]))
    expect = fact.groupBy("location_id", "year", "month").agg(
        F.sum("precipitation_hours").alias("total_precip_hours"),
        F.avg("temperature_2m_mean").alias("avg_temperature"),
        F.count(F.lit(1)).alias("n_obs"),
    )
    got = {
        (r.location_id, r.year, r.month): (r.total_precip_hours, r.n_obs)
        for r in merged.collect()
    }
    want = {
        (r.location_id, r.year, r.month): (r.total_precip_hours, r.n_obs)
        for r in expect.collect()
    }
    assert got.keys() == want.keys()
    for k in want:
        assert got[k][1] == want[k][1]
        assert abs(got[k][0] - want[k][0]) < 1e-6


def test_streaming_hourly_window_with_watermark(spark, tmp_path):
    # event-time stream from JSON files (ts, event_type, value)
    import json

    src = tmp_path / "events_in"
    src.mkdir()
    rows = [
        {"ts": "2024-01-01 10:05:00", "event_type": "click", "value": 1.0},
        {"ts": "2024-01-01 10:55:00", "event_type": "click", "value": 2.0},
        {"ts": "2024-01-01 11:05:00", "event_type": "view", "value": 3.0},
        {"ts": "2024-01-01 09:59:00", "event_type": "click", "value": 4.0},  # late
    ]
    with open(src / "batch1.json", "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")

    stream = (
        spark.readStream.schema("ts timestamp, event_type string, value double")
        .json(str(src))
    )
    agg = streaming_hourly_aggregate(stream, watermark="2 hours")
    q = (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName("hourly_agg")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (str(r.window_start), r.event_type): (r.n_events, r.total_value)
        for r in spark.sql("select * from hourly_agg").collect()
    }
    assert got[("2024-01-01 09:00:00", "click")] == (1, 4.0)  # late row kept (inside watermark)
    assert got[("2024-01-01 10:00:00", "click")] == (2, 3.0)
    assert got[("2024-01-01 11:00:00", "view")] == (1, 3.0)


def test_streaming_too_late_rows_dropped_after_watermark(spark, tmp_path):
    """Append mode: a row arriving BEHIND the advanced watermark targets
    an already-finalized window and must be dropped — the bounded-state
    guarantee (kept-late vs dropped-late is the watermark contract)."""
    import json

    src = tmp_path / "late_in"
    src.mkdir()
    ck = str(tmp_path / "ck")
    out = str(tmp_path / "late_out")

    def run_batch(name, rows):
        with open(src / name, "w") as f:
            for r in rows:
                f.write(json.dumps(r) + "\n")
        stream = (
            spark.readStream.schema("ts timestamp, event_type string, value double")
            .json(str(src))
        )
        q = (
            streaming_hourly_aggregate(stream, watermark="1 hour")
            .writeStream.outputMode("append")
            .format("parquet")
            .option("path", out)
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run_batch(
        "b1.json",
        [
            {"ts": "2024-01-01 09:10:00", "event_type": "click", "value": 1.0},
            {"ts": "2024-01-01 12:00:00", "event_type": "click", "value": 2.0},
        ],
    )  # watermark after b1: 11:00 → the 09:00 window is finalized
    run_batch(
        "b2.json",
        [
            {"ts": "2024-01-01 09:20:00", "event_type": "click", "value": 100.0},  # too late
            {"ts": "2024-01-01 14:30:00", "event_type": "click", "value": 3.0},
        ],
    )  # watermark → 13:30: finalizes the 12:00 window; 09:20 dropped

    got = {
        str(r.window_start): (r.n_events, r.total_value)
        for r in spark.read.parquet(out).collect()
    }
    assert got["2024-01-01 09:00:00"] == (1, 1.0), "too-late row must not mutate a finalized window"
    assert got["2024-01-01 12:00:00"] == (1, 2.0)


def test_streaming_hopping_window_matches_batch(spark, tmp_path):
    """Hopping windows in streaming mode: each event lands in exactly 4
    overlapping 1h/15min windows, and the streamed result row-for-row
    equals the batch computation over the same data — the
    backfill/live equivalence the catalog docstring promises."""
    import json

    from big_data_processing_spark.streaming.ingest import (
        streaming_hopping_aggregate,
    )

    src = tmp_path / "hop_in"
    src.mkdir()
    rows = [
        {"ts": "2024-01-01 10:05:00", "event_type": "click", "value": 1.0},
        {"ts": "2024-01-01 10:20:00", "event_type": "click", "value": 2.0},
        {"ts": "2024-01-01 11:05:00", "event_type": "view", "value": 3.0},
    ]
    with open(src / "b1.json", "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")

    schema = "ts timestamp, event_type string, value double"
    stream = spark.readStream.schema(schema).json(str(src))
    q = (
        streaming_hopping_aggregate(stream)
        .writeStream.outputMode("complete")
        .format("memory")
        .queryName("hop_agg")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    streamed = {
        (str(r.window_start), r.event_type): (r.n_events, r.total_value)
        for r in spark.sql("select * from hop_agg").collect()
    }
    batch_df = spark.read.schema(schema).json(str(src))
    batch = {
        (str(r.window_start), r.event_type): (r.n_events, r.total_value)
        for r in streaming_hopping_aggregate(batch_df).collect()
    }
    assert streamed == batch
    # each event covers exactly 4 hops
    assert sum(v[0] for v in streamed.values()) == 4 * len(rows)
    # the two click events share 3 hops and differ in 1 (10:05 vs 10:20
    # quarter): 10:00 window holds both
    assert streamed[("2024-01-01 10:00:00", "click")] == (2, 3.0)
    assert streamed[("2024-01-01 09:15:00", "click")] == (1, 1.0)
