from mergeextractor_spark.streaming.events import read_events_stream
from mergeextractor_spark.streaming.stateful import stateful_dedup

SF = "/root/testdata/sf0.001"


def test_stateful_dedup_matches_batch_distinct(spark):
    events = read_events_stream(spark, SF)
    deduped = stateful_dedup(events.select("user_id", "event_id"))
    q = (
        deduped.writeStream.format("memory")
        .queryName("stateful_out")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        (r.user_id, r.event_id)
        for r in spark.sql("SELECT * FROM stateful_out").collect()
    }
    from mergeextractor_spark.sources.fixtures import table

    expect = {
        (r.user_id, r.event_id)
        for r in table(spark, SF, "events").select("user_id", "event_id").distinct().collect()
    }
    assert got == expect

