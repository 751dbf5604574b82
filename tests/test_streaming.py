

def test_dedup_within_watermark_live(spark, tmp_path):
    """The evictable-state dedup variant (r4 review): exact within the
    single availableNow batch of the fixture."""
    from pygdf_spark.streaming.pipelines import (
        dedup_within_watermark, read_events_stream, run_available_now,
    )

    ev = read_events_stream(spark, "/root/testdata/sf0.001")
    out = run_available_now(dedup_within_watermark(ev), mode="append")
    pdf = out.toPandas()
    assert len(pdf) == len(pdf.drop_duplicates(["user_id", "event_type"]))
    assert len(pdf) > 0


def test_view_purchase_join_large_horizon_watermark(spark):
    """Watermark derives from the horizon (a fixed 3h delay silently
    dropped in-horizon matches for horizon > 3h)."""
    import pytest as _pytest

    from pygdf_spark.streaming.pipelines import read_events_stream, view_purchase_join

    ev = read_events_stream(spark, "/root/testdata/sf0.001")
    j = view_purchase_join(ev, horizon="6 hours")  # plans without error
    assert j.isStreaming
    with _pytest.raises(ValueError, match="whole hours"):
        view_purchase_join(ev, horizon="90 minutes")


def test_run_available_now_parquet_empty_stream(spark, tmp_path):
    """A zero-row stream returns an empty frame instead of a schema-
    inference crash (r4 review)."""
    from pyspark.sql import functions as F

    from pygdf_spark.streaming.pipelines import (
        read_events_stream, run_available_now_parquet,
    )

    ev = read_events_stream(spark, "/root/testdata/sf0.001")
    nothing = ev.filter(F.col("event_type") == "no_such_type")
    out = run_available_now_parquet(
        nothing, path=str(tmp_path / "sink"), checkpoint=str(tmp_path / "ck"),
    )
    assert out.count() == 0


# ------------------------------------------------------------ run_stream


def test_run_stream_timeout_stops_and_raises(spark, monkeypatch):
    """A stream still running at the bound is stopped and raises; it
    never returns (nor leaves behind) a half-finished query."""
    import time

    import pytest as _pytest

    from pygdf_spark.streaming import pipelines as P

    monkeypatch.setattr(P, "_STREAM_TIMEOUT_S", 1)
    ev = P.read_events_stream(spark, "/root/testdata/sf0.001")
    with _pytest.raises(TimeoutError, match="did not finish"):
        P.run_stream(ev, lambda bdf, batch_id: time.sleep(5))
    assert spark.streams.active == []


def test_run_stream_failure_surfaces_from_lake_sink(spark, tmp_path,
                                                    monkeypatch):
    """A micro-batch that raises fails the query: the error reaches the
    caller of the deltalite runner and no query is left active."""
    import pytest as _pytest
    from pyspark.errors import StreamingQueryException

    from pygdf_spark.sources import deltalite as dl
    from pygdf_spark.streaming import pipelines as P

    def broken_append(*args, **kwargs):
        raise RuntimeError("sink down")

    monkeypatch.setattr(dl, "append", broken_append)
    ev = P.read_events_stream(spark, "/root/testdata/sf0.001")
    with _pytest.raises(StreamingQueryException, match="sink down"):
        P.run_available_now_deltalite(
            ev, str(tmp_path / "tbl"), str(tmp_path / "ckpt")
        )
    assert spark.streams.active == []


def test_run_stream_memory_sink_matches_run_available_now(spark):
    from pygdf_spark.streaming import pipelines as P

    def counts():
        ev = P.read_events_stream(spark, "/root/testdata/sf0.001")
        return P.tumbling_counts(ev)

    q = P.run_stream(counts(), "memory", mode="complete")
    assert not q.isActive and q.recentProgress
    got = sorted(spark.table(q.name).collect())
    assert got
    assert got == sorted(P.run_available_now(counts(), "complete").collect())


def test_events_stream_sees_rewritten_events_file(spark, tmp_path):
    """events.parquet regenerated at the same path streams with its new
    schema: the schema memo is keyed on the file's identity, not the
    path alone (the testdata has shipped both the nanos and µs ts)."""
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    from pygdf_spark.streaming.pipelines import read_events_stream

    path = str(tmp_path / "events.parquet")
    ts = pd.to_datetime(["2024-01-01 00:00:00", "2024-01-01 00:01:00"])
    pq.write_table(
        pa.table({"ts": pa.array(ts, pa.timestamp("ns")), "user_id": [1, 2]}),
        path, version="2.6",
    )
    first = read_events_stream(spark, str(tmp_path))
    assert first.columns == ["ts", "user_id"]
    pq.write_table(
        pa.table({"ts": pa.array(ts, pa.timestamp("us")), "user_id": [1, 2],
                  "region": ["eu", "us"]}),
        path,
    )
    second = read_events_stream(spark, str(tmp_path))
    assert second.columns == ["ts", "user_id", "region"]
    assert dict(second.dtypes)["ts"] == "timestamp"
