"""io.read_parquet on parquet TIMESTAMP(NANOS) columns: the values come
back as naive timestamps through a per-read schema, and the session's
conf is left exactly as it was."""

import datetime

import pyarrow as pa
import pyarrow.parquet as pq

from brahmand_spark.io import read_parquet

NANOS_CONF = "spark.sql.legacy.parquet.nanosAsLong"


def test_nanos_timestamps_read_without_session_conf(spark, tmp_path):
    path = str(tmp_path / "nanos.parquet")
    pq.write_table(pa.table({
        "id": pa.array([1, 2, 3], pa.int64()),
        "ts": pa.array([0, 1_700_000_000_123_456_789, None],
                       pa.timestamp("ns")),
        "us": pa.array([0, 86_400_000_000, 1], pa.timestamp("us")),
        "name": ["a", "b", None],
    }), path)
    before = spark.conf.get(NANOS_CONF, None)
    spark.conf.set(NANOS_CONF, "false")
    try:
        df = read_parquet(spark, path)
        assert df.dtypes == [("id", "bigint"), ("ts", "timestamp_ntz"),
                             ("us", "timestamp_ntz"), ("name", "string")]
        rows = sorted(df.collect(), key=lambda r: r.id)
        epoch = datetime.datetime(1970, 1, 1)
        assert [r.ts for r in rows] == [
            epoch,
            datetime.datetime(2023, 11, 14, 22, 13, 20, 123456),
            None,
        ]
        assert [r.us for r in rows] == [
            epoch, datetime.datetime(1970, 1, 2),
            datetime.datetime(1970, 1, 1, 0, 0, 0, 1)]
        assert [r.name for r in rows] == ["a", "b", None]
        assert spark.conf.get(NANOS_CONF) == "false"
    finally:
        if before is None:
            spark.conf.unset(NANOS_CONF)
        else:
            spark.conf.set(NANOS_CONF, before)
