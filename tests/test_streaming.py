"""Streaming/windowing operators: batch-mode oracle checks + a real
Structured Streaming run (availableNow trigger -> memory sink) proving
the same transform works on a stream."""

import pyspark.sql.functions as F
import pytest

from .conftest import SF_SMOKE
from .helpers import assert_same


@pytest.fixture(scope="module")
def events(spark):
    from brahmand_spark.io import read_parquet

    return read_parquet(spark, f"{SF_SMOKE}/events.parquet")


class TestBatchWindows:
    def test_tumbling_agg(self, events, duck):
        from brahmand_spark.streaming import tumbling_agg

        assert_same(
            tumbling_agg(events, window="1 hour"),
            duck.sql("""
                SELECT date_trunc('hour', ts) AS window_start,
                       date_trunc('hour', ts) + INTERVAL 1 HOUR AS window_end,
                       event_type, count(*) AS n,
                       round(sum(value), 2) AS total_value
                FROM events GROUP BY 1, 2, 3"""),
        )

    def test_sessionize(self, events, duck):
        from brahmand_spark.streaming import sessionize

        assert_same(
            sessionize(events, gap="30 minutes"),
            duck.sql("""
                WITH marked AS (
                    SELECT user_id, ts, value,
                           CASE WHEN lag(ts) OVER w IS NULL
                                     OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE
                                THEN 1 ELSE 0 END AS new_session
                    FROM events
                    WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
                numbered AS (
                    SELECT *, sum(new_session) OVER (
                        PARTITION BY user_id ORDER BY ts
                        ROWS UNBOUNDED PRECEDING) AS sid
                    FROM marked)
                SELECT user_id, min(ts) AS session_start,
                       max(ts) + INTERVAL 30 MINUTE AS session_end,
                       count(*) AS n_events,
                       round(sum(value), 2) AS total_value
                FROM numbered GROUP BY user_id, sid"""),
        )

    def test_sliding_counts(self, events, duck):
        from brahmand_spark.streaming import sliding_counts

        assert_same(
            sliding_counts(events, window="1 hour", slide="30 minutes"),
            duck.sql("""
                SELECT time_bucket(INTERVAL '30 minutes', ts)
                           - (k * INTERVAL '30 minutes') AS window_start,
                       event_type, count(*) AS n
                FROM events, (VALUES (0), (1)) t(k)
                GROUP BY 1, 2"""),
        )

    def test_batch_dedup(self, spark):
        from brahmand_spark.streaming import streaming_dedup

        df = spark.createDataFrame(
            [(1, "2024-01-01 00:00:00", 1.0),
             (1, "2024-01-01 00:05:00", 2.0),
             (2, "2024-01-01 00:10:00", 3.0)],
            "event_id long, ts string, value double",
        ).selectExpr("event_id", "cast(ts as timestamp) ts", "value")
        assert streaming_dedup(df).count() == 2


class TestRealStream:
    def test_stream_tumbling_matches_batch(self, spark, events, tmp_path):
        """Drive the SAME transform through readStream (availableNow ->
        memory sink) and check it equals the batch result."""
        from brahmand_spark.streaming import read_event_stream, tumbling_agg

        src = str(tmp_path / "stream_src")
        events.write.mode("overwrite").parquet(src)
        stream = read_event_stream(spark, src, max_files_per_trigger=2)
        assert stream.isStreaming
        out = tumbling_agg(stream, window="1 hour")
        q = (
            out.writeStream.format("memory").queryName("tumbling_test")
            .outputMode("complete").trigger(availableNow=True).start()
        )
        q.awaitTermination(120)
        got = spark.sql(
            "SELECT window_start, event_type, n, total_value "
            "FROM tumbling_test"
        ).toPandas()
        want = tumbling_agg(events, window="1 hour").select(
            "window_start", "event_type", "n", "total_value"
        ).toPandas()
        from .helpers import canon

        assert canon(got) == canon(want)


class TestStatefulOperator:
    def test_running_stats_state_carries_across_batches(
        self, spark, events, tmp_path
    ):
        """applyInPandasWithState per-user running totals: drive the
        stream as several single-file micro-batches and check (a) state
        accumulates across batches (some user is emitted more than once
        with growing counts), (b) the final emission per user equals
        the batch aggregate."""
        from brahmand_spark.streaming import (
            read_event_stream, running_user_stats,
        )

        src = str(tmp_path / "stateful_src")
        ckpt = str(tmp_path / "stateful_ckpt")
        events.repartition(4).write.mode("overwrite").parquet(src)
        stream = read_event_stream(spark, src, max_files_per_trigger=1)
        out = running_user_stats(stream)
        q = (
            out.writeStream.format("memory").queryName("stateful_test")
            .outputMode("update").option("checkpointLocation", ckpt)
            .trigger(availableNow=True).start()
        )
        q.awaitTermination(180)
        got = spark.sql("SELECT * FROM stateful_test").toPandas()

        # (a) multi-batch state carry: at least one user emitted in
        # several micro-batches, counts strictly increasing
        multi = got.groupby("user_id").size()
        assert (multi > 1).any(), "expected users spanning micro-batches"
        for _, grp in got.groupby("user_id"):
            ns = sorted(grp["n_events"])
            assert ns == sorted(set(ns)), "running count must grow"

        # (b) final state == batch aggregate (tz-independent: compare
        # epoch micros computed the same pandas way on both sides)
        final = got.loc[got.groupby("user_id")["n_events"].idxmax()]
        pdf = events.toPandas()
        want = pdf.groupby("user_id").agg(
            n_events=("value", "size"), total_value=("value", "sum"),
            first_us=("ts", "min"), last_us=("ts", "max"),
        ).reset_index()
        want["total_value"] = want["total_value"].round(6)
        want["first_us"] = want["first_us"].astype("int64") // 1000
        want["last_us"] = want["last_us"].astype("int64") // 1000
        g = final.sort_values("user_id").reset_index(drop=True)
        w = want.sort_values("user_id").reset_index(drop=True)
        assert list(g["user_id"]) == list(w["user_id"])
        assert list(g["n_events"]) == list(w["n_events"])
        assert all(abs(a - b) < 1e-6
                   for a, b in zip(g["total_value"], w["total_value"]))
        assert list(g["first_us"]) == list(w["first_us"])
        assert list(g["last_us"]) == list(w["last_us"])

    def test_batch_equivalent_matches_stream_final(self, events):
        """The documented batch oracle produces the same n/total as the
        pandas ground truth (micros checked separately above)."""
        from brahmand_spark.streaming import running_user_stats_batch

        got = running_user_stats_batch(events).toPandas()
        pdf = events.toPandas()
        want = pdf.groupby("user_id")["value"].agg(["size", "sum"])
        g = got.sort_values("user_id").reset_index(drop=True)
        assert list(g["n_events"]) == list(want["size"])
        assert all(
            abs(a - round(b, 6)) < 1e-6
            for a, b in zip(g["total_value"], want["sum"])
        )


class TestAdjacency:
    def test_build_and_expand(self, spark, tpch):
        from brahmand_spark.ops.adjacency import build_adjacency, expand_pairs
        from brahmand_spark.procedures import _edges

        edges = _edges(tpch, "PLACED")
        adj = build_adjacency(edges, "src", "dst")
        pairs = expand_pairs(adj)
        assert pairs.count() == edges.count()
        direct = {(r.src, r.dst) for r in edges.collect()}
        via_adj = {(r.src, r.dst) for r in pairs.collect()}
        assert direct == via_adj


class TestStreamingNearDup:
    def test_incremental_minhash_filter(self, spark, tmp_path):
        """Two-phase run: batch 1 accepts two distinct docs; batch 2
        arrives later with a near-copy of an accepted doc (dropped via
        the persistent band store), a within-batch duplicate pair
        (lowest id kept), and a novel doc (accepted)."""
        from brahmand_spark.streaming import dedup_stream

        base = ("the quick brown fox jumps over the lazy dog while "
                "seven wizards brew strong potions at midnight")
        other = ("completely unrelated text about compilers and "
                 "distributed query engines running vectorized plans "
                 "over columnar storage with adaptive execution")
        novel = ("fresh document content mentioning telescopes and "
                 "galaxies spinning through intergalactic dust clouds "
                 "far beyond the local supercluster boundary")
        src = str(tmp_path / "in")
        store = str(tmp_path / "bands")
        ckpt = str(tmp_path / "ckpt")
        accepted = str(tmp_path / "accepted")

        def run_batch(rows):
            spark.createDataFrame(rows, "doc_id long, text string") \
                .coalesce(1).write.mode("append").parquet(src)
            stream = (
                spark.readStream
                .schema("doc_id long, text string").parquet(src)
            )
            q = dedup_stream(stream, store, ckpt, accepted)
            q.awaitTermination(180)

        run_batch([(1, base), (2, other)])
        got1 = {r.doc_id for r in spark.read.parquet(accepted).collect()}
        assert got1 == {1, 2}

        near = base.replace("midnight", "sunrise")  # high-jaccard copy
        run_batch([(3, near), (4, novel), (5, novel)])
        got2 = {r.doc_id for r in spark.read.parquet(accepted).collect()}
        assert got2 == {1, 2, 4}  # 3 collides with 1; 5 loses to 4

    def test_replayed_batch_is_idempotent(self, spark, tmp_path):
        """Structured Streaming re-runs a micro-batch whose checkpoint
        commit didn't land; replaying (batch_df, batch_id) must neither
        duplicate rows nor drop the batch's docs against its own
        half-written bands."""
        from brahmand_spark.streaming.dedup_stream import _process_batch

        store = str(tmp_path / "bands")
        accepted = str(tmp_path / "accepted")
        doc_a = ("the quick brown fox jumps over the lazy dog while "
                 "seven wizards brew strong potions at midnight")
        doc_b = ("completely unrelated text about compilers and "
                 "distributed query engines running vectorized plans")
        batch = spark.createDataFrame(
            [(1, doc_a), (2, doc_b)], "doc_id long, text string")

        kwargs = dict(store_path=store, accepted_path=accepted,
                      id_col="doc_id", text_col="text",
                      n=3, num_hashes=64, bands=16, seed=42)
        _process_batch(batch, 0, **kwargs)
        first_accepted = sorted(
            (r.doc_id, r.text)
            for r in spark.read.parquet(accepted).collect())
        first_bands = sorted(
            map(tuple, spark.read.parquet(store)
                .select("id", "band", "bucket").collect()))
        assert {d for d, _ in first_accepted} == {1, 2}

        # replay the same batch (simulated recovery) — bit-identical
        _process_batch(batch, 0, **kwargs)
        assert sorted(
            (r.doc_id, r.text)
            for r in spark.read.parquet(accepted).collect()
        ) == first_accepted
        assert sorted(
            map(tuple, spark.read.parquet(store)
                .select("id", "band", "bucket").collect())
        ) == first_bands

        # a later batch still collides against batch 0's bands
        near = doc_a.replace("midnight", "sunrise")
        batch2 = spark.createDataFrame(
            [(3, near)], "doc_id long, text string")
        _process_batch(batch2, 1, **kwargs)
        assert {r.doc_id for r in spark.read.parquet(accepted).collect()} \
            == {1, 2}


class TestCypherOverStream:
    def test_match_filter_project_on_stream(self, spark, tpch, tmp_path):
        """The compiler's narrow operators (scan/rename/filter/project)
        are stream-safe: the same Cypher text runs unchanged when the
        node table is a readStream source."""
        from brahmand_spark.graphs.tpch import build_session

        from .conftest import SF_SMOKE

        src = str(tmp_path / "events_in")
        spark.read.parquet(f"{SF_SMOKE}/events.parquet") \
            .write.mode("overwrite").parquet(src)
        batch_schema = spark.read.parquet(src).schema
        stream = spark.readStream.schema(batch_schema).parquet(src)

        s = build_session(spark, SF_SMOKE)
        s.register_table("Event", stream)
        q = ("MATCH (e:Event) WHERE e.value > 99 "
             "RETURN e.event_id AS id, e.user_id AS user, e.value AS v")
        out = s.execute(q)
        assert out.isStreaming
        query = (out.writeStream.format("memory")
                 .queryName("cypher_stream_out")
                 .trigger(availableNow=True).start())
        query.awaitTermination(120)
        got = spark.sql("SELECT * FROM cypher_stream_out")
        expected = tpch.execute(q)
        assert got.count() == expected.count() > 0
        assert got.exceptAll(expected).count() == 0


class TestDedupStreamStoreValidation:
    def test_old_format_store_fails_loudly(self, spark, tmp_path):
        """A store written by the old flat-append layout (no batch_id
        partitions) must raise, not be silently ignored — swallowing
        the read error would re-accept every previously-seen document
        (ADVICE r3)."""
        import pytest

        from brahmand_spark.streaming.dedup_stream import _process_batch

        store = str(tmp_path / "bands")
        # old-format store: flat parquet, no batch_id partition column
        spark.createDataFrame(
            [(1, 0, 123)], "id long, band int, bucket long"
        ).write.parquet(store)
        batch = spark.createDataFrame(
            [(9, "some document text with enough tokens to shingle "
                 "properly across several words")],
            "doc_id long, text string",
        )
        with pytest.raises(Exception, match="batch_id"):
            _process_batch(
                batch, 1, store, str(tmp_path / "acc"),
                "doc_id", "text", 3, 64, 16, 42,
            )

    def test_missing_store_is_first_batch(self, spark, tmp_path):
        """Nonexistent store path = first batch: everything accepted."""
        from brahmand_spark.streaming.dedup_stream import _process_batch

        batch = spark.createDataFrame(
            [(9, "some document text with enough tokens to shingle "
                 "properly across several words")],
            "doc_id long, text string",
        )
        _process_batch(
            batch, 0, str(tmp_path / "bands"), str(tmp_path / "acc"),
            "doc_id", "text", 3, 64, 16, 42,
        )
        got = spark.read.parquet(str(tmp_path / "acc"))
        assert [r.doc_id for r in got.collect()] == [9]


class TestStreamStaticCypherHop:
    """Round-4 (round-2 task 8): a MATCH hop whose NODE table is a
    readStream source joined against STATIC edge/node tables compiles
    to a Spark stream-static join and returns the same rows as the
    all-static plan."""

    def _sessions(self, spark, tmp_path):
        from brahmand_spark.catalog import RelationshipSchema
        from brahmand_spark.graphs.tpch import build_session

        from .conftest import SF_SMOKE

        def with_raised_by(s):
            # Event -> Customer FK edge derived from the static events
            # table (user_id is a customer key in the driver data)
            s.schema.add_relationship(RelationshipSchema(
                "RAISED_BY", "raised_by_tbl", "Event", "Customer",
                "from_Event", "to_Customer",
                ["from_Event", "to_Customer"],
            ))
            edges = (
                spark.read.parquet(f"{SF_SMOKE}/events.parquet")
                .selectExpr("event_id AS from_Event",
                            "user_id AS to_Customer")
            )
            s.register_table("raised_by_tbl", edges)
            return s

        static = with_raised_by(build_session(spark, SF_SMOKE))

        src = str(tmp_path / "events_stream_src")
        spark.read.parquet(f"{SF_SMOKE}/events.parquet") \
            .write.mode("overwrite").parquet(src)
        schema = spark.read.parquet(src).schema
        streaming = with_raised_by(build_session(spark, SF_SMOKE))
        streaming.register_table(
            "Event", spark.readStream.schema(schema).parquet(src))
        return static, streaming

    QUERY = ("MATCH (e:Event)-[:RAISED_BY]->(c:Customer) "
             "WHERE e.value > 150 AND e.event_type = 'error' "
             "RETURN e.event_id AS event_id, c.c_name AS name")

    def test_stream_hop_equals_batch_hop(self, spark, tmp_path):
        static, streaming = self._sessions(spark, tmp_path)
        expected = static.execute(self.QUERY)
        out = streaming.execute(self.QUERY)
        assert out.isStreaming
        q = (out.writeStream.format("memory")
             .queryName("stream_static_hop")
             .trigger(availableNow=True).start())
        q.awaitTermination(180)
        got = spark.sql("SELECT * FROM stream_static_hop")
        assert got.count() == expected.count() > 0
        assert got.exceptAll(expected).count() == 0
        assert expected.exceptAll(got).count() == 0


class TestStreamingHll:
    def test_stream_registers_match_batch_and_estimate(
        self, spark, events, tmp_path
    ):
        """Distinct users per (hour, event_type) via HLL: (a) the
        streamed register table (availableNow over multi-file source)
        is IDENTICAL to the batch build — max(rho) merges across
        micro-batches; (b) folding the registers estimates within the
        HLL error bound of the exact per-window countDistinct."""
        import math

        from pyspark.sql import functions as F

        from brahmand_spark.ops.sketches import hll_estimate
        from brahmand_spark.streaming import (
            read_event_stream, windowed_hll_registers,
        )

        from .helpers import canon

        src = str(tmp_path / "hll_src")
        events.repartition(4).write.mode("overwrite").parquet(src)
        stream = read_event_stream(spark, src, max_files_per_trigger=1)
        q = (
            windowed_hll_registers(stream, "user_id")
            .writeStream.format("memory").queryName("hll_regs")
            .outputMode("complete").trigger(availableNow=True).start()
        )
        q.awaitTermination(120)
        got = spark.sql("SELECT * FROM hll_regs")
        want = windowed_hll_registers(events, "user_id")
        assert canon(got.toPandas()) == canon(want.toPandas())

        est = {
            (r["window_start"], r["event_type"]): r["hll_estimate"]
            for r in hll_estimate(
                got, ["window_start", "event_type"]).collect()
        }
        exact = {
            (r["ws"], r["event_type"]): r["n"]
            for r in events.groupBy(
                F.date_trunc("hour", "ts").alias("ws"), "event_type"
            ).agg(F.countDistinct("user_id").alias("n")).collect()
        }
        assert set(est) == {(k[0].replace(tzinfo=None), k[1])
                            for k in est}  # NTZ-normalized keys exist
        bound = 3.25 / math.sqrt(1024)
        matched = 0
        for (ws, et), n in exact.items():
            key = next((k for k in est
                        if k[1] == et and k[0].replace(tzinfo=None)
                        == ws.replace(tzinfo=None)), None)
            assert key is not None, (ws, et)
            # linear-counting regime (n << m) is near-exact
            assert abs(est[key] - n) <= max(3.0, bound * n), (key, n)
            matched += 1
        assert matched == len(exact) > 0


class TestFunnelJoin:
    """Stream-stream interval join (streaming/joins.funnel_join):
    batch parity vs a DuckDB interval-join oracle, and a REAL
    two-stream run (both sides readStream file sources) matching the
    batch result. Inner stream-stream joins emit on match, so
    availableNow produces the complete pair set; the watermark +
    time-range bound exist to keep the state store finite."""

    WITHIN = "2 hours"

    def _sides(self, events):
        signup = events.filter(F.col("event_type") == "signup")
        purchase = events.filter(F.col("event_type") == "purchase")
        return signup, purchase

    def test_batch_matches_duckdb(self, events, duck):
        from brahmand_spark.streaming import funnel_join

        signup, purchase = self._sides(events)
        got = funnel_join(signup, purchase, within=self.WITHIN).select(
            "user_id", "l_event_id", "r_event_id", "l_ts", "r_ts"
        )
        assert_same(got, duck.sql("""
            SELECT s.user_id, s.event_id AS l_event_id,
                   p.event_id AS r_event_id,
                   s.ts AS l_ts, p.ts AS r_ts
            FROM events s JOIN events p
              ON s.user_id = p.user_id
             AND s.event_type = 'signup' AND p.event_type = 'purchase'
             AND p.ts >= s.ts
             AND p.ts <= s.ts + INTERVAL '2 hours'"""))

    def test_stream_stream_matches_batch(self, spark, events, tmp_path):
        from brahmand_spark.streaming import funnel_join, read_event_stream

        signup, purchase = self._sides(events)
        src_l = str(tmp_path / "signups")
        src_r = str(tmp_path / "purchases")
        signup.repartition(3).write.mode("overwrite").parquet(src_l)
        purchase.repartition(3).write.mode("overwrite").parquet(src_r)
        out = funnel_join(
            read_event_stream(spark, src_l, max_files_per_trigger=2),
            read_event_stream(spark, src_r, max_files_per_trigger=2),
            within=self.WITHIN,
        )
        assert out.isStreaming
        q = (out.writeStream.format("memory").queryName("funnel_test")
             .trigger(availableNow=True).start())
        q.awaitTermination(180)
        got = spark.sql(
            "SELECT user_id, l_event_id, r_event_id FROM funnel_test")
        want = funnel_join(signup, purchase, within=self.WITHIN) \
            .select("user_id", "l_event_id", "r_event_id")
        assert got.count() == want.count() > 0
        assert got.exceptAll(want).count() == 0
        assert want.exceptAll(got).count() == 0


class TestStreamingDedupReal:
    def test_duplicated_stream_dedups_to_batch_distinct(
            self, spark, events, tmp_path):
        """streaming_dedup on a REAL stream whose source holds every
        event twice (across separate files, same micro-batch horizon):
        dropDuplicatesWithinWatermark state filters the replays, and
        the surviving set equals the batch distinct."""
        from brahmand_spark.streaming import (
            read_event_stream, streaming_dedup,
        )

        src = str(tmp_path / "dup_events")
        doubled = events.union(events)
        doubled.repartition(4).write.mode("overwrite").parquet(src)
        out = streaming_dedup(
            read_event_stream(spark, src, max_files_per_trigger=2),
            keys=("event_id",), watermark="1 day",
        )
        q = (out.writeStream.format("memory").queryName("dedup_real")
             .trigger(availableNow=True).start())
        q.awaitTermination(180)
        got = spark.sql("SELECT event_id FROM dedup_real")
        n = events.count()
        assert got.count() == n
        assert got.distinct().count() == n


class TestStreamingCms:
    def test_stream_cells_match_batch_and_estimates(
        self, spark, events, tmp_path
    ):
        """Per-window count-min sketch over a REAL multi-file stream:
        (a) the streamed cell table equals the batch build (sums merge
        across micro-batches); (b) point estimates from the cells
        never underestimate the exact per-window value counts and are
        exact for values with no colliding buckets."""
        from pyspark.sql import functions as F

        from brahmand_spark.streaming import (
            read_event_stream, windowed_cms_table,
        )

        from .helpers import canon

        src = str(tmp_path / "cms_src")
        events.repartition(3).write.mode("overwrite").parquet(src)
        stream = read_event_stream(spark, src, max_files_per_trigger=1)
        q = (
            windowed_cms_table(stream, "user_id", depth=3, width=64)
            .writeStream.format("memory").queryName("cms_cells")
            .outputMode("complete").trigger(availableNow=True).start()
        )
        q.awaitTermination(120)
        got = spark.sql("SELECT * FROM cms_cells")
        want = windowed_cms_table(events, "user_id", depth=3, width=64)
        assert canon(got.toPandas()) == canon(want.toPandas())
        # state bound: <= depth * width rows per window
        per_w = got.groupBy("window_start").count().collect()
        assert all(r["count"] <= 3 * 64 for r in per_w)

        # point estimates >= exact counts (min over rows)
        from brahmand_spark.ops.sketches import cms_estimate

        one_w = got.orderBy("window_start").first()["window_start"]
        cells = got.filter(F.col("window_start") == one_w) \
            .select("row", "bucket", "c")
        exact = events.filter(
            F.date_trunc("hour", "ts") == one_w
        ).groupBy("user_id").agg(F.count(F.lit(1)).alias("n"))
        est = {r["user_id"]: r["cms_estimate"] for r in cms_estimate(
            cells, exact.select("user_id"), "user_id",
            depth=3, width=64).collect()}
        for r in exact.collect():
            assert est[r["user_id"]] >= r["n"]


class TestStreamingUrlDedup:
    def test_url_stream_dedups_to_batch_normalized_distinct(
            self, spark, tmp_path):
        """streaming_url_dedup on a REAL stream: raw URL variants that
        normalize identically (case, www, utm params, trailing slash)
        collapse to one survivor per normalized URL; unparseable rows
        drop; the surviving set equals the batch path's."""
        import datetime

        from brahmand_spark.streaming import (
            read_event_stream, streaming_url_dedup,
        )

        t0 = datetime.datetime(2024, 1, 1)
        rows = []
        for i in range(40):
            variant = i % 4
            base = f"site{i % 5}.com/p/{i % 10}"
            url = [f"https://{base}",
                   f"HTTPS://www.{base}",
                   f"https://{base}/?utm_source=x",
                   f"https://{base}/"][variant]
            rows.append((i, url, t0 + datetime.timedelta(seconds=i)))
        rows.append((99, "not a url", t0))
        df = spark.createDataFrame(
            rows, "event_id long, url string, ts timestamp")
        src = str(tmp_path / "url_events")
        df.repartition(4).write.mode("overwrite").parquet(src)
        out = streaming_url_dedup(
            read_event_stream(spark, src, max_files_per_trigger=2),
            watermark="1 day")
        q = (out.writeStream.format("memory").queryName("url_dedup")
             .trigger(availableNow=True).start())
        q.awaitTermination(180)
        got = spark.sql("SELECT url_norm FROM url_dedup")
        want = streaming_url_dedup(df, watermark="1 day")
        assert got.count() == want.count()
        assert got.distinct().count() == got.count()
        assert sorted(r["url_norm"] for r in got.collect()) \
            == sorted(r["url_norm"] for r in want.collect())
        # i%10 determines both host (i%5) and path (i%10): 10 distinct
        # normalized URLs survive; every variant collapsed, bad row
        # dropped
        assert got.count() == 10


class TestStreamingUrlDedupSemantics:
    def _df(self, spark):
        import datetime

        t0 = datetime.datetime(2024, 1, 1)
        rows = [
            (1, "https://a.com/x", t0),
            (2, "https://A.com/x/", t0 + datetime.timedelta(seconds=5)),
            (3, "bogus one", t0),
            (4, "bogus two", t0),
            (5, "also not a url", t0),
        ]
        return spark.createDataFrame(
            rows, "event_id long, url string, ts timestamp")

    def test_keep_invalid_passes_all_malformed_rows(self, spark):
        """NULL url_norm must never become a shared dedup key: all
        malformed rows survive with keep_invalid=True (r6 review)."""
        from brahmand_spark.streaming import streaming_url_dedup

        out = streaming_url_dedup(self._df(spark), keep_invalid=True)
        ids = sorted(r["event_id"] for r in out.collect())
        assert ids == [1, 3, 4, 5]
        dropped = streaming_url_dedup(self._df(spark))
        assert sorted(r["event_id"] for r in dropped.collect()) == [1]

    def test_batch_survivor_deterministic_earliest_ts(self, spark):
        """Batch survivor = earliest ts, stable under repartition."""
        from brahmand_spark.streaming import streaming_url_dedup

        df = self._df(spark)
        a = sorted(map(str, streaming_url_dedup(df).collect()))
        b = sorted(map(str, streaming_url_dedup(
            df.repartition(7)).collect()))
        assert a == b
        assert streaming_url_dedup(df).first()["event_id"] == 1


class TestStreamingDedupAgainst:
    def _corpus(self, spark):
        from .conftest import SF_SMOKE

        return spark.read.parquet(
            f"{SF_SMOKE}/documents.parquet").select("doc_id", "text")

    def test_stream_probe_equals_batch(self, spark, tmp_path):
        """dedup_against_stream on a REAL document stream: the union
        of per-micro-batch pairs equals one batch dedup_against over
        all docs (the index is static; batches are independent)."""
        from brahmand_spark.models import ModelStore
        from brahmand_spark.ops.dedup_index import (
            build_dedup_index, dedup_against,
        )
        from brahmand_spark.streaming import dedup_against_stream
        from brahmand_spark.streaming.windows import read_event_stream

        docs = self._corpus(spark)
        corpus = docs.filter(F.col("doc_id") % 5 != 0)
        batch = docs.filter(F.col("doc_id") % 5 == 0).select(
            (F.col("doc_id") + 10_000_000).alias("doc_id"),
            F.concat("text", F.lit(" zzz")).alias("text"))
        st = ModelStore(str(tmp_path / "m"))
        build_dedup_index(corpus, "dix", st)
        src = str(tmp_path / "dstream")
        batch.repartition(4).write.mode("overwrite").parquet(src)

        results = []
        writer = dedup_against_stream(
            spark, "dix",
            read_event_stream(spark, src, max_files_per_trigger=1),
            st, sink=lambda df, bid: results.extend(
                tuple(r) for r in df.collect()),
            threshold=0.5)
        q = writer.trigger(availableNow=True).start()
        q.awaitTermination(180)
        want = sorted(map(tuple, dedup_against(
            spark, "dix", batch, st, threshold=0.5).collect()))
        assert sorted(results) == want and len(want) > 0

    def test_add_clean_grows_index_across_batches(self, spark,
                                                  tmp_path):
        """add_clean=True: a later micro-batch's near-copy must match
        a doc that an EARLIER batch added to the index (two
        availableNow runs over one checkpoint = strictly ordered
        batches)."""
        from brahmand_spark.models import ModelStore
        from brahmand_spark.ops.dedup_index import build_dedup_index
        from brahmand_spark.streaming import dedup_against_stream
        from brahmand_spark.streaming.windows import read_event_stream

        docs = self._corpus(spark)
        st = ModelStore(str(tmp_path / "m"))
        build_dedup_index(docs.filter(F.col("doc_id") < 100),
                          "gix", st)
        novel = docs.filter(F.col("doc_id") >= 400).select(
            (F.col("doc_id") + 30_000_000).alias("doc_id"), "text")
        src = str(tmp_path / "gstream")
        ckpt = str(tmp_path / "gckpt")
        novel.coalesce(1).write.mode("overwrite").parquet(src)
        schema = "doc_id long, text string"

        results = []

        def run():
            q = dedup_against_stream(
                spark, "gix",
                read_event_stream(spark, src, schema=schema),
                st, sink=lambda df, bid: results.extend(
                    tuple(r) for r in df.collect()),
                threshold=0.5, add_clean=True,
            ).option("checkpointLocation", ckpt) \
             .trigger(availableNow=True).start()
            q.awaitTermination(180)

        run()
        n_after_first = st.load("gix", "dedup_index")["params"]["n_docs"]
        assert n_after_first > 100  # clean novels were appended
        # wave-1 docs that matched the initial corpus (the fixture
        # plants near-dups) were NOT added; pick copies of docs that
        # WERE (clean in wave 1, hence now in the index)
        wave1_matched = {r[0] for r in results}
        clean_ids = [
            r["doc_id"] for r in novel.collect()
            if r["doc_id"] not in wave1_matched][:5]
        assert len(clean_ids) == 5
        copies = novel.filter(F.col("doc_id").isin(clean_ids)).select(
            (F.col("doc_id") + 1_000_000).alias("doc_id"),
            F.concat("text", F.lit(" qq")).alias("text"))
        copies.coalesce(1).write.mode("append").parquet(src)
        n_results_1 = len(results)
        run()
        wave2 = results[n_results_1:]
        # every copy matched the doc wave 1 added to the index
        assert {r[1] for r in wave2} >= set(clean_ids)
        # and matched copies were NOT re-added
        n_final = st.load("gix", "dedup_index")["params"]["n_docs"]
        assert n_final == n_after_first

    def test_add_clean_uses_unfiltered_verdict(self, spark, tmp_path):
        """include_exact=False suppresses exact pairs from the SINK,
        but clean-ness must still see them (review r8): a byte-
        identical doc must NOT be appended to the index."""
        from brahmand_spark.models import ModelStore
        from brahmand_spark.ops.dedup_index import build_dedup_index
        from brahmand_spark.streaming import dedup_against_stream
        from brahmand_spark.streaming.windows import read_event_stream

        docs = self._corpus(spark)
        corpus = docs.filter(F.col("doc_id") < 100)
        st = ModelStore(str(tmp_path / "m"))
        build_dedup_index(corpus, "uix", st)
        n0 = st.load("uix", "dedup_index")["params"]["n_docs"]
        # batch = one exact copy of a corpus doc (id-shifted)
        batch = corpus.limit(1).select(
            (F.col("doc_id") + 40_000_000).alias("doc_id"), "text")
        src = str(tmp_path / "ustream")
        batch.coalesce(1).write.mode("overwrite").parquet(src)
        results = []
        q = dedup_against_stream(
            spark, "uix",
            read_event_stream(spark, src, schema="doc_id long, "
                              "text string"),
            st, sink=lambda df, bid: results.extend(
                tuple(r) for r in df.collect()),
            threshold=0.5, include_exact=False, add_clean=True,
        ).option("checkpointLocation", str(tmp_path / "uckpt")) \
         .trigger(availableNow=True).start()
        q.awaitTermination(180)
        # sink saw only the near frame (the exact pair is suppressed
        # and anti-joined out of near), yet the doc must NOT have
        # been added as clean
        n_final = st.load("uix", "dedup_index")["params"]["n_docs"]
        assert n_final == n0, (results, n_final)


class TestStreamingVectorSearch:
    def test_stream_search_equals_batch(self, spark, tmp_path):
        """ann_search_stream on a REAL query stream: the union of
        per-micro-batch results equals one batch ann_search over all
        queries (the index is static; batches are independent)."""
        from brahmand_spark.models import ModelStore
        from brahmand_spark.ops.similarity import ann_search, build_ann_index
        from brahmand_spark.streaming import ann_search_stream
        from brahmand_spark.streaming.windows import read_event_stream

        from .conftest import SF_SMOKE

        emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
        st = ModelStore(str(tmp_path / "m"))
        build_ann_index(emb, "sidx", st, n_cells=8, m=4, n_codes=8,
                        source_path=f"{SF_SMOKE}/embeddings.parquet")
        queries = emb.filter("vec_id < 8")
        src = str(tmp_path / "qstream")
        queries.repartition(4).write.mode("overwrite").parquet(src)

        results = []
        writer = ann_search_stream(
            spark, "sidx",
            read_event_stream(spark, src, max_files_per_trigger=1),
            st, sink=lambda df, bid: results.extend(
                tuple(r) for r in df.collect()),
            k=5, nprobe=3)
        q = writer.trigger(availableNow=True).start()
        q.awaitTermination(180)
        want = sorted(map(tuple, ann_search(
            spark, "sidx", queries, st, k=5, nprobe=3).collect()))
        assert sorted(results) == want and len(want) > 0

    def test_direct_stream_query_rejected(self, spark, tmp_path):
        from brahmand_spark.models import ModelStore
        from brahmand_spark.ops.similarity import ann_search, build_ann_index
        from brahmand_spark.streaming.windows import read_event_stream

        from .conftest import SF_SMOKE

        emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
        st = ModelStore(str(tmp_path / "m2"))
        build_ann_index(emb, "sidx2", st, n_cells=4, m=4, n_codes=8)
        src = str(tmp_path / "q2")
        emb.limit(4).write.mode("overwrite").parquet(src)
        with pytest.raises(ValueError, match="ann_search_stream"):
            ann_search(spark, "sidx2",
                       read_event_stream(spark, src), st, corpus=emb)
