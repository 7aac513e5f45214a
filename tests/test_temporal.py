"""openCypher temporal surface (r10): typed literals, duration
arithmetic, accessors, truncation — compiled to native Spark date/
interval expressions and checked against DuckDB's native temporals.

The reference has no temporal literals (ref: ast.rs:197-204), so this
whole file is extension surface; correctness is defined by the DuckDB
oracle and by pinned known dates (1995-01-01 was a Sunday).
"""

import pytest

from brahmand_spark.errors import PlanError
from tests.helpers import assert_same, filtered_at_scan


class TestDurationParse:
    def test_iso_components(self):
        from brahmand_spark.compile.temporal import parse_iso_duration

        assert parse_iso_duration("P30D") == {"days": 30.0}
        assert parse_iso_duration("P1Y2M3W4D") == {
            "years": 1.0, "months": 2.0, "weeks": 3.0, "days": 4.0}
        assert parse_iso_duration("PT3H30M1.5S") == {
            "hours": 3.0, "minutes": 30.0, "seconds": 1.5}
        assert parse_iso_duration("P1DT12H") == {"days": 1.0, "hours": 12.0}

    @pytest.mark.parametrize("bad", ["P", "30D", "PT", "P30X", "garbage"])
    def test_invalid_iso_raises(self, bad):
        from brahmand_spark.compile.temporal import parse_iso_duration

        with pytest.raises(PlanError):
            parse_iso_duration(bad)


class TestTemporalParser:
    def test_qualified_call_parses(self):
        from brahmand_spark.parser import parse

        q = parse(
            "MATCH (o:Order) RETURN date.truncate('month', o.d) AS m")
        item = q.return_clause.items[0]
        assert item.expr.name == "date.truncate"

    def test_variable_named_date_keeps_property_access(self):
        from brahmand_spark.parser import ast, parse

        q = parse("MATCH (date:Order) RETURN date.year AS y")
        item = q.return_clause.items[0]
        assert isinstance(item.expr, ast.PropertyAccess)
        assert item.expr.alias == "date"


class TestTemporalQueries:
    def test_accessors_pinned_dates(self, tpch):
        got = tpch.execute(
            "UNWIND [date('1995-01-01'), date('1995-01-02')] AS d "
            "RETURN d, d.year AS y, d.quarter AS q, d.month AS m, "
            "d.day AS dom, d.dayOfWeek AS dw, d.ordinalDay AS od"
        ).collect()
        sun, mon = sorted(got, key=lambda r: r.d.isoformat())
        assert (sun.y, sun.q, sun.m, sun.dom, sun.dw, sun.od) == (
            1995, 1, 1, 1, 7, 1)   # ISO: Sunday = 7
        assert (mon.dw, mon.od) == (1, 2)  # Monday = 1

    def test_literal_arithmetic_truncate_vs_duckdb(self, tpch, duck):
        spark_df = tpch.execute("""
            MATCH (o:Order)
            WITH o.o_orderdate AS t
            WHERE t >= datetime('1995-01-01')
              AND t < datetime('1995-01-01') + duration('P90D')
            WITH date.truncate('month', date(t)) AS m, t
            RETURN toString(m) AS m, count(*) AS cnt, min(t.year) AS y,
                   max(t.ordinalDay) AS od
            ORDER BY m
        """)
        # pandas maps DuckDB DATE to datetime64 but Spark DATE to
        # datetime.date — compare the ISO strings instead
        oracle = duck.sql("""
            SELECT strftime(date_trunc('month', CAST(t AS DATE)),
                            '%Y-%m-%d') AS m,
                   count(*) AS cnt,
                   CAST(min(year(t)) AS INT) AS y,
                   CAST(max(dayofyear(t)) AS INT) AS od
            FROM (SELECT o_orderdate AS t FROM orders
                  WHERE o_orderdate >= TIMESTAMP '1995-01-01'
                    AND o_orderdate < TIMESTAMP '1995-01-01'
                        + INTERVAL 90 DAY)
            GROUP BY 1 ORDER BY 1
        """)
        assert_same(spark_df, oracle)

    def test_duration_map_and_between(self, tpch):
        row = tpch.execute("""
            MATCH (o:Order) WITH o.o_orderdate AS t
            ORDER BY t LIMIT 1
            WITH t, t + duration({days: 3, hours: 12}) AS t2
            RETURN duration.between(t, t2) AS dur,
                   (t2 - duration('PT12H')) AS back
        """).collect()[0]
        # day-time interval: 3 days 12 hours
        assert row.dur.days == 3 and row.dur.seconds == 12 * 3600
        assert row.back.hour == 0  # t + 3d12h - 12h lands on midnight

    def test_datetime_truncate_units(self, tpch):
        row = tpch.execute(
            "UNWIND [datetime('1997-03-15 13:45:57')] AS t "
            "RETURN datetime.truncate('hour', t) AS h, "
            "       datetime.truncate('day', t) AS d, "
            "       date.truncate('year', t) AS y"
        ).collect()[0]
        assert row.h.isoformat() == "1997-03-15T13:00:00"
        assert row.d.isoformat() == "1997-03-15T00:00:00"
        assert row.y.isoformat() == "1997-01-01"

    def test_duration_ordering_and_interval_accessors(self, tpch):
        rows = tpch.execute("""
            UNWIND [duration('P2D'), duration('PT36H')] AS dur
            WITH dur ORDER BY dur DESC
            RETURN dur.days AS dd, dur.hours AS hh
        """).collect()
        assert [(r.dd, r.hh) for r in rows] == [(2, 0), (1, 12)]

    def test_epoch_accessors(self, tpch):
        row = tpch.execute(
            "UNWIND [datetime('1970-01-02 00:00:00')] AS t "
            "RETURN t.epochSeconds AS es, t.epochMillis AS em"
        ).collect()[0]
        assert row.es == 86400 and row.em == 86400000

    def test_negative_durations(self, tpch):
        """openCypher negative durations (r11): map components may be
        negative (the parser's unary-minus wrap is unwrapped) and an
        ISO literal takes a leading '-' negating every component."""
        row = tpch.execute(
            "UNWIND [datetime('1997-03-15 12:00:00')] AS t "
            "RETURN t + duration({days: -3}) AS back, "
            "       t + duration('-P1DT6H') AS back2, "
            "       t + duration({days: -1, hours: 6}) AS mixed"
        ).collect()[0]
        assert row.back.isoformat() == "1997-03-12T12:00:00"
        assert row.back2.isoformat() == "1997-03-14T06:00:00"
        assert row.mixed.isoformat() == "1997-03-14T18:00:00"

    def test_negative_iso_parse(self):
        from brahmand_spark.compile.temporal import parse_iso_duration

        assert parse_iso_duration("-P1DT6H") == {
            "days": -1.0, "hours": -6.0}

    def test_offset_literals_normalize_to_utc(self, tpch):
        """r11: offset-bearing datetime literals normalize to the UTC
        instant at plan time; Z and zone-free agree; epochSeconds is
        instant-true."""
        row = tpch.execute(
            "UNWIND [1] AS x RETURN "
            "datetime('2024-01-08T10:00:00+02:00') AS a, "
            "datetime('2024-01-08T10:00:00Z') AS b, "
            "datetime('2024-01-08 10:00:00-05:30') AS c, "
            "datetime('2024-01-08T10:00:00+02:00').epochSeconds AS es"
        ).collect()[0]
        assert row.a.isoformat() == "2024-01-08T08:00:00"
        assert row.b.isoformat() == "2024-01-08T10:00:00"
        assert row.c.isoformat() == "2024-01-08T15:30:00"
        assert row.es == 1704700800  # 2024-01-08T08:00:00Z

    def test_named_zone_literals_normalize(self, tpch):
        """r12 (VERDICT r11 missing #1): named IANA zones resolve
        through the system tz database at plan time, DST-correct —
        Paris is +01:00 in January and +02:00 in July; the full
        openCypher offset+zone form takes the instant from the
        offset."""
        row = tpch.execute(
            "UNWIND [1] AS x RETURN "
            "datetime('2024-01-08T10:00:00[Europe/Paris]') AS w, "
            "datetime('2024-07-08T10:00:00[Europe/Paris]') AS s, "
            "datetime('2024-01-08T10:00:00+01:00[Europe/Paris]') AS f,"
            "datetime('2024-07-08T10:00:00[America/New_York]') AS ny"
        ).collect()[0]
        assert row.w.isoformat() == "2024-01-08T09:00:00"  # CET +1
        assert row.s.isoformat() == "2024-07-08T08:00:00"  # CEST +2
        assert row.f.isoformat() == "2024-01-08T09:00:00"
        assert row.ny.isoformat() == "2024-07-08T14:00:00"  # EDT -4

    def test_unknown_zone_clear_error(self, tpch):
        with pytest.raises(PlanError, match="unknown time zone"):
            tpch.execute(
                "UNWIND [1] AS x RETURN "
                "datetime('2024-01-08T10:00:00[Mars/Olympus]') AS a")
        with pytest.raises(PlanError, match="no time zone"):
            tpch.execute(
                "UNWIND [1] AS x RETURN "
                "date('2024-01-08[Europe/Paris]') AS a")

    def test_date_only_body_with_zone_is_midnight(self, tpch):
        row = tpch.execute(
            "UNWIND [1] AS x RETURN "
            "datetime('2024-07-08[Europe/Paris]') AS m").collect()[0]
        assert row.m.isoformat() == "2024-07-07T22:00:00"  # CEST +2

    def test_map_form_constructors(self, tpch):
        """r12: date/datetime/localdatetime from literal component
        maps; datetime's timezone takes a named zone or an offset."""
        row = tpch.execute(
            "UNWIND [1] AS x RETURN "
            "date({year: 1995, month: 3, day: 15}) AS d, "
            "date({year: 1995}) AS d1, "
            "datetime({year: 2024, month: 7, day: 8, hour: 10, "
            "timezone: 'Europe/Paris'}) AS z, "
            "datetime({year: 2024, month: 7, day: 8, hour: 10, "
            "timezone: '+02:00'}) AS o, "
            "localdatetime({year: 2024, month: 1, day: 2, hour: 3, "
            "minute: 4, second: 5, millisecond: 60}) AS l"
        ).collect()[0]
        assert row.d.isoformat() == "1995-03-15"
        assert row.d1.isoformat() == "1995-01-01"
        assert row.z.isoformat() == "2024-07-08T08:00:00"
        assert row.o.isoformat() == "2024-07-08T08:00:00"
        assert row.l.isoformat() == "2024-01-02T03:04:05.060000"

    def test_map_form_errors(self, tpch):
        with pytest.raises(PlanError, match="year"):
            tpch.execute("UNWIND [1] AS x RETURN "
                         "datetime({month: 3}) AS a")
        with pytest.raises(PlanError, match="timezone"):
            tpch.execute(
                "UNWIND [1] AS x RETURN localdatetime({year: 2024, "
                "timezone: 'Europe/Paris'}) AS a")
        with pytest.raises(PlanError, match="year/month/day"):
            tpch.execute("UNWIND [1] AS x RETURN "
                         "date({year: 2024, hour: 3}) AS a")

    def test_named_zone_bound_stays_pushed_filter(self, tpch):
        """The named-zone normalization happens at PLAN time, so an
        events.ts range bound is a plain comparison filtering the
        table's scan directly (on a parquet scan, a pushed filter),
        exactly like the r11 offset path."""
        df = tpch.execute(
            "MATCH (e:Event) WHERE "
            "e.ts >= datetime('2024-01-08T10:00:00[Europe/Paris]') "
            "RETURN e.event_id AS id")
        assert filtered_at_scan(df, "ts", "(ts >= 2024-01-08 09:00:00)")

    def test_chained_accessor_on_node_property(self, tpch, duck):
        """r11: n.ts.year-style chained access resolves from the
        catalog table schema — no WITH projection needed."""
        from tests.helpers import assert_same

        assert_same(
            tpch.execute(
                "MATCH (o:Order) WHERE o.o_orderdate.year = 1997 "
                "AND o.o_orderdate.month <= 2 "
                "RETURN o.o_orderkey AS k, o.o_orderdate.quarter AS q "
                "ORDER BY k"),
            duck.sql(
                "SELECT o_orderkey AS k, CAST(quarter(o_orderdate) "
                "AS INT) AS q FROM orders WHERE year(o_orderdate) = "
                "1997 AND month(o_orderdate) <= 2 ORDER BY k"))

    def test_chained_struct_access_still_works(self, tpch):
        row = tpch.execute(
            "UNWIND [{a: {b: 42, c: 'x'}}] AS m "
            "RETURN m.a.b AS v, m.a.c AS s").collect()[0]
        assert (row.v, row.s) == (42, "x")

    def test_constructor_chain(self, tpch):
        row = tpch.execute(
            "UNWIND [1] AS x RETURN date('1995-03-15').year AS y, "
            "datetime('1995-03-15 13:10:11').hour AS h, "
            "duration('P2DT3H').days AS dd").collect()[0]
        assert (row.y, row.h, row.dd) == (1995, 13, 2)

    def test_unwind_scalar_rebind_keeps_struct_access(self, tpch):
        # non-temporal scalars keep legacy struct-field access
        row = tpch.execute(
            "UNWIND [{a: 1, b: 'x'}] AS m RETURN m.a AS a, m.b AS b"
        ).collect()[0]
        assert (row.a, row.b) == (1, "x")


class TestTemporalErrors:
    def test_nonliteral_duration_rejected(self, tpch):
        with pytest.raises(PlanError, match="duration"):
            tpch.execute(
                "MATCH (o:Order) RETURN duration(o.o_orderpriority) AS d")

    def test_unknown_accessor_rejected(self, tpch):
        with pytest.raises(PlanError, match="accessor"):
            tpch.execute(
                "UNWIND [date('1995-01-01')] AS d RETURN d.fortnight AS x")

    def test_bad_truncate_unit_rejected(self, tpch):
        with pytest.raises(PlanError, match="truncate unit"):
            tpch.execute(
                "UNWIND [date('1995-01-01')] AS d "
                "RETURN date.truncate('hour', d) AS x")

    def test_truncate_needs_literal_unit(self, tpch):
        with pytest.raises(PlanError, match="string-literal"):
            tpch.execute(
                "MATCH (o:Order) "
                "RETURN date.truncate(o.o_orderpriority, o.o_orderdate) "
                "AS x")


class TestFractionalDurations:
    def test_fractional_hours_spill_into_minutes(self, tpch):
        row = tpch.execute(
            "UNWIND [datetime('2024-01-01 00:00:00')] AS t "
            "RETURN t + duration({hours: 1.5}) AS t2, "
            "       t + duration({days: 0.5}) AS t3").collect()[0]
        assert row.t2.isoformat() == "2024-01-01T01:30:00"
        assert row.t3.isoformat() == "2024-01-01T12:00:00"

    def test_fractional_months_rejected(self, tpch):
        with pytest.raises(PlanError, match="fractional months"):
            tpch.execute(
                "UNWIND [1] AS x RETURN duration({months: 1.5}) AS d")

    def test_duration_scalar_multiply_divide(self, tpch):
        # interval * int and interval / int ride Spark's native
        # interval arithmetic through the ordinary Binary compile —
        # no temporal-specific code path needed; pinned here so a
        # compile-layer change can't silently drop it
        row = tpch.execute(
            "UNWIND [datetime('2024-01-01 00:00:00')] AS t "
            "RETURN t + duration('PT1H') * 3 AS a, "
            "       t + duration('P2D') / 4 AS b").collect()[0]
        assert row.a.isoformat() == "2024-01-01T03:00:00"
        assert row.b.isoformat() == "2024-01-01T12:00:00"


class TestCypherSurfaceFunctions:
    """r12: openCypher spellings a reference/Neo4j user expects —
    type-polymorphic size()/isEmpty(), tail(), legacy exists(prop),
    stDev/stDevP, percentileCont/percentileDisc, clock variants —
    DuckDB-oracle-checked where deterministic."""

    def test_size_and_isempty_polymorphic(self, tpch):
        row = tpch.execute(
            "UNWIND [1] AS x RETURN size('abcd') AS ls, "
            "size([1, 2, 3]) AS ll, isEmpty('') AS es, "
            "isEmpty('a') AS ns, isEmpty([]) AS el, "
            "isEmpty([1]) AS nl, tail([1, 2, 3]) AS tl, "
            "tail([7]) AS t1").collect()[0]
        assert (row.ls, row.ll) == (4, 3)
        assert (row.es, row.ns, row.el, row.nl) == (
            True, False, True, False)
        assert row.tl == [2, 3] and row.t1 == []

    def test_size_on_string_property(self, tpch, duck):
        from tests.helpers import assert_same

        assert_same(
            tpch.execute(
                "MATCH (c:Customer) WHERE c.c_custkey < 20 "
                "RETURN c.c_custkey AS ck, size(c.c_name) AS n "
                "ORDER BY ck"),
            duck.sql(
                "SELECT c_custkey AS ck, CAST(length(c_name) AS INT) "
                "AS n FROM customer WHERE c_custkey < 20 ORDER BY ck"))

    def test_legacy_exists_property(self, tpch, duck):
        from tests.helpers import assert_same

        assert_same(
            tpch.execute(
                "MATCH (c:Customer) WHERE exists(c.c_name) "
                "AND c.c_custkey < 30 "
                "RETURN count(*) AS n"),
            duck.sql(
                "SELECT count(*) AS n FROM customer WHERE c_name IS "
                "NOT NULL AND c_custkey < 30"))

    def test_stdev_and_percentiles_vs_duckdb(self, tpch, duck):
        from tests.helpers import assert_same

        assert_same(
            tpch.execute(
                "MATCH (l:Lineitem) WHERE l.l_orderkey < 1000 "
                "RETURN round(stDev(l.l_quantity), 6) AS sd, "
                "round(stDevP(l.l_quantity), 6) AS sdp, "
                "percentileCont(l.l_quantity, 0.5) AS pc, "
                "percentileDisc(l.l_quantity, 0.33) AS pd"),
            duck.sql(
                "SELECT round(stddev_samp(l_quantity), 6) AS sd, "
                "round(stddev_pop(l_quantity), 6) AS sdp, "
                "quantile_cont(l_quantity, 0.5) AS pc, "
                "CAST(quantile_disc(l_quantity, 0.33) AS DOUBLE) "
                "AS pd FROM lineitem WHERE l_orderkey < 1000"))

    def test_clock_variants_and_uuid(self, tpch):
        row = tpch.execute(
            "UNWIND [1] AS x RETURN datetime.statement() AS s, "
            "datetime.transaction() AS t, date.realtime() AS d, "
            "randomUUID() AS u").collect()[0]
        assert row.s is not None and row.t is not None
        assert row.d is not None
        assert len(row.u) == 36 and row.u.count("-") == 4


class TestTimeOfDay:
    """TIME / LOCALTIME (r13, VERDICT r12 missing #3): time-of-day as
    TIMESTAMP_NTZ on the epoch day (compile/temporal.py TIME_EPOCH) —
    literals with numeric offsets, map constructors, accessors,
    truncation, comparisons, duration arithmetic, statement clocks.
    The DuckDB-oracle comparison lives in
    tests/test_folded_gates.py::time_of_day."""

    def test_literal_forms(self, tpch):
        import datetime as dt

        row = tpch.execute(
            "RETURN time('12:31:14') AS a, localtime('12:31') AS b, "
            "time('12') AS c, time('12:31:14.5+02:00') AS d, "
            "time('01:00+02:00') AS e").collect()[0]
        ep = dt.date(1970, 1, 1)
        assert row["a"] == dt.datetime(1970, 1, 1, 12, 31, 14)
        assert row["b"] == dt.datetime(1970, 1, 1, 12, 31)
        assert row["c"] == dt.datetime(1970, 1, 1, 12)
        # offset normalizes to the UTC time-of-day
        assert row["d"] == dt.datetime(1970, 1, 1, 10, 31, 14, 500000)
        # wraps modulo 24h, stays on the epoch day
        assert row["e"].date() == ep and row["e"].hour == 23

    def test_map_form_and_accessors(self, tpch):
        row = tpch.execute(
            "RETURN time({hour: 12, minute: 31, second: 14}).minute "
            "AS m, time('09:05:07').hour AS h, "
            "localtime('09:05:07').second AS s").collect()[0]
        assert (row["m"], row["h"], row["s"]) == (31, 9, 7)

    def test_truncate_compare_arithmetic(self, tpch):
        import datetime as dt

        row = tpch.execute(
            "UNWIND [1] AS one WITH time('12:31:44') AS t "
            "RETURN time.truncate('minute', t) AS tm, "
            "t < time('13:00') AS lt, "
            "t + duration('PT2H') AS plus2, "
            "duration.between(time('10:00'), t).hours AS dh"
        ).collect()[0]
        assert row["tm"] == dt.datetime(1970, 1, 1, 12, 31)
        assert row["lt"] is True
        assert row["plus2"] == dt.datetime(1970, 1, 1, 14, 31, 44)
        assert row["dh"] == 2

    def test_generic_column_form(self, tpch):
        """time(ts) over the events table keeps the clock part and
        re-anchors at the epoch day."""
        rows = tpch.execute(
            "MATCH (e:Event) WITH e.ts AS ts ORDER BY ts LIMIT 5 "
            "RETURN time(ts) AS tod, ts AS orig").collect()
        for r in rows:
            assert r["tod"].date().isoformat() == "1970-01-01"
            assert (r["tod"].hour, r["tod"].minute, r["tod"].second) \
                == (r["orig"].hour, r["orig"].minute, r["orig"].second)

    def test_statement_clocks_on_epoch_day(self, tpch):
        row = tpch.execute(
            "RETURN time() AS a, time.statement() AS b, "
            "localtime.realtime() AS c").collect()[0]
        for k in "abc":
            assert row[k].date().isoformat() == "1970-01-01"

    def test_named_zone_rejected(self, tpch):
        with pytest.raises(PlanError, match="NAMED zone"):
            tpch.execute("RETURN time('12:00[Europe/Paris]') AS x")

    def test_bad_literal_rejected(self, tpch):
        with pytest.raises(PlanError, match="invalid time literal"):
            tpch.execute("RETURN time('25:99') AS x")

    def test_time_truncate_unit_guard(self, tpch):
        with pytest.raises(PlanError, match="time.truncate unit"):
            tpch.execute("RETURN time.truncate('month', "
                         "time('12:00')) AS x")
