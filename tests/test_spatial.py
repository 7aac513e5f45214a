"""openCypher spatial subset (r12, extension): point() structs,
point.distance (euclidean / haversine), point.withinBBox, accessor
aliases — all native JVM column math, DuckDB-oracle-checked."""

import math

import pytest

from brahmand_spark.errors import PlanError
from tests.helpers import assert_same, filtered_at_scan


class TestPointConstruction:
    def test_cartesian_and_wgs84(self, tpch):
        row = tpch.execute(
            "UNWIND [1] AS i RETURN point({x: 1.5, y: 2.5}) AS p, "
            "point({longitude: 12.5, latitude: 55.7}) AS g"
        ).collect()[0]
        assert (row.p.x, row.p.y, row.p.crs) == (1.5, 2.5, "cartesian")
        assert (row.g.x, row.g.y, row.g.crs) == (12.5, 55.7, "wgs-84")

    def test_accessor_aliases(self, tpch):
        row = tpch.execute(
            "UNWIND [1] AS i "
            "WITH point({longitude: 12.5, latitude: 55.7}) AS g "
            "RETURN g.longitude AS lon, g.latitude AS lat, "
            "g.x AS x, g.crs AS crs").collect()[0]
        assert (row.lon, row.lat, row.x, row.crs) == (
            12.5, 55.7, 12.5, "wgs-84")

    def test_rejections(self, tpch):
        with pytest.raises(PlanError, match="x, y"):
            tpch.execute("UNWIND [1] AS i RETURN "
                         "point({x: 1}) AS p")
        with pytest.raises(PlanError, match="point accessor"):
            tpch.execute(
                "UNWIND [1] AS i WITH point({x: 1, y: 2}) AS p "
                "RETURN p.zzz AS v")
        # mixed-frame components and z-on-2D reject loudly (r13)
        with pytest.raises(PlanError, match="takes z"):
            tpch.execute("RETURN point({x: 1, y: 2, height: 3}) AS p")
        with pytest.raises(PlanError, match="takes height"):
            tpch.execute(
                "RETURN point({longitude: 1, latitude: 2, z: 3}) AS p")
        with pytest.raises(PlanError, match="point accessor"):
            tpch.execute("RETURN point({x: 1, y: 2}).z AS v")


class TestPoint3D:
    """3D points (r13, VERDICT r12 missing #6): {x, y, z} ->
    cartesian-3d (euclidean), {longitude, latitude, height} ->
    wgs-84-3d (sqrt(haversine^2 + dheight^2), the Neo4j rule); 2D/3D
    CRS mixes are NULL like any CRS mismatch."""

    def test_cartesian_3d_euclidean(self, tpch):
        row = tpch.execute(
            "RETURN point.distance(point({x: 1, y: 2, z: 2}), "
            "point({x: 0, y: 0, z: 0})) AS d, "
            "point({x: 1, y: 2, z: 7}).z AS z").collect()[0]
        assert row["d"] == pytest.approx(3.0)
        assert row["z"] == 7.0

    def test_wgs84_3d_height_delta(self, tpch):
        row = tpch.execute(
            "RETURN point.distance("
            "point({longitude: 10, latitude: 45, height: 0}), "
            "point({longitude: 10, latitude: 45, height: 100})) AS d, "
            "point({longitude: 10, latitude: 45, height: 100})"
            ".height AS h").collect()[0]
        assert row["d"] == pytest.approx(100.0)
        assert row["h"] == 100.0

    def test_2d_3d_mix_is_null(self, tpch):
        row = tpch.execute(
            "RETURN point.distance(point({x: 1, y: 1}), "
            "point({x: 1, y: 1, z: 1})) AS d").collect()[0]
        assert row["d"] is None


class TestAntimeridianBBox:
    """A wgs-84 bbox with lowerLeft.x > upperRight.x crosses the
    antimeridian (r13): longitudes match >= ll.x OR <= ur.x; an
    inverted CARTESIAN box stays empty."""

    def test_wrapping_box(self, tpch):
        row = tpch.execute(
            "RETURN point.withinBBox(point({longitude: 179, latitude: 0}), "
            "point({longitude: 170, latitude: -10}), "
            "point({longitude: -170, latitude: 10})) AS a, "
            "point.withinBBox(point({longitude: -179, latitude: 0}), "
            "point({longitude: 170, latitude: -10}), "
            "point({longitude: -170, latitude: 10})) AS b, "
            "point.withinBBox(point({longitude: 0, latitude: 0}), "
            "point({longitude: 170, latitude: -10}), "
            "point({longitude: -170, latitude: 10})) AS c").collect()[0]
        assert (row["a"], row["b"], row["c"]) == (True, True, False)

    def test_inverted_cartesian_box_empty(self, tpch):
        row = tpch.execute(
            "RETURN point.withinBBox(point({x: 5, y: 5}), "
            "point({x: 10, y: 0}), point({x: 0, y: 10})) AS d"
        ).collect()[0]
        assert row["d"] is False


class TestPointDistance:
    def test_cartesian_euclidean(self, tpch):
        row = tpch.execute(
            "UNWIND [1] AS i RETURN point.distance("
            "point({x: 0, y: 0}), point({x: 3, y: 4})) AS d, "
            "distance(point({x: 1, y: 1}), point({x: 1, y: 1})) AS z"
        ).collect()[0]
        assert row.d == 5.0 and row.z == 0.0

    def test_wgs84_haversine(self, tpch):
        # Copenhagen -> Malmo, mean-radius haversine (pure python ref)
        lon1, lat1, lon2, lat2 = 12.57, 55.68, 13.00, 55.60
        r = 6371008.8
        p1, p2 = math.radians(lat1), math.radians(lat2)
        h = (math.sin(math.radians(lat2 - lat1) / 2) ** 2
             + math.cos(p1) * math.cos(p2)
             * math.sin(math.radians(lon2 - lon1) / 2) ** 2)
        expect = 2 * r * math.asin(math.sqrt(h))
        row = tpch.execute(
            f"UNWIND [1] AS i RETURN point.distance("
            f"point({{longitude: {lon1}, latitude: {lat1}}}), "
            f"point({{longitude: {lon2}, latitude: {lat2}}})) AS d"
        ).collect()[0]
        assert abs(row.d - expect) < 1e-6
        assert 26000 < row.d < 29000  # ~27.5 km sanity

    def test_crs_mismatch_null(self, tpch):
        row = tpch.execute(
            "UNWIND [1] AS i RETURN point.distance("
            "point({x: 0, y: 0}), "
            "point({longitude: 0, latitude: 0})) AS d").collect()[0]
        assert row.d is None

    def test_distance_vs_duckdb_over_table(self, tpch, duck):
        """Per-row euclidean distance from account-balance-derived
        coordinates, exactly reproducible in DuckDB SQL."""
        assert_same(
            tpch.execute(
                "MATCH (c:Customer) WHERE c.c_custkey < 50 "
                "WITH c, point({x: c.c_acctbal, y: 0.0}) AS p "
                "RETURN c.c_custkey AS ck, round(point.distance(p, "
                "point({x: 0.0, y: 0.0})), 4) AS d ORDER BY ck"),
            duck.sql(
                "SELECT c_custkey AS ck, round(sqrt(c_acctbal * "
                "c_acctbal), 4) AS d FROM customer WHERE c_custkey "
                "< 50 ORDER BY ck"))


class TestWithinBBox:
    def test_bbox_inclusive(self, tpch):
        rows = tpch.execute(
            "UNWIND [0.0, 1.0, 2.0, 3.0] AS v "
            "WITH point({x: v, y: v}) AS p, v "
            "WHERE point.withinBBox(p, point({x: 1.0, y: 1.0}), "
            "point({x: 2.0, y: 2.0})) "
            "RETURN v ORDER BY v").collect()
        assert [r.v for r in rows] == [1.0, 2.0]

    def test_bbox_filter_pushes_to_scan(self, tpch):
        """The bbox predicate over raw columns is plain comparisons —
        it must filter the table's scan directly (on a parquet scan
        it is then a pushed filter)."""
        df = tpch.execute(
            "MATCH (c:Customer) "
            "WHERE point.withinBBox(point({x: c.c_acctbal, y: 0.0}), "
            "point({x: 0.0, y: -1.0}), point({x: 100.0, y: 1.0})) "
            "RETURN c.c_custkey AS ck")
        assert filtered_at_scan(df, "c_acctbal", "(c_acctbal >= 0.0)")
        assert filtered_at_scan(df, "c_acctbal", "(c_acctbal <= 100.0)")
