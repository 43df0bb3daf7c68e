"""Golden-output tests for the reference drone→Feature transform.

Covers every conditional branch the reference encodes (SURVEY §5.2 item 1):
empty sensors (task.ts:143), sensors without rtsp_url (task.ts:146),
first-match-only video (task.ts:177), SPOI zero-sentinel (task.ts:183),
bearing normalization wraparound (task.ts:26). Expected geodesic values are
recomputed independently in pure Python ``math`` so the Column-expression
forms are cross-checked against a second implementation.
"""

from __future__ import annotations

import math

import pytest

from etl_drone_sense_spark.operators.feature_transform import (
    drone_features,
    feature_collection,
)
from etl_drone_sense_spark.schemas import DRONE_LOCATION_SCHEMA


def _rec(
    id="d1",
    callSign="CS1",
    lat=10.0,
    lon=20.0,
    spoiLat=0.0,
    spoiLng=0.0,
    sensors=(),
):
    return {
        "id": id,
        "callSign": callSign,
        "missionName": "m",
        "model": "M1",
        "latitude": lat,
        "longitude": lon,
        "lastUpdate": 1.7e9,
        "altitudeAgl": 100.0,
        "altitudeMsl": 200.0,
        "speed": 5.0,
        "heading": 90.0,
        "spoiLat": spoiLat,
        "spoiLng": spoiLng,
        "sensors": list(sensors),
    }


def _sensor(sid="s1", name="cam", video_url=None, rtsp_url=None):
    return {"id": sid, "name": name, "video_url": video_url, "rtsp_url": rtsp_url}


def _features(spark, records):
    df = spark.createDataFrame(records, schema=DRONE_LOCATION_SCHEMA)
    rows = drone_features(df).collect()
    return {r["id"]: r.asDict(recursive=True) for r in rows}


# Independent geodesy (same formulas as reference task.ts:14-50).
def _bearing(lat1, lon1, lat2, lon2):
    p1, p2 = math.radians(lat1), math.radians(lat2)
    dl = math.radians(lon2 - lon1)
    y = math.sin(dl) * math.cos(p2)
    x = math.cos(p1) * math.sin(p2) - math.sin(p1) * math.cos(p2) * math.cos(dl)
    return (math.degrees(math.atan2(y, x)) + 360) % 360


def _haversine(lat1, lon1, lat2, lon2):
    R = 6371000.0
    p1, p2 = math.radians(lat1), math.radians(lat2)
    dp, dl = math.radians(lat2 - lat1), math.radians(lon2 - lon1)
    a = (
        math.sin(dp / 2) ** 2
        + math.cos(p1) * math.cos(p2) * math.sin(dl / 2) ** 2
    )
    return 2 * math.atan2(math.sqrt(a), math.sqrt(1 - a)) * R


def test_no_sensors_no_video_empty_links(spark):
    feats = _features(spark, [_rec(sensors=[])])
    p = feats["d1"]["properties"]
    assert p["video"] is None
    assert p["links"] == []  # [] not null — task.ts:132
    assert p["sensor"] is None  # SPOI (0,0) sentinel — task.ts:183
    assert feats["d1"]["type"] == "Feature"
    assert p["type"] == "a-f-A-M-H-Q"


def test_sensors_without_rtsp_skipped(spark):
    feats = _features(
        spark, [_rec(sensors=[_sensor("s1", video_url="http://v1")])]
    )
    assert feats["d1"]["properties"]["video"] is None
    assert feats["d1"]["properties"]["links"] == []


def test_first_match_only_video(spark):
    """First sensor with rtsp_url wins; later ones ignored (task.ts:177)."""
    feats = _features(
        spark,
        [
            _rec(
                sensors=[
                    _sensor("s1"),  # no rtsp → skipped (task.ts:146)
                    _sensor("s2", video_url="http://v2", rtsp_url="rtsp://r2"),
                    _sensor("s3", video_url="http://v3", rtsp_url="rtsp://r3"),
                ]
            )
        ],
    )
    p = feats["d1"]["properties"]
    assert p["video"]["url"] == "rtsp://r2"
    assert p["video"]["sensor"] == "CS1-camera"  # task.ts:150
    conn = p["video"]["connection"]
    assert conn == {
        "uid": "d1",
        "networkTimeout": 12000,
        "path": "",
        "protocol": "raw",
        "bufferTime": -1,
        "address": "rtsp://r2",
        "port": -1,
        "roverPort": -1,
        "rtspReliable": 0,
        "ignoreEmbeddedKLV": False,
        "alias": "CS1",
    }
    assert [l["url"] for l in p["links"]] == ["http://v2"]
    assert p["links"][0]["relation"] == "r-u"
    assert p["links"][0]["remarks"] == "DroneSense Viewer"


def test_spoi_zero_sentinel_is_per_axis(spark):
    """FOV requires BOTH spoi coords nonzero (exact != 0, task.ts:183)."""
    feats = _features(
        spark,
        [
            _rec(id="d1", spoiLat=0.0, spoiLng=30.0),
            _rec(id="d2", spoiLat=30.0, spoiLng=0.0),
            _rec(id="d3", spoiLat=30.0, spoiLng=30.0),
        ],
    )
    assert feats["d1"]["properties"]["sensor"] is None
    assert feats["d2"]["properties"]["sensor"] is None
    assert feats["d3"]["properties"]["sensor"] is not None


def test_fov_azimuth_range_values(spark):
    feats = _features(spark, [_rec(lat=10.0, lon=20.0, spoiLat=11.0, spoiLng=21.0)])
    s = feats["d1"]["properties"]["sensor"]
    assert s["azimuth"] == pytest.approx(_bearing(10, 20, 11, 21), abs=1e-9)
    assert s["range"] == pytest.approx(_haversine(10, 20, 11, 21), rel=1e-12)
    assert s["fov"] == 45 and s["vfov"] == 45
    assert s["strokeColor"] == -16777216 and s["rangeLines"] == 100


def test_bearing_wraparound_normalized(spark):
    """SPOI due west → atan2 yields negative degrees; (b+360)%360 must land
    in [0, 360) (task.ts:26)."""
    feats = _features(spark, [_rec(lat=0.0, lon=20.0, spoiLat=0.0001, spoiLng=19.0)])
    az = feats["d1"]["properties"]["sensor"]["azimuth"]
    expected = _bearing(0.0, 20.0, 0.0001, 19.0)
    assert 270.0 < az < 360.0
    assert az == pytest.approx(expected, abs=1e-9)


def test_geometry_lon_first_and_metadata_spread(spark):
    rec = _rec(lat=1.5, lon=2.5)
    feats = _features(spark, [rec])
    g = feats["d1"]["geometry"]
    assert g["type"] == "Point"
    assert g["coordinates"] == [2.5, 1.5, 100.0]  # lon-first — task.ts:139
    md = feats["d1"]["properties"]["metadata"]
    assert md["callSign"] == "CS1" and md["spoiLat"] == 0.0  # task.ts:133-135
    assert set(md) == set(rec)


def test_feature_collection_document(spark):
    df = spark.createDataFrame(
        [_rec(id=f"d{i}") for i in range(3)], schema=DRONE_LOCATION_SCHEMA
    )
    doc = feature_collection(drone_features(df)).collect()
    assert len(doc) == 1
    assert doc[0]["type"] == "FeatureCollection"
    assert sorted(f["id"] for f in doc[0]["features"]) == ["d0", "d1", "d2"]


def test_projection_built_once_per_spark_context(spark, monkeypatch):
    """``drone_features`` builds its Column trees once and reuses them on
    every frame; a different active SparkContext gets a fresh build."""
    from pyspark import SparkContext

    from etl_drone_sense_spark.operators import feature_transform as ft

    builds = []
    build = ft._build_projection
    monkeypatch.setattr(ft, "_build_projection", lambda: builds.append(1) or build())
    monkeypatch.setattr(ft, "_PROJECTION", None)
    a = spark.createDataFrame([_rec()], schema=DRONE_LOCATION_SCHEMA)
    b = spark.createDataFrame([_rec(id="d2", spoiLat=1.0, spoiLng=2.0)], schema=DRONE_LOCATION_SCHEMA)
    expected = drone_features(a).collect() + drone_features(b).collect()
    assert len(builds) == 1

    class OtherContext:
        """Stands in for a restarted context (same JVM underneath)."""

        def __init__(self, sc):
            self._sc = sc

        def __getattr__(self, name):
            return getattr(self._sc, name)

    monkeypatch.setattr(SparkContext, "_active_spark_context", OtherContext(spark.sparkContext))
    assert drone_features(a).collect() + drone_features(b).collect() == expected
    assert len(builds) == 2
