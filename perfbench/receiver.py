"""Loopback POST receiver for the ingest workload, and its output checks.

``handler`` POSTs FeatureCollection batches through ``RestPoster`` from the
Spark executors; ``Receiver`` stands in for the CloudTAK layer endpoint on
127.0.0.1 inside the benchmark process. It only stores the bodies while the
job runs; ``verify`` parses and checks them after the job, outside the timed
window.

``expected_feature`` rebuilds one Feature from its input record in plain
Python, following the reference transform (``task.ts:124-214``)
independently of the Spark column expressions, for the golden check.
"""

from __future__ import annotations

import json
import math
import threading
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

LAYER = "perfbench"
PATH = f"/api/layer/{LAYER}/cot"


class Receiver:
    """HTTP server on an ephemeral loopback port; use as a context manager."""

    def __init__(self):
        self._lock = threading.Lock()
        self._bodies: list[bytes] = []
        self._rejected = 0
        receiver = self

        class _Handler(BaseHTTPRequestHandler):
            def do_POST(self):  # noqa: N802 (http.server API)
                body = self.rfile.read(int(self.headers.get("Content-Length") or 0))
                ok = self.path == PATH
                with receiver._lock:
                    if ok:
                        receiver._bodies.append(body)
                    else:
                        receiver._rejected += 1
                self.send_response(200 if ok else 404)
                self.send_header("Content-Length", "0")
                self.end_headers()

            def log_message(self, *args):  # keep stderr quiet
                pass

        self._server = ThreadingHTTPServer(("127.0.0.1", 0), _Handler)
        self._thread = threading.Thread(target=self._server.serve_forever, daemon=True)

    @property
    def api(self) -> str:
        host, port = self._server.server_address[:2]
        return f"http://{host}:{port}"

    def __enter__(self) -> "Receiver":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._server.shutdown()
        self._server.server_close()
        self._thread.join(timeout=10)

    def take(self) -> tuple[list[bytes], int]:
        """Bodies received, and POSTs refused (wrong path), since the last call."""
        with self._lock:
            out, rejected = self._bodies, self._rejected
            self._bodies, self._rejected = [], 0
        return out, rejected


def _bearing(lat1, lon1, lat2, lon2):
    p1, p2 = math.radians(lat1), math.radians(lat2)
    dl = math.radians(lon2 - lon1)
    y = math.sin(dl) * math.cos(p2)
    x = math.cos(p1) * math.sin(p2) - math.sin(p1) * math.cos(p2) * math.cos(dl)
    return (math.degrees(math.atan2(y, x)) + 360) % 360


def _haversine(lat1, lon1, lat2, lon2):
    p1, p2 = math.radians(lat1), math.radians(lat2)
    dp, dl = math.radians(lat2 - lat1), math.radians(lon2 - lon1)
    a = math.sin(dp / 2) ** 2 + math.cos(p1) * math.cos(p2) * math.sin(dl / 2) ** 2
    return 2 * math.atan2(math.sqrt(a), math.sqrt(1 - a)) * 6371000.0


def _drop_nulls(v):
    """Spark's toJSON omits null struct fields; mirror that on the expectation."""
    if isinstance(v, dict):
        return {k: _drop_nulls(x) for k, x in v.items() if x is not None}
    if isinstance(v, list):
        return [_drop_nulls(x) for x in v]
    return v


def expected_feature(r: dict) -> dict:
    video = next((s for s in r["sensors"] if s.get("rtsp_url") is not None), None)
    props = {
        "type": "a-f-A-M-H-Q",
        "callsign": r["callSign"],
        "speed": r["speed"],
        "course": r["heading"],
        "links": [],
        "metadata": dict(r),
        "video": None,
        "sensor": None,
    }
    if video is not None:
        props["video"] = {
            "uid": r["id"],
            "sensor": r["callSign"] + "-camera",
            "url": video["rtsp_url"],
            "connection": {
                "uid": r["id"], "networkTimeout": 12000, "path": "",
                "protocol": "raw", "bufferTime": -1, "address": video["rtsp_url"],
                "port": -1, "roverPort": -1, "rtspReliable": 0,
                "ignoreEmbeddedKLV": False, "alias": r["callSign"],
            },
        }
        props["links"] = [
            {"uid": r["id"], "relation": "r-u", "type": "text/html",
             "url": video.get("video_url"), "remarks": "DroneSense Viewer"}
        ]
    if r["spoiLat"] != 0 and r["spoiLng"] != 0:
        args = (r["latitude"], r["longitude"], r["spoiLat"], r["spoiLng"])
        props["sensor"] = {
            "azimuth": _bearing(*args), "fov": 45, "vfov": 45,
            "range": _haversine(*args), "elevation": 0, "roll": 0,
            "displayMagneticReference": 0, "strokeColor": -16777216,
            "strokeWeight": 0.5, "fovRed": 1.0, "fovGreen": 0.5, "fovBlue": 0.0,
            "fovAlpha": 0.3, "rangeLines": 100, "rangeLineStrokeColor": -16777216,
            "rangeLineStrokeWeight": 1.0,
        }
    return _drop_nulls(
        {
            "id": r["id"],
            "type": "Feature",
            "properties": props,
            "geometry": {
                "type": "Point",
                "coordinates": [r["longitude"], r["latitude"], r["altitudeAgl"]],
            },
        }
    )


def _same(a, b) -> bool:
    if isinstance(a, dict) and isinstance(b, dict):
        return a.keys() == b.keys() and all(_same(a[k], b[k]) for k in a)
    if isinstance(a, list) and isinstance(b, list):
        return len(a) == len(b) and all(_same(x, y) for x, y in zip(a, b))
    if isinstance(a, float) or isinstance(b, float):
        return isinstance(a, (int, float)) and isinstance(b, (int, float)) and math.isclose(
            a, b, rel_tol=1e-9, abs_tol=1e-9
        )
    return a == b


def verify(bodies: list[bytes], payload: list[dict], golden_index: int) -> tuple[int, list[str]]:
    """Check one invocation's deliveries against its payload.

    Every received Feature must carry a payload id exactly once, with the
    record's callsign and lon-first coordinates; together they must cover
    the payload. The Feature of ``payload[golden_index]`` must equal
    ``expected_feature`` field for field. Returns (features received,
    problems)."""
    by_id = {r["id"]: r for r in payload}
    seen: set[str] = set()
    problems: list[str] = []
    golden_id = payload[golden_index]["id"]
    n = 0
    for body in bodies:
        doc = json.loads(body)
        if doc.get("type") != "FeatureCollection":
            problems.append("body is not a FeatureCollection")
            continue
        for f in doc["features"]:
            n += 1
            fid = f.get("id")
            r = by_id.get(fid)
            if r is None or fid in seen:
                problems.append(f"unexpected or repeated feature id {fid!r}")
                continue
            seen.add(fid)
            coords = [r["longitude"], r["latitude"], r["altitudeAgl"]]
            if (
                f.get("type") != "Feature"
                or f["geometry"]["coordinates"] != coords
                or f["properties"]["callsign"] != r["callSign"]
            ):
                problems.append(f"feature {fid!r} does not match its record")
            if fid == golden_id and not _same(f, expected_feature(r)):
                problems.append(f"golden feature {fid!r} differs from the reference")
    if len(seen) != len(by_id):
        problems.append(f"{len(by_id) - len(seen)} of {len(by_id)} records were not delivered")
    return n, problems
