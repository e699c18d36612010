"""Parse-core tests against the reference's own fixture GPX
(/root/reference/test-with-network-gps-source.gpx) and the golden values
in FIXTURES.md §4.1 extracted from the compiled reference parser."""

from __future__ import annotations

import pytest

from gpx2tiles_spark import gpxparse as G
from tests.conftest import REFERENCE_GPX, needs_reference_gpx


@pytest.fixture(scope="module")
def parsed():
    with open(REFERENCE_GPX) as f:
        return G.parse_gpx_document([f.read()])


@needs_reference_gpx
def test_counts_and_order(parsed):
    file_time, segments, wpts, cnt = parsed
    assert cnt == 25
    assert file_time == "2016-06-25T09:51:35Z"
    assert [s.src for s in segments] == ["gps", "network"]
    assert len(segments[0].points) == 18
    assert len(segments[1].points) == 6
    assert len(wpts) == 1


@needs_reference_gpx
def test_network_speed_synthesis(parsed):
    _, segments, _, _ = parsed
    net = segments[1].points
    # FIXTURES.md §4.1 golden speeds (m/s) + flags after synthesis
    assert net[0].flags == 0x101
    golden = [None, 0.000000, 0.014138, 0.062519, 0.024124, 0.139905]
    for pt, g in zip(net[1:], golden[1:]):
        assert pt.flags == G.PT_SPEED
        assert pt.speed == pytest.approx(g, abs=1e-6)
    # first network point is never synthesized
    assert net[0].time == "2016-06-25T09:51:35Z"
    # averaged-vs-calculated rule: net[1]'s prev has no SPEED flag at entry,
    # but synthesized prev feeds next (sequential dependency held)
    assert net[1].speed == pytest.approx(0.0, abs=1e-12)


@needs_reference_gpx
def test_gps_segment_parsed_fields(parsed):
    _, segments, _, _ = parsed
    gps = segments[0].points
    p4 = gps[4]  # 48.91580663, speed 3.622706
    assert p4.lat == pytest.approx(48.91580663)
    assert p4.speed == pytest.approx(3.622706)
    assert p4.flags == 0x1FF  # all nine fields present
    assert p4.sat == 11
    assert p4.course == pytest.approx(336.7, abs=1e-4)
    # geoidheight sets ELE flag but its own field
    p1 = gps[1]
    assert p1.geoidheight == pytest.approx(48.0)
    assert p1.ele == pytest.approx(311.0)


@needs_reference_gpx
def test_waypoint(parsed):
    _, _, wpts, _ = parsed
    w = wpts[0]
    assert (w.lat, w.lon) == (48.9156793, 8.5038424)
    assert w.time == "2016-06-25T09:51:57Z"
    assert w.flags & G.PT_TIME


def test_duplicate_merge_and_drop():
    xml = """<gpx><trk><trkseg>
      <trkpt lat="10.0" lon="20.0"><time>2020-01-01T00:00:00Z</time></trkpt>
      <trkpt lat="10.0" lon="20.0"><time>2020-01-01T00:00:00Z</time><ele>5.0</ele></trkpt>
      <trkpt lat="10.0" lon="20.1"><time>2020-01-01T00:01:00Z</time></trkpt>
    </trkseg></trk></gpx>"""
    _, segs, _, cnt = G.parse_gpx_document([xml])
    assert cnt == 2  # duplicate dropped...
    pts = segs[0].points
    assert pts[0].flags & G.PT_ELE  # ...but its ele merged into the previous
    assert pts[0].ele == 5.0


def test_bad_latlon_dropped_and_pseudo_time():
    xml = """<gpx><trk><trkseg>
      <trkpt lat="x" lon="20.0"/>
      <trkpt lat="10.0" lon="20.0"/>
      <trkpt lat="10.5" lon="20.5"/>
    </trkseg></trk></gpx>"""
    _, segs, _, cnt = G.parse_gpx_document([xml])
    assert cnt == 2
    pts = segs[0].points
    assert pts[0].time == "0" and pts[1].time == "1"
    assert not pts[0].flags & G.PT_TIME


def test_custom_src_stack_order():
    xml = """<gpx><trk><trkseg>
      <trkpt lat="1" lon="1"><src>gps</src></trkpt>
      <trkpt lat="2" lon="2"><src>fused</src></trkpt>
      <trkpt lat="3" lon="3"><src>radio</src></trkpt>
      <trkpt lat="4" lon="4"/>
    </trkseg></trk></gpx>"""
    _, segs, _, _ = G.parse_gpx_document([xml])
    # stack push order: newest custom src first, then gps, network, unknown
    assert [s.src for s in segs] == ["radio", "fused", "gps", ""]


def test_pseudo_time_counter_skips_drops():
    # dropped duplicate does not advance ptcnt
    xml = """<gpx><trk><trkseg>
      <trkpt lat="1" lon="1"/>
      <trkpt lat="1" lon="1"/>
      <trkpt lat="2" lon="2"/>
    </trkseg></trk></gpx>"""
    _, segs, _, cnt = G.parse_gpx_document([xml])
    assert cnt == 2
    assert [p.time for p in segs[0].points] == ["0", "1"]


def test_gpxtime2sec_local_time_quirk():
    # K6: the reference seeds tm from gmtime(now) (tm_isdst == 0) and runs
    # mktime → stamps shift by the STANDARD (never DST) offset of the
    # process TZ.  local_time=True reproduces it; default pins UTC.
    import os
    import time as _time

    from calendar import timegm
    from time import strptime

    utc = G.gpxtime2sec("2016-06-25T10:00:00Z")
    assert utc == timegm(strptime("2016-06-25T10:00:00", "%Y-%m-%dT%H:%M:%S"))
    old = os.environ.get("TZ")
    try:
        os.environ["TZ"] = "America/New_York"
        _time.tzset()
        local = G.gpxtime2sec("2016-06-25T10:00:00Z", local_time=True)
        # June in New York: DST offset is 4h, STANDARD offset is 5h — the
        # forced tm_isdst=0 makes mktime apply the 5h standard offset
        assert local == utc + 5 * 3600
        assert G.gpxtime2sec("2016-06-25T10:00:00Z") == utc  # default unchanged
    finally:
        if old is None:
            os.environ.pop("TZ", None)
        else:
            os.environ["TZ"] = old
        _time.tzset()
