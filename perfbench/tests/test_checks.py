"""The output checks must catch a corrupted answer; each test breaks one
thing in an otherwise right output."""

import json
import os
import struct
import sys
import zlib
from collections import Counter

import numpy as np
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import checks  # noqa: E402
import gen  # noqa: E402


def paeth(a, b, c):
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    return a if pa <= pb and pa <= pc else (b if pb <= pc else c)


def filtered(ftype, line, prev):
    """One scanline under PNG filter `ftype` (None, Sub, Up, Average, Paeth)."""
    out = []
    for i, x in enumerate(line):
        a = line[i - 1] if i else 0
        b, c = prev[i], prev[i - 1] if i else 0
        pred = (0, a, b, (a + b) // 2, paeth(a, b, c))[ftype]
        out.append((x - pred) & 0xFF)
    return bytes([ftype]) + bytes(out)


def png(grid, scale=16, filter_type=0):
    side = len(grid)
    rows = []
    prev = bytes(side * scale)
    for gy in range(side):
        line = b"".join(bytes([255 if grid[gy][gx] else 0]) * scale for gx in range(side))
        for _ in range(scale):
            rows.append(filtered(filter_type, line, prev))
            prev = line

    def chunk(tag, body):
        return struct.pack(">I", len(body)) + tag + body + struct.pack(">I", zlib.crc32(tag + body) & 0xFFFFFFFF)

    w = side * scale
    return (b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", struct.pack(">IIBBBBB", w, w, 8, 0, 0, 0, 0))
            + chunk(b"IDAT", zlib.compress(b"".join(rows))) + chunk(b"IEND", b""))


@pytest.fixture(scope="module")
def layer():
    pts = gen.point_layer(gen.rng_for(5, "test"), 20000)
    return pts, checks.PointIndex(pts["id"], pts["lon"], pts["lat"])


def dense_tile(pts, z):
    x = int(gen.lon_to_tile(pts["lon"][:1], z)[0])
    y = int(gen.lat_to_tile(pts["lat"][:1], z)[0])
    return z, x, y


def test_mask_check_accepts_right_bits_and_catches_a_flipped_cell(layer):
    pts, index = layer
    z, x, y = dense_tile(pts, 6)
    want = checks.expected_mask(index, z, x, y, z + 4)
    assert want.sum() > 0
    req = {"kind": "mask", "z": z, "x": x, "y": y, "ext": "png"}
    for ft in range(5):
        assert checks.check_mask(req, 200, "image/png", png(want.tolist(), filter_type=ft), index) is None
    bad = want.copy()
    bad[3, 5] ^= 1
    assert "differ" in checks.check_mask(req, 200, "image/png", png(bad.tolist()), index)
    assert checks.check_mask(req, 500, "image/png", b"", index) == "status 500"
    corrupt = bytearray(png(want.tolist()))
    corrupt[40] ^= 0xFF
    assert checks.check_mask(req, 200, "image/png", bytes(corrupt), index) is not None


def test_expected_mask_matches_a_plain_python_count(layer):
    pts, index = layer
    z, x, y = dense_tile(pts, 5)
    zoom = z + 3
    side = 2 ** (zoom - z)
    w, s, e, n = checks.tile_bbox(z, x, y)
    grid = [[0] * side for _ in range(side)]
    import math

    for lon, lat in zip(pts["lon"].tolist(), pts["lat"].tolist()):
        if w <= lon <= e and s <= lat <= n:
            cx = math.floor((lon + 180.0) * 2.0**zoom / 360.0) - x * side
            r = lat * math.pi / 180.0
            cy = math.floor((1.0 - math.log(math.tan(r) + 1.0 / math.cos(r)) / math.pi) / 2.0 * 2.0**zoom) - y * side
            if 0 <= cx < side and 0 <= cy < side:
                grid[cy][cx] = 1
    assert checks.expected_mask(index, z, x, y, zoom).tolist() == grid


def feature_body(index, pos, limit=None):
    feats = [{"type": "Feature", "properties": {"id": int(index.ids[p])},
              "geometry": {"type": "Point", "coordinates": [float(index.lon[p]), float(index.lat[p])]}}
             for p in pos[:limit]]
    return json.dumps({"type": "FeatureCollection", "features": feats, "numberOfFeatures": len(feats)}).encode()


def test_data_tile_check_catches_moved_missing_and_outside_features(layer):
    pts, index = layer
    z, x, y = dense_tile(pts, 7)
    pos = index.in_bbox(checks.buffered_bbox(z, x, y)).tolist()
    req = {"kind": "data", "z": z, "x": x, "y": y, "limit": -1}
    assert len(pos) > 2
    assert checks.check_data_tile(req, 200, feature_body(index, pos), index) is None
    capped = dict(req, limit=2)
    assert checks.check_data_tile(capped, 200, feature_body(index, pos, 2), index) is None
    assert checks.check_data_tile(capped, 200, feature_body(index, pos, 3), index) is not None
    assert checks.check_data_tile(req, 200, feature_body(index, pos[:-1]), index) is not None
    doc = json.loads(feature_body(index, pos))
    doc["features"][0]["geometry"]["coordinates"][0] += 1e-4
    assert "coordinates differ" in checks.check_data_tile(req, 200, json.dumps(doc).encode(), index)
    outside = int(np.argmax(index.lon))  # the easternmost point is in no z=7 tile here
    doc = json.loads(feature_body(index, pos[:-1] + [outside]))
    assert checks.check_data_tile(req, 200, json.dumps(doc).encode(), index) is not None


def test_etl_tile_counts_catch_a_dropped_row(tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    rows = gen.geonames(gen.rng_for(3, "etl-test"), 2000)
    want = checks.expected_tile_counts(rows, 7)
    assert sum(want.values()) < 2000  # rows with an empty coordinate are dropped
    for (tx, ty), n in want.items():
        d = tmp_path / "tiles" / "_p__tile_z=7" / f"_p__tile_x={tx}" / f"_p__tile_y={ty}"
        d.mkdir(parents=True)
        pq.write_table(pa.table({"id": list(range(n))}), d / "part-0.parquet")
    assert checks.check_tiles_output(str(tmp_path), 7, want)[0] is None
    fewer = Counter(want)
    fewer[next(iter(fewer))] -= 1
    assert "differ" in checks.check_tiles_output(str(tmp_path), 7, fewer)[0]


def test_service_checks_catch_rows_for_other_variables():
    places = gen.places(gen.rng_for(1, "svc-test"), 3000)
    kind, value = places["kind"], places["value"]
    sel = np.nonzero(kind == "bar")[0]
    top = places["id"][sel[np.argsort(-value[sel])[:10]]].tolist()
    op = {"kind": "svc_topk", "vars": {"kind": "bar"}}
    assert checks.check_service(op, 200, json.dumps([{"id": i} for i in top]).encode(), places) is None
    swapped = top[:8] + [top[9], top[8]]
    assert checks.check_service(op, 200, json.dumps([{"id": i} for i in swapped]).encode(), places) is not None
    op = {"kind": "svc_filter", "vars": {"kind": "cafe", "minv": 100.0}}
    ids = places["id"][(kind == "cafe") & (value >= 100.0)].tolist()
    assert checks.check_service(op, 200, json.dumps([{"id": i} for i in ids]).encode(), places) is None
    other = places["id"][(kind == "bar") & (value >= 100.0)].tolist()[: len(ids)]
    assert checks.check_service(op, 200, json.dumps([{"id": i} for i in other]).encode(), places) is not None


def test_live_tile_check_rejects_a_stale_read():
    pool = gen.pool(gen.rng_for(2, "pool-test"), 500, 3)
    index = checks.PointIndex(pool["id"], pool["lon"], pool["lat"], g=pool["g"], kind=pool["kind"])
    z = 5
    x, y = int(gen.lon_to_tile(pool["lon"][:1], z)[0]), int(gen.lat_to_tile(pool["lat"][:1], z)[0])
    op = {"kind": "live_tile", "z": z, "x": x, "y": y}
    excluded = ("bar", "cafe")
    old = checks.live_ids(index, (0, 0), excluded, z, x, y)
    new = checks.live_ids(index, (1, 0), excluded, z, x, y)
    assert old and new and old != new

    def body(ids):
        return json.dumps({"features": [{"properties": {"id": i}} for i in sorted(ids)]}).encode()

    assert checks.check_live_tile(op, 200, body(new), index, {(1, 0)}, excluded) is None
    assert "stale" in checks.check_live_tile(op, 200, body(old), index, {(1, 0)}, excluded)
    # a read that overlapped the rewrite may see either state
    assert checks.check_live_tile(op, 200, body(old), index, {(0, 0), (1, 0)}, excluded) is None


def test_live_mask_check_rejects_a_stale_read():
    pool = gen.pool(gen.rng_for(2, "pool-test"), 500, 3)
    index = checks.PointIndex(pool["id"], pool["lon"], pool["lat"], g=pool["g"], kind=pool["kind"])
    z = 5
    x, y = int(gen.lon_to_tile(pool["lon"][:1], z)[0]), int(gen.lat_to_tile(pool["lat"][:1], z)[0])
    op = {"kind": "live_mask", "z": z, "x": x, "y": y, "ext": "png"}
    excluded = ("bar", "cafe")
    states = {st: checks.live_index(index, st, excluded) for st in ((0, 0), (1, 0))}
    old, new = (checks.expected_mask(states[st], z, x, y, z + 4) for st in ((0, 0), (1, 0)))
    assert not np.array_equal(old, new)
    assert checks.check_live_mask(op, 200, "image/png", png(new.tolist()), {(1, 0): states[(1, 0)]}) is None
    assert "stale" in checks.check_live_mask(op, 200, "image/png", png(old.tolist()), {(1, 0): states[(1, 0)]})
    assert checks.check_live_mask(op, 200, "image/png", png(old.tolist()), states) is None
    assert checks.check_live_mask(op, 500, "text/html", b"", states) == "status 500"


def test_result_lines_ignore_row_and_column_order_but_not_types():
    import datetime

    rows = [(1, "a", 2.5), (2, "b", None)]
    same = [(None, "b", 2), (2.5, "a", 1)]
    assert checks.result_lines(rows, ["k", "s", "v"]) == checks.result_lines(same, ["v", "s", "k"])
    assert checks.result_lines([(1.0,)], ["k"]) != checks.result_lines([(1,)], ["k"])
    assert checks.norm_cell(float("nan")) == checks.norm_cell(None) == "NULL"
    assert checks.norm_cell(datetime.datetime(2024, 1, 2)) == "2024-01-02"
    assert checks.norm_cell(np.int64(7)) == "7" and checks.norm_cell([1, 2.5]) == "[1,2.5]"


def test_oracle_check_catches_a_changed_value():
    duckdb = pytest.importorskip("duckdb")
    con = duckdb.connect()
    con.execute("CREATE TABLE t AS SELECT * FROM (VALUES (1, 'a', 2.5), (2, 'b', 4.0)) v(k, s, x)")
    sql = "SELECT k, s, x FROM t"
    right = checks.result_lines([(2, "b", 4.0), (1, "a", 2.5)], ["k", "s", "x"])
    assert checks.check_oracle(con, sql, ["x", "s", "k"], right) is None
    wrong = checks.result_lines([(2, "b", 4.0), (1, "a", 2.6)], ["k", "s", "x"])
    assert "differs" in checks.check_oracle(con, sql, ["k", "s", "x"], wrong)
    assert "rows" in checks.check_oracle(con, sql, ["k", "s", "x"], right[:1])
