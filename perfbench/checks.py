"""Output checks written without the code under test: tile math, PNG
decoding and the expected rows are computed here from the generated
inputs with numpy and the standard library. Each check returns None when
the output is right, else a short reason."""

from __future__ import annotations

import json
import math
import os
import struct
import zlib
from collections import Counter

import numpy as np

import gen


# --------------------------------------------------------- tile math
def tile_to_lon(x: float, z: int) -> float:
    return x / (2.0**z) * 360.0 - 180.0


def tile_to_lat(y: float, z: int) -> float:
    n = math.pi - 2.0 * math.pi * y / (2.0**z)
    return 180.0 / math.pi * math.atan(0.5 * (math.exp(n) - math.exp(-n)))


def tile_bbox(z: int, x: int, y: int) -> tuple[float, float, float, float]:
    """(west, south, east, north) of an XYZ tile."""
    return (tile_to_lon(x, z), tile_to_lat(y + 1, z), tile_to_lon(x + 1, z), tile_to_lat(y, z))


def buffered_bbox(z: int, x: int, y: int, buffer: int = 1) -> tuple[float, float, float, float]:
    w, s, _, _ = tile_bbox(z, x - buffer, y + buffer)
    _, _, e, n = tile_bbox(z, x + buffer, y - buffer)
    return (w, s, e, n)


class PointIndex:
    """Points sorted by longitude, for fast inclusive bbox queries."""

    def __init__(self, ids, lon, lat, **cols):
        order = np.argsort(lon, kind="stable")
        self.ids = np.asarray(ids)[order]
        self.lon = np.asarray(lon)[order]
        self.lat = np.asarray(lat)[order]
        self.cols = {k: np.asarray(v)[order] for k, v in cols.items()}
        self.by_id = {int(i): k for k, i in enumerate(self.ids.tolist())}

    def in_bbox(self, bbox) -> np.ndarray:
        """Positions (into the sorted arrays) of points with
        w <= lon <= e and s <= lat <= n."""
        w, s, e, n = bbox
        lo = np.searchsorted(self.lon, w, side="left")
        hi = np.searchsorted(self.lon, e, side="right")
        lat = self.lat[lo:hi]
        return lo + np.nonzero((lat >= s) & (lat <= n))[0]


# -------------------------------------------------------------- png
def png_grey(body: bytes) -> np.ndarray:
    """Decode an 8-bit greyscale, non-interlaced PNG to a 2-D array."""
    if body[:8] != b"\x89PNG\r\n\x1a\n":
        raise ValueError("not a png")
    pos, idat, ihdr = 8, b"", None
    while pos < len(body):
        (length,) = struct.unpack(">I", body[pos:pos + 4])
        tag = body[pos + 4:pos + 8]
        data = body[pos + 8:pos + 8 + length]
        if zlib.crc32(tag + data) & 0xFFFFFFFF != struct.unpack(">I", body[pos + 8 + length:pos + 12 + length])[0]:
            raise ValueError(f"bad crc in {tag!r}")
        if tag == b"IHDR":
            ihdr = struct.unpack(">IIBBBBB", data)
        elif tag == b"IDAT":
            idat += data
        pos += 12 + length
    if ihdr is None:
        raise ValueError("no IHDR")
    w, h, depth, color, _c, _f, interlace = ihdr
    if depth != 8 or color != 0 or interlace != 0:
        raise ValueError(f"unsupported png depth={depth} color={color} interlace={interlace}")
    raw = zlib.decompress(idat)
    out = np.zeros((h, w), dtype=np.int64)
    prev = np.zeros(w, dtype=np.int64)
    for r in range(h):
        ftype = raw[r * (w + 1)]
        line = np.frombuffer(raw, dtype=np.uint8, count=w, offset=r * (w + 1) + 1).astype(np.int64)
        if ftype == 0:
            cur = line
        elif ftype == 2:
            cur = (line + prev) & 0xFF
        else:  # Sub, Average and Paeth depend on the pixel to the left
            cur = np.zeros(w, dtype=np.int64)
            for i in range(w):
                a = cur[i - 1] if i else 0
                b, c = prev[i], prev[i - 1] if i else 0
                if ftype == 1:
                    pred = a
                elif ftype == 3:
                    pred = (a + b) // 2
                elif ftype == 4:
                    p = a + b - c
                    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                    pred = a if pa <= pb and pa <= pc else (b if pb <= pc else c)
                else:
                    raise ValueError(f"bad png filter {ftype}")
                cur[i] = (line[i] + pred) & 0xFF
        out[r] = cur
        prev = cur
    return out


# ------------------------------------------------------------ tiles
def expected_mask(index: PointIndex, z: int, x: int, y: int, zoom: int, threshold: int = 1) -> np.ndarray:
    side = 2 ** (zoom - z)
    pos = index.in_bbox(tile_bbox(z, x, y))
    cx = gen.lon_to_tile(index.lon[pos], zoom) - x * side
    cy = gen.lat_to_tile(index.lat[pos], zoom) - y * side
    ok = (cx >= 0) & (cx < side) & (cy >= 0) & (cy < side)
    counts = np.zeros((side, side), dtype=np.int64)
    np.add.at(counts, (cy[ok], cx[ok]), 1)
    return (counts >= threshold).astype(np.int64)


def check_mask(req: dict, status: int, ctype: str, body: bytes, index: PointIndex) -> str | None:
    if status != 200:
        return f"status {status}"
    ext = req["ext"]
    if ext == "gif":
        return None if body[:6] in (b"GIF87a", b"GIF89a") and ctype.startswith("image/gif") else "not a gif"
    if ext == "jpg":
        return None if body[:2] == b"\xff\xd8" and body[-2:] == b"\xff\xd9" and ctype.startswith("image/jpeg") else "not a jpeg"
    try:
        img = png_grey(body)
    except (ValueError, zlib.error, struct.error) as e:
        return f"png: {e}"
    z = req["z"]
    zoom = min(z + 4, 18)
    want = expected_mask(index, z, req["x"], req["y"], zoom)
    side = want.shape[0]
    scale = img.shape[0] // side
    if scale < 1 or img.shape != (side * scale, side * scale):
        return f"png shape {img.shape} for a {side}x{side} grid"
    got = (img[::scale, ::scale] > 127).astype(np.int64)
    if not np.array_equal(got, want):
        return f"mask bits differ in {int((got != want).sum())} cells"
    return None


def check_data_tile(req: dict, status: int, body: bytes, index: PointIndex) -> str | None:
    if status != 200:
        return f"status {status}"
    try:
        doc = json.loads(body)
        feats = doc["features"]
    except (ValueError, KeyError, TypeError) as e:
        return f"bad geojson: {e}"
    bbox = buffered_bbox(req["z"], req["x"], req["y"])
    n_true = len(index.in_bbox(bbox))
    limit = req.get("limit", -1)
    want = n_true if limit is None or limit < 0 else min(limit, n_true)
    if len(feats) != want or doc.get("numberOfFeatures") != want:
        return f"{len(feats)} features, expected {want}"
    w, s, e, n = bbox
    seen = set()
    for f in feats:
        try:
            fid = int(f["properties"]["id"])
            lon, lat = f["geometry"]["coordinates"]
        except (KeyError, TypeError, ValueError):
            return "malformed feature"
        k = index.by_id.get(fid)
        if k is None or fid in seen:
            return f"unknown or repeated id {fid}"
        seen.add(fid)
        if lon != index.lon[k] or lat != index.lat[k]:
            return f"id {fid} coordinates differ"
        if not (w <= lon <= e and s <= lat <= n):
            return f"id {fid} outside the buffered bbox"
    return None


# -------------------------------------------------------------- etl
def expected_tile_counts(rows: dict, zoom: int) -> Counter:
    keep = np.array([bool(a) and bool(b) for a, b in zip(rows["lat"], rows["lon"])])
    lat = np.array([float(v) for v in rows["lat"][keep]])
    lon = np.array([float(v) for v in rows["lon"][keep]])
    xs = gen.lon_to_tile(lon, zoom).tolist()
    ys = gen.lat_to_tile(lat, zoom).tolist()
    return Counter(zip(xs, ys))


def parquet_rows_by_partition(base: str) -> Counter:
    """Row count per `k=v/...` partition directory, from parquet footers."""
    import pyarrow.parquet as pq

    out: Counter = Counter()
    for root, _dirs, files in os.walk(base):
        for name in files:
            if name.endswith(".parquet"):
                parts = tuple(p.split("=", 1)[1] for p in os.path.relpath(root, base).split(os.sep) if "=" in p)
                out[parts] += pq.read_metadata(os.path.join(root, name)).num_rows
    return out


def check_tiles_output(out_dir: str, zoom: int, want: Counter) -> tuple[str | None, dict]:
    got_raw = parquet_rows_by_partition(os.path.join(out_dir, "tiles"))
    files = sum(len([f for f in fs if f.endswith(".parquet")]) for _r, _d, fs in os.walk(out_dir))
    size = sum(os.path.getsize(os.path.join(r, f)) for r, _d, fs in os.walk(out_dir) for f in fs)
    stats = {"rows_out": sum(got_raw.values()), "files": files, "bytes": size}
    got: Counter = Counter()
    for key, n in got_raw.items():
        if len(key) != 3 or key[0] != str(zoom):
            return f"partition {key} is not a z={zoom} tile", stats
        got[(int(key[1]), int(key[2]))] += n
    if got != want:
        diff = sum(abs(got[k] - want[k]) for k in set(got) | set(want))
        return f"tile row counts differ by {diff} rows", stats
    return None, stats


def expected_hist(rows: dict, min_pop: int) -> dict:
    keep = rows["population"] >= min_pop
    return dict(Counter(rows["country"][keep].tolist()))


def check_hist_output(out_dir: str, want: dict) -> tuple[str | None, dict]:
    got: dict = {}
    files = size = 0
    for root, _dirs, fs in os.walk(out_dir):
        for name in fs:
            path = os.path.join(root, name)
            size += os.path.getsize(path)
            if name.startswith("part-"):
                files += 1
                with open(path) as f:
                    for line in f:
                        if line.strip():
                            r = json.loads(line)
                            got[r["key"]] = got.get(r["key"], 0) + r["count"]
    stats = {"rows_out": len(got), "files": files, "bytes": size}
    if got != want:
        return f"hist differs: {sorted(got.items())[:3]} vs {sorted(want.items())[:3]}", stats
    return None, stats


# ---------------------------------------------------------- catalog
def check_service(op: dict, status: int, body: bytes, places: dict) -> str | None:
    if status != 200:
        return f"status {status}"
    try:
        rows = json.loads(body)
    except ValueError as e:
        return f"bad json: {e}"
    v = op["vars"]
    kind, value, country = places["kind"], places["value"], places["country"]
    if op["kind"] == "svc_filter":
        sel = (kind == v["kind"]) & (value >= v["minv"])
        want_ids = set(places["id"][sel].tolist())
        ids = [r.get("id") for r in rows]
        if len(ids) != min(1000, len(want_ids)) or len(set(ids)) != len(ids) or not set(ids) <= want_ids:
            return f"filter rows do not match kind={v['kind']} minv={v['minv']}"
        return None
    if op["kind"] == "svc_topk":
        sel = np.nonzero(kind == v["kind"])[0]
        top = sel[np.argsort(-value[sel], kind="stable")[:10]]
        if [r.get("id") for r in rows] != places["id"][top].tolist():
            return f"top-10 differs for kind={v['kind']}"
        return None
    if op["kind"] == "svc_hist":
        want = dict(Counter(country[value >= v["minv"]].tolist()))
        got = {r.get("key"): r.get("count") for r in rows}
        return None if got == want else f"hist differs for minv={v['minv']}"
    return f"unknown service op {op['kind']}"


def check_items(op: dict, status: int, body: bytes, places: dict) -> str | None:
    if status != 200:
        return f"status {status}"
    try:
        rows = json.loads(body)
    except ValueError as e:
        return f"bad json: {e}"
    n_true = int((places["country"] == op["country"]).sum())
    if len(rows) != min(op["limit"], n_true):
        return f"{len(rows)} items, expected {min(op['limit'], n_true)}"
    if any(r.get("country") != op["country"] for r in rows):
        return "an item does not match the user dfl"
    return None


def live_ids(pool: PointIndex, state: tuple, excluded_kinds, z: int, x: int, y: int) -> set:
    g, variant = state
    pos = pool.in_bbox(buffered_bbox(z, x, y))
    keep = (pool.cols["g"][pos] == g) & (pool.cols["kind"][pos] != excluded_kinds[variant])
    return set(pool.ids[pos][keep].tolist())


def check_live_tile(op: dict, status: int, body: bytes, pool: PointIndex, states, excluded_kinds) -> str | None:
    """`states`: every catalog state the read may legitimately observe
    (the last one written before it started, plus any written while it
    ran). Any other answer is a stale or wrong read."""
    if status != 200:
        return f"status {status}"
    try:
        got = {int(f["properties"]["id"]) for f in json.loads(body)["features"]}
    except (ValueError, KeyError, TypeError) as e:
        return f"bad geojson: {e}"
    for st in states:
        if got == live_ids(pool, st, excluded_kinds, op["z"], op["x"], op["y"]):
            return None
    return f"stale or wrong live tile: matches none of states {sorted(states)}"


def live_index(pool: PointIndex, state: tuple, excluded_kinds) -> PointIndex:
    """The live layer's points in catalog state (generation, variant)."""
    g, variant = state
    keep = (pool.cols["g"] == g) & (pool.cols["kind"] != excluded_kinds[variant])
    return PointIndex(pool.ids[keep], pool.lon[keep], pool.lat[keep])


def check_live_mask(op: dict, status: int, ctype: str, body: bytes, indexes: dict) -> str | None:
    """`indexes`: the live layer's points for every catalog state the read
    may legitimately observe (as for `check_live_tile`)."""
    if status != 200:
        return f"status {status}"
    for index in indexes.values():
        if check_mask(op, status, ctype, body, index) is None:
            return None
    return f"stale or wrong live mask: matches none of states {sorted(indexes)}"


def check_job(op: dict, status: int, body: bytes, pool: PointIndex) -> str | None:
    if status != 200:
        return f"status {status}"
    try:
        rows = json.loads(body)
    except ValueError as e:
        return f"bad json: {e}"
    n_true = int((pool.cols["g"] == op["g"]).sum())
    if len(rows) != min(1000, n_true) or any(r.get("g") != op["g"] for r in rows):
        return f"job rows do not match generation {op['g']}"
    return None


# ------------------------------------------------------------ suite
def norm_cell(v) -> str:
    """One result cell as text, the same for a Spark row and a DuckDB
    pandas row: NULL/NaN/NaT alike, floats by repr, midnight timestamps
    as dates."""
    import datetime

    import pandas as pd

    if v is None or v is pd.NaT:
        return "NULL"
    if isinstance(v, float):
        return "NULL" if math.isnan(v) else repr(float(v))
    if isinstance(v, (list, tuple)) or type(v).__name__ == "ndarray":
        return "[" + ",".join(norm_cell(x) for x in v) + "]"
    if isinstance(v, (pd.Timestamp, datetime.datetime, datetime.date)):
        s = str(v)
        return s[:-9] if s.endswith(" 00:00:00") else s
    if hasattr(v, "item"):  # numpy scalar
        return norm_cell(v.item())
    return str(v)


def result_lines(rows, columns) -> list[str]:
    """Rows as sorted text lines, columns in name order: equal lists mean
    equal results regardless of row or column order."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    return sorted("|".join(norm_cell(r[i]) for i in order) for r in rows)


def check_oracle(con, sql: str, columns: list, lines: list) -> str | None:
    pdf = con.execute(sql).df()
    want_cols = list(pdf.columns)
    if sorted(want_cols) != sorted(columns):
        return f"columns {sorted(columns)} != oracle {sorted(want_cols)}"
    want = result_lines(list(pdf.itertuples(index=False, name=None)), want_cols)
    if len(want) != len(lines):
        return f"{len(lines)} rows, oracle {len(want)}"
    if want != lines:
        bad = next(i for i, (a, b) in enumerate(zip(lines, want)) if a != b)
        return f"row {bad} differs: {lines[bad][:120]!r} vs oracle {want[bad][:120]!r}"
    return None


def check_ok_json(status: int, body: bytes) -> str | None:
    if status != 200:
        return f"status {status}"
    try:
        return None if json.loads(body).get("success") is True else "no success flag"
    except (ValueError, AttributeError):
        return "bad json"
