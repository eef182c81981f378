"""Seeded input generators. Every input a workload feeds the program comes
from here, drawn from one `numpy.random.Generator` per workload seed, so
the same seed gives byte-identical inputs."""

from __future__ import annotations

import gzip
import json
import os
import zlib
from collections import Counter

import numpy as np

# (lon, lat, spread in degrees): points cluster around a few cities, as
# real gazetteer and POI data do.
CITIES = (
    (-77.03, 38.90, 0.8),
    (2.35, 48.86, 1.2),
    (139.69, 35.69, 1.0),
    (36.82, -1.29, 1.5),
    (-46.63, -23.55, 1.1),
    (151.21, -33.87, 0.9),
    (-0.13, 51.51, 0.6),
)
CITY_WEIGHTS = (0.25, 0.2, 0.15, 0.12, 0.1, 0.1, 0.08)
COUNTRIES = ("US", "FR", "JP", "KE", "BR", "AU", "GB")
FEATURE_CODES = ("PPL", "PPLA", "PPLA2", "PPLX", "PPLC")
KINDS = ("bar", "cafe", "clinic", "fuel", "school", "park", "shop", "bank")

GEONAMES_HEADER = [
    "geonameid", "name", "asciiname", "alternatenames", "latitude", "longitude",
    "feature_class", "feature_code", "country_code", "cc2", "admin1_code",
    "admin2_code", "admin3_code", "admin4_code", "population", "elevation",
    "dem", "timezone", "modification_date",
]


def rng_for(seed: int, stream: str) -> np.random.Generator:
    """Independent stream per purpose, so adding a draw to one input
    does not shift another."""
    return np.random.default_rng([seed, zlib.crc32(stream.encode())])


def clustered_points(rng: np.random.Generator, n: int):
    """(lon, lat, city index) of n points around CITIES, 6 decimals."""
    city = rng.choice(len(CITIES), size=n, p=CITY_WEIGHTS)
    c = np.array(CITIES)
    lon = c[city, 0] + rng.normal(0.0, 1.0, n) * c[city, 2]
    lat = c[city, 1] + rng.normal(0.0, 1.0, n) * c[city, 2] * 0.7
    lon = np.round(np.clip(lon, -179.9, 179.9), 6)
    lat = np.round(np.clip(lat, -84.9, 84.9), 6)
    return lon, lat, city


# ---------------------------------------------------------------- etl
def geonames(rng: np.random.Generator, n: int) -> dict:
    """GeoNames-style rows; ~1% have an empty latitude or longitude."""
    lon, lat, city = clustered_points(rng, n)
    lat_s = np.char.mod("%.5f", lat).astype(object)
    lon_s = np.char.mod("%.5f", lon).astype(object)
    empty = rng.random(n) < 0.01
    which = rng.random(n) < 0.5
    lat_s[empty & which] = ""
    lon_s[empty & ~which] = ""
    pop = np.where(rng.random(n) < 0.4, 0, rng.lognormal(7.0, 2.0, n).astype(np.int64))
    return {
        "id": np.arange(1_000_000, 1_000_000 + n, dtype=np.int64),
        "lat": lat_s,
        "lon": lon_s,
        "country": np.array(COUNTRIES, dtype=object)[city],
        "feature_code": np.array(FEATURE_CODES, dtype=object)[rng.integers(0, len(FEATURE_CODES), n)],
        "population": pop,
        "elevation": rng.integers(0, 3000, n),
    }


def write_geonames_tsv_gz(rows: dict, path: str) -> None:
    """Headerless 19-column TSV, gzip (the header is passed as an option,
    as examples/geonames.sh does)."""
    lines = []
    for i, la, lo, cc, fc, pop, el in zip(
        rows["id"].tolist(), rows["lat"], rows["lon"], rows["country"],
        rows["feature_code"], rows["population"].tolist(), rows["elevation"].tolist(),
    ):
        lines.append(
            f"{i}\tPlace {i}\tPlace {i}\t\t{la}\t{lo}\tP\t{fc}\t{cc}\t\t01\t\t\t\t{pop}\t{el}\t{el}\tUTC\t2024-01-01\n"
        )
    with gzip.open(path, "wt", compresslevel=1) as f:
        f.write("".join(lines))


def write_geonames_jsonl(rows: dict, path: str) -> None:
    """The same rows as plain JSON lines; empty coordinates become null."""
    lines = []
    for i, la, lo, cc, fc, pop in zip(
        rows["id"].tolist(), rows["lat"], rows["lon"], rows["country"],
        rows["feature_code"], rows["population"].tolist(),
    ):
        la = la if la else "null"
        lo = lo if lo else "null"
        lines.append(
            f'{{"geonameid": {i}, "name": "Place {i}", "latitude": {la}, "longitude": {lo}, '
            f'"feature_code": "{fc}", "country_code": "{cc}", "population": {pop}}}\n'
        )
    with open(path, "w") as f:
        f.write("".join(lines))


# -------------------------------------------------------------- tiles
def point_layer(rng: np.random.Generator, n: int) -> dict:
    lon, lat, _city = clustered_points(rng, n)
    return {
        "id": np.arange(n, dtype=np.int64),
        "lon": lon,
        "lat": lat,
        "kind": np.array(KINDS, dtype=object)[rng.integers(0, len(KINDS), n)],
    }


def write_parquet(cols: dict, path: str) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    table = pa.table({k: pa.array(v.tolist() if v.dtype == object else v) for k, v in cols.items()})
    pq.write_table(table, path)


def lon_to_tile(lon, z):
    return np.floor((np.asarray(lon) + 180.0) * (2.0**z) / 360.0).astype(np.int64)


def lat_to_tile(lat, z):
    rad = np.asarray(lat) * np.pi / 180.0
    return np.floor((1.0 - np.log(np.tan(rad) + 1.0 / np.cos(rad)) / np.pi) / 2.0 * (2.0**z)).astype(np.int64)


def tile_universe(rng: np.random.Generator, lon, lat, zooms=range(2, 13), sample: int = 20000, cap: int = 12000):
    """Distinct (z, x, y) tiles that hold data, in rank order. Ranks take
    the zoom levels in turn, so every seed puts the same mix of zooms at
    the popular end of the Zipf curve."""
    idx = rng.choice(len(lon), size=min(sample, len(lon)), replace=False)
    per_zoom = []
    for z in zooms:
        tiles = sorted(set(zip(lon_to_tile(lon[idx], z).tolist(), lat_to_tile(lat[idx], z).tolist())))
        per_zoom.append([(z, *tiles[i]) for i in rng.permutation(len(tiles))])
    out = []
    for k in range(max(len(t) for t in per_zoom)):
        out += [t[k] for t in per_zoom if k < len(t)]
    return out[:cap]


def zipf_ranks(rng: np.random.Generator, n_keys: int, n: int, s: float) -> list[int]:
    """The n evenly spaced quantiles of a Zipf(s) law over n_keys ranks:
    every seed asks for the same ranks the same number of times, so the
    hit/miss mix is a property of the workload, not of the draw. Ranks
    asked for once (the cold tail) are spread evenly through the order,
    the rest shuffled between them, so cold requests do not pile up by
    chance. The seed decides which tile holds each rank, the order, and
    when each request arrives."""
    cdf = np.cumsum(1.0 / np.arange(1, n_keys + 1) ** s)
    ranks = np.minimum(np.searchsorted(cdf / cdf[-1], (np.arange(n) + 0.5) / n), n_keys - 1).tolist()
    counts = Counter(ranks)
    once = [ranks[i] for i in rng.permutation(n) if counts[ranks[i]] == 1]
    rest = iter(ranks[i] for i in rng.permutation(n) if counts[ranks[i]] > 1)
    slots = {int((i + 0.5) * n / len(once)) for i in range(len(once))}
    it_once = iter(once)
    return [next(it_once) if i in slots else next(rest) for i in range(n)]


def tile_requests(rng: np.random.Generator, universe, n: int, s: float, limit: int) -> list[dict]:
    """Zipf-distributed tile requests. A rank's request kind is fixed by
    the rank: 3 in 5 ranks are GeoJSON data tiles, the others mask tiles,
    which are png except for 1 in 10 gif and 1 in 10 jpg."""
    out = []
    for r in zipf_ranks(rng, len(universe), n, s):
        z, x, y = universe[r]
        if r % 5 < 3:
            out.append({"kind": "data", "z": z, "x": x, "y": y, "limit": limit,
                        "path": f"/layers/points/tiles/data/{z}/{x}/{y}.json?limit={limit}"})
        else:
            e = {8: "gif", 9: "jpg"}.get((r // 5) % 10, "png")
            out.append({"kind": "mask", "z": z, "x": x, "y": y, "ext": e,
                        "path": f"/layers/points/tiles/mask/{z}/{x}/{y}.{e}"})
    return out


def poisson_due_times(rng: np.random.Generator, n: int, duration: float) -> list[float]:
    """n Poisson arrivals conditioned on falling in [0, duration): sorted
    uniforms, so every run offers the same rate over the same span."""
    return np.sort(rng.random(n) * duration).tolist()


# ------------------------------------------------------------ catalog
def places(rng: np.random.Generator, n: int) -> dict:
    """Service table: unique `value`s so top-k has no ties."""
    return {
        "id": np.arange(n, dtype=np.int64),
        "kind": np.array(KINDS, dtype=object)[rng.integers(0, len(KINDS), n)],
        "country": np.array(COUNTRIES, dtype=object)[rng.integers(0, len(COUNTRIES), n)],
        "value": (rng.permutation(n) + 0.25) / 10.0,
    }


def pool(rng: np.random.Generator, per_gen: int, gens: int) -> dict:
    """Points tagged with a generation `g`; a rewrite job copies one
    generation into the live datastore."""
    n = per_gen * gens
    lon, lat, _ = clustered_points(rng, n)
    return {
        "id": np.arange(n, dtype=np.int64),
        "g": np.repeat(np.arange(gens, dtype=np.int64), per_gen),
        "lon": lon,
        "lat": lat,
        "kind": np.array(KINDS[:4], dtype=object)[rng.integers(0, 4, n)],
    }


def balanced(rng: np.random.Generator, values, n: int) -> list:
    """n draws that use every value equally often (to within one), in a
    random order."""
    values = list(values)
    reps = -(-n // len(values))
    out = []
    for _ in range(reps):
        out += [values[i] for i in rng.permutation(len(values))]
    return out[:n]


def quota(rng: np.random.Generator, shares: dict, n: int) -> list:
    """n labels in exact proportion to `shares`, shuffled."""
    labels = []
    for i, (label, share) in enumerate(shares.items()):
        k = n - len(labels) if i == len(shares) - 1 else round(n * share)
        labels += [label] * k
    return [labels[i] for i in rng.permutation(len(labels))]


READ_MIX = {"svc_filter": 0.25, "svc_topk": 0.15, "svc_hist": 0.15, "items": 0.15, "live_tile": 0.2,
            "live_mask": 0.1}
WRITER_MIX = {"job": 0.18, "layer_update": 0.12, **{k: v * 0.7 for k, v in READ_MIX.items()}}


def catalog_ops(rng: np.random.Generator, n: int, clients: int, gens: int, live_tiles, minvs) -> list[list[dict]]:
    """Closed-loop op lists, one per client, with a fixed mix of op kinds
    and of their variables, so seeds differ in order, not in work.
    Client 0 makes every write (a job rewrite or a layer update), so the
    writes happen in list order; every client, client 0 included, reads
    data and mask tiles of the live layer those writes change, and its
    service and item reads overlap them."""
    per = []
    for c in range(clients):
        kinds = quota(rng, WRITER_MIX if c == 0 else READ_MIX, n // clients + (c < n % clients))
        count = {k: kinds.count(k) for k in set(kinds)}
        draws = {
            "svc_filter": iter(balanced(rng, [(k, m) for k in KINDS for m in minvs], count.get("svc_filter", 0))),
            "svc_topk": iter(balanced(rng, KINDS, count.get("svc_topk", 0))),
            "svc_hist": iter(balanced(rng, minvs, count.get("svc_hist", 0))),
            "items": iter(balanced(rng, COUNTRIES, count.get("items", 0))),
            "live_tile": iter(balanced(rng, live_tiles, count.get("live_tile", 0))),
            "live_mask": iter(balanced(rng, live_tiles, count.get("live_mask", 0))),
            "job": iter(balanced(rng, range(gens), count.get("job", 0))),
        }
        ops, variant = [], 0
        for k in kinds:
            if k == "svc_filter":
                kind, minv = next(draws[k])
                ops.append({"kind": k, "vars": {"kind": kind, "minv": float(minv)}})
            elif k == "svc_topk":
                ops.append({"kind": k, "vars": {"kind": next(draws[k])}})
            elif k == "svc_hist":
                ops.append({"kind": k, "vars": {"minv": float(next(draws[k]))}})
            elif k == "items":
                ops.append({"kind": k, "country": next(draws[k]), "limit": 100})
            elif k in ("live_tile", "live_mask"):
                z, x, y = next(draws[k])
                ops.append({"kind": k, "z": z, "x": x, "y": y, "ext": "png"})
            elif k == "job":
                ops.append({"kind": k, "g": int(next(draws[k]))})
            else:
                variant = 1 - variant  # every update changes the expression
                ops.append({"kind": k, "variant": variant})
        per.append(ops)
    return per


# ------------------------------------------------------------- suite
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
PART_WORDS = (("small", "large", "new", "old", "hot", "cold", "red", "blue"),
              ("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"))
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
VOCAB = ("a", "agg", "batch", "big", "column", "customer", "data", "fast", "filter", "group",
         "hash", "join", "key", "line", "merge", "order", "part", "query", "row", "scan",
         "slow", "small", "sort", "spark", "stream", "table", "the", "value", "vector", "window")


def suite_tables(rng: np.random.Generator, out_dir: str, scale: float = 0.01) -> dict:
    """The suite's ten tables (TPC-H-like star schema, events, documents,
    embeddings) at `scale`, as parquet files in out_dir. Returns their
    row counts."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    n_cust, n_supp, n_part = int(150_000 * scale), max(10, int(10_000 * scale)), int(200_000 * scale)
    n_ord, n_line = int(1_500_000 * scale), int(6_000_000 * scale)
    n_ev, n_doc = int(1_000_000 * scale), int(50_000 * scale)
    day = np.datetime64("1995-01-01", "D")

    def dates(n, lo_days, hi_days):
        return (day + rng.integers(lo_days, hi_days, n)).astype("datetime64[us]")

    def money(lo, hi, n):
        return np.round(rng.uniform(lo, hi, n), 2)

    pick = lambda values, n: np.array(values, dtype=object)[rng.integers(0, len(values), n)]  # noqa: E731
    ts = np.datetime64("2024-01-01T00:00:00", "us") + rng.integers(0, 30 * 86_400_000_000, n_ev).astype("timedelta64[us]")
    words = np.array(VOCAB, dtype=object)
    texts = []
    for i in range(n_doc):
        if i >= 10 and rng.random() < 0.1:  # a near copy of an earlier document
            src = texts[int(rng.integers(0, i))].split()
            j = int(rng.integers(0, len(src)))
            texts.append(" ".join(src[:j] + ["dup"] + src[j + 1:]))
        else:
            texts.append(" ".join(words[rng.integers(0, len(words), int(rng.integers(8, 90)))]))
    emb = rng.normal(0.0, 1.0, (n_doc, 64)).astype(np.float32)
    near = rng.random(n_doc) < 0.1
    emb[near] = emb[np.maximum(np.nonzero(near)[0] - 1, 0)] + rng.normal(0, 0.01, (int(near.sum()), 64)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    tables = {
        "region": {"r_regionkey": np.arange(5, dtype=np.int32), "r_name": np.array(REGIONS, dtype=object)},
        "nation": {"n_nationkey": np.arange(25, dtype=np.int32),
                   "n_name": np.array([f"NATION_{i}" for i in range(25)], dtype=object),
                   "n_regionkey": (np.arange(25) % 5).astype(np.int32)},
        "customer": {"c_custkey": np.arange(n_cust, dtype=np.int64),
                     "c_name": np.array([f"Customer#{i:09d}" for i in range(n_cust)], dtype=object),
                     "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
                     "c_acctbal": money(-999.99, 9999.99, n_cust), "c_mktsegment": pick(SEGMENTS, n_cust)},
        "supplier": {"s_suppkey": np.arange(n_supp, dtype=np.int64),
                     "s_name": np.array([f"Supplier#{i:09d}" for i in range(n_supp)], dtype=object),
                     "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
                     "s_acctbal": money(-999.99, 9999.99, n_supp)},
        "part": {"p_partkey": np.arange(n_part, dtype=np.int64),
                 "p_name": np.array([f"{a} {b}" for a, b in zip(pick(PART_WORDS[0], n_part), pick(PART_WORDS[1], n_part))], dtype=object),
                 "p_brand": np.array([f"Brand#{i}" for i in rng.integers(1, 26, n_part)], dtype=object),
                 "p_type": pick(PART_TYPES, n_part), "p_size": rng.integers(1, 51, n_part).astype(np.int32),
                 "p_retailprice": np.round(900.0 + rng.integers(0, 1000, n_part) / 10.0, 2)},
        "orders": {"o_orderkey": np.arange(n_ord, dtype=np.int64), "o_custkey": rng.integers(0, n_cust, n_ord),
                   "o_orderstatus": pick(("F", "O", "P"), n_ord), "o_totalprice": money(1000.0, 500000.0, n_ord),
                   "o_orderdate": dates(n_ord, 0, 2404), "o_orderpriority": pick(PRIORITIES, n_ord)},
        "lineitem": {"l_orderkey": rng.integers(0, n_ord, n_line), "l_partkey": rng.integers(0, n_part, n_line),
                     "l_suppkey": rng.integers(0, n_supp, n_line), "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
                     "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
                     "l_extendedprice": money(900.0, 105000.0, n_line),
                     "l_discount": rng.integers(0, 11, n_line) / 100.0, "l_tax": rng.integers(0, 9, n_line) / 100.0,
                     "l_returnflag": pick(("A", "N", "R"), n_line), "l_linestatus": pick(("F", "O"), n_line),
                     "l_shipdate": dates(n_line, 1, 2499)},
        "events": {"event_id": np.arange(n_ev, dtype=np.int64), "ts": ts,
                   "user_id": rng.integers(0, max(10, n_ev // 67), n_ev), "event_type": pick(EVENT_TYPES, n_ev),
                   "value": np.round(rng.uniform(0.01, 490.0, n_ev), 2),
                   "props": np.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)], dtype=object)},
        "documents": {"doc_id": np.arange(n_doc, dtype=np.int64), "text": np.array(texts, dtype=object),
                      "lang": pick(("en", "en", "de", "es", "fr", "zh"), n_doc),
                      "source": np.array([f"src{i}" for i in rng.integers(0, 20, n_doc)], dtype=object),
                      "n_chars": np.array([len(t) for t in texts], dtype=np.int64)},
        "embeddings": {"vec_id": np.arange(n_doc, dtype=np.int64),
                       "embedding": pa.array(list(emb), type=pa.list_(pa.float32())),
                       "label": rng.integers(0, 10, n_doc).astype(np.int32)},
    }
    for name, cols in tables.items():
        arrays = {k: v if isinstance(v, pa.Array) else pa.array(v.tolist() if v.dtype == object else v)
                  for k, v in cols.items()}
        pq.write_table(pa.table(arrays), os.path.join(out_dir, f"{name}.parquet"))
    return {name: len(next(iter(cols.values()))) for name, cols in tables.items()}


def save_json(obj, path: str) -> None:
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(obj, f)
    os.replace(tmp, path)
