"""catalog_mixed's load and its staleness check: every client reads the
live layer that client 0 rewrites, a stale answer from any client is a
wrong answer, a refused one is a failure, and live reads wait for a
running rewrite unless asked to overlap it."""

import json
import os
import sys

import numpy as np

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import checks  # noqa: E402
import gen  # noqa: E402
import run  # noqa: E402


def test_every_client_reads_the_live_layer_and_only_client_0_writes():
    lists = gen.catalog_ops(gen.rng_for(1, "test"), 184, 4, 8, [(5, 9, 12), (6, 18, 24)], (0.0, 1000.0))
    assert sum(len(ops) for ops in lists) == 184
    for c, ops in enumerate(lists):
        kinds = {op["kind"] for op in ops}
        assert "live_tile" in kinds
        assert bool(kinds & {"job", "layer_update"}) == (c == 0)


def tiny_pool():
    # two generations of the same three places inside one z=5 tile
    lon = np.array([10.0, 10.1, 10.2, 10.0, 10.1, 10.2])
    lat = np.array([50.0, 50.1, 50.2, 50.0, 50.1, 50.2])
    g = np.array([0, 0, 0, 1, 1, 1])
    kind = np.array(["shop", "bar", "shop", "shop", "shop", "cafe"], dtype=object)
    return checks.PointIndex(np.arange(6), lon, lat, g=g, kind=kind)


def live_body(ids):
    return json.dumps({"features": [{"properties": {"id": i}} for i in sorted(ids)]}).encode()


def test_cross_client_stale_read_is_wrong_and_refused_read_is_failed():
    pool = tiny_pool()
    z = 5
    x, y = int(gen.lon_to_tile([10.1], z)[0]), int(gen.lat_to_tile([50.1], z)[0])
    tile = {"kind": "live_tile", "z": z, "x": x, "y": y}
    old = checks.live_ids(pool, (0, 0), run.LIVE_EXCLUDED, z, x, y)
    new = checks.live_ids(pool, (1, 0), run.LIVE_EXCLUDED, z, x, y)
    assert old != new
    job_rows = json.dumps([{"g": 1}] * 3).encode()
    op_lists = [[{"kind": "job", "g": 1}], [dict(tile)], [dict(tile)], [dict(tile)]]
    records = [
        [{"start": 0.0, "end": 1.0, "status": 200, "body": job_rows}],
        [{"start": 2.0, "end": 3.0, "status": 200, "body": live_body(new)}],  # after the rewrite: new data
        [{"start": 2.0, "end": 3.0, "status": 200, "body": live_body(old)}],  # after the rewrite: stale
        [{"start": 2.0, "end": 3.0, "status": 500, "body": b"FileNotFound"}],  # refused
    ]
    errs = run.check_mixed(op_lists, records, None, pool, (0, 0))
    assert errs[0] is None and errs[1] is None
    assert "stale" in errs[2] and errs[3] == "live_tile: status 500"
    assert run.wrong_answers(errs, [r for lst in records for r in lst]) == 1
    # a read that overlapped the rewrite may see either generation
    records[2][0]["start"] = 0.5
    assert run.check_mixed(op_lists, records, None, pool, (0, 0))[2] is None


def test_live_reads_and_rewrites_do_not_overlap_unless_asked():
    import threading
    import time

    gate = run.live_gate(overlap_rewrites=False)
    log, lock = [], threading.Lock()

    def op(kind, hold):
        with gate({"kind": kind}):
            with lock:
                log.append(("start", kind))
            time.sleep(hold)
            with lock:
                log.append(("end", kind))

    reader = threading.Thread(target=op, args=("live_tile", 0.2))
    reader.start()
    time.sleep(0.05)
    writer = threading.Thread(target=op, args=("job", 0.2))
    writer.start()
    time.sleep(0.05)
    late = threading.Thread(target=op, args=("live_mask", 0.0))  # arrives while the job waits
    late.start()
    other = threading.Thread(target=op, args=("svc_hist", 0.0))  # not a live read: never waits
    other.start()
    for t in (reader, writer, late, other):
        t.join(5)
    live = [e for e in log if e[1] != "svc_hist"]
    assert live == [("start", "live_tile"), ("end", "live_tile"), ("start", "job"), ("end", "job"),
                    ("start", "live_mask"), ("end", "live_mask")]
    assert log.index(("end", "svc_hist")) < log.index(("end", "live_tile"))
    # --overlap-rewrites admits everything at once
    free = run.live_gate(overlap_rewrites=True)
    with free({"kind": "job"}), free({"kind": "live_tile"}):
        pass
