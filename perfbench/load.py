"""Load generation from one client process: an open loop with a fixed
arrival schedule and a closed loop with one op list per client. Each
worker thread keeps one HTTP/1.1 connection to the server."""

from __future__ import annotations

import http.client
import json
import os
import queue
import threading
import time
from contextlib import contextmanager, nullcontext


class Conn:
    def __init__(self, port: int, token: str | None = None):
        self.port = port
        self.token = token
        self.c = http.client.HTTPConnection("127.0.0.1", port, timeout=120)

    def request(self, method: str, path: str, body=None, trace: bool = False) -> tuple[int, str, bytes]:
        headers = {"X-Perfbench-Trace": "1"} if trace else {}
        data = None
        if body is not None:
            data = json.dumps(body).encode()
            headers["Content-Type"] = "application/json"
        if self.token:
            headers["Authorization"] = f"Bearer {self.token}"
        try:
            return self._send(method, path, data, headers)
        except (http.client.RemoteDisconnected, ConnectionResetError, BrokenPipeError):
            # the server closed an idle keep-alive connection: reconnect once
            self.c.close()
            self.c = http.client.HTTPConnection("127.0.0.1", self.port, timeout=120)
            return self._send(method, path, data, headers)

    def _send(self, method, path, data, headers) -> tuple[int, str, bytes]:
        self.c.request(method, path, body=data, headers=headers)
        r = self.c.getresponse()
        return r.status, r.getheader("Content-Type", ""), r.read()

    def close(self):
        self.c.close()


class CpuClock:
    """This process's CPU seconds over a wall interval."""

    def __enter__(self):
        self.t0 = time.perf_counter()
        self.c0 = sum(os.times()[:2])
        return self

    def __exit__(self, *exc):
        self.wall = time.perf_counter() - self.t0
        self.cpu = sum(os.times()[:2]) - self.c0

    @property
    def frac(self) -> float:
        return self.cpu / self.wall if self.wall > 0 else 0.0


def open_loop(port: int, due: list[float], requests: list[dict], threads: int) -> dict:
    """Send requests[i] at due[i] seconds after the start, whatever the
    state of earlier requests. Latency counts from the due time."""
    q: queue.Queue = queue.Queue()
    records: list = [None] * len(requests)

    def worker():
        conn = Conn(port)
        try:
            while True:
                item = q.get()
                if item is None:
                    return
                i, due_at, queued_at = item
                start = time.perf_counter()
                try:
                    status, ctype, body = conn.request("GET", requests[i]["path"], trace=requests[i].get("trace", False))
                except (OSError, http.client.HTTPException) as e:
                    status, ctype, body = -1, "", repr(e).encode()
                end = time.perf_counter()
                records[i] = {"due": due_at, "queued": queued_at, "start": start, "end": end,
                              "status": status, "ctype": ctype, "body": body}
        finally:
            conn.close()

    pool = [threading.Thread(target=worker, daemon=True) for _ in range(threads)]
    for t in pool:
        t.start()
    with CpuClock() as clock:
        t0 = time.perf_counter() + 0.05
        for i, d in enumerate(due):
            at = t0 + d
            delay = at - time.perf_counter()
            if delay > 0:
                time.sleep(delay)
            q.put((i, at, time.perf_counter()))
        for _ in pool:
            q.put(None)
        for t in pool:
            t.join(timeout=170)
    return {"records": records, "t0": t0, "cpu_frac": clock.frac, "wall": clock.wall}


class ReadWriteGate:
    """Shared and exclusive admission of client ops, writer first: an
    exclusive op waits until the shared ops in flight have ended and holds
    new ones back until it has ended itself."""

    def __init__(self):
        self.cv = threading.Condition()
        self.readers = 0
        self.writers = 0  # waiting or in flight

    @contextmanager
    def shared(self):
        with self.cv:
            self.cv.wait_for(lambda: self.writers == 0)
            self.readers += 1
        try:
            yield
        finally:
            with self.cv:
                self.readers -= 1
                self.cv.notify_all()

    @contextmanager
    def exclusive(self):
        with self.cv:
            self.writers += 1
            self.cv.wait_for(lambda: self.readers == 0)
        try:
            yield
        finally:
            with self.cv:
                self.writers -= 1
                self.cv.notify_all()


def closed_loop(port: int, op_lists: list[list[dict]], send, token: str | None, gate=None) -> dict:
    """One thread per op list; each sends its next op when the previous
    answer arrives. `send(conn, op)` returns (status, content type, body).
    `gate(op)`, if given, returns a context manager the op is sent in;
    time spent waiting to enter it is not part of the op's latency."""
    records: list = [[None] * len(ops) for ops in op_lists]

    def worker(k: int):
        conn = Conn(port, token)
        try:
            for j, op in enumerate(op_lists[k]):
                with gate(op) if gate else nullcontext():
                    start = time.perf_counter()
                    try:
                        status, ctype, body = send(conn, op)
                    except (OSError, http.client.HTTPException) as e:
                        status, ctype, body = -1, "", repr(e).encode()
                    end = time.perf_counter()
                records[k][j] = {"start": start, "end": end,
                                 "status": status, "ctype": ctype, "body": body}
        finally:
            conn.close()

    pool = [threading.Thread(target=worker, args=(k,), daemon=True) for k in range(len(op_lists))]
    with CpuClock() as clock:
        for t in pool:
            t.start()
        for t in pool:
            t.join(timeout=170)
    return {"records": records, "cpu_frac": clock.frac, "wall": clock.wall}
