import os
import sys
import threading
import types

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from spans import Tracer, self_times, summarize  # noqa: E402


def test_self_time_with_overlapping_children():
    # parent 0..10; children 1..4 and 3..6 overlap (cover 1..6 = 5 s) and
    # a third child 8..12 runs past the parent's end (covers 8..10 = 2 s)
    spans = [
        (1, None, "r", "server.request", 0.0, 10.0),
        (2, 1, "r", "catalog.a", 1.0, 4.0),
        (3, 1, "r", "catalog.b", 3.0, 6.0),
        (4, 1, "r", "geo.c", 8.0, 12.0),
        (5, 2, "r", "sources.read", 1.5, 2.0),
    ]
    st = self_times(spans)
    assert st[1] == pytest.approx(10.0 - 5.0 - 2.0)
    assert st[2] == pytest.approx(3.0 - 0.5)  # grandchildren count against their own parent
    assert st[5] == pytest.approx(0.5)
    summary = summarize(spans)
    assert summary["server.request"]["calls"] == 1
    assert summary["server.request"]["mean_self_s"] == pytest.approx(3.0)


def _fake_package():
    pkg = types.ModuleType("fakepkg")
    inner = types.ModuleType("fakepkg.inner")
    user = types.ModuleType("fakepkg.user")

    def leaf(x):
        return x + 1

    def outer(x):
        return inner.leaf(x) * 2

    inner.leaf = leaf
    user.leaf = leaf  # a `from fakepkg.inner import leaf` binding
    user.outer = outer
    return {"fakepkg": pkg, "fakepkg.inner": inner, "fakepkg.user": user}, leaf


def test_install_replaces_every_binding_and_uninstall_restores(monkeypatch):
    mods, leaf = _fake_package()
    for name, mod in mods.items():
        monkeypatch.setitem(sys.modules, name, mod)
    tr = Tracer()
    tr.install_function("fakepkg.inner", "leaf", "fake.leaf", package="fakepkg")
    tr.install_function("fakepkg.user", "outer", "fake.outer", package="fakepkg")
    assert mods["fakepkg.user"].leaf is not leaf
    tr.request_id = 7
    assert mods["fakepkg.user"].outer(1) == 4
    assert mods["fakepkg.user"].leaf(1) == 2
    leaf_span, outer_span = tr.spans[0], tr.spans[1]  # spans are kept in end order
    assert (leaf_span[3], outer_span[3]) == ("fake.leaf", "fake.outer")
    assert leaf_span[1] == outer_span[0]  # parent link
    assert {s[2] for s in tr.spans} == {7}  # one request id
    assert len(tr.spans) == 3
    tr.uninstall()
    assert mods["fakepkg.inner"].leaf is leaf and mods["fakepkg.user"].leaf is leaf


def test_spans_from_threads_do_not_share_parents():
    tr = Tracer()
    barrier = threading.Barrier(4)

    def work():
        rec = tr.begin("outer")
        barrier.wait(timeout=10)
        inner = tr.begin("inner")
        tr.end(inner)
        tr.end(rec)

    threads = [threading.Thread(target=work) for _ in range(4)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=10)
    assert not any(t.is_alive() for t in threads)
    outers = {s[0] for s in tr.spans if s[3] == "outer"}
    inners = [s for s in tr.spans if s[3] == "inner"]
    assert len(inners) == 4 and {s[1] for s in inners} == outers


def test_inactive_thread_records_nothing():
    tr = Tracer(default_active=False)
    f = tr.wrap(lambda x: x * 3, "f")
    assert f(2) == 6 and tr.spans == []
    tr.set_active(True)
    assert f(2) == 6 and len(tr.spans) == 1
