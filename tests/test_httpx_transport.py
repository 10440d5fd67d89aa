"""The network client ``plans.fetch.httpx_transport`` against a stub
``httpx`` module: the client settings, the header set, the cookie clear
before every request, the stream cut at ``max_bytes``, one client per
(thread, proxy, verify) and ``close``. No network and no Spark; the
end-to-end test against a local server (``tests/test_live_e2e.py``)
needs the real httpx."""

from __future__ import annotations

import sys
import threading
import types

import pytest

from volltextextraktion_selenium_md_spark.plans.fetch import (
    DEFAULT_HEADERS,
    httpx_transport,
)

CHUNK = 4


class _Response:
    """A streamed response whose body arrives in ``CHUNK``-byte chunks;
    every chunk handed out is logged."""

    def __init__(self, log, url, n_chunks):
        self.log = log
        self.status_code = 200
        self.url = url + "?final"
        self.headers = {"content-type": "text/html; charset=utf-8"}
        self.n_chunks = n_chunks

    def __enter__(self):
        return self

    def __exit__(self, *exc):
        return False

    def iter_bytes(self):
        for i in range(self.n_chunks):
            self.log.append(("chunk", i))
            yield bytes([97 + i]) * CHUNK


class _Cookies:
    def __init__(self, log):
        self.log = log

    def clear(self):
        self.log.append(("clear",))


@pytest.fixture()
def stub(monkeypatch):
    """An ``httpx`` module with the surface the transport uses; its
    ``log`` records cookie clears, requests and chunks in call order and
    ``clients`` every client built."""
    mod = types.ModuleType("httpx")
    mod.log, mod.clients = [], []
    mod.n_chunks = 3

    class Client:
        def __init__(self, **kw):
            self.kw = kw
            self.closed = False
            self.thread = threading.current_thread().name
            self.cookies = _Cookies(mod.log)
            mod.clients.append(self)

        def stream(self, method, url, headers, timeout):
            mod.log.append(("stream", method, url, headers, timeout))
            return _Response(mod.log, url, mod.n_chunks)

        def close(self):
            self.closed = True

    mod.Client = Client
    monkeypatch.setitem(sys.modules, "httpx", mod)
    return mod


def test_request_shape_and_result(stub):
    call = httpx_transport()
    got = call("http://a.example.com/p", "UA/1", 7.5, 1 << 20)
    assert got == (200, "http://a.example.com/p?final", b"aaaabbbbcccc",
                   "text/html; charset=utf-8")
    (client,) = stub.clients
    # no proxy configured: the client gets no proxy argument at all
    assert client.kw == {"follow_redirects": True, "http2": True, "verify": True}
    assert stub.log[0] == ("clear",)
    assert stub.log[1] == ("stream", "GET", "http://a.example.com/p",
                           {**DEFAULT_HEADERS, "User-Agent": "UA/1"}, 7.5)


def test_cookie_jar_cleared_before_every_request(stub):
    call = httpx_transport()
    for i, ua in enumerate(("UA/1", "UA/2", "UA/3")):
        call(f"http://a.example.com/{i}", ua, 1.0, 1 << 20)
    events = [e for e in stub.log if e[0] != "chunk"]
    assert [e[0] for e in events] == ["clear", "stream"] * 3
    # every request carries the full header set plus its own agent
    assert [e[3] for e in events if e[0] == "stream"] == [
        {**DEFAULT_HEADERS, "User-Agent": ua} for ua in ("UA/1", "UA/2", "UA/3")
    ]
    assert len(stub.clients) == 1


def test_stream_stops_at_first_chunk_past_max_bytes(stub):
    stub.n_chunks = 10
    call = httpx_transport()
    # 6 bytes allowed: the first chunk (4) fits, the second (8) passes
    # the cap, so the loop stops there and the third is never pulled
    _, _, body, _ = call("http://a.example.com/big", "UA", 1.0, 6)
    assert body == b"aaaabbbb"
    assert [e for e in stub.log if e[0] == "chunk"] == [("chunk", 0), ("chunk", 1)]
    # a body exactly at the cap is read whole
    stub.log.clear()
    stub.n_chunks = 2
    _, _, body, _ = call("http://a.example.com/fits", "UA", 1.0, 2 * CHUNK)
    assert body == b"aaaabbbb"


def test_one_client_per_thread_proxy_and_verify(stub):
    call = httpx_transport()
    url = "http://a.example.com/p"
    call(url, "UA", 1.0, 64)
    call(url, "UA", 1.0, 64)  # same key: reused
    call(url, "UA", 1.0, 64, proxy="http://proxy:3128")
    call(url, "UA", 1.0, 64, proxy="http://proxy:3128")
    call(url, "UA", 1.0, 64, verify=False)
    worker = threading.Thread(target=call, args=(url, "UA", 1.0, 64), name="other")
    worker.start()
    worker.join()
    keys = [(c.thread, c.kw.get("proxy"), c.kw["verify"]) for c in stub.clients]
    main = threading.current_thread().name
    assert keys == [
        (main, None, True),
        (main, "http://proxy:3128", True),
        (main, None, False),
        ("other", None, True),
    ]
    # a proxy is passed only when set
    assert [("proxy" in c.kw) for c in stub.clients] == [False, True, False, False]
    assert all(c.kw["follow_redirects"] and c.kw["http2"] for c in stub.clients)


def test_close_closes_every_client(stub):
    call = httpx_transport()
    call("http://a.example.com/p", "UA", 1.0, 64)
    call("http://a.example.com/p", "UA", 1.0, 64, verify=False)
    t = threading.Thread(target=call, args=("http://a.example.com/p", "UA", 1.0, 64))
    t.start()
    t.join()
    assert len(stub.clients) == 3 and not any(c.closed for c in stub.clients)
    call.close()
    assert all(c.closed for c in stub.clients)
