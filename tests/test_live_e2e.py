"""Live crawl end-to-end over a REAL localhost HTTP server.

The minted graph is served over actual TCP sockets by an absolute-URI
(proxy-form) HTTP server; `CrawlEngine(transport_factory=...)` crawls it
and must reproduce the simulated engine's crawl order
decision-for-decision (reference: the crawl client loop dispatching
real requests through ``app/http_fetcher.py:24-87``).

Two transports drive the same server:

- a stdlib ``http.client`` transport (always runs — a real HTTP client
  over real sockets, with User-Agent, per-request timeout, max_bytes
  read cap and redirect following; only the client LIBRARY differs
  from production), once connected straight to the server and once
  only through the ``cfg.proxy`` the engine hands it, and
- the httpx transport (``plans/fetch.py:httpx_transport``) pointed at
  the server via ``cfg.proxy`` — exactly the reference's proxy
  plumbing (``app/http_fetcher.py:45-53``).
  Skipped where httpx is not installed (this sandbox image).

The graph's https URLs are rewritten to http for the live runs (a
plain localhost server cannot terminate TLS for *.example.com); the
simulated baseline runs on the SAME rewritten graph so the comparison
is scheme-invariant.
"""

from __future__ import annotations

import re
import threading
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_SMALL
from volltextextraktion_selenium_md_spark import codec
from volltextextraktion_selenium_md_spark.config import CrawlConfig
from volltextextraktion_selenium_md_spark.functions.urls import canonicalize_one
from volltextextraktion_selenium_md_spark.plans.fetch import httpx_transport
from volltextextraktion_selenium_md_spark.plans.frontier import CrawlEngine
from volltextextraktion_selenium_md_spark.replay import _load_graph

KEY = ("ordinal", "round", "url", "depth", "lineage", "mode", "attempt", "outcome")


def _rw(u: str) -> str:
    return re.sub(r"(?i)^https://", "http://", u)


@pytest.fixture(scope="module")
def http_graph_server():
    """Localhost server publishing the sf0.001 minted graph: html pages
    carry their g_links rows as real anchors (document order), media
    pages an opaque body; statuses/redirects come from g_pages. Accepts
    both origin-form (Host header) and absolute-URI (proxy-form)
    requests, so the same server backs a direct transport AND the
    default httpx client driven through cfg.proxy."""
    pages, links, _seeds, _robots = _load_graph(SF_SMALL)
    by_url: dict[str, dict] = {}
    for url, page in pages.items():
        ctype = page["content_type"]
        if ctype.startswith("text/html"):
            anchors = "".join(
                f"<a href='{_rw(raw)}'>link</a>"
                for _pos, raw, _h in links.get(page["page_id"], [])
            )
            body = f"<html><body><main>page</main>{anchors}</body></html>".encode()
        elif ctype.startswith("image/"):
            # real image bytes (the minted corpus payload, scale=1) so
            # the live convert stage can decode them into payload-table
            # rows — convert.mint_payload's image branch, served over
            # the wire instead of minted executor-side
            body = codec.encode(
                codec.synth_image(page["page_id"], w=24, h=16), "jpeg"
            )
        else:
            body = b"binarybody"
        by_url[_rw(url)] = {
            "status": page["status"],
            "final_url": _rw(page["final_url"]),
            "ctype": ctype,
            "body": body,
        }

    hits = [0]
    lock = threading.Lock()

    class Handler(BaseHTTPRequestHandler):
        protocol_version = "HTTP/1.1"

        def do_GET(self):  # noqa: N802 — BaseHTTPRequestHandler contract
            with lock:
                hits[0] += 1
            target = (
                self.path
                if self.path.startswith("http")
                else f"http://{self.headers.get('Host', '')}{self.path}"
            )
            page = by_url.get(canonicalize_one(target))
            if page is None:
                self.send_response(404)
                self.send_header("Content-Length", "0")
                self.end_headers()
                return
            if page["status"] == 301 and target != page["final_url"]:
                self.send_response(301)
                self.send_header("Location", page["final_url"])
                self.send_header("Content-Length", "0")
                self.end_headers()
                return
            status = 200 if page["status"] == 301 else page["status"]
            body = page["body"] if status == 200 else b"err"
            self.send_response(status)
            self.send_header("Content-Type", page["ctype"])
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

        def log_message(self, *a):  # keep pytest output clean
            pass

    srv = ThreadingHTTPServer(("127.0.0.1", 0), Handler)
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    yield srv.server_address[1], hits
    srv.shutdown()


def _http_engine(spark, cfg, **kw) -> CrawlEngine:
    """Engine over the https->http rewritten graph (class-2 raw-url
    noise is UPPERCASE, hence the case-insensitive scheme rewrite)."""
    eng = CrawlEngine(spark, SF_SMALL, cfg, **kw)

    def rw(c):
        return F.regexp_replace(c, r"(?i)^https://", "http://")

    eng.pages = eng.pages.withColumn("url", rw(F.col("url"))).withColumn(
        "final_url", rw(F.col("final_url"))
    )
    eng.links = eng.links.withColumn("dst_url", rw(F.col("dst_url"))).withColumn(
        "raw_url", rw(F.col("raw_url"))
    )
    eng.seeds = eng.seeds.withColumn("raw_url", rw(F.col("raw_url"))).withColumn(
        "url", rw(F.col("url"))
    )
    return eng


def _order(res):
    rows = (
        res.fetch_log.filter("outcome <> 'blocked'")
        .select(*KEY)
        .orderBy("ordinal")
        .collect()
    )
    return [tuple(r[k] for k in KEY) for r in rows]


def _sim_order_mapped(res):
    # simulated 'missing' (url not in the page table) is live's
    # terminal 'failed' — the real server answers 404 for unknown URLs
    return [
        tuple("failed" if (k == "outcome" and v == "missing") else v
              for k, v in zip(KEY, row))
        for row in _order(res)
    ]


def _stdlib_factory(port=None):
    """Stdlib ``http.client`` transport factory. With ``port`` it
    connects straight to the localhost server; without, it connects to
    the ``proxy`` each call is handed (absolute-URI GETs, the proxy
    shape) and raises when handed none."""

    def factory():
        import http.client
        from urllib.parse import urlsplit

        def call(url, user_agent, timeout_s, max_bytes, proxy=None, verify=True):
            if port is not None:
                addr = ("127.0.0.1", port)
            elif proxy:
                addr = (urlsplit(proxy).hostname, urlsplit(proxy).port)
            else:
                raise ConnectionError(f"no proxy handed to the transport for {url}")
            target = url
            status, body, ctype = None, b"", None
            for _ in range(5):  # follow redirects like the default client
                conn = http.client.HTTPConnection(*addr, timeout=timeout_s)
                try:
                    conn.request(
                        "GET", target,
                        headers={
                            "User-Agent": user_agent,
                            "Host": urlsplit(target).netloc,
                        },
                    )
                    r = conn.getresponse()
                    body = r.read(max_bytes + 1)
                    status, ctype = r.status, r.getheader("Content-Type")
                    loc = r.getheader("Location")
                finally:
                    conn.close()
                if status in (301, 302, 303, 307, 308) and loc:
                    target = loc
                    continue
                break
            return status, target, body, ctype

        return call

    return factory


def test_live_engine_over_real_http_server(spark, http_graph_server):
    """Real sockets, real HTTP, real server — stdlib-client transport."""
    port, hits = http_graph_server
    cfg = CrawlConfig()
    sim = _http_engine(spark, cfg).run()

    before = hits[0]
    live = _http_engine(
        spark, cfg, transport_factory=_stdlib_factory(port),
        with_convert=True,
    ).run()
    got = _order(live)
    want = _sim_order_mapped(sim)
    assert got == want
    assert {r["url"] for r in live.seen.collect()} == {
        r["url"] for r in sim.seen.collect()
    }
    # the crawl really went over the wire: at least one request per
    # non-blocked decision reached the server
    assert hits[0] - before >= len(got)

    # live image payloads: the convert stage decoded the REAL wire
    # bytes into payload-table rows (codec.payload_row_from_bytes) —
    # every row must map back to a graph image page via the live md5
    # url surrogate, carry pixel-derived w/h/fmt/phash, and hold the
    # input_hint's PSNR>=40dB invariant vs the page's source image
    import hashlib

    pages, _links, _seeds, _robots = _load_graph(SF_SMALL)
    sur2page = {}
    for url, page in pages.items():
        if page["content_type"].startswith("image/"):
            for u in (_rw(url), _rw(page["final_url"])):
                s = int.from_bytes(
                    hashlib.md5(u.encode()).digest()[:8], "big"
                ) >> 1
                sur2page[f"img-{s}"] = page
    prows = live.payloads.collect()
    assert prows, "live crawl produced no image payload rows"
    for r in prows:
        arr = codec.decode(bytes(r["bytes"]))
        assert (r["w"], r["h"], r["fmt"]) == (arr.shape[1], arr.shape[0], "jpeg")
        assert r["phash"] == codec.average_hash(arr)
        page = sur2page.get(r["image_id"])
        assert page is not None, f"unmapped live payload row {r['image_id']}"
        src = codec.synth_image(page["page_id"], w=24, h=16)
        assert codec.psnr(src, arr) >= 40.0


def test_live_engine_default_httpx_transport(spark, http_graph_server):
    """The network client ``httpx_transport`` (follow_redirects,
    browser headers, keep-alive) reaches the server through cfg.proxy —
    absolute-URI GETs, the reference's proxy shape."""
    pytest.importorskip("httpx")
    port, hits = http_graph_server
    sim = _http_engine(spark, CrawlConfig()).run()
    before = hits[0]
    live = _http_engine(
        spark, CrawlConfig(proxy=f"http://127.0.0.1:{port}"),
        transport_factory=httpx_transport,
    ).run()
    got = _order(live)
    assert got == _sim_order_mapped(sim)
    assert hits[0] - before >= len(got)


def test_live_engine_config_proxy_reaches_transport(spark, http_graph_server):
    """The stdlib twin of the httpx test above: no request sets a proxy,
    so every engine frontier row carries a NULL ``proxy`` column, which
    must resolve to ``cfg.proxy``. The transport reaches the server only
    through the proxy it is handed, and raises without one."""
    port, hits = http_graph_server
    sim = _http_engine(spark, CrawlConfig()).run()
    before = hits[0]
    live = _http_engine(
        spark, CrawlConfig(proxy=f"http://127.0.0.1:{port}"),
        transport_factory=_stdlib_factory(),
    ).run()
    got = _order(live)
    assert got == _sim_order_mapped(sim)
    assert hits[0] - before >= len(got)
