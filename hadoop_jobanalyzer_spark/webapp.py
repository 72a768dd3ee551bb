"""HTTP chart frontend — the webapp analog of ``job_history.cgi``.

The reference's third frontend is a Groovy servlet
(``src/main/webapp/job_history.cgi``, mapped by ``WEB-INF/web.xml:8-19``)
that accepts ``url=<url to log file>`` or ``log=<full log contents>``
"either query or post, either way" (job_history.cgi:52-56,96-101), parses
the job-history log, and answers ``image/png`` with the stacked
concurrency chart (job_history.cgi:344-390).

This module serves the same interface from the stdlib ``http.server``
over the Spark engine: the request's log goes through
``sources.load_history`` and ``operators.timeline`` and the response is
the PNG bytes ``sinks.timeline_png`` paints in memory (no output file).
Extensions beyond the CGI (documented, all optional):

* ``chart=timeline|map|reduce`` — ``map``/``reduce`` answer the per-task
  Gantt charts (``vis/grap/mapgraph.gr`` / ``reducegraph.gr``), which the
  reference only produced offline through grap/pic.
* ``width=``/``height=``/``scale=`` — raster size and timestamp divisor.
  Defaults mirror the CGI: 1200x800 (job_history.cgi:390) and
  ``scale=100`` (job_history.cgi:107 ``long scale = 100`` — NOT the
  CLI's 1000; the two reference frontends disagree and we keep each
  one's own default, SURVEY.md §2.9).

``multipart/form-data`` bodies (the CGI's gridauth-compat upload path,
groovy.cgi:104-121) are accepted too: each part's ``Content-Disposition``
name becomes a parameter, so a browser file-upload of the log as
``log=`` works alongside urlencoded POST and query-string GET.

Hardening beyond the reference (the CGI fetches any ``url=`` verbatim —
a server-side request forgery the analog need not replicate): ``url=``
schemes are allowlisted to ``http``/``https`` by default (``file://``
and friends answer 400; pass ``url_schemes`` to ``make_server`` to
widen, e.g. for tests), raster dimensions are clamped to 1..8192, and
the staged ``url=`` copy is unlinked after rendering like the ``log=``
temp file. Binding beyond 127.0.0.1 still exposes the fetcher to
whatever network the host can reach — keep the default host unless the
deployment trusts its callers.

One request at a time (plain ``HTTPServer``, no threading mixin): every
request runs Spark jobs on the shared session, and interleaving two
drivers' action streams on one SparkContext gains nothing — requests
queue at the socket instead.
"""

from __future__ import annotations

import os
import tempfile
import urllib.parse
from http.server import BaseHTTPRequestHandler, HTTPServer

from pyspark.sql import SparkSession

from hadoop_jobanalyzer_spark.operators import map_table, reduce_table, timeline
from hadoop_jobanalyzer_spark.sinks import map_gantt_png, reduce_gantt_png, timeline_png
from hadoop_jobanalyzer_spark.sources import load_history, stage_url

# chart name -> (report operator, PNG-bytes renderer); the webapp's
# ``chart=`` values and the CLI's --png with -t / -m / -r
CHARTS = {
    "timeline": (timeline, timeline_png),
    "map": (map_table, map_gantt_png),
    "reduce": (reduce_table, reduce_gantt_png),
}

CHART_DEFAULT_WIDTH = 1200  # ChartUtilities.writeChartAsPNG(..., 1200, 800)
CHART_DEFAULT_HEIGHT = 800
CGI_SCALE = 100  # job_history.cgi:107

_MAX_BODY = 256 * 1024 * 1024  # a job-history log, not a corpus
_MAX_DIM = 8192  # the raster canvas is O(w*h) bytes in the driver
DEFAULT_URL_SCHEMES = ("http", "https")


def render_chart_png(
    spark: SparkSession,
    *,
    url: str | None = None,
    log: str | None = None,
    chart: str = "timeline",
    width: int = CHART_DEFAULT_WIDTH,
    height: int = CHART_DEFAULT_HEIGHT,
    scale: int = CGI_SCALE,
    url_schemes: tuple[str, ...] = DEFAULT_URL_SCHEMES,
) -> bytes:
    """One request's PNG bytes — the CGI body (job_history.cgi:95-390)
    as a library call: stage the input, build the requested view, raster.

    Raises ``ValueError`` on bad parameters (no input, unknown chart,
    disallowed url scheme, out-of-range dimensions, multi-job input) —
    the HTTP layer maps that to 400.
    """
    if chart not in CHARTS:
        raise ValueError(f"unknown chart: {chart!r} ({'|'.join(CHARTS)})")
    if not (1 <= width <= _MAX_DIM and 1 <= height <= _MAX_DIM):
        raise ValueError(
            f"width/height must be in 1..{_MAX_DIM}, got {width}x{height}"
        )
    if scale < 1:
        raise ValueError(f"scale must be >= 1, got {scale}")
    if url:
        scheme = urllib.parse.urlsplit(url).scheme.lower()
        if scheme not in url_schemes:
            raise ValueError(
                f"url scheme {scheme!r} not allowed (allowed: {'/'.join(url_schemes)})"
            )
        # stage_url returns a private mkstemp copy — unlink it after the
        # render like the log= temp file (a leak otherwise: one staged
        # copy per request).
        path = stage_url(url)
    elif log:
        fd, path = tempfile.mkstemp(suffix=".txt", prefix="job_history_post_")
        with os.fdopen(fd, "w") as f:
            f.write(log)
    else:
        raise ValueError("missing parameter: url= or log= (job_history.cgi:96-101)")

    try:
        report, render = CHARTS[chart]
        return render(
            report(load_history(spark, path), scale=scale), width=width, height=height
        )
    finally:
        os.unlink(path)


def _parse_multipart(body: bytes, content_type: str) -> dict[str, str]:
    """Minimal ``multipart/form-data`` parser (groovy.cgi:104-121 path):
    each part's ``Content-Disposition: form-data; name=...`` becomes a
    text parameter. Stdlib-only (the ``cgi`` module left the stdlib in
    3.13). Every CGI parameter here (url/log/chart/width/height/scale)
    is text, so parts declaring a non-``text/*`` content-type (a gzipped
    log, an image) raise ``ValueError`` — answered as 400 by the handler
    — instead of being silently utf-8-mangled (r9 advice). Parts with no
    declared type default to ``text/plain`` per RFC 7578 and pass.
    """
    import email.parser
    import email.policy

    head = f"Content-Type: {content_type}\r\nMIME-Version: 1.0\r\n\r\n".encode()
    msg = email.parser.BytesParser(policy=email.policy.HTTP).parsebytes(head + body)
    params: dict[str, str] = {}
    if not msg.is_multipart():
        return params
    for part in msg.iter_parts():
        name = part.get_param("name", header="content-disposition")
        if not name:
            continue
        if part.get_content_maintype() != "text":
            raise ValueError(
                f"multipart part {name!r} has non-text content-type "
                f"{part.get_content_type()!r}; all parameters are text"
            )
        payload = part.get_payload(decode=True) or b""
        params[name] = payload.decode("utf-8", errors="replace")
    return params


def _make_handler(
    spark: SparkSession, url_schemes: tuple[str, ...] = DEFAULT_URL_SCHEMES
) -> type[BaseHTTPRequestHandler]:
    class ChartHandler(BaseHTTPRequestHandler):
        server_version = "hadoop-jobanalyzer-spark/1.0"

        def log_message(self, fmt: str, *args) -> None:  # quiet by default
            if os.environ.get("SPARK_GRAFT_HTTP_LOG"):
                super().log_message(fmt, *args)

        def _params_from_query(self) -> dict[str, str]:
            q = urllib.parse.urlsplit(self.path).query
            return {k: v[0] for k, v in urllib.parse.parse_qs(q).items()}

        def do_GET(self) -> None:  # noqa: N802 (http.server contract)
            params = self._params_from_query()
            if not params and urllib.parse.urlsplit(self.path).path in ("/", ""):
                # convenience landing form (extension; the reference's
                # index.jsp is an unrelated JFreeChart demo scaffold)
                body = (
                    b"<html><body><h3>hadoop job-history charts</h3>"
                    b'<form method="post" action="/job_history">'
                    b'log URL: <input name="url" size="60"> '
                    b'chart: <select name="chart"><option>timeline</option>'
                    b"<option>map</option><option>reduce</option></select> "
                    b'<input type="submit" value="render"></form>'
                    b"<p>or POST the raw log as <code>log=</code> "
                    b"(application/x-www-form-urlencoded).</p></body></html>"
                )
                self.send_response(200)
                self.send_header("Content-Type", "text/html; charset=utf-8")
                self.send_header("Content-Length", str(len(body)))
                self.end_headers()
                self.wfile.write(body)
                return
            self._respond(params)

        def do_POST(self) -> None:  # noqa: N802
            # "parameters are sent via post ... either way"
            # (job_history.cgi:52-56): body params override query params
            params = self._params_from_query()
            n = int(self.headers.get("Content-Length") or 0)
            if n > _MAX_BODY:
                self.send_error(413, "request body too large")
                return
            raw = self.rfile.read(n)
            ctype_full = self.headers.get("Content-Type") or ""
            ctype = ctype_full.split(";")[0].strip().lower()
            if ctype in ("application/x-www-form-urlencoded", ""):
                body = raw.decode("utf-8", errors="replace")
                params.update(
                    {k: v[0] for k, v in urllib.parse.parse_qs(body).items()}
                )
            elif ctype == "multipart/form-data":
                # the CGI's gridauth-compat upload path (groovy.cgi:104-121)
                try:
                    params.update(_parse_multipart(raw, ctype_full))
                except ValueError as exc:
                    self.send_error(400, str(exc))
                    return
            else:
                # raw body = the log itself (curl --data-binary convenience)
                params.setdefault("log", raw.decode("utf-8", errors="replace"))
            self._respond(params)

        def _respond(self, params: dict[str, str]) -> None:
            try:
                png = render_chart_png(
                    spark,
                    url=params.get("url"),
                    log=params.get("log"),
                    chart=params.get("chart", "timeline"),
                    width=int(params.get("width", CHART_DEFAULT_WIDTH)),
                    height=int(params.get("height", CHART_DEFAULT_HEIGHT)),
                    scale=int(params.get("scale", CGI_SCALE)),
                    url_schemes=url_schemes,
                )
            except ValueError as exc:
                self.send_error(400, str(exc))
                return
            except Exception as exc:  # noqa: BLE001 — servlet prints the error
                self.send_error(500, f"{type(exc).__name__}: {exc}")
                return
            self.send_response(200)
            self.send_header("Content-Type", "image/png")
            self.send_header("Content-Length", str(len(png)))
            self.end_headers()
            self.wfile.write(png)

    return ChartHandler


def make_server(
    spark: SparkSession,
    host: str = "127.0.0.1",
    port: int = 0,
    url_schemes: tuple[str, ...] = DEFAULT_URL_SCHEMES,
) -> HTTPServer:
    """Bind (not yet serving) — callers drive ``serve_forever`` themselves
    (tests run it on a thread and ``shutdown()`` it). ``url_schemes``
    widens the ``url=`` allowlist (tests add ``file`` for fixture logs —
    production deployments should not)."""
    return HTTPServer((host, port), _make_handler(spark, url_schemes))


def serve(spark: SparkSession, host: str = "127.0.0.1", port: int = 8080) -> None:
    """Blocking entry point: ``python -m hadoop_jobanalyzer_spark.webapp``."""
    srv = make_server(spark, host, port)
    print(f"serving charts on http://{host}:{srv.server_address[1]}/job_history")
    try:
        srv.serve_forever()
    finally:
        srv.server_close()


if __name__ == "__main__":
    import argparse

    from hadoop_jobanalyzer_spark import get_spark

    ap = argparse.ArgumentParser(description="job-history chart HTTP frontend")
    ap.add_argument("--host", default="127.0.0.1")
    ap.add_argument("--port", type=int, default=8080)
    ap.add_argument("--master", default=None)
    args = ap.parse_args()
    session = get_spark(app_name="job_history_webapp", master=args.master)
    session.sparkContext.setLogLevel("ERROR")
    serve(session, args.host, args.port)
