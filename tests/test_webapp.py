"""HTTP chart frontend — the ``job_history.cgi`` analog (webapp.py).

The reference servlet accepts ``url=`` or ``log=`` "either query or
post, either way" (job_history.cgi:52-56,96-101) and answers
``image/png`` with the stacked concurrency chart. These tests drive the
real socket server end-to-end on a background thread.
"""

import struct
import threading
import urllib.error
import urllib.parse
import urllib.request
from pathlib import Path

import pytest

from hadoop_jobanalyzer_spark.webapp import make_server


@pytest.fixture(scope="module")
def server(spark):
    # file:// widened explicitly — fixture logs live on disk; the
    # production default is http/https only (SSRF hardening).
    srv = make_server(spark, url_schemes=("http", "https", "file"))
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    yield f"http://127.0.0.1:{srv.server_address[1]}"
    srv.shutdown()
    srv.server_close()
    t.join(timeout=10)


@pytest.fixture(scope="module")
def strict_server(spark):
    # default allowlist: http/https only
    srv = make_server(spark)
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    yield f"http://127.0.0.1:{srv.server_address[1]}"
    srv.shutdown()
    srv.server_close()
    t.join(timeout=10)


def _assert_png(resp, width, height):
    assert resp.status == 200
    assert resp.headers["Content-Type"] == "image/png"
    data = resp.read()
    assert data[:8] == b"\x89PNG\r\n\x1a\n"
    w, h = struct.unpack(">II", data[16:24])
    assert (w, h) == (width, height)
    return data


def test_get_url_param_serves_timeline_png(server, fixture_log1):
    q = urllib.parse.urlencode(
        {"url": Path(fixture_log1).as_uri(), "width": 200, "height": 100}
    )
    with urllib.request.urlopen(f"{server}/job_history?{q}", timeout=300) as resp:
        _assert_png(resp, 200, 100)


def test_post_log_param_serves_timeline_png(server, fixture_log1):
    body = urllib.parse.urlencode(
        {
            "log": Path(fixture_log1).read_text(),
            "width": 150,
            "height": 80,
        }
    ).encode()
    req = urllib.request.Request(
        f"{server}/job_history",
        data=body,
        headers={"Content-Type": "application/x-www-form-urlencoded"},
    )
    with urllib.request.urlopen(req, timeout=300) as resp:
        data = _assert_png(resp, 150, 80)
    assert len(data) > 100  # non-trivial raster


def test_gantt_chart_params(server, fixture_log1):
    base = {"url": Path(fixture_log1).as_uri(), "width": 100, "height": 64}
    for chart in ("map", "reduce"):
        q = urllib.parse.urlencode({**base, "chart": chart})
        with urllib.request.urlopen(f"{server}/job_history?{q}", timeout=300) as resp:
            _assert_png(resp, 100, 64)


def test_missing_params_is_400(server):
    with pytest.raises(urllib.error.HTTPError) as ei:
        urllib.request.urlopen(f"{server}/job_history", timeout=60)
    assert ei.value.code == 400


def test_unknown_chart_is_400(server, fixture_log1):
    q = urllib.parse.urlencode(
        {"url": Path(fixture_log1).as_uri(), "chart": "pie"}
    )
    with pytest.raises(urllib.error.HTTPError) as ei:
        urllib.request.urlopen(f"{server}/job_history?{q}", timeout=60)
    assert ei.value.code == 400


def test_file_url_rejected_by_default(strict_server, fixture_log1):
    # SSRF hardening: the default allowlist is http/https; file:// (and
    # any internal-scheme fetch) must answer 400, unlike the reference
    # CGI which fetches url= verbatim.
    q = urllib.parse.urlencode({"url": Path(fixture_log1).as_uri()})
    with pytest.raises(urllib.error.HTTPError) as ei:
        urllib.request.urlopen(f"{strict_server}/job_history?{q}", timeout=60)
    assert ei.value.code == 400


def test_oversize_dimensions_rejected(server, fixture_log1):
    base = {"url": Path(fixture_log1).as_uri()}
    for bad in ({"width": 100000}, {"height": 0}, {"width": -5}, {"scale": 0}):
        q = urllib.parse.urlencode({**base, **bad})
        with pytest.raises(urllib.error.HTTPError) as ei:
            urllib.request.urlopen(f"{server}/job_history?{q}", timeout=60)
        assert ei.value.code == 400, bad


def test_multipart_post_serves_png(server, fixture_log1):
    # groovy.cgi:104-121 gridauth-compat path: the log arrives as a
    # multipart/form-data file part.
    boundary = "hjaBoundary1234567890"
    log_bytes = Path(fixture_log1).read_bytes()

    def part(name, value, filename=None):
        disp = f'form-data; name="{name}"'
        if filename:
            disp += f'; filename="{filename}"'
        head = (
            f"--{boundary}\r\nContent-Disposition: {disp}\r\n\r\n"
        ).encode()
        return head + value + b"\r\n"

    body = (
        part("log", log_bytes, filename="job.log")
        + part("width", b"120")
        + part("height", b"90")
        + f"--{boundary}--\r\n".encode()
    )
    req = urllib.request.Request(
        f"{server}/job_history",
        data=body,
        headers={"Content-Type": f"multipart/form-data; boundary={boundary}"},
    )
    with urllib.request.urlopen(req, timeout=300) as resp:
        _assert_png(resp, 120, 90)


def test_multipart_binary_part_rejected_400(server, fixture_log1):
    # a gzipped log part must answer 400 (r9 advice), not be silently
    # utf-8-mangled into an unparseable "log" parameter
    import gzip

    boundary = "hjaBoundary1234567890"
    gz = gzip.compress(Path(fixture_log1).read_bytes())
    body = (
        (
            f"--{boundary}\r\n"
            f'Content-Disposition: form-data; name="log"; filename="job.log.gz"\r\n'
            f"Content-Type: application/gzip\r\n\r\n"
        ).encode()
        + gz
        + f"\r\n--{boundary}--\r\n".encode()
    )
    req = urllib.request.Request(
        f"{server}/job_history",
        data=body,
        headers={"Content-Type": f"multipart/form-data; boundary={boundary}"},
    )
    with pytest.raises(urllib.error.HTTPError) as ei:
        urllib.request.urlopen(req, timeout=60)
    assert ei.value.code == 400
    assert "non-text" in ei.value.reason


def test_url_staged_copy_is_cleaned_up(server, fixture_log1, tmp_path):
    # the staged url= copy must be unlinked after the render (ADVICE r8:
    # one leaked temp file per request otherwise)
    import glob
    import tempfile

    pattern = f"{tempfile.gettempdir()}/job_history_*"
    before = set(glob.glob(pattern))
    q = urllib.parse.urlencode(
        {"url": Path(fixture_log1).as_uri(), "width": 64, "height": 48}
    )
    with urllib.request.urlopen(f"{server}/job_history?{q}", timeout=300) as resp:
        _assert_png(resp, 64, 48)
    leaked = set(glob.glob(pattern)) - before
    assert not leaked, f"request leaked staged files: {leaked}"


def test_root_serves_landing_form(server):
    with urllib.request.urlopen(f"{server}/", timeout=60) as resp:
        assert resp.status == 200
        assert resp.headers["Content-Type"].startswith("text/html")
        body = resp.read().decode()
    assert 'action="/job_history"' in body and 'name="url"' in body


def test_render_chart_png_stages_only_the_posted_log(spark, tmp_path, monkeypatch):
    """The chart is answered from memory: per request the only temp file
    is the staged ``log=`` copy, and it is gone afterwards."""
    import tempfile

    from hadoop_jobanalyzer_spark.webapp import CHARTS, render_chart_png

    log = (Path(__file__).parent / "data" / "tiny_log.txt").read_text()
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    staged = []
    mkstemp = tempfile.mkstemp

    def spy(*args, **kw):
        staged.append(kw.get("prefix"))
        return mkstemp(*args, **kw)

    monkeypatch.setattr(tempfile, "mkstemp", spy)
    for chart in CHARTS:
        png = render_chart_png(spark, log=log, chart=chart, width=40, height=30)
        assert png[:8] == b"\x89PNG\r\n\x1a\n"
    assert staged == ["job_history_post_"] * len(CHARTS)
    assert list(tmp_path.iterdir()) == []
