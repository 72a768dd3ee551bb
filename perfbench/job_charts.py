"""``job_charts``: interactive chart requests against ``webapp.make_server``.

The server runs in a thread of the benchmark process on 127.0.0.1. One
client sends HTTP POST ``log=`` requests in a closed loop (the next
request leaves when the previous answer is in), cycling ``chart=`` over
timeline / map / reduce and the log over a pool of distinct seeded
single-job logs, at the CGI defaults (``scale=100``, 1200x800).

End-to-end: ``op_p50_ms`` / ``op_p80_ms`` are request round trips; with one
third timeline and two thirds Gantt requests, p50 sits in the Gantt mode
and p80 in the timeline mode. ``batch_s`` is the wall time of the first
``MIN_REQUESTS`` requests.
"""

from __future__ import annotations

import http.client
import os
import struct
import threading
import time
import urllib.parse
import zlib
from dataclasses import dataclass

from hadoop_jobanalyzer_spark import operators as ops
from hadoop_jobanalyzer_spark import sinks
from hadoop_jobanalyzer_spark.operators.timeline import timeline_intervals
from hadoop_jobanalyzer_spark.sources import load_history
from hadoop_jobanalyzer_spark.webapp import CGI_SCALE, make_server, render_chart_png

from harness import Context, Result, median_seconds, noop, percentile
from layers import job_history_probe
from loggen import JobShape, generate_job

CHARTS = ("timeline", "map", "reduce")
POOL = 4  # coprime with len(CHARTS): the rotation pairs every log with every chart
MIN_REQUESTS = 6  # two rounds of CHARTS
WIDTH, HEIGHT = 1200, 800  # the CGI defaults the requests rely on
# every pool log has the same task counts, so seeds change content, not size
SHAPE = JobShape(
    min_maps=200, max_maps=200, min_reduces=20, max_reduces=20, slots=48,
    map_s=(10, 60), reduce_s=(30, 120),
)
WARM_SHAPE = JobShape(min_maps=4, max_maps=8, min_reduces=1, max_reduces=2)
PNG_SIGNATURE = b"\x89PNG\r\n\x1a\n"
# chart -> (report frame, renderer, span and per-layer metric of the frame)
FRAMES = {
    "timeline": (ops.timeline, sinks.render_timeline_png, "timeline", "timeline.s"),
    "map": (ops.map_table, sinks.render_map_gantt_png, "history_reports.map_table",
            "history_reports.map_table_s"),
    "reduce": (ops.reduce_table, sinks.render_reduce_gantt_png, "history_reports.reduce_table",
               "history_reports.reduce_table_s"),
}


@dataclass
class Inputs:
    logs: list[str]
    warm_log: str


def make_inputs(ctx: Context) -> Inputs:
    logs = [generate_job(ctx.seed, i, SHAPE)[0] for i in range(POOL)]
    warm = generate_job(ctx.seed + 1_000_003, 0, WARM_SHAPE)[0]
    return Inputs(logs, warm)


class ChartServer:
    """``webapp.make_server`` on an ephemeral port, served from a thread.

    When traced, each request's Spark jobs are tagged with the client's
    current span: the handler runs on the server thread, whose job
    description the client thread cannot set.
    """

    def __init__(self, spark, tracer) -> None:
        self.server = make_server(spark)
        if tracer.active:
            base = self.server.RequestHandlerClass

            class Tagged(base):
                def handle(self) -> None:
                    spark.sparkContext.setJobDescription(tracer.current)
                    super().handle()

            self.server.RequestHandlerClass = Tagged
        self.port = self.server.server_address[1]
        self.thread = threading.Thread(target=self.server.serve_forever, daemon=True)
        self.thread.start()

    def post(self, log: str, chart: str) -> tuple[int, str, bytes]:
        body = urllib.parse.urlencode({"log": log, "chart": chart})
        conn = http.client.HTTPConnection("127.0.0.1", self.port, timeout=120)
        try:
            conn.request(
                "POST", "/job_history", body,
                {"Content-Type": "application/x-www-form-urlencoded"},
            )
            resp = conn.getresponse()
            return resp.status, resp.getheader("Content-Type", ""), resp.read()
        finally:
            conn.close()

    def close(self) -> None:
        self.server.shutdown()
        self.server.server_close()
        self.thread.join(timeout=30)


def png_problem(status: int, ctype: str, body: bytes) -> str | None:
    """Why a response is not a valid 1200x800 chart, or None if it is."""
    if status != 200 or ctype != "image/png":
        return f"status {status} {ctype}: {body[:200]!r}"
    if body[:8] != PNG_SIGNATURE or body[12:16] != b"IHDR":
        return "missing PNG signature or IHDR"
    width, height = struct.unpack(">II", body[16:24])
    if (width, height) != (WIDTH, HEIGHT):
        return f"size {width}x{height}"
    idat = body.find(b"IDAT")
    (n,) = struct.unpack(">I", body[idat - 4: idat])
    pixels = zlib.decompress(body[idat + 4: idat + 4 + n])
    if len(pixels) != HEIGHT * (1 + 3 * WIDTH):
        return "IDAT size"
    if pixels.count(b"\xff") > len(pixels) - HEIGHT - 3:
        return "blank chart"
    return None


class Workload:
    def __init__(self, ctx: Context) -> None:
        self.ctx, self.inp, self.server = ctx, make_inputs(ctx), None

    def prepare(self, spark) -> None:
        """A chart server on the new session (the previous one is closed)."""
        self.close()
        self.server = ChartServer(spark, self.ctx.tracer)

    def warm_up(self, spark) -> None:
        """One request of each chart type on a small log."""
        with self.ctx.tracer.span("setup.warm_up"):
            for chart in CHARTS:
                problem = png_problem(*self.server.post(self.inp.warm_log, chart))
                if problem:
                    raise RuntimeError(f"warm-up {chart} request failed: {problem}")

    def measure(self, spark, res: Result) -> dict[str, float]:
        """The request loop; every response is checked as it arrives,
        outside the timed round trip."""
        tr = self.ctx.tracer
        latencies, first_s = [], 0.0
        with tr.span("measure"):
            deadline = time.perf_counter() + self.ctx.seconds
            i = 0
            # whole rounds only, so the chart mix stays one third each
            while i < MIN_REQUESTS or i % len(CHARTS) or time.perf_counter() < deadline:
                chart, log = CHARTS[i % len(CHARTS)], self.inp.logs[i % POOL]
                res.attempted += 1
                with tr.span(f"webapp.request.{chart}", op=tr.new_op()):
                    t = time.perf_counter()
                    try:
                        status, ctype, body = self.server.post(log, chart)
                    except OSError as exc:
                        status, ctype, body = 0, "", repr(exc).encode()
                    dt = time.perf_counter() - t
                problem = png_problem(status, ctype, body)
                if problem:
                    res.failed += 1
                    res.problems.append(f"request {i} chart={chart}: {problem}")
                else:
                    latencies.append(dt)
                i += 1
                if i <= MIN_REQUESTS:
                    first_s += dt
        res.metrics.update(
            batch_s=first_s,
            op_p50_ms=percentile(latencies, 50) * 1000,
            op_p80_ms=percentile(latencies, 80) * 1000,
        )
        res.detail["request_s"] = latencies
        return {}

    def probe(self, spark) -> dict[str, float]:
        """Decompose a request into the public calls the webapp makes:
        parse, report frame, raster, library call, HTTP."""
        ctx, tr, log = self.ctx, self.ctx.tracer, self.inp.logs[0]
        log_path = ctx.path("probe_log.txt")
        with open(log_path, "w") as f:
            f.write(log)
        out = job_history_probe(ctx, spark, log_path, 1, len(log.encode()))

        views = load_history(spark, log_path)
        self_s, rows, png_bytes = {}, 0, 0
        for chart, (report, render, span, metric) in FRAMES.items():
            frame = report(views, scale=CGI_SCALE)
            noop(frame)  # the first run plans and compiles; time the next ones
            forced = median_seconds(tr, span, lambda: noop(frame))
            png = ctx.path(f"probe_{chart}.png")
            drawn = median_seconds(
                tr, f"sinks.render.{chart}",
                lambda: render(frame, png, width=WIDTH, height=HEIGHT),
            )
            out[metric] = forced
            self_s[chart] = drawn - forced
            rows += frame.count()
            png_bytes += os.path.getsize(png)
        out["sinks.render_timeline_png_self_s"] = self_s["timeline"]
        out["sinks.render_gantt_png_self_s"] = (self_s["map"] + self_s["reduce"]) / 2
        out["sinks.rows_collected"] = rows
        out["sinks.png_bytes"] = png_bytes
        out["timeline.intervals"] = timeline_intervals(views, scale=CGI_SCALE).count()
        out["timeline.spine_rows"] = ops.timeline(views, scale=CGI_SCALE).count()

        library = []
        for chart in CHARTS:
            with tr.span(f"webapp.render_chart_png.{chart}") as lib:
                render_chart_png(spark, log=log, chart=chart)
            library.append(lib.seconds)
        out["webapp.render_chart_png_s"] = sum(library) / len(library)
        # The HTTP layer's own cost: a request the webapp rejects (unknown
        # chart) after receiving the log, parsing the form and staging the
        # log to a file, i.e. everything a chart request pays but the chart.
        overhead = []
        for _ in range(5):
            with tr.span("webapp.request.rejected") as rt:
                status, _, _ = self.server.post(log, "none")
            if status == 400:
                overhead.append(rt.seconds)
        out["webapp.http_overhead_ms"] = percentile(overhead, 50) * 1000
        return out

    def close(self) -> None:
        if self.server is not None:
            self.server.close()
            self.server = None
