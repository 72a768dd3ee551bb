"""CLI parity with the reference's bin/job_history flags."""

import os

import pytest

from hadoop_jobanalyzer_spark.__main__ import build_parser, main


def test_cli_map_table_golden(capsys, fixture_log1, spark):
    assert main(["-m", "-i", fixture_log1, "-d", " "]) == 0
    out = capsys.readouterr().out.strip().splitlines()
    assert len(out) == 512
    # golden row from vis/grap/map.d (same space-delimited format)
    assert out[0] == "task_201010291643_0125_m_000000 1289542284 1289551128 8843 1"


def test_cli_summary(capsys, fixture_log1, spark):
    assert main(["-s", "-i", fixture_log1]) == 0
    out = capsys.readouterr().out.strip().splitlines()
    assert len(out) == 1
    fields = out[0].split(", ")
    assert fields[0] == "job_201010291643_0125"
    assert "9450.6328125" in fields  # avg map len (README:26)


def test_cli_timeline_default_mode(capsys, fixture_log2, spark):
    assert main(["-i", fixture_log2]) == 0
    out = capsys.readouterr().out.strip().splitlines()
    # t=0..range inclusive rows, 6 columns each
    assert len(out) > 30000
    assert all(len(line.split(", ")) == 6 for line in out[:100])


def test_cli_mutually_exclusive_modes():
    parser = build_parser()
    try:
        parser.parse_args(["-s", "-m"])
        raised = False
    except SystemExit:
        raised = True
    assert raised


def test_cli_require_success_skips_failed_job(capsys, spark):
    """--require-success drops non-SUCCESS jobs (reference -s bail-out,
    bin/job_history:384-386); default computes them anyway."""
    import os

    failed = os.path.join(os.path.dirname(__file__), "data", "failed_log.txt")
    assert main(["-s", "-i", failed]) == 0
    assert len(capsys.readouterr().out.strip().splitlines()) == 1
    assert main(["-s", "-i", failed, "--require-success"]) == 0
    assert capsys.readouterr().out.strip() == ""


def test_cli_require_success_mixed_dir(capsys, spark, tmp_path):
    """In a directory with one SUCCESS and one FAILED job, only the SUCCESS
    job survives the filter — tasks/attempts views included."""
    import os
    import shutil

    from hadoop_jobanalyzer_spark.sources import load_history
    from hadoop_jobanalyzer_spark.sources.job_history import filter_success

    data = os.path.join(os.path.dirname(__file__), "data")
    for name in ("tiny_log.txt", "failed_log.txt"):
        shutil.copy(os.path.join(data, name), tmp_path / name)
    views = filter_success(load_history(spark, str(tmp_path / "*")))
    assert [r["jobid"] for r in views.jobs.collect()] == ["job_202001010000_0001"]
    assert views.tasks.filter("jobid = 'job_202001010000_0002'").count() == 0
    assert views.attempts.filter("jobid = 'job_202001010000_0002'").count() == 0


def test_cli_fleet_rollup(capsys, fixture_log1, fixture_log2, spark):
    d = fixture_log1.rsplit("/", 1)[0]
    assert main(["--fleet", "-i", f"{d}/*"]) == 0
    out = capsys.readouterr().out.strip().splitlines()
    assert len(out) == 2  # two users across the two fixture jobs
    users = {line.split(", ")[0] for line in out}
    assert users == {"kbhatia", "hadoop"}


def test_cli_list_queries(capsys):
    assert main(["--list-queries"]) == 0
    out = capsys.readouterr().out.strip().splitlines()
    assert "q01_pricing_summary" in out and len(out) >= 150


def test_cli_query_mode(capsys, spark, sf_dir):
    assert main(["--query", "q142_benford_order_values", "--sf-dir", sf_dir, "-d", " "]) == 0
    out = capsys.readouterr().out.strip().splitlines()
    assert out and all(line.split(" ")[0] in "123456789" for line in out)


def test_cli_sql_mode(capsys, spark, sf_dir):
    assert (
        main(
            [
                "--sql",
                "SELECT o_orderstatus, COUNT(*) AS n FROM orders "
                "GROUP BY 1 ORDER BY 1",
                "--sf-dir",
                sf_dir,
            ]
        )
        == 0
    )
    out = capsys.readouterr().out.strip().splitlines()
    assert [line.split(", ")[0] for line in out] == ["F", "O", "P"]


def test_cli_unknown_query_errors(capsys, spark, sf_dir):
    assert main(["--query", "q999_nope", "--sf-dir", sf_dir]) == 2


def test_cli_explain_mode(capsys, spark, sf_dir):
    assert main(["--explain", "q02_shipping_priority", "--sf-dir", sf_dir]) == 0
    out = capsys.readouterr().out
    assert "Physical Plan" in out
    summary = out.strip().splitlines()[-1]
    assert summary.startswith("summary: exchanges=")
    assert "scans_with_pushed_filters=" in summary
    assert "CARTESIAN" not in summary


def test_cli_explain_unknown_query_errors(capsys, spark, sf_dir):
    assert main(["--explain", "q999_nope", "--sf-dir", sf_dir]) == 2


def test_cli_png_modes(capsys, tmp_path, fixture_log1, spark):
    """--png renders -t as the stacked chart and -m/-r as Gantt charts;
    non-chart modes reject it."""
    import struct

    for args in (["-m"], ["-r"], ["-t"]):
        out = str(tmp_path / f"{args[0].strip('-')}.png")
        assert main([*args, "-i", fixture_log1, "--png", out]) == 0
        capsys.readouterr()
        with open(out, "rb") as f:
            data = f.read()
        assert data[:8] == b"\x89PNG\r\n\x1a\n"
        assert struct.unpack(">II", data[16:24]) == (1200, 800)
    assert main(["-s", "-i", fixture_log1, "--png", str(tmp_path / "s.png")]) == 2
    # -s and -m are mutually exclusive in argparse, so -s -m --png is a
    # usage error at parse time — never an AnalysisException from feeding
    # the summary frame to the map-Gantt renderer (ADVICE r8)
    with pytest.raises(SystemExit) as ei:
        main(["-s", "-m", "-i", fixture_log1, "--png", str(tmp_path / "sm.png")])
    assert ei.value.code == 2


TINY = os.path.join(os.path.dirname(__file__), "data", "tiny_log.txt")


@pytest.mark.parametrize("mode,chart", [("-t", "timeline"), ("-m", "map"), ("-r", "reduce")])
def test_cli_png_matches_webapp_chart(capsys, tmp_path, spark, mode, chart):
    """The CLI's --png and the webapp render one chart table: same log,
    same scale, same bytes."""
    from hadoop_jobanalyzer_spark.webapp import render_chart_png

    out = tmp_path / f"{chart}.png"
    assert main([mode, "-i", TINY, "--png", str(out)]) == 0
    capsys.readouterr()
    with open(TINY) as f:
        log = f.read()
    want = render_chart_png(spark, log=log, chart=chart, scale=1000)
    assert out.read_bytes() == want


def test_cli_unlinks_staged_input(capsys, tmp_path, monkeypatch, spark):
    """stdin (-i -) and URL inputs are staged to temp files; neither copy
    outlives the run."""
    import io
    import tempfile
    from pathlib import Path

    with open(TINY) as f:
        log = f.read()
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    monkeypatch.setattr("sys.stdin", io.StringIO(log))
    assert main(["-s", "-i", "-"]) == 0
    assert main(["-s", "-i", Path(TINY).as_uri()]) == 0
    out = capsys.readouterr().out.strip().splitlines()
    assert len(out) == 2 and out[0] == out[1]
    assert out[0].startswith("job_202001010000_0001, tiny\\.job, alice, SUCCESS")
    assert list(tmp_path.glob("job_history_*")) == []
