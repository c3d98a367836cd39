"""CLI smoke: build → status → query → increment → compact via the
spark-submit entry surface (in-process main(), same code path)."""

from __future__ import annotations

import json

import pytest

from sync2any_spark import cli
from sync2any_spark.generator import ensure_transcripts


@pytest.fixture(scope="module")
def paths(tmp_path_factory):
    src = ensure_transcripts("sf0.001")
    idx = str(tmp_path_factory.mktemp("cli_idx"))
    return src, idx


def test_build_query_roundtrip(spark, paths, capsys):
    src, idx = paths
    rc = cli.main(
        ["build", "--input", src, "--index", idx, "--partitions", "8",
         "--buckets", "8", "--heavy-df", "500"]
    )
    assert rc == 0
    summary = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert summary["n_docs"] > 0

    rc = cli.main(["query", "--index", idx, "--query", "ok w0000", "--topk", "5"])
    assert rc == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert len(out["hits"]) == 5
    assert out["hits"][0]["score"] >= out["hits"][-1]["score"]

    rc = cli.main(["status", "--index", idx])
    assert rc == 0
    st = json.loads(capsys.readouterr().out)
    assert st["completed_partitions"] == 8
    assert "build.wall_s" in st["metrics"]


def test_increment_and_compact_roundtrip(spark, paths, tmp_path_factory, capsys):
    """increment → query reflects the change → compact produces a clean
    index answering identically (the CLI ops surface end-to-end)."""
    import datetime

    src, idx = paths
    inc_dir = str(tmp_path_factory.mktemp("cli_inc"))
    ts = datetime.datetime(2026, 8, 2)
    spark.createDataFrame(
        [("conv_cli00001", 0, "user", "climarker fresh insert ok", "", ts, "I")],
        "conv_id string, turn_idx int, role string, text string, tool string, "
        "ts timestamp, op string",
    ).write.mode("overwrite").parquet(inc_dir)

    rc = cli.main(["increment", "--index", idx, "--input", inc_dir])
    assert rc == 0
    summary = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert summary["new_docs"] == 1

    rc = cli.main(["query", "--index", idx, "--query", "climarker", "--topk", "5"])
    assert rc == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert len(out["hits"]) == 1
    assert out["hits"][0]["conv_id"] == "conv_cli00001"

    compacted = str(tmp_path_factory.mktemp("cli_compacted"))
    rc = cli.main(["compact", "--index", idx, "--out", compacted])
    assert rc == 0
    rc = cli.main(["query", "--index", compacted, "--query", "climarker", "--topk", "5"])
    assert rc == 0
    out2 = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert [h["conv_id"] for h in out2["hits"]] == ["conv_cli00001"]


def test_status_reports_latest_run(spark, tmp_path_factory, capsys, monkeypatch):
    """``status`` shows each metric's latest run, not a sum over runs, and
    reads it without starting Spark."""
    import datetime

    src = ensure_transcripts("sf0.001")
    idx = str(tmp_path_factory.mktemp("cli_status_idx"))
    assert cli.main(
        ["build", "--input", src, "--index", idx, "--partitions", "4",
         "--buckets", "4", "--salts", "2", "--heavy-df", "500"]
    ) == 0
    ts = datetime.datetime(2026, 8, 3)
    for i in range(2):
        inc_dir = str(tmp_path_factory.mktemp(f"cli_status_inc{i}"))
        spark.createDataFrame(
            [(f"conv_status{i:05d}", 0, "user", "statusmarker insert", "", ts, "I")],
            "conv_id string, turn_idx int, role string, text string, "
            "tool string, ts timestamp, op string",
        ).write.mode("overwrite").parquet(inc_dir)
        assert cli.main(["increment", "--index", idx, "--input", inc_dir]) == 0
    capsys.readouterr()

    def no_spark(cpus):
        raise AssertionError("status started a SparkSession")

    monkeypatch.setattr(cli, "_spark", no_spark)
    assert cli.main(["status", "--index", idx]) == 0
    st = json.loads(capsys.readouterr().out)
    assert st["meta"]["last_segment"] == 2
    assert st["metrics"]["increment.segment"] == 2
    assert st["metrics"]["increment.new_docs"] == 1
