"""spark-submit --py-files packaging sanity."""

from __future__ import annotations

import subprocess
import sys
from pathlib import Path

SCRIPTS = Path(__file__).resolve().parent.parent / "scripts"


def test_pyfiles_zip_is_self_contained(tmp_path):
    sys.path.insert(0, str(SCRIPTS))
    import importlib

    package = importlib.import_module("package")
    zip_path = package.build(tmp_path)
    # import the package from the zip alone (as executors would)
    code = (
        f"import sys; sys.path.insert(0, {str(zip_path)!r}); "
        "import otlp_cardinality_checker_spark as p; "
        "from otlp_cardinality_checker_spark.functions.masking import template_of; "
        "assert template_of('took 15ms') == 'took <DURATION>'; "
        "print('zip-import-ok')"
    )
    res = subprocess.run(
        [sys.executable, "-c", code],
        capture_output=True,
        text=True,
        cwd=str(tmp_path),  # away from the repo so the zip must resolve
        timeout=60,
    )
    assert res.returncode == 0, res.stderr
    assert "zip-import-ok" in res.stdout


import os
import shutil

import pytest


@pytest.mark.skipif(
    shutil.which("spark-submit") is None
    and not os.path.exists("/opt/spark/bin/spark-submit"),
    reason="spark-submit not on this host",
)
def test_spark_submit_pyfiles_end_to_end(tmp_path):
    """The north-rule deployment shape, actually executed: spark-submit
    --py-files <zip> scripts/submit_job.py runs the full pipeline in a
    SEPARATE JVM/app with the package resolved from the zip alone, and its
    key_stats output must match the canonical aggregate (13 keys at
    sf0.001, positive turn count)."""
    import json

    from otlp_cardinality_checker_spark.datagen import DATA_ROOT

    sys.path.insert(0, str(SCRIPTS))
    import importlib

    package = importlib.import_module("package")
    zip_path = package.build(tmp_path)
    submit = shutil.which("spark-submit") or "/opt/spark/bin/spark-submit"
    out = tmp_path / "out"
    res = subprocess.run(
        [
            submit,
            "--master", "local[4]",
            "--conf", "spark.ui.enabled=false",
            "--conf", "spark.sql.shuffle.partitions=8",
            "--py-files", str(zip_path),
            str(SCRIPTS / "submit_job.py"),
            "--sf-dir", "/root/testdata/sf0.001",
            "--out", str(out),
        ],
        capture_output=True,
        text=True,
        cwd=str(tmp_path),  # away from the repo: only the zip ships
        # the zip holds no directory for generated data: use this checkout's
        env={**os.environ, "SPARK_GRAFT_DATA_ROOT": str(DATA_ROOT)},
        timeout=300,
    )
    assert res.returncode == 0, res.stderr[-3000:]
    marker = [l for l in res.stdout.splitlines() if l.startswith("RESULT ")]
    assert marker, res.stdout[-2000:]
    rows = [
        json.loads(l)
        for l in (out / "key_stats.jsonl").read_text().splitlines()
    ]
    assert len(rows) == 13  # the canonical sf0.001 key-stats grain
    assert f"keys={len(rows)}" in marker[0]
    assert int(marker[0].split("turns=")[1].split()[0]) > 0
