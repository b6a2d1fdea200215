"""Report sink tests (reference report_test.go / generator_test.go shapes)."""

from __future__ import annotations


def test_report_thresholds_and_exit_code(spark):
    from otlp_cardinality_checker_spark.report import generate_report

    rows = [
        ("chat", "low", 100, 5),
        ("chat", "warny", 5000, 1500),
        ("chat", "crit", 50000, 20000),
    ]
    df = spark.createDataFrame(
        rows, "sink string, key string, count long, est_cardinality long"
    )
    rep = generate_report(df)
    levels = {e["key"]: e["level"] for e in rep.entries}
    assert levels == {"low": "ok", "warny": "warning", "crit": "critical"}
    assert rep.n_warning == 1 and rep.n_critical == 1
    assert rep.exit_code == 1
    assert "CARDINALITY REPORT" in rep.to_text()
    assert '"exit_code": 1' in rep.to_json()

    rep_ok = generate_report(df, warn=10**6, critical=10**7)
    assert rep_ok.exit_code == 0


def test_report_ordering_and_limit(spark):
    from otlp_cardinality_checker_spark.report import generate_report

    rows = [("chat", f"k{i}", 10, i * 100) for i in range(20)]
    df = spark.createDataFrame(
        rows, "sink string, key string, count long, est_cardinality long"
    )
    rep = generate_report(df, limit=5)
    cards = [e["est_cardinality"] for e in rep.entries]
    assert cards == sorted(cards, reverse=True)
    assert len(rep.entries) == 5


def test_cli_clear_refuses_non_state_dirs(tmp_path, capsys):
    """`clear` is the admin/clear analogue (server.go:219): it must drop
    real pipeline-state dirs and refuse anything else without --force."""
    from otlp_cardinality_checker_spark.__main__ import main

    state = tmp_path / "out"
    (state / "agg_state").mkdir(parents=True)
    (state / "lineage").mkdir()
    precious = tmp_path / "homework"
    (precious / "essay").mkdir(parents=True)

    assert main(["clear", str(state)]) == 0
    assert not state.exists()

    assert main(["clear", str(precious)]) == 1
    assert precious.exists()  # refused: no state markers

    assert main(["clear", str(precious), "--force"]) == 0
    assert not precious.exists()

    # a stream's sink table alone is state too
    sinks_only = tmp_path / "sinks_only"
    (sinks_only / "sinks" / "_batch_id=0").mkdir(parents=True)
    assert main(["clear", str(sinks_only)]) == 0
    assert not sinks_only.exists()

    # missing dirs are a no-op, not an error
    assert main(["clear", str(tmp_path / "nope")]) == 0


def test_cli_clear_requires_registry_shape_not_bare_meta_json(tmp_path):
    """A child dir containing only meta.json (common in the wild: editor
    extensions, dataset folders) must NOT count as pipeline state; the
    session-registry marker requires meta.json AND data/ together. A plain
    file target is refused cleanly, not crashed on."""
    from otlp_cardinality_checker_spark.__main__ import main

    look_alike = tmp_path / "extensions"
    (look_alike / "some.ext").mkdir(parents=True)
    (look_alike / "some.ext" / "meta.json").write_text("{}")
    assert main(["clear", str(look_alike)]) == 1
    assert look_alike.exists()

    registry = tmp_path / "registry"
    (registry / "sess1" / "data").mkdir(parents=True)
    (registry / "sess1" / "meta.json").write_text("{}")
    assert main(["clear", str(registry)]) == 0
    assert not registry.exists()

    f = tmp_path / "afile.txt"
    f.write_text("hi")
    assert main(["clear", str(f), "--force"]) == 1
    assert f.exists()


def test_cli_clear_refuses_symlinked_state_dir(tmp_path):
    """A symlink to a real state dir passes is_dir(); clearing through it
    must be a clean refusal (rc=1), never an rmtree OSError traceback, and
    the link target must survive."""
    from otlp_cardinality_checker_spark.__main__ import main

    state = tmp_path / "out"
    (state / "agg_state").mkdir(parents=True)
    link = tmp_path / "link_to_out"
    link.symlink_to(state)

    assert main(["clear", str(link), "--force"]) == 1
    assert state.exists() and (state / "agg_state").exists()
    assert link.is_symlink()


def test_cli_sessions_missing_args_clean_error(capsys):
    from otlp_cardinality_checker_spark.__main__ import main

    assert main(["sessions", "export", "--name", "x"]) == 2  # no --out
    assert "requires --out" in capsys.readouterr().err
    assert main(["sessions", "import"]) == 2  # no --bundle
    assert "requires --bundle" in capsys.readouterr().err
    assert main(["sessions", "save"]) == 2  # no --name


def test_cli_card_and_search(spark, capsys, monkeypatch):
    """The card and search subcommands print valid JSON with the
    expected shapes."""
    import json

    from otlp_cardinality_checker_spark.__main__ import main

    sf = "/root/testdata/sf0.001"
    assert main(["--sf-dir", sf, "--cores", "4", "card"]) == 0
    card = json.loads(capsys.readouterr().out)
    assert {r["section"] for r in card} >= {"volume", "lang", "length"}

    assert (
        main(
            ["--sf-dir", sf, "--cores", "4", "search",
             "--query", "hash join merge", "-k", "3"]
        )
        == 0
    )
    hits = json.loads(capsys.readouterr().out)
    assert hits and all(r["rank"] <= 3 for r in hits)
    assert hits[0]["score"] >= hits[-1]["score"]


def test_cli_dedup(spark, capsys):
    """The dedup subcommand prints the one-call audit with conserved
    document counts and a bounded duplicated-token fraction."""
    import json

    from otlp_cardinality_checker_spark.__main__ import main

    sf = "/root/testdata/sf0.001"
    assert main(["--sf-dir", sf, "--cores", "4", "dedup"]) == 0
    out = json.loads(capsys.readouterr().out)
    assert out["n_docs"] == 500
    assert out["distinct_texts"] + out["redundant_copies"] == 500
    assert 0.0 <= out["dup_token_frac"] <= 1.0
    assert "near_dup_pairs" not in out  # only with --near
