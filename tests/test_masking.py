"""Golden masking/template tests.

Inputs mirror the reference's own golden corpus
(`/root/reference/internal/patterns/patterns_test.go`,
`pkg/autotemplate/miner_test.go`), re-targeted at this engine's documented
semantics (whitespace tokenization, added ISO-timestamp + trailing-digit-id
masks — see functions/masking.py docstring).
"""

from __future__ import annotations

import pytest

from otlp_cardinality_checker_spark.functions.masking import (
    is_variable_token,
    mask_text,
    template_of,
)
from otlp_cardinality_checker_spark.functions.severity import severity_of

GOLDEN_TEMPLATES = [
    (
        'INFO [2026-01-01 00:05:09] user user_42 logged in from 10.0.3.77',
        "INFO [<TIMESTAMP>] user user_<*> logged in from <IP>",
    ),
    (
        "ERROR failed to connect to database server db-prod-07 after 3 retries",
        "ERROR failed to connect to database server db-prod-<*> after <*> retries",
    ),
    (
        '"GET /api/v1/users/99/orders HTTP/1.1" 200 5123',
        "GET <URI> <STATUSCODE> <*>",
    ),
    (
        "DEBUG cache hit for key user:session:deadbeefdeadbeef",
        "DEBUG cache hit for key user:session:<ID>",
    ),
    (
        "payment gateway timeout for transaction txn_0123456789ab after 250ms",
        "payment gateway timeout for transaction txn_<ID> after <DURATION>",
    ),
    (
        "WARN rate limit exceeded for client 192.168.4.20 endpoint /api/v1/search?q=77",
        "WARN rate limit exceeded for client <IP> endpoint /api/v<*>/search",
    ),
    (
        "tool_call name=tool_3 args_len=9 trace_id=9e3779b1-0003-4005-8007-000043f41c39",
        "tool_call name=tool_<*> args_len=<*> trace_id=<ID>",
    ),
    ("", ""),
    # reference patterns_test.go-style cases
    (
        "request finished in 123ms with 45.2MB",
        "request finished in <DURATION> with <SIZE>",
    ),
    (
        "user alice@example.com logged out",
        "user <EMAIL> logged out",
    ),
    (
        'referrer "https://shop.example.com/cart" ignored',
        "referrer <URL> ignored",
    ),
    (
        "GET /api/v1/users/123/orders completed",
        "GET /api/v<*>/<PATH> completed",
    ),
]


@pytest.mark.parametrize("raw,expected", GOLDEN_TEMPLATES)
def test_golden_template(raw, expected):
    assert template_of(raw) == expected


def test_mask_uuid_before_hex():
    out = mask_text("id 9e3779b1-0003-4005-8007-000043f41c39 raw deadbeefcafe")
    assert out == "id <ID> raw <ID>"


def test_query_string_stripped():
    assert "q=" not in mask_text("GET /s?q=abc&page=2 done")


@pytest.mark.parametrize(
    "tok,expected",
    [
        ("123", True),
        ("-42", True),
        ("3.14", True),
        ("2025-09-01T05", True),
        ("05:39:27.100Z", True),
        ("deadbeef", True),
        ("10.0.0.1", True),
        ("49436Z", True),  # >=60% digits
        ("45ms", True),
        ("200KB", True),
        ("hello", False),
        ("user", False),
        ("a" * 30, True),  # pure hex >= 8 chars (tokenize.go hex rule)
        ("z" * 31, True),  # long-token collapse (> 30 chars)
        ("z" * 30, False),
        ("", False),
        ("db-prod", False),
    ],
)
def test_variable_token_heuristics(tok, expected):
    # mirrors reference tokenize.go:31-152 rule table
    assert is_variable_token(tok) is expected


@pytest.mark.parametrize(
    "body,expected",
    [
        ("something ERROR happened", "ERROR"),
        ("Warning: disk low", "WARN"),
        ("info: started", "INFO"),
        ("debugging session", "DEBUG"),
        ("all quiet", "UNSET"),
        ("", "UNSET"),
        ("error and warn both", "ERROR"),  # priority order
    ],
)
def test_severity_inference(body, expected):
    # mirrors reference logs.go:51-65 + logs_enrichment_test.go
    assert severity_of(body) == expected


def test_collapse_consecutive_wildcards():
    assert template_of("took 1 2 3 done") == "took <*> done"


# ---------------------------------------------------------------------------
# SQL + service-method masks (reference patterns.go:176-215, goldens
# patterns_test.go:117-164 re-targeted at the full chain of this engine).
# ---------------------------------------------------------------------------

SQL_GOLDENS = [
    (
        "db/query: SELECT FROM users WHERE id = ?",
        "db/query: SELECT FROM users <WHERE>",
    ),
    (
        "db/query: SELECT id, name FROM users WHERE active = 1",
        "db/query: SELECT id, name FROM users <WHERE>",
    ),
    (
        "db/query: DELETE FROM sessions WHERE userId = ?",
        "db/query: DELETE FROM sessions <WHERE>",
    ),
    (
        "db/query: UPDATE products SET stock = ? WHERE id = ?",
        "db/query: UPDATE products <SET>",
    ),
    (
        "db/query: INSERT INTO orders VALUES (...)",
        "db/query: INSERT INTO orders <VALUES>",
    ),
]

SERVICE_METHOD_GOLDENS = [
    ("user-service/resetPassword", "user-service/<METHOD>"),
    ("user-service/getUserProfile", "user-service/<METHOD>"),
    ("order-service/createOrder", "order-service/<METHOD>"),
    ("cache/get", "cache/<METHOD>"),
    ("db/query", "db/<METHOD>"),
]


@pytest.mark.parametrize("raw,expected", SQL_GOLDENS + SERVICE_METHOD_GOLDENS)
def test_sql_and_service_method_masks(raw, expected):
    assert mask_text(raw) == expected
    # the masked form is all-literal tokens: template == masked form
    assert template_of(raw) == expected


def test_service_method_does_not_eat_http_lines(): 
    # ref patterns_test.go:100-103: HTTP verb+path lines must not match the
    # anchored service/method pattern (they are handled by http_path).
    # (v1 -> v<*> is this engine's documented trailing_num_id deviation)
    assert mask_text("GET /api/v1/users") == "GET /api/v<*>/<PATH>"
    assert "<METHOD>" not in mask_text("POST /api/v1/orders/create")


def test_yaml_pattern_override(tmp_path, spark):
    from pyspark.sql import functions as F

    from otlp_cardinality_checker_spark.functions.masking import (
        compile_patterns,
        load_patterns_yaml,
        masked_frame,
    )

    yml = tmp_path / "patterns.yaml"
    yml.write_text(
        """
patterns:
  - name: ticket
    regex: 'TICKET-\\d+'
    placeholder: '<TICKET>'
    description: 'Jira-style ticket ids'
    required_substring: 'TICKET-'
  - name: ip
    regex: '\\b(?:\\d{1,3}\\.){3}\\d{1,3}\\b'
    placeholder: '<IP>'
"""
    )
    pats = load_patterns_yaml(str(yml))
    assert [p.name for p in pats] == ["ticket", "ip"]
    raw = "TICKET-4312 opened from 10.1.2.3"
    want = "<TICKET> opened from <IP>"
    # scalar engine
    assert mask_text(raw, compile_patterns(pats)) == want
    # Catalyst engine with the same user table
    got = masked_frame(
        spark.range(1).select(F.lit(raw).alias("text")), out="m",
        patterns=pats,
    ).first()["m"]
    assert got == want


def test_catalyst_equals_scalar_on_non_ascii(spark):
    """Engine parity on NON-ASCII input: the pattern table is ASCII-pinned
    (explicit classes + lookarounds instead of \\d/\\w/\\b/\\s, which are
    ASCII in java.util.regex but Unicode in Python), so the Catalyst
    template must equal the scalar Python template on adversarial unicode
    strings - fullwidth digits, NBSP, CJK, combining accents, micro-sign."""
    import pandas as pd

    from otlp_cardinality_checker_spark.functions.masking import (
        template_of,
        with_template,
    )

    adversarial = [
        "user user_\uff11\uff12\uff13 logged in",  # fullwidth digits: not Java \\d
        "na\u00efve123 caf\u00e9_42 done",  # accented word chars around digits
        "\u4ef7\u683c 100 \u5143 from 10.0.0.1",  # CJK + IP
        "x\u00a0y 42\u00a0ms",  # NBSP: Python-\\s but not Java-\\s
        "\u03a9mega_7 and \u00b5s and 100\u00b5s",
        "token \u0664\u0662 arabic-digits",  # Arabic-Indic digits
        "user_\u0661\u0662 trailing",
        "mail \u0153uvre@ex\u00e4mple.com sent",
        "GET /\u0430\u043f/v1/\u0444\u0430\u0439\u043b?q=\uff15 done",
        "emoji \U0001f389123\U0001f389 and 9999",
        "combining a\u0301bc123 end",
        "db/query: SELECT \uff38\uff38 FROM tbl WHERE x = 1",
        "line\u2028sep 123 next",
        "tab\x0bvtab 55ms",
    ]
    df = spark.createDataFrame(
        pd.DataFrame({"i": range(len(adversarial)), "text": adversarial})
    )
    got = {
        r["i"]: r["t"]
        for r in with_template(df, out="t").select("i", "t").collect()
    }
    for i, raw in enumerate(adversarial):
        assert got[i] == template_of(raw), f"divergence on {raw!r}"


def test_parse_turns_yaml_override_both_engines(tmp_path, spark, tiny_frames):
    """patterns_yaml flows through BOTH parse engines and they agree."""
    from otlp_cardinality_checker_spark.operators.parse import parse_turns

    yml = tmp_path / "user_patterns.yaml"
    yml.write_text(
        """
patterns:
  - name: everything_is_x
    regex: '[A-Za-z]+'
    placeholder: 'X'
"""
    )
    transcripts, _, _ = tiny_frames
    df = spark.createDataFrame(transcripts.head(40))
    sql_t = [
        r["template"]
        for r in parse_turns(df, engine="sql", patterns_yaml=str(yml))
        .orderBy("conv_id", "turn_idx")
        .select("template")
        .collect()
    ]
    pd_t = [
        r["template"]
        for r in parse_turns(df, engine="pandas", patterns_yaml=str(yml))
        .orderBy("conv_id", "turn_idx")
        .select("template")
        .collect()
    ]
    assert sql_t == pd_t
    assert any("X" in t for t in sql_t)  # the user mask actually applied


def test_masked_frame_equals_mask_expr(spark):
    """The stacked-projection leaf-guarded mask chain (masked_frame /
    with_template, the r6 fast path used by _parse_sql) is row-identical
    to the scalar reference (mask_text / template_of, which derives the
    truth tables; its guards check the evolving string) on goldens AND on
    adversarial guard-interaction strings: substrings removed by earlier
    masks, placeholder junctions, empties."""
    import pandas as pd

    from otlp_cardinality_checker_spark.functions.masking import (
        mask_text,
        masked_frame,
        template_of,
        with_template,
    )

    cases = [t for t, _ in GOLDEN_TEMPLATES] + [
        "",
        " ",
        None,
        # quoted_url removes the '"' the request-line guard needs
        '"https://a.example/x" then "GET /a/b HTTP/1.1" 200',
        # service_method repl introduces '/': must not enable url/http_path
        "svc/MethodName and more svc2/OtherThing",
        # timestamp removes ':' mid-string; later ':' guards must still work
        "2026-01-01 00:05:09 db/query: SELECT a FROM t WHERE x=1",
        # eq_number's '=<*>' keeps '=' for trailing patterns
        "a=1 b=2 c=33 user_7",
        "no guards at all plain words only",
        "x@y.zz and 10.1.2.3 and deadbeefcafebabe",
    ]
    df = spark.createDataFrame(
        pd.DataFrame({"i": range(len(cases)), "text": cases})
    )
    got = (
        with_template(
            masked_frame(df, src="text", out="m_frame"),
            src="text",
            out="t_frame",
        )
        .collect()
    )
    for r in got:
        raw = cases[r["i"]] or ""  # the Catalyst chain reads NULL as ""
        assert r["m_frame"] == mask_text(raw), cases[r["i"]]
        assert r["t_frame"] == template_of(raw), cases[r["i"]]


def test_masked_frame_user_patterns_unguarded(spark, tmp_path):
    """User YAML tables run the UNGUARDED chain inside masked_frame (an
    arbitrary repl literal may introduce a later guard substring), so a
    pattern whose required_substring only appears via an earlier user
    replacement still fires — matching the scalar engine, whose guards
    check the evolving string."""
    import pandas as pd

    from otlp_cardinality_checker_spark.functions.masking import (
        MaskPattern,
        compile_patterns,
        mask_text,
        masked_frame,
    )

    pats = (
        # introduces 'Q:' which the second pattern's guard requires
        MaskPattern("intro", r"hello", "Q:", ""),
        MaskPattern("uses", r"Q:[0-9]+", "<Q>", "Q:"),
    )
    df = spark.createDataFrame(pd.DataFrame({"text": ["hello123", "Q:55"]}))
    got = masked_frame(df, src="text", out="m", patterns=pats).collect()
    for r in got:
        assert r["m"] == mask_text(r["text"], compile_patterns(pats))
    assert [r["m"] for r in got] == ["<Q>", "<Q>"]


def test_template_series_duplicate_index_labels():
    """r6 review: duplicate input labels (public-API edge; the engines
    always pass unique RangeIndex) must not crash the run-boundary join,
    and each ROW keeps its own template — the scalar template_of
    contract — rather than the old groupby form's token concatenation."""
    import pandas as pd

    from otlp_cardinality_checker_spark.functions.masking import (
        template_of,
        template_series,
    )

    s = pd.Series(["alpha 11", "beta 22", "gamma 33"], index=[0, 1, 0])
    got = template_series(s)
    assert list(got.index) == [0, 1, 0]
    assert got.tolist() == [template_of(x) for x in s.tolist()]
