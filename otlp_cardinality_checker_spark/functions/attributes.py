"""Grok-style attribute extraction from transcript text.

The reference flattens OTLP attribute key/value lists into
``map[string]string`` (`/root/reference/internal/analyzer/metrics.go:379-405`).
Transcripts carry no structured attributes, so the parse stage *extracts*
them from ``text`` with a fixed grok-like spec: one named capture per
attribute key. Values are strings (the reference stringifies all attribute
values at the boundary — `metrics.go:388-405`).

Both engines share ATTRIBUTE_SPECS:

* Catalyst: ``map_from_entries(filter(arrays_zip(keys, values), v != ''))``
  over the per-key ``regexp_extract`` values — one pass, JVM-side (see
  :func:`attrs_map_expr` for why not ``map_filter``).
* pandas: ``Series.str.extract`` per spec inside the Arrow batch.
"""

from __future__ import annotations

import re
from dataclasses import dataclass

from pyspark.sql import Column
from pyspark.sql import functions as F


@dataclass(frozen=True)
class AttributeSpec:
    key: str
    # Ordered (regex, required_substring) alternatives; first non-empty
    # capture wins. The substring is a literal the regex cannot match
    # without — a cheap vectorized contains() guard skips the regex engine
    # for the (majority of) rows that cannot match, mirroring the
    # reference's RequiredSubstring fast path (`patterns.go:31`). Safe in
    # Catalyst because the guard references the leaf input column (no
    # expression-tree growth).
    regexes: tuple[tuple[str, str], ...]


# ASCII-pinned atoms shared with the masking table (see masking.py:
# java.util.regex \d/\w/\b are ASCII, Python's are Unicode — explicit
# classes + lookarounds make both engines agree on non-ASCII text).
from .masking import _NA, _NB  # noqa: E402

ATTRIBUTE_SPECS: tuple[AttributeSpec, ...] = (
    AttributeSpec(
        "user_id",
        (
            (rf"{_NB}user_([0-9]+){_NA}", "user_"),
            (rf"[?&]q=([0-9]+){_NA}", "q="),
            (rf"/users/([0-9]+){_NA}", "/users/"),
        ),
    ),
    AttributeSpec(
        "src_ip",
        ((rf"{_NB}from ((?:[0-9]{{1,3}}\.){{3}}[0-9]{{1,3}}){_NA}", "from "),),
    ),
    AttributeSpec(
        "client_ip",
        ((rf"{_NB}client ((?:[0-9]{{1,3}}\.){{3}}[0-9]{{1,3}}){_NA}", "client "),),
    ),
    AttributeSpec("http_status", ((rf'HTTP/[0-9.]+" ([0-9]{{3}}){_NA}', "HTTP/"),)),
    AttributeSpec("db_server", ((rf"{_NB}db-prod-([0-9]{{2}}){_NA}", "db-prod-"),)),
    AttributeSpec("retries", ((rf"{_NB}after ([0-9]+) retries{_NA}", " retries"),)),
    AttributeSpec(
        "cache_key",
        ((rf"{_NB}key user:session:([0-9a-f]{{16}}){_NA}", "user:session:"),),
    ),
    AttributeSpec("txn_id", ((rf"{_NB}txn_([0-9a-f]{{12}}){_NA}", "txn_"),)),
    AttributeSpec("duration_ms", ((rf"{_NB}after ([0-9]+)ms{_NA}", "after "),)),
    AttributeSpec(
        "endpoint", ((rf"{_NB}endpoint (/[^ \t\r\n\f\x0b?]+)", "endpoint "),)
    ),
    AttributeSpec(
        "trace_id",
        (
            (
                rf"{_NB}trace_id=([0-9a-fA-F]{{8}}-[0-9a-fA-F]{{4}}-[0-9a-fA-F]{{4}}-[0-9a-fA-F]{{4}}-[0-9a-fA-F]{{12}}){_NA}",
                "trace_id=",
            ),
        ),
    ),
    AttributeSpec(
        "tool_name", ((rf"{_NB}tool_call name=([A-Za-z0-9_]+){_NA}", "tool_call"),)
    ),
    AttributeSpec("args_len", ((rf"{_NB}args_len=([0-9]+){_NA}", "args_len="),)),
)

ATTRIBUTE_KEYS: tuple[str, ...] = tuple(s.key for s in ATTRIBUTE_SPECS)

_COMPILED = tuple(
    (spec, tuple((re.compile(r), g) for r, g in spec.regexes))
    for spec in ATTRIBUTE_SPECS
)


def extract_attrs(text: str) -> dict[str, str]:
    """Scalar reference implementation (used for truth generation)."""
    out: dict[str, str] = {}
    s = text or ""
    for spec, rxs in _COMPILED:
        for rx, guard in rxs:
            if guard and guard not in s:
                continue
            m = rx.search(s)
            if m and m.group(1):
                out[spec.key] = m.group(1)
                break
    return out


def _spec_expr(text: Column, spec: AttributeSpec) -> Column:
    alts = [
        F.when(F.contains(text, F.lit(g)), F.regexp_extract(text, r, 1))
        .otherwise(F.lit(""))
        if g
        else F.regexp_extract(text, r, 1)
        for r, g in spec.regexes
    ]
    v = alts[0]
    for a in alts[1:]:
        v = F.when(v != "", v).otherwise(a)
    return v


def attrs_map_expr(text: Column) -> Column:
    """Catalyst column producing ``map<string,string>`` of present attrs.

    Built as arrays_zip -> filter -> map_from_entries rather than
    map_filter(create_map(...)): same semantics (empty extractions
    dropped; '' and NULL both fail the filter either way), measured 7.6 s
    -> 4.8 s for the attrs projection at 8M rows/32c — the 26-expression
    create_map plus the per-entry map_filter lambda cost more than one
    zip and one array filter over 13 slots.
    """
    t = F.coalesce(text, F.lit(""))
    keys = F.array(*[F.lit(s.key) for s in ATTRIBUTE_SPECS])
    vals = F.array(*[_spec_expr(t, s) for s in ATTRIBUTE_SPECS])
    entries = F.filter(
        F.arrays_zip(keys.alias("key"), vals.alias("value")),
        lambda e: e.getField("value") != F.lit(""),
    )
    return F.map_from_entries(entries)


def attrs_frame(texts):
    """pandas engine: DataFrame with one (nullable string) column per key."""
    import pandas as pd

    s = texts.fillna("")
    out = {}

    def guarded_extract(regex: str, guard: str):
        if not guard:
            return s.str.extract(regex, expand=False)
        mask = s.str.contains(guard, regex=False)
        v = pd.Series(pd.NA, index=s.index, dtype=object)
        if mask.any():
            v.loc[mask] = s[mask].str.extract(regex, expand=False)
        return v

    for spec in ATTRIBUTE_SPECS:
        v = guarded_extract(*spec.regexes[0])
        for r, g in spec.regexes[1:]:
            alt = guarded_extract(r, g)
            v = v.where(v.notna() & (v != ""), alt)
        out[spec.key] = v.where(v.notna() & (v != ""), pd.NA)
    return pd.DataFrame(out, index=s.index)
