"""Regex masking + template normalization — the parse stage's core functions.

Semantics re-expressed (not ported) from the reference's masking pipeline
(`/root/reference/internal/patterns/patterns.go:72-252`) and variable-token
heuristics (`/root/reference/pkg/autotemplate/tokenize.go:31-152`): ordered
regex -> placeholder rewrites with a cheap required-substring pre-check,
followed by token-level generalization of high-entropy tokens to ``<*>`` and
collapse of consecutive wildcards (`.../pkg/autotemplate/miner.go:415-434`).

Three implementations of one pattern table, tested against each other
(tests/test_masking.py):

* :func:`masked_frame` / :func:`with_template` — the Catalyst engine, the
  default. The mask chain is a stack of projections, one per guard level,
  each pattern a ``regexp_replace`` behind a leaf-substring guard; the
  tokenize/generalize tail is a ``transform(split(...))`` lambda, which
  runs interpreted (higher-order functions get no codegen).
* :func:`mask_text` / :func:`template_of` — the scalar reference. Datagen
  derives the truth tables with it, and the DuckDB oracle checks the
  pipeline against those tables.
* :func:`mask_series` / :func:`template_series` — vectorized pandas
  versions, used by the pandas-UDF parse engine.

Deliberate deviations from the reference, chosen for order-independence and
engine-parity (documented per SURVEY.md §7):

* Tokenization is whitespace-only *after* masking (the reference also splits
  on ``:=/[](),"``; those delimiters are handled here by masking the
  high-entropy parts in place, e.g. ``user:session:<ID>``).
* An ISO-8601 timestamp mask is added (the reference only masks the
  ``YYYY/MM/DD`` form; transcripts use ISO).
* ``hex_id`` drops the ``\\b`` word-boundary so hex runs embedded in tokens
  like ``txn_abcdef123456`` are masked (the reference would leak these into
  per-unique-value templates).
"""

from __future__ import annotations

import re
from dataclasses import dataclass

from pyspark.sql import Column
from pyspark.sql import functions as F

# ---------------------------------------------------------------------------
# Mask pattern table — ONE definition, compiled for both engines.
# `regex` must be valid for BOTH java.util.regex and Python `re`.
# `repl` uses $1-style group refs (converted to \1 for Python).
# ---------------------------------------------------------------------------


@dataclass(frozen=True)
class MaskPattern:
    name: str
    regex: str
    repl: str
    required_substring: str = ""  # cheap contains() guard before the regex


# ASCII-pinned regex atoms. java.util.regex gives \d \w \s \b ASCII
# semantics while Python `re` gives them Unicode semantics, so the shared
# pattern table spells every class out explicitly (and replaces \b with
# lookarounds) — the two engines then agree on NON-ASCII input too, not
# just the ASCII fixture corpus.
_S = r"[ \t\r\n\f\x0b]"  # \s, pinned
_NS = r"[^ \t\r\n\f\x0b]"  # \S, pinned
_NB = r"(?<![0-9A-Za-z_])"  # \b before a word char, pinned
_NA = r"(?![0-9A-Za-z_])"  # \b after a word char, pinned

MASK_PATTERNS: tuple[MaskPattern, ...] = (
    # ISO-ish timestamps first so their digit groups don't feed later rules.
    # ISO and slash forms share a placeholder, so they are FUSED into one
    # alternation: every table entry is a full-string regexp_replace pass
    # over every row, and one pass with `(?:a|b)` costs measurably less
    # than two passes (the branches are disjoint on their 5th character,
    # so the NFA abandons the wrong branch immediately).
    MaskPattern(
        "timestamp",
        r"[0-9]{4}-[0-9]{2}-[0-9]{2}[ T][0-9]{2}:[0-9]{2}:[0-9]{2}(?:\.[0-9]+)?Z?"
        r"|[0-9]{4}/[0-9]{2}/[0-9]{2} [0-9]{2}:[0-9]{2}:[0-9]{2}",
        "<TIMESTAMP>",
        ":",  # the time part — present in BOTH alternation branches
    ),
    # Quoted referrer URL must run before the request-line pattern.
    MaskPattern("quoted_url", r'"https?://[^"]*"', "<URL>", '"'),
    # Access-log request line + the status code immediately following it.
    MaskPattern(
        "http_request_line",
        rf'"(GET|POST|PUT|PATCH|DELETE|HEAD|OPTIONS){_S}+{_NS}+{_S}+HTTP/[0-9.]+"{_S}+[1-5][0-9]{{2}}{_NA}',
        "$1 <URI> <STATUSCODE>",
        '"',
    ),
    MaskPattern(
        "uuid",
        rf"{_NB}[0-9a-fA-F]{{8}}-[0-9a-fA-F]{{4}}-[0-9a-fA-F]{{4}}-[0-9a-fA-F]{{4}}-[0-9a-fA-F]{{12}}{_NA}",
        "<ID>",
        "-",
    ),
    MaskPattern(
        "email",
        rf"{_NB}[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{{2,}}{_NA}",
        "<EMAIL>",
        "@",
    ),
    # SQL statements: keep verb + table, mask the varying WHERE/SET/VALUES
    # tail (reference: patterns.go:176-199, goldens patterns_test.go:117-164).
    # These must run before the generic number/hex/eq rules so a query line
    # collapses to ONE template per (verb, table) instead of one per value.
    # SELECT and DELETE share the "$1 <WHERE>" shape — fused alternation
    # (one replace pass instead of two; branches disjoint on the verb).
    MaskPattern(
        "sql_select_delete",
        rf"(db/query:{_S}*(?:SELECT{_S}+(?:[^\r\n]*?{_S}+)?FROM|DELETE{_S}+FROM){_S}+[A-Za-z0-9_]+)(?:{_S}+[^\r\n]+)?$",
        "$1 <WHERE>",
        "db/query:",
    ),
    MaskPattern(
        "sql_update",
        rf"(db/query:{_S}*UPDATE{_S}+[A-Za-z0-9_]+){_S}+SET{_S}+[^\r\n]+$",
        "$1 <SET>",
        "db/query:",
    ),
    MaskPattern(
        "sql_insert",
        rf"(db/query:{_S}*INSERT{_S}+INTO{_S}+[A-Za-z0-9_]+)(?:{_S}+[^\r\n]+)?$",
        "$1 <VALUES>",
        "db/query:",
    ),
    # gRPC/internal service-method span names: keep service, mask method
    # (reference: patterns.go:200-207). Anchored to the whole string so
    # "GET /api/v1/users" style lines never match.
    MaskPattern(
        "service_method",
        r"^([a-zA-Z][a-zA-Z0-9_-]*)/([a-zA-Z][a-zA-Z0-9]+)$",
        "$1/<METHOD>",
        "/",
    ),
    MaskPattern("url", rf"https?://{_NS}+", "<URL>", "://"),
    # HTTP verb + path: keep the verb and up to two literal segments.
    MaskPattern(
        "http_path",
        rf"{_NB}(GET|POST|PUT|PATCH|DELETE|HEAD|OPTIONS){_S}+((?:/[a-zA-Z][a-zA-Z0-9._~-]*){{1,2}})/{_NS}*",
        "$1 $2/<PATH>",
        "/",
    ),
    # Bare absolute path containing a numeric segment.
    MaskPattern(
        "path_with_id",
        rf"(^|{_S})(/(?:[a-zA-Z0-9._~-]+/)*[0-9][a-zA-Z0-9._~-]*(?:/[a-zA-Z0-9._~-]*)*)({_S}|$)",
        "$1<PATH>$3",
        "/",
    ),
    # Query strings are stripped entirely.
    MaskPattern("query_string", rf"\?{_NS}*", "", "?"),
    MaskPattern(
        "ipv4", rf"{_NB}(?:[0-9]{{1,3}}\.){{3}}[0-9]{{1,3}}{_NA}", "<IP>", "."
    ),
    # Durations / sizes before the bare hex/number rules.
    MaskPattern(
        "duration",
        rf"{_NB}[0-9]+(?:\.[0-9]+)?(?:µs|us|ns|ms){_NA}",
        "<DURATION>",
        "",
    ),
    MaskPattern(
        "size", rf"{_NB}[0-9]+(?:\.[0-9]+)?(?:B|KB|MB|GB|TB){_NA}", "<SIZE>", ""
    ),
    # Hex ids >= 8 chars, no word boundary (see module docstring).
    MaskPattern("hex_id", r"[0-9a-f]{8,}", "<ID>", ""),
    # key=1234 style values.
    MaskPattern("eq_number", rf"=[0-9]+{_NA}", "=<*>", "="),
    # Trailing-digit identifiers (user_123, db-prod-07, shard-3). The
    # reference's Drain similarity matching (miner.go:357-387) generalizes
    # these into one cluster at runtime; the deterministic mode must mask
    # them up front to reach the same template granularity.
    MaskPattern("trailing_num_id", rf"(?<=[A-Za-z_-])[0-9]+{_NA}", "<*>", ""),
)

_GROUP_REF = re.compile(r"\$(\d)")


def _py_repl(repl: str) -> str:
    return _GROUP_REF.sub(r"\\\1", repl)


def compile_patterns(patterns: tuple[MaskPattern, ...]):
    """Compile a pattern table for the Python engines (cached per table)."""
    return tuple((p, re.compile(p.regex), _py_repl(p.repl)) for p in patterns)


_COMPILED = compile_patterns(MASK_PATTERNS)


def load_patterns_yaml(path: str) -> tuple[MaskPattern, ...]:
    """User pattern override from a YAML file (reference: patterns.go:35-63,
    config/patterns.yaml). Schema per entry: ``name``, ``regex``,
    ``placeholder``, optional ``description`` (ignored here) and
    ``required_substring``. Order in the file is application order.

    Every regex must be valid for BOTH java.util.regex and Python `re`
    (the same constraint as the built-in table); a pattern that fails to
    compile under Python raises immediately rather than at executor time.
    """
    import yaml

    with open(path) as fh:
        config = yaml.safe_load(fh) or {}
    out = []
    for p in config.get("patterns", []):
        mp = MaskPattern(
            name=p["name"],
            regex=p["regex"],
            repl=p.get("placeholder", ""),
            required_substring=p.get("required_substring", ""),
        )
        re.compile(mp.regex)  # fail fast on bad user regex
        out.append(mp)
    return tuple(out)

# ---------------------------------------------------------------------------
# Token generalization rules (reference: tokenize.go:31-152).
# A post-mask whitespace token becomes `<*>` when any rule fires.
# ---------------------------------------------------------------------------

LONG_TOKEN_THRESHOLD = 30

# ASCII-pinned (see MASK_PATTERNS note): [0-9] everywhere, never \d, so
# the scalar/pandas truth and the Catalyst rlike twins agree on non-ASCII.
_PURE_NUMBER = re.compile(r"^-?[0-9]+(?:\.[0-9]+)?$")
_NUM_UNIT = re.compile(
    r"^[0-9]+(?:\.[0-9]+)?(?:ms|s|m|h|us|ns|B|KB|MB|GB|TB|b|kb|mb|gb|k|K|M|G)$"
)
_HEXISH = re.compile(r"^[0-9a-fA-F-]{8,}$")
_TIMEISH = re.compile(r"^[0-9][0-9:.TZ-]{3,}$")
_NON_DIGIT = re.compile(r"[^0-9]")


def is_variable_token(t: str) -> bool:
    """Python twin of the Catalyst lambda inside :func:`template_from_masked`."""
    n = len(t)
    if n == 0:
        return False
    if n > LONG_TOKEN_THRESHOLD:
        return True
    if _PURE_NUMBER.match(t) or _NUM_UNIT.match(t):
        return True
    if _HEXISH.match(t) and any(c in "0123456789abcdefABCDEF" for c in t):
        return True
    if _TIMEISH.match(t) and ("-" in t or ":" in t or "T" in t):
        return True
    if n >= 4:
        digits = len(_NON_DIGIT.sub("", t))
        if digits * 100 >= 60 * n:
            return True
    return False


_COLLAPSE_WILDCARD = re.compile(r"<\*>(?: <\*>)+")
_WS = re.compile(_S + "+")


def mask_text(s: str, compiled=None) -> str:
    """Apply the full mask chain to one string (scalar reference impl)."""
    for pat, rx, repl in compiled or _COMPILED:
        if pat.required_substring and pat.required_substring not in s:
            continue
        s = rx.sub(repl, s)
    return s


def template_of(s: str, compiled=None) -> str:
    """Scalar reference implementation: mask + tokenize + generalize."""
    masked = mask_text(s, compiled)
    # strip(" ") == Spark F.trim (space only): Python's bare strip() also
    # removes Unicode whitespace (e.g. NBSP) that the Catalyst twin keeps
    toks = [t for t in _WS.split(masked.strip(" ")) if t]
    out = ["<*>" if is_variable_token(t) else t for t in toks]
    joined = " ".join(out)
    return _COLLAPSE_WILDCARD.sub("<*>", joined)


def mask_series(s, compiled=None):
    """Vectorized pandas implementation of the mask chain.

    r6: guarded patterns run the regex over the MATCHING SUBSET only
    (``s.loc[m] = s.loc[m].str.replace(...)``). The r5 form ran
    ``str.replace`` over the whole series and then ``where``-merged —
    paying the regex on the 61-100% of rows the guard had already
    excluded. Output identical by construction (non-matching rows were
    identity under replace anyway); engine-parity property tests pin it.
    """
    s = s.fillna("")
    out = None  # copy lazily, only when a guarded subset must mutate
    for pat, rx, repl in compiled or _COMPILED:
        if pat.required_substring:
            cur = out if out is not None else s
            m = cur.str.contains(pat.required_substring, regex=False)
            if not m.any():
                continue
            if out is None:
                out = s.copy()
            out.loc[m] = out.loc[m].str.replace(rx, repl, regex=True)
        else:
            cur = out if out is not None else s
            out = cur.str.replace(rx, repl, regex=True)
    return out if out is not None else s


def template_series(s, compiled=None):
    """Vectorized pandas implementation of :func:`template_of`.

    Mask chain: vectorized `str.replace`. Token generalization: tokens are
    exploded to one long Series and every heuristic is a vectorized
    `str.fullmatch` / `str.count` / length comparison — no per-row Python
    (north-rule requirement for the pandas/Arrow parse engine).
    """
    import pandas as pd

    import numpy as np

    masked = mask_series(s, compiled)
    # positional frame: the run-boundary join below requires each row's
    # tokens to form ONE contiguous run, which duplicate input labels
    # would break (r6 review). RangeIndex guarantees it; the caller's
    # index is restored on the way out, and rows that share a label each
    # get their OWN template — matching the scalar template_of contract
    # (the old groupby(level=0) form concatenated such rows' tokens).
    orig_index = masked.index
    masked = masked.reset_index(drop=True)
    toks = masked.str.findall(_NS + "+")
    ex = toks.explode()
    present = ex.notna()
    exs = ex[present].astype(str)
    n = exs.str.len()
    digits = exs.str.count(r"[0-9]")
    # r6: digit-factored short circuit (same decision table as
    # is_variable_token and the Catalyst twin). Every numeric/unit/
    # timestamp rule requires a digit, and the only digitless variable
    # shape is the all-hex-letters id — so the 4 fullmatch regexes run
    # over the digit-bearing token subset only, and digitless tokens pay
    # one cheap rule. Same booleans, ~60% less regex work measured.
    has_digit = (digits > 0).to_numpy()
    is_var = np.zeros(len(exs), dtype=bool)
    d = exs[has_digit]
    if len(d):
        nd = n[has_digit]
        dd = digits[has_digit]
        with_digit = (
            d.str.fullmatch(r"-?[0-9]+(?:\.[0-9]+)?")
            | d.str.fullmatch(
                r"[0-9]+(?:\.[0-9]+)?(?:ms|s|m|h|us|ns|B|KB|MB|GB|TB|b|kb|mb|gb|k|K|M|G)"
            )
            | d.str.fullmatch(r"[0-9a-fA-F-]{8,}")
            | (d.str.fullmatch(r"[0-9][0-9:.TZ-]{3,}") & d.str.contains(r"[-:T]"))
            | ((nd >= 4) & (dd * 100 >= 60 * nd))
        )
        is_var[has_digit] = with_digit.to_numpy()
    digitless_long = (~has_digit) & (n >= 8).to_numpy()
    g = exs[digitless_long]
    if len(g):
        without_digit = g.str.fullmatch(r"[a-fA-F-]+") & g.str.contains(
            r"[a-fA-F]"
        )
        is_var[digitless_long] = without_digit.to_numpy()
    is_var |= (n > LONG_TOKEN_THRESHOLD).to_numpy()
    vals = np.where(is_var, "<*>", exs.to_numpy(dtype=object))
    # explode() emits tokens row-contiguously, so the per-row join is a
    # run-boundary scan over the label array — measured ~4x faster than
    # groupby(level=0).agg(" ".join) at 650k tokens
    idx = exs.index.to_numpy()
    if len(idx):
        change = np.flatnonzero(idx[1:] != idx[:-1]) + 1
        starts = np.concatenate(([0], change))
        ends = np.concatenate((change, [len(vals)]))
        joined = pd.Series(
            [" ".join(vals[a:b]) for a, b in zip(starts, ends)],
            index=idx[starts],
            dtype=object,
        )
    else:  # no tokens anywhere (all-empty/whitespace batch)
        joined = pd.Series([], index=pd.Index([]), dtype=object)
    out = pd.Series("", index=masked.index, dtype=object)
    out.loc[joined.index] = joined.str.replace(_COLLAPSE_WILDCARD, "<*>", regex=True)
    out.index = orig_index
    return out


# ---------------------------------------------------------------------------
# Catalyst engine — the default. The regexes above are valid Java regexes.
# ---------------------------------------------------------------------------


def _variable_token_pred(t: Column) -> Column:
    """Catalyst twin of :func:`is_variable_token` (same decision table,
    short-circuit-factored on digit presence).

    Logically identical to the flat 6-rlike OR, but the COMMON token — a
    short plain word — must escape with ZERO regex evaluations: every
    numeric/unit/timestamp rule requires a digit, and the only digitless
    variable shape is the all-hex-letters id, gated on length >= 8 before
    its rlike runs. And/Or/when short-circuit in both codegen and the
    interpreted HOF path, so rlikes behind a false gate never execute.
    The digit count itself comes from translate() (non-regex char map) —
    a regexp_replace here measured 3x slower for the whole template
    projection at 500k rows.
    """
    n = F.length(t)
    digits = n - F.length(F.translate(t, "0123456789", ""))
    with_digit = (
        t.rlike(r"^-?[0-9]+(\.[0-9]+)?$")
        | t.rlike(
            r"^[0-9]+(\.[0-9]+)?(ms|s|m|h|us|ns|B|KB|MB|GB|TB|b|kb|mb|gb|k|K|M|G)$"
        )
        # hex-id: the original `& rlike([0-9a-fA-F])` presence check is
        # implied here — this branch only runs when a digit is present
        | t.rlike(r"^[0-9a-fA-F-]{8,}$")
        | (t.rlike(r"^[0-9][0-9:.TZ-]{3,}$") & t.rlike(r"[-:T]"))
        | ((n >= 4) & (digits * 100 >= 60 * n))
    )
    # digitless tokens: the only variable shape left is an all-hex-letters
    # id — length >= 8, chars in [a-fA-F-], at least one letter (the
    # original hex-char presence check, digitless form)
    without_digit = (n >= 8) & t.rlike(r"^[a-fA-F-]+$") & t.rlike(r"[a-fA-F]")
    return (n > LONG_TOKEN_THRESHOLD) | F.when(
        digits > 0, with_digit
    ).otherwise(without_digit)


def template_from_masked(masked: Column) -> Column:
    """Tokenize + generalize an already-masked column (the template tail).

    NOTE: no when()/conditional may reference `masked` (or anything
    derived from it) more than once if `masked` is an inline expression
    rather than a column — the interpreted HOF context has no
    common-subexpression elimination, so a second reference re-runs it
    (measured 1.7x on the template projection over the inline mask
    chain). The empty-token filter() stays a per-token HOF for this
    reason.
    """
    toks = F.split(F.trim(masked), _S + "+")
    toks = F.filter(toks, lambda t: t != F.lit(""))
    gen = F.transform(
        toks, lambda t: F.when(_variable_token_pred(t), F.lit("<*>")).otherwise(t)
    )
    joined = F.array_join(gen, " ")
    return F.regexp_replace(joined, r"<\*>( <\*>)+", "<*>")


def masked_frame(
    df,
    src: str = "text",
    out: str = "__masked",
    patterns: tuple[MaskPattern, ...] | None = None,
):
    """DataFrame-level mask chain with leaf-guarded pattern skips.

    Each pattern becomes its OWN projection (`withColumn`), so the
    required-substring guard can reference the running column twice
    (`when(guard, replace(prev)).otherwise(prev)`) without re-evaluating
    the upstream chain: `prev` is a bound attribute of the previous
    projection, not an inline expression tree, and CollapseProject keeps
    the stack (it refuses to inline a non-trivial expression referenced
    more than once). A single-Column chain cannot do this: there the same
    `when` would double the expression tree per pattern (2^19 nodes).

    Why guards pay (guide §1 measurement, sf0.1 / 500k rows / 32c):
    Spark's `RegExpReplace` converts UTF8String -> java String -> matcher
    -> StringBuffer -> UTF8String **even when nothing matches**, so every
    unguarded pass costs two string conversions per row. The corpus hits
    most guards rarely ('@' 0%, '://' 0%, 'db/query:' 4%, '"' 12%,
    '?' 11%), and the guarded chain drops mask time 0.80 s -> 0.52 s.

    Guards check the ORIGINAL text, not the evolving string (the scalar /
    pandas engines check the evolving string). This is result-identical
    for the builtin table: no builtin replacement literal contains (or
    can form at a junction) any later pattern's required substring, so a
    substring absent from the leaf is absent from every evolving state,
    and the skipped regex could only have been the identity. Backrefs
    only re-insert text already present. Pinned against the scalar
    :func:`mask_text` by test_masked_frame_equals_mask_expr; a 500k-row
    corpus diff against the unguarded chain found 0 rows. User YAML
    tables get the UNGUARDED chain — an arbitrary replacement literal may
    introduce a later guard substring, and the pandas engine
    (evolving-string guards) would then disagree.
    """
    pats = patterns or MASK_PATTERNS
    guarded = pats == MASK_PATTERNS
    leaf = F.coalesce(F.col(src), F.lit(""))

    # Every withColumn is a new Dataset and classic PySpark analyzes
    # each one eagerly, so level count is driver-side plan-build cost
    # (~14 ms/level measured). Consecutive patterns therefore SHARE a
    # level when that cannot change the result:
    #   * same guard (the three db/query: rules, the two '"' rules) —
    #     one contains() check, replaces nested inside the when branch;
    #   * implied guard (level guard g1 a substring of the pattern's g2,
    #     e.g. url's '://' inside the '/' level): rows failing g1 also
    #     fail g2, where the pattern is the identity anyway;
    #   * unguarded patterns wrap OUTSIDE the level's when (they must
    #     run on every row), so they ride the previous level for free.
    # 20 levels -> 10; execution identical (each level's running value
    # is still referenced at most twice, as a bound attribute).
    levels: list[list] = []  # [guard | None, [inside...], [post...]]
    for p in pats:
        if not (guarded and p.required_substring):
            if levels:
                levels[-1][2].append(p)
            else:
                levels.append([None, [], [p]])
        else:
            g = p.required_substring
            if levels and levels[-1][0] is not None and not levels[-1][2] \
                    and levels[-1][0] in g:
                levels[-1][1].append(p)
            else:
                levels.append([g, [p], []])

    cur = df.withColumn(out, leaf)
    for g, inside, post in levels:
        rep = F.col(out)
        for p in inside:
            rep = F.regexp_replace(rep, F.lit(p.regex), F.lit(p.repl))
        if g is not None:
            rep = F.when(F.contains(leaf, F.lit(g)), rep).otherwise(
                F.col(out)
            )
        for p in post:
            rep = F.regexp_replace(rep, F.lit(p.regex), F.lit(p.repl))
        cur = cur.withColumn(out, rep)
    return cur


def with_template(
    df,
    src: str = "text",
    out: str = "template",
    patterns: tuple[MaskPattern, ...] | None = None,
):
    """DataFrame-level template extraction: :func:`masked_frame` + the
    tokenize/generalize tail. Output rows equal the scalar
    :func:`template_of` (pinned by test_masked_frame_equals_mask_expr).
    The intermediate masked column is dropped."""
    tmp = f"__masked_for_{out}"
    m = masked_frame(df, src=src, out=tmp, patterns=patterns)
    return m.withColumn(out, template_from_masked(F.col(tmp))).drop(tmp)
