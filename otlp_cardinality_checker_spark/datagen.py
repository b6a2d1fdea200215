"""Deterministic synthetic transcripts generator (FIXTURES.md §1-§3).

Row i of every table is a pure function of (SEED, i): regenerating at any
time, on any machine, yields byte-identical parquet content. No randomness
APIs are used.

Alongside the input table (exactly the `input_hint` shape:
``conv_id:string, turn_idx:int32, role:string, text:string, tool:string,
ts:timestamp``) the generator emits a generation-time **truth** table
(severity, template, long-form extracted attributes). Truth is derived by the
scalar per-row functions in ``functions/`` (``severity_of``, ``template_of``,
``extract_attrs``) at generation time, while the distributed pipeline
runs the independent Catalyst implementation — so the
DuckDB-oracle comparison (``__spark_entry__.oracle_sql``) cross-checks two
separate implementations end-to-end.

Text families are chosen so every masking pattern and variable-token
heuristic of the reference fires (FIXTURES.md §1.1; reference pattern corpus:
`/root/reference/internal/patterns/patterns_test.go`,
`/root/reference/scripts/load-test-logs.js:81-111`).
"""

from __future__ import annotations

import os
from pathlib import Path

import numpy as np
import pandas as pd

from .functions.attributes import extract_attrs
from .functions.masking import template_of
from .functions.severity import severity_of

SEED = 42
GEN_VERSION = 7  # bump when generation rules change -> fixtures regenerate (v7: fused timestamp mask pass changes overlap precedence)
TURNS_PER_CONV = 25
CARDINALITY_UID = 500  # uid modulus (mirrors scripts/test-hll-cardinality.sh)
# The *observed* distinct user_id count: uid-bearing text families occupy
# fixed residues mod lcm(100, 20), so only 170 of the 500 residues are ever
# emitted — a known constant for oracle checks, stable for n >= 4000.
EXPECTED_UID_CARDINALITY = 170
# Generated data lives next to the checkout unless SPARK_GRAFT_DATA_ROOT
# says otherwise; a package loaded from a --py-files zip must set it.
DATA_ROOT = Path(
    os.environ.get("SPARK_GRAFT_DATA_ROOT")
    or Path(__file__).resolve().parent.parent / ".data"
)

ROLES = ("user", "assistant", "system", "tool")
# Weights ~= 40/40/5/15 with `assistant` as the hot key (FIXTURES.md §1).
_LONG_ALPHABET = "ghijklmnopqrstuvwxyzGHIJKLMNOPQRSTUVWXYZ"  # no hex chars
_STATUSES = (200, 200, 200, 404, 500, 503)


def _role_of(i: int) -> str:
    r = (i * 7919) % 20
    if r < 8:
        return "user"
    if r < 16:
        return "assistant"
    if r < 17:
        return "system"
    return "tool"


def _tool_of(i: int) -> str:
    k_raw = (i * 13) % 40
    k = 0 if k_raw < 21 else k_raw - 20  # Zipf-ish: tool_0 hot (~52%)
    return f"tool_{k}"


def _uuid_of(i: int) -> str:
    return (
        f"{(i * 2654435761) % (1 << 32):08x}-{(i * 3) % 65536:04x}-"
        f"4{(i * 5) % 4096:03x}-8{(i * 7) % 4096:03x}-"
        f"{(i * 1140071481) % (1 << 48):012x}"
    )


def _long_token(i: int) -> str:
    n = len(_LONG_ALPHABET)
    return "".join(_LONG_ALPHABET[(i * 31 + j * 17) % n] for j in range(40))


def _text_of(i: int, role: str, tool: str | None) -> str:
    uid = i % CARDINALITY_UID
    if tool is not None:
        body = f"tool_call name={tool} args_len={(i * 3) % 40} trace_id={_uuid_of(i)}"
    else:
        f = (i * 31) % 100
        if f < 14:
            body = (
                f"INFO [2026-01-01 00:{(i // 60) % 60:02d}:{i % 60:02d}] "
                f"user user_{uid} logged in from 10.0.{i % 250}.{(i * 7) % 250}"
            )
        elif f < 28:
            body = (
                f"ERROR failed to connect to database server "
                f"db-prod-{i % 30:02d} after {i % 10} retries"
            )
        elif f < 42:
            body = (
                f'"GET /api/v1/users/{uid}/orders HTTP/1.1" '
                f"{_STATUSES[i % 6]} {100 + (i * 37) % 9000}"
            )
        elif f < 56:
            body = f"DEBUG cache hit for key user:session:{(i * 2654435761) % (1 << 64):016x}"
        elif f < 70:
            body = (
                f"payment gateway timeout for transaction "
                f"txn_{(i * 1140071481) % (1 << 48):012x} after {10 + (i * 13) % 990}ms"
            )
        elif f < 84:
            body = (
                f"WARN rate limit exceeded for client 192.168.{i % 250}.{(i * 7) % 250} "
                f"endpoint /api/v1/search?q={uid}"
            )
        elif f < 91:
            body = f"Received {_long_token(i)}"
        elif f < 97:
            # SQL-bearing lines: one template per (verb, table) once the
            # sql_* masks fire (reference patterns.go:176-199 semantics).
            tbl = ("users", "orders", "products")[i % 3]
            q = i % 4
            if q == 0:
                body = (
                    f"db/query: SELECT id, name FROM {tbl} "
                    f"WHERE user_id = {uid} AND active = {i % 2}"
                )
            elif q == 1:
                body = (
                    f"db/query: UPDATE {tbl} SET stock = {(i * 3) % 50} "
                    f"WHERE id = {uid}"
                )
            elif q == 2:
                body = f"db/query: DELETE FROM {tbl} WHERE token = 'tok{(i * 7) % 1000}'"
            else:
                body = f"db/query: INSERT INTO {tbl} VALUES ({i}, {uid})"
        elif f < 99:
            # gRPC-style span names: service kept, method masked.
            svc = ("user-service", "order-service", "cache", "db")[i % 4]
            mth = ("getProfile", "resetPassword", "createOrder", "query", "get")[
                i % 5
            ]
            body = f"{svc}/{mth}"
        else:
            body = ""
    if body and i % 97 == 0:
        body = body + " �"  # invalid-UTF8 replacement char (taint path)
    return body


def generate_transcripts(n_turns: int, with_truth: bool = True):
    """Build (transcripts, truth, truth_attrs) pandas DataFrames."""
    idx = np.arange(n_turns, dtype=np.int64)
    conv_id = [f"conv_{i // TURNS_PER_CONV:06d}" for i in idx]
    turn_idx = (idx % TURNS_PER_CONV).astype(np.int32)
    roles = [_role_of(int(i)) for i in idx]
    tools = [_tool_of(int(i)) if r == "tool" else None for i, r in zip(idx, roles)]
    texts = [_text_of(int(i), r, t) for i, r, t in zip(idx, roles, tools)]
    # microsecond precision: Spark cannot read parquet TIMESTAMP(NANOS)
    ts = (
        pd.Timestamp("2026-01-01T00:00:00") + pd.to_timedelta(idx, unit="s")
    ).astype("datetime64[us]")

    transcripts = pd.DataFrame(
        {
            "conv_id": pd.array(conv_id, dtype="string"),
            "turn_idx": turn_idx,
            "role": pd.array(roles, dtype="string"),
            "text": pd.array(texts, dtype="string"),
            "tool": pd.array(tools, dtype="string"),
            "ts": ts,
        }
    )
    if not with_truth:
        return transcripts, None, None

    truth = pd.DataFrame(
        {
            "conv_id": transcripts["conv_id"],
            "turn_idx": transcripts["turn_idx"],
            "severity_inferred": pd.array(
                [severity_of(t) for t in texts], dtype="string"
            ),
            "template": pd.array([template_of(t) for t in texts], dtype="string"),
        }
    )

    rows = []
    for c, t_i, text in zip(conv_id, turn_idx, texts):
        for k, v in extract_attrs(text).items():
            rows.append((c, int(t_i), k, v))
    truth_attrs = pd.DataFrame(
        rows, columns=["conv_id", "turn_idx", "key", "value"]
    ).astype({"conv_id": "string", "turn_idx": "int32", "key": "string", "value": "string"})
    return transcripts, truth, truth_attrs


def role_dim(include_system: bool = True) -> pd.DataFrame:
    rows = [
        ("user", "human", "INFO"),
        ("assistant", "model", "INFO"),
        ("tool", "tool", "INFO"),
        ("moderator", "system", "WARN"),  # never present in facts
    ]
    if include_system:
        rows.insert(2, ("system", "system", "DEBUG"))
    return pd.DataFrame(rows, columns=["role", "role_class", "severity_default"]).astype(
        {"role": "string", "role_class": "string", "severity_default": "string"}
    )


def tool_dim() -> pd.DataFrame:
    rows = [
        (f"tool_{k}", f"family_{k // 5}", k in (0, 7)) for k in range(20)
    ]
    return pd.DataFrame(rows, columns=["tool", "tool_family", "is_privileged"]).astype(
        {"tool": "string", "tool_family": "string", "is_privileged": "bool"}
    )


def write_metric_dim(path: Path) -> None:
    """Per-sink metric-shape dimension for the A8 Prometheus series
    estimate (reference `pkg/models/metric_types.go:140-190`): one sink per
    shape class — plain gauge, explicit-bounds histogram, and exponential
    histogram with mixed scales (max scale 3 -> 2^(3+1)=16 buckets)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    table = pa.table(
        {
            "sink": pa.array(["chat", "tool_call", "error"], pa.string()),
            "metric_type": pa.array(
                ["gauge", "histogram", "exp_histogram"], pa.string()
            ),
            "explicit_bounds": pa.array(
                [None, [0.005, 0.01, 0.025, 0.05, 0.1, 0.25, 0.5, 1.0, 2.5], None],
                pa.list_(pa.float64()),
            ),
            "scales": pa.array(
                [None, None, [3, 1, -2]], pa.list_(pa.int32())
            ),
        }
    )
    tmp = path.with_suffix(".tmp.parquet")
    pq.write_table(table, tmp, compression="zstd")
    os.replace(tmp, path)


def n_turns_for_sf(sf_dir: str) -> int:
    """Map a driver sf dir (…/sf0.01) to a deterministic transcript size."""
    name = os.path.basename(os.path.normpath(sf_dir))
    try:
        sf = float(name.removeprefix("sf"))
    except ValueError:
        sf = 0.001
    return max(TURNS_PER_CONV, int(round(5_000_000 * sf)))


def _write(df: pd.DataFrame, path: Path, row_group_size: int = 65536) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    tmp = path.with_suffix(".tmp.parquet")
    pq.write_table(
        pa.Table.from_pandas(df, preserve_index=False),
        tmp,
        row_group_size=row_group_size,
        compression="zstd",
    )
    os.replace(tmp, path)


def _write_many(df: pd.DataFrame, dirpath: Path, n_files: int = 32) -> None:
    """Write as a directory of parquet parts so local Spark reads get real
    scan parallelism (one small file = one-two partitions otherwise)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    dirpath.mkdir(parents=True, exist_ok=True)
    n = len(df)
    # ~62k rows per file, capped at 64 parts (measured: 128 smaller parts
    # were ~1.6x slower end-to-end — per-task overhead beats tail savings)
    n_files = max(1, min(64, n // 16384) or min(n_files, n // 4096) or 1)
    step = (n + n_files - 1) // n_files
    for f in range(n_files):
        chunk = df.iloc[f * step : (f + 1) * step]
        if chunk.empty:
            break
        pq.write_table(
            pa.Table.from_pandas(chunk, preserve_index=False),
            dirpath / f"part-{f:04d}.parquet",
            row_group_size=16384,
            compression="zstd",
        )


def ensure_dataset(
    sf_dir: str, with_truth: bool = True, n_turns: int | None = None
) -> Path:
    """Idempotently materialize the synthetic dataset for one sf dir.

    Returns the directory containing transcripts.parquet, role_dim.parquet,
    tool_dim.parquet and (optionally) truth.parquet / truth_attrs.parquet.
    `n_turns` overrides the sf-derived size (used by the scaling bench).
    """
    if DATA_ROOT.parent.is_file():
        raise RuntimeError(
            f"no directory for generated data: {DATA_ROOT.parent} is the "
            "archive the package was loaded from; set SPARK_GRAFT_DATA_ROOT "
            "to a writable directory"
        )
    n = n_turns or n_turns_for_sf(sf_dir)
    out = DATA_ROOT / f"v{GEN_VERSION}_n{n}"
    marker = out / ("_SUCCESS_TRUTH" if with_truth else "_SUCCESS")
    if marker.exists() or (with_truth is False and (out / "_SUCCESS_TRUTH").exists()):
        if not (out / "metric_dim.parquet").exists():  # added post-v5
            write_metric_dim(out / "metric_dim.parquet")
        return out
    out.mkdir(parents=True, exist_ok=True)
    transcripts, truth, truth_attrs = generate_transcripts(n, with_truth=with_truth)
    _write_many(transcripts, out / "transcripts.parquet")
    _write(role_dim(), out / "role_dim.parquet")
    _write(tool_dim(), out / "tool_dim.parquet")
    write_metric_dim(out / "metric_dim.parquet")
    if with_truth:
        _write(truth, out / "truth.parquet")
        _write(truth_attrs, out / "truth_attrs.parquet")
    marker.touch()
    (out / "_SUCCESS").touch()
    return out
