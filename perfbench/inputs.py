"""Seeded transcript inputs and their pandas truth.

Rows come from ``datagen``'s pure per-row functions over a seed-shifted
row range, so the same seed always gives the same files. They are laid out
where ``sources.transcripts`` looks for a dataset (``SPARK_GRAFT_DATA_ROOT``),
so the program's own scan reads them and nothing else. Truth is derived
with the pandas twins in ``functions`` (severity, attributes), which do not
go through the Catalyst engine the pipeline runs on.
"""

from __future__ import annotations

import os
from collections import Counter
from dataclasses import dataclass, field
from pathlib import Path

SINKS = ("chat", "error", "tool_call")
WATCHED_KEYS = ("user_id", "tool_name")
# seed s reads rows [s * SEED_STRIDE, s * SEED_STRIDE + n): a whole number
# of conversations, so every conversation in a dataset is complete
SEED_STRIDE = 2_000_000


@dataclass
class Truth:
    n_turns: int
    sink_rows: dict[str, int]
    # (sink, key) -> [count, distinct values]; key -> [count, distinct]
    key_stats: dict[tuple[str, str], list[int]]
    catalog: dict[str, list[int]]
    # (sink, role, severity) -> [rows, distinct conv_id]
    service: dict[tuple[str, str, str], list[int]]
    # (key, value) -> rows, for the watched keys
    watched: dict[tuple[str, str], int]
    # sink -> distinct (role, service, attrs) fingerprints
    series: dict[str, int]

    def corrupt(self) -> None:
        """Break the expectation on purpose (self-test of the checks)."""
        self.sink_rows["chat"] += 1
        first = sorted(self.key_stats)[0]
        self.key_stats[first][0] += 1
        self.catalog[first[1]][0] += 1


@dataclass
class Dataset:
    sf_dir: str
    n_turns: int
    n_files: int
    n_bytes: int
    n_convs: int
    truth: Truth
    stream_files: list[Path] = field(default_factory=list)


def _rows(seed: int, n_turns: int):
    import numpy as np
    import pandas as pd

    from otlp_cardinality_checker_spark import datagen as dg

    offset = (seed % 100_000) * SEED_STRIDE
    idx = range(offset, offset + n_turns)
    roles = [dg._role_of(i) for i in idx]
    tools = [dg._tool_of(i) if r == "tool" else None for i, r in zip(idx, roles)]
    texts = [dg._text_of(i, r, t) for i, r, t in zip(idx, roles, tools)]
    local = np.arange(n_turns, dtype=np.int64)
    return pd.DataFrame(
        {
            "conv_id": pd.array(
                [f"conv_{i // dg.TURNS_PER_CONV:010d}" for i in idx], dtype="string"
            ),
            "turn_idx": ((local + offset) % dg.TURNS_PER_CONV).astype(np.int32),
            "role": pd.array(roles, dtype="string"),
            "text": pd.array(texts, dtype="string"),
            "tool": pd.array(tools, dtype="string"),
            # microsecond precision: Spark cannot read TIMESTAMP(NANOS)
            "ts": (
                pd.Timestamp("2026-01-01T00:00:00")
                + pd.to_timedelta(local, unit="s")
            ).astype("datetime64[us]"),
        }
    )


def _truth(df) -> Truth:
    import pandas as pd

    from otlp_cardinality_checker_spark import datagen as dg
    from otlp_cardinality_checker_spark.functions.attributes import (
        ATTRIBUTE_KEYS,
        attrs_frame,
    )
    from otlp_cardinality_checker_spark.functions.severity import UNSET, severity_series

    text = df["text"].fillna("")
    sev = pd.Series(severity_series(text), index=df.index)
    dim = dg.role_dim().set_index("role")
    sev = sev.where(sev != UNSET, df["role"].map(dim["severity_default"]).astype(object))
    sink = pd.Series("chat", index=df.index, dtype=object)
    sink[sev == "ERROR"] = "error"
    sink[df["tool"].notna()] = "tool_call"

    attrs = attrs_frame(text)
    key_stats: dict[tuple[str, str], list[int]] = {}
    catalog: dict[str, list[int]] = {}
    watched: dict[tuple[str, str], int] = {}
    pairs = pd.Series("", index=df.index, dtype=object)
    for key in ATTRIBUTE_KEYS:
        v = attrs[key]
        present = v.notna()
        if not present.any():
            continue
        vals = v[present].astype(str)
        for s, grp in vals.groupby(sink[present]):
            key_stats[(s, key)] = [len(grp), grp.nunique()]
        catalog[key] = [len(vals), vals.nunique()]
        if key in WATCHED_KEYS:
            watched.update(((key, val), int(c)) for val, c in vals.value_counts().items())
        # keys are visited in one fixed order, so equal attr sets give
        # equal strings
        pairs[present] = pairs[present] + key + "=" + vals + ","

    role_class = df["role"].map(dim["role_class"]).astype(object)
    fp = df["role"].astype(object) + "|" + role_class + "|" + pairs
    series = {s: int(g.nunique()) for s, g in fp.groupby(sink)}
    svc = pd.DataFrame({"sink": sink, "role": df["role"].astype(object), "sev": sev,
                        "conv": df["conv_id"].astype(object)})
    service = {
        k: [int(len(g)), int(g["conv"].nunique())]
        for k, g in svc.groupby(["sink", "role", "sev"])
    }
    return Truth(
        n_turns=len(df),
        sink_rows={s: int(c) for s, c in Counter(sink).items()},
        key_stats=key_stats,
        catalog=catalog,
        service=service,
        watched=watched,
        series=series,
    )


def _write_parts(df, out: Path, n_parts: int) -> list[Path]:
    import pyarrow as pa
    import pyarrow.parquet as pq

    out.mkdir(parents=True, exist_ok=True)
    step = -(-len(df) // n_parts)
    paths = []
    for p in range(n_parts):
        chunk = df.iloc[p * step : (p + 1) * step]
        path = out / f"part-{p:05d}.parquet"
        pq.write_table(
            pa.Table.from_pandas(chunk, preserve_index=False),
            path,
            row_group_size=16384,
            compression="zstd",
        )
        paths.append(path)
    return paths


def make_dataset(
    seed: int, n_turns: int, n_files: int, stream_files: int = 0
) -> Dataset:
    """Write one seeded dataset where ``sources.transcripts`` finds it.

    ``stream_files`` > 0 also stages the rows, in order, as that many files
    in the directory ``streaming.stream.run_stream`` reads, so each file
    becomes one micro-batch.
    """
    from otlp_cardinality_checker_spark import datagen as dg

    sf_dir = f"sf{n_turns / 5_000_000:g}"
    if dg.n_turns_for_sf(sf_dir) != n_turns:
        raise ValueError(f"{n_turns} turns has no sf-dir name")
    if n_turns % dg.TURNS_PER_CONV:
        raise ValueError("n_turns must be a whole number of conversations")
    df = _rows(seed, n_turns)
    data_dir = dg.DATA_ROOT / f"v{dg.GEN_VERSION}_n{n_turns}"
    parts = _write_parts(df, data_dir / "transcripts.parquet", n_files)
    dg._write(dg.role_dim(), data_dir / "role_dim.parquet")
    dg._write(dg.tool_dim(), data_dir / "tool_dim.parquet")
    dg.write_metric_dim(data_dir / "metric_dim.parquet")
    # markers: ensure_dataset treats the directory as complete
    (data_dir / "_SUCCESS_TRUTH").touch()
    (data_dir / "_SUCCESS").touch()
    staged: list[Path] = []
    if stream_files:
        from otlp_cardinality_checker_spark.sources.transcripts import truth_paths

        src = Path(truth_paths(sf_dir)["transcripts"]).parent / "stream_src"
        staged = _write_parts(df, src, stream_files)
        (src / "_SUCCESS").touch()
    return Dataset(
        sf_dir=sf_dir,
        n_turns=n_turns,
        n_files=len(parts),
        n_bytes=sum(os.path.getsize(p) for p in parts),
        n_convs=int(df["conv_id"].nunique()),
        truth=_truth(df),
        stream_files=staged,
    )
