"""Correctness checks against the generator's pandas truth.

Every check returns a list of problems; an operation whose list is not
empty counts as failed. HLL estimates are compared within ``HLL_TOL``
(lg_k 12 has about 1.6% standard error); everything else is exact.
"""

from __future__ import annotations

import hashlib
import json
from collections import defaultdict

from .inputs import Truth

HLL_TOL = 0.10


def result_hash(rows) -> str:
    """Order-insensitive hash of collected rows."""
    lines = sorted(json.dumps(r.asDict(recursive=True), sort_keys=True, default=str)
                   for r in rows)
    return hashlib.sha256("\n".join(lines).encode()).hexdigest()


def state_matches_batch(state, batch) -> list[str]:
    """Streaming state equals batch key_stats: counts, samples and taint
    exactly; HLL estimates within HLL_TOL (a union of per-batch sketches
    need not estimate exactly like one sketch over all values)."""
    def keyed(rows):
        return {(r["sink"], r["key"]): r for r in rows}

    a, b = keyed(state), keyed(batch)
    if set(a) != set(b):
        return [f"state keys differ from batch: {sorted(set(a) ^ set(b))}"]
    bad = []
    for k, ra in a.items():
        rb = b[k]
        same = all(ra[c] == rb[c] for c in ("count", "value_samples", "has_invalid_utf8"))
        if not same or not _near(ra["est_cardinality"], rb["est_cardinality"]):
            bad.append(f"state {k} {ra.asDict()} != batch {rb.asDict()}")
    return bad


def _near(est, true: int) -> bool:
    return est is not None and abs(est - true) <= max(1.0, HLL_TOL * true)


def key_stats(rows, truth: Truth, exact: bool) -> list[str]:
    got = {(r["sink"], r["key"]): (r["count"], r["est_cardinality"]) for r in rows}
    bad = [] if set(got) == set(truth.key_stats) else [
        f"key_stats keys {sorted(set(got) ^ set(truth.key_stats))}"]
    for k, (cnt, card) in got.items():
        want = truth.key_stats.get(k)
        if want is None:
            continue
        if cnt != want[0]:
            bad.append(f"key_stats {k} count {cnt} != {want[0]}")
        if (card != want[1]) if exact else not _near(card, want[1]):
            bad.append(f"key_stats {k} cardinality {card} vs {want[1]}")
    return bad


def catalog(rows, truth: Truth, exact: bool) -> list[str]:
    got = {r["key"]: (r["count"], r["est_cardinality"]) for r in rows}
    bad = [] if set(got) == set(truth.catalog) else [
        f"catalog keys {sorted(set(got) ^ set(truth.catalog))}"]
    for k, (cnt, card) in got.items():
        want = truth.catalog.get(k)
        if want is None:
            continue
        if cnt != want[0]:
            bad.append(f"catalog {k} count {cnt} != {want[0]}")
        if (card != want[1]) if exact else not _near(card, want[1]):
            bad.append(f"catalog {k} cardinality {card} vs {want[1]}")
    return bad


def sink_rows(counts: dict[str, int], truth: Truth) -> list[str]:
    bad = []
    if sum(counts.values()) != truth.n_turns:
        bad.append(f"sinks sum to {sum(counts.values())}, input has {truth.n_turns}")
    if counts != truth.sink_rows:
        bad.append(f"sink rows {counts} != {truth.sink_rows}")
    return bad


def service_stats(rows, truth: Truth) -> list[str]:
    got = {(r["sink"], r["role"], r["severity"]): [r["sample_count"], r["n_conversations"]]
           for r in rows}
    per_sink: dict[str, int] = defaultdict(int)
    for (sink, _, _), (n, _) in got.items():
        per_sink[sink] += n
    bad = sink_rows(dict(per_sink), truth)
    if got != truth.service:
        bad.append("service_stats differ from truth")
    return bad


def template_stats(rows, truth: Truth) -> list[str]:
    total = sum(r["count"] for r in rows)
    return [] if total == truth.n_turns else [f"templates count {total} turns"]


def watched_values(rows, truth: Truth) -> list[str]:
    got = {(r["key"], r["value"]): r["count"] for r in rows}
    return [] if got == truth.watched else ["watched_values differ from truth"]


def active_series(rows, truth: Truth, exact: bool) -> list[str]:
    bad = []
    counts = {r["sink"]: r["sample_count"] for r in rows}
    bad += sink_rows(counts, truth)
    for r in rows:
        want = truth.series.get(r["sink"], 0)
        got = r["active_series"]
        if (got != want) if exact else not _near(got, want):
            bad.append(f"active_series {r['sink']} {got} vs {want}")
    return bad


def untag(rows) -> dict[str, list[dict]]:
    """Split the rows of one tagged-union action back into its families."""
    fam: dict[str, list[dict]] = defaultdict(list)
    for r in rows:
        fam[r["agg"]].append(json.loads(r["row"]))
    return fam


def production_pass(rows, truth: Truth) -> list[str]:
    """Rows of the batch pass's one aggregate action (tagged to_json)."""
    fam = untag(rows)
    return (
        key_stats(fam["key_stats"], truth, exact=False)
        + catalog(fam["attribute_catalog"], truth, exact=False)
        + service_stats(fam["service_stats"], truth)
        + template_stats(fam["template_stats"], truth)
        + active_series(fam["active_series"], truth, exact=False)
    )
