from __future__ import annotations

import pytest


@pytest.fixture(scope="session")
def spark():
    from otlp_cardinality_checker_spark.session import get_spark

    # a codegen compile failure raises instead of running interpreted
    s = get_spark(
        app_name="pytest",
        shuffle_partitions=8,
        extra_conf={"spark.sql.codegen.fallback": "false"},
    )
    yield s
    s.stop()


@pytest.fixture(scope="session")
def count_jobs(spark):
    """``count_jobs(fn)`` calls ``fn()`` and returns its result with the
    number of Spark jobs submitted meanwhile."""
    scheduler = spark.sparkContext._jsc.sc().dagScheduler()

    def count(fn):
        before = scheduler.numTotalJobs()
        result = fn()
        return result, scheduler.numTotalJobs() - before

    return count


@pytest.fixture(scope="session")
def tiny_frames():
    """FIXTURES.md tiny scale: 20 conv x 10 turns = 200 rows (plus truth)."""
    from otlp_cardinality_checker_spark.datagen import generate_transcripts

    return generate_transcripts(200)


@pytest.fixture(scope="session")
def tiny_routed(spark, tiny_frames):
    from otlp_cardinality_checker_spark.datagen import role_dim, tool_dim
    from otlp_cardinality_checker_spark.operators.enrich import enrich_turns
    from otlp_cardinality_checker_spark.operators.parse import parse_turns
    from otlp_cardinality_checker_spark.operators.route import route_turns

    transcripts, _, _ = tiny_frames
    df = spark.createDataFrame(transcripts)
    # tiny scale: role_dim deliberately missing `system` (FIXTURES.md §2)
    rd = spark.createDataFrame(role_dim(include_system=False))
    td = spark.createDataFrame(tool_dim())
    return route_turns(enrich_turns(parse_turns(df), rd, td)).cache()


def _char_entropy_of(text):
    """Scalar char_entropy row: (n_letters, entropy) over the lowercased
    a-z counts, -p*ln(p) summed in the Catalyst projection's a..z term
    order and rounded HALF_UP to 4 places as Spark's round() does."""
    import math
    from decimal import ROUND_HALF_UP, Decimal

    if text is None:  # length(NULL) propagates; every term falls to 0.0
        return None, 0.0
    lower = text.lower()
    counts = [lower.count(c) for c in "abcdefghijklmnopqrstuvwxyz"]
    total = sum(counts)
    safe = float(max(total, 1))
    ent = 0.0
    for cnt in counts:
        ent += -(cnt / safe) * math.log(cnt / safe) if cnt > 0 else 0.0
    rounded = Decimal(repr(ent)).quantize(Decimal("0.0001"), ROUND_HALF_UP)
    return total, float(rounded)


@pytest.fixture(scope="session")
def char_entropy_ref():
    return _char_entropy_of
