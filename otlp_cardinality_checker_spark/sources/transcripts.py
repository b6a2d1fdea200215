"""Transcript source: Iceberg when available, parquet otherwise.

The production target is an Iceberg table (north rule); this container has
no Iceberg runtime jar, so the loader gates on catalog availability and
falls back to the deterministic parquet fixtures written by ``datagen``.
Both paths yield the `input_hint` columns, ``TRANSCRIPT_SCHEMA`` below.
"""

from __future__ import annotations

from pathlib import Path

from pyspark.sql import DataFrame
from pyspark.sql import functions as F, SparkSession

from ..datagen import ensure_dataset

# The columns of transcripts.parquet as ``datagen`` writes them: pandas'
# naive datetimes are parquet timestamps without a zone, read as
# timestamp_ntz. Every read of these files declares its schema, since a
# parquet read without one runs a footer-reading Spark job per call.
TRANSCRIPT_SCHEMA = (
    "conv_id string, turn_idx int, role string, text string, "
    "tool string, ts timestamp_ntz"
)
# The same columns with ``ts`` as a timestamp, the event time the streams
# and the JSON-lines reader use; under the sessions' UTC zone the
# wall-clock values are the same.
TRANSCRIPT_EVENT_SCHEMA = TRANSCRIPT_SCHEMA.replace("_ntz", "")
ROLE_DIM_SCHEMA = "role string, role_class string, severity_default string"
TOOL_DIM_SCHEMA = "tool string, tool_family string, is_privileged boolean"
JSONL_SCHEMA = f"{TRANSCRIPT_EVENT_SCHEMA}, _corrupt_record string"


def _iceberg_available(spark: SparkSession) -> bool:
    try:
        spark._jvm.java.lang.Class.forName(  # type: ignore[union-attr]
            "org.apache.iceberg.spark.SparkCatalog"
        )
        return True
    except Exception:
        return False


def load_transcripts(
    spark: SparkSession,
    sf_dir: str,
    with_truth: bool = True,
    n_turns: int | None = None,
) -> DataFrame:
    """The transcripts of ``sf_dir``'s dataset (or of the ``n_turns``
    override). The parquet read declares ``TRANSCRIPT_SCHEMA``, so
    building the frame runs no Spark job."""
    data_dir = ensure_dataset(sf_dir, with_truth=with_truth, n_turns=n_turns)
    if _iceberg_available(spark):  # pragma: no cover - no jar in container
        table = f"transcripts_n{data_dir.name}"
        try:
            return spark.read.format("iceberg").load(table)
        except Exception:
            pass
    return spark.read.schema(TRANSCRIPT_SCHEMA).parquet(
        str(data_dir / "transcripts.parquet")
    )


def load_dims(
    spark: SparkSession, sf_dir: str, n_turns: int | None = None
) -> tuple[DataFrame, DataFrame]:
    """(role_dim, tool_dim) from the dataset directory of ``sf_dir``, or of
    the ``n_turns`` override. The dims need no truth, so a dataset already
    written without it is read as it is, not regenerated. Both reads
    declare their schema, so building the frames runs no Spark job."""
    data_dir = ensure_dataset(sf_dir, with_truth=False, n_turns=n_turns)
    return (
        spark.read.schema(ROLE_DIM_SCHEMA).parquet(
            str(data_dir / "role_dim.parquet")
        ),
        spark.read.schema(TOOL_DIM_SCHEMA).parquet(
            str(data_dir / "tool_dim.parquet")
        ),
    )


def truth_paths(sf_dir: str) -> dict[str, str]:
    data_dir = ensure_dataset(sf_dir)
    return {
        # transcripts is a directory of parts; DuckDB needs the glob form
        "transcripts": str(data_dir / "transcripts.parquet" / "*.parquet"),
        "role_dim": str(data_dir / "role_dim.parquet"),
        "tool_dim": str(data_dir / "tool_dim.parquet"),
        "truth": str(data_dir / "truth.parquet"),
        "truth_attrs": str(data_dir / "truth_attrs.parquet"),
    }


def load_transcripts_jsonl(spark: SparkSession, path: str) -> DataFrame:
    """Second ingest format: newline-delimited JSON transcripts.

    Explicit schema (never inferSchema — a schema-inference pass is a full
    extra read at 100 TB) with PERMISSIVE corrupt-record capture: malformed
    lines land in `_corrupt_record` instead of failing the job, so a bad
    producer degrades to a quantifiable drop rate, not an outage. Callers
    split on `_corrupt_record IS NULL` and route the rejects to a
    quarantine sink — via :func:`split_jsonl_quarantine`, because Spark
    rejects queries referencing only the internal corrupt-record column of
    a raw JSON scan (SPARK-21610) unless the frame is cached first.
    """
    return (
        spark.read.schema(JSONL_SCHEMA)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .option("timestampFormat", "yyyy-MM-dd HH:mm:ss")
        .json(path)
    )


def split_jsonl_quarantine(df: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(good, quarantine) split of a :func:`load_transcripts_jsonl` frame.

    Spark disallows queries that reference ONLY the internal corrupt
    record column of a raw JSON scan (SPARK-21610) — e.g. counting the
    rejects after column pruning — so this helper caches the parsed frame
    once before splitting. Both halves share that one materialization;
    callers that only need the good rows can keep using the loader
    directly.
    """
    cached = df.cache()
    good = cached.where(F.col("_corrupt_record").isNull()).drop(
        "_corrupt_record"
    )
    bad = cached.where(F.col("_corrupt_record").isNotNull())
    return good, bad
