"""CSV validation + typed ingest with quarantine.

Reference parity (upgraded):
- validate_csv_file: existence → error, non-.csv extension → warning but
  proceed, emits fileName/fileSize — exactly the reference's soft predicate
  (/root/reference/src/utils/fileHandling.js:12-38).
- ingest_csv: where the reference reads the whole file into driver RAM as
  an opaque buffer (fileHandling.js:45-47 — its scalability ceiling), we
  do a splittable, typed, PERMISSIVE-mode Spark scan: bad rows land in a
  corrupt-record column and are split into a quarantine DataFrame instead
  of silently proceeding. At 100 TB this is executor-parallel and never
  materializes the file anywhere.

One scan per upload: ingest_csv builds the scan lazily, uncached, and runs
no job. One `Observation` sits on the scan before the good/quarantine
split and counts every row and every corrupt row. The sink's parquet write
(`IngestResult.write`) is the only job; it fires the observation, so the
counts come from the same pass that writes the rows. Nothing is persisted,
so a file rewritten at the same path is read afresh. The observation also
carries a pin metric over every spec column: without a cache it is what
keeps Catalyst from pruning the CSV scan to the columns a consumer asks
for, which would change the PERMISSIVE verdicts.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import types as T

from .spec import PipelineSpec

CORRUPT_COL = "_corrupt_record"


@dataclass
class ValidationResult:
    success: bool
    file_name: str = ""
    file_size_kb: str = ""
    error: str | None = None
    warning: str | None = None


def validate_csv_file(path: str) -> ValidationResult:
    """Pre-flight predicate: missing file is an error; a non-.csv extension
    is only a warning (proceed anyway), matching the reference's semantics
    at fileHandling.js:25-30."""
    if not os.path.exists(path):
        return ValidationResult(False, error=f"File not found: {path}")
    name = os.path.basename(path)
    size_kb = f"{os.path.getsize(path) / 1024:.2f}"
    warning = None
    if not name.lower().endswith(".csv"):
        warning = f"File does not have .csv extension: {name}"
    return ValidationResult(True, file_name=name, file_size_kb=size_kb, warning=warning)


@dataclass
class IngestResult:
    """The split of one lazy, uncached CSV scan.

    ``observed`` is the scan with the count observation attached, before
    the split; ``good`` and ``quarantine`` both derive from it. The counts
    are read from ``observation``: ``write`` fills them with the sink's
    own scan, and reading them before any write runs one noop write of
    ``observed``. An action that stops early (``show``, ``limit``) also
    fills the observation, with partial counts, so read the counts or
    write before running one.
    """

    good: DataFrame
    quarantine: DataFrame
    observed: DataFrame
    observation: Observation
    _scan: str = field(default="pending", repr=False)  # pending | done | failed
    _counts: tuple[int, int] | None = field(default=None, repr=False)

    def write(self, path: str) -> None:
        """Sink ``good`` with ``write_table``; its one scan fills the counts."""
        self._run_scan(lambda: write_table(self.good, path))

    @property
    def n_good(self) -> int:
        return self._read_counts()[0]

    @property
    def n_quarantined(self) -> int:
        return self._read_counts()[1]

    def _run_scan(self, action) -> None:
        """Run an action that scans the whole file. After a failed one the
        observation may hold a partial run's metrics, so the counts stay
        unreadable even if a later action succeeds."""
        try:
            action()
        except BaseException:
            self._scan = "failed"
            raise
        if self._scan == "pending":
            self._scan = "done"

    def _read_counts(self) -> tuple[int, int]:
        if self._counts is None:
            if self._scan == "failed":
                raise RuntimeError("a scan of the file failed, so its counts are partial")
            if self._scan == "pending":  # nothing has scanned the file yet
                self._run_scan(self.observed.write.mode("overwrite").format("noop").save)
            m = self.observation.get
            self._counts = (m["n_total"] - m["n_bad"], m["n_bad"])
        return self._counts


def ingest_csv(spark: SparkSession, path: str, spec: PipelineSpec) -> IngestResult:
    """Typed PERMISSIVE CSV scan with quarantine split; runs no Spark job.

    Parse failures don't kill the load (the reference proceeds blindly; we
    proceed *accountably*): rows that fail the schema land in the
    quarantine frame with their raw text preserved for replay.
    """
    schema_with_corrupt = T.StructType(
        list(spec.schema.fields) + [T.StructField(CORRUPT_COL, T.StringType())]
    )
    raw = (
        spark.read.option("header", True)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", CORRUPT_COL)
        .schema(schema_with_corrupt)
        .csv(path)
    )
    observation = Observation()
    observed = raw.observe(
        observation,
        # count(col) counts non-nulls, so corrupt rows are exactly its value
        F.count(F.lit(1)).alias("n_total"),
        F.count(F.col(CORRUPT_COL)).alias("n_bad"),
        # The pin: a metric over every spec column stops Catalyst from
        # pruning the scan below the observation, so every consumer gets
        # full-row PERMISSIVE verdicts. count(struct(...)) would not pin:
        # the optimizer rewrites it to count(1).
        F.max(F.xxhash64(*[F.col(f"`{f.name}`") for f in spec.schema.fields])).alias("pin"),
    )
    good = observed.filter(F.col(CORRUPT_COL).isNull()).drop(CORRUPT_COL)
    if spec.column_mapping:
        for src, dst in spec.column_mapping.items():
            good = good.withColumnRenamed(src, dst)
    quarantine = observed.filter(F.col(CORRUPT_COL).isNotNull()).select(
        F.col(CORRUPT_COL).alias("raw_record"),
        F.input_file_name().alias("source_file"),
    )
    return IngestResult(good, quarantine, observed, observation)


def write_table(df: DataFrame, path: str, mode: str = "overwrite", fmt: str = "parquet") -> None:
    """Storage sink (reference A10's upload analog for file targets)."""
    df.write.mode(mode).format(fmt).save(path)
