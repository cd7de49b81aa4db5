"""The cross-engine hash contract (operators/crosshash.py): the md5 prefix
width it refuses, and a scan that keeps every hash both engines must agree
on spelled in that one module."""

from __future__ import annotations

import io
import pathlib
import re
import tokenize

import pyspark.sql.functions as F
import pytest

from vena_etl_tool_spark.operators.crosshash import duck_md5_int, md5_int, spark_md5_int


@pytest.mark.parametrize("digits", [0, 16, 32])
def test_md5_int_rejects_digits_outside_1_15(spark, digits):
    """16 hex digits overflow a signed BIGINT (differently in Spark and
    DuckDB), so every spelling refuses the width when the query is built."""
    with pytest.raises(ValueError, match="1-15"):
        md5_int(F.col("s"), digits)
    with pytest.raises(ValueError, match="1-15"):
        spark_md5_int("s", digits)
    with pytest.raises(ValueError, match="1-15"):
        duck_md5_int("s", digits)


_PKG = pathlib.Path(__file__).resolve().parents[1] / "vena_etl_tool_spark"
_COPY_PATTERNS = (
    re.compile(r"substr\(md5\("),
    re.compile(r"F\.substring\(F\.md5\("),
    re.compile(r"F\.conv\("),
    re.compile(r"%\s*MERSENNE"),
    re.compile(r"%\s*\{MERSENNE\}"),
    re.compile(r"F\.lit\(MERSENNE\)"),
    re.compile(r"CAST\(mh\{"),
)


def _code_without_comments(path: pathlib.Path) -> str:
    """The source with each comment cut off its line and everything else
    kept verbatim (``tokenize.untokenize`` would respace ``F.conv(`` to
    ``F .conv (``)."""
    lines = path.read_text().splitlines(keepends=True)
    for t in tokenize.generate_tokens(io.StringIO("".join(lines)).readline):
        if t.type == tokenize.COMMENT:
            row, col = t.start
            lines[row - 1] = lines[row - 1][:col] + "\n"
    return "".join(lines)


def hand_copies(pkg: pathlib.Path) -> list[str]:
    """Every md5-prefix, permutation or band-key spelling in ``pkg`` outside
    operators/crosshash.py."""
    offenders = []
    for path in sorted(pkg.rglob("*.py")):
        if path.relative_to(pkg).as_posix() == "operators/crosshash.py":
            continue
        code = _code_without_comments(path)
        for pat in _COPY_PATTERNS:
            for m in pat.finditer(code):
                offenders.append(f"{path.relative_to(pkg)}: {m.group(0)}")
    return offenders


def test_cross_engine_hashes_are_spelled_only_in_crosshash():
    """md5 bridges, the split prefix, MinHash permutations and band keys
    are written in operators/crosshash.py and nowhere else in the package:
    every other site must call it."""
    offenders = hand_copies(_PKG)
    assert not offenders, "hash copies outside crosshash.py:\n" + "\n".join(offenders)
