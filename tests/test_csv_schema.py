"""Driver-side CSV typing (``sources/csv_schema.py``) against Spark's own
``inferSchema`` read of the same file as the oracle.

Each generated file holds dozens of columns, so one Spark inference pass
checks all of them: a schema the driver decides must equal Spark's names
and dtypes. Fixed files pin which files the driver decides and which it
leaves to Spark.
"""

from __future__ import annotations

import itertools

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from dwca_parquet_spark.sources import csv_schema
from dwca_parquet_spark.sources.csv_schema import infer_schema

_INTS = [
    "0", "-0", "+0", "007", "-007", "+12", "2147483647", "-2147483648",
    "2147483648", "-2147483649", "02147483648", "9223372036854775807",
    "-9223372036854775808", "9223372036854775808", "-9223372036854775809",
    "1" * 20, "9" * 38, "-" + "9" * 38, "1" * 39, "0" * 40 + "1",
]
_NUMBERS = [
    " 12", "12 ", "1d", "2.5f", "NaN", "Infinity", "-Infinity", "Inf",
    "0x1p3", "1e3", "1E-2", "1.", ".5", "-1.25", "+3.75", "0.0", "12.50",
]
_DATES = [
    "2010-02-28", "2000-02-29", "2024-02-29", "1582-10-10", "9999-12-31",
    "2010-02-30", "1900-02-29", "2010-13-01", "2010-00-10", "2010-1-1",
    "0999-01-01", "2010-05",
]
_TIMES = [
    "12:30", "2010-01-01T10:00:00", "2010-01-01 10:00", "2010-01-01T10:00:00Z",
    "2010-01-01T10:00:00.123+02:00",
]
_WORDS = [
    "TRUE", "false", "True", "yes", "n/a", "123+", "trait0", "urn:occ:7:1",
    "a,b", "x, y", "Ærø", "", "",
]
_POOLS = [_INTS, _NUMBERS, _DATES, _TIMES, _WORDS]
_SEPS = [",", "\t", ";"]


def _render(cell: str, sep: str) -> str:
    return f'"{cell}"' if sep in cell else cell


@st.composite
def _tables(draw):
    """(separator, header, rows): each column draws most cells from one
    pool and a few from any, so a column is often one type and sometimes a
    mix; empty cells everywhere."""
    sep = draw(st.sampled_from(_SEPS))
    n_cols = draw(st.integers(24, 40))
    n_rows = draw(st.integers(1, 8))
    header, cols = [], []
    for j in range(n_cols):
        home = draw(st.sampled_from(_POOLS))
        mixed = draw(st.sampled_from([home] * 12 + _POOLS))
        cell = st.one_of(st.sampled_from(home), st.sampled_from(mixed), st.just(""))
        cols.append(draw(st.lists(cell, min_size=n_rows, max_size=n_rows)))
        header.append(draw(st.sampled_from([f"c{j}", f"c {j}", f"C{j}x"])))
    return sep, header, [list(r) for r in zip(*cols)]


def _spark_schema(spark, path, options):
    return spark.read.options(**options).csv(str(path)).schema


def _options(sep: str, encoding: str = "UTF-8") -> dict[str, str]:
    return {
        "header": "true", "sep": sep, "encoding": encoding, "multiLine": "false",
        "inferSchema": "true", "samplingRatio": "1.0",
    }


@settings(
    max_examples=30, deadline=None, derandomize=True, database=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
@given(table=_tables())
def test_driver_schema_matches_spark(spark, tmp_path, table):
    sep, header, rows = table
    path = tmp_path / "layer.csv"
    lines = [sep.join(header)] + [sep.join(_render(c, sep) for c in r) for r in rows]
    path.write_text("\n".join(lines) + "\n", encoding="utf-8")
    options = _options(sep)
    ours = infer_schema(spark, path, options)
    if ours is not None:
        assert ours == _spark_schema(spark, path, options)


def test_cells_typed_one_by_one_match_spark(spark, tmp_path):
    """Every cell of the pools alone in a column, all in one file: the
    per-cell types, including the bulk classes' boundaries, are Spark's."""
    cells = [c for c in itertools.chain(*_POOLS) if c]
    path = tmp_path / "cells.csv"
    header = ",".join(f"c{i}" for i in range(len(cells)))
    path.write_text(header + "\n" + ",".join(_render(c, ",") for c in cells) + "\n")
    options = _options(",")
    ours = infer_schema(spark, path, options)
    assert ours is not None
    assert ours == _spark_schema(spark, path, options)


def test_bulk_class_boundaries_within_a_column(spark, tmp_path):
    """Values either side of each integer class boundary share a column,
    in both orders: one representative per class must give the column
    Spark's type, and a bigint beside a decimal(19,0), whose type depends
    on which comes first, is left to Spark."""
    sides = [
        ("2147483647", "2147483648"), ("-2147483648", "-2147483649"),
        ("9223372036854775807", "9223372036854775808"),
        ("-9223372036854775808", "-9223372036854775809"),
        ("1" * 20, "9" * 38), ("9" * 38, "1" * 39), ("123456789", "1234567890"),
    ]
    cols = [pair for a, b in sides for pair in ((a, b), (b, a))]
    path = tmp_path / "bounds.csv"
    lines = [",".join(f"c{i}" for i in range(len(cols)))]
    lines += [",".join(col[row] for col in cols) for row in (0, 1)]
    path.write_text("\n".join(lines) + "\n")
    options = _options(",")
    assert infer_schema(spark, path, options) is None
    mixed = {2 * i for i, (a, b) in enumerate(sides) if len(a.lstrip("-")) == 19}
    keep = [i for i in range(len(cols)) if i not in mixed and i - 1 not in mixed]
    lines = [",".join(f"c{i}" for i in keep)]
    lines += [",".join(cols[i][row] for i in keep) for row in (0, 1)]
    path.write_text("\n".join(lines) + "\n")
    ours = infer_schema(spark, path, options)
    assert ours is not None
    assert ours == _spark_schema(spark, path, options)


@pytest.mark.parametrize(
    "name, data, encoding",
    [
        ("bom", b"\xef\xbb\xbfid,name\n1,a\n", "UTF-8"),
        ("bom_latin1", b"\xef\xbb\xbfid,name\n1,a\n", "ISO-8859-1"),
        ("quoted_header", b'"id","name"\n1,"a,b"\n2,""\n', "UTF-8"),
        ("padded_header", b"id, name\n1, a\n", "UTF-8"),
        ("crlf", b"id,name\r\n1,a\r\n2,\r\n", "UTF-8"),
        ("header_only", b"id,name\n", "UTF-8"),
        ("all_empty", b"id,name\n,\n,\n", "UTF-8"),
        ("latin1", "id,name\n1,Ærø\n".encode("latin-1"), "ISO-8859-1"),
    ],
)
def test_decided_files_match_spark(spark, tmp_path, name, data, encoding):
    path = tmp_path / f"{name}.csv"
    path.write_bytes(data)
    options = _options(",", encoding)
    ours = infer_schema(spark, path, options)
    assert ours is not None
    assert ours == _spark_schema(spark, path, options)


@pytest.mark.parametrize(
    "name, data, sep",
    [
        ("multi_char_sep", b"a~~b\n1~~2\n", "~~"),
        ("short_row", b"a,b\n1,2\n3\n", ","),
        ("backslash", b"a,b\n1,x\\y\n", ","),
        ("quote_in_quoted", b'a,b\n1,"x""y"\n', ","),
        ("text_after_quote", b'a,b\n1,"x"y\n', ","),
        ("empty_name", b"a,,c\n1,2,3\n", ","),
        ("names_equal_ignoring_case", b"a,A\n1,2\n", ","),
        ("header_repeated", b"a,b\n1,2\na,b\n", ","),
        ("blank_line", b"a\tb\n1\t2\n \t \n", "\t"),
        ("order_dependent", b"a\n2010-01-01\n1\n", ","),
        ("decimal_then_int", b"a\n1.\n5\n", ","),
        ("year_after_timestamp", b"a\n12:30\n2010\n", ","),
        ("bom_in_data", b"a,b\n\xef\xbb\xbf1,2\n", ","),
    ],
)
def test_undecided_files_left_to_spark(spark, tmp_path, name, data, sep):
    path = tmp_path / f"{name}.csv"
    path.write_bytes(data)
    assert infer_schema(spark, path, _options(sep)) is None


def test_round_budget(spark, tmp_path, monkeypatch):
    """A column whose distinct non-bulk cells outlast the rounds without a
    string is left to Spark; one that reaches a string within them is
    not."""
    monkeypatch.setattr(csv_schema, "_MAX_ROUNDS", 3)
    path = tmp_path / "times.csv"
    stamps = [f"2010-01-0{d}T10:00:00" for d in range(1, 6)]
    path.write_text("t\n" + "\n".join(stamps) + "\n")
    assert infer_schema(spark, path, _options(",")) is None
    path.write_text("t\n" + "\n".join(["x"] + stamps) + "\n")
    assert infer_schema(spark, path, _options(",")) == _spark_schema(
        spark, path, _options(",")
    )
