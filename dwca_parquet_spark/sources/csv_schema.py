"""A staged CSV file's schema, inferred on the driver by Spark's own rules.

Spark's CSV reader with ``inferSchema`` runs two jobs before it returns a
frame: a ``take(1)`` for the header and a scan of every row
(``samplingRatio=1.0``). A DwC-A layer is already a file on the driver's
local disk (``dwca.stage_archive``), so :func:`infer_schema` types it there,
with no Spark job, and the reader gets the result as ``.schema(...)``:

1. One Arrow read of the file, every column as strings. Its first row is
   the header, so this read is the layer's one header parse. Empty cells
   are dropped, as Spark's ``inferField`` skips them.
2. Each column's distinct cells are sorted into classes in bulk: plain
   integers by magnitude (int, bigint, decimal(p,0) by precision, double
   past 38 digits), ``d+.d+`` literals and strict ``yyyy-MM-dd`` calendar
   dates. One cell stands for each class.
3. Those representatives and every other distinct cell are typed by
   Spark's own ``CSVInferSchema``, built on the driver JVM from the
   reader's option map: ``inferRowType`` types one cell of every column
   per call and ``mergeRowTypes`` merges each column's types. A column
   stops at its first string. ``toStructFields`` names the result.

Spark folds the rows in file order, and the fold depends on that order
where two of a column's types have no common type (a date, then "1", ends
as a timestamp; "1", then a date, as a string) and where a decimal meets
an int or bigint ("1." then "5" is decimal(1,0); "5" then "1." is
decimal(10,0)). A column that meets such a pair, and a file the Arrow
read may not split into the cells Spark's reader sees, make
:func:`infer_schema` return None: the caller then lets Spark infer the
file.
"""

from __future__ import annotations

import codecs
import json
import re
from collections.abc import Iterator
from contextlib import contextmanager
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.csv as pacsv
from py4j.java_gateway import JavaClass
from pyspark.sql import SparkSession
from pyspark.sql.types import StructType

# Python codec name → Arrow's name, for the charsets where Java and Python
# decode every byte the same way
_ENCODINGS = {"utf-8": "utf8", "iso8859-1": "latin1"}
# inferRowType calls per file: a column with more distinct cells outside the
# bulk classes that never types as string is left to Spark
_MAX_ROUNDS = 16
# the pass peaks at about ten times the file size in driver memory (a 7 MB
# layer: +72 MB); larger files are typed by Spark's scan
_MAX_BYTES = 64 << 20
_INT = r"^[+-]?[0-9]+$"
_FRACTION = r"^[+-]?[0-9]+\.[0-9]+$"
_BULK_SHAPES = r"^(?:[+-]?[0-9]+(?:\.[0-9]+)?|[1-9][0-9]{3}-[0-9]{2}-[0-9]{2})$"
# a cell String.trim empties: Spark drops a line that trims to nothing
_BLANK = r"^[\x00-\x20]+$"
_BOM = codecs.BOM_UTF8


def infer_schema(
    spark: SparkSession, path: Path, options: dict[str, str]
) -> StructType | None:
    """The schema Spark's ``inferSchema`` read of ``path`` with the reader
    options ``options`` (``header`` true, ``multiLine`` false) gives, or
    None where it cannot be decided exactly without Spark's scan."""
    table = _read_strings(path, options["sep"], options["encoding"])
    if table is None:
        return None
    header = [col[0].as_py() for col in table.columns]
    # Spark renames empty and case-insensitively equal names by position
    if not all(header) or len({h.lower() for h in header}) < len(header):
        return None
    rows = table.slice(1)
    # Spark's inference drops every line equal to the header line
    if _has_header_row(rows, header):
        return None
    # with a blank separator, or one column, a line of blank cells is a
    # blank line, which Spark drops
    blank_lines = options["sep"] <= " " or len(header) == 1
    if blank_lines and any(re.search(_BLANK, h) for h in header):
        return None
    cells = []
    for col in rows.columns:
        distinct = pc.unique(col.drop_null())
        if blank_lines and pc.any(pc.match_substring_regex(distinct, _BLANK)).as_py():
            return None
        cells.append(_candidates(distinct))
    return _spark_types(spark, options, header, cells)


def _read_strings(path: Path, sep: str, encoding: str) -> pa.Table | None:
    """Every cell of ``path`` as a string (header row first), where Arrow
    splits the file into the same cells as Spark's reader."""
    try:
        arrow_encoding = _ENCODINGS.get(codecs.lookup(encoding).name)
    except LookupError:
        return None
    if (
        arrow_encoding is None
        or len(sep) != 1
        or not sep.isascii()
        or sep in '"\\\r\n'
        or path.stat().st_size > _MAX_BYTES
    ):
        return None
    # Hadoop's line reader drops a UTF-8 byte order mark that starts the
    # file, whatever the charset; Spark's CSV parser drops one that starts
    # any UTF-8 line
    raw = path.read_bytes().removeprefix(_BOM)
    if arrow_encoding == "utf8" and _BOM in raw:
        return None
    # Spark's escape character, and its comment character (a line that
    # starts with NUL is dropped)
    if b"\\" in raw or b"\x00" in raw:
        return None
    if b'"' in raw and not _quotes_delimit_fields(raw, sep.encode()):
        return None
    first = re.search(rb"[^\r\n]+", raw)
    width = first[0].count(sep.encode()) + 1 if first else 1
    try:
        return pacsv.read_csv(
            pa.py_buffer(raw),
            read_options=pacsv.ReadOptions(
                autogenerate_column_names=True, encoding=arrow_encoding
            ),
            parse_options=pacsv.ParseOptions(delimiter=sep),
            convert_options=pacsv.ConvertOptions(
                column_types={f"f{i}": pa.string() for i in range(width)},
                null_values=[""],
            ),
        )
    except pa.ArrowInvalid:  # a row of another width, or invalid UTF-8
        return None


def _quotes_delimit_fields(raw: bytes, sep: bytes) -> bool:
    """Every quote in ``raw`` opens or closes a whole field on one line
    with no quote inside it: the quoting Arrow and Spark's reader split
    alike. Such quotes pair up in file order."""
    data = np.frombuffer(raw, np.uint8)
    quotes = np.flatnonzero(data == ord('"'))
    if len(quotes) % 2:
        return False
    opens, closes = quotes[::2], quotes[1::2]
    bound = np.zeros(256, bool)
    bound[[ord(sep), ord("\r"), ord("\n")]] = True
    line_ends = np.flatnonzero(bound[data] & (data != ord(sep)))
    last = len(data) - 1
    return bool(
        np.all((opens == 0) | bound[data[opens - 1]])
        and np.all((closes == last) | bound[data[np.minimum(closes + 1, last)]])
        and np.array_equal(
            np.searchsorted(line_ends, opens), np.searchsorted(line_ends, closes)
        )
    )


def _has_header_row(rows: pa.Table, header: list[str]) -> bool:
    same = pc.fill_null(pc.equal(rows.column(0), header[0]), False)
    for col, name in zip(rows.columns[1:], header[1:]):
        same = pc.and_(same, pc.fill_null(pc.equal(col, name), False))
    return pc.any(same).as_py()


def _candidates(distinct: pa.Array) -> list[str]:
    """The cells whose types decide a column's: the first distinct cells
    outside the bulk classes, then one cell per bulk class."""
    shaped = pc.match_substring_regex(distinct, _BULK_SHAPES)
    other = distinct.filter(pc.invert(shaped))
    shaped = distinct.filter(shaped)
    is_int = pc.match_substring_regex(shaped, _INT)
    rest = shaped.filter(pc.invert(is_int))
    is_fraction = pc.match_substring_regex(rest, _FRACTION)
    dates = rest.filter(pc.invert(is_fraction))
    # strptime rolls 2010-02-30 over to March, so only a real date prints back
    printed = pc.strftime(
        pc.strptime(dates, format="%Y-%m-%d", unit="s", error_is_null=True),
        format="%Y-%m-%d",
    )
    is_date = pc.fill_null(pc.equal(printed, dates), False)
    reps = other.slice(0, _MAX_ROUNDS + 1).to_pylist()
    reps += dates.filter(pc.invert(is_date)).slice(0, _MAX_ROUNDS + 1).to_pylist()
    reps += _int_representatives(shaped.filter(is_int))
    reps += rest.filter(is_fraction).slice(0, 1).to_pylist()
    reps += dates.filter(is_date).slice(0, 1).to_pylist()
    return reps


def _int_representatives(ints: pa.Array) -> list[str]:
    """One integer literal per type Spark gives them: int, bigint, the
    widest decimal(p,0) (p digits, from 19) and double (past 38 digits)."""
    if not len(ints):
        return []
    # a literal shorter than 10 characters has at most 9 digits: an int
    short = pc.less(pc.binary_length(ints), 10)
    reps = ints.filter(short).slice(0, 1).to_pylist()
    ints = ints.filter(pc.invert(short))
    if not len(ints):
        return reps
    digits = pc.replace_substring_regex(ints, r"^[+-]?0*", "")
    width = pc.binary_length(digits)
    negative = pc.starts_with(ints, "-")

    def past(bound_digits: int, positive_max: str, negative_min: str):
        # equal-length digit strings compare like their numbers
        bound = pc.if_else(negative, negative_min, positive_max)
        return pc.or_(
            pc.greater(width, bound_digits),
            pc.and_(pc.equal(width, bound_digits), pc.greater(digits, bound)),
        )

    past_int = past(10, "2147483647", "2147483648")
    past_long = past(19, "9223372036854775807", "9223372036854775808")
    past_decimal = pc.greater(width, 38)
    decimal = pc.and_(past_long, pc.invert(past_decimal))
    for cls in (
        pc.invert(past_int),
        pc.and_(past_int, pc.invert(past_long)),
        past_decimal,
    ):
        reps += ints.filter(cls).slice(0, 1).to_pylist()
    if pc.any(decimal).as_py():
        widths = pc.if_else(decimal, width, pa.scalar(None, width.type))
        reps.append(ints[pc.index(widths, pc.max(widths)).as_py()].as_py())
    return reps


def _jclass(spark: SparkSession, name: str) -> JavaClass:
    """A JVM class by its full name: no py4j call, where a walk down
    ``spark._jvm`` costs one per package."""
    return JavaClass(name, spark._jvm._gateway_client)


@contextmanager
def _active(spark: SparkSession) -> Iterator[None]:
    """``spark`` as the JVM thread's active session, as Spark's own
    inference job has it: CSVInferSchema reads the session's SQL conf
    (timestamp type, parser policy) through SQLConf.get. The thread's
    previous state comes back after, since PySpark wraps a thread's active
    session in a new Python SparkSession on every later lookup."""
    sessions = _jclass(spark, "org.apache.spark.sql.SparkSession")
    previous = sessions.getActiveSession()
    sessions.setActiveSession(spark._jsparkSession)
    try:
        yield
    finally:
        if previous.isDefined():
            sessions.setActiveSession(previous.get())
        else:
            sessions.clearActiveSession()


def _spark_types(
    spark: SparkSession,
    options: dict[str, str],
    header: list[str],
    cells: list[list[str]],
) -> StructType | None:
    """Spark's schema for columns named ``header`` whose types are those of
    ``cells`` merged, or None if a column has two types with no common
    type, or more cells than the rounds allow and no string among them."""
    csv = "org.apache.spark.sql.catalyst.csv."
    types = "org.apache.spark.sql.types."
    split = _jclass(spark, "java.util.regex.Pattern").compile("\x00")
    wrap = _jclass(spark, "scala.collection.immutable.ArraySeq").unsafeWrapArray
    with _active(spark):
        kernel = _jclass(spark, csv + "CSVInferSchema")(
            _jclass(spark, csv + "CSVOptions")(
                _jclass(spark, "org.apache.spark.api.python.PythonUtils").toScalaMap(options),
                True,
                spark.conf.get("spark.sql.session.timeZone"),
            )
        )
        untyped = spark.sparkContext._gateway.new_array(
            _jclass(spark, types + "DataType"), len(header)
        )
        untyped[:] = [_jclass(spark, types + "DataTypes").NullType] * len(header)
        merged = untyped[:]  # a slice is a copy made in the JVM
        names = ["NullType"] * len(header)
        seen = [set() for _ in header]
        left = [list(c) for c in cells]
        for _ in range(_MAX_ROUNDS):
            row = [c.pop(0) if c else "" for c in left]
            if not any(row):
                break
            # inferRowType types the row in place: it gets a fresh NullType row
            typed = kernel.inferRowType(untyped[:], split.split("\x00".join(row), -1))
            kinds = wrap(typed).mkString("\x00").split("\x00")
            merged = kernel.mergeRowTypes(merged, typed)
            now = wrap(merged).mkString("\x00").split("\x00")
            for i, name in enumerate(now):
                # mergeRowTypes gives NullType for two types with no common type
                if name == "NullType" and (row[i] or names[i] != "NullType"):
                    return None
                if row[i]:
                    seen[i].add(kinds[i].split("(")[0])
                # Spark's fold types an int after a decimal as a decimal of
                # its own digits, so a decimal beside an int or bigint
                # depends on which comes first
                if "DecimalType" in seen[i] and seen[i] & {"IntegerType", "LongType"}:
                    return None
                if name == "StringType":
                    left[i] = []
            names = now
        if any(left):
            return None
        fields = kernel.toStructFields(merged, split.split("\x00".join(header), -1))
    struct = _jclass(spark, types + "StructType")(fields)
    return StructType.fromJson(json.loads(struct.json()))
