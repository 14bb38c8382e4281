"""Testdata table catalog.

Reads the driver-generated parquet star schema (TESTDATA.md) as lazy
DataFrames. Reads are plain ``spark.read.parquet`` so Catalyst pushes
filters/projections into the scan (PushedFilters / ReadSchema) — the
Spark-native equivalent of the reference's hand-written projected scans
(``ecom_Gold_Layer.ipynb:37-42``, SURVEY.md §2.A A3/A4).

``load_tables`` returns a read-only mapping that opens a table on its
first ``t[name]``: opening is a Spark schema-inference job, and most
queries touch two or three of the ten tables. An opened (normalised)
frame is cached per ``(SparkSession object, realpath(sf_dir), table)``.
The session object itself is the key, not its ``id()``, so a new session
never receives a frame bound to a stopped one. Each lookup recomputes
the path's file signature — ``(name, size, mtime_ns)`` of every file
under it — and opens the table again when that differs from the cached
one, so a directory rewritten in place is read afresh.
"""

from __future__ import annotations

import os
import threading
from collections.abc import Iterator, Mapping

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from ..session import apply_session_semantics

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# columns stored as TIMESTAMP(NANOS) in the driver parquet
NANO_TS_COLUMNS = {"ts"}

# (session, realpath(sf_dir), table) -> (file signature, normalised frame)
_OPENED: dict[tuple[SparkSession, str, str], tuple[tuple, DataFrame]] = {}
_OPENED_LOCK = threading.Lock()


def _signature(path: str) -> tuple:
    """``(name, size, mtime_ns)`` of every file at or under ``path``."""
    if not os.path.isdir(path):
        st = os.stat(path)
        return ((os.path.basename(path), st.st_size, st.st_mtime_ns),)
    files = []
    for root, _, names in os.walk(path):
        for n in names:
            f = os.path.join(root, n)
            st = os.stat(f)
            files.append((os.path.relpath(f, path), st.st_size, st.st_mtime_ns))
    return tuple(sorted(files))


def _open(spark: SparkSession, path: str) -> DataFrame:
    df = spark.read.parquet(path)
    # TIMESTAMP(NANOS) columns arrive as long nanos-since-epoch
    # (see session.RUNTIME_CONF); convert to proper timestamps.
    # `ts div 1000` is exact integer division — no double rounding.
    for col, dtype in df.dtypes:
        if dtype == "bigint" and col in NANO_TS_COLUMNS:
            df = df.withColumn(col, F.timestamp_micros(F.expr(f"`{col}` div 1000")))
        elif dtype.startswith("timestamp_ntz"):
            # Session read as NTZ anyway (conf applied too late or
            # overridden): normalize — UTC session tz makes the
            # cast value-identical.
            df = df.withColumn(col, F.col(col).cast("timestamp"))
    return df


class _Catalog(Mapping[str, DataFrame]):
    """The testdata tables present in one directory, opened on first use."""

    def __init__(self, spark: SparkSession, sf_dir: str) -> None:
        self._spark = spark
        self._dir = os.path.realpath(sf_dir)

    @property
    def sf_dir(self) -> str:
        """The resolved directory the tables are read from."""
        return self._dir

    def _path(self, name: str) -> str:
        return os.path.join(self._dir, f"{name}.parquet")

    def __contains__(self, name: object) -> bool:
        return name in TABLES and os.path.exists(self._path(name))

    def __getitem__(self, name: str) -> DataFrame:
        if name not in self:
            raise KeyError(name)
        sig = _signature(self._path(name))
        key = (self._spark, self._dir, name)
        with _OPENED_LOCK:
            hit = _OPENED.get(key)
            if hit is None or hit[0] != sig:
                hit = _OPENED[key] = (sig, _open(self._spark, self._path(name)))
        return hit[1]

    def __iter__(self) -> Iterator[str]:
        return (name for name in TABLES if name in self)

    def __len__(self) -> int:
        return sum(1 for _ in self)


def load_tables(spark: SparkSession, sf_dir: str) -> Mapping[str, DataFrame]:
    """Every testdata table present in sf_dir, opened lazily and cached
    per session (see the module docstring)."""
    apply_session_semantics(spark)
    return _Catalog(spark, sf_dir)
