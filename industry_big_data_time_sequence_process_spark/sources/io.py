"""Table IO: explicit schemas for the ten test tables + loaders.

Schemas are declared once here (FIXTURES.md is the measured source of truth)
— production posture, vs. inference-per-read. The ``events.ts`` decode lives
HERE and nowhere else (SURVEY.md §1.2, §7) and is **schema-adaptive**: the
driver has shipped this column as both ``timestamp[ns]`` (round 1) and
``timestamp[us]`` (round 2+), so the loader probes the parquet footer and
branches instead of assuming a physical type:

- footer says ``timestamp[us]``/``timestamp[ms]``/``timestamp[s]`` → read
  straight into ``TimestampType`` (Spark handles the unit natively; verified
  min/max equal DuckDB's to the microsecond under UTC session tz).
- footer says ``timestamp[ns]`` or plain ``int64`` → Spark 4.1.2 surfaces
  LongType nanoseconds (``spark.sql.legacy.parquet.nanosAsLong=true``,
  applied by ``session.configure``); decode via ``timestamp_micros(ts div
  1000)``. ``div`` is *integer* division — exact; a double-routed
  ``(ts/1000).cast('long')`` loses low bits at 1.7e18 ns magnitudes.
- DuckDB 1.0.0's ``read_parquet`` surfaces µs TIMESTAMP either way (probed),
  so oracle SQL uses ``ts`` directly.

A tripwire in :func:`load` asserts decoded timestamps land in a sane range
(year >= 2000) so a future silent corpus re-type fails loudly instead of
poisoning every downstream ts operator (round-2 post-mortem).

``events.parquet`` may be a single file or a directory of ``*.parquet``
parts: the footer probe reads the first sorted part, the tripwire every
part's row-group statistics.
"""
from __future__ import annotations

from functools import lru_cache

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import (
    ArrayType, DoubleType, FloatType, IntegerType, LongType, StringType,
    StructField, StructType, TimestampType,
)

from ..session import configure

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]

SCHEMAS: dict[str, StructType] = {
    "region": StructType([
        StructField("r_regionkey", IntegerType()),
        StructField("r_name", StringType()),
    ]),
    "nation": StructType([
        StructField("n_nationkey", IntegerType()),
        StructField("n_name", StringType()),
        StructField("n_regionkey", IntegerType()),
    ]),
    "supplier": StructType([
        StructField("s_suppkey", LongType()),
        StructField("s_name", StringType()),
        StructField("s_nationkey", IntegerType()),
        StructField("s_acctbal", DoubleType()),
    ]),
    "customer": StructType([
        StructField("c_custkey", LongType()),
        StructField("c_name", StringType()),
        StructField("c_nationkey", IntegerType()),
        StructField("c_acctbal", DoubleType()),
        StructField("c_mktsegment", StringType()),
    ]),
    "part": StructType([
        StructField("p_partkey", LongType()),
        StructField("p_name", StringType()),
        StructField("p_brand", StringType()),
        StructField("p_type", StringType()),
        StructField("p_size", IntegerType()),
        StructField("p_retailprice", DoubleType()),
    ]),
    "orders": StructType([
        StructField("o_orderkey", LongType()),
        StructField("o_custkey", LongType()),
        StructField("o_orderstatus", StringType()),
        StructField("o_totalprice", DoubleType()),
        StructField("o_orderdate", TimestampType()),
        StructField("o_orderpriority", StringType()),
    ]),
    "lineitem": StructType([
        StructField("l_orderkey", LongType()),
        StructField("l_partkey", LongType()),
        StructField("l_suppkey", LongType()),
        StructField("l_linenumber", IntegerType()),
        StructField("l_quantity", DoubleType()),
        StructField("l_extendedprice", DoubleType()),
        StructField("l_discount", DoubleType()),
        StructField("l_tax", DoubleType()),
        StructField("l_returnflag", StringType()),
        StructField("l_linestatus", StringType()),
        StructField("l_shipdate", TimestampType()),
    ]),
    # NOTE: events.ts physical type varies by corpus generation — see
    # events_schema() for the footer-probed adaptive schema. This entry is
    # the *decoded* logical shape every operator sees.
    "events": StructType([
        StructField("event_id", LongType()),
        StructField("ts", TimestampType()),
        StructField("user_id", LongType()),
        StructField("event_type", StringType()),
        StructField("value", DoubleType()),
        StructField("props", StringType()),
    ]),
    "documents": StructType([
        StructField("doc_id", LongType()),
        StructField("text", StringType()),
        StructField("lang", StringType()),
        StructField("source", StringType()),
        StructField("n_chars", LongType()),
    ]),
    "embeddings": StructType([
        StructField("vec_id", LongType()),
        StructField("embedding", ArrayType(FloatType())),
        StructField("label", IntegerType()),
    ]),
}


def path(sf_dir: str, table: str) -> str:
    return f"{sf_dir}/{table}.parquet"


def _events_parts(sf_dir: str) -> list[str]:
    """The events parquet file, or the sorted ``*.parquet`` parts when
    ``events.parquet`` is a directory dataset."""
    import glob
    import os

    p = path(sf_dir, "events")
    if os.path.isdir(p):
        return sorted(glob.glob(os.path.join(p, "*.parquet")))
    return [p]


def _events_file_stamp(sf_dir: str) -> tuple[tuple[str, float, int], ...]:
    """(path, mtime, size) identity of each events parquet file —
    regenerating the corpus in place changes the stamp, which invalidates
    both the footer-type cache and the sanity-probe memo (a path-only key
    would silently reuse a stale decode branch across an in-process corpus
    rewrite; a directory's own mtime misses a part rewritten in place)."""
    import os

    stamp = []
    for p in _events_parts(sf_dir):
        try:
            st = os.stat(p)
            stamp.append((p, st.st_mtime, st.st_size))
        except OSError:
            stamp.append((p, 0.0, 0))
    return tuple(stamp)


@lru_cache(maxsize=64)
def _events_ts_kind_stamped(stamp: tuple[tuple[str, float, int], ...]) -> str:
    import pyarrow.parquet as pq

    if not stamp:
        raise FileNotFoundError("events.parquet has no *.parquet parts")
    t = pq.read_schema(stamp[0][0]).field("ts").type
    s = str(t)
    if s.startswith("timestamp") and "[ns" not in s:
        return "timestamp"
    return "int64_ns"


def events_ts_kind(sf_dir: str) -> str:
    """Probe the on-disk physical type of ``events.ts`` from the parquet
    footer (one footer read in this process — the first part of a
    directory dataset — cached per (path, mtime, size) of every file).

    Returns ``"timestamp"`` (any µs/ms/s timestamp unit Spark decodes
    natively) or ``"int64_ns"`` (raw int64 / timestamp[ns], which Spark 4
    surfaces as LongType nanoseconds under ``nanosAsLong``).
    """
    return _events_ts_kind_stamped(_events_file_stamp(sf_dir))


def events_read_schema(sf_dir: str) -> StructType:
    """The schema to hand ``spark.read`` for events, per the footer probe."""
    ts_type = (TimestampType() if events_ts_kind(sf_dir) == "timestamp"
               else LongType())
    return StructType([
        StructField("event_id", LongType()),
        StructField("ts", ts_type),
        StructField("user_id", LongType()),
        StructField("event_type", StringType()),
        StructField("value", DoubleType()),
        StructField("props", StringType()),
    ])


def decode_events_ts(df: DataFrame, sf_dir: str) -> DataFrame:
    """Normalize ``ts`` to µs TimestampType regardless of physical type."""
    if events_ts_kind(sf_dir) == "int64_ns":
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return df


#: Sanity floor for decoded event timestamps — the corpus is generated in
#: 2024+; anything earlier means the decode branch picked wrong.
_TS_SANITY_FLOOR_YEAR = 2000
_ts_checked: set[tuple[tuple[str, float, int], ...]] = set()


def _assert_ts_sane(sf_dir: str) -> None:
    """Pure-footer tripwire, once per stamp: the smallest row-group
    statistics minimum of ``ts`` over every events file, pushed through the
    same decode rule the Spark branch applies, must land in a plausible
    year. Turns a silent corpus re-type into a loud failure WITHOUT
    putting any eager Spark action on the load path (the former
    ``limit(1).collect()`` probe did) — this reads parquet footers
    only. Row groups without statistics are skipped."""
    stamp = _events_file_stamp(sf_dir)
    if stamp in _ts_checked:
        return
    import datetime

    import pyarrow.parquet as pq

    lows = []
    for p, _, _ in stamp:
        md = pq.ParquetFile(p).metadata
        col_idx = md.schema.to_arrow_schema().get_field_index("ts")
        for rg in range(md.num_row_groups):
            stats = md.row_group(rg).column(col_idx).statistics
            if stats is not None and stats.has_min_max:
                lows.append(stats.min)
    if lows:
        lo = min(lows)
        if isinstance(lo, (int, float)):  # int64 / timestamp[ns] physical
            year = datetime.datetime.fromtimestamp(
                int(lo) / 1e9, tz=datetime.timezone.utc).year
        else:  # decoded datetime from a true timestamp physical type
            year = lo.year
        if year < _TS_SANITY_FLOOR_YEAR:
            raise AssertionError(
                f"events.ts decodes to year {year} (< "
                f"{_TS_SANITY_FLOOR_YEAR}) for {sf_dir} — the physical "
                f"parquet type changed and the decode branch is wrong; see "
                f"events_ts_kind() in sources/io.py")
    _ts_checked.add(stamp)


def load_raw(spark: SparkSession, sf_dir: str, table: str) -> DataFrame:
    """Read a table with its explicit schema, no decoding."""
    configure(spark)
    schema = (events_read_schema(sf_dir) if table == "events"
              else SCHEMAS[table])
    return spark.read.schema(schema).parquet(path(sf_dir, table))


def load(spark: SparkSession, sf_dir: str, table: str) -> DataFrame:
    """Read a table; ``events.ts`` is normalized to a µs TimestampType
    whatever its physical encoding (footer-probed, see module docstring)."""
    df = load_raw(spark, sf_dir, table)
    if table == "events":
        df = decode_events_ts(df, sf_dir)
        _assert_ts_sane(sf_dir)
    return df


def load_all(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {t: load(spark, sf_dir, t) for t in TABLES}
