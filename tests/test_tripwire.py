"""The data-drift tripwire, exercised (VERDICT r2 'what's missing' #2).

Round 2's silent failure mode: the driver re-typed events.ts between
rounds and the decode produced 1970 timestamps for a full round with zero
test signal. The loader now (a) probes the footer and branches, and
(b) asserts decoded years are plausible. This test proves the tripwire
FIRES: a corpus whose footer type lies about the unit (plain int64
carrying epoch-µs values — indistinguishable from ns by type alone) must
raise loudly in ``load()``, not return 1970 rows."""
import shutil

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from industry_big_data_time_sequence_process_spark.sources.io import (
    events_ts_kind, load,
)
from industry_big_data_time_sequence_process_spark.sources.io import TABLES

from .conftest import SF_SMOKE


@pytest.fixture(scope="module")
def lying_unit_dir(tmp_path_factory):
    """events.ts as PLAIN int64 holding epoch-MICROsecond values: the
    footer can only say 'int64', the ns-decode divides by 1000, and every
    row lands in 1970 — exactly the round-2 corruption, reconstructed."""
    d = tmp_path_factory.mktemp("lying_unit_sf")
    for t in TABLES:
        if t != "events":
            shutil.copy(f"{SF_SMOKE}/{t}.parquet", d / f"{t}.parquet")
    t0_us = 1_704_067_200_000_000  # 2024-01-01 00:00:00 UTC in µs
    tbl = pa.table({
        "event_id": pa.array([1, 2, 3], type=pa.int64()),
        "ts": pa.array([t0_us, t0_us + 1_000_000, t0_us + 2_000_000],
                       type=pa.int64()),
        "user_id": pa.array([1, 1, 2], type=pa.int64()),
        "event_type": pa.array(["click"] * 3, type=pa.string()),
        "value": pa.array([1.0, 2.0, 3.0], type=pa.float64()),
        "props": pa.array(['{"k": 1}'] * 3, type=pa.string()),
    })
    pq.write_table(tbl, d / "events.parquet")
    return str(d)


def test_footer_probe_classifies_current_corpus(spark):
    assert events_ts_kind(SF_SMOKE) == "timestamp"


def test_lying_unit_corpus_fails_loudly(spark, lying_unit_dir):
    assert events_ts_kind(lying_unit_dir) == "int64_ns"
    with pytest.raises(AssertionError, match="decode branch is wrong"):
        load(spark, lying_unit_dir, "events").collect()


def test_sane_corpus_passes_probe(spark):
    # the probe must not reject the real corpus (and runs at most once
    # per directory, so repeated loads stay cheap)
    assert load(spark, SF_SMOKE, "events").limit(1).count() == 1


def _copy_all_but_events(d):
    for t in TABLES:
        if t != "events":
            shutil.copy(f"{SF_SMOKE}/{t}.parquet", d / f"{t}.parquet")


def _write_parts(d, tables):
    (d / "events.parquet").mkdir()
    for i, t in enumerate(tables):
        pq.write_table(t, d / "events.parquet" / f"part-{i}.parquet")


def test_events_directory_loads_like_single_file(spark, tmp_path):
    """``events.parquet`` as a directory of parts: footer probe and
    tripwire read the parts, and the rows equal the single-file corpus."""
    _copy_all_but_events(tmp_path)
    tbl = pq.read_table(f"{SF_SMOKE}/events.parquet")
    half = tbl.num_rows // 2
    _write_parts(tmp_path, [tbl.slice(0, half), tbl.slice(half)])

    assert events_ts_kind(str(tmp_path)) == events_ts_kind(SF_SMOKE)
    got = sorted(load(spark, str(tmp_path), "events").collect())
    want = sorted(load(spark, SF_SMOKE, "events").collect())
    assert len(got) == tbl.num_rows and got == want


def test_events_directory_with_1970_part_fails_loudly(spark, tmp_path):
    """Plain int64 parts: the first carries epoch-ns (sane), the second
    epoch-µs (1970 after the ns decode) — the tripwire must see it."""
    _copy_all_but_events(tmp_path)
    t0_us = 1_704_067_200_000_000

    def part(ts):
        n = len(ts)
        return pa.table({
            "event_id": pa.array(range(n), type=pa.int64()),
            "ts": pa.array(ts, type=pa.int64()),
            "user_id": pa.array([1] * n, type=pa.int64()),
            "event_type": pa.array(["click"] * n, type=pa.string()),
            "value": pa.array([1.0] * n, type=pa.float64()),
            "props": pa.array(['{"k": 1}'] * n, type=pa.string()),
        })

    _write_parts(tmp_path, [part([t0_us * 1000, (t0_us + 1) * 1000]),
                            part([t0_us, t0_us + 1_000_000])])
    assert events_ts_kind(str(tmp_path)) == "int64_ns"
    with pytest.raises(AssertionError, match="decode branch is wrong"):
        load(spark, str(tmp_path), "events").collect()
