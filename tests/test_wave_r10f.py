"""Round-10 sixth wave semantics (SURVEY.md §2.35):

- `ts_mann_kendall`: a planted monotone ramp is flagged significant
  with the exact closed-form S/z; the white-noise corpus channels are
  all insignificant (the test's reason to exist);
- `dq_sequence_islands`: planted gaps yield exact islands.

The `sink_txn_log_snapshot` pins live with the rest of the
transaction-log tests in tests/test_txn_log.py.
"""
import duckdb
import pytest

from industry_big_data_time_sequence_process_spark.registry import REGISTRY

from .conftest import SF_T2
from .test_wave_r10b import T0, _corpus

DAY_US = 86_400_000_000


@pytest.fixture(scope="module")
def trend_corpus(tmp_path_factory):
    """'ramp': daily means strictly increasing for 60 days (S is the
    maximum n(n-1)/2); 'flat': constant (all ties -> var 0 -> z NULL)."""
    rows = []
    for i in range(60):
        rows.append((100 + i, T0 + i * DAY_US, 1, "ramp",
                     round(10.0 + i * 0.5, 2)))
        rows.append((500 + i, T0 + i * DAY_US, 2, "flat", 7.0))
    events = {
        "event_id": [r[0] for r in rows],
        "ts": [r[1] for r in rows],
        "user_id": [r[2] for r in rows],
        "event_type": [r[3] for r in rows],
        "value": [r[4] for r in rows],
        "props": ["{}"] * len(rows),
    }
    return _corpus(tmp_path_factory, "trend_corpus", events=events)


def test_mann_kendall_ramp_vs_flat(spark, trend_corpus):
    rows = {r["event_type"]: r for r in
            REGISTRY["ts_mann_kendall"].fn(spark, trend_corpus).collect()}
    ramp = rows["ramp"]
    n = 60
    assert ramp["n_days"] == n
    assert ramp["s_stat"] == n * (n - 1) // 2      # every pair ascends
    assert ramp["trend_significant"] == 1 and ramp["z"] > 7
    # closed form: var = n(n-1)(2n+5)/18 (no ties), z = (S-1)/sqrt(var)
    var = n * (n - 1) * (2 * n + 5) / 18.0
    assert ramp["var_s"] == round(var, 6)
    assert ramp["z"] == round((ramp["s_stat"] - 1) / var ** 0.5, 6)
    # constant channel: S = 0 with every pair tied -> var 0 -> NULL z
    flat = rows["flat"]
    assert flat["s_stat"] == 0
    assert flat["z"] is None and flat["trend_significant"] is None


def test_mann_kendall_noise_corpus_insignificant(spark):
    out = REGISTRY["ts_mann_kendall"].fn(spark, SF_T2).collect()
    assert len(out) == 5
    for r in out:
        assert r["trend_significant"] == 0, r


# ---------------------------------------------------------------------------
# dq_sequence_islands (round-10 seventh wave, §2.36)
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def gap_corpus(tmp_path_factory):
    """click ids 1-5, 9, 12-13 (gaps 3 and 2); other channels fill the
    holes so the table itself is dense."""
    click_ids = [1, 2, 3, 4, 5, 9, 12, 13]
    other_ids = [6, 7, 8, 10, 11]
    rows = [(i, T0 + i * 1_000_000, 1, "click", 1.0) for i in click_ids]
    rows += [(i, T0 + i * 1_000_000, 1, "view", 1.0) for i in other_ids]
    events = {
        "event_id": [r[0] for r in rows],
        "ts": [r[1] for r in rows],
        "user_id": [r[2] for r in rows],
        "event_type": [r[3] for r in rows],
        "value": [r[4] for r in rows],
        "props": ["{}"] * len(rows),
    }
    return _corpus(tmp_path_factory, "gap_corpus", events=events)


def test_sequence_islands_planted_gaps(spark, gap_corpus):
    rows = sorted(REGISTRY["dq_sequence_islands"].fn(spark, gap_corpus)
                  .collect(), key=lambda r: r["island_id"])
    got = [(r["island_id"], r["start_id"], r["end_id"], r["island_len"],
            r["gap_after"]) for r in rows]
    assert got == [(1, 1, 5, 5, 3), (2, 9, 9, 1, 2), (3, 12, 13, 2, None)]


def test_sequence_islands_cover_the_click_stream(spark):
    """Islands partition the click ids exactly: lengths sum to the
    stream count, ranges are disjoint and ascending, and every
    gap_after is a positive hole."""
    rows = sorted(REGISTRY["dq_sequence_islands"].fn(spark, SF_T2)
                  .collect(), key=lambda r: r["island_id"])
    n_click = duckdb.sql(
        f"SELECT count(*) FROM '{SF_T2}/events.parquet' "
        f"WHERE event_type = 'click'").fetchone()[0]
    assert sum(r["island_len"] for r in rows) == n_click
    for r in rows:
        assert r["island_len"] == r["end_id"] - r["start_id"] + 1
    for a, b in zip(rows, rows[1:]):
        assert a["gap_after"] == b["start_id"] - a["end_id"] - 1
        assert a["gap_after"] >= 1
    assert rows[-1]["gap_after"] is None
