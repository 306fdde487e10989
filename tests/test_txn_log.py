"""Transaction-log table format: the driver-side commit protocol and
the ops that stage on it (`operators/sources_sinks.py`).

- commit protocol (`txn_commit`): optimistic concurrency — a losing
  writer gets TxnConflictError, never corrupts the winner's manifest
  (durable temp file + atomic link), and threads of one driver racing
  the same version never share a temp path;
- checkpoint protocol (`txn_checkpoint` / `txn_resolve`): crash window
  between checkpoint write and pointer swap is safe, the pointer is
  monotonic (also when threads race different versions), reads below
  the checkpoint full-replay, a damaged checkpoint degrades to the full
  replay, and threads racing one checkpoint version always publish
  parseable objects;
- AS-OF resolution (`txn_version_at[_resolve]`): greatest version <= ts,
  loud before the first commit and on ts-less manifests, O(suffix)
  reads with early stop and checkpoint seed;
- schema resolution (`txn_schema_resolve`) seeded from the checkpoint;
- rebase validation (`txn_rebase_check`);
- metadata pruning (`txn_prune_dirs`): half-open interval arithmetic on
  ``colstats``, partition equality before stats, absent metadata never
  drops a dir, and the remove-mirror fold on dir-name reuse;
- exactly-once streaming commits (`txn_stream_commit` /
  `txn_last_epoch` / `txn_head_version`);
- change data feed (`txn_changes`) across a pure OPTIMIZE rewrite;
- registered ops: snapshot time travel, MERGE and VACUUM re-runs.

Protocol pins are pure-filesystem (no SparkSession): the log is
driver-side metadata by design. The distributed halves are exercised
and exact-oracled by the `sink_txn_*` ops in tests/test_oracle_parity.py.
"""
import contextlib
import json
import os
import threading

import duckdb
import pytest

from industry_big_data_time_sequence_process_spark.registry import REGISTRY
from industry_big_data_time_sequence_process_spark.operators.sources_sinks import (  # noqa: E501
    TxnConflictError,
    _scratch,
    txn_active_dirs,
    txn_changes,
    txn_checkpoint,
    txn_commit,
    txn_head_version,
    txn_last_epoch,
    txn_prune_dirs,
    txn_rebase_check,
    txn_resolve,
    txn_schema_resolve,
    txn_stream_commit,
    txn_version_at,
    txn_version_at_resolve,
)

from .conftest import SF_T2

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")


def _stage_log(d, n_commits: int) -> str:
    """n append commits: vi adds dir 'vi' (ts-stamped base+100*i)."""
    log = str(d / "_log")
    os.makedirs(log, exist_ok=True)
    for v in range(1, n_commits + 1):
        txn_commit(log, v, [f"v{v}"], [], extra={"ts": 1000 + 100 * v})
    return log


def _ts_stats(d: str, lo: int, hi: int) -> dict:
    """Commit ``extra`` recording dir ``d``'s ts range as ``colstats``."""
    return {"colstats": {d: {"ts": {"min": lo, "max": hi}}}}


def _ts_prune(log: str, version: int, lo: int, hi: int):
    """``(active, scanned)`` of a ts-window [lo, hi) predicate read."""
    active, _, scanned = txn_prune_dirs(log, version,
                                        col_preds={"ts": (lo, hi)})
    return active, scanned


# ---------------------------------------------------------------------------
# commit protocol: optimistic concurrency + atomic publish
# ---------------------------------------------------------------------------


def test_txn_concurrent_commit_conflict(tmp_path):
    """Two writers prepare commits against the same base version; the
    second must fail LOUDLY with TxnConflictError, not silently clobber
    the first writer's manifest."""
    log = str(tmp_path / "_log")
    os.makedirs(log)
    txn_commit(log, 1, ["v1"], [])
    # both writers read snapshot@1 and prepare version 2
    txn_commit(log, 2, ["v2_writer_a"], [])          # writer A wins
    with pytest.raises(TxnConflictError):
        txn_commit(log, 2, ["v2_writer_b"], ["v1"])  # writer B must fail
    # the winning manifest is intact — B's attempt changed nothing
    assert txn_active_dirs(log, 2) == ["v1", "v2_writer_a"]


def test_losing_commit_cannot_corrupt_winner(tmp_path):
    """The loser of a commit race gets TxnConflictError AND the winner's
    manifest stays byte-valid — the pre-r12 open('x') + dump could leave
    a truncated manifest if the writer died mid-dump; now content is
    durable in a temp file BEFORE the slot is claimed."""
    log = _stage_log(tmp_path, 1)
    with pytest.raises(TxnConflictError):
        txn_commit(log, 1, ["evil"], [])
    with open(os.path.join(log, "1.json")) as f:
        m = json.load(f)  # parses -> never truncated
    assert m["add"] == ["v1"]
    # no writer-private temp files leak into the log dir
    assert not [p for p in os.listdir(log) if p.endswith(".tmp")]


def test_commit_thread_race_one_winner_no_corruption(tmp_path):
    """Two threads in ONE driver process committing the same version:
    exactly one wins, the loser gets TxnConflictError (never the
    FileNotFoundError that the r12 shared-pid temp path could raise in
    its finally-unlink), and the winning manifest parses with one of
    the two payloads intact — no cross-thread truncation."""
    log = str(tmp_path / "_log")
    os.makedirs(log)
    results: dict[str, list] = {"ok": [], "conflict": [], "other": []}
    barrier = threading.Barrier(2)

    def committer(tag: str) -> None:
        barrier.wait()
        try:
            txn_commit(log, 1, [f"dir_{tag}"], [],
                       extra={"payload": tag * 200})
            results["ok"].append(tag)
        except TxnConflictError:
            results["conflict"].append(tag)
        except Exception as exc:  # the masking bug's symptom
            results["other"].append((tag, type(exc).__name__))

    threads = [threading.Thread(target=committer, args=(t,))
               for t in ("a", "b")]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert len(results["ok"]) == 1, results
    assert len(results["conflict"]) == 1, results
    assert results["other"] == [], results
    with open(os.path.join(log, "1.json")) as f:
        m = json.load(f)  # parses -> never truncated/corrupted
    winner = results["ok"][0]
    assert m["add"] == [f"dir_{winner}"]
    assert m["payload"] == winner * 200
    assert not [p for p in os.listdir(log) if p.endswith(".tmp")]


def test_commit_thread_race_repeated(tmp_path):
    """The race is timing-dependent — run it across many versions so a
    regression to a shared temp path has many chances to corrupt."""
    log = str(tmp_path / "_log")
    os.makedirs(log)
    bad: list = []

    def committer(version: int, tag: str, barrier) -> None:
        barrier.wait()
        try:
            txn_commit(log, version, [f"d{tag}"], [])
        except TxnConflictError:
            pass
        except Exception as exc:
            bad.append((version, tag, type(exc).__name__))

    for v in range(1, 21):
        barrier = threading.Barrier(2)
        ts = [threading.Thread(target=committer, args=(v, t, barrier))
              for t in ("x", "y")]
        for t in ts:
            t.start()
        for t in ts:
            t.join()
        with open(os.path.join(log, f"{v}.json")) as f:
            json.load(f)
    assert bad == []


# ---------------------------------------------------------------------------
# checkpoint protocol
# ---------------------------------------------------------------------------


def test_checkpoint_crash_window_then_recovery(tmp_path):
    """Crash between checkpoint-file write and pointer swap (VERDICT r11
    #3's recovery scenario): reads stay correct via the OLD pointer (or
    full replay if none), and re-running the checkpoint converges."""
    log = _stage_log(tmp_path, 6)
    want = [f"v{v}" for v in range(1, 7)]

    # first checkpoint dies before the pointer swap: file exists,
    # pointer does NOT -> resolution is the untouched full replay
    txn_checkpoint(log, 4, crash_before_pointer_swap=True)
    assert os.path.exists(os.path.join(log, "_checkpoint.4.json"))
    assert not os.path.exists(os.path.join(log, "_last_checkpoint"))
    dirs, reads, seed = txn_resolve(log, 6)
    assert (dirs, reads, seed) == (want, 6, 0)

    # recovery: re-run the SAME checkpoint -> pointer lands, resolution
    # seeds at 4 and replays only the 2-manifest suffix, same answer
    txn_checkpoint(log, 4)
    dirs, reads, seed = txn_resolve(log, 6)
    assert (dirs, reads, seed) == (want, 2, 4)


def test_checkpoint_pointer_is_monotonic(tmp_path):
    """A stale checkpointer (e.g. a retried old job) must not move the
    pointer backwards — reads would silently regress to O(history)."""
    log = _stage_log(tmp_path, 5)
    txn_checkpoint(log, 4)
    txn_checkpoint(log, 2)  # stale: checkpoint file fine, pointer kept
    with open(os.path.join(log, "_last_checkpoint")) as f:
        assert json.load(f)["version"] == 4
    # ... and the v2 checkpoint object still exists for direct readers
    assert os.path.exists(os.path.join(log, "_checkpoint.2.json"))


def test_resolve_below_checkpoint_full_replays(tmp_path):
    """Vacuum horizons and deep time travel request versions BELOW the
    last checkpoint — the pointer must be ignored, never misapplied."""
    log = _stage_log(tmp_path, 5)
    txn_checkpoint(log, 4)
    dirs, reads, seed = txn_resolve(log, 2)
    assert (dirs, reads, seed) == (["v1", "v2"], 2, 0)


def test_resolve_uncommitted_version_raises(tmp_path):
    """A checkpoint must not make a never-committed version readable."""
    log = _stage_log(tmp_path, 3)
    txn_checkpoint(log, 3)
    with pytest.raises(FileNotFoundError):
        txn_resolve(log, 4)


def test_resolve_missing_checkpoint_object_falls_back(tmp_path):
    """Pointer names checkpoint 3, but the checkpoint object was
    cleaned up: resolution must full-replay to the identical answer,
    not raise FileNotFoundError."""
    log = _stage_log(tmp_path, 5)
    dirs_ref, reads_ref, _ = txn_resolve(log, 5)
    txn_checkpoint(log, 3)
    os.remove(os.path.join(log, "_checkpoint.3.json"))
    dirs, reads, ckpt_v = txn_resolve(log, 5)
    assert dirs == dirs_ref
    assert reads == reads_ref  # full replay: the accelerator is gone
    assert ckpt_v == 0


def test_checkpoint_thread_race_repeated(tmp_path):
    """Two threads of one driver checkpointing the SAME version, round
    after round: a temp path shared between them lets one thread
    truncate or consume the other's temp file before it is published.
    Every round must leave a parseable checkpoint object and pointer,
    resolution equal to the full replay, and no temp file behind."""
    log = _stage_log(tmp_path, 20)
    replay = {v: txn_resolve(log, v)[0] for v in range(1, 21)}
    bad: list = []

    def checkpointer(version: int, barrier) -> None:
        barrier.wait()
        try:
            txn_checkpoint(log, version)
        except Exception as exc:
            bad.append((version, type(exc).__name__))

    for v in range(1, 21):
        barrier = threading.Barrier(2)
        ts = [threading.Thread(target=checkpointer, args=(v, barrier))
              for _ in range(2)]
        for t in ts:
            t.start()
        for t in ts:
            t.join()
        with open(os.path.join(log, f"_checkpoint.{v}.json")) as f:
            assert json.load(f)["active"] == replay[v]
        with open(os.path.join(log, "_last_checkpoint")) as f:
            assert json.load(f)["version"] == v
        assert txn_resolve(log, 20) == (replay[20], 20 - v, v)
        assert not [p for p in os.listdir(log) if p.endswith(".tmp")]
    assert bad == []


def test_checkpoint_pointer_race_keeps_newest(tmp_path):
    """Two threads checkpointing DIFFERENT versions (4 and 8) of one
    log at the same moment, round after round: the monotonic compare
    and the pointer publish must be one critical section, or the v4
    checkpointer can read the old pointer, lose the CPU to the v8 one,
    and then replace 8 with 4. Every round must end at 8."""
    log = _stage_log(tmp_path, 8)
    want = txn_resolve(log, 8)[0]
    stale: list = []
    for rnd in range(200):
        for name in ("_last_checkpoint", "_checkpoint.4.json",
                     "_checkpoint.8.json"):
            with contextlib.suppress(FileNotFoundError):
                os.remove(os.path.join(log, name))
        barrier = threading.Barrier(2)

        def checkpointer(version: int) -> None:
            barrier.wait()
            txn_checkpoint(log, version)

        ts = [threading.Thread(target=checkpointer, args=(v,))
              for v in (4, 8)]
        for t in ts:
            t.start()
        for t in ts:
            t.join()
        with open(os.path.join(log, "_last_checkpoint")) as f:
            got = json.load(f)["version"]
        if got != 8:
            stale.append((rnd, got))
    assert stale == []
    assert txn_resolve(log, 8) == (want, 0, 8)
    assert not [p for p in os.listdir(log) if p.endswith(".tmp")]


# ---------------------------------------------------------------------------
# timestamp AS-OF resolution
# ---------------------------------------------------------------------------


def test_version_at_boundary_and_monotone(tmp_path):
    log = _stage_log(tmp_path, 3)  # ts 1100, 1200, 1300
    assert txn_version_at(log, 1150) == 1
    assert txn_version_at(log, 1200) == 2   # exact boundary: <=, not <
    assert txn_version_at(log, 9999) == 3   # far future -> head
    with pytest.raises(ValueError):
        txn_version_at(log, 1099)           # before the first commit


def test_version_at_requires_stamped_manifests(tmp_path):
    """AS-OF over a log whose commits never recorded a ts must fail
    loudly, not guess from file mtimes."""
    log = str(tmp_path / "_log")
    os.makedirs(log)
    txn_commit(log, 1, ["v1"], [])  # no ts
    with pytest.raises(ValueError, match="no commit timestamp"):
        txn_version_at(log, 5000)


def test_version_at_missing_checkpoint_object_falls_back(tmp_path):
    """The AS-OF probe applies the same rule: a damaged checkpoint
    degrades to the full (early-stopping) probe, same answer."""
    log = _stage_log(tmp_path, 5)
    txn_checkpoint(log, 3)
    os.remove(os.path.join(log, "_checkpoint.3.json"))
    v, reads, seed = txn_version_at_resolve(log, 1450)
    assert (v, seed) == (4, 0)
    assert reads == 5  # v1..v4 accepted, v5 stamps later -> stop


def test_version_at_early_stop_mid_history(tmp_path):
    """A mid-history lookup stops at the first manifest stamped after
    the request — it never walks to the head (7 commits, answer at v2:
    3 reads, not 7)."""
    log = _stage_log(tmp_path, 7)  # ts 1100..1700
    v, reads, seed = txn_version_at_resolve(log, 1250)
    assert (v, seed) == (2, 0)
    assert reads == 3  # v1, v2 accepted; v3 stamps later -> stop


def test_version_at_checkpoint_seeds_suffix_walk(tmp_path):
    """With a checkpoint at v5 (commit ts 1500), a lookup at 1650 seeds
    AT the checkpoint and reads only the suffix: v6, v7 — 2 reads
    instead of 7. The resolved version is identical either way."""
    log = _stage_log(tmp_path, 7)
    v_full, reads_full, _ = txn_version_at_resolve(log, 1650)
    assert (v_full, reads_full) == (6, 7)  # v1..v6 accepted, v7 stops it
    txn_checkpoint(log, 5)
    v_ck, reads_ck, seed = txn_version_at_resolve(log, 1650)
    assert v_ck == v_full
    assert seed == 5
    assert reads_ck == 2  # v6 accepted, v7 stops it


def test_version_at_checkpoint_head_lookup(tmp_path):
    """A head lookup (ts past the last commit) reads exactly the
    post-checkpoint suffix plus the missing-manifest probe."""
    log = _stage_log(tmp_path, 7)
    txn_checkpoint(log, 5)
    v, reads, seed = txn_version_at_resolve(log, 9999)
    assert (v, seed) == (7, 5)
    assert reads == 2  # v6, v7; v8 probe is FileNotFoundError, not a read


def test_version_at_below_checkpoint_full_probe(tmp_path):
    """A request BELOW the checkpoint's commit ts cannot seed (the
    answer lies before it): full early-stopping probe, same answer as
    an un-checkpointed log."""
    log = _stage_log(tmp_path, 7)
    txn_checkpoint(log, 5)  # ckpt ts 1500
    v, reads, seed = txn_version_at_resolve(log, 1250)
    assert (v, seed) == (2, 0)
    assert reads == 3
    # and the pre-first-commit raise survives the checkpoint's presence
    with pytest.raises(ValueError, match="precedes the first commit"):
        txn_version_at(log, 1099)


def test_version_at_tsless_checkpoint_ignored(tmp_path):
    """A checkpoint built over ts-less manifests records no ts and must
    never seed the AS-OF probe (it cannot vouch for a timestamp)."""
    log = str(tmp_path / "_log")
    os.makedirs(log)
    for v in range(1, 4):
        txn_commit(log, v, [f"v{v}"], [])  # NO ts
    txn_checkpoint(log, 2)
    with open(os.path.join(log, "_checkpoint.2.json")) as f:
        assert "ts" not in json.load(f)
    with pytest.raises(ValueError, match="no commit timestamp"):
        txn_version_at(log, 5000)


# ---------------------------------------------------------------------------
# schema resolution: schema folded into the checkpoint
# ---------------------------------------------------------------------------


def test_schema_resolve_backward_walk_and_checkpoint_seed(tmp_path):
    log = str(tmp_path / "_log")
    os.makedirs(log)
    txn_commit(log, 1, ["v1"], [], extra={"schema": {"cols": 6}})
    for v in (2, 3, 4, 5):
        txn_commit(log, v, [f"v{v}"], [])  # schema-less commits
    sch, reads, seed = txn_schema_resolve(log, 5)
    assert (sch, reads, seed) == ({"cols": 6}, 5, 0)  # walks back to v1
    txn_checkpoint(log, 4)
    sch2, reads2, seed2 = txn_schema_resolve(log, 5)
    assert sch2 == sch
    assert (reads2, seed2) == (1, 4)  # checkpoint schema + v5 suffix
    # a NEWER schema inside the suffix wins over the checkpoint's
    txn_commit(log, 6, ["v6"], [], extra={"schema": {"cols": 7}})
    sch3, reads3, seed3 = txn_schema_resolve(log, 6)
    assert (sch3, reads3, seed3) == ({"cols": 7}, 2, 4)


def test_schema_resolve_missing_everywhere_raises(tmp_path):
    log = str(tmp_path / "_log")
    os.makedirs(log)
    txn_commit(log, 1, ["v1"], [])
    with pytest.raises(ValueError, match="no schema recorded"):
        txn_schema_resolve(log, 1)


def test_schema_resolve_damaged_checkpoint_falls_back(tmp_path):
    log = str(tmp_path / "_log")
    os.makedirs(log)
    txn_commit(log, 1, ["v1"], [], extra={"schema": {"cols": 6}})
    for v in (2, 3):
        txn_commit(log, v, [f"v{v}"], [])
    txn_checkpoint(log, 2)
    os.remove(os.path.join(log, "_checkpoint.2.json"))
    sch, reads, seed = txn_schema_resolve(log, 3)
    assert (sch, seed) == ({"cols": 6}, 0)
    assert reads == 3  # full backward walk, identical answer


# ---------------------------------------------------------------------------
# rebase validation
# ---------------------------------------------------------------------------


def test_rebase_check_passes_when_removals_still_active(tmp_path):
    log = _stage_log(tmp_path, 3)
    txn_rebase_check(log, 3, ["v1", "v2"])  # no raise


def test_rebase_check_raises_on_concurrently_removed_dir(tmp_path):
    """A concurrent transaction retired v1 after OPTIMIZE prepared its
    rewrite: the rebase must fail loudly, never resurrect v1."""
    log = _stage_log(tmp_path, 3)
    txn_commit(log, 4, [], ["v1"], extra={"ts": 1400})
    with pytest.raises(TxnConflictError, match="rebase invalid"):
        txn_rebase_check(log, 4, ["v1", "v2"])


# ---------------------------------------------------------------------------
# metadata pruning: colstats intervals, partitions first, remove-mirror
# ---------------------------------------------------------------------------


def test_prune_interval_boundaries_and_statless_safety(tmp_path):
    """Overlap arithmetic on the half-open predicate [lo, hi):
    a dir touching only hi itself is pruned, a dir whose max equals lo
    is kept (>= lo), and a stats-less dir is NEVER pruned."""
    log = str(tmp_path / "_log")
    os.makedirs(log)
    txn_commit(log, 1, ["a"], [], extra=_ts_stats("a", 0, 100))
    txn_commit(log, 2, ["b"], [], extra=_ts_stats("b", 200, 300))
    txn_commit(log, 3, ["c"], [])  # no stats -> always scanned

    active, scanned = _ts_prune(log, 3, 100, 200)
    # a: max 100 >= lo 100 -> kept; b: min 200 == hi -> min < hi is
    # False -> pruned; c: stats-less -> kept
    assert active == ["a", "b", "c"]
    assert scanned == ["a", "c"]

    _, scanned2 = _ts_prune(log, 3, 301, 400)
    assert scanned2 == ["c"]       # only the stats-less survivor


def test_prune_dir_name_reuse_drops_stale_stats(tmp_path):
    """v1 adds dir 'd' with ts stats [100, 200); v2 removes it; v3
    re-adds the SAME NAME with no stats (an OPTIMIZE output dir being
    recycled). A predicate read outside the old range must still scan
    the re-added dir — the retired incarnation's stats are gone."""
    log = str(tmp_path / "_log")
    os.makedirs(log)
    txn_commit(log, 1, ["d"], [], extra=_ts_stats("d", 100, 200))
    txn_commit(log, 2, [], ["d"])
    txn_commit(log, 3, ["d"], [])  # re-add, NO stats: new data, unknown
    active, scanned = _ts_prune(log, 3, 1000, 2000)
    assert active == ["d"]
    assert scanned == ["d"], (
        "stats-less re-added dir was pruned by its retired namesake's "
        "stale stats")


def test_prune_dir_name_reuse_new_stats_apply(tmp_path):
    """Same reuse shape, but the re-add records fresh stats: the NEW
    ranges govern pruning — in range scans, out of range prunes."""
    log = str(tmp_path / "_log")
    os.makedirs(log)
    txn_commit(log, 1, ["d"], [], extra=_ts_stats("d", 100, 200))
    txn_commit(log, 2, [], ["d"])
    txn_commit(log, 3, ["d"], [], extra=_ts_stats("d", 1500, 1600))
    _, scanned_in = _ts_prune(log, 3, 1000, 2000)
    assert scanned_in == ["d"]
    _, scanned_out = _ts_prune(log, 3, 100, 200)  # old range
    assert scanned_out == [], "retired stats resurrected"


def test_prune_live_dirs_unaffected_by_other_removals(tmp_path):
    """Removing dir A must not disturb dir B's stats."""
    log = str(tmp_path / "_log")
    os.makedirs(log)
    txn_commit(log, 1, ["a"], [], extra=_ts_stats("a", 0, 10))
    txn_commit(log, 2, ["b"], [], extra=_ts_stats("b", 100, 110))
    txn_commit(log, 3, [], ["a"])
    _, scanned = _ts_prune(log, 3, 105, 108)
    assert scanned == ["b"]
    _, scanned2 = _ts_prune(log, 3, 500, 600)
    assert scanned2 == []  # b's stats still prune correctly


def test_partition_prune_runs_before_stats(tmp_path):
    """A dir whose partition value mismatches is dropped at stage 1
    even though its recorded stats OVERLAP the predicate window —
    observable via the three-stage return."""
    log = str(tmp_path / "_log")
    os.makedirs(log)
    txn_commit(log, 1, ["a"], [], extra={
        "parts": {"a": {"event_type": "click"}},
        "colstats": {"a": {"ts": {"min": 100, "max": 200}}}})
    txn_commit(log, 2, ["b"], [], extra={
        "parts": {"b": {"event_type": "view"}},
        "colstats": {"b": {"ts": {"min": 100, "max": 200}}}})
    active, after_parts, scanned = txn_prune_dirs(
        log, 2, part_eq={"event_type": "click"},
        col_preds={"ts": (150, 160)})
    assert active == ["a", "b"]
    assert after_parts == ["a"]   # b dropped on partition value alone
    assert scanned == ["a"]


def test_partition_match_stats_miss_drops_at_stage_two(tmp_path):
    log = str(tmp_path / "_log")
    os.makedirs(log)
    txn_commit(log, 1, ["a"], [], extra={
        "parts": {"a": {"event_type": "click"}},
        "colstats": {"a": {"ts": {"min": 100, "max": 200}}}})
    active, after_parts, scanned = txn_prune_dirs(
        log, 1, part_eq={"event_type": "click"},
        col_preds={"ts": (500, 600)})
    assert after_parts == ["a"]
    assert scanned == []          # survived partitions, lost on stats


def test_absent_metadata_never_drops(tmp_path):
    """A dir with no partition record and no stats survives both
    stages; a dir with partition record but no stats survives stage 2."""
    log = str(tmp_path / "_log")
    os.makedirs(log)
    txn_commit(log, 1, ["bare"], [])
    txn_commit(log, 2, ["half"], [],
               extra={"parts": {"half": {"event_type": "click"}}})
    _, after_parts, scanned = txn_prune_dirs(
        log, 2, part_eq={"event_type": "view"},
        col_preds={"ts": (0, 1)})
    assert "bare" in after_parts and "bare" in scanned
    assert "half" not in after_parts  # it RECORDED click, predicate view


def test_prune_full_remove_mirror_on_name_reuse(tmp_path):
    """The remove-mirror fold covers partition values as well as
    colstats: remove+re-add under the same name sheds the retired
    incarnation's metadata entirely."""
    log = str(tmp_path / "_log")
    os.makedirs(log)
    txn_commit(log, 1, ["d"], [], extra={
        "parts": {"d": {"event_type": "view"}},
        "colstats": {"d": {"ts": {"min": 100, "max": 200}}}})
    txn_commit(log, 2, [], ["d"])
    txn_commit(log, 3, ["d"], [])  # re-add bare: nothing known
    _, after_parts, scanned = txn_prune_dirs(
        log, 3, part_eq={"event_type": "click"},
        col_preds={"ts": (1000, 2000)})
    assert after_parts == ["d"] and scanned == ["d"], (
        "re-added dir inherited its retired namesake's metadata")


# ---------------------------------------------------------------------------
# exactly-once streaming commit protocol
# ---------------------------------------------------------------------------


def test_stream_commit_replay_noops(tmp_path):
    log = str(tmp_path / "_log")
    os.makedirs(log)
    assert txn_stream_commit(log, "app", 0, ["e0"]) is True
    assert txn_stream_commit(log, "app", 0, ["e0"]) is False  # replay
    assert txn_stream_commit(log, "app", 1, ["e1"]) is True
    # a LOWER epoch replay after later commits still no-ops
    assert txn_stream_commit(log, "app", 0, ["e0"]) is False
    assert txn_head_version(log) == 2
    assert txn_last_epoch(log, "app") == (1, 2)


def test_stream_commit_apps_are_isolated(tmp_path):
    """Two streaming writers (different app ids) into one table: each
    tracks its own epoch sequence; app B's epoch 0 commits even though
    app A is already at epoch 5."""
    log = str(tmp_path / "_log")
    os.makedirs(log)
    for e in range(6):
        assert txn_stream_commit(log, "appA", e, [f"a{e}"]) is True
    assert txn_stream_commit(log, "appB", 0, ["b0"]) is True
    assert txn_last_epoch(log, "appA") == (5, 6)
    assert txn_last_epoch(log, "appB") == (0, 7)
    # replays of both apps no-op independently
    assert txn_stream_commit(log, "appA", 5, ["a5"]) is False
    assert txn_stream_commit(log, "appB", 0, ["b0"]) is False


def test_stream_commit_survives_foreign_commits(tmp_path):
    """Batch writers (no app stamp) interleave with the stream: the
    stream's next epoch lands at the NEW head and the backward epoch
    scan walks past the foreign manifests to the app's newest stamp."""
    log = str(tmp_path / "_log")
    os.makedirs(log)
    assert txn_stream_commit(log, "app", 0, ["e0"]) is True
    txn_commit(log, 2, ["batch1"], [])        # foreign batch commit
    txn_commit(log, 3, ["batch2"], [])
    assert txn_stream_commit(log, "app", 1, ["e1"]) is True
    assert txn_head_version(log) == 4
    assert txn_last_epoch(log, "app") == (1, 4)
    assert txn_stream_commit(log, "app", 1, ["e1"]) is False


def test_head_version_empty_and_checkpoint_seeded(tmp_path):
    log = str(tmp_path / "_log")
    os.makedirs(log)
    assert txn_head_version(log) == 0
    for v in range(1, 8):
        txn_commit(log, v, [f"v{v}"], [], extra={"ts": 1000 + v})
    assert txn_head_version(log) == 7
    txn_checkpoint(log, 5)
    assert txn_head_version(log) == 7  # seeded at 5, probes 6,7,miss(8)


# ---------------------------------------------------------------------------
# change data feed
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def cdf_history(spark):
    """Stage the registered op's 3-version history once (v1 base, v2
    merge, v3 pure OPTIMIZE) and hand back its scratch paths."""
    from industry_big_data_time_sequence_process_spark.sources.io import load

    REGISTRY["sink_txn_changes"].fn(spark, SF_DIR).collect()
    base = _scratch("sink_txn_changes")
    schema = load(spark, SF_DIR, "events").schema
    return (os.path.join(base, "data"), os.path.join(base, "_log"),
            schema)


def test_changes_across_pure_optimize_is_empty(spark, cdf_history):
    """THE dir-diff killer: v2 -> v3 is a pure compaction rewrite —
    every dir changed, zero rows changed. The feed must be EMPTY."""
    data, log, schema = cdf_history
    feed = txn_changes(spark, data, log, schema, "event_id", 2, 3)
    assert feed.count() == 0


def test_changes_range_equals_merge_only_prefix(spark, cdf_history):
    """(1 -> 3) crosses the OPTIMIZE; it must equal (1 -> 2) exactly —
    the rewrite contributes nothing to the semantic diff."""
    data, log, schema = cdf_history
    a = sorted(map(tuple, txn_changes(
        spark, data, log, schema, "event_id", 1, 2).collect()))
    b = sorted(map(tuple, txn_changes(
        spark, data, log, schema, "event_id", 1, 3).collect()))
    assert a == b
    assert len(a) > 0  # the merge genuinely changed rows


def test_changes_self_range_is_empty(spark, cdf_history):
    data, log, schema = cdf_history
    assert txn_changes(spark, data, log, schema,
                       "event_id", 2, 2).count() == 0


def test_changes_types_partition_the_feed(spark, cdf_history):
    """Every change row is exactly one of insert/update/delete, with
    before/after nullity matching its type."""
    data, log, schema = cdf_history
    rows = txn_changes(spark, data, log, schema,
                       "event_id", 1, 3).collect()
    for r in rows:
        if r["change_type"] == "insert":
            assert r["value_before"] is None
            assert r["value_after"] is not None
        elif r["change_type"] == "delete":
            assert r["value_before"] is not None
            assert r["value_after"] is None
        else:
            assert r["change_type"] == "update"
            assert r["value_before"] is not None
            assert r["value_after"] is not None


# ---------------------------------------------------------------------------
# registered ops: time travel, MERGE and VACUUM re-runs
# ---------------------------------------------------------------------------


def test_txn_log_snapshots_and_idempotency(spark):
    rows1 = sorted(REGISTRY["sink_txn_log_snapshot"].fn(spark, SF_T2)
                   .collect(), key=lambda r: r["version"])
    con = duckdb.connect()
    n0 = con.sql(f"SELECT count(*) FROM '{SF_T2}/events.parquet' "
                 f"WHERE event_id % 3 = 0").fetchone()[0]
    n01 = con.sql(f"SELECT count(*) FROM '{SF_T2}/events.parquet' "
                  f"WHERE event_id % 3 IN (0, 1)").fetchone()[0]
    assert [(r["version"], r["n_active_commits"], r["n_rows"]) for r in
            rows1] == [(1, 1, n0), (2, 2, n01), (3, 2, n01)]
    assert all(r["rewrite_preserves_content"] == 1 for r in rows1)
    # idempotency: a re-run (crash recovery) returns the identical table
    rows2 = sorted(REGISTRY["sink_txn_log_snapshot"].fn(spark, SF_T2)
                   .collect(), key=lambda r: r["version"])
    assert [tuple(r) for r in rows1] == [tuple(r) for r in rows2]


def test_txn_merge_idempotent_rerun(spark):
    """Crash recovery: re-running the merge op rebuilds the same staged
    table and returns the identical audit row (both proofs hold)."""
    r1 = REGISTRY["sink_txn_merge"].fn(spark, SF_T2).collect()[0]
    r2 = REGISTRY["sink_txn_merge"].fn(spark, SF_T2).collect()[0]
    assert tuple(r1) == tuple(r2)
    assert r1["merge_preserves_content"] == 1
    assert r1["base_time_travel_intact"] == 1
    assert r1["n_final"] == (r1["n_base"] - r1["n_deleted"]
                             + r1["n_inserted"])


def test_txn_vacuum_retention_contract(spark):
    """Post-horizon snapshot resolves byte-identically after vacuum;
    the pre-horizon snapshot fails loudly; re-running is idempotent."""
    r1 = REGISTRY["sink_txn_vacuum"].fn(spark, SF_T2).collect()[0]
    assert (r1["n_dirs_before"], r1["n_dirs_after"],
            r1["n_vacuumed"]) == (3, 2, 1)
    assert r1["latest_content_intact"] == 1
    assert r1["pre_horizon_unreadable"] == 1
    r2 = REGISTRY["sink_txn_vacuum"].fn(spark, SF_T2).collect()[0]
    assert tuple(r1) == tuple(r2)
