"""Trained IVF centroids (VERDICT r3 item #3; retargeted r6 per VERDICT
r5 #2).

``sim_ivf_topk`` round 3 used a stride-97 sample as "centroids"; round 4
trains them (portable hash-bucket seeds + 3 fixed-point Lloyd iterations).
Round 6 ported ``sim_ivf_recall_eval`` / ``sim_ivf_topk_nprobe2`` onto the
CAPPED trainer (``_ivf_nlist(n)`` ~ √n cells, capped training sample — the
index users deploy), so the yardstick here is the untrained hash-bucket
quantizer at the SAME cell count: k-means cells must beat random cells at
identical search cost. The untrained baseline is recomputed in DuckDB so
the comparison survives the operator's replacement.
"""
import duckdb
import pytest

from industry_big_data_time_sequence_process_spark.operators.similarity import (
    _EVAL_QUERIES, _IVF_NASSIGN, _IVF_STRIDE, _DUCK_HV, _duck_cos,
    _ivf_nlist, _ivf_nprobe,
)
from industry_big_data_time_sequence_process_spark.registry import REGISTRY

from .conftest import SF_T2

# nlist is n-derived now (r7: clamp(⌊√n⌋, 32, 65536)); the untrained
# yardstick must use the SAME cell count the trained index uses at this sf.
_HASHCELL_RECALL_SQL = f"""
WITH assign AS (
    SELECT vec_id, ({_DUCK_HV} % {{nlist}}) AS cid FROM embeddings
), topk AS (
    SELECT q_vec_id, c_vec_id FROM (
        SELECT q.vec_id AS q_vec_id, c.vec_id AS c_vec_id,
               row_number() OVER (PARTITION BY q.vec_id
                   ORDER BY {_duck_cos('q.embedding', 'c.embedding')} DESC,
                            c.vec_id) AS rnk
        FROM embeddings q, embeddings c
        WHERE q.vec_id < {_EVAL_QUERIES} AND q.vec_id <> c.vec_id
    ) WHERE rnk <= 5
)
SELECT avg(CASE WHEN aq.cid = ac.cid THEN 1.0 ELSE 0.0 END) AS recall
FROM topk t
JOIN assign aq ON aq.vec_id = t.q_vec_id
JOIN assign ac ON ac.vec_id = t.c_vec_id
"""


def _corpus_nlist(sf_dir: str) -> int:
    con = duckdb.connect()
    n = con.execute(f"SELECT count(*) FROM "
                    f"read_parquet('{sf_dir}/embeddings.parquet')") \
           .fetchone()[0]
    con.close()
    return _ivf_nlist(n)


def _hashcell_recall(sf_dir: str) -> float:
    con = duckdb.connect()
    con.execute(f"CREATE VIEW embeddings AS SELECT * FROM "
                f"read_parquet('{sf_dir}/embeddings.parquet')")
    r = con.execute(_HASHCELL_RECALL_SQL.format(
        nlist=_corpus_nlist(sf_dir))).fetchone()[0]
    con.close()
    return float(r)


def test_trained_recall_beats_untrained_same_cells(spark):
    """k-means-trained cells must beat the untrained hash-bucket
    quantizer at the SAME cell count (_ivf_nlist(n)) — i.e. the training
    buys recall at identical search cost."""
    rows = REGISTRY["sim_ivf_recall_eval"].fn(spark, SF_T2).collect()
    assert len(rows) == _EVAL_QUERIES
    trained = (sum(r["n_in_cell"] for r in rows)
               / sum(r["n_true"] for r in rows))
    untrained = _hashcell_recall(SF_T2)
    assert trained >= untrained, (trained, untrained)
    # random nlist-cell assignment puts a neighbor with the query
    # ~1/nlist of the time; data-adaptive cells must clear that by a
    # wide margin
    assert trained > 2.0 / _corpus_nlist(SF_T2), trained


def test_nprobe2_recall_dominates_nprobe1(spark):
    """nprobe=2 must dominate nprobe=1 per query (probing a superset of
    cells can only add hits) and strictly beat it in aggregate on this
    corpus."""
    rows = REGISTRY["sim_ivf_recall_eval"].fn(spark, SF_T2).collect()
    assert all(r["n_in_2cells"] >= r["n_in_cell"] for r in rows)
    r1 = sum(r["n_in_cell"] for r in rows) / sum(r["n_true"] for r in rows)
    r2 = sum(r["n_in_2cells"] for r in rows) / sum(r["n_true"] for r in rows)
    assert r2 > r1, (r1, r2)


def test_nprobe2_scores_dominate_nprobe1(spark):
    """Searching 2 cells returns, per (query, rank), a neighbor at least
    as good as the 1-cell search — monotonicity of the recall dial on
    the actual search op outputs. Both ops ride the SAME capped-trainer
    index (nprobe2 was ported off the full-corpus trainer in r6), so
    nprobe=2's candidates are a strict superset per query."""
    s1 = {(r["q_vec_id"], r["rnk"]): r["score"]
          for r in REGISTRY["sim_ivf_scalable_topk"].fn(spark, SF_T2)
          .collect()}
    s2 = {(r["q_vec_id"], r["rnk"]): r["score"]
          for r in REGISTRY["sim_ivf_topk_nprobe2"].fn(spark, SF_T2)
          .collect()}
    assert set(s1) <= set(s2)
    assert all(s2[k] >= s1[k] for k in s1)


def test_trained_cells_cover_corpus_once(spark):
    from industry_big_data_time_sequence_process_spark.operators.similarity \
        import _ivf_cells
    from industry_big_data_time_sequence_process_spark.sources.io import load
    e = load(spark, SF_T2, "embeddings")
    cells = _ivf_cells(e)
    n = e.count()
    assert cells.count() == n                       # every vector assigned
    assert cells.select("vec_id").distinct().count() == n  # exactly once
    n_cells = cells.select("cid").distinct().count()
    assert 1 <= n_cells <= -(-n // _IVF_STRIDE)     # at most ceil(n/97)


def test_scalable_cells_capacity_bounded(spark):
    """The scalable index (linear-training fix from the 10x audit): every
    vector assigned exactly once, to one of at most _ivf_nlist(n) cells —
    nlist grows ~√n (r7), never as n/stride."""
    from industry_big_data_time_sequence_process_spark.operators.similarity \
        import _ivf_cells_scalable
    from industry_big_data_time_sequence_process_spark.sources.io import load
    e = load(spark, SF_T2, "embeddings")
    cells = _ivf_cells_scalable(e)
    n = e.count()
    assert cells.count() == n
    assert cells.select("vec_id").distinct().count() == n
    assert cells.select("cid").distinct().count() <= _ivf_nlist(n)


def test_scanned_fraction_falls_with_corpus_size():
    """VERDICT r6 #1 + r7 #1 done-criterion: with nlist = clamp(⌊√n⌋,
    32, 65536) AND the auto-scaled serving dial nprobe =
    clamp(⌈2√nlist/3⌉, 2, 16), the composed stack's per-query scanned
    fraction nprobe·_IVF_NASSIGN/nlist ~ 2·nassign/√nlist must still
    FALL as the corpus grows — the recall-holding dial must not undo
    the scan-fraction win. Pure arithmetic on the sizing functions; the
    measured recall/scanned points live in the audit-corpus pins below
    and SCALE.md."""
    frac = lambda n: (_ivf_nprobe(_ivf_nlist(n)) * _IVF_NASSIGN
                      / _ivf_nlist(n))
    # the audited scales: sf0.01 (500), sf0.1 (2000), 10x (20k), 100x
    # (200k vectors)
    f1, f2, f3, f4 = frac(500), frac(2_000), frac(20_000), frac(200_000)
    assert f1 >= f2 > f3 > f4, (f1, f2, f3, f4)
    assert f4 < 0.12           # 15 probes of 447 cells x 3-assign ~ 10%
    # decade-scale behavior: monotone non-increasing, and the nprobe
    # ceiling (16) restores the 1/√n collapse at large n
    decades = [frac(10 ** k) for k in range(3, 12)]
    assert all(a >= b for a, b in zip(decades, decades[1:])), decades
    assert frac(10 ** 8) < 0.005
    assert frac(10 ** 10) < 0.001


def test_scalable_topk_scores_sane(spark):
    """Scalable-index search returns top-3 per query with scores bounded
    by the brute-force optimum (an ANN result can never beat exact)."""
    bf = {(r["q_vec_id"], r["rnk"]): r["score"]
          for r in REGISTRY["sim_cosine_topk"].fn(spark, SF_T2).collect()
          if r["rnk"] <= 3}
    ann = {(r["q_vec_id"], r["rnk"]): r["score"]
           for r in REGISTRY["sim_ivf_scalable_topk"].fn(spark, SF_T2)
           .collect()}
    # every query answered (queries are vec_id < 8 and cells are nonempty)
    assert {q for q, _ in ann} == {q for q, _ in bf}
    for k, s in ann.items():
        if k in bf:
            assert s <= bf[k] + 1e-9, (k, s, bf[k])


def test_recall_operating_point_production_credible(spark):
    """VERDICT r5 #1 done-criterion: the shipped ANN operating points
    must be production-credible, not just value-oracled. Composed IVF+PQ
    cascade (trained codebooks, 3x multi-assign, exact re-rank tail)
    recall@5 >= 0.5 at nprobe=2; PQ-alone cascade recall@5 >= 0.7.
    (Round-5 shipped 0.150 / 0.113 — near-random retrieval.)"""
    rows = REGISTRY["sim_ivfpq_recall_eval"].fn(spark, SF_T2).collect()
    r2 = sum(r["recall_p2"] for r in rows) / len(rows)
    r1 = sum(r["recall_p1"] for r in rows) / len(rows)
    assert r2 >= 0.5, f"composed recall@5 at nprobe=2 = {r2}"
    assert r2 >= r1, (r1, r2)   # the nprobe dial must buy recall
    # r7: the MEASURED per-query candidate set must respect the sizing
    # arithmetic — mean scanned fraction <= nprobe·nassign/nlist (plus
    # assignment-imbalance slack); the fraction falls as nlist grows ~√n
    nlist = _corpus_nlist(SF_T2)
    con = duckdb.connect()
    n = con.execute(f"SELECT count(*) FROM read_parquet("
                    f"'{SF_T2}/embeddings.parquet')").fetchone()[0]
    con.close()
    scanned = sum(r["n_scanned_p2"] for r in rows) / len(rows) / n
    assert scanned <= 2 * _IVF_NASSIGN / nlist * 1.5, (scanned, nlist)
    rows = REGISTRY["sim_pq_recall_eval"].fn(spark, SF_T2).collect()
    rp = sum(r["recall_at_5"] for r in rows) / len(rows)
    assert rp >= 0.7, f"PQ cascade recall@5 = {rp}"


# ---------------------------------------------------------------------------
# Round-8 (VERDICT r7 #1 done-criterion): the AUTO-scaled serving dial —
# nprobe = _ivf_nprobe(nlist) — must hold recall@5 >= 0.5 at the 10x and
# 100x audit corpora while the measured scanned fraction keeps falling.
# The corpora are built by the SAME generator the scaling audit uses
# (tools/scaling_audit.build_corpus — disjoint replication of sf0.1).
# ---------------------------------------------------------------------------

import os as _os

_REPO = _os.path.dirname(_os.path.dirname(_os.path.abspath(__file__)))


def _audit_corpus(clones: int) -> str:
    out = _os.path.join(_REPO, ".scratch", f"sf{clones // 10}")
    if not _os.path.exists(_os.path.join(out, "embeddings.parquet")):
        import importlib.util
        spec = importlib.util.spec_from_file_location(
            "scaling_audit",
            _os.path.join(_REPO, "tools", "scaling_audit.py"))
        sa = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(sa)
        sa.build_corpus(clones, out)
    return out


def _auto_operating_point(spark, sf_dir: str) -> tuple[float, float, int]:
    """(recall@5, scanned fraction, nprobe) of the composed IVF+PQ stack
    at the AUTO dial against brute-force exact-L2 truth — the same
    measurement SCALE.md records, run live so the pin can't go stale."""
    import pyspark.sql.functions as F

    from industry_big_data_time_sequence_process_spark.operators.similarity import (
        _ivf_nprobe as nprobe_fn, _ivfpq_adc_frame, _ivfpq_index,
        _exact_rerank, _pq_shortlist, _pq_truth, _serve_local_frames,
    )
    from industry_big_data_time_sequence_process_spark.sources.io import load

    e = load(spark, sf_dir, "embeddings")
    n = e.count()
    np_auto = nprobe_fn(_ivf_nlist(n))
    index = _ivfpq_index(e)
    qdf = e.filter(F.col("vec_id") < _EVAL_QUERIES)
    q = qdf.select(F.col("vec_id").alias("q_vec_id"),
                   F.col("embedding").alias("qemb"))
    scored = _ivfpq_adc_frame(
        qdf, index, np_auto,
        _serve_local_frames(qdf, index, np_auto)).cache()
    n_scanned = scored.count()
    top = (_exact_rerank(_pq_shortlist(scored), q, e)
           .select("q_vec_id", "c_vec_id"))
    hits = _pq_truth(e, _EVAL_QUERIES).join(top,
                                            ["q_vec_id", "c_vec_id"]).count()
    scored.unpersist()
    return (hits / (_EVAL_QUERIES * 5),
            n_scanned / _EVAL_QUERIES / n, np_auto)


@pytest.mark.audit10
def test_auto_nprobe_recall_holds_at_10x(spark):
    """The round-7 sag point: fixed nprobe=2 measured recall@5 = 0.262
    at the 10x corpus (SCALE.md). The auto dial (nprobe=8 at nlist=141)
    must hold the >= 0.5 bar there, at a scanned fraction still BELOW
    the sf0.1 arithmetic bound (the dial buys recall without undoing the
    scan-fraction win). Marked `audit10` (ADVICE r8: the 20k corpus +
    full IVF+PQ build + brute-force exact truth cost minutes in the
    default suite) — the round gate runs `pytest -m audit10`
    explicitly; measurements land in SCALE.md."""
    recall, scanned, np_auto = _auto_operating_point(
        spark, _audit_corpus(10))
    assert recall >= 0.5, (recall, np_auto)
    assert scanned <= (_ivf_nprobe(_ivf_nlist(2_000)) * _IVF_NASSIGN
                       / _ivf_nlist(2_000)), (scanned, np_auto)


@pytest.mark.audit100
def test_auto_nprobe_recall_holds_at_100x(spark):
    """Same pin at the 100x corpus (200k vectors, nlist=447, auto
    nprobe=15), plus the falling-scan ladder vs the 10x point. Marked
    `audit100` (several minutes of index build) — run explicitly via
    `pytest -m audit100`; the measured numbers are recorded in SCALE.md
    each round."""
    r10, s10, _ = _auto_operating_point(spark, _audit_corpus(10))
    r100, s100, np100 = _auto_operating_point(spark, _audit_corpus(100))
    assert r100 >= 0.5, (r100, np100)
    assert s100 < s10, (s100, s10)
