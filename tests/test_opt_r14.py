"""Round-14 optimization twins: every rewrite this round ships with a
bit-identity pin against the formulation it replaced (the same
discipline as tests/test_opt_r13.py) — the oracle-parity gate re-proves
end-to-end values, these prove the REWRITE is the identity."""
import pytest
from pyspark.sql import functions as F

from industry_big_data_time_sequence_process_spark.operators import (
    similarity as S)
from industry_big_data_time_sequence_process_spark.sources.io import load

from .conftest import SF_SMOKE, SF_T2
from .test_degenerate import empty_embeddings_dir  # noqa: F401  (fixture)


def _jvm_serve(qdf, corpus, cent, cb, e, nprobe):
    """The pre-r14 JVM serve cascade, inlined verbatim: probe and dtab
    as Spark subplans, then the shared ADC agg + shortlist + re-rank."""
    qprobe = S._ivf_probe(qdf, cent, nprobe)
    q = qdf.select(F.col("vec_id").alias("q_vec_id"),
                   F.col("embedding").alias("qemb"))
    dtab = S._pq_dtab_frame(q, cb).withColumnRenamed("q_vec_id", "dq")
    cand = (corpus.join(F.broadcast(qprobe), "cid")
                  .filter(F.col("vec_id") != F.col("q_vec_id")))
    scored = (cand.join(F.broadcast(dtab),
                        (F.col("q_vec_id") == F.col("dq"))
                        & (F.col("m") == F.col("qm"))
                        & (F.col("code") == F.col("k")))
                  .groupBy("q_vec_id", F.col("vec_id").alias("c_vec_id"))
                  .agg(F.min("pr").alias("pr"),
                       F.expr(f"sum(dfx) * {S._PQ_M} div count(*)")
                        .alias("adfx")))
    return (S._exact_rerank(S._pq_shortlist(scored, "pr"), q, e)
            .select("q_vec_id", "c_vec_id",
                    F.round(F.col("tfx") / F.lit(S._PQ_FX), 6).alias("dist"),
                    F.col("pr").alias("probe_rank"), "rnk"))


@pytest.mark.parametrize("sf_dir", [SF_SMOKE, SF_T2])
def test_serve_local_frames_equal_jvm(spark, sf_dir):
    """The driver numpy probe/dtab local relations are bit-identical to
    the JVM ``_ivf_probe`` / ``_pq_dtab_frame`` frames they replace."""
    e = load(spark, sf_dir, "embeddings")
    index = S._ivfpq_index(e)
    qdf = e.filter(F.col("vec_id") < S._N_QUERIES)
    np_auto = S._ivf_nprobe(S._ivf_nlist(e.count()))
    local = S._serve_local_frames(qdf, index, np_auto)
    assert local is not None
    lp = sorted((int(a), int(b), int(c)) for a, b, c in local[1].collect())
    jp = sorted((int(a), int(b), int(c)) for a, b, c in
                S._ivf_probe(qdf, index.cent.frame, np_auto).collect())
    assert lp == jp
    # the static cid IN-list is exactly the JVM probe's cell set
    assert local[3] == sorted({cid for _, cid, _ in jp})
    q = qdf.select(F.col("vec_id").alias("q_vec_id"),
                   F.col("embedding").alias("qemb"))
    ld = sorted((int(a), int(b), int(c), int(d))
                for a, b, c, d in local[2].collect())
    jd = sorted((int(a), int(b), int(c), int(d)) for a, b, c, d in
                S._pq_dtab_frame(q, index.cb.frame).collect())
    assert ld == jd
    # qemb local relation carries the exact float->double widenings
    lq = {int(r["q_vec_id"]): list(r["qemb"]) for r in local[0].collect()}
    jq = {int(r["vec_id"]): [float(x) for x in r["embedding"]]
          for r in qdf.collect()}
    assert lq == jq


def test_gated_serve_equals_jvm_serve(spark):
    """End-to-end: the gated serve cascade returns row-identical results
    to the pre-r14 JVM cascade (which the DuckDB oracle pins)."""
    e = load(spark, SF_T2, "embeddings")
    index = S._ivfpq_index(e)
    corpus = index.corpus.cache()
    index = index._replace(corpus=corpus)
    try:
        qdf = e.filter(F.col("vec_id") < S._N_QUERIES)
        np_auto = S._ivf_nprobe(S._ivf_nlist(e.count()))
        got = sorted(tuple(r) for r in S._ivfpq_serve_topk(
            qdf, index, e, nprobe=np_auto).collect())
        ref = sorted(tuple(r) for r in _jvm_serve(
            qdf, corpus, index.cent.frame, index.cb.frame, e,
            np_auto).collect())
        assert got == ref
    finally:
        corpus.unpersist()


def test_serve_gate_falls_back_above_cap(spark, monkeypatch):
    """Above the query cap the gate returns None and the JVM twins run
    (the scale path) — and the results are the same either way."""
    e = load(spark, SF_SMOKE, "embeddings")
    index = S._ivfpq_index(e)
    qdf = e.filter(F.col("vec_id") < S._N_QUERIES)
    monkeypatch.setattr(S, "_SERVE_DRIVER_MAX_Q", 2)  # force fallback
    assert S._serve_local_frames(qdf, index, 2) is None
    got = sorted(tuple(r) for r in S._ivfpq_serve_topk(
        qdf, index, e, nprobe=2).collect())
    monkeypatch.setattr(S, "_SERVE_DRIVER_MAX_Q", 64)
    ref = sorted(tuple(r) for r in S._ivfpq_serve_topk(
        qdf, index, e, nprobe=2).collect())
    assert got == ref


@pytest.mark.parametrize("sf_dir", [SF_SMOKE, SF_T2])
def test_fused_assign_code_equals_two_pass(spark, sf_dir):
    """The fused assign+code Arrow pass emits exactly the rows the
    chained _ivf_assign -> _pq_codes_with_cid twins produced."""
    e = load(spark, sf_dir, "embeddings")
    n = e.count()
    rows = (e.select("vec_id", "embedding", S._hv_col().alias("hv"))
             .orderBy("hv", "vec_id")
             .limit(max(S._ivf_train_cap(S._ivf_nlist(n)),
                        S._PQ_TRAIN_CAP)).collect())
    cent = S._ivf_train_capped(e, n=n, sample_rows=rows)
    cb = S._pq_codebook(e, sample_rows=rows)
    cids, C = cent.bank
    fused = e.select("vec_id", "embedding").mapInArrow(
        S._assign_code_batches(cids, C, S._IVF_NASSIGN, cb.banks),
        "vec_id long, cid long, m int, code long")
    two_pass = S._pq_codes_with_cid(
        S._ivf_assign(e, cent, nprobe=S._IVF_NASSIGN), cb)
    got = sorted(tuple(r) for r in fused.collect())
    ref = sorted(tuple(r) for r in two_pass.collect())
    assert got == ref


@pytest.mark.parametrize("corpus", ["smoke", "empty"])
def test_read_index_round_trips_built_index(spark, request, tmp_path, corpus):
    """The value ``_read_index`` loads from what ``_write_index`` wrote
    equals the built index: centroid cids and matrix, codebook rows and
    banks, and the coded corpus rows — on a real corpus and on an empty
    one (fileless corpus directory, 0-row banks)."""
    import numpy as np
    sf_dir = (SF_SMOKE if corpus == "smoke"
              else request.getfixturevalue("empty_embeddings_dir"))
    e = load(spark, sf_dir, "embeddings")
    built = S._ivfpq_index(e)
    base = str(tmp_path / "index")
    S._write_index(e, base)
    loaded = S._read_index(spark, base)
    for b, a in zip(built.cent.bank, loaded.cent.bank):
        assert b.shape == a.shape and b.dtype == a.dtype
        assert np.array_equal(b, a)
    assert sorted(built.cb.banks) == sorted(loaded.cb.banks)
    for m, (ks, cw) in built.cb.banks.items():
        assert np.array_equal(ks, loaded.cb.banks[m][0])
        assert np.array_equal(cw, loaded.cb.banks[m][1])

    def rows(df):
        return sorted(tuple(r) for r in df.collect())

    assert rows(built.cb.frame) == rows(loaded.cb.frame)
    assert rows(built.cent.frame) == rows(loaded.cent.frame)
    got, ref = rows(loaded.corpus), rows(built.corpus)
    assert got == ref
    if corpus == "smoke":
        assert len(built.cent.bank[0]) > 0 and built.cb.banks and ref
