"""Round-13 optimization twins: the driver-side numpy trainers and the
aggregation-based argmax picks must be BIT-IDENTICAL to the distributed
formulations they replaced (the oracle-parity gate re-proves every
registered op against DuckDB; these pins localize a future drift to the
exact helper that moved)."""
import pytest
from pyspark.sql import Window, functions as F

from industry_big_data_time_sequence_process_spark.operators import (
    similarity as S,
)
from industry_big_data_time_sequence_process_spark.operators.similarity import (
    _dot, _ivf_assign, _ivf_train_capped, _pq_codebook, _pq_codebook_dist,
)
from industry_big_data_time_sequence_process_spark.sources.io import load

from .conftest import SF_T2


def _rows(df, cols):
    return sorted(tuple(r[c] for c in cols) for r in df.collect())


@pytest.mark.smoke
def test_pq_codebook_driver_equals_distributed(spark):
    """The numpy PQ trainer vs the distributed twin: every (m, k)
    codeword, every component, exactly equal (IEEE-double identity —
    the fixed-point discipline makes both order-invariant)."""
    e = load(spark, SF_T2, "embeddings")
    a = _pq_codebook(e)
    b = _pq_codebook_dist(e)
    ra = _rows(a, ["m", "k", "cw"])
    rb = _rows(b, ["m", "k", "cw"])
    a.unpersist()
    b.unpersist()
    assert len(ra) > 0 and ra == rb


def test_ivf_train_capped_driver_equals_distributed(spark, monkeypatch):
    """Forcing the pair budget to 0 routes _ivf_train_capped through the
    distributed _lloyd; the default routes it through the numpy twin.
    Both centroid sets must match exactly, cid for cid."""
    e = load(spark, SF_T2, "embeddings")
    a = _ivf_train_capped(e)
    ra = _rows(a, ["cid", "cemb"])
    a.unpersist()
    monkeypatch.setattr(S, "_DRIVER_TRAIN_MAX_PAIRS", 0)
    b = _ivf_train_capped(e)
    rb = _rows(b, ["cid", "cemb"])
    b.unpersist()
    assert len(ra) > 0 and ra == rb


@pytest.mark.smoke
def test_pq_codes_arrow_equals_jvm(spark):
    """The Arrow-batched numpy PQ coder vs the JVM crossJoin/argmin
    twin: identical (vec_id, m, code) sets."""
    from industry_big_data_time_sequence_process_spark.operators.similarity import (
        _pq_codes, _pq_codes_jvm,
    )
    e = load(spark, SF_T2, "embeddings")
    cb = _pq_codebook(e)
    ra = _rows(_pq_codes(e, cb), ["vec_id", "m", "code"])
    rb = _rows(_pq_codes_jvm(e, cb), ["vec_id", "m", "code"])
    cb.unpersist()
    assert len(ra) > 0 and ra == rb


@pytest.mark.smoke
def test_afp_fps_arrow_equals_jvm(spark):
    """The numpy fingerprint windower vs the JVM byte-explode twin:
    identical (doc_id, ord, fp) streams over the decoded corpus."""
    from industry_big_data_time_sequence_process_spark.operators.multimodal import (
        _afp_fps, _afp_fps_jvm, _audio_pcm_batches,
    )
    d = load(spark, SF_T2, "documents").select(
        "doc_id", F.encode("text", "utf-8").alias("blob"))
    pcm = d.mapInPandas(_audio_pcm_batches, "doc_id long, pcm binary")
    ra = _rows(_afp_fps(pcm), ["doc_id", "ord", "fp"])
    rb = _rows(_afp_fps_jvm(pcm), ["doc_id", "ord", "fp"])
    assert len(ra) > 0 and ra == rb


@pytest.mark.smoke
def test_video_sigs_arrow_equals_jvm(spark):
    """The numpy block-pooling signature pass vs the JVM byte-explode
    twin: identical (doc_id, frame, sig) streams."""
    from industry_big_data_time_sequence_process_spark.operators.multimodal import (
        _video_sigs, _video_sigs_jvm,
    )
    ra = _rows(_video_sigs(spark, SF_T2), ["doc_id", "frame", "sig"])
    rb = _rows(_video_sigs_jvm(spark, SF_T2), ["doc_id", "frame", "sig"])
    assert len(ra) > 0 and ra == rb


def test_ivf_assign_agg_equals_window_pick(spark):
    """_ivf_assign's max(struct) aggregation (nprobe=1) and narrow
    window + re-join (nprobe=3) vs the original wide-row window
    formulation, on the trained centroids: identical row sets."""
    e = load(spark, SF_T2, "embeddings")
    cent = _ivf_train_capped(e)
    norm_e = F.sqrt(_dot(F.col("embedding"), F.col("embedding")))
    norm_c = F.sqrt(_dot(F.col("cemb"), F.col("cemb")))
    ev = e.select("vec_id", "embedding", norm_e.alias("_nv"))
    cv = cent.select("cid", "cemb", norm_c.alias("_nc"))
    w = Window.partitionBy("vec_id").orderBy(F.col("_c").desc(), "cid")
    for nprobe in (1, 3):
        legacy = (ev.crossJoin(F.broadcast(cv))
                    .withColumn("_c", _dot(F.col("embedding"), F.col("cemb"))
                                / (F.col("_nv") * F.col("_nc")))
                    .withColumn("r", F.row_number().over(w))
                    .filter(F.col("r") <= nprobe)
                    .select("vec_id", "embedding", "cid"))
        got = _ivf_assign(e, cent, nprobe=nprobe)
        assert _rows(got, ["vec_id", "cid"]) == \
            _rows(legacy, ["vec_id", "cid"]), f"nprobe={nprobe}"
    cent.unpersist()


@pytest.mark.smoke
def test_ivf_assign_arrow_equals_jvm(spark):
    """The Arrow-batched numpy assigner (bank in the task closure) vs
    the JVM broadcast-join twin: identical (vec_id, cid) sets AND
    bit-identical embedding passthrough, at nprobe 1 and 3."""
    from industry_big_data_time_sequence_process_spark.operators.similarity import (
        _ivf_assign_jvm,
    )
    e = load(spark, SF_T2, "embeddings")
    cent = _ivf_train_capped(e)
    for nprobe in (1, 3):
        ra = _rows(_ivf_assign(e, cent, nprobe),
                   ["vec_id", "cid", "embedding"])
        rb = _rows(_ivf_assign_jvm(e, cent, nprobe),
                   ["vec_id", "cid", "embedding"])
        assert len(ra) > 0 and ra == rb, f"nprobe={nprobe}"
    cent.unpersist()


@pytest.mark.smoke
def test_unit_vectors_arrow_equals_jvm(spark):
    """The Arrow numpy unit normalizer vs the inline-HOF twin: every
    component of every unit vector exactly equal (same LTR norm fold,
    same per-element IEEE division); a zero-norm row has a NULL unit in
    both."""
    from industry_big_data_time_sequence_process_spark.operators.similarity import (
        _unit_vectors, _unit_vectors_jvm,
    )
    e = load(spark, SF_T2, "embeddings").select("vec_id", "embedding")
    zero = e.limit(1).select(
        F.lit(-1).cast(e.schema["vec_id"].dataType).alias("vec_id"),
        F.transform("embedding", lambda x: x - x).alias("embedding"))
    e = e.unionByName(zero)
    ra = _rows(_unit_vectors(e), ["vec_id", "ue"])
    rb = _rows(_unit_vectors_jvm(e), ["vec_id", "ue"])
    assert len(ra) > 1 and ra == rb
    assert ra[0] == (-1, None)


@pytest.mark.smoke
def test_embcos_bank_equals_join(spark):
    """The Arrow bank all-pairs cosine vs the join twin: identical
    (vec1, vec2, cosine) rows (same LTR folds, same HALF_UP round)."""
    from industry_big_data_time_sequence_process_spark.operators.similarity import (
        _emb_bank, _embcos_batches, _embcos_pairs_jvm,
    )
    e = load(spark, SF_T2, "embeddings")
    ids, U = _emb_bank(e)
    got = (e.select("vec_id", "embedding")
            .mapInArrow(_embcos_batches(ids, U, 0.35),
                        "vec1 long, vec2 long, score double")
            .select("vec1", "vec2", F.round("score", 6).alias("cosine")))
    ra = _rows(got, ["vec1", "vec2", "cosine"])
    rb = _rows(_embcos_pairs_jvm(e), ["vec1", "vec2", "cosine"])
    assert len(ra) > 0 and ra == rb


@pytest.mark.smoke
def test_money_sum_equals_decimal_sum(spark):
    """The scaled-integer money aggregation (cents + hi/lo long sums +
    per-group decimal recombine) vs the DECIMAL(18,2) formulation it
    replaced: bit-identical on the Q1-shaped aggregate, and the corpus
    2-decimal contract it relies on holds (cents roundtrip exact)."""
    from industry_big_data_time_sequence_process_spark.exprs import (
        cents, dec2, exact_sum, money_sum, r6,
    )
    li = load(spark, SF_T2, "lineitem").filter(
        F.col("l_shipdate") <= F.lit("2001-09-01").cast("timestamp"))
    # corpus contract: every money double IS a 2-decimal value — the
    # cents round must reproduce the DECIMAL(18,2) integer exactly
    probe = li.select(*[
        F.max(F.abs(cents(c)
                    - (dec2(c) * 100).cast("long"))).alias(c)
        for c in ("l_quantity", "l_extendedprice", "l_discount", "l_tax")])
    assert all(v == 0 for v in probe.collect()[0])
    qc, pc = cents("l_quantity"), cents("l_extendedprice")
    dc = cents(F.lit(1) - F.col("l_discount"))
    tc = cents(F.lit(1) + F.col("l_tax"))
    new = li.groupBy("l_returnflag", "l_linestatus").agg(
        money_sum(qc, 100).alias("a"), money_sum(pc, 100).alias("b"),
        money_sum(pc * dc, 10_000).alias("c"),
        money_sum(pc * dc * tc, 1_000_000).alias("d"))
    disc = dec2(F.lit(1) - F.col("l_discount")).cast("decimal(4,2)")
    tax = dec2(F.lit(1) + F.col("l_tax")).cast("decimal(4,2)")
    price = F.col("l_extendedprice").cast("decimal(12,2)")
    old = li.groupBy("l_returnflag", "l_linestatus").agg(
        exact_sum("l_quantity").alias("a"),
        exact_sum("l_extendedprice").alias("b"),
        F.sum(price * disc).cast("double").alias("c"),
        F.sum(price * disc * tax).cast("double").alias("d"))
    cols = ["l_returnflag", "l_linestatus", "a", "b", "c", "d"]
    ra, rb = _rows(new, cols), _rows(old, cols)
    assert len(ra) > 0 and ra == rb


@pytest.mark.smoke
def test_json_get_from_json_equals_gjo(spark):
    """json_get's single from_json parse vs the triple get_json_object
    formulation it replaced: identical rows on the corpus (the pin that
    catches a future props-shape change breaking the equivalence)."""
    from industry_big_data_time_sequence_process_spark.registry import REGISTRY
    ev = load(spark, SF_T2, "events")
    legacy = ev.select(
        "event_id",
        F.get_json_object("props", "$.k").alias("k_str"),
        F.get_json_object("props", "$.k").cast("int").alias("k_int"),
        F.get_json_object("props", "$.missing").alias("missing"))
    got = REGISTRY["json_get"].fn(spark, SF_T2)
    cols = ["event_id", "k_str", "k_int", "missing"]
    ra, rb = _rows(got, cols), _rows(legacy, cols)
    assert len(ra) > 0 and ra == rb


@pytest.mark.smoke
def test_lsh_bands_arrow_equals_jvm(spark):
    """The Arrow numpy hyperplane signer vs the JVM nested-HOF twin:
    identical (vec_id, band, bucket) rows and embedding passthrough."""
    from industry_big_data_time_sequence_process_spark.operators.similarity import (
        _lsh_bands, _lsh_bands_jvm,
    )
    e = load(spark, SF_T2, "embeddings")
    cols = ["vec_id", "band", "bucket", "embedding"]
    ra = _rows(_lsh_bands(e), cols)
    rb = _rows(_lsh_bands_jvm(e), cols)
    assert len(ra) > 0 and ra == rb
