#!/usr/bin/env python3
"""Headline benchmark — the driver's per-round feedback loop.

Runs the engine's flagship queries at ``$SPARK_GRAFT_SF_DIR`` (default
/root/testdata/sf0.1) on ``local[$SPARK_GRAFT_CPUS]`` and prints ONE JSON
line. Protocol (round 6, VERDICT r5 #4): one shared warm session,
``collect()`` latency, one untimed warm-up pass (codegen + parquet footer
cache) then THREE timed passes per query — ``value`` and the per-query
maps report the MIN (identical semantics to every prior round's
best-of-N, so totals stay round-comparable), and ``queries_median`` /
``heavy_median`` report the median so jitter is visible in the artifact
instead of adjudicated by eye.

Round-10 protocol note (VERDICT r9 #1): ``*_build`` rows are
median-of-N_TIMED too now — each index build is torn down and re-run
like every other measurement (they were the artifact's only one-shot
numbers, and the BENCH_r09 suffix showed what a single sample under
transient machine load looks like). Run on an idle box; a contaminated
suffix is visible as min << median in the committed maps.

Round-11 protocol note (VERDICT r10 "what's wrong" #3): the artifact
now RECORDS box state instead of asking the reader to infer it —
``loadavg_start`` / ``loadavg_end`` (os.getloadavg() 1/5/15-min
triples) land in the JSON, and when 1-min load exceeds
``_LOAD_CONTAMINATION_BAR`` at start the run warns on stderr and tags
the artifact ``"contaminated": true``. Consumers diffing rounds should
discard contaminated artifacts; two consecutive rounds (r9 suffix, all
of r10) were recorded under sustained external load and read as
+30-70% uniform inflation on untouched code paths.

Output contract (ADVICE r5: consumers recompute ``value`` from
``queries``): ``value == sum(queries.values())`` again — the heavy
dedup/ANN family moved to its own ``heavy_queries`` map.

Baseline mapping (BASELINE.md "Measured baseline — sf0.1"):
  q1_pricing_summary   <-> Q1-like pricing summary        (7.38 s)
  q5_star_join         <-> Q5-like 5-table star join      (4.96 s)
  resample_hourly      <-> events hourly resample agg     (3.08 s)
  moving_avg_10row     <-> 10-row trailing moving average (2.25 s)
  top3_per_user        <-> top-3 per user                 (0.39 s)
  json_extract         <-> JSON $.k extraction            (2.82 s)
  word_freq            <-> word-frequency over documents  (0.26 s)
  sessionize / asof_join: this engine's flagship additions (no baseline row).
"""
from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

#: bench name -> registry key (the round-1..4 comparable set; `value`
#: stays the sum of THESE so round-over-round totals keep meaning)
HEADLINE = {
    "q1_pricing_summary": "agg_groupby_multi",
    "q5_star_join": "join_multikey_chain",
    "resample_hourly": "ts_resample_1h",
    "moving_avg_10row": "win_moving_avg_rows",
    "top3_per_user": "topk_per_group",
    "json_extract": "json_get",
    "word_freq": "text_word_freq",
    "sessionize": "ts_sessionize",
    "asof_join": "join_asof_backward",
    "cosine_topk": "sim_cosine_topk",
    "dedup_exact": "dedup_exact_text",
}

#: round 5 (VERDICT r4 #5): the heavy dedup/ANN family, timed per round
#: so a regression there surfaces in the bench diff instead of living
#: only in one-off SCALE.md audits. Reported under `heavy_queries` (and
#: summed as `heavy_total`) — EXCLUDED from `value`/`queries` so those
#: keep their r1..r4 meaning (ADVICE r5).
HEAVY = {
    "ngram_jaccard": "dedup_ngram_jaccard",
    "near_minhash": "dedup_near_minhash",
    "lsh_bucketed": "sim_lsh_bucketed",
    "ivf_scalable": "sim_ivf_scalable_topk",
    "pq_topk": "sim_pq_topk",
    "ivfpq_topk": "sim_ivfpq_topk",
    "sessionize_bucketed": "ts_sessionize_bucketed",
    "decontaminate": "text_decontaminate",
    # round 10: the content-level multimodal dedups (audio fingerprints
    # decoded PCM, video matches frame-signature sequences) — timed per
    # round so a regression in the Arrow decode pre-passes or the
    # anchor joins surfaces in the bench diff
    "audio_fp_dedup": "mm_audio_fingerprint_dedup",
    "video_clip_dedup": "mm_video_clip_dedup",
    # round-10 second wave: span-level exact-substring dedup (the
    # token-window explode + wh-keyed dup join is the family's newest
    # corpus-linear scan — timed so a windowing/hash regression shows)
    "substring_dedup": "text_substring_dedup",
}

N_TIMED = 3  # timed passes per query (after one untimed warm-up)

#: 1-min loadavg above which a starting run is tagged contaminated —
#: this box is otherwise idle, so any sustained external load shows up
#: well past this (the r9/r10 contamination episodes ran at load >> 2
#: for the whole suite; a clean run starts below ~0.5).
_LOAD_CONTAMINATION_BAR = 2.0


def _timed_passes(thunk) -> tuple[float, float]:
    """(min, median) over N_TIMED runs of an already-warm thunk."""
    ts = []
    for _ in range(N_TIMED):
        t0 = time.perf_counter()
        thunk()
        ts.append(time.perf_counter() - t0)
    return round(min(ts), 3), round(statistics.median(ts), 3)


def _bench_family_splits(spark, sf_dir: str) -> dict[str, dict[str, float]]:
    """VERDICT r6 #3: build/serve rows for the REST of the heavy ANN/dedup
    family (pq_topk, ivf_scalable, lsh_bucketed, near_minhash), same
    protocol as ``_bench_ivfpq_split`` — build = materialize the index
    artifact once (cache + count), serve = min/median of N_TIMED query
    passes against the cached frames. Keeps round-over-round serve diffs
    meaningful: a constant retraining cost can no longer hide a per-row
    serve regression (or fake one)."""
    from pyspark.sql import functions as F

    from industry_big_data_time_sequence_process_spark.operators import (
        similarity as S, text as T)
    from industry_big_data_time_sequence_process_spark.sources.io import load

    mins: dict[str, float] = {}
    meds: dict[str, float] = {}

    def split(name: str, build, serve) -> None:
        # round 10 (VERDICT r9 "what's wrong" #2): *_build rows were the
        # only single-shot numbers in the artifact — the noisiest rows
        # with zero repetition. Now every build is torn down and re-run
        # N_TIMED times like everything else; min/median are reported
        # from the same passes.
        bts, frames = [], None
        for _ in range(N_TIMED):
            if frames is not None:        # teardown before rebuild
                for f in frames:
                    f.unpersist()
            t0 = time.perf_counter()
            frames = build()              # cached + materialized frames
            bts.append(time.perf_counter() - t0)
        thunk = lambda: serve(*frames).collect()
        thunk()                           # warm-up
        mins[f"{name}_build"] = round(min(bts), 3)
        meds[f"{name}_build"] = round(statistics.median(bts), 3)
        mins[f"{name}_serve"], meds[f"{name}_serve"] = _timed_passes(thunk)
        for f in frames:
            f.unpersist()

    e = load(spark, sf_dir, "embeddings")
    qdf = e.filter(F.col("vec_id") < S._N_QUERIES).select(
        F.col("vec_id").alias("q_vec_id"), F.col("embedding").alias("qemb"))

    def build_pq():
        cb = S._pq_codebook(e)
        codes = S._pq_codes(e, cb).cache()
        codes.count()
        return cb.frame.cache(), codes

    split("pq_topk", build_pq,
          lambda cb, codes: S._pq_serve_topk(qdf, codes, cb, e))

    def build_ivf():
        cells = S._ivf_cells_scalable(e).cache()
        cells.count()
        return (cells,)

    split("ivf_scalable", build_ivf, S._ivf_cell_topk)

    def build_lsh():
        b = S._lsh_bands(e).select("vec_id", "band", "bucket").cache()
        b.count()
        return (b,)

    split("lsh_bucketed", build_lsh, lambda b: S._lsh_pairs(b, e))

    d = load(spark, sf_dir, "documents")

    def build_minhash():
        tok = T._shingles(d).withColumnRenamed("s", "token").cache()
        bands = T._minhash_bands(tok).cache()
        bands.count()
        return tok, bands

    split("near_minhash", build_minhash, T._minhash_pairs)

    # Round 9 (VERDICT r8 #2): the semantic-dedup family. Fused row =
    # full index build + pairs + teardown per pass (the registered op
    # memoizes its index, so timing it via the registry would silently
    # measure serve-only after the warm-up); build/serve split for the
    # incremental twin mirrors the other index families — build = the
    # two-level serving index over the old 90% slice, serve = one
    # arrival batch probing it.
    import math

    def fused_semantic() -> None:
        sub = S._twolevel_cells(e, S._SEMDEDUP_OCC)
        S._semantic_pairs(sub, S._SEMDEDUP_TAU).collect()
        sub.unpersist()

    fused_semantic()                       # warm-up
    mins["semantic_dedup"], meds["semantic_dedup"] = \
        _timed_passes(fused_semantic)

    cut = math.floor(0.9 * e.count())
    old = e.filter(F.col("vec_id") < cut).select("vec_id", "embedding")
    batch = e.filter(F.col("vec_id") >= cut).select("vec_id", "embedding")

    def build_seminc():
        return S._twolevel_index(old, S._SEMDEDUP_OCC)

    split("semantic_inc", build_seminc,
          lambda cent, subcent, old_sub: S._semantic_ingest_pairs(
              batch, cent, subcent, old_sub, S._SEMDEDUP_TAU))
    return {"min": mins, "median": meds}


def _bench_ivfpq_split(spark, sf_dir: str) -> dict[str, dict[str, float]]:
    """VERDICT r5 #7: time the composed ANN index BUILD (train + code the
    corpus, materialized once) separately from SERVING queries against
    the prebuilt frames — production runs them on different cadences, so
    one fused number hides where the time goes."""
    from pyspark.sql import functions as F

    from industry_big_data_time_sequence_process_spark.operators.similarity import (
        _N_QUERIES, _ivf_nlist, _ivf_nprobe, _ivfpq_index, _ivfpq_serve_topk)
    from industry_big_data_time_sequence_process_spark.sources.io import load

    e = load(spark, sf_dir, "embeddings")
    # median-of-N builds (round 10, same protocol as the family splits)
    bts = []
    index = None
    for _ in range(N_TIMED):
        if index is not None:
            index.corpus.unpersist()
        t0 = time.perf_counter()
        index = _ivfpq_index(e)
        index = index._replace(corpus=index.corpus.cache())
        index.corpus.count()  # materialize the coded inverted lists
        bts.append(time.perf_counter() - t0)
    b_min, b_med = round(min(bts), 3), round(statistics.median(bts), 3)
    qdf = e.filter(F.col("vec_id") < _N_QUERIES)
    # ADVICE r8: resolve the auto dial ONCE at setup (the
    # stream_ann_serving discipline) — nprobe=None inside the timed loop
    # would re-run e.count() per pass and bill an index-sizing job to
    # every serve measurement.
    np_auto = _ivf_nprobe(_ivf_nlist(e.count()))

    def serve() -> None:
        # serving default: nprobe auto-scales with nlist (r8)
        _ivfpq_serve_topk(qdf, index, e, nprobe=np_auto).collect()

    serve()  # warm-up
    s_min, s_med = _timed_passes(serve)
    index.corpus.unpersist()
    return {"min": {"ivfpq_build": b_min, "ivfpq_serve": s_min},
            "median": {"ivfpq_build": b_med, "ivfpq_serve": s_med}}


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR",
                            "/root/testdata/sf0.1").rstrip("/")
    from industry_big_data_time_sequence_process_spark.registry import REGISTRY
    from industry_big_data_time_sequence_process_spark.session import get_session

    load_start = os.getloadavg()
    contaminated = load_start[0] > _LOAD_CONTAMINATION_BAR
    if contaminated:
        print(f"WARNING: 1-min loadavg {load_start[0]:.2f} > "
              f"{_LOAD_CONTAMINATION_BAR} at start — artifact will be "
              f"tagged contaminated (re-run on an idle box)",
              file=sys.stderr)

    spark = get_session("bench")
    spark.sparkContext.setLogLevel("ERROR")

    def run(names: dict[str, str]) -> tuple[dict[str, float],
                                            dict[str, float]]:
        mins: dict[str, float] = {}
        meds: dict[str, float] = {}
        for name, key in names.items():
            if key not in REGISTRY:
                continue
            fn = REGISTRY[key].fn
            fn(spark, sf_dir).collect()      # warm-up: codegen + IO cache
            mins[name], meds[name] = _timed_passes(
                lambda: fn(spark, sf_dir).collect())
        return mins, meds

    timings, timings_med = run(HEADLINE)
    heavy, heavy_med = run(HEAVY)
    for split in (_bench_ivfpq_split(spark, sf_dir),
                  _bench_family_splits(spark, sf_dir)):
        heavy.update(split["min"])
        heavy_med.update(split["median"])

    try:
        sf = float(os.path.basename(sf_dir).replace("sf", ""))
    except ValueError:
        sf = None
    # Protocol change (r8, VERDICT r7 #8): heavy_total covers the FUSED
    # family ops plus the *_serve rows only — the deterministic one-shot
    # *_build rows moved to their own build_total, so heavy_total stays
    # apples-to-apples round-over-round instead of drifting every time a
    # build/serve split row is added (r6→r7 grew 51→63 s from protocol
    # alone). Both totals recompute from heavy_queries by key suffix.
    build_keys = {k for k in heavy if k.endswith("_build")}
    print(json.dumps({
        "metric": "headline_queries_total_warm",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": timings,
        "queries_median": timings_med,
        "heavy_queries": heavy,
        "heavy_median": heavy_med,
        "headline_total": round(sum(timings.values()), 3),
        "heavy_total": round(sum(v for k, v in heavy.items()
                                 if k not in build_keys), 3),
        "build_total": round(sum(heavy[k] for k in build_keys), 3),
        "n_timed_passes": N_TIMED,
        "loadavg_start": [round(x, 2) for x in load_start],
        "loadavg_end": [round(x, 2) for x in os.getloadavg()],
        "contaminated": contaminated,
        "sf": sf,
    }))
    spark.stop()


if __name__ == "__main__":
    main()
