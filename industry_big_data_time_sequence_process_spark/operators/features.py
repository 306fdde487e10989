"""Feature-engineering operators — the step between the curated corpus and
the model: turning raw events/documents into bounded, reproducible feature
columns (SURVEY.md §2.11 adjunct; LLM/ML-pipeline surface like sampling.py).

Design notes (100 TB posture):

- Encodings are computed from ONE aggregation pass over the fact table and
  joined back (or returned) as a tiny broadcast dimension — never a
  per-row lookup loop.
- The hashing trick bounds feature dimensionality by construction: the
  width is a constant of the pipeline, not a function of the vocabulary,
  so the feature matrix never grows a shuffle as the corpus grows.
- Same portable ``hash32`` as text.py/sampling.py (md5-derived) so every
  hashed feature is value-verifiable cross-engine.
- Double sums over ``value`` go through decimal(18,2) first
  (order-insensitive exact sums — the repo-wide determinism discipline).
"""
from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window, functions as F

from ..api import bucketed_ntile, bucketed_running_sum, hash32
from ..registry import REGISTRY, op
from ..sources.io import load
from .sampling import _split_cutoff, _split_cutoff_scalable

#: DuckDB: first 8 hex digits of md5 as int64 (portable hash32).
from ..api import DUCK_H32 as _DUCK_H32  # one shared definition

#: Smoothing pseudo-count for target encoding (the prior's weight).
_TE_PRIOR_M = 20


def _h32(c: Column) -> Column:
    return hash32(c)  # promoted to api.py (round 5); kept as local alias


@op("feat_target_encode", oracle=f"""
WITH per AS (
    SELECT event_type,
           count(*) AS n,
           SUM(CAST(value AS DECIMAL(18,2))) AS s
    FROM events GROUP BY event_type
), g AS (
    SELECT CAST(SUM(s) AS DOUBLE) / SUM(n) AS gmean FROM per
)
SELECT event_type, n,
       round(CAST(s AS DOUBLE) / n, 6) AS raw_mean,
       round((CAST(s AS DOUBLE) + {_TE_PRIOR_M} * g.gmean)
             / (n + {_TE_PRIOR_M}), 6) AS encoded,
       round(g.gmean, 6) AS global_mean
FROM per CROSS JOIN g
""", tier=3, section="2.11")
def feat_target_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Smoothed target (mean) encoding of a categorical key — the
    standard leakage-prone-if-done-naively feature, done as one pass:
    ``enc(k) = (sum_k + m·global_mean) / (n_k + m)`` with pseudo-count
    m=20, shrinking rare categories toward the global mean
    (empirical-Bayes shrinkage).

    Scale: EXACTLY ONE aggregate pass over the fact table (map-side
    partials, plan-pinned in tests/test_plans.py); the global mean is
    then an unpartitioned window over the category-sized encoding table
    — deriving it from a second ``per.agg(...)`` would re-compute the
    whole lineage and scan the facts twice (the first version did; the
    plan test caught it). The encoding table is what a training job
    broadcast-joins back onto the facts. Sums are decimal-exact
    (order-insensitive), so the encoded values are reproducible at any
    parallelism; the only double ops are one add and one divide over
    exact operands, identical in both engines.
    """
    ev = load(spark, sf_dir, "events")
    per = ev.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum(F.col("value").cast("decimal(18,2)")).alias("s"),
    )
    w = Window.partitionBy()
    return (
        per.withColumn("gmean", F.sum("s").over(w).cast("double")
                                / F.sum("n").over(w))
           .select(
               "event_type", "n",
               F.round(F.col("s").cast("double") / F.col("n"), 6)
                .alias("raw_mean"),
               F.round((F.col("s").cast("double")
                        + _TE_PRIOR_M * F.col("gmean"))
                       / (F.col("n") + _TE_PRIOR_M), 6).alias("encoded"),
               F.round("gmean", 6).alias("global_mean"),
           )
    )


@op("feat_hashing_vectorize", oracle=f"""
SELECT doc_id, bucket, CAST(count(*) AS BIGINT) AS cnt
FROM (
    SELECT doc_id,
           {_DUCK_H32.format(c="token")} % 64 AS bucket
    FROM (
        SELECT doc_id, unnest(string_split(text, ' ')) AS token
        FROM documents WHERE doc_id < 40
    )
)
GROUP BY doc_id, bucket
""", tier=3, section="2.11")
def feat_hashing_vectorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The hashing trick: token-count vectors in a FIXED 64-dim hashed
    space (``bucket = hash32(token) % 64``), sparse (doc, bucket, count)
    layout. Demonstrated on doc_id < 40 to bound the checked output; the
    plan is corpus-size-independent.

    Why this beats a vocabulary dictionary at 100 TB: no vocab build, no
    vocab broadcast, no OOV handling — the feature width is a pipeline
    constant, new tokens land in existing buckets, and the whole thing is
    tokenize -> narrow hash -> ONE shuffle on (doc, bucket) with map-side
    partial counts. The md5-derived hash keeps the vectors identical
    across engines and runs (a requirement for cached-feature reuse).
    """
    d = load(spark, sf_dir, "documents").filter(F.col("doc_id") < 40)
    toks = d.select(
        "doc_id", F.explode(F.split("text", " ")).alias("token"))
    return (
        toks.select("doc_id", (_h32(F.col("token")) % 64).alias("bucket"))
            .groupBy("doc_id", "bucket")
            .agg(F.count("*").cast("long").alias("cnt"))
    )


#: IV fixed-point grid: per-bin IV contributions are floored onto 1e-9
#: before the cross-bin sum (order-insensitive integer aggregate).
_IV_FX = 1e9


@op("feat_woe_binning", oracle=f"""
WITH binned AS (
    SELECT CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS pos,
           ntile(10) OVER (ORDER BY value, event_id) AS bin
    FROM events
), per AS (
    SELECT bin, count(*) AS n,
           CAST(SUM(pos) AS BIGINT) AS n_pos,
           CAST(count(*) - SUM(pos) AS BIGINT) AS n_neg
    FROM binned GROUP BY bin
), tot AS (
    SELECT CAST(SUM(n_pos) AS DOUBLE) AS p_tot,
           CAST(SUM(n_neg) AS DOUBLE) AS n_tot
    FROM per
), woed AS (
    SELECT bin, n, n_pos, n_neg,
           CASE WHEN n_pos > 0 AND n_neg > 0 THEN
               ln((n_pos / t.p_tot) / (n_neg / t.n_tot)) END AS woe,
           CASE WHEN n_pos > 0 AND n_neg > 0 THEN
               CAST(floor((n_pos / t.p_tot - n_neg / t.n_tot)
                    * ln((n_pos / t.p_tot) / (n_neg / t.n_tot))
                    * {_IV_FX}) AS BIGINT) ELSE 0 END AS ivfx
    FROM per CROSS JOIN tot t
)
SELECT bin, n, n_pos, n_neg,
       round(woe, 6) AS woe,
       round(SUM(ivfx) OVER () / {_IV_FX}, 6) AS iv_total
FROM woed
""", tier=3, section="2.11")
def feat_woe_binning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weight-of-evidence binning with information value — the
    credit-scoring / feature-selection staple: decile-bin the numeric
    feature (``value``), and per bin report WOE = ln(pos-share /
    neg-share) against the binary target (purchase events), plus the
    feature's total IV = Σ (pos_share − neg_share)·WOE — the single
    number that says whether the feature is worth keeping.

    Determinism & scale: deciles come from ntile over a deterministic
    total order (value, event_id) — one global sort at test scale; at
    100 TB the bin edges would come from approx_percentile and the rest
    of the plan is unchanged (bin stats are a 10-row aggregate either
    way). Per-bin IV contributions floor onto a 1e-9 grid so the
    cross-bin sum is an integer aggregate; WOE itself is one ln per bin
    over exact count ratios.
    """
    ev = load(spark, sf_dir, "events")
    wb = Window.orderBy("value", "event_id")
    binned = ev.select(
        F.when(F.col("event_type") == "purchase", 1).otherwise(0)
         .alias("pos"),
        F.ntile(10).over(wb).alias("bin"))
    return _woe_from_binned(binned)


def _woe_from_binned(binned: DataFrame) -> DataFrame:
    """(bin, pos) -> the WOE/IV output table — shared by the exactness
    baseline (global ntile) and the scalable twin (two-phase rank); every
    window below runs over the 10-row bin table, never fact rows."""
    per = binned.groupBy("bin").agg(
        F.count("*").alias("n"),
        F.sum("pos").alias("n_pos"),
        (F.count("*") - F.sum("pos")).alias("n_neg"))
    wall = Window.partitionBy()
    per = per.withColumn("p_tot", F.sum("n_pos").over(wall).cast("double")) \
             .withColumn("n_tot", F.sum("n_neg").over(wall).cast("double"))
    ps = F.col("n_pos") / F.col("p_tot")
    ns = F.col("n_neg") / F.col("n_tot")
    ok = (F.col("n_pos") > 0) & (F.col("n_neg") > 0)
    woe = F.when(ok, F.log(ps / ns))
    ivfx = F.when(ok, F.floor((ps - ns) * F.log(ps / ns) * _IV_FX)
                      .cast("long")).otherwise(F.lit(0))
    woed = per.select("bin", "n", "n_pos", "n_neg", woe.alias("woe"),
                      ivfx.alias("ivfx"))
    return woed.select(
        "bin", "n", "n_pos", "n_neg",
        F.round("woe", 6).alias("woe"),
        F.round(F.sum("ivfx").over(wall) / _IV_FX, 6).alias("iv_total"))


@op("feat_woe_binning_scalable",
    oracle=REGISTRY["feat_woe_binning"].oracle, tier=3, section="2.11")
def feat_woe_binning_scalable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale-safe twin of ``feat_woe_binning`` (VERDICT r4 #1): the
    deciles come from :func:`~..api.bucketed_ntile` — a two-phase exact
    rank (per-bucket counts -> offset-merged within-bucket row_number)
    instead of one unpartitioned ntile over every event. The bucket is
    ``floor(value)`` (~500 buckets on this bounded feature; the
    granularity dial at larger corpora is ``floor(value * G)``), so the
    largest partition Spark ever sorts is one bucket, not the table.

    VALUE-IDENTICAL to the baseline: the twin reuses the baseline's
    oracle verbatim — exact ntile arithmetic from (rank, n) reproduces
    SQL ntile bit-for-bit, so this is an exact twin, not a tolerance
    twin. Plan-pinned (tests/test_plans.py) to contain no unpartitioned
    window over fact rows."""
    ev = load(spark, sf_dir, "events")
    rows = ev.select(
        "value", "event_id",
        F.when(F.col("event_type") == "purchase", 1).otherwise(0)
         .alias("pos"))
    binned = bucketed_ntile(
        rows, F.floor("value").cast("long"),
        [F.col("value"), F.col("event_id")], 10, tile_name="bin")
    return _woe_from_binned(binned.select("bin", "pos"))


@op("feat_calibration_ece", oracle="""
WITH scored AS (   -- pseudo-probability from the bounded value column
    SELECT least(value / 500.0, 1.0) AS p,
           CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
    FROM events
), binned AS (
    SELECT CAST(least(floor(p * 10), 9) AS BIGINT) AS bin, p, y
    FROM scored
), per AS (
    SELECT bin, count(*) AS n,
           CAST(SUM(CAST(floor(p * 1000000000) AS BIGINT)) AS DOUBLE)
               / 1000000000 / count(*) AS avg_p,
           CAST(SUM(y) AS DOUBLE) / count(*) AS pos_rate
    FROM binned GROUP BY bin
), tot AS (SELECT CAST(SUM(n) AS DOUBLE) AS n_all FROM per)
SELECT bin, CAST(n AS BIGINT) AS n,
       round(avg_p, 6) AS avg_score,
       round(pos_rate, 6) AS pos_rate,
       round(abs(avg_p - pos_rate), 6) AS gap,
       round(SUM(CAST(floor(abs(avg_p - pos_rate) * n / t.n_all
                            * 1000000000) AS BIGINT)) OVER ()
             / 1000000000, 6) AS ece
FROM per CROSS JOIN tot t
""", tier=3, section="2.11")
def feat_calibration_ece(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Expected calibration error — the model-eval staple: bin a score
    column interpreted as P(positive) into 10 equal-width bins and
    compare each bin's mean score against its realized positive rate;
    ECE is the frequency-weighted mean absolute gap. (The score here is
    the bounded ``value/500`` pseudo-probability against the purchase
    label — the op's mechanics are what a training pipeline points at
    its real model scores.)

    Scale: one hash aggregate to 10 bins — map-side combinable, no
    sort, no percentile pass (equal-WIDTH bins are the standard ECE
    recipe, unlike the WOE op's equal-height deciles). Determinism:
    per-bin score sums and the cross-bin ECE sum both ride the 1e-9
    fixed-point grid; positive rates are exact count ratios.
    """
    ev = load(spark, sf_dir, "events")
    p = F.least(F.col("value") / 500.0, F.lit(1.0))
    y = F.when(F.col("event_type") == "purchase", 1).otherwise(0)
    binned = ev.select(
        F.least(F.floor(p * 10), F.lit(9)).cast("long").alias("bin"),
        p.alias("p"), y.alias("y"))
    per = binned.groupBy("bin").agg(
        F.count("*").alias("n"),
        (F.sum(F.floor(F.col("p") * 1_000_000_000).cast("long"))
          .cast("double") / 1_000_000_000 / F.count("*")).alias("avg_p"),
        (F.sum("y").cast("double") / F.count("*")).alias("pos_rate"))
    wall = Window.partitionBy()
    per = per.withColumn("n_all", F.sum("n").over(wall).cast("double"))
    gap = F.abs(F.col("avg_p") - F.col("pos_rate"))
    ece_fx = F.floor(gap * F.col("n") / F.col("n_all") * 1_000_000_000) \
              .cast("long")
    return per.select(
        "bin", F.col("n").cast("long").alias("n"),
        F.round("avg_p", 6).alias("avg_score"),
        F.round("pos_rate", 6).alias("pos_rate"),
        F.round(gap, 6).alias("gap"),
        F.round(F.sum(ece_fx).over(wall) / 1_000_000_000, 6).alias("ece"))


@op("feat_time_split_encode", oracle=f"""
WITH e AS (
    SELECT event_type, value, ts,
           row_number() OVER (ORDER BY ts, event_id) AS rn,
           count(*) OVER () AS n
    FROM events
), cut AS (
    SELECT ts AS cutoff FROM e WHERE rn = CAST(floor(0.8 * n) AS BIGINT)
), train AS (
    SELECT event_type, count(*) AS n_train,
           SUM(CAST(value AS DECIMAL(18,2))) AS s_train
    FROM e CROSS JOIN cut WHERE e.ts <= cutoff GROUP BY event_type
), gtrain AS (
    SELECT CAST(SUM(s_train) AS DOUBLE) / SUM(n_train) AS gmean FROM train
), full_enc AS (
    SELECT event_type, count(*) AS n_full,
           SUM(CAST(value AS DECIMAL(18,2))) AS s_full
    FROM events GROUP BY event_type
)
SELECT t.event_type, t.n_train, f.n_full,
       round((CAST(t.s_train AS DOUBLE) + {_TE_PRIOR_M} * g.gmean)
             / (t.n_train + {_TE_PRIOR_M}), 6) AS encoded_train_only,
       round((CAST(f.s_full AS DOUBLE) + {_TE_PRIOR_M} * g.gmean)
             / (f.n_full + {_TE_PRIOR_M}), 6) AS encoded_leaky,
       round((CAST(f.s_full AS DOUBLE) + {_TE_PRIOR_M} * g.gmean)
             / (f.n_full + {_TE_PRIOR_M})
             - (CAST(t.s_train AS DOUBLE) + {_TE_PRIOR_M} * g.gmean)
             / (t.n_train + {_TE_PRIOR_M}), 6) AS leakage_bias
FROM train t
JOIN full_enc f ON f.event_type = t.event_type
CROSS JOIN gtrain g
""", tier=3, section="2.11")
def feat_time_split_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe target encoding: the encoding table a model may
    legally see is computed from the TRAIN period only (the same exact
    order-statistic 80% cutoff as sample_split_temporal), side-by-side
    with the leaky full-data encoding and their difference — the
    leakage_bias column makes the train-serving skew VISIBLE instead of
    silently inflating offline metrics. Closes the loop between
    feat_target_encode (the encoder) and sample_split_temporal (the
    split): this is how the two must be composed in a real pipeline.

    Shape: one cutoff order statistic (broadcast), two category-sized
    aggregates (train-slice and full), a 1-row train global mean —
    decimal-exact sums everywhere, the same m=20 shrinkage as the
    parent encoder.
    """
    ev = load(spark, sf_dir, "events")
    return _time_split_encode_output(ev, _split_cutoff(ev))


def _time_split_encode_output(ev: DataFrame, cut: DataFrame) -> DataFrame:
    """Given the 1-row ``cutoff`` frame, the train-only vs leaky encoding
    comparison — shared by the exactness baseline and the scalable twin."""
    train = (ev.crossJoin(F.broadcast(cut))
               .filter(F.col("ts") <= F.col("cutoff"))
               .groupBy("event_type")
               .agg(F.count("*").alias("n_train"),
                    F.sum(F.col("value").cast("decimal(18,2)"))
                     .alias("s_train")))
    gtrain = train.agg((F.sum("s_train").cast("double")
                        / F.sum("n_train")).alias("gmean"))
    full_enc = ev.groupBy("event_type").agg(
        F.count("*").alias("n_full"),
        F.sum(F.col("value").cast("decimal(18,2)")).alias("s_full"))
    enc_t = ((F.col("s_train").cast("double")
              + _TE_PRIOR_M * F.col("gmean"))
             / (F.col("n_train") + _TE_PRIOR_M))
    enc_f = ((F.col("s_full").cast("double")
              + _TE_PRIOR_M * F.col("gmean"))
             / (F.col("n_full") + _TE_PRIOR_M))
    return (train.join(full_enc, "event_type")
                 .crossJoin(F.broadcast(gtrain))
                 .select("event_type", "n_train", "n_full",
                         F.round(enc_t, 6).alias("encoded_train_only"),
                         F.round(enc_f, 6).alias("encoded_leaky"),
                         F.round(enc_f - enc_t, 6).alias("leakage_bias")))


@op("feat_time_split_encode_scalable",
    oracle=REGISTRY["feat_time_split_encode"].oracle, tier=3,
    section="2.11")
def feat_time_split_encode_scalable(spark: SparkSession,
                                    sf_dir: str) -> DataFrame:
    """Scale-safe twin of ``feat_time_split_encode`` (VERDICT r4 #1):
    identical encoding comparison, but the 80% cutoff comes from
    :func:`_split_cutoff_scalable` (two-phase rank, no unpartitioned
    window over fact rows) instead of a global row_number. Exact twin —
    reuses the baseline's oracle verbatim."""
    ev = load(spark, sf_dir, "events")
    return _time_split_encode_output(ev, _split_cutoff_scalable(ev))


@op("feat_psi_drift", oracle="""
WITH e AS (
    SELECT value, ts,
           row_number() OVER (ORDER BY ts, event_id) AS rn,
           count(*) OVER () AS n
    FROM events
), cut AS (
    SELECT ts AS cutoff FROM e WHERE rn = CAST(floor(0.8 * n) AS BIGINT)
), binned AS (
    SELECT CAST(least(floor(value / 50.0), 9) AS BIGINT) AS bin,
           CASE WHEN e.ts <= c.cutoff THEN 1 ELSE 0 END AS is_ref
    FROM e CROSS JOIN cut c
), per AS (
    SELECT bin,
           CAST(SUM(is_ref) AS BIGINT) AS n_ref,
           CAST(count(*) - SUM(is_ref) AS BIGINT) AS n_cur
    FROM binned GROUP BY bin
), tot AS (
    SELECT CAST(SUM(n_ref) AS DOUBLE) AS r_tot,
           CAST(SUM(n_cur) AS DOUBLE) AS c_tot
    FROM per
), scored AS (
    SELECT bin, n_ref, n_cur,
           n_ref / t.r_tot AS p_ref,
           n_cur / t.c_tot AS p_cur,
           CASE WHEN n_ref > 0 AND n_cur > 0 THEN
               CAST(floor((n_cur / t.c_tot - n_ref / t.r_tot)
                    * ln((n_cur / t.c_tot) / (n_ref / t.r_tot))
                    * 1000000000) AS BIGINT) ELSE 0 END AS psifx
    FROM per CROSS JOIN tot t
)
SELECT bin, n_ref, n_cur,
       round(p_ref, 6) AS p_ref,
       round(p_cur, 6) AS p_cur,
       round(SUM(psifx) OVER () / 1000000000, 6) AS psi_total
FROM scored
""", tier=3, section="2.11")
def feat_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index — THE model-monitoring drift metric:
    bin the feature into 10 fixed-width bins, compare the reference
    (train-period, the sample_split_temporal 80% cutoff) distribution
    against the current (post-cutoff) one, ``PSI = Σ (p_cur − p_ref)
    ln(p_cur/p_ref)``. The conventional read: < 0.1 stable, 0.1-0.25
    drifting, > 0.25 retrain. Completes the monitoring trio with
    feat_calibration_ece (is the model calibrated) and
    feat_woe_binning (is the feature informative): this one says
    whether the feature still LOOKS like what the model trained on.

    One bin aggregate over the labeled stream; per-bin PSI terms floor
    onto the 1e-9 grid so the total is an integer aggregate; bins empty
    on either side contribute 0 rather than ±inf (the standard guarded
    PSI).
    """
    ev = load(spark, sf_dir, "events")
    return _psi_output(ev, _split_cutoff(ev))


def _psi_output(ev: DataFrame, cut: DataFrame) -> DataFrame:
    """Given the 1-row ``cutoff`` frame, the per-bin PSI table — shared
    by the exactness baseline and the scalable twin; every window below
    runs over the 10-row bin table."""
    binned = (ev.crossJoin(F.broadcast(cut))
                .select(F.least(F.floor(F.col("value") / 50.0), F.lit(9))
                         .cast("long").alias("bin"),
                        F.when(F.col("ts") <= F.col("cutoff"), 1)
                         .otherwise(0).alias("is_ref")))
    per = binned.groupBy("bin").agg(
        F.sum("is_ref").cast("long").alias("n_ref"),
        (F.count("*") - F.sum("is_ref")).cast("long").alias("n_cur"))
    wall = Window.partitionBy()
    per = (per.withColumn("r_tot", F.sum("n_ref").over(wall)
                                    .cast("double"))
              .withColumn("c_tot", F.sum("n_cur").over(wall)
                                    .cast("double")))
    p_ref = F.col("n_ref") / F.col("r_tot")
    p_cur = F.col("n_cur") / F.col("c_tot")
    ok = (F.col("n_ref") > 0) & (F.col("n_cur") > 0)
    psifx = F.when(ok, F.floor((p_cur - p_ref) * F.log(p_cur / p_ref)
                               * 1_000_000_000).cast("long")) \
             .otherwise(F.lit(0))
    return per.select(
        "bin", "n_ref", "n_cur",
        F.round(p_ref, 6).alias("p_ref"),
        F.round(p_cur, 6).alias("p_cur"),
        F.round(F.sum(psifx).over(wall) / 1_000_000_000, 6)
         .alias("psi_total"))


@op("feat_psi_drift_scalable",
    oracle=REGISTRY["feat_psi_drift"].oracle, tier=3, section="2.11")
def feat_psi_drift_scalable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale-safe twin of ``feat_psi_drift`` (VERDICT r4 #1): identical
    PSI table, but the reference/current boundary comes from
    :func:`_split_cutoff_scalable` (two-phase rank) instead of a global
    row_number over every event. Exact twin — reuses the baseline's
    oracle verbatim; plan-pinned free of unpartitioned fact windows."""
    ev = load(spark, sf_dir, "events")
    return _psi_output(ev, _split_cutoff_scalable(ev))


@op("feat_mutual_information", oracle="""
WITH cells AS (
    SELECT event_type AS x,
           CAST(least(floor(value / 100.0), 4) AS BIGINT) AS y,
           count(*) AS n
    FROM events GROUP BY 1, 2
), tot AS (SELECT CAST(SUM(n) AS DOUBLE) AS n_all FROM cells),
mx AS (SELECT x, SUM(n) AS nx FROM cells GROUP BY x),
my AS (SELECT y, SUM(n) AS ny FROM cells GROUP BY y),
terms AS (
    SELECT c.x, c.y, c.n,
           CAST(floor((c.n / t.n_all)
                * ln((c.n * t.n_all)
                     / (CAST(mx.nx AS DOUBLE) * my.ny))
                * 1000000000) AS BIGINT) AS mifx
    FROM cells c
    JOIN mx ON mx.x = c.x
    JOIN my ON my.y = c.y
    CROSS JOIN tot t
)
SELECT x AS event_type, y AS value_band, CAST(n AS BIGINT) AS n,
       round(SUM(mifx) OVER () / 1000000000, 6) AS mi_nats
FROM terms
""", tier=3, section="2.11")
def feat_mutual_information(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual information between a categorical feature (event type) and
    the banded target (value quintile bands): ``I(X;Y) = Σ p(x,y)
    ln(p(x,y)/(p(x)p(y)))`` — the model-free feature-relevance measure
    that catches non-linear and non-monotone dependence WOE/correlation
    miss. Reported per cell with the corpus MI in nats.

    One aggregate to the (types × bands) cell grid; margins are grid
    aggregates; every MI term is counts-only ratios with ONE ln, floored
    onto the 1e-9 grid before the cross-cell sum — the repo's standard
    order-invariant construction. At 100 TB the grid stays constant
    size, so this costs one map-combinable pass regardless of corpus.
    """
    ev = load(spark, sf_dir, "events")
    cells = ev.groupBy(
        F.col("event_type").alias("x"),
        F.least(F.floor(F.col("value") / 100.0), F.lit(4)).cast("long")
         .alias("y")).agg(F.count("*").alias("n"))
    wall = Window.partitionBy()
    wx = Window.partitionBy("x")
    wy = Window.partitionBy("y")
    cells = (cells.withColumn("n_all", F.sum("n").over(wall)
                                        .cast("double"))
                  .withColumn("nx", F.sum("n").over(wx))
                  .withColumn("ny", F.sum("n").over(wy)))
    mifx = F.floor((F.col("n") / F.col("n_all"))
                   * F.log((F.col("n") * F.col("n_all"))
                           / (F.col("nx").cast("double") * F.col("ny")))
                   * 1_000_000_000).cast("long")
    return cells.select(
        F.col("x").alias("event_type"), F.col("y").alias("value_band"),
        F.col("n").cast("long").alias("n"),
        F.round(F.sum(mifx).over(wall) / 1_000_000_000, 6)
         .alias("mi_nats"))


@op("feat_gains_table", oracle="""
WITH scored AS (
    SELECT least(value / 500.0, 1.0) AS p,
           CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y,
           event_id
    FROM events
), ranked AS (
    SELECT y, ntile(10) OVER (ORDER BY p DESC, event_id) AS decile
    FROM scored
), per AS (
    SELECT decile, count(*) AS n, CAST(SUM(y) AS BIGINT) AS n_pos
    FROM ranked GROUP BY decile
), tot AS (
    SELECT CAST(SUM(n_pos) AS DOUBLE) AS pos_all,
           CAST(SUM(n) AS DOUBLE) AS n_all
    FROM per
)
SELECT p.decile, p.n, p.n_pos,
       round(SUM(p.n_pos) OVER (ORDER BY p.decile) / t.pos_all, 6)
           AS cum_capture,
       round((CAST(p.n_pos AS DOUBLE) / p.n)
             / (t.pos_all / t.n_all), 6) AS lift
FROM per p CROSS JOIN tot t
""", tier=3, section="2.11")
def feat_gains_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gains/lift table — how a scored model is actually USED: rank by
    score descending, cut into deciles, and report each decile's
    positive count, the cumulative share of all positives captured by
    targeting down to that decile, and the decile's lift over the base
    rate. The campaign-targeting read: "mail the top 3 deciles, get X%
    of converters at Y× efficiency".

    Same deterministic ntile discipline as feat_woe_binning (score
    DESC with event_id tiebreak); cumulative capture is an integer
    window sum over the 10-row decile table divided once — trivially
    engine-exact. Completes the supervised-eval family: WOE/IV (is the
    feature informative), ECE (is the score calibrated), PSI (has the
    input drifted), gains (what does acting on the score buy).
    """
    ev = load(spark, sf_dir, "events")
    p = F.least(F.col("value") / 500.0, F.lit(1.0))
    y = F.when(F.col("event_type") == "purchase", 1).otherwise(0)
    wb = Window.orderBy(p.desc(), "event_id")
    ranked = ev.select(y.alias("y"), F.ntile(10).over(wb).alias("decile"))
    return _gains_from_deciled(ranked)


def _gains_from_deciled(ranked: DataFrame) -> DataFrame:
    """(y, decile) -> the gains/lift table — shared by the exactness
    baseline and the scalable twin; every window below runs over the
    10-row decile table."""
    per = ranked.groupBy("decile").agg(
        F.count("*").alias("n"),
        F.sum("y").cast("long").alias("n_pos"))
    wall = Window.partitionBy()
    wcum = Window.orderBy("decile").rowsBetween(
        Window.unboundedPreceding, Window.currentRow)
    per = (per.withColumn("pos_all", F.sum("n_pos").over(wall)
                                      .cast("double"))
              .withColumn("n_all", F.sum("n").over(wall).cast("double")))
    return per.select(
        "decile", "n", "n_pos",
        F.round(F.sum("n_pos").over(wcum) / F.col("pos_all"), 6)
         .alias("cum_capture"),
        F.round((F.col("n_pos").cast("double") / F.col("n"))
                / (F.col("pos_all") / F.col("n_all")), 6).alias("lift"))


@op("feat_gains_table_scalable",
    oracle=REGISTRY["feat_gains_table"].oracle, tier=3, section="2.11")
def feat_gains_table_scalable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale-safe twin of ``feat_gains_table`` (VERDICT r4 #1): the score
    deciles come from :func:`~..api.bucketed_ntile` over the DESCENDING
    score order — the bucket is ``-floor(p * 1000)``, ascending exactly
    when p descends (floor is monotone, so bucket-major order equals the
    global score-desc order regardless of float rounding at bucket
    edges), with (p desc, event_id) inside each ~0.001-wide score
    bucket. Exact twin — reuses the baseline's oracle verbatim."""
    ev = load(spark, sf_dir, "events")
    p = F.least(F.col("value") / 500.0, F.lit(1.0))
    y = F.when(F.col("event_type") == "purchase", 1).otherwise(0)
    rows = ev.select(p.alias("p"), y.alias("y"), "event_id")
    deciled = bucketed_ntile(
        rows, (-F.floor(F.col("p") * 1000)).cast("long"),
        [F.col("p").desc(), F.col("event_id")], 10, tile_name="decile")
    return _gains_from_deciled(deciled.select("y", "decile"))


@op("feat_auc_roc", oracle="""
WITH scored AS (
    SELECT least(value / 500.0, 1.0) AS p,
           CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
    FROM events
), vc AS (   -- midranks via value groups (ties handled exactly)
    SELECT p, count(*) AS t, CAST(SUM(y) AS BIGINT) AS t_pos
    FROM scored GROUP BY p
), ranked AS (
    SELECT p, t, t_pos,
           SUM(t) OVER (ORDER BY p) AS cum_t
    FROM vc
), mid AS (
    SELECT t_pos,
           (cum_t - t + 1 + cum_t) / 2.0 AS midrank
    FROM ranked
), agg AS (
    SELECT CAST(SUM(t_pos) AS DOUBLE) AS n_pos,
           (SELECT CAST(SUM(t) AS DOUBLE) FROM vc)
               - CAST(SUM(t_pos) AS DOUBLE) AS n_neg,
           SUM(CAST(floor(midrank * t_pos * 1000000) AS BIGINT))
               / 1000000 AS r_pos
    FROM mid
)
SELECT CAST(n_pos AS BIGINT) AS n_pos, CAST(n_neg AS BIGINT) AS n_neg,
       round((r_pos - n_pos * (n_pos + 1) / 2) / (n_pos * n_neg), 6)
           AS auc
FROM agg
""", tier=3, section="2.11")
def feat_auc_roc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROC AUC by the rank-sum identity (AUC = (R⁺ − n⁺(n⁺+1)/2) /
    (n⁺n⁻), the Mann-Whitney connection) with EXACT midrank tie
    handling — the definitive threshold-free score metric, computed
    without materializing a single ROC point.

    Scale shape: scores collapse to their distinct-value groups first
    (one aggregate), so ranks are one cumulative window over the value
    groups — the sort is over DISTINCT scores, not rows, which is what
    makes exact AUC tractable on billions of rows with a bounded score
    grid. Midrank x positive-count products ride the 1e-6 fixed-point
    grid (midranks are integers or .5 — exactly representable, so the
    floor loses nothing). Completes the eval family: gains (decile
    view), ECE (calibration), AUC (ranking power).
    """
    vc = _auc_value_counts(load(spark, sf_dir, "events"))
    wo = Window.orderBy("p")
    ranked = vc.withColumn("cum_t", F.sum("t").over(wo))
    return _auc_from_ranked(ranked)


def _auc_value_counts(ev: DataFrame) -> DataFrame:
    """(p, t, t_pos): the distinct-score value counts the rank-sum AUC
    reduces the fact table to (one hash aggregate)."""
    p = F.least(F.col("value") / 500.0, F.lit(1.0))
    y = F.when(F.col("event_type") == "purchase", 1).otherwise(0)
    return (ev.select(p.alias("p"), y.alias("y"))
              .groupBy("p")
              .agg(F.count("*").alias("t"),
                   F.sum("y").cast("long").alias("t_pos")))


def _auc_from_ranked(ranked: DataFrame) -> DataFrame:
    """(t, t_pos, cum_t) -> the 1-row AUC result — shared by the
    exactness baseline and the scalable twin."""
    midrank = (F.col("cum_t") - F.col("t") + 1 + F.col("cum_t")) / 2.0
    agg = ranked.select("t", "t_pos", midrank.alias("midrank")).agg(
        F.sum("t_pos").cast("double").alias("n_pos"),
        (F.sum("t").cast("double")
         - F.sum("t_pos").cast("double")).alias("n_neg"),
        (F.sum(F.floor(F.col("midrank") * F.col("t_pos") * 1_000_000)
                .cast("long")) / 1_000_000).alias("r_pos"))
    return agg.select(
        F.col("n_pos").cast("long").alias("n_pos"),
        F.col("n_neg").cast("long").alias("n_neg"),
        F.round((F.col("r_pos")
                 - F.col("n_pos") * (F.col("n_pos") + 1) / 2)
                / (F.col("n_pos") * F.col("n_neg")), 6).alias("auc"))


@op("feat_auc_roc_scalable",
    oracle=REGISTRY["feat_auc_roc"].oracle, tier=3, section="2.11")
def feat_auc_roc_scalable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale-safe twin of ``feat_auc_roc`` (VERDICT r4 #1): the baseline
    already collapses facts to distinct-score groups, but then runs ONE
    unpartitioned cumulative window over those groups — bounded here by
    the score grid, unbounded for a continuous score. This twin replaces
    it with :func:`~..api.bucketed_running_sum`: per-score-bucket
    (``floor(p*100)``) count sums -> offset merge -> within-bucket
    running sum, so no single partition ever holds more than one score
    bucket's distinct values. Exact twin — reuses the baseline's oracle
    verbatim (midranks are unchanged integers/halves)."""
    vc = _auc_value_counts(load(spark, sf_dir, "events"))
    ranked = bucketed_running_sum(
        vc, F.floor(F.col("p") * 100).cast("long"), [F.col("p")],
        F.col("t"), out_name="cum_t")
    return _auc_from_ranked(ranked)


@op("feat_pit_features", oracle="""
WITH feat AS (
    SELECT event_id, user_id, ts, event_type, value,
           count(*) OVER w - 1 AS prior_n,
           CAST(sum(CAST(value AS DECIMAL(18,2))) OVER w
                - CAST(value AS DECIMAL(18,2)) AS DOUBLE) AS prior_sum,
           CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
                OVER w
                - CASE WHEN event_type = 'error' THEN 1 ELSE 0 END
                AS BIGINT) AS prior_errors
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
)
SELECT event_id AS label_event_id, user_id, ts AS label_ts,
       round(value, 2) AS label_value, prior_n, prior_sum,
       round(CASE WHEN prior_n > 0 THEN prior_sum / prior_n END, 6)
           AS prior_mean,
       prior_errors
FROM feat WHERE event_type = 'purchase'
""", tier=3, section="2.15")
def feat_pit_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-free point-in-time training features: every purchase
    event becomes a label row carrying the channel's history STRICTLY
    BEFORE it — prior event count, exact-decimal prior spend sum/mean,
    prior error count. The feature-store "as-of the label timestamp"
    join shape, done as one running window minus the current row so no
    future (or concurrent) information leaks into a feature.

    Scale shape: ONE user-keyed running window over the fact table
    (bounded partitions, no self-join, no per-label scan); the
    strictly-before semantics come from subtracting the current row
    from the inclusive frame — one pass regardless of label density."""
    from ..exprs import dec2
    ev = load(spark, sf_dir, "events")
    w = (Window.partitionBy("user_id").orderBy("ts", "event_id")
               .rowsBetween(Window.unboundedPreceding, 0))
    is_err = F.when(F.col("event_type") == "error", 1).otherwise(0)
    feat = (ev.withColumn("prior_n", F.count("*").over(w) - 1)
              .withColumn("prior_sum",
                          (F.sum(dec2("value")).over(w) - dec2("value"))
                          .cast("double"))
              .withColumn("prior_errors",
                          (F.sum(is_err).over(w) - is_err).cast("long")))
    return (feat.filter(F.col("event_type") == "purchase")
                .select(F.col("event_id").alias("label_event_id"),
                        "user_id", F.col("ts").alias("label_ts"),
                        F.round("value", 2).alias("label_value"),
                        "prior_n", "prior_sum",
                        F.round(F.when(F.col("prior_n") > 0,
                                       F.col("prior_sum")
                                       / F.col("prior_n")), 6)
                         .alias("prior_mean"),
                        "prior_errors"))


#: The per-user base features whose pairwise structure
#: `feat_correlation_matrix` profiles — all exact BIGINTs from one pass.
_CORR_METRICS = ["n_events", "n_purchases", "span_minutes", "sum_cents"]


@op("feat_correlation_matrix", oracle="""
WITH per_user AS (
    SELECT user_id,
           count(*) AS n_events,
           sum(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT))
               AS sum_cents,
           sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
               AS n_purchases,
           (epoch_us(max(ts)) - epoch_us(min(ts))) // 60000000
               AS span_minutes
    FROM events GROUP BY 1
), longf AS (
    SELECT user_id, 'n_events' AS metric, n_events AS v FROM per_user
    UNION ALL
    SELECT user_id, 'sum_cents', sum_cents FROM per_user
    UNION ALL
    SELECT user_id, 'n_purchases', n_purchases FROM per_user
    UNION ALL
    SELECT user_id, 'span_minutes', span_minutes FROM per_user
), mom AS (
    SELECT a.metric AS metric_a, b.metric AS metric_b,
           count(*) AS n,
           sum(a.v) AS sx, sum(b.v) AS sy,
           sum(CAST(a.v AS DECIMAL(38,0)) * a.v) AS sxx,
           sum(CAST(b.v AS DECIMAL(38,0)) * b.v) AS syy,
           sum(CAST(a.v AS DECIMAL(38,0)) * b.v) AS sxy
    FROM longf a JOIN longf b
      ON a.user_id = b.user_id AND a.metric < b.metric
    GROUP BY 1, 2
)
SELECT metric_a, metric_b, CAST(n AS BIGINT) AS n_users,
       round(CASE WHEN (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                        - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                       * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                          - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)) > 0
             THEN (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                   - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                  / sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                          - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                         * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                            - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))
             END, 6) AS pearson_r
FROM mom
""", tier=3, section="2.15")
def feat_correlation_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Pearson correlation matrix over the per-entity base
    features (event count, exact-cents spend, purchase count, active
    span): the upper triangle as (metric_a, metric_b, r) rows — the
    feature-store health report that catches near-duplicate features
    before they double-count in a model (|r| → 1) and dead features
    (r ≈ 0 with everything). `feat_mutual_information`'s linear
    sibling; `agg_stats.corr` generalized to all pairs in one pass.

    Exactness: every feature is an exact BIGINT from one aggregate
    (cents grid, µs-floored minutes), moments are exact DECIMAL(38)
    sums, r is a closed-form double, round(6).

    Scale shape: one user-keyed hash aggregate builds the feature
    frame; the melt is a k-fold projection (k = 4, a constant); the
    pair self-join fans each user to C(k,2) = 6 rows — bounded by the
    FEATURE count, never by corpus size — then one moment aggregate
    per pair. At 1000 features you'd cap to the candidate pair list
    (same plan, pairs pre-filtered), not change shape."""
    from ..exprs import dec2
    ev = load(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.count("*").alias("n_events"),
        F.sum((dec2("value") * 100).cast("long")).alias("sum_cents"),
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
         .alias("n_purchases"),
        F.floor((F.unix_micros(F.max("ts")) - F.unix_micros(F.min("ts")))
                / F.lit(60_000_000)).alias("span_minutes"))
    longf = per_user.selectExpr(
        "user_id",
        "stack(4, 'n_events', n_events, 'sum_cents', sum_cents, "
        "'n_purchases', n_purchases, 'span_minutes', span_minutes) "
        "AS (metric, v)")
    a, b = longf.alias("a"), longf.alias("b")
    d38 = "decimal(38,0)"
    av, bv = F.col("a.v"), F.col("b.v")
    mom = (a.join(b, (F.col("a.user_id") == F.col("b.user_id"))
                  & (F.col("a.metric") < F.col("b.metric")))
            .groupBy(F.col("a.metric").alias("metric_a"),
                     F.col("b.metric").alias("metric_b"))
            .agg(F.count("*").alias("n"),
                 F.sum(av).alias("sx"), F.sum(bv).alias("sy"),
                 F.sum(av.cast(d38) * av).alias("sxx"),
                 F.sum(bv.cast(d38) * bv).alias("syy"),
                 F.sum(av.cast(d38) * bv).alias("sxy")))
    n = F.col("n").cast("double")
    sx, sy = F.col("sx").cast("double"), F.col("sy").cast("double")
    varp = ((n * F.col("sxx").cast("double") - sx * sx)
            * (n * F.col("syy").cast("double") - sy * sy))
    return mom.select(
        "metric_a", "metric_b", F.col("n").cast("long").alias("n_users"),
        F.round(F.when(varp > 0,
                       (n * F.col("sxy").cast("double") - sx * sy)
                       / F.sqrt(varp)), 6).alias("pearson_r"))


# ==========================================================================
# Round-10 second wave (SURVEY.md §2.31)
# ==========================================================================

_ISO_BINS = 20  # calibration bins (equal-count, exact ntile)


@op("feat_isotonic_calibration", oracle=f"""
WITH tiled AS (
    SELECT event_id, event_type,
           ntile({_ISO_BINS}) OVER (ORDER BY value, event_id) AS bin
    FROM events
), binagg AS (
    SELECT bin, count(*) AS n,
           count(*) FILTER (WHERE event_type = 'purchase') AS pos
    FROM tiled GROUP BY bin
), pre AS (
    SELECT bin, n, pos,
           sum(n) OVER (ORDER BY bin) AS cn,
           sum(pos) OVER (ORDER BY bin) AS cp
    FROM binagg
), rate AS (
    SELECT i.bin AS bi, k.bin AS bk,
           CAST(k.cp - i.cp + i.pos AS DOUBLE)
               / CAST(k.cn - i.cn + i.n AS BIGINT) AS r
    FROM pre i JOIN pre k ON i.bin <= k.bin
), inner_min AS (
    SELECT r.bi, j.bin AS bj, min(r.r) AS m
    FROM rate r JOIN pre j ON r.bi <= j.bin AND j.bin <= r.bk
    GROUP BY r.bi, j.bin
), iso AS (
    SELECT bj AS bin, max(m) AS iso_rate FROM inner_min GROUP BY bj
)
SELECT CAST(b.bin AS INT) AS bin,
       CAST(b.n AS BIGINT) AS n, CAST(b.pos AS BIGINT) AS pos,
       round(CAST(b.pos AS DOUBLE) / b.n, 6) AS raw_rate,
       round(i.iso_rate, 6) AS iso_rate
FROM binagg b JOIN iso i ON i.bin = b.bin
""", tier=3, section="2.31")
def feat_isotonic_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ISOTONIC calibration of a score->outcome curve (pool-adjacent-
    violators, exactly): events are ranked into {_ISO_BINS} equal-count
    bins by `value` (the "score"), each bin's purchase rate is the raw
    calibration curve, and the isotonic (monotone non-decreasing) fit
    is computed by PAV's CLOSED FORM — the minimax identity
    iso_j = max_(i<=j) min_(k>=j) R(i..k) with R the count-weighted
    pooled rate (Ayer et al. 1955; no iterative pooling loop on either
    engine, so nothing to converge and nothing sequential to port).
    This is the calibrator a trained quality model
    (`text_quality_model` -> `text_quality_calibration`) feeds in a
    production scoring pipeline.

    Exactness: pooled rates are ratios of exact BIGINT prefix sums —
    both engines divide the same integers in the same order; the
    minimax over those identical doubles picks identical values;
    round(·,6) is cosmetic. The ntile is the exact two-phase
    `api.bucketed_ntile` on the Spark side (value-identical to SQL
    ntile at any parallelism, no unpartitioned fact window).

    Scale shape: one two-phase global rank over the fact table (the
    only fact-touching stage, the `win_ntile_scalable` plan), then one
    map-combinable hash agg to {_ISO_BINS} rows; the minimax triple
    join runs on the BIN table (bins^3 ~ 8k rows, driver-constant) —
    broadcast-joined, never touching fact rows."""
    ev = load(spark, sf_dir, "events").select(
        "event_id", "value", "event_type")
    tiled = bucketed_ntile(ev, F.floor("value"),
                           [F.col("value"), F.col("event_id")],
                           _ISO_BINS, tile_name="bin")
    # The 20-row bin table feeds the prefix/minimax self-joins (i, k, j)
    # plus the final output — localCheckpoint it so the two-phase ntile
    # over the fact table runs ONCE, not once per self-join branch
    # (measured 16 parquet scans before, 2 after: the ntile's own
    # count + rank passes).
    binagg = (tiled.groupBy(F.col("bin").cast("int").alias("bin"))
                   .agg(F.count("*").alias("n"),
                        F.sum((F.col("event_type") == "purchase")
                              .cast("long")).alias("pos"))
                   .localCheckpoint())
    w = Window.orderBy("bin")  # bin-cardinality table, never fact rows
    pre = binagg.select("bin", "n", "pos",
                        F.sum("n").over(w).alias("cn"),
                        F.sum("pos").over(w).alias("cp"))
    i, k = pre.alias("i"), pre.alias("k")
    rate = (i.join(k, F.col("i.bin") <= F.col("k.bin"))
             .select(F.col("i.bin").alias("bi"),
                     F.col("k.bin").alias("bk"),
                     ((F.col("k.cp") - F.col("i.cp") + F.col("i.pos"))
                      .cast("double")
                      / (F.col("k.cn") - F.col("i.cn") + F.col("i.n")))
                     .alias("r")))
    j = pre.select("bin").alias("j")
    inner_min = (rate.join(j, (F.col("bi") <= F.col("j.bin"))
                           & (F.col("j.bin") <= F.col("bk")))
                     .groupBy("bi", F.col("j.bin").alias("bj"))
                     .agg(F.min("r").alias("m")))
    iso = inner_min.groupBy(F.col("bj").alias("bin")) \
                   .agg(F.max("m").alias("iso_rate"))
    return (binagg.join(iso, "bin")
                  .select("bin", "n", "pos",
                          F.round(F.col("pos").cast("double")
                                  / F.col("n"), 6).alias("raw_rate"),
                          F.round("iso_rate", 6).alias("iso_rate")))
