"""Deterministic sampling / split operators — the training-data-pipeline
staples (SURVEY.md §2.11 adjunct; driver-mandated LLM-pipeline surface).

Random sampling is useless at 100 TB if it isn't REPRODUCIBLE: re-running
the pipeline must keep every document in the same split, and adding new
documents must not reshuffle old ones. So nothing here uses rand() — the
randomness is ``hash32(id) = int(md5(id)[:8], 16)``, the same portable
md5-derived hash the dedup/similarity operators use (text.py module
docstring). Fully deterministic, stable under appends, identical across
engines — which is what makes these ops value-hash verifiable at all.

Scale posture: hash-bucket sampling is a pure narrow filter (pushed to the
scan, no shuffle); stratified sampling shuffles once on the stratum key.
"""
from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window, functions as F

from ..api import bucketed_order_statistic, hash32
from ..registry import REGISTRY, op
from ..sources.io import load

#: DuckDB: first 8 hex digits of md5 as int64 (portable hash32).
from ..api import DUCK_H32 as _DUCK_H32  # one shared definition


def _h32(c: Column) -> Column:
    return hash32(c)  # promoted to api.py (round 5); kept as local alias


@op("sample_hash_bucket", oracle=f"""
SELECT doc_id, lang, bucket,
       CASE WHEN bucket < 80 THEN 'train'
            WHEN bucket < 90 THEN 'val'
            ELSE 'test' END AS split
FROM (
    SELECT doc_id, lang,
           {_DUCK_H32.format(c="CAST(doc_id AS VARCHAR)")} % 100 AS bucket
    FROM documents
)
WHERE bucket < 10 OR bucket >= 90
""", tier=1, section="2.11")
def sample_hash_bucket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic hash-bucket sampling + train/val/test split labels.

    ``bucket = hash32(doc_id) % 100`` gives each document a stable
    0-99 bucket; a "10% sample" is ``bucket < 10`` — reproducible across
    runs and engines, stable under appends (new docs never move old ones
    between splits). Returned here: the 10% dev sample plus the test
    split, with the split label each row would get.

    A pure narrow filter over the scan — no shuffle at any scale.
    """
    d = load(spark, sf_dir, "documents")
    bucket = _h32(F.col("doc_id").cast("string")) % 100
    split = (F.when(F.col("bucket") < 80, "train")
              .when(F.col("bucket") < 90, "val")
              .otherwise("test"))
    return (
        d.select("doc_id", "lang", bucket.alias("bucket"))
         .filter((F.col("bucket") < 10) | (F.col("bucket") >= 90))
         .withColumn("split", split)
    )


@op("sample_stratified", oracle=f"""
WITH ranked AS (
    SELECT doc_id, lang,
           row_number() OVER (
               PARTITION BY lang
               ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn,
           count(*) OVER (PARTITION BY lang) AS n_lang
    FROM documents
)
SELECT doc_id, lang, rn, n_lang
FROM ranked
WHERE rn <= CAST(ceil(0.2 * n_lang) AS BIGINT)
""", tier=2, section="2.11")
def sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified 20% sample: EXACTLY ceil(0.2·n) docs per language.

    Rows are ranked within each stratum by md5(doc_id) — a deterministic
    pseudo-random order — so the sample is unbiased w.r.t. any real
    attribute, yet reproducible. Unlike ``df.sampleBy`` (Bernoulli,
    approximate counts, seed-dependent across partitionings) this
    guarantees the exact per-stratum quota.

    Round 5: the per-stratum rank rides the grouped two-phase rank —
    with a handful of languages each stratum is a constant fraction of
    the corpus (SCALE.md's low-cardinality hazard class), so the hash's
    hex prefix buckets the sort into 256 cells per stratum. Same
    oracle, value-identical."""
    from ..api import bucketed_global_rank

    d = load(spark, sf_dir, "documents")
    h = F.md5(F.col("doc_id").cast("string"))
    ranked = bucketed_global_rank(
        d.select("doc_id", "lang", h.alias("__h")),
        F.substring(F.col("__h"), 1, 2),
        [F.col("__h"), F.col("doc_id")],
        rank_name="rn", total_name="n_lang", group_cols=["lang"])
    return (ranked
            .filter(F.col("rn")
                    <= F.ceil(0.2 * F.col("n_lang")).cast("long"))
            .select("doc_id", "lang", "rn", "n_lang"))


@op("sample_representativeness", oracle=f"""
WITH labeled AS (
    SELECT lang,
           CASE WHEN {_DUCK_H32.format(c="CAST(doc_id AS VARCHAR)")} % 100 < 80
                THEN 'train'
                WHEN {_DUCK_H32.format(c="CAST(doc_id AS VARCHAR)")} % 100 < 90
                THEN 'val' ELSE 'test' END AS split
    FROM documents
), by_split AS (
    SELECT split, lang, count(*) AS n,
           sum(count(*)) OVER (PARTITION BY split) AS n_split
    FROM labeled GROUP BY 1, 2
), pop AS (
    SELECT lang, CAST(count(*) AS DOUBLE)
               / sum(count(*)) OVER () AS pop_share
    FROM labeled GROUP BY lang
)
SELECT b.split, b.lang,
       round(CAST(b.n AS DOUBLE) / b.n_split, 6) AS split_share,
       round(p.pop_share, 6) AS pop_share,
       round(CAST(b.n AS DOUBLE) / b.n_split - p.pop_share, 6) AS deviation
FROM by_split b JOIN pop p USING (lang)
""", tier=2, section="2.11")
def sample_representativeness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audit of the hash-bucket splitter: each split's language mix vs the
    population's, with the deviation — the representativeness check a
    pipeline runs AFTER sampling (hash splits are unstratified, so drift
    here is expected noise; a stratified sampler drives it to ~0). Two
    small aggregations over the split labels; the sampler audits itself
    with the same deterministic hash it splits with."""
    d = load(spark, sf_dir, "documents")
    bucket = _h32(F.col("doc_id").cast("string")) % 100
    split = (F.when(bucket < 80, "train")
              .when(bucket < 90, "val").otherwise("test"))
    labeled = d.select("lang", split.alias("split"))
    by_split = labeled.groupBy("split", "lang").agg(F.count("*").alias("n"))
    w_split = Window.partitionBy("split")
    by_split = by_split.withColumn("n_split", F.sum("n").over(w_split))
    pop = labeled.groupBy("lang").agg(F.count("*").alias("np"))
    w_all = Window.partitionBy().rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing)
    pop = pop.withColumn(
        "pop_share", F.col("np").cast("double") / F.sum("np").over(w_all))
    share = F.col("n").cast("double") / F.col("n_split")
    return by_split.join(F.broadcast(pop.select("lang", "pop_share")), "lang") \
        .select(
            "split", "lang",
            F.round(share, 6).alias("split_share"),
            F.round("pop_share", 6).alias("pop_share"),
            F.round(share - F.col("pop_share"), 6).alias("deviation"),
        )


#: Mixture temperature for source rebalancing (alpha=0.5, the multilingual
#: -training convention): kept token volume per source ~ volume^alpha.
_MIX_ALPHA_NUM = 1  # rate = sqrt(tok_min / tok_s) — sqrt is IEEE
                    # correctly-rounded, so rates are bit-identical
                    # cross-engine (no pow(x, 0.5) vs exp/log drift).
_MIX_GRID = 1 << 20  # acceptance threshold grid (2^20)


@op("sample_mix_temperature", oracle=f"""
WITH vol AS (     -- token volume per source (whitespace tokens)
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS tok_total
    FROM documents GROUP BY source
), rate AS (      -- downsample-only temperature rate: sqrt(min/vol)
    SELECT source, n_docs, tok_total,
           CAST(floor(sqrt(CAST((SELECT min(tok_total) FROM vol) AS DOUBLE)
                           / tok_total) * {_MIX_GRID}) AS BIGINT) AS thr
    FROM vol
), kept AS (
    SELECT d.source,
           count(*) AS n_kept,
           CAST(sum(len(string_split(d.text, ' '))) AS BIGINT) AS tok_kept
    FROM documents d JOIN rate r ON r.source = d.source
    WHERE ({_DUCK_H32.format(c="'mix:' || CAST(d.doc_id AS VARCHAR)")})
          % {_MIX_GRID} < r.thr
    GROUP BY d.source
)
SELECT r.source, r.n_docs, r.tok_total,
       round(CAST(r.thr AS DOUBLE) / {_MIX_GRID}, 6) AS accept_rate,
       CAST(coalesce(k.n_kept, 0) AS BIGINT) AS n_kept,
       CAST(coalesce(k.tok_kept, 0) AS BIGINT) AS tok_kept
FROM rate r LEFT JOIN kept k ON k.source = r.source
""", tier=3, section="2.11")
def sample_mix_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-based source rebalancing (the alpha=0.5 mixture rule
    from multilingual LM training, e.g. mC4/XLM-R, public): kept token
    volume per source scales as volume^0.5, so over-represented sources
    are down-sampled toward — but not all the way to — the smallest
    source. Acceptance is downsample-only: rate_s = sqrt(tok_min /
    tok_s) (=1 for the smallest source), and a document survives iff
    hash32('mix:' || doc_id) mod 2^20 falls under floor(rate_s * 2^20)
    — the same deterministic, append-stable coin as sample_hash_bucket,
    so re-runs keep identical documents and the whole mixture is
    value-oracled (rates, kept counts and kept token volumes).

    Scale shape: one token-count aggregation by source (map-side
    combinable), a ~sources-sized rate table BROADCAST back onto the
    corpus, then a narrow filter — the full-corpus pass never shuffles.
    Determinism: the only float ops are one division and one sqrt, both
    IEEE correctly-rounded, floored onto the 2^20 integer grid before
    the accept compare."""
    d = load(spark, sf_dir, "documents")
    toks = F.size(F.split("text", " ")).cast("long")
    vol = d.groupBy("source").agg(
        F.count("*").alias("n_docs"), F.sum(toks).alias("tok_total"))
    tok_min = vol.agg(F.min("tok_total").alias("tok_min"))
    rate = (vol.crossJoin(F.broadcast(tok_min))
               .select("source", "n_docs", "tok_total",
                       F.floor(F.sqrt(F.col("tok_min").cast("double")
                                      / F.col("tok_total")) * _MIX_GRID)
                        .cast("long").alias("thr")))
    coin = _h32(F.concat(F.lit("mix:"), F.col("doc_id").cast("string"))) \
        % _MIX_GRID
    kept = (d.join(F.broadcast(rate.select("source", "thr")), "source")
             .filter(coin < F.col("thr"))
             .groupBy("source")
             .agg(F.count("*").alias("n_kept"),
                  F.sum(toks).alias("tok_kept")))
    return (rate.join(kept, "source", "left")
                .select("source", "n_docs", "tok_total",
                        F.round(F.col("thr").cast("double") / _MIX_GRID, 6)
                         .alias("accept_rate"),
                        F.coalesce("n_kept", F.lit(0)).cast("long")
                         .alias("n_kept"),
                        F.coalesce("tok_kept", F.lit(0)).cast("long")
                         .alias("tok_kept")))


@op("sample_negative_pairs", oracle=f"""
WITH pos AS (
    SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events
), users AS (SELECT DISTINCT user_id FROM pos),
days AS (SELECT DISTINCT d FROM pos),
neg AS (
    SELECT u.user_id, dy.d
    FROM users u CROSS JOIN days dy
    WHERE NOT EXISTS (SELECT 1 FROM pos p
                      WHERE p.user_id = u.user_id AND p.d = dy.d)
)
SELECT user_id, d, rn FROM (
    SELECT user_id, d,
           row_number() OVER (
               PARTITION BY user_id
               ORDER BY md5(CAST(user_id AS VARCHAR) || '|'
                            || CAST(d AS VARCHAR)), d) AS rn
    FROM neg
) WHERE rn <= 2
""", tier=3, section="2.11")
def sample_negative_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic negative sampling over the implicit-feedback grid —
    the contrastive-training staple: positives are the observed
    (user, active-day) pairs; negatives are up to 2 grid cells per user
    the user was NOT active on, chosen by ranking the anti-join remainder
    on md5(user|day). No rand(): re-runs and both engines pick the same
    negatives, and appending new days never re-picks old ones already
    ranked ahead.

    Scale shape: the day grid is calendar-sized (BROADCAST); positives
    dedup in one shuffle; the anti-join streams the grid against the
    positive set partitioned by user; the final per-user rank windows
    over at most |days| rows per user — bounded by the grid, not the
    fact table. This is the pattern for (user × item-bucket) negative
    sampling at 100 TB: the grid axis must be the small one, the fact
    table is touched exactly once.
    """
    ev = load(spark, sf_dir, "events")
    pos = ev.select("user_id", F.to_date("ts").alias("d")).distinct()
    users = pos.select("user_id").distinct()
    days = pos.select("d").distinct()
    neg = (users.crossJoin(F.broadcast(days))
                .join(pos, ["user_id", "d"], "left_anti"))
    w = Window.partitionBy("user_id").orderBy(
        F.md5(F.concat(F.col("user_id").cast("string"), F.lit("|"),
                       F.col("d").cast("string"))), "d")
    return (neg.withColumn("rn", F.row_number().over(w))
               .filter(F.col("rn") <= 2))


@op("sample_split_temporal", oracle="""
WITH e AS (
    SELECT user_id, ts,
           row_number() OVER (ORDER BY ts, event_id) AS rn,
           count(*) OVER () AS n
    FROM events
), cut AS (   -- exact order statistic: the floor(0.8 n)-th event time
    SELECT ts AS cutoff FROM e WHERE rn = CAST(floor(0.8 * n) AS BIGINT)
), labeled AS (
    SELECT e.user_id, e.ts,
           CASE WHEN e.ts <= c.cutoff THEN 'train' ELSE 'test' END AS split
    FROM e CROSS JOIN cut c
), shared AS (
    SELECT count(*) AS n_shared FROM (
        SELECT user_id FROM labeled GROUP BY user_id
        HAVING count(DISTINCT split) = 2)
)
SELECT split,
       count(*) AS n_rows,
       count(DISTINCT user_id) AS n_users,
       min(ts) AS min_ts, max(ts) AS max_ts,
       (SELECT n_shared FROM shared) AS n_shared_users
FROM labeled GROUP BY split
""", tier=3, section="2.11")
def sample_split_temporal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe temporal train/test split + its audit row: cut at the
    exact floor(0.8·n)-th event timestamp (an order statistic, not an
    interpolated percentile — interpolation arithmetic can differ by an
    ulp across engines; selecting a REAL data value cannot), label every
    event, and report per-split row/user counts, time ranges, and how
    many users appear on BOTH sides (fine for time-series models,
    leakage for user-level ones — the audit a pipeline must print).

    Scale note: the cutoff is ONE global order statistic — computed here
    with a global row_number for exactness at test scale; a 100 TB run
    would swap in approx_percentile for the cutoff and keep everything
    else identical (the labeling is a broadcast compare either way).
    """
    ev = load(spark, sf_dir, "events")
    return _split_temporal_output(ev, _split_cutoff(ev))


def _split_cutoff(ev: DataFrame) -> DataFrame:
    """The exact floor(0.8·n)-th (ts, event_id)-ordered event time as a
    1-row ``cutoff`` frame, by a global ``row_number`` — the 80%
    temporal cutoff of ``sample_split_temporal``,
    ``feat_time_split_encode`` and ``feat_psi_drift`` (one unpartitioned
    window: exact at test scale; the ``*_scalable`` twins use
    :func:`_split_cutoff_scalable`)."""
    e = ev.select("ts", F.row_number().over(
                      Window.orderBy("ts", "event_id")).alias("rn"),
                  F.count("*").over(Window.partitionBy()).alias("n"))
    return (e.filter(F.col("rn") == F.floor(0.8 * F.col("n")).cast("long"))
             .select(F.col("ts").alias("cutoff")))


def _split_cutoff_scalable(ev: DataFrame) -> DataFrame:
    """Exact twin of :func:`_split_cutoff` via the two-phase order
    statistic: hour buckets (monotone in ts) bound the only sorted
    partition to one hour of events; the bucket holding the target rank
    is located from the tiny bucket-count table and broadcast-pruned
    before the sort (``api.bucketed_order_statistic``)."""
    return bucketed_order_statistic(
        ev.select("ts", "event_id"), F.date_trunc("hour", "ts"),
        [F.col("ts"), F.col("event_id")], 0.8) \
        .select(F.col("ts").alias("cutoff"))


def _split_temporal_output(ev: DataFrame, cut: DataFrame) -> DataFrame:
    """Given the 1-row ``cutoff`` frame, the labeled-split audit table —
    shared by the exactness baseline and the scalable twin."""
    labeled = ev.crossJoin(F.broadcast(cut)).select(
        "user_id", "ts",
        F.when(F.col("ts") <= F.col("cutoff"), "train")
         .otherwise("test").alias("split"))
    shared = (labeled.groupBy("user_id")
                     .agg(F.countDistinct("split").alias("k"))
                     .filter(F.col("k") == 2)
                     .agg(F.count("*").alias("n_shared_users")))
    return (labeled.groupBy("split")
                   .agg(F.count("*").alias("n_rows"),
                        F.countDistinct("user_id").alias("n_users"),
                        F.min("ts").alias("min_ts"),
                        F.max("ts").alias("max_ts"))
                   .crossJoin(F.broadcast(shared)))


@op("sample_split_temporal_scalable",
    oracle=REGISTRY["sample_split_temporal"].oracle, tier=3,
    section="2.11")
def sample_split_temporal_scalable(spark: SparkSession,
                                   sf_dir: str) -> DataFrame:
    """Scale-safe twin of ``sample_split_temporal`` (VERDICT r4 #1): the
    cutoff is the SAME exact floor(0.8·n)-th order statistic, computed by
    the two-phase rank (``api.bucketed_order_statistic`` over hour
    buckets: per-bucket counts -> the one bucket holding the target rank
    -> broadcast-pruned within-bucket sort) instead of a global
    row_number over every event — the largest sorted partition is one
    hour of events at any corpus size. Exact twin — reuses the
    baseline's oracle verbatim."""
    ev = load(spark, sf_dir, "events")
    return _split_temporal_output(ev, _split_cutoff_scalable(ev))


#: Block-bootstrap replicas (deterministic md5 draws, like every sampler
#: here: no rand(), identical picks in both engines and across runs).
_BB_REPLICAS = 8


@op("sample_bootstrap_block", oracle=f"""
WITH blocks AS (
    SELECT CAST(row_number() OVER (ORDER BY d) - 1 AS BIGINT) AS bid,
           s, n
    FROM (
        SELECT CAST(ts AS DATE) AS d,
               SUM(CAST(value AS DECIMAL(18,2))) AS s,
               count(*) AS n
        FROM events GROUP BY 1
    )
), k AS (SELECT count(*) AS k FROM blocks),
draws AS (   -- replica r re-draws K blocks: slot s picks hash(r:s) % K
    SELECT r.r, b.bid AS slot,
           ('0x' || substr(md5('bb:' || r.r || ':' || b.bid), 1, 8))
               ::BIGINT % k.k AS pick
    FROM (SELECT unnest(range({_BB_REPLICAS})) AS r) r,
         blocks b, k
), rep AS (
    SELECT d.r AS replica,
           round(CAST(SUM(b.s) AS DOUBLE) / SUM(b.n), 6) AS mean_value,
           CAST(SUM(b.n) AS BIGINT) AS n_rows
    FROM draws d JOIN blocks b ON b.bid = d.pick
    GROUP BY d.r
)
SELECT replica, mean_value, n_rows,
       (SELECT mean_value FROM rep ORDER BY mean_value, replica
        LIMIT 1 OFFSET 1) AS ci_lo,
       (SELECT mean_value FROM rep ORDER BY mean_value DESC, replica
        LIMIT 1 OFFSET 1) AS ci_hi
FROM rep
""", tier=3, section="2.11")
def sample_bootstrap_block(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Moving-block bootstrap for time series (Künsch 1989, public):
    resample whole DAYS (with replacement, deterministic md5 draws) so
    within-day autocorrelation survives the resample — the row-level
    Poisson bootstrap (agg_poisson_bootstrap_ci) is wrong for
    autocorrelated series because it destroys the dependence structure;
    this is the estimator that respects it. 8 replicas of the global
    mean, with the 2nd-smallest / 2nd-largest replica means as the
    ~75% CI band.

    Scale shape: the fact table reduces ONCE to day blocks
    (decimal-exact sums); replicas are a tiny (replicas × days) draw
    grid joined back to block stats — resampling never touches raw
    rows, which is the only way a bootstrap survives 100 TB. Every draw
    is hash-deterministic, so the whole estimator value-hashes.
    """
    ev = load(spark, sf_dir, "events")
    daily = ev.groupBy(F.to_date("ts").alias("d")).agg(
        F.sum(F.col("value").cast("decimal(18,2)")).alias("s"),
        F.count("*").alias("n"))
    wb = Window.orderBy("d")
    blocks = daily.select(
        (F.row_number().over(wb) - 1).cast("long").alias("bid"), "s", "n")
    k = blocks.agg(F.count("*").alias("k"))
    reps = spark.range(_BB_REPLICAS).select(F.col("id").alias("r"))
    pick = _h32(F.concat(F.lit("bb:"), F.col("r"), F.lit(":"),
                         F.col("slot"))) % F.col("k")
    draws = (reps.crossJoin(blocks.select(F.col("bid").alias("slot")))
                 .crossJoin(F.broadcast(k))
                 .select("r", "slot", pick.alias("pick")))
    rep = (draws.join(blocks, draws.pick == blocks.bid)
                .groupBy("r")
                .agg(F.round(F.sum("s").cast("double") / F.sum("n"), 6)
                      .alias("mean_value"),
                     F.sum("n").cast("long").alias("n_rows"))
                .select(F.col("r").alias("replica"), "mean_value",
                        "n_rows"))
    wlo = Window.orderBy("mean_value", "replica")
    whi = Window.orderBy(F.col("mean_value").desc(), "replica")
    ranked = (rep.withColumn("_rl", F.row_number().over(wlo))
                 .withColumn("_rh", F.row_number().over(whi)))
    wall = Window.partitionBy()
    return (ranked
            .withColumn("ci_lo", F.max(F.when(F.col("_rl") == 2,
                                              F.col("mean_value")))
                                  .over(wall))
            .withColumn("ci_hi", F.max(F.when(F.col("_rh") == 2,
                                              F.col("mean_value")))
                                  .over(wall))
            .select("replica", "mean_value", "n_rows", "ci_lo", "ci_hi"))


@op("sample_neyman_allocation", oracle="""
WITH strata AS (
    SELECT event_type,
           count(*) AS nh,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
               / count(*) AS m,
           CAST(SUM(CAST(value AS DECIMAL(18,2))
                    * CAST(value AS DECIMAL(18,2))) AS DOUBLE)
               / count(*) AS m2
    FROM events GROUP BY event_type
), sized AS (
    SELECT event_type, nh, m,
           sqrt(greatest(m2 - m * m, 0)
                * nh / greatest(nh - 1, 1)) AS sh
    FROM strata
), tot AS (
    SELECT SUM(CAST(floor(nh * sh * 1000000) AS BIGINT)) / 1000000
        AS denom
    FROM sized
)
SELECT s.event_type, CAST(s.nh AS BIGINT) AS stratum_size,
       round(s.sh, 6) AS stratum_std,
       round(s.nh * s.sh / t.denom, 6) AS alloc_share,
       CAST(floor(1000 * s.nh * s.sh / t.denom) AS BIGINT)
           AS alloc_of_1000,
       round(CAST(s.nh AS DOUBLE)
             / (SELECT SUM(nh) FROM sized), 6) AS proportional_share
FROM sized s CROSS JOIN tot t
""", tier=3, section="2.11")
def sample_neyman_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Neyman-optimal stratified sample allocation (Neyman 1934,
    public): for a fixed labeling/audit budget (1000 rows here), each
    stratum gets ``n_h ∝ N_h·S_h`` — more budget where the stratum is
    big AND internally variable — minimizing the variance of the
    estimated mean. Shown against the naive proportional share so the
    reallocation is visible (high-variance strata take budget from
    homogeneous ones).

    One moment aggregate per stratum (decimal-exact Σv, Σv²; the
    Bessel-corrected std is one sqrt over exact operands); the N_h·S_h
    normalizer crosses strata on the 1e-6 fixed-point grid. This op is
    what decides HOW MANY rows per slice the human-eval/QA samplers
    (sample_stratified etc.) should draw.
    """
    ev = load(spark, sf_dir, "events")
    v = F.col("value").cast("decimal(18,2)")
    strata = ev.groupBy("event_type").agg(
        F.count("*").alias("nh"),
        (F.sum(v).cast("double") / F.count("*")).alias("m"),
        (F.sum(v * v).cast("double") / F.count("*")).alias("m2"))
    sh = F.sqrt(F.greatest(F.col("m2") - F.col("m") * F.col("m"),
                           F.lit(0.0))
                * F.col("nh") / F.greatest(F.col("nh") - 1, F.lit(1)))
    sized = strata.select("event_type", "nh", "m", sh.alias("sh"))
    wall = Window.partitionBy()
    denom = (F.sum(F.floor(F.col("nh") * F.col("sh") * 1_000_000)
                    .cast("long")).over(wall) / 1_000_000)
    share = F.col("nh") * F.col("sh") / F.col("denom")
    return (sized.withColumn("denom", denom)
                 .withColumn("n_all", F.sum("nh").over(wall))
                 .select("event_type",
                         F.col("nh").cast("long").alias("stratum_size"),
                         F.round("sh", 6).alias("stratum_std"),
                         F.round(share, 6).alias("alloc_share"),
                         F.floor(1000 * share).cast("long")
                          .alias("alloc_of_1000"),
                         F.round(F.col("nh").cast("double")
                                 / F.col("n_all"), 6)
                          .alias("proportional_share")))


@op("sample_reservoir_per_key", oracle=f"""
SELECT user_id, event_id, draw_rank FROM (
    SELECT user_id, event_id,
           row_number() OVER (
               PARTITION BY user_id
               ORDER BY md5(CAST(event_id AS VARCHAR)), event_id)
               AS draw_rank
    FROM events
) WHERE draw_rank <= 5
""", tier=3, section="2.11")
def sample_reservoir_per_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-key 'reservoir' sample: exactly min(5, n_k)
    events per user, drawn by md5-hash order — the distributed
    replacement for sequential reservoir sampling (Vitter's algorithm
    is inherently serial per key; ranking a uniform deterministic hash
    draws the same uniform sample, is order/partition-independent,
    reproducible under re-runs, and stable under appends in the same
    way as every md5 draw in this repo).

    One user-keyed window, bounded by per-user row count. At skewed
    keys the two-phase `api.bucketed_topk` shape applies unchanged —
    rank-by-hash IS a top-k."""
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.md5(F.col("event_id").cast("string")), "event_id")
    return (ev.select("user_id", "event_id",
                      F.row_number().over(w).alias("draw_rank"))
              .filter(F.col("draw_rank") <= 5))


@op("sample_walkforward_cv", oracle="""
WITH bounds AS (
    SELECT CAST(min(ts) AS DATE) AS d0,
           datediff('day', CAST(min(ts) AS DATE), CAST(max(ts) AS DATE))
               AS span
    FROM events
), offs AS (
    SELECT CAST(ts AS DATE) AS d,
           datediff('day', b.d0, CAST(ts AS DATE)) AS off,
           b.d0, b.span
    FROM events CROSS JOIN bounds b
), folds AS (
    SELECT f.fold, o.d, o.off, o.d0, o.span,
           (o.span * f.fold) // 4 AS cut_lo,
           (o.span * (f.fold + 1)) // 4 AS cut_hi
    FROM offs o
    CROSS JOIN (SELECT unnest([1, 2, 3]) AS fold) f
)
SELECT CAST(fold AS INT) AS fold,
       CAST(count(*) FILTER (WHERE off < cut_lo) AS BIGINT)
           AS train_rows,
       CAST(count(*) FILTER (WHERE off >= cut_lo AND off < cut_hi)
            AS BIGINT) AS test_rows,
       max(d) FILTER (WHERE off < cut_lo) AS train_end_day,
       min(d) FILTER (WHERE off >= cut_lo AND off < cut_hi)
           AS test_start_day,
       max(d) FILTER (WHERE off >= cut_lo AND off < cut_hi)
           AS test_end_day,
       CAST(max(d) FILTER (WHERE off < cut_lo)
            < min(d) FILTER (WHERE off >= cut_lo AND off < cut_hi)
            AS INT) AS no_leak
FROM folds GROUP BY fold
""", tier=3, section="2.11")
def sample_walkforward_cv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Walk-forward (expanding-window) cross-validation splits for
    forecasting models: three folds, fold k training on days strictly
    before the k/4 point of the corpus's day span and testing on the
    following quarter — the leakage-safe evaluation protocol where
    `sample_split_temporal` is the single-split special case. Reports
    per-fold row counts, calendar bounds, and an explicit no-leak audit
    (max train day < min test day).

    Exactness: cut points are integer floor-divisions of the day span —
    no timestamps compared through floats anywhere; all outputs are
    counts and DATEs.

    Scale shape: one 1-row global bounds aggregate broadcast back onto
    the fact scan, then ONE map-side-combinable pass with 3x2
    conditional aggregates per fold (the 3-row fold fan-out multiplies
    the AGGREGATE inputs, not the stored data; partial aggregation
    collapses it map-side) — no window over fact rows, no second scan."""
    ev = load(spark, sf_dir, "events")
    bounds = ev.agg(
        F.min(F.to_date("ts")).alias("d0"),
        F.datediff(F.max(F.to_date("ts")),
                   F.min(F.to_date("ts"))).alias("span"))
    folds = spark.range(1, 4).select(F.col("id").cast("int").alias("fold"))
    offs = (ev.select(F.to_date("ts").alias("d"))
              .crossJoin(F.broadcast(bounds))
              .withColumn("off", F.datediff("d", "d0"))
              .crossJoin(F.broadcast(folds))
              .withColumn("cut_lo",
                          F.floor(F.col("span") * F.col("fold") / 4))
              .withColumn("cut_hi",
                          F.floor(F.col("span") * (F.col("fold") + 1) / 4)))
    in_tr = F.col("off") < F.col("cut_lo")
    in_te = (F.col("off") >= F.col("cut_lo")) & (F.col("off")
                                                 < F.col("cut_hi"))
    tr_end = F.max(F.when(in_tr, F.col("d")))
    te_start = F.min(F.when(in_te, F.col("d")))
    return (offs.groupBy("fold")
                .agg(F.count(F.when(in_tr, 1)).cast("long")
                      .alias("train_rows"),
                     F.count(F.when(in_te, 1)).cast("long")
                      .alias("test_rows"),
                     tr_end.alias("train_end_day"),
                     te_start.alias("test_start_day"),
                     F.max(F.when(in_te, F.col("d")))
                      .alias("test_end_day"),
                     (tr_end < te_start).cast("int").alias("no_leak")))


@op("sample_class_balance", oracle=f"""
WITH ranked AS (
    SELECT event_id, event_type,
           row_number() OVER (
               PARTITION BY event_type
               ORDER BY {_DUCK_H32.format(c="CAST(event_id AS VARCHAR)")},
                        event_id) AS rn
    FROM events
), m AS (
    SELECT min(cnt) AS m FROM (
        SELECT count(*) AS cnt FROM events GROUP BY event_type)
)
SELECT r.event_type, r.event_id, CAST(r.rn AS BIGINT) AS rn
FROM ranked r, m WHERE r.rn <= m.m
""", tier=3, section="2.11")
def sample_class_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Balanced class downsampling: every event_type keeps exactly
    min-class-count rows, chosen by the portable md5 draw (order by
    hash32(event_id)) — the deterministic version of the
    undersample-the-majority step in front of a classifier, reproducible
    across runs and engines and stable under re-partitioning.
    `sample_stratified`'s inverse: that op keeps a FRACTION per stratum,
    this one equalizes COUNTS.

    Exactness: the (hash, event_id) order is a deterministic total
    order, so the kept set and each row's rank are engine-identical
    integers.

    Scale shape: the per-class rank comes from the grouped two-phase
    bucketed rank (`api.bucketed_global_rank` with group_cols — 5 event
    types are a hot-key hazard, so the only sorted partitions are
    single (type, hash-band) cells, never a whole class); the min-count
    is a 5-row aggregate broadcast onto the filter. One fact shuffle
    total."""
    from ..api import bucketed_global_rank

    ev = (load(spark, sf_dir, "events")
          .select("event_id", "event_type",
                  _h32(F.col("event_id").cast("string")).alias("hh")))
    # 65,536 hash bands per class keep the per-band sort partitions
    # small at any corpus size, but the (type, band) offsets table can
    # reach ~327k rows — past the broadcast-sized bound of the
    # bucket-cardinality contract — so the offsets attach by a shuffle
    # equi-join instead of a broadcast (ADVICE r7; the contract's own
    # escape hatch, api.bucketed_global_rank docstring).
    ranked = bucketed_global_rank(
        ev, F.floor(F.col("hh") / F.lit(65_536)).cast("long"),
        [F.col("hh"), F.col("event_id")],
        rank_name="rn", group_cols=["event_type"],
        broadcast_offsets=False)
    m = (ev.groupBy("event_type").count()
           .agg(F.min("count").alias("m")))
    return (ranked.crossJoin(F.broadcast(m))
                  .where(F.col("rn") <= F.col("m"))
                  .select("event_type", "event_id",
                          F.col("rn").cast("long").alias("rn")))


# --------------------------------------------------------------------------
# Round-8 wave (SURVEY.md §2.28)
# --------------------------------------------------------------------------

#: Declared target language mixture for `sample_domain_mix` — the
#: Pile/CC-style training-mix declaration (a production run passes its
#: own shares per domain cell). Shares sum to 1 over the corpus's five
#: languages; doubles, so both engines do identical IEEE arithmetic.
_DOMAIN_MIX_TARGET = [("en", 0.40), ("de", 0.15), ("es", 0.15),
                      ("fr", 0.15), ("zh", 0.15)]


@op("sample_domain_mix", oracle=f"""
WITH tgt(lang, share) AS (VALUES {", ".join(
    f"('{l}', CAST({s} AS DOUBLE))" for l, s in _DOMAIN_MIX_TARGET)}),
avail AS (
    SELECT lang, count(*) AS n_avail FROM documents GROUP BY 1
), cap AS (
    SELECT CAST(min(floor(a.n_avail / t.share)) AS BIGINT) AS t_total
    FROM avail a JOIN tgt t ON t.lang = a.lang
), quota AS (
    SELECT t.lang, t.share,
           CAST(floor(t.share * c.t_total) AS BIGINT) AS n_quota
    FROM tgt t CROSS JOIN cap c
), ranked AS (
    SELECT doc_id, lang,
           row_number() OVER (
               PARTITION BY lang
               ORDER BY {_DUCK_H32.format(c="CAST(doc_id AS VARCHAR)")},
                        doc_id) AS rk
    FROM documents
), kept AS (
    SELECT r.lang, count(*) AS n_kept
    FROM ranked r JOIN quota q ON q.lang = r.lang AND r.rk <= q.n_quota
    GROUP BY 1
)
SELECT a.lang, CAST(a.n_avail AS BIGINT) AS n_avail,
       round(q.share, 6) AS target_share,
       CAST(COALESCE(k.n_kept, 0) AS BIGINT) AS n_kept,
       round(CAST(COALESCE(k.n_kept, 0) AS DOUBLE)
             / (SELECT sum(n_kept) FROM kept), 6) AS achieved_share
FROM avail a
JOIN quota q ON q.lang = a.lang
LEFT JOIN kept k ON k.lang = a.lang
""", tier=3, section="2.11")
def sample_domain_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain/language target-mixture sampler (VERDICT r7 missing #2 —
    the step between corpus hygiene and tokenization in every
    training-data pipeline): given declared target shares per language,
    find the LARGEST total sample the corpus can supply at that mixture
    (t_total = min over cells of n_avail/share — the binding cell is the
    scarcest one relative to its share), give each cell the quota
    floor(share · t_total), and fill each quota with the md5-rank draw
    (the same portable deterministic sampler as
    `sample_reservoir_per_key` — reproducible across runs, engines and
    re-partitioning, and stable under appends). Returns the audit frame:
    per language, availability, target share, kept count, and ACHIEVED
    share of the final sample — the row a pipeline owner eyeballs before
    tokenizing (tests/test_wave_r8.py pins |achieved − target| to
    integer-rounding distance).

    Exactness: counts are integers; shares are double literals; both
    engines evaluate the identical n_avail/share and share·t_total IEEE
    divisions/products before floor, so quotas are identical integers;
    the md5 rank is the shared portable draw; round(6) seals the two
    reported ratios.

    Scale shape: one hash aggregate for availability (5 rows), quota
    arithmetic on the broadcast-tiny target frame, then the per-lang
    rank. Language is a LOW-cardinality hot key, so ranking uses the
    same keyed discipline as `sample_class_balance`: the md5 hash is
    uniform, so rk <= quota is equivalent to a per-(lang, hash-band)
    selection — here the rank window runs per lang over hash-banded
    partitions via bucketed_global_rank with shuffle-joined offsets
    (bucket-cardinality contract). One fact shuffle total; the kept-doc
    projection is a filter, never a sort."""
    from ..api import bucketed_global_rank

    docs = (load(spark, sf_dir, "documents")
            .select("doc_id", "lang",
                    _h32(F.col("doc_id").cast("string")).alias("hh")))
    tgt = spark.createDataFrame(_DOMAIN_MIX_TARGET, "lang string, share double")
    avail = docs.groupBy("lang").agg(F.count("*").alias("n_avail"))
    cap = (avail.join(F.broadcast(tgt), "lang")
                .agg(F.min(F.floor(F.col("n_avail") / F.col("share")))
                      .cast("long").alias("t_total")))
    quota = (tgt.crossJoin(F.broadcast(cap))
                .select("lang", "share",
                        F.floor(F.col("share") * F.col("t_total"))
                         .cast("long").alias("n_quota")))
    ranked = bucketed_global_rank(
        docs, F.floor(F.col("hh") / F.lit(65_536)).cast("long"),
        [F.col("hh"), F.col("doc_id")],
        rank_name="rk", group_cols=["lang"],
        broadcast_offsets=False)
    kept = (ranked.join(F.broadcast(quota.select("lang", "n_quota")), "lang")
                  .where(F.col("rk") <= F.col("n_quota"))
                  .groupBy("lang").agg(F.count("*").alias("n_kept")))
    tot = kept.agg(F.sum("n_kept").alias("tot_kept"))
    return (avail.join(F.broadcast(quota), "lang")
                 .join(F.broadcast(kept), "lang", "left")
                 .crossJoin(F.broadcast(tot))
                 .select("lang", F.col("n_avail").cast("long").alias("n_avail"),
                         F.round("share", 6).alias("target_share"),
                         F.coalesce(F.col("n_kept"), F.lit(0))
                          .cast("long").alias("n_kept"),
                         F.round(F.coalesce(F.col("n_kept"), F.lit(0))
                                  .cast("double") / F.col("tot_kept"), 6)
                          .alias("achieved_share")))


# ==========================================================================
# Round-10 second wave (SURVEY.md §2.31)
# ==========================================================================

_WRES_K = 5          # reservoir size per key
_WRES_GRID = 1e6     # exp-clock key quantization grid (see docstring)

#: DuckDB twin of the weighted exp-clock key. Kept next to the Spark
#: expression so the two can only change together.
_DUCK_WKEY = (
    "CAST(floor(-ln(((" + _DUCK_H32.format(
        c="'wr:' || CAST(event_id AS VARCHAR)") + ") + 1)"
    " / 4294967297.0) / greatest(1.0 + value, 0.000001) * 1000000.0)"
    " AS BIGINT)")


@op("sample_weighted_reservoir", oracle=f"""
WITH keyed AS (
    SELECT user_id, event_id, {_DUCK_WKEY} AS wkey_q
    FROM events
)
SELECT user_id, event_id, wkey_q, draw_rank FROM (
    SELECT user_id, event_id, wkey_q,
           row_number() OVER (PARTITION BY user_id
                              ORDER BY wkey_q,
                                       md5(CAST(event_id AS VARCHAR)),
                                       event_id) AS draw_rank
    FROM keyed
) WHERE draw_rank <= {_WRES_K}
""", tier=3, section="2.31")
def sample_weighted_reservoir(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WEIGHTED reservoir sample per key (Efraimidis–Spirakis exp-clocks,
    the distributed form): each event draws a deterministic uniform
    u = (hash32('wr:'||event_id)+1)/2^32+1 in (0,1) and gets the key
    -ln(u)/w with weight w = 1 + value; the _WRES_K smallest keys per
    user are the sample. This is exactly weighted sampling WITHOUT
    replacement (the exponential-clocks argument), the weighted upgrade
    of `sample_reservoir_per_key`: high-value events are
    proportionally more likely to be kept — the importance-sampling
    shape a curation pipeline uses to keep its rare-but-valuable rows.

    Determinism discipline: the uniform is the portable md5 draw (no
    rand(): stable under re-runs, appends, and engines). The ranking
    key is floored onto a 1e-6 grid BEFORE comparison — ln() is the
    one libm call here, and the two engines' ln may differ in the last
    ulp (~1e-16 relative); on the integer grid a flip would need the
    true key within 1e-10 of a grid line (measured gaps between a
    user's order statistics are ~1e-3). Grid ties break on
    (md5(event_id), event_id), deterministic on both engines.

    Scale shape: one narrow map computes the key, one user-keyed
    window ranks it — identical plan family to
    `sample_reservoir_per_key` (rank-by-hash IS a top-k; at skewed
    keys the two-phase `api.bucketed_topk` shape applies unchanged).
    """
    ev = load(spark, sf_dir, "events")
    u = ((_h32(F.concat(F.lit("wr:"), F.col("event_id").cast("string")))
          + F.lit(1)) / F.lit(4294967297.0))
    # ADVICE r10/r11: the exp-clock weight must stay strictly positive —
    # a raw 1 + value flips sign (or divides by zero) at value <= -1,
    # silently corrupting the ranking. The floor is on the WEIGHT, not
    # the value: greatest(1 + value, 1e-6) keeps every legitimate sub-1
    # weight (-1 < value < 0 means "keep rarely", exactly what the
    # exp-clock expresses as a large key) and floors only the invalid
    # domain value <= -1 to an epsilon weight, i.e. "keep almost never"
    # — the faithful limit, unlike the r10 uniform-weight rewrite. A
    # no-op on this corpus (value ~0.03-330 per FIXTURES.md). Mirrored
    # verbatim in _DUCK_WKEY.
    wkey = F.floor(-F.log(u)
                   / F.greatest(F.lit(1.0) + F.col("value"), F.lit(1e-6))
                   * F.lit(1000000.0)).cast("long")
    keyed = ev.select("user_id", "event_id", wkey.alias("wkey_q"))
    w = Window.partitionBy("user_id").orderBy(
        "wkey_q", F.md5(F.col("event_id").cast("string")), "event_id")
    return (keyed.withColumn("draw_rank", F.row_number().over(w))
                 .filter(F.col("draw_rank") <= _WRES_K))
