"""The end-to-end training-corpus pipeline as a GRADED operator
(round 10, VERDICT r9 next-round #5).

``tools/pipeline_demo.py`` has chained the curation stages since round
3 — ingest -> boilerplate clean -> exact dedup -> MinHash near-dedup
(clusters, keep the longest representative) -> heuristic quality gate
-> trained NB quality gate -> deterministic split -> next-fit packing —
but only as a narrated demo. This module makes the COMPOSITION itself
driver-gradable: ``pipeline_corpus_audit`` runs the whole chain and
emits one exact-oracled row of per-stage survivor counts plus the final
packed-token accounting, with a single DuckDB WITH-chain replaying
every stage on the same corpus. If any stage drifts from its
stand-alone operator's semantics, the row mismatches.

The stage functions live here (the demo imports them back), each one
the same machinery its registered operator grades:

- boilerplate clean: ``api.strip_boilerplate_lines``
  (`text_remove_boilerplate`)
- exact dedup: md5(lower(trim(text))) hash-group (`dedup_exact_text`'s
  normalization, min-doc_id keeper)
- near-dedup: MinHash band candidates -> jaccard >= 0.5 verify
  (`text._minhash_pairs`) -> min-label CC (`cc.min_label_cc`) -> keep
  the longest doc per cluster (`dedup_near_minhash` +
  `dedup_cluster_cc`)
- quality gates: token-count/repetition heuristics, then the
  distant-supervised NB scorer (`text_quality_model`)
- split: stable hash bucket (`sample_split_temporal` discipline)
- packing: per-(lang, shard) next-fit walk (`doc_pack_nextfit`)

Scale shape: every stage keeps its stand-alone operator's plan — the
chain adds no new shuffle class, and the audit's own output is one row.
"""
from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from ..api import DUCK_H32, strip_boilerplate_lines
from ..cc import min_label_cc
from ..registry import op
from ..sources.io import load
from .similarity import (
    _SEMDEDUP_OCC, _SEMDEDUP_TAU, _duck_cos, _duck_twolevel_prefix,
    _semantic_dedup_frame,
)
from .text import (
    _DECONTAM_EVAL_MOD, _DECONTAM_MIN_SHARED, _DUCK_SHINGLES,
    _MINHASH_BANDS, _MINHASH_JACCARD_TAU, _MINHASH_K, _PACK_BUDGET,
    _PACK_SHARDS, _SHINGLE_DF_CAP_FLOOR, _SHINGLE_DF_CAP_FRAC,
    _duck_qm_prefix, _h32, _minhash_bands, _minhash_pairs, _pack_pdf,
    _quality_model_frame, _shingles,
)

#: Validation share of the deterministic hash split (percent).
_SPLIT_VAL_PCT = 10

#: Heuristic gate dials: minimum whitespace tokens, maximum repetition
#: (1 - type/token ratio).
_Q_MIN_TOK = 5
_Q_MAX_REP = 0.8


def clean_boilerplate(d: DataFrame) -> DataFrame:
    """Corpus-level boilerplate line removal applied as a REWRITE: text
    becomes the cleaned reassembly, n_chars is recomputed, documents
    that clean to nothing are dropped. Runs FIRST so the dedup stages
    hash cleaned content (shared footers otherwise glue unrelated docs
    into near-dup clusters)."""
    cleaned = strip_boilerplate_lines(d, "doc_id", "text")
    return (d.drop("text", "n_chars")
             .join(cleaned.filter(F.length("cleaned") > 0)
                          .select("doc_id",
                                  F.col("cleaned").alias("text")),
                   "doc_id")
             .withColumn("n_chars", F.length("text").cast("long")))


def exact_dedup(d: DataFrame) -> DataFrame:
    """Keep the lowest doc_id per exact normalized text (hash-group)."""
    key = F.md5(F.lower(F.trim(F.col("text"))))
    return (d.withColumn("_k", key)
             .withColumn("_r", F.row_number().over(
                 Window.partitionBy("_k").orderBy("doc_id")))
             .filter("_r = 1").drop("_k", "_r"))


def near_dedup(d: DataFrame) -> DataFrame:
    """MinHash-LSH near-dup clusters -> keep the LONGEST doc per cluster
    (ties -> lowest doc_id). The edge list is `_minhash_pairs` (banded
    candidates verified at jaccard >= ``_MINHASH_JACCARD_TAU``); the
    clusters are `cc.min_label_cc` over it, labels propagating along
    both directions of every edge to a CHECKED fixpoint — the
    `dedup_cluster_cc` discipline, including the raise on
    non-convergence. Docs on no edge are their own cluster."""
    tok = _shingles(d).withColumnRenamed("s", "token")
    edges = _minhash_pairs(tok, _minhash_bands(tok)).select(
        F.col("doc1").alias("a"), F.col("doc2").alias("b"))
    lbl = min_label_cc(edges).select(F.col("node").alias("doc_id"), "lbl")

    member = d.join(lbl, "doc_id", "left").withColumn(
        "lbl", F.coalesce("lbl", "doc_id"))
    w = Window.partitionBy("lbl").orderBy(F.length("text").desc(),
                                          "doc_id")
    return (member.withColumn("_r", F.row_number().over(w))
                  .filter("_r = 1").drop("_r", "lbl"))


def semantic_dedup_filter(d: DataFrame, emb: DataFrame) -> DataFrame:
    """SemDeDup stage: among surviving docs THAT HAVE an embedding
    (doc_id = vec_id — the synthetic tables are row-aligned; docs
    beyond the embedding table pass through untouched), drop every doc
    whose embedding has a lower-id sub-cell mate at cosine >=
    ``_SEMDEDUP_TAU`` — `dedup_semantic_embedding`'s exact machinery
    (two-level constant-occupancy index with the r10 hard envelope)
    rebuilt over the SURVIVORS, the way a pipeline dedups what is
    actually left, not the raw corpus."""
    surv = d.select(F.col("doc_id").alias("vec_id"))
    e_s = emb.join(surv, "vec_id", "semi").select("vec_id", "embedding")
    # localCheckpoint the (tiny) drop list: its lineage nests the FULL
    # two-level index tree, and every downstream count would otherwise
    # re-stringify it — the same vanilla-1g-driver plan-string OOM the
    # Lloyd iterations already guard against, measured again here.
    drops = (_semantic_dedup_frame(e_s, _SEMDEDUP_TAU, _SEMDEDUP_OCC)
             .select(F.col("vec_id").alias("doc_id")).distinct()
             .localCheckpoint())
    return d.join(drops, "doc_id", "anti")


def decontaminate_filter(d: DataFrame, original: DataFrame) -> DataFrame:
    """Benchmark decontamination stage: the eval set is the FIXED
    ``doc_id % _DECONTAM_EVAL_MOD == 0`` slice of the ORIGINAL corpus
    (a benchmark does not shrink because training docs were deduped),
    contamination is `text_decontaminate`'s exact rule
    (>= ``_DECONTAM_MIN_SHARED`` distinct shared 3-gram shingles with
    any eval doc, shingles over the original text), and the stage
    removes both the contaminated survivors AND the eval docs
    themselves (they must never train)."""
    sh = _shingles(original)
    ev = (sh.filter(F.col("doc_id") % _DECONTAM_EVAL_MOD == 0)
            .select("s"))
    tr = sh.filter(F.col("doc_id") % _DECONTAM_EVAL_MOD != 0)
    contam = (tr.join(F.broadcast(ev), "s")
                .groupBy("doc_id")
                .agg(F.count_distinct("s").alias("n_shared"))
                .filter(F.col("n_shared") >= _DECONTAM_MIN_SHARED)
                .select("doc_id"))
    return (d.filter(F.col("doc_id") % _DECONTAM_EVAL_MOD != 0)
             .join(contam, "doc_id", "anti"))


def quality_filter(d: DataFrame) -> DataFrame:
    """Narrow row-level quality gates: token-count bounds + repetition
    ratio (type-token) — the cheap filters that run before any model."""
    ts = F.split("text", " ")
    n_tok = F.size(ts)
    rep = 1.0 - F.size(F.array_distinct(ts)).cast("double") / n_tok
    return (d.withColumn("_n", n_tok).withColumn("_rep", rep)
             .filter((F.col("_n") >= _Q_MIN_TOK)
                     & (F.col("_rep") <= _Q_MAX_REP))
             .drop("_n", "_rep"))


def model_quality_filter(d: DataFrame) -> DataFrame:
    """The TRAINED quality gate after the heuristic one — the
    production two-stage ladder (cheap rules kill the obvious junk, the
    distant-supervised NB scorer re-ranks what survives). Trains on the
    deterministic md5 slice of THIS corpus (the same exact-oracled
    machinery as `text_quality_model`)."""
    scores = _quality_model_frame(d).select("doc_id", "pred_good")
    return (d.join(scores, "doc_id")
             .filter(F.col("pred_good") == 1).drop("pred_good"))


def split_train_val(d: DataFrame,
                    val_pct: int = _SPLIT_VAL_PCT) -> DataFrame:
    """Deterministic hash split (the sample_hash_bucket discipline):
    zero shuffle, stable under appends and re-runs."""
    bucket = F.pmod(_h32(F.col("doc_id").cast("string")), F.lit(100))
    return d.withColumn(
        "split",
        F.when(bucket < val_pct, F.lit("val")).otherwise("train"))


def pack_accounting(d: DataFrame) -> DataFrame:
    """(n_packs, packed_tokens) over ``d`` — the `doc_pack_nextfit`
    walk (per-(lang, shard) Arrow-batched grouped map) reduced to the
    two totals the audit row reports."""
    shard = (_h32(F.concat(F.lit("pack:"),
                           F.col("doc_id").cast("string")))
             % _PACK_SHARDS)
    base = d.select("lang", shard.alias("shard"), "doc_id",
                    F.size(F.split("text", " ")).cast("long")
                     .alias("n_tok"))
    packed = base.groupBy("lang", "shard").applyInPandas(
        _pack_pdf,
        "lang string, shard long, doc_id long, n_tok long, pack_id long")
    return packed.agg(
        F.count_distinct("lang", "shard", "pack_id").alias("n_packs"),
        F.coalesce(F.sum("n_tok"), F.lit(0)).cast("long")
         .alias("packed_tokens"))


_R = _MINHASH_K // _MINHASH_BANDS

#: Every multiply-referenced stage frame carries DuckDB's AS
#: MATERIALIZED hint: two CTEs here are RECURSIVE (cc, pr), and plain
#: CTE inlining would re-evaluate the ENTIRE upstream pipeline once per
#: iteration (the pack walk alone iterates ~n_train/shards times) —
#: measured as a >9-minute oracle at sf0.01 vs seconds materialized.
_PIPELINE_ORACLE = f"""
WITH RECURSIVE
-- stage 1: boilerplate line removal (text_remove_boilerplate's chain),
-- rewritten as the cleaned corpus; empty-cleaning docs drop
blines AS MATERIALIZED (
    SELECT doc_id, unnest(string_split(text, '. ')) AS line,
           generate_subscripts(string_split(text, '. '), 1) AS pos
    FROM documents
), bnd AS (SELECT count(*) AS n_docs FROM documents),
bhot AS (
    SELECT l FROM (
        SELECT trim(line) AS l, count(DISTINCT doc_id) AS df
        FROM blines WHERE length(trim(line)) > 0 GROUP BY 1
    ) CROSS JOIN bnd
    WHERE df > greatest(2, CAST(ceil(0.005 * n_docs) AS BIGINT))
), bkept AS (
    SELECT doc_id, pos, line FROM blines
    WHERE trim(line) NOT IN (SELECT l FROM bhot)
), d1 AS MATERIALIZED (
    SELECT d.doc_id, a.cleaned AS text, d.lang,
           CAST(length(a.cleaned) AS BIGINT) AS n_chars
    FROM documents d
    JOIN (SELECT doc_id, string_agg(line, '. ' ORDER BY pos) AS cleaned
          FROM bkept GROUP BY doc_id) a USING (doc_id)
    WHERE length(a.cleaned) > 0
),
-- stage 2: exact dedup (normalized md5, min-doc_id keeper)
d2 AS MATERIALIZED (
    SELECT doc_id, text, lang, n_chars FROM (
        SELECT *, row_number() OVER (
            PARTITION BY md5(lower(trim(text))) ORDER BY doc_id) AS r
        FROM d1
    ) WHERE r = 1
),
-- stage 3: MinHash near-dedup -> CC -> longest representative
shraw AS MATERIALIZED (
    SELECT DISTINCT doc_id,
           unnest(list_transform(range(1, len(string_split(text, ' ')) - 1),
               i -> string_split(text, ' ')[i] || ' '
                 || string_split(text, ' ')[i+1] || ' '
                 || string_split(text, ' ')[i+2])) AS s
    FROM d2
), sh AS MATERIALIZED (
    SELECT doc_id, s FROM shraw
    WHERE s NOT IN (
        SELECT s FROM shraw GROUP BY s
        HAVING count(*) > greatest({_SHINGLE_DF_CAP_FLOOR},
            CAST(ceil({_SHINGLE_DF_CAP_FRAC} *
                      (SELECT count(*) FROM d2)) AS BIGINT))
    )
),
mh AS (
    SELECT t.doc_id, g.i,
           min({DUCK_H32.format(c="g.i || ':' || t.s")}) AS mh
    FROM sh t, generate_series(0, {_MINHASH_K - 1}) g(i)
    GROUP BY 1, 2
), bands AS (
    SELECT doc_id, i // {_R} AS band,
           string_agg(CAST(mh AS VARCHAR), ',' ORDER BY i) AS sig
    FROM mh GROUP BY 1, 2
), cand AS MATERIALIZED (
    SELECT DISTINCT a.doc_id AS doc1, b.doc_id AS doc2
    FROM bands a JOIN bands b
      ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id
), sizes AS MATERIALIZED (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
pairs AS MATERIALIZED (
    SELECT v.doc1, v.doc2 FROM (
        SELECT c.doc1, c.doc2, count(*) AS common
        FROM cand c
        JOIN sh a ON a.doc_id = c.doc1
        JOIN sh b ON b.doc_id = c.doc2 AND b.s = a.s
        GROUP BY 1, 2
    ) v
    JOIN sizes s1 ON s1.doc_id = v.doc1
    JOIN sizes s2 ON s2.doc_id = v.doc2
    WHERE CAST(v.common AS DOUBLE) / (s1.n + s2.n - v.common)
          >= {_MINHASH_JACCARD_TAU}
), edges AS MATERIALIZED (
    SELECT doc1 AS a, doc2 AS b FROM pairs
    UNION SELECT doc2, doc1 FROM pairs
), cc AS (
    SELECT DISTINCT a AS node, a AS lbl FROM edges
    UNION
    SELECT e.b, cc.lbl FROM cc JOIN edges e
      ON cc.node = e.a AND cc.lbl < e.b
), d3 AS MATERIALIZED (
    SELECT doc_id, text, lang, n_chars FROM (
        SELECT d.*, row_number() OVER (
            PARTITION BY coalesce(l.lbl, d.doc_id)
            ORDER BY length(d.text) DESC, d.doc_id) AS r
        FROM d2 d
        LEFT JOIN (SELECT node AS doc_id, min(lbl) AS lbl
                   FROM cc GROUP BY node) l USING (doc_id)
    ) WHERE r = 1
),
-- stage 4: SemDeDup over the SURVIVORS' embeddings (doc_id = vec_id;
-- docs beyond the embedding table pass through) — the full two-level
-- hard-envelope chain of dedup_semantic_embedding, corpus = es
es AS MATERIALIZED (
    SELECT e.vec_id, e.embedding FROM embeddings e
    JOIN d3 ON d3.doc_id = e.vec_id
),
{_duck_twolevel_prefix(corpus="es")},
sdrop AS MATERIALIZED (
    SELECT DISTINCT b.vec_id FROM subcells a JOIN subcells b
      ON a.cid = b.cid AND a.scid = b.scid AND a.vec_id < b.vec_id
    WHERE {_duck_cos("a.embedding", "b.embedding")} >= {_SEMDEDUP_TAU}
), ds AS MATERIALIZED (
    SELECT doc_id, text, lang, n_chars FROM d3
    WHERE doc_id NOT IN (SELECT vec_id FROM sdrop)
),
-- stage 5: heuristic quality gate
d4 AS MATERIALIZED (
    SELECT doc_id, text, lang, n_chars FROM ds
    WHERE len(string_split(text, ' ')) >= {_Q_MIN_TOK}
      AND 1.0 - CAST(len(list_distinct(string_split(text, ' ')))
                     AS DOUBLE) / len(string_split(text, ' '))
          <= {_Q_MAX_REP}
),
-- stage 6: trained NB quality gate (text_quality_model's chain over d4)
{{qm_prefix}},
score AS MATERIALIZED (
    SELECT t.doc_id, CAST(sum(COALESCE(w.wfx, o.oovfx)) AS BIGINT) AS sfx
    FROM qtok t LEFT JOIN w USING (token) CROSS JOIN oov o
    GROUP BY t.doc_id
), d5 AS MATERIALIZED (
    SELECT d.doc_id, d.text, d.lang FROM d4 d
    JOIN score s USING (doc_id) CROSS JOIN pri p
    WHERE p.prior + CAST(s.sfx AS DOUBLE) / {{qm_fx}} >= 0
),
-- stage 7: benchmark decontamination (text_decontaminate's rule over
-- the ORIGINAL corpus: the eval slice is fixed, shingles from the raw
-- text); eval docs and contaminated survivors both leave the corpus
osh AS MATERIALIZED ({_DUCK_SHINGLES}),
contam AS MATERIALIZED (
    SELECT tr.doc_id
    FROM (SELECT doc_id, s FROM osh
          WHERE doc_id % {_DECONTAM_EVAL_MOD} <> 0) tr
    JOIN (SELECT s FROM osh
          WHERE doc_id % {_DECONTAM_EVAL_MOD} = 0) ev ON tr.s = ev.s
    GROUP BY tr.doc_id
    HAVING count(DISTINCT tr.s) >= {_DECONTAM_MIN_SHARED}
), dd AS MATERIALIZED (
    SELECT doc_id, text, lang FROM d5
    WHERE doc_id % {_DECONTAM_EVAL_MOD} <> 0
      AND doc_id NOT IN (SELECT doc_id FROM contam)
),
-- stage 8: deterministic split + next-fit pack accounting (train side)
d6 AS MATERIALIZED (
    SELECT doc_id, text, lang,
           CASE WHEN {DUCK_H32.format(c="CAST(doc_id AS VARCHAR)")}
                     % 100 < {_SPLIT_VAL_PCT}
                THEN 'val' ELSE 'train' END AS split
    FROM dd
), pdocs AS MATERIALIZED (
    SELECT lang,
           ('0x' || substr(md5('pack:' || CAST(doc_id AS VARCHAR)), 1, 8))
               ::BIGINT % {_PACK_SHARDS} AS shard,
           doc_id,
           CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
           row_number() OVER (
               PARTITION BY lang,
                   ('0x' || substr(md5('pack:' || CAST(doc_id AS VARCHAR)),
                                   1, 8))::BIGINT % {_PACK_SHARDS}
               ORDER BY doc_id) AS rn
    FROM d6 WHERE split = 'train'
), pr AS (
    SELECT lang, shard, doc_id, n_tok, rn,
           CAST(0 AS BIGINT) AS pack_id, n_tok AS cum
    FROM pdocs WHERE rn = 1
    UNION ALL
    SELECT d.lang, d.shard, d.doc_id, d.n_tok, d.rn,
           CASE WHEN r.cum + d.n_tok > {_PACK_BUDGET}
                THEN r.pack_id + 1 ELSE r.pack_id END,
           CASE WHEN r.cum + d.n_tok > {_PACK_BUDGET}
                THEN d.n_tok ELSE r.cum + d.n_tok END
    FROM pr r JOIN pdocs d ON d.lang = r.lang AND d.shard = r.shard
                          AND d.rn = r.rn + 1
)
SELECT (SELECT count(*) FROM documents)          AS n_ingested,
       (SELECT count(*) FROM d1)                 AS n_clean,
       (SELECT count(*) FROM d2)                 AS n_exact,
       (SELECT count(*) FROM d3)                 AS n_near,
       (SELECT count(*) FROM ds)                 AS n_semantic,
       (SELECT count(*) FROM d4)                 AS n_quality,
       (SELECT count(*) FROM d5)                 AS n_model,
       (SELECT count(*) FROM dd)                 AS n_decontam,
       (SELECT count(*) FROM d6 WHERE split = 'train') AS n_train,
       (SELECT count(*) FROM d6 WHERE split = 'val')   AS n_val,
       (SELECT CAST(coalesce(sum(n_tok), 0) AS BIGINT) FROM pdocs)
           AS packed_tokens,
       (SELECT CAST(count(*) AS BIGINT)
        FROM (SELECT DISTINCT lang, shard, pack_id FROM pr)) AS n_packs
"""


@op("pipeline_corpus_audit", oracle=_PIPELINE_ORACLE.format(
    qm_prefix=_duck_qm_prefix(corpus="d4", materialized=True),
    qm_fx="1000000000.0"), tier=3, section="2.11")
def pipeline_corpus_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """END-TO-END corpus pipeline audit (round 10, VERDICT r9 #5): run
    the full curation chain — boilerplate clean -> exact dedup ->
    MinHash near-dedup clusters (longest representative) -> SemDeDup
    over the survivors' embeddings (the r10 hard-envelope two-level
    index) -> heuristic quality gate -> trained NB quality gate ->
    benchmark decontamination (fixed eval slice + contaminated
    survivors removed) -> deterministic 90/10 split -> next-fit pack
    accounting — and emit ONE row of per-stage survivor counts plus
    the packed-token totals. The DuckDB oracle replays every stage in
    a single WITH-chain over the same corpus, so the driver
    value-hashes the COMPOSITION, not just each stage: any drift
    between a stage here and its stand-alone operator's semantics
    mismatches the row.

    Scale shape: each stage keeps its stand-alone operator's plan
    (broadcast anti-joins for the hot line/shingle/eval sets, banded
    candidate joins and the (cid, scid)-keyed semantic pair join —
    never all-pairs, map-combinable NB training aggs, token-keyed
    scoring join, zero-shuffle hash split, per-(lang, shard) bounded
    pack walk); the stage counts the audit collects are 1-row
    aggregates over cached stage frames, and the returned frame is a
    single audit row — the `sink_compact_small_files` pattern."""
    d0 = load(spark, sf_dir, "documents")
    emb = load(spark, sf_dir, "embeddings")
    n0 = d0.count()
    d1 = clean_boilerplate(d0).cache()
    n1 = d1.count()
    d2 = exact_dedup(d1).cache()
    n2 = d2.count()
    d3 = near_dedup(d2).cache()
    n3 = d3.count()
    ds = semantic_dedup_filter(d3, emb).cache()
    ns = ds.count()
    d4 = quality_filter(ds).cache()
    n4 = d4.count()
    d5 = model_quality_filter(d4).cache()
    n5 = d5.count()
    dd = decontaminate_filter(d5, d0).cache()
    nd = dd.count()
    d6 = split_train_val(dd)
    splits = {r["split"]: r["n"] for r in
              d6.groupBy("split").agg(F.count("*").alias("n")).collect()}
    packs = pack_accounting(d6.filter(F.col("split") == "train")) \
        .collect()[0]
    for f in (d1, d2, d3, ds, d4, d5, dd):
        f.unpersist()
    return spark.createDataFrame(
        [(n0, n1, n2, n3, ns, n4, n5, nd,
          int(splits.get("train", 0)), int(splits.get("val", 0)),
          int(packs["packed_tokens"]), int(packs["n_packs"]))],
        "n_ingested long, n_clean long, n_exact long, n_near long, "
        "n_semantic long, n_quality long, n_model long, n_decontam long, "
        "n_train long, n_val long, packed_tokens long, n_packs long")


# ==========================================================================
# The industrial time-series pipeline as a graded operator (round 10,
# SURVEY.md §2.32) — the domain sibling of pipeline_corpus_audit: the
# reference domain is industrial time-sequence processing, and THIS is
# the chain its users actually run end to end.
# ==========================================================================

_TSP_GRID = 1000000000.0  # hourly means quantize to 1e-9 longs


@op("pipeline_timeseries_audit", oracle=f"""
WITH dd AS (
    -- latest record per (user, minute): DuckDB's max_by cannot take a
    -- composite (ts, event_id) key, so the oracle uses the equivalent
    -- row_number pick (ts_dedup_latest's own oracle form); the Spark
    -- side's max_by over struct(ts, event_id) selects the same row.
    SELECT user_id, mnt, event_type, value FROM (
        SELECT user_id, date_trunc('minute', ts) AS mnt, event_type,
               value,
               row_number() OVER (
                   PARTITION BY user_id, date_trunc('minute', ts)
                   ORDER BY ts DESC, event_id DESC) AS rn
        FROM events
    ) WHERE rn = 1
), hourly AS (
    SELECT event_type, date_trunc('hour', mnt) AS h,
           CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / count(*)
               AS m
    FROM dd GROUP BY event_type, date_trunc('hour', mnt)
), spans AS (
    SELECT event_type, datediff('hour', min(h), max(h)) + 1 AS span
    FROM hourly GROUP BY event_type
), q AS (
    SELECT event_type, h,
           CAST(floor(m * {_TSP_GRID!r}) AS BIGINT) AS mq
    FROM hourly
), mom AS (
    SELECT event_type, count(*) AS n,
           CAST(sum(mq) AS DOUBLE) AS sv,
           CAST(sum(CAST(mq AS HUGEINT) * mq) AS DOUBLE) AS svv
    FROM q GROUP BY event_type
), z AS (
    SELECT q.event_type, q.h,
           CASE WHEN m2.n > 1
                 AND sqrt(greatest(m2.svv - m2.sv * (m2.sv / m2.n), 0.0)
                          / (m2.n - 1)) > 0
                THEN (q.mq - m2.sv / m2.n)
                     / sqrt(greatest(m2.svv - m2.sv * (m2.sv / m2.n), 0.0)
                            / (m2.n - 1))
           END AS z
    FROM q JOIN mom m2 USING (event_type)
)
SELECT
    (SELECT count(*) FROM events) AS n_raw,
    (SELECT count(*) FROM dd) AS n_deduped,
    (SELECT count(*) FROM hourly) AS n_hourly_points,
    CAST((SELECT sum(span) FROM spans)
         - (SELECT count(*) FROM hourly) AS BIGINT) AS n_gap_hours,
    (SELECT count(*) FROM z WHERE abs(z) > 3.0) AS n_anomalies_3sigma,
    (SELECT count(*) FROM z WHERE abs(z) > 2.0) AS n_warn_2sigma,
    (SELECT count(*) FROM (SELECT DISTINCT event_type,
                                  date_trunc('day', h) FROM hourly))
        AS n_daily_rows
""", tier=3, section="2.32")
def pipeline_timeseries_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """END-TO-END industrial time-series pipeline audit — the domain
    sibling of `pipeline_corpus_audit`: sensor dedup (latest record per
    (user, minute), the `ts_dedup_latest` discipline) -> hourly-mean
    resample per channel (`ts_resample_1h`) -> coverage/gap accounting
    against each channel's own [first, last]-hour span
    (`ts_gap_fill_ffill`'s grid) -> z-score anomaly screen over the
    hourly means (`ts_anomaly_zscore`, decimal-exact quantized moments)
    -> daily rollup row count (`ts_kpi_daily_rollup`), emitted as ONE
    exact-oracled row of per-stage counts. The driver value-hashes the
    COMPOSITION: any drift between a stage here and its stand-alone
    operator's semantics mismatches the row.

    Unlike the corpus audit (whose corpus-sized stage frames are
    cache()+count()ed), this chain materializes exactly ONE bounded
    intermediate — the (channels x hours) hourly frame, eagerly
    localCheckpointed — and every stage count is a 1-row aggregate over
    it (or over the raw scan), cross-joined into the audit row. No
    collects, no corpus-sized caches.

    Scale shape: dedup is one (user, minute)-keyed map-combinable
    max_by agg; the resample is the standard (channel, hour) hash agg;
    gap math and the anomaly moments run on the HOURLY frame (bounded
    by channels x corpus-hours); every audit count is a map-combinable
    global aggregate. No windows, no driver loops, no collects."""
    ev = load(spark, sf_dir, "events")
    key = F.struct("ts", "event_id")
    dd = (ev.groupBy("user_id", F.date_trunc("minute", "ts").alias("mnt"))
            .agg(F.max_by("event_type", key).alias("event_type"),
                 F.max_by("value", key).alias("value")))
    # hourly carries the per-(channel, hour) DEDUPED record count too, so
    # n_deduped derives from this frame (sum of nrec) instead of a second
    # pass over dd; checkpointing the (channels x hours)-bounded frame
    # lets every downstream stage read it without re-deriving the dedup
    # (measured 20 parquet scans before, 2 after: n_raw + the dd build).
    hourly = (dd.groupBy("event_type", F.date_trunc("hour", "mnt").alias("h"))
                .agg((F.sum(F.col("value").cast("decimal(18,2)"))
                      .cast("double") / F.count("*")).alias("m"),
                     F.count("*").alias("nrec"))
                .localCheckpoint())
    spans = (hourly.groupBy("event_type")
                   .agg(((F.max("h").cast("long") - F.min("h").cast("long"))
                         / F.lit(3600) + F.lit(1)).cast("long")
                        .alias("span")))
    q = hourly.select("event_type", "h",
                      F.floor(F.col("m") * _TSP_GRID).cast("long")
                       .alias("mq"))
    d38 = "decimal(38,0)"
    mom = q.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum("mq").cast("double").alias("sv"),
        F.sum(F.col("mq").cast(d38) * F.col("mq")).cast("double")
         .alias("svv"))
    mean = F.col("sv") / F.col("n")
    sd = F.sqrt(F.greatest(F.col("svv") - F.col("sv") * mean, F.lit(0.0))
                / (F.col("n") - F.lit(1)))
    zc = F.when((F.col("n") > 1) & (sd > 0), (F.col("mq") - mean) / sd)
    z = q.join(F.broadcast(mom), "event_type").select(zc.alias("z"))
    one = lambda df, col, name: df.agg(col.alias(name))  # noqa: E731
    # ADVICE r10: the sum-derived counters must be coalesced to 0 — on an
    # EMPTY corpus F.sum over zero rows is NULL while the oracle's
    # count(*)-style subqueries yield 0 (n_gap_hours stays un-coalesced:
    # there the oracle's sum(span) is NULL on empty too, so both sides
    # agree without it).
    zero = lambda c: F.coalesce(c, F.lit(0))  # noqa: E731
    return (
        one(ev, F.count("*").cast("long"), "n_raw")
        .crossJoin(one(hourly, zero(F.sum("nrec")).cast("long"),
                       "n_deduped"))
        .crossJoin(one(hourly, F.count("*").cast("long"),
                       "n_hourly_points"))
        .crossJoin(
            one(spans.crossJoin(hourly.agg(F.count("*").alias("np"))
                                .select("np")),
                (F.sum("span") - F.first("np")).cast("long"),
                "n_gap_hours"))
        .crossJoin(one(z, zero(F.sum((F.abs("z") > 3.0).cast("long")))
                       .cast("long"), "n_anomalies_3sigma"))
        .crossJoin(one(z, zero(F.sum((F.abs("z") > 2.0).cast("long")))
                       .cast("long"), "n_warn_2sigma"))
        .crossJoin(one(hourly.select("event_type",
                                     F.date_trunc("day", "h").alias("d"))
                       .distinct(),
                       F.count("*").cast("long"), "n_daily_rows")))
