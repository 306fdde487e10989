"""Text-analysis + deduplication operators (SURVEY.md §2.11) over the
``documents`` table — the LLM-training-data-pipeline surface.

Design notes (100 TB posture):

- Everything is inverted-index / hash-partition shaped: tokenize -> explode
  -> aggregate or join on token. No all-pairs comparisons anywhere except
  *after* LSH/blocking has cut the candidate set.
- Cross-engine portable hashing: ``hash32(s)`` = first 8 hex digits of
  md5(s) as an integer. Spark: ``conv(substr(md5(s),1,8),16,10)``; DuckDB:
  ``('0x'||substr(md5(s),1,8))::BIGINT``. This makes even MinHash/SimHash
  signatures *value-hash verifiable* across engines — most engines' native
  hash functions (xxhash64 vs DuckDB hash) never match.
- Division is always explicit-double on both sides; counts cast to BIGINT.
"""
from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window, functions as F

from ..api import (hash32, minhash_band_signatures, strip_boilerplate_lines,
                   word_shingles)
from ..registry import REGISTRY, op
from ..sources.io import load

# Portable 32-bit token hash (see module docstring).
from ..api import DUCK_H32 as _DUCK_H32  # one shared definition
from ..cc import cc_star, min_label_cc


def _h32(c: Column) -> Column:
    return hash32(c)  # promoted to api.py (round 5); kept as local alias


def _tokens(d: DataFrame) -> DataFrame:
    """(doc_id, token) — one row per token occurrence."""
    return d.select("doc_id", F.explode(F.split("text", " ")).alias("token"))


# ==========================================================================
# Text analysis
# ==========================================================================


@op("text_word_freq", oracle="""
SELECT token, n, rnk FROM (
    SELECT token, count(*) AS n,
           row_number() OVER (ORDER BY count(*) DESC, token) AS rnk
    FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents)
    GROUP BY token
) WHERE rnk <= 50
""", tier=1, section="2.11")
def text_word_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus token frequencies, top-50 (tokenize -> count -> top-k).
    Map-side partial counts make this a tiny shuffle at any scale."""
    d = load(spark, sf_dir, "documents")
    counts = _tokens(d).groupBy("token").agg(F.count("*").alias("n"))
    w = Window.orderBy(F.col("n").desc(), "token")
    return counts.withColumn("rnk", F.row_number().over(w)).filter("rnk <= 50")


@op("text_stats_by_lang", oracle="""
SELECT lang, source,
       count(*) AS n_docs,
       round(avg(CAST(n_chars AS DOUBLE)), 6) AS avg_chars,
       round(avg(CAST(len(string_split(text, ' ')) AS DOUBLE)), 6) AS avg_tokens
FROM documents
GROUP BY lang, source
""", tier=1, section="2.11")
def text_stats_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Docs / avg chars / avg tokens per lang x source."""
    d = load(spark, sf_dir, "documents")
    return d.groupBy("lang", "source").agg(
        F.count("*").alias("n_docs"),
        F.round(F.avg(F.col("n_chars").cast("double")), 6).alias("avg_chars"),
        F.round(F.avg(F.size(F.split("text", " ")).cast("double")), 6)
         .alias("avg_tokens"),
    )


@op("text_token_count", oracle="""
SELECT doc_id,
       CAST(len(string_split(text, ' ')) AS BIGINT) AS n_ws_tokens,
       CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9\\s]')
           ) AS BIGINT) AS n_bpe_tokens,
       CAST(length(replace(text, ' ', '')) AS BIGINT) AS n_nonspace_chars
FROM documents
""", tier=1, section="2.11")
def text_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting two ways: whitespace split + a BPE-ish regex lexer
    (letter runs | digit runs | single other chars)."""
    d = load(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.size(F.split("text", " ")).cast("long").alias("n_ws_tokens"),
        F.regexp_count("text", F.lit(r"[a-z]+|[0-9]+|[^a-z0-9\s]"))
         .cast("long").alias("n_bpe_tokens"),
        F.length(F.regexp_replace("text", " ", "")).cast("long")
         .alias("n_nonspace_chars"),
    )


@op("text_filter_quality", oracle="""
SELECT doc_id, lang, n_chars, n_tokens, avg_token_len FROM (
    SELECT doc_id, lang, n_chars,
           CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
           round(CAST(length(replace(text, ' ', '')) AS DOUBLE)
                 / CAST(len(string_split(text, ' ')) AS DOUBLE), 6)
               AS avg_token_len
    FROM documents
)
WHERE n_tokens BETWEEN 20 AND 1000
  AND avg_token_len BETWEEN 2.0 AND 12.0
  AND n_chars >= 50
""", tier=2, section="2.11")
def text_filter_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic quality filter: length bounds + mean-token-length band
    (the classic Gopher-style rule shape). Pure predicates — pushed down."""
    d = load(spark, sf_dir, "documents")
    n_tokens = F.size(F.split("text", " ")).cast("long")
    avg_len = F.round(
        F.length(F.regexp_replace("text", " ", "")).cast("double")
        / n_tokens.cast("double"), 6)
    out = d.select(
        "doc_id", "lang", "n_chars",
        n_tokens.alias("n_tokens"), avg_len.alias("avg_token_len"),
    )
    return out.filter(
        F.col("n_tokens").between(20, 1000)
        & F.col("avg_token_len").between(2.0, 12.0)
        & (F.col("n_chars") >= 50)
    )


@op("text_tfidf_topterms", oracle="""
WITH tok AS (
    SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
), tf AS (
    SELECT doc_id, token, count(*) AS tf FROM tok GROUP BY 1, 2
), df AS (
    SELECT token, count(DISTINCT doc_id) AS df FROM tok GROUP BY 1
), n AS (SELECT count(*) AS n_docs FROM documents)
SELECT doc_id, token, score, rnk FROM (
    SELECT tf.doc_id, tf.token,
           round(tf.tf * ln((n.n_docs + 1.0) / (df.df + 1.0)), 6) AS score,
           row_number() OVER (PARTITION BY tf.doc_id
                              ORDER BY tf.tf * ln((n.n_docs + 1.0)
                                                  / (df.df + 1.0)) DESC,
                                       tf.token) AS rnk
    FROM tf JOIN df USING (token) CROSS JOIN n
) WHERE rnk <= 3
""", tier=3, section="2.11")
def text_tfidf_topterms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 tf-idf terms per document, SQL-only math.

    The doc-frequency table is vocabulary-sized (tiny) -> broadcast back
    onto term frequencies; n_docs is a broadcast scalar. No big-side
    shuffle beyond the tf aggregation itself.
    """
    d = load(spark, sf_dir, "documents")
    tok = _tokens(d)
    tf = tok.groupBy("doc_id", "token").agg(F.count("*").alias("tf"))
    df = tok.groupBy("token").agg(F.countDistinct("doc_id").alias("df"))
    n_docs = d.agg(F.count("*").alias("n_docs"))
    score = F.col("tf") * F.log((F.col("n_docs") + 1.0) / (F.col("df") + 1.0))
    w = Window.partitionBy("doc_id").orderBy(F.col("_s").desc(), "token")
    return (
        tf.join(F.broadcast(df), "token").crossJoin(F.broadcast(n_docs))
          .withColumn("_s", score)
          .withColumn("rnk", F.row_number().over(w))
          .filter("rnk <= 3")
          .select("doc_id", "token", F.round("_s", 6).alias("score"), "rnk")
    )


@op("text_lang_id", oracle="""
WITH tok AS (
    SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
), lang_top AS (   -- profile: top-10 tokens per language, trained on corpus
    SELECT lang, token FROM (
        SELECT d.lang, t.token,
               row_number() OVER (PARTITION BY d.lang
                                  ORDER BY count(*) DESC, t.token) AS rnk
        FROM tok t JOIN documents d USING (doc_id)
        GROUP BY d.lang, t.token
    ) WHERE rnk <= 10
), scored AS (
    SELECT t.doc_id, lt.lang AS cand, count(*) AS matches
    FROM tok t JOIN lang_top lt USING (token)
    GROUP BY 1, 2
), pred AS (
    SELECT doc_id, cand, matches,
           row_number() OVER (PARTITION BY doc_id
                              ORDER BY matches DESC, cand) AS rnk
    FROM scored
)
SELECT d.doc_id, d.lang, p.cand AS pred_lang, p.matches AS n_matches
FROM documents d LEFT JOIN (SELECT * FROM pred WHERE rnk = 1) p
  ON d.doc_id = p.doc_id
""", tier=2, section="2.11")
def text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language ID by token-profile voting: train top-10 token profiles per
    language from the corpus itself, then classify each doc by profile hits.

    The profile table is (n_langs x 10) rows -> broadcast; classification
    is one aggregation over the exploded tokens. Scales linearly.
    """
    d = load(spark, sf_dir, "documents")
    tok = _tokens(d)
    w_prof = Window.partitionBy("lang").orderBy(F.col("n").desc(), "token")
    lang_top = (
        tok.join(d.select("doc_id", "lang"), "doc_id")
           .groupBy("lang", "token").agg(F.count("*").alias("n"))
           .withColumn("rnk", F.row_number().over(w_prof))
           .filter("rnk <= 10").select("lang", "token")
    )
    scored = (
        tok.join(F.broadcast(lang_top.withColumnRenamed("lang", "cand")), "token")
           .groupBy("doc_id", "cand").agg(F.count("*").alias("matches"))
    )
    w_pred = Window.partitionBy("doc_id").orderBy(F.col("matches").desc(), "cand")
    pred = scored.withColumn("rnk", F.row_number().over(w_pred)).filter("rnk = 1")
    return d.select("doc_id", "lang").join(pred, "doc_id", "left").select(
        "doc_id", "lang",
        F.col("cand").alias("pred_lang"),
        F.col("matches").alias("n_matches"),
    )


@op("text_fingerprint", oracle=f"""
SELECT doc_id,
       list_reduce(
           list_prepend(CAST(0 AS BIGINT),
               list_transform(string_split(text, ' '),
                              t -> {_DUCK_H32.format(c='t')})),
           (acc, h) -> (acc * 31 + h) % 1000000007) AS fingerprint,
       CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
FROM documents
""", tier=2, section="2.11")
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-sensitive document fingerprint: polynomial rolling hash over
    the token stream, ``acc = (acc*31 + hash32(token)) mod 1e9+7``.

    Pure higher-order array fold — JVM-side, no UDF. The same fold runs in
    the oracle via DuckDB list_reduce, so the 64-bit arithmetic must match
    exactly (it does: both are int64, no overflow at these magnitudes).
    """
    d = load(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    fp = F.aggregate(
        toks, F.lit(0).cast("long"),
        lambda acc, t: (acc * 31 + _h32(t)) % 1000000007,
    )
    return d.select(
        "doc_id", fp.alias("fingerprint"),
        F.size(toks).cast("long").alias("n_tokens"),
    )


# ==========================================================================
# Deduplication
# ==========================================================================


@op("dedup_exact_text", oracle="""
SELECT md5(lower(trim(text))) AS text_hash,
       min(doc_id) AS keep_doc_id,
       count(*) AS n_copies
FROM documents GROUP BY 1
""", tier=1, section="2.11")
def dedup_exact_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup on normalized text hash: keep the min doc_id per hash.
    One hash aggregation — the canonical first dedup pass at any scale."""
    d = load(spark, sf_dir, "documents")
    return d.groupBy(
        F.md5(F.lower(F.trim(F.col("text")))).alias("text_hash")
    ).agg(
        F.min("doc_id").alias("keep_doc_id"),
        F.count("*").alias("n_copies"),
    )


#: High-document-frequency shingle cap (SCALE.md "the production guard"):
#: a shingle present in more than max(FLOOR, FRAC·n_docs) documents is
#: boilerplate (licence headers, templated footers) — it carries no
#: near-dup signal but fans the inverted-index join out toward all-pairs
#: (df docs sharing one shingle → df² candidate pairs). Dropping it bounds
#: the per-shingle join fan-out by the cap. The floor keeps the guard
#: inert on small corpora (sf0.01: 500 docs, max df 500 < 1000 → the cap
#: provably removes nothing, so oracle values are unchanged).
_SHINGLE_DF_CAP_FLOOR = 1000
_SHINGLE_DF_CAP_FRAC = 0.005

#: DuckDB 3-gram word shingles of `text` (1-based list indexing) — raw,
#: before the df cap.
_DUCK_SHINGLES_RAW = """
    SELECT DISTINCT doc_id,
           unnest(list_transform(range(1, len(string_split(text, ' ')) - 1),
               i -> string_split(text, ' ')[i] || ' '
                 || string_split(text, ' ')[i+1] || ' '
                 || string_split(text, ' ')[i+2])) AS s
    FROM documents
"""

#: Capped shingle stream — what every shingle-consuming oracle uses; the
#: NOT IN set is the (tiny) hot-shingle list, mirroring the Spark side's
#: broadcast anti-join. `s` is never NULL (concat of split parts), so
#: NOT IN three-valued-logic hazards don't apply.
_DUCK_SHINGLES = f"""
    SELECT doc_id, s FROM ({_DUCK_SHINGLES_RAW})
    WHERE s NOT IN (
        SELECT s FROM ({_DUCK_SHINGLES_RAW})
        GROUP BY s
        HAVING count(*) > greatest({_SHINGLE_DF_CAP_FLOOR},
            CAST(ceil({_SHINGLE_DF_CAP_FRAC} *
                      (SELECT count(*) FROM documents)) AS BIGINT))
    )
"""


def _shingles(d: DataFrame) -> DataFrame:
    """(doc_id, s) — distinct 3-gram word shingles per document, with
    shingles above the high-df cap removed (see cap constants above).

    The cap is computed distributively: shingle df is one aggregate over
    the stream (same key as the downstream inverted-index join), the doc
    count is a 1-row aggregate, and the hot-shingle set — by construction
    at most 1/FRAC ≈ 200 distinct shingles times a slack factor, in
    practice a handful — is removed via a broadcast LEFT ANTI join. No
    driver-side collect anywhere.

    Implementation promoted to ``api.word_shingles`` (round 5 — the
    split-hoisting and broadcast-anti-join mechanics live there); this
    wrapper binds the documents-table column names and the repo cap
    constants.

    r13: the stream is localCheckpointed — every consumer fans it out
    to 3+ branches (sizes, both self-join sides, the minhash explode)
    and the optimizer reuses none of them (the r13 before-plan of
    dedup_near_minhash shows 36 parquet re-scans of documents and zero
    ReusedExchange). One materialization of the ~20-bytes-per-shingle
    stream replaces 3-8 recomputes of split + explode + distinct +
    anti-join per query (guide §3.3: materialize shared intermediates;
    storage is a few MB at sf0.1 and linear in corpus size).

    r14 (VERDICT r13 #3): the checkpoint is LAZY — eager=True billed a
    separate materialization job to every query (and a caller that
    immediately ``.cache()``s the stream, like the bench's build split,
    paid the stream twice). With eager=False the checkpoint persists
    during the first consuming action, so caller caching and the
    checkpoint share one pass; measured fused near-minhash
    3.22 → 2.72 s, build unchanged."""
    return word_shingles(d, "doc_id", "text", 3,
                         _SHINGLE_DF_CAP_FLOOR,
                         _SHINGLE_DF_CAP_FRAC).localCheckpoint(eager=False)


@op("dedup_ngram_jaccard", oracle=f"""
WITH sh AS ({_DUCK_SHINGLES}), sizes AS (
    SELECT doc_id, count(*) AS n FROM sh GROUP BY 1
), common AS (
    SELECT a.doc_id AS doc1, b.doc_id AS doc2, count(*) AS c
    FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
    GROUP BY 1, 2
)
SELECT doc1, doc2,
       round(CAST(c AS DOUBLE) / (s1.n + s2.n - c), 6) AS jaccard
FROM common
JOIN sizes s1 ON s1.doc_id = doc1
JOIN sizes s2 ON s2.doc_id = doc2
WHERE CAST(c AS DOUBLE) / (s1.n + s2.n - c) >= 0.5
""", tier=2, section="2.11")
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs by 3-gram-shingle Jaccard >= 0.5 via an
    inverted-index self-join (join on shingle, never all-pairs).

    Shingle choice IS the scale lever: word 3-grams are selective
    (vocab^3 space), so the inverted-index join fans out only where real
    phrase overlap exists — unigram sets over a small shared vocabulary
    would make every document pair a candidate. This corpus contains
    planted near-dups at jaccard ~0.95-1.0 vs ~0.04 background noise;
    0.5 separates them cleanly.
    """
    d = load(spark, sf_dir, "documents")
    sh = _shingles(d)
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n"))
    a, b = sh.alias("a"), sh.alias("b")
    common = (
        a.join(b, (F.col("a.s") == F.col("b.s"))
               & (F.col("a.doc_id") < F.col("b.doc_id")))
         .groupBy(F.col("a.doc_id").alias("doc1"),
                  F.col("b.doc_id").alias("doc2"))
         .agg(F.count("*").alias("c"))
    )
    s1 = sizes.select(F.col("doc_id").alias("doc1"), F.col("n").alias("n1"))
    s2 = sizes.select(F.col("doc_id").alias("doc2"), F.col("n").alias("n2"))
    jac = F.col("c").cast("double") / (F.col("n1") + F.col("n2") - F.col("c"))
    return (
        common.join(F.broadcast(s1), "doc1").join(F.broadcast(s2), "doc2")
              .filter(jac >= 0.5)
              .select("doc1", "doc2", F.round(jac, 6).alias("jaccard"))
    )


@op("dedup_containment", oracle=f"""
WITH sh AS ({_DUCK_SHINGLES}), sizes AS (
    SELECT doc_id, count(*) AS n FROM sh GROUP BY 1
), common AS (
    SELECT a.doc_id AS doc1, b.doc_id AS doc2, count(*) AS c
    FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
    GROUP BY 1, 2
)
SELECT doc1, doc2,
       round(CAST(c AS DOUBLE) / least(s1.n, s2.n), 6) AS containment,
       round(CAST(c AS DOUBLE) / (s1.n + s2.n - c), 6) AS jaccard
FROM common
JOIN sizes s1 ON s1.doc_id = doc1
JOIN sizes s2 ON s2.doc_id = doc2
WHERE CAST(c AS DOUBLE) / least(s1.n, s2.n) >= 0.8
""", tier=2, section="2.11")
def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs by shingle CONTAINMENT >= 0.8 — the doc-inside-doc
    detector Jaccard structurally misses: a paragraph fully quoted
    inside a 10x-longer article has jaccard ~0.1 (union dominated by the
    long side) but containment ~1.0 (intersection over the SMALLER set).
    Pretraining dedup needs both: jaccard for same-length near-dups,
    containment for partial/quoted duplication (the C4/RefinedWeb
    "substring dup" class, computed here set-wise over 3-gram shingles).

    Same scale shape as ``dedup_ngram_jaccard`` — the capped inverted-
    index self-join, never all-pairs; both scores are emitted so the
    output shows WHICH criterion fired (a contained pair typically
    passes containment while failing jaccard)."""
    d = load(spark, sf_dir, "documents")
    sh = _shingles(d)
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n"))
    a, b = sh.alias("a"), sh.alias("b")
    common = (
        a.join(b, (F.col("a.s") == F.col("b.s"))
               & (F.col("a.doc_id") < F.col("b.doc_id")))
         .groupBy(F.col("a.doc_id").alias("doc1"),
                  F.col("b.doc_id").alias("doc2"))
         .agg(F.count("*").alias("c"))
    )
    s1 = sizes.select(F.col("doc_id").alias("doc1"), F.col("n").alias("n1"))
    s2 = sizes.select(F.col("doc_id").alias("doc2"), F.col("n").alias("n2"))
    cont = F.col("c").cast("double") / F.least("n1", "n2")
    jac = F.col("c").cast("double") / (F.col("n1") + F.col("n2") - F.col("c"))
    return (
        common.join(F.broadcast(s1), "doc1").join(F.broadcast(s2), "doc2")
              .filter(cont >= 0.8)
              .select("doc1", "doc2",
                      F.round(cont, 6).alias("containment"),
                      F.round(jac, 6).alias("jaccard"))
    )


@op("dedup_simhash", oracle=f"""
WITH tok AS (
    SELECT doc_id, token, count(*) AS w,
           {_DUCK_H32.format(c='token')} AS h
    FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS token
          FROM documents)
    GROUP BY 1, 2
), bits AS (
    SELECT t.doc_id, g.b,
           sum(CASE WHEN (t.h >> g.b) & 1 = 1 THEN t.w ELSE -t.w END) AS s
    FROM tok t, generate_series(0, 31) g(b)
    GROUP BY 1, 2
)
SELECT doc_id,
       CAST(sum(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << b) ELSE 0 END)
            AS BIGINT) AS simhash
FROM bits GROUP BY doc_id
""", tier=2, section="2.11")
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """32-bit SimHash signature per document (token-frequency weighted).

    Each token votes ±weight on each bit of its hash32; the signature sets
    the bits with positive sums. Near-dup docs land at small Hamming
    distance — banding the signature gives an LSH dedup index. Expressed as
    explode(bit positions) -> two hash aggregations; linear in corpus size.
    """
    d = load(spark, sf_dir, "documents")
    tok = (
        _tokens(d).groupBy("doc_id", "token")
                  .agg(F.count("*").alias("w"))
                  .withColumn("h", _h32(F.col("token")))
    )
    vote = F.when(
        F.expr("shiftright(h, b) & 1") == 1, F.col("w")
    ).otherwise(-F.col("w"))
    bits = (
        tok.withColumn("b", F.explode(F.sequence(F.lit(0), F.lit(31))))
           .groupBy("doc_id", "b").agg(F.sum(vote).alias("s"))
    )
    sig = F.sum(
        F.when(F.col("s") > 0,
               F.expr("shiftleft(CAST(1 AS BIGINT), b)")).otherwise(0)
    )
    return bits.groupBy("doc_id").agg(sig.alias("simhash"))


_MINHASH_K = 16       # signature length
_MINHASH_BANDS = 4    # 4 bands x 4 rows: catches jaccard >~ 0.7
#: Exact-Jaccard keep threshold of every MinHash candidate verify
#: (`_jaccard_verify`; the batch, incremental, streaming and pipeline
#: near-dup stages and their oracles).
_MINHASH_JACCARD_TAU = 0.5


def _minhash_bands(tok: DataFrame) -> DataFrame:
    """(doc_id, band, sig): per-document LSH band signatures —
    16 portable minhashes over the capped shingle stream, folded into
    4 bands of 4 (ordered concat). Shared by the full self-join dedup
    and the incremental batch-vs-corpus variant. Implementation promoted
    to ``api.minhash_band_signatures`` (round 5); this wrapper binds the
    repo's (k, bands) dial."""
    return minhash_band_signatures(tok, "doc_id", "token",
                                   _MINHASH_K, _MINHASH_BANDS)


@op("dedup_near_minhash", oracle=f"""
WITH sh AS ({_DUCK_SHINGLES}),
mh AS (    -- minhash_i(doc) = min over shingles of hash32(i || ':' || shingle)
    SELECT t.doc_id, g.i,
           min({_DUCK_H32.format(c="g.i || ':' || t.s")}) AS mh
    FROM sh t, generate_series(0, {_MINHASH_K - 1}) g(i)
    GROUP BY 1, 2
), bands AS (   -- band signature = ordered concat of its 4 minhashes
    SELECT doc_id, i // {_MINHASH_K // _MINHASH_BANDS} AS band,
           string_agg(CAST(mh AS VARCHAR), ',' ORDER BY i) AS sig
    FROM mh GROUP BY 1, 2
), cand AS (    -- LSH candidates: pairs sharing any band signature
    SELECT DISTINCT a.doc_id AS doc1, b.doc_id AS doc2
    FROM bands a JOIN bands b
      ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id
), sizes AS (
    SELECT doc_id, count(*) AS n FROM sh GROUP BY 1
), verified AS (  -- exact jaccard, but only on the candidate pairs
    SELECT c.doc1, c.doc2, count(*) AS common
    FROM cand c
    JOIN sh a ON a.doc_id = c.doc1
    JOIN sh b ON b.doc_id = c.doc2 AND b.s = a.s
    GROUP BY 1, 2
)
SELECT v.doc1, v.doc2,
       round(CAST(v.common AS DOUBLE) / (s1.n + s2.n - v.common), 6)
           AS jaccard
FROM verified v
JOIN sizes s1 ON s1.doc_id = v.doc1
JOIN sizes s2 ON s2.doc_id = v.doc2
WHERE CAST(v.common AS DOUBLE) / (s1.n + s2.n - v.common) >= {_MINHASH_JACCARD_TAU}
""", tier=2, section="2.11")
def dedup_near_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash + LSH near-dup detection, the scale path for dedup:

    3-gram word shingles -> 16 minhashes (portable md5-derived hash32
    keyed by hash index) -> 4 bands of 4 -> bucket-join on band
    signature -> exact Jaccard verification on candidates only.

    Never compares all pairs: the band join only collides docs that are
    already likely near-dups (P[collide] = 1-(1-j^4)^4, ~0.94 at j=0.8,
    ~1e-4 at the j~0.04 background of this corpus). The portable hash
    makes the whole pipeline value-verifiable against DuckDB —
    signatures and all.
    """
    d = load(spark, sf_dir, "documents")
    tok = _shingles(d).withColumnRenamed("s", "token")
    return _minhash_pairs(tok, _minhash_bands(tok))


def _minhash_pairs(tok: DataFrame, bands: DataFrame) -> DataFrame:
    """Band-collision candidates + exact-Jaccard verify over PREBUILT
    shingle and band-signature frames — the serve-side core shared by
    ``dedup_near_minhash``, the pipeline's ``near_dedup`` and the bench
    build/serve split (VERDICT r6 #3: the band index is the build
    artifact; pair generation is the per-ingest serve cost). The band
    self-join yields each colliding ``doc1 < doc2`` pair once;
    :func:`_jaccard_verify` keeps the true near-dups."""
    a, b = bands.alias("a"), bands.alias("b")
    cand = (
        a.join(b, (F.col("a.band") == F.col("b.band"))
               & (F.col("a.sig") == F.col("b.sig"))
               & (F.col("a.doc_id") < F.col("b.doc_id")))
         .select(F.col("a.doc_id").alias("doc1"),
                 F.col("b.doc_id").alias("doc2"))
         .distinct()
    )
    return _jaccard_verify(cand, tok, tok)


def _jaccard_verify(cand: DataFrame, tok_l: DataFrame,
                    tok_r: DataFrame) -> DataFrame:
    """The one exact-Jaccard verify of the MinHash near-dup family:
    candidate pairs ``(doc1, doc2)`` -> ``(doc1, doc2, jaccard)`` for
    the pairs whose shingle sets (``tok_l`` for doc1, ``tok_r`` for
    doc2; both ``(doc_id, token)``, distinct tokens per doc) have
    Jaccard >= ``_MINHASH_JACCARD_TAU``, rounded to 6 places like the
    oracles. The shared-token count is one join + ``groupBy`` over the
    candidates only; the per-doc set sizes are broadcast."""
    ta = tok_l.select(F.col("doc_id").alias("doc1"), "token")
    tb = tok_r.select(F.col("doc_id").alias("_d2"),
                      F.col("token").alias("token2"))
    verified = (
        cand.join(ta, "doc1")
            .join(tb, (F.col("doc2") == F.col("_d2"))
                  & (F.col("token") == F.col("token2")))
            .groupBy("doc1", "doc2").agg(F.count("*").alias("common"))
    )
    # one aggregate shape for both sides, so a self-verify (tok_l is
    # tok_r) reuses the size exchange
    s1, s2 = (t.groupBy("doc_id").agg(F.count("*").alias("n"))
               .select(F.col("doc_id").alias(d), F.col("n").alias(n))
              for t, d, n in ((tok_l, "doc1", "n1"), (tok_r, "doc2", "n2")))
    jac = (F.col("common").cast("double")
           / (F.col("n1") + F.col("n2") - F.col("common")))
    return (
        verified.join(F.broadcast(s1), "doc1").join(F.broadcast(s2), "doc2")
                .filter(jac >= _MINHASH_JACCARD_TAU)
                .select("doc1", "doc2", F.round(jac, 6).alias("jaccard"))
    )


@op("dedup_incremental_minhash", oracle=f"""
WITH sh AS ({_DUCK_SHINGLES}),
mh AS (
    SELECT t.doc_id, g.i,
           min({_DUCK_H32.format(c="g.i || ':' || t.s")}) AS mh
    FROM sh t, generate_series(0, {_MINHASH_K - 1}) g(i)
    GROUP BY 1, 2
), bands AS (
    SELECT doc_id, i // {_MINHASH_K // _MINHASH_BANDS} AS band,
           string_agg(CAST(mh AS VARCHAR), ',' ORDER BY i) AS sig
    FROM mh GROUP BY 1, 2
), cand AS (   -- new batch probes the corpus index, never batch x batch
    SELECT DISTINCT n.doc_id AS new_doc, c.doc_id AS dup_of
    FROM bands n JOIN bands c
      ON n.band = c.band AND n.sig = c.sig
    WHERE n.doc_id % 4 = 3 AND c.doc_id % 4 <> 3
), sizes AS (
    SELECT doc_id, count(*) AS n FROM sh GROUP BY 1
), verified AS (
    SELECT c.new_doc, c.dup_of, count(*) AS common
    FROM cand c
    JOIN sh a ON a.doc_id = c.new_doc
    JOIN sh b ON b.doc_id = c.dup_of AND b.s = a.s
    GROUP BY 1, 2
)
SELECT v.new_doc, v.dup_of,
       round(CAST(v.common AS DOUBLE) / (s1.n + s2.n - v.common), 6)
           AS jaccard
FROM verified v
JOIN sizes s1 ON s1.doc_id = v.new_doc
JOIN sizes s2 ON s2.doc_id = v.dup_of
WHERE CAST(v.common AS DOUBLE) / (s1.n + s2.n - v.common) >= {_MINHASH_JACCARD_TAU}
""", tier=2, section="2.11")
def dedup_incremental_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental dedup — the shape a production crawl pipeline actually
    runs daily: dedup a NEW BATCH against the existing corpus, not the
    corpus against itself. Here the batch is the deterministic
    ``doc_id % 4 = 3`` slice (a stand-in for "today's arrivals"); its
    band signatures probe the corpus band index, exact Jaccard verifies
    the collisions, and the output is (new_doc, dup_of, jaccard >= 0.5)
    — the kill-list for the ingest step.

    The scale property this op exists to demonstrate: per-ingest cost is
    O(batch) signatures + an equi-join against the (persisted) corpus
    index — nothing rescans or re-pairs the historical corpus, and
    batch x batch self-dups are excluded by construction (they belong to
    the NEXT corpus build, where `dedup_near_minhash` covers them). In
    deployment the corpus `bands` frame is written once per index build
    (`sink_parquet_partitioned` by band) and only read here; this
    operator recomputes it inline because the test harness is stateless.
    """
    d = load(spark, sf_dir, "documents")
    tok = _shingles(d).withColumnRenamed("s", "token")
    bands = _minhash_bands(tok)
    is_new = F.col("doc_id") % 4 == 3
    newb = bands.filter(is_new).select(
        F.col("doc_id").alias("doc1"), "band", "sig")
    corp = bands.filter(~is_new).select(
        F.col("doc_id").alias("doc2"),
        F.col("band").alias("band2"), F.col("sig").alias("sig2"))
    cand = (
        newb.join(corp, (F.col("band") == F.col("band2"))
                  & (F.col("sig") == F.col("sig2")))
            .select("doc1", "doc2").distinct()
    )
    return _jaccard_verify(cand, tok, tok).select(
        F.col("doc1").alias("new_doc"), F.col("doc2").alias("dup_of"),
        "jaccard")


@op("dedup_cluster_cc", oracle=f"""
WITH RECURSIVE sh AS ({_DUCK_SHINGLES}), sizes AS (
    SELECT doc_id, count(*) AS n FROM sh GROUP BY 1
), common AS (
    SELECT a.doc_id AS doc1, b.doc_id AS doc2, count(*) AS c
    FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
    GROUP BY 1, 2
), pairs AS (
    SELECT doc1, doc2 FROM common
    JOIN sizes s1 ON s1.doc_id = doc1
    JOIN sizes s2 ON s2.doc_id = doc2
    WHERE CAST(c AS DOUBLE) / (s1.n + s2.n - c) >= 0.5
), edges AS (
    SELECT doc1 AS a, doc2 AS b FROM pairs
    UNION SELECT doc2, doc1 FROM pairs
), cc AS (   -- min-label propagation to fixpoint
    SELECT DISTINCT a AS node, a AS lbl FROM edges
    UNION
    SELECT e.b, cc.lbl FROM cc JOIN edges e
      ON cc.node = e.a AND cc.lbl < e.b
)
SELECT node AS doc_id, min(lbl) AS cluster_id FROM cc GROUP BY node
""", tier=3, section="2.11")
def dedup_cluster_cc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup CLUSTERS: connected components over the jaccard>=0.5 pair
    graph (``dedup_ngram_jaccard``), labeling every involved doc with its
    component's min doc_id — the form a dedup pipeline actually consumes
    (keep cluster_id, drop the rest).

    Labels come from ``cc.min_label_cc``: min-label propagation, each
    round one join + one min-aggregate over the (tiny) edge list, looping
    until a fixpoint (no label changed). Dup clusters are near-cliques,
    so it converges in ~2 rounds; a component of diameter > 10 raises
    (``dedup_cluster_cc_star`` resolves those). The DuckDB oracle
    reaches the same fixpoint by a genuinely different route — a
    recursive CTE.
    """
    pairs = dedup_ngram_jaccard(spark, sf_dir).select(
        F.col("doc1").alias("a"), F.col("doc2").alias("b"))
    return min_label_cc(pairs).select(F.col("node").alias("doc_id"),
                                      F.col("lbl").alias("cluster_id"))


@op("text_unigram_logprob", oracle="""
WITH tok AS (
    SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
), corpus AS (
    SELECT token, count(*) AS c FROM tok GROUP BY token
), total AS (SELECT count(*) AS n FROM tok)
SELECT t.doc_id,
       round(sum(ln(CAST(corpus.c AS DOUBLE) / total.n)), 6)
           AS logprob,
       count(*) AS n_tokens,
       round(sum(ln(CAST(corpus.c AS DOUBLE) / total.n)) / count(*), 6)
           AS avg_token_logprob
FROM tok t JOIN corpus USING (token) CROSS JOIN total
GROUP BY t.doc_id
""", tier=3, section="2.11")
def text_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram language-model score per document: Σ ln p(token), with
    p estimated from the corpus itself — the perplexity-style quality
    signal pretraining pipelines threshold on (gibberish scores far
    below fluent text).

    The LM "model" is the vocabulary-sized count table -> broadcast back
    onto the token stream; the total is a broadcast scalar. One shuffle
    (the per-doc sum); identical ln over identical doubles on both
    engines, rounded at the end.
    """
    d = load(spark, sf_dir, "documents")
    tok = _tokens(d)
    corpus = tok.groupBy("token").agg(F.count("*").alias("c"))
    total = tok.agg(F.count("*").alias("n"))
    lp = F.log(F.col("c").cast("double") / F.col("n"))
    return (
        tok.join(F.broadcast(corpus), "token")
           .crossJoin(F.broadcast(total))
           .groupBy("doc_id")
           .agg(F.round(F.sum(lp), 6).alias("logprob"),
                F.count("*").alias("n_tokens"),
                F.round(F.sum(lp) / F.count("*"), 6)
                 .alias("avg_token_logprob"))
    )


#: Email-shaped span (shared by the op, its oracle, and tests/test_pii.py).
_EMAIL_RE = r"[a-z0-9._-]+@[a-z0-9.-]+\.[a-z]+"
#: Phone-shaped span, boundary-anchored (round-4 ADVICE/VERDICT hardening:
#: the round-3 pattern ``\+?[0-9][0-9-]{4,}`` matched ANY >=5-digit run —
#: years, IDs, prices). A span now needs actual phone SHAPE: either an
#: international ``+`` prefix (digits/dashes, ending in a digit) or at
#: least THREE dash-separated groups of 1-4 digits. Plain digit runs
#: ("12345", "987654321"), years, and 2-group ranges ("10-20") no longer
#: scrub. Documented collision: ISO dates ("2024-01-15") share the
#: 3-group dashed shape and DO scrub — RE2 (the oracle engine) has no
#: lookahead to carve them out; a production scrubber whitelists date
#: shapes first.
_PHONE_RE = r"\+[0-9][0-9-]{4,}[0-9]|\b[0-9]{1,4}(?:-[0-9]{1,4}){2,}\b"


@op("text_pii_scrub", oracle=rf"""
WITH enriched AS (   -- plant deterministic PII-shaped spans (corpus has none)
    SELECT doc_id,
           text || ' contact user' || doc_id
                || '@example.com or +1-555-01' || doc_id % 100 AS raw
    FROM documents
)
SELECT doc_id,
       regexp_replace(
           regexp_replace(raw, '{_EMAIL_RE}', '<EMAIL>', 'g'),
           '{_PHONE_RE}', '<PHONE>', 'g') AS scrubbed,
       len(regexp_extract_all(raw, '{_EMAIL_RE}')) AS n_emails,
       len(regexp_extract_all(raw, '{_PHONE_RE}')) AS n_phones
FROM enriched
""", tier=2, section="2.11")
def text_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction — the compliance pass every pretraining corpus gets:
    replace email- and phone-shaped spans with placeholder tags and count
    what was found (the audit trail). The corpus itself is synthetic, so
    deterministic PII-shaped spans are planted first on BOTH engines,
    then scrubbed. The phone pattern is boundary-anchored (see
    ``_PHONE_RE``) so digit-heavy non-PII text — years, IDs, prices,
    numeric ranges — is NOT over-scrubbed (tests/test_pii.py pins an
    entity-count golden on a planted mixed fixture). Pure JVM regexp —
    narrow, shuffle-free, pushes through the scan at any scale."""
    d = load(spark, sf_dir, "documents")
    raw = F.concat(
        F.col("text"), F.lit(" contact user"), F.col("doc_id"),
        F.lit("@example.com or +1-555-01"), F.col("doc_id") % 100)
    return d.select(
        "doc_id",
        F.regexp_replace(
            F.regexp_replace(raw, _EMAIL_RE, "<EMAIL>"),
            _PHONE_RE, "<PHONE>").alias("scrubbed"),
        F.regexp_count(raw, F.lit(_EMAIL_RE)).cast("long").alias("n_emails"),
        F.regexp_count(raw, F.lit(_PHONE_RE)).cast("long").alias("n_phones"),
    )


@op("text_bigram_logprob", oracle="""
WITH bg AS (
    SELECT doc_id,
           unnest(list_transform(range(1, len(string_split(text, ' '))),
               i -> string_split(text, ' ')[i] || ' '
                 || string_split(text, ' ')[i+1])) AS bg
    FROM documents
), c2 AS (SELECT bg, count(*) AS c FROM bg GROUP BY 1),
c1 AS (SELECT string_split(bg, ' ')[1] AS w1, count(*) AS c
       FROM bg GROUP BY 1),
v AS (SELECT count(DISTINCT token) AS v FROM
      (SELECT unnest(string_split(text, ' ')) AS token FROM documents))
SELECT b.doc_id,
       round(sum(ln((c2.c + 1.0) / (c1.c + v.v))), 6) AS logprob,
       count(*) AS n_bigrams,
       round(sum(ln((c2.c + 1.0) / (c1.c + v.v))) / count(*), 6)
           AS avg_bigram_logprob
FROM bg b
JOIN c2 USING (bg)
JOIN c1 ON c1.w1 = string_split(b.bg, ' ')[1]
CROSS JOIN v
GROUP BY b.doc_id
""", tier=3, section="2.11")
def text_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Add-one-smoothed bigram language-model score per document:
    Σ ln P(w2|w1) with P = (c(w1,w2)+1)/(c(w1·)+V) — one rung up from
    ``text_unigram_logprob`` on the perplexity-based quality-filter
    ladder (a document whose own bigrams are corpus-improbable is
    boilerplate, scramble, or another language). All counts are corpus
    aggregates joined back onto the per-doc bigram stream — two hash
    aggregations plus a join keyed on the bigram itself, linear at any
    corpus size; the vocab-size denominator comes from a broadcast 1-row
    aggregate. Log inputs are exact integer ratios, so both engines take
    ln of bit-identical doubles; the per-doc sum rounds to 6 (Appendix A
    float discipline, same as the unigram op)."""
    d = load(spark, sf_dir, "documents")
    # split hoisted through a projection — same O(len²) fix as _shingles
    toks = d.select("doc_id", F.split("text", " ").alias("tk"))
    bg_arr = F.expr(
        "CASE WHEN size(tk) >= 2 THEN transform(sequence(0, size(tk) - 2), "
        "i -> concat_ws(' ', tk[i], tk[i+1])) "
        "ELSE cast(array() AS array<string>) END")
    bgs = toks.select("doc_id", F.explode(bg_arr).alias("bg"))
    c2 = bgs.groupBy("bg").agg(F.count("*").alias("c2"))
    c1 = (bgs.select(F.split("bg", " ").getItem(0).alias("w1"))
             .groupBy("w1").agg(F.count("*").alias("c1")))
    v = _tokens(d).agg(F.count_distinct("token").alias("v"))
    lp = F.log((F.col("c2") + F.lit(1.0)) / (F.col("c1") + F.col("v")))
    return (
        bgs.join(c2, "bg")
           .join(c1, F.split(F.col("bg"), " ").getItem(0) == F.col("w1"))
           .crossJoin(F.broadcast(v))
           .groupBy("doc_id")
           .agg(F.round(F.sum(lp), 6).alias("logprob"),
                F.count("*").alias("n_bigrams"),
                F.round(F.sum(lp) / F.count("*"), 6)
                 .alias("avg_bigram_logprob"))
    )


@op("text_cooccurrence", oracle="""
WITH tok AS (
    SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS t
    FROM documents
), pairs AS (
    SELECT a.t AS t1, b.t AS t2, count(*) AS n_docs
    FROM tok a JOIN tok b ON a.doc_id = b.doc_id AND a.t < b.t
    GROUP BY 1, 2
)
SELECT t1, t2, n_docs, rnk FROM (
    SELECT *, row_number() OVER (ORDER BY n_docs DESC, t1, t2) AS rnk
    FROM pairs
) WHERE rnk <= 50
""", tier=3, section="2.11")
def text_cooccurrence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-50 token co-occurrence pairs (documents sharing both tokens) —
    the raw material of PMI collocation scores and co-occurrence
    embeddings. Tokens are doc-deduped FIRST, so the per-doc pair
    fan-out is (distinct tokens)² over a small analytics vocabulary, not
    (token occurrences)²; the pair aggregation gets map-side partials
    and the top-k is a tiny ordered head."""
    d = load(spark, sf_dir, "documents")
    tok = _tokens(d).distinct()
    a = tok.select("doc_id", F.col("token").alias("t1"))
    b = tok.select(F.col("doc_id").alias("doc2"),
                   F.col("token").alias("t2"))
    pairs = (
        a.join(b, (F.col("doc_id") == F.col("doc2"))
               & (F.col("t1") < F.col("t2")))
         .groupBy("t1", "t2").agg(F.count("*").alias("n_docs"))
    )
    w = Window.orderBy(F.col("n_docs").desc(), "t1", "t2")
    return (pairs.withColumn("rnk", F.row_number().over(w))
                 .filter("rnk <= 50"))


@op("text_pmi_collocations", oracle="""
WITH tok AS (
    SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS t
    FROM documents
), n AS (SELECT count(DISTINCT doc_id) AS n_docs FROM tok),
df AS (SELECT t, count(*) AS df FROM tok GROUP BY t),
pairs AS (
    SELECT a.t AS t1, b.t AS t2, count(*) AS n_both
    FROM tok a JOIN tok b ON a.doc_id = b.doc_id AND a.t < b.t
    GROUP BY 1, 2
)
SELECT t1, t2, n_both, pmi, rnk FROM (
    SELECT t1, t2, n_both,
           round(ln((CAST(n_both AS DOUBLE) * n.n_docs)
                    / (CAST(d1.df AS DOUBLE) * d2.df)), 6) AS pmi,
           row_number() OVER (
               ORDER BY ln((CAST(n_both AS DOUBLE) * n.n_docs)
                           / (CAST(d1.df AS DOUBLE) * d2.df)) DESC,
                        t1, t2) AS rnk
    FROM pairs
    JOIN df d1 ON d1.t = t1
    JOIN df d2 ON d2.t = t2
    CROSS JOIN n
    WHERE n_both >= 5
) WHERE rnk <= 50
""", tier=3, section="2.11")
def text_pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pointwise mutual information collocations: token pairs that
    co-occur in documents more than their independent frequencies
    predict — top-50 by PMI = ln(P(a,b)/P(a)P(b)) at support >= 5, the
    statistical phrase detector behind multi-word tokenizer entries.
    (This uniform synthetic corpus has near-zero PMI everywhere; ranking
    rather than thresholding keeps the op's output meaningful.)
    Doc-frequency table and the scalar doc count are broadcast back onto
    the pair counts; identical ln on identical ratios both engines."""
    d = load(spark, sf_dir, "documents")
    tok = _tokens(d).distinct()
    n_docs = tok.agg(F.countDistinct("doc_id").alias("n_docs"))
    df = tok.groupBy(F.col("token").alias("t")).agg(F.count("*").alias("df"))
    a = tok.select("doc_id", F.col("token").alias("t1"))
    b = tok.select(F.col("doc_id").alias("doc2"), F.col("token").alias("t2"))
    pairs = (
        a.join(b, (F.col("doc_id") == F.col("doc2"))
               & (F.col("t1") < F.col("t2")))
         .groupBy("t1", "t2").agg(F.count("*").alias("n_both"))
    )
    d1 = df.select(F.col("t").alias("t1"), F.col("df").alias("df1"))
    d2 = df.select(F.col("t").alias("t2"), F.col("df").alias("df2"))
    pmi = F.log((F.col("n_both").cast("double") * F.col("n_docs"))
                / (F.col("df1").cast("double") * F.col("df2")))
    w = Window.orderBy(F.col("_pmi").desc(), "t1", "t2")
    return (
        pairs.join(F.broadcast(d1), "t1").join(F.broadcast(d2), "t2")
             .crossJoin(F.broadcast(n_docs))
             .filter(F.col("n_both") >= 5)
             .withColumn("_pmi", pmi)
             .withColumn("rnk", F.row_number().over(w))
             .filter("rnk <= 50")
             .select("t1", "t2", "n_both",
                     F.round("_pmi", 6).alias("pmi"), "rnk")
    )


@op("dedup_select_representative", oracle=f"""
WITH RECURSIVE sh AS ({_DUCK_SHINGLES}), sizes AS (
    SELECT doc_id, count(*) AS n FROM sh GROUP BY 1
), common AS (
    SELECT a.doc_id AS doc1, b.doc_id AS doc2, count(*) AS c
    FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
    GROUP BY 1, 2
), pairs AS (
    SELECT doc1, doc2 FROM common
    JOIN sizes s1 ON s1.doc_id = doc1
    JOIN sizes s2 ON s2.doc_id = doc2
    WHERE CAST(c AS DOUBLE) / (s1.n + s2.n - c) >= 0.5
), edges AS (
    SELECT doc1 AS a, doc2 AS b FROM pairs
    UNION SELECT doc2, doc1 FROM pairs
), cc AS (
    SELECT DISTINCT a AS node, a AS lbl FROM edges
    UNION
    SELECT e.b, cc.lbl FROM cc JOIN edges e
      ON cc.node = e.a AND cc.lbl < e.b
), clusters AS (
    SELECT node AS doc_id, min(lbl) AS cluster_id FROM cc GROUP BY node
), labeled AS (   -- singletons form their own cluster
    SELECT d.doc_id, d.n_chars,
           coalesce(c.cluster_id, d.doc_id) AS cluster_id
    FROM documents d LEFT JOIN clusters c USING (doc_id)
)
SELECT doc_id, cluster_id, n_chars,
       CAST(rnk = 1 AS INT) AS keep,
       cluster_size
FROM (
    SELECT *, row_number() OVER (
               PARTITION BY cluster_id
               ORDER BY n_chars DESC, doc_id) AS rnk,
           count(*) OVER (PARTITION BY cluster_id) AS cluster_size
    FROM labeled
)
""", tier=3, section="2.11")
def dedup_select_representative(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup pipeline's FINAL answer: every document labeled with its
    near-dup cluster (connected components; untouched docs are singleton
    clusters) and a keep/drop verdict — keep the longest doc per cluster
    (ties to min doc_id). This is the row a corpus-curation job writes
    back out; composing `dedup_cluster_cc`'s labels with the corpus is
    one broadcast join (the cluster table is pairs-sized, tiny) plus a
    per-cluster argmax window."""
    clusters = dedup_cluster_cc(spark, sf_dir)
    d = load(spark, sf_dir, "documents").select("doc_id", "n_chars")
    labeled = d.join(F.broadcast(clusters), "doc_id", "left").select(
        "doc_id", "n_chars",
        F.coalesce("cluster_id", "doc_id").alias("cluster_id"),
    )
    w = Window.partitionBy("cluster_id").orderBy(
        F.col("n_chars").desc(), "doc_id")
    wc = Window.partitionBy("cluster_id")
    return labeled.select(
        "doc_id", "cluster_id", "n_chars",
        (F.row_number().over(w) == 1).cast("int").alias("keep"),
        F.count("*").over(wc).alias("cluster_size"),
    )


@op("text_source_similarity", oracle="""
WITH vocab AS (
    SELECT DISTINCT source, unnest(string_split(text, ' ')) AS t
    FROM documents
), sizes AS (
    SELECT source, count(*) AS n FROM vocab GROUP BY 1
), common AS (
    SELECT a.source AS src1, b.source AS src2, count(*) AS c
    FROM vocab a JOIN vocab b ON a.t = b.t AND a.source < b.source
    GROUP BY 1, 2
)
SELECT src1, src2,
       round(CAST(c AS DOUBLE) / (s1.n + s2.n - c), 6) AS vocab_jaccard,
       c AS shared_tokens
FROM common
JOIN sizes s1 ON s1.source = src1
JOIN sizes s2 ON s2.source = src2
""", tier=3, section="2.11")
def text_source_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source-pair vocabulary Jaccard: how much do two sources' token
    sets overlap — the corpus-curation view that finds mirror sites and
    template farms at the SOURCE level before any per-document work.
    Same inverted-index join discipline as the document dedup ops, but
    the join key space is (vocab x sources): tiny, and the output is
    source-pairs (190 rows at 20 sources) however big the corpus."""
    d = load(spark, sf_dir, "documents")
    vocab = d.select(
        "source", F.explode(F.split("text", " ")).alias("t")).distinct()
    sizes = vocab.groupBy("source").agg(F.count("*").alias("n"))
    a = vocab.select(F.col("source").alias("src1"), "t")
    b = vocab.select(F.col("source").alias("src2"),
                     F.col("t").alias("t2"))
    common = (
        a.join(b, (F.col("t") == F.col("t2"))
               & (F.col("src1") < F.col("src2")))
         .groupBy("src1", "src2").agg(F.count("*").alias("c"))
    )
    s1 = sizes.select(F.col("source").alias("src1"), F.col("n").alias("n1"))
    s2 = sizes.select(F.col("source").alias("src2"), F.col("n").alias("n2"))
    jac = (F.col("c").cast("double")
           / (F.col("n1") + F.col("n2") - F.col("c")))
    return (
        common.join(F.broadcast(s1), "src1").join(F.broadcast(s2), "src2")
              .select("src1", "src2", F.round(jac, 6).alias("vocab_jaccard"),
                      F.col("c").alias("shared_tokens"))
    )


@op("text_vocab_growth", oracle="""
WITH firsts AS (   -- each token's first appearance in doc_id order
    SELECT min(doc_id) AS first_doc
    FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS t
          FROM documents)
    GROUP BY t
), new_per_doc AS (
    SELECT first_doc AS doc_id, count(*) AS new_tokens FROM firsts GROUP BY 1
), tokens_per_doc AS (
    SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
    FROM documents
)
SELECT t.doc_id,
       CAST(sum(t.n_tokens) OVER w AS BIGINT) AS corpus_tokens,
       CAST(sum(coalesce(n.new_tokens, 0)) OVER w AS BIGINT) AS vocab_size
FROM tokens_per_doc t LEFT JOIN new_per_doc n USING (doc_id)
WINDOW w AS (ORDER BY t.doc_id ROWS UNBOUNDED PRECEDING)
""", tier=3, section="2.11")
def text_vocab_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary-growth curve (Heaps' law points): after ingesting docs
    0..d, how many tokens seen vs distinct tokens known. A running
    count-distinct is not window-able — the first-occurrence
    decomposition is: each token charges +1 to the doc where it FIRST
    appears (one aggregation), and a cumulative sum over doc order
    rebuilds the curve. The curve drives dedup/quality decisions (a
    flattening vocab signals template spam)."""
    d = load(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(F.split("text", " ")).alias("t"))
    firsts = tok.groupBy("t").agg(F.min("doc_id").alias("doc_id"))
    new_per_doc = firsts.groupBy("doc_id").agg(
        F.count("*").alias("new_tokens"))
    tokens_per_doc = d.select(
        "doc_id", F.size(F.split("text", " ")).cast("long").alias("n_tokens"))
    joined = tokens_per_doc.join(new_per_doc, "doc_id", "left")
    # Two-phase running sums (round 5): the curve is doc-cardinality, so
    # an unpartitioned cumulative window would funnel every document
    # through one partition. Per-1000-doc bucket sums -> offset merge ->
    # bounded within-bucket cumsum, both measures in one pass.
    b = F.floor(F.col("doc_id") / 1000).cast("long")
    tagged = joined.select(
        "doc_id", "n_tokens",
        F.coalesce("new_tokens", F.lit(0)).alias("nt"),
        b.alias("__b"))
    sums = tagged.groupBy("__b").agg(F.sum("n_tokens").alias("__s1"),
                                     F.sum("nt").alias("__s2"))
    wo = Window.orderBy("__b")  # bucket-count table, not doc rows
    offsets = sums.select(
        "__b", (F.sum("__s1").over(wo) - F.col("__s1")).alias("__o1"),
        (F.sum("__s2").over(wo) - F.col("__s2")).alias("__o2"))
    wc = Window.partitionBy("__b").orderBy("doc_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow)
    return (tagged.join(F.broadcast(offsets), "__b")
                  .select("doc_id",
                          (F.sum("n_tokens").over(wc) + F.col("__o1"))
                          .alias("corpus_tokens"),
                          (F.sum("nt").over(wc) + F.col("__o2"))
                          .alias("vocab_size")))


@op("text_zipf_fit", oracle="""
WITH freq AS (
    SELECT token, count(*) AS f
    FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents)
    GROUP BY token
), ranked AS (
    SELECT f, row_number() OVER (ORDER BY f DESC, token) AS rank
    FROM freq
)
SELECT round(regr_slope(ln(CAST(f AS DOUBLE)), ln(CAST(rank AS DOUBLE))), 6)
           AS zipf_slope,
       round(regr_r2(ln(CAST(f AS DOUBLE)), ln(CAST(rank AS DOUBLE))), 6)
           AS r2,
       CAST(count(*) AS BIGINT) AS vocab_size
FROM ranked
""", tier=3, section="2.11")
def text_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf's-law fit: OLS slope of ln(frequency) on ln(rank) over the
    token frequency table (natural corpora fit slope ≈ −1; synthetic or
    templated text deviates — a one-number corpus-health check). The
    regression runs on the vocabulary-sized rank table via the built-in
    regr_* aggregates; identical ln inputs → the closed-form moments
    agree to rounding on both engines."""
    d = load(spark, sf_dir, "documents")
    freq = (d.select(F.explode(F.split("text", " ")).alias("token"))
             .groupBy("token").agg(F.count("*").alias("f")))
    w = Window.orderBy(F.col("f").desc(), "token")
    ranked = freq.withColumn("rank", F.row_number().over(w))
    lf = F.log(F.col("f").cast("double"))
    lr = F.log(F.col("rank").cast("double"))
    return ranked.agg(
        F.round(F.regr_slope(lf, lr), 6).alias("zipf_slope"),
        F.round(F.regr_r2(lf, lr), 6).alias("r2"),
        F.count("*").cast("long").alias("vocab_size"),
    )


@op("dedup_bag_of_words", oracle="""
SELECT md5(array_to_string(list_sort(string_split(text, ' ')), ' '))
           AS bow_hash,
       min(doc_id) AS keep_doc_id,
       count(*) AS n_docs
FROM documents
GROUP BY 1
""", tier=2, section="2.11")
def dedup_bag_of_words(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-insensitive exact dedup: hash the SORTED token multiset, so
    documents that shuffle the same words (template spam with reordered
    fields) collapse to one group — the middle ground between byte-exact
    ``dedup_exact_text`` and fuzzy shingle dedup. Emits every group
    (n_docs > 1 marks the collapsible ones; this synthetic corpus has
    none, exactly like its exact-dup twin at this sf)."""
    d = load(spark, sf_dir, "documents")
    bow = F.md5(F.array_join(F.array_sort(F.split("text", " ")), " "))
    return (
        d.groupBy(bow.alias("bow_hash"))
         .agg(F.min("doc_id").alias("keep_doc_id"),
              F.count("*").alias("n_docs"))
    )


@op("text_bigram_freq", oracle="""
WITH toks AS (
    SELECT doc_id, string_split(text, ' ') AS ts FROM documents
), bigrams AS (
    SELECT unnest(list_transform(range(1, len(ts)),
                  i -> ts[i] || ' ' || ts[i+1])) AS bigram
    FROM toks
)
SELECT bigram, n, rnk FROM (
    SELECT bigram, count(*) AS n,
           row_number() OVER (ORDER BY count(*) DESC, bigram) AS rnk
    FROM bigrams GROUP BY bigram
) WHERE rnk <= 30
""", tier=2, section="2.11")
def text_bigram_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-30 bigram frequencies — the next-token statistics layer above
    unigram ``text_word_freq`` (phrase tables, next-word priors).
    Adjacent-pair construction via a transform over the token array
    (JVM-side, no self-join), then the usual count + top-k."""
    d = load(spark, sf_dir, "documents")
    # split hoisted through a projection — same O(len²) fix as _shingles
    bigrams = (d.select(F.split("text", " ").alias("tk"))
                .select(F.explode(F.expr(
                    "transform(sequence(0, size(tk) - 2), "
                    "i -> concat_ws(' ', tk[i], tk[i+1]))")).alias("bigram")))
    counts = bigrams.groupBy("bigram").agg(F.count("*").alias("n"))
    w = Window.orderBy(F.col("n").desc(), "bigram")
    return counts.withColumn("rnk", F.row_number().over(w)).filter("rnk <= 30")


@op("text_repetition_ratio", oracle="""
SELECT doc_id,
       CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
       CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT)
           AS n_distinct,
       round(1.0 - CAST(len(list_distinct(string_split(text, ' ')))
                        AS DOUBLE)
             / len(string_split(text, ' ')), 6) AS repetition_ratio
FROM documents
""", tier=2, section="2.11")
def text_repetition_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-document repetition: 1 − distinct/total tokens — the
    cheapest template/spam signal (boilerplate repeats, prose doesn't).
    Pure array kernels per row, no shuffle; the type-token ratio quality
    filters threshold on."""
    d = load(spark, sf_dir, "documents")
    ts = F.split("text", " ")
    return d.select(
        "doc_id",
        F.size(ts).cast("long").alias("n_tokens"),
        F.size(F.array_distinct(ts)).cast("long").alias("n_distinct"),
        F.round(1.0 - F.size(F.array_distinct(ts)).cast("double")
                / F.size(ts), 6).alias("repetition_ratio"),
    )


@op("text_stopword_density", oracle="""
WITH tok AS (
    SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents
), stops AS (   -- self-trained stopword list: the corpus's top-10 tokens
    SELECT t FROM (
        SELECT t, row_number() OVER (ORDER BY count(*) DESC, t) AS rnk
        FROM tok GROUP BY t
    ) WHERE rnk <= 10
)
SELECT tok.doc_id,
       count(*) AS n_tokens,
       count(stops.t) AS n_stop,
       round(CAST(count(stops.t) AS DOUBLE) / count(*), 6)
           AS stopword_density
FROM tok LEFT JOIN stops ON tok.t = stops.t
GROUP BY tok.doc_id
""", tier=2, section="2.11")
def text_stopword_density(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword density per document, with the stopword list TRAINED from
    the corpus itself (top-10 tokens) — the language-agnostic form of the
    classic fluency filter: natural text carries a stable function-word
    share, keyword-stuffed or tabular text doesn't. Stoplist is 10 rows
    -> broadcast; one aggregation over the exploded tokens."""
    d = load(spark, sf_dir, "documents")
    tok = _tokens(d)
    w = Window.orderBy(F.col("n").desc(), "token")
    stops = (tok.groupBy("token").agg(F.count("*").alias("n"))
                .withColumn("rnk", F.row_number().over(w))
                .filter("rnk <= 10")
                .select(F.col("token").alias("stop_t")))
    joined = tok.join(F.broadcast(stops),
                      tok.token == F.col("stop_t"), "left")
    return joined.groupBy("doc_id").agg(
        F.count("*").alias("n_tokens"),
        F.count("stop_t").alias("n_stop"),
        F.round(F.count("stop_t").cast("double") / F.count("*"), 6)
         .alias("stopword_density"),
    )


@op("text_hapax_ratio", oracle="""
WITH freq AS (
    SELECT token, count(*) AS f
    FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents)
    GROUP BY token
)
SELECT CAST(count(*) AS BIGINT) AS vocab_size,
       CAST(count_if(f = 1) AS BIGINT) AS hapax_count,
       round(CAST(count_if(f = 1) AS DOUBLE) / count(*), 6)
           AS hapax_ratio,
       CAST(count_if(f >= 100) AS BIGINT) AS core_vocab
FROM freq
""", tier=3, section="2.11")
def text_hapax_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hapax legomena share: fraction of vocabulary appearing exactly
    once (natural corpora: ~40-60%; templated/synthetic text collapses
    toward 0 — this corpus's small fixed vocabulary shows exactly that) —
    plus the >=100-occurrence core-vocabulary count. One aggregation over
    the frequency table."""
    d = load(spark, sf_dir, "documents")
    freq = (d.select(F.explode(F.split("text", " ")).alias("token"))
             .groupBy("token").agg(F.count("*").alias("f")))
    return freq.agg(
        F.count("*").cast("long").alias("vocab_size"),
        F.count_if(F.col("f") == 1).alias("hapax_count"),
        F.round(F.count_if(F.col("f") == 1).cast("double")
                / F.count("*"), 6).alias("hapax_ratio"),
        F.count_if(F.col("f") >= 100).alias("core_vocab"),
    )


@op("text_char_entropy", oracle="""
WITH chars AS (
    SELECT doc_id, unnest(string_split(text, '')) AS ch FROM documents
), dist AS (
    SELECT doc_id, ch, count(*) AS c,
           sum(count(*)) OVER (PARTITION BY doc_id) AS n
    FROM chars GROUP BY doc_id, ch
)
SELECT doc_id,
       round(-sum((CAST(c AS DOUBLE) / n) * ln(CAST(c AS DOUBLE) / n)), 6)
           AS char_entropy,
       count(*) AS n_distinct_chars
FROM dist GROUP BY doc_id
""", tier=3, section="2.11")
def text_char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-level Shannon entropy per document — the classic
    gibberish/encoding-garbage detector (natural text ~4.0-4.5 bits-nat
    band; base64 blobs and key-mash run higher, repeated filler lower).
    Complements the token-level ``agg_entropy``: chars catch what a
    whitespace tokenizer can't see. One explode + two keyed
    aggregations."""
    d = load(spark, sf_dir, "documents")
    chars = d.select("doc_id", F.explode(F.split("text", "")).alias("ch"))
    dist = chars.groupBy("doc_id", "ch").agg(F.count("*").alias("c"))
    w = Window.partitionBy("doc_id")
    dist = dist.withColumn("n", F.sum("c").over(w))
    p = F.col("c").cast("double") / F.col("n")
    return dist.groupBy("doc_id").agg(
        F.round(-F.sum(p * F.log(p)), 6).alias("char_entropy"),
        F.count("*").alias("n_distinct_chars"),
    )


@op("text_line_dedup", oracle="""
WITH lines AS (
    SELECT doc_id, unnest(string_split(text, '. ')) AS line
    FROM documents
), tagged AS (
    SELECT doc_id, line,
           count(*) OVER (PARTITION BY md5(trim(line))) AS n_copies
    FROM lines WHERE length(trim(line)) > 0
)
SELECT doc_id,
       count(*) AS n_lines,
       CAST(count_if(n_copies > 1) AS BIGINT) AS n_dup_lines,
       round(CAST(count_if(n_copies = 1) AS DOUBLE) / count(*), 6)
           AS unique_line_frac
FROM tagged GROUP BY doc_id
""", tier=2, section="2.11")
def text_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide line-level duplication audit (the C4/RefinedWeb
    cleaning signal): explode each document into sentence-lines, count
    how often each normalized line occurs ACROSS the whole corpus, and
    score every document by its duplicated-line share — boilerplate
    (nav bars, license headers) lights up as n_copies > 1. Explode ->
    line-hash counts -> co-partitioned join back -> per-doc reaggregate;
    the line-hash key space is what shuffles, never the documents.
    (Round 5: the per-hash COUNT is a groupBy + equi-join rather than an
    unordered window over the line stream — an unordered window still
    buffers each partition, and a hot boilerplate line is exactly the
    corpus-fraction partition the window would buffer.)"""
    d = load(spark, sf_dir, "documents")
    lines = d.select(
        "doc_id", F.explode(F.split("text", r"\. ")).alias("line"))
    lines = lines.filter(F.length(F.trim("line")) > 0)
    keyed = lines.select("doc_id", F.md5(F.trim("line")).alias("__k"))
    counts = keyed.groupBy("__k").agg(F.count("*").alias("n_copies"))
    tagged = keyed.join(counts, "__k").select("doc_id", "n_copies")
    return tagged.groupBy("doc_id").agg(
        F.count("*").alias("n_lines"),
        F.count_if(F.col("n_copies") > 1).alias("n_dup_lines"),
        F.round(F.count_if(F.col("n_copies") == 1).cast("double")
                / F.count("*"), 6).alias("unique_line_frac"),
    )


@op("text_remove_boilerplate", oracle="""
WITH lines AS (
    SELECT doc_id, unnest(string_split(text, '. ')) AS line,
           generate_subscripts(string_split(text, '. '), 1) AS pos
    FROM documents
), nd AS (SELECT count(*) AS n_docs FROM documents),
hot AS (
    SELECT l FROM (
        SELECT trim(line) AS l, count(DISTINCT doc_id) AS df
        FROM lines WHERE length(trim(line)) > 0 GROUP BY 1
    ) CROSS JOIN nd
    WHERE df > greatest(2, CAST(ceil(0.005 * n_docs) AS BIGINT))
), kept AS (
    SELECT doc_id, pos, line FROM lines
    WHERE trim(line) NOT IN (SELECT l FROM hot)
), agg AS (
    SELECT doc_id, count(*) AS n_kept,
           string_agg(line, '. ' ORDER BY pos) AS cleaned
    FROM kept GROUP BY doc_id
), tot AS (SELECT doc_id, count(*) AS n_lines FROM lines GROUP BY doc_id)
SELECT t.doc_id, t.n_lines,
       CAST(t.n_lines - coalesce(a.n_kept, 0) AS BIGINT) AS n_removed,
       CAST(length(coalesce(a.cleaned, '')) AS BIGINT) AS cleaned_n_chars,
       md5(coalesce(a.cleaned, '')) AS cleaned_md5
FROM tot t LEFT JOIN agg a ON a.doc_id = t.doc_id
""", tier=3, section="2.11")
def text_remove_boilerplate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level boilerplate REMOVAL — where ``text_line_dedup``
    audits duplicated lines, this op returns the CLEANED corpus (the
    C4-style filter a training pipeline actually applies): sentence
    lines present in more than max(2, 0.5%·n_docs) distinct documents
    are template boilerplate and are dropped from every document;
    survivors reassemble in original order, fingerprinted so the
    rewrite is value-checked end to end (split -> corpus df -> anti-join
    -> ordered reassembly). Implementation is the public
    ``api.strip_boilerplate_lines`` (shingle-cap discipline: the
    hot-line set is tiny by construction and broadcast — no collect).
    On this corpus no line crosses the cap (measured: every sentence is
    doc-unique), so removal is provably inert here — the REMOVING path
    is pinned on an adversarial shared-footer fixture in
    tests/test_api.py, the same treatment as the shingle cap."""
    out = strip_boilerplate_lines(load(spark, sf_dir, "documents"),
                                  "doc_id", "text")
    return out.select(
        "doc_id", "n_lines", "n_removed",
        F.length("cleaned").cast("long").alias("cleaned_n_chars"),
        F.md5("cleaned").alias("cleaned_md5"))


@op("dedup_simhash_pairs", oracle=f"""
WITH tok AS (
    SELECT doc_id, token, count(*) AS w,
           {_DUCK_H32.format(c='token')} AS h
    FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS token
          FROM documents)
    GROUP BY 1, 2
), bits AS (
    SELECT t.doc_id, g.b,
           sum(CASE WHEN (t.h >> g.b) & 1 = 1 THEN t.w ELSE -t.w END) AS s
    FROM tok t, generate_series(0, 31) g(b)
    GROUP BY 1, 2
), sig AS (
    SELECT doc_id,
           CAST(sum(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << b) ELSE 0 END)
                AS BIGINT) AS simhash
    FROM bits GROUP BY doc_id
), bands AS (   -- 4 x 8-bit bands: hamming<=3 pairs must agree on >=1 band
    SELECT doc_id, simhash, g.b AS band,
           (simhash >> (g.b * 8)) & 255 AS bandval
    FROM sig, generate_series(0, 3) g(b)
), cand AS (
    SELECT DISTINCT a.doc_id AS doc1, b2.doc_id AS doc2,
           a.simhash AS s1, b2.simhash AS s2
    FROM bands a JOIN bands b2
      ON a.band = b2.band AND a.bandval = b2.bandval
     AND a.doc_id < b2.doc_id
)
SELECT doc1, doc2, CAST(bit_count(xor(s1, s2)) AS INT) AS hamming
FROM cand WHERE bit_count(xor(s1, s2)) <= 3
""", tier=3, section="2.11")
def dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup PAIRS from the SimHash index: band each 32-bit signature
    into four 8-bit bands, bucket-join on (band, value) — by pigeonhole
    any pair within Hamming distance 3 agrees on at least one full band,
    so the candidate set provably contains every such pair without an
    all-pairs scan — then verify with bit_count(s1 XOR s2) <= 3. This
    closes the simhash path from signatures (``dedup_simhash``) to
    usable duplicate pairs, the same band-then-verify discipline as the
    MinHash pipeline; candidates shuffle on the band value, never the
    corpus on itself."""
    sig = dedup_simhash(spark, sf_dir)
    bands = sig.select(
        "doc_id", "simhash",
        F.explode(F.sequence(F.lit(0), F.lit(3))).alias("band"),
    ).withColumn("bandval",
                 F.expr("(simhash >> (band * 8)) & 255"))
    a = bands.select(F.col("doc_id").alias("doc1"),
                     F.col("simhash").alias("s1"), "band", "bandval")
    b = bands.select(F.col("doc_id").alias("doc2"),
                     F.col("simhash").alias("s2"),
                     F.col("band").alias("band2"),
                     F.col("bandval").alias("bandval2"))
    cand = (a.join(b, (F.col("band") == F.col("band2"))
                   & (F.col("bandval") == F.col("bandval2"))
                   & (F.col("doc1") < F.col("doc2")))
             .select("doc1", "doc2", "s1", "s2").distinct())
    hamming = F.bit_count(F.expr("s1 ^ s2")).cast("int")
    return (cand.withColumn("hamming", hamming)
                .filter(F.col("hamming") <= 3)
                .select("doc1", "doc2", "hamming"))


# --------------------------------------------------------------------------
# Benchmark decontamination (round 4, SURVEY.md §2.14)
# --------------------------------------------------------------------------

#: Deterministic pseudo-benchmark: every 97th doc_id plays the role of a
#: held-out eval set. In production this side is the ACTUAL benchmark
#: suite — thousands of documents, always minuscule next to the corpus.
_DECONTAM_EVAL_MOD = 97

#: A training doc sharing at least this many distinct (capped) 3-gram
#: shingles with the eval set is flagged contaminated. One shared 3-gram
#: is noise ("the united states"); five shared phrases is leakage.
_DECONTAM_MIN_SHARED = 5


@op("text_decontaminate", oracle=f"""
WITH sh AS ({_DUCK_SHINGLES}),
ev AS (SELECT doc_id AS eval_id, s FROM sh
       WHERE doc_id % {_DECONTAM_EVAL_MOD} = 0),
tr AS (SELECT doc_id, s FROM sh
       WHERE doc_id % {_DECONTAM_EVAL_MOD} <> 0)
SELECT tr.doc_id,
       count(DISTINCT tr.s) AS n_shared,
       count(DISTINCT ev.eval_id) AS n_eval_docs,
       CASE WHEN count(DISTINCT tr.s) >= {_DECONTAM_MIN_SHARED}
            THEN 1 ELSE 0 END AS contaminated
FROM tr JOIN ev ON tr.s = ev.s
GROUP BY tr.doc_id
""", tier=2, section="2.11")
def text_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination — the training-corpus hygiene step every
    LLM data pipeline runs before the tokenizer: flag training documents
    whose text overlaps a held-out evaluation set (here the deterministic
    doc_id % 97 == 0 slice stands in for the benchmark suite), by counting
    distinct 3-gram shingles shared with any eval document (the published
    n-gram-collision recipe, e.g. GPT-2/GPT-3 appendix decontamination).

    Scale shape: the eval side is small BY DEFINITION (a benchmark is
    thousands of docs; the corpus is billions), so its shingle inverted
    index is BROADCAST and the probe is a build-right hash join — the
    corpus never shuffles on the shingle key to meet the eval set
    (plan-pinned); the only corpus shuffles are the shared shingle
    stream's own distinct/df-cap aggregations, the same cost every
    dedup op in this family already pays, plus the final per-doc count
    on doc_id. The high-df cap applies first, so boilerplate n-grams
    neither flag false contamination nor fan out the probe join. Output: every training doc
    with >= 1 shared shingle, its shared-shingle and eval-doc-hit counts,
    and the contaminated flag at the >= 5-shingle threshold."""
    d = load(spark, sf_dir, "documents")
    sh = _shingles(d)
    ev = sh.filter(F.col("doc_id") % _DECONTAM_EVAL_MOD == 0) \
           .select(F.col("doc_id").alias("eval_id"), "s")
    tr = sh.filter(F.col("doc_id") % _DECONTAM_EVAL_MOD != 0)
    return (
        tr.join(F.broadcast(ev), "s")
          .groupBy("doc_id")
          .agg(F.count_distinct("s").alias("n_shared"),
               F.count_distinct("eval_id").alias("n_eval_docs"))
          .select("doc_id", "n_shared", "n_eval_docs",
                  (F.col("n_shared") >= _DECONTAM_MIN_SHARED)
                  .cast("int").alias("contaminated"))
    )


# ==========================================================================
# Sequence packing (round 4) — the step between curation and the trainer:
# concatenate documents into fixed token-budget training sequences.
# ==========================================================================

_PACK_BUDGET = 512  # whitespace tokens per training sequence
_PACK_SHARDS = 4    # packing shards per language (parallelism knob)


def _pack_pdf(pdf):
    """Next-fit packing of one (lang, shard) group, docs in doc_id order."""
    pdf = pdf.sort_values("doc_id")
    pack, cum = 0, 0
    packs = []
    for t in pdf["n_tok"]:
        if cum > 0 and cum + t > _PACK_BUDGET:
            pack, cum = pack + 1, 0
        cum += t
        packs.append(pack)
    out = pdf[["lang", "shard", "doc_id", "n_tok"]].copy()
    out["pack_id"] = packs
    return out


@op("doc_pack_nextfit", oracle=f"""
WITH RECURSIVE docs AS (
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
    FROM documents
), r AS (         -- walk each shard once: (pack, cum) carried forward
    SELECT lang, shard, doc_id, n_tok, rn,
           CAST(0 AS BIGINT) AS pack_id, n_tok AS cum
    FROM docs WHERE rn = 1
    UNION ALL
    SELECT d.lang, d.shard, d.doc_id, d.n_tok, d.rn,
           CASE WHEN r.cum + d.n_tok > {_PACK_BUDGET}
                THEN r.pack_id + 1 ELSE r.pack_id END,
           CASE WHEN r.cum + d.n_tok > {_PACK_BUDGET}
                THEN d.n_tok ELSE r.cum + d.n_tok END
    FROM r JOIN docs d ON d.lang = r.lang AND d.shard = r.shard
                      AND d.rn = r.rn + 1
)
SELECT lang, shard, pack_id,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_tok) AS BIGINT) AS tok_sum,
       round(CAST(sum(n_tok) AS DOUBLE) / {_PACK_BUDGET}, 6) AS fill
FROM r GROUP BY 1, 2, 3
""", tier=3, section="2.11")
def doc_pack_nextfit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing: concatenate documents into fixed-budget (512
    whitespace-token) training sequences by the NEXT-FIT rule — walk the
    docs of a (lang, shard) group in doc_id order, close the current
    pack when the next doc would overflow it. Packing is what turns a
    curated corpus into trainer input; next-fit is the rule production
    packers use because it is one-pass and streaming (first-fit needs
    random access to every open bin). Returns one row per pack with doc
    count, token sum and fill ratio (a doc longer than the budget gets a
    pack alone — fill > 1 is visible, not hidden).

    Scale shape: the sequential walk is per (lang, shard) where shard =
    hash32('pack:'||doc_id) mod 4 — the parallelism unit is bounded and
    tunable (a real corpus shards to ~executor-count x 4; packing within
    any partition of the corpus is still a valid global packing). One
    shuffle to co-locate each shard, then an arrow-batched grouped-map
    walk. VALUE-oracled: the walk state is all integers, and the DuckDB
    oracle replays the identical recursion as a recursive CTE — pack
    assignments match exactly, like the Kalman/Holt family."""
    d = load(spark, sf_dir, "documents")
    shard = _h32(F.concat(F.lit("pack:"), F.col("doc_id").cast("string"))) \
        % _PACK_SHARDS
    base = d.select("lang", shard.alias("shard"), "doc_id",
                    F.size(F.split("text", " ")).cast("long").alias("n_tok"))
    packed = base.groupBy("lang", "shard").applyInPandas(
        _pack_pdf,
        "lang string, shard long, doc_id long, n_tok long, pack_id long")
    return (packed.groupBy("lang", "shard", "pack_id")
                  .agg(F.count("*").alias("n_docs"),
                       F.sum("n_tok").alias("tok_sum"),
                       F.round(F.sum("n_tok").cast("double") / _PACK_BUDGET,
                               6).alias("fill")))


@op("dedup_lsh_tuning_curve", oracle=f"""
WITH sh AS ({_DUCK_SHINGLES}),
mh AS (
    SELECT t.doc_id, g.i,
           min({_DUCK_H32.format(c="g.i || ':' || t.s")}) AS mh
    FROM sh t, generate_series(0, {_MINHASH_K - 1}) g(i)
    GROUP BY 1, 2
), cfg AS (SELECT unnest([2, 4, 8]) AS r),   -- rows per band
bands AS (
    SELECT c.r, m.doc_id, m.i // c.r AS band,
           string_agg(CAST(m.mh AS VARCHAR), ',' ORDER BY m.i) AS sig
    FROM mh m CROSS JOIN cfg c
    GROUP BY 1, 2, 3
), cand AS (
    SELECT DISTINCT a.r, a.doc_id AS doc1, b.doc_id AS doc2
    FROM bands a JOIN bands b
      ON a.r = b.r AND a.band = b.band AND a.sig = b.sig
     AND a.doc_id < b.doc_id
), sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
pairj AS (
    SELECT a.doc_id AS doc1, b.doc_id AS doc2,
           CAST(count(*) AS DOUBLE)
               / (s1.n + s2.n - count(*)) AS j
    FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
    JOIN sizes s1 ON s1.doc_id = a.doc_id
    JOIN sizes s2 ON s2.doc_id = b.doc_id
    GROUP BY a.doc_id, b.doc_id, s1.n, s2.n
), truth AS (SELECT count(*) AS n_truth FROM pairj WHERE j >= 0.7)
SELECT c.r AS rows_per_band,
       CAST({_MINHASH_K} // c.r AS BIGINT) AS n_bands,
       CAST(count(cd.doc1) AS BIGINT) AS n_cand,
       CAST(count(CASE WHEN p.j >= 0.7 THEN 1 END) AS BIGINT) AS n_true,
       t.n_truth,
       round(CASE WHEN count(cd.doc1) > 0
             THEN CAST(count(CASE WHEN p.j >= 0.7 THEN 1 END) AS DOUBLE)
                  / count(cd.doc1) END, 6) AS precision,
       round(CAST(count(CASE WHEN p.j >= 0.7 THEN 1 END) AS DOUBLE)
             / t.n_truth, 6) AS recall
FROM cfg c
LEFT JOIN cand cd ON cd.r = c.r
LEFT JOIN pairj p ON p.doc1 = cd.doc1 AND p.doc2 = cd.doc2
CROSS JOIN truth t
GROUP BY c.r, t.n_truth
""", tier=3, section="2.11")
def dedup_lsh_tuning_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The LSH banding S-curve, MEASURED: for three band configurations
    over the same 16 minhashes — (2 bands × 8 rows), (4 × 4), (8 × 2) —
    the candidate-pair count, and precision/recall against exact
    Jaccard ≥ 0.7 ground truth. More, narrower bands move the collision
    S-curve left (8×2 catches weak overlap, many candidates); fewer,
    wider bands move it right (2×8 nearly exact-dup only). This is the
    tuning table a dedup owner reads BEFORE picking (b, r) for a new
    corpus — the production answer to "why 4×4?", shipped as an
    operator like sim_lsh_recall_eval is for the embedding path.

    Scale shape: minhashes are computed ONCE and re-banded per config (a
    3-row broadcast cross join — re-grouping signatures is cheap; it's
    the hashing that costs); candidates come from per-config band-bucket
    equi-joins (never all-pairs); ground truth reuses the inverted-index
    pair-Jaccard join (sub-quadratic, df-capped like every shingle
    consumer). Evaluated at full corpus here; at 100 TB the identical
    plan runs over a hash-bucket document sample.
    """
    d = load(spark, sf_dir, "documents")
    sh = _shingles(d)
    tok = sh.withColumnRenamed("s", "token")
    mh = (tok.withColumn("i", F.explode(F.sequence(
                F.lit(0), F.lit(_MINHASH_K - 1))))
             .groupBy("doc_id", "i")
             .agg(F.min(_h32(F.concat_ws(":", F.col("i"), F.col("token"))))
                   .alias("mh")))
    cfg = spark.range(1).select(
        F.explode(F.array(F.lit(2), F.lit(4), F.lit(8))).alias("r"))
    bands = (mh.crossJoin(F.broadcast(cfg))
               .withColumn("band", F.expr("i div r"))
               .groupBy("r", "doc_id", "band")
               .agg(F.array_join(
                   F.transform(
                       F.array_sort(F.collect_list(F.struct("i", "mh"))),
                       lambda s: s["mh"].cast("string")),
                   ",").alias("sig")))
    a, b = bands.alias("a"), bands.alias("b")
    cand = (a.join(b, (F.col("a.r") == F.col("b.r"))
                   & (F.col("a.band") == F.col("b.band"))
                   & (F.col("a.sig") == F.col("b.sig"))
                   & (F.col("a.doc_id") < F.col("b.doc_id")))
             .select(F.col("a.r").alias("r"),
                     F.col("a.doc_id").alias("doc1"),
                     F.col("b.doc_id").alias("doc2"))
             .distinct())
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n"))
    sa, sb = sh.alias("sa"), sh.alias("sb")
    common = (sa.join(sb, (F.col("sa.s") == F.col("sb.s"))
                      & (F.col("sa.doc_id") < F.col("sb.doc_id")))
                .groupBy(F.col("sa.doc_id").alias("doc1"),
                         F.col("sb.doc_id").alias("doc2"))
                .agg(F.count("*").alias("c")))
    s1 = sizes.select(F.col("doc_id").alias("doc1"), F.col("n").alias("n1"))
    s2 = sizes.select(F.col("doc_id").alias("doc2"), F.col("n").alias("n2"))
    pairj = (common.join(F.broadcast(s1), "doc1")
                   .join(F.broadcast(s2), "doc2")
                   .select("doc1", "doc2",
                           (F.col("c").cast("double")
                            / (F.col("n1") + F.col("n2") - F.col("c")))
                           .alias("j")))
    truth = pairj.filter(F.col("j") >= 0.7).agg(
        F.count("*").alias("n_truth"))
    scored = (cfg.join(cand, cfg.r == cand.r, "left")
                 .drop(cand.r)
                 .join(pairj, ["doc1", "doc2"], "left"))
    n_true = F.count(F.when(F.col("j") >= 0.7, 1))
    n_cand = F.count("doc1")
    return (scored.groupBy("r")
                  .agg(n_cand.alias("n_cand_l"), n_true.alias("n_true_l"))
                  .crossJoin(F.broadcast(truth))
                  .select(F.col("r").alias("rows_per_band"),
                          (F.lit(_MINHASH_K) / F.col("r")).cast("long")
                           .alias("n_bands"),
                          F.col("n_cand_l").cast("long").alias("n_cand"),
                          F.col("n_true_l").cast("long").alias("n_true"),
                          "n_truth",
                          F.round(F.when(F.col("n_cand_l") > 0,
                                         F.col("n_true_l").cast("double")
                                         / F.col("n_cand_l")), 6)
                           .alias("precision"),
                          F.round(F.col("n_true_l").cast("double")
                                  / F.col("n_truth"), 6).alias("recall")))


#: BM25 constants (the Robertson/Sparck-Jones defaults, public).
_BM25_K1 = 1.2
_BM25_B = 0.75
#: Per-(doc, term) partial scores are floored onto a 1e9 fixed-point grid
#: before the per-doc sum, so the sum over matched terms is an integer
#: aggregate — order-insensitive, cross-engine identical (the HHI/pagerank
#: determinism discipline).
_BM25_FX = 1e9

#: The query: mid-df corpus terms, df-ranked 20..24 (deterministic
#: tiebreak by token) — frequent enough to match many docs, rare enough
#: to carry idf signal, and corpus-derived so the op is sf-independent.
_BM25_Q_LO, _BM25_Q_HI = 20, 24

_DUCK_BM25 = f"""
toks AS (
    SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
), dlen AS (
    SELECT doc_id, count(*) AS len FROM toks GROUP BY doc_id
), corpus AS (
    SELECT CAST(count(*) AS DOUBLE) AS n,
           CAST(sum(len) AS DOUBLE) / count(*) AS avg_len
    FROM dlen
), dfs AS (
    SELECT token, count(DISTINCT doc_id) AS df FROM toks GROUP BY token
), qterms AS (
    SELECT token, df FROM (
        SELECT token, df,
               row_number() OVER (ORDER BY df DESC, token) AS r
        FROM dfs
    ) WHERE r BETWEEN {_BM25_Q_LO} AND {_BM25_Q_HI}
), tf AS (
    SELECT t.doc_id, t.token, count(*) AS tf
    FROM toks t JOIN qterms q ON q.token = t.token
    GROUP BY 1, 2
), parts AS (
    SELECT tf.doc_id,
           CAST(floor(
               ln(1 + (c.n - q.df + 0.5) / (q.df + 0.5))
               * (tf.tf * ({_BM25_K1} + 1))
               / (tf.tf + {_BM25_K1}
                  * (1 - {_BM25_B} + {_BM25_B} * l.len / c.avg_len))
               * {_BM25_FX}) AS BIGINT) AS sfx
    FROM tf
    JOIN qterms q ON q.token = tf.token
    JOIN dlen l ON l.doc_id = tf.doc_id
    CROSS JOIN corpus c
), scored AS (
    SELECT doc_id, count(*) AS n_terms_matched,
           sum(sfx) AS score_fx
    FROM parts GROUP BY doc_id
)
SELECT doc_id, n_terms_matched,
       round(score_fx / {_BM25_FX}, 6) AS bm25,
       rnk
FROM (
    SELECT *, row_number() OVER (ORDER BY score_fx DESC, doc_id) AS rnk
    FROM scored
) WHERE rnk <= 10
"""


@op("text_bm25_retrieval", oracle=f"WITH {_DUCK_BM25}",
    tier=3, section="2.11")
def text_bm25_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 lexical retrieval (k1=1.2, b=0.75): top-10 documents for a
    5-term query, scored ``Σ_t idf(t) · tf(k1+1) / (tf + k1(1-b+b·len/
    avg_len))`` with the standard ``ln(1+(N-df+.5)/(df+.5))`` idf. The
    query is corpus-derived (df ranks 20-24) so the operator runs
    unchanged at any scale factor.

    Scale shape — the part that matters at 100 TB: document frequencies
    and lengths are each ONE aggregate over the token stream; the query
    terms are a 5-row BROADCAST, so the tf pass is a broadcast semi-join
    that kills every non-matching token before any shuffle — the corpus
    is never joined wide. Per-(doc, term) partials are floored onto a
    1e9 fixed-point grid so the per-doc sum is an integer aggregate
    (order-insensitive, engine-identical); ranking happens on the fixed-
    point longs, so the top-10 cut is deterministic too.
    """
    d = load(spark, sf_dir, "documents")
    toks = _tokens(d)
    dlen = toks.groupBy("doc_id").agg(F.count("*").alias("len"))
    corpus = dlen.agg(
        F.count("*").cast("double").alias("n"),
        (F.sum("len").cast("double") / F.count("*")).alias("avg_len"))
    dfs = (toks.distinct().groupBy("token")
               .agg(F.count("*").alias("df")))
    wq = Window.orderBy(F.col("df").desc(), "token")
    qterms = (dfs.withColumn("r", F.row_number().over(wq))
                 .filter(F.col("r").between(_BM25_Q_LO, _BM25_Q_HI))
                 .select("token", "df"))
    tf = (toks.join(F.broadcast(qterms.select("token")), "token")
              .groupBy("doc_id", "token").agg(F.count("*").alias("tf")))
    idf = F.log(1 + (F.col("n") - F.col("df") + 0.5) / (F.col("df") + 0.5))
    denom = (F.col("tf") + _BM25_K1
             * (1 - _BM25_B + _BM25_B * F.col("len") / F.col("avg_len")))
    sfx = F.floor(idf * (F.col("tf") * (_BM25_K1 + 1)) / denom
                  * _BM25_FX).cast("long")
    parts = (tf.join(F.broadcast(qterms), ["token"])
               .join(dlen, "doc_id")
               .crossJoin(F.broadcast(corpus))
               .select("doc_id", sfx.alias("sfx")))
    scored = parts.groupBy("doc_id").agg(
        F.count("*").alias("n_terms_matched"),
        F.sum("sfx").alias("score_fx"))
    wr = Window.orderBy(F.col("score_fx").desc(), "doc_id")
    return (scored.withColumn("rnk", F.row_number().over(wr))
                  .filter("rnk <= 10")
                  .select("doc_id", "n_terms_matched",
                          F.round(F.col("score_fx") / _BM25_FX, 6)
                           .alias("bm25"),
                          "rnk"))


#: Sliding-window chunking geometry (tokens): RAG-ingestion defaults.
_CHUNK_SIZE = 32
_CHUNK_STRIDE = 24


@op("doc_chunk_sliding", oracle=f"""
WITH tk AS (
    SELECT doc_id, string_split(text, ' ') AS t,
           len(string_split(text, ' ')) AS n
    FROM documents
)
SELECT doc_id,
       s AS chunk_idx,
       s * {_CHUNK_STRIDE} AS start_tok,
       len(list_slice(t, s * {_CHUNK_STRIDE} + 1,
                      s * {_CHUNK_STRIDE} + {_CHUNK_SIZE})) AS n_tokens,
       md5(array_to_string(
           list_slice(t, s * {_CHUNK_STRIDE} + 1,
                      s * {_CHUNK_STRIDE} + {_CHUNK_SIZE}), ' '))
           AS fingerprint
FROM tk, unnest(range(0, (n - 1) // {_CHUNK_STRIDE} + 1)) g(s)
""", tier=3, section="2.11")
def doc_chunk_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window document chunking — step 1 of every RAG/embedding
    ingestion pipeline: 32-token windows at stride 24 (8-token overlap so
    no sentence is orphaned at a boundary), one row per chunk with its
    position, actual length (the tail chunk is shorter), and a content
    fingerprint (the key chunk-level dedup and the vector store both
    use).

    Scale shape: tokenize once per document, then a per-document
    ``transform(sequence(...))`` + explode — a pure NARROW fan-out, no
    shuffle anywhere, embarrassingly parallel over documents, output
    size (n_tokens/stride) rows per doc by construction. The chunk
    boundary math is integer, so the op is engine-exact including
    fingerprints.
    """
    d = load(spark, sf_dir, "documents")
    tk = d.select("doc_id", F.split("text", " ").alias("t"))
    chunk = F.expr(f"slice(t, s * {_CHUNK_STRIDE} + 1, {_CHUNK_SIZE})")
    return (tk.withColumn(
                "s", F.explode(F.sequence(
                    F.lit(0),
                    F.floor((F.size("t") - 1) / _CHUNK_STRIDE)
                     .cast("long"))))
              .select("doc_id",
                      F.col("s").alias("chunk_idx"),
                      (F.col("s") * _CHUNK_STRIDE).alias("start_tok"),
                      F.size(chunk).alias("n_tokens"),
                      F.md5(F.array_join(chunk, " ")).alias("fingerprint")))


#: Mini-BPE: number of merge rules learned from the corpus.
_BPE_MERGES = 5
_BPE_TOP = 20   # report the segmentation of the top-20 corpus tokens


@op("text_bpe_lite", oracle=f"""
WITH tok AS (
    SELECT token, count(*) AS freq
    FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents)
    WHERE len(token) >= 2
    GROUP BY token
), pairs AS (    -- adjacent char pairs, weighted by token frequency
    SELECT pair, SUM(freq) AS w FROM (
        SELECT freq,
               unnest(list_transform(range(1, len(token)),
                   i -> substr(token, i, 2))) AS pair
        FROM tok
    ) GROUP BY pair
), merges AS (
    SELECT pair, rnk FROM (
        SELECT pair, row_number() OVER (ORDER BY w DESC, pair) AS rnk
        FROM pairs
    ) WHERE rnk <= {_BPE_MERGES}
), spaced AS (   -- char-level segmentation: 'a b c ...'
    SELECT token, freq,
           array_to_string(list_transform(range(1, len(token) + 1),
               i -> substr(token, i, 1)), ' ') AS seg
    FROM tok
), applied AS (  -- apply the 5 merges in rank order (all occurrences)
    SELECT s.token, s.freq,
           replace(replace(replace(replace(replace(s.seg,
               m1.spair, m1.mpair), m2.spair, m2.mpair),
               m3.spair, m3.mpair), m4.spair, m4.mpair),
               m5.spair, m5.mpair) AS seg
    FROM spaced s,
         (SELECT substr(pair,1,1) || ' ' || substr(pair,2,1) AS spair,
                 pair AS mpair FROM merges WHERE rnk = 1) m1,
         (SELECT substr(pair,1,1) || ' ' || substr(pair,2,1) AS spair,
                 pair AS mpair FROM merges WHERE rnk = 2) m2,
         (SELECT substr(pair,1,1) || ' ' || substr(pair,2,1) AS spair,
                 pair AS mpair FROM merges WHERE rnk = 3) m3,
         (SELECT substr(pair,1,1) || ' ' || substr(pair,2,1) AS spair,
                 pair AS mpair FROM merges WHERE rnk = 4) m4,
         (SELECT substr(pair,1,1) || ' ' || substr(pair,2,1) AS spair,
                 pair AS mpair FROM merges WHERE rnk = 5) m5
)
SELECT token, freq, seg,
       CAST(len(string_split(seg, ' ')) AS BIGINT) AS n_units,
       CAST(len(token) AS BIGINT) AS n_chars,
       rnk
FROM (
    SELECT *, row_number() OVER (ORDER BY freq DESC, token) AS rnk
    FROM applied
) WHERE rnk <= {_BPE_TOP}
""", tier=3, section="2.11")
def text_bpe_lite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Byte-pair-encoding, the distributed miniature: LEARN the top-5
    merge rules from corpus-weighted adjacent-character pair counts,
    then APPLY them in rank order to segment the vocabulary — the exact
    train-then-encode shape of production BPE (Sennrich et al. 2016,
    public), scaled down to one merge round so the whole pipeline stays
    declarative. Reported: the segmentation and unit count of the
    top-20 corpus tokens (n_units < n_chars wherever a merge fired —
    the compression BPE exists for).

    Scale shape: training is ONE weighted aggregate over the (vocab x
    token-length) char-pair stream — vocabulary-sized, not corpus-sized,
    because tokens dedup with their frequencies first; application is 5
    chained ``replace`` calls (a 5-row broadcast of the merge table
    folded into the expression), narrow per token. Both engines scan
    replace left-to-right non-overlapping, so segmentations are
    byte-identical. A production tokenizer iterates the same two steps
    to 32k merges with the pair counts re-aggregated each round.
    """
    d = load(spark, sf_dir, "documents")
    tok = (d.select(F.explode(F.split("text", " ")).alias("token"))
             .filter(F.length("token") >= 2)
             .groupBy("token").agg(F.count("*").alias("freq")))
    pairs = (tok.select(
                 "freq",
                 F.explode(F.expr(
                     "transform(sequence(1, length(token) - 1), "
                     "i -> substring(token, i, 2))")).alias("pair"))
                .groupBy("pair").agg(F.sum("freq").alias("w")))
    wm = Window.orderBy(F.col("w").desc(), "pair")
    merges = (pairs.withColumn("rnk", F.row_number().over(wm))
                   .filter(F.col("rnk") <= _BPE_MERGES)
                   .select("pair", "rnk"))
    spaced = tok.select(
        "token", "freq",
        F.array_join(F.expr(
            "transform(sequence(1, length(token)), "
            "i -> substring(token, i, 1))"), " ").alias("seg"))
    cur = spaced
    for r in range(1, _BPE_MERGES + 1):
        m = (merges.filter(F.col("rnk") == r)
                   .select(F.concat(F.substring("pair", 1, 1), F.lit(" "),
                                    F.substring("pair", 2, 1))
                            .alias(f"spair{r}"),
                           F.col("pair").alias(f"mpair{r}")))
        cur = (cur.crossJoin(F.broadcast(m))
                  .withColumn("seg", F.replace(F.col("seg"),
                                               F.col(f"spair{r}"),
                                               F.col(f"mpair{r}")))
                  .drop(f"spair{r}", f"mpair{r}"))
    wr = Window.orderBy(F.col("freq").desc(), "token")
    return (cur.withColumn("rnk", F.row_number().over(wr))
               .filter(F.col("rnk") <= _BPE_TOP)
               .select("token", "freq", "seg",
                       F.size(F.split("seg", " ")).cast("long")
                        .alias("n_units"),
                       F.length("token").cast("long").alias("n_chars"),
                       "rnk"))


@op("text_lang_confusion", oracle="""
WITH tok AS (
    SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
), lang_top AS (
    SELECT lang, token FROM (
        SELECT d.lang, t.token,
               row_number() OVER (PARTITION BY d.lang
                                  ORDER BY count(*) DESC, t.token) AS rnk
        FROM tok t JOIN documents d USING (doc_id)
        GROUP BY d.lang, t.token
    ) WHERE rnk <= 10
), scored AS (
    SELECT t.doc_id, lt.lang AS cand, count(*) AS matches
    FROM tok t JOIN lang_top lt USING (token)
    GROUP BY 1, 2
), pred AS (
    SELECT doc_id, cand FROM (
        SELECT doc_id, cand,
               row_number() OVER (PARTITION BY doc_id
                                  ORDER BY matches DESC, cand) AS rnk
        FROM scored
    ) WHERE rnk = 1
), cm AS (
    SELECT d.lang AS true_lang,
           coalesce(p.cand, '?') AS pred_lang,
           count(*) AS n
    FROM documents d LEFT JOIN pred p ON p.doc_id = d.doc_id
    GROUP BY 1, 2
)
SELECT true_lang, pred_lang, CAST(n AS BIGINT) AS n,
       round(CAST(n AS DOUBLE)
             / SUM(n) OVER (PARTITION BY true_lang), 6) AS row_share,
       round(CAST(SUM(CASE WHEN true_lang = pred_lang THEN n ELSE 0 END)
                  OVER () AS DOUBLE) / SUM(n) OVER (), 6) AS accuracy
FROM cm
""", tier=3, section="2.11")
def text_lang_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Confusion matrix + accuracy for the token-profile language
    classifier (``text_lang_id``) against the labeled ``lang`` column —
    the eval that turns a heuristic into a measured component: per
    (true, predicted) cell count, row-normalized share, and overall
    accuracy. Unclassifiable docs (no profile hit) land in the '?'
    column instead of vanishing.

    Same training/classification plan as the classifier (profile table
    broadcast, one aggregation over tokens); the confusion matrix is a
    (langs+1)² aggregate on top. The ship-the-eval discipline the
    similarity family established, applied to the text family.
    """
    d = load(spark, sf_dir, "documents")
    tok = _tokens(d)
    w_prof = Window.partitionBy("lang").orderBy(F.col("n").desc(), "token")
    lang_top = (tok.join(d.select("doc_id", "lang"), "doc_id")
                   .groupBy("lang", "token").agg(F.count("*").alias("n"))
                   .withColumn("rnk", F.row_number().over(w_prof))
                   .filter("rnk <= 10").select("lang", "token"))
    scored = (tok.join(F.broadcast(
                    lang_top.withColumnRenamed("lang", "cand")), "token")
                 .groupBy("doc_id", "cand")
                 .agg(F.count("*").alias("matches")))
    w_pred = Window.partitionBy("doc_id").orderBy(
        F.col("matches").desc(), "cand")
    pred = (scored.withColumn("rnk", F.row_number().over(w_pred))
                  .filter("rnk = 1").select("doc_id", "cand"))
    cm = (d.join(pred, "doc_id", "left")
           .groupBy(F.col("lang").alias("true_lang"),
                    F.coalesce(F.col("cand"), F.lit("?"))
                     .alias("pred_lang"))
           .agg(F.count("*").alias("n")))
    wrow = Window.partitionBy("true_lang")
    wall = Window.partitionBy()
    correct = F.sum(F.when(F.col("true_lang") == F.col("pred_lang"),
                           F.col("n")).otherwise(0)).over(wall)
    return cm.select(
        "true_lang", "pred_lang", F.col("n").cast("long").alias("n"),
        F.round(F.col("n").cast("double") / F.sum("n").over(wrow), 6)
         .alias("row_share"),
        F.round(correct.cast("double") / F.sum("n").over(wall), 6)
         .alias("accuracy"))


@op("text_ngram_novelty", oracle=f"""
WITH sh AS ({_DUCK_SHINGLES}),
firsts AS (   -- the doc where each shingle first appears (doc_id order)
    SELECT s, min(doc_id) AS first_doc FROM sh GROUP BY s
), per AS (
    SELECT sh.doc_id,
           count(*) AS n_shingles,
           CAST(SUM(CASE WHEN f.first_doc = sh.doc_id THEN 1 ELSE 0 END)
                AS BIGINT) AS n_novel
    FROM sh JOIN firsts f ON f.s = sh.s
    GROUP BY sh.doc_id
), banded AS (
    SELECT CAST(doc_id // 50 AS BIGINT) AS doc_band,
           CAST(SUM(n_shingles) AS BIGINT) AS n_shingles,
           CAST(SUM(n_novel) AS BIGINT) AS n_novel
    FROM per GROUP BY 1
)
SELECT doc_band, n_shingles, n_novel,
       round(CAST(n_novel AS DOUBLE) / n_shingles, 6) AS novelty_rate
FROM banded
""", tier=3, section="2.11")
def text_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus novelty curve: for each ingestion band (50 docs in
    doc_id order), the share of its 3-gram shingles never seen in any
    earlier document — the diminishing-returns curve a data-curation
    team reads to decide when one more crawl of the same sources stops
    adding information (novelty falling toward the near-dup floor means
    you're re-buying the same tokens).

    "Seen earlier" needs NO ordered scan: a shingle is novel in exactly
    the doc where it FIRST appears, so one ``min(doc_id) per shingle``
    aggregate over the shared df-capped shingle stream labels every
    occurrence, and the curve is a second aggregate onto bands. Same
    inverted-index cost class as the dedup joins; counts exact.
    """
    d = load(spark, sf_dir, "documents")
    sh = _shingles(d)
    firsts = sh.groupBy("s").agg(F.min("doc_id").alias("first_doc"))
    per = (sh.join(firsts, "s")
             .groupBy("doc_id")
             .agg(F.count("*").alias("n_shingles"),
                  F.sum(F.when(F.col("first_doc") == F.col("doc_id"), 1)
                         .otherwise(0)).cast("long").alias("n_novel")))
    banded = (per.groupBy(F.floor(F.col("doc_id") / 50).cast("long")
                           .alias("doc_band"))
                 .agg(F.sum("n_shingles").cast("long").alias("n_shingles"),
                      F.sum("n_novel").cast("long").alias("n_novel")))
    return banded.select(
        "doc_band", "n_shingles", "n_novel",
        F.round(F.col("n_novel").cast("double") / F.col("n_shingles"), 6)
         .alias("novelty_rate"))


# --------------------------------------------------------------------------
# Round-7 wave (SURVEY.md §2.18)
# --------------------------------------------------------------------------


@op("text_rake_keywords", oracle="""
WITH tok AS (
    SELECT doc_id,
           unnest(string_split(text, ' ')) AS t,
           generate_subscripts(string_split(text, ' '), 1) AS pos
    FROM documents
), stops AS (   -- self-trained stopword list: the corpus's top-10 tokens
    SELECT t FROM (
        SELECT t, row_number() OVER (ORDER BY count(*) DESC, t) AS rnk
        FROM tok GROUP BY t
    ) WHERE rnk <= 10
), marked AS (
    SELECT tok.doc_id, tok.pos, tok.t,
           CASE WHEN s.t IS NULL THEN 0 ELSE 1 END AS is_stop,
           sum(CASE WHEN s.t IS NULL THEN 0 ELSE 1 END)
               OVER (PARTITION BY tok.doc_id ORDER BY tok.pos) AS pid
    FROM tok LEFT JOIN stops s ON s.t = tok.t
), words AS (
    SELECT doc_id, pos, t, pid FROM marked WHERE is_stop = 0
), plen AS (
    SELECT doc_id, pid, count(*) AS n_words
    FROM words GROUP BY 1, 2
), wstat AS (
    SELECT w.doc_id, w.t,
           count(*) AS freq,
           sum(p.n_words) AS deg
    FROM words w JOIN plen p
      ON p.doc_id = w.doc_id AND p.pid = w.pid
    GROUP BY 1, 2
), pscore AS (
    SELECT w.doc_id, w.pid,
           string_agg(w.t, ' ' ORDER BY w.pos) AS phrase,
           count(*) AS n_words,
           sum((s.deg * 1000000) // s.freq) AS score_fx
    FROM words w JOIN wstat s
      ON s.doc_id = w.doc_id AND s.t = w.t
    GROUP BY 1, 2
)
SELECT doc_id, phrase, CAST(n_words AS BIGINT) AS n_words,
       round(CAST(score_fx AS DOUBLE) / 1000000, 6) AS rake_score,
       rnk
FROM (
    SELECT doc_id, phrase, n_words, score_fx,
           row_number() OVER (PARTITION BY doc_id
                              ORDER BY score_fx DESC, phrase) AS rnk
    FROM pscore
) WHERE rnk <= 2
""", tier=3, section="2.11")
def text_rake_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAKE keyword extraction (Rose et al. 2010, public): candidate
    phrases are maximal stopword-free token runs; each word scores
    degree/frequency over the document's phrases (degree = summed
    length of phrases containing the word — favors words that live in
    long collocations); a phrase scores the sum of its words' scores;
    emit each document's top-2 phrases. The stopword list is
    SELF-TRAINED (corpus top-10 tokens — the `text_stopword_density`
    convention), so no hand-carried lexicon.

    Exactness: word scores are the exact integer floor of
    deg·1e6 / freq (BIGINT floor-division in both engines) and phrase
    scores are exact long sums of those — ranking is an integer
    decision, immune to float summation order.

    Scale shape: token fan-out is linear; the stop list is 10 rows
    (broadcast); phrase grouping and ranking windows partition BY DOC
    (bounded by doc length); word stats join tokens to the per-doc
    phrase-length frame on (doc, pid) — doc-keyed shuffles only."""
    d = load(spark, sf_dir, "documents")
    tok = d.select(
        "doc_id",
        F.posexplode(F.split("text", " ")).alias("pos0", "t")
    ).select("doc_id", (F.col("pos0") + 1).alias("pos"), "t")
    stops = (tok.groupBy("t").agg(F.count("*").alias("c"))
                .select("t", F.row_number().over(
                    Window.orderBy(F.col("c").desc(), "t")).alias("rnk"))
                .filter("rnk <= 10")
                .select(F.col("t").alias("stop_t")))
    w_run = Window.partitionBy("doc_id").orderBy("pos")
    marked = (tok.join(F.broadcast(stops),
                       tok["t"] == F.col("stop_t"), "left")
                 .withColumn("is_stop",
                             F.when(F.col("stop_t").isNull(), 0)
                              .otherwise(1))
                 .withColumn("pid", F.sum("is_stop").over(w_run)))
    words = marked.filter("is_stop = 0") \
                  .select("doc_id", "pos", "t", "pid")
    plen = words.groupBy("doc_id", "pid") \
                .agg(F.count("*").alias("n_words"))
    wstat = (words.join(plen.withColumnRenamed("doc_id", "pd")
                            .withColumnRenamed("pid", "pp"),
                        (F.col("pd") == F.col("doc_id"))
                        & (F.col("pp") == F.col("pid")))
                  .groupBy("doc_id", "t")
                  .agg(F.count("*").alias("freq"),
                       F.sum("n_words").alias("deg")))
    score_w = F.expr("(deg * 1000000) div freq")
    pscore = (words.join(wstat.withColumnRenamed("doc_id", "sd")
                              .withColumnRenamed("t", "st"),
                         (F.col("sd") == F.col("doc_id"))
                         & (F.col("st") == F.col("t")))
                   .withColumn("wfx", score_w)
                   .groupBy("doc_id", "pid")
                   .agg(F.array_join(
                            F.transform(
                                F.array_sort(F.collect_list(
                                    F.struct("pos", F.col("t")))),
                                lambda s: s["t"]), " ").alias("phrase"),
                        F.count("*").alias("n_words"),
                        F.sum("wfx").alias("score_fx")))
    w_rank = Window.partitionBy("doc_id").orderBy(
        F.col("score_fx").desc(), "phrase")
    return (pscore.withColumn("rnk", F.row_number().over(w_rank))
                  .filter("rnk <= 2")
                  .select("doc_id", "phrase",
                          F.col("n_words").cast("long").alias("n_words"),
                          F.round(F.col("score_fx").cast("double")
                                  / 1_000_000, 6).alias("rake_score"),
                          "rnk"))


@op("text_prefix_dedup", oracle="""
WITH keyed AS (
    SELECT doc_id, n_chars,
           md5(substr(lower(regexp_replace(text, '\\s+', ' ', 'g')),
                      1, 200)) AS prefix_hash
    FROM documents
), ranked AS (
    SELECT doc_id, prefix_hash,
           row_number() OVER (PARTITION BY prefix_hash
                              ORDER BY n_chars DESC, doc_id) AS rn,
           count(*) OVER (PARTITION BY prefix_hash) AS n_group
    FROM keyed
)
SELECT prefix_hash, doc_id AS keep_doc_id, n_group AS n_docs
FROM ranked WHERE rn = 1 AND n_group >= 2
""", tier=3, section="2.11")
def text_prefix_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Normalized-prefix dedup: documents sharing the same first 200
    characters (whitespace-collapsed, lowercased) collapse to one
    representative — the cheap templated-content catcher (boilerplate
    openings, mirrored articles with divergent tails) that sits between
    exact-hash dedup and MinHash in every production text pipeline.
    Keeps the LONGEST document per prefix group (doc_id tiebreak), the
    usual keep-the-superset policy.

    Scale shape: one linear keying pass (hash of a 200-char prefix —
    bounded work per doc regardless of doc length), then one
    prefix-hash-keyed window over groups whose size is the duplication
    factor, not the corpus. Same single-shuffle shape as
    `dedup_exact_text`."""
    d = load(spark, sf_dir, "documents")
    keyed = d.select(
        "doc_id", "n_chars",
        F.md5(F.substring(
            F.lower(F.regexp_replace("text", r"\s+", " ")),
            1, 200)).alias("prefix_hash"))
    wk = Window.partitionBy("prefix_hash")
    wo = wk.orderBy(F.col("n_chars").desc(), "doc_id")
    return (keyed.withColumn("rn", F.row_number().over(wo))
                 .withColumn("n_group", F.count("*").over(wk))
                 .filter((F.col("rn") == 1) & (F.col("n_group") >= 2))
                 .select("prefix_hash",
                         F.col("doc_id").alias("keep_doc_id"),
                         F.col("n_group").alias("n_docs")))


@op("text_readability", oracle=r"""
WITH c AS (
    SELECT doc_id, lang,
           CAST(len(regexp_extract_all(lower(text), '\S+')) AS BIGINT)
               AS n_words,
           CAST(greatest(len(regexp_extract_all(text, '[.!?]+')), 1)
                AS BIGINT) AS n_sentences,
           CAST(len(regexp_extract_all(lower(text), '[aeiouy]+'))
                AS BIGINT) AS n_syllables
    FROM documents
)
SELECT doc_id, lang, n_words, n_sentences, n_syllables,
       round(206.835 - 1.015 * (CAST(n_words AS DOUBLE) / n_sentences)
             - 84.6 * (CAST(n_syllables AS DOUBLE) / n_words), 4)
           AS flesch,
       CASE WHEN 206.835 - 1.015 * (CAST(n_words AS DOUBLE) / n_sentences)
                 - 84.6 * (CAST(n_syllables AS DOUBLE) / n_words) >= 60
            THEN 'easy'
            WHEN 206.835 - 1.015 * (CAST(n_words AS DOUBLE) / n_sentences)
                 - 84.6 * (CAST(n_syllables AS DOUBLE) / n_words) >= 30
            THEN 'medium' ELSE 'hard' END AS band
FROM c WHERE n_words > 0
""", tier=3, section="2.11")
def text_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch reading-ease score per document with a 3-level difficulty
    band — the readability screen a training-data quality pipeline runs
    next to `text_filter_quality` (which gates on shape; this gates on
    linguistic difficulty). Syllables are approximated as vowel-group
    runs ([aeiouy]+, the standard dependency-free heuristic), sentences
    as terminal-punctuation runs (min 1 so headline-only docs score).

    Exactness: all three inputs are integer regexp-match counts
    (identical RE2/Java semantics on this ASCII corpus), so the score
    is one shared IEEE expression tree rounded once — the band
    comparison agrees bit-for-bit cross-engine.

    Scale shape: embarrassingly parallel single scan — per-doc regexp
    counts, no shuffle at all (the only exchange is whatever the sink
    needs)."""
    doc = load(spark, sf_dir, "documents")
    c = doc.select(
        "doc_id", "lang",
        F.size(F.regexp_extract_all(F.lower("text"), F.lit(r"\S+"), 0))
         .cast("long").alias("n_words"),
        F.greatest(
            F.size(F.regexp_extract_all("text", F.lit("[.!?]+"), 0)),
            F.lit(1)).cast("long").alias("n_sentences"),
        F.size(F.regexp_extract_all(F.lower("text"),
                                    F.lit("[aeiouy]+"), 0))
         .cast("long").alias("n_syllables"),
    ).filter(F.col("n_words") > 0)
    score = (F.lit(206.835)
             - 1.015 * (F.col("n_words").cast("double")
                        / F.col("n_sentences"))
             - 84.6 * (F.col("n_syllables").cast("double")
                       / F.col("n_words")))
    return c.select(
        "doc_id", "lang", "n_words", "n_sentences", "n_syllables",
        F.round(score, 4).alias("flesch"),
        F.when(score >= 60, "easy").when(score >= 30, "medium")
         .otherwise("hard").alias("band"))


#: Token budget for `doc_truncate_budget` — the context-window stand-in.
_TRUNC_BUDGET = 64


@op("doc_truncate_budget", oracle=f"""
WITH tk AS (
    SELECT doc_id, lang, string_split(text, ' ') AS t,
           len(string_split(text, ' ')) AS n
    FROM documents
)
SELECT doc_id, lang,
       CAST(n AS BIGINT) AS n_tokens,
       CAST(least(n, {_TRUNC_BUDGET}) AS BIGINT) AS n_kept,
       CAST(n > {_TRUNC_BUDGET} AS INT) AS truncated,
       md5(array_to_string(list_slice(t, 1, {_TRUNC_BUDGET}), ' '))
           AS kept_md5,
       CAST(length(array_to_string(list_slice(t, 1, {_TRUNC_BUDGET}),
                                   ' ')) AS BIGINT) AS kept_chars
FROM tk
""", tier=3, section="2.11")
def doc_truncate_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget truncation audit: cut every document to its first
    64 whitespace tokens (the context-window stand-in) at a word
    boundary and report kept/total token counts, the truncation flag,
    and the md5 + length of the kept text — the loss ledger a training
    pipeline emits BEFORE it throws tail tokens away (`doc_chunk_sliding`
    keeps everything in overlapping pieces; this op is the cheap
    head-only alternative). The kept text itself travels as md5 so the
    cross-engine check pins the exact bytes without hauling strings
    through the compare.

    Scale shape: embarrassingly parallel single scan — split, slice,
    re-join, hash per row; zero shuffles, zero joins."""
    d = load(spark, sf_dir, "documents")
    t = F.split("text", " ")
    kept = F.array_join(F.slice(t, 1, _TRUNC_BUDGET), " ")
    n = F.size(t)
    return d.select(
        "doc_id", "lang",
        n.cast("long").alias("n_tokens"),
        F.least(n, F.lit(_TRUNC_BUDGET)).cast("long").alias("n_kept"),
        (n > _TRUNC_BUDGET).cast("int").alias("truncated"),
        F.md5(kept).alias("kept_md5"),
        F.length(kept).cast("long").alias("kept_chars"))



#: `text_quality_model` — fixed-point grid for the exact log-odds sum
#: (the `agg_pagerank_bipartite` discipline) and the md5-slice modulus
#: for the deterministic 20% training split.
_QM_FX = 1000000000.0
_QM_TRAIN_MOD = 5

#: The heuristic label predicate — text_filter_quality's rule, verbatim
#: (shared here so the trained model's target is exactly the filter it
#: upgrades).
_QM_DUCK_Y = """CAST(
       len(string_split(text, ' ')) BETWEEN 20 AND 1000
       AND round(CAST(length(replace(text, ' ', '')) AS DOUBLE)
                 / CAST(len(string_split(text, ' ')) AS DOUBLE), 6)
           BETWEEN 2.0 AND 12.0
       AND n_chars >= 50 AS INT)"""


def _duck_qm_prefix(corpus: str = "documents",
                    materialized: bool = False) -> str:
    """WITH-chain that trains the NB quality model over ``corpus``'s md5
    slice — mirrors ``_quality_model_train``: lab(els), the token
    stream, train-slice token counts, totals, prior, the vocab weight
    table ``w`` and the 1-row OOV fallback. The streaming twin trains
    over the ``old`` CTE; the batch op over the full table.
    ``materialized`` adds DuckDB's AS MATERIALIZED hint to the
    multiply-referenced frames — required when the chain feeds a
    recursive CTE downstream (pipeline_corpus_audit), where plain CTE
    inlining re-evaluates the whole training chain per iteration."""
    m = " MATERIALIZED" if materialized else ""
    return f"""lab AS{m} (
    SELECT doc_id, text,
           CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
                % {_QM_TRAIN_MOD} = 0 AS INT) AS is_train,
           {_QM_DUCK_Y} AS y
    FROM {corpus}
), qtok AS{m} (
    SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM {corpus}
), cnt AS{m} (
    SELECT t.token,
           CAST(sum(l.y) AS BIGINT) AS c1,
           CAST(sum(1 - l.y) AS BIGINT) AS c0
    FROM qtok t JOIN lab l USING (doc_id)
    WHERE l.is_train = 1
    GROUP BY t.token
), tot AS (
    SELECT CAST(sum(c1) AS BIGINT) AS t1, CAST(sum(c0) AS BIGINT) AS t0,
           CAST(count(*) AS BIGINT) AS v
    FROM cnt
), pri AS (
    SELECT ln((CAST(sum(y) AS BIGINT) + 1.0)
              / (CAST(sum(1 - y) AS BIGINT) + 1)) AS prior
    FROM lab WHERE is_train = 1
), w AS{m} (
    SELECT token,
           CAST(floor((ln((c1 + 1.0) / (t1 + v))
                       - ln((c0 + 1.0) / (t0 + v))) * {_QM_FX})
                AS BIGINT) AS wfx
    FROM cnt CROSS JOIN tot
), oov AS (
    SELECT CAST(floor((ln(1.0 / (t1 + v)) - ln(1.0 / (t0 + v)))
                      * {_QM_FX}) AS BIGINT) AS oovfx
    FROM tot
)"""


@op("text_quality_model", oracle=f"""
WITH {_duck_qm_prefix()},
score AS (
    SELECT t.doc_id, count(*) AS n_tokens,
           CAST(sum(COALESCE(w.wfx, o.oovfx)) AS BIGINT) AS sfx
    FROM qtok t LEFT JOIN w USING (token) CROSS JOIN oov o
    GROUP BY t.doc_id
)
SELECT s.doc_id,
       l.y AS label_heuristic,
       l.is_train,
       s.n_tokens,
       round(p.prior + CAST(s.sfx AS DOUBLE) / {_QM_FX}, 6) AS score,
       CAST(p.prior + CAST(s.sfx AS DOUBLE) / {_QM_FX} >= 0 AS INT)
           AS pred_good
FROM score s JOIN lab l USING (doc_id) CROSS JOIN pri p
""", tier=3, section="2.11")
def text_quality_model(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRAINED document-quality scorer (round 9, VERDICT r8 missing #2)
    — the rung above the heuristic/perplexity ladder
    (`text_filter_quality`, `text_readability`, `text_bigram_logprob`):
    a closed-form multinomial Naive Bayes over document tokens, the
    public fastText-classifier stand-in every production pipeline runs.
    TRAIN on the deterministic md5-lowest 20% doc_id slice labeled by
    the heuristic filter's own predicate (distant supervision — the
    exact bootstrap CCNet/fastText quality models use), then SCORE
    every document with the add-one-smoothed log-odds
    ``ln P(good) - ln P(bad) + Σ_t ln(P(t|good)/P(t|bad))``, unknown
    tokens falling back to the zero-count smoothed ratio.

    Output: (doc_id, label_heuristic, is_train, n_tokens, score,
    pred_good) — score is the log-odds (positive => model says keep),
    so downstream consumers can threshold at a dial instead of the
    heuristic's hard cut; the agreement rate vs the heuristic on the
    HOLDOUT slice is measured in tests/test_wave_r9b.py and SCALE.md.

    Exactness: every per-token weight is ln of exact-integer ratios
    (identical IEEE doubles cross-engine — the `text_bigram_logprob`
    contract), floored onto the 1e-9 fixed-point grid so the per-doc
    SUM is over exact longs — order-invariant (the
    `agg_pagerank_bipartite` discipline, stricter than the bigram op's
    raw double sum); the single divide-back + prior add + round(6) is
    the same IEEE expression both engines evaluate.

    Scale shape: training is two hash aggregates over the TRAIN token
    stream (vocabulary-sized outputs, map-side combinable); the model
    (vocab weights) joins the corpus token stream token-keyed — a
    linear shuffle, never a broadcast assumption on an unbounded vocab;
    totals/prior/OOV ride 1-row broadcast frames; the per-doc score is
    one doc_id-keyed hash aggregate. Zero windows, zero corpus
    self-joins."""
    return _quality_model_frame(load(spark, sf_dir, "documents"))


def _qm_labels(d: DataFrame) -> DataFrame:
    """(doc_id, is_train, y): the deterministic md5 train slice and the
    heuristic label (text_filter_quality's predicate verbatim)."""
    hv = F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8),
                16, 10).cast("long")
    n_tok = F.size(F.split("text", " ")).cast("long")
    avg_len = F.round(
        F.length(F.regexp_replace("text", " ", "")).cast("double")
        / n_tok.cast("double"), 6)
    return d.select(
        "doc_id",
        (hv % _QM_TRAIN_MOD == 0).cast("int").alias("is_train"),
        (n_tok.between(20, 1000) & avg_len.between(2.0, 12.0)
         & (F.col("n_chars") >= 50)).cast("int").alias("y"))


def _qm_tokens(d: DataFrame) -> DataFrame:
    return d.select("doc_id", F.explode(F.split("text", " ")).alias("token"))


def _quality_model_train(d: DataFrame) -> tuple:
    """(w, oov, pri): the trained NB model over ``d``'s md5 train slice —
    the vocab log-odds weight table (vocab-sized, token-keyed), the
    1-row OOV fallback weight, and the 1-row class prior. These are the
    frames a serving tier pins between retrains; `stream_quality_scores`
    scores arrivals against them per micro-batch."""
    lab = _qm_labels(d)
    cnt = (_qm_tokens(d)
           .join(lab.select("doc_id", "is_train", "y"), "doc_id")
           .filter(F.col("is_train") == 1)
           .groupBy("token")
           .agg(F.sum("y").cast("long").alias("c1"),
                F.sum(1 - F.col("y")).cast("long").alias("c0")))
    tot = cnt.agg(F.sum("c1").cast("long").alias("t1"),
                  F.sum("c0").cast("long").alias("t0"),
                  F.count("*").cast("long").alias("v"))
    pri = (lab.filter(F.col("is_train") == 1)
              .agg(F.log((F.sum("y").cast("long") + F.lit(1.0))
                         / (F.sum(1 - F.col("y")).cast("long") + F.lit(1)))
                   .alias("prior")))
    w = (cnt.crossJoin(F.broadcast(tot))
            .select("token",
                    F.floor((F.log((F.col("c1") + F.lit(1.0))
                                   / (F.col("t1") + F.col("v")))
                             - F.log((F.col("c0") + F.lit(1.0))
                                     / (F.col("t0") + F.col("v"))))
                            * F.lit(_QM_FX)).alias("wfx")))
    oov = tot.select(
        F.floor((F.log(F.lit(1.0) / (F.col("t1") + F.col("v")))
                 - F.log(F.lit(1.0) / (F.col("t0") + F.col("v"))))
                * F.lit(_QM_FX)).alias("oovfx"))
    return w, oov, pri


def _quality_model_score(docs: DataFrame, w: DataFrame, oov: DataFrame,
                         pri: DataFrame) -> DataFrame:
    """(doc_id, n_tokens, score, pred_good): score ``docs`` against a
    trained model — token-keyed join with the weight table, OOV
    fallback, exact-long sum, one divide-back + prior."""
    score = (_qm_tokens(docs).join(w, "token", "left")
             .crossJoin(F.broadcast(oov))
             .groupBy("doc_id")
             .agg(F.count("*").alias("n_tokens"),
                  F.sum(F.coalesce("wfx", "oovfx")).cast("long")
                   .alias("sfx")))
    raw = F.col("prior") + F.col("sfx").cast("double") / F.lit(_QM_FX)
    return (score.crossJoin(F.broadcast(pri))
                 .select("doc_id", "n_tokens",
                         F.round(raw, 6).alias("score"),
                         (raw >= 0).cast("int").alias("pred_good")))


def _quality_model_frame(d: DataFrame) -> DataFrame:
    """(doc_id, label_heuristic, is_train, n_tokens, score, pred_good)
    over an arbitrary documents frame — train on ``d``'s own md5 slice,
    score every document, attach the labels. Shared by the registered
    op, the end-to-end demo (tools/pipeline_demo.py), and — split into
    its train/score halves — the streaming twin."""
    w, oov, pri = _quality_model_train(d)
    lab = _qm_labels(d).select("doc_id",
                               F.col("y").alias("label_heuristic"),
                               "is_train")
    return (_quality_model_score(d, w, oov, pri)
            .join(lab, "doc_id")
            .select("doc_id", "label_heuristic", "is_train",
                    "n_tokens", "score", "pred_good"))


#: The BPE-ish pretokenizer regex shared with `text_token_count` — the
#: GPT-2-style lexer (letter runs | digit runs | single other chars)
#: whose counts track what a real subword tokenizer bills far closer
#: than whitespace words: punctuation, numbers and symbol runs all cost
#: tokens a whitespace count never sees.
_BPE_LEXER = r"[a-z]+|[0-9]+|[^a-z0-9\s]"
_BPE_LEXER_SQL = r"'[a-z]+|[0-9]+|[^a-z0-9\s]'"


@op("doc_truncate_budget_bpe", oracle=f"""
WITH tk AS (
    SELECT doc_id, lang,
           regexp_extract_all(text, {_BPE_LEXER_SQL}) AS t,
           len(regexp_extract_all(text, {_BPE_LEXER_SQL})) AS n
    FROM documents
)
SELECT doc_id, lang,
       CAST(n AS BIGINT) AS n_bpe_tokens,
       CAST(least(n, {_TRUNC_BUDGET}) AS BIGINT) AS n_kept,
       CAST(n > {_TRUNC_BUDGET} AS INT) AS truncated,
       md5(array_to_string(list_slice(t, 1, {_TRUNC_BUDGET}), ' '))
           AS kept_md5
FROM tk
""", tier=3, section="2.11")
def doc_truncate_budget_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TOKENIZER-FAITHFUL twin of `doc_truncate_budget` (round 9,
    VERDICT r8 #6): the 64-token context budget counted in BPE-lexer
    pretokens instead of whitespace words, so the truncation ledger
    matches what a real tokenizer bills — a 50-word document whose
    words carry punctuation is UNDER a whitespace budget of 64 but
    OVER it in subword tokens, and the whitespace op silently ships a
    document the model will truncate (the divergence is pinned on a
    constructed fixture in tests/test_wave_r9b.py). The kept_md5
    fingerprints the kept TOKEN STREAM (space-joined — the lexer
    discards inter-token whitespace, so the original byte slice is not
    reconstructible, and the fingerprint pins exactly which tokens
    survive in both engines).

    Scale shape: identical to the whitespace op — embarrassingly
    parallel single scan, zero shuffles, zero joins."""
    d = load(spark, sf_dir, "documents")
    t = F.regexp_extract_all("text", F.lit(_BPE_LEXER), 0)
    tk = d.select("doc_id", "lang", t.alias("t"))
    kept = F.array_join(F.slice(F.col("t"), 1, _TRUNC_BUDGET), " ")
    n = F.size("t")
    return tk.select(
        "doc_id", "lang",
        n.cast("long").alias("n_bpe_tokens"),
        F.least(n, F.lit(_TRUNC_BUDGET)).cast("long").alias("n_kept"),
        (n > _TRUNC_BUDGET).cast("int").alias("truncated"),
        F.md5(kept).alias("kept_md5"))


@op("doc_chunk_sliding_bpe", oracle=f"""
WITH tk AS (
    SELECT doc_id, regexp_extract_all(text, {_BPE_LEXER_SQL}) AS t,
           len(regexp_extract_all(text, {_BPE_LEXER_SQL})) AS n
    FROM documents
)
SELECT doc_id,
       s AS chunk_idx,
       s * {_CHUNK_STRIDE} AS start_tok,
       len(list_slice(t, s * {_CHUNK_STRIDE} + 1,
                      s * {_CHUNK_STRIDE} + {_CHUNK_SIZE})) AS n_tokens,
       md5(array_to_string(
           list_slice(t, s * {_CHUNK_STRIDE} + 1,
                      s * {_CHUNK_STRIDE} + {_CHUNK_SIZE}), ' '))
           AS fingerprint
FROM tk, unnest(range(0, (greatest(n, 1) - 1) // {_CHUNK_STRIDE} + 1)) g(s)
""", tier=3, section="2.11")
def doc_chunk_sliding_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TOKENIZER-FAITHFUL twin of `doc_chunk_sliding`: 32-token windows
    at stride 24 over the BPE-lexer pretoken stream, so chunk
    boundaries and chunk counts line up with what the embedding model's
    tokenizer actually sees — whitespace chunking under-counts exactly
    where text is punctuation- or number-dense, producing chunks that
    overflow the encoder window downstream. Chunk fingerprints cover
    the space-joined token stream (same rationale as
    `doc_truncate_budget_bpe`). ``greatest(n, 1)`` keeps a (lexer-)
    empty document as one empty chunk instead of dropping the doc_id —
    the audit must account for every document.

    Scale shape: tokenize once, explode per chunk index — a pure
    narrow fan-out, no shuffle anywhere (identical plan family to the
    whitespace op)."""
    d = load(spark, sf_dir, "documents")
    tk = d.select("doc_id",
                  F.regexp_extract_all("text", F.lit(_BPE_LEXER), 0)
                   .alias("t"))
    chunk = F.expr(f"slice(t, s * {_CHUNK_STRIDE} + 1, {_CHUNK_SIZE})")
    return (tk.withColumn(
                "s", F.explode(F.sequence(
                    F.lit(0),
                    F.floor((F.greatest(F.size("t"), F.lit(1)) - 1)
                            / _CHUNK_STRIDE).cast("long"))))
              .select("doc_id",
                      F.col("s").alias("chunk_idx"),
                      (F.col("s") * _CHUNK_STRIDE).alias("start_tok"),
                      F.size(chunk).alias("n_tokens"),
                      F.md5(F.array_join(chunk, " ")).alias("fingerprint")))


@op("doc_pack_nextfit_bpe", oracle=f"""
WITH RECURSIVE docs AS (
    SELECT lang,
           ('0x' || substr(md5('pack:' || CAST(doc_id AS VARCHAR)), 1, 8))
               ::BIGINT % {_PACK_SHARDS} AS shard,
           doc_id,
           CAST(len(regexp_extract_all(text, {_BPE_LEXER_SQL}))
                AS BIGINT) AS n_tok,
           row_number() OVER (
               PARTITION BY lang,
                   ('0x' || substr(md5('pack:' || CAST(doc_id AS VARCHAR)),
                                   1, 8))::BIGINT % {_PACK_SHARDS}
               ORDER BY doc_id) AS rn
    FROM documents
), r AS (
    SELECT lang, shard, doc_id, n_tok, rn,
           CAST(0 AS BIGINT) AS pack_id, n_tok AS cum
    FROM docs WHERE rn = 1
    UNION ALL
    SELECT d.lang, d.shard, d.doc_id, d.n_tok, d.rn,
           CASE WHEN r.cum + d.n_tok > {_PACK_BUDGET}
                THEN r.pack_id + 1 ELSE r.pack_id END,
           CASE WHEN r.cum + d.n_tok > {_PACK_BUDGET}
                THEN d.n_tok ELSE r.cum + d.n_tok END
    FROM r JOIN docs d ON d.lang = r.lang AND d.shard = r.shard
                      AND d.rn = r.rn + 1
)
SELECT lang, shard, pack_id,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_tok) AS BIGINT) AS tok_sum,
       round(CAST(sum(n_tok) AS DOUBLE) / {_PACK_BUDGET}, 6) AS fill
FROM r GROUP BY 1, 2, 3
""", tier=3, section="2.11")
def doc_pack_nextfit_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TOKENIZER-FAITHFUL twin of `doc_pack_nextfit` (completing the
    round-9 BPE-budget family with `doc_truncate_budget_bpe` /
    `doc_chunk_sliding_bpe`): the 512-token next-fit sequence packer
    billing documents in BPE-lexer pretokens instead of whitespace
    words. Whitespace packing systematically OVERFILLS real training
    sequences wherever text is punctuation- or number-dense — a pack
    that sums to 512 whitespace words can exceed the encoder budget by
    2x in subword tokens; billing the walk in lexer tokens makes the
    fill ratios the trainer actually sees. Same shard layout, same
    next-fit recursion, same grouped-map walk — only the token meter
    changes, so the whitespace/BPE pack-count divergence is directly
    attributable (pinned in tests/test_wave_r9b.py).

    Scale shape: identical to the whitespace packer — one shuffle to
    co-locate each (lang, shard) group, then an arrow-batched
    grouped-map walk; the recursion state is all integers, replayed
    exactly by the oracle's recursive CTE."""
    d = load(spark, sf_dir, "documents")
    shard = _h32(F.concat(F.lit("pack:"), F.col("doc_id").cast("string"))) \
        % _PACK_SHARDS
    base = d.select(
        "lang", shard.alias("shard"), "doc_id",
        F.size(F.regexp_extract_all("text", F.lit(_BPE_LEXER), 0))
         .cast("long").alias("n_tok"))
    packed = base.groupBy("lang", "shard").applyInPandas(
        _pack_pdf,
        "lang string, shard long, doc_id long, n_tok long, pack_id long")
    return (packed.groupBy("lang", "shard", "pack_id")
                  .agg(F.count("*").alias("n_docs"),
                       F.sum("n_tok").alias("tok_sum"),
                       F.round(F.sum("n_tok").cast("double") / _PACK_BUDGET,
                               6).alias("fill")))


@op("text_quality_calibration", oracle=f"""
WITH model AS (
{{model_oracle}}
), tiled AS (
    SELECT *, CAST(ntile(10) OVER (ORDER BY score, doc_id) AS INT)
              AS decile
    FROM model
)
SELECT decile,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(label_heuristic) AS BIGINT) AS n_good_heuristic,
       CAST(sum(pred_good) AS BIGINT) AS n_pred_good,
       round(CAST(sum(CASE WHEN pred_good = label_heuristic
                           THEN 1 ELSE 0 END) AS DOUBLE)
             / count(*), 6) AS agreement,
       round(CAST(sum(CAST(round(score * 1000000.0) AS BIGINT)) AS DOUBLE)
             / count(*) / 1000000.0, 6) AS avg_score
FROM tiled GROUP BY decile
""".format(model_oracle=REGISTRY["text_quality_model"].oracle),
    tier=3, section="2.11")
def text_quality_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calibration table for the trained quality scorer — the evaluation
    artifact a pipeline reviews before trusting `text_quality_model`'s
    score as a filter dial: rank every document by model score, cut the
    ranking into exact deciles, and report per decile the document
    count, the heuristic-good count, the model-keep count, the
    model-vs-heuristic agreement rate, and the mean score. A healthy
    distant-supervised model concentrates the heuristic's rejects in
    the bottom deciles and saturates good at the top — which is what
    the sf0.01 corpus measures (heuristic-good share 0.58 in decile 1
    rising to 1.0 in the upper deciles; the residual bottom-decile
    disagreement is exactly the model-vs-heuristic boundary the dial
    exists to tune).

    Exactness: the deciles come from the exact two-phase ntile
    (`api.bucketed_ntile` — value-identical to SQL ntile at any
    parallelism) over the deterministic (score, doc_id) total order;
    the mean score aggregates round(score·1e6) exact longs
    (order-invariant) with one divide-back; agreement is an exact
    integer ratio.

    Scale shape: the model frame is the `text_quality_model` plan
    (linear, token-keyed); the ranking is the bucketed two-phase rank —
    quarter-log-odds score bands as buckets, so no unpartitioned window
    ever sees fact rows and the only ordered window runs over band
    cardinality; the final aggregate is a 10-group map-combinable
    hash agg."""
    from ..api import bucketed_ntile

    model = text_quality_model(spark, sf_dir)
    tiled = bucketed_ntile(model, F.floor(F.col("score") * 4),
                           [F.col("score"), F.col("doc_id")], 10,
                           tile_name="decile")
    fx = F.round(F.col("score") * 1000000.0, 0).cast("long")
    agree = (F.col("pred_good") == F.col("label_heuristic")).cast("int")
    return (tiled.groupBy(F.col("decile").cast("int").alias("decile"))
                 .agg(F.count("*").alias("n_docs"),
                      F.sum("label_heuristic").cast("long")
                       .alias("n_good_heuristic"),
                      F.sum("pred_good").cast("long").alias("n_pred_good"),
                      F.round(F.sum(agree).cast("double") / F.count("*"), 6)
                       .alias("agreement"),
                      F.round(F.sum(fx).cast("double") / F.count("*")
                              / F.lit(1000000.0), 6).alias("avg_score")))


# ==========================================================================
# Round-10 second wave (SURVEY.md §2.31)
# ==========================================================================

#: Window length (in whitespace tokens) for exact-substring dedup. The
#: published recipe (Lee et al. 2022, "Deduplicating Training Data Makes
#: Language Models Better") uses 50 BPE tokens; this corpus's documents
#: average ~54 whitespace tokens, so 10 tokens plays the same structural
#: role (multiple windows per doc, cross-doc repeats actually occur).
_SUBSTR_W = 10

#: A window is "duplicated" when its content hash appears in >= this many
#: DISTINCT documents (within-doc repetition alone is not duplication).
_SUBSTR_MIN_DOCS = 2


def _substr_windows(d: DataFrame) -> DataFrame:
    """(doc_id, wh): the pre-checkpoint hashed sliding-window stream —
    every {W}-token window collapsed to its portable 32-bit hash in the
    same projection (no window text ever reaches an exchange). Exposed
    separately so the scan-pruning plan pin can inspect the shape the
    checkpoint in ``text_substring_dedup`` executes. Spark's
    sequence(1, n) DESCENDS when n < 1, so short docs are guarded
    explicitly (DuckDB's generate_series is empty there)."""
    toks = d.select("doc_id", F.split("text", " ").alias("t"))
    wins = toks.select(
        "doc_id",
        F.explode(F.expr(
            f"CASE WHEN size(t) >= {_SUBSTR_W} THEN "
            f"transform(sequence(1, size(t) - {_SUBSTR_W - 1}), "
            f"i -> array_join(slice(t, i, {_SUBSTR_W}), ' ')) "
            f"ELSE array() END")).alias("win"))
    return wins.select("doc_id", _h32(F.col("win")).alias("wh"))


@op("text_substring_dedup", oracle=f"""
WITH toks AS (
    SELECT doc_id, string_split(text, ' ') AS t FROM documents
), wins AS (
    SELECT doc_id,
           ('0x' || substr(md5(array_to_string(
                t[i.i : i.i + {_SUBSTR_W - 1}], ' ')), 1, 8))::BIGINT AS wh
    FROM toks,
         unnest(generate_series(
             1, greatest(len(t) - {_SUBSTR_W - 1}, 0))) AS i(i)
), dup AS (
    SELECT wh FROM wins
    GROUP BY wh HAVING count(DISTINCT doc_id) >= {_SUBSTR_MIN_DOCS}
), per_doc AS (
    SELECT w.doc_id,
           count(*) AS n_windows,
           CAST(count(*) FILTER (WHERE dup.wh IS NOT NULL) AS BIGINT)
               AS n_dup
    FROM wins w LEFT JOIN dup ON dup.wh = w.wh
    GROUP BY w.doc_id
)
SELECT d.doc_id,
       CAST(coalesce(p.n_windows, 0) AS BIGINT) AS n_windows,
       CAST(coalesce(p.n_dup, 0) AS BIGINT) AS n_dup_windows,
       round(p.n_dup / CAST(p.n_windows AS DOUBLE), 6) AS dup_frac,
       CAST(coalesce(p.n_dup / CAST(p.n_windows AS DOUBLE) >= 0.5, FALSE)
            AS INT) AS flagged
FROM documents d LEFT JOIN per_doc p ON p.doc_id = d.doc_id
""", tier=3, section="2.31")
def text_substring_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT-SUBSTRING dedup audit (the Lee-et-al-2022 shape): every
    {W}-token sliding window is content-hashed; a window whose hash
    occurs in >= 2 DISTINCT documents is a duplicated span; each doc
    reports its window count, duplicated-window count, duplicated
    fraction and a >= 50% flag. This is the span-level complement of
    `dedup_exact_text` (whole doc) and `dedup_near_minhash` (whole-doc
    similarity): it catches boilerplate paragraphs and quotations that
    whole-doc methods miss entirely.

    Scale shape: windows never leave the executor as text — each one
    collapses to the portable 32-bit hash immediately after
    `array_join`, so the shuffle payload is (doc_id, wh) longs, ~W
    rows per document (linear in corpus tokens). The duplicated-hash
    set is found by one map-combinable distinct + hash agg on wh, and
    attached back by a wh-keyed equi-join (never broadcast: the dup set
    grows with the corpus). Docs shorter than W tokens produce zero
    windows and report NULL dup_frac (pinned in tests). A 32-bit hash
    collision marks the same window pair on both engines (the hash IS
    the definition, as everywhere in this repo); for a 100 TB corpus
    you would widen to the md5-derived 64-bit key, a constant change.
    """
    d = load(spark, sf_dir, "documents")
    # r13: materialize the hashed-window stream once — it feeds both the
    # dup-set aggregate and the per-doc attach join, and recomputing it
    # re-runs the explode + array_join + md5 over every corpus token
    # (the stream itself is two longs per window, tiny). r14: lazy, so
    # the materialization rides the query's own first action instead of
    # a separate up-front job (same trade as _shingles).
    wins = _substr_windows(d).localCheckpoint(eager=False)
    dup = (wins.select("wh", "doc_id").distinct()
               .groupBy("wh").agg(F.count("*").alias("nd"))
               .filter(F.col("nd") >= _SUBSTR_MIN_DOCS)
               .select("wh", F.lit(1).alias("is_dup")))
    per_doc = (wins.join(dup, "wh", "left")
                   .groupBy("doc_id")
                   .agg(F.count("*").alias("n_windows"),
                        F.sum(F.coalesce("is_dup", F.lit(0)))
                         .cast("long").alias("n_dup")))
    frac = F.col("n_dup") / F.col("n_windows").cast("double")
    return (d.select("doc_id").join(per_doc, "doc_id", "left")
             .select("doc_id",
                     F.coalesce("n_windows", F.lit(0)).cast("long")
                      .alias("n_windows"),
                     F.coalesce("n_dup", F.lit(0)).cast("long")
                      .alias("n_dup_windows"),
                     F.round(frac, 6).alias("dup_frac"),
                     F.coalesce((frac >= 0.5).cast("int"), F.lit(0))
                      .alias("flagged")))


# ==========================================================================
# Round-11 wave (SURVEY.md §2.37): corpus-trained BPE merges + the
# merged-token budget meters (VERDICT r10 "what's missing" #2 — the
# lexer-pretoken meters approximate what a real tokenizer bills; a
# trained merge table makes the budget ops subword-exact).
# ==========================================================================

#: Bounded merge-training rounds (the "top-K merge table"). Each round
#: is one map-combinable pair-count aggregate over the VOCABULARY frame
#: (distinct pretokens x counts — never the corpus) + a 1-row argmax;
#: the DuckDB oracle replays exactly K chained MATERIALIZED CTE rounds,
#: so changing K means regenerating `_duck_bpe_prefix()` (it does, both
#: move together).
_BPE_TRAIN_K = 8

#: Symbol-boundary delimiters for the merge-application encoding: a
#: pretoken encodes as <D1>c<D2><D1>c<D2>..., and merge (x, y) applies
#: as the plain string replace of <D1>x<D2><D1>y<D2> with <D1>xy<D2> —
#: replace() in BOTH engines scans left-to-right non-overlapping, which
#: IS standard greedy BPE application, and the delimiters make a match
#: possible only at true symbol boundaries (no symbol contains D1/D2).
#: Control chars: the lexer strips whitespace and documents are prose,
#: so \x02/\x03 cannot occur inside a symbol.
_BPE_D1, _BPE_D2 = "\x02", "\x03"
_BPE_SYM_RE = f"{_BPE_D1}([^{_BPE_D2}]*){_BPE_D2}"


def _duck_bpe_prefix(k: int = _BPE_TRAIN_K) -> str:
    """The training replay: words0 = encoded vocabulary with counts;
    round i = pair counts -> best pair (argmax with the ('', '', 0)
    no-op sentinel so a dried-up corpus keeps the chain total) ->
    words_i = merge applied. MATERIALIZED is load-bearing: plain CTEs
    re-inline the whole upstream chain per round (the
    `pipeline_corpus_audit` lesson). ``k`` parameterizes the round
    count (round 12: the K=64 encoder replays 64 rounds); the default
    keeps every pre-r12 oracle byte-identical."""
    d1, d2 = _BPE_D1, _BPE_D2
    parts = [f"""btok AS MATERIALIZED (
    SELECT unnest(regexp_extract_all(text, {_BPE_LEXER_SQL})) AS t
    FROM documents
), words0 AS MATERIALIZED (
    SELECT regexp_replace(t, '(.)', '{d1}\\1{d2}', 'g') AS w,
           count(*) AS cnt
    FROM btok GROUP BY t
)"""]
    for i in range(1, k + 1):
        p = i - 1
        parts.append(f"""pairs{i} AS MATERIALIZED (
    SELECT s[j] AS x, s[j + 1] AS y, CAST(sum(cnt) AS BIGINT) AS pc
    FROM (SELECT regexp_extract_all(w, '{_BPE_SYM_RE}', 1) AS s, cnt
          FROM words{p}) e, unnest(range(1, len(s))) g(j)
    GROUP BY 1, 2
), best{i} AS MATERIALIZED (
    SELECT x, y, pc FROM (
        SELECT x, y, pc FROM pairs{i}
        UNION ALL SELECT '', '', CAST(0 AS BIGINT)
    ) ORDER BY pc DESC, x, y LIMIT 1
), words{i} AS MATERIALIZED (
    SELECT replace(w, '{d1}' || x || '{d2}{d1}' || y || '{d2}',
                   '{d1}' || x || y || '{d2}') AS w, cnt
    FROM words{p} CROSS JOIN best{i}
)""")
    return ",\n".join(parts)


def _duck_bpe_apply(expr: str, k: int = _BPE_TRAIN_K) -> str:
    """The K-round replace chain over one encoded-pretoken expression,
    with best{i} aliased b{i} (cross-joined 1-row frames)."""
    d1, d2 = _BPE_D1, _BPE_D2
    out = expr
    for i in range(1, k + 1):
        out = (f"replace({out}, '{d1}' || b{i}.x || '{d2}{d1}' || b{i}.y"
               f" || '{d2}', '{d1}' || b{i}.x || b{i}.y || '{d2}')")
    return out


def _duck_bpe_cross(k: int = _BPE_TRAIN_K) -> str:
    return " ".join(f"CROSS JOIN best{i} b{i}" for i in range(1, k + 1))


_DUCK_BPE_CROSS = _duck_bpe_cross()

#: Per-doc merged-token list CTE (doc_id, lang, t) shared by the two
#: budget meters' oracles.
_DUCK_BPE_TOKS = f"""benc AS (
    SELECT doc_id, lang,
           list_transform(regexp_extract_all(text, {_BPE_LEXER_SQL}),
                          s -> regexp_replace(s, '(.)',
                                              '{_BPE_D1}\\1{_BPE_D2}',
                                              'g')) AS e
    FROM documents
), btoks AS MATERIALIZED (
    SELECT doc_id, lang,
           flatten(list_transform(e,
               s -> regexp_extract_all({_duck_bpe_apply('s')},
                                       '{_BPE_SYM_RE}', 1))) AS t
    FROM benc {_DUCK_BPE_CROSS}
)"""


def _bpe_merge_frames(spark: SparkSession, d: DataFrame,
                      k: int = _BPE_TRAIN_K) -> list[DataFrame]:
    """Train the top-K merge table; returns K 1-row frames (x, y, pc)
    in merge-rank order (the ('', '', 0) no-op sentinel when a round
    finds no pair — its replace pattern cannot occur, so applying it is
    the identity and a dried-up corpus degrades gracefully instead of
    emptying the chain).

    Scale shape: the training frame is the VOCABULARY (distinct
    pretokens + counts — one corpus-side hash agg builds it, nothing
    corpus-sized ever iterates); each of the K bounded rounds is one
    map-combinable weighted pair-count aggregate + a 1-row argmax +
    one narrow replace over the vocab. Per-round frames are
    vocab-bounded and eagerly localCheckpointed (the sigma-clip
    bounded-rounds discipline — without it round r's lineage compounds
    r plans deep)."""
    tok = d.select(F.explode(
        F.regexp_extract_all("text", F.lit(_BPE_LEXER), 0)).alias("t"))
    words = (tok.groupBy("t").agg(F.count("*").alias("cnt"))
                .select(F.regexp_replace(
                    "t", "(.)", _BPE_D1 + "$1" + _BPE_D2).alias("w"),
                    "cnt")
                .localCheckpoint())
    noop = spark.createDataFrame([("", "", 0)],
                                 "x string, y string, pc long")
    bests: list[DataFrame] = []
    for _ in range(k):
        syms = words.select(
            "cnt", F.regexp_extract_all("w", F.lit(_BPE_SYM_RE), 1)
                    .alias("s"))
        pairs = (syms.filter(F.size("s") >= 2)
                     .select("cnt", F.explode(F.expr(
                         "transform(sequence(1, size(s) - 1), "
                         "j -> struct(s[j - 1] AS x, s[j] AS y))"))
                         .alias("p"))
                     .select("cnt", "p.*")
                     .groupBy("x", "y")
                     .agg(F.sum("cnt").cast("long").alias("pc")))
        best = (pairs.unionByName(noop)
                     .orderBy(F.col("pc").desc(), "x", "y").limit(1)
                     .localCheckpoint())
        bests.append(best)
        pat = F.concat(F.lit(_BPE_D1), F.col("x"),
                       F.lit(_BPE_D2 + _BPE_D1), F.col("y"),
                       F.lit(_BPE_D2))
        rep = F.concat(F.lit(_BPE_D1), F.col("x"), F.col("y"),
                       F.lit(_BPE_D2))
        words = (words.crossJoin(F.broadcast(
                    best.select(pat.alias("_pat"), rep.alias("_rep"))))
                      .select(F.replace("w", F.col("_pat"),
                                        F.col("_rep")).alias("w"), "cnt")
                      .localCheckpoint())
    return bests


def _bpe_merged_tokens(d: DataFrame,
                       bests: list[DataFrame]) -> DataFrame:
    """``d`` + a ``toks`` column: the per-document merged-token stream
    (document order), produced by encoding every lexer pretoken and
    applying the K broadcast merge rules in rank order — a pure narrow
    map over the corpus (the only joins are K broadcast 1-row rules)."""
    df = d.withColumn("_enc", F.transform(
        F.regexp_extract_all("text", F.lit(_BPE_LEXER), 0),
        lambda t: F.regexp_replace(t, "(.)",
                                   _BPE_D1 + "$1" + _BPE_D2)))
    for i, b in enumerate(bests, 1):
        pat = F.concat(F.lit(_BPE_D1), F.col("x"),
                       F.lit(_BPE_D2 + _BPE_D1), F.col("y"),
                       F.lit(_BPE_D2))
        rep = F.concat(F.lit(_BPE_D1), F.col("x"), F.col("y"),
                       F.lit(_BPE_D2))
        pc, rc = f"_p{i}", f"_r{i}"
        # closure factory: F.transform requires a 1-2 positional-arg
        # lambda, so the rule columns bind via an outer function
        apply_rule = (lambda p, r:
                      (lambda e: F.replace(e, F.col(p), F.col(r))))(pc, rc)
        df = (df.crossJoin(F.broadcast(
                  b.select(pat.alias(pc), rep.alias(rc))))
                .withColumn("_enc", F.transform("_enc", apply_rule))
                .drop(pc, rc))
    return (df.withColumn("toks", F.flatten(F.transform(
                "_enc", lambda e: F.regexp_extract_all(
                    e, F.lit(_BPE_SYM_RE), 1))))
              .drop("_enc"))


@op("text_bpe_train", oracle=f"""
WITH {_duck_bpe_prefix()}
SELECT * FROM (
    {" UNION ALL ".join(
        f"SELECT CAST({i} AS INT) AS merge_rank, x AS lhs, y AS rhs, "
        f"x || y AS merged, pc AS pair_count FROM best{i}"
        for i in range(1, _BPE_TRAIN_K + 1))}
) WHERE pair_count > 0
""", tier=3, section="2.37")
def text_bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CORPUS-TRAINED BPE MERGE TABLE (VERDICT r10 missing #2): the
    top-{_BPE_TRAIN_K} byte-pair merges learned from the documents
    corpus by the standard iterative recipe (Sennrich et al. 2016,
    reduced to its aggregates) — round i counts adjacent symbol pairs
    over the vocabulary WEIGHTED by pretoken frequency, crowns the
    most frequent pair (ties: lexicographic (x, y) — deterministic
    binary collation in both engines), and applies it everywhere via
    the delimiter-guarded string replace (exactly greedy left-to-right
    non-overlapping application, see `_BPE_D1`). Output: one row per
    learned merge (rank, the pair, the merged symbol, the weighted
    pair count at crowning time).

    The DuckDB oracle replays the identical {_BPE_TRAIN_K} rounds as
    chained MATERIALIZED CTEs — every count, argmax and replace is
    exact integer/string work, so the merge tables match value-for-
    value.

    Scale shape: training never touches the corpus after ONE hash agg
    builds the (distinct pretoken, count) vocabulary; each bounded
    round is a map-combinable weighted pair count over vocab rows + a
    1-row argmax (TakeOrdered, no global sort) + a narrow replace.
    At 100 TB the vocabulary is still ~10^6 rows — driver-scale rounds
    over an executor-resident frame."""
    d = load(spark, sf_dir, "documents")
    bests = _bpe_merge_frames(spark, d)
    out = None
    for i, b in enumerate(bests, 1):
        r = b.select(F.lit(i).cast("int").alias("merge_rank"),
                     F.col("x").alias("lhs"), F.col("y").alias("rhs"),
                     F.concat("x", "y").alias("merged"),
                     F.col("pc").cast("long").alias("pair_count"))
        out = r if out is None else out.unionByName(r)
    return out.filter(F.col("pair_count") > 0)


@op("doc_truncate_budget_merged", oracle=f"""
WITH {_duck_bpe_prefix()},
{_DUCK_BPE_TOKS}
SELECT doc_id, lang,
       CAST(len(t) AS BIGINT) AS n_merged_tokens,
       CAST(least(len(t), {_TRUNC_BUDGET}) AS BIGINT) AS n_kept,
       CAST(len(t) > {_TRUNC_BUDGET} AS INT) AS truncated,
       md5(array_to_string(list_slice(t, 1, {_TRUNC_BUDGET}), ' '))
           AS kept_md5
FROM btoks
""", tier=3, section="2.37")
def doc_truncate_budget_merged(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    """MERGED-TOKEN twin of `doc_truncate_budget_bpe`: the
    {_TRUNC_BUDGET}-token context budget billed in TRAINED subword
    units — every pretoken runs through the corpus-trained
    top-{_BPE_TRAIN_K} merge table (`text_bpe_train`) and the budget
    counts the resulting symbols, so the ledger tracks a learned
    tokenizer instead of the pretoken approximation (pretokens
    UNDER-count precisely where text is long-word dense: a 50-pretoken
    document can be hundreds of subword symbols — the divergence is
    pinned on a constructed fixture in tests/test_wave_r11.py).
    kept_md5 fingerprints the kept merged-symbol stream (space-joined)
    in both engines.

    Scale shape: training is vocab-sized (see `text_bpe_train`);
    metering is a pure narrow map over the corpus — K broadcast 1-row
    merge rules, zero shuffles, zero corpus joins."""
    d = load(spark, sf_dir, "documents")
    tk = _bpe_merged_tokens(d, _bpe_merge_frames(spark, d)) \
        .select("doc_id", "lang", "toks")
    n = F.size("toks")
    kept = F.array_join(F.slice("toks", 1, _TRUNC_BUDGET), " ")
    return tk.select(
        "doc_id", "lang",
        n.cast("long").alias("n_merged_tokens"),
        F.least(n, F.lit(_TRUNC_BUDGET)).cast("long").alias("n_kept"),
        (n > _TRUNC_BUDGET).cast("int").alias("truncated"),
        F.md5(kept).alias("kept_md5"))


@op("doc_pack_nextfit_merged", oracle=f"""
WITH RECURSIVE {_duck_bpe_prefix()},
{_DUCK_BPE_TOKS},
docs AS (
    SELECT lang,
           ('0x' || substr(md5('pack:' || CAST(doc_id AS VARCHAR)), 1, 8))
               ::BIGINT % {_PACK_SHARDS} AS shard,
           doc_id,
           CAST(len(t) AS BIGINT) AS n_tok,
           row_number() OVER (
               PARTITION BY lang,
                   ('0x' || substr(md5('pack:' || CAST(doc_id AS VARCHAR)),
                                   1, 8))::BIGINT % {_PACK_SHARDS}
               ORDER BY doc_id) AS rn
    FROM btoks
), r AS (
    SELECT lang, shard, doc_id, n_tok, rn,
           CAST(0 AS BIGINT) AS pack_id, n_tok AS cum
    FROM docs WHERE rn = 1
    UNION ALL
    SELECT d.lang, d.shard, d.doc_id, d.n_tok, d.rn,
           CASE WHEN r.cum + d.n_tok > {_PACK_BUDGET}
                THEN r.pack_id + 1 ELSE r.pack_id END,
           CASE WHEN r.cum + d.n_tok > {_PACK_BUDGET}
                THEN d.n_tok ELSE r.cum + d.n_tok END
    FROM r JOIN docs d ON d.lang = r.lang AND d.shard = r.shard
                      AND d.rn = r.rn + 1
)
SELECT lang, shard, pack_id,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_tok) AS BIGINT) AS tok_sum,
       round(CAST(sum(n_tok) AS DOUBLE) / {_PACK_BUDGET}, 6) AS fill
FROM r GROUP BY 1, 2, 3
""", tier=3, section="2.37")
def doc_pack_nextfit_merged(spark: SparkSession,
                            sf_dir: str) -> DataFrame:
    """MERGED-TOKEN twin of `doc_pack_nextfit_bpe`: the
    {_PACK_BUDGET}-token next-fit sequence packer billing documents in
    trained subword units (`text_bpe_train`'s merge table) instead of
    lexer pretokens. Pretoken packing systematically OVERFILLS real
    training sequences wherever long words dominate — a pack summing
    to {_PACK_BUDGET} pretokens can be several times that in subword
    symbols; billing the walk in merged tokens makes the fill ratios
    the trainer actually sees. Same shard layout, same next-fit
    recursion, same grouped-map walk — only the token meter changes,
    so pack-count divergence vs the pretoken packer is directly
    attributable (pinned in tests/test_wave_r11.py).

    Scale shape: metering is the narrow merged-token map; packing is
    the one (lang, shard) shuffle + the arrow-batched grouped-map
    walk — identical plan family to both earlier packers."""
    d = load(spark, sf_dir, "documents")
    tk = _bpe_merged_tokens(d, _bpe_merge_frames(spark, d))
    shard = _h32(F.concat(F.lit("pack:"), F.col("doc_id").cast("string"))) \
        % _PACK_SHARDS
    base = tk.select("lang", shard.alias("shard"), "doc_id",
                     F.size("toks").cast("long").alias("n_tok"))
    packed = base.groupBy("lang", "shard").applyInPandas(
        _pack_pdf,
        "lang string, shard long, doc_id long, n_tok long, pack_id long")
    return (packed.groupBy("lang", "shard", "pack_id")
                  .agg(F.count("*").alias("n_docs"),
                       F.sum("n_tok").alias("tok_sum"),
                       F.round(F.sum("n_tok").cast("double") / _PACK_BUDGET,
                               6).alias("fill")))


@op("dedup_cluster_cc_star",
    oracle=REGISTRY["dedup_cluster_cc"].oracle,
    tier=3, section="2.37")
def dedup_cluster_cc_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DIAMETER-INDEPENDENT twin of `dedup_cluster_cc` (VERDICT r10
    missing #4): the same jaccard >= 0.5 near-dup components labeled by
    min doc_id, computed by the alternating large-star/small-star
    algorithm (`cc.cc_star`) instead of bounded-round min-label
    propagation (`cc.min_label_cc`) — converging in O(log² n) rounds
    regardless of component diameter, so the >10-diameter chain that makes the
    bounded-round op FAIL LOUDLY (correct detection, ADVICE r9) simply
    resolves here (both behaviors pinned side-by-side on a planted
    13-doc sliding-overlap chain in tests/test_cc.py; on every
    corpus where both converge the outputs are value-identical, and
    the DuckDB oracle is the bounded-round op's recursive CTE
    VERBATIM — same fixpoint, different route).

    Scale shape: the edge list is the post-LSH-verify pair set
    (duplicate-population-sized); each star round is two grouped
    min-aggregates + joins over it with eagerly checkpointed
    edge-sized frames — the same per-round cost as min-label, for a
    round count that no longer depends on graph shape."""
    pairs = dedup_ngram_jaccard(spark, sf_dir).select(
        F.col("doc1").alias("a"), F.col("doc2").alias("b"))
    return cc_star(pairs).select(F.col("node").alias("doc_id"),
                                 F.col("lbl").alias("cluster_id"))


# ==========================================================================
# Round-12 wave (SURVEY.md §2.38): language identification — VERDICT r11
# missing #5: the screen every multilingual corpus runs before
# `sample_domain_mix` trusts the lang column.
# ==========================================================================

#: langid dials: char n-gram order, the fixed-point grids (per-ngram
#: weight sum on 1e-9 like `text_quality_model`; the per-class score is
#: re-quantized onto 1e-6 before the argmax so the cross-class compare
#: is an exact long compare on both engines), and the md5 train modulus
#: (shared discipline with _QM_TRAIN_MOD — same 20% slice).
_LANGID_N = 3
_LANGID_QGRID = 1000000.0


@op("text_langid_model", oracle=f"""
WITH lab AS (
    SELECT doc_id, lang,
           CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
                % {_QM_TRAIN_MOD} = 0 AS INT) AS is_train
    FROM documents
), gtok AS (
    SELECT doc_id,
           unnest(list_transform(
               generate_series(1, greatest(length(text) - {_LANGID_N - 1},
                                           0)),
               i -> substr(text, i, {_LANGID_N}))) AS g
    FROM documents
), cls AS (
    SELECT lang AS k, CAST(count(*) AS BIGINT) AS n_docs
    FROM lab WHERE is_train = 1 GROUP BY lang
), clstot AS (
    SELECT CAST(sum(n_docs) AS BIGINT) AS nt,
           CAST(count(*) AS BIGINT) AS c FROM cls
), pri AS (
    SELECT k, ln((n_docs + 1.0) / (t.nt + t.c)) AS prior
    FROM cls CROSS JOIN clstot t
), cnt AS (
    SELECT t.g, l.lang AS k, CAST(count(*) AS BIGINT) AS c
    FROM gtok t JOIN lab l USING (doc_id)
    WHERE l.is_train = 1 GROUP BY t.g, l.lang
), tot AS (
    SELECT k, CAST(sum(c) AS BIGINT) AS tk FROM cnt GROUP BY k
), voc AS (
    SELECT CAST(count(DISTINCT g) AS BIGINT) AS v FROM cnt
), w AS (
    SELECT g, k, CAST(floor(ln(c + 1.0) * {_QM_FX}) AS BIGINT) AS wfx
    FROM cnt
), docn AS (
    SELECT d.doc_id, CAST(count(t.g) AS BIGINT) AS n_ngrams
    FROM documents d LEFT JOIN gtok t USING (doc_id) GROUP BY d.doc_id
), sums AS (
    SELECT t.doc_id, w.k, CAST(sum(w.wfx) AS BIGINT) AS sfx
    FROM gtok t JOIN w USING (g) GROUP BY t.doc_id, w.k
), scored AS (
    SELECT n.doc_id, c.k, n.n_ngrams,
           CAST(floor((CAST(COALESCE(s.sfx, 0) AS DOUBLE) / {_QM_FX}
                       - n.n_ngrams * ln(CAST(t.tk + v.v AS DOUBLE))
                       + p.prior) * {_LANGID_QGRID}) AS BIGINT) AS qfx
    FROM docn n CROSS JOIN cls c
    LEFT JOIN sums s ON s.doc_id = n.doc_id AND s.k = c.k
    JOIN tot t ON t.k = c.k
    JOIN pri p ON p.k = c.k
    CROSS JOIN voc v
), ranked AS (
    SELECT doc_id, k, n_ngrams, qfx,
           row_number() OVER (PARTITION BY doc_id
                              ORDER BY qfx DESC, k) AS rn
    FROM scored
)
SELECT b1.doc_id, l.lang, b1.k AS pred_lang, l.is_train,
       b1.n_ngrams,
       round((b1.qfx - b2.qfx) / {_LANGID_QGRID}, 6) AS margin,
       CAST(b1.k = l.lang AS INT) AS agree
FROM ranked b1
LEFT JOIN ranked b2 ON b2.doc_id = b1.doc_id AND b2.rn = 2
JOIN lab l ON l.doc_id = b1.doc_id
WHERE b1.rn = 1
""", tier=3, section="2.38")
def text_langid_model(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRAINED language-ID classifier (VERDICT r11 missing #5): char
    3-gram (``_LANGID_N``) multinomial Naive Bayes — the public
    fastText-langid / CLD stand-in — trained by DISTANT SUPERVISION on
    the deterministic md5-lowest 20% doc_id slice using the corpus's
    own ``lang`` COLUMN as labels, then scoring every document
    CONTENT-ONLY (the column never feeds the features). Output per doc:
    the column lang, the predicted lang, the train-slice flag, the
    n-gram count, the decision margin (best minus runner-up class
    log-score), and the agreement flag — the audit a multilingual
    pipeline runs before `sample_domain_mix` trusts the column.

    Exactness (multi-class upgrade of `text_quality_model`'s
    discipline): per-class score decomposes as
    ``Σ_t ln(c_tk + 1) − n·ln(t_k + V) + ln prior_k`` — the add-one
    smoothing folded so that unobserved (ngram, class) pairs and OOV
    ngrams contribute EXACTLY zero, which kills the OOV fallback row
    AND the dense vocab×class grid (the weight table holds only
    observed pairs). The Σ term is a sum of 1e-9-grid longs
    (order-invariant); the remaining three-term expression is the same
    IEEE tree on both engines over exact-integer inputs, re-quantized
    onto the 1e-6 grid so the cross-class ARGMAX is an exact long
    compare with a lexicographic tie-break.

    Scale shape: training is one (ngram, class) hash aggregate over the
    TRAIN n-gram stream; scoring joins the corpus n-gram stream
    token-keyed against the observed-pair weight table (linear shuffle,
    never a vocab broadcast) and aggregates (doc, class) partial sums —
    ≤ C rows per doc with C = |languages| (bounded, unlike the vocab);
    class totals/priors ride C-row broadcast frames; the argmax is a
    doc_id-partitioned window over C rows per doc. Zero-ngram docs
    (text shorter than the n-gram order) still classify — by prior
    alone — via the docs×classes left-join grid."""
    d = load(spark, sf_dir, "documents")
    hv = F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8),
                16, 10).cast("long")
    lab = d.select("doc_id", "lang",
                   (hv % _QM_TRAIN_MOD == 0).cast("int").alias("is_train"))
    # Spark's sequence(1, 0) descends ([1, 0]); guard short texts
    grams = F.when(
        F.length("text") >= _LANGID_N,
        F.expr(f"transform(sequence(1, length(text) - {_LANGID_N - 1}), "
               f"i -> substring(text, i, {_LANGID_N}))")
    ).otherwise(F.array())
    ng = d.select("doc_id", F.explode(grams).alias("g"))

    train = lab.filter(F.col("is_train") == 1)
    cnt = (ng.join(train.select("doc_id", F.col("lang").alias("k")),
                   "doc_id")
             .groupBy("g", "k").agg(F.count("*").cast("long").alias("c")))
    cls = train.groupBy(F.col("lang").alias("k")) \
               .agg(F.count("*").cast("long").alias("n_docs"))
    clstot = cls.agg(F.sum("n_docs").cast("long").alias("nt"),
                     F.count("*").cast("long").alias("c"))
    pri = (cls.crossJoin(F.broadcast(clstot))
              .select("k", F.log((F.col("n_docs") + F.lit(1.0))
                                 / (F.col("nt") + F.col("c")))
                      .alias("prior")))
    tot = cnt.groupBy("k").agg(F.sum("c").cast("long").alias("tk"))
    voc = cnt.agg(F.countDistinct("g").cast("long").alias("v"))
    w = cnt.select("g", "k",
                   F.floor(F.log(F.col("c") + F.lit(1.0))
                           * F.lit(_QM_FX)).cast("long").alias("wfx"))

    docn = (d.select("doc_id").join(ng, "doc_id", "left")
             .groupBy("doc_id")
             .agg(F.count("g").cast("long").alias("n_ngrams")))
    sums = (ng.join(w, "g")
              .groupBy("doc_id", "k")
              .agg(F.sum("wfx").cast("long").alias("sfx")))
    qfx = F.floor((F.coalesce("sfx", F.lit(0)).cast("double")
                   / F.lit(_QM_FX)
                   - F.col("n_ngrams")
                   * F.log((F.col("tk") + F.col("v")).cast("double"))
                   + F.col("prior")) * F.lit(_LANGID_QGRID)).cast("long")
    scored = (docn.crossJoin(F.broadcast(cls.select("k")))
                  .join(sums, ["doc_id", "k"], "left")
                  .join(F.broadcast(tot), "k")
                  .join(F.broadcast(pri), "k")
                  .crossJoin(F.broadcast(voc))
                  .select("doc_id", "k", "n_ngrams", qfx.alias("qfx")))
    rn = F.row_number().over(
        Window.partitionBy("doc_id").orderBy(F.col("qfx").desc(), "k"))
    ranked = scored.withColumn("rn", rn)
    b1 = ranked.filter(F.col("rn") == 1) \
               .select("doc_id", F.col("k").alias("pred_lang"),
                       "n_ngrams", F.col("qfx").alias("q1"))
    b2 = ranked.filter(F.col("rn") == 2) \
               .select("doc_id", F.col("qfx").alias("q2"))
    return (b1.join(b2, "doc_id", "left")
              .join(lab, "doc_id")
              .select("doc_id", "lang", "pred_lang", "is_train",
                      "n_ngrams",
                      F.round((F.col("q1") - F.col("q2"))
                              / F.lit(_LANGID_QGRID), 6).alias("margin"),
                      (F.col("pred_lang") == F.col("lang")).cast("int")
                      .alias("agree")))


# ==========================================================================
# Round-12 wave (SURVEY.md §2.38): BPE at a realistic merge count —
# VERDICT r11 next-round #7. _BPE_TRAIN_K=8 proves the recipe; a user
# tokenizing a corpus applies dozens-to-hundreds of merges, and SIXTY-FOUR
# chained column-level replaces would be a pathological Catalyst plan (64
# broadcast cross-joins, a 64-deep nested-replace expression per row). A
# NEW constant (never rebinding _BPE_TRAIN_K — the module-constant trap
# SCALE.md documents from round 11) and a one-pass Arrow encoder instead.
# ==========================================================================

_BPE64_K = 64


def _bpe_rules_local(spark: SparkSession, d: DataFrame,
                     k: int) -> list[tuple]:
    """Train k merges and return the rank-ordered (pattern, replacement)
    rules as driver-local strings — the merge TABLE is k tiny rows (the
    whole point of BPE: the model is small even when the corpus is not),
    so collecting it is the legitimate driver-scale model hand-off, same
    as a broadcast. One union + one collect, not k collects."""
    bests = _bpe_merge_frames(spark, d, k)
    ranked = bests[0].select(F.lit(1).alias("r"), "x", "y")
    for i, b in enumerate(bests[1:], 2):
        ranked = ranked.unionByName(
            b.select(F.lit(i).alias("r"), "x", "y"))
    rules = []
    for row in ranked.collect():
        rules.append((row["r"],
                      _BPE_D1 + row["x"] + _BPE_D2
                      + _BPE_D1 + row["y"] + _BPE_D2,
                      _BPE_D1 + row["x"] + row["y"] + _BPE_D2))
    return [(p, rep) for _, p, rep in sorted(rules)]


@op("doc_tokenize_bpe64", oracle=f"""
WITH {_duck_bpe_prefix(_BPE64_K)},
benc AS (
    SELECT doc_id, lang,
           list_transform(regexp_extract_all(text, {_BPE_LEXER_SQL}),
                          s -> regexp_replace(s, '(.)',
                                              '{_BPE_D1}\\1{_BPE_D2}',
                                              'g')) AS e
    FROM documents
), btoks AS MATERIALIZED (
    SELECT doc_id, lang, CAST(len(e) AS BIGINT) AS n_pretokens,
           flatten(list_transform(e,
               s -> regexp_extract_all({_duck_bpe_apply('s', _BPE64_K)},
                                       '{_BPE_SYM_RE}', 1))) AS t
    FROM benc {_duck_bpe_cross(_BPE64_K)}
)
SELECT doc_id, lang, n_pretokens,
       CAST(len(t) AS BIGINT) AS n_merged_tokens,
       md5(array_to_string(t, ' ')) AS tok_md5
FROM btoks
""", tier=3, section="2.38")
def doc_tokenize_bpe64(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE TOKENIZATION AT A REALISTIC MERGE COUNT (VERDICT r11 #7):
    train the top-64 (``_BPE64_K``) merge table on the corpus
    (`text_bpe_train`'s recipe, parameterized round count) and tokenize
    every document with it in ONE Arrow-batched pass — per doc: the
    pretoken count, the merged-symbol count, and the md5 fingerprint of
    the space-joined merged stream (the value-identity handle the
    budget/packing meters thread on).

    The encoder is the deliberate contrast with the K=8 family's
    column-level iterative replace: at K=64 that plan shape is 64
    broadcast cross-joins feeding a 64-deep nested replace over an
    array column — legal, but quadratic-ish work for Catalyst and a
    codegen hazard. Instead the trained table (64 tiny rows — a BPE
    model is driver-scale BY DESIGN) collects once and a `mapInPandas`
    encoder applies the rules per pretoken with plain left-to-right
    non-overlapping `str.replace` — BYTE-IDENTICAL application
    semantics to the iterative-replace path and to DuckDB's replace()
    (all three scan left-to-right non-overlapping, which IS greedy BPE
    application at full-corpus granularity). Value-equality of the two
    engine paths at K=64 is pinned on a long-word fixture in
    tests/test_wave_r12c.py; the DuckDB oracle replays all 64
    training rounds as chained MATERIALIZED CTEs and applies the same
    replace chain.

    Scale shape: training touches the corpus once (the vocabulary hash
    agg) and iterates K bounded rounds over the VOCAB frame
    (localCheckpointed — `_bpe_merge_frames`); encoding is one narrow
    Arrow pass over documents with the 64-rule table captured in the
    UDF closure (a broadcast in all but name); zero joins, zero
    shuffles, output is docs-sized."""
    import hashlib as _hashlib
    import re as _re

    d = load(spark, sf_dir, "documents")
    rules = _bpe_rules_local(spark, d, _BPE64_K)
    lexer = _re.compile(_BPE_LEXER)
    sym_re = _re.compile(_BPE_SYM_RE)
    d1, d2 = _BPE_D1, _BPE_D2

    def encode(batches):
        import pandas as pd
        for pdf in batches:
            out = {"doc_id": [], "lang": [], "n_pretokens": [],
                   "n_merged_tokens": [], "tok_md5": []}
            for doc_id, lang, text in zip(pdf["doc_id"], pdf["lang"],
                                          pdf["text"]):
                pres = lexer.findall(text or "")
                toks = []
                for t in pres:
                    s = "".join(d1 + ch + d2 for ch in t)
                    for pat, rep in rules:
                        s = s.replace(pat, rep)
                    toks.extend(sym_re.findall(s))
                out["doc_id"].append(doc_id)
                out["lang"].append(lang)
                out["n_pretokens"].append(len(pres))
                out["n_merged_tokens"].append(len(toks))
                out["tok_md5"].append(
                    _hashlib.md5(" ".join(toks).encode()).hexdigest())
            yield pd.DataFrame(out)

    return d.select("doc_id", "lang", "text").mapInPandas(
        encode,
        "doc_id long, lang string, n_pretokens long, "
        "n_merged_tokens long, tok_md5 string")


@op("text_langid_calibration", oracle="""
WITH model AS (
{model_oracle}
), tiled AS (
    SELECT *, CAST(ntile(10) OVER (ORDER BY coalesce(margin, 0), doc_id)
                   AS INT) AS decile
    FROM model
)
SELECT decile,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(agree) AS BIGINT) AS n_agree,
       round(CAST(sum(agree) AS DOUBLE) / count(*), 6) AS agreement,
       round(CAST(sum(CAST(round(coalesce(margin, 0) * 1000000.0)
                           AS BIGINT)) AS DOUBLE)
             / count(*) / 1000000.0, 6) AS avg_margin
FROM tiled GROUP BY decile
""".format(model_oracle=REGISTRY["text_langid_model"].oracle),
    tier=3, section="2.38")
def text_langid_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calibration table for the language-ID margin (`text_langid_model`'s
    optional half, VERDICT r11 #6): rank every document by decision
    margin, cut into exact deciles, and report per decile the document
    count, the column-agreement count/rate and the mean margin — the
    artifact that tells a pipeline whether the CONFIDENCE is
    trustworthy (a calibrated classifier concentrates disagreements in
    the low-margin deciles; on a corpus whose lang column is
    uncorrelated with content — these sf corpora — the table shows flat
    chance-level agreement across ALL deciles, which is the loudest
    possible "do not trust this column" signal).

    Exactness: deciles via the exact two-phase ntile
    (`api.bucketed_ntile`) over the deterministic
    (coalesce(margin, 0), doc_id) total order — the coalesce pins the
    one-class corpus case where margin is NULL and the engines'
    default NULL orderings differ; the mean margin aggregates
    round(margin·1e6) exact longs; agreement is an exact integer ratio.

    Scale shape: the model frame is `text_langid_model`'s plan; the
    ranking is the bucketed two-phase rank (unit margin bands as
    buckets — margins are non-negative); the final aggregate is a
    10-group map-combinable hash agg."""
    from ..api import bucketed_ntile

    model = text_langid_model(spark, sf_dir)
    m0 = F.coalesce(F.col("margin"), F.lit(0.0))
    tiled = bucketed_ntile(model.withColumn("m0", m0),
                           F.floor(F.col("m0")),
                           [F.col("m0"), F.col("doc_id")], 10,
                           tile_name="decile")
    fx = F.round(F.col("m0") * 1000000.0, 0).cast("long")
    return (tiled.groupBy(F.col("decile").cast("int").alias("decile"))
                 .agg(F.count("*").alias("n_docs"),
                      F.sum("agree").cast("long").alias("n_agree"),
                      F.round(F.sum("agree").cast("double") / F.count("*"),
                              6).alias("agreement"),
                      F.round(F.sum(fx).cast("double") / F.count("*")
                              / F.lit(1000000.0), 6).alias("avg_margin")))
