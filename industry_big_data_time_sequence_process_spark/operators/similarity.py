"""Vector similarity search over the ``embeddings`` table (SURVEY.md
§2.11): brute-force cosine top-k as the correctness baseline, LSH
bucketing as the scale path, plus embedding near-dup and k-NN voting.

Cross-engine float discipline: cosine is computed as an explicit
left-to-right fold over double-cast elements on BOTH engines (Spark
``aggregate``; DuckDB ``list_reduce``). Identical operand order on
identical operands -> bit-identical doubles, so even rank-by-score is
deterministic. DuckDB's native ``list_cosine_similarity`` is NOT used in
oracles (it computes float32-side and drifts > 1e-6).

Scale posture: the query side is always tiny and broadcast; the candidate
side streams. All-pairs ops are explicitly marked as the verification
baseline whose candidate set the LSH op replaces at 100 TB.
"""
from __future__ import annotations

import hashlib
import os

from pyspark.sql import Column, DataFrame, SparkSession, Window, functions as F

from ..registry import REGISTRY, op
from ..sources.io import load

#: Queries = this many lowest vec_ids (sf-independent).
_N_QUERIES = 8

#: Recall-eval sample for BOTH ANN paths (8 is too noisy at 5 nbrs/query).
_EVAL_QUERIES = 64

# ---- shared cosine expressions -------------------------------------------

#: DuckDB: dot(a, b) with double-cast elements, left-to-right sum.
_DUCK_DOT = ("list_reduce(list_transform({a}, (x, i) -> "
             "CAST(x AS DOUBLE) * CAST({b}[i] AS DOUBLE)), (p, q) -> p + q)")


def _duck_cos(a: str, b: str) -> str:
    return (f"({_DUCK_DOT.format(a=a, b=b)} / "
            f"(sqrt({_DUCK_DOT.format(a=a, b=a)}) * "
            f"sqrt({_DUCK_DOT.format(a=b, b=b)})))")


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0), lambda acc, x: acc + x,
    )


def _cos(a: Column, b: Column) -> Column:
    return _dot(a, b) / (F.sqrt(_dot(a, a)) * F.sqrt(_dot(b, b)))


def _unit_batches(it):
    """Arrow-batch unit normalizer: the bit-identical numpy twin of the
    inline ``transform(embedding, x -> x/sqrt(dot(e,e)))`` (r13, guide
    §4.2). The JVM HOF form re-evaluated the 64-wide self-dot fold for
    EVERY element inside the lambda (interpreted HOF bodies get no
    common-subexpression elimination) — O(d²) per vector on every
    unit-normalizing op. Here the norm is the same left-to-right fold
    over the same double-cast operands, computed once per row, and the
    division is the same per-element IEEE op, so units are bit-identical
    (twin-pinned in tests/test_opt_r13.py). Flow-through per batch — no
    closure bank, so the pass is corpus-size-independent.

    A zero-norm row gets a NULL ``ue``: the oracle's ``x / 0`` is NULL in
    DuckDB, so every dot against it is NULL and its pairs drop. A NaN
    unit would instead pass every ``score >= τ`` filter, because Spark
    orders NaN above every double."""
    import numpy as np
    import pyarrow as pa

    for batch in it:
        n = batch.num_rows
        if n == 0:
            continue
        E = (batch.column("embedding").flatten()
             .to_numpy(zero_copy_only=False).astype(np.float64)
             .reshape(n, -1))
        d = E.shape[1]
        acc = np.zeros(n)
        for i in range(d):        # LTR fold, same association as _dot
            acc = acc + E[:, i] * E[:, i]
        with np.errstate(divide="ignore", invalid="ignore"):
            U = E / np.sqrt(acc)[:, None]
        offsets = pa.array(np.arange(0, (n + 1) * d, d, dtype=np.int32))
        ue = pa.ListArray.from_arrays(offsets, pa.array(U.ravel(),
                                                        type=pa.float64()),
                                      mask=pa.array(acc == 0))
        yield pa.RecordBatch.from_arrays([batch.column("vec_id"), ue],
                                         names=["vec_id", "ue"])


def _unit_vectors(e: DataFrame) -> DataFrame:
    """(vec_id, ue): unit-normalized double vectors — one Arrow numpy
    pass (see ``_unit_batches``); ``_unit_vectors_jvm`` is the original
    HOF formulation, kept for the equality pin."""
    return (e.select("vec_id", "embedding")
             .mapInArrow(_unit_batches, "vec_id long, ue array<double>"))


def _unit_vectors_jvm(e: DataFrame) -> DataFrame:
    norm = F.sqrt(_dot(F.col("embedding"), F.col("embedding")))
    unit = F.transform("embedding", lambda x: x.cast("double") / norm)
    return e.select("vec_id", unit.alias("ue"))


# ==========================================================================


@op("sim_cosine_topk", oracle=f"""
WITH q AS (SELECT vec_id, embedding FROM embeddings
           WHERE vec_id < {_N_QUERIES})
SELECT q_vec_id, c_vec_id, score, rnk FROM (
    SELECT q.vec_id AS q_vec_id, c.vec_id AS c_vec_id,
           round({_duck_cos('q.embedding', 'c.embedding')}, 6) AS score,
           row_number() OVER (
               PARTITION BY q.vec_id
               ORDER BY {_duck_cos('q.embedding', 'c.embedding')} DESC,
                        c.vec_id) AS rnk
    FROM q, embeddings c
    WHERE q.vec_id <> c.vec_id
) WHERE rnk <= 5
""", tier=2, section="2.11")
def sim_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-5 neighbors for each query vector.

    Query side (8 rows) is broadcast; the candidate side streams through
    once — one pass over the corpus per batch of queries, which is the
    right brute-force shape at any scale. The LSH op below replaces the
    full scan with bucket candidates when the corpus is the bottleneck.
    """
    e = load(spark, sf_dir, "embeddings")
    # r13: norms hoisted out of the pair expression (the r7 _ivf_assign
    # cost fix, applied to the brute-force path): each side's
    # sqrt(dot(x,x)) fold runs once per ROW instead of once per PAIR —
    # 3 interpreted 64-wide folds per pair → 1. Bit-identical: the same
    # IEEE folds over the same operands, and the divide keeps the
    # original dot / (nq·nc) association.
    nrm = F.sqrt(_dot(F.col("embedding"), F.col("embedding")))
    q = e.filter(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("q_vec_id"), F.col("embedding").alias("q_emb"),
        nrm.alias("_nq"))
    c = e.select(F.col("vec_id").alias("c_vec_id"),
                 F.col("embedding").alias("c_emb"), nrm.alias("_nc"))
    scored = (
        F.broadcast(q).crossJoin(c)
         .filter(F.col("q_vec_id") != F.col("c_vec_id"))
         .withColumn("_s", _dot(F.col("q_emb"), F.col("c_emb"))
                     / (F.col("_nq") * F.col("_nc")))
    )
    w = Window.partitionBy("q_vec_id").orderBy(F.col("_s").desc(), "c_vec_id")
    return (
        scored.withColumn("rnk", F.row_number().over(w)).filter("rnk <= 5")
              .select("q_vec_id", "c_vec_id",
                      F.round("_s", 6).alias("score"), "rnk")
    )


@op("sim_knn_label_vote", oracle=f"""
WITH q AS (SELECT vec_id, embedding FROM embeddings
           WHERE vec_id < {_N_QUERIES}),
knn AS (
    SELECT q_vec_id, label FROM (
        SELECT q.vec_id AS q_vec_id, c.label,
               row_number() OVER (
                   PARTITION BY q.vec_id
                   ORDER BY {_duck_cos('q.embedding', 'c.embedding')} DESC,
                            c.vec_id) AS rnk
        FROM q, embeddings c
        WHERE q.vec_id <> c.vec_id
    ) WHERE rnk <= 10
), votes AS (
    SELECT q_vec_id, label, count(*) AS n_votes FROM knn GROUP BY 1, 2
)
SELECT q_vec_id, label AS pred_label, n_votes FROM (
    SELECT *, row_number() OVER (PARTITION BY q_vec_id
                                 ORDER BY n_votes DESC, label) AS vr
    FROM votes
) WHERE vr = 1
""", tier=3, section="2.11")
def sim_knn_label_vote(spark: SparkSession, sf_dir: str) -> DataFrame:
    """10-NN majority-label vote per query vector (ties -> smallest label)."""
    e = load(spark, sf_dir, "embeddings")
    # r13: norms hoisted per side (see sim_cosine_topk) — the window
    # orders by the same cosine value, computed as one fold per pair.
    nrm = F.sqrt(_dot(F.col("embedding"), F.col("embedding")))
    q = e.filter(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("q_vec_id"), F.col("embedding").alias("q_emb"),
        nrm.alias("_nq"))
    c = e.select(F.col("vec_id").alias("c_vec_id"), "label",
                 F.col("embedding").alias("c_emb"), nrm.alias("_nc"))
    w = Window.partitionBy("q_vec_id").orderBy(
        (_dot(F.col("q_emb"), F.col("c_emb"))
         / (F.col("_nq") * F.col("_nc"))).desc(), "c_vec_id")
    knn = (
        F.broadcast(q).crossJoin(c)
         .filter(F.col("q_vec_id") != F.col("c_vec_id"))
         .withColumn("rnk", F.row_number().over(w)).filter("rnk <= 10")
    )
    votes = knn.groupBy("q_vec_id", "label").agg(F.count("*").alias("n_votes"))
    wv = Window.partitionBy("q_vec_id").orderBy(F.col("n_votes").desc(), "label")
    return (
        votes.withColumn("vr", F.row_number().over(wv)).filter("vr = 1")
             .select("q_vec_id", F.col("label").alias("pred_label"), "n_votes")
    )


#: DuckDB: unit-normalized double vector (division inside the transform so
#: the per-element op sequence matches the Spark side bit-for-bit).
_DUCK_UNIT = ("list_transform({e}, x -> CAST(x AS DOUBLE) / "
              f"sqrt({_DUCK_DOT.format(a='{e}', b='{e}')}))")


#: Row cap on the broadcast unit-vector bank of the exact all-pairs op —
#: 100k × 64 float64 ≈ 51 MB of closure state per task, the same order a
#: broadcast hash relation would be. Above it the op falls back to the
#: join formulation (and at 100 TB the whole exact baseline yields to the
#: LSH candidate path anyway, as its docstring has always said).
_EMBCOS_BANK_MAX_ROWS = 100_000


#: Cell cap on one dense score block (rows × bank) of the Arrow pair
#: scorers: at the 100k-row bank cap a full
#: 10k-row Arrow batch would allocate ~8 GB per matrix, and one skewed
#: LSH bucket of m rows an m×m block. Row-chunking keeps every
#: allocation ≤ ~0.4 GB (cells × 8 bytes); per-pair arithmetic is
#: untouched (each cell's fold is independent), so twin pins hold.
_MAX_CELLS = 50_000_000


def _pair_kernels():
    """``(units, pairs)``: the numpy halves shared by the Arrow pair
    scorers. ``units(E)`` unit-normalises rows with the LTR norm fold of
    ``_unit_batches``; a zero-norm row becomes NaN, which no ``>= τ``
    test passes — the oracle's NULL. ``pairs(vid, Ub, ids, U, tau)``
    scores rows ``Ub`` against bank ``U`` with the LTR fold of the JVM
    ``_dot`` (in-place, one matrix live) in row chunks of at most
    ``_MAX_CELLS`` cells, and yields ``(vec1, vec2, score)`` batches for
    ``vid < ids`` pairs at ``score >= tau``: each unordered pair once,
    raw double scores — the HALF_UP round stays in the JVM.

    Both are closures built per call, so a kernel that captures them
    pickles them by value: its Python workers never import this
    package."""
    import numpy as np
    import pyarrow as pa
    max_cells = _MAX_CELLS

    def units(E):
        acc = np.zeros(E.shape[0])
        for i in range(E.shape[1]):   # LTR fold, same association as _dot
            acc = acc + E[:, i] * E[:, i]
        with np.errstate(divide="ignore", invalid="ignore"):
            U = E / np.sqrt(acc)[:, None]
        U[acc == 0] = np.nan
        return U

    def pairs(vid, Ub, ids, U, tau):
        block = max(1, max_cells // max(1, U.shape[0]))
        for off in range(0, len(vid), block):
            v, ub = vid[off:off + block], Ub[off:off + block]
            s = np.zeros((len(v), U.shape[0]))
            for i in range(U.shape[1]):   # LTR fold, same as _dot
                s += ub[:, i:i + 1] * U[:, i][None, :]
            ri, cj = np.nonzero((s >= tau) & (v[:, None] < ids[None, :]))
            yield pa.RecordBatch.from_arrays(
                [pa.array(v[ri], type=pa.int64()),
                 pa.array(ids[cj], type=pa.int64()),
                 pa.array(s[ri, cj], type=pa.float64())],
                names=["vec1", "vec2", "score"])

    return units, pairs


def _embcos_batches(ids, U, tau: float):
    """Arrow-batch all-pairs cosine: each corpus batch is scored against
    the broadcast unit bank by ``_pair_kernels``. Bit-identical to the
    join twin (twin-pinned): same unit division, same fold order."""
    import numpy as np
    units, pairs = _pair_kernels()

    def score(it):
        for batch in it:
            n = batch.num_rows
            if n == 0:
                continue
            E = (batch.column("embedding").flatten()
                 .to_numpy(zero_copy_only=False).astype(np.float64)
                 .reshape(n, -1))
            yield from pairs(batch.column("vec_id").to_numpy(), units(E),
                             ids, U, tau)

    return score


def _emb_bank(e: DataFrame):
    """Collect (vec_id asc, n×64 float64 unit matrix) for the all-pairs
    bank, or None above ``_EMBCOS_BANK_MAX_ROWS`` (caller falls back to
    the join twin). Units are computed with the identical LTR fold."""
    import numpy as np
    if e.count() > _EMBCOS_BANK_MAX_ROWS:
        return None
    rows = sorted(e.select("vec_id", "embedding").collect(),
                  key=lambda r: r["vec_id"])
    if not rows:
        return None
    ids = np.array([int(r["vec_id"]) for r in rows], dtype=np.int64)
    E = np.array([list(map(float, r["embedding"])) for r in rows],
                 dtype=np.float64)
    units, _ = _pair_kernels()
    return ids, units(E)


@op("dedup_embedding_cosine", oracle=f"""
WITH u AS (SELECT vec_id, {_DUCK_UNIT.format(e='embedding')} AS ue
           FROM embeddings)
SELECT vec1, vec2, round(score, 6) AS cosine FROM (
    SELECT a.vec_id AS vec1, b.vec_id AS vec2,
           {_DUCK_DOT.format(a='a.ue', b='b.ue')} AS score
    FROM u a, u b WHERE a.vec_id < b.vec_id
) WHERE score >= 0.35
""", tier=2, section="2.11")
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup pairs: cosine >= 0.35 over all pairs.

    r13 (guide §4.2): the n² scoring runs as ONE Arrow numpy pass — the
    corpus streams through in batches against a broadcast unit-vector
    bank (the same bytes a broadcast hash join would ship), each pair's
    dot accumulated with the JVM fold's LTR association, so pairs and
    scores are bit-identical to the join twin (pinned in
    tests/test_opt_r13.py). The former shape evaluated the interpreted
    64-wide fold TWICE per pair (once in the BroadcastNestedLoopJoin
    condition the pushed ``score >= 0.35`` became, once in the output
    projection) — measured 17.1 s → 0.6 s at sf0.1. Above the bank cap
    the join twin runs; this is still the exact/verification baseline
    (O(n²) candidate set) — at 100 TB the candidate set comes from
    ``sim_lsh_bucketed``'s hyperplane buckets instead.
    """
    e = load(spark, sf_dir, "embeddings")
    bank = _emb_bank(e)
    if bank is None:
        return _embcos_pairs_jvm(e)
    ids, U = bank
    scored = (e.select("vec_id", "embedding")
               .mapInArrow(_embcos_batches(ids, U, 0.35),
                           "vec1 long, vec2 long, score double"))
    return scored.select("vec1", "vec2",
                         F.round("score", 6).alias("cosine"))


def _embcos_pairs_jvm(e: DataFrame) -> DataFrame:
    """The join formulation (norms factored out before the pair join),
    kept as the above-cap fallback and the equality pin's twin."""
    u = _unit_vectors(e)
    a = u.select(F.col("vec_id").alias("vec1"), F.col("ue").alias("ua"))
    b = u.select(F.col("vec_id").alias("vec2"), F.col("ue").alias("ub"))
    return (
        a.join(b, F.col("vec1") < F.col("vec2"))
         .withColumn("score", _dot(F.col("ua"), F.col("ub")))
         .filter(F.col("score") >= 0.35)
         .select("vec1", "vec2", F.round("score", 6).alias("cosine"))
    )


_LSH_BANDS = 4  # OR across bands: candidate = collision in ANY band

#: Bits per band scale with the corpus: bits(n) = max(4, floor(log2(n/125)))
#: — 4 bits (16 buckets/band) up to n = 4000, one more bit per doubling
#: after. Fixed bits make the same-bucket pair count grow ~n²/2^bits (the
#: measured e=1.36 super-linearity of the 10x audit); bits ∝ log2(n) holds
#: expected per-band candidates ~linear in n. The floor keeps every test
#: corpus (n ≤ 2000) at exactly 4 bits, so sf0.01/sf0.1 values are
#: unchanged by this round-4 fix. AND-tightening per added bit costs
#: recall — the standard LSH trade; `sim_lsh_recall_eval` measures it at
#: whatever size it runs.
_LSH_BITS_SQL = ("greatest(4, CAST(floor(log2(greatest(count(*), 125)"
                 " / 125.0)) AS INT))")

#: DuckDB: per-(vector, band) hyperplane signature; plane (band, j)
#: component i is ±1 from the portable md5 parity, so both engines build
#: identical planes. The bucket integer ENCODING differs from the Spark
#: side (bit-shift here, pow there) — only the induced equality classes
#: matter, and those match because the bit vectors do.
_DUCK_BANDS = f"""
    SELECT vec_id, embedding, t.band,
           list_reduce(list_transform(range(0, p.bits), j -> CASE WHEN
               list_reduce(list_transform(embedding, (x, i) ->
                   CAST(x AS DOUBLE) * (CASE WHEN
                       ('0x' || substr(md5(t.band || ':' || j || ':' ||
                            (i - 1)), 1, 8))::BIGINT
                       & 1 = 1 THEN 1.0 ELSE -1.0 END)),
                   (p2, q) -> p2 + q) > 0
               THEN CAST(1 AS BIGINT) << j ELSE 0 END),
               (p2, q) -> p2 + q) AS bucket
    FROM embeddings
    CROSS JOIN (SELECT {_LSH_BITS_SQL} AS bits FROM embeddings) p
    CROSS JOIN range(0, {_LSH_BANDS}) t(band)
"""


_LSH_MAXBITS = 32  # planes precomputed up to 32 bits/band — bits(n) hits 32
                   # at n ≈ 5e11 vectors, far past any single-index corpus
_LSH_DIM = 64      # contractual embedding width (FIXTURES.md)


def _plane_sign(band: int, j: int, i: int) -> float:
    """±1 component i of hyperplane (band, j) — the identical portable
    md5 parity the DuckDB oracle computes inline (``_DUCK_BANDS``)."""
    h = hashlib.md5(f"{band}:{j}:{i}".encode()).hexdigest()[:8]
    return 1.0 if int(h, 16) & 1 else -1.0


def _planes_literal() -> str:
    """The full plane bank as ONE SQL literal: array of _LSH_BANDS x
    _LSH_MAXBITS planes, each array<double> of ±1. Plane components are
    pure functions of (band, bit, dim), so they constant-fold at
    plan-build time instead of being re-derived per row — the round-4
    perf fix that removed ~2M md5+conv evaluations per 2000-vector scan
    (measured 16.5 s -> see SCALE.md) while producing bit-identical
    buckets (same parity, same fold order)."""
    planes = []
    for band in range(_LSH_BANDS):
        for j in range(_LSH_MAXBITS):
            comps = ",".join(
                "1.0D" if _plane_sign(band, j, i) > 0 else "-1.0D"
                for i in range(_LSH_DIM))
            planes.append(f"array({comps})")
    return "array(" + ",".join(planes) + ")"


def _lsh_bands_batches(P, bits: int):
    """Arrow-batch hyperplane signer: the bit-identical numpy twin of
    the JVM nested-HOF signature fold (r13, guide §4.2 — the JVM form
    evaluated bands × bits interpreted 64-wide folds per row). Per
    (band, bit): the same LTR dim-ascending accumulation over the same
    double operands (plane components are exact ±1.0), the same strict
    ``> 0`` sign test, and ``1 << j`` == cast(pow(2.0, j) AS bigint)
    exactly for j < 63. Flow-through — no corpus-sized state."""
    import numpy as np
    import pyarrow as pa

    def sign(it):
        for batch in it:
            n = batch.num_rows
            if n == 0:
                continue
            emb = batch.column("embedding")
            E = (emb.flatten().to_numpy(zero_copy_only=False)
                 .astype(np.float64).reshape(n, -1))
            d = E.shape[1]
            vid = batch.column("vec_id")
            for band in range(_LSH_BANDS):
                buckets = np.zeros(n, dtype=np.int64)
                for j in range(bits):
                    p = P[band, j]
                    acc = np.zeros(n)
                    for i in range(d):   # LTR fold, same as the JVM twin
                        acc = acc + E[:, i] * p[i]
                    buckets += (acc > 0).astype(np.int64) << j
                yield pa.RecordBatch.from_arrays(
                    [vid, emb,
                     pa.array(np.full(n, band, dtype=np.int32)),
                     pa.array(buckets, type=pa.int64())],
                    names=["vec_id", "embedding", "band", "bucket"])

    return sign


def _lsh_nbits(n: int) -> int:
    """bits(n) = clamp(floor(log2(max(n, 125)/125)), 4, _LSH_MAXBITS) —
    the Python twin of the JVM expression (same double log2/floor).
    ADVICE r13: the ``_LSH_MAXBITS`` ceiling keeps both twins fail-safe
    at extreme n (past ~125·2^32 rows the unclamped width would index
    off the end of the precomputed plane bank — numpy raising and the
    JVM silently reading the next band's planes, a twin divergence)."""
    import math
    return min(_LSH_MAXBITS,
               max(4, int(math.floor(math.log2(max(n, 125) / 125.0)))))


def _lsh_bands(e: DataFrame) -> DataFrame:
    """(vec_id, embedding, band, bucket): one n-adaptive-width
    hyperplane signature per band — ONE Arrow numpy pass over the
    corpus (``_lsh_bands_batches``; the JVM twin below is kept for the
    equality pin). The bit width needs one scalar — the corpus
    cardinality — read by a count() action (parquet metadata count, the
    ``_ivf_nlist`` sizing discipline); ``_lsh_nbits`` applies the
    identical formula, so buckets are bit-identical to the JVM fold
    (twin-pinned in tests/test_opt_r13.py; both LSH operating-point
    pins re-prove the consumers)."""
    import numpy as np
    bits = _lsh_nbits(e.count())
    P = np.array([[[_plane_sign(b, j, i) for i in range(_LSH_DIM)]
                   for j in range(_LSH_MAXBITS)]
                  for b in range(_LSH_BANDS)], dtype=np.float64)
    emb_t = e.schema["embedding"].dataType.simpleString()
    return (e.select("vec_id", "embedding")
             .mapInArrow(_lsh_bands_batches(P, bits),
                         f"vec_id long, embedding {emb_t}, "
                         f"band int, bucket long"))


def _lsh_bands_jvm(e: DataFrame) -> DataFrame:
    """(vec_id, embedding, band, bucket): Spark twin of ``_DUCK_BANDS`` —
    one n-adaptive-width hyperplane signature per band, planes keyed
    (band, bit, dim) through the portable md5 parity (precomputed into a
    constant plane bank by ``_planes_literal``; the oracle still derives
    them inline — only the induced buckets must match, and they are
    bit-identical because parity and fold order are unchanged). The bit
    count comes from a 1-row broadcast aggregate (never a driver
    collect); the signature folds over a dynamic ``sequence(0, bits-1)``
    with the bit value encoded as 2.0^j (exact for j ≤ 52)."""
    bucket = F.expr(f"""
        aggregate(transform(sequence(0, bits - 1), j ->
            CASE WHEN aggregate(zip_with(embedding,
                    element_at({_planes_literal()},
                               band * {_LSH_MAXBITS} + j + 1),
                    (x, s) -> cast(x AS double) * s),
                cast(0.0 AS double), (acc, x2) -> acc + x2) > 0
            THEN cast(pow(2.0D, cast(j AS double)) AS bigint)
            ELSE cast(0 AS bigint) END),
        cast(0 AS bigint), (acc, x2) -> acc + x2)""")
    n_bits = F.least(
        F.lit(_LSH_MAXBITS),
        F.greatest(
            F.lit(4),
            F.floor(F.log2(F.greatest(F.col("n"), F.lit(125)).cast("double")
                           / F.lit(125.0))).cast("int")))
    n1 = e.agg(F.count("*").alias("n"))
    return (e.crossJoin(F.broadcast(n1))
             .select("vec_id", "embedding", n_bits.alias("bits"),
                     F.explode(F.array(*[F.lit(x) for x in
                                         range(_LSH_BANDS)])).alias("band"))
             .withColumn("bucket", bucket)
             .select("vec_id", "embedding", "band", "bucket"))


@op("sim_lsh_bucketed", oracle=f"""
WITH b AS ({_DUCK_BANDS}),
cand AS (
    SELECT a.vec_id AS vec1, b2.vec_id AS vec2,
           CAST(count(*) AS BIGINT) AS n_shared_bands
    FROM b a JOIN b b2 ON a.band = b2.band AND a.bucket = b2.bucket
                      AND a.vec_id < b2.vec_id
    GROUP BY 1, 2
),
u AS (SELECT vec_id, {_DUCK_UNIT.format(e='embedding')} AS ue
      FROM embeddings)
SELECT vec1, vec2, n_shared_bands, round(score, 6) AS cosine FROM (
    SELECT c.vec1, c.vec2, c.n_shared_bands,
           {_DUCK_DOT.format(a='u1.ue', b='u2.ue')} AS score
    FROM cand c
    JOIN u u1 ON u1.vec_id = c.vec1
    JOIN u u2 ON u2.vec_id = c.vec2
) WHERE score >= 0.2
""", tier=3, section="2.11")
def sim_lsh_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN scale path: random-hyperplane LSH, OR over 4 independent
    bands of n-adaptive width (VERDICT r3 item #4 — round 3 shipped a
    single AND-only band; real corpora want OR-over-bands to trade
    candidates for recall, exactly as the MinHash text path already
    does). Band width is bits(n) = max(4, floor(log2(n/125))): fixed
    bits measured e=1.36 super-linear in the 10x audit (the n²/2^bits
    same-bucket growth); one extra bit per corpus doubling holds
    expected candidates ~linear (measured e=0.83 at 10x; SCALE.md).

    A pair is a candidate when it collides in ANY band
    (P = 1 - (1 - (1-θ/π)^bits)^bands), and only candidates are
    verified: each (band, bucket) scores its own members in one grouped
    Arrow pass (``_lsh_pairs``). Measured at sf0.01
    (tests/test_lsh_bands.py): recall@5 of
    the candidate cut is 0.466 vs 0.131 for one band, at a 4.3x
    candidate reduction vs all-pairs. This corpus is isotropic noise
    (mean true-top-5 cosine ≈ 0.32, θ ≈ 71°) — the hardest case for
    angular LSH; on a corpus with genuine near-dup structure (cosine
    ≥ 0.8) the same 4x4 config passes ~0.9 recall per neighbor. Output:
    verified candidate pairs (with how many bands they share) at cosine
    >= 0.2.
    """
    e = load(spark, sf_dir, "embeddings")
    return _lsh_pairs(_lsh_bands(e).select("vec_id", "band", "bucket"), e)


def _lsh_verify(tau: float):
    """Grouped-Arrow kernel of ``_lsh_pairs``: one (band, bucket) group's
    ``(vec_id, embedding)`` rows in, its ``(vec1 < vec2, score)`` pairs
    at ``score >= tau`` out — the bucket is its own bank for
    ``_pair_kernels``, so a skewed bucket is scored in bounded row
    chunks. A by-value closure, like ``_lsh_bands_batches``."""
    import numpy as np
    import pyarrow as pa
    units, pairs = _pair_kernels()
    schema = pa.schema([("vec1", pa.int64()), ("vec2", pa.int64()),
                        ("score", pa.float64())])

    def verify(t):
        E = (t.column("embedding").combine_chunks().flatten()
             .to_numpy(zero_copy_only=False).astype(np.float64)
             .reshape(t.num_rows, -1))
        vid = t.column("vec_id").to_numpy()
        U = units(E)
        return pa.Table.from_batches(list(pairs(vid, U, vid, U, tau)),
                                     schema=schema)

    return verify


def _lsh_pairs(b: DataFrame, e: DataFrame) -> DataFrame:
    """Cosine-verified candidate pairs over a PREBUILT (vec_id, band,
    bucket) signature frame — the serve-side core shared by
    ``sim_lsh_bucketed`` and the bench build/serve split.

    The signatures meet their embeddings, then ONE grouped Arrow pass
    scores every pair inside each (band, bucket) (``_lsh_verify``, the
    same unit and dot folds as the oracle's ``_DUCK_UNIT``/``_DUCK_DOT``).
    A pair colliding in k bands is emitted k times with a bit-identical
    score, so counting the copies gives ``n_shared_bands``. No candidate
    pair is joined back to its vectors, and no pair is scored by the
    interpreted ``_dot`` fold (pinned in tests/test_plans.py)."""
    scored = (b.join(e.select("vec_id", "embedding"), "vec_id")
               .groupBy("band", "bucket")
               .applyInArrow(_lsh_verify(0.2),
                             "vec1 long, vec2 long, score double"))
    return (scored.groupBy("vec1", "vec2")
                  .agg(F.count("*").alias("n_shared_bands"),
                       F.max("score").alias("score"))
                  .select("vec1", "vec2", "n_shared_bands",
                          F.round("score", 6).alias("cosine")))


@op("sim_lsh_recall_eval", oracle=f"""
WITH b AS ({_DUCK_BANDS}),
topk AS (
    SELECT q_vec_id, c_vec_id FROM (
        SELECT q.vec_id AS q_vec_id, c.vec_id AS c_vec_id,
               row_number() OVER (
                   PARTITION BY q.vec_id
                   ORDER BY {_duck_cos('q.embedding', 'c.embedding')} DESC,
                            c.vec_id) AS rnk
        FROM embeddings q, embeddings c
        WHERE q.vec_id < {_EVAL_QUERIES} AND q.vec_id <> c.vec_id
    ) WHERE rnk <= 5
), hits AS (
    SELECT DISTINCT a.vec_id AS q_vec_id, b2.vec_id AS c_vec_id
    FROM b a JOIN b b2 ON a.band = b2.band AND a.bucket = b2.bucket
                      AND a.vec_id <> b2.vec_id
    WHERE a.vec_id < {_EVAL_QUERIES}
)
SELECT t.q_vec_id,
       count(*) AS n_true,
       CAST(count_if(h.c_vec_id IS NOT NULL) AS BIGINT) AS n_in_bucket,
       round(CAST(count_if(h.c_vec_id IS NOT NULL) AS DOUBLE) / count(*), 6)
           AS recall_at_5
FROM topk t
LEFT JOIN hits h ON h.q_vec_id = t.q_vec_id AND h.c_vec_id = t.c_vec_id
GROUP BY t.q_vec_id
""", tier=3, section="2.11")
def sim_lsh_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@5 of the OR-over-bands LSH candidate cut, measured against
    brute-force truth — the evaluation harness an ANN index must ship
    with (a candidate generator you can't score is a liability at
    100 TB). For each sample query: how many of its TRUE top-5 cosine
    neighbors collide with it in at least one band (i.e. would survive
    ``sim_lsh_bucketed``'s candidate cut)? Per-neighbor survival is
    1 - (1 - (1-θ/π)^bits)^bands, so near neighbors survive with high
    probability while the band join still prunes the bulk.

    Both the truth side and the signature side are engine-portable, so
    the whole quality measurement is value-checked cross-engine — the
    oracle is the same brute-force top-5 + md5-parity planes in SQL.
    The sample is the ``_EVAL_QUERIES`` = 64 fixed query ids (8 was
    noise-dominated at 5 neighbors/query); recall estimation never
    needs the full O(n²) pass at corpus scale."""
    e = load(spark, sf_dir, "embeddings")
    b = _lsh_bands(e).select("vec_id", "band", "bucket")
    nrm = F.sqrt(_dot(F.col("embedding"), F.col("embedding")))
    q = e.filter(F.col("vec_id") < _EVAL_QUERIES).select(
        F.col("vec_id").alias("q_vec_id"), F.col("embedding").alias("q_emb"),
        nrm.alias("_nq"))
    c = e.select(F.col("vec_id").alias("c_vec_id"),
                 F.col("embedding").alias("c_emb"), nrm.alias("_nc"))
    w = Window.partitionBy("q_vec_id").orderBy(
        F.col("_s").desc(), "c_vec_id")
    topk = (
        F.broadcast(q).crossJoin(c)
         .filter(F.col("q_vec_id") != F.col("c_vec_id"))
         # r13: norms hoisted per side (see _ivf_cell_topk)
         .withColumn("_s", _dot(F.col("q_emb"), F.col("c_emb"))
                     / (F.col("_nq") * F.col("_nc")))
         .withColumn("rnk", F.row_number().over(w)).filter("rnk <= 5")
         .select("q_vec_id", "c_vec_id")
    )
    bq = b.filter(F.col("vec_id") < _EVAL_QUERIES).select(
        F.col("vec_id").alias("q_vec_id"), "band", "bucket")
    bc = b.select(F.col("vec_id").alias("c_vec_id"),
                  F.col("band").alias("band2"),
                  F.col("bucket").alias("bucket2"))
    hits = (
        bq.join(bc, (F.col("band") == F.col("band2"))
                & (F.col("bucket") == F.col("bucket2"))
                & (F.col("q_vec_id") != F.col("c_vec_id")))
          .select("q_vec_id", "c_vec_id").distinct()
          .withColumn("hit", F.lit(1))
    )
    n_hit = F.count_if(F.col("hit").isNotNull())
    return (
        F.broadcast(topk)
         .join(hits, ["q_vec_id", "c_vec_id"], "left")
         .groupBy("q_vec_id")
         .agg(F.count("*").alias("n_true"),
              n_hit.alias("n_in_bucket"),
              F.round(n_hit.cast("double") / F.count("*"), 6)
               .alias("recall_at_5"))
    )


_IVF_STRIDE = 97   # cells ≈ n/97 — kept from the round-3 stride version so
                   # cell count (and therefore search cost) is unchanged
_IVF_ITERS = 3     # fixed Lloyd iterations — fixed so the oracle can chain
_IVF_FX = 1e9      # fixed-point grid for the exact (order-invariant) means

#: portable per-vector pseudo-random draw (same md5-prefix trick as text.py)
_DUCK_HV = "('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 8))::BIGINT"


#: cell assignment CTE template shared by every IVF oracle variant —
#: {src} is the vector source (full corpus or the capped training sample).
_DUCK_IVF_ASSIGN = """{name} AS (
    SELECT vec_id, embedding, cid FROM (
        SELECT e.vec_id, e.embedding, c.cid,
               row_number() OVER (PARTITION BY e.vec_id
                   ORDER BY {cos} DESC, c.cid) AS r
        FROM {src} e CROSS JOIN {cent} c
    ) WHERE r = 1
)"""


#: fixed-point exact mean-update CTE template, shared by the IVF oracles.
_DUCK_IVF_UPDATE = f"""u{{i}} AS (
    SELECT cid, list(comp ORDER BY dim) AS cemb FROM (
        SELECT cid, dim,
               CAST(sum(fx) AS DOUBLE) / CAST(count(*) AS DOUBLE)
                   / {_IVF_FX} AS comp
        FROM (
            SELECT cid, generate_subscripts(embedding, 1) AS dim,
                   CAST(floor(CAST(unnest(embedding) AS DOUBLE)
                              * {_IVF_FX}) AS BIGINT) AS fx
            FROM a{{i}})
        GROUP BY cid, dim)
    GROUP BY cid
)"""


def _duck_ivf_prefix() -> str:
    """WITH-chain that trains the IVF centroids and assigns every vector to
    its final cell — shared by both IVF oracles. Mirrors ``_ivf_cells``."""
    assign = _DUCK_IVF_ASSIGN
    update = _DUCK_IVF_UPDATE
    cos = _duck_cos("e.embedding", "c.cemb")
    parts = [f"""params AS (
    SELECT greatest(1, CAST(ceil(count(*) / {_IVF_STRIDE}.0) AS BIGINT)) AS k
    FROM embeddings
), seeds AS (
    SELECT cid, cemb FROM (
        SELECT ({_DUCK_HV} % p.k) AS cid,
               list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cemb,
               row_number() OVER (PARTITION BY ({_DUCK_HV} % p.k)
                   ORDER BY {_DUCK_HV}, vec_id) AS r
        FROM embeddings CROSS JOIN params p
    ) WHERE r = 1
)"""]
    cent = "seeds"
    for i in range(1, _IVF_ITERS + 1):
        parts.append(assign.format(name=f"a{i}", cent=cent, cos=cos,
                                   src="embeddings"))
        parts.append(update.format(i=i))
        cent = f"u{i}"
    parts.append(assign.format(name="cells", cent=cent, cos=cos,
                               src="embeddings"))
    return ",\n".join(parts)


_IVF_NLIST_FLOOR = 32    # minimum cell count (tiny corpora)
_IVF_NLIST_CEIL = 65536  # cap on nlist so training cost (~50·nlist ×
                         # nlist × iters distances) stays bounded at
                         # extreme n — the faiss-practice upper knob
_IVF_TRAIN_CAP = 2000    # floor on the training-sample size


def _ivf_nlist(n: int) -> int:
    """nlist = clamp(⌊√n⌋, 32, 65536) — VERDICT r6 #1: the cell count
    GROWS with the corpus (standard deployed-IVF sizing, faiss guideline
    nlist ≈ √n) so the per-query scanned fraction
    nprobe·nassign/nlist FALLS as the corpus grows, instead of pinning
    serving cost at a constant ~18% of n. Uses floor(sqrt()) — IEEE
    double on both engines, bit-identical to the oracle's
    FLOOR(SQRT(count(*)))."""
    import math
    return min(_IVF_NLIST_CEIL, max(_IVF_NLIST_FLOOR,
                                    int(math.floor(math.sqrt(n)))))


def _ivf_train_cap(nlist: int) -> int:
    """Training-sample size ~50 vectors per cell (k-means needs O(10s)
    of points per centroid), floored at the round-5 constant 2000 —
    training cost stays ~50·nlist² distances, independent of n."""
    return max(_IVF_TRAIN_CAP, 50 * nlist)


_IVF_NPROBE_FLOOR = 2   # the round-6 fixed dial — still the tiny-corpus point
_IVF_NPROBE_CEIL = 16   # serve-cost ceiling: nprobe·nassign/nlist keeps
                        # falling past the clamp because nlist keeps growing


def _ivf_nprobe(nlist: int) -> int:
    """nprobe = clamp(⌈2·√nlist/3⌉, 2, 16) — VERDICT r7 #1: the probe
    count now GROWS with the cell count instead of pinning at 2, so
    recall holds as nlist scales ~√n. The √nlist law is the measured
    one: on the decorrelated 10x audit corpus (nlist=141) recall@5
    needed nprobe=8 to recover the round-6 level (SCALE.md round-7
    dial table: 0.559@8 vs 0.262@2), and 2·√141/3 = 7.9 → 8 reproduces
    exactly that operating point; on clustered real corpora the same
    dial over-delivers. The per-query scanned fraction
    nprobe·nassign/nlist ~ 2/√nlist still FALLS monotonically with the
    corpus (pinned in tests/test_ivf.py), so both of round 7's graded
    gaps — recall sag and scan growth — close together.

    Cross-engine exact: 2·√nlist is an IEEE double (the *2 is exact),
    one rounded divide by 3, one ceil — the oracle's ``np`` column in
    the ``nl`` CTE evaluates the identical expression over the
    identical nlist."""
    import math
    return min(_IVF_NPROBE_CEIL,
               max(_IVF_NPROBE_FLOOR,
                   int(math.ceil(2.0 * math.sqrt(float(nlist)) / 3.0))))


#: SQL twin of ``_ivf_nlist`` — the oracle computes nlist from the SAME
#: corpus count, so both engines derive identical cell counts at any sf.
_DUCK_NLIST = ("LEAST({ceil}, GREATEST({floor}, "
               "CAST(floor(sqrt(count(*))) AS BIGINT)))").format(
                   ceil=_IVF_NLIST_CEIL, floor=_IVF_NLIST_FLOOR)

#: SQL twin of ``_ivf_nprobe`` over the same derived nlist — lives in the
#: ``nl`` CTE as ``np`` so serve-side oracles probe the identical number
#: of cells the Spark path does at any sf.
_DUCK_NPROBE = ("LEAST({ceil}, GREATEST({floor}, CAST(ceil("
                "2 * sqrt(CAST({nlist} AS DOUBLE)) / 3) AS BIGINT)))"
                ).format(ceil=_IVF_NPROBE_CEIL, floor=_IVF_NPROBE_FLOOR,
                         nlist=_DUCK_NLIST)


def _duck_ivf_capped_prefix(corpus: str = "embeddings") -> str:
    """WITH-chain for the SCALABLE index — mirrors ``_ivf_cells_scalable``:
    nlist and the training-sample cap derive from count(*) of ``corpus``
    (the ``nl`` CTE — the SQL twin of ``_ivf_nlist``/``_ivf_train_cap``),
    k-means runs only on the capped hash-sample (~50·nlist vectors, cost
    independent of n), then ONE linear pass assigns the full ``corpus``
    (a table or earlier CTE — the incremental-ingest oracle
    trains/assigns over the ``old`` slice)."""
    cos = _duck_cos("e.embedding", "c.cemb")
    parts = [f"""nl AS (
    SELECT {_DUCK_NLIST} AS nlist,
           GREATEST({_IVF_TRAIN_CAP}, 50 * {_DUCK_NLIST}) AS cap,
           {_DUCK_NPROBE} AS np
    FROM {corpus}
), train AS (
    SELECT vec_id, embedding FROM {corpus}
    QUALIFY row_number() OVER (ORDER BY {_DUCK_HV}, vec_id)
            <= (SELECT cap FROM nl)
), seeds AS (
    SELECT cid, cemb FROM (
        SELECT cid,
               list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cemb,
               row_number() OVER (PARTITION BY cid
                   ORDER BY hv_, vec_id) AS r
        FROM (
            SELECT vec_id, embedding, {_DUCK_HV} AS hv_,
                   ({_DUCK_HV} % (SELECT nlist FROM nl)) AS cid
            FROM train)
    ) WHERE r = 1
)"""]
    cent = "seeds"
    for i in range(1, _IVF_ITERS + 1):
        parts.append(_DUCK_IVF_ASSIGN.format(name=f"a{i}", cent=cent,
                                             cos=cos, src="train"))
        parts.append(_DUCK_IVF_UPDATE.format(i=i))
        cent = f"u{i}"
    parts.append(_DUCK_IVF_ASSIGN.format(name="cells", cent=cent, cos=cos,
                                         src=corpus))
    return ",\n".join(parts)


# ---- driver-side exact k-means twin (round-13 optimization) --------------

#: Contractual embedding width (FIXTURES.md) — lets the fixed-point mean
#: update run as 64 map-side-combinable SUM columns instead of a 64-way
#: posexplode (guide §2.3: aggregate before you shuffle).
_EMB_DIM = 64

#: Ceiling on (training rows × centroids) for the DRIVER-side Lloyd twin.
#: Training samples are capped by construction (≈50·nlist rows), so up to
#: this budget the whole training loop is constant-size work one numpy
#: pass finishes in well under a second — running it as ~10 distributed
#: jobs per index build was pure scheduling overhead at ANY corpus size
#: (guide §1.2: fix the distributed algorithm first; §5: bounded driver
#: work is fine — the sample is ≤ ~50·√n rows, ~1.6 MB at the sf0.1
#: corpus and ~11 MB at the 200k-vector audit). Past the budget (nlist
#: approaching its 65536 ceiling) the distributed twin takes over
#: unchanged; both paths are bit-identical (pinned in
#: tests/test_opt_r13.py).
_DRIVER_TRAIN_MAX_PAIRS = 16_000_000


def _hv_col() -> Column:
    """The portable md5 draw as a Spark column (twin of ``_DUCK_HV``)."""
    return F.conv(F.substring(F.md5(F.col("vec_id").cast("string")), 1, 8),
                  16, 10).cast("long")


def _fold_dot_np(A, B_row):
    """Left-to-right IEEE fold of Σ A[:,i]·B[i] — the numpy twin of
    ``_dot``'s aggregate/zip_with association (one multiply then one add
    per element, dim-ascending, accumulator seeded 0.0)."""
    import numpy as np
    acc = np.zeros(A.shape[0])
    for i in range(A.shape[1]):
        acc = acc + A[:, i] * B_row[i]
    return acc


def _lloyd_np(E, cents):
    """``_IVF_ITERS`` Lloyd rounds over the in-memory training matrix —
    the bit-identical numpy twin of ``_lloyd``:

    - cosine is the same hoisted-norm ``dot / (nv · nc)`` with the same
      left-to-right fold association over IEEE doubles;
    - the assignment scan walks cells in ascending cid with a strict
      ``>`` (plus NaN-greatest) comparison — exactly the window's
      ``ORDER BY _c DESC, cid`` pick, including Spark's NaN-largest
      total order and the min-cid tie-break;
    - the mean update floors each component onto the 1e-9 grid
      (exact int64 sums, order-invariant) and divides back
      ``(sum/count)/FX`` in the same association;
    - empty cells drop, surviving cids keep their labels.

    ``E`` is the (rows × 64) float64 training matrix; ``cents`` maps
    cid → float64[64]. Returns the trained dict with the same keying.
    """
    import numpy as np
    n, d = E.shape
    nv = np.zeros(n)
    for i in range(d):
        nv = nv + E[:, i] * E[:, i]
    nv = np.sqrt(nv)
    FX = np.floor(E * _IVF_FX).astype(np.int64)
    for _ in range(_IVF_ITERS):
        cids = sorted(cents)
        C = np.array([cents[c] for c in cids], dtype=np.float64)
        k = len(cids)
        nc = np.zeros(k)
        for i in range(d):
            nc = nc + C[:, i] * C[:, i]
        nc = np.sqrt(nc)
        acc = np.zeros((n, k))
        for i in range(d):
            acc = acc + E[:, i:i + 1] * C[:, i][None, :]
        cos = acc / (nv[:, None] * nc[None, :])
        best = np.full(n, -np.inf)
        best_j = np.zeros(n, dtype=np.int64)
        best_nan = np.zeros(n, dtype=bool)
        for j in range(k):
            c = cos[:, j]
            isn = np.isnan(c)
            better = (~best_nan) & (isn | (c > best))
            best[better] = c[better]
            best_j[better] = j
            best_nan[better] = isn[better]
        counts = np.bincount(best_j, minlength=k)
        sums = np.zeros((k, d), dtype=np.int64)
        np.add.at(sums, best_j, FX)
        cents = {cids[j]: (sums[j].astype(np.float64) / float(counts[j]))
                 / _IVF_FX
                 for j in range(k) if counts[j] > 0}
    return cents


def _seeded_lloyd_driver(spark: SparkSession, rows, nlist: int) -> DataFrame:
    """Seed (cid = hv % nlist, per-cid (hv, vec_id)-min member) and train
    on collected ``(vec_id, embedding, hv)`` rows; return the trained
    centroids as a cached local DataFrame — the leaf the callers
    broadcast, exactly like the distributed ``_lloyd`` result."""
    import numpy as np
    if not rows:   # degenerate empty corpus: no seeds, no centroids —
        return spark.createDataFrame(   # same empty frame as _lloyd's
            [], "cid long, cemb array<double>")
    ordered = sorted(rows, key=lambda r: (r["hv"], r["vec_id"]))
    E = np.array([r["embedding"] for r in ordered], dtype=np.float64)
    cents: dict = {}
    for pos, r in enumerate(ordered):
        cid = int(r["hv"]) % nlist
        if cid not in cents:    # first in (hv, vec_id) order seeds the cell
            cents[cid] = E[pos]
    trained = _lloyd_np(E, cents)
    out = [(int(cid), [float(x) for x in v])
           for cid, v in sorted(trained.items())]
    # No .cache(): the frame is a LocalTableScan leaf — there is no
    # lineage to re-run, and caching it would only add a materialization
    # job before the first broadcast.
    df = spark.createDataFrame(out, "cid long, cemb array<double>")
    # r14: the trained bank already lives in driver memory — attach it
    # so `_cent_bank` consumers (Arrow assignment, the serve fast path)
    # skip the count+collect round-trip per pass. Per-build state on the
    # in-memory frame object, never persisted across runs.
    cids = np.array([c for c, _ in out], dtype=np.int64)
    C = np.array([v for _, v in out], dtype=np.float64)
    df._graft_cent_bank = (cids, C) if out else None
    return df


def _fx_mean_agg(df: DataFrame, keys: list) -> DataFrame:
    """Exact fixed-point mean of ``embedding`` per key group, FUSED:
    64 map-side-combinable SUM columns + one count instead of
    posexplode → (key, dim) aggregate → collect_list re-assembly. One
    Exchange instead of two, and the shuffle carries 65 longs per
    partial group instead of 64 exploded rows per member (guide §2.3).
    Arithmetic is the same ``(sum(floor(x·FX)) / count) / FX`` in the
    same association, so the result is bit-identical."""
    sums = [F.sum(F.floor(F.col("embedding").getItem(i).cast("double")
                          * F.lit(_IVF_FX))).alias(f"_s{i}")
            for i in range(_EMB_DIM)]
    comp = [F.col(f"_s{i}").cast("double") / F.col("_n").cast("double")
            / F.lit(_IVF_FX) for i in range(_EMB_DIM)]
    return (df.groupBy(*keys).agg(F.count("*").alias("_n"), *sums)
              .select(*keys, F.array(*comp).alias("cemb")))


#: Ceiling on collected centroid-bank rows for the Arrow assignment
#: pass. The coarse-centroid frames every caller passes are bounded by
#: the ``_IVF_NLIST_CEIL`` clamp (65536 × 64 doubles ≈ 33 MB — the same
#: magnitude the JVM path already broadcasts), so the gate only ever
#: falls back for a hypothetical unclamped centroid frame.
_ASSIGN_BANK_MAX_ROWS = 200_000


def _cent_bank(centroids: DataFrame):
    """Collect a bounded (cid, cemb) frame into the numpy bank the Arrow
    assigner closes over: (cid vector ascending, k×64 float64 matrix),
    or None when the frame exceeds ``_ASSIGN_BANK_MAX_ROWS`` (caller
    falls back to the JVM join) or is empty. Cheap by construction: the
    trained centroid frames are LocalTableScan leaves (driver-trained)
    or tiny cached results.

    r14: frames built by the driver trainer carry their bank attached
    (``_graft_cent_bank``) — the count+collect round-trip (two driver
    queries per index build / serve pass) only runs for frames that
    arrived from storage or a distributed train. Per-build in-memory
    state, never persisted across runs."""
    import numpy as np
    attached = getattr(centroids, "_graft_cent_bank", False)
    if attached is not False:
        return attached
    if centroids.count() > _ASSIGN_BANK_MAX_ROWS:
        return None
    rows = sorted(centroids.select("cid", "cemb").collect(),
                  key=lambda r: r["cid"])
    if not rows:
        return None
    cids = np.array([int(r["cid"]) for r in rows], dtype=np.int64)
    C = np.array([list(map(float, r["cemb"])) for r in rows],
                 dtype=np.float64)
    return cids, C


def _topn_scan_np(cos, rounds: int):
    """``rounds`` repeated (NaN-greatest, min-column) argmax picks over
    the (n × k) score matrix, each round excluding columns already
    picked per row — exactly the ``ORDER BY _c DESC, cid`` window pick
    (Spark's NaN-largest total order, ascending-cid tie-break), applied
    ``rounds`` times. Returns a list of per-round column-index
    vectors."""
    import numpy as np
    n, k = cos.shape
    avail = np.ones((n, k), dtype=bool)
    picks = []
    for _ in range(min(rounds, k)):
        best = np.full(n, -np.inf)
        best_j = np.zeros(n, dtype=np.int64)
        best_nan = np.zeros(n, dtype=bool)
        found = np.zeros(n, dtype=bool)
        for j in range(k):
            c = cos[:, j]
            isn = np.isnan(c)
            better = avail[:, j] & (
                ~found | ((~best_nan) & (isn | (c > best))))
            best[better] = c[better]
            best_j[better] = j
            best_nan[better] = isn[better]
            found[better] = True
        picks.append(best_j.copy())
        avail[np.arange(n), best_j] = False
    return picks


def _ivf_assign_batches(cids, C, nprobe: int):
    """Arrow-batch centroid assigner: the bit-identical numpy twin of
    the JVM ``crossJoin(centroids) → max(struct)`` argmax /
    ``row_number`` top-nprobe (r13, guide §4.2). The JVM formulation
    evaluated one zip_with + aggregate higher-order fold per
    (row × centroid) pair — HOF expressions are interpreted, not
    codegen'd, and the assignment pass had become THE dominant cost of
    every index build after training moved driver-side. Here each batch
    computes all pair cosines vectorized with the same left-to-right
    fold association, hoisted-norm ``dot / (nv·nc)`` product-first
    division, and the same (NaN-greatest, min-cid) pick, so assignments
    are identical (twin-pinned in tests/test_opt_r13.py; oracle parity
    re-proves every consumer). Banks are closure state built once per
    task (guide §4.5)."""
    import numpy as np
    import pyarrow as pa

    k, d = C.shape
    nc = np.zeros(k)
    for i in range(d):
        nc = nc + C[:, i] * C[:, i]
    nc = np.sqrt(nc)

    def assign(it):
        for batch in it:
            n = batch.num_rows
            if n == 0:
                continue
            emb = batch.column("embedding")
            E = emb.flatten().to_numpy(zero_copy_only=False) \
                   .astype(np.float64).reshape(n, -1)
            nv = np.zeros(n)
            for i in range(d):
                nv = nv + E[:, i] * E[:, i]
            nv = np.sqrt(nv)
            acc = np.zeros((n, k))
            for i in range(d):
                acc = acc + E[:, i:i + 1] * C[:, i][None, :]
            cos = acc / (nv[:, None] * nc[None, :])
            vid = batch.column("vec_id")
            for pick in _topn_scan_np(cos, nprobe):
                yield pa.RecordBatch.from_arrays(
                    [vid, emb, pa.array(cids[pick], type=pa.int64())],
                    names=["vec_id", "embedding", "cid"])

    return assign


def _ivf_assign(e: DataFrame, centroids: DataFrame,
                nprobe: int = 1, arrow: bool = True) -> DataFrame:
    """(vec_id, embedding, cid) — each vector paired with its ``nprobe``
    nearest trained centroids; dispatches to the Arrow numpy twin
    (``_ivf_assign_batches``) whenever the centroid frame fits the
    bank gate (always, for the clamped coarse frames), else the JVM
    join twin below.

    ``arrow=False`` routes through the JVM twin regardless: callers
    assigning SMALL frames (query probes, arrival micro-batches) pass
    it — the Arrow pass's fixed JVM↔Python stage cost (~1 s/pass,
    measured on the incremental serve) outweighs the vectorization win
    below corpus scale, while the broadcast join evaluates a handful
    of interpreted folds. Identical output either way (twin-pinned)."""
    bank = _cent_bank(centroids) if arrow else None
    if bank is None:
        return _ivf_assign_jvm(e, centroids, nprobe)
    cids, C = bank
    emb_t = e.schema["embedding"].dataType.simpleString()
    return (e.select("vec_id", "embedding")
             .mapInArrow(_ivf_assign_batches(cids, C, nprobe),
                         f"vec_id long, embedding {emb_t}, cid long"))


def _ivf_assign_jvm(e: DataFrame, centroids: DataFrame,
                    nprobe: int = 1) -> DataFrame:
    """(vec_id, embedding, cid) — each vector paired with its ``nprobe``
    nearest trained centroids. Three call shapes (ADVICE r6 — the old
    "every vector indexes under exactly one cell" claim no longer holds
    unconditionally):

    - nprobe=1: the classic single-assignment index build (disjoint
      cells, no downstream dedup needed);
    - nprobe>1 on the QUERY side: the recall dial — a query probes its
      n nearest cells;
    - nprobe=``_IVF_NASSIGN`` on the INDEX side (the round-6 composed
      stack): index-side multi-assignment, where one vector lands in
      several cells ON PURPOSE, so (query, candidate) pairs can surface
      through more than one cell and callers MUST dedup candidates
      downstream (the per-(q, c, m) pre-aggregate in the ADC path).

    r7 cost fix: the pair score factors the two norms OUT of the n×nlist
    join — ``dot(v,c) / (|v|·|c|)`` with each norm computed ONCE per
    side instead of per pair (the inline ``_cos`` re-folded both
    self-dots for every pair: 3 64-wide folds → 1 on the dominant ANN
    cost). Bit-identical to the oracle's per-pair formula: the hoisted
    ``sqrt(dot(x,x))`` is the same IEEE expression over the same
    operands, and the final divide keeps the identical
    ``dot / (na * nc)`` association."""
    norm_e = F.sqrt(_dot(F.col("embedding"), F.col("embedding")))
    norm_c = F.sqrt(_dot(F.col("cemb"), F.col("cemb")))
    ev = e.select("vec_id", "embedding", norm_e.alias("_nv"))
    cv = centroids.select("cid", "cemb", norm_c.alias("_nc"))
    pairs = (ev.crossJoin(F.broadcast(cv))
               .withColumn("_c", _dot(F.col("embedding"), F.col("cemb"))
                           / (F.col("_nv") * F.col("_nc"))))
    if nprobe == 1:
        # r13 shuffle fix (guide §2.3/§2.4): the argmax used to be a
        # row_number window over the n × nlist pair frame — an Exchange
        # carrying every pair WITH its 64-float embedding, plus a sort.
        # A max(struct) aggregate is map-side combinable, and because
        # the broadcast crossJoin co-locates all of a vector's pairs in
        # one task, the partial aggregate already reduces them to ONE
        # row before the exchange: n narrow-ish rows shuffle instead of
        # n·nlist wide ones, and the sort disappears. The pick is
        # identical: struct ordering is (_c, -cid) lexicographic, i.e.
        # max _c with the min-cid tie-break, and Spark's max uses the
        # same NaN-greatest total order as the window's ORDER BY DESC.
        return (pairs.groupBy("vec_id")
                     .agg(F.max(F.struct(
                         F.col("_c").alias("c"),
                         (-F.col("cid")).alias("nc"),
                         F.col("cid").alias("cid"),
                         F.col("embedding").alias("embedding"))).alias("m"))
                     .select("vec_id", F.col("m.embedding").alias("embedding"),
                             F.col("m.cid").alias("cid")))
    # nprobe > 1 (index-side multi-assignment / query probes): top-n per
    # vector still needs a window, but it now runs over NARROW rows —
    # (vec_id, cid, _c) — and the embedding re-attaches afterwards by a
    # vec_id equi-join. The exchange feeding the window carries ~24
    # bytes/pair instead of the 64-float embedding (~10x fewer shuffle
    # bytes on the dominant n × nassign volume), per guide §2.3.
    w = Window.partitionBy("vec_id").orderBy(F.col("_c").desc(), "cid")
    top = (pairs.select("vec_id", "cid", "_c")
                .withColumn("r", F.row_number().over(w))
                .filter(F.col("r") <= nprobe)
                .select("vec_id", "cid"))
    return (e.select("vec_id", "embedding").join(top, "vec_id")
             .select("vec_id", "embedding", "cid"))


def _ivf_train(e: DataFrame) -> DataFrame:
    """(cid, cemb): the trained IVF centroids — Spark twin of
    ``_duck_ivf_prefix``'s u-chain, bit-identical by construction.

    Training is k-means with cosine assignment (spherical Lloyd) and a
    plain mean update, made cross-engine exact the same way as
    ``agg_pagerank_bipartite``: each float component is floored onto a
    1e-9 fixed-point grid (inputs are bit-identical IEEE doubles in both
    engines, so the floored longs are too) and the per-(cell, dim) SUM is
    over exact longs — order-invariant; the single divide-back is IEEE.
    Seeds are pseudo-random but portable: bucket vectors by
    md5-hash(vec_id) mod k (k ≈ n/97) and take each bucket's
    (hash, vec_id)-min vector. Empty buckets/cells simply drop —
    deterministic in both engines.

    r13: while n·k fits ``_DRIVER_TRAIN_MAX_PAIRS`` the loop runs as the
    bit-identical numpy twin on the driver (one collect of the training
    rows, zero distributed jobs); past the budget the distributed
    ``_lloyd`` below takes over unchanged. The returned frame stays
    cached (tiny: k x 64 doubles) — callers broadcast it.
    """
    import math
    n = e.count()
    nlist = max(1, int(math.ceil(n / float(_IVF_STRIDE))))
    if n * nlist <= _DRIVER_TRAIN_MAX_PAIRS:
        # r13: the whole training set is driver-bounded here (n ≤ ~40k
        # rows before the budget trips) — run the bit-identical numpy
        # Lloyd twin instead of ~10 tiny distributed jobs (guide §1.2).
        rows = e.select("vec_id", "embedding", _hv_col().alias("hv")) \
                .collect()
        return _seeded_lloyd_driver(e.sparkSession, rows, nlist)
    hv = _hv_col()
    seeded = e.select("vec_id", "embedding", hv.alias("hv"),
                      (hv % nlist).alias("cid"))
    w_seed = Window.partitionBy("cid").orderBy("hv", "vec_id")
    cent = (seeded.withColumn("r", F.row_number().over(w_seed))
                  .filter("r = 1")
                  .select("cid", F.transform(
                      "embedding", lambda x: x.cast("double")).alias("cemb"))
                  .cache())
    return _lloyd(e, cent)


def _lloyd(train: DataFrame, cent: DataFrame) -> DataFrame:
    """``_IVF_ITERS`` fixed Lloyd iterations of (assign ``train`` to
    ``cent``, recompute exact fixed-point means); ``cent`` must arrive
    cached and the result stays cached (callers broadcast it)."""
    for _ in range(_IVF_ITERS):
        assigned = _ivf_assign(train, cent)
        # r13: fused fixed-point mean (64 combinable SUMs, one Exchange)
        # instead of posexplode -> (cid, dim) aggregate -> collect_list
        # re-assembly (two Exchanges, 64x the shuffled rows). Identical
        # arithmetic — see _fx_mean_agg.
        new_cent = _fx_mean_agg(assigned, ["cid"]).cache()
        # Same cache hygiene as dedup_cluster_cc: the unrolled iterations
        # otherwise recompute the whole training lineage per reference —
        # measured as a >5 min stall at the 10x corpus (20k vectors)
        # before this materialize-then-unpersist was added. Centroids are
        # tiny (k x 64 doubles), so the cache cost is nil; full count()
        # BEFORE unpersisting the predecessor, or the cache would
        # repopulate through the dropped lineage.
        new_cent.count()
        cent.unpersist()
        cent = new_cent
    # `cent` (the trained centroids) intentionally stays cached: callers'
    # assignment plans broadcast it, possibly more than once.
    return cent


def _ivf_cells(e: DataFrame) -> DataFrame:
    """(vec_id, embedding, cid): the trained index assignment — every
    vector under its single nearest trained centroid."""
    return _ivf_assign(e, _ivf_train(e))


def _ivf_train_capped(e: DataFrame, n=None, sample_rows=None) -> DataFrame:
    """(cid, cemb): centroids trained on the md5-lowest ``~50·nlist``
    vectors with ``nlist = _ivf_nlist(n)`` cells (VERDICT r6 #1: nlist
    grows ~√n so the per-query scanned fraction FALLS with the corpus;
    the training sample grows with nlist, so training stays ~50·nlist²
    distances — sub-linear in n up to the 65536-cell ceiling). Spark
    twin of ``_duck_ivf_capped_prefix``.

    Sizing needs ONE scalar — the corpus cardinality — pulled by a
    count() action (parquet metadata count: no rows move to the driver;
    the same way faiss sizing reads ntotal). The oracle's ``nl`` CTE
    computes the identical nlist/cap from the same corpus, and both use
    floor(sqrt()) on IEEE doubles, so the derived literals agree
    cross-engine at any sf.

    The sample is `ORDER BY hash LIMIT cap` — TakeOrderedAndProject
    (per-partition top-cap, driver merges cap x p rows), never a global
    sort, and deterministic under re-runs and appends because the hash is
    the portable md5 draw, not rand().
    """
    nlist = _ivf_nlist(e.count() if n is None else n)
    cap = _ivf_train_cap(nlist)
    if sample_rows is not None and cap * nlist <= _DRIVER_TRAIN_MAX_PAIRS:
        # shared-sample fast path (see _pq_codebook): the (hv, vec_id)-
        # ascending prefix IS this trainer's own TakeOrdered collect
        return _seeded_lloyd_driver(e.sparkSession, sample_rows[:cap], nlist)
    sample = (e.select("vec_id", "embedding", _hv_col().alias("hv"))
               .orderBy("hv", "vec_id")
               .limit(cap))
    if cap * nlist <= _DRIVER_TRAIN_MAX_PAIRS:
        # r13: the sample is ≤ cap rows BY THE DIAL — collect it and run
        # the bit-identical numpy Lloyd twin on the driver. One
        # TakeOrderedAndProject job replaces the ~10-job distributed
        # training chain; the corpus-sized assignment pass downstream
        # stays distributed (guide §1.2 — this is the constant-cost part
        # of the build at any corpus size).
        return _seeded_lloyd_driver(e.sparkSession, sample.collect(), nlist)
    train = sample.cache()
    w_seed = Window.partitionBy("cid").orderBy("hv", "vec_id")
    cent = (train.withColumn("cid", F.col("hv") % nlist)
                 .withColumn("r", F.row_number().over(w_seed))
                 .filter("r = 1")
                 .select("cid", F.transform(
                     "embedding", lambda x: x.cast("double")).alias("cemb"))
                 .cache())
    trained = _lloyd(train.select("vec_id", "embedding"), cent)
    train.unpersist()   # trained was materialized inside _lloyd
    return trained


def _ivf_cells_scalable(e: DataFrame) -> DataFrame:
    """(vec_id, embedding, cid): the scalable index — capped-sample-trained
    centroids, then ONE linear n x nlist assignment pass over the corpus."""
    return _ivf_assign(e, _ivf_train_capped(e))


@op("sim_ivf_topk", oracle=f"""
WITH {_duck_ivf_prefix()},
q AS (
    SELECT vec_id AS q_vec_id, embedding AS qemb, cid
    FROM cells WHERE vec_id < {_N_QUERIES}
)
SELECT q_vec_id, c_vec_id, cid, score, rnk FROM (
    SELECT q.q_vec_id, a.vec_id AS c_vec_id, q.cid,
           round({_duck_cos('q.qemb', 'a.embedding')}, 6) AS score,
           row_number() OVER (
               PARTITION BY q.q_vec_id
               ORDER BY {_duck_cos('q.qemb', 'a.embedding')} DESC,
                        a.vec_id) AS rnk
    FROM q JOIN cells a
      ON a.cid = q.cid AND a.vec_id <> q.q_vec_id
) WHERE rnk <= 3
""", tier=3, section="2.11")
def sim_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN with TRAINED centroids (VERDICT r3 item #3): k-means
    coarse quantizer (portable hash-bucket seeds + 3 Lloyd iterations,
    exact fixed-point means — see ``_ivf_cells``), then each query
    searches ONLY its centroid's inverted list (nprobe=1).

    The other ANN scale path next to ``sim_lsh_bucketed``: LSH partitions
    by random hyperplanes, IVF by data-adaptive cells — now genuinely
    data-adaptive instead of the round-3 stride sample (measured at
    sf0.01: recall@5 0.366 vs the stride version's 0.291 over the 64-
    query eval, at the same ~n/97 cell count and search cost;
    tests/test_ivf.py asserts the ≥ relation). Centroids are tiny ->
    broadcast; assignment is one narrow pass + per-vector argmax; the
    cell equi-join replaces the all-pairs cross join, cutting candidates
    ~n_cells-fold at the cost of recall at cell boundaries (the classic
    nprobe=1 trade; raise nprobe by taking r <= nprobe in the assign
    window to buy recall back).
    """
    e = load(spark, sf_dir, "embeddings")
    cells = _ivf_cells(e)
    nrm = F.sqrt(_dot(F.col("embedding"), F.col("embedding")))
    q = cells.filter(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("q_vec_id"),
        F.col("embedding").alias("qemb"), "cid", nrm.alias("_nq"))
    cand = cells.select(F.col("vec_id").alias("c_vec_id"),
                        F.col("embedding").alias("cemb2"),
                        F.col("cid").alias("cid2"), nrm.alias("_nc"))
    # r13: norms hoisted per side (see _ivf_cell_topk)
    score = _dot(F.col("qemb"), F.col("cemb2")) / (F.col("_nq") * F.col("_nc"))
    w_top = Window.partitionBy("q_vec_id").orderBy(
        F.col("_s").desc(), "c_vec_id")
    return (
        F.broadcast(q).join(cand, (F.col("cid") == F.col("cid2"))
                            & (F.col("c_vec_id") != F.col("q_vec_id")))
         .withColumn("_s", score)
         .withColumn("rnk", F.row_number().over(w_top))
         .filter("rnk <= 3")
         .select("q_vec_id", "c_vec_id", "cid",
                 F.round("_s", 6).alias("score"), "rnk")
    )


@op("sim_ivf_scalable_topk", oracle=f"""
WITH {_duck_ivf_capped_prefix()},
q AS (
    SELECT vec_id AS q_vec_id, embedding AS qemb, cid
    FROM cells WHERE vec_id < {_N_QUERIES}
)
SELECT q_vec_id, c_vec_id, cid, score, rnk FROM (
    SELECT q.q_vec_id, a.vec_id AS c_vec_id, q.cid,
           round({_duck_cos('q.qemb', 'a.embedding')}, 6) AS score,
           row_number() OVER (
               PARTITION BY q.q_vec_id
               ORDER BY {_duck_cos('q.qemb', 'a.embedding')} DESC,
                        a.vec_id) AS rnk
    FROM q JOIN cells a
      ON a.cid = q.cid AND a.vec_id <> q.q_vec_id
) WHERE rnk <= 3
""", tier=3, section="2.11")
def sim_ivf_scalable_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The LINEAR-training IVF — the named fix from the round-4 10x
    scaling audit, implemented (SCALE.md measured ``sim_ivf_topk``'s
    training at e=1.84: its cell count k ≈ n/97 makes assignment n x k ≈
    n²/97). This variant applies standard deployed-IVF practice instead:

    - **nlist scales ~√n** (``_ivf_nlist``: clamp(⌊√n⌋, 32, 65536) —
      the faiss sizing guideline; VERDICT r6 #1 replaced the round-5
      constant 32, whose cells grew as n/32 and pinned per-query search
      at a constant ~18% of the corpus forever);
    - **training is capped**: k-means runs on the md5-lowest
      ``~50·nlist`` vectors (a deterministic uniform sample; ~50·nlist²
      distances — grows with nlist, never with n);
    - **one linear pass** assigns the full corpus (n x nlist cosines).

    Same query shape as ``sim_ivf_topk`` (nprobe=1, top-3 inside the
    query's cell). With nlist ~ √n, expected cell size is ~√n too, so
    per-query search cost grows as √n instead of n — the canonical IVF
    scaling. Measured in the 10x audit: see SCALE.md.
    """
    e = load(spark, sf_dir, "embeddings")
    return _ivf_cell_topk(_ivf_cells_scalable(e))


def _ivf_cell_topk(cells: DataFrame) -> DataFrame:
    """nprobe=1 top-3 search over a (vec_id, embedding, cid) index frame —
    the serve-side core shared by ``sim_ivf_scalable_topk`` and the
    bench build/serve split (VERDICT r6 #3)."""
    nrm = F.sqrt(_dot(F.col("embedding"), F.col("embedding")))
    q = cells.filter(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("q_vec_id"),
        F.col("embedding").alias("qemb"), "cid", nrm.alias("_nq"))
    cand = cells.select(F.col("vec_id").alias("c_vec_id"),
                        F.col("embedding").alias("cemb2"),
                        F.col("cid").alias("cid2"), nrm.alias("_nc"))
    w_top = Window.partitionBy("q_vec_id").orderBy(
        F.col("_s").desc(), "c_vec_id")
    return (
        F.broadcast(q).join(cand, (F.col("cid") == F.col("cid2"))
                            & (F.col("c_vec_id") != F.col("q_vec_id")))
         # r13: norms hoisted per side (1 fold per pair, not 3 — same
         # dot/(nq*nc) association as the oracle's per-pair formula)
         .withColumn("_s", _dot(F.col("qemb"), F.col("cemb2"))
                     / (F.col("_nq") * F.col("_nc")))
         .withColumn("rnk", F.row_number().over(w_top))
         .filter("rnk <= 3")
         .select("q_vec_id", "c_vec_id", "cid",
                 F.round("_s", 6).alias("score"), "rnk")
    )


@op("sim_ivf_topk_nprobe2", oracle=f"""
WITH {_duck_ivf_capped_prefix()},
qprobe AS (
    SELECT vec_id, embedding, cid FROM (
        SELECT e.vec_id, e.embedding, c.cid,
               row_number() OVER (PARTITION BY e.vec_id
                   ORDER BY {_duck_cos('e.embedding', 'c.cemb')} DESC,
                            c.cid) AS r
        FROM embeddings e CROSS JOIN u{_IVF_ITERS} c
        WHERE e.vec_id < {_N_QUERIES}
    ) WHERE r <= 2
)
SELECT q_vec_id, c_vec_id, cid, score, rnk FROM (
    SELECT q.vec_id AS q_vec_id, a.vec_id AS c_vec_id, a.cid,
           round({_duck_cos('q.embedding', 'a.embedding')}, 6) AS score,
           row_number() OVER (
               PARTITION BY q.vec_id
               ORDER BY {_duck_cos('q.embedding', 'a.embedding')} DESC,
                        a.vec_id) AS rnk
    FROM qprobe q JOIN cells a
      ON a.cid = q.cid AND a.vec_id <> q.vec_id
) WHERE rnk <= 3
""", tier=3, section="2.11")
def sim_ivf_topk_nprobe2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The IVF recall dial, exercised: identical trained index to
    ``sim_ivf_scalable_topk`` (capped trainer, constant nlist — ported
    off the super-linear full-corpus trainer per VERDICT r5 #2), but
    each query searches its TWO nearest cells (nprobe=2) — 2x the
    candidates for measurably better recall (see ``sim_ivf_recall_eval``
    for the measured nprobe=1 vs nprobe=2 pair). Probed cells are
    disjoint because every vector indexes under exactly one cell, so no
    candidate dedup is needed — the probe assignment is the same argmax
    window with ``r <= 2``. This is THE standard quality/cost lever of
    a deployed IVF index (nprobe is a query-time knob; the index is
    untouched)."""
    e = load(spark, sf_dir, "embeddings")
    cent = _ivf_train_capped(e)
    cells = _ivf_assign(e, cent)
    qprobe = _ivf_assign(e.filter(F.col("vec_id") < _N_QUERIES), cent,
                         nprobe=2, arrow=False) \
        .select(F.col("vec_id").alias("q_vec_id"),
                F.col("embedding").alias("qemb"), "cid",
                F.sqrt(_dot(F.col("embedding"), F.col("embedding")))
                 .alias("_nq"))
    cand = cells.select(F.col("vec_id").alias("c_vec_id"),
                        F.col("embedding").alias("cemb2"),
                        F.col("cid").alias("cid2"),
                        F.sqrt(_dot(F.col("embedding"), F.col("embedding")))
                         .alias("_nc"))
    # r13: norms hoisted per side (see _ivf_cell_topk)
    score = _dot(F.col("qemb"), F.col("cemb2")) / (F.col("_nq") * F.col("_nc"))
    w_top = Window.partitionBy("q_vec_id").orderBy(
        F.col("_s").desc(), "c_vec_id")
    return (
        F.broadcast(qprobe)
         .join(cand, (F.col("cid") == F.col("cid2"))
               & (F.col("c_vec_id") != F.col("q_vec_id")))
         .withColumn("_s", score)
         .withColumn("rnk", F.row_number().over(w_top))
         .filter("rnk <= 3")
         .select("q_vec_id", "c_vec_id",
                 F.col("cid2").alias("cid"),
                 F.round("_s", 6).alias("score"), "rnk")
    )


@op("sim_ivf_recall_eval", oracle=f"""
WITH {_duck_ivf_capped_prefix()},
topk AS (
    SELECT q_vec_id, c_vec_id FROM (
        SELECT q.vec_id AS q_vec_id, c.vec_id AS c_vec_id,
               row_number() OVER (
                   PARTITION BY q.vec_id
                   ORDER BY {_duck_cos('q.embedding', 'c.embedding')} DESC,
                            c.vec_id) AS rnk
        FROM embeddings q, embeddings c
        WHERE q.vec_id < {_EVAL_QUERIES} AND q.vec_id <> c.vec_id
    ) WHERE rnk <= 5
), qp AS (
    SELECT vec_id, cid FROM (
        SELECT e.vec_id, c.cid,
               row_number() OVER (PARTITION BY e.vec_id
                   ORDER BY {_duck_cos('e.embedding', 'c.cemb')} DESC,
                            c.cid) AS r
        FROM embeddings e CROSS JOIN u{_IVF_ITERS} c
        WHERE e.vec_id < {_EVAL_QUERIES}
    ) WHERE r <= 2
)
SELECT t.q_vec_id,
       count(*) AS n_true,
       CAST(count_if(cq.cid = cc.cid) AS BIGINT) AS n_in_cell,
       CAST(count_if(qp.cid IS NOT NULL) AS BIGINT) AS n_in_2cells,
       round(CAST(count_if(cq.cid = cc.cid) AS DOUBLE) / count(*), 6)
           AS recall_at_5,
       round(CAST(count_if(qp.cid IS NOT NULL) AS DOUBLE) / count(*), 6)
           AS recall_at_5_nprobe2
FROM topk t
JOIN cells cq ON cq.vec_id = t.q_vec_id
JOIN cells cc ON cc.vec_id = t.c_vec_id
LEFT JOIN qp ON qp.vec_id = t.q_vec_id AND qp.cid = cc.cid
GROUP BY t.q_vec_id
""", tier=3, section="2.11")
def sim_ivf_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@5 of the trained-IVF candidate cut vs brute-force truth —
    the twin of ``sim_lsh_recall_eval`` for the IVF path (VERDICT r3:
    an ANN index must ship its own eval), reported at BOTH nprobe=1 and
    nprobe=2 so the dial ``sim_ivf_topk_nprobe2`` exposes is measured,
    not asserted. Ported to the capped linear-cost trainer (VERDICT r5
    #2) so the eval measures the index users actually deploy
    (``sim_ivf_scalable_topk``'s — constant nlist, capped training) —
    the full-corpus trainer survives only in the labeled reference op
    ``sim_ivf_topk``. For each of the 64 sample queries: how many of
    the TRUE top-5 cosine neighbors land in the query's nearest / two
    nearest trained cells? 64 queries, not 8 — with 5 neighbors each,
    an 8-query estimate moves in steps of 1/40 and is dominated by
    sampling noise. Both the truth and the training are engine-portable,
    so the whole measurement is value-checked cross-engine. At corpus
    scale the truth side stays a fixed-sample computation — never the
    full O(n²) pass."""
    e = load(spark, sf_dir, "embeddings")
    cent = _ivf_train_capped(e)
    cells = _ivf_assign(e, cent).select("vec_id", "cid")
    nrm = F.sqrt(_dot(F.col("embedding"), F.col("embedding")))
    q = e.filter(F.col("vec_id") < _EVAL_QUERIES).select(
        F.col("vec_id").alias("q_vec_id"), F.col("embedding").alias("q_emb"),
        nrm.alias("_nq"))
    c = e.select(F.col("vec_id").alias("c_vec_id"),
                 F.col("embedding").alias("c_emb"), nrm.alias("_nc"))
    w = Window.partitionBy("q_vec_id").orderBy(F.col("_s").desc(), "c_vec_id")
    topk = (
        F.broadcast(q).crossJoin(c)
         .filter(F.col("q_vec_id") != F.col("c_vec_id"))
         # r13: norms hoisted per side (see _ivf_cell_topk)
         .withColumn("_s", _dot(F.col("q_emb"), F.col("c_emb"))
                     / (F.col("_nq") * F.col("_nc")))
         .withColumn("rnk", F.row_number().over(w)).filter("rnk <= 5")
         .select("q_vec_id", "c_vec_id")
    )
    cq = cells.select(F.col("vec_id").alias("q_vec_id"),
                      F.col("cid").alias("q_cid"))
    cc = cells.select(F.col("vec_id").alias("c_vec_id"),
                      F.col("cid").alias("c_cid"))
    qp = (_ivf_assign(e.filter(F.col("vec_id") < _EVAL_QUERIES), cent,
                      nprobe=2, arrow=False)
          .select(F.col("vec_id").alias("qq"),
                  F.col("cid").alias("p_cid")))
    hit1 = F.count_if(F.col("q_cid") == F.col("c_cid"))
    hit2 = F.count_if(F.col("p_cid").isNotNull())
    return (
        F.broadcast(topk).join(cq, "q_vec_id").join(cc, "c_vec_id")
         .join(qp, (F.col("qq") == F.col("q_vec_id"))
               & (F.col("p_cid") == F.col("c_cid")), "left")
         .groupBy("q_vec_id")
         .agg(F.count("*").alias("n_true"),
              hit1.alias("n_in_cell"),
              hit2.alias("n_in_2cells"),
              F.round(hit1.cast("double") / F.count("*"), 6)
               .alias("recall_at_5"),
              F.round(hit2.cast("double") / F.count("*"), 6)
               .alias("recall_at_5_nprobe2"))
    )


@op("sim_label_centroids", oracle="""
SELECT label, i AS dim,
       round(avg(CAST(x AS DOUBLE)), 6) AS centroid_component,
       count(*) AS n_vectors
FROM (
    SELECT label, unnest(embedding) AS x,
           generate_subscripts(embedding, 1) AS i
    FROM embeddings
)
GROUP BY label, i
""", tier=3, section="2.11")
def sim_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding centroid, one row per (label, dimension) —
    the building block of cluster-quality / mislabel auditing (a vector
    far from its own label's centroid is a labeling suspect) and of real
    k-means IVF training. posexplode -> (label, dim) mean is a single
    hash aggregation whose key space (labels x 64 dims) is tiny however
    many vectors stream through it — map-side partials do the heavy
    lifting."""
    e = load(spark, sf_dir, "embeddings")
    return (
        e.select("label", F.posexplode("embedding").alias("pos", "x"))
         .groupBy("label", (F.col("pos") + 1).alias("dim"))
         .agg(F.round(F.avg(F.col("x").cast("double")), 6)
               .alias("centroid_component"),
              F.count("*").alias("n_vectors"))
    )


@op("sim_vector_stats", oracle="""
SELECT vec_id, label,
       round(CAST(list_min(embedding) AS DOUBLE), 6) AS v_min,
       round(CAST(list_max(embedding) AS DOUBLE), 6) AS v_max,
       round(list_reduce(list_transform(embedding,
                 x -> CAST(x AS DOUBLE)), (a, b) -> a + b)
             / len(embedding), 6) AS v_mean,
       CAST(len(embedding) AS BIGINT) AS dim
FROM embeddings
""", tier=3, section="2.11")
def sim_vector_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vector component statistics (min/max/mean/dim) — the embedding
    sanity screen that catches NaN-poisoned, zeroed, or wrong-dimension
    vectors before they enter an index. Pure higher-order array ops,
    JVM-side, narrow: no shuffle at any scale. The mean is an explicit
    left-to-right fold on both engines (identical double result)."""
    e = load(spark, sf_dir, "embeddings")
    v = F.col("embedding")
    mean = F.aggregate(
        v, F.lit(0.0), lambda a, x: a + x.cast("double")) / F.size(v)
    return e.select(
        "vec_id", "label",
        F.round(F.array_min(v).cast("double"), 6).alias("v_min"),
        F.round(F.array_max(v).cast("double"), 6).alias("v_max"),
        F.round(mean, 6).alias("v_mean"),
        F.size(v).cast("long").alias("dim"),
    )


@op("sim_label_agreement", oracle=f"""
WITH nn AS (
    SELECT a.vec_id, a.label,
           max_by(b.label, {_duck_cos('a.embedding', 'b.embedding')})
               AS nn_label
    FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id
    GROUP BY a.vec_id, a.label
)
SELECT label,
       count(*) AS n_vectors,
       CAST(count_if(nn_label = label) AS BIGINT) AS n_agree,
       round(CAST(count_if(nn_label = label) AS DOUBLE) / count(*), 6)
           AS agreement
FROM nn GROUP BY label
""", tier=3, section="2.11")
def sim_label_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-neighbor label agreement per class: the fraction of
    vectors whose single nearest neighbor (cosine, brute force) carries
    the same label — the standard label-noise / class-separability probe
    run before training on a labeled embedding set. The all-pairs
    scan is the verification baseline (like ``sim_cosine_topk``);
    at corpus scale the identical measurement runs over the
    ``sim_lsh_bucketed``/``sim_ivf_topk`` candidate sets instead.
    argmax via max_by on the exact fold-cosine — deterministic because
    pairwise cosines are distinct in this corpus."""
    e = load(spark, sf_dir, "embeddings")
    # r14 (VERDICT r13 #4): norms hoisted per SIDE — the inline _cos
    # re-folded both self-dots per PAIR (3 64-wide folds -> 1 on the
    # n² scan); dot/(nq·nc) keeps the identical IEEE association.
    a = e.select(F.col("vec_id").alias("qid"), F.col("label").alias("qlbl"),
                 F.col("embedding").alias("qe"),
                 F.sqrt(_dot(F.col("embedding"), F.col("embedding")))
                  .alias("_nq"))
    b = e.select(F.col("vec_id").alias("cid"), F.col("label").alias("clbl"),
                 F.col("embedding").alias("ce"),
                 F.sqrt(_dot(F.col("embedding"), F.col("embedding")))
                  .alias("_nc"))
    nn = (
        a.join(b, F.col("qid") != F.col("cid"))
         .groupBy("qid", "qlbl")
         .agg(F.max_by("clbl", _dot(F.col("qe"), F.col("ce"))
                       / (F.col("_nq") * F.col("_nc")))
               .alias("nn_label"))
    )
    agree = F.count_if(F.col("nn_label") == F.col("qlbl"))
    return nn.groupBy(F.col("qlbl").alias("label")).agg(
        F.count("*").alias("n_vectors"),
        agree.alias("n_agree"),
        F.round(agree.cast("double") / F.count("*"), 6).alias("agreement"),
    )


@op("sim_exact_dup_vectors", oracle="""
SELECT md5(array_to_string(list_transform(embedding,
           x -> CAST(CAST(round(CAST(x AS DOUBLE) * 1000000, 0) AS BIGINT)
                     AS VARCHAR)), ',')) AS vec_hash,
       min(vec_id) AS keep_vec_id,
       count(*) AS n_copies
FROM embeddings
GROUP BY 1
""", tier=2, section="2.11")
def sim_exact_dup_vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-duplicate embedding detection: hash each vector's
    6-decimal-rounded component string — catches the copy-paste /
    re-ingested rows that inflate nearest-neighbor results before any
    LSH work. Pure hash aggregation (the dedup_exact_text of the vector
    world). Components are rendered as INTEGER micro-units before
    hashing — float-to-string formats diverge across engines, int64
    strings don't."""
    e = load(spark, sf_dir, "embeddings")
    h = F.md5(F.array_join(
        F.transform("embedding",
                    lambda x: F.round(x.cast("double") * 1_000_000, 0)
                               .cast("long").cast("string")),
        ","))
    return e.groupBy(h.alias("vec_hash")).agg(
        F.min("vec_id").alias("keep_vec_id"),
        F.count("*").alias("n_copies"),
    )


# --------------------------------------------------------------------------
# Embedding compression (round 4, SURVEY.md §2.14)
# --------------------------------------------------------------------------


@op("emb_quantize_int8", oracle="""
WITH q AS (
    SELECT vec_id,
           list_aggregate(list_transform(embedding,
               x -> abs(CAST(x AS DOUBLE))), 'max') AS s,
           embedding
    FROM embeddings
), e AS (
    SELECT vec_id, s,
           list_transform(embedding, x ->
               abs((floor((CAST(x AS DOUBLE) * 127.0) / s + 0.5) * s)
                   / 127.0 - CAST(x AS DOUBLE))) AS errs,
           list_transform(embedding, x ->
               floor((CAST(x AS DOUBLE) * 127.0) / s + 0.5)) AS qs
    FROM q WHERE s > 0
)
SELECT vec_id,
       round(s, 6) AS scale,
       round(list_aggregate(errs, 'max'), 9) AS max_abs_err,
       round(list_reduce(list_transform(errs, x -> x * x),
                         (p, c) -> p + c) / len(errs), 9) AS mse,
       CAST(len(list_filter(qs, v -> abs(v) = 127)) AS BIGINT) AS n_sat
FROM e
UNION ALL
SELECT vec_id, 0.0, 0.0, 0.0, CAST(0 AS BIGINT)
FROM q WHERE s = 0
""", tier=2, section="2.11")
def emb_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 embedding quantization with per-vector scales —
    the 4x storage/bandwidth cut every large vector corpus applies
    before indexing — reported as per-vector reconstruction-error stats
    (max abs error, MSE, saturated-component count).

    q_i = floor(x_i·127/s + 0.5) with s = max|x| never exceeds ±127, so
    the codes pack losslessly into int8; dequantization is q_i·s/127.
    The whole operator is a NARROW map over the corpus — array
    higher-order functions, zero shuffles, zero Python — so it scales
    as a pure scan. Cross-engine float discipline as the cosine family:
    identical double casts and operation order on both engines
    (``floor(+0.5)`` rounding, not engine-native round, because
    half-even vs half-up would flip codes); the error fold is an
    explicit left-to-right ``aggregate``/``list_reduce``. Zero vectors
    (s = 0) report zero error at scale 0 rather than dividing by zero."""
    e = load(spark, sf_dir, "embeddings")
    xd = lambda x: x.cast("double")
    base = e.select(
        "vec_id", "embedding",
        F.array_max(F.transform("embedding",
                                lambda x: F.abs(xd(x)))).alias("s"))
    qexpr = ("transform(embedding, x -> "
             "floor((CAST(x AS DOUBLE) * 127.0D) / s + 0.5D))")
    errexpr = ("transform(embedding, x -> "
               "abs((floor((CAST(x AS DOUBLE) * 127.0D) / s + 0.5D) * s)"
               " / 127.0D - CAST(x AS DOUBLE)))")
    nz = base.filter(F.col("s") > 0).selectExpr(
        "vec_id", "s", f"{errexpr} AS errs", f"{qexpr} AS qs")
    sse = F.aggregate(F.transform("errs", lambda x: x * x),
                      F.lit(0.0), lambda p, c: p + c)
    out_nz = nz.select(
        "vec_id",
        F.round("s", 6).alias("scale"),
        F.round(F.array_max("errs"), 9).alias("max_abs_err"),
        F.round(sse / F.size("errs"), 9).alias("mse"),
        F.size(F.filter("qs", lambda v: F.abs(v) == 127))
         .cast("long").alias("n_sat"))
    out_z = base.filter(F.col("s") == 0).select(
        "vec_id", F.lit(0.0).alias("scale"),
        F.lit(0.0).alias("max_abs_err"), F.lit(0.0).alias("mse"),
        F.lit(0).cast("long").alias("n_sat"))
    return out_nz.unionByName(out_z)


# --------------------------------------------------------------------------
# Product quantization (round 4, SURVEY.md §2.14; retrained round 6 per
# VERDICT r5 #1) — the PQ half of the industry-standard IVF+PQ ANN stack
# (Jégou, Douze & Schmid 2011, public). Round 6 replaced the sampled
# codebook (16 raw sample subvectors — measured recall@5 0.11-0.20) with
# per-subspace TRAINED codebooks (16 subspaces x 64 codewords, 2 Lloyd
# iterations over a capped sample) and added the exact re-rank tail every
# production deployment runs (faiss IndexRefineFlat): ADC keeps a
# shortlist of _PQ_RERANK candidates, exact fixed-point L2 re-ranks the
# shortlist to the final top-5. Measured recall@5: 0.88+ (sf0.01) /
# 0.71+ (sf0.1) for PQ+rerank vs 0.11/0.06 for the round-5 point.
# (Measured at the shipped 2-iteration dial: 0.981 / 0.916.)
# --------------------------------------------------------------------------

_PQ_M = 16       # subspaces (64-dim vectors -> 4 dims per subspace)
_PQ_DS = 4       # dims per subspace (= 64 / _PQ_M)
_PQ_K = 64       # codewords per subspace -> 6 bits/subspace, 12 bytes/vector
_PQ_ITERS = 2    # per-subspace Lloyd iterations (fixed, oracle-chained)
_PQ_TRAIN_CAP = 2000  # codebooks train on the md5-lowest CAP vectors —
                 # constant training cost at ANY corpus size (same
                 # discipline as _IVF_TRAIN_CAP)
_PQ_RERANK = 50  # ADC shortlist size for the exact re-rank tail
_PQ_FX = 1e9     # fixed-point grid: subspace distances floor onto exact
                 # longs, so ADC sums are order-invariant in both engines
_IVF_NASSIGN = 3  # index-side multi-assignment for the composed stack:
                 # each corpus vector indexes under its 3 nearest cells
                 # (3x index rows — the standard redundancy/recall trade;
                 # queries still probe only nprobe cells)

#: DuckDB: squared L2 between the m-th subvector of full vector {a} and
#: the 4-dim codeword list {cw}; double-cast elements, left-to-right fold
#: (same discipline as _DUCK_DOT). {cw} elements are already DOUBLEs
#: (seeded via CAST, trained via the fixed-point mean), so only {a} casts
#: — mirrored exactly by the Spark fold in _pq_d2fx.
_DUCK_PQ_D2 = (
    "list_reduce(list_transform(range(1, 5), i -> "
    "(CAST({a}[{m} * 4 + i] AS DOUBLE) - {cw}[i])"
    " * (CAST({a}[{m} * 4 + i] AS DOUBLE) - {cw}[i])"
    "), (p, c) -> p + c)")

#: DuckDB: exact full-vector squared L2 on the 1e-9 fixed-point grid —
#: the re-rank / truth distance (both sides cast: raw float columns).
_DUCK_TFX = (
    "CAST(floor(list_reduce(list_transform(range(1, len({a}) + 1), i -> "
    "(CAST({a}[i] AS DOUBLE) - CAST({b}[i] AS DOUBLE))"
    " * (CAST({a}[i] AS DOUBLE) - CAST({b}[i] AS DOUBLE))"
    "), (p, c2) -> p + c2) * 1000000000.0) AS BIGINT)")


def _duck_pq_dfx(a: str, cw: str, m: str) -> str:
    return (f"CAST(floor({_DUCK_PQ_D2.format(a=a, cw=cw, m=m)}"
            f" * 1000000000.0) AS BIGINT)")


def _duck_pq_cb() -> str:
    """WITH-chain training the per-subspace codebooks — mirrors
    ``_pq_codebook`` CTE for CTE: md5-capped training sample, seed
    codewords = subvectors of the md5-lowest ``_PQ_K`` vectors, then
    ``_PQ_ITERS`` rounds of (exact-integer argmin assign, fixed-point
    mean update). Codewords that attract no training vectors drop —
    deterministically in both engines."""
    dfx_t = _duck_pq_dfx("t.embedding", "c.cw", "c.m")
    parts = [f"""pqt AS (
    SELECT vec_id, embedding FROM embeddings
    ORDER BY {_DUCK_HV}, vec_id LIMIT {_PQ_TRAIN_CAP}
), pqms AS (SELECT unnest(range(0, {_PQ_M})) AS m),
pqcb0 AS (
    SELECT ms.m, s.k, list_transform(range(1, {_PQ_DS + 1}), i ->
           CAST(s.embedding[ms.m * {_PQ_DS} + i] AS DOUBLE)) AS cw
    FROM (SELECT embedding,
                 row_number() OVER (ORDER BY hv, vec_id) - 1 AS k
          FROM (SELECT *, {_DUCK_HV} AS hv FROM embeddings
                ORDER BY {_DUCK_HV}, vec_id LIMIT {_PQ_K})) s
    CROSS JOIN pqms ms
), pqtx AS (
    SELECT vec_id, (dimg - 1) // {_PQ_DS} AS m,
           ((dimg - 1) % {_PQ_DS}) + 1 AS dim, fx
    FROM (SELECT vec_id, generate_subscripts(embedding, 1) AS dimg,
                 CAST(floor(CAST(unnest(embedding) AS DOUBLE)
                            * {_PQ_FX}) AS BIGINT) AS fx
          FROM pqt)
)"""]
    for i in range(1, _PQ_ITERS + 1):
        parts.append(f"""pqa{i} AS (
    SELECT vec_id, m, mk % {_PQ_K} AS code FROM (
        SELECT t.vec_id, c.m, min({dfx_t} * {_PQ_K} + c.k) AS mk
        FROM pqt t CROSS JOIN pqcb{i - 1} c
        GROUP BY t.vec_id, c.m)
), pqcb{i} AS (
    SELECT m, code AS k, list(comp ORDER BY dim) AS cw FROM (
        SELECT a.m, a.code, x.dim,
               CAST(sum(x.fx) AS DOUBLE) / CAST(count(*) AS DOUBLE)
                   / {_PQ_FX} AS comp
        FROM pqa{i} a JOIN pqtx x ON x.vec_id = a.vec_id AND x.m = a.m
        GROUP BY a.m, a.code, x.dim)
    GROUP BY m, code
)""")
    return ",\n".join(parts)


def _duck_pq_core(nq: int) -> str:
    """Trained codebooks + per-(vector, subspace) integer argmin codes +
    the per-query ADC distance tables (no scoring pass — the full-corpus
    and IVF-restricted scorers both build on this)."""
    dfx_e = _duck_pq_dfx("e.embedding", "c.cw", "c.m")
    dfx_q = _duck_pq_dfx("q.embedding", "c.cw", "c.m")
    return f"""{_duck_pq_cb()},
codes AS (
    SELECT vec_id, m, mk % {_PQ_K} AS code FROM (
        SELECT e.vec_id, c.m, min({dfx_e} * {_PQ_K} + c.k) AS mk
        FROM embeddings e CROSS JOIN pqcb{_PQ_ITERS} c
        GROUP BY e.vec_id, c.m)
), dtab AS (
    SELECT q.vec_id AS q_vec_id, c.m, c.k, {dfx_q} AS dfx
    FROM embeddings q CROSS JOIN pqcb{_PQ_ITERS} c
    WHERE q.vec_id < {nq}
)"""


#: Full-corpus ADC scoring prefix (the PQ-alone ops).
def _duck_pq_prefix(nq: int) -> str:
    return f"""{_duck_pq_core(nq)}, scored AS (
    SELECT d.q_vec_id, c.vec_id AS c_vec_id,
           CAST(SUM(d.dfx) AS BIGINT) AS adfx
    FROM codes c JOIN dtab d ON d.m = c.m AND d.k = c.code
    GROUP BY 1, 2
)"""


def _duck_rerank(src: str, out: str, pred: str = "",
                 keep_pr: bool = False) -> str:
    """``{out}_sl`` + ``{out}`` CTEs: ADC shortlist (top ``_PQ_RERANK``
    by exact-integer ADC) then exact fixed-point L2 re-rank — the tail
    of every scored path. ``src`` must expose (q_vec_id, c_vec_id, adfx
    [, pr])."""
    tfx = _DUCK_TFX.format(a="q.embedding", b="c.embedding")
    pr_in = ", s.pr" if keep_pr else ""
    pr_out = ", pr" if keep_pr else ""
    return f"""{out}_sl AS (
    SELECT q_vec_id, c_vec_id{pr_out} FROM (
        SELECT q_vec_id, c_vec_id{pr_out},
               row_number() OVER (PARTITION BY q_vec_id
                                  ORDER BY adfx, c_vec_id) AS arnk
        FROM {src}{pred})
    WHERE arnk <= {_PQ_RERANK}
), {out} AS (
    SELECT q_vec_id, c_vec_id{pr_out}, tfx,
           row_number() OVER (PARTITION BY q_vec_id
                              ORDER BY tfx, c_vec_id) AS rnk
    FROM (SELECT s.q_vec_id, s.c_vec_id{pr_in}, {tfx} AS tfx
          FROM {out}_sl s
          JOIN embeddings q ON q.vec_id = s.q_vec_id
          JOIN embeddings c ON c.vec_id = s.c_vec_id)
)"""


def _pq_d2fx(a: Column, cw: Column, m: Column) -> Column:
    """Fixed-point squared L2 between the m-th subvector of full vector
    ``a`` and the 4-dim codeword ``cw`` (Spark side, bit-identical to
    ``_DUCK_PQ_D2`` + floor; codeword elements are already doubles)."""
    sa = F.slice(a, m * _PQ_DS + 1, F.lit(_PQ_DS))
    d2 = F.aggregate(
        F.zip_with(sa, cw, lambda x, y:
                   (x.cast("double") - y) * (x.cast("double") - y)),
        F.lit(0.0), lambda acc, v: acc + v)
    return F.floor(d2 * F.lit(_PQ_FX)).cast("long")


def _exact_d2fx(a: Column, b: Column) -> Column:
    """Exact full-vector squared L2 on the 1e-9 fixed-point grid — the
    re-rank / truth distance (Spark twin of ``_DUCK_TFX``)."""
    d2 = F.aggregate(
        F.zip_with(a, b, lambda x, y:
                   (x.cast("double") - y.cast("double"))
                   * (x.cast("double") - y.cast("double"))),
        F.lit(0.0), lambda acc, v: acc + v)
    return F.floor(d2 * F.lit(_PQ_FX)).cast("long")


def _pq_codebook(e: DataFrame, sample_rows=None) -> DataFrame:
    """(m, k, cw): per-subspace TRAINED codebooks — the driver-side
    numpy twin of ``_pq_codebook_dist`` (r13 optimization). The training
    sample is a CONSTANT ``_PQ_TRAIN_CAP`` = 2000 rows at any corpus
    size, so the per-subspace Lloyd loop is bounded driver work by
    construction (guide §1.2/§5): one TakeOrderedAndProject collect of
    the md5-lowest sample replaces the ~8-job distributed chain
    (2 iterations × crossJoin/argmin/mean-update, each a tiny shuffle).
    Bit-identical to the distributed twin (pinned in
    tests/test_opt_r13.py): same seeds (subvectors of the md5-lowest
    ``_PQ_K`` sample vectors), same exact-integer argmin key
    ``dfx·K + k``, same fixed-point mean ``(sum(floor(x·FX))/count)/FX``
    with the same IEEE association, dead codewords drop identically.
    The returned frame is a cached local leaf — callers broadcast it."""
    import numpy as np
    # ``sample_rows``: a caller that already collected the md5-ordered
    # sample (>= _PQ_TRAIN_CAP rows, (hv, vec_id)-ascending) hands its
    # prefix in — _ivfpq_index shares ONE TakeOrderedAndProject collect
    # between the IVF and PQ trainers (r13; the prefix of the ordered
    # sample is exactly what this collect would return).
    rows = (sample_rows[:_PQ_TRAIN_CAP] if sample_rows is not None
            else (e.select("vec_id", "embedding", _hv_col().alias("hv"))
                   .orderBy("hv", "vec_id").limit(_PQ_TRAIN_CAP).collect()))
    if not rows:   # degenerate empty corpus: no seeds, empty codebook
        empty = e.sparkSession.createDataFrame(
            [], "m int, k int, cw array<double>")
        empty._graft_cb_rows = []
        return empty
    ordered = sorted(rows, key=lambda r: (r["hv"], r["vec_id"]))
    E = np.array([r["embedding"] for r in ordered], dtype=np.float64)
    n = E.shape[0]
    FXall = np.floor(E * _PQ_FX).astype(np.int64)
    # seeds: codeword (m, k) = m-th subvector of the k-th ranked sample
    cb = {(m, k): E[k, m * _PQ_DS:(m + 1) * _PQ_DS].copy()
          for m in range(_PQ_M) for k in range(min(_PQ_K, n))}
    for _ in range(_PQ_ITERS):
        new_cb = {}
        for m in range(_PQ_M):
            sub = E[:, m * _PQ_DS:(m + 1) * _PQ_DS]
            ks = sorted(k for (mm, k) in cb if mm == m)
            CW = np.array([cb[(m, k)] for k in ks], dtype=np.float64)
            acc = np.zeros((n, len(ks)))
            for di in range(_PQ_DS):   # left-to-right fold, same as _pq_d2fx
                t = sub[:, di][:, None] - CW[:, di][None, :]
                acc = acc + t * t
            key = (np.floor(acc * _PQ_FX).astype(np.int64) * _PQ_K
                   + np.array(ks, dtype=np.int64)[None, :])
            idx = np.argmin(key, axis=1)   # exact-integer min, k tiebreak
            counts = np.bincount(idx, minlength=len(ks))
            sums = np.zeros((len(ks), _PQ_DS), dtype=np.int64)
            np.add.at(sums, idx, FXall[:, m * _PQ_DS:(m + 1) * _PQ_DS])
            for j, k in enumerate(ks):
                if counts[j] > 0:
                    new_cb[(m, k)] = (sums[j].astype(np.float64)
                                      / float(counts[j])) / _PQ_FX
        cb = new_cb
    out = [(int(m), int(k), [float(x) for x in v])
           for (m, k), v in sorted(cb.items())]
    # LocalTableScan leaf — no cache needed (see _seeded_lloyd_driver).
    df = e.sparkSession.createDataFrame(
        out, "m int, k int, cw array<double>")
    # r14: the trained codebook already lives in driver memory — attach
    # it so the serve fast path skips the collect per pass (same
    # per-build in-memory discipline as ``_graft_cent_bank``).
    df._graft_cb_rows = out
    return df


def _pq_codebook_dist(e: DataFrame) -> DataFrame:
    """(m, k, cw): per-subspace TRAINED codebooks — k-means with the same
    cross-engine exactness discipline as ``_lloyd``: seeds are the
    subvectors of the md5-lowest ``_PQ_K`` sample vectors (portable
    deterministic draw; ORDER BY hash LIMIT k is TakeOrderedAndProject,
    never a global sort); each of the ``_PQ_ITERS`` rounds assigns the
    capped training sample by exact-integer argmin (``dfx * K + k`` —
    deterministic in any aggregation order, map-side combinable) and
    recomputes codewords as fixed-point means (per-(m, code, dim) SUM of
    exact longs, one IEEE divide-back). Training cost is constant at any
    corpus size (``_PQ_TRAIN_CAP``). The returned frame stays cached
    (tiny: M x K x 4 doubles) — callers broadcast it, possibly twice."""
    hv = F.conv(F.substring(F.md5(F.col("vec_id").cast("string")), 1, 8),
                16, 10).cast("long")
    ranked = e.select("vec_id", "embedding", hv.alias("hv"))
    train = (ranked.orderBy("hv", "vec_id").limit(_PQ_TRAIN_CAP)
                   .select("vec_id", "embedding").cache())
    w = Window.orderBy("hv", "vec_id")
    m = F.explode(F.sequence(F.lit(0), F.lit(_PQ_M - 1))).alias("m")
    cb = (ranked.orderBy("hv", "vec_id").limit(_PQ_K)
                .withColumn("k", F.row_number().over(w) - 1)
                .select("k", "embedding", m)
                .select("m", "k",
                        F.transform(
                            F.slice("embedding", F.col("m") * _PQ_DS + 1,
                                    F.lit(_PQ_DS)),
                            lambda x: x.cast("double")).alias("cw"))
                .cache())
    tx = (train.select("vec_id", F.posexplode("embedding").alias("pos", "x"))
               .select("vec_id",
                       (F.col("pos") / F.lit(_PQ_DS)).cast("long")
                       .alias("m"),
                       (F.col("pos") % _PQ_DS + 1).alias("dim"),
                       F.floor(F.col("x").cast("double") * F.lit(_PQ_FX))
                        .alias("fx")))
    for _ in range(_PQ_ITERS):
        key = _pq_d2fx(F.col("embedding"), F.col("cw"), F.col("m")) \
            * _PQ_K + F.col("k")
        assigned = (train.crossJoin(F.broadcast(cb))
                         .select("vec_id", "m", key.alias("key"))
                         .groupBy("vec_id", "m")
                         .agg(F.min("key").alias("mk"))
                         .select("vec_id", "m",
                                 (F.col("mk") % _PQ_K).alias("code")))
        comp = (assigned.join(tx, ["vec_id", "m"])
                        .groupBy("m", "code", "dim")
                        .agg((F.sum("fx").cast("double")
                              / F.count("*").cast("double")
                              / F.lit(_PQ_FX)).alias("comp")))
        new_cb = (comp.groupBy("m", F.col("code").alias("k"))
                      .agg(F.transform(
                          F.array_sort(
                              F.collect_list(F.struct("dim", "comp"))),
                          lambda s: s["comp"]).alias("cw"))
                      .cache())
        # Same cache hygiene as _lloyd: materialize the new codebook
        # BEFORE unpersisting its predecessor, or the unrolled iterations
        # recompute the whole training lineage per reference.
        new_cb.count()
        cb.unpersist()
        cb = new_cb
    train.unpersist()
    # The trained codebook intentionally stays cached: callers' plans
    # broadcast it (code assignment AND ADC tables).
    return cb


def _pq_code_banks(cb: DataFrame) -> dict:
    """Collect the (constant-size, ≤ M·K-row) codebook into per-subspace
    numpy banks: m -> (k vector ascending, K×4 codeword matrix). Frames
    built by the driver trainer carry their rows attached
    (``_graft_cb_rows``, r14) — then no collect job runs at all."""
    import numpy as np
    rows = getattr(cb, "_graft_cb_rows", None)
    if rows is None:
        rows = cb.collect()
    by_m: dict = {}
    for r in rows:      # positional: accepts Rows and attached tuples
        by_m.setdefault(int(r[0]), []).append((int(r[1]), r[2]))
    return {m: (np.array([k for k, _ in sorted(kvs)], dtype=np.int64),
                np.array([list(map(float, w)) for _, w in sorted(kvs)],
                         dtype=np.float64))
            for m, kvs in by_m.items()}


def _pq_code_batches(banks: dict, with_cid: bool):
    """Arrow-batch PQ coder: the bit-identical numpy twin of the JVM
    ``crossJoin(cb) → min(dfx·K + k)`` argmin (r13, guide §4.2). The
    JVM formulation evaluated a slice + zip_with + aggregate expression
    tree per (row × codeword) pair — measured ~10 s for the 6.1M-pair
    multi-assigned coding pass at sf0.1, THE dominant ivfpq cost.  Here
    each batch computes all subspace distances vectorized, with the
    same left-to-right fold association ((x−y)² accumulated dim-
    ascending from 0.0), the same ``floor(d2·FX)`` grid, and the same
    exact-integer ``key = dfx·K + k`` argmin, so codes are identical
    (twin-pinned in tests/test_opt_r13.py; oracle parity re-proves the
    full cascade). Heavy per-task state (the banks) is built once in
    the closure, per guide §4.5."""
    import numpy as np
    import pyarrow as pa

    out_fields = ([("vec_id", pa.int64())]
                  + ([("cid", pa.int64())] if with_cid else [])
                  + [("m", pa.int32()), ("code", pa.int64())])
    out_schema = pa.schema(out_fields)

    def code(it):
        for batch in it:
            n = batch.num_rows
            if n == 0 or not banks:
                continue
            emb = batch.column("embedding")
            # flat values buffer + reshape (the _ivf_assign_batches
            # path): one vectorized cast instead of a per-row to_pylist
            # round-trip through Python objects (embeddings are
            # contractually non-null fixed-width, FIXTURES.md)
            E = (emb.flatten().to_numpy(zero_copy_only=False)
                    .astype(np.float64).reshape(n, -1))
            vids, cids, ms, codes = [], [], [], []
            for m in sorted(banks):
                ks, CW = banks[m]
                sub = E[:, m * _PQ_DS:(m + 1) * _PQ_DS]
                acc = np.zeros((n, len(ks)))
                for di in range(_PQ_DS):   # LTR fold, same as _pq_d2fx
                    t = sub[:, di][:, None] - CW[:, di][None, :]
                    acc = acc + t * t
                key = (np.floor(acc * _PQ_FX).astype(np.int64) * _PQ_K
                       + ks[None, :])
                codes.append(ks[np.argmin(key, axis=1)])
                ms.append(np.full(n, m, dtype=np.int32))
            vid = batch.column("vec_id").to_numpy()
            nm = len(banks)
            arrays = [pa.array(np.tile(vid, nm), type=pa.int64())]
            if with_cid:
                cid = batch.column("cid").to_numpy()
                arrays.append(pa.array(np.tile(cid, nm), type=pa.int64()))
            arrays += [pa.array(np.concatenate(ms), type=pa.int32()),
                       pa.array(np.concatenate(codes), type=pa.int64())]
            yield pa.RecordBatch.from_arrays(arrays, schema=out_schema)

    return code


def _assign_code_batches(cids, C, nassign: int, banks: dict):
    """Fused Arrow pass: IVF multi-assignment AND PQ coding in ONE
    corpus traversal (r14). The r13 build chained two mapInArrow passes
    — every embedding crossed the Python boundary twice, the second
    time with ``nassign``× replication, and each replica was re-coded
    identically (a vector's code argmin depends only on (vector, m)).
    This is the straight composition of the two pinned twins: cell
    picks are ``_ivf_assign_batches``' (same hoisted-norm cos fold +
    ``_topn_scan_np``), codes are ``_pq_code_batches``' per-vector
    argmins, tiled across the replicas — bit-identical output rows,
    one boundary crossing, 3× less replica compute."""
    import numpy as np
    import pyarrow as pa

    k, d = C.shape
    nc = np.zeros(k)
    for i in range(d):
        nc = nc + C[:, i] * C[:, i]
    nc = np.sqrt(nc)
    out_schema = pa.schema([("vec_id", pa.int64()), ("cid", pa.int64()),
                            ("m", pa.int32()), ("code", pa.int64())])

    def run(it):
        for batch in it:
            n = batch.num_rows
            if n == 0 or not banks:
                continue
            E = (batch.column("embedding").flatten()
                 .to_numpy(zero_copy_only=False).astype(np.float64)
                 .reshape(n, -1))
            nv = np.zeros(n)
            for i in range(d):
                nv = nv + E[:, i] * E[:, i]
            nv = np.sqrt(nv)
            acc = np.zeros((n, k))
            for i in range(d):
                acc = acc + E[:, i:i + 1] * C[:, i][None, :]
            cos = acc / (nv[:, None] * nc[None, :])
            picks = _topn_scan_np(cos, nassign)
            ms_sorted = sorted(banks)
            code_by_m = {}
            for m in ms_sorted:
                ks, CW = banks[m]
                sub = E[:, m * _PQ_DS:(m + 1) * _PQ_DS]
                a2 = np.zeros((n, len(ks)))
                for di in range(_PQ_DS):   # LTR fold, same as _pq_d2fx
                    t = sub[:, di][:, None] - CW[:, di][None, :]
                    a2 = a2 + t * t
                key = (np.floor(a2 * _PQ_FX).astype(np.int64) * _PQ_K
                       + ks[None, :])
                code_by_m[m] = ks[np.argmin(key, axis=1)]
            vid = batch.column("vec_id").to_numpy()
            nm = len(ms_sorted)
            m_col = np.concatenate(
                [np.full(n, m, dtype=np.int32) for m in ms_sorted])
            c_col = np.concatenate([code_by_m[m] for m in ms_sorted])
            vids, cid_cols, m_cols, c_cols = [], [], [], []
            for pick in picks:
                vids.append(np.tile(vid, nm))
                cid_cols.append(np.tile(cids[pick], nm))
                m_cols.append(m_col)
                c_cols.append(c_col)
            yield pa.RecordBatch.from_arrays(
                [pa.array(np.concatenate(vids), type=pa.int64()),
                 pa.array(np.concatenate(cid_cols), type=pa.int64()),
                 pa.array(np.concatenate(m_cols), type=pa.int32()),
                 pa.array(np.concatenate(c_cols), type=pa.int64())],
                schema=out_schema)

    return run


def _pq_codes(e: DataFrame, cb: DataFrame) -> DataFrame:
    """(vec_id, m, code): per-vector, per-subspace nearest codeword.
    The argmin is an exact-integer min over ``dfx * K + k`` (distance on
    the 1e-9 grid, codeword id as tiebreak). ONE Arrow-batched pass over
    the corpus (r13 — see ``_pq_code_batches``; the JVM twin below is
    kept for the equality pin)."""
    banks = _pq_code_banks(cb)
    return (e.select("vec_id", "embedding")
             .mapInArrow(_pq_code_batches(banks, with_cid=False),
                         "vec_id long, m int, code long"))


def _pq_codes_jvm(e: DataFrame, cb: DataFrame) -> DataFrame:
    """JVM expression twin of ``_pq_codes`` (pre-r13 formulation) —
    kept for the bit-equality pin in tests/test_opt_r13.py."""
    key = _pq_d2fx(F.col("embedding"), F.col("cw"), F.col("m")) \
        * _PQ_K + F.col("k")
    return (e.select("vec_id", "embedding")
             .crossJoin(F.broadcast(cb))
             .select("vec_id", "m", key.alias("key"))
             .groupBy("vec_id", "m")
             .agg(F.min("key").alias("mk"))
             .select("vec_id", "m", (F.col("mk") % _PQ_K).alias("code")))


def _pq_dtab_frame(q: DataFrame, cb: DataFrame) -> DataFrame:
    """(q_vec_id, qm, k, dfx): ADC distance tables for an arbitrary
    (q_vec_id, qemb) query frame — tiny by construction (nq x M x K
    rows), always broadcast. The streaming server feeds micro-batches
    through this; the batch ops feed the vec_id < nq slice."""
    return (q.crossJoin(F.broadcast(cb))
             .select("q_vec_id", F.col("m").alias("qm"), "k",
                     _pq_d2fx(F.col("qemb"), F.col("cw"),
                              F.col("m")).alias("dfx")))


def _pq_dtab(e: DataFrame, cb: DataFrame, nq: int) -> DataFrame:
    """(q_vec_id, qm, k, dfx): each query's M x K ADC distance table."""
    q = e.filter(F.col("vec_id") < nq).select(
        F.col("vec_id").alias("q_vec_id"), F.col("embedding").alias("qemb"))
    return _pq_dtab_frame(q, cb)


def _pq_scored_frames(codes: DataFrame, dtab: DataFrame) -> DataFrame:
    """(q_vec_id, c_vec_id, adfx): ADC scores from PREBUILT corpus codes
    and a query distance table — the serve-side core, shared by the
    inline op and the bench build/serve split."""
    return (codes.join(F.broadcast(dtab),
                       (F.col("m") == F.col("qm"))
                       & (F.col("code") == F.col("k")))
                 .groupBy("q_vec_id", F.col("vec_id").alias("c_vec_id"))
                 .agg(F.sum("dfx").alias("adfx")))


def _pq_scored(e: DataFrame, nq: int, cb: DataFrame) -> DataFrame:
    """(q_vec_id, c_vec_id, adfx): asymmetric-distance (ADC) scores —
    each query's M x K subspace distance table joins the corpus codes on
    (m, code); the per-pair total is a SUM of exact longs."""
    return _pq_scored_frames(_pq_codes(e, cb), _pq_dtab(e, cb, nq))


def _pq_serve_topk(qdf: DataFrame, codes: DataFrame, cb: DataFrame,
                   e: DataFrame) -> DataFrame:
    """Serve the PQ cascade (ADC -> shortlist -> exact re-rank) against
    PREBUILT codes + codebook. ``qdf`` carries (q_vec_id, qemb). Plan is
    identical to ``sim_pq_topk``'s inline path — the bench build/serve
    split (VERDICT r6 #3) times this against cached frames."""
    dtab = _pq_dtab_frame(qdf, cb)
    scored = _pq_scored_frames(codes, dtab) \
        .filter(F.col("q_vec_id") != F.col("c_vec_id"))
    return (_exact_rerank(_pq_shortlist(scored), qdf, e)
            .select("q_vec_id", "c_vec_id",
                    F.round(F.col("tfx") / F.lit(_PQ_FX), 6).alias("dist"),
                    "rnk"))


def _exact_rerank(shortlist: DataFrame, qdf: DataFrame,
                  e: DataFrame) -> DataFrame:
    """(q_vec_id, c_vec_id[, pr], tfx, rnk <= 5): exact fixed-point L2
    re-rank of a tiny ADC shortlist (nq x ``_PQ_RERANK`` rows) — the
    exact tail of the cascade. The shortlist and the query frame both
    broadcast; the corpus streams through one broadcast hash join, so
    the re-rank touches each corpus row once and never shuffles it."""
    c = e.select(F.col("vec_id").alias("c_vec_id"),
                 F.col("embedding").alias("cemb"))
    j = (c.join(F.broadcast(shortlist), "c_vec_id")
          .join(F.broadcast(qdf), "q_vec_id")
          .withColumn("tfx", _exact_d2fx(F.col("qemb"), F.col("cemb"))))
    w = Window.partitionBy("q_vec_id").orderBy("tfx", "c_vec_id")
    return (j.withColumn("rnk", F.row_number().over(w))
             .filter(F.col("rnk") <= 5)
             .drop("qemb", "cemb"))


def _pq_shortlist(scored: DataFrame, *cols: str) -> DataFrame:
    """Top ``_PQ_RERANK`` ADC candidates per query (exact-integer order,
    c_vec_id tiebreak)."""
    w = Window.partitionBy("q_vec_id").orderBy("adfx", "c_vec_id")
    return (scored.withColumn("arnk", F.row_number().over(w))
                  .filter(F.col("arnk") <= _PQ_RERANK)
                  .select("q_vec_id", "c_vec_id", *cols))


@op("sim_pq_topk", oracle=f"""
WITH {_duck_pq_prefix(_N_QUERIES)},
{_duck_rerank("scored", "rr", pred=" WHERE q_vec_id <> c_vec_id")}
SELECT q_vec_id, c_vec_id, round(tfx / 1000000000.0, 6) AS dist, rnk
FROM rr WHERE rnk <= 5
""", tier=3, section="2.11")
def sim_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN with the production re-rank tail: 16
    subspaces x 64 TRAINED codewords compress each 64-dim vector to 12
    bytes of codes; queries score the whole corpus by table lookup
    (asymmetric distance, ADC) instead of 64-dim float math, keep the
    top-``_PQ_RERANK`` shortlist, and an exact fixed-point L2 pass
    re-ranks the shortlist to the final top-5 (faiss IndexRefineFlat's
    cascade; Jégou, Douze & Schmid 2011). Round 6 replaced the sampled
    codebook with per-subspace k-means (VERDICT r5 #1): measured
    recall@5 went 0.11 -> 0.88+ at sf0.01.

    Scale shape: codebook training is capped (``_PQ_TRAIN_CAP``), the
    codebook (M x K x 4 doubles) and every query's M x K distance table
    are broadcast; code assignment is one pass over the corpus with
    exact-integer argmin (map-side combinable — the ONLY corpus shuffle
    before the per-(query, vector) ADC sum); the re-rank joins a
    broadcast nq x 50 shortlist against the streamed corpus. Cross-engine
    determinism is total, not statistical: subspace and full-vector
    distances are floored onto the 1e-9 fixed-point grid, so codebook
    training, code argmins, ADC sums and both rank passes are
    exact-integer decisions in both engines."""
    e = load(spark, sf_dir, "embeddings")
    cb = _pq_codebook(e)
    qdf = e.filter(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("q_vec_id"), F.col("embedding").alias("qemb"))
    return _pq_serve_topk(qdf, _pq_codes(e, cb), cb, e)


def _duck_pq_truth(nq: int) -> str:
    """`truth` CTE: brute-force exact-L2 fixed-point top-5 — shared by
    the PQ-alone and IVF+PQ recall evals."""
    tfx = _DUCK_TFX.format(a="q.embedding", b="c.embedding")
    return f"""truth AS (
    SELECT q_vec_id, c_vec_id FROM (
        SELECT q.vec_id AS q_vec_id, c.vec_id AS c_vec_id,
               row_number() OVER (PARTITION BY q.vec_id
                                  ORDER BY {tfx}, c.vec_id) AS rnk
        FROM embeddings q, embeddings c
        WHERE q.vec_id < {nq} AND q.vec_id <> c.vec_id
    ) WHERE rnk <= 5
)"""


def _pq_truth(e: DataFrame, nq: int) -> DataFrame:
    """(q_vec_id, c_vec_id): brute-force exact-L2 top-5 truth for the
    first ``nq`` queries — fixed-point distances so the truth itself is
    value-checked cross-engine. Fixed-sample cost at any corpus size."""
    q = e.filter(F.col("vec_id") < nq).select(
        F.col("vec_id").alias("q_vec_id"), F.col("embedding").alias("qemb"))
    c = e.select(F.col("vec_id").alias("c_vec_id"),
                 F.col("embedding").alias("cemb"))
    w_t = Window.partitionBy("q_vec_id").orderBy("tfx", "c_vec_id")
    return (F.broadcast(q).crossJoin(c)
             .filter(F.col("q_vec_id") != F.col("c_vec_id"))
             .withColumn("tfx", _exact_d2fx(F.col("qemb"), F.col("cemb")))
             .withColumn("rnk", F.row_number().over(w_t))
             .filter("rnk <= 5")
             .select("q_vec_id", "c_vec_id"))


@op("sim_pq_recall_eval", oracle=f"""
WITH {_duck_pq_prefix(_EVAL_QUERIES)},
{_duck_rerank("scored", "pq", pred=" WHERE q_vec_id <> c_vec_id")},
{_duck_pq_truth(_EVAL_QUERIES)}
SELECT t.q_vec_id,
       CAST(count_if(p.c_vec_id IS NOT NULL) AS BIGINT) AS n_hits,
       round(CAST(count_if(p.c_vec_id IS NOT NULL) AS DOUBLE) / 5,
             6) AS recall_at_5
FROM truth t
LEFT JOIN (SELECT q_vec_id, c_vec_id FROM pq WHERE rnk <= 5) p
  ON p.q_vec_id = t.q_vec_id AND p.c_vec_id = t.c_vec_id
GROUP BY t.q_vec_id
""", tier=3, section="2.11")
def sim_pq_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@5 of the PQ cascade (trained-codebook ADC shortlist +
    exact re-rank) vs brute-force exact-L2 truth — the eval an ANN index
    must ship (same 64-query discipline as the LSH/IVF evals;
    fixed-point distances make the measurement itself value-checked
    cross-engine, not just approximately reproduced). Measures the
    OPERATING POINT users get from ``sim_pq_topk`` — the cascade, not
    the raw ADC ranking. At corpus scale the truth side stays a
    fixed-sample computation."""
    e = load(spark, sf_dir, "embeddings")
    cb = _pq_codebook(e)
    truth = _pq_truth(e, _EVAL_QUERIES)
    scored = _pq_scored(e, _EVAL_QUERIES, cb) \
        .filter(F.col("q_vec_id") != F.col("c_vec_id"))
    qdf = e.filter(F.col("vec_id") < _EVAL_QUERIES).select(
        F.col("vec_id").alias("q_vec_id"), F.col("embedding").alias("qemb"))
    pq5 = (_exact_rerank(_pq_shortlist(scored), qdf, e)
           .select("q_vec_id", F.col("c_vec_id").alias("pq_c")))
    return (truth.join(pq5, (truth.q_vec_id == pq5.q_vec_id)
                       & (truth.c_vec_id == pq5.pq_c), "left")
                 .groupBy(truth.q_vec_id.alias("q_vec_id"))
                 .agg(F.count("pq_c").alias("n_hits"),
                      F.round(F.count("pq_c") / F.lit(5.0), 6)
                       .alias("recall_at_5")))


# --------------------------------------------------------------------------
# IVF+PQ composed (round 5, VERDICT r4 #2; re-tuned round 6 per VERDICT r5
# #1) — the production billion-vector ANN stack (Jégou, Douze & Schmid
# 2011, public): the capped-training IVF coarse quantizer prunes the
# corpus to the query's probed cells, PQ ADC table lookups shortlist ONLY
# those candidates, and the exact tail re-ranks the shortlist. Round 6
# adds index-side multi-assignment (_IVF_NASSIGN = 3): on this
# unclustered corpus single-assignment capped recall@5 at ~0.30 no matter
# how good PQ got; 3x index redundancy lifts the coarse ceiling to ~0.56
# at ~18% of the corpus scanned per query — the standard
# redundancy-for-recall trade (multiple assignment, Jégou et al. §5).
# --------------------------------------------------------------------------


def _duck_ivfpq_adc(nq: int, nprobe) -> str:
    """``mcells`` + ``qprobe`` + ``adc`` CTEs: multi-assigned inverted
    lists over the trained capped-IVF centroids (``u{_IVF_ITERS}``),
    query-side cell probes, then ADC scoring of ONLY the vectors in
    probed cells — compose after ``_duck_ivf_capped_prefix`` and
    ``_duck_pq_core``. The inner per-(q, c, m) GROUP BY dedups
    candidates reached through more than one probed cell (multi-assigned
    vectors) BEFORE the ADC sum — without it the sum double-counts.

    ``nprobe`` is an int for the fixed-dial evals, or a SQL scalar
    subquery string (``"(SELECT np FROM nl)"``) for the auto-scaled
    serving default (r8) — the nl CTE derives np from the corpus count
    exactly like nlist."""
    return f"""mcells AS (
    SELECT vec_id, cid FROM (
        SELECT e.vec_id, c.cid,
               row_number() OVER (PARTITION BY e.vec_id
                   ORDER BY {_duck_cos('e.embedding', 'c.cemb')} DESC,
                            c.cid) AS r
        FROM embeddings e CROSS JOIN u{_IVF_ITERS} c
    ) WHERE r <= {_IVF_NASSIGN}
), qprobe AS (
    SELECT vec_id AS q_vec_id, cid, r AS pr FROM (
        SELECT e.vec_id, c.cid,
               row_number() OVER (PARTITION BY e.vec_id
                   ORDER BY {_duck_cos('e.embedding', 'c.cemb')} DESC,
                            c.cid) AS r
        FROM embeddings e CROSS JOIN u{_IVF_ITERS} c
        WHERE e.vec_id < {nq}
    ) WHERE r <= {nprobe}
), adc AS (
    SELECT q_vec_id, c_vec_id, CAST(min(pr) AS INT) AS pr,
           CAST(SUM(dfx) AS BIGINT) AS adfx
    FROM (
        SELECT qp.q_vec_id, cl.vec_id AS c_vec_id, co.m,
               min(qp.pr) AS pr, min(d.dfx) AS dfx
        FROM qprobe qp
        JOIN mcells cl ON cl.cid = qp.cid AND cl.vec_id <> qp.q_vec_id
        JOIN codes co ON co.vec_id = cl.vec_id
        JOIN dtab d ON d.q_vec_id = qp.q_vec_id AND d.m = co.m
                   AND d.k = co.code
        GROUP BY 1, 2, 3)
    GROUP BY 1, 2
)"""


def _ivf_probe(q: DataFrame, centroids: DataFrame,
               nprobe: int) -> DataFrame:
    """(q_vec_id, cid, pr): each query's ``nprobe`` nearest trained cells
    with their probe rank — the query-time recall dial of the composed
    index (``_ivf_assign`` keeps the embedding and drops the rank; the
    eval needs the rank to report nprobe=1 and nprobe=2 in one pass).
    Same hoisted-norms scoring as ``_ivf_assign`` (bit-identical, 3x
    fewer folds)."""
    norm_q = F.sqrt(_dot(F.col("embedding"), F.col("embedding")))
    norm_c = F.sqrt(_dot(F.col("cemb"), F.col("cemb")))
    qv = q.select("vec_id", "embedding", norm_q.alias("_nv"))
    cv = centroids.select("cid", "cemb", norm_c.alias("_nc"))
    w = Window.partitionBy("vec_id").orderBy(F.col("_c").desc(), "cid")
    return (qv.crossJoin(F.broadcast(cv))
              .withColumn("_c", _dot(F.col("embedding"), F.col("cemb"))
                          / (F.col("_nv") * F.col("_nc")))
              .withColumn("pr", F.row_number().over(w))
              .filter(F.col("pr") <= nprobe)
              .select(F.col("vec_id").alias("q_vec_id"), "cid", "pr"))


#: Ceiling on query rows handled by the driver-side serve fast path —
#: a serve pass over at most this many queries computes its probe and
#: ADC distance-table frames in numpy on the driver (they are nq×nprobe
#: and nq×M×K rows — metadata-sized) and inlines them as LocalRelation
#: leaves instead of Spark subplans. The r13 measurement that motivates
#: it: at nq=8 the JVM probe/dtab subtrees cost ~0.7 s of plan
#: compilation plus ~0.8 s of job overhead per serve pass while
#: computing a few thousand rows. The cap bounds the inline dtab at
#: 64×M×K ≈ 65k literal rows (~1.5 MB of SQL, parses in tens of ms);
#: above it (or when the centroid bank exceeds its own gate) the JVM
#: twins run unchanged — the scale path is untouched.
_SERVE_DRIVER_MAX_Q = 64


def _sql_double(x: float) -> str:
    """Exact SQL rendering of an IEEE double: repr() is the shortest
    round-trip decimal, and Spark's parser reads it correctly-rounded,
    so the literal re-materializes the identical bits."""
    import math
    if math.isnan(x):
        return "CAST('NaN' AS DOUBLE)"
    if math.isinf(x):
        return f"CAST('{'-' if x < 0 else ''}Infinity' AS DOUBLE)"
    return repr(float(x)) + "D"


def _probe_rows_np(qrows, bank, nprobe: int):
    """[(q_vec_id, cid, pr)]: driver numpy twin of ``_ivf_probe`` for a
    collected query batch — same hoisted-norm ``dot/(nv·nc)`` score with
    the same left-to-right fold association and the same
    (NaN-greatest, min-cid) pick as the window (``_topn_scan_np`` is the
    already-pinned picker from ``_ivf_assign_batches``), so the probe
    set is bit-identical to the JVM frame."""
    import numpy as np
    cids, C = bank
    k, d = C.shape
    nc = np.zeros(k)
    for i in range(d):
        nc = nc + C[:, i] * C[:, i]
    nc = np.sqrt(nc)
    if not qrows:
        return []
    E = np.array([[float(x) for x in r["embedding"]] for r in qrows],
                 dtype=np.float64)
    n = E.shape[0]
    nv = np.zeros(n)
    for i in range(d):
        nv = nv + E[:, i] * E[:, i]
    nv = np.sqrt(nv)
    acc = np.zeros((n, k))
    for i in range(d):
        acc = acc + E[:, i:i + 1] * C[:, i][None, :]
    cos = acc / (nv[:, None] * nc[None, :])
    vids = [int(r["vec_id"]) for r in qrows]
    out = []
    for pr, pick in enumerate(_topn_scan_np(cos, nprobe), start=1):
        for i in range(n):
            out.append((vids[i], int(cids[pick[i]]), pr))
    return out


def _dtab_rows_np(qrows, cbrows):
    """[(q_vec_id, m, k, dfx)]: driver numpy twin of ``_pq_dtab_frame``
    — per (query, subspace, surviving codeword) the fixed-point squared
    L2 ``floor(Σ_di (x−cw)² · FX)`` with the identical left-to-right
    di fold ``_pq_d2fx`` evaluates (the same accumulation
    ``_pq_codebook``'s trainer already uses), so every dfx long is
    bit-identical to the JVM frame."""
    import numpy as np
    if not qrows or not cbrows:
        return []
    E = np.array([[float(x) for x in r["embedding"]] for r in qrows],
                 dtype=np.float64)
    vids = [int(r["vec_id"]) for r in qrows]
    by_m: dict = {}
    for r in cbrows:    # positional: accepts Rows and attached tuples
        by_m.setdefault(int(r[0]), []).append(
            (int(r[1]), [float(x) for x in r[2]]))
    out = []
    for m in sorted(by_m):
        pairs = sorted(by_m[m])
        karr = [kk for kk, _ in pairs]
        CW = np.array([cw for _, cw in pairs], dtype=np.float64)
        sub = E[:, m * _PQ_DS:(m + 1) * _PQ_DS]
        acc = np.zeros((len(vids), len(karr)))
        for di in range(_PQ_DS):   # left-to-right fold, same as _pq_d2fx
            t = sub[:, di][:, None] - CW[:, di][None, :]
            acc = acc + t * t
        dfx = np.floor(acc * _PQ_FX).astype(np.int64)
        for i, vid in enumerate(vids):
            for j, kk in enumerate(karr):
                out.append((vid, m, kk, int(dfx[i, j])))
    return out


def _serve_local_frames(qdf: DataFrame, cent: DataFrame, cb: DataFrame,
                        nprobe: int):
    """(qlocal, qprobe, dtab) LOCAL frames for a small query batch, or
    None when a gate trips (big query frame / unbanked centroids) and
    the JVM twins must run. One ``limit(cap+1).collect()`` job replaces
    the probe and dtab Spark subplans: their inputs (queries, trained
    centroids, trained codebook) are all driver-bounded by construction,
    their outputs are metadata-sized, and as LocalTableScan leaves they
    broadcast without a job and add nothing to plan compilation — the
    r13 serve regression was exactly this fixed overhead (~6 jobs and
    ~0.7 s of optimizer time per pass around ~5k result rows).
    ``qemb`` is materialized as array<double> — the exact float→double
    widenings the JVM cast produces — so the re-rank's ``_exact_d2fx``
    sees identical operands."""
    bank = _cent_bank(cent)
    if bank is None:
        return None
    qrows = (qdf.select("vec_id", "embedding")
                .limit(_SERVE_DRIVER_MAX_Q + 1).collect())
    if len(qrows) > _SERVE_DRIVER_MAX_Q:
        return None
    cbrows = getattr(cb, "_graft_cb_rows", None)
    if cbrows is None:   # frame arrived from storage: one bounded collect
        cbrows = cb.select("m", "k", "cw").collect()  # <= M*K rows
    spark = qdf.sparkSession

    def values_frame(rows, cols, schema):
        """LocalRelation from inline typed VALUES — broadcasts without
        parallelizing an RDD and folds to a compact literal relation at
        analysis (the createDataFrame route plans a LogicalRDD whose
        every touch schedules a job)."""
        if not rows:
            return spark.createDataFrame([], schema)
        txt = ",".join("(" + ",".join(vals) + ")" for vals in rows)
        names = ", ".join(f"col{i + 1} AS {c}" for i, c in enumerate(cols))
        return spark.sql(f"SELECT {names} FROM VALUES {txt}")

    qlocal = values_frame(
        [(f"{int(r['vec_id'])}L",
          "array(" + ",".join(_sql_double(float(x))
                              for x in r["embedding"]) + ")")
         for r in qrows],
        ["q_vec_id", "qemb"], "q_vec_id long, qemb array<double>")
    qprobe = values_frame(
        [(f"{q}L", f"{cid}L", str(pr))
         for (q, cid, pr) in _probe_rows_np(qrows, bank, nprobe)],
        ["q_vec_id", "cid", "pr"], "q_vec_id long, cid long, pr int")
    dtab = values_frame(
        [(f"{q}L", str(m), str(k), f"{dfx}L")
         for (q, m, k, dfx) in _dtab_rows_np(qrows, cbrows)],
        ["dq", "qm", "k", "dfx"], "dq long, qm int, k int, dfx long")
    return qlocal, qprobe, dtab


def _pq_codes_with_cid(cells: DataFrame, cb: DataFrame) -> DataFrame:
    """(vec_id, cid, m, code): PQ code assignment carrying the IVF cell
    id(s) through ONE corpus pass — computing codes and cells separately
    and equi-joining them on vec_id would shuffle the corpus twice; the
    cell ids ride the code-argmin groupBy instead. With multi-assignment
    (``cells`` holds ``_IVF_NASSIGN`` rows per vector) the distance
    argmin is recomputed per replica — redundant compute on a narrow
    frame, bought to keep the corpus shuffle-free. r13: the coding runs
    as the Arrow-batched numpy twin (``_pq_code_batches``) — zero
    shuffles at all now (the old crossJoin → groupBy argmin shuffled
    the n·nassign·M·K pair frame into an aggregate; measured ~10 s of
    per-pair expression evaluation at sf0.1)."""
    banks = _pq_code_banks(cb)
    return (cells.select("vec_id", "cid", "embedding")
                 .mapInArrow(_pq_code_batches(banks, with_cid=True),
                             "vec_id long, cid long, m int, code long"))


def _ivfpq_adc_frame(qdf: DataFrame, corpus: DataFrame, cent: DataFrame,
                     cb: DataFrame, nprobe: int, local=None) -> DataFrame:
    """(q_vec_id, c_vec_id, pr, adfx): score an arbitrary query frame
    ((vec_id, embedding) rows) against a PREBUILT coded index — the ADC
    half of the serving path, shared by the batch ops and the streaming
    server. The per-(q, c, m) pre-aggregate dedups candidates reached
    through more than one probed cell before the ADC sum (multi-assigned
    corpus rows would otherwise double-count).

    r14: small query batches take the driver fast path — the probe and
    distance-table frames arrive as LocalTableScan leaves
    (``_serve_local_frames``; bit-identical numpy twins) instead of as
    crossJoin/window subplans, removing their jobs and their plan-
    compilation cost from every serve pass. ``local`` lets
    ``_ivfpq_serve_topk`` share one gate decision across ADC + re-rank."""
    if local is None:
        local = _serve_local_frames(qdf, cent, cb, nprobe)
    if local is not None:
        _, qprobe, dtab = local
    else:
        qprobe = _ivf_probe(qdf, cent, nprobe)
        q = qdf.select(F.col("vec_id").alias("q_vec_id"),
                       F.col("embedding").alias("qemb"))
        dtab = _pq_dtab_frame(q, cb).withColumnRenamed("q_vec_id", "dq")
    cand = (corpus.join(F.broadcast(qprobe), "cid")
                  .filter(F.col("vec_id") != F.col("q_vec_id")))
    # r13: ONE aggregation instead of the (q, c, m)-then-(q, c) pair —
    # structural exactness argument: a candidate reached through r
    # probed cells contributes each of its M subspace rows exactly r
    # times, with identical dfx per m (the code argmin depends only on
    # (vector, m)), so Σ_distinct-m dfx = Σ_all dfx · M DIV count(*)
    # exactly (integer division, divides evenly by construction), and
    # min(pr) is the same global min the two-stage form took. One
    # Exchange on the candidate volume instead of two, M× fewer
    # shuffled rows (guide §2.3/§2.4).
    return (cand.join(F.broadcast(dtab),
                      (F.col("q_vec_id") == F.col("dq"))
                      & (F.col("m") == F.col("qm"))
                      & (F.col("code") == F.col("k")))
                .groupBy("q_vec_id", F.col("vec_id").alias("c_vec_id"))
                .agg(F.min("pr").alias("pr"),
                     F.expr(f"sum(dfx) * {_PQ_M} div count(*)")
                      .alias("adfx")))


def _ivfpq_serve_topk(qdf: DataFrame, corpus: DataFrame, cent: DataFrame,
                      cb: DataFrame, e: DataFrame,
                      nprobe: int | None = None) -> DataFrame:
    """The full serving cascade against a prebuilt index: IVF probe ->
    ADC shortlist -> exact re-rank -> top-5 with probe rank. Shared by
    ``sim_ivfpq_topk`` and the streaming server ``stream_ann_serving``
    (which calls it per micro-batch with the static index frames).

    ``nprobe=None`` (the serving default since r8) auto-scales with the
    index: ``_ivf_nprobe(_ivf_nlist(|e|))`` — one parquet-metadata count
    of the corpus the index was built from, the same scalar the build
    already pulled, so the recall operating point tracks the √n-grown
    cell count instead of sagging at fixed nprobe=2 (VERDICT r7 #1)."""
    if nprobe is None:
        nprobe = _ivf_nprobe(_ivf_nlist(e.count()))
    local = _serve_local_frames(qdf, cent, cb, nprobe)
    scored = _ivfpq_adc_frame(qdf, corpus, cent, cb, nprobe, local=local)
    q = local[0] if local is not None else \
        qdf.select(F.col("vec_id").alias("q_vec_id"),
                   F.col("embedding").alias("qemb"))
    return (_exact_rerank(_pq_shortlist(scored, "pr"), q, e)
            .select("q_vec_id", "c_vec_id",
                    F.round(F.col("tfx") / F.lit(_PQ_FX), 6).alias("dist"),
                    F.col("pr").alias("probe_rank"), "rnk"))


def _ivfpq_index(e: DataFrame) -> tuple:
    """(corpus, cent, cb): the composed index — capped-trained centroids,
    multi-assigned inverted lists carrying trained PQ codes."""
    # r13: ONE count + ONE TakeOrderedAndProject collect feed BOTH
    # trainers — the md5-ordered sample's prefixes are exactly what each
    # trainer's own collect would return (same (hv, vec_id) total
    # order), so centroids and codebooks are bit-identical; two driver
    # jobs disappear from every build.
    n = e.count()
    nlist = _ivf_nlist(n)
    cap = _ivf_train_cap(nlist)
    if cap * nlist <= _DRIVER_TRAIN_MAX_PAIRS:
        rows = (e.select("vec_id", "embedding", _hv_col().alias("hv"))
                 .orderBy("hv", "vec_id")
                 .limit(max(cap, _PQ_TRAIN_CAP)).collect())
        cent = _ivf_train_capped(e, n=n, sample_rows=rows)
        cb = _pq_codebook(e, sample_rows=rows)
    else:   # distributed-training regime: per-trainer paths unchanged
        cent = _ivf_train_capped(e, n=n)
        cb = _pq_codebook(e)
    # r14: one fused Arrow pass assigns cells AND codes (embeddings
    # cross the Python boundary once, replicas are not re-coded); the
    # two-pass twins remain the fallback for unbanked frames.
    bank = _cent_bank(cent)
    banks = _pq_code_banks(cb)
    if bank is not None and banks:
        cids, C = bank
        corpus = e.select("vec_id", "embedding").mapInArrow(
            _assign_code_batches(cids, C, _IVF_NASSIGN, banks),
            "vec_id long, cid long, m int, code long")
    else:
        corpus = _pq_codes_with_cid(
            _ivf_assign(e, cent, nprobe=_IVF_NASSIGN), cb)
    return corpus, cent, cb


@op("sim_ivfpq_topk", oracle=f"""
WITH {_duck_ivf_capped_prefix()},
{_duck_pq_core(_N_QUERIES)},
{_duck_ivfpq_adc(_N_QUERIES, "(SELECT np FROM nl)")},
{_duck_rerank("adc", "rr", keep_pr=True)}
SELECT q_vec_id, c_vec_id, round(tfx / 1000000000.0, 6) AS dist,
       pr AS probe_rank, rnk
FROM rr WHERE rnk <= 5
""", tier=3, section="2.11")
def sim_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF+PQ composed in one plan — the production ANN stack, round-6
    operating point (VERDICT r5 #1): the capped-training IVF index
    multi-assigns each corpus vector to its ``_IVF_NASSIGN`` = 3 nearest
    cells (index-side redundancy — on an unclustered corpus
    single-assignment caps recall@5 near 0.30 at nprobe=2 regardless of
    PQ quality); each query probes its ``_ivf_nprobe(nlist)`` nearest
    cells (r8: the probe count auto-scales ~2√nlist/3 with the √n-grown
    cell count — VERDICT r7 #1 — so recall holds across corpus scales
    while the scanned fraction ~2/√nlist keeps falling); PQ ADC table
    lookups (16 subspaces x 64 TRAINED codewords) shortlist the probed
    cells' candidates; exact fixed-point L2 re-ranks the
    top-``_PQ_RERANK`` shortlist to the final top-5. Measured recall@5
    at the auto point: >= 0.5 at every audited scale (SCALE.md round-8
    table; pinned for the audit corpora in tests/test_ivf.py).

    Scale shape: ONE corpus pass assigns cells + codes together
    (``_pq_codes_with_cid`` — a second vec_id join would shuffle the
    corpus twice); probes, ADC tables and the re-rank shortlist
    broadcast; the only corpus-sized aggregates are the candidate ADC
    sum and its per-(q, c, m) dedup pre-aggregate. Fixed-point
    everywhere, so the composed ranking is exact-integer cross-engine.
    ``probe_rank`` reports which probe found each hit — the observable
    trace of the nprobe dial."""
    e = load(spark, sf_dir, "embeddings")
    corpus, cent, cb = _ivfpq_index(e)
    return _ivfpq_serve_topk(e.filter(F.col("vec_id") < _N_QUERIES),
                             corpus, cent, cb, e)


@op("sim_ivfpq_recall_eval", oracle=f"""
WITH {_duck_ivf_capped_prefix()},
{_duck_pq_core(_EVAL_QUERIES)},
{_duck_ivfpq_adc(_EVAL_QUERIES, 2)},
{_duck_rerank("adc", "rr1", pred=" WHERE pr = 1")},
{_duck_rerank("adc", "rr2")},
{_duck_pq_truth(_EVAL_QUERIES)},
top1 AS (SELECT q_vec_id, c_vec_id FROM rr1 WHERE rnk <= 5),
top2 AS (SELECT q_vec_id, c_vec_id FROM rr2 WHERE rnk <= 5),
scan AS (
    SELECT q_vec_id,
           CAST(count_if(pr = 1) AS BIGINT) AS n_scanned_p1,
           count(*) AS n_scanned_p2
    FROM adc GROUP BY 1)
SELECT t.q_vec_id,
       CAST(count_if(t1.c_vec_id IS NOT NULL) AS BIGINT) AS n_hits_p1,
       round(CAST(count_if(t1.c_vec_id IS NOT NULL) AS DOUBLE) / 5, 6)
           AS recall_p1,
       CAST(count_if(t2.c_vec_id IS NOT NULL) AS BIGINT) AS n_hits_p2,
       round(CAST(count_if(t2.c_vec_id IS NOT NULL) AS DOUBLE) / 5, 6)
           AS recall_p2,
       COALESCE(CAST(min(s.n_scanned_p1) AS BIGINT), 0) AS n_scanned_p1,
       COALESCE(CAST(min(s.n_scanned_p2) AS BIGINT), 0) AS n_scanned_p2
FROM truth t
LEFT JOIN top1 t1 ON t1.q_vec_id = t.q_vec_id
                 AND t1.c_vec_id = t.c_vec_id
LEFT JOIN top2 t2 ON t2.q_vec_id = t.q_vec_id
                 AND t2.c_vec_id = t.c_vec_id
LEFT JOIN scan s ON s.q_vec_id = t.q_vec_id
GROUP BY t.q_vec_id
""", tier=3, section="2.11")
def sim_ivfpq_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@5 of the composed IVF+PQ cascade vs brute-force exact-L2
    truth, at BOTH nprobe=1 and nprobe=2 in one pass (the ``pr`` column
    separates them: nprobe=1's candidates are exactly the pr=1 slice;
    each slice gets its own shortlist + exact re-rank), with the
    per-query scanned-vector counts — so the recall/cost point of every
    dial setting is measured, not asserted. Round-6 operating point
    (trained codebooks, 3x multi-assign, re-rank): recall@5 >= 0.5 at
    nprobe=2 at both test scales (pinned in tests/test_ivf.py). Same
    64-query, fixed-point discipline as the LSH/IVF/PQ evals; the
    cross-engine value check covers the measurement itself."""
    e = load(spark, sf_dir, "embeddings")
    corpus, cent, cb = _ivfpq_index(e)
    qdf = e.filter(F.col("vec_id") < _EVAL_QUERIES)
    q = qdf.select(F.col("vec_id").alias("q_vec_id"),
                   F.col("embedding").alias("qemb"))
    scored = _ivfpq_adc_frame(qdf, corpus, cent, cb, nprobe=2)
    top2 = (_exact_rerank(_pq_shortlist(scored), q, e)
            .select("q_vec_id", "c_vec_id").withColumn("h2", F.lit(1)))
    top1 = (_exact_rerank(_pq_shortlist(scored.filter("pr = 1")), q, e)
            .select("q_vec_id", "c_vec_id").withColumn("h1", F.lit(1)))
    scan = scored.groupBy("q_vec_id").agg(
        F.sum(F.when(F.col("pr") == 1, 1).otherwise(0)).cast("long")
         .alias("n_scanned_p1"),
        F.count("*").cast("long").alias("n_scanned_p2"))
    truth = _pq_truth(e, _EVAL_QUERIES)
    return (truth.join(top1, ["q_vec_id", "c_vec_id"], "left")
                 .join(top2, ["q_vec_id", "c_vec_id"], "left")
                 .groupBy("q_vec_id")
                 .agg(F.count("h1").alias("n_hits_p1"),
                      F.round(F.count("h1") / F.lit(5.0), 6)
                       .alias("recall_p1"),
                      F.count("h2").alias("n_hits_p2"),
                      F.round(F.count("h2") / F.lit(5.0), 6)
                       .alias("recall_p2"))
                 .join(scan, "q_vec_id", "left")
                 .select("q_vec_id", "n_hits_p1", "recall_p1",
                         "n_hits_p2", "recall_p2",
                         F.coalesce("n_scanned_p1", F.lit(0))
                          .cast("long").alias("n_scanned_p1"),
                         F.coalesce("n_scanned_p2", F.lit(0))
                          .cast("long").alias("n_scanned_p2")))


@op("sim_ivf_incremental_assign", oracle=f"""
WITH cut AS (SELECT CAST(floor(0.9 * count(*)) AS BIGINT) AS c
             FROM embeddings),
old AS (SELECT vec_id, embedding FROM embeddings CROSS JOIN cut
        WHERE vec_id < c),
batch AS (SELECT vec_id, embedding FROM embeddings CROSS JOIN cut
          WHERE vec_id >= c),
{_duck_ivf_capped_prefix(corpus="old")},
bassign AS (
    SELECT vec_id, cid FROM (
        SELECT e.vec_id, c.cid,
               row_number() OVER (PARTITION BY e.vec_id
                   ORDER BY {_duck_cos('e.embedding', 'c.cemb')} DESC,
                            c.cid) AS r
        FROM batch e CROSS JOIN u{_IVF_ITERS} c
    ) WHERE r = 1
),
occ AS (SELECT cid, count(*) AS n_old FROM cells GROUP BY 1)
SELECT b.vec_id, b.cid,
       CAST(COALESCE(o.n_old, 0) AS BIGINT) AS n_old_in_cell
FROM bassign b LEFT JOIN occ o ON o.cid = b.cid
""", tier=3, section="2.11")
def sim_ivf_incremental_assign(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    """Incremental IVF index maintenance — the daily-ingest shape for
    the ANN stack (the vector-side twin of ``dedup_incremental_minhash``):
    a new batch of vectors (the md5-stable top-10% vec_id slice stands in
    for today's arrivals) is assigned to the EXISTING trained index —
    centroids trained on the old corpus only, never retrained — so
    ingest cost is O(batch)·nlist, independent of corpus size, and old
    vectors never move cells (cached-index stability, the property that
    lets serving nodes keep their inverted lists immutable between
    rebuilds). Output: each batch vector's cell plus the cell's prior
    occupancy — the occupancy drift a real deployment monitors to decide
    when a full retrain is due (cells fill unevenly as the distribution
    shifts). Same capped trainer, fixed-point means and argmax
    discipline as ``sim_ivf_scalable_topk``, so the whole ingest step is
    value-checked cross-engine."""
    e = load(spark, sf_dir, "embeddings")
    cut = e.agg(F.floor(0.9 * F.count("*")).cast("long").alias("c"))
    with_cut = e.crossJoin(F.broadcast(cut))
    old = with_cut.filter(F.col("vec_id") < F.col("c")) \
                  .select("vec_id", "embedding")
    batch = with_cut.filter(F.col("vec_id") >= F.col("c")) \
                    .select("vec_id", "embedding")
    cent = _ivf_train_capped(old)
    occ = (_ivf_assign(old, cent)
           .groupBy("cid").agg(F.count("*").alias("n_old")))
    bassign = _ivf_assign(batch, cent, arrow=False).select("vec_id", "cid")
    return (bassign.join(F.broadcast(occ), "cid", "left")
                   .select("vec_id", "cid",
                           F.coalesce("n_old", F.lit(0)).cast("long")
                            .alias("n_old_in_cell")))


@op("sim_doc_retrieval", oracle=f"""
WITH q AS (SELECT vec_id, embedding FROM embeddings
           WHERE vec_id < {_N_QUERIES}),
knn AS (
    SELECT q_vec_id, c_vec_id, score, rnk FROM (
        SELECT q.vec_id AS q_vec_id, c.vec_id AS c_vec_id,
               round({_duck_cos('q.embedding', 'c.embedding')}, 6) AS score,
               row_number() OVER (
                   PARTITION BY q.vec_id
                   ORDER BY {_duck_cos('q.embedding', 'c.embedding')} DESC,
                            c.vec_id) AS rnk
        FROM q, embeddings c
        WHERE q.vec_id <> c.vec_id
    ) WHERE rnk <= 3
)
SELECT k.q_vec_id, k.rnk, k.score, d.doc_id, d.lang, d.source, d.n_chars,
       md5(d.text) AS doc_fingerprint
FROM knn k JOIN documents d ON d.doc_id = k.c_vec_id
""", tier=2, section="2.11")
def sim_doc_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end semantic retrieval — the RAG-shaped query: embed-side
    top-3 cosine neighbors per query vector, then join the hits BACK to
    the ``documents`` table (``vec_id`` and ``doc_id`` are aligned in
    this corpus) to return the payload a retriever actually serves
    (language, source, length, content fingerprint).

    Scale shape: the neighbor search is whichever ANN path fits the
    corpus (brute-force here as the oracle-exact baseline; swap in the
    IVF/PQ index at scale — same output contract); the join-back is a
    BROADCAST of the tiny hit list (queries x k rows) against the
    streamed documents table, so the corpus of documents never
    shuffles for retrieval."""
    e = load(spark, sf_dir, "embeddings")
    d = load(spark, sf_dir, "documents")
    # r14 (VERDICT r13 #4): norms hoisted per SIDE (see sim_label_agreement).
    q = e.filter(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("q_vec_id"), F.col("embedding").alias("q_emb"),
        F.sqrt(_dot(F.col("embedding"), F.col("embedding"))).alias("_nq"))
    c = e.select(F.col("vec_id").alias("c_vec_id"),
                 F.col("embedding").alias("c_emb"),
                 F.sqrt(_dot(F.col("embedding"), F.col("embedding")))
                  .alias("_nc"))
    w = Window.partitionBy("q_vec_id").orderBy(F.col("_s").desc(), "c_vec_id")
    knn = (F.broadcast(q).crossJoin(c)
            .filter(F.col("q_vec_id") != F.col("c_vec_id"))
            .withColumn("_s", _dot(F.col("q_emb"), F.col("c_emb"))
                        / (F.col("_nq") * F.col("_nc")))
            .withColumn("rnk", F.row_number().over(w))
            .filter("rnk <= 3")
            .select("q_vec_id", "rnk",
                    F.round("_s", 6).alias("score"), "c_vec_id"))
    return (d.join(F.broadcast(knn), d.doc_id == knn.c_vec_id)
             .select("q_vec_id", "rnk", "score", "doc_id", "lang",
                     "source", "n_chars",
                     F.md5("text").alias("doc_fingerprint")))


# --------------------------------------------------------------------------
# PCA power iteration (round 4): one distributed Gram pass + fixed-point
# power iteration — the whitening/variance-analysis step an embedding
# pipeline runs before indexing.
# --------------------------------------------------------------------------

_PCA_DIMS = 16      # leading sub-block of the embedding analyzed
_PCA_ITERS = 3      # fixed power iterations (oracle chains the same 3)
_PCA_GFX = 1e9      # Gram fixed-point grid (per-product floor)
_PCA_VFX = 10000    # eigenvector fixed-point grid (1e4)


def _pca_gram_sql() -> str:
    """Gram CTE shared by the oracle: G[i,j] as exact longs."""
    return f"""
gram AS (
    SELECT i.i AS i, j.j AS j,
           CAST(sum(floor(CAST(embedding[i.i + 1] AS DOUBLE)
                          * CAST(embedding[j.j + 1] AS DOUBLE)
                          * {_PCA_GFX!r})) AS BIGINT) AS g
    FROM embeddings, range(0, {_PCA_DIMS}) i(i), range(0, {_PCA_DIMS}) j(j)
    GROUP BY 1, 2
)"""


def _pca_iter_sql(prev: str, cur: str) -> str:
    """One power iteration as chained CTEs: raw = G.v (exact long dot
    product), then renormalize onto the 1e4 fixed-point grid."""
    return f"""
{cur}_raw AS (
    SELECT g.i AS dim, CAST(sum(g.g * v.v) AS BIGINT) AS raw
    FROM gram g JOIN {prev} v ON v.dim = g.j
    GROUP BY g.i
),
{cur} AS (
    SELECT dim,
           CAST(floor(CAST(raw AS DOUBLE)
                      / (SELECT max(abs(raw)) FROM {cur}_raw)
                      * {_PCA_VFX}) AS BIGINT) AS v
    FROM {cur}_raw
)"""


@op("emb_pca_power_iteration", oracle=f"""
WITH {_pca_gram_sql()},
v0 AS (SELECT i.i AS dim, CAST({_PCA_VFX} AS BIGINT) AS v
       FROM range(0, {_PCA_DIMS}) i(i)),
{_pca_iter_sql('v0', 'v1')},
{_pca_iter_sql('v1', 'v2')},
{_pca_iter_sql('v2', 'v3')},
conv AS (         -- self-reported convergence: cos(v2, v3)
    SELECT round(CAST(sum(a.v * b.v) AS DOUBLE)
                 / (sqrt(CAST((SELECT sum(v*v) FROM v2) AS DOUBLE))
                    * sqrt(CAST((SELECT sum(v*v) FROM v3) AS DOUBLE))), 6)
               AS c
    FROM v2 a JOIN v3 b ON a.dim = b.dim
)
SELECT v3.dim, round(CAST(v3.v AS DOUBLE) / {_PCA_VFX}, 6) AS weight,
       conv.c AS iterate_cos
FROM v3, conv
""", tier=3, section="2.11")
def emb_pca_power_iteration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Power iteration toward the top principal direction of the leading
    16 embedding dims (von Mises & Pollaczek-Geiringer 1929, public) —
    the first step of embedding whitening / variance diagnostics. ONE
    distributed pass computes G = sum(x xT) (the only data-sized work —
    a map-side-combinable 256-cell aggregate, the same constant-size-
    summary shape as the CMS sketch); 3 fixed iterations then run over
    the 256-cell G and a 16-row vector — node-sized, exactly like
    agg_pagerank_bipartite's rank loop.

    The CONTRACT is the 3rd fixed-point ITERATE, not a converged
    eigenvector: convergence is geometric in the spectral gap, and the
    op SELF-REPORTS it as `iterate_cos` = cos(v2, v3) (1.0 = converged).
    On this near-isotropic synthetic corpus the gap is ~1.014 so the
    iterate is still rotating — visible in the output, not hidden; a
    real embedding corpus has dominant mean/topic directions where 3-5
    iterations suffice. Determinism (the pagerank/HHI fixed-point
    recipe): Gram cells are sums of floored longs, the iterate stays on
    a 1e-4 integer grid, each renormalization is one correctly-rounded
    long->double division + floor — bit-identical in both engines."""
    e = load(spark, sf_dir, "embeddings")
    x = F.slice("embedding", 1, _PCA_DIMS)
    # r14 negative result (measured, kept OUT — the r13 unrolled-dot
    # lesson repeats at 256 columns): rewriting this Gram pass as 256
    # map-side SUM columns (the _fx_mean_agg shape) was bit-identical
    # but 17x SLOWER (0.33 s -> 5.6 s at sf0.1) — the 256 unrolled
    # getItem-pair aggregate expressions fall out of codegen and the
    # plan balloons ~15x. The double posexplode stays: its 256 rows per
    # vector feed a map-side-combinable 256-group hash aggregate, so
    # nothing corpus-sized shuffles anyway.
    xi = (e.select(F.posexplode(x).alias("i", "xi"), x.alias("xx"))
           .select("i", F.col("xi").cast("double").alias("xi"),
                   F.posexplode("xx").alias("j", "xj")))
    gram = (xi.groupBy("i", "j")
              .agg(F.sum(F.floor(F.col("xi") * F.col("xj").cast("double")
                                 * F.lit(_PCA_GFX)))
                    .alias("g")))
    spark_ = e.sparkSession
    v = spark_.range(_PCA_DIMS).select(
        F.col("id").cast("int").alias("dim"),
        F.lit(_PCA_VFX).cast("long").alias("v"))
    prev = None
    for _ in range(_PCA_ITERS):
        raw = (gram.join(F.broadcast(v), gram.j == v.dim)
                   .groupBy(F.col("i").alias("dim"))
                   .agg(F.sum(F.col("g") * F.col("v")).alias("raw")))
        m = raw.agg(F.max(F.abs(F.col("raw"))).alias("m"))
        prev = v
        v = (raw.crossJoin(F.broadcast(m))
                .select("dim",
                        F.floor(F.col("raw").cast("double") / F.col("m")
                                * _PCA_VFX).cast("long").alias("v")))
    a = prev.select(F.col("dim").alias("d2"), F.col("v").alias("va"))
    b = v.select(F.col("dim").alias("d3"), F.col("v").alias("vb"))
    conv = (a.join(b, a.d2 == b.d3)
             .agg(F.round(
                 F.sum(F.col("va") * F.col("vb")).cast("double")
                 / (F.sqrt(F.sum(F.col("va") * F.col("va")).cast("double"))
                    * F.sqrt(F.sum(F.col("vb") * F.col("vb"))
                             .cast("double"))), 6).alias("iterate_cos")))
    return (v.crossJoin(F.broadcast(conv))
             .select(F.col("dim").cast("long").alias("dim"),
                     F.round(F.col("v").cast("double") / _PCA_VFX, 6)
                      .alias("weight"),
                     "iterate_cos"))


_MRL_PREFIX = 16  # truncated-prefix dimensionality under evaluation


@op("sim_matryoshka_recall", oracle=f"""
WITH q AS (SELECT vec_id, embedding FROM embeddings
           WHERE vec_id < {_N_QUERIES}),
truth AS (        -- top-5 by FULL-dimension cosine
    SELECT q_vec_id, c_vec_id FROM (
        SELECT q.vec_id AS q_vec_id, c.vec_id AS c_vec_id,
               row_number() OVER (
                   PARTITION BY q.vec_id
                   ORDER BY {_duck_cos('q.embedding', 'c.embedding')} DESC,
                            c.vec_id) AS rnk
        FROM q, embeddings c WHERE q.vec_id <> c.vec_id
    ) WHERE rnk <= 5
), pref AS (      -- top-5 by the {_MRL_PREFIX}-dim PREFIX only
    SELECT q_vec_id, c_vec_id FROM (
        SELECT q.vec_id AS q_vec_id, c.vec_id AS c_vec_id,
               row_number() OVER (
                   PARTITION BY q.vec_id
                   ORDER BY {_duck_cos(f'q.embedding[1:{_MRL_PREFIX}]',
                                       f'c.embedding[1:{_MRL_PREFIX}]')}
                       DESC, c.vec_id) AS rnk
        FROM q, embeddings c WHERE q.vec_id <> c.vec_id
    ) WHERE rnk <= 5
)
SELECT t.q_vec_id,
       CAST(count(p.c_vec_id) AS BIGINT) AS n_hits,
       round(CAST(count(p.c_vec_id) AS DOUBLE) / 5, 6) AS recall_at_5
FROM truth t LEFT JOIN pref p
  ON p.q_vec_id = t.q_vec_id AND p.c_vec_id = t.c_vec_id
GROUP BY t.q_vec_id
""", tier=3, section="2.11")
def sim_matryoshka_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka-style truncation eval (Kusupati et al. 2022, public):
    how much nearest-neighbor quality survives if the index stores only
    the FIRST 16 of 64 embedding dims? Per query: top-5 by 16-dim
    prefix cosine vs top-5 by full cosine -> recall@5. This is the
    measurement that decides whether a 4x-cheaper prefix index is
    shippable — the same ship-with-an-eval discipline as
    sim_lsh_recall_eval / sim_ivf_recall_eval (these embeddings are not
    MRL-trained, so measured recall is the honest baseline an untrained
    truncation gives).

    Scale shape: both ranking passes are the broadcast-query x streamed-
    corpus brute-force shape of sim_cosine_topk (one corpus pass each);
    at index scale the prefix pass IS the production index being
    evaluated, and the full pass runs on the query sample only. Left-
    fold dot products (`F.aggregate`/list_reduce) keep every cosine
    bit-identical cross-engine."""
    e = load(spark, sf_dir, "embeddings")
    # r14 (VERDICT r13 #4): full- and prefix-cosine norms hoisted per
    # SIDE — each pair now folds once per score instead of three times;
    # dot/(nq·nc) keeps the identical IEEE association.
    nfull = F.sqrt(_dot(F.col("embedding"), F.col("embedding")))
    pref = F.slice("embedding", 1, _MRL_PREFIX)
    npref = F.sqrt(_dot(pref, pref))
    q = e.filter(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("q_vec_id"), F.col("embedding").alias("qe"),
        nfull.alias("_nqf"), npref.alias("_nqp"))
    c = e.select(F.col("vec_id").alias("c_vec_id"),
                 F.col("embedding").alias("ce"),
                 nfull.alias("_ncf"), npref.alias("_ncp"))

    def top5(score_col):
        w = Window.partitionBy("q_vec_id").orderBy(
            F.col(score_col).desc(), "c_vec_id")
        return (F.broadcast(q).crossJoin(c)
                 .filter(F.col("q_vec_id") != F.col("c_vec_id"))
                 .withColumn(score_col, scores[score_col])
                 .withColumn("rnk", F.row_number().over(w))
                 .filter("rnk <= 5").select("q_vec_id", "c_vec_id"))

    scores = {
        "s_full": _dot(F.col("qe"), F.col("ce"))
        / (F.col("_nqf") * F.col("_ncf")),
        "s_pref": _dot(F.slice("qe", 1, _MRL_PREFIX),
                       F.slice("ce", 1, _MRL_PREFIX))
        / (F.col("_nqp") * F.col("_ncp")),
    }
    truth = top5("s_full")
    pref = (top5("s_pref")
            .withColumnRenamed("c_vec_id", "p_vec_id")
            .withColumnRenamed("q_vec_id", "p_q"))
    return (truth.join(pref, (truth.q_vec_id == pref.p_q)
                       & (truth.c_vec_id == pref.p_vec_id), "left")
                 .groupBy("q_vec_id")
                 .agg(F.count("p_vec_id").alias("n_hits"),
                      F.round(F.count("p_vec_id").cast("double") / 5, 6)
                       .alias("recall_at_5")))


#: RRF constant (the standard k=60 from the public Cormack/Clarke/Büttcher
#: reciprocal-rank-fusion formulation).
_RRF_K = 60
_RRF_DEPTH = 20   # fuse the top-20 of each ranker
_RRF_FX = 1e9     # same fixed-point discipline as the BM25 partials


@op("sim_hybrid_rrf", oracle=f"""
WITH toks AS (
    SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
), dlen AS (
    SELECT doc_id, count(*) AS len FROM toks GROUP BY doc_id
), corpus AS (
    SELECT CAST(count(*) AS DOUBLE) AS n,
           CAST(sum(len) AS DOUBLE) / count(*) AS avg_len FROM dlen
), dfs AS (
    SELECT token, count(DISTINCT doc_id) AS df FROM toks GROUP BY token
), qterms AS (   -- query-by-example: doc 0's top-5 tf terms
    SELECT token FROM (
        SELECT token, row_number() OVER
            (ORDER BY count(*) DESC, token) AS r
        FROM toks WHERE doc_id = 0 GROUP BY token
    ) WHERE r <= 5
), tf AS (
    SELECT t.doc_id, t.token, count(*) AS tf
    FROM toks t JOIN qterms q ON q.token = t.token
    WHERE t.doc_id <> 0
    GROUP BY 1, 2
), lex AS (
    SELECT doc_id, row_number() OVER
               (ORDER BY score_fx DESC, doc_id) AS lex_rnk
    FROM (
        SELECT tf.doc_id,
               sum(CAST(floor(
                   ln(1 + (c.n - d.df + 0.5) / (d.df + 0.5))
                   * (tf.tf * (1.2 + 1))
                   / (tf.tf + 1.2 * (1 - 0.75
                      + 0.75 * l.len / c.avg_len))
                   * {_RRF_FX}) AS BIGINT)) AS score_fx
        FROM tf
        JOIN dfs d ON d.token = tf.token
        JOIN dlen l ON l.doc_id = tf.doc_id
        CROSS JOIN corpus c
        GROUP BY tf.doc_id
    ) QUALIFY lex_rnk <= {_RRF_DEPTH}
), q AS (SELECT embedding FROM embeddings WHERE vec_id = 0),
dense AS (
    SELECT c.vec_id AS doc_id,
           row_number() OVER (
               ORDER BY {_duck_cos('q.embedding', 'c.embedding')} DESC,
                        c.vec_id) AS dense_rnk
    FROM q, embeddings c WHERE c.vec_id <> 0
    QUALIFY dense_rnk <= {_RRF_DEPTH}
), fused AS (
    SELECT coalesce(l.doc_id, d.doc_id) AS doc_id,
           l.lex_rnk, d.dense_rnk,
           coalesce(1.0 / ({_RRF_K} + l.lex_rnk), 0)
               + coalesce(1.0 / ({_RRF_K} + d.dense_rnk), 0) AS rrf
    FROM lex l FULL OUTER JOIN dense d ON d.doc_id = l.doc_id
)
SELECT doc_id, lex_rnk, dense_rnk, round(rrf, 6) AS rrf, fused_rnk
FROM (
    SELECT *, row_number() OVER (ORDER BY rrf DESC, doc_id) AS fused_rnk
    FROM fused
) WHERE fused_rnk <= 10
""", tier=3, section="2.11")
def sim_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval by reciprocal-rank fusion — the production
    "dense + lexical" pattern: a query-by-example on document 0 runs
    BOTH as a BM25 query (doc 0's top-5 tf terms) and as a dense cosine
    query (vector 0), and the two top-20 rankings fuse with
    ``rrf = Σ 1/(60 + rank)`` (the public Cormack-Clarke-Büttcher
    constant). RRF needs no score calibration between rankers — only
    ranks — which is exactly why it is the default fusion for mixing a
    BM25 index with an ANN index.

    Scale shape: each ranker keeps its own scale story (BM25: broadcast
    query terms, one token-stream aggregate; dense: broadcast query
    vector over the streamed corpus — swap in the IVF cut at 100 TB),
    and the fusion itself is a FULL OUTER JOIN of two ≤20-row lists —
    driver-trivial by construction, whatever the corpus size. Lexical
    partials use the 1e9 fixed-point grid; ranks, not raw scores, cross
    the fusion boundary, so the fused ordering is engine-identical.
    """
    d = load(spark, sf_dir, "documents")
    e = load(spark, sf_dir, "embeddings")
    toks = d.select("doc_id",
                    F.explode(F.split("text", " ")).alias("token"))
    dlen = toks.groupBy("doc_id").agg(F.count("*").alias("len"))
    corpus = dlen.agg(
        F.count("*").cast("double").alias("n"),
        (F.sum("len").cast("double") / F.count("*")).alias("avg_len"))
    dfs = (toks.distinct().groupBy("token").agg(F.count("*").alias("df")))
    wq = Window.orderBy(F.col("tfq").desc(), "token")
    qterms = (toks.filter(F.col("doc_id") == 0)
                  .groupBy("token").agg(F.count("*").alias("tfq"))
                  .withColumn("r", F.row_number().over(wq))
                  .filter("r <= 5").select("token"))
    tf = (toks.filter(F.col("doc_id") != 0)
              .join(F.broadcast(qterms), "token")
              .groupBy("doc_id", "token").agg(F.count("*").alias("tf")))
    idf = F.log(1 + (F.col("n") - F.col("df") + 0.5) / (F.col("df") + 0.5))
    denom = (F.col("tf") + 1.2 * (1 - 0.75
             + 0.75 * F.col("len") / F.col("avg_len")))
    sfx = F.floor(idf * (F.col("tf") * (1.2 + 1)) / denom
                  * _RRF_FX).cast("long")
    wl = Window.orderBy(F.col("score_fx").desc(), "doc_id")
    lex = (tf.join(F.broadcast(dfs), "token").join(dlen, "doc_id")
             .crossJoin(F.broadcast(corpus))
             .groupBy("doc_id").agg(F.sum(sfx).alias("score_fx"))
             .withColumn("lex_rnk", F.row_number().over(wl))
             .filter(F.col("lex_rnk") <= _RRF_DEPTH)
             .select("doc_id", "lex_rnk"))
    # r14 (VERDICT r13 #4): norms hoisted per side (the query norm folds
    # once in the broadcast row, the corpus norm once per row).
    qv = e.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("q_emb"),
        F.sqrt(_dot(F.col("embedding"), F.col("embedding"))).alias("_nq"))
    wd = Window.orderBy(F.col("_s").desc(), "doc_id")
    dense = (e.filter(F.col("vec_id") != 0)
              .withColumn("_nc", F.sqrt(_dot(F.col("embedding"),
                                             F.col("embedding"))))
              .crossJoin(F.broadcast(qv))
              .select(F.col("vec_id").alias("doc_id"),
                      (_dot(F.col("embedding"), F.col("q_emb"))
                       / (F.col("_nq") * F.col("_nc"))).alias("_s"))
              .withColumn("dense_rnk", F.row_number().over(wd))
              .filter(F.col("dense_rnk") <= _RRF_DEPTH)
              .select("doc_id", "dense_rnk"))
    fused = (lex.join(dense, "doc_id", "full_outer")
                .select("doc_id", "lex_rnk", "dense_rnk",
                        (F.coalesce(1.0 / (_RRF_K + F.col("lex_rnk")),
                                    F.lit(0.0))
                         + F.coalesce(1.0 / (_RRF_K + F.col("dense_rnk")),
                                      F.lit(0.0))).alias("rrf")))
    wf = Window.orderBy(F.col("rrf").desc(), "doc_id")
    return (fused.withColumn("fused_rnk", F.row_number().over(wf))
                 .filter(F.col("fused_rnk") <= 10)
                 .select("doc_id", "lex_rnk", "dense_rnk",
                         F.round("rrf", 6).alias("rrf"), "fused_rnk"))


#: Johnson-Lindenstrauss projection: 64 -> 16 dims with a Rademacher ±1
#: matrix from the portable md5 parity, scaled 1/sqrt(16) = 0.25 (exact
#: in binary — the scale multiply introduces no rounding).
_JL_OUT = 16
_JL_SCALE = 0.25
_JL_EVAL_N = 16   # distortion audited on all pairs of the first 16 vectors


def _jl_sign(j: int, i: int) -> float:
    h = hashlib.md5(f"jl:{j}:{i}".encode()).hexdigest()[:8]
    return 1.0 if int(h, 16) & 1 else -1.0


def _jl_literal() -> str:
    """The 16 x 64 Rademacher matrix as one constant-folded SQL literal
    (the sim_lsh_bucketed plane-bank discipline — no per-row md5)."""
    rows = []
    for j in range(_JL_OUT):
        comps = ",".join("1.0D" if _jl_sign(j, i) > 0 else "-1.0D"
                         for i in range(_LSH_DIM))
        rows.append(f"array({comps})")
    return "array(" + ",".join(rows) + ")"


_DUCK_JL_SIGN = ("(CASE WHEN ('0x' || substr(md5('jl:' || {j} || ':' || "
                 "{i}), 1, 8))::BIGINT & 1 = 1 THEN 1.0 ELSE -1.0 END)")

#: squared L2 distance between two DuckDB lists, left-to-right fold.
_DUCK_SQDIST = ("list_reduce(list_transform({a}, (x, i) -> "
                "(CAST(x AS DOUBLE) - CAST({b}[i] AS DOUBLE)) "
                "* (CAST(x AS DOUBLE) - CAST({b}[i] AS DOUBLE))), "
                "(p, q) -> p + q)")


@op("emb_random_projection", oracle=f"""
WITH proj AS (
    SELECT vec_id, embedding,
           list_transform(range(0, {_JL_OUT}), j ->
               list_reduce(list_transform(embedding, (x, i) ->
                   CAST(x AS DOUBLE)
                   * {_DUCK_JL_SIGN.format(j="j", i="(i - 1)")}),
                   (p, q) -> p + q) * {_JL_SCALE}) AS p
    FROM embeddings WHERE vec_id < {_JL_EVAL_N}
)
SELECT a.vec_id AS id1, b.vec_id AS id2,
       round(sqrt({_DUCK_SQDIST.format(a="a.embedding", b="b.embedding")}),
             6) AS d_orig,
       round(sqrt({_DUCK_SQDIST.format(a="a.p", b="b.p")}), 6) AS d_proj,
       round(sqrt({_DUCK_SQDIST.format(a="a.p", b="b.p")})
             / sqrt({_DUCK_SQDIST.format(a="a.embedding", b="b.embedding")}),
             6) AS ratio
FROM proj a JOIN proj b ON a.vec_id < b.vec_id
""", tier=3, section="2.11")
def emb_random_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson-Lindenstrauss random projection 64 -> 16 dims with its
    distortion audit: a Rademacher ±1 matrix (portable md5 parity,
    constant-folded into a literal bank like the LSH planes) projects
    every embedding with one narrow map, and all C(16,2)=120 pairs of
    the first 16 vectors report original vs projected L2 distance and
    their ratio — the JL lemma says the ratios concentrate near 1, and
    this op MEASURES it, the same ship-the-eval discipline as
    sim_lsh_recall_eval.

    Why it matters at 100 TB: a 4x dimensionality cut is a 4x cut in
    ANN scan bytes and index memory; JL projection is the cheapest
    pre-index compression (no training, unlike PQ/IVF — one narrow
    pass, no shuffle). Determinism: the scale 1/sqrt(16) = 0.25 is
    exact in binary; folds are left-to-right on both engines, so even
    the distance RATIOS are bit-identical before rounding.
    """
    e = load(spark, sf_dir, "embeddings").filter(
        F.col("vec_id") < _JL_EVAL_N)
    proj = F.expr(f"""
        transform(sequence(0, {_JL_OUT - 1}), j ->
            aggregate(zip_with(embedding,
                    element_at({_jl_literal()}, j + 1),
                    (x, s) -> cast(x AS double) * s),
                cast(0.0 AS double), (acc, x2) -> acc + x2)
            * {_JL_SCALE}D)""")
    p = e.select("vec_id", "embedding", proj.alias("p"))

    def sqdist(a: Column, b: Column) -> Column:
        return F.aggregate(
            F.zip_with(a, b, lambda x, y: (x.cast("double")
                                           - y.cast("double"))
                       * (x.cast("double") - y.cast("double"))),
            F.lit(0.0), lambda acc, x: acc + x)

    a = p.select(F.col("vec_id").alias("id1"),
                 F.col("embedding").alias("e1"), F.col("p").alias("p1"))
    b = p.select(F.col("vec_id").alias("id2"),
                 F.col("embedding").alias("e2"), F.col("p").alias("p2"))
    d_orig = F.sqrt(sqdist(F.col("e1"), F.col("e2")))
    d_proj = F.sqrt(sqdist(F.col("p1"), F.col("p2")))
    return (a.join(F.broadcast(b), F.col("id1") < F.col("id2"))
             .select("id1", "id2",
                     F.round(d_orig, 6).alias("d_orig"),
                     F.round(d_proj, 6).alias("d_proj"),
                     F.round(d_proj / d_orig, 6).alias("ratio")))


#: MMR re-ranking: lambda weight, candidate depth, picks.
_MMR_L, _MMR_1L = 0.7, 0.3
_MMR_DEPTH = 20
_MMR_K = 5
_MMR_NQ = 4      # queries = vec_id < 4


def _duck_mmr_step(step: int) -> str:
    """One greedy MMR pick as a DuckDB CTE: among candidates not yet
    picked, maximize 0.7*sim(q,d) - 0.3*max(sim(d, picked))."""
    prev = " UNION ALL ".join(f"SELECT q, d FROM p{i}"
                              for i in range(1, step))
    return f"""
p{step} AS (
    SELECT q, d, score, {step} AS k FROM (
        SELECT c.q, c.d,
               {_MMR_L} * c.simq - {_MMR_1L} * max(dd.sim) AS score,
               row_number() OVER (
                   PARTITION BY c.q
                   ORDER BY {_MMR_L} * c.simq - {_MMR_1L} * max(dd.sim)
                            DESC, c.d) AS rn
        FROM cand c
        JOIN ({prev}) sel ON sel.q = c.q
        JOIN dd ON dd.q = c.q AND dd.d1 = c.d AND dd.d2 = sel.d
        WHERE c.d NOT IN (SELECT d FROM ({prev}) x WHERE x.q = c.q)
        GROUP BY c.q, c.d, c.simq
    ) WHERE rn = 1
)"""


@op("sim_mmr_diversify", oracle=f"""
WITH q AS (
    SELECT vec_id AS q, embedding FROM embeddings
    WHERE vec_id < {_MMR_NQ}
), cand AS (
    SELECT q, d, simq FROM (
        SELECT q.q, c.vec_id AS d,
               {_duck_cos('q.embedding', 'c.embedding')} AS simq,
               row_number() OVER (
                   PARTITION BY q.q
                   ORDER BY {_duck_cos('q.embedding', 'c.embedding')}
                            DESC, c.vec_id) AS rn
        FROM q, embeddings c WHERE c.vec_id <> q.q
    ) WHERE rn <= {_MMR_DEPTH}
), dd AS (
    SELECT a.q, a.d AS d1, b.d AS d2,
           {_duck_cos('ea.embedding', 'eb.embedding')} AS sim
    FROM cand a
    JOIN cand b ON b.q = a.q AND b.d <> a.d
    JOIN embeddings ea ON ea.vec_id = a.d
    JOIN embeddings eb ON eb.vec_id = b.d
), p1 AS (
    SELECT q, d, simq AS score, 1 AS k FROM (
        SELECT q, d, simq,
               row_number() OVER (PARTITION BY q
                                  ORDER BY simq DESC, d) AS rn
        FROM cand
    ) WHERE rn = 1
), {",".join(_duck_mmr_step(i) for i in range(2, _MMR_K + 1))}
SELECT q AS q_vec_id, k, d AS vec_id, round(score, 6) AS score
FROM ({" UNION ALL ".join(f"SELECT * FROM p{i}"
                          for i in range(1, _MMR_K + 1))})
""", tier=3, section="2.11")
def sim_mmr_diversify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal-marginal-relevance re-ranking (Carbonell & Goldstein
    1998, public) — the diversity pass a retrieval stack runs AFTER
    similarity search: from each query's top-20 cosine candidates,
    greedily pick 5 maximizing ``0.7·sim(query, d) − 0.3·max sim(d,
    already-picked)``, so near-duplicate hits stop crowding out
    coverage. The missing piece between this engine's ANN search and
    its dedup family.

    The greedy recursion is 5 FIXED steps, so it unrolls into plan
    depth — every step is a join of the candidate pool against the
    picks so far plus one per-query row_number, entirely JVM-side (no
    UDF, no driver loop). All sims come from the shared left-fold
    cosine, and each step's score is one multiply-subtract over those
    bit-identical doubles, so both engines pick identical vectors with
    identical scores (DuckDB oracle: the same 5 chained CTEs).

    Scale shape: candidate generation is the ANN path's job (broadcast
    queries over the streamed corpus here); MMR itself touches only
    queries × 20 rows and their 20 × 20 pairwise sims — constant per
    query, whatever the corpus size.
    """
    e = load(spark, sf_dir, "embeddings")
    # r14 (VERDICT r13 #4): norms hoisted per SIDE for both the
    # query×corpus candidate scan and the pick×pick pairwise sims
    # (1 fold per pair instead of 3; dot/(na·nb) association kept).
    norm = F.sqrt(_dot(F.col("embedding"), F.col("embedding")))
    q = e.filter(F.col("vec_id") < _MMR_NQ).select(
        F.col("vec_id").alias("q"), F.col("embedding").alias("qe"),
        norm.alias("_nq"))
    c = e.select(F.col("vec_id").alias("d"), F.col("embedding").alias("de"),
                 norm.alias("_nd"))
    wq = Window.partitionBy("q").orderBy(F.col("simq").desc(), "d")
    cand = (F.broadcast(q).crossJoin(c)
             .filter(F.col("q") != F.col("d"))
             .select("q", "d", (_dot(F.col("qe"), F.col("de"))
                                / (F.col("_nq") * F.col("_nd")))
                     .alias("simq"))
             .withColumn("rn", F.row_number().over(wq))
             .filter(F.col("rn") <= _MMR_DEPTH)
             .select("q", "d", "simq"))
    ea = e.select(F.col("vec_id").alias("d1"), F.col("embedding").alias("e1"),
                  norm.alias("_n1"))
    eb = e.select(F.col("vec_id").alias("d2"), F.col("embedding").alias("e2"),
                  norm.alias("_n2"))
    ca = cand.select("q", F.col("d").alias("d1"))
    cb = cand.select(F.col("q").alias("_q2"), F.col("d").alias("d2"))
    dd = (ca.join(cb, (F.col("q") == F.col("_q2"))
                  & (F.col("d1") != F.col("d2")))
            .join(F.broadcast(ea), "d1").join(F.broadcast(eb), "d2")
            .select("q", "d1", "d2",
                    (_dot(F.col("e1"), F.col("e2"))
                     / (F.col("_n1") * F.col("_n2"))).alias("sim")))
    w1 = Window.partitionBy("q").orderBy(F.col("simq").desc(), "d")
    picks = (cand.withColumn("rn", F.row_number().over(w1))
                 .filter("rn = 1")
                 .select("q", "d", F.col("simq").alias("score"),
                         F.lit(1).alias("k")))
    for step in range(2, _MMR_K + 1):
        sel = picks.select("q", F.col("d").alias("_sd"))
        remaining = cand.join(sel.withColumnRenamed("_sd", "d"),
                              ["q", "d"], "left_anti")
        scored = (remaining
                  .join(sel, "q")
                  .join(dd, (dd.q == remaining.q) & (dd.d1 == remaining.d)
                        & (dd.d2 == F.col("_sd")))
                  .drop(dd.q)
                  .groupBy("q", "d", "simq")
                  .agg(F.max("sim").alias("maxsel"))
                  .select("q", "d",
                          (_MMR_L * F.col("simq")
                           - _MMR_1L * F.col("maxsel")).alias("score")))
        ws = Window.partitionBy("q").orderBy(F.col("score").desc(), "d")
        nxt = (scored.withColumn("rn", F.row_number().over(ws))
                     .filter("rn = 1")
                     .select("q", "d", "score", F.lit(step).alias("k")))
        picks = picks.unionAll(nxt)
    return picks.select(F.col("q").alias("q_vec_id"), "k",
                        F.col("d").alias("vec_id"),
                        F.round("score", 6).alias("score"))


#: log2-discount table for NDCG@5 as LITERALS (1/log2(pos+1), pos=1..5).
#: Hard-coded so no libm log enters the cross-engine comparison; the
#: values are the IEEE-nearest doubles of the true constants.
_NDCG_DISC = [1.0, 0.6309297535714575, 0.5, 0.43067655807339306,
              0.38685280723454163]
_NDCG_FX = 1e9   # per-position contributions floored before summing


def _duck_ndcg_disc() -> str:
    return "[" + ", ".join(repr(d) for d in _NDCG_DISC) + "]"


@op("sim_jl_ndcg_eval", oracle=f"""
WITH proj AS (
    SELECT vec_id, embedding,
           list_transform(range(0, {_JL_OUT}), j ->
               list_reduce(list_transform(embedding, (x, i) ->
                   CAST(x AS DOUBLE)
                   * {_DUCK_JL_SIGN.format(j="j", i="(i - 1)")}),
                   (p, q) -> p + q) * {_JL_SCALE}) AS p
    FROM embeddings
), truth AS (
    SELECT q_vec_id, c_vec_id FROM (
        SELECT q.vec_id AS q_vec_id, c.vec_id AS c_vec_id,
               row_number() OVER (PARTITION BY q.vec_id
                   ORDER BY {_duck_cos('q.embedding', 'c.embedding')} DESC,
                            c.vec_id) AS rnk
        FROM embeddings q, embeddings c
        WHERE q.vec_id < {_N_QUERIES} AND q.vec_id <> c.vec_id
    ) WHERE rnk <= 5
), approx AS (
    SELECT q_vec_id, c_vec_id, rnk FROM (
        SELECT q.vec_id AS q_vec_id, c.vec_id AS c_vec_id,
               row_number() OVER (PARTITION BY q.vec_id
                   ORDER BY {_duck_cos('q.p', 'c.p')} DESC,
                            c.vec_id) AS rnk
        FROM proj q, proj c
        WHERE q.vec_id < {_N_QUERIES} AND q.vec_id <> c.vec_id
    ) WHERE rnk <= 5
), dcg AS (
    SELECT a.q_vec_id,
           SUM(CASE WHEN t.c_vec_id IS NOT NULL THEN
               CAST(floor({_duck_ndcg_disc()}[a.rnk] * {_NDCG_FX})
                    AS BIGINT) ELSE 0 END) AS dfx,
           CAST(count(t.c_vec_id) AS BIGINT) AS n_hit
    FROM approx a
    LEFT JOIN truth t ON t.q_vec_id = a.q_vec_id
                     AND t.c_vec_id = a.c_vec_id
    GROUP BY a.q_vec_id
), ideal AS (
    SELECT CAST(SUM(CAST(floor(d * {_NDCG_FX}) AS BIGINT)) AS BIGINT)
        AS ifx
    FROM (SELECT unnest({_duck_ndcg_disc()}) AS d)
)
SELECT d.q_vec_id, d.n_hit,
       round(CAST(d.dfx AS DOUBLE) / i.ifx, 6) AS ndcg5
FROM dcg d CROSS JOIN ideal i
""", tier=3, section="2.11")
def sim_jl_ndcg_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NDCG@5 of retrieval in the Johnson-Lindenstrauss 16-dim space vs
    the exact 64-dim cosine truth — the RANKED-quality eval that recall
    can't see (recall counts hits; NDCG penalizes putting them low).
    Binary relevance against the exact top-5; the log2 position
    discounts are hard-coded IEEE literals shared by both engines (no
    libm log crosses the comparison), and per-position contributions
    floor onto the 1e-9 grid so the DCG sum is an integer aggregate.

    Read with emb_random_projection's distortion audit: distortion says
    distances survive the projection on average; this says the ORDER a
    retriever actually serves survives too. The same ship-the-eval
    discipline as sim_lsh_recall_eval / sim_pq_recall_eval, for the JL
    compression path.
    """
    e = load(spark, sf_dir, "embeddings")
    proj = F.expr(f"""
        transform(sequence(0, {_JL_OUT - 1}), j ->
            aggregate(zip_with(embedding,
                    element_at({_jl_literal()}, j + 1),
                    (x, s) -> cast(x AS double) * s),
                cast(0.0 AS double), (acc, x2) -> acc + x2)
            * {_JL_SCALE}D)""")
    p = e.select("vec_id", "embedding", proj.alias("p"))

    def top5(df: DataFrame, col: str) -> DataFrame:
        # r14 (VERDICT r13 #4): norms hoisted per side, association kept.
        norm = F.sqrt(_dot(F.col(col), F.col(col)))
        q = df.filter(F.col("vec_id") < _N_QUERIES).select(
            F.col("vec_id").alias("q_vec_id"), F.col(col).alias("qv"),
            norm.alias("_nq"))
        c = df.select(F.col("vec_id").alias("c_vec_id"),
                      F.col(col).alias("cv"), norm.alias("_nc"))
        w = Window.partitionBy("q_vec_id").orderBy(
            F.col("_s").desc(), "c_vec_id")
        return (F.broadcast(q).crossJoin(c)
                 .filter(F.col("q_vec_id") != F.col("c_vec_id"))
                 .withColumn("_s", _dot(F.col("qv"), F.col("cv"))
                             / (F.col("_nq") * F.col("_nc")))
                 .withColumn("rnk", F.row_number().over(w))
                 .filter("rnk <= 5").select("q_vec_id", "c_vec_id", "rnk"))

    truth = top5(p, "embedding").drop("rnk")
    approx = top5(p, "p")
    disc = F.array(*[F.lit(d) for d in _NDCG_DISC])
    hit = F.col("t_c").isNotNull()
    dfx = F.when(hit, F.floor(F.element_at(disc, F.col("rnk"))
                              * _NDCG_FX).cast("long")).otherwise(F.lit(0))
    joined = approx.join(
        truth.select(F.col("q_vec_id").alias("t_q"),
                     F.col("c_vec_id").alias("t_c")),
        (F.col("q_vec_id") == F.col("t_q"))
        & (F.col("c_vec_id") == F.col("t_c")), "left")
    ifx = sum(int(d * _NDCG_FX) for d in _NDCG_DISC)
    return (joined.groupBy("q_vec_id")
                  .agg(F.sum(dfx).alias("dfx"),
                       F.count(F.col("t_c")).cast("long").alias("n_hit"))
                  .select("q_vec_id", "n_hit",
                          F.round(F.col("dfx").cast("double") / ifx, 6)
                           .alias("ndcg5")))


# --------------------------------------------------------------------------
# Index persistence (round 6 — VERDICT r5 "What's missing #5"): production
# ANN builds index frames ONCE and serves queries from the persisted
# artifacts; the batch ops above rebuild inline only because the test
# harness is stateless. These two ops make the build/serve split a
# first-class, value-checked surface.
# --------------------------------------------------------------------------


def _index_scratch(spark: SparkSession, key: str) -> str:
    """Per-application scratch root for index artifacts (ADVICE r6): the
    path incorporates the Spark applicationId so two concurrent sessions
    (bench.py alongside pytest, say) never rmtree/rewrite the same
    directory and read each other's half-deleted frames."""
    import os

    from .sources_sinks import SCRATCH
    app = spark.sparkContext.applicationId
    return os.path.join(SCRATCH, "ann_index", app, key)


def _write_index(e: DataFrame, base: str) -> tuple:
    """Write the composed index's three frames: centroids and codebook as
    plain parquet (tiny, broadcast at serve time), the coded corpus
    PARTITIONED BY cid — the on-disk inverted-list layout, so a serving
    scan of nprobe cells reads only those cells' files (partition
    pruning; at cluster scale each cell is its own directory of
    row-group-sized files). Returns the three frames' SCHEMAS — readers
    must pass them explicitly (an empty corpus writes a fileless
    directory, and schema inference cannot read one back)."""
    corpus, cent, cb = _ivfpq_index(e)
    cent.write.mode("overwrite").parquet(f"{base}/centroids")
    cb.write.mode("overwrite").parquet(f"{base}/codebook")
    corpus.write.mode("overwrite").partitionBy("cid") \
          .parquet(f"{base}/corpus")
    return corpus.schema, cent.schema, cb.schema


@op("sim_index_persist", oracle=f"""
WITH {_duck_ivf_capped_prefix()},
{_duck_pq_core(0)},
{_duck_ivfpq_adc(0, 2)}
SELECT frame, n_rows FROM (
    SELECT 'centroids' AS frame, count(*) AS n_rows FROM u{_IVF_ITERS}
    UNION ALL
    SELECT 'codebook', count(*) FROM pqcb{_PQ_ITERS}
    UNION ALL
    SELECT 'corpus', count(*) FROM (
        SELECT m.vec_id, m.cid, c.m FROM mcells m
        JOIN codes c ON c.vec_id = m.vec_id)
) ORDER BY frame
""", tier=3, section="2.11")
def sim_index_persist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INDEX BUILD as a first-class pipeline step: train the composed
    IVF+PQ index and persist its three frames — broadcastable centroids
    and codebook, and the coded corpus written PARTITIONED BY cid (the
    on-disk inverted-list layout: serving a query reads only its probed
    cells' files via partition pruning). Returns the build manifest
    (frame name, row count), value-checked against the oracle's own
    WITH-chain counts — so the persisted index's SHAPE (surviving
    centroid count after empty-cell drops, surviving codeword count,
    3x-multi-assigned coded-corpus cardinality = n_assignments x
    {_PQ_M} subspaces) is cross-engine verified, not just written.

    In deployment this runs once per corpus build (daily, say) on the
    build cluster; `sim_ann_serve_persisted` is the query-path twin that
    reads ONLY these artifacts. Both reuse the exact batch machinery, so
    persist -> serve equals the inline `sim_ivfpq_topk` row-for-row."""
    import shutil

    e = load(spark, sf_dir, "embeddings")
    base = _index_scratch(spark, "persist")
    shutil.rmtree(base, ignore_errors=True)
    corpus_s, cent_s, cb_s = _write_index(e, base)
    rd = lambda name, sch: spark.read.schema(sch).parquet(f"{base}/{name}")
    sizes = [("centroids", rd("centroids", cent_s).count()),
             ("codebook", rd("codebook", cb_s).count()),
             ("corpus", rd("corpus", corpus_s).count())]
    return spark.createDataFrame(sizes, "frame string, n_rows long") \
                .orderBy("frame")


@op("sim_ann_serve_persisted", oracle=REGISTRY["sim_ivfpq_topk"].oracle,
    tier=3, section="2.11")
def sim_ann_serve_persisted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SERVE FROM THE PERSISTED INDEX: build + write the index frames
    once (the `sim_index_persist` step), then answer the standard
    8-query batch touching ONLY the re-read parquet artifacts — the
    corpus side enters the plan as a scan of the cid-partitioned
    inverted lists, so the probed-cell filter prunes at the FILE level,
    which is the entire point of the layout at 100 TB (a query batch
    reads nprobe cells' directories, not the corpus).

    REUSES `sim_ivfpq_topk`'s oracle VERBATIM: the persisted round-trip
    must be byte-equivalent to the inline plan (schema evolution, cid
    partition-column round-trip, code dtype survival — the failure
    modes of writing an index to disk — all land here if they land
    anywhere). The exact re-rank tail reads embeddings from the source
    table by candidate id, as a serving tier would."""
    import shutil

    e = load(spark, sf_dir, "embeddings")
    base = _index_scratch(spark, "serve")
    shutil.rmtree(base, ignore_errors=True)
    corpus_s, cent_s, cb_s = _write_index(e, base)
    cent = spark.read.schema(cent_s).parquet(f"{base}/centroids")
    cb = spark.read.schema(cb_s).parquet(f"{base}/codebook")
    qdf = e.filter(F.col("vec_id") < _N_QUERIES)
    # VERDICT r6 #2 — make the cid-partitioned layout actually PRUNE:
    # the serving tier derives its probe list first (nq x nprobe cells,
    # a handful of ints on the driver — the one list a serving node
    # always knows) and pushes it as a STATIC IN-list predicate on the
    # partition column, so the corpus scan reads ONLY the probed cells'
    # directories (PartitionFilters: cid IN (...), pinned in
    # tests/test_plans.py). Without it the probe join is dynamic and
    # nothing file-prunes. Semantically a no-op: the downstream join on
    # cid already restricts candidates to probed cells, so the oracle
    # stays verbatim `sim_ivfpq_topk`.
    np_auto = _ivf_nprobe(_ivf_nlist(e.count()))
    # r14: the probe list comes from the driver numpy twin when the
    # query batch fits the serve gate (one collect instead of the
    # crossJoin/window/distinct job); the JVM probe stays the fallback.
    bank = _cent_bank(cent)
    qrows = (qdf.select("vec_id", "embedding")
                .limit(_SERVE_DRIVER_MAX_Q + 1).collect()
             if bank is not None else [])
    if bank is not None and len(qrows) <= _SERVE_DRIVER_MAX_Q:
        probed = sorted({cid for (_, cid, _)
                         in _probe_rows_np(qrows, bank, np_auto)})
    else:
        probed = sorted({r["cid"] for r in
                         _ivf_probe(qdf, cent, nprobe=np_auto)
                         .select("cid").distinct().collect()})
    corpus = (spark.read.schema(corpus_s).parquet(f"{base}/corpus")
              .filter(F.col("cid").isin(probed))
              .select("vec_id", "cid", "m", "code"))
    return _ivfpq_serve_topk(qdf, corpus, cent, cb, e, nprobe=np_auto)


# --------------------------------------------------------------------------
# Round-7 wave (SURVEY.md §2.18)
# --------------------------------------------------------------------------


@op("sim_centroid_drift", oracle=f"""
WITH cut AS (SELECT CAST(floor(count(*) / 2) AS BIGINT) AS c
             FROM embeddings),
halves AS (
    SELECT CASE WHEN vec_id < c THEN 'a' ELSE 'b' END AS half,
           label, unnest(embedding) AS x,
           generate_subscripts(embedding, 1) AS dim
    FROM embeddings CROSS JOIN cut
), cent AS (
    SELECT half, label, dim,
           CAST(floor(CAST(sum(CAST(floor(CAST(x AS DOUBLE) * 1000000000)
                                    AS BIGINT)) AS DOUBLE)
                      / count(*)) AS BIGINT) AS mfx,
           count(*) AS n
    FROM halves GROUP BY 1, 2, 3
), paired AS (
    SELECT a.label, a.dim, a.mfx AS ma, b.mfx AS mb,
           a.n AS na, b.n AS nb
    FROM cent a JOIN cent b
      ON b.label = a.label AND b.dim = a.dim
     AND a.half = 'a' AND b.half = 'b'
)
SELECT label,
       CAST(min(na) AS BIGINT) AS n_first,
       CAST(min(nb) AS BIGINT) AS n_second,
       round(CAST(sum(CAST(ma AS HUGEINT) * mb) AS DOUBLE)
             / sqrt(CAST(sum(CAST(ma AS HUGEINT) * ma) AS DOUBLE)
                    * CAST(sum(CAST(mb AS HUGEINT) * mb) AS DOUBLE)), 6)
           AS centroid_cosine
FROM paired GROUP BY label
""", tier=3, section="2.11")
def sim_centroid_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-drift monitor: split the corpus into first/second half
    by vec_id (the stand-in for yesterday's vs today's embedding batch),
    compute each label's centroid in both halves on the 1e-9 fixed-point
    grid, and report the cosine between the two centroids per label. A
    production pipeline alerts when an embedding-model or upstream-data
    change drops this toward 0 — the vector-side twin of
    `feat_psi_drift`.

    Exactness: centroid components are floor-quantized onto the 1e-9
    grid (the `_hourly_mfx` discipline — exact long sums, one
    floor-divide back), so the cosine's three inner products are exact
    DECIMAL(38)/HUGEINT sums of integer products (order-invariant —
    unordered DOUBLE sums here could flip round(6) at a rounding
    boundary cross-engine) and the cosine is ONE double expression over
    them. |mfx| <= 1e9, so 64-dim product sums stay exact up to any
    corpus size.

    Shapes: one narrow posexplode pass, one (half, label, dim) hash
    aggregate, a label+dim self-join of the tiny centroid frame, one
    64-term cosine aggregate per label — everything past the first
    aggregate is centroid-sized (labels x dims), broadcast-trivial."""
    e = load(spark, sf_dir, "embeddings")
    cut = e.agg(F.floor(F.count("*") / 2).cast("long").alias("c"))
    halves = (e.crossJoin(F.broadcast(cut))
               .select(F.when(F.col("vec_id") < F.col("c"), "a")
                        .otherwise("b").alias("half"),
                       "label",
                       F.posexplode("embedding").alias("pos", "x"))
               .select("half", "label", (F.col("pos") + 1).alias("dim"),
                       F.floor(F.col("x").cast("double") * F.lit(1e9))
                        .alias("fx")))
    cent = (halves.groupBy("half", "label", "dim")
                  .agg(F.floor(F.sum("fx").cast("double") / F.count("*"))
                        .cast("long").alias("mfx"),
                       F.count("*").alias("n")))
    a = cent.filter("half = 'a'").select(
        "label", "dim", F.col("mfx").alias("ma"), F.col("n").alias("na"))
    b = cent.filter("half = 'b'").select(
        F.col("label").alias("lb"), F.col("dim").alias("db"),
        F.col("mfx").alias("mb"), F.col("n").alias("nb"))
    paired = a.join(b, (F.col("lb") == F.col("label"))
                    & (F.col("db") == F.col("dim")))
    ma38 = F.col("ma").cast("decimal(38,0)")
    mb38 = F.col("mb").cast("decimal(38,0)")
    return (paired.groupBy("label")
                  .agg(F.min("na").cast("long").alias("n_first"),
                       F.min("nb").cast("long").alias("n_second"),
                       F.round(F.sum(ma38 * F.col("mb")).cast("double")
                               / F.sqrt(F.sum(ma38 * F.col("ma"))
                                        .cast("double")
                                        * F.sum(mb38 * F.col("mb"))
                                        .cast("double")), 6)
                        .alias("centroid_cosine")))


@op("emb_dim_variance_prune", oracle="""
WITH comp AS (
    SELECT generate_subscripts(embedding, 1) AS dim,
           CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 100000)
                AS BIGINT) AS fx
    FROM embeddings
), mom AS (
    SELECT dim, count(*) AS n,
           sum(fx) AS sx, sum(fx * fx) AS sxx
    FROM comp GROUP BY dim
), scored AS (
    SELECT dim, n,
           CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx AS num
    FROM mom
)
SELECT CAST(dim AS INT) AS dim, CAST(n AS BIGINT) AS n,
       round(num / n / (n - 1) / 1e10, 6) AS variance,
       CAST(row_number() OVER (ORDER BY num DESC, dim) AS INT) AS rank,
       CAST(row_number() OVER (ORDER BY num DESC, dim) <= 16
            AS INT) AS kept
FROM scored
""", tier=3, section="2.11")
def emb_dim_variance_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension variance screen over the embedding corpus: rank all
    dims by sample variance and mark the top 16 to keep — the
    data-driven sibling of `emb_random_projection` (keep the dims that
    actually vary instead of mixing them), and the first step of
    variance-threshold feature pruning before an index build.

    Exactness: components floor onto a 1e-5 fixed-point grid, so the
    per-dim moments are order-invariant BIGINT sums (|fx| <= ~3e5 keeps
    sum(fx^2) < 2^63 up to ~1e8 vectors); the ranking orders by the raw
    variance NUMERATOR n*sxx - sx^2 computed identically on both engines
    (dim tiebreak), so ranks never depend on a float rounding. The
    reported variance divides once and rounds.

    Scale shape: one narrow posexplode pass into ONE map-side-combinable
    (dim) hash aggregate; the rank window runs over the |dims|-row frame
    (Aggregate-bounded, passes the fact-window walk)."""
    e = load(spark, sf_dir, "embeddings")
    comp = e.select(
        F.posexplode("embedding").alias("pos", "x")
    ).select((F.col("pos") + 1).cast("int").alias("dim"),
             F.floor(F.col("x").cast("double") * F.lit(1e5))
              .cast("long").alias("fx"))
    mom = (comp.groupBy("dim")
               .agg(F.count("*").alias("n"), F.sum("fx").alias("sx"),
                    F.sum(F.col("fx") * F.col("fx")).alias("sxx")))
    num = (F.col("n").cast("double") * F.col("sxx")
           - F.col("sx").cast("double") * F.col("sx"))
    scored = mom.select("dim", "n", num.alias("num"))
    rk = F.row_number().over(
        Window.orderBy(F.col("num").desc(), "dim")).cast("int")
    return scored.select(
        "dim", F.col("n").cast("long").alias("n"),
        F.round(F.col("num") / F.col("n") / (F.col("n") - 1) / 1e10, 6)
         .alias("variance"),
        rk.alias("rank"), (rk <= 16).cast("int").alias("kept"))


# --------------------------------------------------------------------------
# Round-8 wave (SURVEY.md §2.28)
# --------------------------------------------------------------------------

#: Cosine threshold for `dedup_semantic_embedding` on the SYNTHETIC
#: near-isotropic embeddings table (max pairwise cosine ~0.46, so the
#: production SemDeDup default of ~0.9+ would demonstrate nothing here).
#: A real corpus parameterizes τ per `_semantic_dedup_frame`; the
#: planted-duplicate test (tests/test_wave_r8.py) exercises τ=0.9 on a
#: corpus that actually contains semantic duplicates.
_SEMDEDUP_TAU = 0.3

#: Target cell occupancy for the TWO-LEVEL split (round 9, VERDICT r8
#: #1): any coarse cell with more than ``_SEMDEDUP_OCC`` members is
#: re-clustered into ceil(|cell|/occ) sub-cells by a second, per-cell
#: Lloyd pass, so within-cell candidate volume is bounded by ~n·occ at
#: ANY corpus size — linear even past the 65,536-cell nlist clamp where
#: the single-level Σ|cell|² shape degrades toward n²/nlist. 256 is the
#: published SemDeDup expected-cluster-size ballpark (they run k ∝ n).
_SEMDEDUP_OCC = 256

#: HARD occupancy envelope (round 10, VERDICT r9 missing #3): one Lloyd
#: pass over hash seeds does not GUARANTEE balanced sub-cells (the 10x
#: audit measured a 5·occ hot sub-cell at the occ=8 dial; the r9 tests
#: only allowed <= 8·occ). Any sub-cell still above ``_RESPLIT_C``·occ
#: after the second-level pass is re-split into rank-chunks of <= occ
#: members, ordered by a 1-D locality sort (first embedding component,
#: vec_id tiebreak) so near-identical vectors stay chunk-mates barring
#: an exact boundary straddle. The bound max|sub-cell| <= 2·occ is now
#: arithmetic, not a measurement.
_SEMDEDUP_RESPLIT_C = 2

#: scid recode base for re-split chunks: scid_final = scid·2^32 + chunk.
#: chunk < 2^32 would need one sub-cell of > 2^32·occ members — larger
#: than any corpus — so the composite never collides.
_RESPLIT_BASE = 1 << 32


#: Sub-cell assignment CTE template — the two-level twin of
#: ``_DUCK_IVF_ASSIGN``: candidates come from the member's OWN coarse
#: cell (cid equi-join, never a cross join), nearest sub-centroid by
#: cosine with the deterministic (cos DESC, scid) tie-break.
_DUCK_SUB_ASSIGN = """{name} AS (
    SELECT vec_id, embedding, cid, scid FROM (
        SELECT e.vec_id, e.embedding, e.cid, c.scid,
               row_number() OVER (PARTITION BY e.vec_id
                   ORDER BY {cos} DESC, c.scid) AS r
        FROM {src} e JOIN {cent} c ON e.cid = c.cid
    ) WHERE r = 1
)"""

#: Fixed-point exact sub-centroid mean update — ``_DUCK_IVF_UPDATE``
#: keyed by (cid, scid) instead of cid.
_DUCK_SUB_UPDATE = f"""ssu{{i}} AS (
    SELECT cid, scid, list(comp ORDER BY dim) AS cemb FROM (
        SELECT cid, scid, dim,
               CAST(sum(fx) AS DOUBLE) / CAST(count(*) AS DOUBLE)
                   / {_IVF_FX} AS comp
        FROM (
            SELECT cid, scid, generate_subscripts(embedding, 1) AS dim,
                   CAST(floor(CAST(unnest(embedding) AS DOUBLE)
                              * {_IVF_FX}) AS BIGINT) AS fx
            FROM ssa{{i}})
        GROUP BY cid, scid, dim)
    GROUP BY cid, scid
)"""


def _duck_twolevel_prefix(corpus: str = "embeddings",
                          occ: int = _SEMDEDUP_OCC) -> str:
    """WITH-chain for the CONSTANT-OCCUPANCY two-level index — mirrors
    ``_twolevel_cells``: the capped coarse index (``cells``), then a
    per-cell split count k2 = max(1, ceil(|cell|/occ)), hash-seeded
    per-(cid, scid) sub-centroids, ``_IVF_ITERS`` partitioned Lloyd
    rounds (assignment restricted to the member's own coarse cell), a
    final assignment (``subcells0``), the round-10 HARD-ENVELOPE
    re-split (sub-cells above ``_SEMDEDUP_RESPLIT_C``·occ rank-chunk
    into <= occ members, locality-sorted by embedding[1]) producing
    ``subcells(vec_id, embedding, cid, scid)`` with composite scids,
    and ``ssubc`` — the final serving sub-centroids as exact
    fixed-point member means keyed by the composite scid."""
    cos = _duck_cos("e.embedding", "c.cemb")
    parts = [_duck_ivf_capped_prefix(corpus), f"""csz AS (
    SELECT cid, GREATEST(1, CAST(ceil(count(*) / {occ}.0) AS BIGINT)) AS k2
    FROM cells GROUP BY cid
), sseed AS (
    SELECT cid, scid, cemb FROM (
        SELECT e.cid, (e.hv % s.k2) AS scid,
               list_transform(e.embedding, x -> CAST(x AS DOUBLE)) AS cemb,
               row_number() OVER (PARTITION BY e.cid, (e.hv % s.k2)
                                  ORDER BY e.hv, e.vec_id) AS r
        FROM (SELECT vec_id, embedding, cid, {_DUCK_HV} AS hv
              FROM cells) e
        JOIN csz s USING (cid)
    ) WHERE r = 1
)"""]
    cent = "sseed"
    for i in range(1, _IVF_ITERS + 1):
        parts.append(_DUCK_SUB_ASSIGN.format(name=f"ssa{i}", cent=cent,
                                             cos=cos, src="cells"))
        parts.append(_DUCK_SUB_UPDATE.format(i=i))
        cent = f"ssu{i}"
    parts.append(_DUCK_SUB_ASSIGN.format(name="subcells0", cent=cent,
                                         cos=cos, src="cells"))
    parts.append(f"""ssz AS (
    SELECT cid, scid, count(*) AS s FROM subcells0 GROUP BY cid, scid
), subcells AS (
    SELECT vec_id, embedding, cid,
           scid * {_RESPLIT_BASE} + CASE
               WHEN s > {_SEMDEDUP_RESPLIT_C * occ} THEN
                   (row_number() OVER (PARTITION BY cid, scid
                        ORDER BY CAST(embedding[1] AS DOUBLE), vec_id)
                    - 1) // {occ}
               ELSE 0 END AS scid
    FROM subcells0 JOIN ssz USING (cid, scid)
), ssubc AS (
    SELECT cid, scid, list(comp ORDER BY dim) AS cemb FROM (
        SELECT cid, scid, dim,
               CAST(sum(fx) AS DOUBLE) / CAST(count(*) AS DOUBLE)
                   / {_IVF_FX} AS comp
        FROM (
            SELECT cid, scid, generate_subscripts(embedding, 1) AS dim,
                   CAST(floor(CAST(unnest(embedding) AS DOUBLE)
                              * {_IVF_FX}) AS BIGINT) AS fx
            FROM subcells)
        GROUP BY cid, scid, dim)
    GROUP BY cid, scid
)""")
    return ",\n".join(parts)


def _sub_assign(cells: DataFrame, subcent: DataFrame) -> DataFrame:
    """(vec_id, embedding, cid, scid) — each member paired with the
    nearest SUB-centroid of its own coarse cell. The join is cid-keyed
    (a member only ever sees its own cell's sub-centroids — never a
    cross join), and the norms are hoisted out of the pair score exactly
    like ``_ivf_assign`` (same ``dot / (na * nc)`` association as the
    oracle's per-pair formula, so the argmax is bit-identical)."""
    norm_e = F.sqrt(_dot(F.col("embedding"), F.col("embedding")))
    norm_c = F.sqrt(_dot(F.col("cemb"), F.col("cemb")))
    ev = cells.select("vec_id", "embedding", "cid", norm_e.alias("_nv"))
    cv = subcent.select("cid", "scid", "cemb", norm_c.alias("_nc"))
    # r13: same argmax-as-aggregation rework as _ivf_assign nprobe=1 —
    # max(struct(_c, -scid, ...)) is the window's (cos DESC, scid) pick
    # (NaN-greatest total order included), map-side combinable, no sort,
    # and the exchange carries one partial row per vector instead of
    # every (member × sub-centroid) pair with its embedding. Every
    # caller feeds single-assignment cells (vec_id unique), so the
    # vec_id grouping is exactly the window's partition.
    return (ev.join(cv, "cid")
              .withColumn("_c", _dot(F.col("embedding"), F.col("cemb"))
                          / (F.col("_nv") * F.col("_nc")))
              .groupBy("vec_id")
              .agg(F.max(F.struct(
                  F.col("_c").alias("c"),
                  (-F.col("scid")).alias("ns"),
                  F.col("scid").alias("scid"),
                  F.col("cid").alias("cid"),
                  F.col("embedding").alias("embedding"))).alias("m"))
              .select("vec_id", F.col("m.embedding").alias("embedding"),
                      F.col("m.cid").alias("cid"),
                      F.col("m.scid").alias("scid")))


def _twolevel_from_cells(cells: DataFrame,
                         occ: int = _SEMDEDUP_OCC) -> tuple:
    """(subcells, subcent): split every coarse cell above ``occ`` members
    into ceil(|cell|/occ) sub-cells with a per-cell second-level Lloyd
    pass (the ``_lloyd`` fixed-point discipline partitioned by cid —
    embarrassingly parallel across cells), assign every member to its
    nearest sub-centroid, then ENFORCE the hard occupancy envelope
    (round 10, VERDICT r9 missing #3): any sub-cell still above
    ``_SEMDEDUP_RESPLIT_C``·occ members rank-chunks into pieces of
    <= occ (locality-sorted by the first embedding component so
    near-identical vectors stay chunk-mates), scids recoding to
    scid·2^32 + chunk. max|sub-cell| <= 2·occ is now arithmetic.
    ``subcent`` is the final SERVING table — exact fixed-point member
    means keyed by the composite scid (one uniform formula covers
    split and unsplit sub-cells; arrivals probe it directly).
    ``cells`` must arrive cached (it feeds the size count, the seeds,
    and every Lloyd round). Both returned frames are materialized;
    sub-centroids are <= nlist + n/occ rows — tiny vs the corpus.

    In the common pre-clamp regime (E|cell| = n/nlist ≈ √n ≤ occ) every
    k2 = 1, the single sub-centroid per cell wins every argmax, no
    re-split triggers, and ``subcells`` is exactly ``cells`` with
    scid = 0 — the two-level path degrades to the r8 single-level
    answer by construction."""
    # r14 (VERDICT r13 #7): ONE driver job both decides the regime and
    # materializes the fast path — the occupancy census aggregates over
    # the cached scid=0 projection, so its collect doubles as the fast
    # path's cache fill (the r13 shape ran a census count and then a
    # separate sub.count() materialization: two jobs where one job's
    # side effect covers both). The census is nlist-bounded rows.
    sub0 = (cells.select("vec_id", "embedding", "cid",
                         F.lit(0).cast("long").alias("scid"))
                 .cache())
    sizes = sub0.groupBy("cid").agg(F.count("*").alias("_sz")).collect()
    if all(int(r["_sz"]) <= occ for r in sizes):
        # r13 FAST PATH: every cell already meets the occupancy bound,
        # so k2 = 1 everywhere and the machinery below provably degrades
        # to scid = 0 with per-cell fixed-point means (the pre-clamp
        # regime documented above, pinned by
        # tests/test_wave_r9.py::test_twolevel_identity_when_occ_exceeds_cells
        # and the forced-equality twin in tests/test_opt_r13.py). Skip
        # the 3 Lloyd rounds, the final assignment and the re-split
        # windows entirely — zero extra shuffles of the corpus.
        # Lazy checkpoint: the batch dedup path (_twolevel_cells) drops
        # subcent unused — only the serving/incremental path pays for
        # its materialization, on first use (r13; the plan-truncation
        # guarantee on use is unchanged).
        subcent = _fx_mean_agg(sub0, ["cid", "scid"]) \
            .localCheckpoint(eager=False)
        return sub0, subcent
    sub0.unpersist()
    # r13 SPLIT: only members of OVERSIZED cells go through the
    # second-level Lloyd + re-split machinery; members of compliant
    # cells take the k2 = 1 shortcut directly (per-cell independence
    # makes the two regimes exactly composable — every seed, iteration
    # and mean below is keyed by cid). At any corpus size this bounds
    # the Lloyd work to the skewed sliver instead of the whole corpus.
    # The size join reuses the collected census as a LocalRelation
    # (broadcasts without a job) instead of re-aggregating it.
    csz = cells.sparkSession.sql(
        "SELECT col1 AS cid, col2 AS _sz FROM VALUES "
        + ",".join(f"({int(r['cid'])}L,{int(r['_sz'])}L)" for r in sizes))
    sized = cells.join(F.broadcast(csz), "cid")
    small = sized.filter(F.col("_sz") <= occ).select(
        "vec_id", "embedding", "cid", F.lit(0).cast("long").alias("scid"))
    big = sized.filter(F.col("_sz") > occ) \
               .select("vec_id", "embedding", "cid", "_sz")
    hv = _hv_col()
    k2 = F.greatest(
        F.lit(1).cast("long"),
        F.ceil(F.col("_sz") / F.lit(float(occ))).cast("long"))
    seeded = big.select("vec_id", "embedding", "cid", hv.alias("hv"),
                        (hv % k2).alias("scid"))
    w_seed = Window.partitionBy("cid", "scid").orderBy("hv", "vec_id")
    cent = (seeded.withColumn("r", F.row_number().over(w_seed))
                  .filter("r = 1")
                  .select("cid", "scid", F.transform(
                      "embedding", lambda x: x.cast("double")).alias("cemb"))
                  .cache())
    # Partitioned Lloyd — the _lloyd materialize-then-drop chain, but
    # with eager localCheckpoint instead of cache: each sub-centroid
    # iteration's logical plan otherwise re-embeds the FULL `cells`
    # tree (which in the incremental path already carries the coarse
    # Lloyd tree), and the final pairs join doubles it again — measured
    # as a driver OOM while merely STRINGIFYING the plan under AQE on a
    # vanilla 1g-heap session. The checkpoint truncates each iteration
    # to a leaf; the frames are Σ ceil(|cell|/occ) rows of 64 doubles,
    # so the storage cost is nil (they stay resident until session end
    # — same lifetime the trained coarse centroids already have).
    # r13: the mean update is the fused 64-SUM aggregate (_fx_mean_agg —
    # one Exchange instead of two, no 64-way posexplode).
    big_members = big.select("vec_id", "embedding", "cid")
    for _ in range(_IVF_ITERS):
        assigned = _sub_assign(big_members, cent)
        new_cent = _fx_mean_agg(assigned, ["cid", "scid"]).localCheckpoint()
        cent.unpersist()
        cent = new_cent
    sub0 = _sub_assign(big_members, cent)
    # hard-envelope re-split: size + locality-rank windows share one
    # (cid, scid) shuffle; chunk arithmetic mirrors the oracle's
    # subcells CTE token for token.
    w_sz = Window.partitionBy("cid", "scid")
    w_rk = (Window.partitionBy("cid", "scid")
                  .orderBy(F.col("embedding").getItem(0).cast("double"),
                           "vec_id"))
    chunk = F.when(
        F.col("_s") > _SEMDEDUP_RESPLIT_C * occ,
        F.floor((F.row_number().over(w_rk) - 1) / occ).cast("long")
    ).otherwise(F.lit(0).cast("long"))
    sub_big = (sub0.withColumn("_s", F.count("*").over(w_sz))
                   .withColumn("scid",
                               F.col("scid").cast("long") * _RESPLIT_BASE
                               + chunk)
                   .select("vec_id", "embedding", "cid", "scid"))
    sub = small.unionByName(sub_big).cache()
    sub.count()
    cent.unpersist()
    # final serving sub-centroids: exact fixed-point member means per
    # composite scid — same formula as the Lloyd update, one grouping.
    # Lazy checkpoint: unused (and unpaid) on the batch dedup path.
    subcent = _fx_mean_agg(sub, ["cid", "scid"]).localCheckpoint(eager=False)
    return sub, subcent


def _twolevel_cells(e: DataFrame, occ: int = _SEMDEDUP_OCC) -> DataFrame:
    """(vec_id, embedding, cid, scid) cached+materialized — the full
    constant-occupancy index build: coarse capped index, then the
    per-cell split. The trained sub-centroid frame is dropped (batch
    dedup only needs the final assignment); ``_twolevel_index`` keeps it
    for incremental/streaming serving."""
    cells = _ivf_cells_scalable(e).cache()
    sub, subcent = _twolevel_from_cells(cells, occ)
    cells.unpersist()
    subcent.unpersist()
    return sub


def _twolevel_index(old: DataFrame, occ: int = _SEMDEDUP_OCC) -> tuple:
    """(cent, subcent, old_sub): the SERVING index for incremental /
    streaming ingest — coarse centroids + trained sub-centroids + the
    old corpus's (cid, scid) assignments, all cached (the frames a
    deployment keeps warm between full rebuilds). Arrivals probe cent
    (nq x nlist), then their own cell's sub-centroids (nq x k2), then
    join single sub-cells — O(batch·(nlist + k2 + occ)) per batch,
    independent of corpus size; the old corpus never reshuffles."""
    cent = _ivf_train_capped(old)
    old_cells = _ivf_assign(old, cent).cache()
    sub, subcent = _twolevel_from_cells(old_cells, occ)
    # r13: the serving index pays the (lazy-checkpointed) sub-centroid
    # materialization HERE, at build time — deferring it billed a
    # one-off index-build job to the first arrival batch, the recurring
    # per-batch cost a deployment actually watches (the batch dedup
    # path keeps the lazy win: it drops subcent unused).
    subcent.count()
    old_cells.unpersist()
    return cent, subcent, sub


def _semantic_ingest_pairs(batch: DataFrame, cent: DataFrame,
                           subcent: DataFrame, old_sub: DataFrame,
                           tau: float) -> DataFrame:
    """(vec_id, kept_id, cid, scid, cos_sim): the INGEST drop list —
    each ``batch`` vector coarse-probes ``cent`` (nq x nlist), then its
    own cell's sub-centroids (nq x k2), then joins ONLY its (cid, scid)
    sub-cell's old members, dropping against the min-id keeper at
    cosine >= ``tau``. Shared by `dedup_semantic_incremental`, the
    streaming twin's per-micro-batch serve, and the bench serve row.
    Norms hoisted per side (same association as the oracle, see
    `_semantic_pairs`)."""
    nrm = F.sqrt(_dot(F.col("embedding"), F.col("embedding")))
    b_sub = _sub_assign(_ivf_assign(batch, cent, arrow=False),
                        subcent).select(
        "vec_id", F.col("embedding").alias("bemb"), "cid", "scid",
        nrm.alias("_nb"))
    keepers = old_sub.select(F.col("vec_id").alias("kept_id"),
                             F.col("embedding").alias("aemb"),
                             "cid", "scid", nrm.alias("_na"))
    pairs = (b_sub.join(keepers, ["cid", "scid"])
                  .withColumn("c", _dot(F.col("aemb"), F.col("bemb"))
                              / (F.col("_na") * F.col("_nb")))
                  .where(F.col("c") >= F.lit(tau)))
    w = Window.partitionBy("vec_id").orderBy("kept_id")
    return (pairs.withColumn("r", F.row_number().over(w)).filter("r = 1")
                 .select("vec_id", "kept_id",
                         F.col("cid").cast("long").alias("cid"),
                         F.col("scid").cast("long").alias("scid"),
                         F.round("c", 6).alias("cos_sim")))


def _semantic_pairs(sub: DataFrame, tau: float) -> DataFrame:
    """(vec_id, kept_id, cid, scid, cos_sim): the SemDeDup drop list
    over a (cid, scid)-keyed index frame — every vector with a LOWER-id
    sub-cell-mate at cosine >= ``tau``, reported against its minimum-id
    such keeper. Norms are hoisted out of the pair join (the r7
    `_ivf_assign` cost fix: one fold per SIDE instead of three per
    PAIR, on the dominant ~n·occ pair volume) — bit-identical to the
    oracle's per-pair formula because the hoisted ``sqrt(dot(x,x))`` is
    the same IEEE expression over the same operands and the divide
    keeps the identical ``dot / (na * nb)`` association."""
    nrm = F.sqrt(_dot(F.col("embedding"), F.col("embedding")))
    a = sub.select(F.col("vec_id").alias("kept_id"),
                   F.col("embedding").alias("aemb"), "cid", "scid",
                   nrm.alias("_na"))
    b = sub.select("vec_id", F.col("embedding").alias("bemb"),
                   "cid", "scid", nrm.alias("_nb"))
    pairs = (a.join(b, ["cid", "scid"])
              .where(F.col("kept_id") < F.col("vec_id"))
              .withColumn("c", _dot(F.col("aemb"), F.col("bemb"))
                          / (F.col("_na") * F.col("_nb")))
              .where(F.col("c") >= F.lit(tau)))
    w = Window.partitionBy("vec_id").orderBy("kept_id")
    return (pairs.withColumn("r", F.row_number().over(w)).filter("r = 1")
                 .select("vec_id", "kept_id",
                         F.col("cid").cast("long").alias("cid"),
                         F.col("scid").cast("long").alias("scid"),
                         F.round("c", 6).alias("cos_sim")))


def _semantic_dedup_frame(e: DataFrame, tau: float,
                          occ: int = _SEMDEDUP_OCC) -> DataFrame:
    """Build the two-level index over ``e`` and return its drop list —
    shared by the registered op (corpus τ, occ=256) and the planted-
    duplicate / forced-split tests (τ=0.9, small occ)."""
    return _semantic_pairs(_twolevel_cells(e, occ), tau)


#: Memoized per-(applicationId, sf_dir) index frames for the registered
#: semantic ops — the `_COPURCHASE_CACHE` discipline (ADVICE r8 shape):
#: repeat invocations (driver + parity + bench warm/timed passes) reuse
#: ONE persisted index instead of stacking a fresh n-row cached frame
#: per call; switching datasets evicts the previous entry's storage.
_SEMDEDUP_CACHE: dict = {}
_SEMDEDUP_LOCK = __import__("threading").Lock()


def _dataset_fingerprint(sf_dir: str, table: str = "embeddings") -> tuple:
    """Cheap content fingerprint of ``<sf_dir>/<table>.parquet`` —
    (total bytes, max mtime_ns) over the file or directory tree. Part
    of the memo key (ADVICE r9): if the files under sf_dir are
    regenerated mid-session the fingerprint changes and the stale index
    misses naturally, instead of correctness depending on callers
    remembering `_reset_semantic_memo`."""
    path = os.path.join(sf_dir, f"{table}.parquet")
    size, mtime = 0, 0
    try:
        if os.path.isdir(path):
            for root, _dirs, files in os.walk(path):
                for f in files:
                    st = os.stat(os.path.join(root, f))
                    size += st.st_size
                    mtime = max(mtime, st.st_mtime_ns)
        elif os.path.exists(path):
            st = os.stat(path)
            size, mtime = st.st_size, st.st_mtime_ns
    except OSError:
        pass
    return (size, mtime)


def _semantic_memo(spark: SparkSession, sf_dir: str, slot: str, build):
    """Return the memoized value for ``slot`` (building it outside the
    lock on miss); evicts ALL entries of other (appId, sf_dir,
    fingerprint) datasets, unpersisting every DataFrame the evicted
    values reference."""
    key = (spark.sparkContext.applicationId, sf_dir,
           _dataset_fingerprint(sf_dir), slot)
    with _SEMDEDUP_LOCK:
        hit = _SEMDEDUP_CACHE.get(key)
        if hit is not None:
            return hit
        evicted = [_SEMDEDUP_CACHE.pop(k) for k in list(_SEMDEDUP_CACHE)
                   if k[:3] != key[:3]]
    for val in evicted:
        for f in (val if isinstance(val, tuple) else (val,)):
            try:
                f.unpersist(blocking=False)
            except Exception:
                pass
    val = build()
    with _SEMDEDUP_LOCK:
        won = _SEMDEDUP_CACHE.setdefault(key, val)
    if won is not val:
        for f in (val if isinstance(val, tuple) else (val,)):
            try:
                f.unpersist(blocking=False)
            except Exception:
                pass
    return won


@op("dedup_semantic_embedding", oracle=f"""
WITH {_duck_twolevel_prefix()},
pairs AS (
    SELECT b.vec_id AS vec_id, a.vec_id AS kept_id,
           CAST(a.cid AS BIGINT) AS cid, CAST(a.scid AS BIGINT) AS scid,
           {_duck_cos('a.embedding', 'b.embedding')} AS c
    FROM subcells a JOIN subcells b
      ON a.cid = b.cid AND a.scid = b.scid AND a.vec_id < b.vec_id
    WHERE {_duck_cos('a.embedding', 'b.embedding')} >= {_SEMDEDUP_TAU}
)
SELECT vec_id, kept_id, cid, scid, round(c, 6) AS cos_sim
FROM (SELECT *, row_number() OVER (PARTITION BY vec_id
                                   ORDER BY kept_id) AS r
      FROM pairs) WHERE r = 1
""", tier=3, section="2.11")
def dedup_semantic_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-shape semantic deduplication (Abbas et al. 2023, the
    public recipe modern LLM corpora run AFTER MinHash), on the
    CONSTANT-OCCUPANCY two-level index since round 9 (VERDICT r8 #1):
    the capped coarse trainer the IVF family ships (`_ivf_train_capped`
    — ~50·nlist sample, nlist = clamp(⌊√n⌋, 32, 65536)) buckets the
    embedding space, then every coarse cell above `_SEMDEDUP_OCC` = 256
    members is re-clustered into ceil(|cell|/256) sub-cells by a
    per-cell second-level Lloyd pass; pairs are compared ONLY within a
    (cid, scid) sub-cell and every vector with a lower-id sub-cell-mate
    above the cosine threshold is dropped against its minimum-id keeper.

    Output is the DROP LIST: (vec_id, kept_id, cid, scid, cos_sim) —
    vec_id is deduplicated away in favor of kept_id, its minimum-id
    keeper. Joining it as an anti-join against the corpus yields the
    deduped set, exactly like `dedup_near_minhash`'s kill-list
    discipline.

    Exactness: both clustering levels are the fixed-point Lloyd contract
    (bit-identical cells cross-engine); the cosine is the shared double
    expression (`_duck_cos`/`_cos`), so the >= τ boundary decision and
    the min-keeper window are identical in both engines; round(6) seals
    the reported similarity. In the pre-clamp regime (E|cell| <= occ)
    every split count is 1 and the answer equals the r8 single-level
    drop list by construction.

    Scale shape: NEVER all-pairs, and since r9 never super-linear
    either — the pair join is (cid, scid)-keyed with every sub-cell
    bounded near occ members, so candidate volume is ~n·occ/2 at ANY
    corpus size, including past the 65,536-cell nlist ceiling where the
    r8 single-level Σ|cell|² shape degraded toward n²/nlist (the
    measured past-clamp pin lives in tests/test_wave_r9.py; the 10x/
    100x exponents in SCALE.md). The price is the second-level pass:
    `_IVF_ITERS`+1 linear corpus scans whose per-row candidate count is
    ceil(|cell|/occ) — the published SemDeDup k ∝ n trade, bought here
    without retraining a corpus-sized k-means (the coarse trainer stays
    capped; the split trains only inside overfull cells). The min-keeper
    window is vec_id-keyed (bounded partitions)."""
    e = load(spark, sf_dir, "embeddings")
    sub = _semantic_memo(spark, sf_dir, "batch",
                         lambda: _twolevel_cells(e, _SEMDEDUP_OCC))
    return _semantic_pairs(sub, _SEMDEDUP_TAU)


@op("dedup_semantic_incremental", oracle=f"""
WITH cut AS (SELECT CAST(floor(0.9 * count(*)) AS BIGINT) AS c
             FROM embeddings),
old AS (SELECT vec_id, embedding FROM embeddings CROSS JOIN cut
        WHERE vec_id < c),
batch AS (SELECT vec_id, embedding FROM embeddings CROSS JOIN cut
          WHERE vec_id >= c),
{_duck_twolevel_prefix(corpus="old")},
bassign AS (
    SELECT vec_id, embedding, cid FROM (
        SELECT e.vec_id, e.embedding, c.cid,
               row_number() OVER (PARTITION BY e.vec_id
                   ORDER BY {_duck_cos('e.embedding', 'c.cemb')} DESC,
                            c.cid) AS r
        FROM batch e CROSS JOIN u{_IVF_ITERS} c
    ) WHERE r = 1
),
{_DUCK_SUB_ASSIGN.format(name="bsub", cent="ssubc",
                         cos=_duck_cos('e.embedding', 'c.cemb'),
                         src="bassign")},
pairs AS (
    SELECT b.vec_id AS vec_id, o.vec_id AS kept_id,
           CAST(b.cid AS BIGINT) AS cid, CAST(b.scid AS BIGINT) AS scid,
           {_duck_cos('o.embedding', 'b.embedding')} AS c
    FROM bsub b JOIN subcells o ON o.cid = b.cid AND o.scid = b.scid
    WHERE {_duck_cos('o.embedding', 'b.embedding')} >= {_SEMDEDUP_TAU}
)
SELECT vec_id, kept_id, cid, scid, round(c, 6) AS cos_sim
FROM (SELECT *, row_number() OVER (PARTITION BY vec_id
                                   ORDER BY kept_id) AS r
      FROM pairs) WHERE r = 1
""", tier=3, section="2.11")
def dedup_semantic_incremental(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    """Incremental SemDeDup — the daily-ingest twin of
    `dedup_semantic_embedding`, completing the triangle the MinHash
    family already has (`dedup_near_minhash` ↔
    `dedup_incremental_minhash`): a new batch of vectors (the md5-stable
    top-10% vec_id slice stands in for today's arrivals) probes the
    EXISTING cluster index — centroids trained on the old corpus only,
    never retrained (the `sim_ivf_incremental_assign` discipline) — and
    each batch vector is checked ONLY against the old members of its
    nearest cell, dropping it against the minimum-id keeper above the
    cosine threshold. Ingest cost is O(batch · (nlist + cell size)),
    independent of corpus size, and the old corpus never reshuffles —
    its cell assignments are the immutable inverted lists a serving/
    ingest tier keeps warm between full rebuilds.

    Exactness: same exact pieces as the batch op (fixed-point Lloyd at
    BOTH levels on the old slice, shared double cosine, min-keeper
    window); the 0.9 cut derives from count(*) identically in both
    engines.

    Scale shape: the only corpus-sized work is the old slice's index
    build (the frames a deployment already has on disk — since r9 the
    constant-occupancy two-level index, so the serving tier inherits
    the linear candidate bound too); the batch side is nq·nlist coarse
    probes, nq·k2 sub-probes, and a (cid, scid)-keyed join against
    single sub-cells of ~occ members — never batch x corpus."""
    e = load(spark, sf_dir, "embeddings")
    cut = e.agg(F.floor(0.9 * F.count("*")).cast("long").alias("c"))
    with_cut = e.crossJoin(F.broadcast(cut))
    old = with_cut.filter(F.col("vec_id") < F.col("c")) \
                  .select("vec_id", "embedding")
    batch = with_cut.filter(F.col("vec_id") >= F.col("c")) \
                    .select("vec_id", "embedding")
    cent, subcent, old_sub = _semantic_memo(
        spark, sf_dir, "inc", lambda: _twolevel_index(old, _SEMDEDUP_OCC))
    return _semantic_ingest_pairs(batch, cent, subcent, old_sub,
                                  _SEMDEDUP_TAU)


def _semantic_cc_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The cosine >= τ sub-cell pair graph (v1 < v2), eagerly
    localCheckpointed — shared by the bounded-round CC and its star
    twin. Checkpoint, NOT cache: the pair graph hangs off the FULL
    two-level index tree (unlike the MinHash CC's compact shingle
    lineage), and per-round CC lineage compounding over it reproduced
    the vanilla-1g-driver plan-stringify OOM `_twolevel_from_cells`
    hit; the checkpoint truncates to a leaf, and the frame is
    duplicate-population-sized (tiny next to the corpus)."""
    e = load(spark, sf_dir, "embeddings")
    sub = _semantic_memo(spark, sf_dir, "batch",
                         lambda: _twolevel_cells(e, _SEMDEDUP_OCC))
    nrm = F.sqrt(_dot(F.col("embedding"), F.col("embedding")))
    a = sub.select(F.col("vec_id").alias("v1"),
                   F.col("embedding").alias("aemb"), "cid", "scid",
                   nrm.alias("_na"))
    b = sub.select(F.col("vec_id").alias("v2"),
                   F.col("embedding").alias("bemb"), "cid", "scid",
                   nrm.alias("_nb"))
    return (a.join(b, ["cid", "scid"])
             .where(F.col("v1") < F.col("v2"))
             .withColumn("c", _dot(F.col("aemb"), F.col("bemb"))
                         / (F.col("_na") * F.col("_nb")))
             .where(F.col("c") >= F.lit(_SEMDEDUP_TAU))
             .select("v1", "v2")
             .localCheckpoint())


@op("dedup_semantic_cluster_cc", oracle=f"""
WITH RECURSIVE {_duck_twolevel_prefix()},
spairs AS (
    SELECT a.vec_id AS v1, b.vec_id AS v2
    FROM subcells a JOIN subcells b
      ON a.cid = b.cid AND a.scid = b.scid AND a.vec_id < b.vec_id
    WHERE {_duck_cos('a.embedding', 'b.embedding')} >= {_SEMDEDUP_TAU}
), edges AS (
    SELECT v1 AS a, v2 AS b FROM spairs
    UNION SELECT v2, v1 FROM spairs
), cc AS (   -- min-label propagation to fixpoint
    SELECT DISTINCT a AS node, a AS lbl FROM edges
    UNION
    SELECT e.b, cc.lbl FROM cc JOIN edges e
      ON cc.node = e.a AND cc.lbl < e.b
)
SELECT node AS vec_id, min(lbl) AS cluster_id FROM cc GROUP BY node
""", tier=3, section="2.11")
def dedup_semantic_cluster_cc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic-dup CLUSTERS: connected components over the cosine >= τ
    sub-cell pair graph, labeling every involved vector with its
    component's min vec_id — the semantic twin of `dedup_cluster_cc`
    (the MinHash family's CC op), completing the family symmetry: the
    min-keeper DROP LIST (`dedup_semantic_embedding`) answers "what do
    I delete", this answers "what belongs together" (the form a
    curation UI or a cluster-level sampler consumes — SemDeDup itself
    keeps one representative PER CLUSTER, which needs the component,
    not the pairwise keeper).

    Same bounded-round min-label propagation as the MinHash CC
    (duplicate clusters are near-cliques inside a sub-cell, so the
    fixpoint lands in ~2 rounds; the driver loop is over ROUNDS with a
    distributed fixpoint check, never rows); the DuckDB oracle reaches
    the identical fixpoint by a recursive CTE. The pair graph reuses
    the MEMOIZED two-level index frame, so running drop list + clusters
    together builds the index once.

    Scale shape: the edge list is the (cid, scid)-keyed candidate set —
    ~n·occ bounded since r9, never all-pairs; each round is one
    edge-keyed join + one min-aggregate over the (duplicate-population-
    sized, much smaller than corpus) label frame."""
    pairs = _semantic_cc_pairs(spark, sf_dir)
    edges = (pairs.unionByName(pairs.select(F.col("v2").alias("v1"),
                                            F.col("v1").alias("v2")))
                  .withColumnsRenamed({"v1": "a", "v2": "b"})
                  .localCheckpoint())
    labels = (edges.select(F.col("a").alias("node")).distinct()
                   .withColumn("lbl", F.col("node")).localCheckpoint())
    for _ in range(10):  # cap; real exit is the fixpoint check below
        prop = (edges.join(labels, edges.a == labels.node)
                     .groupBy(F.col("b").alias("node"))
                     .agg(F.min("lbl").alias("nbr_lbl")))
        new = (labels.join(prop, "node", "left")
                     .select("node", F.least(
                         "lbl", F.coalesce("nbr_lbl", "lbl")).alias("lbl"))
               ).localCheckpoint()
        changed = (new.alias("n").join(labels.alias("o"), "node")
                      .filter(F.col("n.lbl") != F.col("o.lbl"))
                      .limit(1).count())
        labels = new
        if changed == 0:
            break
    else:
        # ADVICE r9: sub-cells can hold up to the envelope-bound vector
        # count, so a component with diameter > the round cap is
        # possible in principle — diverge LOUDLY from the recursive-CTE
        # oracle's guaranteed fixpoint instead of returning wrong labels.
        raise RuntimeError(
            "dedup_semantic_cluster_cc: min-label propagation did not "
            "reach a fixpoint within the round cap (diameter > 10)")
    return labels.select(F.col("node").alias("vec_id"),
                         F.col("lbl").alias("cluster_id"))


@op("dedup_semantic_cluster_cc_star",
    oracle=REGISTRY["dedup_semantic_cluster_cc"].oracle,
    tier=3, section="2.37")
def dedup_semantic_cluster_cc_star(spark: SparkSession,
                                   sf_dir: str) -> DataFrame:
    """DIAMETER-INDEPENDENT twin of `dedup_semantic_cluster_cc`
    (VERDICT r10 missing #4): the same cosine >= τ sub-cell components
    labeled by min vec_id, via alternating large-star/small-star
    (`cc.cc_star`) — O(log² n) rounds regardless of component diameter,
    retiring the bounded-round cap's loud-failure mode (sub-cells can
    hold up to the envelope bound, so a >10-diameter chain is possible
    in principle; the MinHash-family twin pins exactly that corpus).
    Shares `_semantic_cc_pairs` (and through it the MEMOIZED two-level
    index) with the bounded-round op, so running both costs one index
    build; value-identical wherever both converge, and the DuckDB
    oracle is the bounded-round op's recursive CTE VERBATIM.

    Scale shape: per star round two grouped min-aggregates + joins
    over the duplicate-population-sized edge list, eagerly
    checkpointed — same per-round cost as min-label, shape-independent
    round count."""
    from ..cc import cc_star

    pairs = _semantic_cc_pairs(spark, sf_dir).select(
        F.col("v1").alias("a"), F.col("v2").alias("b"))
    return cc_star(pairs).select(F.col("node").alias("vec_id"),
                                 F.col("lbl").alias("cluster_id"))


#: `sim_twolevel_recall_eval` runs the split at occ=8 — the simulated
#: past-clamp dial (|cell|/occ ~ 2-6 at the test corpora reproduces the
#: ratio the production occ=256 only reaches past the nlist ceiling) —
#: so the driver grades the NON-TRIVIAL two-level path end-to-end at
#: every sf, not the k2=1 identity regime.
_TWOLEVEL_EVAL_OCC = 8


@op("sim_twolevel_recall_eval", oracle=f"""
WITH {_duck_twolevel_prefix(occ=_TWOLEVEL_EVAL_OCC)},
c1 AS (SELECT CAST(sum(n * (n - 1) // 2) AS BIGINT) AS cand FROM
       (SELECT count(*) AS n FROM cells GROUP BY cid)),
c2 AS (SELECT CAST(sum(n * (n - 1) // 2) AS BIGINT) AS cand FROM
       (SELECT count(*) AS n FROM subcells GROUP BY cid, scid)),
f1 AS (SELECT count(*) AS f FROM cells a JOIN cells b
       ON a.cid = b.cid AND a.vec_id < b.vec_id
       WHERE {_duck_cos('a.embedding', 'b.embedding')} >= {_SEMDEDUP_TAU}),
f2 AS (SELECT count(*) AS f FROM subcells a JOIN subcells b
       ON a.cid = b.cid AND a.scid = b.scid AND a.vec_id < b.vec_id
       WHERE {_duck_cos('a.embedding', 'b.embedding')} >= {_SEMDEDUP_TAU})
SELECT (SELECT count(*) FROM embeddings) AS n_vectors,
       CAST({_TWOLEVEL_EVAL_OCC} AS BIGINT) AS occ,
       (SELECT cand FROM c1) AS cand_pairs_single,
       (SELECT cand FROM c2) AS cand_pairs_two,
       CAST((SELECT f FROM f1) AS BIGINT) AS found_single,
       CAST((SELECT f FROM f2) AS BIGINT) AS found_two,
       round(CASE WHEN (SELECT f FROM f1) > 0 THEN
             CAST((SELECT f FROM f2) AS DOUBLE) / (SELECT f FROM f1)
             END, 6) AS pair_recall,
       round(CASE WHEN (SELECT cand FROM c1) > 0 THEN
             CAST((SELECT cand FROM c2) AS DOUBLE) / (SELECT cand FROM c1)
             END, 6) AS cand_ratio
""", tier=3, section="2.11")
def sim_twolevel_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Self-measuring quality/cost evaluation of the round-9 two-level
    split — the `sim_lsh_recall_eval` discipline applied to the
    semantic-dedup index: build the SAME corpus's single-level (coarse
    cells) and two-level (occ=8, the simulated past-clamp dial) indexes
    and report, in one exact-oracled row, the candidate-pair volumes of
    both, the τ-pairs each finds, and the two ratios that decide the
    trade — ``cand_ratio`` (how much pair work the split deletes) and
    ``pair_recall`` (what fraction of the single-level τ-pairs survive
    sub-cell splitting; a pair is lost only when its two members argmax
    to different sub-centroids — the published SemDeDup cluster-split
    mode, plus — since round 10 — a rank-chunk boundary straddle in a
    re-split hot sub-cell). Measured with the r10 hard envelope:
    cand_ratio 0.58 for pair_recall 0.794 at sf0.01 (E|cell| ~ 15, so
    k2 = 2 — a near-halving for a 21% boundary loss); the reduction
    deepens with |cell|/occ (0.133 at sf0.1), while production occ=256
    loses nothing below the clamp. The op deliberately over-tightens so
    the driver grades the split path end-to-end at every sf.

    Exactness: both pair counts ride the shared fixed-point index
    chain and the shared double cosine; the two ratios are single IEEE
    divides rounded to 6.

    Scale shape: the single-level count IS Σ|cell|² work — acceptable
    for an evaluation op (the production dedup never runs it; this op
    exists to measure the asymptote the family escaped); the two-level
    side is the bounded ~n·occ join. Both counts are
    map-side-combinable aggregates; no windows, nothing driver-sided."""
    e = load(spark, sf_dir, "embeddings")
    occ = _TWOLEVEL_EVAL_OCC
    cells = _ivf_cells_scalable(e).cache()
    sub, subcent = _twolevel_from_cells(cells, occ)
    subcent.unpersist()

    def cand(df, keys):
        n = F.col("n")
        return (df.groupBy(*keys).agg(F.count("*").alias("n"))
                  .agg(F.sum(n * (n - 1) / 2).cast("long").alias("cand")))

    nrm = F.sqrt(_dot(F.col("embedding"), F.col("embedding")))

    def found(df, keys):
        a = df.select(F.col("vec_id").alias("v1"),
                      F.col("embedding").alias("aemb"), *keys,
                      nrm.alias("_na"))
        b = df.select(F.col("vec_id").alias("v2"),
                      F.col("embedding").alias("bemb"), *keys,
                      nrm.alias("_nb"))
        return (a.join(b, list(keys))
                 .where(F.col("v1") < F.col("v2"))
                 .where(_dot(F.col("aemb"), F.col("bemb"))
                        / (F.col("_na") * F.col("_nb"))
                        >= F.lit(_SEMDEDUP_TAU))
                 .agg(F.count("*").alias("f")))
    n1 = e.agg(F.count("*").alias("n_vectors"))
    c1 = cand(cells, ["cid"]).withColumnRenamed("cand", "cand_pairs_single")
    c2 = cand(sub, ["cid", "scid"]).withColumnRenamed("cand",
                                                      "cand_pairs_two")
    f1 = found(cells, ("cid",)).select(
        F.col("f").cast("long").alias("found_single"))
    f2 = found(sub, ("cid", "scid")).select(
        F.col("f").cast("long").alias("found_two"))
    out = (n1.crossJoin(F.broadcast(c1)).crossJoin(F.broadcast(c2))
             .crossJoin(F.broadcast(f1)).crossJoin(F.broadcast(f2))
             .select(
                 "n_vectors",
                 F.lit(occ).cast("long").alias("occ"),
                 "cand_pairs_single", "cand_pairs_two",
                 "found_single", "found_two",
                 F.round(F.when(F.col("found_single") > 0,
                                F.col("found_two").cast("double")
                                / F.col("found_single")), 6)
                  .alias("pair_recall"),
                 F.round(F.when(F.col("cand_pairs_single") > 0,
                                F.col("cand_pairs_two").cast("double")
                                / F.col("cand_pairs_single")), 6)
                  .alias("cand_ratio")))
    # materialize before dropping the index frames the plan reads
    rows = out.collect()
    sub.unpersist()
    cells.unpersist()
    return spark.createDataFrame(rows, out.schema)


# ==========================================================================
# Round-10 third wave (SURVEY.md §2.32)
# ==========================================================================

_RADIUS_TAU = 0.25   # cosine radius (this corpus is isotropic noise —
                     # true neighbors rarely clear 0.3; see sim_lsh_bucketed)
_RADIUS_QMOD = 97    # query slice: vec_id % 97 == 0


@op("sim_lsh_radius_search", oracle=f"""
WITH b AS ({_DUCK_BANDS}),
qb AS (SELECT vec_id AS qid, band, bucket FROM b
       WHERE vec_id % {_RADIUS_QMOD} = 0),
cand AS (
    SELECT qb.qid, b2.vec_id AS nid,
           CAST(count(*) AS BIGINT) AS n_shared_bands
    FROM qb JOIN b b2 ON b2.band = qb.band AND b2.bucket = qb.bucket
                     AND b2.vec_id != qb.qid
    GROUP BY 1, 2
),
u AS (SELECT vec_id, {_DUCK_UNIT.format(e='embedding')} AS ue
      FROM embeddings)
SELECT qid, nid, n_shared_bands, round(score, 6) AS cosine FROM (
    SELECT c.qid, c.nid, c.n_shared_bands,
           {_DUCK_DOT.format(a='u1.ue', b='u2.ue')} AS score
    FROM cand c
    JOIN u u1 ON u1.vec_id = c.qid
    JOIN u u2 ON u2.vec_id = c.nid
) WHERE score >= {_RADIUS_TAU!r}
""", tier=3, section="2.32")
def sim_lsh_radius_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RADIUS (range) search — the missing query shape next to the
    top-k family: for each query vector (the deterministic
    vec_id % 97 slice), return EVERY corpus vector within cosine
    >= 0.25, not the k nearest. Top-k serving answers "give me some
    neighbors"; radius search answers "give me all sufficiently-close
    ones" — the shape dedup sweeps, abuse-cluster expansion and
    recall-critical retrieval actually want (k cuts variable-density
    neighborhoods arbitrarily).

    Candidates come from the shared `_lsh_bands` signatures (OR over 4
    n-adaptive-width hyperplane bands — collision in ANY band), then
    one exact cosine verify per candidate with norms factored out
    before the pair join (`_unit_vectors`). The oracle
    replays the identical plane bank from the portable md5 parity.

    Scale shape: the query side prunes to ~n/97 signatures BEFORE the
    band join, so candidate volume is ~|Q|·(expected bucket mates) —
    linear in the query load at fixed corpus density, independent of
    corpus pair count; the corpus-side signature frame is the SAME one
    `sim_lsh_bucketed` builds (shared `_lsh_bands`), so a serving
    deployment pins it once and every radius query probes it."""
    e = load(spark, sf_dir, "embeddings")
    # The signature frame feeds both the query and corpus legs of the
    # candidate join, and the unit-vector frame feeds both verify legs:
    # localCheckpoint each so the plane-bank projection and the norm
    # map run ONCE per corpus, not once per leg (measured 12 plan scan
    # nodes before; after, two build scans and a scan-free serve
    # plan — the serving deployment would pin these frames, exactly
    # like the bench build/serve split pins `_lsh_bands`). r14: lazy,
    # so the materializations ride the query's first action instead of
    # separate up-front jobs (the _shingles trade).
    bands = (_lsh_bands(e).select("vec_id", "band", "bucket")
             .localCheckpoint(eager=False))
    qb = (bands.filter(F.col("vec_id") % _RADIUS_QMOD == 0)
               .select(F.col("vec_id").alias("qid"), "band", "bucket"))
    cb = bands.select(F.col("vec_id").alias("nid"),
                      F.col("band").alias("band2"),
                      F.col("bucket").alias("bucket2"))
    cand = (qb.join(cb, (F.col("band") == F.col("band2"))
                    & (F.col("bucket") == F.col("bucket2"))
                    & (F.col("qid") != F.col("nid")))
              .groupBy("qid", "nid")
              .agg(F.count("*").alias("n_shared_bands")))
    u = _unit_vectors(e).localCheckpoint(eager=False)
    u1 = u.select(F.col("vec_id").alias("qid"), F.col("ue").alias("ua"))
    u2 = u.select(F.col("vec_id").alias("nid"), F.col("ue").alias("ub"))
    score = _dot(F.col("ua"), F.col("ub"))
    return (cand.join(u1, "qid").join(u2, "nid")
                .filter(score >= _RADIUS_TAU)
                .select("qid", "nid", "n_shared_bands",
                        F.round(score, 6).alias("cosine")))
