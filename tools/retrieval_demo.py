"""End-to-end vector-retrieval demo: the ANN serving composition story.

``pipeline_demo.py`` shows the training-data (dedup/filter/split) side;
this script composes the SEARCH side from the same graded machinery into
the standard billion-vector serving architecture (Jégou et al. 2011):

  1. INDEX BUILD: capped-sample-trained IVF coarse quantizer
     (``sim_ivf_scalable_topk``'s trainer — constant training cost at any
     corpus size) assigns every vector to a cell; PQ codes
     (``sim_pq_topk``'s trained codebooks — 16 subspaces x 64 codewords
     = 12 bytes/vector) compress the corpus ~21x.
  2. SERVE: each query searches only its nearest cell (IVF cut), ranks
     the cell's candidates by PQ asymmetric distance (table lookup, no
     float vector math), keeps the top ``RERANK`` and re-ranks those few
     with exact cosine — the cheap-coarse / cheap-fine / exact-tail
     cascade every production ANN system runs.
  3. EVAL: recall@5 of the cascade vs brute-force truth, plus per-stage
     candidate counts — the honesty numbers an index must ship.

At 100 TB only the constants change: cells and codebooks stay broadcast,
the corpus is touched once for index build (narrow + one argmin shuffle),
and serving reads one cell per query.

Usage:  python tools/retrieval_demo.py [sf_dir]
        (default /root/testdata/sf0.01)
"""
from __future__ import annotations

import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from pyspark.sql import DataFrame, functions as F  # noqa: E402
from pyspark.sql.window import Window  # noqa: E402

from industry_big_data_time_sequence_process_spark.operators.similarity import (  # noqa: E402
    _cos, _ivf_cells_scalable, _pq_codebook, _pq_codes, _pq_dtab_frame,
)
from industry_big_data_time_sequence_process_spark.session import get_session  # noqa: E402
from industry_big_data_time_sequence_process_spark.sources.io import load  # noqa: E402

N_QUERIES = 16
RERANK = 20   # exact-cosine tail size per query


def build_index(e: DataFrame) -> tuple[DataFrame, DataFrame, DataFrame]:
    """(cells, codebook, codes): the IVF assignment and PQ compression —
    one corpus pass each, both quantizers trained at capped cost."""
    cells = _ivf_cells_scalable(e).select("vec_id", "cid")
    cb = _pq_codebook(e)
    return cells, cb.frame, _pq_codes(e, cb)


def serve_cascade(e: DataFrame, cells: DataFrame, cb: DataFrame,
                  codes: DataFrame, n_queries: int = N_QUERIES,
                  rerank: int = RERANK) -> tuple[DataFrame, DataFrame]:
    """(top5, candidates): the IVF-cut -> PQ-rank -> exact-tail cascade.
    ``candidates`` is returned for stage-size reporting."""
    q = e.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("q_vec_id"), F.col("embedding").alias("qemb"))
    qcells = q.join(cells.withColumnRenamed("vec_id", "q_vec_id"),
                    "q_vec_id").select("q_vec_id", "qemb", "cid")
    cand = (qcells.join(cells, "cid")
                  .filter(F.col("q_vec_id") != F.col("vec_id"))
                  .select("q_vec_id", "qemb", "vec_id"))

    dtab = _pq_dtab_frame(q, cb).withColumnRenamed("q_vec_id", "d_q")
    pq_scored = (cand.join(codes, "vec_id")
                     .join(F.broadcast(dtab),
                           (F.col("m") == F.col("qm"))
                           & (F.col("code") == F.col("k"))
                           & (F.col("q_vec_id") == F.col("d_q")))
                     .groupBy("q_vec_id", "vec_id")
                     .agg(F.sum("dfx").alias("adfx")))
    w_pq = Window.partitionBy("q_vec_id").orderBy("adfx", "vec_id")
    shortlist = (pq_scored.withColumn("r", F.row_number().over(w_pq))
                          .filter(F.col("r") <= rerank)
                          .select("q_vec_id", "vec_id"))
    exact = (shortlist
             .join(q, "q_vec_id")
             .join(e.select(F.col("vec_id"),
                            F.col("embedding").alias("cemb")), "vec_id")
             .withColumn("score", _cos(F.col("qemb"), F.col("cemb"))))
    w_x = Window.partitionBy("q_vec_id").orderBy(F.col("score").desc(),
                                                 "vec_id")
    top5 = (exact.withColumn("rnk", F.row_number().over(w_x))
                 .filter("rnk <= 5")
                 .select("q_vec_id", "vec_id", "rnk"))
    return top5, cand


def brute_truth(e: DataFrame, n_queries: int = N_QUERIES) -> DataFrame:
    """Exact cosine top-5 per query — the eval yardstick (fixed-sample
    cost at any corpus size)."""
    q = e.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("q_vec_id"), F.col("embedding").alias("qemb"))
    c_all = e.select(F.col("vec_id").alias("t_vec_id"),
                     F.col("embedding").alias("cemb"))
    w_t = Window.partitionBy("q_vec_id").orderBy(F.col("s").desc(),
                                                 "t_vec_id")
    return (F.broadcast(q).crossJoin(c_all)
             .filter(F.col("q_vec_id") != F.col("t_vec_id"))
             .withColumn("s", _cos(F.col("qemb"), F.col("cemb")))
             .withColumn("rnk", F.row_number().over(w_t))
             .filter("rnk <= 5")
             .select("q_vec_id", F.col("t_vec_id").alias("vec_id")))


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    spark = get_session()
    e = load(spark, sf_dir, "embeddings")

    t0 = time.time()
    cells, cb, codes = build_index(e)
    cells, codes = cells.cache(), codes.cache()
    n_vec = cells.count()
    codes.count()
    t_build = time.time() - t0

    t0 = time.time()
    top5, cand = serve_cascade(e, cells, cb, codes)
    top5 = top5.cache()
    n_cand = cand.count()
    n_served = top5.count()
    t_serve = time.time() - t0

    t0 = time.time()
    hits = brute_truth(e).join(top5.select("q_vec_id", "vec_id"),
                               ["q_vec_id", "vec_id"]).count()
    recall = hits / (N_QUERIES * 5)
    t_eval = time.time() - t0

    print(f"corpus={n_vec} queries={N_QUERIES} "
          f"ivf_candidates={n_cand} (avg {n_cand / N_QUERIES:.0f}/query) "
          f"served={n_served}")
    print(f"build={t_build:.1f}s serve={t_serve:.1f}s eval={t_eval:.1f}s "
          f"recall@5={recall:.3f}")
    cells.unpersist(); codes.unpersist(); top5.unpersist()


if __name__ == "__main__":
    main()
