"""Cache hygiene for iterative operators (VERDICT r1/r2 item: per-round
caches must not accumulate). The connected-components checkpoint budget
lives with the other CC tests in tests/test_cc.py."""
from industry_big_data_time_sequence_process_spark.registry import REGISTRY

from .conftest import SF_SMOKE


def _n_persistent(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


def test_ivf_training_unpersists_intermediates(spark):
    """The k-means loop (sim_ivf_topk) caches one centroid frame per Lloyd
    iteration; each round must unpersist its predecessor. Only the final
    trained-centroid frame may stay cached (the returned assignment plan
    broadcasts it). Without the per-round materialize-then-unpersist the
    unrolled lineage recomputes the whole training chain per reference —
    measured as a >5 min stall at the 10x corpus."""
    before = _n_persistent(spark)
    REGISTRY["sim_ivf_topk"].fn(spark, SF_SMOKE).collect()
    leaked = _n_persistent(spark) - before
    assert leaked <= 1, (
        f"sim_ivf_topk left {leaked} frames cached (allowed: the final "
        f"centroid frame only)")
