"""Connected components (`cc.py`): the "label every node with its
component's minimum id" contract of the near-duplicate family.

- `min_label_cc` and `cc_star` against a Python union-find on hand-built
  edge lists (two components, duplicate and reversed edges, self-loops,
  the V shape), and a 15-node path that the min-label cap refuses while
  the star algorithm resolves it;
- the registered ops on a planted 13-doc chain (diameter 12):
  `dedup_cluster_cc` fails loudly, `dedup_cluster_cc_star` answers, and
  the two agree wherever both converge (both families);
- `pipeline.near_dedup` on a 3-doc V whose verified pairs are (1,3) and
  (2,3): labels must propagate along both directions of every edge;
- the checkpoint budget of the bounded-round loop.
"""
import pytest
from pyspark.sql import functions as F

from industry_big_data_time_sequence_process_spark.cc import (
    cc_star, min_label_cc,
)
from industry_big_data_time_sequence_process_spark.operators.pipeline import (  # noqa: E501
    near_dedup,
)
from industry_big_data_time_sequence_process_spark.operators.text import (
    _minhash_bands, _minhash_pairs, _shingles,
)
from industry_big_data_time_sequence_process_spark.registry import REGISTRY
from industry_big_data_time_sequence_process_spark.sources.io import SCHEMAS

from .conftest import SF_SMOKE, SF_T2
from .test_wave_r10b import _corpus

# ---------------------------------------------------------------------------
# the two algorithms on hand-built edge lists
# ---------------------------------------------------------------------------


def _union_find(edges):
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}


def _labels(frame):
    return {r["node"]: r["lbl"] for r in frame.collect()}


EDGE_LISTS = {
    # {1,2,3} and {10,11}
    "two_components": [(1, 2), (2, 3), (10, 11)],
    # the same edge twice, reversed, and self-loops (one isolated: 7)
    "dup_reversed_selfloop": [(5, 4), (4, 5), (4, 5), (6, 5), (5, 5),
                              (7, 7), (6, 6)],
    # the V: 1 and 2 meet only through 3, and 2 is never a smaller end
    "v_shape": [(1, 3), (2, 3)],
    "v_shape_reversed": [(3, 1), (3, 2)],
}


@pytest.mark.parametrize("name", sorted(EDGE_LISTS))
def test_cc_algorithms_equal_union_find(spark, name):
    edges = EDGE_LISTS[name]
    df = spark.createDataFrame(edges, "a long, b long")
    want = _union_find(edges)
    assert _labels(min_label_cc(df)) == want
    assert _labels(cc_star(df)) == want


def test_min_label_cap_refuses_long_path_star_resolves(spark):
    """A 15-node path has diameter 14: past the min-label cap (the
    join-free first round plus 10 rounds resolve diameter <= 10), so
    `min_label_cc` must raise, while `cc_star` labels every node 0."""
    df = spark.createDataFrame([(i, i + 1) for i in range(14)],
                               "a long, b long")
    with pytest.raises(RuntimeError, match="fixpoint"):
        min_label_cc(df)
    assert _labels(cc_star(df)) == {i: 0 for i in range(15)}


# ---------------------------------------------------------------------------
# large-star/small-star CC on the registered ops (round 11, §2.37)
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def chain_corpus(tmp_path_factory):
    """13 docs in a sliding-overlap CHAIN: doc_i = 16 unique tokens
    starting at 4(i-1), so adjacent docs share 12 tokens (3-gram
    jaccard 10/18 ~ 0.56 >= 0.5 -> edge) while skip-2 docs share 8
    (6/22 ~ 0.27 < 0.5 -> no edge). One component of diameter 12 —
    past the bounded-round cap of 10."""
    toks = [f"t{i:02d}" for i in range(64)]
    texts = [" ".join(toks[4 * i:4 * i + 16]) for i in range(13)]
    docs = {"doc_id": list(range(1, 14)), "text": texts,
            "lang": ["en"] * 13, "source": ["s"] * 13,
            "n_chars": [len(t) for t in texts]}
    return _corpus(tmp_path_factory, "chain_corpus", documents=docs)


def test_minlabel_cc_refuses_high_diameter_chain(spark, chain_corpus):
    """The bounded-round op's documented behavior (ADVICE r9): a
    component with diameter > 10 fails LOUDLY instead of returning
    wrong labels."""
    with pytest.raises(RuntimeError, match="fixpoint"):
        REGISTRY["dedup_cluster_cc"].fn(spark, chain_corpus).collect()


def test_star_cc_resolves_high_diameter_chain(spark, chain_corpus):
    """The star twin answers the corpus the bounded-round path refuses:
    all 13 docs in one component, labeled by the min doc_id."""
    rows = REGISTRY["dedup_cluster_cc_star"].fn(spark, chain_corpus) \
        .collect()
    assert sorted(r["doc_id"] for r in rows) == list(range(1, 14))
    assert all(r["cluster_id"] == 1 for r in rows)


def test_star_cc_value_equals_minlabel(spark):
    """On every corpus where the bounded-round path converges, the star
    path is value-identical — both families."""
    a = sorted(tuple(r) for r in
               REGISTRY["dedup_cluster_cc"].fn(spark, SF_T2).collect())
    b = sorted(tuple(r) for r in
               REGISTRY["dedup_cluster_cc_star"].fn(spark, SF_T2)
               .collect())
    assert a == b and len(a) > 0
    c = sorted(tuple(r) for r in
               REGISTRY["dedup_semantic_cluster_cc"].fn(spark, SF_T2)
               .collect())
    d = sorted(tuple(r) for r in
               REGISTRY["dedup_semantic_cluster_cc_star"].fn(spark, SF_T2)
               .collect())
    assert c == d and len(c) > 0


# ---------------------------------------------------------------------------
# pipeline near-dedup: propagation along both edge directions
# ---------------------------------------------------------------------------


def test_near_dedup_propagates_both_directions(spark):
    """The V: doc 1 = words 0-27, doc 3 = words 5-32, doc 2 = words
    10-37 of a 400-word vocabulary. 3-gram jaccard is 21/31 for (1,3)
    and (2,3) but 16/36 for (1,2), so the verified pairs are exactly
    (1,3) and (2,3). All three docs are one cluster labeled 1; every doc
    has the same length, so only doc 1 survives. A propagation that only
    runs from the smaller to the larger id never relabels doc 2 (it is
    never the larger end of an edge) and keeps [1, 2]."""
    vocab = [f"w{i:03d}" for i in range(400)]
    texts = {1: vocab[0:28], 3: vocab[5:33], 2: vocab[10:38]}
    d = spark.createDataFrame(
        [(i, " ".join(w), "en", "s", len(" ".join(w)))
         for i, w in sorted(texts.items())], SCHEMAS["documents"])
    tok = _shingles(d).withColumnRenamed("s", "token")
    pairs = sorted((r["doc1"], r["doc2"]) for r in
                   _minhash_pairs(tok, _minhash_bands(tok)).collect())
    assert pairs == [(1, 3), (2, 3)]
    kept = sorted(r["doc_id"] for r in near_dedup(d).select(
        F.col("doc_id")).collect())
    assert kept == [1]


# ---------------------------------------------------------------------------
# checkpoint budget of the bounded-round loop
# ---------------------------------------------------------------------------


def _n_persistent(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


def test_cluster_cc_checkpoint_budget_is_round_bounded(spark):
    """``min_label_cc`` localCheckpoints per round instead of
    cache/unpersist: cache materializes execution but NOT the plan tree,
    and a graph that used the full round budget died stringifying ~10
    compounded copies of the jaccard lineage. A localCheckpointed
    frame's blocks ARE its data (lineage is truncated), so unpersisting
    intermediates by hand would corrupt recomputation; the blocks
    release via the ContextCleaner when the frame's references drop.
    The hygiene bound is therefore "bounded by the round cap": edges +
    first labels + one labels frame per executed round — each
    labels-sized, never lineage-compounding."""
    before = _n_persistent(spark)
    REGISTRY["dedup_cluster_cc"].fn(spark, SF_SMOKE).collect()
    leaked = _n_persistent(spark) - before
    # edges + first labels + 10-round cap (dup graphs converge in ~2
    # rounds on this corpus, so the observed value is ~4; the bound is
    # the CAP so a pathological-but-legal budget run can't flake)
    assert leaked <= 12, (
        f"dedup_cluster_cc left {leaked} checkpointed frames — more than "
        f"the edges + first labels + 10-round budget; the bounded-round "
        f"discipline regressed")
