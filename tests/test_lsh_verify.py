"""Edge cases of the cosine-verified similarity paths, against their
DuckDB oracles on a 60-vector corpus built to hit them:

- vec 0 has zero norm: its unit vector is undefined, the oracle's
  ``x / 0`` is NULL, so it must be in no pair (a NaN score would pass
  every ``>= τ`` filter, since Spark orders NaN above every double);
  vec 0 is also the radius search's query (``vec_id % 97 == 0``);
- vec 97 is an exact copy of vec 12, so the pair collides in all four
  bands and the radius query 97 finds it;
- the fixture is checked to have a (band, bucket) with one member.
"""
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from industry_big_data_time_sequence_process_spark.operators import (
    similarity as S)
from industry_big_data_time_sequence_process_spark.registry import REGISTRY
from industry_big_data_time_sequence_process_spark.sources.io import (
    TABLES, load)

from .conftest import SF_SMOKE
from .parity import assert_parity

_ZERO, _DUP, _DUP_OF = 0, 97, 12


@pytest.fixture(scope="module")
def edge_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("lsh_edge_sf")
    for t in TABLES:
        if t != "embeddings":
            shutil.copy(f"{SF_SMOKE}/{t}.parquet", d / f"{t}.parquet")
    ids = list(range(59)) + [_DUP]
    E = np.random.default_rng(7).standard_normal((60, 64)).astype(np.float32)
    E[ids.index(_ZERO)] = 0.0
    E[ids.index(_DUP)] = E[ids.index(_DUP_OF)]
    schema = pa.schema([
        ("vec_id", pa.int64()),
        ("embedding", pa.list_(pa.float32())),
        ("label", pa.int32()),
    ])
    pq.write_table(pa.table({"vec_id": ids, "embedding": list(E),
                             "label": [i % 5 for i in ids]}, schema=schema),
                   d / "embeddings.parquet")
    return str(d)


def _embcos_jvm(spark, sf_dir):
    return S._embcos_pairs_jvm(load(spark, sf_dir, "embeddings"))


@pytest.mark.smoke
def test_fixture_hits_the_edge_cases(spark, edge_dir):
    b = S._lsh_bands(load(spark, edge_dir, "embeddings"))
    sizes = b.groupBy("band", "bucket").count()
    assert sizes.filter("count = 1").count() > 0, "no single-member bucket"
    zero = b.filter(F.col("vec_id") == _ZERO).select("band", "bucket")
    mates = b.join(zero, ["band", "bucket"]).filter(
        F.col("vec_id") != _ZERO)
    assert mates.count() > 0, "zero-norm vector shares no bucket"


@pytest.mark.smoke
@pytest.mark.parametrize("key,fn", [
    ("sim_lsh_bucketed", None),
    ("sim_lsh_radius_search", None),
    ("dedup_embedding_cosine", None),
    ("dedup_embedding_cosine", _embcos_jvm),
], ids=["sim_lsh_bucketed", "sim_lsh_radius_search",
        "dedup_embedding_cosine", "_embcos_pairs_jvm"])
def test_edge_corpus_parity(spark, edge_dir, key, fn):
    o = REGISTRY[key]
    assert_parity(spark, fn or o.fn, o.oracle, edge_dir, key=key)


@pytest.mark.smoke
def test_duplicate_pair_shares_every_band(spark, edge_dir):
    rows = REGISTRY["sim_lsh_bucketed"].fn(spark, edge_dir).filter(
        (F.col("vec1") == _DUP_OF) & (F.col("vec2") == _DUP)).collect()
    assert [(r["n_shared_bands"], r["cosine"]) for r in rows] == [
        (S._LSH_BANDS, 1.0)]


@pytest.mark.smoke
def test_chunked_scoring_equals_unchunked(spark, edge_dir, monkeypatch):
    """A tiny cell cap splits every multi-member bucket (and the 60-row
    all-pairs bank) into many row chunks; the rows must not change."""
    keys = ["sim_lsh_bucketed", "dedup_embedding_cosine"]
    whole = {k: sorted(REGISTRY[k].fn(spark, edge_dir).collect())
             for k in keys}
    monkeypatch.setattr(S, "_MAX_CELLS", 10)
    for k in keys:
        got = sorted(REGISTRY[k].fn(spark, edge_dir).collect())
        assert len(got) > 0 and got == whole[k], k
