"""Session memo (sdp_spark.memo): every memoized builder re-derives after an
in-place rewrite of a table its build read, unpersist_all releases every
DataFrame entry, and a forced ANN rebuild releases what it replaces."""

from __future__ import annotations

import os
import shutil
from collections import Counter

import numpy as np
import pyarrow.parquet as pq
import pytest
from pyspark.sql import DataFrame, Row

import sdp_spark
from sdp_spark import memo
from sdp_spark.operators import analytics, corpus, fulltext
from sdp_spark.operators import llm as L

# (builder, params) for every @memo builder in the operator modules
CASES = [
    (L._emb_normed, ()),
    (L._emb_count, ()),
    (L._cached_shingles, ()),
    (L._cached_signatures, ()),
    (L._cached_clusters, ()),
    (L._collapse_dense, ()),
    (L._cached_capped, ()),
    (L._propagate_labels, ()),
    (L._kmeans_fit, ()),
    (L._pq_codebooks, ()),
    (L._ivfpq_model, ()),
    (L._spherical_cells, (8,)),
    (L._knng_assigned, ()),
    (L._vec_groups, ()),
    (L._vec_dup_dense, ()),
    (L._ivf_knn_edges, ()),
    (L._nsw_und_edges, ()),
    (analytics.events_daily, ()),
    (corpus._cached_grams, ()),
    (corpus._emb_clusters, ()),
    (corpus._emb_collapse_dense, ()),
    (corpus._pca_fit, ()),
    (fulltext._cached_tf, ()),
]


def _is_memo_builder(obj) -> bool:
    return getattr(obj, "__code__", None) is memo.memo(lambda spark, sf_dir: None).__code__


def test_cases_cover_every_memo_builder():
    found = {
        f
        for mod in (L, analytics, corpus, fulltext)
        for f in vars(mod).values()
        if _is_memo_builder(f)
    }
    assert found == {b for b, _ in CASES}


def _freeze(x):
    if isinstance(x, (list, tuple, Row)):
        return tuple(_freeze(v) for v in x)
    return x


def _same(a, b) -> bool:
    if isinstance(a, DataFrame):
        return Counter(map(_freeze, a.collect())) == Counter(map(_freeze, b.collect()))
    if isinstance(a, (bool, int)):
        return a == b
    if isinstance(a, tuple):
        return len(a) == len(b) and all(_same(x, y) for x, y in zip(a, b))
    return np.shape(a) == np.shape(b) and np.allclose(a, b)


def _copy_fixture(src: str, dst: str) -> str:
    os.makedirs(dst)
    for f in os.listdir(src):
        shutil.copyfile(os.path.join(src, f), os.path.join(dst, f))
    return dst


@pytest.mark.parametrize(
    "builder, params", CASES, ids=[b.__name__ for b, _ in CASES]
)
def test_memo_rederives_after_in_place_rewrite(spark, sf_dir, tmp_path, builder, params):
    """Rewrite (halve) every table the build recorded, in place: the memoized
    result must then equal a fresh, un-memoized build."""
    sf = _copy_fixture(sf_dir, str(tmp_path / "sf"))
    with memo.recording() as reads:
        first = builder(spark, sf, *params)
    if isinstance(first, DataFrame):
        first.count()  # materialized, a stale hit would serve the old rows
    assert reads, "the build recorded no fixture table"
    for d, name in reads:
        path = os.path.join(d, f"{name}.parquet")
        t = pq.read_table(path)
        pq.write_table(t.slice(0, t.num_rows // 2), path)
    got = builder(spark, sf, *params)
    # the reference reads a copy of the rewritten tables: a new sf_dir, so
    # the builders nested in it cannot hit entries of the old tables either
    fresh = _copy_fixture(sf, str(tmp_path / "fresh"))
    want = builder.__wrapped__(spark, fresh, *params)
    assert _same(got, want)
    if isinstance(want, DataFrame):
        memo.release(want)


def test_unpersist_all_releases_every_dataframe_memo(spark, sf_dir):
    """Builds (and their loop checkpoints) leave nothing persisted that
    unpersist_all does not release. Compared as RDD ids: RDDs leaked by
    earlier tests may be garbage-collected meanwhile."""
    sdp_spark.unpersist_all()
    jsc = spark.sparkContext._jsc
    start = set(jsc.getPersistentRDDs().keys())
    n_df = 0
    for builder, params in CASES:
        out = builder(spark, sf_dir, *params)
        if isinstance(out, DataFrame):
            out.count()
            n_df += 1
    assert set(jsc.getPersistentRDDs().keys()) - start
    assert sdp_spark.unpersist_all() == n_df
    assert not set(jsc.getPersistentRDDs().keys()) - start


def test_ann_force_rebuild_leaves_no_extra_persisted_rdds(spark, sf_dir):
    jsc = spark.sparkContext._jsc
    L.ann_index_build(spark, sf_dir, force=True)
    one = len(jsc.getPersistentRDDs())
    L.ann_index_build(spark, sf_dir, force=True)
    assert len(jsc.getPersistentRDDs()) <= one
