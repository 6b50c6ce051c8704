"""Contracts of the single build/merge engine: one ``estimate()`` per
sketch kind on every executor surface, empty input through every spec
kind, and the partial-row shape of the single-sketch API."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from sparksketch.agg import (BloomSpec, BottomKSpec, CMSSpec,
                             CountingBloomSpec, HLLSpec, KLLSpec,
                             LayeredBloomSpec, MinHashSpec, MixKeyBloomSpec,
                             TDigestSpec, build_partials,
                             build_partials_multi, grouped_sketch_segmented,
                             sketch_dataframe, tree_aggregate_multi,
                             with_sketch_estimate)
from sparksketch.hashing import combine_hashes
from sparksketch.shape import Shape, StableShape
from sparksketch.sketches import (BloomFilter, BottomKSketch, CountMinSketch,
                                  CountingBloomFilter, HyperLogLog, KLLSketch,
                                  LayeredBloomFilter, MinHashSketch,
                                  StableBloomFilter, TDigest)
from sparksketch.sketches.bloom import SparseBloomFilter
from sparksketch.sqlfuncs import register_sql_functions

SHAPE = Shape.from_np(1000, 1e-6)
H = np.arange(1, 301, dtype=np.int64) * 0x9E3779B97F4A7C15 % (1 << 62)


def _filled():
    """(sketch, expected estimate) for every kind that has one; the
    expected value is the kind's own count method."""
    bf = BloomFilter(SHAPE)
    bf.add_hashes(H)
    sparse = SparseBloomFilter(SHAPE, bf.as_index_array())
    cbf = CountingBloomFilter(SHAPE)
    cbf.add_hashes(H)
    stable = StableBloomFilter(StableShape.builder(SHAPE).set_max(3).build())
    stable.insert_hashes(H)
    hll = HyperLogLog(10)
    hll.add_hashes(H)
    bk = BottomKSketch(64)
    bk.add_hashes(H)
    kll = KLLSketch(64)
    kll.add_values(H.astype(np.float64))
    td = TDigest(50.0)
    td.add_values(H.astype(np.float64))
    return [(bf, bf.estimate_n()), (sparse, sparse.estimate_n()),
            (cbf, cbf.estimate_n()), (stable, stable.estimate_n()),
            (hll, 300.0), (bk, bk.distinct_estimate()),
            (kll, 300.0), (td, 300.0)]


def _no_estimate():
    cms = CountMinSketch(64, 3)
    cms.add_hashes(H)
    mh = MinHashSketch(16)
    mh.add_hashes(H)
    lay = LayeredBloomFilter(SHAPE)
    lay.add_hashes(np.zeros(H.size, dtype=np.int64), H)
    return [cms, mh, lay]


class TestEstimate:
    def test_per_kind_values(self):
        for sk, want in _filled():
            got = sk.estimate()
            assert isinstance(got, float), type(sk).__name__
            if isinstance(sk, HyperLogLog):
                assert abs(got - want) <= 3 * sk.rel_std_error() * want
            else:
                assert got == want, type(sk).__name__

    def test_kinds_without_one_raise(self):
        for sk in _no_estimate():
            with pytest.raises(TypeError, match="no single estimate"):
                sk.estimate()

    @pytest.mark.spark
    def test_executor_surfaces_agree_with_estimate(self, spark):
        cases = _filled()
        df = spark.createDataFrame(
            [(i, sk.to_bytes()) for i, (sk, _) in enumerate(cases)],
            "i int, sketch binary")
        got = {r.i: r.estimate for r in with_sketch_estimate(df).collect()}
        register_sql_functions(spark)
        df.createOrReplaceTempView("t_est_kinds")
        sql = {r.i: r.e for r in spark.sql(
            "SELECT i, sketch_estimate(sketch) AS e FROM t_est_kinds"
        ).collect()}
        want = {i: sk.estimate() for i, (sk, _) in enumerate(cases)}
        assert got == want
        assert sql == want

    @pytest.mark.spark
    def test_cms_blob_raises_on_executor_surfaces(self, spark):
        df = spark.createDataFrame([(_no_estimate()[0].to_bytes(),)],
                                   "sketch binary")
        with pytest.raises(Exception, match="no single estimate"):
            with_sketch_estimate(df).collect()
        register_sql_functions(spark)
        df.createOrReplaceTempView("t_est_cms")
        with pytest.raises(Exception, match="no single estimate"):
            spark.sql("SELECT sketch_estimate(sketch) FROM t_est_cms"
                      ).collect()


ALL_SPECS = [
    BloomSpec(SHAPE),
    MixKeyBloomSpec(SHAPE),
    CountingBloomSpec(SHAPE),
    CountingBloomSpec(SHAPE, cell_bits=16),
    HLLSpec(p=10),
    CMSSpec(w=1 << 8, d=3),
    KLLSpec(k=64, col="value"),
    TDigestSpec(compression=50.0, col="value"),
    BottomKSpec(k=64),
    BottomKSpec(k=64, col="value"),
    MinHashSpec(n_perm=16),
    LayeredBloomSpec(SHAPE, layer_col="user_id"),
]


@pytest.fixture(scope="module")
def events(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/events.parquet").cache()


@pytest.mark.spark
class TestEmptyInput:
    @pytest.mark.parametrize("spec", ALL_SPECS, ids=lambda s: type(s).__name__)
    def test_sketch_dataframe_over_zero_rows(self, spark, events, spec):
        empty = spec.empty().to_bytes()
        cols = ["user_id", "event_type"]
        # no partitions at all, then four partitions that are all empty
        none = events.limit(0)
        parted = (spark.range(0, 64, 1, 4)
                  .select(F.col("id").alias("user_id"),
                          F.col("id").cast("string").alias("event_type"),
                          F.col("id").cast("double").alias("value"))
                  .filter(F.col("user_id") < 0))
        assert sketch_dataframe(none, spec, cols).to_bytes() == empty
        partials = build_partials(parted, spec, cols).collect()
        assert len(partials) == 4
        assert {(bytes(r.sketch), r.rows) for r in partials} == {(empty, 0)}
        assert sketch_dataframe(parted, spec, cols).to_bytes() == empty

    def test_segmented_over_zero_rows(self, events):
        out = grouped_sketch_segmented(events.filter(F.col("user_id") < 0),
                                       ["event_type"], HLLSpec(p=10),
                                       ["user_id"])
        assert out.columns == ["event_type", "sketch", "rows"]
        assert out.collect() == []

    def test_build_partials_columns(self, events):
        parts = build_partials(events, HLLSpec(p=10), ["user_id"])
        assert parts.columns == ["pid", "sketch", "rows"]


@pytest.mark.spark
def test_mixkey_repeated_column(spark, events):
    """Two batch columns of one spec may share one projected column: the
    composite hash must still see both parts."""
    h = np.array([r.h for r in events.select(
        F.xxhash64("user_id").alias("h")).collect()], dtype=np.int64)
    want = BloomFilter(SHAPE)
    want.add_hashes(combine_hashes(h, h))
    spec = MixKeyBloomSpec(SHAPE)
    cols = ["user_id", "user_id"]
    parts = build_partials_multi(events, {"m": (spec, cols)})
    assert tree_aggregate_multi(parts, ["m"])["m"] == want.to_bytes()
