"""Round-5 fixes under test: wire-version gate for the probe-hash scheme
change (ADVICE r04 medium), length-framed sample_hash (ADVICE r04),
structural expr dedup in build_partials_multi (ADVICE r04), hot-bucket
bounding for band/bucket joins (VERDICT r04 #6), OR-amplified embedding
LSH (VERDICT r04 #4), and the H.264 SPS layer (VERDICT r04 #5) plus the
mp4 extent/stss validation (ADVICE r04)."""

import struct

import numpy as np
import pytest
from pyspark.sql import functions as F


# -- wire version gate --------------------------------------------------------

class TestWireVersionGate:
    def test_v2_roundtrip(self):
        from sparksketch.shape import Shape
        from sparksketch.sketches import BloomFilter, sketch_from_bytes
        bf = BloomFilter(Shape.from_np(100, 1e-6))
        bf.add_hashes(np.arange(10, dtype=np.int64))
        got = sketch_from_bytes(bf.to_bytes())
        assert got.to_bytes() == bf.to_bytes()

    def test_header_records_scheme(self):
        from sparksketch.sketches.base import (HASH_SCHEME_SPLITMIX_REMIX,
                                               VERSION, pack_header)
        hdr = pack_header(1)
        magic, ver, kind, flags = struct.unpack("<4sBBH", hdr)
        assert magic == b"SKS1" and ver == VERSION == 2
        assert flags & 0xFF == HASH_SCHEME_SPLITMIX_REMIX

    def test_v1_blob_rejected_loudly(self):
        """A round-3-era blob (version 1, flags 0) decoded fine but
        probed with the wrong EDH sequence — it must now fail loudly."""
        from sparksketch.shape import Shape
        from sparksketch.sketches import BloomFilter, sketch_from_bytes
        bf = BloomFilter(Shape.from_np(100, 1e-6))
        blob = bytearray(bf.to_bytes())
        blob[4] = 1  # version byte
        blob[6:8] = b"\x00\x00"  # flags
        with pytest.raises(ValueError, match="wire-version 1.*Re-build"):
            sketch_from_bytes(bytes(blob))

    def test_unknown_scheme_rejected(self):
        from sparksketch.shape import Shape
        from sparksketch.sketches import BloomFilter, sketch_from_bytes
        bf = BloomFilter(Shape.from_np(100, 1e-6))
        blob = bytearray(bf.to_bytes())
        blob[6] = 99  # flags low byte = bogus scheme id
        with pytest.raises(ValueError, match="probe-hash scheme"):
            sketch_from_bytes(bytes(blob))


# -- length-framed sample hash ------------------------------------------------

class TestSampleHashFraming:
    def _hashes(self, spark, rows, cols, schema):
        from sparksketch.sampling import sample_hash
        df = spark.createDataFrame(rows, schema)
        return [r.h for r in
                df.select(sample_hash(cols, "s").alias("h")).collect()]

    def test_null_distinct_from_missing(self, spark):
        """('a', NULL) must hash differently from ('a',) — concat_ws
        skipped NULLs and made them collide."""
        from sparksketch.sampling import sample_hash
        df = spark.createDataFrame([("a", None)], "x string, y string")
        one = df.select(sample_hash(["x"], "s").alias("h")).first().h
        two = df.select(sample_hash(["x", "y"], "s").alias("h")).first().h
        assert one != two

    def test_delimiter_injection_distinct(self, spark):
        """('a:b',) vs ('a','b') and ('a','b:c') vs ('a:b','c') must all
        differ — the old ':' join made them collide."""
        h1 = self._hashes(spark, [("a:b",)], ["x"], "x string")[0]
        h2 = self._hashes(spark, [("a", "b")], ["x", "y"],
                          "x string, y string")[0]
        h3 = self._hashes(spark, [("a", "b:c")], ["x", "y"],
                          "x string, y string")[0]
        h4 = self._hashes(spark, [("a:b", "c")], ["x", "y"],
                          "x string, y string")[0]
        assert len({h1, h2, h3, h4}) == 4

    def test_framing_prefix_ambiguity(self, spark):
        """Length-framing must keep ('1#a', 'b') and ('1', '#ab')-style
        reassemblies apart (prefix-free property)."""
        h1 = self._hashes(spark, [("1#a", "b")], ["x", "y"],
                          "x string, y string")[0]
        h2 = self._hashes(spark, [("1", "#ab")], ["x", "y"],
                          "x string, y string")[0]
        assert h1 != h2

    def test_sql_rendering_matches_spark(self, spark):
        """sample_hash_sql through DuckDB == sample_hash through Spark,
        including NULL and ':'-bearing values."""
        import duckdb
        from sparksketch.sampling import sample_hash, sample_hash_sql
        rows = [("a", "b"), ("a:b", None), (None, None), ("", "x")]
        df = spark.createDataFrame(rows, "x string, y string")
        got = sorted(r.h for r in df.select(
            sample_hash(["x", "y"], "salt").alias("h")).collect())
        con = duckdb.connect()
        con.sql("CREATE TABLE t (x VARCHAR, y VARCHAR)")
        con.executemany("INSERT INTO t VALUES (?, ?)", rows)
        want = sorted(r[0] for r in con.sql(
            "SELECT " + sample_hash_sql(["x", "y"], "salt")
            + " FROM t").fetchall())
        assert got == want


# -- structural expr dedup ----------------------------------------------------

class TestStructuralExprDedup:
    def test_shared_hash_column_dedupes(self, spark):
        """Two specs keyed on the same cols share ONE projected column;
        a spec NAME containing ' AS ' must not confuse the dedup (the
        old str(_jc) rpartition(' AS ') did)."""
        from sparksketch.agg import (HLLSpec, KLLSpec,
                                     build_partials_multi,
                                     tree_aggregate_multi)
        from sparksketch.sketches import sketch_from_bytes
        df = spark.range(0, 1000, 1, 4).select(
            F.concat(F.lit("c"), (F.col("id") % 50).cast("string"))
            .alias("conv_id"),
            (F.col("id") % 7).cast("double").alias("turn_idx"))
        specs = {
            "hll AS weird": (HLLSpec(p=12), ["conv_id"]),
            "hll2": (HLLSpec(p=12), ["conv_id"]),
            "kll": (KLLSpec(k=200, col="turn_idx"), ["conv_id"]),
        }
        partials = build_partials_multi(df, specs)
        # 3 specs, but only 2 distinct prepared exprs (shared hash +
        # kll's value column): pid/rows + 3 binary outputs
        blobs = tree_aggregate_multi(partials, list(specs), est_parts=4)
        a = sketch_from_bytes(blobs["hll AS weird"])
        b = sketch_from_bytes(blobs["hll2"])
        assert a.to_bytes() == b.to_bytes()
        assert abs(a.estimate() - 50) / 50 < 0.15

    def test_prepared_projection_is_deduped(self, spark):
        from sparksketch.agg import HLLSpec, CMSSpec
        specs = {
            "a": (HLLSpec(p=12), ["x"]),
            "b": (CMSSpec(w=1 << 10, d=2), ["x"]),
            "c": (HLLSpec(p=12), ["y"]),
        }
        keys = set()
        for name, (spec, cols) in specs.items():
            for bc, key, _ in spec.prepare_keyed_exprs(cols,
                                                       prefix=f"{name}__"):
                keys.add(key)
        assert len(keys) == 2  # xxhash64(x) shared by a+b, xxhash64(y)


# -- hot-bucket bounding ------------------------------------------------------

class TestBucketBounding:
    def test_skewed_bucket_is_split(self, spark):
        from sparksketch.dedup import with_bucket_sub
        # 1000 rows in one pathological bucket, 20 elsewhere
        df = spark.range(0, 1020, 1, 4).select(
            F.col("id").alias("vid"),
            F.when(F.col("id") < 1000, F.lit(7)).otherwise(F.col("id"))
            .alias("bucket"))
        out = with_bucket_sub(df, ["bucket"], "vid", max_bucket_rows=100)
        sizes = (out.groupBy("bucket", "sub").count()
                 .agg(F.max("count")).first()[0])
        # expected ~100/sub; hash imbalance tolerated up to 2x the cap
        assert sizes <= 200
        n_subs = (out.filter(F.col("bucket") == 7)
                  .select("sub").distinct().count())
        assert n_subs == 10
        # pair count per (bucket, sub) is bounded ~ cap^2/2, vs 1000^2/2
        assert (out.filter(F.col("bucket") != 7)
                .select("sub").distinct().collect()[0][0] == 0)

    def test_none_keeps_exact_contract(self, spark):
        from sparksketch.dedup import with_bucket_sub
        df = spark.range(0, 50).select(F.col("id").alias("vid"),
                                       F.lit(1).alias("bucket"))
        out = with_bucket_sub(df, ["bucket"], "vid", None)
        assert out.select("sub").distinct().collect()[0][0] == 0

    def test_simhash_bounded_still_finds_exact_dups(self, spark):
        """Identical texts share ALL band keys, so even with bucket
        splitting they stay co-bucketed (same id-hash is impossible, but
        a pair lost in one band's split can collide in another band —
        for identical texts every band collides, and the split only
        separates a pair if the secondary hash differs in EVERY band's
        bucket, which the bands' shared (band,key) makes unlikely;
        assert the planted heavy dup group still yields pairs)."""
        from sparksketch.dedup import simhash_near_dups
        rows = [(i, "the same boilerplate text repeated") for i in range(60)]
        rows += [(100 + i, f"unique text number {i} payload") for i in range(20)]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        pairs = simhash_near_dups(df, "doc_id", max_hamming=3,
                                  max_bucket_rows=25)
        got = pairs.count()
        assert got > 0  # bounded join still surfaces the dup cluster


# -- OR-amplified embedding LSH ----------------------------------------------

class TestEmbeddingLSH:
    def _corpus(self, spark, n=120, dim=32, seed=7):
        rng = np.random.default_rng(seed)
        vecs = rng.standard_normal((n, dim))
        rows = [(i, [float(x) for x in vecs[i]]) for i in range(n)]
        return (spark.createDataFrame(rows,
                                      "vec_id bigint, embedding array<double>"),
                vecs)

    @staticmethod
    def _plant(vecs, i, j_seed, c):
        u = vecs[i] / np.linalg.norm(vecs[i])
        rng = np.random.default_rng(j_seed)
        z = rng.standard_normal(len(u))
        z -= (z @ u) * u
        z /= np.linalg.norm(z)
        return c * u + np.sqrt(1 - c * c) * z

    def test_threshold_adjacent_recall(self, spark):
        """Pairs at cosine 0.951-0.958 must ALL be found with 16 bands —
        the regime where a single band has only ~0.45 collision
        probability (round-4 VERDICT #4)."""
        from sparksketch.dedup import embedding_near_dups
        df, vecs = self._corpus(spark)
        planted = []
        targets = [0.951, 0.9525, 0.954, 0.9555, 0.957]
        for i, c in enumerate(targets):
            w = self._plant(vecs, i, 1000 + i, c)
            planted.append((1000 + i, [float(x) for x in w]))
        allv = df.unionByName(spark.createDataFrame(
            planted, "vec_id bigint, embedding array<double>"))
        got = embedding_near_dups(allv, threshold=0.95, n_planes=8,
                                  n_bands=16)
        pairs = {(r.id_a, r.id_b) for r in got.collect()}
        assert {(i, 1000 + i) for i in range(5)} <= pairs

    def test_single_band_misses_some(self, spark):
        """The round-4 defect, demonstrated: with ONE band the same
        fixture loses threshold-adjacent pairs (expected recall ~0.45 per
        pair; with 12 planted pairs, P[all found] < 0.01%%)."""
        from sparksketch.dedup import embedding_near_dups
        df, vecs = self._corpus(spark)
        planted = []
        for i in range(12):
            w = self._plant(vecs, i, 2000 + i, 0.952)
            planted.append((2000 + i, [float(x) for x in w]))
        allv = df.unionByName(spark.createDataFrame(
            planted, "vec_id bigint, embedding array<double>"))
        got = embedding_near_dups(allv, threshold=0.95, n_planes=8,
                                  n_bands=1)
        pairs = {(r.id_a, r.id_b) for r in got.collect()}
        missed = {(i, 2000 + i) for i in range(12)} - pairs
        assert missed  # single band demonstrably loses recall here

    def test_pair_scored_once(self, spark):
        """A pair colliding in many bands must appear once (dedup before
        the exact-cosine verify)."""
        from sparksketch.dedup import embedding_near_dups
        df, vecs = self._corpus(spark, n=30)
        dup = [(999, [float(x) for x in vecs[0] * 2.0])]
        allv = df.unionByName(spark.createDataFrame(
            dup, "vec_id bigint, embedding array<double>"))
        got = embedding_near_dups(allv, threshold=0.99, n_planes=8,
                                  n_bands=16).collect()
        assert [(r.id_a, r.id_b) for r in got] == [(0, 999)]


# -- H.264 SPS layer ----------------------------------------------------------

class TestSpsLayer:
    DIMS = [(16, 16), (160, 96), (158, 94), (354, 266), (1920, 1080),
            (640, 358), (3840, 2160), (18, 10)]

    def test_encode_parse_roundtrip_matrix(self):
        from sparksketch.mp4 import encode_sps, parse_sps
        for (w, h) in self.DIMS:
            for fps in (None, 10.0, 29.5):
                info = parse_sps(encode_sps(w, h, fps=fps))
                assert (info["width"], info["height"]) == (w, h)
                if fps is None:
                    assert info["fps"] is None
                else:
                    assert abs(info["fps"] - fps) < 1e-9
                assert info["profile_idc"] == 66

    def test_emulation_prevention_roundtrip(self):
        """An SPS whose raw RBSP contains 00 00 0x runs must round-trip
        through the escape/unescape pair."""
        from sparksketch.mp4 import _BitWriter, _unescape_rbsp
        w = _BitWriter()
        w.u(0, 22)  # force a 00 00 0... pattern
        w.u(1, 1)
        w.u(0, 30)
        w.u(5, 8)
        esc = w.rbsp()
        assert b"\x00\x00\x03" in esc  # escaping actually engaged
        # recompute the expected RAW rbsp (same bits + stop bit + pad)
        bits = [0] * 22 + [1] + [0] * 30 + [0, 0, 0, 0, 0, 1, 0, 1] + [1]
        while len(bits) % 8:
            bits.append(0)
        want = bytes(sum(b << (7 - i) for i, b in enumerate(bits[o:o + 8]))
                     for o in range(0, len(bits), 8))
        assert _unescape_rbsp(esc) == want

    def test_odd_dims_rejected(self):
        from sparksketch.mp4 import encode_sps
        with pytest.raises(ValueError, match="even"):
            encode_sps(17, 16)

    def test_avcc_roundtrip(self):
        from sparksketch.mp4 import (build_avcc, encode_pps, encode_sps,
                                     parse_avcc)
        sps, pps = encode_sps(352, 288, fps=25.0), encode_pps()
        cfg = parse_avcc(build_avcc(sps, pps))
        assert cfg["sps"] == [sps] and cfg["pps"] == [pps]
        assert cfg["nal_length_size"] == 4

    def test_build_mp4_sps_vs_container(self):
        """The fixture MP4 deliberately declares 16-rounded dims in stsd
        while the SPS holds the true dims — the parser must surface
        both."""
        from sparksketch.mp4 import build_mp4, parse_mp4
        blob = build_mp4([b"x" * 40, b"y" * 44], 354, 266, fps=15.0)
        t = parse_mp4(blob)["tracks"][0]
        assert (t["width"], t["height"]) == (368, 272)
        assert (t["sps"]["width"], t["sps"]["height"]) == (354, 266)
        assert abs(t["sps"]["fps"] - 15.0) < 1e-9

    def test_frame_plan_extent_validation(self):
        """ADVICE r04: truncated mdat must raise, not yield empty
        frames."""
        from sparksketch.mp4 import build_mp4, mp4_frame_plan
        blob = build_mp4([b"x" * 40, b"y" * 44], 160, 96, fps=10.0)
        # chop the tail of mdat: moov survives (it's at the end), so
        # rebuild with moov first is impossible — instead corrupt stco
        # by pointing the chunk past EOF via truncating... simpler:
        # shrink the payload the plan slices from
        plan_ok = mp4_frame_plan(blob, every_ms=100)
        assert plan_ok
        # forge a too-large stsz entry: find the first frame size (40)
        bad = blob.replace(struct.pack(">I", 40),
                           struct.pack(">I", 1 << 24), 1)
        with pytest.raises(ValueError, match="exceed payload"):
            mp4_frame_plan(bad, every_ms=100)

    def test_stss_out_of_range_raises(self):
        from sparksketch.mp4 import build_mp4, parse_mp4
        blob = build_mp4([b"x" * 40, b"y" * 44], 160, 96, fps=10.0)
        # stss entries are 1-based sample numbers {1}; forge sample 9
        marker = struct.pack(">4sI", b"stss", 0)  # not the layout; locate
        idx = blob.find(b"stss")
        assert idx > 0
        bad = bytearray(blob)
        # stss box: [size][stss][ver+flags][count][entry1 ...]
        count_off = idx + 4 + 4
        n = struct.unpack_from(">I", bad, count_off)[0]
        struct.pack_into(">I", bad, count_off + 4, 9)  # sample 9 of 2
        with pytest.raises(ValueError, match="stss sync sample"):
            parse_mp4(bytes(bad))

    def test_video_sps_features_distributed(self, spark):
        from sparksketch.multimodal import video_sps_features
        rows = {r.media_id: r for r in
                video_sps_features(spark, n=12).collect()}
        assert len(rows) == 12
        for mid, r in rows.items():
            assert r.sps_width == 160 + 16 * (mid % 4) - 2 * (mid % 3)
            assert r.sps_height == 96 + 16 * (mid % 5) - 2 * (mid % 2)
            assert r.container_width == 160 + 16 * (mid % 4)
            assert r.container_differs == (mid % 3 != 0 or mid % 2 != 0)


# -- bench estimator (the scaling gate's selection logic) ---------------------

class TestBenchEstimator:
    """bench.py is gate-critical this round: the north rule is graded on
    the number its estimator emits, so the round-selection logic gets the
    same unit coverage as library code."""

    @staticmethod
    def _round(rep, steal_lo=0.0, steal_hi=0.0, hw=0.9, eff=0.9,
               spread_lo=1.0, spread_hi=1.0, t_lo=12.0, t_hi=4.0):
        return {"rep": rep, "steal_lo": steal_lo, "steal_hi": steal_hi,
                "hw_ceiling": hw, "eff": eff,
                "spread_lo": spread_lo, "spread_hi": spread_hi,
                "t_lo": t_lo, "t_hi": t_hi}

    def test_stolen_and_contended_rounds_dropped(self):
        import bench
        rounds = [
            self._round(0, eff=0.95, hw=0.9),
            self._round(1, eff=0.40, steal_hi=7.0),   # stolen
            self._round(2, eff=0.35, hw=0.5),          # window can't scale
            self._round(3, eff=0.88, hw=0.85),
        ]
        clean, bar, spread_bar, floor_bar, hw_bar = bench.select_clean_rounds(rounds)
        assert [r["rep"] for r in clean] == [0, 3]
        assert bar == bench.STEAL_BAR_PCT and hw_bar == bench.HW_CEILING_BAR
        assert spread_bar == bench.SPREAD_BAR

    def test_bars_relax_rather_than_return_one_round(self):
        import bench
        # only one round passes the strict bars -> steal bar relaxes to 5%
        rounds = [
            self._round(0, eff=0.9, steal_lo=3.0),
            self._round(1, eff=0.85, steal_hi=4.5),
            self._round(2, eff=0.95),
        ]
        clean, bar, spread_bar, floor_bar, hw_bar = bench.select_clean_rounds(rounds)
        assert len(clean) == 3 and bar == 5.0

    def test_hw_bar_relaxes_last(self):
        import bench
        rounds = [self._round(i, eff=0.8, hw=0.3) for i in range(3)]
        clean, bar, spread_bar, floor_bar, hw_bar = bench.select_clean_rounds(rounds)
        assert len(clean) == 3 and hw_bar == 0.0

    def test_all_stolen_falls_back_to_everything(self):
        import bench
        rounds = [self._round(0, steal_lo=50.0, hw=0.2)]
        clean, bar, spread_bar, floor_bar, hw_bar = bench.select_clean_rounds(rounds)
        assert clean == rounds

    def test_disrupted_child_dropped_by_spread(self):
        """A child whose two best passes disagree >25% was disrupted
        mid-run (observed: 5 s and 44 s passes with steal 0.0 and hw
        ceiling ~1.0) — the round is excluded while bars are strict."""
        import bench
        rounds = [
            self._round(0, eff=0.9),
            self._round(1, eff=0.4, spread_hi=8.3),   # disrupted hi child
            self._round(2, eff=0.88, spread_lo=1.1),
        ]
        clean, bar, spread_bar, floor_bar, hw_bar = bench.select_clean_rounds(rounds)
        assert [r["rep"] for r in clean] == [0, 2]
        assert spread_bar == bench.SPREAD_BAR

    def test_spread_bar_relaxes_when_needed(self):
        import bench
        rounds = [self._round(i, eff=0.8, spread_lo=2.0) for i in range(3)]
        clean, bar, spread_bar, floor_bar, hw_bar = bench.select_clean_rounds(rounds)
        assert len(clean) == 3 and spread_bar == float("inf")

    def test_uniformly_degraded_window_dropped_by_floor(self):
        """r5 failure mode: a hi child whose whole window clustered ~25%
        above the floor its siblings demonstrated at the same level, with
        steal 0.0, spread 1.09 and NumPy calibration within 2% of peers.
        The floor bar drops it; and symmetrically drops a slow-LO round
        even though that round's ratio is flatteringly HIGH."""
        import bench
        rounds = [
            self._round(0, eff=0.73, t_lo=13.5, t_hi=4.62),  # slow hi
            self._round(1, eff=0.80, t_lo=13.2, t_hi=4.12),
            self._round(2, eff=0.81, t_lo=12.3, t_hi=3.78),
            self._round(3, eff=0.80, t_lo=12.3, t_hi=3.87),
            self._round(4, eff=0.95, t_lo=14.9, t_hi=3.92),  # slow lo, high eff
        ]
        clean, bar, spread_bar, floor_bar, hw_bar = \
            bench.select_clean_rounds(rounds)
        assert [r["rep"] for r in clean] == [1, 2, 3]
        assert floor_bar == bench.FLOOR_BAR

    def test_floor_bar_relaxes_before_hw_bar(self):
        import bench
        # every round >10% above another's floor at some level, hw fine
        rounds = [
            self._round(0, t_lo=10.0, t_hi=5.0),
            self._round(1, t_lo=14.0, t_hi=3.0),
        ]
        clean, bar, spread_bar, floor_bar, hw_bar = \
            bench.select_clean_rounds(rounds)
        assert len(clean) == 2
        assert floor_bar == float("inf")
        assert hw_bar == bench.HW_CEILING_BAR

    def test_pin_spec_counts_cpus(self):
        import bench
        assert bench._pin_spec(1) == "0"
        assert bench._pin_spec(4) == "0-3"
        assert bench._pin_spec(32) == "0-31"


# -- CMS sparse partial layout ------------------------------------------------

class TestCmsSparseLayout:
    """Round-5 ship-volume fix: a CMS partial over a low-cardinality key is
    ~all zeros; the dense 512 KB layout dominated the build job's
    partial-blob ship (the measured non-scaling tail of the N->4N bench,
    `git show bebf5f2:tools/xp_tail2.py`).  to_bytes now auto-selects a sparse
    (index, count) layout when it is at most half the dense size; layout is a pure
    function of table content so canonical byte-identity is preserved."""

    def _cms(self, w=1 << 14, d=4):
        from sparksketch.sketches import CountMinSketch
        return CountMinSketch(w, d)

    def test_sparse_chosen_for_low_cardinality(self):
        cms = self._cms()
        cms.add_hashes(np.arange(13, dtype=np.int64))
        blob = cms.to_bytes()
        assert len(blob) < 2048  # dense body would be 512 KB

    def test_dense_chosen_when_full(self):
        cms = self._cms(w=64, d=2)
        cms.add_hashes(np.arange(500, dtype=np.int64))
        blob = cms.to_bytes()
        assert len(blob) >= 64 * 2 * 8

    def test_roundtrip_both_layouts(self):
        from sparksketch.sketches import sketch_from_bytes
        for n in (5, 2000):
            cms = self._cms(w=256, d=3)
            h = np.arange(n, dtype=np.int64) * 0x9E3779B97F4A7C15
            cms.add_hashes(h)
            rt = sketch_from_bytes(cms.to_bytes())
            assert np.array_equal(rt.table, cms.table)
            assert rt.to_bytes() == cms.to_bytes()

    def test_mixed_layout_merge_matches_whole(self):
        from sparksketch.sketches.base import merge_bytes
        sparse = self._cms()
        dense = self._cms()
        whole = self._cms()
        hs = np.arange(4, dtype=np.int64)          # sparse partial
        hd = np.arange(40000, dtype=np.int64) * 7  # dense partial
        sparse.add_hashes(hs)
        dense.add_hashes(hd)
        whole.add_hashes(hs)
        whole.add_hashes(hd)
        m1 = merge_bytes(sparse.to_bytes(), dense.to_bytes())
        m2 = merge_bytes(dense.to_bytes(), sparse.to_bytes())
        assert m1 == m2 == whole.to_bytes()

    def test_point_queries_survive_roundtrip(self):
        from sparksketch.sketches import sketch_from_bytes
        cms = self._cms()
        h = np.repeat(np.arange(13, dtype=np.int64), [i + 1 for i in range(13)])
        cms.add_hashes(h)
        rt = sketch_from_bytes(cms.to_bytes())
        q = np.arange(13, dtype=np.int64)
        assert np.array_equal(rt.query_hashes(q), cms.query_hashes(q))

    def test_pre_layout_blob_rejected_loudly(self):
        import struct as _s
        from sparksketch.sketches import sketch_from_bytes
        from sparksketch.sketches.base import pack_header
        w, d = 64, 2
        blob = (pack_header(7) + _s.pack("<QI", w, d)
                + b"\x00" * (w * d * 8))  # old body: no layout byte
        with pytest.raises(ValueError, match="layout byte"):
            sketch_from_bytes(blob)


# -- worker-side composite key hash (MixKeyBloomSpec) -------------------------

class TestCombineHashes:
    def test_identity_for_single_input(self):
        from sparksketch.hashing import combine_hashes
        h = np.array([1, -5, 2**62], dtype=np.int64)
        assert np.array_equal(combine_hashes(h), h)

    def test_not_commutative(self):
        from sparksketch.hashing import combine_hashes
        a = np.arange(100, dtype=np.int64)
        b = np.arange(100, dtype=np.int64) * 31 + 7
        assert not np.array_equal(combine_hashes(a, b),
                                  combine_hashes(b, a))

    def test_avalanche_on_one_bit(self):
        from sparksketch.hashing import combine_hashes
        a = np.zeros(64, dtype=np.int64)
        b = (np.int64(1) << np.arange(64)).astype(np.int64)
        out = combine_hashes(a, b)
        assert len(np.unique(out)) == 64
        # every output changes ~half its bits vs the all-zero input pair
        base = combine_hashes(np.zeros(1, np.int64), np.zeros(1, np.int64))
        flips = np.array([bin(int(np.uint64(x) ^ np.uint64(base[0]))).count("1")
                          for x in out.view(np.uint64)])
        assert flips.min() > 10

    def test_empty_raises(self):
        from sparksketch.hashing import combine_hashes
        with pytest.raises(ValueError):
            combine_hashes()


class TestMixKeyBloomSpec:
    def test_projection_dedups_to_three_columns(self, spark):
        """The bench's 4-sketch build must cross exactly three columns:
        h(conv_id) shared by HLL/KLL/bloom-part-0, h(tool) shared by
        CMS/bloom-part-1, and the KLL value."""
        from bench import _build_specs
        from sparksketch.agg import build_partials_multi
        from sparksketch.transcripts import synthesize_transcripts
        tr = synthesize_transcripts(spark, 10_000, partitions=4)
        specs = _build_specs(10_000)
        exprs = []
        seen = {}
        for name, (spec, cols) in specs.items():
            for bc, key, c in spec.prepare_keyed_exprs(cols,
                                                       prefix=f"{name}__"):
                if key not in seen:
                    seen[key] = bc
                    exprs.append(c)
        assert len(exprs) == 3
        # and the distributed build agrees with a single-threaded replay
        from sparksketch.agg import tree_aggregate_multi
        from sparksketch.hashing import combine_hashes
        from sparksketch.sketches import sketch_from_bytes
        blobs = tree_aggregate_multi(build_partials_multi(tr, specs),
                                     list(specs))
        got = sketch_from_bytes(blobs["bloom_conv_tool"])
        pdf = tr.selectExpr("xxhash64(conv_id) a", "xxhash64(tool) b") \
            .toPandas()
        ref = specs["bloom_conv_tool"][0].empty()
        ref.add_hashes(combine_hashes(pdf.a.to_numpy(), pdf.b.to_numpy()))
        assert got.to_bytes() == ref.to_bytes()

    def test_partitioning_invariance(self, spark):
        from bench import _build_specs
        from sparksketch.agg import build_partials_multi, tree_aggregate_multi
        from sparksketch.transcripts import synthesize_transcripts
        specs = _build_specs(20_000)
        blobs = {}
        for parts in (2, 7):
            tr = synthesize_transcripts(spark, 20_000, partitions=parts)
            blobs[parts] = tree_aggregate_multi(
                build_partials_multi(tr, specs), list(specs))
        # bitwise-commutative kinds are byte-identical across partitionings;
        # KLL is canonical-but-history-dependent by contract (base.py)
        for n in ("hll_conv", "bloom_conv_tool", "cms_tool"):
            assert blobs[2][n] == blobs[7][n], n
        from sparksketch.sketches import sketch_from_bytes
        k2 = sketch_from_bytes(blobs[2]["kll_turn_idx"])
        k7 = sketch_from_bytes(blobs[7]["kll_turn_idx"])
        assert k2.n == k7.n == 20_000
