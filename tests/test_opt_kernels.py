"""Round-6 optimization internals: the argpartition top-k kernel, the
binary-packed quantized vectors, HALF_UP rounding, and hashed-shingle
jaccard parity — each change must be output-identical to the shape it
replaced."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from geograypher_spark.operators import dedup as DD
from geograypher_spark.operators import similarity as SIM


class TestTopkDescTiebreak:
    def test_matches_full_lexsort_fuzz(self):
        """Randomized low-entropy matrices (heavy ties, -inf padding):
        the finite slots must equal the full lexsort exactly."""
        rng = np.random.default_rng(0)
        for _ in range(300):
            c = int(rng.integers(1, 8))
            m = int(rng.integers(2, 40))
            k = int(rng.integers(1, m + 1))
            sims = rng.integers(0, 4, size=(c, m)).astype(float)
            sims[rng.random((c, m)) < 0.3] = -np.inf
            ids = rng.permutation(1000)[:m]
            ref = np.lexsort(
                (np.broadcast_to(ids, (c, m)), -sims), axis=-1)[:, :k]
            got = SIM._topk_desc_tiebreak(sims, ids, k)
            for r in range(c):
                rs = [(sims[r, j], ids[j]) for j in ref[r]
                      if np.isfinite(sims[r, j])]
                gs = [(sims[r, j], ids[j]) for j in got[r]
                      if np.isfinite(sims[r, j])]
                assert rs == gs

    def test_boundary_tie_uses_id(self):
        """A tie at the k-th boundary must select the LOWEST ids among
        the tied candidates (the unsafe-row fallback path)."""
        sims = np.array([[1.0, 0.5, 0.5, 0.5, 0.9]])
        ids = np.array([10, 7, 3, 5, 20])
        got = SIM._topk_desc_tiebreak(sims, ids, 3)
        assert [ids[j] for j in got[0]] == [10, 20, 3]

    def test_nan_never_evicts_a_finite_neighbour(self):
        """A zero-norm vector's sims are NaN (0/0); argpartition ranks NaN
        above every finite value, so unmasked it would take a top-k slot."""
        sims = np.array([[0.9, np.nan, 0.8, 0.1, -np.inf]])
        ids = np.array([1, 2, 3, 4, 5])
        got = SIM._topk_desc_tiebreak(sims, ids, 2)
        assert [sims[0, j] for j in got[0]] == [0.9, 0.8]
        assert [ids[j] for j in got[0]] == [1, 3]


class TestRoundHalfUp:
    def test_matches_spark_round_semantics(self):
        x = np.array([0.5, 1.5, 2.5, -0.5, -1.5, -2.5, 0.49999999999999994,
                      2.4999999999999996, 1e15 + 0.5, -1e15 - 0.5])
        expect = np.array([1.0, 2.0, 3.0, -1.0, -2.0, -3.0, 0.0,
                           2.0, 1e15 + 1, -1e15 - 1])
        assert np.array_equal(SIM._round_half_up(x), expect)

    def test_matches_jvm_round_on_spark(self, spark):
        vals = [0.5, -0.5, 1.4999999999999998, -3.5, 12.345, 0.0015 * 1000]
        df = spark.createDataFrame([(v,) for v in vals], "x double")
        jvm = [r[0] for r in df.select(F.round("x")).collect()]
        assert list(SIM._round_half_up(np.array(vals))) == [float(v)
                                                           for v in jvm]


class TestQuantizedBinaryPack:
    def test_struct_udf_matches_jvm_quantize(self, spark):
        """The packed int32 qv must equal the JVM F.round path element
        for element, and the band values must equal band_values_udf."""
        rng = np.random.default_rng(3)
        rows = [(i, [float(x) for x in rng.standard_normal(16)])
                for i in range(50)]
        emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
        qb = SIM.quantized_band_struct_udf(8, 4, 1000)
        got = {r["vec_id"]: r for r in emb.select(
            "vec_id", qb(F.col("embedding")).alias("s"),
            SIM.quantized(F.col("embedding"), 1000).alias("qv_jvm"),
            SIM.band_values_udf(8, 4)(F.col("embedding")).alias("bv_ref"),
        ).collect()}
        for vid, r in got.items():
            unpacked = np.frombuffer(bytes(r["s"]["qv"]), dtype="<i4")
            assert list(unpacked) == list(r["qv_jvm"]), vid
            assert list(r["s"]["bv"]) == list(r["bv_ref"]), vid

    def test_struct_udf_rejects_values_outside_int32(self, spark):
        """|x| * scale >= 2^31 would wrap in the int32 cast; it must raise."""
        emb = spark.createDataFrame(
            [(0, [0.5] * 15 + [3.0e6])], "vec_id long, embedding array<float>")
        qb = SIM.quantized_band_struct_udf(8, 4, 1000)
        with pytest.raises(Exception, match="int32 range"):
            emb.select(qb(F.col("embedding"))).collect()


class TestHashedJaccardParity:
    def test_hashed_equals_string_pipeline(self, spark):
        docs = spark.read.parquet(
            "/root/testdata/sf0.01/documents.parquet").select("doc_id", "text")
        cols = ["id_a", "id_b", "inter", "size_a", "size_b", "jaccard"]
        h = {tuple(r) for r in DD.jaccard_pairs(
            docs, threshold=0.2, df_cap=50, hashed=True).select(*cols).collect()}
        s = {tuple(r) for r in DD.jaccard_pairs(
            docs, threshold=0.2, df_cap=50, hashed=False).select(*cols).collect()}
        assert h == s and len(h) > 0

    def test_band_hash_stays_long_in_xxhash_family(self, spark):
        """VERDICT r5 #1: no string materialization of the xxhash64 band
        key — the collision join runs on (int, long)."""
        docs = spark.read.parquet(
            "/root/testdata/sf0.01/documents.parquet").select("doc_id", "text")
        sigs = DD.minhash_signatures(docs, n_hashes=8, hash_fn="xxhash64")
        pairs = DD.lsh_candidate_pairs(sigs, n_hashes=8, bands=4,
                                       hash_fn="xxhash64")
        plan = pairs._jdf.queryExecution().optimizedPlan().toString()
        assert "cast(xxhash64" not in plan.lower()
        # md5 family keeps its (oracle-mirrored) string schema
        sigs_md5 = DD.minhash_signatures(docs, n_hashes=8, hash_fn="md5")
        pairs_md5 = DD.lsh_candidate_pairs(sigs_md5, n_hashes=8, bands=4,
                                           hash_fn="md5")
        assert pairs_md5.columns == pairs.columns
