"""IVF approximate-nearest-neighbor tests (operators/similarity.py).

Measured at sf0.01 (500 vecs, 16 cells): recall@10 = 0.41/0.60/0.80/1.0
at nprobe 2/4/8/16 — monotonic, exact at full probe."""

import os

import numpy as np
import pytest

from clkhash_spark.operators import similarity as S

SF = os.environ.get("SPARK_GRAFT_SMOKE_SF", "/root/testdata/sf0.001")

pytestmark = [
    pytest.mark.spark,
    pytest.mark.skipif(
        not os.path.isdir(SF), reason="driver testdata not available"
    ),
]


@pytest.fixture(scope="module")
def emb(spark):
    df = spark.read.parquet(os.path.join(SF, "embeddings.parquet")).cache()
    df.count()
    return df


@pytest.fixture(scope="module")
def centroids(emb):
    return S.kmeans_centroids(emb, num_centroids=8)


class TestIvf:
    def test_centroids_deterministic_and_normalized(self, emb, centroids):
        again = S.kmeans_centroids(emb, num_centroids=8)
        assert np.allclose(centroids, again)
        norms = np.linalg.norm(centroids, axis=1)
        assert np.allclose(norms[norms > 0], 1.0)

    def test_assignment_is_total_and_balancedish(self, emb, centroids):
        assigned = S.ivf_assign(emb, centroids)
        n = emb.count()
        assert assigned.count() == n
        sizes = [r["count"] for r in
                 assigned.groupBy("centroid_id").count().collect()]
        assert sum(sizes) == n
        assert max(sizes) <= n  # no cell swallows everything on real data
        assert len(sizes) >= 2

    def test_full_probe_matches_brute_force(self, spark, emb, centroids):
        queries = emb.where("vec_id < 5").selectExpr(
            "vec_id as query_id", "embedding"
        )
        exact = {
            (r["query_id"], r["rank"]): r["vec_id"]
            for r in S.brute_force_topk(emb, queries, k=10).collect()
        }
        approx = {
            (r["query_id"], r["rank"]): r["vec_id"]
            for r in S.ivf_topk(
                emb, queries, centroids, k=10, nprobe=8
            ).collect()
        }
        assert approx == exact  # probing every cell == exhaustive scan

    def test_recall_monotonic_in_nprobe(self, spark, emb, centroids):
        queries = emb.where("vec_id < 10").selectExpr(
            "vec_id as query_id", "embedding"
        )
        exact = {
            (r["query_id"], r["vec_id"])
            for r in S.brute_force_topk(emb, queries, k=10).collect()
        }

        def recall(nprobe):
            got = {
                (r["query_id"], r["vec_id"])
                for r in S.ivf_topk(
                    emb, queries, centroids, k=10, nprobe=nprobe
                ).collect()
            }
            return len(got & exact) / len(exact)

        r2, r4, r8 = recall(2), recall(4), recall(8)
        assert r2 <= r4 + 1e-9 and r4 <= r8 + 1e-9
        assert r8 == 1.0
        assert r2 >= 0.15  # probing 1/4 of cells finds a real fraction


class TestSingleThreadBlas:
    """ADVICE r6: the BLAS pin must never outlive its block."""

    def _fake_blas(self, monkeypatch, with_get):
        threads = {"n": 4}

        def set_fn(n):
            threads["n"] = n

        get_fn = (lambda: threads["n"]) if with_get else None
        monkeypatch.setattr(S._single_thread_blas, "_probed", True)
        monkeypatch.setattr(S._single_thread_blas, "_lib", (set_fn, get_fn))
        return threads

    def test_no_pin_left_without_get_symbol(self, monkeypatch):
        threads = self._fake_blas(monkeypatch, with_get=False)
        with S._single_thread_blas():
            pass
        assert threads["n"] == 4

    def test_pin_inside_and_restored_with_get_symbol(self, monkeypatch):
        threads = self._fake_blas(monkeypatch, with_get=True)
        with S._single_thread_blas():
            assert threads["n"] == 1
        assert threads["n"] == 4

    @pytest.mark.parametrize("suffix", ["64_", ""])
    def test_probe_finds_scipy_openblas_prefixed_symbols(
        self, monkeypatch, suffix
    ):
        # numpy >= 2 ships scipy_openblas64, whose exports carry a
        # scipy_ prefix; only those names exist on the fake library.
        import ctypes
        import glob

        threads = {"n": 4}

        class FakeLib:
            pass

        lib = FakeLib()
        setattr(lib, f"scipy_openblas_set_num_threads{suffix}",
                lambda n: threads.__setitem__("n", n))
        setattr(lib, f"scipy_openblas_get_num_threads{suffix}",
                lambda: threads["n"])
        monkeypatch.setattr(glob, "glob",
                            lambda pattern: ["libscipy_openblas64_.so"])
        monkeypatch.setattr(ctypes, "CDLL", lambda path: lib)
        monkeypatch.setattr(S._single_thread_blas, "_probed", False)
        monkeypatch.setattr(S._single_thread_blas, "_lib", None)
        with S._single_thread_blas():
            assert threads["n"] == 1
        assert threads["n"] == 4
