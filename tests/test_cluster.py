"""Clustering operators (operators/cluster.py): star-contraction
connected components, the driver-side union-find path and its gate,
the convergence guard, and singleton cluster ids."""

import pytest
from pyspark.sql import functions as F

from clkhash_spark.operators.cluster import (
    attach_cluster_ids,
    connected_components,
)
from clkhash_spark.sources.webpages import synthetic_webpages

pytestmark = pytest.mark.spark


class TestClustering:
    def test_connected_components_chain_and_triangle(self, spark):
        pairs = spark.createDataFrame(
            [
                ("a", "b"), ("b", "c"),              # chain a-b-c
                ("x", "y"), ("y", "z"), ("x", "z"),  # triangle
                ("solo1", "solo2"),
            ],
            ["key_a", "key_b"],
        )
        components = connected_components(pairs)
        got = {
            r["key"]: r["cluster_id"] for r in components.collect()
        }
        assert got["a"] == got["b"] == got["c"]
        assert got["x"] == got["y"] == got["z"]
        assert got["solo1"] == got["solo2"]
        assert len({got["a"], got["x"], got["solo1"]}) == 3

    def test_long_chain_converges(self, spark):
        n = 40
        pairs = spark.createDataFrame(
            [(f"n{i:03d}", f"n{i+1:03d}") for i in range(n)],
            ["key_a", "key_b"],
        )
        components = connected_components(pairs)
        assert components.select("cluster_id").distinct().count() == 1

    def test_very_long_chain_pointer_jumping(self, spark):
        """A 300-node path graph must converge well inside the iteration
        cap — pointer jumping makes rounds O(log n), not O(n)."""
        n = 300
        pairs = spark.createDataFrame(
            [(f"c{i:04d}", f"c{i+1:04d}") for i in range(n)],
            ["key_a", "key_b"],
        )
        components = connected_components(pairs, max_iterations=15)
        assert components.select("cluster_id").distinct().count() == 1
        assert components.count() == n + 1

    def test_attach_cluster_ids_gives_singletons_ids(self, spark):
        records = spark.createDataFrame(
            [("a",), ("b",), ("lonely",)], ["url"]
        )
        clusters = connected_components(
            spark.createDataFrame([("a", "b")], ["key_a", "key_b"])
        )
        total = attach_cluster_ids(records, clusters, key_col="url")
        got = {r["url"]: r["cluster_id"] for r in total.collect()}
        assert got["a"] == got["b"]
        assert got["lonely"] is not None
        assert got["lonely"] != got["a"]


class TestConvergenceGuard:
    def test_nonconvergence_raises(self, spark):
        chain = spark.createDataFrame(
            [(i, i + 1) for i in range(64)], ["key_a", "key_b"]
        )
        # small_graph_edges=0 forces the distributed rounds (the hybrid
        # driver path would solve a 64-edge chain without iterating).
        with pytest.raises(RuntimeError, match="did not converge"):
            connected_components(
                chain, max_iterations=1, small_graph_edges=0
            )

    def test_default_budget_converges(self, spark):
        chain = spark.createDataFrame(
            [(i, i + 1) for i in range(64)], ["key_a", "key_b"]
        )
        out = connected_components(chain, small_graph_edges=0)
        assert out.select("cluster_id").distinct().count() == 1


class TestHybridConnectedComponents:
    def _random_graph(self, spark, n_edges=400, n_nodes=300):
        import hashlib

        edges = []
        for i in range(n_edges):
            h = hashlib.sha256(f"edge:{i}".encode()).digest()
            u = int.from_bytes(h[:4], "big") % n_nodes
            v = int.from_bytes(h[4:8], "big") % n_nodes
            if u != v:
                edges.append((f"n{u}", f"n{v}"))
        return spark.createDataFrame(edges, ["key_a", "key_b"])

    def test_driver_path_matches_distributed(self, spark):
        """The union-find fast path must produce the exact (key,
        cluster_id) mapping of the star-contraction rounds — same
        min-hash-id labels, not just the same membership."""
        pairs = self._random_graph(spark)
        fast = {
            (r["key"], r["cluster_id"])
            for r in connected_components(pairs).collect()
        }
        slow = {
            (r["key"], r["cluster_id"])
            for r in connected_components(
                pairs, small_graph_edges=0
            ).collect()
        }
        assert fast == slow and fast

    def test_driver_path_long_chain(self, spark):
        """A 5000-node chain (worst diameter) is exactly the shape the
        driver path wins on; labels must be the chain-wide minimum."""
        from pyspark.sql import functions as F2

        chain = spark.range(5000).select(
            F.col("id").alias("key_a"), (F.col("id") + 1).alias("key_b")
        )
        out = connected_components(chain)
        assert out.select("cluster_id").distinct().count() == 1
        assert out.agg(F2.min("cluster_id")).first()[0] == 0

    def test_empty_pairs(self, spark):
        empty = spark.createDataFrame([], "key_a string, key_b string")
        assert connected_components(empty).count() == 0


class TestHybridCcRound4:
    def test_force_distributed_contract_is_strict(self, spark):
        """``small_graph_edges=0`` must never take the driver path, even
        for graphs at/below any gate — the convergence-guard tests rely
        on the literal contract."""
        pairs = spark.createDataFrame(
            [("a", "b"), ("b", "c")], ["key_a", "key_b"]
        )
        out = {
            (r["key"], r["cluster_id"])
            for r in connected_components(
                pairs, small_graph_edges=0
            ).collect()
        }
        fast = {
            (r["key"], r["cluster_id"])
            for r in connected_components(pairs).collect()
        }
        assert out == fast and len(out) == 3

    def test_empty_edges_with_zero_gate(self, spark):
        empty = spark.createDataFrame([], "key_a string, key_b string")
        assert connected_components(empty, small_graph_edges=0).count() == 0

    def test_vectorized_union_find_shapes(self):
        """Pure-numpy check: chain, star, two components, self-dups."""
        import numpy as np

        from clkhash_spark.operators.cluster import _union_find_labels

        # chain 10-11-...-19 plus separate triangle 3-4-5
        u = np.array(list(range(10, 19)) + [3, 4, 5])
        v = np.array(list(range(11, 20)) + [4, 5, 3])
        out = _union_find_labels(u, v)
        lab = dict(zip(out["id"], out["label"]))
        assert all(lab[i] == 10 for i in range(10, 20))
        assert all(lab[i] == 3 for i in (3, 4, 5))

    def test_vectorized_union_find_worst_case_chain_reversed(self):
        """Descending chain (worst hooking order) still labels min."""
        import numpy as np

        from clkhash_spark.operators.cluster import _union_find_labels

        n = 5000
        u = np.arange(n, 0, -1)
        v = np.arange(n - 1, -1, -1)
        out = _union_find_labels(u, v)
        assert (out["label"] == 0).all()

    def test_driver_gate_plumbed_from_config(self, spark, tmp_path):
        """cluster_driver_gate_edges=0 must force the distributed path
        through run_linkage (observable: non-convergence raise with
        max_iterations unreachable is too slow to test here, so assert
        parity of outputs instead)."""
        from clkhash_spark.pipeline import (
            LinkageConfig,
            run_linkage,
            webpages_schema,
        )

        pages = synthetic_webpages(spark, 300, seed=9).select("url", "text")
        base = dict(
            schema=webpages_schema(), secret="s",
            num_bands=32, bits_per_band=14,
        )
        r_driver = run_linkage(spark, pages, LinkageConfig(**base))
        r_dist = run_linkage(
            spark, pages,
            LinkageConfig(**base, cluster_driver_gate_edges=0),
        )
        a = {
            (r["url"], r["cluster_id"])
            for r in r_driver.clusters.collect()
        }
        b = {
            (r["url"], r["cluster_id"]) for r in r_dist.clusters.collect()
        }
        assert a == b and a


class TestClusterEdgeBound:
    def test_known_edge_bound_matches_gated_path(self, spark):
        pairs = spark.createDataFrame(
            [("a", "b"), ("b", "c"), ("d", "e"), ("f", "f"), ("a", "c")],
            ["key_a", "key_b"],
        )
        gated = sorted(
            map(tuple, connected_components(pairs).collect())
        )
        fast = sorted(
            map(
                tuple,
                connected_components(pairs, known_edge_bound=5).collect(),
            )
        )
        assert fast == gated and len(fast) > 0

    def test_known_edge_bound_empty_edges(self, spark):
        pairs = spark.createDataFrame(
            [("x", "x")], ["key_a", "key_b"]  # self-loop only → no edges
        )
        out = connected_components(pairs, known_edge_bound=1)
        assert out.count() == 0

    def test_bound_above_gate_uses_gated_path(self, spark):
        pairs = spark.createDataFrame(
            [("a", "b")], ["key_a", "key_b"]
        )
        out = connected_components(
            pairs, small_graph_edges=0, known_edge_bound=1
        )
        # bound > gate → falls through to the distributed contraction
        assert sorted(r["cluster_id"] is not None for r in out.collect())

    def test_zero_gate_never_collects_even_with_zero_bound(
        self, spark, monkeypatch
    ):
        def no_driver_collect(self):
            raise AssertionError("small_graph_edges=0 collected edges")

        pairs = spark.createDataFrame(
            [("x", "x")], ["key_a", "key_b"]  # self-loop only → no edges
        )
        # the session's concrete DataFrame class (pyspark.sql.DataFrame
        # is only its base in Spark 4)
        monkeypatch.setattr(type(pairs), "toArrow", no_driver_collect)
        # 0 <= bound <= gate holds, but a zero gate is strict: the
        # distributed path runs and returns the empty components
        out = connected_components(
            pairs, small_graph_edges=0, known_edge_bound=0
        )
        assert out.count() == 0
