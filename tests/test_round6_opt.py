"""Round-6 optimization regressions: the properties the optimization
round introduced must survive refactors.

- stage-boundary lineage truncation in the pipelines (plans stay small;
  the driver-gap pathology was ~10 s of zero-task Catalyst time per run)
- single-evaluation MinHash plans (signature UDF appears once)
- dedup-group sizes via partial aggregation, not a window over the
  skewed group key
- narrow-scan widening fires only when it should
- two-level IVF: executor-side sub-fit is bit-identical to the driver
  loop; the quantizer ships as ONE explicit broadcast, not per-UDF
  closure pickles
"""

import os

import numpy as np
import pytest

SF = os.environ.get("SPARK_GRAFT_SMOKE_SF", "/root/testdata/sf0.001")

pytestmark = [
    pytest.mark.spark,
    pytest.mark.skipif(
        not os.path.isdir(SF), reason="driver testdata not available"
    ),
]


def plan_of(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


class TestPlanShapes:
    def test_minhash_pairs_single_signature_evaluation(self, spark):
        from clkhash_spark.entry_queries import q_doc_minhash_pairs

        import re

        # Earlier tests in the shared session may have registered cache
        # entries for the same signature plan; re-matching against them
        # nests InMemoryRelations and the formatted printout then shows
        # extra (cached, not live) ArrowEvalPython ids. Clear to assert
        # on the first-construction plan. (No other module's fixtures
        # are alive here — module scopes are torn down per file.)
        spark.catalog.clearCache()
        plan = plan_of(q_doc_minhash_pairs(spark, SF))
        # one DISTINCT ArrowEvalPython node: the signature UDF feeds a
        # persisted InMemoryRelation consumed by the band join and both
        # verification joins (round 5: 8 distinct nodes = 3+
        # evaluations). The formatted plan re-prints the cached subtree
        # under every InMemoryTableScan, so count unique node ids, not
        # string occurrences.
        node_ids = set(
            re.findall(r"^\((\d+)\) ArrowEvalPython", plan, re.MULTILINE)
        )
        assert len(node_ids) == 1, sorted(node_ids)
        assert "InMemoryTableScan" in plan

    def test_dedup_groups_no_group_size_window(self, spark):
        from clkhash_spark.entry_queries import q_doc_dedup_groups

        plan = plan_of(q_doc_dedup_groups(spark, SF))
        # group_size comes from groupBy().count() + join (partial
        # aggregation; AQE-skew-splittable), never a window over the
        # skewed group_id.
        assert "Window" not in plan
        assert "HashAggregate" in plan

    def test_pipeline_stages_truncate_lineage(self, spark):
        from clkhash_spark.pipeline import (
            LinkageConfig, run_linkage, webpages_schema,
        )
        from clkhash_spark.sources.webpages import synthetic_webpages

        pages = synthetic_webpages(spark, 400, seed=7).select("url", "text")
        config = LinkageConfig(
            schema=webpages_schema(), secret="s", num_bands=8,
            bits_per_band=20,
        )
        result = run_linkage(spark, pages, config)
        for name, df in (("pairs", result.pairs),
                         ("clusters", result.clusters)):
            plan = plan_of(df)
            # materialized stage outputs are LogicalRDD scans; without
            # truncation the clusters plan embedded ~19 copies of the
            # synthetic-pages expression tree (1,800+ lines at 20k rows)
            assert "Scan ExistingRDD" in plan, name
            assert len(plan.splitlines()) < 120, (
                name, len(plan.splitlines())
            )


class TestWidenIfNarrow:
    def test_fires_on_single_partition(self, spark):
        from clkhash_spark.operators._util import widen_if_narrow

        df = spark.range(0, 1000, 1, 1)
        out = widen_if_narrow(df)
        assert (
            out.rdd.getNumPartitions()
            == spark.sparkContext.defaultParallelism
        )

    def test_inert_near_full_parallelism(self, spark):
        from clkhash_spark.operators._util import widen_if_narrow

        par = spark.sparkContext.defaultParallelism
        df = spark.range(0, 1000, 1, max(1, par - 1))
        assert widen_if_narrow(df) is df

    def test_streaming_passthrough(self, spark):
        from clkhash_spark.operators._util import widen_if_narrow

        stream = spark.readStream.format("rate").load()
        assert widen_if_narrow(stream) is stream


class TestTwoLevelFit:
    def test_distributed_subfit_bit_identical(self, spark):
        import clkhash_spark.operators.similarity as S

        emb = spark.read.parquet(os.path.join(SF, "embeddings.parquet"))
        driver = S.two_level_centroids(
            emb, num_cells=64, branch=16, distributed_fit=False
        )
        dist = S.two_level_centroids(
            emb, num_cells=64, branch=16, distributed_fit=True
        )
        np.testing.assert_array_equal(driver.coarse, dist.coarse)
        np.testing.assert_array_equal(driver.valid, dist.valid)
        np.testing.assert_array_equal(driver.fine, dist.fine)

    def test_index_broadcast_single_handle(self, spark):
        from pyspark.broadcast import Broadcast

        import clkhash_spark.operators.similarity as S

        emb = spark.read.parquet(os.path.join(SF, "embeddings.parquet"))
        idx = S.ivf_fit_auto(emb, num_cells=8)
        assert idx.payload is idx.centroids  # raw before broadcast
        idx.broadcast(spark)
        handle = idx.payload
        assert isinstance(handle, Broadcast)
        # idempotent: a second call must NOT create a second broadcast
        idx.broadcast(spark)
        assert idx.payload is handle
        # queries through the broadcast handle match the raw path
        from pyspark.sql import functions as F

        queries = emb.where(F.col("vec_id") < 3).select(
            F.col("vec_id").alias("query_id"), "embedding"
        )
        via_bc = sorted(
            (r["query_id"], r["vec_id"], r["rank"])
            for r in S.ivf_topk_auto(
                emb, queries, k=5, index=idx
            ).collect()
        )
        idx.unpersist()
        assert idx.payload is idx.centroids
        raw = sorted(
            (r["query_id"], r["vec_id"], r["rank"])
            for r in S.ivf_topk_auto(
                emb, queries, k=5, index=idx
            ).collect()
        )
        assert via_bc == raw

    def test_two_level_broadcast_queries_green(self, spark):
        from pyspark.sql import functions as F

        import clkhash_spark.operators.similarity as S

        emb = spark.read.parquet(os.path.join(SF, "embeddings.parquet"))
        idx = S.ivf_fit_auto(emb, num_cells=64, flat_cell_cap=16)
        assert idx.kind == "two_level"
        idx.broadcast(spark)
        queries = emb.where(F.col("vec_id") < 3).select(
            F.col("vec_id").alias("query_id"), "embedding"
        )
        out = S.ivf_topk_auto(emb, queries, k=5, index=idx, nprobe=16)
        rows = out.collect()
        assert len(rows) > 0
        idx.unpersist()
