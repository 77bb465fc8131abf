"""Physical-plan regression tests: the properties PLANS.md documents
must survive refactors — filters pushed to the parquet scan, columns
pruned, dimensions broadcast, no cartesian products.

Assertions are deliberately loose (substring checks on the formatted
plan), so Catalyst version drift doesn't break them spuriously."""

import os

import pytest

from clkhash_spark.entry_queries import (
    q_clk_encode,
    q_doc_minhash_pairs,
    q_local_supplier_revenue,
)

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


class TestPlanEvidence:
    def test_q5_pushdown_and_broadcasts(self, spark):
        plan = plan_of(q_local_supplier_revenue(spark, SF))
        # date filter reaches the orders parquet scan
        assert "PushedFilters" in plan
        assert plan.count("BroadcastHashJoin") >= 4  # all true dims
        assert "CartesianProduct" not in plan
        # lineitem scan prunes to the needed columns only
        li_schema = [
            ln for ln in plan.splitlines()
            if "ReadSchema" in ln and "l_orderkey" in ln
        ]
        assert li_schema and "l_returnflag" not in li_schema[0]

    def test_encode_prunes_before_python(self, spark):
        plan = plan_of(q_clk_encode(spark, SF))
        # the documents table carries more columns than (doc_id, text);
        # only those two may reach the scan feeding MapInPandas
        read = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
        assert read and "doc_id" in read[0] and "text" in read[0]
        assert all("html" not in ln for ln in read)
        assert "MapInPandas" in plan

    def test_minhash_pairs_no_cartesian(self, spark):
        plan = plan_of(q_doc_minhash_pairs(spark, SF))
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan

    def test_lsh_topk_arrow_signatures_and_skinny_dedup(self, spark):
        """Multi-table LSH: signatures/dots run in Arrow UDFs (never
        interpreted Catalyst HOF lambdas), the bucket join is not a
        cartesian, and candidates dedup before the payload join."""
        import os as _os

        from pyspark.sql import functions as F

        from clkhash_spark.operators.similarity import lsh_topk

        emb = spark.read.parquet(
            _os.path.join(SF, "embeddings.parquet")
        )
        queries = emb.where(F.col("vec_id") < 5).select(
            F.col("vec_id").alias("query_id"), "embedding"
        )
        plan = plan_of(
            lsh_topk(emb, queries, k=10, num_planes=6, num_tables=4)
        )
        assert "ArrowEvalPython" in plan  # signature + dot UDFs
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan
        # interpreted HOF markers must be gone from this path
        assert "aggregate(" not in plan and "zip_with(" not in plan
        # skinny dedup before payload: a HashAggregate over the id pair
        assert "HashAggregate" in plan

    def test_two_party_pairs_stay_in_kid_domain(self, spark):
        """The two-party candidate join shuffles int64 kids only — no
        url strings — and applies the skew cap over the unioned bands."""
        from pyspark.sql import functions as F

        from clkhash_spark.operators.blocking import (
            block_keys,
            cap_block_size,
        )
        from clkhash_spark.operators.encode import encode_clks
        from clkhash_spark.operators.scoring import candidate_pairs
        from clkhash_spark.pipeline import webpages_schema
        from clkhash_spark.sources.webpages import synthetic_webpages

        def party(seed, is_b):
            pages = synthetic_webpages(spark, 60, seed=seed).select(
                "url", "text"
            )
            clk = encode_clks(
                pages, webpages_schema(), "s", key_cols=("url",)
            )
            kid = F.shiftrightunsigned(F.xxhash64(F.col("url")), 1)
            if is_b:
                kid = kid.bitwiseOR(F.lit(-(1 << 63)))
            return clk.withColumn("_kid", kid)

        bands = block_keys(
            party(1, False), l=1024, num_bands=4, bits_per_band=22,
            key_cols=("_kid",),
        ).unionByName(
            block_keys(
                party(2, True), l=1024, num_bands=4, bits_per_band=22,
                key_cols=("_kid",),
            )
        )
        capped, _ = cap_block_size(bands, 2000, key_cols=("_kid",))
        pairs = candidate_pairs(
            capped.where(F.col("_kid") >= 0),
            other=capped.where(F.col("_kid") < 0),
            key_col="_kid", min_band_matches=2,
        )
        assert dict(pairs.dtypes) == {
            "key_a": "bigint", "key_b": "bigint"
        }
        plan = plan_of(pairs)
        assert "CartesianProduct" not in plan
        assert "block_key" in plan  # join key is the band key
        # the pair join must not carry url strings through any exchange
        # (hash-shuffle at scale, broadcast at this fixture size)
        ex_lines = [
            ln for ln in plan.splitlines() if "Exchange" in ln
        ]
        assert all("url" not in ln for ln in ex_lines), ex_lines

    def test_ivf_topk_fixed_projection_assign_broadcast_probes(
        self, spark
    ):
        """IVF probe top-k: the corpus cell assignment is a pure
        projection (no join back to the source scan), the exploded
        query probes broadcast into the cell join, and the only
        Exchange left is the final per-query window."""
        from clkhash_spark.entry_queries import q_emb_ivf_topk

        import re

        # other test modules may have cached embeddings on the shared
        # session; a cache hit swaps the parquet scans for
        # InMemoryTableScans and breaks the scan-count property below
        spark.catalog.clearCache()
        plan = plan_of(q_emb_ivf_topk(spark, SF))
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan
        assert "BroadcastHashJoin" in plan  # probes join the corpus
        # exactly one non-broadcast exchange: the rank window's
        # hashpartitioning on query_id (cell assign adds none) —
        # formatted output puts the node header "(N) Exchange" and its
        # "Arguments: hashpartitioning(...)" on separate lines
        shuffle_nodes = re.findall(r"\(\d+\) Exchange\b", plan)
        assert len(shuffle_nodes) == 1, shuffle_nodes
        args = [
            ln for ln in plan.splitlines()
            if "hashpartitioning(" in ln
        ]
        assert args and all("query_id" in ln for ln in args), args
        # embeddings parquet is scanned exactly twice (corpus +
        # queries); formatted output repeats each node in the tree and
        # the detail list, so count detail headers only
        scans = re.findall(r"\(\d+\) Scan parquet", plan)
        assert len(scans) == 2, scans


class TestIvfSingleAssignPass:
    """The cell-assignment Arrow UDF must appear exactly once per input
    side in the physical plan. Before the asNondeterministic barrier,
    the inner cell-join's inferred IsNotNull(centroid_id) was pushed
    below the assigning projection and DUPLICATED the UDF — a second
    full Arrow assignment pass over the corpus (4 ArrowEvalPython
    nodes instead of 3: corpus assign, query probe, scoring dot)."""

    def _arrow_nodes(self, plan: str) -> int:
        import re

        return len(re.findall(r"\(\d+\) ArrowEvalPython", plan))

    def test_flat_kmeans_path(self, spark):
        import numpy as np

        from pyspark.sql import functions as F
        from clkhash_spark.operators import similarity as S

        emb = spark.read.parquet(os.path.join(SF, "embeddings.parquet"))
        queries = emb.where(F.col("vec_id") < 5).select(
            F.col("vec_id").alias("query_id"), "embedding"
        )
        cents = np.array(
            S.fixed_integer_centroids(8, 64, 42), dtype=np.float64
        )
        plan = plan_of(S.ivf_topk(emb, queries, cents, k=10, nprobe=2))
        assert self._arrow_nodes(plan) == 3, plan

    def test_two_level_path(self, spark):
        from pyspark.sql import functions as F
        from clkhash_spark.operators import similarity as S

        emb = spark.read.parquet(os.path.join(SF, "embeddings.parquet"))
        queries = emb.where(F.col("vec_id") < 5).select(
            F.col("vec_id").alias("query_id"), "embedding"
        )
        q = S.fixed_two_level_quantizer(4, 4, dim=64, seed=43)
        plan = plan_of(
            S.ivf_topk_two_level(emb, queries, q, k=10, nprobe=2)
        )
        assert self._arrow_nodes(plan) == 3, plan


@pytest.fixture(scope="class")
def capped_two_party(spark):
    """Two-party runs over the boilerplate fixture of
    tests/test_round3_fixes.py, 64 bands × 16 bits with the block-size
    cap at 16: the shared boilerplate text forms an 80-row block in
    every band, so the cap fires in all 64. Broadcast joins are off,
    so the pair join is a shuffle join even at this fixture size."""
    from clkhash_spark.pipeline import (
        LinkageConfig,
        run_linkage_two_party,
        webpages_schema,
    )

    from .test_round3_fixes import _two_party_with_boilerplate

    party_a, party_b, _ = _two_party_with_boilerplate(spark)
    runs = {}

    def run(cap_mode, key_id_mode="hash"):
        if (cap_mode, key_id_mode) not in runs:
            config = LinkageConfig(
                schema=webpages_schema(), secret="r3-megablock",
                num_bands=64, bits_per_band=16, max_block_size=16,
                block_cap_mode=cap_mode, key_id_mode=key_id_mode,
            )
            runs[cap_mode, key_id_mode] = run_linkage_two_party(
                spark, party_a, party_b, config
            )
        return runs[cap_mode, key_id_mode]

    broadcast = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    yield run
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", broadcast)
    spark.catalog.clearCache()


class TestTwoPartyCapFires:
    # sha256 of the sorted pairs and the sorted cluster memberships (the
    # digest perfbench checks), recorded before the single-table and
    # two-party pipelines became one stage graph
    DIGEST = "d3e53b819b97670fac0074c2e4b7325cd6b759ff8164fbe4f29d1459229523bc"

    @pytest.mark.parametrize(
        "cap_mode, join_exchanges", [("drop", 0), ("split", 2)]
    )
    def test_pair_join_reuses_blocks_partitioning(
        self, capped_two_party, cap_mode, join_exchanges
    ):
        """The capped blocks stay persisted, so the pair join keeps the
        blocks stage's hashpartitioning(block_key). Dropping oversized
        blocks is a filter and adds no join-side exchange; splitting
        rewrites block_key, so exactly the two join sides re-shuffle."""
        import re

        from clkhash_spark.pipeline import _candidate_pairs

        result = capped_two_party(cap_mode)
        acct = result.metrics["block_cap_accounting"]
        assert acct["oversized_blocks"] == 64, acct
        plan = plan_of(_candidate_pairs(
            result.blocks, True, result.config.min_band_matches
        ))
        # formatted output: "(N) Exchange", "Input [...]", "Arguments:"
        # lines per node; ENSURE_REQUIREMENTS marks planner-inserted
        # exchanges (the blocks stage's own is REPARTITION_BY_NUM)
        join_side = re.findall(
            r"^\(\d+\) Exchange\nInput .*\nArguments: hashpartitioning"
            r"\(block_key#\d+L, \d+\), ENSURE_REQUIREMENTS",
            plan, re.MULTILINE,
        )
        assert len(join_side) == join_exchanges, plan

    @pytest.mark.parametrize("key_id_mode", ["hash", "dense"])
    def test_split_cap_outputs_pinned(self, capped_two_party, key_id_mode):
        import hashlib
        from collections import defaultdict

        result = capped_two_party("split", key_id_mode)
        pairs = sorted(
            (r["key_a"], r["key_b"])
            for r in result.pairs.select("key_a", "key_b").collect()
        )
        members = defaultdict(list)
        for r in result.clusters.select("url", "cluster_id").collect():
            members[r["cluster_id"]].append(r["url"])
        clusters = sorted(sorted(m) for m in members.values())
        assert (len(pairs), len(clusters)) == (41, 399)
        digest = hashlib.sha256(repr((pairs, clusters)).encode())
        assert digest.hexdigest() == self.DIGEST
