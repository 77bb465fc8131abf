"""The benchmark's linkage workloads: seeded inputs, pipeline calls and
output checks.

Inputs come from ``clkhash_spark.sources.webpages`` with the run's seed;
the pipeline sees only the generated DataFrames. Every workload uses the
default :class:`~clkhash_spark.pipeline.LinkageConfig` with
``secret="bench-secret"``.
"""

from __future__ import annotations

import hashlib
from collections import Counter, defaultdict
from dataclasses import dataclass
from typing import Dict, List, Optional, Tuple

SECRET = "bench-secret"
FIXTURE_GROUP = "bench:fixture"


@dataclass(frozen=True)
class Size:
    rows: int  # records across all inputs
    min_words: int = 30
    max_words: int = 80


@dataclass(frozen=True)
class Workload:
    name: str
    why: str
    kind: str  # "dedup" or "two_party"
    # "bench" sizes fit the timed window; "full" is the size the linkage
    # invariants were first recorded at.
    sizes: Dict[str, Size]
    # Rows in the kernel batch: about the same number of words for short
    # and long pages, so one encode call takes a similar time.
    kernel_rows: int = 10_000


WORKLOADS = {
    w.name: w for w in (
        Workload(
            "dedup_short",
            "short pages: banded rows and the self-join dominate, so blocks and pairs are the largest stages",
            "dedup", {"bench": Size(8_000), "full": Size(100_000)}),
        Workload(
            "link_two_party",
            "two encodes, a cross-party join and 1-1 matching; most banded rows have no cross-party partner",
            "two_party", {"bench": Size(4_000), "full": Size(100_000)}),
        Workload(
            "dedup_long",
            "long crawl-like pages: encoding dominates and blocks and pairs do little work",
            # At the timed size, pages twice as long as at full scale keep
            # clks the largest stage against the fixed per-job cost of the
            # other stages.
            "dedup", {"bench": Size(3_000, 800, 1_600), "full": Size(25_000, 400, 800)},
            kernel_rows=500),
    )
}

# Outputs recorded at seed 42. "full" rows are the linkage invariants
# (29,229 pairs, F1 0.997795, 24,919 two-party matches); "bench" rows pin
# the smaller inputs the timed runs use.
PINNED: Dict[Tuple[str, str, int], Dict[str, float]] = {
    ("dedup_short", "full", 42): {"pairs": 29_229, "f1": 0.997795},
    ("link_two_party", "full", 42): {"pairs": 24_919},
    ("dedup_short", "bench", 42): {"pairs": 2_374, "f1": 1.0},
    ("link_two_party", "bench", 42): {"pairs": 999},
    ("dedup_long", "bench", 42): {"pairs": 891, "f1": 1.0},
}

# Any seed: a run below these is wrong output, not a slow run.
MIN_RECALL = 0.97
MIN_PRECISION = 0.97


@dataclass
class Fixture:
    """Generated inputs, persisted and counted, plus ground truth."""

    inputs: tuple          # DataFrames handed to the pipeline
    rows: int              # records across all inputs
    entity: Dict[str, int]  # record key → true entity id
    truth_matches: int     # true pairs (dedup) or shared entities (two-party)


@dataclass
class Outcome:
    pairs: int
    recall: float
    precision: float
    f1: float
    digest: str  # hash of the sorted pairs and the cluster membership


def with_group(spark, group: Optional[str], fn):
    sc = spark.sparkContext
    sc.setLocalProperty("spark.jobGroup.id", group)
    try:
        return fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)


def _generate(spark, fn):
    """Run fixture generation under its own job group, without whole-stage
    code generation. The generator's word lookup compiles slowly as one
    whole-stage class: 2,500 long pages took 10.7 s with it and 3.9 s
    without, on a 4-core VM. The rows are the same either way."""
    conf = spark.conf
    prior = conf.get("spark.sql.codegen.wholeStage")
    conf.set("spark.sql.codegen.wholeStage", "false")
    try:
        return with_group(spark, FIXTURE_GROUP, fn)
    finally:
        conf.set("spark.sql.codegen.wholeStage", prior)


def build_fixture(spark, workload: Workload, seed: int, scale: str) -> Fixture:
    """Generate, persist and count the workload's inputs."""
    from clkhash_spark.sources.webpages import (
        synthetic_webpage_parties,
        synthetic_webpages,
    )

    size = workload.sizes[scale]
    words = dict(min_words=size.min_words, max_words=size.max_words)
    rows = size.rows

    def build() -> Fixture:
        if workload.kind == "dedup":
            pages = synthetic_webpages(spark, rows, seed=seed, **words)
            pages = pages.select("url", "text", "entity_id").persist()
            entity = {r["url"]: r["entity_id"]
                      for r in pages.select("url", "entity_id").collect()}
            truth = _pairs_within(Counter(entity.values()).values())
            return Fixture((pages.select("url", "text"),), len(entity),
                           entity, truth)
        party_a, party_b, shared = synthetic_webpage_parties(
            spark, rows // 2, overlap=0.5, seed=seed, **words)
        parties = tuple(p.persist() for p in (party_a, party_b))
        entity = {r["key"]: r["entity_id"]
                  for p in parties for r in p.select("key", "entity_id").collect()}
        return Fixture(tuple(p.select("key", "text") for p in parties),
                       len(entity), entity, shared)

    return _generate(spark, build)


def kernel_texts(spark, workload: Workload, seed: int, scale: str) -> List[str]:
    """Page texts for the kernel batch, from the workload's generator with
    the next seed, so the batch is not the timed input."""
    from clkhash_spark.sources.webpages import synthetic_webpages

    size = workload.sizes[scale]
    pages = synthetic_webpages(spark, workload.kernel_rows, seed=seed + 1,
                               min_words=size.min_words, max_words=size.max_words)
    return _generate(spark, lambda: [r["text"] for r in pages.select("text").collect()])


def linkage_config(workload: Workload):
    from clkhash_spark.pipeline import LinkageConfig, webpages_schema

    key_col = "url" if workload.kind == "dedup" else "key"
    return LinkageConfig(schema=webpages_schema(), secret=SECRET, key_col=key_col)


def run_pipeline(spark, workload: Workload, fixture: Fixture, config):
    """The timed call: one public pipeline entry point, fully materialized
    (every stage is checkpointed and counted before it returns)."""
    from clkhash_spark.pipeline import run_linkage, run_linkage_two_party

    if workload.kind == "dedup":
        return run_linkage(spark, fixture.inputs[0], config)
    return run_linkage_two_party(spark, *fixture.inputs, config)


def _pairs_within(sizes) -> int:
    """Unordered pairs inside groups of the given sizes."""
    return sum(s * (s - 1) // 2 for s in sizes)


def check_outcome(workload: Workload, fixture: Fixture, result) -> Outcome:
    """Collect the run's pairs and clusters, score them against the
    generator's truth, and hash them for run-to-run comparison."""
    key_col = result.config.key_col
    pairs = sorted((r["key_a"], r["key_b"])
                   for r in result.pairs.select("key_a", "key_b").collect())
    members: Dict[object, List[str]] = defaultdict(list)
    for r in result.clusters.select(key_col, "cluster_id").collect():
        members[r["cluster_id"]].append(r[key_col])
    clusters = sorted(sorted(m) for m in members.values())
    digest = hashlib.sha256(repr((pairs, clusters)).encode()).hexdigest()

    entity = fixture.entity
    if workload.kind == "dedup":
        # Pairwise quality of the clustering: every intra-cluster pair is
        # a predicted match.
        predicted = _pairs_within(len(c) for c in clusters)
        tp = sum(_pairs_within(Counter(entity[k] for k in c).values())
                 for c in clusters)
    else:
        predicted = len(pairs)
        tp = sum(entity[a] == entity[b] for a, b in pairs)
    truth = fixture.truth_matches
    precision = tp / predicted if predicted else 1.0
    recall = tp / truth if truth else 1.0
    f1 = 2 * precision * recall / (precision + recall) if precision + recall else 0.0
    return Outcome(len(pairs), recall, precision, f1, digest)


def outcome_errors(workload: Workload, scale: str, seed: int,
                   outcome: Outcome, reference: Optional[Outcome]) -> List[str]:
    """Every way ``outcome`` is wrong; empty when it is correct."""
    errors = []
    if reference is not None and outcome.digest != reference.digest:
        errors.append("pairs or clusters differ from the first run of this seed")
    if outcome.recall < MIN_RECALL:
        errors.append(f"recall {outcome.recall:.6f} < {MIN_RECALL}")
    if outcome.precision < MIN_PRECISION:
        errors.append(f"precision {outcome.precision:.6f} < {MIN_PRECISION}")
    pinned = PINNED.get((workload.name, scale, seed), {})
    if "pairs" in pinned and outcome.pairs != pinned["pairs"]:
        errors.append(f"{outcome.pairs} pairs, pinned {pinned['pairs']}")
    if "f1" in pinned and round(outcome.f1, 6) != pinned["f1"]:
        errors.append(f"F1 {outcome.f1:.6f}, pinned {pinned['f1']}")
    return errors


def pipeline_readouts(workload: Workload, result, metrics: Dict[str, float]
                      ) -> Tuple[Dict[str, float], List[str]]:
    """Traced-run counts that need the run's blocks table: how much of the
    banded volume can yield a pair, how many candidates were scored, and
    the blocks-shuffle invariant (one shuffled row per banded row, plus
    the cap aggregate's per-partition partial counts)."""
    from pyspark.sql import functions as F

    from clkhash_spark.operators.scoring import candidate_pairs

    blocks = result.blocks
    key = next(c for c in blocks.columns if c != "block_key")
    config = result.config
    if workload.kind == "dedup":
        per_block = blocks.groupBy("block_key").agg(F.count("*").alias("n"))
        pairable = F.when(F.col("n") >= 2, F.col("n"))
        candidates = candidate_pairs(
            blocks, key_col=key, min_band_matches=config.min_band_matches)
    else:
        # Party B records carry a negative key id; a block can only yield
        # a pair when both parties are in it.
        is_a = (F.col(key) >= 0).cast("long")
        per_block = blocks.groupBy("block_key").agg(
            F.count("*").alias("n"), F.sum(is_a).alias("a"))
        pairable = F.when((F.col("a") > 0) & (F.col("a") < F.col("n")), F.col("n"))
        candidates = candidate_pairs(
            blocks.where(F.col(key) >= 0), other=blocks.where(F.col(key) < 0),
            key_col=key, min_band_matches=config.min_band_matches)
    row = per_block.agg(F.sum("n").alias("rows"),
                        F.coalesce(F.sum(pairable), F.lit(0)).alias("pairable")).first()
    num_candidates = candidates.count()
    banding = result.metrics["banding"]
    banded = banding["n_rows"] * banding["num_bands"]
    excess = metrics["blocks.shuffle_write_records"] - banded
    violations = []
    if not 0 <= excess <= 0.01 * banded:
        violations.append(
            f"blocks shuffled {metrics['blocks.shuffle_write_records']:.0f} "
            f"records for {banded} banded rows")
    return {
        "blocks.pairable_share": row["pairable"] / row["rows"] if row["rows"] else 0.0,
        "pairs.candidates": num_candidates,
        "pairs.accept_share": (result.metrics["pairs_rows"] / num_candidates
                               if num_candidates else 0.0),
        "clusters.edges": result.metrics["pairs_rows"],
        "invariant.blocks_shuffle_excess_records": excess,
    }, violations
