"""Plan-shape regression tests: the 100 TB design claims, asserted.

Each test pins a property of the physical plan that the docstrings and
SCALE.md argue from — if a refactor silently breaks pushdown, drops a
broadcast, or turns top-k into a global sort, these fail before any
benchmark notices.  (tools/plan_audit.py is the complementary sweep for
anti-patterns across all 50 queries.)
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from dwca_parquet_spark import queries as Q
from dwca_parquet_spark.cache import release_caches
from tests.conftest import SF_T2


def plan_of(spark, name: str) -> str:
    df = Q.QUERIES[name](spark, SF_T2)
    s = df._jdf.queryExecution().executedPlan().toString()
    release_caches()
    return s


def test_filter_pushdown_reaches_scan(spark):
    """q02's predicates (BETWEEN/IN/LIKE/null) must reach the parquet
    scan as PushedFilters — a scan reading everything then filtering in
    Spark is the 100 TB failure mode."""
    plan = plan_of(spark, "q02_filter_project")
    assert "PushedFilters: [" in plan
    # at least one real filter pushed (not the empty list)
    pushed = plan.split("PushedFilters: [", 1)[1].split("]", 1)[0]
    assert pushed.strip(), "no filters pushed into the parquet scan"


def test_projection_pruning_reaches_scan(spark):
    """q13 touches 2 of orders' 6 columns; the scan's ReadSchema must
    carry only those — reading untouched columns is the 100 TB I/O
    failure mode."""
    plan = plan_of(spark, "q13_topk")
    read_schema = plan.split("ReadSchema: ", 1)[1].splitlines()[0]
    assert "o_orderkey" in read_schema and "o_totalprice" in read_schema
    for untouched in ("o_orderdate", "o_orderpriority", "o_custkey"):
        assert untouched not in read_schema


def test_star_join_broadcasts_dimensions(spark):
    """q03's nation/region/customer joins must be broadcast joins — a
    shuffled sort-merge against a 25-row dimension is wrong at any
    scale."""
    plan = plan_of(spark, "q03_star_join_revenue")
    assert plan.count("BroadcastHashJoin") >= 3


def test_topk_never_global_sorts(spark):
    """q13 must plan as TakeOrderedAndProject (per-partition top-k +
    k-row merge), never a full Sort followed by a limit."""
    plan = plan_of(spark, "q13_topk")
    assert "TakeOrderedAndProject" in plan


def test_text_projections_have_no_exchange(spark):
    """The text-stats family is scan-stage projection work; any Exchange
    in the plan means someone added an accidental shuffle."""
    for name in ("q25_text_stats", "q26_language_id", "q28_fingerprints"):
        assert "Exchange" not in plan_of(spark, name), name


def test_simhash_zero_shuffle(spark):
    """q31 (round-12 shape): normalize projection → ONE Arrow
    mapInPandas computing shingles + votes + fingerprint per document.
    Any Exchange means an accidental shuffle crept back in."""
    plan = plan_of(spark, "q31_simhash")
    assert plan.count("Exchange") == 0
    assert "MapInPandas" in plan


def test_simhash_arrow_path_matches_jvm_aggregation(spark):
    """Differential gate for the Arrow simhash kernel: it must reproduce
    the explode + 32-conditional-sum JVM aggregation bit-for-bit over
    the same shingle sets (both are exact integer arithmetic), at k = 3
    and at k = 7, where the stepwise % HASH_MOD of the shingle fold
    fires."""
    from dwca_parquet_spark.operators.dedup import (
        shingle_hash_table,
        simhash_fingerprints,
    )

    docs = spark.read.parquet(f"{SF_T2}/documents.parquet").limit(200)
    for k in (3, 7):
        got = {
            (r["doc_id"], r["simhash"])
            for r in simhash_fingerprints(docs, "doc_id", "text", k).collect()
        }
        sh = shingle_hash_table(docs, "doc_id", "text", k).persist()
        sh.count()
        exploded = sh.select(F.col("doc_id"), F.explode("hashes").alias("h"))
        aggs = [
            F.sum(
                F.when(
                    F.shiftright(F.col("h"), i).bitwiseAND(F.lit(1)) == 1, 1
                ).otherwise(-1)
            ).alias(f"s{i}")
            for i in range(32)
        ]
        votes = exploded.groupBy("doc_id").agg(*aggs)
        fp = F.lit(0).cast("long")
        for i in range(32):
            fp = fp + F.when(
                F.col(f"s{i}") > 0, F.lit(2**i).cast("long")
            ).otherwise(F.lit(0))
        want = {
            (r["doc_id"], r["simhash"])
            for r in votes.select("doc_id", fp.alias("simhash")).collect()
        }
        sh.unpersist()
        assert got == want, f"k={k}"


@pytest.mark.parametrize(
    "name", ["q29_dedup_exact", "q17_conditional_agg_having"]
)
def test_aggregations_combine_map_side(spark, name):
    """Partial aggregation before the shuffle: two HashAggregate levels
    around each Exchange (partial → final)."""
    plan = plan_of(spark, name)
    assert plan.count("HashAggregate") >= 2
    assert plan.count("Exchange") == 1


def test_interval_join_size_dispatch(spark):
    """interval_join's auto dispatch (VERDICT r11 #3): a small interval
    side must broadcast the exploded bucket table (BroadcastHashJoin —
    one streaming pass over points, zero shuffle); forcing the big-big
    path must plan the shuffled equi-join with ZERO nested loop; and
    both paths must return the identical result set."""
    from dwca_parquet_spark.operators.relational import interval_join

    o = spark.read.parquet(f"{SF_T2}/orders.parquet").select(
        "o_orderkey", "o_totalprice"
    )
    import pyspark.sql.functions as F

    p = spark.read.parquet(f"{SF_T2}/part.parquet").select(
        "p_partkey",
        (F.col("p_retailprice") * 100).alias("lo"),
        (F.col("p_retailprice") * 100 + 2000).alias("hi"),
    )

    auto = interval_join(o, p, "o_totalprice", "lo", "hi", 1024)
    plan_auto = auto._jdf.queryExecution().executedPlan().toString()
    # the small-side plan is the bucketized equi-join with the exploded
    # interval-bucket table BROADCAST — a BroadcastHashJoin, never a
    # nested loop (a broadcast theta join would evaluate the range
    # predicate |points|x|intervals| times) and never a shuffle
    assert "BroadcastHashJoin" in plan_auto
    assert "BroadcastNestedLoopJoin" not in plan_auto
    assert "Exchange hashpartitioning" not in plan_auto

    forced = interval_join(
        o, p, "o_totalprice", "lo", "hi", 1024, strategy="bucket"
    )
    plan_forced = forced._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan_forced
    assert "CartesianProduct" not in plan_forced

    # auto under a disabled threshold degrades to the bucket plan
    thr = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        big = interval_join(o, p, "o_totalprice", "lo", "hi", 1024)
        plan_big = big._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastNestedLoopJoin" not in plan_big
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thr)

    # identical result set either way
    key = ["o_orderkey", "p_partkey"]
    assert auto.select(*key).exceptAll(forced.select(*key)).count() == 0
    assert forced.select(*key).exceptAll(auto.select(*key)).count() == 0
