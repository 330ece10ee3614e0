"""Bloom-filter incremental dedup (SURVEY §2 round-4 extension): bitmap
build parity against DuckDB computing the identical hash arithmetic, and
the exactness theorem — dedup_incremental's output equals the plain
anti-join it replaces (bloom misses bypass the join; only candidates are
verified)."""

from __future__ import annotations

from pyspark.sql import functions as F

from dwca_parquet_spark.functions import hashing as H
from dwca_parquet_spark.operators.bloom import (
    bloom_build,
    bloom_params,
    bloom_probe,
    bloom_to_bytes,
    dedup_incremental,
    sql_bloom_bitmap,
)
from tests.conftest import SF_T2


def _content_hash_sql() -> str:
    return H.sql_poly_hash(H.sql_normalize_text("text"))


def test_bitmap_parity_duckdb(spark, duck):
    """Spark's distributed bitmap == DuckDB's, byte for byte."""
    m, k = bloom_params(2000, fpp=0.01)
    docs = spark.read.parquet(f"{SF_T2}/documents.parquet")
    keys = docs.select(
        H.normalize_text(F.col("text")).alias("_n")
    ).select(H.poly_hash(F.col("_n")).alias("_chash"))
    got = {
        r["word_idx"]: r["word_val"]
        for r in bloom_build(keys, "_chash", m, k).collect()
    }
    want = dict(
        duck.execute(
            sql_bloom_bitmap(_content_hash_sql(), "documents", m, k)
        ).fetchall()
    )
    assert got == want
    # and the serialized form round-trips the same bytes
    buf = bloom_to_bytes(bloom_build(keys, "_chash", m, k), m)
    assert len(buf) == m // 8
    for idx, val in want.items():
        assert buf[idx * 4 : (idx + 1) * 4] == int(val).to_bytes(4, "little")


def test_probe_no_false_negatives(spark):
    """Every inserted key probes true — the Bloom guarantee."""
    m, k = bloom_params(500, fpp=0.01)
    rows = spark.range(500).select((F.col("id") * 7 + 3).alias("h"))
    bitmap = bloom_build(rows, "h", m, k)
    probed = bloom_probe(rows, "h", bitmap, m, k)
    assert probed.filter(~F.col("might_contain")).count() == 0


def test_probe_false_positive_rate_bounded(spark):
    """Disjoint probe keys mostly miss; fp rate lands near the configured
    1% (allow 5x slack — m is rounded, k clamped)."""
    m, k = bloom_params(2000, fpp=0.01)
    inserted = spark.range(2000).select((F.col("id") * 2).alias("h"))
    bitmap = bloom_build(inserted, "h", m, k)
    probes = spark.range(4000).select((F.col("id") * 2 + 1).alias("h"))
    fp = bloom_probe(probes, "h", bitmap, m, k).filter(
        F.col("might_contain")
    ).count()
    assert fp / 4000 < 0.05


def test_dedup_incremental_equals_anti_join(spark):
    """The exactness theorem: incremental output == plain anti-join on the
    content hash, on a batch mixing true dups (verbatim + renormalized
    copies) with genuinely new rows."""
    docs = spark.read.parquet(f"{SF_T2}/documents.parquet")
    history = docs.filter(F.col("doc_id") % 3 != 0).select("doc_id", "text")
    fresh = docs.filter(F.col("doc_id") % 3 == 0).select("doc_id", "text")
    # dups: copies of history text, some with case/whitespace noise that
    # normalization must collapse back onto the history key
    dups = (
        history.filter(F.col("doc_id") % 7 == 1)  # deterministic subset
        .select(
            (F.col("doc_id") + 10_000_000).alias("doc_id"),
            F.when(F.col("doc_id") % 2 == 0, F.upper(F.col("text")))
            .otherwise(F.concat(F.lit("  "), F.col("text"), F.lit("\t")))
            .alias("text"),
        )
    )
    batch = fresh.unionByName(dups)

    got = dedup_incremental(batch, history, "doc_id", "text", fpp=0.01)

    def keyed(df):
        return df.select(
            "doc_id", H.normalize_text(F.col("text")).alias("_n")
        ).select("doc_id", H.poly_hash(F.col("_n")).alias("_chash"))

    want = (
        keyed(batch)
        .join(keyed(history).select("_chash").distinct(), "_chash", "left_anti")
        .select("doc_id")
    )
    got_ids = sorted(r["doc_id"] for r in got.select("doc_id").collect())
    want_ids = sorted(r["doc_id"] for r in want.collect())
    assert got_ids == want_ids
    # none of the dup rows survive; schema is the batch schema
    assert all(i < 10_000_000 for i in got_ids)
    assert got.columns == batch.columns


def test_probe_plan_is_broadcast_only(spark):
    """The batch side must stream: every bitmap join is a broadcast hash
    join and the probe plan contains no shuffle Exchange."""
    m, k = bloom_params(100, fpp=0.01)
    rows = spark.range(100).select((F.col("id") + 1).alias("h"))
    bitmap = bloom_build(rows, "h", m, k)
    plan = (
        bloom_probe(spark.range(50).select(F.col("id").alias("h")), "h",
                    bitmap, m, k)
        ._jdf.queryExecution().executedPlan().toString()
    )
    probe_side = plan.split("BroadcastHashJoin")[0]
    assert "Exchange hashpartitioning" not in probe_side
    assert plan.count("BroadcastHashJoin") == k


def test_incremental_minhash_equals_cross_pairs_of_full_run(spark):
    """The fuzzy incremental theorem: probing the stored LSH state with a
    batch yields exactly the cross pairs of a from-scratch LSH run over
    history ∪ batch."""
    from dwca_parquet_spark.operators.dedup import (
        lsh_state,
        minhash_dup_pairs,
        minhash_dup_pairs_incremental,
    )

    docs = spark.read.parquet(f"{SF_T2}/documents.parquet").select(
        "doc_id", "text"
    )
    history = docs.filter(F.col("doc_id") % 4 != 0)
    batch = docs.filter(F.col("doc_id") % 4 == 0)

    buckets, shingles = lsh_state(history, "doc_id", "text")
    got = sorted(
        map(
            tuple,
            minhash_dup_pairs_incremental(
                batch, buckets, shingles, "doc_id", "text", threshold=0.5
            ).collect(),
        )
    )

    full = minhash_dup_pairs(docs, "doc_id", "text", threshold=0.5)
    want = sorted(
        (r["id_a"], r["id_b"], r["jaccard"])
        if r["id_a"] % 4 != 0
        else (r["id_b"], r["id_a"], r["jaccard"])
        for r in full.collect()
        if (r["id_a"] % 4 == 0) != (r["id_b"] % 4 == 0)  # cross pairs only
    )
    assert got == want
    assert len(got) > 0  # the fixture's planted near-dups span the split


def test_incremental_minhash_probes_older_stored_state(spark, duck, tmp_path):
    """A stored LSH state in the older form — JVM shingle_hash_table rows
    (first-occurrence-ordered arrays, empty arrays for short docs, NULL
    for a NULL text) plus the bucket table the oracle SQL computes,
    written as parquet — probes to the same pairs as the state lsh_state
    writes now, and lsh_state's buckets are bit-identical to it:
    persisted states survive the upgrade. (First 100 docs only: the JVM
    shingle table is slow to build.)"""
    from dwca_parquet_spark import queries as Q
    from dwca_parquet_spark.operators.dedup import (
        lsh_state,
        minhash_dup_pairs_incremental,
        shingle_hash_table,
    )

    docs = (
        spark.read.parquet(f"{SF_T2}/documents.parquet")
        .select("doc_id", "text")
        .filter(F.col("doc_id") < 100)
    )
    short = spark.createDataFrame(
        [(10_000, ""), (10_001, "xy"), (10_002, None)],
        docs.schema,
    )
    history = docs.filter(F.col("doc_id") % 4 != 0).unionByName(short)
    batch = docs.filter(F.col("doc_id") % 4 == 0)

    # the older bucket table: the q30 oracle's `bb` (short docs have none)
    q30 = Q.ORACLES["q30_minhash_lsh_pairs"]
    bb_sql = (
        q30[: q30.index("cand AS (")].rstrip().rstrip(",")
        + "\nSELECT doc_id, band, bucket FROM bb"
        + " WHERE doc_id % 4 <> 0 AND doc_id < 100"
    )
    old_bb = sorted(duck.sql(bb_sql).fetchall())
    spark.createDataFrame(
        old_bb, "doc_id long, band int, bucket long"
    ).write.parquet(str(tmp_path / "buckets"))
    shingle_hash_table(history, "doc_id", "text").write.parquet(
        str(tmp_path / "shingles")
    )
    old_buckets = spark.read.parquet(str(tmp_path / "buckets"))
    old_shingles = spark.read.parquet(str(tmp_path / "shingles"))
    assert old_shingles.filter(F.size("hashes") == 0).count() == 2
    assert old_shingles.filter(F.col("hashes").isNull()).count() == 1

    buckets, shingles = lsh_state(history, "doc_id", "text")
    assert sorted(map(tuple, buckets.collect())) == old_bb
    assert shingles.count() == history.count() - 3

    def probe(b, s):
        return sorted(
            map(
                tuple,
                minhash_dup_pairs_incremental(
                    batch, b, s, "doc_id", "text", threshold=0.5
                ).collect(),
            )
        )

    got = probe(old_buckets, old_shingles)
    assert got == probe(buckets, shingles) and len(got) > 0
