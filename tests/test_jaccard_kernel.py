"""Gates for the MinHash-LSH verify kernel
(`dedup._bucket_jaccard_pairs_arrow`), which every MinHash-LSH caller
runs. Its pair set must equal the q30 oracle SQL — DuckDB running the
generic explode → 16 min → band fold → bucket self-join → distinct →
exact Jaccard plan — for text shingles at several k and for external
(doc_id, hashes) tables, including cross-band pair dedup, the
max_bucket_size skew guard, string ids and the rejected threshold."""
from __future__ import annotations

import duckdb
import pandas as pd
import pytest

from pyspark.sql import functions as F

from dwca_parquet_spark.operators.dedup import (
    dedup_clusters,
    dup_pairs_from_hash_sets,
    minhash_dup_pairs,
    shingle_hash_table,
)
from dwca_parquet_spark.queries import _minhash_oracle


def _corpus(n=40, n_dups=6):
    """Near-dup-rich corpus: exact dups (co-bucket in EVERY band — the
    cross-band dedup case), shingle-level near-dups, and unrelated
    filler."""
    base = [
        "the quick brown fox jumps over the lazy dog number %d unique" % i
        for i in range(n)
    ]
    rows = [(i, t) for i, t in enumerate(base)]
    rows += [(100 + i, base[i]) for i in range(n_dups)]  # exact dups
    rows += [
        (200 + i, base[i] + " extra tail words appended here")
        for i in range(n_dups)
    ]  # near-dups
    rows += [(300, ""), (301, "xy")]  # below-k docs drop out entirely
    return rows


def _oracle_pairs(rows, k=3, threshold=0.5):
    """{(id_a, id_b): jaccard} from the q30 oracle SQL over ``rows``."""
    con = duckdb.connect()
    try:
        con.register("documents", pd.DataFrame(rows, columns=["doc_id", "text"]))
        return {
            (a, b): j
            for a, b, j in con.sql(_minhash_oracle(k, threshold)).fetchall()
        }
    finally:
        con.close()


def _pairs(df):
    got = [(r["id_a"], r["id_b"], r["jaccard"]) for r in df.collect()]
    out = {(a, b): j for a, b, j in got}
    # every pair once: exact dups co-bucket in all 4 bands and the
    # kernel must still emit them a single time
    assert len(out) == len(got)
    return out


@pytest.mark.parametrize("k", [3, 7])
@pytest.mark.parametrize("threshold", [0.2, 0.5, 0.9])
def test_kernel_matches_duckdb_oracle(spark, threshold, k):
    rows = _corpus()
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = _pairs(
        minhash_dup_pairs(df, "doc_id", "text", k=k, threshold=threshold)
    )
    assert got == _oracle_pairs(rows, k, threshold)
    assert got[(0, 100)] == 1.0


@pytest.mark.parametrize("k", [3, 7])
def test_hash_set_table_matches_duckdb_oracle(spark, k):
    """An external (doc_id, hashes) table shaped like
    payload_neardup_pairs': hashes regrouped by
    array_distinct(collect_list) in arbitrary order (k = 7 shingle
    hashes span the whole [0, HASH_MOD) range), plus an empty and a
    NULL array that can never be candidates."""
    rows = _corpus()
    df = spark.createDataFrame(rows, "doc_id long, text string")
    sh = (
        shingle_hash_table(df, "doc_id", "text", k)
        .select("doc_id", F.explode("hashes").alias("_fh"))
        .groupBy("doc_id")
        .agg(F.array_distinct(F.collect_list("_fh")).alias("hashes"))
        .unionByName(
            spark.createDataFrame(
                [(400, []), (401, None)], "doc_id long, hashes array<bigint>"
            )
        )
    )
    got = _pairs(dup_pairs_from_hash_sets(sh, "doc_id", threshold=0.5))
    assert got == _oracle_pairs(rows, k, 0.5) and len(got) > 0


def test_kernel_respects_max_bucket_size(spark):
    # every doc identical → one giant bucket per band; a guard below
    # the bucket size must drop ALL pairs
    rows = [(i, "same text for everyone in this bucket") for i in range(12)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = minhash_dup_pairs(
        df, "doc_id", "text", threshold=0.5, max_bucket_size=5
    ).collect()
    assert got == []
    # and with a permissive guard the full clique comes back
    got2 = minhash_dup_pairs(
        df, "doc_id", "text", threshold=0.5, max_bucket_size=50
    ).collect()
    assert len(got2) == 12 * 11 // 2


def test_kernel_string_ids(spark):
    rows = [
        (f"doc-{i:03d}", t)
        for i, (_, t) in enumerate(_corpus(n=15, n_dups=3))
    ]
    df = spark.createDataFrame(rows, "doc_id string, text string")
    got = _pairs(minhash_dup_pairs(df, "doc_id", "text"))
    assert got == _oracle_pairs(rows) and len(got) > 0
    assert all(a < b for a, b in got)


def test_kernel_empty_result(spark):
    rows = [(i, "completely unrelated text %d %d" % (i * 7, i * 13)) for i in range(6)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    assert minhash_dup_pairs(df, "doc_id", "text", threshold=0.99).collect() == []


@pytest.mark.parametrize(
    "entry", ["minhash_dup_pairs", "dup_pairs_from_hash_sets", "dedup_clusters"]
)
def test_nonpositive_threshold_rejected(spark, entry):
    df = spark.createDataFrame(_corpus(n=4, n_dups=1), "doc_id long, text string")
    call = {
        "minhash_dup_pairs": lambda t: minhash_dup_pairs(
            df, "doc_id", "text", threshold=t
        ),
        "dup_pairs_from_hash_sets": lambda t: dup_pairs_from_hash_sets(
            shingle_hash_table(df, "doc_id", "text"), "doc_id", threshold=t
        ),
        "dedup_clusters": lambda t: dedup_clusters(
            df, "doc_id", "text", threshold=t
        ),
    }[entry]
    for t in (None, 0, -0.5):
        with pytest.raises(ValueError, match="threshold"):
            call(t)
