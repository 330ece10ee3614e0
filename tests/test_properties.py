"""Property-based tests (SURVEY §5.5): hypothesis-generated inputs against
engine invariants — CSV round-trips, join cardinality laws, dedup
idempotence, top-k consistency, as-of join vs a naive reference, and the
planted-duplicate guarantee of MinHash LSH.

Each example runs real Spark jobs, so example counts stay small and inputs
tiny; the value is the input-space coverage, not volume.
"""

from __future__ import annotations

from collections import Counter

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from pyspark.sql import functions as F

from dwca_parquet_spark.operators.dedup import minhash_dup_pairs
from dwca_parquet_spark.operators.events import asof_join
from dwca_parquet_spark.operators.relational import (
    dedup_latest,
    interval_join,
    topk,
)
from dwca_parquet_spark.operators.sampling import hash_split
from dwca_parquet_spark.sinks.csv import read_csv, write_csv

SETTINGS = settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

# printable ASCII incl. quotes/commas/semicolons; no \r\n (multiLine CSV is
# deliberately out of the sink's contract)
CSV_TEXT = st.text(
    alphabet=st.characters(min_codepoint=0x20, max_codepoint=0x7E),
    max_size=40,
)


@SETTINGS
@given(
    rows=st.lists(
        st.tuples(st.integers(-(2**31), 2**31), st.one_of(st.none(), CSV_TEXT)),
        min_size=1,
        max_size=30,
    )
)
def test_csv_roundtrip(spark, tmp_path_factory, rows):
    """write_csv → read_csv is lossless for ints, NULLs, and quoted text."""
    df = spark.createDataFrame(rows, "id long, txt string")
    out = tmp_path_factory.mktemp("csv") / "t.csv"
    write_csv(df, out, single_file=True)
    back = read_csv(spark, out, "id long, txt string")
    # the sink writes nullValue=\N and emptyValue="" — empty string survives
    assert Counter(map(tuple, back.collect())) == Counter(rows)


@SETTINGS
@given(
    lkeys=st.lists(st.integers(0, 5), min_size=0, max_size=20),
    rkeys=st.lists(st.integers(0, 5), min_size=0, max_size=20),
)
def test_join_cardinality_laws(spark, lkeys, rkeys):
    """Exact cardinalities of inner/semi/anti/left joins from key counts."""
    left = spark.createDataFrame([(k,) for k in lkeys], "k long")
    right = spark.createDataFrame([(k,) for k in rkeys], "k long")
    lc, rc = Counter(lkeys), Counter(rkeys)
    inner = left.join(right, "k").count()
    semi = left.join(right, "k", "left_semi").count()
    anti = left.join(right, "k", "left_anti").count()
    louter = left.join(right, "k", "left").count()
    assert inner == sum(lc[k] * rc[k] for k in lc)
    assert semi == sum(c for k, c in lc.items() if k in rc)
    assert anti == sum(c for k, c in lc.items() if k not in rc)
    assert louter == inner + anti
    assert semi + anti == len(lkeys)


@SETTINGS
@given(
    rows=st.lists(
        st.tuples(st.integers(0, 4), st.integers(0, 100), st.integers(0, 10**6)),
        min_size=1,
        max_size=40,
    )
)
def test_dedup_latest_idempotent(spark, rows):
    """dedup(dedup(x)) == dedup(x), and the survivor is the max-order row."""
    df = spark.createDataFrame(rows, "k long, ord long, uid long")
    order = [F.col("ord").desc(), F.col("uid").desc()]
    once = dedup_latest(df, ["k"], order)
    twice = dedup_latest(once, ["k"], order)
    got = sorted(map(tuple, once.collect()))
    assert got == sorted(map(tuple, twice.collect()))
    best = {}
    for k, o, u in rows:
        if k not in best or (o, u) > (best[k][1], best[k][2]):
            best[k] = (k, o, u)
    assert got == sorted(best.values())


@SETTINGS
@given(
    vals=st.lists(st.integers(-1000, 1000), min_size=1, max_size=50),
    k=st.integers(1, 10),
)
def test_topk_matches_sorted_head(spark, vals, k):
    rows = [(i, v) for i, v in enumerate(vals)]
    df = spark.createDataFrame(rows, "uid long, v long")
    got = [
        (r["uid"], r["v"])
        for r in topk(df, [F.col("v").desc(), F.col("uid").asc()], k).collect()
    ]
    expect = sorted(rows, key=lambda r: (-r[1], r[0]))[:k]
    assert got == expect


@SETTINGS
@given(
    lrows=st.lists(
        st.tuples(st.integers(0, 3), st.integers(0, 50)), min_size=1, max_size=20
    ),
    rrows=st.lists(
        st.tuples(st.integers(0, 3), st.integers(0, 50), st.integers(0, 9)),
        min_size=0,
        max_size=20,
    ),
)
def test_asof_join_matches_naive(spark, lrows, rrows):
    """asof_join == per-row 'latest right at or before' reference.

    Right rows are deduped to one per (key, ts) first — duplicate right
    timestamps are the documented ambiguous case (same as DuckDB ASOF).
    """
    rdedup = {}
    for k, ts, v in rrows:
        if (k, ts) not in rdedup or v > rdedup[(k, ts)]:
            rdedup[(k, ts)] = v
    rlist = [(k, ts, v) for (k, ts), v in rdedup.items()]
    left = spark.createDataFrame(
        [(i, k, ts) for i, (k, ts) in enumerate(lrows)], "uid long, k long, ts long"
    )
    right = spark.createDataFrame(rlist, "k long, ts long, v long")
    out = {
        r["uid"]: (r["r_ts"], r["r_v"])
        for r in asof_join(left, right, "k", "ts", ["ts", "v"])
        .selectExpr("uid", "r_ts", "r_v")
        .collect()
    }
    for i, (k, ts) in enumerate(lrows):
        cands = [(rts, v) for (rk, rts, v) in rlist if rk == k and rts <= ts]
        expect = max(cands) if cands else (None, None)
        assert out[i] == expect, (i, k, ts)


@pytest.mark.parametrize("n_dups", [3])
def test_minhash_planted_exact_dups(spark, n_dups):
    """Planted exact duplicates ALWAYS surface: identical texts share every
    band bucket, so LSH candidate generation cannot miss them and the
    verify stage scores jaccard 1.0."""
    base = [
        "the quick brown fox jumps over the lazy dog number %d unique" % i
        for i in range(20)
    ]
    rows = [(i, t) for i, t in enumerate(base)]
    # duplicate the first n_dups docs under new ids
    rows += [(100 + i, base[i]) for i in range(n_dups)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in minhash_dup_pairs(df, "doc_id", "text").collect()
    }
    for i in range(n_dups):
        assert pairs.get((i, 100 + i)) == 1.0


@SETTINGS
@given(
    points=st.lists(st.integers(-50, 50), min_size=0, max_size=25),
    ivs=st.lists(
        st.tuples(st.integers(-60, 60), st.integers(0, 25)),
        min_size=0,
        max_size=15,
    ),
    width=st.sampled_from([1, 3, 7, 16]),
)
def test_interval_join_matches_naive(spark, points, ivs, width):
    """Bucketized interval_join == the naive theta join, for any bucket
    width (incl. negative domains and empty/boundary intervals)."""
    pts = spark.createDataFrame(
        [(i, p) for i, p in enumerate(points)], "pid long, p long"
    )
    intervals = spark.createDataFrame(
        [(j, lo, lo + ln) for j, (lo, ln) in enumerate(ivs)],
        "iid long, lo long, hi long",
    )
    got = Counter(
        (r.pid, r.iid)
        for r in interval_join(pts, intervals, "p", "lo", "hi", width).collect()
    )
    want = Counter(
        (i, j)
        for i, p in enumerate(points)
        for j, (lo, ln) in enumerate(ivs)
        if lo <= p < lo + ln
    )
    assert got == want


def _py_poly_hash(s: str) -> int:
    h = 0
    for ch in s:
        h = (h * 31 + ord(ch)) % 1_000_000_007
    return h


@SETTINGS
@given(keys=st.lists(st.integers(0, 10**9), min_size=1, max_size=30))
def test_hash_split_matches_python(spark, keys):
    """Split labels are a pure function of the key — cross-checked against
    an independent Python reimplementation of the portable hash."""
    df = spark.createDataFrame([(k,) for k in keys], "k long")
    got = {r.k: r.split for r in hash_split(df, "k").collect()}
    for k in set(keys):
        b = _py_poly_hash(str(k)) % 100
        want = "train" if b < 80 else ("val" if b < 90 else "test")
        assert got[k] == want


@SETTINGS
@given(keys=st.lists(st.integers(0, 10**9), min_size=5, max_size=60, unique=True))
def test_hash_sample_nesting(spark, keys):
    """Threshold sampling nests: sample(f1) ⊆ sample(f2) for f1 ≤ f2 —
    the property that makes subsample-then-grow workflows reproducible
    (a bigger budget strictly extends the smaller sample, never reshuffles
    it). randomSplit/sample have no such guarantee."""
    from dwca_parquet_spark.operators.sampling import hash_sample

    df = spark.createDataFrame([(k,) for k in keys], "k long")
    small = {r.k for r in hash_sample(df, "k", 0.2).collect()}
    big = {r.k for r in hash_sample(df, "k", 0.6).collect()}
    assert small <= big


@SETTINGS
@given(
    words=st.lists(
        st.text(alphabet="abcdefg", min_size=1, max_size=5),
        min_size=0,
        max_size=40,
    ),
    chunk=st.integers(2, 12),
)
def test_chunk_documents_reconstructs(spark, words, chunk):
    """With overlap=0, concatenating the chunks in index order gives back
    exactly the token stream — no token lost, duplicated, or reordered."""
    from dwca_parquet_spark.operators.text import chunk_documents, tokens

    text = " ".join(words)
    df = spark.createDataFrame([(1, text)], "id long, t string")
    rows = sorted(
        (r.chunk_idx, r.chunk_text)
        for r in chunk_documents(df, "id", "t", chunk_tokens=chunk, overlap=0)
        .collect()
    )
    rebuilt = [w for _, t in rows for w in t.split()]
    expected = df.select(tokens(F.col("t")).alias("tk")).collect()[0].tk
    assert rebuilt == expected


def test_pair_jaccard_length_filter_lossless(spark):
    """The set-similarity length filter in pair_jaccard (threshold=...) is
    EXACTLY lossless: on a corpus whose doc lengths spread 20x (so the
    size-ratio prune actually fires), the thresholded plan returns the
    identical pair set + scores as the unpruned plan, including pairs
    whose 6-dp-rounded jaccard lands exactly on the threshold."""
    import random

    from dwca_parquet_spark.operators.dedup import (
        _shingle_minhash_buckets_arrow,
        dup_pairs_from_hash_sets,
        pair_jaccard,
        shingle_hash_table,
    )
    from dwca_parquet_spark.cache import persist_tracked, release_caches

    rng = random.Random(20260814)
    vocab = [f"w{i}" for i in range(25)]  # small vocab -> real collisions
    rows = []
    for i in range(120):
        ln = rng.choice([5, 8, 15, 30, 60, 100])
        rows.append((i, " ".join(rng.choice(vocab) for _ in range(ln))))
    # planted near-dups across DIFFERENT lengths (must survive the filter)
    rows += [(200 + i, rows[i][1] + " w0 w1") for i in range(5)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    t = 0.5

    def run(threshold):
        sh = persist_tracked(shingle_hash_table(df, "doc_id", "text", 3))
        buckets = persist_tracked(
            _shingle_minhash_buckets_arrow(df, "doc_id", "text", 3).select(
                "doc_id", F.posexplode("_bkts").alias("band", "bucket")
            )
        )
        l, r = buckets.alias("l"), buckets.alias("r")
        cand = (
            l.join(
                r,
                (F.col("l.band") == F.col("r.band"))
                & (F.col("l.bucket") == F.col("r.bucket"))
                & (F.col("l.doc_id") < F.col("r.doc_id")),
            )
            .select(
                F.col("l.doc_id").alias("id_a"),
                F.col("r.doc_id").alias("id_b"),
            )
            .distinct()
        )
        out = (
            pair_jaccard(cand, sh, "doc_id", threshold=threshold)
            .withColumn("jaccard", F.round(F.col("jaccard"), 6))
            .filter(F.col("jaccard") >= t)
            .select("id_a", "id_b", "jaccard")
        )
        res = {(r.id_a, r.id_b): r.jaccard for r in out.collect()}
        release_caches()
        return res

    pruned, unpruned = run(t), run(None)
    assert pruned == unpruned
    assert len(pruned) >= 5  # the planted cross-length near-dups survived
    # and the public entry point agrees with the unpruned reference
    sh = persist_tracked(shingle_hash_table(df, "doc_id", "text", 3))
    via_api = {
        (r.id_a, r.id_b): r.jaccard
        for r in dup_pairs_from_hash_sets(sh, "doc_id", threshold=t).collect()
    }
    release_caches()
    assert via_api == unpruned


# HTML-ish fragments: tags (known + unknown, mixed case, unclosed),
# entities (incl. the &amp; double-decode trap), comments, text runs.
_HTML_BITS = st.one_of(
    st.sampled_from(
        [
            "<p>", "</p>", "<DIV>", "</div>", "<br>", "<script>", "</script>",
            "<style>", "</style>", "<nav>", "</nav>", "<a href='x'>", "</a>",
            "<span>", "</span>", "<title>", "</title>", "<!--", "-->",
            "&amp;", "&lt;", "&gt;", "&quot;", "&nbsp;", "&amp;lt;",
            "<weird>", "</weird>", "< notatag", "<p", ">",
        ]
    ),
    st.text(
        alphabet=st.characters(min_codepoint=0x20, max_codepoint=0x7E),
        min_size=1,
        max_size=12,
    ),
)


@SETTINGS
@given(st.lists(st.lists(_HTML_BITS, max_size=20), min_size=1, max_size=6))
def test_html_extract_fuzz_parity(spark, frags):
    """Random HTML-ish soup: Spark and DuckDB must produce the identical
    (text, title, n_links) for EVERY input — the pass sequence is the
    contract, even on malformed markup."""
    import duckdb

    from dwca_parquet_spark.operators.html import (
        html_extract_text,
        sql_html_extract_text,
    )

    rows = [(i, "".join(bits)) for i, bits in enumerate(frags)]
    df = spark.createDataFrame(rows, "id long, html string")
    got = sorted(
        tuple(r) for r in html_extract_text(df, "id", "html").collect()
    )
    con = duckdb.connect()
    con.execute("CREATE TABLE h (id BIGINT, html VARCHAR)")
    con.executemany("INSERT INTO h VALUES (?, ?)", rows)
    want = sorted(
        tuple(r)
        for r in con.execute(
            sql_html_extract_text("h", "id", "html")
        ).fetchall()
    )
    assert got == want


_GOPHER_BITS = st.one_of(
    st.sampled_from(
        [
            "the ", "be ", "to ", "of ", "and ", "that ", "have ", "with ",
            "#", "...", "…", "• x", "- y", "* z", "\n", "\n\n", "\r\n",
            " ", "\t", "word ", "spam spam ", '"', ".", "!", "?",
            "a1 ", "42 ", "#tag ",
        ]
    ),
    st.text(
        alphabet=st.characters(min_codepoint=0x20, max_codepoint=0x7E),
        min_size=1,
        max_size=12,
    ),
)


@SETTINGS
@given(st.lists(st.lists(_GOPHER_BITS, max_size=25), min_size=1, max_size=6))
def test_gopher_quality_fuzz_parity(spark, frags):
    """Random whitespace/bullet/ellipsis soup: every Gopher signal and
    the keep verdict must match DuckDB exactly on EVERY input — the
    split/trim rules are the contract."""
    import duckdb

    from dwca_parquet_spark.operators.text import (
        gopher_quality,
        sql_gopher_quality,
    )

    rows = [(i, "".join(bits)) for i, bits in enumerate(frags)]
    df = spark.createDataFrame(rows, "id long, t string")
    got = sorted(
        tuple(round(v, 10) if isinstance(v, float) else v for v in r)
        for r in gopher_quality(df, "id", "t").collect()
    )
    con = duckdb.connect()
    con.execute("CREATE TABLE g (id BIGINT, t VARCHAR)")
    con.executemany("INSERT INTO g VALUES (?, ?)", rows)
    want = sorted(
        tuple(round(v, 10) if isinstance(v, float) else v for v in row)
        for row in con.execute(sql_gopher_quality("g", "id", "t")).fetchall()
    )
    assert got == want


@SETTINGS
@given(st.lists(st.lists(_GOPHER_BITS, max_size=25), min_size=1, max_size=5))
def test_dedup_paragraphs_fuzz_parity(spark, frags):
    """Random paragraph soup incl. cross-doc repeats: first-occurrence
    selection and reassembly must match the DuckDB window oracle on
    every input (both units)."""
    import duckdb

    from dwca_parquet_spark.operators.dedup import (
        dedup_paragraphs,
        sql_dedup_paragraphs,
    )

    # force cross-document duplication pressure: append doc 0's text
    rows = [(i, "".join(bits)) for i, bits in enumerate(frags)]
    if len(rows) > 1:
        rows.append((len(rows), rows[0][1]))
    df = spark.createDataFrame(rows, "id long, t string")
    con = duckdb.connect()
    con.execute("CREATE TABLE p (id BIGINT, t VARCHAR)")
    con.executemany("INSERT INTO p VALUES (?, ?)", rows)
    for unit in ("paragraph", "line"):
        got = sorted(
            tuple(r)
            for r in dedup_paragraphs(df, "id", "t", unit=unit).collect()
        )
        want = sorted(
            tuple(row)
            for row in con.execute(
                sql_dedup_paragraphs("p", "id", "t", unit=unit)
            ).fetchall()
        )
        assert got == want


_LINK_STR = st.text(alphabet="abc", min_size=0, max_size=10)


def _lev(a: str, b: str) -> int:
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(
                prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb)
            ))
        prev = cur
    return prev[-1]


@SETTINGS
@given(
    st.lists(_LINK_STR, min_size=2, max_size=25),
    st.integers(min_value=1, max_value=3),
)
def test_edit_distance_pairs_fuzz_complete(spark, strs, d):
    """PassJoin must equal the brute-force O(n²) DP on ANY input —
    tiny alphabet maximizes collisions and boundary interactions."""
    from dwca_parquet_spark.operators.linkage import edit_distance_pairs

    rows = list(enumerate(strs))
    df = spark.createDataFrame(rows, "id long, s string")
    got = {
        (r["id_a"], r["id_b"], r["dist"])
        for r in edit_distance_pairs(df, "id", "s", d).collect()
    }
    want = {
        (i, j, _lev(a, b))
        for i, a in rows
        for j, b in rows
        if i < j and _lev(a, b) <= d
    }
    assert got == want


def test_pair_jaccard_out_of_domain_cand_ids_cannot_reach_packing(spark):
    """ADVICE r6: pair_jaccard's packed key is built from cand's id_b
    too, and _ids_packable only inspects sh — but cand is inner-joined
    to sh's size table BEFORE packing, so ids outside sh's validated
    domain (negative, >= 2^33) are dropped, never shifted. Gate: a cand
    set salted with hostile ids returns the identical result as the
    clean cand set, and as the forced wide-key plan."""
    from dwca_parquet_spark.operators import dedup as ddp
    from dwca_parquet_spark.operators.dedup import (
        pair_jaccard,
        shingle_hash_table,
    )

    rows = [
        (0, "a b c d e f g h"),
        (1, "a b c d e f g x"),
        (2, "p q r s t u v w"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    sh = shingle_hash_table(df, "doc_id", "text", 3)
    clean = [(0, 1), (0, 2), (1, 2)]
    hostile = clean + [(0, 1 << 40), (0, -7), (-3, 2), (1 << 40, 1)]
    cand_clean = spark.createDataFrame(clean, "id_a long, id_b long")
    cand_host = spark.createDataFrame(hostile, "id_a long, id_b long")

    def res(cand):
        return sorted(
            (r.id_a, r.id_b, round(r.jaccard, 6))
            for r in pair_jaccard(cand, sh, "doc_id").collect()
        )

    got_clean, got_host = res(cand_clean), res(cand_host)
    assert got_host == got_clean and len(got_clean) == 3

    # and the packed plan agrees with the wide-key plan on the same input
    orig = ddp._ids_packable
    try:
        ddp._ids_packable = lambda *_: False
        wide = res(cand_host)
    finally:
        ddp._ids_packable = orig
    assert got_host == wide


@SETTINGS
@given(
    points=st.lists(st.integers(-50, 50), min_size=0, max_size=25),
    ivs=st.lists(
        st.tuples(st.integers(-60, 60), st.integers(0, 25)),
        min_size=0,
        max_size=15,
    ),
    width=st.sampled_from([1, 3, 7, 16]),
    strategy=st.sampled_from(["bucket", "broadcast"]),
)
def test_interval_agg_matches_join_groupby(spark, points, ivs, width, strategy):
    """interval_agg (op 165, the banded full-bucket + edge decomposition)
    == interval_join + groupBy, for any width and either dispatch arm
    (incl. negative domains, empty intervals, intervals with no points —
    absent from both outputs by inner semantics)."""
    from dwca_parquet_spark.operators.relational import interval_agg

    pts = spark.createDataFrame(
        [(i, p, p * 3) for i, p in enumerate(points)],
        "pid long, p long, val long",
    )
    intervals = spark.createDataFrame(
        [(j, lo, lo + ln) for j, (lo, ln) in enumerate(ivs)],
        "iid long, lo long, hi long",
    )
    got = {
        r["iid"]: (r["n_points"], r["sv"])
        for r in interval_agg(
            pts, intervals, "p", "lo", "hi", "iid", width,
            sum_cols={"sv": "val"}, strategy=strategy,
        ).collect()
    }
    want: dict[int, tuple[int, int]] = {}
    for j, (lo, ln) in enumerate(ivs):
        hits = [p for p in points if lo <= p < lo + ln]
        if hits:
            want[j] = (len(hits), sum(3 * p for p in hits))
    assert got == want


def test_interval_ops_accept_decimal_columns(spark):
    """Decimal-typed bounds/points (the common warehouse money shape)
    must work in both interval operators — floor(decimal/w) yields
    DECIMAL(p,0), which sequence() rejects without the long cast
    (code-review r12, verified crash on Spark 4.1.2)."""
    from decimal import Decimal

    from dwca_parquet_spark.operators.relational import (
        interval_agg,
        interval_join,
    )

    pts = spark.createDataFrame(
        [(i, Decimal(f"{v}.50"), v) for i, v in enumerate([5, 15, 25, 35])],
        "pid long, p decimal(10,2), val long",
    )
    ivs = spark.createDataFrame(
        [(1, Decimal("0.00"), Decimal("20.00")),
         (2, Decimal("20.00"), Decimal("40.00"))],
        "iid long, lo decimal(10,2), hi decimal(10,2)",
    )
    pairs = sorted(
        (r["pid"], r["iid"])
        for r in interval_join(pts, ivs, "p", "lo", "hi", 7).collect()
    )
    assert pairs == [(0, 1), (1, 1), (2, 2), (3, 2)]
    agg = {
        r["iid"]: (r["n_points"], r["sv"])
        for r in interval_agg(
            pts, ivs, "p", "lo", "hi", "iid", 7, sum_cols={"sv": "val"}
        ).collect()
    }
    assert agg == {1: (2, 20), 2: (2, 60)}
