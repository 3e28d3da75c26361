"""Text-analysis operator tests (the oracle gate covers the hash parity;
these pin planted-input semantics)."""

import os
import sys

from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from rify_spark.ops import text as T  # noqa: E402


def test_redact_pii_planted(spark):
    """Planted emails / IPv4 / card-shaped digit runs are counted per
    category and scrubbed: the clean hash equals the hash of the manually
    redacted text."""
    rows = [
        (1, "contact bob@example.com or 10.0.0.1 card 4111111111111111 end"),
        (2, "no pii here at all"),
        (3, "two mails a@b.co c@d.io and ip 192.168.1.255"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in T.redact_pii(docs).collect()}
    assert (out[1]["n_email"], out[1]["n_ipv4"], out[1]["n_longnum"]) == (1, 1, 1)
    assert (out[2]["n_email"], out[2]["n_ipv4"], out[2]["n_longnum"]) == (0, 0, 0)
    assert (out[3]["n_email"], out[3]["n_ipv4"], out[3]["n_longnum"]) == (2, 1, 0)
    manual = "contact [PII] or [PII] card [PII] end"
    expect = spark.createDataFrame([(manual,)], "t string").select(
        F.md5("t")
    ).collect()[0][0]
    assert out[1]["clean_hash"] == expect


def test_redact_pii_no_pii_hash_is_original(spark):
    docs = spark.createDataFrame([(9, "plain text")], "doc_id long, text string")
    got = T.redact_pii(docs).collect()[0]["clean_hash"]
    expect = spark.createDataFrame([("plain text",)], "t string").select(
        F.md5("t")
    ).collect()[0][0]
    assert got == expect


def test_repetition_planted(spark):
    rows = [
        (1, "a b a b a b"),        # 6 toks, 2 distinct; 5 bigrams, 2 distinct
        (2, "x y z w"),            # no repeats
        (3, "solo"),               # 1 token: bigram frac defined as 0.0
        (4, "q q q q"),            # fully degenerate
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in T.repetition(docs).collect()}
    assert out[1]["dup_token_frac"] == 4 / 6 and out[1]["dup_bigram_frac"] == 3 / 5
    assert out[2]["dup_token_frac"] == 0.0 and out[2]["dup_bigram_frac"] == 0.0
    assert out[3]["dup_token_frac"] == 0.0 and out[3]["dup_bigram_frac"] == 0.0
    assert out[4]["dup_token_frac"] == 3 / 4 and out[4]["dup_bigram_frac"] == 2 / 3


def test_repetition_oracle_parity(spark):
    import pandas as pd
    import pytest

    duckdb = pytest.importorskip("duckdb")
    rows = [(i, " ".join(f"t{j % (1 + i % 7)}" for j in range(i % 13))) for i in range(1, 60)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    con = duckdb.connect()
    con.register("documents", pd.DataFrame(rows, columns=["doc_id", "text"]))
    orows = sorted(map(tuple, con.execute(T.repetition_sql()).fetchall()))
    srows = sorted(map(tuple, T.repetition(docs).collect()))
    assert srows == orows


def test_top_ngrams_counts_and_ties(spark):
    from rify_spark.ops.params import TOPNGRAM_K

    rows = [(1, "a b a b"), (2, "a b c"), (3, "z")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = [(r["ng"], r["n_occ"]) for r in T.top_ngrams(docs).collect()]
    # 'a b' x3 ('a b a b' has two), then count-1 bigrams tie-broken by string
    assert got == [("a b", 3), ("b a", 1), ("b c", 1)][:TOPNGRAM_K]
    assert got == sorted(got, key=lambda t: (-t[1], t[0]))


def test_top_ngrams_oracle_parity(spark):
    import pandas as pd
    import pytest

    duckdb = pytest.importorskip("duckdb")
    rows = [(i, " ".join(f"w{j % (2 + i % 5)}" for j in range(i % 11))) for i in range(1, 80)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    con = duckdb.connect()
    con.register("documents", pd.DataFrame(rows, columns=["doc_id", "text"]))
    orows = list(map(tuple, con.execute(T.top_ngrams_sql()).fetchall()))
    srows = list(map(tuple, T.top_ngrams(docs).collect()))
    assert srows == orows


def test_chunk_docs_windows(spark):
    from rify_spark.ops.text import chunk_docs

    words = " ".join(f"w{i}" for i in range(10))
    docs = spark.createDataFrame(
        [(1, words), (2, "solo")], "doc_id long, text string"
    )
    out = {
        (r.doc_id, r.chunk_id): (r.n_chunk_tokens, r.chunk_text)
        for r in chunk_docs(docs, chunk=4, overlap=1).collect()
    }
    # doc 1: 10 tokens, stride 3 -> ceil((10-1)/3) = 3 chunks
    assert out[(1, 0)] == (4, "w0 w1 w2 w3")
    assert out[(1, 1)] == (4, "w3 w4 w5 w6")
    assert out[(1, 2)] == (4, "w6 w7 w8 w9")
    # every token covered; adjacent chunks share exactly `overlap` tokens
    # doc 2: shorter than one window -> a single short chunk
    assert out[(2, 0)] == (1, "solo")
    assert len(out) == 4


def test_chunk_docs_no_redundant_tail(spark):
    from rify_spark.ops.text import chunk_docs

    # 5 tokens, chunk 4, stride 3: chunk 1 ends at token 5 — a third
    # window starting at 6 would be empty/covered and must not exist
    docs = spark.createDataFrame(
        [(1, "a b c d e")], "doc_id long, text string"
    )
    rows = chunk_docs(docs, chunk=4, overlap=1).collect()
    assert sorted(r.chunk_text for r in rows) == ["a b c d", "d e"]


def test_chunk_docs_rejects_bad_params(spark):
    from rify_spark.ops.text import chunk_docs

    import pytest as _pt
    with _pt.raises(ValueError, match="exceed"):
        chunk_docs(spark.createDataFrame([(1, "x")], "doc_id long, text string"),
                   chunk=4, overlap=4)


def test_pack_offsets_concat_then_chunk(spark):
    from rify_spark.ops.text import pack_offsets

    docs = spark.createDataFrame(
        [(1, "a b c"), (2, "d e"), (3, "f g h i")],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in pack_offsets(docs, budget=4).collect()}
    # offsets: doc1 @0 (3 toks), doc2 @3 (2 toks), doc3 @5 (4 toks)
    assert (out[1].global_offset, out[1].seq_id, out[1].offset_in_seq,
            out[1].spans_boundary) == (0, 0, 0, False)
    assert (out[2].global_offset, out[2].seq_id, out[2].offset_in_seq,
            out[2].spans_boundary) == (3, 0, 3, True)
    assert (out[3].global_offset, out[3].seq_id, out[3].offset_in_seq,
            out[3].spans_boundary) == (5, 1, 1, True)


def test_pack_offsets_all_null_range_partition(spark):
    """A contiguous run of NULL texts fills whole range partitions; each
    such partition's token sum is NULL and must count as 0. Checked against
    the DuckDB oracle (pack_offsets_sql): NULL docs get NULL offsets and
    add nothing to the running sum of the docs after them."""
    import duckdb

    from rify_spark.ops.text import pack_offsets, pack_offsets_sql

    rows = [
        (i, None if 10 <= i < 90 else " ".join(["w"] * (i % 7 + 1)))
        for i in range(100)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    ranged = docs.repartitionByRange(
        int(spark.conf.get("spark.sql.shuffle.partitions")), "doc_id"
    ).withColumn("_pid", F.spark_partition_id())
    null_only = ranged.groupBy("_pid").agg(F.count("text").alias("n"))
    assert null_only.filter("n = 0").count() >= 1, "fixture needs an all-NULL partition"
    got = sorted(tuple(r) for r in pack_offsets(docs, budget=8).collect())

    con = duckdb.connect()
    con.execute("CREATE TABLE documents (doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO documents VALUES (?, ?)", rows)
    want = sorted(tuple(r) for r in con.execute(pack_offsets_sql(8)).fetchall())
    assert got == want


# --- TF-IDF ------------------------------------------------------------------

from rify_spark.ops.text import TFIDF_IDF_SCALE, tfidf_top_terms  # noqa: E402


def test_tfidf_rare_term_outranks_common(spark):
    docs = spark.createDataFrame(
        [
            (1, "common common zebra"),
            (2, "common filler filler"),
            (3, "common other words"),
        ],
        "doc_id long, text string",
    )
    got = tfidf_top_terms(docs, k=1).collect()
    top = {r.doc_id: r.term for r in got}
    # 'zebra' (df=1) beats 'common' (df=3) in doc 1 despite tf 1 vs 2:
    # score(zebra) = 1 * 3e6, score(common) = 2 * 1e6
    assert top[1] == "zebra"
    assert top[2] == "filler"
    ranks = {(r.doc_id, r.term): r.score for r in got}
    assert ranks[(1, "zebra")] == 3 * TFIDF_IDF_SCALE


def test_tfidf_rank_is_dense_per_doc_and_tie_broken(spark):
    docs = spark.createDataFrame(
        [(1, "aa bb"), (2, "aa bb")], "doc_id long, text string"
    )
    got = sorted(
        (r.doc_id, r.rank, r.term) for r in tfidf_top_terms(docs, k=2).collect()
    )
    # equal scores everywhere: rank by term lexicographically
    assert got == [(1, 1, "aa"), (1, 2, "bb"), (2, 1, "aa"), (2, 2, "bb")]


def test_tfidf_empty_tokens_dropped(spark):
    docs = spark.createDataFrame(
        [(1, "x  y   ")], "doc_id long, text string"
    )
    terms = {r.term for r in tfidf_top_terms(docs, k=10).collect()}
    assert terms == {"x", "y"}
