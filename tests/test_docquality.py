"""Gopher-rule quality signals + PII scrub: hand-computed fixtures and
the planted-PII gate frame (pipelines/docquality.py)."""
from __future__ import annotations

import pytest


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id bigint, text string")


def _gq(spark, rows, **kw):
    from obadiah_spark.pipelines.docquality import gopher_quality
    out = gopher_quality(_docs(spark, rows), **kw).collect()
    return {r.doc_id: r.asDict() for r in out}


def test_gopher_hand_computed(spark):
    # 60 words: "the cat sat" * 20 — wildly repetitive. char_sum = 60*3=180.
    text = " ".join(["the cat sat"] * 20)
    r = _gq(spark, [(1, text)])[1]
    assert r["n_words"] == 60 and r["char_sum"] == 180
    assert r["mean_word_len"] == 3.0
    assert r["alpha_word_ratio"] == 1.0
    assert r["stop_distinct"] == 1          # only 'the'
    # every bigram occurs 20 or 19 times; top is the lexicographically
    # smallest of the 20-count ones: "cat sat" (20), "sat the" (19),
    # "the cat" (20) -> "cat sat", chars 6, frac 20*6/180
    assert r["top_2gram_char_frac"] == pytest.approx(20 * 6 / 180, abs=0)
    # every position is covered by a duplicated 3-gram
    assert r["dup_ngram_char_frac"] == 1.0
    assert r["pass_word_count"] and not r["pass_rep_ngram"]
    assert not r["keep"]


def test_gopher_word_count_and_overlap_once(spark):
    # 8 words, no repeated 3-gram, two distinct stopwords
    short = (2, "the quick brown fox jumps over a fence")
    # one repeated 3-gram "a b c" at positions 0 and 5 (non-overlapping);
    # covered positions {0,1,2,5,6,7} of 8 -> 6 single-char words of the
    # 8 total chars... chars: all words are 1 char -> char_sum 8, covered 6
    rep = (3, "a b c x y a b c")
    out = _gq(spark, [short, rep])
    assert not out[2]["pass_word_count"]        # 8 < 50
    assert out[2]["dup_ngram_char_frac"] == 0.0
    assert out[2]["stop_distinct"] == 2         # the, a, over? over not in list
    assert out[3]["dup_ngram_char_frac"] == pytest.approx(6 / 8, abs=0)
    # overlapping duplicated grams count each position ONCE:
    # "z z z z" has dup 3-gram "z z z" (pos 0,1) covering all 4 positions
    r4 = _gq(spark, [(4, "z z z z")])[4]
    assert r4["dup_ngram_char_frac"] == 1.0


def test_gopher_alpha_and_mean_len_flags(spark):
    digits = (5, " ".join(["123 456"] * 30))           # no alpha words
    longw = (6, " ".join(["extraordinarily"] * 60))    # mean len 15 > 10
    out = _gq(spark, [digits, longw])
    assert out[5]["alpha_word_ratio"] == 0.0 and not out[5]["pass_alpha"]
    assert out[6]["mean_word_len"] == 15.0 and not out[6]["pass_mean_word_len"]


def test_gopher_multispace_tokenization(spark):
    r = _gq(spark, [(7, "a  b   c a  b   c " + "pad " * 10)])[7]
    # double/triple spaces collapse; trailing space yields an empty token
    # that the length filter drops
    assert r["n_words"] == 16


def test_pii_scrub_values(spark):
    from obadiah_spark.pipelines.docquality import pii_scrub
    rows = [
        (1, "mail me at jane.doe+x@sub.example.co.uk or call +1-555-0100"),
        (2, "server 192.168.0.1 and 10.0.0.255 talk; not 1234.5.6.7890"),
        (3, "no pii here at all"),
        (4, "a@b.io b@c.net twice, ip 8.8.8.8, tel +44-020-7946"),
    ]
    out = {r.doc_id: r for r in pii_scrub(_docs(spark, rows)).collect()}
    assert out[1].n_emails == 1 and out[1].n_phones == 1 and out[1].n_ips == 0
    assert "<EMAIL>" in out[1].redacted and "<PHONE>" in out[1].redacted
    assert "jane" not in out[1].redacted
    # \b guards: 1234.5.6.7890 must NOT match ipv4 (digit runs too long at
    # the edges are still 1-3 inside, but the word boundary fails on 1234)
    assert out[2].n_ips == 2 and "1234.5.6.7890" in out[2].redacted
    assert out[3].redacted == rows[2][1]
    assert (out[4].n_emails, out[4].n_ips, out[4].n_phones) == (2, 1, 1)


def test_pii_gate_frame_counts_every_row(spark):
    from obadiah_spark.pipelines.docquality import pii_gate_frame
    docs = _docs(spark, [(i, f"plain text {i}") for i in range(257, 262)])
    out = pii_gate_frame(docs).collect()
    assert len(out) == 5
    for r in out:
        assert (r.n_emails, r.n_ips, r.n_phones) == (1, 1, 1)


def test_gopher_oracle_differential_small(spark):
    """Spark vs DuckDB on a handcrafted frame exercising every flag —
    the sf-fabric differential is the driver gate; this one covers the
    corners the fabric lacks (alpha fail, mean-len fail, dup-gram hit)."""
    import duckdb
    import numpy as np

    from obadiah_spark.pipelines.docquality import (
        gopher_quality, gopher_quality_oracle_sql)
    rows = [
        (1, " ".join(["the cat sat"] * 20)),
        (2, "the quick brown fox jumps over a fence"),
        (3, "a b c x y a b c"),
        (5, " ".join(["123 456"] * 30)),
        (6, " ".join(["extraordinarily"] * 60)),
        (7, " ".join(f"w{i}" for i in range(80)) + " of the in on"),
    ]
    sdf = (gopher_quality(_docs(spark, rows))
           .orderBy("doc_id").toPandas())
    con = duckdb.connect()
    con.execute("create table documents(doc_id bigint, text varchar)")
    con.executemany("insert into documents values (?, ?)", rows)
    odf = (con.execute(gopher_quality_oracle_sql()).df()
           .sort_values("doc_id").reset_index(drop=True))
    assert list(sdf.columns) == list(odf.columns)
    for c in sdf.columns:
        if sdf[c].dtype == float:
            assert np.array_equal(sdf[c].values, odf[c].values), c
        else:
            assert (sdf[c] == odf[c]).all(), c


def test_corpus_clean_composition(spark):
    """Planted corpus: the duplicate copy drops (canonical stays), the
    short doc fails quality, and the survivor ships its scrubbed md5."""
    import hashlib

    from obadiah_spark.pipelines.docquality import corpus_clean
    # 62 varied words (no repeated bigram), mean len ~6, two stopwords
    good = " ".join(["alpha%d" % i for i in range(60)] + ["the", "of"])
    rows = [
        (1, good),
        (2, good),                      # exact duplicate -> dropped
        (3, "too short to pass"),       # fails word count -> dropped
        (4, good + " mail bob@x.io"),   # near-dup but not exact; has PII
    ]
    out = {r.doc_id: r for r in corpus_clean(_docs(spark, rows)).collect()}
    assert set(out) == {1, 4}
    redacted = good + " mail <EMAIL>"
    assert out[4].redacted_md5 == hashlib.md5(redacted.encode()).hexdigest()
    assert out[4].redacted_len == len(redacted)


def test_corpus_clean_oracle_differential(spark):
    """Spark vs DuckDB over the sf0.001 fabric — the full composition
    (dedup window + gopher flags + staged regex chain)."""
    import duckdb

    from obadiah_spark.pipelines.docquality import (
        corpus_clean, corpus_clean_oracle_sql)
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    sdf = corpus_clean(docs).orderBy("doc_id").toPandas()
    con = duckdb.connect()
    con.execute("create view documents as select * from "
                "'/root/testdata/sf0.001/documents.parquet'")
    odf = (con.execute(corpus_clean_oracle_sql()).df()
           .sort_values("doc_id").reset_index(drop=True))
    assert len(sdf) == len(odf) > 100
    for c in sdf.columns:
        assert (sdf[c] == odf[c]).all(), c


def test_dup_spans_hand_computed(spark):
    """Corpus-wide ExactSubstr-style marking: docs 1 and 2 share the
    exact 5-word run 'alpha beta gamma delta epsilon'; at n=4 its
    positions are covered in BOTH docs (cross-document, unlike gopher's
    within-doc signal), everything else is unique and survives."""
    import hashlib

    from obadiah_spark.pipelines.docquality import dup_spans

    shared = "alpha beta gamma delta epsilon"
    rows = [
        (1, f"one two {shared} three"),
        (2, f"{shared} four five six"),
        (3, "seven eight nine ten eleven twelve"),
    ]
    out = {r.doc_id: r.asDict()
           for r in dup_spans(_docs(spark, rows), n=4).collect()}
    # doc 1: positions 2..6 covered (two overlapping dup 4-grams)
    assert out[1]["n_words"] == 8
    assert out[1]["dup_words"] == 5
    assert out[1]["dup_chars"] == len(shared.replace(" ", ""))
    clean1 = "one two three"
    assert out[1]["clean_md5"] == hashlib.md5(clean1.encode()).hexdigest()
    # doc 2: positions 0..4 covered
    assert out[2]["dup_words"] == 5
    assert out[2]["clean_md5"] == hashlib.md5(
        b"four five six").hexdigest()
    # doc 3: untouched
    assert out[3]["dup_words"] == 0 and out[3]["dup_char_frac"] == 0.0
    assert out[3]["clean_md5"] == hashlib.md5(
        b"seven eight nine ten eleven twelve").hexdigest()


def test_dup_spans_all_duplicated_doc_hashes_empty(spark):
    """A document that is one big duplicated span rewrites to the empty
    string — both engines coalesce to md5('') (the oracle's
    string_agg-of-NULLs edge)."""
    import hashlib

    from obadiah_spark.pipelines.docquality import dup_spans

    rows = [(1, "alpha beta gamma delta"), (2, "alpha beta gamma delta")]
    out = {r.doc_id: r.asDict()
           for r in dup_spans(_docs(spark, rows), n=4).collect()}
    empty = hashlib.md5(b"").hexdigest()
    assert out[1]["clean_md5"] == empty and out[2]["clean_md5"] == empty
    assert out[1]["dup_char_frac"] == 1.0


def test_dup_spans_min_count_raises_threshold(spark):
    """min_count=3: a run shared by only two docs is no longer marked."""
    from obadiah_spark.pipelines.docquality import dup_spans

    shared = "alpha beta gamma delta"
    rows = [(1, f"{shared} one"), (2, f"{shared} two"),
            (3, "x y z w v")]
    out2 = {r.doc_id: r.dup_words
            for r in dup_spans(_docs(spark, rows), n=4).collect()}
    out3 = {r.doc_id: r.dup_words
            for r in dup_spans(_docs(spark, rows), n=4,
                               min_count=3).collect()}
    assert out2[1] == 4 and out2[2] == 4
    assert out3 == {1: 0, 2: 0, 3: 0}
