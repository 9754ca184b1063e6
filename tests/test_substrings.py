"""Substring-duplication detection semantics: planted shared spans
(misaligned offsets), short-doc exclusion, exact-duplicate coverage, and
the winnowing sampler's content-defined guarantee."""

from __future__ import annotations

from udacity_data_engineering_spark.operators.substrings import (
    doc_dup_span_counts,
    duplicate_spans,
    span_fingerprints,
)


def _words(prefix: str, k: int) -> str:
    return " ".join(f"{prefix}{i}" for i in range(k))


def test_planted_shared_span_detected_across_misaligned_offsets(spark):
    """The one shared 20-word span sits at word offset 4 in doc 1 and
    offset 1 in doc 2 — fingerprints are position-independent, so the
    misalignment must not matter (the failure mode positional stride
    sampling would have)."""
    shared = _words("s", 20)
    docs = spark.createDataFrame(
        [
            (1, "a b c " + shared + " tail one"),
            (2, shared + " completely different ending words here"),
            (3, _words("w", 30)),
        ],
        "doc_id long, text string",
    )
    dup = duplicate_spans(docs).collect()
    assert len(dup) == 1
    assert dup[0].n_docs == 2 and dup[0].n_spans == 2
    flags = {r.doc_id: r.n_dup_spans for r in doc_dup_span_counts(docs).collect()}
    assert flags == {1: 1, 2: 1}


def test_sub_window_docs_and_overlaps_yield_nothing(spark):
    """Documents shorter than the 20-word window have no span to share —
    even byte-identical ones (that's exact dedup's jurisdiction, not
    substring dedup's)."""
    t = _words("x", 19)
    docs = spark.createDataFrame(
        [(1, t), (2, t)], "doc_id long, text string"
    )
    assert span_fingerprints(docs).count() == 0
    assert duplicate_spans(docs).count() == 0
    assert doc_dup_span_counts(docs).count() == 0


def test_exact_duplicate_docs_share_every_window(spark):
    """Two identical 25-word docs: all 6 windows (25-20+1) duplicated,
    each seen once per doc."""
    t = _words("w", 25)
    docs = spark.createDataFrame(
        [(1, t), (2, t)], "doc_id long, text string"
    )
    dup = duplicate_spans(docs).collect()
    assert len(dup) == 6
    assert all(r.n_docs == 2 and r.n_spans == 2 for r in dup)
    flags = {r.doc_id: r.n_dup_spans for r in doc_dup_span_counts(docs).collect()}
    assert flags == {1: 6, 2: 6}


def test_matches_bruteforce_on_random_corpora(spark):
    """Property: duplicate_spans / doc_dup_span_counts equal a plain-
    Python brute-force recomputation over random small-vocab corpora
    (small vocabulary + short window force plenty of genuine shared
    spans)."""
    import hashlib
    import random

    rng = random.Random(13)
    vocab = ["a", "b", "c"]
    n = 4  # small window so 8-20-word random docs collide richly
    for trial in range(3):
        docs = [
            (i, " ".join(rng.choice(vocab) for _ in range(rng.randint(1, 20))))
            for i in range(12)
        ]
        spans = []  # (doc_id, fp)
        for did, text in docs:
            w = text.split(" ")
            for i in range(len(w) - n + 1):
                spans.append(
                    (did, hashlib.sha256(" ".join(w[i : i + n]).encode()).hexdigest())
                )
        by_fp = {}
        for did, fp in spans:
            by_fp.setdefault(fp, []).append(did)
        want_dup = {
            fp: (len(set(ds)), len(ds))
            for fp, ds in by_fp.items()
            if len(set(ds)) >= 2
        }
        want_flags = {}
        for did, fp in spans:
            if fp in want_dup:
                want_flags[did] = want_flags.get(did, 0) + 1

        df = spark.createDataFrame(docs, "doc_id long, text string")
        got_dup = {
            r.fp: (r.n_docs, r.n_spans)
            for r in duplicate_spans(df, n=n).collect()
        }
        got_flags = {
            r.doc_id: r.n_dup_spans
            for r in doc_dup_span_counts(df, n=n).collect()
        }
        assert got_dup == want_dup, f"trial {trial}"
        assert got_flags == want_flags, f"trial {trial}"


def test_winnowing_is_content_defined(spark):
    """keep_mod=4 sampling: the kept set is a subset of the full set,
    every kept duplicated span is still found in BOTH documents, and
    shifting the shared span's position in one document changes NOTHING
    about which shared fingerprints are kept — selection depends on span
    content alone. (A positional stride sampler fails this test.)"""
    shared = _words("s", 40)  # 21 shared windows -> ~5 expected kept
    docs = spark.createDataFrame(
        [
            (1, "a b c " + shared + " " + _words("t", 5)),
            (2, shared + " " + _words("u", 8)),
        ],
        "doc_id long, text string",
    )
    full = {r.fp for r in duplicate_spans(docs).collect()}
    win = duplicate_spans(docs, keep_mod=4).collect()
    kept = {r.fp for r in win}
    assert kept and kept <= full  # non-degenerate fixture, subset
    assert all(r.n_docs == 2 for r in win)
    # shift the shared span by two words in doc 1: same content, new offsets
    shifted = spark.createDataFrame(
        [
            (1, "p q a b c " + shared + " " + _words("t", 5)),
            (2, shared + " " + _words("u", 8)),
        ],
        "doc_id long, text string",
    )
    kept_shifted = {r.fp for r in duplicate_spans(shifted, keep_mod=4).collect()}
    assert kept_shifted == kept


def test_incremental_equals_from_scratch_on_batch_docs(spark):
    """incremental_substring_flags(batch, lake_index) must equal
    doc_dup_span_counts(batch ∪ lake) restricted to batch doc ids, with
    every duplication case exercised: intra-batch dup, batch↔lake dup,
    lake-only dup (must NOT leak into the output), and unique spans."""
    from udacity_data_engineering_spark.operators.substrings import (
        incremental_substring_flags,
        substring_lake_index,
    )

    shared_bl = _words("bl", 20)   # batch <-> lake duplicated span
    shared_bb = _words("bb", 20)   # intra-batch duplicated span
    shared_ll = _words("ll", 20)   # lake-only duplicated span
    lake = spark.createDataFrame(
        [
            (0, shared_bl + " lake tail words"),
            (2, shared_ll + " more lake words"),
            (4, shared_ll + " other lake ending"),
        ],
        "doc_id long, text string",
    )
    batch = spark.createDataFrame(
        [
            (1, "x y " + shared_bl + " batch one"),
            (3, shared_bb + " batch two tail"),
            (5, "p q r " + shared_bb + " batch three"),
            (7, _words("u", 30)),  # unique: no flagged span
        ],
        "doc_id long, text string",
    )
    inc = {
        r.doc_id: r.n_dup_spans
        for r in incremental_substring_flags(
            batch, substring_lake_index(lake)
        ).collect()
    }
    scratch = {
        r.doc_id: r.n_dup_spans
        for r in doc_dup_span_counts(batch.unionByName(lake)).collect()
        if r.doc_id % 2 == 1
    }
    assert inc == scratch
    assert set(inc) == {1, 3, 5}  # doc 7 unique; lake-only dup not emitted


def test_incremental_winnowed_probes_sampled_state(spark):
    """With keep_mod > 1 the lake state holds only content-selected
    fingerprints; the batch samples with the SAME selector, so a
    duplicated span long enough to contain a selected window is still
    caught — and the incremental result equals from-scratch winnowed."""
    from udacity_data_engineering_spark.operators.substrings import (
        incremental_substring_flags,
        substring_lake_index,
    )

    shared = _words("s", 40)  # 21 windows: ~5 survive keep_mod=4
    lake = spark.createDataFrame(
        [(0, shared + " lake suffix goes here")],
        "doc_id long, text string",
    )
    batch = spark.createDataFrame(
        [(1, "pre amble " + shared + " batch suffix")],
        "doc_id long, text string",
    )
    inc = {
        r.doc_id: r.n_dup_spans
        for r in incremental_substring_flags(
            batch, substring_lake_index(lake, keep_mod=4), keep_mod=4
        ).collect()
    }
    scratch = {
        r.doc_id: r.n_dup_spans
        for r in doc_dup_span_counts(
            batch.unionByName(lake), keep_mod=4
        ).collect()
        if r.doc_id == 1
    }
    assert inc == scratch and 1 in inc


def test_scrub_drops_null_text_doc_like_its_oracle(spark, sf_dir):
    """q_substring_scrub over the sf documents with one doc's text set to
    NULL equals the registry oracle over the same rows: the null-text doc
    has no words, so neither side emits a row for it."""
    import duckdb
    from pyspark.sql import functions as F

    from udacity_data_engineering_spark.operators.substrings import (
        scrub_duplicate_spans,
    )
    from udacity_data_engineering_spark.plans.registry import all_queries
    from udacity_data_engineering_spark.session import table
    from udacity_data_engineering_spark.testing import compare

    null_id = 0
    docs = table(spark, sf_dir, "documents").withColumn(
        "text", F.when(F.col("doc_id") != null_id, F.col("text"))
    )
    got = scrub_duplicate_spans(docs)
    srows = got.collect()
    con = duckdb.connect()
    try:
        con.execute(
            "CREATE TABLE documents AS SELECT * REPLACE (CASE WHEN doc_id <> "
            f"{null_id} THEN text END AS text) "
            f"FROM read_parquet('{sf_dir}/documents.parquet')"
        )
        res = con.execute(all_queries()["q_substring_scrub"].oracle)
        ocols = [d[0] for d in res.description]
        orows = res.fetchall()
    finally:
        con.close()
    assert null_id not in {r.doc_id for r in srows}
    problems = compare(srows, got.columns, orows, ocols)
    assert not problems, "; ".join(problems)
