"""Sub-document dedup: line-level removal and CDC chunking.

The catalog query runs these cross-engine on the word-salad corpus
(no newlines there, so it segments on a common token); THESE tests
exercise the real multi-line contract and the CDC resynchronization
property the oracle can't show.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from pasta_pipeline_spark.operators.subdoc_dedup import (
    cdc_chunks,
    remove_duplicated_lines,
    segment_lines,
)

BOILER = "all rights reserved"


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_line_dedup_removes_global_boilerplate(spark):
    docs = _docs(
        spark,
        [
            (1, f"unique alpha\n{BOILER}\nunique beta"),
            (2, f"{BOILER}\nanother body line"),
            (3, f"third doc only line\n{BOILER}"),
        ],
    )
    out = {
        r["doc_id"]: r
        for r in remove_duplicated_lines(docs, max_freq=1).collect()
    }
    assert out[1]["text_kept"] == "unique alpha\nunique beta"
    assert out[1]["n_lines"] == 3 and out[1]["n_removed"] == 1
    assert out[2]["text_kept"] == "another body line"
    assert out[3]["text_kept"] == "third doc only line"


def test_line_dedup_blank_lines_exempt_and_all_removed_doc_survives(spark):
    docs = _docs(
        spark,
        [
            (1, f"{BOILER}\n\n{BOILER}"),  # only boilerplate + a blank
            (2, f"{BOILER}\nkeep me"),
            (3, BOILER),
        ],
    )
    out = {
        r["doc_id"]: r
        for r in remove_duplicated_lines(docs, max_freq=1).collect()
    }
    # blank line kept (formatting, so n_removed=2 not 3), boilerplate
    # gone; joining the single surviving blank line renders as ""
    assert out[1]["text_kept"] == "" and out[1]["n_removed"] == 2
    assert out[3]["text_kept"] == "" and out[3]["n_removed"] == 1
    assert len(out) == 3


def test_line_dedup_max_freq_threshold(spark):
    docs = _docs(spark, [(i, f"shared line\ndoc {i}") for i in range(1, 5)])
    lenient = remove_duplicated_lines(docs, max_freq=4)
    assert all(r["n_removed"] == 0 for r in lenient.collect())
    strict = remove_duplicated_lines(docs, max_freq=3)
    assert all(r["n_removed"] == 1 for r in strict.collect())


def test_segment_lines_keeps_trailing_empty_and_skips_null(spark):
    docs = _docs(spark, [(1, "a\nb\n"), (2, None)])
    rows = segment_lines(docs).collect()
    assert [(r["pos"], r["line"]) for r in sorted(rows, key=lambda r: r["pos"])] == [
        (0, "a"),
        (1, "b"),
        (2, ""),
    ]


def _chunk_seq(spark, text, doc_id=1):
    df = _docs(spark, [(doc_id, text)])
    rows = cdc_chunks(df, avg_tokens=4).orderBy("chunk_id").collect()
    return [(r["chunk_id"], r["n_tokens"], r["chunk_hash"]) for r in rows]


def test_cdc_chunks_cover_all_tokens_deterministically(spark):
    text = " ".join(f"tok{i}" for i in range(40))
    a = _chunk_seq(spark, text)
    b = _chunk_seq(spark, text, doc_id=2)
    assert sum(n for _, n, _ in a) == 40
    assert [h for *_, h in a] == [h for *_, h in b]  # content-only hashes


def test_cdc_resynchronizes_after_prefix_edit(spark):
    """THE content-defined property: prepending a token perturbs only
    chunks up to the first boundary; every later chunk hash is
    unchanged. A fixed-width chunker would shift every window."""
    base = " ".join(f"tok{i}" for i in range(60))
    edited = "inserted " + base
    h_base = [h for *_, h in _chunk_seq(spark, base)]
    h_edit = [h for *_, h in _chunk_seq(spark, edited)]
    # all chunks after the first boundary survive the edit
    assert h_base[1:] == h_edit[len(h_edit) - len(h_base) + 1 :]
    assert len(set(h_base[1:]) & set(h_edit)) == len(h_base) - 1


def test_cdc_duplicate_chunks_counted_across_docs(spark):
    shared = " ".join(f"tok{i}" for i in range(20))
    docs = _docs(spark, [(1, shared), (2, shared + " trailer_token_xyz")])
    out = cdc_chunks(docs, avg_tokens=4)
    dup = out.where(F.col("n_copies") > 1)
    # every fully-shared chunk is seen twice
    assert dup.count() >= 2
    assert out.where(F.col("doc_id") == 1).count() >= 2


def test_containment_catches_quote_inclusion(spark):
    """A short doc embedded verbatim in a long one: Jaccard low,
    containment of the short side ~1.0 — the asymmetric tier's
    raison d'etre."""
    from pasta_pipeline_spark.operators.text_dedup import (
        containment_pairs,
        jaccard_pairs,
    )
    from pasta_pipeline_spark.operators.util import release_cached_deps

    short = "alpha beta gamma delta epsilon zeta"
    long_ = (
        "intro words here first section continues onward " + short +
        " and then much more unrelated trailing content keeps going on and on " +
        "with additional filler sentences that dilute the overlap ratio badly"
    )
    df = spark.createDataFrame(
        [(1, short), (2, long_), (3, "completely different text")],
        "doc_id long, text string",
    )
    cont = containment_pairs(df, "doc_id", "text", n=3, threshold=0.9)
    got = {(r["doc_inner"], r["doc_outer"]): r["containment"] for r in cont.collect()}
    release_cached_deps(cont)
    assert (1, 2) in got and got[(1, 2)] == 1.0
    assert (2, 1) not in got  # the long side is NOT contained in the short
    jac = jaccard_pairs(df, "doc_id", "text", n=3, threshold=0.9)
    assert jac.count() == 0  # Jaccard misses it entirely
    release_cached_deps(jac)


def test_duplicated_spans_marks_shared_and_repeated_regions(spark):
    """Windows shared across docs (and repeated within one) collapse
    into maximal spans; unique text is never marked."""
    from pasta_pipeline_spark.operators.subdoc_dedup import duplicated_spans

    boiler = "all rights reserved contact us at example dot com for info"  # 11 tokens
    docs = spark.createDataFrame(
        [
            (1, f"alpha beta gamma delta {boiler} epsilon zeta eta theta iota kappa"),
            (2, f"one two three four five six seven eight nine ten {boiler}"),
            # doc 3: the boilerplate twice -> a within-doc repeat, two spans
            (3, f"{boiler} unique middle words in this document only here now {boiler}"),
            (4, "entirely unique text with no repeated windows anywhere at all today ok"),
        ],
        "doc_id long, text string",
    )
    spans = {
        (r["doc"], r["span_start"], r["span_end"])
        for r in duplicated_spans(docs, w=10, min_count=2).collect()
    }
    # doc 1: boiler occupies tokens 5..15; every 10-token window fully
    # inside it is [5..6]->[14..15]... windows starting 5 and 6 are the
    # only fully-boiler windows -> merged span 5..15
    assert (1, 5, 15) in spans
    assert (2, 11, 21) in spans
    # doc 3 has two disjoint boiler spans (start and end)
    doc3 = sorted(s for s in spans if s[0] == 3)
    assert len(doc3) == 2
    assert doc3[0][1] == 1  # leading boilerplate span starts at token 1
    assert all(s[0] != 4 for s in spans)


def test_duplicated_spans_no_pair_join(spark):
    """The span tier generates no pairs: plan has no cartesian/nested
    loop and no self-join of the corpus."""
    from pasta_pipeline_spark.operators.subdoc_dedup import duplicated_spans

    docs = spark.createDataFrame(
        [(i, f"some text body number {i} with shared tail words here") for i in range(30)],
        "doc_id long, text string",
    )
    out = duplicated_spans(docs)
    plan = out._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_remove_duplicated_spans_cuts_and_preserves_rows(spark):
    from pasta_pipeline_spark.operators.subdoc_dedup import remove_duplicated_spans

    boiler = "all rights reserved contact us at example dot com for info"
    docs = spark.createDataFrame(
        [
            (1, f"alpha beta gamma delta {boiler} epsilon zeta eta theta iota kappa"),
            (2, f"one two three four five six seven eight nine ten {boiler}"),
            (3, boiler),  # shorter than... 11 tokens, fully duplicated? windows exist (n>=10)
            (4, "entirely unique text with no repeated windows anywhere at all today ok"),
            (5, "tiny doc"),  # < w tokens: passes through complete
        ],
        "doc_id long, text string",
    )
    got = {r["doc"]: r for r in remove_duplicated_spans(docs, w=10, min_count=2).collect()}
    assert len(got) == 5  # row count stable
    # doc 1: boiler tokens 5..15 removed, head + tail survive
    assert got[1]["text_kept"] == "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    assert got[1]["n_removed"] == 11
    # doc 3 is nothing but the shared boilerplate -> empty survivor
    assert got[3]["text_kept"] == "" and got[3]["n_removed"] == 11
    # untouched docs
    assert got[4]["n_removed"] == 0 and got[5]["text_kept"] == "tiny doc"


def test_shingle_table_pinned_to_shingles(spark):
    """``_shingle_table`` tokenizes each document once and derives its
    shingles from the token column; the result equals the reference
    ``shingles(text)`` value for value, hashed and unhashed, on NULL,
    empty, whitespace-only, short and repetitive texts — and the
    executed plan splits the text once, outside every lambda."""
    import re
    from collections import Counter

    from pyspark.sql import functions as F

    from pasta_pipeline_spark.operators.text_dedup import _shingle_table, shingles

    docs = spark.createDataFrame(
        [
            (1, None),
            (2, ""),
            (3, " \n\t "),
            (4, "One"),
            (5, "one Two"),
            (6, "one two three"),
            (7, "A b a b a b a b c"),
            (8, "the quick  brown\nfox JUMPS over the quick brown fox"),
            (9, "tail newline\n"),
        ],
        "doc_id long, text string",
    )
    for n in (2, 3):
        for hashed in (False, True):
            ref = shingles("text", n)
            if hashed:
                ref = F.array_distinct(F.transform(ref, lambda s: F.xxhash64(s)))
            want = Counter(
                tuple(r)
                for r in docs.select(F.col("doc_id").alias("doc"), F.explode(ref)).collect()
            )
            got_df = _shingle_table(docs, "doc_id", "text", n, hashed=hashed)
            assert Counter(tuple(r) for r in got_df.collect()) == want, (n, hashed)
            plan = got_df._jdf.queryExecution().executedPlan().toString()
            assert plan.count("split(") == 1, plan
            assert re.search(r"slice\(toks#\d+", plan), plan


def test_remove_boilerplate_lines_group_scoped(spark):
    """Template removal is GROUP-scoped: a footer covering >= the
    fraction of its own site's docs is stripped there but survives on
    a site where it is rare; min_docs prevents tiny-group
    convictions; per-doc membership means one doc repeating a line
    cannot promote it; blank lines are exempt; order and row count
    are stable."""
    from pasta_pipeline_spark.operators.subdoc_dedup import remove_boilerplate_lines

    rows = [
        (1, "a", "Nav\nbody one\n\nCopyright"),
        (2, "a", "Nav\nbody two\nCopyright"),
        (3, "a", "Nav\nbody three\nCopyright"),
        (4, "a", "intro\nbody four\nCopyright"),
        (5, "b", "Nav\nother site\nNav\nNav"),      # Nav x3 in ONE doc only
        (6, "b", "fresh\ncontent\nhere"),
        (7, "b", "more\nwords\nthere"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")
    out = {r["doc_id"]: r for r in
           remove_boilerplate_lines(df, frac_bp=7000, min_docs=3).collect()}
    # site a: Copyright in 4/4 (>=70%) and Nav in 3/4 (75%) -> both stripped
    assert out[1]["text_kept"] == "body one\n"      # blank line kept
    assert out[2]["text_kept"] == "body two"
    assert out[4]["text_kept"] == "intro\nbody four"
    # site b: Nav appears in only 1/3 docs (repetition inside doc 5
    # does not count) -> kept everywhere
    assert out[5]["text_kept"] == "Nav\nother site\nNav\nNav"
    assert out[5]["n_removed"] == 0
    assert len(out) == 7
    assert out[1]["n_lines"] == 4 and out[1]["n_removed"] == 2


class TestWinnowing:
    def test_guarantee_shared_substring_shares_fingerprint(self, spark):
        """The winnowing guarantee: two docs sharing a substring of
        >= w + k - 1 tokens must share at least one fingerprint."""
        from pasta_pipeline_spark.operators.text_dedup import (
            winnowing_fingerprints,
        )

        shared = "alpha beta gamma delta epsilon zeta eta"  # 7 = w+k-1 tokens
        rows = [
            (1, "xx yy " + shared + " zz"),
            (2, "completely different prefix words " + shared),
            (3, "no overlap here at all with anything else whatsoever"),
        ]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        fps = winnowing_fingerprints(df, k=4, w=4)
        by_doc = {}
        for r in fps.collect():
            by_doc.setdefault(r["doc_id"], set()).add(r["fp"])
        assert by_doc[1] & by_doc[2]          # guarantee holds
        assert not (by_doc[1] & by_doc[3])    # unrelated docs don't collide

    def test_density_and_determinism(self, spark):
        from pasta_pipeline_spark.operators.text_dedup import (
            winnowing_fingerprints,
        )

        text = " ".join(f"tok{(i * 7) % 23}" for i in range(120))
        df = spark.createDataFrame([(1, text)], "doc_id long, text string")
        a = {(r["fp"], r["pos"]) for r in winnowing_fingerprints(df).collect()}
        b = {(r["fp"], r["pos"]) for r in winnowing_fingerprints(df).collect()}
        assert a == b
        # selection density ~2/(w+1): far fewer fingerprints than grams
        n_grams = 120 - 4 + 1
        assert 0 < len(a) < n_grams / 2

    def test_pairs_find_near_dups(self, spark):
        from pasta_pipeline_spark.operators.text_dedup import winnowing_pairs

        base = " ".join(f"w{(i * 5) % 31}" for i in range(60))
        edited = base.replace("w10", "CHANGED", 2)
        rows = [(1, base), (2, edited), (3, "unrelated " * 40)]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        out = {(r["doc_a"], r["doc_b"]) for r in winnowing_pairs(df).collect()}
        assert (1, 2) in out
        assert all(3 not in p for p in out)
