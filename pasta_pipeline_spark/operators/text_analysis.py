"""Text analysis — the LLM-data-pipeline extension surface (SURVEY.md §7 M6).

Generalizes the reference's per-document derivations (word_count A5,
content hashes F4/F5 — telegraph_processor.py:128-146) into the
text-quality toolkit a training-data pipeline needs: language ID,
quality scoring, tokenization stats, fingerprinting.

Everything is a native Column expression — no UDFs, codegen-friendly,
and each has an exact DuckDB-SQL twin so the whole module is
oracle-checkable. All ratios derive from integer counts, so doubles
are bit-identical across engines.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from pasta_pipeline_spark.functions.text import tokenize_ws

#: BPE-ish lexical split: letter runs, digit runs, single punctuation.
BPE_ISH_PATTERN = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"

#: Tiny deterministic stopword profiles for the n-gram/stopword
#: language heuristic. Intentionally small and frozen — the point is a
#: deterministic, cheap, SQL-expressible heuristic, not fastText.
STOPWORDS = {
    "en": ("the", "a", "and", "of", "to", "in", "is", "it", "that", "for"),
    "de": ("der", "die", "das", "und", "ist", "nicht", "ein", "mit", "auf", "zu"),
    "fr": ("le", "la", "les", "et", "est", "un", "une", "dans", "pour", "que"),
    "es": ("el", "la", "los", "las", "es", "un", "una", "en", "por", "para"),
}


def token_count_ws(text: Column | str) -> Column:
    """Whitespace token count (Python split semantics)."""
    from pasta_pipeline_spark.functions.text import word_count

    return word_count(text)


def token_count_lexical(text: Column | str) -> Column:
    """BPE-ish token count: letter runs + digit runs + punctuation
    marks. A cheap, deterministic proxy for subword token budgets."""
    c = F.col(text) if isinstance(text, str) else text
    return F.coalesce(
        F.size(F.regexp_extract_all(c, F.lit(BPE_ISH_PATTERN), 0)), F.lit(0)
    ).cast("long")


def stopword_hits(tokens: Column, lang: str) -> Column:
    """Count of tokens (duplicates included) in the ``lang`` profile."""
    words = STOPWORDS[lang]
    return F.size(F.filter(tokens, lambda t: t.isin(*words)))


def detect_language(text: Column | str) -> Column:
    """Deterministic language heuristic:

    1. any Cyrillic letter → 'ru'; any CJK ideograph → 'zh';
    2. else argmax of stopword-profile hit counts (ties break in
       profile order en > de > fr > es);
    3. no hits at all → 'und'.

    The token array and the four hit counts are each bound ONCE via a
    single-element ``transform`` (lambda-variable binding): higher-order
    lambdas are interpreted and Spark's subexpression elimination does
    not reach into them, so the naive inline form re-tokenized the text
    ~9× per row (once per hit-count reference in the argmax CASE) —
    visible as ~20 ``split`` nodes in the lang_id physical plan.
    """
    c = F.col(text) if isinstance(text, str) else text
    cyr = F.coalesce(F.length(F.regexp_extract(c, "([Ѐ-ӿ])", 1)), F.lit(0)) > 0
    cjk = F.coalesce(F.length(F.regexp_extract(c, "([一-鿿])", 1)), F.lit(0)) > 0

    langs = list(STOPWORDS)  # insertion order == tie priority

    def _pick(hits: Column) -> Column:
        best = F.array_max(hits)
        expr = F.when(best <= 0, F.lit("und"))
        for i, lang in enumerate(langs):
            expr = expr.when(F.element_at(hits, i + 1) == best, F.lit(lang))
        return expr.otherwise(F.lit("und"))

    def _decide(toks: Column) -> Column:
        hits = F.array(*[stopword_hits(toks, lang) for lang in langs])
        return F.element_at(F.transform(F.array(hits), _pick), 1)

    decided = F.element_at(
        F.transform(F.array(tokenize_ws(c, lowercase=True)), _decide), 1
    )
    return F.when(cyr, F.lit("ru")).when(cjk, F.lit("zh")).otherwise(decided)


def quality_score(text: Column | str) -> Column:
    """Deterministic document-quality heuristic in [0, 1]:

    - length component: min(n_tokens / 64, 1)      (too-short penalty)
    - alpha ratio: alpha chars / non-space chars    (symbol-soup penalty)
    - stopword component: min(4 * en_hits / n_tokens, 1)
      (natural-language-ness)
    - mean-token-length component: 1 if mean in [3, 12], else 0
      (gibberish / minified-code penalty)

    score = (length + alpha + stopword + token_len) / 4. All inputs are
    integer counts, so the double math is cross-engine exact.
    """
    c = F.col(text) if isinstance(text, str) else text

    # The token array and the four integer counts are each bound ONCE
    # via single-element ``transform`` lambdas (see detect_language):
    # the inline form re-ran tokenize/regexp chains per reference —
    # ~8 tokenize passes per row through the nested WHEN conditions.
    def _score(s: Column) -> Column:
        n_tok = s["n_tok"]
        n_nonspace = s["n_nonspace"]
        n_alpha = s["n_alpha"]
        en_hits = s["en_hits"]
        length_c = F.least(n_tok.cast("double") / 64.0, F.lit(1.0))
        alpha_c = F.when(
            n_nonspace > 0, n_alpha.cast("double") / n_nonspace.cast("double")
        ).otherwise(F.lit(0.0))
        stop_c = F.when(
            n_tok > 0,
            F.least(4.0 * en_hits.cast("double") / n_tok.cast("double"), F.lit(1.0)),
        ).otherwise(F.lit(0.0))
        mean_len = F.when(
            n_tok > 0, n_nonspace.cast("double") / n_tok.cast("double")
        ).otherwise(F.lit(0.0))
        len_c = F.when((mean_len >= 3.0) & (mean_len <= 12.0), F.lit(1.0)).otherwise(
            F.lit(0.0)
        )
        return (length_c + alpha_c + stop_c + len_c) / F.lit(4.0)

    def _counts(toks: Column) -> Column:
        return F.element_at(
            F.transform(
                F.array(
                    F.struct(
                        F.size(toks).alias("n_tok"),
                        F.length(F.regexp_replace(c, r"\s+", "")).alias("n_nonspace"),
                        F.length(
                            F.regexp_replace(c, r"[^A-Za-zА-Яа-я一-鿿]+", "")
                        ).alias("n_alpha"),
                        stopword_hits(toks, "en").alias("en_hits"),
                    )
                ),
                _score,
            ),
            1,
        )

    score = F.element_at(
        F.transform(F.array(tokenize_ws(c, lowercase=True)), _counts), 1
    )
    return F.when(c.isNull() | (F.trim(c) == ""), F.lit(0.0)).otherwise(score)


def tfidf_top_terms(
    docs,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
    scale: int = 10000,
):
    """Top-``k`` TF-IDF terms per document.

    tf = in-doc term count, df = number of docs containing the term,
    idf = ln(N/df) with N = total docs (no smoothing — documented
    contract, matching the textbook formula). The score is surfaced
    through the fixed-point bridge (``FLOOR(score*scale)`` → int64) and
    ranked with a (score_fp DESC, term ASC) total order, so the top-k
    set is deterministic and cross-engine hash-stable; ties at the same
    fixed-point score resolve alphabetically.

    Shuffle profile: one on (doc, term) for tf, one on term for df,
    a term-keyed join of the two (partial aggregation keeps hot
    stopword terms map-side), a broadcast of the single-row N, and a
    per-doc window for the top-k — no collect, no UDF.
    """
    from pyspark.sql import Window

    toks = docs.select(
        F.col(id_col), F.explode(tokenize_ws(F.col(text_col))).alias("term")
    )
    tf = toks.groupBy(id_col, "term").agg(F.count(F.lit(1)).alias("tf"))
    df_ = toks.groupBy("term").agg(F.countDistinct(id_col).alias("df"))
    n = docs.select(F.count(F.lit(1)).alias("__n"))
    scored = (
        tf.join(df_, "term")
        .crossJoin(F.broadcast(n))
        .withColumn(
            "score_fp",
            F.floor(
                F.col("tf") * F.log(F.col("__n") / F.col("df")) * F.lit(scale)
            ).cast("long"),
        )
    )
    w = Window.partitionBy(id_col).orderBy(F.desc("score_fp"), F.asc("term"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select(
            F.col(id_col),
            F.col("rnk").cast("long").alias("rnk"),
            "term",
            F.col("tf").cast("long").alias("tf"),
            F.col("df").cast("long").alias("df"),
            "score_fp",
        )
    )


def _bigram_runs(acc: Column, g: Column) -> Column:
    """One step of the run-length pass over a sorted bigram array:
    ``run`` is the length of the current run of equal bigrams, ``top``
    the longest run so far and ``dist`` the number of runs."""
    run = F.when(g == acc["prev"], acc["run"] + 1).otherwise(F.lit(1).cast("long"))
    return F.struct(
        g.alias("prev"),
        run.alias("run"),
        F.greatest(acc["top"], run).alias("top"),
        (acc["dist"] + F.when(g == acc["prev"], 0).otherwise(1)).alias("dist"),
    )


def with_repetition(df, toks: str, scale: int = 10000):
    """Row-local repetition step: adds ``n_bigrams``, ``top2_frac_fp``
    and ``dup2_frac_fp`` (see :func:`repetition_metrics`) computed from
    the token-array column ``toks``. Rows with fewer than two tokens get
    ``n_bigrams`` 0 and NULL ratios.

    The bigram array is sorted, so equal bigrams sit in runs; one
    ``aggregate`` pass over it yields the longest run (``top``) and the
    number of runs (``dist``) — O(n log n) per document, no shuffle."""
    t = F.col(toks)
    n = F.size(t)
    bigrams = F.transform(
        F.sequence(F.lit(1), n - 1),
        lambda i: F.concat_ws(" ", F.element_at(t, i), F.element_at(t, i + 1)),
    )
    zero = F.struct(
        F.lit(None).cast("string").alias("prev"),
        *[F.lit(0).cast("long").alias(c) for c in ("run", "top", "dist")],
    )
    runs = F.aggregate(F.array_sort(bigrams), zero, _bigram_runs)
    total = F.greatest(n - 1, F.lit(0)).cast("long")
    staged = df.withColumn("n_bigrams", total).withColumn(
        "__runs", F.when(n >= 2, runs)
    )
    return staged.withColumns(
        {
            "top2_frac_fp": F.expr(f"({scale} * __runs.top) div n_bigrams"),
            "dup2_frac_fp": F.expr(
                f"({scale} * (n_bigrams - __runs.dist)) div n_bigrams"
            ),
        }
    ).drop("__runs")


def repetition_metrics(
    docs, id_col: str = "doc_id", text_col: str = "text", scale: int = 10000
):
    """Gopher-style within-document repetition filters: the fraction of
    token bigrams taken by the single most frequent bigram
    (``top2_frac_fp``) and the duplicate-bigram fraction
    (``dup2_frac_fp`` = 1 - distinct/total). High values mark
    boilerplate/generated text for the quality gate, complementing the
    across-corpus dedup ladder in operators/text_dedup.py.

    All ratios are exact integer arithmetic on counts
    (``(scale*x) div total``) — hash-stable across engines. Documents
    with fewer than two tokens have no bigrams and are excluded
    (documented contract).

    A row is a document: each output row is computed from its own
    row's text alone (:func:`with_repetition`), so rows sharing an id
    — NULL included — are judged separately and never merge. Shape:
    one row-local projection over the scan; no shuffle.
    """
    toks = docs.select(F.col(id_col), tokenize_ws(F.col(text_col)).alias("__toks"))
    return (
        with_repetition(toks, "__toks", scale)
        .where(F.col("n_bigrams") > 0)
        .select(id_col, "n_bigrams", "top2_frac_fp", "dup2_frac_fp")
    )


def with_contamination(
    df, benchmark, toks: str, text_col: str = "text", n: int = 5, scale: int = 10000
):
    """Row-local decontamination step: adds ``n_grams``,
    ``n_contaminated`` and ``contam_frac_fp`` (see
    :func:`contamination_check`) computed from the token-array column
    ``toks``. The benchmark's distinct ``n``-token shingles are one
    ``collect_set`` row, cross-joined as a broadcast — no driver
    action — and each row counts ``size(array_intersect(shingles,
    benchmark set))``. Per-row cost is linear in the benchmark set,
    which is broadcast-size by definition."""
    from pasta_pipeline_spark.operators.text_dedup import shingles_from_tokens

    bench = (
        benchmark.select(tokenize_ws(F.col(text_col)).alias("__bt"))
        .select(F.explode(shingles_from_tokens(F.col("__bt"), n)).alias("__g"))
        .agg(F.collect_set("__g").alias("__bench"))
    )
    sh = df.withColumn("__sh", shingles_from_tokens(F.col(toks), n))
    hits = F.size(F.array_intersect(F.col("__sh"), F.col("__bench")))
    return (
        sh.crossJoin(F.broadcast(bench))
        .withColumns(
            {
                "n_grams": F.size(F.col("__sh")).cast("long"),
                "n_contaminated": hits.cast("long"),
            }
        )
        .withColumn(
            "contam_frac_fp", F.expr(f"({scale} * n_contaminated) div n_grams")
        )
        .drop("__sh", "__bench")
    )


def contamination_check(
    corpus,
    benchmark,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 5,
    scale: int = 10000,
):
    """Benchmark-contamination scan: for every corpus document, how
    many of its distinct ``n``-token shingles appear anywhere in the
    ``benchmark`` set (the eval-set-leakage check every training-data
    pipeline runs before a model ever sees the corpus).

    Returns (id, n_grams, n_contaminated, contam_frac_fp) for every
    corpus doc — zero rows included, so the clean majority is
    auditable, not silently absent. A row is a document: each row is
    judged on its own text (:func:`with_contamination`), so rows
    sharing an id — NULL included — never merge.

    Scale shape: the corpus side is one row-local projection (no
    explode, no shuffle); the benchmark side is one global
    ``collect_set`` of its shingles, broadcast to every task.
    """
    toks = corpus.select(F.col(id_col), tokenize_ws(F.col(text_col)).alias("__toks"))
    return with_contamination(toks, benchmark, "__toks", text_col, n, scale).select(
        id_col, "n_grams", "n_contaminated", "contam_frac_fp"
    )


def char_entropy(
    docs,
    id_col: str = "doc_id",
    text_col: str = "text",
    ln_scale: int = 1_000_000_000,
):
    """Character-distribution Shannon entropy per document (nats,
    fixed-point) — the cheap perplexity proxy in the quality gate: very
    low entropy flags repeated-character/boilerplate junk, very high
    flags binary-ish noise.

    Exactness: H = ln(n) - (Σ cnt·ln cnt)/n needs double ln's, and a
    double SUM over characters would be order-dependent. Contract:
    ``lnfp(x) = FLOOR(ln(x)·ln_scale)`` (ln is correctly rounded in
    both engines → identical int64), then
    ``H_fp = (n·lnfp(n) − Σ cnt·lnfp(cnt)) div n`` — all sums int64,
    order-free. Bounds: cnt·lnfp(cnt) < 1e4·1e10 per char class, safe
    in int64 for documents to ~1e8 chars.

    Shape: explode to one row per character position (substr(i,1) —
    engine-portable, unlike empty-pattern splits), two partial-agg
    groupBys. Empty documents are excluded.
    """
    c = F.col(text_col)
    chars = (
        docs.filter(F.length(c) > 0)
        .select(
            F.col(id_col),
            c.alias("__t"),
            F.explode(F.sequence(F.lit(1), F.length(c))).alias("__i"),
        )
        .select(
            F.col(id_col), F.col("__t").substr(F.col("__i"), F.lit(1)).alias("ch")
        )
    )
    counts = chars.groupBy(id_col, "ch").agg(F.count(F.lit(1)).alias("cnt"))

    def lnfp(col):
        return F.floor(F.log(col.cast("double")) * ln_scale).cast("long")

    m = counts.groupBy(id_col).agg(
        F.sum("cnt").cast("long").alias("n"),
        F.sum(F.col("cnt") * lnfp(F.col("cnt"))).cast("long").alias("s"),
    ).withColumn("lnn", lnfp(F.col("n")))
    return m.select(
        F.col(id_col),
        F.col("n").alias("n_chars_seen"),
        F.expr("(n * lnn - s) div n").alias("entropy_fp"),
    )



def build_vocab(
    docs,
    id_col: str = "doc_id",
    text_col: str = "text",
    top_n: int = 1000,
):
    """Corpus vocabulary: the ``top_n`` most frequent whitespace tokens
    with contiguous ids — the tokenizer-training precursor (and the
    shared dimension for any token-id encoding step).

    Output: ``(token_id, token, n_occurrences, n_docs)``; ids are
    1-based in (count desc, token asc) order — a total order, so ids
    are reproducible run to run and across engines.

    Scale shape: one explode + one groupBy on the token (partial
    aggregation does the heavy lifting), then a top-n via
    ``orderBy().limit()`` (distributed take-ordered, NOT a global
    sort). The only single-task step is the ``row_number`` over the
    already-limited ``top_n`` rows — bounded by construction.
    """
    from pyspark.sql import Window

    tok = docs.where(F.col(text_col).isNotNull()).select(
        F.col(id_col), F.explode(tokenize_ws(F.col(text_col))).alias("token")
    )
    counts = tok.groupBy("token").agg(
        F.count(F.lit(1)).cast("long").alias("n_occurrences"),
        F.count_distinct(F.col(id_col)).cast("long").alias("n_docs"),
    )
    order = [F.desc("n_occurrences"), F.asc("token")]
    top = counts.orderBy(*order).limit(top_n)
    return top.select(
        F.row_number().over(Window.orderBy(*order)).cast("long").alias("token_id"),
        "token",
        "n_occurrences",
        "n_docs",
    )


def unigram_nll(
    docs,
    id_col: str = "doc_id",
    text_col: str = "text",
    ln_scale: int = 1_000_000_000,
):
    """Per-document mean negative log-likelihood under the corpus's own
    unigram model — the classic cheap perplexity proxy for quality
    filtering (documents of globally-rare tokens score high; formulaic
    boilerplate scores low). No smoothing needed: the model is fit on
    the same corpus, so every token has count >= 1.

    Exactness contract (playbook: fixed-point ln): with
    ``lnfp(x) = FLOOR(ln(x) * ln_scale)`` (int64, bit-identical across
    engines because ln is correctly rounded on both),

        nll_fp = (n * lnfp(T) - SUM_t lnfp(cnt_t)) div n

    where ``T`` is the corpus token count. All sums are order-free
    int64 and the numerator is nonnegative (cnt <= T), so integer
    division semantics never hit the negative-operand divergence
    between engines. Empty documents are excluded (no tokens → no
    likelihood).

    Scale shape: token explode → vocab groupBy (small result, the
    joinback is AQE-broadcast-eligible) → per-doc groupBy; the corpus
    total joins in as a broadcast single row. No window over a global
    order, no driver state.
    """
    tok = docs.where(F.col(text_col).isNotNull()).select(
        F.col(id_col), F.explode(tokenize_ws(F.col(text_col))).alias("token")
    )

    def lnfp(col):
        return F.floor(F.log(col.cast("double")) * ln_scale).cast("long")

    counts = tok.groupBy("token").agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    total = counts.agg(F.sum("cnt").cast("long").alias("T"))
    per_doc = (
        tok.join(counts, "token")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_tokens"),
            F.sum(lnfp(F.col("cnt"))).cast("long").alias("s"),
        )
    )
    return per_doc.crossJoin(F.broadcast(total)).select(
        F.col(id_col),
        "n_tokens",
        F.expr(f"(n_tokens * (CAST(FLOOR(ln(CAST(T AS DOUBLE)) * {ln_scale}) AS BIGINT)) - s) div n_tokens")
        .cast("long")
        .alias("nll_fp"),
    )


def bigram_transitions(
    docs,
    text_col: str = "text",
    top_n: int = 50,
    prob_scale: int = 1_000_000,
):
    """Token bigram transition table: count of each (w1, w2) adjacent
    pair across the corpus plus the integer-exact conditional
    probability ``P(w2 | w1)`` — the Markov-model precursor (and the
    statistic behind "predictable boilerplate" quality filters).

    ``prob_fp = n * prob_scale div n_first`` where ``n_first`` is how
    often ``w1`` opens a bigram (token occurrences minus doc-final
    positions) — all int64, so the probabilities hash-match the DuckDB
    twin exactly.

    Scale shape: one explode (bigrams come from slice/zip inside the
    row — no self-join on position), one groupBy (w1, w2) with partial
    aggregation, one window over w1 (bounded by vocabulary fan-out,
    and only over the already-aggregated pair table, not the corpus),
    then distributed take-ordered for the top-n.
    """
    from pyspark.sql import Window

    tokd = docs.select(tokenize_ws(F.col(text_col)).alias("__ts")).where(
        F.size("__ts") >= 2
    )
    pairs = tokd.select(
        F.explode(
            F.expr(
                "transform(slice(__ts, 1, size(__ts) - 1),"
                " (x, i) -> struct(x AS w1, element_at(__ts, i + 2) AS w2))"
            )
        ).alias("bg")
    )
    counts = pairs.select("bg.w1", "bg.w2").groupBy("w1", "w2").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    w = Window.partitionBy("w1")
    scored = counts.select(
        "w1",
        "w2",
        "n",
        F.sum("n").over(w).cast("long").alias("n_first"),
    ).withColumn("prob_fp", F.expr(f"n * {prob_scale} div n_first").cast("long"))
    return scored.orderBy(F.desc("n"), F.asc("w1"), F.asc("w2")).limit(top_n)


def token_cooccurrence(
    docs,
    id_col: str = "doc_id",
    text_col: str = "text",
    vocab_n: int = 20,
):
    """Document-level co-occurrence counts for the ``vocab_n`` most
    frequent tokens: for every unordered vocabulary pair (t1 < t2), in
    how many documents both appear.

    The vocabulary restriction is what makes the quadratic safe at
    scale: each document contributes at most C(vocab_n, 2) pairs
    regardless of its length, so the exploded pair volume is bounded
    by ``n_docs * vocab_n^2 / 2`` — a design contract, not a tuning
    accident. Pairs are generated inside the row from the sorted
    per-doc vocabulary-token set (no positional self-join); the vocab
    itself broadcasts (it is top-n of a groupBy — tiny by
    construction).
    """
    tok = docs.where(F.col(text_col).isNotNull()).select(
        F.col(id_col), F.explode(tokenize_ws(F.col(text_col))).alias("token")
    )
    vocab = (
        tok.groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), F.asc("token"))
        .limit(vocab_n)
        .select("token")
    )
    present = (
        tok.join(F.broadcast(vocab), "token")
        .groupBy(id_col)
        .agg(F.array_sort(F.collect_set("token")).alias("ts"))
    )
    pair_expr = (
        "flatten(transform(ts, (x, i) ->"
        " transform(slice(ts, i + 2, size(ts)), y -> struct(x AS t1, y AS t2))))"
    )
    return (
        present.select(F.explode(F.expr(pair_expr)).alias("p"))
        .select("p.t1", "p.t2")
        .groupBy("t1", "t2")
        .agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
    )


def encoding_profile(text: Column | str) -> dict[str, Column]:
    """Character-class hygiene profile — the encoding/mojibake triage
    stage of a corpus pipeline (detect broken decodes, control-char
    debris, digit walls, whitespace floods before they reach training).

    Returns named integer Column metrics; every count is a portable
    regex (ASCII classes, no backreferences — identical under Java
    regex, RE2, and Python re) so the whole profile is oracle-exact:

    - n_chars: total characters;
    - n_digits / n_punct / n_ws: single-class character counts;
    - n_ws_runs: whitespace *runs* (a 50-space flood is one run);
    - n_nonascii: chars outside \\x00-\\x7F (mojibake beacon);
    - n_replacement: U+FFFD replacement chars (a hard decode-error
      marker — any nonzero value means the upstream decode lied);
    - max_token_chars: longest whitespace token (URL/blob detector).
    """
    c = F.col(text) if isinstance(text, str) else text
    count = lambda pat: F.regexp_count(c, F.lit(pat)).cast("long")  # noqa: E731
    toks = tokenize_ws(c, lowercase=False)
    return {
        "n_chars": F.length(c).cast("long"),
        "n_digits": count(r"[0-9]"),
        "n_punct": count(r"[.,;:!?]"),
        "n_ws": count(r"[ \t\n\r]"),
        "n_ws_runs": count(r"[ \t\n\r]+"),
        "n_nonascii": count(r"[^\x00-\x7f]"),
        "n_replacement": count("�"),
        "max_token_chars": F.coalesce(
            F.array_max(F.transform(toks, F.length)), F.lit(0)
        ).cast("long"),
    }


def quality_score_lang(text: Column | str, lang: Column | str) -> Column:
    """Language-aware :func:`quality_score`: the stopword component
    counts hits against the DOCUMENT'S language profile instead of
    assuming English — an English-stopword gate scores every French or
    German document as low-quality noise, the classic multilingual
    curation bug. Languages without a profile (e.g. zh, where
    whitespace stopwords are the wrong model entirely) fall back to
    the BEST hit count across all profiles (greatest), which degrades
    to "contains function words of some supported language" rather
    than punishing the document for not being English.

    Same integer-count discipline as quality_score — cross-engine
    exact; the per-language CASE is generated from the same STOPWORDS
    constant in the SQL twin."""
    c = F.col(text) if isinstance(text, str) else text
    lc = F.col(lang) if isinstance(lang, str) else lang
    toks = tokenize_ws(c, lowercase=True)
    n_tok = F.size(toks)
    n_nonspace = F.length(F.regexp_replace(c, r"\s+", ""))
    n_alpha = F.length(F.regexp_replace(c, r"[^A-Za-zА-Яа-я一-鿿]+", ""))

    hits_by_lang = {lg: stopword_hits(toks, lg) for lg in STOPWORDS}
    hits = F.greatest(*hits_by_lang.values())
    for lg, h in hits_by_lang.items():
        hits = F.when(lc == lg, h).otherwise(hits)

    length_c = F.least(n_tok.cast("double") / 64.0, F.lit(1.0))
    alpha_c = F.when(
        n_nonspace > 0, n_alpha.cast("double") / n_nonspace.cast("double")
    ).otherwise(F.lit(0.0))
    stop_c = F.when(
        n_tok > 0,
        F.least(4.0 * hits.cast("double") / n_tok.cast("double"), F.lit(1.0)),
    ).otherwise(F.lit(0.0))
    mean_len = F.when(
        n_tok > 0, n_nonspace.cast("double") / n_tok.cast("double")
    ).otherwise(F.lit(0.0))
    len_c = F.when((mean_len >= 3.0) & (mean_len <= 12.0), F.lit(1.0)).otherwise(
        F.lit(0.0)
    )
    score = (length_c + alpha_c + stop_c + len_c) / 4.0
    return F.when(c.isNull() | (F.trim(c) == ""), F.lit(0.0)).otherwise(score)


#: Unicode script ranges for the script-mix histogram (char-class
#: regexes shared verbatim with the SQL twin; portable — no
#: properties like \p{Script=...}, just explicit BMP ranges).
SCRIPT_RANGES = (
    ("latin", "A-Za-z"),
    ("cyrillic", "А-Яа-яЁё"),
    ("cjk", "一-鿿぀-ヿ가-힣"),
    ("arabic", "؀-ۿ"),
    ("devanagari", "ऀ-ॿ"),
    ("greek", "Ͱ-Ͽ"),
)


def script_mix(text: Column | str) -> list[Column]:
    """Per-script character share of a document in integer basis
    points (share of LETTER mass, whitespace/digits/punctuation
    excluded) — the script histogram that catches mixed-script spam,
    transliteration artifacts, and wrong-language routing that
    whole-document language ID misses (a 90% Latin page with a
    Cyrillic spam footer keeps lang='en' but shows a nonzero
    cyrillic_bp). Returns one ``<script>_bp`` column per entry in
    ``SCRIPT_RANGES`` plus ``n_script_chars``; all integer counts —
    cross-engine exact."""
    c = F.col(text) if isinstance(text, str) else text
    counts = {
        name: F.length(F.regexp_replace(c, f"[^{rng}]+", ""))
        for name, rng in SCRIPT_RANGES
    }
    total = None
    for col in counts.values():
        total = col if total is None else total + col
    total_c = F.coalesce(total, F.lit(0))
    out = [total_c.cast("long").alias("n_script_chars")]
    for name, col in counts.items():
        # count*10000/total: both operands exact in double and the
        # IEEE quotient of exact integers is correctly rounded, so
        # floor == integer division — matches the oracle's `//`
        share = F.when(
            total_c > 0, F.floor(col * 10000 / total_c).cast("long")
        ).otherwise(F.lit(0).cast("long"))
        out.append(share.alias(f"{name}_bp"))
    return out


# Unicode confusables (public UTS #39 data, the high-frequency
# Cyrillic->Latin lookalikes used in practice for mixed-script
# spoofing). Keys: Cyrillic characters visually identical to Latin;
# values: the Latin skeleton character. Shared with the SQL oracle
# (the DuckDB twin generates a replace() chain from this same dict).
CONFUSABLE_CYR2LAT = {
    "а": "a", "е": "e", "о": "o", "р": "p", "с": "c", "у": "y",
    "х": "x", "і": "i", "ѕ": "s", "ј": "j", "һ": "h",
    "А": "A", "В": "B", "Е": "E", "К": "K", "М": "M", "Н": "H",
    "О": "O", "Р": "P", "С": "C", "Т": "T", "У": "Y", "Х": "X",
}

#: Regexes shared with the oracle (RE2-portable \x{} escapes).
HAS_LATIN_RE = "[A-Za-z]"
HAS_CYRILLIC_RE = "[\\x{0400}-\\x{04FF}]"
PURE_LATIN_RE = "^[A-Za-z]+$"


def confusable_stats(text: Column | str) -> list[Column]:
    """Mixed-script / homoglyph-spoof signals per document:

    - ``n_ws_tokens``: whitespace tokens;
    - ``n_mixed_script``: tokens containing BOTH Latin and Cyrillic
      letters — legitimate in bilingual text, but the carrier class
      for spoofing;
    - ``n_spoofable``: mixed tokens whose Cyrillic letters are ALL
      Latin lookalikes (the UTS #39 skeleton maps the token to pure
      Latin) — 'pаypal' with a Cyrillic а is spoofable, a genuine
      Russian word is not;
    - ``spoof_bp``: spoofable share of tokens in basis points.

    The signal `script_mix` cannot give: a document can be 99% Latin
    by character mass yet carry one spoofed token — exactly the spam
    / phishing / poisoning artifact corpus filters care about.
    Expression-only (split + HOF filters + one translate): no
    explode, no shuffle, no UDF — a projection over the corpus scan.
    """
    c = F.col(text) if isinstance(text, str) else text
    src = "".join(CONFUSABLE_CYR2LAT.keys())
    dst = "".join(CONFUSABLE_CYR2LAT.values())
    toks = F.filter(F.split(c, r"\s+"), lambda x: x != "")
    mixed = F.filter(
        toks, lambda x: x.rlike(HAS_LATIN_RE) & x.rlike(HAS_CYRILLIC_RE)
    )
    spoof = F.filter(
        mixed, lambda x: F.translate(x, src, dst).rlike(PURE_LATIN_RE)
    )
    n_toks = F.size(toks).cast("long")
    n_mixed = F.size(mixed).cast("long")
    n_spoof = F.size(spoof).cast("long")
    spoof_bp = F.when(
        n_toks > 0, F.floor(n_spoof * 10000 / n_toks).cast("long")
    ).otherwise(F.lit(0).cast("long"))
    return [
        n_toks.alias("n_ws_tokens"),
        n_mixed.alias("n_mixed_script"),
        n_spoof.alias("n_spoofable"),
        spoof_bp.alias("spoof_bp"),
    ]


def bigram_nll(
    docs,
    id_col: str = "doc_id",
    text_col: str = "text",
    model_docs=None,
    lam_num: int = 7,
    lam_den: int = 10,
    ln_scale: int = 1_000_000_000,
):
    """Per-document mean NLL under an interpolated bigram model — the
    quality filter one rung above :func:`unigram_nll`, and the shape
    CCNet-style perplexity filtering actually uses: fit the model on a
    REFERENCE corpus (``model_docs``; e.g. a curated subset) and score
    the target corpus against it. Boilerplate with predictable
    transitions scores low; word salad scores high even when its
    unigrams are common. Default ``model_docs=None`` fits on the
    scored corpus itself — note the standard self-fit artifact:
    singleton openers make their one continuation look perfectly
    predictable, so cross-fit is the discriminative mode.

        p(w2|w1) = \u03bb\u00b7c12/c1 + (1-\u03bb)\u00b7(c2+1)/(T+V)

    with \u03bb = lam_num/lam_den and add-one continuation smoothing
    (V = model vocab size), so unseen continuations keep nonzero
    mass. As one ratio of integers,

        p = (lam_num\u00b7c12\u00b7(T+V) + (lam_den-lam_num)\u00b7(c2+1)\u00b7c1)
            / (lam_den\u00b7c1\u00b7(T+V))

    and each bigram's -ln p is a DIFFERENCE OF TWO FIXED-POINT LNs of
    int64 products — the whole score replays exactly in SQL (the
    unigram_nll playbook). Bound: ``lam_den\u00b7c1\u00b7(T+V)`` must fit
    int64 (~1e9-token models at these defaults).

    Bigrams whose OPENER is out-of-model-vocabulary cannot be
    conditioned on and are excluded from the mean but counted in
    ``n_oov_openers``. Returns
    ``(id, n_bigrams, n_oov_openers, nll2_fp)``; documents with fewer
    than two tokens are excluded. Scale shape: one explode to
    bigrams, vocab-scale count tables joined back
    (AQE-broadcast-eligible), per-doc groupBy; totals broadcast as a
    single row.
    """
    toks = F.filter(
        F.split(F.col(text_col), r"\s+"), lambda x: x != ""
    )
    n = F.size(toks)
    m = F.greatest(n - 1, F.lit(0))
    pairs = F.zip_with(
        F.slice(toks, F.lit(1), m),
        F.slice(toks, F.lit(2), m),
        lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
    )
    base = docs.where(F.col(text_col).isNotNull())
    model = base if model_docs is None else model_docs.where(
        F.col(text_col).isNotNull()
    )
    big = base.select(F.col(id_col), F.explode(pairs).alias("p")).select(
        id_col, F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2")
    )
    mbig = model.select(F.explode(pairs).alias("p")).select(
        F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2")
    )
    uni = model.select(F.explode(toks).alias("w")).groupBy("w").agg(
        F.count(F.lit(1)).cast("long").alias("c2")
    )
    totals = uni.agg(
        (F.sum("c2") + F.count(F.lit(1))).cast("long").alias("TV")
    )
    c12 = mbig.groupBy("w1", "w2").agg(F.count(F.lit(1)).cast("long").alias("c12"))
    c1 = mbig.groupBy("w1").agg(F.count(F.lit(1)).cast("long").alias("c1"))

    mu = lam_den - lam_num
    joined = (
        big.join(c1, "w1", "left")
        .join(c12, ["w1", "w2"], "left")
        .join(uni.withColumnRenamed("w", "w2"), "w2", "left")
        .crossJoin(F.broadcast(totals))
        .select(
            F.col(id_col),
            F.col("c1").isNull().alias("oov"),
            F.when(
                F.col("c1").isNotNull(),
                F.expr(
                    "CAST(FLOOR(ln(CAST(" + f"{lam_den} * c1 * TV"
                    + " AS DOUBLE)) * " + str(ln_scale) + ") AS BIGINT)"
                    + " - "
                    + "CAST(FLOOR(ln(CAST("
                    + f"{lam_num} * coalesce(c12, 0) * TV + {mu} * (coalesce(c2, 0) + 1) * c1"
                    + " AS DOUBLE)) * " + str(ln_scale) + ") AS BIGINT)"
                ),
            ).alias("t"),
        )
    )
    return joined.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_bigrams"),
        F.sum(F.col("oov").cast("long")).cast("long").alias("n_oov_openers"),
        F.expr(
            "CASE WHEN count(t) > 0 THEN sum(t) div count(t) END"
        ).cast("long").alias("nll2_fp"),
    )


def lexical_diversity(
    docs,
    id_col: str = "doc_id",
    text_col: str = "text",
    window: int = 25,
):
    """Type-token diversity metrics per document — the
    template/keyword-stuffing signal repetition counts miss:

    - ``ttr_bp``: distinct tokens / tokens, basis points (length-
      sensitive: long documents trend low naturally);
    - ``mattr_bp``: moving-average TTR (Covington & McFall, JQL
      2010) — mean TTR over every full sliding window of ``window``
      tokens, which removes the length bias and is the form corpus
      quality work actually compares across documents. Windows are
      exact (each window's distinct count via slice + array_distinct
      — expression-only), and the mean is the integer average of
      per-window basis-point TTRs. Documents shorter than ``window``
      fall back to whole-document TTR.

    One projection plus one explode bounded by token count (window
    starts), no shuffle beyond the final shape; hash-exact."""
    toks = F.filter(F.split(F.col(text_col), r"\s+"), lambda x: x != "")
    n = F.size(toks)
    ttr_bp = F.when(
        n > 0, F.expr(f"size(array_distinct(filter(split({text_col}, '\\\\s+'), x -> x != ''))) * 10000 div size(filter(split({text_col}, '\\\\s+'), x -> x != ''))")
    ).otherwise(F.lit(None)).cast("long")
    base = docs.where(F.col(text_col).isNotNull()).select(
        F.col(id_col), toks.alias("__toks"), n.alias("n_tokens"), ttr_bp.alias("ttr_bp")
    )
    starts = F.sequence(F.lit(1), F.col("n_tokens") - F.lit(window) + 1)
    win_ttrs = F.transform(
        starts,
        lambda s: F.size(F.array_distinct(F.slice(F.col("__toks"), s, window)))
        * 10000
        / F.lit(window),
    )
    mattr = F.when(
        F.col("n_tokens") >= window,
        F.floor(
            F.aggregate(
                win_ttrs, F.lit(0.0), lambda acc, v: acc + F.floor(v)
            )
            / (F.col("n_tokens") - window + 1)
        ),
    ).otherwise(F.col("ttr_bp"))
    return base.select(
        id_col, "n_tokens", "ttr_bp", mattr.cast("long").alias("mattr_bp")
    )


COMPRESSION_SCHEMA = "doc_id long, n_bytes long, n_compressed long, compression_bp long"


def compression_ratio(
    docs,
    id_col: str = "doc_id",
    text_col: str = "text",
    level: int = 6,
):
    """DEFLATE compressibility per document — the one repetition
    signal that sees EVERY kind of redundancy at once (repeated
    lines, templated spans, character runs, low-entropy filler):
    highly compressible text is highly redundant, full stop. Used as
    a cheap quality gate alongside the explicit repetition metrics.

    ``compression_bp = compressed_bytes * 10000 div utf8_bytes``
    (empty text → NULL). zlib at a FIXED level is deterministic for a
    given library, so results are stable across runs and
    partitionings; the cross-engine oracle is a differential pytest
    against direct ``zlib.compress`` (DuckDB has no DEFLATE surface —
    this is one of the sanctioned Arrow-batched Python stages, like
    NFC and media decode: stdlib-only, batch-columnar, no per-row
    Python beyond the loop inside the batch)."""
    import zlib

    from pyspark.sql.types import LongType, StructField, StructType

    from pasta_pipeline_spark.operators.util import ensure_package_on_workers

    ensure_package_on_workers(docs.sparkSession)
    schema = StructType(
        [
            StructField("doc_id", LongType(), False),
            StructField("n_bytes", LongType(), True),
            StructField("n_compressed", LongType(), True),
            StructField("compression_bp", LongType(), True),
        ]
    )
    src = docs.select(
        F.col(id_col).cast("long").alias("doc_id"), F.col(text_col).alias("__t")
    )

    def run(batches):
        import pandas as pd

        for pdf in batches:
            out = {"doc_id": [], "n_bytes": [], "n_compressed": [], "compression_bp": []}
            for did, txt in zip(pdf["doc_id"], pdf["__t"]):
                out["doc_id"].append(int(did))
                if txt is None:
                    out["n_bytes"].append(None)
                    out["n_compressed"].append(None)
                    out["compression_bp"].append(None)
                    continue
                raw = str(txt).encode("utf-8")
                comp = zlib.compress(raw, level)
                out["n_bytes"].append(len(raw))
                out["n_compressed"].append(len(comp))
                out["compression_bp"].append(
                    len(comp) * 10000 // len(raw) if raw else None
                )
            yield pd.DataFrame(out)

    return src.mapInPandas(run, schema)


def perplexity_buckets(
    docs,
    id_col: str = "doc_id",
    text_col: str = "text",
    lang_col: str = "lang",
):
    """CCNet-style perplexity tiering (Wenzek et al. 2019,
    arXiv:1911.00359): within each language, rank documents by their
    LM score and cut the corpus into head / middle / tail thirds —
    head (most fluent) feeds pretraining first, tail is review-or-drop.

    The LM is the corpus-fit unigram model of :func:`unigram_nll`
    (fixed-point int64 ``nll_fp``, hash-exact across engines); the cut
    CONTRACT is ``ntile(3)`` over ``(nll_fp ASC, id ASC)`` within each
    language — SQL-standard ntile (first ``n % 3`` tiles one row
    larger) with a total order, so bucket assignment is deterministic
    and engine-identical.

    Scale shape (r6 verdict #3): a plain grouped ntile window pins
    each LANGUAGE to one task — parallel across languages but the hot
    language (~half a real corpus is English) lands on a single
    executor thread. Ranks instead come from
    :func:`~pasta_pipeline_spark.operators.ids.assign_grouped_sequential_ids`
    (range-partition by (lang, nll_fp, id) + per-language driver
    prefix-sum over partition-slice counts), so the hot language spans
    many range partitions, and the tile is ntile's closed-form
    quotient over (rank, per-language total) — identical assignment,
    no whole-language task anywhere.
    """
    from pasta_pipeline_spark.operators.ids import assign_grouped_sequential_ids
    from pasta_pipeline_spark.operators.util import attach_cached_deps

    nll = unigram_nll(docs, id_col=id_col, text_col=text_col)
    scored = docs.select(F.col(id_col), F.col(lang_col)).join(nll, id_col)
    ranked = assign_grouped_sequential_ids(
        scored,
        group_cols=lang_col,
        order_cols=["nll_fp", id_col],
        out_col="__rk",
        total_col="__n",
    )
    # ntile(3) closed form (the equidepth_histogram arithmetic): the
    # first n%3 tiles take n div 3 + 1 rows each
    tile = F.expr(
        """CASE
             WHEN __rk <= (__n % 3) * (__n div 3 + 1)
             THEN (__rk - 1) div (__n div 3 + 1)
             ELSE (__n % 3) + (__rk - (__n % 3) * (__n div 3 + 1) - 1)
                  div greatest(__n div 3, 1)
           END + 1"""
    )
    out = ranked.select(
        F.col(id_col),
        F.col(lang_col),
        "n_tokens",
        "nll_fp",
        F.when(tile == 1, F.lit("head"))
        .when(tile == 2, F.lit("middle"))
        .otherwise(F.lit("tail"))
        .alias("bucket"),
    )
    return attach_cached_deps(out, getattr(ranked, "_pasta_cached_deps", []))


def stopword_discovery(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    top_k: int = 50,
    stop_ratio_sc: int = 500_000,
) -> DataFrame:
    """Corpus-driven stopword candidates (r8): the ``top_k`` tokens by
    document frequency, with the two signals a stoplist builder reads —
    df ratio (share of docs containing the token) and within-doc rate
    (mean occurrences per containing doc; function words are both
    ubiquitous AND bursty). ``is_stopword`` flags df ratio >= the
    threshold (default: in half the corpus).

    Language-agnostic version of the fixed English stoplists the
    quality tiers consume — at 100 TB you derive the list from the
    corpus (per language) rather than shipping one.

    Scale shape: one token explode → two groupBys (term grain); the
    top-k is a deterministic (df desc, token asc) TakeOrdered. Exact:
    counts int64; the two ratios are single double divisions floored.

    Returns (rnk, token, df, cf, df_ratio_sc, per_doc_rate_sc,
    is_stopword).
    """
    from pyspark.sql import Window

    toks = df.select(
        F.col(id_col), F.explode(tokenize_ws(F.col(text_col))).alias("token")
    )
    stats = toks.groupBy("token").agg(
        F.count_distinct(F.col(id_col)).alias("df"),
        F.count(F.lit(1)).alias("cf"),
    )
    n_docs = df.count()  # driver scalar: one count, metadata-scale
    df_ratio = F.col("df").cast("double") / F.lit(float(n_docs))
    per_doc = F.col("cf").cast("double") / F.col("df").cast("double")
    scored = stats.select(
        "token",
        "df",
        "cf",
        F.floor(df_ratio * 1000000).cast("long").alias("df_ratio_sc"),
        F.floor(per_doc * 1000000).cast("long").alias("per_doc_rate_sc"),
    )
    top = scored.orderBy(F.desc("df"), F.asc("token")).limit(top_k)
    w = Window.orderBy(F.desc("df"), F.asc("token"))  # over <= top_k rows
    return top.withColumn("rnk", F.row_number().over(w).cast("long")).select(
        "rnk",
        "token",
        "df",
        "cf",
        "df_ratio_sc",
        "per_doc_rate_sc",
        (F.col("df_ratio_sc") >= stop_ratio_sc).alias("is_stopword"),
    )


def stopword_discovery_oracle_sql(
    table: str = "documents", top_k: int = 50, stop_ratio_sc: int = 500_000
) -> str:
    """DuckDB twin of :func:`stopword_discovery`."""
    return f"""
    WITH toks AS (
      SELECT doc_id,
             unnest(list_filter(regexp_split_to_array(lower(text), '\\s+'),
                                y -> y <> '')) AS token
      FROM {table}
    ), stats AS (
      SELECT token, COUNT(DISTINCT doc_id) AS df, COUNT(*) AS cf
      FROM toks GROUP BY token
    ), n AS (SELECT COUNT(*) AS n_docs FROM {table}),
    scored AS (
      SELECT token, CAST(df AS BIGINT) AS df, CAST(cf AS BIGINT) AS cf,
        CAST(FLOOR(CAST(df AS DOUBLE) / CAST(n.n_docs AS DOUBLE) * 1000000) AS BIGINT) AS df_ratio_sc,
        CAST(FLOOR(CAST(cf AS DOUBLE) / CAST(df AS DOUBLE) * 1000000) AS BIGINT) AS per_doc_rate_sc
      FROM stats CROSS JOIN n
    )
    SELECT CAST(row_number() OVER (ORDER BY df DESC, token ASC) AS BIGINT) AS rnk,
           token, df, cf, df_ratio_sc, per_doc_rate_sc,
           df_ratio_sc >= {stop_ratio_sc} AS is_stopword
    FROM scored ORDER BY df DESC, token ASC LIMIT {top_k}
    """


def term_burstiness(
    df,
    id_col: str = "doc_id",
    text_col: str = "text",
    top_k: int = 40,
):
    """Per-term burstiness (variance-to-mean index of dispersion,
    zeros included) for the ``top_k`` terms by collection frequency —
    the corpus-linguistics screen that separates bursty CONTENT words
    (D >> 1: when a doc mentions the term it mentions it repeatedly)
    from uniformly-sprinkled FUNCTION words (D ~ 1, Poisson-like).
    Feeds stoplist curation and topical-template detection alongside
    ``stopword_discovery_report`` (df-based) — a term with high df AND
    high D is a template artifact, not a function word.

    Exactness: with N docs, S1 = sum of per-doc counts, S2 = sum of
    their squares (zero-count docs contribute 0 to both, so only
    nonzero rows are scanned — no zero-fill join), the population
    dispersion is D = (N*S2 - S1^2) / (N*S1). S1/df are int64, S2
    accumulates in decimal(38,0) (NOTES #40), and D/mean are single
    floored double divisions over those exact sums.

    Scale shape: explode -> groupBy(doc, term) -> groupBy(term), a
    TakeOrdered top-k (no global-sort shuffle), and one 1-row
    broadcast N handoff (the audited crossJoin pattern).
    """
    toks = df.select(
        F.col(id_col).alias("__doc"),
        F.explode(tokenize_ws(F.col(text_col))).alias("term"),
    )
    per_doc = toks.groupBy("__doc", "term").agg(
        F.count(F.lit(1)).alias("c")
    )
    per_term = per_doc.groupBy("term").agg(
        F.sum("c").alias("cf"),
        F.sum((F.col("c") * F.col("c")).cast("decimal(38,0)")).alias("s2"),
        F.count(F.lit(1)).alias("df"),
    )
    topk = per_term.orderBy(F.desc("cf"), F.asc("term")).limit(top_k)
    n = df.agg(F.count(F.lit(1)).alias("n_docs"))
    joined = topk.crossJoin(F.broadcast(n))
    n_d = F.col("n_docs").cast("double")
    s1_d = F.col("cf").cast("double")
    s2_d = F.col("s2").cast("double")
    return joined.select(
        "term",
        F.col("cf").cast("long").alias("cf"),
        F.col("df").cast("long").alias("df"),
        F.floor(s1_d / n_d * 1000000).cast("long").alias("mean_sc"),
        F.floor(
            (n_d * s2_d - s1_d * s1_d) / (n_d * s1_d) * 1000000
        )
        .cast("long")
        .alias("dispersion_sc"),
    ).orderBy(F.desc("cf"), F.asc("term"))


def term_burstiness_oracle_sql(table: str = "documents", top_k: int = 40) -> str:
    """DuckDB twin of :func:`term_burstiness`."""
    return f"""
    WITH toks AS (
      SELECT doc_id,
             unnest(list_filter(regexp_split_to_array(lower(text), '\\s+'),
                                y -> y <> '')) AS term
      FROM {table}
    ), per_doc AS (
      SELECT doc_id, term, COUNT(*) AS c FROM toks GROUP BY doc_id, term
    ), per_term AS (
      SELECT term, CAST(SUM(c) AS BIGINT) AS cf, SUM(c * c) AS s2,
             COUNT(*) AS df
      FROM per_doc GROUP BY term
    ), topk AS (
      SELECT * FROM per_term ORDER BY cf DESC, term ASC LIMIT {top_k}
    ), n AS (SELECT COUNT(*) AS n_docs FROM {table})
    SELECT term, cf, CAST(df AS BIGINT) AS df,
      CAST(FLOOR(CAST(cf AS DOUBLE) / CAST(n_docs AS DOUBLE) * 1000000)
        AS BIGINT) AS mean_sc,
      CAST(FLOOR(
        (CAST(n_docs AS DOUBLE) * CAST(s2 AS DOUBLE)
         - CAST(cf AS DOUBLE) * CAST(cf AS DOUBLE))
        / (CAST(n_docs AS DOUBLE) * CAST(cf AS DOUBLE)) * 1000000)
        AS BIGINT) AS dispersion_sc
    FROM topk CROSS JOIN n ORDER BY cf DESC, term ASC
    """


def vocab_coverage_curve(
    df,
    id_col: str = "doc_id",
    text_col: str = "text",
    grid: tuple = (10, 100, 1000, 10000),
):
    """Cumulative token-coverage curve of the vocabulary: for each
    grid point k, what share of ALL token occurrences do the top-k
    terms by collection frequency cover? The Zipf-side answer to "how
    big does the vocab need to be" — a tokenizer/vocab-size decision
    reads this curve directly (compare ``zipf_slope`` for the fitted
    exponent and ``stopword_discovery_report`` for the head terms).

    Scale shape: explode → groupBy(term) (vocabulary-scale frame),
    then the global rank comes from ``assign_sequential_ids`` (range
    partition + driver prefix-sum — NO empty-OVER window over the
    vocabulary), and the curve is ONE conditional-aggregate pass over
    the ranked frame. Output is |grid| rows: k, top_cf, total_cf,
    share_sc. Deterministic rank tiebreak: cf desc, term asc.
    """
    from pasta_pipeline_spark.operators.ids import assign_sequential_ids

    toks = df.select(
        F.explode(tokenize_ws(F.col(text_col))).alias("term")
    )
    per_term = toks.groupBy("term").agg(F.count(F.lit(1)).alias("cf"))
    ranked = assign_sequential_ids(
        per_term.withColumn("__ncf", -F.col("cf")),
        ["__ncf", "term"],
        out_col="__rnk",
    )
    aggs = [F.sum("cf").alias("total_cf")]
    for k in grid:
        aggs.append(
            F.sum(F.when(F.col("__rnk") <= k, F.col("cf")).otherwise(0)).alias(
                f"__top_{k}"
            )
        )
    m = ranked.agg(*aggs)
    rows = F.array(
        *[
            F.struct(
                F.lit(k).cast("long").alias("k"),
                F.col(f"__top_{k}").cast("long").alias("top_cf"),
            )
            for k in grid
        ]
    )
    return (
        m.select(F.col("total_cf").cast("long").alias("total_cf"), F.explode(rows).alias("r"))
        .select(
            F.col("r.k").alias("k"),
            F.col("r.top_cf").alias("top_cf"),
            "total_cf",
            F.floor(
                F.col("r.top_cf").cast("double")
                / F.col("total_cf").cast("double")
                * 1000000
            )
            .cast("long")
            .alias("share_sc"),
        )
        .orderBy("k")
    )


def vocab_coverage_oracle_sql(
    table: str = "documents", grid: tuple = (10, 100, 1000, 10000)
) -> str:
    """DuckDB twin of :func:`vocab_coverage_curve`."""
    ks = ", ".join(f"({k})" for k in grid)
    return f"""
    WITH toks AS (
      SELECT unnest(list_filter(regexp_split_to_array(lower(text), '\\s+'),
                                y -> y <> '')) AS term
      FROM {table}
    ), per_term AS (
      SELECT term, COUNT(*) AS cf FROM toks GROUP BY term
    ), ranked AS (
      SELECT cf, ROW_NUMBER() OVER (ORDER BY cf DESC, term ASC) AS rnk
      FROM per_term
    ), grid(k) AS (VALUES {ks})
    SELECT CAST(k AS BIGINT) AS k,
      CAST(SUM(CASE WHEN rnk <= k THEN cf ELSE 0 END) AS BIGINT) AS top_cf,
      CAST(SUM(cf) AS BIGINT) AS total_cf,
      CAST(FLOOR(CAST(SUM(CASE WHEN rnk <= k THEN cf ELSE 0 END) AS DOUBLE)
        / CAST(SUM(cf) AS DOUBLE) * 1000000) AS BIGINT) AS share_sc
    FROM ranked CROSS JOIN grid GROUP BY k ORDER BY k
    """
