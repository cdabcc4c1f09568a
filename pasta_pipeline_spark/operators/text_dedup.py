"""Near-duplicate detection — the dedup ladder (SURVEY.md §7 M6).

Generalizes the reference's single-tier ``content_hash`` dedup
(telegraph_processor.py:128-132 + duplicate_remover.py:74-95) into the
dedup family a training-data pipeline needs:

  tier 0  exact          md5 hash-groupBy
  tier 1  fingerprint    md5 of case/whitespace-normalized text
  tier 2  SimHash        64-bit (60 used) weighted token signature,
                         Hamming-ball pairing via chunk pigeonhole
  tier 3  n-gram Jaccard exact shingle-set similarity (the verifier)
  tier 4  MinHash-LSH    signature bands → candidate buckets →
                         exact-Jaccard verification

Scale design (100 TB posture):
- every tier is explode → shuffle-on-key → aggregate; no driver state,
  no collect, no cross join anywhere;
- LSH candidate generation shuffles on (band, signature) — output is
  near-linear in corpus size for realistic duplicate rates, vs the
  O(n²) naive pair join;
- token hashing uses md5-hex→int60 (cross-engine exact, so tiers 0-3
  are DuckDB-oracle-checkable); MinHash permutations use xxhash64
  (JVM-side, fastest) since LSH is verified by tier-3 anyway;
- every MinHash signature — batch pairs, the streaming index
  (streaming/dedup.py) and the md5-family audits — comes from ONE
  NumPy kernel (:func:`_minhash_sigs`, a mapInPandas stage over
  each doc's base-hash list) and travels as one ``sig array<bigint>``
  column; banding (:func:`_lsh_bands`) and slot agreement
  (:func:`_agree_bp`) are one helper each.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from pasta_pipeline_spark.functions.text import tokenize_ws

# ---------------------------------------------------------------------------
# shingling
# ---------------------------------------------------------------------------


def shingles_from_tokens(toks: Column, n: int = 3) -> Column:
    """Distinct n-token shingles from a pre-tokenized array column —
    the shared-scan form: tokenize once, derive every tier."""
    size = F.size(toks)
    grams = F.transform(
        F.sequence(F.lit(1), size - (n - 1)),
        lambda i: F.array_join(F.slice(toks, i, n), " "),
    )
    whole = F.array(F.array_join(toks, " "))
    return F.array_distinct(F.when(size >= n, grams).otherwise(whole))


def shingles(text: Column | str, n: int = 3) -> Column:
    """Distinct n-token shingles of ``text``; documents shorter than
    ``n`` tokens contribute their whole text as one shingle so they
    remain comparable."""
    c = F.col(text) if isinstance(text, str) else text
    return shingles_from_tokens(tokenize_ws(c, lowercase=True), n)


def token_table(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(doc, toks) pre-tokenized frame: the document is tokenized once
    here, and shingle tiers derive from the token column via
    :func:`shingles_from_tokens` (as :func:`_shingle_table` does)."""
    from pasta_pipeline_spark.operators.util import ensure_parallelism

    src = ensure_parallelism(df.select(F.col(id_col).alias("doc"), F.col(text_col)))
    return src.select(
        "doc", tokenize_ws(F.col(text_col), lowercase=True).alias("toks")
    )


def _hash60(col: Column) -> Column:
    """Cross-engine-exact 60-bit token hash: first 15 hex chars of md5,
    parsed as an unsigned integer. DuckDB twin:
    ``('0x' || substr(md5(x), 1, 15))::BIGINT``."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


# ---------------------------------------------------------------------------
# tier 0/1 — exact & fingerprint
# ---------------------------------------------------------------------------


def exact_duplicate_groups(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Group identical texts: (text_hash, n_copies, keep_id) — keep_id
    is the smallest id (deterministic survivor)."""
    return (
        df.select(F.col(id_col), F.md5(F.col(text_col)).alias("text_hash"))
        .groupBy("text_hash")
        .agg(F.count(F.lit(1)).alias("n_copies"), F.min(id_col).alias("keep_id"))
    )


def fingerprint_duplicate_groups(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Same, over the whitespace/case-normalized fingerprint."""
    from pasta_pipeline_spark.functions.hashing import content_fingerprint

    return (
        df.select(F.col(id_col), content_fingerprint(text_col).alias("fingerprint"))
        .groupBy("fingerprint")
        .agg(F.count(F.lit(1)).alias("n_copies"), F.min(id_col).alias("keep_id"))
    )


# ---------------------------------------------------------------------------
# tier 3 — exact n-gram Jaccard (also the LSH verifier)
# ---------------------------------------------------------------------------


def _shingle_table(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int,
    hashed: bool = True,
) -> DataFrame:
    """(doc, sh) exploded shingle table. ``hashed=True`` (default)
    replaces each shingle string with its xxhash64 — every downstream
    shuffle/sort/join then moves 8-byte longs instead of 20-40 byte
    strings (measured ~2x on the pair join). Set-equality results are
    unchanged w.h.p. (collision odds ~n²/2^64 ≈ 1e-10 at 10^5 distinct
    shingles); pass hashed=False where the literal shingle text is
    needed. Equal to ``shingles(text_col, n)`` value for value, but the
    document is tokenized once (:func:`token_table`), not once per
    shingle inside the ``transform`` lambda."""
    grams = shingles_from_tokens(F.col("toks"), n)
    if hashed:
        grams = F.array_distinct(F.transform(grams, lambda s: F.xxhash64(s)))
    return token_table(df, id_col, text_col).select("doc", F.explode(grams).alias("sh"))


def _candidate_pairs(sh: DataFrame, hot_df_cap: int = 1024) -> DataFrame:
    """Inverted-index candidate generation over a (doc, sh) key table:
    one output row (doc_a < doc_b) per shared key — multiplicity
    preserved (``groupBy(pair).count()`` gives intersection sizes;
    ``.distinct()`` gives set semantics). Only pairs sharing ≥1 key are
    ever materialized; keys hotter than ``hot_df_cap`` docs switch from
    in-row combination explosion to a distributed self-equi-join so a
    boilerplate key cannot blow up a single task (exact either way —
    the cap only picks the physical strategy)."""
    lists = (
        sh.groupBy("sh")
        .agg(F.array_sort(F.collect_list("doc")).alias("docs"))
        .where(F.size("docs") > 1)
    )
    small_pairs = (
        lists.where(F.size("docs") <= hot_df_cap)
        .select(
            F.expr(
                "explode(flatten(transform(docs, (x, i) -> "
                "transform(slice(docs, i + 2, size(docs) - i - 1), "
                "y -> struct(x AS doc_a, y AS doc_b))))) AS p"
            )
        )
        .select("p.doc_a", "p.doc_b")
    )
    hot = lists.where(F.size("docs") > hot_df_cap).select(
        "sh", F.explode("docs").alias("doc")
    )
    ha, hb = hot.alias("a"), hot.alias("b")
    hot_pairs = ha.join(
        hb, (F.col("a.sh") == F.col("b.sh")) & (F.col("a.doc") < F.col("b.doc"))
    ).select(F.col("a.doc").alias("doc_a"), F.col("b.doc").alias("doc_b"))
    return small_pairs.unionByName(hot_pairs)


def jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.6,
    shingle_table: DataFrame | None = None,
) -> DataFrame:
    """All pairs (id_a < id_b) with shingle-set Jaccard >= threshold.

    Pair generation is inverted-index style: group docs per shingle,
    emit each group's ordered combinations, count per pair —
    |A∪B| = |A| + |B| - |A∩B|. Only pairs sharing ≥1 shingle are ever
    materialized (df=1 shingles vanish in the size>1 filter), so cost
    tracks true overlap, not n²; and there is no self-join of the full
    shingle table — one groupBy(shingle) + one groupBy(pair).

    Skew safety: a pathologically hot shingle (boilerplate shared by
    10⁵ docs) would explode df²/2 combinations inside one row, so doc
    lists longer than ``hot_df_cap`` take the classic self-equi-join
    path instead (distributes the quadratic work across the cluster).
    Exact either way; the cap only picks the physical strategy.

    The shingle table is persisted — it feeds the size aggregate and
    the pair generator, so tokenize+shingle expressions run once. The
    cache is attached to the returned frame; release it after
    materializing with ``util.release_cached_deps(result)``.

    ``shingle_table``: a precomputed hashed (doc, sh) frame
    (``_shingle_table(df, id_col, text_col, n)``) to reuse — the
    shared-scan path when several dedup tiers run over the same corpus
    (one tokenize+shingle pass feeds them all). The caller owns its
    persistence/release; nothing is cached here in that case.
    """
    from pasta_pipeline_spark.operators.util import attach_cached_deps

    hot_df_cap = 1024
    own_cache = shingle_table is None
    sh = (
        _shingle_table(df, id_col, text_col, n).persist()
        if own_cache
        else shingle_table
    )
    sizes = sh.groupBy("doc").agg(F.count(F.lit(1)).alias("n_sh"))

    common = (
        _candidate_pairs(sh, hot_df_cap)
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sa = sizes.select(F.col("doc").alias("doc_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col("doc").alias("doc_b"), F.col("n_sh").alias("n_b"))
    jac = (
        common.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn(
            "jaccard",
            F.col("n_common").cast("double")
            / (F.col("n_a") + F.col("n_b") - F.col("n_common")).cast("double"),
        )
    )
    out = jac.filter(F.col("jaccard") >= threshold).select("doc_a", "doc_b", "jaccard")
    return attach_cached_deps(out, [sh]) if own_cache else out


def edit_distance_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    prefix_len: int = 40,
    max_dist: int = 15,
    n_chunks: int = 5,
    hot_df_cap: int = 1024,
    block_cap: int | None = 256,
) -> DataFrame:
    """Character-level fuzzy matching (the short-field tier of the
    dedup ladder — titles, names, near-identical openings): all pairs
    (doc_a < doc_b) with ``levenshtein(prefix_a, prefix_b) <=
    max_dist`` over the lowercased ``prefix_len``-char text prefix.

    Pair generation is block-gated, like every other tier — no full
    cross join: the prefix splits into ``n_chunks`` fixed-position
    slices and candidates must agree exactly on at least one
    (slice_idx, slice_text) block, generated through the same
    inverted-index machinery as the Jaccard tier (hot blocks fall back
    to a distributed self-equi-join). By pigeonhole this recalls every
    pair within ``n_chunks - 1`` *substitutions*; insertions/deletions
    shift downstream slices, so indel-heavy pairs can be missed at
    larger ``max_dist``. For ``max_dist <= 2`` the call DELEGATES to
    :func:`edit_distance_pairs_shifted` (PassJoin shifted-segment
    probing), which is complete for insertions and deletions too — so
    the default API carries the stronger recall contract wherever the
    complete algorithm exists. Every emitted pair is verified with the
    exact Levenshtein, so the checked contract — like the LSH tiers —
    is zero false positives.

    ``block_cap`` (r13): the hot-block guard, the same deterministic
    membership cap as the LSH tier's ``cap_band_buckets`` (md5-rank of
    the id's decimal rendering, id tiebreak — oracle-replayable).
    Zipf-common prefixes are this tier's scale killer: a generic
    8-char opening ("customer") collects members linearly with the
    corpus, and Σdf² goes quadratic (measured on the sf10 ladder
    fixture: Σdf² 10.9M → 988M for 10× docs, 442 s fresh, ratio 61.9
    — the one genuine new flag of the r13 ladder). Capping each
    (slice, text) block at ``block_cap`` members bounds pair volume at
    blocks·cap²/2 while keeping every block's presence; recall within
    a hot block degrades deterministically (the md5-ranked members
    stay), and pairs dropped from one block are still recalled
    through any less-hot slice they share. ``None`` disables (the
    pre-r13 complete-per-blocking contract).
    """
    from pasta_pipeline_spark.operators.util import ensure_parallelism

    if max_dist <= 2:
        return edit_distance_pairs_shifted(
            df, id_col, text_col, prefix_len=prefix_len, tau=max_dist
        ).select("doc_a", "doc_b", F.col("dist").cast("int").alias("dist"))

    width = -(-prefix_len // n_chunks)  # ceil: slices cover the whole prefix
    src = ensure_parallelism(
        df.select(
            F.col(id_col).alias("doc"),
            F.lower(F.substring(F.col(text_col), 1, prefix_len)).alias("pfx"),
        )
    ).persist()
    slices = F.array(
        *[
            F.struct(
                F.lit(i).alias("i"),
                F.substring(F.col("pfx"), i * width + 1, width).alias("s"),
            )
            for i in range(n_chunks)
        ]
    )
    blocks = src.select(
        "doc", F.explode(F.filter(slices, lambda c: c["s"] != "")).alias("c")
    ).select(
        "doc",
        F.concat(F.col("c.i").cast("string"), F.lit(":"), F.col("c.s")).alias("sh"),
    )
    if block_cap is not None:
        bw = Window.partitionBy("sh").orderBy(
            F.md5(F.col("doc").cast("string")), F.col("doc").asc()
        )
        blocks = (
            blocks.withColumn("__bkrn", F.row_number().over(bw))
            .where(F.col("__bkrn") <= block_cap)
            .drop("__bkrn")
        )
    cand = _candidate_pairs(blocks, hot_df_cap).distinct()
    pa = src.select(F.col("doc").alias("doc_a"), F.col("pfx").alias("pa"))
    pb = src.select(F.col("doc").alias("doc_b"), F.col("pfx").alias("pb"))
    out = (
        cand.join(pa, "doc_a")
        .join(pb, "doc_b")
        .withColumn("dist", F.levenshtein("pa", "pb"))
        .where(F.col("dist") <= max_dist)
        .select("doc_a", "doc_b", "dist")
    )
    from pasta_pipeline_spark.operators.util import attach_cached_deps

    return attach_cached_deps(out, [src])


# ---------------------------------------------------------------------------
# tier 2 — SimHash
# ---------------------------------------------------------------------------

SIMHASH_BITS = 60  # 15 md5 hex chars — cross-engine parseable
SIMHASH_CHUNKS = 4  # pigeonhole: hamming<=3 ⇒ ≥1 of 4 chunks equal
_CHUNK_BITS = SIMHASH_BITS // SIMHASH_CHUNKS  # 15


def simhash_signatures(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """60-bit SimHash per document: tokens (with multiplicity) hash to
    60-bit values; each bit position accumulates +1/-1; the sign vector
    is the signature. Returns (doc, simhash)."""
    from pasta_pipeline_spark.operators.util import ensure_parallelism

    src = ensure_parallelism(df.select(F.col(id_col).alias("doc"), F.col(text_col)))
    toks = src.select("doc", F.explode(tokenize_ws(F.col(text_col))).alias("tok"))
    h = toks.select("doc", _hash60(F.col("tok")).alias("h"))
    bit_sums = h.groupBy("doc").agg(
        *[
            F.sum(
                F.when(F.shiftright(F.col("h"), b).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
            ).alias(f"b{b}")
            for b in range(SIMHASH_BITS)
        ]
    )
    sig = None
    for b in range(SIMHASH_BITS):
        term = F.when(
            F.col(f"b{b}") > 0, F.shiftleft(F.lit(1).cast("long"), b)
        ).otherwise(F.lit(0).cast("long"))
        sig = term if sig is None else sig + term
    return bit_sums.select("doc", sig.alias("simhash"))


def simhash_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_hamming: int = 3,
) -> DataFrame:
    """Pairs (doc_a < doc_b) with SimHash Hamming distance <= k.

    Exact by pigeonhole: the 60-bit signature splits into k+1 disjoint
    chunks, so any pair within Hamming distance k must agree on at
    least one chunk — candidates bucket-join on (chunk_idx,
    chunk_value) and verify with bit_count(xor); no n² scan. Larger k
    means fewer bits per chunk and more candidates (the usual
    recall/cost dial).
    """
    n_chunks = max_hamming + 1
    if n_chunks > SIMHASH_BITS:
        raise ValueError(f"max_hamming must be < {SIMHASH_BITS}")
    base = SIMHASH_BITS // n_chunks
    # chunk i covers [start_i, start_i + width_i); remainder bits widen
    # the leading chunks by one
    widths = [base + (1 if i < SIMHASH_BITS % n_chunks else 0) for i in range(n_chunks)]
    starts = [sum(widths[:i]) for i in range(n_chunks)]
    sigs = simhash_signatures(df, id_col, text_col)
    chunks = sigs.select(
        "doc",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("ci"),
                        F.shiftright(F.col("simhash"), starts[i])
                        .bitwiseAND(F.lit((1 << widths[i]) - 1))
                        .alias("cv"),
                    )
                    for i in range(n_chunks)
                ]
            )
        ).alias("c"),
    ).select("doc", "simhash", F.col("c.ci").alias("ci"), F.col("c.cv").alias("cv"))
    a, b = chunks.alias("a"), chunks.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.ci") == F.col("b.ci"))
            & (F.col("a.cv") == F.col("b.cv"))
            & (F.col("a.doc") < F.col("b.doc")),
        )
        .select(
            F.col("a.doc").alias("doc_a"),
            F.col("b.doc").alias("doc_b"),
            F.col("a.simhash").alias("sig_a"),
            F.col("b.simhash").alias("sig_b"),
        )
        .distinct()
    )
    ham = F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b")))
    return cand.withColumn("hamming", ham.cast("int")).filter(
        F.col("hamming") <= max_hamming
    ).select("doc_a", "doc_b", "hamming")


# ---------------------------------------------------------------------------
# tier 4 — MinHash-LSH
# ---------------------------------------------------------------------------

_MERSENNE31 = (1 << 31) - 1


def _minhash_params(num_hashes: int) -> list[tuple[int, int]]:
    """The (a_i, b_i) permutation constants h_i(x) = (a_i·x + b_i) mod
    M31, derived deterministically from the index — shared by the
    signature kernel and the DuckDB ``*_oracle_sql`` twins, so both
    engines hash with the SAME numbers."""
    return [
        (
            (0x9E3779B9 * (i + 1)) % _MERSENNE31 | 1,
            (0xBF58476D * (i + 7)) % _MERSENNE31,
        )
        for i in range(num_hashes)
    ]


def _minhash_sigs(xs: DataFrame, num_hashes: int) -> DataFrame:
    """THE MinHash signature site: ``(doc, xs array<bigint>)`` — one row
    per doc holding its shingles' base hashes — to ``(doc, sig
    array<bigint>)`` with ``sig[i] = min over xs of (a_i·x + b_i) mod
    M31``, x = base hash & 0x7FFFFFFF.

    One mapInPandas NumPy kernel (NOTES #87): the 31-bit mask keeps
    a_i·x + b_i below 2^63, so int64 arithmetic never wraps; each hash
    is one vectorised pass over the batch's flattened list values and
    ``np.minimum.reduceat`` over the list offsets takes the per-doc
    minimum — O(shingles) memory per batch, not O(k·shingles). Docs
    with an empty list produce no row, as an exploded groupBy would.
    The base hash (Spark's xxhash64 or the md5 family) is a Spark
    column the caller computes; the kernel never re-implements it."""
    from pasta_pipeline_spark.operators.util import ensure_package_on_workers

    ensure_package_on_workers(xs.sparkSession)
    params = _minhash_params(num_hashes)
    schema = f"doc {xs.schema['doc'].dataType.simpleString()}, sig array<bigint>"

    def minhash_kernel(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            lens = pdf["xs"].map(len).to_numpy()
            keep = lens > 0
            if not keep.any():
                continue
            x = np.concatenate(list(pdf["xs"][keep])).astype(np.int64) & 0x7FFFFFFF
            starts = np.concatenate(([0], np.cumsum(lens[keep])[:-1]))
            sig = np.empty((len(starts), num_hashes), dtype=np.int64)
            for i, (a, b) in enumerate(params):
                sig[:, i] = np.minimum.reduceat((a * x + b) % _MERSENNE31, starts)
            yield pd.DataFrame({"doc": pdf["doc"].to_numpy()[keep], "sig": list(sig)})

    return xs.select("doc", "xs").mapInPandas(minhash_kernel, schema)


def _rows_per_band(num_hashes: int, bands: int) -> int:
    if bands <= 0 or num_hashes % bands:
        raise ValueError(f"bands={bands} must divide num_hashes={num_hashes}")
    return num_hashes // bands


def _lsh_bands(sigs: DataFrame, num_hashes: int, bands: int) -> DataFrame:
    """THE banding step: ``(doc, sig)`` → ``(doc, band, bh)``, one row
    per band, ``bh = xxhash64(sig[j·r], …, sig[j·r+r−1])`` for band j
    of r = num_hashes/bands slots. Raises ValueError when ``bands``
    does not divide ``num_hashes`` (trailing slots would go unbanded)."""
    r = _rows_per_band(num_hashes, bands)
    sig = F.col("sig")
    bhs = [F.xxhash64(*[sig[j * r + i] for i in range(r)]) for j in range(bands)]
    return sigs.select("doc", F.posexplode(F.array(*bhs)).alias("band", "bh"))


def _agree_bp(sig_a: Column, sig_b: Column, num_hashes: int) -> Column:
    """THE signature-agreement score: agreeing slots of two signatures
    as integer basis points, ``agree · 10000 div k`` (the unbiased
    Jaccard estimate, Broder 1997). The double quotient of two
    non-negative integers below 2^53 never rounds across an integer,
    so the cast floors exactly like SQL ``div``."""
    agree = F.aggregate(
        F.zip_with(sig_a, sig_b, lambda x, y: (x == y).cast("long")),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )
    return (agree * F.lit(10000) / F.lit(num_hashes)).cast("long")


def _join_sig_pair(pairs: DataFrame, sigs: DataFrame) -> DataFrame:
    """Attach both endpoints' signatures, as ``__sa`` / ``__sb``, to a
    ``(doc_a, doc_b, …)`` pair frame (inner joins: a doc without a
    signature drops its pairs)."""
    return pairs.join(
        sigs.select(F.col("doc").alias("doc_a"), F.col("sig").alias("__sa")), "doc_a"
    ).join(sigs.select(F.col("doc").alias("doc_b"), F.col("sig").alias("__sb")), "doc_b")


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    threshold: float = 0.6,
    shingle_table: DataFrame | None = None,
) -> DataFrame:
    """Near-dup pairs via banded MinHash-LSH, verified with exact
    Jaccard (tier 3) so the output contains no false positives:

    1. per-doc shingle sets: one groupBy (one shuffle) collects each
       doc's sorted hashed shingles, and the signature kernel
       (:func:`_minhash_sigs`) runs once over them. Both frames are
       persisted, so the groupBy and the kernel each run once: the
       two band sides read the cached signatures and the two verify
       sides the cached sets (released through ``attach_cached_deps``);
    2. banding: hash each band of k/bands signature slots → explode →
       bucket-join on (band, band_hash) → candidate pairs;
    3. verification: exact shingle-Jaccard on candidates only, filter
       by threshold.

    The band count tunes the S-curve: 64 hashes / 16 bands ≈ catches
    J >= ~0.5 with high probability. ``bands`` must divide
    ``num_hashes`` (ValueError otherwise). False negatives are possible
    (inherent to LSH); the oracle-checked contract is therefore
    "every returned pair truly has J >= threshold".

    ``shingle_table``: precomputed hashed (doc, sh) frame to reuse
    across dedup tiers (see :func:`jaccard_pairs`); caller owns its
    persistence.
    """
    from pasta_pipeline_spark.operators.util import attach_cached_deps

    sh = shingle_table if shingle_table is not None else _shingle_table(
        df, id_col, text_col, n
    )
    # sh is already the 64-bit shingle hash (hashed shingle table)
    sets = sh.groupBy("doc").agg(F.sort_array(F.collect_list("sh")).alias("shs"))
    sigs = _minhash_sigs(sets.select("doc", F.col("shs").alias("xs")), num_hashes)
    banded = _lsh_bands(sigs, num_hashes, bands)  # raises before anything is cached
    # the sets feed the kernel and both verify sides, the signatures
    # both band sides: cached, each is computed once
    sets.persist()
    sigs.persist()
    a, b = banded.alias("a"), banded.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bh") == F.col("b.bh"))
            & (F.col("a.doc") < F.col("b.doc")),
        )
        .select(F.col("a.doc").alias("doc_a"), F.col("b.doc").alias("doc_b"))
        .distinct()
    )
    # exact-Jaccard verification restricted to candidates: each doc's
    # (distinct) shingle set rides as ONE sorted array and every
    # candidate pair pays a per-row array_intersect (the r11
    # prefix_jaccard_pairs fix — re-joining candidates against the
    # posting list materialized Σ_cand |shingles| intermediate rows).
    # The explicit n_common >= 1 filter preserves the old inner
    # join's semantics at EVERY threshold, including 0.0: a
    # zero-overlap band-collision candidate never produced a joined
    # row before, so it must not pass ">= 0.0" now (r11 advisor
    # edge-case finding). No
    # broadcast hints: a boilerplate-heavy corpus grows the candidate
    # set with corpus size, so an unconditional F.broadcast(cand) is a
    # driver-OOM risk at scale; AQE picks broadcast when the runtime
    # size is actually small.
    n_common = F.size(F.array_intersect(F.col("__sa"), F.col("__sb"))).cast("long")
    from pasta_pipeline_spark.operators.util import pair_verify_parallelism

    # pin the verify exchange (r14, guide §2.5): the stage after this
    # join pays a per-candidate array_intersect over full shingle sets
    # — compute-dense rows whose byte volume is small enough that AQE's
    # byte-based coalescing serializes them to 1-3 tasks once the 1 MiB
    # floor is back (the r14 stage profile's top line for this tier)
    jac = (
        pair_verify_parallelism(cand, "doc_a")
        .join(
            sets.select(F.col("doc").alias("doc_a"), F.col("shs").alias("__sa")),
            "doc_a",
        )
        .join(
            sets.select(F.col("doc").alias("doc_b"), F.col("shs").alias("__sb")),
            "doc_b",
        )
        .withColumn("n_common", n_common)
        .filter(F.col("n_common") >= 1)
        .withColumn(
            "jaccard",
            F.col("n_common").cast("double")
            / (
                F.size(F.col("__sa")) + F.size(F.col("__sb")) - F.col("n_common")
            ).cast("double"),
        )
    )
    out = jac.filter(F.col("jaccard") >= threshold).select("doc_a", "doc_b", "jaccard")
    return attach_cached_deps(out, [sets, sigs])


# ---------------------------------------------------------------------------
# cluster assignment — pairs → connected components → survivors
# ---------------------------------------------------------------------------


def duplicate_clusters(
    all_ids: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    max_iterations: int = 50,
    checkpoint_every: int = 0,
    doubling: bool = False,
) -> DataFrame:
    """Assign every document to its duplicate cluster: the transitive
    closure of the near-dup pair graph, labeled by the smallest doc id
    in the component (the deterministic survivor). Documents with no
    near-dup pair form singleton clusters.

    Algorithm: iterative min-label propagation (the join-based core of
    large-star/small-star connected components). Each round every node
    takes the min of its own label and its neighbors' labels; rounds
    repeat until a fixpoint. Convergence needs at most the component
    diameter rounds — near-dup components are tiny in practice, so
    this is 2-4 rounds of broadcast-sized joins.

    ``checkpoint_every=N`` truncates the label frame's lineage with an
    eager localCheckpoint every N rounds: without it each round's plan
    nests the previous round's joins, and a long chain (big diameters
    at 100 TB) blows up analysis time and task serialization. Default
    off locally (tiny graphs converge in 2-4 rounds); set 1-5 at scale
    (a cluster deployment would use reliable ``checkpoint()`` with a
    checkpoint dir instead — same call site).

    ``doubling=True`` adds pointer-jumping to each round: besides its
    neighbors' labels, every node also takes its LABEL'S label (one
    extra self-join on the label frame per round). Convergence drops
    from O(diameter) to O(log diameter) rounds — irrelevant for the
    tiny near-dup components this defaults for, decisive when a
    pathological chain (template families, boilerplate ladders) pushes
    diameters into the hundreds at corpus scale. Identical fixpoint —
    equivalence is pytest-pinned against the default mode.

    The returned frame is materialized (the fixpoint loop already ran
    the plan); no intermediate caches survive the call.

    Returns (doc_id, cluster_id, is_survivor).
    """
    ids = all_ids.select(F.col(id_col).alias("node")).distinct()
    # undirected edge list, both directions
    e = pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
    edges = e.unionByName(
        e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).persist()

    labels = ids.select("node", F.col("node").alias("lbl")).persist()
    for rnd in range(max_iterations):
        neighbor_min = (
            edges.join(labels, edges["dst"] == labels["node"])
            .groupBy("src")
            .agg(F.min("lbl").alias("nlbl"))
        )
        new_labels = labels.join(
            neighbor_min, labels["node"] == neighbor_min["src"], "left"
        ).select(
            "node",
            F.least(F.col("lbl"), F.coalesce(F.col("nlbl"), F.col("lbl"))).alias("lbl"),
        )
        if doubling:
            # pointer jumping: node also adopts its label's label
            parent = labels.select(
                F.col("node").alias("p_node"), F.col("lbl").alias("p_lbl")
            )
            new_labels = (
                new_labels.join(
                    parent, new_labels["lbl"] == parent["p_node"], "left"
                )
                .select(
                    "node",
                    F.least(
                        F.col("lbl"), F.coalesce(F.col("p_lbl"), F.col("lbl"))
                    ).alias("lbl"),
                )
            )
        if checkpoint_every and (rnd + 1) % checkpoint_every == 0:
            new_labels = new_labels.localCheckpoint(eager=True)
        else:
            new_labels = new_labels.persist()
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), F.col("n.node") == F.col("o.node"))
            .where(F.col("n.lbl") != F.col("o.lbl"))
            .limit(1)
            .count()
        )
        labels.unpersist()
        labels = new_labels
        if changed == 0:
            break
    result = labels.select(
        F.col("node").alias(id_col),
        F.col("lbl").alias("cluster_id"),
        (F.col("node") == F.col("lbl")).alias("is_survivor"),
    ).localCheckpoint(eager=True)
    labels.unpersist()
    edges.unpersist()
    return result


def edit_distance_pairs_shifted(
    df: DataFrame,
    id_col: str,
    text_col: str,
    prefix_len: int = 40,
    tau: int = 2,
) -> DataFrame:
    """PassJoin-style edit-distance self-join — COMPLETE for
    insertions/deletions, unlike the fixed-position blocking of
    :func:`edit_distance_pairs` (which this upgrades, per its
    docstring): every pair with ``levenshtein(prefix_a, prefix_b) <=
    tau`` over the lowercased ``prefix_len``-char prefix is returned,
    with no cross join.

    Scheme (Li, Deng, Feng — PassJoin, SIGMOD'11 family): each string
    indexes its ``tau+1`` even segments at fixed positions; by
    pigeonhole, any string within ``tau`` edits contains at least one
    segment VERBATIM, displaced by at most ``tau`` positions. The
    probe side therefore emits, for every indexable length ``l`` in
    ``[n - tau, n + tau]``, each segment-shaped substring within the
    ±tau shift window; candidates equi-join on (indexed length,
    segment index, content) and the exact Levenshtein verifies — so
    the result is exact end to end, and the DuckDB oracle can be the
    GROUND TRUTH all-pairs filter rather than a replay of the
    blocking.

    Cost: index side k=tau+1 rows/string; probe side <=
    (2tau+1)^2 * k substrings/string (dedup'd) — constants, not a
    function of corpus size; one shuffle on the block key.

    Ultrashort strings (< ``tau+1`` chars, no non-empty segments to
    index) are handled by a length-windowed supplement rather than
    excluded: any qualifying pair involving one has BOTH sides within
    ``2*tau`` chars (length difference bounds Levenshtein from below),
    so those pairs come from a direct equi-join on candidate length
    over that degenerate-length subset — the completeness contract
    holds for every input string. NB the OUTPUT over a mass of
    near-empty strings is inherently quadratic (most such pairs are
    within ``tau`` edits of each other); that is a property of the
    query, not the plan.
    """
    k = tau + 1
    all_strings = df.select(
        F.col(id_col).alias("doc"),
        F.lower(F.substring(F.col(text_col), 1, prefix_len)).alias("s"),
    ).filter(F.col("s").isNotNull())
    base = all_strings.withColumn("n", F.length("s")).filter(F.col("n") >= k)

    # --- index side: k even segments at canonical positions -------------
    idx = base.select(
        F.col("doc"), F.col("s"), F.col("n"),
        F.explode(F.sequence(F.lit(0), F.lit(k - 1))).alias("i"),
    )
    idx = (
        idx.withColumn("st", F.expr(f"(i * n) div {k} + 1"))
        .withColumn("ln", F.expr(f"((i + 1) * n) div {k} - (i * n) div {k}"))
        .select(
            F.col("doc").alias("doc_a"),
            F.col("s").alias("sa"),
            F.col("n").alias("l"),
            "i",
            F.col("s").substr(F.col("st").cast("int"), F.col("ln").cast("int")).alias("seg"),
        )
    )

    # --- probe side: segment-shaped substrings in the ±tau window -------
    pr = base.select(
        F.col("doc"), F.col("s"), F.col("n"),
        F.explode(F.sequence(F.col("n") - tau, F.col("n") + tau)).alias("l"),
    ).filter(F.col("l") >= k)
    pr = pr.select(
        "doc", "s", "n", "l",
        F.explode(F.sequence(F.lit(0), F.lit(k - 1))).alias("i"),
    )
    pr = (
        pr.withColumn("st0", F.expr(f"(i * l) div {k} + 1"))
        .withColumn("ln", F.expr(f"((i + 1) * l) div {k} - (i * l) div {k}"))
        .withColumn("lo", F.greatest(F.lit(1), F.col("st0") - tau))
        .withColumn("hi", F.least(F.col("n") - F.col("ln") + 1, F.col("st0") + tau))
        .filter(F.col("lo") <= F.col("hi"))
        .select(
            "doc", "s", "l", "i", "ln",
            F.explode(F.sequence(F.col("lo"), F.col("hi"))).alias("p"),
        )
        .select(
            F.col("doc").alias("doc_b"),
            F.col("s").alias("sb"),
            "l",
            "i",
            F.col("s").substr(F.col("p").cast("int"), F.col("ln").cast("int")).alias("seg"),
        )
        .distinct()
    )

    cand = (
        idx.join(pr, ["l", "i", "seg"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", "sa", "sb")
        .distinct()
    )

    # --- ultrashort supplement (see docstring): pairs with a < k-char
    # side live entirely inside the <= 2*tau-length subset; candidates
    # equi-join on the probe's length window, and the (na < k or
    # nb < k) guard keeps the main path the sole owner of pairs whose
    # sides BOTH index segments — no double emission.
    shorts = all_strings.withColumn("n", F.length("s")).filter(
        F.col("n") <= 2 * tau
    )
    sh_idx = shorts.select(
        F.col("doc").alias("doc_a"), F.col("s").alias("sa"),
        F.col("n").alias("na"), F.col("n").alias("l"),
    )
    sh_pr = shorts.select(
        "doc", "s", "n",
        F.explode(
            F.sequence(F.greatest(F.lit(0), F.col("n") - tau), F.col("n") + tau)
        ).alias("l"),
    ).select(
        F.col("doc").alias("doc_b"), F.col("s").alias("sb"),
        F.col("n").alias("nb"), "l",
    )
    short_cand = (
        sh_idx.join(sh_pr, "l")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .filter((F.col("na") < k) | (F.col("nb") < k))
        .select("doc_a", "doc_b", "sa", "sb")
    )

    return (
        cand.unionByName(short_cand)
        .withColumn("dist", F.levenshtein("sa", "sb"))
        .filter(F.col("dist") <= tau)
        .select("doc_a", "doc_b", F.col("dist").cast("long").alias("dist"))
    )


def shingle_novelty(
    df: DataFrame, id_col: str, text_col: str, n: int = 5
) -> DataFrame:
    """Per-document n-gram novelty: the share of a document's distinct
    n-token shingles that occur in NO other document. Low novelty means
    the document is assembled from corpus-common boilerplate — the
    cheap global-context complement to pairwise dedup (pairs say "A
    duplicates B"; novelty says "A is made of parts seen everywhere").

    Two shuffles, both on bounded keys: groupBy(shingle) for document
    frequency, then groupBy(doc) to re-aggregate — the same inverted-
    index skeleton as ``jaccard_pairs`` but without the pair
    explosion, so it scales strictly better than any pair tier.
    Novelty is exact integer basis points (unique*10000 div total) —
    hash-stable cross-engine.

    The shingle table is persisted (it feeds both the document-
    frequency aggregate and the per-doc rollup); the cache is attached
    to the returned frame — release after materializing with
    ``util.release_cached_deps(result)``.

    Returns (id_col, n_shingles, n_unique, novelty_bp).
    """
    from pasta_pipeline_spark.operators.util import attach_cached_deps

    sh = _shingle_table(df, id_col, text_col, n).persist()
    docfreq = sh.groupBy("sh").agg(F.count(F.lit(1)).alias("df"))
    per_doc = (
        sh.join(docfreq, "sh")
        .groupBy("doc")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.sum(F.when(F.col("df") == 1, 1).otherwise(0)).alias("n_unique"),
        )
        .select(
            F.col("doc").alias(id_col),
            F.col("n_shingles").cast("long").alias("n_shingles"),
            F.col("n_unique").cast("long").alias("n_unique"),
            F.expr("n_unique * 10000 div n_shingles").alias("novelty_bp"),
        )
    )
    return attach_cached_deps(per_doc, [sh])


def cross_jaccard_pairs(
    left: DataFrame,
    right: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Bipartite n-gram Jaccard pairs between two corpora — the
    pair-level contamination scan (train-vs-eval): every (left_id,
    right_id) with shingle-set Jaccard >= threshold. Same inverted-
    index skeleton as ``jaccard_pairs`` but candidates come from the
    shingle join ACROSS corpora, so no within-corpus pair is ever
    generated — cost tracks true cross-overlap.

    Returns (left_id, right_id, jaccard). Caches attach to the result;
    release with ``util.release_cached_deps``.
    """
    from pasta_pipeline_spark.operators.util import attach_cached_deps

    shl = _shingle_table(left, id_col, text_col, n).persist()
    shr = _shingle_table(right, id_col, text_col, n).persist()
    sl = shl.groupBy("doc").agg(F.count(F.lit(1)).alias("n_l"))
    sr = shr.groupBy("doc").agg(F.count(F.lit(1)).alias("n_r"))
    common = (
        shl.select(F.col("doc").alias("left_id"), "sh")
        .join(shr.select(F.col("doc").alias("right_id"), "sh"), "sh")
        .groupBy("left_id", "right_id")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    jac = (
        common.join(sl.select(F.col("doc").alias("left_id"), "n_l"), "left_id")
        .join(sr.select(F.col("doc").alias("right_id"), "n_r"), "right_id")
        .withColumn(
            "jaccard",
            F.col("n_common").cast("double")
            / (F.col("n_l") + F.col("n_r") - F.col("n_common")).cast("double"),
        )
    )
    return attach_cached_deps(
        jac.filter(F.col("jaccard") >= threshold).select("left_id", "right_id", "jaccard"),
        [shl, shr],
    )


def select_survivors(
    clusters: DataFrame,
    docs: DataFrame,
    score_col: str,
    id_col: str = "doc_id",
    cluster_col: str = "cluster_id",
    ascending: bool = False,
) -> DataFrame:
    """Policy-driven survivor selection over duplicate clusters.

    ``duplicate_clusters`` hard-codes the smallest-id survivor (the
    right default for determinism proofs); real curation usually keeps
    the BEST member — longest, highest quality score, freshest. This
    reassigns ``is_survivor`` by ranking each cluster on ``score_col``
    (descending by default) with the id as tiebreak, so exactly one
    member per cluster survives under any policy.

    One window shuffle on the cluster id (clusters are small by
    construction — bounded by duplicate-group size, not corpus size);
    the score joins in on the doc id, broadcast-eligible when the
    cluster table is the smaller side.
    """
    from pyspark.sql import Window

    score = docs.select(F.col(id_col), F.col(score_col).alias("__score"))
    order = [
        F.asc("__score") if ascending else F.desc("__score"),
        F.asc(id_col),
    ]
    w = Window.partitionBy(cluster_col).orderBy(*order)
    return (
        clusters.select(id_col, cluster_col)
        .join(score, id_col)
        .withColumn("__rk", F.row_number().over(w))
        .select(
            id_col,
            cluster_col,
            (F.col("__rk") == 1).alias("is_survivor"),
        )
    )


def containment_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.8,
) -> DataFrame:
    """Directed near-dup pairs by shingle CONTAINMENT
    ``|A∩B| / |A|`` — the asymmetric companion to jaccard_pairs.
    Jaccard misses the quote-inclusion shape (a short doc wholly
    embedded in a long one scores |A|/|B| ≪ 1 on Jaccard but 1.0 on
    containment of the short side), which is the dominant duplication
    mode in boilerplate-wrapped web text.

    Output one row per DIRECTION that clears the threshold:
    ``(doc_inner, doc_outer, containment)`` = the inner doc's shingle
    set is ``containment``-covered by the outer doc's. Pair generation
    and skew handling are jaccard_pairs' inverted index (one
    groupBy(shingle) + one groupBy(pair), hot-shingle fallback);
    containment just divides by a different denominator, per
    direction. Cache attached; release after materializing.
    """
    from pasta_pipeline_spark.operators.util import attach_cached_deps

    hot_df_cap = 1024
    sh = _shingle_table(df, id_col, text_col, n).persist()
    sizes = sh.groupBy("doc").agg(F.count(F.lit(1)).alias("n_sh"))
    common = (
        _candidate_pairs(sh, hot_df_cap)
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sa = sizes.select(F.col("doc").alias("doc_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col("doc").alias("doc_b"), F.col("n_sh").alias("n_b"))
    both = common.join(sa, "doc_a").join(sb, "doc_b")
    fwd = both.select(
        F.col("doc_a").alias("doc_inner"),
        F.col("doc_b").alias("doc_outer"),
        (F.col("n_common").cast("double") / F.col("n_a").cast("double")).alias(
            "containment"
        ),
    )
    rev = both.select(
        F.col("doc_b").alias("doc_inner"),
        F.col("doc_a").alias("doc_outer"),
        (F.col("n_common").cast("double") / F.col("n_b").cast("double")).alias(
            "containment"
        ),
    )
    result = fwd.unionByName(rev).filter(F.col("containment") >= threshold)
    return attach_cached_deps(result, [sh])


def cluster_rollup(
    clusters: DataFrame,
    docs: DataFrame,
    sum_cols: list[str],
    id_col: str = "doc_id",
    cluster_col: str = "cluster_id",
) -> DataFrame:
    """Merge duplicate-cluster member attributes into one row per
    cluster — the step after dedup that real curation needs: the
    surviving record should carry the GROUP's accumulated metadata
    (view counts, byte totals, source diversity), not just its own.
    The same accumulate-on-merge idea as the reference's status upsert
    (S9), lifted from key-granularity to cluster-granularity.

    Returns ``(cluster_id, canonical_id, n_members, sum_<col>...)``:
    canonical id is the cluster's smallest member id (deterministic),
    sums are int64 per requested column.

    One join on the doc id (cluster table is the smaller side — AQE
    broadcasts it) and one groupBy on the cluster id; cluster sizes
    are bounded by duplicate-group size, never corpus size.
    """
    joined = clusters.select(F.col(id_col), F.col(cluster_col)).join(
        docs, id_col
    )
    aggs = [
        F.min(F.col(id_col)).cast("long").alias("canonical_id"),
        F.count(F.lit(1)).cast("long").alias("n_members"),
    ]
    for c in sum_cols:
        aggs.append(F.sum(F.col(c).cast("long")).cast("long").alias(f"sum_{c}"))
    return joined.groupBy(cluster_col).agg(*aggs)


def cluster_merge_text(
    clusters: DataFrame,
    docs: DataFrame,
    score_col: str,
    sum_cols: list[str],
    text_col: str = "text",
    id_col: str = "doc_id",
    cluster_col: str = "cluster_id",
    ascending: bool = False,
) -> DataFrame:
    """The dedup ladder's write-back record, in ONE pass: per duplicate
    cluster, the canonical row whose TEXT is the policy-chosen
    survivor's (best ``score_col``, smallest id tiebreak — the
    :func:`select_survivors` policy) and whose metadata is the GROUP's
    merged attributes (member count, int64 sums — the
    :func:`cluster_rollup` semantics). Composing those two operators
    costs a window shuffle PLUS a groupBy shuffle plus a re-join; this
    fuses them into a single groupBy using ``max_by``/``min_by`` over
    a (score, id) ordering struct, so the whole write-back is one
    shuffle on the cluster id — at 100 TB the difference between one
    pass over the pair mass and three.

    Returns ``(cluster_id, canonical_id, canonical_text, n_members,
    sum_<col>...)``. Tie-break note: ids are compared ascending inside
    a MAX ordering via arithmetic negation, so ``id_col`` must be a
    numeric id (the convention everywhere in this module).
    """
    joined = clusters.select(F.col(id_col), F.col(cluster_col)).join(docs, id_col)
    # survivor = max score, tie → smallest id. One ordering struct:
    # descending policy maxes (score, -id); ascending mins (score, id).
    winner = F.struct(
        F.col(id_col).alias("i"), F.col(text_col).alias("t")
    )
    if ascending:
        chosen = F.min_by(
            winner,
            F.struct(F.col(score_col).alias("s"), F.col(id_col).alias("i")),
        )
    else:
        chosen = F.max_by(
            winner,
            F.struct(
                F.col(score_col).alias("s"), (-F.col(id_col)).alias("ni")
            ),
        )
    aggs = [
        chosen.getField("i").cast("long").alias("canonical_id"),
        chosen.getField("t").alias("canonical_text"),
        F.count(F.lit(1)).cast("long").alias("n_members"),
    ]
    for c in sum_cols:
        aggs.append(F.sum(F.col(c).cast("long")).cast("long").alias(f"sum_{c}"))
    return joined.groupBy(cluster_col).agg(*aggs)


def prefix_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.6,
    shingle_table: DataFrame | None = None,
) -> DataFrame:
    """All pairs with shingle-set Jaccard >= threshold — same exact
    contract and output as :func:`jaccard_pairs`, via PREFIX FILTERING
    (Chaudhuri et al. ICDE'06; Bayardo et al. WWW'07; Xiao et al.
    WWW'08 PPJoin): under any global token order, two sets with
    J >= t must share a token within their first
    ``|x| - ceil(t*|x|) + 1`` tokens — so only PREFIXES are indexed
    and joined, not whole sets.

    Why this is the better 100 TB candidate generator: the inverted
    index in jaccard_pairs posts every document under EVERY shingle,
    so candidate volume is driven by the hottest (boilerplate)
    shingles; ordering tokens by ascending document frequency puts
    exactly the RAREST tokens in the prefixes, so hot shingles never
    generate candidates unless a document consists of nothing else.
    A pre-size length filter (``t*|x| <= |y|``) prunes further before
    any pair exists.

    Exactness discipline: the prefix length and length filter use
    CONSERVATIVE integer arithmetic (floor-scaled threshold — never
    shorter prefixes or tighter bounds than the real-valued ones, so
    completeness cannot be lost to float rounding); the final verify
    recomputes exact intersection sizes over the full shingle sets
    and applies the same double-precision ``jaccard >= threshold``
    filter jaccard_pairs uses, so the two operators are row- and
    value-identical (pytest-pinned; shares jaccard_pairs' brute-force
    SQL oracle in the catalog).

    ``shingle_table``: precomputed hashed (doc, sh) frame to reuse
    (the shared-scan path); caller owns its lifecycle."""
    import math

    from pasta_pipeline_spark.operators.util import attach_cached_deps

    own_cache = shingle_table is None
    sh = (
        _shingle_table(df, id_col, text_col, n).persist()
        if own_cache
        else shingle_table
    )
    # conservative integer threshold: T_floor/1e6 <= t always
    t_floor = int(math.floor(threshold * 1_000_000))

    from pasta_pipeline_spark.operators.util import pair_verify_parallelism

    sizes = sh.groupBy("doc").agg(F.count(F.lit(1)).alias("n_sh"))
    dfreq = sh.groupBy("sh").agg(F.count(F.lit(1)).alias("df"))
    # pin the per-doc ordering exchange (r14, guide §2.5): the stage
    # after it ranks every (doc, shingle, df) row through a window —
    # compute-dense, ~85 KB/task at sf0.1, which AQE's byte-based
    # coalescing squeezes to ~3 tasks once the 1 MiB floor is back;
    # the downstream sizes join reuses the same clustering
    ordered = (
        pair_verify_parallelism(sh.join(dfreq, "sh"), "doc")
        .withColumn(
            "pos",
            F.row_number().over(
                Window.partitionBy("doc").orderBy(F.asc("df"), F.asc("sh"))
            ),
        )
        .join(sizes, "doc")
    )
    # prefix length p = n - ceil(t*n) + 1, with ceil replaced by the
    # conservative (t_floor*n) div 1e6 <= floor(t*n) <= ceil(t*n)
    prefix = ordered.where(
        F.col("pos")
        <= F.col("n_sh") - F.expr(f"({t_floor} * n_sh) div 1000000") + 1
    ).select("doc", "sh", "n_sh", "pos")

    a = prefix.select(
        F.col("doc").alias("doc_a"), "sh",
        F.col("n_sh").alias("n_a"), F.col("pos").alias("pa"),
    )
    b = prefix.select(
        F.col("doc").alias("doc_b"), "sh",
        F.col("n_sh").alias("n_b"), F.col("pos").alias("pb"),
    )
    cand0 = (
        a.join(b, "sh")
        .where(F.col("doc_a") < F.col("doc_b"))
        # length filter, conservative: J>=t needs t*max <= min
        .where(F.col("n_b") * 1_000_000 >= F.lit(t_floor) * F.col("n_a"))
        .where(F.col("n_a") * 1_000_000 >= F.lit(t_floor) * F.col("n_b"))
        .groupBy("doc_a", "doc_b", "n_a", "n_b")
        .agg(F.min("pa").alias("pa"), F.min("pb").alias("pb"))
    )
    # PPJoin positional filter (Xiao et al. WWW'08 Lemma 1): the FIRST
    # common prefix token in the global (df, sh) order — the one with
    # min position in BOTH docs simultaneously, since per-doc positions
    # follow the global order, so independent MINs recover it — admits
    # no common token before it (an earlier common token would itself
    # be in both prefixes), hence
    #     overlap <= ub = 1 + min(n_a - pa, n_b - pb).
    # J >= t needs overlap*(1+t) >= t*(n_a+n_b); killing pairs whose
    # ub provably misses that is EXACT (never drops a qualifying
    # pair), uses the conservative t_floor on both sides, and runs
    # before the shingle-set arrays attach — the r11 sf10 profile put
    # ~99.9% of candidates below threshold, so the fat verify frame
    # was almost entirely waste.
    ub = F.lit(1) + F.least(
        F.col("n_a") - F.col("pa"), F.col("n_b") - F.col("pb")
    )
    cand = cand0.where(
        ub * (1_000_000 + t_floor) >= F.lit(t_floor) * (F.col("n_a") + F.col("n_b"))
    ).select("doc_a", "doc_b", "n_a", "n_b")
    # exact verify: each doc's (distinct) shingle set rides as ONE
    # sorted array and every candidate pair pays a per-row
    # array_intersect — two document-scale joins of bounded-array
    # payloads instead of re-exploding candidate pairs against the
    # posting list (the r11 sf1 profile: the postings re-join
    # materialized Σ_cand |shingles(a)| ≈ 165M intermediate rows and
    # was ~80% of the operator's wall time; the array verify does the
    # same exact intersection counting in-row)
    sets = sh.groupBy("doc").agg(F.sort_array(F.collect_list("sh")).alias("shs"))
    n_common = F.size(F.array_intersect(F.col("__sa"), F.col("__sb"))).cast("long")
    from pasta_pipeline_spark.operators.util import pair_verify_parallelism

    # pin the verify exchange — same rationale as minhash_lsh_pairs
    jac = (
        pair_verify_parallelism(cand, "doc_a")
        .join(
            sets.select(F.col("doc").alias("doc_a"), F.col("shs").alias("__sa")),
            "doc_a",
        )
        .join(
            sets.select(F.col("doc").alias("doc_b"), F.col("shs").alias("__sb")),
            "doc_b",
        )
        .withColumn("n_common", n_common)
        # vacuously true here (prefix-blocked candidates share >= 1
        # shingle by construction) but kept so the verify stage's
        # threshold=0.0 semantics match the postings-join shape at
        # every threshold, same as minhash_lsh_pairs (r11 advisor)
        .filter(F.col("n_common") >= 1)
        .withColumn(
            "jaccard",
            F.col("n_common").cast("double")
            / (F.col("n_a") + F.col("n_b") - F.col("n_common")).cast("double"),
        )
    )
    out = jac.filter(F.col("jaccard") >= threshold).select(
        "doc_a", "doc_b", "jaccard"
    )
    return attach_cached_deps(out, [sh]) if own_cache else out


# ---------------------------------------------------------------------------
# Winnowing fingerprints (Schleimer, Wilkerson, Aiken — SIGMOD 2003)
# ---------------------------------------------------------------------------

#: Winnowing constants shared by the Spark expressions and the SQL
#: oracle generator (playbook #11): polynomial base/modulus for the
#: k-gram hash, and the position-encoding radix for the rightmost-min
#: tie-break.  Positions >= 2^20 - 1 are clamped to 0 in the encoding
#: (both engines), so oversized documents keep a correct hash order
#: and merely lose rightmost-tie precision past the radix.
WINNOW_BASE = 1_000_003
WINNOW_MOD = (1 << 31) - 1
WINNOW_POS = 1 << 20


def winnowing_fingerprints(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 4,
    w: int = 4,
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken,
    SIGMOD 2003 — the MOSS algorithm): hash every k-token gram, slide
    a w-gram window, and keep each window's MINIMUM hash (rightmost
    position on ties). The selection guarantee that makes this the
    standard local fingerprinting scheme: any shared substring of at
    least ``w + k - 1`` tokens shares at least one selected
    fingerprint, while only ~2/(w+1) of all grams are kept.

    Engine-exact argmin without structs: each gram's key is
    ``h * 2^20 + (2^20 - 1 - p)`` — a plain int64 whose window MIN
    selects the smallest hash and, among ties, the rightmost
    position; hash and position decode back arithmetically. Emits
    DISTINCT ``(id, fp, pos)``.

    Scale shape (r11): the sliding-window min runs ARRAY-SIDE — the
    gram keys are already a per-document array, so each window's min
    is an ``aggregate(slice(ckeys, i, w), least)`` fold and the
    per-doc ``array_distinct`` happens before anything explodes. The
    r10 form exploded EVERY gram and ran a per-doc window (one
    full-corpus shuffle + sort of the gram rows); this emits only the
    ~2/(w+1)-density selected fingerprints and shuffles nothing —
    sf1 fingerprint stage 14.5 s → array-side, measured in
    winnowing_pairs' rung.
    """
    ht = F.transform(
        tokenize_ws(F.col(text_col)),
        lambda t: F.conv(F.substring(F.md5(t.cast("binary")), 1, 7), 16, 10).cast(
            "long"
        ),
    )
    # Guard: Spark's sequence(1, 0) DESCENDS to [1, 0] (playbook #14),
    # so a document with fewer than k tokens (n_kg <= 0) would drive
    # slice(ht, 0, k) into INVALID_PARAMETER_VALUE.START and abort the
    # whole job.  Mirror the oracle's ``WHERE len(ht) >= k`` with a
    # size predicate that yields an empty gram array instead.
    n_kg = F.size(ht) - k + 1
    grams = F.when(
        F.size(ht) >= k,
        F.transform(
            F.sequence(F.lit(1), n_kg),
            lambda p: F.aggregate(
                F.slice(ht, p, k),
                F.lit(0).cast("long"),
                lambda acc, x: (acc * WINNOW_BASE + x) % WINNOW_MOD,
            ),
        ),
    ).otherwise(F.array().cast("array<long>"))
    # Clamp the position term so documents with >= 2^20 k-grams can't
    # drive it negative (which would corrupt the min-hash/rightmost-
    # tie ordering); positions beyond the radix all encode as 0 — a
    # deterministic, engine-shared degradation of ONLY the tie-break,
    # never the hash order. (x, i) two-arg transform gives the 0-based
    # gram index, so position p = i + 1 — identical to the exploded
    # form's posexplode positions.
    ckeys = F.transform(
        grams,
        lambda h, i: (
            h * WINNOW_POS
            + F.greatest(F.lit(WINNOW_POS - 1) - (i + 1), F.lit(0))
        ).cast("long"),
    )
    with_keys = docs.where(F.col(text_col).isNotNull()).select(
        F.col(id_col), ckeys.alias("__cks")
    )
    n_win = F.size(F.col("__cks")) - w + 1
    # per-window min = fold over the w-slice; only FULL windows (the
    # exploded form's cnt == w filter); per-doc dedup via
    # array_distinct BEFORE the explode, so only the selected
    # fingerprints (~2/(w+1) of grams) ever become rows
    sel_arr = F.when(
        n_win >= 1,
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), n_win),
                lambda i: F.aggregate(
                    F.slice(F.col("__cks"), i, w),
                    F.lit((1 << 62) - 1).cast("long"),
                    lambda acc, x: F.least(acc, x),
                ),
            )
        ),
    ).otherwise(F.array().cast("array<long>"))
    selected = with_keys.select(
        F.col(id_col), F.explode(sel_arr).alias("cmin")
    ).select(
        F.col(id_col),
        F.expr(f"cmin div {WINNOW_POS}").cast("long").alias("fp"),
        (F.lit(WINNOW_POS - 1) - F.col("cmin") % WINNOW_POS)
        .cast("long")
        .alias("pos"),
    )
    return selected


def winnowing_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 4,
    w: int = 4,
    min_shared: int = 3,
    max_df: int = 100,
) -> DataFrame:
    """Near-dup pairs by shared winnowing fingerprints: documents
    sharing at least ``min_shared`` selected fingerprints. Fingerprints
    appearing in more than ``max_df`` documents are dropped before the
    join (the hot-shingle cap every inverted-index tier here applies —
    boilerplate fingerprints generate quadratic candidates and carry
    no signal). Plain equi-join on the fingerprint; no all-pairs."""
    fps = winnowing_fingerprints(docs, id_col, text_col, k, w).select(
        F.col(id_col), "fp"
    ).distinct()
    rare = fps.groupBy("fp").agg(F.count(F.lit(1)).alias("df")).where(
        F.col("df") <= max_df
    )
    pruned = fps.join(F.broadcast(rare.select("fp")), "fp")
    a, b = pruned.alias("a"), pruned.alias("b")
    return (
        a.join(
            b,
            (F.col("a.fp") == F.col("b.fp"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .groupBy(
            F.col(f"a.{id_col}").alias("doc_a"), F.col(f"b.{id_col}").alias("doc_b")
        )
        # plain count == count-distinct here: ``pruned`` is distinct
        # per (doc, fp), so the equi-join emits exactly one row per
        # (pair, shared fp) — and count skips the distinct-aggregate's
        # per-group hash expansion (r11)
        .agg(F.count(F.lit(1)).cast("long").alias("n_shared"))
        .where(F.col("n_shared") >= min_shared)
    )


def winnowing_oracle_sql(
    k: int = 4,
    w: int = 4,
    min_shared: int = 3,
    max_df: int = 100,
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> str:
    """DuckDB twin of :func:`winnowing_pairs` — same constants, same
    argmin encoding, same hot-fingerprint cap."""
    return f"""
    WITH toks AS (
      SELECT {id_col},
             list_transform(
               list_filter(regexp_split_to_array(lower({text_col}), '\\s+'), y -> y <> ''),
               t -> ('0x' || substr(md5(t), 1, 7))::BIGINT) AS ht
      FROM {table} WHERE {text_col} IS NOT NULL
    ), kg AS (
      SELECT {id_col},
             unnest(generate_series(1, len(ht) - {k} + 1)) AS p, ht
      FROM toks WHERE len(ht) >= {k}
    ), keyed AS (
      SELECT {id_col}, p,
             list_reduce(list_prepend(0::BIGINT, ht[p : p + {k} - 1]),
                         (acc, x) -> (acc * {WINNOW_BASE} + x) % {WINNOW_MOD})
               * {WINNOW_POS} + greatest({WINNOW_POS} - 1 - p, 0) AS ckey
      FROM kg
    ), wmin AS (
      SELECT {id_col},
             MIN(ckey) OVER (PARTITION BY {id_col} ORDER BY p
                             ROWS BETWEEN CURRENT ROW AND {w - 1} FOLLOWING) AS cmin,
             COUNT(ckey) OVER (PARTITION BY {id_col} ORDER BY p
                             ROWS BETWEEN CURRENT ROW AND {w - 1} FOLLOWING) AS cnt
      FROM keyed
    ), fps AS (
      SELECT DISTINCT {id_col}, cmin // {WINNOW_POS} AS fp
      FROM wmin WHERE cnt = {w}
    ), rare AS (
      SELECT fp FROM fps GROUP BY fp HAVING count(*) <= {max_df}
    ), pruned AS (
      SELECT f.{id_col}, f.fp FROM fps f JOIN rare USING (fp)
    )
    SELECT a.{id_col} AS doc_a, b.{id_col} AS doc_b,
           CAST(count(DISTINCT a.fp) AS BIGINT) AS n_shared
    FROM pruned a JOIN pruned b
      ON a.fp = b.fp AND a.{id_col} < b.{id_col}
    GROUP BY a.{id_col}, b.{id_col}
    HAVING count(DISTINCT a.fp) >= {min_shared}
    """


# ---------------------------------------------------------------------------
# MinHash estimator-quality audit (r7)
# ---------------------------------------------------------------------------


def _md5_minhash_sigs(sh: DataFrame, num_hashes: int) -> DataFrame:
    """(doc, sig) over an UNhashed (doc, sh) shingle table, base hash =
    the engine-shared md5 :func:`_hash60` (the kernel masks it to 31
    bits) — the family the audits below replay hash-exactly in SQL."""
    xs = sh.groupBy("doc").agg(F.collect_list(_hash60(F.col("sh"))).alias("xs"))
    return _minhash_sigs(xs, num_hashes)


def minhash_error_report(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 64,
    threshold: float = 0.5,
) -> DataFrame:
    """Empirical MinHash estimator audit: for every true near-dup pair
    (exact shingle Jaccard >= ``threshold``), compare the k-hash
    MinHash ESTIMATE (fraction of agreeing signature slots — the
    unbiased J estimator, Broder 1997) against the exact value. The
    evaluation tier of the dedup ladder: before trusting banded LSH at
    a new k/bands setting, measure |est − exact| on the corpus's own
    near-dup population (expected std ≈ sqrt(J(1−J)/k) ≈ 6 points at
    J=0.5, k=64).

    Signatures here hash shingle STRINGS through md5 (not xxhash64)
    so the whole report — signatures included — replays hash-exactly
    in SQL; the production pair tier keeps xxhash64 (faster, same
    set semantics). One shingle scan feeds both the exact-Jaccard
    self-join and the signature kernel; the estimate is
    :func:`_agree_bp` over the two signature arrays.

    Returns per-pair ``(doc_a, doc_b, jaccard_bp, est_bp,
    abs_err_bp)`` in basis points (integer, playbook #12).
    """
    sh = _shingle_table(docs, id_col, text_col, n, hashed=False)
    sigs = _md5_minhash_sigs(sh, num_hashes)
    sizes = sh.groupBy("doc").agg(F.count(F.lit(1)).cast("long").alias("n_sh"))
    sa = sh.select(F.col("doc").alias("doc_a"), "sh")
    sb = sh.select(F.col("doc").alias("doc_b"), F.col("sh").alias("sh2"))
    common = (
        sa.join(sb, (F.col("sh") == F.col("sh2")) & (F.col("doc_a") < F.col("doc_b")))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_common"))
    )
    t_bp = int(round(threshold * 10000))
    exact = (
        common.join(
            sizes.select(F.col("doc").alias("doc_a"), F.col("n_sh").alias("n_a")),
            "doc_a",
        )
        .join(
            sizes.select(F.col("doc").alias("doc_b"), F.col("n_sh").alias("n_b")),
            "doc_b",
        )
        .withColumn(
            "jaccard_bp",
            F.expr("n_common * 10000 div (n_a + n_b - n_common)").cast("long"),
        )
        # cross-multiplied threshold — no double compare (playbook #12)
        .where(
            F.col("n_common") * 10000
            >= F.lit(t_bp) * (F.col("n_a") + F.col("n_b") - F.col("n_common"))
        )
    )
    return (
        _join_sig_pair(exact, sigs)
        .withColumn("est_bp", _agree_bp(F.col("__sa"), F.col("__sb"), num_hashes))
        .select(
            "doc_a",
            "doc_b",
            "jaccard_bp",
            "est_bp",
            F.abs(F.col("est_bp") - F.col("jaccard_bp")).cast("long").alias("abs_err_bp"),
        )
    )


def minhash_error_oracle_sql(
    n: int = 3,
    num_hashes: int = 64,
    threshold: float = 0.5,
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> str:
    """DuckDB twin of :func:`minhash_error_report` — signatures
    generated from the SAME (a_i, b_i) constants."""
    params = _minhash_params(num_hashes)
    t_bp = int(round(threshold * 10000))
    sig_cols = ",\n             ".join(
        f"MIN(({a} * x + {b}) % {_MERSENNE31}) AS mh{i}"
        for i, (a, b) in enumerate(params)
    )
    match_sum = " + ".join(
        f"CASE WHEN sa.mh{i} = sb.mh{i} THEN 1 ELSE 0 END"
        for i in range(num_hashes)
    )
    return f"""
    WITH toks AS (
      SELECT {id_col}, list_filter(regexp_split_to_array(lower({text_col}), '\\s+'),
                                   y -> y <> '') AS t
      FROM {table}
    ), sh AS (
      SELECT DISTINCT {id_col},
             CASE WHEN len(t) >= {n}
                  THEN {" || ' ' || ".join(f"t[i+{j}]" for j in range(n))}
                  ELSE array_to_string(t, ' ') END AS s
      FROM (SELECT {id_col}, t,
                   unnest(generate_series(1, greatest(len(t) - {n - 1}, 1))) AS i
            FROM toks)
    ), x AS (
      SELECT {id_col}, ('0x' || substr(md5(s), 1, 15))::BIGINT & 2147483647 AS x
      FROM sh
    ), sig AS (
      SELECT {id_col}, {sig_cols}
      FROM x GROUP BY {id_col}
    ), sizes AS (
      SELECT {id_col}, CAST(count(*) AS BIGINT) AS n_sh FROM sh GROUP BY {id_col}
    ), common AS (
      SELECT a.{id_col} AS doc_a, b.{id_col} AS doc_b,
             CAST(count(*) AS BIGINT) AS n_common
      FROM sh a JOIN sh b ON a.s = b.s AND a.{id_col} < b.{id_col}
      GROUP BY 1, 2
    ), exact AS (
      SELECT doc_a, doc_b,
             CAST(n_common * 10000 // (sa.n_sh + sb.n_sh - n_common) AS BIGINT)
               AS jaccard_bp
      FROM common
      JOIN sizes sa ON sa.{id_col} = doc_a
      JOIN sizes sb ON sb.{id_col} = doc_b
      WHERE n_common * 10000 >= {t_bp} * (sa.n_sh + sb.n_sh - n_common)
    )
    SELECT e.doc_a, e.doc_b, e.jaccard_bp,
           CAST(({match_sum}) * 10000 // {num_hashes} AS BIGINT) AS est_bp,
           CAST(abs(({match_sum}) * 10000 // {num_hashes} - e.jaccard_bp) AS BIGINT)
             AS abs_err_bp
    FROM exact e
    JOIN sig sa ON sa.{id_col} = e.doc_a
    JOIN sig sb ON sb.{id_col} = e.doc_b
    """


def minhash_gate_recall(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 64,
    num_bands: int = 16,
    threshold: float = 0.5,
    max_n: int | None = 400,
    recall_scale: int = 1_000_000,
) -> DataFrame:
    """Measured recall of the banded MinHash gate at ``threshold`` —
    the subsample-bounded gate_recall_report contract promoted to the
    token-set tier (r12 verdict ask #5; NOTES #71 pinned this at
    fixture scale in pytest only, because the production signatures
    use xxhash64 which DuckDB can't replay).

    Signatures here run the md5 hash family of
    :func:`minhash_error_report` (same 31-bit base hash, same
    ``_minhash_params`` permutation constants), so the WHOLE
    audit — shingling, signatures, banding, truth, recall — replays
    hash-exactly in SQL. The banding is the production helper
    (:func:`_lsh_bands`: ``num_hashes`` slots in ``num_bands`` bands,
    collision = equal xxhash64 of some band's slots, i.e. all its
    slots agree; ValueError unless ``num_bands`` divides
    ``num_hashes``); only the slot hash family differs, and
    :func:`minhash_error_report` measures that family's estimator
    error directly, so the two audits bracket the production gate.

    Ground truth is exact shingle Jaccard >= ``threshold`` on the
    md5-ranked ``max_n`` subsample (the gate_recall_report trick —
    bounds the inherently-quadratic truth side at any corpus size);
    the gate itself runs over the FULL corpus exactly as production
    would, and only pairs with both endpoints in the subsample are
    counted. One row: ``(n_docs, n_true_pairs, n_gated_pairs,
    recall_sc)``, recall_sc = floor(gated/true · recall_scale), NULL
    when the subsample holds no true pair.
    """
    sh = _shingle_table(docs, id_col, text_col, n, hashed=False)
    sigs = _md5_minhash_sigs(sh, num_hashes)
    # production banding over the FULL corpus: 16 slim (doc, band, bh)
    # rows per doc, equi-join on (band, bh) — never an all-pairs frame
    bandrows = _lsh_bands(sigs, num_hashes, num_bands)
    cand = (
        bandrows.alias("a")
        .join(
            bandrows.alias("b"),
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bh") == F.col("b.bh"))
            & (F.col("a.doc") < F.col("b.doc")),
        )
        .select(F.col("a.doc").alias("doc_a"), F.col("b.doc").alias("doc_b"))
        .distinct()
    )
    # md5-ranked subsample bounds the quadratic truth side
    sub = docs.select(F.col(id_col).alias("doc"))
    if max_n is not None:
        sub = sub.orderBy(
            F.md5(F.col("doc").cast("string")), F.col("doc").asc()
        ).limit(max_n)
    ssh = sh.join(sub, "doc", "left_semi")
    sizes = ssh.groupBy("doc").agg(F.count(F.lit(1)).cast("long").alias("n_sh"))
    sa = ssh.select(F.col("doc").alias("doc_a"), "sh")
    sb = ssh.select(F.col("doc").alias("doc_b"), F.col("sh").alias("sh2"))
    t_bp = int(round(threshold * 10000))
    true_pairs = (
        sa.join(
            sb,
            (F.col("sh") == F.col("sh2")) & (F.col("doc_a") < F.col("doc_b")),
        )
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_common"))
        .join(
            sizes.select(F.col("doc").alias("doc_a"), F.col("n_sh").alias("n_a")),
            "doc_a",
        )
        .join(
            sizes.select(F.col("doc").alias("doc_b"), F.col("n_sh").alias("n_b")),
            "doc_b",
        )
        .where(
            F.col("n_common") * 10000
            >= F.lit(t_bp) * (F.col("n_a") + F.col("n_b") - F.col("n_common"))
        )
        .select("doc_a", "doc_b")
    )
    gated_true = true_pairs.join(cand, ["doc_a", "doc_b"], "left_semi")
    nd = sub.agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
    tp = true_pairs.agg(F.count(F.lit(1)).cast("long").alias("n_true_pairs"))
    gp = gated_true.agg(F.count(F.lit(1)).cast("long").alias("n_gated_pairs"))
    return (
        nd.crossJoin(tp)
        .crossJoin(gp)
        .select(
            "n_docs",
            "n_true_pairs",
            "n_gated_pairs",
            F.when(
                F.col("n_true_pairs") > 0,
                F.floor(
                    F.col("n_gated_pairs").cast("double")
                    / F.col("n_true_pairs").cast("double")
                    * recall_scale
                ).cast("long"),
            ).alias("recall_sc"),
        )
    )


#: Planted text-twin perturbation cycle: every m-th token replaced.
#: With 3-gram shingles each replaced token corrupts <= 3 shingles, so
#: expected Jaccard bands are roughly 0.28 / 0.49 / 0.65 / 0.78 —
#: bracketing the dedup tier's theta=0.5 from both sides (truth is
#: still computed EXACTLY; the bands only shape the population).
PLANT_TEXT_MODS = (6, 10, 16, 24)


def plant_near_dup_texts(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    rate_mod: int = 4,
    drop_mods: tuple[int, ...] = PLANT_TEXT_MODS,
    id_offset: int = 10_000_000,
) -> DataFrame:
    """Deterministic planted near-duplicate TEXT corpus — the token
    tier's analog of similarity.plant_near_dups (wave 35): for every
    base doc with ``id % rate_mod == 0`` and non-null text, a twin at
    ``id + id_offset`` whose every ``m``-th token is replaced by a
    globally-unique marker (``zq<twin_id>x<pos>`` — never matches any real
    token or another twin's marker, so corrupted shingles simply leave
    the intersection; no accidental cross-doc collisions). ``m``
    cycles through ``drop_mods`` by ``id % (rate_mod·len(mods))``, so
    the planted pair population spans Jaccard bands that bracket the
    dedup threshold from both sides.

    Unlike the embedding fixture there is no closed-form exact target
    (shingle overlap depends on token multiplicity), and none is
    needed: the recall audit computes exact Jaccard on every planted
    pair anyway — the fixture only has to CREATE a controlled
    near-dup population, deterministically, in both engines. Twin
    text is rebuilt from the shingle pipeline's own tokenization
    (lowercased, whitespace-split, single-space joined), which that
    pipeline maps to the same token sequence.

    Returns base ∪ twins with (id, text) plus untouched extra columns
    from the base rows (twins carry the base row's values).
    """
    others = [c for c in docs.columns if c not in (id_col, text_col)]
    n_m = len(drop_mods)
    # the base id rides under a private name: referencing id_col in
    # the same select that re-aliases it resolves to the OUTPUT alias
    # under Spark's lateral-column-alias precedence, not the input
    pick = (F.col("__bid") % F.lit(rate_mod * n_m)) / F.lit(rate_mod)
    m_arr = F.array(*[F.lit(int(m)) for m in drop_mods])
    m_col = F.element_at(m_arr, pick.cast("int") + 1)
    toks = F.filter(
        F.split(F.lower(F.col(text_col)), r"\s+"), lambda t: t != F.lit("")
    )
    marker = lambda i: F.concat(  # noqa: E731
        F.lit("zq"),
        (F.col("__bid") + F.lit(id_offset)).cast("string"),
        F.lit("x"),
        (i + 1).cast("string"),
    )
    twin_text = F.array_join(
        F.transform(
            toks,
            lambda t, i: F.when((i + 1) % m_col == 0, marker(i)).otherwise(t),
        ),
        " ",
    )
    twins = (
        docs.where((F.col(id_col) % rate_mod == 0) & F.col(text_col).isNotNull())
        .select(
            F.col(id_col).alias("__bid"),
            F.col(text_col),
            *[F.col(c) for c in others],
        )
        .select(
            (F.col("__bid") + F.lit(id_offset)).alias(id_col),
            twin_text.alias(text_col),
            *[F.col(c) for c in others],
        )
    )
    return docs.select(id_col, text_col, *others).unionByName(twins)


def planted_minhash_recall(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 64,
    num_bands: int = 16,
    threshold: float = 0.5,
    rate_mod: int = 4,
    drop_mods: tuple[int, ...] = PLANT_TEXT_MODS,
    id_offset: int = 10_000_000,
    recall_scale: int = 1_000_000,
) -> DataFrame:
    """Banded-MinHash gate recall over the planted text-twin corpus —
    per perturbation band, with exact-Jaccard truth on EVERY planted
    pair (full population, no subsample: planted pairs are linear in
    the corpus, so the quadratic-truth bound of
    :func:`minhash_gate_recall` isn't needed here).

    One row per ``drop_mod``: ``(drop_mod, n_planted, n_true,
    n_gated, recall_sc)`` — n_true = planted pairs whose exact shingle
    Jaccard clears ``threshold`` (the m=6 band sits mostly BELOW θ=0.5
    by construction, exercising the gate near its operating edge),
    n_gated = those of them the banding catches, recall_sc =
    floor(n_gated/n_true · recall_scale), NULL for a band with no true
    pair. Signatures run the md5 family (same constants as
    :func:`minhash_error_report`) so the WHOLE audit replays in SQL.
    """
    r = _rows_per_band(num_hashes, num_bands)
    planted = plant_near_dup_texts(
        docs, id_col=id_col, text_col=text_col,
        rate_mod=rate_mod, drop_mods=drop_mods, id_offset=id_offset,
    )
    sh = _shingle_table(planted, id_col, text_col, n, hashed=False)
    sigs = _md5_minhash_sigs(sh, num_hashes)
    # planted pair frame: (doc_a=base, doc_b=twin, drop_mod)
    n_m = len(drop_mods)
    pick = (F.col(id_col) % F.lit(rate_mod * n_m)) / F.lit(rate_mod)
    m_arr = F.array(*[F.lit(int(m)) for m in drop_mods])
    truth = docs.where(
        (F.col(id_col) % rate_mod == 0) & F.col(text_col).isNotNull()
    ).select(
        F.col(id_col).alias("doc_a"),
        (F.col(id_col) + F.lit(id_offset)).alias("doc_b"),
        F.element_at(m_arr, pick.cast("int") + 1).alias("drop_mod"),
    )
    # exact Jaccard on the planted pairs only — one shingle join per
    # side against the pair frame (linear in planted pairs)
    sizes = sh.groupBy("doc").agg(F.count(F.lit(1)).cast("long").alias("n_sh"))
    t_bp = int(round(threshold * 10000))
    # composite (doc_b, sh) equi-join: intersection rows stay linear
    # in Σ shared shingles — never a per-pair shingle cross frame
    common = (
        sh.select(F.col("doc").alias("doc_a"), "sh")
        .join(truth.select("doc_a", "doc_b"), "doc_a")
        .join(sh.select(F.col("doc").alias("doc_b"), "sh"), ["doc_b", "sh"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_common"))
    )
    jac = (
        truth.join(common, ["doc_a", "doc_b"], "left")
        .join(
            sizes.select(F.col("doc").alias("doc_a"), F.col("n_sh").alias("n_a")),
            "doc_a",
        )
        .join(
            sizes.select(F.col("doc").alias("doc_b"), F.col("n_sh").alias("n_b")),
            "doc_b",
        )
        .withColumn("n_common", F.coalesce(F.col("n_common"), F.lit(0)))
        .withColumn(
            "is_true",
            (
                F.col("n_common") * 10000
                >= F.lit(t_bp) * (F.col("n_a") + F.col("n_b") - F.col("n_common"))
            ).cast("int"),
        )
    )
    # banding collision on the planted pairs: any band whose r-slot
    # slices agree (slim — one sig join per side of the pair frame)
    band_hit = F.exists(
        F.sequence(F.lit(0), F.lit(num_bands - 1)),
        lambda j: F.slice("__sa", j * r + 1, r) == F.slice("__sb", j * r + 1, r),
    )
    gated = _join_sig_pair(jac, sigs).withColumn("is_gated", band_hit.cast("int"))
    return (
        gated.groupBy("drop_mod")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_planted"),
            F.sum("is_true").cast("long").alias("n_true"),
            F.sum(F.col("is_true") * F.col("is_gated")).cast("long").alias("n_gated"),
        )
        .select(
            "drop_mod",
            "n_planted",
            "n_true",
            "n_gated",
            F.when(
                F.col("n_true") > 0,
                F.floor(
                    F.col("n_gated").cast("double")
                    / F.col("n_true").cast("double")
                    * recall_scale
                ).cast("long"),
            ).alias("recall_sc"),
        )
        .orderBy("drop_mod")
    )


def planted_minhash_recall_oracle_sql(
    n: int = 3,
    num_hashes: int = 64,
    num_bands: int = 16,
    threshold: float = 0.5,
    rate_mod: int = 4,
    drop_mods: tuple[int, ...] = PLANT_TEXT_MODS,
    id_offset: int = 10_000_000,
    recall_scale: int = 1_000_000,
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> str:
    """DuckDB twin of :func:`planted_minhash_recall`: the text-twin
    construction (same tokenization, same markers), md5-family
    signatures, banding as an OR-of-bands predicate, exact-Jaccard
    truth on the planted pairs, per-band recall."""
    params = _minhash_params(num_hashes)
    rows_per_band = num_hashes // num_bands
    t_bp = int(round(threshold * 10000))
    n_m = len(drop_mods)
    mod = rate_mod * n_m
    marr = "[" + ", ".join(str(int(m)) for m in drop_mods) + "]"
    pick = f"CAST(({id_col} % {mod}) // {rate_mod} + 1 AS INT)"
    sig_cols = ",\n             ".join(
        f"MIN(({a} * x + {b}) % {_MERSENNE31}) AS mh{i}"
        for i, (a, b) in enumerate(params)
    )
    band_or = "\n              OR ".join(
        "("
        + " AND ".join(
            f"sa.mh{j * rows_per_band + r} = sb.mh{j * rows_per_band + r}"
            for r in range(rows_per_band)
        )
        + ")"
        for j in range(num_bands)
    )
    return f"""
    WITH ptoks AS (
      SELECT {id_col},
             list_filter(regexp_split_to_array(lower({text_col}), '\\s+'),
                         y -> y <> '') AS t,
             ({marr})[{pick}] AS m
      FROM {table}
      WHERE {id_col} % {rate_mod} = 0 AND {text_col} IS NOT NULL
    ), ptw AS (
      SELECT bid + {id_offset} AS {id_col}, twin_text AS {text_col} FROM (
        SELECT {id_col} AS bid,
               array_to_string(list_transform(t, (x, p) ->
                 CASE WHEN p % m = 0
                      THEN 'zq' || CAST({id_col} + {id_offset} AS VARCHAR)
                           || 'x' || CAST(p AS VARCHAR)
                      ELSE x END), ' ') AS twin_text
        FROM ptoks)
    ), planted AS (
      SELECT {id_col}, {text_col} FROM {table}
      UNION ALL
      SELECT {id_col}, {text_col} FROM ptw
    ), toks AS (
      SELECT {id_col}, list_filter(regexp_split_to_array(lower({text_col}), '\\s+'),
                                   y -> y <> '') AS t
      FROM planted
    ), sh AS (
      SELECT DISTINCT {id_col},
             CASE WHEN len(t) >= {n}
                  THEN {" || ' ' || ".join(f"t[i+{j}]" for j in range(n))}
                  ELSE array_to_string(t, ' ') END AS s
      FROM (SELECT {id_col}, t,
                   unnest(generate_series(1, greatest(len(t) - {n - 1}, 1))) AS i
            FROM toks)
    ), x AS (
      SELECT {id_col}, ('0x' || substr(md5(s), 1, 15))::BIGINT & 2147483647 AS x
      FROM sh
    ), sig AS (
      SELECT {id_col}, {sig_cols}
      FROM x GROUP BY {id_col}
    ), truth AS (
      SELECT {id_col} AS doc_a, {id_col} + {id_offset} AS doc_b,
             CAST(({marr})[{pick}] AS INT) AS drop_mod
      FROM {table}
      WHERE {id_col} % {rate_mod} = 0 AND {text_col} IS NOT NULL
    ), sizes AS (
      SELECT {id_col}, CAST(count(*) AS BIGINT) AS n_sh FROM sh GROUP BY {id_col}
    ), common AS (
      SELECT t.doc_a, t.doc_b, CAST(count(*) AS BIGINT) AS n_common
      FROM truth t
      JOIN sh a ON a.{id_col} = t.doc_a
      JOIN sh b ON b.{id_col} = t.doc_b AND b.s = a.s
      GROUP BY 1, 2
    ), jac AS (
      SELECT t.doc_a, t.doc_b, t.drop_mod,
             COALESCE(c.n_common, 0) AS n_common,
             za.n_sh AS n_a, zb.n_sh AS n_b,
             CASE WHEN COALESCE(c.n_common, 0) * 10000
                       >= {t_bp} * (za.n_sh + zb.n_sh - COALESCE(c.n_common, 0))
                  THEN 1 ELSE 0 END AS is_true
      FROM truth t
      LEFT JOIN common c ON c.doc_a = t.doc_a AND c.doc_b = t.doc_b
      JOIN sizes za ON za.{id_col} = t.doc_a
      JOIN sizes zb ON zb.{id_col} = t.doc_b
    ), gated AS (
      SELECT j.drop_mod, j.is_true,
             CASE WHEN ({band_or}) THEN 1 ELSE 0 END AS is_gated
      FROM jac j
      JOIN sig sa ON sa.{id_col} = j.doc_a
      JOIN sig sb ON sb.{id_col} = j.doc_b
    )
    SELECT drop_mod,
           CAST(count(*) AS BIGINT) AS n_planted,
           CAST(SUM(is_true) AS BIGINT) AS n_true,
           CAST(SUM(is_true * is_gated) AS BIGINT) AS n_gated,
           CASE WHEN SUM(is_true) > 0 THEN
             CAST(FLOOR(CAST(SUM(is_true * is_gated) AS DOUBLE)
                        / CAST(SUM(is_true) AS DOUBLE)
                        * {recall_scale}) AS BIGINT) END AS recall_sc
    FROM gated
    GROUP BY drop_mod
    ORDER BY drop_mod
    """


def minhash_gate_recall_oracle_sql(
    n: int = 3,
    num_hashes: int = 64,
    num_bands: int = 16,
    threshold: float = 0.5,
    max_n: int = 400,
    recall_scale: int = 1_000_000,
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> str:
    """DuckDB twin of :func:`minhash_gate_recall` — signatures from
    the SAME permutation constants; the banding equi-join is replayed
    as an OR-of-bands pair predicate (identical pair set)."""
    params = _minhash_params(num_hashes)
    rows_per_band = num_hashes // num_bands
    t_bp = int(round(threshold * 10000))
    sig_cols = ",\n             ".join(
        f"MIN(({a} * x + {b}) % {_MERSENNE31}) AS mh{i}"
        for i, (a, b) in enumerate(params)
    )
    band_or = "\n            OR ".join(
        "("
        + " AND ".join(
            f"a.mh{j * rows_per_band + r} = b.mh{j * rows_per_band + r}"
            for r in range(rows_per_band)
        )
        + ")"
        for j in range(num_bands)
    )
    return f"""
    WITH toks AS (
      SELECT {id_col}, list_filter(regexp_split_to_array(lower({text_col}), '\\s+'),
                                   y -> y <> '') AS t
      FROM {table}
    ), sh AS (
      SELECT DISTINCT {id_col},
             CASE WHEN len(t) >= {n}
                  THEN {" || ' ' || ".join(f"t[i+{j}]" for j in range(n))}
                  ELSE array_to_string(t, ' ') END AS s
      FROM (SELECT {id_col}, t,
                   unnest(generate_series(1, greatest(len(t) - {n - 1}, 1))) AS i
            FROM toks)
    ), x AS (
      SELECT {id_col}, ('0x' || substr(md5(s), 1, 15))::BIGINT & 2147483647 AS x
      FROM sh
    ), sig AS (
      SELECT {id_col}, {sig_cols}
      FROM x GROUP BY {id_col}
    ), cand AS (
      SELECT a.{id_col} AS doc_a, b.{id_col} AS doc_b
      FROM sig a JOIN sig b ON a.{id_col} < b.{id_col}
        AND ({band_or})
    ), sub AS (
      SELECT {id_col} FROM {table}
      ORDER BY md5(CAST({id_col} AS VARCHAR)), {id_col} LIMIT {max_n}
    ), ssh AS (
      SELECT sh.{id_col}, sh.s FROM sh JOIN sub USING ({id_col})
    ), sizes AS (
      SELECT {id_col}, CAST(count(*) AS BIGINT) AS n_sh
      FROM ssh GROUP BY {id_col}
    ), true_pairs AS (
      SELECT doc_a, doc_b
      FROM (SELECT a.{id_col} AS doc_a, b.{id_col} AS doc_b,
                   CAST(count(*) AS BIGINT) AS n_common
            FROM ssh a JOIN ssh b ON a.s = b.s AND a.{id_col} < b.{id_col}
            GROUP BY 1, 2) c
      JOIN sizes sa ON sa.{id_col} = c.doc_a
      JOIN sizes sb ON sb.{id_col} = c.doc_b
      WHERE n_common * 10000 >= {t_bp} * (sa.n_sh + sb.n_sh - n_common)
    ), gp AS (
      SELECT CAST(count(*) AS BIGINT) AS n_gated_pairs
      FROM true_pairs t
      WHERE EXISTS (SELECT 1 FROM cand c
                    WHERE c.doc_a = t.doc_a AND c.doc_b = t.doc_b)
    ), tp AS (
      SELECT CAST(count(*) AS BIGINT) AS n_true_pairs FROM true_pairs
    ), nd AS (
      SELECT CAST(count(*) AS BIGINT) AS n_docs FROM sub
    )
    SELECT n_docs, n_true_pairs, n_gated_pairs,
           CASE WHEN n_true_pairs > 0 THEN
             CAST(FLOOR(CAST(n_gated_pairs AS DOUBLE)
                        / CAST(n_true_pairs AS DOUBLE)
                        * {recall_scale}) AS BIGINT) END AS recall_sc
    FROM nd CROSS JOIN tp CROSS JOIN gp
    """


def global_line_dedup(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_df: int = 1,
) -> DataFrame:
    """CCNet-style corpus-GLOBAL duplicate-line removal (Wenzek et al.
    1911.00359 §3.1 dedup every paragraph by hash across shards): a
    line whose normalized form (lower + trim) appears in more than
    ``max_df`` distinct documents is boilerplate/chrome and is cut
    from every document. The corpus-wide complement of
    :func:`boilerplate_lines` (which is group-scoped): cookie banners
    and nav chrome repeat across the WHOLE crawl, not just within one
    domain.

    Scale shape: one line explode → per-line distinct-doc counts
    (state linear in DISTINCT lines, the token_distribution scale
    class) → equi-join back → order-preserving reassembly via
    array_sort over (pos, line) structs in ONE groupBy (no window).

    Returns ``(id, n_lines, n_kept, clean_text)``.
    """
    lines = docs.where(F.col(text_col).isNotNull()).select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), "\n", -1)).alias("pos", "line"),
    ).withColumn("key", F.lower(F.trim(F.col("line"))))
    line_df = lines.groupBy("key").agg(
        F.countDistinct(id_col).cast("long").alias("df")
    )
    tagged = lines.join(line_df, "key")
    return (
        tagged.groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_lines"),
            F.sum((F.col("df") <= max_df).cast("long")).cast("long").alias("n_kept"),
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(
                                F.col("df") <= max_df,
                                F.struct("pos", "line"),
                            )
                        )
                    ),
                    lambda st: st["line"],
                ),
                "\n",
            ).alias("clean_text"),
        )
    )


def global_line_dedup_oracle_sql(
    max_df: int = 1,
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> str:
    """DuckDB twin of :func:`global_line_dedup` — same normalization,
    same order-preserving reassembly."""
    return f"""
    WITH lines AS (
      SELECT {id_col}, i - 1 AS pos, parts[i] AS ln,
             lower(trim(parts[i])) AS key
      FROM (
        SELECT {id_col},
               str_split({text_col}, chr(10)) AS parts,
               unnest(generate_series(1, len(str_split({text_col}, chr(10))))) AS i
        FROM {table} WHERE {text_col} IS NOT NULL
      )
    ), line_df AS (
      SELECT key, CAST(count(DISTINCT {id_col}) AS BIGINT) AS df
      FROM lines GROUP BY key
    ), tagged AS (
      SELECT l.*, d.df FROM lines l JOIN line_df d USING (key)
    )
    SELECT {id_col},
           CAST(count(*) AS BIGINT) AS n_lines,
           CAST(SUM(CASE WHEN df <= {max_df} THEN 1 ELSE 0 END) AS BIGINT)
             AS n_kept,
           COALESCE(string_agg(CASE WHEN df <= {max_df} THEN ln END, chr(10)
                               ORDER BY pos), '') AS clean_text
    FROM tagged GROUP BY {id_col}
    """


def stitch_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
) -> DataFrame:
    """Pagination-stitch detection: document A's LAST ``k`` tokens
    equal document B's FIRST ``k`` tokens — the signature of one
    logical page split across crawl records (pagination, load-more
    chunks, shard boundaries). Stitched fragments inflate document
    counts and truncate contexts; this pair list feeds either a
    concatenating repair or the dedup ladder.

    One scan computes each doc's head/tail k-gram; candidates come
    from a plain equi-join on the boundary gram (md5-keyed — moves
    16 bytes per doc, never text). Docs with fewer than ``k`` tokens
    are excluded (no self-pairs). Returns
    ``(doc_a, doc_b, boundary_gram)``.
    """
    toks = tokenize_ws(F.col(text_col))
    base = docs.where(F.col(text_col).isNotNull()).select(
        F.col(id_col), toks.alias("t")
    ).where(F.size("t") >= k)
    head = F.array_join(F.slice(F.col("t"), 1, k), " ")
    tail = F.array_join(F.slice(F.col("t"), -k, k), " ")
    heads = base.select(F.col(id_col).alias("doc_b"), head.alias("g"))
    tails = base.select(F.col(id_col).alias("doc_a"), tail.alias("g"))
    return (
        tails.join(heads, "g")
        .where(F.col("doc_a") != F.col("doc_b"))
        .select("doc_a", "doc_b", F.col("g").alias("boundary_gram"))
    )


def stitch_pairs_oracle_sql(
    k: int = 3,
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> str:
    """DuckDB twin of :func:`stitch_pairs`."""
    return f"""
    WITH base AS (
      SELECT {id_col},
             list_transform(list_filter(
               regexp_split_to_array(lower({text_col}), '\\s+'), y -> y <> ''),
               x -> x) AS t
      FROM {table} WHERE {text_col} IS NOT NULL
    ), hk AS (
      SELECT {id_col},
             array_to_string(t[1:{k}], ' ') AS head_g,
             array_to_string(t[len(t) - {k - 1}:len(t)], ' ') AS tail_g
      FROM base WHERE len(t) >= {k}
    )
    SELECT a.{id_col} AS doc_a, b.{id_col} AS doc_b,
           a.tail_g AS boundary_gram
    FROM hk a JOIN hk b ON a.tail_g = b.head_g AND a.{id_col} <> b.{id_col}
    """
