"""Text-analysis operators for training-data pipelines — all pure column
expressions (JVM-side, SQL-oracle-able): language ID, quality scoring, token
counting, document fingerprinting.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

# tiny per-language stopword marker sets (n-gram/stopword heuristic)
LANG_MARKERS = {
    "en": ["the", "and", "of", "to", "is"],
    "de": ["der", "die", "und", "nicht", "ist"],
    "fr": ["le", "la", "les", "et", "est"],
    "es": ["el", "los", "que", "es", "una"],
}

EN_STOPWORDS = [
    "the", "and", "of", "to", "a", "in", "is", "it", "that", "for",
    "on", "with", "as", "was", "at", "by", "an", "be", "this", "are",
]


def tokens(c: Column) -> Column:
    """Whitespace tokens of trimmed text (empty text → empty array)."""
    t = F.trim(c)
    return F.when(t == "", F.array().cast("array<string>")).otherwise(
        F.split(t, r"\s+")
    )


def token_count(c: Column) -> Column:
    return F.size(tokens(c))


def bind(col: Column, f) -> Column:
    """Evaluate ``col`` once per row and pass the materialized value to
    ``f`` (a Column → Column function). Wrapping in a one-element array
    and going through ``transform`` binds the value to a lambda variable.

    The rule: any array-valued expression named inside a HOF lambda
    (``transform``, ``filter``, ``aggregate``, ``zip_with``), or named
    more than once, is bound once. Spark never hoists a loop-invariant
    subexpression out of a lambda, so an unbound array is recomputed per
    element and per mention — measured 10× on the LM trigram explode and
    5× on word shingles at sf0.1 (lm.py doc_trigrams has the projection
    form of the same fix). On a warm 600-doc `dedup_ops` pass (median of
    ten seeds, local[2], 4 vCPUs), binding winnow's gram keys cut its key
    from 7.7 s to 0.8 s (every gram was re-hashed per window), and
    binding CDC's cut list cut `cdc_dup_stats` from 3.4 s to 2.3 s (the
    rolling-hash fold ran three times)."""
    return F.get(F.transform(F.array(col), f), 0)


def alnum_terms(c: Column) -> Column:
    """Lowercased alphanumeric terms — THE shared indexing tokenizer
    (split on non-alphanumerics, empties dropped). One definition so the
    Python side can never drift from the ``regexp_split_to_array(lower(
    text), '[^a-z0-9]+')`` replay the DuckDB oracles hard-code; used by
    retrieval postings, lexicon classification, and the BPE-ish proxy."""
    return F.filter(F.split(F.lower(c), r"[^a-z0-9]+"), lambda w: w != "")


def bpe_ish_token_count(c: Column) -> Column:
    """A BPE-ish proxy: count word pieces split on non-alphanumerics plus
    length/4 continuation pieces for long words (a cheap, deterministic
    stand-in for subword tokenizers — no tokenizer libs in this sandbox)."""
    words = alnum_terms(c)
    pieces = F.aggregate(
        words,
        F.lit(0),
        lambda acc, w: acc + F.lit(1) + (F.length(w) / F.lit(4)).cast("int"),
    )
    return pieces


def _count_matches(c: Column, pattern: str) -> Column:
    # number of regex matches = size of split minus 1 (on non-empty text)
    return F.size(F.split(c, pattern)) - F.lit(1)


def quality_features(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-doc quality features: length, token count, mean word length,
    punctuation ratio, stopword ratio, uppercase ratio."""
    c = F.col(text_col)
    toks = tokens(c)
    n_tok = F.size(toks)
    n_chars = F.length(c)
    stop_arr = F.array(*[F.lit(s) for s in EN_STOPWORDS])
    n_stop = F.size(
        F.filter(F.transform(toks, lambda w: F.lower(w)), lambda w: F.array_contains(stop_arr, w))
    )
    n_punct = _count_matches(c, r"[\.,;:!\?]")
    n_upper = _count_matches(c, r"[A-Z]")
    return df.select(
        "*",
        n_chars.alias("q_n_chars"),
        n_tok.alias("q_n_tokens"),
        F.when(n_tok > 0, (n_chars - n_tok + 1).cast("double") / n_tok)
        .otherwise(F.lit(0.0))
        .alias("q_mean_word_len"),
        F.when(n_chars > 0, n_punct.cast("double") / n_chars)
        .otherwise(F.lit(0.0))
        .alias("q_punct_ratio"),
        F.when(n_tok > 0, n_stop.cast("double") / n_tok)
        .otherwise(F.lit(0.0))
        .alias("q_stopword_ratio"),
        F.when(n_chars > 0, n_upper.cast("double") / n_chars)
        .otherwise(F.lit(0.0))
        .alias("q_upper_ratio"),
    )


def quality_score(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Composite [0,1] quality score from the features (monotone, clamped):
    rewards stopword presence and moderate word length, penalizes extreme
    punctuation density and very short docs."""
    feats = quality_features(df, text_col)
    score = (
        F.least(F.col("q_n_tokens") / F.lit(100.0), F.lit(1.0)) * F.lit(0.3)
        + F.least(F.col("q_stopword_ratio") * F.lit(3.0), F.lit(1.0)) * F.lit(0.4)
        + F.when(
            (F.col("q_mean_word_len") >= 3) & (F.col("q_mean_word_len") <= 10),
            F.lit(1.0),
        )
        .otherwise(F.lit(0.0))
        * F.lit(0.2)
        + F.when(F.col("q_punct_ratio") <= 0.1, F.lit(1.0)).otherwise(F.lit(0.0))
        * F.lit(0.1)
    )
    return feats.withColumn("quality_score", F.round(score, 6))


def lang_id(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Stopword-marker language ID: argmax of per-language marker hits over
    the lowercased token set; 'und' (undetermined) when all score 0.
    Ties break by fixed language order en, de, fr, es."""
    toks = F.transform(tokens(F.col(text_col)), lambda w: F.lower(w))
    out = df
    for lang, markers in LANG_MARKERS.items():
        marker_arr = F.array(*[F.lit(m) for m in markers])
        out = out.withColumn(
            f"_s_{lang}",
            F.size(F.filter(toks, lambda w: F.array_contains(marker_arr, w))),
        )
    best = F.greatest(*[F.col(f"_s_{l}") for l in LANG_MARKERS])
    pred = F.lit("und")
    for lang in reversed(list(LANG_MARKERS)):  # earlier langs win ties
        pred = F.when(
            (F.col(f"_s_{lang}") == best) & (best > 0), F.lit(lang)
        ).otherwise(pred)
    return out.withColumn("pred_lang", pred).drop(
        *[f"_s_{l}" for l in LANG_MARKERS]
    )


def fingerprint(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Content fingerprint: md5 over whitespace-normalized lowercased text
    (stable across both engines; the rolling-hash variant lives in
    dedup.simhash_signatures)."""
    norm = F.regexp_replace(F.lower(F.trim(F.col(text_col))), r"\s+", " ")
    return df.withColumn("fingerprint", F.md5(norm))


#: PII scrub rules applied in order: (name, RE2-compatible pattern — the
#: subset Java regex and DuckDB agree on: no lookaround, no backrefs —
#: replacement token). Email first so phone-like digit runs inside an
#: address are consumed by the email rule.
PII_PATTERNS = [
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ssn", r"\b\d{3}-\d{2}-\d{4}\b", "<ID>"),
    ("phone", r"\b\d{3}[-. ]\d{3}[-. ]\d{4}\b", "<PHONE>"),
]


def redact_pii(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Rule-based PII scrubbing — the redaction pass of a training-data
    pipeline: emails, SSN-shaped ids, and phone-shaped digit runs replaced
    by typed placeholder tokens, with a per-type match count. A chain of
    JVM ``regexp_replace``/``regexp_extract_all`` passes — no Python, no
    shuffle; the patterns are RE2-compatible so the DuckDB oracle runs
    them verbatim. Output: (id, n_email, n_ssn, n_phone, clean_text)."""
    counts = [
        F.size(
            F.regexp_extract_all(F.col(text_col), F.lit(pat), F.lit(0))
        ).alias(f"n_{name}")
        for name, pat, _ in PII_PATTERNS
    ]
    clean = F.col(text_col)
    for _, pat, repl in PII_PATTERNS:
        clean = F.regexp_replace(clean, pat, repl)
    return df.select(id_col, *counts, clean.alias("clean_text"))


def word_shingles(c: Column, n: int) -> Column:
    """Distinct word n-grams of ``c`` (same slice semantics as the
    n-gram Jaccard operators: a doc shorter than ``n`` tokens yields its
    whole-token shingle). The token array is bound once per row — the
    slicing lambda must not re-split (5× at sf0.1, see :func:`bind`)."""

    def body(toks: Column) -> Column:
        idx = F.sequence(F.lit(0), F.greatest(F.size(toks) - n, F.lit(0)))
        return F.array_distinct(
            F.transform(idx, lambda i: F.array_join(F.slice(toks, i + 1, n), " "))
        )

    return bind(F.split(F.trim(c), r"\s+"), body)


def ngram_contamination(
    docs: DataFrame,
    probes: DataFrame,
    n: int = 5,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Benchmark-decontamination pass: flag corpus documents sharing any
    word ``n``-gram with a probe corpus (the held-out benchmark), with the
    count of distinct overlapping n-grams. The probe side is tiny at
    production scale (benchmarks vs a 100 TB corpus) so its distinct
    shingle set broadcasts; the corpus side explodes its distinct
    shingles once and the overlap is one broadcast-hash join + grouped
    count — the corpus never shuffles on a text key.
    Output: (id, n_overlap), flagged docs only."""
    d = docs.select(
        id_col, F.explode(word_shingles(F.col(text_col), n)).alias("g")
    )
    p = probes.select(
        F.explode(word_shingles(F.col(text_col), n)).alias("g")
    ).distinct()
    return (
        d.join(F.broadcast(p), "g")
        .groupBy(id_col)
        .agg(F.countDistinct("g").alias("n_overlap"))
    )


def repetition_stats(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Gopher-style repetition metrics per document — the repetition
    leg of training-data quality filtering (boilerplate, keyword stuffing,
    degenerate generations):

    * ``top_word_frac``   — occurrences of the most frequent token / tokens
    * ``top_bigram_frac`` — occurrences of the most frequent word bigram /
      bigram positions
    * ``dup_bigram_frac`` — fraction of bigram positions whose bigram
      occurs more than once

    One tagged explode (token grams and bigram grams in the same array) →
    one (id, kind, gram) groupBy with map-side partial aggregation → one
    per-doc rollup: a single shuffle keyed by document, so at 100 TB the
    plan is explode-amplified scan + one exchange, no self-joins. Docs
    with no tokens keep a row (zero counts, 0.0 fractions) via the
    left join back to the id spine. All fractions round(…, 6) with the
    same HALF_UP decimal rounding DuckDB's ``round`` applies, so the
    operator is exactly SQL-oracle-able."""
    # the token array is bound once per row (see bind): the bigram lambda
    # indexes into it twice per position and must not re-split
    def _grams_of(toks: Column) -> Column:
        n = F.size(toks)
        words = F.transform(
            toks, lambda w: F.struct(F.lit("w").alias("kind"), w.alias("g"))
        )
        bigrams = F.when(
            n >= 2,
            F.transform(
                F.sequence(F.lit(1), n - 1),
                lambda i: F.struct(
                    F.lit("b").alias("kind"),
                    F.concat_ws(
                        " ", F.element_at(toks, i), F.element_at(toks, i + 1)
                    ).alias("g"),
                ),
            ),
        ).otherwise(F.array().cast("array<struct<kind:string,g:string>>"))
        return F.concat(words, bigrams)

    grams = df.select(
        id_col,
        F.explode(bind(tokens(F.col(text_col)), _grams_of)).alias("gram"),
    ).select(id_col, F.col("gram.kind").alias("kind"), F.col("gram.g").alias("g"))
    counts = grams.groupBy(id_col, "kind", "g").agg(F.count(F.lit(1)).alias("c"))
    w = F.col("kind") == "w"
    b = F.col("kind") == "b"
    per_doc = counts.groupBy(id_col).agg(
        F.sum(F.when(w, F.col("c")).otherwise(0)).alias("n_tokens"),
        F.max(F.when(w, F.col("c"))).alias("_top_w"),
        F.sum(F.when(b, F.col("c")).otherwise(0)).alias("_n_bg"),
        F.max(F.when(b, F.col("c"))).alias("_top_bg"),
        F.sum(F.when(b & (F.col("c") > 1), F.col("c")).otherwise(0)).alias("_dup_bg"),
    )

    def frac(num, den):
        return F.when(
            den > 0, F.round(num.cast("double") / den, 6)
        ).otherwise(F.lit(0.0))

    return (
        df.select(id_col)
        .join(per_doc, id_col, "left")
        .select(
            id_col,
            F.coalesce(F.col("n_tokens"), F.lit(0)).alias("n_tokens"),
            frac(F.coalesce(F.col("_top_w"), F.lit(0)), F.col("n_tokens")).alias(
                "top_word_frac"
            ),
            frac(F.coalesce(F.col("_top_bg"), F.lit(0)), F.col("_n_bg")).alias(
                "top_bigram_frac"
            ),
            frac(F.col("_dup_bg"), F.col("_n_bg")).alias("dup_bigram_frac"),
        )
    )


def repetition_filter(
    df: DataFrame,
    max_top_word_frac: float = 0.2,
    max_dup_bigram_frac: float = 0.6,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Keep documents under the Gopher-style repetition ceilings — the
    composable gate form of ``repetition_stats`` (broadcast-free: the
    stats join back on the id spine, one shuffle total)."""
    stats = repetition_stats(df, text_col, id_col)
    kept = stats.filter(
        (F.col("top_word_frac") <= max_top_word_frac)
        & (F.col("dup_bigram_frac") <= max_dup_bigram_frac)
    ).select(id_col)
    return df.join(kept, id_col)


def lexicon_classify(
    df: DataFrame,
    lexicon: "dict[str, dict[str, int]]",
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Broadcast-lexicon topic classification — the minimal form of
    model inference at corpus scale.

    ``lexicon`` maps class → {term: integer weight}. Every document's
    lowercased alphanumeric terms join the (tiny, broadcast) lexicon;
    per-class scores are exact BIGINT sums of weight × term-frequency,
    and the label is the argmax (score desc, class asc — deterministic
    ties). Docs matching no lexicon term get label ``'none'``, score 0.

    Returns (id, label, score). The corpus never shuffles on a text
    key: one explode, one broadcast join, one id-keyed aggregation —
    the same plan a learned linear classifier over hashed features
    would use, with the weights table swapped in.
    """
    import pandas as pd

    rows = [
        {"term": t, "cls": c, "weight": w}
        for c, terms in sorted(lexicon.items())
        for t, w in sorted(terms.items())
    ]
    lex = df.sparkSession.createDataFrame(
        pd.DataFrame(rows, columns=["term", "cls", "weight"])
    )
    terms = df.select(
        F.col(id_col),
        F.explode(alnum_terms(F.col(text_col))).alias("term"),
    )
    scores = (
        terms.join(F.broadcast(lex), "term")
        .groupBy(id_col, "cls")
        .agg(F.sum("weight").alias("cls_score"))
    )
    w = Window.partitionBy(id_col).orderBy(F.col("cls_score").desc(), F.col("cls"))
    best = (
        scores.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select(id_col, "cls", "cls_score")
    )
    return df.select(id_col).join(best, id_col, "left").select(
        id_col,
        F.coalesce(F.col("cls"), F.lit("none")).alias("label"),
        F.coalesce(F.col("cls_score"), F.lit(0)).cast("long").alias("score"),
    )


def bloom_gram_positions(g: Column, m_bits: int, k: int) -> Column:
    """The ``k`` Bloom bit positions of gram ``g`` — double hashing
    ``pos_j = (h1 + j*h2) mod m`` (Kirsch-Mitzenmacher) over two
    independent 60-bit md5 halves, ``h2`` forced odd. All arithmetic fits
    int64 (h1 < 2^60, k*h2 < 2^62) and replays exactly in DuckDB
    (``CAST(concat('0x', substr(md5(g), …, 15)) AS BIGINT)``), unlike the
    blake2b pair the driver-side frontier filters use (bloom.py:31)."""
    h = F.md5(g.cast("string"))
    h1 = F.conv(F.substring(h, 1, 15), 16, 10).cast("long")
    h2 = F.conv(F.substring(h, 16, 15), 16, 10).cast("long").bitwiseOR(F.lit(1))
    return F.array(*[(h1 + F.lit(j) * h2) % m_bits for j in range(k)])


def bloom_decontaminate(
    docs: DataFrame,
    probes: DataFrame,
    n: int = 4,
    m_bits: int = 2**18,
    k: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Bloom-filter benchmark decontamination — the constant-memory scale
    path of :func:`ngram_contamination`. The probe corpus's distinct word
    ``n``-grams populate an ``m_bits``-bit Bloom filter (built as a
    relational set of DISTINCT bit positions — the dense bitmap is an
    encoding detail); a corpus gram is *maybe contaminated* iff every one
    of its ``k`` distinct positions is set. Output: (doc_id, n_maybe) for
    docs with at least one maybe-gram.

    Why Bloom here: the exact join needs the probe gram SET (strings)
    broadcast; at a 10^5-document benchmark suite that is GBs of strings,
    while the filter is ``m_bits/8`` bytes regardless. False positives are
    the documented price (rate ~ fill_ratio^k) and only ever OVER-flag —
    safe for decontamination. Deterministic md5 double-hashing makes even
    the false positives engine-invariant, so the DuckDB oracle matches
    bit-for-bit.

    Plan: the probe side's distinct bit positions — bounded by
    ``m_bits``, NOT by the probe corpus — come to the driver once and
    pack into an ``m_bits/64``-word int64 bitmap that rides the plan as
    an array LITERAL (2^18 bits = 32 KB: the whole point of the Bloom
    encoding is that this is constant). The corpus side is then one scan:
    distinct grams per doc explode ONCE, each gram's k positions probe
    the literal bitmap with a ``forall``/``bit_get`` HOF entirely inside
    codegen, and the only shuffle anywhere is the final per-doc count
    partial-agg. No position explode (the former plan tripled corpus
    rows), no broadcast join, no (doc, gram) exchange. (Round-3 plan
    audit flagged those; warm-measured 5.4 s → ~3 s at sf0.1/local[32].)
    """
    pos_rows = (
        probes.select(F.explode(word_shingles(F.col(text_col), n)).alias("g"))
        .distinct()
        .select(
            F.explode(
                F.array_distinct(bloom_gram_positions(F.col("g"), m_bits, k))
            ).alias("pos")
        )
        .distinct()
        .collect()  # ≤ m_bits rows of int — the constant-size filter state
    )
    import numpy as np

    words = np.zeros((m_bits + 63) // 64, dtype=np.uint64)
    for r in pos_rows:
        p = int(r["pos"])
        words[p >> 6] |= np.uint64(1) << np.uint64(p & 63)
    bitmap = F.lit([int(x) for x in words.astype(np.int64)])

    cg = docs.select(
        F.col(id_col),
        F.explode(
            F.array_distinct(word_shingles(F.col(text_col), n))
        ).alias("g"),
    )
    maybe = F.forall(
        F.array_distinct(bloom_gram_positions(F.col("g"), m_bits, k)),
        lambda p: F.bit_get(
            F.element_at(bitmap, (p / 64).cast("int") + 1), (p % 64).cast("int")
        )
        == 1,
    )
    return (
        cg.filter(maybe)
        .groupBy(id_col)
        .agg(F.count("*").alias("n_maybe"))
    )


def vocab_coverage(
    df: DataFrame,
    vocab_size: int = 500,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Corpus-frequency vocabulary + per-document out-of-vocabulary rate —
    the coverage diagnostic run before committing a tokenizer/vocab to a
    training corpus (high-OOV docs are either foreign-language, noise, or
    evidence the vocab is too small).

    The vocabulary is the ``vocab_size`` most frequent :func:`alnum_terms`
    across the corpus (ties broken lexicographically — deterministic both
    engines). Per doc: (n_terms, n_oov, oov_rate) over TERM POSITIONS
    (not distinct terms); docs with no terms yield no row.

    Plan: one explode + term-count shuffle builds the vocab, which is
    driver-bounded (``LIMIT vocab_size`` → TakeOrderedAndProject, never
    the term table) and broadcast back; the corpus probe is a broadcast
    LEFT join + one per-doc agg. The corpus never shuffles on term text
    twice.
    """
    terms = df.select(
        F.col(id_col), F.explode(alnum_terms(F.col(text_col))).alias("term")
    )
    vocab = (
        terms.groupBy("term")
        .agg(F.count("*").alias("_tf"))
        .orderBy(F.col("_tf").desc(), "term")
        .limit(vocab_size)
        .select("term", F.lit(True).alias("_inv"))
    )
    return (
        terms.join(F.broadcast(vocab), "term", "left")
        .groupBy(id_col)
        .agg(
            F.count("*").alias("n_terms"),
            F.sum(F.when(F.col("_inv").isNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_oov"),
        )
        .withColumn("oov_rate", F.col("n_oov") / F.col("n_terms"))
    )


def bpe_pair_counts(
    df: DataFrame, top_k: int = 20, text_col: str = "text"
) -> DataFrame:
    """One iteration of BPE tokenizer training, distributed: count every
    adjacent symbol pair across the corpus weighted by word frequency and
    return the ``top_k`` merge candidates — (pair, n), count desc / pair
    asc. (Full BPE repeats this with the winning pair merged; the pair
    COUNT is the distributed-heavy step, the merge itself touches only
    the word table.)

    Plan: the corpus collapses to its word-frequency table first (one
    term shuffle — at 100 TB the distinct-word table is ~10^8 rows vs
    10^12 term positions, so pair explosion happens AFTER the collapse,
    on words not positions), then char pairs explode via transform over
    the word column with frequency-weighted partial-agg sums. The final
    top-k is driver-bounded (TakeOrderedAndProject).
    """
    words = (
        df.select(F.explode(alnum_terms(F.col(text_col))).alias("w"))
        .groupBy("w")
        .agg(F.count("*").alias("freq"))
        .filter(F.length("w") >= 2)
    )
    pairs = words.select(
        "freq",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.length("w") - 1),
                lambda i: F.col("w").substr(i, F.lit(2)),
            )
        ).alias("pair"),
    )
    return (
        pairs.groupBy("pair")
        .agg(F.sum("freq").alias("n"))
        .orderBy(F.col("n").desc(), "pair")
        .limit(top_k)
    )


def _bpe_pairs_of(syms_col: str = "syms") -> Column:
    """Adjacent symbol pairs of a symbol-array column, each rendered as
    the classic merges.txt ``'a b'`` string. Symbols are alnum-only
    (alnum_terms), so the space separator is unambiguous."""
    syms = F.col(syms_col)
    return F.when(
        F.size(syms) >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size(syms) - 1),
            lambda i: F.concat(
                F.element_at(syms, i), F.lit(" "), F.element_at(syms, i + 1)
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))


def bpe_apply_merge(syms: Column, a: str, b: str) -> Column:
    """Greedy left-to-right application of one BPE merge rule (a, b) →
    ``a+b`` over a symbol array — pure JVM ``aggregate`` HOF, no Python.

    The fold state is a single string ``out ~ carry`` (out = '|'-joined
    merged symbols, carry = the pending symbol; both separators are safe
    because symbols are alnum-only). A merged symbol is atomic for the
    rest of the pass — standard BPE: 'aaaa' under (a,a) → [aa, aa], and
    'aaa' → [aa, a]. The SAME varchar-encoded fold replays in DuckDB via
    ``list_reduce``, which is what makes the trainer oracle-exact: a
    struct accumulator would be cleaner here but has no DuckDB twin."""
    A, B, AB = F.lit(a), F.lit(b), F.lit(a + b)

    def step(acc, x):
        out = F.substring_index(acc, "~", 1)
        carry = F.substring_index(acc, "~", -1)
        j_ab = F.when(out == "", AB).otherwise(F.concat(out, F.lit("|"), AB))
        j_carry = F.when(out == "", carry).otherwise(
            F.concat(out, F.lit("|"), carry)
        )
        return (
            F.when(carry == "", F.concat(out, F.lit("~"), x))
            .when((carry == A) & (x == B), F.concat(j_ab, F.lit("~")))
            .otherwise(F.concat(j_carry, F.lit("~"), x))
        )

    def finish(acc):
        out = F.substring_index(acc, "~", 1)
        carry = F.substring_index(acc, "~", -1)
        full = F.when(carry == "", out).otherwise(
            F.when(out == "", carry).otherwise(F.concat(out, F.lit("|"), carry))
        )
        return F.split(full, r"\|")

    return F.aggregate(syms, F.lit("~"), step, finish)


def bpe_train(
    df: DataFrame, n_merges: int = 8, text_col: str = "text"
) -> DataFrame:
    """FULL BPE tokenizer training loop, distributed: ``n_merges`` rounds
    of (count adjacent symbol pairs weighted by word frequency → take the
    argmax pair, ties broken count-desc then pair-asc → greedily merge it
    into every word) over the corpus word table. Returns the learned
    merge table (round INT, pair 'a b', n BIGINT) — the merges.txt a real
    tokenizer trainer emits.

    Scale shape (the kmeans_centroids pattern): the corpus collapses to
    its word-frequency table ONCE (one term shuffle; at 100 TB that is
    ~10^8 distinct words vs 10^12 positions), each round is then one
    vocabulary-sized pair count whose 1-row argmax is the only thing the
    driver ever holds, and the merge application is a map-only JVM fold
    over the word table. Per-round state is localCheckpoint'ed so round
    r+1 reads materialized symbols instead of replaying r folds; blocks
    free with the loop (ContextCleaner), nothing pins the CacheManager.
    Integer counts + deterministic ties ⇒ the whole trainer unrolls into
    exact SQL (see the ``bpe_train`` oracle)."""
    chars = F.transform(
        F.sequence(F.lit(1), F.length("w")),
        lambda i: F.col("w").substr(i, F.lit(1)),
    )
    words = (
        df.select(F.explode(alnum_terms(F.col(text_col))).alias("w"))
        .groupBy("w")
        .agg(F.count("*").alias("freq"))
        .filter(F.length("w") >= 2)
        .select("freq", chars.alias("syms"))
        .localCheckpoint(eager=True)
    )
    merges = []
    for r in range(n_merges):
        top = (
            words.select("freq", F.explode(_bpe_pairs_of()).alias("pair"))
            .groupBy("pair")
            .agg(F.sum("freq").alias("n"))
            .orderBy(F.col("n").desc(), "pair")
            .limit(1)
            .collect()
        )
        if not top:
            break
        pair, n = top[0]["pair"], top[0]["n"]
        a, b = pair.split(" ")
        merges.append((r, pair, int(n)))
        words = words.select(
            "freq", bpe_apply_merge(F.col("syms"), a, b).alias("syms")
        ).localCheckpoint(eager=True)
    import pandas as pd

    out = pd.DataFrame(merges, columns=["round", "pair", "n"])
    out["round"] = out["round"].astype("int32")
    return df.sparkSession.createDataFrame(out)


def bpe_encode(
    df: DataFrame,
    merges: list,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Apply a learned BPE merge list (``bpe_train`` output pairs, in
    training order) to the corpus: every distinct word folds through the
    merges once, then documents join their per-word piece counts back.
    Output: (doc_id, n_words, n_pieces) — the real tokenizer-apply
    statistics (n_pieces is what a token-budgeted pipeline packs on).

    Scale shape: the fold runs over the DISTINCT word table (10^8 rows
    at 100 TB, not 10^12 positions) — one distinct shuffle, m chained
    JVM aggregate folds, then a word-keyed join back to the exploded
    corpus (the same single term shuffle the postings build pays; the
    vocabulary-sized piece table is NOT broadcast — at web scale it
    doesn't fit) and a per-doc partial-agg. Unlike training, encoding
    covers every word including single-char ones (1 piece, no merge
    applies)."""
    terms = alnum_terms(F.col(text_col))
    words = df.select(F.explode(terms).alias("w")).distinct()
    syms = F.transform(
        F.sequence(F.lit(1), F.length("w")),
        lambda i: F.col("w").substr(i, F.lit(1)),
    )
    for pair in merges:
        a, b = pair.split(" ")
        syms = bpe_apply_merge(syms, a, b)
    wp = words.select("w", F.size(syms).alias("_pieces"))
    exploded = df.select(F.col(id_col), F.explode(terms).alias("w"))
    return (
        exploded.join(wp, "w")
        .groupBy(id_col)
        .agg(
            F.count("*").alias("n_words"),
            F.sum("_pieces").alias("n_pieces"),
        )
    )


# Gopher rule-filter stop set (Rae et al. 2021, "Scaling Language Models:
# Methods, Analysis & Insights from Training Gopher", App. A1.1)
GOPHER_STOPWORDS = ["the", "be", "to", "of", "and", "that", "have", "with"]


def gopher_rules(
    df: DataFrame,
    text_col: str = "text",
    min_words: int = 50,
    max_words: int = 100_000,
) -> DataFrame:
    """Gopher-style rule-based quality filter (Rae et al. 2021 App.
    A1.1) — the published heuristic battery between dedup and LM
    filtering in a webtext pipeline: word-count bounds, mean word length
    in [3, 10], symbol-to-word ratio < 0.1 (``#``/ellipsis), < 90% of
    lines bullet-led, < 30% ellipsis-terminated, ≥ 80% of words
    containing an alphabetic character, and ≥ 2 distinct stop words.

    Every ratio test is CROSS-MULTIPLIED integer arithmetic (e.g. mean
    word length ∈ [3,10] as ``3·n_words ≤ word_chars ≤ 10·n_words``) —
    no floats anywhere, so the verdict is bit-identical across engines
    and partitionings. Pure column expressions over one tokens array and
    one lines array, each bound once per row (HOF re-evaluation trap,
    see :func:`bind`); zero shuffles — the filter fuses into the scan.

    Returns the input plus counters (n_words, word_chars, n_lines) and
    per-rule booleans ``r_*`` with the combined ``keep``.
    """
    c = F.col(text_col)
    with_arrays = df.withColumn("_toks", tokens(c)).withColumn(
        "_lines", F.split(c, r"\n")
    )
    toks = F.col("_toks")
    lines = F.col("_lines")
    n_words = F.size(toks).cast("long")
    word_chars = F.coalesce(
        F.aggregate(
            toks, F.lit(0).cast("long"), lambda acc, w: acc + F.length(w)
        ),
        F.lit(0).cast("long"),
    )
    n_alpha = F.size(F.filter(toks, lambda w: w.rlike("[A-Za-z]"))).cast("long")
    stop_arr = F.array(*[F.lit(s) for s in GOPHER_STOPWORDS])
    n_stop = F.size(
        F.array_intersect(F.transform(toks, lambda w: F.lower(w)), stop_arr)
    )
    n_lines = F.size(lines).cast("long")
    n_bullet = F.size(
        F.filter(lines, lambda l: l.rlike(r"^\s*[-*•]"))
    ).cast("long")
    n_ellipsis = F.size(
        F.filter(lines, lambda l: l.rlike(r"(\.\.\.|…)\s*$"))
    ).cast("long")
    n_symbols = (
        _count_matches(c, "#") + _count_matches(c, r"(\.\.\.|…)")
    ).cast("long")

    r_word_count = (n_words >= min_words) & (n_words <= max_words)
    r_mean_word_len = (word_chars >= 3 * n_words) & (word_chars <= 10 * n_words)
    r_symbol_ratio = n_symbols * 10 < n_words
    r_bullet = n_bullet * 10 < n_lines * 9
    r_ellipsis = n_ellipsis * 10 < n_lines * 3
    r_alpha = n_alpha * 10 >= n_words * 8
    r_stop = n_stop >= 2
    keep = (
        r_word_count
        & r_mean_word_len
        & r_symbol_ratio
        & r_bullet
        & r_ellipsis
        & r_alpha
        & r_stop
    )
    return (
        with_arrays.withColumn("n_words", n_words)
        .withColumn("word_chars", word_chars)
        .withColumn("n_lines", n_lines)
        .withColumn("r_word_count", r_word_count)
        .withColumn("r_mean_word_len", r_mean_word_len)
        .withColumn("r_symbol_ratio", r_symbol_ratio)
        .withColumn("r_bullet", r_bullet)
        .withColumn("r_ellipsis", r_ellipsis)
        .withColumn("r_alpha", r_alpha)
        .withColumn("r_stop", r_stop)
        .withColumn("keep", keep)
        .drop("_toks", "_lines")
    )


def line_lang_mix(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_mix_permille: int = 300,
) -> DataFrame:
    """Per-line language consistency — CCNet's mixed-language filter
    (Wenzek et al. 2020 drop pages whose lines disagree with the page
    language; scraped boilerplate, embedded widgets, and wrong-language
    quotes all surface as stray lines). The document language and every
    line language use the SAME `lang_id` marker argmax, so a line is
    "stray" exactly when the doc-grain and line-grain classifiers
    disagree — including lines too short to classify ('und'), which is
    the conservative CCNet reading.

    Output per doc with ≥1 non-empty line: (id, doc_lang, n_lines,
    n_lines_doclang, mix_permille, keep) where ``mix_permille`` is the
    stray-line share in integer permille and ``keep`` is the
    cross-multiplied ``mix_permille <= max_mix_permille`` test —
    engine-exact, no float. Docs with no non-empty line drop (nothing
    to classify; the length gates own that case).

    Plan: doc-grain lang_id fuses into the scan, lines explode as a
    Generate, line-grain lang_id is more codegen over the lambda-bound
    line, then ONE partial-agged groupBy on (id, doc_lang) — a single
    shuffle whose width is docs, not lines.
    """
    doc = lang_id(df, text_col).withColumnRenamed("pred_lang", "doc_lang")
    lines = F.filter(
        F.split(F.col(text_col), "\n"), lambda l: F.trim(l) != ""
    )
    exploded = doc.select(
        id_col, "doc_lang", F.explode(lines).alias("_line")
    )
    scored = lang_id(exploded, "_line")
    agg = scored.groupBy(id_col, "doc_lang").agg(
        F.count("*").alias("n_lines"),
        F.count_if(F.col("pred_lang") == F.col("doc_lang")).alias(
            "n_lines_doclang"
        ),
    )
    return agg.selectExpr(
        "*",
        "(n_lines - n_lines_doclang) * 1000 div n_lines AS mix_permille",
    ).withColumn(
        "keep",
        (F.col("n_lines") - F.col("n_lines_doclang")) * 1000
        <= F.lit(max_mix_permille) * F.col("n_lines"),
    )


def winnow_fingerprints(
    df: DataFrame,
    k: int = 3,
    window: int = 4,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Winnowing fingerprint selection (Schleimer, Wilkerson & Aiken,
    SIGMOD 2003 — the MOSS algorithm): hash every word ``k``-gram, slide
    a ``window`` over consecutive gram hashes, and keep each window's
    MINIMUM (ties broken by the RIGHTMOST position — "robust
    winnowing"). The selected set carries the paper's guarantee: any
    shared token run of ≥ ``window + k - 1`` tokens between two
    documents yields at least one shared selected fingerprint, at an
    expected density of only 2/(window+1) — the local-sampling
    alternative to `dedup.simhash_*`'s global signatures and
    `bloom_gram_positions`' exhaustive grams.

    Exactness trick: gram hash (40-bit md5 prefix) and reversed position
    pack into one BIGINT key ``h·2^20 + (2^20-1-pos)``, so a single
    ``array_min`` per window IS the rightmost-min rule — no tuple
    comparator, and DuckDB replays it verbatim. Positions must fit 20
    bits: a doc with 2^20 or more grams raises (naming `chunk_docs`,
    which splits long docs first) before any gram is hashed, rather
    than silently corrupting, since the packed key stays monotone only
    below 2^20.

    Docs with 1..k-1 tokens fingerprint their whole token array (the
    `word_shingles` convention); empty docs emit nothing.

    Returns distinct ``(id, pos, gram_hash)`` selected fingerprints
    (pos 1-based gram position).

    Scale shape: everything fuses into the scan — split, gram, hash,
    window-min and DISTINCT-per-doc all happen inside one projection on
    the doc row (array_distinct before the explode keeps the Generate
    output at the paper's 2/(w+1) density); the only exchange is
    whatever the consumer does with the fingerprints (typically a
    gram_hash-keyed join, at ~2n/w rows per doc instead of n). The
    token array and the gram keys are each `bind`-ed, so every gram is
    hashed once — O(n·window) per doc, not one full re-hash per window.
    """

    def body(toks: Column) -> Column:
        n_grams = F.greatest(F.size(toks) - k + 1, F.lit(1))
        grams = F.transform(
            F.sequence(F.lit(1), n_grams),
            lambda j: F.array_join(F.slice(toks, j, k), " "),
        )
        keys = F.zip_with(
            grams,
            F.sequence(F.lit(1), n_grams),
            lambda g, j: F.conv(F.substring(F.md5(g), 1, 10), 16, 10).cast(
                "long"
            )
            * F.lit(2**20)
            + (F.lit(2**20 - 1) - j),
        )

        def select(ks: Column) -> Column:
            starts = F.sequence(
                F.lit(1), F.greatest(F.size(ks) - window + 1, F.lit(1))
            )
            return F.array_distinct(
                F.transform(starts, lambda i: F.array_min(F.slice(ks, i, window)))
            )

        # checked before any gram is hashed: past 2^20 grams the packed
        # key's position field overflows into the hash
        guarded = F.when(
            n_grams >= F.lit(2**20),
            F.raise_error(
                F.lit(
                    f"winnow_fingerprints: a document has 2^20 or more "
                    f"{k}-grams, past the packed key's 20-bit position "
                    f"field; split long documents with chunk_docs first"
                )
            ),
        ).otherwise(bind(keys, select))
        return F.when(F.size(toks) > 0, guarded).otherwise(
            F.array().cast("array<long>")
        )

    sel = df.select(
        F.col(id_col),
        F.explode(bind(tokens(F.col(text_col)), body)).alias("_key"),
    )
    return sel.select(
        id_col,
        (F.lit(2**20 - 1) - F.col("_key") % F.lit(2**20)).alias("pos"),
        F.expr("_key div 1048576").alias("gram_hash"),
    )


#: Unicode script ranges for the census — literal character ranges so the
#: same pattern string runs in Java regex (Spark) and RE2 (DuckDB).
SCRIPT_RANGES = [
    ("latin", "A-Za-zÀ-ɏ"),
    ("cyrillic", "Ѐ-ӿ"),
    ("greek", "Ͱ-Ͽ"),
    ("arabic", "؀-ۿ"),
    ("hebrew", "֐-׿"),
    ("cjk", "぀-ヿ一-鿿"),
    ("hangul", "가-힯"),
]


def script_mix(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Unicode script census — the writing-system signal a multilingual
    web pipeline gates on BEFORE statistical lang-ID (CLD2/fastText both
    shortcut on script: a page that is 95% Han needs no trigram model to
    rule out French, and mixed-script pages — Latin boilerplate around a
    CJK body, or Cyrillic spam injected into English pages — are
    exactly what `lang_id`'s single-label output cannot express).

    Per doc: character count per script (7 major ranges), total lettered
    chars, the DOMINANT script (ties break in SCRIPT_RANGES order —
    Latin first, the web's prior), and ``purity_permille`` = dominant
    share of lettered chars. Docs with no lettered chars get dominant
    'none', purity 0.

    Counting is ``length(text) - length(regexp_replace(text, '[range]',
    ''))`` — pure JVM regex fused into the scan, zero shuffle, and the
    identical pattern replays in DuckDB's RE2 (literal character ranges,
    no escapes that differ between engines).
    """
    t = F.col(text_col)
    counts = {
        name: (
            F.length(t) - F.length(F.regexp_replace(t, f"[{rng}]", ""))
        ).cast("long")
        for name, rng in SCRIPT_RANGES
    }
    sel = [counts[name].alias(f"n_{name}") for name, _ in SCRIPT_RANGES]
    out = df.select(F.col(id_col), *sel)
    names = [name for name, _ in SCRIPT_RANGES]
    total = F.col(f"n_{names[0]}")
    for n in names[1:]:
        total = total + F.col(f"n_{n}")
    out = out.withColumn("n_letters", total.cast("long"))
    mx = F.greatest(*[F.col(f"n_{n}") for n in names])
    dom = F.when(F.col("n_letters") == 0, F.lit("none"))
    for n in names:
        dom = dom.when(F.col(f"n_{n}") == mx, F.lit(n))
    return out.select(
        id_col,
        *[f"n_{n}" for n in names],
        "n_letters",
        dom.alias("dominant_script"),
        F.when(F.col("n_letters") == 0, F.lit(0).cast("long"))
        .otherwise(F.expr(
            "1000 * greatest("
            + ", ".join(f"n_{n}" for n in names)
            + ") div n_letters"
        ))
        .alias("purity_permille"),
    )
