"""Integer-quantized character-trigram language-model quality filter.

CCNet-style corpus curation scores each document by the perplexity of a
small LM and drops the worst tail. A float log-prob sum over shuffled
rows is not order-invariant, so — like graph.pagerank — this filter is
built on integers end-to-end: per-trigram surprisal is the *bit length*
of ``total div count`` (an integer ≈ log2 of the inverse unigram-of-
trigrams probability, exact on both engines via ``length(bin(x)) - 1``),
and a document's score is the exact BIGINT sum of its trigram surprisals.
The keep/drop decision thresholds the milli-average ``(sum*1000) div
n_trigrams``. Quantizing log2 to integers costs <1 bit of resolution per
trigram — irrelevant for a tail filter — and buys bit-identical,
engine-independent results.

The model is trained on the corpus itself (self-perplexity, as CCNet
trains on the target distribution): trigram counts over the first
``prefix_chars`` lowercased characters of every document. The trigram
vocabulary is bounded (≤ charset³, in practice ~50k), so the
counts→documents join is a **broadcast** — the scale-correct plan: one
Arrow-free JVM pass to count, one map-side join to score, no shuffle of
the corpus at all beyond the fixed-size count aggregation.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

__all__ = [
    "doc_trigrams",
    "trigram_counts",
    "lm_surprisal",
    "contrastive_weights",
    "ccnet_buckets",
    "hashed_features",
    "perceptron_quality",
]


def _prefix(text_col: str, prefix_chars: int) -> Column:
    return F.lower(F.substring(F.col(text_col), 1, prefix_chars))


def doc_trigrams(
    df: DataFrame, id_col: str, text_col: str, prefix_chars: int = 256
) -> DataFrame:
    """(id, trigram) — one row per character trigram of the lowercased
    ``prefix_chars``-char prefix. Docs shorter than 3 chars emit nothing.

    The prefix is projected into a column BEFORE the higher-order
    transform: referencing the ``lower(substring(...))`` expression
    inside the lambda makes codegen re-evaluate it per array element
    (measured 10× slower at sf0.1 — 12.8 s vs 1.3 s for the same 1.06M
    trigrams)."""
    pre = df.select(
        F.col(id_col), _prefix(text_col, prefix_chars).alias("_s")
    ).filter(F.length("_s") >= 3)
    tris = F.transform(
        F.sequence(F.lit(1), F.length("_s") - 2),
        lambda i: F.substr(F.col("_s"), i, F.lit(3)),
    )
    return pre.select(F.col(id_col), F.explode(tris).alias("trigram"))


def trigram_counts(
    df: DataFrame, id_col: str, text_col: str, prefix_chars: int = 256
) -> DataFrame:
    """Corpus-wide trigram model: (trigram, cnt BIGINT). Bounded key
    space (charset³) — partial-aggregates map-side, output is tiny."""
    return (
        doc_trigrams(df, id_col, text_col, prefix_chars)
        .groupBy("trigram")
        .agg(F.count("*").alias("cnt"))
    )


def lm_surprisal(
    df: DataFrame,
    id_col: str,
    text_col: str,
    prefix_chars: int = 256,
    keep_below_milli: int = 9000,
) -> DataFrame:
    """Score every document against the corpus trigram model.

    Returns (id, n_trigrams BIGINT, total_surprisal BIGINT,
    avg_surprisal_milli BIGINT, keep BOOLEAN). ``avg_surprisal_milli`` is
    milli-bits of quantized surprisal per trigram; ``keep`` thresholds it
    (lower = more typical of the corpus). Every value is an exact integer.
    """
    counts = trigram_counts(df, id_col, text_col, prefix_chars)
    total = counts.agg(F.sum("cnt").alias("_total"))
    # int log2(total/cnt): bit_length(total div cnt) - 1, 0 when cnt==total
    model = counts.crossJoin(F.broadcast(total)).select(
        "trigram",
        (F.length(F.bin(F.expr("_total div cnt"))) - 1)
        .cast("long")
        .alias("surprisal"),
    )
    scored = (
        doc_trigrams(df, id_col, text_col, prefix_chars)
        .join(F.broadcast(model), "trigram")
        .groupBy(id_col)
        .agg(
            F.count("*").alias("n_trigrams"),
            F.sum("surprisal").alias("total_surprisal"),
        )
    )
    avg = F.expr("(total_surprisal * 1000) div n_trigrams")
    return scored.select(
        id_col,
        "n_trigrams",
        "total_surprisal",
        avg.alias("avg_surprisal_milli"),
        (avg < keep_below_milli).alias("keep"),
    )


def contrastive_weights(
    df: DataFrame,
    target: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    prefix_chars: int = 256,
    keep_above_milli: int = 0,
) -> DataFrame:
    """DSIR-style contrastive importance scores (cf. Xie et al., "Data
    Selection for Language Models via Importance Resampling"): each
    document is scored by ``log2 p_target(x) − log2 p_base(x)`` under
    two n-gram LMs — the base model trained on the whole corpus, the
    target model on the high-quality ``target`` subset. Documents that
    look more like the target than like the average of the corpus score
    positive and are kept for training.

    Same integer quantization as :func:`lm_surprisal`: per-trigram
    surprisal is the bit length of the integer probability ratio, and
    the score is reported as ``delta_surprisal = base − target`` (an
    exact BIGINT; positive = target-like). The keep decision avoids
    division entirely — ``delta*1000 > keep_above_milli * n_trigrams``
    — because truncating vs floor integer division differ on negative
    deltas across engines; cross-multiplication is exact on both.

    The target model is add-one smoothed over the BASE vocabulary
    (``(t_total + V) div (t_cnt + 1)``), so trigrams the target never
    saw get a finite worst-case surprisal instead of a null. ``target``
    must be drawn from ``df`` (a filter of it) — then every scored
    trigram exists in the base vocabulary by construction.

    Plan: two bounded count aggregations (map-side partials, ≤ charset³
    keys), one broadcast of the joined model, one groupBy(id) over the
    trigram explode — the corpus shuffles only its trigram→id pairs,
    exactly as in lm_surprisal; the second (target) count aggregation is
    over the filtered subset and adds no corpus-wide shuffle.
    """
    base = trigram_counts(df, id_col, text_col, prefix_chars)
    tgt = (
        trigram_counts(target, id_col, text_col, prefix_chars)
        .withColumnRenamed("cnt", "tcnt")
    )
    totals = base.agg(
        F.sum("cnt").alias("_btotal"), F.count("*").alias("_v")
    ).crossJoin(tgt.agg(F.coalesce(F.sum("tcnt"), F.lit(0)).alias("_ttotal")))
    model = (
        base.join(tgt, "trigram", "left")
        .crossJoin(F.broadcast(totals))
        .select(
            "trigram",
            (F.length(F.bin(F.expr("_btotal div cnt"))) - 1)
            .cast("long")
            .alias("s_base"),
            (
                F.length(
                    F.bin(F.expr("(_ttotal + _v) div (coalesce(tcnt, 0) + 1)"))
                )
                - 1
            )
            .cast("long")
            .alias("s_target"),
        )
    )
    scored = (
        doc_trigrams(df, id_col, text_col, prefix_chars)
        .join(F.broadcast(model), "trigram")
        .groupBy(id_col)
        .agg(
            F.count("*").alias("n_trigrams"),
            F.sum("s_base").alias("base_surprisal"),
            F.sum("s_target").alias("target_surprisal"),
        )
    )
    delta = F.col("base_surprisal") - F.col("target_surprisal")
    return scored.select(
        id_col,
        "n_trigrams",
        "base_surprisal",
        "target_surprisal",
        delta.alias("delta_surprisal"),
        (delta * 1000 > F.lit(keep_above_milli) * F.col("n_trigrams")).alias(
            "keep"
        ),
    )

def ccnet_buckets(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    prefix_chars: int = 256,
) -> DataFrame:
    """CCNet head/middle/tail perplexity bucketing (Wenzek et al. 2020,
    "CCNet: Extracting High Quality Monolingual Datasets from Web Crawl
    Data"): per *language*, rank documents by LM perplexity and cut the
    corpus into thirds — ``head`` (lowest perplexity, most fluent),
    ``middle``, ``tail``. Language comes from the stopword-marker
    classifier (:func:`edgar_spark.operators.text.lang_id`), perplexity
    from the integer trigram model (:func:`lm_surprisal`), so the whole
    decision is engine-exact.

    The tertile cut is computed on a **score histogram**, not on raw
    rows: ``groupBy(pred_lang, avg_surprisal_milli)`` collapses the
    corpus to ≤ langs × ~20k distinct milli-scores (partial-aggregated
    map-side), the cumulative window runs over that tiny table, and the
    resulting (lang, score) → bucket map broadcast-joins back. At 100 TB
    this is the only correct shape — a window over raw documents would
    sort whole per-language corpora; the histogram window sorts a few
    thousand rows. Ties (equal milli-score) share a bucket by
    construction, so the cut is deterministic without per-doc tiebreaks:
    a score value ``s`` lands in ``head`` when strictly fewer than n/3
    of the language's docs score below ``s``, in ``middle`` below 2n/3,
    else ``tail`` (exact integer cross-multiplication, no division).

    Returns (id, pred_lang, avg_surprisal_milli, ppl_bucket). Docs
    shorter than 3 chars emit no trigrams and are absent, as in
    :func:`lm_surprisal`.
    """
    from pyspark.sql import Window

    from edgar_spark.operators.text import lang_id

    scored = lm_surprisal(df, id_col, text_col, prefix_chars).select(
        id_col, "avg_surprisal_milli"
    )
    langs = lang_id(df.select(id_col, text_col), text_col).select(
        id_col, "pred_lang"
    )
    j = scored.join(langs, id_col)
    hist = j.groupBy("pred_lang", "avg_surprisal_milli").agg(
        F.count("*").alias("_c")
    )
    w_cum = (
        Window.partitionBy("pred_lang")
        .orderBy("avg_surprisal_milli")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_all = Window.partitionBy("pred_lang")
    cuts = hist.select(
        "pred_lang",
        "avg_surprisal_milli",
        (F.sum("_c").over(w_cum) - F.col("_c")).alias("_below"),
        F.sum("_c").over(w_all).alias("_n"),
    ).select(
        "pred_lang",
        "avg_surprisal_milli",
        F.when(F.col("_below") * 3 < F.col("_n"), F.lit("head"))
        .when(F.col("_below") * 3 < F.col("_n") * 2, F.lit("middle"))
        .otherwise(F.lit("tail"))
        .alias("ppl_bucket"),
    )
    return j.join(
        F.broadcast(cuts), ["pred_lang", "avg_surprisal_milli"]
    ).select(id_col, "pred_lang", "avg_surprisal_milli", "ppl_bucket")


def hashed_features(
    df: DataFrame,
    dim: int = 64,
    text_col: str = "text",
    id_col: str = "doc_id",
    label_col: str | None = None,
) -> DataFrame:
    """Hashed binary bag-of-words: distinct ``(id[, label], bucket)``
    rows where ``bucket = md5-60bit(lowercased token) mod dim`` — the
    feature-hashing trick (Weinberger et al. 2009) that gives a linear
    text model a FIXED-width feature space no vocabulary table can
    outgrow. Same md5→BIGINT idiom as text.bloom_gram_positions, so the
    DuckDB oracle replays the bucketing verbatim. Presence (0/1), not
    counts: binarized features keep every update integer-bounded and
    are the standard choice for perceptron/linear quality filters.

    Plan: split + explode + hash fuse into the scan; DISTINCT is one
    partial-agged exchange on (id, bucket) — the corpus text itself
    never shuffles.
    """
    cols = [id_col] + ([label_col] if label_col else [])
    tok = F.explode(
        F.split(F.trim(F.lower(F.col(text_col))), r"\s+")
    ).alias("_tok")
    bucket = (
        F.conv(F.substring(F.md5(F.col("_tok")), 1, 15), 16, 10).cast("long")
        % dim
    ).alias("bucket")
    return (
        df.select(*cols, tok)
        .filter(F.col("_tok") != "")
        .select(*cols, bucket)
        .distinct()
    )


def perceptron_quality(
    df: DataFrame,
    label_col: str = "label",
    dim: int = 64,
    rounds: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Trained model-based quality filter — the "quality classifier"
    stage of GPT-3/CCNet-style pipelines (score every crawl document by
    a linear model trained to separate a curated seed from the raw
    crawl), as a deterministic BATCH PERCEPTRON over hashed binary
    features, integer end-to-end (the lexicon/DSIR operators are fixed
    or generative models; this is the discriminatively TRAINED member
    of the family).

    ``label_col`` must be ±1 (the caller's seed split). Training runs
    ``rounds`` synchronous rounds: with weights ``w_t`` (all-zero
    start), every doc's margin is ``sum(w_t[bucket])`` over its feature
    buckets; docs with ``label*margin <= 0`` are misclassified and the
    batch update is ``w_{t+1}[j] = w_t[j] + sum(label)`` over
    misclassified docs carrying bucket j. All-integer (no learning-rate
    float), so every round — and therefore the whole trainer — replays
    bit-exactly in SQL with the rounds unrolled as CTEs.

    Scale shape (the distributed-GD layout): the hashed feature table is
    computed once and persisted for the training rounds; each round is ONE
    doc-grain aggregate (margins, partial-agged) plus ONE bucket-grain
    aggregate (updates) — the driver holds only the ``dim`` weight integers
    and re-enters them as an array literal, exactly how kmeans_centroids
    holds k×dim means.
    The corpus never collects; docs with no tokens never block training
    (margin 0 contributes no update) and surface in the output via the
    left join with margin 0, pred -1.

    Returns (id, label, margin, pred) for every input row.
    """
    feat = hashed_features(df, dim, text_col, id_col, label_col).persist()
    w = [0] * dim

    def margins(weights: list[int]) -> DataFrame:
        w_arr = F.array(*[F.lit(v) for v in weights])
        return feat.groupBy(id_col, label_col).agg(
            F.sum(F.element_at(w_arr, (F.col("bucket") + 1).cast("int")))
            .cast("long")
            .alias("margin")
        )

    try:
        for _ in range(rounds):
            mis = (
                margins(w)
                .filter(F.col(label_col) * F.col("margin") <= 0)
                .select(id_col)
            )
            deltas = (
                feat.join(mis, id_col)
                .groupBy("bucket")
                .agg(F.sum(label_col).cast("long").alias("dw"))
                .collect()
            )
            for r in deltas:
                w[r["bucket"]] += r["dw"]
    finally:
        # the cache serves only the training rounds; the returned plan is
        # lazy and recomputes the features when it runs
        feat.unpersist()

    scored = margins(w)
    return df.select(id_col, label_col).join(
        scored, [id_col, label_col], "left"
    ).select(
        id_col,
        label_col,
        F.coalesce(F.col("margin"), F.lit(0)).alias("margin"),
        F.when(F.coalesce(F.col("margin"), F.lit(0)) > 0, F.lit(1))
        .otherwise(F.lit(-1))
        .cast("long")
        .alias("pred"),
    )
