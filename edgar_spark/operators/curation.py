"""Corpus-curation operators for training-data pipelines: line-level
exact dedup (CCNet/RefinedWeb-style boilerplate removal), deterministic
budgeted corpus mixing, and fixed-window document chunking.

All three are pure DataFrame compositions (JVM column expressions +
keyed aggregations — no Python UDFs), so every operator here is exactly
SQL-oracle-able and whole-stage-codegen'd end to end.
"""

from __future__ import annotations

from typing import Dict, Optional

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from edgar_spark.operators.text import tokens


def line_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_docs: int = 2,
    delim: str = "\n",
) -> DataFrame:
    """Remove every line that occurs in ``min_docs`` or more *distinct*
    documents, preserving the order of surviving lines — the line-level
    exact-dedup pass web-corpus pipelines run before document-level
    near-dedup (navigation chrome, cookie banners, boilerplate headers
    repeat verbatim across pages and poison n-gram statistics).

    Returns one row per input document: ``(id, text, n_lines, n_kept)``
    where ``text`` is the reassembled document (empty string when every
    line was boilerplate) and ``n_lines``/``n_kept`` count lines before
    and after removal.

    Scale shape: lines are exploded once; the duplicate set is one
    (line-keyed) aggregation with map-side partials; membership is an
    anti-join on the same line key (AQE broadcasts the dup set while it
    fits — it only holds lines with ≥min_docs holders — and falls back
    to a shuffle join that shares the census partitioning when it does
    not); reassembly is one document-keyed aggregation. No stage is
    O(corpus²), the heavy key (the line string) is naturally
    high-cardinality (no skew), and nothing is driver-resident.
    """
    esc = "".join(
        "\\" + ch if ch in ".\\[](){}*+?^$|" else ch for ch in delim
    )
    lines = df.select(
        F.col(id_col).alias("_id"),
        F.posexplode(F.split(F.col(text_col), esc)).alias("_pos", "_line"),
    )
    dups = (
        lines.groupBy("_line")
        .agg(F.count_distinct("_id").alias("_nd"))
        .filter(F.col("_nd") >= min_docs)
        .select("_line")
    )
    kept = lines.join(dups, "_line", "left_anti")
    rebuilt = kept.groupBy("_id").agg(
        F.concat_ws(
            delim,
            F.transform(
                F.array_sort(F.collect_list(F.struct("_pos", "_line"))),
                lambda s: s["_line"],
            ),
        ).alias("_text"),
        F.count(F.lit(1)).alias("_kept"),
    )
    return (
        df.select(
            F.col(id_col),
            F.size(F.split(F.col(text_col), esc)).alias("n_lines"),
        )
        .join(rebuilt, F.col(id_col) == F.col("_id"), "left")
        .select(
            id_col,
            F.coalesce(F.col("_text"), F.lit("")).alias("text"),
            "n_lines",
            F.coalesce(F.col("_kept"), F.lit(0)).cast("long").alias("n_kept"),
        )
    )


def to_lines(c: Column, width: int = 8) -> Column:
    """Reformat flat text into ``width``-token lines joined by ``\\n`` —
    a deterministic lining both Spark and an ANSI-SQL oracle can compute,
    used to drive :func:`line_dedup` over corpora that carry no newlines
    (the synthetic documents table is one flat line per doc). The token
    array is bound once per row (text.bind) so the line slices don't
    re-tokenize."""
    from edgar_spark.operators.text import bind

    def body(toks: Column) -> Column:
        n = F.size(toks)
        return F.when(n == 0, F.lit("")).otherwise(
            F.concat_ws(
                "\n",
                F.transform(
                    F.sequence(F.lit(0), F.floor((n - 1) / width).cast("int")),
                    lambda i: F.concat_ws(
                        " ", F.slice(toks, i * width + 1, width)
                    ),
                ),
            )
        )

    return bind(tokens(c), body)


def corpus_mix(
    df: DataFrame,
    budgets: Dict[str, int],
    default_budget: Optional[int] = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    source_col: str = "source",
) -> DataFrame:
    """Deterministic budgeted corpus mixing: for each source, admit
    documents in md5-shuffled order until the source's token budget is
    reached (the admitting document may cross the budget — "take until
    full" semantics), producing the per-source token proportions a
    training-mix spec asks for.

    Ordering is ``(md5(id), id)`` — a deterministic pseudo-random
    permutation that is identical on any cluster size and any partition
    layout, so the selected set is reproducible run to run (the property
    that makes a mix spec auditable). Sources missing from ``budgets``
    use ``default_budget`` (or are dropped when it is None).

    Output: ``(id, source, n_tok, cum_tok)`` for admitted docs only.

    Scale shape: one hash-partitioned window per source (running sum) —
    a single exchange keyed by source. Source count is typically small
    vs corpus size, so per-source partitions can be large; at 100 TB the
    two-phase alternative (hash-threshold pre-filter to ~budget + exact
    window over the ~1/1000 survivors) composes from this same operator:
    filter on md5(id) < t, then corpus_mix the survivors.
    """
    items = [F.lit(x) for kv in budgets.items() for x in kv]
    budget = (
        F.create_map(*items)[F.col(source_col)]
        if items
        else F.lit(None).cast("long")
    )
    if default_budget is not None:
        budget = F.coalesce(budget, F.lit(default_budget))
    key = F.md5(F.col(id_col).cast("string"))
    w = (
        Window.partitionBy(source_col)
        .orderBy(key, F.col(id_col))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    scored = df.select(
        F.col(id_col),
        F.col(source_col),
        tokens(F.col(text_col)).alias("_toks"),
        budget.alias("_budget"),
    ).select(
        id_col,
        source_col,
        F.size("_toks").cast("long").alias("n_tok"),
        F.col("_budget"),
    )
    return (
        scored.withColumn("cum_tok", F.sum("n_tok").over(w))
        .filter(
            F.col("_budget").isNotNull()
            & (F.col("cum_tok") - F.col("n_tok") < F.col("_budget"))
        )
        .select(id_col, source_col, "n_tok", "cum_tok")
    )


def source_quota(
    df: DataFrame,
    k: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    source_col: str = "source",
) -> DataFrame:
    """Per-source quota curation: keep the ``k`` highest-quality documents
    of each source — the anti-domination cap that stops one domain from
    flooding a training mix. Ranking uses the ROUNDED (6-dp) quality
    score with the id as tiebreak, so the selection is engine-portable
    and deterministic.

    One window keyed by source; Spark compiles the rn ≤ k filter to
    WindowGroupLimit, so per-source heaps prune before the full sort.

    Output: ``(id, source, quality_score, rk)`` for kept docs.
    """
    from edgar_spark.operators.text import quality_score

    # quality_score preserves every input column — no join-back needed,
    # the table is scanned exactly once
    scored = quality_score(df, text_col)
    w = Window.partitionBy(source_col).orderBy(
        F.col("quality_score").desc(), F.col(id_col)
    )
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select(id_col, source_col, "quality_score", "rk")
    )


def canonical_doc_select(
    df: DataFrame,
    prefix_tokens: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Canonical-document selection: cluster documents by a cheap content
    fingerprint (md5 of the first ``prefix_tokens`` tokens — the
    template/boilerplate prefix near-identical pages share) and keep the
    highest-quality member of each cluster (rounded score, id tiebreak).
    The mirror-page / re-hosted-copy collapse a web corpus runs between
    exact dedup and full near-dedup: far cheaper than MinHash, catches
    the same-template cohort early.

    One window keyed by the fingerprint — high-cardinality, no skew
    beyond true cluster sizes. Output: the winning ``(id, fingerprint,
    quality_score, cluster_size)`` per cluster.
    """
    from edgar_spark.operators.text import quality_score

    toks = tokens(F.col(text_col))
    fp = F.md5(F.concat_ws(" ", F.slice(toks, 1, prefix_tokens)))
    # single scan: quality_score keeps text, so the fingerprint rides it
    tagged = quality_score(df, text_col).withColumn("fingerprint", fp)
    w = Window.partitionBy("fingerprint").orderBy(
        F.col("quality_score").desc(), F.col(id_col)
    )
    cnt = Window.partitionBy("fingerprint")
    return (
        tagged.withColumn("rk", F.row_number().over(w))
        .withColumn("cluster_size", F.count(F.lit(1)).over(cnt))
        .filter(F.col("rk") == 1)
        .select(id_col, "fingerprint", "quality_score", "cluster_size")
    )


def global_token_offsets(
    df: DataFrame,
    id_col: str = "doc_id",
    n_tok_col: str = "n_tok",
    n_buckets: int = 64,
) -> DataFrame:
    """Global prefix sum of ``n_tok`` in ``id`` order WITHOUT a
    single-partition window: documents land in ordered rank buckets
    (boundaries from ``approxQuantile`` over ``id`` — rank-based, so a
    sparse or clustered id distribution still spreads evenly), each
    bucket cumsums locally (one shuffle, bucket parallelism), bucket
    totals — ≤``n_buckets`` rows, never the data — come to the driver
    for an exact prefix, and the per-bucket base offsets join back as a
    broadcast literal map. Bucket BOUNDARIES only affect balance, never
    the result: offsets are exact for any boundary choice, so the output
    is identical on any cluster size. Only O(n_buckets) crosses the
    driver.

    A naive ``Window.orderBy(id)`` computes the same thing through ONE
    reducer — the classic scale cliff this operator exists to avoid.

    Output: input columns + ``offset`` (tokens preceding this doc).
    """
    qs = [i / n_buckets for i in range(1, n_buckets)]
    bounds = (
        sorted(set(df.stat.approxQuantile(id_col, qs, 0.001))) if qs else []
    )
    if not bounds and df.first() is None:
        return df.withColumn("offset", F.lit(0).cast("long"))
    # bucket = number of boundaries at or below id — ordered by construction
    barr = F.array(*[F.lit(b) for b in bounds]) if bounds else F.array().cast(
        "array<double>"
    )
    bucket = F.size(F.filter(barr, lambda b: F.col(id_col) >= b))
    w = (
        Window.partitionBy("_bucket")
        .orderBy(id_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    ntok = F.coalesce(F.col(n_tok_col).cast("long"), F.lit(0))
    local = df.withColumn("_bucket", bucket).withColumn(
        "_cum", F.sum(ntok).over(w)
    )
    totals = sorted(
        local.groupBy("_bucket")
        .agg(F.sum(ntok).alias("_t"))
        .collect(),
        key=lambda r: r["_bucket"],
    )
    base, prefix = 0, {}
    for row in totals:
        prefix[row["_bucket"]] = base
        base += row["_t"] or 0
    items = [F.lit(x) for b in prefix.items() for x in b]
    return (
        local.withColumn(
            "offset",
            (
                F.create_map(*items)[F.col("_bucket")]
                + F.col("_cum")
                - F.coalesce(F.col(n_tok_col).cast("long"), F.lit(0))
            ).cast("long"),
        )
        .drop("_bucket", "_cum")
    )


def pack_sequences(
    df: DataFrame,
    seq_len: int = 512,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 64,
) -> DataFrame:
    """Training-sequence packing manifest: documents are concatenated in
    id order and cut every ``seq_len`` tokens (GPT-style packing); each
    output row tells a dataloader which token span of which document
    lands where in which sequence:

    ``(seq_id, id, tok_start, tok_end, seq_off)`` — doc tokens
    ``[tok_start, tok_end)`` (0-based, end-exclusive) occupy sequence
    ``seq_id`` starting at in-sequence position ``seq_off``.

    Built on :func:`global_token_offsets` (scale-correct prefix sum) +
    a per-row explode over the sequences a document overlaps — no
    token-level explode ever happens; rows are O(docs + boundary
    crossings). Empty documents are skipped.
    """
    n = F.size(tokens(F.col(text_col)))
    sized = df.select(
        F.col(id_col), n.cast("long").alias("n_tok")
    ).filter(F.col("n_tok") > 0)
    with_off = global_token_offsets(sized, id_col, "n_tok", n_buckets)
    o, ntok = F.col("offset"), F.col("n_tok")
    s = F.col("seq_id")
    g0 = F.greatest(o, s * seq_len)
    g1 = F.least(o + ntok, (s + 1) * seq_len)
    return (
        with_off.select(
            id_col,
            "n_tok",
            "offset",
            F.explode(
                F.sequence(
                    F.floor(o / seq_len), F.floor((o + ntok - 1) / seq_len)
                )
            ).alias("seq_id"),
        )
        .select(
            s.cast("long").alias("seq_id"),
            F.col(id_col),
            (g0 - o).cast("long").alias("tok_start"),
            (g1 - o).cast("long").alias("tok_end"),
            (g0 - s * seq_len).cast("long").alias("seq_off"),
        )
    )


def _rate_threshold(rate: float) -> str:
    """32-hex-digit threshold such that ``md5(id) < threshold`` admits a
    ``rate`` fraction of a uniform hash population. Hex strings compare
    lexicographically exactly like the integers they encode (fixed width,
    ordered alphabet), so the comparison is engine-portable."""
    if rate < 0.0 or rate > 1.0:
        raise ValueError("rate must be in [0, 1]")
    if rate == 1.0:
        return "g" * 32  # lexicographically above every hex digest
    return format(int(rate * 16**32), "032x")


def stratified_sample(
    df: DataFrame,
    rates: Dict[str, float],
    default_rate: float = 0.0,
    key_col: str = "source",
    id_col: str = "doc_id",
) -> DataFrame:
    """Deterministic importance sampling: admit each document with a
    per-stratum probability (``rates[key]``, else ``default_rate``) using
    ``md5(id) < threshold(rate)`` as the coin — the quality-weighted
    downsampling step of web-corpus pipelines (keep high-quality strata
    whole, thin low-quality ones).

    Hash-threshold admission is a pure per-row filter: zero shuffles,
    zero RNG state, identical decisions on any cluster size or partition
    layout, and the admitted set is a *nested* sample (lowering a rate
    strictly shrinks the set — the property that makes re-mixes
    comparable across experiments).

    Output: the input rows that pass, unchanged.
    """
    items = []
    for k, r in rates.items():
        items.append(F.lit(k))
        items.append(F.lit(_rate_threshold(r)))
    thr = F.create_map(*items)[F.col(key_col)] if items else F.lit(None)
    thr = F.coalesce(thr, F.lit(_rate_threshold(default_rate)))
    return df.filter(F.md5(F.col(id_col).cast("string")) < thr)


def chunk_docs(
    df: DataFrame,
    chunk_size: int = 64,
    overlap: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Split each document into fixed-size token windows with overlap —
    the packing step before training-sequence assembly. Chunk ``i``
    covers tokens ``[i·stride + 1, i·stride + chunk_size]`` with
    ``stride = chunk_size − overlap``; a document of ``n ≤ chunk_size``
    tokens yields exactly one chunk, otherwise ``ceil((n − chunk_size) /
    stride) + 1`` chunks (the tail chunk is short rather than spawning a
    window fully contained in its predecessor). Empty documents yield no
    rows.

    Output: ``(id, chunk_id, chunk_text, n_chunk_tokens)``.

    Scale shape: a pure per-row explode — zero shuffles; the
    amplification factor is ~n/stride and each output row is bounded by
    chunk_size tokens, so downstream stages see uniformly sized units.
    """
    if overlap >= chunk_size:
        raise ValueError("overlap must be < chunk_size")
    from edgar_spark.operators.text import bind

    stride = chunk_size - overlap

    # the token array is bound once per row (text.bind): the window
    # lambda slices it twice per chunk and must not re-tokenize
    def _chunks_of(toks: Column) -> Column:
        n = F.size(toks)
        n_chunks = F.when(n <= 0, F.lit(0)).otherwise(
            F.when(n <= chunk_size, F.lit(1)).otherwise(
                F.floor((n - chunk_size + stride - 1) / stride).cast("int") + 1
            )
        )
        # token count from the slice itself (pre-explode) — re-tokenizing
        # the joined chunk text would miscount when tokens() yields
        # empty-string tokens (leading tab/newline survives trim, which
        # strips spaces only)
        return F.transform(
            F.sequence(F.lit(0), n_chunks - 1),
            lambda i: F.struct(
                F.concat_ws(
                    " ", F.slice(toks, i * stride + 1, chunk_size)
                ).alias("t"),
                F.size(F.slice(toks, i * stride + 1, chunk_size))
                .cast("long")
                .alias("n"),
            ),
        )

    chunks = bind(tokens(F.col(text_col)), _chunks_of)
    return (
        df.filter(F.size(tokens(F.col(text_col))) > 0)
        .select(F.col(id_col), F.posexplode(chunks).alias("chunk_id", "_c"))
        .select(
            id_col,
            "chunk_id",
            F.col("_c.t").alias("chunk_text"),
            F.col("_c.n").alias("n_chunk_tokens"),
        )
    )


def line_quality_filter(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_words: int = 3,
    min_alpha_pct: int = 50,
    min_kept_pct: int = 50,
    blocklist: "tuple[str, ...]" = ("cookie", "javascript", "subscribe"),
    delim: str = "\n",
) -> DataFrame:
    """C4/RefinedWeb-style line-wise quality filtering.

    A line survives iff it has ≥ ``min_words`` whitespace words, its
    alphabetic-character share is ≥ ``min_alpha_pct`` %, and it contains
    no blocklisted substring (case-insensitive). Returns one row per
    document: ``(id, text, n_lines, n_kept, keep)`` with the surviving
    lines reassembled in order and ``keep`` true when ≥ ``min_kept_pct``
    % of lines survived. All decisions are integer comparisons — exact
    on any engine.

    Unlike :func:`line_dedup` (whose boilerplate test needs a corpus-wide
    census), every rule here is per-line, so the whole operator is one
    projection over higher-order functions: **zero shuffles, zero joins**
    — the plan keeps the scan's partitioning untouched at any corpus
    size.
    """
    esc = "".join(
        "\\" + ch if ch in ".\\[](){}*+?^$|" else ch for ch in delim
    )
    # null text behaves as empty — otherwise size(split(NULL)) nulls the
    # counts and the keep flag, and the doc vanishes from BOTH keep and
    # ~keep downstream filters
    lines = F.split(F.coalesce(F.col(text_col), F.lit("")), esc)

    def _ok(line: Column) -> Column:
        words = F.size(
            F.filter(F.split(F.trim(line), r"\s+"), lambda w: w != "")
        )
        alpha = F.length(F.regexp_replace(line, "[^a-zA-Z]", ""))
        cond = (words >= min_words) & (
            alpha * 100 >= F.length(line) * min_alpha_pct
        )
        for b in blocklist:
            cond = cond & ~F.lower(line).contains(b.lower())
        return cond

    kept = F.filter(lines, _ok)
    n_lines = F.size(lines)
    n_kept = F.size(kept)
    return df.select(
        F.col(id_col),
        F.concat_ws(delim, kept).alias("text"),
        n_lines.cast("long").alias("n_lines"),
        n_kept.cast("long").alias("n_kept"),
        (n_kept * 100 >= n_lines * min_kept_pct).alias("keep"),
    )


def corpus_shuffle(
    df: DataFrame, n_shards: int = 8, id_col: str = "doc_id"
) -> DataFrame:
    """Deterministic global training shuffle: every document gets a
    (shard, pos) — which output shard it lands in and where — by ordering
    on a 60-bit md5 hash of its id. Training runs need the corpus in
    random order but REPRODUCIBLY so (same data → same batches across
    reruns and engines); hash order delivers both without any RNG state.

    Plan: ONE shuffle on the shard key; each shard orders its own rows
    (window parallelism = n_shards — pick n_shards ≥ cluster parallelism
    at scale, shards are the write-partition unit anyway). The hash also
    balances shards: expected |shard| = n/n_shards regardless of id
    distribution. Output: (id, shard, pos).
    """
    from edgar_spark.operators.sketches import hash60

    h = hash60(F.col(id_col))
    w = Window.partitionBy("shard").orderBy("_h", id_col)
    return (
        df.select(
            F.col(id_col),
            h.alias("_h"),
            (h % n_shards).cast("int").alias("shard"),
        )
        .withColumn("pos", F.row_number().over(w) - 1)
        .select(id_col, "shard", "pos")
    )

def priority_sample(
    df: DataFrame,
    weight_col: str,
    k: int,
    id_col: str = "doc_id",
    salt: str = "ps1",
) -> DataFrame:
    """Weighted sampling without replacement via priority sampling
    (Duffield, Lund & Thorup 2007): each row gets priority
    ``q = w / u`` with ``u`` uniform on (0, 1], and the sample is the
    top-k rows by priority — inclusion probability rises with weight,
    and the scheme is the optimal subset-sum estimator for its size.

    Engine-exact integer form: ``u`` is derived from the first 5 hex
    chars of ``md5(salt || ':' || id)`` — ``h ∈ [0, 2^20)``, replayed in
    SQL by DuckDB's ``CAST('0x'||substr(md5(..),1,5) AS BIGINT)`` — and
    ``priority = (w * 2^20) div (h + 1)`` (BIGINT-safe for weights up to
    2^43). Ties break on id, so the selected set is deterministic.

    Plan shape: the priority is a map-side projection; ``orderBy(...)
    .limit(k)`` compiles to TakeOrderedAndProject — every partition
    keeps its local top-k and only k rows ever move, no corpus sort, no
    shuffle. That is the 100 TB path: one scan, k rows to the driver
    side of the exchange. Rows with non-positive weight are
    unsampleable and excluded, as in the continuous formulation.
    """
    hx = F.md5(F.concat(F.lit(salt + ":"), F.col(id_col).cast("string")))
    h = F.conv(F.substring(hx, 1, 5), 16, 10).cast("long")
    w = F.col(weight_col).cast("long")
    out = (
        df.filter(w > 0)
        .withColumn("_h", h)
        .withColumn(
            "priority",
            F.expr(
                f"(CAST({weight_col} AS BIGINT) * 1048576) div (_h + 1)"
            ),
        )
        .drop("_h")
    )
    return out.orderBy(F.desc("priority"), F.col(id_col)).limit(k)


def domain_quality(
    df: DataFrame,
    host_col: str = "host",
    id_col: str = "doc_id",
    text_col: str = "text",
    min_docs: int = 2,
    min_avg_milli: int = 450,
) -> DataFrame:
    """Domain-level quality gating (the RefinedWeb/C4 move): score every
    document, aggregate to the *registered domain* (eTLD+1, so
    ``www.x.com`` and ``cdn.x.com`` pool), and keep documents only from
    domains with enough volume and a high enough mean score — a spammy
    domain's occasional good page is dropped with its domain, and a
    single-page domain carries too little evidence to keep.

    The per-doc score is an integer restatement of
    :func:`edgar_spark.operators.text.quality_score` (same features,
    milli-scaled, exact on both engines): ``least(3·n_tok, 300) +
    least(1200·n_stop div n_tok, 400) + 200·[3·n_tok ≤ n_chars−n_tok+1 ≤
    10·n_tok] + 100·[10·n_punct ≤ n_chars]``. The domain mean is the
    exact BIGINT ``sum div count``.

    Plan shape: one groupBy(reg_domain) over (domain, q_milli) — a
    map-side partial aggregate to ~one row per domain — then the
    domain verdict joins back onto the corpus. The join carries no
    broadcast hint: the planner broadcasts the domain table while its
    size estimate is under ``spark.sql.autoBroadcastJoinThreshold``
    and falls back to a shuffle join above it (the domain table is
    O(10^7) rows at web scale, unbounded by any cap). Docs whose host
    yields no registered domain (the host IS a public suffix) are
    gated out — a crawler shouldn't be keeping them anyway.

    Returns (id, reg_domain, q_milli, domain_docs, domain_avg_q_milli,
    keep).
    """
    from edgar_spark.frontier.canonical import registered_domain

    from edgar_spark.operators.text import EN_STOPWORDS, _count_matches, tokens

    c = F.col(text_col)
    toks = tokens(c)
    stop_arr = F.array(*[F.lit(s) for s in EN_STOPWORDS])
    counted = df.select(
        F.col(id_col),
        registered_domain(F.col(host_col)).alias("reg_domain"),
        F.size(toks).cast("long").alias("_ntok"),
        F.size(
            F.filter(
                F.transform(toks, lambda w: F.lower(w)),
                lambda w: F.array_contains(stop_arr, w),
            )
        )
        .cast("long")
        .alias("_nstop"),
        _count_matches(c, r"[\.,;:!\?]").cast("long").alias("_npunct"),
        F.length(c).cast("long").alias("_nchars"),
    )
    n_tok, n_chars = F.col("_ntok"), F.col("_nchars")
    n_punct = F.col("_npunct")  # _nstop is consumed inside the div expr
    mwl_num = n_chars - n_tok + 1  # mean word length × n_tok, exactly
    q_milli = (
        F.least(n_tok * 3, F.lit(300))
        + F.when(
            n_tok > 0, F.least(F.expr("_nstop * 1200 div _ntok"), F.lit(400))
        ).otherwise(F.lit(0))
        + F.when(
            (n_tok > 0)
            & (mwl_num >= n_tok * 3)
            & (mwl_num <= n_tok * 10),
            F.lit(200),
        ).otherwise(F.lit(0))
        + F.when(n_punct * 10 <= n_chars, F.lit(100)).otherwise(F.lit(0))
    )
    scored = counted.select(id_col, "reg_domain", q_milli.alias("q_milli"))
    dom = scored.groupBy("reg_domain").agg(
        F.count("*").alias("domain_docs"),
        F.expr("sum(q_milli) div count(*)").alias("domain_avg_q_milli"),
    )
    return (
        scored.filter(F.col("reg_domain").isNotNull())
        .join(dom, "reg_domain")
        .select(
            id_col,
            "reg_domain",
            "q_milli",
            "domain_docs",
            "domain_avg_q_milli",
            (
                (F.col("domain_docs") >= min_docs)
                & (F.col("domain_avg_q_milli") >= min_avg_milli)
            ).alias("keep"),
        )
    )


def host_template_lines(
    df: DataFrame,
    url_col: str = "url",
    text_col: str = "text",
    min_pages: int = 2,
    share_pct: int = 50,
) -> DataFrame:
    """Per-HOST template-line removal — the production form of line
    boilerplate stripping (CCNet dedups lines within a shard; WET
    pipelines strip per-site chrome): cookie banners, nav menus, and
    footers repeat on most pages *of one site*, while a line shared by
    two unrelated sites is usually quotation, not chrome. A line is
    template ON ITS HOST when it appears on ≥ ``min_pages`` distinct
    pages of that host AND on ≥ ``share_pct``% of the host's pages
    (cross-multiplied integers — a 2-page host doesn't lose every line
    two pages happen to share unless the share test agrees). The same
    line can be template on one host and content on another — the
    census key is (host, line), which is also what keeps the global
    hot-line skew of a corpus-wide census off this plan.

    One row per page: (url, host, text, n_lines, n_kept) with ``text``
    reassembled from surviving lines in original order.

    Plan: lines explode once; the census is ONE (host, line)-keyed
    partial-agged aggregate; host page counts are a host-grain
    aggregate joined into the census (host-grain ≪ line-grain, AQE
    broadcasts it); membership is an anti-join on the census key;
    reassembly is one url-keyed aggregate. Nothing is O(corpus²) and
    nothing is driver-resident.
    """
    host = F.lower(
        F.regexp_extract(
            F.col(url_col),
            r"^[A-Za-z][A-Za-z0-9+.-]*://(?:[^/?#@]*@)?([^/?#]+)",
            1,
        )
    )
    pages = df.select(
        F.col(url_col).alias("_url"), host.alias("_host"), F.col(text_col)
    )
    lines = pages.select(
        "_url",
        "_host",
        F.posexplode(F.split(F.col(text_col), "\n")).alias("_pos", "_line"),
    )
    host_pages = pages.groupBy("_host").agg(
        F.count_distinct("_url").alias("_n_pages")
    )
    census = lines.groupBy("_host", "_line").agg(
        F.count_distinct("_url").alias("_nd")
    )
    template = (
        census.join(host_pages, "_host")
        .filter(
            (F.col("_nd") >= min_pages)
            & (F.col("_nd") * 100 >= F.lit(share_pct) * F.col("_n_pages"))
        )
        .select("_host", "_line")
    )
    kept = lines.join(template, ["_host", "_line"], "left_anti")
    rebuilt = kept.groupBy("_url").agg(
        F.concat_ws(
            "\n",
            F.transform(
                F.array_sort(F.collect_list(F.struct("_pos", "_line"))),
                lambda s: s["_line"],
            ),
        ).alias("_text"),
        F.count(F.lit(1)).alias("_kept"),
    )
    return (
        pages.select(
            F.col("_url").alias(url_col),
            F.col("_host").alias("host"),
            F.size(F.split(F.col(text_col), "\n")).alias("n_lines"),
        )
        .join(rebuilt, F.col(url_col) == F.col("_url"), "left")
        .select(
            url_col,
            "host",
            F.coalesce(F.col("_text"), F.lit("")).alias("text"),
            "n_lines",
            F.coalesce(F.col("_kept"), F.lit(0)).cast("long").alias("n_kept"),
        )
    )


def corpus_datasheet(
    df: DataFrame,
    source_col: str = "source",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-source corpus datasheet — the "dataset card" rollup every
    released training corpus ships (docs, token volume, language mix,
    exact-duplicate exposure per source), composed as ONE Catalyst plan
    so the numbers are mutually consistent by construction (they read
    the same snapshot of the same rows).

    Per source: n_docs, n_tokens (whitespace), mean_tokens (integer
    div), n_unique_texts, n_dup_docs (docs whose exact text occurs more
    than once in the WHOLE corpus — cross-source copies count, which is
    what a contamination audit wants), dup_permille, and the language
    census n_en/n_de/n_fr/n_es/n_und from the shared `lang_id` argmax.

    Plan: lang + tokens + md5 fuse into the scan; the text census is
    ONE partial-agged groupBy on the 32-hex hash; copy counts join back
    on the same key; the datasheet is ONE source-grain aggregate.
    Text shuffles never — only hashes and small integers.
    """
    from edgar_spark.operators.text import lang_id, token_count

    per_doc = lang_id(df, text_col).select(
        F.col(source_col).alias("_src"),
        F.col("pred_lang").alias("_lang"),
        token_count(F.col(text_col)).cast("long").alias("_ntok"),
        F.md5(F.col(text_col)).alias("_h"),
    )
    census = per_doc.groupBy("_h").agg(F.count("*").alias("_copies"))
    joined = per_doc.join(census, "_h")
    langs = ["en", "de", "fr", "es", "und"]
    return (
        joined.groupBy(F.col("_src").alias(source_col))
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("_ntok").alias("n_tokens"),
            F.count_distinct("_h").alias("n_unique_texts"),
            F.count_if(F.col("_copies") > 1).alias("n_dup_docs"),
            *[
                F.count_if(F.col("_lang") == lang).alias(f"n_{lang}")
                for lang in langs
            ],
        )
        .selectExpr(
            "*",
            "n_tokens div greatest(n_docs, 1) AS mean_tokens",
            "n_dup_docs * 1000 div greatest(n_docs, 1) AS dup_permille",
        )
    )


def temperature_sample(
    df: DataFrame,
    budget: int,
    lang_col: str = "lang",
    id_col: str = "doc_id",
) -> DataFrame:
    """Temperature-balanced multilingual sampling (the mBERT/XLM-R
    rebalancing move: sample language l with probability ∝ N_l^α so
    head languages stop drowning the tail) at α = 1/2, made exact: each
    language's quota is ``budget · isqrt(N_l) div Σ isqrt(N_l)`` with a
    true INTEGER square root, then the quota is filled in the
    deterministic ``(md5(id), id)`` permutation `corpus_mix` uses — the
    whole selection replays bit-exactly in SQL.

    isqrt is float ``sqrt`` plus a ±1 integer correction
    (``s + [(s+1)² ≤ n] - [s² > n]``), exact for any N_l ≤ 2^52 (double
    sqrt is correctly rounded, so the float guess is off by at most 1) —
    the trick that keeps α = 1/2 inside the all-integer contract; other
    α need rational q-th roots and stay out of scope.

    Floor quotas under-spend by < L docs total (L = language count) —
    deterministic, documented, and irrelevant at corpus scale.

    Returns admitted docs only: ``(id, lang, lang_rank, lang_quota)``.

    Scale shape: language census is ONE partial-agged groupBy on the
    lang key (≤ a few hundred rows), the quota table broadcast-joins
    back, and ranking is ONE per-language window over the md5 order.
    Per-language partitions can be huge (the head language is ~half the
    corpus); the same two-phase refinement as `corpus_mix` applies —
    pre-filter on md5(id) < t to ~quota survivors, then rank exactly.
    """
    counts = df.groupBy(lang_col).agg(F.count("*").alias("_nl"))
    s = F.floor(F.sqrt(F.col("_nl").cast("double"))).cast("long")
    isqrt = (
        s
        + F.when((s + 1) * (s + 1) <= F.col("_nl"), 1).otherwise(0)
        - F.when(s * s > F.col("_nl"), 1).otherwise(0)
    )
    weights = counts.select(lang_col, isqrt.cast("long").alias("_w"))
    total = weights.agg(F.sum("_w").alias("_tw"))
    quotas = weights.crossJoin(F.broadcast(total)).select(
        lang_col,
        F.expr(f"({budget} * _w) div _tw").alias("lang_quota"),
    )
    w = Window.partitionBy(lang_col).orderBy(
        F.md5(F.col(id_col).cast("string")), F.col(id_col)
    )
    return (
        df.select(id_col, lang_col)
        .join(F.broadcast(quotas), lang_col)
        .withColumn("lang_rank", F.row_number().over(w).cast("long"))
        .filter(F.col("lang_rank") <= F.col("lang_quota"))
        .select(id_col, lang_col, "lang_rank", "lang_quota")
    )


def sentence_span_dedup(
    df: DataFrame,
    span_sents: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """C4's signature dedup rule (Raffel et al. 2020, §2.2: "we
    discarded all but one of any three-sentence span occurring more than
    once in the data set") — sentence-granular, cross-document AND
    within-document, keeping exactly the FIRST occurrence in
    ``(doc_id, position)`` order.

    Sentence split is the deterministic convention ``\\.\\s+`` (period +
    whitespace, period consumed) — lookbehind splits differ between
    engines, this one replays verbatim in RE2. Spans are ``span_sents``
    consecutive sentences hashed together (\\x02-joined md5); docs with
    fewer sentences carry no spans and pass through whole. A sentence is
    dropped when ANY non-first span occurrence covers it; survivors
    rejoin with ``'. '`` (trailing period not restored — the split
    consumed it; a char-exact reassembly needs `cut_spans` at token
    grain instead).

    Returns ``(id, n_sents, n_dropped, clean_text)``.

    Scale shape: spans explode once (≤ one per sentence); first-vs-rest
    is ONE row_number window on the span-hash key — a span duplicated
    across 10^6 pages makes a hot window partition, but its rows are
    (hash, doc, pos) triples, not text, and the window computes nothing
    per row beyond rank. Losing spans collapse back to one small array
    per affected doc (AQE-broadcast join — affected docs ≪ corpus) and
    the per-sentence coverage test fuses into the projection, the same
    shape as `dedup.cut_spans`.
    """
    from edgar_spark.operators.text import bind

    t = F.trim(F.col(text_col))
    sents = F.when(t == "", F.array().cast("array<string>")).otherwise(
        F.split(t, r"\.\s+")
    )
    base = df.select(F.col(id_col), sents.alias("_sents"))

    def spans_of(s: Column) -> Column:
        n = F.size(s)
        # sequence(1, 0) is DESCENDING in Spark, not empty — guard short docs
        starts = F.when(
            n >= span_sents, F.sequence(F.lit(1), n - span_sents + 1)
        ).otherwise(F.array().cast("array<int>"))
        return F.transform(
            starts,
            lambda j: F.struct(
                j.alias("start"),
                F.md5(
                    F.array_join(F.slice(s, j, span_sents), "\x02")
                ).alias("h"),
            ),
        )

    occ = base.select(
        id_col, F.explode(bind(F.col("_sents"), spans_of)).alias("_sp")
    ).select(id_col, "_sp.start", "_sp.h")
    ranked = occ.withColumn(
        "_rk",
        F.row_number().over(
            Window.partitionBy("h").orderBy(F.col(id_col), F.col("start"))
        ),
    )
    losers = (
        ranked.filter(F.col("_rk") > 1)
        .groupBy(id_col)
        .agg(F.collect_list(F.col("start").cast("long")).alias("_drops"))
    )
    j = base.join(losers, id_col, "left")
    drops = F.coalesce(F.col("_drops"), F.expr("CAST(array() AS array<bigint>)"))

    def assemble(s: Column) -> Column:
        kept = F.filter(
            s,
            lambda x, i: ~F.exists(
                drops,
                lambda d: (i + 1 >= d) & (i + 1 < d + span_sents),
            ),
        )
        return F.struct(
            F.size(s).cast("long").alias("n_sents"),
            (F.size(s) - F.size(kept)).cast("long").alias("n_dropped"),
            F.array_join(kept, ". ").alias("clean_text"),
        )

    return j.select(
        id_col, bind(F.col("_sents"), assemble).alias("_r")
    ).select(id_col, "_r.n_sents", "_r.n_dropped", "_r.clean_text")
