"""Deduplication operators for large-scale training-data pipelines.

Four families over a ``documents(doc_id, text, …)`` table:

* **exact** — hash-groupBy; one shuffle on the content hash, map-side
  partial agg; at 100 TB the hash (not the text) shuffles.
* **n-gram Jaccard** — token-shingle set similarity as pure column exprs
  (SQL-oracle-able).
* **MinHash + LSH** — shingle → 64 minhashes → band buckets → bucket join →
  exact-Jaccard verification of candidates only. The O(n²) pair space never
  materializes: candidates come from same-bucket groupBys; bucket skew is
  bounded by banding (b bands × r rows, b·r = n_hashes).
* **SimHash** — 64-bit fingerprint; near-dups = Hamming distance ≤ k via
  band-exact match on fingerprint chunks.

All signature computation is vectorized (numpy inside Arrow batches), never
per-row Python objects in the driver.
"""

from __future__ import annotations

import itertools
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# deterministic 64-bit mix (splitmix64 finalizer) — same constants everywhere
_M1 = np.uint64(0xBF58476D1CE4E5B9)
_M2 = np.uint64(0x94D049BB133111EB)

#: MinHash works in the field mod 2^31-1 (Mersenne prime): products of two
#: 31-bit values fit both numpy uint64 and a SQL BIGINT, so the exact same
#: universal-hash family is computable in DuckDB — every signature is
#: oracle-able, not approximate-by-faith.
MINHASH_P = 2147483647


def _splitmix64(x: np.ndarray) -> np.ndarray:
    x = x.astype(np.uint64, copy=True)
    with np.errstate(over="ignore"):
        x ^= x >> np.uint64(30)
        x *= _M1
        x ^= x >> np.uint64(27)
        x *= _M2
        x ^= x >> np.uint64(31)
    return x


def md5_lower64(s: str) -> int:
    """DuckDB ``md5_number_lower`` equivalent: bytes 8..16 of the md5 digest,
    little-endian. Using md5 (not crc32/xxhash) keeps every hash in this
    module reproducible inside the SQL oracle."""
    import hashlib

    return int.from_bytes(hashlib.md5(s.encode("utf-8")).digest()[8:16], "little")


def minhash_coeffs(n_hashes: int) -> tuple[np.ndarray, np.ndarray]:
    """Deterministic (a, b) universal-hash coefficients mod MINHASH_P,
    derived from splitmix64 so Python operators and generated oracle SQL
    literals agree exactly."""
    p = np.uint64(MINHASH_P)
    idx = np.arange(n_hashes, dtype=np.uint64)
    a = _splitmix64(idx * np.uint64(2) + np.uint64(1)) % (p - np.uint64(1)) + np.uint64(1)
    b = _splitmix64(idx * np.uint64(2) + np.uint64(2)) % p
    return a, b


def _shingles(text: str, k: int) -> list[str]:
    toks = text.split()
    if len(toks) < k:
        return [" ".join(toks)] if toks else []
    return [" ".join(toks[i : i + k]) for i in range(len(toks) - k + 1)]


def _shingle_hashes(text: str, k: int) -> np.ndarray:
    """md5-lower-64 mod MINHASH_P per k-word shingle (whitespace tokens)."""
    shingles = _shingles(text, k)
    if not shingles:
        return np.zeros(0, dtype=np.uint64)
    p = MINHASH_P
    return np.fromiter(
        (md5_lower64(s) % p for s in shingles),
        dtype=np.uint64,
        count=len(shingles),
    )


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Keep the minimum-id representative per exact text (hash-groupBy).
    Output: (doc_id, n_copies)."""
    return (
        df.groupBy(F.md5(F.col(text_col)).alias("_h"))
        .agg(
            F.min(id_col).alias(id_col),
            F.count("*").alias("n_copies"),
        )
        .drop("_h")
    )


def _shingle_pair_join(
    df_a: DataFrame,
    df_b: DataFrame,
    n: int,
    pairs: DataFrame | None,
    text_col: str,
    id_col: str,
) -> DataFrame:
    """Shared scaffolding for the pairwise shingle metrics
    (:func:`ngram_jaccard`, :func:`ngram_containment`): project each
    side's distinct word-n-gram set once (token array bound per row —
    text.bind; shared semantics with text.ngram_contamination), then
    join candidates: the explicit ``pairs`` frame when given, else the
    consecutive-id fallback. Returns (id_a, id_b, sh_a, sh_b)."""
    from edgar_spark.operators.text import word_shingles

    a = df_a.select(
        F.col(id_col).alias("id_a"),
        word_shingles(F.col(text_col), n).alias("sh_a"),
    )
    b = df_b.select(
        F.col(id_col).alias("id_b"),
        word_shingles(F.col(text_col), n).alias("sh_b"),
    )
    if pairs is None:
        return a.join(b, a.id_a + 1 == b.id_b)  # consecutive-id pairing
    return pairs.select("id_a", "id_b").join(a, "id_a").join(b, "id_b")


def ngram_jaccard(
    df_a: DataFrame,
    df_b: DataFrame,
    n: int = 3,
    pairs: DataFrame | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Exact word-n-gram Jaccard over candidate pairs. Pure column exprs:
    tokenized shingles via transform/slice, set ops via
    array_distinct/array_intersect.

    ``pairs`` supplies the candidate (id_a, id_b) pairs to score — at scale
    this is an LSH candidate set (``minhash_lsh_candidates``) so the O(n²)
    pair space never materializes; the shingle arrays shuffle once per side
    of the pair join. When ``pairs`` is None, falls back to consecutive-id
    pairing (id_a + 1 == id_b), the deterministic SQL-oracle-able mode."""
    joined = _shingle_pair_join(df_a, df_b, n, pairs, text_col, id_col)
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size("sh_a") + F.size("sh_b") - inter
    return joined.select(
        "id_a",
        "id_b",
        (inter.cast("double") / union).alias("jaccard"),
    )


def ngram_containment(
    df_a: DataFrame,
    df_b: DataFrame,
    n: int = 3,
    pairs: DataFrame | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Asymmetric word-n-gram containment over candidate pairs —
    ``C(A→B) = |sh(A) ∩ sh(B)| / |sh(A)|`` (Broder's containment
    companion to resemblance). This is the quote/superset detector that
    symmetric Jaccard misses: a paragraph quoted verbatim inside a much
    larger page scores Jaccard ≈ |A|/|B| ≈ 0 but containment_a = 1.0 —
    exactly the boilerplate-inclusion / wrapper-page case a corpus
    pipeline must separate from genuine near-duplication.

    Same ``pairs`` contract as :func:`ngram_jaccard` (LSH candidates at
    scale; consecutive-id fallback when None) and the same one-shuffle-
    per-side plan. Returns (id_a, id_b, n_a, n_b, inter, containment_a,
    containment_b). Blank text follows the ngram-family convention
    (word_shingles): it yields the single ``['']`` whole-token shingle,
    so two blank docs score containment 1.0 — filter empties upstream
    when that degenerate match is unwanted; the NULL guard below only
    fires for a genuinely empty shingle array (never produced by
    word_shingles itself, but possible from a caller-supplied frame).
    """
    joined = _shingle_pair_join(df_a, df_b, n, pairs, text_col, id_col)
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    n_a = F.size("sh_a")
    n_b = F.size("sh_b")
    return joined.select(
        "id_a",
        "id_b",
        n_a.alias("n_a"),
        n_b.alias("n_b"),
        inter.alias("inter"),
        F.when(n_a > 0, inter.cast("double") / n_a).alias("containment_a"),
        F.when(n_b > 0, inter.cast("double") / n_b).alias("containment_b"),
    )


def minhash_signatures(
    df: DataFrame,
    n_hashes: int = 64,
    shingle_k: int = 5,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(doc_id, sig ARRAY<LONG>[n_hashes]) via vectorized minhash: md5-based
    shingle hashes × n_hashes universal-hash permutations (a·h+b mod
    2^31-1), one numpy broadcast per doc — fully reproducible in SQL."""
    a, b = minhash_coeffs(n_hashes)

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, sigs = [], []
            p = np.uint64(MINHASH_P)
            for t in pdf.itertuples(index=False):
                h = _shingle_hashes(getattr(t, text_col) or "", shingle_k)
                if len(h) == 0:
                    sig = np.zeros(n_hashes, dtype=np.uint64)
                else:
                    # a,h < 2^31 so a*h + b < 2^63: exact in uint64
                    m = (h[:, None] * a[None, :] + b[None, :]) % p
                    sig = m.min(axis=0)
                ids.append(getattr(t, id_col))
                sigs.append(sig.astype(np.int64))  # < 2^31, sign-safe
            yield pd.DataFrame({id_col: ids, "sig": sigs})

    return df.select(id_col, text_col).mapInPandas(
        gen, schema=f"{id_col} long, sig array<long>"
    )


def _capped_bucket_pairs(
    banded: DataFrame, key_cols: list, bucket_cap, id_col: str
) -> DataFrame:
    """Candidate (id_a, id_b) pairs from a banded ``(id, *key_cols)`` table,
    with a per-bucket population cap — the shared overflow lever of the
    minhash and simhash banding pipelines (the "per-bucket size cap"
    noted in SCALE.md).

    Buckets at or under ``bucket_cap`` self-join as usual (quadratic in
    the bucket, bounded by cap²). Overflow buckets — template clusters
    that survive even representative collapse because their members'
    signatures differ slightly — skip the all-pairs join and emit STAR
    candidates instead: every member paired with the bucket's minimum id
    (LINEAR in the bucket population). Star candidates still pass through
    the caller's exact verification, so precision is unchanged; recall
    within an overflow bucket is bounded to rep-adjacent pairs there, but
    any pair also co-bucketed in a non-overflow band is still found (the
    OR-construction's other bands are unaffected). ``bucket_cap=None``
    reproduces the uncapped plan exactly."""
    if bucket_cap is None:
        left = banded.select(F.col(id_col).alias("id_a"), *key_cols)
        right = banded.select(F.col(id_col).alias("id_b"), *key_cols)
        return (
            left.join(right, key_cols)
            .filter(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b")
            .distinct()
        )
    stats = banded.groupBy(*key_cols).agg(
        F.count(F.lit(1)).alias("_pop"), F.min(id_col).alias("_bmin")
    )
    tagged = banded.join(stats, key_cols)
    small = tagged.filter(F.col("_pop") <= bucket_cap)
    left = small.select(F.col(id_col).alias("id_a"), *key_cols)
    right = small.select(F.col(id_col).alias("id_b"), *key_cols)
    small_pairs = (
        left.join(right, key_cols)
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
    )
    star_pairs = (
        tagged.filter(F.col("_pop") > bucket_cap)
        .filter(F.col(id_col) != F.col("_bmin"))
        .select(F.col("_bmin").alias("id_a"), F.col(id_col).alias("id_b"))
    )
    return small_pairs.unionByName(star_pairs).distinct()


def minhash_lsh_candidates(
    sigs: DataFrame, bands: int = 16, id_col: str = "doc_id", bucket_cap: int = None
) -> DataFrame:
    """Band the signatures and emit candidate pairs sharing any band bucket.
    One explode + one self-join per bucket key; dedup to (a < b) pairs.
    ``bucket_cap`` bounds the in-bucket join: overflow buckets emit linear
    star candidates to the bucket min-id instead (see
    ``_capped_bucket_pairs``)."""
    banded = minhash_bands(sigs, bands, id_col)
    return _capped_bucket_pairs(banded, ["band", "bucket"], bucket_cap, id_col)


def minhash_dedup_pairs(
    df: DataFrame,
    threshold: float = 0.7,
    n_hashes: int = 64,
    bands: int = 16,
    shingle_k: int = 5,
    text_col: str = "text",
    id_col: str = "doc_id",
    bucket_cap: int = None,
) -> DataFrame:
    """Full near-dup pipeline: signatures → LSH candidates → verify with the
    estimated Jaccard (matching signature fraction) ≥ threshold."""
    sigs = minhash_signatures(df, n_hashes, shingle_k, text_col, id_col)
    cand = minhash_lsh_candidates(sigs, bands, id_col, bucket_cap)
    return _minhash_verified_pairs(sigs, cand, threshold, id_col)


def _minhash_verified_pairs(
    sigs: DataFrame, cand: DataFrame, threshold: float, id_col: str = "doc_id"
) -> DataFrame:
    """Estimated-Jaccard verification of candidate (id_a, id_b) pairs
    against a ``(id, sig)`` table — the shared verify stage of
    ``minhash_dedup_pairs`` (all docs) and ``minhash_dedup_edges``
    (signature-collapsed representatives)."""
    a = sigs.select(F.col(id_col).alias("id_a"), F.col("sig").alias("sig_a"))
    b = sigs.select(F.col(id_col).alias("id_b"), F.col("sig").alias("sig_b"))
    joined = cand.join(a, "id_a").join(b, "id_b")
    est = (
        F.size(
            F.filter(
                F.zip_with("sig_a", "sig_b", lambda x, y: x == y),
                lambda eq: eq,
            )
        ).cast("double")
        / F.size("sig_a")
    )
    return joined.select("id_a", "id_b", est.alias("est_jaccard")).filter(
        F.col("est_jaccard") >= threshold
    )


def minhash_dedup_edges(
    df: DataFrame,
    threshold: float = 0.7,
    n_hashes: int = 64,
    bands: int = 16,
    shingle_k: int = 5,
    text_col: str = "text",
    id_col: str = "doc_id",
    bucket_cap: int = None,
) -> DataFrame:
    """Dup-heavy-corpus scale shape of the MinHash near-dup pipeline — the
    minhash twin of ``simhash_dedup_edges``: identical signature vectors
    collapse to min-id representatives BEFORE banding, so band-bucket
    populations count distinct signatures (a boilerplate page with 10^6
    exact/shingle-identical copies is ONE banding row) and the output is
    (rep, member, est_jaccard 1.0) star edges plus banded-and-verified
    edges between representatives — linear in the copy count where the
    pair pipeline is quadratic. Connected components over the edges equal
    CC over the ``minhash_dedup_pairs`` output at the same threshold."""
    # localCheckpoint, not persist(): checkpoint blocks are freed by the
    # ContextCleaner when the returned plan is garbage-collected, where a
    # CacheManager persist() would pin executor storage for the session
    # (long-lived drivers invoking this per-wave would accumulate blocks)
    sigs = minhash_signatures(df, n_hashes, shingle_k, text_col, id_col)
    sigs = sigs.localCheckpoint(eager=True)
    groups = sigs.groupBy("sig").agg(F.min(id_col).alias("_rep"))
    star = (
        sigs.join(groups, "sig")
        .filter(F.col(id_col) != F.col("_rep"))
        .select(
            F.col("_rep").alias("id_a"),  # rep = group min ⇒ id_a < id_b
            F.col(id_col).alias("id_b"),
            F.lit(1.0).alias("est_jaccard"),
        )
    )
    reps = groups.select(F.col("_rep").alias(id_col), "sig")
    cand = minhash_lsh_candidates(reps, bands, id_col, bucket_cap)
    rep_pairs = _minhash_verified_pairs(reps, cand, threshold, id_col)
    return star.unionByName(rep_pairs)


def simhash_signatures(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(doc_id, simhash LONG): 64-bit majority-vote fingerprint over
    md5-lower-64 token hashes (vectorized bit-count per Arrow batch;
    reproducible in SQL via md5_number_lower). All 64 bits are kept —
    stored as the signed two's-complement reinterpretation, so Hamming
    distances downstream cover the full fingerprint."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, fps = [], []
            for t in pdf.itertuples(index=False):
                toks = (getattr(t, text_col) or "").split()
                if not toks:
                    ids.append(getattr(t, id_col))
                    fps.append(0)
                    continue
                h = np.fromiter(
                    (md5_lower64(w) for w in toks),
                    dtype=np.uint64,
                    count=len(toks),
                )
                bits = ((h[:, None] >> np.arange(64, dtype=np.uint64)) & np.uint64(1)).sum(
                    axis=0
                )
                fp = np.uint64(0)
                for i in range(64):
                    if bits[i] * 2 >= len(toks):
                        fp |= np.uint64(1) << np.uint64(i)
                ids.append(getattr(t, id_col))
                v = int(fp)  # full 64 bits, two's-complement into long
                fps.append(v - (1 << 64) if v >= (1 << 63) else v)
            yield pd.DataFrame({id_col: ids, "simhash": fps})

    return df.select(id_col, text_col).mapInPandas(
        gen, schema=f"{id_col} long, simhash long"
    )


def _chunk_widths(n_chunks: int) -> list:
    """Split 64 bits into ``n_chunks`` as-even-as-possible widths."""
    base, extra = divmod(64, n_chunks)
    return [base + (1 if i < extra else 0) for i in range(n_chunks)]


def auto_simhash_chunks(
    n_docs: int, max_hamming: int, target_load: float = 16.0
) -> int:
    """Pick the chunk count for combination banding so the expected
    bucket population ``n_docs / 2^key_width`` stays ≤ ``target_load``
    under a uniform-hash model (key_width = the SMALLEST combo width, i.e.
    the sum of the ``n_chunks - max_hamming`` narrowest chunk widths).

    Growing ``n_chunks`` beyond the pigeonhole minimum ``max_hamming+1``
    widens the join key (combos of ``n_chunks - max_hamming`` chunks
    instead of single chunks) at the cost of C(n_chunks, r) keys per doc —
    the Manku-style trade that keeps in-bucket joins bounded as the corpus
    grows past 2^16 docs. Capped at 64 keys per doc; returns the widest
    feasible chunk count if even that cannot meet the load target (at
    which point ``bucket_cap`` star overflow is the remaining lever).
    """
    import math as _math

    best = max_hamming + 1
    for c in range(max_hamming + 1, 17):
        r = c - max_hamming
        if _math.comb(c, r) > 64:
            break
        key_width = sum(sorted(_chunk_widths(c))[:r])
        best = c
        if n_docs / float(2 ** min(key_width, 62)) <= target_load:
            return c
    return best


def simhash_near_dups(
    df: DataFrame,
    max_hamming: int = 3,
    n_chunks: int = 4,
    text_col: str = "text",
    id_col: str = "doc_id",
    corpus_count: int = None,
    bucket_cap: int = None,
) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance ≤ ``max_hamming``.

    Combination banding (pigeonhole, exact recall): the 64-bit fingerprint
    splits into ``n_chunks`` as-even-as-possible chunks; a pair within
    ``max_hamming`` bit flips leaves at least ``r = n_chunks - max_hamming``
    chunks untouched, so the pair agrees EXACTLY on some r-subset of
    chunks — and therefore on that subset's concatenated join key. Each doc
    emits one key per r-combination (C(n_chunks, r) keys); candidates come
    from a key-equality self-join (one shuffle on (combo_id, key)) and the
    O(n²) pair space never materializes. Verification is bit_count(xor) on
    the candidate pairs only — all JVM-side exprs.
    Output: (id_a, id_b, hamming) with id_a < id_b.

    ``n_chunks = max_hamming + 1`` (the default 4 for hamming ≤ 3) gives
    the classic single-chunk banding with 16-bit keys — fine below ~10^6
    docs. Pass ``n_chunks=None`` to AUTO-SELECT from the corpus size
    (``corpus_count`` if given, else one counting scan): the chunk count
    grows until the expected bucket population under a uniform-hash model
    is bounded, widening keys to ~25/31/35 bits as the corpus passes
    10^7/10^9/10^12 docs. Dup-heavy corpora additionally pass
    ``bucket_cap``: overflow buckets emit linear star candidates instead
    of the quadratic in-bucket join (``_capped_bucket_pairs``).
    """
    if n_chunks is None:
        n = corpus_count if corpus_count is not None else df.count()
        n_chunks = auto_simhash_chunks(n, max_hamming)
    # the Python signature kernel is the dominant cost and the band plan
    # scans it from four places (candidate left/right + verify a/b):
    # checkpoint the small (id, long) signature table so it computes ONCE
    # (localCheckpoint, not persist: blocks free with the plan's lifetime
    # instead of pinning CacheManager storage across waves)
    sigs = simhash_signatures(df, text_col, id_col).localCheckpoint(eager=True)
    return _simhash_band_pairs(sigs, max_hamming, n_chunks, id_col, bucket_cap)


def _simhash_band_pairs(
    sigs: DataFrame,
    max_hamming: int,
    n_chunks: int,
    id_col: str = "doc_id",
    bucket_cap: int = None,
) -> DataFrame:
    """Combination-banding candidate generation + exact Hamming verify over
    a precomputed ``(id, simhash)`` table — the shared core of
    ``simhash_near_dups`` (raw docs) and ``simhash_dedup_edges``
    (signature-collapsed representatives). ``bucket_cap`` bounds the
    in-bucket join via ``_capped_bucket_pairs`` star overflow."""
    if max_hamming > n_chunks - 1:
        raise ValueError("pigeonhole needs max_hamming <= n_chunks - 1")
    widths = _chunk_widths(n_chunks)
    starts = [sum(widths[:i]) for i in range(n_chunks)]

    def chunk_expr(i):
        # LOGICAL shift: the fingerprint is a signed reinterpretation of
        # 64 unsigned bits — an arithmetic shift would smear the sign into
        # the top chunk
        shifted = F.shiftrightunsigned(F.col("simhash"), starts[i])
        if widths[i] == 64:  # whole-hash chunk (n_chunks=1): the 64-bit
            return shifted  # mask literal would overflow LongType
        return shifted.bitwiseAND(F.lit((1 << widths[i]) - 1))

    r = n_chunks - max_hamming
    combos = list(itertools.combinations(range(n_chunks), r))
    key_exprs = []
    for subset in combos:
        key = chunk_expr(subset[0])
        for i in subset[1:]:
            key = F.shiftleft(key, widths[i]).bitwiseOR(chunk_expr(i))
        key_exprs.append(key)

    chunked = sigs.select(
        id_col,
        F.posexplode(F.array(*key_exprs)).alias("chunk_idx", "chunk_val"),
    )
    cand = _capped_bucket_pairs(chunked, ["chunk_idx", "chunk_val"], bucket_cap, id_col)
    a = sigs.select(F.col(id_col).alias("id_a"), F.col("simhash").alias("_sa"))
    b = sigs.select(F.col(id_col).alias("id_b"), F.col("simhash").alias("_sb"))
    return (
        cand.join(a, "id_a")
        .join(b, "id_b")
        .select(
            "id_a",
            "id_b",
            F.bit_count(F.col("_sa").bitwiseXOR(F.col("_sb"))).alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
    )


def simhash_dedup_edges(
    df: DataFrame,
    max_hamming: int = 3,
    n_chunks: int = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    bucket_cap: int = None,
) -> DataFrame:
    """Dup-heavy-corpus scale shape of SimHash near-dup detection:
    an edge set (id_a, id_b, hamming) whose connected components equal
    those of the full ``simhash_near_dups`` pair set, but LINEAR in the
    duplicate count instead of quadratic.

    Two problems make raw pair banding collapse on template-heavy web
    corpora (the per-bucket-cap situation): a 10^6-copy boilerplate page
    puts 10^6 identical fingerprints into every one of its band buckets
    (quadratic in-bucket join), and the qualifying pair OUTPUT is itself
    10^12 rows. Both vanish by collapsing identical fingerprints first:

    * group by the 64-bit fingerprint; the minimum id is the group's
      representative — each group emits (rep, member, hamming 0) STAR
      edges (linear), which connect exactly what in-group all-pairs would;
    * banding runs over DISTINCT fingerprints only (one row per group),
      so bucket populations count signatures, not copies — auto chunk
      selection (``n_chunks=None``, the default here) sizes keys from the
      distinct-signature count;
    * cross-group near-dup edges come from the same combination-banding +
      bit_count verify as ``simhash_near_dups``, between representatives.

    Feed the result straight to ``dedup_representatives`` /
    ``connected_components`` — transitive closure recovers every doc pair
    relationship the quadratic output encoded.
    """
    sigs = simhash_signatures(df, text_col, id_col).localCheckpoint(eager=True)
    groups = sigs.groupBy("simhash").agg(F.min(id_col).alias("_rep"))
    star = (
        sigs.join(groups, "simhash")
        .filter(F.col(id_col) != F.col("_rep"))
        .select(
            F.col("_rep").alias("id_a"),  # rep = group min ⇒ id_a < id_b
            F.col(id_col).alias("id_b"),
            F.lit(0).alias("hamming"),
        )
    )
    reps = groups.select(F.col("_rep").alias(id_col), "simhash")
    reps = reps.localCheckpoint(eager=True)
    if n_chunks is None:
        n_chunks = auto_simhash_chunks(reps.count(), max_hamming)
    rep_pairs = _simhash_band_pairs(reps, max_hamming, n_chunks, id_col, bucket_cap)
    return star.unionByName(rep_pairs)


def _sym(edges: DataFrame) -> DataFrame:
    """Both orientations of an undirected edge list (u, v)."""
    return edges.select("u", "v").union(
        edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )


def _large_star(edges: DataFrame) -> DataFrame:
    """Large-star round: every node u links its strictly-larger neighbors to
    m = min(N(u) ∪ {u}). One shuffle (groupBy u for the min) + one join."""
    sym = _sym(edges)
    mins = sym.groupBy("u").agg(
        F.least(F.min("v"), F.first("u")).alias("m")
    )
    return (
        sym.join(mins, "u")
        .filter(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """Small-star round: orient edges large→small, then every node links its
    smaller neighbors (and itself) to the minimum."""
    oriented = edges.select(
        F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
    ).filter(F.col("u") != F.col("v"))
    mins = oriented.groupBy("u").agg(F.min("v").alias("m"))
    nbr_links = (
        oriented.join(mins, "u")
        .filter(F.col("v") != F.col("m"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
    )
    self_links = mins.select("u", F.col("m").alias("v"))
    return nbr_links.union(self_links).distinct()


def connected_components(
    pairs: DataFrame, max_iter: int = 20
) -> DataFrame:
    """Connected components of the undirected graph given by ``pairs``
    (columns id_a, id_b) via alternating large-star/small-star contraction
    (Kiveris et al., "Connected Components in MapReduce and Beyond") —
    converges in O(log n) rounds even on chain graphs, vs O(diameter) for
    naive min-label propagation, so it survives deep transitive dup chains
    at 100 TB. Each round is two shuffles over the (shrinking) edge set;
    convergence is an exact edge-set equality check. Output: (id, component)
    for every node that appears in ``pairs`` — component = min id reachable.
    """
    edges = (
        pairs.select(F.col("id_a").alias("u"), F.col("id_b").alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )

    def digest(df: DataFrame):
        """(row count, order-independent hash-sum) — one cheap agg job.
        Unequal digests prove the edge sets differ, so the expensive exact
        set compare only runs on the (final) round where digests match."""
        row = df.agg(
            F.count("*").alias("n"),
            # decimal accumulator: an int64 hash-sum overflows under ANSI
            F.coalesce(
                F.sum(F.xxhash64("u", "v").cast("decimal(38,0)")),
                F.lit(0).cast("decimal(38,0)"),
            ).alias("h"),
        ).collect()[0]
        return row["n"], row["h"]

    prev = _small_star(edges).localCheckpoint(eager=True)
    d_prev = digest(prev)
    for _ in range(max_iter):
        nxt = _small_star(_large_star(prev)).localCheckpoint(eager=True)
        d_nxt = digest(nxt)
        converged = d_nxt == d_prev and nxt.exceptAll(prev).isEmpty()
        old = prev
        prev, d_prev = nxt, d_nxt
        old.unpersist()
        if converged:
            break
    # final star edges point every non-root node at its component min; the
    # min itself may only appear as a target — union it in as a self-map
    comp = prev.groupBy("u").agg(F.min("v").alias("component"))
    roots = prev.select(F.col("v").alias("u"), F.col("v").alias("component")).distinct()
    return (
        comp.union(roots)
        .groupBy("u")
        .agg(F.min("component").alias("component"))
        .select(F.col("u").alias("id"), "component")
    )


def dedup_representatives(
    pairs: DataFrame, all_ids: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """Min-id representative per near-dup CLUSTER: full connected components
    over the pair graph (transitive chains A≈B≈C collapse to min(A,B,C) even
    when A≉C directly), then every unpaired doc represents itself."""
    comp = connected_components(pairs)
    return (
        all_ids.join(
            comp.select(F.col("id").alias(id_col), F.col("component").alias("_rep")),
            id_col,
            "left",
        )
        .select(
            id_col,
            F.coalesce("_rep", F.col(id_col)).alias("representative"),
        )
    )


def dup_ngram_spans(
    df: DataFrame, n: int = 5, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Exact-substring duplication coverage — the span-level dedup signal
    of deduplicate-text-datasets (Lee et al., "Deduplicating Training Data
    Makes Language Models Better"): for every document, the fraction of its
    token positions covered by a word ``n``-gram that also occurs in at
    least one OTHER document. Unlike document-level MinHash, this catches
    boilerplate/quoted spans inside otherwise-unique pages — the dominant
    duplication mode in web text (the reference crawls pages whose headers
    and footers repeat across every filing, parser.go:326-347).

    Plan (single dedup shuffle, no self-join, no suffix array):

    1. one scan: tokenize, positional ``n``-grams via transform/slice over
       the projected token array (bound once — text.bind),
    2. hash each gram to a 60-bit md5 integer (:func:`sketches.hash60`) so
       the shuffle moves 8-byte keys, never n-word strings — at 100 TB the
       gram text stays in the scan stage,
    3. ONE window shuffle on the gram hash: a gram is cross-doc duplicated
       iff ``min(doc_id) != max(doc_id)`` over its hash partition,
    4. explode each duplicated gram to its ``n`` covered positions and
       count distinct positions per doc (map-side partial agg).

    60-bit hash collisions can merge two distinct grams (same acceptance as
    the minhash family); both engines hash identically so the DuckDB oracle
    is still exact. Docs shorter than ``n`` tokens have no grams and are
    not flagged. Output: (doc_id, n_tok, dup_tokens, dup_frac) for flagged
    docs only, one row per doc.
    """
    from pyspark.sql import Window

    from edgar_spark.operators.sketches import hash60

    d = df.filter(F.col(text_col).isNotNull()).select(
        id_col, F.split(F.trim(F.col(text_col)), r"\s+").alias("_toks")
    ).filter(F.size("_toks") >= n)
    grams = d.select(
        id_col,
        F.size("_toks").alias("n_tok"),
        F.posexplode(
            F.transform(
                F.sequence(F.lit(1), F.size("_toks") - (n - 1)),
                lambda i: F.array_join(F.slice("_toks", i, n), " "),
            )
        ).alias("_p0", "_g"),
    ).select(
        id_col,
        "n_tok",
        (F.col("_p0") + 1).alias("_pos"),
        hash60(F.col("_g")).alias("_gh"),
    )
    w = Window.partitionBy("_gh")
    flagged = (
        grams.withColumn("_mn", F.min(id_col).over(w))
        .withColumn("_mx", F.max(id_col).over(w))
        .filter(F.col("_mn") != F.col("_mx"))
    )
    cov = flagged.select(
        id_col,
        "n_tok",
        F.explode(F.sequence(F.col("_pos"), F.col("_pos") + (n - 1))).alias("_cp"),
    )
    return (
        cov.groupBy(id_col, "n_tok")
        .agg(F.countDistinct("_cp").alias("dup_tokens"))
        .withColumn(
            "dup_frac", F.col("dup_tokens") / F.col("n_tok")
        )
    )


def suffix_dup_spans(
    df: DataFrame,
    min_len: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 64,
) -> DataFrame:
    """EXACT substring-level dedup spans via distributed suffix-array
    prefix doubling — the true algorithm behind Lee et al., "Deduplicating
    Training Data Makes Language Models Better" (their suffix-array cut
    step), where :func:`dup_ngram_spans` is the hashed fixed-n
    approximation. Differences that matter:

    * **no hashing** — substring equality is decided by Manber–Myers rank
      tables (rank_k(p) = canonical min-position of the class of the
      2^k-token window at p), so there are no hash-collision merges;
    * **any threshold** — ``min_len`` can be smaller than the 5-gram
      floor (a 3-token span shared by two docs is invisible to 5-grams);
    * **true maximal spans** — output rows are the maximal runs of token
      positions covered by some cross-document duplicated window of
      ``min_len`` tokens, with their exact token extent, i.e. exactly the
      regions Lee et al.'s pipeline cuts (one shared ℓ-token quote ⇒ one
      row with ``span_len`` = ℓ). Two *distinct* duplicated substrings
      that abut/overlap coalesce into one covered run — the cut semantics,
      documented, not a bug.

    Construction (all integer-exact, SQL-replayable):

    1. docs concatenate in id order with a unique sentinel token
       (``\\x01<doc_id>``) after each doc, so no window ever spans two
       documents (any window containing a sentinel is a singleton class);
       global token positions come from :func:`curation.global_token_offsets`
       (bucketed prefix sum — never a single-partition window);
    2. rank_0 = min global position per distinct token (groupBy + join —
       partial-aggregated, skew-safe where a window min over a hot token
       partition is not);
    3. ⌊log₂ min_len⌋ doubling rounds: rank_k(p) keys on
       (rank_{k-1}(p), rank_{k-1}(p + 2^{k-1})) — one position-equi-join +
       one groupBy-min per round, every shuffled key an 8-byte integer;
    4. the ``min_len``-window class at p is the overlapping pair
       (rank_K(p), rank_K(p + min_len - 2^K)) (sparse-table/LCP
       decomposition); a window is cross-doc duplicated iff its class has
       ``min(doc) != max(doc)``;
    5. marked starts merge into maximal covered intervals per doc: a new
       interval begins where the gap to the previous start exceeds
       ``min_len`` (lag + running-sum window; docs are bounded, so the
       per-doc window is safe).

    Scale: O(log min_len) shuffle rounds *total* — independent of corpus
    size and of the longest duplicate — each round linear in token count
    with map-side combine. The token STRING shuffles exactly once
    (rank_0); everything after moves (bigint, bigint) pairs. Within-doc
    repeats are not flagged (same "at least one OTHER document" contract
    as the rest of the dedup family).

    Output: ``(doc_id, span_start, span_len)`` — 1-based token offset and
    exact token length of each maximal cross-doc duplicated region of at
    least ``min_len`` tokens.
    """
    from pyspark.sql import Window

    from edgar_spark.operators.curation import global_token_offsets
    from edgar_spark.operators.text import tokens

    if min_len < 1:
        raise ValueError("min_len must be >= 1")
    kk = min_len.bit_length() - 1  # floor(log2(min_len))
    tail = min_len - (1 << kk)  # second-half offset of the class pair

    d = (
        df.filter(F.col(text_col).isNotNull())
        .select(F.col(id_col), tokens(F.col(text_col)).alias("_toks"))
        .filter(F.size("_toks") >= 1)
    )
    sized = d.select(
        id_col,
        "_toks",
        F.size("_toks").alias("n_tok"),
        (F.size("_toks") + 1).cast("long").alias("_n_tot"),
    )
    offd = global_token_offsets(sized, id_col, "_n_tot", n_buckets)
    pos = offd.select(
        F.col(id_col).alias("_doc"),
        "n_tok",
        F.posexplode(
            F.concat(
                "_toks",
                F.array(F.concat(F.lit("\x01"), F.col(id_col).cast("string"))),
            )
        ).alias("_p0", "_tok"),
        (F.col("offset") + F.col("_p0") + 1).alias("_g"),
        (F.col("_p0") + 1).alias("_lp"),
    ).drop("_p0")

    r0 = pos.groupBy("_tok").agg(F.min("_g").alias("_r"))
    cur = pos.join(r0, "_tok").select("_doc", "n_tok", "_g", "_lp", "_r")
    for k in range(1, kk + 1):
        # each round references `cur` THREE times (self-shift join + class
        # min + re-join); without a materialization boundary the
        # unmaterialized lineage multiplies ~4× per round — exponential
        # plan size in floor(log2(min_len)). localCheckpoint (same
        # discipline as connected_components / nsw_build) pins each rank
        # table so a round reads the previous round's rows, not its plan.
        cur = cur.localCheckpoint(eager=True)
        delta = 1 << (k - 1)
        shifted = cur.select(
            (F.col("_g") - delta).alias("_g"), F.col("_r").alias("_r2")
        )
        j = cur.join(shifted, "_g", "left").withColumn(
            "_r2", F.coalesce("_r2", -F.col("_g"))
        )
        mins = j.groupBy("_r", "_r2").agg(F.min("_g").alias("_nr"))
        cur = j.join(mins, ["_r", "_r2"]).select(
            "_doc", "n_tok", "_g", "_lp", F.col("_nr").alias("_r")
        )

    # the tail shift + doc-span stages each read `cur`/`cls` twice more —
    # pin the final rank table once so the tail never replays the rounds
    cur = cur.localCheckpoint(eager=True)
    if tail:
        sh = cur.select(
            (F.col("_g") - tail).alias("_g"), F.col("_r").alias("_c2")
        )
        cls = cur.join(sh, "_g", "left").withColumn(
            "_c2", F.coalesce("_c2", -F.col("_g"))
        )
    else:
        cls = cur.withColumn("_c2", F.lit(0).cast("long"))
    docspan = cls.groupBy("_r", "_c2").agg(
        F.min("_doc").alias("_mn"), F.max("_doc").alias("_mx")
    )
    marked = (
        cls.join(docspan, ["_r", "_c2"])
        .filter(
            (F.col("_mn") != F.col("_mx"))
            & (F.col("_lp") <= F.col("n_tok") - (min_len - 1))
        )
        .select("_doc", "_lp")
    )
    w = Window.partitionBy("_doc").orderBy("_lp")
    # interval merge: window starts q, q' cover overlapping/abutting
    # [q, q+min_len) ranges iff q' - q <= min_len — cut-region union,
    # not merely consecutive starts
    runs = marked.withColumn(
        "_new",
        F.when(
            F.col("_lp") - F.lag("_lp").over(w) > min_len, 1
        ).otherwise(0),
    ).withColumn("_rk", F.sum("_new").over(w))
    return (
        runs.groupBy(F.col("_doc").alias(id_col), "_rk")
        .agg(
            F.min("_lp").alias("span_start"),
            (F.max("_lp") - F.min("_lp") + min_len).alias("span_len"),
        )
        .drop("_rk")
    )


# content-defined chunking parameters — LBFS-style (Muthitacharoen et al.
# 2001): a position ends a chunk when the rolling hash of the trailing
# window satisfies the divisor test. Polynomial-mod hash: small enough
# that (mod-1)*base + max-codepoint stays far inside int64 in both
# engines, large enough that the divisor test is unbiased.
CDC_WINDOW = 8
CDC_BASE = 31
CDC_MOD = 1048573  # largest prime < 2^20
CDC_DIVISOR = 64  # expected chunk length ~= divisor


def cdc_chunks(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    window: int = CDC_WINDOW,
    divisor: int = CDC_DIVISOR,
) -> DataFrame:
    """Content-defined chunking — the storage/dedup cut primitive (LBFS,
    FastCDC lineage; crawl archives and CAS stores dedup at the chunk
    grain because byte-identical regions survive edits that shift their
    offsets). Position ``i`` (1-based, ``window <= i < n``) ends a chunk
    when ``poly_hash(chars[i-window+1 .. i]) % divisor == divisor-1``;
    the last chunk always ends at ``n``. Because the cut test reads ONLY
    the trailing window, an insertion near the start shifts at most the
    chunks it touches — boundaries re-synchronize within one window, so
    shared suffixes chunk identically across documents (tested). Plain
    LBFS, no min/max clamp: a clamp makes each cut depend on the
    previous one (sequential state), which would break both the
    parallel per-position form and the SQL oracle.

    One row per chunk: (id, chunk_idx, chunk_len, chunk_hash) with
    ``chunk_hash = md5(chunk text)``. Empty documents yield no rows.

    Plan: codepoints, rolling hashes, and cut positions are nested HOFs
    over the ONE bound text value — the whole chunker fuses into the
    scan projection (O(window) work per char, window=8 constant), then
    chunks Generate out. The codepoint array and the cut list are bound
    too (`text.bind`), so the rolling-hash fold runs once per position
    although the cut list is named three times. Zero Python, zero
    shuffle; downstream census (`cdc_dup_stats`) owns the keyed
    aggregation.
    """
    from edgar_spark.operators.text import bind

    def chunk_structs(t):
        n = F.length(t)

        def with_cps(cps):
            # rolling hash of the window ending at i, as a fold over its
            # positions; cuts = every qualifying i, always closed by n.
            # The fold reads the BOUND codepoint array — one substring
            # call per char total, not one per (char × window slot);
            # measured 8× on the sf0.1 bench (125 s → 15 s warm).
            def win_hash(i):
                return F.aggregate(
                    F.sequence(i - window + 1, i),
                    F.lit(0).cast("bigint"),
                    lambda acc, j: (
                        acc * CDC_BASE + F.element_at(cps, j.cast("int"))
                    ) % CDC_MOD,
                )

            # n <= window: no interior position has a full trailing
            # window — and Spark's sequence(window, n-1) would run
            # DESCENDING there
            cuts = F.when(n <= window, F.array(n)).otherwise(
                F.concat(
                    F.filter(
                        F.sequence(F.lit(window), n - 1),
                        lambda i: win_hash(i) % divisor == divisor - 1,
                    ),
                    F.array(n),
                )
            )
            # chunk i spans (cuts[i-1], cuts[i]]
            return bind(
                cuts,
                lambda cs: F.zip_with(
                    F.concat(F.array(F.lit(0)), F.slice(cs, 1, F.size(cs) - 1)),
                    cs,
                    lambda lo, hi: F.struct(
                        (hi - lo).alias("chunk_len"),
                        F.md5(F.substring(t, lo + 1, hi - lo)).alias(
                            "chunk_hash"
                        ),
                    ),
                ),
            )

        return bind(
            F.transform(
                F.sequence(F.lit(1), n),
                lambda j: F.ascii(F.substring(t, j.cast("int"), 1)).cast(
                    "bigint"
                ),
            ),
            with_cps,
        )

    chunks = bind(F.col(text_col), chunk_structs)
    return (
        df.filter(F.length(F.col(text_col)) > 0)
        .select(id_col, F.posexplode(chunks).alias("chunk_idx", "_c"))
        .select(
            id_col,
            "chunk_idx",
            F.col("_c.chunk_len").alias("chunk_len"),
            F.col("_c.chunk_hash").alias("chunk_hash"),
        )
    )


def cdc_dup_stats(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    window: int = CDC_WINDOW,
    divisor: int = CDC_DIVISOR,
) -> DataFrame:
    """Per-document chunk-level duplication census over `cdc_chunks`:
    (id, n_chunks, n_dup_chunks, dup_chars, total_chars, dup_permille)
    where a chunk is duplicated when its hash occurs more than once in
    the corpus (any document, including this one) and ``dup_permille``
    is the duplicated-char share — the storage-dedup headline number.

    Plan: chunk census is ONE partial-agged groupBy on the 32-hex hash;
    copy counts join back on the same key, then ONE doc-grain aggregate.
    Hashes shuffle, text never does. The chunker itself runs on both
    sides of the join: neither side's exchange is reused.
    """
    chunks = cdc_chunks(df, id_col, text_col, window, divisor)
    census = chunks.groupBy("chunk_hash").agg(
        F.count("*").alias("n_copies")
    )
    tagged = chunks.join(census, "chunk_hash")
    return (
        tagged.groupBy(id_col)
        .agg(
            F.count("*").alias("n_chunks"),
            F.count_if(F.col("n_copies") > 1).alias("n_dup_chunks"),
            F.sum(
                F.when(F.col("n_copies") > 1, F.col("chunk_len")).otherwise(0)
            ).alias("dup_chars"),
            F.sum("chunk_len").alias("total_chars"),
        )
        .selectExpr(
            "*",
            "dup_chars * 1000 div greatest(total_chars, 1) AS dup_permille",
        )
    )


def minhash_bands(
    sigs: DataFrame, bands: int = 16, id_col: str = "doc_id"
) -> DataFrame:
    """(id, band, bucket) LSH banding of a ``(id, sig)`` table — the
    shared front half of `minhash_lsh_candidates`, exposed so pipelines
    that need a NON-default candidate policy (e.g. `incremental_dedup`'s
    batch-vs-corpus asymmetry) reuse the exact banding."""
    n_hashes_col = F.size("sig")
    rows_per_band = (n_hashes_col / bands).cast("int")
    return sigs.select(
        id_col,
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda b: F.slice("sig", b * rows_per_band + 1, rows_per_band),
            )
        ).alias("band", "chunk"),
    ).select(
        id_col, "band", F.xxhash64(F.col("band"), F.col("chunk")).alias("bucket")
    )


def incremental_dedup(
    corpus: DataFrame,
    batch: DataFrame,
    threshold: float = 0.5,
    n_hashes: int = 64,
    bands: int = 16,
    shingle_k: int = 5,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Dedup a NEW crawl batch against an existing clean corpus — the
    production shape of near-dedup: the corpus was already deduped (its
    signatures are a stored artifact; recomputing them here is the
    sandbox stand-in for reading them), so candidate generation must
    never enumerate corpus×corpus pairs. A batch doc is dropped when it
    near-dups (estimated Jaccard ≥ ``threshold``) ANY corpus doc, or
    ANY batch doc with a smaller id (first occurrence wins; the rule is
    one-pass — an earlier blocker that is itself dropped still blocks,
    the standard bulk-filter semantics, no chaining).

    Output: one row per batch doc — (id, is_dup, dup_of) where
    ``dup_of`` is the smallest verified corpus blocker if any, else the
    smallest verified batch blocker, else NULL.

    Plan: both sides band once (`minhash_bands`); the bucket join is
    batch-side × all-side with the asymmetric predicate, so its output
    is O(batch × bucket-mates), never O(corpus²); verification joins
    signatures on ids; the verdict is ONE batch-id-grain aggregate. At
    a 100 TB corpus + 1 TB batch, corpus text never shuffles — only
    its (stored) signatures band.
    """
    sig_c = minhash_signatures(corpus, n_hashes, shingle_k, text_col, id_col)
    sig_b = minhash_signatures(batch, n_hashes, shingle_k, text_col, id_col)
    sigs = sig_c.withColumn("side", F.lit("c")).unionByName(
        sig_b.withColumn("side", F.lit("b"))
    )
    banded = minhash_bands(sigs.select(id_col, "sig"), bands, id_col).join(
        sigs.select(id_col, "side"), id_col
    )
    x = banded.filter(F.col("side") == "b").select(
        F.col(id_col).alias("_bid"), "band", "bucket"
    )
    y = banded.select(
        F.col(id_col).alias("_oid"), F.col("side").alias("_oside"),
        "band", "bucket",
    )
    cand = (
        x.join(y, ["band", "bucket"])
        .filter((F.col("_oside") == "c") | (F.col("_oid") < F.col("_bid")))
        .select("_bid", "_oid", "_oside")
        .distinct()
    )
    sa = sigs.select(F.col(id_col).alias("_bid"), F.col("sig").alias("_sa"))
    sb = sigs.select(F.col(id_col).alias("_oid"), F.col("sig").alias("_sb"))
    est = (
        F.size(
            F.filter(
                F.zip_with("_sa", "_sb", lambda p, q: p == q), lambda e: e
            )
        ).cast("double")
        / F.size("_sa")
    )
    verified = (
        cand.join(sa, "_bid")
        .join(sb, "_oid")
        .filter(est >= threshold)
        .select("_bid", "_oid", "_oside")
    )
    verdict = verified.groupBy("_bid").agg(
        F.min(F.when(F.col("_oside") == "c", F.col("_oid"))).alias("_cmin"),
        F.min(F.when(F.col("_oside") == "b", F.col("_oid"))).alias("_bmin"),
    )
    return (
        batch.select(F.col(id_col))
        .join(verdict, F.col(id_col) == F.col("_bid"), "left")
        .select(
            id_col,
            F.col("_bid").isNotNull().alias("is_dup"),
            F.coalesce(F.col("_cmin"), F.col("_bmin")).alias("dup_of"),
        )
    )


def cut_spans(
    df: DataFrame,
    spans: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    start_col: str = "span_start",
    len_col: str = "span_len",
) -> DataFrame:
    """Apply the duplicate-span CUT — the step Lee et al. 2022 actually
    take after finding spans (they remove the duplicated substring and
    keep the remainder, rather than dropping whole documents):
    given ``spans`` rows (id, span_start, span_len) in 1-based token
    coordinates (the exact output shape of :func:`suffix_dup_spans` and
    :func:`dup_ngram_spans`), delete those token ranges from each
    document and reassemble the survivors in order.

    Overlapping/abutting spans union naturally (a token goes if ANY span
    covers it); docs with no spans pass through whole; empty docs yield
    an empty clean text. Returns one row per input doc:
    ``(id, n_tokens, n_cut, clean_text)``.

    Scale shape: spans collapse to one array per doc (span count per doc
    is small — they are maximal runs), join back on the id key (AQE
    broadcasts the span side: flagged docs ≪ corpus), and the per-token
    coverage test is a nested HOF ``filter``/``exists`` fused into the
    projection — O(n_tok · n_spans) per doc, zero Python, and the
    corpus text never shuffles (the only exchange is the span-side
    groupBy at flagged-doc scale).
    """
    from edgar_spark.operators.text import bind, tokens

    sp = spans.groupBy(id_col).agg(
        F.collect_list(
            F.struct(
                F.col(start_col).cast("long").alias("s"),
                F.col(len_col).cast("long").alias("l"),
            )
        ).alias("_spans")
    )
    j = df.join(sp, id_col, "left")
    sarr = F.coalesce(
        F.col("_spans"),
        F.expr("CAST(array() AS array<struct<s:bigint,l:bigint>>)"),
    )

    def body(toks: Column) -> Column:
        kept = F.filter(
            toks,
            lambda t, i: ~F.exists(
                sarr,
                lambda s: (i + 1 >= s["s"]) & (i + 1 < s["s"] + s["l"]),
            ),
        )
        return F.struct(
            F.size(toks).cast("long").alias("n_tokens"),
            (F.size(toks) - F.size(kept)).cast("long").alias("n_cut"),
            F.array_join(kept, " ").alias("clean_text"),
        )

    return j.select(
        id_col, bind(tokens(F.col(text_col)), body).alias("_r")
    ).select(id_col, "_r.n_tokens", "_r.n_cut", "_r.clean_text")


def ngram_novelty(
    df: DataFrame,
    n: int = 5,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document n-gram novelty — the corpus-level duplication score
    Gopher's dataset analysis reports (what fraction of a document is
    boilerplate the rest of the corpus already contains?): the share of
    a doc's DISTINCT word ``n``-grams that appear in at least one OTHER
    document. Complements the pairwise operators (`ngram_jaccard` ranks
    doc PAIRS; this scores each doc against the whole corpus in one
    pass) and the span operators (`dup_ngram_spans` locates positions;
    this is the scalar gate a curation pipeline thresholds on).

    Short docs (< n tokens) contribute their whole-token-array shingle
    (the `word_shingles` convention); empty docs emit no grams and are
    absent from the output.

    Returns ``(id, n_shingles, n_shared, novelty_permille)`` with
    ``novelty_permille = 1000·(n_shingles - n_shared) div n_shingles``.

    Scale shape: distinct grams explode once; the gram census is ONE
    partial-aggregated groupBy on the gram key and the membership join
    rides the SAME key (Catalyst reuses the exchange), then one
    doc-grain aggregate. A gram shared by 10^6 docs costs its partition
    count in the census (map-side combine), and since per-doc grams are
    DISTINCT the join fan-out is bounded by doc length, not corpus
    popularity.
    """
    from edgar_spark.operators.text import word_shingles

    sh = (
        df.select(
            F.col(id_col),
            F.explode(word_shingles(F.col(text_col), n)).alias("_g"),
        )
        .filter(F.col("_g") != "")
    )
    census = sh.groupBy("_g").agg(F.count("*").alias("_dc"))
    return (
        sh.join(census, "_g")
        .groupBy(id_col)
        .agg(
            F.count("*").cast("long").alias("n_shingles"),
            F.sum((F.col("_dc") >= 2).cast("long"))
            .cast("long")
            .alias("n_shared"),
        )
        .select(
            id_col,
            "n_shingles",
            "n_shared",
            F.expr(
                "1000 * (n_shingles - n_shared) div n_shingles"
            ).alias("novelty_permille"),
        )
    )
