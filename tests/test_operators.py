"""Unit tests for the training-data-pipeline operators."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def docs(spark):
    base = " ".join(f"token{i}" for i in range(100))
    near = " ".join(f"token{i}" for i in range(97)) + " changed words here"
    english = "the quick brown fox jumps over the lazy dog " * 10
    rows = [
        (1, base),
        (2, base),  # exact dup of 1
        (3, near),  # near dup of 1 (tail changed)
        (4, "completely different text about spark engines and parquet files"),
        (5, ""),
        (6, english),
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_exact_dedup(docs):
    from edgar_spark.operators.dedup import exact_dedup

    out = {r["doc_id"]: r["n_copies"] for r in exact_dedup(docs).collect()}
    assert out[1] == 2  # doc 2 collapsed into doc 1
    assert 2 not in out
    assert out[3] == 1 and out[4] == 1


def test_minhash_near_dups(docs):
    from edgar_spark.operators.dedup import minhash_dedup_pairs

    pairs = {
        (r["id_a"], r["id_b"]): r["est_jaccard"]
        for r in minhash_dedup_pairs(docs, threshold=0.5).collect()
    }
    assert pairs[(1, 2)] == 1.0  # identical docs: all signatures match
    assert (1, 3) in pairs  # near dup detected
    assert all(a != 4 and b != 4 for a, b in pairs)  # unrelated doc untouched


def test_dedup_representatives(docs, spark):
    from edgar_spark.operators.dedup import dedup_representatives, minhash_dedup_pairs

    pairs = minhash_dedup_pairs(docs, threshold=0.5)
    reps = {
        r["doc_id"]: r["representative"]
        for r in dedup_representatives(pairs, docs.select("doc_id")).collect()
    }
    assert reps[2] == 1 and reps[3] == 1
    assert reps[1] == 1 and reps[4] == 4


def test_ngram_jaccard_explicit_pairs(docs, spark):
    """Candidate pairs from any source (LSH buckets, explicit list) — not
    just the consecutive-id special case."""
    from edgar_spark.operators.dedup import ngram_jaccard

    pairs = spark.createDataFrame([(1, 2), (1, 4), (1, 6)], ["id_a", "id_b"])
    out = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in ngram_jaccard(docs, docs, n=3, pairs=pairs).collect()
    }
    assert set(out) == {(1, 2), (1, 4), (1, 6)}
    assert out[(1, 2)] == 1.0  # identical docs
    assert out[(1, 4)] == 0.0  # disjoint vocab


def test_connected_components_chain(spark):
    """Transitive chains (A≈B≈C but A≉C) must collapse to one component —
    the exact case single-hop representative picking gets wrong."""
    from edgar_spark.operators.dedup import connected_components, dedup_representatives

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (10, 11), (20, 21), (21, 22), (22, 23)],
        ["id_a", "id_b"],
    )
    comp = {r["id"]: r["component"] for r in connected_components(pairs).collect()}
    assert comp == {
        1: 1, 2: 1, 3: 1, 4: 1, 5: 1,
        10: 10, 11: 10,
        20: 20, 21: 20, 22: 20, 23: 20,
    }
    all_ids = spark.createDataFrame(
        [(i,) for i in [1, 2, 3, 4, 5, 7, 10, 11, 20, 21, 22, 23]], ["doc_id"]
    )
    reps = {
        r["doc_id"]: r["representative"]
        for r in dedup_representatives(pairs, all_ids).collect()
    }
    assert reps[5] == 1  # 4 hops away from the representative
    assert reps[7] == 7  # unpaired doc represents itself
    assert reps[23] == 20


def test_simhash_similarity(docs):
    from edgar_spark.operators.dedup import simhash_signatures

    sig = {r["doc_id"]: r["simhash"] for r in simhash_signatures(docs).collect()}
    assert sig[1] == sig[2]  # identical text, identical fingerprint

    def ham(a, b):
        # fingerprints are signed 64-bit reinterpretations: mask the xor
        # back to 64 unsigned bits before popcount (bin() of a negative
        # int would count the magnitude instead)
        return bin((a ^ b) & ((1 << 64) - 1)).count("1")

    assert ham(sig[1], sig[3]) < ham(sig[1], sig[4])  # near dup closer
    assert sig[5] == 0


def test_simhash_near_dups(docs):
    from edgar_spark.operators.dedup import simhash_near_dups

    pairs = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in simhash_near_dups(docs, max_hamming=3).collect()
    }
    assert pairs[(1, 2)] == 0  # identical docs: identical fingerprints
    assert all(a != 4 and b != 4 for (a, b) in pairs)  # unrelated doc absent
    import pytest

    with pytest.raises(ValueError):
        simhash_near_dups(docs, max_hamming=4, n_chunks=4)  # pigeonhole bound


def test_simhash_combination_banding_equivalence(spark):
    """Combination banding (wide keys, n_chunks > max_hamming+1) is exact:
    the pair set on a real corpus must equal the classic single-chunk
    16-bit banding's, for both a hand-picked wide setting and the
    auto-selected one."""
    from edgar_spark.operators.dedup import simhash_near_dups

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")

    def pair_set(**kw):
        return {
            (r["id_a"], r["id_b"], r["hamming"])
            for r in simhash_near_dups(docs, max_hamming=3, **kw).collect()
        }

    classic = pair_set(n_chunks=4)
    assert classic  # the fixture must actually contain near-dups
    assert pair_set(n_chunks=6) == classic  # C(6,3)=20 keys, ~32-bit wide
    # auto path: a claimed 10^9-doc corpus picks wider-than-16-bit keys
    assert pair_set(n_chunks=None, corpus_count=10**9) == classic


def test_simhash_whole_hash_chunk(spark):
    """max_hamming=0 auto-selects a single 64-bit chunk (exact-fingerprint
    radius); the full-width chunk must not overflow the long mask literal,
    and the pair set must equal the 2x32 banding's."""
    from edgar_spark.operators.dedup import auto_simhash_chunks, simhash_near_dups

    assert auto_simhash_chunks(10**3, 0) == 1
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")

    def pair_set(**kw):
        return {
            (r["id_a"], r["id_b"])
            for r in simhash_near_dups(docs, max_hamming=0, **kw).collect()
        }

    whole = pair_set(n_chunks=None, corpus_count=10**3)  # 1 chunk of 64 bits
    assert whole  # exact dup fingerprints exist in the fixture
    assert whole == pair_set(n_chunks=2)


def test_simhash_dedup_edges_dup_heavy(spark):
    """The signature-collapsed edge set must (a) produce the same clusters
    as the full quadratic pair set and (b) stay linear where the pair set
    is quadratic — a 60-copy boilerplate doc yields 59 star edges, not
    60·59/2 pairs."""
    import pandas as pd

    from edgar_spark.operators.dedup import (
        dedup_representatives,
        simhash_dedup_edges,
        simhash_near_dups,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").select(
        "doc_id", "text"
    )
    boiler = docs.orderBy("doc_id").first()["text"]
    copies = spark.createDataFrame(
        pd.DataFrame(
            {"doc_id": [100_000 + i for i in range(60)], "text": [boiler] * 60}
        )
    )
    aug = docs.unionByName(copies)

    pairs = simhash_near_dups(aug, max_hamming=3, n_chunks=4)
    edges = simhash_dedup_edges(aug, max_hamming=3)
    n_pairs, n_edges = pairs.count(), edges.count()
    assert n_pairs >= 60 * 61 // 2  # the quadratic blowup is real
    assert n_edges < n_pairs / 10  # and the edge set avoids it

    all_ids = aug.select("doc_id")
    reps_pairs = {
        (r["doc_id"], r["representative"])
        for r in dedup_representatives(pairs, all_ids).collect()
    }
    reps_edges = {
        (r["doc_id"], r["representative"])
        for r in dedup_representatives(edges, all_ids).collect()
    }
    assert reps_pairs == reps_edges  # identical clustering


def test_minhash_dedup_edges_dup_heavy(spark):
    """MinHash twin of the signature-collapse edge set: same clusters as
    the quadratic pair pipeline, linear edge count on a 60-copy doc."""
    import pandas as pd

    from edgar_spark.operators.dedup import (
        dedup_representatives,
        minhash_dedup_edges,
        minhash_dedup_pairs,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").select(
        "doc_id", "text"
    )
    boiler = docs.orderBy("doc_id").first()["text"]
    copies = spark.createDataFrame(
        pd.DataFrame(
            {"doc_id": [100_000 + i for i in range(60)], "text": [boiler] * 60}
        )
    )
    aug = docs.unionByName(copies)

    pairs = minhash_dedup_pairs(aug, threshold=0.5)
    edges = minhash_dedup_edges(aug, threshold=0.5)
    n_pairs, n_edges = pairs.count(), edges.count()
    assert n_pairs >= 60 * 61 // 2
    assert n_edges < n_pairs / 10

    all_ids = aug.select("doc_id")
    reps_of = lambda e: {  # noqa: E731
        (r["doc_id"], r["representative"])
        for r in dedup_representatives(e, all_ids).collect()
    }
    assert reps_of(pairs) == reps_of(edges)


def test_auto_simhash_chunks_bounds():
    """Auto-selection widens the join key as the corpus grows, keeps the
    pigeonhole minimum for small corpora, and caps keys-per-doc at 64."""
    import math

    from edgar_spark.operators.dedup import _chunk_widths, auto_simhash_chunks

    assert auto_simhash_chunks(10**4, 3) == 4  # small corpus: classic 4×16
    assert auto_simhash_chunks(10**4, 1) == 2  # hamming 1: 2×32 suffices
    grows = [auto_simhash_chunks(n, 3) for n in (10**6, 10**7, 10**9, 10**12)]
    assert grows == sorted(grows) and grows[-1] > 4
    for n in (10**6, 10**9, 10**12, 10**15):
        for h in (1, 2, 3):
            c = auto_simhash_chunks(n, h)
            r = c - h
            assert r >= 1 and math.comb(c, r) <= 64
            # expected bucket load bounded whenever a feasible width exists
            key_width = sum(sorted(_chunk_widths(c))[:r])
            if key_width < 62:
                feasible = any(
                    math.comb(cc, cc - h) <= 64
                    and n / 2 ** sum(sorted(_chunk_widths(cc))[: cc - h]) <= 16
                    for cc in range(h + 1, 17)
                )
                if feasible:
                    assert n / 2**key_width <= 16


def test_brute_force_vs_ann(spark):
    from edgar_spark.operators.similarity import ann_topk, brute_force_topk

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    q = emb.filter(F.col("vec_id") < 5)
    exact = brute_force_topk(emb, q, k=3)
    assert exact.count() == 15
    r = exact.filter("rank = 1").collect()
    assert all(-1.0 <= row["cos_sim"] <= 1.0 + 1e-9 for row in r)
    approx = ann_topk(emb, q, dim=len(emb.first()["embedding"]), k=3, n_planes=4)
    # approximate results are a subset of valid neighbors with correct shape
    assert set(approx.columns) == {"query_id", "neighbor_id", "cos_sim_r", "rank"}
    assert approx.filter("query_id = neighbor_id").count() == 0


def test_ivf_topk(spark):
    from edgar_spark.operators.similarity import ivf_topk

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    q = emb.filter(F.col("vec_id") < 5)
    out = ivf_topk(emb, q, k=3, n_centroids=8, n_probe=2).collect()
    assert {r["query_id"] for r in out} <= set(range(5))
    assert all(r["neighbor_id"] != r["query_id"] for r in out)
    assert all(1 <= r["rank"] <= 3 for r in out)
    per_q: dict = {}
    for r in out:
        per_q.setdefault(r["query_id"], []).append(r["rank"])
    assert all(sorted(v) == list(range(1, len(v) + 1)) for v in per_q.values())


def test_kmeans_centroids(spark):
    """Deterministic Lloyd's: identical across runs, right shape, and the
    trained centroids fit the data at least as well as the raw seeds."""
    import numpy as np

    from edgar_spark.operators.similarity import ivf_assign, kmeans_centroids

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    dim = len(emb.first()["embedding"])
    c1 = kmeans_centroids(emb, k=4, n_iter=3)
    c2 = kmeans_centroids(emb, k=4, n_iter=3)
    assert c1.shape == (4, dim)
    assert (c1 == c2).all()  # no RNG anywhere

    def mean_best_cos(cmat):
        a = ivf_assign(emb, cmat, np.arange(len(cmat)), n_probe=1)
        vecs = {r["vec_id"]: np.array(r["embedding"], dtype=np.float64)
                for r in emb.collect()}
        sims = []
        for r in a.collect():
            v, c = vecs[r["vec_id"]], cmat[r["centroid_id"]]
            sims.append(v @ c / (np.linalg.norm(v) * np.linalg.norm(c)))
        return float(np.mean(sims))

    seeds = np.array(
        [r["embedding"] for r in emb.orderBy("vec_id").limit(4).collect()],
        dtype=np.float64,
    )
    assert mean_best_cos(c1) >= mean_best_cos(seeds) - 1e-9

    # mean_round_dp (the oracle-able mode): quantized per-round means,
    # training still actually moves the centroids off the seeds
    cq = kmeans_centroids(emb, k=4, n_iter=2, mean_round_dp=9)
    assert (cq == np.round(cq, 9)).all()
    assert not np.array_equal(cq, seeds)


def test_embedding_near_dups(spark):
    from edgar_spark.operators.similarity import embedding_near_dups

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    dim = len(emb.first()["embedding"])
    dups = embedding_near_dups(emb, dim=dim, threshold=0.99, n_planes=4)
    assert all(r["id_a"] < r["id_b"] for r in dups.collect())


def test_text_ops(docs):
    from edgar_spark.operators.text import (
        bpe_ish_token_count,
        fingerprint,
        lang_id,
        quality_score,
        token_count,
    )

    tc = {r["doc_id"]: r["n"] for r in docs.select("doc_id", token_count(F.col("text")).alias("n")).collect()}
    assert tc[6] == 90 and tc[5] == 0
    bp = {r["doc_id"]: r["n"] for r in docs.select("doc_id", bpe_ish_token_count(F.col("text")).alias("n")).collect()}
    assert bp[6] >= tc[6]  # subword pieces ≥ words
    langs = {r["doc_id"]: r["pred_lang"] for r in lang_id(docs).collect()}
    assert langs[6] == "en" and langs[5] == "und"
    qs = {r["doc_id"]: r["quality_score"] for r in quality_score(docs).collect()}
    assert qs[6] > qs[5]
    fp = {r["doc_id"]: r["fingerprint"] for r in fingerprint(docs).collect()}
    assert fp[1] == fp[2] and fp[1] != fp[3]


def test_asof_join(spark):
    from datetime import datetime as dt

    from edgar_spark.operators.asof import asof_join

    left = spark.createDataFrame(
        [
            (1, 10, dt(2024, 1, 1, 0, 0)),   # before any right row -> NULL
            (2, 10, dt(2024, 1, 1, 1, 0)),   # exactly at right ts -> inclusive
            (3, 10, dt(2024, 1, 1, 3, 0)),   # between -> earlier right wins
            (4, 20, dt(2024, 1, 1, 5, 0)),   # other key
            (5, 30, dt(2024, 1, 1, 5, 0)),   # key with no right rows -> NULL
        ],
        ["event_id", "user_id", "ts"],
    )
    right = spark.createDataFrame(
        [
            (10, dt(2024, 1, 1, 1, 0), 100.0),
            (10, dt(2024, 1, 1, 1, 0), 150.0),  # same-ts dup: max value wins
            (10, dt(2024, 1, 1, 2, 0), 200.0),
            (20, dt(2024, 1, 1, 4, 0), 300.0),
        ],
        ["user_id", "ts", "value"],
    )
    out = {
        r["event_id"]: r["asof_value"]
        for r in asof_join(
            left, right, key="user_id", ts="ts", value_col="value"
        ).collect()
    }
    assert out == {1: None, 2: 150.0, 3: 200.0, 4: 300.0, 5: None}


def test_asof_join_null_right_value(spark):
    """A right ROW with a NULL value still matches (ASOF LEFT JOIN
    semantics): NULL is attached, not skipped in favor of an older row."""
    from datetime import datetime as dt

    from pyspark.sql.types import (
        DoubleType,
        IntegerType,
        StructField,
        StructType,
        TimestampType,
    )

    from edgar_spark.operators.asof import asof_join

    left = spark.createDataFrame(
        [(1, 10, dt(2024, 1, 1, 3, 0))], ["event_id", "user_id", "ts"]
    )
    rschema = StructType(
        [
            StructField("user_id", IntegerType()),
            StructField("ts", TimestampType()),
            StructField("value", DoubleType()),
        ]
    )
    right = spark.createDataFrame(
        [(10, dt(2024, 1, 1, 1, 0), 100.0), (10, dt(2024, 1, 1, 2, 0), None)],
        rschema,
    )
    out = asof_join(left, right, key="user_id", ts="ts", value_col="value").collect()
    assert out[0]["asof_value"] is None  # the t2 row wins, value NULL


def test_redact_pii(spark):
    from edgar_spark.operators.text import redact_pii

    rows = [
        (1, "mail me at jane.doe+x@sub.example.co.uk or call 555-123-4567 now"),
        (2, "ssn 123-45-6789 twice 987-65-4321, phone 555.867.5309"),
        (3, "no pii here, just 12345 and v1.2.3 and a@b"),  # a@b: TLD too short
        (4, ""),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r["doc_id"]: r for r in redact_pii(df).collect()}

    assert out[1]["n_email"] == 1 and out[1]["n_phone"] == 1
    assert "<EMAIL>" in out[1]["clean_text"] and "<PHONE>" in out[1]["clean_text"]
    assert "jane.doe" not in out[1]["clean_text"]
    assert out[2]["n_ssn"] == 2 and out[2]["n_phone"] == 1
    assert out[2]["clean_text"].count("<ID>") == 2
    assert out[3]["n_email"] == out[3]["n_ssn"] == out[3]["n_phone"] == 0
    assert out[3]["clean_text"] == rows[2][1]  # untouched
    assert out[4]["clean_text"] == ""


def test_ngram_contamination(spark):
    from edgar_spark.operators.text import ngram_contamination, word_shingles

    probe = spark.createDataFrame(
        [(100, "alpha beta gamma delta epsilon zeta")], ["doc_id", "text"]
    )
    docs = spark.createDataFrame(
        [
            (1, "xx alpha beta gamma delta epsilon yy"),  # 1 overlapping 5-gram
            (2, "alpha beta gamma delta epsilon zeta eta"),  # 2 of probe's 2 grams
            (3, "totally unrelated words in this document here"),
            (4, "beta gamma delta epsilon"),  # shorter than n: whole-doc shingle, no match
        ],
        ["doc_id", "text"],
    )
    out = {r["doc_id"]: r["n_overlap"] for r in ngram_contamination(docs, probe, n=5).collect()}
    assert out == {1: 1, 2: 2}

    # whole-token shingle for short docs (same contract as the Jaccard ops)
    sh = (
        spark.range(1)
        .select(word_shingles(F.lit("a b"), 5).alias("s"))
        .collect()[0]["s"]
    )
    assert sh == ["a b"]


def test_bucket_cap_equivalence_and_overflow(spark):
    """Per-bucket size cap: a huge cap reproduces the uncapped pair set
    exactly; a small cap turns hot-bucket all-pairs into linear star
    candidates that still verify and still connect every member."""
    from edgar_spark.operators.dedup import (
        minhash_dedup_pairs,
        minhash_lsh_candidates,
        minhash_signatures,
        simhash_near_dups,
    )

    base = " ".join(f"w{i}" for i in range(40))
    rows = [(i, base + f" tail{i % 3}") for i in range(30)]
    rows += [(100, "entirely different content about something else here now")]
    df = spark.createDataFrame(rows, ["doc_id", "text"])

    uncapped = {
        (r["id_a"], r["id_b"], r["est_jaccard"])
        for r in minhash_dedup_pairs(df, threshold=0.5).collect()
    }
    big_cap = {
        (r["id_a"], r["id_b"], r["est_jaccard"])
        for r in minhash_dedup_pairs(df, threshold=0.5, bucket_cap=10**6).collect()
    }
    assert big_cap == uncapped

    # hot buckets: 30 near-identical docs (3 tail variants) co-bucket in
    # groups of 10 or 30 — every bucket overflows cap=5, so candidates are
    # ONLY star pairs to some bucket-local min id (0, 1, or 2), linear in
    # the cluster size instead of the 435 uncapped pairs.
    sigs = minhash_signatures(df)
    cand = minhash_lsh_candidates(sigs, bucket_cap=5).collect()
    cand_pairs = {(r["id_a"], r["id_b"]) for r in cand}
    assert all(a in {0, 1, 2} for a, _ in cand_pairs)  # stars only
    assert len(cand_pairs) <= 3 * 29  # linear bound (uncapped = 435)

    capped = minhash_dedup_pairs(df, threshold=0.5, bucket_cap=5).collect()
    assert all(r["est_jaccard"] >= 0.5 for r in capped)
    # transitive closure over the star edges still reaches every member
    parent = {i: i for i in range(30)}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for r in capped:
        parent[find(r["id_a"])] = find(r["id_b"])
    assert len({find(i) for i in range(30)}) == 1

    # simhash path: same contract, big cap ≡ uncapped
    sim_uncapped = {
        (r["id_a"], r["id_b"], r["hamming"])
        for r in simhash_near_dups(df, max_hamming=3).collect()
    }
    sim_big = {
        (r["id_a"], r["id_b"], r["hamming"])
        for r in simhash_near_dups(df, max_hamming=3, bucket_cap=10**6).collect()
    }
    assert sim_big == sim_uncapped
    sim_capped = simhash_near_dups(df, max_hamming=3, bucket_cap=5).collect()
    assert all(r["hamming"] <= 3 for r in sim_capped)  # verify still exact


def test_repetition_stats_and_filter(spark):
    """Gopher-style repetition fractions on crafted docs: degenerate
    repetition maxes the metrics, varied text stays low, empty/single-token
    docs keep a zeroed row."""
    from edgar_spark.operators.text import repetition_filter, repetition_stats

    rows = [
        (1, "spam spam spam spam"),              # one word: all fracs 1.0
        (2, "a b c d e f g h"),                  # all distinct: no repetition
        (3, "x y x y x y"),                      # alternating: dup bigrams
        (4, ""),                                 # empty: zero row survives
        (5, "solo"),                             # 1 token: no bigrams
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r["doc_id"]: r for r in repetition_stats(df).collect()}

    assert out[1]["n_tokens"] == 4
    assert out[1]["top_word_frac"] == 1.0
    assert out[1]["top_bigram_frac"] == 1.0 and out[1]["dup_bigram_frac"] == 1.0
    assert out[2]["top_word_frac"] == 0.125
    assert out[2]["dup_bigram_frac"] == 0.0
    # "x y" appears 3 of 5 bigram positions, "y x" the other 2 — all dup'd
    assert out[3]["top_bigram_frac"] == 0.6
    assert out[3]["dup_bigram_frac"] == 1.0
    assert out[4]["n_tokens"] == 0 and out[4]["top_word_frac"] == 0.0
    assert out[5]["n_tokens"] == 1 and out[5]["top_bigram_frac"] == 0.0

    kept = {r["doc_id"] for r in repetition_filter(df, 0.2, 0.6).collect()}
    # 1 and 5 fail top_word_frac, 3 fails dup_bigram_frac; the empty doc
    # has zero repetition — dropping empties is a length filter's job
    assert kept == {2, 4}


def test_line_dedup(spark):
    """Lines shared by ≥2 distinct documents vanish everywhere; order of
    survivors is preserved; a fully-boilerplate doc keeps an empty row;
    within-doc repetition alone does not trigger removal."""
    from edgar_spark.operators.curation import line_dedup

    rows = [
        (1, "cookie banner\nreal content one\nfooter"),
        (2, "cookie banner\nreal content two\nfooter"),
        (3, "cookie banner\nfooter"),                    # all boilerplate
        (4, "solo line\nsolo line"),                     # same doc twice: kept
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r["doc_id"]: r for r in line_dedup(df, min_docs=2).collect()}

    assert out[1]["text"] == "real content one"
    assert out[1]["n_lines"] == 3 and out[1]["n_kept"] == 1
    assert out[2]["text"] == "real content two"
    assert out[3]["text"] == "" and out[3]["n_kept"] == 0
    assert out[4]["text"] == "solo line\nsolo line" and out[4]["n_kept"] == 2

    # multi-char delimiter with regex metachars: every char escaped
    df2 = spark.createDataFrame(
        [(1, "shared()rest one"), (2, "shared()rest two")], ["doc_id", "text"]
    )
    out2 = {r["doc_id"]: r for r in line_dedup(df2, delim="()").collect()}
    assert out2[1]["text"] == "rest one" and out2[1]["n_lines"] == 2


def test_to_lines(spark):
    """8-token lining splits flat text into \\n-joined lines; short and
    empty docs degrade gracefully."""
    from edgar_spark.operators.curation import to_lines

    df = spark.createDataFrame(
        [(1, " ".join(f"w{i}" for i in range(19))), (2, "a b"), (3, "")],
        ["doc_id", "text"],
    )
    out = {
        r["doc_id"]: r["lined"]
        for r in df.select("doc_id", to_lines(F.col("text"), 8).alias("lined")).collect()
    }
    assert out[1].split("\n") == [
        " ".join(f"w{i}" for i in range(8)),
        " ".join(f"w{i}" for i in range(8, 16)),
        " ".join(f"w{i}" for i in range(16, 19)),
    ]
    assert out[2] == "a b"
    assert out[3] == ""


def test_corpus_mix(spark):
    """Budgeted admission in deterministic md5 order: each source stops
    once its cumulative token count crosses the budget (the crossing doc
    is admitted), unknown sources fall back to the default budget or are
    dropped when none is given."""
    from edgar_spark.operators.curation import corpus_mix

    rows = [
        (i, "tok " * 10, f"s{i % 2}") for i in range(20)
    ]  # 10 tokens per doc, sources s0/s1 with 10 docs = 100 tokens each
    df = spark.createDataFrame(rows, ["doc_id", "text", "source"])

    out = corpus_mix(df, budgets={"s0": 35}, default_budget=11).collect()
    by_src = {}
    for r in out:
        by_src.setdefault(r["source"], []).append(r)
    # s0: docs admitted while cum−n_tok < 35 → cum 10,20,30,40 — 4 docs
    assert len(by_src["s0"]) == 4
    assert sorted(r["cum_tok"] for r in by_src["s0"]) == [10, 20, 30, 40]
    # s1 under default 11 → cum 10, 20 admitted (20−10 < 11), 2 docs
    assert len(by_src["s1"]) == 2

    # determinism: same selection regardless of partitioning
    again = corpus_mix(
        df.repartition(7), budgets={"s0": 35}, default_budget=11
    ).collect()
    assert {r["doc_id"] for r in again} == {r["doc_id"] for r in out}

    # no default → unknown sources dropped entirely
    only_s0 = corpus_mix(df, budgets={"s0": 35}).collect()
    assert {r["source"] for r in only_s0} == {"s0"}

    # empty budgets dict + uniform default: every source gets the default
    uniform = corpus_mix(df, budgets={}, default_budget=25).collect()
    assert {r["source"] for r in uniform} == {"s0", "s1"}
    assert len(uniform) == 6  # 3 docs per source (cum 10,20,30)
    assert corpus_mix(df, budgets={}).count() == 0


def test_chunk_docs(spark):
    """Stride arithmetic: n ≤ chunk_size → one chunk; overlap windows
    share `overlap` tokens; no tail chunk fully contained in its
    predecessor; empty docs vanish."""
    from edgar_spark.operators.curation import chunk_docs

    toks = [f"t{i}" for i in range(23)]
    df = spark.createDataFrame(
        [(1, " ".join(toks)), (2, "a b c"), (3, "")], ["doc_id", "text"]
    )
    out = chunk_docs(df, chunk_size=10, overlap=2).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r["doc_id"], {})[r["chunk_id"]] = r

    # doc 1: stride 8, n=23 → ceil((23−10)/8)+1 = 3 chunks
    assert sorted(by_doc[1]) == [0, 1, 2]
    assert by_doc[1][0]["chunk_text"].split() == toks[0:10]
    assert by_doc[1][1]["chunk_text"].split() == toks[8:18]
    assert by_doc[1][2]["chunk_text"].split() == toks[16:23]
    assert by_doc[1][2]["n_chunk_tokens"] == 7
    # doc 2 fits in one chunk; doc 3 yields nothing
    assert sorted(by_doc[2]) == [0] and by_doc[2][0]["n_chunk_tokens"] == 3
    assert 3 not in by_doc

    # n_chunk_tokens counts slice elements (oracle semantics), even when
    # a leading tab survives trim and tokenizes to an empty-string token
    tabbed = chunk_docs(
        spark.createDataFrame([(9, "\ta b c")], ["doc_id", "text"]),
        chunk_size=3,
        overlap=1,
    ).collect()
    assert [r["n_chunk_tokens"] for r in sorted(tabbed, key=lambda r: r["chunk_id"])] == [3, 2]

    import pytest as _pytest

    with _pytest.raises(ValueError):
        chunk_docs(df, chunk_size=4, overlap=4)


def test_global_token_offsets_sparse_ids(spark):
    """Rank-based bucketing: a huge outlier id must not collapse the
    prefix sum into one bucket (the value-range failure mode), and the
    offsets must equal the naive sorted cumsum exactly."""
    from edgar_spark.operators.curation import global_token_offsets

    rows = [(i, (i % 7) + 1) for i in range(100)] + [(10**12, 5)]
    df = spark.createDataFrame(rows, ["doc_id", "n_tok"])
    out = {r["doc_id"]: r["offset"] for r in
           global_token_offsets(df, n_buckets=16).collect()}

    expect, acc = {}, 0
    for i, n in sorted(rows):
        expect[i] = acc
        acc += n
    assert out == expect

    # the quantile boundaries actually spread the dense mass (the
    # value-range scheme would put all 100 dense ids into bucket 0)
    qs = [i / 16 for i in range(1, 16)]
    bounds = df.stat.approxQuantile("doc_id", qs, 0.001)
    assert len({b for b in bounds if b < 100}) >= 8


def test_source_quota_and_canonical_select(spark):
    """Quota keeps exactly k best-quality docs per source (rank order
    consistent with the rounded score); canonical selection collapses a
    shared-prefix cluster to one winner carrying the cluster size."""
    from edgar_spark.operators.curation import canonical_doc_select, source_quota

    base = "the and of to a in is it "  # 8 stopword tokens: shared prefix
    rows = [
        (1, base + "rich extra content words here today", "s0"),
        (2, base + "x", "s0"),
        (3, "zz yy", "s0"),
        (4, "totally different text with words", "s1"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text", "source"])

    quota = source_quota(df, k=2).collect()
    by_src = {}
    for r in quota:
        by_src.setdefault(r["source"], []).append(r)
    assert len(by_src["s0"]) == 2 and len(by_src["s1"]) == 1
    s0 = sorted(by_src["s0"], key=lambda r: r["rk"])
    assert s0[0]["quality_score"] >= s0[1]["quality_score"]

    sel = canonical_doc_select(df, prefix_tokens=8).collect()
    by_id = {r["doc_id"]: r for r in sel}
    # docs 1 and 2 share the 8-token fingerprint: one winner, size 2
    assert (1 in by_id) != (2 in by_id)
    winner = by_id.get(1) or by_id.get(2)
    assert winner["cluster_size"] == 2
    assert by_id[3]["cluster_size"] == 1 and by_id[4]["cluster_size"] == 1


def test_pack_sequences(spark):
    """Packing manifest: spans tile every sequence exactly, documents
    split across boundaries keep contiguous token ranges, and the
    result is invariant to the prefix-sum bucket count."""
    from edgar_spark.operators.curation import pack_sequences

    rows = [
        (1, " ".join(f"a{i}" for i in range(7))),   # 7 tokens
        (2, " ".join(f"b{i}" for i in range(10))),  # 10 tokens
        (3, ""),                                     # skipped
        (4, " ".join(f"c{i}" for i in range(5))),   # 5 tokens
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = sorted(
        pack_sequences(df, seq_len=8).collect(),
        key=lambda r: (r["seq_id"], r["seq_off"]),
    )
    got = [
        (r["seq_id"], r["doc_id"], r["tok_start"], r["tok_end"], r["seq_off"])
        for r in out
    ]
    # concat order: doc1[0:7) doc2[0:10) doc4[0:5) over seqs of 8:
    # seq0 = d1[0:7) + d2[0:1); seq1 = d2[1:9); seq2 = d2[9:10) + d4[0:5)
    assert got == [
        (0, 1, 0, 7, 0),
        (0, 2, 0, 1, 7),
        (1, 2, 1, 9, 0),
        (2, 2, 9, 10, 0),
        (2, 4, 0, 5, 1),
    ]
    # every span's length is positive and sequences tile without gaps
    total = sum(r["tok_end"] - r["tok_start"] for r in out)
    assert total == 22

    # bucket count must not change the manifest
    alt = sorted(
        pack_sequences(df, seq_len=8, n_buckets=1).collect(),
        key=lambda r: (r["seq_id"], r["seq_off"]),
    )
    assert [tuple(r) for r in alt] == [tuple(r) for r in out]


def test_stratified_sample(spark):
    """Hash-threshold sampling: rate 1 keeps all, rate 0 keeps none,
    intermediate rates land near expectation, samples are nested
    (lower rate ⊂ higher rate), and decisions are partition-invariant."""
    from edgar_spark.operators.curation import stratified_sample

    rows = [(i, "t", ["a", "b"][i % 2]) for i in range(400)]
    df = spark.createDataFrame(rows, ["doc_id", "text", "source"])

    all_a = stratified_sample(df, {"a": 1.0}, default_rate=0.0).collect()
    assert {r["source"] for r in all_a} == {"a"} and len(all_a) == 200

    half = {
        r["doc_id"]
        for r in stratified_sample(df, {"a": 0.5, "b": 0.5}).collect()
    }
    assert 140 <= len(half) <= 260  # md5-uniform, n=400
    eighty = {
        r["doc_id"]
        for r in stratified_sample(df, {"a": 0.8, "b": 0.8}).collect()
    }
    assert half <= eighty  # nested: lowering a rate only removes docs

    again = {
        r["doc_id"]
        for r in stratified_sample(
            df.repartition(13), {"a": 0.5, "b": 0.5}
        ).collect()
    }
    assert again == half

    import pytest as _pytest

    with _pytest.raises(ValueError):
        stratified_sample(df, {"a": 1.5})


def test_dup_ngram_spans(docs):
    from edgar_spark.operators.dedup import dup_ngram_spans

    out = {r["doc_id"]: r for r in dup_ngram_spans(docs, n=5).collect()}
    # docs 1 and 2 are byte-identical 100-token texts: every position of
    # both is covered by a shared 5-gram
    assert out[1]["n_tok"] == 100 and out[1]["dup_tokens"] == 100
    assert out[1]["dup_frac"] == 1.0
    assert out[2]["dup_tokens"] == 100
    # doc 3 shares token0..token96 with 1/2 → 5-grams at positions 1..93
    # cover positions 1..97; the 3 changed tail words stay uncovered
    assert out[3]["n_tok"] == 100 and out[3]["dup_tokens"] == 97
    # unique doc 4 and empty doc 5 are not flagged at all
    assert 4 not in out and 5 not in out
    # doc 6 repeats a 9-word sentence 10x but only within ITSELF —
    # cross-doc coverage requires another document
    assert 6 not in out


def test_dup_ngram_spans_short_docs(spark):
    from edgar_spark.operators.dedup import dup_ngram_spans

    df = spark.createDataFrame(
        [(1, "a b c d"), (2, "a b c d"), (3, None), (4, "x y z w v u t s")],
        ["doc_id", "text"],
    )
    # 4-token docs have no 5-grams — identical or not, never flagged
    assert dup_ngram_spans(df, n=5).count() == 0
    # with n=3 the identical short docs flag fully
    out = {r["doc_id"]: r for r in dup_ngram_spans(df, n=3).collect()}
    assert out[1]["dup_tokens"] == 4 and out[2]["dup_tokens"] == 4
    assert 3 not in out and 4 not in out


def test_bloom_decontaminate_exact_regime(spark, docs):
    from edgar_spark.operators.text import bloom_decontaminate, ngram_contamination

    probes = docs.filter(F.col("doc_id") == 1)
    corpus = docs.filter(F.col("doc_id") > 1)
    # big sparse filter: zero false positives -> bloom == exact join
    bloom = {
        r["doc_id"]: r["n_maybe"]
        for r in bloom_decontaminate(corpus, probes, n=4, m_bits=2**20).collect()
    }
    exact = {
        r["doc_id"]: r["n_overlap"]
        for r in ngram_contamination(corpus, probes, n=4).collect()
    }
    assert bloom == exact and 2 in bloom and 3 in bloom


def test_bloom_decontaminate_false_positives(spark, docs):
    from edgar_spark.operators.text import bloom_decontaminate, ngram_contamination

    probes = docs.filter(F.col("doc_id") == 1)
    corpus = docs.filter(F.col("doc_id") > 1)
    # a 64-bit filter saturates: grams of UNRELATED docs collide into set
    # bits and over-flag — never under-flag (no false negatives)
    bloom = {
        r["doc_id"]: r["n_maybe"]
        for r in bloom_decontaminate(corpus, probes, n=4, m_bits=64).collect()
    }
    exact = {
        r["doc_id"]: r["n_overlap"]
        for r in ngram_contamination(corpus, probes, n=4).collect()
    }
    for d, n in exact.items():
        assert bloom.get(d, 0) >= n  # superset guarantee
    assert sum(bloom.values()) > sum(exact.values())  # FPs actually occurred


def test_vocab_coverage(spark):
    from edgar_spark.operators.text import vocab_coverage

    df = spark.createDataFrame(
        [
            (1, "apple apple apple banana"),
            (2, "apple banana cherry"),
            (3, "durian elderberry fig"),
            (4, ""),
        ],
        ["doc_id", "text"],
    )
    # vocab_size=2 -> {apple(4), banana(2)}; cherry(1) ties with the rest
    # but loses to frequency
    out = {r["doc_id"]: r for r in vocab_coverage(df, vocab_size=2).collect()}
    assert (out[1]["n_terms"], out[1]["n_oov"], out[1]["oov_rate"]) == (4, 0, 0.0)
    assert (out[2]["n_terms"], out[2]["n_oov"]) == (3, 1)
    assert out[2]["oov_rate"] == 1 / 3
    assert (out[3]["n_oov"], out[3]["oov_rate"]) == (3, 1.0)
    assert 4 not in out  # empty doc: no terms, no row


def test_vocab_coverage_tiebreak(spark):
    from edgar_spark.operators.text import vocab_coverage

    # all terms frequency 1 -> lexicographic tie-break decides the vocab
    df = spark.createDataFrame([(1, "b a d c")], ["doc_id", "text"])
    out = vocab_coverage(df, vocab_size=2).collect()[0]
    assert (out["n_terms"], out["n_oov"]) == (4, 2)  # vocab = {a, b}


def test_warc_parse_adversarial_payloads(spark):
    from edgar_spark.sources.warc import encode_warc_entry, parse_warc

    tricky = "payload with WARC/1.0\r\n embedded magic and \r\n\r\n separator"
    data = (
        encode_warc_entry("https://a/1", tricky)
        + encode_warc_entry("https://a/2", "")          # zero-length payload
        + encode_warc_entry("https://a/3", "plain")
        + "WARC/1.0\r\nWARC-Target-URI: https://a/4\r\nContent-Length: 99"
        + "\r\n\r\ntrunc"                               # truncated record
    )
    df = spark.createDataFrame(
        [("f1", data), ("f2", None), ("f3", "garbage no magic")],
        ["file_id", "data"],
    )
    out = parse_warc(df).orderBy("rec_idx").collect()
    # Content-Length walking survives embedded magic; truncation drops
    # only the incomplete tail record
    assert [(r["file_id"], r["rec_idx"], r["target_uri"], r["payload"]) for r in out] == [
        ("f1", 0, "https://a/1", tricky),
        ("f1", 1, "https://a/2", ""),
        ("f1", 2, "https://a/3", "plain"),
    ]
    assert out[0]["content_length"] == len(tricky)


def test_bpe_pair_counts(spark):
    from edgar_spark.operators.text import bpe_pair_counts

    df = spark.createDataFrame(
        [(1, "aaab aaab ab x"), (2, "ab")], ["doc_id", "text"]
    )
    out = [(r["pair"], r["n"]) for r in bpe_pair_counts(df, top_k=10).collect()]
    # word freqs: aaab:2, ab:2, x dropped (len<2); per occurrence of
    # "aaab" the pairs are aa, aa, ab -> aa: 2*2=4, ab: 2*1 + 2*1 = 4;
    # the 4-4 tie breaks lexicographically
    assert out == [("aa", 4), ("ab", 4)]


def test_corpus_shuffle_determinism_and_balance(spark):
    from edgar_spark.operators.curation import corpus_shuffle

    df = spark.createDataFrame([(i,) for i in range(200)], ["doc_id"])
    a = corpus_shuffle(df, n_shards=4).collect()
    b = corpus_shuffle(df.repartition(13), n_shards=4).collect()
    # partition-layout-invariant: same (doc_id, shard, pos) triples
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))
    by_shard = {}
    for doc_id, shard, pos in map(tuple, a):
        by_shard.setdefault(shard, []).append(pos)
    assert set(by_shard) == {0, 1, 2, 3}
    for shard, poss in by_shard.items():
        # positions are dense 0..len-1 within each shard
        assert sorted(poss) == list(range(len(poss)))
        # hash balance: no shard holds more than half the corpus
        assert len(poss) < 100
    # hash order is not id order (it's a real shuffle): within shard 0,
    # doc_ids ordered by pos must not be sorted
    shard0_ids = [
        doc_id for doc_id, shard, pos in sorted(map(tuple, a), key=lambda t: t[2])
        if shard == 0
    ]
    assert shard0_ids != sorted(shard0_ids)


def test_warc_octet_content_length_non_ascii(spark):
    """Content-Length is UTF-8 OCTETS (WARC spec): non-ASCII payloads
    roundtrip through write_warc -> parse_warc, and the recorded length
    is the byte count external readers slice by, not the char count."""
    from edgar_spark.sources.warc import (
        encode_warc_entry,
        parse_warc,
        parse_warc_text,
        write_warc,
    )

    payload = "naïve — ünïcode ☃ text"
    n_bytes = len(payload.encode("utf-8"))
    assert n_bytes > len(payload)
    recs = parse_warc_text(encode_warc_entry("https://u/1", payload))
    assert recs == [("https://u/1", n_bytes, payload)]

    df = spark.createDataFrame(
        [("https://u/1", payload), ("https://u/2", "ascii")],
        ["url", "payload"],
    )
    out = parse_warc(write_warc(df, n_files=1)).orderBy("target_uri").collect()
    assert [(r["target_uri"], r["content_length"], r["payload"]) for r in out] == [
        ("https://u/1", n_bytes, payload),
        ("https://u/2", 5, "ascii"),
    ]


def test_suffix_dup_spans_exact_vs_ngram_blindspot(spark):
    """The suffix-array operator must (a) report the TRUE maximal extent
    of a shared span (one 12-token quote => one row, span_len=12), and
    (b) catch short duplicated spans (3 tokens) that the positional
    5-gram approximation (dup_ngram_spans, n=5) is provably blind to;
    within-doc-only repeats stay unflagged (cross-doc contract)."""
    import pandas as pd

    from edgar_spark.operators.dedup import dup_ngram_spans, suffix_dup_spans

    quote = "the quick brown fox jumps over the lazy dog near the river"
    docs = spark.createDataFrame(
        pd.DataFrame(
            [
                (1, "intro words here " + quote + " closing remarks"),
                (2, quote + " and some unique tail content"),
                (3, "alpha beta gamma completely different text follows"),
                (4, "prefix tokens alpha beta gamma suffix stuff"),
                (5, "self repeat self repeat unique onlyhere self repeat"),
                (6, None),
                (7, "   "),
            ],
            columns=["doc_id", "text"],
        )
    )
    out = [
        (r["doc_id"], r["span_start"], r["span_len"])
        for r in suffix_dup_spans(docs, min_len=3)
        .orderBy("doc_id", "span_start")
        .collect()
    ]
    assert out == [(1, 4, 12), (2, 1, 12), (3, 1, 3), (4, 3, 3)]

    flagged_by_5gram = {
        r["doc_id"] for r in dup_ngram_spans(docs, n=5).collect()
    }
    assert flagged_by_5gram == {1, 2}  # 3-token span invisible to 5-grams


def test_suffix_dup_spans_shifted_repeat_and_abutting_runs(spark):
    """Shifted repeats (same phrase at different offsets) are caught at
    their exact positions, and two distinct duplicated substrings that
    abut coalesce into one covered run (the Lee et al. cut semantics)."""
    import pandas as pd

    from edgar_spark.operators.dedup import suffix_dup_spans

    docs = spark.createDataFrame(
        pd.DataFrame(
            [
                # "one two three" duplicated, shifted by 2 positions
                (10, "one two three apple banana cherry date"),
                (11, "pad pad one two three kiwi lemon mango"),
                # abutting distinct dups: "p q r" (with 12) + "x y z"
                # (with 13) sit adjacent in 14 -> coverage merges into
                # one 6-token cut region even though "p q r x y z" is
                # itself duplicated nowhere
                (12, "p q r melon grape fig plum pear peach"),
                (13, "x y z soup stew broth chowder bisque"),
                (14, "start p q r x y z finish"),
            ],
            columns=["doc_id", "text"],
        )
    )
    out = [
        (r["doc_id"], r["span_start"], r["span_len"])
        for r in suffix_dup_spans(docs, min_len=3)
        .orderBy("doc_id", "span_start")
        .collect()
    ]
    assert out == [
        (10, 1, 3),
        (11, 3, 3),
        (12, 1, 3),
        (13, 1, 3),
        (14, 2, 6),
    ]


def test_corpus_to_manifest_pipeline(spark):
    """End-to-end composition invariants at sf0.001 (beyond the driver's
    value-exact oracle at sf0.01): robots-blocked sources never reach
    the manifest, spans tile every packed document exactly once, every
    interior sequence is full, and the greedy minhash dedup leaves no
    surviving near-dup pair with both ends in the manifest."""
    from edgar_spark.operators.oracle_queries import (
        _C2M_BLOCKED,
        q_corpus_to_manifest,
    )

    from tests.conftest import SF_SMOKE

    sf = SF_SMOKE
    man = q_corpus_to_manifest(spark, sf).collect()
    assert man, "pipeline produced an empty manifest"

    docs = {
        r["doc_id"]: r["source"]
        for r in spark.read.parquet(f"{sf}/documents.parquet").collect()
    }
    ids = {r["seq_id"] for r in man}
    for r in man:
        assert docs[r["doc_id"]] not in _C2M_BLOCKED

    # per-document: spans are disjoint, contiguous, and cover [0, n_tok)
    by_doc = {}
    for r in man:
        by_doc.setdefault(r["doc_id"], []).append(r)
    for doc_id, rows in by_doc.items():
        rows.sort(key=lambda r: r["tok_start"])
        assert rows[0]["tok_start"] == 0
        for a, b in zip(rows, rows[1:]):
            assert a["tok_end"] == b["tok_start"]

    # per-sequence: spans tile [0, 512) for every non-terminal sequence
    by_seq = {}
    for r in man:
        by_seq.setdefault(r["seq_id"], []).append(r)
    last = max(by_seq)
    assert set(by_seq) == set(range(last + 1)), "sequence ids have holes"
    for seq_id, rows in by_seq.items():
        rows.sort(key=lambda r: r["seq_off"])
        assert rows[0]["seq_off"] == 0
        for a, b in zip(rows, rows[1:]):
            assert a["seq_off"] + (a["tok_end"] - a["tok_start"]) == b["seq_off"]
        total = sum(r["tok_end"] - r["tok_start"] for r in rows)
        if seq_id != last:
            assert total == 512, f"seq {seq_id} not full: {total}"
    assert ids == set(by_seq)


def test_suffix_dup_spans_large_min_len(spark):
    """min_len=64 ⇒ six doubling rounds: the per-round localCheckpoint
    keeps the plan linear in rounds (without it the lineage multiplies
    ~4× per round and Catalyst analysis blows up well before 6). Two
    identical 80-token docs are fully covered; the unique doc is not
    flagged; a 63-token shared run stays below the threshold."""
    from edgar_spark.operators.dedup import suffix_dup_spans

    shared = " ".join(f"w{i}" for i in range(80))
    short = " ".join(f"s{i}" for i in range(63))
    df = spark.createDataFrame(
        [
            (1, shared),
            (2, shared),
            (3, " ".join(f"u{i}" for i in range(90))),
            (4, short + " x1"),
            (5, short + " y1"),
        ],
        ["doc_id", "text"],
    )
    out = {r["doc_id"]: r for r in suffix_dup_spans(df, min_len=64).collect()}
    assert out[1]["span_start"] == 1 and out[1]["span_len"] == 80
    assert out[2]["span_start"] == 1 and out[2]["span_len"] == 80
    assert 3 not in out and 4 not in out and 5 not in out


def test_warc_revisit_records_and_roundtrip(spark):
    """Revisit dedup semantics on explicit captures (earliest capture of
    a digest stores the body, later ones — same url or cross-url —
    become bodyless revisits pointing at it), and the mixed
    response/revisit file renders into WARC that parse_warc walks
    correctly (revisit bodies are exactly 0 octets)."""
    from edgar_spark.sources.warc import (
        parse_warc,
        revisit_records,
        write_warc_records,
    )

    caps = spark.createDataFrame(
        [
            ("u/a", 10, "hello"),
            ("u/a", 20, "hello"),       # same-url recrawl, unchanged
            ("u/mirror", 15, "hello"),  # cross-url identical bytes
            ("u/b", 5, "world"),
            ("u/c", 30, "unique"),
            ("u/fail", 7, None),   # bodyless fetch failure: excluded
            ("u/fail2", 8, None),  # must NOT become a revisit of u/fail
        ],
        "url string, ts long, payload string",
    )
    recs = revisit_records(caps)
    assert recs.filter("url like 'u/fail%'").count() == 0
    out = {(r["url"], r["ts"]): r for r in recs.collect()}
    assert out[("u/a", 10)]["rec_type"] == "response"
    assert out[("u/a", 10)]["payload"] == "hello"
    r = out[("u/a", 20)]
    assert (r["rec_type"], r["refers_to_uri"], r["refers_to_ts"],
            r["payload"]) == ("revisit", "u/a", 10, None)
    m = out[("u/mirror", 15)]
    assert (m["rec_type"], m["refers_to_uri"]) == ("revisit", "u/a")
    assert out[("u/b", 5)]["rec_type"] == "response"
    assert out[("u/c", 30)]["rec_type"] == "response"

    parsed = parse_warc(write_warc_records(recs, n_files=2)).collect()
    assert len(parsed) == 5
    by_uri = {}
    for p in parsed:
        by_uri.setdefault(p["target_uri"], []).append(p)
    lens = sorted(p["content_length"] for p in by_uri["u/a"])
    assert lens == [0, 5]  # one revisit (bodyless) + one response
    assert by_uri["u/mirror"][0]["content_length"] == 0
    assert by_uri["u/b"][0]["payload"] == "world"


def test_line_lang_mix(spark):
    import pandas as pd
    from edgar_spark.operators.text import line_lang_mix

    en = "the and of to is here"
    de = "der und die nicht ist"
    rows = pd.DataFrame(
        {
            "doc_id": [1, 2, 3, 4],
            "text": [
                f"{en}\n{en}\n{en}",          # pure en -> 0‰, keep
                f"{en}\n{de}\n{en}",          # 1/3 stray -> 333‰, drop
                f"{en}\n\n  \n{en}",          # blank lines don't count
                "zz qq",                       # und doc, its one line agrees
            ],
        }
    )
    out = {
        r["doc_id"]: r
        for r in line_lang_mix(spark.createDataFrame(rows)).collect()
    }
    assert out[1]["mix_permille"] == 0 and out[1]["keep"] is True
    assert out[2]["n_lines"] == 3 and out[2]["mix_permille"] == 333
    assert out[2]["keep"] is False
    assert out[3]["n_lines"] == 2 and out[3]["n_lines_doclang"] == 2
    assert out[4]["doc_lang"] == "und" and out[4]["keep"] is True


def test_cdc_chunking_invariants(spark):
    import pandas as pd
    from edgar_spark.operators.dedup import cdc_chunks, cdc_dup_stats

    body = "the quick brown fox jumps over the lazy dog " * 20
    df = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [1, 2, 3, 4, 5],
                "text": [
                    body,
                    "PREFIX INSERTED >> " + body,  # shifted copy
                    "short",                        # n < window
                    "eightchr",                     # n == window exactly
                    "",                             # empty -> no rows
                ],
            }
        )
    )
    rows = cdc_chunks(df).collect()
    by = {}
    for r in sorted(rows, key=lambda r: (r["doc_id"], r["chunk_idx"])):
        by.setdefault(r["doc_id"], []).append((r["chunk_len"], r["chunk_hash"]))
    # chunk lengths partition the text exactly
    assert sum(l for l, _ in by[1]) == len(body)
    assert len(by[1]) > 5
    # sub-window and exact-window docs are one whole-text chunk
    assert by[3] == [(5, by[3][0][1])] and by[4][0][0] == 8
    assert len(by[4]) == 1
    assert 5 not in by  # empty doc drops
    # CDC resync: boundaries re-synchronize after the insertion, so the
    # two copies share all but a bounded prefix of their chunk streams
    h1 = [h for _, h in by[1]]
    h2 = [h for _, h in by[2]]
    shared = 0
    while (
        shared < min(len(h1), len(h2)) and h1[-1 - shared] == h2[-1 - shared]
    ):
        shared += 1
    assert shared >= len(h1) - 3, (shared, len(h1))
    stats = {r["doc_id"]: r.asDict() for r in cdc_dup_stats(df).collect()}
    assert stats[1]["dup_permille"] > 500  # repeated body + shifted copy
    assert stats[3]["n_dup_chunks"] == 0 and stats[3]["dup_permille"] == 0


def test_incremental_dedup_verdicts(spark):
    import pandas as pd
    from edgar_spark.operators.dedup import incremental_dedup

    body_a = "alpha beta gamma delta epsilon zeta eta theta " * 6
    body_b = "one two three four five six seven eight nine ten " * 6
    corpus = spark.createDataFrame(
        pd.DataFrame({"doc_id": [1, 2], "text": [body_a, body_b]})
    )
    batch = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [10, 11, 12, 13],
                "text": [
                    body_a,                      # corpus dup -> dup_of=1
                    "completely novel content words here " * 8,  # kept
                    body_a,   # dups corpus AND batch 10 -> corpus wins
                    "completely novel content words here " * 8,  # dups 11
                ],
            }
        )
    )
    out = {
        r["doc_id"]: r
        for r in incremental_dedup(corpus, batch, threshold=0.5).collect()
    }
    assert out[10]["is_dup"] is True and out[10]["dup_of"] == 1
    assert out[11]["is_dup"] is False and out[11]["dup_of"] is None
    # corpus blocker preferred over the smaller batch blocker
    assert out[12]["is_dup"] is True and out[12]["dup_of"] == 1
    # batch-internal dup: blocked by its earlier twin
    assert out[13]["is_dup"] is True and out[13]["dup_of"] == 11
    assert len(out) == 4


def test_winnow_fingerprints_reference_guarantee_and_ties(spark):
    import hashlib

    import pandas as pd

    from edgar_spark.operators.text import winnow_fingerprints

    k, w = 3, 4

    def ref(text):
        toks = text.split()
        if not toks:
            return set()
        n_grams = max(len(toks) - k + 1, 1)
        grams = [" ".join(toks[j - 1 : j - 1 + k]) for j in range(1, n_grams + 1)]
        keys = [
            int(hashlib.md5(g.encode()).hexdigest()[:10], 16) * 2**20
            + (2**20 - 1 - j)
            for j, g in enumerate(grams, 1)
        ]
        out = set()
        for i in range(max(len(keys) - w + 1, 1)):
            kk = min(keys[i : i + w])
            out.add((2**20 - 1 - kk % 2**20, kk // 2**20))
        return out

    shared = "the quick brown fox jumps over lazy dogs"  # 8 tokens >= w+k-1
    docs = {
        1: "alpha beta " + shared + " gamma delta",
        2: shared + " entirely different ending here now",
        3: "x x x x x x x x",      # identical grams: rightmost-tie path
        4: "one two",               # fewer than k tokens: whole-doc gram
        5: "",                      # empty: no fingerprints
    }
    pdf = pd.DataFrame(
        {"doc_id": list(docs), "text": [docs[i] for i in docs]}
    )
    rows = winnow_fingerprints(spark.createDataFrame(pdf), k=k, window=w).collect()
    got = {}
    for r in rows:
        got.setdefault(r["doc_id"], set()).add((r["pos"], r["gram_hash"]))
    for i, text in docs.items():
        assert got.get(i, set()) == ref(text), i
    # the winnowing guarantee: docs 1 and 2 share a >= w+k-1 token run,
    # so at least one selected HASH must be common
    assert {h for _, h in got[1]} & {h for _, h in got[2]}
    # robust winnowing on identical grams selects the RIGHTMOST of each
    # window: positions w..n_grams
    assert {p for p, _ in got[3]} == set(range(w, 8 - k + 1 + 1))
    # sub-k doc: exactly one whole-token-array fingerprint at pos 1
    assert len(got[4]) == 1 and next(iter(got[4]))[0] == 1


def test_winnow_rejects_docs_past_the_packed_position_limit(spark):
    import pandas as pd

    from edgar_spark.operators.text import winnow_fingerprints

    k = 3
    # 2^20 + k - 1 tokens = 2^20 grams: one past the 20-bit position field
    pdf = pd.DataFrame({"doc_id": [1], "text": ["t " * (2**20 + k - 1)]})
    with pytest.raises(Exception, match="chunk_docs"):
        winnow_fingerprints(spark.createDataFrame(pdf), k=k).collect()


def test_hof_arrays_are_bound_once_in_winnow_and_cdc_plans(spark):
    # an array named inside a HOF lambda (or named twice) is recomputed
    # per element unless bound: winnow would hash every gram once per
    # window, CDC would run its rolling-hash fold once per mention
    import pandas as pd

    from edgar_spark.operators.dedup import cdc_chunks
    from edgar_spark.operators.text import winnow_fingerprints

    df = spark.createDataFrame(
        pd.DataFrame({"doc_id": [1], "text": ["a b c d e f g h i j"]})
    )

    def optimized(d):
        return d._jdf.queryExecution().optimizedPlan().toString()

    assert optimized(winnow_fingerprints(df)).count("md5(") == 1
    assert optimized(cdc_chunks(df)).count("aggregate(") == 1


def test_cut_spans_overlap_edges_and_passthrough(spark):
    import pandas as pd

    from edgar_spark.operators.dedup import cut_spans

    docs = pd.DataFrame(
        {
            "doc_id": [1, 2, 3, 4],
            "text": [
                "a b c d e f g h",   # two overlapping spans
                "x y z",             # span covering the whole doc
                "p q r s",           # no spans: pass through
                "",                  # empty doc
            ],
        }
    )
    spans = pd.DataFrame(
        [
            (1, 2, 3),  # cuts b c d
            (1, 4, 2),  # cuts d e (overlaps previous at d)
            (1, 8, 1),  # cuts h (end-of-doc edge)
            (2, 1, 3),  # whole doc
        ],
        columns=["doc_id", "span_start", "span_len"],
    )
    out = {
        r["doc_id"]: r
        for r in cut_spans(
            spark.createDataFrame(docs), spark.createDataFrame(spans)
        ).collect()
    }
    assert (out[1]["n_tokens"], out[1]["n_cut"]) == (8, 5)
    assert out[1]["clean_text"] == "a f g"
    assert (out[2]["n_tokens"], out[2]["n_cut"], out[2]["clean_text"]) == (3, 3, "")
    assert (out[3]["n_tokens"], out[3]["n_cut"], out[3]["clean_text"]) == (4, 0, "p q r s")
    assert (out[4]["n_tokens"], out[4]["n_cut"], out[4]["clean_text"]) == (0, 0, "")


def test_cut_spans_composes_with_suffix_dup_spans(spark):
    import pandas as pd

    from edgar_spark.operators.dedup import cut_spans, suffix_dup_spans

    # the 3-token quote "lorem ipsum dolor" is shared -> cut from BOTH
    docs = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [1, 2],
                "text": [
                    "alpha lorem ipsum dolor omega",
                    "lorem ipsum dolor unique tail words",
                ],
            }
        )
    )
    spans = suffix_dup_spans(docs, min_len=3)
    out = {r["doc_id"]: r for r in cut_spans(docs, spans).collect()}
    assert out[1]["clean_text"] == "alpha omega" and out[1]["n_cut"] == 3
    assert out[2]["clean_text"] == "unique tail words" and out[2]["n_cut"] == 3


def test_ngram_novelty_census_and_edges(spark):
    import pandas as pd

    from edgar_spark.operators.dedup import ngram_novelty

    docs = pd.DataFrame(
        {
            "doc_id": [1, 2, 3, 4, 5],
            "text": [
                "a b c d e f",        # grams abc bcd cde def
                "x y z a b c",        # shares abc with 1; xyz yza zab novel
                "totally novel here", # one 3-gram, unshared
                "a b",                # sub-n: whole-array shingle "a b"
                "",                   # empty: absent from output
            ],
        }
    )
    out = {
        r["doc_id"]: r
        for r in ngram_novelty(spark.createDataFrame(docs), n=3).collect()
    }
    assert set(out) == {1, 2, 3, 4}
    assert (out[1]["n_shingles"], out[1]["n_shared"]) == (4, 1)
    assert out[1]["novelty_permille"] == 750
    assert (out[2]["n_shingles"], out[2]["n_shared"]) == (4, 1)
    assert (out[3]["n_shingles"], out[3]["n_shared"], out[3]["novelty_permille"]) == (1, 0, 1000)
    # "a b" appears as a WHOLE shingle only in doc 4 -> novel (substring
    # presence in doc 1 does not count: grams match exactly)
    assert (out[4]["n_shingles"], out[4]["n_shared"]) == (1, 0)


def test_script_mix_census_dominance_and_ties(spark):
    import pandas as pd

    from edgar_spark.operators.text import script_mix

    docs = pd.DataFrame(
        {
            "doc_id": [1, 2, 3, 4, 5],
            "text": [
                "hello world",                  # pure latin
                "привет мир hello",             # cyrillic 9 > latin 5
                "中文文本 test ハナ",            # cjk 6 > latin 4
                "ab ой",                        # TIE latin 2 = cyr 2 -> latin
                "123 .,!?",                     # no lettered chars
            ],
        }
    )
    out = {
        r["doc_id"]: r for r in script_mix(spark.createDataFrame(docs)).collect()
    }
    assert out[1]["dominant_script"] == "latin"
    assert (out[1]["n_latin"], out[1]["n_letters"]) == (10, 10)
    assert out[1]["purity_permille"] == 1000
    assert out[2]["dominant_script"] == "cyrillic"
    assert (out[2]["n_cyrillic"], out[2]["n_latin"]) == (9, 5)
    assert out[2]["purity_permille"] == 1000 * 9 // 14
    assert out[3]["dominant_script"] == "cjk"
    assert (out[3]["n_cjk"], out[3]["n_latin"]) == (6, 4)
    assert out[4]["dominant_script"] == "latin"  # tie -> listed order
    assert (out[5]["dominant_script"], out[5]["purity_permille"]) == ("none", 0)
    assert out[5]["n_letters"] == 0
