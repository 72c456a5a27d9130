"""Tests for ccnet_buckets (per-language perplexity tertiles),
priority_sample (weighted sampling without replacement), and
domain_quality (registered-domain quality gating)."""

from __future__ import annotations

import hashlib

import pandas as pd
from pyspark.sql import functions as F


def _docs(spark, rows):
    return spark.createDataFrame(
        pd.DataFrame(rows, columns=["doc_id", "text"])
    )


# ---------------------------------------------------------------- ccnet


def test_ccnet_buckets_tertiles_follow_score_order(spark):
    from edgar_spark.operators.lm import ccnet_buckets

    # 6 docs of one language family: typicality decreases with doc_id
    # (later docs mix in rarer trigrams), so head must hold the lowest
    # milli-scores and tail the highest.
    base = "the cat sat on the mat and the dog ran to the log "
    rows = [
        (0, base * 4),
        (1, base * 3 + "the end is near "),
        (2, base * 3 + "quiet zephyrs vex "),
        (3, base * 2 + "jqx zvq wkj pfy bdg "),
        (4, base + "xylophone quartz jackdaw vow "),
        (5, "the zzq jxw vkp qqj the zzx wqj kkv jjz the " * 3),
    ]
    out = ccnet_buckets(_docs(spark, rows)).toPandas()
    assert len(out) == 6
    assert set(out["pred_lang"]) == {"en"}  # one language, one cut
    by_bucket = {
        b: sorted(g["avg_surprisal_milli"])
        for b, g in out.groupby("ppl_bucket")
    }
    assert set(by_bucket) == {"head", "middle", "tail"}
    assert len(by_bucket["head"]) == 2
    assert len(by_bucket["middle"]) == 2
    assert len(by_bucket["tail"]) == 2
    assert max(by_bucket["head"]) <= min(by_bucket["middle"])
    assert max(by_bucket["middle"]) <= min(by_bucket["tail"])


def test_ccnet_buckets_cut_is_per_language_and_short_docs_absent(spark):
    from edgar_spark.operators.lm import ccnet_buckets

    en = "the cat and the dog is on the mat to nap "
    de = "der hund und die katze ist nicht hier oben "
    rows = (
        [(i, en * (i + 1)) for i in range(3)]
        + [(10 + i, de * (i + 1)) for i in range(3)]
        + [(99, "ab")]  # <3 chars: no trigrams, absent from output
    )
    out = ccnet_buckets(_docs(spark, rows)).toPandas()
    assert 99 not in set(out["doc_id"])
    # each language is cut independently: both have a head
    heads = out[out["ppl_bucket"] == "head"]
    assert set(heads["pred_lang"]) == {"en", "de"}


# ------------------------------------------------------- priority sample


def _py_priority(doc_id: int, weight: int, salt: str = "ps1") -> int:
    h = int(
        hashlib.md5(f"{salt}:{doc_id}".encode()).hexdigest()[:5], 16
    )
    return (weight * 1048576) // (h + 1)


def test_priority_sample_matches_python_reference(spark):
    from edgar_spark.operators.curation import priority_sample

    rows = [(i, i + 1) for i in range(50)]  # weight = doc_id + 1
    df = spark.createDataFrame(
        pd.DataFrame(rows, columns=["doc_id", "weight"])
    )
    got = priority_sample(df, "weight", 10).toPandas()
    ref = sorted(
        ((_py_priority(i, w), -i, i, w) for i, w in rows), reverse=True
    )[:10]
    assert sorted(zip(got["doc_id"], got["priority"])) == sorted(
        (i, p) for p, _, i, w in ref
    )


def test_priority_sample_is_deterministic_and_weight_sensitive(spark):
    from edgar_spark.operators.curation import priority_sample

    rows = [(i, 1 if i < 90 else 1000) for i in range(100)]
    df = spark.createDataFrame(
        pd.DataFrame(rows, columns=["doc_id", "weight"])
    )
    a = set(priority_sample(df, "weight", 20).toPandas()["doc_id"])
    b = set(
        priority_sample(df.repartition(7), "weight", 20).toPandas()[
            "doc_id"
        ]
    )
    assert a == b  # partition-layout invariant
    # all 10 heavy rows (1000× weight) must be selected
    assert set(range(90, 100)) <= a


def test_priority_sample_excludes_nonpositive_weights(spark):
    from edgar_spark.operators.curation import priority_sample

    df = spark.createDataFrame(
        pd.DataFrame(
            [(1, 0), (2, -5), (3, 7)], columns=["doc_id", "weight"]
        )
    )
    got = priority_sample(df, "weight", 10).toPandas()
    assert list(got["doc_id"]) == [3]


# --------------------------------------------------------- domain gate


def test_domain_quality_pools_subdomains_and_gates(spark):
    from edgar_spark.operators.curation import domain_quality

    good = (
        "the cat and the dog is on the mat with a nap for it "
        "that was at an end by this are the best of days truly "
    )
    bad = "x" * 300  # no stopwords, 1 huge token: low quality
    rows = [
        (0, good, "www.good.com"),
        (1, good, "cdn.good.com"),  # pools with doc 0 under good.com
        (2, bad, "www.spam.com"),
        (3, bad, "a.spam.com"),
        (4, good, "only.lonely.com"),  # singleton domain: dropped
    ]
    df = spark.createDataFrame(
        pd.DataFrame(rows, columns=["doc_id", "text", "host"])
    )
    out = (
        domain_quality(df, min_docs=2, min_avg_milli=540)
        .toPandas()
        .set_index("doc_id")
    )
    assert out.loc[0, "reg_domain"] == "good.com"
    assert out.loc[1, "reg_domain"] == "good.com"
    assert int(out.loc[0, "domain_docs"]) == 2
    assert bool(out.loc[0, "keep"]) and bool(out.loc[1, "keep"])
    assert not bool(out.loc[2, "keep"]) and not bool(out.loc[3, "keep"])
    assert not bool(out.loc[4, "keep"])  # volume gate, not quality


def test_domain_quality_integer_score_reference(spark):
    from edgar_spark.operators.curation import domain_quality

    text = "the cat sat. on a mat!"
    # n_tok=6, n_chars=22, stopwords: the,on,a -> 3, punct: . and ! -> 2
    n_tok, n_chars, n_stop, n_punct = 6, 22, 3, 2
    expect = (
        min(n_tok * 3, 300)
        + min(n_stop * 1200 // n_tok, 400)
        + (200 if n_tok * 3 <= n_chars - n_tok + 1 <= n_tok * 10 else 0)
        + (100 if n_punct * 10 <= n_chars else 0)
    )
    df = spark.createDataFrame(
        pd.DataFrame(
            [(1, text, "www.x.com"), (2, text, "cdn.x.com")],
            columns=["doc_id", "text", "host"],
        )
    )
    out = domain_quality(df).toPandas()
    assert set(out["q_milli"]) == {expect}
    assert set(out["domain_avg_q_milli"]) == {expect}


def test_domain_quality_join_respects_broadcast_threshold(spark):
    import contextlib
    import io

    from edgar_spark.operators.oracle_queries import q_domain_quality
    from tests.conftest import SF_SMOKE

    key = "spark.sql.autoBroadcastJoinThreshold"
    prev = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try:
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            q_domain_quality(spark, SF_SMOKE).explain("formatted")
    finally:
        spark.conf.set(key, prev)
    plan = buf.getvalue()
    # the domain table is unbounded: with broadcasts disabled the join
    # must plan as a shuffle join, never a hinted broadcast
    assert "BroadcastHashJoin" not in plan
    assert "SortMergeJoin" in plan


def test_host_template_lines_scoping(spark):
    import pandas as pd
    from edgar_spark.operators.curation import host_template_lines

    # hostA: banner on all 3 pages (template), quote on 1 page (kept);
    # hostB: 2 pages sharing the SAME quote line -> template on B only
    rows = pd.DataFrame(
        {
            "url": [
                "https://a.ex/1", "https://a.ex/2", "https://a.ex/3",
                "https://b.ex/1", "https://b.ex/2",
            ],
            "text": [
                "BANNER\nalpha body one",
                "BANNER\nalpha body two\nshared quote",
                "BANNER\nalpha body three",
                "shared quote\nbeta body one",
                "shared quote\nbeta body two",
            ],
        }
    )
    out = {
        r["url"]: r
        for r in host_template_lines(spark.createDataFrame(rows)).collect()
    }
    # banner stripped on every a.ex page
    assert out["https://a.ex/1"]["text"] == "alpha body one"
    # 'shared quote' on a.ex: 1 of 3 pages -> NOT template there
    assert out["https://a.ex/2"]["text"] == "alpha body two\nshared quote"
    # same line on b.ex: 2 of 2 pages -> template there, stripped
    assert out["https://b.ex/1"]["text"] == "beta body one"
    assert out["https://b.ex/1"]["n_lines"] == 2
    assert out["https://b.ex/1"]["n_kept"] == 1
    assert out["https://a.ex/3"]["host"] == "a.ex"


def test_corpus_datasheet_rollup(spark):
    import pandas as pd
    from edgar_spark.operators.curation import corpus_datasheet

    rows = pd.DataFrame(
        {
            "doc_id": [1, 2, 3, 4, 5],
            "source": ["a", "a", "a", "b", "b"],
            "text": [
                "the and of to is fine english text",
                "der und die nicht ist",
                "same body",        # dup partner lives in source b
                "same body",
                "",                 # empty: 0 tokens, und
            ],
        }
    )
    out = {
        r["source"]: r
        for r in corpus_datasheet(spark.createDataFrame(rows)).collect()
    }
    a, b = out["a"], out["b"]
    assert a["n_docs"] == 3 and b["n_docs"] == 2
    assert a["n_en"] == 1 and a["n_de"] == 1 and a["n_und"] == 1
    # cross-source exact dup counted on BOTH sides
    assert a["n_dup_docs"] == 1 and b["n_dup_docs"] == 1
    assert a["dup_permille"] == 333 and b["dup_permille"] == 500
    assert a["n_unique_texts"] == 3  # within-source texts all distinct
    assert b["n_tokens"] == 2 and b["mean_tokens"] == 1


def test_temperature_sample_quotas_and_ordering(spark):
    import hashlib
    import math

    import pandas as pd

    from edgar_spark.operators.curation import temperature_sample

    # language sizes 9/4/2 -> isqrt weights 3/2/1 (2 exercises the
    # non-perfect-square floor), total 6; budget 12 -> quotas 6/4/2
    rows = []
    nid = 0
    for lang, n in (("en", 9), ("de", 4), ("fr", 2)):
        for _ in range(n):
            rows.append((nid, lang))
            nid += 1
    df = spark.createDataFrame(
        pd.DataFrame(rows, columns=["doc_id", "lang"])
    )
    out = temperature_sample(df, budget=12).collect()
    by_lang = {}
    for r in out:
        by_lang.setdefault(r["lang"], []).append(r)
    assert {k: len(v) for k, v in by_lang.items()} == {
        "en": 6, "de": 4, "fr": 2
    }
    # selection must be the first quota docs in (md5(id), id) order
    for lang, n, quota in (("en", 9, 6), ("de", 4, 4), ("fr", 2, 2)):
        ids = [i for i, l in rows if l == lang]
        perm = sorted(ids, key=lambda i: (hashlib.md5(str(i).encode()).hexdigest(), i))
        assert sorted(r["doc_id"] for r in by_lang[lang]) == sorted(perm[:quota])
        assert all(r["lang_quota"] == quota for r in by_lang[lang])
    # the ±1 isqrt correction is exact over an adversarial range
    # (perfect squares, their neighbors, and a 2^40 window)
    ns = list(range(1, 200)) + [2**40 - 1, 2**40, 2**40 + 1]
    from pyspark.sql import functions as F

    nl = F.col("n").cast("long")
    s = F.floor(F.sqrt(nl.cast("double"))).cast("long")
    isqrt = (
        s
        + F.when((s + 1) * (s + 1) <= nl, 1).otherwise(0)
        - F.when(s * s > nl, 1).otherwise(0)
    )
    got = (
        spark.createDataFrame(pd.DataFrame({"n": ns}))
        .select(isqrt.alias("i"), "n")
        .collect()
    )
    for r in got:
        assert r["i"] == math.isqrt(r["n"]), r["n"]


def test_sentence_span_dedup_c4_rule(spark):
    import pandas as pd

    from edgar_spark.operators.curation import sentence_span_dedup

    shared = "one fish. two fish. red fish"
    docs = pd.DataFrame(
        {
            "doc_id": [1, 2, 3, 4],
            "text": [
                # first occurrence in (doc, pos) order -> keeps everything
                shared + ". unique closer",
                # later occurrence -> the 3 shared sentences drop
                "fresh opener. " + shared + ". own ending",
                # a doc with < 3 sentences never forms spans
                "tiny doc. second sentence",
                # within-doc repetition: second occurrence drops
                shared + ". " + shared,
            ],
        }
    )
    out = {
        r["doc_id"]: r
        for r in sentence_span_dedup(spark.createDataFrame(docs)).collect()
    }
    assert (out[1]["n_sents"], out[1]["n_dropped"]) == (4, 0)
    assert out[1]["clean_text"] == "one fish. two fish. red fish. unique closer"
    assert (out[2]["n_sents"], out[2]["n_dropped"]) == (5, 3)
    assert out[2]["clean_text"] == "fresh opener. own ending"
    assert (out[3]["n_dropped"], out[3]["clean_text"]) == (0, "tiny doc. second sentence")
    # doc 4: sentences 1-3 are occurrence #2 of the shared span (doc 1
    # holds #1), and 4-6 are #3 -> everything drops
    assert (out[4]["n_sents"], out[4]["n_dropped"], out[4]["clean_text"]) == (6, 6, "")
