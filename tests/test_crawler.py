"""End-to-end crawl tests: golden filing assembly, synthetic-oracle
consolidation, crawl ordering, URL-seen membership, robots gating, resume.
"""

from __future__ import annotations

import itertools
import math

import pytest
from pyspark.sql import functions as F

from edgar_spark.frontier.crawler import CrawlConfig, Crawler
from edgar_spark.frontier.robots import ROBOTS_SCHEMA
from edgar_spark.parse import meta
from edgar_spark.synth import corpus
from tests.conftest import SAMPLES

N_COMPANIES = 2
N_FILINGS = 2


@pytest.fixture(scope="module")
def crawl(spark, tmp_path_factory):
    pages = corpus.build_pages(
        spark, N_COMPANIES, n_filings=N_FILINGS, samples_dir=str(SAMPLES)
    ).cache()
    seeds = corpus.build_seeds(spark, N_COMPANIES, include_golden=True)
    cfg = CrawlConfig(
        max_waves=5,
        checkpoint_dir=str(tmp_path_factory.mktemp("ckpt")),
    )
    res = Crawler(spark, pages, seeds, config=cfg).run()
    res.filings.cache().count()
    res.frontier.cache().count()
    return pages, seeds, res


def test_three_waves_and_no_pending(crawl):
    _, _, res = crawl
    assert len(res.metrics) == 3  # query → index → report
    assert res.frontier.filter("state = 'pending'").count() == 0


def test_facts_carry_on_discovery_waves(spark, tmp_path):
    """Waves that fetch no report pages (query/index discovery) must not
    rewrite the facts table: the snapshot manifest carries the previous
    wave's facts path forward (shared-manifest), and the facts metric
    stays the previous count."""
    from edgar_spark.icelite.table import IceliteCatalog

    pages = corpus.build_pages(spark, N_COMPANIES, n_filings=N_FILINGS)
    seeds = corpus.build_seeds(spark, N_COMPANIES)
    ckpt = str(tmp_path / "carry")
    res = Crawler(
        spark, pages, seeds, config=CrawlConfig(max_waves=5, checkpoint_dir=ckpt)
    ).run()
    cat = IceliteCatalog(ckpt)
    # snapshot 1 = the seed snapshot; wave 0 = query (no reports pending →
    # carried), wave 1 = index (carried), wave 2 = report (writes)
    p0 = cat.table_path("facts", snap_id=2)
    p1 = cat.table_path("facts", snap_id=3)
    p2 = cat.table_path("facts", snap_id=4)
    assert p0 == p1  # discovery wave carried the facts files
    assert p2 != p1  # report wave wrote new facts
    assert res.metrics[1]["facts"] == res.metrics[0]["facts"] == 0
    assert res.metrics[2]["facts"] > 0


_GROUP_IDS = itertools.count()


def _jobs_during(spark, fn):
    """``(fn(), ids of the Spark jobs fn launched)``, via a job group."""
    sc = spark.sparkContext
    group = f"jobs-during-{next(_GROUP_IDS)}"
    prev = sc.getLocalProperty("spark.jobGroup.id")
    sc.setLocalProperty("spark.jobGroup.id", group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", prev)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, list(sc.statusTracker().getJobIdsForGroup(group))


def test_final_snapshot_reads_from_manifest(spark, crawl):
    """The final snapshot's manifest describes its tables: reading one
    launches no Spark job (a schema-less parquet read launches one) and
    yields the schema Spark infers from the written files."""
    _, _, res = crawl
    cat = res.catalog
    sid = cat.current_snapshot_id()
    assert cat.tables(sid) == ["facts", "filings", "frontier"]
    for name in cat.tables(sid):
        df, jobs = _jobs_during(spark, lambda: cat.read(spark, name, sid))
        assert jobs == [], name
        inferred, jobs = _jobs_during(
            spark, lambda: spark.read.parquet(cat.table_path(name, sid))
        )
        assert len(jobs) >= 1  # the count above can see a job
        assert df.schema == inferred.schema, name


def test_final_meta_records_wave_metrics(crawl):
    """The per-wave metrics ride the final snapshot's meta as JSON (no
    metrics table); each wave's commit still records the wave before it."""
    import json

    _, _, res = crawl
    cat = res.catalog
    meta = cat.snapshot_meta()
    assert meta["final"] is True and meta["wave"] == len(res.metrics) - 1
    assert meta["wave_metrics"] == json.loads(json.dumps(res.metrics))
    assert "metrics" not in cat.tables()
    last_wave_meta = cat.snapshot_meta(cat.current_snapshot_id() - 1)
    assert last_wave_meta["prev_wave_metrics"]["wave"] == len(res.metrics) - 2


def test_zero_wave_crawl_keeps_seed_snapshot(spark, tmp_path):
    """With ``max_waves=0`` the final snapshot carries the seed snapshot's
    tables: the seed frontier, all pending, empty facts and no filings."""
    pages = corpus.build_pages(spark, N_COMPANIES, n_filings=1)
    seeds = corpus.build_seeds(spark, N_COMPANIES)
    crawler = Crawler(
        spark, pages, seeds,
        config=CrawlConfig(max_waves=0, checkpoint_dir=str(tmp_path / "z")),
    )
    res = crawler.run()
    cat = res.catalog
    assert res.metrics == []
    assert cat.snapshot_meta() == {"wave": -1, "final": True, "wave_metrics": []}
    assert cat.tables() == ["facts", "filings", "frontier"]
    frontier = cat.read(spark, "frontier").select("url", "state").collect()
    seed_urls = [r["url"] for r in crawler.seed_frontier().collect()]
    assert sorted(r["url"] for r in frontier) == sorted(seed_urls)
    assert len(frontier) == 2 * N_COMPANIES
    assert {r["state"] for r in frontier} == {"pending"}
    assert cat.rows("facts") == cat.rows("filings") == 0
    assert res.facts.count() == 0 and res.filings.count() == 0


def test_golden_filing_assembled(crawl):
    """The AAPL 10-Q assembled from the reference's own sample pages matches
    the per-document goldens of parser_test.go under consolidation."""
    _, _, res = crawl
    row = res.filings.filter(
        (F.col("ticker") == "AAPL")
        & (F.col("accession") == corpus.GOLDEN_ACCESSION)
    ).collect()
    assert len(row) == 1
    r = row[0].asDict()
    assert r["filing_date"] == "2018-08-01"
    expected = {
        "sharecount": 4829926000.0,
        "revenue": 53265000000.0,
        "cost_of_revenue": 32844000000.0,
        "gross_margin": 20421000000.0,
        "op_income": 12612000000.0,
        "op_expense": 7809000000.0,
        "net_income": 11519000000.0,  # from the Operations doc, not CF/Income
        "op_cashflow": 57911000000.0,
        "capex": -10272000000.0,
        "cliab": 88548000000.0,
        "ldebt": 97128000000.0,
        "retained": 79436000000.0,
        "cash": 31971000000.0,
        "liab": 234248000000.0,
        "assets": 349197000000.0,
    }
    for k, v in expected.items():
        assert r[k] == v, f"{k}: {r[k]} != {v}"


def test_synthetic_filings_match_oracle(crawl):
    """Every synthetic filing's consolidated row equals the independent
    expectation computed from the corpus value model."""
    _, _, res = crawl
    rows = {
        (r["ticker"], r["accession"]): r.asDict()
        for r in res.filings.filter(F.col("ticker") != "AAPL").collect()
    }
    n_checked = 0
    for i in range(N_COMPANIES):
        for ftype in corpus.FILING_TYPES:
            for date in corpus.filing_dates(ftype, N_FILINGS):
                an = corpus.accession_of(i, ftype, date)
                key = (corpus.ticker_of(i), an)
                assert key in rows, f"missing filing {key}"
                got = rows[key]
                exp = corpus.expected_filing(i, an)
                for col, v in exp.items():
                    g = got[col]
                    if v is None:
                        assert g is None, f"{key} {col}: {g} != None"
                    else:
                        assert g == pytest.approx(v, rel=1e-12), f"{key} {col}: {g} != {v}"
                # collected array = non-null fields in Entity,Bs,Cf,Ops order
                exp_collected = [
                    f.go_name for f in meta.COLLECTED_ORDER if exp[f.col] is not None
                ]
                assert got["collected"] == exp_collected
                n_checked += 1
    assert n_checked == N_COMPANIES * len(corpus.FILING_TYPES) * N_FILINGS


def test_crawl_ordering(crawl):
    """Fetched order = (wave, seed order, type order, dates DESC, canonical
    doc order) — the reference's AvailableFilings DESC enumeration
    (folder.go:128-131) plus pinned doc order."""
    _, _, res = crawl
    fetched = (
        res.frontier.filter(F.col("state") == "fetched")
        .orderBy("wave", "seed_seq", "type_seq", "date_sort", "doc_seq", "url")
        .select("wave", "kind", "ticker", "filing_type", "filing_date", "doc_type")
        .collect()
    )
    # wave 0: query pages in seed order, type order (the golden AAPL seed
    # has both a 10-K and a 10-Q query page in the corpus)
    w0 = [r for r in fetched if r["wave"] == 0]
    assert [(r["ticker"], r["filing_type"]) for r in w0] == [
        (corpus.ticker_of(i), t) for i in range(N_COMPANIES) for t in corpus.FILING_TYPES
    ] + [("AAPL", t) for t in corpus.FILING_TYPES]
    # wave 1 (index pages): per company/type, filing dates DESC
    w1 = [r for r in fetched if r["wave"] == 1]
    for i in range(N_COMPANIES):
        for t in corpus.FILING_TYPES:
            dates = [
                r["filing_date"]
                for r in w1
                if r["ticker"] == corpus.ticker_of(i) and r["filing_type"] == t
            ]
            assert dates == sorted(dates, reverse=True)
    # wave 2 (report pages): docs in canonical order per filing
    w2 = [r for r in fetched if r["wave"] == 2]
    from edgar_spark.model.schemas import DOC_PRIORITY

    for i in range(N_COMPANIES):
        for t in corpus.FILING_TYPES:
            for date in corpus.filing_dates(t, N_FILINGS):
                docs = [
                    DOC_PRIORITY[r["doc_type"]]
                    for r in w2
                    if r["ticker"] == corpus.ticker_of(i)
                    and r["filing_type"] == t
                    and r["filing_date"] == date
                ]
                assert docs == sorted(docs)


def test_url_seen_membership(crawl):
    """Final URL-seen set = exactly the canonical URLs the reference would
    enumerate: seeded queries + discovered viewers + classified doc pages."""
    _, _, res = crawl
    seen = {r["url"] for r in res.frontier.select("url").collect()}
    # spot-check golden chain
    assert (
        "https://www.sec.gov/cgi-bin/browse-edgar?action=getcompany&CIK=AAPL"
        "&type=10-Q&dateb=&owner=exclude&count=10" in seen
    )
    assert (
        "https://www.sec.gov/cgi-bin/viewer?action=view&cik=320193"
        "&accession_number=0000320193-18-000100&xbrl_type=v" in seen
    )
    assert (
        "https://www.sec.gov/Archives/edgar/data/320193/000032019318000100/R5.htm"
        in seen
    )
    # unclassified reports of the 10-Q filing (R4 parenthetical / R6 extra)
    # are never enqueued (the 10-K_1 filing legitimately maps its CF to R6)
    q_base = "https://www.sec.gov/Archives/edgar/data/320193/000032019318000100/"
    assert q_base + "R4.htm" not in seen and q_base + "R6.htm" not in seen
    # frontier urls are unique (the URL-seen invariant)
    assert res.frontier.count() == res.frontier.select("url").distinct().count()


def test_missing_income_pages_marked(crawl):
    _, _, res = crawl
    missing = res.frontier.filter(F.col("state") == "missing")
    # AAPL: the 10-K query page + 9 of 10 viewer links + any classified doc
    # pages (e.g. notes) that aren't among the embedded samples
    from edgar_spark.parse.docs import filing_index_parse
    from tests.conftest import read_sample

    n_missing_docs = 0
    for sample, ftype, in_corpus in [
        ("sample_10Q.html", "10-Q", {"R1.htm", "R2.htm", "R3.htm", "R5.htm", "R7.htm"}),
        ("sample_10K.html", "10-K", {"R1.htm", "R2.htm", "R5.htm", "R8.htm"}),
        ("sample_10K_1.html", "10-K", {"R1.htm"}),
    ]:
        docs = filing_index_parse(read_sample(sample), ftype)
        n_missing_docs += sum(
            1 for u in docs.values() if u.rsplit("/", 1)[1] not in in_corpus
        )
    # 9 of the 10-Q query page's 10 viewer links have no embedded viewer
    # page, plus every classified doc page absent from the corpus
    assert missing.filter(F.col("ticker") == "AAPL").count() == 9 + n_missing_docs
    # synthetic companies: withheld income pages (h-dependent, may be 0)
    for r in missing.filter(F.col("ticker") != "AAPL").collect():
        assert r["doc_type"] == "Income"


def test_robots_gating(spark, tmp_path):
    pages = corpus.build_pages(spark, 1, n_filings=1)
    seeds = corpus.build_seeds(spark, 1)
    robots = spark.createDataFrame(
        [("www.sec.gov", "/Archives/", False, 1000, None, None)], ROBOTS_SCHEMA
    )
    cfg = CrawlConfig(max_waves=4, checkpoint_dir=str(tmp_path / "r"))
    res = Crawler(spark, pages, seeds, robots=robots, config=cfg).run()
    blocked = res.frontier.filter(F.col("state") == "robots_blocked")
    assert blocked.count() > 0
    assert all(
        r["url"].startswith("https://www.sec.gov/Archives/")
        for r in blocked.collect()
    )
    assert res.facts.count() == 0  # report pages never fetched
    assert sum(m["robots_blocked"] for m in res.metrics) == blocked.count()


def test_resume_equivalence(spark, tmp_path):
    """EP3: run 1 wave, resume from the snapshot, finish — identical filings
    and frontier vs an uninterrupted run."""
    pages = corpus.build_pages(spark, 1, n_filings=2).cache()
    seeds = corpus.build_seeds(spark, 1)

    full = Crawler(
        spark, pages, seeds, config=CrawlConfig(max_waves=5, checkpoint_dir=str(tmp_path / "full"))
    ).run()

    interrupted_dir = str(tmp_path / "part")
    Crawler(
        spark, pages, seeds, config=CrawlConfig(max_waves=1, checkpoint_dir=interrupted_dir)
    ).run()
    resume_cfg = CrawlConfig(max_waves=5)
    resumed = Crawler.resume(
        spark, interrupted_dir, pages, seeds, config=resume_cfg
    )
    # the caller's config is not repointed at the resumed checkpoint
    assert resume_cfg.checkpoint_dir is None

    def norm_filings(df):
        return sorted(
            (tuple((None if isinstance(v, float) and math.isnan(v) else v) for v in r)
             for r in df.drop("collected").collect())
        )

    assert norm_filings(full.filings) == norm_filings(resumed.filings)
    cols = ["url", "kind", "state", "doc_type", "filing_date"]
    a = sorted(map(tuple, full.frontier.select(*cols).collect()))
    b = sorted(map(tuple, resumed.frontier.select(*cols).collect()))
    assert a == b


def test_cuckoo_mode_equivalent(spark, tmp_path):
    """seen_filter='cuckoo' produces the same filings as the bloom mode."""
    from edgar_spark.frontier.crawler import CrawlConfig, Crawler
    from edgar_spark.synth.corpus import build_pages, build_seeds

    pages = build_pages(spark, 3, 2)
    seeds = build_seeds(spark, 3)
    a = Crawler(
        spark, pages, seeds,
        config=CrawlConfig(max_waves=4, checkpoint_dir=str(tmp_path / "a")),
    ).run()
    b = Crawler(
        spark, pages, seeds,
        config=CrawlConfig(
            max_waves=4, seen_filter="cuckoo", checkpoint_dir=str(tmp_path / "b")
        ),
    ).run()
    ka = sorted(
        (r["ticker"], r["filing_type"], str(r["filing_date"]), r["revenue"])
        for r in a.filings.collect()
    )
    kb = sorted(
        (r["ticker"], r["filing_type"], str(r["filing_date"]), r["revenue"])
        for r in b.filings.collect()
    )
    assert ka == kb and len(ka) > 0


def test_recanonicalize_migration(spark, tmp_path):
    """Canonicalization-rule upgrade: frontier rows stored under an OLD
    canonical form (simulated with an uppercase-scheme duplicate) collapse
    onto their new canonical twin, the fetched row winning over pending;
    facts are untouched (carried path, keyed by accession)."""
    from pyspark.sql import functions as F

    from edgar_spark.frontier.crawler import CrawlConfig, Crawler
    from edgar_spark.synth.corpus import build_pages, build_seeds

    ckpt = str(tmp_path / "ck")
    pages = build_pages(spark, 2, 1)
    seeds = build_seeds(spark, 2)
    cfg = CrawlConfig(max_waves=4, checkpoint_dir=ckpt)
    crawler = Crawler(spark, pages, seeds, config=cfg)
    crawler.run()

    frontier = crawler.catalog.read(spark, "frontier")
    n0 = frontier.count()
    facts_path = crawler.catalog.table_path("facts")
    # simulate a pre-upgrade checkpoint: one fetched row duplicated under
    # an old (uppercase-scheme) canonical form, marked pending
    victim = frontier.filter(F.col("state") == "fetched").limit(1)
    legacy = victim.withColumn(
        "url", F.concat(F.lit("HTTPS://"), F.expr("substring(url, 9)"))
    ).withColumn("state", F.lit("pending"))
    crawler.catalog.commit_snapshot(
        {"frontier": frontier.unionByName(legacy)},
        meta={"wave": crawler.catalog.snapshot_meta().get("wave", -1)},
        carry=["facts"],
    )
    assert crawler.catalog.read(spark, "frontier").count() == n0 + 1

    out = crawler.recanonicalize()
    assert out == {"rows_before": n0 + 1, "rows_after": n0}
    fr2 = crawler.catalog.read(spark, "frontier")
    # the fetched twin won; no pending duplicate, urls all lowercase-scheme
    assert fr2.filter(F.col("url").startswith("HTTPS")).count() == 0
    assert fr2.count() == fr2.select("url").distinct().count()
    # facts untouched: same carried path
    assert crawler.catalog.table_path("facts") == facts_path


def test_mark_for_recrawl_roundtrip(spark, tmp_path):
    """Recrawl: flip fetched report pages back to pending, purge their
    facts, resume — refetches exactly those pages and reproduces identical
    filings."""
    from pyspark.sql import functions as F

    from edgar_spark.frontier.crawler import CrawlConfig, Crawler
    from edgar_spark.synth.corpus import build_pages, build_seeds

    ckpt = str(tmp_path / "ck")
    pages = build_pages(spark, 3, 2)
    seeds = build_seeds(spark, 3)
    cfg = CrawlConfig(max_waves=4, seen_filter="cuckoo", checkpoint_dir=ckpt)
    crawler = Crawler(spark, pages, seeds, config=cfg)
    res = crawler.run()
    before = sorted(
        (r["ticker"], r["filing_type"], str(r["filing_date"]), r["revenue"])
        for r in res.filings.collect()
    )
    n_facts_before = res.facts.count()

    victim_urls = [
        r["url"]
        for r in res.frontier.filter(
            (F.col("kind") == "report") & (F.col("state") == "fetched")
        ).limit(3).collect()
    ]
    crawler.mark_for_recrawl(victim_urls)
    fr = crawler.catalog.read(spark, "frontier")
    assert fr.filter(F.col("state") == "pending").count() == len(victim_urls)
    assert crawler.catalog.read(spark, "facts").count() < n_facts_before

    res2 = Crawler.resume(
        spark, ckpt, pages, seeds,
        config=CrawlConfig(max_waves=8, seen_filter="cuckoo"),
    )
    assert sum(m["fetched"] for m in res2.metrics) == len(victim_urls)
    after = sorted(
        (r["ticker"], r["filing_type"], str(r["filing_date"]), r["revenue"])
        for r in res2.filings.collect()
    )
    assert after == before
    assert res2.facts.count() == n_facts_before


def test_resume_after_retention(spark, tmp_path):
    """Aggressive snapshot expiry (keep only the latest) must not break
    resume: the current snapshot always survives, so an interrupted crawl
    with snapshot_keep=1 resumes to the identical result."""
    pages = corpus.build_pages(spark, 1, n_filings=2).cache()
    seeds = corpus.build_seeds(spark, 1)

    full = Crawler(
        spark, pages, seeds,
        config=CrawlConfig(max_waves=5, checkpoint_dir=str(tmp_path / "full")),
    ).run()

    part_dir = str(tmp_path / "part")
    Crawler(
        spark, pages, seeds,
        config=CrawlConfig(max_waves=2, checkpoint_dir=part_dir, snapshot_keep=1),
    ).run()
    resumed = Crawler.resume(
        spark, part_dir, pages, seeds,
        config=CrawlConfig(max_waves=5, snapshot_keep=1),
    )

    def norm_filings(df):
        return sorted(
            (tuple((None if isinstance(v, float) and math.isnan(v) else v) for v in r)
             for r in df.drop("collected").collect())
        )

    assert norm_filings(full.filings) == norm_filings(resumed.filings)


def test_crawl_snapshot_retention(spark, tmp_path):
    """snapshot_keep bounds checkpoint storage: per-wave commits beyond the
    retention window are expired (manifest AND disk), while the crawl
    result and the current snapshot stay intact."""
    from pyspark.sql import functions as F

    from edgar_spark.frontier.crawler import CrawlConfig, Crawler
    from edgar_spark.synth.corpus import build_pages, build_seeds

    pages = build_pages(spark, 3, 2)
    seeds = build_seeds(spark, 3)
    cfg = CrawlConfig(
        max_waves=6, checkpoint_dir=str(tmp_path / "ck"), snapshot_keep=2
    )
    res = Crawler(spark, pages, seeds, config=cfg).run()
    assert res.filings.count() > 0
    m = res.catalog._read_manifest()
    # retention window + the final filings commit
    assert len(m["snapshots"]) <= 4
    assert res.catalog.read(spark, "frontier").filter(
        F.col("state") == "fetched"
    ).count() > 0


def test_crawl_delay_budget(spark):
    """A robots Crawl-delay becomes a per-host page budget per wave
    (wave_window / delay), split across the salted buckets: no wave may
    fetch more than the budget, and the crawl still completes with the
    same filings — just over more waves."""
    import pandas as pd

    from edgar_spark.frontier.crawler import CrawlConfig, Crawler
    from edgar_spark.frontier.robots import ROBOTS_SCHEMA
    from edgar_spark.synth.corpus import build_pages, build_seeds

    pages = build_pages(spark, 2, 1)
    seeds = build_seeds(spark, 2)
    robots = spark.createDataFrame(
        pd.DataFrame(
            [{"host": "www.sec.gov", "path_prefix": "/", "allowed": True,
              "crawl_delay_ms": 10_000, "pattern_len": None,
              "pattern_regex": None}]
        ),
        ROBOTS_SCHEMA,
    )

    def key(res):
        return sorted(
            (r["ticker"], r["filing_type"], str(r["filing_date"]), r["revenue"])
            for r in res.filings.collect()
        )

    free = Crawler(spark, pages, seeds, config=CrawlConfig(max_waves=8)).run()
    capped = Crawler(
        spark, pages, seeds, robots=robots,
        config=CrawlConfig(max_waves=40),
    ).run()

    budget = 60_000 // 10_000  # 6 pages per wave for the host
    fetched = [m["fetched"] for m in capped.metrics]
    assert all(f <= budget for f in fetched)
    assert max(fetched) == budget  # the cap actually binds
    assert len(capped.metrics) > len(free.metrics)  # paid in extra waves
    assert key(capped) == key(free) and len(key(free)) > 0


def _expected_filings(n_companies: int, n_filings: int) -> dict:
    return {
        (corpus.ticker_of(i), an): corpus.expected_filing(i, an)
        for i in range(n_companies)
        for ftype in corpus.FILING_TYPES
        for an in (
            corpus.accession_of(i, ftype, d)
            for d in corpus.filing_dates(ftype, n_filings)
        )
    }


def _assert_filings_match(res, expected: dict, unchecked=()) -> None:
    """The crawl's filings are exactly ``expected`` (plus the ``unchecked``
    keys, whose values are not compared)."""
    got = {(r["ticker"], r["accession"]): r.asDict() for r in res.filings.collect()}
    assert set(got) == set(expected) | set(unchecked)
    for key, exp in expected.items():
        for col, v in exp.items():
            want = None if v is None else pytest.approx(v, rel=1e-12)
            assert got[key][col] == want, (key, col, got[key][col], v)


def test_mixed_waves_run_one_parse_kernel(spark, monkeypatch):
    """A 20 s Crawl-delay (3 pages per wave) spreads each kind's pages over
    several waves, so waves fetch several kinds at once; every wave still
    runs exactly one parse kernel, and the crawl gives the same filings."""
    import pandas as pd

    from edgar_spark.frontier import crawler

    pages = corpus.build_pages(spark, 2, 1)
    seeds = corpus.build_seeds(spark, 2)
    robots = spark.createDataFrame(
        pd.DataFrame(
            [{"host": "www.sec.gov", "path_prefix": "/", "allowed": True,
              "crawl_delay_ms": 20_000, "pattern_len": None,
              "pattern_regex": None}]
        ),
        ROBOTS_SCHEMA,
    )
    waves = []  # [pending kinds, parse_pages calls] per run_wave
    parse_pages, run_wave = crawler.parse_pages, Crawler.run_wave

    def counted_parse(df):
        waves[-1][1] += 1
        return parse_pages(df)

    def counted_wave(self, frontier, facts, wave_no, pending_kinds):
        waves.append([set(pending_kinds), 0])
        return run_wave(self, frontier, facts, wave_no, pending_kinds)

    monkeypatch.setattr(crawler, "parse_pages", counted_parse)
    monkeypatch.setattr(Crawler, "run_wave", counted_wave)
    res = Crawler(
        spark, pages, seeds, robots=robots, config=CrawlConfig(max_waves=40)
    ).run()

    assert max(m["fetched"] for m in res.metrics) == 3  # the budget binds
    assert any(len(kinds) >= 2 for kinds, _ in waves)  # mixed waves ran
    assert [n for _, n in waves] == [1] * len(waves) == [1] * len(res.metrics)
    _assert_filings_match(res, _expected_filings(2, 1))


def test_hostile_pages_counted_as_parse_failures(spark):
    """A fetched page without its kind's marker is a parse failure: counted
    in ``parse_failures``, never fatal. So is an index page that has the
    marker but is malformed (its parser raises): it yields no links.
    Filings that do not depend on a hostile page are unchanged."""
    base = corpus.BASE_URL.rstrip("/")
    cik0 = int(corpus.cik_of(0))
    k_dates = corpus.filing_dates("10-K", 2)
    q_date = corpus.filing_dates("10-Q", 2)[0]
    k0, k1 = (corpus.accession_of(0, "10-K", d) for d in k_dates)
    q0 = corpus.accession_of(0, "10-Q", q_date)

    def viewer(an):
        return base + corpus.VIEWER_PATH_FMT.format(cik_int=cik0, an=an)

    blank = "<html><body><table></table></body></html>"
    hostile = {
        corpus.QUERY_URL_FMT.format(ticker=corpus.ticker_of(1), ftype="10-Q"): blank,
        viewer(k0): blank,
        base
        + corpus.REPORT_PATH_FMT.format(
            cik_int=cik0, an18=corpus.an18(q0), n=corpus.R_OPS
        ): blank,
        viewer(k1): "<html><script>var reports</script></html>",  # malformed
    }
    text = F.col("text")
    for url, body in hostile.items():
        text = F.when(F.col("url") == url, body).otherwise(text)
    pages = corpus.build_pages(spark, 2, 2).withColumn("text", text)
    assert pages.filter(F.col("url").isin(list(hostile))).count() == len(hostile)

    res = Crawler(
        spark, pages, corpus.build_seeds(spark, 2), config=CrawlConfig(max_waves=5)
    ).run()

    assert res.metrics[-1]["pending_next"] == 0
    assert sum(m["parse_failures"] for m in res.metrics) == 4
    expected = _expected_filings(2, 2)
    lost = [(corpus.ticker_of(0), k0), (corpus.ticker_of(0), k1)] + [
        (corpus.ticker_of(1), corpus.accession_of(1, "10-Q", d))
        for d in corpus.filing_dates("10-Q", 2)
    ]
    damaged = (corpus.ticker_of(0), q0)  # lost its operations report
    for key in lost + [damaged]:
        del expected[key]
    _assert_filings_match(res, expected, unchecked=[damaged])


def test_cuckoo_saturated_crawl_equivalent(spark):
    """Correctness under seen-filter overload: a deliberately tiny cuckoo
    filter saturates mid-crawl and degrades to all-maybe-seen; the exact
    anti-join must then carry membership truth, producing the identical
    crawl result as bloom mode."""
    from edgar_spark.frontier.bloom import ShardedCuckoo
    from edgar_spark.frontier.crawler import CrawlConfig, Crawler
    from edgar_spark.synth.corpus import build_pages, build_seeds

    pages = build_pages(spark, 3, 2)
    seeds = build_seeds(spark, 3)

    def key(res):
        return sorted(
            (r["ticker"], r["filing_type"], str(r["filing_date"]), r["revenue"])
            for r in res.filings.collect()
        )

    ref = Crawler(
        spark, pages, seeds, config=CrawlConfig(max_waves=4, seen_filter="bloom")
    ).run()

    c = Crawler(
        spark, pages, seeds, config=CrawlConfig(max_waves=4, seen_filter="cuckoo")
    )
    c._bloom = ShardedCuckoo(  # one shard of 8 slots
        n_shards=1, n_buckets_per_shard=2, max_kicks=10, stash_max=2
    )
    res = c.run()
    assert c._bloom.saturated  # the degrade actually engaged
    assert key(res) == key(ref) and len(key(res)) > 0
    # frontier membership identical too (the north rule's URL-seen check)
    urls_ref = {r["url"] for r in ref.frontier.select("url").collect()}
    urls_sat = {r["url"] for r in res.frontier.select("url").collect()}
    assert urls_ref == urls_sat


def test_fetch_join_strategy_switch(spark, monkeypatch):
    """Waves beyond BROADCAST_WAVE_THRESHOLD automatically flip the fetch
    from broadcasting the due side to a shuffle join on url (the 10^10-wave
    plan); the crawl result must be identical under either strategy."""
    from edgar_spark.frontier import crawler
    from edgar_spark.frontier.crawler import CrawlConfig, Crawler
    from edgar_spark.synth.corpus import build_pages, build_seeds

    pages = build_pages(spark, 3, 2)
    seeds = build_seeds(spark, 3)

    def crawl_with(threshold):
        monkeypatch.setattr(crawler, "BROADCAST_WAVE_THRESHOLD", threshold)
        res = Crawler(spark, pages, seeds, config=CrawlConfig(max_waves=4)).run()
        key = sorted(
            (r["ticker"], r["filing_type"], str(r["filing_date"]), r["revenue"])
            for r in res.filings.collect()
        )
        return key, [m["fetch_join"] for m in res.metrics]

    key_b, joins_b = crawl_with(10**9)
    key_s, joins_s = crawl_with(0)  # every observed wave count exceeds 0
    assert set(joins_b) == {"broadcast"}
    assert set(joins_s) == {"shuffle"}
    assert key_b == key_s and len(key_b) > 0


def test_evict_forgets_url(spark, tmp_path):
    """evict() removes frontier rows + facts and (cuckoo mode) deletes the
    URLs from the seen-filter, so an evicted URL can be re-discovered as a
    brand-new candidate. mark_for_recrawl, by contrast, must KEEP filter
    membership — its rows stay in the frontier."""
    from pyspark.sql import functions as F

    from edgar_spark.frontier.crawler import CrawlConfig, Crawler
    from edgar_spark.synth.corpus import build_pages, build_seeds

    ckpt = str(tmp_path / "ck")
    pages = build_pages(spark, 3, 2)
    seeds = build_seeds(spark, 3)
    cfg = CrawlConfig(max_waves=4, seen_filter="cuckoo", checkpoint_dir=ckpt)
    crawler = Crawler(spark, pages, seeds, config=cfg)
    res = crawler.run()
    n_rows_before = res.frontier.count()

    victims = [
        r["url"]
        for r in res.frontier.filter(F.col("kind") == "report").limit(2).collect()
    ]
    assert all(crawler._bloom.contains(u) for u in victims)

    crawler.mark_for_recrawl(victims)
    assert all(crawler._bloom.contains(u) for u in victims)  # membership kept

    crawler.evict(victims)
    fr = crawler.catalog.read(spark, "frontier")
    assert fr.count() == n_rows_before - len(victims)
    assert fr.filter(F.col("url").isin(victims)).count() == 0
    assert not any(crawler._bloom.contains(u) for u in victims)  # forgotten


def test_purge_of_no_urls_keeps_frontier(spark, tmp_path):
    """mark_for_recrawl([]) and evict([]) commit snapshots whose frontier
    is unchanged (an empty URL list has no schema to infer)."""
    pages = corpus.build_pages(spark, 1, n_filings=1)
    seeds = corpus.build_seeds(spark, 1)
    cfg = CrawlConfig(max_waves=0, checkpoint_dir=str(tmp_path / "ck"))
    crawler = Crawler(spark, pages, seeds, config=cfg)
    crawler.run()

    def rows():
        return sorted(map(tuple, crawler.catalog.read(spark, "frontier").collect()))

    before = rows()
    assert before
    crawler.mark_for_recrawl([])
    crawler.evict([])
    assert rows() == before


def test_golden_10k_filing_assembled(crawl):
    """The AAPL FY2015 10-K assembled from the reference's 10-K samples
    (index sample_10K.html, EN/OPS/BS/CF report samples; income page
    deliberately missing) matches the 10-K goldens of parser_test.go and
    samples/sample_10K_marshal.json, including the generated OpExpense."""
    _, _, res = crawl
    row = res.filings.filter(
        (F.col("ticker") == "AAPL")
        & (F.col("accession") == corpus.GOLDEN_10K_ACCESSION)
    ).collect()
    assert len(row) == 1
    r = row[0].asDict()
    assert r["filing_date"] == "2015-10-28"
    expected = {
        "sharecount": 5575331000.0,     # parser_test.go:280-291
        "revenue": 233715000000.0,      # Test10KOpsParser
        "cost_of_revenue": 140089000000.0,
        "gross_margin": 93626000000.0,
        "op_income": 71230000000.0,
        "op_expense": 22396000000.0,    # generated: rev - cos - opinc
        "net_income": 53394000000.0,
        "washares": 5793069000.0,
        "dps": 1.98,
        "op_cashflow": 81266000000.0,   # Test10KCfParser
        "capex": -11247000000.0,
        "ldebt": 53463000000.0,         # Test10KBSParser
        "cliab": 80610000000.0,
        "deferred": 8940000000.0,
        "retained": 92284000000.0,
        "equity": 119355000000.0,
        "cassets": 89378000000.0,
    }
    for k, v in expected.items():
        assert r[k] == v, f"{k}: {r[k]} != {v}"
    # the income page (R3) is absent from the corpus → marked missing
    # (classified notes pages absent from the corpus land there too)
    missing_docs = {
        r["doc_type"]
        for r in res.frontier.filter(
            (F.col("accession") == corpus.GOLDEN_10K_ACCESSION)
            & (F.col("state") == "missing")
        ).collect()
    }
    assert "Income" in missing_docs


def test_golden_partial_filing_num_in_link(crawl):
    """The 4-doc index variant with only the num-in-link entity page in the
    corpus: the crawl extracts 266,252,295 shares from inside the hyperlink
    (parser_test.go:71-89) and the filing carries a validation error listing
    every missing required field."""
    _, _, res = crawl
    row = res.filings.filter(
        F.col("accession") == corpus.GOLDEN_10K1_ACCESSION
    ).collect()
    assert len(row) == 1
    r = row[0].asDict()
    assert r["sharecount"] == 266252295.0
    assert r["revenue"] is None and r["assets"] is None
    assert r["collected"] == ["ShareCount"]
    err = r["validation_error"]
    assert err and "Missing fields in Operations[" in err
    assert "Missing fields in Assets[" in err
    assert "Revenue," in err and "OpCashFlow," in err


def test_host_alias_merges_politeness_budget(spark):
    """Host-alias consolidation (CrawlConfig.host_aliases +
    canonical.fold_host): a Crawl-delay rule keyed on the APEX host
    ("sec.gov") does not touch a www.sec.gov frontier under legacy
    identities, but once folding is on, www/apex (and any alias pair)
    collapse to ONE politeness identity and the merged budget binds —
    same filings, paid in extra waves. This is how a real crawler
    avoids double-hitting one origin through several DNS names."""
    import pandas as pd

    from edgar_spark.frontier.crawler import CrawlConfig, Crawler
    from edgar_spark.frontier.robots import ROBOTS_SCHEMA
    from edgar_spark.synth.corpus import build_pages, build_seeds

    pages = build_pages(spark, 2, 1)
    seeds = build_seeds(spark, 2)
    robots = spark.createDataFrame(
        pd.DataFrame(
            [{"host": "edgar.example", "path_prefix": "/", "allowed": True,
              "crawl_delay_ms": 10_000, "pattern_len": None,
              "pattern_regex": None}]
        ),
        ROBOTS_SCHEMA,
    )

    def key(res):
        return sorted(
            (r["ticker"], r["filing_type"], str(r["filing_date"]),
             r["revenue"])
            for r in res.filings.collect()
        )

    # legacy identity: rule host "edgar.example" matches nothing — free
    free = Crawler(
        spark, pages, seeds, robots=robots, config=CrawlConfig(max_waves=8)
    ).run()
    assert max(m["fetched"] for m in free.metrics) > 6

    # folded identity: www.sec.gov → sec.gov → (alias pair) edgar.example
    # — every frontier URL now draws from that ONE 6-page/wave budget
    merged = Crawler(
        spark, pages, seeds, robots=robots,
        config=CrawlConfig(
            max_waves=40,
            host_aliases=(("sec.gov", "edgar.example"),),
        ),
    ).run()
    budget = 60_000 // 10_000
    fetched = [m["fetched"] for m in merged.metrics]
    assert all(f <= budget for f in fetched)
    assert max(fetched) == budget
    assert len(merged.metrics) > len(free.metrics)
    assert key(merged) == key(free) and len(key(free)) > 0


def test_cuckoo_forced_multi_shard_equivalent(spark, tmp_path):
    """Forced multi-shard cuckoo preset: 8 shards of tiny (2^8-bucket)
    tables so URLs really spread across shards (and evictions kick in),
    yet the crawl result is identical to the bloom default — the shard
    split must be a pure layout choice, never a semantic one."""
    from edgar_spark.frontier.bloom import ShardedCuckoo
    from edgar_spark.frontier.crawler import CrawlConfig, Crawler
    from edgar_spark.synth.corpus import build_pages, build_seeds

    pages = build_pages(spark, 3, 2)
    seeds = build_seeds(spark, 3)
    a = Crawler(
        spark, pages, seeds,
        config=CrawlConfig(max_waves=4, checkpoint_dir=str(tmp_path / "a")),
    ).run()
    cuckoo_crawler = Crawler(
        spark, pages, seeds,
        config=CrawlConfig(
            max_waves=4, seen_filter="cuckoo", checkpoint_dir=str(tmp_path / "b")
        ),
    )
    cuckoo_crawler._bloom = ShardedCuckoo(8, 1 << 8)
    b = cuckoo_crawler.run()
    key = lambda res: sorted(  # noqa: E731
        (r["ticker"], r["filing_type"], str(r["filing_date"]), r["revenue"])
        for r in res.filings.collect()
    )
    assert key(a) == key(b) and len(key(a)) > 0
    # the filter really is sharded: >1 shard holds fingerprints
    occupied = [
        s
        for s in cuckoo_crawler._bloom.shards
        if (s.table != 0).any() or s.stash
    ]
    assert len(occupied) > 1
