"""Unit tests: canonicalization, bloom/cuckoo, icelite snapshots."""

from __future__ import annotations

from edgar_spark.frontier.bloom import CuckooFilter, ShardedBloom


def test_sharded_bloom_basics():
    b = ShardedBloom(n_shards=4, bits_per_shard=1 << 14, n_hashes=5)
    urls = [f"https://www.sec.gov/Archives/edgar/data/1/{i}/R1.htm" for i in range(500)]
    for u in urls:
        b.add(u)
    assert all(b.contains(u) for u in urls)  # no false negatives, ever
    fresh = [f"https://www.sec.gov/other/{i}" for i in range(2000)]
    fp = sum(b.contains(u) for u in fresh) / len(fresh)
    assert fp < 0.05  # generous bound for this sizing


def test_sharded_bloom_merge():
    a = ShardedBloom(2, 1 << 12, 3)
    b = ShardedBloom(2, 1 << 12, 3)
    a.add("x")
    b.add("y")
    a.merge(b)
    assert a.contains("x") and a.contains("y")


def test_cuckoo_filter_delete():
    c = CuckooFilter(n_buckets=1 << 10)
    urls = [f"u{i}" for i in range(300)]
    for u in urls:
        assert c.add(u)
    assert all(c.contains(u) for u in urls)
    assert c.delete("u0")
    assert not c.contains("u0")
    assert c.contains("u1")


def test_cuckoo_filter_no_false_negative_when_full():
    """Seen-filter contract under overload: a full table must never report
    a previously-added URL as unseen — homeless fingerprints go to the
    stash, and past the stash bound the filter degrades to all-maybe-seen
    (precision loss only, never a false negative)."""
    c = CuckooFilter(n_buckets=4, stash_max=8)  # 16 slots + 8 stash
    urls = [f"u{i}" for i in range(200)]
    for u in urls:
        c.add(u)  # returns False once saturated — membership still safe
    assert all(c.contains(u) for u in urls)
    assert c.saturated

    # stash path specifically (not yet saturated): fill slots + one spill
    c2 = CuckooFilter(n_buckets=2, stash_max=64)
    spill = [f"s{i}" for i in range(12)]  # 8 slots → ≥4 stashed
    for u in spill:
        assert c2.add(u)
    assert not c2.saturated and len(c2.stash) > 0
    assert all(c2.contains(u) for u in spill)


def test_sharded_cuckoo_distributed_build(spark):
    """The sharded distributed build (executors hash → shuffle on shard →
    shard-local kick loops in applyInPandas) honors the seen-filter
    contract, is invariant to input partitioning, and supports delete."""
    import pandas as pd

    from edgar_spark.frontier.bloom import ShardedCuckoo

    urls = [f"https://www.sec.gov/Archives/edgar/data/{i}/R1.htm" for i in range(2000)]
    df = spark.createDataFrame(pd.DataFrame({"url": urls}))

    built = ShardedCuckoo(n_shards=4, n_buckets_per_shard=1 << 12)
    built.add_positions(df.repartition(13), "url")
    assert all(built.contains(u) for u in urls)  # no false negatives
    fresh = [f"https://www.sec.gov/other/{i}" for i in range(2000)]
    assert sum(built.contains(u) for u in fresh) / len(fresh) < 0.05

    # partitioning-invariant: sorted insertion makes shard tables identical
    again = ShardedCuckoo(n_shards=4, n_buckets_per_shard=1 << 12)
    again.add_positions(df.repartition(1), "url")
    for s1, s2 in zip(built.shards, again.shards):
        assert (s1.table == s2.table).all()
        assert s1.stash == s2.stash and s1.saturated == s2.saturated

    # distributed incremental == driver add on top of the same state
    more = [f"https://www.sec.gov/extra/{i}" for i in range(500)]
    built.add_positions(spark.createDataFrame(pd.DataFrame({"url": more})))
    assert all(built.contains(u) for u in urls + more)

    assert built.delete(urls[0])
    assert not built.contains(urls[0])
    assert built.contains(urls[1])


def test_probe_seen_broadcast_equals_closure(spark):
    """The broadcast-shipped probe path (per-shard sc.broadcast + lazy
    shard-selective fetch) produces flag-for-flag identical output to the
    whole-filter-in-closure reference path, for both seen-filter classes
    (the sharded cuckoo broadcasts each shard's CuckooFilter.contains)."""
    import pandas as pd

    from edgar_spark.frontier.bloom import ShardedBloom, ShardedCuckoo, probe_seen

    seen = [
        f"https://www.sec.gov/Archives/edgar/data/{i}/R1.htm"
        for i in range(400)
    ]
    mixed = seen[::2] + [f"https://www.sec.gov/other/{i}" for i in range(400)]
    df = spark.createDataFrame(pd.DataFrame({"url": mixed})).repartition(7)

    bloom = ShardedBloom(n_shards=4, bits_per_shard=1 << 14, n_hashes=5)
    shc = ShardedCuckoo(n_shards=4, n_buckets_per_shard=1 << 12)
    for f in (bloom, shc):
        for u in seen:
            f.add(u)
        assert hasattr(f, "probe_parts")
        bc = {
            r["url"]: r["maybe_seen"]
            for r in probe_seen(f, df, "url", ship="broadcast").collect()
        }
        cl = {
            r["url"]: r["maybe_seen"]
            for r in probe_seen(f, df, "url", ship="closure").collect()
        }
        assert bc == cl
        assert all(bc[u] for u in seen[::2])  # no false negatives


def test_sharded_cuckoo_saturation_is_per_shard():
    """Overloading tiny shards degrades precision per shard only — and
    never yields a false negative anywhere."""
    from edgar_spark.frontier.bloom import ShardedCuckoo

    f = ShardedCuckoo(n_shards=4, n_buckets_per_shard=2, stash_max=2)
    urls = [f"u{i}" for i in range(400)]  # ~100 per shard >> 8 slots + 2
    for u in urls:
        f.add(u)
    assert all(f.contains(u) for u in urls)
    assert f.saturated  # all four shards overloaded
    f2 = ShardedCuckoo(n_shards=4, n_buckets_per_shard=1 << 10)
    for u in urls:
        f2.add(u)
    assert not f2.saturated


def test_seen_filter_contents_independent_of_add_path(spark):
    """add_urls picks driver-side or distributed hashing from the row count
    it is given; the filter it leaves must not depend on that choice. The
    bloom's three paths (driver add, position build, bitmap build) give
    byte-identical shards; the cuckoo's two paths both hold every URL."""
    import pandas as pd

    from edgar_spark.frontier.bloom import ShardedCuckoo

    urls = [f"https://www.sec.gov/Archives/edgar/data/{i}/R1.htm" for i in range(600)]
    df = spark.createDataFrame(pd.DataFrame({"url": urls})).repartition(5)

    blooms = [ShardedBloom(4, 1 << 14, 5) for _ in range(3)]
    for b, n in zip(blooms, (len(urls), None, 10**9)):  # driver, positions, bitmaps
        b.add_urls(df, n=n)
    for other in blooms[1:]:
        for s1, s2 in zip(blooms[0].shards, other.shards):
            assert s1.tobytes() == s2.tobytes()
    assert blooms[0].shards[0].any()

    for n in (len(urls), None):  # driver, distributed
        c = ShardedCuckoo(n_shards=4, n_buckets_per_shard=1 << 10)
        c.add_urls(df, n=n)
        assert all(c.contains(u) for u in urls)


def test_canonicalize_and_bucket(spark):
    from pyspark.sql import functions as F

    from edgar_spark.frontier.canonical import canonicalize, host_of, politeness_bucket

    df = spark.createDataFrame(
        [
            ("/cgi-bin/viewer?action=view&cik=1",),
            ("https://WWW.SEC.gov//Archives//edgar/data/1/R1.htm#frag",),
            ("https://www.sec.gov/ok/path",),
            # RFC 3986 §3.1: scheme compares case-insensitively too —
            # an uppercase scheme must not escape URL-seen dedup
            ("HTTPS://WWW.SEC.GOV//cgi-bin/browse?action=x",),
            ("ftp://Other.Example/pass#z",),  # non-http: passthrough
            # path-less URL: authority ends at '?', query case preserved
            ("HTTPS://WWW.SEC.GOV?Action=View",),
            # '//' inside a QUERY VALUE is data, not a path separator —
            # collapsing it would alias distinct redirect targets
            ("https://www.sec.gov//r//x?next=https://a.example//b//c",),
        ],
        ["u"],
    ).select(
        canonicalize(F.col("u")).alias("c"),
        host_of(canonicalize(F.col("u"))).alias("h"),
        politeness_bucket(F.col("u"), 8).alias("b"),
    )
    rows = df.collect()
    assert rows[0]["c"] == "https://www.sec.gov/cgi-bin/viewer?action=view&cik=1"
    assert rows[1]["c"] == "https://www.sec.gov/Archives/edgar/data/1/R1.htm"
    assert rows[2]["c"] == "https://www.sec.gov/ok/path"
    assert rows[3]["c"] == "https://www.sec.gov/cgi-bin/browse?action=x"
    assert rows[4]["c"] == "ftp://Other.Example/pass"
    assert rows[5]["c"] == "https://www.sec.gov?Action=View"
    assert rows[6]["c"] == "https://www.sec.gov/r/x?next=https://a.example//b//c"
    assert rows[1]["h"] == "www.sec.gov"
    assert rows[3]["h"] == "www.sec.gov"
    assert rows[4]["h"] == ""
    assert rows[5]["h"] == "www.sec.gov"
    assert all(0 <= r["b"] < 8 for r in rows)


def test_icelite_snapshot_roundtrip(spark, tmp_path):
    from edgar_spark.icelite import IceliteCatalog

    cat = IceliteCatalog(str(tmp_path / "tbl"))
    df1 = spark.range(5).toDF("x")
    sid1 = cat.commit_snapshot({"t": df1}, meta={"wave": 0})
    df2 = spark.range(9).toDF("x")
    sid2 = cat.commit_snapshot({"t": df2}, meta={"wave": 1})
    assert (sid1, sid2) == (1, 2)
    assert cat.read(spark, "t").count() == 9
    assert cat.read(spark, "t", snap_id=1).count() == 5  # time travel
    assert cat.snapshot_meta()["wave"] == 1
    cat.rollback(1)
    assert cat.read(spark, "t").count() == 5


def test_icelite_compaction(spark, tmp_path):
    """rewriteDataFiles analog: many small files merge to few, rows are
    untouched, other tables carry forward, and the pre-compaction
    snapshot stays time-travelable until expiry retires it."""
    from pyspark.sql import functions as F

    from edgar_spark.icelite import IceliteCatalog

    cat = IceliteCatalog(str(tmp_path / "tbl"))
    frag = spark.range(1000).toDF("x").repartition(16)
    other = spark.range(3).toDF("y")
    sid1 = cat.commit_snapshot({"t": frag, "o": other}, meta={"wave": 0})

    import pathlib

    def n_files(path):
        return len(list(pathlib.Path(path).glob("*.parquet")))

    assert n_files(cat.table_path("t")) == 16
    sid2 = cat.compact_table(spark, "t", target_file_bytes=1 << 30)
    assert sid2 == sid1 + 1
    assert n_files(cat.table_path("t")) == 1
    # rows identical, other table carried (same path, not rewritten)
    assert cat.read(spark, "t").agg(F.sum("x")).first()[0] == 499500
    assert cat.table_path("o") == cat.table_path("o", snap_id=sid1)
    assert cat.snapshot_meta()["from_files"] == 16
    # already compact → no-op: same snapshot id, no redundant rewrite
    assert cat.compact_table(spark, "t", target_file_bytes=1 << 30) == sid2
    # time travel to the fragmented version still works…
    assert n_files(cat.table_path("t", snap_id=sid1)) == 16
    # …until expiry retires it (current snapshot retained)
    import pytest

    assert cat.expire_snapshots(keep_last=1) == [sid1]
    with pytest.raises(KeyError):
        cat.table_path("t", snap_id=sid1)
    assert cat.read(spark, "t").count() == 1000


def test_parse_robots_txt_groups_and_precedence():
    from edgar_spark.frontier.robots import parse_robots_txt

    body = """
# comments and blank lines ignored
User-agent: *
Disallow: /private/
Allow: /private/public/
Crawl-delay: 2

User-agent: edgar-spark
Disallow: /cgi-bin/secret
Allow: /cgi-bin/secret/ok
Crawl-delay: 1.5

User-agent: otherbot
Disallow: /
"""
    # specific group wins over *
    rows = parse_robots_txt("www.sec.gov", body, user_agent="edgar-spark")
    assert {(r["path_prefix"], r["allowed"]) for r in rows} == {
        ("/cgi-bin/secret", False),
        ("/cgi-bin/secret/ok", True),
    }
    assert all(r["crawl_delay_ms"] == 1500 for r in rows)
    # unknown agent falls back to the * group
    star = parse_robots_txt("www.sec.gov", body, user_agent="somebody-else")
    assert {(r["path_prefix"], r["allowed"]) for r in star} == {
        ("/private/", False),
        ("/private/public/", True),
    }
    assert all(r["crawl_delay_ms"] == 2000 for r in star)
    # wildcard paths carry their ORIGINAL pattern; empty Disallow = noop
    wild = parse_robots_txt("h", "User-agent: *\nDisallow: /a/*/b\nDisallow:\n")
    assert [(r["path_prefix"], r["allowed"], r["pattern"]) for r in wild] == [
        ("/a/", False, "/a/*/b")
    ]
    # precedence keeps the ORIGINAL pattern length
    assert wild[0]["pattern_len"] == len("/a/*/b")
    # wildcard Allow is kept (exact glob match — no truncation)
    wa = parse_robots_txt("h", "User-agent: *\nAllow: /x*\nDisallow: /x\n")
    assert {(r["path_prefix"], r["allowed"], r["pattern"]) for r in wa} == {
        ("/x", True, "/x*"),
        ("/x", False, None),
    }
    # trailing $ anchors at end-of-path
    anchored = parse_robots_txt("h", "User-agent: *\nDisallow: /*.pdf$\n")
    assert anchored[0]["pattern"] == "/*.pdf$"
    # crawl-delay clamps (inf → int32 max) and drops nan/negatives
    inf_rows = parse_robots_txt("h", "User-agent: *\nDisallow: /\nCrawl-delay: inf\n")
    assert inf_rows[0]["crawl_delay_ms"] == 2**31 - 1
    neg = parse_robots_txt("h", "User-agent: *\nDisallow: /\nCrawl-delay: -3\n")
    assert neg[0]["crawl_delay_ms"] is None


def test_split_robots_wildcard_exact_match(spark):
    """Wildcard rules match EXACTLY (translated regex): a wildcard
    Disallow blocks precisely the URLs its pattern covers, still
    out-ranking a shorter literal Allow by ORIGINAL pattern length."""
    import pandas as pd

    from edgar_spark.frontier.robots import ROBOTS_SCHEMA, parse_robots_txt, split_robots

    rows = parse_robots_txt(
        "h.example", "User-agent: *\nDisallow: /files*private\nAllow: /files2\n"
    )
    robots = spark.createDataFrame(pd.DataFrame(rows), ROBOTS_SCHEMA)
    frontier = spark.createDataFrame(
        [
            ("https://h.example/files2private", "h.example"),  # REP: blocked
            ("https://h.example/files2public", "h.example"),  # REP: allowed
            ("https://h.example/other", "h.example"),  # allowed
        ],
        ["url", "host"],
    )
    allowed, blocked = split_robots(frontier, robots)
    assert {r["url"] for r in blocked.collect()} == {
        "https://h.example/files2private"
    }
    assert {r["url"] for r in allowed.collect()} == {
        "https://h.example/files2public",
        "https://h.example/other",
    }


def test_split_robots_dollar_anchor_and_wildcard_allow(spark):
    """$-anchored Disallow blocks only end-matching paths; a wildcard
    Allow (kept, exact) punches its hole by original-pattern length."""
    import pandas as pd

    from edgar_spark.frontier.robots import ROBOTS_SCHEMA, parse_robots_txt, split_robots

    rows = parse_robots_txt(
        "h.example",
        "User-agent: *\nDisallow: /*.pdf$\nAllow: /public/*.pdf$\n",
    )
    robots = spark.createDataFrame(pd.DataFrame(rows), ROBOTS_SCHEMA)
    urls = [
        ("https://h.example/docs/a.pdf", "blocked"),  # matches /*.pdf$
        ("https://h.example/docs/a.pdfx", "allowed"),  # $ anchor: no match
        ("https://h.example/public/b.pdf", "allowed"),  # longer Allow wins
        ("https://h.example/docs/a.html", "allowed"),
    ]
    frontier = spark.createDataFrame(
        [(u, "h.example") for u, _ in urls], ["url", "host"]
    )
    allowed, blocked = split_robots(frontier, robots)
    got_allowed = {r["url"] for r in allowed.collect()}
    got_blocked = {r["url"] for r in blocked.collect()}
    for u, expect in urls:
        assert (u in got_allowed) == (expect == "allowed"), u
        assert (u in got_blocked) == (expect == "blocked"), u


def test_split_robots_bare_host_url(spark):
    """A bare-host URL (no path at all) resolves to "/" under the REP, so a
    host-wide Disallow must block it — the empty extracted path must not
    slip past every rule."""
    import pandas as pd

    from edgar_spark.frontier.robots import ROBOTS_SCHEMA, parse_robots_txt, split_robots

    rows = parse_robots_txt("h.example", "User-agent: *\nDisallow: /\n")
    robots = spark.createDataFrame(pd.DataFrame(rows), ROBOTS_SCHEMA)
    frontier = spark.createDataFrame(
        [
            ("https://h.example", "h.example"),  # bare host → path "/"
            ("https://h.example/", "h.example"),
            ("https://open.example", "open.example"),  # no rules → allowed
        ],
        ["url", "host"],
    )
    allowed, blocked = split_robots(frontier, robots)
    assert {r["url"] for r in blocked.collect()} == {
        "https://h.example",
        "https://h.example/",
    }
    assert {r["url"] for r in allowed.collect()} == {"https://open.example"}


def test_split_robots_longest_match(spark):
    """Allow punches a hole in a broader Disallow (longest prefix wins;
    tie → allow); unmatched hosts/paths default to allowed."""
    import pandas as pd

    from edgar_spark.frontier.robots import ROBOTS_SCHEMA, parse_robots_txt, split_robots

    rows = parse_robots_txt(
        "www.sec.gov",
        "User-agent: *\nDisallow: /private/\nAllow: /private/public/\n",
    )
    robots = spark.createDataFrame(pd.DataFrame(rows), ROBOTS_SCHEMA)
    urls = [
        ("https://www.sec.gov/private/x.html", "blocked"),
        ("https://www.sec.gov/private/public/y.html", "allowed"),
        ("https://www.sec.gov/open/z.html", "allowed"),
        ("https://other.host/private/x.html", "allowed"),  # host unmatched
    ]
    frontier = spark.createDataFrame(
        [(u, u.split("/")[2]) for u, _ in urls], ["url", "host"]
    )
    allowed, blocked = split_robots(frontier, robots)
    got_allowed = {r["url"] for r in allowed.collect()}
    got_blocked = {r["url"] for r in blocked.collect()}
    for u, expect in urls:
        assert (u in got_allowed) == (expect == "allowed"), u
        assert (u in got_blocked) == (expect == "blocked"), u


def test_split_robots_random_conformance(spark):
    """Randomized REP conformance: 25 random rule sets (wildcards, $
    anchors, Allow/Disallow mixes) × 40 random paths each, evaluated in
    ONE split_robots call (one host per rule set) and compared against a
    pure-Python longest-match reference implementing the spec directly."""
    import random
    import re as _re

    import pandas as pd

    from edgar_spark.frontier.robots import ROBOTS_SCHEMA, parse_robots_txt, split_robots

    rng = random.Random(20260817)
    seg = ["/a", "/b", "a", "b", "*", "/"]

    def rand_pattern():
        p = "/" + "".join(rng.choice(seg) for _ in range(rng.randint(0, 6)))
        if rng.random() < 0.3:
            p += "$"
        return p

    all_rules, frontier_rows, expected = [], [], {}
    for hi in range(25):
        host = f"h{hi}.example"
        body = "User-agent: *\n" + "".join(
            f"{rng.choice(['Allow', 'Disallow'])}: {rand_pattern()}\n"
            for _ in range(rng.randint(1, 6))
        )
        rules = parse_robots_txt(host, body)
        all_rules.extend(rules)

        def ref_allowed(path):
            best_len, best_allow = -1, True
            for r in rules:
                if r["pattern"] is not None:
                    # independent reference: translate the glob to a
                    # Python regex (the spec), vs the engine's greedy fold
                    pat = r["pattern"]
                    end = pat.endswith("$")
                    core = pat[:-1] if end else pat
                    rx = ".*".join(_re.escape(x) for x in core.split("*"))
                    m = _re.match("^" + rx + ("$" if end else ""), path) is not None
                else:
                    m = path.startswith(r["path_prefix"])
                if m and (
                    r["pattern_len"] > best_len
                    or (r["pattern_len"] == best_len and r["allowed"])
                ):
                    best_len, best_allow = r["pattern_len"], r["allowed"]
            return best_allow

        for pi in range(40):
            path = "/" + "".join(
                rng.choice("ab/.") for _ in range(rng.randint(0, 8))
            )
            url = f"https://{host}{path}"
            frontier_rows.append((url, host))
            expected[url] = ref_allowed(path)

    robots = spark.createDataFrame(pd.DataFrame(all_rules), ROBOTS_SCHEMA)
    frontier = spark.createDataFrame(frontier_rows, ["url", "host"])
    allowed, blocked = split_robots(frontier, robots)
    got_allowed = {r["url"] for r in allowed.collect()}
    got_blocked = {r["url"] for r in blocked.collect()}
    assert got_allowed | got_blocked == set(expected) and not (
        got_allowed & got_blocked
    )
    mismatches = [
        u for u, want in expected.items() if (u in got_allowed) != want
    ]
    assert not mismatches, mismatches[:10]


def test_split_robots_hostile_pattern_is_linear(spark):
    """A crafted many-wildcard robots pattern must not hang the gate: the
    greedy glob fold is linear, where a backtracking regex translation of
    'Disallow: /*a*a*...*a$' against a long non-matching path would
    explore a combinatorial number of splits."""
    import time

    import pandas as pd

    from edgar_spark.frontier.robots import ROBOTS_SCHEMA, parse_robots_txt, split_robots

    hostile = "/" + "*a" * 20 + "$"  # 20 wildcards, $-anchored
    rows = parse_robots_txt("evil.example", f"User-agent: *\nDisallow: {hostile}\n")
    robots = spark.createDataFrame(pd.DataFrame(rows), ROBOTS_SCHEMA)
    near_miss = "https://evil.example/" + "a" * 500 + "b"  # forces full scan
    match = "https://evil.example/" + "a" * 500
    frontier = spark.createDataFrame(
        [(near_miss, "evil.example"), (match, "evil.example")], ["url", "host"]
    )
    t0 = time.time()
    allowed, blocked = split_robots(frontier, robots)
    got_blocked = {r["url"] for r in blocked.collect()}
    assert time.time() - t0 < 30  # regex backtracking here would be hours
    assert got_blocked == {match}  # and the decisions are still exact


def test_rules_from_robots_pages(spark):
    """Robots rules acquired from the crawl corpus itself: /robots.txt
    pages parse on executors into the gating rules table."""
    from edgar_spark.frontier.robots import rules_from_robots_pages

    rows = [
        ("https://www.sec.gov/robots.txt",
         "User-agent: *\nDisallow: /private/\nCrawl-delay: 2\n"),
        ("https://other.host/robots.txt", "User-agent: *\nDisallow: /\n"),
        ("https://www.sec.gov/not-robots.html", "User-agent: *\nDisallow: /\n"),
    ]
    pages = spark.createDataFrame(rows, ["url", "text"])
    rules = {
        (r["host"], r["path_prefix"], r["allowed"], r["crawl_delay_ms"])
        for r in rules_from_robots_pages(pages).collect()
    }
    assert rules == {
        ("www.sec.gov", "/private/", False, 2000),
        ("other.host", "/", False, None),
    }


def test_icelite_expire_snapshots(spark, tmp_path):
    """expireSnapshots analog: old snapshots retire, their unreferenced
    data dirs are deleted, and a carried-forward path referenced by a
    surviving snapshot is preserved (a snapshot references files, it does
    not own them)."""
    import pathlib

    import pytest

    from edgar_spark.icelite import IceliteCatalog

    cat = IceliteCatalog(str(tmp_path / "tbl"))
    for i in range(1, 6):
        cat.commit_snapshot({"t": spark.range(i).toDF("v")})
    # snapshot 6 carries snapshot 5's t (shared manifest) and adds u
    t5 = cat.table_path("t", 5)
    cat.commit_snapshot({"u": spark.range(7).toDF("v")}, carry=["t"])

    expired = cat.expire_snapshots(keep_last=2)
    assert expired == [1, 2, 3, 4]
    assert cat.read(spark, "t").count() == 5  # current (carried path) intact
    assert cat.read(spark, "u").count() == 7
    assert cat.read(spark, "t", snap_id=5).count() == 5  # retained history
    with pytest.raises(KeyError):
        cat.snapshot_meta(2)  # expired id gone from the manifest
    # expired, unreferenced data dirs physically deleted; shared t5 kept
    root = pathlib.Path(str(tmp_path / "tbl"))
    assert not (root / "snap-000001").exists()
    assert not (root / "snap-000003").exists()
    assert pathlib.Path(t5).exists()
    assert cat.expire_snapshots(keep_last=2) == []  # idempotent


def test_icelite_rows_match_counts(spark, tmp_path):
    """``rows`` (read from the manifest, no Spark job) equals a counted
    read for a written empty table, a written non-empty one, a carried one
    and a compacted one."""
    from edgar_spark.icelite import IceliteCatalog

    cat = IceliteCatalog(str(tmp_path / "tbl"))
    s1 = cat.commit_snapshot(
        {
            "empty": spark.range(0).toDF("v"),
            "t": spark.range(1000).toDF("v").repartition(16),
        }
    )
    s2 = cat.commit_snapshot({"u": spark.range(7).toDF("v")}, carry=["empty", "t"])
    s3 = cat.compact_table(spark, "t", target_file_bytes=1 << 30)
    assert s3 == s2 + 1 and cat.snapshot_meta(s3)["from_files"] == 16
    assert cat.tables(s3) == ["empty", "t", "u"]
    for sid in (s1, s2, s3):
        for name in cat.tables(sid):
            assert cat.rows(name, sid) == cat.read(spark, name, sid).count()
    assert (cat.rows("empty"), cat.rows("t"), cat.rows("u")) == (0, 1000, 7)


def test_icelite_time_travel_and_carry(spark, tmp_path):
    """Snapshot-id reads (time travel), rollback, and carry-over manifests
    (a snapshot referencing a prior snapshot's data files without rewrite)."""
    from edgar_spark.icelite import IceliteCatalog

    cat = IceliteCatalog(str(tmp_path / "tbl"))
    s1 = cat.commit_snapshot(
        {"t": spark.range(3).toDF("v")}, meta={"tag": "first"}
    )
    s2 = cat.commit_snapshot(
        {"t": spark.range(10).toDF("v")}, meta={"tag": "second"}
    )
    assert cat.read(spark, "t").count() == 10  # current
    assert cat.read(spark, "t", snap_id=s1).count() == 3  # time travel
    assert cat.snapshot_meta(s1)["tag"] == "first"

    # carry-over: new snapshot adds u, references s2's t without rewriting
    s3 = cat.commit_snapshot({"u": spark.range(5).toDF("v")}, carry=["t"])
    assert cat.read(spark, "t", snap_id=s3).count() == 10
    assert cat.read(spark, "u").count() == 5
    assert cat.table_path("t", s3) == cat.table_path("t", s2)  # shared files

    cat.rollback(s1)
    assert cat.read(spark, "t").count() == 3
    assert cat.current_snapshot_id() == s1
    # a commit after a rollback allocates a FRESH id (no overwrite)
    s4 = cat.commit_snapshot({"t": spark.range(1).toDF("v")})
    assert s4 == s3 + 1
    assert cat.read(spark, "t", snap_id=s2).count() == 10


def test_politeness_bucket_md5_mode(spark):
    """The md5 hash mode (the oracle-replayable convention) must bucket
    into range, match the driver oracle's formula, and spread a single
    host across buckets like the xxhash64 production mode does."""
    import hashlib

    from pyspark.sql import functions as F

    from edgar_spark.frontier.canonical import politeness_bucket

    urls = [f"https://www.sec.gov/doc{i}.htm" for i in range(64)]
    df = spark.createDataFrame([(u,) for u in urls], ["u"])
    rows = df.select(
        "u", politeness_bucket(F.col("u"), 8, hash_fn="md5").alias("b")
    ).collect()
    want = {
        u: int(hashlib.md5(u.encode()).hexdigest()[:15], 16) % 8 for u in urls
    }
    assert {r["u"]: r["b"] for r in rows} == want
    assert len({r["b"] for r in rows}) > 1  # the salt actually spreads


def test_recrawl_schedule_backoff(spark):
    from edgar_spark.frontier.schedule import recrawl_schedule

    rows = [
        # url A: changes at every fetch -> interval stays 1
        ("A", 1, "x"), ("A", 2, "y"), ("A", 3, "z"),
        # url B: never changes after first sight -> doubling backoff
        ("B", 1, "x"), ("B", 2, "x"), ("B", 3, "x"), ("B", 4, "x"),
        # url C: change in the middle resets the run
        ("C", 1, "x"), ("C", 2, "x"), ("C", 3, "y"), ("C", 4, "y"),
        # url D: single observation
        ("D", 1, "x"),
    ]
    df = spark.createDataFrame(rows, ["url", "wave", "fp"])
    out = {r["url"]: r for r in recrawl_schedule(df, max_interval=4).collect()}

    a = out["A"]
    assert (a["n_changes"], a["unchanged_run"], a["interval_waves"],
            a["next_due_wave"]) == (3, 0, 1, 4)
    b = out["B"]  # run=3 but cap log2(4)=2 -> interval 4
    assert (b["n_changes"], b["unchanged_run"], b["interval_waves"],
            b["next_due_wave"]) == (1, 3, 4, 8)
    c = out["C"]  # last change at wave 3 -> run 1 -> interval 2
    assert (c["n_changes"], c["unchanged_run"], c["interval_waves"],
            c["next_due_wave"]) == (2, 1, 2, 6)
    d = out["D"]  # first sight counts as a change -> due next wave
    assert (d["n_fetches"], d["interval_waves"], d["next_due_wave"]) == (1, 1, 2)

    import pytest

    with pytest.raises(ValueError):
        recrawl_schedule(df, max_interval=48)


def test_change_rate_estimator(spark):
    import pytest

    from edgar_spark.frontier.schedule import change_rate

    rows = [
        # S: stable over 5 fetches -> survival 1000, interval capped at max
        *[("S", t, "x") for t in (0, 100, 200, 300, 400)],
        # V: changes every fetch -> survival (2*0+1)*1000 div 5 = 200,
        #    interval = 50*200 div 800 = 12
        ("V", 0, "a"), ("V", 50, "b"), ("V", 100, "c"),
        # M: one change in three comparisons, irregular gaps ->
        #    survival 5000 div 7 = 714, interval = 20*714 div 286 = 49
        ("M", 0, "x"), ("M", 10, "x"), ("M", 30, "y"), ("M", 60, "y"),
        # W: volatile with tiny gaps -> raw 0, floored to min
        ("W", 0, "a"), ("W", 1, "b"), ("W", 2, "c"),
        # One: single observation -> no rate, dropped
        ("One", 7, "x"),
    ]
    df = spark.createDataFrame(rows, ["url", "ts", "fp"])
    out = {
        r["url"]: r
        for r in change_rate(
            df, min_interval_sec=10, max_interval_sec=5000
        ).collect()
    }
    assert set(out) == {"S", "V", "M", "W"}
    s = out["S"]
    assert (s["n_obs"], s["n_changes"], s["avg_gap_sec"]) == (5, 0, 100)
    assert (s["survival_permille"], s["est_interval_sec"]) == (1000, 5000)
    assert s["next_due_ts"] == 5400
    v = out["V"]
    assert (v["survival_permille"], v["est_interval_sec"]) == (200, 12)
    assert v["next_due_ts"] == 112
    m = out["M"]
    assert (m["n_changes"], m["span_sec"], m["avg_gap_sec"]) == (1, 60, 20)
    assert (m["survival_permille"], m["est_interval_sec"]) == (714, 49)
    w = out["W"]
    assert (w["survival_permille"], w["est_interval_sec"]) == (200, 10)
    assert w["next_due_ts"] == 12

    with pytest.raises(ValueError):
        change_rate(df, min_interval_sec=100, max_interval_sec=10)


def test_shard_assign_rendezvous(spark):
    import hashlib

    import pytest
    from pyspark.sql import functions as F

    from edgar_spark.frontier.canonical import shard_assign

    urls = [f"https://h{i % 9}.example.com/p/{i}" for i in range(300)]
    df = spark.createDataFrame([(u,) for u in urls], ["url"])

    def ref(u, n):
        # python replay of hash60(url + '#s' + i) argmax, ties to larger i
        ws = [
            (int(hashlib.md5(f"{u}#s{i}".encode()).hexdigest()[:15], 16), i)
            for i in range(n)
        ]
        return max(ws)[1]

    got5 = {
        r["url"]: r["shard"]
        for r in df.select(
            "url", shard_assign(F.col("url"), 5).alias("shard")
        ).collect()
    }
    assert got5 == {u: ref(u, 5) for u in urls}
    # balanced-ish: every shard owns some URLs
    from collections import Counter

    counts = Counter(got5.values())
    assert set(counts) == set(range(5)) and min(counts.values()) >= 20

    # minimal disruption: dropping the top shard only moves ITS urls
    got4 = {
        r["url"]: r["shard"]
        for r in df.select(
            "url", shard_assign(F.col("url"), 4).alias("shard")
        ).collect()
    }
    for u in urls:
        if got5[u] != 4:
            assert got4[u] == got5[u]
    assert any(got5[u] == 4 for u in urls)

    with pytest.raises(ValueError):
        shard_assign(F.col("url"), 0)


def test_crawl_budget_scarcity(spark):
    from edgar_spark.frontier.schedule import crawl_budget

    pending = spark.createDataFrame(
        [("a", 50), ("b", 30), ("c", 20), ("d", 3)], ["host", "n_pending"]
    )
    out = {r["host"]: r["alloc"] for r in crawl_budget(pending, budget=10).collect()}
    # shares: a 4.854, b 2.912, c 1.941, d 0.291 -> bases 4,2,1,0; 3 bonus
    # by remainder desc (c .941, b .912, a .854, d .291)
    assert out == {"a": 5, "b": 3, "c": 2, "d": 0}
    assert sum(out.values()) == 10


def test_crawl_budget_abundance_and_sum(spark):
    from edgar_spark.frontier.schedule import crawl_budget

    pending = spark.createDataFrame(
        [("a", 5), ("b", 2)], ["host", "n_pending"]
    )
    out = {r["host"]: r["alloc"] for r in crawl_budget(pending, budget=100).collect()}
    assert out == {"a": 5, "b": 2}  # demand fits: everyone gets demand

    # invariant sweep: sum(alloc) == budget for scarce budgets, and the
    # bucketed global rank agrees with a single-partition reference
    rows = [(f"h{i}", (i * 13) % 97 + 1) for i in range(40)]
    pend = spark.createDataFrame(rows, ["host", "n_pending"])
    total = sum(n for _, n in rows)
    for budget in (7, 100, total - 1):
        alloc = {r["host"]: r["alloc"] for r in crawl_budget(pend, budget).collect()}
        assert sum(alloc.values()) == budget
        # reference largest-remainder in plain python
        base = {h: budget * n // total for h, n in rows}
        rem = {h: budget * n % total for h, n in rows}
        left = budget - sum(base.values())
        bonus = set(
            h for h, _ in sorted(rows, key=lambda x: (-rem[x[0]], x[0]))[:left]
        )
        for h, n in rows:
            assert alloc[h] == base[h] + (1 if h in bonus else 0), (budget, h)


def test_parse_sitemaps(spark):
    from edgar_spark.frontier.sitemap import parse_sitemaps

    xml = (
        "<urlset>"
        "<url><loc>https://a.com/1</loc><lastmod>2024-01-02</lastmod>"
        "<priority>0.8</priority><changefreq>Daily</changefreq></url>"
        "<url><loc>https://a.com/2</loc></url>"        # optional lastmod
        "<url><lastmod>2024-03-04</lastmod></url>"      # no loc -> dropped
        "<url><loc>https://a.com/3</loc><priority>high</priority>"
        "<changefreq>sometimes</changefreq></url>"      # invalid hints
        "<url><loc>https://a.com/4</loc>"
        "<changefreq>never</changefreq></url>"
        "</urlset>"
    )
    df = spark.createDataFrame(
        [("a.com", xml), ("b.com", "<urlset></urlset>"), ("c.com", None)],
        ["host", "xml"],
    )
    rows = parse_sitemaps(df).orderBy("loc").collect()
    out = [(r["host"], r["loc"], r["lastmod"]) for r in rows]
    assert out == [
        ("a.com", "https://a.com/1", "2024-01-02"),
        ("a.com", "https://a.com/2", None),
        ("a.com", "https://a.com/3", None),
        ("a.com", "https://a.com/4", None),
    ]
    hints = [(r["priority"], r["changefreq"], r["changefreq_s"])
             for r in rows]
    assert hints[0] == (0.8, "daily", 86_400)     # mixed-case token folds
    assert hints[1] == (None, None, None)
    assert hints[2] == (None, "sometimes", None)  # junk: NULL, no crash
    assert hints[3] == (None, "never", None)      # never = no timer


def test_trap_hosts(spark):
    from edgar_spark.frontier.canonical import trap_hosts, url_pattern
    from pyspark.sql import functions as F

    urls = (
        [(f"https://trap.com/cal/2024/{i}",) for i in range(20)]
        + [(f"https://ok.com/{w}/{i}",) for i, w in enumerate("abcdefghij" * 2)]
        + [("https://tiny.com/cal/1",)] * 5   # trap-shaped but below min_urls
        + [("HTTPS://Trap.com/cal/9",)]       # scheme/host case-insensitive
    )
    df = spark.createDataFrame(urls, ["url"])
    out = {r["host"]: r for r in trap_hosts(df, min_urls=10, share_pct=80).collect()}
    t = out["trap.com"]
    # 20x /cal/N/N plus one case-variant /cal/N -> 95% top share
    assert t["is_trap"] and t["n_patterns"] == 2 and t["n_urls"] == 21
    assert t["top_pattern"] == "trap.com/cal/N/N" and t["top_pattern_urls"] == 20
    # mixed patterns: /a/N .. /j/N each twice -> top share 10%
    assert not out["ok.com"]["is_trap"] and out["ok.com"]["n_patterns"] == 10
    assert not out["tiny.com"]["is_trap"]  # 100% share but only 5 URLs

    # pattern generalization: digits collapse, query dropped, bare path -> /
    row = spark.range(1).select(
        url_pattern(F.lit("https://X.com/a/123/b45?page=9")).alias("p"),
        url_pattern(F.lit("https://y.com")).alias("q"),
    ).collect()[0]
    assert row["p"] == "x.com/a/N/bN" and row["q"] == "y.com/"


def test_sitemap_urls_from_robots(spark):
    from edgar_spark.frontier.robots import sitemap_urls

    body = (
        "User-agent: *\nDisallow: /x\n"
        "Sitemap: https://a.com/s1.xml\n"
        "SITEMAP:https://a.com/s2.xml\n"        # case + no space
        "\tsitemap :\thttps://a.com/s3.xml\n"   # tabs around the colon
        "# Sitemap: https://a.com/ignored.xml\n"  # comment line
        "sitemapx: https://a.com/not-a-directive\n"
    )
    df = spark.createDataFrame([("a.com", body), ("b.com", "User-agent: *")],
                               ["host", "body"])
    out = [r["sitemap_url"] for r in sitemap_urls(df).orderBy("sitemap_url").collect()]
    assert out == [
        "https://a.com/s1.xml", "https://a.com/s2.xml", "https://a.com/s3.xml",
    ]


def test_parse_sitemap_index_and_multiline(spark):
    """The index-level parser handles real-world pretty-printed XML
    (newlines between and inside tags) and drops loc-less entries; the
    URL-level parser handles the same formatting."""
    from edgar_spark.frontier.sitemap import parse_sitemap_index, parse_sitemaps

    idx_xml = (
        "<?xml version=\"1.0\"?>\n<sitemapindex>\n"
        "  <sitemap>\n    <loc>\n      https://a.com/s1.xml\n    </loc>\n"
        "    <lastmod>2024-01-01</lastmod>\n  </sitemap>\n"
        "  <sitemap>\n    <loc>https://a.com/s2.xml</loc>\n  </sitemap>\n"
        "  <sitemap>\n    <lastmod>2024-02-02</lastmod>\n  </sitemap>\n"
        "</sitemapindex>\n"
    )
    df = spark.createDataFrame([("a.com", idx_xml)], ["host", "xml"])
    rows = parse_sitemap_index(df).orderBy("sitemap_url").collect()
    assert [(r["sitemap_url"], r["lastmod"]) for r in rows] == [
        ("https://a.com/s1.xml", "2024-01-01"),
        ("https://a.com/s2.xml", None),
    ]

    url_xml = (
        "<urlset>\n  <url>\n    <loc>\n      https://a.com/p1\n    </loc>\n"
        "    <lastmod>2024-03-03</lastmod>\n  </url>\n"
        "  <url><loc>https://a.com/p2</loc></url>\n</urlset>"
    )
    df2 = spark.createDataFrame([("a.com", url_xml)], ["host", "xml"])
    got = parse_sitemaps(df2).orderBy("loc").collect()
    assert [(r["loc"], r["lastmod"]) for r in got] == [
        ("https://a.com/p1", "2024-03-03"),
        ("https://a.com/p2", None),
    ]


def test_failure_backoff_policy(spark):
    """Backoff doubles per consecutive failure, caps, resets on success,
    and marks URLs past the give-up threshold dead."""
    from edgar_spark.frontier.schedule import failure_backoff

    rows = []
    rows += [("u_ok", w, w != 3) for w in range(5)]       # one mid failure, last ok
    rows += [("u_tail2", w, w < 3) for w in range(5)]     # last 2 fail
    rows += [("u_allfail", w, False) for w in range(8)]   # 8 straight fails
    df = spark.createDataFrame(rows, "url string, wave long, ok boolean")
    out = {r["url"]: r for r in failure_backoff(df, max_backoff=32,
                                                give_up_after=5).collect()}
    assert out["u_ok"]["fail_streak"] == 0
    assert out["u_ok"]["backoff_waves"] == 1
    assert out["u_ok"]["next_attempt_wave"] == 5 and not out["u_ok"]["dead"]
    assert out["u_tail2"]["fail_streak"] == 2
    assert out["u_tail2"]["backoff_waves"] == 4 and not out["u_tail2"]["dead"]
    assert out["u_allfail"]["fail_streak"] == 8
    assert out["u_allfail"]["backoff_waves"] == 32  # capped at 2^5
    assert out["u_allfail"]["dead"]


def test_write_warc_roundtrip(spark):
    """parse_warc(write_warc(pages)) is the identity on (url, payload) —
    including payloads embedding the WARC magic string."""
    from edgar_spark.sources.warc import parse_warc, write_warc

    pages = [
        ("https://a.com/1", "hello world"),
        ("https://a.com/2", "tricky WARC/1.0\r\n\r\npayload inside"),
        ("https://b.com/1", ""),
    ]
    df = spark.createDataFrame(pages, "url string, payload string")
    files = write_warc(df, n_files=2).select(
        __import__("pyspark.sql.functions", fromlist=["col"]).col("file_id")
        .cast("string").alias("file_id"),
        "data",
    )
    back = {
        r["target_uri"]: r["payload"] for r in parse_warc(files).collect()
    }
    assert back == dict(pages)


def test_fold_host_case_insensitive(spark):
    """fold_host lowercases the COLUMN side before the www-strip and the
    alias lookup: hosts arriving verbatim from robots.txt URLs (not via
    host_of) may be mixed-case, and a case-sensitive miss would leave a
    Disallow/Crawl-delay rule keyed on a never-matching identity."""
    from pyspark.sql import functions as F

    from edgar_spark.frontier.canonical import fold_host

    rows = spark.createDataFrame(
        [("WWW.Sec.gov:443",), ("www.sec.gov",), ("CDN.Example.COM",),
         ("Other.ORG",)],
        ["host"],
    )
    aliases = {"cdn.EXAMPLE.com": "Example.com"}
    out = dict(
        rows.select(
            "host", fold_host(F.col("host"), aliases).alias("f")
        ).collect()
    )
    assert out["WWW.Sec.gov:443"] == "sec.gov"
    assert out["www.sec.gov"] == "sec.gov"
    assert out["CDN.Example.COM"] == "example.com"
    assert out["Other.ORG"] == "other.org"


def test_conditional_fetch_actions(spark):
    """Every RFC 9110 revalidation branch, with explicit rows: 304 reuse
    (validators refreshed by the 304's headers when present, kept
    otherwise), error keeps the stored entry untouched, a 304 for a
    never-stored URL is a protocol error, redirects (3xx) and bodyless
    2xxs keep the stored entry instead of erasing it, 200s split new /
    unchanged / updated by stored digest, and the sent_* request-hint
    flags derive from the STORE side only."""
    from edgar_spark.frontier.schedule import conditional_fetch

    store = spark.createDataFrame(
        [
            ("u/reval", 'W/"a"', "Mon", "d1"),
            ("u/reval-refresh", 'W/"b"', None, "d2"),
            ("u/err", None, "Tue", "d3"),
            ("u/same", 'W/"c"', None, "d4"),
            ("u/diff", None, None, "d5"),
            ("u/moved", 'W/"m"', "Sat", "d7"),
            ("u/nobody", None, "Sun", "d8"),
        ],
        "url string, etag string, last_modified string, digest string",
    )
    responses = spark.createDataFrame(
        [
            ("u/reval", 304, None, None, None),
            ("u/reval-refresh", 304, 'W/"b2"', "Wed", None),
            ("u/err", 503, None, None, None),
            ("u/same", 200, 'W/"c2"', "Thu", "d4"),
            ("u/diff", 200, None, None, "d5x"),
            ("u/new", 200, 'W/"n"', "Fri", "d6"),
            ("u/bad304", 304, None, None, None),
            ("u/moved", 302, None, None, None),
            ("u/nobody", 204, None, None, None),
            ("u/moved-new", 307, None, None, None),
        ],
        "url string, status int, etag string, last_modified string, "
        "digest string",
    )
    out = {
        r["url"]: r for r in conditional_fetch(store, responses).collect()
    }
    r = out["u/reval"]
    assert (r["action"], r["digest"], r["etag"], r["last_modified"]) == (
        "revalidated", "d1", 'W/"a"', "Mon")
    assert r["sent_if_none_match"] and not r["sent_if_modified_since"]
    r = out["u/reval-refresh"]
    assert (r["action"], r["digest"], r["etag"], r["last_modified"]) == (
        "revalidated", "d2", 'W/"b2"', "Wed")
    r = out["u/err"]
    assert (r["action"], r["digest"], r["etag"], r["last_modified"]) == (
        "error", "d3", None, "Tue")
    assert not r["sent_if_none_match"] and r["sent_if_modified_since"]
    assert out["u/same"]["action"] == "unchanged"
    assert out["u/same"]["etag"] == 'W/"c2"'  # 200 replaces validators
    assert out["u/diff"]["action"] == "updated"
    assert out["u/diff"]["digest"] == "d5x"
    r = out["u/new"]
    assert r["action"] == "new" and r["digest"] == "d6"
    assert not r["sent_if_none_match"] and not r["sent_if_modified_since"]
    assert out["u/bad304"]["action"] == "error"
    assert out["u/bad304"]["digest"] is None
    # a redirect is NOT content: the stored entry survives untouched
    r = out["u/moved"]
    assert (r["action"], r["digest"], r["etag"], r["last_modified"]) == (
        "redirect", "d7", 'W/"m"', "Sat")
    # bodyless 2xx (204): stored entry survives, action 'skipped'
    r = out["u/nobody"]
    assert (r["action"], r["digest"], r["last_modified"]) == (
        "skipped", "d8", "Sun")
    # redirect with nothing stored: nothing to keep, still 'redirect'
    r = out["u/moved-new"]
    assert (r["action"], r["digest"]) == ("redirect", None)


def test_frontier_priority_slots(spark):
    """Authority-aware wave selection invariants at sf0.001: exactly the
    top-quartile hosts carry 4 slots (others 2), every host's selected
    URLs are its shallowest (depth-then-url order), and slot numbers are
    contiguous from 1."""
    from edgar_spark.operators.oracle_queries import (
        _FP_HOSTS,
        q_frontier_priority,
    )
    from tests.conftest import SF_SMOKE

    rows = q_frontier_priority(spark, SF_SMOKE).collect()
    by_host = {}
    for r in rows:
        by_host.setdefault(r["hid"], []).append(r)
    counts = sorted(len(v) for v in by_host.values())
    assert counts.count(4) == _FP_HOSTS // 4
    assert set(counts) <= {2, 4}
    for hid, rs in by_host.items():
        rs.sort(key=lambda r: r["slot"])
        assert [r["slot"] for r in rs] == list(range(1, len(rs) + 1))
        # shallow-first: selected depths are a non-decreasing prefix
        assert [r["depth"] for r in rs] == sorted(r["depth"] for r in rs)
        assert len({r["rank_scaled"] for r in rs}) == 1


def test_crawl_tiers_magnitude_and_change_adjustment(spark):
    import pandas as pd

    from edgar_spark.frontier.schedule import crawl_tiers

    wave = 86400
    rows = pd.DataFrame(
        [
            # max importance (bitlen 20), no change info -> top tier 3
            ("a", 1 << 19, None),
            # same magnitude, hot page -> already top, clamped at 3
            ("b", (1 << 19) + 5, wave),
            # one bit down, hot (interval <= wave) -> promoted back to 3
            ("c", 1 << 18, wave // 2),
            # one bit down, cold (interval > 8 waves) -> demoted to 1
            ("d", 1 << 18, 9 * wave),
            # three bits down -> imp_tier 0; cold clamps at 0
            ("e", 1 << 16, 9 * wave),
            # far down the tail -> imp_tier 0, warm keeps 0
            ("f", 3, 4 * wave),
            # zero importance (bin(0)='0', bitlen 1) -> bottom
            ("g", 0, None),
        ],
        columns=["url", "importance", "est_interval_sec"],
    )
    out = {r["url"]: r for r in crawl_tiers(spark.createDataFrame(rows)).collect()}
    expect = {
        "a": (3, 0, 3, 1),
        "b": (3, 1, 3, 1),
        "c": (2, 1, 3, 1),
        "d": (2, -1, 1, 4),
        "e": (0, -1, 0, 8),
        "f": (0, 0, 0, 8),
        "g": (0, 0, 0, 8),
    }
    got = {
        u: (r["imp_tier"], r["chg_adj"], r["tier"], r["revisit_waves"])
        for u, r in out.items()
    }
    assert got == expect
