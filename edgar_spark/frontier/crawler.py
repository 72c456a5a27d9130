"""The batch-wave crawl scheduler (EP1/EP2/EP3 of SURVEY.md §3).

Replaces the reference's blocking fetch loop (folder.go:42-97 goroutine
fan-out, page.go:21-28 bare GETs) with a partitioned frontier driven by
DataFrame ops:

wave k:
  1. robots gate (broadcast semi/anti join — frontier side never shuffled);
  2. due selection: ``row_number() OVER (PARTITION BY host, bucket ORDER BY
     seed_seq, type_seq, date_sort, doc_seq, url) <= tokens_per_bucket`` —
     the politeness token budget per salted host bucket;
  3. "fetch" = join due URLs against the ``pages`` corpus (no live HTTP in
     this sandbox; on a cluster this stage is the HTTP/WARC reader);
  4. parse: one Arrow-batched kernel over the wave's marker-bearing pages,
     dispatching on kind (query → filing links, index → doc links, report →
     facts);
  5. discovered URLs: canonicalize → in-batch dedup (keep best priority) →
     bloom prefilter (definitely-new skips the anti-join) → exact
     ``left_anti`` vs the frontier (byte-exact URL-seen per the rule);
  6. frontier state transitions + append; snapshot commit (icelite) so every
     wave is a resume point; per-wave metrics row.

A crawl starts from a snapshot: ``run()`` commits the seed frontier and an
empty facts table as its first snapshot, then runs the same wave loop that
``resume()`` runs from a later snapshot. The final snapshot adds the
consolidated filings and records every wave's metrics in its meta.

Crawl ordering: priority = (seed_seq, type_seq, date_sort, doc_seq, url) —
per-ticker seed order, per filing type, filing dates DESC (the reference's
AvailableFilings order, folder.go:128-131), doc pages in the pinned canonical
order Entity,BS,CF,Ops,Inc,notes. The reference fetches docs concurrently
with a shared-struct race (parser.go:373-388); the pinned order is the
documented deterministic target (SURVEY.md §7 risk 2). When two doc types
map to one URL the highest-priority doc type claims it (the reference is
nondeterministic there too).

Scale notes (10^10 frontier): the frontier lives in snapshots (never in
driver memory — per-wave state is pure DataFrame lineage + parquet);
politeness bucketing salts the single-host key before the window shuffle
(no one-reducer skew); the due→pages join is a shuffle join on url that AQE
re-plans (with Iceberg it becomes storage-partition-pruned by url bucket);
the bloom is maintained incrementally (only new URLs hashed each wave).
"""

from __future__ import annotations

import dataclasses
import tempfile
from dataclasses import dataclass, field
from typing import Dict, List, Optional, Tuple

from pyspark.sql import DataFrame, Observation, SparkSession, Window
from pyspark.sql import functions as F

from edgar_spark.frontier.bloom import ShardedBloom, ShardedCuckoo
from edgar_spark.frontier.canonical import (
    canonicalize,
    fold_host,
    host_of,
    politeness_bucket,
)
from edgar_spark.frontier.robots import split_robots
from edgar_spark.icelite import IceliteCatalog
from edgar_spark.model.consolidate import consolidate_facts
from edgar_spark.model.schemas import FACTS_SCHEMA, FRONTIER_SCHEMA
from edgar_spark.operators.udfs import facts_of, marker_ok, parse_pages

QUERY_URL_TEMPLATE = (
    "https://www.sec.gov/cgi-bin/browse-edgar?action=getcompany"
    "&CIK=%s&type=%s&dateb=&owner=exclude&count=10"
)  # page.go:13-14 (count=10 ⇒ only the 10 most recent filings are discoverable)

PRIORITY_COLS = ["seed_seq", "type_seq", "date_sort", "doc_seq", "url"]

# snapshot file fan-in: small fixed file count at sandbox scale; at 10^10
# scale this becomes write-partitioning by politeness bucket
SNAPSHOT_PARTITIONS = 8

# nominal wall-clock of one fetch wave, used to turn a robots Crawl-delay
# into a per-host page budget: budget = window / delay
WAVE_WINDOW_MS = 60_000

# due waves up to this size broadcast against the pages corpus (corpus never
# shuffles); beyond it — e.g. tokens_per_bucket × buckets at full 10^10
# pressure is 3.2M rows, past safe broadcast size — the fetch flips to a
# shuffle join on url (with Iceberg write-distribution on the pages table
# that shuffle is one-sided/bucketed)
BROADCAST_WAVE_THRESHOLD = 1_000_000


@dataclass
class CrawlConfig:
    filing_types: Tuple[str, ...] = ("10-K", "10-Q")
    politeness_buckets: int = 32
    tokens_per_bucket: int = 100_000
    max_waves: int = 12
    checkpoint_dir: Optional[str] = None
    # "bloom" (sharded, append-only; the 10^10 scale path) or "cuckoo"
    # (deletable: evict() makes the filter forget a URL, so it can be
    # re-discovered as new without the exact anti-join)
    seen_filter: str = "bloom"
    # host-alias consolidation (canonical.fold_host): when not None, the
    # frontier's politeness identity strips :port, folds www. onto the
    # apex, and applies these (alias, canonical) pairs — so one origin
    # reached through several names draws ONE politeness/delay budget.
    # Robots rule hosts fold identically (rules key on the politeness
    # identity). None (default) keeps the raw host — legacy behavior.
    host_aliases: Optional[Tuple[Tuple[str, str], ...]] = None
    # retain only the N most recent snapshots (current always kept),
    # expiring older ones after each commit — one-commit-per-wave grows
    # storage without bound otherwise. None = keep everything (full time
    # travel, the test/debug default).
    snapshot_keep: Optional[int] = None


@dataclass
class CrawlResult:
    filings: DataFrame
    frontier: DataFrame
    facts: DataFrame
    metrics: List[dict] = field(default_factory=list)
    catalog: Optional[IceliteCatalog] = None


def _observed(obs, key: str, default: int = 0) -> int:
    """Read an Observation metric, tolerating a pruned node: when the
    observed subtree is provably empty (e.g. a wave whose due set is empty
    or misses the corpus entirely), AQE's empty-relation propagation
    eliminates it and the observation never fires — the metric is then the
    aggregate over zero rows, i.e. ``default``."""
    try:
        return int(obs.get[key])
    except Exception:  # noqa: BLE001 — Py4J assertion from the pruned node
        return default


def _cnt(cond) -> F.Column:
    """Observation aggregate: the number of rows where ``cond`` holds."""
    return F.coalesce(F.sum(F.when(cond, 1).otherwise(0)), F.lit(0))


def _empty(spark: SparkSession, schema) -> DataFrame:
    # JVM-native single-partition empty. createDataFrame([], schema) builds a
    # Python-RDD-backed plan whose partitions each need a Python worker
    # handshake on every re-execution — at local[32] a coalesce(1) over it
    # drains 32 of those serially (~5 s) in every job that touches the
    # lineage. range(0) is a LocalTableScan-style JVM relation: zero Python.
    return spark.range(0, 0, 1, 1).select(
        *[F.lit(None).cast(f.dataType).alias(f.name) for f in schema.fields]
    )


class Crawler:
    def __init__(
        self,
        spark: SparkSession,
        pages: DataFrame,
        seeds: DataFrame,
        robots: Optional[DataFrame] = None,
        config: Optional[CrawlConfig] = None,
    ) -> None:
        self.spark = spark
        self.pages = pages
        self.seeds = seeds
        self.robots = robots
        self.cfg = config or CrawlConfig()
        if self.robots is not None and self.cfg.host_aliases is not None:
            # rules key on the same politeness identity as the frontier,
            # so delay budgets and allow/deny merge across aliased names
            self.robots = self.robots.withColumn(
                "host", fold_host(F.col("host"), dict(self.cfg.host_aliases))
            )
        self.catalog = IceliteCatalog(
            self.cfg.checkpoint_dir or tempfile.mkdtemp(prefix="edgar_spark_ckpt_")
        )
        self._last_metrics: Optional[dict] = None
        self._bloom = (
            ShardedCuckoo() if self.cfg.seen_filter == "cuckoo" else ShardedBloom()
        )

    # ------------------------------------------------------------ seeding

    def seed_frontier(self) -> DataFrame:
        """EP1 seeding (fetcher.go:16-32): one query URL per (ticker, type),
        priority = (seed order, type order)."""
        types = list(self.cfg.filing_types)
        tdf = F.posexplode(F.array(*[F.lit(t) for t in types])).alias(
            "type_seq", "filing_type"
        )
        df = self.seeds.select("ticker", "cik", "seed_seq", tdf)
        url = F.format_string(QUERY_URL_TEMPLATE, F.col("ticker"), F.col("filing_type"))
        return df.select(
            url.alias("url"),
            F.lit("query").alias("kind"),
            F.col("cik"),
            F.col("ticker"),
            F.col("filing_type"),
            F.lit(None).cast("string").alias("accession"),
            F.lit(None).cast("string").alias("filing_date"),
            F.lit(None).cast("string").alias("doc_type"),
            F.col("seed_seq"),
            F.col("type_seq"),
            F.lit(0).cast("long").alias("date_sort"),
            F.lit(0).alias("doc_seq"),
            F.lit("pending").alias("state"),
            F.lit(None).cast("int").alias("wave"),
            F.lit(-1).alias("wave_added"),
            self._polite_host(url).alias("host"),
            politeness_bucket(url, self.cfg.politeness_buckets).alias("bucket"),
        )

    def _polite_host(self, url):
        """Frontier politeness identity: the raw host, or the fold_host
        consolidation (port/www/alias merge) when host_aliases is set."""
        h = host_of(url)
        if self.cfg.host_aliases is not None:
            return fold_host(h, dict(self.cfg.host_aliases))
        return h

    # ------------------------------------------------------------ one wave

    def _frontier_row(self, links: DataFrame, wave_no: int) -> DataFrame:
        """Pending frontier rows for the links ``parse_pages`` found: a query
        page links filing-index pages (accession read off the viewer URL),
        an index page links report pages."""
        url = canonicalize(F.col("link"))
        from_query = F.col("kind") == "query"
        cols = {
            "url": url,
            "kind": F.when(from_query, "index").otherwise("report"),
            "cik": F.col("cik"),
            "ticker": F.col("ticker"),
            "filing_type": F.col("filing_type"),
            "accession": F.when(
                from_query,
                F.regexp_extract(F.col("link"), r"accession_number=([0-9\-]+)", 1),
            ).otherwise(F.col("accession")),
            "filing_date": F.col("filing_date"),
            "doc_type": F.col("doc_type"),
            "seed_seq": F.col("seed_seq"),
            "type_seq": F.col("type_seq"),
            "date_sort": -F.unix_date(F.to_date(F.col("filing_date"))).cast("long"),
            "doc_seq": F.col("doc_seq"),
            "state": F.lit("pending"),
            "wave": F.lit(None).cast("int"),
            "wave_added": F.lit(wave_no),
            "host": self._polite_host(url),
            "bucket": politeness_bucket(url, self.cfg.politeness_buckets),
        }
        return links.select(*[c.alias(n) for n, c in cols.items()])

    def run_wave(
        self,
        frontier: DataFrame,
        facts: DataFrame,
        wave_no: int,
        pending_kinds: Dict[str, int],
    ) -> Tuple[DataFrame, DataFrame, dict]:
        """One fetch wave.

        ``pending_kinds`` — ``{kind: count}`` of the pending frontier rows
        (known for free from the previous wave's metrics). A wave with no
        query or index page pending skips discovery (the candidate dedup
        window, the seen-filter probe and the anti-join: shuffle stages
        that could match nothing); one with no report page pending skips
        the facts write. The total count picks the fetch join and sizes
        the parse repartition, so a 200-page wave doesn't fan out over 64
        mostly-empty Python tasks (Python worker fan-out scales with cores,
        so at high parallelism dead tasks are what kills scaling
        efficiency)."""
        spark = self.spark
        cfg = self.cfg
        kinds = set(pending_kinds)
        has_links = bool(kinds & {"query", "index"})
        n_pending = sum(pending_kinds.values())
        pending = frontier.filter(F.col("state") == "pending")

        if self.robots is not None:
            allowed, blocked = split_robots(pending, self.robots)
        else:
            allowed, blocked = pending, _empty(spark, FRONTIER_SCHEMA)

        # robots Crawl-delay → per-host page budget per wave
        # (budget = wave_window / delay). Two-stage top-k so the budget is
        # enforced host-wide WITHOUT starving any bucket and WITHOUT an
        # unbounded host-keyed shuffle: the per-bucket window first keeps
        # at most min(tokens_per_bucket, budget) rows per bucket, then a
        # host-level window takes the true top-budget — its single-reducer
        # key sees at most buckets×budget prefiltered rows, so the
        # one-host skew the salting exists for stays bounded. Hosts
        # without a delay rule never enter the host-level window.
        if self.robots is not None:
            # delay 0 (or negative) means "no delay" — treat as no rule;
            # letting it through would divide by zero under ANSI mode
            delay_caps = (
                self.robots.filter(F.col("crawl_delay_ms") > 0)
                .groupBy("host")
                .agg(F.max("crawl_delay_ms").alias("_delay_ms"))
            )
            allowed = allowed.join(F.broadcast(delay_caps), "host", "left")

        w = Window.partitionBy("host", "bucket").orderBy(*PRIORITY_COLS)
        ranked = allowed.withColumn("_rn", F.row_number().over(w))
        base = ranked.filter(F.col("_rn") <= cfg.tokens_per_bucket)
        if self.robots is None:
            due = base.drop("_rn")
        else:
            budget = F.greatest(
                F.lit(1),
                F.floor(F.lit(WAVE_WINDOW_MS) / F.col("_delay_ms")),
            )
            free_side = base.filter(F.col("_delay_ms").isNull())
            wh = Window.partitionBy("host").orderBy(*PRIORITY_COLS)
            capped_side = (
                base.filter(F.col("_delay_ms").isNotNull() & (F.col("_rn") <= budget))
                .withColumn("_hrn", F.row_number().over(wh))
                .filter(F.col("_hrn") <= budget)
                .drop("_hrn")
            )
            due = free_side.unionByName(capped_side).drop("_rn", "_delay_ms")

        # "fetch": join the due wave (bounded by the politeness budget)
        # against the big pages corpus. Strategy picked from the observed
        # pending count (free from the previous wave's metrics):
        # * small wave → broadcast the due side; the corpus never shuffles,
        #   the stream side scales with cores; the miss anti-join
        #   broadcasts the (small, persisted) fetched url set.
        # * wave beyond BROADCAST_WAVE_THRESHOLD → plain shuffle join on
        #   url; with Iceberg write-distribution on the pages table this is
        #   the bucketed sort-merge plan, and the miss anti-join reuses the
        #   same url partitioning instead of broadcasting millions of rows.
        fetch_join = (
            "broadcast" if n_pending <= BROADCAST_WAVE_THRESHOLD else "shuffle"
        )
        if fetch_join == "broadcast":
            fetched = (
                F.broadcast(due)
                .join(self.pages.select("url", "text"), "url", "inner")
                .persist()
            )
            missing = due.join(
                F.broadcast(fetched.select("url")), "url", "left_anti"
            )
        else:
            fetched = (
                due.join(self.pages.select("url", "text"), "url", "inner")
                .persist()
            )
            missing = due.join(fetched.select("url"), "url", "left_anti")

        # parse: one kernel over every marker-bearing page, whatever its
        # kind (Sparser-style cheap prefilter before Python). Its input is
        # explicitly repartitioned: the tokenizer is CPU-bound work on
        # byte-small inputs, so AQE's byte-based coalescing under-
        # parallelizes it (400 MB of HTML is ~7 post-shuffle partitions but
        # hours of tokenizer CPU at scale). Parallelism tracks cores, capped
        # by the pending count (~64 pages/task keeps tasks ≳0.3 s instead
        # of scheduling empty Python round-trips).
        n_parse = max(
            1, min(spark.sparkContext.defaultParallelism * 2, (n_pending + 63) // 64)
        )
        # a page whose parser raised comes back as one row naming the error:
        # counted as a parse failure, never a link or a fact
        e_obs = Observation()
        parsed = parse_pages(fetched.filter(marker_ok()).repartition(n_parse)).observe(
            e_obs, _cnt(F.col("error").isNotNull()).alias("errors")
        )
        if has_links and "report" in kinds:
            # discovery and the facts write both read this wave's parse
            parsed = parsed.persist()

        probed = None
        if not has_links:
            # report-only wave: no link-bearing pages, so no discovery
            # machinery at all (no window, no probe, no anti-join)
            n_candidates = n_bloom_passed = 0
            new_rows = _empty(spark, FRONTIER_SCHEMA)
        else:
            candidates = self._frontier_row(
                parsed.filter((F.col("kind") != "report") & F.col("error").isNull()),
                wave_no,
            )

            # in-batch dedup: best (highest-priority) row per canonical URL
            wd = Window.partitionBy("url").orderBy(
                "seed_seq", "type_seq", "date_sort", "doc_seq"
            )
            candidates = (
                candidates.withColumn("_rn", F.row_number().over(wd))
                .filter(F.col("_rn") == 1)
                .drop("_rn")
            )

            # URL-seen: bloom prefilter, exact anti-join for the maybes.
            # Filter MAINTENANCE happens after the snapshot write (below):
            # the filter must hold exactly ONE fingerprint per frontier
            # ROW — adding per-candidate would duplicate fingerprints on
            # re-discovery (cuckoo slots exhaust), and skipping probe-
            # positives would leave a false-positive-but-confirmed-new row
            # with no fingerprint of its own (its collision partner's
            # evict would then false-negative it). "Rows that joined this
            # wave" is the only set that keeps copy-count == row-count,
            # which is what makes a single delete() per evicted row sound.
            probed = self._bloom.probe(candidates, "url").persist()
            # the agg scans EVERY partition, fully materializing the
            # persisted probe — the maybe_seen flags reused by the
            # snapshot write come from the cache, one filter state
            stats = probed.agg(
                F.count("*").alias("n"),
                F.coalesce(
                    F.sum(F.when(~F.col("maybe_seen"), 1).otherwise(0)),
                    F.lit(0),
                ).alias("new"),
            ).collect()[0]
            n_candidates, n_bloom_passed = stats["n"], int(stats["new"])
            if n_candidates == 0:
                new_rows = probed.drop("maybe_seen")  # empty
            else:
                definitely_new = probed.filter(~F.col("maybe_seen")).drop("maybe_seen")
                maybe_seen = probed.filter(F.col("maybe_seen")).drop("maybe_seen")
                confirmed_new = maybe_seen.join(
                    frontier.select("url"), "url", "left_anti"
                )
                new_rows = definitely_new.unionByName(confirmed_new)

        # parse-failure lineage: a fetched page whose kind-specific marker is
        # absent never reaches the parser (the Sparser-style prefilter) —
        # count those as parse failures, observed during the write job
        p_obs = Observation()
        fetched_obs = fetched.observe(p_obs, _cnt(~marker_ok()).alias("parse_failures"))

        # state transitions as one broadcast join of a small (url → state)
        # update set against the whole frontier — NOT a many-way union of
        # re-derived window branches (that plan re-embeds the ranking
        # subtree per branch; Catalyst planning of it dominated small
        # waves). Deferred/settled rows simply receive no update row. At
        # 10^10 scale with waves beyond broadcast size this join flips to a
        # hash shuffle on url, which is the MERGE INTO plan Iceberg runs.
        updates = (
            fetched_obs.select("url")
            .withColumn("_new_state", F.lit("fetched"))
            .unionByName(
                missing.select("url").withColumn("_new_state", F.lit("missing"))
            )
            .unionByName(
                blocked.select("url").withColumn(
                    "_new_state", F.lit("robots_blocked")
                )
            )
        )
        frontier_next = (
            frontier.join(F.broadcast(updates), "url", "left")
            .withColumn("state", F.coalesce(F.col("_new_state"), F.col("state")))
            .withColumn(
                "wave",
                F.when(
                    F.col("_new_state").isNotNull(), F.lit(wave_no)
                ).otherwise(F.col("wave")),
            )
            .drop("_new_state")
            .unionByName(new_rows)
        )

        # snapshot commit = materialization + resume point. repartition, NOT
        # coalesce: coalesce(n) would collapse the parse lineage (the real
        # per-wave work) to n-way parallelism inside the write job; the
        # repartition shuffle keeps parsing at full width and only narrows
        # the file fan-in afterwards. All wave metrics ride the write jobs
        # as observe() aggregates — zero extra actions per wave.
        pend = F.col("state") == "pending"
        this_wave = F.col("wave") == F.lit(wave_no)
        f_obs = Observation()
        frontier_instr = frontier_next.observe(
            f_obs,
            _cnt((F.col("state") == "fetched") & this_wave).alias("fetched"),
            _cnt((F.col("state") == "missing") & this_wave).alias("missing"),
            _cnt((F.col("state") == "robots_blocked") & this_wave).alias(
                "robots_blocked"
            ),
            _cnt(pend & (F.col("wave_added") == F.lit(wave_no))).alias("n_new"),
            _cnt(pend).alias("pending_next"),
            _cnt(pend & (F.col("kind") == "query")).alias("p_query"),
            _cnt(pend & (F.col("kind") == "index")).alias("p_index"),
            _cnt(pend & (F.col("kind") == "report")).alias("p_report"),
        )
        # a wave with no report pages pending cannot add facts — carry the
        # current snapshot's facts table forward (Iceberg shared-manifest
        # pattern) instead of re-writing an unchanged table: one fewer
        # write job + its planning per discovery wave (measured ~0.5-1 s of
        # the per-wave constant at sandbox scale; at 10^10 rows it is a
        # full-table rewrite avoided). Every crawl starts from a snapshot
        # (run() commits the seed one), so there is always a table to carry.
        tables = {"frontier": frontier_instr.repartition(SNAPSHOT_PARTITIONS)}
        if "report" in kinds:
            tables["facts"] = facts.unionByName(facts_of(parsed)).repartition(
                SNAPSHOT_PARTITIONS
            )
        self.catalog.commit_snapshot(
            tables,
            carry=[] if "report" in kinds else ["facts"],
            # previous wave's metrics ride the manifest: every snapshot is a
            # resume point AND a lineage record (observations for THIS wave
            # only resolve once these writes run, so they land in the next
            # commit's meta and in the final snapshot's meta)
            meta={"wave": wave_no, "prev_wave_metrics": self._last_metrics},
        )
        if cfg.snapshot_keep is not None:
            self.catalog.expire_snapshots(cfg.snapshot_keep)
        frontier_next = self.catalog.read(spark, "frontier")
        facts_next = self.catalog.read(spark, "facts")

        fm = f_obs.get
        n_facts = self.catalog.rows("facts")
        n_new = int(fm["n_new"])
        pending_kinds_next = {
            k: int(fm[f"p_{k}"])
            for k in ("query", "index", "report")
            if fm[f"p_{k}"] > 0
        }
        metrics = {
            "wave": wave_no,
            "fetched": int(fm["fetched"]),
            "missing": int(fm["missing"]),
            "robots_blocked": int(fm["robots_blocked"]),
            "discovered": n_candidates,
            "deduped": n_candidates - n_new,
            "bloom_candidates": n_candidates,
            "bloom_passed": n_bloom_passed,
            "fetch_join": fetch_join,
            "facts": n_facts,
            "pending_next": int(fm["pending_next"]),
            "pending_kinds": sorted(pending_kinds_next),
            "pending_kind_counts": pending_kinds_next,
            "parse_failures": _observed(p_obs, "parse_failures")
            + _observed(e_obs, "errors"),
        }
        self._last_metrics = {
            k: v for k, v in metrics.items() if k != "pending_kind_counts"
        }

        # seen-filter maintenance: add exactly the rows that JOINED the
        # frontier this wave (one fingerprint per row — see the probe
        # comment above), reading them back from the just-written snapshot.
        # The filter picks driver-side or distributed hashing from n_new;
        # both add the same set, so its contents never depend on wave size.
        if n_new > 0:
            new_urls = frontier_next.filter(
                (F.col("state") == "pending") & (F.col("wave_added") == wave_no)
            ).select("url")
            self._bloom.add_urls(new_urls, n=n_new)
        if probed is not None:
            probed.unpersist()
        parsed.unpersist()
        fetched.unpersist()
        return frontier_next, facts_next, metrics

    # ------------------------------------------------------------ full runs

    def run(self) -> CrawlResult:
        """Commit the seed frontier and an empty facts table as the crawl's
        first snapshot, then drive the waves from it (as :meth:`resume`
        does from a later one)."""
        self.catalog.commit_snapshot(
            {
                "frontier": self.seed_frontier(),
                "facts": _empty(self.spark, FACTS_SCHEMA),
            },
            meta={"wave": -1},
        )
        return self._loop()

    @classmethod
    def resume(
        cls,
        spark: SparkSession,
        checkpoint_dir: str,
        pages: DataFrame,
        seeds: DataFrame,
        robots: Optional[DataFrame] = None,
        config: Optional[CrawlConfig] = None,
    ) -> CrawlResult:
        """EP3 (fetcher.go:35-60): restart from the latest snapshot — parsed
        state is reused, remaining frontier re-drives the waves."""
        # a copy: the caller's config must not come back pointing at this
        # checkpoint (a later run() with it would commit into this catalog)
        cfg = dataclasses.replace(
            config or CrawlConfig(), checkpoint_dir=checkpoint_dir
        )
        return cls(spark, pages, seeds, robots, cfg)._loop()

    def mark_for_recrawl(self, urls: List[str]) -> None:
        """Flip already-fetched frontier rows back to ``pending`` and purge
        their facts, so a subsequent :meth:`resume` re-fetches and
        re-extracts them. The URLs deliberately STAY in the seen-filter:
        their rows remain in the frontier, and removing them would let a
        re-DISCOVERY of the same URL skip the exact anti-join and insert a
        duplicate frontier row. Filter deletion belongs with row removal —
        see :meth:`evict` (the capability the cuckoo mode exists for).

        Committed as a new snapshot: recrawl is itself a resume point.
        """

        def edit(marked: DataFrame, hit) -> DataFrame:
            return marked.withColumn(
                "state", F.when(hit, F.lit("pending")).otherwise(F.col("state"))
            ).withColumn(
                "wave", F.when(hit, F.lit(None).cast("int")).otherwise(F.col("wave"))
            )

        self._purge(urls, edit, {"recrawl": len(urls)})

    def _purge(self, urls: List[str], edit, meta: dict) -> None:
        """Commit a snapshot whose frontier is ``edit(marked, hit)`` and
        whose facts lose every (accession, doc_type) the named rows carry.
        ``marked`` is the frontier left-joined with the broadcast URL list;
        ``hit`` is true on the rows it names. That one join feeds both the
        frontier edit and the facts purge."""
        import pandas as pd

        spark = self.spark
        frontier = self.catalog.read(spark, "frontier")
        facts = self.catalog.read(spark, "facts")
        # deduplicated, so the left join cannot multiply a frontier row; the
        # schema is given because an empty list has none to infer
        url_df = spark.createDataFrame(
            pd.DataFrame({"url": list(dict.fromkeys(urls))}), "url string"
        ).withColumn("_hit", F.lit(True))
        marked = frontier.join(F.broadcast(url_df), "url", "left")
        hit = F.col("_hit").isNotNull()
        # replace-on-refetch: the named documents' facts go with them
        keys = marked.filter(hit).select("accession", "doc_type").dropDuplicates()
        facts_next = facts.join(
            F.broadcast(keys), ["accession", "doc_type"], "left_anti"
        )
        self.catalog.commit_snapshot(
            {
                "frontier": edit(marked, hit)
                .drop("_hit")
                .repartition(SNAPSHOT_PARTITIONS),
                "facts": facts_next.repartition(SNAPSHOT_PARTITIONS),
            },
            meta={"wave": self.catalog.snapshot_meta().get("wave", -1), **meta},
        )

    def recanonicalize(self) -> dict:
        """One-time migration after a canonicalization-rule upgrade: a
        checkpoint written by an older engine stores frontier URLs in the
        OLD canonical form, so a link re-extracted under new rules would
        miss the URL-seen anti-join and duplicate its row. Rewrites every
        frontier url through the current :func:`canonicalize`, collapses
        rows that now coincide (most-advanced state wins — fetched work
        is never redone; ties broken deterministically), and commits the
        result as a new snapshot. The seen-filter needs no separate
        migration: :meth:`resume` rebuilds it from the stored frontier.
        Facts are keyed by (accession, doc_type), not url — untouched.

        Returns ``{"rows_before": n, "rows_after": m}``.
        """
        spark = self.spark
        frontier = self.catalog.read(spark, "frontier")
        pri = (
            F.when(F.col("state") == "fetched", 0)
            .when(F.col("state") == "missing", 1)
            .when(F.col("state") == "robots_blocked", 2)
            .otherwise(3)
        )
        w = Window.partitionBy("url").orderBy(
            pri.asc(),
            F.col("wave").asc_nulls_last(),
            F.col("kind"),
            F.col("seed_seq").asc_nulls_last(),
        )
        migrated = (
            frontier.withColumn("url", canonicalize(F.col("url")))
            .withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn")
        )
        n_before = self.catalog.rows("frontier")
        self.catalog.commit_snapshot(
            {"frontier": migrated.repartition(SNAPSHOT_PARTITIONS)},
            meta={
                "wave": self.catalog.snapshot_meta().get("wave", -1),
                "recanonicalized": True,
            },
            carry=["facts"],
        )
        return {"rows_before": n_before, "rows_after": self.catalog.rows("frontier")}

    def evict(self, urls: List[str]) -> None:
        """Remove URLs from the frontier entirely (row + facts + seen-filter
        membership, atomically with the snapshot) so they can be
        re-DISCOVERED as brand-new candidates later. This is the path that
        needs a deletable seen-filter: in cuckoo mode the filter forgets the
        URL; in bloom mode the filter cannot forget, so a re-discovered URL
        stays maybe_seen and costs one exact anti-join pass (correct either
        way — the anti-join no longer finds a frontier row)."""
        self._purge(
            urls, lambda marked, hit: marked.filter(~hit), {"evicted": len(urls)}
        )
        if hasattr(self._bloom, "delete"):
            for u in urls:
                self._bloom.delete(u)

    def _loop(self) -> CrawlResult:
        """Drive waves from the current snapshot until nothing is pending
        or ``max_waves`` is reached, then commit the consolidated filings
        as the final snapshot."""
        spark = self.spark
        frontier = self.catalog.read(spark, "frontier")
        facts = self.catalog.read(spark, "facts")
        wave = self.catalog.snapshot_meta().get("wave", -1) + 1
        # the seen filter holds one fingerprint per frontier row; a small
        # frontier (a seed list, say) is hashed driver-side
        self._bloom.add_urls(frontier, n=self.catalog.rows("frontier"))
        metrics: List[dict] = []
        kind_counts = (
            frontier.filter(F.col("state") == "pending")
            .groupBy("kind")
            .agg(F.count("*").alias("n"))
            .collect()
        )
        n_pending = sum(r["n"] for r in kind_counts)
        pending_kinds = {r["kind"]: r["n"] for r in kind_counts if r["n"] > 0}
        while wave < self.cfg.max_waves and n_pending > 0:
            frontier, facts, m = self.run_wave(frontier, facts, wave, pending_kinds)
            metrics.append(m)
            n_pending = m["pending_next"]
            pending_kinds = m["pending_kind_counts"]
            wave += 1

        # frontier/facts are carried from the last commit (Iceberg
        # shared-manifest pattern), not rewritten; the per-wave metrics ride
        # the final snapshot's meta as durable lineage, readable without Spark
        self.catalog.commit_snapshot(
            {"filings": consolidate_facts(facts).repartition(SNAPSHOT_PARTITIONS)},
            meta={"wave": wave - 1, "final": True, "wave_metrics": metrics},
            carry=["frontier", "facts"],
        )
        return CrawlResult(
            filings=self.catalog.read(spark, "filings"),
            frontier=frontier,
            facts=facts,
            metrics=metrics,
            catalog=self.catalog,
        )
