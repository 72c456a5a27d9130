#!/usr/bin/env python
"""Physical-plan audit: captures .explain("formatted") for representative
engine queries and checks the properties that matter at 100 TB — predicate
pushdown into the parquet scan, column pruning (ReadSchema), broadcast
joins for dimension/query sides, and whole-stage codegen coverage.

Writes PLANS.md. Run: python tools/plan_audit.py [sf_dir]
"""

from __future__ import annotations

import contextlib
import io
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

AUDITS = {
    # query key -> properties the plan must exhibit
    "tpch_q1": ["PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual", "HashAggregate"],
    "filing_year_filter": ["PushedFilters", "HashAggregate"],
    "broadcast_dim_join": ["BroadcastHashJoin", "BroadcastExchange"],
    "anti_join_fetch_miss": ["LeftAnti"],
    "topk_per_bucket": ["WindowGroupLimit"],  # top-k pushed below full sort
    "first_wins_dedup": ["WindowGroupLimit"],
    "cosine_topk": ["BroadcastNestedLoopJoin"],
    "asof_join_last_click": ["Window", "Union"],
    "trunc_round": ["Project", "Scan parquet"],
    # ANN paths: query/probe side broadcasts, top-k pushed into the window
    "ann_topk": ["BroadcastHashJoin", "WindowGroupLimit"],
    "ivf_topk": ["BroadcastHashJoin", "WindowGroupLimit"],
    # exact dedup: one hash-shuffle on the content hash with partial agg
    "exact_dedup": ["HashAggregate"],
    # CC representatives: the post-fixpoint plan is a grouped min + join
    "dedup_components": ["HashAggregate"],
    # composed curation pipeline: dedup shuffle + final agg in one plan
    "corpus_curation": ["HashAggregate"],
    # trained-quantizer assignment: one Arrow pass, centroids ride the
    # closure — the corpus itself never shuffles or joins
    "ivf_assign": ["MapInPandas"],
    # simhash combination banding: per-key candidate self-join + exact
    # bit_count verify — the key join shuffles, never a cross join
    "simhash_near_dups": ["Generate", "HashAggregate"],
    # repetition metrics: one tagged explode then keyed aggregation with
    # map-side partials — no self-join anywhere in the plan
    "repetition_stats": ["Generate", "HashAggregate"],
    # line-level dedup: explode → line-keyed census → anti-join on the
    # same key → doc-keyed reassembly; boilerplate set never broadcasts
    # as a collected list, membership is a real anti-join
    "line_dedup": ["Generate", "LeftAnti", "HashAggregate"],
    # budgeted mixing: one window (running sum) partitioned by source
    "corpus_mix": ["Window", "Scan parquet"],
    # chunking: pure per-row explode — no Exchange anywhere in the plan
    "chunk_docs": ["Generate", "!Exchange"],
    # hash-threshold sampling: a pure per-row filter — no shuffle, no RNG
    "stratified_sample": ["Filter", "Scan parquet", "!Exchange"],
    # packing: global prefix sum via ordered range buckets — the window
    # runs at bucket parallelism, NEVER through one reducer
    "pack_sequences": ["Window", "Generate", "!Exchange SinglePartition"],
    # robots gate: tiny rules table broadcasts; the precedence fold is a
    # higher-order aggregate on the frontier side — the frontier never
    # shuffles for the decision
    "robots_gate": ["BroadcastHashJoin", "!SortMergeJoin"],
    # per-source quota: rn ≤ k compiles to WindowGroupLimit — per-source
    # heaps prune before the full sort
    "source_quota": ["WindowGroupLimit"],
    # winners window prunes to rn=1 before the full sort; widen is one
    # partial-agg'd hash aggregate
    "consolidate_facts": ["WindowGroupLimit", "HashAggregate"],
    # pagerank round: contributions partial-aggregate on dst (map-side
    # combine before the shuffle) — the textbook 2-shuffle iteration
    "pagerank": ["HashAggregate"],
    # trigram LM: bounded-vocab model broadcasts to the scoring join —
    # the corpus explode never sort-merge-shuffles on the trigram key
    "lm_quality_filter": ["Generate", "BroadcastHashJoin", "!SortMergeJoin"],
    # HLL: one aggregation over ≤2^p registers, no join anywhere
    "hll_distinct": ["HashAggregate", "!Join"],
    # CMS probe: depth×width counter table broadcasts to the point query
    "cms_frequency": ["Generate", "BroadcastHashJoin", "!SortMergeJoin"],
    # retrieval: postings and idf only ever join a broadcast query-sized
    # side (idf folds into the query terms first); top-k per query prunes
    # via WindowGroupLimit — the corpus never shuffles on a text key
    "tfidf_topk": ["BroadcastHashJoin", "WindowGroupLimit", "!SortMergeJoin"],
    # line QF: pure per-row HOF projection (the line filter is an
    # expression inside the Project, not a Filter node) — no Exchange
    "line_quality_filter": ["Project", "!Exchange"],
    # span dedup: positional gram explode → ONE window shuffle on the
    # 60-bit gram hash → coverage explode + partial-agg count; no join
    "dup_ngram_spans": ["Generate", "Window", "HashAggregate", "!Join"],
    # bloom probe: the packed bitmap is a plan LITERAL probed by a
    # forall/bit_get HOF — no join at all; the per-doc count is the
    # only aggregation and the corpus never shuffles on gram text
    "bloom_decontaminate": ["Generate", "HashAggregate", "!Join"],
    # revisit policy: all windows share the url partitioning; the
    # latest-row pick prunes via WindowGroupLimit
    "recrawl_schedule": ["Window", "WindowGroupLimit"],
    # anchor agg: (dst, anchor) partial-agg collapse BEFORE the top-k
    # window; hot targets cost distinct-anchors, not in-links
    "anchor_text_topk": ["HashAggregate", "WindowGroupLimit"],
    # redirect doubling: keyed self-joins, never a nested-loop product
    "redirect_resolve": ["Join", "!BroadcastNestedLoopJoin(buildLeft"],
    # budget apportionment: remainder rank via bucketed windows — never
    # a single-reducer global sort
    "crawl_budget": ["Window", "!Exchange SinglePartition"],
    # sitemap explode: regexp extraction stays in codegen; records
    # Generate out of file rows
    "sitemap_extract": ["Generate"],
    # vocab: driver-bounded top-V (TakeOrdered) broadcast back to the
    # term probe
    "vocab_coverage": ["TakeOrderedAndProject", "BroadcastHashJoin"],
    # WARC reader: one Arrow kernel pass, records explode per file
    "warc_parse": ["MapInPandas"],
    # BPE pairs: word-table collapse first, pair explode after, top-k
    # driver-bounded; no join anywhere
    "bpe_pair_counts": ["TakeOrderedAndProject", "HashAggregate", "!Join"],
    # lexicon inference: literal weights broadcast to the exploded
    # terms (the only other join is the id-keyed spine join for no-hit
    # docs — an id shuffle is the correct plan there, so no !SMJ check)
    "lexicon_classify": ["Generate", "BroadcastHashJoin"],
    # trap detection: URLs collapse to (host, pattern) partial-agg counts
    # FIRST; the top-1 pick and host totals share one host-partitioned
    # Window pass — never a join, never a distinct over raw URLs
    "trap_detect": ["HashAggregate", "Window", "!Join"],
    # training shuffle: ONE hash shuffle on the shard key; per-shard
    # window ranks locally — never a global single-reducer sort
    "corpus_shuffle": ["Window", "!Exchange SinglePartition", "!Join"],
    # sitemap directives: per-page multiline regex explode, pure codegen
    "robots_sitemaps": ["Generate", "!Join"],
    # MIME sniff / header parse / WET text: per-row codegen projections —
    # no join, no aggregate; the only exchange is the display sort
    "mime_sniff": ["Project", "!Join", "!HashAggregate"],
    "http_headers": ["Project", "!Join", "!HashAggregate"],
    "wet_extract": ["Project", "!Join", "!HashAggregate"],
    # WAT outlinks: anchor-element explode over the scan, still no join
    "wat_links": ["Generate", "!Join", "!HashAggregate"],
    # CDX index: ONE shuffle on the surt key; latest-pick + capture
    # stats share the same Window partitioning — no join, no second agg
    "cdx_latest": ["Window", "!Join", "!HashAggregate"],
    # head metadata: per-row codegen extracts only
    "html_meta": ["Project", "!Join", "!HashAggregate"],
    # host-graph contraction: (pair, src) partial agg collapses the raw
    # edge set map-side before the distinct count — aggregation, no join
    "host_graph": ["HashAggregate", "!Join"],
    # snapshot diff: ONE full-outer sort-merge join on the url key
    # (full-outer cannot broadcast); status is a codegen CASE on top
    "snapshot_diff": ["SortMergeJoin", "!BroadcastHashJoin"],
    # containment: shingle arrays shuffle once per pair-join side; set
    # ops are codegen array intrinsics — no aggregation pass
    "containment": ["BroadcastHashJoin", "!HashAggregate"],
    # contrastive weights: both LMs are bounded-key aggregations that
    # broadcast back onto the trigram explode — the corpus-sized join
    # side never shuffle-joins
    "dsir_weights": ["BroadcastHashJoin", "HashAggregate", "!SortMergeJoin"],
    # gopher rules: per-row HOF battery fused into the scan
    "gopher_rules": ["Project", "!Join", "!HashAggregate"],
    # boilerplate: block explode is a Generate over the scan, no shuffle
    "boilerplate_blocks": ["Generate", "!Join", "!HashAggregate"],
    # warc->wet pipeline: one file-pack aggregation, the Arrow record
    # walk (ArrowEvalPython-free mapInPandas), then codegen WET — no join
    "warc_wet_pipeline": ["MapInPandas", "!Join"],
    # random projection: literal matrix lives in the plan — map-only
    "rp_project": ["Project", "!Join", "!HashAggregate"],
    # suffix-array span dedup: the doubling rounds sit behind per-round
    # localCheckpoints (the materialization that keeps plan size linear
    # in rounds), so the audited final plan starts at the pinned rank
    # table: class grouping (partial-agged HashAggregate) + per-doc run
    # windows — never a single-reducer exchange, never a nested-loop
    # product (the pre-checkpoint explode/prefix-sum shape is audited by
    # pack_sequences/dup_ngram_spans which share those operators)
    "suffix_dup_spans": [
        "Window",
        "HashAggregate",
        "!Exchange SinglePartition",
        "!BroadcastNestedLoopJoin",
    ],
    # graph ANN: the final beam rank prunes via WindowGroupLimit; the
    # build + earlier rounds sit behind eager localCheckpoints (their
    # GEMM/window shape is asserted by the build's own plan, below)
    "hnsw_topk": ["WindowGroupLimit"],
    # host rollup: lang scoring fuses into the scan; one partial-agged
    # groupBy(host) (count-distinct expands it, still no join)
    "host_stats": ["HashAggregate", "!Join"],
    # BM25: same shape as tfidf — postings/idf only join broadcast
    # query-sized sides, dl rides the postings shuffle as a payload
    "bm25_topk": ["BroadcastHashJoin", "WindowGroupLimit", "!SortMergeJoin"],
    # BPE encode: vocabulary fold + word-keyed join back; the per-doc
    # rollup partial-aggregates
    "bpe_encode": ["Generate", "HashAggregate"],
    # PQ encode: ONE Arrow pass against the broadcast codebook — the
    # corpus never joins or shuffles
    "pq_encode": ["MapInPandas", "!Join"],
    # PQ ADC search: per-query literal lookup tables, codes scan only —
    # a union of map-only scorings plus the top-k window, no join
    "pq_topk": ["Union", "WindowGroupLimit", "!Join"],
    # SemDeDup: assignment pass + cluster-scoped pair join + anti-join;
    # never a nested-loop product
    "semdedup": ["MapInPandas", "!BroadcastNestedLoopJoin"],
    # WARC writer→reader roundtrip: per-file collect_list agg, then the
    # Arrow record walk
    "warc_roundtrip": ["MapInPandas", "HashAggregate", "!Join"],
    # failure backoff: url-keyed agg chain, never a single reducer
    "failure_backoff": ["HashAggregate", "!Exchange SinglePartition"],
    # sitemap index explode: regexp extraction stays in codegen
    "sitemap_index": ["Generate", "!Join"],
    # alias fold: pure codegen CASE projection + one partial-agged
    # groupBy on the folded identity — no join anywhere
    "host_alias": ["HashAggregate", "!Join"],
    # end-to-end manifest: the robots+WET+gopher+line gate chain is
    # materialized ONCE behind a survivors localCheckpoint (the
    # checkpoint-before-fan-out SCALE.md documents; gate plan shapes are
    # audited by robots_gate / line_quality_filter), so the audited plan
    # covers the fan-out: minhash banding Generate, keyed joins (SMJ
    # between corpus-scale sig sides is the correct shape), packing
    # windows at bucket parallelism — never a single reducer, never a
    # nested-loop product
    "corpus_to_manifest": [
        "Generate",
        "Window",
        "!Exchange SinglePartition",
        "!BroadcastNestedLoopJoin",
    ],
    # revalidation merge: ONE url-keyed left join (the MERGE shuffle a
    # state transition pays anyway), decisions are codegen CASEs
    "conditional_fetch": [
        "Join LeftOuter",
        "!Exchange SinglePartition",
        "!BroadcastNestedLoopJoin",
    ],
    # freshness lifetime: pure per-row projection (regexp extracts +
    # fixdate parses + CASE folds), zero exchanges
    "cache_freshness": ["Project", "!Exchange", "!Join"],
    # revisit dedup: ONE window shuffle on the payload digest (rank +
    # first_value share the partitioning), union feeds it — no join
    "warc_revisit": ["Window", "Union", "!Join"],
    # authority-aware wave selection: the 16-row authority table
    # broadcasts to the frontier (the forced BroadcastHashJoin below);
    # the frontier pays one host-partitioned window (the politeness
    # selector's shuffle). The pagerank rounds' internal joins run over
    # the 16-row host graph — AQE converts those to broadcasts at
    # runtime, so no !SMJ assertion on the initial plan
    "frontier_priority": ["BroadcastHashJoin", "Window"],
    # charset decode: synth-page gen + sniff/decode are two fused Arrow
    # passes over the scan — zero shuffle end to end
    "charset_decode": ["MapInPandas", "!Exchange", "!Join", "!HashAggregate"],
    # eTLD+1: pure codegen projection (regexp + literal IN), no PSL join
    "registered_domain": ["Project", "Scan parquet", "!Exchange", "!Join"],
    # NFC: one Arrow-batched pandas UDF eval, map-only
    "nfc_normalize": ["ArrowEvalPython", "!Exchange", "!Join"],
    # REP-aware outlinks: still one Generate over the scan (the sort is
    # the query key's display determinism, not the operator)
    "follow_links": ["Generate", "!Join", "!HashAggregate"],
    # soft-404: pure codegen regex/CASE projection, shuffle-free
    "soft404_detect": ["Project", "Scan parquet", "!Exchange", "!Join"],
    # tracking strip: regexp + HOF filter projection, shuffle-free
    "strip_tracking": ["Project", "Scan parquet", "!Exchange", "!Join"],
    # composed discovery pipeline: anchor Generate + ONE dedup shuffle
    # (SortAggregate: min(string) has no fixed-width hash buffer), every
    # per-URL transform staged as projections — no join anywhere
    "url_discovery": ["Generate", "Aggregate", "!Join"],
    # CCNet tertiles: the cumulative window runs over the (lang, score)
    # HISTOGRAM (an aggregate feeds the window input), and both the
    # trigram model and the score→bucket map come back as broadcasts —
    # no sort-merge join of the corpus anywhere
    "ccnet_buckets": ["Window", "BroadcastHashJoin", "!SortMergeJoin"],
    # priority sampling: per-partition top-k only (TakeOrderedAndProject)
    # — no global sort, no shuffle, no join; k rows leave the executors
    "priority_sample": [
        "TakeOrderedAndProject",
        "!Exchange",
        "!Join",
    ],
    # domain gate: ONE aggregate to domain grain, verdicts broadcast back
    "domain_quality": [
        "HashAggregate",
        "BroadcastHashJoin",
        "!SortMergeJoin",
    ],
    # link-farm: host-graph contraction (aggregate) + reversed-pair
    # LeftSemi self-join at HOST-pair scale — page rows never join
    "link_farm": ["HashAggregate", "LeftSemi"],
    # canonical consolidation: regex extract in codegen + ONE window
    # shuffle on the target (group size + rep ride the same window)
    "canonical_collapse": ["Window", "!Join"],
    # markup-density page gate: pure regex census fused into the scan
    # projection — no join, no aggregate, no shuffle of any kind
    "markup_density": ["Scan parquet", "!Join", "!HashAggregate"],
    # per-line language mix: line Generate + ONE doc-keyed partial-agged
    # groupBy — the single shuffle is doc-grain, lines never shuffle
    "line_lang_mix": ["Generate", "HashAggregate", "!Join"],
    # CDC dedup: the chunker fuses into the scan (nested HOFs), chunks
    # Generate out; census + join-back + doc rollup are all keyed on the
    # 32-hex chunk hash / doc id — text never shuffles, no cross join
    "cdc_dedup": ["Generate", "HashAggregate", "!BroadcastNestedLoopJoin"],
    # host-scoped template strip: (host,line) census + anti-join on the
    # same key + url-keyed reassembly — same shape as line_dedup, census
    # key carries the host so global hot lines never concentrate
    "host_template": ["Generate", "LeftAnti", "HashAggregate"],
    # phrase search: literal slot table broadcasts to the positional
    # postings; shifted-start voting is partial-agged groupBys — no
    # per-word positional self-join, top-k prunes via WindowGroupLimit
    "phrase_topk": ["BroadcastHashJoin", "WindowGroupLimit", "!SortMergeJoin"],
    # anchor-field retrieval: body+anchor postings union on the one term
    # shuffle; idf-folded queries broadcast; top-k prunes per query —
    # corpus-scale sides never sort-merge-join on a text key
    "anchor_search": ["Union", "BroadcastHashJoin", "WindowGroupLimit"],
    # incremental dedup: batch-side bands join all-side bands on the
    # bucket key (asymmetric filter — corpus x corpus never enumerates);
    # verify joins signatures on id; verdict is one batch-grain agg
    "incremental_dedup": ["MapInPandas", "HashAggregate", "!BroadcastNestedLoopJoin"],
    # datasheet: lang/tokens/md5 fuse into the scan; hash census + same-
    # key join-back + ONE source-grain aggregate; text never shuffles
    "corpus_datasheet": ["HashAggregate", "!BroadcastNestedLoopJoin"],
    # OPIC: the per-round dual-consumer branch is lineage-truncated, so
    # the FINAL plan hangs off a checkpointed leaf (Scan ExistingRDD) —
    # one join + one partial-agged groupBy per round, never 2^rounds
    "opic_scores": ["Scan ExistingRDD", "HashAggregate"],
    # label propagation: same structural truncation as OPIC; votes are
    # map-side-combined sums on the dst key
    "label_prop": ["Scan ExistingRDD", "HashAggregate"],
    # trained perceptron: the hashed feature table is persisted ONCE
    # (InMemoryTableScan feeds scoring) — margins are one partial-agged
    # doc-grain aggregate
    "quality_classifier": ["InMemoryTableScan", "HashAggregate"],
    # temperature sampling: lang census aggregate, quota table broadcast
    # back, ONE per-language window — no sort-merge join of the corpus
    "temperature_mix": ["BroadcastHashJoin", "Window", "!SortMergeJoin"],
    # tier assignment: ONE 1-row max aggregate broadcast back (the
    # nested-loop join is the 1-row cross join, by construction), then
    # pure codegen projections — no keyed shuffle of the URL table
    "crawl_tiers": ["BroadcastNestedLoopJoin", "Scan parquet", "!SortMergeJoin"],
    # winnowing: split/gram/hash/window-min/distinct all fuse into the
    # scan projection; fingerprints Generate out. The contract query's
    # final orderBy adds a rangepartitioning exchange; the operator
    # itself must not hash-shuffle
    "winnow_fingerprints": ["Generate", "!hashpartitioning"],
    # span cut: spans collapse per doc (aggregate) and join back; the
    # per-token coverage test is a projection, not a positional join
    "dedup_cut": ["Generate", "HashAggregate"],
    # novelty: gram census and membership join share the gram key; one
    # doc-grain aggregate on top — no cross join anywhere
    "ngram_novelty": ["Generate", "HashAggregate", "!BroadcastNestedLoopJoin"],
    # script census: pure regex projections fused into the scan — no
    # join, no aggregate, no shuffle of any kind
    "script_mix": ["Scan parquet", "!Join", "!HashAggregate"],
    # C4 sentence dedup: span explode + ONE row_number window on the
    # span hash; losing spans aggregate per doc and join back
    "sentence_dedup": ["Generate", "Window", "HashAggregate"],
    # host coupling: size window + capped pair self-join + pair groupBy
    # (mirror_hosts machinery) — pairs generate per target key only
    "host_coupling": ["Window", "HashAggregate"],
    # fertility: lang rollup on top of the single term shuffle the
    # encoder already pays
    "bpe_fertility": ["HashAggregate"],
    # recall eval: the two rankings join on (query, neighbor) and
    # aggregate per query — query-scale rows only
    "ann_recall": ["HashAggregate"],
}


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master("local[4]")
        .appName("plan-audit")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    from edgar_spark.operators import oracle_queries

    from pyspark.sql import functions as Fn

    from edgar_spark.model.consolidate import consolidate_facts
    from edgar_spark.model.schemas import FACTS_SCHEMA

    def _consolidate_df(spark_, _sf):
        facts = spark_.createDataFrame([], FACTS_SCHEMA).withColumn(
            "value", Fn.col("value").cast("double")
        )
        return consolidate_facts(facts)

    qs = oracle_queries.queries()
    qs["consolidate_facts"] = _consolidate_df
    sections = []
    failures = []
    for key, props in AUDITS.items():
        df = qs[key](spark, sf_dir)
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        plan = buf.getvalue()
        # a "!" prefix inverts the check: the substring must NOT appear
        missing = [
            p
            for p in props
            if ((p[1:] in plan) if p.startswith("!") else (p not in plan))
        ]
        status = "OK" if not missing else f"MISSING {missing}"
        if missing:
            failures.append((key, missing))
        print(f"{key:24s} {status}")
        # keep the plan tree (header part) only — node details are noisy
        tree = plan.split("\n\n")[0]
        checks = "\n".join(f"- `{p}` {'✓' if p not in missing else '✗ MISSING'}" for p in props)
        sections.append(f"## {key}\n\n{checks}\n\n```\n{tree}\n```\n")

    header = (
        "# PLANS — physical-plan audit of representative queries\n\n"
        "Generated by `python tools/plan_audit.py` (sf0.01, local[4], AQE\n"
        "initial plans). Each section lists the scale-critical plan properties\n"
        "checked (filter pushdown into the parquet scan, broadcast exchanges\n"
        "for small sides, window-group-limit pushdown for top-k, codegen-\n"
        "friendly operators) followed by the plan tree.\n\n"
        "Scan-level evidence (pushdown + pruning) appears in the node details\n"
        "of `.explain(\"formatted\")`; the checks below assert on the full\n"
        "output, the trees are shown for shape.\n\n"
    )
    with open("PLANS.md", "w") as fh:
        fh.write(header + "\n".join(sections))
    spark.stop()
    if failures:
        print("FAILURES:", failures)
        sys.exit(1)
    print("plan audit passed; PLANS.md written")


if __name__ == "__main__":
    main()
