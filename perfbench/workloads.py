"""The benchmark's workloads: seeded input generation, one timed iteration
through the engine's public functions, and the output check of every
iteration.

Each workload has three steps, called by ``run.py`` in this order:

* ``generate()`` — pure-Python input generation from the seed (repeatable,
  timed as part of set-up);
* ``load()`` — hand the inputs to Spark once (persisted DataFrames or
  parquet files in the scratch directory);
* ``iterate(k)`` — one unit of timed work. It returns an :class:`Outcome`
  whose ``check`` callable is run *outside* the timed window.

``warmups`` is how many untimed iterations run first (counted in set-up).
"""

from __future__ import annotations

import datetime
import hashlib
import math
import pathlib
import shutil
from dataclasses import dataclass, field
from typing import Callable, Dict, List, Optional

import numpy as np
import pandas as pd

ROBOTS_URL = "https://www.sec.gov/robots.txt"
USER_AGENT = "edgar-spark"


@dataclass(frozen=True)
class CrawlCorpus:
    """Shape of a generated crawl corpus (companies x 2 filing types x
    filings) and the pinned digest of its crawl's frontier ``(url, state,
    wave)`` rows. The seed only permutes input order (the seed list order),
    which must not change the digest."""

    companies: int
    filings: int
    frontier_rows: int
    frontier_digest: str


# The timed crawls run on MAIN. The warm-up crawls run on WARM: two crawls of
# it (about 35 s) leave the first timed crawl within a few % of later ones,
# in less time than two warm-up crawls of MAIN.
MAIN_CORPUS = CrawlCorpus(16, 5, 1082, "d7b1c64438a758be")
WARM_CORPUS = CrawlCorpus(4, 2, 92, "c7e388099b42c0f3")

# dedup_ops input sizes (documents and embeddings generated from the seed)
N_DOCS = 600
N_VECS = 200
# The warm-up passes run on a smaller document set. Two passes at 120
# documents (about 22 s) leave the JIT closer to steady state than one cold
# pass at 600 (about 30 s), after which the next pass still cost about 50%
# more CPU than the fifth.
WARM_DOCS = 120
DEDUP_KEYS = (
    "winnow_fingerprints",
    "cdc_dedup",
    "minhash_near_dups",
    "simhash_near_dups",
    "ngram_jaccard_lsh",
    "cosine_near_dups",
)


@dataclass
class Outcome:
    """What one iteration did: ``items`` of work, sub-operations attempted,
    and a deferred output check returning the number that failed."""

    items: int
    attempted: int
    check: Callable[[], int]
    detail: Dict[str, object] = field(default_factory=dict)


def rows_digest(rows, key: Callable = tuple) -> str:
    """Order-independent digest of a row collection."""
    lines = sorted("\x01".join("\\N" if v is None else str(v) for v in key(r)) for r in rows)
    h = hashlib.sha256()
    for line in lines:
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()[:16]


def _canon(v) -> str:
    import decimal

    if v is None:
        return "\\N"
    if isinstance(v, decimal.Decimal):
        v = float(v)
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return "0" if v == 0 else f"{v:.9g}"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, (bytes, bytearray)):
        return bytes(v).hex()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_canon(x) for x in v) + "]"
    return str(v)


def frame_digest(cols: List[str], rows) -> str:
    """Digest of a result table that ignores row order and column order and
    renders numbers engine-independently (Decimal and float alike)."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return rows_digest(rows, key=lambda r: [_canon(r[i]) for i in order])


# ----------------------------------------------------------------- crawl


class Crawl:
    """``Crawler(...).run()`` over the generated corpus with a corpus robots
    page (company 0 disallowed), the bloom seen-filter and one icelite
    commit per wave, then consolidation. An item is a fetched page.
    Warm-up crawls (``k < 0``) run on the smaller ``WARM_CORPUS``."""

    name = "crawl"
    warmups = 2

    def __init__(self, spark, workdir: pathlib.Path, seed: int, tracer) -> None:
        self.spark = spark
        self.workdir = workdir
        self.rng = np.random.default_rng(seed)

    def _generate(self, shape: CrawlCorpus) -> tuple:
        from edgar_spark.synth import corpus

        rows = [r for i in range(shape.companies) for r in corpus.company_pages(i, shape.filings)]
        body = (
            f"User-agent: {USER_AGENT}\n"
            "Disallow: /cgi-bin/browse-edgar?action=getcompany"
            f"&CIK={corpus.ticker_of(0)}\n"
        )
        ts = datetime.datetime(2020, 1, 1, tzinfo=datetime.timezone.utc)
        rows.append((ROBOTS_URL, ts, body.encode(), body, "en"))
        pages_pdf = pd.DataFrame(rows, columns=["url", "warc_ts", "html", "text", "lang"])
        # the seed permutes the seed list order (crawl priority); the set of
        # URLs and the wave each is fetched in do not depend on it
        order = self.rng.permutation(shape.companies)
        seeds_pdf = pd.DataFrame(
            [(corpus.ticker_of(int(i)), corpus.cik_of(int(i)), pos) for pos, i in enumerate(order)],
            columns=["ticker", "cik", "seed_seq"],
        )
        return pages_pdf, seeds_pdf

    def generate(self) -> None:
        self.raw = {shape: self._generate(shape) for shape in (MAIN_CORPUS, WARM_CORPUS)}

    def _load(self, pages_pdf: pd.DataFrame, seeds_pdf: pd.DataFrame) -> tuple:
        from edgar_spark.frontier.robots import ROBOTS_SCHEMA, rules_from_robots_pages
        from edgar_spark.model.schemas import PAGES_SCHEMA, SEEDS_SCHEMA

        spark = self.spark
        pages = spark.createDataFrame(pages_pdf, PAGES_SCHEMA).persist()
        pages.count()
        seeds = spark.createDataFrame(seeds_pdf, SEEDS_SCHEMA)
        # as entry() does: parse the corpus robots page once and hand the
        # crawler a JVM-local rules table
        rules = rules_from_robots_pages(pages, user_agent=USER_AGENT).collect()
        robots = spark.createDataFrame(
            pd.DataFrame([r.asDict() for r in rules], columns=[f.name for f in ROBOTS_SCHEMA.fields]),
            ROBOTS_SCHEMA,
        )
        return pages, seeds, robots

    def load(self) -> None:
        self.inputs = {shape: self._load(*raw) for shape, raw in self.raw.items()}

    def iterate(self, k: int) -> Outcome:
        from edgar_spark.frontier.crawler import CrawlConfig, Crawler

        shape = WARM_CORPUS if k < 0 else MAIN_CORPUS
        pages, seeds, robots = self.inputs[shape]
        ckpt = self.workdir / f"crawl-{k}"
        cfg = CrawlConfig(max_waves=4, checkpoint_dir=str(ckpt))
        res = Crawler(self.spark, pages, seeds, robots=robots, config=cfg).run()
        fetched = sum(m["fetched"] for m in res.metrics)
        return Outcome(fetched, 1, lambda: self._check(res, ckpt, shape))

    def frontier_digest(self, res) -> tuple:
        rows = res.catalog.read(self.spark, "frontier").select("url", "state", "wave").collect()
        return len(rows), rows_digest(rows)

    @staticmethod
    def _layer_counts(res, ckpt: pathlib.Path, n_filings: int) -> Dict[str, float]:
        total = lambda key: sum(m[key] for m in res.metrics)  # noqa: E731
        fetched, missing = total("fetched"), total("missing")
        cands = total("bloom_candidates")
        files = [p for p in ckpt.rglob("*.parquet") if p.is_file()]
        return {
            "frontier.fetched": fetched,
            "frontier.missing": missing,
            "frontier.robots_blocked": total("robots_blocked"),
            "frontier.discovered": total("discovered"),
            "frontier.fetch_hit_ratio": fetched / max(fetched + missing, 1),
            "seen.candidates": cands,
            "seen.passed_ratio": total("bloom_passed") / max(cands, 1),
            "parse.pages": fetched,
            "parse.facts": res.metrics[-1]["facts"] if res.metrics else 0,
            "parse.failures": total("parse_failures"),
            "icelite.files": len(files),
            "icelite.write_mb": sum(p.stat().st_size for p in files) / 2**20,
            "model.filings": n_filings,
        }

    def _check(self, res, ckpt: pathlib.Path, shape: CrawlCorpus) -> int:
        from edgar_spark.synth import corpus

        bad = []
        got = {(r["ticker"], r["accession"]): r.asDict() for r in res.filings.collect()}
        want = {}
        for i in range(1, shape.companies):  # company 0 is robots-blocked
            for ftype in corpus.FILING_TYPES:
                for date in corpus.filing_dates(ftype, shape.filings):
                    an = corpus.accession_of(i, ftype, date)
                    want[(corpus.ticker_of(i), an)] = corpus.expected_filing(i, an)
        if set(got) != set(want):
            bad.append(f"filing keys differ: {len(got)} got vs {len(want)} expected")
        for key in set(got) & set(want):
            for col, v in want[key].items():
                if got[key][col] != v:
                    bad.append(f"{key} {col}: {got[key][col]!r} != {v!r}")
        n, digest = self.frontier_digest(res)
        if (n, digest) != (shape.frontier_rows, shape.frontier_digest):
            bad.append(f"frontier (url,state,wave) digest {n}/{digest}")
        self.last_check = {"frontier_rows": n, "frontier_digest": digest, "problems": bad[:5]}
        self.layer_counts = self._layer_counts(res, ckpt, len(got))
        shutil.rmtree(ckpt, ignore_errors=True)
        return 1 if bad else 0


# ------------------------------------------------------------- dedup_ops

VOCAB = (
    "spark window merge table column batch part line order small sort fast "
    "value scan hash slow group agg filter query big key row stream data "
    "index join plan task shuffle cache"
).split()
LANGS = ("en", "en", "zh", "es", "fr", "de")


def make_documents(rng: np.random.Generator, n: int) -> pd.DataFrame:
    """Word-salad documents over a small vocabulary; about one in six is a
    lightly edited copy of an earlier one, so every near-dup operator finds
    pairs. Vocabulary size and document length are close to those of the sf
    ``documents`` tables (31 words; 10 to 100 words a document)."""
    texts: List[str] = []
    for doc_id in range(n):
        if doc_id > 4 and rng.random() < 0.17:
            words = texts[int(rng.integers(doc_id))].split()
            for _ in range(int(rng.integers(1, 3))):
                words[int(rng.integers(len(words)))] = VOCAB[int(rng.integers(len(VOCAB)))]
        else:
            words = [VOCAB[j] for j in rng.integers(len(VOCAB), size=int(rng.integers(8, 90)))]
        texts.append(" ".join(words))
    return pd.DataFrame(
        {
            "doc_id": np.arange(n, dtype=np.int64),
            "text": texts,
            "lang": [LANGS[int(j)] for j in rng.integers(len(LANGS), size=n)],
            "source": [f"src{d % 20}" for d in range(n)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )


def make_embeddings(rng: np.random.Generator, n: int, dim: int = 64) -> pd.DataFrame:
    """Five noisy clusters in ``dim`` dimensions (float32, like the sf
    tables), so cosine near-dups exist within clusters."""
    centers = rng.normal(size=(5, dim))
    labels = rng.integers(5, size=n)
    vecs = (centers[labels] * 0.45 + rng.normal(size=(n, dim))).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    return pd.DataFrame(
        {
            "vec_id": np.arange(n, dtype=np.int64),
            "embedding": list(vecs),
            "label": labels.astype(np.int32),
        }
    )


class DedupOps:
    """Six near-dup operator keys through ``__spark_entry__.queries()`` on
    generated ``documents``/``embeddings`` tables. An item is one input row
    per key. Rows are checked against ``oracle_sql()`` run on DuckDB over
    the same parquet files, outside the timed window. Warm-up passes
    (``k < 0``) read a smaller document set of their own."""

    name = "dedup_ops"
    warmups = 2

    def __init__(self, spark, workdir: pathlib.Path, seed: int, tracer) -> None:
        self.spark = spark
        self.rng = np.random.default_rng(seed)
        self.tracer = tracer
        self.sf_dir = workdir / "sf"
        self.warm_dir = workdir / "sf-warm"
        self.oracle: Dict[pathlib.Path, Dict[str, str]] = {}

    def generate(self) -> None:
        self.docs = make_documents(self.rng, N_DOCS)
        self.embs = make_embeddings(self.rng, N_VECS)
        self.warm_docs = make_documents(self.rng, WARM_DOCS)

    def _write(self, sf_dir: pathlib.Path, docs: pd.DataFrame) -> None:
        import pyarrow as pa
        import pyarrow.parquet as pq

        sf_dir.mkdir(parents=True, exist_ok=True)
        # one row group, as in the sf tables: single-task stages stay visible
        pq.write_table(
            pa.Table.from_pandas(docs, preserve_index=False),
            sf_dir / "documents.parquet",
            row_group_size=len(docs),
        )
        emb = pa.Table.from_pandas(self.embs, preserve_index=False).cast(
            pa.schema(
                [("vec_id", pa.int64()), ("embedding", pa.list_(pa.float32())), ("label", pa.int32())]
            )
        )
        pq.write_table(emb, sf_dir / "embeddings.parquet")

    def load(self) -> None:
        import __spark_entry__ as entry

        self._write(self.sf_dir, self.docs)
        self._write(self.warm_dir, self.warm_docs)
        queries = entry.queries()
        self.queries = {k: queries[k] for k in DEDUP_KEYS}
        self.oracle_sql = {k: entry.oracle_sql()[k] for k in DEDUP_KEYS}

    def oracle_digests(self, sf_dir: pathlib.Path) -> Dict[str, str]:
        """DuckDB digests of the tables in ``sf_dir``, computed once per run
        (same input every iteration)."""
        if sf_dir not in self.oracle:
            import duckdb

            con = duckdb.connect()
            try:
                for t in ("documents", "embeddings"):
                    con.execute(
                        f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir / t}.parquet')"
                    )
                digests = {}
                for k, sql in self.oracle_sql.items():
                    cur = con.execute(sql)
                    cols = [d[0] for d in cur.description]
                    digests[k] = frame_digest(cols, cur.fetchall())
                self.oracle[sf_dir] = digests
            finally:
                con.close()
        return self.oracle[sf_dir]

    def iterate(self, k: int) -> Outcome:
        import time

        sf_dir, n_docs = (self.warm_dir, WARM_DOCS) if k < 0 else (self.sf_dir, N_DOCS)
        results, key_s = {}, {}
        for key, fn in self.queries.items():
            t0 = time.perf_counter()
            with self.tracer.span(f"operators.{key}"):
                sdf = fn(self.spark, str(sf_dir))
                results[key] = (sdf.columns, sdf.collect())
            key_s[key] = time.perf_counter() - t0

        def check() -> int:
            want = self.oracle_digests(sf_dir)
            bad = [key for key, (cols, rows) in results.items() if frame_digest(cols, rows) != want[key]]
            self.last_check = {"rows": {key: len(r[1]) for key, r in results.items()}, "failed": bad}
            return len(bad)

        return Outcome(5 * n_docs + N_VECS, len(self.queries), check, {"key_s": key_s})


WORKLOADS = {w.name: w for w in (Crawl, DedupOps)}
