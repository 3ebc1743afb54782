"""The benchmark's workloads. Each one owns its corpus window, its
untimed per-run preparation, the timed job, and the gate for its output.

Corpus windows come from ``sources.pages.make_doc`` and are written as
parquet; the program only ever reads that parquet. A window's first id is
a multiple of lcm(2003, format cycle), so every seed's window has the same
format mix and places its 1-2 MB giant (ids ≡ 1000 mod 2003) at the same
offset and format — seeds change the bytes, not the cost profile.
"""

from __future__ import annotations

import os
import random
import shutil
import time

import pyarrow as pa
import pyarrow.parquet as pq

import gate
from stats import ratio

PARTITIONS = 8
OCR_CFG = {"ocr_backend": "fake"}
GOLDEN_DIR = os.path.join("tests", "goldens")
WEB_GOLDEN = ("ref_chunks_web4096.json.gz", 4096)
MIXED_GOLDEN = ("ref_chunks_mixed256.json.gz", 256)
# docs outside the goldens are checked against a replay of this many
REPLAY_SAMPLE = 48
# lcm(2003, len(format cycle)) per profile
WINDOW_STRIDE = {"web": 20030, "mixed": 22033}
# seeds wrap here: make_doc stamps warc_ts doc_id seconds after 2024, and
# the extraction UDF's Arrow → pandas conversion holds nanosecond
# timestamps, which end in 2262 (ids past ~7.4e9); the last window starts
# at 22033 · 99999 ≈ 2.2e9 (year 2093)
WINDOWS = 100_000
# make_doc's 100-400 KB pages: ids ≡ BIG_RESIDUE mod BIG_PERIOD
BIG_PERIOD, BIG_RESIDUE = 211, 13

_ARROW_SCHEMA = pa.schema([
    ("url", pa.string()), ("warc_ts", pa.timestamp("us", tz="UTC")),
    ("html", pa.binary()), ("text", pa.string()), ("lang", pa.string()),
    ("parser", pa.string()), ("fmt", pa.string()),
])
_COLS = [f.name for f in _ARROW_SCHEMA]


def window(profile: str, seed: int, n: int, offset: int = 0) -> range:
    """The seed's doc-id window; seed 0 is the window the goldens cover."""
    start = WINDOW_STRIDE[profile] * (seed % WINDOWS) + offset
    return range(start, start + n)


def make_docs(profile: str, ids) -> list[dict]:
    """Corpus rows plus benchmark-only fields (doc_id, cls)."""
    from ragflow_spark.plans.partitioning import GIANT_BYTES
    from ragflow_spark.sources.pages import is_scanned_pdf, make_doc

    docs = []
    for i in ids:
        d = make_doc(i, profile)
        d["doc_id"] = i
        if is_scanned_pdf(i, profile):
            d["cls"] = "ocr"
        elif len(d["html"]) >= GIANT_BYTES:
            d["cls"] = "giant"
        elif d["fmt"] == "html":
            d["cls"] = "html"
        elif d["fmt"] == "pdf":
            d["cls"] = "pdf_text"
        elif d["fmt"] in ("txt", "md", "json"):
            d["cls"] = "txt_md_json"
        else:
            d["cls"] = "office"
        docs.append(d)
    return docs


def write_pages(docs: list[dict], path: str, files: int = PARTITIONS) -> None:
    """Write rows as ``files`` parquet files (a crawl landing zone is many
    files, not one)."""
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    step = -(-len(docs) // files)
    for k in range(0, len(docs), step):
        part = docs[k:k + step]
        tab = pa.Table.from_pydict(
            {c: [d[c] for d in part] for c in _COLS}, schema=_ARROW_SCHEMA)
        pq.write_table(tab, os.path.join(path, f"part-{k // step:05d}.parquet"))


def _expected(root: str, docs: list[dict], profile: str, seed: int):
    """Reference chunk texts for the gate: goldens where they cover a doc,
    a ``run_template`` replay on a seeded sample elsewhere; and the OCR
    truths of scanned PDFs."""
    from ragflow_spark.core.templates import run_template
    from ragflow_spark.sources.pages import scanned_truths

    fname, covered = WEB_GOLDEN if profile == "web" else MIXED_GOLDEN
    expected, scanned, pool = {}, {}, []
    golden = None
    if any(d["doc_id"] < covered for d in docs):
        golden = gate.load_golden(os.path.join(root, GOLDEN_DIR, fname))
    for d in docs:
        if d["cls"] == "ocr":
            scanned[d["url"]] = [t for page in scanned_truths(d["doc_id"])
                                 for t in page]
        elif golden is not None and d["url"] in golden:
            g = golden[d["url"]]
            expected[d["url"]] = None if g["ref_error"] else g["chunks"]
        else:
            pool.append(d)
    rng = random.Random(seed * 1_000_003 + len(docs))
    for d in rng.sample(pool, min(REPLAY_SAMPLE, len(pool))):
        expected[d["url"]] = [c.chunk_text for c in run_template(
            d["parser"], d["html"], d["fmt"], d["lang"], cfg=dict(OCR_CFG))]
    return expected, scanned


class Job:
    """Where one timed job writes, and what it processed."""

    def __init__(self, base: str):
        self.base = base
        self.out = os.path.join(base, "out")
        self.man = os.path.join(base, "manifest")


def _extract(spark, pages_path: str, job: Job, attempt: int = 1) -> None:
    from ragflow_spark.operators.extract import run_extraction_job

    run_extraction_job(spark.read.parquet(pages_path), job.out, job.man,
                       num_partitions=PARTITIONS, attempt=attempt,
                       template_cfg=dict(OCR_CFG))


def _count_files(path: str) -> int:
    return sum(1 for _d, _s, fs in os.walk(path) for f in fs
               if f.endswith(".parquet"))


def manifest_counts(rows, attempt: int, needed: int) -> tuple[set, dict]:
    """Partitions and docs one attempt parsed, from the manifest rows."""
    rows = [r for r in rows if r.attempt == attempt]
    parsed = sum(r.doc_count for r in rows)
    return {r.partition_id for r in rows}, {
        "manifest.partitions_skipped": PARTITIONS - len(rows),
        "manifest.docs_parsed": parsed,
        # base: docs parsed by this attempt
        "manifest.useful_parse_ratio": ratio(needed, parsed),
    }


class WebCrawl:
    """Fresh extraction over an HTML-dominant web window with giants and
    the scanned-PDF OCR lane."""

    name = "web_crawl"
    label = "extract"
    profile = "web"
    n_docs = 512
    offset = 600        # the window holds the giant at id 1000
    attempt = 1

    def __init__(self, ctx):
        self.ctx = ctx
        self.pages = os.path.join(ctx.work, "pages")

    def make_corpus(self) -> None:
        self.docs = make_docs(self.profile, window(
            self.profile, self.ctx.seed, self.n_docs, self.offset))
        write_pages(self.docs, self.pages)

    def snapshot(self) -> None:
        pass

    def prepare(self, job: Job) -> None:
        pass

    def run(self, spark, job: Job) -> None:
        _extract(spark, self.pages, job)

    def check(self, spark, jobs: list[Job]):
        expected, scanned = _expected(self.ctx.root, self.docs,
                                      self.profile, self.ctx.seed)
        urls = [d["url"] for d in self.docs]
        res, part_of = gate.check_extraction(spark, jobs[-1].out,
                                             jobs[-1].man, urls, expected,
                                             scanned)
        self.part_of = part_of
        ref = gate.manifest_signature(spark, jobs[-1].man)
        for other in jobs[:-1]:
            sig = gate.manifest_signature(spark, other.man)
            for url, pid in part_of.items():
                if sig.get(pid) != ref.get(pid):
                    res.fail(url, f"job {other.base} partition {pid} "
                                  "differs from the checked job")
        return res

    def layer_counts(self, spark, job: Job) -> dict:
        self.parsed_pids, counts = manifest_counts(
            spark.read.parquet(job.man).collect(), self.attempt, self.needed)
        counts["sink.files"] = _count_files(job.out)
        return counts

    def replay_docs(self) -> list[dict]:
        """The docs the checked job parsed (its attempt's partitions)."""
        return [d for d in self.docs
                if self.part_of.get(d["url"]) in self.parsed_pids]

    def run_tiny(self, spark, job: Job) -> None:
        """A fresh 16-doc job: starts a new session's Python workers."""
        tiny = os.path.join(self.ctx.work, "pages_tiny")
        write_pages(self.docs[:16], tiny, files=1)
        _extract(spark, tiny, job)

    @property
    def needed(self) -> int:
        return len(self.docs)


class RecrawlResume(WebCrawl):
    """Daily increment: restore a manifested history, then re-run the job
    over history + the next window of new urls (count-verified resume,
    anti-join, dynamic partition overwrite). Runs on the mixed office/PDF
    profile so the office and TSR-lite parse lanes are measured too."""

    name = "recrawl_resume"
    profile = "mixed"
    n_docs = 512        # history window
    n_new = 64          # the next window: today's new urls
    attempt = 2

    def __init__(self, ctx):
        super().__init__(ctx)
        self.history = os.path.join(ctx.work, "history_pages")
        self.snap = Job(os.path.join(ctx.work, "snapshot"))

    def make_corpus(self) -> None:
        ids = window(self.profile, self.ctx.seed, self.n_docs + self.n_new)
        self.docs = make_docs(self.profile, ids)
        write_pages(self.docs[:self.n_docs], self.history)
        write_pages(self.docs, self.pages)

    def snapshot(self) -> None:
        shutil.rmtree(self.snap.base, ignore_errors=True)
        _extract(self.ctx.spark, self.history, self.snap)

    def prepare(self, job: Job) -> None:
        shutil.rmtree(job.base, ignore_errors=True)
        shutil.copytree(self.snap.base, job.base)

    def run(self, spark, job: Job) -> None:
        _extract(spark, self.pages, job, attempt=self.attempt)

    @property
    def needed(self) -> int:
        return self.n_new


DUP_EVERY = 8        # one re-crawled copy per this many long chunk rows
MIN_DUP_TOKENS = 20  # one edited word keeps 3-shingle Jaccard above 0.7


def plant_duplicates(texts: list[str], rng: random.Random) -> list[str]:
    """Re-crawl copies of every DUP_EVERY-th long chunk: alternately an
    exact copy (curate's duplicate rule) and a copy with one word changed
    (a near-dup pair for minhash). The synthetic corpus has almost none of
    its own, which would leave dedup's verify and cluster steps idle and
    their cost dependent on chance collisions."""
    out = []
    long_rows = [t for t in texts if len(t.split()) >= MIN_DUP_TOKENS]
    for k, t in enumerate(long_rows[::DUP_EVERY]):
        if k % 2:
            words = t.split(" ")
            i = rng.randrange(len(words))
            words[i] = f"recrawl{rng.randrange(10**6)}"
            t = " ".join(words)
        out.append(t)
    return out


class CurateDedup:
    """curate() over the chunk table extracted (in set-up) from the seed's
    web window plus planted re-crawl copies, then minhash near-dup pairs
    and their clusters."""

    name = "curate_dedup"
    label = None
    profile = "web"
    n_pages = 208       # ids start .. start+209 hold no 100-400 KB page
    # pages yield 7-9 chunk rows each, so a fixed row count (cut from every
    # seed's pages) and a fixed number of planted copies keep the input the
    # same size across seeds
    n_rows = 1408
    n_dups = 96
    threshold = 0.5

    def __init__(self, ctx):
        self.ctx = ctx
        self.chunks = os.path.join(ctx.work, "chunks_in")

    def make_corpus(self) -> None:
        """A window clear of 100-400 KB pages (ids ≡ 13 mod 211): one of
        those alone adds ~1000 chunk rows, so seeds would differ in size."""
        start = window(self.profile, self.ctx.seed, 0).start
        start += (BIG_RESIDUE + 1 - start) % BIG_PERIOD
        self.page_docs = make_docs(self.profile,
                                   range(start, start + self.n_pages))

    def snapshot(self) -> None:
        """Extract the pages through the parity core (byte-identical to the
        Spark job, see tests/test_ref_goldens.py), number the chunk rows by
        (url, chunk_idx), keep the first ``n_rows`` and plant ``n_dups``
        re-crawl duplicates."""
        from ragflow_spark.core.templates import run_template

        rows = sorted(
            (d["url"], c.chunk_idx, c.chunk_text) for d in self.page_docs
            for c in run_template(d["parser"], d["html"], d["fmt"], d["lang"],
                                  cfg=dict(OCR_CFG)))
        texts = [r[2] for r in rows][:self.n_rows]
        texts += plant_duplicates(texts, random.Random(self.ctx.seed)
                                  )[:self.n_dups]
        self.texts = dict(enumerate(texts))
        self.docs = [{"doc_id": i, "text": t} for i, t in self.texts.items()]
        shutil.rmtree(self.chunks, ignore_errors=True)
        os.makedirs(self.chunks)
        step = -(-len(self.docs) // PARTITIONS)
        for k in range(0, len(self.docs), step):
            part = self.docs[k:k + step]
            pq.write_table(pa.Table.from_pydict({
                "doc_id": pa.array([d["doc_id"] for d in part], pa.int64()),
                "text": pa.array([d["text"] for d in part], pa.string()),
            }), os.path.join(self.chunks, f"part-{k // step:05d}.parquet"))

    def prepare(self, job: Job) -> None:
        pass

    def run(self, spark, job: Job) -> None:
        from ragflow_spark.operators import dedup
        from ragflow_spark.operators.curate import curate

        docs = spark.read.parquet(self.chunks)
        t = time.perf_counter()
        with self.ctx.label("curate"):
            curate(docs, "doc_id", "text").write.parquet(
                os.path.join(job.base, "flags"))
        t1 = time.perf_counter()
        with self.ctx.label("dedup.pairs"):
            pairs = dedup.minhash_pairs(docs, "doc_id", "text",
                                        jaccard_threshold=self.threshold)
            pairs.write.parquet(os.path.join(job.base, "pairs"))
            job.dropped_bands = dedup.dropped_band_count(pairs)
            dedup.release(pairs)
        t2 = time.perf_counter()
        with self.ctx.label("dedup.clusters"):
            clusters = dedup.dup_clusters(
                spark.read.parquet(os.path.join(job.base, "pairs")))
            clusters.write.parquet(os.path.join(job.base, "clusters"))
            dedup.release(clusters)
        job.times = {"curate.s": t1 - t, "dedup.pairs_s": t2 - t1,
                     "dedup.cluster_s": time.perf_counter() - t2}

    def run_tiny(self, spark, job: Job) -> None:
        self.run(spark, job)

    def _read(self, spark, job: Job, name: str):
        return spark.read.parquet(os.path.join(job.base, name)).toPandas()

    def check(self, spark, jobs: list[Job]):
        import duckdb

        from __spark_entry__ import oracle_sql

        job = jobs[-1]
        con = duckdb.connect()
        try:
            con.execute("create view documents as select * from "
                        f"read_parquet('{self.chunks}/*.parquet')")
            oracle = con.execute(oracle_sql()["doc_curation"]).df()
        finally:
            con.close()
        flags = self._read(spark, job, "flags")
        res = gate.check_curation(flags, oracle)
        pairs = self._read(spark, job, "pairs")
        gate.check_pairs(pairs, self.texts, self.threshold, res)
        gate.check_clusters(self._read(spark, job, "clusters"), pairs, res)
        want = (len(flags), len(pairs))
        for other in jobs[:-1]:
            got = (len(self._read(spark, other, "flags")),
                   len(self._read(spark, other, "pairs")))
            if got != want:
                res.fail(other.base, f"row counts {got} != {want}")
        self.kept_rows = int(flags["keep"].sum())
        self.n_pairs = len(pairs)
        return res

    def layer_counts(self, spark, job: Job) -> dict:
        """Candidate pairs recounted from the public signature operator:
        ids sharing a band key, hot bands (over the guard) excluded."""
        from ragflow_spark.operators.dedup import (
            DEFAULT_MAX_BAND_SIZE,
            minhash_base_arrow,
        )

        base = minhash_base_arrow(spark.read.parquet(self.chunks),
                                  "doc_id", "text").select(
                                      "_id", "_bands").collect()
        members: dict[str, list[int]] = {}
        for r in base:
            for b in r._bands:
                members.setdefault(b, []).append(int(r._id))
        cand = set()
        for ids in members.values():
            if len(ids) > DEFAULT_MAX_BAND_SIZE:
                continue
            ids = sorted(set(ids))
            for i, a in enumerate(ids):
                for b in ids[i + 1:]:
                    cand.add((a, b))
        return {
            "curate.rows": len(self.docs),
            "curate.kept_rows": self.kept_rows,
            "dedup.candidate_pairs": len(cand),
            "dedup.verified_pairs": self.n_pairs,
            # base: candidate pairs
            "dedup.verify_ratio": ratio(self.n_pairs, len(cand)),
            "dedup.dropped_bands": getattr(job, "dropped_bands", 0),
            "sink.files": _count_files(job.base),
        }


WORKLOADS = {w.name: w for w in (WebCrawl, RecrawlResume, CurateDedup)}
