"""Per-run correctness gate, run outside the timed region.

Extraction workloads: every document of the window must appear in the
chunk table without an error row; chunk ids must be ``md5(text || url)``;
chunk text sequences must equal the reference (reference-executed goldens
where they exist, else an in-process ``run_template`` replay); scanned
PDFs must surface their encoded truths verbatim; and the manifest must be
consistent with the chunk table (Σ doc_count, per-partition doc counts and
the XOR content hash recomputed from the rows).

Curation workload: flags must equal the repository's DuckDB curation
oracle on the same rows, every emitted near-dup pair must have an exact
shingle Jaccard at or above the threshold, and every cluster id must be
the minimum id of its connected component.
"""

from __future__ import annotations

import gzip
import hashlib
import json
import re
from collections import defaultdict

from pyspark.sql import functions as F


class GateResult:
    """Counts of checked / identical documents and the failed set."""

    def __init__(self):
        self.checked = 0
        self.identical = 0
        self.failed: set = set()
        self.problems: list[str] = []

    def fail(self, key, why: str) -> None:
        self.failed.add(key)
        if len(self.problems) < 20:
            self.problems.append(f"{key}: {why}")


def load_golden(path: str) -> dict:
    with gzip.open(path, "rt", encoding="utf-8") as f:
        return json.load(f)["docs"]


def _latest_manifest(spark, man_path: str) -> dict[int, dict]:
    rows = spark.read.parquet(man_path).collect()
    latest: dict[int, dict] = {}
    for r in rows:
        cur = latest.get(r.partition_id)
        if cur is None or r.attempt > cur["attempt"]:
            latest[r.partition_id] = r.asDict()
    return latest


def manifest_signature(spark, man_path: str) -> dict[int, tuple]:
    """partition -> (doc_count, chunk_count, content_hash) of the latest
    manifest row: equal signatures mean byte-equal chunk partitions."""
    return {
        p: (r["doc_count"], r["chunk_count"], r["content_hash"])
        for p, r in _latest_manifest(spark, man_path).items()
    }


def check_extraction(spark, out_path: str, man_path: str, urls: list[str],
                     expected: dict, scanned: dict) -> tuple[GateResult, dict]:
    """Gate one job's output. ``expected`` maps url -> chunk texts (or
    None: the reference itself fails there, so any non-empty output
    passes); ``scanned`` maps url -> truth strings that must appear.
    Returns the result and url -> partition_id."""
    res = GateResult()
    rows = (spark.read.parquet(out_path)
            .select("url", "chunk_idx", "chunk_text", "content_hash",
                    "partition_id", "error")
            .toPandas())
    got: dict[str, list] = defaultdict(list)
    part_of: dict[str, int] = {}
    for url, idx, text, ch, pid, err in rows.itertuples(index=False):
        part_of[url] = int(pid)
        if err is not None:
            res.fail(url, f"error row: {err[:80]}")
            continue
        if ch != hashlib.md5((text + url).encode("utf-8", "ignore")
                             ).hexdigest():
            res.fail(url, f"content_hash mismatch at chunk {idx}")
        got[url].append((idx, text))
    for url in urls:
        if url not in part_of:
            res.fail(url, "missing from the chunk table")
            continue
        texts = [t for _, t in sorted(got.get(url, []))]
        if url in expected:
            want = expected[url]
            res.checked += 1
            if want is None:
                if texts:
                    res.identical += 1
                else:
                    res.fail(url, "no chunks where output is required")
            elif texts == want:
                res.identical += 1
            else:
                res.fail(url, "chunk text differs from the reference")
        if url in scanned:
            joined = "\n".join(texts)
            missing = [t for t in scanned[url] if t not in joined]
            if missing:
                res.fail(url, f"OCR truth not recovered: {missing[0]!r}")
    extra = set(part_of) - set(urls)
    for url in sorted(extra)[:5]:
        res.fail(url, "url not in the input window")

    # manifest vs chunk table
    latest = _latest_manifest(spark, man_path)
    docs_in: dict[int, set] = defaultdict(set)
    for url, pid in part_of.items():
        docs_in[pid].add(url)
    recomputed = {
        r.partition_id: r.h for r in (
            spark.read.parquet(out_path).groupBy("partition_id")
            .agg(F.conv(F.expr("bit_xor(xxhash64(content_hash))")
                        .cast("string"), 10, 16).alias("h"))
            .collect())
    }
    total = sum(r["doc_count"] for r in latest.values())
    if total != len(urls):
        res.problems.append(f"manifest Σdoc_count {total} != {len(urls)} docs")
        for url in urls:
            res.failed.add(url)
    for pid, urls_p in docs_in.items():
        r = latest.get(pid)
        if r is None:
            why = "partition missing from the manifest"
        elif r["doc_count"] != len(urls_p):
            why = f"manifest doc_count {r['doc_count']} != {len(urls_p)}"
        elif r["content_hash"] != recomputed.get(pid):
            why = "manifest content hash does not recompute"
        else:
            continue
        for url in urls_p:
            res.fail(url, f"partition {pid}: {why}")
    return res, part_of


# ------------------------------------------------------------- curation

_JAVA_WS = re.compile(r"[ \t\n\x0b\f\r]+")


def shingles(text: str, n: int = 3) -> set:
    """Word n-gram set with the JVM's whitespace semantics (trim strips
    spaces only; split keeps empty edge tokens) — the set minhash_pairs
    estimates Jaccard over."""
    toks = _JAVA_WS.split((text or "").strip(" "))
    if len(toks) < n:
        return {" ".join(toks)}
    return {" ".join(toks[i:i + n]) for i in range(len(toks) - n + 1)}


def expected_reason(o) -> str | None:
    """Drop reason under ``curate(allowed_langs=None)`` from the oracle's
    flags: the oracle applies a fixed language allow-list, which this
    workload turns off, so its ``bad_lang`` rule is skipped."""
    if o.n_tokens < 5:
        return "too_short"
    if o.n_tokens > 50_000:
        return "too_long"
    if o.quality_keep == 0:
        return "low_quality"
    if o.repetition_keep == 0:
        return "repetitive"
    if o.is_dup == 1:
        return "duplicate"
    return None


FLAG_COLS = ("pred_lang", "n_tokens", "quality_keep", "repetition_keep",
             "pii_hits", "is_dup")


def check_curation(flags, oracle) -> GateResult:
    """Row-for-row comparison of curate() flags (pandas) with the oracle."""
    res = GateResult()
    want = {int(o.doc_id): o for o in oracle.itertuples(index=False)}
    seen = set()
    for r in flags.itertuples(index=False):
        i = int(r.doc_id)
        seen.add(i)
        res.checked += 1
        o = want.get(i)
        if o is None:
            res.fail(i, "row absent from the oracle")
            continue
        bad = [c for c in FLAG_COLS if getattr(r, c) != getattr(o, c)]
        reason = expected_reason(o)
        if r.drop_reason != reason:
            bad.append(f"drop_reason {r.drop_reason}!={reason}")
        if int(r.keep) != int(reason is None):
            bad.append("keep")
        if bad:
            res.fail(i, f"differs from the oracle in {bad}")
        else:
            res.identical += 1
    for i in sorted(set(want) - seen)[:5]:
        res.fail(i, "row missing from curate() output")
    return res


def check_pairs(pairs, texts: dict, threshold: float, res: GateResult
                ) -> None:
    """Every emitted pair is ordered and meets the threshold exactly."""
    cache: dict = {}

    def sh(i):
        if i not in cache:
            cache[i] = shingles(texts[i])
        return cache[i]

    for a, b, j in pairs[["id_a", "id_b", "jaccard"]].itertuples(index=False):
        a, b = int(a), int(b)
        if a >= b:
            res.fail((a, b), "pair not ordered id_a < id_b")
            continue
        sa, sb = sh(a), sh(b)
        exact = len(sa & sb) / len(sa | sb)
        if exact < threshold or abs(exact - j) > 1e-6:
            res.fail((a, b), f"exact Jaccard {exact:.6f} vs emitted {j}")


def check_clusters(clusters, pairs, res: GateResult) -> None:
    """cluster_id must be the min id of each pair-graph component."""
    parent: dict[int, int] = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs[["id_a", "id_b"]].itertuples(index=False):
        ra, rb = find(int(a)), find(int(b))
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    got = {int(d): int(c) for d, c in
           clusters[["doc_id", "cluster_id"]].itertuples(index=False)}
    if set(got) != set(parent):
        res.fail("clusters", "node set differs from the pair graph")
    for node in parent:
        if got.get(node) != find(node):
            res.fail(("cluster", node), "cluster id is not the component min")
