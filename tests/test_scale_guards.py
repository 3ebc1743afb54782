"""Round-2 scale/correctness guards: winnow vectorization parity, default-on
hot-band caps in the LSH pair joins, manifest partition-modulus validation,
indirect /Length PDF streams, document-absolute page tags under from_page."""

import re

import pytest
from pyspark.sql import functions as F

from ragflow_spark.core import pdf_mini
from ragflow_spark.core.pdf_layout import layout_parse
from ragflow_spark.operators import dedup
from ragflow_spark.operators.textstats import winnow_numpy, winnow_reference


# --------------------------------------------------- winnowing parity

@pytest.mark.parametrize("text", [
    "",
    "short",
    "exactly8",
    "the quick brown fox jumps over the lazy dog " * 5,
    "UPPER and lower MiXeD with   spaces\nand\nnewlines " * 3,
    "数据查询引擎分区过滤合并文档提取内容" * 10,           # CJK (codes > 255)
    "emoji 🙂 and accents éàü " * 8,
    "a" * 7,    # len == k-1 → no k-grams
    "a" * 8,    # one k-gram, fewer hashes than window
    "a" * 11,   # exactly window hashes
    "abcdefgh" * 4,
])
def test_winnow_numpy_matches_reference(text):
    assert winnow_numpy(text) == winnow_reference(text)


def test_winnow_numpy_matches_reference_other_params():
    s = "some repeated content some repeated content tail"
    for k, w in [(4, 3), (5, 8), (12, 2)]:
        assert winnow_numpy(s, k, w) == winnow_reference(s, k, w)


# ------------------------------------------------- hot-band guards

@pytest.fixture(scope="module")
def boilerplate_df(spark):
    """1 000 docs sharing identical boilerplate (degenerate LSH bands) plus
    a genuine near-dup pair."""
    boiler = "all rights reserved navigation home about contact terms"
    rows = [(i, f"{boiler}") for i in range(1000)]
    rows.append((2000, "completely unique text alpha beta gamma delta one"))
    rows.append((2001, "completely unique text alpha beta gamma delta two"))
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_minhash_hot_band_guard_bounds_candidates(boilerplate_df):
    # identical docs share every band → one 1000-doc band per band-no;
    # the guard drops them (exact dedup owns identical content) while the
    # genuine near-dup pair (distinct bands, small) survives
    pairs = dedup.minhash_pairs(
        boilerplate_df, "doc_id", "text",
        jaccard_threshold=0.5, max_band_size=100,
    )
    got = {(r.id_a, r.id_b) for r in pairs.collect()}
    dedup.release(pairs)
    assert (2000, 2001) in got
    assert all(a >= 2000 for a, _ in got), "degenerate band leaked k² pairs"

    # unguarded: the same call emits ~500k pairs — assert the guard is the
    # default by checking the signature default
    import inspect

    sig = inspect.signature(dedup.minhash_pairs)
    assert sig.parameters["max_band_size"].default == dedup.DEFAULT_MAX_BAND_SIZE
    assert dedup.DEFAULT_MAX_BAND_SIZE is not None


def test_simhash_hot_band_guard_bounds_candidates(boilerplate_df):
    pairs = dedup.simhash_pairs(
        boilerplate_df, "doc_id", "text", max_hamming=6, max_band_size=100,
    )
    got = {(r.id_a, r.id_b) for r in pairs.collect()}
    assert all(a >= 2000 for a, _ in got), "degenerate chunk band leaked"
    import inspect

    sig = inspect.signature(dedup.simhash_pairs)
    assert sig.parameters["max_band_size"].default == dedup.DEFAULT_MAX_BAND_SIZE


def test_ngram_pairs_id_only_join_same_results(spark):
    rows = [
        (1, "g1", "alpha beta gamma delta"),
        (2, "g1", "alpha beta gamma epsilon"),
        (3, "g1", "totally different words here now"),
        (4, "g2", "alpha beta gamma delta"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, src string, text string")
    out = dedup.ngram_jaccard_pairs(df, "doc_id", "text", "src",
                                    threshold=0.5, shingle_n=1)
    got = {(r.src, r.id_a, r.id_b, r.jaccard) for r in out.collect()}
    dedup.release(out)
    assert got == {("g1", 1, 2, 0.6)}


def test_ngram_matmul_matches_exact_join(spark):
    """The matmul candidate stage is lossless: for any threshold/shingle
    config the operator returns the EXACT rows (and jaccard doubles) of
    the O(g²) self-join reference, across near-dup chains, an exact-dup
    cluster, empty docs, and cross-group isolation."""
    import random

    rng = random.Random(7)
    words = [f"w{i}" for i in range(200)]
    rows = []
    for i in range(240):
        if i % 5 == 1 and i > 1:
            base = rows[i - 1][2].split()
            text = " ".join(base[:-max(1, len(base) // 6)])
        elif i % 53 == 0:
            text = ""
        elif i % 17 == 0:
            text = "common boiler plate"
        else:
            text = " ".join(rng.choices(words, k=rng.randint(4, 30)))
        rows.append((i, f"g{i % 3}", text))
    # pairs whose unigram Jaccard is exactly 3/6 and 4/5: on-threshold
    # pairs the candidate slack must keep
    rows += [(300, "edge", "e1 e2 e3 e4"), (301, "edge", "e1 e2 e3 e5 e6"),
             (302, "edge", "f1 f2 f3 f4 f5"), (303, "edge", "f1 f2 f3 f4")]
    df = spark.createDataFrame(rows, "doc_id long, src string, text string")
    for threshold, n in ((0.5, 1), (0.3, 2), (0.8, 1)):
        ex = dedup._ngram_jaccard_exact(df, "doc_id", "text", "src",
                                        threshold=threshold, shingle_n=n)
        mm = dedup.ngram_jaccard_pairs(df, "doc_id", "text", "src",
                                       threshold=threshold, shingle_n=n)
        e = sorted(map(tuple, ex.collect()))
        m = sorted(map(tuple, mm.collect()))
        dedup.release(ex)
        dedup.release(mm)
        assert e == m and e, (threshold, n, len(e), len(m))


def test_ngram_group_vocab_limit_raises(spark, monkeypatch):
    """Float32 matmul counts are exact only below _MAX_GROUP_VOCAB
    distinct shingles per group; at the limit the operator raises a
    ValueError naming the group (an explicit check, not an assert that
    python -O strips)."""
    df = spark.createDataFrame(
        [(1, "big", "a b c"), (2, "big", "c d e"), (3, "small", "a b")],
        "doc_id long, src string, text string",
    )

    def run():
        out = dedup.ngram_jaccard_pairs(df, "doc_id", "text", "src",
                                        threshold=0.2, shingle_n=1)
        try:
            return {(r.src, r.id_a, r.id_b) for r in out.collect()}
        finally:
            dedup.release(out)

    # group 'big' has 5 distinct shingles: a limit of 6 admits it
    monkeypatch.setattr(dedup, "_MAX_GROUP_VOCAB", 6)
    assert run() == {("big", 1, 2)}
    monkeypatch.setattr(dedup, "_MAX_GROUP_VOCAB", 5)
    with pytest.raises(Exception, match=r"ValueError.*group 'big' has 5"):
        run()


def _component_mins(edges) -> dict:
    """{node: component min} of an undirected edge list by a Python
    union-find; null ids and self-loops are dropped, as dup_clusters
    drops them."""
    parent: dict = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        if a is not None and b is not None and a != b:
            ra, rb = find(a), find(b)
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in list(parent)}


def _random_multigraph() -> list:
    """Seeded random multigraph: duplicate pairs in both orientations and
    a self-loop."""
    import random

    rng = random.Random(5)
    edges = [(rng.randrange(300), rng.randrange(300)) for _ in range(220)]
    edges += [(b, a) for a, b in edges[:40]] + edges[40:60]
    a0 = next(a for a, b in edges if a != b)
    edges.append((a0, a0))
    return edges


def test_dup_clusters_chain_and_islands(spark):
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (5, 7)], "id_a long, id_b long"
    )
    out = dedup.dup_clusters(pairs)
    got = {r.doc_id: r.cluster_id for r in out.collect()}
    dedup.release(out)
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 5: 5, 7: 5}

    # against a Python union-find
    edges = _random_multigraph()
    out = dedup.dup_clusters(
        spark.createDataFrame(edges, "id_a long, id_b long"))
    rows = [(r.doc_id, r.cluster_id) for r in out.collect()]
    assert len(rows) == len({d for d, _ in rows}), "one row per node"
    assert dict(rows) == _component_mins(edges)


# ------------------------------------------- manifest modulus guard

def test_resume_rejects_different_num_partitions(spark, tmpdir_path):
    import os

    from ragflow_spark.operators.extract import run_extraction_job
    from ragflow_spark.sources import pages as pages_src

    pages = pages_src.generate_pages_df(spark, 24, parallelism=2)
    out = os.path.join(tmpdir_path, "chunks")
    man = os.path.join(tmpdir_path, "manifest")
    run_extraction_job(pages, out, man, num_partitions=8)
    # same modulus resumes fine (no-op: everything manifested)
    run_extraction_job(pages, out, man, num_partitions=8, attempt=2)
    with pytest.raises(ValueError, match="num_partitions"):
        run_extraction_job(pages, out, man, num_partitions=16, attempt=3)


# ------------------------------------------------- PDF edge cases

def test_indirect_length_stream_falls_back_to_endstream_scan():
    blob = pdf_mini.build_simple_pdf([["hello world", "second line"]],
                                     compress=False)
    # rewrite the direct /Length N into an indirect '/Length 99 0 R'
    patched = re.sub(rb"/Length \d+ >>", b"/Length 99 0 R >>", blob, count=1)
    assert patched != blob
    pages = pdf_mini.extract_text_lines(patched)
    assert pages[0] == ["hello world", "second line"]


def test_invisible_white_text_dropped():
    # F2: white-fill (gray=1) text never reaches the box stream; visible
    # text around it is unaffected
    items = [
        (72.0, 700.0, "visible heading text"),
        (72.0, 650.0, "hidden keyword stuffing", 1.0),
        (72.0, 600.0, "visible body text"),
    ]
    blob = pdf_mini.build_positioned_pdf([items])
    texts = [b["text"] for b in pdf_mini.extract_boxes(blob)[0]]
    assert "visible heading text" in texts
    assert "visible body text" in texts
    assert all("hidden" not in t for t in texts)


def test_layout_parse_from_page_tags_are_document_absolute():
    pages = [[f"page {p} line {i}" for i in range(3)] for p in range(1, 4)]
    blob = pdf_mini.build_simple_pdf(pages)
    secs = layout_parse(blob, from_page=1, to_page=3)
    # page field may be multi-page ("2-3") when a merge crosses pages,
    # exactly like the reference's _line_tag (pdf_parser.py:848-856)
    tag_pages = {
        int(p)
        for _text, tag in secs
        for m in [re.match(r"@@([\d-]+)\t", tag)] if m
        for p in m.group(1).split("-")
    }
    assert tag_pages and tag_pages.issubset({2, 3}), tag_pages


def test_drop_common_segments(spark):
    rows = [
        (1, "unique one\nshared footer\nunique two"),
        (2, "other text\nshared footer"),
        (3, "third doc\nno repeats here"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: (r.n_kept, r.n_dropped, r.clean_md5)
           for r in dedup.drop_common_segments(df, "doc_id", "text").collect()}
    import hashlib

    md5 = lambda s: hashlib.md5(s.encode()).hexdigest()
    assert out[1] == (2, 1, md5("unique one\nunique two"))
    assert out[2] == (1, 1, md5("other text"))
    assert out[3] == (2, 0, md5("third doc\nno repeats here"))


# ------------------------------------------- round-3 guards

def test_dup_clusters_path_graph_logarithmic_rounds(spark, monkeypatch):
    """Adversarial 10k-node path graph: large-star/small-star must converge
    in O(log n) rounds (naive min-label propagation needs ~n rounds). The
    driver cap is pinned to 0 so the graph is not finished on the
    driver."""
    import math

    monkeypatch.setattr(dedup, "_driver_cap", lambda spark: 0)
    n = 10_000
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "id_a long, id_b long"
    )
    out = dedup.dup_clusters(pairs)
    rows = out.collect()
    assert out._rs_rounds <= 2 * math.log2(n)
    assert len(rows) == n
    assert all(r.cluster_id == 0 for r in rows)
    dedup.release(out)


def test_dup_clusters_nonconvergence_raises(spark, monkeypatch):
    # cap 0: the star rounds run, so max_iter=0 cannot converge
    monkeypatch.setattr(dedup, "_driver_cap", lambda spark: 0)
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(63)], "id_a long, id_b long"
    )
    with pytest.raises(RuntimeError, match="not converged"):
        dedup.dup_clusters(pairs, max_iter=0)


# dup_clusters labels the graph on the driver when the edge set is at most
# the cap T. "star" pins T to 0 (star rounds only) and "default" keeps the
# heap-derived T (no star round runs for integer ids; string ids always
# take the star rounds).
_CC_GRAPHS = {
    "chain_islands": [(1, 2), (2, 3), (10, 11), (5, 7)],
    "multigraph": _random_multigraph(),
    "path10k": [(i, i + 1) for i in range(9_999)],
}


def _check_dup_clusters(spark, monkeypatch, edges, id_type, cap):
    """dup_clusters over ``edges`` under ``cap``: the rows are the
    union-find's, the schema is the same on every path, and
    ``_rs_rounds``/``_rs_driver_cap`` plus the edge counts handed to
    ``_min_labels`` show which path ran."""
    want = _component_mins(edges)
    if cap == "star":
        monkeypatch.setattr(dedup, "_driver_cap", lambda spark: 0)
    labelled = []
    min_labels = dedup._min_labels

    def spy(u, v):
        labelled.append(len(u))
        return min_labels(u, v)

    monkeypatch.setattr(dedup, "_min_labels", spy)
    out = dedup.dup_clusters(spark.createDataFrame(
        edges, f"id_a {id_type}, id_b {id_type}"))
    assert sorted(map(tuple, out.collect())) == sorted(want.items())
    assert out.schema == spark.createDataFrame(
        [], f"doc_id {id_type}, cluster_id {id_type}").schema
    edge_rows = sum(a is not None and b is not None and a != b
                    for a, b in edges)
    if not edge_rows:  # empty graph: nothing for a star round to do
        assert out._rs_rounds == 0 and labelled == [0]
    elif cap == "star" or id_type == "string":
        assert out._rs_driver_cap == 0
        assert out._rs_rounds >= 2 and labelled == []
    else:
        assert out._rs_driver_cap == dedup._driver_cap(spark) > edge_rows
        assert out._rs_rounds == 0 and labelled == [edge_rows]


@pytest.mark.parametrize("cap", ["star", "default"])
@pytest.mark.parametrize("graph", sorted(_CC_GRAPHS))
def test_dup_clusters_driver_and_star_paths_agree(spark, monkeypatch,
                                                  graph, cap):
    # every edge in both orientations: the same components
    edges = _CC_GRAPHS[graph] + [(b, a) for a, b in _CC_GRAPHS[graph]]
    _check_dup_clusters(spark, monkeypatch, edges, "bigint", cap)


@pytest.mark.parametrize("cap", ["star", "default"])
@pytest.mark.parametrize("id_type", ["bigint", "int", "string"])
def test_dup_clusters_id_types_and_null_ids(spark, monkeypatch, id_type,
                                            cap):
    # a cycle and a repeated pair; null ids and the self-loop are dropped
    conv = str if id_type == "string" else int
    edges = [
        tuple(None if x is None else conv(x) for x in e)
        for e in [(1, 2), (2, 3), (3, 1), (2, 1), (10, 11), (5, 7),
                  (None, 4), (8, None), (None, None), (6, 6)]
    ]
    _check_dup_clusters(spark, monkeypatch, edges, id_type, cap)


@pytest.mark.parametrize("cap", ["star", "default"])
def test_dup_clusters_empty_input(spark, monkeypatch, cap):
    _check_dup_clusters(spark, monkeypatch, [], "bigint", cap)


@pytest.mark.parametrize("cap", ["star", "default"])
def test_dup_clusters_runs_upstream_pairs_once(spark, monkeypatch, cap):
    """The probe's pass over an uncached pair plan is reused by the star
    rounds: a Python UDF in the plan counts one call per pair row on
    either path."""
    calls = spark.sparkContext.accumulator(0)

    def counted(x):
        calls.add(1)
        return x

    if cap == "star":
        monkeypatch.setattr(dedup, "_driver_cap", lambda spark: 0)
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(50)], "a long, b long"
    ).select(
        F.udf(counted, "long").asNondeterministic()("a").alias("id_a"),
        F.col("b").alias("id_b"),
    )
    out = dedup.dup_clusters(pairs)
    assert sorted(map(tuple, out.collect())) == [(i, 0) for i in range(51)]
    assert calls.value == 50


def test_dup_clusters_driver_path_job_count(spark, monkeypatch):
    """96 disjoint pairs, the planted-pair shape of perfbench's
    curate_dedup: the driver path is one bounded-probe job, the star path
    two jobs (checkpoint + probe) per round."""
    import uuid

    sc = spark.sparkContext
    pairs = spark.createDataFrame(
        [(2 * i, 2 * i + 1) for i in range(96)], "id_a long, id_b long")

    def jobs():
        group = f"dup_clusters-{uuid.uuid4()}"
        sc.setJobGroup(group, group)
        try:
            out = dedup.dup_clusters(pairs)
            assert len(out.collect()) == 192
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return len(sc.statusTracker().getJobIdsForGroup(group))

    driver_jobs = jobs()
    monkeypatch.setattr(dedup, "_driver_cap", lambda spark: 0)
    star_jobs = jobs()
    assert driver_jobs <= 1 < star_jobs


@pytest.mark.parametrize("num_hashes,bands", [(16, 32), (16, 5), (16, 0)])
def test_minhash_rejects_bands_not_dividing_num_hashes(spark, num_hashes,
                                                       bands):
    """bands > num_hashes made every band empty (one shared key per band
    number, all dropped as hot → no pairs); a remainder ignored trailing
    hashes. All three minhash entry points refuse both."""
    df = spark.createDataFrame(
        [(1, "alpha beta gamma delta"), (2, "alpha beta gamma epsilon")],
        "doc_id long, text string")
    store = dedup.minhash_store(df, "doc_id", "text")
    kw = {"num_hashes": num_hashes, "bands": bands}
    calls = [
        lambda: dedup.minhash_pairs(df, "doc_id", "text", **kw),
        lambda: dedup.minhash_store(df, "doc_id", "text", **kw),
        lambda: dedup.incremental_minhash_pairs(df, store, "doc_id", "text",
                                                **kw),
    ]
    for call in calls:
        with pytest.raises(ValueError,
                           match=f"bands={bands} .*num_hashes={num_hashes}"):
            call()


def test_embedding_near_dup_full_scan_requires_opt_in(spark):
    df = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [1.0, 0.0])], "vec_id long, embedding array<double>"
    )
    with pytest.raises(ValueError, match="allow_full_scan"):
        dedup.embedding_near_dup_pairs(df, "vec_id", "embedding")
    with pytest.raises(ValueError, match="allow_full_scan"):
        dedup.embedding_near_dup_pairs(df, "vec_id", "embedding", "")
    out = dedup.embedding_near_dup_pairs(
        df, "vec_id", "embedding", allow_full_scan=True
    )
    assert out.count() == 1


def test_embedding_near_dup_grouped_matches_full_scan(spark):
    """The grouped matmul-candidate path vs the ``allow_full_scan``
    crossJoin restricted to same-group pairs: identical (id_a, id_b, cos)
    rows — the candidates come from BLAS but every emitted cosine is the
    same Catalyst expression, so even the float doubles must agree
    bit-for-bit. Covers near-threshold pairs, negative cosines and
    anti-parallel vectors. (Zero-norm vectors raise ANSI DIVIDE_BY_ZERO
    on BOTH paths — the grouped path keeps non-finite numpy cosines as
    candidates precisely so the exact expression fires for them.)"""
    import math
    import random

    rng = random.Random(11)
    rows = []
    for i in range(120):
        g = i % 3
        base = [math.sin(g * 7 + j) for j in range(8)]
        if i % 4 == 0:  # near-dup of the group axis
            vec = [x + rng.uniform(-0.05, 0.05) for x in base]
        elif i % 5 == 0:
            vec = [-x for x in base]  # anti-parallel
        else:
            vec = [rng.uniform(-1, 1) for _ in range(8)]
        rows.append((i, g, [float(x) for x in vec]))
    df = spark.createDataFrame(
        rows, "vec_id long, label int, embedding array<double>")
    group = {r[0]: r[1] for r in rows}
    for t in (0.95, 0.35, -0.5):
        ar = dedup.embedding_near_dup_pairs(
            df, "vec_id", "embedding", "label", threshold=t)
        fs = dedup.embedding_near_dup_pairs(
            df, "vec_id", "embedding", threshold=t, allow_full_scan=True)
        a = sorted(map(tuple, ar.collect()))
        j = sorted(r for r in map(tuple, fs.collect())
                   if group[r[0]] == group[r[1]])
        dedup.release(ar)
        assert a == j and a, (t, len(a), len(j))


def test_dropped_band_count_audit(boilerplate_df):
    pairs = dedup.minhash_pairs(
        boilerplate_df, "doc_id", "text", max_band_size=100,
    )
    pairs.collect()
    assert dedup.dropped_band_count(pairs) > 0
    dedup.release(pairs)
    ok = dedup.minhash_pairs(
        boilerplate_df.limit(3), "doc_id", "text", max_band_size=100,
    )
    ok.collect()
    assert dedup.dropped_band_count(ok) == 0
    dedup.release(ok)


LSH_EDGE_TEXTS = [
    "",
    " ",
    "one",
    "two tokens",
    "tab\tseparated\ttokens here",
    "new\nline\nseparated tokens",
    "\tedge tab and edge newline\n",
    "no\u00a0break\u3000space is not a separator",
    "  leading and trailing spaces  ",
    "数据 查询 引擎 分区 过滤 合并 文档",
    "Ünïcödé àccents naïve café résumé",
    "repeat repeat repeat repeat repeat repeat",
    "UPPER lower MiXeD case UPPER lower",
    "the quick brown fox jumps over the lazy dog. " * 40,
]


def test_lsh_arrow_base_matches_native_expressions(spark):
    """The Arrow bases are the only path of minhash_pairs/simhash_pairs;
    the native expressions are the oracle-checked reference. Pin them
    equal on whitespace/Unicode/short-text edge cases."""
    from ragflow_spark.functions.text import (
        lsh_bands,
        minhash_signature,
        word_shingles,
    )

    df = spark.createDataFrame(list(enumerate(LSH_EDGE_TEXTS)),
                               "doc_id long, text string")
    arrow = {
        r._id: (r._sh, r._sig, r._bands)
        for r in dedup.minhash_base_arrow(df, "doc_id", "text").collect()
    }
    sig = minhash_signature(F.col("text"), 16, 3)
    native = {
        r.doc_id: (r.sh, r.sig, r.bands)
        for r in df.select(
            "doc_id",
            word_shingles(F.col("text"), 3).alias("sh"),
            sig.alias("sig"),
            lsh_bands(sig, 4, 4).alias("bands"),
        ).collect()
    }
    assert len(native) == len(LSH_EDGE_TEXTS)
    assert arrow == native

    def simhashes(fn):
        return {r.doc_id: (r.simhash_hi, r.simhash_lo)
                for r in fn(df, "doc_id", "text").collect()}

    assert simhashes(dedup.simhash64_arrow) == simhashes(dedup.simhash64)


def test_drop_common_segments_regex_special_delim(spark):
    # '|' is regex-special: unescaped it splits between every character
    rows = [(1, "shared|unique one"), (2, "shared|unique two")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: (r.n_kept, r.n_dropped)
           for r in dedup.drop_common_segments(df, "doc_id", "text", "|").collect()}
    assert out == {1: (1, 1), 2: (1, 1)}


def test_extract_scan_prunes_unused_columns(spark, tmpdir_path):
    """The pages scan must not read the wide 'text' column (the UDF only
    consumes url/warc_ts/html/lang/parser/fmt) — column pruning reaching
    the parquet ReadSchema is the difference between scanning 100 TB and
    scanning the 60% of it the pipeline actually uses. Batch and
    readStream sources must get the same plan: one giant-lane
    REPARTITION_BY_NUM exchange feeding the UDF."""
    import os

    from ragflow_spark.operators.extract import extract_chunks
    from ragflow_spark.sources import pages as pages_src

    path = os.path.join(tmpdir_path, "pages_prune")
    pages_src.write_pages(spark, 32, path, parallelism=2)
    batch = spark.read.parquet(path)
    trees = []
    for pages in (batch, spark.readStream.schema(batch.schema).parquet(path)):
        explained = _formatted_plan(extract_chunks(pages, num_partitions=4))
        exchanges = [ln for ln in explained.split("\n")
                     if "REPARTITION_BY_NUM" in ln]
        assert len(exchanges) == 1, explained
        assert "giant-lane" in exchanges[0], explained
        # operator tree above the source leaf
        trees.append([ln.split("(")[0] for ln in
                      explained.split("\n\n")[0].split("\n")[1:-1]])
        if pages.isStreaming:
            assert "StreamingRelation" in explained, explained
            continue
        scan = [ln for ln in explained.split("\n") if "ReadSchema" in ln]
        assert scan, explained
        assert "text" not in scan[0].split("ReadSchema:")[1]
        assert "html" in scan[0]
    assert trees[0] == trees[1] and "MapInPandas" in trees[0][1], trees


def test_spark_hash_int_twin_matches_spark(spark):
    """The driver-side Murmur3 twin that builds the extraction shuffle's
    slot keys must equal Spark's ``hash()`` of an int column, including
    negatives and the int32 extremes."""
    from ragflow_spark.plans.partitioning import spark_hash_int

    vals = list(range(-300, 301)) + [
        -2**31, -2**31 + 1, 2**31 - 2, 2**31 - 1, 123_456_789, -987_654_321]
    rows = spark.createDataFrame([(v,) for v in vals], "v int").select(
        "v", F.hash("v").alias("h")).collect()
    assert len(rows) == len(vals)
    assert [(r.v, spark_hash_int(r.v)) for r in rows] == \
        [(r.v, r.h) for r in rows]


@pytest.mark.parametrize("n", [1, 2, 3, 8, 64, 200])
def test_slot_keys_place_slot_t_on_task_t(spark, n):
    """A hash repartition on ``slot_keys(n)[t]`` puts slot t on task t —
    fails if Spark's ``HashPartitioning`` hash ever changes, which would
    silently scatter every partition's chunks over many write tasks."""
    from ragflow_spark.plans.partitioning import slot_keys

    keys = slot_keys(n)
    placed = spark.createDataFrame(
        list(enumerate(keys)), "slot int, key int").repartition(n, "key")
    got = {r.slot: r.task for r in placed.select(
        "slot", F.spark_partition_id().alias("task")).collect()}
    assert got == {t: t for t in range(n)}


def test_resume_reprocesses_drifted_partitions(spark, tmpdir_path):
    """Input drift: docs appended after a partition was manifested must be
    picked up by the next attempt (count-verified resume), not silently
    skipped by the partition-granular anti-join."""
    import os

    from ragflow_spark.operators.extract import run_extraction_job
    from ragflow_spark.sources import pages as pages_src

    out = os.path.join(tmpdir_path, "chunks_drift")
    man = os.path.join(tmpdir_path, "manifest_drift")
    first = pages_src.generate_pages_df(spark, 24, parallelism=2)
    run_extraction_job(first, out, man, num_partitions=8)
    n1 = spark.read.parquet(out).select("url").distinct().count()
    assert n1 == 24
    # append 8 more docs (they hash into already-done partitions)
    grown = pages_src.generate_pages_df(spark, 32, parallelism=2)
    run_extraction_job(grown, out, man, num_partitions=8, attempt=2)
    n2 = spark.read.parquet(out).select("url").distinct().count()
    assert n2 == 32, "appended docs were silently skipped by resume"
    # third run with unchanged input is a no-op (counts now match)
    run_extraction_job(grown, out, man, num_partitions=8, attempt=3)
    from ragflow_spark.plans.manifest import read_manifest

    m = read_manifest(spark, man)
    assert m.filter("attempt = 3").count() == 0


# ----------------------------------------- verify-join plan shape (r5)

def _formatted_plan(df):
    return df._jdf.queryExecution().explainString(
        df._sc._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )


def _nodes(plan):
    """Split a formatted explain into (header, body) physical nodes."""
    out = []
    for block in re.split(r"\n(?=\(\d+\) )", plan):
        lines = block.split("\n")
        out.append((lines[0], "\n".join(lines[1:])))
    return out


def test_minhash_verify_join_plan_shape(spark):
    """The r4 1M OOM postmortem, pinned as plan shape (VERDICT r4 #8):
    (a) the hot-band guard is a BROADCAST left-anti join on _band (the
    hot set is O(dropped bands), never a shuffle side); (b) the k²
    band self-join carries ID-ONLY rows — no node that partitions or
    broadcasts on _band may carry the _sh shingle arrays or _sig
    signatures (they dominated shuffle bytes and heap in the 1M run)."""
    docs = spark.createDataFrame(
        [(i, f"some text body number {i} with shared words here")
         for i in range(50)],
        "doc_id long, text string",
    )
    out = dedup.minhash_pairs(docs, "doc_id", "text", max_band_size=16)
    plan = _formatted_plan(out)
    anti = [h for h, b in _nodes(plan)
            if "Join" in h and "LeftAnti" in b and "_band" in b]
    assert anti, plan
    assert all("Broadcast" in h for h in anti), anti
    for head, body in _nodes(plan):
        if ("Exchange" in head or "Broadcast" in head) and "_band#" in body:
            assert "_sh#" not in body and "_sig#" not in body, (head, body)
    dedup.release(out)


def test_simhash_verify_join_plan_shape(spark):
    """Same pin for the simhash chunk-band join: broadcast anti on
    _chunk, and no 64-bit signature column riding the chunk join's
    exchanges beyond the (id, sim) pair the verify needs."""
    docs = spark.createDataFrame(
        [(i, f"another text body number {i} with shared words here")
         for i in range(50)],
        "doc_id long, text string",
    )
    out = dedup.simhash_pairs(docs, "doc_id", "text", max_band_size=16)
    plan = _formatted_plan(out)
    anti = [h for h, b in _nodes(plan)
            if "Join" in h and "LeftAnti" in b and "_chunk" in b]
    assert anti, plan
    assert all("Broadcast" in h for h in anti), anti
    dedup.release(out)


def test_session_defaults_pin_aqe_skew_join(spark):
    """The dedup/extraction sizing rule (PLANS.md §memory): AQE with
    skew-join splitting is a default, not an opt-in — partition-level
    skew the static planner can't see (hot bands under the cap, giant
    docs) re-splits at runtime."""
    for key in ("spark.sql.adaptive.enabled",
                "spark.sql.adaptive.skewJoin.enabled"):
        assert spark.conf.get(key) == "true", key


def test_substring_dup_pairs_guarantee_and_guard(spark):
    """Winnowing-based exact-substring pair mining: any cross-doc
    substring >= k+window-1 chars guarantees a shared fingerprint (pair
    found); unrelated docs emit nothing; a boilerplate fingerprint
    bucket over max_bucket_size drops (hot-band policy)."""
    import random

    rng = random.Random(99)
    rand = lambda n: "".join(  # noqa: E731
        rng.choice("abcdefghijklmnopqrstuvwxyz ") for _ in range(n))
    shared = "this exact sentence is copied between the two documents"
    rows = [
        (1, rand(120) + shared + rand(120)),
        (2, rand(130) + shared + rand(110)),
        (3, rand(260)),
    ]
    # boilerplate bomb: 40 docs with identical text -> their buckets all
    # have size 40 > max_bucket_size=20 -> no pairs from them
    rows += [(100 + i, "identical boilerplate content here " * 4)
             for i in range(40)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = dedup.substring_dup_pairs(
        df, "doc_id", "text", k=8, window=4, max_bucket_size=20
    )
    pairs = {(r.id_a, r.id_b): r.shared_fps for r in out.collect()}
    assert (1, 2) in pairs and pairs[(1, 2)] >= 1
    assert all(a < 100 and b < 100 for a, b in pairs), pairs
    assert not any(3 in p for p in pairs)
    assert dedup.dropped_band_count(out) > 0
    dedup.release(out)


def test_charlm_scoring_plan_is_zero_shuffle(spark):
    """The lm.py 100 TB contract pinned as plan shape: scoring is scan ->
    project -> one Arrow pass, with NO Exchange anywhere (the model
    rides the closure); training's only exchange merges the <=K^2
    partial count rows."""
    import numpy as np

    from ragflow_spark.operators import lm

    docs = spark.createDataFrame(
        [(i, f"text body {i}") for i in range(20)],
        "doc_id long, text string",
    )
    model = np.zeros(lm.K * lm.K, dtype=np.int64)
    plan = _formatted_plan(lm.charlm_score(docs, "doc_id", "text", model))
    assert "Exchange" not in plan, plan
    train_plan = _formatted_plan(lm.charlm_bigram_counts(docs, "text"))
    assert len([h for h, _ in _nodes(train_plan) if "Exchange" in h]) == 1, (
        train_plan
    )


def test_nb_scoring_plan_is_zero_shuffle(spark):
    """Same pin for the classifier: nb_score is scan -> bucket
    projection -> Arrow gather, no Exchange."""
    import numpy as np

    from ragflow_spark.operators import clf

    docs = spark.createDataFrame(
        [(i, f"text body {i}") for i in range(20)],
        "doc_id long, text string",
    )
    plan = _formatted_plan(
        clf.nb_score(docs, "doc_id", "text", np.zeros(64, dtype=np.int64), 0)
    )
    assert "Exchange" not in plan, plan


def test_host_stats_plan_single_scan_no_join(spark):
    """host_stats' one-scan contract: exactly one parquet/LocalTableScan
    source, no Join nodes (modal lang is the struct-min aggregate), and
    exactly three exchanges (fp window, (host,lang) agg, host agg)."""
    from ragflow_spark.operators import weburl

    docs = spark.createDataFrame(
        [(i, f"text body {i}", "en", f"h{i % 3}") for i in range(30)],
        "doc_id long, text string, lang string, source string",
    )
    plan = _formatted_plan(
        weburl.host_stats(docs, "source", "doc_id", "text")
    )
    scans = [h for h, _ in _nodes(plan)
             if "Scan" in h and "ReusedExchange" not in h]
    assert len(scans) == 1, plan
    assert not [h for h, _ in _nodes(plan) if "Join" in h], plan
    exchanges = [h for h, _ in _nodes(plan)
                 if "Exchange" in h and "Reused" not in h]
    assert len(exchanges) == 3, (exchanges, plan)


def test_weighted_sample_plan_is_pushdown_filter(spark, tmpdir_path):
    """weighted_sample composes with the scan: over parquet the md5
    bucket predicate appears as a post-scan Filter with no Exchange
    (zero-shuffle contract)."""
    import os

    from pyspark.sql import functions as F

    from ragflow_spark.operators.sampling import weighted_sample

    path = os.path.join(tmpdir_path, "ws.parquet")
    spark.range(0, 100).withColumnRenamed("id", "doc_id").write.mode(
        "overwrite"
    ).parquet(path)
    df = spark.read.parquet(path).withColumn("r", F.lit(0.5))
    plan = _formatted_plan(weighted_sample(df, "doc_id", "r"))
    assert "Exchange" not in plan, plan
    assert "Filter" in plan, plan
