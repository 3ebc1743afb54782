"""r8 optimization-round guards: every operator-internal change must be
row/bit-identical to the shape it replaced.

- spread_small_scan: adaptive (spreads a 1-split scan, no-op at scale)
- dsir.doc_bucket_counts: Arrow featurizer == gram_buckets expression
- db_postprocess._convex_hull: point-reduced chain == full monotone chain
- db_postprocess.fill_poly_mask: vectorized scanline == reference loops
"""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F


# ------------------------------------------------- spread_small_scan

def test_spread_small_scan_spreads_single_split(spark, tmp_path):
    from ragflow_spark.plans.partitioning import spread_small_scan

    p = str(tmp_path / "one.parquet")
    spark.range(0, 1000).coalesce(1).write.parquet(p)
    df = spark.read.parquet(p)
    assert df.rdd.getNumPartitions() < spark.sparkContext.defaultParallelism
    out = spread_small_scan(df)
    assert out.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism
    # row-identical
    assert sorted(r["id"] for r in out.collect()) == list(range(1000))


def test_spread_small_scan_noop_when_already_parallel(spark):
    from ragflow_spark.plans.partitioning import spread_small_scan

    p = spark.sparkContext.defaultParallelism
    df = spark.range(0, 1000, 1, p + 2)
    # already at least as parallel as the session -> the SAME plan object
    assert spread_small_scan(df) is df


# ------------------------------------- dsir arrow featurizer parity

def test_dsir_doc_bucket_counts_arrow_matches_expression(spark):
    from ragflow_spark.operators import dsir

    rows = [
        (1, "batch part spark line column order small sort"),
        (2, ""),                      # empty -> [''] token, one gram
        (3, "   "),                   # spaces-only trim edge
        (4, "\ta b\nc  "),            # tabs/newlines: Java \s semantics
        (5, "数据 查询 引擎"),          # CJK
        (6, "x y z x y z x y"),       # repeated grams -> counts > 1
        (7, None),                    # null text
    ]
    d = spark.createDataFrame(rows, "doc_id long, text string")
    a = dsir.gram_buckets(d, "doc_id", "text", 64).groupBy(
        "doc_id", "bucket").count()
    b = dsir.doc_bucket_counts(d, "doc_id", "text", 64)
    ka = sorted(map(tuple, a.collect()))
    kb = sorted(map(tuple, b.collect()))
    assert ka == kb


# ------------------------------------------- convex hull reduction

def _hull_reference(pts):
    p = np.unique(np.asarray(pts, dtype=np.float64).reshape(-1, 2), axis=0)
    p = p[np.lexsort((p[:, 1], p[:, 0]))]
    if len(p) <= 2:
        return p

    def half(points):
        out = []
        for q in points:
            while len(out) >= 2:
                ax = out[-1][0] - out[-2][0]
                ay = out[-1][1] - out[-2][1]
                bx = q[0] - out[-2][0]
                by = q[1] - out[-2][1]
                if ax * by - ay * bx <= 0:
                    out.pop()
                else:
                    break
            out.append(q)
        return out

    lower = half(p)
    upper = half(p[::-1])
    return np.array(lower[:-1] + upper[:-1])


@pytest.mark.parametrize("seed", [0, 1, 2])
def test_convex_hull_reduction_identical(seed):
    from ragflow_spark.core.db_postprocess import _convex_hull

    rng = np.random.default_rng(seed)
    for trial in range(300):
        n = int(rng.integers(3, 400))
        mode = trial % 3
        if mode == 0:
            pts = rng.integers(0, 50, (n, 2))
        elif mode == 1:
            pts = np.column_stack(
                [rng.integers(0, 8, n), rng.integers(0, 8, n)])
        else:
            t = rng.random(n) * 2 * np.pi
            pts = np.column_stack([
                np.rint(25 + 20 * np.cos(t)), np.rint(25 + 12 * np.sin(t)),
            ]).astype(int)
        a = _hull_reference(pts)
        b = _convex_hull(pts)
        assert a.shape == b.shape and np.array_equal(a, b)


# ------------------------------------------ fill_poly_mask parity

def _fill_reference(shape, pts):
    h, w = shape
    mask = np.zeros((h, w), dtype=np.uint8)
    p = pts.reshape(-1, 2).astype(np.float64)
    n = len(p)
    if n < 3:
        return mask
    for yi in range(h):
        y = float(yi)
        xs = []
        for i in range(n):
            x1, y1 = p[i]
            x2, y2 = p[(i + 1) % n]
            if (y1 <= y < y2) or (y2 <= y < y1):
                xs.append(x1 + (y - y1) * (x2 - x1) / (y2 - y1))
        xs.sort()
        for j in range(0, len(xs) - 1, 2):
            a = int(np.ceil(xs[j] - 1e-9))
            b = int(np.floor(xs[j + 1] + 1e-9))
            if b >= a:
                mask[yi, max(0, a):min(w, b + 1)] = 1
    q = np.rint(p).astype(np.int64)
    for i in range(n):
        x1, y1 = q[i]
        x2, y2 = q[(i + 1) % n]
        steps = int(max(abs(x2 - x1), abs(y2 - y1))) + 1
        for t in range(steps + 1):
            f = t / max(1, steps)
            x = int(round(x1 + f * (x2 - x1)))
            y = int(round(y1 + f * (y2 - y1)))
            if 0 <= y < h and 0 <= x < w:
                mask[y, x] = 1
    return mask


def test_fill_poly_mask_vectorized_identical():
    from ragflow_spark.core.db_postprocess import fill_poly_mask

    rng = np.random.default_rng(7)
    for _ in range(200):
        h = int(rng.integers(1, 60))
        w = int(rng.integers(1, 80))
        n = int(rng.integers(3, 7))
        pts = np.column_stack([
            rng.integers(-5, w + 5, n), rng.integers(-5, h + 5, n),
        ]).astype(np.int32)
        a = _fill_reference((h, w), pts)
        b = fill_poly_mask((h, w), pts)
        assert np.array_equal(a, b)


# ----------------------------- IVF/PQ head-collect fusion parity

def test_emb_head_fusion_matches_separate_collects(spark, tmp_path):
    """_emb_head/_head_codebooks (the emb_pq_topk construction fusion)
    must reproduce exactly what the two separate driver jobs produced:
    qv = the vec_id=0 row, books = pq_codebooks_from_rows."""
    import random

    import __spark_entry__ as entry
    from ragflow_spark.operators import similarity

    rng = random.Random(7)
    rows = [(i, [rng.uniform(-1, 1) for _ in range(16)]) for i in range(40)]
    rng.shuffle(rows)  # head must come from orderBy, not input order
    p = str(tmp_path / "emb.parquet")
    spark.createDataFrame(rows, "vec_id long, embedding array<float>") \
        .repartition(3).write.parquet(p)
    e = spark.read.parquet(p)

    head, qv = entry._emb_head(e, 8)
    assert [r["vec_id"] for r in head] == list(range(8))
    assert qv == [float(x) for x in e.filter("vec_id = 0").first()["embedding"]]

    old_b = similarity.pq_codebooks_from_rows(e, "embedding", "vec_id", 4, 8)
    assert entry._head_codebooks(head, 4, 8) == old_b


def test_emb_head_qv_fallback_without_id_zero_in_head(spark):
    """If some future corpus's head does not contain vec_id 0, the fused
    path must fall back to the old filter scan for the query vector."""
    import __spark_entry__ as entry

    e = spark.createDataFrame(
        [(i, [float(i), 1.0]) for i in range(-5, 0)]
        + [(0, [9.0, 9.0]), (7, [7.0, 7.0])],
        "vec_id long, embedding array<float>",
    )
    # n=3 head is [-5, -4, -3]: no vec_id 0 -> the fallback scan must
    # still produce the id-0 query vector
    head, qv = entry._emb_head(e, 3)
    assert all(r["vec_id"] != 0 for r in head)
    assert qv == [9.0, 9.0]
    # n large enough to cover id 0 -> direct hit, same qv
    head2, qv2 = entry._emb_head(e, 7)
    assert qv2 == [9.0, 9.0]


def test_emb_head_errors_name_the_missing_input(spark):
    """No vec_id 0 anywhere, or fewer head rows than PQ centroids: a
    ValueError that says which, not a TypeError or a stripped assert."""
    import __spark_entry__ as entry

    e = spark.createDataFrame([(i, [float(i), 1.0]) for i in range(1, 6)],
                              "vec_id long, embedding array<float>")
    with pytest.raises(ValueError, match="vec_id = 0"):
        entry._emb_head(e, 3)
    head = e.orderBy("vec_id").limit(5).collect()
    with pytest.raises(ValueError, match="k=8 head rows"):
        entry._head_codebooks(head, 2, 8)
