"""Generate REFERENCE-ANCHORED snapshot goldens for the four driver
queries that previously ran rows-only (no SQL twin): extract_chunks_docs,
extract_pipeline_pages, extract_manifest, doc_tokenize.

Each golden is a single deterministic parquet under tests/goldens/q/ that
oracle_sql() serves back via DuckDB read_parquet — turning the driver's
weaker rows-only check into a full row-count + schema + value-hash gate.

A snapshot of our own output alone would only pin self-consistency, so
this tool refuses to write a golden unless the output is independently
cross-checked:

- extract_pipeline_pages: per-url chunk_text lists must equal the
  reference-EXECUTED golden (tests/goldens/ref_chunks_mixed256.json.gz,
  produced by the reference's own FACTORY[parser].chunk via
  tools/gen_ref_goldens.py) for every url the reference can execute.
- extract_chunks_docs: every sf0.01 document is re-run through the
  reference's real rag.app.naive.chunk txt path (refstubs) and chunk
  texts must match 1:1.
- extract_manifest: doc_count / chunk_count / bytes are recomputed by
  DuckDB from the materialized chunk table and must agree (content_hash
  is Spark xxhash64 — no DuckDB twin — carried from the snapshot; its
  integrity is separately gated by extract_invariants (manifest tier) and the
  resume smokes).
- doc_tokenize: the DP segmentation has no SQL twin; the algorithm is
  pinned by tests/test_tokenizer.py (36 cases). The golden freezes the
  full 200-row output so any segmentation drift fails the driver gate.

Run: python tools/gen_query_goldens.py  (regenerates all four)
"""

from __future__ import annotations

import gzip
import json
import os
import random
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
sys.path.insert(0, os.path.join(REPO, "tests"))

OUT_DIR = os.path.join(REPO, "tests", "goldens", "q")
SF_DIR = "/root/testdata/sf0.01"  # the driver's compare scale


def _write(df_pandas, name: str) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(OUT_DIR, exist_ok=True)
    path = os.path.join(OUT_DIR, f"{name}.parquet")
    table = pa.Table.from_pandas(df_pandas, preserve_index=False)
    pq.write_table(table, path, compression="zstd")
    print(f"wrote {path}: {len(df_pandas)} rows, "
          f"{os.path.getsize(path)} bytes")


def _strip_tags(s: str) -> str:
    return re.sub(r"@@[\t0-9.-]+?##", "", s)


def check_pipeline_vs_ref_golden(pdf) -> None:
    golden_path = os.path.join(REPO, "tests", "goldens",
                               "ref_chunks_mixed256.json.gz")
    ref = json.load(gzip.open(golden_path, "rt"))["docs"]
    ours = {}
    for url, grp in pdf.sort_values(["url", "chunk_idx"]).groupby("url"):
        ours[url] = list(grp["chunk_text"])
    n_checked = 0
    for url, entry in ref.items():
        if entry.get("ref_error"):
            continue
        got = [c for c in ours.get(url, []) if not c.startswith("[extract")]
        if got != entry["chunks"]:
            raise SystemExit(
                f"REF MISMATCH extract_pipeline_pages {url}: "
                f"ours={len(got)} chunks vs ref={len(entry['chunks'])}")
        n_checked += 1
    print(f"extract_pipeline_pages: {n_checked} urls byte-identical to the "
          f"reference-executed golden")


def check_docs_vs_reference(pdf, docs_pdf) -> None:
    """Re-run the reference's naive.chunk txt path per sf0.01 document."""
    import refstubs

    refstubs.install_reference_stubs()
    import rag.app.naive as naive

    ours = {}
    for url, grp in pdf.sort_values(["url", "chunk_idx"]).groupby("url"):
        ours[url] = list(grp["chunk_text"])
    n_checked = 0
    for row in docs_pdf.itertuples():
        url = f"doc://{row.doc_id}"
        lang = "Chinese" if row.lang == "zh" else "English"
        random.seed(int(row.doc_id))  # reference is_english random.choices
        docs = naive.chunk(f"doc{row.doc_id}.txt",
                           binary=row.text.encode("utf-8"), lang=lang,
                           callback=lambda *a, **k: None)
        ref_chunks = [_strip_tags(d["content_with_weight"]) for d in docs]
        if ours.get(url, []) != ref_chunks:
            raise SystemExit(
                f"REF MISMATCH extract_chunks_docs {url}: "
                f"ours={ours.get(url)!r} vs ref={ref_chunks!r}")
        n_checked += 1
    print(f"extract_chunks_docs: {n_checked} docs byte-identical to "
          f"reference naive.chunk execution")


def check_manifest_counts(manifest_pdf, chunks_parquet: str) -> None:
    import duckdb

    con = duckdb.connect()
    rec = con.execute(f"""
        SELECT partition_id,
               count(DISTINCT url)    AS doc_count,
               count(*)               AS chunk_count,
               sum(length(chunk_text)) AS bytes
        FROM read_parquet('{chunks_parquet}/*.parquet')
        GROUP BY partition_id ORDER BY partition_id
    """).df()
    got = (manifest_pdf[["partition_id", "doc_count", "chunk_count", "bytes"]]
           .sort_values("partition_id").reset_index(drop=True))
    rec = rec.sort_values("partition_id").reset_index(drop=True)
    for col in ("partition_id", "doc_count", "chunk_count", "bytes"):
        if list(got[col].astype("int64")) != list(rec[col].astype("int64")):
            raise SystemExit(f"MANIFEST MISMATCH on {col}: "
                             f"{list(got[col])} vs {list(rec[col])}")
    print(f"extract_manifest: counts/bytes for {len(got)} partitions agree "
          f"with DuckDB recount")


def main() -> None:
    import __spark_entry__ as entrymod
    from ragflow_spark.session import get_spark

    qs = entrymod.queries()
    spark = get_spark(master="local[8]", shuffle_partitions=16)
    spark.sparkContext.setLogLevel("ERROR")

    # NOTE: length(chunk_text) in DuckDB counts characters; Spark length()
    # also counts characters — both golden and recount use the same frame.
    pipeline = qs["extract_pipeline_pages"](spark, SF_DIR).toPandas()
    check_pipeline_vs_ref_golden(pipeline)
    _write(pipeline, "extract_pipeline_pages")

    docs_out = qs["extract_chunks_docs"](spark, SF_DIR).toPandas()
    docs_src = (spark.read.parquet(os.path.join(SF_DIR, "documents.parquet"))
                .select("doc_id", "text", "lang").toPandas())
    check_docs_vs_reference(docs_out, docs_src)
    _write(docs_out, "extract_chunks_docs")

    manifest = qs["extract_manifest"](spark, SF_DIR).toPandas()
    # re-materialize the same chunk table to recount independently
    from ragflow_spark.operators.extract import extract_chunks
    from ragflow_spark.sources.pages import generate_pages_df

    chunks_path = os.path.join(REPO, ".cache", "golden_manifest_chunks")
    extract_chunks(generate_pages_df(spark, 256), num_partitions=16) \
        .write.mode("overwrite").parquet(chunks_path)
    check_manifest_counts(manifest, chunks_path)
    _write(manifest, "extract_manifest")

    tok = qs["doc_tokenize"](spark, SF_DIR).toPandas()
    if len(tok) != 200 or tok["content_ltks"].isna().any():
        raise SystemExit(f"doc_tokenize shape unexpected: {tok.shape}")
    _write(tok, "doc_tokenize")

    det = qs["media_det_boxes"](spark, SF_DIR).toPandas()
    check_det_vs_ground_truth(spark)
    _write(det, "media_det_boxes")

    rec = qs["media_rec_lines"](spark, SF_DIR).toPandas()
    check_rec_vs_ground_truth(rec)
    _write(rec, "media_rec_lines")

    ocr = qs["media_ocr_lines"](spark, SF_DIR).toPandas()
    check_ocr_vs_ground_truth(ocr)
    _write(ocr, "media_ocr_lines")

    spark.stop()


def check_ocr_vs_ground_truth(ocr) -> None:
    """Refuse the media_ocr_lines golden unless every page's decoded
    lines equal the band-encoded ground truth in reading order."""
    from ragflow_spark.operators.detect import synth_ocr_pages

    truth = {m: t for m, _p, _w, _h, t in synth_ocr_pages(12)}
    got: dict[str, list] = {}
    for r in ocr.itertuples():
        got.setdefault(r.media_id, []).append((r.line_no, r.text))
    if set(got) != set(truth):
        raise SystemExit("media_ocr_lines page set mismatch")
    for mid, expect in truth.items():
        lines = [t for _ln, t in sorted(got[mid])]
        if lines != expect:
            raise SystemExit(
                f"media_ocr_lines {mid}: decoded {lines!r} != ground "
                f"truth {expect!r}")
    print(f"media_ocr_lines: {len(truth)} pages decode to the encoded "
          "ground truth in reading order")


def check_rec_vs_ground_truth(rec) -> None:
    """Refuse the media_rec_lines golden unless every decoded string
    equals the band-encoded ground truth exactly (conf 1.0)."""
    from ragflow_spark.operators.detect import synth_line_rows

    truth = {m: t for m, _p, _w, _h, t in synth_line_rows(24)}
    got = {r.line_id: (r.text, r.conf) for r in rec.itertuples()}
    if set(got) != set(truth):
        raise SystemExit("media_rec_lines id set mismatch")
    for lid, expect in truth.items():
        text, conf = got[lid]
        if text != expect or conf != 1.0:
            raise SystemExit(
                f"media_rec_lines {lid}: decoded {text!r} (conf {conf}) "
                f"!= ground truth {expect!r}")
    print(f"media_rec_lines: {len(truth)} lines decode to the encoded "
          "ground truth exactly")


def check_det_vs_ground_truth(spark) -> None:
    """Refuse the media_det_boxes golden unless the detector plumbing
    recovers the PAINTED ground truth: per image, the box count equals
    the painted rect count and every painted rect center lies inside a
    returned box (boxes carry full coords here; the golden stores the
    rounded digest)."""
    from ragflow_spark.operators.detect import (
        detect_text_regions,
        synth_image_rows,
    )

    synth = synth_image_rows(24)
    rows = [(m, p, w, h) for m, p, w, h, _r in synth]
    truth = {m: r for m, _p, _w, _h, r in synth}
    df = spark.createDataFrame(
        rows, "media_id string, pixels binary, width int, height int"
    ).repartition(4)
    out = detect_text_regions(df, backend="fake").collect()
    if len(out) != len(rows):
        raise SystemExit(f"media_det_boxes row count {len(out)} != {len(rows)}")
    for r in out:
        rects = truth[r["media_id"]]
        if r["n_boxes"] != len(rects):
            raise SystemExit(
                f"media_det_boxes {r['media_id']}: {r['n_boxes']} boxes "
                f"vs {len(rects)} painted rects")
        for x, y, rw, rh in rects:
            cx, cy = x + rw / 2, y + rh / 2
            if not any(
                min(b[0::2]) <= cx <= max(b[0::2])
                and min(b[1::2]) <= cy <= max(b[1::2])
                for b in r["boxes"]
            ):
                raise SystemExit(
                    f"media_det_boxes {r['media_id']}: painted rect "
                    f"{(x, y, rw, rh)} center not inside any det box")
    print(f"media_det_boxes: {len(out)} images match the painted ground "
          "truth (counts + center containment)")


if __name__ == "__main__":
    main()
