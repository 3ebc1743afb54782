"""OCR-plumbing scale smoke: N synthetic pages through the composed
det → crop → rec loop (operators/detect.ocr_images, fake heads) at
local[CPUS], pages GENERATED IN-EXECUTOR (mapInPandas) so the driver
never holds pixels. Reports pages/s + line accuracy against the encoded
ground truth and rewrites the '## OCR plumbing smoke' BASELINE.md section.

Usage: python tools/ocr_smoke.py [n_pages] [cores]
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main() -> None:
    n_pages = int(sys.argv[1]) if len(sys.argv) > 1 else 8192
    cores = int(sys.argv[2]) if len(sys.argv) > 2 else 32
    parts = 4 * cores

    from pyspark.sql import functions as F

    from ragflow_spark.operators.detect import ocr_images
    from ragflow_spark.session import get_spark

    spark = get_spark(app_name="ocr_smoke", master=f"local[{cores}]",
                      shuffle_partitions=parts)
    spark.sparkContext.setLogLevel("ERROR")

    def gen(batches):
        import pandas as pd

        from ragflow_spark.operators.detect import synth_ocr_pages

        for pdf in batches:
            rows = {"media_id": [], "pixels": [], "width": [],
                    "height": [], "truth": []}
            for i in pdf["id"]:
                # one deterministic page per id (same generator as the
                # correctness fixtures, seeded by the row id)
                m, p, w, h, texts = synth_ocr_pages(1, seed=int(i))[0]
                rows["media_id"].append(f"pg{int(i):07d}")
                rows["pixels"].append(p)
                rows["width"].append(w)
                rows["height"].append(h)
                rows["truth"].append("\n".join(texts))
            yield pd.DataFrame(rows)

    pages = spark.range(n_pages).repartition(parts).mapInPandas(
        gen, schema=("media_id string, pixels binary, width int, "
                     "height int, truth string")).persist()
    pages.count()  # materialize BEFORE timing: the OCR branch and the
    # truth join would otherwise each regenerate the corpus, folding 2×
    # synthesis cost into the reported pages/s

    def run():
        out = ocr_images(pages, backend="fake")
        lines = out.groupBy("media_id").agg(
            F.concat_ws(
                "\n", F.transform(F.array_sort(F.collect_list(
                    F.struct("line_no", "text"))), lambda s: s["text"]),
            ).alias("decoded"))
        joined = pages.select("media_id", "truth").join(
            lines, "media_id", "left")
        agg = joined.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum((F.col("decoded") == F.col("truth")).cast("long"))
            .alias("exact"),
        ).first()
        return agg

    agg = run()  # warm (JIT + python workers) and correctness check
    t0 = time.perf_counter()
    agg = run()
    wall = round(time.perf_counter() - t0, 1)
    pps = round(n_pages / wall, 1)
    result = {
        "n_pages": n_pages, "cores": cores, "partitions": parts,
        "pages_per_sec": pps, "steady_sec": wall,
        "exact_pages": int(agg["exact"]), "total_pages": int(agg["n"]),
        "ts": time.strftime("%Y-%m-%d %H:%M:%S"),
    }
    print(json.dumps(result))
    if agg["exact"] != agg["n"]:
        print(f"WARNING: {agg['n'] - agg['exact']} pages decoded "
              "differently from ground truth")

    md = f"""## OCR plumbing smoke ({n_pages:,} pages, local[{cores}])

The composed det → sorted_boxes → perspective-crop → rec loop
(`operators/detect.ocr_images`, fake heads with the onnx run() contract)
over {n_pages:,} in-executor-synthesized pages, measured {result['ts']}:
**{pps} pages/s steady-state ({wall} s), {result['exact_pages']:,}/{result['total_pages']:,}
pages decode their encoded ground truth exactly**. Pixels never touch the
driver; det and rec each run one session call per 16-image mini-batch
with per-worker session reuse. A real onnxruntime backend swaps in via
``backend="onnx"`` with no plan change — the forward pass cost scales the
same Arrow-batched shape.
"""
    out_md = os.path.join(REPO, "BENCH", "BASELINE.md")
    if os.path.exists(out_md):
        prev = open(out_md).read()
        pat = re.compile(r"## OCR plumbing smoke.*?(?=\n## |\Z)", re.S)
        if pat.search(prev):
            prev = pat.sub(md.rstrip() + "\n", prev, count=1)
        else:
            prev = prev.rstrip() + "\n\n" + md
        with open(out_md, "w") as f:
            f.write(prev)
        print("updated BENCH/BASELINE.md")
    spark.stop()


if __name__ == "__main__":
    main()
