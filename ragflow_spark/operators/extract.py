"""The extraction operator: pages → chunks, as one Spark stage.

Maps the reference's whole task_executor orchestration
(rag/svr/task_executor.py:449-558 — fetch blob → FACTORY[parser].chunk →
per-chunk md5 id) onto a single ``mapInPandas`` over the partition-aligned,
size-bucketed repartition from ``ragflow_spark.plans.partitioning``:

    pages (url, warc_ts, html, text, lang, parser, fmt)
      │ F1 size-cap filter (native Catalyst filter → parquet pushdown)
      │ with_partition_id  (stable resume key)
      │ partition_for_extract (one shuffle: task t owns partition_id t,
      │                        giants on their own scattered lane)
      ▼ mapInPandas(extract)   — Arrow batches, per-doc parity core
    chunks (url, warc_ts, chunk_idx, chunk_text, tag_text, spans, title,
            parser, fmt, content_hash, partition_id, error)

The plan is built in one place, ``_stage`` (prune, cap, partition_id) then
``_parse`` (shuffle, UDF), for every way the stage is driven:
``extract_chunks`` over a batch DataFrame, the same call over a
``readStream`` DataFrame (the streaming path — exactly-once from the sink
checkpoint plus the deterministic ids), and ``run_extraction_job``, which
adds only its noindex and resume filters between the two steps and hands
the shuffle the partition ids it kept.

In ``run_extraction_job`` the parse tasks write the chunk table
themselves — the Iceberg/Delta writer model: tasks write data files and
return their metadata, the driver commits. Each task writes the rows of
every ``partition_id`` it holds with pyarrow into a hidden staging dir
(``_write_chunk_files``) and returns one row per file: path, doc/chunk/
byte counts and content-hash XOR. The driver collects those rows, swaps
the reported files into their ``partition_id=k/`` directories
(``_commit``) and writes the manifest from the same rows. So the chunk
rows never cross into the JVM: no Arrow → row conversion, sort, Spark
parquet encode, commit protocol or manifest job. Because the task that
parses a document owns its ``partition_id``, a run adds one file per
partition (plus at most one per giant), not one per (task, partition).

Per-document failures NEVER kill the job: a failing doc emits one row with
``error`` set and chunk_idx = -1 (the 100 TB contract — one malformed PDF
out of 10^12 docs must not fail a stage); a page without a url is one
such row. ``content_hash`` =
``md5(chunk_text || url)`` mirrors the reference's deterministic chunk id
(task_executor.py:260-263), making re-runs idempotent.

``tag_text`` (text incl. @@..## span tags) is stored as NULL whenever it
equals ``chunk_text`` — read it back as coalesce(tag_text, chunk_text).
"""

from __future__ import annotations

import hashlib
from typing import Iterator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ragflow_spark.plans.partitioning import (
    partition_for_extract,
    with_partition_id,
)

# F1: reject docs over the reference's 128 MB cap (rag/settings.py:33)
DOC_MAXIMUM_SIZE = 128 * 1024 * 1024

# meta-robots gate: bytes of the page head scanned for the directive —
# real documents declare it inside <head>, far under this
NOINDEX_HEAD_BYTES = 8192

# shared verbatim with the DuckDB twin in tests/test_noindex.py — only
# RE2-compatible constructs (no lookaround, inline (?i) only)
NOINDEX_META_TAG_RE = r"(?i)(<meta[^>]*>)"
NOINDEX_NAME_RE = r"(?i)\bname\s*=\s*['\"]?robots\b"
NOINDEX_CONTENT_RE = r"(?i)\bcontent\s*=\s*['\"]?[^'\">]*\b(noindex|none)\b"


def page_noindex(html, head_bytes: int = NOINDEX_HEAD_BYTES):
    """True when the page head carries a ``<meta name=robots>`` directive
    with a ``noindex`` (or the ``none`` shorthand) token — the standard
    crawl-pipeline exclusion every CC-derived corpus honors (the page
    author opted out of indexing; Common Crawl itself ships such pages,
    the curation step drops them).

    Native and RE2-portable: extract every ``<meta ...>`` tag from the
    decoded head slice, then test each for BOTH the robots name and the
    noindex token — two independent per-tag regexes instead of one
    lookahead (RE2, hence the DuckDB twin, has no lookahead), so
    attribute order never matters. The head slice is decoded as
    ISO-8859-1: every byte is a valid char there (UTF-8 decode throws on
    malformed input under ANSI), and the directive tokens being matched
    are pure ASCII, where the two encodings agree byte-for-byte — so
    arbitrary binary (truncated multibyte, legacy codepages) can neither
    error nor corrupt a match. Reads the STORED bytes: a row whose html
    is gzip-member-compressed (transparently decoded later in the parse
    UDF) passes the gate unexamined — there is no native gunzip
    expression, and the conservative failure mode there is keep-then-
    parse, never a wrong drop. Known overreach: a literal
    ``<meta name=robots content=noindex>`` inside a code sample in the
    first 8 KB also matches — the conservative direction (over-drop,
    never over-keep)."""
    head = F.decode(F.substring(html, 1, head_bytes), "ISO-8859-1")
    tags = F.regexp_extract_all(head, F.lit(NOINDEX_META_TAG_RE), 1)
    return F.exists(
        tags,
        lambda t: t.rlike(NOINDEX_NAME_RE) & t.rlike(NOINDEX_CONTENT_RE),
    )

CHUNKS_SCHEMA = (
    "url string, warc_ts timestamp, chunk_idx int, chunk_text string, "
    "tag_text string, "
    "spans array<struct<page:int,left:double,right:double,top:double,bottom:double>>, "
    "title string, parser string, fmt string, content_hash string, "
    "partition_id int, error string"
)

# the parse tasks' output in run_extraction_job: one row per chunk file
# written, with the file's manifest summary (plans.manifest.add_chunk_stats)
FILES_SCHEMA = (
    "partition_id int, path string, doc_count long, chunk_count long, "
    "bytes long, xor long"
)
# hidden from Spark's file listing (a leading "_"), so readers of the
# chunk table never see uncommitted files
STAGING_PREFIX = "_staging-"


def _extract_batches(batches, template_cfg: dict | None = None) -> Iterator:
    """Executor-side worker. Imports the parity core lazily so the module
    ships cleanly via --py-files; template dispatch per row, Arrow batch in,
    Arrow batch out. ``template_cfg`` is the job-level parser config
    (the reference's per-task ``parser_config``, task_executor.py) — e.g.
    ``{"ocr_backend": "fake"}`` to enable the scanned-PDF OCR fallback.
    A page without a url becomes one error row: its chunks would have no
    id (``content_hash`` hashes the url)."""
    import gzip
    import zlib

    import pandas as pd

    from ragflow_spark.core.templates import run_template

    for pdf in batches:
        out: dict[str, list] = {k: [] for k in (
            "url", "warc_ts", "chunk_idx", "chunk_text", "tag_text", "spans",
            "title", "parser", "fmt", "content_hash", "partition_id", "error",
        )}

        def emit(row, idx, text, tag_text, spans, title, err):
            # the only step that can raise runs before the first append, so
            # a failing row never leaves the columns at different lengths
            content_hash = (
                hashlib.md5((text + row.url).encode("utf-8", "ignore"))
                .hexdigest() if err is None else ""
            )
            out["url"].append(row.url)
            out["warc_ts"].append(row.warc_ts)
            out["chunk_idx"].append(idx)
            out["chunk_text"].append(text)
            out["tag_text"].append(tag_text)
            out["spans"].append(spans)
            out["title"].append(title)
            out["parser"].append(row.parser)
            out["fmt"].append(row.fmt)
            out["content_hash"].append(content_hash)
            out["partition_id"].append(row.partition_id)
            out["error"].append(err)

        for row in pdf.itertuples():
            if row.url is None:
                emit(row, -1, "", "", [], "", "NullUrl: page has no url")
                continue
            try:
                blob = bytes(row.html) if row.html is not None else b""
                if blob[:2] == b"\x1f\x8b":
                    # transparent per-row gzip: CC-style landing zones
                    # often store the WARC payload member-compressed; a
                    # corrupt member falls through to run_template, whose
                    # format-level error path reports it per doc. (The
                    # 128 MB size cap and the noindex gate read the
                    # STORED bytes — both documented as pre-decode.)
                    try:
                        blob = gzip.decompress(blob)
                    except (OSError, EOFError, zlib.error):
                        pass
                chunks = run_template(
                    row.parser, blob, row.fmt, row.lang,
                    cfg=dict(template_cfg) if template_cfg else None,
                )
                if not chunks:
                    # visibility row: every staged doc must appear in the
                    # chunk table or the manifest's doc_count undercounts
                    # and count-verified resume reprocesses the partition
                    # forever (manifest.resume_partitions)
                    emit(row, -1, "", "", [], "",
                         "EmptyDocument: 0 chunks")
                    continue
                for ck in chunks:
                    # tag_text is NULL when identical to chunk_text (the
                    # tag-free formats) — halves output bytes; consumers
                    # read coalesce(tag_text, chunk_text)
                    tag = ck.tag_text if ck.tag_text != ck.chunk_text else None
                    emit(
                        row, ck.chunk_idx, ck.chunk_text, tag,
                        [s._asdict() for s in ck.spans], ck.title, None,
                    )
            except Exception as exc:  # per-doc failure isolation
                emit(row, -1, "", "", [], "", f"{type(exc).__name__}: {exc}")
        yield pd.DataFrame(out)


def _chunk_file_schema():
    """The Arrow schema of a chunk file: ``CHUNKS_SCHEMA`` through Spark's
    own Spark → Arrow type mapping, without ``partition_id`` (the
    directory name carries it, as in a Spark ``partitionBy`` write).
    Built on the driver: parsing the DDL needs the JVM."""
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import DataType

    schema = to_arrow_schema(DataType.fromDDL(CHUNKS_SCHEMA))
    return schema.remove(schema.get_field_index("partition_id"))


def _write_chunk_files(frames, fs, staging: str, schema,
                       timezone: str) -> Iterator:
    """Task-side sink of ``run_extraction_job``. Writes the chunk frames
    that ``_extract_batches`` yields into one parquet file per
    ``partition_id`` they hold, at
    ``<staging>/partition_id=k/part-<task>-<attempt>-<uuid>.parquet``, and
    after the last frame yields one ``FILES_SCHEMA`` row per file: its
    partition, path and manifest summary (``add_chunk_stats``). Nothing
    is visible in the table until the driver commits the reported files.

    ``warc_ts`` arrives as session-local wall-clock time (Spark's Arrow →
    pandas conversion); it is localized back to UTC with Spark's own rule
    (``ambiguous=False``), so the file holds what a Spark write would."""
    import uuid

    import numpy as np
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark import TaskContext

    from ragflow_spark.plans.manifest import add_chunk_stats

    ctx = TaskContext.get()
    stem = (f"part-{ctx.partitionId():05d}-{ctx.attemptNumber()}-"
            f"{uuid.uuid4().hex}.parquet")
    writers: dict = {}
    state: dict = {}
    for df in frames:
        if df.empty:
            continue
        add_chunk_stats(state, df)
        cols = []
        for f in schema:
            s = df[f.name]
            if pd.api.types.is_datetime64_dtype(s.dtype):
                s = s.dt.tz_localize(timezone, ambiguous=False) \
                    .dt.tz_convert("UTC")
            cols.append(pa.Array.from_pandas(s, type=f.type, safe=False))
        table = pa.Table.from_arrays(cols, schema=schema)
        pids = df["partition_id"].to_numpy()
        for pid in np.unique(pids):
            pid = int(pid)
            if pid not in writers:
                part = f"{staging}/partition_id={pid}"
                fs.create_dir(part)
                path = f"{part}/{stem}"
                writers[pid] = (path, pq.ParquetWriter(path, schema,
                                                       filesystem=fs))
            mask = pids == pid
            writers[pid][1].write_table(
                table if mask.all() else table.filter(mask))
    if not writers:
        return
    for _path, w in writers.values():
        w.close()
    pids = sorted(writers)
    yield pd.DataFrame({
        "partition_id": pids,
        "path": [writers[p][0] for p in pids],
        "doc_count": [len(state[p][0]) for p in pids],
        "chunk_count": [state[p][1] for p in pids],
        "bytes": [state[p][2] for p in pids],
        "xor": [state[p][3] for p in pids],
    })


def _commit(fs, root: str, files) -> None:
    """Driver commit of one run's chunk files (``FILES_SCHEMA`` rows): the
    files of each reported ``partition_id=k/`` are replaced by the
    reported ones, partitions with no reported file stay untouched (a
    dynamic partition overwrite), then every ``_staging-*`` dir — this
    run's, with the files of failed or duplicate task attempts, and any
    a killed run left — is deleted and ``_SUCCESS`` written."""
    from pyarrow.fs import FileSelector, FileType

    by_pid: dict[int, list[str]] = {}
    for f in files:
        by_pid.setdefault(f.partition_id, []).append(f.path)
    for pid, paths in sorted(by_pid.items()):
        part = f"{root}/partition_id={pid}"
        fs.delete_dir_contents(part, missing_dir_ok=True)
        fs.create_dir(part)
        for path in paths:
            fs.move(path, f"{part}/{path.rsplit('/', 1)[1]}")
    fs.create_dir(root)
    for info in fs.get_file_info(FileSelector(root)):
        if (info.type == FileType.Directory
                and info.base_name.startswith(STAGING_PREFIX)):
            try:
                fs.delete_dir(info.path)
            except OSError:
                # a killed speculative attempt may still be writing here;
                # the dir stays hidden and the next commit deletes it
                pass
    fs.open_output_stream(f"{root}/_SUCCESS").close()


def _stage(pages: DataFrame, num_partitions: int) -> DataFrame:
    """Column prune (only what the UDF consumes crosses the scan), the F1
    size cap, and the stable ``partition_id`` resume key."""
    pruned = pages.select(
        "url", "warc_ts", "html", "lang", "parser", "fmt"
    ).filter(F.length(F.col("html")) <= DOC_MAXIMUM_SIZE)
    return with_partition_id(pruned, num_partitions)


def _parse(staged: DataFrame, num_partitions: int,
           template_cfg: dict | None,
           pids: list[int] | None = None, sink=None) -> DataFrame:
    """Partition-aligned shuffle, then the parity-core UDF. ``pids`` are
    the partition ids left in ``staged`` (default: all): each of the
    ``num_partitions`` tasks parses the docs of one of them — or of one
    sub-bucket of one, when fewer ids than tasks remain — plus its share
    of the giant lane, so its output lands in one ``partition_id``
    directory of the sink. Without ``sink`` the UDF returns the chunk
    rows (``CHUNKS_SCHEMA``); with ``sink = (fs, staging, schema,
    timezone)`` it writes them itself (``_write_chunk_files``) and returns
    one ``FILES_SCHEMA`` row per file.

    The shuffle always runs: scan splits bound BYTES, not parse COST —
    parse cost per byte varies 10-100× across formats, so byte-bounded
    splits inherit the corpus layout's cost skew. Measured at 1M docs /
    local[32]: shuffled 8 702 docs/s with task p99/median 1.69, vs 6 899
    docs/s at 2.13 without (+26%); the placement stays url-hash balanced
    (``partition_id`` is itself a url hash) with giants on their own
    lane."""
    placed = partition_for_extract(staged, num_partitions, pids)
    if sink is None:
        return placed.mapInPandas(
            lambda batches: _extract_batches(batches, template_cfg),
            schema=CHUNKS_SCHEMA,
        )
    return placed.mapInPandas(
        lambda batches: _write_chunk_files(
            _extract_batches(batches, template_cfg), *sink),
        schema=FILES_SCHEMA,
    )


def extract_chunks(
    pages: DataFrame,
    num_partitions: int | None = None,
    skip_errors_column: bool = False,
    template_cfg: dict | None = None,
) -> DataFrame:
    """The end-to-end extraction plan. ``num_partitions`` defaults to the
    session's shuffle partitions. ``pages`` may be a batch or a
    ``readStream`` DataFrame: the plan is the same either way."""
    if num_partitions is None:
        num_partitions = int(
            pages.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    chunks = _parse(_stage(pages, num_partitions), num_partitions,
                    template_cfg)
    if skip_errors_column:
        chunks = chunks.filter(F.col("error").isNull()).drop("error")
    return chunks


def run_extraction_job(
    pages: DataFrame,
    out_path: str,
    manifest_path: str,
    num_partitions: int | None = None,
    attempt: int = 1,
    template_cfg: dict | None = None,
    respect_noindex: bool = False,
) -> None:
    """Full resumable job: resume decision → parse tasks write their chunk
    files → driver commit (per-partition overwrite) → manifest.

    Without a manifest (``plans.manifest.read_manifest`` returns None) the
    job parses every partition with no pre-scan of the input. Otherwise
    the resume decision is a driver-side list of partition ids
    (``plans.manifest.resume_partitions``, at most ``num_partitions``):
    the pages are filtered with ``isin`` on it, an empty list returns
    before any write, and the shuffle places rows by it (one writing task
    per listed partition, or s = n // len(list) per partition).

    Each parse task writes the rows of every ``partition_id`` it holds
    into its own parquet file under ``<out>/_staging-<job uuid>/`` and
    returns one row per file: the path plus the file's doc/chunk/byte
    counts and content-hash XOR. The action is a ``collect`` of those
    rows, which holds exactly one successful attempt per task, so the
    files of a failed, retried or speculative attempt are never
    committed or counted. The driver then replaces the files of each
    reported ``partition_id=k/`` directory with the reported ones
    (``_commit``; other partitions stay untouched), deletes the staging
    dirs, and ``plans.manifest.write_manifest`` writes the per-partition
    sums — the chunk rows never enter the JVM, and neither the chunk
    table nor the manifest costs a Spark write job.

    Every write, move and delete goes through one pyarrow filesystem,
    ``plans.manifest.table_fs(out_path)``: a URI, or a local path (a path
    without a scheme is local, made absolute on the driver). One writer
    per chunk table at a time, as with Spark's dynamic overwrite.

    ``respect_noindex`` drops pages whose head carries a meta-robots
    noindex directive (``page_noindex``) — the filter rides the same
    scan as the size cap, before any parse work."""
    import uuid

    # through the module at call time: callers may wrap these by name
    from ragflow_spark.plans import manifest

    spark = pages.sparkSession
    if num_partitions is None:
        num_partitions = int(spark.conf.get("spark.sql.shuffle.partitions"))

    staged = _stage(pages, num_partitions)
    if respect_noindex:
        staged = staged.filter(~page_noindex(F.col("html")))
    prior = manifest.read_manifest(spark, manifest_path)
    todo_pids = None
    if prior is not None:
        todo_pids = manifest.resume_partitions(staged, prior, num_partitions)
        if not todo_pids:
            return
        staged = staged.filter(F.col("partition_id").isin(todo_pids))
    fs, root = manifest.table_fs(out_path)
    sink = (fs, f"{root}/{STAGING_PREFIX}{uuid.uuid4().hex}",
            _chunk_file_schema(),
            spark.conf.get("spark.sql.session.timeZone"))
    files = _parse(staged, num_partitions, template_cfg, todo_pids,
                   sink).collect()
    _commit(fs, root, files)
    manifest.write_manifest(files, manifest_path, attempt=attempt,
                            num_partitions=num_partitions)
