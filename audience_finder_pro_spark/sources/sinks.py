"""Result sinks (SURVEY §2.1 S5-S7).

The reference exports small result tables as UTF-8 CSV without index
(app.py:240-241, 318-319) and declares Excel intent (openpyxl dep,
req:4). Engine split:

- ``write_csv``: distributed CSV sink for big results (every executor
  writes its partition — the 100 TB path).
- ``to_csv_bytes`` / ``to_excel_bytes``: driver-side convenience for
  *small, final* results only (the reference's download buttons) —
  guarded by a row cap so nobody collects an unbounded frame.
"""

from __future__ import annotations

import gc
import io
import math

from pyspark.sql import DataFrame

DRIVER_COLLECT_CAP = 1_000_000


def write_csv(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """Distributed CSV sink — header per part file, UTF-8."""
    df.write.mode(mode).option("header", True).csv(path)


def _small_pandas(df: DataFrame, cap: int | None = None):
    """Collect ``df`` (at most ``cap`` rows) to pandas and release the JVM
    handles the export created.

    py4j caches every method called on a JavaObject as a member holding
    the object itself, a reference cycle: the JVM object behind it stays
    alive until Python's cyclic GC happens to run. For an export that is
    the Dataset with its executed plan, SQL metrics and collected batches
    (~10-15 MB after ten audience steps). So the sink detaches its own
    ``limit`` Dataset as soon as the rows are out, clears the exported
    frame's member cache, so that frame's JVM handle dies when the caller
    drops it, and runs a young-generation collection for the handles
    ``toPandas`` creates internally (the Arrow socket server, which still
    references the Dataset). The young collection takes ~0.2 ms; a full
    ``gc.collect()`` frees the same heap but costs ~70-90 ms per call.
    """
    if cap is None:
        cap = DRIVER_COLLECT_CAP
    # limit(cap+1) bounds the collect; the count check keeps the guard exact
    limited = df.limit(cap + 1)
    try:
        pdf = limited.toPandas()
    finally:
        limited._jdf._detach()
        df._jdf._methods.clear()
        gc.collect(1)
    if len(pdf) > cap:
        raise ValueError(f"result exceeds driver collect cap ({cap}); use write_csv")
    return pdf


def to_csv_bytes(df: DataFrame) -> bytes:
    """UTF-8, no index — byte-compatible with the reference's to_csv call
    (app.py:240-241 ``to_csv(index=False).encode('utf-8')``)."""
    return _small_pandas(df).to_csv(index=False).encode("utf-8")


def to_excel_bytes(df: DataFrame) -> bytes:
    """Excel sink (SURVEY S6; ref declares the openpyxl dep, req:4).

    pandas+openpyxl when available; otherwise a minimal stdlib writer —
    XLSX is a zip of SpreadsheetML XML, so one sheet of typed cells needs
    only ``zipfile`` + string escaping. Numbers/bools keep native cell
    types, everything else is an inline string (no sharedStrings table);
    nulls are empty cells. Round-trip-tested structurally in
    tests/test_operators.py (unzip + XML parse), and via openpyxl when
    the environment has it.
    """
    pdf = _small_pandas(df)
    try:
        import openpyxl  # noqa: F401

        buf = io.BytesIO()
        pdf.to_excel(buf, index=False, engine="openpyxl")
        return buf.getvalue()
    except ImportError:
        return _xlsx_bytes_minimal(pdf)


def _col_ref(i: int) -> str:
    """0-based column index → spreadsheet letters (0→A, 25→Z, 26→AA)."""
    out = ""
    i += 1
    while i:
        i, rem = divmod(i - 1, 26)
        out = chr(ord("A") + rem) + out
    return out


def _xlsx_bytes_minimal(pdf) -> bytes:
    """Single-sheet OOXML workbook from a pandas frame, stdlib only."""
    import zipfile
    from xml.sax.saxutils import escape

    def cell(r: int, c: int, v) -> str:
        ref = f"{_col_ref(c)}{r}"
        if hasattr(v, "item"):  # numpy scalar → native python
            v = v.item()
        # NaN AND ±inf → empty cell: OOXML numeric <v> admits neither
        if v is None or (isinstance(v, float) and not math.isfinite(v)):
            return f'<c r="{ref}"/>'
        if isinstance(v, bool):
            return f'<c r="{ref}" t="b"><v>{int(v)}</v></c>'
        if isinstance(v, (int, float)):
            return f'<c r="{ref}"><v>{v!r}</v></c>'
        return f'<c r="{ref}" t="inlineStr"><is><t xml:space="preserve">{escape(str(v))}</t></is></c>'

    rows = ['<row r="1">' + "".join(cell(1, c, str(name)) for c, name in enumerate(pdf.columns)) + "</row>"]
    for ri, tup in enumerate(pdf.itertuples(index=False, name=None), start=2):
        rows.append(f'<row r="{ri}">' + "".join(cell(ri, c, v) for c, v in enumerate(tup)) + "</row>")
    sheet = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        '<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">'
        f"<sheetData>{''.join(rows)}</sheetData></worksheet>"
    )
    workbook = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        '<workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"'
        ' xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships">'
        '<sheets><sheet name="Sheet1" sheetId="1" r:id="rId1"/></sheets></workbook>'
    )
    wb_rels = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        '<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">'
        '<Relationship Id="rId1"'
        ' Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/worksheet"'
        ' Target="worksheets/sheet1.xml"/></Relationships>'
    )
    root_rels = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        '<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">'
        '<Relationship Id="rId1"'
        ' Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/officeDocument"'
        ' Target="xl/workbook.xml"/></Relationships>'
    )
    content_types = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        '<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">'
        '<Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/>'
        '<Default Extension="xml" ContentType="application/xml"/>'
        '<Override PartName="/xl/workbook.xml"'
        ' ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sheet.main+xml"/>'
        '<Override PartName="/xl/worksheets/sheet1.xml"'
        ' ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.worksheet+xml"/>'
        "</Types>"
    )
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w", zipfile.ZIP_DEFLATED) as z:
        z.writestr("[Content_Types].xml", content_types)
        z.writestr("_rels/.rels", root_rels)
        z.writestr("xl/workbook.xml", workbook)
        z.writestr("xl/_rels/workbook.xml.rels", wb_rels)
        z.writestr("xl/worksheets/sheet1.xml", sheet)
    return buf.getvalue()


def write_parquet_partitioned(
    df: DataFrame,
    path: str,
    partition_cols: list[str],
    mode: str = "overwrite",
    max_records_per_file: int | None = None,
) -> None:
    """Hive-layout parquet sink — the 100 TB table format.

    Readers that filter on ``partition_cols`` get partition PRUNING (whole
    directories skipped before any IO; shows as PartitionFilters in the
    scan node). ``max_records_per_file`` bounds file size so a skewed
    partition value still splits into parallel-readable files.
    """
    w = df.write.mode(mode)
    if max_records_per_file:
        w = w.option("maxRecordsPerFile", max_records_per_file)
    w.partitionBy(*partition_cols).parquet(path)


def write_jsonl(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
    compression: str | None = "gzip",
    max_records_per_file: int | None = None,
) -> None:
    """Newline-delimited JSON sink — the standard LLM training-corpus
    interchange format (one document object per line; what tokenizer and
    trainer ingest jobs read). One file per partition, written in
    parallel; ``compression`` defaults to gzip (JSONL text compresses
    ~10x and every consumer streams gzip), ``max_records_per_file``
    bounds file size so downstream loaders parallelize within a
    partition. Round-trips through sources/quarantine.read_jsonl_quarantined.
    """
    w = df.write.mode(mode)
    if compression:
        w = w.option("compression", compression)
    if max_records_per_file:
        w = w.option("maxRecordsPerFile", max_records_per_file)
    w.json(path)


def write_bucketed_table(
    df: DataFrame,
    table: str,
    bucket_cols: list[str],
    n_buckets: int = 32,
    sort_cols: list[str] | None = None,
    mode: str = "overwrite",
    path: str | None = None,
) -> None:
    """Bucketed managed table — pre-shuffled storage for co-located joins.

    Two tables bucketed on the same keys with the same bucket count join
    WITHOUT a shuffle (no Exchange under the SortMergeJoin): at 100 TB
    the repeated fact⋈fact shuffle is paid once at write time instead of
    per query. Requires saveAsTable (bucket metadata lives in the
    catalog, not in parquet files).
    """
    w = df.write.mode(mode).bucketBy(n_buckets, *bucket_cols)
    if sort_cols:
        w = w.sortBy(*sort_cols)
    if path:
        # external table: data lands at an explicit location instead of the
        # session warehouse (whose default is cwd/spark-warehouse — not
        # necessarily writable in every deployment); bucket metadata still
        # lives in the catalog, so bucket pruning works identically
        w = w.option("path", path)
    w.saveAsTable(table)


def compact_parquet(
    spark,
    src: str,
    dst: str,
    target_mb: int = 256,
    shuffle: bool = False,
    mode: str = "overwrite",
) -> int:
    """Small-file compaction: rewrite a parquet directory into
    ``ceil(bytes / target_mb)`` files of ~target size. Returns the
    output file count.

    The small-files problem is a first-order 100 TB operational concern:
    a streaming sink or over-parallel writer that leaves 100k tiny files
    makes every downstream scan pay 100k open/footer reads and the
    driver pay a giant file index. Compaction is the standard nightly
    fix.

    ``shuffle=False`` (default) uses ``coalesce`` — a NARROW rewrite:
    each output task reads a contiguous group of input files, no
    exchange, the cheapest possible pass. File sizes then track input
    locality (skewed inputs → skewed outputs). ``shuffle=True`` pays one
    round-robin exchange for evenly sized output files — worth it when
    the compacted set is long-lived and scanned often. Input size is
    read from the filesystem (driver-side listing, metadata only), so
    the target is based on actual on-disk bytes, not estimates.
    """
    import math
    import os

    total = 0
    for root, _dirs, files in os.walk(src):
        for f in files:
            if f.endswith(".parquet"):
                total += os.path.getsize(os.path.join(root, f))
    n_files = max(1, math.ceil(total / (target_mb * 1024 * 1024)))
    df = spark.read.parquet(src)
    out = df.repartition(n_files) if shuffle else df.coalesce(n_files)
    out.write.mode(mode).parquet(dst)
    return n_files


def write_training_shards(
    df: DataFrame,
    path: str,
    shard_tokens: int = 1_000_000,
    token_col: str = "n_tokens",
    order_by="doc_id",
    partition_by: str | None = None,
    compression: str | None = "gzip",
    mode: str = "overwrite",
) -> DataFrame:
    """Token-budgeted sharded JSONL export — the training-corpus hand-off
    format: ``path/shard=N/*.json[.gz]`` directories of ~``shard_tokens``
    tokens each, so downstream tokenizer/trainer jobs get uniform,
    independently-loadable work units regardless of document-length skew
    (what a plain ``maxRecordsPerFile`` cannot give: records are not
    tokens).

    Deterministic: shard assignment is ``pack_sequences``' running-sum
    binning over the unique ``order_by`` key (the distributed two-pass
    prefix sum — no single-partition window), so the same corpus always
    exports byte-identical shard membership. ``partition_by`` scopes
    shards within a key (e.g. per source) — shard numbering then restarts
    per key and the layout gains that partition level.

    Returns the shard manifest (shard [, partition cols], n_docs,
    total_tokens) — small; persist it next to the export for audit.
    """
    from audience_finder_pro_spark.operators.packing import pack_sequences

    packed = pack_sequences(
        df, token_col=token_col, budget=shard_tokens, order_by=order_by,
        partition_by=partition_by,
    ).withColumnRenamed("bin_id", "shard").drop("bin_pos")
    part_cols = ([partition_by] if partition_by else []) + ["shard"]
    w = packed.write.mode(mode)
    if compression:
        w = w.option("compression", compression)
    w.partitionBy(*part_cols).json(path)
    from pyspark.sql import functions as F

    return (
        packed.groupBy(*part_cols)
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(F.col(token_col).cast("long")).alias("total_tokens"),
        )
        .orderBy(*part_cols)
    )
