"""Batch readers/sinks (SURVEY.md §2.1 S1-S9).

The engine's primary scan is Parquet (Iceberg at cluster scale); the
reference's upload-file surface (CSV with encoding fallback, XML
fallback parsing, extension gating, preview-N) maps to the helpers
here.  ``read_excel_small`` / ``read_xml_small`` are the S2/S3
upload-path shims: driver-side parses (stdlib zip+XML — no external
codec in this environment) bounded to small files, matching the
reference's interactive upload sizes (helpers.py:71-112); the
cluster-scale path for XML is a mapInPandas/spark-xml scan over a
distributed file listing, which these small tables do not need.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

# Reference admits legacy .xls too (helpers.py:6-19, parsed via xlrd).
# Rounds 2-3 honestly rejected .xls at the gate (no xlrd in this
# environment); round 4 restores parity with a pure-stdlib BIFF8 reader
# (sources/xls.py, [MS-CFB]/[MS-XLS] public formats) behind
# ``read_xls_small``.
ALLOWED_EXTENSIONS = {"csv", "xls", "xlsx", "xml", "parquet"}

# Reference encoding fallback chain (helpers.py:56-69, 162-180).
_ENCODING_CHAIN = ("UTF-8", "ISO-8859-1")


def file_type_allowed(filename: str) -> bool:
    """S4 gate (reference helpers.py:6-19): extension allow-list."""
    return "." in filename and filename.rsplit(".", 1)[1].lower() in ALLOWED_EXTENSIONS


def read_csv_with_fallback(
    spark: SparkSession, path: str, header: bool = True
) -> DataFrame:
    """S1: CSV scan with encoding fallback utf-8 -> latin-1 (reference
    helpers.py:56-69).  Fallback is detected by scanning for decode
    failures on a 20-row probe — a DRIVER-SIDE limit-collect, fine for
    the interactive upload path this mirrors; batch ingest at scale
    should pin the encoding and skip the probe."""
    last_err: Exception | None = None
    df = None
    for enc in _ENCODING_CHAIN:
        try:
            df = (
                spark.read.option("header", header)
                .option("encoding", enc)
                .option("inferSchema", True)
                .option("mode", "FAILFAST")
                .csv(path)
            )
            # Spark's CSV reader substitutes U+FFFD for undecodable bytes
            # rather than raising, so probe a few rows for replacement
            # characters (the decode-failure signal the reference's
            # try/except chain reacts to).
            probe = df.limit(20).collect()
            mojibake = any(
                isinstance(v, str) and "�" in v
                for row in probe
                for v in row
            )
            if not mojibake:
                return df
        except Exception as e:  # parse failure -> next encoding
            last_err = e
    if df is not None:
        return df  # every encoding showed replacement chars; best effort
    raise last_err  # type: ignore[misc]


def read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Primary scan: parquet table from a testdata/warehouse directory.
    (Iceberg: ``spark.read.format('iceberg').load(name)`` — same call
    site, different format string.)"""
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


def preview_columns(df: DataFrame, max_rows: int = 5) -> tuple[list[str], list[dict]]:
    """S5 (helpers.py:114-139): column names + first-N preview.  The
    limit is pushed into the scan (GlobalLimit/LocalLimit over a
    single-file read)."""
    return df.columns, [r.asDict() for r in df.limit(max_rows).collect()]


def validate_file_structure(
    df: DataFrame, min_rows: int = 1, min_cols: int = 1
) -> list[str]:
    """P8 (helpers.py:201-231): structural validation — duplicate column
    names (plan-time), minimum rows/cols (one limit-probe job)."""
    problems = []
    seen, dups = set(), set()
    for c in df.columns:
        if c in seen:
            dups.add(c)
        seen.add(c)
    if dups:
        problems.append(f"duplicate columns: {sorted(dups)}")
    if len(df.columns) < min_cols:
        problems.append(f"fewer than {min_cols} columns")
    if df.limit(min_rows).count() < min_rows:
        problems.append(f"fewer than {min_rows} rows")
    return problems


def same_system_gate(filename_a: str, filename_b: str) -> bool:
    """P9 (frontend/utils/validators.py:1-31): both datasets must share
    the prefix before the first ``_``/``-``/space."""

    def system_of(name: str) -> str:
        stem = name.rsplit(".", 1)[0]
        for sep in ("_", "-", " "):
            if sep in stem:
                stem = stem.split(sep)[0]
        return stem.strip().lower()

    return system_of(filename_a) == system_of(filename_b)


_SMALL_FILE_LIMIT = 64 * 1024 * 1024  # 64 MiB: upload-path bound


def _infer_typed_columns(header: list[str], rows: list[list[str | None]]):
    """int -> float -> string inference per column, mirroring what the
    reference gets from pandas read_excel/read_xml type inference."""
    cols = []
    for j, _name in enumerate(header):
        vals = [r[j] if j < len(r) else None for r in rows]
        typed: list = []
        kind = "long"
        for v in vals:
            if v is None or v == "":
                typed.append(None)
                continue
            if kind == "long":
                try:
                    typed.append(int(v))
                    continue
                except ValueError:
                    kind = "double"
            if kind == "double":
                try:
                    typed.append(float(v))
                    continue
                except ValueError:
                    kind = "string"
            typed.append(v)
        if kind == "long":
            typed = [int(v) if v is not None else None for v in typed]
        elif kind == "double":
            typed = [float(v) if v is not None else None for v in typed]
        else:
            typed = [
                str(v) if v is not None and v != "" else None for v in vals
            ]
        cols.append((kind, typed))
    return cols


def _rows_to_df(spark: SparkSession, header: list[str], rows: list[list]):
    cols = _infer_typed_columns(header, rows)
    schema = ", ".join(
        f"`{name}` {kind}" for name, (kind, _) in zip(header, cols)
    )
    data = [
        tuple(cols[j][1][i] for j in range(len(header))) for i in range(len(rows))
    ]
    return spark.createDataFrame(data, schema)


def read_excel_small(spark: SparkSession, path: str, sheet: int = 0) -> DataFrame:
    """S2 (reference helpers.py:71-82 / etl.py:13-14): Excel upload scan.

    Pure-stdlib .xlsx parse (zip + ElementTree over sheetN.xml and
    sharedStrings.xml — no openpyxl in this environment), first row =
    header, int/float/string inference.  DRIVER-SIDE by design: this is
    the interactive upload path; files above the 64 MiB bound are
    rejected, pointing users at the parquet/CSV distributed scans.
    """
    import re
    import xml.etree.ElementTree as ET
    import zipfile

    if os.path.getsize(path) > _SMALL_FILE_LIMIT:
        raise ValueError("read_excel_small is the upload-path shim; "
                         "convert large data to parquet/csv")
    ns = "{http://schemas.openxmlformats.org/spreadsheetml/2006/main}"
    with zipfile.ZipFile(path) as z:
        shared: list[str] = []
        if "xl/sharedStrings.xml" in z.namelist():
            root = ET.fromstring(z.read("xl/sharedStrings.xml"))
            for si in root.findall(f"{ns}si"):
                shared.append("".join(t.text or "" for t in si.iter(f"{ns}t")))
        sheets = sorted(
            n for n in z.namelist()
            if re.fullmatch(r"xl/worksheets/sheet\d+\.xml", n)
        )
        if not sheets:
            raise ValueError("no worksheets found")
        root = ET.fromstring(z.read(sheets[sheet]))

    def cell_col(ref: str) -> int:
        acc = 0
        for ch in ref:
            if ch.isalpha():
                acc = acc * 26 + (ord(ch.upper()) - 64)
            else:
                break
        return acc - 1

    raw_rows: list[list] = []
    for row in root.iter(f"{ns}row"):
        vals: dict[int, str | None] = {}
        for c in row.findall(f"{ns}c"):
            idx = cell_col(c.get("r", ""))
            t = c.get("t", "n")
            if t == "inlineStr":
                is_el = c.find(f"{ns}is")
                v = "".join(e.text or "" for e in is_el.iter(f"{ns}t")) if is_el is not None else None
            else:
                v_el = c.find(f"{ns}v")
                v = v_el.text if v_el is not None else None
                if t == "s" and v is not None:
                    v = shared[int(v)]
            vals[idx] = v
        width = max(vals) + 1 if vals else 0
        raw_rows.append([vals.get(i) for i in range(width)])
    if not raw_rows:
        raise ValueError("empty sheet")
    header = [str(h) if h is not None else f"col_{i}" for i, h in enumerate(raw_rows[0])]
    width = len(header)
    body = [r + [None] * (width - len(r)) for r in raw_rows[1:]]
    return _rows_to_df(spark, header, body)


def read_xls_small(spark: SparkSession, path: str, sheet: int = 0) -> DataFrame:
    """S2 legacy variant (reference helpers.py:71-82 via xlrd): BIFF8
    ``.xls`` upload scan through the pure-stdlib reader in
    ``sources/xls.py``.  Same contract as :func:`read_excel_small`:
    first row = header, int/float/string inference, 64 MiB driver-side
    bound (interactive upload path only)."""
    from data_reconciliation_spark.sources.xls import parse_xls_bytes

    if os.path.getsize(path) > _SMALL_FILE_LIMIT:
        raise ValueError("read_xls_small is the upload-path shim; "
                         "convert large data to parquet/csv")
    with open(path, "rb") as f:
        raw_rows = parse_xls_bytes(f.read(), sheet=sheet)
    if not raw_rows:
        raise ValueError("empty sheet")

    def _s(v):
        if v is None:
            return None
        if isinstance(v, bool):
            return str(v)
        if isinstance(v, float) and v.is_integer():
            return str(int(v))
        return str(v)

    header = [
        str(h) if h is not None else f"col_{i}" for i, h in enumerate(raw_rows[0])
    ]
    width = len(header)
    body = [
        [_s(v) for v in r] + [None] * (width - len(r)) for r in raw_rows[1:]
    ]
    return _rows_to_df(spark, header, body)


def read_xml_small(spark: SparkSession, path: str, row_tag: str | None = None) -> DataFrame:
    """S3 (reference helpers.py:84-112): flat-XML upload scan.

    Tries the direct parse (children of root = rows); when the root's
    children are heterogeneous, falls back to the reference's
    most-common-child-tag heuristic.  All-string columns unless values
    infer as numeric, like ``pd.read_xml``.  Driver-side upload shim with
    the same 64 MiB bound as :func:`read_excel_small`.
    """
    import collections
    import xml.etree.ElementTree as ET

    if os.path.getsize(path) > _SMALL_FILE_LIMIT:
        raise ValueError("read_xml_small is the upload-path shim; "
                         "use a distributed XML scan for large data")
    root = ET.parse(path).getroot()
    children = list(root)
    if not children:
        raise ValueError("no record elements under XML root")
    tags = collections.Counter(el.tag for el in children)
    tag = row_tag or tags.most_common(1)[0][0]
    records = [el for el in children if el.tag == tag]

    field_order: list[str] = []
    rows = []
    for rec in records:
        d = {}
        for f in rec:
            if f.tag not in field_order:
                field_order.append(f.tag)
            d[f.tag] = (f.text or "").strip() or None
        for k, v in rec.attrib.items():
            if k not in field_order:
                field_order.append(k)
            d.setdefault(k, v)
        rows.append(d)
    body = [[d.get(k) for k in field_order] for d in rows]
    return _rows_to_df(spark, field_order, body)


def write_bucketed_table(
    df: DataFrame,
    table_name: str,
    bucket_col: str,
    num_buckets: int = 32,
    sort_col: str | None = None,
    mode: str = "overwrite",
) -> None:
    """Persist a table bucketed (and optionally sorted) on the join key.

    Two tables bucketed on the same key with the same bucket count join
    WITHOUT a shuffle (no Exchange in the plan) — the co-location
    strategy for repeated big-big joins, e.g. the page table and its
    scored-pair table keyed by url hash.  Requires a session with a
    warehouse dir (``saveAsTable``; plain files cannot carry bucket
    metadata)."""
    w = df.write.format("parquet").mode(mode).bucketBy(num_buckets, bucket_col)
    if sort_col:
        w = w.sortBy(sort_col)
    w.saveAsTable(table_name)


def compact_table(
    spark: SparkSession,
    path: str,
    target_file_mb: int = 256,
    sort_col: str | None = None,
) -> int:
    """Small-files compaction: rewrite a parquet directory into files of
    roughly ``target_file_mb`` each (the 100 TB housekeeping op — a
    continuously-ingesting table accumulates thousands of tiny part
    files, and scan throughput dies on file-open overhead).

    Sizing uses the CURRENT on-disk bytes (driver-side recursive walk —
    metadata only, no data read), so compressed size stays roughly
    constant across the rewrite.  Optionally sorts within partitions for
    better column-statistics pruning.  Writes to a temporary sibling
    directory then swaps via two renames.  The swap is NOT atomic: a
    crash between the renames leaves the data at ``<path>.__compact_old__``
    (nothing is lost, but the reader-visible path is briefly absent) — on
    a real warehouse this op is a table-format transaction (Iceberg
    rewrite_data_files) instead.

    Hive-partitioned directories (``key=value`` subdirs) are refused:
    a flat ``repartition(n)`` rewrite would silently collapse the
    partition layout.

    Returns the number of output files.
    """
    import glob
    import shutil

    files = []
    for dirpath, dirnames, filenames in os.walk(path):
        for d in dirnames:
            if "=" in d:
                raise ValueError(
                    f"compact_table: {path} is hive-partitioned "
                    f"(subdir {d!r}); a flat rewrite would collapse the "
                    "partition layout — compact each leaf instead"
                )
        files.extend(
            os.path.join(dirpath, f) for f in filenames if f.endswith(".parquet")
        )
    total_bytes = sum(os.path.getsize(f) for f in files)
    n_out = max(1, round(total_bytes / (target_file_mb * 1024 * 1024)))

    df = spark.read.parquet(path)
    out = df.repartition(n_out)
    if sort_col is not None:
        out = out.sortWithinPartitions(sort_col)

    tmp = path.rstrip("/") + ".__compact_tmp__"
    shutil.rmtree(tmp, ignore_errors=True)
    out.write.mode("overwrite").parquet(tmp)
    old = path.rstrip("/") + ".__compact_old__"
    shutil.rmtree(old, ignore_errors=True)
    os.replace(path, old)
    os.replace(tmp, path)
    shutil.rmtree(old, ignore_errors=True)
    return len([f for f in glob.glob(os.path.join(path, "*.parquet"))])
