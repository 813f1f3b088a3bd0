"""Normalization stage — all native Catalyst expressions.

Generalizes the reference's load-time cleaning (P1-P3,
``backend/analysis/etl.py:29-61``) and its filename->system derivation
(X8, ``frontend/utils/validators.py:8-22``,
``frontend/utils/data_processing.py:3-20``) to web pages:

* column canonicalization (strip/lower/underscore)
* config-driven renames
* string cleaning (trim / lower)
* URL canonicalization (host w/o ``www.``, path w/o trailing slash,
  query+fragment dropped) — the blocking namespace, like the
  reference's "system" prefix
* whitespace-collapsed text normalization
* deterministic text extraction from raw ``html`` bytes (byte-identical
  inverse of the testgen template; north-rule invariant)

Everything here stays inside whole-stage codegen — zero Python.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from data_reconciliation_spark.config import FieldRule


# --- P1: column canonicalization (etl.py:36-39) ---------------------------

def canonicalize_columns(df: DataFrame) -> DataFrame:
    return df.toDF(*[c.strip().lower().replace(" ", "_") for c in df.columns])


# --- P2: config-driven renames (etl.py:41-48) ------------------------------

def apply_renames(df: DataFrame, fields: dict[str, FieldRule]) -> DataFrame:
    renames = {c: r.rename_to for c, r in fields.items() if r.rename_to and c in df.columns}
    return df.withColumnsRenamed(renames) if renames else df


# --- P3: string cleaning (etl.py:50-57) -------------------------------------

def apply_cleaning(df: DataFrame, fields: dict[str, FieldRule]) -> DataFrame:
    exprs = {}
    for c, r in fields.items():
        # reference gate (etl.py:52): cleaning applies only to fields
        # declared type=string — a decimal field with a stray `clean:`
        # list is left untouched
        if c not in df.columns or not r.clean or r.type != "string":
            continue
        col = F.col(c)
        if "strip_whitespace" in r.clean:
            col = F.trim(col)
        if "lowercase" in r.clean:
            col = F.lower(col)
        exprs[c] = col
    return df.withColumns(exprs) if exprs else df


# --- URL canonicalization (engine analog of X8) -----------------------------

def normalized_host(url: Column | str) -> Column:
    """lowercased host with leading ``www.`` stripped."""
    url = F.col(url) if isinstance(url, str) else url
    host = F.lower(F.parse_url(url, F.lit("HOST")))
    return F.regexp_replace(host, r"^www\.", "")


def normalized_path(url: Column | str) -> Column:
    """path with trailing slash stripped ('' for root)."""
    url = F.col(url) if isinstance(url, str) else url
    path = F.coalesce(F.parse_url(url, F.lit("PATH")), F.lit(""))
    return F.regexp_replace(path, r"/$", "")


def canonical_url(url: Column | str) -> Column:
    """host + path, no scheme / www / query / fragment / trailing slash."""
    url = F.col(url) if isinstance(url, str) else url
    return F.concat(normalized_host(url), normalized_path(url))


# --- text normalization ------------------------------------------------------

def normalized_text(text: Column | str) -> Column:
    """trim + collapse internal whitespace runs to single spaces."""
    text = F.col(text) if isinstance(text, str) else text
    return F.regexp_replace(F.trim(text), r"\s+", " ")


# --- deterministic html -> text extraction (north-rule invariant) ------------

_ARTICLE_RE = r"(?s)<article>(.*?)</article>"
_TITLE_RE = r"(?s)<title>(.*?)</title>"


def extract_text_from_html(html: Column | str) -> Column:
    """Extract body text from raw page bytes.

    Deterministic pure expression (decode + regexp_extract): the same
    ``html`` bytes always yield the same ``text`` bytes on any executor —
    the per-row invariant the north rule pins (byte-identical extracted
    text per url).  Returns NULL for NULL html, '' when no article tag.
    """
    html = F.col(html) if isinstance(html, str) else html
    return F.regexp_extract(F.decode(html, "UTF-8"), _ARTICLE_RE, 1)


def extract_title_from_html(html: Column | str) -> Column:
    html = F.col(html) if isinstance(html, str) else html
    return F.regexp_extract(F.decode(html, "UTF-8"), _TITLE_RE, 1)


def prepare_snapshot(df: DataFrame, fields: dict[str, FieldRule]) -> DataFrame:
    """Load-time ETL composition in reference order (``etl.py:29-61``):
    canonicalize column names (P1) -> config renames (P2) -> string
    cleaning (P3).  All metadata/expression-level — zero extra jobs."""
    df = canonicalize_columns(df)
    df = apply_renames(df, fields)
    return apply_cleaning(df, fields)
