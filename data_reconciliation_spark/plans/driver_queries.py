"""Driver-contract queries: one entry per implemented operator from
SURVEY.md §2, each with a DuckDB-equivalent oracle (see
``__spark_entry__.py``).

Conventions:
* every callable takes ``(spark, sf_dir)`` and returns a DataFrame;
* every computed column is aliased identically in the Spark plan and the
  oracle SQL (the driver hash-compares by sorted column name);
* the reconciliation queries derive deterministic old/new snapshots from
  ``orders`` (key-modulo splits + arithmetic perturbations) so both
  engines see identical inputs;
* genuinely non-SQL-expressible operators (the indel-ratio UDF, the
  ER pipeline) ship without oracle SQL — the driver records rows-only
  checks for those.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StringType

from data_reconciliation_spark.config import FieldRule
from data_reconciliation_spark.functions.normalize import normalized_text
from data_reconciliation_spark.functions.similarity import levenshtein_similarity
from data_reconciliation_spark.operators.reconcile import (
    _mismatch_expr,
    reconcile_exceptions,
    reconcile_metrics,
)
from data_reconciliation_spark.sources.readers import read_table

# ---------------------------------------------------------------------------
# deterministic snapshot derivation (shared by Spark and the SQL oracles)
# ---------------------------------------------------------------------------

RECON_CFG = {
    "ignore_nulls": False,
    "include_missing_records": True,
    "fields": {
        "o_totalprice": {"type": "decimal", "tolerance": 0.01},
        # o_orderstatus / o_orderpriority / o_custkey / o_orderdate -> exact
    },
}

OLD_FILTER_MOD, NEW_FILTER_MOD = 11, 13


def _snapshots(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    orders = read_table(spark, sf_dir, "orders")
    old = orders.where(F.col("o_orderkey") % OLD_FILTER_MOD != 0)
    new = (
        orders.where(F.col("o_orderkey") % NEW_FILTER_MOD != 0)
        .withColumn(
            "o_totalprice",
            F.col("o_totalprice") + (F.col("o_orderkey") % 3).cast("double") * 0.02,
        )
        .withColumn(
            "o_orderpriority",
            F.when(F.col("o_orderkey") % 17 == 0, F.lit("X-PRIORITY")).otherwise(
                F.col("o_orderpriority")
            ),
        )
    )
    return old, new


_SQL_OLD = f"(SELECT * FROM orders WHERE o_orderkey % {OLD_FILTER_MOD} <> 0)"
_SQL_NEW = f"""(
  SELECT o_orderkey, o_custkey, o_orderstatus,
         o_totalprice + (o_orderkey % 3) * 0.02 AS o_totalprice,
         o_orderdate,
         CASE WHEN o_orderkey % 17 = 0 THEN 'X-PRIORITY' ELSE o_orderpriority END
           AS o_orderpriority
  FROM orders WHERE o_orderkey % {NEW_FILTER_MOD} <> 0
)"""


# ---------------------------------------------------------------------------
# J1/P6: full-outer merge with presence flags
# ---------------------------------------------------------------------------

def q_j1_full_outer_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    old, new = _snapshots(spark, sf_dir)
    lhs = old.select("o_orderkey", F.lit(True).alias("__po"))
    rhs = new.select("o_orderkey", F.lit(True).alias("__pn"))
    merged = lhs.join(rhs, "o_orderkey", "full_outer")
    return merged.select(
        "o_orderkey",
        F.col("__po").isNotNull().alias("present_old"),
        F.col("__pn").isNotNull().alias("present_new"),
    )


SQL_J1 = f"""
SELECT COALESCE(o.o_orderkey, n.o_orderkey) AS o_orderkey,
       o.o_orderkey IS NOT NULL AS present_old,
       n.o_orderkey IS NOT NULL AS present_new
FROM {_SQL_OLD} o FULL OUTER JOIN {_SQL_NEW} n USING (o_orderkey)
"""


# J2/J3: anti-joins ----------------------------------------------------------

def q_j2_deleted_records(spark: SparkSession, sf_dir: str) -> DataFrame:
    old, new = _snapshots(spark, sf_dir)
    return old.join(new, "o_orderkey", "left_anti").select("o_orderkey", "o_totalprice")


SQL_J2 = f"""
SELECT o.o_orderkey, o.o_totalprice
FROM {_SQL_OLD} o LEFT JOIN {_SQL_NEW} n USING (o_orderkey)
WHERE n.o_orderkey IS NULL
"""


def q_j3_added_records(spark: SparkSession, sf_dir: str) -> DataFrame:
    old, new = _snapshots(spark, sf_dir)
    return new.join(old, "o_orderkey", "left_anti").select("o_orderkey", "o_totalprice")


SQL_J3 = f"""
SELECT n.o_orderkey, n.o_totalprice
FROM {_SQL_NEW} n LEFT JOIN {_SQL_OLD} o USING (o_orderkey)
WHERE o.o_orderkey IS NULL
"""


# ---------------------------------------------------------------------------
# Reconciliation core: exceptions + metrics (F1/F3/F5, R1/R2, A1/A2)
# ---------------------------------------------------------------------------

def q_reconcile_exceptions(spark: SparkSession, sf_dir: str) -> DataFrame:
    old, new = _snapshots(spark, sf_dir)
    # only the exception stream is consumed: no metrics job and no cache;
    # the join runs once, when the caller materializes the DataFrame.
    exc = reconcile_exceptions(old, new, ["o_orderkey"], RECON_CFG)
    return exc.select("o_orderkey", "field", "old", "new")


# DuckDB replicates the full exception surface: record-status rows from
# the anti-joins + per-field mismatch rows with exact reference null
# semantics (both-null match / null-vs-value mismatch) and the
# float-tolerance rule.  Value stringification matches Spark's
# cast-to-string for the involved types.
SQL_RECONCILE_EXC = f"""
WITH o AS (SELECT * FROM {_SQL_OLD}), n AS (SELECT * FROM {_SQL_NEW}),
both_rows AS (SELECT o.*, n.o_custkey AS n_custkey, n.o_orderstatus AS n_orderstatus,
                     n.o_totalprice AS n_totalprice, n.o_orderdate AS n_orderdate,
                     n.o_orderpriority AS n_orderpriority
              FROM o JOIN n USING (o_orderkey))
SELECT o.o_orderkey, '_record_status' AS field, 'EXISTS' AS old, 'MISSING' AS new
FROM o LEFT JOIN n USING (o_orderkey) WHERE n.o_orderkey IS NULL
UNION ALL
SELECT n.o_orderkey, '_record_status' AS field, 'MISSING' AS old, 'EXISTS' AS new
FROM n LEFT JOIN o USING (o_orderkey) WHERE o.o_orderkey IS NULL
UNION ALL
SELECT o_orderkey, 'o_custkey' AS field, CAST(o_custkey AS VARCHAR) AS old,
       CAST(n_custkey AS VARCHAR) AS new
FROM both_rows WHERE o_custkey IS DISTINCT FROM n_custkey
UNION ALL
SELECT o_orderkey, 'o_orderstatus', o_orderstatus, n_orderstatus
FROM both_rows WHERE o_orderstatus IS DISTINCT FROM n_orderstatus
UNION ALL
SELECT o_orderkey, 'o_totalprice', CAST(o_totalprice AS VARCHAR),
       CAST(n_totalprice AS VARCHAR)
FROM both_rows
WHERE (o_totalprice IS NULL) <> (n_totalprice IS NULL)
   OR (o_totalprice IS NOT NULL AND n_totalprice IS NOT NULL
       AND abs(o_totalprice - n_totalprice) > 0.01)
UNION ALL
SELECT o_orderkey, 'o_orderdate', strftime(o_orderdate, '%Y-%m-%d %H:%M:%S'),
       strftime(n_orderdate, '%Y-%m-%d %H:%M:%S')
FROM both_rows WHERE o_orderdate IS DISTINCT FROM n_orderdate
UNION ALL
SELECT o_orderkey, 'o_orderpriority', o_orderpriority, n_orderpriority
FROM both_rows WHERE o_orderpriority IS DISTINCT FROM n_orderpriority
"""


def q_a1_match_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    old, new = _snapshots(spark, sf_dir)
    # only the scalars are consumed: one aggregation over the join, with
    # no flagged-join cache to write or release.
    res = reconcile_metrics(old, new, ["o_orderkey"], RECON_CFG)
    return spark.createDataFrame(
        [
            (
                res.n_both,
                res.n_old_only,
                res.n_new_only,
                res.field_exception_count,
                res.match_pct,
            )
        ],
        "n_both long, n_old_only long, n_new_only long, field_exceptions long, "
        "match_pct double",
    )


SQL_A1 = f"""
WITH o AS (SELECT * FROM {_SQL_OLD}), n AS (SELECT * FROM {_SQL_NEW}),
b AS (SELECT o.o_orderkey,
             o.o_custkey AS oc, n.o_custkey AS nc,
             o.o_orderstatus AS os, n.o_orderstatus AS ns,
             o.o_totalprice AS op, n.o_totalprice AS np,
             o.o_orderdate AS od, n.o_orderdate AS nd,
             o.o_orderpriority AS opr, n.o_orderpriority AS npr
      FROM o JOIN n USING (o_orderkey)),
exc AS (
  SELECT
    SUM(CASE WHEN oc IS DISTINCT FROM nc THEN 1 ELSE 0 END)
    + SUM(CASE WHEN os IS DISTINCT FROM ns THEN 1 ELSE 0 END)
    + SUM(CASE WHEN (op IS NULL) <> (np IS NULL)
               OR (op IS NOT NULL AND np IS NOT NULL AND abs(op - np) > 0.01)
               THEN 1 ELSE 0 END)
    + SUM(CASE WHEN od IS DISTINCT FROM nd THEN 1 ELSE 0 END)
    + SUM(CASE WHEN opr IS DISTINCT FROM npr THEN 1 ELSE 0 END) AS field_exceptions_raw,
    COUNT(*) AS n_both
  FROM b)
SELECT
  n_both,
  (SELECT COUNT(*) FROM o LEFT JOIN n USING (o_orderkey)
   WHERE n.o_orderkey IS NULL) AS n_old_only,
  (SELECT COUNT(*) FROM n LEFT JOIN o USING (o_orderkey)
   WHERE o.o_orderkey IS NULL) AS n_new_only,
  CAST(field_exceptions_raw AS BIGINT) AS field_exceptions,
  round(100.0 * (n_both * 5 - field_exceptions_raw) / (n_both * 5), 2) AS match_pct
FROM exc
"""


# ---------------------------------------------------------------------------
# F2 (fuzzy, SQL-checkable variant): levenshtein similarity on documents
# ---------------------------------------------------------------------------

def q_f2_levenshtein_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    a = docs.select(
        F.col("doc_id").alias("id_a"), F.substring("text", 1, 40).alias("ta")
    )
    b = docs.select(
        (F.col("doc_id") - 1).alias("id_a"),
        F.col("doc_id").alias("id_b"),
        F.substring("text", 1, 40).alias("tb"),
    )
    return (
        a.join(b, "id_a")
        .select(
            "id_a",
            "id_b",
            F.round(levenshtein_similarity(F.col("ta"), F.col("tb")), 4).alias("lev_sim"),
        )
        .where(F.col("lev_sim") >= 30.0)
    )


SQL_F2 = """
WITH d AS (SELECT doc_id, substr(text, 1, 40) AS t FROM documents)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       round(100.0 * (1.0 - levenshtein(a.t, b.t)::DOUBLE /
             greatest(length(a.t), length(b.t))), 4) AS lev_sim
FROM d a JOIN d b ON b.doc_id = a.doc_id + 1
WHERE 100.0 * (1.0 - levenshtein(a.t, b.t)::DOUBLE /
      greatest(length(a.t), length(b.t))) >= 30.0
"""


# ---------------------------------------------------------------------------
# F3 standalone tolerance + try_cast coercion semantics (X3)
# ---------------------------------------------------------------------------

def q_f3_tolerance_with_coercion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tolerance compare over *stringified* numerics incl. unparsable
    values (reference compare.py:394-399: coercion failure => mismatch)."""
    li = read_table(spark, sf_dir, "lineitem")
    df = li.select(
        "l_orderkey",
        "l_linenumber",
        # string-typed observations; every 50th is unparsable
        F.when(F.col("l_linenumber") % 50 == 0, F.lit("n/a"))
        .otherwise(F.col("l_quantity").cast("string"))
        .alias("q_old"),
        (F.col("l_quantity") + (F.col("l_orderkey") % 5).cast("double") * 0.3)
        .cast("string")
        .alias("q_new"),
    )
    # the engine's own F3 predicate; neither column is ever null ("n/a"
    # marks the unparsable values), so its null gates keep every row
    mismatch = _mismatch_expr(
        F.col("q_old"),
        F.col("q_new"),
        StringType(),
        StringType(),
        FieldRule(type="decimal", tolerance=1.0),
        ignore_nulls=False,
    )
    return df.where(mismatch).select("l_orderkey", "l_linenumber", "q_old", "q_new")


SQL_F3 = """
WITH s AS (
  SELECT l_orderkey, l_linenumber,
         CASE WHEN l_linenumber % 50 = 0 THEN 'n/a'
              ELSE CAST(l_quantity AS VARCHAR) END AS q_old,
         CAST(l_quantity + (l_orderkey % 5) * 0.3 AS VARCHAR) AS q_new
  FROM lineitem)
SELECT l_orderkey, l_linenumber, q_old, q_new
FROM s
WHERE TRY_CAST(q_old AS DOUBLE) IS NULL OR TRY_CAST(q_new AS DOUBLE) IS NULL
   OR abs(TRY_CAST(q_old AS DOUBLE) - TRY_CAST(q_new AS DOUBLE)) > 1.0
"""


# ---------------------------------------------------------------------------
# P7: rejected-exception filter (anti-join on a small id set)
# ---------------------------------------------------------------------------

def q_p7_rejected_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = read_table(spark, sf_dir, "orders")
    rejected = orders.where(F.col("o_orderkey") % 97 == 0).select("o_orderkey")
    return (
        orders.join(F.broadcast(rejected), "o_orderkey", "left_anti")
        .groupBy("o_orderstatus")
        .agg(F.count(F.lit(1)).alias("n"))
    )


SQL_P7 = """
SELECT o_orderstatus, COUNT(*) AS n
FROM orders
WHERE o_orderkey NOT IN (SELECT o_orderkey FROM orders WHERE o_orderkey % 97 = 0)
GROUP BY o_orderstatus
"""


# ---------------------------------------------------------------------------
# A2-A8, O1-O4: aggregation / ordering surface
# ---------------------------------------------------------------------------

def q_a7_history_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events")
    return ev.groupBy("user_id").agg(
        F.round(F.avg("value"), 4).alias("avg_value"),
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.when(F.col("value") >= 95.0, 1).otherwise(0)).alias("good_events"),
    )


SQL_A7 = """
SELECT user_id, round(avg(value), 4) AS avg_value, COUNT(*) AS n_events,
       CAST(SUM(CASE WHEN value >= 95.0 THEN 1 ELSE 0 END) AS BIGINT) AS good_events
FROM events GROUP BY user_id
"""


def q_a8_uniqueness_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_reconciliation_spark.operators.profiling import uniqueness_profile

    return uniqueness_profile(read_table(spark, sf_dir, "customer"))


SQL_A8 = """
SELECT * FROM (
  SELECT 'c_custkey' AS "column", COUNT(DISTINCT c_custkey) AS distinct_count,
         COUNT(*) AS row_count,
         COUNT(DISTINCT c_custkey) = COUNT(*) AS is_unique FROM customer
  UNION ALL
  SELECT 'c_name', COUNT(DISTINCT c_name), COUNT(*),
         COUNT(DISTINCT c_name) = COUNT(*) FROM customer
  UNION ALL
  SELECT 'c_nationkey', COUNT(DISTINCT c_nationkey), COUNT(*),
         COUNT(DISTINCT c_nationkey) = COUNT(*) FROM customer
  UNION ALL
  SELECT 'c_acctbal', COUNT(DISTINCT c_acctbal), COUNT(*),
         COUNT(DISTINCT c_acctbal) = COUNT(*) FROM customer
  UNION ALL
  SELECT 'c_mktsegment', COUNT(DISTINCT c_mktsegment), COUNT(*),
         COUNT(DISTINCT c_mktsegment) = COUNT(*) FROM customer
)
"""


def q_a9_dedup_gate_24h(spark: SparkSession, sf_dir: str) -> DataFrame:
    """24h idempotency gate generalized to events: keep an event only if
    the previous event with the same (user_id, event_type) is more than
    24h older (reference models.py:32-49 semantics)."""
    from pyspark.sql.window import Window

    ev = read_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    prev_ts = F.lag("ts").over(w)
    return (
        ev.withColumn("prev_ts", prev_ts)
        .where(
            F.col("prev_ts").isNull()
            | (F.col("ts") - F.col("prev_ts") > F.expr("INTERVAL 24 HOURS"))
        )
        .select("event_id", "user_id", "event_type")
    )


SQL_A9 = """
SELECT event_id, user_id, event_type FROM (
  SELECT event_id, user_id, event_type, ts,
         lag(ts) OVER (PARTITION BY user_id, event_type
                       ORDER BY ts, event_id) AS prev_ts
  FROM events)
WHERE prev_ts IS NULL OR ts - prev_ts > INTERVAL 24 HOURS
"""


def q_o1_history_ordered(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events")
    return (
        ev.where(F.col("user_id") == 1)
        .orderBy("ts", "event_id")
        .limit(20)
        .select("event_id", "user_id", "event_type", "value")
    )


SQL_O1 = """
SELECT event_id, user_id, event_type, value
FROM events WHERE user_id = 1 ORDER BY ts, event_id LIMIT 20
"""


def q_o4_top2_by_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    prof = q_a8_uniqueness_profile(spark, sf_dir)
    return (
        prof.orderBy(F.desc("distinct_count"), "column")
        .limit(2)
        .select("column", "distinct_count")
    )


SQL_O4 = f"""
SELECT "column", distinct_count FROM ({SQL_A8})
ORDER BY distinct_count DESC, "column" LIMIT 2
"""


def q_o2_analysis_by_date(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference ``GET /analysis`` dataflow (app.py:228-299) mapped onto
    the events table: filter by key + calendar date, resolve the FIRST
    matching record (order by time, id, limit 1), then fetch every
    record belonging to it — the dependent run-header -> exceptions
    lookup that ``AuditStore.analysis_by_date`` implements, expressed as
    one oracle-checkable plan.  The target date is derived in-plan (the
    day of user 7's first event) so the query works at any sf."""
    ev = read_table(spark, sf_dir, "events")
    u = ev.where(F.col("user_id") == 7)
    target = u.agg(F.min(F.to_date("ts")).alias("d"))
    on_day = u.join(F.broadcast(target), F.to_date(F.col("ts")) == F.col("d"))
    first = (
        on_day.orderBy("ts", "event_id")
        .limit(1)
        .select(F.col("event_type").alias("et"))
    )
    return (
        on_day.join(F.broadcast(first), F.col("event_type") == F.col("et"))
        .select("event_id", "user_id", "event_type", "value")
    )


SQL_O2 = """
WITH d AS (SELECT CAST(min(ts) AS DATE) AS d FROM events WHERE user_id = 7),
on_day AS (
  SELECT e.* FROM events e, d
  WHERE e.user_id = 7 AND CAST(e.ts AS DATE) = d.d
),
first AS (SELECT event_type AS et FROM on_day ORDER BY ts, event_id LIMIT 1)
SELECT o.event_id, o.user_id, o.event_type, o.value
FROM on_day o JOIN first f ON o.event_type = f.et
"""


# ---------------------------------------------------------------------------
# Dedup family on documents
# ---------------------------------------------------------------------------

def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_reconciliation_spark.operators.dedup import exact_dedup

    return exact_dedup(read_table(spark, sf_dir, "documents"))


SQL_DEDUP_EXACT = r"""
SELECT md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g'))) AS fingerprint,
       MIN(doc_id) AS keep_id, COUNT(*) AS dup_count
FROM documents GROUP BY 1
"""


def q_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous-ingest dedup: docs with doc_id >= 250 arrive as a new
    batch against the first 250 as the existing corpus; emit the batch
    docs whose content is genuinely new."""
    from data_reconciliation_spark.operators.dedup import incremental_exact_dedup

    docs = read_table(spark, sf_dir, "documents")
    corpus = docs.where(F.col("doc_id") < 250)
    batch = docs.where(F.col("doc_id") >= 250)
    return incremental_exact_dedup(batch, corpus)


SQL_DEDUP_INCREMENTAL = r"""
WITH fp AS (
  SELECT doc_id,
         md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g'))) AS fingerprint
  FROM documents
),
corpus AS (SELECT DISTINCT fingerprint FROM fp WHERE doc_id < 250),
first_in_batch AS (
  SELECT fingerprint, MIN(doc_id) AS doc_id
  FROM fp WHERE doc_id >= 250 GROUP BY fingerprint
)
SELECT b.doc_id, b.fingerprint
FROM first_in_batch b LEFT JOIN corpus c USING (fingerprint)
WHERE c.fingerprint IS NULL
"""


def q_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_reconciliation_spark.operators.dedup import ngram_jaccard_pairs

    docs = read_table(spark, sf_dir, "documents")
    block = F.concat_ws(
        "|", F.col("lang"), F.col("source"), F.floor(F.col("n_chars") / 100).cast("string")
    )
    # max_block_size=None: the oracle enumerates all within-block pairs,
    # so the over-cap star-pairing fallback must be off here.
    pairs = ngram_jaccard_pairs(
        docs, threshold=0.2, n=3, block_col=block, max_block_size=None
    )
    return pairs.select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))


SQL_DEDUP_NGRAM = r"""
WITH toks AS (
  SELECT doc_id,
         lang || '|' || source || '|' || CAST(CAST(floor(n_chars / 100) AS BIGINT) AS VARCHAR) AS block,
         string_split(regexp_replace(trim(text), '\s+', ' ', 'g'), ' ') AS t
  FROM documents),
grams AS (
  SELECT doc_id, block,
         list_distinct(CASE WHEN len(t) >= 3
           THEN list_transform(range(1, len(t) - 1),
                i -> array_to_string(list_slice(t, i, i + 2), ' '))
           ELSE [array_to_string(t, ' ')] END) AS g
  FROM toks)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       round(len(list_intersect(a.g, b.g))::DOUBLE /
             len(list_distinct(list_concat(a.g, b.g))), 6) AS jaccard
FROM grams a JOIN grams b ON a.block = b.block AND a.doc_id < b.doc_id
WHERE len(list_intersect(a.g, b.g))::DOUBLE /
      len(list_distinct(list_concat(a.g, b.g))) >= 0.2
"""


# ---------------------------------------------------------------------------
# Text analysis on documents
# ---------------------------------------------------------------------------

def q_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_reconciliation_spark.functions.text import (
        bpe_ish_token_count,
        punct_ratio,
        whitespace_token_count,
    )

    docs = read_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        whitespace_token_count("text").alias("n_tokens"),
        bpe_ish_token_count("text").alias("n_bpe_tokens"),
        F.length("text").alias("n_chars_actual"),
        F.round(punct_ratio("text"), 6).alias("punct_ratio"),
    )


SQL_TEXT_STATS = r"""
SELECT doc_id,
       CASE WHEN length(regexp_replace(trim(text), '\s+', ' ', 'g')) = 0 THEN 0
            ELSE len(string_split(regexp_replace(trim(text), '\s+', ' ', 'g'), ' '))
       END AS n_tokens,
       len(regexp_extract_all(text, '([A-Za-z]+|[0-9]+|[^A-Za-z0-9\s])')) AS n_bpe_tokens,
       length(text) AS n_chars_actual,
       round(CASE WHEN length(text) = 0 THEN 0.0
             ELSE (length(text) - length(regexp_replace(text, '[!-/:-@\[-`{-~]', '', 'g')))::DOUBLE
                  / length(text) END, 6) AS punct_ratio
FROM documents
"""


def q_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus curation gate: keep documents passing ALL 3 quality
    criteria (length band, punctuation ratio, mean word length) — the
    filter stage of a training-data pipeline.  The 0.9 threshold on the
    mean criterion score only passes 3-of-3 (2/3 ≈ 0.667 < 0.9)."""
    from data_reconciliation_spark.functions.text import (
        quality_score,
        whitespace_token_count,
    )

    docs = read_table(spark, sf_dir, "documents")
    # min_tokens=55 sits mid-distribution for the synthetic corpus, so
    # the gate actually separates documents instead of passing all
    return (
        docs.select(
            "doc_id",
            whitespace_token_count("text").alias("n_tokens"),
            F.round(quality_score("text", min_tokens=55), 4).alias("quality"),
        )
        .where(F.col("quality") >= 0.9)
    )


SQL_QUALITY_FILTER = r"""
WITH q AS (
  SELECT doc_id,
         CASE WHEN length(regexp_replace(trim(text), '\s+', ' ', 'g')) = 0 THEN 0
              ELSE len(string_split(regexp_replace(trim(text), '\s+', ' ', 'g'), ' '))
         END AS n_tokens,
         CASE WHEN length(text) = 0 THEN 0.0
              ELSE (length(text) - length(regexp_replace(text, '[!-/:-@\[-`{-~]', '', 'g')))::DOUBLE
                   / length(text) END AS pr,
         length(replace(regexp_replace(trim(text), '\s+', ' ', 'g'), ' ', ''))::DOUBLE AS n_chars_nospace
  FROM documents
)
SELECT doc_id, n_tokens,
       round(((CASE WHEN n_tokens >= 55 AND n_tokens <= 100000 THEN 1.0 ELSE 0.0 END)
            + (CASE WHEN pr <= 0.2 THEN 1.0 ELSE 0.0 END)
            + (CASE WHEN n_tokens > 0
                     AND n_chars_nospace / n_tokens >= 2.0
                     AND n_chars_nospace / n_tokens <= 12.0 THEN 1.0 ELSE 0.0 END))
            / 3.0, 4) AS quality
FROM q
WHERE round(((CASE WHEN n_tokens >= 55 AND n_tokens <= 100000 THEN 1.0 ELSE 0.0 END)
           + (CASE WHEN pr <= 0.2 THEN 1.0 ELSE 0.0 END)
           + (CASE WHEN n_tokens > 0
                    AND n_chars_nospace / n_tokens >= 2.0
                    AND n_chars_nospace / n_tokens <= 12.0 THEN 1.0 ELSE 0.0 END))
           / 3.0, 4) >= 0.9
"""


def q_top_k_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus token statistics: top-20 tokens by frequency with a
    deterministic (count desc, token asc) tie-break — the wordcount
    profile a tokenizer-budget estimate starts from."""
    from data_reconciliation_spark.functions.normalize import normalized_text

    docs = read_table(spark, sf_dir, "documents")
    return (
        docs.select(
            F.explode(F.split(F.lower(normalized_text(F.col("text"))), " ")).alias(
                "token"
            )
        )
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), F.col("token"))
        .limit(20)
    )


SQL_TOP_K_TOKENS = r"""
SELECT token, COUNT(*)::BIGINT AS n
FROM (
  SELECT unnest(string_split(lower(regexp_replace(trim(text), '\s+', ' ', 'g')), ' ')) AS token
  FROM documents
)
GROUP BY token
ORDER BY n DESC, token
LIMIT 20
"""


def q_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end corpus curation as ONE Catalyst plan: quality gate ->
    exact dedup (keep lowest-id per fingerprint) -> per-language kept
    counts.  The composition the training-data pipeline runs nightly."""
    from data_reconciliation_spark.functions.text import quality_score
    from data_reconciliation_spark.operators.dedup import text_fingerprint

    docs = read_table(spark, sf_dir, "documents")
    passed = docs.where(F.round(quality_score("text", min_tokens=55), 4) >= 0.9)
    keep = (
        passed.select("doc_id", "lang", text_fingerprint("text").alias("fp"))
        .groupBy("fp")
        .agg(F.min("doc_id").alias("doc_id"))
    )
    kept_docs = keep.join(
        passed.select("doc_id", "lang"), "doc_id"
    )
    return kept_docs.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs")
    )


SQL_CURATION = r"""
WITH q AS (
  SELECT doc_id, lang,
         md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g'))) AS fp,
         CASE WHEN length(regexp_replace(trim(text), '\s+', ' ', 'g')) = 0 THEN 0
              ELSE len(string_split(regexp_replace(trim(text), '\s+', ' ', 'g'), ' '))
         END AS n_tokens,
         CASE WHEN length(text) = 0 THEN 0.0
              ELSE (length(text) - length(regexp_replace(text, '[!-/:-@\[-`{-~]', '', 'g')))::DOUBLE
                   / length(text) END AS pr,
         length(replace(regexp_replace(trim(text), '\s+', ' ', 'g'), ' ', ''))::DOUBLE AS ncs
  FROM documents
),
passed AS (
  SELECT * FROM q
  WHERE round(((CASE WHEN n_tokens >= 55 AND n_tokens <= 100000 THEN 1.0 ELSE 0.0 END)
             + (CASE WHEN pr <= 0.2 THEN 1.0 ELSE 0.0 END)
             + (CASE WHEN n_tokens > 0 AND ncs / n_tokens >= 2.0
                      AND ncs / n_tokens <= 12.0 THEN 1.0 ELSE 0.0 END)) / 3.0, 4) >= 0.9
),
keep AS (SELECT fp, MIN(doc_id) AS doc_id FROM passed GROUP BY fp)
SELECT p.lang, COUNT(*)::BIGINT AS n_docs
FROM keep k JOIN passed p USING (doc_id)
GROUP BY p.lang
"""


def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_reconciliation_spark.functions.text import lang_id

    docs = read_table(spark, sf_dir, "documents")
    return docs.select("doc_id", lang_id("text").alias("lang_guess"))


# DuckDB replica of the argmax-with-struct-tiebreak: Spark's
# greatest(struct(hits, lang)) favors the lexicographically larger lang
# on hit ties ('es' > 'en' > 'de').
SQL_LANG_ID = r"""
WITH t AS (
  SELECT doc_id,
         string_split(lower(regexp_replace(trim(text), '\s+', ' ', 'g')), ' ') AS toks
  FROM documents),
h AS (
  SELECT doc_id,
    len(list_filter(toks, x -> list_contains(
      ['the','and','of','to','in','is','a','that','it','for'], x))) AS h_en,
    len(list_filter(toks, x -> list_contains(
      ['der','die','das','und','ist','ein','nicht','mit','zu','auf'], x))) AS h_de,
    len(list_filter(toks, x -> list_contains(
      ['el','la','de','que','y','en','un','es','se','no'], x))) AS h_es
  FROM t)
SELECT doc_id,
  CASE WHEN h_es > 0 AND h_es >= h_en AND h_es >= h_de THEN 'es'
       WHEN h_en > 0 AND h_en >= h_de THEN 'en'
       WHEN h_de > 0 THEN 'de'
       ELSE 'und' END AS lang_guess
FROM h
"""


# ---------------------------------------------------------------------------
# ANN: brute-force cosine top-k (exact; double math both sides)
# ---------------------------------------------------------------------------

def q_ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_reconciliation_spark.operators.similarity_search import brute_force_topk

    emb = read_table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    top = brute_force_topk(emb, queries, k=5)
    return top.select("query_id", "vec_id", F.round("cosine", 4).alias("cosine"), "rank")


SQL_ANN = """
WITH pairs AS (
  SELECT q.vec_id AS query_id, c.vec_id,
         list_sum(list_transform(range(1, len(c.embedding) + 1),
            i -> c.embedding[i]::DOUBLE * q.embedding[i]::DOUBLE))
         / (sqrt(list_sum(list_transform(c.embedding, x -> x::DOUBLE * x::DOUBLE)))
            * sqrt(list_sum(list_transform(q.embedding, x -> x::DOUBLE * x::DOUBLE))))
         AS cos_full
  FROM embeddings c CROSS JOIN (SELECT * FROM embeddings WHERE vec_id < 3) q),
ranked AS (
  SELECT query_id, vec_id, cos_full,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cos_full DESC, vec_id) AS rank
  FROM pairs)
SELECT query_id, vec_id, round(cos_full, 4) AS cosine, rank
FROM ranked WHERE rank <= 5
"""


# ---------------------------------------------------------------------------
# Connected components on a deterministic chain graph (C1)
# ---------------------------------------------------------------------------

def q_cluster_chain_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chains of 20 consecutive event ids; the star-contraction output
    must label every node with the chain head — an exactly-known oracle
    that still forces multiple contraction rounds."""
    from data_reconciliation_spark.operators.cluster import connected_components

    ev = read_table(spark, sf_dir, "events").select("event_id")
    # string node ids sort lexicographically; zero-pad for numeric order
    edges = ev.where(F.col("event_id") % 20 != 0).select(
        F.format_string("n%09d", F.col("event_id")).alias("src"),
        F.format_string("n%09d", F.col("event_id") - 1).alias("dst"),
    )
    # event_id is unique per row, so each edge appears exactly once:
    # assume_distinct skips the closure's entry distinct() — one full
    # edge shuffle saved (same contract pipeline.link uses; results
    # identical, oracle-verified)
    comp = connected_components(edges, assume_distinct=True)
    return comp.select(F.col("node"), F.col("component"))


SQL_CLUSTER_CHAIN = """
WITH nodes AS (
  SELECT event_id FROM events
  WHERE event_id % 20 <> 0
  UNION
  SELECT event_id - 1 FROM events WHERE event_id % 20 <> 0
)
SELECT printf('n%09d', event_id) AS node,
       printf('n%09d', event_id - (event_id % 20)) AS component
FROM nodes
"""


# ---------------------------------------------------------------------------
# MinHash-LSH / SimHash dedup — fully oracle-checked configurations.
#
# LSH output is provably equal to a brute-force SQL oracle exactly when
# recall is guaranteed, so the driver queries pin those configs:
#  * minhash: shingle_size=1 + verify_threshold=1.0 — identical token
#    sets => identical signatures => collide on every band; the verify
#    filter then keeps exactly the token-set-equal pairs, which DuckDB
#    recomputes directly.  (Probabilistic-recall thresholds are covered
#    by pytest with a brute-force Jaccard oracle.)
#  * simhash: md5-nibble signature (attach_simhash64_md5) + pigeonhole
#    recall (max_hamming < n_chunks) — output == ALL pairs with hamming
#    <= max_hamming, and DuckDB reproduces the signature bit-for-bit from
#    md5() + integer arithmetic.
# ---------------------------------------------------------------------------

def q_minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_reconciliation_spark.config import BlockingConfig
    from data_reconciliation_spark.operators.dedup import minhash_lsh_pairs

    docs = read_table(spark, sf_dir, "documents")
    # 32 hashes, bands=2 x rows=16: identical token sets still collide
    # on every band (recall exactly 1 at jaccard=1.0), while 16-row
    # bands make spurious single-token-shingle collisions ~jaccard^16 —
    # the candidate set stays near the true dup set instead of
    # exploding, and the signature fold costs half of the default 64.
    # max_block_size=None: the SQL oracle enumerates ALL qualifying
    # pairs, so the hot-bucket star-pairing fallback (which emits only a
    # connectivity-preserving subset for over-cap duplicate clusters)
    # must be disabled for the hash comparison to be exact.
    return minhash_lsh_pairs(
        docs,
        cfg=BlockingConfig(
            shingle_size=1, num_hashes=32, bands=2, max_block_size=None
        ),
        verify_threshold=1.0,
    )


SQL_MINHASH = r"""
WITH norm AS (
  SELECT doc_id,
         list_sort(list_distinct(
             string_split(regexp_replace(trim(text), '\s+', ' ', 'g'), ' ')
         )) AS tokset
  FROM documents
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b, 1.0 AS jaccard
FROM norm a JOIN norm b ON a.tokset = b.tokset AND a.doc_id < b.doc_id
"""


def q_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_reconciliation_spark.operators.dedup import simhash_pairs

    docs = read_table(spark, sf_dir, "documents")
    # max_bucket_size=None: oracle enumerates all hamming<=6 pairs, so
    # the over-cap star-pairing fallback must be off (see dedup.py).
    return simhash_pairs(docs, max_hamming=6, n_chunks=8, max_bucket_size=None)


# brute-force oracle: md5-nibble SimHash per doc (bit-identical to
# attach_simhash64_md5), then every pair with bit_count(xor) <= 6 — valid
# because 8 chunks guarantee recall for any hamming <= 7 by pigeonhole.
SQL_SIMHASH = r"""
WITH norm AS (
  SELECT doc_id, regexp_replace(trim(text), '\s+', ' ', 'g') AS t
  FROM documents
),
toks AS (
  SELECT doc_id, unnest(string_split(t, ' ')) AS tok FROM norm
),
bits AS (
  SELECT doc_id, j.j AS j,
         SUM(CASE WHEN (((('0x' || substr(md5(tok), (j.j // 4) + 1, 1))::INT)
                         >> (3 - (j.j % 4))) & 1) = 1
                  THEN 1 ELSE -1 END) AS s
  FROM toks, range(64) j(j)
  GROUP BY doc_id, j.j
),
ntok AS (SELECT doc_id, COUNT(*) AS n FROM toks GROUP BY doc_id),
sig AS (
  -- NULL beyond 16383 tokens: mirrors simhash64_native's 15-bit-lane
  -- exact-range guard (null signatures drop out of the pair join)
  SELECT b.doc_id,
         CASE WHEN nt.n <= 16383 THEN
           SUM(CASE WHEN j > 0 AND s > 0 THEN (1::BIGINT << (63 - j))
                    WHEN j = 0 AND s > 0 THEN -9223372036854775808
                    ELSE 0 END)::BIGINT
         END AS simhash
  FROM bits b JOIN ntok nt USING (doc_id) GROUP BY b.doc_id, nt.n
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
FROM sig a JOIN sig b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= 6
"""


# ---------------------------------------------------------------------------
# Rows-only queries (no SQL oracle: indel kernel, ER pipeline)
# ---------------------------------------------------------------------------


def q_indel_ratio_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """rapidfuzz-parity fuzzy scoring (F2) — consecutive-doc pairs."""
    from data_reconciliation_spark.functions.similarity import indel_ratio_udf

    docs = read_table(spark, sf_dir, "documents")
    a = docs.select(F.col("doc_id").alias("id_a"), F.col("text").alias("ta"))
    b = docs.select(
        (F.col("doc_id") - 1).alias("id_a"),
        F.col("doc_id").alias("id_b"),
        F.col("text").alias("tb"),
    )
    return (
        a.join(b, "id_a")
        .select(
            "id_a", "id_b",
            F.round(indel_ratio_udf(F.col("ta"), F.col("tb")), 4).alias("ratio"),
        )
    )


def q_er_link_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship ER pipeline on deterministic synthetic pages (the
    testdata tables carry no page corpus; the generator is seeded, so
    this is reproducible).

    No SQL oracle can express the pipeline, so this query VERIFIES
    ITSELF against the generator's ground-truth ``entity_id`` before
    returning (round-2 verdict #7 — stronger than a row count): every
    produced cluster must be entity-pure (no cluster merges two true
    entities), every page must be labeled exactly once, and the cluster
    count must not exceed the true entity count by more than the
    tolerated singleton-split fraction implied by the F1 >= 0.99 target.
    A violation raises, which the driver records as a query error.
    """
    from data_reconciliation_spark.plans.pipeline import link
    from data_reconciliation_spark.testgen import generate_pages

    pages = generate_pages(spark, n_rows=400, n_entities=100, seed=42)
    res = link(pages)
    clusters = res.clusters

    joined = clusters.join(pages.select("url", "entity_id"), "url")
    row = joined.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.countDistinct("url").alias("n_urls"),
        F.countDistinct("entity").alias("n_clusters"),
        F.countDistinct("entity_id").alias("n_true"),
    ).collect()[0]
    n_pages = pages.count()
    if row["n_rows"] != n_pages or row["n_urls"] != n_pages:
        raise RuntimeError(
            f"er_link_clusters: every page must be labeled exactly once "
            f"(rows={row['n_rows']}, urls={row['n_urls']}, pages={n_pages})"
        )
    impure = (
        joined.groupBy("entity")
        .agg(F.countDistinct("entity_id").alias("k"))
        .where(F.col("k") > 1)
        .count()
    )
    if impure:
        raise RuntimeError(f"er_link_clusters: {impure} clusters merge >1 true entity")
    if not (row["n_true"] <= row["n_clusters"] <= int(row["n_true"] * 1.1)):
        raise RuntimeError(
            f"er_link_clusters: cluster count {row['n_clusters']} vs "
            f"{row['n_true']} true entities exceeds 10% split tolerance"
        )
    # the invariant checks above consumed scored_pairs via the closure;
    # clusters reads only the closure's labels (a local relation after
    # the driver finish), so the scoring caches can be freed before
    # the query returns
    res.release()
    return clusters

# ---------------------------------------------------------------------------
# X5/X6/X7: multi-format date parse, datediff, change-summary formatting
# ---------------------------------------------------------------------------

def q_x5_multiformat_dates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date strings in three configured formats (mapping.yaml:35-39),
    parsed back via first-successful multi-format coalesce."""
    from data_reconciliation_spark.functions.summary import parse_date_multi

    orders = read_table(spark, sf_dir, "orders")
    s = (
        F.when(F.col("o_orderkey") % 3 == 0, F.date_format("o_orderdate", "yyyy-MM-dd"))
        .when(F.col("o_orderkey") % 3 == 1, F.date_format("o_orderdate", "dd MMM yyyy"))
        .otherwise(F.date_format("o_orderdate", "yyyy/MM/dd"))
    )
    df = orders.select("o_orderkey", s.alias("date_str"))
    return df.select(
        "o_orderkey", "date_str", parse_date_multi("date_str").alias("parsed_date")
    )


SQL_X5 = """
WITH s AS (
  SELECT o_orderkey,
         CASE WHEN o_orderkey % 3 = 0 THEN strftime(o_orderdate, '%Y-%m-%d')
              WHEN o_orderkey % 3 = 1 THEN strftime(o_orderdate, '%d %b %Y')
              ELSE strftime(o_orderdate, '%Y/%m/%d') END AS date_str
  FROM orders)
SELECT o_orderkey, date_str,
       CAST(COALESCE(try_strptime(date_str, '%Y-%m-%d'),
                     try_strptime(date_str, '%d %b %Y'),
                     try_strptime(date_str, '%Y/%m/%d')) AS DATE) AS parsed_date
FROM s
"""


def q_x7_change_summaries(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference exception_builder.py summary strings over deterministic
    old/new value pairs: numeric delta+pct, date shift, text truncation,
    and null add/remove branches."""
    from data_reconciliation_spark.functions.summary import exception_summary

    orders = read_table(spark, sf_dir, "orders")
    base = orders.select(
        "o_orderkey",
        F.col("o_totalprice").alias("num_old"),
        (F.col("o_totalprice") + (F.col("o_orderkey") % 7).cast("double") * 1.5).alias(
            "num_new"
        ),
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("date_old"),
        F.date_format(
            F.date_add("o_orderdate", (F.col("o_orderkey") % 5 - 2).cast("int")),
            "yyyy-MM-dd",
        ).alias("date_new"),
        F.col("o_orderpriority").alias("txt_old"),
        # every 4th row: long text (truncation branch); every 9th: null
        F.when(F.col("o_orderkey") % 9 == 0, F.lit(None).cast("string"))
        .when(
            F.col("o_orderkey") % 4 == 0,
            F.concat(F.col("o_orderpriority"), F.lit(" with a very long suffix attached")),
        )
        .otherwise(F.concat(F.col("o_orderpriority"), F.lit("!")))
        .alias("txt_new"),
    )
    return base.select(
        "o_orderkey",
        exception_summary("num_old", "num_new", "decimal").alias("num_summary"),
        exception_summary("date_old", "date_new", "date").alias("date_summary"),
        exception_summary("txt_old", "txt_new", None).alias("txt_summary"),
    )


SQL_X7 = """
WITH base AS (
  SELECT o_orderkey,
         o_totalprice AS num_old,
         o_totalprice + (o_orderkey % 7) * 1.5 AS num_new,
         CAST(o_orderdate AS DATE) AS d_old,
         CAST(o_orderdate AS DATE) + CAST((o_orderkey % 5 - 2) AS INTEGER) AS d_new,
         o_orderpriority AS txt_old,
         CASE WHEN o_orderkey % 9 = 0 THEN NULL
              WHEN o_orderkey % 4 = 0
                THEN o_orderpriority || ' with a very long suffix attached'
              ELSE o_orderpriority || '!' END AS txt_new
  FROM orders)
SELECT o_orderkey,
  CASE WHEN num_old <> 0
       THEN printf('changed by %+.2f (%+.2f%%)', num_new - num_old,
                   (num_new - num_old) / num_old * 100.0)
       ELSE printf('changed by %+.2f', num_new - num_old) END AS num_summary,
  CASE datediff('day', d_old, d_new)
       WHEN 0 THEN 'same date, time changed'
       WHEN 1 THEN 'shifted by 1 day'
       WHEN -1 THEN 'shifted by -1 day'
       ELSE printf('shifted by %+d days', datediff('day', d_old, d_new)) END
    AS date_summary,
  CASE WHEN txt_new IS NULL THEN printf('removed: %s', txt_old)
       ELSE printf('from ''%s'' to ''%s''',
              CASE WHEN length(txt_old) > 30
                   THEN substr(txt_old, 1, 30) || '...' ELSE txt_old END,
              CASE WHEN length(txt_new) > 30
                   THEN substr(txt_new, 1, 30) || '...' ELSE txt_new END)
  END AS txt_summary
FROM base
"""

# ---------------------------------------------------------------------------
# A3/A4: distinct-value aggregates
# ---------------------------------------------------------------------------

def q_a3_distinct_systems(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3 (app.py:144-145): SELECT DISTINCT over the dataset-family
    columns."""
    docs = read_table(spark, sf_dir, "documents")
    return docs.select("lang", "source").distinct()


SQL_A3 = "SELECT DISTINCT lang, source FROM documents"


def q_a4_distinct_pks_per_system(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4 (app.py:163-168): the set of keys used per system — expressed
    as a sorted distinct list so both engines agree on ordering."""
    ev = read_table(spark, sf_dir, "events")
    return ev.groupBy("user_id").agg(
        F.array_join(F.sort_array(F.collect_set("event_type")), ",").alias(
            "event_types"
        ),
        F.count_distinct("event_type").alias("n_types"),
    )


SQL_A4 = """
SELECT user_id,
       array_to_string(list_sort(list_distinct(list(event_type))), ',') AS event_types,
       CAST(COUNT(DISTINCT event_type) AS BIGINT) AS n_types
FROM events GROUP BY user_id
"""

# ---------------------------------------------------------------------------
# Temporal joins (engine extensions): as-of + bucketed range join
# ---------------------------------------------------------------------------

def q_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """For each error event, the most recent signup of the same user at
    or before it (pd.merge_asof semantics == DuckDB ASOF LEFT JOIN)."""
    from data_reconciliation_spark.operators.temporal import asof_join

    ev = read_table(spark, sf_dir, "events")
    errors = ev.where(F.col("event_type") == "error").select(
        "event_id", "user_id", "ts"
    )
    signups = ev.where(F.col("event_type") == "signup").select(
        "user_id", "ts", "value"
    )
    out = asof_join(
        errors, signups, ts_col="ts", by=["user_id"], right_payload=["value"]
    )
    return out.select(
        "event_id", "user_id", "ts", "ts_right",
        F.round("value_right", 4).alias("signup_value"),
    )


SQL_ASOF = """
SELECT l.event_id, l.user_id, l.ts, r.ts AS ts_right,
       round(r.value, 4) AS signup_value
FROM (SELECT event_id, user_id, ts FROM events WHERE event_type = 'error') l
ASOF LEFT JOIN (SELECT user_id, ts, value FROM events WHERE event_type = 'signup') r
  ON l.user_id = r.user_id AND l.ts >= r.ts
"""


def q_range_join_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per user: number of (error, signup) pairs with the error within
    1h after the signup — bucketed range join (equi-join on time bucket
    + exact filter), never an O(n^2) theta join."""
    from data_reconciliation_spark.operators.temporal import bucketed_range_join

    ev = read_table(spark, sf_dir, "events")
    errors = ev.where(F.col("event_type") == "error").select("user_id", "ts")
    signups = ev.where(F.col("event_type") == "signup").select("user_id", "ts")
    pairs = bucketed_range_join(
        errors, signups, key="user_id", ts_col="ts", window_seconds=3600
    )
    return pairs.groupBy("user_id").agg(F.count(F.lit(1)).alias("n_pairs"))


def q_sessionize_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (batch twin of the streaming
    applyInPandasWithState operator) over the events table."""
    from data_reconciliation_spark.operators.temporal import sessionize_batch

    ev = read_table(spark, sf_dir, "events").select("user_id", "ts")
    return sessionize_batch(ev, key_col="user_id", ts_col="ts", gap_seconds=1800)


SQL_SESSIONIZE = """
WITH e AS (
  SELECT user_id, ts,
         CASE WHEN floor(epoch(ts)) - floor(epoch(lag(ts) OVER w)) > 1800
              THEN 1 ELSE 0 END AS brk
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts)
),
s AS (
  SELECT user_id, ts,
         SUM(brk) OVER (PARTITION BY user_id ORDER BY ts
                        ROWS UNBOUNDED PRECEDING) AS sess
  FROM e
)
SELECT user_id, MIN(ts) AS session_start, MAX(ts) AS session_end,
       COUNT(*)::BIGINT AS n_events
FROM s GROUP BY user_id, sess
"""


# unix_timestamp truncates to whole seconds; floor(epoch(...)) mirrors it.
SQL_RANGE = """
SELECT l.user_id, COUNT(*) AS n_pairs
FROM (SELECT user_id, ts FROM events WHERE event_type = 'error') l
JOIN (SELECT user_id, ts FROM events WHERE event_type = 'signup') r
  ON l.user_id = r.user_id
 AND floor(epoch(l.ts)) - floor(epoch(r.ts)) >= 0
 AND floor(epoch(l.ts)) - floor(epoch(r.ts)) <= 3600
GROUP BY l.user_id
"""
