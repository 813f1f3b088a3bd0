"""Deterministic, fully-distributed synthetic web-page generator.

Produces the engine's primary input table (FIXTURES.md §1 / driver
``input_hint`` schema: ``url, warc_ts, html, text, lang`` plus a
ground-truth ``entity_id`` used only by tests) and labeled match pairs
(FIXTURES.md §2).

Every column is derived from ``spark.range(n)`` ids through native
hash expressions — no driver-side data, no RNG state — so generation is
embarrassingly parallel and byte-stable at any scale and any
parallelism (the same row id always yields the same bytes, whether the
job runs on local[2] or 1000 executors).  That property is what makes
the two-parallelism scaling benchmark an apples-to-apples comparison.

Skew is built in deliberately: ~20% of rows land on one hot host
(FIXTURES.md: "one hot host holding >=20% of rows") to exercise the
hot-block guard of the blocking self-join.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

# Small fixed vocabulary; deterministic word choice via xxhash64 mixing.
_VOCAB = [
    "news", "market", "report", "team", "launch", "update", "product", "data",
    "cloud", "server", "query", "index", "page", "story", "event", "review",
    "guide", "price", "stock", "model", "paper", "study", "result", "method",
    "world", "local", "sport", "music", "video", "photo", "travel", "health",
]

HOT_HOST = "hot.example.com"

_HTML_PREFIX = "<html><head><title>"
_HTML_MID = "</title></head><body><article>"
_HTML_SUFFIX = "</article></body></html>"


def _vocab_word(seed: Column) -> Column:
    """Deterministic vocab pick: base word + hash-derived suffix.

    The suffix widens the effective token space to |VOCAB| * 97 ≈ 3100
    distinct tokens so token-set similarity between *unrelated* documents
    is low (a bare 32-word vocabulary saturates set overlap)."""
    arr = F.array(*[F.lit(w) for w in _VOCAB])
    base = F.element_at(arr, (F.pmod(seed, F.lit(len(_VOCAB))) + 1).cast("int"))
    suffix = F.pmod(F.abs(seed), F.lit(97)).cast("string")
    return F.concat(base, suffix)


def generate_pages(
    spark: SparkSession,
    n_rows: int = 2_000,
    n_entities: int | None = None,
    words_per_doc: int = 40,
    n_hosts: int = 50,
    hot_host_pct: int = 20,
    seed: int = 42,
    partitions: int | None = None,
) -> DataFrame:
    """Generate ``n_rows`` synthetic pages, ~``n_rows/n_entities`` page
    variants per true entity.

    Returned columns: ``url, warc_ts, html, text, lang`` (input_hint
    schema) + ground-truth ``entity_id`` (bigint) and ``member_idx``.
    ``text`` is byte-identically extractable from ``html``
    (normalize.extract_text_from_html), by construction.
    """
    n_entities = n_entities or max(1, n_rows // 4)
    base = spark.range(n_rows, numPartitions=partitions)

    # entity assignment: deterministic pseudo-random, variable cluster sizes
    ent = F.pmod(F.xxhash64(F.col("id"), F.lit(seed)), F.lit(n_entities)).alias(
        "entity_id"
    )
    df = base.select(F.col("id"), ent)
    # member index within entity: stable rank of id within the entity — not
    # needed for semantics, only for URL uniqueness; derive from id directly.
    df = df.withColumn("member_idx", F.col("id"))

    # host: ~hot_host_pct% of *entities* on the hot host => hot-host rows
    ent_h = F.pmod(F.xxhash64(F.col("entity_id"), F.lit(seed + 1)), F.lit(100))
    host = F.when(ent_h < hot_host_pct, F.lit(HOT_HOST)).otherwise(
        F.concat(
            F.lit("site"),
            F.pmod(F.xxhash64(F.col("entity_id"), F.lit(seed + 2)), F.lit(n_hosts)).cast(
                "string"
            ),
            F.lit(".example.org"),
        )
    )
    df = df.withColumn("host", host)

    # base text: words_per_doc deterministic vocab words per entity
    words = F.transform(
        F.sequence(F.lit(0), F.lit(words_per_doc - 1)),
        lambda i: _vocab_word(F.xxhash64(F.col("entity_id"), i, F.lit(seed + 3))),
    )
    # per-member perturbation: 0 identical, 1 drop last token,
    # 2 swap first two tokens, 3 append a member-specific token
    variant = F.pmod(F.xxhash64(F.col("id"), F.lit(seed + 4)), F.lit(4))
    words_v = (
        F.when(variant == 1, F.slice(words, 1, words_per_doc - 1))
        .when(
            variant == 2,
            F.concat(
                F.slice(words, 2, 1), F.slice(words, 1, 1), F.slice(words, 3, words_per_doc - 2)
            ),
        )
        .when(
            variant == 3,
            F.concat(words, F.array(_vocab_word(F.xxhash64(F.col("id"), F.lit(seed + 5))))),
        )
        .otherwise(words)
    )
    df = df.withColumn("text", F.array_join(words_v, " "))

    # title: first 4 words of the entity base text (shared within cluster)
    df = df.withColumn("title", F.array_join(F.slice(words, 1, 4), " "))

    # URL variants: scheme / www / trailing slash / tracking query
    scheme = F.when(F.pmod(F.col("member_idx"), 2) == 0, F.lit("https://")).otherwise(
        F.lit("http://")
    )
    www = F.when(F.pmod(F.col("member_idx"), 3) == 0, F.lit("www.")).otherwise(F.lit(""))
    slash = F.when(F.pmod(F.col("member_idx"), 5) == 0, F.lit("/")).otherwise(F.lit(""))
    query = F.when(
        F.pmod(F.col("member_idx"), 7) == 0,
        F.concat(F.lit("?utm=x"), F.pmod(F.col("member_idx"), 9).cast("string")),
    ).otherwise(F.lit(""))
    url = F.concat(
        scheme, www, F.col("host"),
        F.lit("/e"), F.col("entity_id").cast("string"),
        F.lit("/p"), F.col("member_idx").cast("string"),
        slash, query,
    )
    df = df.withColumn("url", url)

    # html wraps title+text deterministically (extraction inverse in
    # normalize.extract_text_from_html is byte-identical by construction)
    html_str = F.concat(
        F.lit(_HTML_PREFIX), F.col("title"), F.lit(_HTML_MID), F.col("text"),
        F.lit(_HTML_SUFFIX),
    )
    df = df.withColumn("html", F.encode(html_str, "UTF-8"))

    df = df.withColumn(
        "warc_ts",
        F.timestamp_seconds(F.lit(1_700_000_000) + F.pmod(F.col("id") * 37, F.lit(86_400 * 30))),
    )
    lang_h = F.pmod(F.xxhash64(F.col("entity_id"), F.lit(seed + 6)), F.lit(10))
    df = df.withColumn(
        "lang",
        F.when(lang_h < 8, F.lit("en")).when(lang_h == 8, F.lit("de")).otherwise(F.lit("es")),
    )

    return df.select(
        "url", "warc_ts", "html", "text", "lang", "entity_id", "member_idx", "host", "title"
    )


def labeled_pairs(pages: DataFrame, max_pairs_per_block: int = 200) -> DataFrame:
    """Golden labeled pairs (FIXTURES.md §2): candidates share the host
    blocking key; ``is_match`` = same ground-truth entity.

    Positives = intra-entity pairs; hard negatives = same-host pairs
    across entities.  Per-block caps keep the hot host from exploding the
    fixture (deterministic cap via hash ordering, not sampling).
    """
    a = pages.select(
        F.col("url").alias("url_a"), F.col("entity_id").alias("ent_a"),
        F.col("host").alias("block_key"),
    )
    b = pages.select(
        F.col("url").alias("url_b"), F.col("entity_id").alias("ent_b"),
        F.col("host").alias("block_key"),
    )
    pairs = (
        a.join(b, "block_key")
        .where(F.col("url_a") < F.col("url_b"))
        .withColumn("is_match", F.col("ent_a") == F.col("ent_b"))
    )
    # deterministic per-block cap, match-balanced: rank within (block, label)
    from pyspark.sql.window import Window

    w = Window.partitionBy("block_key", "is_match").orderBy(
        F.xxhash64("url_a", "url_b")
    )
    pairs = (
        pairs.withColumn("__rk", F.row_number().over(w))
        .where(F.col("__rk") <= max_pairs_per_block)
        .drop("__rk")
    )
    return pairs.select("url_a", "url_b", "block_key", "is_match")
