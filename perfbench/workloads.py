"""The benchmark's workloads: seeded inputs, one operation each, the
check every operation's output must pass, and a traced pass that
materializes each layer's output at its boundary.

Every workload drives the public API of ``data_reconciliation_spark``
and nothing else: ``plans.pipeline.link``,
``operators.reconcile.reconcile`` and ``operators.dedup``'s
``minhash_lsh_pairs`` / ``simhash_pairs``.  The program receives only the
inputs generated here from the seed.
"""

from __future__ import annotations

import hashlib
import re

import numpy as np
import pandas as pd
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from data_reconciliation_spark.config import BlockingConfig, ScoringConfig
from data_reconciliation_spark.lifecycle import cached_deps, release_cached
from data_reconciliation_spark.operators.blocking import candidate_pairs
from data_reconciliation_spark.operators.cluster import connected_components
from data_reconciliation_spark.operators.dedup import minhash_lsh_pairs, simhash_pairs
from data_reconciliation_spark.operators.reconcile import reconcile
from data_reconciliation_spark.operators.scoring import block_score_pipeline, prepare_pages
from data_reconciliation_spark.plans.pipeline import link
from data_reconciliation_spark.testgen import generate_pages
from tracing import MB, Tracer

MEM_DISK = StorageLevel.MEMORY_AND_DISK
PAIRWISE_F1_MIN = 0.99
CLUSTER_F1_MIN = 0.95


def _f1(tp: int, fp: int, fn: int) -> float:
    p = tp / (tp + fp) if tp + fp else 1.0
    r = tp / (tp + fn) if tp + fn else 1.0
    return 2 * p * r / (p + r) if p + r else 0.0


def _pair_count(sizes: pd.Series) -> int:
    return int((sizes * (sizes - 1) // 2).sum())


class Workload:
    """Inputs shared by every workload: each input build replaces the last."""

    inputs: tuple = ()

    def _persist_inputs(self, *dfs) -> int:
        """Unpersist the previous build's inputs, then persist and count
        ``dfs``; returns their summed row count."""
        for df in self.inputs:
            df.unpersist(blocking=True)
        self.inputs = tuple(df.persist(MEM_DISK) for df in dfs)
        return sum(df.count() for df in self.inputs)


def _stored_bytes(spark) -> int:
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() + i.diskSize() for i in infos)


# ---------------------------------------------------------------------------
# er_dense / er_sparse: link(pages)
# ---------------------------------------------------------------------------

def _cached_column_sets(df) -> list[frozenset]:
    """Column sets of the cached relations ``df``'s optimized plan reads."""
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    return [
        frozenset(re.findall(r"(\w+)#", cols))
        for cols in re.findall(r"InMemoryRelation \[([^\]]*)\]", plan)
    ]


class ErLink(Workload):
    """``link(pages)`` with default arguments on ``generate_pages``."""

    work_name = "pairs_scored"

    def __init__(self, seed: int, n_pages: int, n_hosts: int):
        self.seed, self.n_pages, self.n_hosts = seed, n_pages, n_hosts
        self.dedup_oracle = None

    def setup(self, spark) -> None:
        self.spark = spark
        self.pages = generate_pages(
            spark,
            n_rows=self.n_pages,
            n_hosts=self.n_hosts,
            seed=self.seed,
            partitions=spark.sparkContext.defaultParallelism,
        )
        self.records = self._persist_inputs(self.pages)

    def op(self, keep: bool = False) -> dict:
        res = link(self.pages)
        n_scored = res.scored_pairs.count()
        labels = res.clusters.toPandas()
        if not keep:
            res.release()
            res = None
        return {"res": res, "labels": labels, "work": n_scored}

    def release(self, out: dict) -> None:
        if out["res"] is not None:
            out["res"].release()

    def prepare_oracle(self) -> None:
        self.truth = self.pages.select("url", "entity_id").toPandas()
        self.urls = set(self.truth["url"])

    def check(self, out: dict) -> str | None:
        lab = out["labels"]
        if len(lab) != len(self.truth):
            return f"{len(lab)} labels for {len(self.truth)} pages"
        if lab["url"].duplicated().any():
            return "a url is labeled more than once"
        if set(lab["url"]) != self.urls:
            return "labels do not cover the input urls"
        if lab["entity"].isna().any():
            return "a url has a null entity"
        if out["work"] <= 0:
            return "no candidate pair was scored"
        return None

    def quality(self, out: dict) -> tuple[dict, str | None]:
        """Pairwise F1 of the verdicts on every candidate pair, and F1 of
        same-cluster pairs, both against the ground-truth entity_id."""
        t = self.pages.select("url", "entity_id")
        pairs = (
            out["res"].scored_pairs.select("url_a", "url_b", "is_match")
            .join(t.select(F.col("url").alias("url_a"), F.col("entity_id").alias("ea")), "url_a")
            .join(t.select(F.col("url").alias("url_b"), F.col("entity_id").alias("eb")), "url_b")
        )
        same, pred = F.col("ea") == F.col("eb"), F.col("is_match")
        r = pairs.agg(
            F.sum((pred & same).cast("long")).alias("tp"),
            F.sum((pred & ~same).cast("long")).alias("fp"),
            F.sum((~pred & same).cast("long")).alias("fn"),
        ).collect()[0]
        pairwise = _f1(r["tp"] or 0, r["fp"] or 0, r["fn"] or 0)
        lab = out["labels"].merge(self.truth, on="url")
        tp = _pair_count(lab.groupby(["entity", "entity_id"]).size())
        cluster = _f1(
            tp,
            _pair_count(lab.groupby("entity").size()) - tp,
            _pair_count(lab.groupby("entity_id").size()) - tp,
        )
        self.ref_labels = dict(zip(out["labels"]["url"], out["labels"]["entity"]))
        err = None
        if pairwise < PAIRWISE_F1_MIN or cluster < CLUSTER_F1_MIN:
            err = f"pairwise_f1={pairwise:.4f} cluster_f1={cluster:.4f} below the floor"
        return {"pairwise_f1": pairwise, "cluster_f1": cluster}, err

    def traced_pass(self, tr) -> tuple[dict, dict, str | None]:
        """link()'s composition, each layer's output materialized at its
        boundary.  Like link() for inputs under its latency threshold,
        blocking, scoring and the closure plan with AQE off; the label
        join runs under the session's own setting.

        Prep and candidates are persisted under the plans
        ``block_score_pipeline`` builds for them, so the scoring span
        calls ``block_score_pipeline`` itself and times only its payload
        joins and scoring.  The pass fails if that call does not read
        both caches (its stages changed shape), and if its labels differ
        from ``link()``'s.  A second traced pass runs the dedup kernels
        on the same pages' text."""
        spark = self.spark
        cfg, scfg = BlockingConfig(), ScoringConfig()
        rounds = []
        aqe = spark.conf.get("spark.sql.adaptive.enabled")
        with tr.span(None, "pass"):
            spark.conf.set("spark.sql.adaptive.enabled", "false")
            try:
                with tr.span("pipeline", "regime_count"):
                    self.pages.count()
                with tr.span("scoring", "prep"):
                    prep = prepare_pages(self.pages).persist(MEM_DISK)
                    prep.count()
                with tr.span("blocking", "candidates"):
                    cand = candidate_pairs(
                        prep.select("url", F.col("norm_text").alias("text")),
                        cfg,
                        id_col="url",
                        keep_hashed_ids=cfg.dictionary_ids,
                    ).persist(MEM_DISK)
                    n_cand = cand.count()
                stored0 = _stored_bytes(spark)
                with tr.span("scoring", "score"):
                    scored = block_score_pipeline(
                        self.pages, cfg, scfg, collect_fanout=False
                    ).persist(MEM_DISK)
                    n_scored = scored.count()
                persist_mb = (_stored_bytes(spark) - stored0) / MB
                with tr.span("cluster", "closure"):
                    comp = connected_components(
                        scored.where(F.col("is_match")).select("url_a", "url_b", "score"),
                        src="url_a",
                        dst="url_b",
                        assume_distinct=True,
                        on_round=lambda *r: rounds.append(r),
                    )
            finally:
                spark.conf.set("spark.sql.adaptive.enabled", aqe)
            with tr.span("pipeline", "labels"):
                labels = (
                    self.pages.select("url")
                    .join(comp, self.pages["url"] == comp["node"], "left")
                    .select("url", F.coalesce(F.col("component"), F.col("url")).alias("entity"))
                    .toPandas()
                )

        # counters, outside the pass: pre-dedup pair rows follow from the
        # cached block table (C(n,2) per block, n-1 star pairs per block
        # over the cap)
        cap = cfg.max_block_size
        n = F.col("count")
        per_block = n * (n - 1) / 2 if cap is None else F.when(n > cap, n - 1).otherwise(n * (n - 1) / 2)
        blocks = cached_deps(cand)[0].groupBy("block_key").count()
        b = blocks.agg(F.sum(n).alias("rows"), F.sum(per_block).alias("pre")).collect()[0]
        # score_pairs hands the Jaro-Winkler UDF NULL inputs for pairs
        # failing its prefilter, and gets NULL features back for them
        udf_in = F.col("url_jw").isNotNull() | F.col("title_jw").isNotNull()
        s = scored.agg(
            F.sum(udf_in.cast("long")).alias("udf"),
            F.sum(F.col("is_match").cast("long")).alias("matches"),
        ).collect()[0]
        scored.unpersist(blocking=True)
        # the same call again, with the scored cache gone: the plan it
        # scores must read the prep and candidate caches, as the timed
        # call did
        again = block_score_pipeline(self.pages, cfg, scfg, collect_fanout=False)
        reused = _cached_column_sets(again)
        release_cached(again)
        release_cached(scored)
        release_cached(cand)
        cand.unpersist()
        prep.unpersist()

        m, record = tr.finish()
        m["cluster.checkpoint_s"] = tr.busy_s(tr.span_named("cluster", "closure"), "localCheckpoint")
        m.update(
            {
                "scoring.pairs_scored": n_scored,
                "scoring.udf_pairs": s["udf"],
                "scoring.prefilter_pass_frac": s["udf"] / n_scored if n_scored else 0.0,
                "scoring.match_frac": s["matches"] / n_scored if n_scored else 0.0,
                "scoring.persist_mb": persist_mb,
                "blocking.block_rows": b["rows"],
                "blocking.candidate_pairs": n_cand,
                "blocking.dedup_ratio": n_cand / b["pre"] if b["pre"] else 0.0,
                "cluster.edges_in": s["matches"],
                "cluster.rounds": len(rounds),
            }
        )
        err = None
        if not {frozenset(prep.columns), frozenset(cand.columns)} <= set(reused):
            err = "block_score_pipeline did not read the prep and candidate caches"
        elif dict(zip(labels["url"], labels["entity"])) != self.ref_labels:
            err = "traced pass labels differ from link()'s"

        if self.dedup_oracle is None:
            self.dedup_oracle = DedupOracle(self.docs().toPandas())
        dm, record["dedup_pass"], d_err = traced_dedup(
            Tracer(spark, f"{tr.pass_no}-dedup"), self.docs(), self.dedup_oracle
        )
        m.update({k: v for k, v in dm.items() if k.startswith("dedup.")})
        return m, record, err or d_err

    def docs(self):
        """The pages as a document table for the dedup kernels."""
        return self.pages.select(F.col("member_idx").alias("doc_id"), "text")


# ---------------------------------------------------------------------------
# reconcile_snapshots: reconcile(old, new) with its defaults
# ---------------------------------------------------------------------------

RECON_PK = ["o_orderkey"]
RECON_CFG = {
    "ignore_nulls": False,
    "include_missing_records": True,
    "fields": {
        "o_totalprice": {"type": "decimal", "tolerance": 0.01},
        # reference rule F2: fuzzy string match through the indel-ratio UDF
        "o_clerk": {"type": "string", "fuzzy_match": 90},
    },
}
ORDERS_SCHEMA = (
    "o_orderkey long, o_custkey long, o_orderstatus string, o_totalprice double, "
    "o_orderdate date, o_orderpriority string, o_clerk string"
)
COMPARED = [c.split()[0] for c in ORDERS_SCHEMA.split(", ")][1:]
_PRIORITIES = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
_SCRAMBLE = str.maketrans("0123456789", "abcdefghij")


def _indel_ratio(a: str, b: str) -> float:
    """100 * 2 * LCS(a, b) / (len(a) + len(b)), the indel ratio."""
    if not a and not b:
        return 100.0
    prev = [0] * (len(b) + 1)
    for ca in a:
        cur = [0]
        for j, cb in enumerate(b):
            cur.append(prev[j] + 1 if ca == cb else max(prev[j + 1], cur[j]))
        prev = cur
    return 200.0 * prev[-1] / (len(a) + len(b))


def orders_snapshots(seed: int, n: int) -> tuple[pd.DataFrame, pd.DataFrame]:
    """Seeded TPC-H-shaped ``orders`` and the old/new snapshots derived
    from it the way ``plans.driver_queries._snapshots`` derives them
    (key-modulo splits, +0.02 price steps, an X-PRIORITY marker), plus a
    seeded perturbation of the fuzzy ``o_clerk`` field."""
    rng = np.random.default_rng(seed)
    key = np.arange(1, n + 1, dtype=np.int64)
    days = rng.integers(0, 2400, n).astype("timedelta64[D]")
    orders = pd.DataFrame(
        {
            "o_orderkey": key,
            "o_custkey": rng.integers(1, max(2, n // 10), n),
            "o_orderstatus": rng.choice(np.array(["F", "O", "P"]), n),
            "o_totalprice": np.round(rng.uniform(850.0, 550_000.0, n), 2),
            "o_orderdate": (np.datetime64("1992-01-01") + days).astype(object),
            "o_orderpriority": rng.choice(_PRIORITIES, n),
            "o_clerk": [f"Clerk#{c:09d}" for c in rng.integers(1, 101, n)],
        }
    )
    old = orders[key % 11 != 0].reset_index(drop=True)
    new = orders[key % 13 != 0].reset_index(drop=True)
    nk = new["o_orderkey"].to_numpy()
    new["o_totalprice"] = new["o_totalprice"] + (nk % 3) * 0.02
    new.loc[nk % 17 == 0, "o_orderpriority"] = "X-PRIORITY"
    # o_clerk: 3% gain a suffix (ratio 93.75, still a match), 3% have
    # their digits replaced by letters (ratio 40, an exception), 1% null
    u = rng.random(len(new))
    clerk = new["o_clerk"].to_numpy(dtype=object)
    clerk[u < 0.03] = [c + "-x" for c in clerk[u < 0.03]]
    scr = (u >= 0.03) & (u < 0.06)
    clerk[scr] = [c.translate(_SCRAMBLE) for c in clerk[scr]]
    clerk[(u >= 0.06) & (u < 0.07)] = None
    new["o_clerk"] = clerk
    return old, new


def reconcile_oracle(old: pd.DataFrame, new: pd.DataFrame) -> dict:
    """Reference semantics in pandas: outer merge on the key, per field
    both-null matches, one-null mismatches, else the field's rule."""
    m = old.merge(new, on=RECON_PK, how="outer", suffixes=("_o", "_n"), indicator=True)
    both = m[m["_merge"] == "both"]
    ratios: dict[tuple[str, str], float] = {}
    per_field = {}
    for c in COMPARED:
        o, n = both[f"{c}_o"], both[f"{c}_n"]
        o_null, n_null = o.isna(), n.isna()
        if c == "o_totalprice":
            diff = (o - n).abs() > 0.01
        elif c == "o_clerk":
            flags = []
            for a, b in zip(o, n):
                if a is None or b is None:
                    flags.append(False)
                    continue
                if (a, b) not in ratios:
                    ratios[(a, b)] = _indel_ratio(a, b)
                flags.append(ratios[(a, b)] < 90)
            diff = pd.Series(flags, index=both.index, dtype=bool)
        else:
            diff = o != n
        per_field[c] = int(((o_null ^ n_null) | (~o_null & ~n_null & diff)).sum())
    n_both = len(both)
    denom = n_both * len(COMPARED)
    fe = sum(per_field.values())
    return {
        "n_both": n_both,
        "n_old_only": int((m["_merge"] == "left_only").sum()),
        "n_new_only": int((m["_merge"] == "right_only").sum()),
        "per_field": per_field,
        "match_pct": round(100.0 * (denom - fe) / denom, 2) if denom else 100.0,
    }


class ReconcileSnapshots(Workload):
    """``reconcile()`` with its defaults; each operation consumes the
    scalar metrics and the counted exception stream, then releases."""

    work_name = "cells_compared"

    def __init__(self, seed: int, n_orders: int):
        self.seed, self.n_orders = seed, n_orders

    def setup(self, spark) -> None:
        self.spark = spark
        self.old_pd, self.new_pd = orders_snapshots(self.seed, self.n_orders)
        self.old = spark.createDataFrame(self.old_pd, ORDERS_SCHEMA)
        self.new = spark.createDataFrame(self.new_pd, ORDERS_SCHEMA)
        self.records = self._persist_inputs(self.old, self.new)

    def _consume(self, res) -> dict:
        rows = res.exceptions.groupBy("field").count().collect()
        return {
            "match_pct": res.match_pct,
            "per_field": dict(res.per_field_exceptions),
            "counts": (res.n_both, res.n_old_only, res.n_new_only),
            "by_field": {r["field"]: r["count"] for r in rows},
            "work": res.n_both * len(res.per_field_exceptions),
        }

    def op(self, keep: bool = False) -> dict:
        res = reconcile(self.old, self.new, RECON_PK, RECON_CFG)
        out = self._consume(res)
        res.release()
        return out

    def release(self, out: dict) -> None:
        pass

    def prepare_oracle(self) -> None:
        self.want = reconcile_oracle(self.old_pd, self.new_pd)
        by_field = {k: v for k, v in self.want["per_field"].items() if v}
        missing = self.want["n_old_only"] + self.want["n_new_only"]
        if missing:
            by_field["_record_status"] = missing
        self.want_by_field = by_field

    def check(self, out: dict) -> str | None:
        w = self.want
        if out["counts"] != (w["n_both"], w["n_old_only"], w["n_new_only"]):
            return f"join counts {out['counts']} != oracle"
        if out["per_field"] != w["per_field"]:
            return f"per-field exceptions {out['per_field']} != oracle {w['per_field']}"
        if out["match_pct"] != w["match_pct"]:
            return f"match_pct {out['match_pct']} != oracle {w['match_pct']}"
        if out["by_field"] != self.want_by_field:
            return f"exception stream {out['by_field']} != oracle {self.want_by_field}"
        return None

    def quality(self, out: dict) -> tuple[dict, str | None]:
        return {}, None

    def traced_pass(self, tr) -> tuple[dict, dict, str | None]:
        with tr.span(None, "pass"):
            with tr.span("reconcile", "call"):
                res = reconcile(self.old, self.new, RECON_PK, RECON_CFG)
            with tr.span("reconcile", "exceptions"):
                out = self._consume(res)
                res.release()
        m, record = tr.finish()
        m["reconcile.metrics_s"] = tr.busy_s(tr.span_named("reconcile", "call"))
        m["reconcile.rows_joined"] = sum(out["counts"])
        m["reconcile.exception_rows"] = sum(out["by_field"].values())
        return m, record, self.check(out)


# ---------------------------------------------------------------------------
# doc_dedup: minhash_lsh_pairs + simhash_pairs
# ---------------------------------------------------------------------------

# bench.py's production configurations
MINHASH_CFG = BlockingConfig(shingle_size=1, num_hashes=32, bands=2)
MINHASH_THRESHOLD = 1.0
SIMHASH_MAX_HAMMING, SIMHASH_CHUNKS = 6, 8


_WS = re.compile(r"[ \t\n\x0b\f\r]+")


def simhash64(text: str) -> int:
    """The 64-bit md5-nibble SimHash that ``simhash_pairs`` documents, as
    an unsigned int: the text is trimmed of spaces and its whitespace
    runs collapsed; each space-separated token hashes to the first 16
    hex digits of its md5; bit p of the signature is set when more
    tokens have bit p set than not."""
    toks = _WS.sub(" ", text.strip(" ")).split(" ")
    h = np.array([int(hashlib.md5(t.encode()).hexdigest()[:16], 16) for t in toks], dtype=np.uint64)
    ones = ((h[:, None] >> np.arange(64, dtype=np.uint64)) & np.uint64(1)).sum(axis=0)
    return sum(1 << p for p in range(64) if 2 * int(ones[p]) > len(toks))


def _pairs_error(df: pd.DataFrame, label: str) -> str | None:
    if df[["id_a", "id_b"]].isna().any().any():
        return f"{label}: null id"
    if not (df["id_a"] < df["id_b"]).all():
        return f"{label}: a pair is not ordered id_a < id_b"
    if df.duplicated(["id_a", "id_b"]).any():
        return f"{label}: duplicate pair"
    return None


class DedupOracle:
    """Checks dedup pairs against each document's token set and SimHash,
    computed here from the input text."""

    def __init__(self, docs: pd.DataFrame):
        self.tokens = dict(zip(docs["doc_id"], (frozenset(t.split()) for t in docs["text"])))
        self.sigs = dict(zip(docs["doc_id"], (simhash64(t) for t in docs["text"])))

    def check(self, mh: pd.DataFrame, sh: pd.DataFrame) -> str | None:
        err = _pairs_error(mh, "minhash") or _pairs_error(sh, "simhash")
        if err:
            return err
        if not (mh["jaccard"] >= MINHASH_THRESHOLD).all():
            return "minhash: a pair below the verify threshold"
        tok = self.tokens
        for a, b in zip(mh["id_a"], mh["id_b"]):
            sa, sb = tok[a], tok[b]
            if len(sa & sb) < MINHASH_THRESHOLD * len(sa | sb):
                return f"minhash: token Jaccard of ({a}, {b}) is below the threshold"
        sig = self.sigs
        for a, b, d in zip(sh["id_a"], sh["id_b"], sh["hamming"]):
            want = bin(sig[a] ^ sig[b]).count("1")
            if d != want:
                return f"simhash: ({a}, {b}) reported at distance {d}, not {want}"
            if want > SIMHASH_MAX_HAMMING:
                return f"simhash: ({a}, {b}) is beyond the Hamming bound"
        return None


def minhash_rows(docs) -> pd.DataFrame:
    pairs = minhash_lsh_pairs(docs, cfg=MINHASH_CFG, verify_threshold=MINHASH_THRESHOLD)
    rows = pairs.toPandas()
    release_cached(pairs)
    return rows


def simhash_rows(docs) -> pd.DataFrame:
    pairs = simhash_pairs(docs, max_hamming=SIMHASH_MAX_HAMMING, n_chunks=SIMHASH_CHUNKS)
    rows = pairs.toPandas()
    release_cached(pairs)
    return rows


def traced_dedup(tr, docs, oracle: DedupOracle) -> tuple[dict, dict, str | None]:
    """One traced pass of both dedup kernels over ``docs``."""
    with tr.span(None, "pass"):
        with tr.span("dedup", "minhash"):
            mh = minhash_rows(docs)
        with tr.span("dedup", "simhash"):
            sh = simhash_rows(docs)
    m, record = tr.finish()
    m["dedup.minhash_pairs"] = len(mh)
    m["dedup.simhash_pairs"] = len(sh)
    return m, record, oracle.check(mh, sh)


class DocDedup(Workload):
    """``minhash_lsh_pairs`` then ``simhash_pairs`` on one document table;
    one operation runs both, each collected and released."""

    work_name = "docs"

    def __init__(self, seed: int, n_docs: int, words: int):
        self.seed, self.n_docs, self.words = seed, n_docs, words

    def setup(self, spark) -> None:
        self.spark = spark
        self.docs = (
            generate_pages(
                spark,
                n_rows=self.n_docs,
                words_per_doc=self.words,
                seed=self.seed,
                partitions=spark.sparkContext.defaultParallelism,
            )
            .select(F.col("member_idx").alias("doc_id"), "text")
        )
        self.records = self._persist_inputs(self.docs)

    def op(self, keep: bool = False) -> dict:
        return {"minhash": minhash_rows(self.docs), "simhash": simhash_rows(self.docs), "work": self.records}

    def release(self, out: dict) -> None:
        pass

    def prepare_oracle(self) -> None:
        self.oracle = DedupOracle(self.docs.toPandas())

    def check(self, out: dict) -> str | None:
        return self.oracle.check(out["minhash"], out["simhash"])

    def quality(self, out: dict) -> tuple[dict, str | None]:
        return {}, None

    def traced_pass(self, tr) -> tuple[dict, dict, str | None]:
        return traced_dedup(tr, self.docs, self.oracle)


# ---------------------------------------------------------------------------

WORKLOADS = ("er_dense", "er_sparse", "reconcile_snapshots", "doc_dedup")


def make(name: str, seed: int, smoke: bool):
    """The workload ``name`` at its benchmark size, or at smoke size."""
    if name == "er_dense":
        return ErLink(seed, n_pages=400 if smoke else 1200, n_hosts=8)
    if name == "er_sparse":
        return ErLink(seed, n_pages=800 if smoke else 8000, n_hosts=8)
    if name == "reconcile_snapshots":
        return ReconcileSnapshots(seed, n_orders=3000 if smoke else 60_000)
    if name == "doc_dedup":
        return DocDedup(seed, n_docs=400 if smoke else 1200, words=120)
    raise ValueError(f"unknown workload {name!r}; choose from {', '.join(WORKLOADS)}")
