"""The four benchmark workloads: one fixed unit of work (a "rep") each, and
the correctness gate that checks it.

A rep always starts from fresh engine state, so every rep of a run does
identical work and the measured loop can repeat reps until its time is up.
Timed regions cover only calls into the engine's public API; checks run
after the timed region.
"""

from __future__ import annotations

import hashlib
import math
import os
import re
import shutil
import time

import pandas as pd
from pyspark.sql import functions as F

from supercrawler_spark import robots as robots_mod
from supercrawler_spark import urls as urls_mod
from supercrawler_spark.crawler import CrawlConfig, SparkCrawler
from supercrawler_spark.datapipe import dedup as DD
from supercrawler_spark.datapipe import text as TX
from supercrawler_spark.handlers import HandlersError, default_registry
from supercrawler_spark.oracle import OracleConfig, OracleCrawler, web_pages_dict

USER_AGENT = CrawlConfig().user_agent
DRIVER_SIDE_SAMPLE = 1500  # pages per driver-side layer measurement


def dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        for name in files:
            total += os.path.getsize(os.path.join(root, name))
    return total


def _state(value):
    """Normalise a collected status code (None / NaN / float / int)."""
    if value is None or (isinstance(value, float) and math.isnan(value)):
        return None
    return int(value)


class CrawlWorkload:
    """crawl_expand, crawl_backlog and crawl_mixed: seed, then crawl a
    fixed number of cycles through ``SparkCrawler.crawl``, which commits
    the final snapshot."""

    # no warm-up rep: on 4 cores it costs about 30 s, more than a run's
    # time budget leaves, so the rep's seed step and first cycle also pay
    # the JIT warm-up
    warm_up = False
    min_reps = 1

    def __init__(self, name: str, spark, inputs: dict, params: dict,
                 workdir: str):
        self.name, self.spark, self.params = name, spark, params
        self.web_pdf = inputs["web"]
        self.seeds = inputs["seeds"]
        self.workdir = workdir
        self.web_df = None
        self.seeds_df = None
        self._oracle = None

    # -- configuration ------------------------------------------------------
    def config(self) -> dict:
        p = self.params
        if self.name == "crawl_expand":
            return {"budget": p["budget"], "order_mode": "fifo"}
        if self.name == "crawl_backlog":
            return {"budget": p["budget"], "order_mode": "random"}
        return {"budget": p["budget"], "order_mode": "decay",
                "per_host_cap": p["per_host_cap"],
                "virtual_start_ms": 1e12}

    def crawl_config(self) -> CrawlConfig:
        extra = {"collect_events": False}
        if self.name == "crawl_expand":
            extra["checkpoint_every"] = 1 << 30  # no snapshot mid-run
        elif self.name == "crawl_backlog":
            extra.update(use_bloom=True, checkpoint_every=1,
                         bloom_partitions=8, bloom_capacity=1 << 18)
        return CrawlConfig(**self.config(), **extra)

    # -- set-up ---------------------------------------------------------------
    def prepare(self) -> None:
        """Cache the web (and the backlog's seed list) in Spark."""
        self.web_df = self.spark.createDataFrame(self.web_pdf).persist()
        self.web_df.count()
        if self.name == "crawl_backlog":
            self.seeds_df = self.spark.createDataFrame(
                pd.DataFrame({"url": self.seeds})).persist()
            self.seeds_df.count()

    # -- one rep --------------------------------------------------------------
    def rep(self, k: int, tracer=None) -> dict:
        """Seed, then crawl a fixed number of cycles through ``crawl()``.
        crawl_backlog seeds through ``seed_df``, which commits a snapshot,
        and crawls from a fresh crawler resumed on it, so its first cycle
        is the resume cycle. Only calls into the engine are timed; what the
        resume check needs is recorded without running a Spark job and
        checked in ``check``. Layer spans come from the wrappers the caller
        installed."""
        wd = os.path.join(self.workdir, f"rep{k}")
        shutil.rmtree(wd, ignore_errors=True)
        out = {"workdir": wd}
        cr = SparkCrawler(self.spark, self.web_df, wd, self.crawl_config())
        t0 = time.perf_counter()
        if self.seeds_df is not None:
            cr.seed_df(self.seeds_df)
        else:
            cr.seed(self.seeds)
        out["seed_s"] = time.perf_counter() - t0
        if self.seeds_df is not None:
            before = (_meta(cr), cr.frontier)
            t0 = time.perf_counter()
            cr = SparkCrawler(self.spark, self.web_df, wd, self.crawl_config())
            cr.resume()
            out["resume_call_s"] = time.perf_counter() - t0
            out["resume_pair"] = (before, (_meta(cr), cr.frontier))
        t0 = time.perf_counter()
        stats = cr.crawl(max_cycles=self.params["cycles"])
        out.update(work_s=time.perf_counter() - t0,
                   items=sum(s.popped for s in stats),
                   popped=[s.popped for s in stats if s.popped],
                   stats=stats, crawler=cr, frontier_rows=cr.max_seq + 1,
                   state_bytes=dir_bytes(wd))
        return out

    # -- correctness ----------------------------------------------------------
    def oracle(self):
        if self._oracle is None:
            cfg = self.config()
            ora = OracleCrawler(web_pages_dict(self.web_pdf),
                                OracleConfig(**cfg))
            # seed_df numbers the seed list in url order; seed() in list order
            ora.seed(sorted(self.seeds) if self.seeds_df is not None
                     else list(self.seeds))
            res = ora.crawl(max_rounds=self.params["cycles"])
            per_round: dict[int, int] = {}
            for cycle, _, _ in res.crawl_order:
                per_round[cycle] = per_round.get(cycle, 0) + 1
            states = {u: (st, ec, ne)
                      for u, (st, ec, _, ne) in res.final_states().items()}
            self._oracle = ([per_round[c] for c in sorted(per_round)], states)
        return self._oracle

    def check(self, rep: dict, last: bool) -> list[str]:
        """Per-cycle popped counts, frontier size, seen set and every URL's
        (status_code, error_code, num_errors) against the oracle, no
        duplicate frontier keys, and for crawl_backlog the state right
        after ``resume()`` against the state ``seed_df`` committed."""
        popped, states = self.oracle()
        bad = []
        if rep["popped"] != popped:
            bad.append(f"popped per cycle {rep['popped']} != oracle {popped}")
        if rep["frontier_rows"] != len(states):
            bad.append(f"frontier rows {rep['frontier_rows']} != oracle "
                       f"{len(states)}")
        if "resume_pair" in rep:
            (meta_a, front_a), (meta_b, front_b) = rep["resume_pair"]
            if meta_a != meta_b or _digest(front_a) != _digest(front_b):
                bad.append("state after resume() differs from the state "
                           "seed_df committed")
        pdf = rep["crawler"].frontier.select(
            "url", "status_code", "error_code", "num_errors").toPandas()
        if pdf["url"].duplicated().any():
            bad.append("duplicate frontier keys")
        eng = {u: (_state(s), e, int(n)) for u, s, e, n in zip(
            pdf["url"], pdf["status_code"], pdf["error_code"],
            pdf["num_errors"])}
        if set(eng) != set(states):
            bad.append(f"seen set differs: {len(set(eng) ^ set(states))} urls")
        else:
            diff = [u for u in eng if eng[u] != states[u]]
            if diff:
                bad.append(f"{len(diff)} url states differ, e.g. {diff[0]}: "
                           f"{eng[diff[0]]} != {states[diff[0]]}")
        return bad

    def cleanup(self, rep: dict) -> None:
        shutil.rmtree(rep["workdir"], ignore_errors=True)

    # -- driver-side layer rates (traced run only) ----------------------------
    def driver_side(self) -> dict:
        """Handler parse, URL canonicalization and robots checks timed on
        this workload's own pages, on the driver, with no Spark involved."""
        reg = default_registry()
        pages = self.web_pdf[self.web_pdf["status_code"] < 300].head(
            DRIVER_SIDE_SAMPLE)
        n_links, links = 0, []
        t0 = time.perf_counter()
        for url, ct, body in zip(pages["url"], pages["content_type"],
                                 pages["body"]):
            try:
                found = reg.fire(bytes(body or b""), url,
                                 urls_mod.normalize_content_type(ct, url))
            except HandlersError:
                continue
            n_links += len(found)
            links.extend(found)
        fire_s = time.perf_counter() - t0
        t0 = time.perf_counter()
        for link in links:
            urls_mod.canonicalize(link)
        canon_s = time.perf_counter() - t0
        robots = {}
        for url, status, body in zip(self.web_pdf["url"],
                                     self.web_pdf["status_code"],
                                     self.web_pdf["body"]):
            if url.endswith("/robots.txt"):
                robots[url] = (bytes(body or b"").decode("utf-8", "replace")
                               if status < 400 else "")
        checks = [(robots.get(urls_mod.robots_url(u), ""), u)
                  for u in pages["url"]]
        t0 = time.perf_counter()
        for txt, url in checks:
            robots_mod.is_allowed(txt, url, USER_AGENT)
        robots_s = time.perf_counter() - t0
        return {
            "handlers.fire_pages_per_s": len(pages) / max(fire_s, 1e-9),
            "handlers.links_per_page": n_links / max(len(pages), 1),
            "urls.canonicalize_per_s": len(links) / max(canon_s, 1e-9)
            if links else 0.0,
            "robots.is_allowed_per_s": len(checks) / max(robots_s, 1e-9),
        }


def _meta(cr: SparkCrawler) -> tuple:
    return cr.max_seq, cr.cycle_id, cr.cycle_time


def _digest(df) -> tuple:
    """Order-independent digest of a frontier: rows, distinct keys and a
    sum of per-row hashes over every column."""
    r = df.agg(F.count(F.lit(1)).alias("n"),
               F.countDistinct("url").alias("k"),
               F.sum(F.xxhash64(*df.columns) % F.lit(1 << 40)).alias("h")
               ).first()
    return int(r["n"]), int(r["k"]), int(r["h"] or 0)


# ---------------------------------------------------------------------------
# corpus_dedup
# ---------------------------------------------------------------------------

LSH = {"num_hashes": 4, "bands": 2, "shingle_n": 2}  # the SQL twins' params
JACCARD_MIN = 0.5
SIMHASH_MAX_HAMMING = 3
DATAPIPE_CALLS = ("exact_dedup", "fingerprint_dedup", "minhash_lsh_pairs",
                  "jaccard_pairs", "dup_clusters", "simhash_near_pairs",
                  "quality_features")


class CorpusWorkload:
    """Load the corpus into Spark, then run the dedup chain, forcing every
    call with a noop write (the LSH candidates and the verified pairs are
    pinned, as the next step reads them)."""

    name = "corpus_dedup"
    # a smoke-size rep inside set-up first, so the measured reps run on a
    # warmer JVM (about 10 s on 4 cores)
    warm_up = True
    # the first rep after that is still about a third slower than the next,
    # so every run measures at least two: a run whose first rep crosses
    # --seconds would otherwise report a colder mix than one whose does not
    min_reps = 2

    def __init__(self, name: str, spark, inputs: dict, params: dict,
                 workdir: str):
        self.spark = spark
        self.corpus = inputs["corpus"]
        self.planted = inputs["planted"]

    def prepare(self) -> None:
        """Nothing to cache: loading the corpus is part of every rep."""

    def rep(self, k: int, tracer=None) -> dict:
        """Load the corpus (the rep's seed step), then run the chain. Every
        chain call is timed on its own, and traced when ``tracer`` is
        given."""
        steps: dict[str, float] = {}

        def call(name, force, fn, *args):
            t0 = time.perf_counter()
            out = (tracer.call(f"datapipe.{name}", force, fn, *args)
                   if tracer is not None else force(fn, *args))
            steps[name] = time.perf_counter() - t0
            return out

        t0 = time.perf_counter()
        docs = self.spark.createDataFrame(self.corpus).localCheckpoint(
            eager=True)
        t1 = time.perf_counter()
        out = {}
        out["exact_dedup"] = call("exact_dedup", _forced, DD.exact_dedup, docs)
        out["fingerprint_dedup"] = call("fingerprint_dedup", _forced,
                                        DD.fingerprint_dedup, docs)
        pairs = call("minhash_lsh_pairs", _pinned,
                     lambda d: DD.minhash_lsh_pairs(d, **LSH), docs)
        verified = call("jaccard_pairs", _pinned,
                        lambda d, p: DD.jaccard_pairs(
                            d, p, shingle_n=LSH["shingle_n"])
                        .filter(F.col("jaccard") >= JACCARD_MIN),
                        docs, pairs)
        out["dup_clusters"] = call("dup_clusters", _forced, DD.dup_clusters,
                                   verified)
        out["simhash_near_pairs"] = call(
            "simhash_near_pairs", _forced,
            lambda d: DD.simhash_near_pairs(
                d, max_hamming=SIMHASH_MAX_HAMMING), docs)
        out["quality_features"] = call("quality_features", _forced,
                                       TX.quality_features, docs)
        t2 = time.perf_counter()
        out["minhash_lsh_pairs"], out["jaccard_pairs"] = pairs, verified
        return {"seed_s": t1 - t0, "work_s": t2 - t1,
                "items": len(self.corpus), "steps": list(steps.values()),
                "results": out}

    # -- correctness ----------------------------------------------------------
    def check(self, rep: dict, last: bool) -> list[str]:
        """On every rep: exact and fingerprint groups against Python, and
        the planted copies against the fingerprint groups. On the last rep
        also LSH → Jaccard pairs, SimHash pairs and quality features against
        their DuckDB SQL twins, and clusters against the connected
        components of the twin's pairs."""
        res = rep["results"]
        bad = []
        exact = _collect(res["exact_dedup"],
                         ["content_hash", "keeper_id", "n_copies"])
        if exact != _py_groups(self.corpus, _md5):
            bad.append("exact_dedup differs from the Python groups")
        fp = _collect(res["fingerprint_dedup"], ["fp", "keeper_id", "n_copies"])
        if fp != _py_groups(self.corpus, _fingerprint):
            bad.append("fingerprint_dedup differs from the Python groups")
        planted_copies = int((self.planted["kind"].isin(["exact", "fmt"])).sum())
        if sum(n - 1 for _, _, n in fp) < planted_copies:
            bad.append("fingerprint_dedup misses planted copies")
        if not last:
            return bad
        sql = _oracle_sql()
        duck = _duck(self.corpus)
        pairs = _collect(res["jaccard_pairs"], ["id_a", "id_b", "jaccard"])
        want = set(duck.execute(sql["lsh_jaccard_dedup"]).fetchall())
        if pairs != {(a, b, round(j, 4)) for a, b, j in want}:
            bad.append("minhash_lsh_pairs → jaccard_pairs differs from SQL twin")
        clusters = _collect(res["dup_clusters"], ["doc_id", "cluster_id"])
        if clusters != _components((a, b) for a, b, _ in want):
            bad.append("dup_clusters differs from the components of the "
                       "SQL twin's pairs")
        near = _collect(res["simhash_near_pairs"], ["id_a", "id_b"])
        want = {(a, b) for a, b, _ in duck.execute(
            _simhash_sql(SIMHASH_MAX_HAMMING)).fetchall()}
        if near != want:
            bad.append("simhash_near_pairs differs from SQL twin")
        q = res["quality_features"].toPandas().sort_values("doc_id")
        w = duck.execute(sql["quality_score"]).fetchdf().sort_values("doc_id")
        if not (len(q) == len(w) and
                (q["doc_id"].to_numpy() == w["doc_id"].to_numpy()).all() and
                (abs(q["quality_score"].to_numpy()
                     - w["quality_score"].to_numpy()) < 1e-9).all()):
            bad.append("quality_features differs from SQL twin")
        duck.close()
        return bad

    def cleanup(self, rep: dict) -> None:
        pass

    def driver_side(self) -> dict:
        return {"handlers.fire_pages_per_s": 0.0,
                "handlers.links_per_page": 0.0,
                "urls.canonicalize_per_s": 0.0,
                "robots.is_allowed_per_s": 0.0}


def _forced(fn, *args):
    df = fn(*args)
    df.write.format("noop").mode("overwrite").save()
    return df


def _pinned(fn, *args):
    return fn(*args).localCheckpoint(eager=True)


def _collect(df, cols: list[str]) -> set:
    return {tuple(r) for r in df.select(*cols).collect()}


def _md5(text: str) -> str:
    return hashlib.md5(text.encode()).hexdigest()


def _fingerprint(text: str) -> str:
    return _md5(re.sub(r"\s+", " ", text.lower()).strip())


def _py_groups(corpus: pd.DataFrame, key) -> set:
    groups: dict[str, list[int]] = {}
    for doc_id, text in zip(corpus["doc_id"], corpus["text"]):
        groups.setdefault(key(text), []).append(int(doc_id))
    return {(k, min(v), len(v)) for k, v in groups.items()}


def _components(pairs) -> set:
    """(doc_id, min doc id of its connected component) over ``pairs``."""
    parent: dict[int, int] = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {(x, find(x)) for x in parent}


def _oracle_sql() -> dict:
    import __spark_entry__
    return __spark_entry__.oracle_sql()


def _simhash_sql(max_hamming: int) -> str:
    import __spark_entry__
    return __spark_entry__._simhash_near_pairs_sql(max_hamming)


def _duck(corpus: pd.DataFrame):
    import duckdb
    con = duckdb.connect()
    con.register("documents_pdf", corpus)
    con.execute("CREATE TABLE documents AS SELECT * FROM documents_pdf")
    return con


WORKLOADS = {
    "crawl_expand": CrawlWorkload,
    "crawl_backlog": CrawlWorkload,
    "crawl_mixed": CrawlWorkload,
    "corpus_dedup": CorpusWorkload,
}
