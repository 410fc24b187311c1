"""Partitioned Bloom seen-filter: exactness vs plain anti-join + cuckoo."""

import math

import pytest
from pyspark.sql import functions as F

from supercrawler_spark.bloom import CuckooFilter, PartitionedBloom
from supercrawler_spark.fixtures import make_seed_frontier


@pytest.fixture(scope="module")
def url_sets(spark):
    seen_pdf = make_seed_frontier(20000, n_hosts=100)
    cand_pdf = make_seed_frontier(30000, n_hosts=100)  # 20k overlap + 10k new
    return (spark.createDataFrame(seen_pdf[["url"]]),
            spark.createDataFrame(cand_pdf[["url"]]))


def test_bloom_prefilter_equals_exact_antijoin(spark, url_sets):
    seen, cand = url_sets
    bloom = PartitionedBloom(partitions=8, capacity=1 << 16)
    n = bloom.add(spark, seen)
    assert n == 20000
    got = {r["url"] for r in bloom.prefilter(spark, cand, "url", seen).collect()}
    want = {r["url"] for r in cand.join(seen, "url", "left_anti").collect()}
    assert got == want
    assert len(want) == 10000


def test_bloom_no_false_negatives_and_low_fpr(spark, url_sets):
    seen, cand = url_sets
    bloom = PartitionedBloom(partitions=8, capacity=1 << 16)
    bloom.add(spark, seen)
    flagged = bloom.maybe_seen_flag(spark, cand, "url").toPandas()
    is_seen = flagged["url"].str.extract(r"page(\d+)$")[0].astype(int) < 20000
    # no false negatives: every seen url must be flagged
    assert flagged.loc[is_seen, "_maybe_seen"].all()
    # false-positive rate on the genuinely-new 10k
    fpr = flagged.loc[~is_seen, "_maybe_seen"].mean()
    assert fpr < 0.05, f"FPR {fpr}"
    assert bloom.fp_rate_estimate() < 0.05


def test_crawler_with_bloom_matches_without(spark):
    import tempfile

    from supercrawler_spark import fixtures
    from supercrawler_spark.crawler import CrawlConfig, SparkCrawler

    seeds, web, _ = fixtures.make_web_fixture(n_hosts=1, pages_per_host=3)
    web_df = spark.createDataFrame(web)
    results = []
    for use_bloom in (False, True):
        wd = tempfile.mkdtemp()
        cr = SparkCrawler(spark, web_df, wd,
                          CrawlConfig(budget=8, use_bloom=use_bloom,
                                      bloom_partitions=4,
                                      bloom_capacity=1 << 12))
        cr.seed(list(seeds["url"]))
        cr.crawl(max_cycles=100)
        results.append((cr.crawl_order, cr.seen_urls()))
    assert results[0][0] == results[1][0]  # identical crawl order
    assert results[0][1] == results[1][1]  # identical seen set


def test_cogroup_prefilter_equals_exact_antijoin(spark, url_sets):
    """The co-partitioned probe under the crawl cycle's broadcast verify
    returns the identical set."""
    seen, cand = url_sets
    bloom = PartitionedBloom(partitions=8, capacity=1 << 16)
    bloom.add(spark, seen)
    got = {r["url"] for r in bloom.prefilter(
        spark, cand, "url", seen, verify="broadcast").collect()}
    want = {r["url"] for r in cand.join(seen, "url", "left_anti").collect()}
    assert got == want


def test_bloom_resume_restores_seen_filter(spark):
    """Kill/resume with use_bloom: the restored filter must keep flagging
    already-crawled URLs, and the resumed run must equal the uninterrupted
    one (a fresh empty filter would re-insert duplicates)."""
    import tempfile

    from supercrawler_spark import fixtures
    from supercrawler_spark.crawler import CrawlConfig, SparkCrawler

    seeds, web, _ = fixtures.make_web_fixture(n_hosts=2, pages_per_host=3)
    web_df = spark.createDataFrame(web)

    def cfg():
        return CrawlConfig(budget=4, use_bloom=True, bloom_partitions=4,
                           bloom_capacity=1 << 12, checkpoint_every=1)

    # uninterrupted
    wd_a = tempfile.mkdtemp()
    cr_a = SparkCrawler(spark, web_df, wd_a, cfg())
    cr_a.seed(list(seeds["url"]))
    cr_a.crawl(max_cycles=100)

    # interrupted after 2 cycles, resumed in a fresh engine
    wd_b = tempfile.mkdtemp()
    cr_b1 = SparkCrawler(spark, web_df, wd_b, cfg())
    cr_b1.seed(list(seeds["url"]))
    cr_b1.crawl(max_cycles=2)
    cr_b2 = SparkCrawler(spark, web_df, wd_b, cfg())
    assert cr_b2.resume()
    assert cr_b2._bloom is not None and cr_b2._bloom.n_added > 0
    # restored filter still flags crawled URLs as maybe-seen
    crawled = spark.createDataFrame([(u,) for _, _, u in cr_b1.crawl_order],
                                    schema="url string")
    flagged = cr_b2._bloom.maybe_seen_flag(spark, crawled, "url").toPandas()
    assert flagged["_maybe_seen"].all()
    cr_b2.crawl(max_cycles=100)

    assert cr_b2.seen_urls() == cr_a.seen_urls()
    # no duplicate frontier rows after resume
    n_rows = cr_b2.frontier.count()
    n_urls = cr_b2.frontier.select("url").distinct().count()
    assert n_rows == n_urls


def test_cuckoo_insert_lookup_delete():
    cf = CuckooFilter(capacity=1 << 12)
    hs = [hash(f"url-{i}") & 0x7FFFFFFFFFFFFFFF for i in range(2000)]
    for h in hs:
        assert cf.add(h)
    assert all(cf.contains(h) for h in hs)
    # delete half, they must leave (no false positives from deleted fps
    # beyond fingerprint collisions)
    for h in hs[:1000]:
        assert cf.delete(h)
    assert all(cf.contains(h) for h in hs[1000:])
    gone = sum(cf.contains(h) for h in hs[:1000])
    assert gone < 50  # only residual fingerprint collisions


def test_add_never_ships_bitsets_to_driver(spark, url_sets):
    """The distributed build/merge/probe contract: add() may collect
    scalars (the row count) but NEVER a frame containing a binary bitset
    column, and the probe collects only the candidates plus their flag —
    at 10^10 keys the bit matrix is ~12 GB and must stay executor-side."""
    from pyspark.sql import DataFrame
    from pyspark.sql import types as T

    seen, cand = url_sets
    bloom = PartitionedBloom(partitions=8, capacity=1 << 16)

    collected_schemas = []
    orig_collect = DataFrame.collect
    orig_topandas = DataFrame.toPandas

    def spy_collect(self):
        collected_schemas.append(self.schema)
        return orig_collect(self)

    def spy_topandas(self):
        collected_schemas.append(self.schema)
        return orig_topandas(self)

    DataFrame.collect, DataFrame.toPandas = spy_collect, spy_topandas
    try:
        n = bloom.add(spark, seen)
        bloom.add(spark, cand)  # second add exercises the OR-merge join
        flagged = bloom.maybe_seen_flag(spark, cand, "url").toPandas()
    finally:
        DataFrame.collect, DataFrame.toPandas = orig_collect, orig_topandas
    assert n == 20000
    binary_fields = [
        (schema, f.name) for schema in collected_schemas
        for f in schema.fields if isinstance(f.dataType, T.BinaryType)]
    assert not binary_fields, f"bitset bytes crossed the driver: {binary_fields}"
    # and the merged filter still answers correctly (cand ⊂ filter now)
    assert flagged["_maybe_seen"].all()


def test_to_df_from_df_roundtrip_is_distributed(spark, url_sets):
    """Persistence round-trips through DataFrames without collecting
    bitsets, and the restored filter probes identically."""
    seen, cand = url_sets
    bloom = PartitionedBloom(partitions=8, capacity=1 << 16)
    bloom.add(spark, seen)
    restored = PartitionedBloom.from_df(bloom.to_df(spark))
    assert (restored.P, restored.m, restored.k, restored.n_added) == \
        (bloom.P, bloom.m, bloom.k, bloom.n_added)
    a = bloom.maybe_seen_flag(spark, cand, "url").toPandas() \
             .set_index("url")["_maybe_seen"].sort_index()
    b = restored.maybe_seen_flag(spark, cand, "url").toPandas() \
                .set_index("url")["_maybe_seen"].sort_index()
    assert a.equals(b)

    def rows(f):
        return sorted((r["pid"], bytes(r["bitset"]))
                      for r in f.to_df(spark).select("pid", "bitset").collect())

    assert rows(bloom) == rows(restored)


def test_prefilter_releases_previous_persist(spark, url_sets):
    """Per-cycle storage stays bounded: each prefilter call unpersists the
    previous call's flagged intermediate."""
    seen, cand = url_sets
    bloom = PartitionedBloom(partitions=8, capacity=1 << 16)
    bloom.add(spark, seen)
    bloom.prefilter(spark, cand, "url", seen).count()
    first = bloom._last_flagged
    assert first is not None and first.is_cached
    bloom.prefilter(spark, cand, "url", seen).count()
    assert not first.is_cached          # released by the next call
    assert bloom._last_flagged.is_cached
    bloom.release()
    assert bloom._last_flagged is None


def test_partitioned_cuckoo_add_delete_contains(spark, url_sets):
    """Distributed deletable seen-set: add → all present; delete half →
    they leave (minus 16-bit fingerprint collisions), the rest stay; no
    false negatives at any point."""
    from supercrawler_spark.bloom import PartitionedCuckoo

    seen, cand = url_sets  # 20k seen; cand = 20k overlap + 10k new
    cf = PartitionedCuckoo(partitions=8, capacity_per_partition=1 << 13)
    n = cf.add(spark, seen)
    assert n == 20000  # no overflow at this fill factor
    assert cf.n_added == 20000

    flagged = cf.contains_flag(spark, cand, "url").toPandas()
    idx = flagged["url"].str.extract(r"page(\d+)$")[0].astype(int)
    assert flagged.loc[idx < 20000, "_maybe_seen"].all()  # no false negatives
    fpr = flagged.loc[idx >= 20000, "_maybe_seen"].mean()
    assert fpr < 0.02, f"cuckoo FPR {fpr}"

    # delete the first 10k urls
    to_del = seen.filter(
        F.regexp_extract("url", r"page(\d+)$", 1).cast("int") < 10000)
    n_del = cf.delete(spark, to_del, "url")
    assert n_del == 10000
    after = cf.contains_flag(spark, cand, "url").toPandas()
    idx = after["url"].str.extract(r"page(\d+)$")[0].astype(int)
    kept = after.loc[(idx >= 10000) & (idx < 20000), "_maybe_seen"]
    assert kept.all()  # survivors still present — deletes are precise
    gone = after.loc[idx < 10000, "_maybe_seen"].mean()
    assert gone < 0.02, f"deleted urls still flagged at rate {gone}"


def test_partitioned_cuckoo_persistence_roundtrip(spark, url_sets):
    from supercrawler_spark.bloom import PartitionedCuckoo

    seen, cand = url_sets
    cf = PartitionedCuckoo(partitions=8, capacity_per_partition=1 << 13)
    cf.add(spark, seen)
    restored = PartitionedCuckoo.from_df(cf.to_df(spark))
    assert (restored.P, restored.n_buckets, restored.n_added) == \
        (cf.P, cf.n_buckets, cf.n_added)
    a = cf.contains_flag(spark, cand, "url").toPandas() \
          .set_index("url")["_maybe_seen"].sort_index()
    b = restored.contains_flag(spark, cand, "url").toPandas() \
                .set_index("url")["_maybe_seen"].sort_index()
    assert a.equals(b)


def test_partitioned_cuckoo_mutate_never_ships_slots_to_driver(spark, url_sets):
    """add/delete collect only scalar counts — the uint16 slot matrix stays
    executor-side (same contract as the Bloom build)."""
    from pyspark.sql import DataFrame
    from pyspark.sql import types as T

    from supercrawler_spark.bloom import PartitionedCuckoo

    seen, _ = url_sets
    cf = PartitionedCuckoo(partitions=8, capacity_per_partition=1 << 13)
    collected = []
    orig_collect, orig_topandas = DataFrame.collect, DataFrame.toPandas

    def spy_c(self):
        collected.append(self.schema)
        return orig_collect(self)

    def spy_p(self):
        collected.append(self.schema)
        return orig_topandas(self)

    DataFrame.collect, DataFrame.toPandas = spy_c, spy_p
    try:
        cf.add(spark, seen)
        cf.delete(spark, seen.limit(100))
    finally:
        DataFrame.collect, DataFrame.toPandas = orig_collect, orig_topandas
    binary_fields = [(s, f.name) for s in collected
                     for f in s.fields if isinstance(f.dataType, T.BinaryType)]
    assert not binary_fields, f"slot bytes crossed the driver: {binary_fields}"

def test_cuckoo_empty_roundtrip(spark):
    """to_df on a never-added cuckoo filter must carry meta rows so
    from_df can roundtrip (ADVICE r3: previously returned 0 rows and
    from_df crashed on meta None)."""
    from supercrawler_spark.bloom import PartitionedCuckoo

    cf = PartitionedCuckoo(partitions=4, capacity_per_partition=1 << 10)
    restored = PartitionedCuckoo.from_df(cf.to_df(spark))
    assert restored.P == 4 and restored.n_added == 0
    assert restored.n_buckets == cf.n_buckets
    urls = spark.createDataFrame([(f"http://x/{i}",) for i in range(20)],
                                 ["url"])
    flags = restored.contains_flag(spark, urls).collect()
    assert all(not r["_maybe_seen"] for r in flags)
    # the restored filter is fully functional: add then probe
    assert restored.add(spark, urls) == 20
    flags2 = restored.contains_flag(spark, urls).collect()
    assert all(r["_maybe_seen"] for r in flags2)

def test_bloom_fpr_estimate_and_grown_empty(spark):
    """Capacity planning: the analytic FPR estimate rises with fill, a
    grown copy (2x partitions, 2x bits) rebuilt from the same keys drops
    it, and prefilter results stay exact either way (VERDICT r3 #8)."""
    from supercrawler_spark.bloom import PartitionedBloom

    bloom = PartitionedBloom(partitions=2, capacity=64)  # m floors at 1024
    assert bloom.fp_rate_estimate() == 0.0
    urls = spark.createDataFrame(
        [(f"http://h{i % 7}.example/p{i}",) for i in range(3000)], ["url"])
    bloom.add(spark, urls, "url")
    est = bloom.fp_rate_estimate()
    assert est > 0.5  # saturated: 1500 keys/partition into 1024 bits

    grown = bloom.grown_empty(2)
    assert grown.P == 4 and grown.m == bloom.m * 2 and grown.n_added == 0
    grown.add(spark, urls, "url")
    assert grown.fp_rate_estimate() < est

    # saturation costs throughput, never correctness: both filters
    # prefilter to the same exact result
    cand = spark.createDataFrame(
        [(f"http://h{i % 7}.example/p{i}",) for i in range(2900, 3100)],
        ["url"])
    want = {r["url"] for r in cand.join(urls, "url", "left_anti").collect()}
    for f in (bloom, grown):
        got = {r["url"]
               for r in f.prefilter(spark, cand, "url", urls).collect()}
        assert got == want
        f.release()


def test_fp_rate_estimate_is_analytic_and_starts_no_job(spark, url_sets):
    """The estimate runs after every crawl-cycle add and again for the
    metrics row: it must be the O(1) driver-side formula
    (1 - e^{-k·n/(P·m)})^k, never a scan of the bitset table."""
    seen, _ = url_sets
    bloom = PartitionedBloom(partitions=8, capacity=1 << 16)
    bloom.add(spark, seen)
    sched = spark.sparkContext._jsc.sc().dagScheduler()
    before = sched.nextJobId()
    est = bloom.fp_rate_estimate()
    assert sched.nextJobId() == before, "fp_rate_estimate started a Spark job"
    want = (1.0 - math.exp(-bloom.k * bloom.n_added
                           / (bloom.P * bloom.m))) ** bloom.k
    assert est == pytest.approx(want, rel=1e-12)
    assert 0.0 < est < 0.05


def test_engine_rebuilds_saturated_bloom(spark, tmp_path):
    """Seeding far past the configured bloom capacity must trigger the 2x
    rebuild loop inside the engine, with the FPR estimate landing under
    the threshold and dedup still exact."""
    from supercrawler_spark.crawler import CrawlConfig, SparkCrawler

    web_df = spark.createDataFrame(
        [("http://h0.example/", 200, "text/html", None, b"")],
        "url string, status_code int, content_type string, "
        "location string, body binary")
    cfg = CrawlConfig(budget=4, use_bloom=True, bloom_partitions=2,
                      bloom_capacity=64, bloom_rebuild_fpr=0.05,
                      robots_enabled=False)
    cr = SparkCrawler(spark, web_df, str(tmp_path / "wd"), cfg)
    urls = [f"http://h{i % 7}.example/p{i}" for i in range(3000)]
    cr.seed(urls)
    assert cr._bloom.P > 2  # grew at least once
    assert cr._bloom.fp_rate_estimate() <= 0.05
    # dedup still exact after the rebuild: re-seeding adds nothing
    cr.seed(urls)
    assert len(cr.seen_urls()) == 3000

def test_cuckoo_batch_ops_equal_sequential_property():
    """Property: any interleaving of batch add/delete produces the same
    membership answers as the sequential kernel (hypothesis over key sets
    and op order; no Spark involved — this is the per-partition kernel)."""
    import numpy as np
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from supercrawler_spark.bloom import CuckooFilter

    keys = st.lists(st.integers(min_value=1, max_value=2**62),
                    min_size=1, max_size=300)

    @settings(max_examples=25, deadline=None)
    @given(add1=keys, dels=keys, add2=keys)
    def prop(add1, dels, add2):
        a = CuckooFilter(capacity=1 << 11)
        b = CuckooFilter(capacity=1 << 11)
        for h in add1:
            a.add(int(h))
        na = sum(bool(a.delete(int(h))) for h in dels)
        for h in add2:
            a.add(int(h))
        nb_added1 = b.add_batch(np.array(add1, dtype=np.uint64))
        nb = b.delete_batch(np.array(dels, dtype=np.uint64))
        nb_added2 = b.add_batch(np.array(add2, dtype=np.uint64))
        assert nb_added1 == len(add1) and nb_added2 == len(add2)
        assert na == nb
        probe = set(add1) | set(dels) | set(add2)
        for h in probe:
            assert a.contains(int(h)) == b.contains(int(h)), h

    prop()
