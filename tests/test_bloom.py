"""Partitioned Bloom seen-filter: exactness vs plain anti-join, a numpy
reference probe, persistence and capacity planning."""

import numpy as np
import pytest

from supercrawler_spark import bloom as bloom_mod
from supercrawler_spark.bloom import PartitionedBloom
from supercrawler_spark.fixtures import make_seed_frontier


@pytest.fixture(scope="module")
def url_sets(spark):
    seen_pdf = make_seed_frontier(20000, n_hosts=100)
    cand_pdf = make_seed_frontier(30000, n_hosts=100)  # 20k overlap + 10k new
    return (spark.createDataFrame(seen_pdf[["url"]]),
            spark.createDataFrame(cand_pdf[["url"]]))


def test_bloom_prefilter_equals_exact_antijoin(spark, url_sets):
    """Both exact-verify strategies return the plain left_anti's set."""
    seen, cand = url_sets
    bloom = PartitionedBloom(partitions=8, capacity=1 << 16)
    n = bloom.add(spark, seen)
    assert n == 20000
    want = {r["url"] for r in cand.join(seen, "url", "left_anti").collect()}
    assert len(want) == 10000
    for verify in ("shuffle", "broadcast"):
        got = {r["url"] for r in bloom.prefilter(
            spark, cand, "url", seen, verify=verify).collect()}
        assert got == want, verify
    bloom.release()


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


def test_bloom_roundtrip_persistence(spark, url_sets):
    """from_df(to_df()) in memory keeps the shape, the key count and every
    partition's bitset."""
    seen, _ = url_sets
    bloom = PartitionedBloom(partitions=8, capacity=1 << 16)
    bloom.add(spark, seen)
    restored = PartitionedBloom.from_df(bloom.to_df(spark))
    assert (restored.P, restored.m, restored.k, restored.n_added) == \
        (bloom.P, bloom.m, bloom.k, bloom.n_added)

    def rows(f):
        return sorted((r["pid"], bytes(r["bitset"])) for r in
                      f.to_df(spark).select("pid", "bitset").collect())

    assert rows(restored) == rows(bloom)


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
    """The co-partitioned (no-broadcast) probe returns the identical set even
    from an overfilled filter, where most new urls are false positives and
    must be dropped back in by the exact verify."""
    seen, cand = url_sets
    bloom = PartitionedBloom(partitions=8, capacity=1 << 10)
    bloom.add(spark, seen)
    assert bloom.fp_rate_estimate() > 0.5
    got = {r["url"] for r in bloom.prefilter(spark, cand, "url", seen).collect()}
    want = {r["url"] for r in cand.join(seen, "url", "left_anti").collect()}
    assert got == want
    bloom.release()


def test_flag_equals_numpy_reference(spark, url_sets):
    """The cogroup probe answers exactly what the bit test gives outside
    Spark: collect the persisted (pid, bitset) rows into a P x m/8 matrix
    and test each candidate's k positions in numpy."""
    seen, cand = url_sets
    bloom = PartitionedBloom(partitions=8, capacity=1 << 16)
    bloom.add(spark, seen)
    bits = np.zeros((bloom.P, bloom.m // 8), dtype=np.uint8)
    for r in bloom.to_df(spark).select("pid", "bitset").collect():
        bits[r["pid"]] = np.frombuffer(bytes(r["bitset"]), dtype=np.uint8)
    hashed = (bloom._with_hashes(cand, "url")
              .select("url", "_h1", "_h2", "_pid").toPandas()
              .sort_values("url"))
    pos = bloom_mod._positions(hashed["_h1"].to_numpy(),
                               hashed["_h2"].to_numpy(), bloom.m, bloom.k)
    byte = bits[hashed["_pid"].to_numpy()[:, None], pos >> 3]
    want = ((byte & (1 << (pos & 7)).astype(np.uint8)) != 0).all(axis=1)
    got = (bloom.maybe_seen_flag(spark, cand, "url").toPandas()
           .sort_values("url")["_maybe_seen"].to_numpy())
    assert len(got) == len(want) == 30000
    assert np.array_equal(got, want)
    assert want.sum() >= 20000 and not want.all()


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


def test_add_never_ships_bitsets_to_driver(spark, url_sets):
    """The distributed build/merge contract: add() may collect scalars (the
    row count) but NEVER a frame containing a binary bitset column — at
    10^10 keys the bit matrix is ~12 GB and must stay executor-side."""
    from pyspark.sql import types as T

    seen, cand = url_sets
    bloom = PartitionedBloom(partitions=8, capacity=1 << 16)
    # the session's concrete DataFrame class overrides collect/toPandas,
    # so the spy goes on it, not on the pyspark.sql.DataFrame base
    DataFrame = type(seen)

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
        seen.limit(1).collect()  # proves the spy records collects
    finally:
        DataFrame.collect, DataFrame.toPandas = orig_collect, orig_topandas
    assert n == 20000
    # the spy saw only its own probe: add() collects nothing at all (its
    # one scalar comes from an Observation on the merge job)
    assert collected_schemas == [seen.schema]
    binary_fields = [
        (schema, f.name) for schema in collected_schemas
        for f in schema.fields if isinstance(f.dataType, T.BinaryType)]
    assert not binary_fields, f"bitset bytes crossed the driver: {binary_fields}"
    # and the merged filter still answers correctly (cand ⊂ filter now)
    flagged = bloom.maybe_seen_flag(spark, cand, "url").toPandas()
    assert flagged["_maybe_seen"].all()


def test_to_df_from_df_roundtrip_is_distributed(spark, url_sets, tmp_path):
    """Persistence round-trips through parquet without collecting
    bitsets: the restored filter has the same shape and bits and probes
    identically."""
    seen, cand = url_sets
    bloom = PartitionedBloom(partitions=8, capacity=1 << 16)
    bloom.add(spark, seen)
    path = str(tmp_path / "bloom")
    bloom.to_df(spark).write.parquet(path)
    restored = PartitionedBloom.from_df(spark.read.parquet(path))
    assert (restored.P, restored.m, restored.k, restored.n_added) == \
        (bloom.P, bloom.m, bloom.k, bloom.n_added)

    def rows(f):
        return sorted((r["pid"], bytes(r["bitset"])) for r in
                      f.to_df(spark).select("pid", "bitset").collect())

    assert rows(restored) == rows(bloom)
    assert len(rows(bloom)) == bloom.P
    a = bloom.maybe_seen_flag(spark, cand, "url").toPandas() \
             .set_index("url")["_maybe_seen"].sort_index()
    b = restored.maybe_seen_flag(spark, cand, "url").toPandas() \
                .set_index("url")["_maybe_seen"].sort_index()
    assert a.equals(b)


def test_empty_bloom_roundtrip(spark):
    """A never-added filter persists as P zero rows, restores, flags
    nothing, and still takes adds."""
    bloom = PartitionedBloom(partitions=4, capacity=1 << 10)
    restored = PartitionedBloom.from_df(bloom.to_df(spark))
    assert (restored.P, restored.m, restored.n_added) == (4, bloom.m, 0)
    urls = spark.createDataFrame([(f"http://x/{i}",) for i in range(20)],
                                 ["url"])
    assert not any(r["_maybe_seen"]
                   for r in restored.maybe_seen_flag(spark, urls).collect())
    assert restored.add(spark, urls) == 20
    assert all(r["_maybe_seen"]
               for r in restored.maybe_seen_flag(spark, urls).collect())


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


def test_fpr_estimate_is_analytic_and_runs_no_job(spark):
    """fp_rate_estimate is the closed form over the filter's scalars,
    (1 - e^{-k·n/(P·m)})^k: the crawl consults it every cycle, so it must
    not scan the bitsets (no Spark job before vs after)."""
    import math

    bloom = PartitionedBloom(partitions=4, capacity=1 << 12)
    urls = spark.createDataFrame(
        [(f"http://h{i % 5}.example/p{i}",) for i in range(5000)], ["url"])
    assert bloom.add(spark, urls, "url") == 5000
    tracker = spark.sparkContext.statusTracker()
    jobs_before = set(tracker.getJobIdsForGroup())
    est = bloom.fp_rate_estimate()
    assert set(tracker.getJobIdsForGroup()) == jobs_before
    want = (1 - math.exp(-bloom.k * bloom.n_added
                         / (bloom.P * bloom.m))) ** bloom.k
    assert est == pytest.approx(want, rel=1e-12)
    assert 0.0 < est < 1.0


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
                      bloom_capacity=64, robots_enabled=False)
    cr = SparkCrawler(spark, web_df, str(tmp_path / "wd"), cfg)
    urls = [f"http://h{i % 7}.example/p{i}" for i in range(3000)]
    cr.seed(urls)
    assert cr._bloom.P > 2  # grew at least once
    assert cr._bloom.fp_rate_estimate() <= 0.05
    # dedup still exact after the rebuild: re-seeding adds nothing
    cr.seed(urls)
    assert len(cr.seen_urls()) == 3000


def test_empty_add_leaves_the_filter_as_it_was(spark, url_sets, tmp_path):
    """add() of an empty frame returns 0 and changes nothing: a filter
    that had no table still has none, a filled one keeps its table, and
    both still round-trip through to_df/from_df, including a parquet
    read with the snapshot schema and a table from before the ``p``
    column existed."""
    empty = spark.createDataFrame([], "url string")
    fresh = PartitionedBloom(partitions=4, capacity=1 << 10)
    assert fresh.add(spark, empty) == 0
    assert fresh._table is None and fresh.n_added == 0
    restored = PartitionedBloom.from_df(fresh.to_df(spark))
    assert (restored.P, restored.m, restored.k, restored.n_added) == \
        (4, fresh.m, fresh.k, 0)

    seen, _ = url_sets
    bloom = PartitionedBloom(partitions=4, capacity=1 << 16)
    bloom.add(spark, seen)
    table = bloom._table
    assert bloom.add(spark, empty) == 0
    assert bloom._table is table and bloom.n_added == 20000

    def rows(f):
        return sorted((r["pid"], bytes(r["bitset"])) for r in
                      f.to_df(spark).select("pid", "bitset").collect())

    for name, df in (("current", bloom.to_df(spark)),
                     ("legacy", bloom.to_df(spark).drop("p"))):
        path = str(tmp_path / name)
        df.write.parquet(path)
        back = PartitionedBloom.from_df(
            spark.read.schema(PartitionedBloom.SNAPSHOT_SCHEMA).parquet(path))
        assert (back.P, back.m, back.k, back.n_added) == \
            (bloom.P, bloom.m, bloom.k, bloom.n_added)
        assert rows(back) == rows(bloom)
