"""Partitioned Bloom seen-filter: exactness vs plain anti-join, a numpy
reference probe, persistence and capacity planning."""

import numpy as np
import pandas as pd
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
        bloom.add(spark, cand)  # second add grows a non-empty table
        seen.limit(1).collect()  # proves the spy records collects
    finally:
        DataFrame.collect, DataFrame.toPandas = orig_collect, orig_topandas
    assert n == 20000
    # the spy saw only its own probe: add() collects nothing at all (its
    # one scalar comes from an Observation read by the checkpoint job)
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
    read with the snapshot schema."""
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

    path = str(tmp_path / "bloom")
    bloom.to_df(spark).write.parquet(path)
    back = PartitionedBloom.from_df(
        spark.read.schema(PartitionedBloom.SNAPSHOT_SCHEMA).parquet(path))
    assert (back.P, back.m, back.k, back.n_added) == \
        (bloom.P, bloom.m, bloom.k, bloom.n_added)
    assert rows(back) == rows(bloom)


def _table_rows(spark, bloom):
    return sorted((r["pid"], bytes(r["bitset"])) for r in
                  bloom.to_df(spark).select("pid", "bitset").collect())


def test_add_equals_numpy_reference(spark, url_sets):
    """``add`` through Spark builds the bits a numpy pass outside Spark
    sets, byte for byte: each pid's row is zeros with the ``_positions``
    of every key added so far set by ``_set_bits`` — after an add into an
    empty filter, after one into a non-empty filter, and after an empty
    frame, which adds nothing."""
    seen, cand = url_sets
    bloom = PartitionedBloom(partitions=8, capacity=1 << 16)
    bits = np.zeros((bloom.P, bloom.m // 8), dtype=np.uint8)
    pids = set()  # the table holds a row only for a pid that got a key

    def reference(df):
        hashed = bloom._with_hashes(df, "url").select(
            "_h1", "_h2", "_pid").toPandas()
        for pid, g in hashed.groupby("_pid"):
            bloom_mod._set_bits(bits[pid], bloom_mod._positions(
                g["_h1"].to_numpy(), g["_h2"].to_numpy(), bloom.m, bloom.k))
            pids.add(int(pid))
        return [(pid, bits[pid].tobytes()) for pid in sorted(pids)]

    want = reference(seen)
    assert bloom.add(spark, seen) == 20000
    assert _table_rows(spark, bloom) == want and len(want) == bloom.P
    want = reference(cand)  # 20k of its keys already in, 10k new
    assert bloom.add(spark, cand) == 30000
    assert _table_rows(spark, bloom) == want
    table = bloom._table
    assert bloom.add(spark, spark.createDataFrame([], "url string")) == 0
    assert bloom._table is table and bloom.n_added == 50000
    assert _table_rows(spark, bloom) == want


def test_absorbing_crawl_equals_bulk_add_of_the_frontier(spark):
    """A Bloom crawl that takes each cycle's keys in through the probe
    (prefilter + absorb), with a commit and a kill + resume, ends with the
    bitset table a single bulk add of the whole frontier builds, byte for
    byte, and ``n_added`` equal to the frontier's row count."""
    import tempfile

    from supercrawler_spark import fixtures
    from supercrawler_spark.crawler import CrawlConfig, SparkCrawler

    seeds, web, _ = fixtures.make_web_fixture(n_hosts=3, pages_per_host=4)
    web_df = spark.createDataFrame(web)

    def cfg():
        return CrawlConfig(budget=3, use_bloom=True, bloom_partitions=4,
                           bloom_capacity=1 << 12, checkpoint_every=2)

    wd = tempfile.mkdtemp()
    first = SparkCrawler(spark, web_df, wd, cfg())
    first.seed(list(seeds["url"]))
    n_first = sum(s.popped > 0 for s in first.crawl(max_cycles=3))
    resumed = SparkCrawler(spark, web_df, wd, cfg())  # the first is "killed"
    assert resumed.resume()
    n_second = sum(s.popped > 0 for s in resumed.crawl(max_cycles=100))
    assert n_first == 3 and n_first + n_second >= 4

    frontier = resumed.frontier.select("url")
    n_rows = frontier.count()
    assert resumed._bloom.P == 4  # no capacity rebuild: one filter shape
    assert resumed._bloom.n_added == n_rows
    ref = PartitionedBloom(4, 1 << 12)
    assert ref.add(spark, frontier) == n_rows
    assert _table_rows(spark, resumed._bloom) == _table_rows(spark, ref)


def test_steady_bloom_cycle_runs_no_bulk_add(spark, monkeypatch):
    """A steady Bloom cycle takes its new keys in through ``absorb``;
    ``PartitionedBloom.add`` (the bulk build) is not called."""
    import tempfile

    from supercrawler_spark import fixtures
    from supercrawler_spark.crawler import CrawlConfig, SparkCrawler

    seeds, web, _ = fixtures.make_web_fixture(n_hosts=2, pages_per_host=3)
    cr = SparkCrawler(spark, spark.createDataFrame(web), tempfile.mkdtemp(),
                      CrawlConfig(budget=6, use_bloom=True, bloom_partitions=4,
                                  bloom_capacity=1 << 12))
    cr.seed(sorted(set(seeds["url"])))
    calls = {"add": 0, "absorb": 0}
    add, absorb = PartitionedBloom.add, PartitionedBloom.absorb

    def spy_add(self, *a, **kw):
        calls["add"] += 1
        return add(self, *a, **kw)

    def spy_absorb(self, *a, **kw):
        calls["absorb"] += 1
        return absorb(self, *a, **kw)

    monkeypatch.setattr(PartitionedBloom, "add", spy_add)
    monkeypatch.setattr(PartitionedBloom, "absorb", spy_absorb)
    new = sum(cr.run_cycle().links_new for _ in range(2))
    assert new > 0
    assert calls == {"add": 0, "absorb": 2}


def _kernel_frames(rng, n, pid):
    """One pid's candidates as the cogroup hands them to the kernel: the
    columns plus their hashes; ``big`` is an int64 past float precision."""
    return pd.DataFrame({
        "url": [f"http://h.example/{pid}/{i}" for i in range(n)],
        "big": np.arange(n, dtype=np.int64) + (1 << 60),
        "_h1": rng.integers(-2**63, 2**63 - 1, n, dtype=np.int64),
        "_h2": rng.integers(-2**31, 2**31 - 1, n, dtype=np.int64),
        "_pid": np.full(n, pid, dtype=np.int32)})


def test_probe_kernel_equals_numpy_reference():
    """The probe kernel called on pandas frames outside Spark: flags are
    the bit test against the old bits, the grown row is the old bits with
    every candidate's ``_positions`` set — for a pid with bits and
    candidates, one with bits but no candidates (re-emitted unchanged) and
    one with candidates but no bits (grown from zeros). Candidate columns
    pass through exactly. Without a flag (the bulk add) the grown row is
    the whole output."""
    m, k = 4096, 7
    rng = np.random.default_rng(5)

    def reference(old, cand):
        bits = np.unpackbits(old, bitorder="little").astype(bool)
        pos = bloom_mod._positions(cand["_h1"].to_numpy(),
                                   cand["_h2"].to_numpy(), m, k)
        flags = bits[pos].all(axis=1)
        bits[pos.ravel()] = True
        return flags, np.packbits(bits, bitorder="little").tobytes()

    # ~25% of the bits set, plus all of the first 100 candidates' bits
    some = _kernel_frames(rng, 300, 1)
    _, filled = reference(rng.integers(0, 256, m // 8, dtype=np.uint8)
                          & rng.integers(0, 256, m // 8, dtype=np.uint8),
                          some.iloc[:100])
    bits_pdf = pd.DataFrame({"pid": [1], "bitset": [filled]})
    no_bits = pd.DataFrame({"pid": pd.Series([], dtype=np.int32),
                            "bitset": pd.Series([], dtype=object)})
    cases = {
        "bits and candidates": (some, bits_pdf, filled, 1),
        "bits, no candidates": (some.iloc[:0], bits_pdf, filled, 1),
        "candidates, no bits": (_kernel_frames(rng, 50, 2), no_bits,
                                bytes(m // 8), 2),
    }
    flags = {}
    for name, (cand, bits, before, pid) in cases.items():
        out = bloom_mod.probe_kernel(cand, bits, m, k, ["url", "big"], "_f")
        rows, grown = out[out["_f"].notna()], out[out["_f"].isna()]
        want_flags, want_bits = reference(
            np.frombuffer(before, dtype=np.uint8), cand)
        flags[name] = rows["_f"].astype(bool).to_numpy()
        assert flags[name].tolist() == want_flags.tolist(), name
        assert len(grown) == 1 and int(grown["_pid"].iloc[0]) == pid, name
        assert grown["_bitset"].iloc[0] == want_bits, name
        assert rows["url"].tolist() == cand["url"].tolist(), name
        assert rows["big"].astype("int64").tolist() == \
            cand["big"].tolist(), name
        bits_only = bloom_mod.probe_kernel(cand, bits, m, k, [], None)
        assert bits_only.columns.tolist() == ["_pid", "_bitset"], name
        assert bits_only["_pid"].tolist() == [pid], name
        assert bits_only["_bitset"].tolist() == [want_bits], name
    got = flags["bits and candidates"]
    assert got[:100].all() and not got.all()
    assert not flags["candidates, no bits"].any()


def test_incremental_dedup_leaves_the_filter_unchanged(spark):
    """``incremental_dedup`` prefilters but never absorbs: the filter's
    table and key count are what they were before."""
    from supercrawler_spark.datapipe import dedup as DD

    history = spark.createDataFrame(
        [(f"fp{i}",) for i in range(300)], "fp string")
    batch = spark.createDataFrame(
        [(i, f"doc {i % 400}") for i in range(500)], "doc_id long, text string")
    bloom = PartitionedBloom(partitions=4, capacity=1 << 12)
    bloom.add(spark, history, col="fp")
    table, before = bloom._table, _table_rows(spark, bloom)
    assert DD.incremental_dedup(batch, history, bloom=bloom).count() > 0
    assert bloom._table is table and bloom.n_added == 300
    assert _table_rows(spark, bloom) == before
    bloom.release()


def test_absorb_needs_a_pending_probe(spark, url_sets):
    """``absorb`` takes the last prefilter's bits exactly once: with no
    prefilter, after an absorb, after ``release`` or after an ``add`` (its
    grown bits predate the add) it raises."""
    seen, cand = url_sets
    bloom = PartitionedBloom(partitions=8, capacity=1 << 16)
    with pytest.raises(RuntimeError):
        bloom.absorb(1)
    bloom.add(spark, seen)
    n = bloom.prefilter(spark, cand, "url", seen).count()
    bloom.absorb(n)
    assert n == 10000 and bloom.n_added == 30000
    with pytest.raises(RuntimeError):
        bloom.absorb(n)
    for undo in (bloom.release, lambda: bloom.add(spark, seen.limit(1))):
        bloom.prefilter(spark, cand, "url", seen).count()
        undo()
        with pytest.raises(RuntimeError):
            bloom.absorb(0)
    bloom.release()
