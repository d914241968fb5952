"""Partitioned Bloom filter seen-set + cuckoo variant (SURVEY.md O2).

north_star: "URL-seen membership is a partitioned Bloom filter (with a
cuckoo-filter variant for deletable entries) built via pandas/Arrow UDAFs
over canonicalized+murmur3-hashed URLs".

Design — the filter IS a distributed table, never driver-resident:
- the url_hash space is split into P partitions by pmod(murmur3(url), P);
  each partition owns an m-bit array, held as one row of a
  ``(pid int, bitset binary)`` DataFrame (``self._table``, localCheckpointed
  so repeated merges don't grow lineage)
- build (``add``): one ``applyInPandas`` pass per partition computes the
  BATCH's bit array (numpy, vectorized Kirsch-Mitzenmacher double hashing
  from the two independent JVM-side hashes xxhash64 + murmur3 — no Python
  hashing at all); the batch arrays OR-merge into the existing bitset table
  via a full-outer join on pid + an Arrow-batched binary OR. The bit matrix
  NEVER materializes on the driver: the only driver transfer in add() is
  one scalar row count. At 10^10 keys (~12 GB of bits) nothing round-trips.
- probe, scale path (``maybe_seen_flag_cogrouped``): candidates shuffle by
  pid and cogroup against the bitset table — each of the P partition arrays
  travels exactly once, to the task that owns that url_hash range
- probe, small path (``maybe_seen_flag``): the table is collected once and
  broadcast; right when the filter fits comfortably in executor memory
  (sandbox sizes), wrong at 10^10 keys — use the cogroup probe there
- persistence: ``to_df`` returns the table itself (plus scalar meta
  columns) so a snapshot commit writes it directly; ``from_df`` re-roots
  the table on the loaded parquet — neither direction collects bitsets
- ``prefilter``: definitively-new rows (no false negatives) skip the
  anti-join entirely; only probable-duplicates reach the exact verify. At
  10^10 URLs with ~1% discovery-duplication this removes ~99% of the
  anti-join's build-side traffic.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .crawler import local_df


BLOOM_SCHEMA = T.StructType([
    T.StructField("pid", T.IntegerType()),
    T.StructField("bitset", T.BinaryType()),
    T.StructField("m", T.LongType()),
    T.StructField("k", T.LongType()),
    T.StructField("n_added", T.LongType()),
    T.StructField("p", T.IntegerType()),
])

_TABLE_SCHEMA = T.StructType([
    T.StructField("pid", T.IntegerType()),
    T.StructField("bitset", T.BinaryType()),
])


def _positions(h1: np.ndarray, h2: np.ndarray, m: int, k: int) -> np.ndarray:
    """(n, k) probe bit positions via double hashing, uint64 wraparound.
    Module-level so executor closures capture only the (m, k) scalars —
    a bound method would drag the whole filter object (and its DataFrame
    handle) into the pickle."""
    u1 = h1.astype(np.uint64)
    u2 = (h2.astype(np.uint64) | np.uint64(1))  # odd step
    j = np.arange(k, dtype=np.uint64)
    return ((u1[:, None] + j[None, :] * u2[:, None])
            % np.uint64(m)).astype(np.int64)


@F.pandas_udf(T.BinaryType())
def _or_bitsets(a: pd.Series, b: pd.Series) -> pd.Series:
    """OR-merge two binary bitset columns (either side nullable — a pid
    present on only one side of the full-outer merge keeps its array)."""
    out = []
    for x, y in zip(a, b):
        if x is None:
            out.append(y)
        elif y is None:
            out.append(x)
        else:
            out.append((np.frombuffer(x, dtype=np.uint8)
                        | np.frombuffer(y, dtype=np.uint8)).tobytes())
    return pd.Series(out)


class PartitionedBloom:
    def __init__(self, partitions: int = 32, capacity: int = 1 << 20,
                 bits_per_key: int = 10):
        self.P = partitions
        total_bits = capacity * bits_per_key
        m = max(1024, total_bits // partitions)
        self.m = (m + 63) // 64 * 64
        self.k = max(1, int(round(bits_per_key * math.log(2))))
        self.n_added = 0
        self._table: DataFrame | None = None  # (pid, bitset) — authoritative
        self._bits_local: np.ndarray | None = None  # small-path cache
        self._bc = None  # cached broadcast of the local matrix
        self._last_flagged: DataFrame | None = None  # prefilter persist slot

    # -- local mirror (small-filter path ONLY — tests + broadcast probe) ----
    @property
    def bits(self) -> np.ndarray:
        """Driver-side matrix view. Collects the table ON DEMAND — the
        engine's hot paths (add / cogroup probe / persist) never touch it;
        it exists for the broadcast probe and equality tests at sandbox
        sizes."""
        if self._bits_local is None:
            bits = np.zeros((self.P, self.m // 8), dtype=np.uint8)
            if self._table is not None:
                for r in self._table.collect():
                    bits[int(r["pid"])] = np.frombuffer(bytes(r["bitset"]),
                                                        dtype=np.uint8)
            self._bits_local = bits
        return self._bits_local

    def _broadcast(self, spark: SparkSession):
        if self._bc is None:
            self._bc = spark.sparkContext.broadcast(self.bits)
        return self._bc

    def _invalidate_caches(self) -> None:
        self._bits_local = None
        if self._bc is not None:
            try:
                self._bc.unpersist()
            except Exception:
                pass
            self._bc = None

    # -- hashing (JVM-side) -------------------------------------------------
    def _with_hashes(self, df: DataFrame, col: str) -> DataFrame:
        return (df
                .withColumn("_h1", F.xxhash64(F.col(col)))
                .withColumn("_h2", F.hash(F.col(col)).cast("long"))
                .withColumn("_pid", F.pmod(F.hash(F.col(col)), F.lit(self.P))))

    def _probe_positions(self, h1: np.ndarray, h2: np.ndarray) -> np.ndarray:
        return _positions(h1, h2, self.m, self.k)

    def _table_or_empty(self, spark: SparkSession) -> DataFrame:
        if self._table is not None:
            return self._table
        return local_df(spark, [], _TABLE_SCHEMA)

    # -- build ---------------------------------------------------------------
    def add(self, spark: SparkSession, df: DataFrame, col: str = "url") -> int:
        """Distributed build + merge: per-partition batch bit arrays
        (applyInPandas UDAF) full-outer-join the existing bitset table on
        pid and OR-merge executor-side. The bit matrix never reaches the
        driver — the only collect is one scalar (rows added). Returns it."""
        m, k = self.m, self.k

        schema = T.StructType([
            T.StructField("pid", T.IntegerType()),
            T.StructField("bitset", T.BinaryType()),
            T.StructField("n", T.LongType()),
        ])

        def build(key, pdf):
            pid = int(key[0])
            bits = np.zeros(m // 8, dtype=np.uint8)
            pos = _positions(pdf["_h1"].to_numpy(),
                             pdf["_h2"].to_numpy(), m, k).ravel()
            np.bitwise_or.at(bits, pos >> 3,
                             (1 << (pos & 7)).astype(np.uint8))
            return pd.DataFrame({"pid": [pid], "bitset": [bits.tobytes()],
                                 "n": [len(pdf)]})

        hashed = self._with_hashes(df, col).select("_h1", "_h2", "_pid")
        batch = hashed.groupBy("_pid").applyInPandas(build, schema=schema)
        batch = batch.persist()
        total = batch.agg(F.sum("n").alias("s")).first()["s"]  # scalar only
        total = int(total) if total is not None else 0
        if total == 0:
            batch.unpersist()
            return 0
        new_bits = batch.select("pid", F.col("bitset").alias("_new"))
        if self._table is None:
            merged = new_bits.select("pid", F.col("_new").alias("bitset"))
        else:
            old = self._table.select("pid", F.col("bitset").alias("_old"))
            merged = (old.join(new_bits, "pid", "full_outer")
                      .select("pid", _or_bitsets(F.col("_old"), F.col("_new"))
                              .alias("bitset")))
        # eager localCheckpoint: truncates the merge lineage (cost per add
        # stays O(P rows), not O(history)) and materializes executor-side
        self._table = merged.localCheckpoint(eager=True)
        batch.unpersist()
        self.n_added += total
        self._invalidate_caches()
        return total

    def rebase(self, table_df: DataFrame) -> None:
        """Re-root the bitset table on a just-committed parquet snapshot
        (releases the executor-side checkpoint blocks; the bits are
        unchanged, so probe caches stay valid)."""
        self._table = table_df.select("pid", "bitset")

    # -- capacity planning ---------------------------------------------------
    def fp_rate_estimate(self) -> float:
        """Analytic false-positive rate from the key count alone, assuming
        hash-uniform spread over partitions: (1 - e^{-k·n_p/m})^k with
        n_p = n_added / P. Plain arithmetic over scalars the filter
        already holds — it reads no bitset and launches no Spark job, so
        the crawl loop can consult it every cycle for free (measuring the
        set-bit fraction instead would scan all P bitsets each time).
        At n >> capacity the filter saturates and the
        prefilter silently degrades to the exact path (every candidate
        flags maybe-seen); the crawl loop watches this estimate and
        rebuilds at 2x partitions/bits when it crosses
        CrawlConfig.bloom_rebuild_fpr."""
        if self.n_added <= 0:
            return 0.0
        n_p = self.n_added / self.P
        return float((1.0 - math.exp(-self.k * n_p / self.m)) ** self.k)

    def grown_empty(self, factor: int = 2) -> "PartitionedBloom":
        """Fresh EMPTY filter with ``factor``× the partitions and
        ``factor``× the per-partition bits (factor² total bits) — the
        rebuild target when fp_rate_estimate crosses the threshold. The
        caller repopulates it from the authoritative seen set (the
        frontier) with a normal distributed ``add``."""
        out = PartitionedBloom.__new__(PartitionedBloom)
        out.P = self.P * factor
        out.m = self.m * factor
        out.k = self.k
        out.n_added = 0
        out._table = None
        out._bits_local = None
        out._bc = None
        out._last_flagged = None
        return out

    # -- probe ---------------------------------------------------------------
    def maybe_seen_flag(self, spark: SparkSession, df: DataFrame,
                        col: str = "url",
                        flag: str = "_maybe_seen") -> DataFrame:
        """Adds a boolean column: False ⇒ definitively never seen.
        Broadcast probe — the SMALL-filter path (collects the table once,
        cached until the next add). Use the cogroup probe at web scale."""
        m, k = self.m, self.k
        bc = self._broadcast(spark)

        @F.pandas_udf(T.BooleanType())
        def test(h1: pd.Series, h2: pd.Series, pid: pd.Series) -> pd.Series:
            bits = bc.value
            pos = _positions(h1.to_numpy(), h2.to_numpy(), m, k)  # (n, k)
            pid_np = pid.to_numpy()
            byte = bits[pid_np[:, None], pos >> 3]
            hit = (byte & (1 << (pos & 7)).astype(np.uint8)) != 0
            return pd.Series(hit.all(axis=1))

        return (self._with_hashes(df, col)
                .withColumn(flag, test(F.col("_h1"), F.col("_h2"), F.col("_pid")))
                .drop("_h1", "_h2", "_pid"))

    def maybe_seen_flag_cogrouped(self, spark: SparkSession, df: DataFrame,
                                  col: str = "url",
                                  flag: str = "_maybe_seen") -> DataFrame:
        """Co-partitioned probe — the scale path: no driver or broadcast
        copy of the bit matrix. Candidates shuffle by pid and each task
        receives ONLY its own partition's bit array via cogroup against the
        bitset TABLE. At 10^10 keys (~12 GB of bits) the broadcast probe
        would ship the full matrix to every executor; here each of the P
        partition arrays travels exactly once, to the task that owns that
        url_hash range. Result is identical to ``maybe_seen_flag``."""
        m, k = self.m, self.k
        orig_cols = [f.name for f in df.schema.fields]
        out_schema = T.StructType(list(df.schema.fields) +
                                  [T.StructField(flag, T.BooleanType())])
        bloom_df = self._table_or_empty(spark)
        hashed = self._with_hashes(df, col)

        def probe_group(cand: pd.DataFrame, bits_pdf: pd.DataFrame) -> pd.DataFrame:
            out = cand[orig_cols].copy()
            if not len(cand):
                out[flag] = pd.Series([], dtype=bool)
                return out
            if not len(bits_pdf):
                out[flag] = False
                return out
            bits = np.frombuffer(bits_pdf["bitset"].iloc[0], dtype=np.uint8)
            pos = _positions(cand["_h1"].to_numpy(),
                             cand["_h2"].to_numpy(), m, k)
            byte = bits[pos >> 3]
            hit = (byte & (1 << (pos & 7)).astype(np.uint8)) != 0
            out[flag] = hit.all(axis=1)
            return out

        return (hashed.groupBy("_pid").cogroup(bloom_df.groupBy("pid"))
                .applyInPandas(probe_group, schema=out_schema))

    def prefilter(self, spark: SparkSession, candidates: DataFrame,
                  col: str, seen: DataFrame,
                  method: str = "broadcast",
                  verify: str = "shuffle") -> DataFrame:
        """Exact dedup with Bloom short-circuit: returns candidates NOT in
        ``seen`` — identical result to a plain left_anti join (no false
        negatives), but only Bloom-positive rows reach the verify join.
        ``method="cogroup"`` probes via the co-partitioned bitset table
        (scale path, no full-matrix broadcast).

        ``verify`` picks the exact-verify join strategy:
        - "shuffle" (default): plain left_anti — right when suspects are a
          large fraction of the candidates (bulk corpus dedup);
        - "broadcast": suspects broadcast into a streaming left_semi scan
          of seen, hits broadcast back — the seen table is read once,
          column-pruned, never exchanged. Right when suspects are bounded
          (the crawl cycle's politeness-budget links) and seen is huge.

        The flagged intermediate is persisted (both the definite-new and
        suspect branches read it); the PREVIOUS call's persist is released
        here, and ``release()`` drops the last one — so a crawl loop
        calling prefilter once per cycle holds at most one cycle's flags
        in executor storage, not an unbounded accumulation.

        CONTRACT: materialize (checkpoint/collect/write) the returned
        DataFrame BEFORE the next ``prefilter()`` or ``add()`` on this
        filter. The result is lazy; once the previous persist is released
        and the filter has absorbed more keys, recomputing an old result
        re-probes the now-fuller filter and can reroute rows
        (definite-new → suspect), silently changing what downstream sees.
        The engine always localCheckpoints new_rows first
        (crawler.run_cycle) — external callers must do the same."""
        self.release()
        if method == "cogroup":
            flagged = self.maybe_seen_flag_cogrouped(
                spark, candidates, col).persist()
        else:
            flagged = self.maybe_seen_flag(spark, candidates, col).persist()
        self._last_flagged = flagged
        definite_new = flagged.filter(~F.col("_maybe_seen")).drop("_maybe_seen")
        suspects = flagged.filter(F.col("_maybe_seen")).drop("_maybe_seen")
        if verify == "broadcast":
            hits = seen.join(F.broadcast(suspects.select(col)), col, "left_semi")
            verified_new = suspects.join(F.broadcast(hits), col, "left_anti")
        else:
            verified_new = suspects.join(seen, col, "left_anti")
        return definite_new.unionByName(verified_new)

    def release(self) -> None:
        """Unpersist the last prefilter's flagged intermediate (call after
        downstream actions have consumed the result)."""
        if self._last_flagged is not None:
            try:
                self._last_flagged.unpersist()
            except Exception:
                pass
            self._last_flagged = None

    # -- persistence ----------------------------------------------------------
    def _zero_table(self, spark: SparkSession) -> DataFrame:
        """All-P zero-bitset table, generated executor-side (an empty filter
        at web scale must not materialize 12 GB of zeros on the driver)."""
        mbytes = self.m // 8

        @F.pandas_udf(T.BinaryType())
        def zeros(pid: pd.Series) -> pd.Series:
            z = bytes(mbytes)
            return pd.Series([z] * len(pid))

        return (spark.range(self.P)
                .select(F.col("id").cast("int").alias("pid"),
                        zeros(F.col("id")).alias("bitset")))

    def to_df(self, spark: SparkSession) -> DataFrame:
        """The persistable filter AS a DataFrame — the bitset table itself
        plus scalar meta columns. No collect: a snapshot commit streams the
        table straight to parquet."""
        t = self._table if self._table is not None else self._zero_table(spark)
        return t.select(
            "pid", "bitset",
            F.lit(self.m).cast("long").alias("m"),
            F.lit(self.k).cast("long").alias("k"),
            F.lit(self.n_added).cast("long").alias("n_added"),
            F.lit(self.P).cast("int").alias("p"))

    @classmethod
    def from_df(cls, df: DataFrame) -> "PartitionedBloom":
        """Restore from a persisted snapshot table. Reads three scalar meta
        columns (column-pruned — no bitset bytes cross the driver) and
        re-roots the bitset table on the parquet via localCheckpoint so a
        later snapshot GC can't pull the files out from under it."""
        meta = df.select("m", "k", "n_added",
                         *(["p"] if "p" in df.columns else [])).first()
        obj = cls.__new__(cls)
        obj.m = int(meta["m"])
        obj.k = int(meta["k"])
        obj.n_added = int(meta["n_added"])
        obj.P = int(meta["p"]) if "p" in df.columns else int(df.count())
        obj._table = df.select("pid", "bitset").localCheckpoint(eager=True)
        obj._bits_local = None
        obj._bc = None
        obj._last_flagged = None
        return obj

    # small-scale helpers kept for tests / offline inspection
    def to_pandas(self) -> pd.DataFrame:
        bits = self.bits
        return pd.DataFrame({
            "pid": np.arange(self.P, dtype=np.int32),
            "bitset": [bits[p].tobytes() for p in range(self.P)],
            "m": np.full(self.P, self.m, dtype=np.int64),
            "k": np.full(self.P, self.k, dtype=np.int64),
            "n_added": np.full(self.P, self.n_added, dtype=np.int64),
        })

    @classmethod
    def from_pandas(cls, pdf: pd.DataFrame) -> "PartitionedBloom":
        P = len(pdf)
        m = int(pdf["m"].iloc[0])
        obj = cls.__new__(cls)
        obj.P, obj.m = P, m
        obj.k = int(pdf["k"].iloc[0])
        obj.n_added = int(pdf["n_added"].iloc[0])
        obj._table = None
        obj._bc = None
        obj._last_flagged = None
        bits = np.zeros((P, m // 8), dtype=np.uint8)
        for _, r in pdf.iterrows():
            bits[int(r["pid"])] = np.frombuffer(r["bitset"], dtype=np.uint8)
        obj._bits_local = bits
        return obj


class CuckooFilter:
    """Single-node cuckoo filter (deletable seen-set variant): 4-slot
    buckets, 16-bit fingerprints, 2 candidate buckets via partial-key
    cuckoo hashing. Deletions let recrawl-expired URLs leave the seen set
    (the Bloom filter cannot delete). Numpy storage; serves as the
    PER-PARTITION kernel of :class:`PartitionedCuckoo`."""

    def __init__(self, capacity: int = 1 << 16):
        self.n_buckets = max(8, 1 << (capacity.bit_length()))
        self.slots = np.zeros((self.n_buckets, 4), dtype=np.uint16)
        self.max_kicks = 500

    @staticmethod
    def _fingerprint(h: int) -> int:
        fp = (h >> 32) & 0xFFFF
        return fp if fp != 0 else 1

    def _buckets(self, h: int) -> tuple[int, int]:
        fp = self._fingerprint(h)
        i1 = h % self.n_buckets
        i2 = (i1 ^ (fp * 0x5BD1E995)) % self.n_buckets
        return i1, i2

    def add(self, h: int) -> bool:
        import random
        fp = self._fingerprint(h)
        i1, i2 = self._buckets(h)
        for i in (i1, i2):
            row = self.slots[i]
            empty = np.where(row == 0)[0]
            if len(empty):
                row[empty[0]] = fp
                return True
        rng = random.Random(h & 0xFFFFFFFF)
        i = rng.choice((i1, i2))
        for _ in range(self.max_kicks):
            slot = rng.randrange(4)
            fp, self.slots[i][slot] = int(self.slots[i][slot]), fp
            i = (i ^ (fp * 0x5BD1E995)) % self.n_buckets
            row = self.slots[i]
            empty = np.where(row == 0)[0]
            if len(empty):
                row[empty[0]] = fp
                return True
        return False  # table full

    def add_batch(self, hs: np.ndarray) -> int:
        """Vectorized batch insert: first-try placements into both
        candidate buckets are numpy scatter ops (in-batch collisions
        resolved by ranking keys within their bucket run); only keys whose
        buckets are already full fall back to the sequential kick loop —
        at realistic fill that is a small minority, so the per-key Python
        overhead of ``add`` disappears from the hot path."""
        hs = np.asarray(hs, dtype=np.uint64)
        if not len(hs):
            return 0
        nb = np.uint64(self.n_buckets)
        pow2 = (self.n_buckets & (self.n_buckets - 1)) == 0
        bmask = np.uint64(self.n_buckets - 1)

        def _reduce(x: np.ndarray) -> np.ndarray:
            # n_buckets is a power of two from the constructor; & is ~10x
            # cheaper than uint64 % at 10^6 keys
            return (x & bmask) if pow2 else (x % nb)

        fp = ((hs >> np.uint64(32)) & np.uint64(0xFFFF)).astype(np.uint16)
        fp = np.where(fp == 0, np.uint16(1), fp)
        i1 = _reduce(hs).astype(np.int64)
        i2 = _reduce(i1.astype(np.uint64)
                     ^ (fp.astype(np.uint64) * np.uint64(0x5BD1E995))
                     ).astype(np.int64)
        pending = np.arange(len(hs))
        n_ok = 0
        for buckets in (i1, i2):
            if not len(pending):
                break
            placed = self._scatter_place(buckets[pending], fp[pending])
            n_ok += int(placed.sum())
            pending = pending[~placed]
        for j in pending:  # bucket-full minority: sequential cuckoo kicks
            n_ok += bool(self.add(int(hs[j])))
        return int(n_ok)

    def _scatter_place(self, buckets: np.ndarray,
                       fps: np.ndarray) -> np.ndarray:
        """Place each (bucket, fp) into that bucket's next empty slot where
        capacity allows: keys are ranked within their bucket run (stable
        sort), key with rank r takes the (r+1)-th empty slot iff the bucket
        has that many empties. Distinct (bucket, slot) targets by
        construction — safe scatter. Returns the placed mask."""
        n = len(buckets)
        order = np.argsort(buckets, kind="stable")
        b = buckets[order]
        idx = np.arange(n)
        first = np.empty(n, dtype=bool)
        first[0] = True
        np.not_equal(b[1:], b[:-1], out=first[1:])
        # rank within each equal-bucket run: index minus run start
        rank = idx - np.maximum.accumulate(np.where(first, idx, 0))
        # 4-bit occupancy word per key's bucket + two 16-entry LUTs:
        # number of empty slots, and the slot index of the r-th empty slot
        occ = ((self.slots[b] != 0).astype(np.uint8)
               @ np.array([1, 2, 4, 8], dtype=np.uint8))
        if not hasattr(CuckooFilter, "_OCC_LUT"):
            nfree = np.zeros(16, dtype=np.int64)
            free_at = np.zeros((16, 4), dtype=np.int64)
            for w in range(16):
                free = [s for s in range(4) if not (w >> s) & 1]
                nfree[w] = len(free)
                for r, s in enumerate(free):
                    free_at[w, r] = s
            CuckooFilter._OCC_LUT = (nfree, free_at)
        nfree, free_at = CuckooFilter._OCC_LUT
        can = rank < nfree[occ]
        slot_idx = free_at[occ[can], np.minimum(rank[can], 3)]
        self.slots[b[can], slot_idx] = fps[order][can]
        placed = np.zeros(n, dtype=bool)
        placed[order] = can
        return placed

    def delete_batch(self, hs: np.ndarray) -> int:
        """Vectorized batch delete — the mirror of ``add_batch``: each key
        clears one slot holding its fingerprint (first bucket then the
        alternate), with in-batch duplicates clearing distinct slots via
        the same (bucket, fp)-run ranking. Returns keys deleted."""
        hs = np.asarray(hs, dtype=np.uint64)
        if not len(hs):
            return 0
        nb = np.uint64(self.n_buckets)
        pow2 = (self.n_buckets & (self.n_buckets - 1)) == 0
        bmask = np.uint64(self.n_buckets - 1)

        def _reduce(x: np.ndarray) -> np.ndarray:
            return (x & bmask) if pow2 else (x % nb)

        fp = ((hs >> np.uint64(32)) & np.uint64(0xFFFF)).astype(np.uint16)
        fp = np.where(fp == 0, np.uint16(1), fp)
        i1 = _reduce(hs).astype(np.int64)
        i2 = _reduce(i1.astype(np.uint64)
                     ^ (fp.astype(np.uint64) * np.uint64(0x5BD1E995))
                     ).astype(np.int64)
        pending = np.arange(len(hs))
        n_ok = 0
        for buckets in (i1, i2):
            if not len(pending):
                break
            cleared = self._scatter_clear(buckets[pending], fp[pending])
            n_ok += int(cleared.sum())
            pending = pending[~cleared]
        return n_ok

    def _scatter_clear(self, buckets: np.ndarray,
                       fps: np.ndarray) -> np.ndarray:
        """Clear, per (bucket, fp) key, the rank-th slot currently holding
        that fingerprint (rank = position within the equal-(bucket, fp)
        run), so duplicate keys in one batch clear distinct slots. Returns
        the cleared mask."""
        n = len(buckets)
        order = np.lexsort((fps, buckets))
        b, f = buckets[order], fps[order]
        idx = np.arange(n)
        first = np.empty(n, dtype=bool)
        first[0] = True
        np.not_equal(b[1:], b[:-1], out=first[1:])
        first[1:] |= f[1:] != f[:-1]
        rank = idx - np.maximum.accumulate(np.where(first, idx, 0))
        match = self.slots[b] == f[:, None]               # (n, 4)
        n_match = match.sum(axis=1)
        can = rank < n_match
        cum = match.cumsum(axis=1)
        target = (cum == (rank + 1)[:, None]) & match
        slot_idx = target.argmax(axis=1)
        self.slots[b[can], slot_idx[can]] = 0
        cleared = np.zeros(n, dtype=bool)
        cleared[order] = can
        return cleared

    def contains(self, h: int) -> bool:
        fp = self._fingerprint(h)
        i1, i2 = self._buckets(h)
        return bool((self.slots[i1] == fp).any() or (self.slots[i2] == fp).any())

    def delete(self, h: int) -> bool:
        fp = self._fingerprint(h)
        for i in self._buckets(h):
            idx = np.where(self.slots[i] == fp)[0]
            if len(idx):
                self.slots[i][idx[0]] = 0
                return True
        return False


CUCKOO_TABLE_SCHEMA = T.StructType([
    T.StructField("pid", T.IntegerType()),
    T.StructField("slots", T.BinaryType()),
])

CUCKOO_DF_SCHEMA = T.StructType([
    T.StructField("pid", T.IntegerType()),
    T.StructField("slots", T.BinaryType()),
    T.StructField("n_buckets", T.LongType()),
    T.StructField("n_added", T.LongType()),
    T.StructField("p", T.IntegerType()),
])


class PartitionedCuckoo:
    """Distributed cuckoo seen-filter — the DELETABLE variant of
    PartitionedBloom (north_star: "with a cuckoo-filter variant for
    deletable entries"): recrawl-expired URLs can LEAVE the seen set,
    which a Bloom filter cannot express.

    Same table-authoritative shape as PartitionedBloom: the filter is a
    ``(pid, slots binary)`` DataFrame (one uint16 slot array per url_hash
    partition, localCheckpointed). add/delete cogroup the batch's hashed
    keys with the owning partition's slot array and run the single-node
    CuckooFilter kernel per group — the slot matrix never materializes on
    the driver (only scalar counts collect). Probe is the same cogroup
    gather, fully vectorized. Membership: no false negatives; false
    positives only from 16-bit fingerprint collisions (~2^-16 per bucket
    pair), as for any cuckoo filter."""

    def __init__(self, partitions: int = 32,
                 capacity_per_partition: int = 1 << 16):
        self.P = partitions
        self.capacity_per_partition = capacity_per_partition
        self.n_buckets = max(8, 1 << capacity_per_partition.bit_length())
        self.n_added = 0
        self._table: DataFrame | None = None

    # -- hashing (JVM-side; unsigned 64-bit on the numpy side) -------------
    def _with_hash(self, df: DataFrame, col: str) -> DataFrame:
        return (df
                .withColumn("_h", F.xxhash64(F.col(col)))
                .withColumn("_pid", F.pmod(F.hash(F.col(col)), F.lit(self.P))))

    def _table_or_empty(self, spark: SparkSession) -> DataFrame:
        if self._table is not None:
            return self._table
        return local_df(spark, [], CUCKOO_TABLE_SCHEMA)

    def _mutate(self, spark: SparkSession, df: DataFrame, col: str,
                op: str) -> int:
        """Shared add/delete: cogroup (batch keys, slot array) per pid and
        run the single-node kernel; returns rows added/deleted (scalar
        collect only — slot bytes stay executor-side)."""
        nb = self.n_buckets

        out_schema = T.StructType([
            T.StructField("pid", T.IntegerType()),
            T.StructField("slots", T.BinaryType()),
            T.StructField("n_ok", T.LongType()),
        ])

        def kernel(keys: pd.DataFrame, slots_pdf: pd.DataFrame) -> pd.DataFrame:
            if not len(keys) and not len(slots_pdf):
                return pd.DataFrame({"pid": [], "slots": [], "n_ok": []})
            pid = int(keys["_pid"].iloc[0]) if len(keys) else \
                int(slots_pdf["pid"].iloc[0])
            cf = CuckooFilter.__new__(CuckooFilter)
            cf.n_buckets = nb
            cf.max_kicks = 500
            if len(slots_pdf):
                cf.slots = np.frombuffer(
                    slots_pdf["slots"].iloc[0],
                    dtype=np.uint16).reshape(nb, 4).copy()
            else:
                cf.slots = np.zeros((nb, 4), dtype=np.uint16)
            hs = keys["_h"].to_numpy().astype(np.uint64)
            if op == "add":
                # vectorized first-try placement; Python loop only for
                # keys whose candidate buckets are full (cuckoo kicks)
                n_ok = cf.add_batch(hs)
            else:
                n_ok = cf.delete_batch(hs)
            return pd.DataFrame({"pid": [pid], "slots": [cf.slots.tobytes()],
                                 "n_ok": [n_ok]})

        hashed = self._with_hash(df, col).select("_h", "_pid")
        merged = (hashed.groupBy("_pid")
                  .cogroup(self._table_or_empty(spark).groupBy("pid"))
                  .applyInPandas(kernel, schema=out_schema)
                  .persist())
        total = merged.agg(F.sum("n_ok").alias("s")).first()["s"]
        total = int(total) if total is not None else 0
        new_table = merged.select("pid", "slots").localCheckpoint(eager=True)
        merged.unpersist()
        self._table = new_table
        return total

    def add(self, spark: SparkSession, df: DataFrame, col: str = "url") -> int:
        n = self._mutate(spark, df, col, "add")
        self.n_added += n
        return n

    def delete(self, spark: SparkSession, df: DataFrame, col: str = "url") -> int:
        n = self._mutate(spark, df, col, "delete")
        self.n_added -= n
        return n

    def contains_flag(self, spark: SparkSession, df: DataFrame,
                      col: str = "url", flag: str = "_maybe_seen") -> DataFrame:
        """Adds a boolean column: False ⇒ definitively never seen (or
        deleted). Cogroup probe, fully vectorized numpy gather — no driver
        or broadcast copy of the slot matrix."""
        nb = self.n_buckets
        orig_cols = [f.name for f in df.schema.fields]
        out_schema = T.StructType(list(df.schema.fields) +
                                  [T.StructField(flag, T.BooleanType())])

        def probe(cand: pd.DataFrame, slots_pdf: pd.DataFrame) -> pd.DataFrame:
            out = cand[orig_cols].copy()
            if not len(cand):
                out[flag] = pd.Series([], dtype=bool)
                return out
            if not len(slots_pdf):
                out[flag] = False
                return out
            slots = np.frombuffer(slots_pdf["slots"].iloc[0],
                                  dtype=np.uint16).reshape(nb, 4)
            h = cand["_h"].to_numpy().astype(np.uint64)
            fp = ((h >> np.uint64(32)) & np.uint64(0xFFFF)).astype(np.uint16)
            fp = np.where(fp == 0, np.uint16(1), fp)
            i1 = (h % np.uint64(nb)).astype(np.int64)
            i2 = ((i1.astype(np.uint64) ^
                   (fp.astype(np.uint64) * np.uint64(0x5BD1E995)))
                  % np.uint64(nb)).astype(np.int64)
            hit = ((slots[i1] == fp[:, None]).any(axis=1)
                   | (slots[i2] == fp[:, None]).any(axis=1))
            out[flag] = hit
            return out

        hashed = self._with_hash(df, col)
        return (hashed.groupBy("_pid")
                .cogroup(self._table_or_empty(spark).groupBy("pid"))
                .applyInPandas(probe, schema=out_schema))

    # -- persistence (table-direct, like PartitionedBloom) ------------------
    def _zero_table(self, spark: SparkSession) -> DataFrame:
        """All-P zero-slots table, generated executor-side — mirrors
        PartitionedBloom._zero_table so a never-added filter roundtrips
        through to_df/from_df (meta rows exist even when empty)."""
        nb = self.n_buckets

        @F.pandas_udf(T.BinaryType())
        def zeros(pid: pd.Series) -> pd.Series:
            z = np.zeros((nb, 4), dtype=np.uint16).tobytes()
            return pd.Series([z] * len(pid))

        return (spark.range(self.P)
                .select(F.col("id").cast("int").alias("pid"))
                .repartition(self.P, "pid")
                .select("pid", zeros("pid").alias("slots")))

    def to_df(self, spark: SparkSession) -> DataFrame:
        t = self._table if self._table is not None else self._zero_table(spark)
        return t.select(
            "pid", "slots",
            F.lit(self.n_buckets).cast("long").alias("n_buckets"),
            F.lit(self.n_added).cast("long").alias("n_added"),
            F.lit(self.P).cast("int").alias("p"))

    @classmethod
    def from_df(cls, df: DataFrame) -> "PartitionedCuckoo":
        meta = df.select("n_buckets", "n_added", "p").first()
        obj = cls.__new__(cls)
        obj.n_buckets = int(meta["n_buckets"])
        obj.capacity_per_partition = obj.n_buckets
        obj.n_added = int(meta["n_added"])
        obj.P = int(meta["p"])
        obj._table = df.select("pid", "slots").localCheckpoint(eager=True)
        return obj
