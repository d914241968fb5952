"""Partitioned Bloom filter seen-set (SURVEY.md O2).

north_star: "URL-seen membership is a partitioned Bloom filter built via
pandas/Arrow UDAFs over canonicalized+murmur3-hashed URLs". The seen set
only grows (a URL is inserted if absent; a recrawl updates its row and
never removes it), so the filter needs no deletes.

Design — the filter IS a distributed table, never driver-resident:
- the url_hash space is split into P partitions by pmod(murmur3(url), P);
  each partition owns an m-bit array, held as one row of a
  ``(pid int, bitset binary)`` DataFrame (``self._table``, localCheckpointed
  so repeated adds and absorbs don't grow lineage)
- hashing: vectorized Kirsch-Mitzenmacher double hashing (numpy) from the
  two independent JVM-side hashes xxhash64 + murmur3 — no Python hashing
  at all; ``_set_bits`` is the one routine that writes bits
- one kernel writes every bit: candidates shuffle by pid and cogroup
  against the bitset table — each of the P partition arrays travels
  exactly once, to the task that owns that url_hash range. The kernel
  (``probe_kernel``) ORs every candidate's positions into that pid's
  bits and emits the grown bitset as one row per pid; asked for a flag,
  it first tests each candidate against the old bits.
- probe + absorb (the crawl cycle's path): ``prefilter`` persists the
  flagged kernel output; ``absorb(n_new)`` pins its bitset rows as the
  new table (an eager localCheckpoint over the persisted rows — no
  Python, no second pass over the keys). Exact because the filter holds
  every seen key: ORing a seen candidate sets no new bit, so ORing all
  candidates equals ORing only the new ones.
- bulk add (``add``: seeding, rebuilds, resume without a snapshot): the
  same kernel without the flag — only the three hash columns shuffle,
  and one eager localCheckpoint pins the grown rows as the table. The
  only driver transfer is one scalar row count, observed by that job.
- the bit matrix NEVER materializes on the driver: at 10^10 keys
  (~12 GB of bits) nothing round-trips
- persistence: ``to_df`` returns the table itself (plus scalar meta
  columns) so a snapshot commit writes it directly; ``from_df`` re-roots
  the table on the loaded parquet — neither direction collects bitsets
- ``prefilter``: definitively-new rows (no false negatives) skip the
  anti-join entirely; only probable-duplicates reach the exact verify. At
  10^10 URLs with ~1% discovery-duplication this removes ~99% of the
  anti-join's build-side traffic.

The probe's single numpy pass that tests and then sets bits follows
*Analyzing Vectorized Hash Tables Across CPU Architectures* (VLDB 2023).
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .crawler import local_df, minus_seen


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


def _set_bits(bits: np.ndarray, pos: np.ndarray) -> None:
    """OR every bit position in ``pos`` into the byte array ``bits`` in
    place (bit p lives in byte p >> 3, at bit p & 7)."""
    pos = pos.ravel()
    np.bitwise_or.at(bits, pos >> 3, (1 << (pos & 7)).astype(np.uint8))


def _nullable(pdf: pd.DataFrame) -> pd.DataFrame:
    """Integer and bool columns as pandas' nullable dtypes, so the
    kernel's null-padded bitset row keeps them exact (a plain concat
    would turn int64 into float64)."""
    conv = {}
    for c, dt in pdf.dtypes.items():
        if dt.kind == "b":
            conv[c] = "boolean"
        elif dt.kind in "iu":
            conv[c] = ("UInt" if dt.kind == "u" else "Int") + str(8 * dt.itemsize)
    return pdf.astype(conv) if conv else pdf


def probe_kernel(cand: pd.DataFrame, bits_pdf: pd.DataFrame, m: int, k: int,
                 cols: list[str], flag: str | None) -> pd.DataFrame:
    """The probe for one pid: ``cand`` holds that pid's candidates
    (``cols`` plus the ``_h1``/``_h2``/``_pid`` hashes), ``bits_pdf`` its
    (pid, bitset) row, if the table has one. Returns one row holding only
    ``_pid`` and ``_bitset``: the old bits with every candidate's
    positions ORed in. With a ``flag``, the candidates' ``cols`` come
    first, with ``flag`` (False ⇒ definitively never seen) tested against
    the old bits; with ``flag=None`` (the bulk add) the grown row is all
    there is. A pid with bits but no candidates re-emits its bitset
    unchanged; a pid with candidates but no bits starts from zeros."""
    if len(bits_pdf):
        pid = int(bits_pdf["pid"].iloc[0])
        bits = np.frombuffer(bits_pdf["bitset"].iloc[0], dtype=np.uint8)
    else:
        pid = int(cand["_pid"].iloc[0])
        bits = np.zeros(m // 8, dtype=np.uint8)
    pos = _positions(cand["_h1"].to_numpy(), cand["_h2"].to_numpy(), m, k)
    grown = bits.copy()
    _set_bits(grown, pos)
    grown_row = pd.DataFrame({"_pid": pd.array([pid], dtype="Int32"),
                              "_bitset": [grown.tobytes()]})
    if flag is None:
        return grown_row
    hit = ((bits[pos >> 3] & (1 << (pos & 7)).astype(np.uint8)) != 0).all(axis=1)
    rows = _nullable(cand[cols]).assign(**{flag: pd.array(hit, dtype="boolean")})
    return pd.concat([rows, grown_row], ignore_index=True)


class PartitionedBloom:
    # the table ``to_df`` writes: the bitsets plus scalar meta columns
    SNAPSHOT_SCHEMA = T.StructType(_TABLE_SCHEMA.fields + [
        T.StructField("m", T.LongType()),
        T.StructField("k", T.LongType()),
        T.StructField("n_added", T.LongType()),
        T.StructField("p", T.IntegerType()),
    ])

    def __init__(self, partitions: int = 32, capacity: int = 1 << 20,
                 bits_per_key: int = 10):
        self.P = partitions
        total_bits = capacity * bits_per_key
        m = max(1024, total_bits // partitions)
        self.m = (m + 63) // 64 * 64
        self.k = max(1, int(round(bits_per_key * math.log(2))))
        self.n_added = 0
        self._table: DataFrame | None = None  # (pid, bitset) — authoritative
        self._last_flagged: DataFrame | None = None  # prefilter persist slot
        # the last prefilter's grown (pid, bitset) rows, until absorbed
        self._grown: DataFrame | None = None

    # -- hashing (JVM-side) -------------------------------------------------
    def _with_hashes(self, df: DataFrame, col: str) -> DataFrame:
        return (df
                .withColumn("_h1", F.xxhash64(F.col(col)))
                .withColumn("_h2", F.hash(F.col(col)).cast("long"))
                .withColumn("_pid", F.pmod(F.hash(F.col(col)), F.lit(self.P))))

    def _table_or_empty(self, spark: SparkSession) -> DataFrame:
        if self._table is not None:
            return self._table
        return local_df(spark, [], _TABLE_SCHEMA)

    # -- build ---------------------------------------------------------------
    def add(self, spark: SparkSession, df: DataFrame, col: str = "url") -> int:
        """Bulk insert: ``probe_kernel`` without a flag over ``df[col]``'s
        hashes, its grown (pid, bitset) rows pinned as the table by one
        eager localCheckpoint. The bit matrix never reaches the driver —
        the one scalar (rows added) comes from an Observation on the
        input keys, read by that checkpoint job. Returns it; when it is 0
        the filter is left exactly as it was.

        For bulk builds (seeding, rebuilds, a resume without a snapshot);
        a crawl cycle's new keys go in through ``absorb``. An add drops
        any probe not yet absorbed: its grown bits predate this add."""
        self._grown = None
        # only the hashes shuffle; the observed frame derives from ``df``,
        # so it completes through ``df``'s session even when that is not
        # ``spark`` (a streaming micro-batch runs in a cloned session)
        added = Observation()
        hashed = (self._with_hashes(df, col).select("_h1", "_h2", "_pid")
                  .observe(added, F.count(F.lit(1)).alias("n")))
        # eager localCheckpoint: truncates the table's lineage (cost per
        # add stays O(P rows), not O(history)) and materializes it
        # executor-side
        grown = (self._probe(spark, hashed, [], None)
                 .select(F.col("_pid").alias("pid"),
                         F.col("_bitset").alias("bitset"))
                 .localCheckpoint(eager=True))
        total = int(added.get["n"])
        if total == 0:
            return 0
        self._table = grown
        self.n_added += total
        return total

    def rebase(self, table_df: DataFrame) -> None:
        """Re-root the bitset table on a just-committed parquet snapshot
        (releases the executor-side checkpoint blocks; the bits are
        unchanged)."""
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
        crawler.BLOOM_REBUILD_FPR."""
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
        out._last_flagged = None
        out._grown = None
        return out

    # -- probe ---------------------------------------------------------------
    def _probe(self, spark: SparkSession, hashed: DataFrame, cols: list[str],
               flag: str | None) -> DataFrame:
        """``probe_kernel`` over every pid of ``hashed`` (``cols`` plus the
        ``_with_hashes`` columns): candidates shuffle by pid and each task
        receives ONLY its own partition's bit array via cogroup against
        the bitset TABLE — no driver or broadcast copy of the bit matrix.
        At 10^10 keys (~12 GB of bits) each of the P partition arrays
        travels exactly once, to the task that owns that url_hash range.
        Rows with a null ``flag`` (every row, with ``flag=None``) are the
        grown (``_pid``, ``_bitset``) rows; every output column is
        nullable for them."""
        m, k = self.m, self.k
        fields = [T.StructField(c, hashed.schema[c].dataType) for c in cols]
        if flag is not None:
            fields.append(T.StructField(flag, T.BooleanType()))
        schema = T.StructType(fields + [T.StructField("_pid", T.IntegerType()),
                                        T.StructField("_bitset", T.BinaryType())])

        def kernel(cand: pd.DataFrame, bits_pdf: pd.DataFrame) -> pd.DataFrame:
            return probe_kernel(cand, bits_pdf, m, k, cols, flag)

        return (hashed.groupBy("_pid")
                .cogroup(self._table_or_empty(spark).groupBy("pid"))
                .applyInPandas(kernel, schema=schema))

    def maybe_seen_flag(self, spark: SparkSession, df: DataFrame,
                        col: str = "url",
                        flag: str = "_maybe_seen") -> DataFrame:
        """Adds a boolean column: False ⇒ definitively never seen. The
        candidate rows of the one probe (``_probe``); the grown bits are
        dropped and the filter is left as it was."""
        return (self._probe(spark, self._with_hashes(df, col), df.columns, flag)
                .filter(F.col(flag).isNotNull()).drop("_pid", "_bitset"))

    def prefilter(self, spark: SparkSession, candidates: DataFrame,
                  col: str, seen: DataFrame,
                  verify: str = "shuffle") -> DataFrame:
        """Exact dedup with Bloom short-circuit: returns candidates NOT in
        ``seen`` — identical result to a plain left_anti join (no false
        negatives), but only Bloom-positive rows reach the verify join.

        ``verify`` picks the exact-verify join strategy:
        - "shuffle" (default): plain left_anti — right when suspects are a
          large fraction of the candidates (bulk corpus dedup);
        - "broadcast": ``crawler.minus_seen`` — suspects broadcast into a
          streaming left_semi scan of seen, hits broadcast back — the seen
          table is read once, column-pruned, never exchanged. Right when
          suspects are bounded (the crawl cycle's politeness-budget links)
          and seen is huge. Candidates must be unique on ``col``.

        The probe output (flagged candidates plus the grown bitset rows)
        is persisted: the definite-new and suspect branches read it, and
        ``absorb`` pins its bitset rows as the new table. The PREVIOUS
        call's persist is released here, and ``release()`` drops the last
        one — so a crawl loop calling prefilter once per cycle holds at
        most one cycle's flags in executor storage, not an unbounded
        accumulation. The filter itself is unchanged until ``absorb``; a
        caller that only dedups (``incremental_dedup``) never absorbs.

        CONTRACT: materialize (checkpoint/collect/write/persist + action)
        the returned DataFrame, then ``absorb`` its new-row count, BEFORE
        the next ``prefilter()`` or ``add()`` on this filter. The result is
        lazy; once the previous persist is released and the filter has
        absorbed more keys, recomputing an old result re-probes the
        now-fuller filter and can reroute rows (definite-new → suspect),
        silently changing what downstream sees; and the next prefilter or
        add drops the grown bits. The engine materializes its new rows in
        the cycle's delta fold and absorbs right after (crawler.run_cycle)
        — external callers must do the same."""
        self.release()
        flagged = self._probe(spark, self._with_hashes(candidates, col),
                              candidates.columns, "_maybe_seen").persist()
        self._last_flagged = flagged
        self._grown = (flagged.filter(F.col("_bitset").isNotNull())
                       .select(F.col("_pid").alias("pid"),
                               F.col("_bitset").alias("bitset")))
        rows = flagged.drop("_pid", "_bitset")
        definite_new = rows.filter(~F.col("_maybe_seen")).drop("_maybe_seen")
        suspects = rows.filter(F.col("_maybe_seen")).drop("_maybe_seen")
        if verify == "broadcast":
            verified_new = minus_seen(suspects, seen, col)
        else:
            verified_new = suspects.join(seen, col, "left_anti")
        return definite_new.unionByName(verified_new)

    def absorb(self, n_new: int) -> None:
        """Take the last ``prefilter``'s keys into the filter: its grown
        bitset rows (every candidate's bits ORed into the old table)
        become the table, pinned by an eager localCheckpoint over the
        persisted probe output — one JVM job, no Python — and ``n_new``
        (the prefilter's result row count) is added to ``n_added``.

        Exact when the filter already holds every key of ``seen``, as the
        crawl's and the streaming ingest's filters do: a candidate the
        verify drops sets no new bit, so the table equals an ``add`` of
        the new rows alone. With ``n_new == 0`` no bit changes and no job
        runs. Raises when no prefilter is pending (none ran, or it was
        already absorbed, released or superseded by an ``add``)."""
        if self._grown is None:
            raise RuntimeError("absorb() needs a prefilter() that has not "
                               "been absorbed, released or followed by add()")
        grown, self._grown = self._grown, None
        if n_new:
            self._table = grown.localCheckpoint(eager=True)
            self.n_added += n_new

    def release(self) -> None:
        """Unpersist the last prefilter's probe output (call after
        downstream actions have consumed the result, and after
        ``absorb``); a pending absorb is dropped with it."""
        self._grown = None
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
        """Restore from a persisted snapshot table. Reads four scalar meta
        columns (column-pruned — no bitset bytes cross the driver) and
        re-roots the bitset table on the parquet via localCheckpoint so a
        later snapshot GC can't pull the files out from under it."""
        meta = df.select("m", "k", "n_added", "p").first()
        obj = cls.__new__(cls)
        obj.m = int(meta["m"])
        obj.k = int(meta["k"])
        obj.n_added = int(meta["n_added"])
        obj.P = int(meta["p"])
        obj._table = df.select("pid", "bitset").localCheckpoint(eager=True)
        obj._last_flagged = None
        obj._grown = None
        return obj
