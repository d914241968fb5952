"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard,
embedding-cosine near-dup.

Scale design:
- exact + fingerprint dedup: hash-groupBy (map-side partial agg, one shuffle
  on the hash — the cheapest possible full-corpus dedup)
- MinHash: explode(shingles) → groupBy(doc) partial-agg mins; K permutations
  via K md5-salted hash columns — ALL JVM-side expressions (md5/conv), no
  Python, so the signature build is one exploded aggregation
- LSH banding: band signature = struct of the band's minhashes; candidate
  pairs = self-join on (band_idx, band_sig) — only bucket collisions shuffle,
  never the O(n^2) pair space
- SimHash: Arrow-batched pandas UDF (bit math over token hashes, numpy)
- verification joins (Jaccard on candidates) stay sparse: candidates only

The md5→bigint trick (`conv(substring(md5(x),1,15),16,10)`) is used instead
of xxhash64/murmur3 where an ANSI-SQL oracle twin must produce identical
values in DuckDB (`('0x'||substr(md5(x),1,15))::BIGINT`).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .text import fingerprint, tokens


def md5_long(col) -> "F.Column":
    """Deterministic 60-bit hash with an exact DuckDB twin."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def exact_dedup(df: DataFrame, text_col: str = "text",
                id_col: str = "doc_id") -> DataFrame:
    """Exact dedup via hash-groupBy: one row per distinct content hash with
    the keeper (min id) and duplicate count."""
    return (df
            .groupBy(F.md5(F.col(text_col)).alias("content_hash"))
            .agg(F.min(id_col).alias("keeper_id"),
                 F.count(F.lit(1)).alias("n_copies"))
            .withColumn("n_dupes", F.col("n_copies") - F.lit(1)))


def fingerprint_dedup(df: DataFrame, text_col: str = "text",
                      id_col: str = "doc_id") -> DataFrame:
    """Normalized-fingerprint dedup (formatting-noise tolerant)."""
    return (df
            .groupBy(fingerprint(F.col(text_col)).alias("fp"))
            .agg(F.min(id_col).alias("keeper_id"),
                 F.count(F.lit(1)).alias("n_copies")))


def shingles_of_tokens(toks, n: int = 3) -> "F.Column":
    """n-gram (word shingle) array from an ALREADY-MATERIALIZED token-array
    column — JVM higher-order functions, no Python. Callers must project
    the token array into a real column first: passing `tokens(text)` inline
    re-evaluates the full text split inside every element_at of every
    lambda iteration (O(shingles × n) splits per doc — measured 8 s just to
    explode 256k shingles at sf0.1; the two-step form is ~10x cheaper)."""
    k = F.size(toks) - F.lit(n - 1)
    idx = F.sequence(F.lit(0), F.greatest(k - 1, F.lit(-1)))
    return F.when(k <= 0, F.array()).otherwise(
        F.transform(idx, lambda i: F.concat_ws(
            " ", *[F.element_at(toks, (i + F.lit(j + 1)).cast("int")) for j in range(n)])))


def word_shingles(col, n: int = 3) -> "F.Column":
    """n-gram (word shingle) array of lowercased text. Convenience form for
    expression contexts; hot paths should tokenize into a column and use
    shingles_of_tokens (see its docstring for why)."""
    return shingles_of_tokens(tokens(col), n)


def minhash_signatures(df: DataFrame, text_col: str = "text",
                       id_col: str = "doc_id", num_hashes: int = 8,
                       shingle_n: int = 2) -> DataFrame:
    """MinHash signature per document: explode shingles once, compute K
    salted md5 hashes as columns, take per-doc mins — a single partial-agg
    shuffle. Returns (id, minhash_0..K-1)."""
    shingled = (df
                .select(F.col(id_col), tokens(F.col(text_col)).alias("_toks"))
                .select(F.col(id_col),
                        F.explode_outer(F.array_distinct(
                            shingles_of_tokens(F.col("_toks"), shingle_n)))
                        .alias("shingle")))
    aggs = [
        F.min(md5_long(F.concat(F.lit(f"s{i}:"), F.col("shingle"))))
         .alias(f"minhash_{i}")
        for i in range(num_hashes)
    ]
    return shingled.groupBy(id_col).agg(*aggs)


def minhash_lsh_pairs(df: DataFrame, text_col: str = "text",
                      id_col: str = "doc_id", num_hashes: int = 8,
                      bands: int = 4, shingle_n: int = 2) -> DataFrame:
    """Candidate near-dup pairs via LSH banding: docs sharing ANY band of
    their MinHash signature. Only bucket collisions are joined. Returns
    (id_a, id_b) with id_a < id_b, distinct."""
    rows_per_band = num_hashes // bands
    sig = minhash_signatures(df, text_col, id_col, num_hashes, shingle_n)
    band_cols = []
    for b in range(bands):
        cols = [F.col(f"minhash_{b * rows_per_band + r}")
                for r in range(rows_per_band)]
        band_cols.append(F.struct(F.lit(b).alias("band"),
                                  *[c.alias(f"h{r}") for r, c in enumerate(cols)]))
    banded = sig.select(F.col(id_col),
                        F.explode(F.array(*band_cols)).alias("band_sig"))
    a = banded.alias("a")
    b = banded.alias("b")
    return (a.join(b, (F.col("a.band_sig") == F.col("b.band_sig"))
                   & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")))
             .select(F.col(f"a.{id_col}").alias("id_a"),
                     F.col(f"b.{id_col}").alias("id_b"))
             .distinct())


def jaccard_pairs(df: DataFrame, pairs: DataFrame, text_col: str = "text",
                  id_col: str = "doc_id", shingle_n: int = 2) -> DataFrame:
    """Exact shingle-set Jaccard for candidate pairs (the LSH verify step).
    Sparse: joins only the candidate pairs back to the corpus."""
    sh = (df.select(F.col(id_col), tokens(F.col(text_col)).alias("_toks"))
            .select(F.col(id_col),
                    F.array_distinct(shingles_of_tokens(F.col("_toks"),
                                                        shingle_n)).alias("sh")))
    j = (pairs
         .join(sh.select(F.col(id_col).alias("id_a"), F.col("sh").alias("sh_a")), "id_a")
         .join(sh.select(F.col(id_col).alias("id_b"), F.col("sh").alias("sh_b")), "id_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size(F.array_union("sh_a", "sh_b"))
    return j.select(
        "id_a", "id_b",
        F.round(inter / F.greatest(union, F.lit(1)).cast("double"), 4)
         .alias("jaccard"))


def token_jaccard_adjacent(df: DataFrame, text_col: str = "text",
                           id_col: str = "doc_id") -> DataFrame:
    """Unigram-set Jaccard of each doc against the next doc id — a cheap
    O(n) similarity screen with an exact SQL oracle twin (demonstrates the
    array set-ops path)."""
    toks = df.select(F.col(id_col).alias("id"),
                     F.array_distinct(tokens(F.col(text_col))).alias("tk"))
    a = toks.alias("a")
    b = toks.select((F.col("id") - 1).alias("id"), F.col("tk").alias("tk_b")).alias("b")
    j = a.join(b, "id")
    inter = F.size(F.array_intersect("tk", "tk_b"))
    union = F.size(F.array_union("tk", "tk_b"))
    return j.select(F.col("id").alias("doc_id"),
                    F.round(inter / F.greatest(union, F.lit(1)).cast("double"), 4)
                     .alias("jaccard_next"))


# ---------------------------------------------------------------------------
# SimHash — pure JVM column expressions (60-bit, md5-keyed) with an exact
# ANSI-SQL oracle twin; no Python in the hot path
# ---------------------------------------------------------------------------

SIMHASH_BITS = 60  # 15 md5 hex chars → non-negative BIGINT in both engines


_SIMHASH_LANES = 3                           # counters per packed agg column
_SIMHASH_GROUPS = SIMHASH_BITS // _SIMHASH_LANES   # 20 packed agg columns
_SIMHASH_LANE_W = 21                         # bits per counter lane
_SIMHASH_LANE_MASK = (1 << _SIMHASH_LANE_W) - 1


def simhash(df: DataFrame, text_col: str = "text",
            id_col: str = "doc_id") -> DataFrame:
    """60-bit SimHash over whitespace tokens, entirely as JVM expressions:
    explode tokens once, per-bit sign-sums packed THREE counters per
    64-bit SUM (bit j accumulates in lane j // 20 of packed column
    j % 20, at bit offset 21 * lane), one shuffle on the doc id with
    map-side combine, then assemble the signature. Packing cuts the
    aggregation buffer from 60 to 20 long columns in the stage that
    dominates simhash_near_pairs — measured 9-16% faster end-to-end at a
    100k-doc corpus, parity-exact vs the unpacked 60-agg
    (BENCH/BASELINE.md §4). Lane carries cannot collide while every
    per-doc token count stays below 2^21 = 2,097,151 (a >2M-token single
    document — >10 MB of text in one row — is outside the engine's
    document contract). Token hash = md5→60-bit (md5_long), so DuckDB
    computes the identical signature — the SQL twin lives in
    __spark_entry__.oracle_sql. Bit j is set iff strictly more than half
    the token hashes have bit j set (ties → 0). Empty/token-less docs get
    simhash 0."""
    exploded = df.select(
        F.col(id_col),
        F.explode_outer(tokens(F.col(text_col))).alias("tok"))
    # hash hoisted into a projection so the packed aggregates read one
    # precomputed column instead of repeating md5 in every agg expression
    exploded = exploded.select(
        F.col(id_col), F.col("tok"), md5_long(F.col("tok")).alias("_h"))

    # packed lane sums assembled as SQL strings: ONE parser round trip
    # per aggregate instead of ~6 py4j Column-operator calls each —
    # measured r6: Python-side assembly of this aggregation cost
    # 0.45-0.74 s per query build; identical expressions, identical plan
    def lane_bit_sql(k: int, lane: int) -> str:
        j = k + lane * _SIMHASH_GROUPS
        b = f"(shiftrightunsigned(_h, {j}) & 1)"
        return f"shiftleft({b}, {lane * _SIMHASH_LANE_W})" if lane else b

    packed = [
        F.expr("sum(" + " + ".join(lane_bit_sql(k, lane)
                                   for lane in range(_SIMHASH_LANES)) + ")")
        .alias(f"p{k}")
        for k in range(_SIMHASH_GROUPS)
    ]
    agg = exploded.groupBy(id_col).agg(
        F.count(F.col("tok")).alias("n_tok"), *packed)
    # signature assembly as ONE higher-order aggregate over the packed
    # array instead of a 60-term sum of per-bit when() chains. The old
    # left-deep ~600-node tree cost ~1.2 s of CATALYST PLANNING per run
    # (measured r6: plan-only 1.6 s vs 0.63 s execution for the whole
    # signature job — optimization guide §7.3 "avoid generating gigantic
    # expression trees in loops"); this form is ~10x smaller and planning
    # drops out of the profile. Same integer math bit-for-bit: lane
    # counter = (p[j%20] >>> (21*(j div 20))) & (2^21-1), bit j set iff
    # counter*2 > n_tok (ties -> 0), identical to the unrolled form and
    # to the DuckDB twin in __spark_entry__.oracle_sql.
    parr = F.expr("array(" + ", ".join(
        f"coalesce(p{k}, 0L)" for k in range(_SIMHASH_GROUPS)) + ")")
    value = F.expr(
        f"aggregate(sequence(0, {SIMHASH_BITS - 1}), 0L, (acc, j) -> "
        f"acc + IF((shiftrightunsigned(element_at(_parr, (j % {_SIMHASH_GROUPS}) + 1), "
        f"(j div {_SIMHASH_GROUPS}) * {_SIMHASH_LANE_W}) & {_SIMHASH_LANE_MASK}L) * 2 "
        f"> n_tok, shiftleft(1L, j), 0L))")
    return (agg.select(F.col(id_col), F.col("n_tok"), parr.alias("_parr"))
            .select(F.col(id_col), value.alias("simhash")))


def _chunk_defs(bits: int, n_chunks: int) -> list[tuple[int, int]]:
    """(offset, width) per chunk, widths as even as possible."""
    base, rem = divmod(bits, n_chunks)
    out, off = [], 0
    for c in range(n_chunks):
        w = base + (1 if c < rem else 0)
        out.append((off, w))
        off += w
    return out


def simhash_near_pairs(df: DataFrame, text_col: str = "text",
                       id_col: str = "doc_id", max_hamming: int = 3) -> DataFrame:
    """Near-dup pairs by SimHash hamming distance, LSH-bucketed on
    ``max_hamming + 1`` bit-chunks: a pair differing in at most h of the 60
    bits has its differences spread over at most h chunks, so with h+1
    chunks at least one chunk matches exactly (pigeonhole) — COMPLETE
    candidate generation for any h <= 59, and only bucket collisions are
    joined (never the O(n^2) pair space). Note the chunk width shrinks as h
    grows (60/(h+1) bits → more collisions to verify); brute-force
    completeness is pinned by tests/test_datapipe.py."""
    # delegates to the generic banded hamming kernel; the signature table
    # is materialized inside it before the self-join (tiny — n rows x 16
    # bytes — but Spark plans NO exchange reuse across the two join sides,
    # so without it the 61-column token aggregation, the dominant cost,
    # runs twice), and the bit_count verify runs BEFORE the distinct so
    # the dedup exchange is O(result), not O(collisions)
    return hamming_near_pairs(simhash(df, text_col, id_col), "simhash",
                              id_col, SIMHASH_BITS, max_hamming)


# signature tables at least this large band on chunk PAIRS (see
# hamming_near_pairs); smaller ones on single chunks
PAIRS_BANDING_MIN_ROWS = 50_000


def hamming_near_pairs(df: DataFrame, sig_col: str, id_col: str,
                       bits: int, max_hamming: int,
                       out_a: str = "id_a", out_b: str = "id_b") -> DataFrame:
    """Generic banded hamming-distance near-pair join over ANY integer
    signature column (``bits`` wide, stored in a signed 64-bit column):
    pigeonhole-complete banding (see the scheme comment below: double-chunk
    bands at ``max_hamming + 2`` chunks on tables of at least
    PAIRS_BANDING_MIN_ROWS rows, classic single-chunk bands otherwise), so
    candidates are bucket collisions only (never O(n²)); a codegen'd
    bit_count verify runs BEFORE the distinct so the dedup exchange is
    O(result).

    This is the shared kernel for 60-bit text SimHash and 64-bit image
    perceptual hashes (multimodal.phash_dup_pairs): near-duplicate IMAGE
    detection at corpus scale uses exactly the same plan shape as text
    near-dup — banded equi-join + cheap verify."""
    if not 0 <= max_hamming < bits:
        raise ValueError(f"max_hamming must be in [0, {bits - 1}]")
    sig = df.select(F.col(id_col).alias("_id"),
                    F.col(sig_col).alias("_sig")).localCheckpoint(eager=True)
    def chunk_val(off: int, w: int) -> "F.Column":
        shifted = F.shiftrightunsigned(F.col("_sig"), off)
        if w >= 64:
            # full-width chunk (max_hamming=0 at bits=64): the mask
            # (1<<64)-1 does not fit in LongType and is a no-op anyway
            return shifted
        return shifted.bitwiseAND(F.lit((1 << w) - 1))

    # banding scheme. Pigeonhole with k chunks: <= h differing bits touch
    # <= h chunks, so >= k - h chunks match exactly. k = h + 1 gives the
    # classic single-chunk-match bands; k = h + 2 guarantees >= TWO
    # matching chunks, so bucketing on UNORDERED CHUNK PAIRS (i<j, both
    # values in the key) stays complete while the bucket key is twice as
    # wide — collisions shrink quadratically (2^-2w vs 2^-w per band) for
    # C(k,2)/k more exploded rows. At h=8/60 bits: 45 bands of ~12-bit
    # keys vs 9 bands of ~7-bit keys → ~6x fewer candidate pairs streamed
    # through the verify, the dominant corpus-scale cost.
    # the choice is a corpus-size tradeoff: 'pairs' explodes
    # C(h+2,2)/(h+1) more rows but its double-wide bucket keys collide
    # ~2^-w less often — collisions scale ~n^2/2^w while the explode
    # scales ~n, so 'pairs' wins on large corpora and loses on small ones
    # (measured: 2x slower at n=5k, where verify is cheap and the 45-band
    # explode dominates). The (already-checkpointed) signature table is
    # counted — one cached count — and the switch is at
    # PAIRS_BANDING_MIN_ROWS.
    pairs_possible = (max_hamming + 2) <= bits and max_hamming >= 1
    if pairs_possible and sig.count() >= PAIRS_BANDING_MIN_ROWS:
        k = max_hamming + 2
        defs = _chunk_defs(bits, k)
        chunk_cols = [chunk_val(off, w).alias(f"_c{c}")
                      for c, (off, w) in enumerate(defs)]
        base = sig.select("_id", "_sig", *chunk_cols)
        band_structs = [
            F.struct(F.lit(i * k + j).alias("chunk_idx"),
                     F.col(f"_c{i}").alias("chunk_val"),
                     F.col(f"_c{j}").alias("chunk_val2"))
            for i in range(k) for j in range(i + 1, k)
        ]
        exploded = base.select(
            "_id", "_sig", F.explode(F.array(*band_structs)).alias("ch"))
    else:
        defs = _chunk_defs(bits, max_hamming + 1)
        chunk_structs = [
            F.struct(F.lit(c).alias("chunk_idx"),
                     chunk_val(off, w).alias("chunk_val"))
            for c, (off, w) in enumerate(defs)
        ]
        exploded = sig.select(
            "_id", "_sig", F.explode(F.array(*chunk_structs)).alias("ch"))
    a, b = exploded.alias("a"), exploded.alias("b")
    cand = (a.join(b, (F.col("a.ch") == F.col("b.ch"))
                   & (F.col("a._id") < F.col("b._id")))
              .select(F.col("a._id").alias(out_a),
                      F.col("b._id").alias(out_b),
                      F.col("a._sig").alias("_sig_a"),
                      F.col("b._sig").alias("_sig_b")))
    hamming = F.bit_count(F.col("_sig_a").bitwiseXOR(F.col("_sig_b"))) \
               .cast("long")
    return (cand.withColumn("hamming", hamming)
                .filter(F.col("hamming") <= max_hamming)
                .select(out_a, out_b, "hamming")
                .distinct())


def dup_clusters(pairs: DataFrame, id_a: str = "id_a", id_b: str = "id_b",
                 max_iter: int = 20) -> DataFrame:
    """Connected components over near-dup pairs → cluster assignment
    (doc_id, cluster_id = min doc id in the component) — the corpus-dedup
    final step: LSH finds pairs, this turns pairs into keep/drop groups.

    Hash-min label propagation: every node starts labeled with itself;
    each round joins neighbor labels and keeps the min; stop at fixpoint.
    Scale shape: rounds = component diameter (near-dup clusters from LSH
    are near-cliques, so 2-3 rounds in practice); each round is one
    equi-join + one partial-agg min — never materializes the transitive
    closure; labels localCheckpoint per round so lineage stays flat.
    Oracle twin: DuckDB WITH RECURSIVE reachability (exact on the sf0.01
    pair set; closure-based, viable only at oracle scale)."""
    edges = pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
    # pin the (duplicate-volume-sized, never corpus-sized) edge set ONCE:
    # every propagation round joins against it, and without the pin each
    # round would recompute the caller's full upstream pair pipeline
    # (LSH banding / quantizer-cell cosine join) — measured 30+ s vs ~5 s
    # for semantic_dedup at sf0.1
    sym = edges.unionByName(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst")))\
        .localCheckpoint(eager=True)
    labels = (sym.select(F.col("src").alias("id")).distinct()
              .withColumn("label", F.col("id"))
              .localCheckpoint(eager=True))
    changed = 0
    for _ in range(max_iter):
        nbr = (sym.join(labels, sym.dst == labels.id)
               .select(F.col("src").alias("id"), F.col("label")))
        new_labels = (labels.select("id", "label").unionByName(nbr)
                      .groupBy("id").agg(F.min("label").alias("label"))
                      .localCheckpoint(eager=True))
        changed = (new_labels.alias("n")
                   .join(labels.alias("o"), "id")
                   .filter(F.col("n.label") != F.col("o.label"))
                   .limit(1).count())
        labels = new_labels
        if changed == 0:
            break
    if changed != 0:
        # changed>0 on the FINAL round means the labels moved that round —
        # they may still have just reached the fixpoint. One confirming
        # propagation distinguishes "converged on the last permitted
        # round" from genuinely unconverged (only runs in this boundary
        # case).
        nbr = (sym.join(labels, sym.dst == labels.id)
               .select(F.col("src").alias("id"), F.col("label")))
        confirm = (labels.select("id", "label").unionByName(nbr)
                   .groupBy("id").agg(F.min("label").alias("label")))
        still = (confirm.alias("n").join(labels.alias("o"), "id")
                 .filter(F.col("n.label") != F.col("o.label"))
                 .limit(1).count())
        if still != 0:
            raise RuntimeError(
                f"dup_clusters did not converge within max_iter={max_iter} "
                f"rounds (a component's diameter exceeds the cap); raise "
                f"max_iter — returning partial labels would silently split "
                f"clusters")
    return labels.select(F.col("id").alias("doc_id"),
                         F.col("label").alias("cluster_id"))


def contamination_screen(df: DataFrame, blocklist: DataFrame,
                         text_col: str = "text", id_col: str = "doc_id",
                         gram_col: str = "gram", n: int = 3) -> DataFrame:
    """Benchmark-contamination screening: the fraction of a document's
    distinct word n-grams that appear in a blocklist (e.g. the n-grams of
    an evaluation set) — the standard decontamination gate before training.

    Scale shape: documents explode their distinct n-grams ONCE (tokenized
    into a column first — see shingles_of_tokens); the blocklist joins
    broadcast (eval-set shingle lists are small next to a training corpus),
    so the corpus never shuffles; per-doc hit/total counts come from one
    partial aggregation. Returns (id, n_grams, n_contaminated,
    contamination_ratio), ratio 0.0 for docs with < n tokens."""
    sh = (df.select(F.col(id_col), tokens(F.col(text_col)).alias("_toks"))
          .select(F.col(id_col),
                  F.explode_outer(F.array_distinct(
                      shingles_of_tokens(F.col("_toks"), n))).alias("_gram")))
    bl = blocklist.select(F.col(gram_col).alias("_gram")).distinct()
    flagged = sh.join(F.broadcast(bl.withColumn("_hit", F.lit(1))),
                      "_gram", "left")
    agg = flagged.groupBy(id_col).agg(
        F.count(F.col("_gram")).alias("n_grams"),
        F.sum(F.coalesce(F.col("_hit"), F.lit(0))).alias("n_contaminated"))
    ratio = F.when(F.col("n_grams") > 0,
                   F.round(F.col("n_contaminated") /
                           F.col("n_grams").cast("double"), 4)) \
             .otherwise(F.lit(0.0))
    return agg.select(F.col(id_col), F.col("n_grams").cast("long"),
                      F.col("n_contaminated").cast("long"),
                      ratio.alias("contamination_ratio"))


def ngram_span_dedup(df: DataFrame, n: int = 8, text_col: str = "text",
                     id_col: str = "doc_id") -> DataFrame:
    """Exact duplicated-substring removal (Lee et al. 2022,
    arXiv:2107.06499 "Deduplicating Training Data Makes Language Models
    Better"), re-expressed from their suffix-array pass as a Spark-native
    n-gram occurrence plan: a token is dropped iff some duplicated n-token
    span occurrence covers it AND that occurrence is not the span's
    canonical (corpus-first by (doc_id, pos)) occurrence — i.e. every
    duplicated span keeps exactly its first occurrence, like the paper's
    ExactSubstr dedup at a fixed span length.

    Tokenization is an exact single-space split so the ANSI-SQL twin
    (string_split) replays it bit-for-bit.

    Scale shape: occurrences explode once (len-n+1 rows/doc, linear in
    corpus tokens); span identity is md5 of the joined gram so the
    group-by key is fixed-width (hex string deliberately: parsing it into
    long pairs via conv(substring(...)) per occurrence measured SLOWER
    end-to-end than the wider shuffle it saves — BENCH/BASELINE.md,
    round-5 late-evening session);
    the occurrence projection is COMPUTED TWICE (once under the stats agg,
    once on the join side — no ReusedExchange, because map-side partial
    aggregation makes the two exchanges non-identical) and that is the
    intended trade: recomputing a cheap split+explode+md5 projection from
    the columnar scan beats materializing a corpus-token-scale occurrence
    table, and the partial agg it buys keeps the stats shuffle skew-safe;
    the per-span (count, canonical) agg is
    map-side combinable (never a window over the span key — a boilerplate
    span occurring 10^9 times would put 10^9 rows in one window
    partition, while partial aggregation reduces them in-mapper); covered
    token positions re-explode only from NON-canonical duplicate
    occurrences (linear in the duplicate volume, n is a small constant);
    kept tokens come from one (doc, pos) anti-join and reassemble with
    array_sort. Nothing driver-resident, no O(n²) pair space.

    Returns (id, text_dedup, n_tokens, n_removed); documents may come
    back empty but are never lost."""
    toks = df.select(F.col(id_col), F.split(F.col(text_col), " ").alias("_t"))
    base = toks.withColumn("_len", F.size("_t"))
    occ = (base.filter(F.col("_len") >= n)
           .select(F.col(id_col),
                   F.col("_t"),
                   F.explode(F.sequence(F.lit(0), F.col("_len") - n))
                    .alias("pos"))
           .select(F.col(id_col), F.col("pos"),
                   F.md5(F.concat_ws(
                       " ", F.slice(F.col("_t"), F.col("pos") + 1, F.lit(n))))
                    .alias("_g")))
    stats = occ.groupBy("_g").agg(
        F.count(F.lit(1)).alias("_cnt"),
        F.min(F.struct(F.col(id_col).alias("d"), F.col("pos").alias("p")))
         .alias("_canon"))
    dup_occ = (occ.join(stats.filter(F.col("_cnt") > 1), "_g")
               .filter(~((F.col(id_col) == F.col("_canon.d")) &
                         (F.col("pos") == F.col("_canon.p")))))
    covered = (dup_occ.select(
        F.col(id_col),
        F.explode(F.sequence(F.col("pos"), F.col("pos") + (n - 1)))
         .alias("tpos"))
        .distinct())
    tokpos = base.select(F.col(id_col),
                         F.posexplode("_t").alias("tpos", "tok"))
    kept = tokpos.join(covered, [id_col, "tpos"], "left_anti")
    reassembled = kept.groupBy(id_col).agg(
        F.concat_ws(" ", F.transform(
            F.array_sort(F.collect_list(F.struct("tpos", "tok"))),
            lambda s: s["tok"])).alias("text_dedup"),
        F.count(F.lit(1)).alias("_n_kept"))
    return (base.select(F.col(id_col), F.col("_len").alias("n_tokens"))
            .join(reassembled, id_col, "left")
            .select(F.col(id_col),
                    F.coalesce(F.col("text_dedup"), F.lit(""))
                     .alias("text_dedup"),
                    F.col("n_tokens").cast("long").alias("n_tokens"),
                    (F.col("n_tokens") -
                     F.coalesce(F.col("_n_kept"), F.lit(0)))
                    .cast("long").alias("n_removed")))


def line_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
               max_doc_freq: int = 1) -> DataFrame:
    """Corpus-global line-level dedup (the RefinedWeb/Falcon pipeline
    step): a line appearing in more than ``max_doc_freq`` DISTINCT
    documents is boilerplate (nav bars, cookie banners, footers) and is
    dropped from every document; remaining lines reassemble in original
    order. Documents may come back empty but are never lost.

    Scale shape: explode to (doc, pos, line) → distinct (line, doc) →
    per-line doc-frequency agg (map-side combinable) → rejoin on line →
    per-doc ordered reassembly via array_sort over (pos, line) structs.
    Two shuffles on the line key + one on the doc key; nothing
    driver-resident and no O(n²) anywhere. Exact ANSI-SQL twin in
    __spark_entry__.oracle_sql."""
    lines = df.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), "\n")).alias("pos", "line"))
    doc_freq = (lines.select(id_col, "line").distinct()
                .groupBy("line").agg(F.count(F.lit(1)).alias("line_df")))
    kept = (lines.join(doc_freq, "line")
            .filter(F.col("line_df") <= max_doc_freq))
    reassembled = (kept.groupBy(id_col)
                   .agg(F.concat_ws(
                        "\n",
                        F.transform(
                            F.array_sort(F.collect_list(
                                F.struct(F.col("pos"), F.col("line")))),
                            lambda s: s["line"])).alias("clean_text"),
                        F.count(F.lit(1)).alias("n_lines_kept")))
    # docs whose every line was boilerplate still come back (empty text)
    base = df.select(F.col(id_col),
                     F.size(F.split(F.col(text_col), "\n")).alias("n_lines"))
    return (base.join(reassembled, id_col, "left")
            .select(id_col,
                    F.coalesce(F.col("clean_text"), F.lit("")).alias("clean_text"),
                    "n_lines",
                    F.coalesce(F.col("n_lines_kept"), F.lit(0))
                     .alias("n_lines_kept")))


def incremental_dedup(new_batch: DataFrame, history_fps: DataFrame,
                      text_col: str = "text", id_col: str = "doc_id",
                      mode: str = "fingerprint",
                      bloom=None) -> DataFrame:
    """Continuous-ingestion dedup: today's crawl delta vs the historical
    corpus. The daily shape at 100 TB is a bounded new batch (10^7-10^9
    rows) against a historical fingerprint set (10^10+ rows), so the
    batch deduplicates internally first (min-id keeper per fingerprint,
    one map-combinable shuffle) and only the keepers are checked against
    history.

    ``history_fps`` is a DataFrame with a single ``fp`` column — the
    fingerprint set the caller maintains across ingests (append the
    returned rows' ``fp`` to it after each batch).

    ``bloom``: an optional ``PartitionedBloom`` built over history (keyed
    on ``fp``). When supplied, the history check routes through
    ``bloom.prefilter`` — identical result to the plain left_anti (no
    false negatives; bloom positives are exactly-verified), but only the
    suspect rows reach the verify join, so the giant history table is
    joined against a sliver of the batch. Mirrors the crawl engine's
    seen-set prefilter (crawler.run_cycle / PartitionedBloom.prefilter).

    Returns the surviving new rows: (id_col, fp, n_batch_copies) — rows
    neither duplicated inside the batch (keeper wins) nor present in
    history.
    """
    fp_expr = (fingerprint(F.col(text_col)) if mode == "fingerprint"
               else F.md5(F.col(text_col)))
    fps = new_batch.select(F.col(id_col), fp_expr.alias("fp"))
    keepers = (fps.groupBy("fp")
               .agg(F.min(id_col).alias(id_col),
                    F.count(F.lit(1)).alias("n_batch_copies")))
    if bloom is not None:
        survivors = bloom.prefilter(new_batch.sparkSession, keepers,
                                    "fp", history_fps)
    else:
        survivors = keepers.join(history_fps, "fp", "left_anti")
    return survivors.select(id_col, "fp", "n_batch_copies")
