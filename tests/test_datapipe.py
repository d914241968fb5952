"""Training-data pipeline operators: dedup, similarity, text, multimodal —
plus physical-plan assertions (pushdown / broadcast / codegen)."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from supercrawler_spark.datapipe import dedup as DD
from supercrawler_spark.datapipe import multimodal as MM
from supercrawler_spark.datapipe import similarity as SIM
from supercrawler_spark.datapipe import text as TX


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (0, "the quick brown fox jumps over the lazy dog"),
        (1, "the quick brown fox jumps over the lazy dog"),          # exact dup of 0
        (2, "the  Quick  brown fox jumps over the lazy dog "),       # fingerprint dup-ish
        (3, "the quick brown fox jumps over the lazy cat today"),    # near dup
        (4, "completely different content about spark dataframes and shuffles"),
        (5, "la casa es muy grande y el perro de los vecinos"),
        (6, "der hund und die katze sind in das haus"),
        (7, "le chat est dans les jardins et une maison"),
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_exact_dedup(docs):
    out = {r["keeper_id"]: r["n_dupes"] for r in DD.exact_dedup(docs).collect()}
    assert out[0] == 1        # doc 1 is an exact copy of doc 0
    assert sum(out.values()) == 1


def test_fingerprint_dedup_absorbs_whitespace_but_not_case_insensitive_dup(docs):
    out = {r["keeper_id"]: r["n_copies"] for r in DD.fingerprint_dedup(docs).collect()}
    # 0,1,2 share the normalized (lowercased, whitespace-collapsed) form
    assert out[0] == 3


def test_minhash_lsh_finds_near_dups(docs):
    pairs = {(r["id_a"], r["id_b"])
             for r in DD.minhash_lsh_pairs(docs, num_hashes=8, bands=4,
                                           shingle_n=2).collect()}
    assert (0, 1) in pairs          # identical docs always collide
    assert (0, 3) in pairs or (1, 3) in pairs  # near dup shares shingle bands
    assert (4, 5) not in pairs      # unrelated docs don't


def test_jaccard_verification(docs):
    pairs = docs.sparkSession.createDataFrame(
        [(0, 1), (0, 3), (0, 4)], ["id_a", "id_b"])
    j = {(r["id_a"], r["id_b"]): r["jaccard"]
         for r in DD.jaccard_pairs(docs, pairs, shingle_n=2).collect()}
    assert j[(0, 1)] == 1.0
    assert 0.3 < j[(0, 3)] < 1.0
    assert j[(0, 4)] == 0.0


def test_simhash_hamming_locality(docs):
    sig = {r["doc_id"]: r["simhash"] for r in DD.simhash(docs).collect()}
    from supercrawler_spark.imaging import hamming64
    assert sig[0] == sig[1]
    assert hamming64(sig[0], sig[3]) <= 16
    assert hamming64(sig[0], sig[4]) > 16


def test_simhash_near_pairs(docs):
    pairs = {(r["id_a"], r["id_b"])
             for r in DD.simhash_near_pairs(docs, max_hamming=16).collect()}
    assert (0, 1) in pairs
    assert (4, 5) not in pairs


def test_simhash_near_pairs_complete_at_h8(spark, sf_dir):
    """Pigeonhole completeness: banding with max_hamming+1 chunks must find
    EVERY pair within hamming<=8 (round-1's 4x16-bit chunks only guaranteed
    h<=3 and silently dropped farther pairs). Brute-force over all C(n,2)
    signature pairs is the ground truth."""
    from itertools import combinations
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    sigs = sorted((r["doc_id"], r["simhash"])
                  for r in DD.simhash(docs).collect())
    want = {(a, b, bin(sa ^ sb).count("1"))
            for (a, sa), (b, sb) in combinations(sigs, 2)
            if bin(sa ^ sb).count("1") <= 8}
    got = {(r["id_a"], r["id_b"], r["hamming"])
           for r in DD.simhash_near_pairs(docs, max_hamming=8).collect()}
    assert got == want
    assert len(want) > 0  # the corpus must actually exercise the operator


def test_simhash_bad_hamming_raises(docs):
    with pytest.raises(ValueError):
        DD.simhash_near_pairs(docs, max_hamming=DD.SIMHASH_BITS)


def test_lang_id(docs, spark):
    out = {r["doc_id"]: r["pred_lang"]
           for r in docs.select("doc_id",
                                TX.lang_id(F.col("text")).alias("pred_lang")).collect()}
    assert out[0] == "en"
    assert out[5] == "es"
    assert out[6] == "de"
    assert out[7] == "fr"


def test_token_count_and_quality(docs):
    out = {r["doc_id"]: r for _, r in
           TX.quality_features(docs).toPandas().iterrows()}
    assert out[0]["n_tokens"] == 9
    assert 0.0 <= out[0]["quality_score"] <= 1.0
    assert out[0]["stop_ratio"] > 0.2  # 'the' twice + 'over'... of 9 tokens


def test_brute_force_topk_exact(spark):
    vecs = [(0, [1.0, 0.0, 0.0]), (1, [0.9, 0.1, 0.0]),
            (2, [0.0, 1.0, 0.0]), (3, [0.0, 0.95, 0.05]),
            (4, [0.5, 0.5, 0.0])]
    df = spark.createDataFrame(vecs, ["vec_id", "embedding"])
    top1 = {r["q_id"]: r["n_id"]
            for r in SIM.brute_force_topk(df, df, k=1).collect()}
    assert top1[0] == 1 and top1[1] == 0
    assert top1[2] == 3 and top1[3] == 2


def test_lsh_ann_recall_vs_brute_force(spark, sf_dir):
    emb = (spark.read.parquet(f"{sf_dir}/embeddings.parquet")
           .select("vec_id", F.transform("embedding",
                                         lambda x: x.cast("double")).alias("embedding")))
    queries = emb.filter(F.col("vec_id") < 16)
    exact = SIM.brute_force_topk(emb, queries, k=5).collect()
    approx = SIM.lsh_ann_topk(emb, queries, k=5, dim=64,
                              n_planes=4, n_tables=8).collect()
    exact_set = {(r["q_id"], r["n_id"]) for r in exact}
    approx_set = {(r["q_id"], r["n_id"]) for r in approx}
    recall = len(exact_set & approx_set) / len(exact_set)
    assert recall >= 0.5, f"ANN recall {recall}"


def test_det_lsh_ann_recall_and_determinism(spark, sf_dir):
    """The oracle-replayable sign-projection family (integer LCG planes,
    no numpy RNG) keeps useful recall AND is bit-stable across runs."""
    emb = (spark.read.parquet(f"{sf_dir}/embeddings.parquet")
           .select("vec_id", F.transform("embedding",
                                         lambda x: x.cast("double")).alias("embedding")))
    queries = emb.filter(F.col("vec_id") < 16)
    exact = SIM.brute_force_topk(emb, queries, k=5).collect()
    a = SIM.det_lsh_ann_topk(emb, queries, k=5, dim=64,
                             n_planes=4, n_tables=8).collect()
    b = SIM.det_lsh_ann_topk(emb, queries, k=5, dim=64,
                             n_planes=4, n_tables=8).collect()
    key = lambda rows: sorted((r["q_id"], r["n_id"], r["cos"], r["rank"])
                              for r in rows)
    assert key(a) == key(b)  # bit-stable
    exact_set = {(r["q_id"], r["n_id"]) for r in exact}
    approx_set = {(r["q_id"], r["n_id"]) for r in a}
    recall = len(exact_set & approx_set) / len(exact_set)
    assert recall >= 0.5, f"det-LSH recall {recall}"


@pytest.fixture(scope="module")
def planted_vecs(spark):
    """200 random unit-ish vectors + 20 perturbed near-copies (cos ≈ 0.99)."""
    rng = np.random.default_rng(11)
    base = rng.standard_normal((200, 32))
    rows = [(i, base[i].tolist()) for i in range(200)]
    for j in range(20):
        noisy = base[j] + 0.05 * rng.standard_normal(32)
        rows.append((1000 + j, noisy.tolist()))
    return spark.createDataFrame(rows, ["vec_id", "embedding"])


def test_cosine_dup_pairs_exact_no_broadcast_nested_loop(planted_vecs):
    df = SIM.cosine_dup_pairs(planted_vecs, threshold=0.95, method="exact")
    plan = _plan(df)
    assert "BroadcastNestedLoopJoin" not in plan, plan
    got = {(r["id_a"], r["id_b"]) for r in df.collect()}
    assert len(got) >= 20  # every planted copy pairs with its base


def test_cosine_dup_pairs_lsh_recall(planted_vecs):
    """LSH candidates (bucket collisions only) must find ≥90% of the true
    near-dup pairs and produce NO pairs the exact join doesn't."""
    exact = {(r["id_a"], r["id_b"]) for r in SIM.cosine_dup_pairs(
        planted_vecs, threshold=0.95, method="exact").collect()}
    lsh_df = SIM.cosine_dup_pairs(planted_vecs, threshold=0.95, method="lsh",
                                  dim=32, n_planes=8, n_tables=8)
    plan = _plan(lsh_df)
    assert "BroadcastNestedLoopJoin" not in plan, plan
    lsh = {(r["id_a"], r["id_b"]) for r in lsh_df.collect()}
    assert lsh <= exact                      # no false positives
    assert len(lsh) / max(len(exact), 1) >= 0.9, (len(lsh), len(exact))


def test_bpe_token_count_and_rolling_fingerprint(docs):
    out = {r["doc_id"]: (r["n"], r["rh"]) for r in docs.select(
        "doc_id", TX.bpe_token_count(F.col("text")).alias("n"),
        TX.rolling_fingerprint(F.col("text")).alias("rh")).collect()}
    # identical docs → identical rolling hash; different docs differ
    assert out[0] == out[1]
    assert out[0][1] != out[4][1]
    # rolling hash is order-sensitive, unlike the bag-of-tokens fingerprint
    spark = docs.sparkSession
    pair = spark.createDataFrame(
        [(0, "alpha beta gamma"), (1, "gamma beta alpha")], ["doc_id", "text"])
    rh = {r["doc_id"]: r["rh"] for r in pair.select(
        "doc_id", TX.rolling_fingerprint(F.col("text")).alias("rh")).collect()}
    assert rh[0] != rh[1]
    # punctuation counts as pieces in the BPE-ish split
    p = spark.createDataFrame([(0, "don't stop!")], ["doc_id", "text"])
    n = p.select(TX.bpe_token_count(F.col("text")).alias("n")).collect()[0]["n"]
    assert n == 5  # don / ' / t / stop / !


def test_multimodal_decode_and_corrupt_row(spark):
    from supercrawler_spark import fixtures
    images = fixtures.make_images(8)
    corrupt = pd.DataFrame([{"image_id": "img-bad", "bytes": b"NOTANIMAGE",
                             "w": 0, "h": 0, "fmt": "png",
                             "caption": "x", "phash": 0}])
    df = spark.createDataFrame(pd.concat([images, corrupt], ignore_index=True))
    out = MM.decode_features(df).toPandas().set_index("image_id")
    good = out.drop(index="img-bad")
    assert good["decode_error"].isna().all()
    ref = images.set_index("image_id")
    for iid in good.index:
        assert good.loc[iid, "w"] == ref.loc[iid, "w"]
        assert good.loc[iid, "phash"] == ref.loc[iid, "phash"] or \
            ref.loc[iid, "fmt"] == "jpeg"  # lossy phash may differ slightly
    assert out.loc["img-bad", "decode_error"] is not None


def test_multimodal_verify_invariant(spark):
    from supercrawler_spark import fixtures
    images = spark.createDataFrame(fixtures.make_images(8))
    out = MM.verify_against_reference(images).toPandas()
    assert out["pixels_ok"].all()
    assert out["caption_ok"].all()


def test_frame_sample(spark):
    from supercrawler_spark import fixtures
    videos = fixtures.make_videos(3, n_frames=12)
    corrupt = pd.DataFrame([{"video_id": "vid-bad", "bytes": b"NOTAVIDEO",
                             "n_frames": 0, "w": 0, "h": 0, "caption": "x"}])
    df = spark.createDataFrame(pd.concat([videos, corrupt], ignore_index=True))
    out = MM.frame_sample(df, every_n=4).collect()  # collect: keeps int64
    good = [r for r in out if r["video_id"] != "vid-bad"]
    # every 4th of 12 frames → indices 0, 4, 8 per video
    assert sorted({r["frame_idx"] for r in good}) == [0, 4, 8]
    assert len(good) == 9 and all(r["decode_error"] is None for r in good)
    # sampled frames decode to the deterministic per-frame pixels
    from supercrawler_spark import imaging
    ref = videos.set_index("video_id")
    for r in good:
        px = imaging.synth_pixels(f"{r['video_id']}-f{r['frame_idx']}",
                                  r["w"], r["h"])
        assert r["phash"] == imaging.phash64(px)
        assert (r["w"], r["h"]) == (ref.loc[r["video_id"], "w"],
                                    ref.loc[r["video_id"], "h"])
    bad = [r for r in out if r["video_id"] == "vid-bad"]
    assert len(bad) == 1 and bad[0]["decode_error"] is not None


def test_audio_features(spark):
    import math

    from supercrawler_spark import fixtures
    audio = fixtures.make_audio(6)
    corrupt = pd.DataFrame([{"audio_id": "aud-bad", "bytes": b"NOTAWAV",
                             "sample_rate": 0, "n_samples": 0, "caption": "x"}])
    df = spark.createDataFrame(pd.concat([audio, corrupt], ignore_index=True))
    out = {r["audio_id"]: r for r in MM.audio_features(df).collect()}
    for i in range(6):
        r = out[f"aud-{i:04d}"]
        assert r["sample_rate"] == 16000
        assert r["n_samples"] == 16000 + i * 1000
        assert r["duration_s"] == round(r["n_samples"] / 16000, 4)
        amp = 0.1 + 0.05 * (i % 8)
        assert abs(r["rms"] - amp / math.sqrt(2)) < 1e-3
        assert r["peak"] <= amp + 1e-3
        assert r["decode_error"] is None
    assert out["aud-bad"]["decode_error"] is not None


def test_thumbnail_vectors(spark):
    from supercrawler_spark import fixtures
    images = spark.createDataFrame(fixtures.make_images(4))
    out = MM.thumbnail_vectors(images, side=4).toPandas()
    assert all(len(t) == 16 for t in out["thumb"])


# ---------------------------------------------------------------------------
# physical-plan assertions: the plans we'd want at 100 TB
# ---------------------------------------------------------------------------

def _plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted")


def test_filter_pushdown_reaches_scan(spark, sf_dir):
    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    df = events.filter(F.col("ts") < F.lit("2024-01-15").cast("timestamp_ntz")) \
               .select("event_id", "ts")
    plan = _plan(df)
    assert "PushedFilters: [IsNotNull(ts), LessThan(ts," in plan, plan
    # column pruning: only the two needed columns are read
    assert "ReadSchema: struct<event_id:bigint,ts:timestamp_ntz>" in plan, plan


def test_small_dim_join_broadcasts(spark, sf_dir):
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    customer = spark.read.parquet(f"{sf_dir}/customer.parquet")
    df = orders.join(F.broadcast(customer),
                     orders.o_custkey == customer.c_custkey)
    assert "BroadcastHashJoin" in _plan(df)


def test_anti_join_dedup_plan_has_no_cartesian(spark, sf_dir):
    part = spark.read.parquet(f"{sf_dir}/part.parquet")
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    df = part.join(li.select(F.col("l_partkey").alias("p_partkey")),
                   "p_partkey", "left_anti")
    plan = _plan(df)
    assert "LeftAnti" in plan
    assert "CartesianProduct" not in plan


def test_agg_uses_partial_aggregation(spark, sf_dir):
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    df = li.groupBy("l_returnflag").agg(F.sum("l_quantity").alias("s"))
    plan = _plan(df)
    # partial (map-side) + final HashAggregate pair around one exchange
    assert plan.count("HashAggregate") >= 2
    assert "partial_sum" in plan


def test_dup_clusters_connected_components(spark):
    """Hash-min label propagation: chain, triangle, and isolated pair all
    collapse to min-id clusters; convergence needs > 1 round for the
    chain."""
    from supercrawler_spark.datapipe.dedup import dup_clusters

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4),          # chain 1-2-3-4 (diameter 3)
         (10, 11), (11, 12), (10, 12),    # triangle
         (20, 21)],                        # pair
        ["id_a", "id_b"])
    got = {r["doc_id"]: r["cluster_id"]
           for r in dup_clusters(pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1,
                   10: 10, 11: 10, 12: 10,
                   20: 20, 21: 20}


def test_pii_redaction_and_counts(spark):
    rows = [
        (0, "reach me at jane.doe+x@corp.example.org or call +1 555 123 4567"),
        (1, "server at 192.168.0.17 went down; backup 10.0.0.1 is fine"),
        (2, "no pii here, just words"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    n_em, n_ip, n_ph = TX.pii_counts(F.col("text"))
    out = {r["doc_id"]: r for r in df.select(
        "doc_id", n_em.alias("e"), n_ip.alias("i"), n_ph.alias("p"),
        TX.redact_pii(F.col("text")).alias("red")).collect()}
    assert (out[0]["e"], out[0]["p"]) == (1, 1)
    assert out[1]["i"] == 2
    assert (out[2]["e"], out[2]["i"], out[2]["p"]) == (0, 0, 0)
    assert "<EMAIL>" in out[0]["red"] and "jane" not in out[0]["red"]
    assert "<PHONE>" in out[0]["red"] and "4567" not in out[0]["red"]
    assert out[1]["red"].count("<IP>") == 2 and "192.168" not in out[1]["red"]
    assert out[2]["red"] == rows[2][1]  # untouched


def test_repetition_ratio_scores_boilerplate_high(spark):
    clean = "the quick brown fox jumps over one lazy dog near a red barn door"
    spam = "buy now " * 10  # one dominant 3-gram
    short = "hi there"      # < 3 tokens → 0.0
    df = spark.createDataFrame(
        [(0, clean), (1, spam.strip()), (2, short)], ["doc_id", "text"])
    out = {r["doc_id"]: r for r in TX.repetition_ratio(df, n=3).collect()}
    assert out[0]["repetition_ratio"] < 0.15
    assert out[1]["repetition_ratio"] > 0.4
    assert out[2]["repetition_ratio"] == 0.0 and out[2]["n_ngrams"] == 0


def test_contamination_screen(spark):
    eval_text = "the capital of france is paris"
    docs = spark.createDataFrame([
        (0, f"trivia time {eval_text} and more trivia"),  # contaminated
        (1, "a completely unrelated sentence about spark shuffles here"),
        (2, "xy"),                                         # < 3 tokens
    ], ["doc_id", "text"])
    bl_rows = [("the capital of",), ("capital of france",),
               ("of france is",), ("france is paris",)]
    blocklist = spark.createDataFrame(bl_rows, ["gram"])
    out = {r["doc_id"]: r for r in
           DD.contamination_screen(docs, blocklist, n=3).collect()}
    assert out[0]["n_contaminated"] == 4
    assert out[0]["contamination_ratio"] > 0.4
    assert out[1]["n_contaminated"] == 0 and out[1]["contamination_ratio"] == 0.0
    assert out[2]["n_grams"] == 0 and out[2]["contamination_ratio"] == 0.0

def test_dup_clusters_nonconvergence_raises(spark):
    """A path-graph component with diameter > max_iter must raise, not
    silently return split clusters (ADVICE r3)."""
    import pytest

    from supercrawler_spark.datapipe.dedup import dup_clusters

    chain = [(f"d{i}", f"d{i+1}") for i in range(12)]
    pairs = spark.createDataFrame(chain, ["id_a", "id_b"])
    with pytest.raises(RuntimeError, match="did not converge"):
        dup_clusters(pairs, max_iter=2)
    # and with enough rounds the same graph converges to one cluster
    got = {r["cluster_id"] for r in dup_clusters(pairs, max_iter=20).collect()}
    assert got == {"d0"}

def test_det_ivf_ann_recall_and_determinism(spark, sf_dir):
    """Deterministic sampled-centroid IVF (the oracle-replayable variant):
    recall vs brute force, plus run-to-run determinism."""
    emb = (spark.read.parquet(f"{sf_dir}/embeddings.parquet")
           .select("vec_id", F.transform("embedding",
                                         lambda x: x.cast("double")).alias("embedding")))
    queries = emb.filter(F.col("vec_id") < 16)
    exact = SIM.brute_force_topk(emb, queries, k=5).collect()
    a = SIM.det_ivf_ann_topk(emb, queries, k=5,
                             centroid_ids=tuple(range(16)), n_probe=4).collect()
    b = SIM.det_ivf_ann_topk(emb, queries, k=5,
                             centroid_ids=tuple(range(16)), n_probe=4).collect()
    key = lambda rows: sorted((r["q_id"], r["n_id"], r["cos"], r["rank"])
                              for r in rows)
    assert key(a) == key(b)
    exact_set = {(r["q_id"], r["n_id"]) for r in exact}
    approx_set = {(r["q_id"], r["n_id"]) for r in a}
    recall = len(exact_set & approx_set) / len(exact_set)
    assert recall >= 0.5, f"det-IVF recall {recall}"

def test_det_lsh_ann_plan_dedups_on_ids_only(spark, sf_dir):
    """The ANN candidate distinct must group on (q_id, n_id) only — no
    embedding arrays riding the dedup exchange (r3 review) — and the
    vector rejoins must be broadcasts, never sort-merge/cartesian."""
    import re
    emb = (spark.read.parquet(f"{sf_dir}/embeddings.parquet")
           .select("vec_id", F.transform("embedding",
                                         lambda x: x.cast("double")).alias("embedding")))
    queries = emb.filter(F.col("vec_id") < 20)
    out = SIM.det_lsh_ann_topk(emb, queries, k=5, dim=64,
                               n_planes=4, n_tables=8)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan and "SortMergeJoin" not in plan
    aggs = re.findall(r"HashAggregate\(keys=\[[^\]]*\]", plan)
    id_aggs = [a for a in aggs if "q_id" in a and "n_id" in a]
    assert id_aggs, plan
    assert all("vec" not in a for a in id_aggs), id_aggs
    assert plan.count("BroadcastHashJoin") >= 2, plan

def test_line_dedup_drops_corpus_boilerplate(spark):
    import math

    from supercrawler_spark.datapipe.dedup import line_dedup

    docs = spark.createDataFrame([
        (1, "COOKIE BANNER\nreal content one\nFOOTER"),
        (2, "COOKIE BANNER\nreal content two\nFOOTER"),
        (3, "COOKIE BANNER\nFOOTER"),
        (4, "standalone doc\nwith unique lines"),
    ], "doc_id long, text string")
    out = {r["doc_id"]: (r["clean_text"], r["n_lines"], r["n_lines_kept"])
           for r in line_dedup(docs, max_doc_freq=1).collect()}
    assert out[1] == ("real content one", 3, 1)
    assert out[2] == ("real content two", 3, 1)
    assert out[3] == ("", 2, 0)            # all boilerplate — kept as empty
    assert out[4] == ("standalone doc\nwith unique lines", 2, 2)
    # max_doc_freq=3 keeps everything (each line appears in <= 3 docs)
    out3 = {r["doc_id"]: r["n_lines_kept"]
            for r in line_dedup(docs, max_doc_freq=3).collect()}
    assert out3 == {1: 3, 2: 3, 3: 2, 4: 2}


def test_unigram_logprob_score_hand_computed(spark):
    import math

    from supercrawler_spark.datapipe.text import unigram_logprob_score

    # corpus: tokens a a a b  -> p(a)=3/4, p(b)=1/4
    docs = spark.createDataFrame([
        (1, "a a a"), (2, "b"), (3, ""),
    ], "doc_id long, text string")
    out = {r["doc_id"]: (r["avg_neg_logp"], r["n_tok"])
           for r in unigram_logprob_score(docs).collect()}
    assert out[1] == (round(-math.log(3 / 4), 4), 3)
    assert out[2] == (round(-math.log(1 / 4), 4), 1)
    assert out[3][0] is None and out[3][1] == 0
    # rarer-token doc scores strictly higher
    assert out[2][0] > out[1][0]

def test_dup_clusters_converging_on_final_round_is_accepted(spark):
    """A path graph with diameter exactly max_iter converges ON the last
    permitted round; the non-convergence guard must confirm rather than
    raise (review r4), while one round fewer still raises."""
    import pytest

    from supercrawler_spark.datapipe.dedup import dup_clusters

    chain = [(f"d{i}", f"d{i+1}") for i in range(5)]   # diameter 5
    pairs = spark.createDataFrame(chain, ["id_a", "id_b"])
    got = {r["cluster_id"] for r in dup_clusters(pairs, max_iter=5).collect()}
    assert got == {"d0"}
    with pytest.raises(RuntimeError, match="did not converge"):
        dup_clusters(pairs, max_iter=3)


def test_hamming_near_pairs_full_width_chunk_max_hamming_zero(spark):
    """bits=64 with max_hamming=0 (exact 64-bit duplicate detection) uses
    one full-width chunk — the (1<<64)-1 mask must not be materialized as
    a LongType literal (review r4)."""
    from supercrawler_spark.datapipe import dedup as DD

    rows = [(0, 7), (1, 7), (2, -9223372036854775808), (3, -9223372036854775808), (4, 5)]
    df = spark.createDataFrame(rows, "id long, sig long")
    got = {(r["id_a"], r["id_b"], r["hamming"]) for r in
           DD.hamming_near_pairs(df, "sig", "id", bits=64,
                                 max_hamming=0).collect()}
    assert got == {(0, 1, 0), (2, 3, 0)}


def test_semantic_dedup_duckdb_parity_and_planted_dups(spark, sf_dir):
    """SemDeDup end-to-end vs the ANSI-SQL twin in DuckDB: identical
    cell assignment, pair set, group labels and keep flags over the sf
    embeddings table plus planted semantic duplicates (a copy and a
    scaled copy — cosine 1.0 — of vector 20, plus a near-copy)."""
    import duckdb

    emb = (spark.read.parquet(f"{sf_dir}/embeddings.parquet")
           .select("vec_id", F.transform(
               "embedding", lambda x: x.cast("double")).alias("embedding")))
    base = emb.limit(64).toPandas()
    v20 = np.asarray(
        base.loc[base.vec_id == 20, "embedding"].iloc[0], dtype=np.float64)
    near = v20.copy()
    near[0] += 0.01 * (abs(near[0]) + 1.0)
    planted = pd.DataFrame({
        "vec_id": [1000, 1001, 1002],
        "embedding": [v20.tolist(), (v20 * 2.0).tolist(), near.tolist()],
    })
    pdf = pd.concat([base, planted], ignore_index=True)
    df = spark.createDataFrame(pdf)

    got = (SIM.semantic_dedup(df, threshold=0.98)
           .orderBy("vec_id").toPandas())

    con = duckdb.connect()
    con.register("embeddings", pdf)
    want = con.execute(
        SIM.semantic_dedup_oracle_sql(threshold=0.98)).fetchdf()
    con.close()

    assert len(got) == len(pdf) == len(want)
    def norm(series):
        return [None if pd.isna(v) else (bool(v) if isinstance(v, (bool, np.bool_))
                                         else int(v)) for v in series]
    for col in ["vec_id", "bucket", "cluster_id", "keep"]:
        assert norm(got[col]) == norm(want[col]), f"mismatch in {col}"

    by_id = {int(r.vec_id): r for r in got.itertuples()}
    # copies of vector 20 form one duplicate group kept at its min id
    assert by_id[20].cluster_id == 20 and bool(by_id[20].keep)
    assert by_id[1000].cluster_id == 20 and not by_id[1000].keep
    assert by_id[1001].cluster_id == 20 and not by_id[1001].keep


def test_ngram_span_dedup_planted_cross_doc(spark):
    """Duplicated 8-token span keeps only the corpus-first occurrence;
    docs shorter than n and unique docs survive untouched."""
    span = "a b c d e f g h"
    rows = [
        (0, span + " x y"),          # canonical occurrence (pos 0)
        (1, "z w " + span + " q"),   # duplicate at pos 2 -> removed
        (2, "p q"),                  # shorter than n -> kept verbatim
        (3, "unique words only here never repeated anywhere else ever"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {r["doc_id"]: r for r in
           DD.ngram_span_dedup(df, n=8).collect()}
    assert got[0]["text_dedup"] == span + " x y" and got[0]["n_removed"] == 0
    assert got[1]["text_dedup"] == "z w q" and got[1]["n_removed"] == 8
    assert got[2]["text_dedup"] == "p q" and got[2]["n_removed"] == 0
    assert got[3]["n_removed"] == 0


def test_ngram_span_dedup_within_doc_repeat(spark):
    """A span repeated inside ONE document: the second occurrence is
    non-canonical and its tokens drop."""
    span = "a b c d e f g h"
    df = spark.createDataFrame([(0, span + " " + span)], ["doc_id", "text"])
    row = DD.ngram_span_dedup(df, n=8).collect()[0]
    assert row["text_dedup"] == span
    assert row["n_tokens"] == 16 and row["n_removed"] == 8


def test_ngram_span_dedup_never_loses_docs(spark):
    """A document made ENTIRELY of duplicated spans comes back empty, not
    missing."""
    span = "a b c d e f g h"
    rows = [(0, span + " tail tokens beyond"), (1, span)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {r["doc_id"]: r for r in DD.ngram_span_dedup(df, n=8).collect()}
    assert got[1]["text_dedup"] == "" and got[1]["n_removed"] == 8
    assert len(got) == 2


def _py_u32(v) -> int:
    import hashlib
    return int(hashlib.md5(str(v).encode()).hexdigest()[:8], 16)


def test_stratified_temperature_sample_exact_rule(spark):
    """Keep decisions replay the documented integer rule exactly, and
    temperature-0.5 upweights the small stratum relative to proportional
    sampling."""
    import math
    from supercrawler_spark.datapipe import sampling as SP
    rows = ([(i, "big") for i in range(400)] +
            [(1000 + i, "small") for i in range(25)])
    df = spark.createDataFrame(rows, ["doc_id", "stratum"])
    got = {r["doc_id"]: r["keep"] for r in
           SP.stratified_temperature_sample(
               df, stratum_col="stratum", id_col="doc_id").collect()}
    assert len(got) == 425
    c = {"big": 400, "small": 25}
    r = {s: math.isqrt(n) for s, n in c.items()}
    S, total = sum(r.values()), sum(c.values())
    for doc_id, stratum in rows:
        expect = _py_u32(doc_id) * S * c[stratum] < total * r[stratum] * (1 << 32)
        assert got[doc_id] == expect, doc_id
    # temperature: small stratum keeps a larger FRACTION than the big one
    frac = {s: sum(1 for d, st in rows if st == s and got[d]) / c[s]
            for s in c}
    assert frac["small"] > frac["big"]


def test_domain_capped_sample_cap_and_determinism(spark):
    from supercrawler_spark.datapipe import sampling as SP
    rows = ([(i, "hot") for i in range(50)] + [(100 + i, "cold") for i in range(2)])
    df = spark.createDataFrame(rows, ["doc_id", "stratum"])
    out1 = sorted((r["stratum"], r["doc_id"], r["sample_rank"]) for r in
                  SP.domain_capped_sample(df, cap=3, stratum_col="stratum").collect())
    out2 = sorted((r["stratum"], r["doc_id"], r["sample_rank"]) for r in
                  SP.domain_capped_sample(df, cap=3, stratum_col="stratum").collect())
    assert out1 == out2
    by_stratum = {}
    for s, d, rk in out1:
        by_stratum.setdefault(s, []).append((rk, d))
    assert len(by_stratum["hot"]) == 3 and len(by_stratum["cold"]) == 2
    # ranks follow the deterministic hash order
    for s, members in by_stratum.items():
        expect = sorted(((_py_u32(d), d) for _, d in members))
        assert [d for _, d in sorted(members)] == [d for _, d in expect]


def test_incremental_dedup_exact_and_bloom_paths_identical(spark):
    """Daily-delta vs historical-corpus dedup: batch-internal keepers,
    history anti-join, and the Bloom-prefiltered path returning the
    identical survivor set (no false negatives by construction)."""
    from supercrawler_spark.bloom import PartitionedBloom
    from supercrawler_spark.datapipe.text import fingerprint as _fp

    history_docs = spark.createDataFrame(
        [(i, f"historic document number {i}") for i in range(200)],
        "doc_id long, text string")
    history_fps = history_docs.select(
        _fp(F.col("text")).alias("fp")).distinct()

    new_batch = spark.createDataFrame(
        # 0-9 duplicate history; 100x-100y are batch-internal dups;
        # 500+ are genuinely new
        [(1000 + i, f"historic document number {i}") for i in range(10)] +
        [(2000, "fresh doc alpha"), (2001, "fresh doc alpha"),
         (2002, "Fresh   DOC alpha")] +   # fingerprint-normalized dup
        [(3000 + i, f"brand new doc {i}") for i in range(5)],
        "doc_id long, text string")

    got = (DD.incremental_dedup(new_batch, history_fps)
           .orderBy("doc_id").collect())
    ids = [r["doc_id"] for r in got]
    # one keeper for the alpha group (min id 2000, 3 copies), 5 new docs
    assert ids == [2000] + [3000 + i for i in range(5)]
    by_id = {r["doc_id"]: r for r in got}
    assert by_id[2000]["n_batch_copies"] == 3
    assert all(by_id[3000 + i]["n_batch_copies"] == 1 for i in range(5))

    bloom = PartitionedBloom(partitions=4, capacity=1 << 12)
    bloom.add(spark, history_fps, col="fp")
    got_bloom = (DD.incremental_dedup(new_batch, history_fps, bloom=bloom)
                 .orderBy("doc_id").collect())
    assert [tuple(r) for r in got_bloom] == [tuple(r) for r in got]
