"""Training-data pipeline operators over the driver's documents/embeddings tables."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from debezium_spark.functions import dedup as D
from debezium_spark.functions import multimodal as M
from debezium_spark.functions import similarity as S
from debezium_spark.functions import text as X
from tests.conftest import SF_DIR


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF_DIR}/documents.parquet")


@pytest.fixture(scope="module")
def vecs(spark):
    return spark.read.parquet(f"{SF_DIR}/embeddings.parquet")


def test_text_analysis(spark, docs):
    out = X.analyze_documents(docs)
    row = out.where(F.length("text") > 50).first()
    assert row["n_tokens"] > 0
    assert row["n_bpe_tokens"] >= row["n_tokens"]  # BPE splits at least per word
    assert 0.0 <= row["punct_ratio"] <= 1.0
    assert 0.0 <= row["quality"] <= 1.0
    # fingerprint ignores formatting noise
    a = spark.createDataFrame([("Hello,   World!",), ("hello world",)], "text string")
    fps = [r[0] for r in a.select(X.fingerprint(F.col("text"))).collect()]
    assert fps[0] == fps[1]


def test_exact_dedup(spark, docs):
    doubled = docs.unionByName(docs.withColumn("doc_id", F.col("doc_id") + 1_000_000))
    out = D.exact_dedup(doubled)
    n_docs_distinct_text = docs.select(
        D.normalize_text(F.col("text")).alias("t")
    ).distinct().count()
    assert out.count() == n_docs_distinct_text
    assert out.where("dup_count >= 2").count() == n_docs_distinct_text


def test_minhash_lsh_finds_near_dups(spark):
    base = "the quick brown fox jumps over the lazy dog and runs far away into the woods tonight"
    rows = [
        (1, base),
        (2, base.replace("lazy", "sleepy")),          # near-dup of 1
        (3, "completely different text about spark sql engines and columnar execution plans"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = D.minhash_lsh_dedup(df, num_perm=32, bands=8, jaccard_threshold=0.3)
    got = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    assert (1, 2) in got
    assert all(3 not in p for p in got)


def test_ngram_jaccard_exact(spark):
    rows = [(1, "a b c d e f"), (2, "a b c d e g"), (3, "x y z w q r")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = D.ngram_jaccard_pairs(df, n=2, threshold=0.5).collect()
    assert len(pairs) == 1 and (pairs[0]["id_a"], pairs[0]["id_b"]) == (1, 2)
    assert abs(pairs[0]["jaccard"] - 4 / 6) < 1e-9  # 4 shared of 6 distinct 2-grams


def test_simhash_near_dups(spark):
    long_a = " ".join(f"tok{i}" for i in range(200))
    long_b = " ".join(f"tok{i}" for i in range(199)) + " tokX"
    rows = [(1, long_a), (2, long_b), (3, " ".join(f"other{i}" for i in range(200)))]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = D.simhash_near_dups(df, max_hamming=8)
    got = {(r["id_a"], r["id_b"]) for r in out.collect()}
    assert (1, 2) in got and all(3 not in p for p in got)


def test_simhash_block_permutation_exact_vs_bruteforce(spark):
    """The Manku block-permutation candidate scheme is EXACT for k < blocks:
    every pair within Hamming k must share an m-block concatenated key, so the
    result set equals brute-force pairwise popcount (which the r2 pigeonhole
    scheme also matched — no recall regression from the selectivity upgrade)."""
    import itertools

    rows = [
        (i, " ".join(f"w{j}" for j in range(50 + 3 * i)) + f" tail{i % 4}")
        for i in range(24)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    sigs = {
        r["doc_id"]: r["sig"]
        for r in df.select("doc_id", D.simhash(F.col("text")).alias("sig")).collect()
    }
    for k in (3, 6):
        expect = {
            (a, b)
            for a, b in itertools.combinations(sorted(sigs), 2)
            if bin(sigs[a] ^ sigs[b]).count("1") <= k
        }
        got = {
            (r["id_a"], r["id_b"])
            for r in D.simhash_near_dups(df, max_hamming=k).collect()
        }
        assert got == expect


def test_lsh_bucket_population_caps(spark):
    """Skew guards (VERDICT r2 #3/#4): a degenerate cluster sharing one band /
    block key is dropped from the candidate index when it exceeds the cap, so
    one boilerplate key cannot emit k² candidates; uncapped runs still find it."""
    boiler = " ".join(f"same{j}" for j in range(60))
    rows = [(i, boiler) for i in range(12)] + [
        (100, "unique alpha beta gamma delta epsilon zeta eta theta")
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    # minhash: 12 identical docs share every band key -> capped out
    unc = D.minhash_lsh_dedup(df, num_perm=16, bands=4, jaccard_threshold=0.5)
    cap = D.minhash_lsh_dedup(
        df, num_perm=16, bands=4, jaccard_threshold=0.5, max_band_freq=8
    )
    assert unc.count() == 12 * 11 // 2 and cap.count() == 0
    # simhash: identical signatures share every probe key -> capped out
    unc_s = D.simhash_near_dups(df, max_hamming=3)
    cap_s = D.simhash_near_dups(df, max_hamming=3, max_bucket_freq=8)
    assert unc_s.count() == 12 * 11 // 2 and cap_s.count() == 0


def test_brute_force_topk_matches_numpy(spark, vecs):
    sample = vecs.limit(200).toPandas()
    q = list(np.asarray(sample.iloc[0]["embedding"], dtype=float))
    df = spark.createDataFrame(sample)
    got = S.brute_force_topk(df, q, k=5).toPandas()
    mat = np.stack([np.asarray(v, dtype=float) for v in sample["embedding"]])
    qv = np.asarray(q)
    sims = mat @ qv / (np.linalg.norm(mat, axis=1) * np.linalg.norm(qv))
    order = sorted(zip(-sims, sample["vec_id"]))[:5]
    want_ids = [int(i) for _, i in order]
    assert list(got["vec_id"]) == want_ids
    assert got.iloc[0]["cos_sim"] == pytest.approx(1.0, abs=1e-9)


def test_lsh_topk_recovers_exact_top1(spark, vecs):
    sample = vecs.limit(300)
    q = list(sample.first()["embedding"])
    exact = S.brute_force_topk(sample, q, k=1).first()
    approx = S.lsh_topk(sample, q, k=1, planes=6, probe_hamming=1).first()
    assert approx["vec_id"] == exact["vec_id"]


def test_embedding_near_dups(spark):
    rows = [
        (1, [1.0, 0.0, 0.0, 0.0]),
        (2, [0.999, 0.01, 0.0, 0.0]),
        (3, [0.0, 1.0, 0.0, 0.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = D if False else S
    pairs = S.embedding_near_dups(df, cosine_threshold=0.99, planes=4, dim=4)
    got = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    assert got == {(1, 2)}


def test_multimodal_pipeline_shape(spark):
    media = M.synth_media(spark, n=48)
    feats = M.extract_features(media)
    pdf = feats.toPandas()
    assert len(pdf) == 48
    assert all(len(f) == 8 for f in pdf["feature"])
    assert (pdf.loc[pdf["kind"] == "video", "frames_sampled"] == 4).all()
    assert (pdf.loc[pdf["kind"] != "video", "frames_sampled"] == 1).all()
    # deterministic: same payload -> same sha/feature
    pdf2 = M.extract_features(media).toPandas().sort_values("media_id")
    assert list(pdf.sort_values("media_id")["sha256"]) == list(pdf2["sha256"])


def test_ivf_topk_recovers_exact_top1_and_cells_partition(spark, vecs):
    sample = vecs.limit(300)
    q = list(sample.first()["embedding"])
    exact = S.brute_force_topk(sample, q, k=1).first()
    approx = S.ivf_topk(sample, q, k=1, n_cells=8, nprobe=3).first()
    # the query vector itself lives in its own nearest cell -> always probed
    assert approx["vec_id"] == exact["vec_id"]
    # every vector is assigned to exactly one valid cell
    cent = sorted(
        (int(r["vec_id"]), [float(x) for x in r["embedding"]])
        for r in sample.where("vec_id < 8").collect()
    )
    assigned = S.ivf_assign(sample, cent)
    cells = assigned.select("ivf_cell").distinct().collect()
    assert all(0 <= r["ivf_cell"] < 8 for r in cells)
    assert assigned.count() == sample.count()


def test_ivf_assign_tie_breaks_to_smallest_cell(spark):
    # two identical centroids: ties must deterministically pick the smaller id
    rows = [(10, [1.0, 0.0]), (11, [1.0, 0.0])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cent = [(0, [1.0, 0.0]), (1, [1.0, 0.0])]
    out = S.ivf_assign(df, cent).select("ivf_cell").distinct().collect()
    assert [r["ivf_cell"] for r in out] == [0]


def test_ivf_assign_broadcast_threshold(spark):
    """Above broadcast_threshold_cells the centroid matrix must ship as a
    broadcast one-row frame (once per executor), not a plan literal (once per
    TASK — ~8-16 MB at the sqrt(10^9) ≈ 32k-cell design point); results are
    identical on both paths and the plans prove which path ran (the same
    contract as bloom_probe's broadcast_threshold_words)."""
    import random

    rng = random.Random(7)
    n_cells, dim = 4096, 4
    cent = [
        (c, [rng.uniform(-1, 1) for _ in range(dim)]) for c in range(n_cells)
    ]
    rows = [(i, [rng.uniform(-1, 1) for _ in range(dim)]) for i in range(64)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    lit_path = S.ivf_assign(df, cent, broadcast_threshold_cells=n_cells)
    bc_path = S.ivf_assign(df, cent, broadcast_threshold_cells=n_cells - 1)
    got_l = {(r["vec_id"], r["ivf_cell"]) for r in lit_path.collect()}
    got_b = {(r["vec_id"], r["ivf_cell"]) for r in bc_path.collect()}
    assert got_l == got_b and len(got_l) == 64
    plan_l = lit_path._jdf.queryExecution().executedPlan().toString()
    plan_b = bc_path._jdf.queryExecution().executedPlan().toString()
    assert "Broadcast" not in plan_l
    assert "BroadcastNestedLoopJoin" in plan_b or "BroadcastExchange" in plan_b
    # caller columns survive and the helper columns don't leak
    assert set(bc_path.columns) == {"vec_id", "embedding", "ivf_cell"}


def test_ivf_kmeans_trained_centroids(spark, vecs):
    """ivf_train_kmeans: deterministic (same input -> identical centroids),
    bounded-sample spherical k-means whose trained quantizer slots into
    ivf_topk unchanged and matches brute force on recall@10 at a probe
    fraction where the training-free quantizer is the baseline."""
    sample = vecs.limit(400)
    c1 = S.ivf_train_kmeans(sample, n_cells=16, sample=256, iters=5)
    c2 = S.ivf_train_kmeans(sample, n_cells=16, sample=256, iters=5)
    assert c1 == c2  # bit-identical: no RNG anywhere
    assert len(c1) == 16 and all(len(v) == len(c1[0][1]) for _, v in c1)
    # centroids are unit-norm (spherical k-means)
    assert all(abs(sum(x * x for x in v) - 1.0) < 1e-9 for _, v in c1)

    q = list(sample.first()["embedding"])
    exact = [r["vec_id"] for r in S.brute_force_topk(sample, q, k=10).collect()]
    trained = [
        r["vec_id"]
        for r in S.ivf_topk(sample, q, k=10, nprobe=6, centroids=c1).collect()
    ]
    # training-free baseline: first-16 head vectors as centroids (the old
    # default, kept constructible for comparison)
    head = sorted(
        (int(r["vec_id"]), [float(x) for x in r["embedding"]])
        for r in sample.where("vec_id < 16").collect()
    )
    free = [
        r["vec_id"]
        for r in S.ivf_topk(sample, q, k=10, nprobe=6, centroids=head).collect()
    ]
    recall_trained = len(set(trained) & set(exact)) / 10
    recall_free = len(set(free) & set(exact)) / 10
    assert recall_trained >= recall_free  # training never hurts here
    assert recall_trained >= 0.7


def test_ivf_trained_default_and_sqrt_rule(spark, vecs):
    """ivf_topk's DEFAULT quantizer is now trained (exact fixed-point
    k-means over a bounded sample): deterministic, works at n_cells >> 16,
    and n_cells=None applies the sqrt(N) sizing rule."""
    sample = vecs.limit(400)
    q = list(sample.first()["embedding"])
    # n_cells >> 16: 64 trained cells over a 400-vector sample
    got = S.ivf_topk(sample, q, k=5, n_cells=64, nprobe=8).collect()
    got2 = S.ivf_topk(sample, q, k=5, n_cells=64, nprobe=8).collect()
    assert [r["vec_id"] for r in got] == [r["vec_id"] for r in got2]
    assert len(got) == 5
    # the query's own vector is in a probed cell -> rank 1
    assert got[0]["vec_id"] == sample.first()["vec_id"]
    # sqrt(N) rule: 400 vectors -> 20 cells
    cents = S.ivf_centroids_trained(sample, n_cells=None, iterations=1)
    assert len(cents) == 20
    # trained centroids land on the fixed-point grid (exact 1e-6 units)
    for _, cv in cents:
        assert all(abs(x * 10**6 - round(x * 10**6)) < 1e-6 for x in cv)


def test_pq_trained_codebooks_deterministic_and_tighter(spark, vecs):
    """pq_train_codebooks: bit-reproducible, and the trained ADC index is at
    least as accurate as head-row codebooks on self-query rank-1."""
    sample = vecs.limit(300)
    cb1 = S.pq_train_codebooks(sample, m=4, ks=16, iterations=2)
    cb2 = S.pq_train_codebooks(sample, m=4, ks=16, iterations=2)
    assert cb1 == cb2
    assert len(cb1) == 4 and all(len(c) == 16 for c in cb1)
    q = list(sample.first()["embedding"])
    top = S.pq_topk(sample, q, cb1, k=3).collect()
    assert len(top) == 3
    # exact ADC integer scores are deterministic across runs
    top2 = S.pq_topk(sample, q, cb1, k=3).collect()
    assert [(r["vec_id"], r["adc_dist_fp"]) for r in top] == [
        (r["vec_id"], r["adc_dist_fp"]) for r in top2
    ]


def test_ivf_pq_trained_defaults(spark, vecs):
    """ivf_pq_topk with NO centroids/codebooks now trains both from the
    sample: deterministic end-to-end, n_cells >> 16 works, output contract
    unchanged."""
    sample = vecs.limit(300)
    q = list(sample.first()["embedding"])
    a = S.ivf_pq_topk(sample, q, k=5, n_cells=32, nprobe=8, m=4, ks=16).collect()
    b = S.ivf_pq_topk(sample, q, k=5, n_cells=32, nprobe=8, m=4, ks=16).collect()
    assert [(r["vec_id"], r["adc_dist_fp"]) for r in a] == [
        (r["vec_id"], r["adc_dist_fp"]) for r in b
    ]
    assert len(a) == 5 and all(r["ivf_cell"] is not None for r in a)


def test_connected_components_chain_and_islands(spark):
    """Transitivity through a chain (1-2, 2-3, 3-4), a separate 2-cycle
    component, and an untouched pair — min-id labels, exact memberships."""
    from debezium_spark.functions.dedup import connected_components, dup_clusters

    edges = spark.createDataFrame(
        [(2, 1), (2, 3), (3, 4), (10, 11), (11, 10), (20, 21)],
        ["id_a", "id_b"],
    )
    got = {
        (r["id"], r["component"])
        for r in connected_components(edges).collect()
    }
    assert got == {
        (1, 1), (2, 1), (3, 1), (4, 1),
        (10, 10), (11, 10),
        (20, 20), (21, 20),
    }
    clusters = {
        r["id"]: (r["component"], r["cluster_size"])
        for r in dup_clusters(edges).collect()
    }
    assert clusters[4] == (1, 4) and clusters[11] == (10, 2) and clusters[21] == (20, 2)


def test_connected_components_long_chain_converges(spark):
    """A 40-hop path graph needs ~40 propagation rounds (diameter bound) —
    exercises persist/unpersist/lineage-truncation across many iterations."""
    from debezium_spark.functions.dedup import connected_components

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(40)], ["id_a", "id_b"]
    )
    rows = connected_components(edges, max_iterations=60).collect()
    assert all(r["component"] == 0 for r in rows)
    assert len(rows) == 41


def test_connected_components_raises_when_budget_too_small(spark):
    import pytest as _pytest

    from debezium_spark.functions.dedup import connected_components

    edges = spark.createDataFrame([(i, i + 1) for i in range(10)], ["id_a", "id_b"])
    with _pytest.raises(RuntimeError, match="did not converge"):
        connected_components(edges, max_iterations=3)


def test_pack_shards_matches_serial_prefix_sum(spark):
    """Distributed two-pass prefix sum == the serial rule, across several
    range partitions; every shard except the last lands within one doc of the
    budget."""
    import random

    from debezium_spark.functions.text import pack_shards

    rng = random.Random(13)
    rows = [(i, " ".join(["w"] * rng.randint(0, 40))) for i in range(500)]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {
        r["doc_id"]: (r["n_tokens"], r["shard_id"])
        for r in pack_shards(docs, tokens_per_shard=200, partitions=7).collect()
    }
    run = 0
    for i, text in rows:
        n = len(text.split()) if text.strip() else 0
        assert got[i] == (n, run // 200), i
        run += n
    # shard boundaries: consecutive ids, monotone shard ids
    shards = [got[i][1] for i in range(500)]
    assert shards == sorted(shards)
    assert shards[-1] >= 1  # actually split


def test_pack_shards_single_partition_and_empty_text(spark):
    from debezium_spark.functions.text import pack_shards

    docs = spark.createDataFrame(
        [(1, "a b c"), (2, "  "), (3, None), (4, "d e")],
        ["doc_id", "text"],
    )
    rows = {r["doc_id"]: r for r in
            pack_shards(docs, tokens_per_shard=4, partitions=1).collect()}
    assert rows[1]["n_tokens"] == 3 and rows[1]["shard_id"] == 0
    assert rows[2]["n_tokens"] == 0 and rows[3]["n_tokens"] == 0
    assert rows[4]["shard_id"] == 0  # offset 3 // 4 == 0


def test_repetition_stats_gopher_counts(spark):
    """Known word soup -> exact top word / 2-gram counts, deterministic ties."""
    rows = [
        (1, "a b a b a c"),          # top word a(3); 2-grams: "a b"x2 wins
        (2, "x"),                    # single word: no 2-gram -> ('', 0)
        (3, "t t t t"),              # all same: top word t(4), "t t"(3)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r for r in X.repetition_stats(df).collect()}
    assert got[1]["n_words"] == 6 and got[1]["n_distinct_words"] == 3
    assert (got[1]["top_word"], got[1]["top_word_n"]) == ("a", 3)
    assert (got[1]["top_2gram"], got[1]["top_2gram_n"]) == ("a b", 2)
    assert (got[2]["top_2gram"], got[2]["top_2gram_n"]) == ("", 0)
    assert (got[3]["top_word_n"], got[3]["top_2gram_n"]) == (4, 3)
    # tie on count breaks to the lexicographically smaller token
    tie = X.repetition_stats(
        spark.createDataFrame([(9, "b a b a")], "doc_id long, text string")
    ).collect()[0]
    assert tie["top_word"] == "a" and tie["top_word_n"] == 2


def test_dedup_spans_keeps_first_occurrence(spark):
    """A span repeated across docs survives only in the earliest (doc, idx)."""
    span_a = " ".join(f"w{i}" for i in range(4))      # 4-word span
    span_b = " ".join(f"v{i}" for i in range(4))
    rows = [
        (1, span_a + " " + span_b),   # doc1: [span_a, span_b]
        (2, span_b + " " + span_a),   # doc2: both spans are dups -> dropped
        (3, span_b + " fresh words here now"),  # dup span_b + a new span
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r for r in D.dedup_spans(df, span_words=4).collect()}
    assert got[1]["text_dedup"] == span_a + " " + span_b
    assert got[1]["n_spans"] == 2 and got[1]["n_kept"] == 2
    assert 2 not in got                      # every span was a duplicate
    assert got[3]["text_dedup"] == "fresh words here now"
    assert got[3]["n_spans"] == 2 and got[3]["n_kept"] == 1


def test_scrub_pii_redacts_and_counts(spark):
    rows = [
        (1, "mail me at jo.doe+x@corp.example or call +1-555-0100 today"),
        (2, "no pii in this row at all"),
        (3, "two mails a@b.io c@d.org and 44-1234-5678"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r for r in X.scrub_pii(df).collect()}
    assert got[1]["n_emails"] == 1 and got[1]["n_phones"] == 1
    assert "<EMAIL>" in got[1]["text_clean"] and "<PHONE>" in got[1]["text_clean"]
    assert "jo.doe" not in got[1]["text_clean"] and "555" not in got[1]["text_clean"]
    assert got[2]["n_emails"] == 0 and got[2]["n_phones"] == 0
    assert got[2]["text_clean"] == rows[1][1]
    assert got[3]["n_emails"] == 2 and got[3]["n_phones"] == 1


def test_decontaminate_flags_shared_ngrams(spark):
    """A doc sharing an 8-word shingle with the eval set is flagged; counts
    are shingle POSITIONS, short docs produce no shingles."""
    leak = " ".join(f"q{i}" for i in range(8))     # the leaked 8-gram
    corpus = spark.createDataFrame(
        [
            (1, "clean words only " + " ".join(f"c{i}" for i in range(8))),
            (2, "prefix " + leak + " suffix"),      # one leaked shingle...
            (3, leak + " " + leak),                 # ...several positions here
            (4, "too short"),                       # < 8 words: never flagged
        ],
        "doc_id long, text string",
    )
    eval_docs = spark.createDataFrame(
        [(100, "intro " + leak + " outro")], "doc_id long, text string"
    )
    got = {r["doc_id"]: r for r in D.decontaminate(corpus, eval_docs).collect()}
    assert got[1]["contaminated"] == 0 and got[1]["n_hits"] == 0
    assert got[2]["contaminated"] == 1 and got[2]["n_hits"] == 1
    assert got[3]["contaminated"] == 1 and got[3]["n_hits"] >= 2
    assert got[4]["contaminated"] == 0


def test_resize_and_frame_sample_plumbing(spark):
    """mapInPandas plumbing shapes: resize is 1-in-1-out over image rows;
    frame sampling EXPANDS one video into ceil(duration/every) rows."""
    media = M.synth_media(spark, n=48)
    kinds = {r["media_id"]: r["kind"] for r in media.select("media_id", "kind").collect()}

    resized = M.resize_images(media, width=32, height=32).collect()
    assert {r["media_id"] for r in resized} == {
        m for m, k in kinds.items() if k == "image"
    }
    assert all(r["width"] == 32 and r["n_bytes"] == 64 for r in resized)

    frames = M.sample_frames(media, every_ms=10000).collect()
    by_id = {}
    for r in frames:
        by_id.setdefault(r["media_id"], []).append(r)
    durs = {r["media_id"]: r["meta"]["duration_ms"] for r in media.collect()}
    for mid, rows in by_id.items():
        assert kinds[mid] == "video"
        want = -(-durs[mid] // 10000)  # ceil
        assert len(rows) == want
        ts = sorted(x["t_ms"] for x in rows)
        assert ts == [i * 10000 for i in range(want)]
        assert len({x["frame_sha"] for x in rows}) == want  # per-frame digests
    assert set(by_id) == {m for m, k in kinds.items() if k == "video"}


def test_classifier_score_with_trained_weights(spark):
    """Vocabulary weights compile to a map literal (plan constant): in-vocab
    tokens use the model weight, OOV weigh 0, empty docs score null, bias
    shifts the sigmoid."""
    rows = [
        (1, "good good good"),          # mean w = 2.0 -> sigmoid(2) ~ .8808
        (2, "bad bad"),                 # mean w = -2.0
        (3, "good unknown"),            # (2000+0)/2 -> mean 1.0
        (4, "   "),                     # token-less -> null
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r["doc_id"]: r["lm_quality"]
        for r in X.classifier_score(
            df, weights={"good": 2.0, "bad": -2.0}
        ).collect()
    }
    import math

    sig = lambda z: 1 / (1 + math.exp(-z))  # noqa: E731
    assert out[1] == pytest.approx(sig(2.0), abs=1e-9)
    assert out[2] == pytest.approx(sig(-2.0), abs=1e-9)
    assert out[3] == pytest.approx(sig(1.0), abs=1e-9)
    assert out[4] is None
    # bias shifts every score
    out_b = {
        r["doc_id"]: r["lm_quality"]
        for r in X.classifier_score(
            df, weights={"good": 2.0, "bad": -2.0}, bias=1.0
        ).collect()
    }
    assert out_b[2] == pytest.approx(sig(-1.0), abs=1e-9)


def test_stratified_sample_quota_and_determinism(spark, docs):
    """Exactly min(k, stratum size) rows per stratum; the picked set is
    identical with and without the threshold prefilter, under a forced
    repair path (margin=1), and after arbitrary repartitioning."""
    k = 7
    base = X.stratified_sample(docs, "lang", k)
    sizes = {r["lang"]: r["n"] for r in docs.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    per = {r["lang"]: r["n"] for r in base.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    assert per == {s: min(k, n) for s, n in sizes.items()}
    assert base.select(F.max("sample_rank")).first()[0] <= k

    key = lambda df: sorted(  # noqa: E731
        (r["doc_id"], r["lang"], r["sample_rank"])
        for r in df.select("doc_id", "lang", "sample_rank").collect()
    )
    want = key(base)
    assert key(X.stratified_sample(docs, "lang", k, prefilter=False)) == want
    assert key(X.stratified_sample(docs, "lang", k, margin=1)) == want
    assert key(X.stratified_sample(docs.repartition(17), "lang", k)) == want
    # nested-sample property: the k'=3 sample is a prefix of the k=7 sample
    small = key(X.stratified_sample(docs, "lang", 3))
    assert set(small) <= set(want)


def test_semantic_dedup_components_and_singletons(spark):
    # two semantic clusters ({1,2,3} chained, {10,11}) + a singleton (20):
    # chain proves component-closure (1~2, 2~3 but 1!~3 at the threshold
    # would under-delete with keep-one-per-pair)
    rows = [
        (1, [1.0, 0.0, 0.0, 0.0]),
        (2, [0.999, 0.04, 0.0, 0.0]),
        (3, [0.995, 0.09, 0.0, 0.0]),
        (10, [0.0, 0.0, 1.0, 0.0]),
        (11, [0.0, 0.0, 0.999, 0.01]),
        (20, [0.0, 0.0, 0.0, 1.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = S.semantic_dedup(df, cosine_threshold=0.998, planes=4, dim=4)
    got = {r["vec_id"]: (r["component"], r["kept"]) for r in out.collect()}
    assert got[1] == (1, True)
    assert got[2] == (1, False)
    assert got[3] == (1, False)  # reachable via 2 even if (1,3) below threshold
    assert got[10] == (10, True)
    assert got[11] == (10, False)
    assert got[20] == (20, True)  # singleton: own component, kept
    # where(kept) is the deduplicated corpus: one exemplar per cluster
    assert {r["vec_id"] for r in out.where("kept").collect()} == {1, 10, 20}


def test_mix_sources_epochs_and_fractions(spark):
    docs = spark.createDataFrame(
        [(i, "en" if i % 2 == 0 else "zh") for i in range(200)],
        "doc_id long, source string",
    )
    mixed = X.mix_sources(docs, {"en": 2.5, "zh": 0.0})
    pdf = mixed.toPandas()
    assert set(pdf["source"]) == {"en"}  # weight-0 source dropped
    per_doc = pdf.groupby("doc_id")["epoch"].agg(["count", "min", "max"])
    # every kept doc has 2 or 3 copies, epochs contiguous from 0
    assert set(per_doc["count"]) <= {2, 3}
    assert (per_doc["min"] == 0).all()
    assert (per_doc["max"] == per_doc["count"] - 1).all()
    # fractional membership is deterministic and ~50% of the 100 en docs
    n3 = int((per_doc["count"] == 3).sum())
    assert 30 <= n3 <= 70
    again = X.mix_sources(docs, {"en": 2.5, "zh": 0.0}).toPandas()
    assert sorted(map(tuple, again[["doc_id", "epoch"]].values.tolist())) == sorted(
        map(tuple, pdf[["doc_id", "epoch"]].values.tolist())
    )
    # re-partition stability (the hash is storage-layout independent)
    rep = X.mix_sources(docs.repartition(13), {"en": 2.5, "zh": 0.0}).toPandas()
    assert len(rep) == len(pdf)
    with pytest.raises(ValueError):
        X.mix_sources(docs, {})
    with pytest.raises(ValueError):
        X.mix_sources(docs, {"en": -1.0})


def test_chunk_documents_windows_and_tail(spark):
    docs = spark.createDataFrame(
        [(1, " ".join(f"w{i}" for i in range(10))), (2, "solo"), (3, "  "), (4, None)],
        "doc_id long, text string",
    )
    # non-overlapping: 10 tokens / window 4 -> chunks of 4,4,2
    out = X.chunk_documents(docs, chunk_tokens=4).orderBy("doc_id", "chunk_id")
    rows = [(r["doc_id"], r["chunk_id"], r["n_tokens"], r["chunk_text"]) for r in out.collect()]
    assert rows == [
        (1, 0, 4, "w0 w1 w2 w3"),
        (1, 1, 4, "w4 w5 w6 w7"),
        (1, 2, 2, "w8 w9"),
        (2, 0, 1, "solo"),
    ]  # empty/null docs dropped
    # overlapping stride 2: starts 0,2,4,6,8 over 10 tokens
    ov = X.chunk_documents(docs.where("doc_id = 1"), chunk_tokens=4, stride=2)
    got = [(r["chunk_id"], r["n_tokens"]) for r in ov.orderBy("chunk_id").collect()]
    assert got == [(0, 4), (1, 4), (2, 4), (3, 4), (4, 2)]
    import pytest as _pt
    with _pt.raises(ValueError):
        X.chunk_documents(docs, chunk_tokens=0)
    with _pt.raises(ValueError):
        X.chunk_documents(docs, chunk_tokens=4, stride=5)


def test_tfidf_top_terms_hand_case(spark):
    import math

    from debezium_spark.functions.text import tfidf_top_terms

    docs = spark.createDataFrame(
        [
            (1, "apple apple banana common"),
            (2, "banana cherry common"),
            (3, "cherry cherry cherry common"),
            (4, "durian common"),
        ],
        "doc_id long, text string",
    )
    got = {
        (r["doc_id"], r["term_rank"]): (r["term"], r["tf"], r["score_ppm"])
        for r in tfidf_top_terms(docs, k=2).collect()
    }

    def idf_ppm(df):
        return math.floor(math.log(4 / df) * 1e6 + 0.5)

    # doc 1: apple tf=2 df=1 beats banana tf=1 df=2; 'common' has idf 0
    assert got[(1, 1)] == ("apple", 2, 2 * idf_ppm(1))
    assert got[(1, 2)] == ("banana", 1, idf_ppm(2))
    # doc 3: cherry tf=3 df=2 tops; rank 2 is 'common' at score 0
    assert got[(3, 1)] == ("cherry", 3, 3 * idf_ppm(2))
    assert got[(3, 2)] == ("common", 1, 0)
    # ties at equal score break by term asc: doc 4 'durian' (df=1) then common
    assert got[(4, 1)] == ("durian", 1, idf_ppm(1))
    # every doc emits at most k rows
    assert max(rank for _, rank in got) <= 2


def test_tfidf_min_df_drops_hapax(spark):
    from debezium_spark.functions.text import tfidf_top_terms

    docs = spark.createDataFrame(
        [(1, "rare shared"), (2, "shared")], "doc_id long, text string"
    )
    terms = {
        r["term"]
        for r in tfidf_top_terms(docs, k=5, min_df=2).collect()
    }
    assert terms == {"shared"}


def test_dsir_weights_prefers_target_like_docs(spark):
    from pyspark.sql import functions as F

    from debezium_spark.functions.text import dsir_weights

    # target vocabulary {aa bb}, raw-only vocabulary {zz yy}
    rows = (
        [(i, "aa bb aa bb", "t") for i in range(20)]
        + [(100 + i, "zz yy zz yy", "r") for i in range(20)]
        + [(200, "aa bb", "r"), (201, "zz yy", "r"), (202, "", "r")]
    )
    docs = spark.createDataFrame(rows, "doc_id long, text string, kind string")
    got = {
        r["doc_id"]: (r["n_tokens"], r["dsir_logratio_ppm"])
        for r in dsir_weights(docs, F.col("kind") == "t", buckets=64).collect()
    }
    assert len(got) == len(rows)
    # a raw doc written in the target's vocabulary scores ABOVE one written
    # in raw-only vocabulary — the importance-resampling ordering
    assert got[200][1] > got[201][1]
    assert got[200][1] > 0 > got[201][1]
    # token-less docs keep weight 0 with n_tokens 0 (never dropped)
    assert got[202] == (0, 0)
    # weights are exact integers: same doc text => identical weight
    assert len({got[i][1] for i in range(20)}) == 1


def test_pq_encode_and_adc_match_numpy(spark):
    import numpy as np

    from debezium_spark.functions.similarity import (
        pq_codebooks_from_head,
        pq_encode,
        pq_topk,
    )

    rng = np.random.RandomState(11)
    vecs = rng.randn(64, 16).astype(np.float64)
    df = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(64)],
        "vec_id long, embedding array<double>",
    )
    cbs = pq_codebooks_from_head(df, m=4, ks=8)
    assert len(cbs) == 4 and len(cbs[0]) == 8 and len(cbs[0][0]) == 4

    # numpy reference: per-subspace argmin of scaled sqdist, tie -> low code
    def ref_codes(v):
        out = []
        for s in range(4):
            sub = v[s * 4 : (s + 1) * 4]
            ds = [
                int(np.floor(sum((a - b) * (a - b) for a, b in zip(sub, cv)) * 10000 + 0.5))
                for cv in cbs[s]
            ]
            out.append(min(range(8), key=lambda j: (ds[j], j)))
        return out

    got = {r["vec_id"]: r["pq_code"] for r in pq_encode(df, cbs).collect()}
    for i in range(64):
        codes = ref_codes(vecs[i])
        packed = sum(c << (3 * s) for s, c in enumerate(codes))
        assert got[i] == packed, f"vec {i}: {got[i]} != {packed}"

    # head vectors encode to themselves (distance 0 to their own sub-centroid)
    for j in range(8):
        assert got[j] == sum(j << (3 * s) for s in range(4))

    # ADC: query = vector 3 -> its own code must rank first (distance table
    # entry for its code is 0 in every subspace)
    top = pq_topk(df, [float(x) for x in vecs[3]], cbs, k=3).collect()
    assert top[0]["vec_id"] == 3 and top[0]["adc_dist_fp"] == 0

    with pytest.raises(ValueError):
        pq_topk(df, [0.0] * 7, cbs)
    with pytest.raises(ValueError):
        pq_codebooks_from_head(df, m=5, ks=8)  # 16 % 5 != 0


def test_ivf_pq_topk_residual_index(spark):
    import numpy as np

    from debezium_spark.functions.similarity import ivf_pq_topk

    # 4 tight clusters at orthogonal-ish centers; first 8 ids seed the
    # centroid/codebook heads (training-free defaults), rest are members
    rng = np.random.RandomState(5)
    centers = np.eye(4).repeat(4, axis=1) * 10.0  # (4, 16)
    rows = []
    for i in range(96):
        c = i % 4
        v = centers[c] + rng.randn(16) * 0.05
        rows.append((i, [float(x) for x in v]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    target = rows[50]  # cluster 50 % 4 == 2
    top = ivf_pq_topk(
        df, target[1], k=5, n_cells=4, nprobe=1, m=4, ks=8
    ).collect()
    assert len(top) == 5
    # single-probe search returns only the query's cluster
    assert all(r["vec_id"] % 4 == 2 for r in top)
    # the query vector itself lands in the top few ADC ranks
    assert 50 in [r["vec_id"] for r in top[:3]]
    # exact integer scores, deterministic across re-runs
    again = ivf_pq_topk(df, target[1], k=5, n_cells=4, nprobe=1, m=4, ks=8).collect()
    assert [(r["vec_id"], r["adc_dist_fp"]) for r in top] == [
        (r["vec_id"], r["adc_dist_fp"]) for r in again
    ]
    # widening the probe set can only add candidates, never lose the best
    wide = ivf_pq_topk(df, target[1], k=5, n_cells=4, nprobe=4, m=4, ks=8).collect()
    assert wide[0]["adc_dist_fp"] <= top[0]["adc_dist_fp"]

    with pytest.raises(ValueError):
        ivf_pq_topk(df, target[1], n_cells=4, nprobe=1, m=5, ks=8)  # 16 % 5


def test_gopher_filter_rules(spark):
    from debezium_spark.functions.text import gopher_filter

    good = (
        "the quick brown fox jumps over the lazy dog and runs away with "
        "great speed that nobody could have expected from such small animal"
    )
    rows = [
        (1, good),                                   # passes everything
        (2, "short text"),                           # fails word count
        (3, "## ### " + good + " # # # # # # # # # # # # # # #"),  # symbols
        (4, "- a\n- b\n- c\n- d\n- e\n- f\n- g\n- h\n- i\n- j"),   # bullets
        (5, ("123 456 789 " * 10) + "the be"),       # mostly non-alpha words
        (6, "zz yy xx ww vv uu tt ss rr qq pp oo nn mm ll kk jj ii hh gg"),  # no stopwords
        (7, ("spam ham " * 40) + "the of and with be that"),  # top-2gram mass
    ]
    got = {
        r["doc_id"]: r.asDict()
        for r in gopher_filter(
            spark.createDataFrame(rows, "doc_id long, text string"),
            min_words=10,
        ).collect()
    }
    assert got[1]["keep"] is True
    assert got[2]["r_word_count"] is False and got[2]["keep"] is False
    assert got[3]["r_symbol_ratio"] is False
    assert got[4]["r_bullet_lines"] is False
    assert got[5]["r_alpha_words"] is False
    assert got[6]["r_stopwords"] is False
    assert got[7]["r_top_2gram"] is False and got[7]["keep"] is False
    # integer cross-multiplication: rule booleans are exact (no float drift):
    # doc 1 re-evaluates identically under repartitioning
    re_run = gopher_filter(
        spark.createDataFrame(rows, "doc_id long, text string").repartition(7),
        min_words=10,
    ).collect()
    assert {r["doc_id"]: r["keep"] for r in re_run} == {
        k: v["keep"] for k, v in got.items()
    }


def test_shuffle_order_deterministic_and_contiguous(spark):
    import hashlib

    from debezium_spark.functions.text import shuffle_order

    docs = spark.createDataFrame(
        [(i, f"doc {i}") for i in range(97)], "doc_id long, text string"
    )
    got = {
        r["doc_id"]: r["shuffle_rank"]
        for r in shuffle_order(docs, num_partitions=5).collect()
    }
    # contiguous 1..N
    assert sorted(got.values()) == list(range(1, 98))

    # matches the portable hash order computed independently
    def h(i):
        return int(hashlib.md5(f"shuffle:{i}".encode()).hexdigest()[:15], 16)

    expect = {
        doc_id: rank
        for rank, doc_id in enumerate(
            sorted(range(97), key=lambda i: (h(i), i)), start=1
        )
    }
    assert got == expect

    # stable under input partitioning; different salt -> different order
    again = {
        r["doc_id"]: r["shuffle_rank"]
        for r in shuffle_order(docs.repartition(13), num_partitions=3).collect()
    }
    assert again == got
    other = {
        r["doc_id"]: r["shuffle_rank"]
        for r in shuffle_order(docs, salt="epoch1").collect()
    }
    assert other != got and sorted(other.values()) == list(range(1, 98))


def test_asof_join_backward_semantics(spark):
    from datetime import datetime

    from debezium_spark.functions.joins import asof_join

    def t(s):
        return datetime(2024, 1, 1, 0, 0, s)

    left = spark.createDataFrame(
        [(1, t(5), "a"), (1, t(10), "b"), (2, t(5), "c"), (3, t(5), "d")],
        "user_id long, ts timestamp, tag string",
    )
    right = spark.createDataFrame(
        [
            (1, t(3), 30.0), (1, t(5), 50.0), (1, t(7), 70.0),
            (2, t(9), 90.0),
            # tie on (key, ts): highest payload wins deterministically
            (1, t(3), 31.0),
        ],
        "user_id long, ts timestamp, value double",
    )
    strict = {
        (r["user_id"], r["tag"]): (r["value_right"], r["ts_right"])
        for r in asof_join(
            left, right, on=("user_id",), right_cols=("value",), strict=True
        ).collect()
    }
    # strict: the t(5) right row is NOT visible to the t(5) left row
    assert strict[(1, "a")] == (31.0, t(3))
    assert strict[(1, "b")] == (70.0, t(7))
    assert strict[(2, "c")] == (None, None)   # right row is later
    assert strict[(3, "d")] == (None, None)   # no right rows at all

    loose = {
        (r["user_id"], r["tag"]): r["value_right"]
        for r in asof_join(
            left, right, on=("user_id",), right_cols=("value",), strict=False
        ).collect()
    }
    assert loose[(1, "a")] == 50.0  # equal-ts right row now visible
    assert loose[(1, "b")] == 70.0


def test_asof_join_single_exchange_plan(spark):
    from datetime import datetime

    from debezium_spark.functions.joins import asof_join

    l = spark.createDataFrame(
        [(1, datetime(2024, 1, 1), "x")], "user_id long, ts timestamp, tag string"
    )
    r = spark.createDataFrame(
        [(1, datetime(2024, 1, 1), 1.0)], "user_id long, ts timestamp, value double"
    )
    plan = asof_join(
        l, r, on=("user_id",), right_cols=("value",)
    )._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert plan.count("Exchange hashpartitioning(user_id") <= 2  # agg + window


def test_interval_join_containment(spark):
    from datetime import datetime

    from debezium_spark.functions.joins import interval_join, interval_join_left

    def t(m):
        return datetime(2024, 1, 1, 0, m)

    pts = spark.createDataFrame(
        [(1, 100, t(5)), (1, 101, t(30)), (2, 102, t(5)), (1, 103, t(59))],
        "user_id long, event_id long, ts timestamp",
    )
    ivals = spark.createDataFrame(
        [
            (1, t(0), t(10), "s1"),     # covers 100
            (1, t(25), t(40), "s2"),    # covers 101
            (2, t(50), t(55), "s3"),    # covers nothing of user 2's points
            (1, t(4), t(6), "s4"),      # ALSO covers 100 (overlap)
        ],
        "user_id long, start timestamp, end timestamp, name string",
    )
    got = sorted(
        (r["event_id"], r["name"])
        for r in interval_join(
            pts, ivals, on=("user_id",), bucket_seconds=600
        ).collect()
    )
    assert got == [(100, "s1"), (100, "s4"), (101, "s2")]

    left = interval_join_left(
        pts, ivals, on=("user_id",), bucket_seconds=600
    ).collect()
    ids = sorted(r["event_id"] for r in left)
    assert ids == [100, 100, 101, 102, 103]  # unmatched kept once with nulls
    assert {r["name"] for r in left if r["event_id"] in (102, 103)} == {None}


def test_interval_join_left_null_attr_not_duplicated(spark):
    from datetime import datetime

    from debezium_spark.functions.joins import interval_join_left

    t0 = datetime(2024, 1, 1, 0, 5)
    pts = spark.createDataFrame(
        [(1, 100, t0, None), (1, 101, datetime(2024, 2, 1), "x")],
        "user_id long, event_id long, ts timestamp, note string",
    )
    ivals = spark.createDataFrame(
        [(1, datetime(2024, 1, 1), datetime(2024, 1, 1, 1), "s1")],
        "user_id long, start timestamp, end timestamp, name string",
    )
    got = interval_join_left(
        pts, ivals, on=("user_id",), bucket_seconds=600
    ).collect()
    # the null-attribute matched point appears exactly once (matched), the
    # out-of-range point exactly once (unmatched, null interval cols)
    by_id = {}
    for r in got:
        by_id.setdefault(r["event_id"], []).append(r["name"])
    assert by_id == {100: ["s1"], 101: [None]}


def test_stratified_sample_null_stratum_excluded(spark):
    from debezium_spark.functions.text import stratified_sample

    docs = spark.createDataFrame(
        [(1, "en"), (2, "en"), (3, None), (4, "de")],
        "doc_id long, lang string",
    )
    got = stratified_sample(docs, "lang", 5).collect()
    assert sorted(r["doc_id"] for r in got) == [1, 2, 4]


def test_avro_map_negative_block_count(spark):
    """Spec-conformant writers may emit map blocks with a NEGATIVE count
    followed by a byte-size long; the decoder must skip the size varint
    (regression: only the array branch did)."""
    import io

    from debezium_spark.functions import avro as A

    schema = {"type": "record", "name": "r", "fields": [
        {"name": "m", "type": {"type": "map", "values": "long"}},
    ]}

    def zz(n):  # zigzag varint encode
        u = (n << 1) ^ (n >> 63) if n >= 0 else ((-n) << 1) - 1
        out = b""
        while True:
            b7 = u & 0x7F
            u >>= 7
            if u:
                out += bytes([b7 | 0x80])
            else:
                out += bytes([b7])
                return out

    def s(txt):
        bs = txt.encode()
        return zz(len(bs)) + bs

    # one block: count=-2 (negative => size-prefixed), size=whatever, then
    # 2 entries, then the 0 terminator
    body = zz(-2) + zz(10) + s("a") + zz(7) + s("b") + zz(9) + zz(0)
    got = A._decode(io.BytesIO(body), schema)
    assert got == {"m": {"a": 7, "b": 9}}


def test_winnow_guarantee_and_compression(spark):
    from debezium_spark.functions.dedup import (
        winnow_fingerprints,
        winnow_shared_pairs,
    )

    shared = "alpha beta gamma delta epsilon zeta eta theta"  # 8 = k+w-1 words
    docs = spark.createDataFrame(
        [
            (1, "intro words here " + shared + " tail one"),
            (2, "completely different preamble " + shared + " other ending"),
            (3, "no overlap with anything else at all whatsoever today"),
        ],
        "doc_id long, text string",
    )
    fps = winnow_fingerprints(docs, k=5, window=4)
    by_doc = {
        i: {r["fp"] for r in rows}
        for i, rows in [
            (i, fps.where(F.col("doc_id") == i).collect()) for i in (1, 2, 3)
        ]
    }
    # winnowing guarantee: a shared substring of >= k + window - 1 words
    # leaves at least one shared fingerprint
    assert by_doc[1] & by_doc[2]
    assert not (by_doc[1] & by_doc[3]) and not (by_doc[2] & by_doc[3])
    # compression: fingerprints are a strict subset of the k-gram hashes
    n_grams_doc1 = len(docs.where("doc_id = 1").first()["text"].split()) - 4
    assert 0 < len(by_doc[1]) < n_grams_doc1

    pairs = winnow_shared_pairs(docs, k=5, window=4, min_shared=1).collect()
    assert [(r["id_a"], r["id_b"]) for r in pairs] == [(1, 2)]


def test_sketches_cardinality_merge_and_heavy_hitters(spark):
    from debezium_spark.functions.sketches import (
        cardinality_sketches,
        heavy_hitters,
        merge_cardinality_sketches,
    )

    rows = [(i, f"g{i % 3}", f"v{i % 157}") for i in range(5000)]
    df = spark.createDataFrame(rows, "id long, grp string, val string")

    per_grp = cardinality_sketches(df, "val", group_cols=("grp",))
    got = {r["grp"]: r["distinct_estimate"] for r in per_grp.collect()}
    # exact distinct per group is 157; HLL at lg_k=12 is ~1.6% error
    for grp, est in got.items():
        assert abs(est - 157) <= 8, (grp, est)

    # mergeability: union of per-group sketches == sketch of the whole
    merged = merge_cardinality_sketches(per_grp).collect()[0]
    whole = cardinality_sketches(df, "val").collect()[0]
    assert merged["distinct_estimate"] == whole["distinct_estimate"]

    # heavy hitters: exact counts, deterministic ties
    skew = df.union(
        spark.createDataFrame(
            [(9000 + i, "g0", "hot") for i in range(500)],
            "id long, grp string, val string",
        )
    )
    hh = heavy_hitters(skew, "val", k=2, group_cols=("grp",)).collect()
    top_g0 = [r for r in hh if r["grp"] == "g0" and r["rank"] == 1][0]
    assert top_g0["value"] == "hot" and top_g0["n"] == 500
    assert all(r["rank"] <= 2 for r in hh)

    flat = heavy_hitters(skew, "val", k=3).collect()
    assert flat[0]["value"] == "hot" and flat[0]["rank"] == 1


def test_cms_table_laws(spark, docs):
    """Relational count-min: never underestimates, merge == global build,
    bounded cell count, and heavy hitters estimate near-exactly."""
    from debezium_spark.functions import sketches as SK

    t = F.trim(F.lower(F.coalesce(F.col("text"), F.lit(""))))
    toks = docs.select(
        "source",
        F.explode(F.filter(F.split(t, r"\s+"), lambda x: x != "")).alias("tok"),
    )
    depth, width = 4, 128
    global_cms = SK.cms_table(toks, "tok", depth=depth, width=width)
    assert global_cms.count() <= depth * width
    # merge law: per-source sketches summed cell-wise == one global build
    per_src = SK.cms_table(toks, "tok", depth=depth, width=width, group_cols=("source",))
    merged = SK.merge_cms_tables(per_src.drop("source"))
    assert (
        merged.exceptAll(global_cms).count() == 0
        and global_cms.exceptAll(merged).count() == 0
    )
    # estimates: est >= true for every token; total overestimate bounded
    true = toks.groupBy(F.col("tok").alias("value")).agg(F.count(F.lit(1)).alias("true_n"))
    probes = toks.select("tok").distinct()
    est = SK.cms_estimate(global_cms, probes, "tok", depth=depth, width=width)
    joined = est.join(true, "value").collect()
    n_total = toks.count()
    assert len(joined) == probes.count()
    for r in joined:
        assert r["est_n"] >= r["true_n"]
        # classic CMS bound: overestimate <= 2N/width with prob 1 - 2^-depth;
        # assert the loose deterministic-ish bound holds for all but a few
    over = [r["est_n"] - r["true_n"] for r in joined]
    bound = 2 * n_total / width
    assert sum(1 for o in over if o > bound) <= max(1, len(over) // 16)


def test_freq_sketch_binary_jvm_laws(spark, docs):
    """Spark's binary CMS: JVM decode, overestimate-only within eps*N, and
    mergeInPlace equals the global sketch's estimates."""
    from debezium_spark.functions import sketches as SK

    t = F.trim(F.lower(F.coalesce(F.col("text"), F.lit(""))))
    toks = docs.select(
        "source",
        F.explode(F.filter(F.split(t, r"\s+"), lambda x: x != "")).alias("tok"),
    )
    eps, conf = 0.01, 0.99
    row = SK.freq_sketch_binary(toks, "tok", eps=eps, confidence=conf).collect()[0]
    jvm = spark._jvm
    cms = jvm.org.apache.spark.util.sketch.CountMinSketch.readFrom(bytes(row["cms_sketch"]))
    assert cms.totalCount() == row["total_n"]
    true = {
        r["tok"]: r["n"]
        for r in toks.groupBy("tok").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    n = row["total_n"]
    for tok, tn in list(true.items())[:50]:
        est = cms.estimateCount(tok)
        assert est >= tn
        assert est <= tn + eps * n + 1
    # merge law: per-source sketches merged == same estimates as global
    parts = SK.freq_sketch_binary(
        toks, "tok", eps=eps, confidence=conf, group_cols=("source",)
    ).collect()
    acc = None
    for p in parts:
        s = jvm.org.apache.spark.util.sketch.CountMinSketch.readFrom(bytes(p["cms_sketch"]))
        acc = s if acc is None else acc.mergeInPlace(s)
    for tok in list(true)[:20]:
        assert acc.estimateCount(tok) == cms.estimateCount(tok)


def test_bloom_no_false_negatives_and_fp_bound(spark):
    """Bloom filter laws: every inserted key hits; FP rate on disjoint keys
    stays within ~3x the analytic bound."""
    from debezium_spark.functions.dedup import bloom_build, bloom_probe

    n_keys, m_bits, k = 2000, 1 << 16, 5
    members = spark.range(n_keys).select(
        F.concat(F.lit("key-"), F.col("id")).alias("v")
    )
    words = bloom_build(members, "v", m_bits=m_bits, k_hashes=k)
    assert len(words) == m_bits // 64
    hit = bloom_probe(members, "v", words, k_hashes=k)
    assert hit.where("bloom_hit = 0").count() == 0  # no false negatives, ever
    import math
    others = spark.range(20000).select(
        F.concat(F.lit("other-"), F.col("id")).alias("v")
    )
    fp = bloom_probe(others, "v", words, k_hashes=k).where("bloom_hit = 1").count()
    p = (1 - math.exp(-k * n_keys / m_bits)) ** k
    assert fp <= max(5, 3 * p * 20000)


def test_bloom_probe_broadcast_path(spark):
    """Above the literal threshold (2^14 words) the probe ships the word
    array once per executor via a broadcast one-row frame: same membership
    laws, and a caller column named like the internal temp never collides
    or gets dropped."""
    from debezium_spark.functions.dedup import bloom_build, bloom_probe

    m_bits, k = 1 << 21, 5  # 32768 words > broadcast_threshold_words
    members = spark.range(500).select(
        F.concat(F.lit("key-"), F.col("id")).alias("v"),
        F.lit("keep-me").alias("_bloom_words"),  # adversarial caller column
    )
    words = bloom_build(members, "v", m_bits=m_bits, k_hashes=k)
    probed = bloom_probe(members, "v", words, k_hashes=k)
    assert "Broadcast" in probed._jdf.queryExecution().executedPlan().toString()
    assert probed.where("bloom_hit = 0").count() == 0  # no false negatives
    assert probed.where("_bloom_words = 'keep-me'").count() == 500  # preserved
    others = spark.range(2000).select(
        F.concat(F.lit("other-"), F.col("id")).alias("v")
    )
    fp = bloom_probe(others, "v", words, k_hashes=k).where("bloom_hit = 1").count()
    assert fp <= 5  # m >> n: FP essentially zero


def test_decontaminate_bloom_matches_exact(spark, docs):
    """At the entry's filter size the bloom output equals exact decontaminate
    (zero false positives on this corpus — deterministic, not luck: verified
    at sf0.001/0.01/0.1 by the gate; the FP law above covers the general case)."""
    eval_side = docs.where(F.col("doc_id") % 97 == 0)
    corpus = docs.where(F.col("doc_id") % 97 != 0)
    exact = D.decontaminate(corpus, eval_side, ngram_words=8)
    bloom = D.decontaminate_bloom(
        corpus, eval_side, ngram_words=8, m_bits=1 << 18, k_hashes=6
    )
    assert (
        exact.exceptAll(bloom).count() == 0 and bloom.exceptAll(exact).count() == 0
    )


def test_quantile_profile_matches_numpy(spark):
    """Exact percentile parity with numpy's linear interpolation, per group."""
    from debezium_spark.streaming.windows import quantile_profile

    rows = [(("a" if i % 3 else "b"), float(i * 7 % 101) / 4) for i in range(500)]
    df = spark.createDataFrame(rows, "g string, v double")
    out = quantile_profile(
        df, "v", quantiles=(0.1, 0.5, 0.9), group_cols=("g",), scale=10**6
    ).collect()
    by_g = {}
    for g, v in rows:
        by_g.setdefault(g, []).append(v)
    for r in out:
        expect = np.percentile(np.array(by_g[r["g"]]), r["q"] * 100)
        assert r["value_ppm"] == int(np.floor(expect * 10**6 + 0.5))


def test_rolling_metrics_trailing_window(spark):
    """Rolling metrics vs a brute-force pandas check, including ts ties
    (RANGE peers share outputs) and exact scaled sums."""
    import pandas as pd
    from debezium_spark.streaming.windows import rolling_metrics

    rows = []
    for i in range(200):
        uid = i % 5
        # deliberate ties: every 10th event repeats the previous timestamp
        sec = (i // 5) * 13 if i % 10 else ((i // 5) * 13 - 13 if i >= 10 else 0)
        rows.append((i, uid, f"2024-01-01 00:{sec // 60:02d}:{sec % 60:02d}", 0.01 * i))
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, ts_s string, value double"
    ).withColumn("ts", F.to_timestamp("ts_s")).drop("ts_s")
    out = {
        r["event_id"]: (r["rolling_n"], r["rolling_sum_scaled"])
        for r in rolling_metrics(
            df, trailing_seconds=60, value_scale=100
        ).collect()
    }
    pdf = df.toPandas()
    pdf["us"] = pdf["ts"].astype("int64") // 1000
    for _, e in pdf.iterrows():
        w = pdf[
            (pdf.user_id == e.user_id)
            & (pdf.us >= e.us - 60_000_000)
            & (pdf.us <= e.us)
        ]
        scaled = int(sum(int(np.floor(v * 100 + 0.5)) for v in w.value))
        assert out[e.event_id] == (len(w), scaled)


def test_pagerank_fixed_point_laws(spark):
    """PageRank: center of a star outranks leaves, rank mass ~ conserved,
    fixed-point result tracks a float reference within truncation noise,
    and repartitioning does not change a single bit."""
    from debezium_spark.functions.graph import PR_SCALE, degree_stats, pagerank

    edges = spark.createDataFrame(
        [(0, 1), (0, 2), (0, 3), (0, 4), (5, 6)], "id_a long, id_b long"
    )
    deg = {r["id"]: r["degree"] for r in degree_stats(edges).collect()}
    assert deg[0] == 4 and deg[1] == 1 and deg[5] == 1
    out = {r["id"]: r["rank_scaled"] for r in pagerank(edges, iterations=5).collect()}
    assert len(out) == 7
    assert out[0] > out[1] == out[2] == out[3] == out[4]
    assert out[5] == out[6]
    # mass conservation up to integer-truncation (< (deg+1) per node per round)
    assert abs(sum(out.values()) - PR_SCALE) < 7 * 10 * 6
    # float reference power iteration (same damping, same iteration count)
    import numpy as np
    adj = {0: [1, 2, 3, 4], 1: [0], 2: [0], 3: [0], 4: [0], 5: [6], 6: [5]}
    r = {k: 1 / 7 for k in adj}
    for _ in range(5):
        r = {
            k: 0.15 / 7 + 0.85 * sum(r[j] / len(adj[j]) for j in adj if k in adj[j])
            for k in adj
        }
    for k, v in r.items():
        assert abs(out[k] / PR_SCALE - v) < 1e-9
    # bit-determinism across partitionings
    out2 = {
        r["id"]: r["rank_scaled"]
        for r in pagerank(edges.repartition(7), iterations=5).collect()
    }
    assert out == out2


def test_transition_matrix_hand_case(spark):
    """Transition matrix: exact pair counts, integer-division row
    probabilities, and deterministic ordering of simultaneous events."""
    from debezium_spark.streaming.windows import transition_matrix

    rows = [
        # user 1: a -> b -> a  (ordered by ts)
        (1, 1, "2024-01-01 00:00:00", "a"),
        (2, 1, "2024-01-01 00:00:10", "b"),
        (3, 1, "2024-01-01 00:00:20", "a"),
        # user 2: tie on ts — event_id breaks it: a(4) -> b(5) -> b(6)
        (4, 2, "2024-01-01 00:00:00", "a"),
        (5, 2, "2024-01-01 00:00:00", "b"),
        (6, 2, "2024-01-01 00:00:05", "b"),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, ts_s string, event_type string"
    ).withColumn("ts", F.to_timestamp("ts_s")).drop("ts_s")
    out = {
        (r["from_type"], r["to_type"]): (r["n"], r["p_ppm"])
        for r in transition_matrix(df).collect()
    }
    # pairs: u1 a->b, b->a; u2 a->b, b->b
    assert out[("a", "b")] == (2, 1_000_000)  # both a-transitions go to b
    assert out[("b", "a")] == (1, 500_000)
    assert out[("b", "b")] == (1, 500_000)
    assert len(out) == 3


def test_temperature_weights_laws(spark, docs):
    """T=1 reduces to proportional ppm; larger T flattens toward uniform."""
    t1 = {r["group"]: r for r in X.temperature_weights(docs, temperature=1.0).collect()}
    total = sum(r["n_tokens"] for r in t1.values())
    for g, r in t1.items():
        assert r["weight_ppm"] == (r["n_tokens"] * 1_000_000) // total
    t5 = {r["group"]: r["weight_ppm"] for r in X.temperature_weights(docs, temperature=5.0).collect()}
    spread1 = max(r["weight_ppm"] for r in t1.values()) - min(r["weight_ppm"] for r in t1.values())
    spread5 = max(t5.values()) - min(t5.values())
    assert spread5 < spread1  # temperature flattens
    assert abs(sum(t5.values()) - 1_000_000) <= len(t5)


def test_exact_root_pow_q_boundary_proof(spark):
    """The r4 transcendental-boundary risk, probed at its worst inputs:
    perfect cubes are EXACTLY the values where floor(pow(n,1/3)*1e6) sits on
    an integer boundary and a 1-ulp pow difference used to flip the quantized
    value. The exact integer-root path must return t*1e6 for n = t^3 on every
    engine — verified against pure-Python integer arithmetic."""
    from debezium_spark.functions.text import _exact_root_pow_q

    ns = [0, 1, 7, 8, 26, 27, 1000, 10**6, 10**9, 10**12]
    ns += [t**3 for t in (2, 3, 7, 10, 99, 1234, 99999)]  # boundary cubes
    df = spark.createDataFrame([(n,) for n in ns], "n long")
    got = {
        r["n"]: r["q"]
        for r in df.select("n", _exact_root_pow_q(F.col("n"), 3).alias("q")).collect()
    }

    def py_root_q(n):  # floor(n^(1/3) * 1e6) by pure integer search
        lo, hi = 0, 10**13
        while lo < hi:
            mid = (lo + hi + 1) // 2
            if mid**3 <= n * 10**18:
                lo = mid
            else:
                hi = mid - 1
        return lo

    for n in ns:
        assert got[n] == py_root_q(n), n
    assert got[27] == 3_000_000 and got[10**12] == 10_000_000_000


@pytest.mark.parametrize("m", [1, 2, 3, 4])
def test_exact_root_pow_q_up_to_documented_bound(spark, m):
    """Every supported root is exact up to n = 1e14, where n * 10^(6m)
    outgrows the old DECIMAL(12,0) candidates (m=1 from n=1e6, m=2 from
    n=1e12), the BIGINT seed (m=1 past ~9.2e12) and, at m=4, DECIMAL(38,0)
    itself (n * 10^24 = 1e38)."""
    from debezium_spark.functions.text import _exact_root_pow_q

    ns = [0, 1, 10**6, 10**12, 9_223_372_036_855, 10**14 - 1, 10**14]
    # perfect powers sit exactly on a rounding boundary
    ns += [t**m for t in (7, int(10 ** (14 / m)) - 1)]
    df = spark.createDataFrame([(n,) for n in ns], "n long")
    got = {
        r["n"]: r["q"]
        for r in df.select("n", _exact_root_pow_q(F.col("n"), m).alias("q")).collect()
    }

    def py_root_q(n):  # floor(n^(1/m) * 1e6) by pure integer search
        lo, hi = 0, 10**21
        while lo < hi:
            mid = (lo + hi + 1) // 2
            if mid**m <= n * 10 ** (6 * m):
                lo = mid
            else:
                hi = mid - 1
        return lo

    for n in ns:
        assert got[n] == py_root_q(n), (m, n)


def test_unimax_water_filling_laws(spark, docs):
    """Budget conserved up to division remainder, caps honored, uncapped
    groups share equally, and a lavish budget caps everyone."""
    out = X.unimax_weights(docs, budget_tokens=45000, max_epochs=2).collect()
    alloc = {r["group"]: r for r in out}
    assert all(r["alloc_tokens"] <= r["cap_tokens"] for r in out)
    uncapped = [r["alloc_tokens"] for r in out if r["alloc_tokens"] < r["cap_tokens"]]
    assert len(set(uncapped)) <= 1  # water level: equal shares
    total = sum(r["alloc_tokens"] for r in out)
    n_uncapped = sum(1 for r in out if r["alloc_tokens"] < r["cap_tokens"])
    # integer-division remainder only: short by < number of uncapped groups
    assert total <= 45000 and 45000 - total < max(1, n_uncapped)
    # lavish budget: everyone capped at max_epochs
    big = X.unimax_weights(docs, budget_tokens=10**9, max_epochs=2).collect()
    for r in big:
        assert r["alloc_tokens"] == r["cap_tokens"]
        assert r["epochs_ppm"] == 2_000_000
    # starvation: nobody capped, equal integer shares
    tiny = X.unimax_weights(docs, budget_tokens=100, max_epochs=2).collect()
    assert {r["alloc_tokens"] for r in tiny} == {100 // len(tiny)}


def test_sq_encode_topk_matches_numpy(spark, vecs):
    """SQ8: codes in range, query finds itself at distance 0, and the
    Spark top-k equals a numpy recomputation on the same grid."""
    from debezium_spark.functions.similarity import (
        sq_encode,
        sq_params_from_head,
        sq_topk,
    )

    mins, steps = sq_params_from_head(vecs, head=256)
    enc = sq_encode(vecs, mins, steps).select("vec_id", "sq_code").collect()
    for r in enc[:50]:
        assert all(0 <= c <= 255 for c in r["sq_code"])
    query = [float(x) for x in vecs.where("vec_id = 0").first()["embedding"]]
    out = sq_topk(vecs, query, mins, steps, k=10).collect()
    assert out[0]["id"] == 0 and out[0]["dist_sq"] == 0
    # numpy oracle on the identical grid
    qc = np.array(
        [max(0, min(255, int(np.floor((query[d] - mins[d]) / steps[d] + 0.5))))
         for d in range(len(query))], dtype=np.int64)
    rows = vecs.select("vec_id", "embedding").collect()
    dists = []
    for r in rows:
        c = np.array(
            [max(0, min(255, int(np.floor((float(v) - mins[d]) / steps[d] + 0.5))))
             for d, v in enumerate(r["embedding"])], dtype=np.int64)
        dists.append((int(((qc - c) ** 2).sum()), r["vec_id"]))
    expect = sorted(dists)[:10]
    assert [(d, i) for d, i in expect] == [(r["dist_sq"], r["id"]) for r in out]


def test_unigram_nll_laws(spark):
    """Rarer tokens raise the score; identical docs tie; score equals the
    hand-computed fixed-point quantized sum (exact integer binary log — no
    transcendental in the gated value) and tracks the true ln within the
    documented quantization bias; empty docs score 0."""
    import math

    from debezium_spark.functions.text import _LN2_PPM, fixed_log2_py

    rows = [
        (1, "common common common common"),
        (2, "common common common rare"),
        (3, "common common common rare"),
        (4, ""),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["id"]: r for r in X.unigram_nll(df).collect()}
    assert out[2]["nll_ppm"] == out[3]["nll_ppm"] > out[1]["nll_ppm"]
    assert out[4]["n_tokens"] == 0 and out[4]["nll_ppm"] == 0
    # hand check: doc1 4x common, doc2/3: 3 common + 1 rare each
    # => c(common)=10, c(rare)=2, N=12, V=2, alpha=1, D=14
    q = lambda c: ((fixed_log2_py(14) - fixed_log2_py(c)) * _LN2_PPM) >> 16  # noqa: E731
    assert out[1]["nll_ppm"] == 4 * q(11)
    assert out[2]["nll_ppm"] == 3 * q(11) + q(3)
    assert out[2]["avg_nll_ppm"] == (3 * q(11) + q(3)) // 4
    # quantization tracks the true -ln within the documented ~1e-4 relative
    for c in (3, 11):
        true_ppm = -math.log(c / 14) * 1e6
        assert abs(q(c) - true_ppm) <= max(2e-4 * true_ppm, 25)
    # the exponent/boundary cases: exact powers of two, where a 1-ulp libm
    # log used to threaten the floor boundary, are now exact by construction
    for x in (1, 2, 4, 1 << 20, 1 << 40):
        assert fixed_log2_py(x) == (x.bit_length() - 1) << 16


def test_windowed_topk_ranks_per_window(spark):
    """Top-k per tumbling window: counts, ordering, tie by type name."""
    from debezium_spark.streaming.windows import windowed_topk

    rows = []
    eid = 0
    for h, spec in [(0, {"a": 3, "b": 2, "c": 1, "d": 1}), (1, {"b": 5, "a": 1})]:
        for t, n in spec.items():
            for i in range(n):
                rows.append((eid, f"2024-01-01 {h:02d}:{i:02d}:00", t))
                eid += 1
    df = spark.createDataFrame(
        rows, "event_id long, ts_s string, event_type string"
    ).withColumn("ts", F.to_timestamp("ts_s")).drop("ts_s")
    out = windowed_topk(df, window_duration="1 hour", k=2).collect()
    by_w = {}
    for r in out:
        by_w.setdefault(r["window_start_us"], []).append((r["rank"], r["type"], r["n"]))
    w0, w1 = sorted(by_w)
    assert sorted(by_w[w0]) == [(1, "a", 3), (2, "b", 2)]
    assert sorted(by_w[w1]) == [(1, "b", 5), (2, "a", 1)]
    assert w1 - w0 == 3_600_000_000


def test_cms_null_values_excluded_not_underestimated(spark):
    """Review regression: NULL values must be EXCLUDED (COUNT(col)
    semantics), never silently estimated as 0 via an unmatched NULL
    bucket — and NULL cells must not pollute the cell table."""
    from debezium_spark.functions import sketches as SK

    df = spark.createDataFrame([("a",), (None,), ("b",), ("a",)], "v string")
    cms = SK.cms_table(df, "v", depth=2, width=16)
    # no NULL buckets in the cell table
    assert cms.where("bucket IS NULL OR row IS NULL").count() == 0
    est = SK.cms_estimate(cms, df.select("v").distinct(), "v", depth=2, width=16)
    rows = {r["value"]: r["est_n"] for r in est.collect()}
    assert None not in rows  # NULL probes dropped, not returned as 0
    assert rows["a"] >= 2 and rows["b"] >= 1  # never-underestimate holds


def test_kmeans_separable_blobs_and_determinism(spark):
    """Exact k-means: separable blobs cluster purely, assignment is
    bit-deterministic across partitionings, empty clusters keep their
    centroid, and iterations=0 assigns against the raw head init."""
    from debezium_spark.functions.similarity import kmeans_assign, kmeans_fit

    rows = []
    # 3 tight blobs far apart in 4-d; ids interleaved so head init (k=3)
    # picks one seed per blob (ids 0,1,2 are one point of each blob)
    for i in range(90):
        blob = i % 3
        base = [0.0, 0.0, 0.0, 0.0]
        base[blob] = 10.0 * (blob + 1)
        jitter = [(0.01 * ((i * 7 + d) % 5)) for d in range(4)]
        rows.append((i, [b + j for b, j in zip(base, jitter)]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cents = kmeans_fit(df, k=3, iterations=3)
    out = {r["id"]: r["cluster"] for r in kmeans_assign(df, cents).collect()}
    for i, _ in rows:
        assert out[i] == out[i % 3]  # blob purity
    assert len({out[0], out[1], out[2]}) == 3
    # determinism across partitioning
    cents2 = kmeans_fit(df.repartition(13), k=3, iterations=3)
    assert cents == cents2
    # iterations=0: assignment against raw quantized head vectors
    cents0 = kmeans_fit(df, k=3, iterations=0)
    exp0 = [[int(np.floor(v * 10**6 + 0.5)) for v in rows[i][1]] for i in range(3)]
    assert cents0 == exp0
    # empty-cluster fallback: k=4 head init where the 4th seed (id 3, a
    # blob-0 point) loses all members after one update still yields 4
    # centroids and a total assignment
    cents4 = kmeans_fit(df, k=4, iterations=3)
    assert len(cents4) == 4
    assert kmeans_assign(df, cents4).count() == 90


def test_value_histogram_exact_bins(spark):
    """Histogram: truncating-division binning, exact counts, occupied bins only."""
    from debezium_spark.streaming.windows import value_histogram

    rows = [(1, "a", 0.0), (2, "a", 9.99), (3, "a", 10.0), (4, "a", 24.99),
            (5, "a", 25.0), (6, "b", 25.01)]
    df = spark.createDataFrame(rows, "event_id long, event_type string, value double")
    out = {
        (r["event_type"], r["bin"]): (r["bin_lo_fp"], r["n"])
        for r in value_histogram(
            df, group_cols=("event_type",), bin_width=25.0, value_scale=100
        ).collect()
    }
    # cents: 0, 999, 1000, 2499 -> bin 0; 2500 -> bin 1
    assert out[("a", 0)] == (0, 4)
    assert out[("a", 1)] == (2500, 1)
    assert out[("b", 1)] == (2500, 1)
    assert len(out) == 3
