"""Training-data pipeline operators: dedup, similarity, text analysis,
multimodal plumbing."""

import pytest
from pyspark.sql import functions as F

from validify_spark.pipeline import (
    cosine_self_pairs, cosine_topk, exact_duplicates, fingerprint,
    jaccard_pairs, lang_id, lsh_ann_topk, minhash_lsh_pairs,
    quality_score, simhash_pairs, token_stats, word_shingles,
)
from validify_spark.pipeline.multimodal import (
    attach_fake_blob, decode_media, extract_features, frame_sample_plan,
)

DOCS = [
    (0, "the quick brown fox jumps over the lazy dog"),
    (1, "the quick brown fox jumps over the lazy cat"),   # near-dup of 0
    (2, "completely different text about spark engines"),
    (3, "THE  QUICK brown fox jumps over the lazy dog "),  # exact dup of 0 (normalized)
    (4, "lorem ipsum dolor sit amet consectetur adipiscing"),
]


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(DOCS, "doc_id long, text string")


def test_exact_duplicates(docs):
    got = {(r["doc_id"], r["canonical_id"])
           for r in exact_duplicates(docs).collect()}
    assert got == {(0, 0), (3, 0)}


def test_word_shingles(docs):
    sh = word_shingles(docs.filter("doc_id = 0"), n=3).collect()
    shingles = {r["shingle"] for r in sh}
    assert "the quick brown" in shingles
    assert len(shingles) == 7  # 9 words -> 7 trigrams, all distinct


def test_jaccard_pairs(docs):
    pairs = {(r["id_a"], r["id_b"]): r["jaccard"]
             for r in jaccard_pairs(docs, n=3, threshold=0.3).collect()}
    assert (0, 3) in pairs and pairs[(0, 3)] == 1.0  # normalized dup
    assert (0, 1) in pairs and 0.3 < pairs[(0, 1)] < 1.0
    assert (0, 2) not in pairs


def test_minhash_lsh_finds_near_dups(docs):
    pairs = {(r["id_a"], r["id_b"])
             for r in minhash_lsh_pairs(docs, n=3, threshold=0.3,
                                        num_perm=16, bands=8).collect()}
    assert (0, 3) in pairs
    assert (0, 1) in pairs


def test_simhash_pairs(docs):
    pairs = {(r["id_a"], r["id_b"]): r["hamming"]
             for r in simhash_pairs(docs, max_hamming=10).collect()}
    assert (0, 3) in pairs and pairs[(0, 3)] == 0  # same token set
    if (0, 1) in pairs:
        assert pairs[(0, 1)] > 0
    assert (2, 4) not in pairs


def test_cosine_topk_exact(spark):
    corpus = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.9, 0.1]), (3, [0.0, 1.0]),
         (4, [-1.0, 0.0])],
        "vec_id long, embedding array<float>")
    queries = spark.createDataFrame([(100, [1.0, 0.0])],
                                    "query_id long, embedding array<float>")
    got = [(r["vec_id"], r["rank"]) for r in
           cosine_topk(corpus, queries, k=2).orderBy("rank").collect()]
    assert got == [(1, 1), (2, 2)]


def test_lsh_ann_matches_exact_topk_mostly(spark):
    import random
    rng = random.Random(7)
    corpus = spark.createDataFrame(
        [(i, [rng.gauss(0, 1) for _ in range(16)]) for i in range(300)],
        "vec_id long, embedding array<float>")
    queries = corpus.limit(3).selectExpr("vec_id as query_id", "embedding")
    exact = cosine_topk(corpus, queries, k=5, id_col="vec_id")
    approx = lsh_ann_topk(corpus, queries, k=5, dim=16, n_planes=4,
                          n_tables=6)
    e = {(r["query_id"], r["vec_id"]) for r in exact.collect()}
    a = {(r["query_id"], r["vec_id"]) for r in approx.collect()}
    # each query must at least find itself, and recall should be decent
    recall = len(e & a) / len(e)
    assert recall >= 0.5, f"ANN recall too low: {recall}"


def test_cosine_self_pairs_exact(spark):
    corpus = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.999, 0.01]), (3, [0.0, 1.0])],
        "vec_id long, embedding array<float>")
    got = {(r["id_a"], r["id_b"])
           for r in cosine_self_pairs(corpus, threshold=0.99,
                                      exact=True).collect()}
    assert got == {(1, 2)}


def test_token_stats(docs):
    row = {r["doc_id"]: r for r in token_stats(docs).collect()}
    assert row[0]["n_tokens"] == 9
    assert row[0]["n_distinct_tokens"] == 8  # 'the' twice
    assert row[0]["n_chars"] == len(DOCS[0][1])


def test_quality_score_monotone(spark):
    df = spark.createDataFrame(
        [(1, "the cat sat on the mat and it was a good day for all of us"),
         (2, "x x x x x x x x x x x x x x x")],
        "doc_id long, text string")
    q = {r["doc_id"]: r["quality"] for r in quality_score(df).collect()}
    assert q[1] > q[2]


def test_lang_id(spark):
    df = spark.createDataFrame(
        [(1, "the cat and the dog in the house"),
         (2, "der Hund und die Katze ist nicht im Haus"),
         (3, "le chat et le chien dans la maison"),
         (4, "el gato y el perro en la casa"),
         (5, "这是一个中文句子"),
         (6, "zzz qqq www")],
        "doc_id long, text string")
    got = {r["doc_id"]: r["pred_lang"] for r in lang_id(df).collect()}
    assert got == {1: "en", 2: "de", 3: "fr", 4: "es", 5: "zh", 6: "und"}


def test_fingerprint_stability(docs):
    fp = {r["doc_id"]: (r["content_hash"], r["shingle_fingerprint"])
          for r in fingerprint(docs).collect()}
    assert fp[0][0] == fp[3][0]   # normalized identity
    assert fp[0][1] == fp[3][1]
    assert fp[0][0] != fp[2][0]


def test_multimodal_plumbing(docs):
    with_blob = attach_fake_blob(docs)
    dec = {r["doc_id"]: r for r in decode_media(with_blob).collect()}
    assert len(dec) == 5
    assert dec[0]["width"] >= 16 and dec[0]["checksum"] is not None
    # determinism: same text -> same checksum
    assert dec[0]["checksum"] != dec[2]["checksum"]

    feats = extract_features(with_blob).collect()
    assert all(len(r["features"]) == 16 for r in feats)

    # strict mode raises (no codec in container)
    with pytest.raises(NotImplementedError):
        decode_media(with_blob, strict=True)


def test_frame_sample_plan(spark):
    df = spark.createDataFrame(
        [(1, ("video", "fake", None, None, 3500, 0))],
        "doc_id long, media_meta struct<media_type:string,format:string,"
        "width:int,height:int,duration_ms:int,n_bytes:long>")
    frames = [r["frame_ms"] for r in
              frame_sample_plan(df, every_ms=1000).collect()]
    assert frames == [0, 1000, 2000, 3000]


def test_short_docs_no_shingle_crash(spark):
    # docs with fewer than n whitespace tokens must yield zero shingles,
    # not a sequence(1,0)/slice(0) SparkRuntimeException (ADVICE r1)
    from validify_spark.pipeline.dedup import (
        jaccard_pairs, minhash_signatures, word_shingles)
    from validify_spark.pipeline.text import fingerprint
    d = spark.createDataFrame(
        [(1, "one two"), (2, ""), (3, None), (4, "a b c d")],
        "doc_id int, text string")
    assert word_shingles(d, n=3).count() == 2  # only doc 4
    sigs = {r["doc_id"]: r["h0"] for r in
            minhash_signatures(d, n=3, num_perm=1).collect()}
    # shingle-less docs produce no signature row (matches the SQL
    # oracle: GROUP BY over zero shingle rows)
    assert set(sigs) == {4} and sigs[4] is not None
    assert jaccard_pairs(d, n=3, threshold=0.1).count() == 0
    fps = {r["doc_id"]: r["shingle_fingerprint"]
           for r in fingerprint(d, n=3).collect()}
    assert fps[1] is None and fps[4] is not None


def test_ann_recall_harness(spark):
    # ann_recall_at_k measures recall of the LSH path against the exact
    # baseline; on the real embeddings table with suitably scaled
    # planes, recall@5 must be >= 0.9 (VERDICT r1 #9)
    import os
    from validify_spark.pipeline import ann_recall_at_k, n_planes_for
    sf = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")
    emb = spark.read.parquet(f"{sf}/embeddings.parquet")
    n = emb.count()
    queries = (emb.filter("vec_id < 5")
               .selectExpr("vec_id AS query_id", "embedding"))
    rows = ann_recall_at_k(
        emb, queries, k=5, dim=64,
        n_planes=n_planes_for(n, target_bucket=64),
        n_tables=8).collect()
    mean_recall = sum(r["recall_at_k"] for r in rows) / len(rows)
    assert mean_recall >= 0.9, f"recall {mean_recall} < 0.9"


def test_n_planes_for_scaling():
    from validify_spark.pipeline import n_planes_for
    assert n_planes_for(100, 256) == 1
    assert n_planes_for(1 << 20, 256) == 12
    assert n_planes_for(10 ** 9, 256) == 22


def test_resize_media_stub(spark, docs):
    from validify_spark.pipeline.multimodal import (attach_fake_blob,
                                                    resize_media)
    import hashlib
    with_blob = attach_fake_blob(docs)
    out = {r["doc_id"]: r for r in
           resize_media(with_blob, 32, 24).collect()}
    assert out[0]["width"] == 32 and out[0]["height"] == 24
    want = hashlib.md5(
        (hashlib.md5(DOCS[0][1].encode()).hexdigest() + "-32x24")
        .encode()).hexdigest()
    assert out[0]["resized_checksum"] == want
    with pytest.raises(NotImplementedError):
        resize_media(with_blob, 32, 24, strict=True)


def test_cosine_self_pairs_lsh_mode(spark):
    # identical vectors share every hyperplane bucket deterministically,
    # so LSH mode must find exactly the same pairs as the exact path
    import random
    rng = random.Random(3)
    base = [[rng.gauss(0, 1) for _ in range(16)] for _ in range(5)]
    rows = [(i * 10 + j, base[i]) for i in range(5) for j in range(3)]
    corpus = spark.createDataFrame(rows,
                                   "vec_id long, embedding array<float>")
    kw = dict(threshold=0.999, dim=16, n_planes=4, n_tables=4)
    exact = {(r["id_a"], r["id_b"])
             for r in cosine_self_pairs(corpus, exact=True,
                                        **kw).collect()}
    lsh = {(r["id_a"], r["id_b"])
           for r in cosine_self_pairs(corpus, exact=False,
                                      **kw).collect()}
    assert exact == lsh
    assert len(exact) == 5 * 3  # 3 pairs per 3-clone cluster


def test_decontaminate(spark):
    from validify_spark.pipeline import decontaminate
    docs = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta"),   # hits bench 3-grams
         (2, "totally unrelated words here friend"),   # clean
         (3, "alpha beta gamma something else here"),  # one 3-gram hit
         (4, "too short")],                            # < n words: never flagged
        "doc_id long, text string")
    bench = spark.createDataFrame(
        [(100, "alpha beta gamma delta epsilon")],
        "doc_id long, text string")
    got = {r["doc_id"]: r for r in
           decontaminate(docs, bench, n=3).collect()}
    assert set(got) == {1, 3}
    # doc 1: 4 shingles, 3 of them ('alpha beta gamma', 'beta gamma
    # delta', 'gamma delta epsilon') in the bench set
    assert (got[1]["n_matched"], got[1]["n_shingles"]) == (3, 4)
    assert got[1]["contamination_ppm"] == 750000
    assert (got[3]["n_matched"], got[3]["n_shingles"]) == (1, 4)
    assert got[3]["sample_shingle"] == "alpha beta gamma"
    # min_hits raises the bar: doc 3's single hit no longer qualifies
    assert {r["doc_id"] for r in
            decontaminate(docs, bench, n=3, min_hits=2).collect()} == {1}
    # clean-corpus composition via left_anti
    clean = docs.join(decontaminate(docs, bench, n=3),
                      "doc_id", "left_anti")
    assert {r["doc_id"] for r in clean.collect()} == {2, 4}


def test_ivf_ann_recall_and_exact_degenerate(spark, monkeypatch):
    import os
    from validify_spark.pipeline import cosine_topk, ivf_ann_topk
    sf = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")
    emb = spark.read.parquet(f"{sf}/embeddings.parquet")

    def boom(*a, **k):
        raise AssertionError("the centroid frame started a Python worker")

    monkeypatch.setattr(type(spark), "createDataFrame", boom)
    queries = (emb.filter("vec_id < 5")
               .selectExpr("vec_id AS query_id", "embedding"))
    exact = {(r["query_id"], r["vec_id"]) for r in
             cosine_topk(emb, queries, k=5).collect()}
    approx = {(r["query_id"], r["vec_id"]) for r in
              ivf_ann_topk(emb, queries, k=5, n_clusters=8,
                           n_probe=4).collect()}
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.9, f"IVF recall {recall} < 0.9"
    # n_probe == n_clusters probes every cell → EXACTLY the brute-force
    # result (same cosine expression, same top-k reduce)
    allcells = {(r["query_id"], r["vec_id"], r["cosine"], r["rank"])
                for r in ivf_ann_topk(emb, queries, k=5, n_clusters=4,
                                      n_probe=4).collect()}
    exact_full = {(r["query_id"], r["vec_id"], r["cosine"], r["rank"])
                  for r in cosine_topk(emb, queries, k=5).collect()}
    assert allcells == exact_full
