"""Dedup / similarity / text / multimodal operator semantics."""

import math

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from det_module_spark.operators.dedup import (
    exact_dedup,
    minhash_lsh_pairs,
    minhash_signatures,
    ngram_jaccard_pairs,
    simhash,
)
from det_module_spark.operators.multimodal import (
    decode_features,
    frame_sample_plan,
    media_from_documents,
)
from det_module_spark.operators.similarity import cosine_topk, lsh_topk
from det_module_spark.operators.text import (
    doc_fingerprint,
    lang_id,
    quality_features,
    word_shingles,
)

DOCS = [
    (0, "the quick brown fox jumps over the lazy dog"),
    (1, "the quick brown fox jumps over the lazy cat"),  # near-dup of 0
    (2, "completely different words about spark engines here"),
    (3, "dog lazy the over jumps fox brown quick the"),  # same bag as 0
    (4, "der hund ist nicht mit der katze und das haus"),  # German
]


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(
        [Row(doc_id=i, text=t) for i, t in DOCS]
    )


def test_exact_dedup_groups(spark):
    df = spark.createDataFrame(
        [Row(doc_id=i, text=t) for i, t in [(0, "aaa"), (1, "bbb"), (2, "aaa")]]
    )
    out = {r["keep_id"]: r["n_dups"] for r in exact_dedup(df, F.md5("text")).collect()}
    assert out == {0: 2, 1: 1}


def test_word_shingles(docs):
    sh = word_shingles(docs.filter("doc_id = 0"), n=3).collect()
    grams = {r["shingle"] for r in sh}
    assert "the quick brown" in grams and "the lazy dog" in grams
    # 9 tokens -> 7 trigrams, all distinct here
    assert len(grams) == 7


def test_ngram_jaccard_finds_near_dup(docs):
    pairs = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(docs, threshold=0.3).collect()
    }
    # docs 0/1 share 6 of 8 distinct trigrams -> jaccard 0.75
    assert math.isclose(pairs[(0, 1)], 6 / 8)
    assert all(a == 0 and b == 1 for (a, b) in pairs)


def test_minhash_lsh_recalls_near_dup(docs):
    sigs = minhash_signatures(docs, num_hashes=16)
    pairs = {
        (r["id_a"], r["id_b"]) for r in minhash_lsh_pairs(sigs, bands=8, rows=2).collect()
    }
    assert (0, 1) in pairs  # 0.75 jaccard must survive 8x2 banding
    assert (2, 4) not in pairs  # nothing shared


def test_minhash_signature_stability(docs):
    a = minhash_signatures(docs, num_hashes=8).orderBy("doc_id").collect()
    b = minhash_signatures(docs.repartition(7), num_hashes=8).orderBy("doc_id").collect()
    assert a == b  # partitioning-independent


def test_simhash_near_dup_distance(docs):
    sig = {r["doc_id"]: r["simhash"] for r in simhash(docs, bits=16).collect()}
    pairs = {
        (a, b): bin(sig[a] ^ sig[b]).count("1")
        for a in sig
        for b in sig
        if a < b
    }
    # near-dup pair is closer than unrelated pair
    assert pairs[(0, 1)] < pairs[(2, 4)]
    # identical bag of words (docs 0,3: same tokens, re-ordered,
    # multiset differs by one 'the') stays very close
    assert pairs[(0, 3)] <= 2


def test_quality_features(docs):
    row = (
        quality_features(docs.filter("doc_id = 0")).collect()[0]
    )
    assert row["q_n_tokens"] == 9
    assert row["q_n_chars"] == len(DOCS[0][1])
    assert math.isclose(row["q_stopword_ratio"], 2 / 9)  # 'the' twice
    assert math.isclose(row["q_distinct_ratio"], 8 / 9)


def test_lang_id(docs):
    preds = {r["doc_id"]: r["lang_pred"] for r in lang_id(docs).collect()}
    assert preds[0] == "en"
    assert preds[4] == "de"


def test_doc_fingerprint_order_insensitive(docs):
    fps = {r["doc_id"]: r["fingerprint"] for r in doc_fingerprint(docs).collect()}
    assert fps[0] == fps[3]  # same token set, different order
    assert fps[0] != fps[1]


def test_cosine_topk_exact(spark):
    rows = [
        Row(vec_id=0, embedding=[1.0, 0.0, 0.0]),
        Row(vec_id=1, embedding=[0.9, 0.1, 0.0]),
        Row(vec_id=2, embedding=[0.0, 1.0, 0.0]),
        Row(vec_id=3, embedding=[0.0, 0.0, 1.0]),
    ]
    df = spark.createDataFrame(rows)
    out = cosine_topk(df.filter("vec_id = 0"), df, k=2).collect()
    assert [r["neighbor_id"] for r in out] == [1, 2]
    assert out[0]["rank"] == 1
    assert math.isclose(out[0]["cos"], 0.9 / math.sqrt(0.82), rel_tol=1e-9)


def test_lsh_topk_recall(spark, sf_dir):
    from det_module_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    exact = cosine_topk(queries, emb, k=3).collect()
    approx = lsh_topk(queries, emb, k=3, n_planes=4, n_tables=8).collect()
    exact_set = {(r["query_id"], r["neighbor_id"]) for r in exact}
    approx_set = {(r["query_id"], r["neighbor_id"]) for r in approx}
    recall = len(exact_set & approx_set) / len(exact_set)
    # 8 tables x 4 planes: OR-amplified recall; must beat random chance
    # by a wide margin (random candidate sets would recall ~tables/16)
    assert recall >= 0.5, f"LSH recall {recall} too low"


def test_multimodal_decode_and_frames(spark):
    docs = spark.createDataFrame(
        [Row(doc_id=i, text=t, lang="en", source="s", n_chars=len(t)) for i, t in DOCS]
    )
    media = media_from_documents(docs)
    assert media.schema["content"].dataType.typeName() == "binary"
    dec = {r["media_id"]: r for r in decode_features(media).collect()}
    assert dec[0]["n_bytes"] == len(DOCS[0][1])
    assert len(dec[0]["feature"]) == 8
    import hashlib

    assert dec[0]["content_md5"] == hashlib.md5(DOCS[0][1].encode()).hexdigest()
    # frame sampling: one media row is 'video' (doc_id % 3 == 2)
    frames = frame_sample_plan(media, every_ms=100).collect()
    vids = {r["media_id"] for r in frames}
    assert vids == {2}
    n = len([r for r in frames if r["media_id"] == 2])
    assert n == (len(DOCS[2][1]) * 10) // 100 + 1


def test_inverted_index_tiny(spark):
    from det_module_spark.operators.text import build_inverted_index

    docs = spark.createDataFrame(
        [(2, "b a"), (1, "a b a"), (3, "c")], "doc_id long, text string"
    )
    idx = {r.term: r for r in build_inverted_index(docs).collect()}
    assert list(idx["a"].postings) == [1, 2] and idx["a"].doc_freq == 2
    assert list(idx["b"].postings) == [1, 2]
    assert list(idx["c"].postings) == [3] and idx["c"].doc_freq == 1


def test_unigram_logprob_ranks_rare_lower(spark):
    import math

    from det_module_spark.operators.text import unigram_logprob

    docs = spark.createDataFrame(
        [(1, "x x x x"), (2, "x x x q")], "doc_id long, text string"
    )
    out = {r.doc_id: r for r in unigram_logprob(docs).collect()}
    # corpus: x appears 7 times, q once, total 8
    assert math.isclose(out[1].mean_logprob, math.log(7 / 8))
    expect2 = (3 * math.log(7 / 8) + math.log(1 / 8)) / 4
    assert math.isclose(out[2].mean_logprob, expect2)
    assert out[2].mean_logprob < out[1].mean_logprob


def test_semantic_dedup_drop_rule(spark, sf_dir):
    """SemDeDup contract: a vector is dropped iff some LOWER-id vector
    in its k-means cell has cosine >= threshold with it (lowest id in
    each near-dup group survives)."""
    from det_module_spark.operators.similarity import (
        cosine_with_norms,
        _norm,
        ivf_assign,
        ivf_fit_centroids,
        semantic_dedup,
    )

    from det_module_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    thr = 0.4
    kept = semantic_dedup(emb, n_cells=16, threshold=thr)
    kept_ids = {r["vec_id"] for r in kept.collect()}
    all_ids = {r["vec_id"] for r in emb.select("vec_id").collect()}
    assert kept_ids <= all_ids and len(kept_ids) < len(all_ids)

    # recompute cells + all within-cell pairs with exact cosine
    S = ivf_fit_centroids(emb, k=16)
    assigned = ivf_assign(emb, S, "vec_id", "vec_id", "embedding").select(
        "vec_id", F.col("vec_id_v").alias("v"),
        F.col("vec_id_n").alias("n"), "cell"
    )
    a = assigned.select("cell", F.col("vec_id").alias("ia"),
                        F.col("v").alias("va"), F.col("n").alias("na"))
    b = assigned.select("cell", F.col("vec_id").alias("ib"),
                        F.col("v").alias("vb"), F.col("n").alias("nb"))
    pairs = (
        a.join(b, "cell")
        .filter(F.col("ia") < F.col("ib"))
        .withColumn("cos", cosine_with_norms(
            F.col("va"), F.col("vb"), F.col("na"), F.col("nb")))
        .select("ib", "cos")
    )
    has_lower_dup = {
        r["ib"] for r in pairs.filter(F.col("cos") >= thr).collect()
    }
    assert all_ids - kept_ids == has_lower_dup


def test_pq_topk_rerank_recall(spark, sf_dir):
    """PQ with ADC shortlist + exact re-rank: codes are valid, the
    returned d2 is the true quantized L2, and recall vs exact top-5
    clears a floor. (The synthetic embeddings are near-uniform — no
    cluster structure — so the ADC shortlist is the recall limiter;
    clustered real corpora do much better at the same settings.)"""
    import numpy as np

    from det_module_spark.operators.similarity import (
        pq_encode,
        pq_fit,
        pq_topk,
        quantize_batch,
    )
    from det_module_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    books = pq_fit(emb, m=8, k=16)
    S, n = books
    assert S.shape == (8, 16, 8) and n.shape == (8, 16)
    codes = pq_encode(emb, books).collect()
    assert all(
        len(r["codes"]) == 8 and all(0 <= c < 16 for c in r["codes"])
        for r in codes
    )

    out = pq_topk(
        emb.filter(F.col("vec_id") < 10), emb, books, topk=5, shortlist=50
    ).collect()
    rows = sorted(emb.collect(), key=lambda r: r["vec_id"])
    Q = quantize_batch(np.stack([np.array(r["embedding"]) for r in rows]))
    ids = [r["vec_id"] for r in rows]
    pos = {v: i for i, v in enumerate(ids)}
    got = {}
    for r in out:
        got.setdefault(r["query_id"], []).append(r)
        # returned d2 is the exact integer L2 of quantized vectors
        d = Q[pos[r["query_id"]]] - Q[pos[r["neighbor_id"]]]
        assert r["d2"] == int((d * d).sum())
    recalls = []
    for qid, rs in got.items():
        d2 = ((Q - Q[pos[qid]]) ** 2).sum(axis=1).astype(float)
        d2[pos[qid]] = np.inf
        exact5 = {ids[i] for i in np.argsort(d2, kind="stable")[:5]}
        recalls.append(
            len(exact5 & {r["neighbor_id"] for r in rs}) / 5
        )
    assert sum(recalls) / len(recalls) >= 0.4
