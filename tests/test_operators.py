"""Tests for dedup / similarity / textstats / sampling / url operators.

Approximate methods (MinHash-LSH, SimHash, hyperplane LSH) are verified
against their exact counterparts on corpora with planted near-duplicates.
"""

import random

import pytest
from pyspark.sql import functions as F

from trident_spark.operators import dedup, similarity, textstats

VOCAB = ("spark shuffle partition join hash sort merge scan filter agg "
         "window broadcast skew salt codegen arrow batch column row "
         "parquet iceberg stream state watermark trigger").split()


def _mk_docs(spark, n=60, seed=3):
    """Docs with planted near-duplicate pairs: doc 3k+1 is a light edit of
    doc 3k; doc 3k+2 is unrelated."""
    rng = random.Random(seed)
    rows = []
    i = 0
    while len(rows) < n:
        base = [rng.choice(VOCAB) for _ in range(40)]
        rows.append((i, " ".join(base)))
        edited = list(base)
        edited[5] = rng.choice(VOCAB)
        edited[17] = rng.choice(VOCAB)
        rows.append((i + 1, " ".join(edited)))
        rows.append((i + 2, " ".join(rng.choice(VOCAB) for _ in range(40))))
        i += 3
    return spark.createDataFrame(rows[:n], "doc_id long, text string")


@pytest.fixture(scope="module")
def docs_sf0001(spark):
    return spark.read.parquet("/root/testdata/sf0.001/documents.parquet")


@pytest.fixture(scope="module")
def docs(spark):
    return _mk_docs(spark).cache()


def test_exact_dedup(spark):
    df = spark.createDataFrame(
        [(1, "same text"), (2, "same text"), (3, "other")],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r["is_dup"] for r in dedup.exact_dedup(df).collect()}
    assert out == {1: False, 2: True, 3: False}


def test_segment_dedup_keeps_one_copy(spark):
    """A segment shared by 3 docs survives only in the min-id owner;
    order of the kept segments is preserved; singletons untouched."""
    shared = " ".join(f"s{i}" for i in range(20))
    u = lambda k: " ".join(f"u{k}_{i}" for i in range(20))  # noqa: E731
    df = spark.createDataFrame(
        [
            (1, u(1) + " " + shared + " " + u("1b")),
            (2, shared + " " + u(2)),
            (3, u(3) + " " + shared),
            (4, u(4)),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in
           dedup.segment_dedup(df, window=20).collect()}
    assert out[1]["n_segments"] == 3 and out[1]["n_removed"] == 0
    assert out[1]["clean_text"] == u(1) + " " + shared + " " + u("1b")
    assert out[2]["n_segments"] == 2 and out[2]["n_removed"] == 1
    assert out[2]["clean_text"] == u(2)  # shared removed, order kept
    assert out[3]["n_removed"] == 1 and out[3]["clean_text"] == u(3)
    assert out[4]["n_removed"] == 0 and out[4]["clean_text"] == u(4)


def test_segment_dedup_paragraph_mode(spark):
    df = spark.createDataFrame(
        [
            (1, "keep me\n\nSHARED PARA\n\ntail one"),
            (2, "SHARED PARA\n\nunique two"),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in
           dedup.segment_dedup(df, split_re=r"\n{2,}",
                               min_docs=2).collect()}
    assert out[1]["clean_text"] == "keep me\n\nSHARED PARA\n\ntail one"
    assert out[2]["clean_text"] == "unique two"
    assert out[2]["n_segments"] == 2 and out[2]["n_removed"] == 1


def test_segment_dedup_short_doc_single_window(spark):
    # doc shorter than the window is one segment (rule-13 guard exercised)
    df = spark.createDataFrame(
        [(1, "a b c"), (2, "a b c")], "doc_id long, text string")
    out = {r["doc_id"]: r for r in
           dedup.segment_dedup(df, window=20).collect()}
    assert out[1]["clean_text"] == "a b c" and out[1]["n_removed"] == 0
    assert out[2]["clean_text"] == "" and out[2]["n_removed"] == 1


def test_ngram_jaccard_finds_planted_pairs(docs):
    pairs = {(r["a"], r["b"]) for r in
             dedup.ngram_jaccard_pairs(docs, n=3, threshold=0.5).collect()}
    planted = {(i, i + 1) for i in range(0, 60, 3)}
    assert planted <= pairs
    # unrelated docs don't pair at this threshold
    assert all((a % 3, b - a) == (0, 1) for a, b in pairs)


def test_minhash_lsh_recall_vs_exact(docs):
    exact = {(r["a"], r["b"]) for r in
             dedup.ngram_jaccard_pairs(docs, n=3, threshold=0.5).collect()}
    lsh = {(r["a"], r["b"]) for r in
           dedup.minhash_lsh_pairs(docs, n_hashes=96, bands=32,
                                   shingle=3, threshold=0.5).collect()}
    assert lsh <= exact  # verification step kills false positives
    recall = len(lsh & exact) / len(exact)
    assert recall >= 0.95, f"LSH recall {recall}"


def test_minhash_signatures_deterministic(docs):
    s1 = {r["id"]: tuple(r["sig"]) for r in dedup.minhash_signatures(docs).collect()}
    s2 = {r["id"]: tuple(r["sig"]) for r in dedup.minhash_signatures(docs).collect()}
    assert s1 == s2


def test_simhash_pairs(docs):
    pairs = {(r["a"], r["b"]) for r in dedup.simhash_pairs(docs, max_hamming=8).collect()}
    planted = {(i, i + 1) for i in range(0, 60, 3)}
    found = len(pairs & planted) / len(planted)
    assert found >= 0.9, f"simhash found only {found:.2f} of planted pairs"


def _mk_embeddings(spark, n=200, dim=16, seed=5):
    import numpy as np

    rng = np.random.RandomState(seed)
    base = rng.standard_normal((n, dim))
    # plant near-dups: vector i+1 = vector i + tiny noise for i % 10 == 0
    for i in range(0, n - 1, 10):
        base[i + 1] = base[i] + rng.standard_normal(dim) * 0.01
    rows = [(i, [float(x) for x in base[i]]) for i in range(n)]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


@pytest.fixture(scope="module")
def embeddings(spark):
    return _mk_embeddings(spark).cache()


def test_cosine_topk_exact(spark, embeddings):
    query = [r["embedding"] for r in embeddings.where("vec_id = 0").collect()][0]
    top = similarity.cosine_topk(embeddings, [float(x) for x in query], k=3).collect()
    assert top[0]["vec_id"] == 0 and top[0]["score"] == 1.0
    assert top[1]["vec_id"] == 1  # planted near-dup

def test_lsh_topk_contains_true_neighbors(spark, embeddings):
    query = [float(x) for x in
             embeddings.where("vec_id = 0").first()["embedding"]]
    exact = [r["vec_id"] for r in similarity.cosine_topk(embeddings, query, k=5).collect()]
    approx = [r["vec_id"] for r in
              similarity.lsh_bucket_topk(embeddings, query, k=5, n_bits=6,
                                         probes=4).collect()]
    # top-1 (the vector itself) and its planted twin must survive bucketing
    assert exact[0] in approx
    assert exact[1] in approx


def test_embedding_near_dup_pairs(spark, embeddings):
    exact_pairs = {(r["a"], r["b"]) for r in
                   similarity.embedding_near_dup_pairs(
                       embeddings, threshold=0.99, use_lsh=False).collect()}
    planted = {(i, i + 1) for i in range(0, 199, 10)}
    assert planted <= exact_pairs
    lsh_pairs = {(r["a"], r["b"]) for r in
                 similarity.embedding_near_dup_pairs(
                     embeddings, threshold=0.99, use_lsh=True, dim=16,
                     n_bits=4).collect()}
    assert lsh_pairs <= exact_pairs
    assert len(lsh_pairs & planted) / len(planted) >= 0.8


def test_token_count(spark):
    df = spark.createDataFrame([(1, "a bb  ccc")], "doc_id long, text string")
    r = textstats.token_count(df).first()
    assert r["n_tokens"] == 3 and r["n_chars"] == 9 and r["n_subword_est"] == 2


def test_quality_features(spark):
    df = spark.createDataFrame(
        [(1, "The quick brown fox jumps over the lazy dog in the park."),
         (2, "ALL CAPS!!! $$$ ###")],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in textstats.quality_features(df).collect()}
    assert rows[1]["quality_score"] > rows[2]["quality_score"]
    assert rows[1]["stopword_ratio"] > 0


def test_quality_features_multilingual_stopwords(spark):
    """With lang_col, non-English docs gain the stopword component (German
    function words counted with the German list, zero with the English
    one); English rows are byte-identical to the default path."""
    de = ("der hund springt über den faulen hund und das ist was wir "
          "gesagt haben als sie dort waren weil es nicht das gleiche war")
    en = "the quick brown fox jumps over the lazy dog in the park"
    df = spark.createDataFrame(
        [(1, de, "de"), (2, en, "en")],
        "doc_id long, text string, lang string",
    )
    plain = {r["doc_id"]: r for r in
             textstats.quality_features(df).collect()}
    aware = {r["doc_id"]: r for r in
             textstats.quality_features(df, lang_col="lang").collect()}
    # only the DE/EN homograph "was" hits the English list
    assert plain[1]["stopword_ratio"] < 0.05
    assert aware[1]["stopword_ratio"] > 0.3
    assert aware[1]["quality_score"] > plain[1]["quality_score"]
    assert tuple(aware[2]) == tuple(plain[2])  # en path unchanged
    # unknown language falls back to the English list
    fr = spark.createDataFrame([(3, en, "xx")],
                               "doc_id long, text string, lang string")
    fb = textstats.quality_features(fr, lang_col="lang").first()
    assert fb["stopword_ratio"] == plain[2]["stopword_ratio"]


def test_fingerprint_normalizes_whitespace_and_case(spark):
    df = spark.createDataFrame(
        [(1, "Hello   World"), (2, "hello world"), (3, "different")],
        "doc_id long, text string",
    )
    fps = {r["doc_id"]: r["fingerprint"] for r in textstats.fingerprint(df).collect()}
    assert fps[1] == fps[2] != fps[3]


def test_lang_id(spark):
    df = spark.createDataFrame(
        [(1, "the cat is on the mat and it is warm"),
         (2, "der Hund ist nicht mit der Katze und das ist gut"),
         (3, "le chat est dans la maison et il est content"),
         (4, "el perro es grande y la casa es pequeña en la ciudad"),
         (5, "这是一个中文句子用来测试语言识别功能")],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r["predicted_lang"] for r in textstats.lang_id(df).collect()}
    assert out == {1: "en", 2: "de", 3: "fr", 4: "es", 5: "zh"}


def test_lang_id_accuracy_on_held_out_sentences():
    """Held-out sentences (not in the embedded seed corpora) across all 11
    supported languages: accuracy must be ≥0.9."""
    from trident_spark.operators.textstats import _classify

    cases = {
        "en": ["we should know more about what they said there",
               "it would have been the same for all of them"],
        "de": ["ich habe über diese dinge nicht gesprochen weil es gut war",
               "sie waren dort und wir haben das gleiche gesagt"],
        "fr": ["nous avons dit que ce n'était pas la même chose",
               "il y a plus d'une façon de faire les choses"],
        "es": ["esto es lo que dijimos cuando estaban allí",
               "hay más de una manera de hacer estas cosas"],
        "pt": ["isto é o que dissemos quando eles estavam lá",
               "você deveria saber sobre essas coisas agora"],
        "it": ["questo è quello che abbiamo detto quando erano lì",
               "c'è più di un modo per fare queste cose"],
        "nl": ["dit is wat we zeiden toen ze daar waren",
               "er is meer dan één manier om het te doen"],
        "zh": ["这是一个中文句子用来测试语言识别功能"],
        "ja": ["これは日本語のテスト文です、言語識別のために"],
        "ko": ["이것은 언어 식별을 위한 한국어 테스트 문장입니다"],
        "ru": ["это русское предложение для проверки определения языка"],
    }
    ok = tot = 0
    for lang, sents in cases.items():
        for s in sents:
            tot += 1
            ok += _classify(s) == lang
    assert ok / tot >= 0.9, f"accuracy {ok}/{tot}"


def test_lang_id_on_driver_corpus_is_english(spark):
    """The driver corpus' text is English-like SQL keywords under every
    ``lang`` label (label ⟂ text; measured nearest-centroid split accuracy
    0.23 ≈ chance priors), so matching the lang column is impossible in
    principle; the honest check is that the classifier sees Latin-script,
    majority-English text."""
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    from pyspark.sql import functions as F
    counts = {r["predicted_lang"]: r["n"] for r in
              textstats.lang_id(docs).groupBy("predicted_lang")
              .agg(F.count("*").alias("n")).collect()}
    n = sum(counts.values())
    # SQL keywords are weak English: demand a clear plurality of 'en' and
    # zero non-Latin / undetermined predictions, not per-doc certainty
    assert counts.get("en", 0) / n >= 0.5, counts
    assert not set(counts) & {"zh", "ja", "ko", "ru", "und"}, counts


def test_ivf_topk_contains_true_neighbors(spark, embeddings):
    query = [float(x) for x in
             embeddings.where("vec_id = 0").first()["embedding"]]
    exact = [r["vec_id"] for r in similarity.cosine_topk(embeddings, query, k=5).collect()]
    approx = [r["vec_id"] for r in
              similarity.ivf_topk(embeddings, query, k=5, n_cells=8,
                                  n_probe=3).collect()]
    assert exact[0] in approx  # the vector itself
    assert exact[1] in approx  # its planted near-duplicate


def test_ivf_deterministic(spark, embeddings):
    c1 = similarity.train_ivf_centroids(embeddings, n_cells=8)
    c2 = similarity.train_ivf_centroids(embeddings, n_cells=8)
    import numpy as np
    assert np.allclose(c1, c2)


def test_embedding_near_dup_lsh_recall_vs_exact(spark, embeddings):
    exact = {(r["a"], r["b"]) for r in similarity.embedding_near_dup_pairs(
        embeddings, threshold=0.8, use_lsh=False).collect()}
    lsh = {(r["a"], r["b"]) for r in similarity.embedding_near_dup_pairs(
        embeddings, threshold=0.8, use_lsh=True, n_bits=6, dim=16).collect()}
    assert lsh <= exact  # exact rescore kills false positives
    assert exact and len(lsh & exact) / len(exact) >= 0.7


# ---------------------------------------------------------------------------
# dedup_clusters: pairs → components → canonical (round-2)
# ---------------------------------------------------------------------------


def test_dedup_clusters_transitive_chain(spark):
    """A~B and B~C near-dups (A~C below threshold is fine) must land in ONE
    cluster with exactly one canonical doc."""
    from trident_spark.operators.dedup import dedup_clusters

    base = ("the quick brown fox jumps over the lazy dog and then runs far "
            "away into the deep dark forest tonight").split()
    mk = lambda words: " ".join(words)  # noqa: E731
    a = mk(base)
    b = mk(base[:-2] + ["near", "copy"])          # high overlap with a
    c = mk(base[:-4] + ["near", "copy", "two", "more"])  # overlaps b more
    rows = [(1, a), (2, b), (3, c), (10, "utterly unrelated text about "
            "spark catalyst optimizer internals and shuffle partitions")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: (r["cluster_id"], r["is_canonical"])
           for r in dedup_clusters(docs, threshold=0.3).collect()}
    assert out[1] == (1, True)
    assert out[2][0] == 1 and out[2][1] is False
    assert out[3][0] == 1 and out[3][1] is False
    assert out[10] == (10, True)  # singleton keeps itself


def test_dedup_clusters_partitioning_independent(spark, docs_sf0001):
    from trident_spark.operators.dedup import dedup_clusters

    a = {tuple(r) for r in dedup_clusters(docs_sf0001).collect()}
    b = {tuple(r) for r in
         dedup_clusters(docs_sf0001.repartition(13)).collect()}
    assert a == b
    # every cluster has exactly one canonical member
    import collections
    per = collections.Counter()
    for doc_id, cluster, canon in a:
        per[cluster] += bool(canon)
    assert all(v == 1 for v in per.values())


# ---------------------------------------------------------------------------
# deterministic sampling (round-2)
# ---------------------------------------------------------------------------


def test_deterministic_sample_stable_and_partitioning(spark, docs_sf0001):
    from trident_spark.operators.sampling import deterministic_sample

    s1 = {r["doc_id"] for r in
          deterministic_sample(docs_sf0001, "doc_id", 10).collect()}
    s2 = {r["doc_id"] for r in
          deterministic_sample(docs_sf0001.repartition(17), "doc_id",
                               10).collect()}
    assert s1 == s2 and s1  # identical subset, non-empty
    n = docs_sf0001.count()
    assert 0.03 * n < len(s1) < 0.25 * n  # ~10%, generous band


def test_deterministic_sample_complements_partition(spark, docs_sf0001):
    from pyspark.sql import functions as F

    from trident_spark.operators.sampling import hash_bucket

    low = {r["doc_id"] for r in docs_sf0001.where(
        hash_bucket("doc_id") < 10).collect()}
    high = {r["doc_id"] for r in docs_sf0001.where(
        (hash_bucket("doc_id") >= 10) & (hash_bucket("doc_id") < 100)
    ).collect()}
    assert low.isdisjoint(high)
    assert len(low) + len(high) == docs_sf0001.count()


def test_stratified_sample_rates(spark, docs_sf0001):
    from trident_spark.operators.sampling import stratified_sample

    out = stratified_sample(docs_sf0001, "doc_id", "lang", {"en": 100},
                            default_pct=0)
    langs = {r["lang"] for r in out.select("lang").distinct().collect()}
    assert langs == {"en"}
    assert out.count() == docs_sf0001.where("lang = 'en'").count()


def test_top_ngrams_counts_and_short_doc_guard(spark):
    from trident_spark.operators.textstats import top_ngrams

    docs = spark.createDataFrame(
        [(1, "a b a b c"), (2, "a b"), (3, "solo")],
        "doc_id long, text string")
    got = [(r["gram"], r["cnt"]) for r in top_ngrams(docs, n=2, k=3).collect()]
    # "a b": doc1 x2 + doc2 x1 = 3; "b a", "b c": 1 each; "solo" yields none
    assert got == [("a b", 3), ("b a", 1), ("b c", 1)]


def test_embedding_centroids_exact_small(spark):
    from trident_spark.operators.similarity import embedding_centroids

    embs = spark.createDataFrame(
        [(1, [1.0, 2.0], 0), (2, [3.0, 4.0], 0), (3, [10.0, 0.0], 1)],
        "vec_id long, embedding array<float>, label int")
    got = {(r["grp"], r["dim"]): r["c"]
           for r in embedding_centroids(embs).collect()}
    assert got == {(0, 0): 2.0, (0, 1): 3.0, (1, 0): 10.0, (1, 1): 0.0}


def test_remove_boilerplate(spark):
    """The cookie banner shared by most docs disappears; unique content
    and paragraph order survive; all-boilerplate docs come back empty."""
    banner = "ACCEPT OUR COOKIES"
    rows = [(i, f"{banner}\n\nunique body {i}\n\nmore {i}") for i in range(8)]
    rows.append((8, f"{banner}"))                       # banner-only doc
    rows.append((9, "no banner here\n\njust content"))  # clean doc
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in textstats.remove_boilerplate(
        df, max_doc_frac=0.3).collect()}
    assert len(out) == 10
    for i in range(8):
        assert out[i]["text"] == f"unique body {i}\n\nmore {i}"
        assert out[i]["n_paras_dropped"] == 1
        assert out[i]["n_paras_kept"] == 2
    assert out[8]["text"] == "" and out[8]["n_paras_kept"] == 0
    assert out[9]["text"] == "no banner here\n\njust content"
    assert out[9]["n_paras_dropped"] == 0


def test_remove_boilerplate_at_exact_cutoff(spark):
    """A paragraph repeated in EXACTLY max(int(n*frac), min_docs) documents
    is boilerplate — the docstring says 'at least min_docs' (ADVICE r3:
    strict > silently never dropped 2-doc repeats at min_docs=2)."""
    rows = [(0, "SHARED FOOTER\n\nbody 0"), (1, "SHARED FOOTER\n\nbody 1"),
            (2, "body 2"), (3, "body 3")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in textstats.remove_boilerplate(
        df, max_doc_frac=0.05, min_docs=2).collect()}
    # cutoff = max(int(4*0.05)+1, 2) = 2; footer appears in exactly 2 docs
    assert out[0]["text"] == "body 0" and out[0]["n_paras_dropped"] == 1
    assert out[1]["text"] == "body 1" and out[1]["n_paras_dropped"] == 1
    assert out[2]["text"] == "body 2" and out[2]["n_paras_dropped"] == 0


def test_remove_boilerplate_frac_boundary_is_strict(spark):
    """'More than max_doc_frac of the corpus': with 10 docs and frac=0.2
    a paragraph in exactly 2 docs (exactly 20%) is KEPT; 3 docs (30%) is
    dropped (r4 review: >= on the combined max() removed exact-frac
    paragraphs)."""
    rows = [(i, f"AT LIMIT\n\nbody {i}") for i in range(2)]
    rows += [(2 + i, f"OVER LIMIT\n\nmore {i}") for i in range(3)]
    rows += [(5 + i, f"solo {i}") for i in range(5)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in textstats.remove_boilerplate(
        df, max_doc_frac=0.2, min_docs=2).collect()}
    assert out[0]["n_paras_dropped"] == 0   # exactly at the frac line
    assert out[0]["text"].startswith("AT LIMIT")
    assert out[2]["n_paras_dropped"] == 1   # strictly above it
    assert out[2]["text"] == "more 0"


def test_lsh_bucket_topk_batch_matches_single(spark, embeddings):
    """Batch ANN must return, per query, exactly what the single-query
    bucketed top-k returns (same hyperplanes, probes, tie order)."""
    qids = [0, 7, 30, 155]
    queries = embeddings.where(F.col("vec_id").isin(qids)).select(
        F.col("vec_id").alias("query_id"), "embedding")
    batch = similarity.lsh_bucket_topk_batch(
        embeddings, queries, k=5, n_bits=6, probes=4)
    got = {}
    for r in batch.collect():
        got.setdefault(r["query_id"], []).append((r["rank"], r["vec_id"]))
    for qid in qids:
        q = [float(x) for x in
             embeddings.where(F.col("vec_id") == qid).first()["embedding"]]
        want = [r["vec_id"] for r in similarity.lsh_bucket_topk(
            embeddings, q, k=5, n_bits=6, probes=4).collect()]
        assert [v for _, v in sorted(got[qid])] == want, qid


def test_lsh_bucket_topk_batch_plan_is_jvm_side(spark, embeddings):
    queries = embeddings.limit(3).select(
        F.col("vec_id").alias("query_id"), "embedding")
    df = similarity.lsh_bucket_topk_batch(embeddings, queries, k=3,
                                          n_bits=6, probes=2)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" not in plan and "MapInPandas" not in plan
    assert "CartesianProduct" not in plan


def test_embedding_clusters(spark, embeddings):
    """Planted near-dup pairs (i, i+1) for i%10==0 collapse into clusters
    with min-id canonicals; everything else is a singleton."""
    out = {r["vec_id"]: r for r in similarity.embedding_clusters(
        embeddings, threshold=0.99, n_bits=4).collect()}
    assert len(out) == 200
    hits = 0
    for i in range(0, 199, 10):
        if out[i + 1]["cluster_id"] == out[i]["cluster_id"]:
            hits += 1
            assert out[i]["is_canonical"] and not out[i + 1]["is_canonical"]
    assert hits / 20 >= 0.8  # LSH bucket recall bound (exact verify inside)
    singles = [r for vid, r in out.items()
               if vid % 10 not in (0, 1) and vid < 199]
    assert all(r["is_canonical"] and r["cluster_id"] == r["vec_id"]
               for r in singles)


def test_canonicalize_url_unit():
    from trident_spark.operators.urls import canonicalize_url as C

    assert C("HTTP://Example.COM:80/a/../b?utm_source=x&b=2&a=1#frag") == \
        "http://example.com/b?a=1&b=2"
    assert C("https://example.org/p?fbclid=abc") == "https://example.org/p"
    assert C("https://example.org/p?x=1&X=2") == "https://example.org/p?X=2&x=1"
    assert C("not a url") is None
    assert C("https://example.org/p") == "https://example.org/p"


def test_dedup_by_url(spark):
    import datetime as dt

    from trident_spark.operators.urls import dedup_by_url

    t = dt.datetime(2024, 1, 1)
    rows = [
        ("http://EX.com/a?utm_source=x", t, "old"),
        ("http://ex.com/a", t + dt.timedelta(days=1), "new"),
        ("http://ex.com/b", t, "only"),
        ("::bad url::", t, "kept-anyway"),
    ]
    df = spark.createDataFrame(rows, "url string, warc_ts timestamp, tag string")
    out = {r["tag"]: r for r in dedup_by_url(df).collect()}
    assert set(out) == {"new", "only", "kept-anyway"}  # 'old' superseded
    assert out["new"]["canonical_url"] == "http://ex.com/a"
    assert out["kept-anyway"]["canonical_url"] is None


def test_gopher_quality_filter(spark):
    good = ("the quick brown fox jumps over the lazy dog and keeps going "
            * 10).strip()
    rows = [
        (1, good),
        (2, "too short"),
        (3, "### " * 100),                       # symbols, no alpha
        (4, "\n".join("- item %d here now ok" % i for i in range(40))),
        (5, " ".join("a" for _ in range(100))),  # mean word len 1
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in
           textstats.gopher_quality_filter(df).collect()}
    assert out[1]["keep"] and out[1]["reasons"] == []
    assert not out[2]["keep"] and "word_count" in out[2]["reasons"]
    assert not out[3]["keep"]
    assert {"symbol_ratio", "alpha_words"} <= set(out[3]["reasons"])
    assert not out[4]["keep"] and "bullet_ratio" in out[4]["reasons"]
    assert not out[5]["keep"] and "mean_word_length" in out[5]["reasons"]


def test_repetition_signals(spark):
    rows = [
        (1, "unique one\nunique two\n\nunique three para"),
        (2, "same line\nsame line\nsame line\nother"),
        (3, "spam spam spam spam spam spam"),
        (4, ""),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in
           textstats.repetition_signals(df).collect()}
    assert out[1]["dup_line_fraction"] == 0.0
    assert out[1]["dup_para_fraction"] == 0.0
    assert out[2]["dup_line_fraction"] == 0.5  # 4 lines, 2 distinct
    assert out[3]["top_bigram_fraction"] == 1.0  # 'spam spam' everywhere
    assert out[4]["dup_line_fraction"] == 0.0  # empty doc is all-zero


def test_minhash_lsh_hub_bucket_bounded(spark):
    """A planted 10k-duplicate cluster must complete with O(m) candidate
    pairs (anchor star), not m²: every clone still pairs (verified at
    jaccard 1.0) and stays connected through the shared anchor, while
    unrelated docs pair with nothing."""
    clones = [(i, "the same boilerplate page text repeated here") for i in range(10000)]
    distinct = [(10000 + i, f"totally unique document number {i} with words {i * 7}")
                for i in range(5)]
    df = spark.createDataFrame(clones + distinct, "doc_id long, text string")
    pairs = dedup.minhash_lsh_pairs(
        df, n_hashes=16, bands=4, shingle=3, threshold=0.5,
        max_bucket=100).collect()
    # star topology: anchor 0 paired with each of the other 9999 clones
    assert len(pairs) == 9999
    assert all(r["a"] == 0 and r["jaccard"] == 1.0 for r in pairs)
    assert {r["b"] for r in pairs} == set(range(1, 10000))


def test_canonical_urls_strict_idna(spark):
    """canonical_urls(strict_idna=True) flags hosts violating the strict
    IDNA2008/UTS-46 lookup profile while keeping normalization lenient
    (both rows still canonicalize)."""
    from trident_spark.operators.urls import canonical_urls

    rows = [(1, "http://Example.COM/a?utm_source=x"),
            (2, "http://ex_ample.com/b"),
            (3, "not a url at all ://"),
            (4, None)]
    df = spark.createDataFrame(rows, "id long, url string")
    out = {r["id"]: r for r in
           canonical_urls(df, strict_idna=True).collect()}
    assert out[1]["canonical_url"] == "http://example.com/a"
    assert out[1]["host_idna_error"] is None
    assert out[2]["canonical_url"] == "http://ex_ample.com/b"
    assert "non-LDH" in out[2]["host_idna_error"]
    assert out[3]["canonical_url"] is None
    assert out[3]["host_idna_error"] is None
    assert out[4]["host_idna_error"] is None


def test_minhash_verify_prunes_gram_side(docs):
    """r6 optimization guard: the exact-Jaccard verify stage must compute
    gram arrays only for documents that appear in a candidate pair — the
    plan carries a LeftSemi prune of the docs scan before the gram
    projection (guide §3.2 semi-join pre-filter)."""
    from trident_spark.operators.dedup import minhash_lsh_pairs

    pairs = minhash_lsh_pairs(docs)
    plan = pairs._jdf.queryExecution().optimizedPlan().toString()
    assert "LeftSemi" in plan
