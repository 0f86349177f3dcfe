"""Tests for dedup / similarity / text / multimodal operators."""

import pytest
from pyspark.sql import functions as F

from openoa_spark.datapipe import dedup, multimodal, similarity, text


def test_exact_dedup(spark):
    df = spark.createDataFrame(
        [(1, "Hello  World"), (2, "hello world"), (3, "other doc")],
        ["doc_id", "text"],
    )
    out = dedup.exact_dedup(df, "text", "doc_id").orderBy("doc_id").collect()
    assert [(r["doc_id"], r["dup_count"]) for r in out] == [(1, 2), (3, 1)]


def test_shingles(spark):
    df = spark.createDataFrame([("a b c d",)], ["t"])
    out = df.select(dedup.shingles("t", 2).alias("s")).first()["s"]
    assert sorted(out) == ["a b", "b c", "c d"]


def test_minhash_detects_near_dups(spark):
    base = "the quick brown fox jumps over the lazy dog and runs far away today"
    near = base.replace("today", "tomorrow")
    other = "completely different content about spark distributed query engines here"
    df = spark.createDataFrame(
        [(1, base), (2, near), (3, other)], ["doc_id", "text"]
    )
    pairs = dedup.minhash_near_dup_pairs(
        df, "text", "doc_id", num_hashes=32, bands=8, jaccard_threshold=0.3
    ).collect()
    assert [(r["id_a"], r["id_b"]) for r in pairs] == [(1, 2)]


def test_minhash_md5_backend_matches_xxhash64(spark):
    # the md5 backend exists so the DuckDB oracle can replay the exact
    # hash; both backends must find the same planted near-dup pairs.
    base = "the quick brown fox jumps over the lazy dog and runs far away today"
    near = base.replace("today", "tomorrow")
    other = "completely different content about spark distributed query engines here"
    df = spark.createDataFrame(
        [(1, base), (2, near), (3, other)], ["doc_id", "text"]
    )
    for fn in ("xxhash64", "md5"):
        pairs = dedup.minhash_near_dup_pairs(
            df, "text", "doc_id", num_hashes=32, bands=8,
            jaccard_threshold=0.3, hash_fn=fn,
        ).collect()
        assert [(r["id_a"], r["id_b"]) for r in pairs] == [(1, 2)], fn


def test_shingles_short_text_empty(spark):
    # < n tokens must yield [], not a descending-sequence artifact
    df = spark.createDataFrame([("a b",), ("a",), ("",)], ["t"])
    out = [r["s"] for r in df.select(dedup.shingles("t", 3).alias("s")).collect()]
    assert out == [[], [], []]


def test_ngram_jaccard_exact(spark):
    df = spark.createDataFrame(
        [(1, "a b c d e"), (2, "a b c d x"), (3, "q r s t u")],
        ["doc_id", "text"],
    )
    pairs = dedup.ngram_jaccard_pairs(df, "text", "doc_id", shingle_n=2, threshold=0.2)
    rows = {(r["id_a"], r["id_b"]): r["jaccard"] for r in pairs.collect()}
    # doc1 bigrams {ab,bc,cd,de}, doc2 {ab,bc,cd,dx}: |∩|=3, |∪|=5
    assert rows[(1, 2)] == pytest.approx(0.6)
    assert (1, 3) not in rows


def test_simhash_similar_docs_close(spark):
    df = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon zeta"),
            (2, "alpha beta gamma delta epsilon eta"),
            (3, "one two three four five six"),
        ],
        ["doc_id", "text"],
    )
    out = {r["doc_id"]: r["sh"] for r in df.select("doc_id", dedup.simhash("text", 32).alias("sh")).collect()}

    def hamming(a, b):
        return bin(a ^ b).count("1")

    assert hamming(out[1], out[2]) < hamming(out[1], out[3])


def test_cosine_topk(spark):
    df = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.9, 0.1]), (3, [0.0, 1.0])],
        ["vec_id", "embedding"],
    )
    out = similarity.brute_force_top_k(df, "embedding", "vec_id", [1.0, 0.0], k=2).collect()
    assert [r["vec_id"] for r in out] == [1, 2]
    assert out[0]["cosine"] == pytest.approx(1.0)


def test_lsh_bucket_groups_similar(spark):
    df = spark.createDataFrame(
        [(1, [1.0, 0.0, 0.0]), (2, [0.99, 0.01, 0.0]), (3, [-1.0, 0.0, 0.0])],
        ["vec_id", "embedding"],
    )
    planes = similarity.random_hyperplanes(3, 4, seed=1)
    out = {
        r["vec_id"]: r["b"]
        for r in df.select("vec_id", similarity.lsh_bucket("embedding", planes).alias("b")).collect()
    }
    assert out[1] == out[2]
    assert out[1] != out[3]


def test_token_count_and_fingerprint(spark):
    df = spark.createDataFrame([(1, "Hello, World  again")], ["doc_id", "t"])
    row = df.select(
        text.token_count("t").alias("n"),
        text.fingerprint("t").alias("fp"),
        text.avg_word_length("t").alias("awl"),
    ).first()
    assert row["n"] == 3
    assert len(row["fp"]) == 32
    assert row["awl"] == pytest.approx((6 + 5 + 5) / 3)


def test_language_id(spark):
    df = spark.createDataFrame(
        [(1, "the cat and the dog in a house"), (2, "le chat et la maison des gens"), (3, "xyzzy plugh")],
        ["doc_id", "t"],
    )
    out = {r["doc_id"]: r["lang"] for r in df.select("doc_id", text.language_id("t").alias("lang")).collect()}
    assert out[1] == "en"
    assert out[2] == "fr"
    assert out[3] == "und"


def test_language_id_edge_cases(spark):
    # pins the r11 one-fold rewrite against the original when-chain
    # semantics: ties keep the lexicographically FIRST language, no
    # hits (incl. empty/whitespace/NULL text) map to 'und'
    rows = [
        (1, None),            # NULL text -> 'und' (old chain: NULL > 0 = false)
        (2, ""),              # empty -> 'und'
        (3, "   "),           # whitespace-only -> 'und'
        (4, "de la"),         # es/fr tie (both lists carry de+la) -> 'es' (first sorted)
        (5, "zzz qqq"),       # zero hits -> 'und'
        (6, "the der"),       # de/en tie at 1 hit each -> 'de' (first sorted)
    ]
    df = spark.createDataFrame(rows, "doc_id long, t string")
    out = {r["doc_id"]: r["lang"] for r in df.select("doc_id", text.language_id("t").alias("lang")).collect()}
    assert out == {1: "und", 2: "und", 3: "und", 4: "es", 5: "und", 6: "de"}


def test_image_features_mapinpandas(spark):
    df = spark.createDataFrame(
        [(1, "image", bytearray(b"\x00\x01\x02\x03" * 10), "image/png", {})],
        schema=multimodal.MEDIA_SCHEMA,
    )
    row = multimodal.image_features(df).first()
    assert row["n_bytes"] == 40
    assert row["width"] == 64 + 40 % 256
    assert len(row["feature"]) == 8


def test_frame_sample_plan(spark):
    df = spark.createDataFrame(
        [(1, "video", None, "video/mp4", {"duration_s": "3.5"})],
        schema=multimodal.MEDIA_SCHEMA,
    )
    out = multimodal.frame_sample_plan(df, 1.0).collect()
    assert [r["frame_ts"] for r in out] == [0.0, 1.0, 2.0, 3.0]


def test_ngram_df_cap_drops_hot_shingles(spark):
    # "x y" appears in ALL docs (boilerplate) — with the cap it cannot
    # create candidate pairs on its own
    df = spark.createDataFrame(
        [(1, "x y a b"), (2, "x y c d"), (3, "x y a b")],
        ["doc_id", "text"],
    )
    exact = dedup.ngram_jaccard_pairs(df, "text", "doc_id", shingle_n=2, threshold=0.01)
    capped = dedup.ngram_jaccard_pairs(
        df, "text", "doc_id", shingle_n=2, threshold=0.01, max_doc_frequency=2
    )
    exact_pairs = {(r["id_a"], r["id_b"]) for r in exact.collect()}
    capped_pairs = {(r["id_a"], r["id_b"]) for r in capped.collect()}
    assert exact_pairs == {(1, 2), (1, 3), (2, 3)}  # "x y" links everything
    assert capped_pairs == {(1, 3)}  # only the real near-dup survives


def _cluster_vectors(spark):
    import numpy as np

    rng = np.random.default_rng(5)
    rows = []
    centers = [np.eye(8)[i] for i in range(4)]
    vid = 0
    for ci, c in enumerate(centers):
        for _ in range(10):
            v = c + rng.normal(0, 0.05, 8)
            rows.append((vid, [float(x) for x in v]))
            vid += 1
    return spark.createDataFrame(rows, ["vec_id", "embedding"])


def test_multi_probe_recall_superset(spark):
    df = _cluster_vectors(spark)
    single = similarity.lsh_bucketed_neighbors(df, "embedding", "vec_id", k=3)
    multi = similarity.lsh_multi_probe_neighbors(
        df, "embedding", "vec_id", k=3, n_probe_bits=1
    )
    n_single = single.count()
    n_multi = multi.count()
    # probing adjacent buckets can only find more (or equal) neighbors
    assert n_multi >= n_single
    # and neighbors must come from the same synthetic cluster
    bad = multi.where(
        (F.col("id_a") / 10).cast("int") != (F.col("id_b") / 10).cast("int")
    ).count()
    assert bad == 0


def test_ivf_neighbors_matches_brute_force(spark):
    df = _cluster_vectors(spark)
    ivf = similarity.ivf_neighbors(
        df, "embedding", "vec_id", k=3, n_clusters=4, n_probe=2
    )
    exact = similarity.all_pairs_top_k(df, "embedding", "vec_id", k=3)
    got = {(r["id_a"], r["id_b"]) for r in ivf.collect()}
    want = {(r["id_a"], r["id_b"]) for r in exact.collect()}
    # tight clusters: 2-probe IVF recovers ≥ 90% of the exact pairs
    assert len(got & want) / len(want) >= 0.9


def test_connected_components_chain(spark):
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (7, 9)], ["id_a", "id_b"]
    )
    comp = {r["doc_id"]: r["component"] for r in dedup.connected_components(pairs).collect()}
    assert comp == {1: 1, 2: 1, 3: 1, 7: 7, 9: 7}


def test_near_dedup_end_to_end(spark):
    base = "the quick brown fox jumps over the lazy dog and runs far away today"
    docs = [
        (1, base),
        (2, base.replace("today", "tomorrow")),       # ~ 1
        (3, base.replace("quick", "swift")),          # ~ 1 (and 2 via 1)
        (4, "completely different content about spark distributed query engines here"),
    ]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    kept = sorted(
        r["doc_id"]
        for r in dedup.near_dedup(
            df, "text", "doc_id", num_hashes=32, bands=16, jaccard_threshold=0.3
        ).collect()
    )
    assert kept == [1, 4]  # cluster {1,2,3} → keep 1; singleton 4 kept


# -------------------------------------------------- round-3b corpus ops


def test_word_ngrams_and_repetition_ratio(spark):
    df = spark.createDataFrame(
        [(1, "a b a b"), (2, "a b c d"), (3, "x")], ["doc_id", "text"]
    )
    out = {
        r["doc_id"]: (r["g"], r["rep"])
        for r in df.select(
            "doc_id",
            text.word_ngrams("text", 2).alias("g"),
            text.repetition_ratio("text", 2).alias("rep"),
        ).collect()
    }
    assert out[1][0] == ["a b", "b a", "a b"]
    assert out[1][1] == pytest.approx(1 - 2 / 3)
    assert out[2] == (["a b", "b c", "c d"], 0.0)
    assert out[3] == ([], 0.0)  # fewer tokens than n -> empty, ratio 0


def test_tfidf_top_terms(spark):
    # "rare" appears only in doc 1 -> highest tfidf there; "common"
    # appears in every doc -> idf 0 -> never outranks anything positive.
    df = spark.createDataFrame(
        [(1, "common rare rare"), (2, "common solo"), (3, "common solo")],
        ["doc_id", "text"],
    )
    out = text.tfidf_top_terms(df, "text", "doc_id", k=1).collect()
    top = {r["doc_id"]: r["term"] for r in out}
    assert top[1] == "rare"
    assert top[2] == "solo" and top[3] == "solo"
    assert all(r["rank"] == 1 for r in out)


def test_common_ngram_fraction(spark):
    # trigram "a b c" is shared by docs 1 and 2; doc 3 is unique.
    df = spark.createDataFrame(
        [(1, "a b c x y"), (2, "a b c z w"), (3, "p q r s t")],
        ["doc_id", "text"],
    )
    out = {
        r["doc_id"]: r["common_frac"]
        for r in text.common_ngram_fraction(
            df, "text", "doc_id", n=3, min_docs=2
        ).collect()
    }
    assert out[1] == pytest.approx(1 / 3)  # 1 shared of 3 trigrams
    assert out[2] == pytest.approx(1 / 3)
    assert out[3] == 0.0


def test_redact_patterns_presets(spark):
    df = spark.createDataFrame(
        [(1, "mail bob@example.com ip 10.0.0.1 call +1 (555) 123-4567 ok")],
        ["id", "t"],
    )
    out = df.select(
        text.redact_patterns(
            "t", list(text.PII_PATTERNS.values()), "<PII>"
        ).alias("r")
    ).first()["r"]
    assert "bob@example.com" not in out
    assert "10.0.0.1" not in out
    assert "555" not in out
    assert out.count("<PII>") == 3
    assert out.endswith("ok")


def test_label_centroids_exact(spark):
    df = spark.createDataFrame(
        [
            (1, 0, [1.0, 2.0]),
            (2, 0, [3.0, 4.0]),
            (3, 1, [5.0, 6.0]),
        ],
        ["vec_id", "label", "embedding"],
    )
    out = {
        (r["label"], r["pos"]): r["centroid"]
        for r in similarity.label_centroids(df, "embedding", "label").collect()
    }
    assert out == {(0, 0): 2.0, (0, 1): 3.0, (1, 0): 5.0, (1, 1): 6.0}


def test_centroid_pairwise_distances(spark):
    # centroids: label 0 -> (0,0), label 1 -> (3,4): distance 5
    df = spark.createDataFrame(
        [
            (1, 0, [0.0, 0.0]),
            (2, 0, [0.0, 0.0]),
            (3, 1, [3.0, 4.0]),
        ],
        ["vec_id", "label", "embedding"],
    )
    rows = similarity.centroid_pairwise_distances(
        df, "embedding", "label"
    ).collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r["label_a"], r["label_b"]) == (0, 1)
    assert r["l2_dist"] == pytest.approx(5.0, abs=1e-6)


def test_group_shingle_overlap(spark):
    # src A grams: {a b c, b c d}; src B grams: {b c d, c d e}
    # shared = 1, jaccard = 1 / (2 + 2 - 1) = 1/3
    df = spark.createDataFrame(
        [(1, "A", "a b c d"), (2, "B", "b c d e")],
        ["doc_id", "source", "text"],
    )
    rows = text.group_shingle_overlap(df, "text", "source", n=3).collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r["src_a"], r["src_b"], r["shared_grams"]) == ("A", "B", 1)
    assert r["jaccard"] == pytest.approx(1 / 3, abs=1e-6)


def test_near_dedup_keep_best(spark):
    # docs 1 and 2 are near-dups (one trailing token differs); doc 1
    # is punctuation-spammed so its quality score is lower — keep-best
    # must keep 2 and drop 1, while min-id near_dedup keeps 1.
    base = (
        "the quick brown fox jumps over the lazy dog and runs far away "
        "to the old mill by the river"
    )
    spammy = base + " !!!!!!!!!!!!!!!!!!!!"
    other = "completely different content about spark distributed query engines"
    df = spark.createDataFrame(
        [(1, spammy), (2, base), (3, other)], ["doc_id", "text"]
    )
    kept = sorted(
        r["doc_id"]
        for r in dedup.near_dedup_keep_best(
            df, "text", "doc_id", text.quality_score("text"),
            num_hashes=32, bands=8, jaccard_threshold=0.3,
        ).collect()
    )
    assert kept == [2, 3]
    # sanity: min-id policy keeps 1 instead
    kept_min = sorted(
        r["doc_id"]
        for r in dedup.near_dedup(
            df, "text", "doc_id",
            num_hashes=32, bands=8, jaccard_threshold=0.3,
        ).collect()
    )
    assert kept_min == [1, 3]


def test_audio_chunk_plan(spark):
    df = spark.createDataFrame(
        [(1, "audio", None, "audio/wav", {"duration_s": "70"}),
         (2, "audio", None, "audio/wav", {"duration_s": "10"})],
        multimodal.MEDIA_SCHEMA,
    )
    rows = sorted(
        (r["media_id"], r["chunk_idx"], r["start_s"], r["end_s"])
        for r in multimodal.audio_chunk_plan(df, 30.0, 5.0).collect()
    )
    # 70 s at 30 s chunks stepping 25 s: [0,30) [25,55) [50,70]
    assert rows == [
        (1, 0, 0.0, 30.0), (1, 1, 25.0, 55.0), (1, 2, 50.0, 70.0),
        (2, 0, 0.0, 10.0),
    ]


def test_char_entropy(spark):
    import math

    df = spark.createDataFrame(
        [(1, "aaaa"), (2, "abab"), (3, "abcd")], ["doc_id", "t"]
    )
    out = {r["doc_id"]: r["e"]
           for r in df.select("doc_id",
                              text.char_entropy("t").alias("e")).collect()}
    assert out[1] == 0.0                       # single symbol
    assert out[2] == pytest.approx(1.0)        # two equiprobable
    assert out[3] == pytest.approx(2.0)        # four equiprobable
    assert math.isclose(out[3], 2.0)


def test_incremental_exact_dedup_across_batches(spark, tmp_path):
    fp = str(tmp_path / "fingerprints")
    b1 = spark.createDataFrame(
        [(1, "doc alpha"), (2, "doc beta"), (3, "Doc  Alpha")],
        ["doc_id", "text"],
    )
    out1 = dedup.incremental_exact_dedup(spark, b1, "text", "doc_id", fp)
    assert sorted(r["doc_id"] for r in out1.collect()) == [1, 2]
    # batch 2: one already-seen doc (different id), one new
    b2 = spark.createDataFrame(
        [(10, "doc beta"), (11, "doc gamma")], ["doc_id", "text"]
    )
    out2 = dedup.incremental_exact_dedup(spark, b2, "text", "doc_id", fp)
    assert [r["doc_id"] for r in out2.collect()] == [11]
    # replaying batch 2 accepts nothing (idempotent)
    out3 = dedup.incremental_exact_dedup(spark, b2, "text", "doc_id", fp)
    assert out3.count() == 0


def test_incremental_near_dedup_across_batches(spark, tmp_path):
    sp = str(tmp_path / "near_state")
    base = (
        "the quick brown fox jumps over the lazy dog and keeps on "
        "running through the quiet green field toward the distant hills"
    )
    b1 = spark.createDataFrame(
        [
            (1, base),
            (2, base + " tonight"),           # near-dup of 1 within batch
            (3, "completely different content about spark engines and "
                "distributed query processing at large scale today"),
        ],
        ["doc_id", "text"],
    )
    out1 = dedup.incremental_near_dedup(
        spark, b1, "text", "doc_id", sp, jaccard_threshold=0.5
    )
    assert sorted(r["doc_id"] for r in out1.collect()) == [1, 3]

    # batch 2: a near-dup of history (different id), one genuinely new
    b2 = spark.createDataFrame(
        [
            (10, base + " again"),            # near-dup of accepted doc 1
            (11, "an entirely novel passage mentioning turbines wakes "
                 "and the yearly energy production of a wind plant"),
        ],
        ["doc_id", "text"],
    )
    out2 = dedup.incremental_near_dedup(
        spark, b2, "text", "doc_id", sp, jaccard_threshold=0.5
    )
    assert [r["doc_id"] for r in out2.collect()] == [11]

    # crash-replay of batch 2: every doc matches its own signature in
    # history (estimate 1.0) -> zero rows, append-only state unharmed
    out3 = dedup.incremental_near_dedup(
        spark, b2, "text", "doc_id", sp, jaccard_threshold=0.5
    )
    assert out3.count() == 0

    # too-short docs (no shingles) pass through and never enter state
    b3 = spark.createDataFrame([(20, "hi"), (21, "ok")], ["doc_id", "text"])
    out4 = dedup.incremental_near_dedup(
        spark, b3, "text", "doc_id", sp, jaccard_threshold=0.5
    )
    assert sorted(r["doc_id"] for r in out4.collect()) == [20, 21]

    # state tables carry only ids/hashes/signatures — never text
    bands_cols = set(spark.read.parquet(sp + "/bands").columns)
    sigs_cols = set(spark.read.parquet(sp + "/sigs").columns)
    assert bands_cols == {"id", "band", "bhash"}
    assert sigs_cols == {"id", "sig"}


def test_lsh_recall_harness_probe_monotonicity(spark):
    """Measured recall@k: multi-probe must dominate single-probe (it
    only ADDS candidate buckets), and recall is within [0, 1] with the
    exact-truth denominator k."""
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    planes = similarity.random_hyperplanes(64, 8, seed=42)
    rs = {}
    for probe in (0, 2):
        rec = similarity.lsh_recall_at_k(
            emb, "embedding", "vec_id", planes, k=3,
            query_fraction=0.1, max_queries=40, probe_bits=probe,
        ).toPandas()
        assert rec["recall"].between(0, 1).all()
        assert (rec["n_hit"] <= 3).all()
        rs[probe] = rec.set_index("id_a")["recall"].sort_index()
    # same query panel both runs; probing only adds candidates
    assert set(rs[0].index) == set(rs[2].index)
    assert (rs[2] >= rs[0] - 1e-12).all()
    assert rs[2].mean() > rs[0].mean()


def test_simhash_near_dup_pairs_planted(spark):
    """Banding guarantee: a planted near-identical pair (tiny token
    delta -> small fingerprint Hamming distance) is found; unrelated
    docs at large distance are not; hamming values match a driver-side
    recomputation."""
    base = ("alpha beta gamma delta epsilon zeta eta theta iota kappa "
            "lambda mu nu xi omicron pi rho sigma tau upsilon")
    rows = [
        (1, base),
        (2, base + " phi"),  # one-token delta
        (3, "totally different words about engines shuffles and plans "
            "catalyst tungsten codegen arrow parquet partitions"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    pairs = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in dedup.simhash_near_dup_pairs(
            df, "text", "doc_id", bits=64, max_hamming=6
        ).collect()
    }
    assert (1, 2) in pairs
    assert (1, 3) not in pairs and (2, 3) not in pairs
    # verify hamming against a direct fingerprint diff
    sh = {
        r["doc_id"]: r["sh"]
        for r in df.select(
            "doc_id", dedup.simhash("text", bits=64).alias("sh")
        ).collect()
    }
    assert pairs[(1, 2)] == bin(sh[1] ^ sh[2]).count("1")


def test_simhash_banding_generalized_equivalence(spark):
    """The Manku-style multi-chunk banding (n_chunks > k+1, combination
    tables) finds EXACTLY the same verified pair set as the default
    pigeonhole banding — both are guaranteed-complete candidate
    generators for the same Hamming bound."""
    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet"
    ).limit(150)
    base = dedup.simhash_near_dup_pairs(
        docs, "text", "doc_id", bits=64, max_hamming=3
    )
    manku = dedup.simhash_near_dup_pairs(
        docs, "text", "doc_id", bits=64, max_hamming=3, n_chunks=6
    )
    got_b = sorted(tuple(r) for r in base.collect())
    got_m = sorted(tuple(r) for r in manku.collect())
    assert got_b == got_m


def test_incremental_near_dedup_sigs_only_remnant(spark, tmp_path):
    """Crash window between the two state appends: a sigs-only remnant
    (sigs/ written, crash before bands/) must read as EMPTY history —
    the batch reprocesses safely instead of failing on a missing
    table."""
    sp = str(tmp_path / "state")
    b = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog tonight "
             "while the moon rises slowly over the quiet harbor")],
        ["doc_id", "text"],
    )
    # simulate the remnant: sigs/ exists, bands/ does not
    from openoa_spark.datapipe.dedup import _minhash_signatures
    from pyspark.sql import functions as SF

    _minhash_signatures(b, "text", "doc_id", 64, 3, "xxhash64").select(
        SF.col("_id").alias("id"), SF.col("_sig").alias("sig")
    ).write.parquet(sp + "/sigs")
    out = dedup.incremental_near_dedup(spark, b, "text", "doc_id", sp)
    assert [r["doc_id"] for r in out.collect()] == [1]
    # both tables now exist; replay returns zero rows
    assert dedup.incremental_near_dedup(
        spark, b, "text", "doc_id", sp
    ).count() == 0


def test_simhash_single_chunk_64bit(spark):
    """bits=64 with max_hamming=0 makes ONE 64-bit chunk — the
    all-ones mask must not overflow a Java long; exact-duplicate
    fingerprints are found at distance 0."""
    txt = ("alpha beta gamma delta epsilon zeta eta theta iota kappa "
           "lambda mu nu xi omicron pi rho sigma tau upsilon")
    df = spark.createDataFrame(
        [(1, txt), (2, txt), (3, "other words entirely " * 5)],
        ["doc_id", "text"],
    )
    pairs = dedup.simhash_near_dup_pairs(
        df, "text", "doc_id", bits=64, max_hamming=0
    ).collect()
    assert [(r["id_a"], r["id_b"], r["hamming"]) for r in pairs] == [(1, 2, 0)]


def test_chunk_dedup_invariants(spark):
    """Planted-duplicate semantics: (a) the output corpus contains no
    chunk twice, (b) a fully-novel document survives verbatim, (c) a
    document that is a pure copy of an earlier one vanishes, (d) a
    half-copied document keeps exactly its novel chunks."""
    from openoa_spark.datapipe.dedup import chunk_dedup

    a = " ".join(f"a{i}" for i in range(20))          # 2 chunks, novel
    b = " ".join(f"b{i}" for i in range(10))          # 1 chunk, novel
    c = a                                             # pure copy of a
    d = (
        " ".join(f"a{i}" for i in range(10))          # chunk 0 == a's chunk 0
        + " " + " ".join(f"d{i}" for i in range(10))  # novel chunk
    )
    df = spark.createDataFrame(
        [(1, a), (2, b), (3, c), (4, d)], "doc_id long, text string"
    )
    out = {r["doc_id"]: r for r in chunk_dedup(df, "text", "doc_id").collect()}
    assert set(out) == {1, 2, 4}                      # doc 3 vanished
    assert out[1]["clean_text"] == a and out[1]["n_kept"] == 2
    assert out[2]["clean_text"] == b
    assert out[4]["n_kept"] == 1
    assert out[4]["clean_text"] == " ".join(f"d{i}" for i in range(10))
    # global invariant: no chunk string appears twice across the output
    all_chunks = []
    for r in out.values():
        toks = r["clean_text"].split(" ")
        all_chunks += [
            " ".join(toks[i : i + 10]) for i in range(0, len(toks), 10)
        ]
    assert len(all_chunks) == len(set(all_chunks))


def test_token_budget_select_boundary(spark):
    """The selected set is the priority-ordered prefix: total tokens
    BEFORE each kept doc < budget, and the first excluded doc would
    have started at/after the budget."""
    from openoa_spark.datapipe.sampling import token_budget_select

    rows = [(i, 10 * (1 + i % 5)) for i in range(40)]  # 10..50 tokens
    df = spark.createDataFrame(rows, "doc_id long, n_tokens int")
    budget = 300
    got = token_budget_select(df, "doc_id", "n_tokens", budget).collect()
    # replay serially
    order = sorted(rows, key=lambda r: (-r[1], r[0]))
    cum, want = 0, []
    for i, n in order:
        if cum < budget:
            want.append((i, n, cum + n))
        cum += n
    assert sorted((r["doc_id"], r["n_tokens"], r["cum_tokens"]) for r in got) \
        == sorted(want)
    # boundary doc included, next one excluded
    kept_ids = {r["doc_id"] for r in got}
    assert len(kept_ids) < len(rows)


def test_char_bigram_lm_scores_orders_anomalies(spark):
    """Repetitive text scores fewer bits per bigram than the corpus
    norm; rare-character soup scores more."""
    from openoa_spark.datapipe.text import char_bigram_lm_scores

    normal = [
        (i, "the wind turbine generates power from moving air " * 3)
        for i in range(10)
    ]
    rep = [(100, "aa" * 40)]
    soup = [(101, "zq xv jk qz vx kj " * 5)]
    df = spark.createDataFrame(
        normal + rep + soup, "doc_id long, text string"
    )
    s = {r["doc_id"]: r["bits_per_bigram"]
         for r in char_bigram_lm_scores(df, "text", "doc_id").collect()}
    norm_avg = sum(s[i] for i in range(10)) / 10
    assert s[100] < norm_avg < s[101]


def test_char_bigram_lm_scores_matches_python_oracle(spark):
    """The per-row RLE counts (sort + run-length encode, no
    corpus-grain aggregate) against a plain-Python model, across the
    edge cases the RLE guards handle explicitly: NULL text, empty
    text, single char (no bigram), all-one-run, multi-run, and
    non-BMP code points (packed key stays bijective past the BMP).
    Documents with no bigram get no output row."""
    import math
    from collections import Counter
    from decimal import ROUND_HALF_UP, Decimal

    from openoa_spark.datapipe.text import char_bigram_lm_scores

    rows = [
        (1, None),
        (2, ""),
        (3, "x"),
        (4, "aaaa"),              # one run of 'aa'
        (5, "ababab"),            # ab x3, ba x2
        (6, "the quick brown fox jumps over the lazy dog"),
        (7, "\U0001D11E\U0001D11Ez"),  # non-BMP bigrams
    ] + [(100 + i, f"filler text number {i} with shared bigrams")
         for i in range(8)]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    def round6(x):
        # Spark round(double, 6): HALF_UP on the double's decimal string
        return Decimal(repr(x)).quantize(Decimal("0.000001"), ROUND_HALF_UP)

    # Python str iteration is by code point, like char_array
    doc_counts = {
        i: Counter(zip(t, t[1:])) for i, t in rows if t and len(t) >= 2
    }
    model = sum(doc_counts.values(), Counter())
    total = sum(model.values())
    lp = {bg: round6(math.log2(c / total)) for bg, c in model.items()}
    want = {}
    for i, counts in doc_counts.items():
        n = sum(counts.values())
        bits = float(-sum(c * lp[bg] for bg, c in counts.items())) / n
        want[i] = (n, float(round6(bits)))

    got = {
        r["doc_id"]: (r["n_bigrams"], r["bits_per_bigram"])
        for r in char_bigram_lm_scores(df, "text", "doc_id").collect()
    }
    assert set(want) == {4, 5, 6, 7} | {100 + i for i in range(8)}
    assert got == want


def test_incremental_chunk_dedup_across_batches(spark, tmp_path):
    """Cross-batch chunk dedup: batch-2 chunks already accepted in
    batch 1 are dropped, novel chunks survive, and a replay after a
    crash-before-state-append re-emits the same output while a replay
    after the append emits nothing."""
    from openoa_spark.datapipe.dedup import incremental_chunk_dedup

    state = str(tmp_path / "chunk_state")
    a = " ".join(f"a{i}" for i in range(20))          # 2 chunks
    b1 = spark.createDataFrame([(1, a)], "doc_id long, text string")
    out1 = incremental_chunk_dedup(spark, b1, "text", "doc_id", state)
    assert {r["doc_id"]: r["n_kept"] for r in out1.collect()} == {1: 2}

    # batch 2: doc 2 = copy of a (vanishes), doc 3 = half old half new
    d3 = (
        " ".join(f"a{i}" for i in range(10))
        + " " + " ".join(f"n{i}" for i in range(10))
    )
    b2 = spark.createDataFrame(
        [(2, a), (3, d3)], "doc_id long, text string"
    )
    out2 = incremental_chunk_dedup(spark, b2, "text", "doc_id", state)
    rows2 = {r["doc_id"]: r for r in out2.collect()}
    assert set(rows2) == {3}
    assert rows2[3]["n_kept"] == 1
    assert rows2[3]["clean_text"] == " ".join(f"n{i}" for i in range(10))

    # replay of batch 2 AFTER its state append -> all chunks old
    out2b = incremental_chunk_dedup(spark, b2, "text", "doc_id", state)
    assert out2b.count() == 0

    # sink-before-state: a sink that dies leaves state unappended, so
    # the retry re-emits the identical accepted set
    b3 = spark.createDataFrame(
        [(4, " ".join(f"z{i}" for i in range(10)))],
        "doc_id long, text string",
    )

    class Boom(Exception):
        pass

    def dying_sink(df):
        df.count()
        raise Boom

    import pytest as _pytest
    with _pytest.raises(Boom):
        incremental_chunk_dedup(
            spark, b3, "text", "doc_id", state, sink=dying_sink
        )
    retry = incremental_chunk_dedup(spark, b3, "text", "doc_id", state)
    assert {r["doc_id"] for r in retry.collect()} == {4}


def test_chunk_dedup_text_shuffles_once(spark):
    """Plan pin for the chunk_dedup scale contract: with broadcast
    joins disabled (the at-scale shape), exactly ONE exchange carries
    the chunk text — ownership and kept-set exchanges move only
    fixed-width fingerprints/ints, and the final id-grain aggregate
    reuses the reassembly join's partitioning."""
    import contextlib
    import io

    from openoa_spark.datapipe.dedup import chunk_dedup

    df = spark.createDataFrame(
        [(i, " ".join(f"w{i}_{j}" for j in range(25))) for i in range(8)],
        "doc_id long, text string",
    )
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        out = chunk_dedup(df, "text", "doc_id")
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            out.explain(mode="formatted")
        plan = buf.getvalue()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    # formatted explain lists each operator's Input/Output columns;
    # count Exchange blocks whose input carries the chunk string
    blocks = plan.split("\n\n")
    text_exchanges = [
        b for b in blocks
        if b.startswith("(") and ") Exchange" in b.splitlines()[0]
        and "chunk#" in b
    ]
    assert len(text_exchanges) == 1, plan


def test_chunk_dedup_matches_python_replay_randomized(spark):
    """Randomized differential test: chunk_dedup output equals a
    straightforward serial Python replay on corpora with planted
    chunk reuse (seeded generator — deterministic)."""
    import random

    from openoa_spark.datapipe.dedup import chunk_dedup

    rng = random.Random(1234)
    vocab = [f"t{i}" for i in range(30)]
    CT = 5

    for trial in range(6):
        docs = []
        pool = []  # previously-emitted chunks to replant
        for did in range(rng.randint(3, 12)):
            n_ch = rng.randint(1, 6)
            parts = []
            for _ in range(n_ch):
                if pool and rng.random() < 0.4:
                    parts.append(rng.choice(pool))
                else:
                    ch = " ".join(rng.choice(vocab) for _ in range(CT))
                    pool.append(ch)
                    parts.append(ch)
            docs.append((did, " ".join(parts)))
        df = spark.createDataFrame(docs, "doc_id long, text string")
        got = {
            r["doc_id"]: (r["n_kept"], r["clean_text"])
            for r in chunk_dedup(df, "text", "doc_id", CT).collect()
        }
        # serial replay
        seen, want = set(), {}
        for did, text in sorted(docs):
            toks = text.split(" ")
            kept = []
            for i in range(0, len(toks), CT):
                ch = " ".join(toks[i : i + CT])
                if ch not in seen:
                    seen.add(ch)
                    kept.append(ch)
            if kept:
                want[did] = (len(kept), " ".join(kept))
        assert got == want, f"trial {trial}"


def test_gopher_flags(spark):
    long_ok = " ".join(["the", "band", "went", "to", "the", "show"] * 10)
    short = "the cat sat on the mat"  # fails word count only... and len
    no_stop = " ".join(["word"] * 60)  # no required stopwords
    digits = " ".join(["123"] * 40 + ["the", "to"] + ["word"] * 10)
    df = spark.createDataFrame(
        [(1, long_ok), (2, short), (3, no_stop), (4, digits)],
        ["doc_id", "t"],
    )
    out = {
        r["doc_id"]: r["g"]
        for r in df.select(
            "doc_id", text.gopher_flags("t").alias("g")
        ).collect()
    }
    g1 = out[1]
    assert g1.n_words == 60
    assert g1.pass_word_count and g1.pass_mean_word_len
    assert g1.pass_alpha_ratio and g1.pass_stopwords
    assert g1.stop_hits == 2  # 'the' and 'to'
    g2 = out[2]
    assert not g2.pass_word_count  # 6 words < 50
    assert g2.stop_hits == 1 and not g2.pass_stopwords  # only 'the'
    assert not g2.pass_mean_word_len  # 17 chars / 6 words < 3
    g3 = out[3]
    assert g3.stop_hits == 0 and not g3.pass_stopwords
    assert g3.pass_word_count  # 60 words
    g4 = out[4]
    # 40 of 52 words are digit-only -> alpha frac = 12/52 < 80%
    assert not g4.pass_alpha_ratio
    assert g4.n_alpha_words == 12


def test_gopher_flags_mean_word_len_bounds(spark):
    # mean word length 2 (< 3) and 12 (> 10), via integer-exact bounds
    df = spark.createDataFrame(
        [(1, " ".join(["ab"] * 50)), (2, " ".join(["abcdefghijkl"] * 50))],
        ["doc_id", "t"],
    )
    rows = {
        r["doc_id"]: r["g"]
        for r in df.select(
            "doc_id", text.gopher_flags("t").alias("g")
        ).collect()
    }
    assert not rows[1].pass_mean_word_len
    assert not rows[2].pass_mean_word_len


def test_top_ngram_char_frac(spark):
    # "a b a b a b": bigrams = [a b, b a, a b, b a, a b] -> top "a b"
    # cnt=3, len=3 -> 9 chars / 11 chars = 0.818182
    df = spark.createDataFrame(
        [(1, "a b a b a b"), (2, "one"), (3, "x y")], ["doc_id", "text"]
    )
    out = {
        r["doc_id"]: r
        for r in text.top_ngram_char_frac(df, "text", "doc_id").collect()
    }
    assert out[1]["top_gram_chars"] == 9
    assert abs(out[1]["rep_frac"] - round(9 / 11, 6)) < 1e-12
    assert 2 not in out  # single word: no bigram -> omitted
    assert out[3]["top_gram_chars"] == 3 and out[3]["rep_frac"] == 1.0


def test_incremental_embedding_dedup(spark, tmp_path):
    """History-wins cross-batch suppression, within-batch min-id
    representative, pass-through of unpaired vectors, and replay
    idempotence (re-running a committed batch yields zero rows)."""
    from openoa_spark.datapipe.similarity import (
        incremental_embedding_dedup,
        random_hyperplanes,
    )

    planes = random_hyperplanes(2, 6, seed=7)
    state = str(tmp_path / "emb_state")
    b1 = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.999, 0.0447]), (3, [0.0, 1.0])],
        ["vec_id", "embedding"],
    )
    acc1 = incremental_embedding_dedup(
        spark, b1, "embedding", "vec_id", state, planes, 0.95
    )
    assert sorted(r["vec_id"] for r in acc1.collect()) == [1, 3]

    # batch 2: near-dup of history (1), a fresh direction, and a
    # within-batch duplicate pair (20, 21)
    b2 = spark.createDataFrame(
        [(10, [0.998, 0.0632]), (20, [0.7071, -0.7071]),
         (21, [0.7193, -0.6947]), (30, [-1.0, 0.05])],
        ["vec_id", "embedding"],
    )
    acc2 = incremental_embedding_dedup(
        spark, b2, "embedding", "vec_id", state, planes, 0.95
    )
    assert sorted(r["vec_id"] for r in acc2.collect()) == [20, 30]

    # replay of batch 2 against committed state: zero rows
    acc2r = incremental_embedding_dedup(
        spark, b2, "embedding", "vec_id", state, planes, 0.95
    )
    assert acc2r.count() == 0


def test_stream_embedding_dedup_matches_serial(spark, tmp_path):
    import pyspark.sql.types as T

    from openoa_spark.datapipe.similarity import random_hyperplanes
    from openoa_spark.streaming import ingest

    planes = random_hyperplanes(2, 6, seed=7)
    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    state = str(tmp_path / "state")
    schema = T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.DoubleType())),
        ]
    )
    spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.999, 0.0447]), (3, [0.0, 1.0])], schema
    ).write.mode("append").parquet(src)
    q = ingest.stream_embedding_dedup(
        ingest.file_stream(spark, src, schema), "embedding", "vec_id",
        out, state, str(tmp_path / "ckpt"), planes, 0.95,
    )
    q.awaitTermination(120)
    spark.createDataFrame(
        [(10, [0.998, 0.0632]), (11, [-0.6, -0.8])], schema
    ).write.mode("append").parquet(src)
    q2 = ingest.stream_embedding_dedup(
        ingest.file_stream(spark, src, schema), "embedding", "vec_id",
        out, state, str(tmp_path / "ckpt"), planes, 0.95,
    )
    q2.awaitTermination(120)
    assert sorted(
        r["vec_id"] for r in spark.read.parquet(out).collect()
    ) == [1, 3, 11]


def test_duplicated_span_removal_cross_alignment(spark):
    """A 10-token span repeated at a DIFFERENT alignment in a later
    doc is excised there (chunk-grain dedup would miss it), the first
    occurrence survives untouched, and a doc that is entirely repeated
    content vanishes."""
    span = "a1 a2 a3 a4 a5 a6 a7 a8 a9 a10"
    d1 = f"intro words here {span} closing words"
    d2 = f"x1 x2 x3 x4 {span} y1"        # span at offset 4 (offset 3 in d1)
    d3 = span                             # fully duplicated -> vanishes
    df = spark.createDataFrame(
        [(1, d1), (2, d2), (3, d3)], ["doc_id", "text"]
    )
    out = {
        r["doc_id"]: (r["n_kept"], r["clean_text"])
        for r in dedup.duplicated_span_removal(df, "text", "doc_id", 10)
        .collect()
    }
    assert out[1] == (15, d1)  # first occurrence keeps everything
    assert out[2] == (5, "x1 x2 x3 x4 y1")
    assert 3 not in out


def test_duplicated_span_removal_self_repetition(spark):
    """Within-doc repetition at stride 1: a run of one repeated token
    collapses toward its first window (documented approximation)."""
    df = spark.createDataFrame([(1, " ".join(["r"] * 14))], ["doc_id", "text"])
    out = dedup.duplicated_span_removal(df, "text", "doc_id", 10).first()
    # windows at pos 0..4 all identical; pos 0 owns; covered = 1..13
    assert out["n_kept"] == 1 and out["clean_text"] == "r"


def test_duplicated_span_removal_matches_python_replay(spark):
    import random

    rnd = random.Random(99)
    vocab = [f"w{i}" for i in range(12)]
    docs = []
    shared = [rnd.choice(vocab) for _ in range(10)]
    for i in range(12):
        words = [rnd.choice(vocab) for _ in range(rnd.randint(3, 30))]
        if i % 3 == 0:  # plant the shared span at a random offset
            at = rnd.randint(0, len(words))
            words = words[:at] + shared + words[at:]
        docs.append((i, " ".join(words)))

    k = 5
    # python replay
    toks = {i: t.split() for i, t in docs}
    first = {}
    dup = []
    for i, ws in sorted(toks.items()):
        for p in range(len(ws) - k + 1):
            win = tuple(ws[p:p + k])
            if win in first:
                dup.append((i, p))
            else:
                first[win] = (i, p)
    covered = {(i, p + d) for (i, p) in dup for d in range(k)}
    want = {}
    for i, ws in toks.items():
        keep = [w for p, w in enumerate(ws) if (i, p) not in covered]
        if keep:
            want[i] = (len(keep), " ".join(keep))

    got = {
        r["doc_id"]: (r["n_kept"], r["clean_text"])
        for r in dedup.duplicated_span_removal(
            spark.createDataFrame(docs, ["doc_id", "text"]),
            "text", "doc_id", k,
        ).collect()
    }
    assert got == want


def test_embedding_pca_matches_numpy(spark):
    import numpy as np

    rng = np.random.default_rng(11)
    # anisotropic cloud: variance concentrated along two directions
    base = rng.normal(0, 1, (200, 2)) @ np.array(
        [[5.0, 0, 0, 0, 0, 0], [0, 2.0, 0, 0, 0, 0]]
    )
    x = base + rng.normal(0, 0.1, (200, 6))
    df = spark.createDataFrame(
        [(i, [float(v) for v in row]) for i, row in enumerate(x)],
        ["vec_id", "embedding"],
    )
    out, evr = similarity.embedding_pca(df, "embedding", 2, id_col="vec_id")
    got = {r["vec_id"]: np.array(r["pca"]) for r in out.collect()}

    # NumPy reference PCA with the same sign canonicalization
    mu = x.mean(axis=0)
    c = np.cov(x, rowvar=False, ddof=1)
    w, v = np.linalg.eigh(c)
    order = np.argsort(w)[::-1][:2]
    comps = v[:, order].T
    for i in range(2):
        j = int(np.argmax(np.abs(comps[i])))
        if comps[i, j] < 0:
            comps[i] = -comps[i]
    want = (x - mu) @ comps.T
    for i in range(len(x)):
        assert np.allclose(got[i], want[i], atol=1e-8), i
    assert np.allclose(sorted(evr, reverse=True), sorted(w, reverse=True)[:2])
    assert evr[0] > 20 and evr[1] > 3  # the planted 5²/2² directions


def test_embedding_pca_partitioning_invariant(spark):
    import numpy as np

    rng = np.random.default_rng(3)
    x = rng.normal(0, 1, (60, 4))
    rows = [(i, [float(v) for v in r]) for i, r in enumerate(x)]
    a, _ = similarity.embedding_pca(
        spark.createDataFrame(rows, ["vec_id", "embedding"]).repartition(1),
        "embedding", 2, id_col="vec_id",
    )
    b, _ = similarity.embedding_pca(
        spark.createDataFrame(rows, ["vec_id", "embedding"]).repartition(13),
        "embedding", 2, id_col="vec_id",
    )
    ga = {r["vec_id"]: r["pca"] for r in a.collect()}
    gb = {r["vec_id"]: r["pca"] for r in b.collect()}
    for i in ga:
        assert np.allclose(ga[i], gb[i], atol=1e-9)


def test_ivf_index_build_query_roundtrip(spark, tmp_path):
    """Persisted IVF index: partition-pruned probe reads, query
    results match brute force when the right list is probed, and the
    postings scan's plan shows the cluster filter pushed down."""
    df = _cluster_vectors(spark)  # 4 well-separated clusters of 10
    path = str(tmp_path / "ivf")
    centers = similarity.build_ivf_index(
        df, "embedding", "vec_id", path, n_clusters=4, seed=42
    )
    assert len(centers) == 4

    query = [1.0, 0.02, 0.0, 0.01, 0.0, 0.0, 0.0, 0.0]
    got = similarity.query_ivf_index(spark, path, query, k=3, n_probe=1)
    want = similarity.brute_force_top_k(df, "embedding", "vec_id", query, k=3)
    assert [r["id"] for r in got.collect()] == [
        r["vec_id"] for r in want.collect()
    ]

    # probe filter reaches the postings scan (partition pruning)
    postings = spark.read.parquet(f"{path}/postings").where(
        F.col("cluster_id").isin([0, 1])
    )
    plan = postings._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan or "cluster_id" in plan


def test_curate_corpus_pipeline(spark):
    """The composed curation chain: each stage's ledger count is
    consistent with running the stage operators individually, and the
    planted junk (word-salad without stopwords, an exact duplicate, a
    near duplicate, a benchmark-contaminated doc) is removed while the
    clean documents survive."""
    from openoa_spark.datapipe.pipeline import CurationConfig, curate_corpus

    good1 = ("the band went to the show and that was a fine evening "
             "with plenty of room to spare for all of them " * 3)
    good2 = ("we have seen that the results align with the plan and "
             "that the numbers hold up under review " * 3)
    near_good1 = good1.replace("fine", "great")
    no_stop = " ".join(["word"] * 60)
    bench_text = ("which of the following statements about the moon "
                  "is true according to the passage provided here")
    contaminated = ("padding words around the probe " + bench_text +
                    " and that is the end of it with more to say "
                    "about the rest of the show tonight for everyone "
                    "because the closing act ran long and the crowd "
                    "stayed to hear the encore before heading home")
    rows = [
        (1, good1), (2, good2), (3, good1),          # 3 = exact dup of 1
        (4, near_good1),                              # near-dup of 1
        (5, no_stop),                                 # gopher kill
        (6, contaminated),                            # decontam kill
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out, ledger = curate_corpus(
        df,
        CurationConfig(
            benchmark_texts=[bench_text], jaccard_threshold=0.4,
            max_top_bigram_frac=None,
        ),
    )
    stages = dict(ledger)
    assert stages["input"] == 6
    assert stages["gopher_rules"] == 5          # doc 5 out
    assert stages["exact_dedup"] == 4           # doc 3 out
    assert stages["near_dedup"] == 3            # doc 4 out
    assert stages["decontamination"] == 2       # doc 6 out
    assert sorted(r["doc_id"] for r in out.collect()) == [1, 2]

    # report=False stays lazy and agrees
    out2, ledger2 = curate_corpus(
        df,
        CurationConfig(
            benchmark_texts=[bench_text], jaccard_threshold=0.4,
            max_top_bigram_frac=None,
        ),
        report=False,
    )
    assert ledger2 == []
    assert sorted(r["doc_id"] for r in out2.collect()) == [1, 2]


def test_curate_corpus_zero_survivor_warning(spark):
    """The Gopher trap (r9 verdict item 5): a corpus without English
    stopwords is silently emptied by the required-stopword gate. With
    report=True the ledger must now raise a loud RuntimeWarning naming
    the wiped-out stage AND the dominant failed flag, instead of
    handing back an empty frame with no explanation."""
    import warnings as w

    from openoa_spark.datapipe.pipeline import CurationConfig, curate_corpus

    # 60-word docs pass every gopher rule EXCEPT pass_stopwords
    rows = [
        (j, " ".join(f"token{k}" for k in range(60))) for j in range(5)
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    with w.catch_warnings(record=True) as caught:
        w.simplefilter("always")
        out, ledger = curate_corpus(
            df,
            CurationConfig(
                near_dedup=False, benchmark_texts=[],
                max_top_bigram_frac=None,
            ),
        )
    assert dict(ledger)["gopher_rules"] == 0
    assert out.count() == 0
    msgs = [str(c.message) for c in caught
            if issubclass(c.category, RuntimeWarning)]
    hit = [m for m in msgs if "gopher_rules" in m]
    assert hit, f"no wipe-out warning raised; warnings seen: {msgs}"
    assert "pass_stopwords" in hit[0], hit[0]

    # a healthy chain raises nothing
    good = ("the band went to the show and that was a fine evening "
            "with plenty of room to spare for all of them " * 3)
    ok_df = spark.createDataFrame(
        [(1, good), (2, good + " extra words here")], ["doc_id", "text"]
    )
    with w.catch_warnings(record=True) as caught2:
        w.simplefilter("always")
        curate_corpus(
            ok_df,
            CurationConfig(
                near_dedup=False, benchmark_texts=[],
                max_top_bigram_frac=None,
            ),
        )
    assert not [c for c in caught2
                if issubclass(c.category, RuntimeWarning)
                and "curate_corpus" in str(c.message)]


def test_minhash_band_bucket_cap_bounds_hot_template(spark):
    """Adversarial LSH skew: when a large slice of the corpus shares
    one template, every copy lands in the same band bucket and the
    clique self-join goes quadratic. max_band_bucket degrades those
    buckets to star topology (min-id representative): pair count
    drops from O(m²) to O(m·bands) while the kept-set after
    connected-components dedup is unchanged."""
    from openoa_spark.datapipe import dedup

    m = 60  # hot-template copies
    rows = [(i, "the quick brown template fox shared by every copy "
                "of this scraped page body") for i in range(m)]
    rows += [
        (1000 + i, f"unique document {i} with its own words "
                   f"entropy{i * 37} tail{i * 91}")
        for i in range(20)
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])

    exact_pairs = dedup.minhash_near_dup_pairs(
        df, "text", "doc_id", num_hashes=32, bands=8
    )
    capped_pairs = dedup.minhash_near_dup_pairs(
        df, "text", "doc_id", num_hashes=32, bands=8, max_band_bucket=10
    )
    n_exact = exact_pairs.count()
    n_capped = capped_pairs.count()
    assert n_exact >= m * (m - 1) // 2          # clique blowup
    assert n_capped <= 4 * m                    # star stays linear
    # star keeps the connectivity: identical kept-set after dedup
    kept_exact = sorted(
        r["doc_id"]
        for r in dedup.near_dedup(
            df, "text", "doc_id", num_hashes=32, bands=8
        ).collect()
    )
    kept_capped = sorted(
        r["doc_id"]
        for r in dedup.near_dedup(
            df, "text", "doc_id", num_hashes=32, bands=8,
            max_band_bucket=10,
        ).collect()
    )
    assert kept_capped == kept_exact
    assert 0 in kept_capped and 1 not in kept_capped

    # small-bucket (≤ cap) behavior is byte-identical to exact mode
    tiny = spark.createDataFrame(rows[:5] + rows[-5:], ["doc_id", "text"])
    a = sorted(map(tuple, dedup.minhash_near_dup_pairs(
        tiny, "text", "doc_id", num_hashes=32, bands=8
    ).collect()))
    b = sorted(map(tuple, dedup.minhash_near_dup_pairs(
        tiny, "text", "doc_id", num_hashes=32, bands=8,
        max_band_bucket=10,
    ).collect()))
    assert a == b


def _np_lloyd_micros(vecs, k, iters):
    """Python replay of kmeans_assignments' exact semantics: 1e-6
    micro-grid (half away from zero), integer squared-L2, ties to
    lowest cid, integer half-away means, empty-cluster carry."""
    import numpy as np

    arr = np.asarray(vecs, dtype=np.float64) * 1e6
    mic = (np.sign(arr) * np.floor(np.abs(arr) + 0.5)).astype(np.int64)
    order = np.argsort(np.arange(len(vecs)))  # ids are 0..n-1 here
    cents = [mic[i].tolist() for i in order[:k]]

    def assign(cs):
        d2 = ((mic[:, None, :] - np.asarray(cs, dtype=np.int64)[None, :, :]) ** 2).sum(
            axis=-1
        )
        return d2.argmin(axis=1)  # first occurrence = lowest cid

    for _ in range(iters - 1):
        cid = assign(cents)
        new = []
        for c in range(k):
            m = mic[cid == c]
            if len(m) == 0:
                new.append(cents[c])
                continue
            row = []
            for s in (int(x) for x in m.sum(axis=0, dtype=np.int64)):
                n = len(m)
                row.append(
                    (2 * s + n) // (2 * n)
                    if s >= 0
                    else -((2 * (-s) + n) // (2 * n))
                )
            new.append(row)
        cents = new
    return assign(cents)


def test_kmeans_matches_python_lloyd_randomized(spark):
    import numpy as np

    rng = np.random.RandomState(7)
    vecs = rng.randn(40, 5)
    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<double>",
    )
    got = {
        r["vec_id"]: r["cluster"]
        for r in similarity.kmeans_assignments(
            df, "embedding", "vec_id", k=3, iters=3
        ).collect()
    }
    want = _np_lloyd_micros(vecs, 3, 3)
    assert got == {i: int(c) for i, c in enumerate(want)}


def test_kmeans_partitioning_invariant(spark):
    import numpy as np

    rng = np.random.RandomState(11)
    vecs = rng.randn(60, 4)
    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<double>",
    )
    a = similarity.kmeans_assignments(df, "embedding", "vec_id", k=4, iters=2)
    b = similarity.kmeans_assignments(
        df.repartition(7), "embedding", "vec_id", k=4, iters=2
    )
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))


def test_kmeans_empty_cluster_carries_forward(spark):
    # two identical seed vectors: the tie goes to cid 0, so cluster 1
    # is empty from pass one — its centroid must carry forward (and
    # the run must not crash or NaN)
    rows = [(0, [0.0, 0.0]), (1, [0.0, 0.0])] + [
        (i, [5.0, 5.0]) for i in range(2, 12)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = similarity.kmeans_assignments(df, "embedding", "vec_id", k=2, iters=3)
    got = {r["vec_id"]: r["cluster"] for r in out.collect()}
    # pass 1: identical centroids -> EVERY point ties to cid 0, so
    # cluster 1 is empty and carries [0,0]; pass 2: the carried
    # centroid captures the zero vectors while the far group stays
    # with the moved cluster-0 centroid — carry-forward is what makes
    # cluster 1 recoverable at all
    assert got[0] == 1 and got[1] == 1
    assert all(got[i] == 0 for i in range(2, 12))
    assert len(got) == 12


def test_kmeans_k_exceeding_rows_raises(spark):
    df = spark.createDataFrame(
        [(0, [1.0]), (1, [2.0])], "vec_id long, embedding array<double>"
    )
    with pytest.raises(ValueError, match="exceeds row count"):
        similarity.kmeans_assignments(df, "embedding", "vec_id", k=5, iters=1)


def test_semantic_dedup_keeps_lowest_id_per_group(spark):
    # two tight groups far apart + a lone point; near-identical pairs
    # inside each group must collapse to the lowest id, the loner and
    # the group survivors remain
    rows = [
        (0, [1.0, 0.0, 0.0]),
        (1, [0.999, 0.001, 0.0]),   # dup of 0
        (2, [0.998, -0.002, 0.0]),  # dup of 0 (via component chain)
        (10, [0.0, 1.0, 0.0]),
        (11, [0.001, 0.999, 0.0]),  # dup of 10
        (20, [0.0, 0.0, -1.0]),     # loner
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    kept = sorted(
        r["vec_id"]
        for r in similarity.semantic_dedup(
            df, "embedding", "vec_id", k=3, iters=2, threshold=0.999
        ).collect()
    )
    assert kept == [0, 10, 20]


def test_semantic_dedup_empty_input(spark):
    # zero rows -> k-means fits no centroids; the cluster pair join
    # must still plan and return nothing, not raise
    df = spark.createDataFrame([], "vec_id long, embedding array<double>")
    out = similarity.semantic_dedup(df, "embedding", "vec_id", k=3, iters=2)
    assert out.schema == df.schema
    assert out.collect() == []


@pytest.mark.parametrize("ansi", ["true", "false"])
@pytest.mark.parametrize("width", [3, 768])
def test_dot_and_cosine_null_contract(spark, width, ansi):
    # dot is the exact sequential fold on equal lengths and NULL, never
    # an error, on a short, long, NULL, empty or NULL-element vector in
    # either operand order; a cosine against an all-zero vector is NULL
    # too, not a DIVIDE_BY_ZERO under ANSI
    import math
    import random

    def fold(x, y):
        acc = 0.0
        for a, b in zip(x, y):
            acc += a * b
        return acc

    rng = random.Random(width)
    q_vals = [rng.uniform(-1, 1) for _ in range(width)]
    full = [rng.uniform(-1, 1) for _ in range(width)]
    flipped = [-x for x in full[::-1]]
    zero = [0.0] * width
    rows = [
        (1, full),
        (2, flipped),
        (3, full[:-1]),
        (4, full + [0.5]),
        (5, None),
        (6, []),
        (7, full[:-1] + [None]),
        (8, zero),
    ]
    df = spark.createDataFrame(rows, "id int, v array<double>")
    q = F.array(*[F.lit(x) for x in q_vals])
    v = F.col("v")
    prev = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", ansi)
    try:
        got = {
            r["id"]: (r["vq"], r["qv"])
            for r in df.select(
                "id",
                similarity.dot(v, q).alias("vq"),
                similarity.dot(q, v).alias("qv"),
            ).collect()
        }
        cos = {
            r["id"]: r["cosine"]
            for r in similarity.cosine_to_query(df, "v", q_vals).collect()
        }
        pairs = {
            (r["id_a"], r["id_b"]): r["cosine"]
            for r in similarity.all_pairs_top_k(
                df.where(F.col("id").isin(1, 2, 8)), "v", "id"
            ).collect()
        }
    finally:
        spark.conf.set("spark.sql.ansi.enabled", prev)
    for i, vec in ((1, full), (2, flipped), (8, zero)):
        assert got[i] == (fold(vec, q_vals), fold(q_vals, vec)), (i, got[i])
    for i in (3, 4, 5, 6, 7):
        assert got[i] == (None, None), (i, got[i])

    def norm(x):
        return math.sqrt(fold(x, x))

    for i, vec in ((1, full), (2, flipped)):
        assert cos[i] == fold(vec, q_vals) / (norm(vec) * norm(q_vals)), i
    for i in (3, 4, 5, 6, 7, 8):
        assert cos[i] is None, (i, cos[i])
    expect = round(fold(full, flipped) / (norm(full) * norm(flipped)), 6)
    assert abs(pairs[(1, 2)] - expect) <= 1e-6
    assert pairs[(2, 1)] == pairs[(1, 2)]
    assert {p: c for p, c in pairs.items() if 8 in p} == {
        (1, 8): None, (2, 8): None, (8, 1): None, (8, 2): None,
    }


def test_semantic_dedup_salted_join_matches_unsalted(spark):
    # the r12 hot-key salt (a-side pmod(xxhash64) salt, b-side
    # replicated to every salt) must produce the IDENTICAL pair set —
    # and therefore identical survivors — as the plain cluster join:
    # each (a, b) pair meets exactly once, at (cluster, salt(a))
    import random

    rng = random.Random(7)
    rows = []
    for i in range(60):
        base = [1.0, 0.0, 0.0] if i % 3 == 0 else (
            [0.0, 1.0, 0.0] if i % 3 == 1 else [0.0, 0.0, 1.0]
        )
        rows.append(
            (i, [x + rng.uniform(-0.01, 0.01) for x in base])
        )
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>"
    )
    kw = dict(k=3, iters=2, threshold=0.99)
    unsalted = sorted(
        r["vec_id"]
        for r in similarity.semantic_dedup(
            df, "embedding", "vec_id", salt=0, **kw
        ).collect()
    )
    salted = sorted(
        r["vec_id"]
        for r in similarity.semantic_dedup(
            df, "embedding", "vec_id", salt=16, **kw
        ).collect()
    )
    assert salted == unsalted
    # the pair frames themselves must match (id pairs AND cosines)
    up = {
        (r["id_a"], r["id_b"], r["cosine"])
        for r in similarity._semantic_pairs(
            df, "embedding", "vec_id", 3, 2, 0.99, 0
        ).collect()
    }
    sp = {
        (r["id_a"], r["id_b"], r["cosine"])
        for r in similarity._semantic_pairs(
            df, "embedding", "vec_id", 3, 2, 0.99, 16
        ).collect()
    }
    assert sp == up and len(sp) > 0


def test_kmeans_gemm_strategy_bit_identical_to_expr(spark):
    # the large-k Arrow GEMM kernel must reproduce the JVM expression
    # kernel exactly — same integer grid, same lowest-cid tie rule —
    # including through the update iterations
    import numpy as np

    rng = np.random.RandomState(23)
    vecs = rng.randn(80, 6)
    # plant exact ties: duplicate vectors at ids 70..79
    vecs[70:] = vecs[:10]
    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<double>",
    )
    a = similarity.kmeans_assignments(
        df, "embedding", "vec_id", k=5, iters=3, strategy="expr"
    )
    b = similarity.kmeans_assignments(
        df, "embedding", "vec_id", k=5, iters=3, strategy="gemm"
    )
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))


def test_kmeans_cluster_profile_exact_inertia(spark):
    import numpy as np

    rng = np.random.RandomState(31)
    vecs = rng.randn(50, 4)
    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<double>",
    )
    prof = {
        r["cluster"]: (r["n_vecs"], r["inertia"])
        for r in similarity.kmeans_cluster_profile(
            df, "embedding", "vec_id", k=3, iters=2
        ).collect()
    }
    # replay iters=2 exactly: pass-1 assignment against the SEED
    # centroids, one integer-mean update from THAT assignment, final
    # assignment + exact micros^2 inertia against the updated centroids
    arr = vecs * 1e6
    mic = (np.sign(arr) * np.floor(np.abs(arr) + 0.5)).astype(np.int64)
    seeds = np.asarray([mic[i] for i in range(3)], dtype=np.int64)
    first = (
        ((mic[:, None, :] - seeds[None, :, :]) ** 2).sum(axis=-1).argmin(axis=1)
    )
    cents = []
    for c in range(3):
        m = mic[first == c]
        assert len(m) > 0
        row = []
        for s in (int(x) for x in m.sum(axis=0, dtype=np.int64)):
            n = len(m)
            row.append(
                (2 * s + n) // (2 * n) if s >= 0 else -((2 * (-s) + n) // (2 * n))
            )
        cents.append(row)
    C = np.asarray(cents, dtype=np.int64)
    d2 = ((mic[:, None, :] - C[None, :, :]) ** 2).sum(axis=-1)
    final = d2.argmin(axis=1)
    for c in range(3):
        n = int((final == c).sum())
        inertia = float(d2[final == c, c].sum())
        assert prof[c][0] == n
        assert prof[c][1] == inertia


def test_cluster_balanced_sample_exact_m_per_cluster(spark):
    import numpy as np

    rng = np.random.RandomState(37)
    vecs = rng.randn(90, 3)
    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<double>",
    )
    out = similarity.cluster_balanced_sample(
        df, "embedding", "vec_id", k=3, iters=2, m=7, seed=1
    ).collect()
    by_cluster = {}
    for r in out:
        by_cluster.setdefault(r["cluster"], []).append(r["vec_id"])
    asg = {
        r["vec_id"]: r["cluster"]
        for r in similarity.kmeans_assignments(
            df, "embedding", "vec_id", k=3, iters=2
        ).collect()
    }
    sizes = {}
    for _, c in asg.items():
        sizes[c] = sizes.get(c, 0) + 1
    for c, ids in by_cluster.items():
        assert len(ids) == min(7, sizes[c])
        assert all(asg[i] == c for i in ids)
    # determinism: same seed -> same selection; different seed differs
    again = similarity.cluster_balanced_sample(
        df, "embedding", "vec_id", k=3, iters=2, m=7, seed=1
    ).collect()
    assert sorted(map(tuple, again)) == sorted(map(tuple, out))
    other = similarity.cluster_balanced_sample(
        df, "embedding", "vec_id", k=3, iters=2, m=7, seed=2
    ).collect()
    assert sorted(map(tuple, other)) != sorted(map(tuple, out))


def test_incremental_kmeans_across_batches(spark, tmp_path):
    """First batch = full deterministic fit; later batches assign
    against exact suffstat centroids; keyed replay is bit-identical
    and appends nothing."""
    import numpy as np

    from openoa_spark.datapipe.similarity import (
        incremental_kmeans,
        kmeans_state_centroids,
    )

    state = str(tmp_path / "km_state")
    rng = np.random.RandomState(41)
    v1 = rng.randn(30, 4)
    b1 = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(v1)],
        "vec_id long, embedding array<double>",
    )
    a1 = incremental_kmeans(
        spark, b1, "embedding", "vec_id", state, k=3, iters_first=2,
        batch_id=0,
    )
    want = similarity.kmeans_assignments(b1, "embedding", "vec_id", k=3, iters=2)
    assert sorted(map(tuple, a1.collect())) == sorted(map(tuple, want.collect()))

    # crash-replay of batch 0 (the r5 ADVICE gap): the exclude-fold
    # sees zero surviving suffstats and falls back to the seeds table,
    # which persists the FITTED centroids (not the raw lowest-id seed
    # vectors) — any iters_first > 1 diverges otherwise. The replay
    # must land bit-identical assignments and append nothing.
    n0 = spark.read.parquet(f"{state}/suffstats").count()
    a1r = incremental_kmeans(
        spark, b1, "embedding", "vec_id", state, k=3, iters_first=2,
        batch_id=0,
    )
    assert sorted(map(tuple, a1r.collect())) == sorted(map(tuple, a1.collect()))
    assert spark.read.parquet(f"{state}/suffstats").count() == n0

    # state centroids must equal the exact integer grid-mean of batch-1
    # members under the final assignment
    cents = kmeans_state_centroids(spark, state)
    arr = v1 * 1e6
    mic = (np.sign(arr) * np.floor(np.abs(arr) + 0.5)).astype(np.int64)
    asg = {r["vec_id"]: r["cluster"] for r in a1.collect()}
    for cid in range(3):
        members = mic[[asg[i] == cid for i in range(30)]]
        n = len(members)
        assert n > 0
        for pos, s in enumerate(int(x) for x in members.sum(axis=0)):
            m = (2 * s + n) // (2 * n) if s >= 0 else -((2 * (-s) + n) // (2 * n))
            assert cents[cid][pos] == m

    # batch 2 assigns against those centroids (replay in numpy)
    v2 = rng.randn(12, 4)
    b2 = spark.createDataFrame(
        [(100 + i, [float(x) for x in v]) for i, v in enumerate(v2)],
        "vec_id long, embedding array<double>",
    )
    a2 = incremental_kmeans(
        spark, b2, "embedding", "vec_id", state, k=3, batch_id=1
    )
    got2 = {r["vec_id"]: r["cluster"] for r in a2.collect()}
    arr2 = v2 * 1e6
    mic2 = (np.sign(arr2) * np.floor(np.abs(arr2) + 0.5)).astype(np.int64)
    C = np.asarray(cents, dtype=np.int64)
    want2 = ((mic2[:, None, :] - C[None, :, :]) ** 2).sum(axis=-1).argmin(axis=1)
    assert got2 == {100 + i: int(c) for i, c in enumerate(want2)}

    # keyed replay of batch 2: same assignments, no duplicate append
    n_rows = spark.read.parquet(f"{state}/suffstats").count()
    a2r = incremental_kmeans(
        spark, b2, "embedding", "vec_id", state, k=3, batch_id=1
    )
    assert sorted(map(tuple, a2r.collect())) == sorted(map(tuple, a2.collect()))
    assert spark.read.parquet(f"{state}/suffstats").count() == n_rows
    # and the batch DID move the centroids for the next batch
    cents2 = kmeans_state_centroids(spark, state)
    assert cents2 != cents


def test_stream_cluster_assign_matches_serial(spark, tmp_path):
    import numpy as np
    import pyspark.sql.types as T

    from openoa_spark.datapipe.similarity import incremental_kmeans
    from openoa_spark.streaming import ingest

    rng = np.random.RandomState(43)
    v1, v2 = rng.randn(20, 3), rng.randn(8, 3)
    schema = T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.DoubleType())),
        ]
    )
    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    state = str(tmp_path / "state")
    spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(v1)], schema
    ).write.mode("append").parquet(src)
    q = ingest.stream_cluster_assign(
        ingest.file_stream(spark, src, schema), "embedding", "vec_id",
        out, state, str(tmp_path / "ckpt"), k=3, iters_first=2,
    )
    q.awaitTermination(120)
    spark.createDataFrame(
        [(100 + i, [float(x) for x in v]) for i, v in enumerate(v2)], schema
    ).write.mode("append").parquet(src)
    q2 = ingest.stream_cluster_assign(
        ingest.file_stream(spark, src, schema), "embedding", "vec_id",
        out, state, str(tmp_path / "ckpt"), k=3, iters_first=2,
    )
    q2.awaitTermination(120)

    # serial twin
    s_state = str(tmp_path / "s_state")
    b1 = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(v1)], schema
    )
    b2 = spark.createDataFrame(
        [(100 + i, [float(x) for x in v]) for i, v in enumerate(v2)], schema
    )
    s1 = incremental_kmeans(
        spark, b1, "embedding", "vec_id", s_state, k=3, iters_first=2,
        batch_id=0,
    ).collect()
    s2 = incremental_kmeans(
        spark, b2, "embedding", "vec_id", s_state, k=3, batch_id=1
    ).collect()
    want = sorted([(r["vec_id"], r["cluster"]) for r in (*s1, *s2)])
    got = sorted(
        (r["vec_id"], r["cluster"])
        for r in spark.read.parquet(out).select("vec_id", "cluster").collect()
    )
    assert got == want


def test_tumbling_word_segments(spark):
    df = spark.createDataFrame(
        [("A b  C d e",), ("",), ("solo",)], ["t"]
    )
    out = [
        r["s"]
        for r in df.select(
            text.tumbling_word_segments("t", 2).alias("s")
        ).collect()
    ]
    assert out == [["a b", "c d", "e"], [], ["solo"]]


def test_boilerplate_removal_literal_path(spark):
    # 'nav bar' opens 3 of 5 docs (60% >= 50% threshold) -> removed;
    # 'alpha beta' is only 2/5 = 40% and survives in order.
    rows = [
        (1, "nav bar alpha beta gamma delta"),
        (2, "nav bar epsilon zeta"),
        (3, "nav bar alpha beta"),
        (4, "unique content here"),
        (5, ""),  # empty doc must survive with zero segments
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    boiler = text.boilerplate_segments(
        df, "text", "doc_id", width=2, min_doc_pct=50
    ).collect()
    assert {(r["segment"], r["df_count"]) for r in boiler} == {
        ("nav bar", 3)
    }
    out = {
        r["doc_id"]: (r["n_segments"], r["n_removed"], r["clean_text"])
        for r in text.remove_boilerplate_segments(
            df, "text", "doc_id", width=2, min_doc_pct=50
        ).collect()
    }
    assert out == {
        1: (3, 1, "alpha beta gamma delta"),
        2: (2, 1, "epsilon zeta"),
        3: (2, 1, "alpha beta"),
        4: (2, 0, "unique content here"),
        5: (0, 0, ""),
    }


def test_boilerplate_removal_join_fallback_matches_literal(spark):
    rows = [
        (1, "nav bar alpha beta gamma delta"),
        (2, "nav bar epsilon zeta"),
        (3, "nav bar alpha beta"),
        (4, "unique content here"),
        (5, ""),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    lit_rows = sorted(
        text.remove_boilerplate_segments(
            df, "text", "doc_id", width=2, min_doc_pct=50
        ).collect()
    )
    join_rows = sorted(
        text.remove_boilerplate_segments(
            df, "text", "doc_id", width=2, min_doc_pct=50, max_literal=0
        ).collect()
    )
    assert lit_rows == join_rows


def test_boilerplate_removal_no_boilerplate(spark):
    df = spark.createDataFrame(
        [(1, "a b c"), (2, "d e f")], ["doc_id", "text"]
    )
    out = {
        r["doc_id"]: (r["n_removed"], r["clean_text"])
        for r in text.remove_boilerplate_segments(
            df, "text", "doc_id", width=2, min_doc_pct=90
        ).collect()
    }
    assert out == {1: (0, "a b c"), 2: (0, "d e f")}


def test_pii_counts_and_redaction(spark):
    rows = [
        # two emails, one ip, one phone
        (1, "mail a.b+c@x.co and D@y.org ip 10.0.0.1 call 555-123-4567"),
        # decoys only: version string (2 dots), TLD-less @, bare digits
        (2, "v1.2.3 ping a@b nums 12345 1.2 ok"),
        # ip at string start/end exercises \b at both edges
        (3, "192.168.0.255"),
        (4, ""),
    ]
    df = spark.createDataFrame(rows, ["i", "t"])
    got = {
        r["i"]: (r["c"]["n_email"], r["c"]["n_ipv4"], r["c"]["n_phone"], r["r"])
        for r in df.select(
            "i",
            text.pii_counts("t").alias("c"),
            text.redact_pii("t").alias("r"),
        ).collect()
    }
    assert got == {
        1: (2, 1, 1, "mail <EMAIL> and <EMAIL> ip <IP> call <PHONE>"),
        2: (0, 0, 0, "v1.2.3 ping a@b nums 12345 1.2 ok"),
        3: (0, 1, 0, "<IP>"),
        4: (0, 0, 0, ""),
    }


def test_pii_redaction_order_email_wins(spark):
    # the email local part contains a phone-shaped run; applying the
    # email pattern FIRST must swallow the whole token
    df = spark.createDataFrame([("555-123-4567x@mail.org",)], ["t"])
    assert (
        df.select(text.redact_pii("t").alias("r")).collect()[0]["r"]
        == "<EMAIL>"
    )


def test_bloom_decontaminate_matches_exact_overlap(spark):
    import random

    rng = random.Random(7)
    vocab = [f"w{i}" for i in range(40)]
    rows = [
        (i, " ".join(rng.choice(vocab) for _ in range(rng.randint(0, 30))))
        for i in range(300)
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    bench = df.where("doc_id % 10 = 0")
    corpus = df.where("doc_id % 10 <> 0")
    exact = {
        tuple(r)
        for r in text.benchmark_overlap(
            corpus, bench, "text", "doc_id", n=3
        ).collect()
    }
    bloomed = {
        tuple(r)
        for r in text.bloom_decontaminate(
            corpus, bench, "text", "doc_id", n=3, m_bits=1 << 16, k=5
        ).collect()
    }
    assert bloomed == exact


def test_scalar_quantize_embeddings(spark):
    from openoa_spark.datapipe import similarity

    rows = [
        (1, [1.0, -2.0, 0.0, 0.5]),
        (2, [-1.0, 4.0, 0.0, -0.25]),
        (3, [0.5, 1.0, 0.0, 0.125]),
    ]
    df = spark.createDataFrame(rows, "vec_id: bigint, embedding: array<double>")
    out = {
        r["vec_id"]: (r["q"], r["max_abs_err"])
        for r in similarity.scalar_quantize_embeddings(
            df, "embedding", "vec_id"
        ).collect()
    }
    # scales: [1.0, 4.0, 0 (all-zero dim -> q=0), 0.5]
    assert out[1][0] == [127, -63, 0, 127]
    assert out[2][0] == [-127, 127, 0, -63]
    assert out[3][0] == [64, 32, 0, 32]
    # reconstruction error bounded by scale/254 per dim (+ rounding)
    for vid, (_, err) in out.items():
        assert err <= 4.0 / 254 + 1e-6, (vid, err)


def test_sliding_token_chunks(spark):
    df = spark.createDataFrame(
        [
            (1, " ".join(f"t{i}" for i in range(10))),  # 10 toks
            (2, "a b c"),  # shorter than one chunk
            (3, " ".join(f"u{i}" for i in range(8))),  # exactly 2 strides
            (4, ""),  # empty doc -> NO chunks (split('') gotcha)
            (5, "   "),  # whitespace-only -> NO chunks
        ],
        ["doc_id", "text"],
    )
    out = sorted(
        (r["doc_id"], r["chunk_id"], r["n_tokens"], r["chunk_text"])
        for r in text.sliding_token_chunks(
            df, "text", "doc_id", chunk_tokens=4, stride=3
        ).collect()
    )
    # doc 1: starts 0,3,6 -> last chunk t6..t9 reaches the end; then stop
    assert [(c, n) for d, c, n, _ in out if d == 1] == [
        (0, 4), (1, 4), (2, 4),
    ]
    assert [t for d, c, n, t in out if d == 1][0] == "t0 t1 t2 t3"
    assert [t for d, c, n, t in out if d == 1][2] == "t6 t7 t8 t9"
    # doc 2: one short chunk
    assert [(c, n, t) for d, c, n, t in out if d == 2] == [(0, 3, "a b c")]
    # doc 3 (8 toks, chunk 4, stride 3): starts 0,3 -> 0..3, 3..6; start 6
    # is needed to reach tokens 7 -> extra = ceil((8-4)/3) = 2 -> starts 0,3,6
    assert [(c, n) for d, c, n, _ in out if d == 3] == [(0, 4), (1, 4), (2, 2)]
    assert not [r for r in out if r[0] in (4, 5)]


def test_curate_corpus_new_stages(spark):
    """Round-5 pipeline stages: PII redaction transforms rows in
    place, boilerplate removal strips corpus-frequency segments before
    any quality signal sees them, and the bloom decontamination path
    drops the same docs as the exact join path."""
    from openoa_spark.datapipe.pipeline import CurationConfig, curate_corpus

    boiler = "cookie banner accept all "
    bench_text = ("which of the following statements about the moon "
                  "is true according to the passage provided here")
    base = ("the band went to the show and that was a fine evening "
            "with plenty of room to spare for all of them ")
    rows = [
        (1, boiler + base * 3 + " mail me at joe@example.com"),
        (2, boiler + "we have seen that the results align with the "
            "plan and that the numbers hold up under review " * 3),
        (3, boiler + "padding words around the probe " + bench_text +
            " and that is the end of it with more to say about the "
            "rest of the show tonight for everyone because the "
            "closing act ran long and the crowd stayed to hear the "
            "encore before heading home"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    cfg = dict(
        redact_pii=True,
        remove_boilerplate=True,
        boilerplate_min_doc_pct=90,
        benchmark_texts=[bench_text],
        gopher_rules=False,
        max_top_bigram_frac=None,
        near_dedup=False,
        decontam_ngram=8,
    )
    out, ledger = curate_corpus(df, CurationConfig(**cfg))
    stages = dict(ledger)
    assert stages["pii_redaction"] == 3
    assert stages["boilerplate_removal"] == 3
    assert stages["decontamination"] == 2  # doc 3 out
    kept = {r["doc_id"]: r["text"] for r in out.collect()}
    assert sorted(kept) == [1, 2]
    # boilerplate cleaning lowercases (its normalize step), so the
    # placeholder survives as <email>
    assert "<email>" in kept[1] and "joe@example.com" not in kept[1]
    assert "cookie banner" not in kept[1]  # boilerplate segments gone

    out_bloom, _ = curate_corpus(
        df, CurationConfig(**cfg, bloom_decontam=True), report=False
    )
    assert sorted(r["doc_id"] for r in out_bloom.collect()) == [1, 2]


def test_product_quantize_matches_per_subspace_fits(spark):
    from openoa_spark.datapipe import similarity

    import random

    rng = random.Random(3)
    rows = [
        (i, [round(rng.uniform(-1, 1), 6) for _ in range(8)])
        for i in range(40)
    ]
    df = spark.createDataFrame(rows, "vec_id: bigint, embedding: array<double>")
    got = {
        r["vec_id"]: r["codes"]
        for r in similarity.product_quantize_embeddings(
            df, "embedding", "vec_id", dim=8, m=2, k=4, iters=2
        ).collect()
    }
    assert all(len(c) == 2 and all(0 <= x < 4 for x in c) for c in got.values())
    # each code column must equal an independent subspace fit
    from pyspark.sql import functions as F

    for j in range(2):
        sub = df.select(
            "vec_id", F.slice("embedding", j * 4 + 1, 4).alias("_s")
        )
        want = {
            r["vec_id"]: r["cluster"]
            for r in similarity.kmeans_assignments(
                sub, "_s", "vec_id", k=4, iters=2
            ).collect()
        }
        assert {v: c[j] for v, c in got.items()} == want


def test_product_quantize_gemm_matches_expr(spark):
    from openoa_spark.datapipe import similarity

    import random

    rng = random.Random(11)
    rows = [
        (i, [round(rng.uniform(-1, 1), 6) for _ in range(8)])
        for i in range(60)
    ]
    df = spark.createDataFrame(rows, "vec_id: bigint, embedding: array<double>")
    kw = dict(dim=8, m=4, k=3, iters=2)
    expr = {
        r["vec_id"]: r["codes"]
        for r in similarity.product_quantize_embeddings(
            df, "embedding", "vec_id", strategy="expr", **kw
        ).collect()
    }
    gemm = {
        r["vec_id"]: r["codes"]
        for r in similarity.product_quantize_embeddings(
            df, "embedding", "vec_id", strategy="gemm", **kw
        ).collect()
    }
    assert expr == gemm


def test_pq_adc_matches_python_lut(spark):
    """ADC ranking equals a driver-side replay: distances from the
    returned codes + codebooks, integer arithmetic, ties to lowest id."""
    from openoa_spark.datapipe import similarity

    import random

    rng = random.Random(23)
    rows = [
        (i, [round(rng.uniform(-1, 1), 6) for _ in range(8)])
        for i in range(50)
    ]
    df = spark.createDataFrame(rows, "vec_id: bigint, embedding: array<double>")
    codes_df, cents = similarity.pq_fit(
        df, "embedding", "vec_id", dim=8, m=2, k=4, iters=2
    )
    query = [round(rng.uniform(-1, 1), 6) for _ in range(8)]
    got = [
        (r["vec_id"], r["adc_d2"])
        for r in similarity.pq_adc_top_k(
            codes_df, cents, query, "vec_id", k_results=5
        ).collect()
    ]
    qm = [int(round(q * 1_000_000)) for q in query]
    codes = {r["vec_id"]: r["codes"] for r in codes_df.collect()}
    want_all = []
    for vid, cs in codes.items():
        d2 = sum(
            sum(
                (qm[j * 4 + i] - cents[j][cs[j]][i]) ** 2
                for i in range(4)
            )
            for j in range(2)
        )
        want_all.append((d2, vid))
    want = [(v, d) for d, v in sorted(want_all)[:5]]
    assert got == want


def test_ivf_pq_probes_only_nearest_lists(spark):
    """IVF-PQ results come only from the n_probe nearest coarse lists
    and rank identically to ADC over those lists' codes."""
    from openoa_spark.datapipe import similarity

    import random

    rng = random.Random(31)
    rows = [
        (i, [round(rng.uniform(-1, 1), 6) for _ in range(8)])
        for i in range(60)
    ]
    df = spark.createDataFrame(rows, "vec_id: bigint, embedding: array<double>")
    query = [round(rng.uniform(-1, 1), 6) for _ in range(8)]
    kw = dict(dim=8, coarse_k=3, n_probe=2, m=2, k=4, iters=2)
    got = [
        (r["vec_id"], r["cluster"], r["adc_d2"])
        for r in similarity.ivf_pq_search(
            df, "embedding", "vec_id", query, k_results=8, **kw
        ).collect()
    ]
    # replay: coarse fit + probe selection + ADC over probed lists
    coarse, cents = similarity.kmeans_fit(
        df, "embedding", "vec_id", k=3, iters=2
    )
    qm = [int(round(q * 1_000_000)) for q in query]
    ranked = sorted(
        (sum((qm[i] - cv[i]) ** 2 for i in range(8)), cid)
        for cid, cv in enumerate(cents)
    )
    probed = {cid for _, cid in ranked[:2]}
    assert {c for _, c, _ in got} <= probed
    members = {
        r["vec_id"]: r["cluster"]
        for r in coarse.collect()
        if r["cluster"] in probed
    }
    codes_df, books = similarity.pq_fit(
        df, "embedding", "vec_id", dim=8, m=2, k=4, iters=2
    )
    codes = {r["vec_id"]: r["codes"] for r in codes_df.collect()}
    want_all = sorted(
        (
            sum(
                sum(
                    (qm[j * 4 + i] - books[j][codes[v][j]][i]) ** 2
                    for i in range(4)
                )
                for j in range(2)
            ),
            v,
        )
        for v in members
    )
    want = [(v, members[v], d) for d, v in want_all[:8]]
    assert got == want


def test_pq_recall_bounds_and_self_recall(spark):
    from openoa_spark.datapipe import similarity

    import random

    rng = random.Random(41)
    rows = [
        (i, [round(rng.uniform(-1, 1), 6) for _ in range(8)])
        for i in range(30)
    ]
    df = spark.createDataFrame(rows, "vec_id: bigint, embedding: array<double>")
    panel = [
        [round(rng.uniform(-1, 1), 6) for _ in range(8)] for _ in range(2)
    ]
    out = {
        r["query_id"]: (r["n_hit"], r["recall"])
        for r in similarity.pq_recall_at_k(
            df, "embedding", "vec_id", panel, dim=8, m=2, k=4, iters=2,
            top=5,
        ).collect()
    }
    assert set(out) == {0, 1}
    assert all(0 <= n <= 5 and 0.0 <= rec <= 1.0 for n, rec in out.values())
    # top = corpus size -> both sides return everything -> recall 1
    full = similarity.pq_recall_at_k(
        df, "embedding", "vec_id", panel[:1], dim=8, m=2, k=4, iters=2,
        top=30,
    ).collect()
    assert full[0]["recall"] == 1.0


def test_pq_reconstruction_error_replay(spark):
    """pq_d2 equals the driver-side replay from codes + codebooks, and
    a perfectly-clusterable corpus (n distinct vectors, k = n per
    subspace after dedup) reconstructs with zero error."""
    from openoa_spark.datapipe import similarity

    import random

    rng = random.Random(53)
    rows = [
        (i, [round(rng.uniform(-1, 1), 6) for _ in range(8)])
        for i in range(40)
    ]
    df = spark.createDataFrame(rows, "vec_id: bigint, embedding: array<double>")
    got = {
        r["vec_id"]: r["pq_d2"]
        for r in similarity.pq_reconstruction_error(
            df, "embedding", "vec_id", dim=8, m=2, k=4, iters=2
        ).collect()
    }
    codes_df, books = similarity.pq_fit(
        df, "embedding", "vec_id", dim=8, m=2, k=4, iters=2
    )
    codes = {r["vec_id"]: r["codes"] for r in codes_df.collect()}
    mics = {i: [int(round(v * 1_000_000)) for v in vec] for i, vec in rows}
    for vid, d2 in got.items():
        want = sum(
            sum(
                (mics[vid][j * 4 + i] - books[j][codes[vid][j]][i]) ** 2
                for i in range(4)
            )
            for j in range(2)
        )
        assert d2 == want, vid
    # k >= distinct subvectors -> every subvector is its own centroid
    tiny = spark.createDataFrame(rows[:4], "vec_id: bigint, embedding: array<double>")
    zero = similarity.pq_reconstruction_error(
        tiny, "embedding", "vec_id", dim=8, m=2, k=4, iters=2
    ).collect()
    assert all(r["pq_d2"] == 0 for r in zero)


def test_curate_corpus_decontam_case_folds_with_boilerplate(spark):
    """Regression: the boilerplate stage lowercases corpus text; the
    decontamination stage must fold BOTH sides, or an uppercase
    benchmark silently never matches and contaminated docs ship."""
    from openoa_spark.datapipe.pipeline import CurationConfig, curate_corpus

    bench_text = ("Which Of The Following Statements About The Moon "
                  "Is True According To The Passage Provided Here")
    rows = [
        (1, "cookie banner " + "plain safe content here " * 6),
        (2, "cookie banner " + "other harmless words in this doc " * 6),
        (3, "cookie banner padding words around " + bench_text +
            " and a long tail of additional filler to finish the doc"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out, _ = curate_corpus(
        df,
        CurationConfig(
            remove_boilerplate=True,
            boilerplate_min_doc_pct=90,
            benchmark_texts=[bench_text],
            gopher_rules=False,
            max_top_bigram_frac=None,
            exact_dedup=False,
            near_dedup=False,
            decontam_ngram=8,
        ),
        report=False,
    )
    assert sorted(r["doc_id"] for r in out.collect()) == [1, 2]


# ------------------------------------------------- round-6 additions


def test_minhash_decontaminate_flags_paraphrase(spark):
    """A corpus document sharing most shingles with a benchmark doc is
    flagged; unrelated documents are not; bench docs themselves are
    not in the output."""
    from openoa_spark.datapipe.dedup import minhash_decontaminate

    bench_text = (
        "the quick brown fox jumps over the lazy dog near the river "
        "bank on a bright cold morning in april"
    )
    near_copy = (
        "the quick brown fox jumps over the lazy dog near the river "
        "bank on a bright cold morning in may"
    )
    unrelated = (
        "completely different words about spark shuffle partitions "
        "and adaptive query execution planning stages"
    )
    corpus = spark.createDataFrame(
        [(1, near_copy), (2, unrelated)], ["doc_id", "text"]
    )
    bench = spark.createDataFrame([(100, bench_text)], ["doc_id", "text"])
    out = {
        r["doc_id"]: r["is_contaminated"]
        for r in minhash_decontaminate(
            corpus, bench, "text", "doc_id",
            num_hashes=64, bands=16, jaccard_threshold=0.5,
        ).collect()
    }
    assert out == {1: True, 2: False}


def test_leakage_safe_split_clusters_never_straddle(spark):
    """Every member of a near-dup cluster lands in the SAME split, and
    the assignment equals hash_split of the cluster representative."""
    from openoa_spark.datapipe.sampling import hash_split, leakage_safe_split
    from pyspark.sql import functions as F

    base = (
        "alpha beta gamma delta epsilon zeta eta theta iota kappa "
        "lambda mu nu xi omicron pi rho sigma tau upsilon"
    )
    rows = [
        (10, base + " one"),
        (11, base + " two"),          # near-dup of 10
        (12, base + " three"),        # near-dup of 10/11
        (50, "totally different text about wind turbine power curves "
             "and meteorological tower measurements data"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = leakage_safe_split(
        df, "text", "doc_id", seed=17,
        num_hashes=64, bands=16, jaccard_threshold=0.5,
    )
    got = {r["doc_id"]: (r["split_rep"], r["split"]) for r in out.collect()}
    # the cluster keys on its min id and shares one split
    assert got[10][0] == got[11][0] == got[12][0] == 10
    assert len({got[i][1] for i in (10, 11, 12)}) == 1
    # the unpaired doc keys on itself
    assert got[50][0] == 50
    # assignment replays hash_split of the representative
    expect = {
        r["doc_id"]: r["s"]
        for r in df.select(
            "doc_id",
            hash_split(F.lit("10"), seed=17).alias("s"),
        ).collect()
    }
    assert got[10][1] == expect[10]


def test_encoding_damage_signals(spark):
    from openoa_spark.datapipe.text import encoding_damage_signals

    rows = [
        (1, "clean ascii text"),
        (2, "bad bytes �� here"),
        (3, "bell \x07 char"),
        (4, "cafÃ© mojibake Ã©"),   # two digraphs
        (5, "single Ã© only"),                # below threshold
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {
        r["doc_id"]: (
            r["n_replacement"], r["n_control"], r["n_mojibake"],
            r["is_damaged"],
        )
        for r in encoding_damage_signals(df, "text", "doc_id").collect()
    }
    assert got[1] == (0, 0, 0, False)
    assert got[2] == (2, 0, 0, True)
    assert got[3] == (0, 1, 0, True)
    assert got[4][2] == 2 and got[4][3] is True
    assert got[5][2] == 1 and got[5][3] is False
