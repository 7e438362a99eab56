"""Training-pipeline operators: dedup / similarity / text stats /
multimodal plumbing — semantic tests with constructed ground truth."""

import math

import pyspark.sql.functions as F
import pytest

from extract_text_spark.functions import dedup, similarity, text_stats
from extract_text_spark.functions.multimodal import (
    extract_media_features,
    sniff_mime,
    validate_media_df,
)


@pytest.fixture(scope="module")
def docs(spark):
    base = "the quick brown fox jumps over the lazy dog " * 8
    near = base.replace("lazy dog", "sleepy dog", 1)      # one shingle edit
    other = "completely different content about spark partitions and shuffles"
    rows = [
        ("a1", base.strip()),
        ("a2", base.strip()),                # exact duplicate of a1
        ("a3", near.strip()),                # near-duplicate of a1
        ("b1", (other + " ") * 6),
        ("c1", "tiny"),
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_exact_duplicates(spark, docs):
    out = {r["fp"]: r for r in dedup.exact_duplicates(docs).collect()}
    dups = [r for r in out.values() if r["n_docs"] > 1]
    assert len(dups) == 1
    assert dups[0]["n_docs"] == 2 and dups[0]["keep_id"] == "a1"


def test_ngram_jaccard_finds_near_dup(spark, docs):
    pairs = {(r["a_id"], r["b_id"]): r["jaccard"]
             for r in dedup.ngram_jaccard_pairs(docs, 0.5).collect()}
    assert pairs[("a1", "a2")] == 1.0
    assert 0.5 <= pairs[("a1", "a3")] < 1.0
    assert ("a1", "b1") not in pairs


def test_ngram_hot_shingle_cap(spark):
    """df-cap semantics: capped candidate generation, EXACT verification.

    s1/s2 share a rare shingle -> candidates even under a tiny cap, and
    their inter/jaccard count the hot shingles too (verification is over
    full shingle sets). s3/s4 share ONLY the hot shingle -> pruned when the
    cap is on (the documented approximation), found when it's off.
    """
    hot = "aaa bbb ccc"          # appears in all four docs -> df=4
    rows = [
        ("s1", hot + " one two three"),
        ("s2", hot + " one two three"),
        ("s3", hot + " four five six"),
        ("s4", hot + " seven eight nine"),
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    capped = {(r["a_id"], r["b_id"]): r
              for r in dedup.ngram_jaccard_pairs(docs, 0.01, max_df=3).collect()}
    # s1/s2 found via rare shingles; values exact over the FULL sets
    assert capped[("s1", "s2")]["jaccard"] == 1.0
    assert capped[("s1", "s2")]["inter"] == 4  # incl. hot cross-boundary grams
    assert ("s3", "s4") not in capped          # only-hot-overlap pair pruned
    uncapped = {(r["a_id"], r["b_id"])
                for r in dedup.ngram_jaccard_pairs(docs, 0.01,
                                                   max_df=None).collect()}
    assert ("s3", "s4") in uncapped
    # cap far above corpus df == uncapped output (the correctness-gate mode)
    wide = {(r["a_id"], r["b_id"])
            for r in dedup.ngram_jaccard_pairs(docs, 0.01, max_df=100).collect()}
    assert wide == uncapped


def test_minhash_lsh_recall_on_near_dups(spark, docs):
    pairs = {(r["a_id"], r["b_id"]): r["jaccard"]
             for r in dedup.minhash_lsh_pairs(docs, 0.5).collect()}
    # identical docs share every band -> always candidates; verified exact
    assert pairs[("a1", "a2")] == 1.0
    assert ("a1", "a3") in pairs            # high-jaccard pair found by LSH
    assert all(j >= 0.5 for j in pairs.values())


def test_simhash_similarity_structure(spark, docs):
    sh = {r["doc_id"]: r["simhash"]
          for r in docs.select("doc_id",
                               dedup.simhash_col().alias("simhash")).collect()}
    assert sh["a1"] == sh["a2"]             # identical text, identical hash
    ham_near = bin(sh["a1"] ^ sh["a3"]).count("1")
    ham_far = bin(sh["a1"] ^ sh["b1"]).count("1")
    assert ham_near < ham_far
    assert 0 <= sh["a1"] < 2 ** 16


@pytest.fixture(scope="module")
def vectors(spark):
    # 3 tight clusters in 4-d; known nearest neighbours
    rows = []
    for cid, base in enumerate([(1, 0, 0, 0), (0, 1, 0, 0), (0, 0, 1, 0)]):
        for j in range(4):
            vec = [float(b) + (0.01 * j if i == 3 else 0.0)
                   for i, b in enumerate(base)]
            rows.append((cid * 4 + j, vec, cid))
    return spark.createDataFrame(rows, ["vec_id", "embedding", "label"])


def test_cosine_topk_exact(spark, vectors):
    q = vectors.filter(F.col("vec_id") == 0)
    out = similarity.cosine_topk(vectors, q, k=3).collect()
    assert [r["neighbor_id"] for r in out] == [1, 2, 3]  # same cluster
    assert all(r["score_milli"] > 990000 for r in out)


def test_ivf_topk_matches_bruteforce_here(spark, vectors):
    """With clean clusters and nprobe=1, IVF must equal brute force."""
    q = vectors.filter(F.col("vec_id") < 3)
    bf = similarity.cosine_topk(vectors, q, k=2).collect()
    ivf = similarity.ivf_topk(vectors, q, k=2, nprobe=1).collect()
    key = lambda rows: {(r["query_id"], r["rnk"]): r["neighbor_id"] for r in rows}
    assert key(ivf) == key(bf)


def test_pq_matches_python_replica(spark):
    """pq_fit/pq_encode/pq_adc_topk == a pure-Python PQ replica:
    float32-widened millionth quantization, per-subspace integer-L2
    Lloyd's with lowest-id init and TRUNCATING-division centroid means
    (DuckDB // and Spark div truncate; Python // floors — the driver
    must mirror the engines), lexicographic argmin ties, and ADC
    distances that equal the code-centroid L2 sums exactly."""
    import math
    import random
    import struct as st

    from extract_text_spark.functions import similarity as sim

    random.seed(5)
    DIM, M, K, IT = 8, 2, 3, 2
    rows = [(i, [random.uniform(-1, 1) for _ in range(DIM)])
            for i in range(40)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    books = sim.pq_fit(df, DIM, m=M, k=K, iters=IT)

    def quant(v):       # float32 storage -> double -> millionths
        return [math.floor(st.unpack("f", st.pack("f", x))[0]
                           * 1000000.0 + 0.5) for x in v]

    def trunc(a, b):
        q = abs(a) // b
        return -q if a < 0 else q

    sub = DIM // M
    qv = {i: quant(v) for i, v in rows}
    exp = [[qv[i][j * sub:(j + 1) * sub] for i in range(K)]
           for j in range(M)]
    for _ in range(IT):
        for j in range(M):
            groups: dict = {}
            for i, _v in rows:
                sv = qv[i][j * sub:(j + 1) * sub]
                best = min((sum((a - b) ** 2 for a, b in zip(sv, c)), ci)
                           for ci, c in enumerate(exp[j]))
                groups.setdefault(best[1], []).append(sv)
            for c in range(K):
                if c in groups:
                    g = groups[c]
                    exp[j][c] = [trunc(sum(x[i] for x in g), len(g))
                                 for i in range(sub)]
    assert books == exp
    codes = {r.vec_id: (r.code0, r.code1)
             for r in sim.pq_encode(df, books, DIM).collect()}
    for i, _v in rows:
        want = tuple(min(
            (sum((a - b) ** 2 for a, b in
                 zip(qv[i][j * sub:(j + 1) * sub], c)), ci)
            for ci, c in enumerate(books[j]))[1] for j in range(M))
        assert codes[i] == want
    top = sim.pq_adc_topk(df, df.filter("vec_id < 2"), books,
                          DIM, k=3).collect()
    assert len(top) == 6
    for r in top:
        d = sum(sum((a - b) ** 2 for a, b in zip(
            qv[r.query_id][j * sub:(j + 1) * sub],
            books[j][codes[r.neighbor_id][j]])) for j in range(M))
        assert d == r.adist_milli2
    # ranks ascend in adist within each query, ties to lowest id
    for q in (0, 1):
        rs = sorted((r for r in top if r.query_id == q),
                    key=lambda r: r.rnk)
        assert [r.rnk for r in rs] == [1, 2, 3]
        assert all(
            (a.adist_milli2, a.neighbor_id) < (b.adist_milli2,
                                               b.neighbor_id)
            for a, b in zip(rs, rs[1:]))


def test_kmeans_recovers_clusters_and_unlabeled_ivf(spark, vectors):
    """Lloyd's on 3 clean clusters must recover the partition (up to
    cluster-id renaming), and label-free IVF must match brute force.

    vec_ids are interleaved across true clusters so the deterministic
    lowest-id init seeds one centroid per cluster (lowest-id init cannot
    recover clusters it never seeds — documented limitation)."""
    rows = []
    for cid, base in enumerate([(1, 0, 0, 0), (0, 1, 0, 0), (0, 0, 1, 0)]):
        for j in range(4):
            vec = [float(b) + (0.01 * j if i == 3 else 0.0)
                   for i, b in enumerate(base)]
            rows.append((j * 3 + cid, vec))
    vecs = spark.createDataFrame(rows, ["vec_id", "embedding"])
    assigned, cents = similarity.kmeans_fit(vecs, k=3, iters=2)
    got = {r["vec_id"]: r["cluster"] for r in assigned.collect()}
    groups = {}
    for vid, c in got.items():
        groups.setdefault(c, set()).add(vid)
    assert sorted(map(frozenset, groups.values()), key=min) == [
        frozenset({0, 3, 6, 9}), frozenset({1, 4, 7, 10}),
        frozenset({2, 5, 8, 11})]
    assert cents.count() == 3
    # deterministic across re-runs (same init, same ties)
    assigned2, _ = similarity.kmeans_fit(vecs, k=3, iters=2)
    assert got == {r["vec_id"]: r["cluster"] for r in assigned2.collect()}

    q = vecs.filter(F.col("vec_id") < 3)
    bf = similarity.cosine_topk(vecs, q, k=2).collect()
    ivf = similarity.ivf_topk(vecs, q, k=2, nprobe=1, label_col=None,
                              k_clusters=3, iters=2).collect()
    key = lambda rows: {(r["query_id"], r["rnk"]): r["neighbor_id"] for r in rows}
    assert key(ivf) == key(bf)


def test_cosine_is_normalized(spark, vectors):
    a = vectors.filter(F.col("vec_id") == 0).select(
        similarity.cosine_col(F.col("embedding"), F.col("embedding")).alias("c")
    ).collect()[0]["c"]
    assert math.isclose(a, 1.0, rel_tol=1e-12)


def test_text_stats_basics(spark):
    df = spark.createDataFrame(
        [("d1", "the cat sat on the mat"), ("d2", "Текст на русском языке")],
        ["doc_id", "text"])
    out = {r["doc_id"]: r for r in df.select(
        "doc_id",
        text_stats.token_count_col().alias("n"),
        text_stats.stopword_ratio_col().alias("sr"),
        text_stats.lang_id_col().alias("lang"),
        text_stats.quality_score_col().alias("q"),
    ).collect()}
    assert out["d1"]["n"] == 6
    assert math.isclose(out["d1"]["sr"], 3 / 6)
    assert out["d1"]["lang"] == "en"
    assert out["d2"]["lang"] == "non_latin"
    assert 0.0 <= out["d1"]["q"] <= 1.0


def test_rolling_fingerprint_matches_python_min_gram(spark):
    import hashlib

    text = " ".join(f"w{i}" for i in range(30))
    toks = text.split(" ")
    grams = [" ".join(toks[i:i + 8]) for i in range(len(toks) - 7)]
    expected = min(hashlib.md5(g.encode()).hexdigest() for g in grams)
    df = spark.createDataFrame([("d1", text)], ["doc_id", "text"])
    got = df.select(
        text_stats.rolling_fingerprint_col(window=8).alias("wfp")
    ).collect()[0]["wfp"]
    assert got == expected


def test_multimodal_plumbing(spark):
    rows = [
        ("m1", b"\x89PNG\r\n\x1a\nrest", "image/png", 10, 10),
        ("m2", b"\xff\xd8\xffjpegdata", "image/jpeg", 10_000, 10_000),  # >50MP
        ("m3", b"random bytes", "application/octet-stream", 1, 1),
        ("m4", None, "image/png", 1, 1),
    ]
    df = spark.createDataFrame(
        rows, "media_ref string, payload binary, mime string, width int, height int")
    valid = {r["media_ref"]: r["valid"] for r in validate_media_df(df).collect()}
    assert valid == {"m1": True, "m2": False, "m3": True, "m4": False}
    feats = {r["media_ref"]: r for r in extract_media_features(df).collect()}
    assert set(feats) == {"m1", "m3"}
    assert feats["m1"]["sniffed_mime"] == "image/png"
    assert feats["m1"]["status"] == "stubbed"
    assert feats["m3"]["sniffed_mime"] == "application/octet-stream"
    assert sniff_mime(b"\xff\xd8\xff...") == "image/jpeg"
    assert sniff_mime(b"") is None


def test_bmp_wav_header_decode(spark):
    """BMP/WAV metadata comes from the payload bytes themselves; the codec
    stub only covers compressed formats now."""
    from extract_text_spark.bytecorpus import make_bmp, make_wav
    from extract_text_spark.functions.multimodal import (
        decode_bmp_header, decode_wav_header,
    )
    assert decode_bmp_header(make_bmp(17, 9)) == {"width": 17, "height": 9,
                                                  "mode": "RGB"}
    assert decode_bmp_header(b"BMshort") is None
    wav = make_wav(8000, rate=8000)  # 1 s mono 16-bit
    assert decode_wav_header(wav) == {"sample_rate": 8000,
                                      "duration_ms": 1000}
    assert decode_wav_header(b"RIFFxxxxWAVE") is None
    assert sniff_mime(wav) == "audio/wav"
    assert sniff_mime(b"RIFFxxxxWEBPdata") == "image/webp"

    rows = [("b1", make_bmp(3, 2), "image/bmp", None, None),
            ("w1", wav, "audio/wav", None, None)]
    df = spark.createDataFrame(
        rows, "media_ref string, payload binary, mime string, "
              "width int, height int")
    feats = {r["media_ref"]: r for r in extract_media_features(df).collect()}
    assert feats["b1"]["status"] == "decoded"
    assert (feats["b1"]["width"], feats["b1"]["height"]) == (3, 2)
    assert feats["w1"]["status"] == "decoded"
    assert (feats["w1"]["sample_rate"], feats["w1"]["duration_ms"]) == (8000, 1000)


def test_png_gif_header_decode(spark):
    """PNG IHDR / GIF logical-screen-descriptor dimensions decode from the
    bytes (pure stdlib), so the reference's OCR pixel gates
    (app/utils.py:639-682) see real sizes for the two most common web
    image formats. The PNG builder's stored-block IDAT keeps total size
    closed-form for the SQL oracle."""
    from extract_text_spark.bytecorpus import make_gif, make_png
    from extract_text_spark.functions.multimodal import (
        decode_gif_header, decode_png_header,
    )
    png = make_png(17, 9)
    assert decode_png_header(png) == {"width": 17, "height": 9, "mode": "L"}
    assert len(png) == 9 * 18 + 68  # h*(w+1) + 68 stored-block formula
    assert sniff_mime(png) == "image/png"
    assert decode_png_header(b"\x89PNG\r\n\x1a\nxxxx") is None
    gif = make_gif(640, 480, comment_len=7)
    assert decode_gif_header(gif) == {"width": 640, "height": 480,
                                      "mode": "P"}
    assert len(gif) == 14 + 4 + 7
    assert sniff_mime(gif) == "image/gif"
    assert len(make_gif(2, 2)) == 14

    rows = [("p1", png, "image/png", None, None),
            ("g1", gif, "image/gif", None, None)]
    df = spark.createDataFrame(
        rows, "media_ref string, payload binary, mime string, "
              "width int, height int")
    feats = {r["media_ref"]: r for r in extract_media_features(df).collect()}
    assert feats["p1"]["status"] == "decoded"
    assert (feats["p1"]["width"], feats["p1"]["height"]) == (17, 9)
    assert feats["g1"]["status"] == "decoded"
    assert (feats["g1"]["width"], feats["g1"]["height"]) == (640, 480)


def test_ocr_gate_mirrors_reference_validation():
    """validate_image_for_ocr (app/utils.py:639-682) check-for-check on
    real header decodes: pixel cap BEFORE format check BEFORE mode check;
    the 150x150 minimum (app/config.py:78-80) rides separately as min_ok
    because the reference's URL path skips, not errors, on it."""
    from extract_text_spark.bytecorpus import (
        make_gif, make_jpeg, make_png, make_tiff, make_webp_vp8x)
    from extract_text_spark.functions.multimodal import ocr_gate

    ok = ocr_gate(make_jpeg(300, 200))
    assert ok["eligible"] and ok["min_ok"] and ok["mode"] == "RGB"
    small = ocr_gate(make_jpeg(100, 100))
    assert small["eligible"] and not small["min_ok"]
    assert ocr_gate(make_jpeg(150, 150))["min_ok"]  # 22500 inclusive
    big = ocr_gate(make_gif(65000, 1000))
    assert not big["eligible"]
    assert big["reason"] == ("Image too large: 65000000 pixels "
                             "(max: 52428800)")
    assert ocr_gate(make_webp_vp8x(640, 480))["reason"] == \
        "Unsupported image format: WEBP"
    assert ocr_gate(make_png(20, 10, color=4))["reason"] == \
        "Unsupported color mode: LA"
    assert ocr_gate(make_jpeg(300, 200, ncomp=4))["reason"] == \
        "Unsupported color mode: CMYK"
    assert ocr_gate(b"not an image")["reason"] == \
        "Failed to process image: cannot identify image"
    # size-vs-format precedence: an oversized CMYK jpeg reports TOO LARGE
    # (the reference checks resolution first)
    both = ocr_gate(make_jpeg(60000, 1000, ncomp=4))
    assert both["reason"].startswith("Image too large")
    # TIFF both byte orders
    assert ocr_gate(make_tiff(400, 300))["mode"] == "L"
    assert ocr_gate(make_tiff(400, 300, samples=3,
                              big_endian=True))["mode"] == "RGB"


def test_embedding_lsh_pairs(spark):
    """Random-hyperplane LSH: near-parallel vectors share every band and
    are verified by exact cosine; orthogonal vectors pass only if a band
    collides AND never survive the threshold."""
    base = [1.0] + [0.0] * 15
    near = [1.0, 0.05] + [0.0] * 14
    orth = [0.0, 1.0] + [0.0] * 14
    vecs = spark.createDataFrame(
        [(0, base), (1, near), (2, orth)], ["vec_id", "embedding"])
    got = {(r["a_id"], r["b_id"]): r["score_milli"]
           for r in dedup.embedding_lsh_pairs(vecs, 0.9, dim=16).collect()}
    assert (0, 1) in got and got[(0, 1)] >= 990000
    assert (0, 2) not in got and (1, 2) not in got
    # determinism: the hyperplanes are pure functions of (k, d)
    h1 = dedup.lsh_hyperplanes(16, 16)
    assert h1 == dedup.lsh_hyperplanes(16, 16)
    assert all(-1000 <= x <= 1000 for row in h1 for x in row)


def test_embedding_lsh_pairs_requires_dim(spark):
    """dim= is mandatory — inferring it would run a hidden driver job
    (a first()) inside a lazy operator."""
    import pytest
    vecs = spark.createDataFrame(
        [(0, [1.0, 0.0])], ["vec_id", "embedding"])
    with pytest.raises(ValueError, match="explicit dim"):
        dedup.embedding_lsh_pairs(vecs, 0.9)


def test_lang_id_multi_and_bpe_tokens(spark):
    rows = [
        ("en", "the cat and the dog is in it for you that " * 2),
        ("de", "der hund und die katze ist nicht mit ein ich zu"),
        ("fr", "le chat et la les est pour que dans une vous"),
        ("es", "el gato los que y en por con una para es"),
        ("ru", "кошка и собака дома сегодня на улице хорошо"),
        ("other", "zxqv wqers plomk trewq nbvcx jklmn"),
        ("zh", "这是一个中文句子用于测试语言识别功能啊"),
    ]
    df = spark.createDataFrame(rows, ["want", "text"])
    got = {r["want"]: r["pred"] for r in df.select(
        "want", text_stats.lang_id_multi_col().alias("pred")).collect()}
    assert got == {w: w for w in got}
    bpe = spark.createDataFrame(
        [("it's a test-case 123 ok",)], ["text"]).select(
        text_stats.bpe_token_count_col().alias("n")).collect()[0]["n"]
    # it | 's | " a" | " test" | - | case | " 123" | " ok"
    assert bpe == 8


def test_connected_components_chain_and_singletons(spark):
    """Min-label propagation: a chain a-b-c must converge to one component
    (needs >1 iteration), pairs {d,e} another, unmatched f a singleton."""
    ids = spark.createDataFrame([(i,) for i in [1, 2, 3, 4, 5, 6]], ["id"])
    pairs = spark.createDataFrame(
        [(2, 3), (1, 2), (4, 5)], ["a_id", "b_id"])
    got = {r["id"]: r["comp"]
           for r in dedup.connected_components(ids, pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 4, 5: 4, 6: 6}
    # a longer chain exercises multi-round convergence
    ids2 = spark.createDataFrame([(i,) for i in range(10, 18)], ["id"])
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(10, 17)], ["a_id", "b_id"])
    got2 = {r["id"]: r["comp"]
            for r in dedup.connected_components(ids2, chain).collect()}
    assert set(got2.values()) == {10} and len(got2) == 8


def test_connected_components_nonconvergence_raises(spark):
    ids = spark.createDataFrame([(i,) for i in range(20, 26)], ["id"])
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(20, 25)], ["a_id", "b_id"])
    with pytest.raises(RuntimeError, match="did not converge"):
        dedup.connected_components(ids, chain, max_iter=2)


def test_simhash_pairs_banding(spark, docs):
    pairs = {(r["a_id"], r["b_id"]): r["hamming"]
             for r in dedup.simhash_pairs(docs, max_hamming=3).collect()}
    assert pairs[("a1", "a2")] == 0          # identical docs
    assert ("a1", "a3") in pairs             # one-word edit: tiny distance
    assert all(h <= 3 for h in pairs.values())
    # 64-bit signatures drop random collisions while keeping true dups
    wide = {(r["a_id"], r["b_id"]): r["hamming"]
            for r in dedup.simhash_pairs(docs, max_hamming=3,
                                         bits=64).collect()}
    assert wide[("a1", "a2")] == 0


def test_url_canonicalization_collapses_variants(spark):
    from extract_text_spark.functions.dedup import url_dedup
    df = spark.createDataFrame([
        (1, "HTTP://Example.COM:80/path/doc7"),
        (2, "http://example.com/path/doc7/"),
        (3, "https://Example.com:443/a?utm_source=x&id=5"),
        (4, "https://example.com/a?id=5&utm_campaign=y#frag"),
        (5, "https://example.com:8443/b"),      # non-default port kept
        (6, "http://other.example/b?x=1&y=2"),  # real params kept in order
        (7, "http://example.com"),
        (8, "http://example.com/"),
    ], "doc_id long, url string")
    got = {r.canonical_url: (r.keep_id, r.n_copies)
           for r in url_dedup(df).collect()}
    assert got == {
        "http://example.com/path/doc7": (1, 2),
        "https://example.com/a?id=5": (3, 2),
        "https://example.com:8443/b": (5, 1),
        "http://other.example/b?x=1&y=2": (6, 1),
        "http://example.com": (7, 2),
    }


def test_malformed_urls_never_collapse_into_one_cluster(spark):
    from extract_text_spark.functions.dedup import url_dedup
    df = spark.createDataFrame([
        (1, "example.com/x"),                   # no scheme
        (2, "not a url at all"),
        (3, "http://ok.example/a"),
    ], "doc_id long, url string")
    got = {r.canonical_url: r.n_copies for r in url_dedup(df).collect()}
    assert got == {"example.com/x": 1, "not a url at all": 1,
                   "http://ok.example/a": 1}


def test_snapshot_dedup_tiers(spark):
    """Incremental new-batch-vs-snapshot dedup: exact tier (md5 vs the
    distinct snapshot fingerprint set), near tier (cross-side band join +
    exact-Jaccard verify), and the clean keep path."""
    words = [f"tok{i}" for i in range(20)]
    snap = spark.createDataFrame(
        [(2, "alpha beta gamma delta epsilon zeta"),
         (4, " ".join(words))],
        "doc_id long, text string")
    new = spark.createDataFrame(
        [(11, "alpha beta gamma delta epsilon zeta"),       # exact dup of 2
         (13, " ".join(words[:-1] + ["CHANGED"])),          # near dup of 4
         (15, "totally different words here now ok")],
        "doc_id long, text string")
    got = {r.doc_id: r
           for r in dedup.snapshot_dedup(new, snap, threshold=0.2).collect()}
    assert got[11].exact_dup and not got[11].keep
    assert got[11].near_dup_id == 2 and got[11].jaccard_milli == 1000000
    assert not got[13].exact_dup and not got[13].keep
    assert got[13].near_dup_id == 4
    assert got[13].jaccard_milli == 894737          # 17 shared of 19 shingles
    assert not got[15].exact_dup and got[15].keep
    assert got[15].near_dup_id == -1 and got[15].jaccard_milli == 0


def test_snapshot_dedup_best_match_is_deterministic(spark):
    """Ties on jaccard_milli resolve to the LOWEST snapshot id (the
    max-struct aggregate carries a negated id)."""
    snap = spark.createDataFrame(
        [(6, "one two three four five six seven"),
         (2, "one two three four five six seven")],
        "doc_id long, text string")
    new = spark.createDataFrame(
        [(9, "one two three four five six seven")],
        "doc_id long, text string")
    r = dedup.snapshot_dedup(new, snap, threshold=0.2).first()
    assert r.exact_dup and r.near_dup_id == 2 and r.jaccard_milli == 1000000


def test_semantic_dedup_exemplar_rule(spark):
    """SemDeDup closed form: two well-separated clusters, one exact copy
    planted in each. The copy drops against its source (pairwise cosine
    1.0 >= tau); in-cluster neighbours at cosine 0.96 < tau all survive;
    ranking is centroid-similarity ASC (the paper keeps the rim point)
    with id ASC tiebreak, so the lower-id member of an identical pair is
    the exemplar."""
    vecs = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.0, 1.0]),
         (2, [0.96, 0.28]), (3, [0.28, 0.96]),
         (10, [1.0, 0.0]),                      # exact copy of 0
         (11, [0.28, 0.96])],                   # exact copy of 3
        "vec_id long, embedding array<float>")
    got = {r.vec_id: r
           for r in dedup.semantic_dedup(vecs, tau_milli=990000,
                                         k=2, iters=2).collect()}
    assert len(got) == 6
    assert all(got[i].keep for i in (0, 1, 2, 3))
    assert all(got[i].dup_of == -1 and got[i].dup_milli == 0
               for i in (0, 1, 2, 3))
    assert not got[10].keep and got[10].dup_of == 0
    assert got[10].dup_milli == 1000000
    assert not got[11].keep and got[11].dup_of == 3
    assert got[11].dup_milli == 1000000
    # the two true clusters were recovered: copies share their source's
    # cluster, the 0.96-neighbours too
    assert got[0].cluster == got[2].cluster == got[10].cluster
    assert got[1].cluster == got[3].cluster == got[11].cluster
    assert got[0].cluster != got[1].cluster


def test_semantic_dedup_string_ids(spark):
    """String vec_ids must carry the REAL duplicate id (the engine's own
    extraction outputs use string doc_ids): the old cast-to-long turned
    every dup_of NULL and silently disabled the dedup."""
    vecs = spark.createDataFrame(
        [("a0", [1.0, 0.0]), ("a1", [0.0, 1.0]),
         ("z9", [1.0, 0.0])],                   # exact copy of a0
        "vec_id string, embedding array<float>")
    got = {r.vec_id: r
           for r in dedup.semantic_dedup(vecs, tau_milli=990000,
                                         k=2, iters=2).collect()}
    assert not got["z9"].keep and got["z9"].dup_of == "a0"
    assert got["z9"].dup_milli == 1000000
    assert got["a0"].keep and got["a0"].dup_of is None
    assert got["a1"].keep and got["a1"].dup_of is None


def test_semantic_dedup_cluster_size_cap(spark):
    """One planted mega-cluster (10 identical vectors): max_cluster_size
    slices it rank-contiguously, so per-slice pair work is bounded by
    cap² instead of one O(c²) hot task. Identical members rank by id, so
    cap=3 slices [0,2,3][4,5,6][7,8,9][10]: each slice's first member
    survives as its exemplar, later members dup onto it."""
    rows = ([(0, [1.0, 0.0]), (1, [0.0, 1.0])]          # seed both clusters
            + [(i, [1.0, 0.0]) for i in range(2, 11)]
            + [(90, [0.0, 1.0])])
    vecs = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    capped = {r.vec_id: r
              for r in dedup.semantic_dedup(vecs, tau_milli=990000,
                                            k=2, iters=2,
                                            max_cluster_size=3).collect()}
    assert {i for i, r in capped.items() if r.keep} == {0, 4, 7, 10, 1}
    assert all(capped[i].dup_of == 0 for i in (2, 3))
    assert all(capped[i].dup_of == 4 for i in (5, 6))
    assert all(capped[i].dup_of == 7 for i in (8, 9))
    assert capped[90].dup_of == 1
    # uncapped: the whole mega-cluster collapses onto one exemplar
    plain = {r.vec_id: r
             for r in dedup.semantic_dedup(vecs, tau_milli=990000,
                                           k=2, iters=2).collect()}
    assert {i for i, r in plain.items() if r.keep} == {0, 1}


def test_png_decompression_bomb_fails_closed():
    """A decompression-bomb IDAT (valid IHDR, tiny declared dims, huge
    inflation ratio) must raise DecoderUnavailable via the bounded
    inflate — never materialize the full inflated stream (the arclite
    max_length convention, ADVICE r6) — plain and Adam7."""
    import struct
    import zlib

    import pytest

    from extract_text_spark.bytecorpus import make_png
    from extract_text_spark.functions.multimodal import (
        DecoderUnavailable, decode_png_pixels)

    def with_idat(png: bytes, idat: bytes) -> bytes:
        # make_png layout: 8 sig + 25 IHDR chunk, then IDAT, IEND last
        return (png[:33] + struct.pack(">I", len(idat)) + b"IDAT" + idat
                + struct.pack(">I", zlib.crc32(b"IDAT" + idat))
                + png[-12:])

    bomb = zlib.compress(b"\x00" * 50_000_000, 9)   # ~48 KB -> 50 MB
    assert len(bomb) < 100_000
    for interlace in (0, 1):
        src = make_png(2, 2, interlace=interlace)
        with pytest.raises(DecoderUnavailable):
            decode_png_pixels(with_idat(src, bomb))
    # a stream one byte PAST the expected layout also fails closed
    src = make_png(2, 2)
    over = zlib.compress(b"\x00" * (2 * 3 + 1))
    with pytest.raises(DecoderUnavailable):
        decode_png_pixels(with_idat(src, over))
    # and the exact layout still decodes
    assert decode_png_pixels(make_png(2, 2))[3] == bytes(
        (y * 2 + x) % 251 for y in range(2) for x in range(2))


def test_resize_png_real_raster():
    """Real PNG raster resize: decode the inflated IDAT, nearest-
    neighbour floor mapping, re-encode — output pixels must re-decode to
    exactly the floor-mapped source pixels (the same check the BMP arm
    gets), across stored AND Huffman deflate and all five row filters."""
    import struct
    import zlib

    from extract_text_spark.bytecorpus import make_png
    from extract_text_spark.functions.multimodal import (
        DecoderUnavailable, decode_png_pixels, encode_png, resize_png)

    # grayscale 4x2 -> 2x1: picks source pixels (0,0) and (2,0)
    src = make_png(4, 2)
    sw, sh, ch, raw = decode_png_pixels(src)
    assert (sw, sh, ch) == (4, 2, 1)
    assert raw == bytes((y * 4 + x) % 251 for y in range(2)
                        for x in range(4))
    out = resize_png(src, 2, 1)
    ow, oh, och, oraw = decode_png_pixels(out)
    assert (ow, oh, och) == (2, 1, 1)
    assert oraw == bytes([raw[0], raw[2]])
    assert len(out) == 63 + 5 * 1 + 1 * (2 + 1)   # closed form, L=3
    # RGB identity resize round-trips the raster byte-identically
    rgb = make_png(3, 3, color=2)
    _, _, ch3, raw3 = decode_png_pixels(rgb)
    assert ch3 == 3
    assert decode_png_pixels(resize_png(rgb, 3, 3))[3] == raw3
    # Huffman deflate (level 9) decodes identically to stored blocks
    scan = b"".join(b"\x00" + raw3[y * 9:(y + 1) * 9] for y in range(3))
    huff = (rgb[:8] + rgb[8:33]
            + struct.pack(">I", len(zlib.compress(scan, 9))) + b"IDAT"
            + zlib.compress(scan, 9)
            + struct.pack(">I", zlib.crc32(
                b"IDAT" + zlib.compress(scan, 9)))
            + rgb[-12:])
    assert decode_png_pixels(huff)[3] == raw3
    # every filter type 1-4 inverts correctly: filter the known raster
    # forward per RFC 2083 and check the decoder recovers it
    for ft in (1, 2, 3, 4):
        rows = []
        prev = bytes(9)
        for y in range(3):
            row = raw3[y * 9:(y + 1) * 9]
            enc = bytearray(row)
            for i in range(9):
                left = row[i - 3] if i >= 3 else 0
                up = prev[i]
                ul = prev[i - 3] if i >= 3 else 0
                if ft == 1:
                    enc[i] = (row[i] - left) & 0xFF
                elif ft == 2:
                    enc[i] = (row[i] - up) & 0xFF
                elif ft == 3:
                    enc[i] = (row[i] - (left + up) // 2) & 0xFF
                else:
                    p = left + up - ul
                    pa, pb, pc = abs(p - left), abs(p - up), abs(p - ul)
                    pred = (left if pa <= pb and pa <= pc
                            else up if pb <= pc else ul)
                    enc[i] = (row[i] - pred) & 0xFF
            rows.append(bytes([ft]) + bytes(enc))
            prev = row
        idat = zlib.compress(b"".join(rows), 6)
        f_png = (rgb[:8] + rgb[8:33]
                 + struct.pack(">I", len(idat)) + b"IDAT" + idat
                 + struct.pack(">I", zlib.crc32(b"IDAT" + idat))
                 + rgb[-12:])
        assert decode_png_pixels(f_png)[3] == raw3, f"filter {ft}"
    # REAL Adam7: the seven-pass stream decodes to the same raster as
    # the plain layout, for grayscale and palette (palette -> RGB)
    assert decode_png_pixels(make_png(13, 7, interlace=1))[3] == \
        decode_png_pixels(make_png(13, 7))[3]
    pw_, ph_, pch_, praw_ = decode_png_pixels(
        make_png(9, 5, color=3, interlace=1))
    assert (pw_, ph_, pch_) == (9, 5, 3)
    assert (praw_ == decode_png_pixels(make_png(9, 5, color=3))[3]
            and len(praw_) == 9 * 5 * 3)
    # 16-bit samples reduce to their high byte == the depth-8 raster,
    # plain and Adam7, gray and RGB; 16-bit palette fails closed
    for c16, il16 in ((0, 0), (2, 1), (6, 0)):
        assert decode_png_pixels(
            make_png(11, 6, color=c16, interlace=il16, depth=16)) == \
            decode_png_pixels(make_png(11, 6, color=c16, interlace=il16))
    try:
        decode_png_pixels(make_png(4, 4, color=3, depth=16))
        raise AssertionError("expected DecoderUnavailable")
    except DecoderUnavailable:
        pass
    # a FORGED interlace flag over a plain-layout stream still fails
    # closed (pass arithmetic can't consume the stream), as does garbage
    inter = bytearray(make_png(4, 2))
    inter[28] = 1                       # IHDR interlace = Adam7
    for bad in (bytes(inter), b"\x89PNG\r\n\x1a\n" + b"\x00" * 30):
        try:
            decode_png_pixels(bad)
            raise AssertionError("expected DecoderUnavailable")
        except DecoderUnavailable:
            pass
    # encode_png closed form holds at the multi-block boundary math
    big_l = 2 * (70000 + 1)
    assert (63 + 5 * ((big_l + 65534) // 65535) + big_l
            == len(encode_png(70000, 2, 1, bytes(140000))))


def test_resize_bmp_nearest_neighbour_pixels():
    """Real raster check the hash gate can't see: 4x2 -> 2x1 picks source
    pixels (0,0) and (2,0) with floor mapping; identity resize round-trips
    byte-identically."""
    from extract_text_spark.bytecorpus import make_bmp
    from extract_text_spark.functions.multimodal import (
        decode_bmp_header, resize_bmp)

    src = make_bmp(4, 2)                   # row stride 12, pixel bytes i%251
    out = resize_bmp(src, 2, 1)
    hdr = decode_bmp_header(out)
    assert (hdr["width"], hdr["height"]) == (2, 1)
    # dst row stride 8: pixels (0,0)->src[0:3], (1,0)->src pixel 2 -> [6:9]
    assert out[54:] == bytes([0, 1, 2, 6, 7, 8, 0, 0])
    assert resize_bmp(src, 4, 2) == src    # identity resize is byte-exact


def test_tiff_raster_decode_and_resize():
    """REAL baseline-TIFF decode: both byte orders, gray and RGB (whose
    three-SHORT BitsPerSample rides an external value offset),
    multi-strip reassembly in StripOffsets order; resize normalizes to
    PNG with the sample count preserved; header-only and compressed
    shapes fail closed."""
    import struct

    from extract_text_spark.bytecorpus import make_tiff
    from extract_text_spark.functions.multimodal import (
        DecoderUnavailable, decode_png_pixels, decode_tiff_pixels,
        resize_tiff)

    for be in (False, True):
        for samples in (1, 3):
            t = make_tiff(13, 9, samples=samples, big_endian=be,
                          raster=True)
            w, h, ch, raw = decode_tiff_pixels(t)
            stride = 13 * samples
            assert (w, h, ch) == (13, 9, samples)
            assert raw == bytes(
                (y * stride + x * samples + c) % 251
                for y in range(9) for x in range(13)
                for c in range(samples))
    # resize keeps channels; pixels are the floor map of the raster
    out = resize_tiff(make_tiff(40, 30, samples=3, raster=True), 20, 15)
    ow, oh, och, oraw = decode_png_pixels(out)
    assert (ow, oh, och) == (20, 15, 3)
    src = decode_tiff_pixels(make_tiff(40, 30, samples=3, raster=True))[3]
    assert oraw[:3] == src[:3] and oraw[-3:] == \
        src[3 * ((14 * 30 // 15) * 40 + (19 * 40 // 20)):][:3]
    # fail-closed: header-only fixture (no strips), LZW compression tag
    full = make_tiff(6, 4, raster=True)
    lzw = bytearray(full)
    # entry 4 (Compression) value low byte sits at 8+2+3*12+8 = 54
    assert struct.unpack_from("<H", lzw, 54)[0] == 1
    struct.pack_into("<H", lzw, 54, 5)       # 5 = LZW
    for bad in (make_tiff(6, 4), bytes(lzw)):
        try:
            decode_tiff_pixels(bad)
            raise AssertionError("expected DecoderUnavailable")
        except DecoderUnavailable:
            pass


def test_gif_lzw_decode_and_resize():
    """REAL GIF decode: the fixture's LZW stream (encoder bumps code
    width one slot after the decoder — the off-by-one every codec pair
    must agree on) decodes to the known palette-expanded raster, plain
    and 4-pass interlaced agree, the 4096-entry CLEAR/reset path
    round-trips, and out-of-scope shapes fail closed."""
    from extract_text_spark.bytecorpus import make_gif
    from extract_text_spark.functions.multimodal import (
        DecoderUnavailable, decode_gif_pixels, decode_png_pixels,
        resize_gif)

    pal = bytes(b for i in range(128)
                for b in (i * 2 % 251, i * 3 % 253, i * 5 % 241))
    for w, h in ((7, 3), (103, 62)):    # 103x62 = 6386 px > 4096: the
        plain = decode_gif_pixels(make_gif(w, h, raster=True))  # CLEAR
        inter = decode_gif_pixels(            # path actually executes
            make_gif(w, h, raster=True, interlaced=True))
        assert plain == inter
        gw, gh, gch, raw = plain
        assert (gw, gh, gch) == (w, h, 3)
        assert raw == bytes(
            b for y in range(h) for x in range(w)
            for b in pal[3 * ((y * w + x) % 128):
                         3 * ((y * w + x) % 128) + 3])
    # resize normalizes to an RGB PNG whose pixels are the floor map
    out = resize_gif(make_gif(10, 4, raster=True), 5, 2)
    ow, oh, och, oraw = decode_png_pixels(out)
    assert (ow, oh, och) == (5, 2, 3)
    src = decode_gif_pixels(make_gif(10, 4, raster=True))[3]
    assert oraw == b"".join(
        src[3 * ((y * 4 // 2) * 10 + (x * 10 // 5)):
            3 * ((y * 4 // 2) * 10 + (x * 10 // 5)) + 3]
        for y in range(2) for x in range(5))
    # fail-closed shapes: header-only (no image), partial frame,
    # truncated LZW data
    full = make_gif(6, 4, raster=True)
    partial = bytearray(full)
    # descriptor sits at 13 (header+LSD) + 384 (128-entry GCT); 0x2c
    # also occurs INSIDE the palette, so index() would mislocate it
    assert partial[397] == 0x2C
    partial[398] = 1                         # image left offset = 1
    for bad in (make_gif(6, 4), bytes(partial), full[:len(full) - 6]):
        try:
            decode_gif_pixels(bad)
            raise AssertionError("expected DecoderUnavailable")
        except DecoderUnavailable:
            pass


def test_resize_and_frame_sample_routing(spark):
    """Mixed media route correctly: BMP, PNG (plain AND real Adam7) and
    GIF resize for real (the outputs re-decode), a corrupt PNG (forged
    interlace flag over a plain stream) degrades to the integer plan,
    WAV is unsupported for resize but samples frames inclusively at
    both ends."""
    from extract_text_spark.bytecorpus import (
        make_bmp, make_gif, make_png, make_wav)
    from extract_text_spark.functions.multimodal import (
        decode_bmp_header, decode_png_pixels, resize_media, sample_frames)

    inter = bytearray(make_png(80, 8))
    inter[28] = 1                            # forged Adam7 flag
    rows = [("bmp", make_bmp(100, 40)), ("png", make_png(300, 20)),
            ("png_i", bytes(inter)),
            ("png_a", make_png(80, 8, interlace=1)),
            ("gif", make_gif(120, 30, raster=True)),
            ("gif_a", make_gif(100, 40, raster=True,
                               frames=4, delay_cs=30)),
            ("gif_h", make_gif(60, 20)),     # header-only: no raster
            ("wav", make_wav(4000)), ("junk", b"\x00\x01")]
    df = spark.createDataFrame(
        [(r, bytearray(p), "application/octet-stream", None, None)
         for r, p in rows],
        "media_ref string, payload binary, mime string, "
        "width int, height int")

    rz = {r.media_ref: r for r in resize_media(df, max_dim=50).collect()}
    assert rz["bmp"].status == "resized"
    assert (rz["bmp"].dst_w, rz["bmp"].dst_h) == (50, 20)
    assert rz["bmp"].scale_milli == 500000
    got = decode_bmp_header(bytes(rz["bmp"].resized))
    assert (got["width"], got["height"]) == (50, 20)
    assert rz["bmp"].resized_n_bytes == 54 + 20 * ((3 * 50 + 3) // 4 * 4)
    assert rz["png"].status == "resized"
    assert (rz["png"].dst_w, rz["png"].dst_h) == (50, 3)
    pw, ph, pch, praw = decode_png_pixels(bytes(rz["png"].resized))
    assert (pw, ph, pch) == (50, 3, 1)
    src_raw = decode_png_pixels(make_png(300, 20))[3]
    assert praw == bytes(src_raw[(y * 20 // 3) * 300 + (x * 300 // 50)]
                         for y in range(3) for x in range(50))
    # forged interlace flag = undecodable stream -> exact integer plan
    assert rz["png_i"].status == "planned" and rz["png_i"].resized is None
    assert (rz["png_i"].dst_w, rz["png_i"].dst_h) == (50, 5)
    # REAL Adam7 resizes; raster == the plain-layout 80x8 source
    assert rz["png_a"].status == "resized"
    aw, ah, ach, araw = decode_png_pixels(bytes(rz["png_a"].resized))
    assert (aw, ah, ach) == (50, 5, 1)
    plain8 = decode_png_pixels(make_png(80, 8))[3]
    assert araw == bytes(plain8[(y * 8 // 5) * 80 + (x * 80 // 50)]
                         for y in range(5) for x in range(50))
    # GIF LZW-decodes and resizes; output normalizes to RGB PNG
    assert rz["gif"].status == "resized"
    gw, gh, gch, _ = decode_png_pixels(bytes(rz["gif"].resized))
    assert (gw, gh, gch) == (50, 12, 3)
    gl = 12 * (50 * 3 + 1)
    assert rz["gif"].resized_n_bytes == 63 + 5 * ((gl + 65534) // 65535) + gl
    # header-only GIF has dims but no image data -> plan, not wrong
    assert rz["gif_h"].status == "planned"
    assert (rz["gif_h"].dst_w, rz["gif_h"].dst_h) == (50, 16)
    # an animation's FIRST frame resizes (full-frame descriptor)
    assert rz["gif_a"].status == "resized"
    assert (rz["gif_a"].dst_w, rz["gif_a"].dst_h) == (50, 20)
    assert rz["wav"].status == "unsupported"
    assert rz["junk"].status == "unsupported"

    fr = {r.media_ref: r
          for r in sample_frames(df, interval_ms=250).collect()}
    # 4000 samples at 8 kHz 16-bit -> 500 ms -> frames at 0/250/500
    assert fr["wav"].status == "sampled" and fr["wav"].duration_ms == 500
    assert (fr["wav"].n_frames, fr["wav"].first_ts_ms,
            fr["wav"].last_ts_ms) == (3, 0, 500)
    # animated GIF: 4 frames x 300 ms GCE delay = 1200 ms timeline
    assert fr["gif_a"].status == "sampled"
    assert (fr["gif_a"].duration_ms, fr["gif_a"].n_frames,
            fr["gif_a"].last_ts_ms) == (1200, 5, 1000)
    # a still raster GIF is a 0 ms timeline with one sample at t=0
    assert fr["gif"].status == "sampled"
    assert (fr["gif"].duration_ms, fr["gif"].n_frames,
            fr["gif"].first_ts_ms, fr["gif"].last_ts_ms) == (0, 1, 0, 0)
    # header-only GIF (no image data) cannot sample
    assert fr["gif_h"].status == "unsupported"
    assert fr["bmp"].status == "unsupported"


def test_url_quality_filter_psl_and_thresholds(spark):
    """eTLD+1 edges: deep subdomains collapse to the registrable domain
    (2 labels normally, 3 under a multi-label suffix; a bare suffix host
    passes through whole); a score exactly at the threshold drops."""
    from extract_text_spark.functions.dedup import url_quality_filter

    urls = spark.createDataFrame(
        [(1, "https://a.b.widgets.co.uk/x"),    # -> widgets.co.uk
         (2, "https://co.uk/x"),                # bare suffix host
         (3, "https://deep.sub.bad.example/x"), # blocked via eTLD+1
         (4, "https://ok.example/xxx-casino"),  # 900000+600000 over
         (5, "https://ok.example/casino")],     # exactly == threshold
        "doc_id long, url string")
    bl = spark.createDataFrame([("bad.example",)], "domain string")
    got = {r.doc_id: r for r in url_quality_filter(
        urls, bl, [("casino", 600000), ("xxx", 900000)],
        threshold_milli=600000).collect()}
    assert got[1].domain == "widgets.co.uk" and got[1].keep
    assert got[2].domain == "co.uk" and got[2].keep
    assert got[3].domain == "bad.example" and got[3].blocked
    assert not got[3].keep
    assert got[4].nsfw_milli == 1500000 and not got[4].keep
    assert got[5].nsfw_milli == 600000 and not got[5].keep  # >= drops


def test_pagerank_matches_integer_reference(spark):
    """Distributed power iteration == an independent pure-Python replica
    of the integer-exact transfer rule, on a graph with a multi-edge, a
    cycle and a dangling sink."""
    from collections import Counter

    from extract_text_spark.functions.graph import RANK_SCALE, pagerank

    edges = [("a", "b"), ("a", "b"), ("b", "c"), ("c", "a"),
             ("d", "a"), ("a", "e")]  # e: dangling sink

    def ref(iters, damp=850000):
        nodes = sorted({x for e in edges for x in e})
        n = len(nodes)
        tp = (RANK_SCALE * (10**6 - damp)) // 10**6 // n
        deg = Counter(s for s, _ in edges)
        r = {v: RANK_SCALE // n for v in nodes}
        for _ in range(iters):
            nr = {v: tp for v in nodes}
            for s, t in edges:
                nr[t] += (r[s] * damp // 10**6) // deg[s]
            r = nr
        return r

    df = spark.createDataFrame(edges, "src string, dst string")
    got = {r.host: r.rank for r in pagerank(df, iters=3).collect()}
    assert got == ref(3)
    # sanity on the shape: 'a' has 2 in-hosts + the multi-edge boost to b
    assert got["a"] > got["e"] and got["b"] > got["e"]


def test_outlinks_resolution_rules():
    """RFC 3986 resolution edges the oracle fixture doesn't cover:
    dot-segments past root, query-only refs, scheme-relative against
    http, skip schemes case-insensitively."""
    from extract_text_spark.functions.graph import _resolve_outlinks

    base = "http://h.example/a/b/page.html?old=1"
    html = ('<a href="../../../up.html">a</a>'
            '<a href="?q=2">b</a>'
            '<a href="//cdn.example/x">c</a>'
            '<a href="MAILTO:x@y">d</a>'
            '<a href=" #only ">e</a>')
    got = _resolve_outlinks(base, html)
    assert [(i, r) for i, _, r, _ in got] == [
        (0, "http://h.example/up.html"),
        (1, "http://h.example/a/b/page.html?q=2"),
        (2, "http://cdn.example/x"),
    ]
    assert [h for _, _, _, h in got] == ["h.example", "h.example",
                                         "cdn.example"]


def test_outlinks_feed_pagerank_end_to_end(spark):
    """The composed link pipeline: pages -> harvest_outlinks -> host
    edges -> pagerank. The hub pointed to by both pages outranks the
    one-inlink host."""
    from extract_text_spark.functions.graph import (harvest_outlinks,
                                                    pagerank)

    pages = spark.createDataFrame(
        [(1, "https://a.example/p",
          '<a href="https://hub.example/x">h</a>'
          '<a href="https://b.example/y">b</a>'),
         (2, "https://b.example/q",
          '<a href="https://hub.example/z">h</a>')],
        "doc_id long, url string, html string")
    links = harvest_outlinks(pages)
    # src host from the page URL: join back through the page table
    edges = links.join(pages.select("doc_id", "url"), "doc_id").select(
        F.expr("parse_url(url, 'HOST')").alias("src"),
        F.col("host").alias("dst"))
    ranks = {r.host: r.rank for r in pagerank(edges, iters=3).collect()}
    assert ranks["hub.example"] > ranks["b.example"] > ranks["a.example"]


def test_resize_and_pagerank_guards(spark):
    """A truncated BMP raster must not emit malformed output: resize_bmp
    raises, and the kernel demotes the row to the 'planned' stub path
    (the header dims are still real). Empty edge lists fail loudly
    instead of dividing by zero."""
    import pytest as _pytest

    from extract_text_spark.bytecorpus import make_bmp
    from extract_text_spark.functions.graph import pagerank
    from extract_text_spark.functions.multimodal import (
        DecoderUnavailable, resize_bmp, resize_media)

    truncated = make_bmp(10, 10)[:80]   # valid header, missing raster
    with _pytest.raises(DecoderUnavailable):
        resize_bmp(truncated, 5, 5)
    df = spark.createDataFrame(
        [("t", bytearray(truncated), "application/octet-stream",
          None, None)],
        "media_ref string, payload binary, mime string, "
        "width int, height int")
    (row,) = resize_media(df, max_dim=5).collect()
    assert row.status == "planned" and row.resized is None

    empty = spark.createDataFrame([], "src string, dst string")
    with _pytest.raises(ValueError, match="empty edge list"):
        pagerank(empty, iters=1)


def test_snapshot_dedup_string_ids_still_drop(spark):
    """The best-match pick must be type-agnostic on the id column: the
    engine's own extraction outputs carry STRING doc_ids (e.g.
    '7/a.zip/x.txt'). A negated-id max-struct would implicit-cast the id
    to NULL and silently report this near-dup as keep=True."""
    words = [f"tok{i}" for i in range(20)]
    snap = spark.createDataFrame([("7/a.zip/x.txt", " ".join(words))],
                                 "doc_id string, text string")
    new = spark.createDataFrame(
        [("9/b.tar/y.txt", " ".join(words[:-1] + ["CHANGED"]))],
        "doc_id string, text string")
    (r,) = dedup.snapshot_dedup(new, snap, threshold=0.2).collect()
    assert not r.keep and r.jaccard_milli > 0


def test_bloom_snapshot_filter_no_false_negatives_and_paths_agree(spark):
    """Bloom guarantee: every true snapshot member tests positive (no
    false negatives ever); the literal-array and broadcast-join physical
    forms produce identical verdicts; an undersized filter shows real,
    deterministic false positives the exact join can audit."""
    snap_rows = [(i, f"snapshot doc number {i}") for i in range(40)]
    new_rows = ([(100 + i, f"snapshot doc number {i}") for i in range(0, 10)]
                + [(200 + i, f"fresh unseen doc {i}") for i in range(60)])
    snap = spark.createDataFrame(snap_rows, "doc_id long, text string")
    corpus = spark.createDataFrame(new_rows, "doc_id long, text string")

    lit_form = {r.doc_id: r.bloom_member
                for r in dedup.bloom_snapshot_filter(
                    corpus, snap, m_bits=480, k=4).collect()}
    join_form = {r.doc_id: r.bloom_member
                 for r in dedup.bloom_snapshot_filter(
                     corpus, snap, m_bits=480, k=4,
                     max_literal_words=0).collect()}
    assert lit_form == join_form
    # no false negatives: every re-crawled duplicate is flagged
    assert all(lit_form[100 + i] for i in range(10))
    # severely undersized filter (120 bits / ~160 positions, ~75%
    # density) -> real deterministic FPs, but never all-positive
    dense = {r.doc_id: r.bloom_member
             for r in dedup.bloom_snapshot_filter(
                 corpus, snap, m_bits=120, k=4).collect()}
    assert all(dense[100 + i] for i in range(10))
    fps = [d for d in range(200, 260) if dense[d]]
    assert 0 < len(fps) < 60


def test_bloom_filter_words_bounded_and_word_packing(spark):
    """The driver state is exactly ceil(m/60) longs, and every set bit
    stays below bit 60 (the cross-engine shift-safety invariant)."""
    snap = spark.createDataFrame(
        [(f"text {i}",) for i in range(25)], "text string")
    words = dedup.bloom_filter_words(snap, m_bits=480, k=4)
    assert len(words) == 8
    assert any(words)
    assert all(0 <= w < (1 << 60) for w in words)


def test_flac_mp3_header_decode():
    from extract_text_spark.bytecorpus import make_flac, make_mp3
    from extract_text_spark.functions import multimodal as mm
    f = make_flac(44100 * 2 + 441)          # exact: 2.01 s
    assert mm.sniff_mime(f) == "audio/flac"
    assert mm.decode_flac_header(f) == {
        "sample_rate": 44100, "duration_ms": 2010}
    m = make_mp3(4, with_id3=True)          # ID3 syncsafe skip
    assert mm.sniff_mime(m) == "audio/mpeg"
    hdr = mm.decode_mp3_header(m)
    assert hdr["sample_rate"] == 44100
    assert hdr["duration_ms"] == (len(m) - 10) * 8 * 1000 // 128000
    bare = make_mp3(1)                      # frame-sync-only detection
    assert mm.sniff_mime(bare) == "audio/mpeg"
    assert mm.decode_mp3_header(bare)["duration_ms"] == 417 * 8 * 1000 // 128000
    # truncated/corrupt payloads fail closed, not crash
    assert mm.decode_flac_header(b"fLaC\x00\x00") is None
    assert mm.decode_mp3_header(b"\xff\xfb") is None
    assert mm.decode_mp3_header(b"ID3\x03\x00\x00\x00\x00\x00\x7f") is None
    # a free-bitrate or reserved-rate header is rejected
    assert mm.decode_mp3_header(b"\xff\xfb\x00\x00" + b"\x00" * 10) is None
    assert mm.decode_mp3_header(b"\xff\xfb\xf0\x00" + b"\x00" * 10) is None
    assert mm.decode_mp3_header(b"\xff\xfb\x9c\x00" + b"\x00" * 10) is None
    # the sniffer is exactly as strict as the decoder: a UTF-16LE BOM
    # (FF FE — a valid MPEG Layer I sync) must not classify as audio
    assert mm.sniff_mime("﻿hello".encode("utf-16-le")) \
        == "application/octet-stream"
    # ID3v2.4 footer flag (header byte 5 bit 0x10): the 10-byte footer
    # follows the tag and is NOT counted in the syncsafe size — the
    # first frame sits 10 bytes later than the size alone says
    frame = make_mp3(1)
    footed = (b"ID3\x04\x00\x10" + b"\x00\x00\x00\x00"
              + b"3DI\x04\x00\x10" + b"\x00\x00\x00\x00" + frame)
    hdr = mm.decode_mp3_header(footed)
    assert hdr is not None and hdr["sample_rate"] == 44100
    assert hdr["duration_ms"] == len(frame) * 8 * 1000 // 128000
    # VBR: a Xing (or Info/VBRI) header carries the exact frame count —
    # duration is frames*1152/rate, NOT the CBR byte estimate
    xing = make_mp3(2, xing_frames=7350)       # 7350 frames = 192.0 s
    assert mm.decode_mp3_header(xing)["duration_ms"] \
        == 7350 * 1152 * 1000 // 44100
    vbri = make_mp3(2, vbri_frames=441)
    assert mm.decode_mp3_header(vbri)["duration_ms"] \
        == 441 * 1152 * 1000 // 44100
    # a Xing header with the FRAMES flag clear falls back to CBR
    noflag = bytearray(make_mp3(2, xing_frames=7350))
    noflag[40:44] = b"\x00\x00\x00\x00"
    assert mm.decode_mp3_header(bytes(noflag))["duration_ms"] \
        == 834 * 8 * 1000 // 128000
    # ID3 + Xing compose: tag skip first, then the VBR walk
    assert mm.decode_mp3_header(
        b"ID3\x03\x00\x00\x00\x00\x00\x00" + xing)["duration_ms"] \
        == 7350 * 1152 * 1000 // 44100
    # n_frames=0 stays an empty / tag-only stream, never a 1-frame MP3
    assert make_mp3(0) == b""
    assert mm.decode_mp3_header(make_mp3(0, with_id3=True)) is None


def test_webm_header_decode():
    from extract_text_spark.bytecorpus import make_webm
    from extract_text_spark.functions import multimodal as mm

    v = make_webm(90500, width=640, height=360)
    assert len(v) == 58                        # the closed-form size
    assert mm.sniff_mime(v) == "video/webm"
    assert mm.decode_webm_header(v) == {
        "duration_ms": 90500, "width": 640, "height": 360}
    # no video track -> dims stay absent; 25 fps timecode scale
    # (40 ms/tick): 250 ticks = 10 s
    a = make_webm(250, scale=40_000_000)
    assert len(a) == 41
    assert mm.decode_webm_header(a) == {"duration_ms": 10000}
    # streamed Segment (unknown-size vint) walks to end-of-buffer
    s = make_webm(1234, width=320, height=240, streamed=True)
    assert mm.decode_webm_header(s) == {
        "duration_ms": 1234, "width": 320, "height": 240}
    # truncated / bare-magic / garbage payloads fail closed, not crash
    assert mm.decode_webm_header(v[:20]) is None
    assert mm.decode_webm_header(b"\x1a\x45\xdf\xa3" + b"x" * 16) is None
    assert mm.decode_webm_header(b"\x1a\x45\xdf\xa3") is None
    assert mm.decode_webm_header(b"RIFFxxxx") is None
    # a declared element size past the buffer stops the walk
    bad = bytearray(v)
    bad[16] = 0xFE                             # Segment size absurd (126
    #                                            bytes declared, 41 real)
    assert mm.decode_webm_header(bytes(bad)) is None


def test_mp4_header_decode():
    from extract_text_spark.bytecorpus import make_mp4
    from extract_text_spark.functions import multimodal as mm
    v0 = make_mp4(90240, timescale=1000, width=640, height=360)
    assert mm.sniff_mime(v0) == "video/mp4"
    assert mm.decode_mp4_header(v0) == {
        "duration_ms": 90240, "width": 640, "height": 360}
    # v1 layout at the 90 kHz broadcast timescale, no video track
    v1 = make_mp4(120 * 90000, timescale=90000, v1=True)
    assert mm.decode_mp4_header(v1) == {"duration_ms": 120000}
    # ftyp alone (no moov), truncated boxes, zero timescale: fail closed
    assert mm.decode_mp4_header(b"\x00\x00\x00\x08ftypisom") is None
    assert mm.decode_mp4_header(v0[:40]) is None
    assert mm.decode_mp4_header(
        make_mp4(500, timescale=0, v1=False)) is None
    # a declared box size past EOF stops the walk instead of raising
    bad = bytearray(v0)
    bad[16:20] = (1 << 30).to_bytes(4, "big")      # moov size absurd
    assert mm.decode_mp4_header(bytes(bad)) is None


def test_robots_decision_rfc9309_semantics():
    from extract_text_spark.functions.graph import (
        parse_robots, robots_decision)
    txt = ("# politeness\n"
           "User-agent: MyBot\n"
           "User-agent: otherbot\n"
           "Disallow: /tmp/*.json$\n"
           "Crawl-delay: 5\n"
           "Allow: /tmp/public/\n"
           "User-agent: *\n"
           "Disallow: /\n")
    # consecutive UA lines share a group; unknown directives don't split it
    groups = parse_robots(txt)
    assert [a for a, _ in groups] == [["mybot", "otherbot"], ["*"]]
    assert len(groups[0][1]) == 2
    # specific group wins over catch-all; matching is case-insensitive
    assert robots_decision(txt, "MYBOT/2.1", "/anything")
    assert not robots_decision(txt, "mybot", "/tmp/a.json")
    assert robots_decision(txt, "mybot", "/tmp/a.json.txt")   # $ anchor
    # equal specificity (both patterns are 12 octets): tie goes to allow
    assert robots_decision(txt, "mybot", "/tmp/public/x.json")
    # unmatched UA falls to *, which disallows everything
    assert not robots_decision(txt, "randombot", "/anything")
    # empty / no-groups / rule-before-group: allow
    assert robots_decision("", "x", "/a")
    assert robots_decision("Disallow: /\n", "x", "/a")
    # empty Disallow means allow-all, not disallow-all
    assert robots_decision("User-agent: *\nDisallow:\n", "x", "/a")
    # a UTF-8 BOM must not unrecognize the first User-agent line
    # (that would fail OPEN on the whole host)
    assert not robots_decision(
        "﻿User-agent: *\nDisallow: /\n", "x", "/a")
    # bare 'Disallow: $' matches only the empty path — never the site
    assert robots_decision("User-agent: *\nDisallow: $\n", "x", "/a")
    # a $-anchored pattern with NO '*' is an EXACT path match (RFC 9309
    # §2.2.3): '/fish$' must not match '/fish/fish' (starts-and-ends
    # shortcut), and 'Allow: /public$' must not override 'Disallow: /'
    # for a path that merely starts and ends with '/public'
    assert robots_decision("User-agent: *\nDisallow: /fish$\n",
                           "x", "/fish/fish")
    assert not robots_decision("User-agent: *\nDisallow: /fish$\n",
                               "x", "/fish")
    assert not robots_decision(
        "User-agent: *\nAllow: /public$\nDisallow: /\n",
        "x", "/public/secret/public")
    assert robots_decision(
        "User-agent: *\nAllow: /public$\nDisallow: /\n", "x", "/public")
    # '*...$' anchored matching is unchanged by the exact-match rule
    assert not robots_decision("User-agent: *\nDisallow: /a*.js$\n",
                               "x", "/a/deep/x.js")
    assert robots_decision("User-agent: *\nDisallow: /a*.js$\n",
                           "x", "/a/deep/x.json")


def test_sitemap_directives_discovery(spark):
    """Sitemap: lines are group-independent records: found anywhere in
    the file (before any group, between groups, after rules),
    case-insensitive key, comment-stripped value, BOM-stripped first
    line, relative values kept but flagged, empty values dropped."""
    from extract_text_spark.functions.graph import sitemap_directives

    robots = "\ufeff" + (
        "SiTeMaP : https://a.example/one.xml # primary\n"
        "User-agent: *\r\n"
        "Disallow: /tmp\r"
        "sitemap:\n"                       # empty value: dropped
        "Sitemap: /rel.xml\n"
        "User-agent: other\n"
        "SITEMAP:https://a.example/two.xml.gz\n")
    df = spark.createDataFrame([("a.example", robots),
                                ("b.example", "User-agent: *\n")],
                               "host string, robots_txt string")
    got = [(r.host, r.line_no, r.sitemap_url, r.is_absolute)
           for r in sitemap_directives(df)
           .orderBy("host", "line_no").collect()]
    assert got == [
        ("a.example", 0, "https://a.example/one.xml", True),
        ("a.example", 4, "/rel.xml", False),
        ("a.example", 6, "https://a.example/two.xml.gz", True),
    ]


def test_robots_filter_broadcast_join(spark):
    from extract_text_spark.functions.graph import robots_filter
    frontier = spark.createDataFrame(
        [(1, "http://A.example/private/x"),
         (2, "http://a.example/pub"),
         (3, "http://noranking.example/anything"),
         (4, "not a url at all")],
        "doc_id long, url string")
    robots = spark.createDataFrame(
        [("a.example", "User-agent: *\nDisallow: /private/\n")],
        "host string, robots_txt string")
    out = {r.doc_id: r for r in
           robots_filter(frontier, robots, user_agent="bot").collect()}
    # frontier column types are preserved (doc_id stays a long)
    assert not out[1].robots_allowed          # host matched case-fold
    assert out[2].robots_allowed
    assert out[3].robots_allowed              # no robots row -> allow
    assert out[4].robots_allowed and out[4].path == "/"  # unparseable


def test_bloom_broadcast_form_preserves_duplicate_rows(spark):
    """The two physical forms must agree on CARDINALITY too: identical
    corpus rows (a re-crawl feed before dedup — exactly this operator's
    domain) stay distinct through the broadcast form's explode/aggregate
    round-trip."""
    snap = spark.createDataFrame([("seen text",)], "text string")
    corpus = spark.createDataFrame(
        [(1, "seen text"), (1, "seen text"), (2, "fresh text")],
        "doc_id long, text string")
    lit_rows = sorted((r.doc_id, r.bloom_member)
                      for r in dedup.bloom_snapshot_filter(
                          corpus, snap, m_bits=480, k=4).collect())
    join_rows = sorted((r.doc_id, r.bloom_member)
                       for r in dedup.bloom_snapshot_filter(
                           corpus, snap, m_bits=480, k=4,
                           max_literal_words=0).collect())
    assert lit_rows == join_rows
    assert len(join_rows) == 3
    assert join_rows[0][1] and join_rows[1][1]
