"""Training-data ops: approximate methods validated against exact baselines."""

import pytest
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.01"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet")


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF}/embeddings.parquet")


def test_minhash_lsh_recall_vs_exact(spark, docs):
    from hydra_spark.ops.dedup import minhash_lsh_pairs, ngram_jaccard_pairs

    exact = {
        (r.d1, r.d2) for r in ngram_jaccard_pairs(docs, threshold=0.5).collect()
    }
    got = {(r.d1, r.d2) for r in minhash_lsh_pairs(docs, threshold=0.5).collect()}
    assert got <= exact or not exact  # verified candidates never exceed exact
    if exact:
        recall = len(got & exact) / len(exact)
        assert recall >= 0.8, f"LSH recall {recall:.2f} < 0.8 ({len(exact)} true pairs)"


def test_simhash_near_dups_have_low_hamming(spark, docs):
    from hydra_spark.ops.dedup import simhash_pairs_md5, ngram_jaccard_pairs

    sim = simhash_pairs_md5(docs, max_hamming=8)
    pairs = sim.collect()
    assert all(r.hamming <= 8 for r in pairs)
    # the strong near-dups (jaccard >= 0.8) should be found by simhash
    strong = {(r.d1, r.d2) for r in ngram_jaccard_pairs(docs, threshold=0.8).collect()}
    got = {(r.d1, r.d2) for r in pairs}
    if strong:
        assert len(got & strong) / len(strong) >= 0.8


def test_ann_lsh_recall_vs_brute_force(spark, emb):
    from hydra_spark.ops.similarity import cosine_topk, lsh_topk

    qids = list(range(25))
    exact = cosine_topk(emb, qids, k=3).collect()
    approx = lsh_topk(emb, qids, k=3).collect()
    exact_set = {(r.query_id, r.neighbor_id) for r in exact}
    approx_set = {(r.query_id, r.neighbor_id) for r in approx}
    recall = len(exact_set & approx_set) / len(exact_set)
    # near-random vectors (LSH's hardest case); 40-bit / 8-band buckets
    # + hamming-1 multi-probe measure 0.97 at sf0.1 — pin no regression
    # below 0.9 (old 24/4 config measured 0.71).
    assert recall >= 0.9, f"ANN recall@3 {recall:.2f}"


def test_lsh_dup_recall_and_exact_precision(spark, emb):
    from hydra_spark.ops.similarity import cosine_pairs, lsh_dup

    exact = {(r.v1, r.v2): r.cosine for r in cosine_pairs(emb, 0.4).collect()}
    got = {(r.v1, r.v2): r.cosine for r in lsh_dup(emb, 0.4).collect()}
    # precision is exact by construction (every candidate verified with
    # the true cosine) — any emitted pair must be a true pair, with the
    # identical rounded cosine
    assert set(got) <= set(exact)
    assert all(got[p] == exact[p] for p in got)
    # measured recall: 1.0 at sf0.01, 0.986 at sf0.1 (hamming-1 ball per
    # band; model ~0.98 at cosine 0.4) — pin no regression below 0.95
    recall = len(got) / len(exact)
    assert recall >= 0.95, f"lsh_dup recall {recall:.2f} ({len(exact)} true pairs)"


def test_bpe_token_counts_matches_python_regex(spark, docs):
    """Java regexp_count and Python re agree on the BPE pre-tokenizer
    pattern (the DuckDB oracle pins the RE2 side; this pins Java)."""
    import re
    from collections import defaultdict

    from hydra_spark.ops.textstats import BPE_TOKEN_RE, bpe_token_counts

    pat = re.compile(BPE_TOKEN_RE)
    exp = defaultdict(int)
    for r in docs.select("source", "text").collect():
        exp[r.source] += len(pat.findall(r.text))
    got = {r.source: r.total_bpe_tokens for r in bpe_token_counts(docs).collect()}
    assert got == dict(exp)

    # engine-divergence traps: \x0B is whitespace to Java's \s but not
    # RE2's — the explicit class pins all three engines to one answer
    tricky = ["a\x0bb", "it's 42 test-case!", "tab\tsep", "price:$3.50"]
    tdf = spark.createDataFrame([("t", s) for s in tricky], "source string, text string")
    n = bpe_token_counts(tdf).collect()[0].total_bpe_tokens
    assert n == sum(len(pat.findall(s)) for s in tricky)


def test_resize_media_real_pixels(spark, docs):
    """Real path: output PPM bytes equal an independent per-pixel
    nearest-neighbor loop over the decoded source (the oracle checks
    pixel_sum/dims; this pins every output byte)."""
    import numpy as np

    from hydra_spark.ops.multimodal import decode_ppm, docs_as_ppm, resize_media

    media = docs_as_ppm(docs.limit(20))
    src = {r.media_id: bytes(r.payload) for r in media.collect()}
    for r in resize_media(media, 8, 8).collect():
        arr = decode_ppm(src[r.media_id])
        h, w = arr.shape[:2]
        want = np.zeros((8, 8, 3), dtype=np.uint8)
        for y in range(8):
            for x in range(8):
                want[y, x] = arr[(y * h) // 8, (x * w) // 8]
        out = decode_ppm(bytes(r.payload_out))
        assert (r.src_w, r.src_h) == (w, h)
        assert out.shape == (8, 8, 3) and (out == want).all()
        assert r.pixel_sum == int(want.sum())


def test_dup_clusters_chain_and_unionfind_parity(spark, emb):
    from hydra_spark.ops.dedup import dup_clusters
    from hydra_spark.ops.similarity import cosine_pairs

    # a 10-node chain has diameter 9 — exercises multi-round propagation
    chain = spark.createDataFrame([(i, i + 1) for i in range(9)], "v1 long, v2 long")
    out = {r.node: r.cluster_id for r in dup_clusters(chain).collect()}
    assert out == {i: 0 for i in range(10)}

    # union-find parity on the real near-dup pair set
    pairs = cosine_pairs(emb, 0.4)
    parent: dict[int, int] = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for r in pairs.collect():
        ra, rb = find(r.v1), find(r.v2)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    expected = {n: find(n) for n in parent}
    got = {r.node: r.cluster_id for r in dup_clusters(pairs).collect()}
    assert got == expected


def test_dup_clusters_empty_pairs(spark):
    """An empty pair set (no near-dups in the corpus) converges to an
    empty result immediately — the convergence aggregate over zero rows
    must read as 0 changed, not NULL."""
    from hydra_spark.ops.dedup import dup_clusters

    empty = spark.createDataFrame([], "v1 long, v2 long")
    assert dup_clusters(empty).count() == 0


def test_dup_clusters_star_parity(spark, emb):
    """Large-star/small-star equals min-label propagation — on a DEEP
    chain (200 nodes, where O(diameter) propagation would need 200
    rounds but star converges within its 16-round default), on seeded
    random graphs, and on the real cosine pair set."""
    import numpy as np

    from hydra_spark.ops.dedup import dup_clusters_star
    from hydra_spark.ops.similarity import cosine_pairs

    chain = spark.createDataFrame(
        [(i + 1000, i + 1001) for i in range(199)], "v1 long, v2 long"
    )
    out = {r.node: r.cluster_id for r in dup_clusters_star(chain).collect()}
    assert out == {i + 1000: 1000 for i in range(200)}

    def uf_expected(edge_list):
        parent: dict[int, int] = {}

        def find(x):
            parent.setdefault(x, x)
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in edge_list:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        return {n: find(n) for n in parent}

    rng = np.random.default_rng(3)
    for trial in range(3):
        n_nodes, n_edges = 120, 90 + 40 * trial
        el = [
            (int(a), int(b))
            for a, b in rng.integers(0, n_nodes, size=(n_edges, 2))
            if a != b
        ]
        df = spark.createDataFrame(el, "v1 long, v2 long")
        got = {r.node: r.cluster_id for r in dup_clusters_star(df).collect()}
        assert got == uf_expected(el), trial

    pairs = cosine_pairs(emb, 0.4)
    el = [(r.v1, r.v2) for r in pairs.collect()]
    got = {r.node: r.cluster_id for r in dup_clusters_star(pairs).collect()}
    assert got == uf_expected(el)


def test_winnow_guarantee_shared_substring(spark):
    """The winnowing theorem: documents sharing a substring of length
    >= k + window - 1 share at least one fingerprint; unrelated strings
    (different alphabets) share none."""
    from hydra_spark.ops.textstats import winnow_fingerprints

    shared = "a common quoted passage long enough"
    df = spark.createDataFrame(
        [
            (1, "prefix one " + shared + " suffix one"),
            (2, "totally different lead " + shared + " other tail"),
            (3, "0123456789012345678901234567890123456789"),
        ],
        "doc_id long, text string",
    )
    fps = winnow_fingerprints(df, k=8, window=4).collect()
    by_doc = {d: {r.fp for r in fps if r.doc_id == d} for d in (1, 2, 3)}
    assert by_doc[1] & by_doc[2], "shared passage must share a fingerprint"
    assert not (by_doc[1] & by_doc[3]) and not (by_doc[2] & by_doc[3])


def test_dedup_exact_groups(spark, docs):
    from hydra_spark.ops.dedup import dedup_exact

    dup = docs.union(docs.limit(10))  # introduce 10 exact dups
    out = dedup_exact(dup)
    assert out.count() == docs.count()
    assert out.where(F.col("n_copies") == 2).count() == 10


def test_multimodal_real_decode(spark, docs):
    """Real path: PPM round-trip, pixel features computed from actual
    decoded pixels, unknown containers quarantined as decode_error rows
    (never a job kill), video frame slicing correct."""
    import numpy as np

    from hydra_spark.ops.multimodal import (
        decode_ppm,
        decode_video,
        docs_as_ppm,
        docs_as_video,
        encode_ppm,
        extract_features,
        extract_frames,
        frame_sample_plan,
    )

    # codec round-trip, off the cluster
    arr = (np.arange(5 * 7 * 3) % 256).astype(np.uint8).reshape(5, 7, 3)
    assert (decode_ppm(encode_ppm(arr)) == arr).all()

    media = docs_as_ppm(docs.limit(50))
    src = {r.media_id: decode_ppm(bytes(r.payload)) for r in media.collect()}
    feats = extract_features(media).toPandas().set_index("media_id")
    assert feats.decode_error.isna().all()
    for mid, arr in src.items():
        r = feats.loc[mid]
        assert (r.height, r.width) == arr.shape[:2]
        f = np.array(r.features)
        assert np.allclose(f[:3], arr.astype(np.float64).mean(axis=(0, 1)), atol=1e-3)
        assert r.r_sum == int(arr[:, :, 0].sum(dtype=np.int64))

    # non-PPM payloads -> decode_error, no exception
    junk_media = docs.limit(5).select(
        F.col("doc_id").cast("string").alias("media_id"),
        F.col("text").cast("binary").alias("payload"),
        F.lit("application/octet-stream").alias("mime"),
    )
    junk = extract_features(junk_media).toPandas()
    assert (junk.decode_error == "unsupported container").all()
    assert junk.width.isna().all()
    # a non-RV01 payload still samples at least frame 0
    assert frame_sample_plan(junk_media).count() >= 5

    # video: per-frame stats equal a direct slice of the decoded cube
    vids = docs_as_video(docs.limit(10))
    cubes = {r.media_id: decode_video(bytes(r.payload)) for r in vids.collect()}
    got = extract_frames(vids, every_n=10).toPandas()
    assert len(got) == sum(len(range(0, c.shape[0], 10)) for c in cubes.values())
    for _, r in got.iterrows():
        fr = cubes[r.media_id][r.frame_idx]
        assert r.frame_mean == fr.mean(dtype=np.float64)
        assert (r.frame_min, r.frame_max) == (fr.min(), fr.max())


def test_multimodal_degenerate_dims_quarantined(spark):
    """Zero/negative-dim headers must become decode_error rows, never a
    task kill: a 0x0 P6 used to pass the decoder and then divide by the
    height inside _pixel_features (ZeroDivisionError mid-stage)."""
    import pytest

    from hydra_spark.ops.multimodal import (
        decode_ppm, decode_video, extract_features, resize_media,
    )

    for bad in [b"P6\n0 0\n255\n", b"P6\n-5 -5\n255\n" + b"\x00" * 75]:
        with pytest.raises(ValueError):
            decode_ppm(bad)
    with pytest.raises(ValueError):
        decode_video(b"RV01 0000 0004 000001\n")
    decode_video(b"RV01 0004 0004 000000\n")  # zero FRAMES is legal

    media = spark.createDataFrame(
        [("m0", bytearray(b"P6\n0 0\n255\n"), "image/x-portable-pixmap", None)],
        schema="media_id string, payload binary, mime string, meta map<string,string>",
    )
    feats = extract_features(media).collect()
    assert len(feats) == 1 and feats[0].decode_error == "bad PPM dims 0x0"
    rs = resize_media(media, 4, 4).collect()
    assert len(rs) == 1 and rs[0].decode_error == "bad PPM dims 0x0"


def test_ivf_materialized_index_parity_and_pruning(spark, emb, tmp_path):
    """The pre-materialized inverted file must return exactly ivf_topk's
    results, prune the scan to the probe lists, and reject queries whose
    params mismatch the ones it was built with."""
    import pytest

    from hydra_spark.ops.similarity import ivf_index_topk, ivf_index_write, ivf_topk

    path = str(tmp_path / "ivf_idx")
    ivf_index_write(emb, path, n_lists=16)
    qids = list(range(25))
    got = {(r.query_id, r.neighbor_id, r.cosine, r.rank)
           for r in ivf_index_topk(spark, path, emb, qids, k=3, n_probe=6).collect()}
    want = {(r.query_id, r.neighbor_id, r.cosine, r.rank)
            for r in ivf_topk(emb, qids, k=3, n_lists=16, n_probe=6).collect()}
    assert got == want
    plan = ivf_index_topk(spark, path, emb, qids, k=3, n_probe=6)._jdf.queryExecution(
    ).executedPlan().toString()
    assert "PartitionFilters: [" in plan
    assert "list_id" in plan[plan.index("PartitionFilters: ["):][:300]
    with pytest.raises(ValueError):  # params sidecar mismatch fails fast
        ivf_index_topk(spark, path, emb, qids, n_lists=8, seed=7)


def test_ann_ivf_recall_vs_brute_force(spark, emb):
    from hydra_spark.ops.similarity import cosine_topk, ivf_topk

    qids = list(range(25))
    exact = cosine_topk(emb, qids, k=3).collect()
    approx = ivf_topk(emb, qids, k=3, n_lists=16, n_probe=6).collect()
    exact_set = {(r.query_id, r.neighbor_id) for r in exact}
    approx_set = {(r.query_id, r.neighbor_id) for r in approx}
    recall = len(exact_set & approx_set) / len(exact_set)
    # near-random vectors are the hardest case for IVF; probing 6/16
    # lists must still beat random chance by a wide margin
    assert recall >= 0.5, f"IVF recall@3 {recall:.2f}"
    # every reported cosine must be exact (re-ranking is exact math)
    exact_cos = {(r.query_id, r.neighbor_id): r.cosine for r in exact}
    for r in approx:
        if (r.query_id, r.neighbor_id) in exact_cos:
            assert abs(r.cosine - exact_cos[(r.query_id, r.neighbor_id)]) < 1e-9


def test_simhash_md5_pigeonhole_complete(spark, docs):
    """16 chunks + max_hamming 8: candidate generation provably misses
    nothing (pigeonhole), so output == all-pairs hamming filter."""
    from hydra_spark.ops.dedup import simhash_pairs_md5

    got = {(r.d1, r.d2, r.hamming) for r in simhash_pairs_md5(docs, max_hamming=8).collect()}
    # brute-force reference over the same signatures
    toks = docs.select("doc_id", F.explode(F.split("text", " ")).alias("tok"))
    h = F.md5("tok")
    sig_src = toks.select(
        "doc_id",
        F.conv(F.substring(h, 1, 8), 16, 10).cast("long").alias("hi"),
        F.conv(F.substring(h, 9, 8), 16, 10).cast("long").alias("lo"),
    )
    import numpy as np
    pdf = sig_src.toPandas()
    sigs = {}
    for doc_id, grp in pdf.groupby("doc_id"):
        out = []
        for half in ("hi", "lo"):
            hvals = grp[half].to_numpy(dtype=np.int64)
            bits = (hvals[:, None] >> np.arange(32)[None, :]) & 1
            v = (2 * bits - 1).sum(axis=0)
            out.append(int(((v > 0).astype(np.int64) << np.arange(32)).sum()))
        sigs[doc_id] = out
    ids = sorted(sigs)
    expected = set()
    for i, a in enumerate(ids):
        for b in ids[i + 1:]:
            ham = bin(sigs[a][0] ^ sigs[b][0]).count("1") + bin(sigs[a][1] ^ sigs[b][1]).count("1")
            if ham <= 8:
                expected.add((a, b, ham))
    assert got == expected


def test_minhash_bands64_equals_exact(spark, docs):
    """bands=64 (2 rows/band): miss probability <= 1e-8 per true pair,
    so the verified output equals the exact >=0.5 Jaccard pair set —
    this is what lets the driver oracle-check minhash_lsh_dup."""
    from hydra_spark.ops.dedup import minhash_lsh_pairs, ngram_jaccard_pairs

    exact = {(r.d1, r.d2, r.jaccard) for r in ngram_jaccard_pairs(docs, threshold=0.5).collect()}
    got = {(r.d1, r.d2, r.jaccard) for r in minhash_lsh_pairs(docs, threshold=0.5, bands=64).collect()}
    assert got == exact


def test_ivf_tolerates_null_embedding(spark, emb):
    from hydra_spark.ops.similarity import ivf_topk

    base = emb.select("vec_id", "embedding").limit(50)
    with_null = base.unionByName(
        base.limit(1).select(
            F.lit(99999).alias("vec_id"), F.lit(None).cast("array<float>").alias("embedding")
        )
    )
    out = ivf_topk(with_null, [0, 1], k=2, n_lists=4, n_probe=4)
    assert out.count() > 0  # no TypeError from the vectorized assign UDF


def test_lsh_materialized_index_prunes_partitions(spark, emb, tmp_path):
    """The pre-materialized bucket index must (a) return exactly the
    equi-join path's results and (b) scan ONLY the probe buckets —
    static partition pruning visible in the plan."""
    from hydra_spark.ops.similarity import lsh_index_topk, lsh_index_write, lsh_topk

    path = str(tmp_path / "lsh_idx")
    lsh_index_write(emb, path)
    qids = list(range(25))
    got = {(r.query_id, r.neighbor_id, r.cosine, r.rank)
           for r in lsh_index_topk(spark, path, emb, qids, k=3).collect()}
    want = {(r.query_id, r.neighbor_id, r.cosine, r.rank)
            for r in lsh_topk(emb, qids, k=3).collect()}
    assert got == want
    plan = lsh_index_topk(spark, path, emb, qids, k=3)._jdf.queryExecution(
    ).executedPlan().toString()
    # the index scan carries partition filters on (band, bv) — the
    # probe IN-list reached the directory level
    assert "PartitionFilters: [" in plan
    scan = plan[plan.index("PartitionFilters: ["):]
    assert "band" in scan[:400] and "bv" in scan[:400]


def test_ivf_train_improves_objective_and_recall_floor(spark, emb):
    """Lloyd-trained codebook: deterministic, unit-norm, monotone on the
    spherical k-means objective vs the seeded init, and the trained
    ivf_topk keeps the recall floor of the seeded one."""
    import numpy as np

    from hydra_spark.ops.similarity import (
        _ivf_centroids, cosine_topk, ivf_topk, ivf_train,
    )

    trained = ivf_train(emb, n_lists=16, iters=4, seed=42)
    again = ivf_train(emb, n_lists=16, iters=4, seed=42)
    # distributed float64 mean merges partials in shuffle-fetch order —
    # reproducible to ~1 ulp, not bitwise (see ivf_train docstring)
    np.testing.assert_allclose(trained, again, rtol=0, atol=1e-12)
    assert trained.shape == (16, 64)
    np.testing.assert_allclose(np.linalg.norm(trained, axis=1), 1.0, rtol=1e-9)

    V = np.array(
        [r[0] for r in emb.where(F.col("embedding").isNotNull()).select("embedding").collect()],
        dtype=np.float64,
    )
    Vn = V / np.linalg.norm(V, axis=1, keepdims=True)

    def objective(C):  # mean best-centroid cosine — what Lloyd ascends
        return float((Vn @ C.T).max(axis=1).mean())

    seeded = _ivf_centroids(64, 16, 42)
    assert objective(trained) > objective(seeded), "Lloyd must improve the fit"

    qids = list(range(10))
    exact = {(r["query_id"], r["neighbor_id"]) for r in cosine_topk(emb, qids, k=3).collect()}
    got = {
        (r["query_id"], r["neighbor_id"])
        for r in ivf_topk(emb, qids, k=3, n_lists=16, n_probe=6, centroids=trained).collect()
    }
    recall = len(exact & got) / len(exact)
    assert recall >= 0.5, f"trained-IVF recall@3 {recall:.2f}"


# ------------------------------------------------- deterministic sampling


def test_hash_split_key_stable_and_exact(spark):
    """Assignment is a pure function of the key: identical across
    repartitioning AND across which other rows are present (no
    leakage when the corpus grows)."""
    from hydra_spark.ops.sampling import hash_split

    df = spark.range(0, 2000).withColumnRenamed("id", "doc_id")
    w = {"train": "0.8", "val": "0.1", "test": "0.1"}
    a = {r.doc_id: r.split for r in hash_split(df, w, "doc_id").collect()}
    b = {
        r.doc_id: r.split
        for r in hash_split(df.repartition(13), w, "doc_id").collect()
    }
    assert a == b
    # subset invariance: first half alone gets the same assignments
    c = {
        r.doc_id: r.split
        for r in hash_split(df.where(F.col("doc_id") < 1000), w, "doc_id").collect()
    }
    assert c == {k: v for k, v in a.items() if k < 1000}
    # proportions: md5 is uniform, so expect ~80/10/10 within a few %
    from collections import Counter

    n = Counter(a.values())
    assert abs(n["train"] / 2000 - 0.8) < 0.04
    assert abs(n["val"] / 2000 - 0.1) < 0.03
    assert abs(n["test"] / 2000 - 0.1) < 0.03


def test_hash_split_weight_validation(spark):
    from hydra_spark.ops.sampling import hash_split, hex_threshold

    df = spark.range(1).withColumnRenamed("id", "doc_id")
    with pytest.raises(ValueError):
        hash_split(df, {"a": "0.5", "b": "0.4"}, "doc_id")  # sums to 0.9
    with pytest.raises(ValueError):
        hex_threshold("1.5")
    assert hex_threshold(1) == "g"  # clamp: sorts after every hex string
    assert hex_threshold("0.5") == "8" + "0" * 31


def test_stratified_sample_deterministic_and_salted(spark):
    from hydra_spark.ops.sampling import stratified_sample

    df = spark.range(0, 1000).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") % 2 == 0, "en").otherwise("de").alias("lang"),
    )
    fr = {"en": "0.5", "de": 1}
    a = {r.doc_id for r in stratified_sample(df, fr, "lang", "doc_id").collect()}
    b = {
        r.doc_id
        for r in stratified_sample(df.repartition(7), fr, "lang", "doc_id").collect()
    }
    assert a == b
    assert all(d in a for d in range(1, 1000, 2))  # de kept fully (frac 1)
    n_en = sum(1 for d in a if d % 2 == 0)
    assert abs(n_en / 500 - 0.5) < 0.07
    # unlisted groups drop by default
    only_en = stratified_sample(df, {"en": "0.25"}, "lang", "doc_id").collect()
    assert all(r.lang == "en" for r in only_en)
    # a different salt draws an independent hash -> different survivors
    c = {
        r.doc_id
        for r in stratified_sample(df, fr, "lang", "doc_id", salt="other").collect()
    }
    assert c != a and all(d in c for d in range(1, 1000, 2))


def test_hash_split_null_keys_deterministic(spark):
    """NULL keys form one deterministic equivalence class: same split
    regardless of weight dict order; frac-1 strata keep NULL-key rows."""
    from hydra_spark.ops.sampling import hash_split, stratified_sample

    df = spark.createDataFrame(
        [(None, "es"), (None, "es"), (1, "es")], "doc_id int, lang string"
    )
    w1 = {"train": "0.8", "val": "0.1", "test": "0.1"}
    w2 = {"test": "0.1", "val": "0.1", "train": "0.8"}
    s1 = {r.split for r in hash_split(df.where(F.col("doc_id").isNull()), w1, "doc_id").collect()}
    s2 = {r.split for r in hash_split(df.where(F.col("doc_id").isNull()), w2, "doc_id").collect()}
    assert len(s1) == 1 and s1 == s2  # one class, order-independent
    kept = stratified_sample(df, {"es": 1}, "lang", "doc_id").count()
    assert kept == 3  # keep-100% stratum keeps NULL-key rows too


def test_slice_bound_validation(spark):
    from hydra_spark.functions.resample import resample_clips
    from hydra_spark.functions.segment import segment_clips

    df = spark.createDataFrame(
        [], "clip_id string, bytes binary, sr_hz int, codec string"
    )
    with pytest.raises(ValueError):
        resample_clips(df, max_slice_bytes=1 << 32)
    with pytest.raises(ValueError):
        segment_clips(df, max_slice_bytes=0)


def test_pii_redact_counts_and_placeholders(spark):
    from hydra_spark.ops.textstats import pii_redact

    rows = [
        (1, "mail a@b.co and c.d+x@e-f.org, call +1-555-0199, host 192.168.1.10"),
        (2, "no pii here, just 3 numbers 42 and v1.2"),  # v1.2 is not an IPv4
        (3, "double mail x@y.io x@y.io"),
        # overlap: phone-shaped local-part is consumed by the email
        # redaction; counts reconcile with emitted placeholders
        (4, "mail +1-555-12@x.io and call +1-555-99"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r for r in pii_redact(df).collect()}
    assert (got[1].n_emails, got[1].n_phones, got[1].n_ips) == (2, 1, 1)
    assert got[1].text_redacted == "mail <EMAIL> and <EMAIL>, call <PHONE>, host <IP>"
    assert (got[2].n_emails, got[2].n_phones, got[2].n_ips) == (0, 0, 0)
    assert got[2].text_redacted == rows[1][1]  # untouched passthrough
    assert got[3].n_emails == 2 and got[3].text_redacted == "double mail <EMAIL> <EMAIL>"
    assert (got[4].n_emails, got[4].n_phones) == (1, 1)
    assert got[4].text_redacted == "mail <EMAIL> and call <PHONE>"


def test_repetition_stats_known_values(spark):
    """Hand-computed duplicate fractions, including the short-doc edge
    cases where sequence() would otherwise flip to a descending range."""
    from hydra_spark.ops.textstats import repetition_stats

    df = spark.createDataFrame(
        [
            (1, "a b a b a"),    # words: 5, distinct 2 -> dup 0.6
                                  # 2grams: ab ba ab ba -> dup 0.5
                                  # 3grams: aba bab aba -> dup 1/3
            (2, "x"),             # 1 word: no 2/3-grams -> 0.0, not flagged
            (3, "x y"),           # 2 words: one 2gram, no 3grams
            (4, "q q q q q q"),   # total repetition -> all fracs high, flagged
            (5, "a b c d e f"),   # all unique -> 0.0 everywhere
        ],
        "doc_id long, text string",
    )
    got = {r.doc_id: r for r in repetition_stats(df).collect()}
    r1 = got[1]
    assert (r1.n_words, r1.dup_word_frac, r1.dup_2gram_frac) == (5, 0.6, 0.5)
    assert abs(r1.dup_3gram_frac - round(1 - 2 / 3, 4)) < 1e-9
    assert r1.flagged
    assert (got[2].dup_2gram_frac, got[2].dup_3gram_frac, bool(got[2].flagged)) == (0.0, 0.0, False)
    assert got[3].dup_2gram_frac == 0.0 and got[3].dup_3gram_frac == 0.0
    r4 = got[4]
    assert r4.dup_word_frac == round(1 - 1 / 6, 4) and r4.dup_2gram_frac == 0.8
    assert r4.flagged
    r5 = got[5]
    assert (r5.dup_word_frac, r5.dup_2gram_frac, r5.dup_3gram_frac, bool(r5.flagged)) == (
        0.0, 0.0, 0.0, False,
    )


def test_corpus_gate_reasons_and_keep(spark):
    """Crafted docs hitting each gate in pipeline order: the FIRST
    failing gate names the reason; a doc failing several gates reports
    the earliest one."""
    from hydra_spark.ops.textstats import corpus_gate

    def en_doc(base):
        # stopword-rich but with UNIQUE content words, so quality is
        # high while no 2-/3-gram repeats (repetition gate stays quiet)
        return " ".join(
            f"the w{base+4*i} and w{base+4*i+1} of w{base+4*i+2} a w{base+4*i+3}"
            for i in range(15)
        )

    rows = [
        (1, en_doc(0), "s"),                     # keeps
        (2, "der hund und die katze und das " * 10, "s"),   # lang
        (3, "the the the the the the the the", "s"),        # en but repetitious
        (4, en_doc(1000), "s"),                  # clean but IS the benchmark
        (5, "tiny", "s"),                        # no stopwords -> und -> lang
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
    bench = docs.where("doc_id = 4")  # doc 4 IS the benchmark -> contaminated
    got = {r.doc_id: (bool(r.keep), r.reason) for r in corpus_gate(docs, bench).collect()}
    assert got[1] == (True, "")
    assert got[2] == (False, "lang")
    assert got[3] == (False, "repetition")
    assert got[4] == (False, "contamination")
    assert got[5] == (False, "lang")


def test_dedup_apply_domination_drop(spark):
    """Chain pairs (1,2),(2,3): docs 2 and 3 are dominated and drop;
    an isolated pair (5,6) drops only its higher id."""
    from hydra_spark.ops.dedup import dedup_apply

    docs = spark.createDataFrame(
        [(i, f"t{i}") for i in (1, 2, 3, 4, 5, 6)], "doc_id long, text string"
    )
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (5, 6)], "d1 long, d2 long"
    )
    kept = sorted(r.doc_id for r in dedup_apply(docs, pairs).collect())
    assert kept == [1, 4, 5]


def test_chunk_dedup_vs_bruteforce(spark):
    """Exact-substring chunk dedup vs an independent per-corpus python
    implementation: cross-doc dup chunks, within-doc repetition, a
    fully-removed doc, and a ragged tail chunk."""
    import hashlib

    from hydra_spark.ops.dedup import chunk_dedup

    W = 3
    A = "a b c d e f g h"          # 3 chunks: 'a b c','d e f','g h' (ragged)
    B = "a b c x y z"              # first chunk dups A's chunk 0
    C = "q r s q r s q r s"        # within-doc repetition: chunks 1,2 removed
    D = "a b c d e f"              # fully removed (both chunks seen in A)
    rows = [(1, A), (2, B), (3, C), (4, D)]
    got = {
        r.doc_id: (r.n_chunks, r.n_removed, r.clean_md5)
        for r in chunk_dedup(
            spark.createDataFrame(rows, "doc_id long, text string"), width=W
        ).collect()
    }

    # brute force over (doc_id, pos) order
    seen, expect = set(), {}
    for doc_id, text in rows:
        ws = text.split(" ")
        chunks = [" ".join(ws[i : i + W]) for i in range(0, len(ws), W)]
        kept = []
        removed = 0
        for c in chunks:
            if c in seen:
                removed += 1
            else:
                seen.add(c)
                kept.append(c)
        expect[doc_id] = (
            len(chunks),
            removed,
            hashlib.md5(" ".join(kept).encode()).hexdigest(),
        )
    assert got == expect
    assert expect[4][1] == 2 and expect[4][2] == hashlib.md5(b"").hexdigest()


def test_pack_sequences_two_phase_equals_naive(spark):
    """The distributed two-phase prefix sum must equal the naive
    serial cumsum for any bucket count, including buckets the id range
    doesn't divide evenly and docs longer than the budget."""
    from hydra_spark.ops.packing import pack_sequences

    rows = [(i * 3 + 1, "w " * (5 + (i * 7) % 40) + "end") for i in range(50)]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    toks = {d: len(t.split(" ")) for d, t in rows}
    cum, expect = 0, {}
    for d in sorted(toks):
        expect[d] = (toks[d], cum, cum // 16)
        cum += toks[d]

    for nb in (1, 7, 64):
        got = {
            r.doc_id: (r.n_tokens, r.stream_start, r.pack_id)
            for r in pack_sequences(df, budget=16, n_buckets=nb).collect()
        }
        assert got == expect, f"n_buckets={nb}"


def test_balanced_sample_properties(spark):
    """Every stratum lands at exactly n_min; kept set is key-stable
    (partitioning-independent) and is the hash-order prefix."""
    import hashlib

    from hydra_spark.ops.sampling import balanced_sample

    rows = [(i, "g1" if i < 30 else ("g2" if i < 40 else "g3")) for i in range(45)]
    df = spark.createDataFrame(rows, "doc_id long, grp string")
    kept = [
        (r.doc_id, r.grp)
        for r in balanced_sample(df, group_col="grp", key_col="doc_id").collect()
    ]
    from collections import Counter

    by_grp = Counter(g for _, g in kept)
    assert by_grp == {"g1": 5, "g2": 5, "g3": 5}

    # hash-order prefix: min-5 md5s per group survive
    for grp, ids in (("g1", range(30)), ("g2", range(30, 40)), ("g3", range(40, 45))):
        ranked = sorted(ids, key=lambda i: hashlib.md5(str(i).encode()).hexdigest())
        assert {d for d, g in kept if g == grp} == set(ranked[:5])

    # partitioning independence
    kept2 = {
        (r.doc_id, r.grp)
        for r in balanced_sample(
            df.repartition(7), group_col="grp", key_col="doc_id"
        ).collect()
    }
    assert kept2 == set(kept)


def test_edit_distance_pairs_exact_vs_bruteforce(spark):
    """PassJoin candidate scheme must be EXACT (recall 1, precision 1)
    vs brute-force levenshtein, across substitution/insert/delete edits
    at head/middle/tail positions and distances straddling the bound."""
    from hydra_spark.ops.dedup import edit_distance_pairs

    base = "the quick brown fox jumps over the lazy dog again and again"
    variants = [
        base,
        "X" + base[1:],                      # sub at head (d=1)
        base[:-1] + "X",                     # sub at tail (d=1)
        base[:30] + "XYZ" + base[33:],       # 3 subs mid (d=3)
        base[:10] + base[14:],               # 4-char delete (d=4)
        base + " tail",                      # 5-char insert (d=5, excluded)
        "completely different text here ok", # far away
    ]
    rows = [(i, tx) for i, tx in enumerate(variants)]
    # second clique, disjoint
    rows += [(10, "abcdefghij" * 4), (11, "abcdefghij" * 4 + "zz")]

    def lev(a, b):
        m, n = len(a), len(b)
        dp = list(range(n + 1))
        for i in range(1, m + 1):
            prev, dp[0] = dp[0], i
            for j in range(1, n + 1):
                cur = dp[j]
                dp[j] = min(dp[j] + 1, dp[j - 1] + 1, prev + (a[i - 1] != b[j - 1]))
                prev = cur
        return dp[n]

    t = 4
    expect = {
        (a, b): lev(ta, tb)
        for ai, (a, ta) in enumerate(rows)
        for b, tb in rows[ai + 1:]
        if lev(ta, tb) <= t and len(ta) >= t + 1 and len(tb) >= t + 1
    }
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r.d1, r.d2): r.dist
        for r in edit_distance_pairs(df, max_dist=t).collect()
    }
    assert got == expect
    assert (0, 4) in got and got[(0, 4)] == 4   # boundary distance kept
    assert (0, 5) not in got                    # distance 5 excluded


def test_chunk_dedup_and_pack_null_and_empty_edges(spark):
    """NULL text emits zero chunks (not a descending-sequence blowup);
    empty input to pack_sequences returns the output shape."""
    from hydra_spark.ops.dedup import chunk_dedup
    from hydra_spark.ops.packing import pack_sequences

    df = spark.createDataFrame(
        [(1, "a b c"), (2, None)], "doc_id long, text string"
    )
    got = {r.doc_id: r.n_chunks for r in chunk_dedup(df, width=2).collect()}
    assert got == {1: 2}  # null-text doc has no chunks, emits no row

    empty = spark.createDataFrame([], "doc_id long, text string")
    out = pack_sequences(empty, budget=16)
    assert out.count() == 0
    assert out.columns == ["doc_id", "n_tokens", "stream_start", "pack_id"]


def test_extract_frames_quarantines_bad_payloads(spark):
    """Corrupt and null video payloads become visible decode_error rows
    instead of silently shrinking the frame stats."""
    from hydra_spark.ops.multimodal import decode_video, extract_frames

    good = b"RV01 0002 0002 000002\n" + bytes(range(24))
    assert decode_video(good).shape == (2, 2, 2, 3)
    media = spark.createDataFrame(
        [
            ("ok", bytearray(good)),
            ("junk", bytearray(b"not a video")),
            ("empty", None),
        ],
        schema="media_id string, payload binary",
    )
    rows = {r.media_id: r for r in extract_frames(media, every_n=1).collect()}
    # quarantined rows collapse to one error row per media_id
    assert rows["junk"].decode_error is not None and rows["junk"].frame_idx is None
    assert rows["empty"].decode_error == "null payload"
    ok = [r for r in extract_frames(media, every_n=1).collect() if r.media_id == "ok"]
    assert len(ok) == 2 and all(r.decode_error is None for r in ok)
