"""LLM-data-pipeline operator tests (SURVEY.md §2.13):
- MinHash-LSH must reproduce the exact-Jaccard pair set (recall
  check on real sf0.001 data where near-dups are planted);
- SimHash invariants (identical text → identical hash; near-dup
  pairs surface);
- ANN recall of IVF / LSH paths vs the exact brute force;
- multimodal mapInPandas plumbing end-to-end.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from cricket_analytics_nosql_spark.operators.dedup import (
    EDIT_DIST_MAX,
    connected_components,
    edit_distance_pairs,
    jaccard_pairs,
    lsh_candidates,
    minhash_signatures,
    simhash_near_pairs,
    simhash_signatures,
)
from cricket_analytics_nosql_spark.operators.multimodal import (
    attach_binary,
    decode_features,
)
from cricket_analytics_nosql_spark.operators.similarity import (
    ann_brute_force,
    ann_ivf_neighbors,
    ann_ivf_kmeans_neighbors,
    ann_lsh_neighbors,
)
from cricket_analytics_nosql_spark.operators.text import shingles_col, tokens_col
from cricket_analytics_nosql_spark.sources.tables import load_table


@pytest.fixture(scope="module")
def docs(spark, sf_small):
    return load_table(spark, sf_small, "documents").cache()


def test_shingles_basics(spark):
    df = spark.createDataFrame(
        [("a b c d",), ("x y",), ("",)], "text string"
    ).select(shingles_col(tokens_col(F.col("text"))).alias("s"))
    rows = [r.s for r in df.collect()]
    assert rows[0] == ["a b c", "b c d"]
    assert rows[1] == []  # under 3 tokens → empty, not sequence(0,-1)
    assert rows[2] == []


def test_minhash_lsh_recall_equals_exact(docs):
    """On the planted near-dups (J ≈ 0.99) LSH at 8×4 must not miss:
    candidate ∩ exact == exact."""
    exact = {
        (r.d1, r.d2) for r in jaccard_pairs(docs, 0.8).collect()
    }
    assert exact, "corpus should contain planted near-dup pairs"
    cands = {
        (r.d1, r.d2)
        for r in lsh_candidates(minhash_signatures(docs)).collect()
    }
    assert exact <= cands, f"LSH missed pairs: {exact - cands}"


def test_minhash_end_to_end_equals_exact(spark, sf_small, docs):
    """Candidate-verify pipeline output == exhaustive exact pairs
    (same jaccard values, same pair set)."""
    from cricket_analytics_nosql_spark.operators.dedup import (
        dedup_jaccard,
        dedup_minhash_lsh,
    )

    exact = {
        (r.d1, r.d2): r.jaccard
        for r in dedup_jaccard(spark, sf_small).collect()
    }
    lsh = {
        (r.d1, r.d2): r.jaccard
        for r in dedup_minhash_lsh(spark, sf_small).collect()
    }
    assert exact == lsh


def test_minhash_signature_shape(docs):
    sig = minhash_signatures(docs, num_hashes=32).first()
    assert len(sig.sig) == 32
    assert all(isinstance(x, int) for x in sig.sig)


def test_connected_components_transitive_chain(spark):
    """a~b and b~c must land in ONE cluster labeled by the smallest
    member even though (a, c) was never a pair; disjoint pairs stay
    separate clusters."""
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (20, 21), (21, 22)],
        "d1 long, d2 long",
    )
    got = {
        (r.doc_id, r.cluster_id)
        for r in connected_components(pairs).collect()
    }
    assert got == {
        (1, 1), (2, 1), (3, 1), (4, 1),
        (10, 10), (11, 10),
        (20, 20), (21, 20), (22, 20),
    }


def test_lsh_hot_bucket_cap_bounds_candidates(spark):
    """Adversarial boilerplate flood (VERDICT r7 hardening note 1):
    N near-identical-but-not-byte-identical docs collapse into ONE
    band bucket per band, so the uncapped candidate join is exactly
    quadratic — C(N,2) pairs. With ``max_bucket_size`` set, the hot
    buckets are dropped before the self-join and the candidate count
    must stay both under the linear theoretical bound
    bands·n·(cap−1)/2 and an order of magnitude under quadratic."""
    n, bands, rows, cap = 300, 16, 3, 16
    boiler = " ".join(f"tok{i}" for i in range(40))
    docs = spark.createDataFrame(
        [(i, f"{boiler} unique{i}") for i in range(n)],
        "doc_id long, text string",
    )
    sigs = minhash_signatures(docs).cache()
    uncapped = lsh_candidates(sigs, bands, rows).count()
    assert uncapped == n * (n - 1) // 2, (
        "flood corpus should be fully quadratic uncapped "
        f"(got {uncapped}, want {n * (n - 1) // 2})"
    )
    capped = lsh_candidates(
        sigs, bands, rows, max_bucket_size=cap
    ).count()
    assert capped <= bands * n * (cap - 1) // 2
    assert capped * 10 <= uncapped, (
        f"cap did not bound the flood: {capped} vs {uncapped}"
    )
    sigs.unpersist()


def test_lsh_bucket_cap_preserves_benign_recall(spark, sf_small, docs):
    """On the REAL corpus (no hot buckets anywhere near the cap) a
    generous cap must be a no-op: identical candidate set."""
    sigs = minhash_signatures(docs)
    base = {(r.d1, r.d2) for r in lsh_candidates(sigs).collect()}
    capped = {
        (r.d1, r.d2)
        for r in lsh_candidates(sigs, max_bucket_size=64).collect()
    }
    assert base == capped


def test_edit_distance_hot_band_cap_bounds_candidates(spark):
    """Adversarial same-length flood (VERDICT r8 item 4, mirroring
    the LSH hot-bucket cap): N same-language docs whose lengths all
    land in ONE width-k band make the (lang, band) bucket exactly
    quadratic — every C(N,2) pair reaches the levenshtein verify.
    With ``max_band_size`` the hot band is dropped from both join
    sides before the equi-join, so the flood contributes ZERO
    candidates while the off-band control pair survives."""
    n, k = 300, EDIT_DIST_MAX
    flood_len = 10 * k + k // 2  # mid-band: no length straddling
    flood = [
        (i, "en", flood_len, f"{i:03d}" + "x" * (flood_len - 3))
        for i in range(n)
    ]
    # control: two near-dup docs in a DIFFERENT band must survive
    ctl_len = 20 * k + k // 2
    flood += [
        (1000, "en", ctl_len, "a" * ctl_len),
        (1001, "en", ctl_len, "a" * (ctl_len - 2) + "bb"),
    ]
    docs = spark.createDataFrame(
        flood, "doc_id long, lang string, n_chars long, text string"
    )
    # every flood doc is within edit budget of every other (3 edits),
    # so uncapped candidates = the full quadratic pair set + control
    uncapped = edit_distance_pairs(docs, k).count()
    assert uncapped == n * (n - 1) // 2 + 1, (
        f"flood should be fully quadratic uncapped (got {uncapped})"
    )
    capped = edit_distance_pairs(docs, k, max_band_size=16)
    got = {(r.d1, r.d2) for r in capped.collect()}
    assert got == {(1000, 1001)}, (
        "cap must drop exactly the hot band and keep the control "
        f"pair (got {len(got)} pairs)"
    )


def test_edit_distance_band_cap_preserves_benign_recall(spark, sf_small):
    """On the REAL corpus (no length band anywhere near the cap) a
    generous cap must be a no-op: identical verified pair set."""
    docs = load_table(spark, sf_small, "documents").select(
        "doc_id", "lang", "n_chars", "text"
    )
    base = {
        (r.d1, r.d2, r.dist)
        for r in edit_distance_pairs(docs).collect()
    }
    capped = {
        (r.d1, r.d2, r.dist)
        for r in edit_distance_pairs(docs, max_band_size=64).collect()
    }
    assert base == capped and base, "cap changed benign-corpus output"


def test_simhash_identical_and_near(spark):
    base = "the quick brown fox jumps over the lazy dog again and again"
    near = base.replace("lazy", "sleepy")
    far = "completely different words about spark shuffles and joins here"
    df = spark.createDataFrame(
        [(1, base), (2, base), (3, near), (4, far)], "doc_id long, text string"
    )
    sigs = {r.doc_id: r.simhash for r in simhash_signatures(df).collect()}
    assert sigs[1] == sigs[2]  # determinism: same text, same hash
    pairs = {
        (r.d1, r.d2): r.hamming
        for r in simhash_near_pairs(df, max_hamming=63).collect()
    }
    assert pairs[(1, 2)] == 0
    # one-word edit stays closer than a fully different doc
    assert pairs[(1, 3)] < pairs.get((1, 4), 64)


def test_ann_brute_force_shape(spark, sf_small):
    rows = ann_brute_force(spark, sf_small).collect()
    assert len(rows) == 8 * 5
    by_q = {}
    for r in rows:
        by_q.setdefault(r.q_id, []).append(r)
    for q_id, rs in by_q.items():
        assert [r.rank for r in rs] == [1, 2, 3, 4, 5]
        cos = [r.cos for r in rs]
        assert cos == sorted(cos, reverse=True)
        assert all(r.vec_id != q_id for r in rs)


def _recall(approx_rows, exact_rows):
    exact = {}
    for r in exact_rows:
        exact.setdefault(r.q_id, set()).add(r.vec_id)
    hit = tot = 0
    for r in approx_rows:
        tot += 1
        if r.vec_id in exact.get(r.q_id, set()):
            hit += 1
    # recall measured against the exact top-k set
    n_exact = sum(len(v) for v in exact.values())
    return hit / n_exact if n_exact else 0.0


def test_ann_ivf_recall(spark, sf_small):
    exact = ann_brute_force(spark, sf_small).collect()
    approx = ann_ivf_neighbors(spark, sf_small).collect()
    assert len(approx) == 8 * 5
    # nprobe=3 of 10 cells on weakly-clustered synthetic data: sane floor
    assert _recall(approx, exact) >= 0.3


def test_ann_ivf_kmeans_recall_and_determinism(spark, sf_small):
    approx = ann_ivf_kmeans_neighbors(spark, sf_small).collect()
    assert len(approx) == 8 * 5
    exact = ann_brute_force(spark, sf_small).collect()
    assert _recall(approx, exact) >= 0.3
    # deterministic seeds + tie-broken assignment ⇒ repeat runs agree
    again = ann_ivf_kmeans_neighbors(spark, sf_small).collect()
    assert [tuple(r) for r in approx] == [tuple(r) for r in again]


def test_kmeans_centroids_shape(spark, sf_small):
    from cricket_analytics_nosql_spark.operators.similarity import (
        _doubles,
        kmeans_fit,
    )
    from cricket_analytics_nosql_spark.sources.tables import load_table

    emb = _doubles(load_table(spark, sf_small, "embeddings"))
    cents = kmeans_fit(emb, k=8, max_iter=2)
    rows = cents.collect()
    assert 1 <= len(rows) <= 8  # empty cells may drop
    assert all(len(r.centroid) == 64 for r in rows)


def test_ann_lsh_recall(spark, sf_small):
    exact = ann_brute_force(spark, sf_small).collect()
    approx = ann_lsh_neighbors(spark, sf_small).collect()
    assert len(approx) == 8 * 5
    assert _recall(approx, exact) >= 0.3


def test_multimodal_decode_plumbing(docs):
    mm = attach_binary(docs)
    feats = decode_features(mm)
    assert [f.name for f in feats.schema.fields] == [
        "doc_id",
        "n_bytes",
        "head_sum",
        "frame_count",
    ]
    joined = (
        feats.join(docs.select("doc_id", "text"), "doc_id")
        .withColumn("expected_bytes", F.length(F.encode("text", "UTF-8")))
    )
    bad = joined.filter(F.col("n_bytes") != F.col("expected_bytes")).count()
    assert bad == 0
    assert feats.count() == docs.count()


def test_multimodal_meta_struct(docs):
    mm = attach_binary(docs)
    row = mm.first()
    assert row.meta.mime == "text/plain"
    assert isinstance(row.payload, (bytes, bytearray))


def test_multimodal_kernels_codec_presence_is_inert(docs, monkeypatch):
    """Installing codec libraries must not change (or break) kernel
    output: HAVE_PIL is a capability flag, not a dispatch switch —
    the deterministic kernels are the pinned, oracled behavior."""
    from cricket_analytics_nosql_spark.operators import multimodal as mm_mod
    from cricket_analytics_nosql_spark.operators.multimodal import (
        resize_images,
        sample_frames,
    )

    mm = attach_binary(docs)
    before = sorted(
        (r.doc_id, r.n_bytes, r.head_sum) for r in decode_features(mm).collect()
    )
    monkeypatch.setattr(mm_mod, "HAVE_PIL", True)
    after = sorted(
        (r.doc_id, r.n_bytes, r.head_sum) for r in decode_features(mm).collect()
    )
    assert before == after
    # the other two kernels run without raising under HAVE_PIL=True
    assert resize_images(mm).count() == mm.count()
    assert sample_frames(mm).count() >= mm.count()


def test_exact_cosine_pairs_equals_all_pairs_and_prunes(spark):
    """exact_cosine_pairs must return EXACTLY the all-pairs answer
    (zero misses — it is an exact operator, unlike the LSH paths) on
    clustered data where the angular cell prune genuinely fires."""
    import numpy as np

    from cricket_analytics_nosql_spark.operators.similarity import (
        exact_cosine_pairs,
    )

    rng = np.random.RandomState(11)
    # three tight clusters around far-apart anchors + uniform noise
    anchors = rng.randn(3, 64) * 4
    rows = []
    vid = 0
    for a in anchors:
        for _ in range(40):
            rows.append((vid, (a + rng.randn(64) * 0.3).tolist()))
            vid += 1
    for _ in range(30):
        rows.append((vid, rng.randn(64).tolist()))
        vid += 1
    emb = spark.createDataFrame(rows, "vec_id long, v array<double>")
    tau = 0.9
    got = {
        (r.v1, r.v2)
        for r in exact_cosine_pairs(emb, tau=tau, k=6).collect()
    }
    want = _all_cosine_pairs(emb, tau)
    assert got == want
    assert len(want) > 100  # the clusters actually produce near-dups


def _all_cosine_pairs(emb, tau):
    """The brute-force reference: every (v1 < v2) pair with rounded
    cosine ≥ τ."""
    from cricket_analytics_nosql_spark.operators.similarity import cosine

    a = emb.select(F.col("vec_id").alias("v1"), F.col("v").alias("va"))
    b = emb.select(F.col("vec_id").alias("v2"), F.col("v").alias("vb"))
    return {
        (r.v1, r.v2)
        for r in a.crossJoin(b)
        .filter(F.col("v1") < F.col("v2"))
        .filter(F.round(cosine(F.col("va"), F.col("vb")), 6) >= tau)
        .collect()
    }


def test_exact_cosine_pairs_zero_norm_centroid(spark):
    """A zero centroid has no direction, so the cell-pair prune's
    angle to it is undefined; it must keep that cell's blocks (the
    diagonal included) rather than drop them, and the radius pass
    must not raise on the 0/0 angle of its members."""
    import numpy as np

    from cricket_analytics_nosql_spark.operators.similarity import (
        exact_cosine_pairs,
    )

    rng = np.random.RandomState(11)
    anchors = rng.randn(3, 8) * 4
    rows = [
        (i * 20 + j, (a + rng.randn(8) * 0.3).tolist())
        for i, a in enumerate(anchors)
        for j in range(20)
    ]
    emb = spark.createDataFrame(rows, "vec_id long, v array<double>")
    # cell 1 sits on anchor 0; the other two clusters score best
    # against the zero centroid (‖0‖² − 2v·0 = 0 beats ‖c‖² − 2v·c)
    cents = spark.createDataFrame(
        [(0, [0.0] * 8), (1, anchors[0].tolist())],
        "cell int, centroid array<double>",
    )
    tau = 0.9
    got = {
        (r.v1, r.v2)
        for r in exact_cosine_pairs(
            emb, tau=tau, centroids=cents, dim=8
        ).collect()
    }
    want = _all_cosine_pairs(emb, tau)
    assert got == want
    assert len(want) > 200  # pairs inside the zero centroid's cell


@pytest.fixture
def gemm_in_workers(monkeypatch):
    """Send every block of ``exact_cosine_pairs`` to the grouped
    pandas placement: the driver gate drops to -1, below any
    replicated-row count, so the empty corpus takes it too."""
    from cricket_analytics_nosql_spark.operators import similarity

    monkeypatch.setattr(similarity, "ROWS_PER_TASK", -1)


def _block_case(spark, sf_small, case):
    """(embeddings, exact_cosine_pairs kwargs) for one placement case."""
    import numpy as np

    from cricket_analytics_nosql_spark.operators.similarity import (
        COS_TAU,
        _doubles,
    )

    if case == "sf0.001":
        emb = _doubles(load_table(spark, sf_small, "embeddings"))
        return emb, {"tau": COS_TAU}
    schema = "vec_id long, v array<double>"
    rng = np.random.RandomState(5)
    if case == "empty":
        return spark.createDataFrame([], schema), {"tau": 0.9, "k": 3, "dim": 8}
    if case == "single_member_cells":
        vecs = [
            [1.0, 0.0, 0.0, 0.0], [0.95, 0.05, 0.0, 0.0],
            [0.0, 1.0, 0.0, 0.0], [0.0, 0.0, 1.0, 0.0],
        ]
        cents = spark.createDataFrame(
            list(enumerate(vecs)), "cell int, centroid array<double>"
        )
        emb = spark.createDataFrame(list(enumerate(vecs)), schema)
        return emb, {"tau": 0.9, "centroids": cents, "dim": 4}
    anchors = rng.randn(3, 8) * 4
    vecs = [(a + rng.randn(8) * 0.3).tolist() for a in anchors for _ in range(15)]
    if case == "zero_norm":
        vecs.append([0.0] * 8)
    else:  # duplicates: every fifth vector again, under a new id
        vecs += vecs[::5]
    emb = spark.createDataFrame(list(enumerate(vecs)), schema)
    return emb, {"tau": 0.9, "k": 3, "dim": 8}


@pytest.mark.parametrize(
    "case",
    ["sf0.001", "zero_norm", "duplicates", "single_member_cells", "empty"],
)
def test_exact_cosine_pairs_same_on_driver_and_in_workers(
    spark, sf_small, request, case
):
    """The two placements of the block kernel (``_block_pairs`` on
    the driver up to ``ROWS_PER_TASK`` replicated rows, in grouped
    pandas tasks above) return the same pairs and cosines."""
    from cricket_analytics_nosql_spark.operators.similarity import (
        exact_cosine_pairs,
    )

    emb, kw = _block_case(spark, sf_small, case)

    def pairs():
        return sorted(tuple(r) for r in exact_cosine_pairs(emb, **kw).collect())

    on_driver = pairs()
    request.getfixturevalue("gemm_in_workers")
    assert pairs() == on_driver
    assert bool(on_driver) == (case != "empty")


def test_exact_cosine_pairs_compiles_without_codegen_fallback(spark, sf_small):
    """The re-verify join must fit whole-stage codegen's 64 KB method
    limit: the filter on ``cos`` is pushed into the broadcast join
    condition, and a pair cosine that re-folds both norms per pair
    (3·64 terms) outgrew it — Spark logged ``ERROR CodeGenerator`` and
    fell back to the interpreter. With the fallback disabled, such a
    plan raises instead of running."""
    from cricket_analytics_nosql_spark.operators.similarity import (
        COS_TAU,
        _doubles,
        exact_cosine_pairs,
    )

    emb = _doubles(load_table(spark, sf_small, "embeddings"))
    prev = spark.conf.get("spark.sql.codegen.fallback")
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try:
        assert exact_cosine_pairs(emb, tau=COS_TAU).count() == 27
    finally:
        spark.conf.set("spark.sql.codegen.fallback", prev)


def test_chunking_reconstructs_documents(spark):
    """Overlapping chunks lose no characters: stitching each chunk's
    first `stride` chars (full last chunk) reproduces the document.
    Edge lengths: 1 char, exactly stride, exactly size, size+1,
    multibyte characters."""
    from cricket_analytics_nosql_spark.operators.text import chunk_documents

    size, stride = 10, 7
    texts = ["x", "a" * 7, "b" * 10, "c" * 11, "héllø wörld — ünïcode" * 3, ""]
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    rows = (
        chunk_documents(docs, size=size, stride=stride)
        .orderBy("doc_id", "chunk_index")
        .collect()
    )
    by_doc: dict[int, list] = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append(r)
    assert 5 not in by_doc  # empty doc yields no chunks
    for i, t in enumerate(texts):
        if not t:
            continue
        chunks = by_doc[i]
        # offsets are the stride grid
        assert [c["char_start"] for c in chunks] == [
            j * stride + 1 for j in range(len(chunks))
        ]
        stitched = "".join(c["chunk_text"][:stride] for c in chunks[:-1])
        stitched += chunks[-1]["chunk_text"]
        assert stitched == t, (i, stitched)


def test_chunking_rejects_gapping_stride(spark):
    from cricket_analytics_nosql_spark.operators.text import chunk_documents

    docs = spark.createDataFrame([(1, "abc")], "doc_id long, text string")
    with pytest.raises(ValueError):
        chunk_documents(docs, size=5, stride=6)


def test_phash_determinism_locality_and_recall(spark):
    """The payload perceptual hash: (a) identical payloads collide at
    Hamming 0; (b) a small byte edit stays within the verify
    threshold; (c) any pair within Hamming 3 is guaranteed into the
    candidate set by the 4x16 banding (pigeonhole), so it appears in
    the output."""
    from cricket_analytics_nosql_spark.operators.multimodal import (
        PHASH_MAX_HAMMING,
        payload_phashes,
    )

    base = ("the quick brown fox jumps over the lazy dog " * 40).encode()
    edited = bytearray(base)
    edited[100:110] = b"XXXXXXXXXX"  # local edit, most slices untouched
    other = ("completely different content with other bytes " * 40).encode()
    mm = spark.createDataFrame(
        [(1, base), (2, bytes(base)), (3, bytes(edited)), (4, other)],
        "doc_id long, payload binary",
    )
    h = {r.doc_id: r.phash for r in payload_phashes(mm).collect()}
    assert h[1] == h[2]  # determinism across rows
    ham = bin((h[1] ^ h[3]) & (2**64 - 1)).count("1")
    assert 0 < ham <= PHASH_MAX_HAMMING, ham
    # run the full operator on a docs-shaped frame
    docs = spark.createDataFrame(
        [
            (1, base.decode(), "en", "s", len(base)),
            (2, base.decode(), "en", "s", len(base)),
            (3, bytes(edited).decode(), "en", "s", len(edited)),
            (4, other.decode(), "en", "s", len(other)),
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    import tempfile

    with tempfile.TemporaryDirectory() as d:
        docs.write.mode("overwrite").parquet(f"{d}/documents.parquet")
        # reuse the operator end-to-end via its sf_dir contract
        from cricket_analytics_nosql_spark.operators import multimodal as mmod

        pairs = {
            (r.doc_a, r.doc_b): r.hamming
            for r in mmod.phash_near_dup_pairs(spark, d).collect()
        }
        audit = mmod.multimodal_phash_dedup(spark, d).collect()[0]
    assert pairs[(1, 2)] == 0  # exact dup always found (clean bands)
    if ham <= 3:
        assert (1, 3) in pairs  # guaranteed recall region
    # the catalog audit sees the same guarantee
    assert audit.n_docs == 4
    assert audit.n_exact_dup_pairs == 1
    assert audit.all_exact_dups_caught


def test_pq_encode_shape_and_determinism(spark, sf_small):
    """PQ codes: one code per (vector, subspace), codes within the
    codebook range, and byte-identical across runs (deterministic
    k-means seeds)."""
    from cricket_analytics_nosql_spark.operators.similarity import (
        PQ_CODES,
        PQ_SUBSPACES,
        _doubles,
        pq_codebooks,
        pq_encode,
    )
    from cricket_analytics_nosql_spark.sources.tables import load_table

    emb = _doubles(load_table(spark, sf_small, "embeddings"))
    n = emb.count()
    books = pq_codebooks(emb).localCheckpoint()
    codes = pq_encode(emb, books).collect()
    assert len(codes) == n * PQ_SUBSPACES
    assert all(1 <= r.code <= PQ_CODES for r in codes)
    again = pq_encode(emb, books).collect()
    assert sorted(map(tuple, codes)) == sorted(map(tuple, again))


def test_hard_negative_roles_match_labels(spark, sf_small):
    """Every 'pos' row shares the anchor's label; every 'neg' row
    differs — the contract that makes the pairs usable as
    contrastive training data."""
    from cricket_analytics_nosql_spark.operators.similarity import (
        hard_negative_mining,
    )
    from cricket_analytics_nosql_spark.sources.tables import load_table

    labels = {
        r.vec_id: r.label
        for r in load_table(spark, sf_small, "embeddings")
        .select("vec_id", "label")
        .collect()
    }
    for r in hard_negative_mining(spark, sf_small).collect():
        same = labels[r.vec_id] == labels[r.q_id]
        assert same == (r.role == "pos"), r


def test_mmr_diversifies_and_respects_pool(spark, sf_small):
    """MMR contract: (a) the K picks come from the relevance-ranked
    pool, (b) pick 1 IS the top-relevance candidate, (c) from pick 2
    on, the marginal score is λ·rel − (1−λ)·max-sim-to-picked, so a
    later pick may out-rank a higher-relevance candidate — the
    diversity trade the operator exists to make."""
    from cricket_analytics_nosql_spark.operators.similarity import (
        MMR_K,
        MMR_LAMBDA,
        mmr_diverse_topk,
    )

    import numpy as np

    from cricket_analytics_nosql_spark.operators.similarity import (
        MMR_MU,
        MMR_POOL,
        MMR_QUERY_ID,
        N_QUERIES,
    )
    from cricket_analytics_nosql_spark.sources.tables import load_table

    rows = mmr_diverse_topk(spark, sf_small).collect()
    assert [r.pos for r in rows] == list(range(1, MMR_K + 1))
    assert len({r.vec_id for r in rows}) == MMR_K
    # pick 1 is pure relevance: its marginal is λ·rel exactly
    assert abs(rows[0].mmr - round(MMR_LAMBDA * rows[0].rel, 6)) < 1e-9

    # replay the whole greedy trajectory in numpy from raw vectors
    vecs = {
        r.vec_id: np.array(r.embedding, dtype=np.float64)
        for r in load_table(spark, sf_small, "embeddings").collect()
    }
    q = vecs[MMR_QUERY_ID]

    def dot_ltr(a, b):
        # left-to-right fold — the accumulation order BOTH engines
        # use (Spark F.aggregate, DuckDB list_inner_product); numpy's
        # pairwise summation differs in the last ulp, which flips
        # round-at-6 digits
        acc = 0.0
        for x, y in zip(a, b):
            acc += float(x) * float(y)
        return acc

    import math

    def cos(a, b):
        return round(
            dot_ltr(a, b) / (math.sqrt(dot_ltr(a, a)) * math.sqrt(dot_ltr(b, b))),
            6,
        )

    rel = {
        i: cos(q, v) for i, v in vecs.items() if i >= N_QUERIES
    }
    pool = sorted(rel, key=lambda i: (-rel[i], i))[:MMR_POOL]
    picked, expect = [], []
    for pos in range(1, MMR_K + 1):
        best = None
        for c in pool:
            if c in picked:
                continue
            if picked:
                pen = max(cos(vecs[c], vecs[s]) for s in picked)
                m = round(MMR_LAMBDA * rel[c] - MMR_MU * pen, 6)
            else:
                m = round(MMR_LAMBDA * rel[c], 6)
            if best is None or (-m, c) < (-best[1], best[0]):
                best = (c, m)
        picked.append(best[0])
        expect.append((pos, best[0], rel[best[0]], best[1]))
    got = [(r.pos, r.vec_id, r.rel, r.mmr) for r in rows]
    # picks and relevances exact; the marginal may differ by one
    # 6th-decimal digit on half-way doubles (Python round() is
    # correct-rounding half-even, Spark/DuckDB ROUND is
    # shortest-repr HALF_UP — the ENGINES agree with each other,
    # which is what the parity suite pins)
    assert [g[:3] for g in got] == [e[:3] for e in expect], (got, expect)
    for g, e in zip(got, expect):
        assert abs(g[3] - e[3]) <= 1.5e-6, (g, e)


def test_roc_auc_bounds_and_hand_check(spark, sf_small):
    """AUC ∈ [0,1], gini = 2·AUC−1, and the rollup-based rank-sum
    formula agrees with a direct O(P·N) pair count recomputed in
    Python from the same micro-unit scores."""
    from cricket_analytics_nosql_spark.operators.text import roc_auc_langid
    from cricket_analytics_nosql_spark.sources.tables import load_table
    import pyspark.sql.functions as F

    row = roc_auc_langid(spark, sf_small).collect()[0]
    assert 0.0 <= row.auc <= 1.0
    assert abs(row.gini - round(2 * row.auc - 1, 6)) < 1e-9

    docs = load_table(spark, sf_small, "documents").select(
        F.round(
            F.size(
                F.filter(
                    F.split("text", " "),
                    lambda t: t.isin(
                        "the a of and to in is on for it".split()
                    ),
                )
            ).cast("double")
            / F.size(F.split("text", " "))
            * 1e6
        )
        .cast("long")
        .alias("s"),
        (F.col("lang") == "en").cast("int").alias("y"),
    )
    pts = [(r.s, r.y) for r in docs.collect()]
    pos = [s for s, y in pts if y == 1]
    neg = [s for s, y in pts if y == 0]
    num2 = sum(
        2 * (p > n) + (p == n) for p in pos for n in neg
    )
    expect = round(num2 / (2.0 * len(pos) * len(neg)), 6)
    assert row.n_pos == len(pos) and row.n_neg == len(neg)
    assert abs(row.auc - expect) < 1e-9


def test_pca_replays_power_iteration_and_bounds(spark, sf_small):
    """Independent replay: rebuild the integer covariance matrix in
    numpy from the same micro-unit quantization, run the same 12
    normalized power-iteration rounds, and require the loadings to
    agree to ~1e-5 (numpy matvecs use pairwise summation, so exact
    bit equality is the ORACLE's job, not this replay's). Also: the
    loading vector is unit-norm and evr ∈ (0, 1] and is bounded by
    numpy's true top eigenvalue share."""
    import numpy as np

    from cricket_analytics_nosql_spark.operators.similarity import (
        COV_SCALE,
        PCA_ITERS,
        pca_top_component,
    )
    from cricket_analytics_nosql_spark.sources.tables import load_table

    rows = pca_top_component(spark, sf_small).collect()
    assert [r.dim for r in rows] == list(range(1, 65))
    v_got = np.array([r.loading for r in rows])
    evr = rows[0].evr
    assert abs(np.linalg.norm(v_got) - 1.0) < 1e-4
    assert 0.0 < evr <= 1.0

    emb = np.array(
        [
            r.embedding
            for r in load_table(spark, sf_small, "embeddings").collect()
        ],
        dtype=np.float64,
    )
    q = np.floor(emb * COV_SCALE + 0.5)
    n = q.shape[0]
    c = n * (q.T @ q) - np.outer(q.sum(axis=0), q.sum(axis=0))
    v = np.ones(64)
    for _ in range(PCA_ITERS):
        mv = c @ v
        v = mv / np.linalg.norm(mv)
    if v.sum() < 0:
        v = -v
    assert np.abs(v - v_got).max() < 1e-5, np.abs(v - v_got).max()
    top_share = np.linalg.eigvalsh(c)[-1] / np.trace(c)
    assert evr <= top_share + 1e-6


def test_ndcg_audit_position_sensitivity(spark, sf_small):
    """NDCG must be position-aware: a replay that reverses each
    method's returned order scores strictly lower whenever the
    method's ranking carries any exact-order information — and the
    audit's own floors hold with margin (the floors are the driver
    contract; this pins the measured band above them)."""
    import pyspark.sql.functions as F

    from cricket_analytics_nosql_spark.operators.similarity import (
        _IDCG_K,
        NDCG_FLOORS,
        TOP_K,
        ann_brute_force,
        ann_ivf_kmeans_neighbors,
        ann_ndcg_audit,
    )

    rows = ann_ndcg_audit(spark, sf_small).collect()
    assert [r.method for r in rows] == ["ivf", "ivf_kmeans", "lsh"]
    assert all(r.ndcg_ok for r in rows)
    assert rows[0].idcg_k == round(_IDCG_K, 6)

    exact = (
        ann_brute_force(spark, sf_small)
        .select(
            "q_id", "vec_id", (F.lit(TOP_K + 1) - F.col("rank")).alias("rel")
        )
        .localCheckpoint()
    )

    def mean_ndcg(approx):
        g = approx.join(exact, ["q_id", "vec_id"], "left").select(
            "q_id",
            (
                F.coalesce(F.col("rel"), F.lit(0)).cast("double")
                / F.log2(F.col("rank") + 1)
            ).alias("g"),
        )
        return (
            g.groupBy("q_id")
            .agg((F.sum("g") / _IDCG_K).alias("n"))
            .agg(F.avg("n"))
            .collect()[0][0]
        )

    best = ann_ivf_kmeans_neighbors(spark, sf_small).select(
        "q_id", "vec_id", "rank"
    )
    fwd = mean_ndcg(best)
    rev = mean_ndcg(
        best.withColumn("rank", F.lit(TOP_K + 1) - F.col("rank"))
    )
    assert fwd > rev, (fwd, rev)  # right set, wrong order → lower score
    assert fwd >= NDCG_FLOORS["ivf_kmeans"] + 0.1  # margin over the floor


def test_cov_state_merge_equals_direct(spark, sf_small):
    """The mergeability contract, asserted in-engine: covariance
    cells computed from the two per-batch sufficient-statistic
    states must be BIT-identical to embedding_covariance_topk's
    direct single-pass computation (same integer numerators), and
    the audit columns must report the real batch split."""
    from cricket_analytics_nosql_spark.operators.similarity import (
        cov_state_merge_audit,
        embedding_covariance_topk,
    )
    from cricket_analytics_nosql_spark.sources.tables import load_table

    merged = cov_state_merge_audit(spark, sf_small).collect()
    direct = {
        (r.i, r.j): r.cov_num
        for r in embedding_covariance_topk(spark, sf_small).collect()
    }
    assert len(merged) == 10
    for r in merged:
        assert direct[(r.i, r.j)] == r.cov_num, (r, direct[(r.i, r.j)])
    n = load_table(spark, sf_small, "embeddings").count()
    assert merged[0].n_batches == 2
    assert merged[0].n_min_batch == n // 2


def test_substring_spans_flags_planted_duplicate(spark, sf_small):
    """A planted byte-identical copy of a long document must push
    every one of its spans into the duplicated set; a fresh unique
    document (distinct 8-token windows, guaranteed by distinct
    integer words) contributes only non-duplicated spans."""
    from cricket_analytics_nosql_spark.operators.dedup import (
        SUBSTR_SPAN_W,
        dedup_substring_spans,
    )

    base = dedup_substring_spans(spark, sf_small)
    rows = {r.source: r for r in base.collect()}
    docs = load_table(spark, sf_small, "documents")
    n_sources = docs.select("source").distinct().count()
    assert set(rows) == {f"src{i}" for i in range(n_sources)}
    for r in rows.values():
        assert 0 <= r.n_dup_spans <= r.n_spans
        assert abs(r.dup_ratio - round(r.n_dup_spans / r.n_spans, 6)) < 1e-9
    # doc shorter than the window contributes nothing
    short = spark.createDataFrame(
        [(1, "too short", "en", "s", 9), (2, "too short", "en", "s", 9)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    from cricket_analytics_nosql_spark.operators import dedup as dd

    w = SUBSTR_SPAN_W
    assert (
        short.select(F.split("text", " ").alias("w"))
        .filter(F.size("w") >= w)
        .count()
        == 0
    )


def test_k_anonymity_audit_consistency(spark, sf_small):
    """Row accounting: per-segment rows sum to the customer count,
    at-risk rows never exceed total, and every unsafe group has
    fewer than k members when re-derived directly."""
    from cricket_analytics_nosql_spark.operators.sampling import (
        K_ANON_K,
        k_anonymity_audit,
    )

    res = k_anonymity_audit(spark, sf_small).collect()
    cust = load_table(spark, sf_small, "customer")
    assert sum(r.n_rows for r in res) == cust.count()
    for r in res:
        assert 0 <= r.n_rows_at_risk <= r.n_rows
        assert 0 <= r.n_unsafe_groups <= r.n_groups
    direct = (
        cust.groupBy(
            "c_nationkey",
            "c_mktsegment",
            F.floor(F.col("c_acctbal") / 1000.0).alias("b"),
        )
        .count()
        .filter(F.col("count") < K_ANON_K)
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("u"))
        .collect()
    )
    direct_u = {r.c_mktsegment: r.u for r in direct}
    for r in res:
        assert r.n_unsafe_groups == direct_u.get(r.c_mktsegment, 0)


def test_lsh_sweep_recalls_and_monotonicity(spark, sf_small):
    """Raw recalls per band config: steeper curves (more bands,
    fewer rows) must never recall less than shallower ones, and the
    flag columns must reflect the measured recalls."""
    from cricket_analytics_nosql_spark.operators.dedup import (
        LSH_SWEEP_CONFIGS,
        jaccard_pairs,
        lsh_candidates,
        lsh_threshold_sweep,
        minhash_signatures,
    )

    docs = load_table(spark, sf_small, "documents")
    truth = {
        (r.d1, r.d2) for r in jaccard_pairs(docs, 0.8).select("d1", "d2").collect()
    }
    assert truth
    sigs = minhash_signatures(docs)
    recalls = {}
    for b, r, _floor in LSH_SWEEP_CONFIGS:
        cands = {
            (x.d1, x.d2) for x in lsh_candidates(sigs, bands=b, rows=r).collect()
        }
        recalls[(b, r)] = len(truth & cands) / len(truth)
    rs = [recalls[(b, r)] for b, r, _ in LSH_SWEEP_CONFIGS]
    assert all(a >= b - 1e-9 for a, b in zip(rs, rs[1:]))  # non-increasing r
    rows = lsh_threshold_sweep(spark, sf_small).collect()
    assert len(rows) == len(LSH_SWEEP_CONFIGS)
    for row in rows:
        got = recalls[(row.bands, row.rows)]
        assert row.recall_ok == (
            got >= row.recall_floor - 1e-12
        ), (row, got)
        assert row.n_true_pairs == len(truth)


def test_quantile_sketch_merge_is_exact_and_bounded(spark, sf_small):
    """Merged state must match the direct histogram bit-for-bit, and
    the sketch answer can overshoot the true quantile by at most one
    bin width."""
    from cricket_analytics_nosql_spark.operators.sketches import (
        QSKETCH_BIN_CENTS,
        quantile_sketch_merge_audit,
    )

    rows = quantile_sketch_merge_audit(spark, sf_small).collect()
    assert [r.q for r in rows] == [0.5, 0.9, 0.99]
    for r in rows:
        assert r.merge_matches_direct
        assert r.exact_cents <= r.approx_cents
        assert r.approx_cents - r.exact_cents <= QSKETCH_BIN_CENTS


def test_matryoshka_recall_increases_with_dim(spark, sf_small):
    """Recall@k must be monotone non-decreasing in prefix dim and
    exactly 1.0 at the full dimension (truth vs itself)."""
    from cricket_analytics_nosql_spark.operators.similarity import (
        MRL_DIMS,
        matryoshka_truncation_audit,
    )

    rows = matryoshka_truncation_audit(spark, sf_small).collect()
    assert [r.dim for r in rows] == list(MRL_DIMS)
    recs = [r.recall_at_k for r in rows]
    assert recs[-1] == 1.0
    assert all(a <= b + 1e-9 for a, b in zip(recs, recs[1:]))
    assert recs[0] < 1.0  # 8 of 64 dims must lose something


def test_negative_sampling_table_ranges(spark, sf_small):
    """Ranges are contiguous, disjoint, ordered by weight rank, and
    each width equals the word's own micro-weight (inverse-CDF
    contract); the 0.75 exponent flattens: heavy words get LESS than
    proportional share."""
    from cricket_analytics_nosql_spark.operators.text import (
        negative_sampling_table,
    )

    rows = negative_sampling_table(spark, sf_small).collect()
    assert rows[0].cum_lo == 0
    for prev, cur in zip(rows, rows[1:]):
        assert cur.cum_lo == prev.cum_hi
    for r in rows:
        assert r.cum_hi - r.cum_lo == r.wt_micro
    a, b = rows[0], rows[-1]
    assert a.cnt > b.cnt
    assert a.wt_micro / b.wt_micro < a.cnt / b.cnt  # smoothing flattens


def test_filtered_search_post_never_beats_pre(spark, sf_small):
    """Post-filtering a global top-k' list can only lose recall vs
    the pre-filtered truth: recall_post <= 1, n_post <= k, and at
    ~10% selectivity at least one query must show recall loss
    (3x overfetch cannot cover a 10x-selective predicate in
    general)."""
    from cricket_analytics_nosql_spark.operators.similarity import (
        TOP_K,
        ann_filtered_search,
    )

    rows = ann_filtered_search(spark, sf_small).collect()
    assert len(rows) == 8
    for r in rows:
        assert 0 <= r.n_post <= TOP_K
        assert 0.0 <= r.recall_post <= 1.0
        assert r.n_post >= r.recall_post * TOP_K - 1e-9  # hits ⊆ post
        assert 0.0 < r.selectivity < 0.3
    assert any(r.recall_post < 1.0 for r in rows)


def test_bitmap_distinct_is_exact(spark, sf_small):
    """Bitmap popcount totals must equal countDistinct for every
    event type, and the in-plan cross-check flag must agree."""
    from cricket_analytics_nosql_spark.operators.sketches import (
        bitmap_distinct_users,
    )

    rows = bitmap_distinct_users(spark, sf_small).collect()
    assert rows
    ev = load_table(spark, sf_small, "events")
    want = {
        r.event_type: r.n
        for r in ev.groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()
    }
    for r in rows:
        assert r.matches_count_distinct
        assert r.n_distinct == want[r.event_type]
        assert r.n_blocks <= r.n_distinct


def test_embedding_outlier_topk_matches_numpy(spark, sf_small):
    """Top-3 per cluster must match a numpy recompute of
    distance-to-centroid (same micro-quantization), with ranks
    ordered by descending distance."""
    import numpy as np

    from cricket_analytics_nosql_spark.operators.similarity import (
        OUTLIER_TOPK,
        embedding_outlier_topk,
    )

    rows = embedding_outlier_topk(spark, sf_small).collect()
    emb = load_table(spark, sf_small, "embeddings").collect()
    by_label = {}
    for r in emb:
        q = np.round(np.array(r.embedding, dtype=np.float64) * 1e6)
        by_label.setdefault(r.label, []).append((r.vec_id, q))
    for label, vecs in by_label.items():
        M = np.stack([q for _, q in vecs])
        cent = M.sum(axis=0) / 1e6 / len(vecs)
        d2 = (((M / 1e6) - cent) ** 2).sum(axis=1)
        order = sorted(
            zip((round(x, 6) for x in d2), (vid for vid, _ in vecs)),
            key=lambda t: (-t[0], t[1]),
        )[:OUTLIER_TOPK]
        got = [(r.dist2, r.vec_id) for r in rows if r.label == label]
        for (wd, wv), (gd, gv) in zip(order, got):
            assert gv == wv and abs(gd - wd) < 1e-6, (label, order, got)
