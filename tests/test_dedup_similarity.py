"""Correctness of the non-oracle (engine-specific) dedup/similarity ops,
verified against their exact counterparts — the LSH operators are only
worth shipping if their candidate generation provably finds what the
quadratic spec finds.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from kafka_connect_minio_pipeline_spark import staging
from kafka_connect_minio_pipeline_spark.operators import (
    dedup,
    similarity,
    similarity_pq,
)
from kafka_connect_minio_pipeline_spark.operators.multimodal import (
    binary_table,
    extract_features,
)
from oracle_utils import lloyd_reference, nearest_reference, union_find_labels


def _pairs(df, cols=("d1", "d2")):
    return {(r[cols[0]], r[cols[1]]) for r in df.select(*cols).collect()}


def test_minhash_lsh_vs_exact_jaccard(spark, sf_dir):
    """LSH output ⊆ exact output (precision 1.0 — candidates are verified),
    and recall is high at J ≥ 0.8 (theory: ≥ 96% per pair at j=0.8).
    Every LSH pair carries the exact operator's Jaccard, and the
    threshold sweep's 0.8 row counts exactly the LSH pairs and their
    distinct left docs (both aggregate one scored relation)."""
    exact = {
        (r.d1, r.d2): r.jaccard
        for r in dedup.q_dedup_ngram_jaccard(spark, sf_dir).collect()
    }
    lsh = {
        (r.d1, r.d2): r.jaccard
        for r in dedup.q_dedup_minhash_lsh(spark, sf_dir).collect()
    }
    extra = set(lsh) - set(exact)
    assert not extra, f"LSH produced non-duplicates: {sorted(extra)[:5]}"
    assert len(exact) > 0, "fixture has no near-dup pairs; test is vacuous"
    recall = len(lsh) / len(exact)
    assert recall >= 0.8, f"LSH recall {recall:.2f} too low ({len(lsh)}/{len(exact)})"
    for pair, j in lsh.items():
        assert j == exact[pair], (pair, j, exact[pair])
    sweep = {
        r.threshold: r
        for r in dedup.q_dedup_threshold_sweep(spark, sf_dir).collect()
    }
    at_cut = sweep[dedup.JACCARD_THRESHOLD]
    assert at_cut.n_pairs == len(lsh)
    assert at_cut.n_left_docs == len({d1 for d1, _ in lsh})


def test_ngram_jaccard_threshold_is_inclusive(spark, tmp_path):
    """The verify keeps J >= 0.8 inclusive: a planted pair at exactly
    8/10 shared shingles survives with jaccard == 0.8, a pair at 7/9
    (0.778) does not."""
    words = [f"w{i}" for i in range(11)]
    u = [f"u{i}" for i in range(10)]
    docs = [
        (1, " ".join(words)),  # 9 shingles
        (2, " ".join(words[:10] + ["x"])),  # 9 shingles, 8 shared with doc 1
        (3, " ".join(u)),  # 8 shingles
        (4, " ".join(u[:9] + ["y"])),  # 8 shingles, 7 shared with doc 3
    ]
    got = dedup.q_dedup_ngram_jaccard(spark, _write_docs(spark, tmp_path, docs))
    assert [(r.d1, r.d2, r.jaccard) for r in got.collect()] == [(1, 2, 0.8)]


def test_embedding_lsh_vs_exact_cosine(spark, sf_dir):
    """Bucketed embedding near-dup ⊆ exact pairs (verify step guarantees
    precision 1.0) with high recall — 16 coarse tables give ~96% expected
    per-pair candidate probability at the 0.45 threshold, and every found
    pair must carry the identical verified cosine."""
    exact = {
        (r.v1, r.v2): r.cos_sim
        for r in dedup.q_dedup_embedding_cosine(spark, sf_dir).collect()
    }
    lsh = {
        (r.v1, r.v2): r.cos_sim
        for r in dedup.q_dedup_embedding_lsh(spark, sf_dir).collect()
    }
    assert set(lsh) <= set(exact), f"non-duplicate pairs: {sorted(set(lsh) - set(exact))[:5]}"
    assert len(exact) > 0, "fixture has no embedding near-dup pairs; vacuous"
    recall = len(lsh) / len(exact)
    assert recall >= 0.7, f"embedding-LSH recall {recall:.2f} ({len(lsh)}/{len(exact)})"
    for pair, cos in lsh.items():
        assert cos == exact[pair]


def test_minhash_lsh_deterministic(spark, sf_dir):
    a = _pairs(dedup.q_dedup_minhash_lsh(spark, sf_dir))
    b = _pairs(dedup.q_dedup_minhash_lsh(spark, sf_dir))
    assert a == b


def test_ann_lsh_recall_vs_bruteforce(spark, sf_dir):
    """ANN top-3 vs exact top-3 per query: recall must beat random-bucket
    chance by a wide margin (brute-force corpus scan is what it replaces)."""
    exact = similarity.q_similarity_topk_batch(spark, sf_dir)
    ann = similarity.q_similarity_ann_lsh(spark, sf_dir)
    e = {(r["query_id"], r["vec_id"]) for r in exact.collect()}
    a = {(r["query_id"], r["vec_id"]) for r in ann.collect()}
    recall = len(a & e) / len(e)
    assert recall >= 0.3, f"ANN recall@3 {recall:.2f}"
    # the scale property: ANN scored a small fraction of the corpus
    n_corpus = spark.read.parquet(f"{sf_dir}/embeddings.parquet").count()
    from kafka_connect_minio_pipeline_spark.operators.similarity import lsh_signatures
    from kafka_connect_minio_pipeline_spark.tables import load

    sigs = lsh_signatures(load(spark, sf_dir, "embeddings"))
    qs = sigs.filter(F.col("vec_id") < similarity.N_QUERIES).select(
        F.col("vec_id").alias("query_id"), "table_id", "bucket"
    )
    cand = (
        sigs.join(qs, ["table_id", "bucket"])
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", "vec_id")
        .distinct()
    )
    avg_cand = cand.count() / similarity.N_QUERIES
    assert avg_cand < 0.5 * n_corpus, (
        f"LSH candidates ({avg_cand:.0f}) ≈ corpus ({n_corpus}); no pruning"
    )


def test_ann_ivf_recall_vs_bruteforce(spark, sf_dir):
    """IVF cell-probe ANN vs exact top-3: recall well above the random
    baseline, candidates bounded by the probed cells' population."""
    exact = similarity.q_similarity_topk_batch(spark, sf_dir)
    ann = similarity.q_similarity_ann_ivf(spark, sf_dir)
    e = {(r["query_id"], r["vec_id"]) for r in exact.collect()}
    a = {(r["query_id"], r["vec_id"]) for r in ann.collect()}
    recall = len(a & e) / len(e)
    assert recall >= 0.3, f"IVF recall@3 {recall:.2f}"
    # scale property: probing IVF_PROBE of IVF_CELLS cells must not score
    # the whole corpus
    n_corpus = spark.read.parquet(f"{sf_dir}/embeddings.parquet").count()
    e = similarity._ivf_relation(spark, sf_dir)
    assigned = similarity.ivf_assign(e, similarity.ivf_quantizer(e))
    biggest = assigned.groupBy("cell").count().agg(F.max("count")).collect()[0][0]
    assert similarity.IVF_PROBE * biggest < n_corpus, "cells do not partition corpus"


def test_lloyd_trainers_equal_python_reference(spark, sf_dir):
    """The IVF quantizer, every PQ subspace codebook and the k-means
    labels all come from one Lloyd trainer (``similarity.lloyd``) whose
    DuckDB twin shares its algebra, so an algebra slip would move both
    engines at once and the parity net could not see it. Pin all three
    callers to an independent pure-Python Lloyd, exactly: sequential
    double dots, the two-term score with smallest-k ties, and the
    decimal(16,6) mean."""
    plain = similarity.load(spark, sf_dir, "embeddings").select(
        "vec_id", similarity.to_double(F.col("embedding")).alias("v")
    )
    pts = {r.vec_id: list(r.v) for r in plain.collect()}

    sample = {i: v for i, v in pts.items() if i < similarity.IVF_TRAIN_SAMPLE}
    want = lloyd_reference(
        sample,
        {i: v for i, v in sample.items() if i < similarity.IVF_CELLS},
        similarity.IVF_ITERS,
    )
    got = {r.k: list(r.c) for r in similarity.ivf_quantizer(plain).collect()}
    assert got == want

    d = similarity_pq.PQ_SUBDIM
    got_books = {
        (r.sub, r.code): list(r.c)
        for r in similarity_pq.pq_codebooks(plain).collect()
    }
    for m in range(similarity_pq.PQ_M):
        subs = {
            i: v[m * d : (m + 1) * d]
            for i, v in pts.items()
            if i < similarity_pq.PQ_TRAIN_SAMPLE
        }
        want = lloyd_reference(
            subs,
            {i: v for i, v in subs.items() if i < similarity_pq.PQ_K},
            similarity_pq.PQ_ITERS,
        )
        got = {code: c for (sub, code), c in got_books.items() if sub == m}
        assert got == want, f"subspace {m}"

    cents = lloyd_reference(
        pts,
        {i: v for i, v in pts.items() if i < similarity.KMEANS_K},
        similarity.KMEANS_ITERS - 1,
    )
    want = {i: k for i, (k, _score) in nearest_reference(pts, cents).items()}
    emb = similarity.load(spark, sf_dir, "embeddings")
    got = {r.vec_id: r.cluster for r in similarity.kmeans_assign(emb).collect()}
    assert got == want


def test_ann_adc_recall_vs_bruteforce(spark, sf_dir):
    """PQ ADC shortlist + exact rerank vs exact top-3: recall well above
    the LSH/IVF floor (the rerank makes final recall equal shortlist
    recall@ADC_SHORTLIST — measured 0.58-0.71 across sf0.001/sf0.01),
    and the compression contract holds: the code table is exactly M
    codes per vector drawn from the ≤ M·K-row codebook."""
    exact = similarity.q_similarity_topk_batch(spark, sf_dir)
    adc = similarity_pq.q_similarity_ann_adc(spark, sf_dir)
    e = {(r["query_id"], r["vec_id"]) for r in exact.collect()}
    a = {(r["query_id"], r["vec_id"]) for r in adc.collect()}
    recall = len(a & e) / len(e)
    assert recall >= 0.4, f"ADC recall@3 {recall:.2f}"
    plain = similarity.load(spark, sf_dir, "embeddings").select(
        "vec_id", similarity.to_double(F.col("embedding")).alias("v")
    )
    books = similarity_pq.pq_codebooks(plain)
    assert books.count() <= similarity_pq.PQ_M * similarity_pq.PQ_K
    assert books.filter(
        F.size("c") != similarity_pq.PQ_SUBDIM
    ).count() == 0, "codebook entry has wrong sub-dimension"
    codes = similarity_pq.pq_encode(similarity._ivf_relation(spark, sf_dir), books)
    n_corpus = spark.read.parquet(f"{sf_dir}/embeddings.parquet").count()
    assert codes.count() == n_corpus * similarity_pq.PQ_M
    # every (sub, code) the encoder emits exists in the codebook
    orphan = codes.join(
        books.select("sub", "code"), ["sub", "code"], "left_anti"
    ).count()
    assert orphan == 0


def test_ann_ivfpq_recall_and_index_contract(spark, sf_dir):
    """Composed IVF-PQ vs exact top-3: recall above the random floor
    (measured 0.79-0.88 across sf0.001/0.01/0.1), the eval query's
    recall column is consistent with its counts, and the index relation
    carries exactly M codes per vector with ONE cell per vector."""
    exact = similarity.q_similarity_topk_batch(spark, sf_dir)
    ann = similarity_pq.q_similarity_ann_ivfpq(spark, sf_dir)
    e = {(r["query_id"], r["vec_id"]) for r in exact.collect()}
    a = {(r["query_id"], r["vec_id"]) for r in ann.collect()}
    recall = len(a & e) / len(e)
    assert recall >= 0.3, f"IVF-PQ recall@3 {recall:.2f}"
    ev = similarity_pq.q_similarity_ann_ivfpq_eval(spark, sf_dir).collect()
    assert sum(r["n_hit"] for r in ev) == len(a & e)
    for r in ev:
        assert abs(r["recall"] - r["n_hit"] / r["n_truth"]) < 1e-6
    plain = similarity.load(spark, sf_dir, "embeddings").select(
        "vec_id", similarity.to_double(F.col("embedding")).alias("v")
    )
    idx = similarity_pq.ivfpq_index(
        similarity._ivf_relation(spark, sf_dir),
        similarity.ivf_centroids(spark, sf_dir, plain),
        similarity_pq.pq_books(spark, sf_dir, plain),
    )
    n_corpus = spark.read.parquet(f"{sf_dir}/embeddings.parquet").count()
    assert idx.count() == n_corpus * similarity_pq.PQ_M
    assert (
        idx.groupBy("vec_id").agg(F.countDistinct("cell").alias("nc"))
        .filter(F.col("nc") != 1).count() == 0
    ), "a vector maps to more than one coarse cell"


def test_ann_adc_deterministic(spark, sf_dir):
    # clear the train-once model cache between runs so BOTH passes train
    # the codebooks from scratch — this is the end-to-end trainer
    # determinism check, not just the search side
    staging._CACHE.clear()
    a = {tuple(r) for r in similarity_pq.q_similarity_ann_adc(spark, sf_dir).collect()}
    staging._CACHE.clear()
    b = {tuple(r) for r in similarity_pq.q_similarity_ann_adc(spark, sf_dir).collect()}
    assert a == b


def test_pq_distortion_shrinks_with_finer_codebooks(spark, sf_dir, monkeypatch):
    """Sanity of the trained codebooks: total reconstruction error with
    the full codebook (K=16) must beat a 1-code-per-subspace codebook
    (the subspace mean — PQ's degenerate K=1 case). Catches a broken
    assign/update round that parity alone could miss if both engines
    made the same algebraic mistake."""
    def total(df):
        return sum(
            r["avg_distortion"] * r["n_vectors"] for r in df.collect()
        )

    fine = total(similarity_pq.q_embedding_pq(spark, sf_dir))
    monkeypatch.setattr(similarity_pq, "PQ_K", 1)
    coarse = total(similarity_pq.q_embedding_pq(spark, sf_dir))
    assert fine < coarse, f"K=16 distortion {fine} not below K=1 {coarse}"


def test_ann_ivf_deterministic(spark, sf_dir):
    # fresh quantizer training on both passes (see test_ann_adc_deterministic)
    staging._CACHE.clear()
    a = {(r["query_id"], r["vec_id"]) for r in
         similarity.q_similarity_ann_ivf(spark, sf_dir).collect()}
    staging._CACHE.clear()
    b = {(r["query_id"], r["vec_id"]) for r in
         similarity.q_similarity_ann_ivf(spark, sf_dir).collect()}
    assert a == b


def test_simhash_banding_equals_bruteforce(spark, sf_dir):
    """The pigeonhole-banded plan must find exactly the brute-force hd≤1
    neighbor counts (this is the scalable-plan-vs-spec equivalence)."""
    from kafka_connect_minio_pipeline_spark.operators.dedup import _simhash
    from kafka_connect_minio_pipeline_spark.tables import load

    sig = _simhash(load(spark, sf_dir, "documents"))
    a = sig.alias("a")
    b = sig.alias("b")
    brute = (
        a.join(b, F.col("a.doc_id") != F.col("b.doc_id"))
        .filter(
            F.bit_count(
                F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))
            ) <= dedup.HAMMING_MAX
        )
        .groupBy(F.col("a.doc_id").alias("doc_id"))
        .agg(F.count("*").alias("n_near"))
    )
    want = {r["doc_id"]: r["n_near"] for r in brute.collect()}
    got = {
        r["doc_id"]: r["n_near"]
        for r in dedup.q_dedup_simhash(spark, sf_dir).collect()
        if r["n_near"] > 0
    }
    assert got == want


def test_langid_deterministic_and_total(spark, sf_dir):
    from kafka_connect_minio_pipeline_spark.operators.text import q_text_langid

    out = q_text_langid(spark, sf_dir)
    n_docs = spark.read.parquet(f"{sf_dir}/documents.parquet").count()
    rows = out.collect()
    assert len(rows) == n_docs  # every doc classified exactly once
    langs = {r["predicted_lang"] for r in rows}
    assert langs <= {"en", "de", "es", "fr", "zh"}
    again = {(r["doc_id"], r["predicted_lang"]) for r in out.collect()}
    assert {(r["doc_id"], r["predicted_lang"]) for r in rows} == again


def test_multimodal_stub_contract(spark, sf_dir):
    b = binary_table(spark, sf_dir)
    assert dict(b.dtypes)["payload"] == "binary"
    feats = extract_features(b)
    assert feats.columns == ["doc_id", "n_bytes", "mean_byte", "max_byte", "head_byte"]
    row = feats.orderBy("doc_id").first()
    assert row["n_bytes"] > 0 and 0 <= row["mean_byte"] <= 255


def test_connected_components_transitive_chain(spark):
    """A chain a-b, b-c must collapse into ONE cluster labeled min(a,b,c)
    even though (a,c) is not a direct pair — the property pair output
    alone cannot give. Two separate components must stay separate."""
    from kafka_connect_minio_pipeline_spark.operators.dedup import (
        connected_components_ls,
    )

    pairs = [(5, 3), (3, 9), (20, 21)]
    edges = spark.createDataFrame(pairs, "d1 long, d2 long")
    got = {
        r["doc_id"]: r["cluster_id"]
        for r in connected_components_ls(edges).collect()
    }
    assert got == {3: 3, 5: 3, 9: 3, 20: 20, 21: 20}
    assert got == union_find_labels(pairs)


def test_class_centroids_match_numpy(spark, sf_dir):
    """Distributed centroid equals the numpy per-label mean to within the
    decimal(…,6) quantization the operator applies per element."""
    import numpy as np

    from kafka_connect_minio_pipeline_spark.operators.similarity import class_centroids
    from kafka_connect_minio_pipeline_spark.tables import load

    em = load(spark, sf_dir, "embeddings")
    rows = em.select("label", "embedding").collect()
    by_label: dict[int, list] = {}
    for r in rows:
        by_label.setdefault(r["label"], []).append(r["embedding"])
    got = class_centroids(em).collect()
    dim = len(rows[0]["embedding"])
    assert {(r["label"], r["pos"]) for r in got} == {
        (lb, p) for lb in by_label for p in range(1, dim + 1)
    }
    for r in got:
        want = np.mean(
            [v[r["pos"] - 1] for v in by_label[r["label"]]], dtype=np.float64
        )
        assert abs(r["centroid"] - want) <= 5e-7, r
        assert r["n"] == len(by_label[r["label"]])


def test_connected_components_ls_matches_union_find(spark):
    """large-star/small-star must produce EXACTLY the labels of the
    Python union-find reference on a seeded random graph (cliques +
    chains + isolated pairs)."""
    import random

    from kafka_connect_minio_pipeline_spark.operators.dedup import (
        connected_components_ls,
    )

    rng = random.Random(7)
    edges = []
    # random sparse graph over 300 nodes
    for _ in range(220):
        a, b = rng.randrange(300), rng.randrange(300)
        if a != b:
            edges.append((a, b))
    df = spark.createDataFrame(edges, "d1 long, d2 long")
    got = {
        r["doc_id"]: r["cluster_id"] for r in connected_components_ls(df).collect()
    }
    assert got == union_find_labels(edges)


def test_connected_components_ls_deep_chain_log_rounds(spark):
    """A 400-node path graph has diameter 399: min-label propagation
    would need ~400 rounds, large-star/small-star must finish inside a
    15-round cap and still label every node with the chain minimum."""
    from kafka_connect_minio_pipeline_spark.operators.dedup import (
        connected_components_ls,
    )

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 400)], "d1 long, d2 long"
    )
    got = {
        r["doc_id"]: r["cluster_id"]
        for r in connected_components_ls(edges, max_iter=15).collect()
    }
    assert got == {i: 1 for i in range(1, 401)}


def test_connected_components_ls_canonical_contract(spark):
    """r14: ``canonical=True`` (caller guarantees src < dst, distinct)
    must label identically to the normalizing default on a canonical
    input — same seeded random graph as the reference test, canonicalized
    up front. Also pins the star-forest convergence probe: an input that
    is ALREADY a star forest must converge without computing any round
    (labels == the star's parents) even at max_iter=1, where any
    round-diff formulation would need at least one full round to observe
    no change. A 120-node chain takes many rounds, so convergence can
    land between two probes."""
    import random

    from kafka_connect_minio_pipeline_spark.operators.dedup import (
        connected_components_ls,
    )

    def run(df, **kw):
        rows = connected_components_ls(df, **kw).collect()
        # exactly one label row per node — a premature convergence probe
        # emits duplicate doc_ids with conflicting cluster_ids (ADVICE
        # r14); a dict comprehension would silently collapse them.
        ids = [r["doc_id"] for r in rows]
        assert len(ids) == len(set(ids)), f"duplicate doc_id rows: {sorted(ids)}"
        return {r["doc_id"]: r["cluster_id"] for r in rows}

    rng = random.Random(11)
    seen = set()
    for _ in range(220):
        a, b = rng.randrange(300), rng.randrange(300)
        if a != b:
            seen.add((min(a, b), max(a, b)))
    df = spark.createDataFrame(sorted(seen), "d1 long, d2 long")
    truth = union_find_labels(seen)
    assert run(df) == truth
    assert run(df, canonical=True) == truth

    chain = [(i, i + 1) for i in range(1, 120)]
    df = spark.createDataFrame(chain, "d1 long, d2 long")
    assert run(df, canonical=True) == union_find_labels(chain)

    # star forest: 1 -> {2,3,4}, 10 -> {11,12}; already the fixpoint.
    stars = [(1, 2), (1, 3), (1, 4), (10, 11), (10, 12)]
    df = spark.createDataFrame(stars, "d1 long, d2 long")
    got = run(df, canonical=True, max_iter=1)
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 12: 10}
    assert got == union_find_labels(stars)

    # multi-parent child (ADVICE r14 HIGH): {(1,3),(2,3)} has no
    # parent-as-child, so a star-forest-only probe "converges" before any
    # round and splits the component {1,2,3}. The fixed probe must also
    # require every child to have a unique parent.
    vee = [(1, 3), (2, 3)]
    df = spark.createDataFrame(vee, "d1 long, d2 long")
    assert union_find_labels(vee) == {1: 1, 2: 1, 3: 1}
    assert run(df, canonical=True) == union_find_labels(vee)
    assert run(df) == union_find_labels(vee)


def test_containment_finds_quote_missed_by_jaccard(spark, tmp_path):
    """A short passage embedded verbatim in a much longer doc has
    containment 1.0 but tiny Jaccard — the asymmetric operator must find
    the pair, the symmetric one must not."""
    from kafka_connect_minio_pipeline_spark.operators.dedup import (
        q_dedup_containment,
        q_dedup_ngram_jaccard,
    )

    inner = " ".join(f"w{i}" for i in range(20))
    filler = " ".join(f"f{i}" for i in range(200))
    third = " ".join(f"z{i}" for i in range(30))
    spark.createDataFrame(
        [(1, inner), (2, inner + " " + filler), (3, third)],
        "doc_id long, text string",
    ).write.parquet(f"{tmp_path}/documents.parquet")
    got = q_dedup_containment(spark, str(tmp_path)).collect()
    assert [(r.inner_id, r.outer_id, r.containment) for r in got] == [(1, 2, 1.0)]
    assert q_dedup_ngram_jaccard(spark, str(tmp_path)).count() == 0


def test_ppm_codec_roundtrip():
    """decode(encode(d)) recovers exactly the formula raster; the decoder
    is an independent parser, so any header/offset bug breaks this."""
    import numpy as np

    from kafka_connect_minio_pipeline_spark.operators.multimodal import (
        PPM_H,
        PPM_W,
        decode_ppm,
        encode_ppm,
    )

    for d in (0, 7, 499):
        payload = encode_ppm(d)
        w, h, arr = decode_ppm(payload)
        assert (w, h) == (PPM_W, PPM_H)
        yy, xx, cc = np.meshgrid(
            np.arange(PPM_H), np.arange(PPM_W), np.arange(3), indexing="ij"
        )
        expect = ((13 * d + 3 * xx + 7 * yy + 11 * cc) % 256).astype(np.uint8)
        assert (arr == expect).all()


def test_ppm_decoder_full_header_grammar():
    """Comments and arbitrary whitespace in the header are legal PPM; the
    decoder must parse them (it's a real parser, not a fixed-offset slice)."""
    import numpy as np

    from kafka_connect_minio_pipeline_spark.operators.multimodal import decode_ppm

    raster = bytes(range(2 * 2 * 3))
    payload = b"P6 # comment\n# another\n 2\t2\n# w h above\n255\n" + raster
    w, h, arr = decode_ppm(payload)
    assert (w, h) == (2, 2)
    assert arr.tobytes() == raster
    assert arr.dtype == np.uint8


def test_ppm_decoder_rejects_malformed():
    import pytest

    from kafka_connect_minio_pipeline_spark.operators.multimodal import (
        decode_ppm,
        encode_ppm,
    )

    with pytest.raises(ValueError):
        decode_ppm(b"P5\n2 2\n255\n" + bytes(12))  # wrong magic
    with pytest.raises(ValueError):
        decode_ppm(encode_ppm(1)[:-1])  # truncated raster
    with pytest.raises(ValueError):
        decode_ppm(b"P6\n2 2\n65535\n" + bytes(24))  # 16-bit unsupported


def test_running_distinct_final_equals_count_distinct(spark, sf_dir):
    """The last running value per user must equal the user's true
    COUNT(DISTINCT event_type) — ties the decomposition (first-occurrence
    flag + running sum) back to the aggregate it emulates."""
    from pyspark.sql import Window

    from kafka_connect_minio_pipeline_spark.operators.windows import (
        q_window_running_distinct,
    )
    from kafka_connect_minio_pipeline_spark.tables import load

    out = q_window_running_distinct(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    finals = (
        out.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", F.col("distinct_types_so_far").alias("got"))
    )
    truth = (
        load(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.count_distinct("event_type").alias("want"))
    )
    bad = finals.join(truth, "user_id").filter(F.col("got") != F.col("want"))
    assert bad.count() == 0


def test_incremental_dedup_invariants(spark, sf_dir):
    """Every reported match pairs a NEW doc with a BASE doc (split is
    honored both ways), jaccard respects the threshold, and near matches
    really are ≥-threshold Jaccard pairs under the canonical shingling."""
    from kafka_connect_minio_pipeline_spark.operators.dedup import (
        INCR_NEW_FRAC,
        JACCARD_THRESHOLD,
        q_dedup_incremental,
    )
    from kafka_connect_minio_pipeline_spark.operators.llmdata import (
        _HASH_SPACE,
        _portable_hash,
    )

    out = q_dedup_incremental(spark, sf_dir).collect()
    cut = int(INCR_NEW_FRAC * _HASH_SPACE)

    def is_new_expr(c):
        return _portable_hash(F.concat(F.lit("incr:"), c)) < cut

    flags = dict(
        spark.range(0, 10_000)
        .select("id", is_new_expr(F.col("id")).alias("f"))
        .collect()
    )
    for r in out:
        assert flags[r["doc_id"]] is True, r
        assert flags[r["match_id"]] is False, r
        assert r["jaccard"] >= JACCARD_THRESHOLD or r["method"] == "exact", r
        assert r["method"] in ("exact", "near")


def test_wav_codec_roundtrip_and_chunk_walk():
    """decode(encode(d)) recovers the formula waveform; the parser is a
    real RIFF chunk walker, so an extra LIST chunk before data must be
    skipped, and malformed payloads must raise."""
    import struct

    import numpy as np
    import pytest

    from kafka_connect_minio_pipeline_spark.operators.multimodal import (
        WAV_N_SAMPLES,
        WAV_RATE,
        decode_wav,
        encode_wav,
    )

    for d in (0, 11, 499):
        rate, samples = decode_wav(encode_wav(d))
        assert rate == WAV_RATE and len(samples) == WAV_N_SAMPLES
        i = np.arange(WAV_N_SAMPLES)
        expect = (((7 * d + 3 * i) % 256) - 128).astype(np.int16)
        assert (samples == expect).all()

    # inject an unknown (odd-sized, word-padded) chunk between fmt and data
    raw = encode_wav(3)
    fmt_end = 12 + 8 + 16
    extra = b"LIST" + struct.pack("<I", 5) + b"INFOx" + b"\x00"  # pad byte
    patched = raw[:fmt_end] + extra + raw[fmt_end:]
    patched = patched[:4] + struct.pack("<I", len(patched) - 8) + patched[8:]
    rate, samples = decode_wav(patched)
    assert len(samples) == WAV_N_SAMPLES

    with pytest.raises(ValueError):
        decode_wav(b"RIFFxxxxAVI ")  # wrong form type
    with pytest.raises(ValueError):
        decode_wav(encode_wav(1)[:-3])  # truncated data chunk


def test_median_twopass_property(spark):
    """The histogram-walk selection must equal the plain sorted lower
    median on adversarial inputs: negatives, duplicates, exact
    bucket-boundary values, single element, all-equal."""
    from kafka_connect_minio_pipeline_spark.operators.aggregates import exact_median_twopass

    import random

    rng = random.Random(42)
    cases = [
        [5.0],
        [7.0, 7.0, 7.0, 7.0],
        [1000.0, 2000.0, 3000.0],          # exact bucket boundaries
        [-1500.5, -0.25, 0.0, 999.99, 1000.0],
        [999.99, 1000.0, 1000.01, 1999.99, 2000.0, 2000.01],
        [rng.uniform(-5000, 5000) for _ in range(101)],
        [rng.choice([10.0, 20.0, 3000.0]) for _ in range(50)],
        [float(rng.randint(-3, 3)) * 1000 for _ in range(37)],
    ]
    for vals in cases:
        df = spark.createDataFrame([(v,) for v in vals], ["x"])
        row = exact_median_twopass(df, "x").first()
        want = sorted(round(v, 2) for v in vals)[(len(vals) + 1) // 2 - 1]
        assert row["n"] == len(vals), vals
        assert abs(row["median_price"] - want) < 1e-9, (vals, row, want)


def test_weighted_median_property(spark):
    """The weighted histogram-walk selection must equal the plain
    cumulative-weight median on adversarial inputs: heavy single rows,
    bucket-boundary values, all-equal weights (reduces to plain median)."""
    from kafka_connect_minio_pipeline_spark.operators.corpus import (
        exact_weighted_median_twopass,
    )

    import random

    rng = random.Random(7)
    cases = [
        [(1, 100, 1)],
        [(i, 50 * i, 1) for i in range(1, 8)],          # boundary values
        [(1, 10, 1), (2, 20, 999), (3, 500, 1)],        # one heavy row
        [(i, rng.randint(0, 600), rng.randint(1, 9)) for i in range(60)],
        [(i, rng.randint(0, 600), 3) for i in range(41)],  # equal weights
    ]
    for rows in cases:
        df = spark.createDataFrame(rows, ["doc_id", "n_chars", "w"])
        got = exact_weighted_median_twopass(df).first()
        total = sum(w for _, _, w in rows)
        target = (total + 1) // 2
        cum, want = 0, None
        for _, v, w in sorted(rows, key=lambda r: (r[1], r[0])):
            cum += w
            if cum >= target:
                want = v
                break
        assert got["total_tokens"] == total, rows
        assert got["weighted_median_len"] == want, (rows, got, want)


def test_exact_dedup_empty_docs_cross_engine(spark, tmp_path):
    """r5 proactive sibling of the ADVICE footer bug: DuckDB's
    array_to_string([]) is NULL where Spark's concat_ws is '', so
    zero-token docs must still fingerprint to md5('') in BOTH engines
    (and group together) — checked cross-engine on a corpus with empty
    and whitespace-only documents."""
    import duckdb

    from kafka_connect_minio_pipeline_spark.operators.dedup import (
        SQL_DEDUP_EXACT,
        q_dedup_exact,
    )
    from tests.oracle_utils import _canon

    rows = [(1, ""), (2, "   "), (3, "real content here"), (4, "real content here")]
    spark.createDataFrame(rows, "doc_id long, text string").coalesce(1).write.parquet(
        f"{tmp_path}/documents.parquet"
    )
    got = q_dedup_exact(spark, str(tmp_path)).toPandas()
    con = duckdb.connect()
    try:
        con.execute(
            "CREATE VIEW documents AS SELECT * FROM "
            f"'{tmp_path}/documents.parquet/*.parquet'"
        )
        want = con.execute(SQL_DEDUP_EXACT).fetchdf()
    finally:
        con.close()
    assert _canon(got) == _canon(want)
    by_id = {r.doc_id: r for r in got.itertuples()}
    # both zero-token docs share the md5('') fingerprint group
    assert by_id[1].fingerprint == by_id[2].fingerprint
    assert by_id[2].is_dup and not by_id[1].is_dup


def test_substring_dedup_planted_duplication(spark, tmp_path):
    """ExactSubstr semantics on constructed docs: two docs sharing a
    long verbatim passage both score dup positions over exactly the
    shared region's k-grams; an unrelated doc scores 0; a doc shorter
    than k has zero grams (the backward-sequence guard) and NULL ratio."""
    from kafka_connect_minio_pipeline_spark.operators.dedup import (
        SUBSTR_K,
        q_dedup_substring,
    )

    shared = " ".join(f"tok{i}" for i in range(12))  # ~70 chars
    a = shared + " tailing unique content for doc a only here"
    b = "prefix unique b " + shared
    c = " ".join(f"other{i}" for i in range(20))
    rows = {
        r.doc_id: r
        for r in q_dedup_substring(spark, _write_docs(
            spark, tmp_path, [(1, a), (2, b), (3, c), (4, "tiny")]
        )).collect()
    }
    # doc 4 is shorter than k: zero grams, NULL ratio — not a crash
    assert rows[4].n_grams == 0 and rows[4].dup_ratio is None
    # the shared passage produces dup grams in BOTH carriers, none in c
    assert rows[1].n_dup_grams > 0 and rows[2].n_dup_grams > 0
    assert rows[3].n_dup_grams == 0
    # dup positions are exactly the k-grams fully inside the shared span
    assert rows[1].n_dup_grams == len(shared) - SUBSTR_K + 1
    assert rows[2].n_dup_grams == len(shared) - SUBSTR_K + 1


def _write_docs(spark, tmp_path, rows):
    spark.createDataFrame(rows, "doc_id long, text string").write.parquet(
        f"{tmp_path}/documents.parquet"
    )
    return str(tmp_path)


def test_semantic_dedup_planted_duplicate(spark, tmp_path):
    """SemDeDup on a constructed embedding table: an exact copy of a
    smaller-id vector lands in the same k-means cluster and is flagged
    with cosine 1.0; the copied-FROM vector (no smaller-id neighbor at
    tau) and a zero vector (cosine undefined) are never flagged."""
    import math

    from kafka_connect_minio_pipeline_spark.operators.dedup import (
        q_dedup_semantic,
    )

    dim = 8
    base = [
        [math.sin(0.7 * i * (j + 1)) for j in range(dim)] for i in range(12)
    ]
    base.append(list(base[3]))  # vec_id 12 = exact copy of vec_id 3
    base.append([0.0] * dim)  # vec_id 13 = zero vector
    rows = [(i, [float(x) for x in v]) for i, v in enumerate(base)]
    spark.createDataFrame(
        rows, "vec_id long, embedding array<float>"
    ).write.parquet(f"{tmp_path}/embeddings.parquet")
    got = {r.vec_id: r for r in q_dedup_semantic(spark, str(tmp_path)).collect()}
    assert len(got) == 14  # total: every vector gets a verdict row
    assert got[12].is_semantic_dup is True
    assert abs(got[12].max_prior_cos - 1.0) < 1e-9
    assert got[12].cluster == got[3].cluster
    assert got[13].is_semantic_dup is False and got[13].max_prior_cos is None


def test_ann_ivfpq_residual_recall_and_distortion(spark, sf_dir):
    """Residual IVF-PQ (FAISS by_residual=True): recall above the random
    floor, and the REASON residual coding exists holds on this corpus —
    total squared reconstruction error of residual codebooks over
    residuals is strictly below raw codebooks over raw vectors
    (measured ~10% lower at sf0.001/0.01/0.1)."""
    exact = similarity.q_similarity_topk_batch(spark, sf_dir)
    ann = similarity_pq.q_similarity_ann_ivfpq_residual(spark, sf_dir)
    e = {(r["query_id"], r["vec_id"]) for r in exact.collect()}
    a = {(r["query_id"], r["vec_id"]) for r in ann.collect()}
    assert len(a & e) / len(e) >= 0.3

    plain = similarity.load(spark, sf_dir, "embeddings").select(
        "vec_id", similarity.to_double(F.col("embedding")).alias("v")
    )
    cents = similarity.ivf_centroids(spark, sf_dir, plain)

    def total_distortion(rel, books):
        subs = similarity_pq._pq_subs(rel).withColumn(
            "dsv", similarity.dot(F.col("v"), F.col("v"))
        )
        best = similarity.nearest(
            subs, similarity_pq._keyed(books), group=("sub",), carry=("dsv",)
        )
        return best.select(
            (F.col("dsv") + F.col("score")).alias("d")
        ).agg(F.sum("d")).collect()[0][0]

    raw = total_distortion(plain, similarity_pq.pq_books(spark, sf_dir, plain))
    res = total_distortion(
        similarity_pq.residuals(plain, cents).select("vec_id", "v"),
        similarity_pq.pq_residual_books(spark, sf_dir, plain, cents),
    )
    assert res < raw, f"residual coding did not reduce distortion: {res} >= {raw}"


def test_ivf_probe_sweep_monotone(spark, sf_dir):
    """The nprobe sweep's defining property: probing more cells can only
    grow the candidate set, so recall and candidate volume are both
    non-decreasing in n_probe, and every candidate superset keeps the
    previous hits (hits monotone too)."""
    rows = sorted(
        similarity.q_similarity_ivf_probe_sweep(spark, sf_dir).collect(),
        key=lambda r: r["n_probe"],
    )
    assert [r["n_probe"] for r in rows] == list(similarity.IVF_SWEEP_PROBES)
    for a, b in zip(rows, rows[1:]):
        assert b["avg_candidates"] >= a["avg_candidates"]
        assert b["n_hit"] >= a["n_hit"]
        assert b["recall"] >= a["recall"]
    assert len({r["n_truth"] for r in rows}) == 1
