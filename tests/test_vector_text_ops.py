"""Property tests for the r3 vector/text/time-series operators (their
cross-engine exactness is covered by the DuckDB parity net; these pin
the mathematical contracts)."""

from __future__ import annotations

from pyspark.sql import functions as F

from kafka_connect_minio_pipeline_spark.operators.similarity import q_embedding_quantize
from kafka_connect_minio_pipeline_spark.operators.text import q_text_pretokenize
from kafka_connect_minio_pipeline_spark.operators.timeseries import (
        EWMA_ALPHA,
        q_ts_ewma,
    )
from kafka_connect_minio_pipeline_spark.tables import load


def test_ewma_stays_within_window_envelope(spark, sf_dir):
    """EWMA is a convex combination of frame values — never outside
    [min, max] of the window, and equal to value on a user's first event."""
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(-31, 0)
    first = Window.partitionBy("user_id").orderBy("ts", "event_id")
    got = (
        q_ts_ewma(spark, sf_dir)
        .withColumn("lo", F.min("value").over(w))
        .withColumn("hi", F.max("value").over(w))
        .withColumn("rn", F.row_number().over(first))
    )
    eps = 1e-9
    assert got.filter((F.col("ewma") < F.col("lo") - eps) | (F.col("ewma") > F.col("hi") + eps)).count() == 0
    firsts = got.filter(F.col("rn") == 1)
    assert firsts.filter(F.abs(F.col("ewma") - F.col("value")) > eps).count() == 0
    assert 0 < EWMA_ALPHA < 1


def test_quantize_error_bounded_by_half_step(spark, sf_dir):
    """Unclamped symmetric quantization has per-dim error ≤ scale/2, so
    RMS error ≤ scale/2 (+ float slack)."""
    rows = q_embedding_quantize(spark, sf_dir).collect()
    assert len(rows) > 0
    for r in rows:
        assert r.n_dims == 64
        assert r.scale > 0
        assert r.rms_error <= r.scale / 2 + 1e-12, (r.vec_id, r.scale, r.rms_error)


def test_quantize_checksum_roundtrip(spark, sf_dir):
    """The checksum is position-weighted; re-deriving codes in pure
    Python from the collected embeddings must reproduce it."""
    emb = {r.vec_id: r.embedding for r in load(spark, sf_dir, "embeddings").collect()}
    for r in q_embedding_quantize(spark, sf_dir).limit(20).collect():
        v = [float(x) for x in emb[r.vec_id]]
        scale = max(abs(x) for x in v) / 127.0
        # Python round is banker's; use half-away-from-zero like the engines
        import math

        def haz(y):
            return int(math.floor(y + 0.5)) if y >= 0 else int(math.ceil(y - 0.5))

        codes = [max(-127, min(127, haz(x / scale))) for x in v]
        assert sum(c * (i + 1) for i, c in enumerate(codes)) == r.code_checksum


def test_pretokenize_classes_partition_tokens(spark, sf_dir):
    """Every pretoken falls in exactly one class: counts must add up."""
    got = q_text_pretokenize(spark, sf_dir)
    bad = got.filter(
        F.col("n_word") + F.col("n_num") + F.col("n_punct") != F.col("n_pretok")
    )
    assert bad.count() == 0
    assert got.filter(F.col("n_distinct") > F.col("n_pretok")).count() == 0
    assert got.count() == load(spark, sf_dir, "documents").count()


def test_phash_pairs_contract(spark):
    """Perceptual-hash pairs: ordered ids, hamming within threshold, and
    the banding never admits a pair without a shared band (run at sf0.01
    where the corpus contains actual near-dups)."""
    from kafka_connect_minio_pipeline_spark.operators.multimodal import (
        PHASH_BAND_BITS,
        PHASH_BANDS,
        PHASH_HAM_T,
        q_multimodal_phash_pairs,
        phash64,
    )

    rows = q_multimodal_phash_pairs(spark, "/root/testdata/sf0.01").collect()
    assert len(rows) > 0
    for r in rows:
        assert r.a_id < r.b_id
        assert 0 <= r.hamming <= PHASH_HAM_T
    # kernel pins: deterministic, empty-safe, band arithmetic consistent
    h = phash64(b"hello world this is a longer payload for testing" * 4)
    assert h == phash64(b"hello world this is a longer payload for testing" * 4)
    assert phash64(b"") == 0
    assert PHASH_BANDS * PHASH_BAND_BITS == 60


def test_bpe_pairs_count_multiplicity(spark, tmp_path):
    """Adjacent-pair counts must respect within-word multiplicity
    ('aaa' contains 'aa' twice) and word frequency weighting."""
    from kafka_connect_minio_pipeline_spark.operators.text_tokenizers import q_text_bpe_pairs

    spark.createDataFrame(
        [(1, "aaa bb"), (2, "ab ab ab x")], "doc_id long, text string"
    ).write.parquet(f"{tmp_path}/documents.parquet")
    got = {r.pair: r.n_occ for r in q_text_bpe_pairs(spark, str(tmp_path)).collect()}
    # 'aaa' → aa twice; 'ab' ×3 → ab 3; 'bb' once; 1-char 'x' contributes none
    assert got == {"aa": 2, "ab": 3, "bb": 1}


def _py_bpe_full(
    words: dict[str, int], n_merges: int
) -> tuple[dict[str, list[str]], list[tuple[str, int]]]:
    """Independent pure-Python BPE reference: same spec as
    bpe_learn_segment (max weight, lexicographically smallest wrapped
    pair on ties, left-to-right non-overlapping collapse) but a totally
    different mechanism (explicit symbol lists, no strings/replace).
    Returns (segmentations, ordered merge table [(wrapped pair, w)])."""
    seqs = {w: list(w) for w in words}
    merges: list[tuple[str, int]] = []
    for _ in range(n_merges):
        counts: dict[str, int] = {}
        for w, syms in seqs.items():
            for a, b in zip(syms, syms[1:]):
                key = f"<{a}><{b}>"
                counts[key] = counts.get(key, 0) + words[w]
        if not counts:
            break
        best = min(counts, key=lambda k: (-counts[k], k))
        merges.append((best, counts[best]))
        a, b = best[1:-1].split("><")
        for w, syms in seqs.items():
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            seqs[w] = out
    return seqs, merges


def _py_bpe(words: dict[str, int], n_merges: int) -> dict[str, list[str]]:
    return _py_bpe_full(words, n_merges)[0]


def test_bpe_apply_roundtrip_known_tokenizations(spark, tmp_path):
    """apply ∘ train reproduces known tokenizations (VERDICT r6 item 1):
    on the classic BPE corpus {low×5, lower×2, newest×6, widest×3} the
    learned segmentations must equal an independent pure-Python BPE's —
    including the hand-checkable first merges (es before st on the 9-9
    tie, then est, then lo on the 7-7 tie) — and the per-doc encode
    counts must be exactly the summed segment counts."""
    from kafka_connect_minio_pipeline_spark.operators.text_tokenizers import (
        BPE_MERGES,
        bpe_learn_segment,
        q_text_bpe_apply,
    )

    freqs = {"low": 5, "lower": 2, "newest": 6, "widest": 3}
    ref = _py_bpe(freqs, BPE_MERGES)
    # reference sanity, merges derived by hand: merge 1 is es (weight 9,
    # beats st on the lexicographic tie), merge 2 est, merge 3 lo (7,
    # beats ow on tie)
    assert _py_bpe(freqs, 1)["newest"] == ["n", "e", "w", "es", "t"]
    assert _py_bpe(freqs, 2)["newest"] == ["n", "e", "w", "est"]
    assert _py_bpe(freqs, 3)["low"] == ["lo", "w"]

    words = spark.createDataFrame(list(freqs.items()), "word string, cnt long")
    got = {
        r.word: r.seq[1:-1].split("><")
        for r in bpe_learn_segment(words).collect()
    }
    assert got == ref

    docs = [
        (1, "low lower newest"),
        (2, "widest widest low"),
        (3, "newest"),
    ]
    spark.createDataFrame(docs, "doc_id long, text string").write.parquet(
        f"{tmp_path}/documents.parquet"
    )
    out = {
        r.doc_id: (r.n_words, r.n_chars_alnum, r.n_bpe)
        for r in q_text_bpe_apply(spark, str(tmp_path)).collect()
    }
    corpus_freqs: dict[str, int] = {}
    for _, text in docs:
        for w in text.split():
            corpus_freqs[w] = corpus_freqs.get(w, 0) + 1
    corpus_ref, corpus_merges = _py_bpe_full(corpus_freqs, BPE_MERGES)
    expect = {
        doc_id: (
            len(text.split()),
            sum(len(w) for w in text.split()),
            sum(len(corpus_ref[w]) for w in text.split()),
        )
        for doc_id, text in docs
    }
    assert out == expect

    # the emitted merge TABLE equals the reference's ordered merges
    from kafka_connect_minio_pipeline_spark.operators.text_tokenizers import q_text_bpe_vocab

    vocab = {
        r.merge_rank: (r.pair, r.n_occ)
        for r in q_text_bpe_vocab(spark, str(tmp_path)).collect()
    }
    assert vocab == {
        m + 1: pw for m, pw in enumerate(corpus_merges)
    }


def test_boilerplate_footer_short_docs_cross_engine(spark, tmp_path):
    """ADVICE r4 regression: for docs shorter than EDGE_TOKENS the footer
    fingerprint must hash the FULL token list (DuckDB toks[-k:] semantics),
    not md5('') — an unguarded Spark slice(toks, -k, k) returns [] on short
    docs, falsely clustering every short doc as one shared footer. Checked
    cross-engine on a corpus of 0/1/2/3-token docs plus genuine repeats."""
    import duckdb

    from kafka_connect_minio_pipeline_spark.operators.text import (
        SQL_TEXT_BOILERPLATE,
        q_text_boilerplate_edges,
    )
    from tests.oracle_utils import _canon

    rows = [
        (1, "alpha beta gamma"),      # 3-token repeat → shared header+footer
        (2, "alpha beta gamma"),
        (3, "solo"),                  # 1-token repeat
        (4, "solo"),
        (5, ""),                      # empty docs: md5('') both engines
        (6, ""),
        (7, "only once short"),       # short but unique → must NOT surface
        (8, "a proper five token document here"),  # long repeat (control)
        (9, "a proper five token document here"),
    ]
    spark.createDataFrame(rows, "doc_id long, text string").coalesce(1).write.parquet(
        f"{tmp_path}/documents.parquet"
    )
    got = q_text_boilerplate_edges(spark, str(tmp_path)).toPandas()
    con = duckdb.connect()
    try:
        con.execute(
            "CREATE VIEW documents AS SELECT * FROM "
            f"'{tmp_path}/documents.parquet/*.parquet'"
        )
        want = con.execute(SQL_TEXT_BOILERPLATE).fetchdf()
    finally:
        con.close()
    assert sorted(got.columns) == sorted(want.columns)
    assert _canon(got) == _canon(want)
    # the unguarded bug collapses docs 3,4,5,6,7 into one md5('') footer
    # group of 5; the guarded form keeps ''-docs and 'solo'-docs distinct
    by_edge = {
        (r.edge, r.n_docs) for r in got.itertuples()
    }
    assert ("footer", 5) not in by_edge
    assert ("footer", 2) in by_edge  # each genuine repeat pair surfaces


def test_unigram_logprob_rare_tokens_score_higher(spark, tmp_path):
    """LM contract: a document made of corpus-rare tokens must carry a
    higher per-token NLL (and perplexity) than one made of the corpus's
    most common token; ppl must equal exp(nll) after its own rounding."""
    import math

    from kafka_connect_minio_pipeline_spark.operators.text import QUERIES

    common = " ".join(["the"] * 50)
    docs = [(i, common) for i in range(9)] + [(9, "zyx wvu tsr qpo nml")]
    spark.createDataFrame(docs, "doc_id long, text string").coalesce(1).write.parquet(
        f"{tmp_path}/documents.parquet"
    )
    got = {
        r.doc_id: r
        for r in QUERIES["text_unigram_logprob"].fn(spark, str(tmp_path)).collect()
    }
    assert got[9].nll_per_token > got[0].nll_per_token
    assert got[9].ppl > got[0].ppl
    for r in got.values():
        assert abs(r.ppl - round(math.exp(r.nll_per_token), 4)) < 2e-4


def test_resize_empty_payload_cross_engine(spark, tmp_path):
    """r5 proactive sibling of the ADVICE footer bug: an empty payload
    must resize to md5('') in BOTH engines (DuckDB's array_to_string([])
    is NULL; the oracle coalesces it) — zero-byte objects are routine in
    a real object store."""
    import duckdb

    from kafka_connect_minio_pipeline_spark.operators.multimodal import (
        SQL_MULTIMODAL_RESIZE,
        q_multimodal_resize,
    )
    from tests.oracle_utils import _canon

    spark.createDataFrame(
        [(1, "", "web"), (2, "abcdefghij", "web")],
        "doc_id long, text string, source string",
    ).coalesce(1).write.parquet(f"{tmp_path}/documents.parquet")
    got = q_multimodal_resize(spark, str(tmp_path)).toPandas()
    con = duckdb.connect()
    try:
        con.execute(
            "CREATE VIEW documents AS SELECT * FROM "
            f"'{tmp_path}/documents.parquet/*.parquet'"
        )
        want = con.execute(SQL_MULTIMODAL_RESIZE).fetchdf()
    finally:
        con.close()
    assert _canon(got) == _canon(want)
    empty = got[got.doc_id == 1].iloc[0]
    assert empty.n_bytes_out == 0
    assert empty.out_md5 == "d41d8cd98f00b204e9800998ecf8427e"


def test_gopher_rules_semantics(spark, tmp_path):
    """Gopher gate semantics on constructed docs: a healthy doc passes,
    an empty doc yields NULL ratios and keep=false (never NULL), a
    symbol-heavy doc fails the symbol-ratio rule, and a doc without two
    distinct stopwords fails the required-stopword rule."""
    from kafka_connect_minio_pipeline_spark.operators.text import q_text_gopher_rules

    healthy = "the quick brown fox jumps over a lazy dog and then it " + (
        "runs far away tonight " * 5
    )
    symbols = "the of " + "### ### ### ### ### ### " * 8
    nostops = " ".join(f"word{i}" for i in range(40))
    spark.createDataFrame(
        [(1, healthy), (2, ""), (3, symbols), (4, nostops)],
        "doc_id long, text string",
    ).write.parquet(f"{tmp_path}/documents.parquet")
    rows = {
        r.doc_id: r for r in q_text_gopher_rules(spark, str(tmp_path)).collect()
    }
    assert rows[1].keep is True
    assert rows[2].keep is False
    assert rows[2].mean_word_len is None and rows[2].symbol_ratio is None
    assert rows[3].keep is False and rows[3].symbol_ratio > 0.1
    assert rows[4].keep is False and rows[4].stop_hits < 2
    # keep is total: never NULL even where the ratio guards fire
    assert all(r.keep is not None for r in rows.values())


def test_dsir_separates_target_from_background(spark, sf_dir):
    """DSIR with target = the en slice must score en docs higher on
    average than every non-target language — the importance weight is
    exactly the target-vs-raw log-likelihood ratio, so the target slice
    recovering the top rank is the operator's defining property."""
    from kafka_connect_minio_pipeline_spark.operators.corpus import (
        q_corpus_dsir,
    )
    from pyspark.sql import functions as F

    means = {
        r.lang: r.m
        for r in q_corpus_dsir(spark, sf_dir)
        .groupBy("lang")
        .agg(F.avg("importance").alias("m"))
        .collect()
    }
    assert means["en"] == max(means.values())


def test_c4_rules_hand_built(spark, tmp_path):
    """C4 line/page rules on a hand-built corpus (the driver fixture is
    punctuation-free, so this pins the rules where they actually fire):
    terminal-punct + >=5 words + no 'javascript' per line; >=3 sentences
    + no lorem-ipsum + no brace per page; cleaned text preserves kept
    lines in order."""
    import os
    import shutil

    from kafka_connect_minio_pipeline_spark.operators.text import q_text_c4_rules

    d = str(tmp_path / "c4")
    shutil.copytree("/root/testdata/sf0.001", d)
    os.remove(f"{d}/documents.parquet")
    good = ("One two three four five.\n"
            "enable javascript to view this page.\n"
            "short line.\n"
            "Another proper sentence with enough words here!\n"
            "Is this a question with many words too?")
    rows = [
        (0, good, "en", "web", len(good)),
        (1, "No terminal punctuation here at all", "en", "web", 36),
        (2, "Brace page { one two three four five. Six seven eight nine ten. More words end here.", "en", "web", 85),
        (3, "Lorem Ipsum dolor sit amet sentence one. Sentence two is here. Sentence three too.", "en", "web", 83),
        (4, "Only two sentences but long enough words. Second sentence also fine here.", "en", "web", 74),
    ]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).coalesce(1).write.parquet(f"{d}/documents.parquet")
    out = {r["doc_id"]: r for r in q_text_c4_rules(spark, d).collect()}
    # doc 0: lines 1, 4, 5 kept (2 has 'javascript', 3 has <5 words)
    assert out[0]["n_lines"] == 5 and out[0]["n_kept_lines"] == 3
    assert out[0]["cleaned_text"] == (
        "One two three four five.\n"
        "Another proper sentence with enough words here!\n"
        "Is this a question with many words too?")
    assert out[0]["n_sentences"] == 3 and bool(out[0]["keep"]) is True
    # doc 1: nothing kept
    assert out[1]["n_kept_lines"] == 0 and bool(out[1]["keep"]) is False
    # doc 2: lines keep but the page has '{'
    assert out[2]["n_kept_lines"] == 1 and bool(out[2]["keep"]) is False
    # doc 3: lorem ipsum page
    assert bool(out[3]["keep"]) is False
    # doc 4: only 2 sentences after cleaning
    assert out[4]["n_kept_lines"] == 1 and out[4]["n_sentences"] == 2
    assert bool(out[4]["keep"]) is False


def test_ccnet_buckets_partition_semantics(spark, sf_dir):
    """CCNet bucket invariants: within each language the buckets
    partition the scored docs, each bucket's token mass is within one
    document of the exact third, and quality ordering holds (every head
    doc scores no worse than every tail doc)."""
    from kafka_connect_minio_pipeline_spark.operators.text import q_text_ccnet_buckets

    rows = q_text_ccnet_buckets(spark, sf_dir).collect()
    by_lang = {}
    for r in rows:
        by_lang.setdefault(r["lang"], []).append(r)
    assert len(by_lang) >= 2
    for lang, rs in by_lang.items():
        tot = sum(r["n_tokens"] for r in rs)
        mass = {"head": 0, "middle": 0, "tail": 0}
        for r in rs:
            mass[r["bucket"]] += r["n_tokens"]
        assert sum(mass.values()) == tot
        biggest_doc = max(r["n_tokens"] for r in rs)
        for b in ("head", "middle"):
            assert abs(mass[b] - tot / 3) <= biggest_doc, (lang, b, mass)
        head_max = max(
            (r["nll_per_token"] for r in rs if r["bucket"] == "head"),
            default=float("-inf"),
        )
        tail_min = min(
            (r["nll_per_token"] for r in rs if r["bucket"] == "tail"),
            default=float("inf"),
        )
        assert head_max <= tail_min, (lang, head_max, tail_min)


def test_line_dedup_hand_built(spark, tmp_path):
    """Line dedup on a hand-built corpus (driver fixture has no
    byte-equal lines): shared non-blank lines removed everywhere, blank
    lines immune, unique lines kept, fully-boilerplate docs emptied."""
    from kafka_connect_minio_pipeline_spark.operators.text import q_text_line_dedup

    banner = "subscribe to our newsletter"
    rows = [
        (0, f"{banner}\nunique content zero\n\nmore zero", "en", "web", 10),
        (1, f"{banner}\nunique content one", "en", "web", 10),
        (2, banner, "en", "web", 10),
        (3, "totally unique document", "en", "web", 10),
        (4, "\n\n", "en", "web", 3),
    ]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.parquet(f"{tmp_path}/documents.parquet")
    out = {r["doc_id"]: r for r in q_text_line_dedup(spark, str(tmp_path)).collect()}
    assert out[0]["n_removed_lines"] == 1
    assert out[0]["cleaned_text"] == "unique content zero\n\nmore zero"
    assert out[1]["cleaned_text"] == "unique content one"
    assert out[2]["n_removed_lines"] == 1 and out[2]["cleaned_text"] == ""
    assert out[3]["n_removed_lines"] == 0
    assert out[3]["cleaned_text"] == "totally unique document"
    # blank lines are shared by docs 0 and 4 but never removed
    assert out[4]["n_removed_lines"] == 0 and out[4]["cleaned_text"] == "\n\n"


def test_quality_classifier_holdout_separation(spark, sf_dir):
    """The VERDICT r10 item-2 acceptance test: on the HELD-OUT split
    (docs never seen by training or standardization), teacher-positive
    documents must score above teacher-negative ones — mean separation
    AND a rank statistic (AUC) comfortably above chance. The classifier
    is only useful if the distilled gate generalizes off the train
    split; train-split numbers would flatter any memorizing model."""
    from kafka_connect_minio_pipeline_spark.operators.text_classifier import (
        q_text_classifier_eval,
        q_text_quality_classifier,
    )

    rows = q_text_quality_classifier(spark, sf_dir).collect()
    ho = [r for r in rows if r["held_out"]]
    pos = [r["score"] for r in ho if r["teacher_label"] == 1]
    neg = [r["score"] for r in ho if r["teacher_label"] == 0]
    assert pos and neg
    assert sum(pos) / len(pos) > sum(neg) / len(neg) + 0.1
    card = q_text_classifier_eval(spark, sf_dir).collect()[0]
    assert card["auc"] > 0.75
    assert card["n_train"] + card["n_holdout"] == len(rows)
    assert card["n_pos"] == len(pos) and card["n_neg"] == len(neg)
    assert 0.5 < card["accuracy"] <= 1.0


def test_quality_classifier_weights_nonzero_and_deterministic(
    spark, sf_dir, monkeypatch
):
    """Two independent builds must agree exactly (the decimal-exact
    dataflow claim), and training must actually move off the zero
    initialization (scores away from 0.5). The second run bypasses the
    session model cache (ADVICE r11: with the cache both calls serve
    ONE trained relation, so a == b would compare the cache against
    itself and never exercise the determinism claim) — an empty
    session cache forces a full real retrain for run b."""
    from kafka_connect_minio_pipeline_spark import staging
    from kafka_connect_minio_pipeline_spark.operators.text_classifier import q_text_quality_classifier

    a = {r["doc_id"]: r["score"] for r in q_text_quality_classifier(spark, sf_dir).collect()}
    monkeypatch.setattr(staging, "_CACHE", {})
    b = {r["doc_id"]: r["score"] for r in q_text_quality_classifier(spark, sf_dir).collect()}
    assert a == b
    assert any(abs(s - 0.5) > 0.2 for s in a.values())


def test_classifier_bigram_ab_decision(spark, sf_dir):
    """The r12 feature A/B: the bigram variant must produce a VALID
    card (real AUC on the same held-out slice), and on this corpus the
    unigram gate must win — the measured basis for keeping unigrams as
    the served model (docstring + BASELINE.md r12). If a corpus change
    ever flips this, the assertion flags that the serving decision
    needs re-measuring."""
    from kafka_connect_minio_pipeline_spark.operators.text_classifier import (
        q_text_classifier_bigram_eval,
        q_text_classifier_eval,
    )

    uni = q_text_classifier_eval(spark, sf_dir).collect()[0]
    bi = q_text_classifier_bigram_eval(spark, sf_dir).collect()[0]
    assert bi["n_holdout"] == uni["n_holdout"]
    assert bi["n_pos"] == uni["n_pos"] and bi["n_neg"] == uni["n_neg"]
    assert 0.5 < bi["auc"] <= 1.0  # the variant genuinely learns
    assert uni["auc"] > bi["auc"]  # ...but unigrams win here


def test_audio_fingerprint_planted_near_dups(spark, tmp_path):
    """Audio near-dup gate on a planted fixture: doc ids 256 apart carry
    bit-identical synthetic audio (7·Δ ≡ 0 mod 256), so their waveform
    fingerprints are equal and the pair ships at hamming 0; a far-phase
    doc pairs with neither. Kernel pins: the fingerprint is a pure
    function of the decoded samples (re-encoding the same audio in a
    different container byte layout cannot change it), empty input
    hashes to 0, and the bit budget stays inside 60."""
    from kafka_connect_minio_pipeline_spark.operators.multimodal import (
        AUDIO_FP_HAM_T,
        audio_fingerprint60,
        decode_wav,
        encode_wav,
        q_multimodal_audio_fingerprint,
    )

    # ids 5 and 261 (Δ=256): identical audio; 133 is 128 apart from
    # both → phase shift 7·128 % 256 = 128, maximally out of phase
    ids = [5, 133, 261]
    rows = [(i, f"body {i}", "en", "src0", 6) for i in ids]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string,"
        " n_chars long"
    ).write.parquet(f"{tmp_path}/documents.parquet")
    got = {
        (r["a_id"], r["b_id"]): r["hamming"]
        for r in q_multimodal_audio_fingerprint(spark, str(tmp_path)).collect()
    }
    assert got.get((5, 261)) == 0
    assert (5, 133) not in got and (133, 261) not in got
    # kernel: waveform-level determinism + identity across containers
    _, s5 = decode_wav(encode_wav(5))
    _, s261 = decode_wav(encode_wav(261))
    fp5 = audio_fingerprint60(s5)
    assert fp5 == audio_fingerprint60(s261)
    assert 0 < fp5 < (1 << 60)
    assert audio_fingerprint60([]) == 0
    # a real near (not identical) phase pair stays within the gate:
    # Δ=183 → phase shift 7·183 % 256 = 1
    _, s188 = decode_wav(encode_wav(188))
    ham = bin(fp5 ^ audio_fingerprint60(s188)).count("1")
    assert 0 < ham <= AUDIO_FP_HAM_T
