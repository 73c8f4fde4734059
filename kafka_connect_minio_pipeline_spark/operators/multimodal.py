"""Multimodal column plumbing (SURVEY.md §2.4; BASELINE.json north star).

Design: image/audio/video payloads are opaque ``binary`` columns with typed
metadata alongside (the lakehouse-standard layout — the engine shuffles and
prunes bytes without interpreting them). Decode / feature-extraction runs as
Arrow-batched ``mapInPandas`` so the Python boundary is paid once per batch,
not per row, and the operator parallelizes like any other map.

There are no JPEG/PNG/audio libraries here, so ``extract_features``
computes deterministic byte statistics where a deployment would run a
PIL/torchaudio kernel. The Spark-side plumbing — binary column
construction, schema, batch iteration, partition-parallel execution — is
real and oracle-/test-covered.
Two decode paths need no external library and are therefore REAL end to
end: ``encode_ppm``/``decode_ppm`` implement the binary PPM (P6) image
format in pure numpy (full header grammar incl. comments), and
``encode_wav``/``decode_wav`` implement RIFF/WAVE PCM16 with a
spec-correct chunk walker (unknown-chunk skip, word alignment).
``multimodal_ppm_decode`` / ``multimodal_wav_decode`` run
generate→decode→stats as two Arrow-batched stages whose output is
hash-checked against the oracle's independent closed-form evaluation of
the pixel/sample formula.

There is no binary test table, so ``documents.text`` is encoded to UTF-8
bytes as the stand-in payload.

ORACLE CAVEAT (ASCII-only): the DuckDB oracles for features/resize/
frame_sample slice CHARACTERS (``ORD(SUBSTRING(text, i, 1))``) while the
Spark side operates on the UTF-8 BYTES of ``encode(text,'utf-8')``; the
two agree iff every document is pure ASCII (1 char == 1 byte). The
synthetic corpus is ASCII by construction and
``tests/test_oracle_parity.py::test_documents_are_ascii`` asserts it, so
a future non-ASCII regeneration fails loudly instead of hash-mismatching.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..registry import Query
from ..tables import load, spread

FEATURE_SCHEMA = (
    "doc_id long, n_bytes int, mean_byte double, max_byte int, head_byte int"
)


def binary_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents → (doc_id, payload binary, typed metadata)."""
    docs = spread(load(spark, sf_dir, "documents"), "doc_id")
    return docs.select(
        "doc_id",
        F.encode(F.col("text"), "utf-8").alias("payload"),
        F.lit("text/plain").alias("mime"),
        F.col("source").alias("origin"),
    )


def extract_features(binary_df: DataFrame) -> DataFrame:
    """Arrow-batched byte-statistics features over the binary column.

    mapInPandas: one Python invocation per Arrow batch (not per row). The
    kernel vectorizes across the whole batch — one concatenation + one
    cumsum + reduceat, no Python loop per payload. Integer sums are
    exact and mean_byte is a single IEEE division (int64 sum / float64
    n), so the oracle's SQL-side statistics match bit for bit.
    Zero-byte payloads (routine in a real object store) have UNDEFINED
    statistics — emitted as NULL, matching the SQL oracle's empty-list
    semantics, instead of fabricating 0s that look like real bytes.
    """
    import numpy as np

    def run_vec(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = pdf["payload"]
            n_docs = len(payloads)
            if n_docs == 0:
                yield pd.DataFrame(
                    {
                        "doc_id": pdf["doc_id"].values,
                        "n_bytes": pd.Series([], dtype="int32"),
                        "mean_byte": pd.Series([], dtype="float64"),
                        "max_byte": pd.Series([], dtype="object"),
                        "head_byte": pd.Series([], dtype="object"),
                    }
                )
                continue
            lens = np.fromiter(
                (len(p) for p in payloads), dtype=np.int64, count=n_docs
            )
            blob = b"".join(bytes(p) for p in payloads)
            data = np.frombuffer(blob, dtype=np.uint8)
            starts = np.concatenate(([0], np.cumsum(lens)))[:-1]
            nonempty = lens > 0
            sums = np.zeros(n_docs, dtype=np.int64)
            maxs = np.zeros(n_docs, dtype=np.int64)
            heads = np.zeros(n_docs, dtype=np.int64)
            if data.size:
                ne_starts = starts[nonempty]
                sums[nonempty] = np.add.reduceat(
                    data.astype(np.int64), ne_starts
                )
                maxs[nonempty] = np.maximum.reduceat(data, ne_starts)
                heads[nonempty] = data[ne_starts]
            mean = np.where(nonempty, sums / np.maximum(lens, 1), np.nan)
            out = pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"].values,
                    "n_bytes": lens.astype("int32"),
                    "mean_byte": mean,
                    "max_byte": pd.array(
                        np.where(nonempty, maxs, 0), dtype="Int64"
                    ),
                    "head_byte": pd.array(
                        np.where(nonempty, heads, 0), dtype="Int64"
                    ),
                }
            )
            out.loc[~nonempty, ["mean_byte", "max_byte", "head_byte"]] = None
            yield out

    return binary_df.mapInPandas(run_vec, schema=FEATURE_SCHEMA)


def q_multimodal_binary_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metadata over opaque binary payloads, entirely JVM-side: byte
    length, content hash, head bytes as hex — the operations a catalog
    runs without decoding (oracle-checked)."""
    b = binary_table(spark, sf_dir)
    return b.select(
        "doc_id",
        "mime",
        "origin",
        F.octet_length(F.col("payload")).alias("n_bytes"),
        F.md5(F.col("payload")).alias("content_md5"),
        F.lower(F.hex(F.substring(F.col("payload"), 1, 4))).alias("head_hex"),
    )


SQL_MULTIMODAL_META = """
    SELECT doc_id,
           'text/plain' AS mime,
           source AS origin,
           CAST(OCTET_LENGTH(ENCODE(text)) AS INTEGER) AS n_bytes,
           MD5(text) AS content_md5,
           LOWER(HEX(ENCODE(SUBSTRING(text, 1, 4)))) AS head_hex
    FROM documents
"""


def q_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The mapInPandas feature pipeline with the byte-statistics kernel.

    The byte statistics are integer-exact (mean emitted as an exact
    ratio-of-ints double), so even this Python-side path is oracle-checked
    against DuckDB computing the same statistics SQL-side.
    """
    return extract_features(binary_table(spark, sf_dir))


SQL_MULTIMODAL_FEATURES = """
    SELECT doc_id,
           CAST(OCTET_LENGTH(ENCODE(text)) AS INTEGER) AS n_bytes,
           LIST_SUM(LIST_TRANSFORM(
               RANGE(1, OCTET_LENGTH(ENCODE(text)) + 1),
               i -> ORD(SUBSTRING(text, i, 1)))) * 1.0
               / OCTET_LENGTH(ENCODE(text)) AS mean_byte,
           CAST(LIST_MAX(LIST_TRANSFORM(
               RANGE(1, OCTET_LENGTH(ENCODE(text)) + 1),
               i -> ORD(SUBSTRING(text, i, 1)))) AS INTEGER) AS max_byte,
           -- ORD('') is -1 in DuckDB; zero-byte payloads have NULL stats
           CASE WHEN OCTET_LENGTH(ENCODE(text)) > 0
                THEN CAST(ORD(SUBSTRING(text, 1, 1)) AS INTEGER) END AS head_byte
    FROM documents
"""


RESIZE_STRIDE = 4  # stand-in for an image resize's downsample factor
RESIZE_SCHEMA = "doc_id long, n_bytes_in int, n_bytes_out int, out_md5 string"


def resize_payload(binary_df: DataFrame) -> DataFrame:
    """'Resize' stub with real mapInPandas plumbing: keep every
    ``RESIZE_STRIDE``-th byte of the payload (a real deployment swaps in
    PIL's Image.resize — bytes in, smaller bytes out, same batch shape and
    schema contract)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = pdf["payload"].map(lambda p: bytes(p)[::RESIZE_STRIDE])
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"].values,
                    "n_bytes_in": pdf["payload"].map(len).astype("int32"),
                    "n_bytes_out": out.map(len).astype("int32"),
                    "out_md5": out.map(lambda b: hashlib.md5(b).hexdigest()),
                }
            )

    return binary_df.mapInPandas(run, schema=RESIZE_SCHEMA)


def q_multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    return resize_payload(binary_table(spark, sf_dir))


SQL_MULTIMODAL_RESIZE = f"""
    WITH t AS (SELECT doc_id, text, OCTET_LENGTH(ENCODE(text)) AS n FROM documents)
    SELECT doc_id,
           CAST(n AS INTEGER) AS n_bytes_in,
           CAST((n + {RESIZE_STRIDE - 1}) // {RESIZE_STRIDE} AS INTEGER) AS n_bytes_out,
           MD5(COALESCE(array_to_string(
               [SUBSTRING(text, i, 1) FOR i IN RANGE(1, n + 1)
                IF (i - 1) % {RESIZE_STRIDE} = 0], ''), '')) AS out_md5
    FROM t
"""


FRAME_BYTES = 16  # stand-in frame size (a real video frame is ~MBs)
FRAME_STRIDE = 4  # keep every 4th frame
FRAME_SCHEMA = "doc_id long, frame_idx int, frame_len int, frame_md5 string"


def sample_frames(binary_df: DataFrame) -> DataFrame:
    """Frame-sampling stub with real plumbing: chunk the payload into
    fixed-size 'frames' and keep every ``FRAME_STRIDE``-th one — the shape
    of video keyframe extraction (1 input row → N output rows,
    Arrow-batched)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                p = bytes(payload)
                n_frames = (len(p) + FRAME_BYTES - 1) // FRAME_BYTES
                for idx in range(0, n_frames, FRAME_STRIDE):
                    fb = p[idx * FRAME_BYTES : (idx + 1) * FRAME_BYTES]
                    rows.append(
                        (doc_id, idx, len(fb), hashlib.md5(fb).hexdigest())
                    )
            out = pd.DataFrame(
                rows, columns=["doc_id", "frame_idx", "frame_len", "frame_md5"]
            )
            yield out.astype(
                {"doc_id": "int64", "frame_idx": "int32", "frame_len": "int32"}
            )

    return binary_df.mapInPandas(run, schema=FRAME_SCHEMA)


def q_multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sample_frames(binary_table(spark, sf_dir))


SQL_MULTIMODAL_FRAMES = f"""
    WITH t AS (SELECT doc_id, text, OCTET_LENGTH(ENCODE(text)) AS n FROM documents)
    SELECT doc_id,
           CAST(idx AS INTEGER) AS frame_idx,
           CAST(LEAST({FRAME_BYTES}, n - idx * {FRAME_BYTES}) AS INTEGER) AS frame_len,
           MD5(SUBSTRING(text, idx * {FRAME_BYTES} + 1, {FRAME_BYTES})) AS frame_md5
    FROM t, UNNEST([i FOR i IN RANGE(0, (n + {FRAME_BYTES - 1}) // {FRAME_BYTES})
                    IF i % {FRAME_STRIDE} = 0]) r(idx)
"""


PHASH_SEGMENTS = 60  # bits in the perceptual hash (bit 59 max: stays
# positive in signed 64-bit on every engine — DuckDB errors on 1<<63)
PHASH_BANDS = 4  # LSH bands over the hash (15 bits each)
PHASH_BAND_BITS = PHASH_SEGMENTS // PHASH_BANDS
PHASH_HAM_T = 14  # max hamming for a pair: unrelated docs average 30±4
# bits apart on a 60-bit hash, so ≤14 is >4σ of genuine similarity
PHASH_SCHEMA = "doc_id long, phash long"


def phash64(payload: bytes) -> int:
    """Average-hash (aHash) of a payload: 60 contiguous segments, bit k
    set iff segment k's mean byte exceeds the global mean — compared in
    EXACT integer arithmetic (seg_sum·n > total·seg_len), so the hash is
    reproducible anywhere. On decoded images this is the classic 8×8
    aHash; on opaque bytes it is a locality-sensitive content signature
    with the same bit layout."""
    n = len(payload)
    if n == 0:
        return 0
    total = sum(payload)
    bits = 0
    for k in range(PHASH_SEGMENTS):
        lo = k * n // PHASH_SEGMENTS
        hi = (k + 1) * n // PHASH_SEGMENTS
        if hi == lo:
            continue
        if sum(payload[lo:hi]) * n > total * (hi - lo):
            bits |= 1 << k
    return bits


def compute_phash(binary_df: DataFrame) -> DataFrame:
    """Arrow-batched perceptual hashing, vectorized across the WHOLE batch.

    r14 (guide §4.2 — hand whole batches to vectorized native code): the
    previous version looped per payload in Python with 16 numpy slice
    sums each; this one concatenates the batch's payloads into a single
    int64 array, takes ONE cumulative sum, and derives every document's
    16 segment sums by differencing the cumsum at the (doc x 17) bound
    matrix — a handful of numpy calls per batch, no per-row Python. All
    arithmetic stays int64 (exact; seg_sum·n ≤ 255·n² stays far below
    2^63 for any plausible payload), so the emitted hashes are
    bit-identical to the per-row reference ``_phash_py`` (pinned by
    tests) and the DuckDB oracle.
    """
    import numpy as np

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        nseg = PHASH_SEGMENTS
        shifts = np.arange(nseg, dtype=np.int64)[None, :]
        k = np.arange(nseg + 1, dtype=np.int64)[None, :]
        for pdf in batches:
            payloads = pdf["payload"]
            n_docs = len(payloads)
            if n_docs == 0:
                yield pd.DataFrame(
                    {"doc_id": pdf["doc_id"].values,
                     "phash": pd.Series([], dtype="int64")}
                )
                continue
            lens = np.fromiter(
                (len(p) for p in payloads), dtype=np.int64, count=n_docs
            )
            blob = b"".join(bytes(p) for p in payloads)
            data = np.frombuffer(blob, dtype=np.uint8).astype(np.int64)
            csum = np.concatenate(([0], np.cumsum(data)))
            starts = np.concatenate(([0], np.cumsum(lens)))[:-1]
            # per-doc segment bounds: start_i + (k * n_i) // nseg — the
            # same integer formula as the per-row reference
            bounds = starts[:, None] + (k * lens[:, None]) // nseg
            seg = csum[bounds[:, 1:]] - csum[bounds[:, :-1]]
            width = bounds[:, 1:] - bounds[:, :-1]
            total = (csum[starts + lens] - csum[starts])[:, None]
            cond = (width > 0) & (seg * lens[:, None] > total * width)
            bits = (cond.astype(np.int64) << shifts).sum(axis=1)
            yield pd.DataFrame(
                {"doc_id": pdf["doc_id"].values,
                 "phash": pd.Series(bits, dtype="int64")}
            )

    return binary_df.mapInPandas(run, schema=PHASH_SCHEMA)


def phash_near_dup_pairs(
    ph: DataFrame, ham_t: int = PHASH_HAM_T, ordered: bool = True
) -> DataFrame:
    """Near-dup pairs from banded perceptual hashes.

    Standard LSH shape: two hashes within hamming distance t must agree
    on at least one of the 4 15-bit bands whenever t < 4·(bits-per-band
    gap) — candidates come from an equi-join on (band, value), never an
    all-pairs scan, then an exact bit_count(xor) verify. Band value
    space is 2^15 per band, so bucket sizes stay tiny and the join is
    sub-quadratic at any corpus size (same scale argument as the
    MinHash/SimHash band joins).

    ``ordered=False`` skips the closing output-determinism sort (guide
    §2.4 — "an orderBy used only to make output deterministic"): the
    registered pair QUERIES keep it (their row order is the contract),
    but a consumer that only needs the pair SET — the connected-
    components clusters — would otherwise pay a full range exchange +
    global sort inside its edge checkpoint for an order the label
    algebra never reads."""
    bands = ph.select(
        "doc_id",
        "phash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(j).alias("band"),
                        F.shiftrightunsigned(F.col("phash"), j * PHASH_BAND_BITS)
                        .bitwiseAND(F.lit((1 << PHASH_BAND_BITS) - 1))
                        .alias("val"),
                    )
                    for j in range(PHASH_BANDS)
                ]
            )
        ).alias("b"),
    ).select("doc_id", "phash", F.col("b.band").alias("band"), F.col("b.val").alias("val"))
    a, b = bands.alias("a"), bands.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.val") == F.col("b.val"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("a_id"),
            F.col("b.doc_id").alias("b_id"),
            F.bit_count(
                F.col("a.phash").bitwiseXOR(F.col("b.phash"))
            ).cast("int").alias("hamming"),
        )
        .distinct()
        .filter(F.col("hamming") <= ham_t)
    )
    return pairs.orderBy("a_id", "b_id") if ordered else pairs


def q_multimodal_phash_pairs(
    spark: SparkSession, sf_dir: str, ordered: bool = True
) -> DataFrame:
    """Registry binding: perceptual-hash near-dup pairs over payloads
    (``ordered=False`` drops the closing sort, for set consumers)."""
    return phash_near_dup_pairs(
        compute_phash(binary_table(spark, sf_dir)), ordered=ordered
    )


SQL_MULTIMODAL_PHASH = f"""
    WITH t AS (
        SELECT doc_id, text, OCTET_LENGTH(ENCODE(text)) AS n,
               LIST_TRANSFORM(RANGE(1, OCTET_LENGTH(ENCODE(text)) + 1),
                              i -> ORD(SUBSTRING(text, i, 1))) AS bytes
        FROM documents),
    h AS (
        SELECT doc_id,
               COALESCE(LIST_SUM(LIST_TRANSFORM(RANGE(0, {PHASH_SEGMENTS}), k ->
                   CASE WHEN (k + 1) * n // {PHASH_SEGMENTS} > k * n // {PHASH_SEGMENTS}
                             AND LIST_SUM(bytes[k * n // {PHASH_SEGMENTS} + 1
                                                : (k + 1) * n // {PHASH_SEGMENTS}]) * n
                                 > LIST_SUM(bytes)
                                   * ((k + 1) * n // {PHASH_SEGMENTS}
                                      - k * n // {PHASH_SEGMENTS})
                        THEN (1::BIGINT << k) ELSE 0 END)), 0) AS phash
        FROM t),
    bands AS (
        SELECT doc_id, phash, j AS band,
               (phash >> (j * {PHASH_BAND_BITS})) & {(1 << PHASH_BAND_BITS) - 1} AS val
        FROM h, UNNEST(RANGE(0, {PHASH_BANDS})) r(j))
    SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id,
           CAST(bit_count(xor(a.phash, b.phash)) AS INTEGER) AS hamming
    FROM bands a JOIN bands b
      ON a.band = b.band AND a.val = b.val AND a.doc_id < b.doc_id
    WHERE bit_count(xor(a.phash, b.phash)) <= {PHASH_HAM_T}
    ORDER BY a_id, b_id
"""


def q_multimodal_phash_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup media CLUSTERS: connected components over the perceptual-
    hash pair graph. Hamming-ball pair graphs CHAIN (a→b→c each within
    the threshold), so the component diameter is unbounded — this uses
    the log-rounds large-star/small-star loop: round count stays
    O(log n) however deep the chains get. Downstream: keep one representative per cluster, exactly like
    ``llm_dedup_keep_best`` does for text."""
    from .dedup import connected_components_ls

    # unordered pair SET (r15): the registered pair query's closing
    # orderBy is output determinism only — checkpointing it here paid a
    # range exchange + global sort of every pair per invocation that the
    # component labels never depend on (guide §2.4)
    pairs = q_multimodal_phash_pairs(spark, sf_dir, ordered=False).select(
        "a_id", "b_id"
    )
    # the pair relation is canonical by construction (a_id < b_id in the
    # band join, one DISTINCT row per pair) — skip the normalize pass
    return connected_components_ls(pairs, src="a_id", dst="b_id", canonical=True)


SQL_MULTIMODAL_PHASH_CLUSTERS = f"""
    WITH RECURSIVE pairs AS ({SQL_MULTIMODAL_PHASH}),
    edges AS (
        SELECT a_id AS a, b_id AS b FROM pairs
        UNION
        SELECT b_id, a_id FROM pairs
    ),
    reach(a, b) AS (
        SELECT a, a FROM (SELECT DISTINCT a FROM edges)
        UNION
        SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
    )
    SELECT a AS doc_id, MIN(b) AS cluster_id FROM reach GROUP BY a
"""


# ---------------------------------------------------------------------------
# real image decode: pure-numpy PPM (P6) codec
# ---------------------------------------------------------------------------

PPM_W, PPM_H = 16, 12  # synthetic image dimensions
PPM_SCHEMA = (
    "doc_id long, width int, height int, n_bytes int,"
    " mean_r double, mean_g double, mean_b double"
)


def encode_ppm(doc_id: int) -> bytes:
    """Deterministic synthetic image as a REAL binary PPM (P6) file.

    Pixel (y, x) channel c is ``(13·doc_id + 3x + 7y + 11c) mod 256`` — a
    closed form the DuckDB oracle can evaluate without any image code, so
    the decoder below is verified end-to-end: generator formula → real
    PPM bytes → header/raster parse → channel stats must equal the
    formula-derived stats computed independently in SQL.
    """
    import numpy as np

    yy, xx, cc = np.meshgrid(
        np.arange(PPM_H), np.arange(PPM_W), np.arange(3), indexing="ij"
    )
    raster = ((13 * doc_id + 3 * xx + 7 * yy + 11 * cc) % 256).astype(np.uint8)
    header = f"P6\n{PPM_W} {PPM_H}\n255\n".encode("ascii")
    return header + raster.tobytes()


def decode_ppm(payload: bytes):
    """Pure-numpy decoder for binary PPM (P6) — a REAL image decode with
    no external imaging library (the container has none; see module
    docstring). Handles the full header grammar: '#' comments and any
    whitespace between tokens, exactly one whitespace byte before the
    raster. Returns ``(width, height, ndarray[h, w, 3] uint8)``; raises
    ValueError on malformed/truncated input (never returns garbage —
    corrupt objects must be countable upstream, SURVEY A6).
    """
    import numpy as np

    if not payload.startswith(b"P6"):
        raise ValueError("not a P6 PPM payload")
    pos, tokens = 2, []
    while len(tokens) < 3:
        if pos >= len(payload):
            raise ValueError("truncated PPM header")
        b = payload[pos]
        if b in b" \t\r\n":
            pos += 1
        elif b == ord("#"):  # comment runs to end of line
            while pos < len(payload) and payload[pos] not in b"\r\n":
                pos += 1
        elif ord("0") <= b <= ord("9"):
            start = pos
            while pos < len(payload) and ord("0") <= payload[pos] <= ord("9"):
                pos += 1
            tokens.append(int(payload[start:pos]))
        else:
            raise ValueError(f"unexpected header byte {b!r}")
    width, height, maxval = tokens
    if maxval != 255:
        raise ValueError("only 8-bit PPM supported")
    pos += 1  # exactly one whitespace byte separates header from raster
    expected = width * height * 3
    raster = np.frombuffer(payload, dtype=np.uint8, offset=pos)
    if raster.size != expected:
        raise ValueError(f"raster size {raster.size} != {expected}")
    return width, height, raster.reshape(height, width, 3)


def q_multimodal_ppm_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image decode as a distributed pipeline with a REAL codec: generate
    a valid PPM per document (Arrow-batched), decode it back with an
    independent parser (Arrow-batched), emit per-channel statistics.

    Upgrades the stubbed PIL path: the plumbing (binary column, schema,
    mapInPandas batch shape, spread partitioning) is shared with the
    stub-backed operators, but here the decode kernel is real — the same
    two-stage shape a JPEG/PNG deployment has, minus only the external
    library. Channel means are exact-integer sums divided once in IEEE
    double, so the hash matches the oracle's closed-form evaluation
    bit-for-bit. Plan: one compute-spread exchange, then narrow
    Python-batched stages — linear at any scale.
    """
    import numpy as np

    docs = spread(load(spark, sf_dir, "documents").select("doc_id"), "doc_id")

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"].values,
                    "payload": [encode_ppm(int(d)) for d in pdf["doc_id"]],
                }
            )

    def stats(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for d, payload in zip(pdf["doc_id"], pdf["payload"]):
                w, h, arr = decode_ppm(bytes(payload))
                sums = arr.reshape(-1, 3).sum(axis=0, dtype=np.int64)
                npx = float(w * h)
                rows.append(
                    (
                        int(d), w, h, len(payload),
                        float(sums[0]) / npx,
                        float(sums[1]) / npx,
                        float(sums[2]) / npx,
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "doc_id", "width", "height", "n_bytes",
                    "mean_r", "mean_g", "mean_b",
                ],
            )

    payloads = docs.mapInPandas(gen, schema="doc_id long, payload binary")
    return payloads.mapInPandas(stats, schema=PPM_SCHEMA)


# header is 'P6\n16 12\n255\n' (13 bytes) + 3 bytes/pixel raster
SQL_MULTIMODAL_PPM = f"""
    WITH grid AS (
        SELECT d.doc_id, x.range AS x, y.range AS y
        FROM (SELECT doc_id FROM documents) d, range({PPM_W}) x, range({PPM_H}) y)
    SELECT doc_id,
           CAST({PPM_W} AS INTEGER) AS width,
           CAST({PPM_H} AS INTEGER) AS height,
           CAST(13 + {PPM_W} * {PPM_H} * 3 AS INTEGER) AS n_bytes,
           CAST(SUM((13 * doc_id + 3 * x + 7 * y) % 256) AS DOUBLE)
               / ({PPM_W} * {PPM_H}) AS mean_r,
           CAST(SUM((13 * doc_id + 3 * x + 7 * y + 11) % 256) AS DOUBLE)
               / ({PPM_W} * {PPM_H}) AS mean_g,
           CAST(SUM((13 * doc_id + 3 * x + 7 * y + 22) % 256) AS DOUBLE)
               / ({PPM_W} * {PPM_H}) AS mean_b
    FROM grid
    GROUP BY doc_id
"""


# ---------------------------------------------------------------------------
# real audio decode: pure-numpy WAV (RIFF PCM16) codec
# ---------------------------------------------------------------------------

WAV_N_SAMPLES = 256
WAV_RATE = 8000
WAV_SCHEMA = (
    "doc_id long, sample_rate int, n_samples int, n_bytes int,"
    " mean_abs double, zero_crossings int"
)


def encode_wav(doc_id: int) -> bytes:
    """Deterministic synthetic audio as a REAL RIFF/WAVE file (PCM16
    mono): sample i is the integer sawtooth ``((7·doc_id + 3i) mod 256)
    − 128`` — a closed form the oracle evaluates in SQL, so the RIFF
    parser below is verified end-to-end exactly like the PPM codec."""
    import struct

    import numpy as np

    i = np.arange(WAV_N_SAMPLES)
    samples = (((7 * doc_id + 3 * i) % 256) - 128).astype("<i2")
    data = samples.tobytes()
    hdr = b"RIFF" + struct.pack("<I", 36 + len(data)) + b"WAVE"
    fmt = b"fmt " + struct.pack(
        "<IHHIIHH", 16, 1, 1, WAV_RATE, WAV_RATE * 2, 2, 16
    )
    return hdr + fmt + b"data" + struct.pack("<I", len(data)) + data


def decode_wav(payload: bytes):
    """Pure-numpy RIFF/WAVE PCM16 parser — a REAL audio decode with no
    external audio library. Walks the chunk list (skipping unknown
    chunks per the RIFF spec, so files with LIST/fact chunks parse too),
    validates the fmt contract, returns ``(sample_rate, int16 ndarray)``.
    Raises ValueError on malformed input."""
    import struct

    import numpy as np

    if payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE payload")
    pos, rate, bits, channels, data = 12, None, None, None, None
    while pos + 8 <= len(payload):
        cid = payload[pos : pos + 4]
        (size,) = struct.unpack("<I", payload[pos + 4 : pos + 8])
        body = payload[pos + 8 : pos + 8 + size]
        if len(body) != size:
            raise ValueError("truncated RIFF chunk")
        if cid == b"fmt ":
            fmt_tag, channels, rate = struct.unpack("<HHI", body[:8])
            (bits,) = struct.unpack("<H", body[14:16])
            if fmt_tag != 1:
                raise ValueError("only PCM supported")
        elif cid == b"data":
            data = body
        pos += 8 + size + (size % 2)  # chunks are word-aligned
    if rate is None or data is None:
        raise ValueError("missing fmt/data chunk")
    if bits != 16 or channels != 1:
        raise ValueError("only 16-bit mono supported")
    return rate, np.frombuffer(data, dtype="<i2")


def q_multimodal_wav_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio decode as a distributed pipeline with a REAL codec —
    the audio twin of ``multimodal_ppm_decode``: generate a valid WAV
    per document, re-parse it with an independent RIFF chunk walker,
    emit waveform statistics (mean |amplitude|, zero crossings). All
    stats are exact-integer sums closed with one double division, so
    they hash-match the oracle's closed-form evaluation of the sample
    formula. Same scale shape: one compute-spread exchange, two
    Arrow-batched Python stages, linear everywhere.
    """
    import numpy as np

    docs = spread(load(spark, sf_dir, "documents").select("doc_id"), "doc_id")

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"].values,
                    "payload": [encode_wav(int(d)) for d in pdf["doc_id"]],
                }
            )

    def stats(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for d, payload in zip(pdf["doc_id"], pdf["payload"]):
                rate, samples = decode_wav(bytes(payload))
                s = samples.astype(np.int64)
                zc = int(((s[:-1] < 0) != (s[1:] < 0)).sum())
                rows.append(
                    (
                        int(d), rate, len(s), len(payload),
                        float(np.abs(s).sum()) / len(s), zc,
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "doc_id", "sample_rate", "n_samples", "n_bytes",
                    "mean_abs", "zero_crossings",
                ],
            )

    payloads = docs.mapInPandas(gen, schema="doc_id long, payload binary")
    return payloads.mapInPandas(stats, schema=WAV_SCHEMA)


# file size = 44-byte canonical header + 2 bytes/sample
SQL_MULTIMODAL_WAV = f"""
    WITH samples AS (
        SELECT d.doc_id, i.range AS i,
               ((7 * d.doc_id + 3 * i.range) % 256) - 128 AS v
        FROM (SELECT doc_id FROM documents) d, range({WAV_N_SAMPLES}) i),
    flagged AS (
        SELECT doc_id, i, v,
               LEAD(v) OVER (PARTITION BY doc_id ORDER BY i) AS nxt
        FROM samples)
    SELECT doc_id,
           CAST({WAV_RATE} AS INTEGER) AS sample_rate,
           CAST({WAV_N_SAMPLES} AS INTEGER) AS n_samples,
           CAST(44 + {WAV_N_SAMPLES} * 2 AS INTEGER) AS n_bytes,
           CAST(SUM(ABS(v)) AS DOUBLE) / {WAV_N_SAMPLES} AS mean_abs,
           CAST(SUM(CASE WHEN nxt IS NOT NULL
                          AND (v < 0) <> (nxt < 0) THEN 1 ELSE 0 END)
                AS INTEGER) AS zero_crossings
    FROM flagged
    GROUP BY doc_id
"""


# ---------------------------------------------------------------------------
# audio near-dup fingerprinting (VERDICT r13 item 7)
# ---------------------------------------------------------------------------

AUDIO_FP_WINDOWS = 20  # time windows over the decoded waveform
AUDIO_FP_SCALES = 3  # envelope + two Haar detail scales = 60 bits total
AUDIO_FP_HAM_T = 2  # strict operating point: the synthetic sawtooth
# family is globally self-similar (every doc is the same waveform up to
# phase/slope), so the report keeps only identical-audio and
# nearest-phase pairs — measured at sf0.01: ham<=2 -> 2,315 pairs vs
# 10,807 at the image path's 14 (which would label 8.7% of ALL pairs)


def audio_fingerprint60(samples) -> int:
    """60-bit banded spectral fingerprint of a decoded waveform —
    per-window band-energy signs (the Haitsma-Kalker family, with Haar
    detail bands standing in for DFT bins so every energy is an exact
    INTEGER — no libm FFT divergence anywhere). Three bands per window:
    envelope Σ|v|, scale-1 Haar detail Σ|v₂ⱼ−v₂ⱼ₊₁| (high-frequency
    content), scale-2 Haar detail Σ|(v₄ⱼ+v₄ⱼ₊₁)−(v₄ⱼ₊₂+v₄ⱼ₊₃)|
    (mid-frequency). Bit (b·20 + w) is set iff window w's band-b
    energy exceeds the across-window mean in exact cross-multiplied
    integer arithmetic (e·W > total — the phash64 rule). Bit 59 max,
    so the hash stays positive in signed 64-bit on every engine."""
    import numpy as np

    s = np.asarray(samples, dtype=np.int64)
    n = len(s)
    if n == 0:
        return 0
    w_cnt = AUDIO_FP_WINDOWS
    bounds = [w * n // w_cnt for w in range(w_cnt + 1)]
    e = [[0] * w_cnt for _ in range(AUDIO_FP_SCALES)]
    for w in range(w_cnt):
        seg = s[bounds[w] : bounds[w + 1]]
        if len(seg) == 0:
            continue
        e[0][w] = int(np.abs(seg).sum())
        d1 = seg[: (len(seg) // 2) * 2].reshape(-1, 2)
        e[1][w] = int(np.abs(d1[:, 0] - d1[:, 1]).sum()) if len(d1) else 0
        d2 = seg[: (len(seg) // 4) * 4].reshape(-1, 4)
        e[2][w] = (
            int(np.abs(d2[:, 0] + d2[:, 1] - d2[:, 2] - d2[:, 3]).sum())
            if len(d2)
            else 0
        )
    bits = 0
    for b in range(AUDIO_FP_SCALES):
        tot = sum(e[b])
        for w in range(w_cnt):
            if e[b][w] * w_cnt > tot:
                bits |= 1 << (b * w_cnt + w)
    return bits


def compute_audio_fp(docs: DataFrame) -> DataFrame:
    """(doc_id, phash): generate each doc's synthetic WAV, decode it
    with the real RIFF walker, fingerprint the decoded samples — two
    concerns (codec, fingerprint) in ONE Arrow-batched stage because
    the intermediate payload is never needed downstream."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            fps = []
            for d in pdf["doc_id"]:
                _, samples = decode_wav(encode_wav(int(d)))
                fps.append(audio_fingerprint60(samples))
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"].values,
                    "phash": pd.Series(fps, dtype="int64"),
                }
            )

    return docs.mapInPandas(run, schema=PHASH_SCHEMA)


def q_multimodal_audio_fingerprint(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Audio near-dup pairs — the audio twin of
    ``multimodal_phash_pairs``: synthesize each document's WAV
    (``encode_wav``'s sawtooth — docs 256 apart carry IDENTICAL audio
    and small ``7·Δdoc mod 256`` phase shifts are near-identical, so
    real near-dup structure exists in the fixture), decode with the
    real RIFF chunk walker, fingerprint the WAVEFORM (not the bytes —
    a re-containered copy of the same audio hashes identically, which
    byte-phash cannot claim), then the SAME banded-LSH pair machinery
    the image path uses (:func:`phash_near_dup_pairs` — 4×15-bit
    bands, exact ``bit_count(xor)`` verify at the stricter
    AUDIO_FP_HAM_T). The oracle never touches the codec: it evaluates
    the sample closed form and re-derives windows/energies/bits in
    exact integer SQL, so a parser bug and a fingerprint bug are both
    caught. Scale shape: one Arrow-batched narrow stage + the
    sub-quadratic band join — same 100 TB story as the image pairs."""
    docs = spread(load(spark, sf_dir, "documents").select("doc_id"), "doc_id")
    return phash_near_dup_pairs(compute_audio_fp(docs), ham_t=AUDIO_FP_HAM_T)


def _audio_fp_sql() -> str:
    """DuckDB twin: closed-form samples → literal window-bounds join →
    the three integer band energies (pair/quad details via offset
    parity within the window) → e·W > total bits → the band join."""
    n, w_cnt = WAV_N_SAMPLES, AUDIO_FP_WINDOWS
    bounds = ", ".join(
        f"({w}, {w * n // w_cnt}, {(w + 1) * n // w_cnt})"
        for w in range(w_cnt)
    )
    return f"""
    WITH samples AS (
        SELECT d.doc_id, i.range AS i,
               ((7 * d.doc_id + 3 * i.range) % 256) - 128 AS v
        FROM (SELECT doc_id FROM documents) d, range({WAV_N_SAMPLES}) i),
    win(w, lo, hi) AS (VALUES {bounds}),
    placed AS (
        SELECT s.doc_id, win.w, s.i - win.lo AS o, s.v
        FROM samples s JOIN win ON s.i >= win.lo AND s.i < win.hi),
    pairs2 AS (
        SELECT a.doc_id, a.w, ABS(a.v - b.v) AS d1
        FROM placed a JOIN placed b
          ON a.doc_id = b.doc_id AND a.w = b.w AND b.o = a.o + 1
        WHERE a.o % 2 = 0),
    quads AS (
        SELECT a.doc_id, a.w, ABS(a.v + b.v - c.v - d.v) AS d2
        FROM placed a
        JOIN placed b ON a.doc_id = b.doc_id AND a.w = b.w AND b.o = a.o + 1
        JOIN placed c ON a.doc_id = c.doc_id AND a.w = c.w AND c.o = a.o + 2
        JOIN placed d ON a.doc_id = d.doc_id AND a.w = d.w AND d.o = a.o + 3
        WHERE a.o % 4 = 0),
    e0s AS (
        SELECT doc_id, w, SUM(ABS(v)) AS e0
        FROM placed GROUP BY doc_id, w),
    energies AS (
        SELECT e0s.doc_id, e0s.w, e0s.e0,
               COALESCE(p2.s1, 0) AS e1,
               COALESCE(q.s2, 0) AS e2
        FROM e0s
        LEFT JOIN (SELECT doc_id, w, SUM(d1) AS s1
                   FROM pairs2 GROUP BY doc_id, w) p2
          ON e0s.doc_id = p2.doc_id AND e0s.w = p2.w
        LEFT JOIN (SELECT doc_id, w, SUM(d2) AS s2
                   FROM quads GROUP BY doc_id, w) q
          ON e0s.doc_id = q.doc_id AND e0s.w = q.w),
    tot AS (
        SELECT doc_id, SUM(e0) AS t0, SUM(e1) AS t1, SUM(e2) AS t2
        FROM energies GROUP BY doc_id),
    h AS (
        SELECT e.doc_id,
               SUM(CASE WHEN e.e0 * {w_cnt} > t.t0
                        THEN (1::BIGINT << e.w) ELSE 0 END
                   + CASE WHEN e.e1 * {w_cnt} > t.t1
                          THEN (1::BIGINT << ({w_cnt} + e.w)) ELSE 0 END
                   + CASE WHEN e.e2 * {w_cnt} > t.t2
                          THEN (1::BIGINT << ({2 * w_cnt} + e.w)) ELSE 0 END
                  ) AS phash
        FROM energies e JOIN tot t USING (doc_id)
        GROUP BY e.doc_id),
    bands AS (
        SELECT doc_id, phash, j AS band,
               (phash >> (j * {PHASH_BAND_BITS})) & {(1 << PHASH_BAND_BITS) - 1} AS val
        FROM h, UNNEST(RANGE(0, {PHASH_BANDS})) r(j))
    SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id,
           CAST(bit_count(xor(a.phash, b.phash)) AS INTEGER) AS hamming
    FROM bands a JOIN bands b
      ON a.band = b.band AND a.val = b.val AND a.doc_id < b.doc_id
    WHERE bit_count(xor(a.phash, b.phash)) <= {AUDIO_FP_HAM_T}
    ORDER BY a_id, b_id
"""


CORRUPT_EVERY = 97  # deterministic corruption: doc_id % 97 == 0 truncated


def q_multimodal_decode_errors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corrupt-object accounting on the decode path — the multimodal twin
    of the reference's malformed-record skip + corruption counter
    (SURVEY A6): a real corpus always contains broken files, and a decode
    stage must quarantine-and-count them, never crash the job or emit
    garbage.

    A deterministic slice of payloads (doc_id ≡ 0 mod 97) is truncated
    mid-header; the decode kernel catches the parser's ValueError per
    row and emits a status instead of propagating (batch survives, bad
    rows are countable). Output is the (status, n) audit the pipeline
    operator alerts on. The oracle derives the same counts from the
    corruption rule closed-form — which also pins that the parser
    REJECTS every corrupted payload (a lenient parser would under-count
    errors and hash-mismatch).
    """
    docs = spread(load(spark, sf_dir, "documents").select("doc_id"), "doc_id")

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = []
            for d in pdf["doc_id"]:
                p = encode_ppm(int(d))
                payloads.append(p[:5] if int(d) % CORRUPT_EVERY == 0 else p)
            yield pd.DataFrame({"doc_id": pdf["doc_id"].values, "payload": payloads})

    def audit(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            statuses = []
            for payload in pdf["payload"]:
                try:
                    decode_ppm(bytes(payload))
                    statuses.append("ok")
                except ValueError:
                    statuses.append("decode_error")
            yield pd.DataFrame(
                {"doc_id": pdf["doc_id"].values, "status": statuses}
            )

    payloads = docs.mapInPandas(gen, schema="doc_id long, payload binary")
    audited = payloads.mapInPandas(audit, schema="doc_id long, status string")
    return audited.groupBy("status").agg(F.count("*").alias("n"))


SQL_MULTIMODAL_DECODE_ERRORS = f"""
    SELECT CASE WHEN doc_id % {CORRUPT_EVERY} = 0
                THEN 'decode_error' ELSE 'ok' END AS status,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM documents
    GROUP BY 1
"""


QUERIES = {
    "multimodal_phash_pairs": Query(q_multimodal_phash_pairs, SQL_MULTIMODAL_PHASH),
    "multimodal_phash_clusters": Query(
        q_multimodal_phash_clusters, SQL_MULTIMODAL_PHASH_CLUSTERS
    ),
    "multimodal_binary_meta": Query(q_multimodal_binary_meta, SQL_MULTIMODAL_META),
    "multimodal_features": Query(q_multimodal_features, SQL_MULTIMODAL_FEATURES, headline=True),
    "multimodal_resize": Query(q_multimodal_resize, SQL_MULTIMODAL_RESIZE),
    "multimodal_frame_sample": Query(q_multimodal_frame_sample, SQL_MULTIMODAL_FRAMES),
    "multimodal_ppm_decode": Query(q_multimodal_ppm_decode, SQL_MULTIMODAL_PPM),
    "multimodal_wav_decode": Query(q_multimodal_wav_decode, SQL_MULTIMODAL_WAV),
    "multimodal_decode_errors": Query(
        q_multimodal_decode_errors, SQL_MULTIMODAL_DECODE_ERRORS
    ),
    "multimodal_audio_fingerprint": Query(
        q_multimodal_audio_fingerprint, _audio_fp_sql()
    ),
}
