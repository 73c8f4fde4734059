"""Arrow-batch kernel for the composed IVF-PQ index build (guide §4.2).

The IVF cell assignment and PQ encode are per-row argmins against a
BOUNDED trained model (≤ IVF_CELLS centroids / ≤ PQ_M·PQ_K codebook
rows). The relational spelling (crossJoin-broadcast → score expression →
min-struct groupBy) pays two corpus-sized exchanges per index build plus
an N·M·K-row join blow-up, all to compute something that never leaves
the row. This kernel collects the models once per invocation (a bounded
driver transfer, the exact analogue of FAISS loading its quantizer) and
computes cell + codes in one ``mapInArrow`` pass — zero exchanges, no
intermediate blow-up. At 100 TB this is the guide §4.2 shape: Spark
distributes the scan, numpy does the per-batch math.

Adoption boundary (r15 A/B, OPTIMIZATION_r15.md): the kernel is used
ONLY where it collapses BOTH passes — ivfpq_index and
ivfpq_residual_index (+24-28%). Single-pass twins for ivf_assign and
pq_encode measured flat-to-slower (the fixed Python-boundary roundtrip
outweighs one pass's exchange savings) and were rejected; those stay
relational in operators/similarity*.py.

Bit-exactness contract (the oracle hashes these results, so the kernel
must reproduce the JVM expression EXACTLY, not just approximately):

- ``dot(a, b)`` in functions/vectors.py is elementwise products (each
  rounded once) then a SEQUENTIAL fold in index order seeded with +0.0.
  :func:`_seq_dot` replays that: ``acc = zeros; acc = acc + a[:,j]*c[j]``
  per dim — identical op sequence per IEEE-754 double, including the
  ``0.0 + (-0.0) == +0.0`` seed behaviour.
- score = ``dcc - 2*dot``: ``2*x`` is exact (exponent bump), one rounded
  subtraction — same two ops both sides. ``dcc`` is recomputed here with
  the same sequential fold the JVM used.
- argmin tie-break: Spark's ``min(struct(score, k))`` picks the lowest k
  among equal scores; the kernels scan models in ascending k/code order
  with a strict ``<`` update, which keeps the FIRST (lowest) index.
- Preconditions (enforced by the ingestion contract in tables.py):
  components finite and |x| < 1e9, so no score is ever NaN/Inf and the
  NaN-ordering corner (Spark sorts NaN above all, numpy's ``<`` is
  IEEE-false) is unreachable.

Model rows arrive via ``DataFrame.collect()`` of a localCheckpoint'd
≤128-row relation — bounded driver work, same budget class as the
broadcast the relational plan shipped.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame


def _seq_dot(rows: np.ndarray, c: np.ndarray) -> np.ndarray:
    """(n, d) × (d,) → (n,) dot products, sequential fold in index order
    seeded with +0.0 — bit-identical to functions.vectors.dot."""
    acc = np.zeros(rows.shape[0])
    for j in range(c.shape[0]):
        acc = acc + rows[:, j] * c[j]
    return acc


def _seq_dot_self(c: np.ndarray) -> float:
    """dot(c, c) with the same sequential fold (the JVM's ``dcc``)."""
    acc = 0.0
    for x in c:
        acc = acc + x * x
    return acc


def collect_centroids(cents: DataFrame) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """(ks, C, dcc) sorted by k ascending — cell ids may be sparse (an
    emptied cell drops out of Lloyd rounds), so ks maps argmin positions
    back to cell ids."""
    rows = sorted(cents.select("k", "c").collect(), key=lambda r: r[0])
    ks = np.array([r[0] for r in rows], dtype=np.int64)
    C = np.array([list(r[1]) for r in rows], dtype=np.float64)
    dcc = np.array([_seq_dot_self(C[i]) for i in range(len(rows))])
    return ks, C, dcc


def collect_codebooks(
    books: DataFrame,
) -> dict[int, tuple[np.ndarray, np.ndarray, np.ndarray]]:
    """{sub: (codes, C, dcc)} with codes ascending per sub (code ids may
    be sparse — an emptied code drops out)."""
    by_sub: dict[int, list] = {}
    for r in books.select("sub", "code", "c").collect():
        by_sub.setdefault(int(r[0]), []).append((int(r[1]), list(r[2])))
    out = {}
    for sub, rows in by_sub.items():
        rows.sort(key=lambda t: t[0])
        codes = np.array([t[0] for t in rows], dtype=np.int64)
        C = np.array([t[1] for t in rows], dtype=np.float64)
        dcc = np.array([_seq_dot_self(C[i]) for i in range(len(rows))])
        out[sub] = (codes, C, dcc)
    return out


def _argmin_scores(
    V: np.ndarray, C: np.ndarray, dcc: np.ndarray
) -> np.ndarray:
    """Positions of argmin_k (dcc[k] - 2·dot(V, C[k])), first-min on ties
    (= lowest k under ascending model order)."""
    best_s = dcc[0] - 2.0 * _seq_dot(V, C[0])
    best_i = np.zeros(V.shape[0], dtype=np.int64)
    for k in range(1, C.shape[0]):
        s = dcc[k] - 2.0 * _seq_dot(V, C[k])
        better = s < best_s
        best_s = np.where(better, s, best_s)
        best_i = np.where(better, k, best_i)
    return best_i


def _batch_matrix(batch: pa.RecordBatch, col: str) -> np.ndarray:
    """list<float/double> column → (n, d) float64 matrix. The generated
    embeddings are fixed-dimension; ragged input (impossible under the
    ingestion contract, but cheap to guard) raises rather than silently
    mis-slicing."""
    arr = batch.column(col)
    if isinstance(arr, pa.ChunkedArray):
        arr = arr.combine_chunks()
    offs = arr.offsets.to_numpy()
    widths = np.diff(offs)
    if len(widths) and not (widths == widths[0]).all():
        raise ValueError("ragged embedding batch")
    vals = arr.values.to_numpy(zero_copy_only=False).astype(np.float64, copy=False)
    if len(widths) == 0:
        return vals.reshape(0, 0)
    return vals[offs[0] : offs[-1] + widths[0]].reshape(len(widths), widths[0])


def _encode_rows(V: np.ndarray, model: dict) -> tuple[np.ndarray, np.ndarray]:
    """PQ-encode an (n, D) matrix: returns (subs, codes) flattened arrays
    of n·M entries each, row-major (all subs of row 0, then row 1, ...).
    Sub m reads columns [m·d, (m+1)·d) — the same contiguous slices
    _pq_subs takes."""
    n = V.shape[0]
    m_list = sorted(model)
    subs = np.empty(n * len(m_list), dtype=np.int32)
    codes = np.empty(n * len(m_list), dtype=np.int32)
    for i, m in enumerate(m_list):
        code_ids, C, dcc = model[m]
        d = C.shape[1]
        sv = V[:, m * d : (m + 1) * d]
        pos = _argmin_scores(sv, C, dcc)
        subs[i::len(m_list)] = m
        codes[i::len(m_list)] = code_ids[pos].astype(np.int32)
    return subs, codes


def ivfpq_index_arrow(
    e: DataFrame, cents: DataFrame, books: DataFrame, residual: bool
) -> DataFrame:
    """mapInArrow twin of ivfpq_index / ivfpq_residual_index:
    (vec_id, cell, sub, code). ``residual=True`` PQ-encodes v − c_cell
    (elementwise subtraction — exact IEEE, same as the zip_with)."""
    ks, C, dcc = collect_centroids(cents)
    model = collect_codebooks(books)
    n_sub = len(model)

    def kernel(batches):
        for batch in batches:
            # empty quantizer/codebook → relational plan yielded no rows
            if batch.num_rows == 0 or len(ks) == 0 or n_sub == 0:
                continue
            vid = batch.column("vec_id").to_numpy(zero_copy_only=False)
            V = _batch_matrix(batch, "v")
            pos = _argmin_scores(V, C, dcc)
            cell = ks[pos].astype(np.int32)
            subs, codes = _encode_rows(V - C[pos] if residual else V, model)
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(np.repeat(vid, n_sub), pa.int64()),
                    pa.array(np.repeat(cell, n_sub), pa.int32()),
                    pa.array(subs, pa.int32()),
                    pa.array(codes, pa.int32()),
                ],
                ["vec_id", "cell", "sub", "code"],
            )

    return e.select("vec_id", "v").mapInArrow(
        kernel, "vec_id long, cell int, sub int, code int"
    )
