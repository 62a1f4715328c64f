"""Arrow kernels for the per-document corpus pipeline (r12 optimization
round, guide §4.2: do the heavy per-row lifting in vectorized native
code inside one ``mapInArrow`` pass, not in interpreted JVM folds).

``operators.dedup.minhash_signatures`` (md5 path) evaluates, per
document, an interpreted higher-order ``aggregate(zip_with(...))`` fold
— CodegenFallback in Spark 4 — over ``num_hashes`` seeds × shingles,
plus one JVM md5 + two ``conv(substring)`` hex→dec conversions per
shingle.  ``minhash_signatures_arrow`` computes the IDENTICAL signature
in one Python pass: tokens/shingles are exact replays of the Java-regex
semantics (see parity notes below), the md5 halves are the same 15-hex-
digit integers, and the per-seed affine mix runs as one vectorized
int64 ``(a·x + b·y + s) mod P`` with ``np.minimum.reduceat`` per doc —
bit-identical output, enforced by tests/test_text_arrow.py's
brute-force equality over the full local corpus at every SF plus an
adversarial string battery.

Java-regex / Spark-expression parity contract (each point is what the
SQL form does, replayed exactly):

* ``F.trim`` strips ASCII SPACE (0x20) only → ``str.strip(" ")``.
* ``F.lower`` on this corpus (ASCII) ≡ ``str.lower()``.  The usual
  non-ASCII suspects (İ, ß/ẞ, word-final Σ) lowercase identically too;
  the adversarial parity test pins them.
* ``F.split(s, r"\\s+")`` uses Java ``\\s`` = ``[ \\t\\n\\x0B\\f\\r]``
  (ASCII-only) with limit −1 (keeps leading AND trailing empty
  tokens).  Python's ``re.split(r"\\s+", s, flags=re.ASCII)`` matches
  the same six characters and the same empty-token behavior.
* shingle fallback for < n tokens is the whole lower/trimmed text,
  exactly ``F.array(F.lower(F.trim(text)))``.
* NULL text → every per-shingle value is NULL, ``least`` skips NULLs,
  so the SQL fold returns the init array ``[P]*num_hashes`` — replayed.

100 TB posture: identical to the SQL form — a narrow per-document map
stage (fixed-size signature out, no shuffle); the Python boundary adds
one columnar crossing of exactly (id, text) per doc, and the heavy
work (md5 + mix) runs in C (hashlib/numpy) instead of interpreted
expression trees.  Distinct shingles are hashed once per batch via a
per-task memo (md5 is pure; this is a within-task function-value memo,
not a result cache).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .dedup import MINHASH_P, minhash_coeffs

#: per-task memo cap for the shingle→(x, y) table (pure-function values;
#: bounds worker memory on adversarially diverse corpora).
_MEMO_CAP = 1 << 20


def _make_minhash_kernel(num_hashes: int, shingle_n: int):
    """Build the mapInArrow function for (id, text) → (id, sig)."""

    def kernel(batches):
        import hashlib
        import re

        import numpy as np
        import pyarrow as pa

        coeffs = minhash_coeffs(num_hashes)
        A = np.array([a for a, _ in coeffs], dtype=np.int64)
        B = np.array([b for _, b in coeffs], dtype=np.int64)
        S = np.arange(num_hashes, dtype=np.int64)
        P = np.int64(MINHASH_P)
        ws = re.compile(r"\s+", re.ASCII)  # Java \s ≡ [ \t\n\x0B\f\r]
        memo: dict[str, tuple[int, int]] = {}

        def xy(g: str) -> tuple[int, int]:
            v = memo.get(g)
            if v is None:
                h = hashlib.md5(g.encode("utf-8")).hexdigest()
                v = (int(h[0:15], 16) % MINHASH_P, int(h[15:30], 16) % MINHASH_P)
                if len(memo) < _MEMO_CAP:
                    memo[g] = v
            return v

        for batch in batches:
            ids = batch.column(0)
            texts = batch.column(1).to_pylist()
            xs: list[int] = []
            ys: list[int] = []
            starts: list[int] = []
            null_rows: list[int] = []
            pos = 0
            for row, t in enumerate(texts):
                starts.append(pos)
                if t is None:
                    # SQL fold over all-NULL mixes returns the init
                    # array; mark the row, emit no shingles.
                    null_rows.append(row)
                    # reduceat needs a non-empty segment: pad with P-1
                    # values that we overwrite below — instead keep a
                    # placeholder count of 0 and fix after.
                    continue
                lt = t.strip(" ").lower()
                toks = ws.split(lt)
                if len(toks) >= shingle_n:
                    for i in range(len(toks) - shingle_n + 1):
                        x, y = xy(" ".join(toks[i : i + shingle_n]))
                        xs.append(x)
                        ys.append(y)
                        pos += 1
                else:
                    x, y = xy(lt)
                    xs.append(x)
                    ys.append(y)
                    pos += 1
            n_rows = len(texts)
            sig_flat = np.empty((n_rows, num_hashes), dtype=np.int64)
            if xs:
                X = np.array(xs, dtype=np.int64)
                Y = np.array(ys, dtype=np.int64)
                # (n_shingles, num_hashes): a,b < 2^28, x,y < 2^31 →
                # every term < 2^59, sum < 2^60 — int64-exact.
                M = (X[:, None] * A[None, :] + Y[:, None] * B[None, :] + S[None, :]) % P
                seg = np.array(starts, dtype=np.int64)
                nonempty = np.ones(n_rows, dtype=bool)
                for r in null_rows:
                    nonempty[r] = False
                if null_rows:
                    # reduceat cannot take empty segments: reduce only
                    # the non-empty rows' segments.
                    sig_flat[:] = MINHASH_P
                    sig_flat[nonempty] = np.minimum.reduceat(M, seg[nonempty], axis=0)
                else:
                    sig_flat = np.minimum.reduceat(M, seg, axis=0)
            else:
                sig_flat[:] = MINHASH_P
            offsets = pa.array(
                np.arange(n_rows + 1, dtype=np.int32) * num_hashes
            )
            sig_col = pa.ListArray.from_arrays(
                offsets, pa.array(sig_flat.reshape(-1), type=pa.int64())
            )
            yield pa.record_batch([ids, sig_col], names=["id", "sig"])

    return kernel


def minhash_signatures_arrow(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int = 16,
    shingle_n: int = 3,
) -> DataFrame:
    """Bit-identical drop-in for ``dedup.minhash_signatures`` (md5
    path) computed in one Arrow kernel pass.  Output: (id, sig
    array<bigint>).  Only (id, text) cross the Python boundary —
    callers keep column pruning by construction."""
    # the kernel passes the id column through under the declared
    # ``id bigint``: cast here so any integral id type plans correctly
    narrowed = df.select(
        F.col(id_col).cast("bigint").alias("id"), F.col(text_col).alias("__t")
    )
    return narrowed.mapInArrow(
        _make_minhash_kernel(num_hashes, shingle_n),
        "id bigint, sig array<bigint>",
    )
