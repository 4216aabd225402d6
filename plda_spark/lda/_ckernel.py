"""Optional C implementation of the Gibbs sweep, compiled on first use.

The pure-Python inner loop in :mod:`plda_spark.lda.kernel` costs ~9 µs
per token; the reference's C++ loop (``sampler.cc:60-113``) costs well
under 0.1 µs.  To match the reference's single-node throughput this
module compiles the *identical* algorithm with the system C compiler
and loads it via ctypes.

Determinism contract: the C kernel consumes the same pre-drawn uniform
array, evaluates the same double-precision expressions in the same
order, and does the same first-k-with-cumsum≥u·total scan as the numpy
path — so for the same uniforms the two paths produce **bit-identical**
assignments (asserted in tests).  ``kernel._sweep`` is its one caller:
it hands over int32 word ids, int64 offsets and float64 uniforms, all
C-contiguous, and sends a ``z``, ``nwk`` or ``nk`` of another type or
layout to the numpy loop.

If no compiler is available the caller silently falls back to the numpy
loop.
"""

from __future__ import annotations

import ctypes
import hashlib
import os
import subprocess
import tempfile

import numpy as np

__all__ = ["get_sweep_fn"]

_C_TEMPLATE = r"""
/* One collapsed-Gibbs sweep over a block of documents (CSR layout).
   Mirrors plda's SampleNewTopicsForDocument / GenerateTopicDistribution
   ForWord / GetAccumulativeSample (sampler.cc:60-113, common.cc:31-50):
   decrement-sample-increment is algebraically identical to the -1
   self-exclusion adjustment. */
void sweep_docs_SUFFIX(const int32_t *word_occ,
                int32_t *z,
                const int64_t *doc_offsets,
                int64_t n_docs,
                CTYPE *nwk,             /* V x K row-major */
                CTYPE *nk,              /* K */
                int64_t V,
                int64_t K,
                double alpha,
                double beta,
                const double *uniforms, /* one per occurrence */
                int update_model,
                double *p,              /* scratch, K */
                double *ndk)            /* scratch, K */
{
    const double vbeta = (double)V * beta;
    for (int64_t d = 0; d < n_docs; d++) {
        const int64_t s = doc_offsets[d];
        const int64_t e = doc_offsets[d + 1];
        for (int64_t k = 0; k < K; k++) ndk[k] = 0.0;
        for (int64_t i = s; i < e; i++) ndk[z[i]] += 1.0;
        for (int64_t i = s; i < e; i++) {
            const int64_t w = (int64_t)word_occ[i];
            const int32_t old = z[i];
            CTYPE *row = nwk + w * K;
            if (update_model) {
                row[old] -= 1; nk[old] -= 1; ndk[old] -= 1.0;
            }
            double total = 0.0;
            for (int64_t k = 0; k < K; k++) {
                const double v = ((double)row[k] + beta)
                               * (ndk[k] + alpha)
                               / ((double)nk[k] + vbeta);
                p[k] = v;
                total += v;
            }
            const double target = uniforms[i] * total;
            double cum = 0.0;
            int64_t newk = K - 1;
            for (int64_t k = 0; k < K; k++) {
                cum += p[k];
                if (cum >= target) { newk = k; break; }
            }
            if (update_model) {
                row[newk] += 1; nk[newk] += 1; ndk[newk] += 1.0;
            } else {
                ndk[old] -= 1.0; ndk[newk] += 1.0;
            }
            z[i] = (int32_t)newk;
        }
    }
}
"""

_C_SOURCE = (
    "#include <stdint.h>\n"
    + _C_TEMPLATE.replace("SUFFIX", "i64").replace("CTYPE", "int64_t")
    + _C_TEMPLATE.replace("SUFFIX", "f64").replace("CTYPE", "double")
)

_lib = None
_tried = False


def _build() -> ctypes.CDLL | None:
    digest = hashlib.sha256(_C_SOURCE.encode()).hexdigest()[:16]
    cache = os.path.join(tempfile.gettempdir(), f"plda_sweep_{digest}.so")
    if not os.path.exists(cache):
        with tempfile.TemporaryDirectory() as td:
            src = os.path.join(td, "sweep.c")
            out = os.path.join(td, "sweep.so")
            with open(src, "w") as f:
                f.write(_C_SOURCE)
            try:
                subprocess.run(
                    ["cc", "-O3", "-march=native", "-shared", "-fPIC", "-o", out, src],
                    check=True,
                    capture_output=True,
                )
            except subprocess.CalledProcessError:
                subprocess.run(
                    ["cc", "-O2", "-shared", "-fPIC", "-o", out, src],
                    check=True,
                    capture_output=True,
                )
            os.replace(out, cache)  # atomic; safe under concurrent workers
    lib = ctypes.CDLL(cache)
    i64 = ctypes.c_int64
    argtypes = [
        ctypes.c_void_p, ctypes.c_void_p, ctypes.c_void_p, i64,
        ctypes.c_void_p, ctypes.c_void_p, i64, i64,
        ctypes.c_double, ctypes.c_double, ctypes.c_void_p,
        ctypes.c_int, ctypes.c_void_p, ctypes.c_void_p,
    ]
    for fn in (lib.sweep_docs_i64, lib.sweep_docs_f64):
        fn.argtypes = argtypes
        fn.restype = None
    return lib


def get_sweep_fn():
    """Return the C sweep callable, or None when unavailable."""
    global _lib, _tried
    if _tried:
        return _sweep if _lib is not None else None
    _tried = True
    try:
        _lib = _build()
    except Exception:
        _lib = None
        return None
    return _sweep


def _sweep(
    word_occ: np.ndarray,
    z: np.ndarray,
    doc_offsets: np.ndarray,
    nwk: np.ndarray,
    nk: np.ndarray,
    alpha: float,
    beta: float,
    uniforms: np.ndarray,
    update_model: bool,
    vocab_size: int | None = None,
) -> None:
    K = nk.shape[0]
    if vocab_size is None:
        vocab_size = nwk.shape[0]
    p = np.empty(K, dtype=np.float64)
    ndk = np.empty(K, dtype=np.float64)
    # kernel._sweep sends only an int64 or a float64 model here.
    fn = _lib.sweep_docs_i64 if nwk.dtype == np.int64 else _lib.sweep_docs_f64
    fn(
        word_occ.ctypes.data, z.ctypes.data, doc_offsets.ctypes.data,
        doc_offsets.shape[0] - 1,
        nwk.ctypes.data, nk.ctypes.data, int(vocab_size), K,
        float(alpha), float(beta), uniforms.ctypes.data,
        1 if update_model else 0, p.ctypes.data, ndk.ctypes.data,
    )
