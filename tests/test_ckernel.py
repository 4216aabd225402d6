"""C sweep kernel: bit-identity with the numpy reference path.

The C kernel consumes the same pre-drawn uniforms and evaluates the
same double-precision expressions in the same order as the numpy loop,
so for any (seed, data) the two paths must agree exactly — both for
training (int64 counts, in-place model updates) and inference (float64
frozen model).  Batch inference (``infer_docs``) is pinned bit-equal
to a per-doc loop on each doc's own ``(seed, doc_id)`` stream, on both
paths.
"""

import contextlib

import numpy as np
import pytest

from plda_spark.lda import _ckernel, kernel


def _mkdata(n, v, k, seed):
    rng = kernel.make_rng(seed, 0, 0)
    occ = rng.integers(0, v, n).astype(np.int32)
    z = kernel.init_assignments(n, k, rng)
    offs = np.unique(
        np.concatenate([[0], np.sort(rng.integers(1, n, 20)), [n]])
    ).astype(np.int64)
    nwk = kernel.count_nwk(occ, z, v, k)
    return occ, z, offs, nwk, nwk.sum(axis=0)


def _run(train, seed):
    occ, z, offs, nwk, nk = _mkdata(5000, 50, 7, seed)
    if not train:
        nwk = nwk.astype(np.float64)
        nk = nk.astype(np.float64)
    rng = kernel.make_rng(seed + 1, 3, 2)
    kernel.sweep_docs(occ, z, offs, nwk, nk, 0.1, 0.01, rng, update_model=train)
    return z, nwk, nk


def test_c_kernel_builds():
    _ckernel._tried = False
    assert _ckernel.get_sweep_fn() is not None


def test_numpy_kernel_hides_the_c_sweep(numpy_kernel):
    sweep = _ckernel.get_sweep_fn()
    with numpy_kernel():
        assert _ckernel.get_sweep_fn() is None
    assert _ckernel.get_sweep_fn() is sweep


@pytest.mark.parametrize("train", [True, False])
@pytest.mark.parametrize("seed", [1, 42])
def test_c_matches_numpy_bitwise(numpy_kernel, train, seed):
    with numpy_kernel():
        z_np, nwk_np, nk_np = _run(train, seed)
    z_c, nwk_c, nk_c = _run(train, seed)
    assert np.array_equal(z_np, z_c)
    assert np.array_equal(nwk_np, nwk_c)
    assert np.array_equal(nk_np, nk_c)


@pytest.mark.parametrize("train", [True, False])
def test_sweep_coerces_index_layouts(numpy_kernel, train):
    """int64 word ids and int32 offsets (which the C sweep would misread)
    and a strided z (which it would write wrongly) give the numpy path's
    bits: the read-only inputs are coerced, a strided z takes the numpy
    loop."""
    occ, z0, offs, nwk0, nk0 = _mkdata(40, 6, 3, 5)
    dtype = np.int64 if train else np.float64

    def run(occ, offs, z):
        nwk, nk = nwk0.astype(dtype), nk0.astype(dtype)
        kernel.sweep_docs(occ, z, offs, nwk, nk, 0.1, 0.01, kernel.make_rng(9, 0, 0),
                          update_model=train)
        return z, nwk, nk

    with numpy_kernel():
        want = run(occ, offs, z0.copy())
    strided = np.zeros(2 * z0.shape[0], dtype=np.int32)[::2]
    strided[:] = z0
    for got in (run(occ.astype(np.int64), offs.astype(np.int32), z0.copy()),
                run(occ, offs, strided)):
        for w, g in zip(want, got):
            assert np.array_equal(w, g)
    assert want[1].min() >= 0


def _doc_stream(seed, doc_id):
    """A doc's own stream: spawn key (doc_id's uint64 bits, 0)."""
    key = int(np.array(doc_id, dtype=np.int64).view(np.uint64))
    return np.random.Generator(np.random.PCG64(np.random.SeedSequence(seed, spawn_key=(key, 0))))


def infer_per_doc(occ, offs, ids, nwk, nk, seed, T, burn_in, alpha=0.1, beta=0.01,
                  vocab_size=None):
    """The per-doc inference loop: on the doc's own stream, z-init, then
    T frozen-model sweeps of the doc alone, summing its topic histogram
    after burn-in."""
    K = nk.shape[0]
    theta = np.zeros((offs.shape[0] - 1, K))
    for d in range(offs.shape[0] - 1):
        rng = _doc_stream(seed, ids[d])
        o = occ[offs[d]:offs[d + 1]]
        z = kernel.init_assignments(o.shape[0], K, rng)
        one = np.array([0, o.shape[0]], dtype=np.int64)
        acc = np.zeros(K)
        for it in range(T):
            kernel.sweep_docs(o, z, one, nwk, nk, alpha, beta, rng,
                              update_model=False, vocab_size=vocab_size)
            if it >= burn_in:
                acc += np.bincount(z, minlength=K)
        theta[d] = acc / (T - burn_in)
    return theta


def _infer_batch(occ, offs, ids, nwk, nk, seed, T, burn_in, vocab_size=None):
    return kernel.infer_docs(occ, offs, ids, nwk, nk, 0.1, 0.01, seed, T, burn_in, vocab_size)


def _infer_data(seed):
    """A frozen float64 model (V=40, K=5) and 9 docs, among them two
    empty docs and two 1-token docs, with negative, large and unsorted
    doc ids."""
    rng = kernel.make_rng(seed, 1, 0)
    lens = [0, 1, 37, 0, 120, 5, 1, 64, 12]
    offs = np.concatenate([[0], np.cumsum(lens)]).astype(np.int64)
    occ = rng.integers(0, 40, offs[-1]).astype(np.int32)
    nwk = rng.random((40, 5)) * 30
    ids = np.array([7, -3, 0, 2**62 + 5, 4, -(2**63), 12, 1, 30], dtype=np.int64)
    return occ, offs, ids, nwk, nwk.sum(axis=0)


@pytest.fixture(params=["c", "numpy"])
def kernel_path(request, numpy_kernel):
    with numpy_kernel() if request.param == "numpy" else contextlib.nullcontext():
        yield request.param


@pytest.mark.parametrize("seed", [3, 17])
def test_infer_docs_matches_per_doc_loop(kernel_path, seed):
    occ, offs, ids, nwk, nk = _infer_data(seed)
    got = _infer_batch(occ, offs, ids, nwk, nk, seed, 9, 4)
    assert got.shape == (9, 5)
    assert np.array_equal(got, infer_per_doc(occ, offs, ids, nwk, nk, seed, 9, 4))
    assert not got[0].any() and not got[3].any()  # empty docs: all zeros
    np.testing.assert_allclose(got.sum(axis=1), np.diff(offs))


def test_infer_docs_theta_follows_the_doc(kernel_path):
    """A doc's row does not depend on its batch: the batch reversed
    gives the rows reversed, and a doc alone gives its row."""
    occ, offs, ids, nwk, nk = _infer_data(3)
    whole = _infer_batch(occ, offs, ids, nwk, nk, 3, 9, 4)
    docs = [occ[s:e] for s, e in zip(offs[:-1], offs[1:])][::-1]
    rev_offs = np.concatenate([[0], np.cumsum([len(o) for o in docs])]).astype(np.int64)
    rev = _infer_batch(np.concatenate(docs), rev_offs, ids[::-1], nwk, nk, 3, 9, 4)
    assert np.array_equal(rev, whole[::-1])
    alone = _infer_batch(occ[offs[4]:offs[5]], np.array([0, 120]), ids[4:5], nwk, nk, 3, 9, 4)
    assert np.array_equal(alone[0], whole[4])


def test_infer_docs_submodel_matches_full_model(kernel_path):
    """A sub-model of the batch's distinct words, with ``vocab_size`` the
    true V (larger than its row count), gives the full model's bits."""
    occ, offs, ids, nwk, nk = _infer_data(5)
    occ = occ // 2 * 2  # even word ids only
    rows = np.unique(occ)
    assert rows.shape[0] < nwk.shape[0]
    local = np.searchsorted(rows, occ).astype(np.int32)
    sub = np.ascontiguousarray(nwk[rows])
    got = _infer_batch(local, offs, ids, sub, nk, 5, 7, 2, vocab_size=nwk.shape[0])
    assert np.array_equal(
        got, infer_per_doc(local, offs, ids, sub, nk, 5, 7, 2, vocab_size=nwk.shape[0])
    )
    assert np.array_equal(got, _infer_batch(occ, offs, ids, nwk, nk, 5, 7, 2))


def test_infer_docs_slicing_keeps_bits(kernel_path, monkeypatch):
    """A cap of 60 uniforms at T=6 splits the batch into many slices of
    at most 10 tokens, and the 120- and 64-token docs run alone."""
    occ, offs, ids, nwk, nk = _infer_data(11)
    whole = _infer_batch(occ, offs, ids, nwk, nk, 11, 6, 3)
    monkeypatch.setattr(kernel, "_MAX_UNIFORMS", 60)
    assert np.array_equal(_infer_batch(occ, offs, ids, nwk, nk, 11, 6, 3), whole)
    assert np.array_equal(infer_per_doc(occ, offs, ids, nwk, nk, 11, 6, 3), whole)
