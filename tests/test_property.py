"""Property-based tests (hypothesis) for the Spark-free core.

Invariants checked on arbitrary inputs:
- a Gibbs sweep conserves token counts (Σ n_wk = Σ n_k = N) and keeps
  every count non-negative (the reference CHECKs this, model.cc:87);
- the inverse-CDF sampler always returns a valid index and respects
  zero-probability bins at the extremes;
- the C kernel (when available) agrees bit-for-bit with the numpy loop;
- model text serde round-trips arbitrary word/count tables.
"""

import numpy as np
import pytest
from hypothesis import given, settings, strategies as st

from plda_spark.lda import kernel
from plda_spark.lda.model import LDAModel


@st.composite
def corpus_arrays(draw):
    V = draw(st.integers(2, 30))
    K = draw(st.integers(2, 8))
    n = draw(st.integers(1, 400))
    seed = draw(st.integers(0, 2**31 - 1))
    rng = np.random.Generator(np.random.PCG64(seed))
    word_occ = rng.integers(0, V, n).astype(np.int32)
    cuts = np.sort(rng.integers(0, n + 1, draw(st.integers(0, 5))))
    offsets = np.unique(np.concatenate([[0], cuts, [n]])).astype(np.int64)
    return V, K, word_occ, offsets, seed


@given(corpus_arrays())
@settings(max_examples=40, deadline=None)
def test_sweep_conserves_counts_and_nonnegative(data):
    V, K, word_occ, offsets, seed = data
    rng = kernel.make_rng(seed)
    z = kernel.init_assignments(word_occ.shape[0], K, rng)
    nwk = kernel.count_nwk(word_occ, z, V, K)
    nk = nwk.sum(axis=0)
    n = word_occ.shape[0]
    kernel.sweep_docs(word_occ, z, offsets, nwk, nk, 0.1, 0.01, rng, True)
    assert nwk.sum() == n and nk.sum() == n
    assert (nwk >= 0).all() and (nk >= 0).all()
    np.testing.assert_array_equal(nwk.sum(axis=0), nk)
    np.testing.assert_array_equal(nwk, kernel.count_nwk(word_occ, z, V, K))
    assert ((z >= 0) & (z < K)).all()


@given(corpus_arrays())
@settings(max_examples=25, deadline=None)
def test_c_and_numpy_paths_agree(numpy_kernel, data):
    from plda_spark.lda import _ckernel

    if _ckernel.get_sweep_fn() is None:
        pytest.skip("no C compiler")
    V, K, word_occ, offsets, seed = data

    def run():
        rng = kernel.make_rng(seed)
        z = kernel.init_assignments(word_occ.shape[0], K, rng)
        nwk = kernel.count_nwk(word_occ, z, V, K)
        nk = nwk.sum(axis=0)
        kernel.sweep_docs(word_occ, z, offsets, nwk, nk, 0.1, 0.01, rng, True)
        return z, nwk, nk

    with numpy_kernel():
        on_numpy = run()
    for a, b in zip(on_numpy, run()):
        np.testing.assert_array_equal(a, b)


@given(
    p=st.lists(st.floats(0.0, 100.0), min_size=1, max_size=20),
    u=st.floats(0.0, 1.0, exclude_max=True),
)
@settings(max_examples=100, deadline=None)
def test_inverse_cdf_sample_valid_index(p, u):
    arr = np.asarray(p, dtype=np.float64)
    if arr.sum() == 0:
        arr[0] = 1.0
    k = kernel.inverse_cdf_sample(arr, u)
    assert 0 <= k < arr.shape[0]
    # A zero-mass leading bin is only chosen when the scan target
    # u * sum(p) is exactly 0 — including float underflow, the same
    # behavior as the reference's GetAccumulativeSample (common.cc:31-50).
    if arr[0] == 0.0 and u * arr.sum() > 0.0:
        assert k > 0


_word = st.text(
    alphabet=st.characters(whitelist_categories=("Ll", "Lu", "Nd")),
    min_size=1,
    max_size=12,
)


@given(
    words=st.lists(_word, min_size=1, max_size=20, unique=True),
    k=st.integers(1, 6),
    seed=st.integers(0, 2**31 - 1),
)
@settings(max_examples=30, deadline=None)
def test_model_text_roundtrip(tmp_path_factory, words, k, seed):
    rng = np.random.Generator(np.random.PCG64(seed))
    nwk = rng.integers(0, 10_000, (len(words), k)).astype(np.int64)
    m = LDAModel(nwk, words, 0.1, 0.01)
    path = str(tmp_path_factory.mktemp("prop") / "model.txt")
    m.save_text(path)
    m2 = LDAModel.load_text(path)
    assert m2.words == m.words
    np.testing.assert_array_equal(m2.nwk, m.nwk)
    np.testing.assert_array_equal(m2.nk, m.nk)


@settings(deadline=None, max_examples=25)
@given(
    lefts=st.lists(
        st.tuples(st.integers(0, 3), st.integers(0, 50)), min_size=1, max_size=25
    ),
    rights=st.lists(
        st.tuples(st.integers(0, 3), st.integers(0, 50), st.integers(0, 999)),
        min_size=0,
        max_size=25,
    ),
)
def test_as_of_join_matches_pandas_merge_asof(spark, lefts, rights):
    """as_of_join ≡ pandas merge_asof (backward, exact matches allowed)
    on arbitrary small inputs, including duplicate timestamps on the
    left and absent keys."""
    import pandas as pd

    from plda_spark.operators.joins import as_of_join


    # dedupe right on (key, ts): merge_asof picks the LAST among equal
    # ts rows; our tiebreak column makes that deterministic too, but
    # keeping one row per (key, ts) sidesteps ordering ambiguity.
    rd = {}
    for k, t, v in rights:
        rd[(k, t)] = v
    rrows = [(k, t, v) for (k, t), v in rd.items()]

    ldf = spark.createDataFrame(
        [(k, t, i) for i, (k, t) in enumerate(lefts)], "k long, ts long, lid long"
    )
    rdf = spark.createDataFrame(rrows or [], "k long, ts long, v long")
    got = {
        r["lid"]: r["right_v"]
        for r in as_of_join(ldf, rdf, on="k").collect()
    }

    lp = pd.DataFrame(
        {"k": [k for k, _ in lefts], "ts": [t for _, t in lefts],
         "lid": range(len(lefts))}
    ).sort_values("ts", kind="mergesort")
    rp = pd.DataFrame(
        {"k": [k for k, _, _ in rrows], "ts": [t for _, t, _ in rrows],
         "v": [v for _, _, v in rrows]}
    ).sort_values("ts", kind="mergesort")
    if len(rp):
        want_df = pd.merge_asof(lp, rp, on="ts", by="k", direction="backward")
        want = {
            int(r.lid): (None if pd.isna(r.v) else int(r.v))
            for r in want_df.itertuples()
        }
    else:
        want = {int(r.lid): None for r in lp.itertuples()}
    assert got == want


def test_fuzzy_pairs_random_strings_match_brute_force(spark):
    """Deletion-neighborhood blocking vs brute force on a dense random
    set: short strings over a 2-letter alphabet maximize shared variants
    and edge cases (empties, duplicates, chains of distance-1 strings)."""
    import itertools
    import random

    from plda_spark.operators import joins

    rng = random.Random(7)
    names = [
        "".join(rng.choice("ab") for _ in range(rng.randint(0, 5)))
        for _ in range(40)
    ]
    df = spark.createDataFrame(
        [(i, s) for i, s in enumerate(names)], "id bigint, s string"
    )

    def lev(a, b):
        dp = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            prev, dp[0] = dp[0], i
            for j, cb in enumerate(b, 1):
                prev, dp[j] = dp[j], min(dp[j] + 1, dp[j - 1] + 1, prev + (ca != cb))
        return dp[len(b)]

    for d in (1, 2):
        got = {
            (r["id_a"], r["id_b"], r["dist"])
            for r in joins.fuzzy_pairs(df, "s", "id", max_dist=d).collect()
        }
        want = {
            (i, j, lev(a, b))
            for (i, a), (j, b) in itertools.combinations(enumerate(names), 2)
            if lev(a, b) <= d
        }
        assert got == want, f"d={d}: missing={want-got} extra={got-want}"


@settings(max_examples=200, deadline=None)
@given(
    st.lists(
        st.text(
            alphabet=st.characters(
                codec="utf-8", exclude_categories=("Cs",)
            ),
            max_size=200,
        ),
        max_size=8,
    ),
    st.booleans(),
)
def test_wet_parser_roundtrip_arbitrary_payloads(texts, gz):
    """Spark-free WET parser property: records rendered the way
    write_wet renders them (Content-Length = UTF-8 octets) round-trip
    byte-for-byte through _parse_wet_bytes for ARBITRARY payloads —
    including ones embedding 'WARC/1.0', header-like lines, \\r\\n\\r\\n
    blank lines, and any unicode — because the parser walks by declared
    length, never by marker search."""
    import gzip as _gzip

    from plda_spark.sources.wet import _parse_wet_bytes

    parts = []
    for i, t in enumerate(texts):
        body = t.encode("utf-8")
        parts.append(
            (
                f"WARC/1.0\r\nWARC-Type: conversion\r\n"
                f"WARC-Target-URI: http://x/{i}\r\n"
                f"WARC-Date: 2024-01-01T00:00:00Z\r\n"
                f"Content-Length: {len(body)}\r\n\r\n"
            ).encode("utf-8")
            + body
            + b"\r\n\r\n"
        )
    data = b"".join(parts)
    if gz:
        data = _gzip.decompress(_gzip.compress(data))
    rows = list(_parse_wet_bytes(data, "mem"))
    assert [(r[0], r[3]) for r in rows] == [
        (f"http://x/{i}", t) for i, t in enumerate(texts)
    ]
    assert all(r[2] == len(t.encode("utf-8")) for r, t in zip(rows, texts))


@settings(max_examples=200, deadline=None)
@given(
    st.lists(
        st.text(
            alphabet=st.characters(codec="utf-8", exclude_categories=("Cs",)),
            max_size=200,
        ),
        max_size=6,
    ),
)
def test_warc_parser_roundtrip_arbitrary_html(htmls):
    """Spark-free raw-WARC parser property: response records rendered
    the way write_warc renders them (HTTP head + body, both
    Content-Lengths UTF-8 octets) round-trip byte-for-byte through
    _parse_warc_bytes for ARBITRARY payloads — including ones embedding
    'WARC/1.0', 'HTTP/1.1' lines, \\r\\n\\r\\n blank lines (only the
    FIRST blank line in the payload delimits the HTTP head), and any
    unicode."""
    from plda_spark.sources.warc import _parse_warc_bytes

    parts = []
    for i, h in enumerate(htmls):
        body = h.encode("utf-8")
        http = (
            b"HTTP/1.1 200 OK\r\nContent-Type: text/html; charset=utf-8\r\n"
            b"Content-Length: " + str(len(body)).encode() + b"\r\n\r\n" + body
        )
        parts.append(
            (
                f"WARC/1.0\r\nWARC-Type: response\r\n"
                f"WARC-Target-URI: http://x/{i}\r\n"
                f"WARC-Date: 2024-01-01T00:00:00Z\r\n"
                f"Content-Length: {len(http)}\r\n\r\n"
            ).encode("utf-8")
            + http
            + b"\r\n\r\n"
        )
    rows = list(_parse_warc_bytes(b"".join(parts), "mem"))
    assert [(r[0], r[2], r[5]) for r in rows] == [
        (f"http://x/{i}", 200, h) for i, h in enumerate(htmls)
    ]


@settings(max_examples=100, deadline=None)
@given(
    st.text(
        alphabet=st.characters(codec="utf-8", exclude_categories=("Cs",)),
        max_size=400,
    )
)
def test_html_extraction_never_raises_and_is_consistent(html):
    """Total-function property on ARBITRARY (often malformed) 'HTML':
    html_to_text never raises, and joining html_to_blocks' texts with
    newlines always equals html_to_text — one decomposition, two views,
    for any input including unbalanced tags and stray '<'."""
    from plda_spark.sources.warc import html_to_blocks, html_to_text

    full = html_to_text(html)
    blocks = html_to_blocks(html)
    assert "\n".join(t for t, _, _ in blocks) == full
    assert all(nw == len(t.split()) and nl >= 0 for t, nw, nl in blocks)


@settings(max_examples=10, deadline=None)
@given(
    st.lists(
        st.from_regex(r"https?://[a-z]{1,3}(\.[a-z]{1,3}){0,3}/[a-z0-9]{0,4}", fullmatch=True),
        min_size=1,
        max_size=12,
    ),
    st.lists(
        st.from_regex(r"[a-z]{1,3}(\.[a-z]{1,3}){0,2}", fullmatch=True),
        max_size=4,
    ),
)
def test_domain_filter_block_allow_partition(spark, urls, domains):
    """For ANY urls and ANY list, mode='block' and mode='allow' must
    exactly partition the input rows — no row dropped from both sides,
    none kept by both."""
    from plda_spark.operators import web

    df = spark.createDataFrame(
        [(i, u) for i, u in enumerate(urls)], "doc_id long, url string"
    )
    blocked = {r["doc_id"] for r in
               web.domain_filter(df, domains, mode="allow").collect()}
    kept = {r["doc_id"] for r in
            web.domain_filter(df, domains, mode="block").collect()}
    assert blocked | kept == set(range(len(urls)))
    assert blocked & kept == set()


# ---------------------------------------------------------------------------
# round-5 pure primitives: Hilbert walk, WordPiece merge fold, KMV merge


def _ref_xy2d(n, x, y):
    d, s = 0, n // 2
    while s > 0:
        rx = 1 if (x & s) > 0 else 0
        ry = 1 if (y & s) > 0 else 0
        d += s * s * ((3 * rx) ^ ry)
        if ry == 0:
            if rx == 1:
                x, y = n - 1 - x, n - 1 - y
            x, y = y, x
        s //= 2
    return d


@settings(max_examples=10, deadline=None)
@given(
    bits=st.integers(2, 10),
    seed=st.integers(0, 2**31 - 1),
)
def test_hilbert_fold_matches_reference_walk(spark, bits, seed):
    """Random (x, y) points at random bit widths: the JVM struct fold
    must equal the published rotate/flip walk exactly, and values stay
    inside [0, 4^bits)."""
    from pyspark.sql import functions as F

    from plda_spark.sources.zorder import hilbert_value_col

    n = 1 << bits
    rng = np.random.Generator(np.random.PCG64(seed))
    pts = [(int(a), int(b)) for a, b in rng.integers(0, n, (40, 2))]
    df = spark.createDataFrame(pts, "x int, y int")
    got = {
        (r["x"], r["y"]): r["d"]
        for r in df.select(
            "x", "y", hilbert_value_col("x", "y", bits=bits).alias("d")
        ).collect()
    }
    for (x, y), d in got.items():
        assert d == _ref_xy2d(n, x, y)
        assert 0 <= d < n * n


@settings(max_examples=15, deadline=None)
@given(
    syms=st.lists(st.sampled_from(["a", "##b", "##c", "x"]), min_size=0, max_size=12),
)
def test_wordpiece_merge_fold_matches_sequential(spark, syms):
    """The JVM merge fold must equal the sequential left-to-right
    non-overlapping re-scan on arbitrary symbol sequences."""
    from pyspark.sql import functions as F

    from plda_spark.operators import wordpiece as wp

    a, b = "a", "##b"
    ab = wp._join_pieces(a, b)
    out = []
    for x in syms:
        if out and out[-1] == a and x == b:
            out[-1] = ab
        else:
            out.append(x)
    df = spark.createDataFrame([(syms,)], "syms array<string>")
    got = df.select(
        wp._merge_col(F.col("syms"), a, b).alias("m")
    ).collect()[0]["m"]
    assert list(got) == out


@settings(max_examples=10, deadline=None)
@given(
    seed=st.integers(0, 2**31 - 1),
    k=st.integers(2, 32),
    splits=st.integers(1, 4),
)
def test_kmv_merge_equals_direct_kmin(spark, seed, k, splits):
    """Merging per-partition KMV sketches must equal the k smallest of
    the whole set, for arbitrary hash multisets and split points."""
    from pyspark.sql import functions as F

    from plda_spark.operators import stats

    rng = np.random.Generator(np.random.PCG64(seed))
    hashes = sorted(set(int(h) for h in rng.integers(0, 1 << 60, 200)))
    parts = np.array_split(np.array(hashes), splits)
    rows = [
        (f"2024-01-{i + 1:02d}", [int(h) for h in sorted(p)][:10**9])
        for i, p in enumerate(parts)
        if len(p)
    ]
    # day sketches = k smallest of each split
    sk = spark.createDataFrame(
        [(d, sorted(v)[:k]) for d, v in rows], "day string, kmin array<long>"
    )
    merged = stats._kmv_merge(sk, k).collect()[0]["kmin"]
    assert list(merged) == sorted(hashes)[:k]
