"""Spark-free checks of the vector-quantization kernels in
``operators/similarity`` — ``round6``, ``pq_codes``, ``adc_tables``,
``probe_cells`` and the Lloyd partial kernels — against plain per-row
Python loops.  Inputs are small multiples of 1/4, so every sum, square
and dot product is exact in any summation order and the loops must agree
with the vectorized kernels bit for bit; duplicate codewords, centroids
and components make exact ties common, and every tie must go to the
lowest code or cell."""

import math

import numpy as np
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from kstream_spark.operators.similarity import (adc_tables, fold_norm,
                                                kmeans_partials, pq_codes,
                                                pq_partials, probe_cells,
                                                round6)

SETTINGS = settings(max_examples=150, deadline=None,
                    suppress_health_check=[HealthCheck.too_slow])


def round6_ref(x: float) -> float:
    """Round half away from zero at 6 dp, on the binary value x*1e6."""
    return math.copysign(math.floor(abs(x) * 1e6 + 0.5) / 1e6, x)


def quarters(n: int):
    """A length-n vector of multiples of 1/4 in [-2, 2]; a narrow range,
    so repeated values (and thus ties) are frequent."""
    return st.lists(st.integers(-8, 8).map(lambda i: i / 4.0),
                    min_size=n, max_size=n)


@st.composite
def pq_case(draw):
    """(mat, books): n rows split into m subspaces of width sub; each
    codebook has k codewords, some of them drawn as exact duplicates."""
    m, sub, k = (draw(st.integers(1, 3)), draw(st.integers(1, 3)),
                 draw(st.integers(1, 5)))
    n = draw(st.integers(1, 12))
    mat = np.array([draw(quarters(m * sub)) for _ in range(n)])
    books = []
    for _ in range(m):
        words = [draw(quarters(sub))]
        for _ in range(k - 1):
            words.append(draw(st.sampled_from(words)) if draw(st.booleans())
                         else draw(quarters(sub)))
        books.append(np.array(words))
    return mat, books


def nearest_code(x, book) -> int:
    """Lowest index among the codewords at the smallest round-6 squared
    distance from subvector x."""
    best, best_d = None, None
    for c, word in enumerate(book):
        d = round6_ref(sum((float(a) - float(b)) ** 2
                           for a, b in zip(x, word)))
        if best is None or d < best_d:
            best, best_d = c, d
    return best


@SETTINGS
@given(st.lists(st.integers(-3_000_000, 3_000_000), min_size=1,
                max_size=40))
def test_round6_half_up_on_half_boundaries(ks):
    """Values on (and next to) .5e-6 boundaries round half away from zero
    — half-to-even would send 2.5e-6 to 2e-6."""
    xs = [(k + 0.5) / 1e6 for k in ks] + [k / 1e6 for k in ks]
    got = round6(np.array(xs))
    assert got.tolist() == [round6_ref(x) for x in xs]
    assert round6(2.5e-6) == 3e-6 and round6(-2.5e-6) == -3e-6
    assert round6(np.array([np.inf, -np.inf])).tolist() == [np.inf, -np.inf]


@SETTINGS
@given(pq_case())
def test_pq_codes_match_per_row_loop(case):
    mat, books = case
    sub = books[0].shape[1]
    got = pq_codes(mat, books)
    want = [[nearest_code(row[j * sub:(j + 1) * sub], book)
             for j, book in enumerate(books)] for row in mat]
    assert got.tolist() == want


def test_pq_codes_tie_goes_to_lowest_code():
    books = [np.array([[1.0], [0.0], [1.0], [-1.0]])]
    # 0.5 is equidistant from codes 0, 1 and 2; 0.0 is code 1 exactly;
    # -0.5 is equidistant from codes 1 and 3
    mat = np.array([[0.5], [0.0], [-0.5]])
    assert pq_codes(mat, books)[:, 0].tolist() == [0, 1, 1]


@SETTINGS
@given(pq_case(), st.data())
def test_adc_tables_match_per_codeword_loop(case, data):
    _, books = case
    sub = books[0].shape[1]
    qv = np.array(data.draw(quarters(len(books) * sub)))
    got = adc_tables(qv, books)
    want = [[round6_ref(sum((float(b) - float(a)) ** 2
                            for a, b in zip(qv[j * sub:(j + 1) * sub], word)))
             for word in book] for j, book in enumerate(books)]
    assert got == want


@st.composite
def probe_case(draw):
    """(qv, cents, n_probe): nonzero query and centroids, where some
    centroids repeat exactly or are positive multiples of an earlier one
    (the same cosine, an exact tie)."""
    dim = draw(st.integers(1, 4))
    nonzero = quarters(dim).filter(lambda v: any(v))
    cents = [draw(nonzero)]
    for _ in range(draw(st.integers(0, 7))):
        if draw(st.booleans()):
            cents.append([x * draw(st.sampled_from([1, 2, 4]))
                          for x in draw(st.sampled_from(cents))])
        else:
            cents.append(draw(nonzero))
    return (np.array(draw(nonzero)), np.array(cents),
            draw(st.integers(1, len(cents) + 1)))


def probe_ref(qv, cents, n_probe, qnorm):
    cos = []
    for c in cents:
        cn = math.sqrt(sum(float(x) * float(x) for x in c))
        dot = sum(float(a) * float(b) for a, b in zip(c, qv))
        cos.append(round6_ref(dot / (cn * qnorm)))
    return sorted(range(len(cents)), key=lambda c: (-cos[c], c))[:n_probe]


@SETTINGS
@given(probe_case())
def test_probe_cells_match_sorted_loop(case):
    qv, cents, n_probe = case
    qnorm = math.sqrt(sum(float(x) * float(x) for x in qv))
    want = probe_ref(qv, cents, n_probe, qnorm)
    assert probe_cells(qv, cents, n_probe) == want
    assert probe_cells(qv, cents, n_probe, qnorm=fold_norm(qv)) == want


def test_probe_cells_tie_goes_to_lowest_cell():
    cents = np.array([[0.0, 1.0], [2.0, 0.0], [1.0, 0.0], [4.0, 0.0]])
    # cells 1, 2 and 3 all have cosine 1 with the query
    assert probe_cells(np.array([3.0, 0.0]), cents, 3) == [1, 2, 3]


@st.composite
def kmeans_case(draw):
    """(mat, cents): rows are 0 or a signed multiple of one axis vector,
    so each normalized row is exact; centroids may repeat."""
    dim = draw(st.integers(1, 4))
    rows = []
    for _ in range(draw(st.integers(1, 12))):
        row = [0.0] * dim
        if draw(st.booleans()):
            row[draw(st.integers(0, dim - 1))] = float(
                draw(st.sampled_from([-3, -1, 1, 2, 5])))
        rows.append(row)
    cents = [draw(quarters(dim))]
    for _ in range(draw(st.integers(0, 4))):
        cents.append(draw(st.sampled_from(cents)) if draw(st.booleans())
                     else draw(quarters(dim)))
    return np.array(rows), np.array(cents)


def partial_rows(out, keys):
    return {tuple(out[c][i] for c in keys): (out["n"][i], out["s"][i])
            for i in range(len(out["n"]))}


@SETTINGS
@given(kmeans_case())
def test_kmeans_partials_match_per_row_loop(case):
    mat, cents = case
    want: dict = {}
    for row in mat:
        nrm = max(math.sqrt(sum(x * x for x in row)), 1e-12)
        scores = [round(sum(x / nrm * c for x, c in zip(row, cent)), 6)
                  for cent in cents]
        cell = scores.index(max(scores))        # first maximum
        n, s = want.get((cell,), (0, [0.0] * len(row)))
        want[(cell,)] = (n + 1, [a + b for a, b in zip(s, row)])
    assert partial_rows(kmeans_partials(mat, cents), ("cell",)) == want


@SETTINGS
@given(pq_case())
def test_pq_partials_match_per_row_loop(case):
    mat, books = case
    sub = books[0].shape[1]
    want: dict = {}
    for row in mat:
        for j, book in enumerate(books):
            x = [float(v) for v in row[j * sub:(j + 1) * sub]]
            key = (j, nearest_code(x, book))
            n, s = want.get(key, (0, [0.0] * sub))
            want[key] = (n + 1, [a + b for a, b in zip(s, x)])
    assert partial_rows(pq_partials(mat, books), ("j", "code")) == want
