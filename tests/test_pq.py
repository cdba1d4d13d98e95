"""Product quantization (train / encode / ADC top-k, IVF-PQ): twins.

Test embeddings are dyadic rationals (k/1024) so every distributed sum
in training round 1 is EXACT in float64 — partition-order independent —
and later rounds stay deterministic (one correctly-rounded division per
mean). The sequential twin reimplements Lloyd/encode/ADC from the
documented contract (lowest-id init, lowest-code tie-break, empty cell
keeps codeword, ADC = m LUT lookups).
"""

from __future__ import annotations

import numpy as np
import pytest

from super_speedy_syslog_searcher_spark.operators import similarity as S

D, M, KSUB = 16, 4, 8
DSUB = D // M


def _dyadic_vecs(n: int, seed: int) -> np.ndarray:
    rng = np.random.default_rng(seed)
    return rng.integers(-512, 512, size=(n, D)).astype(np.float64) / 1024.0


def _twin_train(V: np.ndarray, m: int, ksub: int, iters: int) -> np.ndarray:
    """Sequential Lloyd per subspace; ids are 0..n-1 in row order."""
    n, d = V.shape
    dsub = d // m
    sub = V.reshape(n, m, dsub)
    books = sub[: min(ksub, n)].transpose(1, 0, 2).copy()  # lowest-id init
    for _ in range(iters):
        kk = books.shape[1]
        new = books.copy()
        for j in range(m):
            # assign with lowest-code tie-break
            codes = np.empty(n, dtype=int)
            for i in range(n):
                dists = [
                    float(((sub[i, j] - books[j, c]) ** 2).sum()) for c in range(kk)
                ]
                # argmin with exact lowest-code tie-break, via the same
                # |c|^2 - 2<x,c> expression the engine uses
                expr = [
                    float((books[j, c] ** 2).sum() - 2.0 * (sub[i, j] @ books[j, c]))
                    for c in range(kk)
                ]
                codes[i] = int(np.argmin(expr))
                del dists
            for c in range(kk):
                sel = sub[codes == c, j, :]
                if len(sel):
                    new[j, c] = sel.sum(axis=0) / len(sel)
        books = new
    return books


def _twin_encode(V: np.ndarray, books: np.ndarray) -> np.ndarray:
    n = V.shape[0]
    m, kk, dsub = books.shape
    sub = V.reshape(n, m, dsub)
    out = np.empty((n, m), dtype=int)
    for i in range(n):
        for j in range(m):
            expr = [
                float((books[j, c] ** 2).sum() - 2.0 * (sub[i, j] @ books[j, c]))
                for c in range(kk)
            ]
            out[i, j] = int(np.argmin(expr))
    return out


def _twin_adc_topk(
    codes: np.ndarray,
    ids: np.ndarray,
    Q: np.ndarray,
    qids: np.ndarray,
    books: np.ndarray,
    k: int,
    allowed=None,
    lists=None,
):
    m, kk, dsub = books.shape
    res = {}
    for qi, qid in enumerate(qids):
        q = Q[qi].reshape(m, dsub)
        lut = np.array(
            [[float(((q[j] - books[j, c]) ** 2).sum()) for c in range(kk)] for j in range(m)]
        )
        rows = []
        for r in range(len(ids)):
            if ids[r] == qid:
                continue
            if allowed is not None and int(lists[r]) not in allowed.get(int(qid), set()):
                continue
            dist = 0.0
            for j in range(m):
                dist += lut[j, codes[r, j]]
            rows.append((dist, int(ids[r])))
        rows.sort()
        res[int(qid)] = [nid for _, nid in rows[:k]]
    return res


@pytest.fixture(scope="module")
def pq_data(spark):
    V = _dyadic_vecs(60, seed=21)
    df = spark.createDataFrame(
        [(i, [float(x) for x in V[i]]) for i in range(len(V))],
        "vec_id long, embedding array<float>",
    ).repartition(7)
    return V, df


def test_train_matches_sequential_twin(spark, pq_data):
    V, df = pq_data
    books = S.pq_train(df, m=M, ksub=KSUB, iters=3)
    want = _twin_train(V, M, KSUB, iters=3)
    assert books.shape == (M, KSUB, DSUB)
    np.testing.assert_allclose(books, want, rtol=0, atol=1e-12)


def test_train_partition_layout_invariance(spark, pq_data):
    V, df = pq_data
    a = S.pq_train(df.coalesce(1), m=M, ksub=KSUB, iters=2)
    b = S.pq_train(df.repartition(13), m=M, ksub=KSUB, iters=2)
    np.testing.assert_allclose(a, b, rtol=0, atol=0)  # dyadic round-1 + det. rounds


def test_encode_matches_twin(spark, pq_data):
    V, df = pq_data
    books = S.pq_train(df, m=M, ksub=KSUB, iters=2)
    got = {r["vec_id"]: list(r["codes"]) for r in S.pq_encode(df, books).collect()}
    want = _twin_encode(V, books)
    assert got == {i: list(map(int, want[i])) for i in range(len(V))}
    # compression: m ints per vector, all codes in range
    assert all(0 <= c < KSUB for cs in got.values() for c in cs)


def test_adc_topk_matches_twin(spark, pq_data):
    V, df = pq_data
    books = S.pq_train(df, m=M, ksub=KSUB, iters=2)
    codes_df = S.pq_encode(df, books)
    queries = df.filter("vec_id < 4")
    got = {}
    for r in S.pq_topk_adc(codes_df, queries, books, k=5).collect():
        got.setdefault(r["query_id"], []).append((r["rank"], r["neighbor_id"]))
    codes = _twin_encode(V, books)
    want = _twin_adc_topk(
        codes, np.arange(len(V)), V[:4], np.arange(4), books, k=5
    )
    for qid in range(4):
        ranked = [n for _, n in sorted(got[qid])]
        assert ranked == want[qid], qid


def test_ivfpq_probe_masking(spark, pq_data):
    """IVF-PQ: rows outside a query's probed coarse lists never score."""
    V, df = pq_data
    books = S.pq_train(df, m=M, ksub=KSUB, iters=2)
    from pyspark.sql import functions as F

    codes_df = S.pq_encode(df, books).withColumn(
        "list_id", (F.col("vec_id") % 3).cast("int")
    )
    queries = df.filter("vec_id < 3")
    probe = {0: [0, 1], 1: [2], 2: [0, 1, 2]}
    got = {}
    for r in S.pq_topk_adc(
        codes_df, queries, books, k=4, list_col="list_id", probe_lists=probe
    ).collect():
        got.setdefault(r["query_id"], []).append(r["neighbor_id"])
    codes = _twin_encode(V, books)
    lists = np.arange(len(V)) % 3
    want = _twin_adc_topk(
        codes,
        np.arange(len(V)),
        V[:3],
        np.arange(3),
        books,
        k=4,
        allowed={q: set(ls) for q, ls in probe.items()},
        lists=lists,
    )
    for qid in range(3):
        assert sorted(got[qid]) == sorted(want[qid])
        assert all(int(n) % 3 in probe[qid] for n in got[qid])


def test_adc_recall_on_separated_clusters(spark):
    """Sanity beyond twins: with well-separated clusters, ADC top-k finds
    the query's own cluster-mates (recall@k = 1 vs exact cosine)."""
    rng = np.random.default_rng(9)
    centers = rng.integers(-4, 5, size=(4, D)).astype(np.float64) * 8.0
    V = np.concatenate(
        [c + rng.integers(-16, 17, size=(10, D)) / 1024.0 for c in centers]
    )
    df = spark.createDataFrame(
        [(i, [float(x) for x in V[i]]) for i in range(len(V))],
        "vec_id long, embedding array<float>",
    )
    books = S.pq_train(df, m=M, ksub=KSUB, iters=3)
    codes_df = S.pq_encode(df, books)
    queries = df.filter("vec_id in (0, 10, 20, 30)")
    rows = S.pq_topk_adc(codes_df, queries, books, k=5).collect()
    for r in rows:
        assert r["neighbor_id"] // 10 == r["query_id"] // 10  # same cluster
