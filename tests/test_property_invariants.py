"""Property-based invariants (hypothesis) for the persisted dedup/text
keys — the properties a curation pipeline depends on, checked over
generated corpora rather than fixtures.

Spark sessions are expensive, so each property generates a BATCH of
documents with hypothesis and runs ONE Spark job over the batch
(deadline disabled; examples capped for CI time)."""

import hashlib
import re

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

# printable-ish text incl. the whitespace edge cases the tokenizers split on
_TEXT = st.text(
    alphabet=st.characters(
        whitelist_categories=("Lu", "Ll", "Nd", "Po"),
        whitelist_characters=" \t\r\n\x0b\f",
    ),
    min_size=0,
    max_size=120,
)

_SETTINGS = settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


@given(st.lists(_TEXT, min_size=1, max_size=12))
@_SETTINGS
def test_simhash_identity_and_python_parity(spark, texts):
    """Equal text => equal simhash (duplicate planted per doc), and every
    hash equals the independent pure-python oracle."""
    from detectingscc_spark.functions.dedup import simhash

    from .test_pipeline_functions import _simhash_py

    rows = [(i, t) for i, t in enumerate(texts)]
    rows += [(1000 + i, t) for i, t in enumerate(texts)]  # planted dups
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r["simhash"] for r in simhash(docs).collect()}
    for i, t in enumerate(texts):
        assert got[i] == got[1000 + i]
        assert got[i] == _simhash_py(t)


@given(st.lists(_TEXT, min_size=1, max_size=12))
@_SETTINGS
def test_exact_dedup_keeps_one_per_content(spark, texts):
    """Exactly one keeper per distinct content; the keeper is the min
    doc_id; content_sha matches hashlib."""
    from detectingscc_spark.functions.dedup import exact_dedup

    rows = [(i, t) for i, t in enumerate(texts)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    res = exact_dedup(docs).collect()
    by_sha = {}
    for r in res:
        by_sha.setdefault(r["content_sha"], []).append(r)
        expect_sha = hashlib.sha256(rows[r["doc_id"]][1].encode()).hexdigest()
        assert r["content_sha"] == expect_sha
    for sha, group in by_sha.items():
        keepers = [r["doc_id"] for r in group if r["keep"]]
        assert keepers == [min(r["doc_id"] for r in group)]


@given(st.lists(_TEXT, min_size=1, max_size=12))
@_SETTINGS
def test_bpe_token_count_matches_python_regex(spark, texts):
    """The BPE-ish token count (explicit char classes, engine-portable)
    must equal python re over the same pattern."""
    from detectingscc_spark.functions.text import BPE_TOKEN_RE, token_counts

    pat = re.compile(BPE_TOKEN_RE)
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    got = {r["doc_id"]: r["n_bpe_tokens"] for r in token_counts(docs).collect()}
    for i, t in enumerate(texts):
        assert got[i] == len(pat.findall(t)), repr(t)


@given(st.lists(st.integers(min_value=-8, max_value=8), min_size=2, max_size=40))
@_SETTINGS
def test_pagerank_mass_conservation_random_graphs(spark, deltas):
    """Sum of pagerank == 1 (1e-9) on arbitrary small digraphs, including
    dangling vertices and self-loop rows (the engine drops self-loops)."""
    from hypothesis import assume

    from detectingscc_spark.operators.pagerank import pagerank

    assume(any(d != 0 for d in deltas))  # at least one real (non-loop) edge
    n = 10
    erows = []
    v = 0
    for d in deltas:
        u = (v + d) % n
        erows.append((v, u))
        v = u
    edges = spark.createDataFrame(sorted(set(erows)), "src long, dst long")
    verts = spark.range(n).select(F.col("id"))
    pr = pagerank(spark, edges, verts, fixed_iters=5)
    total = pr.agg(F.sum("rank")).first()[0]
    assert abs(total - 1.0) < 1e-9


@given(
    data_seed=st.integers(min_value=0, max_value=2**31 - 1),
    lsh_seed=st.integers(min_value=1, max_value=1000),
    n_tables=st.integers(min_value=1, max_value=4),
    probe_hamming=st.integers(min_value=0, max_value=1),
    n_probe=st.integers(min_value=1, max_value=4),
)
@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_persisted_ann_equals_recompute(
    spark, tmp_path, data_seed, lsh_seed, n_tables, probe_hamming, n_probe
):
    """Persisted-index probe == recompute-everything operator, over
    random embeddings and index parameters (VERDICT r4 item 7): the
    pruned partition scan of a just-written LSH/IVF index must return
    exactly the rows of ann_topk_lsh / ann_topk_ivf with the same
    parameters — seeds, table counts, probe widths all drawn."""
    import numpy as np

    from detectingscc_spark.functions.ann_index import (
        ann_topk_ivf_indexed,
        ann_topk_lsh_indexed,
        write_ivf_index,
        write_lsh_index,
    )
    from detectingscc_spark.functions.similarity import ann_topk_ivf, ann_topk_lsh

    dims, n_docs = 16, 32
    rng = np.random.default_rng(data_seed)
    vecs = rng.standard_normal((n_docs, dims)).round(4)
    emb = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(n_docs)],
        "vec_id long, embedding array<double>",
    )
    qids = [0, 1, 2]
    common = dict(k=3, n_planes=4, n_tables=n_tables,
                  probe_hamming=probe_hamming, seed=lsh_seed, dims=dims)

    def rows(df):
        return sorted((r["query_id"], r["vec_id"], r["cos"], r["rank"]) for r in df.collect())

    lsh_path = str(tmp_path / "lsh")
    write_lsh_index(emb, lsh_path, n_planes=4, n_tables=n_tables, seed=lsh_seed, dims=dims)
    assert rows(ann_topk_lsh_indexed(spark, lsh_path, emb, qids, **common)) == rows(
        ann_topk_lsh(emb, qids, **common)
    )

    ivf_path = str(tmp_path / "ivf")
    write_ivf_index(emb, ivf_path, n_centroids=8)
    assert rows(ann_topk_ivf_indexed(spark, ivf_path, emb, qids, k=3, n_probe=n_probe)) == rows(
        ann_topk_ivf(emb, qids, k=3, n_centroids=8, n_probe=n_probe)
    )


# ---- random-digraph invariants for the round-6 graph companions ------

_EDGE = st.tuples(st.integers(1, 14), st.integers(1, 14))
_GRAPH = st.lists(_EDGE, min_size=1, max_size=40)


@given(_GRAPH)
@_SETTINGS
def test_ktruss_vs_naive_random(spark, es):
    """k-truss fixpoint equals the naive python peel on random digraphs
    (duplicates, self-loops, hubs all allowed in the input)."""
    from detectingscc_spark.operators.truss import ktruss

    from .test_companion_algos import _naive_ktruss

    g = spark.createDataFrame(es, "src long, dst long")
    und = {(min(a, b), max(a, b)) for a, b in es if a != b}
    for k in (3, 4):
        got = {(r["a"], r["b"]) for r in ktruss(spark, g, k=k).collect()}
        assert got == _naive_ktruss(und, k), f"k={k} es={es}"


@given(_GRAPH)
@_SETTINGS
def test_wedge_family_vs_naive_random(spark, es):
    """Triangle totals and per-vertex counts, edge support and k-cores —
    every operator on the shared undirected view and wedge kernel —
    equal the python oracles on random digraphs. The frame is built with
    int ids, so the view's own cast to long is what the oracles see."""
    from detectingscc_spark.operators.kcore import kcore
    from detectingscc_spark.operators.triangles import triangle_count, triangle_count_per_vertex
    from detectingscc_spark.operators.truss import edge_support

    from .oracles import kcore_peel, triangles_brute
    from .test_companion_algos import _naive_support

    g = spark.createDataFrame(es, "src int, dst int")
    total, per = triangles_brute(es)
    assert triangle_count(spark, g) == total, es
    tpv_df = triangle_count_per_vertex(spark, g)
    assert tpv_df.schema["id"].dataType.typeName() == "long"
    tpv = {r["id"]: r["triangles"] for r in tpv_df.collect()}
    assert tpv == {x: per.get(x, 0) for e in es for x in e}, es
    und = {(min(a, b), max(a, b)) for a, b in es if a != b}
    sup = {(r["a"], r["b"]): r["support"] for r in edge_support(spark, g).collect()}
    assert sup == _naive_support(und), es
    for k in (2, 3):
        got = {r["id"] for r in kcore(spark, g, k=k).collect()}
        assert got == kcore_peel(es, k), f"k={k} es={es}"


@given(_GRAPH)
@_SETTINGS
def test_harmonic_vs_naive_random(spark, es):
    """Landmark harmonic centrality equals the python BFS oracle on
    random digraphs; landmarks = odd ids (a nontrivial subset)."""
    from collections import deque

    from detectingscc_spark.operators.centrality import harmonic_centrality

    g = spark.createDataFrame(es, "src long, dst long")
    ids = sorted({x for e in es for x in e})
    lms = [i for i in ids if i % 2 == 1]
    if not lms:
        return
    lm_df = spark.createDataFrame([(i,) for i in lms], "id long")
    adj = {}
    for a, b in es:
        if a != b:
            adj.setdefault(a, set()).add(b)
    want = {i: [0, 0.0] for i in ids}
    for lm in lms:
        dist = {lm: 0}
        q = deque([lm])
        while q:
            x = q.popleft()
            for y in adj.get(x, ()):
                if y not in dist:
                    dist[y] = dist[x] + 1
                    q.append(y)
        for node, d in dist.items():
            if d > 0:
                want[node][0] += 1
                want[node][1] += 1.0 / d
    got = {
        r["id"]: (r["n_reached"], r["harmonic6"])
        for r in harmonic_centrality(spark, g, lm_df).collect()
    }
    assert set(got) == set(want)
    for i in ids:
        assert got[i][0] == want[i][0], (i, es)
        assert abs(got[i][1] - round(want[i][1], 6)) < 2e-6, (i, es)


@given(_GRAPH)
@_SETTINGS
def test_transitive_closure_random(spark, es):
    """Path-doubling closure equals python DFS reachability on random
    digraphs (cycles allowed: (x,x) pairs appear exactly when x is on a
    cycle, mirroring the docstring contract)."""
    from detectingscc_spark.operators.condensation import transitive_closure

    g = spark.createDataFrame(es, "src long, dst long")
    adj = {}
    for a, b in es:
        adj.setdefault(a, set()).add(b)
    want = set()
    for s in adj:
        seen, stack = set(), [s]
        while stack:
            x = stack.pop()
            for y in adj.get(x, ()):
                if y not in seen:
                    seen.add(y)
                    stack.append(y)
        want |= {(s, d) for d in seen}
    got = {(r["src"], r["dst"]) for r in transitive_closure(spark, g).collect()}
    assert got == want, es


@given(_GRAPH)
@_SETTINGS
def test_link_prediction_vs_naive_random(spark, es):
    """Full-ranking parity vs a naive python oracle on random digraphs:
    same pair set, same common counts, same scores (6dp)."""
    import math

    from detectingscc_spark.operators.linkpred import link_prediction

    g = spark.createDataFrame(es, "src long, dst long")
    und = {(min(a, b), max(a, b)) for a, b in es if a != b}
    nbr = {}
    for a, b in und:
        nbr.setdefault(a, set()).add(b)
        nbr.setdefault(b, set()).add(a)
    want = {}
    ids = sorted(nbr)
    for i, a in enumerate(ids):
        for b in ids[i + 1:]:
            if (a, b) in und:
                continue
            com = nbr[a] & nbr[b]
            if not com:
                continue
            aa = sum(1.0 / math.log(len(nbr[x])) for x in com)
            jac = len(com) / (len(nbr[a]) + len(nbr[b]) - len(com))
            want[(a, b)] = (len(com), round(jac, 6), round(aa, 6))

    got = {
        (r["a"], r["b"]): (r["common"], r["jaccard6"], r["adamic_adar6"])
        for r in link_prediction(spark, g, top_k=10_000).collect()
    }
    assert set(got) == set(want), es
    for k in want:
        assert got[k][0] == want[k][0], (k, es)
        assert abs(got[k][1] - want[k][1]) < 2e-6, (k, es)
        assert abs(got[k][2] - want[k][2]) < 2e-6, (k, es)


@given(_GRAPH)
@_SETTINGS
def test_salsa_vs_numpy_random(spark, es):
    """SALSA numpy parity on random digraphs with duplicate edges and
    self-loops (multiplicity counts in degrees and pushes)."""
    import numpy as np

    from detectingscc_spark.operators.hits import salsa

    g = spark.createDataFrame(es, "src long, dst long")
    ids = sorted({x for e in es for x in e})
    v = spark.createDataFrame([(i,) for i in ids], "id long")
    got = {r["id"]: (r["auth"], r["hub"]) for r in salsa(spark, g, v, iters=5).collect()}

    idx = {x: i for i, x in enumerate(ids)}
    n = len(ids)
    A = np.zeros((n, n))
    for s_, d_ in es:
        A[idx[s_], idx[d_]] += 1.0
    od = A.sum(axis=1)
    ind = A.sum(axis=0)
    Wr = np.divide(A, od[:, None], out=np.zeros_like(A), where=od[:, None] > 0)
    Wc = np.divide(A, ind[None, :], out=np.zeros_like(A), where=ind[None, :] > 0)
    h = np.full(n, 1.0 / n)
    a = np.zeros(n)
    for _ in range(5):
        a = Wr.T @ h
        a /= a.sum()
        h = Wc @ a
        h /= h.sum()
    for x in ids:
        assert abs(got[x][0] - a[idx[x]]) < 1e-9, (x, es)
        assert abs(got[x][1] - h[idx[x]]) < 1e-9, (x, es)
