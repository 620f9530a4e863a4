"""Training-data operators: dedup / similarity / textstats,
differential-tested against brute-force pandas/numpy on small frames.
"""

import hashlib

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from pycorrector_spark.operators.dedup import (
    exact_dedup_groups,
    exact_dedup_keep,
    minhash_dedup_pairs,
    minhash_lsh_candidates,
    minhash_signatures,
    ngram_jaccard_pairs,
    simhash64,
    simhash_near_pairs,
)
from pycorrector_spark.operators.similarity import cosine_topk, lsh_topk, matmul_topk
from pycorrector_spark.operators.textstats import (
    fingerprint_py,
    with_fingerprint,
    with_token_counts,
)


@pytest.fixture(scope="module")
def dup_df(spark):
    rows = [
        (0, "the quick brown fox jumps over the lazy dog"),
        (1, "the quick brown fox jumps over the lazy dog"),        # exact dup of 0
        (2, "the quick brown fox jumps over the lazy cat"),        # near dup
        (3, "completely different text about spark pipelines here"),
        (4, "another unrelated document mentioning data quality"),
        (5, "the quick brown fox jumps over the lazy dog today"),  # near dup
        (6, ""),
        (7, "short one"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def _true_jaccard(a: str, b: str, k: int = 3):
    def sh(t):
        w = [x for x in t.lower().split() if x]
        return set(" ".join(w[i:i + k]) for i in range(len(w) - k + 1))
    sa, sb = sh(a), sh(b)
    if not sa or not sb:
        return 0.0
    return len(sa & sb) / len(sa | sb)


def test_exact_dedup_groups(spark, dup_df):
    got = {r["text_md5"]: (r["keeper_id"], r["n_dups"]) for r in exact_dedup_groups(dup_df).collect()}
    md5 = hashlib.md5("the quick brown fox jumps over the lazy dog".encode()).hexdigest()
    assert got[md5] == (0, 2)       # min-id keeper, 2 copies
    assert len(got) == 7            # 8 rows, one exact dup


def test_exact_dedup_keep(spark, dup_df):
    kept = sorted(r["doc_id"] for r in exact_dedup_keep(dup_df).collect())
    assert kept == [0, 2, 3, 4, 5, 6, 7]


def test_jaccard_pairs_match_bruteforce(spark, dup_df):
    texts = {r["doc_id"]: r["text"] for r in dup_df.collect()}
    got = {(r["id_a"], r["id_b"]): r["jaccard"]
           for r in ngram_jaccard_pairs(dup_df, k=3, threshold=0.3).collect()}
    want = {}
    ids = sorted(texts)
    for i in ids:
        for j in ids:
            if i < j:
                jac = _true_jaccard(texts[i], texts[j], 3)
                if jac >= 0.3:
                    want[(i, j)] = jac
    assert set(got) == set(want)
    for key in want:
        assert got[key] == pytest.approx(want[key])


def test_minhash_signature_estimates_jaccard(spark, dup_df):
    sigs = {r["doc_id"]: np.array(r["sig"]) for r in
            minhash_signatures(dup_df, k=3, num_perm=128).collect()}
    texts = {r["doc_id"]: r["text"] for r in dup_df.collect()}
    est = float(np.mean(sigs[0] == sigs[2]))
    true = _true_jaccard(texts[0], texts[2], 3)
    assert abs(est - true) < 0.2
    # identical docs -> identical signatures
    assert (sigs[0] == sigs[1]).all()


def test_minhash_lsh_finds_exact_dups(spark, dup_df):
    cands = minhash_lsh_candidates(
        minhash_signatures(dup_df, k=3, num_perm=64), bands=16, rows_per_band=4
    )
    pairs = {(r["id_a"], r["id_b"]) for r in cands.collect()}
    assert (0, 1) in pairs


def test_minhash_dedup_pairs_verified(spark, dup_df):
    got = {(r["id_a"], r["id_b"]): r["jaccard"] for r in
           minhash_dedup_pairs(dup_df, k=3, num_perm=64, bands=16, threshold=0.5).collect()}
    # the exact dup pair must survive with jaccard 1.0
    assert got[(0, 1)] == pytest.approx(1.0)
    # every reported jaccard is the EXACT value (verification step)
    texts = {r["doc_id"]: r["text"] for r in dup_df.collect()}
    for (i, j), jac in got.items():
        assert jac == pytest.approx(_true_jaccard(texts[i], texts[j], 3))


def test_simhash_properties(spark, dup_df):
    hs = {r["doc_id"]: r["simhash"] for r in simhash64(dup_df).collect()}
    assert hs[0] == hs[1]             # identical text -> identical hash
    assert hs[6] == 0                 # empty text
    def hamming(a, b):
        return bin((a ^ b) & 0xFFFFFFFFFFFFFFFF).count("1")
    # near-dup closer than unrelated
    assert hamming(hs[0], hs[2]) < hamming(hs[0], hs[3])


def test_simhash_near_pairs(spark, dup_df):
    pairs = {(r["id_a"], r["id_b"]): r["hamming"]
             for r in simhash_near_pairs(simhash64(dup_df), max_distance=3).collect()}
    assert pairs.get((0, 1)) == 0


# -- similarity search --

@pytest.fixture(scope="module")
def emb_df(spark):
    rng = np.random.default_rng(7)
    vecs = rng.standard_normal((40, 16)).astype(np.float64)
    vecs[1] = 1.1 * vecs[0]   # same direction: cosine 1.0, identical LSH buckets
    pdf = pd.DataFrame({"vec_id": range(40), "embedding": [list(map(float, v)) for v in vecs]})
    return spark.createDataFrame(pdf), vecs


def _brute_topk(vecs, qids, k):
    norms = np.linalg.norm(vecs, axis=1)
    want = {}
    for q in qids:
        sims = vecs @ vecs[q] / (norms * norms[q])
        order = sorted(((-sims[i], i) for i in range(len(vecs)) if i != q))
        want[q] = [(i, -s) for s, i in order[:k]]
    return want


def test_cosine_topk_exact(spark, emb_df):
    df, vecs = emb_df
    queries = df.filter(F.col("vec_id") < 4)
    got = cosine_topk(df, queries, k=3).collect()
    want = _brute_topk(vecs, range(4), 3)
    for r in got:
        wid, wcos = want[r["query_id"]][r["rank"] - 1]
        assert r["neighbor_id"] == wid
        assert r["cosine"] == pytest.approx(wcos, rel=1e-9)


def test_matmul_topk_matches_exact(spark, emb_df):
    df, vecs = emb_df
    qpdf = pd.DataFrame({"vec_id": [0, 1, 2, 3],
                         "embedding": [list(map(float, vecs[i])) for i in range(4)]})
    got = matmul_topk(df, qpdf, k=3).collect()
    want = _brute_topk(vecs, range(4), 3)
    for r in got:
        wid, wcos = want[r["query_id"]][r["rank"] - 1]
        assert r["neighbor_id"] == wid
        assert r["cosine"] == pytest.approx(wcos, rel=1e-9)


def test_lsh_topk_is_subset_ranked_by_true_cosine(spark, emb_df):
    df, vecs = emb_df
    queries = df.filter(F.col("vec_id") < 4)
    got = lsh_topk(df, queries, k=3, n_planes=4).collect()
    norms = np.linalg.norm(vecs, axis=1)
    for r in got:
        true_cos = float(vecs[r["query_id"]] @ vecs[r["neighbor_id"]]
                         / (norms[r["query_id"]] * norms[r["neighbor_id"]]))
        assert r["cosine"] == pytest.approx(true_cos, rel=1e-9)
    # the engineered near-twin (0,1) shares every bucket at this dimension
    assert any(r["query_id"] == 0 and r["neighbor_id"] == 1 for r in got)


# -- textstats --

def test_token_counts(spark):
    df = spark.createDataFrame(
        [(0, "hello world 123"), (1, "中文测试 abc"), (2, "")],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: (r["ws_tokens"], r["bpe_tokens"]) for r in with_token_counts(df).collect()}
    assert got[0] == (3, 3)         # hello, world, 123
    assert got[1] == (2, 5)         # 4 cjk chars + abc
    assert got[2] == (0, 0)


def test_fingerprint_matches_python(spark, docs_pdf):
    sample = docs_pdf.head(50)[["text"]].reset_index(drop=True)
    sample.insert(0, "doc_id", range(50))
    df = spark.createDataFrame(sample)
    got = {r["doc_id"]: r["fingerprint"] for r in with_fingerprint(df).collect()}
    for i, t in enumerate(sample["text"]):
        assert got[i] == fingerprint_py(t)


def test_ivf_topk_recall_vs_exact(spark):
    import numpy as np

    from pycorrector_spark.operators.similarity import (
        ivf_topk,
        kmeans_centroids,
        matmul_topk,
    )

    rng = np.random.default_rng(11)
    # 4 well-separated clusters so IVF recall is perfect with nprobe=2
    centers = rng.standard_normal((4, 12)) * 8
    vecs = np.vstack([c + 0.3 * rng.standard_normal((30, 12)) for c in centers])
    rows = [(i, [float(x) for x in vecs[i]]) for i in range(len(vecs))]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    import pandas as pd

    qpdf = pd.DataFrame(
        {"vec_id": [0, 35, 70], "embedding": [list(vecs[0]), list(vecs[35]), list(vecs[70])]}
    )
    cents = kmeans_centroids(vecs, k=4)
    exact = matmul_topk(df, qpdf, k=3).collect()
    approx = ivf_topk(df, qpdf, cents, k=3, nprobe=2).collect()
    ex = {(r["query_id"], r["rank"]): r["neighbor_id"] for r in exact}
    ap = {(r["query_id"], r["rank"]): r["neighbor_id"] for r in approx}
    assert ex == ap  # same-cluster neighbors live in the probed cells


def test_ivf_assign_deterministic(spark):
    import numpy as np

    from pycorrector_spark.operators.similarity import ivf_assign, kmeans_centroids

    rng = np.random.default_rng(3)
    vecs = rng.standard_normal((50, 8))
    rows = [(i, [float(x) for x in vecs[i]]) for i in range(50)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cents = kmeans_centroids(vecs, k=5)
    a = {r["vec_id"]: r["cell"] for r in ivf_assign(df, cents).collect()}
    b = {r["vec_id"]: r["cell"] for r in ivf_assign(df, cents).collect()}
    assert a == b
    assert set(a.values()) <= set(range(5))


def test_exact_dedup_null_text_not_collapsed(spark):
    from pycorrector_spark.operators.dedup import exact_dedup_groups, exact_dedup_keep

    df = spark.createDataFrame(
        [(1, "same"), (2, "same"), (3, None), (4, None)],
        "doc_id long, text string",
    )
    groups = exact_dedup_groups(df).collect()
    assert len(groups) == 1  # only the non-null duplicate group
    kept = sorted(r["doc_id"] for r in exact_dedup_keep(df).collect())
    # doc 2 is a real duplicate of 1; both NULL-text rows survive untouched
    assert kept == [1, 3, 4]


def test_minhash_banding_config_validated(spark):
    import pytest

    from pycorrector_spark.operators.dedup import minhash_dedup_pairs

    docs = spark.createDataFrame([(1, "a b c d e")], "doc_id long, text string")
    with pytest.raises(ValueError):
        minhash_dedup_pairs(docs, num_perm=64, bands=10).count()


def test_ivf_build_probe_prunes_and_matches_ivf_topk(spark, tmp_path):
    """The stored-index path: build writes cell-partitioned parquet, probe
    reads ONLY the nprobe cell directories (plan shows a cell filter /
    partition pruning) and returns the same neighbors as the in-flight
    ivf_topk for identical centroids/nprobe."""
    import numpy as np
    import pandas as pd

    from pycorrector_spark.operators.similarity import (
        ivf_build,
        ivf_probe,
        ivf_topk,
        kmeans_centroids,
    )

    rng = np.random.default_rng(11)
    centers = rng.standard_normal((4, 12)) * 8
    vecs = np.vstack([c + 0.3 * rng.standard_normal((30, 12)) for c in centers])
    rows = [(i, [float(x) for x in vecs[i]]) for i in range(len(vecs))]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    qpdf = pd.DataFrame(
        {"vec_id": [0, 35], "embedding": [list(vecs[0]), list(vecs[35])]}
    )
    cents = kmeans_centroids(vecs, k=4)

    path = str(tmp_path / "ivf")
    ivf_build(df, cents, path)
    # one directory per cell on disk (physical partition pruning substrate)
    import os

    cell_dirs = [d for d in os.listdir(path) if d.startswith("cell=")]
    assert len(cell_dirs) == 4

    probed = ivf_probe(spark, path, qpdf, cents, k=3, nprobe=2)
    inflight = ivf_topk(df, qpdf, cents, k=3, nprobe=2).collect()
    stored = probed.collect()
    key = lambda rs: {(r["query_id"], r["rank"]): r["neighbor_id"] for r in rs}
    assert key(stored) == key(inflight)

    # pruning is real: reading with the same cell filter touches only the
    # probed subset of rows
    from pyspark.sql import functions as F

    d = ((cents ** 2).sum(axis=1)[None, :]) - 2.0 * (
        np.stack(qpdf["embedding"].apply(np.asarray).values) @ cents.T
    )
    probe_cells = sorted(
        {int(c) for row in np.argsort(d, axis=1)[:, :2] for c in row}
    )
    pruned_rows = (
        spark.read.parquet(path).filter(F.col("cell").isin(probe_cells)).count()
    )
    assert pruned_rows < len(vecs)


def test_jaccard_max_df_caps_hot_shingle_blowup(spark):
    """Skew guard: one boilerplate sentence duplicated across many docs
    makes every doc share its shingles — uncapped, the inverted-index
    self-join goes quadratic in the duplicate count. With max_df below the
    duplicate count the boilerplate shingles are dropped BEFORE the join:
    the boilerplate-only docs produce no pairs, while genuinely-similar
    docs (whose distinguishing shingles are rare) still pair up."""
    from pycorrector_spark.operators.dedup import ngram_jaccard_pairs

    boiler = "all rights reserved contact the site admin for details"
    rows = [(i, boiler) for i in range(200)]
    # two near-dup docs sharing rare shingles
    rows.append((1000, "rare alpha beta gamma delta epsilon"))
    rows.append((1001, "rare alpha beta gamma delta zeta"))
    df = spark.createDataFrame(rows, "doc_id long, text string")

    capped = ngram_jaccard_pairs(df, k=2, threshold=0.3, max_df=50).collect()
    pairs = {(r["id_a"], r["id_b"]) for r in capped}
    # the 200 identical boilerplate docs contribute ZERO pairs (their
    # shingles all have df=200 > 50) instead of C(200,2)=19900
    assert pairs == {(1000, 1001)}

    # uncapped control on a small slice: boilerplate docs DO pair
    small = spark.createDataFrame(rows[:5], "doc_id long, text string")
    uncapped = ngram_jaccard_pairs(small, k=2, threshold=0.3).collect()
    assert len(uncapped) == 10  # C(5,2)


def test_similarity_kernels_survive_null_and_empty_inputs(spark):
    """NULL embedding rows are dropped by every numpy kernel (a single
    None row otherwise turns np.stack into a ragged-array crash), and
    empty corpora/query sets return empty results instead of raising."""
    import pandas as pd

    from pycorrector_spark.operators.similarity import (
        cosine_near_dup_pairs,
        cosine_near_dup_pairs_bucketed,
        matmul_topk,
    )

    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [1.0, 0.0, 0.0, 0.0]),
        (2, None),
        (3, [0.0, 1.0, 0.0, 0.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    pairs = cosine_near_dup_pairs(df, threshold=0.9).collect()
    assert {(r["id_a"], r["id_b"]) for r in pairs} == {(0, 1)}
    pairs_b = cosine_near_dup_pairs_bucketed(df, threshold=0.9, n_planes=8, bands=2).collect()
    assert {(r["id_a"], r["id_b"]) for r in pairs_b} == {(0, 1)}

    qpdf = pd.DataFrame({"vec_id": [0, 9], "embedding": [[1.0, 0.0, 0.0, 0.0], None]})
    top = matmul_topk(df, qpdf, k=2).collect()
    assert all(r["query_id"] == 0 for r in top)

    empty = spark.createDataFrame([], "vec_id long, embedding array<double>")
    assert cosine_near_dup_pairs(empty).collect() == []
    assert matmul_topk(df, qpdf.iloc[:0], k=2).collect() == []

    # round-4 verdict ask #9: the exact GEMM baseline collects the whole
    # corpus to the driver, so direct callers must fail LOUDLY past the
    # broadcast envelope instead of silently OOMing
    with pytest.raises(ValueError, match="exact_limit"):
        cosine_near_dup_pairs(df, exact_limit=3)
    # a deliberate larger limit still works
    assert {(r["id_a"], r["id_b"])
            for r in cosine_near_dup_pairs(df, exact_limit=4).collect()} == {(0, 1)}


def test_simhash_near_pairs_excludes_wordless_sentinel(spark):
    """Empty/whitespace docs all hash to 0; they must not pairwise match
    (n^2 false positives on a web corpus full of blank rows)."""
    from pycorrector_spark.operators.dedup import simhash64, simhash_near_pairs

    rows = [(i, "   ") for i in range(10)] + [
        (100, "real text body one"), (101, "real text body one"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = {(r["id_a"], r["id_b"]) for r in simhash_near_pairs(simhash64(df)).collect()}
    assert pairs == {(100, 101)}


def test_connected_components_matches_union_find(spark):
    """Alternating-star CC vs a driver-side union-find on a graph with a
    path (forces >1 round), a clique, an isolated edge, and id gaps."""
    from pycorrector_spark.operators.dedup import connected_components

    edges = [(1, 2), (2, 3), (3, 4), (4, 5),          # path -> rep 1
             (10, 11), (11, 12), (10, 12),            # clique -> rep 10
             (20, 21),                                # pair -> rep 20
             (30, 7), (7, 99)]                        # out-of-order ids -> rep 7
    df = spark.createDataFrame(edges, "id_a long, id_b long")

    parent = {}
    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x
    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    want = {n: find(n) for n in parent}

    got = {r["node"]: r["rep"] for r in connected_components(df).collect()}
    assert got == want


def test_near_dup_clusters_canonical_flags(spark, dup_df):
    """Every doc appears once; exact/near dups share a rep; singletons are
    their own canonical; exactly one canonical per cluster."""
    from pycorrector_spark.operators.dedup import near_dup_clusters

    rows = near_dup_clusters(dup_df, k=3, threshold=0.3, max_df=None).collect()
    by_id = {r["doc_id"]: r for r in rows}
    assert len(rows) == dup_df.count()
    # 0 and 1 are byte-identical -> same cluster, rep is the min id
    assert by_id[0]["rep"] == by_id[1]["rep"] == 0
    assert by_id[0]["is_canonical"] and not by_id[1]["is_canonical"]
    # isolated docs are their own canonical rep
    assert by_id[3]["rep"] == 3 and by_id[3]["is_canonical"]
    # exactly one canonical per rep group
    reps = {}
    for r in rows:
        reps.setdefault(r["rep"], []).append(r["is_canonical"])
    for rep, flags in reps.items():
        assert sum(flags) == 1 and by_id[rep]["is_canonical"]


def test_substring_dedup_keep_first_span(spark):
    from pycorrector_spark.operators.dedup import substring_dedup

    run = "w1 w2 w3 w4 w5 w6 w7 w8"  # exactly one 8-word window
    rows = [
        (1, run + " unique one"),
        (2, "prefix two " + run),       # loses the run, keeps its prefix
        (3, run),                        # loses everything
        (4, "short doc"),                # < window words: untouched
        (5, None),
    ]
    df = spark.createDataFrame(rows, "doc_id: long, text: string")
    out = {r["doc_id"]: r for r in substring_dedup(df).collect()}
    assert out[1]["clean_text"] == run + " unique one"
    assert out[1]["n_dropped_tokens"] == 0
    assert out[2]["clean_text"] == "prefix two"
    assert out[2]["n_dropped_tokens"] == 8
    assert out[3]["clean_text"] == "" and out[3]["n_dropped_tokens"] == 8
    assert out[4]["clean_text"] == "short doc"
    assert out[4]["n_dropped_tokens"] == 0
    assert out[5]["clean_text"] == "" and out[5]["n_dropped_tokens"] == 0


def test_substring_dedup_intra_doc_overlap(spark):
    from pycorrector_spark.operators.dedup import substring_dedup

    # "a b" * 9 = 18 words: windows at pos 0..10; window text alternates
    # between two forms, each repeated -> all windows after the first two
    # are duplicates; coverage drops every token from pos 2 onward.
    df = spark.createDataFrame(
        [(9, " ".join(["a", "b"] * 9))], "doc_id: long, text: string"
    )
    row = substring_dedup(df).collect()[0]
    assert row["clean_text"] == "a b"
    assert row["n_dropped_tokens"] == 16


def test_connected_components_nonconvergence_raises(spark):
    """Round-3 advice: exhausting max_iter without the (count, checksum)
    fixpoint must raise, not silently return a non-star edge set (the
    leaves/roots extraction below the loop is only valid at the
    fixpoint)."""
    import pytest as _pytest

    from pycorrector_spark.operators.dedup import connected_components

    # a 6-node path needs ~2 alternating rounds; max_iter=1 cannot even
    # detect the fixpoint (detection needs one extra no-change round)
    edges = [(i, i + 1) for i in range(6)]
    df = spark.createDataFrame(edges, "id_a long, id_b long")
    with _pytest.raises(RuntimeError, match="did not converge"):
        connected_components(df, max_iter=1)
    # and with the default budget the same graph converges fine
    got = {r["node"]: r["rep"] for r in connected_components(df).collect()}
    assert set(got.values()) == {0}


def test_release_zip_finders_stops_archive_rereads(tmp_path, monkeypatch):
    """After a score task releases the cached zipimporters,
    importlib.invalidate_caches() reads no archive directory, and a later
    import from the zip still works without reading it either."""
    import importlib
    import sys
    import zipfile
    import zipimport

    from pycorrector_spark.operators.score import _release_zip_finders

    archive = str(tmp_path / "zpkg.zip")
    with zipfile.ZipFile(archive, "w") as zf:
        zf.writestr("zpkg/__init__.py", "")
        zf.writestr("zpkg/a.py", "A = 1\n")
        zf.writestr("zpkg/b.py", "B = 2\n")

    reads = []
    real_read = zipimport._read_directory

    def counting_read(path):
        reads.append(path)
        return real_read(path)

    sys.path.insert(0, archive)
    try:
        import zpkg.a

        assert zpkg.a.A == 1
        monkeypatch.setattr(zipimport, "_read_directory", counting_read)
        importlib.invalidate_caches()
        assert len(reads) >= 1

        _release_zip_finders()
        assert not any(
            isinstance(f, zipimport.zipimporter)
            for f in sys.path_importer_cache.values()
        )
        reads.clear()
        importlib.invalidate_caches()
        assert reads == []

        import zpkg.b

        assert zpkg.b.B == 2
        assert reads == []
    finally:
        sys.path.remove(archive)
        for name in ("zpkg", "zpkg.a", "zpkg.b"):
            sys.modules.pop(name, None)
        for path in [p for p in sys.path_importer_cache if p.startswith(archive)]:
            del sys.path_importer_cache[path]
