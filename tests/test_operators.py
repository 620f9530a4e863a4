"""Training-data operators: dedup / textstats,
differential-tested against brute-force pandas/numpy on small frames.
"""

import hashlib

import numpy as np
import pytest

from pycorrector_spark.operators.dedup import (
    exact_dedup_groups,
    exact_dedup_keep,
    minhash_dedup_pairs,
    minhash_lsh_candidates,
    minhash_signatures,
    ngram_jaccard_pairs,
    release_cached,
)
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
    """A rejected banding raises before any Spark work: the caller never
    gets the handle release_cached needs, so nothing may stay cached."""
    docs = spark.createDataFrame([(1, "a b c d e")], "doc_id long, text string")
    spark.catalog.clearCache()
    with pytest.raises(ValueError):
        minhash_dedup_pairs(docs, num_perm=64, bands=10).count()
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_near_dup_generators_skip_blank_documents(spark):
    """Empty, NULL and whitespace-only docs have no shingles, so they are
    never a near-dup candidate: a web corpus full of blank rows must not
    pair them up (n^2/2 false pairs)."""
    schema = "doc_id long, text string"
    blank = [(i, t) for i, t in enumerate(["", " ", "   ", "\t", "\n \r"] * 2)]

    def pairs(df):
        mh = minhash_dedup_pairs(df)
        got = {
            "jaccard": {(r["id_a"], r["id_b"]) for r in ngram_jaccard_pairs(df).collect()},
            "jaccard_max_df": {
                (r["id_a"], r["id_b"]) for r in ngram_jaccard_pairs(df, max_df=5).collect()
            },
            "minhash": {(r["id_a"], r["id_b"]) for r in mh.collect()},
        }
        release_cached(mh)
        return got

    for rows in ([], [(i, None) for i in range(10)], blank[:4]):
        assert pairs(spark.createDataFrame(rows, schema)) == {
            "jaccard": set(), "jaccard_max_df": set(), "minhash": set()
        }
    real = [(100, "real text body one"), (101, "real text body one")]
    assert pairs(spark.createDataFrame(blank + real, schema)) == {
        "jaccard": {(100, 101)}, "jaccard_max_df": {(100, 101)}, "minhash": {(100, 101)}
    }


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

    from pycorrector_spark.stage import _release_zip_finders

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
