"""Round-7 optimization pins: internals changed for performance must
stay value-identical to the shapes they replaced."""

from __future__ import annotations

from pyspark.sql import functions as F

from datacurator_jl_spark.operators import dedup as DD


def _mk_edges(spark, pairs):
    both = pairs + [(b, a) for a, b in pairs]
    return DD._materialize(
        spark.createDataFrame(both, "src long, dst long"), "local"
    )


def test_driver_components_match_distributed_plain_labels(spark, monkeypatch):
    """The driver union-find path (round-7) must reach the exact
    component-min fixpoint the distributed min-label loop reaches —
    chain-shaped graph (diameter 5) plus a singleton."""
    # chain 1-2-3-4-5-6, pair (10, 11), singleton 20
    pairs = [(1, 2), (2, 3), (3, 4), (4, 5), (5, 6), (10, 11)]
    universe = spark.createDataFrame(
        [(d,) for d in [1, 2, 3, 4, 5, 6, 10, 11, 20]], "doc long"
    )
    edges = _mk_edges(spark, pairs)
    labels = DD._materialize(
        universe.select("doc").distinct().withColumn("comp", F.col("doc")),
        "local",
    )
    got_driver = {
        (r["doc"], r["comp"])
        for r in DD._propagate_min_labels(edges, labels, 25, "local").collect()
    }
    monkeypatch.setattr(DD, "DRIVER_COMPONENTS_MAX_EDGES", 0)
    got_dist = {
        (r["doc"], r["comp"])
        for r in DD._propagate_min_labels(edges, labels, 25, "local").collect()
    }
    assert got_driver == got_dist
    assert (20, 20) in got_driver  # singleton keeps its self-label
    assert all(c == 1 for d, c in got_driver if d in {1, 2, 3, 4, 5, 6})


def test_driver_components_match_distributed_struct_labels(spark, monkeypatch):
    """Struct (rank, id) labels — the incremental-ingest flavor where
    base docs (rank 0) must win any mixed component — must also be
    bit-identical between the two paths."""
    pairs = [(1, 2), (2, 3), (5, 6)]  # 3 is a base doc; 5-6 all-new
    new_ids = [1, 2, 5, 6]
    base_ids = [3]
    labels_rows = [
        (d, {"rank": 1, "id": d}) for d in new_ids
    ] + [(d, {"rank": 0, "id": d}) for d in base_ids]
    labels = DD._materialize(
        spark.createDataFrame(
            labels_rows, "doc long, comp struct<rank:int, id:long>"
        ),
        "local",
    )
    edges = _mk_edges(spark, pairs)
    got_driver = {
        (r["doc"], tuple(r["comp"]))
        for r in DD._propagate_min_labels(edges, labels, 25, "local").collect()
    }
    monkeypatch.setattr(DD, "DRIVER_COMPONENTS_MAX_EDGES", 0)
    got_dist = {
        (r["doc"], tuple(r["comp"]))
        for r in DD._propagate_min_labels(edges, labels, 25, "local").collect()
    }
    assert got_driver == got_dist
    # the 1-2-3 component is base-rooted; 5-6 stays new-rooted at min id
    by_doc = dict(got_driver)
    assert by_doc[1] == (0, 3) and by_doc[2] == (0, 3)
    assert by_doc[5] == (1, 5) and by_doc[6] == (1, 5)


def test_driver_components_fall_back_on_unlabeled_endpoint(spark):
    """An edge endpoint with no initial label cannot forward labels in
    the distributed loop — the driver path must refuse (fall back)
    rather than bridge through it."""
    pairs = [(1, 99), (99, 2)]  # 99 has no label row
    labels = DD._materialize(
        spark.createDataFrame(
            [(1, 1), (2, 2)], "doc long, comp long"
        ),
        "local",
    )
    edges = _mk_edges(spark, pairs)
    out = {
        (r["doc"], r["comp"])
        for r in DD._propagate_min_labels(edges, labels, 25, "local").collect()
    }
    # distributed semantics: 1 and 2 cannot see each other through 99
    assert out == {(1, 1), (2, 2)}


def test_driver_kmeans_fit_matches_distributed(spark, monkeypatch):
    """The driver numpy k-means twin (round-7) must produce BIT-EQUAL
    centroids to the distributed Lloyd's plan — duplicate vectors
    (exact 6dp ties), opposite vectors, k > n, and iters=0 included.
    The zero-norm vector is excluded from fit by both paths."""
    import random

    from datacurator_jl_spark.operators import similarity as SIM

    random.seed(3)
    rows = []
    for i in range(120):
        if i % 5 == 0:
            v = [1.0, 0.0, 0.0]
        elif i % 5 == 1:
            v = [-1.0, 0.0, 0.0]
        else:
            v = [random.uniform(-1, 1) for _ in range(3)]
        rows.append((i, v))
    rows.append((500, [0.0, 0.0, 0.0]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    def cents(d):
        return {(r["cid"], tuple(r["centroid"])) for r in d.collect()}

    for k, iters in [(4, 3), (1, 0), (200, 2)]:
        a = cents(SIM.kmeans_fit(df, "vec_id", "embedding", k=k, iters=iters))
        b = cents(
            SIM.kmeans_fit(
                df, "vec_id", "embedding", k=k, iters=iters, driver_max_rows=0
            )
        )
        assert a == b, (k, iters)


def test_bucket_star_edges_components_match_pairwise(spark):
    """Round-7: per-bucket STAR edges must yield the same connected
    components as the full pairwise candidate join — overlapping
    buckets chain components across bands exactly as before."""
    from pyspark.sql import functions as F

    from datacurator_jl_spark.operators.dedup import (
        _bucket_star_edges,
        _materialize,
        components_from_pairs,
    )

    # buckets: (band, key) groups with overlap: doc 3 bridges two keys
    rows = [
        (1, 0, 10), (2, 0, 10), (3, 0, 10),   # bucket A: {1,2,3}
        (3, 1, 20), (4, 1, 20), (5, 1, 20),   # bucket B: {3,4,5} — chains
        (7, 0, 30), (8, 0, 30),               # bucket C: {7,8}
        (9, 1, 40),                           # singleton bucket
    ]
    buckets = _materialize(
        spark.createDataFrame(rows, "doc long, band int, key long"), "local"
    )
    universe = spark.createDataFrame([(i,) for i in range(1, 10)], "doc long")
    star = _bucket_star_edges(buckets, None)
    a, b = buckets.alias("a"), buckets.alias("b")
    clique = (
        a.join(b, ["band", "key"])
        .filter(F.col("a.doc") < F.col("b.doc"))
        .select(F.col("a.doc").alias("id_a"), F.col("b.doc").alias("id_b"))
        .distinct()
    )
    got_star = {
        (r["doc"], r["comp"])
        for r in components_from_pairs(star, universe).collect()
    }
    got_clique = {
        (r["doc"], r["comp"])
        for r in components_from_pairs(clique, universe).collect()
    }
    assert got_star == got_clique
    assert (5, 1) in got_star     # chained across buckets A/B
    assert (8, 7) in got_star and (9, 9) in got_star


def test_arrow_stats_tokenizer_parity_reference():
    """The Arrow tokenization behind _token_stats_batch
    (functions/tokens.token_codes: ascii_split_whitespace + empty-token
    drop + dictionary_encode) must produce the EXACT per-row stats of a
    re.ASCII \\S+ findall reference -- including the boundary cases
    where Arrow's splitter emits empty strings (leading/trailing
    whitespace, all-whitespace docs), the chars Python's ASCII \\s
    excludes (\\x00, \\x1c-\\x1f, \\x85, \\xa0, U+2028), and the
    round-7 char/line fields (ncnw/nl/ndl/nsym) against char-by-char
    references."""
    import re

    import pandas as pd

    from datacurator_jl_spark.functions.arrow_stats import (
        _SET_LIST,
        _TBL,
        _token_stats_batch,
    )
    from datacurator_jl_spark.functions.text import _ALLOWED, _WS, STATS_FIELDS

    rx = re.compile(r"\S+", re.ASCII)
    cases = [
        "", " ", "  \t\n ", "\x0b\x0c", None, "a", " a ", "\ta b\r\n",
        "a\x0bb\x0cc", "a\x00b", "x\xa0y z", "p\x85q", "\x1c\x1d",
        "the fox the fox", "The THE the", "mixed \u2028 line",
        " der und la le ", "\v lone \f", "nul\x00 \x00also \x00",
        "a\nb\na", "\n", "x\n\n", "\n\nx", "li\u0307ne \u0130\n\u0130",
        "$ymb0l$ & \u00a92024 \u2014 em", "quote\'\"paren() dash-",
    ]
    got = _token_stats_batch(pd.Series(cases))
    for i, t in enumerate(cases):
        raw = t or ""
        toks = rx.findall(raw.lower())
        exp = {name: 0 for name in STATS_FIELDS}
        exp["nw"] = len(toks)
        exp["nd"] = len(set(toks))
        for tok in toks:
            nu = tok.translate(_TBL)
            for name, s in _SET_LIST:
                if nu in s:
                    exp[name] += 1
        # round-7 char/line fields (empty-string semantics for null,
        # computed over the RAW text -- lowercasing can change length)
        exp["ncnw"] = sum(1 for c in raw if c not in _WS)
        exp["nsym"] = sum(1 for c in raw if c not in _ALLOWED)
        lines = raw.split("\n")
        exp["nl"] = len(lines)
        exp["ndl"] = len(set(lines))
        for name in STATS_FIELDS:
            assert int(got[name].iloc[i]) == exp[name], (t, name, exp)


def test_arrow_hash_tokenizer_parity_reference():
    """The Arrow tokenization of functions/tokens.py (token_codes +
    distinct_pairs, behind the minhash and simhash batch kernels) must
    produce signatures EXACTLY equal to the re.ASCII \\S+ findall +
    explode + drop_duplicates shape it replaced, including boundary
    whitespace, null text, and the non-ASCII-\\s chars."""
    import re

    import numpy as np
    import pandas as pd

    import datacurator_jl_spark.functions.arrow_hash as AH

    rx = re.compile(r"\S+", re.ASCII)

    def ref_pairs(texts):
        toks = texts.fillna("").str.lower().str.findall(rx)
        ex = toks.explode().dropna()
        pairs = ex.reset_index()
        pairs.columns = ["row", "w"]
        return pairs.drop_duplicates()

    def ref_minhash(texts, k):
        pairs = ref_pairs(texts)
        cols = [f"mh{i}" for i in range(k)]
        if pairs.empty:
            return pd.DataFrame(
                index=texts.index, columns=cols, dtype="float64"
            ).astype("Int64")
        codes, uniques = pd.factorize(pairs["w"])
        lanes = np.empty((len(uniques), k), dtype=np.int64)
        salts = [f"#{i}".encode() for i in range(k)]
        for ui, w in enumerate(uniques):
            wb = w.encode("utf-8")
            lanes[ui] = np.fromiter(
                (AH._md5_prefix_int(wb + s, 8) for s in salts),
                dtype=np.int64, count=k,
            )
        per_pair = pd.DataFrame(lanes[codes], columns=cols)
        mins = per_pair.groupby(pairs["row"].values).min()
        return mins.reindex(texts.index).astype("Int64")

    def ref_simhash(texts, bits):
        pairs = ref_pairs(texts)
        out = pd.Series(0, index=texts.index, dtype="int64")
        if pairs.empty:
            return out
        codes, uniques = pd.factorize(pairs["w"])
        jidx = np.arange(bits)
        contrib = np.empty((len(uniques), bits), dtype=np.int64)
        for ui, w in enumerate(uniques):
            h = AH._md5_prefix_int(w.encode("utf-8"), 15)
            contrib[ui] = ((h >> jidx) & 1) * 2 - 1
        sums = pd.DataFrame(contrib[codes]).groupby(pairs["row"].values).sum()
        out[sums.index] = ((sums.values > 0) @ (1 << jidx)).astype(np.int64)
        return out

    cases = pd.Series([
        "", " ", "  \t\n ", None, "a", " a b a ", "\ta b\r\n",
        "a\x0bb\x0cc", "The the THE", "x\xa0y z", "\v lone \f",
        "nul\x00 \x00also", "w1 w2 w3 w1", "p\x85q r",
    ])
    assert AH._minhash_batch(cases, 4).equals(ref_minhash(cases, 4))
    assert AH._simhash_batch(cases, 16).equals(ref_simhash(cases, 16))
    # hashed word sets: distinct _h32 values in first-occurrence order,
    # null text -> null, no tokens -> []
    ref_sets = [
        None if t is None else list(dict.fromkeys(
            AH._md5_prefix_int(w.encode("utf-8"), 8)
            for w in rx.findall(t.lower())
        ))
        for t in cases
    ]
    assert AH._h32_wordset_batch(cases).tolist() == ref_sets
