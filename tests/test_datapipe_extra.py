"""ANN LSH path: recall vs brute force on the embeddings table."""

from __future__ import annotations

import numpy as np

from wotan_spark.spark.datapipe import (cosine_topk, cosine_topk_ivf,
                                        cosine_topk_lsh,
                                        embedding_near_dup_pairs, ivf_assign,
                                        ivf_centroids, ngram_jaccard_pairs,
                                        ngram_jaccard_pairs_prefix)

SF_DIR = "/root/testdata/sf0.01"


def test_lsh_ann_recall(spark):
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    qids = [0, 1, 2, 3, 4]
    exact = cosine_topk(emb, qids, k=5).collect()
    approx = cosine_topk_lsh(emb, qids, k=5, n_planes=4, n_tables=6).collect()
    exact_set = {(r.query_id, r.neighbor_id) for r in exact}
    approx_set = {(r.query_id, r.neighbor_id) for r in approx}
    recall = len(exact_set & approx_set) / len(exact_set)
    # few planes + several tables: high recall on 500 vectors
    assert recall >= 0.6, f"LSH recall too low: {recall}"
    # candidates are a strict subset of the corpus; ranks well-formed
    for r in approx:
        assert 1 <= r.rank <= 5
        assert -1.0 <= r.cos_sim <= 1.0


def test_embedding_near_dups_lsh_recall(spark):
    """LSH near-dup variant: a subset of the exact pair set, with useful
    recall at this corpus size."""
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    exact = {(r.vec_id_a, r.vec_id_b)
             for r in embedding_near_dup_pairs(emb, threshold=0.3).collect()}
    approx = {(r.vec_id_a, r.vec_id_b)
              for r in embedding_near_dup_pairs(emb, threshold=0.3,
                                                method="lsh").collect()}
    assert approx <= exact          # rerank is exact -> no false positives
    assert exact, "fixture should contain near-dup pairs at tau=0.3"
    recall = len(approx) / len(exact)
    assert recall >= 0.5, f"LSH near-dup recall too low: {recall}"


def test_prefix_filtered_jaccard_equals_unfiltered(spark):
    """Prefix filtering is exact-preserving: identical pair set and
    jaccard values to the full inverted-index pass."""
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    full = {(r.doc_a, r.doc_b): r.jaccard
            for r in ngram_jaccard_pairs(docs, threshold=0.4).collect()}
    pref = {(r.doc_a, r.doc_b): r.jaccard
            for r in ngram_jaccard_pairs_prefix(docs,
                                                threshold=0.4).collect()}
    assert set(full) == set(pref)
    for k in full:
        np.testing.assert_allclose(full[k], pref[k], rtol=1e-12)


def test_prefix_filtered_jaccard_random_corpora(spark):
    """Randomized equivalence: near-identical docs, shared boilerplate,
    short docs below the shingle width, exact duplicates — the prefix
    filter must agree with the full pass on every corpus."""
    import random

    rnd = random.Random(11)
    vocab = [f"w{i}" for i in range(40)]
    for trial in range(3):
        rows = []
        base = " ".join(rnd.choices(vocab, k=30))
        for d in range(40):
            kind = d % 4
            if kind == 0:        # near-duplicate of base
                words = base.split()
                for _ in range(rnd.randint(0, 3)):
                    words[rnd.randrange(len(words))] = rnd.choice(vocab)
                text = " ".join(words)
            elif kind == 1:      # exact duplicate
                text = base
            elif kind == 2:      # random doc
                text = " ".join(rnd.choices(vocab, k=rnd.randint(5, 50)))
            else:                # too short for 3-gram shingles
                text = " ".join(rnd.choices(vocab, k=rnd.randint(0, 2)))
            rows.append((f"d{trial}_{d:02d}", text))
        docs = spark.createDataFrame(rows, schema="doc_id string, text string")
        for thr in (0.3, 0.7):
            full = {(r.doc_a, r.doc_b): round(r.jaccard, 9) for r in
                    ngram_jaccard_pairs(docs, threshold=thr).collect()}
            pref = {(r.doc_a, r.doc_b): round(r.jaccard, 9) for r in
                    ngram_jaccard_pairs_prefix(docs,
                                               threshold=thr).collect()}
            assert full == pref, (trial, thr)


def test_embedding_near_dups_exact_vs_numpy(spark):
    """Exact near-dup operator vs a direct NumPy all-pairs computation."""
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").limit(120)
    pdf = emb.toPandas()
    V = np.stack([np.asarray(v, float) for v in pdf["embedding"]])
    V = V / np.linalg.norm(V, axis=1, keepdims=True)
    ids = pdf["vec_id"].to_numpy()
    sims = V @ V.T
    want = {(int(ids[i]), int(ids[j]))
            for i in range(len(ids)) for j in range(len(ids))
            if ids[i] < ids[j] and sims[i, j] >= 0.3}
    got = {(r.vec_id_a, r.vec_id_b)
           for r in embedding_near_dup_pairs(emb, threshold=0.3).collect()}
    assert got == want


def test_ivf_assignment_partitions_corpus(spark):
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    n = emb.count()
    C = ivf_centroids(emb, n_centroids=8)
    assert C.shape[0] == 8
    np.testing.assert_allclose(np.linalg.norm(C, axis=1), 1.0, rtol=1e-9)
    assigned = ivf_assign(emb, C)
    assert assigned.count() == n                      # total partition
    cells = assigned.groupBy("centroid_id").count().collect()
    assert len(cells) >= 2                            # corpus actually splits
    assert sum(r["count"] for r in cells) == n


def test_ivf_ann_recall(spark):
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    qids = [0, 1, 2, 3, 4]
    exact = cosine_topk(emb, qids, k=5).collect()
    approx = cosine_topk_ivf(emb, qids, k=5, n_centroids=8,
                             nprobe=4).collect()
    exact_set = {(r.query_id, r.neighbor_id) for r in exact}
    approx_set = {(r.query_id, r.neighbor_id) for r in approx}
    recall = len(exact_set & approx_set) / len(exact_set)
    # probing half the cells on 500 vectors: near-exact
    assert recall >= 0.7, f"IVF recall too low: {recall}"
    for r in approx:
        assert 1 <= r.rank <= 5
        assert -1.0 <= r.cos_sim <= 1.0


def test_near_dup_auto_dispatches_to_lsh_above_cap(spark):
    """The DEFAULT method must be scale-safe: above exact_max rows the
    auto path must route to LSH (no full-corpus driver collect); at or
    below it, to the exact path (superset of the LSH candidate pairs)."""
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    n = emb.count()
    exact = {(r.vec_id_a, r.vec_id_b)
             for r in embedding_near_dup_pairs(
                 emb, threshold=0.3, exact_max=n).collect()}
    lsh = {(r.vec_id_a, r.vec_id_b)
           for r in embedding_near_dup_pairs(
               emb, threshold=0.3, exact_max=n - 1).collect()}
    assert lsh <= exact            # LSH candidates are exact-verified
    assert len(lsh) >= 0.5 * len(exact)   # recall sanity at this threshold


def test_dedup_components_matches_union_find(spark):
    """Min-label propagation components == a local union-find on random
    pair graphs (chains, stars, isolated pairs; convergence needs multiple
    propagation rounds for the chains)."""
    import numpy as np

    rng = np.random.default_rng(3)
    edges = [(int(i), int(i + 1)) for i in range(0, 30)]          # long chain
    edges += [(100, int(101 + k)) for k in range(8)]              # star
    edges += [(int(a), int(b)) for a, b in
              rng.integers(200, 260, size=(25, 2)) if a != b]     # random
    pairs = spark.createDataFrame(
        [(min(a, b), max(a, b)) for a, b in edges],
        schema="doc_a long, doc_b long")

    parent: dict[int, int] = {}

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
    want = {x: find(x) for x in parent}

    from wotan_spark.spark.datapipe import dedup_components
    got = {r.doc_id: r.component for r in dedup_components(pairs).collect()}
    assert got == want


def test_stratified_sample_deterministic_across_partitioning(spark):
    """The hash-stratified sampler must select the SAME doc set at any
    partitioning/parallelism (auditable mixture weights), and per-stratum
    rates must track the requested fractions."""
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    from wotan_spark.spark.datapipe import stratified_sample

    fr = {"src0": 0.5, "src1": 0.25}
    a = {r.doc_id for r in stratified_sample(
        docs.repartition(1), fr, default=0.1).select("doc_id").collect()}
    b = {r.doc_id for r in stratified_sample(
        docs.repartition(13), fr, default=0.1).select("doc_id").collect()}
    assert a == b and len(a) > 0
    rates = {r.source: r.rate for r in
             stratified_sample(docs, fr, default=0.1)
             .groupBy("source").count()
             .join(docs.groupBy("source").count()
                   .withColumnRenamed("count", "total"), "source")
             .selectExpr("source", "count / total AS rate").collect()}
    assert abs(rates.get("src0", 0) - 0.5) < 0.2
    assert abs(rates.get("src1", 0) - 0.25) < 0.2


def test_curate_corpus_funnel_consistency(spark):
    """The funnel counts must be monotone non-increasing and the final
    stage count must equal the kept DataFrame's row count."""
    import pyspark.sql.functions as F
    from wotan_spark.spark.datapipe import curate_corpus
    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    bench = docs.filter((F.col("doc_id") % 50) == 0)
    kept, funnel = curate_corpus(docs, benchmark=bench, min_tokens=50,
                                 fractions={"src0": 0.5, "src1": 0.25},
                                 sample_default=0.1)
    rows = sorted(funnel.collect(), key=lambda r: r.stage_idx)
    names = [r.stage for r in rows]
    assert names == ["input", "quality", "exact_dedup", "decontaminate",
                     "near_dup", "sample"]
    counts = [r.n_docs for r in rows]
    assert all(a >= b for a, b in zip(counts, counts[1:]))
    assert counts[0] > counts[-1] > 0
    assert kept.count() == counts[-1]


def test_repetition_stats_hand_computed(spark):
    """Gopher repetition signals on hand-counted docs."""
    from wotan_spark.spark.datapipe import repetition_stats
    docs = spark.createDataFrame(
        [
            # bigrams: "a b" x3, "b a" x2 -> top share 3/5; trigrams
            # "a b a" x2, "b a b" x2 -> all 4 occurrences duplicated
            (0, "a b a b a b"),
            # all-distinct words: top bigram 1/4, no duplicated trigram
            (1, "v w x y z"),
            # two words: one bigram (share 1.0), no trigram -> NULL frac
            (2, "p q"),
            # one word: shorter than n_top -> absent from the output
            (3, "solo"),
        ],
        "doc_id long, text string")
    got = {r.doc_id: (r.top_ngram_share, r.dup_ngram_frac)
           for r in repetition_stats(docs).collect()}
    assert got == {0: (0.6, 1.0), 1: (0.25, 0.0), 2: (1.0, None)}


def test_repetition_stats_param_validation(spark):
    """Equal gram lengths would double-count via the shared length tag;
    swapped lengths must still emit well-defined partial signals."""
    import pytest
    from wotan_spark.spark.datapipe import repetition_stats
    docs = spark.createDataFrame(
        [(0, "a b a b a b"), (1, "p q")], "doc_id long, text string")
    with pytest.raises(ValueError, match="must differ"):
        repetition_stats(docs, n_top=2, n_dup=2)
    # n_top=3, n_dup=2: the 2-word doc keeps its bigram dup stats and
    # gets a NULL top-trigram share
    got = {r.doc_id: (r.top_ngram_share, r.dup_ngram_frac)
           for r in repetition_stats(docs, n_top=3, n_dup=2).collect()}
    # doc 0 bigrams: "a b" x3 + "b a" x2 -> all duplicated; trigrams
    # "a b a" x2 + "b a b" x2 -> top share 0.5
    assert got == {0: (0.5, 1.0), 1: (None, 0.0)}


def test_tokenize_documents_bridges_into_sequence_engine(spark):
    """tokenize_documents emits the canonical tokenized-sequence schema
    and its output flows straight into the detrend+rollup core."""
    from wotan_spark.spark.datapipe import tokenize_documents
    from wotan_spark.spark.detrend_op import detrend_rollup_fused
    from wotan_spark.spark.synth import SEQUENCES_SCHEMA

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").limit(40)
    seq = tokenize_documents(docs, vocab_size=997)
    assert ([(f.name, f.dataType) for f in seq.schema.fields]
            == [(f.name, f.dataType) for f in SEQUENCES_SCHEMA.fields])
    rows = seq.collect()
    assert all(r.n_tok == len(r.tokens) for r in rows)
    assert all(0 <= t < 997 for r in rows for t in r.tokens)
    # same text -> same ids, independent of partitioning (determinism)
    again = {r.doc_id: r.tokens
             for r in tokenize_documents(docs.repartition(7),
                                         vocab_size=997).collect()}
    assert all(again[r.doc_id] == r.tokens for r in rows)
    # the bridge feeds the sequence engine directly
    t10 = detrend_rollup_fused(seq, "median", window_length=5)
    assert t10.count() > 0


def test_decontaminate_fractional_overlap(spark):
    """max_overlap gates on the fraction of a doc's distinct 5-grams in
    the benchmark: a long doc brushing one benchmark phrase survives,
    a doc that mostly IS benchmark text is dropped."""
    from pyspark.sql import functions as F

    from wotan_spark.spark.datapipe import decontaminate
    bench_text = "alpha beta gamma delta epsilon zeta"
    docs = spark.createDataFrame(
        [(0, bench_text),                                   # the benchmark
         (1, bench_text + " eta"),                          # mostly bench:
                                                            # 2 of 3 grams hit
         (2, "alpha beta gamma delta epsilon " +            # 1 shared gram,
             "one two three four five six seven eight " +   # many own grams
             "nine ten eleven twelve thirteen fourteen"),
         (3, "totally unrelated words in this document here")],
        "doc_id long, text string")
    bench = docs.filter(F.col("doc_id") == 0)
    strict = {r.doc_id for r in decontaminate(docs, bench, n=5).collect()}
    frac = {r.doc_id for r in decontaminate(docs, bench, n=5,
                                            max_overlap=0.5).collect()}
    assert strict == {3}          # any shared gram kills 0, 1, 2
    assert frac == {2, 3}         # doc 2's single hit is under 50%


def test_dedup_spans_hand_case(spark):
    """Repeated 3-gram spans vanish from every occurrence; overlapping
    repeated grams merge into one maximal dropped span; unique text
    survives in order."""
    from wotan_spark.spark.datapipe import dedup_spans
    docs = spark.createDataFrame(
        [(0, "alpha beta gamma delta unique one two"),
         (1, "x y alpha beta gamma delta z"),       # shares a 4-word span
         (2, "totally fresh words here")],
        "doc_id long, text string")
    out = {r.doc_id: (r.clean_text, r.n_words, r.n_dropped)
           for r in dedup_spans(docs, n=3, min_count=2).collect()}
    # the two repeated 3-grams (alpha beta gamma / beta gamma delta)
    # overlap -> one merged span of 4 words dropped from BOTH docs
    assert out[0] == ("unique one two", 7, 4)
    assert out[1] == ("x y z", 7, 4)
    assert out[2] == ("totally fresh words here", 4, 0)


def test_dedup_spans_intra_doc_repeat_and_full_wipe(spark):
    from wotan_spark.spark.datapipe import dedup_spans
    docs = spark.createDataFrame(
        [(0, "a b c tail a b c"),      # same 3-gram twice WITHIN one doc
         (1, "a b c")],                # whole doc is a repeated span
        "doc_id long, text string")
    out = {r.doc_id: (r.clean_text, r.n_words, r.n_dropped)
           for r in dedup_spans(docs, n=3, min_count=2).collect()}
    assert out[0] == ("tail", 7, 6)    # both occurrences removed
    assert out[1] == ("", 3, 3)        # empty doc still emitted


def test_dedup_spans_short_docs_pass_through(spark):
    from wotan_spark.spark.datapipe import dedup_spans
    docs = spark.createDataFrame(
        [(0, "one two"), (1, "one two")],   # < n words: no grams at all
        "doc_id long, text string")
    out = {r.doc_id: r.clean_text
           for r in dedup_spans(docs, n=3, min_count=2).collect()}
    assert out == {0: "one two", 1: "one two"}


def test_dedup_spans_validates_params(spark):
    import pytest
    from wotan_spark.spark.datapipe import dedup_spans
    with pytest.raises(ValueError):
        dedup_spans(None, n=0)
    with pytest.raises(ValueError):
        dedup_spans(None, min_count=1)


def test_dedup_token_spans_matches_text_twin(spark):
    """The token-payload variant drops exactly the spans the text variant
    drops when tokens are a 1:1 word mapping."""
    from wotan_spark.spark.datapipe import dedup_spans, dedup_token_spans
    vocab = {"alpha": 1, "beta": 2, "gamma": 3, "delta": 4, "unique": 5,
             "one": 6, "two": 7, "x": 8, "y": 9, "z": 10}
    texts = [(0, "alpha beta gamma delta unique one two"),
             (1, "x y alpha beta gamma delta z")]
    docs = spark.createDataFrame(texts, "doc_id long, text string")
    seqs = spark.createDataFrame(
        [(str(d), [vocab[w] for w in t.split()]) for d, t in texts],
        "doc_id string, tokens array<int>")
    got = {r.doc_id: (list(r.kept), r.n_tok, r.n_dropped)
           for r in dedup_token_spans(seqs, n=3, min_count=2).collect()}
    want_text = {str(r.doc_id): r.clean_text
                 for r in dedup_spans(docs, n=3, min_count=2).collect()}
    inv = {v: k for k, v in vocab.items()}
    for d, (kept, n_tok, n_dropped) in got.items():
        assert " ".join(inv[t] for t in kept) == want_text[d]
    assert got["0"][1:] == (7, 4) and got["1"][1:] == (7, 4)


def test_dedup_spans_null_text_treated_as_empty(spark):
    from wotan_spark.spark.datapipe import dedup_spans, dedup_token_spans
    docs = spark.createDataFrame([(0, None), (1, "real words here")],
                                 "doc_id long, text string")
    out = {r.doc_id: (r.clean_text, r.n_words, r.n_dropped)
           for r in dedup_spans(docs, n=3, min_count=2).collect()}
    assert out[0] == ("", 1, 0)        # split("") -> [""], nothing dropped
    assert out[1] == ("real words here", 3, 0)
    seqs = spark.createDataFrame([("a", None), ("b", [1, 2, 3])],
                                 "doc_id string, tokens array<int>")
    got = {r.doc_id: (list(r.kept), r.n_tok, r.n_dropped)
           for r in dedup_token_spans(seqs, n=3, min_count=2).collect()}
    assert got["a"] == ([], 0, 0)
    assert got["b"] == ([1, 2, 3], 3, 0)


def test_cosine_topk_zero_vector_never_outranks(spark):
    """An all-zero embedding must score cos_sim 0 (clipped norm), not NaN:
    numpy's lexsort puts NaN LAST in the per-partition top-k but Spark's
    desc window puts NaN FIRST, so an unclipped zero vector could surface
    as the global top hit (round-5b review finding)."""
    import math

    rows = [(int(i), [float((i * 7 + j * 3) % 5 + 1) for j in range(8)])
            for i in range(20)]
    rows.append((20, [0.0] * 8))                       # the zero vector
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = cosine_topk(emb, [0], k=21).collect()
    assert all(not math.isnan(r.cos_sim) for r in out)
    zero = [r for r in out if r.neighbor_id == 20]
    assert zero and zero[0].cos_sim == 0.0
    assert zero[0].rank == max(r.rank for r in out)    # strictly last


def test_verify_cosine_pairs_zero_vector_scores_zero(spark, monkeypatch):
    """A candidate pair with an all-zero embedding scores cos_sim 0 (clipped
    norms), as the exact near-dup path does, instead of 0/0 = NaN: at
    threshold 0 the pair is kept, not silently dropped, and the kernel
    raises no RuntimeWarning."""
    import warnings

    import pandas as pd

    from wotan_spark.spark.datapipe import verify_cosine_pairs

    emb = spark.createDataFrame([(1, [0.0, 0.0, 0.0]), (2, [1.0, 2.0, 3.0])],
                                "vec_id long, embedding array<double>")
    pairs = spark.createDataFrame([(1, 2)], "vec_id_a long, vec_id_b long")
    frame_cls = type(emb)
    kernels = []
    real = frame_cls.mapInPandas

    def recording(self, fn, *args, **kwargs):
        kernels.append(fn)
        return real(self, fn, *args, **kwargs)

    monkeypatch.setattr(frame_cls, "mapInPandas", recording)
    got = [tuple(r) for r in
           verify_cosine_pairs(emb, pairs, threshold=0.0).collect()]
    exact = [tuple(r) for r in embedding_near_dup_pairs(
        emb, threshold=0.0, method="exact").collect()]
    assert got == exact == [(1, 2, 0.0)]
    # the verify kernel on the driver, with warnings as errors
    batch = pd.DataFrame({"vec_id_a": [1], "vec_id_b": [2],
                          "ea": [[0.0, 0.0, 0.0]], "eb": [[1.0, 2.0, 3.0]]})
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        (out,) = kernels[0](iter([batch]))
    assert out["cos_sim"].tolist() == [0.0]


def test_pq_codebooks_tiny_corpus(spark):
    """A corpus smaller than n_centroids seeds the codebook with
    replacement — the (m, n_centroids, dsub) shape survives and encoding
    works (an under-filled seed crashed with a broadcast ValueError)."""
    from wotan_spark.spark.datapipe import pq_codebooks, pq_encode

    rows = [(int(i), [float((i + j) % 7 + 1) for j in range(8)])
            for i in range(5)]                         # 5 vectors < 16
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    books = pq_codebooks(emb, m=4, n_centroids=16)
    assert books.shape == (4, 16, 2)
    assert pq_encode(emb, books).count() == 5


def test_prefix_join_shingle_cache_is_tracked(spark):
    """The prefix join's corpus-sized per-doc shingle cache must be
    release-able via clear_block_caches() like every other block cache
    (an untracked persist stayed pinned for the session)."""
    import wotan_spark.spark.datapipe as dp
    from wotan_spark.spark.datapipe import clear_block_caches

    clear_block_caches()
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    ngram_jaccard_pairs_prefix(docs, n=3, threshold=0.5).count()
    # both the per-doc shingle frame and the block index are tracked
    assert len(dp._LIVE_BLOCK_CACHE) == 2
    assert clear_block_caches() == 2
    assert dp._LIVE_BLOCK_CACHE == []


def test_text_ops_null_text_sane(spark):
    """NULL text reads as empty STRING: size(NULL)=-1 used to poison every
    count and classify a NULL doc as 'en' with stop_ratio 1.0.  The pinned
    contract (shared by the DuckDB oracles, which coalesce the same way):
    whitespace-split of '' is [''] -> exactly 1 ws token, while the regex
    extractor finds 0 tokens in '' -> bpe counts and tokenize are 0/[] —
    the same asymmetry a genuinely-empty-text doc has in both engines."""
    from wotan_spark.spark.datapipe import (lang_id, text_stats,
                                            token_counts,
                                            tokenize_documents)

    rows = [(1, "the quick brown fox and the dog", "en", "web", 31),
            (2, None, "en", "web", 0)]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, "
              "n_chars long")
    li = {r.doc_id: r for r in lang_id(docs).collect()}
    assert li[2].stop_ratio == 0.0 and li[2].lang_guess == "other"
    assert li[1].lang_guess == "en"
    ts = {r.doc_id: r for r in text_stats(docs).collect()}
    assert ts[2].n_tokens == 1 and ts[2].stopword_kinds == 0
    tc = {r.doc_id: r for r in token_counts(docs).collect()}
    assert tc[2].n_ws_tokens == 1
    assert tc[2].n_bpe_tokens == 0 and tc[2].n_bpe_types == 0
    tk = {r.doc_id: r for r in tokenize_documents(docs).collect()}
    assert tk["2"].n_tok == 0 and tk["2"].tokens == []
