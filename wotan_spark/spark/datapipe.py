"""Training-data pipeline operators over the documents/embeddings tables:
deduplication (exact, MinHash-LSH, SimHash, n-gram Jaccard), similarity
search (brute-force cosine top-k), and text analysis (token counts, quality
scoring, language id, fingerprinting).

Portability contract: every hash used here is derived from md5 so the
DuckDB oracle can reproduce it bit-for-bit — Spark
``conv(substr(md5(s),1,14),16,10)`` == DuckDB ``('0x'||substr(md5(s),1,14))::BIGINT``.
MinHash permutations are affine ``(a*h + b) mod p`` over that 56-bit value
reduced mod p=2^31-1 (a,b fixed odd constants), so signatures match across
engines exactly.
"""

from __future__ import annotations

import threading

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window

MINHASH_P = 2147483647  # 2^31 - 1
MINHASH_COEFFS = [(1664525 + 2 * i, 1013904223 + 7 * i) for i in range(8)]
STOPWORDS = ["the", "a", "of", "and", "to", "in", "is", "on", "for", "with"]


def _words(col):
    """Word tokenization rule — ONE definition for every text stage.
    Accepts a column name or a Column (compose null-safety etc. at the
    call site without re-stating the split rule)."""
    c = col if isinstance(col, F.Column) else F.col(col)
    return F.split(F.lower(c), " ")


def _words_safe(col: str):
    """``_words`` with NULL text read as the empty STRING (for operators
    that must emit a row per input doc regardless).  Pinned contract:
    whitespace-split of '' is [''] — one empty token — in both Spark and
    the DuckDB oracles (which coalesce identically), while regex-based
    extraction finds 0 tokens in ''; that ws/bpe asymmetry is inherent to
    split semantics and holds equally for genuinely-empty-text docs."""
    return _words(F.coalesce(F.col(col), F.lit("")))


def _spread(df: DataFrame, *cols: str) -> DataFrame:
    """Repartition up to the cluster's parallelism when the scan produced
    few input files — the downstream shingle explode is CPU-bound and must
    not run on one core.  No-op when the scan already has enough files (the
    100 TB case), so no extra shuffle at scale.  Gates on the scan's file
    metadata (``inputFiles``) in the common file-backed case — NOT
    ``df.rdd.getNumPartitions()``, which forces a DataFrame->RDD plan
    conversion; that fallback gate is paid only for non-file-backed frames
    (createDataFrame, post-join plans), where ``inputFiles()`` is empty and
    an unconditional repartition would add a redundant shuffle to plans
    that already carry enough parallelism."""
    n = df.sparkSession.sparkContext.defaultParallelism
    try:
        n_files = len(df.inputFiles())
    except Exception:
        n_files = 0
    if n_files >= n:
        return df
    if n_files == 0 and df.rdd.getNumPartitions() >= n:
        return df
    return df.repartition(n, *cols) if cols else df.repartition(n)


def md5_long(col) -> F.Column:
    """Portable 56-bit integer hash of a string column."""
    return F.conv(F.substring(F.md5(col), 1, 14), 16, 10).cast("long")


# ---------------------------------------------------------------------------
# Deduplication
# ---------------------------------------------------------------------------

def dedup_exact(docs: DataFrame) -> DataFrame:
    """Exact duplicate groups by content hash: (fingerprint, dup_count),
    groups with more than one member."""
    return (docs.select(F.md5(F.col("text")).alias("fingerprint"))
            .groupBy("fingerprint").agg(F.count("*").alias("dup_count"))
            .filter(F.col("dup_count") > 1))


def _grams_all(n: int) -> F.Column:
    """Word n-gram array of the ``text`` column WITH multiplicity, empty
    for docs shorter than n words.  The short-doc branch must live INSIDE
    the expression (lazy ``when``), not only in a separate filter: Spark
    infers ``size(grams) > 0`` from a downstream explode and predicate
    pushdown can reorder that inferred filter below the length filter,
    evaluating the expression on short rows — where ``sequence(0,
    negative)`` counts DOWN and feeds ``slice`` a zero start (runtime
    error)."""
    w = _words("text")
    idx = F.sequence(F.lit(0), F.size(w) - n)
    sh = F.transform(idx, lambda i: F.concat_ws(" ", F.slice(w, i + 1, n)))
    return F.when(F.size(w) >= n, sh).otherwise(
        F.array().cast("array<string>"))


def _grams(n: int) -> F.Column:
    """Distinct word n-gram array (set semantics — the dedup/Jaccard
    building block)."""
    return F.array_distinct(_grams_all(n))


def _gram_frame(docs: DataFrame, n: int, alias: str = "gr") -> DataFrame:
    """``(doc_id, <alias>: array<bigint>)`` — distinct 64-bit hashes of
    the word n-grams per doc, never materializing gram strings (docs with
    fewer than n words produce no grams and are dropped).

    Two projections ON PURPOSE: the word array is hashed to longs once in
    its own select, then each gram key hashes a SLICE of that long array.
    Hashing fixed-width longs instead of re-hashing every word string per
    covering gram measured ~4x faster on the sf0.1 gram pass, and the
    projection boundary keeps Catalyst's CollapseProject from inlining
    the word-hash transform into the gram transform (it declines to
    duplicate a non-cheap alias referenced more than once) — inlined, the
    word hashes would be recomputed for every gram.

    Internal keys only: equal grams hash equal, so pair/probe output is
    identical up to 2^-64 collisions (which degrade gracefully via the
    ``array_distinct`` bucket guard in ``_capped_pairs``); no oracle or
    pin depends on the hash VALUES."""
    d = (_spread(docs, "doc_id")
         .filter(F.size(_words("text")) >= n)
         .select("doc_id",
                 F.transform(_words("text"),
                             lambda x: F.xxhash64(x)).alias("__w64")))
    w = F.col("__w64")
    idx = F.sequence(F.lit(0), F.size(w) - n)
    gh = F.transform(idx, lambda i: F.xxhash64(F.slice(w, i + 1, n)))
    return d.select("doc_id", F.array_distinct(gh).alias(alias))


def word_shingles(docs: DataFrame, n: int = 3) -> DataFrame:
    """(doc_id, shingle) — distinct word n-grams per doc."""
    return (_spread(docs, "doc_id")
            .filter(F.size(_words("text")) >= n)
            .select("doc_id", F.explode(_grams(n)).alias("shingle")))


def _bucket_pairs(members: F.Column) -> F.Column:
    """All i<j combinations of a sorted bucket-member array as (a, b)
    structs — the inverted-index pair expansion, pure Catalyst."""
    ids = F.array_sort(members)
    return F.flatten(F.transform(
        ids, lambda x, i: F.transform(
            F.slice(ids, i + 2, F.size(ids)),
            lambda y: F.struct(x.alias("a"), y.alias("b")))))


DEFAULT_BUCKET_CAP = 256

# recent _capped_pairs block-index caches (see _capped_pairs: persisted
# frames have no in-function unpersist point, so storage is bounded by
# retiring the OLDEST handles).  Keeping several live handles — not just
# one — lets a caller build a few lazy pair plans before executing any of
# them without the later plan evicting the earlier one's cache.
_LIVE_BLOCK_CACHE: list = []
_BLOCK_CACHE_LIMIT = 8
_BLOCK_CACHE_LOCK = threading.Lock()


def clear_block_caches() -> int:
    """Explicitly release every live ``_capped_pairs`` block-index cache.

    At corpus scale one block index is itself corpus-sized; long-lived
    sessions issuing a sequence of large one-shot pair calls would
    otherwise pin up to ``_BLOCK_CACHE_LIMIT`` of them (disk spill) until
    newer calls evict them.  Call this once the returned pair frames have
    been fully consumed.  Returns the number of handles released.
    Lineage is recomputable, so a subsequently re-executed identical plan
    is correct — just cold.
    """
    with _BLOCK_CACHE_LOCK:
        n = len(_LIVE_BLOCK_CACHE)
        for handle in _LIVE_BLOCK_CACHE:
            try:
                handle.unpersist(blocking=False)
            except Exception:
                pass   # already released with its session
        _LIVE_BLOCK_CACHE.clear()
    return n


def _register_session_cache(df: DataFrame) -> DataFrame:
    """Persist ``df`` (MEMORY_AND_DISK) and track the handle under the
    session block-cache LRU, so ``clear_block_caches()`` can release it
    and at most ``_BLOCK_CACHE_LIMIT`` corpus-sized caches stay pinned.
    A semantically identical already-tracked plan refreshes its LRU
    position and is NOT re-persisted: CacheManager rewrites any
    canonically-equal subplan to the live InMemoryRelation at execution
    time, so a second persist() call would be a no-op that only emits
    the \"Asked to cache already cached data\" warning."""
    from pyspark import StorageLevel
    with _BLOCK_CACHE_LOCK:
        try:
            hit = next((i for i, prev in enumerate(_LIVE_BLOCK_CACHE)
                        if df.sameSemantics(prev)), None)
        except Exception:
            hit = None         # stopped session: stale handles, reset
            _LIVE_BLOCK_CACHE.clear()
        if hit is not None:
            _LIVE_BLOCK_CACHE.append(_LIVE_BLOCK_CACHE.pop(hit))
        else:
            df = df.persist(StorageLevel.MEMORY_AND_DISK)
            _LIVE_BLOCK_CACHE.append(df)
            while len(_LIVE_BLOCK_CACHE) > _BLOCK_CACHE_LIMIT:
                try:
                    _LIVE_BLOCK_CACHE.pop(0).unpersist(blocking=False)
                except Exception:
                    pass   # already released with its session
    return df


def _capped_pairs(exploded: DataFrame, keys: list[str], member,
                  cap: int = DEFAULT_BUCKET_CAP,
                  max_bucket: int | None = None) -> DataFrame:
    """Bucket pair expansion with BOUNDED per-task memory: all i<j member
    pairs per key bucket as ``(*keys, p: struct<a, b>)`` rows, ``p.a < p.b``.

    A plain ``groupBy(keys).agg(collect_list)`` puts every member of one
    bucket into a single aggregation buffer and then materializes the full
    O(m^2) pair array in one projection row — a degenerate bucket
    (boilerplate docs sharing one band hash) at corpus scale is one
    multi-million-element array in one task.  Here every bucket becomes
    one or more <=``cap``-member blocks in a single aggregation pass
    (``_block_index``: one exchange, one sort, upstream evaluated once).
    Pairs come from two bounded shapes: i<j combinations INSIDE each block
    array, and a block-level self-join (oversized buckets only) for
    CROSS-block pairs whose row payloads are two <=cap arrays (at most
    cap^2 pair structs per joined row).  Blocks are ranges of the global
    member order, so every member of block p sorts before every member of
    block q>p — cross pairs satisfy a < b by construction and duplicates
    from hash collisions collapse inside one block's ``array_distinct``
    instead of straddling blocks.  Output is identical to the uncapped
    expansion (tested); only the task-memory shape changes.

    ``max_bucket`` (optional) is the hard drop policy: buckets with more
    members than this are excluded entirely — at 10^12 docs a bucket of
    millions of identical-boilerplate members encodes no useful pair
    signal but O(m^2) pairs; drop it and let exact dedup catch the
    boilerplate.  Audit dropped buckets with ``bucket_size_stats`` before
    enabling.  Default None = exact, nothing dropped.
    """
    # three consumers (within + both self-join sides): persist so the
    # bucket index is built once; recomputable lineage (vs localCheckpoint)
    # keeps executor loss survivable at scale.  The cache is session-scoped
    # with no safe unpersist point inside this function (the returned frame
    # is lazy), so storage is bounded by retiring the oldest handles past
    # _BLOCK_CACHE_LIMIT live indexes (e.g. a long run of incremental index
    # updates).  A semantically identical plan (warm benchmark reps) shares
    # ONE CacheManager entry — such calls refresh the tracked handle's LRU
    # position (move-to-end) instead of adding a duplicate, so a re-issued
    # plan counts as recent use and eviction of 8 OTHER distinct indexes
    # can't drop the shared cache out from under a pending identical plan.
    blocks = _register_session_cache(
        _block_index(exploded, keys, member, cap, max_bucket))
    within = (blocks.filter(F.size("ms") > 1)
              .select(*keys, F.explode(_bucket_pairs(F.col("ms")))
                      .alias("p")))
    big = blocks.filter(F.col("__cnt") > cap)
    left = big.select(*keys, F.col("__blk").alias("__ba"),
                      F.col("ms").alias("__msa"))
    right = big.select(*keys, F.col("__blk").alias("__bb"),
                       F.col("ms").alias("__msb"))
    cross_expr = F.flatten(F.transform(
        F.col("__msa"), lambda x: F.transform(
            F.col("__msb"),
            lambda y: F.struct(x.alias("a"), y.alias("b")))))
    cross = (left.join(right, keys)
             .filter(F.col("__ba") < F.col("__bb"))
             .select(*keys, F.explode(cross_expr).alias("p")))
    return within.unionByName(cross)


def _counted_members(exploded: DataFrame, keys: list[str], member,
                     max_bucket: int | None) -> DataFrame:
    """(keys..., __m, __cnt) — bucket members stamped with their bucket's
    size via one count window (the same exchange the pair groupBy needs
    anyway), with the ``max_bucket`` drop policy applied."""
    mcol = member if isinstance(member, F.Column) else F.col(member)
    base = (exploded.select(*keys, mcol.alias("__m"))
            .withColumn("__cnt",
                        F.count("*").over(Window.partitionBy(*keys))))
    if max_bucket is not None:
        base = base.filter(F.col("__cnt") <= max_bucket)
    return base


def _block_index(exploded: DataFrame, keys: list[str], member,
                 cap: int, max_bucket: int | None) -> DataFrame:
    """ONE block frame covering every bucket: ``(*keys, __blk, ms, __cnt)``
    where ``ms`` holds at most ``cap`` DISTINCT sorted members.  At-or-
    under-cap buckets are their own single block (``__blk=0``); oversized
    buckets split into ``dense_rank`` ranges of the member order (ties =
    hash-collision duplicates stay in one block and collapse in its
    ``array_distinct``), block = rank div cap — every member of block p
    sorts before every member of block q>p.  The groupBy reuses the count
    window's hash exchange (its grouping keys are a superset of the window
    partition keys), so the whole index is one exchange + one sort and —
    critically — the upstream (shingle/signature) subtree is evaluated
    ONCE: a separate small-bucket aggregation branch re-evaluates it
    end-to-end (measured ~1.6x on the sf0.1 LSH/Jaccard headline lines)."""
    base = _counted_members(exploded, keys, member, max_bucket)
    w = Window.partitionBy(*keys).orderBy("__m")
    blk = F.when(F.col("__cnt") <= cap, F.lit(0)).otherwise(
        ((F.dense_rank().over(w) - 1) / cap).cast("int"))
    return (base.withColumn("__blk", blk)
            .groupBy(*keys, "__blk")
            .agg(F.array_sort(F.array_distinct(F.collect_list("__m")))
                 .alias("ms"),
                 F.any_value("__cnt").alias("__cnt")))


def bucket_size_stats(exploded: DataFrame, keys: list[str]) -> DataFrame:
    """Per-bucket membership audit for the inverted-index / LSH ops: one
    row per key bucket with its member count, largest first.  Run this
    (or aggregate it further) before enabling a ``max_bucket`` drop policy
    so the drop threshold is chosen from measured skew, not guessed."""
    return (exploded.groupBy(*keys).agg(F.count("*").alias("n_members"))
            .orderBy(F.col("n_members").desc()))


def ngram_jaccard_pairs(docs: DataFrame, n: int = 3,
                        threshold: float = 0.5,
                        bucket_cap: int = DEFAULT_BUCKET_CAP,
                        max_bucket: int | None = None) -> DataFrame:
    """Near-duplicate candidate pairs by exact n-gram Jaccard similarity:
    (doc_a, doc_b, jaccard) with doc_a < doc_b and jaccard >= threshold.

    Inverted-index shape: ONE pass computes distinct shingles + per-doc
    counts, one shuffle groups (doc_id, n_sh) members per shingle bucket,
    pairs expand inside the bucket (array combinations, no self-join — a
    self-join would evaluate the shingle subtree twice), and one final
    shuffle aggregates intersection counts per pair.  Join keys are 64-bit
    xxhash64 longs over the sliced word arrays (``_gram_frame``), never
    shingle strings: ~3x smaller shuffle rows and no per-gram string
    materialization on the scan.  Bucket membership is bounded per task
    (``_capped_pairs``): buckets over ``bucket_cap`` members split into
    blocks, and ``max_bucket`` optionally drops degenerate stopword-gram
    buckets entirely (audit with ``bucket_size_stats`` first).
    """
    # staged selects: materialize the gram array once, THEN size+explode it
    # — referencing the transform expression from both size() and explode()
    # in one projection re-evaluates it per exploded row (~5x slower)
    sh = (_gram_frame(docs, n)
          .select("doc_id", F.size("gr").alias("n_sh"),
                  F.explode("gr").alias("hv"))
          .select("hv", F.struct("doc_id", "n_sh").alias("m")))
    # _capped_pairs dedupes bucket members (array_distinct): a cross-
    # shingle 64-bit hash collision would otherwise put the same doc twice
    # in one bucket and emit a self-pair / inflate the intersection count —
    # negligible probability, nonzero at 10^12-doc scale
    pairs = (_capped_pairs(sh, ["hv"], "m",
                           cap=bucket_cap, max_bucket=max_bucket)
             .select(F.col("p.a.doc_id").alias("doc_a"),
                     F.col("p.b.doc_id").alias("doc_b"),
                     F.col("p.a.n_sh").alias("n_a"),
                     F.col("p.b.n_sh").alias("n_b")))
    out = (pairs.groupBy("doc_a", "doc_b", "n_a", "n_b")
           .agg(F.count("*").alias("inter"))
           .select("doc_a", "doc_b",
                   (F.col("inter")
                    / (F.col("n_a") + F.col("n_b") - F.col("inter"))
                    ).alias("jaccard")))
    return out.filter(F.col("jaccard") >= threshold)


def ngram_jaccard_pairs_prefix(docs: DataFrame, n: int = 3,
                               threshold: float = 0.5,
                               bucket_cap: int = DEFAULT_BUCKET_CAP,
                               max_bucket: int | None = None) -> DataFrame:
    """Exact n-gram Jaccard pairs via prefix filtering (PPJoin-style) —
    the exact-preserving at-scale variant of ngram_jaccard_pairs.

    Shingles get a global total order (ascending document frequency, ties
    by hash); a doc with |A| shingles keeps only its first
    |A| - ceil(t*|A|) + 1 prefix shingles as candidate keys.  Any pair
    with J >= t must share a prefix shingle, so the bucket join touches a
    fraction of the inverted index.  Candidates then pass the two PPJoin
    pruning bounds BEFORE the expensive verify join: the length filter
    (J >= t forces min(|A|,|B|) >= t*max(|A|,|B|)) and the positional
    bound (at the first shared prefix shingle, positions (i, j), overlap
    <= 1 + min(|A|-i, |B|-j); required overlap a = ceil(t*(|A|+|B|)/(1+t));
    the per-pair MAX of row bounds equals the first-match bound because the
    smallest shared shingle has minimal position on both sides) — ~3x fewer
    pairs reach verification.  Survivors are verified exactly with a
    full-array intersection.  Identical output to the unfiltered version
    (tested), but both the pair-expansion shuffle and the verify join
    shrink.
    """
    sh = (_gram_frame(docs, n)
          .select("doc_id", F.explode("gr").alias("hv")))
    # per-doc shingle list in (df, hv) global order; the document frequency
    # comes from a count window over the single hv exchange — an
    # agg + self-join here would shuffle the same shingle set twice more
    # (measured ~25% off the cold index build at sf0.1)
    df_over_hv = F.count("*").over(Window.partitionBy("hv"))
    per_doc = (sh.withColumn("df", df_over_hv)
               .groupBy("doc_id")
               .agg(F.array_sort(F.collect_list(F.struct("df", "hv")))
                    .alias("ordered")))
    per_doc = per_doc.select(
        "doc_id",
        F.transform("ordered", lambda s: s["hv"]).alias("hvs"),
        F.size("ordered").alias("n_sh"))
    # three consumers below (prefix explode + both verify sides): persist so
    # the shingle subtree is evaluated once, not three times.  MEMORY_AND_DISK
    # keeps recomputable lineage (an executor loss just recomputes the lost
    # partitions), unlike localCheckpoint whose executor-local blocks are
    # unrecoverable at scale.  Tracked under the session block-cache LRU —
    # this frame is corpus-sized, and an untracked persist would stay
    # pinned for the session with no clear_block_caches() release point.
    per_doc = _register_session_cache(per_doc)
    # the -1e-9 guards FP-upward drift in t*n: a too-large ceil would
    # shorten the prefix and silently drop true pairs; erring longer only
    # adds candidates (same guard direction in the bounds below: alpha
    # errs small, so pruning never drops a true pair)
    p_len = (F.col("n_sh")
             - F.ceil(F.col("n_sh") * F.lit(threshold) - 1e-9) + 1) \
        .cast("int")
    prefix = (per_doc
              .select("doc_id", "n_sh",
                      F.posexplode(F.slice("hvs", 1, p_len))
                      .alias("pos", "hv")))
    member = F.struct("doc_id", "n_sh", "pos")
    pairs = _capped_pairs(prefix, ["hv"], member,
                          cap=bucket_cap, max_bucket=max_bucket)
    na, nb = F.col("p.a.n_sh"), F.col("p.b.n_sh")
    alpha = F.ceil((F.lit(threshold) / (1.0 + threshold)) * (na + nb) - 1e-9)
    ubound = 1 + F.least(na - F.col("p.a.pos"), nb - F.col("p.b.pos"))
    len_ok = (F.least(na, nb)
              >= F.ceil(F.lit(threshold) * F.greatest(na, nb) - 1e-9))
    cand = (pairs.filter(len_ok & (ubound >= alpha))
            .select(F.col("p.a.doc_id").alias("doc_a"),
                    F.col("p.b.doc_id").alias("doc_b"))
            .distinct())
    full = per_doc.select("doc_id", "hvs", "n_sh")
    a = full.select(F.col("doc_id").alias("doc_a"),
                    F.col("hvs").alias("hvs_a"), F.col("n_sh").alias("n_a"))
    b = full.select(F.col("doc_id").alias("doc_b"),
                    F.col("hvs").alias("hvs_b"), F.col("n_sh").alias("n_b"))
    inter = F.size(F.array_intersect("hvs_a", "hvs_b"))
    out = (cand.join(a, "doc_a").join(b, "doc_b")
           .select("doc_a", "doc_b",
                   (inter / (F.col("n_a") + F.col("n_b") - inter))
                   .alias("jaccard")))
    return out.filter(F.col("jaccard") >= threshold)


def dedup_components(pairs: DataFrame, id_a: str = "doc_a",
                     id_b: str = "doc_b", max_iter: int = 50) -> DataFrame:
    """Connected components over a near-duplicate pair graph:
    (doc_id, component) where component = the minimum doc id reachable —
    the clustering step that turns pair lists (n-gram / MinHash / embedding
    near-dups) into dedup groups with one canonical survivor each.

    Min-label propagation with pointer doubling: every node starts as its
    own label; each round (a) takes the minimum label across the symmetric
    edge list and (b) jumps to the label's own label — so convergence
    takes O(log diameter) rounds, not O(diameter).  Each round is two
    shuffle joins + a partial-agg groupBy on the EDGE list only (nodes
    outside any pair never enter the computation).  Every round's result
    is ``localCheckpoint``-ed: iterative self-referencing lineage grows
    EXPONENTIALLY otherwise (even persisted plans nest until the optimizer
    itself OOMs building the plan string — observed at ~30 rounds); on a
    production cluster set a reliable ``spark.sparkContext.setCheckpointDir``
    and this uses fault-tolerant ``checkpoint`` instead.
    """
    sym = (pairs.select(F.col(id_a).alias("u"), F.col(id_b).alias("v"))
           .unionByName(
               pairs.select(F.col(id_b).alias("u"), F.col(id_a).alias("v")))
           .distinct())
    from pyspark import StorageLevel
    sc = pairs.sparkSession.sparkContext
    reliable = sc.getCheckpointDir() is not None

    def _cut(df: DataFrame) -> DataFrame:
        return df.checkpoint() if reliable else df.localCheckpoint()

    edges = sym.persist(StorageLevel.MEMORY_AND_DISK)
    labels = _cut(edges.select("u").distinct()
                  .select(F.col("u").alias("node"), F.col("u").alias("lbl")))
    for _ in range(max_iter):
        prop = (edges.join(labels.withColumnRenamed("node", "v"), "v")
                .select(F.col("u").alias("node"), "lbl"))
        mins = (labels.unionByName(prop)
                .groupBy("node").agg(F.min("lbl").alias("lbl")))
        # pointer doubling: follow the label's own (new) label
        jump = mins.select(F.col("node").alias("lbl"),
                           F.col("lbl").alias("lbl2"))
        new_labels = _cut(mins.join(jump, "lbl")
                          .select("node", F.least("lbl", "lbl2").alias("lbl")))
        changed = (new_labels.alias("n")
                   .join(labels.alias("o"), "node")
                   .filter(F.col("n.lbl") < F.col("o.lbl"))
                   .limit(1).count())
        labels = new_labels
        if changed == 0:
            break
    edges.unpersist()
    return labels.select(F.col("node").alias("doc_id"),
                         F.col("lbl").alias("component"))


def minhash_signatures(docs: DataFrame, n: int = 3) -> DataFrame:
    """(doc_id, h0..h7) MinHash signature over word n-gram shingles."""
    sh = word_shingles(docs, n).withColumn(
        "hv", md5_long(F.col("shingle")) % MINHASH_P)
    aggs = [F.min((F.lit(a) * F.col("hv") + F.lit(b)) % MINHASH_P)
            .alias(f"h{i}")
            for i, (a, b) in enumerate(MINHASH_COEFFS)]
    return sh.groupBy("doc_id").agg(*aggs)


def minhash_bands(docs: DataFrame, n: int = 3,
                  band_size: int = 2) -> DataFrame:
    """(doc_id, band_id, band_hash) — the banded MinHash signature frame,
    the LSH bucket key material of ``minhash_lsh_pairs``.  Signatures are
    corpus-independent: each doc's bands depend only on its own
    shingles."""
    sig = minhash_signatures(docs, n)
    n_bands = len(MINHASH_COEFFS) // band_size
    # one explode instead of a union of n_bands selects: the signature
    # subtree (shingles + hash + groupBy) is evaluated once, not n_bands x
    band_structs = [
        F.struct(
            F.lit(b).alias("band_id"),
            F.md5(F.concat_ws("|", *[
                F.col(f"h{b * band_size + j}").cast("string")
                for j in range(band_size)])).alias("band_hash"))
        for b in range(n_bands)]
    return (sig.select("doc_id",
                       F.explode(F.array(*band_structs)).alias("band"))
            .select("doc_id", "band.band_id", "band.band_hash"))


def minhash_lsh_pairs(docs: DataFrame, n: int = 3,
                      band_size: int = 2,
                      bucket_cap: int = DEFAULT_BUCKET_CAP,
                      max_bucket: int | None = None) -> DataFrame:
    """LSH candidate pairs: docs sharing any band of the MinHash signature.
    (doc_a, doc_b, n_bands) — the scale path for near-dup detection: the
    only wide shuffle is on (band_id, band_hash) buckets.  Bucket
    membership is bounded per task (``_capped_pairs``): a degenerate band
    bucket (boilerplate/empty docs with identical band hashes) splits into
    <=``bucket_cap``-member blocks instead of one unbounded array row, and
    ``max_bucket`` optionally drops such buckets outright (they encode no
    pair signal a 10^12-doc pipeline wants — exact dedup catches identical
    boilerplate at a fraction of the O(m^2) pair cost)."""
    all_bands = minhash_bands(docs, n, band_size)
    # bucket-and-expand instead of a self-join: the self-join would run the
    # whole signature computation twice (no exchange reuse after the
    # right side is de-aliased); this shape shuffles it once.
    pairs = (_capped_pairs(all_bands, ["band_id", "band_hash"], "doc_id",
                           cap=bucket_cap, max_bucket=max_bucket)
             .groupBy(F.col("p.a").alias("doc_a"),
                      F.col("p.b").alias("doc_b"))
             .agg(F.countDistinct("band_id").alias("n_bands")))
    return pairs


def simhash(docs: DataFrame, bits: int = 16, n: int = 2) -> DataFrame:
    """(doc_id, simhash) — per-bit majority vote over shingle hashes."""
    sh = word_shingles(docs, n).withColumn("hv", md5_long(F.col("shingle")))
    bit_terms = [
        F.when(F.sum(F.when(F.shiftright(F.col("hv"), b).bitwiseAND(1) == 1,
                            1).otherwise(-1)) > 0, F.lit(1 << b)).otherwise(0)
        for b in range(bits)
    ]
    total = bit_terms[0]
    for t in bit_terms[1:]:
        total = total + t
    return sh.groupBy("doc_id").agg(total.alias("simhash"))


def stratified_sample(docs: DataFrame, fractions: dict[str, float],
                      seed: int = 17, default: float = 0.0) -> DataFrame:
    """Deterministic hash-stratified sampling by the ``source`` column:
    keep a doc iff its md5-derived uniform in [0, 1) is below the stratum's
    fraction.  No RNG state — reproducible across engines, runs, and
    repartitionings (the property a curation pipeline needs for auditable
    mixture weights); map-side only, predicate fully pushable."""
    u = (md5_long(F.concat_ws(":", F.lit(str(seed)), F.col("source"),
                              F.col("doc_id").cast("string")))
         % 1_000_000) / 1_000_000.0
    expr = None
    for src, frac in sorted(fractions.items()):
        cond = F.col("source") == src
        expr = (F.when(cond, F.lit(frac)) if expr is None
                else expr.when(cond, F.lit(frac)))
    frac_col = (expr.otherwise(F.lit(default)) if expr is not None
                else F.lit(default))
    return docs.filter(u < frac_col)


def token_histogram(docs: DataFrame, top_k: int = 50) -> DataFrame:
    """Top-k global token histogram over the BPE-ish tokenization:
    (token, n, rank) with deterministic ties (count desc, token asc).
    The top-k cut is ``orderBy().limit(k)``, which Catalyst compiles to
    ``TakeOrderedAndProject`` — each partition keeps a k-row heap and only
    k rows per partition ever reach the driver-side merge, so the full
    vocabulary (itself corpus-scale for a web corpus: every typo is a
    token) is never sorted on, or moved to, one task.  Rank is then a
    window over the <=k survivors only — bounded by construction, unlike
    an unpartitioned row_number over the whole count frame."""
    bpe = F.regexp_extract_all(F.col("text"), F.lit(BPE_TOKEN_RE), 0)
    counts = (_spread(docs).select(F.explode(bpe).alias("token"))
              .groupBy("token").agg(F.count("*").alias("n")))
    top = counts.orderBy(F.col("n").desc(), F.col("token")).limit(top_k)
    w = Window.orderBy(F.col("n").desc(), F.col("token"))
    return top.withColumn("rank", F.row_number().over(w))


def decontaminate(docs: DataFrame, benchmark: DataFrame,
                  n: int = 5, max_overlap: float = 0.0) -> DataFrame:
    """Benchmark decontamination: the doc ids that share NO word n-gram
    with the benchmark set (the held-out eval data a training corpus must
    not contain).  The benchmark shingle set is small -> broadcast
    left-semi probe; the corpus is scanned once and never shuffled.
    Both sides probe on 64-bit ``xxhash64`` gram keys (``_gram_frame``),
    never materializing gram strings: the broadcast hash table holds 8-byte
    longs instead of ~n-word strings (at a 100k-gram benchmark that is the
    difference between an ~1 MB and a multi-MB table shipped to every
    executor), and a 2^-64 cross-side collision can only mark one extra doc
    contaminated — conservative in the safe direction for decontamination.

    ``max_overlap`` > 0 switches to fractional-overlap semantics (the
    GPT-3-appendix-C-style gate): a doc survives unless MORE than that
    fraction of its distinct n-grams appear in the benchmark — a single
    idiomatic phrase no longer nukes a long document.  Same single corpus
    scan; the semi-join probe becomes a broadcast inner join + per-doc
    count aggregation (partial map-side combine keyed on doc_id, so the
    exchange carries one row per doc with >=1 hit, not one per hit).
    Docs too short to produce any n-gram have no grams to overlap and
    always survive, in both modes."""
    bench_sh = (_gram_frame(benchmark, n)
                .select(F.explode("gr").alias("hv")).distinct())
    if max_overlap <= 0.0:
        doc_sh = (_gram_frame(docs, n)
                  .select("doc_id", F.explode("gr").alias("hv")))
        contaminated = (doc_sh
                        .join(F.broadcast(bench_sh), "hv", "left_semi")
                        .select("doc_id").distinct())
    else:
        # one gram-array evaluation, staged so size() and explode() share it
        # (the same re-evaluation trap as ngram_jaccard_pairs)
        doc_sh = (_gram_frame(docs, n)
                  .select("doc_id", F.size("gr").alias("n_gr"),
                          F.explode("gr").alias("hv")))
        contaminated = (doc_sh
                        .join(F.broadcast(bench_sh), "hv", "inner")
                        .groupBy("doc_id", "n_gr")
                        .agg(F.count("*").alias("n_hit"))
                        .filter(F.col("n_hit") > F.col("n_gr") * max_overlap)
                        .select("doc_id"))
    return docs.select("doc_id").join(contaminated, "doc_id", "left_anti")


# ---------------------------------------------------------------------------
# Similarity search
# ---------------------------------------------------------------------------

def cosine_topk(emb: DataFrame, query_ids: list[int], k: int = 3,
                round_to: int = 5) -> DataFrame:
    """Brute-force cosine top-k: (query_id, neighbor_id, rank, cos_sim).

    Distributed partial top-k: the query matrix is collected (a handful of
    vectors) and closed over; each partition scores its corpus slice with
    one NumPy matmul and emits only its local top-k per query, so the final
    exchange carries <= k * n_partitions * n_queries candidate rows — never
    the full |corpus| x |queries| cross join.  Ordering (rounded sim desc,
    neighbor_id asc) is identical in the partial and global ranks, which
    makes the global top-k exact.  The IVF/LSH variants bucket candidates
    first for the sub-scan path.
    """
    import numpy as np
    import pandas as pd
    from typing import Iterator
    from pyspark.sql.types import (DoubleType, LongType, StructField,
                                   StructType)

    qpdf = (emb.filter(F.col("vec_id").isin(query_ids))
            .select("vec_id", "embedding").toPandas())
    Q = np.stack([np.asarray(v, dtype=np.float64)
                  for v in qpdf["embedding"]])
    # zero-norm clip (same as every other embedding op): an unclipped 0/0
    # yields NaN cos_sim, which numpy's lexsort ranks LAST but Spark's
    # desc window ranks FIRST — the partial and global top-k orderings
    # would disagree and a zero vector could surface as the top hit
    qn = np.clip(np.linalg.norm(Q, axis=1), 1e-12, None)
    qids = qpdf["vec_id"].to_numpy()
    scale = float(10 ** round_to)

    cand_schema = StructType([
        StructField("query_id", LongType(), False),
        StructField("neighbor_id", LongType(), False),
        StructField("cos_sim", DoubleType(), False),
    ])

    def score(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            keep = ~pdf["vec_id"].isin(query_ids)
            if not keep.any():
                continue
            ids = pdf["vec_id"].to_numpy()[keep.to_numpy()]
            M = np.stack([np.asarray(v, dtype=np.float64)
                          for v in pdf["embedding"][keep]])
            sims = (M @ Q.T) / (np.clip(np.linalg.norm(M, axis=1),
                                        1e-12, None)[:, None]
                                * qn[None, :])
            # decimal HALF_UP to match SQL round(): rank on the rounded
            # value so partial and global orderings agree bit-for-bit
            sims = np.sign(sims) * np.floor(np.abs(sims) * scale
                                            + 0.5) / scale
            out_q, out_n, out_s = [], [], []
            for j, qid in enumerate(qids):
                order = np.lexsort((ids, -sims[:, j]))[:k]
                out_q.extend([qid] * len(order))
                out_n.extend(ids[order])
                out_s.extend(sims[order, j])
            yield pd.DataFrame({"query_id": out_q, "neighbor_id": out_n,
                                "cos_sim": out_s})

    cands = emb.mapInPandas(score, schema=cand_schema)
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id"))
    return (cands.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("query_id", "neighbor_id", "rank", "cos_sim"))


def _rerank_candidates(emb: DataFrame, cand: DataFrame,
                       query_ids: list[int], k: int,
                       round_to: int) -> DataFrame:
    """Exact cosine rerank of (query_id, neighbor_id) candidates: one join
    to fetch neighbor vectors, query matrix closed over, NumPy scoring per
    Arrow batch, global top-k window.  Shared by the LSH, IVF and PQ
    paths."""
    import numpy as np
    import pandas as pd
    from typing import Iterator
    from pyspark.sql.types import (DoubleType, LongType, StructField,
                                   StructType)

    qpdf = (emb.filter(F.col("vec_id").isin(query_ids))
            .select("vec_id", "embedding").toPandas())
    qvecs = {int(i): np.asarray(v, dtype=np.float64)
             for i, v in zip(qpdf["vec_id"], qpdf["embedding"])}
    # zero-norm clip: see cosine_topk — NaN cos_sim inverts the global rank
    qnorm = {i: max(float(np.linalg.norm(v)), 1e-12)
             for i, v in qvecs.items()}
    scale = float(10 ** round_to)

    scored_schema = StructType([
        StructField("query_id", LongType(), False),
        StructField("neighbor_id", LongType(), False),
        StructField("cos_sim", DoubleType(), False),
    ])

    def score(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            M = np.stack([np.asarray(v, dtype=np.float64)
                          for v in pdf["embedding"]])
            nn = np.clip(np.linalg.norm(M, axis=1), 1e-12, None)
            Q = np.stack([qvecs[int(q)] for q in pdf["query_id"]])
            qn = np.array([qnorm[int(q)] for q in pdf["query_id"]])
            sims = np.einsum("ij,ij->i", M, Q) / (nn * qn)
            sims = np.sign(sims) * np.floor(np.abs(sims) * scale
                                            + 0.5) / scale
            yield pd.DataFrame({"query_id": pdf["query_id"],
                                "neighbor_id": pdf["neighbor_id"],
                                "cos_sim": sims})

    nv = emb.select(F.col("vec_id").alias("neighbor_id"), "embedding")
    scored = (cand.join(nv, "neighbor_id")
              .select("query_id", "neighbor_id", "embedding")
              .mapInPandas(score, schema=scored_schema))
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id"))
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("query_id", "neighbor_id", "rank", "cos_sim"))


EXACT_NEAR_DUP_MAX = 200_000  # corpus rows above which "auto" routes to LSH


def embedding_near_dup_pairs(emb: DataFrame, threshold: float = 0.3,
                             round_to: int = 5,
                             method: str = "auto",
                             exact_max: int = EXACT_NEAR_DUP_MAX) -> DataFrame:
    """Embedding-cosine near-duplicate pairs:
    (vec_id_a, vec_id_b, cos_sim) with vec_id_a < vec_id_b and
    cosine >= threshold.

    ``auto`` (default): exact when the corpus fits the broadcast-matrix
    budget (``exact_max`` rows), else the LSH path — so the DEFAULT is
    scale-safe and no full-corpus driver collect is reachable on a large
    table.  ``exact``: every partition scores its rows against the
    normalized corpus matrix collected once on the driver (O(n*d) memory —
    explicit opt-in beyond exact_max).  ``lsh``: hyperplane-bucket
    candidates then exact rerank — approximate (bucket recall, tested).
    """
    import numpy as np
    import pandas as pd
    from typing import Iterator
    from pyspark.sql.types import (DoubleType, LongType, StructField,
                                   StructType)

    if method == "auto":
        # metadata-level count (parquet row-count scan, no data read)
        method = "exact" if emb.count() <= exact_max else "lsh"

    out_schema = StructType([
        StructField("vec_id_a", LongType(), False),
        StructField("vec_id_b", LongType(), False),
        StructField("cos_sim", DoubleType(), False),
    ])
    scale = float(10 ** round_to)

    if method == "lsh":
        # low-threshold near-dups are far apart in angle: collision prob
        # per plane at cos=0.3 is ~0.6, so favor few planes x many tables
        # (4x8 -> ~0.66 recall at the threshold, higher above it)
        buckets = lsh_buckets(emb, n_planes=4, n_tables=8)
        cand = (_capped_pairs(buckets, ["table_id", "bucket"], "vec_id")
                .select(F.col("p.a").alias("vec_id_a"),
                        F.col("p.b").alias("vec_id_b"))
                .distinct())
        return verify_cosine_pairs(emb, cand, threshold=threshold,
                                   round_to=round_to)

    vpdf = emb.select("vec_id", "embedding").toPandas()
    V = np.stack([np.asarray(v, dtype=np.float64) for v in vpdf["embedding"]])
    V = V / np.clip(np.linalg.norm(V, axis=1, keepdims=True), 1e-12, None)
    vids = vpdf["vec_id"].to_numpy()

    def score_all(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            M = np.stack([np.asarray(v, dtype=np.float64)
                          for v in pdf["embedding"]])
            M = M / np.clip(np.linalg.norm(M, axis=1, keepdims=True),
                            1e-12, None)
            mids = pdf["vec_id"].to_numpy()
            sims = M @ V.T
            ii, jj = np.where((sims >= threshold)
                              & (mids[:, None] < vids[None, :]))
            s = sims[ii, jj]
            s = np.sign(s) * np.floor(np.abs(s) * scale + 0.5) / scale
            yield pd.DataFrame({"vec_id_a": mids[ii],
                                "vec_id_b": vids[jj], "cos_sim": s})

    return emb.mapInPandas(score_all, schema=out_schema)


def verify_cosine_pairs(emb: DataFrame, pairs: DataFrame,
                        threshold: float = 0.3,
                        round_to: int = 5) -> DataFrame:
    """Exact cosine verification of CANDIDATE pairs — the verify half of
    the embedding LSH->verify flow: ``(vec_id_a, vec_id_b, cos_sim)`` for
    exactly the candidates whose true cosine clears ``threshold``.

    Embeddings are fetched per pair side via equi-joins (never a corpus
    self-join or a driver collect); the similarity is a vectorized Arrow
    pass over the joined rows.  Candidates only bound RECALL — every pair
    returned is exact (the cosine-vs-``embedding_near_dup_pairs`` parity
    is tested)."""
    import numpy as np
    import pandas as pd
    from typing import Iterator
    from pyspark.sql.types import (DoubleType, LongType, StructField,
                                   StructType)

    out_schema = StructType([
        StructField("vec_id_a", LongType(), False),
        StructField("vec_id_b", LongType(), False),
        StructField("cos_sim", DoubleType(), False),
    ])
    scale = float(10 ** round_to)
    a = emb.select(F.col("vec_id").alias("vec_id_a"),
                   F.col("embedding").alias("ea"))
    b = emb.select(F.col("vec_id").alias("vec_id_b"),
                   F.col("embedding").alias("eb"))
    joined = (pairs.select("vec_id_a", "vec_id_b")
              .join(a, "vec_id_a").join(b, "vec_id_b"))

    def score_pairs(batches: Iterator[pd.DataFrame]) \
            -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            A = np.stack([np.asarray(v, dtype=np.float64)
                          for v in pdf["ea"]])
            B = np.stack([np.asarray(v, dtype=np.float64)
                          for v in pdf["eb"]])
            # zero-norm clip, as in the exact path: a zero vector scores
            # cos 0 instead of 0/0 = NaN
            sims = np.einsum("ij,ij->i", A, B) / (
                np.clip(np.linalg.norm(A, axis=1), 1e-12, None)
                * np.clip(np.linalg.norm(B, axis=1), 1e-12, None))
            keep = sims >= threshold
            sims = np.sign(sims) * np.floor(np.abs(sims) * scale
                                            + 0.5) / scale
            yield pd.DataFrame({
                "vec_id_a": pdf["vec_id_a"][keep],
                "vec_id_b": pdf["vec_id_b"][keep],
                "cos_sim": sims[keep]})

    return joined.mapInPandas(score_pairs, schema=out_schema)


def lsh_buckets(emb: DataFrame, n_planes: int = 8, n_tables: int = 2,
                seed: int = 7) -> DataFrame:
    """(vec_id, table_id, bucket) — random-hyperplane (sign) LSH buckets.

    The scale path for ANN over 10^9+ vectors: candidates are co-bucketed, so
    the exact-cosine rerank touches only same-bucket pairs; the only wide
    shuffle is on (table_id, bucket).  Hyperplanes are seeded-deterministic
    and broadcast inside the Arrow batch closure.
    """
    import numpy as np
    import pandas as pd
    from typing import Iterator
    from pyspark.sql.types import (IntegerType, LongType, StructField,
                                   StructType)

    out_schema = StructType([
        StructField("vec_id", LongType(), False),
        StructField("table_id", IntegerType(), False),
        StructField("bucket", LongType(), False),
    ])

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        planes = None
        for pdf in batches:
            M = np.stack([np.asarray(v, dtype=np.float64)
                          for v in pdf["embedding"]])
            if planes is None:
                rng = np.random.default_rng(seed)
                planes = rng.standard_normal((n_tables, M.shape[1], n_planes))
            ids, tids, buckets = [], [], []
            for tbl in range(n_tables):
                bits = (M @ planes[tbl]) > 0
                b = (bits * (1 << np.arange(n_planes))).sum(axis=1)
                ids.append(pdf["vec_id"].to_numpy())
                tids.append(np.full(len(pdf), tbl, dtype=np.int32))
                buckets.append(b.astype(np.int64))
            yield pd.DataFrame({
                "vec_id": np.concatenate(ids),
                "table_id": np.concatenate(tids),
                "bucket": np.concatenate(buckets)})

    return emb.mapInPandas(run, schema=out_schema)


def cosine_topk_lsh(emb: DataFrame, query_ids: list[int], k: int = 3,
                    n_planes: int = 6, n_tables: int = 3,
                    round_to: int = 5) -> DataFrame:
    """Approximate cosine top-k: LSH-bucket candidate generation + exact
    rerank within buckets.  Same output shape as cosine_topk."""
    buckets = lsh_buckets(emb, n_planes=n_planes, n_tables=n_tables)
    qb = F.broadcast(
        buckets.filter(F.col("vec_id").isin(query_ids))
        .withColumnRenamed("vec_id", "query_id"))
    cand = (qb.join(buckets.filter(~F.col("vec_id").isin(query_ids)),
                    ["table_id", "bucket"])
            .select("query_id", F.col("vec_id").alias("neighbor_id"))
            .distinct())
    return _rerank_candidates(emb, cand, query_ids, k, round_to)


def ivf_centroids(emb: DataFrame, n_centroids: int = 16, n_iter: int = 8,
                  seed: int = 11, sample: int = 4096):
    """Train a spherical k-means coarse quantizer on a deterministic sample.

    Returns a unit-normalized ``[n_centroids, dim]`` ndarray.  Training runs
    driver-side on a bounded sample (at corpus scale: ``emb.sample(frac)``)
    — cost O(sample * C * iter), negligible next to the assignment scan,
    and the centroid table broadcast to executors is a few KB.
    """
    import numpy as np

    pdf = (emb.orderBy("vec_id").limit(sample).select("embedding").toPandas())
    X = np.stack([np.asarray(v, dtype=np.float64) for v in pdf["embedding"]])
    X = X / np.clip(np.linalg.norm(X, axis=1, keepdims=True), 1e-12, None)
    rng = np.random.default_rng(seed)
    C = X[rng.choice(len(X), size=min(n_centroids, len(X)), replace=False)]
    for _ in range(n_iter):
        assign = (X @ C.T).argmax(axis=1)
        newC = np.zeros_like(C)
        np.add.at(newC, assign, X)
        norms = np.linalg.norm(newC, axis=1, keepdims=True)
        dead = norms[:, 0] < 1e-12          # empty cluster: keep old centroid
        newC = np.where(dead[:, None], C, newC / np.clip(norms, 1e-12, None))
        if np.allclose(newC, C):
            break
        C = newC
    return C


def ivf_assign(emb: DataFrame, centroids) -> DataFrame:
    """(vec_id, centroid_id): nearest-centroid assignment, one shuffle-free
    Arrow pass with the centroid matrix closed over (broadcast)."""
    import numpy as np
    import pandas as pd
    from typing import Iterator
    from pyspark.sql.types import (IntegerType, LongType, StructField,
                                   StructType)

    C = np.asarray(centroids, dtype=np.float64)
    out_schema = StructType([
        StructField("vec_id", LongType(), False),
        StructField("centroid_id", IntegerType(), False),
    ])

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            M = np.stack([np.asarray(v, dtype=np.float64)
                          for v in pdf["embedding"]])
            M = M / np.clip(np.linalg.norm(M, axis=1, keepdims=True),
                            1e-12, None)
            yield pd.DataFrame({
                "vec_id": pdf["vec_id"].to_numpy(),
                "centroid_id": (M @ C.T).argmax(axis=1).astype(np.int32)})

    return emb.mapInPandas(run, schema=out_schema)


def cosine_topk_ivf(emb: DataFrame, query_ids: list[int], k: int = 3,
                    n_centroids: int = 16, nprobe: int = 4,
                    round_to: int = 5) -> DataFrame:
    """Approximate cosine top-k via an IVF coarse quantizer: probe the
    ``nprobe`` nearest centroid cells per query, exact-rerank only inside
    probed cells.  Same output shape as cosine_topk.

    Scale path: assignment is one narrow scan; the probe list is a tiny
    broadcast dim; the rerank join touches ~nprobe/n_centroids of the corpus.
    """
    import numpy as np

    spark = emb.sparkSession
    C = ivf_centroids(emb, n_centroids=n_centroids)
    assigned = ivf_assign(emb, C)

    qpdf = (emb.filter(F.col("vec_id").isin(query_ids))
            .select("vec_id", "embedding").toPandas())
    Q = np.stack([np.asarray(v, dtype=np.float64)
                  for v in qpdf["embedding"]])
    Q = Q / np.clip(np.linalg.norm(Q, axis=1, keepdims=True), 1e-12, None)
    order = np.argsort(-(Q @ C.T), axis=1)[:, :nprobe]
    probes = [(int(qid), int(cid))
              for qid, row in zip(qpdf["vec_id"], order) for cid in row]
    probe_df = F.broadcast(spark.createDataFrame(
        probes, schema="query_id long, centroid_id int"))

    cand = (probe_df.join(assigned, "centroid_id")
            .filter(~F.col("vec_id").isin(query_ids))
            .select("query_id", F.col("vec_id").alias("neighbor_id")))
    return _rerank_candidates(emb, cand, query_ids, k, round_to)



def curate_corpus(docs: DataFrame, benchmark: DataFrame | None = None,
                  min_tokens: int = 50, jaccard_n: int = 3,
                  jaccard_threshold: float = 0.5,
                  fractions: dict[str, float] | None = None,
                  sample_default: float = 0.0, seed: int = 17,
                  persist: bool = True):
    """One-call training-corpus curation funnel, composed from the
    first-class operators in cost order (cheapest cuts first, so each
    expensive stage sees an already-reduced corpus):

        input -> quality (min token count)
              -> exact dedup (content-hash survivors, min doc_id kept)
              -> decontaminate (benchmark 5-gram broadcast probe)
              -> near-dup removal (PPJoin Jaccard pairs -> components,
                 component representative kept)
              -> stratified sample (deterministic hash mixture weights)

    Returns ``(kept, funnel)``: the surviving docs DataFrame and a small
    (stage_idx, stage, n_docs) funnel report, computed EAGERLY so the
    intermediate caches can be released before returning (``persist=True``
    caches each stage while its count and the downstream stages consume
    it, then unpersists — nothing leaks into the caller's session; a later
    action on ``kept`` re-derives the chain, so persist or checkpoint
    ``kept`` yourself if you will reuse it).  At corpus scale prefer
    committing each stage to a table (Pipeline-style) instead.
    """
    from pyspark import StorageLevel

    cached: list[DataFrame] = []

    def _cut(df: DataFrame) -> DataFrame:
        if not persist:
            return df
        cached.append(df.persist(StorageLevel.MEMORY_AND_DISK))
        return cached[-1]

    stages: list[tuple[str, DataFrame]] = [("input", docs)]
    cur = docs.filter(F.size(_words("text")) >= min_tokens)
    stages.append(("quality", cur))

    keep_ids = (cur.groupBy(F.md5(F.col("text")).alias("fp"))
                .agg(F.min("doc_id").alias("doc_id")).select("doc_id"))
    cur = _cut(cur.join(keep_ids, "doc_id", "left_semi"))
    stages.append(("exact_dedup", cur))

    if benchmark is not None:
        clean_ids = decontaminate(cur, benchmark)
        cur = _cut(cur.join(clean_ids, "doc_id", "left_semi"))
        stages.append(("decontaminate", cur))

    pairs = ngram_jaccard_pairs_prefix(cur, n=jaccard_n,
                                       threshold=jaccard_threshold)
    removed = (dedup_components(pairs)
               .filter(F.col("doc_id") != F.col("component"))
               .select("doc_id"))
    cur = _cut(cur.join(removed, "doc_id", "left_anti"))
    stages.append(("near_dup", cur))

    if fractions is not None:
        cur = stratified_sample(cur, fractions, seed=seed,
                                default=sample_default)
        stages.append(("sample", cur))

    rows = [(i, name, df.count()) for i, (name, df) in enumerate(stages)]
    funnel = docs.sparkSession.createDataFrame(
        rows, schema="stage_idx int, stage string, n_docs long")
    for df in cached:
        df.unpersist()
    return cur, funnel


def pq_codebooks(emb: DataFrame, m: int = 8, n_centroids: int = 16,
                 n_iter: int = 8, seed: int = 13, sample: int = 4096):
    """Train product-quantization codebooks (Jegou et al., TPAMI 2011 —
    public literature): split the (normalized) embedding into ``m``
    subspaces and k-means each independently on a deterministic bounded
    sample.  Returns a ``[m, n_centroids, dim//m]`` ndarray.  Same scale
    profile as ``ivf_centroids``: driver-side on a few thousand rows,
    broadcast as a few KB."""
    import numpy as np

    pdf = emb.orderBy("vec_id").limit(sample).select("embedding").toPandas()
    X = np.stack([np.asarray(v, dtype=np.float64) for v in pdf["embedding"]])
    X = X / np.clip(np.linalg.norm(X, axis=1, keepdims=True), 1e-12, None)
    dim = X.shape[1]
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    dsub = dim // m
    rng = np.random.default_rng(seed)
    books = np.empty((m, n_centroids, dsub))
    for s in range(m):
        Xs = X[:, s * dsub:(s + 1) * dsub]
        # a corpus smaller than n_centroids seeds with replacement so the
        # codebook keeps its full (m, n_centroids, dsub) shape — callers
        # (pq_encode's argmin, cosine_topk_pq's LUT) rely on it;
        # duplicated centroids are harmless (ties resolve to the lowest
        # index, empty clusters keep their seed)
        C = Xs[rng.choice(len(Xs), size=n_centroids,
                          replace=len(Xs) < n_centroids)]
        for _ in range(n_iter):
            d2 = ((Xs[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
            assign = d2.argmin(axis=1)
            newC = np.zeros_like(C)
            counts = np.bincount(assign, minlength=len(C)).astype(np.float64)
            np.add.at(newC, assign, Xs)
            dead = counts == 0
            newC = np.where(dead[:, None], C,
                            newC / np.maximum(counts, 1.0)[:, None])
            if np.allclose(newC, C):
                break
            C = newC
        books[s] = C
    return books


def pq_encode(emb: DataFrame, codebooks) -> DataFrame:
    """(vec_id, codes array<int>): nearest sub-centroid per subspace, one
    shuffle-free Arrow pass.  At scale this is the memory play: dim float32
    -> m small ints per vector (e.g. 256 B -> 8 B), so a 10^12-vector index
    fits a few TB of executor memory instead of a few hundred."""
    import numpy as np
    import pandas as pd
    from typing import Iterator
    from pyspark.sql.types import (ArrayType, IntegerType, LongType,
                                   StructField, StructType)

    B = np.asarray(codebooks, dtype=np.float64)
    m, _, dsub = B.shape
    out_schema = StructType([
        StructField("vec_id", LongType(), False),
        StructField("codes", ArrayType(IntegerType(), False), False),
    ])

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            X = np.stack([np.asarray(v, dtype=np.float64)
                          for v in pdf["embedding"]])
            X = X / np.clip(np.linalg.norm(X, axis=1, keepdims=True),
                            1e-12, None)
            codes = np.empty((len(X), m), dtype=np.int32)
            for s in range(m):
                Xs = X[:, s * dsub:(s + 1) * dsub]
                d2 = ((Xs[:, None, :] - B[s][None, :, :]) ** 2).sum(axis=2)
                codes[:, s] = d2.argmin(axis=1)
            yield pd.DataFrame({"vec_id": pdf["vec_id"].to_numpy(),
                                "codes": list(codes)})

    return emb.mapInPandas(run, schema=out_schema)


def cosine_topk_pq(emb: DataFrame, query_ids: list[int], k: int = 3,
                   m: int = 8, n_centroids: int = 16, rerank: int = 32,
                   round_to: int = 5) -> DataFrame:
    """Approximate cosine top-k via product quantization + asymmetric
    distance computation (ADC): per query, a tiny ``[m, n_centroids]``
    lookup table of sub-dot-products scores every vector from its codes
    alone; the approximate top-``rerank`` candidates are then exact-reranked
    (same tail as the LSH/IVF paths).  Same output shape as cosine_topk.

    Scale path: the corpus is touched once through its code columns (no
    raw-vector scan), the per-batch partial top-rerank keeps the exchange
    at rerank * parts * queries rows, and the exact rerank joins only
    rerank * queries raw vectors.
    """
    import numpy as np
    import pandas as pd
    from typing import Iterator
    from pyspark.sql.types import (DoubleType, LongType, StructField,
                                   StructType)

    B = pq_codebooks(emb, m=m, n_centroids=n_centroids)
    dsub = B.shape[2]
    coded = pq_encode(emb, B)

    qpdf = (emb.filter(F.col("vec_id").isin(query_ids))
            .select("vec_id", "embedding").toPandas())
    Q = np.stack([np.asarray(v, dtype=np.float64)
                  for v in qpdf["embedding"]])
    Q = Q / np.clip(np.linalg.norm(Q, axis=1, keepdims=True), 1e-12, None)
    qids = qpdf["vec_id"].to_numpy()
    # LUT[q, s, c] = <Q_sub(q,s), centroid(s,c)> ; ADC score = sum_s LUT
    lut = np.einsum("qsd,scd->qsc",
                    Q.reshape(len(Q), m, dsub), B)

    cand_schema = StructType([
        StructField("query_id", LongType(), False),
        StructField("neighbor_id", LongType(), False),
        StructField("approx", DoubleType(), False),
    ])

    def score(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            keep = ~pdf["vec_id"].isin(query_ids)
            if not keep.any():
                continue
            ids = pdf["vec_id"].to_numpy()[keep.to_numpy()]
            codes = np.stack([np.asarray(c, dtype=np.int64)
                              for c in pdf["codes"][keep]])
            # gather per-subspace LUT entries: [n_queries, rows]
            approx = lut[:, np.arange(m)[None, :], codes].sum(axis=2)
            out_q, out_n, out_s = [], [], []
            for j, qid in enumerate(qids):
                order = np.lexsort((ids, -approx[j]))[:rerank]
                out_q.extend([int(qid)] * len(order))
                out_n.extend(ids[order])
                out_s.extend(approx[j][order])
            yield pd.DataFrame({"query_id": out_q, "neighbor_id": out_n,
                                "approx": out_s})

    cands = coded.mapInPandas(score, schema=cand_schema)
    w = Window.partitionBy("query_id").orderBy(
        F.col("approx").desc(), F.col("neighbor_id"))
    cand = (cands.withColumn("r", F.row_number().over(w))
            .filter(F.col("r") <= rerank)
            .select("query_id", "neighbor_id"))
    return _rerank_candidates(emb, cand, query_ids, k, round_to)


# ---------------------------------------------------------------------------
# Text analysis
# ---------------------------------------------------------------------------

def text_stats(docs: DataFrame) -> DataFrame:
    """Token counts + quality features per doc.  NULL text reads as empty
    (``_words_safe``): with the NULL-unsafe split, ``size(NULL)`` = -1
    poisoned every downstream ratio (n_tokens=-1, avg_word_len negative) —
    these per-doc operators must emit a sane row for every input doc."""
    w = _words_safe("text")
    n_tokens = F.size(w)
    avg_len = (F.col("n_chars") - (n_tokens - 1)) / n_tokens  # chars per word
    stop_hits = F.size(F.array_intersect(F.array_distinct(w),
                                         F.array([F.lit(s) for s in STOPWORDS])))
    return docs.select(
        "doc_id",
        n_tokens.alias("n_tokens"),
        F.round(avg_len, 6).alias("avg_word_len"),
        stop_hits.alias("stopword_kinds"),
        (n_tokens >= 50).cast("int").alias("len_ok"),
    )


BPE_TOKEN_RE = "[A-Za-z0-9]+|[^A-Za-z0-9\\s]"


def token_counts(docs: DataFrame) -> DataFrame:
    """Whitespace vs BPE-ish token counts per doc.  The regex mirrors a
    GPT-2-style pretokenizer's split classes (alnum runs vs single
    punctuation marks) in a dialect both Java regex and RE2 accept, so
    the DuckDB oracle is exact.  NULL text reads as empty (size(NULL)
    would emit -1 counts)."""
    w = _words_safe("text")
    bpe = F.regexp_extract_all(F.coalesce(F.col("text"), F.lit("")),
                               F.lit(BPE_TOKEN_RE), 0)
    return docs.select(
        "doc_id",
        F.size(w).alias("n_ws_tokens"),
        F.size(bpe).alias("n_bpe_tokens"),
        F.size(F.array_distinct(bpe)).alias("n_bpe_types"))


def tokenize_documents(docs: DataFrame, vocab_size: int = 50257) -> DataFrame:
    """documents(text) -> the canonical tokenized-sequence table
    (doc_id:string, tokens:array<int>, n_tok:int, source) — the bridge
    from a raw text corpus to every sequence operator in this engine
    (detrend, tier rollup, packing, sharding).  BPE-ish pretokenization
    (GPT-2 split classes, ``BPE_TOKEN_RE``) followed by a deterministic
    hash vocabulary: token id = 56-bit md5-derived integer mod
    ``vocab_size``, portable across engines so an ANSI-SQL oracle
    reproduces every id bit-exactly (xxhash64 would be faster but is
    Spark-only; tokenization runs once per corpus and the contract here
    is cross-engine determinism).  Map-side only: one corpus scan, no
    shuffle, column pruning reaches the parquet reader.  NULL text reads
    as empty (tokens=[], n_tok=0 — not NULL/-1)."""
    bpe = F.regexp_extract_all(F.coalesce(F.col("text"), F.lit("")),
                               F.lit(BPE_TOKEN_RE), 0)
    ids = F.transform(bpe, lambda t: (md5_long(t) % vocab_size).cast("int"))
    return docs.select(
        F.col("doc_id").cast("string").alias("doc_id"),
        ids.alias("tokens"),
        F.size(bpe).cast("int").alias("n_tok"),
        "source")


def lang_id(docs: DataFrame) -> DataFrame:
    """Heuristic language id: share of known-English stopwords among
    distinct words -> 'en' vs 'other' (deterministic, oracle-friendly).
    NULL text reads as empty -> stop_ratio 0, 'other' (the NULL-unsafe
    split gave it size(NULL)/size(NULL) = (-1)/(-1) = 1.0 -> 'en')."""
    w = F.array_distinct(_words_safe("text"))
    stop_hits = F.size(F.array_intersect(
        w, F.array([F.lit(s) for s in STOPWORDS])))
    ratio = stop_hits / F.size(w)
    return docs.select(
        "doc_id", F.round(ratio, 6).alias("stop_ratio"),
        F.when(ratio >= 0.05, "en").otherwise("other").alias("lang_guess"))


def repetition_stats(docs: DataFrame, n_top: int = 2,
                     n_dup: int = 3) -> DataFrame:
    """Within-document repetition signals, the standard pretraining-corpus
    quality gate (Rae et al. 2021, "Gopher", appendix A1.1):
    (doc_id, top_ngram_share, dup_ngram_frac).

    ``top_ngram_share`` — occurrences of the doc's most frequent word
    ``n_top``-gram over total ``n_top``-gram occurrences (Gopher cuts at
    0.20 for bigrams); ``dup_ngram_frac`` — fraction of ``n_dup``-gram
    occurrences whose gram occurs more than once in the doc.  Fractions
    are over token occurrences rather than the paper's characters: the
    ranking is near-identical and the arithmetic stays integer-exact for
    the oracle.  A doc too short for one of the two gram lengths gets
    NULL for that signal (undefined, not zero); docs shorter than both
    are absent.  ``n_top`` and ``n_dup`` must differ — the gram streams
    are distinguished by their length tag, so equal values would
    double-count every gram.

    Scale shape: ONE corpus scan emits both gram streams tagged by n,
    one (doc_id, n, gram) count, one per-doc rollup — explode + groupBy,
    never a per-doc O(d*u) in-array occurrence count, so a pathological
    repeated-token doc costs O(len) like every other and the widest
    per-key state is one count per distinct (doc, gram).  No reference
    counterpart — LLM-pipeline extension.
    """
    if n_top == n_dup:
        raise ValueError(
            f"n_top and n_dup must differ, both are {n_top}")

    def _tag(n: int) -> F.Column:
        return F.transform(_grams_all(n), lambda g: F.struct(
            F.lit(n).alias("n"), g.alias("g")))

    tagged = (_spread(docs, "doc_id")
              .filter(F.size(_words("text")) >= min(n_top, n_dup))
              .select("doc_id",
                      F.explode(F.concat(_tag(n_top), _tag(n_dup)))
                      .alias("t")))
    counts = (tagged
              .groupBy("doc_id", F.col("t.n").alias("n"),
                       F.col("t.g").alias("g"))
              .agg(F.count("*").alias("c")))
    is_top, is_dup = F.col("n") == n_top, F.col("n") == n_dup
    per_doc = counts.groupBy("doc_id").agg(
        F.max(F.when(is_top, F.col("c"))).alias("top_c"),
        F.sum(F.when(is_top, F.col("c"))).alias("top_tot"),
        F.sum(F.when(is_dup & (F.col("c") > 1), F.col("c"))).alias("dup_c"),
        F.sum(F.when(is_dup, F.col("c"))).alias("dup_tot"))
    return per_doc.select(
        "doc_id",
        F.round(F.col("top_c") / F.col("top_tot"), 6)
         .alias("top_ngram_share"),
        F.round(F.coalesce(F.col("dup_c"), F.lit(0)) / F.col("dup_tot"), 6)
         .alias("dup_ngram_frac"))


def doc_fingerprint(docs: DataFrame) -> DataFrame:
    """Order-insensitive content fingerprint: md5 over the sorted distinct
    word set (bag-of-words identity for fuzzy-dedup pre-grouping)."""
    w = F.array_sort(F.array_distinct(_words("text")))
    return docs.select(
        "doc_id", F.md5(F.concat_ws(" ", w)).alias("fingerprint"))


def dedup_spans(docs: DataFrame, n: int = 50, min_count: int = 2,
                bucket_width: int = 64, persist: bool = True) -> DataFrame:
    """Remove every occurrence of any word ``n``-gram span repeated at
    least ``min_count`` times across the corpus (with multiplicity, so
    intra-document repeats count) — span-level dedup in the spirit of
    Lee et al. 2022, "Deduplicating Training Data Makes Language Models
    Better" (ExactSubstr), at n-gram granularity: overlapping repeated
    grams merge into maximal dropped spans, the surviving words
    reassemble in order.

    Returns ``(doc_id, clean_text, n_words, n_dropped)`` — one row per
    input doc, empty ``clean_text`` when the whole doc was repeated.

    Scale shape: every stage is an equi-key shuffle — positional gram
    hashes (native ``xxhash64`` over word slices, no gram strings) are
    counted corpus-wide, repeated occurrences join back on the 8-byte
    hash, overlapping spans merge per doc with one gaps-and-islands
    window, and surviving words are selected by the bucketized
    ``interval_join`` (never a nested loop).  No driver materialization
    anywhere.
    """
    _validate_span_params(n, min_count)
    base = _spread(docs, "doc_id").select(
        "doc_id", _words_safe("text").alias("w"))
    kept = _dedup_array_spans(base, n, min_count, bucket_width, persist)
    return kept.select(
        "doc_id",
        F.concat_ws(" ", "kept").alias("clean_text"),
        "n_words", "n_dropped")


def dedup_token_spans(sequences: DataFrame, n: int = 50,
                      min_count: int = 2, bucket_width: int = 64,
                      persist: bool = True) -> DataFrame:
    """``dedup_spans`` for the TOKENIZED payload: repeated token
    ``n``-gram spans across the sequence corpus are removed from every
    occurrence; returns ``(doc_id, kept, n_tok, n_dropped)`` with
    ``kept`` the surviving tokens in order — the training-data span
    surgery of Lee et al. 2022 applied directly to the engine's
    canonical ``(doc_id, tokens, ...)`` table.  Tokens are matched
    verbatim (mask gap sentinels upstream if runs of gaps must not
    count as repeats)."""
    _validate_span_params(n, min_count)
    base = _spread(sequences, "doc_id").select(
        "doc_id",
        F.coalesce(F.col("tokens"), F.array().cast("array<int>"))
        .alias("w"))
    kept = _dedup_array_spans(base, n, min_count, bucket_width, persist)
    return kept.select("doc_id", "kept",
                       F.col("n_words").alias("n_tok"), "n_dropped")


def _validate_span_params(n: int, min_count: int) -> None:
    if n < 1 or min_count < 2:
        raise ValueError("need n >= 1 and min_count >= 2")


def _dedup_array_spans(base: DataFrame, n: int, min_count: int,
                       bucket_width: int, persist: bool = True) -> DataFrame:
    """Shared span-dedup core over ``(doc_id, w: array<any>)``:
    (doc_id, kept: array, n_words, n_dropped).  See ``dedup_spans``
    for the plan-shape discussion.  ``base`` feeds four plan branches
    (gram counting, the dup join probe, the survivor points, and the
    totals), so by default it is persisted — same discipline as the
    Jaccard inverted-index build; like there, the cache lives until
    Spark's LRU evicts it or the app clears it (the result is lazy, so
    there is no sound earlier unpersist point).  Pass ``persist=False``
    from memory-constrained callers to trade executor storage for
    recomputed scans."""
    from wotan_spark.spark.joins import interval_join

    if persist:
        base = base.persist()
    # positional gram hashes, WITH multiplicity (unlike _gram_frame)
    idx = F.sequence(F.lit(0), F.size("w") - n)
    gh = F.when(
        F.size("w") >= n,
        F.transform(idx, lambda i: F.xxhash64(F.slice("w", i + 1, n)))
    ).otherwise(F.array().cast("array<bigint>"))
    occ = base.select("doc_id", F.posexplode(gh).alias("pos", "hv"))
    dup = (occ.groupBy("hv").agg(F.count("*").alias("c"))
           .filter(F.col("c") >= min_count).select("hv"))
    marks = (occ.join(dup, "hv")
             .select("doc_id", "pos", (F.col("pos") + n).alias("end")))

    # gaps-and-islands: merge overlapping/adjacent dropped spans per doc
    wnd = Window.partitionBy("doc_id").orderBy("pos")
    prev_end = F.max("end").over(
        wnd.rowsBetween(Window.unboundedPreceding, -1))
    brk = F.when(prev_end.isNull() | (F.col("pos") > prev_end), 1) \
           .otherwise(0)
    islands = (marks.withColumn("iid", F.sum(brk).over(wnd))
               .groupBy("doc_id", "iid")
               .agg(F.min("pos").alias("s"), F.max("end").alias("e"))
               .select("doc_id", "s", "e"))

    # survivors: elements outside every island (islands are disjoint, so
    # the left interval join emits exactly one row per element)
    pts = base.select("doc_id", F.posexplode("w").alias("i", "word"))
    kept = (interval_join(pts, islands, on="doc_id", point_col="i",
                          start_col="s", end_col="e",
                          bucket_width=bucket_width, how="left")
            .filter(F.col("s_iv").isNull()))
    rebuilt = (kept.groupBy("doc_id")
               .agg(F.count("*").alias("n_kept"),
                    F.transform(
                        F.array_sort(F.collect_list(
                            F.struct("i", "word"))),
                        lambda s: s["word"]).alias("kept")))
    totals = base.select("doc_id",
                         F.size("w").cast("long").alias("n_words"))
    empty = F.array().cast(
        base.schema["w"].dataType.simpleString())
    return (totals.join(rebuilt, "doc_id", "left")
            .select("doc_id",
                    F.coalesce("kept", empty).alias("kept"),
                    "n_words",
                    (F.col("n_words")
                     - F.coalesce("n_kept", F.lit(0))).cast("long")
                    .alias("n_dropped")))
