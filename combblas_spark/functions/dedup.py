"""Deduplication: exact, MinHash+LSH, SimHash, n-gram Jaccard.

Scale design: every method reduces near-dup detection to an equi-join
on a small derived key (hash / band signature / simhash prefix) so the
candidate-pair generation is a shuffle join on that key — never an
all-pairs comparison. This is the standard web-corpus dedup pipeline
(shingle -> minhash -> band -> bucket-join) expressed in DataFrame ops.

MinHash uses the md5-ordering trick: min(md5(seed_i || shingle)) is a
valid min-wise-independent-ish hash family AND is reproducible in any
engine with md5 (the DuckDB oracle shares it verbatim).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from combblas_spark.portable import pround

from combblas_spark.functions.text import fingerprint, shingles, tokens, word_tokens


# ---------------------------------------------------------------- exact dedup

def exact_duplicates(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Groups of byte-identical (whitespace/case-normalized) documents:
    (fingerprint, n_dups, keep_id = min doc id)."""
    return (
        docs.select(F.col(id_col).alias("id"), fingerprint(F.col(text_col)).alias("fp"))
        .groupBy("fp")
        .agg(F.count(F.lit(1)).alias("n_dups"), F.min("id").alias("keep_id"))
    )


def dedup_exact(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Keep one representative (min id) per fingerprint.

    Implemented as one aggregate — ``min_by(struct(<row>), id)`` per
    fingerprint (plans as a partial+final SortAggregate, sorted on the
    fingerprint key only) — NOT a row_number window. The aggregate is
    map-side combinable: each input partition forwards at most one
    candidate row per fingerprint it sees, so shuffle bytes shrink by
    the WITHIN-PARTITION duplication factor. That factor is large
    exactly when duplicates co-locate — crawl-segment-ordered web
    corpora, where recrawls and mirror pages arrive together — and ~1
    under random placement. Measured 3-way A/B vs the window and a
    thin-key semi-join (BENCH.md round-4):
    min_by is ~1.3x faster for thin rows, a wash (within host noise)
    at 2KB rows single-box; the window never beats it by more than
    noise, and min_by is the only variant whose network bytes can
    drop below corpus size on a real cluster."""
    rep = (
        docs.groupBy(fingerprint(F.col(text_col)).alias("_fp"))
        .agg(F.min_by(F.struct(*[F.col(c) for c in docs.columns]),
                      F.col(id_col)).alias("_rep"))
    )
    return rep.select("_rep.*")


# ------------------------------------------------------------------- MinHash

def minhash_signatures(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 8,
    shingle_k: int = 3,
) -> DataFrame:
    """(id, h0..h{n-1}) minhash signature per document.

    h_i = min over shingles of md5('<i>:' || shingle) — string-min over
    hex digests; engine-portable and exactly oracle-checkable.
    """
    # NO distinct on the exploded shingles: min over the multiset equals
    # min over the set, and the dedup would cost a full shuffle of the
    # exploded table (~shingle_k x corpus bytes) before the aggregation.
    # The groupBy's map-side partial min absorbs duplicates in place.
    sh = docs.select(
        F.col(id_col).alias("id"),
        F.explode(shingles(F.col(text_col), shingle_k)).alias("sh"),
    )
    aggs = [
        F.min(F.md5(F.concat(F.lit(f"{i}:"), F.col("sh")))).alias(f"h{i}")
        for i in range(num_hashes)
    ]
    return sh.groupBy("id").agg(*aggs)


def lsh_candidate_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bands: int = 4,
    rows_per_band: int = 2,
    shingle_k: int = 3,
) -> DataFrame:
    """Near-dup candidate pairs (id_a < id_b) that collide in >=1 LSH band.

    Signature of bands*rows_per_band minhashes; band key = md5 of its
    concatenated rows; candidates = self-equi-join per band key (the
    scale path: join on the band key, never all-pairs).
    """
    # materialize: the band self-join references the signature subtree on
    # BOTH sides and Catalyst replans it twice (same recompute class as
    # the triangle L / MCL kept caches) — the shingle explode+agg is the
    # expensive part, run it once
    sig = minhash_signatures(
        docs, id_col, text_col, bands * rows_per_band, shingle_k
    ).localCheckpoint(eager=True)
    band_rows = None
    for b in range(bands):
        cols = [F.col(f"h{b * rows_per_band + r}") for r in range(rows_per_band)]
        one = sig.select(
            "id", F.lit(b).alias("band"), F.md5(F.concat_ws("|", *cols)).alias("key")
        )
        band_rows = one if band_rows is None else band_rows.unionByName(one)
    a = band_rows.alias("a")
    b = band_rows.alias("b")
    return (
        a.join(b, (F.col("a.band") == F.col("b.band")) & (F.col("a.key") == F.col("b.key"))
               & (F.col("a.id") < F.col("b.id")))
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )


# ------------------------------------------------------------------- SimHash

def simhash(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text",
            bits: int = 32) -> DataFrame:
    """(id, simhash long): sign-sum of per-token hash bits.

    Token hash = first 15 hex digits of md5(token) as a 60-bit integer
    (engine-portable, exactly reproducible in the DuckDB oracle via
    nibble parsing — unlike xxhash64); bit j of the simhash is 1 iff the
    sum over tokens of (2*bit_j(token_hash)-1) is positive. JVM-side
    only: explode tokens -> per-(id,bit) sum -> bit-OR assembly.
    """
    toks = docs.select(
        F.col(id_col).alias("id"), F.explode(word_tokens(F.col(text_col))).alias("t")
    )
    th = toks.select(
        "id",
        F.conv(F.substring(F.md5(F.col("t")), 1, 15), 16, 10).cast("long").alias("h"),
    )
    bit = F.explode(F.sequence(F.lit(0), F.lit(bits - 1))).alias("b")
    per_bit = (
        th.select("id", F.col("h"), bit)
        .select(
            "id", "b",
            F.when(F.expr("shiftright(h, CAST(b AS INT)) & 1") == 1, 1).otherwise(-1).alias("s"),
        )
        .groupBy("id", "b")
        .agg(F.sum("s").alias("tot"))
    )
    return (
        per_bit.select(
            "id",
            F.when(F.col("tot") > 0, F.expr("shiftleft(CAST(1 AS BIGINT), CAST(b AS INT))"))
            .otherwise(F.lit(0).cast("long")).alias("bitval"),
        )
        .groupBy("id")
        .agg(F.sum("bitval").alias("simhash"))
    )


def simhash_near_dups(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text",
                      bits: int = 32, max_hamming: int = 3) -> DataFrame:
    """Near-dup pairs by simhash Hamming distance, candidate-generated by
    band equality on 4 bit-slices (a pair within distance<=3 must agree
    on >=1 of 4 slices — pigeonhole; max_hamming must stay < 4 for the
    candidate generation to be complete, enforced below)."""
    if not 0 <= max_hamming <= 3:
        raise ValueError(
            f"simhash_near_dups: max_hamming must be in [0, 3] — the "
            f"4-slice pigeonhole candidate generation is incomplete at "
            f"distance >= 4 (got {max_hamming}); use more slices or a "
            f"different method for larger radii")
    # eager checkpoint, not persist: the band self-join reads sh on both
    # sides, and a checkpoint needs no unpersist bookkeeping on return
    sh = simhash(docs, id_col, text_col, bits).localCheckpoint(eager=True)
    slice_bits = bits // 4
    mask = (1 << slice_bits) - 1
    bands = None
    for s in range(4):
        one = sh.select(
            "id", "simhash", F.lit(s).alias("band"),
            F.shiftright(F.col("simhash"), s * slice_bits).bitwiseAND(F.lit(mask)).alias("key"),
        )
        bands = one if bands is None else bands.unionByName(one)
    a, b = bands.alias("a"), bands.alias("b")
    cand = (
        a.join(b, (F.col("a.band") == F.col("b.band")) & (F.col("a.key") == F.col("b.key"))
               & (F.col("a.id") < F.col("b.id")))
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"),
                F.col("a.simhash").alias("sa"), F.col("b.simhash").alias("sb"))
        .distinct()
    )
    ham = F.bit_count(F.col("sa").bitwiseXOR(F.col("sb")))
    return cand.filter(ham <= max_hamming).select("id_a", "id_b", ham.alias("hamming"))


# -------------------------------------- exact similarity join (prefix filter)

def _candidate_key_mode(key_encoding: str):
    """Shared candidate-key encoding for the prefix-filter family
    (prefix_filter_pairs / incremental_prefix_pairs / containment_pairs
    — keep them IDENTICAL or their rarity orders silently diverge).

    Returns ``(key, keyed, order)``: the candidate-join column name,
    a function deriving it (xxhash64 over the shingle for "hash64",
    identity for "string" — derived after checkpoints, cheaper to
    recompute than store), and the tie-broken rarity ORDER BY list.
    The order is a consistent total order over true shingles in both
    encodings, which is all the prefix-filter lemma needs."""
    if key_encoding not in ("string", "hash64"):
        raise ValueError(
            f"key_encoding must be 'string' or 'hash64', got {key_encoding!r}")
    use_hash = key_encoding == "hash64"
    key = "k" if use_hash else "sh"

    def keyed(d: DataFrame) -> DataFrame:
        return d.withColumn("k", F.xxhash64("sh")) if use_hash else d

    order = ["df", "k", "sh"] if use_hash else ["df", "sh"]
    return key, keyed, order


def prefix_filter_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.8,
    shingle_k: int = 3,
    other: DataFrame | None = None,
    key_encoding: str = "hash64",
    shingles_df: DataFrame | None = None,
) -> DataFrame:
    """EXACT word-k-gram Jaccard similarity self-join via prefix
    filtering (the AllPairs/PPJoin candidate condition): returns EVERY
    pair (id_a < id_b, jaccard) with jaccard >= threshold — zero recall
    loss, unlike the MinHash-LSH path (lsh_candidate_pairs).

    Scale design: the candidate join touches only each document's
    PREFIX — its p = |S| - floor(t*|S|) + 1 globally-RAREST shingles
    (order = corpus document-frequency asc, shingle asc). The prefix-
    filter lemma guarantees any pair with Jaccard >= t shares a prefix
    shingle (if all shared shingles sat in the suffix, overlap would be
    <= |S| - p = floor(t*|S|) - 1 < ceil(t*|S|), the minimum overlap
    Jaccard >= t requires — using floor for p makes the prefix one
    longer than strictly needed, robust to IEEE rounding of t*|S|).
    Rare-first ordering bounds the equi-join fan-out: a shingle shared
    by millions of pages is df-ranked last and falls out of every
    prefix. A symmetric size filter (t*|a| <= |b| <= |a|/t) prunes
    candidates before the verify stage, which rescans only candidate
    pairs' shingle sets — never all-pairs.

    ``other`` switches to the INCREMENTAL (batch-vs-corpus) shape: pairs
    are (id_a from ``docs``, id_b from ``other``) only — the corpus side
    is never self-joined, which is what makes per-crawl-batch dedup
    O(batch x selectivity) instead of O(corpus^2). Shingle document
    frequencies are computed over BOTH sides so the rarity order (and
    hence the prefix-filter guarantee) is consistent; the two id spaces
    must be disjoint or the caller filters self-pairs.

    ``key_encoding="hash64"`` (the default) runs the CANDIDATE stages
    (df groupBy, freq join, prefix equi-join — the three biggest
    shuffles) on ``xxhash64(sh)`` 8-byte longs instead of ~(8+k*word)
    byte shingle strings. EXACTNESS IS PRESERVED: the rarity order
    becomes (df(h), h, sh) — still a consistent total order over the
    true shingle universe (the sh tie-break covers the astronomically-
    rare h collision), so the prefix-filter lemma holds verbatim; a
    hash collision in the candidate join can only ADD candidate pairs,
    and the verify stage rescans true strings, so the output is
    identical to string mode (driver-oracle-checked: prefix_jaccard vs
    prefix_jaccard_hash64 share one oracle). Measured best-of-2
    alternating, 32 cores: 1.18x at 100k docs, 2.34x at 400k docs
    (89.3s -> 38.2s) — the win GROWS with scale as string-key shuffles
    start spilling. ``"string"`` keeps the original plan.
    """
    key, keyed, order = _candidate_key_mode(key_encoding)

    def explode_sh(d: DataFrame) -> DataFrame:
        return d.select(
            F.col(id_col).alias("id"),
            F.explode(F.array_distinct(shingles(F.col(text_col), shingle_k))).alias("sh"),
        )

    # checkpoint: feeds freq, ranking, and the verify rescans
    # shingles_df: precomputed (id, sh) distinct word-k-gram table for
    # the docs side (caller keeps ONE exploded table per pipeline stage
    # instead of this function re-exploding — review r4: ingest_batch
    # paid the explode three times per micro-batch). Caller is
    # responsible for it being materialized (checkpointed/persisted).
    sh_a = (shingles_df if shingles_df is not None
            else explode_sh(docs).localCheckpoint(eager=True))
    sh_b = explode_sh(other).localCheckpoint(eager=True) if other is not None else sh_a
    sh_all = sh_a if other is None else sh_a.unionByName(sh_b)
    freq = keyed(sh_all).groupBy(key).agg(F.count(F.lit(1)).alias("df"))

    def prefix_of(sh: DataFrame) -> DataFrame:
        # set size rides the SAME window partitioning as the rarity rank
        # (unbounded count over the id partition) — one exchange fewer
        # than a separate groupBy+join; measured parity on one box, a
        # full shingle-table network shuffle saved on a cluster
        w = Window.partitionBy("id").orderBy(*order)
        return (
            keyed(sh).join(freq, key)
            .withColumn("pos", F.row_number().over(w))
            .withColumn("sz", F.count(F.lit(1)).over(Window.partitionBy("id")))
            .where(F.col("pos") <= F.col("sz") - F.floor(F.lit(threshold) * F.col("sz")) + 1)
            .select("id", key, "sz")
        )

    a = prefix_of(sh_a).alias("a")
    b = (a if other is None else prefix_of(sh_b)).alias("b")
    pair_pred = (F.col("a.id") < F.col("b.id")) if other is None else F.lit(True)
    cand = (
        a.join(b, (F.col(f"a.{key}") == F.col(f"b.{key}")) & pair_pred
               & (F.col("b.sz") >= F.lit(threshold) * F.col("a.sz"))
               & (F.col("a.sz") >= F.lit(threshold) * F.col("b.sz")))
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )
    sa = sh_a.select(F.col("id").alias("id_a"), "sh")
    sb = sh_b.select(F.col("id").alias("id_b"), "sh")
    # candidates share >=1 prefix shingle, so the intersection count is
    # never null — inner joins throughout
    inter = (
        cand.join(sa, "id_a").join(sb, ["id_b", "sh"])
        .groupBy("id_a", "id_b").agg(F.count(F.lit(1)).alias("n_inter"))
    )
    za = sh_a.groupBy("id").agg(F.count(F.lit(1)).alias("n_a")).withColumnRenamed("id", "id_a")
    zb = sh_b.groupBy("id").agg(F.count(F.lit(1)).alias("n_b")).withColumnRenamed("id", "id_b")
    jac = F.col("n_inter").cast("double") / (F.col("n_a") + F.col("n_b") - F.col("n_inter"))
    return (
        inter.join(za, "id_a").join(zb, "id_b")
        .where(jac >= threshold)
        .select("id_a", "id_b", pround(jac).alias("jaccard"))
    )


def incremental_prefix_pairs(
    batch: DataFrame,
    corpus_shingles: DataFrame,
    corpus_sizes: DataFrame,
    df_table: DataFrame | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.8,
    shingle_k: int = 3,
    key_encoding: str = "hash64",
    shingles_df: DataFrame | None = None,
) -> DataFrame:
    """EXACT batch-vs-corpus Jaccard join against a PERSISTED corpus —
    the O(batch)-work-per-ingest variant of ``prefix_filter_pairs(
    other=...)`` (which re-shingles and re-ranks the full corpus on
    every call; ADVICE r3). The corpus side arrives pre-computed:

      corpus_shingles: (id, sh)  — distinct word-k-gram per corpus doc
      corpus_sizes:    (id, n)   — |S(id)| per corpus doc
      df_table:        (sh, df)  — corpus shingle document frequency
                                    (optional, rarity ORDER only)

    Correctness needs NO corpus-side prefix: J(a,b) >= t implies
    overlap >= t*|S(a)| (from J = o/(|a|+|b|-o) >= t and |b| >= o), so
    by pigeonhole a's prefix — its |S(a)| - floor(t*|S(a)|) + 1 rarest
    shingles — must intersect b's FULL shingle set. The prefix-filter
    lemma holds under ANY total shingle order; ranking by the persisted
    (even slightly stale) corpus df is purely a fan-out optimization,
    so the sidecar never has to be recomputed when the corpus grows.
    The candidate join is batch-prefix x corpus-shingles with the
    symmetric size filter; verification rescans candidate pairs only.
    Returns (id_a from batch, id_b from corpus, jaccard >= threshold).

    ``key_encoding="hash64"`` (default): the batch-prefix x corpus-
    shingles join runs on ``xxhash64(sh)`` longs derived ON READ from
    both sides — no sidecar format change, corpus tables keep strings.
    Exactness as in ``prefix_filter_pairs``: collisions only add
    candidates; verification rescans true strings.
    """
    key, keyed, order = _candidate_key_mode(key_encoding)

    # shingles_df: precomputed, materialized (id, sh) for the batch —
    # same contract as prefix_filter_pairs(shingles_df=)
    sh_a = shingles_df if shingles_df is not None else batch.select(
        F.col(id_col).alias("id"),
        F.explode(F.array_distinct(shingles(F.col(text_col), shingle_k))).alias("sh"),
    ).localCheckpoint(eager=True)
    # rank a's shingles by persisted corpus df; unseen shingles get
    # df 0 = rarest (exactly right: they cannot hit the corpus anyway).
    # The df table is corpus-sized — left to AQE (a shuffle join on sh
    # at scale, auto-broadcast when the corpus is small). This join
    # stays on strings (the sidecar's key) — it is batch-prefix-sized
    # on the probe side, not the scale driver.
    if df_table is not None:
        ranked = sh_a.join(df_table, "sh", "left").select(
            "id", "sh", F.coalesce(F.col("df"), F.lit(0)).alias("df"))
    else:
        ranked = sh_a.select("id", "sh", F.lit(0).alias("df"))
    w = Window.partitionBy("id").orderBy(*order)
    pre = (
        keyed(ranked)
        .withColumn("pos", F.row_number().over(w))
        .withColumn("sz", F.count(F.lit(1)).over(Window.partitionBy("id")))
        .where(F.col("pos") <= F.col("sz") - F.floor(F.lit(threshold) * F.col("sz")) + 1)
        .select("id", key, "sz")
    )
    # candidate equi-join WITHOUT the size columns: joining sizes onto
    # the full corpus shingle table first would shuffle corpus-shingle-
    # sized data by id on EVERY ingest (review finding r4, undercutting
    # the O(batch) contract). The symmetric size filter is applied to
    # the candidate-pair-sized set instead — candidates are bounded by
    # prefix rarity, orders of magnitude below corpus shingles.
    b = keyed(corpus_shingles).select(F.col("id").alias("id_b"), key)
    cand = (
        pre.alias("a").join(b, F.col(f"a.{key}") == b[key])
        .select(F.col("a.id").alias("id_a"), "id_b", F.col("a.sz").alias("sz_a"))
        .distinct()
        .join(corpus_sizes.select(F.col("id").alias("id_b"),
                                  F.col("n").alias("sz_b")), "id_b")
        .where((F.col("sz_b") >= F.lit(threshold) * F.col("sz_a"))
               & (F.col("sz_a") >= F.lit(threshold) * F.col("sz_b")))
        .select("id_a", "id_b")
    )
    sa = sh_a.select(F.col("id").alias("id_a"), "sh")
    sb = corpus_shingles.select(F.col("id").alias("id_b"), "sh")
    inter = (
        cand.join(sa, "id_a").join(sb, ["id_b", "sh"])
        .groupBy("id_a", "id_b").agg(F.count(F.lit(1)).alias("n_inter"))
    )
    za = sh_a.groupBy("id").agg(F.count(F.lit(1)).alias("n_a")).withColumnRenamed("id", "id_a")
    zb = corpus_sizes.select(F.col("id").alias("id_b"), F.col("n").alias("n_b"))
    jac = F.col("n_inter").cast("double") / (F.col("n_a") + F.col("n_b") - F.col("n_inter"))
    return (
        inter.join(za, "id_a").join(zb, "id_b")
        .where(jac >= threshold)
        .select("id_a", "id_b", pround(jac).alias("jaccard"))
    )


def containment_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.8,
    shingle_k: int = 3,
    key_encoding: str = "hash64",
) -> DataFrame:
    """EXACT containment similarity self-join: every ordered pair
    (id_a != id_b) with |S(a) ∩ S(b)| / |S(a)| >= threshold — i.e. doc
    a's shingles are mostly inside doc b. ASYMMETRIC by design: a short
    quoted/boilerplate-included document is contained in its superset
    even when their Jaccard is far below any near-dup threshold, which
    is exactly the case the symmetric join (prefix_filter_pairs)
    cannot catch.

    Candidate rule: containment >= t forces |S(a) ∩ S(b)| >=
    ceil(t*|S(a)|), so by pigeonhole a's rarity-ordered PREFIX (length
    |S(a)| - floor(t*|S(a)|) + 1, same floor robustness as the Jaccard
    filter) must intersect b's FULL shingle set — the join is
    a-prefix x all-shingles, still bounded by prefix rarity, never
    all-pairs. Verification rescans candidate pairs only. Returns
    (id_a, id_b, containment): id_a is the contained document.

    ``key_encoding="hash64"`` (default): same exactness-preserving
    candidate-key compression as ``prefix_filter_pairs`` (candidate
    shuffles on xxhash64 longs, verify on true strings).
    """
    key, keyed, order = _candidate_key_mode(key_encoding)

    sh = docs.select(
        F.col(id_col).alias("id"),
        F.explode(F.array_distinct(shingles(F.col(text_col), shingle_k))).alias("sh"),
    ).localCheckpoint(eager=True)
    freq = keyed(sh).groupBy(key).agg(F.count(F.lit(1)).alias("df"))
    w = Window.partitionBy("id").orderBy(*order)
    pre = (
        keyed(sh).join(freq, key)
        .withColumn("pos", F.row_number().over(w))
        .withColumn("sz", F.count(F.lit(1)).over(Window.partitionBy("id")))
        .where(F.col("pos") <= F.col("sz") - F.floor(F.lit(threshold) * F.col("sz")) + 1)
        .select("id", key, "sz")
    )
    a, b = pre.alias("a"), keyed(sh).alias("b")
    cand = (
        a.join(b, (F.col(f"a.{key}") == F.col(f"b.{key}")) & (F.col("a.id") != F.col("b.id")))
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )
    sa = sh.select(F.col("id").alias("id_a"), "sh")
    sb = sh.select(F.col("id").alias("id_b"), "sh")
    inter = (
        cand.join(sa, "id_a").join(sb, ["id_b", "sh"])
        .groupBy("id_a", "id_b").agg(F.count(F.lit(1)).alias("n_inter"))
    )
    za = sh.groupBy("id").agg(F.count(F.lit(1)).alias("n_a")).withColumnRenamed("id", "id_a")
    cont = F.col("n_inter").cast("double") / F.col("n_a")
    return (
        inter.join(za, "id_a")
        .where(cont >= threshold)
        .select("id_a", "id_b", pround(cont).alias("containment"))
    )


def near_dup_clusters(docs: DataFrame, pairs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Cluster near-duplicate documents: connected components over the
    verified near-dup pair graph — the step after prefix_filter_pairs /
    LSH-verify in a web-corpus dedup pipeline (transitive closure
    matters: A~B and B~C must dedup to ONE cluster even when A~C is
    below threshold). Canonical document = min doc id per cluster;
    documents in no pair are their own singleton cluster. Returns
    (id, cluster, is_canonical)."""
    from combblas_spark.algorithms.components import connected_components

    edges = pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
    comp = connected_components(edges)
    return (
        docs.select(F.col(id_col).alias("id"))
        .join(comp, "id", "left")
        .select("id", F.coalesce("comp", F.col("id")).alias("cluster"))
        .withColumn("is_canonical", F.col("id") == F.col("cluster"))
    )


# --------------------------------------------------- exact-substring spans

def duplicate_spans(
    docs: DataFrame,
    k: int = 10,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Exact-substring duplication detection (Lee et al. 2022,
    'Deduplicating Training Data Makes Language Models Better'),
    approximated at k-token window granularity: every k-token sliding
    window whose text occurs more than once in the corpus (another
    document OR another position of the same document) marks its span
    as duplicated. Returns per-document
    (id, n_windows, n_dup_windows, dup_frac) — the span-level removal
    decision is the caller's (cut vs drop); this is the measurement.

    Scale shape: posexplode windows -> count per window text (map-side
    combined; the heavy-hitter boilerplate windows are exactly the ones
    with large counts, absorbed by partial aggregation) -> flag join
    back -> per-doc counts. No all-pairs anywhere.
    """
    t = F.col(text_col)
    win = docs.select(
        F.col(id_col).alias("id"),
        F.posexplode(shingles(t, k)).alias("pos", "w"),
    )
    cnt = win.groupBy("w").agg(F.count(F.lit(1)).alias("c"))
    flagged = win.join(cnt, "w").select(
        "id", (F.col("c") > 1).cast("int").alias("dup"))
    per_doc = flagged.groupBy("id").agg(
        F.count(F.lit(1)).alias("n_windows"),
        F.sum("dup").alias("n_dup_windows"),
    )
    return (
        docs.select(F.col(id_col).alias("id")).join(per_doc, "id", "left")
        .select(
            "id",
            F.coalesce("n_windows", F.lit(0)).alias("n_windows"),
            F.coalesce("n_dup_windows", F.lit(0)).alias("n_dup_windows"),
            pround(
                F.when(F.coalesce("n_windows", F.lit(0)) > 0,
                       F.coalesce("n_dup_windows", F.lit(0)).cast("double")
                       / F.col("n_windows")).otherwise(F.lit(0.0))).alias("dup_frac"),
        )
    )


def remove_duplicate_spans(
    docs: DataFrame,
    k: int = 10,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Exact-substring duplication REMOVAL — the apply step of the
    Lee et al. 2022 ExactSubstr pipeline whose measurement half is
    ``duplicate_spans``: every token covered by any k-token window
    whose text occurs more than once in the corpus (another document
    OR another position of the same document) is cut from the text.
    ALL occurrences are removed (the conservative rule: duplicated
    boilerplate disappears entirely; keeping one canonical copy per
    duplicate group is a compose with ``exact_duplicates``, which
    dedups at document granularity). Returns
    (id, clean_text, n_removed) for every input document — documents
    shorter than k tokens have no windows and pass through intact;
    a fully-duplicated document comes back as the empty string.

    Scale shape: windows posexplode (n_tokens rows/doc, same as
    duplicate_spans) -> window-text count with map-side combine ->
    semi-join flags dup windows -> coverage explode bounded by
    (#dup windows x k) -> anti-join on (id, token position) -> one
    per-doc aggregation rebuilds the text (array_sort over (pos, tok)
    structs — doc-sized buffers, the same width as the text column
    itself). No all-pairs, no Python.
    """
    t = F.col(text_col)
    win = docs.select(
        F.col(id_col).alias("id"),
        F.posexplode(shingles(t, k)).alias("pos", "w"),
    )
    dup = (win.groupBy("w").agg(F.count(F.lit(1)).alias("c"))
           .where(F.col("c") > 1).select("w"))
    covered = (
        win.join(dup, "w", "left_semi")
        .select("id", F.explode(
            F.sequence(F.col("pos"), F.col("pos") + F.lit(k - 1))).alias("tp"))
        .distinct()
    )
    toks = docs.select(
        F.col(id_col).alias("id"), F.posexplode(tokens(t)).alias("tp", "tok"))
    kept = toks.join(covered, ["id", "tp"], "left_anti")
    rebuilt = kept.groupBy("id").agg(
        F.concat_ws(
            " ",
            F.transform(F.array_sort(F.collect_list(F.struct("tp", "tok"))),
                        lambda x: x["tok"]),
        ).alias("clean_text"),
        F.count(F.lit(1)).alias("_n_kept"),
    )
    return (
        docs.select(F.col(id_col).alias("id"), F.size(tokens(t)).alias("_n"))
        .join(rebuilt, "id", "left")
        .select(
            "id",
            F.coalesce("clean_text", F.lit("")).alias("clean_text"),
            (F.col("_n") - F.coalesce("_n_kept", F.lit(0))).alias("n_removed"),
        )
    )


# ------------------------------------------------------------- n-gram Jaccard

def ngram_jaccard(
    docs_a: DataFrame,
    docs_b: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_k: int = 3,
) -> DataFrame:
    """Exact word-k-gram Jaccard similarity for given candidate pairs
    (id_a, id_b) — the verification stage after LSH candidate
    generation. Returns (id_a, id_b, jaccard)."""
    def sh_set(docs, name):
        return docs.select(
            F.col(id_col).alias(name),
            F.explode(F.array_distinct(shingles(F.col(text_col), shingle_k))).alias("sh"),
        )

    # each shingle set feeds both the intersection join and its own size
    # aggregate — checkpoint so the explode runs once per side
    sa = sh_set(docs_a, "id_a").localCheckpoint(eager=True)
    sb = sh_set(docs_b, "id_b").localCheckpoint(eager=True)
    inter = (
        pairs.join(sa, "id_a").join(sb, ["id_b", "sh"])
        .groupBy("id_a", "id_b").agg(F.count(F.lit(1)).alias("n_inter"))
    )
    ca = sa.groupBy("id_a").agg(F.count(F.lit(1)).alias("n_a"))
    cb = sb.groupBy("id_b").agg(F.count(F.lit(1)).alias("n_b"))
    return (
        pairs.join(inter, ["id_a", "id_b"], "left")
        .join(ca, "id_a").join(cb, "id_b")
        .select(
            "id_a", "id_b",
            pround(
                F.coalesce(F.col("n_inter"), F.lit(0)).cast("double")
                / (F.col("n_a") + F.col("n_b") - F.coalesce(F.col("n_inter"), F.lit(0)))).alias("jaccard"),
        )
    )


# --------------------------------------------------------------- winnowing

_WINNOW_M = 1 << 21  # position capacity per (hash, pos) packed key


def winnow_fingerprints(
    docs: DataFrame,
    k: int = 5,
    w: int = 4,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer, Wilkerson & Aiken,
    SIGMOD 2003 — the MOSS algorithm): hash every word k-gram, slide a
    window of ``w`` consecutive k-gram hashes, and select the minimum
    hash of each window, rightmost position on ties — the paper's BASE
    winnowing algorithm (its "robust winnowing" variant instead
    prefers re-selecting the previous window's pick on ties and would
    select FEWER fingerprints on runs of equal hashes; review r5: an
    earlier revision misattributed the tie rule — any twin implemented
    from that description would diverge). Guarantees: every shared
    substring of
    length >= k + w - 1 tokens yields at least one shared fingerprint
    (completeness), and selected density is ~2/(w+1) of all k-grams
    (sparsity). Returns distinct (id, pos, fp): the k-gram START token
    position (0-based) and its 32-bit hash.

    All-integer and engine-portable: the k-gram hash is the md5-prefix
    long (the counter-hash family every oracle unrolls), and the
    windowed argmin-with-rightmost-tie is ONE packed BIGINT
    min — key = (h+1)*2^21 - pos — so no struct comparators are needed
    in either engine. Documents beyond 2^21 tokens are truncated at
    the packing bound (a 2M-token document is ~10 MB of text — split
    upstream long before that).

    Scale shape: posexplode (corpus-token-sized) -> ONE per-doc window
    (partition cardinality = doc length, never global) -> distinct.
    Map-side combinable end to end; no self-join, no collect.
    """
    if k < 1 or w < 1:
        raise ValueError(f"winnow_fingerprints: k and w must be >= 1, got k={k} w={w}")
    t = F.col(text_col)
    from pyspark.sql import Window as W

    g = (
        docs.select(
            F.col(id_col).alias("id"),
            F.posexplode(shingles(t, k)).alias("pos", "gram"),
        )
        .where(F.col("pos") < F.lit(_WINNOW_M))
        .select(
            "id", "pos",
            F.conv(F.substring(F.md5(F.col("gram").cast("binary")), 1, 8),
                   16, 10).cast("long").alias("h"),
        )
        .select(
            "id", "pos",
            ((F.col("h") + 1) * F.lit(_WINNOW_M) - F.col("pos")).alias("key"),
        )
    )
    wpart = W.partitionBy("id")
    wmin = W.partitionBy("id").orderBy("pos").rowsBetween(0, w - 1)
    sel = (
        g.select(
            "id", "pos",
            F.min("key").over(wmin).alias("sel"),
            F.count(F.lit(1)).over(wpart).alias("_n"),
        )
        .where(F.col("pos") <= F.col("_n") - w)
        .select("id", "sel").distinct()
    )
    m = F.lit(_WINNOW_M)
    p = (m - F.col("sel") % m) % m
    return sel.select(
        "id",
        p.cast("int").alias("pos"),
        (((F.col("sel") + p) / m).cast("long") - 1).alias("fp"),
    )


def winnow_pairs(
    docs: DataFrame,
    k: int = 5,
    w: int = 4,
    min_shared: int = 2,
    max_df: int = 50,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Document pairs sharing winnowing fingerprints: (id_a, id_b,
    shared) with id_a < id_b and ``shared`` = number of distinct
    fingerprint hashes selected in both documents — the MOSS match
    ranking. Fingerprints selected in more than ``max_df`` documents
    are dropped BEFORE pairing (boilerplate hub suppression — the same
    pre-join cap as cocitation's max_degree: a fingerprint in 10^4
    documents contributes 10^8 pairs of pure navigation chrome).
    """
    if min_shared < 1:
        raise ValueError(f"winnow_pairs: min_shared must be >= 1, got {min_shared}")
    if max_df < 2:
        raise ValueError(f"winnow_pairs: max_df must be >= 2, got {max_df}")
    # eager checkpoint: the fingerprint subtree (explode + two windows)
    # feeds THREE consumers (df filter + both join sides) — without it
    # the corpus is re-winnowed per branch (measured 14x wall at 5k
    # docs in scripts/winnow_scale_bench.py), same pattern as
    # ngram_jaccard's per-side checkpoints
    fps = (
        winnow_fingerprints(docs, k=k, w=w, id_col=id_col, text_col=text_col)
        .select("id", "fp").distinct().localCheckpoint(eager=True)
    )
    rare = (
        fps.groupBy("fp").agg(F.count(F.lit(1)).alias("_df"))
        .where(F.col("_df") <= max_df).select("fp")
    )
    fk = fps.join(rare, "fp", "left_semi")
    a = fk.select(F.col("fp"), F.col("id").alias("id_a"))
    b = fk.select(F.col("fp"), F.col("id").alias("id_b"))
    return (
        a.join(b, "fp")
        .where(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b").agg(F.count(F.lit(1)).alias("shared"))
        .where(F.col("shared") >= min_shared)
    )


# ----------------------------------------------------------- decontamination

def decontaminate(
    corpus: DataFrame,
    benchmark: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_k: int = 3,
    min_overlap: int = 2,
) -> DataFrame:
    """Benchmark decontamination (the GPT-3 appendix-C / Dolma-style
    n-gram overlap filter): flag every corpus document that shares at
    least ``min_overlap`` distinct word-``shingle_k``-grams with the
    benchmark/eval set, so training data can be scrubbed of test-set
    leakage. Returns one row per corpus document:
    (id, n_hits, contaminated) where n_hits counts the document's
    distinct shingles that appear ANYWHERE in the benchmark.

    Scale design: the corpus is NEVER self-joined and never compared
    pairwise against benchmark docs — the benchmark collapses to its
    distinct-shingle SET first (eval suites are tiny next to a 100 TB
    corpus, so that set broadcast-joins), then one equi-join on the
    shingle key + a per-doc count aggregate. Cost is O(corpus shingle
    volume), the same single pass a quality filter costs. With a very
    large benchmark side the same plan degrades gracefully to a
    shuffle hash join on the shingle key.
    """
    if min_overlap < 1:
        raise ValueError(f"min_overlap must be >= 1, got {min_overlap}")
    bench_sh = (
        benchmark.select(
            F.explode(F.array_distinct(
                shingles(F.col(text_col), shingle_k))).alias("sh"))
        .distinct()
    )
    corpus_sh = corpus.select(
        F.col(id_col).alias("id"),
        F.explode(F.array_distinct(shingles(F.col(text_col), shingle_k))).alias("sh"),
    )
    hits = (
        corpus_sh.join(bench_sh, "sh")
        .groupBy("id").agg(F.count(F.lit(1)).alias("n_hits"))
    )
    return (
        corpus.select(F.col(id_col).alias("id"))
        .join(hits, "id", "left")
        .select(
            "id",
            F.coalesce("n_hits", F.lit(0)).alias("n_hits"),
            (F.coalesce("n_hits", F.lit(0)) >= min_overlap).alias("contaminated"),
        )
    )


def cdc_chunks(docs: DataFrame, mod: int = 16, id_col: str = "doc_id",
               text_col: str = "text") -> DataFrame:
    """Content-defined chunking (the gear/Rabin CDC idea at token
    granularity): cut BEFORE token i whenever the counter-hash of the
    bigram (w[i-1], w[i]) is 0 mod ``mod`` — boundaries depend only on
    local content, so an insertion early in a document shifts chunk
    CONTENTS by at most one chunk instead of re-keying every window
    (the property that makes chunk-hash dedup robust to edits, unlike
    fixed-size blocks). Expected chunk length ~``mod`` tokens.

    Returns one row per chunk: (id, chunk_idx, chunk_hash, n_tokens)
    with 1-based chunk_idx and chunk_hash = md5 of the space-joined
    chunk. Dedup across a corpus = groupBy(chunk_hash).

    Scale shape: entirely array-side per document (cut positions via
    filter(sequence), chunks via slice+array_join — the shingles()
    pattern), then ONE explode of chunk structs; no window, no
    per-token shuffle rows. Bit-portable: the cut rule is the repo's
    md5 counter-hash (walks.py twin) and chunk hashes are md5 strings.
    """
    if mod < 2:
        raise ValueError(f"cdc_chunks: mod must be >= 2, got {mod}")
    base = docs.select(F.col(id_col).alias("id"),
                       word_tokens(F.col(text_col)).alias("w"))
    w = F.col("w")
    n = F.size(w)

    def _cut(i):
        key = F.concat_ws(" ", F.element_at(w, i - 1), F.element_at(w, i))
        h = F.conv(F.substring(F.md5(key.cast("binary")), 1, 8), 16, 10) \
            .cast("long")
        return h % mod == 0

    cuts = F.when(n >= 2, F.filter(F.sequence(F.lit(2), n), _cut)) \
            .otherwise(F.array().cast("array<int>"))
    # materialize cuts -> starts/ends as real columns BEFORE the chunk
    # transform: element_at(starts, j) inside the lambda would otherwise
    # re-evaluate the md5-filter subtree once per chunk (O(n^2) hashes).
    staged = (
        base.where(n >= 1)
        .select("id", "w", cuts.alias("_cuts"))
        .select(
            "id", "w",
            F.concat(F.array(F.lit(1)), F.col("_cuts")).alias("_starts"),
            F.concat(F.transform(F.col("_cuts"), lambda c: c - 1),
                     F.array(F.size(F.col("w")))).alias("_ends"),
        )
    )
    starts, ends = F.col("_starts"), F.col("_ends")
    chunks = F.transform(
        F.sequence(F.lit(1), F.size(starts)),
        lambda j: F.struct(
            j.cast("long").alias("chunk_idx"),
            F.md5(F.array_join(
                F.slice(F.col("w"), F.element_at(starts, j),
                        F.element_at(ends, j) - F.element_at(starts, j) + 1),
                " ").cast("binary")).alias("chunk_hash"),
            (F.element_at(ends, j) - F.element_at(starts, j) + 1)
            .cast("long").alias("n_tokens"),
        ),
    )
    return (
        staged.select("id", F.explode(chunks).alias("c"))
        .select("id", "c.chunk_idx", "c.chunk_hash", "c.n_tokens")
    )


def chunk_dedup_pairs(docs: DataFrame, mod: int = 16, min_shared: int = 2,
                      max_df: int = 64, id_col: str = "doc_id",
                      text_col: str = "text") -> DataFrame:
    """Chunk-level near-duplicate pairs over the CDC chunking: two docs
    pair when they share >= ``min_shared`` distinct chunk hashes;
    overlap is reported as containment frac = shared / min(n_chunks) —
    robust to insertions/deletions because CDC boundaries are content-
    defined (an edit re-keys ~1 chunk, the rest still match — the
    property test on cdc_chunks). Returns (id_a, id_b, shared, frac)
    with id_a < id_b.

    Scale shape: the pair join is on chunk_hash with a document-
    frequency cap (``max_df``, the winnow_pairs rationale) — a chunk
    shared by the whole corpus is boilerplate, not duplication, and
    would otherwise quadratically explode one join key; per-key
    candidate work is bounded by max_df^2. Everything else is hash
    aggregates. Deterministic (md5 chunks, integer counts, ONE
    division rounded 6dp).
    """
    if min_shared < 1:
        raise ValueError(
            f"chunk_dedup_pairs: min_shared must be >= 1, got {min_shared}")
    if max_df < 2:
        raise ValueError(
            f"chunk_dedup_pairs: max_df must be >= 2, got {max_df}")
    ch = cdc_chunks(docs, mod=mod, id_col=id_col, text_col=text_col)
    per_doc = ch.select("id", "chunk_hash").distinct() \
        .localCheckpoint(eager=True)
    nch = per_doc.groupBy("id").agg(F.count(F.lit(1)).alias("_n"))
    rare = (
        per_doc.groupBy("chunk_hash").agg(F.count(F.lit(1)).alias("_df"))
        .where(F.col("_df") <= max_df).select("chunk_hash")
    )
    keyed = per_doc.join(rare, "chunk_hash")
    a = keyed.select(F.col("chunk_hash"), F.col("id").alias("id_a"))
    b = keyed.select(F.col("chunk_hash"), F.col("id").alias("id_b"))
    pairs = (
        a.join(b, "chunk_hash")
        .where(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b").agg(F.count(F.lit(1)).alias("shared"))
        .where(F.col("shared") >= min_shared)
    )
    na = nch.select(F.col("id").alias("id_a"), F.col("_n").alias("_na"))
    nb = nch.select(F.col("id").alias("id_b"), F.col("_n").alias("_nb"))
    return (
        pairs.join(na, "id_a").join(nb, "id_b")
        .select(
            "id_a", "id_b", "shared",
            pround(F.col("shared").cast("double")
                    / F.least("_na", "_nb").cast("double")).alias("frac"),
        )
    )
