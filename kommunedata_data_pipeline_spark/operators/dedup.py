"""Deduplication operators for LLM training-data pipelines (north star).

Four families over a `documents(doc_id, text, ...)` table:

- exact:      md5 fingerprint of normalized text → groupBy (one shuffle,
              map-side combinable; at 100 TB this is the cheapest possible
              full-corpus dedup).
- n-gram Jaccard: shingle → explode → equi-join on shingle → pair counts →
              Jaccard filter. Scale path: drop ultra-common shingles
              (document-frequency cap) before the join to bound fan-out.
- MinHash-LSH: per-doc signature computed as ONE expression (no explode ×
              num_hashes), banded; candidate pairs only within a band
              bucket — the standard sub-quadratic near-dup path.
- SimHash:    32-bit token-set simhash per doc (bit-majority), bucketed by
              band for candidate generation.

Every hash is md5-derived (functions.strings.md5_bigint) so the DuckDB
oracle computes bit-identical values — Spark's murmur `hash()` would not
be reproducible cross-engine.

All pure Catalyst expressions — the hot paths (hashing, shingling,
signatures) stay in whole-stage codegen; no Python UDFs.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.expr import let
from ..functions.strings import md5_bigint
from ..functions.text import fingerprint, normalized_text, word_shingles


def exact_duplicates(documents: DataFrame) -> DataFrame:
    """Groups of byte-identical (after normalization) docs: one row per
    duplicated fingerprint with the member doc_ids and the kept (min) id."""
    return (
        documents.select(F.col("doc_id"), fingerprint(F.col("text")).alias("fp"))
        .groupBy("fp")
        .agg(
            F.count("*").alias("n_dups"),
            F.min("doc_id").alias("keep_doc_id"),
        )
        .where(F.col("n_dups") > 1)
        .orderBy("fp")
    )


def dedup_exact(documents: DataFrame) -> DataFrame:
    """Keep one doc per normalized-text fingerprint (lowest doc_id wins).
    Deterministic keep-first (SURVEY §2.7 D1 at corpus scale)."""
    w = Window.partitionBy(fingerprint(F.col("text"))).orderBy("doc_id")
    return (
        documents.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .drop("__rn")
    )


def _safe_unpersist(df: DataFrame) -> None:
    """Unpersist an evicted cache entry, tolerating a stopped session:
    a process that runs sequential SparkSessions (notebooks, test
    harnesses) still holds entries pinned by the PREVIOUS session, whose
    unpersist RPC would NPE — the storage died with the context, so
    swallowing the failure is the correct cleanup."""
    try:
        df.unpersist()
    except Exception:
        pass


# Generic one-slot keyed cache for frames an operator reads several
# times within one plan (both sides of a self-join, long/short splits,
# verify joins). At most ONE cached frame is pinned per slot, and a new
# source DataFrame evicts AND unpersists the previous one — a bare
# per-call .cache() with no eviction leaked one pinned table per
# invocation under the stress harness's repeated scale runs (VERDICT r5
# / ADVICE r5). The slot string must encode every parameter that changes
# the built frame (column names, thresholds); the source frame is held
# live so identity comparison is sound (id() values can be recycled
# after GC). The dict itself is LRU-capped (ADVICE r6): parameterized
# slots (f"dbscan:{eps}", ...) would otherwise pin one table per
# parameter combination ever used. Not thread-safe by design — the
# operators are driver-side plan builders invoked from a single user
# thread (the Spark driver model); concurrent builders would need their
# own cache instances.
_ONE_SLOT_CACHE: dict[str, tuple[DataFrame, DataFrame]] = {}
_ONE_SLOT_CAP = 16


def one_slot_cached(slot: str, source: DataFrame, build) -> DataFrame:
    """Return ``build()`` cached, reusing the pinned frame while the
    same ``source`` DataFrame object is presented for ``slot`` and
    unpersisting the evicted frame otherwise. At most ``_ONE_SLOT_CAP``
    slots stay pinned; beyond that the least-recently-used slot is
    unpersisted and dropped (dict order is insertion order, and a hit
    re-inserts, so iteration order IS recency order)."""
    hit = _ONE_SLOT_CACHE.get(slot)
    if hit is not None and hit[0] is source:
        # refresh recency so a hot slot never ages out
        _ONE_SLOT_CACHE.pop(slot)
        _ONE_SLOT_CACHE[slot] = hit
        return hit[1]
    if hit is not None:
        _safe_unpersist(hit[1])
        _ONE_SLOT_CACHE.pop(slot)
    while len(_ONE_SLOT_CACHE) >= _ONE_SLOT_CAP:
        lru = next(iter(_ONE_SLOT_CACHE))
        _safe_unpersist(_ONE_SLOT_CACHE.pop(lru)[1])
    built = build().cache()
    _ONE_SLOT_CACHE[slot] = (source, built)
    return built


def _ensure_parallel(df: DataFrame) -> DataFrame:
    """Spread a narrow input across the cluster before a row-multiplying
    map stage. A signature/gram explode multiplies rows 10-20x and runs
    entirely inside the INPUT's partitions — if the input arrives in one
    or two partitions (a small dimension read, a checkpointed synthetic,
    a coalesced upstream), the expensive explode serializes on one core
    no matter how wide the downstream join is (measured: the 64x stress
    deletion join spent 44 of 44 s single-threaded in the explode; 16 s
    after spreading). The repartition shuffles only the NARROW
    pre-explode rows, and is skipped when the input is already at least
    as wide as the default parallelism (the 100 TB case — real table
    scans arrive in thousands of partitions).

    Cost note (ADVICE r6): the width is read from the PLANNED output
    partitioning when the plan knows it (an explicit repartition, as
    `readers.load_table` puts on the fact tables) — ``df.rdd`` on such
    a plan runs its shuffle under AQE (one wasted job per call, at
    build time). Otherwise (a scan) ``df.rdd`` compiles the scan-depth
    plan without running anything; callers invoke this on the RAW
    documents input, so the per-call driver cost is milliseconds.
    Under Spark Connect neither exists — there the width is
    unobservable, so we spread unconditionally: the repartition
    shuffles only the narrow pre-explode rows (bounded by the input,
    never the exploded output) and a redundant spread of an
    already-wide input costs one narrow shuffle, while a missed spread
    of a 1-partition input serializes the whole explode."""
    spark = df.sparkSession
    try:
        target = spark.sparkContext.defaultParallelism
        planned = df._jdf.queryExecution().sparkPlan().outputPartitioning()
        width = planned.numPartitions() or df.rdd.getNumPartitions()
    except Exception:  # Spark Connect: no sparkContext / .rdd
        return df.repartition(
            int(spark.conf.get("spark.sql.shuffle.partitions", "200"))
        )
    if width < target:
        return df.repartition(target)
    return df


def doc_shingles(documents: DataFrame, k: int = 3) -> DataFrame:
    """(doc_id, shingle) distinct pairs — shared base for Jaccard/MinHash.
    The input is spread first (_ensure_parallel): the shingle explode
    multiplies rows by document length and must not be bound to a
    narrow upstream partitioning (single-file parquet reads and
    checkpointed synthetics arrive in 1-2 partitions). Never persisted
    here: callers whose PLAN reads the shingle table more than once use
    `_cached_shingles` (identity-keyed one-slot cache), so nothing is
    shared across queries."""
    return (
        _ensure_parallel(documents)
        .select(
            "doc_id", F.explode(word_shingles(F.col("text"), k)).alias("shingle")
        )
        .distinct()
    )


def _cached_shingles(documents: DataFrame, k: int) -> DataFrame:
    """`doc_shingles` pinned for plans that consume it several times
    (self-join sides, size/df-cap aggregations): without the pin, every
    reference re-runs the explode+distinct from the scan — the r12
    scan-cache removal made that 3-4 full recomputes per query
    (measured: q_containment_pairs 3.5 s -> 1.3 s at sf0.1).
    Identity-keyed on the input frame, so reuse never crosses queries."""
    return one_slot_cached(
        f"shingles:{k}", documents, lambda: doc_shingles(documents, k)
    )




def ngram_jaccard_pairs(
    documents: DataFrame, k: int = 3, threshold: float = 0.8, df_cap: int | None = None
) -> DataFrame:
    """Near-dup pairs by k-word-shingle Jaccard ≥ threshold.

    Plan: shingles → (optional DF-cap on hot shingles) → self equi-join on
    shingle with doc_a < doc_b → count common → join per-doc sizes →
    jaccard = common / (|A| + |B| - common).

    `df_cap`: drop shingles appearing in more than df_cap docs before the
    join — at 100 TB a single boilerplate shingle otherwise creates a
    quadratic hot key; this is the standard frequency-cap trick and only
    loosens recall on docs made *entirely* of boilerplate.
    """
    # the shingle table feeds three consumers below (sizes, both
    # self-join sides) — pinned via the shared one-slot cache
    sh = _cached_shingles(documents, k)
    if df_cap is not None:
        hot = sh.groupBy("shingle").count().where(F.col("count") > df_cap).select("shingle")
        sh = sh.join(hot, "shingle", "left_anti")
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n_sh"))
    a = sh.alias("a")
    b = sh.alias("b")
    common = (
        a.join(b, "shingle")
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count("*").alias("n_common"))
    )
    out = (
        common.join(sizes.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("n_sh", "n_a"), "doc_a")
        .join(sizes.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("n_sh", "n_b"), "doc_b")
        .withColumn(
            "j_raw",
            F.col("n_common") / (F.col("n_a") + F.col("n_b") - F.col("n_common")),
        )
        # filter on the UNROUNDED jaccard (round only the emitted value):
        # filtering post-round would admit pairs with true J in
        # [t-5e-7, t) that no candidate-bound variant can guarantee
        .where(F.col("j_raw") >= threshold)
        .select("doc_a", "doc_b", F.round("j_raw", 6).alias("jaccard"))
    )
    return out


def prefix_filter_jaccard_pairs(
    documents: DataFrame, k: int = 3, threshold: float = 0.8
) -> DataFrame:
    """EXACT set-similarity self-join by prefix filtering (the
    AllPairs/PPJoin family) — same output contract as
    ``ngram_jaccard_pairs`` (doc_a < doc_b, jaccard ≥ threshold, rounded
    6 dp) but candidates come from a bounded prefix join instead of the
    full posting-list self-join, and unlike MinHash-LSH there is NO
    recall loss: the prefix bound is a theorem, not an estimate.

    Bound: order every document's shingles by a global rank (ascending
    document frequency — rarest first, so prefixes are the least-shared
    tokens). If J(A,B) ≥ t then |A∩B| ≥ t·|A∪B| ≥ t·|X| for either set
    X, so fewer than ceil(t·|X|) overlap tokens is a contradiction
    unless at least one falls in X's first |X| − ceil(t·|X|) + 1 tokens.
    Join ONLY on those prefix tokens, add the size filter
    min(|A|,|B|) ≥ t·max(|A|,|B|) (same theorem) and the PPJoin
    positional filter (the first shared token's positions bound the
    remaining possible overlap — see the inline comment), then verify
    the surviving candidates exactly with an array intersection.

    Scale shape: the df groupBy and per-doc rank window are linear; the
    candidate join touches |prefix| ≈ (1−t)·|doc| tokens per doc — at
    t = 0.8 that's 5× fewer postings than the full join, and they are
    the RAREST tokens, so the join's per-key fan-out (the quadratic
    danger) is structurally small instead of df-capped. The epsilon in
    the ceil guards float round-up at exact multiples (ceil must never
    exceed the true integer ceiling, else the prefix shortens and
    recall breaks).

    Token representation: shingles are md5-hashed to ONE 64-bit BIGINT
    (the two 32-bit md5 slices packed by shiftleft(h1,32)|h2 — bitwise,
    so no ANSI overflow; the value may be negative, which is fine: the
    prefix theorem needs only A consistent total order, and df then
    signed-bigint is one) before the first shuffle, so the df groupBy,
    the prefix equi-join, and the packed verification arrays all move
    8-byte primitives instead of k-word strings — the r9 fix for the
    256× external-sort spill tail (SCALING.md: the verify stage sorted
    string-array payloads; hashed arrays cut the measured 128× spill
    42G → ~7G and the wall ~2×). 64 bits, not one 32-bit slice: at
    corpus scale a 32-bit key is past its birthday bound (~2^16
    distinct shingles), and a cross-doc collision inflates the exact
    intersection while a within-doc collision shrinks a set and can
    break the prefix bound's recall theorem; at 64 bits per-pair
    collision odds are ~|A|·|B|/2^64 — the `dedup_exact`
    md5-fingerprint guarantee class. A PRIMITIVE key, not a struct of
    the two slices: struct keys drop array_intersect and the join
    hashing off the primitive fast path (measured 18× wall on the full
    operator at sf0.1 when the r9 advice fix briefly shipped structs).
    """
    from ..functions.expr import let as _let

    hx = _let(
        F.md5(F.col("shingle")),
        lambda mh: F.shiftleft(
            F.conv(F.substring(mh, 1, 8), 16, 10).cast("bigint"), 32
        ).bitwiseOR(
            F.conv(F.substring(mh, 9, 8), 16, 10).cast("bigint")
        ),
    )
    # two consumers (df groupBy + the pack join) — pin the HASHED frame
    # so the explode+distinct+md5 runs once, not per reference
    sh = one_slot_cached(
        f"prefix_sh:{k}",
        documents,
        lambda: doc_shingles(documents, k).select("doc_id", hx.alias("h")),
    )
    dfreq = sh.groupBy("h").agg(F.count(F.lit(1)).alias("df"))
    # pack each doc ONCE on the doc_id shuffle: globally-ordered token
    # array + size; prefixes slice off the front, verification
    # intersects the same arrays — sizes/toks/prefix all derive from
    # this one frame instead of three separate doc_id aggregations
    packed = (
        sh.join(dfreq, "h")
        .groupBy("doc_id")
        .agg(
            F.transform(
                F.sort_array(F.collect_list(F.struct("df", "h"))),
                lambda s: s["h"],
            ).alias("toks")
        )
        .select("doc_id", "toks", F.size("toks").alias("n_sh"))
    )
    need = F.ceil(F.lit(threshold) * F.col("n_sh") - F.lit(1e-9))
    prefix = packed.select(
        "doc_id",
        "n_sh",
        F.posexplode(
            F.slice(F.col("toks"), F.lit(1), (F.col("n_sh") - need + 1).cast("int"))
        ).alias("pos", "h"),
    )
    a = prefix.select(
        F.col("doc_id").alias("doc_a"),
        "h",
        F.col("n_sh").alias("n_a"),
        F.col("pos").alias("pa"),
    )
    b = prefix.select(
        F.col("doc_id").alias("doc_b"),
        "h",
        F.col("n_sh").alias("n_b"),
        F.col("pos").alias("pb"),
    )
    # PPJoin positional filter: both arrays are sorted by the SAME
    # global token rank, so among shared prefix tokens the minimal-rank
    # one attains min(pa) AND min(pb) simultaneously, and every token
    # before it in either array is absent from the other (a shared
    # earlier token would have lower rank). Hence
    #   overlap <= 1 + min(n_a - pa - 1, n_b - pb - 1)   (pos 0-based)
    # while J >= t requires overlap >= t/(1+t) * (n_a + n_b). Pairs
    # failing that bound are pruned BEFORE the packed-array joins and
    # the exact array_intersect — the verification step is the dominant
    # cost at scale (SCALING.md measured 46x at 64x pre-filter).
    cands = (
        a.join(b, "h")
        .where(
            (F.col("doc_a") < F.col("doc_b"))
            & (
                F.least("n_a", "n_b")
                >= F.lit(threshold) * F.greatest("n_a", "n_b") - F.lit(1e-9)
            )
        )
        .groupBy("doc_a", "doc_b", "n_a", "n_b")
        .agg(F.min("pa").alias("pa"), F.min("pb").alias("pb"))
        .where(
            F.lit(1)
            + F.least(
                F.col("n_a") - F.col("pa") - 1, F.col("n_b") - F.col("pb") - 1
            )
            >= F.lit(threshold)
            / F.lit(1.0 + threshold)
            * (F.col("n_a") + F.col("n_b"))
            - F.lit(1e-9)
        )
        .select("doc_a", "doc_b")
    )
    verified = (
        cands.join(
            packed.select(F.col("doc_id").alias("doc_a"), F.col("toks").alias("ta")),
            "doc_a",
        )
        .join(
            packed.select(F.col("doc_id").alias("doc_b"), F.col("toks").alias("tb")),
            "doc_b",
        )
        .withColumn("n_common", F.size(F.array_intersect("ta", "tb")))
        .withColumn("n_a", F.size("ta"))
        .withColumn("n_b", F.size("tb"))
        .withColumn(
            "j_raw",
            F.col("n_common") / (F.col("n_a") + F.col("n_b") - F.col("n_common")),
        )
        # unrounded filter, rounded emit — must mirror ngram_jaccard_pairs
        # exactly or "identical output" breaks for true J in [t-5e-7, t)
        .where(F.col("j_raw") >= threshold)
        .select("doc_a", "doc_b", F.round("j_raw", 6).alias("jaccard"))
    )
    return verified


# Affine MinHash family over a prime modulus: slot i value of base hash h
# is ((2i+1)*h + i*MINHASH_C) mod MINHASH_P. One md5 per shingle (the base
# hash), then num_hashes cheap multiply-adds — vs num_hashes md5s per
# shingle for the salted-md5 family. h < 2^32 and 2i+1 <= 2*num_hashes so
# every product stays far below 2^63 (exact in BIGINT on both engines).
MINHASH_P = 4294967311  # smallest prime > 2^32
MINHASH_C = 2654435761  # Knuth's multiplicative-hash constant


def minhash_slot_sql(seed: str, h: str) -> str:
    """DuckDB-side twin of one affine slot evaluation (kept here so the
    Spark expression and oracle SQL can't drift apart)."""
    return f"((2*{seed}+1)*{h} + {seed}*{MINHASH_C}) % {MINHASH_P}"


def minhash_signatures(documents: DataFrame, k: int = 3, num_hashes: int = 16) -> DataFrame:
    """(doc_id, sig ARRAY<BIGINT>[num_hashes]) — signature slot i is
    min over shingles of ((2i+1)*md5_bigint(shingle) + i*C) mod P.

    The shingle-hash array is let-bound (functions.expr.let) so the
    normalize/shingle/md5 pass runs exactly once per doc; each signature
    slot is then an array_min over cheap affine arithmetic. No row
    explosion by num_hashes, no repeated md5."""

    def _sig(hs: Column) -> Column:
        return F.transform(
            F.sequence(F.lit(0), F.lit(num_hashes - 1)),
            lambda s: F.array_min(
                F.transform(
                    hs,
                    lambda h: (
                        (2 * s.cast("bigint") + 1) * h + s.cast("bigint") * MINHASH_C
                    )
                    % MINHASH_P,
                )
            ),
        )

    # NB: explicit unary lambda — md5_bigint(col, offset=0) is 2-ary, and
    # F.transform would otherwise feed the array index into `offset`.
    # _ensure_parallel: the per-row shingle+md5+array_min work is the
    # whole cost of this operator and must not serialize on a narrow
    # upstream partitioning.
    hashed = F.transform(word_shingles(F.col("text"), k), lambda x: md5_bigint(x))
    return _ensure_parallel(documents).select("doc_id", let(hashed, _sig).alias("sig"))


def minhash_lsh_pairs(
    documents: DataFrame,
    k: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
    threshold: float = 0.5,
) -> DataFrame:
    """MinHash-LSH candidate pairs verified by signature similarity.

    signature → split into `bands` bands of r = num_hashes/bands slots →
    band key = md5(band slots) → docs sharing any band bucket are
    candidates → verify: fraction of equal signature slots ≥ threshold
    (an unbiased Jaccard estimate).

    Scale: the only shuffle on the full corpus is groupBy(band_key);
    pair fan-out is bounded per bucket. This is the canonical
    sub-quadratic near-dedup for 100 TB corpora.
    """
    cand = minhash_candidate_pairs(documents, k, num_hashes, bands)
    est = F.round(
        F.size(F.filter(F.zip_with("sig_a", "sig_b", lambda x, y: x == y), lambda v: v))
        / F.lit(float(num_hashes)),
        6,
    )
    return (
        cand.withColumn("est_jaccard", est)
        .where(F.col("est_jaccard") >= threshold)
        .select("doc_a", "doc_b", "est_jaccard")
    )


def minhash_band_table(
    documents: DataFrame, k: int = 3, num_hashes: int = 16, bands: int = 4
) -> DataFrame:
    """(doc_id, sig, band, bkey) — the banded LSH INDEX representation:
    one row per (doc, band) keyed by the md5 of that band's signature
    slots. This is both the self-join front end of the batch dedup
    queries and the PERSISTED table an incremental pipeline stores
    between runs (see `minhash_index_update`): band keys depend only on
    the document's own text and the (k, num_hashes, bands) config, so
    rows written by one run join correctly against rows written by any
    later run."""
    r = num_hashes // bands
    # the banded self-join reads the signatures on both sides: pin them
    # once per input frame (load_table returns a fresh frame per call, so
    # reuse stays within one query)
    sigs = one_slot_cached(
        f"sigs:{k}:{num_hashes}",
        documents,
        lambda: minhash_signatures(documents, k, num_hashes),
    )
    return sigs.select(
        "doc_id",
        "sig",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda b: F.struct(
                    b.alias("band"),
                    F.md5(
                        F.concat_ws(
                            ",", F.slice(F.col("sig"), b * r + 1, r).cast("array<string>")
                        )
                    ).alias("bkey"),
                ),
            )
        ).alias("bk"),
    ).select("doc_id", "sig", F.col("bk.band").alias("band"), F.col("bk.bkey").alias("bkey"))


def minhash_candidate_pairs(
    documents: DataFrame, k: int = 3, num_hashes: int = 16, bands: int = 4
) -> DataFrame:
    """Banded LSH candidate pairs with both signatures attached
    (doc_a, doc_b, sig_a, sig_b) — the shared sub-quadratic front end of
    `minhash_lsh_pairs` (verify-by-signature) and
    `minhash_accuracy_audit` (verify-by-exact-set)."""
    banded = minhash_band_table(documents, k, num_hashes, bands)
    a = banded.alias("a")
    b = banded.alias("b")
    return (
        a.join(b, ["band", "bkey"])
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.sig").alias("sig_a"),
            F.col("b.sig").alias("sig_b"),
        )
        .dropDuplicates(["doc_a", "doc_b"])
    )


def minhash_index_update(
    new_docs: DataFrame,
    index_df: DataFrame,
    k: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
    threshold: float = 0.5,
    new_bands: DataFrame | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Incremental near-dedup of a NEW document batch against an
    already-indexed corpus — the operation a production pipeline runs
    per ingest instead of re-shingling everything it has ever seen
    (reference precedent: the J2 anti-join of fresh listings against
    sink state, scraper.py:210-222, lifted from exact URLs to the
    MinHash level).

    ``index_df`` is a stored `minhash_band_table` ((doc_id, sig, band,
    bkey) — what the previous runs persisted). Returns ``(pairs,
    updated_index)``:

    - ``pairs``: verified near-dup pairs (doc_a < doc_b, est_jaccard >=
      threshold) where AT LEAST ONE side is in ``new_docs`` — both
      new-vs-index (an equi-join of the new batch's band rows against
      the stored band table; the index is NEVER re-shingled or
      self-joined) and new-vs-new (the fresh batch may duplicate
      itself);
    - ``updated_index``: ``index_df`` with any rows for RE-INGESTED
      doc_ids replaced by the new batch's band rows (anti-join on
      doc_id, then union) — the table the caller persists for the next
      run. Replace-on-reingest matters in the per-ingest pipeline this
      models: a re-crawled document's new text must supersede its old
      band rows, or the index accumulates stale keys that corrupt every
      later candidate join (ADVICE r6). The anti-join's build side is
      the new batch's distinct doc_ids — small, so AQE broadcasts it.

    Update-then-query ≡ full rebuild: band keys are pure functions of
    each document's text, so the pairs returned here are EXACTLY the
    full-rebuild `minhash_lsh_pairs` output restricted to pairs with a
    new member (pinned by pytest and the driver oracle).

    Scale shape: signatures/banding cost O(new batch) only; the join
    against the index is a band-key equi-join (shuffle sized by the new
    batch's band rows — AQE can broadcast a small batch against a huge
    index); verify is slot comparison on candidates. The stored index
    grows by num_bands rows/doc, the same asymptotics any LSH store
    pays.

    ``new_bands``: optionally a PRECOMPUTED `minhash_band_table` of
    ``new_docs`` (callers that also need the batch's band rows — the
    streaming ingest's delta-append — pass a lazily checkpointed one so
    signatures are computed once, not once per consumer)."""
    if new_bands is None:
        new_bands = minhash_band_table(new_docs, k, num_hashes, bands)
    # drop the stored rows of any re-ingested doc_id BEFORE both the
    # candidate join and the union: new text supersedes old
    base_index = index_df.join(
        new_docs.select("doc_id").distinct(), "doc_id", "left_anti"
    )
    ni = (
        new_bands.alias("a")
        .join(base_index.alias("b"), ["band", "bkey"])
        .where(F.col("a.doc_id") != F.col("b.doc_id"))
        .select(
            F.least(F.col("a.doc_id"), F.col("b.doc_id")).alias("doc_a"),
            F.greatest(F.col("a.doc_id"), F.col("b.doc_id")).alias("doc_b"),
            F.when(F.col("a.doc_id") < F.col("b.doc_id"), F.col("a.sig"))
            .otherwise(F.col("b.sig"))
            .alias("sig_a"),
            F.when(F.col("a.doc_id") < F.col("b.doc_id"), F.col("b.sig"))
            .otherwise(F.col("a.sig"))
            .alias("sig_b"),
        )
    )
    nn = (
        new_bands.alias("a")
        .join(new_bands.alias("b"), ["band", "bkey"])
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.sig").alias("sig_a"),
            F.col("b.sig").alias("sig_b"),
        )
    )
    est = F.round(
        F.size(F.filter(F.zip_with("sig_a", "sig_b", lambda x, y: x == y), lambda v: v))
        / F.lit(float(num_hashes)),
        6,
    )
    pairs = (
        ni.unionByName(nn)
        .dropDuplicates(["doc_a", "doc_b"])
        .withColumn("est_jaccard", est)
        .where(F.col("est_jaccard") >= threshold)
        .select("doc_a", "doc_b", "est_jaccard")
    )
    return pairs, base_index.unionByName(new_bands)


def minhash_accuracy_audit(
    documents: DataFrame, k: int = 3, num_hashes: int = 16, bands: int = 4
) -> DataFrame:
    """Sketch-quality audit: for every LSH candidate pair, the MinHash
    Jaccard ESTIMATE (matching-slot fraction) next to the EXACT shingle
    Jaccard, with the absolute error — the measurement every production
    near-dedup runs before trusting a sketch threshold at corpus scale
    (pick bands/hashes from the observed error curve, not from theory).

    Scale shape: candidates come from the banded bucket join (never
    all-pairs); the exact side re-joins shingles ONLY for candidate
    pairs, so the expensive set intersection is proportional to the
    candidate count, not the corpus square. est is k/num_hashes — a
    4-decimal-exact dyadic rational, so the error column is
    engine-exact too."""
    cand = minhash_candidate_pairs(documents, k, num_hashes, bands)
    est = F.round(
        F.size(F.filter(F.zip_with("sig_a", "sig_b", lambda x, y: x == y), lambda v: v))
        / F.lit(float(num_hashes)),
        6,
    )
    # PIN the estimated pairs: they feed the intersection join AND the
    # final attach — unpinned, the banded signature self-join executed
    # twice per run (guide §5; identity-keyed like the shingle pin)
    pairs = one_slot_cached(
        f"mh_audit_pairs:{k}:{num_hashes}:{bands}",
        documents,
        lambda: cand.select("doc_a", "doc_b", est.alias("est_jaccard")),
    )
    # three consumers (sizes + both candidate-attach joins) — pinned
    sh = _cached_shingles(documents, k)
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n_sh"))
    # intersection size: attach a's shingle set to each candidate pair,
    # then equi-join on (doc_b, shingle) — each surviving row is one
    # shingle in BOTH sets; work is |candidates| x |shingle set|, never
    # corpus-squared
    common = (
        pairs.select("doc_a", "doc_b")
        .join(sh.withColumnRenamed("doc_id", "doc_a"), "doc_a")
        .join(sh.withColumnRenamed("doc_id", "doc_b"), ["doc_b", "shingle"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("n_common"))
    )
    return (
        pairs.join(common, ["doc_a", "doc_b"], "left")
        .join(sizes.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("n_sh", "n_a"), "doc_a")
        .join(sizes.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("n_sh", "n_b"), "doc_b")
        .select(
            "doc_a",
            "doc_b",
            "est_jaccard",
            F.round(
                F.coalesce(F.col("n_common"), F.lit(0))
                / (F.col("n_a") + F.col("n_b") - F.coalesce(F.col("n_common"), F.lit(0))),
                6,
            ).alias("exact_jaccard"),
        )
        .withColumn(
            "abs_err", F.round(F.abs(F.col("est_jaccard") - F.col("exact_jaccard")), 6)
        )
    )


def _nth_bit(h, i):
    """Bit i of non-negative bigint h (< 2^32) via floor/pow arithmetic.

    Not shiftright: (a) PySpark's shiftright wants a literal int, not a
    Column; (b) the DuckDB oracle's double→BIGINT cast ROUNDS while
    Spark's truncates — explicit floor() is bit-identical in both engines
    (exact in double for h < 2^53)."""
    return F.floor(h / F.pow(F.lit(2.0), i.cast("double"))).cast("bigint") % 2


def _simhash_expr(toks, nbits: int):
    """Bit-majority simhash over a token array (weight 1 per distinct
    token): bit i of the result is 1 iff more than half the token-hashes
    have bit i set. The token-hash array is let-bound so tokenization+md5
    run once per doc, not once per bit (functions.expr.let)."""

    def _sim(th):
        n = F.size(th)
        bits = F.transform(
            F.sequence(F.lit(0), F.lit(nbits - 1)),
            lambda i: F.when(
                F.aggregate(
                    th,
                    F.lit(0).cast("bigint"),
                    lambda a, h: a + _nth_bit(h, i),
                )
                * 2
                > n.cast("bigint"),
                F.pow(F.lit(2.0), i.cast("double")).cast("bigint"),
            ).otherwise(F.lit(0).cast("bigint")),
        )
        return F.aggregate(bits, F.lit(0).cast("bigint"), lambda a, x: a + x)

    th = F.transform(
        toks, lambda t: F.conv(F.substring(F.md5(t), 1, 8), 16, 10).cast("bigint")
    )
    return let(th, _sim)


def simhash_docs(documents: DataFrame, nbits: int = 32) -> DataFrame:
    """(doc_id, simhash) for the corpus — the oracle-checked surface."""
    toks = F.array_distinct(F.split(normalized_text(F.col("text")), " "))
    return documents.select(
        "doc_id", _simhash_expr(toks, nbits).alias("simhash")
    )


def simhash_near_pairs(documents: DataFrame, nbits: int = 32, max_hamming: int = 6) -> DataFrame:
    """Near-dup pairs by simhash Hamming distance ≤ max_hamming.

    Candidate generation: band the nbits into 4 chunks — any two docs with
    Hamming distance ≤ 3 share at least one exact chunk (pigeonhole), and
    in practice chunk-sharing recalls most pairs up to max_hamming; join
    per chunk then verify true Hamming. Scale: groupBy chunk value is the
    only corpus-wide shuffle."""
    chunks = 4
    w = nbits // chunks
    sims = simhash_docs(documents, nbits)
    # chunk c key = floor(simhash / 2^(c*w)) % 2^w — contiguous w-bit slice
    banded = sims.select(
        "doc_id",
        "simhash",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(chunks - 1)),
                lambda c: F.struct(
                    c.alias("chunk"),
                    (
                        F.floor(
                            F.col("simhash")
                            / F.pow(F.lit(2.0), (c * w).cast("double"))
                        ).cast("bigint")
                        % F.lit(1 << w).cast("bigint")
                    ).alias("ckey"),
                ),
            )
        ).alias("bk"),
    ).select("doc_id", "simhash", F.col("bk.chunk").alias("chunk"), F.col("bk.ckey").alias("ckey"))
    a, b = banded.alias("a"), banded.alias("b")
    hamming = F.aggregate(
        F.sequence(F.lit(0), F.lit(nbits - 1)),
        F.lit(0).cast("bigint"),
        lambda acc, i: acc
        + _nth_bit(F.col("a.simhash").bitwiseXOR(F.col("b.simhash")), i),
    ).cast("int")
    return (
        a.join(b, ["chunk", "ckey"])
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            hamming.alias("hamming"),
        )
        .dropDuplicates(["doc_a", "doc_b"])
        .where(F.col("hamming") <= max_hamming)
    )


def _cc_single_task(edges: DataFrame) -> DataFrame:
    """Union-find over the whole edge set in ONE executor task (pandas):
    the small-graph fast path of ``dup_clusters``. Near-dup pair sets are
    orders of magnitude smaller than the corpus (banding bounds them), so
    even a 100 TB corpus often yields an edge list one task can hold —
    the same adaptive small-side logic as a broadcast join, and it
    replaces ~2·diameter Spark jobs with one."""
    import pandas as pd

    def cc(it):
        parent: dict = {}

        def find(x):
            r = x
            while parent.get(r, r) != r:
                r = parent[r]
            while parent.get(x, x) != r:  # path compression
                parent[x], x = r, parent[x]
            return r

        for pdf in it:
            for a, b in zip(pdf["src"], pdf["dst"]):
                a, b = int(a), int(b)
                ra, rb = find(a), find(b)
                if ra != rb:
                    # union by min keeps cluster_id = min(component)
                    lo, hi = (ra, rb) if ra < rb else (rb, ra)
                    parent[hi] = lo
        nodes = list(parent.keys() | {find(x) for x in list(parent)})
        yield pd.DataFrame(
            {"doc_id": nodes, "cluster_id": [find(x) for x in nodes]}
        )

    return edges.coalesce(1).mapInPandas(cc, "doc_id bigint, cluster_id bigint")


def dup_clusters(
    pairs: DataFrame,
    max_iter: int = 25,
    small_graph_edges: int = 5_000_000,
    max_edges_hint: int | None = None,
) -> DataFrame:
    """Connected components over near-dup pairs → (doc_id, cluster_id),
    cluster_id = min doc_id in the component. The step after any pair
    generator (MinHash/SimHash/Jaccard/embedding): "these 2M pairs are
    really 300k groups; keep one doc per group".

    Two physical strategies behind one contract (cluster_id = min doc_id
    of the component): edge sets ≤ ``small_graph_edges`` run union-find
    in a single executor task (see ``_cc_single_task``); larger graphs
    run iterative min-label propagation: each node takes the min label
    among itself and its neighbours until fixpoint — O(component
    diameter) rounds, each one equi-join + groupBy (no driver-side
    graph).
    `localCheckpoint` truncates lineage every round (the standard guard
    against exponential plan growth in iterative DataFrame algorithms);
    convergence is checked with a cheap count per round. Near-dup
    components are small cliques/chains, so rounds ≈ 2-4 in practice.

    ``max_edges_hint``: a caller-known UPPER BOUND on the edge count.
    When it already proves the set fits the single-task path, the
    strategy count() is skipped — which matters when ``pairs`` is an
    unmaterialized join pipeline (the per-batch CC ingest's label
    contraction): the count would execute the whole pipeline once just
    to pick the same strategy the bound proves. Both paths return the
    identical labeling, so the hint can only change the PLAN.
    """
    edges = pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
    if (
        max_edges_hint is not None and max_edges_hint <= small_graph_edges
    ) or pairs.count() <= small_graph_edges:
        # adaptive fast path: union-find in one executor task (undirected
        # union happens inside union-find; no need to symmetrize)
        return _cc_single_task(edges)
    edges = edges.union(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).distinct()
    edges = edges.localCheckpoint()
    labels = (
        edges.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
        .localCheckpoint()
    )
    for _ in range(max_iter):
        nbr = (
            edges.join(labels, edges.dst == labels.node)
            .groupBy("src")
            .agg(F.min("label").alias("nbr_min"))
        )
        new_labels = (
            labels.join(nbr, labels.node == nbr.src, "left")
            .select(
                "node",
                F.least(F.col("label"), F.coalesce("nbr_min", "label")).alias("label"),
            )
            .localCheckpoint()
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "node")
            .where(F.col("n.label") != F.col("o.label"))
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    else:
        # exhausted max_iter without a fixpoint: labels on a long-chain
        # component would be silently wrong — fail loudly instead.
        raise RuntimeError(
            f"dup_clusters: min-label propagation did not converge within "
            f"{max_iter} iterations ({changed} labels still changing); "
            f"raise max_iter (diameter bound) for this graph"
        )
    return labels.select(F.col("node").alias("doc_id"), F.col("label").alias("cluster_id"))


def edit_distance_topk(
    documents: DataFrame,
    bucket_width: int = 50,
    per_bucket: int = 8,
    prefix_len: int = 120,
    k: int = 25,
) -> DataFrame:
    """Most-similar document pairs by Levenshtein edit distance over
    bucketed candidates — the character-level near-dup family (catches
    small in-place edits that shingle Jaccard dilutes).

    Edit distance is O(len²) per pair, so the operator's whole job is
    bounding WHICH pairs get it: candidates are (lang, length-bucket)
    groups capped at ``per_bucket`` docs (window rank — the same valve
    ngram_jaccard_pairs uses for hot shingles), and the distance runs on
    a fixed prefix. At 100 TB the cap makes per-bucket work constant and
    the equi-join on the bucket key shards uniformly; nothing is
    quadratic in the corpus.
    """
    bucketed = documents.select(
        "doc_id",
        "lang",
        F.floor(F.col("n_chars") / bucket_width).alias("len_bkt"),
        F.substring("text", 1, prefix_len).alias("prefix"),
    )
    w = Window.partitionBy("lang", "len_bkt").orderBy("doc_id")
    capped = bucketed.withColumn("rn", F.row_number().over(w)).where(
        F.col("rn") <= per_bucket
    )
    a = capped.select(
        F.col("lang"), F.col("len_bkt"),
        F.col("doc_id").alias("doc_a"), F.col("prefix").alias("pa"),
    )
    b = capped.select(
        F.col("lang"), F.col("len_bkt"),
        F.col("doc_id").alias("doc_b"), F.col("prefix").alias("pb"),
    )
    pairs = (
        a.join(b, ["lang", "len_bkt"])
        .where(F.col("doc_a") < F.col("doc_b"))
        .select(
            "doc_a",
            "doc_b",
            F.levenshtein("pa", "pb").alias("edit_dist"),
        )
    )
    return pairs.orderBy(
        F.asc("edit_dist"), F.asc("doc_a"), F.asc("doc_b")
    ).limit(k)


def edit_distance_join(
    df: DataFrame,
    id_col: str,
    str_col: str,
    k: int = 1,
    q: int = 3,
) -> DataFrame:
    """EXACT edit-distance similarity self-join (the Ed-Join family,
    Xiao et al.): all pairs ``(id_a < id_b, edit_dist)`` with
    ``levenshtein <= k``, found WITHOUT the all-pairs product.
    Complements ``prefix_filter_jaccard_pairs`` (set similarity) with
    the string-metric member of the similarity-join family; like it,
    the filter is a theorem, not an estimate — zero recall loss, and
    the brute-force join is its oracle.

    Filter chain (each a necessary condition for dist <= k):
    - length filter: |len(a) - len(b)| <= k;
    - positional q-gram prefix filter: one edit op changes at most q of
      a string's positional q-grams, so strings within distance k agree
      on all but <= k*q grams. Order every string's (gram, pos) entries
      by one GLOBAL rank (ascending gram document-frequency — rarest
      first) and keep only the first k*q + 1 entries ("prefix"): two
      strings within distance k MUST share a gram text in their
      prefixes (pigeonhole over the common global order), at positions
      differing by <= k (an edit shifts positions by at most k).
      Candidates therefore come from an equi-join on the PREFIX gram
      text + position band — the rarest grams, so per-key fan-out is
      structurally small;
    - exact verify: ``levenshtein(a, b, k)`` on the survivors (the
      threshold variant early-exits the DP above k — O(k*len), not
      O(len^2)).

    Strings too short to own k*q + 1 grams (len < q + k*q) get no
    pigeonhole guarantee; they are routed to a short-string block
    joined by exploded length keys (len-k .. len+k) — a bounded
    skew valve, exact because the length filter is still necessary.

    Scale shape: gram df groupBy + per-string pack (one shuffle each),
    prefix join on rare grams, verify bounded by candidates — never
    len^2 in corpus size. The gram-frequency rank makes the candidate
    count data-adaptive: uniform strings -> rare grams -> tiny
    fan-out; the short-string valve is bounded by the length band.
    """
    s = one_slot_cached(
        f"edit_join:{id_col}:{str_col}",
        df,
        # _ensure_parallel inside the build (cache stays keyed on the
        # caller's frame): the gram explode below multiplies rows ~len
        # per string and must not serialize on a narrow input
        lambda: _ensure_parallel(df).select(
            F.col(id_col).cast("bigint").alias("sid"),
            F.col(str_col).alias("s"),
            F.length(str_col).alias("n"),
        ),
    )
    min_long = q + k * q  # shortest length owning k*q + 1 grams
    long_s = s.where(F.col("n") >= min_long)
    short_s = s.where(F.col("n") < min_long)

    grams = long_s.select(
        "sid",
        "n",
        F.posexplode(
            F.expr(f"transform(sequence(1, n - {q} + 1), i -> substring(s, i, {q}))")
        ).alias("pos", "g"),
    )
    gfreq = grams.groupBy("g").agg(F.count(F.lit(1)).alias("gdf"))
    # pack each string ONCE on the sid shuffle: (gram, orig-pos) entries
    # sorted by the global (df, gram, pos) rank; the prefix is a slice.
    prefix = (
        grams.join(gfreq, "g")
        .groupBy("sid")
        .agg(
            F.slice(
                F.sort_array(F.collect_list(F.struct("gdf", "g", "pos"))),
                1,
                k * q + 1,
            ).alias("pref"),
            F.first("n").alias("n"),
        )
        .select(
            "sid",
            "n",
            F.explode("pref").alias("e"),
        )
        .select("sid", "n", F.col("e.g").alias("g"), F.col("e.pos").alias("pos"))
    )
    a = prefix.select(
        F.col("sid").alias("id_a"), F.col("n").alias("na"),
        "g", F.col("pos").alias("pa"),
    )
    b = prefix.select(
        F.col("sid").alias("id_b"), F.col("n").alias("nb"),
        "g", F.col("pos").alias("pb"),
    )
    cand_long = (
        a.join(b, "g")
        .where(
            (F.col("id_a") < F.col("id_b"))
            & (F.abs(F.col("na") - F.col("nb")) <= k)
            & (F.abs(F.col("pa") - F.col("pb")) <= k)
        )
        .select("id_a", "id_b")
        .distinct()
    )
    # short-string valve: exact length-band join (short x everything
    # within k length units — the partner is itself short, bounded)
    sh_keys = short_s.select(
        F.col("sid").alias("id_a"),
        F.explode(
            F.sequence(F.col("n") - k, F.col("n") + k)
        ).alias("nb"),
    )
    cand_short = (
        sh_keys.join(
            s.select(F.col("sid").alias("id_b"), F.col("n").alias("nb")),
            "nb",
        )
        .where(F.col("id_a") != F.col("id_b"))
        .select(
            F.least("id_a", "id_b").alias("id_a"),
            F.greatest("id_a", "id_b").alias("id_b"),
        )
        .distinct()
    )
    sa = s.select(F.col("sid").alias("id_a"), F.col("s").alias("s_a"))
    sb = s.select(F.col("sid").alias("id_b"), F.col("s").alias("s_b"))
    return (
        cand_long.unionAll(cand_short)
        .distinct()
        .join(sa, "id_a")
        .join(sb, "id_b")
        .select(
            "id_a",
            "id_b",
            F.levenshtein("s_a", "s_b", k).alias("edit_dist"),
        )
        .where(F.col("edit_dist") >= 0)
        .select("id_a", "id_b", F.col("edit_dist").cast("int").alias("edit_dist"))
    )


def deletion_neighborhood_join(
    df: DataFrame, id_col: str, str_col: str
) -> DataFrame:
    """EXACT edit-distance-1 similarity self-join by deletion
    neighborhoods (the FastSS / SymSpell signature scheme): all pairs
    ``(id_a < id_b, edit_dist <= 1)``.

    Signature set of a string = itself plus every single-character
    deletion. If ``lev(a, b) <= 1`` the one edit op aligns the rest of
    the strings, so deleting the edited position from whichever side
    owns it yields a SHARED signature (substitution: delete the
    position from both; insert/delete: delete it from the longer side;
    equality: the identity signature) — candidates are an equi-join on
    signature text, verified with the thresholded ``levenshtein``.

    Why this exists next to ``edit_distance_join`` (Ed-Join): q-gram
    prefix filtering keys candidates on RARE substrings, which
    collapses on low-entropy keyspaces (zero-padded serials share
    their "rare" grams in huge blocks — measured 50+ s where this
    operator takes ~2 s on the same input). Deletion signatures embed
    the WHOLE string minus one char, so a bucket only holds strings
    one aligned edit apart: candidate count tracks the true match
    count on ANY data distribution, with no frequency statistics to
    compute. The trade: signatures blow up combinatorially in k
    (C(len, k) variants), so this is the k=1 fast path and Ed-Join
    remains the general-k operator.

    Scale shape: exactly len+1 signature rows per string, ONE equi-join
    on signature text with both strings carried through it, and NO
    post-join dedup at all. Each signature row carries its DELETION
    POSITION (0 = the identity signature) and a first-of-run flag, and
    the join accepts only the ALIGNED share every lev<=1 pair owns
    exactly once: same-position deletion for substitution pairs (two
    sides deleting position k and agreeing elsewhere differ only at k,
    so no other position can also match), identity-vs-identity for
    equal strings, and identity-vs-first-run-deletion for insert/delete
    pairs (all deletions of the longer side yielding the shorter lie in
    one equal-char run — keying on the run's first position emits one
    row). Recall is exact, precision is exact, multiplicity is exactly
    one — which deletes BOTH the unaligned-coincidence candidate class
    (the dominant cost on low-entropy serial keys: 80M raw vs 24M
    aligned candidates measured at the 64x stress multiple) AND the
    output-sized distinct shuffle the r5 shape paid. The levenshtein
    verify is retained as a zero-cost map-side invariant check.

    vs the r5 shape (candidates → distinct → two joins back to fetch
    strings → verify): the back-joins were two extra full shuffles and
    the distinct shuffled every raw candidate; here the strings ride
    the one signature join and nothing is shuffled after it. With the
    input read exactly once there is nothing left to pin, so the
    per-call cache the r5 ADVICE flagged is gone entirely rather than
    lifecycle-fixed. The input is spread across the cluster first
    (_ensure_parallel): the 20x row-multiplying explode must never be
    bound to a narrow upstream partitioning — this, not the join, was
    44 s of the 64x stress row's 44 s.
    """
    df = _ensure_parallel(df)
    v = df.select(
        F.col(id_col).cast("bigint").alias("sid"),
        F.col(str_col).alias("str"),
        # NB: no array_distinct — a repeated-char run yields the same
        # variant at several positions, and every one must survive:
        # collapsing to one representative position could strand the two
        # sides of a true pair on different representatives and break
        # the aligned-position join below. `fst` marks the FIRST
        # position of each equal-char run (deleting any char of a run
        # gives the same variant; the run's first position is the
        # canonical representative the insert/delete clause keys on).
        F.explode(
            F.expr(
                f"transform(sequence(0, length({str_col})), i -> struct("
                f"concat(substring({str_col}, 1, i - 1), "
                f"substring({str_col}, i + 1, length({str_col}) - i)) AS var, "
                f"i AS pos, "
                f"(i <= 1 OR substring({str_col}, i - 1, 1) <> "
                f"substring({str_col}, i, 1)) AS fst))"
            )
        ).alias("vp"),
    ).select(
        "sid", "str",
        # hash leads the equi-key pair: the sort-merge sort order is
        # (bigint, string), so string comparison runs only on 64-bit
        # hash ties — bigint-key join speed with string-exact matching
        F.xxhash64("vp.var").alias("var_h"),
        F.col("vp.var").alias("var"),
        F.col("vp.pos").alias("pos"),
        F.col("vp.fst").alias("fst"),
    )
    a_pos, b_pos = F.col("a.pos"), F.col("b.pos")
    return (
        v.alias("a")
        .join(
            v.alias("b"),
            (F.col("a.var_h") == F.col("b.var_h"))
            & (F.col("a.var") == F.col("b.var"))
            & (
                # substitution: both delete the SAME position and the
                # strings differ — they then differ exactly there, and no
                # other aligned position can also match, so the pair is
                # emitted exactly once
                ((a_pos == b_pos) & (a_pos >= 1) & (F.col("a.str") != F.col("b.str")))
                # equal strings: identity-vs-identity only (the same-pos
                # clause above would match at EVERY position)
                | ((a_pos == 0) & (b_pos == 0))
                # insert/delete: the shorter side's identity against the
                # longer side's deletion, keyed to the deleted run's
                # first position so a run of length r yields one row,
                # not r
                | ((a_pos == 0) & (b_pos >= 1) & F.col("b.fst"))
                | ((b_pos == 0) & (a_pos >= 1) & F.col("a.fst"))
            ),
        )
        .where(F.col("a.sid") < F.col("b.sid"))
        .select(
            F.col("a.sid").alias("id_a"),
            F.col("b.sid").alias("id_b"),
            F.levenshtein(F.col("a.str"), F.col("b.str"), 1).alias("edit_dist"),
        )
        .where(F.col("edit_dist") >= 0)
        .select("id_a", "id_b", F.col("edit_dist").cast("int").alias("edit_dist"))
    )


def linkage_scores(
    pairs: DataFrame,
    records: DataFrame,
    id_col: str,
    fields: list[str],
    m_prob: float = 0.9,
) -> DataFrame:
    """Fellegi–Sunter record-linkage scoring over candidate pairs: each
    pair's log-likelihood-ratio score sums one weight per comparison
    field — ln(m/u) when the field AGREES, ln((1−m)/(1−u)) when it
    disagrees. ``m`` (P(agree | same entity)) is the supplied prior;
    ``u`` (P(agree | random pair)) is ESTIMATED FROM THE DATA exactly:
    u_f = Σ_v n_v² / n² over field f's value frequencies — the
    collision probability of two random draws, computed as integer
    sums with one double division.

    This is the probabilistic layer on top of the blocking/similarity
    joins (deletion-neighborhood, Ed-Join, LSH...): the string join
    proposes candidates, the comparison VECTOR across independent
    fields turns them into a calibrated match score. Scale shape: one
    frequency aggregate per field (map-side combinable, reduces to a
    ONE-ROW u-statistics frame broadcast onto the pairs), two
    id-equi-joins to attach both sides' fields, and a narrow
    whole-stage-codegen score expression. Scores are doubles built
    from exact integer ratios, rounded on emission."""
    n = records.agg(F.count(F.lit(1)).alias("n"))
    u_aggs = []
    for f in fields:
        freq = records.groupBy(f).agg(F.count(F.lit(1)).alias("c"))
        u_aggs.append(
            freq.agg(F.sum(F.col("c") * F.col("c")).alias(f"sq_{f}"))
        )
    ustats = n
    for ua in u_aggs:
        ustats = ustats.crossJoin(F.broadcast(ua))
    a_side = records.select(
        F.col(id_col).alias("id_a"),
        *[F.col(f).alias(f"a_{f}") for f in fields],
    )
    b_side = records.select(
        F.col(id_col).alias("id_b"),
        *[F.col(f).alias(f"b_{f}") for f in fields],
    )
    scored = (
        pairs.join(a_side, "id_a")
        .join(b_side, "id_b")
        .crossJoin(F.broadcast(ustats))
    )
    score = F.lit(0.0)
    out_cols = []
    for f in fields:
        agree = (F.col(f"a_{f}") == F.col(f"b_{f}")).cast("int")
        u = F.col(f"sq_{f}") / (F.col("n") * F.col("n"))
        w = F.when(
            agree == 1, F.log(F.lit(m_prob) / u)
        ).otherwise(F.log(F.lit(1.0 - m_prob) / (F.lit(1.0) - u)))
        score = score + w
        out_cols.append(agree.alias(f"agree_{f}"))
    return scored.select(
        "id_a", "id_b", *out_cols, F.round(score, 6).alias("score")
    )


def dup_source_matrix(
    documents: DataFrame,
    k: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
    threshold: float = 0.5,
) -> DataFrame:
    """Cross-source near-duplication matrix — WHERE the duplicates come
    from: every verified MinHash-LSH pair (`minhash_lsh_pairs`) joins
    back to its two documents' sources and aggregates to one row per
    unordered source pair (n_pairs, avg_jaccard). The diagonal exposes
    boilerplate-heavy sources; off-diagonal mass exposes mirror/syndication
    relationships — the diagnostic that decides whether dedup should run
    per-source or globally before anyone pays the global bill.

    Exactness: est_jaccard values are multiples of 1/num_hashes; with a
    power-of-two num_hashes they are exact binary fractions, so the
    per-cell sum is order-independent and the mean deterministic. Scale
    shape: the matrix rides on the LSH pair stream (already
    sub-quadratic); attaching sources is two doc_id equi-joins against
    the narrow (doc_id, source) projection, and the final aggregate is
    |sources|² rows.
    """
    pairs = minhash_lsh_pairs(documents, k, num_hashes, bands, threshold)
    src = documents.select("doc_id", "source")
    labeled = (
        pairs.join(
            src.select(
                F.col("doc_id").alias("doc_a"), F.col("source").alias("sa")
            ),
            "doc_a",
        )
        .join(
            src.select(
                F.col("doc_id").alias("doc_b"), F.col("source").alias("sb")
            ),
            "doc_b",
        )
        .select(
            F.least("sa", "sb").alias("source_a"),
            F.greatest("sa", "sb").alias("source_b"),
            "est_jaccard",
        )
    )
    return (
        labeled.groupBy("source_a", "source_b")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
            F.round(F.avg("est_jaccard"), 6).alias("avg_jaccard"),
        )
        .orderBy("source_a", "source_b")
    )


def dedup_tier_venn(
    documents: DataFrame,
    embeddings: DataFrame,
    lsh_threshold: float = 0.5,
    cos_threshold: float = 0.3,
    n_bands: int = 4,
    band_bits: int = 8,
) -> DataFrame:
    """Dedup-tier agreement audit: for every document, whether each of
    the three dedup families flags it — exact (shared normalized-text
    fingerprint), near (verified MinHash-LSH pair membership), semantic
    (banded sign-LSH embedding-cosine pair membership, doc_id == vec_id)
    — aggregated to the 8-cell Venn table (is_exact, is_near, is_sem,
    n_docs). The diagnostic a pipeline runs before choosing its dedup
    stack: the off-diagonal cells ARE the marginal value of each tier
    (docs only semantic dedup catches, boilerplate only exact catches).

    Plan: three independent flag sets, each already sub-quadratic
    (fingerprint groupBy; banded LSH joins — never all-pairs); flags
    attach by doc_id equi-joins against DISTINCT pair-member sets (tiny
    relative to the corpus), and the final aggregate is 8 groups. At
    100 TB each tier is the same plan it is standalone; nothing here
    adds a new scale hazard BEYOND each tier's own knobs — notably the
    sign-LSH band width: with fixed band_bits, bucket occupancy grows
    linearly with the corpus and within-bucket candidates quadratically,
    so band_bits must grow ~log2(N) as the corpus grows (SCALING.md
    measures the fixed-8 blow-up and the widened-band fix; the same
    grow-the-knob rule as semantic dedup's K)."""
    from ..functions.text import fingerprint
    from .similarity import embedding_near_dup_pairs_banded

    fp = Window.partitionBy(fingerprint(F.col("text")))
    flagged = documents.select(
        "doc_id",
        (F.count(F.lit(1)).over(fp) > 1).cast("int").alias("is_exact"),
    )
    near_pairs = minhash_lsh_pairs(documents, 3, 16, 4, lsh_threshold)
    near = (
        near_pairs.select(F.col("doc_a").alias("doc_id"))
        .unionAll(near_pairs.select(F.col("doc_b").alias("doc_id")))
        .distinct()
        .withColumn("near_hit", F.lit(1))
    )
    sem_pairs = embedding_near_dup_pairs_banded(
        embeddings, n_bands=n_bands, band_bits=band_bits, threshold=cos_threshold
    )
    sem = (
        sem_pairs.select(F.col("vec_a").alias("doc_id"))
        .unionAll(sem_pairs.select(F.col("vec_b").alias("doc_id")))
        .distinct()
        .withColumn("sem_hit", F.lit(1))
    )
    return (
        flagged.join(near, "doc_id", "left")
        .join(sem, "doc_id", "left")
        .select(
            "is_exact",
            F.coalesce(F.col("near_hit"), F.lit(0)).alias("is_near"),
            F.coalesce(F.col("sem_hit"), F.lit(0)).alias("is_sem"),
        )
        .groupBy("is_exact", "is_near", "is_sem")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"))
    )


def shingle_containment_pairs(
    documents: DataFrame,
    k: int = 3,
    threshold: float = 0.8,
    df_cap: int | None = 50,
) -> DataFrame:
    """DIRECTED near-containment pairs by k-word-shingle containment
    C(A→B) = |S(A) ∩ S(B)| / |S(A)| ≥ threshold with doc_a != doc_b —
    the inclusion relation symmetric Jaccard misses when sizes differ
    (a paragraph quoted inside a long document scores near-zero Jaccard
    but containment ~1 from the quote's side). The dedup action differs
    too: containment drops the CONTAINED doc, Jaccard picks either.

    Plan: same skeleton as ngram_jaccard_pairs — distinct (doc,
    shingle) stream, optional document-frequency cap on hot shingles
    (the quadratic-hot-key valve), ONE self equi-join on shingle, per-
    pair common counts, sizes joined back — but the pair key keeps both
    directions (a != b instead of a < b) and the denominator is the
    LEFT side's shingle count only. The denominator |S(A)| is computed
    BEFORE the df-cap (the true shingle-set size): the cap can only
    shrink the numerator, so the reported containment is a LOWER bound
    of the true metric — a doc dominated by hot (capped) shingles can
    never have its containment inflated past the threshold. Same
    100 TB properties: shingles shard uniformly, the df-cap bounds
    per-key fan-out, nothing is all-pairs."""
    # four consumers of the shingle table (sizes, df-cap count, both
    # self-join sides) — pinned, or each re-runs the explode+distinct
    sh = _cached_shingles(documents, k)
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    if df_cap is not None:
        hot = (
            sh.groupBy("shingle")
            .count()
            .where(F.col("count") > df_cap)
            .select("shingle")
        )
        sh = sh.join(hot, "shingle", "left_anti")
    a = sh.alias("a")
    b = sh.alias("b")
    common = (
        a.join(b, "shingle")
        .where(F.col("a.doc_id") != F.col("b.doc_id"))
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    return (
        common.join(sizes.withColumnRenamed("doc_id", "doc_a"), "doc_a")
        .withColumn(
            "containment", F.round(F.col("n_common") / F.col("n_sh"), 6)
        )
        .where(F.col("containment") >= threshold)
        .select(
            "doc_a",
            "doc_b",
            F.col("n_common").cast("bigint").alias("n_common"),
            F.col("n_sh").cast("bigint").alias("n_sh_a"),
            "containment",
        )
    )


def winnowing_overlap_pairs(
    documents: DataFrame,
    w: int = 4,
    window: int = 5,
    min_shared: int = 3,
) -> DataFrame:
    """Winnowing fingerprint overlap (Schleimer, Wilkerson, Aiken 2003
    — the MOSS local-fingerprinting algorithm): per document, select
    the MINIMUM rolling hash in every ``window`` consecutive w-token
    hashes (guaranteeing at least one fingerprint per window-length
    gap — the locality property a global min lacks), dedupe to the
    doc's fingerprint SET, and report pairs sharing at least
    ``min_shared`` fingerprints.

    Output: (doc_a, doc_b, n_shared) with doc_a < doc_b. Winnowing's
    guarantee: any shared token run of length >= w + window - 1 yields
    at least one SHARED selected fingerprint, so long verbatim overlaps
    cannot be missed — unlike sampling every k-th hash, which an
    adversarial (or unlucky) alignment defeats.

    Plan: hash + window-min selection are pure array expressions per
    row (rolling hashes let-bound); the fingerprint stream explodes
    (bounded by tokens/1, typically ~tokens/window distinct), and the
    ONE content-keyed shuffle is the pair equi-join on the fingerprint
    value — hash keys shard uniformly, the same sub-quadratic shape as
    every banding join in this family. At 100 TB hot fingerprints
    (ubiquitous boilerplate) would get the same df-cap valve as
    ngram_jaccard_pairs; omitted here so the winnowing guarantee stays
    unconditional on the bench corpus."""
    from ..functions.text import rolling_hashes

    rh = _ensure_parallel(documents).select(
        "doc_id", rolling_hashes(F.col("text"), w).alias("r")
    )
    n = F.size("r")
    mins = F.when(
        n >= window,
        F.transform(
            F.sequence(F.lit(1), n - window + 1),
            lambda i: F.array_min(F.slice(F.col("r"), i, window)),
        ),
    ).otherwise(
        F.when(n > 0, F.array(F.array_min(F.col("r")))).otherwise(
            F.array().cast("array<bigint>")
        )
    )
    fps = (
        rh.select("doc_id", F.explode(mins).alias("fp"))
        .dropDuplicates(["doc_id", "fp"])
    )
    a = fps.alias("a")
    b = fps.alias("b")
    return (
        a.join(b, "fp")
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_shared"))
        .where(F.col("n_shared") >= min_shared)
    )


def ranged_global_rank(
    df: DataFrame,
    order_cols: list,
    rank_name: str = "rn",
    keep_pid: bool = False,
) -> DataFrame:
    """Exact global row_number over ``order_cols`` WITHOUT a
    single-task global window and WITHOUT any assumption about the key
    distribution: ``repartitionByRange`` (Spark's RangePartitioner
    SAMPLES the sort key — the bucketing is data-aware by
    construction, so a degenerate keyspace like a shared constant
    prefix cannot collapse it into one bucket), stamp
    ``spark_partition_id``, per-partition counts → a P-row cumulative
    offset table (P = shuffle parallelism, constant in data), rank =
    offset + row_number PARTITIONED by the stamped partition id.

    The stamped frame is lazily localCheckpoint-ed so the sampled
    range boundaries are pinned across its two uses (counts + rank).
    Ties cannot straddle partitions when ``order_cols`` ends in a unique
    id (callers pass one); RangePartitioner routes equal keys to one
    partition regardless."""
    spark = df.sparkSession
    try:
        n_parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    except Exception:
        n_parts = 200
    parted = df.repartitionByRange(
        max(n_parts, 1), *[F.col(c) for c in order_cols]
    ).withColumn("__pid", F.spark_partition_id())
    parted = parted.localCheckpoint(eager=False)
    wb = Window.orderBy("__pid").rowsBetween(Window.unboundedPreceding, -1)
    offsets = (
        parted.groupBy("__pid")
        .agg(F.count(F.lit(1)).alias("__n"))
        .withColumn(
            "__off",
            F.coalesce(F.sum("__n").over(wb), F.lit(0).cast("bigint")),
        )
        .select("__pid", "__off")
    )
    wd = Window.partitionBy("__pid").orderBy(*order_cols)
    ranked = parted.join(offsets, "__pid").withColumn(
        rank_name, F.col("__off") + F.row_number().over(wd)
    )
    return ranked if keep_pid else ranked.drop("__pid")


def sorted_neighborhood_pairs(
    df: DataFrame,
    id_col: str,
    str_col: str,
    window: int = 10,
    max_edit: int = 1,
) -> DataFrame:
    """Sorted-neighborhood blocking (Hernández & Stolfo 1995
    merge/purge): sort records by the string key, compare each record
    only to its ``window - 1`` successors in sort order, keep pairs with
    edit distance <= ``max_edit``. The classic THIRD blocking family
    next to signature blocking (deletion join — exact for lev<=1) and
    LSH: O(N·w) comparisons, recall depends on edits sorting nearby
    (a first-character edit breaks adjacency — the documented trade the
    multi-pass variant fixes with a second sort key).

    Output: (id_a, id_b, lev) with id_a < id_b, one row per matched
    window pair. ``window < 2`` means "compare to zero successors":
    the result is an empty pair set (returned directly — the naive
    sequence(rn+1, rn+window-1) would auto-step DOWN and emit a
    spurious self-probe).

    Plan: the global sort rank is NEVER a global window —
    ``ranged_global_rank`` range-partitions on the sort key (the
    RangePartitioner samples the key distribution, so the bucketing is
    data-aware: a keyspace where every value shares a long constant
    prefix — e.g. TPC-H c_name — still splits into P balanced buckets,
    where the earlier fixed-prefix bucketing collapsed to one).
    Window probing is an explode of the next w-1 rank positions
    + ONE equi-join on rank (never a range/theta join); the verify is a
    built-in levenshtein on the w-bounded candidate set."""
    s = df.select(
        F.col(id_col).alias("sid"), F.col(str_col).alias("str")
    )
    if window < 2:
        return s.limit(0).select(
            F.col("sid").alias("id_a"),
            F.col("sid").alias("id_b"),
            F.lit(0).cast("int").alias("lev"),
        )
    ranked = ranged_global_rank(s, ["str", "sid"]).select(
        "sid", "str", "rn"
    )
    probes = ranked.select(
        F.col("sid").alias("sid_a"),
        F.col("str").alias("str_a"),
        F.explode(
            F.sequence(F.col("rn") + 1, F.col("rn") + window - 1)
        ).alias("probe"),
    )
    cand = probes.join(
        ranked.select(
            F.col("sid").alias("sid_b"),
            F.col("str").alias("str_b"),
            F.col("rn").alias("probe"),
        ),
        "probe",
    )
    lev = F.levenshtein("str_a", "str_b")
    return (
        cand.where(lev <= max_edit)
        .select(
            F.least("sid_a", "sid_b").alias("id_a"),
            F.greatest("sid_a", "sid_b").alias("id_b"),
            lev.cast("int").alias("lev"),
        )
    )


def er_clusters(
    records: DataFrame,
    id_col: str,
    str_col: str,
    agree_cols: tuple = (),
) -> DataFrame:
    """Entity resolution APPLIED (the step after `linkage_scores` /
    `deletion_neighborhood_join` emit match pairs — reference
    precedent: detection always feeds an action, scraper.py:181-267):
    transitively close the match-pair graph into entities and emit one
    row per record with its entity id and entity size. Two records are
    the same entity iff connected through a chain of MATCH decisions —
    lev<=1 on the name AND exact agreement on every ``agree_cols``
    attribute (the Fellegi-Sunter decision rule `linkage_scores`
    weights; without the agreement fields a dense keyspace like TPC-H
    digit names transitively collapses into one giant degenerate
    entity). entity_id = min member id (the canonical-record
    convention); records matching nothing are singleton entities.

    Scale shape: candidate pairs come from the deletion-signature
    equi-join (exact for lev<=1, never all-pairs); agreement filtering
    happens on the pair stream (two broadcast-sized attribute joins
    against the record table); the connected components run on the
    MATCHED-pair graph only (`dup_clusters` — union-find below the
    small-graph cutoff, min-label propagation with checkpointed
    lineage above it); the corpus-sized work is one left join of
    records against the clustered-node labels. Output:
    (rid, entity_id, n_members)."""
    pairs = deletion_neighborhood_join(records, id_col, str_col).select(
        F.col("id_a").alias("doc_a"), F.col("id_b").alias("doc_b")
    )
    if agree_cols:
        attrs = records.select(
            F.col(id_col).alias("__k"), *[F.col(c) for c in agree_cols]
        )
        a = attrs.select(
            F.col("__k").alias("doc_a"),
            *[F.col(c).alias(f"__a_{c}") for c in agree_cols],
        )
        b = attrs.select(
            F.col("__k").alias("doc_b"),
            *[F.col(c).alias(f"__b_{c}") for c in agree_cols],
        )
        pairs = pairs.join(a, "doc_a").join(b, "doc_b")
        for c in agree_cols:
            pairs = pairs.where(F.col(f"__a_{c}") == F.col(f"__b_{c}"))
        pairs = pairs.select("doc_a", "doc_b")
    # the pair stream is consumed 2-3 times downstream (the CC's
    # small-graph count, the CC itself) — pin it so the deletion join
    # runs once, not per consumer
    pairs = pairs.localCheckpoint(eager=False)
    clusters = dup_clusters(pairs).select(
        F.col("doc_id").alias("rid"), F.col("cluster_id").alias("entity_id")
    )
    labeled = (
        records.select(F.col(id_col).alias("rid"))
        .join(clusters, "rid", "left")
        .withColumn(
            "entity_id", F.coalesce(F.col("entity_id"), F.col("rid"))
        )
    )
    sizes = labeled.groupBy("entity_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_members")
    )
    return labeled.join(sizes, "entity_id").select(
        "rid", "entity_id", "n_members"
    )


def golden_records(
    records: DataFrame,
    id_col: str,
    str_col: str,
    agree_cols: tuple = (),
    value_cols: tuple = (),
) -> DataFrame:
    """Survivorship — the golden-record merge that completes the MDM
    chain after `linkage_scores` (detect) and `er_clusters` (resolve):
    one merged row per entity with deterministic survivorship rules —
    canonical string = MIN member string (the stable-pick convention),
    each ``value_cols`` numeric = MAX across members (most-complete-
    value rule), the ``agree_cols`` attributes carried as-is (every
    member agrees by construction of the match rule — that is exactly
    what the agreement predicate guarantees transitively).

    Scale shape: er_clusters' plan (pair-graph CC + one corpus-sized
    label join) plus one combinable per-entity aggregate. Output:
    (entity_id, n_members, canonical_<str_col>, <agree_cols...>,
    max_<value_cols...>)."""
    labeled = er_clusters(records, id_col, str_col, agree_cols).select(
        F.col("rid").alias(id_col), "entity_id"
    )
    joined = records.join(labeled, id_col)
    aggs = [
        F.count(F.lit(1)).cast("bigint").alias("n_members"),
        F.min(str_col).alias(f"canonical_{str_col}"),
    ]
    for c in agree_cols:
        aggs.append(F.min(c).alias(c))
    for c in value_cols:
        aggs.append(F.round(F.max(c), 2).alias(f"max_{c}"))
    return joined.groupBy("entity_id").agg(*aggs).orderBy("entity_id")


def cc_index_update(
    labels: DataFrame,
    new_pairs: DataFrame,
    max_edges_hint: int | None = None,
) -> DataFrame:
    """INCREMENTAL connected components — the graph-family member of
    the index-update discipline (`minhash_index_update`,
    `ann_index_update`): given the PERSISTED label table
    (doc_id, cluster_id) of the already-ingested pair graph and a
    fresh batch of pairs, produce the updated labels WITHOUT
    recomputing CC over the historical graph. The standard
    contraction trick: map the new edges into label space
    (label(a), label(b)) — components already merged collapse to
    self-loops and drop out — run CC on that CONTRACTED graph (sized
    by the batch, not the history), and remap every stored label
    through the resulting root map. New nodes (absent from the store)
    enter as their own singleton labels first, so min-label semantics
    are preserved globally: the merged component's root is the min
    over all merged labels = the min doc_id of the whole component —
    exactly what a full rebuild yields (pytest pins update ≡ rebuild,
    including the two-old-components-merged-by-one-new-edge case).

    Scale shape: two equi-joins of the batch against the label store
    (AQE broadcasts a small batch against a huge store — the
    production ingest shape), CC on the batch-sized contracted graph,
    ONE store-sized equi-join for the remap. The history's edge list
    is never touched. Output: (doc_id, cluster_id).

    ``max_edges_hint``: caller-known upper bound on the batch's pair
    count (the contracted graph is never larger than the batch) —
    forwarded to `dup_clusters` so the per-batch strategy count()
    doesn't execute the whole contraction pipeline once extra."""
    members = (
        new_pairs.select(F.col("doc_a").alias("doc_id"))
        .unionAll(new_pairs.select(F.col("doc_b").alias("doc_id")))
        .distinct()
    )
    fresh = members.join(labels, "doc_id", "left_anti").withColumn(
        "cluster_id", F.col("doc_id")
    )
    all_labels = labels.unionAll(fresh).localCheckpoint(eager=False)
    la = all_labels.select(
        F.col("doc_id").alias("doc_a"), F.col("cluster_id").alias("la")
    )
    lb = all_labels.select(
        F.col("doc_id").alias("doc_b"), F.col("cluster_id").alias("lb")
    )
    contracted = (
        new_pairs.join(la, "doc_a")
        .join(lb, "doc_b")
        .where(F.col("la") != F.col("lb"))
        .select(F.col("la").alias("doc_a"), F.col("lb").alias("doc_b"))
        .distinct()
    )
    roots = dup_clusters(contracted, max_edges_hint=max_edges_hint).select(
        F.col("doc_id").alias("cluster_id"),
        F.col("cluster_id").alias("root"),
    )
    return all_labels.join(roots, "cluster_id", "left").select(
        "doc_id",
        F.coalesce(F.col("root"), F.col("cluster_id")).alias("cluster_id"),
    )


def lsh_pr_audit(
    documents: DataFrame,
    k: int = 3,
    threshold: float = 0.5,
    n_hashes: int = 16,
    n_bands: int = 4,
    df_cap: int | None = 50,
) -> DataFrame:
    """Precision/recall audit of the MinHash-LSH near-dup detector
    against the EXACT shingle-Jaccard ground truth at the same
    threshold — the third leg of the dedup-audit family
    (minhash_accuracy_audit measures estimator ERROR per pair,
    blocking_recall_audit measures the sorted-neighborhood pass; this
    measures the shipped LSH operating point end to end: banding
    misses + estimator threshold flips, both directions).

    Both pair generators are the registered sub-quadratic plans
    (banded signature join / df-capped shingle join); the audit itself
    is two full-outer-ish set joins on (doc_a, doc_b) and one
    combinable count. Output: one row (n_truth, n_pred, n_hit,
    precision, recall, f1)."""
    # PIN both pair sets: each feeds its own count aggregate AND the
    # hit semi-join — unpinned, the expensive generators (shingle
    # self-join / banded signature self-join + verify) executed twice
    # each per run (guide §5 persist-when-reused; identity-keyed, so
    # nothing crosses queries)
    truth = one_slot_cached(
        f"lshpr_truth:{k}:{threshold}:{df_cap}",
        documents,
        lambda: ngram_jaccard_pairs(documents, k, threshold, df_cap).select(
            "doc_a", "doc_b"
        ),
    )
    pred = one_slot_cached(
        f"lshpr_pred:{k}:{threshold}:{n_hashes}:{n_bands}",
        documents,
        lambda: minhash_lsh_pairs(
            documents, k, n_hashes, n_bands, threshold
        ).select("doc_a", "doc_b"),
    )
    hit = truth.join(pred, ["doc_a", "doc_b"], "left_semi")
    agg = (
        truth.agg(F.count(F.lit(1)).cast("bigint").alias("n_truth"))
        .crossJoin(
            F.broadcast(
                pred.agg(F.count(F.lit(1)).cast("bigint").alias("n_pred"))
            )
        )
        .crossJoin(
            F.broadcast(
                hit.agg(F.count(F.lit(1)).cast("bigint").alias("n_hit"))
            )
        )
    )
    prec = F.when(F.col("n_pred") > 0, F.col("n_hit") / F.col("n_pred"))
    rec = F.when(F.col("n_truth") > 0, F.col("n_hit") / F.col("n_truth"))
    f1 = F.when(
        (F.col("n_pred") > 0) & (F.col("n_truth") > 0) & (F.col("n_hit") > 0),
        2.0 * F.col("n_hit") / (F.col("n_pred") + F.col("n_truth")),
    ).otherwise(F.lit(0.0))
    return agg.select(
        "n_truth",
        "n_pred",
        "n_hit",
        F.round(prec, 6).alias("precision"),
        F.round(rec, 6).alias("recall"),
        F.round(f1, 6).alias("f1"),
    )
