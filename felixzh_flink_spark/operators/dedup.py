"""Deduplication operators for training-data pipelines.

Beyond-reference capability (the reference has no dedup). Five strategies,
ordered by cost:

1. exact           — hash-groupBy on a normalized fingerprint. One shuffle on
   the 32-char md5; at 100 TB, shuffle volume = one hash + id per row.
2. ngram_jaccard   — exact n-gram-shingle Jaccard on candidate pairs found by
   shingle equi-join. Exact but quadratic in worst case → always run on
   LSH-bucketed candidates at scale.
3. minhash_lsh     — MinHash signatures + banded LSH: candidate pairs cost
   O(rows × perms), join only within bands. The scale path.
4. simhash         — 64-bit sign-of-weighted-sum fingerprint; near-dups differ
   in few bits. Hamming-ball lookup via band exact-match.
5. embedding near-dup — cosine > threshold via random-hyperplane LSH buckets
   (see similarity.py for the ANN machinery).

All built from explode/groupBy/join — no Python in the hot path except where
noted. Hash primitive is xxhash64(col, seed) (Spark built-in, JVM-side).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from felixzh_flink_spark.operators.text import fingerprint_md5


# ---------------------------------------------------------------- exact

def dedup_exact(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact dedup: keep the min-id representative per normalized-text md5.
    Returns (fingerprint, keep_id, n_dupes)."""
    fp = fingerprint_md5(df, text_col)
    return fp.groupBy("fingerprint").agg(
        F.min(id_col).alias("keep_id"),
        F.count("*").alias("n_dupes"),
    )


def dedup_exact_stream(df: DataFrame, text_col: str = "text",
                       id_col: str = "doc_id", ts_col: str = "ts",
                       watermark: str = "10 minutes") -> DataFrame:
    """Streaming exact dedup: first occurrence of each normalized-text
    fingerprint passes; duplicates arriving within the watermark window are
    dropped (dropDuplicatesWithinWatermark — state for a fingerprint is
    evictable once the watermark passes it, so state size is bounded by the
    dedup horizon, not the stream's lifetime).

    Batch analog is `dedup_exact`; this is the U4-unified streaming side.
    """
    fp = fingerprint_md5(df, text_col)
    return (
        fp.withWatermark(ts_col, watermark)
        .dropDuplicatesWithinWatermark(["fingerprint"])
        .select(ts_col, id_col, "fingerprint")
    )


# ---------------------------------------------------------------- shingles

def shingle_array(text_col: str, n: int = 3):
    """Column: the document's word n-gram shingle array (with duplicates).

    Tokens are lower-cased whitespace splits; shingle = n consecutive tokens
    joined by single spaces. Built by zip_with-folding n shifted slices of
    the token array — JVM-side, no UDF, and O(tokens) per document. (The
    naive `transform(idx, i -> slice(tokens, i+1, n))` form is O(tokens²):
    Catalyst inlines the split() into every slice call.)

    The fold is rendered as ONE SQL string parsed JVM-side: the
    Column-by-Column form costs ~8 py4j round trips per zip_with level
    (~0.11 s of pure driver time per call at n=13 — decontamination
    builds this twice per query), the expr parse ~2 ms; results are
    expression-identical (equality-tested across n and edge inputs).
    `text_col` must be a plain column name (every caller's contract).
    """
    tok = f"split(lower(trim({text_col})), '\\\\s+')"
    m = f"(size({tok}) - {n - 1})"  # shingle count when n_tok >= n
    acc = f"slice({tok}, 1, {m})"
    for i in range(1, n):
        acc = (f"zip_with({acc}, slice({tok}, {i + 1}, {m}), "
               f"(a, b) -> concat_ws(' ', a, b))")
    return F.expr(
        f"CASE WHEN size({tok}) >= {n} THEN {acc} "
        f"ELSE array(concat_ws(' ', {tok})) END")


def with_shingle_array(df: DataFrame, text_col: str = "text",
                       id_col: str = "doc_id", n: int = 3) -> DataFrame:
    """(id, sh: array<string>) — one row per doc, shingle array MATERIALIZED
    behind a Generate barrier: `explode(array(sh))` emits the array as a
    plan attribute, so downstream expressions that use it many times (the 64
    MinHash mins) reference it instead of having Catalyst's project-collapse
    inline (and recompute) the whole shingle build per use — the same trap
    as from_json refolding, see functions/changelog.py."""
    return df.select(
        F.col(id_col).alias("id"),
        F.explode(F.array(shingle_array(text_col, n))).alias("sh"),
    )


def shingles(df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
             n: int = 3, distinct: bool = True) -> DataFrame:
    """Word n-gram shingles per doc: (id, shingle), distinct by default.

    `distinct=False` skips the per-(id, shingle) dedup SHUFFLE — use it when
    the consumer is idempotent over duplicates (MinHash `min`, `collect_set`):
    at 100 TB that shuffle moves the entire shingle stream and buys nothing.
    """
    out = df.select(F.col(id_col).alias("id"),
                    F.explode(shingle_array(text_col, n)).alias("shingle"))
    return out.distinct() if distinct else out


def edit_distance_pairs(df: DataFrame, text_col: str = "text",
                        id_col: str = "doc_id", max_edits: int = 20,
                        block_prefix: int = 8) -> DataFrame:
    """Edit-distance near-dup pairs with prefix blocking: candidates must
    share the first `block_prefix` chars of the whitespace-normalized
    text, then exact Levenshtein ≤ `max_edits` verifies. Returns
    (id_a, id_b, edits), id_a < id_b.

    The classic blocked string-matching recipe: the self-join is confined
    to blocks (never all-pairs) and Levenshtein — O(len²) per pair — runs
    only on block collisions. Misses pairs whose edits fall inside the
    prefix (blocking trades recall for the quadratic term, like every
    LSH/banding scheme here); shorten the prefix or add a second blocking
    key (e.g. length bucket) to trade back. JVM-only: `levenshtein` is a
    built-in codegen expression."""
    norm = F.regexp_replace(F.lower(F.trim(F.col(text_col))), r"\s+", " ")
    base = df.select(F.col(id_col).alias("id"), norm.alias("t")) \
        .withColumn("blk", F.substring("t", 1, block_prefix)) \
        .withColumn("len", F.length("t"))
    a, b = base.alias("a"), base.alias("b")
    # length-difference bound: |len(a)−len(b)| > max_edits ⟹ distance >
    # max_edits, so the O(len²) levenshtein never runs on pairs the
    # lengths already rule out — evaluated as a cheap join-side predicate
    # before the expensive verify (the dominant cost in dense blocks)
    # threshold'd levenshtein band-limits the DP to O(len × max_edits)
    # instead of O(len²) and returns -1 past the budget — on ~300-char
    # docs at a 20-edit budget that is ~15× less work per surviving pair
    return (
        a.join(b, (F.col("a.blk") == F.col("b.blk"))
               & (F.col("a.id") < F.col("b.id"))
               & (F.abs(F.col("a.len") - F.col("b.len")) <= max_edits))
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"),
                F.levenshtein(F.col("a.t"), F.col("b.t"),
                              max_edits).alias("edits"))
        .filter(F.col("edits") >= 0)
    )


def ngram_jaccard_pairs(df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
                        n: int = 3, threshold: float = 0.8) -> DataFrame:
    """Exact n-gram Jaccard near-dup pairs: self-join distinct shingles,
    jaccard = |∩| / (|A| + |B| − |∩|). Returns (id_a, id_b, jaccard) with
    id_a < id_b.

    Scale: the shingle self-join shuffles on the shingle string. At 100 TB run
    it only on minhash-LSH candidates (see `minhash_lsh_candidates`) — this
    exact version is the verifier, not the scanner.
    """
    # set sizes ride each shingle row via a per-id window instead of a
    # separate sizes table: the self-join then carries n_a/n_b through
    # the pair aggregation (min over a group where they're constant), so
    # no post-join size lookups and — because the two join inputs are the
    # IDENTICAL subtree shuffled on the identical key — ReuseExchange
    # evaluates the shingle stream once. This replaced round 3/4's
    # eager localCheckpoint: the materialization was real execution
    # billed to driver/plan time and pinned the shingle stream in block-
    # manager storage; the window form is fully lazy and one extra keyed
    # shuffle (by id) that is a fraction of the join shuffle it feeds.
    sh = shingles(df, text_col, id_col, n).withColumn(
        "n_sh", F.count("*").over(Window.partitionBy("id")))
    a = sh.alias("a")
    b = sh.alias("b")
    inter = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle")) & (F.col("a.id") < F.col("b.id")))
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(F.count("*").alias("n_inter"),
             F.min("a.n_sh").alias("n_a"),
             F.min("b.n_sh").alias("n_b"))
    )
    return (
        inter.withColumn(
            "jaccard",
            F.col("n_inter").cast("double")
            / (F.col("n_a") + F.col("n_b") - F.col("n_inter")).cast("double"),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


# ---------------------------------------------------------------- minhash

def minhash_signatures(df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
                       n: int = 3, num_perm: int = 64) -> DataFrame:
    """MinHash signature per doc: sig[i] = min over shingles of
    xxhash64(shingle, seed=i). Returns (id, sig: array<bigint>).

    ZERO-shuffle row-wise form: the shingle array stays a per-row array
    column and each signature slot is `array_min(transform(sh, s ->
    xxhash64(s, i)))` — no explode, no groupBy. Identical values to the
    explode+groupBy formulation (min over the same multiset), stream-safe
    (pure per-row expressions), and the whole signature job is one scan.
    Built as ONE folded SQL expression — `transform(sequence(0, p-1), ...)`
    carries 2 lambdas through analysis instead of `num_perm` unrolled
    `array_min` trees (the unrolled form's 64-subtree analysis was the
    last >0.2 s plan-construction tail in the committed bench; values are
    identical — `xxhash64(s, i)` hashes the slot index as an ordinary int
    column either way, and sequence() of literals constant-folds)."""
    return with_shingle_array(df, text_col, id_col, n).select(
        "id", F.expr(_sig_array_sql(num_perm)).alias("sig"))


def _sig_array_sql(num_perm: int, sh_col: str = "sh") -> str:
    return (f"transform(sequence(0, {num_perm - 1}), "
            f"i -> array_min(transform({sh_col}, s -> xxhash64(s, i))))")


def band_explode_sql(num_perm: int, bands: int, sig_col: str = "sig") -> str:
    """`explode(transform(sequence(...)))` over a signature column — one
    (band, bucket) row per band; bucket = xxhash64 of the band's SLICE,
    hashed as an array value directly (no per-slot string cast + concat —
    the old stringified form built bands×rows string expressions at plan
    time and materialized bands strings per row at exec time; bucket
    VALUES differ but candidate pairs depend only on bucket equality,
    which any injective keying preserves). Shared by the batch candidate
    join and the streaming near-dup keying."""
    rows = num_perm // bands
    # explode_OUTER (r12): the transform-over-sequence array is never
    # null and always `bands` long, so outer emits identical rows —
    # while the inner form lets InferFiltersFromGenerate add a
    # size(<transform>) > 0 guard that re-evaluates the whole
    # bands×(slice+xxhash64) array once more per row below the explode
    return (f"explode_outer(transform(sequence(0, {bands - 1}), "
            f"b -> named_struct('band', b, 'bucket', "
            f"xxhash64(slice({sig_col}, b * {rows} + 1, {rows})))))")


def minhash_lsh_candidates(df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
                           n: int = 3, num_perm: int = 64, bands: int = 16,
                           max_bucket_size: int | None = None) -> DataFrame:
    """Banded LSH over MinHash signatures → candidate near-dup pairs.

    bands×rows = num_perm; docs agreeing on all rows of any band collide.
    Band key = xxhash64 of the band's slice → equi-join groupBy band bucket.
    Returns distinct (id_a, id_b), id_a < id_b.
    """
    sigs = minhash_signatures(df, text_col, id_col, n, num_perm)
    return lsh_candidates_from_signatures(sigs, num_perm, bands,
                                          max_bucket_size)


def lsh_candidates_from_signatures(sigs: DataFrame, num_perm: int = 64,
                                   bands: int = 16,
                                   max_bucket_size: int | None = None) -> DataFrame:
    """Banded LSH over precomputed (id, sig) rows — see
    `minhash_lsh_candidates`. Split out so pipelines that already hold
    signatures (e.g. the verify pipeline's single-scan per-doc aggregate)
    don't recompute them.

    `max_bucket_size` is the hot-bucket guard: a bucket with B members
    yields B² candidate pairs, so one degenerate bucket (boilerplate text,
    empty docs, a constant signature slice) can dominate the whole job at
    corpus scale. Buckets larger than the cap are dropped before the
    self-join (the standard "stop bucket" trade: bounded work, and the
    docs inside a mega-bucket are near-dups of thousands of others —
    they're caught by their OTHER bands or by exact dedup)."""
    banded = sigs.select(
        "id", F.expr(band_explode_sql(num_perm, bands)).alias("bk")) \
        .select("id", "bk.band", "bk.bucket")
    if max_bucket_size is not None:
        small = (banded.groupBy("band", "bucket")
                 .agg(F.count("*").alias("_n"))
                 .filter(F.col("_n") <= max_bucket_size)
                 .drop("_n"))
        banded = banded.join(small, ["band", "bucket"], "left_semi")
    a, b = banded.alias("a"), banded.alias("b")
    return (
        a.join(b, (F.col("a.band") == F.col("b.band"))
               & (F.col("a.bucket") == F.col("b.bucket"))
               & (F.col("a.id") < F.col("b.id")))
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )


def minhash_dedup_pairs(df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
                        n: int = 3, num_perm: int = 64, bands: int = 16,
                        threshold: float = 0.8) -> DataFrame:
    """Full near-dup pipeline: LSH candidates → exact Jaccard verify.

    This is the 100 TB shape: cheap candidate generation, exact check ONLY on
    colliding pairs — each doc's distinct shingle set is attached to the
    candidate pair (two hash joins on doc id) and the intersection computed
    with array_intersect, so exact-verification cost is
    O(candidates × shingles/doc), never the all-pairs shingle self-join
    (`ngram_jaccard_pairs` remains the exact-but-global verifier for small
    slices).

    Signatures and shingle sets come from ONE zero-shuffle scan
    (eagerly localCheckpointed — the per-doc row feeds the band join and
    both sides of the verify join): sig slots and `array_distinct` read
    the same materialized shingle array, so the text is shingled exactly
    once. RDD-level storage, reclaimed by the ContextCleaner when the
    result frame goes unreachable — unlike `.cache()`, repeated
    bench/driver invocations cannot grow storage without bound."""
    per_doc = (
        with_shingle_array(df, text_col, id_col, n)
        .select("id", F.expr(_sig_array_sql(num_perm)).alias("sig"),
                F.array_distinct("sh").alias("sh_set"))
        .localCheckpoint(eager=True)
    )
    sigs = per_doc.select("id", "sig")
    cand = lsh_candidates_from_signatures(sigs, num_perm, bands)
    sets = per_doc.select("id", "sh_set")
    sa = sets.select(F.col("id").alias("id_a"), F.col("sh_set").alias("sh_a"))
    sb = sets.select(F.col("id").alias("id_b"), F.col("sh_set").alias("sh_b"))
    paired = cand.join(sa, "id_a").join(sb, "id_b")
    n_inter = F.size(F.array_intersect("sh_a", "sh_b"))
    jac = n_inter.cast("double") / (
        F.size("sh_a") + F.size("sh_b") - n_inter).cast("double")
    return (
        paired.withColumn("jaccard", jac)
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


# ---------------------------------------------------------------- simhash

def simhash(df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
            bits: int = 64) -> DataFrame:
    """SimHash fingerprint: per token, xxhash64 → for each bit position sum
    (+1 if set else −1) over tokens; fingerprint bit = sign of the sum.

    Expressed as one explode + one groupBy with `bits` conditional sums —
    stays columnar/codegen'd; no 64× row blowup. Returns (id, simhash:
    bigint).
    """
    tok = (
        df.select(F.col(id_col).alias("id"),
                  F.explode(F.split(F.lower(F.trim(F.col(text_col))), r"\s+")).alias("tok"))
        .filter(F.length("tok") > 0)
        .withColumn("h", F.xxhash64("tok"))
    )
    aggs = [
        F.sum(F.when(F.shiftright(F.col("h"), i).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1))
        .alias(f"b{i}")
        for i in range(bits)
    ]
    sums = tok.groupBy("id").agg(*aggs)
    fp = F.lit(0).cast("bigint")
    for i in range(bits):
        fp = fp + F.when(F.col(f"b{i}") > 0, F.lit(1).cast("bigint") * (2 ** i if i < 63 else -(2 ** 63))).otherwise(0)
    return sums.select("id", fp.alias("simhash"))


def simhash_near_pairs(df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
                       max_hamming: int = 3) -> DataFrame:
    """SimHash near-dup pairs: band the 64-bit fingerprint into
    (max_hamming+1) chunks of 64 // (max_hamming+1) bits — by
    pigeonhole, any pair within `max_hamming` bits agrees on at least
    one chunk → equi-join per chunk, then exact Hamming filter via
    bit_count(xor) (`_banded_hamming_pairs`)."""
    fps = simhash(df, text_col, id_col)
    return _banded_hamming_pairs(
        fps.select("id", F.col("simhash").alias("_pb")), 64,
        max_hamming + 1, max_hamming)


def _banded_hamming_pairs(packed: DataFrame, n_bits: int, bands: int,
                          max_hamming: int) -> DataFrame:
    """The one banded-Hamming join behind every bit-hash near-dup path
    (SimHash here, the image/audio hashes in `multimodal`). `packed` is
    (id, _pb): each hash packed big-endian into the low `n_bits` bits of
    ONE BIGINT. The bits split into `bands` bands of n_bits // bands
    bits (leftover high bits fall in no band); by pigeonhole two hashes
    within Hamming distance < bands agree on ≥ 1 whole band, so the
    candidate join is an EQUI-join on (band, bval) and the exact
    Hamming (bit_count(xor) of the packed words) verifies only
    collisions. Returns (id_a, id_b, hamming), id_a < id_b, each
    verified pair once."""
    assert max_hamming < bands, (
        "pigeonhole guarantee needs max_hamming < bands; a larger "
        "max_hamming would silently drop qualifying pairs")
    bw = n_bits // bands
    mask = (1 << bw) - 1
    # shiftrightunsigned: bit 0 of the hash sits at bit n-1 of the
    # packed word (sign bit at n=64) — an arithmetic shift would smear it
    band_val = (f"transform(sequence(0, {bands - 1}), b -> "
                f"shiftrightunsigned(_pb, ({bands} - 1 - CAST(b AS INT)) "
                f"* {bw}) & {mask}L)")
    # the band join moves ONLY (id, band, bval) tuples — the r11 sf1
    # measurement caught the earlier form carrying both 64-element bit
    # arrays through the explode AND the candidate dedup (1.34 GB
    # shuffle at 50k images; ~26 MB this way): candidates dedup as
    # bare id pairs, then the packed hashes join back ONCE each for the
    # Hamming verify
    e = (packed.select("id",
                       F.posexplode(F.expr(band_val))
                       .alias("band", "bval")))
    cand = (e.alias("a").join(e.alias("b"), ["band", "bval"])
            .filter(F.col("a.id") < F.col("b.id"))
            .select(F.col("a.id").alias("id_a"),
                    F.col("b.id").alias("id_b"))
            .dropDuplicates(["id_a", "id_b"]))
    ha = packed.select(F.col("id").alias("id_a"), F.col("_pb").alias("_pa"))
    hb = packed.select(F.col("id").alias("id_b"), F.col("_pb").alias("_pz"))
    ham = F.expr("bit_count(_pa ^ _pz)")
    return (cand.join(ha, "id_a").join(hb, "id_b")
            .withColumn("hamming", ham)
            .filter(F.col("hamming") <= max_hamming)
            .select("id_a", "id_b", "hamming"))


# ----------------------------------------------------- exact-substring spans

def span_hashes(df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
                w: int = 8) -> DataFrame:
    """Every w-token window of every document, keyed by an md5 span hash —
    the building block of exact-substring dedup (flagging verbatim runs
    that repeat ACROSS documents, the "deduplicating training data"
    recipe: find long token spans shared by ≥2 docs and cut them, even
    when the documents as a whole are distinct).

    Tokenization is whitespace-normalized single-space split so the hash
    is a pure function of the token sequence (and reproducible in any
    engine: md5 of the space-joined window). Returns (id, start, h) with
    1-based token start positions. The window enumeration is a single
    `transform(sequence(...))` + posexplode — linear work per token, no
    shuffle, whole-stage codegen.

    Scale shape: output is ~n_tokens rows per doc (same order as the
    shingle explode used by MinHash); at 100 TB this is the dominant
    intermediate, which is why downstream consumers aggregate it by hash
    immediately rather than materializing it.
    """
    norm = F.regexp_replace(F.trim(F.col(text_col)), r"\s+", " ")
    toks = F.split(norm, " ")
    # greatest(..., 1) not 0: sequence(1, 0) DESCENDS in Spark ([1, 0]),
    # which feeds slice a 0 start and errors if the optimizer evaluates
    # the projection before the size filter; the floor-1 junk window on a
    # sub-w doc is dropped by the row filter either way
    windows = F.expr(
        f"transform(sequence(1, greatest(size(_toks) - {w - 1}, 1)), "
        f"i -> md5(concat_ws(' ', slice(_toks, i, {w}))))")
    return (
        df.select(F.col(id_col).alias("id"), toks.alias("_toks"))
        .filter(F.size("_toks") >= w)
        .select("id", F.posexplode(windows).alias("pos0", "h"))
        .select("id", (F.col("pos0") + 1).alias("start"), "h")
    )


def repeated_span_stats(df: DataFrame, text_col: str = "text",
                        id_col: str = "doc_id", w: int = 8) -> DataFrame:
    """Per-document exact-substring contamination stats: how many of the
    doc's w-token windows also appear (verbatim) in at least one OTHER
    document. Returns (doc_id, n_spans, n_dup_spans) for docs with at
    least one cross-document duplicate span.

    Plan: one explode (span_hashes), then a whole-partition window over
    the span hash computes each span's min/max doc id IN PLACE — the
    cross-doc flag rides the same rows into the per-doc aggregate, so the
    expensive window-md5 projection is evaluated exactly ONCE. (The
    aggregate-then-join-back formulation re-evaluates the span explode on
    both join inputs — 2× the md5 work, one extra exchange; measured ~35%
    slower end-to-end.) Two exchanges total: hash → doc id. The window
    state is two longs per hash partition — never a doc-id list, so a
    pathological span shared by millions of docs stays O(1) state. This
    is the 100 TB-viable shape: every stage is keyed by span hash or doc
    id, no all-pairs anything.

    `min(id) != max(id)` over the hash partition detects "≥2 distinct
    docs" in one pass (ids within one doc repeat only if the doc repeats
    the span internally — internal repetition alone is deliberately NOT
    flagged; that is `repetition_metrics`' job).
    """
    spans = span_hashes(df, text_col, id_col, w)
    wh = Window.partitionBy("h")
    flagged = spans.select(
        "id",
        (F.min("id").over(wh) != F.max("id").over(wh)).alias("_dup"))
    return (
        flagged.groupBy(F.col("id").alias(id_col))
        .agg(F.count("*").alias("n_spans"),
             F.count(F.when(F.col("_dup"), True)).alias("n_dup_spans"))
        .filter(F.col("n_dup_spans") > 0)
        .select(id_col, "n_spans", "n_dup_spans")
    )


def keep_best_per_cluster(df: DataFrame, cluster_col: str,
                          quality_col: str, id_col: str = "doc_id") -> DataFrame:
    """Pick the highest-quality representative of each duplicate cluster
    (ties broken by min id) — the keep-the-BEST-copy refinement of
    min-id dedup: when near-dups differ (one truncated, one clean), the
    pipeline should retain the clean one, not the numerically-first one.

    One shuffle on the cluster key (window row_number). Returns the input
    schema filtered to representatives.
    """
    wnd = Window.partitionBy(cluster_col).orderBy(
        F.col(quality_col).desc(), F.col(id_col).asc())
    return (
        df.withColumn("_rn", F.row_number().over(wnd))
        .filter(F.col("_rn") == 1).drop("_rn")
    )


def dedup_incremental(new_docs: DataFrame, corpus_fps: DataFrame,
                      text_col: str = "text",
                      id_col: str = "doc_id") -> DataFrame:
    """Delta dedup: classify a NEW batch of documents against the already-
    committed corpus WITHOUT rescanning it — the shape that keeps dedup
    affordable when 100 TB of corpus grows by 1% a day (re-deduping the
    world per ingest is the anti-pattern; only the delta should shuffle).

    `corpus_fps` is the corpus's fingerprint set (one `fingerprint` string
    column — e.g. the output of `dedup_exact(...).select("fingerprint")`,
    or a parquet fingerprint index maintained by the upsert sink).

    Returns (doc_id, fingerprint, status):
      - 'dup_of_corpus'  — fingerprint already committed; drop.
      - 'dup_in_batch'   — first seen in THIS batch by a smaller id; drop.
      - 'new_unique'     — keep, and append its fingerprint to the index.

    Plan: one shuffle of the NEW batch on fingerprint (window min-id) and
    one join against the index keyed the same way — the corpus side reads
    only its fingerprint column (pruned scan). Within-batch precedence is
    decided before consulting the corpus so a batch-internal duplicate of
    a committed doc reports 'dup_of_corpus' for ALL its copies (they all
    match the index), which keeps the status a pure function of
    (fingerprint sets), not of join order.
    """
    fp = fingerprint_md5(new_docs, text_col).select(
        F.col(id_col), F.col("fingerprint"))
    first = Window.partitionBy("fingerprint")
    fp = fp.withColumn("_first_id", F.min(id_col).over(first))
    idx = corpus_fps.select(F.col("fingerprint")).distinct() \
        .withColumn("_committed", F.lit(True))
    # no broadcast hint: a corpus fingerprint index is 16 bytes x billions
    # of docs -- let AQE pick (it will broadcast small per-tenant indexes
    # under autoBroadcastJoinThreshold on its own)
    out = fp.join(idx, "fingerprint", "left")
    status = (
        F.when(F.col("_committed"), F.lit("dup_of_corpus"))
        .when(F.col(id_col) != F.col("_first_id"), F.lit("dup_in_batch"))
        .otherwise(F.lit("new_unique"))
    )
    return out.select(id_col, "fingerprint", status.alias("status"))


def neardup_incremental(new_docs: DataFrame, corpus_docs: DataFrame,
                        corpus_sigs: DataFrame | None = None,
                        text_col: str = "text", id_col: str = "doc_id",
                        n: int = 5, num_perm: int = 64, bands: int = 16,
                        threshold: float = 0.8) -> DataFrame:
    """NEAR-dup classification of a delta batch against a committed corpus —
    `dedup_incremental`'s fuzzy sibling (that one catches byte-identical
    re-crawls; this one catches the boilerplate-shifted / lightly-edited
    re-crawls that dominate real web deltas). The shape that keeps fuzzy
    dedup affordable when 100 TB grows by a day's crawl: the corpus is
    NEVER re-paired against itself — only delta×corpus and delta×delta
    pairs are considered.

    `corpus_sigs` is the committed MinHash signature index (id, sig) — an
    ingest-time artifact maintained alongside the fingerprint index
    (computed here from `corpus_docs` when absent, but a real deployment
    appends signatures at ingest exactly like `append_rp_index` appends
    projections). `corpus_docs` is consulted only to shingle the handful
    of corpus docs that actually collide with the delta (exact-verify
    side; candidate-pruned scan).

    Plan at scale: the delta's per-doc (sig, shingle-set) row materializes
    from ONE scan (eager localCheckpoint — it feeds the band probe, the
    delta-delta join, and the verify). The delta's band keys BROADCAST
    onto the corpus signature scan (daily deltas are MB–GB; 16 band keys
    × delta rows), so the corpus side pays a narrow pruned scan + a
    broadcast hash join — ZERO corpus shuffle. Exact Jaccard runs only on
    colliding pairs, with the corpus shingle sets built from a
    candidate-semi-joined scan of `corpus_docs`. (A corpus signature
    index stored bucketed by (band, bucket) turns the probe into a
    bucket-pruned join when the delta outgrows broadcast; the artifact
    layout, not this operator, decides that.)

    Statuses, a pure function of the two document sets (never join order):
      - 'neardup_of_corpus' — some committed doc reaches Jaccard ≥
        threshold; drop (or route to keep-best).
      - 'neardup_in_batch'  — no corpus match, but a SMALLER-id delta doc
        reaches threshold; drop.
      - 'new_unique'        — keep; append its signature to the index.
    Corpus precedence is decided before batch precedence, so every copy
    of a committed doc reports 'neardup_of_corpus' regardless of how the
    batch orders them. Returns (id, status, n_corpus_matches,
    best_corpus_jaccard) — the match stats make the gate auditable (and
    give the oracle a hash surface: a single missed or phantom candidate
    shifts a count or a max).
    """
    per_doc = (
        with_shingle_array(new_docs, text_col, id_col, n)
        .select("id", F.expr(_sig_array_sql(num_perm)).alias("sig"),
                F.array_distinct("sh").alias("sh_set"))
        .localCheckpoint(eager=True)
    )
    if corpus_sigs is None:
        corpus_sigs = minhash_signatures(corpus_docs, text_col, id_col,
                                         n, num_perm)
    band_expr = band_explode_sql(num_perm, bands)
    delta_bands = per_doc.select(
        F.col("id").alias("delta_id"), F.expr(band_expr).alias("bk")) \
        .select("delta_id", "bk.band", "bk.bucket")
    corpus_bands = corpus_sigs.select(
        F.col("id").alias("corpus_id"), F.expr(band_expr).alias("bk")) \
        .select("corpus_id", "bk.band", "bk.bucket")
    # materialized eagerly: the candidate set feeds BOTH the verify join
    # and the corpus-docs pruning semi-join — without the checkpoint the
    # probe pass over the corpus signature scan would execute twice (the
    # expensive corpus pass at 100 TB), and candidates are delta-bounded
    # id pairs (KB–MB), so materializing them is free
    cand = (corpus_bands.join(F.broadcast(delta_bands), ["band", "bucket"])
            .select("delta_id", "corpus_id").distinct()
            .localCheckpoint(eager=True))
    corpus_sets = (
        with_shingle_array(
            corpus_docs.join(
                F.broadcast(cand.select(F.col("corpus_id").alias(id_col))
                            .distinct()),
                id_col, "left_semi"),
            text_col, id_col, n)
        .select(F.col("id").alias("corpus_id"),
                F.array_distinct("sh").alias("sh_c")))
    delta_sets = per_doc.select(F.col("id").alias("delta_id"),
                                F.col("sh_set").alias("sh_d"))
    n_inter = F.size(F.array_intersect("sh_d", "sh_c"))
    jac = n_inter.cast("double") / (
        F.size("sh_d") + F.size("sh_c") - n_inter).cast("double")
    corpus_matches = (
        cand.join(delta_sets, "delta_id").join(corpus_sets, "corpus_id")
        .withColumn("jaccard", jac)
        .filter(F.col("jaccard") >= threshold)
        .groupBy("delta_id")
        .agg(F.count("*").alias("n_corpus_matches"),
             F.max("jaccard").alias("best_corpus_jaccard")))
    batch_pairs = lsh_candidates_from_signatures(
        per_doc.select("id", "sig"), num_perm, bands)
    da = per_doc.select(F.col("id").alias("id_a"),
                        F.col("sh_set").alias("sh_a"))
    db = per_doc.select(F.col("id").alias("id_b"),
                        F.col("sh_set").alias("sh_b"))
    nb = F.size(F.array_intersect("sh_a", "sh_b"))
    bjac = nb.cast("double") / (
        F.size("sh_a") + F.size("sh_b") - nb).cast("double")
    batch_dups = (batch_pairs.join(da, "id_a").join(db, "id_b")
                  .filter(bjac >= threshold)
                  .select(F.col("id_b").alias("id")).distinct()
                  .withColumn("_batch_dup", F.lit(True)))
    out = (per_doc.select("id")
           .join(corpus_matches.withColumnRenamed("delta_id", "id"),
                 "id", "left")
           .join(batch_dups, "id", "left"))
    status = (
        F.when(F.col("n_corpus_matches").isNotNull(),
               F.lit("neardup_of_corpus"))
        .when(F.col("_batch_dup"), F.lit("neardup_in_batch"))
        .otherwise(F.lit("new_unique")))
    return out.select(
        F.col("id").alias(id_col), status.alias("status"),
        F.coalesce("n_corpus_matches", F.lit(0)).alias("n_corpus_matches"),
        F.col("best_corpus_jaccard"))


def cut_repeated_spans(df: DataFrame, text_col: str = "text",
                       id_col: str = "doc_id", w: int = 8) -> DataFrame:
    """The cutting half of exact-substring dedup: remove every token that
    falls inside a w-token window shared verbatim with ANOTHER document,
    returning (doc_id, clean_text, n_tokens, n_cut_tokens). Documents with
    no cross-doc span pass through unchanged (n_cut_tokens = 0).

    Plan: span_hashes explode → whole-partition window over the span hash
    flags cross-doc spans in place (min≠max doc id; the span projection
    is evaluated ONCE — see `repeated_span_stats` for the trade vs the
    aggregate-then-join-back form) → per-doc `collect_set(start)` of the
    flagged spans — state bounded by tokens-per-doc, never corpus size —
    then one scan-local array rebuild: a token at position p is kept iff
    NO dup span start s covers it (s ≤ p < s+w), an `exists` over the
    per-doc start set (≤ tokens/doc elements, so the rebuild is
    O(tokens × dup_spans_doc) worst case and O(tokens) for clean docs,
    all inside codegen).

    Cutting changes tokenization at the seams (the text is re-joined with
    single spaces), which is the standard, documented behavior of
    span-level dedup: the cleaned corpus is NOT guaranteed free of new
    w-grams formed across cut boundaries — run to a fixpoint if that
    matters (one pass removes ~all verbatim mass in practice).
    """
    spans = span_hashes(df, text_col, id_col, w)
    wh = Window.partitionBy("h")
    cut_starts = (
        spans.select(
            "id", "start",
            (F.min("id").over(wh) != F.max("id").over(wh)).alias("_dup"))
        .filter(F.col("_dup"))
        .groupBy(F.col("id").alias(id_col))
        .agg(F.collect_set("start").alias("_starts"))
    )
    norm = F.regexp_replace(F.trim(F.col(text_col)), r"\s+", " ")
    toks = F.split(norm, " ")
    out = (
        df.select(F.col(id_col), toks.alias("_toks"))
        .join(cut_starts, id_col, "left")
        .withColumn("_starts", F.coalesce(
            F.col("_starts"), F.array().cast("array<int>")))
    )
    kept = F.expr(
        f"filter(_toks, (t, i) -> !exists(_starts, "
        f"s -> s <= i + 1 AND i + 1 < s + {w}))")
    return out.select(
        id_col,
        F.concat_ws(" ", kept).alias("clean_text"),
        F.size("_toks").cast("bigint").alias("n_tokens"),
        (F.size("_toks") - F.size(kept)).cast("bigint").alias("n_cut_tokens"),
    )


# ---------------------------------------------------- winnowing (MOSS)

def winnow_fingerprints(df: DataFrame, text_col: str = "text",
                        id_col: str = "doc_id", k: int = 5,
                        w: int = 4) -> DataFrame:
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken,
    SIGMOD'03 — the MOSS algorithm): hash every k-token gram, slide a
    w-hash window over the gram-hash sequence, select each window's
    minimum. Guarantee: any run of ≥ k + w - 1 tokens shared verbatim by
    two documents contributes at least one IDENTICAL selected hash to
    both, while only ~2/(w+1) of all gram hashes are kept — the
    density/guarantee trade the paper proves optimal.

    Emits the DISTINCT selected hash VALUES per document as (id, h).
    Classic winnowing also records positions with a rightmost tie-break;
    the selected VALUE set is tie-break-independent (whichever position
    wins, the value is the window min), which is what keeps this operator
    bit-reproducible in any engine. Gram hash = md5 of the space-joined
    gram taken as 15 hex digits → bigint (< 2^60, engine-portable — same
    primitive as `sampling.hash_bucket`).

    Plan shape: gram hashing, window minima, and per-doc value dedup
    (`array_distinct`) are all scan-local array math inside codegen —
    O(tokens × w) per doc with w ≈ 4, ZERO shuffles in this operator.
    At 100 TB the fingerprint table is ~2/(w+1) the size of the full
    `span_hashes` gram table; that sparsification is what keeps the
    downstream by-hash join tractable.
    """
    norm = F.regexp_replace(F.trim(F.col(text_col)), r"\s+", " ")
    toks = F.split(norm, " ")
    base = (
        df.select(F.col(id_col).alias("id"), toks.alias("_toks"))
        .filter(F.size("_toks") >= k + w - 1)
    )
    # every array expression is TOTAL: Catalyst reorders projections and
    # filters freely, so an expression that errors on short docs can
    # evaluate before the row filter discards the row (Spark's
    # sequence(1, 0) DESCENDS — [1, 0] — feeding slice a 0 start).
    # greatest(..., 1) floors the sequence instead; sub-length docs
    # produce junk windows that the row filter then drops — junk, not an
    # error, and no `case when` branch to break codegen or get inlined
    # per consumer (measured 4× slower than the bare transform)
    grams = F.expr(
        f"transform(sequence(1, greatest(size(_toks) - {k - 1}, 1)), i -> "
        f"cast(conv(substr(md5(concat_ws(' ', slice(_toks, i, {k}))), 1, 15), "
        f"16, 10) as bigint))")
    wins = F.expr(
        f"transform(sequence(1, greatest(size(_grams) - {w - 1}, 1)), "
        f"j -> array_min(slice(_grams, j, {w})))")
    # single projection chain with the explode INLINE: splitting the
    # array_distinct into its own named-column projection before a
    # separate explode select looks equivalent but lets the optimizer
    # re-substitute the gram pipeline into downstream consumers —
    # measured as an O(windows × grams) per-doc blow-up at sf0.1
    # explode_OUTER (r12): wins is always ≥ 1 element (the greatest()
    # floor) and never null for rows passing the length filter, so
    # outer is row-identical — and no size-guard is inferred (the
    # inner form re-evaluated the gram+window pipeline once more per
    # row inside the inferred filter; same class as the measured
    # bm25_topk_multi duplication)
    return (
        base.select("id", grams.alias("_grams"))
        .select("id", F.explode_outer(F.array_distinct(wins)).alias("h"))
    )


def winnow_similar_pairs(df: DataFrame, text_col: str = "text",
                         id_col: str = "doc_id", k: int = 5, w: int = 4,
                         min_shared: int = 2,
                         max_docs_per_hash: int | None = None) -> DataFrame:
    """MOSS-style similarity report: pairs of documents sharing ≥
    `min_shared` winnowing fingerprints, with the containment ratio
    shared / min(|A|, |B|) (the MOSS "% matched" score). Returns
    (id_a, id_b, shared, n_a, n_b, containment).

    Every stage is keyed by fingerprint hash or doc pair — no all-pairs
    comparison. `max_docs_per_hash` drops fingerprints present in more
    than that many documents (boilerplate k-grams) BEFORE the pair join:
    the same stop-list trade as the LSH hot-bucket guard, bounding the
    per-hash pair fan-out at corpus scale (a ubiquitous gram would
    otherwise contribute a quadratic number of pairs on its own).
    """
    # NOTE the per-doc count is aggregated from the exploded rows and
    # joined back, NOT carried through the explode as size(_fps): a
    # projection consuming the fingerprint array twice (scalar + generator
    # input) gets the array expression inlined past the Generate and
    # recomputed per EXPLODED row — measured 24× slower than this
    # aggregate-and-join-back form
    fp = winnow_fingerprints(df, text_col, id_col, k, w)
    if max_docs_per_hash is not None:
        # fp is distinct per (id, h), so count(*) = distinct docs
        fp = fp.withColumn(
            "_n", F.count("*").over(Window.partitionBy("h"))
        ).filter(F.col("_n") <= max_docs_per_hash).drop("_n")
    # fp has THREE consumers below (both self-join sides + the sizes
    # aggregate) and no cross-reference subtree sharing exists —
    # un-materialized, the whole fingerprint pipeline (tokenize + one md5
    # per gram + window minima) executes three times per action. fp is
    # (id, h) — the narrow decision proxy, ~2/(w+1) of the gram count —
    # so one lazy localCheckpoint trades a metadata-sized materialization
    # for two full re-hash scans of the corpus (guide-§8: decide with
    # small rows; the same fix as packing._exclusive_cumsum).
    fp = fp.localCheckpoint(eager=False)
    sizes = fp.groupBy("id").agg(F.count("*").alias("n_fp"))
    pairs = (
        fp.alias("a")
        .join(fp.alias("b"), (F.col("a.h") == F.col("b.h"))
              & (F.col("a.id") < F.col("b.id")))
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(F.count("*").alias("shared"))
        .filter(F.col("shared") >= min_shared)
    )
    return (
        pairs
        .join(sizes.select(F.col("id").alias("id_a"),
                           F.col("n_fp").alias("n_a")), "id_a")
        .join(sizes.select(F.col("id").alias("id_b"),
                           F.col("n_fp").alias("n_b")), "id_b")
        .select("id_a", "id_b", "shared", "n_a", "n_b",
                (F.col("shared").cast("double")
                 / F.least("n_a", "n_b")).alias("containment"))
    )


# ------------------------------------ prefix-filtered set-similarity join

def token_set_jaccard_join(df: DataFrame, text_col: str = "text",
                           id_col: str = "doc_id",
                           threshold: float = 0.7,
                           ngram: int = 1,
                           broadcast_vocab: bool = True,
                           min_df: int | None = None,
                           checkpoint_sets: bool = False) -> DataFrame:
    """EXACT token-set Jaccard self-join ≥ threshold via prefix filtering
    (the AllPairs/PPJoin family, Bayardo et al. WWW'07 / Xiao et al.
    ICDE'08) — the exact-guarantee complement to MinHash-LSH: no false
    negatives by construction, candidate generation still nowhere near
    all-pairs. Returns (id_a, id_b, o, n_a, n_b, jacc).

    How the pruning works: order every document's distinct-token set by
    ascending global frequency (rarest first; ties by token). If
    J(a,b) ≥ t then |a∩b| ≥ t·max(|a|,|b|) ≥ t·|s| for each side, and
    two sets whose overlap is ≥ α must collide within their first
    |s| − α + 1 tokens of ANY shared total order — so only the length
    |s| − ⌈t·|s|⌉ + 1 PREFIX of each sorted set is exploded for the
    candidate equi-join. Rarest-first ordering makes those prefixes the
    least-common tokens → tiny join groups. Exact Jaccard then verifies
    candidates only.

    Scale shape: one agg for global token frequencies (shuffle ∝ vocab),
    one shuffle to re-join frequencies onto tokens, one equi-join keyed
    by prefix token (group sizes bounded by rare-token document
    frequency), then a per-pair aggregate applying the length filter
    (t·|a| ≤ |b|) and the PPJoin POSITIONAL filter (see inline proof) —
    measured to prune ~99% of prefix-collision pairs before the
    expensive exact verification. Verification itself joins candidate
    ids back to UNSORTED distinct-shingle sets built scan-local from the
    source table (array_intersect is order-blind), so the expensive
    sorted-sets plan — freq join + collect_list shuffle + per-doc sort —
    has exactly ONE consumer (prefix generation) and is computed exactly
    once without any materialization. No LSH tuning, no recall loss.

    `ngram` > 1 builds the sets from n-gram shingles instead of unigram
    tokens — on natural-language corpora unigram sets saturate (every doc
    shares the function-word vocabulary, so J is high between unrelated
    docs and the rare-token prefixes stop pruning); shingle sets keep the
    element universe discriminative, exactly as in the MinHash pipeline.

    Vocabulary-scale knobs (results are IDENTICAL under every setting —
    the prefix filter only needs a total order shared by both join sides,
    and (effective_freq, token) is total under all of them):
    - `broadcast_vocab=False` swaps the frequency broadcast for a shuffle
      join — required when the element vocabulary itself is too large to
      broadcast (open-vocabulary shingles at corpus scale).
    - `min_df=k` keeps only tokens with frequency > k in the frequency
      table (the heavy hitters — a tiny, skew-bounded set) and treats
      every absent token as frequency k: rare tokens order among
      themselves alphabetically instead of by exact df. Prefix pruning
      stays near-optimal (rare is rare) while the broadcast shrinks from
      O(vocab) to O(heavy hitters).
    - `checkpoint_sets=True` materializes the per-doc sorted sets via
      eager `localCheckpoint` (RDD-level storage, reclaimed by the
      ContextCleaner once the result frame is unreachable — no
      cacheManager pinning). Off by default: the restructured plan gives
      the sorted sets a single consumer, so the checkpoint's
      materialization cost buys nothing unless the caller reuses the
      frame across several actions.
    The exploded (id, token) stream deliberately has NO materialization
    or forced exchange between its two consumers (frequency aggregate +
    frequency join): re-shingling is a CPU-only scan-local pass, and an
    exchange inserted to share it was measured SLOWER locally (two
    sequential shuffles of the token stream beat one shuffle + one
    recompute by ~25%) — at 100 TB the recompute also wins, since it
    costs no IO.
    """
    # The plan is rendered as SQL text and parsed in ONE spark.sql call
    # (r6 plan-time treatment — this was the bench's worst remaining
    # planner at ~18 incremental DataFrame analyses); the expressions
    # are the same ones the former Column-API form built, so results
    # are identical. `checkpoint_sets=True` needs a real plan boundary
    # at the sorted-sets frame, so that path splits into two spark.sql
    # calls around the localCheckpoint.
    spark = df.sparkSession
    t = repr(float(threshold)) + "D"
    alpha = repr(threshold / (1.0 + threshold)) + "D"
    bhint = "/*+ BROADCAST(f) */ " if broadcast_vocab else ""
    # '\\\\s+' in the f-string → '\\s+' in SQL → regex \s+
    split_sql = (f"split(regexp_replace(trim(`{text_col}`), '\\\\s+', ' '), "
                 f"' ')")
    if ngram <= 1:
        where = ""
        elems = "array_distinct(_tk)"
    else:
        # the filter recomputes the split (no select-alias in WHERE);
        # it reaches the scan as the same pushed predicate as before
        where = f"WHERE size({split_sql}) >= {ngram}"
        elems = (f"array_distinct(transform(sequence(1, "
                 f"greatest(size(_tk) - {ngram - 1}, 1)), "
                 f"i -> concat_ws(' ', slice(_tk, i, {ngram}))))")
    base = (f"SELECT `{id_col}` AS id, {split_sql} AS _tk FROM {{df}} "
            f"{where}")
    # vsets for exact verification: the distinct-shingle arrays as a
    # plain projection (no generate above it, so nothing infers filters)
    src = f"SELECT id, {elems} AS toks FROM base"
    if min_df is not None:
        # heavy hitters only; absent tokens coalesce to the floor freq
        wf = (f"SELECT {bhint}t.id AS id, "
              f"COALESCE(f._f, CAST({min_df} AS BIGINT)) AS _f, "
              f"t.tok AS tok FROM toks t LEFT JOIN "
              f"(SELECT tok, _f FROM freq WHERE _f > {min_df}) f "
              f"ON t.tok = f.tok")
    else:
        wf = (f"SELECT {bhint}t.id AS id, f._f AS _f, t.tok AS tok "
              f"FROM toks t JOIN freq f ON t.tok = f.tok")
    # per-doc tokens sorted rarest-first (freq asc, token asc): sort an
    # array of (freq, tok) structs — struct ordering is lexicographic.
    # `explode({elems})` keeps the shingle expression INLINE as the
    # generator input (not a projected alias): InferFiltersFromGenerate
    # would otherwise push a size(<full shingle transform>) predicate
    # into the scan, re-running the transform per row in a filter —
    # measured 2× the whole join's runtime at sf0.1
    sets_ctes = f"""
base AS ({base}),
src AS ({src}),
toks AS (SELECT id, explode({elems}) AS tok FROM base),
freq AS (SELECT tok, COUNT(*) AS _f FROM toks GROUP BY tok),
wf AS ({wf}),
sorted AS (SELECT id, array_sort(collect_list(struct(_f, tok))) AS _st
           FROM wf GROUP BY id),
sets AS (SELECT id, transform(_st, s -> s.tok) AS toks, size(_st) AS n
         FROM sorted)"""

    # probing prefix: |s| - ceil(t*|s|) + 1 rarest tokens. The candidate
    # join carries IDS + PREFIX POSITIONS only (the token arrays re-join
    # by id afterwards) — shuffling each candidate's full sets through
    # the pair-level aggregate would move O(candidates × set_size) data;
    # this way the heavy arrays move O(rows) once, candidates move as a
    # few scalars.
    #
    # `cand` applies the length filter (t·|larger| ≤ |smaller| is
    # necessary for J ≥ t) and then the PPJoin positional filter
    # (Xiao et al. ICDE'08 §3.2), per candidate PAIR: both sets are
    # sorted by the SAME global order, so intersection elements are
    # order-consistent across the two sets, and every intersection
    # element that is not a prefix-prefix collision must sit AFTER the
    # last collision position on BOTH sides (a suffix element is
    # globally greater than every prefix token, hence greater than the
    # last collision token, hence later on the other side too).
    # Therefore
    #   overlap ≤ c + min(n_a − max_i − 1, n_b − max_j − 1)
    # with c = collision count and max_i/max_j the last collision's
    # 0-based prefix positions — while J ≥ t forces
    #   overlap ≥ ceil(t/(1+t) · (n_a + n_b)).
    # On corpora where rare-shingle coincidences produce few collisions
    # per unrelated pair, this prunes the candidate set by orders of
    # magnitude BEFORE the expensive array_intersect verification
    # (measured 104,502 → near-true-pair count at sf0.1). The 1e-9
    # slack keeps float noise in the ceil from ever rounding the lower
    # bound past a legitimate integer overlap (a false negative); an
    # overcount by slack only lets a doomed candidate through to exact
    # verify.
    #
    # verification: array_intersect is order-blind, so the candidate
    # ids re-join to UNSORTED distinct-shingle sets derived scan-local
    # from the source table (`src`) — a parquet scan + projection, no
    # freq join, no collect_list shuffle. This leaves the expensive
    # sorted-sets plan with a single consumer (the prefix explode).
    # The verification re-join's array side (`src`: id + distinct-
    # shingle arrays) is a BROADCAST TRAP at corpus scale: its on-disk/
    # estimated size sits under the auto-broadcast threshold while its
    # BUILT hash-relation size is the expanded string arrays — GBs at
    # 500k docs (the round-7 sf10 run OOM'd the driver exactly here,
    # twice over: va AND vb). `broadcast_vocab=False` is the caller's
    # corpus-scale signal, so the same flag forces the verify join to
    # shuffle-merge; at tested scales the broadcast stays (it is
    # measurably faster there).
    vhint = ("" if broadcast_vocab
             else "/*+ SHUFFLE_MERGE(va), SHUFFLE_MERGE(vb) */ ")

    def _tail(sets_ref: str, vsets_ref: str) -> str:
        return f"""
pref AS (
  SELECT s.id, s.n, p.i, p.ptok
  FROM {sets_ref} s LATERAL VIEW posexplode(slice(s.toks, 1,
       size(s.toks) - cast(ceil({threshold} * size(s.toks)) as int) + 1))
       p AS i, ptok),
cand AS (
  SELECT a.id AS id_a, b.id AS id_b, a.n AS n_a, b.n AS n_b,
         COUNT(*) AS _c, MAX(a.i) AS _li, MAX(b.i) AS _lj
  FROM pref a JOIN pref b
    ON a.ptok = b.ptok AND a.id < b.id
   AND a.n >= {t} * b.n AND b.n >= {t} * a.n
  GROUP BY a.id, b.id, a.n, b.n),
pruned AS (
  SELECT id_a, id_b, n_a, n_b FROM cand
  WHERE _c + LEAST(n_a - _li - 1, n_b - _lj - 1)
        >= CEIL({alpha} * (n_a + n_b) - 1e-09D)),
verified AS (
  SELECT {vhint}p.id_a, p.id_b,
         size(array_intersect(va.toks, vb.toks)) AS o,
         p.n_a, p.n_b
  FROM pruned p JOIN {vsets_ref} va ON p.id_a = va.id
                JOIN {vsets_ref} vb ON p.id_b = vb.id)
SELECT id_a, id_b, o, n_a, n_b,
       CAST(o AS DOUBLE) / (n_a + n_b - o) AS jacc
FROM verified
WHERE CAST(o AS DOUBLE) / (n_a + n_b - o) >= {t}"""

    if not checkpoint_sets:
        return spark.sql(f"WITH {sets_ctes},{_tail('sets', 'src')}", df=df)
    sets_df = spark.sql(
        f"WITH {sets_ctes} SELECT id, toks, n FROM sets",
        df=df).localCheckpoint(eager=True)
    vsets_df = spark.sql(
        f"WITH base AS ({base}), src AS ({src}) SELECT id, toks FROM src",
        df=df)
    return spark.sql(f"WITH{_tail('{sets}', '{vsets}')}",
                     sets=sets_df, vsets=vsets_df)
