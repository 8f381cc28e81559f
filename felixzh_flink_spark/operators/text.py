"""Text-analysis operators over document tables (LLM-training-data pipeline).

Beyond-reference operators (the reference has no text analytics; its only
string work is tokenize/lower/length — ExecutionMode.java:50,
MyTableFunction.java:11-13). All hot paths are built-in Spark SQL functions
(regexp, split, length) — zero Python UDFs, so they run inside whole-stage
codegen and scale linearly with input: at 100 TB these are embarrassingly
parallel scan+project jobs with no shuffle at all (per-document outputs).
"""

from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

#: language marker (stopword) sets for the n-gram/stopword language heuristic.
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "in", "is", "that", "it", "for", "with"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "ein", "mit", "den", "von"],
    "fr": ["le", "la", "les", "et", "est", "un", "une", "des", "dans", "pour"],
    "es": ["el", "la", "los", "las", "es", "un", "una", "de", "que", "por"],
    "zh": ["de5", "shi4", "le5", "zai4", "you3", "wo3", "ta1", "zhe4", "bu4", "ren2"],
}

TOKEN_RE = r"\s+"


def token_count(text: Column | str, alias: str = "n_tokens") -> Column:
    """Whitespace token count. size(split) counts empty leading/trailing
    fields, so trim first and special-case the empty string."""
    c = F.col(text) if isinstance(text, str) else text
    t = F.trim(c)
    return F.when(F.length(t) == 0, F.lit(0)).otherwise(
        F.size(F.split(t, TOKEN_RE))
    ).cast("bigint").alias(alias)


def bpe_ish_token_count(text: Column | str, alias: str = "n_subtokens") -> Column:
    """BPE-approximating token count: word-piece regex (runs of letters,
    digits, or single punctuation) — a deterministic proxy for tokenizer cost
    estimation without shipping a tokenizer model to executors."""
    c = F.col(text) if isinstance(text, str) else text
    return F.size(F.regexp_extract_all(c, F.lit(r"[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]"), F.lit(0))) \
        .cast("bigint").alias(alias)


def length_histogram(df: DataFrame, text_col: str = "text",
                     group_col: str = "source") -> DataFrame:
    """Sequence-length distribution per group: power-of-two histogram of
    whitespace-token counts — the length profile a packing/curriculum
    stage reads before choosing sequence budgets.

    Bucket = bit width of the token count (`length(bin(n))`, i.e.
    floor(log2 n)+1; 0 for empty docs) — INTEGER arithmetic, because
    `floor(log2(x))` through float log is not correctly rounded and can
    land on the wrong side of a power of two on some libm. Emits per
    (group, bucket): doc count, token sum, and the bucket's inclusive
    lower bound 2^(b-1). One partial-aggregated shuffle on
    (group, bucket) — scan-shaped at any scale."""
    n = token_count(text_col)
    bucket = F.when(F.col("n_tokens") == 0, F.lit(0)) \
        .otherwise(F.length(F.bin(F.col("n_tokens")))).cast("int")
    return (
        df.select(F.col(group_col), n)
        .withColumn("len_bucket", bucket)
        .groupBy(group_col, "len_bucket")
        .agg(F.count("*").alias("n_docs"),
             F.sum("n_tokens").alias("total_tokens"))
        .withColumn(
            "bucket_min",
            F.when(F.col("len_bucket") == 0, F.lit(0))
            .otherwise(F.expr("shiftleft(1, len_bucket - 1)"))
            .cast("bigint"))
    )


def chunk_documents(df: DataFrame, text_col: str = "text",
                    id_col: str = "doc_id", chunk_tokens: int = 64,
                    overlap_tokens: int = 8) -> DataFrame:
    """Split documents into overlapping token-window chunks — the context-
    window preparation step of a training pipeline. Stride = chunk − overlap;
    the final partial window is kept. Pure JVM (split → sequence →
    transform → explode): one scan, no shuffle, output rows ∝ tokens.

    Returns (id, chunk_idx, chunk_text, n_chunk_tokens).
    """
    stride = chunk_tokens - overlap_tokens
    toks = F.split(F.lower(F.trim(F.col(text_col))), TOKEN_RE)
    n = F.size(toks)
    n_chunks = F.when(n <= chunk_tokens, F.lit(1)).otherwise(
        F.ceil((n - F.lit(chunk_tokens)).cast("double") / stride).cast("int") + 1)
    idx = F.sequence(F.lit(0), n_chunks - 1)
    chunks = F.transform(
        idx,
        lambda i: F.struct(
            i.cast("int").alias("chunk_idx"),
            F.concat_ws(" ", F.slice(toks, i * stride + 1, chunk_tokens)).alias("chunk_text"),
            F.least(F.lit(chunk_tokens), n - i * stride).cast("bigint").alias("n_chunk_tokens"),
        ),
    )
    return (
        df.filter(F.length(F.trim(F.col(text_col))) > 0)
        .select(F.col(id_col).alias("id"), F.explode(chunks).alias("c"))
        .select("id", "c.chunk_idx", "c.chunk_text", "c.n_chunk_tokens")
    )


#: training-data scrubbing patterns (emails, URLs) — the common pretraining
#: cleanup pass; extend per-deployment.
REDACT_PATTERNS = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "url": r"https?://[^\s]+",
}


def redact_text(text: Column | str, replacement: str = "[REDACTED]") -> Column:
    """Scrub emails and URLs from a text column (regexp_replace chain —
    codegen'd, no Python). Order: URLs first so mailto-ish tails don't leave
    fragments."""
    c = F.col(text) if isinstance(text, str) else text
    out = F.regexp_replace(c, REDACT_PATTERNS["url"], replacement)
    return F.regexp_replace(out, REDACT_PATTERNS["email"], replacement)


#: typed PII patterns, applied in THIS order when scrubbing (placeholders
#: contain no digits, so later patterns can never re-match an earlier
#: replacement). Every pattern is simultaneously valid Java regex (the
#: Spark scan) and RE2 (the DuckDB oracle): ASCII classes only, no
#: lookaround, no backreferences — the dual-dialect discipline the robots
#: and redact patterns already follow.
PII_PATTERNS: "list[tuple[str, str]]" = [
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"),
    ("ip", r"\b(25[0-5]|2[0-4][0-9]|1[0-9][0-9]|[1-9]?[0-9])"
           r"(\.(25[0-5]|2[0-4][0-9]|1[0-9][0-9]|[1-9]?[0-9])){3}\b"),
    ("ssn", r"\b[0-9]{3}-[0-9]{2}-[0-9]{4}\b"),
    ("phone", r"\b[0-9]{3}[ .-][0-9]{3}[ .-][0-9]{4}\b"),
]


def pii_scrub(text: Column | str) -> Column:
    """Typed PII scrubbing — the production form of `redact_text`: each
    category is replaced by its OWN placeholder (`<EMAIL>`, `<IP>`,
    `<SSN>`, `<PHONE>`) so downstream consumers can count, filter, or
    unmask per category instead of losing the signal to one generic
    token (the C4/Dolma-style pretraining scrub). A regexp_replace chain
    — codegen'd, no Python; the SSN and phone grammars are disjoint by
    construction (a 3-2-4 digit group can never parse as 3-3-4), so the
    chain order only matters for the digit-free placeholders, which are
    immune to re-matching."""
    c = F.col(text) if isinstance(text, str) else text
    for name, pat in PII_PATTERNS:
        c = F.regexp_replace(c, pat, f"<{name.upper()}>")
    return c


def pii_profile(df: DataFrame, text_col: str = "text",
                id_col: str = "doc_id",
                keep: "tuple[str, ...]" = ()) -> DataFrame:
    """Per-document PII counts, one column per category, each pattern
    scanning the RAW text independently (counts are a pure function of
    the input — never of scrub order). Scan-local: four regexp_count
    expressions in one projection, zero shuffles at any corpus size;
    aggregate downstream for a corpus-level PII audit. `keep` names
    extra columns to carry through the projection (so profile + scrub
    compose in ONE scan instead of a self-join)."""
    cols = [F.regexp_count(F.col(text_col), F.lit(pat)).cast("bigint")
            .alias(f"n_{name}") for name, pat in PII_PATTERNS]
    return df.select(F.col(id_col), *cols, *[F.col(k) for k in keep])


def decontaminate(corpus: DataFrame, benchmark: DataFrame,
                  text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Test-set decontamination: drop corpus docs whose normalized-text
    fingerprint appears in the benchmark set — an anti-join on md5
    fingerprints (one shuffle on the hash; the benchmark side is tiny in
    practice → broadcast)."""
    corpus_fp = fingerprint_md5(corpus, text_col)
    bench_fp = fingerprint_md5(benchmark, text_col).select("fingerprint").distinct()
    return corpus_fp.join(F.broadcast(bench_fp), "fingerprint", "left_anti") \
        .drop("fingerprint")


def decontaminate_ngrams(corpus: DataFrame, benchmark: DataFrame, n: int = 13,
                         text_col: str = "text",
                         id_col: str = "doc_id") -> DataFrame:
    """N-gram-overlap decontamination — the published-training-run rule
    (13-gram overlap) rather than whole-document fingerprint equality:
    drop every corpus doc sharing at least one word n-gram with the
    benchmark set, catching partial quotes and embedded eval items that
    `decontaminate`'s exact-fingerprint match misses.

    Scale shape: benchmark shingles are DISTINCT and BROADCAST (eval sets
    are small by definition — thousands of items against a 100 TB corpus);
    the corpus side explodes shingles map-side into a broadcast left-semi
    join, so finding contaminated ids never shuffles corpus data. Only the
    tiny contaminated-id set is distinct'd (one shuffle of matched ids)
    before the final left-anti join back to whole docs.

    Docs shorter than `n` tokens fall back to a whole-text shingle on both
    sides (same rule as `dedup.shingle_array`), so a short eval item still
    contaminates its verbatim copies."""
    from felixzh_flink_spark.operators.dedup import shingle_array

    bench_sh = (benchmark
                .select(F.explode(shingle_array(text_col, n)).alias("sh"))
                .distinct())
    contaminated = (
        corpus.select(F.col(id_col),
                      F.explode(shingle_array(text_col, n)).alias("sh"))
        .join(F.broadcast(bench_sh), "sh", "left_semi")
        .select(id_col).distinct()
    )
    return corpus.join(contaminated, id_col, "left_anti")


def tf_idf_top_terms(df: DataFrame, k: int = 3, text_col: str = "text",
                     id_col: str = "doc_id",
                     round_digits: int = 9) -> DataFrame:
    """Per-document top-k characteristic terms by TF-IDF:
    ``score = (n_td / len_d) · ln(N / df_t)`` over lower-cased whitespace
    tokens. Returns (doc_id, term, tfidf) — k rows per doc, score desc,
    ties broken by term asc.

    Scale shape: two partial-aggregated shuffles (per-(doc,term) counts;
    per-term doc frequencies), one join on the term key, one per-doc
    window for the top-k. N is a scalar broadcast. Everything is JVM
    expressions; shuffle volume ∝ distinct (doc, term) pairs, never raw
    token occurrences past the first partial aggregate.

    Determinism: the emitted score is rounded to `round_digits` — ln is
    within-1-ulp across engines (Java Math.log vs libm), so raw doubles
    could differ in the last bit; ranking uses the unrounded score, where
    a cross-engine flip would need two DISTINCT (tf, df) pairs landing
    within one ulp of each other. Exact-tie pairs (equal tf and df) get
    bit-equal scores in every engine and fall to the term tie-break."""
    toks = doc_terms(df, text_col, id_col)
    tf = toks.groupBy(id_col, "term").agg(F.count("*").alias("n_td"))
    df_t = tf.groupBy("term").agg(F.count("*").alias("df_t"))
    n_docs = df.select(F.countDistinct(id_col).alias("n_docs"))
    idf = F.log(F.col("n_docs").cast("double") / F.col("df_t").cast("double"))
    # Ranking key is n_td · idf, NOT the final score: len_d is a positive
    # per-doc constant, so dividing by it cannot change the within-doc
    # order — and the undivided product is bit-stable across engines
    # while (n_td/len_d)·idf could rank-flip on a division ulp. Doc
    # length comes from a window SUM over the same partitioning the
    # ranking needs, so both ride ONE exchange (the earlier groupBy form
    # cost two extra shuffles of the tf table).
    scored = (
        tf.join(df_t, "term").crossJoin(F.broadcast(n_docs))
        .withColumn("_rank_key", F.col("n_td").cast("double") * idf)
    )
    return _tfidf_rank_tail(scored, id_col, k, round_digits)


def _tfidf_rank_tail(scored: DataFrame, id_col: str, k: int,
                     round_digits: int) -> DataFrame:
    """Shared top-k tail of the inline and cached-stats TF-IDF paths:
    per-doc length + ranking ride ONE window exchange; the emitted
    score divides the bit-stable rank key by len_d and rounds."""
    w = Window.partitionBy(id_col)
    wo = w.orderBy(F.desc("_rank_key"), F.asc("term"))
    return (
        scored
        .withColumn("len_d", F.sum("n_td").over(w))
        .withColumn("_rn", F.row_number().over(wo))
        .filter(F.col("_rn") <= k)
        .select(
            id_col, "term",
            F.round(F.col("_rank_key") / F.col("len_d").cast("double"),
                    round_digits).alias("tfidf"))
    )


def write_tfidf_stats(df: DataFrame, path: str, text_col: str = "text",
                      id_col: str = "doc_id") -> None:
    """Materialize the CORPUS-LEVEL statistics TF-IDF scoring needs —
    the ingest-artifact treatment `bm25_corpus_stats` already gives
    BM25 (df/idf change only when the corpus does, so a real
    deployment computes them at ingest, never per query): the full
    (term, df_t) document-frequency table as parquet under `path/df`
    and the corpus document count under `path/meta`. Unlike BM25's
    per-query-term scalars, TF-IDF needs df for EVERY term (the top-k
    ranks the whole vocabulary), so the artifact is a table, not a
    literal — but vocabulary grows ~O(corpus^0.5) (Heaps' law), so at
    100 TB it is GBs against the corpus' TBs and serves as a broadcast
    or a cheap narrow scan."""
    toks = doc_terms(df, text_col, id_col)
    tf = toks.groupBy(id_col, "term").agg(F.count("*").alias("n_td"))
    df_t = tf.groupBy("term").agg(F.count("*").alias("df_t"))
    n = df.select(F.countDistinct(id_col).alias("n_docs"))
    df_t.write.mode("overwrite").parquet(path + "/df")
    n.write.mode("overwrite").parquet(path + "/meta")


def _tfidf_stats_base(spark, path: str) -> str:
    """Resolve the CURRENT stats generation: `append_tfidf_stats`
    commits each merge as a fresh `gen=<n>` directory behind an
    atomically-flipped `_CURRENT` pointer file; a plain
    `write_tfidf_stats` layout (no pointer) resolves to the path
    itself. One `exists` + one tiny read — never a data scan."""
    from felixzh_flink_spark.functions.stateio import state_fs

    fs = state_fs(spark, path)
    cur = fs.join(path, "_CURRENT")
    if fs.exists(cur):
        return fs.join(path, f"gen={fs.read_text(cur).strip()}")
    return path


def append_tfidf_stats(delta_df: DataFrame, path: str,
                       text_col: str = "text",
                       id_col: str = "doc_id") -> None:
    """Additively merge a DELTA of NEW documents into a committed
    `write_tfidf_stats` artifact without re-scanning the corpus — the
    lexical-stats face of `append_rp_index` (and the batch face of the
    streaming `bm25_stats_sink`): document frequency is ADDITIVE under
    disjoint corpus union (df_t counts the docs containing a term; doc
    counts add), so maintenance tokenizes ONLY the delta, merges the
    (term, df_t) tables with one sum, and bumps n_docs. The rewrite is
    O(vocabulary) — GBs against the corpus' TBs at 100 TB (Heaps'
    law), the same ingest-grade cost as the original build's df table.
    Precondition: delta doc ids are new (pure append) — re-ingesting
    an existing doc double-counts its terms; for re-ingests rebuild
    with `write_tfidf_stats` (df stats are corpus-global aggregates;
    there is no per-doc slice to tombstone).

    Crash-safe generation commit (the discipline of the maintained
    indexes' `compact_rp_index`/`compact_ivf_index`: a fresh generation
    first, the sweep after): the merged stats land COMPLETE in a fresh
    `gen=<n+1>` directory (df + meta), then the `_CURRENT` pointer
    flips atomically (`replace_text` — tmp file + overwrite-rename); readers
    (`tf_idf_top_terms_cached` via `_tfidf_stats_base`) resolve the
    pointer, so a crash at ANY step serves either the old complete
    generation or the new complete one — never a torn df/meta pair.
    Superseded generations are swept after the flip; a crash mid-sweep
    leaves unreferenced directories the next append removes."""
    from felixzh_flink_spark.functions.stateio import state_fs

    spark = delta_df.sparkSession
    fs = state_fs(spark, path)
    base = _tfidf_stats_base(spark, path)
    old_df = spark.read.parquet(base + "/df")
    old_n = int(spark.read.parquet(base + "/meta").first()["n_docs"])

    toks = doc_terms(delta_df, text_col, id_col)
    tf = toks.groupBy(id_col, "term").agg(F.count("*").alias("n_td"))
    delta_dft = tf.groupBy("term").agg(F.count("*").alias("df_t"))
    delta_n = int(delta_df.select(
        F.countDistinct(id_col).alias("n")).first()["n"])

    gens = [int(c.split("=", 1)[1]) for c in fs.listdir(path)
            if c.startswith("gen=")]
    nxt = (max(gens) + 1) if gens else 1
    gen_dir = fs.join(path, f"gen={nxt}")
    merged = (old_df.unionByName(delta_dft).groupBy("term")
              .agg(F.sum("df_t").cast("long").alias("df_t")))
    merged.write.mode("overwrite").parquet(gen_dir + "/df")
    spark.range(1).select(
        F.lit(old_n + delta_n).cast("long").alias("n_docs")
    ).write.mode("overwrite").parquet(gen_dir + "/meta")
    fs.replace_text(fs.join(path, "_CURRENT"), str(nxt))
    for g in gens:                      # sweep superseded generations
        fs.delete(fs.join(path, f"gen={g}"))
    if base == path:                    # legacy plain layout upgraded
        fs.delete(fs.join(path, "df"))
        fs.delete(fs.join(path, "meta"))


def tf_idf_top_terms_cached(df: DataFrame, stats_path: str, k: int = 3,
                            text_col: str = "text",
                            id_col: str = "doc_id",
                            round_digits: int = 9) -> DataFrame:
    """`tf_idf_top_terms` served against MATERIALIZED corpus stats
    (`write_tfidf_stats`): query time scans the corpus ONCE (tokenize →
    per-(doc,term) counts), broadcast-joins the precomputed df table,
    and ranks — the df aggregation shuffle, the n_docs corpus scan, and
    the term-key shuffle join of the inline path all disappear into the
    ingest artifact. Bit-identical to the inline operator by
    construction: same IEEE idf division/log on the same integers, same
    rank key, same window tail (`_tfidf_rank_tail`), and unit-pinned
    against it."""
    spark = df.sparkSession
    base = _tfidf_stats_base(spark, stats_path)
    stats = spark.read.parquet(base + "/df")
    n_docs = int(spark.read.parquet(base + "/meta")
                 .first()["n_docs"])
    toks = doc_terms(df, text_col, id_col)
    tf = toks.groupBy(id_col, "term").agg(F.count("*").alias("n_td"))
    idf = F.log(F.lit(n_docs).cast("double") / F.col("df_t").cast("double"))
    scored = (tf.join(F.broadcast(stats), "term")
              .withColumn("_rank_key", F.col("n_td").cast("double") * idf)
              .drop("df_t"))
    return _tfidf_rank_tail(scored, id_col, k, round_digits)


def _bm25_sql(df: DataFrame, terms: list[str], text_col: str,
              id_col: str | None = None, bags: list[list[int]] | None = None,
              qids: list[int] | None = None, k: int = 10, k1: float = 1.2,
              b: float = 0.75, n_docs: int | None = None, quantize: int = 9,
              stats: tuple[int, list[int]] | None = None) -> DataFrame:
    """The one BM25 pipeline, built as SQL text and parsed by ONE
    `spark.sql` call (a Column tree of the same plan costs ~3k py4j
    round trips to build): tokenize once, keep the union-term hits,
    count each term in the hits, then score with a fixed-order chain.

    `terms` are the tf columns (`tf0`…, and the order of `stats`' df
    list); each bag lists indices into them. `bags=None` returns the
    corpus-stats row (sdl, df0…) and needs no `id_col`; one bag with
    `qids=None` is the single-query filter + TakeOrdered; otherwise the
    batched posexplode_outer + keyed-window top-k.

    The oracles replay the score bit for bit, so its arithmetic stays
    IEEE double in a fixed order: every double is a `D` literal (a bare
    `1.2` would parse as DECIMAL), the term chain is left-associative,
    and `k1 + 1`, `1 - b` are folded in Python. Terms are escaped
    literals and identifiers are backquoted, both with `{`/`}` doubled
    for the DataFrame-placeholder formatting.

    Tokens come from their own projection (`_toks`, referenced twice,
    so Catalyst keeps it un-collapsed): the row is split ONCE for both
    `dl` and the hits. Counting terms in the hits only, not the whole
    document, keeps |union| per-term walks off the full token array
    (SCALE.md, batched BM25 row); counts are the same either way."""
    def fmt(s: str) -> str:
        return s.replace("{", "{{").replace("}", "}}")

    def ident(name: str) -> str:
        return fmt("`" + name.replace("`", "``") + "`")

    def dbl(v: float) -> str:
        return f"{float(v)!r}D"

    lits = [fmt(_sql_str(t)) for t in terms]
    idc = ident(id_col) if id_col else ""
    key = f"{idc}, " if idc else ""
    tfs = "".join(f", size(filter(_hits, x -> x = {lit})) AS tf{i}"
                  for i, lit in enumerate(lits))
    sql = f"""WITH per AS (
  SELECT {key}dl{tfs}
  FROM (SELECT {key}size(_toks) AS dl,
               filter(_toks, x -> array_contains(array({", ".join(lits)}), x))
                 AS _hits
        FROM (SELECT {key}filter(split(lower(trim(coalesce(
                       {ident(text_col)}, ''))), {fmt(_sql_str(TOKEN_RE))}),
                       x -> x != '') AS _toks
              FROM {{df}})))"""
    st = ("SELECT SUM(dl) AS sdl"
          + "".join(f", SUM(CAST(tf{i} > 0 AS BIGINT)) AS df{i}"
                    for i in range(len(terms))))
    if bags is None:
        return df.sparkSession.sql(f"{sql}\n{st} FROM per", df=df)
    if n_docs is None:
        n_docs = df.count()
    if stats is None:
        sql += f", st AS ({st} FROM per)"
        hint, src = "/*+ BROADCAST(st) */ ", "per CROSS JOIN st"
        sdl, dfs = "sdl", [f"df{i}" for i in range(len(terms))]
    else:
        hint, src = "", "per"
        sdl, dfs = str(int(stats[0])), [str(int(d)) for d in stats[1]]
    # try_divide: an all-blank (or empty) corpus has avgdl = 0 (or N =
    # 0), which ANSI division raises on; NULL scores match nothing there
    norm = (f"{dbl(k1)} * ({dbl(1.0 - b)} + {dbl(b)} * try_divide(CAST(dl"
            f" AS DOUBLE), try_divide(CAST({sdl} AS DOUBLE), {dbl(n_docs)})))")
    grid = dbl(10.0 ** quantize)

    def contrib(i: int) -> str:
        df_d, tf_d = f"CAST({dfs[i]} AS DOUBLE)", f"CAST(tf{i} AS DOUBLE)"
        idf = (f"ln({dbl(1.0)} + ({dbl(n_docs)} - {df_d} + {dbl(0.5)})"
               f" / ({df_d} + {dbl(0.5)}))")
        return f"({idf} * ({tf_d} * {dbl(k1 + 1.0)}) / ({tf_d} + {norm}))"

    scores = [f"FLOOR(({' + '.join(contrib(i) for i in bag)}) * {grid}"
              f" + {dbl(0.5)}) / {grid}" for bag in bags]
    hits = [" OR ".join(f"tf{i} > 0" for i in bag) for bag in bags]
    if qids is None:
        return df.sparkSession.sql(f"""{sql}
SELECT {hint}{idc}, {scores[0]} AS bm25 FROM {src} WHERE {hits[0]}
ORDER BY bm25 DESC, {idc} LIMIT {int(k)}""", df=df)
    # posexplode_OUTER: for this CreateArray input (never null,
    # never empty — one slot per query) the outer form emits identical
    # rows, but the inner form lets InferFiltersFromGenerate push a
    # size(_scores) > 0 guard below the projections — and with the
    # alias substituted, that filter re-evaluated the ENTIRE tokenize +
    # tf + score pipeline per row INSIDE the scan's Filter, below the
    # spread repartition (~70% of the query's wall).
    return df.sparkSession.sql(f"""{sql}
SELECT query_id, {idc}, bm25 FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY bm25 DESC, {idc}) AS _rn
  FROM (SELECT CAST(element_at(array({", ".join(str(int(q)) for q in qids)}),
                               _qi + 1) AS BIGINT) AS query_id, {idc}, bm25
        FROM (SELECT {idc}, posexplode_outer(_scores) AS (_qi, bm25), _qhits
              FROM (SELECT {hint}{idc}, array({", ".join(scores)}) AS _scores,
                           array({", ".join(hits)}) AS _qhits
                    FROM {src}))
        WHERE element_at(_qhits, _qi + 1)))
WHERE _rn <= {int(k)}""", df=df)


def bm25_corpus_stats(df: DataFrame, query_terms: list[str],
                      text_col: str = "text") -> tuple[int, list[int]]:
    """(Σ dl, [df_t per query term]) — the EXACT-INTEGER corpus
    statistics BM25 scoring needs. One partial-aggregated job; a real
    deployment computes these at ingest (df/avgdl change only when the
    corpus does), so callers cache the tuple per corpus and pass it to
    `bm25_topk(stats=...)` — the query then plans and runs as a single
    scan. Integers are engine-exact, so literal-embedding them cannot
    perturb oracle parity."""
    terms = list(query_terms)
    row = _bm25_sql(df, terms, text_col).first()
    return int(row["sdl"]), [int(row[f"df{i}"]) for i in range(len(terms))]


def bm25_topk(df: DataFrame, query_terms: list[str], k: int = 10,
              k1: float = 1.2, b: float = 0.75, text_col: str = "text",
              id_col: str = "doc_id", n_docs: int | None = None,
              quantize: int = 9,
              stats: tuple[int, list[int]] | None = None) -> DataFrame:
    """Okapi BM25 retrieval: top-k documents for a bag of query terms —
    the classic lexical ranker every retrieval/RAG corpus pipeline needs
    next to the vector paths (rp/IVF/PQ). Scoring follows Robertson &
    Zaragoza 2009:  score(d) = sum_t idf_t * tf_td*(k1+1) /
    (tf_td + k1*(1 - b + b*dl_d/avgdl)),  idf_t = ln(1 + (N - df_t +
    0.5)/(df_t + 0.5)).

    Scale shape — ZERO wide shuffles: per-row expressions compute dl
    and the per-query-term tf from one tokenization (no explode —
    query terms are a literal handful, so tf_t is
    `size(filter(hits, = t))` per row); corpus statistics (df_t, Σdl)
    are ingest artifacts — pass the cached `bm25_corpus_stats` tuple
    via `stats` and the whole query is ONE scan + distributed
    TakeOrdered (the stats ride as exact-integer literals). Without
    `stats` the query stays self-contained: the same statistics come
    from one partial-aggregated subtree and ride a broadcast (two
    corpus scans total). At 100 TB this is scan-bound like the
    projection pre-ranker.

    Determinism: per-row tf/dl are integers; all double arithmetic is
    fixed-order (the per-document term sum is a LEFT-ASSOCIATIVE chain
    over the literal query terms, never a row aggregate); ln() is
    within-1-ulp across engines (same contract as tf_idf_top_terms), so
    the emitted score is grid-quantized (pure-IEEE floor form) and the
    RANKING uses the quantized value with an id tie-break — a
    cross-engine flip would need two docs within an ulp of the same
    grid boundary. N rides the parquet footer when the caller passes
    `n_docs` (no count() job)."""
    terms = list(query_terms)
    return _bm25_sql(df, terms, text_col, id_col, [list(range(len(terms)))],
                     k=k, k1=k1, b=b, n_docs=n_docs, quantize=quantize,
                     stats=stats)


def bm25_topk_multi(df: DataFrame, queries: dict[int, list[str]],
                    k: int = 10, k1: float = 1.2, b: float = 0.75,
                    text_col: str = "text", id_col: str = "doc_id",
                    n_docs: int | None = None, quantize: int = 9,
                    stats: tuple[int, list[int]] | None = None) -> DataFrame:
    """BATCHED Okapi BM25: top-k documents for N query term-bags in ONE
    corpus scan — the lexical twin of `rp_rerank_topk_multi_from_index`
    (N queries amortize the tokenization and the scan; at 100 TB the
    scan IS the query cost, so batching divides it by N). Per row, tf
    is computed once per term in the UNION of all bags (shared terms
    are shared work); each query's score is the same left-associative
    fixed-order chain over ITS terms as single-query `bm25_topk`, so
    per-query results are bit-equal to N single-query runs — the unit
    pins that, and the oracle replays every query independently.
    Scores posexplode to (query_id, doc, bm25) and one keyed window
    takes each query's top k on the quantized score with id tie-break
    (Spark 4's window group-limit keeps the shuffle at
    tasks × queries × k rows — the proven multi-query trade).

    `stats` is the cached `bm25_corpus_stats(df, union_terms)` tuple
    over the SORTED union of all bags' terms (the ingest artifact —
    with it the whole batch is one scan + one small keyed window).
    Returns (query_id, doc_id, bm25), per-query top-k."""
    qids = sorted(queries)
    terms = sorted({t for q in qids for t in queries[q]})
    tidx = {t: i for i, t in enumerate(terms)}
    return _bm25_sql(df, terms, text_col, id_col,
                     [[tidx[t] for t in queries[q]] for q in qids], qids,
                     k=k, k1=k1, b=b, n_docs=n_docs, quantize=quantize,
                     stats=stats)


def bm25_stats_sink(state_dir: str, text_col: str = "text",
                    n_buckets: int = 8):
    """foreachBatch writer maintaining BM25 corpus statistics
    CONTINUOUSLY — the streaming twin of `bm25_corpus_stats` (VERDICT
    r9 item 7, extending U4 batch/stream unification to the retrieval
    family): each micro-batch folds into an ADDITIVE state delta —
    per-term document frequencies (distinct docs containing the term,
    the df_t every idf needs) plus one totals row (Σdl and doc count
    under the reserved empty-string term, which the tokenizer can never
    emit) — and ADDS into the stored rows, bucketed by term hash.
    Layout/commit/replay-guard are the changelog library's crash-atomic
    bucketed machinery; the epoch skip is essential because a replayed
    ADD would double-count (the `cms_sketch_sink` contract).

    Tokenization is expression-for-expression `bm25_corpus_stats`'s
    (lower → TOKEN_RE split → drop empties), so streamed statistics are
    INTEGER-EXACT equal to a one-shot batch pass over the union of all
    micro-batches — `bm25_topk(stats=bm25_stats_read(...))` then serves
    bit-identically to the batch path (the parity e2e pins this).
    State size is O(vocabulary), never O(corpus); at 100 TB the
    per-batch delta is one partial-aggregated shuffle of the BATCH."""
    from felixzh_flink_spark.functions.changelog import _merge_state_sink

    def delta_fn(batch_df: DataFrame) -> DataFrame:
        t = F.trim(F.coalesce(F.col(text_col), F.lit("")))
        toks = F.filter(F.split(F.lower(t), TOKEN_RE),
                        lambda x: x != F.lit(""))
        # one explode carries both parts of the delta: each doc's distinct
        # terms (df) plus the reserved '' element (its dl and the doc
        # count), so the batch is tokenized and aggregated once
        tot = F.col("term") == ""
        return (batch_df
                .select(F.size(toks).alias("dl"), F.explode(F.concat(
                    F.array_distinct(toks), F.array(F.lit("")))).alias("term"))
                .groupBy("term")
                .agg(F.count(F.when(~tot, 1)).alias("df"),
                     F.coalesce(F.sum(F.when(tot, F.col("dl"))).cast("bigint"),
                                F.lit(0)).alias("sdl"),
                     F.count(F.when(tot, 1)).alias("ndocs")))

    def merge(old: DataFrame, delta: DataFrame) -> DataFrame:
        return delta.unionByName(old).groupBy("term").agg(
            F.sum("df").alias("df"), F.sum("sdl").alias("sdl"),
            F.sum("ndocs").alias("ndocs"))

    return _merge_state_sink(state_dir, delta_fn, ["term"], merge, n_buckets)


def bm25_stats_read(spark, state_dir: str,
                    query_terms: list[str]) -> tuple[tuple[int, list[int]],
                                                     int]:
    """Read back continuously maintained BM25 statistics for a query:
    ((Σdl, [df_t per term]), n_docs) — the first element is exactly the
    tuple `bm25_topk(stats=...)` takes, the second its `n_docs`. Only
    the totals row and the |query| term rows are fetched (a handful of
    rows out of O(vocabulary) state — point lookups, never a scan of
    raw documents). A zero-row batch commits nothing, so before the
    first non-empty batch there is no state and this raises
    FileNotFoundError, as reading the cms and hll sketch state does."""
    from felixzh_flink_spark.functions.changelog import read_upsert_state

    st = read_upsert_state(spark, state_dir)
    rows = st.filter(F.col("term").isin([""] + list(query_terms))).collect()
    by_term = {r["term"]: r for r in rows}
    tot = by_term.get("")
    sdl = int(tot["sdl"]) if tot is not None else 0
    n_docs = int(tot["ndocs"]) if tot is not None else 0
    dfs = [int(by_term[t]["df"]) if t in by_term else 0
           for t in query_terms]
    return (sdl, dfs), n_docs


def punct_ratio(text: Column | str, alias: str = "punct_ratio") -> Column:
    """Punctuation chars / total chars (0 for empty docs)."""
    c = F.col(text) if isinstance(text, str) else text
    n_punct = F.size(F.regexp_extract_all(c, F.lit(r"[^\w\s]"), F.lit(0)))
    return F.when(F.length(c) == 0, F.lit(0.0)).otherwise(
        n_punct.cast("double") / F.length(c).cast("double")
    ).alias(alias)


def stopword_ratio(text: Column | str, lang: str = "en", alias: str = "stopword_ratio") -> Column:
    """Stopword tokens / total tokens for one language's marker set."""
    c = F.col(text) if isinstance(text, str) else text
    markers = LANG_MARKERS[lang]
    pattern = r"\b(" + "|".join(markers) + r")\b"
    n_stop = F.size(F.regexp_extract_all(F.lower(c), F.lit(pattern), F.lit(0)))
    n_tok = token_count(c, alias="_")
    # strip the alias wrapper from token_count by rebuilding the expression
    t = F.trim(c)
    n_tok = F.when(F.length(t) == 0, F.lit(0)).otherwise(F.size(F.split(t, TOKEN_RE)))
    return F.when(n_tok == 0, F.lit(0.0)).otherwise(
        n_stop.cast("double") / n_tok.cast("double")
    ).alias(alias)


def quality_score(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-document quality features: char length, token count, mean token
    length, punctuation ratio, English-stopword ratio, and a composite score.
    All ratios are deterministic arithmetic → oracle-checkable."""
    c = F.col(text_col)
    t = F.trim(c)
    n_tok = F.when(F.length(t) == 0, F.lit(0)).otherwise(F.size(F.split(t, TOKEN_RE)))
    out = df.select(
        "doc_id",
        F.length(c).cast("bigint").alias("n_chars_calc"),
        n_tok.cast("bigint").alias("n_tokens"),
        F.when(n_tok == 0, F.lit(0.0))
        .otherwise(F.length(t).cast("double") / n_tok.cast("double"))
        .alias("mean_token_len"),
        punct_ratio(c),
        stopword_ratio(c, "en"),
    )
    return out.withColumn(
        "quality",
        (
            F.least(F.col("n_tokens").cast("double") / 100.0, F.lit(1.0)) * 0.5
            + (1.0 - F.least(F.col("punct_ratio") * 5.0, F.lit(1.0))) * 0.3
            + F.least(F.col("stopword_ratio") * 4.0, F.lit(1.0)) * 0.2
        ),
    )


#: unicode block per script — literal char-class ranges so the identical
#: pattern compiles under both Java regex (Spark) and RE2 (DuckDB)
SCRIPT_RANGES = {
    "latin": "[A-Za-zÀ-ɏ]",
    "cyrillic": "[Ѐ-ӿ]",
    "cjk": "[一-鿿぀-ヿ]",
    "arabic": "[؀-ۿ]",
}


def script_profile(df: DataFrame, text_col: str = "text",
                   id_col: str = "doc_id") -> DataFrame:
    """Per-document writing-script profile: counts of characters in the
    Latin / Cyrillic / CJK(+kana) / Arabic unicode blocks plus the
    dominant script ('none' when no script character at all; ties break
    by the fixed script order) — the cheap complement to `lang_id` that
    catches what stopword heuristics can't (a Russian doc has ZERO
    English marker hits but thousands of Cyrillic chars; mixed-script
    spam shows up as no dominant majority). Scan-local regexp counts,
    zero shuffles."""
    c = F.col(text_col)
    counts = {name: F.size(F.regexp_extract_all(c, F.lit(rng), F.lit(0)))
              for name, rng in SCRIPT_RANGES.items()}
    best = F.greatest(*counts.values())
    dom = F.when(best == 0, F.lit("none"))
    for name in SCRIPT_RANGES:
        dom = dom.when(counts[name] == best, F.lit(name))
    return df.select(
        F.col(id_col),
        *[v.cast("bigint").alias(f"n_{k}") for k, v in counts.items()],
        dom.alias("dominant_script"),
    )


GOPHER_STOPWORDS = ["the", "be", "to", "of", "and", "that", "have", "with"]


def gopher_quality_flags(df: DataFrame, text_col: str = "text",
                         id_col: str = "doc_id") -> DataFrame:
    """The published Gopher quality rules (Rae et al. 2021, §A1.1 — the
    de-facto standard web-corpus gate, reused by MassiveText / RefinedWeb
    / Dolma) as per-rule booleans plus the conjunctive keep flag:

    - wc_ok:        50 ≤ word count ≤ 100,000
    - mwl_ok:       3 ≤ mean word length ≤ 10
    - symbol_ok:    (# + …) symbols per word ≤ 0.1
    - bullet_ok:    ≤ 90% of lines start with a bullet
    - ellipsis_ok:  ≤ 30% of lines end with an ellipsis
    - alpha_ok:     ≥ 80% of words contain an alphabetic character
    - stop_ok:      ≥ 2 distinct of the 8 Gopher stop words present

    Everything is scan-local arithmetic over one tokenization — zero
    shuffles, zero Python; emitting the per-rule booleans (not just keep)
    is what makes rejection reasons aggregable downstream ("how much mass
    did each rule cut?"), the question a 100 TB curation run always asks.
    Mean word length uses total-non-space-chars / words — identical to
    summing per-word lengths, but computable without a second pass.

    `gopher_flag_cols` exposes the same rule columns for callers that
    want the flags IN PLACE on their frame (r12): joining this
    projection back onto its own input re-evaluates the upstream plan
    on both join sides — for crawl_to_corpus that meant the whole WARC
    Arrow decode chain ran twice.
    """
    flags = gopher_flag_cols(text_col)
    keep = None
    for f in flags.values():
        keep = f if keep is None else (keep & f)
    return df.select(
        F.col(id_col),
        *[v.alias(k) for k, v in flags.items()],
        keep.alias("keep"),
    )


def gopher_flag_cols(text_col: str = "text") -> "dict[str, Column]":
    """The Gopher rule booleans as plain columns over `text_col` — the
    expression bodies `gopher_quality_flags` projects (see its
    docstring for the rules and provenance)."""
    c = F.col(text_col)
    t = F.trim(c)
    toks = F.filter(F.split(t, TOKEN_RE), lambda x: x != F.lit(""))
    n = F.size(toks)
    # ANSI-safe denominator: every ratio is gated on n > 0 anyway, so the
    # placeholder 1.0 never reaches a flag — it only keeps the division
    # from raising DIVIDE_BY_ZERO on empty docs under ANSI mode
    nd = F.greatest(n.cast("double"), F.lit(1.0))
    lines = F.split(c, r"\n")
    n_lines = F.greatest(F.size(lines).cast("double"), F.lit(1.0))
    mwl = F.length(F.regexp_replace(t, r"\s+", "")).cast("double") / nd
    n_sym = (F.size(F.regexp_extract_all(c, F.lit(r"#"), F.lit(0)))
             + F.size(F.regexp_extract_all(c, F.lit(r"\.\.\.|…"), F.lit(0))))
    n_bullet = F.size(F.filter(
        lines, lambda l: F.trim(l).rlike(r"^[-*•]")))
    n_ell = F.size(F.filter(
        lines, lambda l: F.trim(l).rlike(r"(\.\.\.|…)$")))
    n_alpha = F.size(F.filter(toks, lambda x: x.rlike(r"[A-Za-z]")))
    low = F.array_distinct(F.filter(
        F.transform(toks, lambda x: F.lower(x)),
        lambda x: x.isin(*GOPHER_STOPWORDS)))
    return {
        "wc_ok": (n >= 50) & (n <= 100_000),
        "mwl_ok": (n > 0) & (mwl >= 3.0) & (mwl <= 10.0),
        "symbol_ok": (n > 0) & (n_sym.cast("double") / nd <= 0.1),
        "bullet_ok": n_bullet.cast("double") / n_lines <= 0.9,
        "ellipsis_ok": n_ell.cast("double") / n_lines <= 0.3,
        "alpha_ok": (n > 0) & (n_alpha.cast("double") / nd >= 0.8),
        "stop_ok": F.size(low) >= 2,
    }


def lang_scores(text: Column | str) -> list[Column]:
    """Per-language marker-hit counts (one column per language)."""
    c = F.col(text) if isinstance(text, str) else text
    cols = []
    for lang, markers in LANG_MARKERS.items():
        pattern = r"\b(" + "|".join(markers) + r")\b"
        cols.append(
            F.size(F.regexp_extract_all(F.lower(c), F.lit(pattern), F.lit(0)))
            .alias(f"score_{lang}")
        )
    return cols


def lang_id(df: DataFrame, text_col: str = "text", alias: str = "lang_pred") -> DataFrame:
    """Heuristic language ID: argmax of marker-word hit counts, 'und' when no
    marker hits at all. Deterministic tie-break by language-code order."""
    scored = df.select("*", *lang_scores(text_col))
    langs = list(LANG_MARKERS)
    best = F.greatest(*[F.col(f"score_{lg}") for lg in langs])
    pred = F.when(best == 0, F.lit("und"))
    for lg in sorted(langs):
        pred = pred.when(F.col(f"score_{lg}") == best, F.lit(lg))
    return scored.withColumn(alias, pred)


def fingerprint_md5(df: DataFrame, text_col: str = "text", alias: str = "fingerprint") -> DataFrame:
    """Document fingerprint: md5 of whitespace-normalized lower-cased text.
    Used by exact dedup; md5 is identical across Spark and DuckDB → oracle."""
    norm = F.regexp_replace(F.lower(F.trim(F.col(text_col))), r"\s+", " ")
    return df.withColumn(alias, F.md5(norm))


def repetition_metrics(df: DataFrame, text_col: str = "text",
                       id_col: str = "doc_id") -> DataFrame:
    """Gopher-style repetition signals per doc: (id, n_tok, repeated_frac,
    top_token_frac) where repeated_frac = fraction of tokens whose token
    TYPE occurs more than once and top_token_frac = the most frequent
    token's share. High values mark boilerplate/spam (published
    repetition-filter heuristics).

    Linear shape: explode → per-(doc, token) count → per-doc aggregate (one
    shuffle; partial aggregation collapses duplicates before it). The
    tempting pure-array form (`transform(distinct, t -> size(filter(...)))`)
    is O(tokens × types) per doc — quadratic on long docs — so it is
    deliberately not used. Empty docs are dropped (no tokens to measure)."""
    t = F.trim(F.lower(F.col(text_col)))
    toks = df.filter(F.length(t) > 0).select(
        F.col(id_col).alias("id"), F.explode(F.split(t, TOKEN_RE)).alias("tok"))
    per_tok = toks.groupBy("id", "tok").agg(F.count("*").alias("n"))
    return (
        per_tok.groupBy("id")
        .agg(F.sum("n").alias("n_tok"),
             F.max("n").alias("_top"),
             F.sum(F.when(F.col("n") > 1, F.col("n")).otherwise(F.lit(0)))
             .alias("_rep"))
        .select("id", "n_tok",
                (F.col("_rep").cast("double") / F.col("n_tok")).alias("repeated_frac"),
                (F.col("_top").cast("double") / F.col("n_tok")).alias("top_token_frac"))
    )


def doc_terms(df: DataFrame, text_col: str = "text",
              id_col: str | None = None) -> DataFrame:
    """Lower-cased whitespace terms, one row per occurrence (empty terms
    dropped) — THE tokenizer every term-level operator shares
    (TF-IDF, unigram-LM train AND score): the oracle hashes depend on all
    of them tokenizing identically, so the definition lives once."""
    cols = [F.col(id_col)] if id_col else []
    return df.select(
        *cols,
        F.explode(F.split(F.lower(F.trim(F.col(text_col))), TOKEN_RE))
        .alias("term"),
    ).filter(F.col("term") != "")


def train_unigram_lm(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Train a unigram language model over the corpus: (term, logp) with
    logp = ln(count / total_tokens). The CCNet-style quality signal's model
    half — in production you train on a trusted reference corpus (e.g.
    Wikipedia) and score the crawl with it.

    Scale shape: one partial-aggregated shuffle on the term (output rows =
    vocabulary size, not token occurrences); the total is a scalar
    broadcast. Pure JVM."""
    toks = doc_terms(df, text_col)
    counts = toks.groupBy("term").agg(F.count("*").alias("c"))
    total = counts.agg(F.sum("c").alias("n_total"))
    return (counts.crossJoin(F.broadcast(total))
            .select("term",
                    F.log(F.col("c").cast("double") /
                          F.col("n_total").cast("double")).alias("logp")))


def unigram_nll_score(df: DataFrame, lm: DataFrame, text_col: str = "text",
                      id_col: str = "doc_id", oov_logp: float = -20.0,
                      round_digits: int = 9) -> DataFrame:
    """Score documents by mean negative log-likelihood under a unigram LM
    (perplexity = exp(nll)): the CCNet quality-bucketing signal — docs far
    from the reference distribution (high nll) are tail-quality. Returns
    (id, n_tokens, nll).

    Out-of-vocabulary tokens get `oov_logp` (a floor, not smoothing — the
    LM side stays renormalization-free). Per-occurrence contributions are
    summed via the decimal exact-sum path so the result is fold-order-free;
    the final mean is rounded (ln is within-1-ulp across engines).

    Scale shape: occurrences flow straight through the (map-side) broadcast
    LM join into ONE partial-aggregated per-doc shuffle — a per-(doc,term)
    pre-count would add a full extra exchange of the occurrence stream to
    save only the per-doc combine, a bad trade (measured; the decimal sum
    of n identical terms is exactly n × decimal(logp) either way, but the
    summation form is part of the oracle contract — keep both sides
    per-occurrence). For web-scale vocabularies drop the broadcast hint
    and let the term join shuffle."""
    from felixzh_flink_spark.operators.aggregations import exact_sum

    toks = doc_terms(df, text_col, id_col)
    scored = (toks.join(F.broadcast(lm), "term", "left")
              .withColumn("_contrib",
                          -F.coalesce(F.col("logp"), F.lit(oov_logp))))
    return (scored.groupBy(id_col)
            .agg(F.count("*").alias("n_tokens"),
                 exact_sum("_contrib", scale=15, alias="_nll_sum"))
            .select(F.col(id_col), F.col("n_tokens"),
                    F.round(F.col("_nll_sum") / F.col("n_tokens").cast("double"),
                            round_digits).alias("nll")))


def remove_boilerplate_blocks(df: DataFrame, text_col: str = "text",
                              id_col: str = "doc_id", block_tokens: int = 3,
                              min_docs: int = 3) -> DataFrame:
    """Corpus-wide boilerplate removal, C4-style: any token block (the
    line/paragraph analog for corpora without layout) appearing in at
    least `min_docs` DISTINCT documents is navigation/footer/licence
    boilerplate and is cut from EVERY document; documents are reassembled
    from their surviving blocks in order, and docs that were pure
    boilerplate disappear.

    Blocks are non-overlapping `block_tokens`-token windows of the
    whitespace-normalized text (final partial block kept) — pure JVM
    (split → sequence → slice → concat_ws → posexplode).

    Scale shape at 100 TB: two shuffles total — one on the block text to
    count distinct containing docs (partial aggregation applies), one on
    the doc id to reassemble. The hot-block set is inherently small (each
    entry repeats ≥ min_docs times, so |hot| ≤ corpus_blocks/min_docs and
    in practice ~thousands) → broadcast anti-join; if a corpus ever blows
    past the broadcast threshold, compose with `operators.bloom` the way
    `decontaminate_bloom` does.

    Returns (id, text, n_blocks_removed).
    """
    norm = F.regexp_replace(F.lower(F.trim(F.col(text_col))), r"\s+", " ")
    toks = F.split(norm, " ")
    n_blocks = F.ceil(F.size(toks) / F.lit(float(block_tokens))).cast("int")
    blocks = F.transform(
        F.sequence(F.lit(0), n_blocks - 1),
        lambda i: F.concat_ws(" ", F.slice(toks, i * block_tokens + 1, block_tokens)),
    )
    # the per-doc block total rides along the explode as a constant column,
    # so no second per-doc aggregation + join is needed for the removed count
    exploded = (df
                .where(F.length(F.trim(F.col(text_col))) > 0)
                .select(F.col(id_col), n_blocks.cast("bigint").alias("_total"),
                        F.posexplode(blocks).alias("idx", "block")))
    hot = (exploded.groupBy("block")
           .agg(F.countDistinct(id_col).alias("_nd"))
           .filter(F.col("_nd") >= min_docs)
           .select("block"))
    kept = exploded.join(F.broadcast(hot), "block", "left_anti")
    return (kept.groupBy(id_col)
            .agg(F.array_join(
                     F.transform(
                         F.array_sort(F.collect_list(F.struct("idx", "block"))),
                         lambda s: s["block"]),
                     " ").alias(text_col),
                 F.count("*").alias("_kept"),
                 F.first("_total").alias("_total"))
            .select(F.col(id_col), F.col(text_col),
                    (F.col("_total") - F.col("_kept")).cast("bigint")
                    .alias("n_blocks_removed")))


def corpus_pipeline(df: DataFrame, benchmark: DataFrame,
                    min_tokens: int = 10, max_punct: float = 0.3,
                    text_col: str = "text",
                    id_col: str = "doc_id") -> DataFrame:
    """End-to-end training-corpus cleaning: quality gate → exact dedup →
    test-set decontamination, composed from the standalone operators.

    1. quality gate: ≥ `min_tokens` whitespace tokens AND punctuation ratio
       < `max_punct` (pure expressions, evaluated in the scan stage);
    2. exact dedup: smallest id per normalized-md5 fingerprint survives
       (keyed window — one shuffle on the fingerprint);
    3. decontamination: fingerprints present in `benchmark` dropped via
       broadcast anti-join.

    The fingerprint is computed ONCE and drives both dedup and decon. At
    100 TB this is one scan + one fingerprint shuffle + one broadcast —
    no stage reads the text twice."""
    from pyspark.sql import Window

    c = F.col(text_col)
    t = F.trim(c)
    n_tok = F.when(F.length(t) == 0, F.lit(0)).otherwise(F.size(F.split(t, TOKEN_RE)))
    gated = df.filter((n_tok >= min_tokens) & (punct_ratio(c) < max_punct))
    fp = fingerprint_md5(gated, text_col)
    w = Window.partitionBy("fingerprint")
    kept = (fp.withColumn("_min_id", F.min(id_col).over(w))
            .filter(F.col(id_col) == F.col("_min_id")).drop("_min_id"))
    bench_fp = fingerprint_md5(benchmark, text_col) \
        .select("fingerprint").distinct()
    return kept.join(F.broadcast(bench_fp), "fingerprint", "left_anti") \
        .drop("fingerprint")


def fingerprint_rolling(df: DataFrame, text_col: str = "text",
                        alias: str = "rolling_fp") -> DataFrame:
    """Polynomial rolling-hash fingerprint over tokens:
    fp = fold(tokens, 0, (acc*31 + (xxhash64(token) mod 2^32)) mod 2^31.
    Order-sensitive (unlike md5-of-all), so near-identical docs with swapped
    token order differ. Modular form keeps every intermediate < 2^37 so the
    fold is ANSI-overflow-safe. xxhash64 is Spark-specific → pytest-verified,
    no SQL oracle (driver records rows-only)."""
    tokens = F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
    fp = F.aggregate(
        tokens,
        F.lit(0).cast("bigint"),
        lambda acc, t: F.pmod(
            acc * F.lit(31).cast("bigint") + F.pmod(F.xxhash64(t), F.lit(2 ** 32).cast("bigint")),
            F.lit(2 ** 31).cast("bigint"),
        ),
    )
    return df.withColumn(alias, fp)


# ------------------------------------------------------------- web extract

def strip_html(html: Column | str, alias: str = "clean_text") -> Column:
    """Extract visible text from an HTML payload — the WET-extraction step
    of a web-crawl pipeline, as pure regexp expressions (no HTML parser in
    the hot path; a DOM parse of 100 TB of crawl is exactly the Python
    stage this engine avoids).

    Pipeline: drop <script>/<style> subtrees (non-greedy, dotall — their
    CONTENT is code, not text), strip remaining tags, decode the five XML
    entities plus &nbsp;, collapse whitespace. Each step is a regexp_replace
    inside codegen; the whole chain is a single scan-local projection.
    `&amp;` decodes LAST so doubly-escaped entities stay escaped once
    (literal `&amp;lt;` → `&lt;`, not `<`) — the standard unescape order.

    Deliberate limits (documented, not bugs): comments/CDATA fall to the
    tag-stripper (their payload survives as text), entity decoding covers
    the named five + nbsp only (numeric &#x; forms pass through), and
    malformed nesting degrades to over-stripping a tag, never to losing
    the document. For fidelity-critical extraction, run a real parser
    OFFLINE to produce a gold set and diff it against this fast path.
    """
    c = F.col(html) if isinstance(html, str) else html
    no_script = F.regexp_replace(c, r"(?is)<script[^>]*>.*?</script>", " ")
    no_style = F.regexp_replace(no_script, r"(?is)<style[^>]*>.*?</style>", " ")
    no_tags = F.regexp_replace(no_style, r"(?s)<[^>]+>", " ")
    ent = no_tags
    for pat, rep in [("&nbsp;", " "), ("&lt;", "<"), ("&gt;", ">"),
                     ("&quot;", "\""), ("&#39;", "'"), ("&amp;", "&")]:
        ent = F.regexp_replace(ent, pat, rep)
    return F.trim(F.regexp_replace(ent, r"\s+", " ")).alias(alias)


# ------------------------------------------------------------- bigram LM

def bigram_array(text_col: str = "text"):
    """Column: adjacent lower-cased token pairs ("prev cur") — the
    conditioning contexts of a bigram LM. Tokenization matches
    `doc_terms` (whitespace split, empty terms dropped) so unigram and
    bigram models score the same token stream. zip_with of two shifted
    slices — O(tokens), codegen. ONE F.expr (r8 plan-time fold: the
    Column form cost ~15 py4j round-trips and rides under two headline
    queries twice each); the SQL text is the identical expression tree
    — note the regex backslash is doubled because Spark SQL string
    literals process escapes."""
    sql_re = TOKEN_RE.replace("\\", "\\\\")
    t = (f"filter(split(lower(trim(`{text_col}`)), '{sql_re}'), "
         f"x -> x != '')")
    return F.expr(
        f"CASE WHEN size({t}) >= 2 THEN "
        f"zip_with(slice({t}, 1, size({t}) - 1), "
        f"slice({t}, 2, size({t}) - 1), (a, b) -> concat_ws(' ', a, b)) "
        f"ELSE cast(array() as array<string>) END")


def train_bigram_lm(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Train a bigram LM: (bg, logp) with logp = ln(c(prev,cur) /
    c(prev,·)) — the conditional upgrade of `train_unigram_lm` (a
    repeated-phrase corpus scores much lower perplexity under bigrams,
    which is exactly the fluency-vs-bag-of-words signal CCNet bucketing
    wants). Two partial-aggregated shuffles (bigram counts, then context
    totals keyed by the context prefix); output rows = bigram vocabulary.
    """
    big = df.select(F.explode(bigram_array(text_col)).alias("bg"))
    counts = big.groupBy("bg").agg(F.count("*").alias("c"))
    prev = F.substring_index(F.col("bg"), " ", 1)
    prevc = counts.groupBy(prev.alias("prev")).agg(F.sum("c").alias("cp"))
    return (
        counts.join(prevc, prev == F.col("prev"))
        .select("bg",
                F.log(F.col("c").cast("double") /
                      F.col("cp").cast("double")).alias("logp"))
    )


def bigram_nll_score(df: DataFrame, lm: DataFrame, text_col: str = "text",
                     id_col: str = "doc_id", oov_logp: float = -20.0,
                     round_digits: int = 9) -> DataFrame:
    """Per-document mean negative log-likelihood under a bigram LM —
    scores TRANSITIONS (n_tokens − 1 of them; the first token carries no
    context and is deliberately unscored, so pair this with the unigram
    score rather than replacing it). Docs with < 2 tokens emit no row.
    Returns (id, n_bigrams, nll), decimal exact-sum + rounded mean (same
    hash-stability recipe and same one-shuffle occurrence-stream shape as
    `unigram_nll_score` — see there for why the per-(doc,bigram) pre-count
    is deliberately absent). Unseen bigrams floor at `oov_logp`; the LM
    broadcasts (bigram vocab of a reference corpus — drop the hint for
    web-scale vocabularies)."""
    from felixzh_flink_spark.operators.aggregations import exact_sum

    bigs = df.select(F.col(id_col), F.explode(bigram_array(text_col)).alias("bg"))
    scored = (bigs.join(F.broadcast(lm), "bg", "left")
              .withColumn("_contrib",
                          -F.coalesce(F.col("logp"), F.lit(oov_logp))))
    return (scored.groupBy(id_col)
            .agg(F.count("*").alias("n_bigrams"),
                 exact_sum("_contrib", scale=15, alias="_nll_sum"))
            .select(F.col(id_col), F.col("n_bigrams"),
                    F.round(F.col("_nll_sum") / F.col("n_bigrams").cast("double"),
                            round_digits).alias("nll")))


# ------------------------------------------------------------- BPE

#: a pinned demo merge table (trained once with `bpe_train_merges`, then
#: versioned as a literal — exactly how production tokenizers ship their
#: merges.txt). Order IS priority.
BPE_DEMO_MERGES = [
    ("t", "h"), ("th", "e"), ("i", "n"), ("a", "n"), ("e", "r"),
    ("o", "n"), ("r", "e"), ("a", "t"), ("s", "t"), ("o", "r"),
    ("a", "r"), ("l", "e"), ("o", "u"), ("an", "d"), ("in", "g"),
    ("e", "n"), ("o", "w"), ("e", "s"), ("a", "l"), ("c", "o"),
]


def bpe_train_merges(df: DataFrame, text_col: str = "text",
                     n_merges: int = 20, max_vocab: int | None = 100_000,
                     min_freq: int = 1, return_counts: bool = False
                     ) -> list[tuple[str, str]] | list[tuple[str, str, int]]:
    """Learn a BPE merge table (Sennrich et al. 2016): repeatedly merge
    the most frequent adjacent symbol pair, weighted by word frequency.
    The CORPUS-SCALE part — aggregating the word-frequency table — is
    distributed (one partial-aggregated shuffle, output = vocabulary
    size); the merge learning itself runs driver-side over that bounded
    table, exactly how sentencepiece/HF trainers work (training state is
    O(vocab), not O(corpus)). Deterministic: ties break on the
    lexicographically smallest pair.

    The driver collect is HARD-BOUNDED: `min_freq` drops hapax noise
    and `max_vocab` keeps only the top-K terms by (frequency, term) —
    a distributed TakeOrdered, never a full-vocab sort — so an
    open-vocabulary 100-TB corpus collects ≤ max_vocab rows no matter
    how many distinct terms it has (the standard trainer truncation;
    sub-max_vocab tail terms can't win a merge vote against the head
    in practice). `max_vocab=None` restores the unbounded collect.

    `return_counts=True` appends each selected pair's weighted count —
    the value the oracle (`bpe_learned_merges`) replays, so a wrong
    frequency weighting fails the hash even when the winning PAIR
    happens to coincide."""
    tf = (doc_terms(df, text_col).groupBy("term")
          .agg(F.count("*").alias("n")))
    if min_freq > 1:
        tf = tf.filter(F.col("n") >= min_freq)
    if max_vocab is not None:
        tf = tf.orderBy(F.col("n").desc(), F.col("term")).limit(max_vocab)
    freqs = {r["term"]: r["n"] for r in tf.collect()}
    vocab = {tuple(w): n for w, n in freqs.items()}
    merges: list = []
    for _ in range(n_merges):
        pairs: dict[tuple[str, str], int] = {}
        for sym, n in vocab.items():
            for a, b in zip(sym, sym[1:]):
                pairs[(a, b)] = pairs.get((a, b), 0) + n
        if not pairs:
            break
        best = max(pairs, key=lambda p: (pairs[p], (-len(p[0] + p[1]),
                                                    p[0], p[1])))
        # deterministic: max count, then shortest/lexicographic pair
        best = min((p for p in pairs if pairs[p] == pairs[best]))
        merges.append(best + (pairs[best],) if return_counts else best)
        merged = best[0] + best[1]
        new_vocab = {}
        for sym, n in vocab.items():
            out, i = [], 0
            while i < len(sym):
                if i + 1 < len(sym) and (sym[i], sym[i + 1]) == best:
                    out.append(merged)
                    i += 2
                else:
                    out.append(sym[i])
                    i += 1
            new_vocab[tuple(out)] = new_vocab.get(tuple(out), 0) + n
        vocab = new_vocab
    return merges


BPE_SEP = "·"  #: sentinel between subtokens (stripped from input)


def bpe_apply(word: Column, merges: list[tuple[str, str]],
              passes: int = 2) -> Column:
    """·-separated BPE subtokens of a word under a LITERAL merge table —
    a pure expression chain (no Python, no UDF; the merge table is the
    versioned artifact, like any shipped merges.txt). Every subtoken is
    wrapped ·both·sides· and a rule (a,b) is the replace ·a·b· → ·ab·,
    so a pattern can only match at true subtoken boundaries (plain
    space-joining would let "e n" match inside "the n" — the suffix
    ambiguity). Each rule runs `passes` left-to-right non-overlapping
    passes: one pass merges every other occurrence of a same-rule
    adjacency chain (consumed shared sentinel), so `passes`=2 is exact
    through 4 consecutive repeats of one pair — beyond that this is a
    documented approximation of rule-to-fixpoint application. Rules
    apply in priority ORDER (the standard streaming approximation of
    priority-iterative BPE; identical whenever later merges don't
    recreate an earlier rule's pattern, which trained tables avoid by
    construction)."""
    s = BPE_SEP
    if isinstance(word, str):
        # single-F.expr fast path for a column NAME (r8 plan-time fold:
        # the Column chain cost ~3 py4j round-trips per merge×pass)
        def q(lit: str) -> str:
            return lit.replace("\\", "\\\\").replace("'", "\\'")
        expr = (f"concat('{q(s)}', regexp_replace("
                f"replace(`{word}`, '{q(s)}', ''), '(.)', '$1{q(s)}'))")
        for a, b in merges:
            pat, rep = q(f"{s}{a}{s}{b}{s}"), q(f"{s}{a}{b}{s}")
            for _ in range(passes):
                expr = f"replace({expr}, '{pat}', '{rep}')"
        return F.expr(expr)
    clean = F.replace(word, F.lit(s), F.lit(""))
    out = F.concat(F.lit(s), F.regexp_replace(clean, "(.)", f"$1{s}"))
    for a, b in merges:
        for _ in range(passes):
            out = F.replace(out, F.lit(f"{s}{a}{s}{b}{s}"),
                            F.lit(f"{s}{a}{b}{s}"))
    return out


def bpe_token_counts(df: DataFrame, merges: list[tuple[str, str]],
                     text_col: str = "text",
                     id_col: str = "doc_id") -> DataFrame:
    """Per-document BPE subtoken counts under a literal merge table —
    the REAL token budget for packing/sharding (whitespace counts
    under-estimate by the subword ratio). One explode + one per-doc
    shuffle; the replace chain stays in codegen."""
    words = doc_terms(df, text_col, id_col)
    applied = bpe_apply("term", merges)
    # subtokens = sentinel count − 1 (every subtoken is ·-wrapped)
    subs = (F.length(applied)
            - F.length(F.replace(applied, F.lit(BPE_SEP), F.lit(""))) - 1)
    return (words.withColumn("_n", subs)
            .groupBy(id_col)
            .agg(F.count("*").alias("n_words"),
                 F.sum("_n").cast("bigint").alias("n_subtokens")))


#: multi-label public suffixes recognized by `registrable_domain` — a
#: deliberately small embedded subset of the public suffix list
#: (publicsuffix.org) covering the common ccTLD second-level patterns;
#: deployments that need the full PSL pass it via `extra_suffixes`
#: (it is a data file, not code).
PSL_SUBSET = (
    "co.uk", "org.uk", "ac.uk", "gov.uk", "com.au", "net.au", "org.au",
    "co.jp", "or.jp", "ne.jp", "com.br", "com.cn", "com.mx", "co.in",
    "co.kr", "co.za", "com.tr", "com.sg",
)


def url_host(col) -> Column:
    """Lower-cased host from an absolute URL, split-based (no regex — the
    split semantics are identical across engines, which is what keeps
    the oracle a hash match): `scheme://host/...` → segment 2 of the
    '/'-split, with any `:port` and `user@` stripped. Accesses are
    try_element_at so a non-URL string (no '//') yields null instead of
    an ANSI INVALID_ARRAY_INDEX error killing the job — real crawl
    inputs contain garbage rows."""
    c = F.col(col) if isinstance(col, str) else col
    host = F.try_element_at(F.split(F.lower(c), "/"), F.lit(3))
    # a no-path URL carries ?query / #fragment inside this segment
    host = F.try_element_at(F.split(host, r"\?"), F.lit(1))
    host = F.try_element_at(F.split(host, "#"), F.lit(1))
    host = F.try_element_at(F.split(host, "@"), F.lit(-1))  # drop userinfo
    return F.try_element_at(F.split(host, ":"), F.lit(1))   # drop port


def registrable_domain(host, extra_suffixes: "tuple[str, ...]" = ()) -> Column:
    """Registrable ('site') domain from a host — the key every corpus
    pipeline caps, dedupes and mixes by (`sampling.cap_per_group` /
    domain mixture weights operate on THIS, not raw hosts: www.bbc.co.uk
    and news.bbc.co.uk are one site). Last two labels, or last three
    when the trailing two are a recognized multi-label public suffix
    (PSL_SUBSET + `extra_suffixes`).

    Scan-local string ops — no UDF, no join; the suffix set folds into
    an IN list (see `registrable_domain_psl` for the broadcast-joined
    full-PSL variant — same shape, data-sized). Label accesses are
    try_element_at: a single-label host ('localhost') yields itself
    rather than an ANSI INVALID_ARRAY_INDEX abort (concat_ws skips the
    null labels)."""
    h = F.col(host) if isinstance(host, str) else host
    labels = F.split(h, r"\.")
    two = F.concat_ws(".", F.try_element_at(labels, F.lit(-2)),
                      F.try_element_at(labels, F.lit(-1)))
    three = F.concat_ws(".", F.try_element_at(labels, F.lit(-3)), two)
    suffixes = tuple(PSL_SUBSET) + tuple(extra_suffixes)
    return F.when(h.isNull(), F.lit(None).cast("string")).when(
        (F.size(labels) >= 3) & two.isin(*suffixes), three).otherwise(two)


def registrable_domain_psl(df: DataFrame, host_col: str, rules,
                           out_col: str = "registrable_domain") -> DataFrame:
    """Registrable domain against a FULL public-suffix list — the
    data-sized analog of `registrable_domain`'s embedded subset, for
    real crawls where the rule set is the ~10k-line publicsuffix.org
    file rather than a hand-picked tuple. Implements the PSL algorithm:
    normal rules match their exact trailing labels, `*.` wildcard rules
    match one arbitrary label plus their tail, `!` exception rules
    override everything; among matches the longest rule wins; no match
    → the implicit `*` default (public suffix = last label). The
    registrable domain is the public suffix plus one label, or NULL
    when the host IS a public suffix (per the spec — unlike the
    subset fast path, which returns single-label hosts verbatim).

    Scale shape: the rule list is grouped per (trailing-labels key,
    depth) on the driver — the PSL has ≤ 5-label rules, so the host
    side takes at most 5 BROADCAST hash joins on its trailing-k label
    strings. No explode, no re-aggregation, no shuffle: the scan stays
    narrow and every join is map-side. `rules` is an iterable of PSL
    rule lines (comments/blank lines ignored) or a single-column
    DataFrame of them."""
    spark = df.sparkSession
    if isinstance(rules, DataFrame):
        rules = [r[0] for r in rules.collect()]  # PSL is rule-sized
    parsed: dict[tuple[str, int], set] = {}
    for raw in rules:
        r = str(raw).strip().lower()
        if not r or r.startswith("//"):
            continue
        kind = "norm"
        if r.startswith("!"):
            kind, r = "exc", r[1:]
        elif r.startswith("*."):
            kind, r = "wild", r[2:]
        parsed.setdefault((r, r.count(".") + 1), set()).add(kind)
    if not parsed:
        raise ValueError("empty PSL rule set")
    maxk = max(k for _, k in parsed)

    # ONE parameterized spark.sql statement instead of maxk chained
    # DataFrame joins: every DataFrame transformation analyzes its
    # (growing) plan eagerly, so the join chain cost ~0.2 s of
    # driver-side re-analysis per depth (the round-7 plan-time-tail
    # finding — ~0.4 s construction for 3 depths); the SQL form is one
    # parse + one analysis for the whole join tree. Same physical
    # plan: one BROADCAST hash join per rule depth, host side never
    # shuffles.
    vals = ", ".join(
        f"({_sql_str(key)}, {k}, "
        f"{'true' if 'norm' in kinds else 'false'}, "
        f"{'true' if 'wild' in kinds else 'false'}, "
        f"{'true' if 'exc' in kinds else 'false'})"
        for (key, k), kinds in sorted(parsed.items()))
    hq = f"`{host_col}`"
    joins = []
    for k in range(1, maxk + 1):
        sfx = (f"CASE WHEN size(__h.__labs) >= {k} THEN "
               f"concat_ws('.', slice(__h.__labs, -{k}, {k})) END")
        joins.append(
            f"LEFT JOIN (SELECT key AS __key_{k}, norm AS __norm_{k}, "
            f"wild AS __wild_{k}, exc AS __exc_{k} "
            f"FROM __rules WHERE klab = {k}) __r{k} "
            f"ON ({sfx}) = __r{k}.__key_{k}")
    exc_ps = [f"CASE WHEN coalesce(__exc_{k}, false) THEN {k - 1} END"
              for k in range(1, maxk + 1)]
    norm_ps = [f"CASE WHEN coalesce(__norm_{k}, false) THEN {k} END"
               for k in range(1, maxk + 1)]
    wild_ps = [f"CASE WHEN coalesce(__wild_{k}, false) "
               f"AND size(__labs) >= {k + 1} THEN {k + 1} END"
               for k in range(1, maxk + 1)]

    def _greatest(parts):
        return parts[0] if len(parts) == 1 else \
            "greatest(" + ", ".join(parts) + ")"

    ps = (f"coalesce({_greatest(exc_ps)}, "
          f"{_greatest(norm_ps + wild_ps)}, 1)")
    hint = ", ".join(f"__r{k}" for k in range(1, maxk + 1))
    out_cols = ", ".join(f"`{c}`" for c in df.columns)
    sql = f"""
WITH __rules AS (
  SELECT * FROM VALUES {vals} AS t(key, klab, norm, wild, exc)
),
__h AS (
  SELECT *, split(lower({hq}), '\\\\.') AS __labs FROM {{df}}
)
SELECT {out_cols},
       CASE WHEN {hq} IS NOT NULL AND size(__labs) > __ps
            THEN concat_ws('.', slice(__labs, -(__ps + 1), __ps + 1))
       END AS `{out_col}`
FROM (
  SELECT /*+ BROADCAST({hint}) */ __h.*, {ps} AS __ps
  FROM __h
  {' '.join(joins)}
)
"""
    return spark.sql(sql, df=df)


def canonical_url(col, drop_prefixes: "tuple[str, ...]" = ("utm_",),
                  drop_keys: "tuple[str, ...]" = ("fbclid", "gclid",
                                                  "ref")) -> Column:
    """Canonical form of a URL for URL-LEVEL dedup — the crawl-pipeline
    step before content dedup ever runs: the same page arrives under
    thousands of raw URLs differing only by tracking parameters
    (utm_*/fbclid/gclid), parameter ORDER, and fragments. Strips the
    fragment, drops tracking params (prefix- and exact-key matched),
    sorts the survivors, and rejoins — so `dropDuplicates(canonical)`
    collapses the variants while distinct real query strings stay
    distinct.

    Pure scan-local built-ins (split/filter/array_sort/array_join in
    one codegen'd projection) — at 100 TB this is a free projection on
    the ingest scan, never a shuffle."""
    c = F.col(col) if isinstance(col, str) else col
    no_frag = F.element_at(F.split(c, "#"), 1)
    parts = F.split(no_frag, r"\?", 2)
    base = F.element_at(parts, 1)
    query = F.when(F.size(parts) > 1, F.element_at(parts, 2))
    params = F.split(query, "&")
    prefix_hit = None
    for p in drop_prefixes:
        cond = (lambda prm, pre=p: F.element_at(
            F.split(prm, "=", 2), 1).startswith(pre))
        prefix_hit = cond if prefix_hit is None else \
            (lambda prm, a=prefix_hit, b=cond: a(prm) | b(prm))
    keys = list(drop_keys)

    def dropped(prm):
        key = F.element_at(F.split(prm, "=", 2), 1)
        cond = key.isin(*keys) if keys else F.lit(False)
        if prefix_hit is not None:
            cond = cond | prefix_hit(prm)
        return cond

    kept = F.array_sort(F.filter(params, lambda prm: ~dropped(prm)))
    return F.concat(
        base,
        F.when(F.size(kept) > 0,
               F.concat(F.lit("?"), F.array_join(kept, "&")))
        .otherwise(F.lit("")))


def extract_links(df: DataFrame, html_col: str = "html",
                  base_url_col: "str | None" = None,
                  alias: str = "link") -> DataFrame:
    """One output row per RESOLVED out-link of each page — the link
    half of crawl-graph construction (`strip_html` is the text half;
    the two read the same fetched bytes). hrefs are pulled with ONE
    regexp_extract_all over the raw markup (no parser, no UDF — the
    href-attribute grammar is regular), then resolved: absolute
    http(s) URLs pass through; root-relative ('/path') resolve against
    the page's own scheme://host when `base_url_col` is given;
    everything else (path-relative, fragments, javascript:, mailto:)
    is dropped — the conservative policy a host/domain-level link
    graph wants, since those never leave the page's own site anyway.

    Scan-local: explode of an extracted array plus a CASE projection —
    zero shuffles; at crawl scale this runs inside the same pass that
    strips the text. Returns `df`'s columns plus `alias`."""
    raw = F.explode(F.regexp_extract_all(
        F.col(html_col), F.lit(r'href="([^"]*)"'), F.lit(1))).alias("_raw")
    out = df.select("*", raw)
    resolved = F.when(F.col("_raw").rlike("^https?://"), F.col("_raw"))
    if base_url_col is not None:
        resolved = resolved.when(
            F.col("_raw").startswith("/"),
            F.concat(F.regexp_extract(F.col(base_url_col),
                                      "^(https?://[^/]+)", 1),
                     F.col("_raw")))
    return (out.withColumn(alias, resolved)
            .filter(F.col(alias).isNotNull()).drop("_raw"))


def link_domain_edges(df: DataFrame, url_col: str = "url",
                      link_col: str = "link",
                      drop_self: bool = True) -> DataFrame:
    """Registrable-domain edge list from resolved page links — the
    input `graph.pagerank` wants for the Common-Crawl-style host rank:
    (src, dst) pairs keyed by `registrable_domain(url_host(...))` on
    both ends, DISTINCT (the domain graph votes once per linked pair;
    keep the multigraph by aggregating a weight upstream instead when
    multiplicity should count). Intra-site links are dropped by
    default: most of a page's links are its own navigation, and a
    domain-level quality prior gains nothing from self-votes.

    One projection + one distinct (the single keyed shuffle); at 100 TB
    the distinct collapses billions of doc-level links to the tiny
    domain-pair relation every ranking round then reuses."""
    src = registrable_domain(url_host(F.col(url_col)))
    dst = registrable_domain(url_host(F.col(link_col)))
    out = (df.select(src.alias("src"), dst.alias("dst"))
           .filter(F.col("src").isNotNull() & F.col("dst").isNotNull()))
    if drop_self:
        out = out.filter(F.col("src") != F.col("dst"))
    return out.distinct()


def _sql_str(s: str) -> str:
    """Render a Python string as a Spark SQL single-quoted literal —
    backslashes and quotes are escaped so the parser reproduces the
    bytes verbatim (a raw '\\t' must stay two characters, not become a
    tab)."""
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


def _robots_regex(pattern: str) -> "str | None":
    """None when `pattern` is a plain prefix; else the anchored Java
    regex implementing RFC 9309 §2.2.3 wildcard matching: `*` matches
    any run of characters, a TRAILING `$` anchors the end of the path
    (a `$` anywhere else is a literal). Literal chunks are
    regex-escaped."""
    anchored = pattern.endswith("$")
    body = pattern[:-1] if anchored else pattern
    if "*" not in body and not anchored:
        return None
    return ("^" + ".*".join(re.escape(c) for c in body.split("*"))
            + ("$" if anchored else ""))


def url_path(col) -> Column:
    """Path(+query) component of an absolute URL for robots matching:
    fragment stripped (never sent to the server), everything from the
    first '/' after the authority; a URL with no path yields '/', but a
    no-path URL WITH a query keeps it ('https://x.com?sid=1' →
    '/?sid=1' — RFC 9309 matches on path+query, so dropping it would
    mis-judge query-anchored rules). Split-based like `url_host` —
    scan-local, no regex, no UDF."""
    c = F.col(col) if isinstance(col, str) else col
    no_frag = F.try_element_at(F.split(c, "#"), F.lit(1))
    # everything after 'scheme://'; the authority ends at the FIRST of
    # '/' or '?' — a '/' inside the query ('?next=/login') is query
    # text, not a path separator, so the two positions must be compared
    rest = F.try_element_at(F.split(no_frag, "//", 2), F.lit(2))
    spos = F.instr(rest, "/")
    qpos = F.instr(rest, "?")
    path_first = (spos > 0) & ((qpos == 0) | (spos < qpos))
    return (F.when(rest.isNull(), F.lit("/"))
            .when(path_first, rest.substr(spos, F.lit(1 << 30)))
            .when(qpos > 0,
                  F.concat(F.lit("/"), rest.substr(qpos, F.lit(1 << 30))))
            .otherwise(F.lit("/")))


def robots_rules_compiled(rules_df: DataFrame, pattern_col: str = "pattern",
                          ) -> DataFrame:
    """Compile robots rule patterns to anchored Java regexes IN SPARK —
    the data-sized analog of `_robots_regex`, for a multi-domain rules
    table where patterns never visit the driver: regex metacharacters
    are escaped, `*` becomes `.*`, a trailing `$` becomes the end
    anchor. Adds `_l` (the RFC's rule-text-length precedence key) and
    `_rx`. Pure built-in string expressions, scan-local."""
    pat = F.col(pattern_col)
    anchored = F.endswith(pat, F.lit("$"))
    body = F.when(anchored,
                  F.substring(pat, 1, F.length(pat) - 1)).otherwise(pat)
    esc = F.regexp_replace(body, r"([.\[\]{}()*+?^$|\\])", r"\\$1")
    rx = F.concat(F.lit("^"), F.replace(esc, F.lit(r"\*"), F.lit(".*")),
                  F.when(anchored, F.lit("$")).otherwise(F.lit("")))
    return rules_df.withColumn("_l", F.length(pat)).withColumn("_rx", rx)


def robots_gate(df: DataFrame, url_col: str, rules_df: DataFrame,
                domain_col: str = "domain", pattern_col: str = "pattern",
                allow_col: str = "is_allow",
                out_col: str = "allowed") -> DataFrame:
    """Multi-domain robots-exclusion gate with the rules AS DATA — the
    shape `robots_verdict`'s docstring promises for a real crawl:
    `rules_df` holds one row per (registrable domain, pattern,
    is_allow) from the parsed per-site robots.txt files. Each URL's
    path is judged against ITS site's rules under the same RFC 9309
    longest-match semantics (wildcards included); a site with no rules
    row allows everything.

    Scale shape: patterns compile to regexes scan-local on the rules
    side (`robots_rules_compiled`), collapse to one array row per
    domain (≤ |domains| rows), and BROADCAST-join onto the corpus scan
    keyed on `registrable_domain(url_host(url))` — the corpus side
    never shuffles, and the verdict is one codegen'd array fold per
    row, exactly the literal-rules fold with the array coming from the
    join instead of the plan."""
    # RFC 9309 §2.2.2: an EMPTY Disallow/Allow value is a no-op rule,
    # not a match-everything prefix — compiling '' would block (or
    # blanket-allow) entire sites
    compiled = robots_rules_compiled(
        rules_df.filter(F.length(F.col(pattern_col)) > 0), pattern_col)
    per_dom = compiled.groupBy(F.col(domain_col).alias("_dom")).agg(
        F.collect_list(F.struct(
            F.col("_l").alias("l"), F.col(allow_col).alias("a"),
            F.col("_rx").alias("rx"))).alias("_rules"))
    joined = (df
              .withColumn("_site", registrable_domain(url_host(url_col)))
              .withColumn("_path", url_path(url_col))
              .join(F.broadcast(per_dom),
                    F.col("_site") == F.col("_dom"), "left"))
    verdict = F.expr(
        "aggregate(_rules, named_struct('l', -1, 'a', true), "
        "(acc, r) -> IF(rlike(_path, r.rx) "
        "AND (r.l > acc.l OR (r.l = acc.l AND r.a)), "
        "named_struct('l', r.l, 'a', r.a), acc)).a")
    return (joined.withColumn(out_col, F.coalesce(verdict, F.lit(True)))
            .drop("_dom", "_rules", "_site", "_path"))


def robots_verdict(path_col: str, rules: "list[tuple[str, bool]]") -> Column:
    """Robots-exclusion verdict for a URL path — the crawl-compliance
    gate a corpus ingest applies per domain. Implements RFC 9309
    matching incl. wildcards: a rule path may contain `*` (any run) and
    a trailing `$` (end anchor); among matching rules the one with the
    LONGEST rule text wins (octet length of the pattern, the RFC's
    most-specific-match order as implemented by Google's open-source
    matcher); on a length tie Allow wins; no match → allowed. `rules`
    is [(pattern, is_allow), ...] (one domain's parsed robots.txt; a
    multi-domain corpus broadcast-joins a rules table on
    `registrable_domain` and runs this fold on the joined array —
    identical expression, data-sized rules).

    The fold is rendered as ONE expr parse (plan-time O(1), scale-time
    one array pass per row inside codegen): accumulator carries
    (best_len, allow). Plain-prefix rules match via `startswith`;
    wildcard/anchored rules compile to an anchored `rlike` regex at
    plan time. Pattern text is rendered through `_sql_str`, so quotes
    and backslashes in rules are safe. `path_col` must be a plain
    column name."""
    # RFC 9309 §2.2.2: an empty rule value is a no-op, never a
    # match-everything prefix (a parsed bare 'Disallow:' means allow)
    rules = [(p, a) for p, a in rules if p]
    if not rules:
        return F.lit(True)
    parts = []
    for p, a in rules:
        rx = _robots_regex(p)
        pfx = "CAST(NULL AS STRING)" if rx is not None else _sql_str(p)
        rxl = _sql_str(rx) if rx is not None else "CAST(NULL AS STRING)"
        parts.append(
            f"named_struct('l', {len(p)}, 'a', {'true' if a else 'false'}, "
            f"'pfx', {pfx}, 'rx', {rxl})")
    arr = ", ".join(parts)
    return F.expr(
        f"aggregate(array({arr}), named_struct('l', -1, 'a', true), "
        f"(acc, r) -> IF("
        f"IF(r.rx IS NULL, startswith({path_col}, r.pfx), "
        f"rlike({path_col}, r.rx)) "
        f"AND (r.l > acc.l OR (r.l = acc.l AND r.a)), "
        f"named_struct('l', r.l, 'a', r.a), acc)).a")
