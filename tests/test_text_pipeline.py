"""Chunking / redaction / decontamination — training-data pipeline text ops."""

from pyspark.sql import functions as F

from felixzh_flink_spark.operators.text import (
    chunk_documents,
    decontaminate,
    decontaminate_ngrams,
    redact_text,
)


def test_chunking_overlap_and_final_partial(spark):
    text = " ".join(f"w{i}" for i in range(10))  # 10 tokens
    df = spark.createDataFrame([(1, text)], "doc_id long, text string")
    rows = sorted(chunk_documents(df, chunk_tokens=4, overlap_tokens=1).collect(),
                  key=lambda r: r["chunk_idx"])
    # stride 3: starts at 0,3,6 — the chunk at 6 reaches the last token, so
    # coverage is complete with no redundant tail window
    assert [r["chunk_text"] for r in rows] == [
        "w0 w1 w2 w3", "w3 w4 w5 w6", "w6 w7 w8 w9"]
    assert [r["n_chunk_tokens"] for r in rows] == [4, 4, 4]
    # consecutive chunks share exactly `overlap` tokens
    assert rows[0]["chunk_text"].split()[-1] == rows[1]["chunk_text"].split()[0]


def test_chunking_short_doc_single_chunk(spark):
    df = spark.createDataFrame([(1, "a b"), (2, "   ")], "doc_id long, text string")
    rows = chunk_documents(df, chunk_tokens=64, overlap_tokens=8).collect()
    assert len(rows) == 1  # blank doc dropped
    assert rows[0]["chunk_text"] == "a b" and rows[0]["n_chunk_tokens"] == 2


def test_redaction_scrubs_emails_and_urls(spark):
    df = spark.createDataFrame(
        [("mail me at a.b@example.com or see https://x.io/page?q=1 now",)],
        "text string")
    out = df.select(redact_text("text").alias("t")).head()["t"]
    assert out == "mail me at [REDACTED] or see [REDACTED] now"


def test_decontaminate_drops_benchmark_matches(spark):
    corpus = spark.createDataFrame(
        [(1, "keep me"), (2, "TEST  question"), (3, "also kept")],
        "doc_id long, text string")
    bench = spark.createDataFrame([(9, "test question")], "doc_id long, text string")
    kept = sorted(r["doc_id"] for r in decontaminate(corpus, bench).collect())
    assert kept == [1, 3]  # normalization catches case/whitespace variants


def test_decontaminate_ngrams_catches_partial_quotes(spark):
    """The n-gram rule drops a doc that EMBEDS an eval item mid-text —
    exactly what fingerprint-equality decontamination misses — while
    unrelated docs survive; short eval items use the whole-text
    fallback."""
    eval_q = "what is the capital of france"
    corpus = spark.createDataFrame(
        [(1, f"some long preamble then {eval_q} and a trailing answer"),
         (2, "a perfectly clean training document about spark shuffles"),
         (3, "tiny doc"),
         (4, eval_q)],
        "doc_id long, text string")
    bench = spark.createDataFrame(
        [(9, eval_q), (10, "tiny doc")], "doc_id long, text string")
    # n=6 == len(eval item): doc 1 embeds it, doc 4 IS it, doc 3 matches
    # the short-doc whole-text fallback; only doc 2 survives
    kept = sorted(r["doc_id"] for r in
                  decontaminate_ngrams(corpus, bench, n=6).collect())
    assert kept == [2]
    # fingerprint decontamination misses the embedded quote (doc 1 kept)
    fp_kept = sorted(r["doc_id"] for r in
                     decontaminate(corpus, bench).collect())
    assert 1 in fp_kept


def test_tfidf_top_terms_ranks_distinctive_terms(spark):
    """A term unique to one doc outranks corpus-wide terms (whose idf is
    ln(1) = 0); ties fall to term order; k bounds rows per doc."""
    from felixzh_flink_spark.operators.text import tf_idf_top_terms
    df = spark.createDataFrame(
        [(1, "spark spark shuffle common"),
         (2, "flink state common"),
         (3, "duckdb vector common")],
        "doc_id long, text string")
    rows = tf_idf_top_terms(df, k=2).collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append((r["term"], r["tfidf"]))
    assert all(len(v) == 2 for v in by_doc.values())
    # doc 1: 'spark' (tf=2, unique) is the top term; 'common' never ranks
    # above a unique term because ln(3/3) = 0
    assert by_doc[1][0][0] == "spark"
    assert all(terms[0][0] != "common" for terms in by_doc.values())
    # scores are positive for unique terms, 0 for corpus-wide ones
    assert by_doc[1][0][1] > 0


def test_tfidf_cached_stats_bit_identical_to_inline(spark, sf_dir,
                                                    tmp_path):
    """The cached-stats serving path (write_tfidf_stats +
    tf_idf_top_terms_cached) returns EXACTLY the inline operator's rows
    on a real corpus — same IEEE idf on the same integers, shared
    ranking tail, so equality is bitwise, not approximate."""
    from felixzh_flink_spark.operators.text import (
        tf_idf_top_terms,
        tf_idf_top_terms_cached,
        write_tfidf_stats,
    )
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    path = str(tmp_path / "tfidf_stats")
    write_tfidf_stats(d, path)
    inline = sorted((r["doc_id"], r["term"], r["tfidf"])
                    for r in tf_idf_top_terms(d, k=3).collect())
    cached = sorted((r["doc_id"], r["term"], r["tfidf"])
                    for r in tf_idf_top_terms_cached(d, path,
                                                     k=3).collect())
    assert cached == inline


def test_append_tfidf_stats_matches_full_rebuild(spark, sf_dir, tmp_path):
    """Incremental stats maintenance: a bulk build plus TWO delta
    appends (exercising generation chaining and the legacy-layout
    upgrade) serves bit-identically to a one-shot full build and to
    the inline operator; a staged-but-unflipped generation is
    invisible (the crash-before-commit state); the swept layout holds
    exactly one live generation."""
    import os

    from felixzh_flink_spark.operators.text import (
        append_tfidf_stats,
        tf_idf_top_terms,
        tf_idf_top_terms_cached,
        write_tfidf_stats,
    )
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    bulk = d.filter(F.col("doc_id") % 3 != 0)
    d1 = d.filter(F.col("doc_id") % 6 == 0)
    d2 = d.filter(F.col("doc_id") % 6 == 3)
    path = str(tmp_path / "tfidf_inc")
    write_tfidf_stats(bulk, path)                  # plain legacy layout
    append_tfidf_stats(d1, path)                   # upgrades to gen=1
    append_tfidf_stats(d2, path)                   # chains to gen=2
    inline = sorted((r["doc_id"], r["term"], r["tfidf"])
                    for r in tf_idf_top_terms(d, k=3).collect())
    inc = sorted((r["doc_id"], r["term"], r["tfidf"])
                 for r in tf_idf_top_terms_cached(d, path, k=3).collect())
    assert inc == inline
    # exactly one live generation, legacy dirs swept, pointer = 2
    kids = sorted(c for c in os.listdir(path)
                  if not c.startswith("."))       # Hadoop .crc sidecars
    assert kids == ["_CURRENT", "gen=2"]
    # crash-before-flip: a staged generation without the pointer flip
    # is invisible — fake one by copying gen=2 to gen=3 with garbage df
    full = str(tmp_path / "tfidf_full")
    write_tfidf_stats(d, full)
    one_shot = sorted((r["doc_id"], r["term"], r["tfidf"])
                      for r in tf_idf_top_terms_cached(d, full,
                                                       k=3).collect())
    assert inc == one_shot
    import shutil
    shutil.copytree(path + "/gen=2", path + "/gen=3")
    with open(path + "/gen=3/meta/garbage.txt", "w") as fh:
        fh.write("staged, never committed")
    still = sorted((r["doc_id"], r["term"], r["tfidf"])
                   for r in tf_idf_top_terms_cached(d, path,
                                                    k=3).collect())
    assert still == inline


def test_stratified_sample_deterministic_and_independent(spark, sf_dir):
    """Per-stratum keep decisions are stable and independent of OTHER
    strata's fractions; boundary fractions keep all / none."""
    from felixzh_flink_spark.operators.sampling import stratified_sample
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    kept = stratified_sample(d, "doc_id", "lang",
                             {"en": 1.0, "de": 0.5, "zh": 0.0})
    by_lang = {r["lang"]: r["n"] for r in
               kept.groupBy("lang").agg(__import__("pyspark").sql.functions
                                        .count("*").alias("n")).collect()}
    totals = {r["lang"]: r["n"] for r in
              d.groupBy("lang").agg(__import__("pyspark").sql.functions
                                    .count("*").alias("n")).collect()}
    assert by_lang["en"] == totals["en"]          # fraction 1.0 keeps all
    assert "zh" not in by_lang                    # fraction 0.0 keeps none
    assert 0 < by_lang["de"] < totals["de"]
    # de's keep-set does not move when en's fraction changes
    de_a = {r["doc_id"] for r in kept.filter("lang = 'de'").collect()}
    kept2 = stratified_sample(d, "doc_id", "lang", {"en": 0.2, "de": 0.5})
    de_b = {r["doc_id"] for r in kept2.filter("lang = 'de'").collect()}
    assert de_a == de_b


def test_corpus_pipeline_invariants(spark, sf_dir):
    """Survivors pass the quality gate, are fingerprint-unique, and share no
    fingerprint with the benchmark."""
    from pyspark.sql import functions as F
    from felixzh_flink_spark.operators.text import (
        corpus_pipeline, fingerprint_md5, punct_ratio, token_count)
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    bench = d.filter(F.col("doc_id") % 97 == 0)
    clean = corpus_pipeline(d, bench, min_tokens=10, max_punct=0.3)
    feats = clean.select("doc_id", token_count("text"), punct_ratio("text"))
    assert feats.filter("n_tokens < 10 OR punct_ratio >= 0.3").count() == 0
    fps = fingerprint_md5(clean)
    assert fps.groupBy("fingerprint").count().filter("count > 1").count() == 0
    bench_fps = {r["fingerprint"] for r in
                 fingerprint_md5(bench).select("fingerprint").collect()}
    got = {r["fingerprint"] for r in fps.select("fingerprint").collect()}
    assert not (got & bench_fps)


def test_boilerplate_blocks_removed_corpus_wide(spark):
    """A block shared by >= min_docs docs is cut from every doc; unique
    content survives in order; pure-boilerplate docs disappear."""
    from pyspark.sql import Row
    from felixzh_flink_spark.operators.text import remove_boilerplate_blocks
    boiler = "subscribe to our newsletter"  # 4 tokens = one block + tail
    rows = [Row(doc_id=i, text=f"unique words {i} alpha {boiler}")
            for i in range(3)]
    rows.append(Row(doc_id=99, text="totally different content here body"))
    df = spark.createDataFrame(rows)
    out = remove_boilerplate_blocks(df, block_tokens=4, min_docs=3)
    got = {r["doc_id"]: (r["text"], r["n_blocks_removed"]) for r in out.collect()}
    # the shared 4-token block "subscribe to our newsletter" is removed; the
    # leading unique block (4 toks) and the per-doc remainder survive
    for i in range(3):
        assert boiler not in got[i][0]
        assert f"unique words {i} alpha" == got[i][0]
        assert got[i][1] == 1
    assert got[99] == ("totally different content here body", 0)


def test_boilerplate_pure_doc_disappears_and_order_kept(spark):
    from pyspark.sql import Row
    from felixzh_flink_spark.operators.text import remove_boilerplate_blocks
    df = spark.createDataFrame(
        [Row(doc_id=i, text="nav bar") for i in range(3)]
        + [Row(doc_id=7, text="one two nav bar three four five six seven")])
    out = remove_boilerplate_blocks(df, block_tokens=2, min_docs=3)
    got = {r["doc_id"]: r["text"] for r in out.collect()}
    assert set(got) == {7}
    # blocks: [one two][nav bar][three four][five six][seven]
    assert got[7] == "one two three four five six seven"


def test_boilerplate_empty_text_dropped(spark):
    from pyspark.sql import Row
    from felixzh_flink_spark.operators.text import remove_boilerplate_blocks
    df = spark.createDataFrame([Row(doc_id=1, text="  "), Row(doc_id=2, text="a b c")])
    out = remove_boilerplate_blocks(df, block_tokens=2, min_docs=2)
    got = {r["doc_id"]: r["text"] for r in out.collect()}
    assert got == {2: "a b c"}


def test_unigram_lm_uniform_corpus_nll_is_log_vocab(spark):
    import math
    from pyspark.sql import Row
    from felixzh_flink_spark.operators.text import train_unigram_lm, unigram_nll_score
    df = spark.createDataFrame([Row(doc_id=1, text="a b"), Row(doc_id=2, text="c d")])
    lm = train_unigram_lm(df)
    out = {r["doc_id"]: (r["n_tokens"], r["nll"])
           for r in unigram_nll_score(df, lm).collect()}
    for i in (1, 2):
        assert out[i][0] == 2
        assert abs(out[i][1] - math.log(4)) < 1e-9


def test_unigram_lm_oov_floor_and_rare_token_penalty(spark):
    from pyspark.sql import Row
    from felixzh_flink_spark.operators.text import train_unigram_lm, unigram_nll_score
    train = spark.createDataFrame(
        [Row(doc_id=i, text="common common common words") for i in range(5)])
    lm = train_unigram_lm(train)
    score_df = spark.createDataFrame(
        [Row(doc_id=100, text="common words"), Row(doc_id=101, text="unseen zork")])
    out = {r["doc_id"]: r["nll"] for r in unigram_nll_score(score_df, lm).collect()}
    assert out[101] == 20.0  # pure-OOV doc sits exactly at the floor
    assert out[100] < out[101]  # in-distribution doc scores better


def test_unigram_nll_partitioning_invariant(spark, sf_dir):
    from felixzh_flink_spark.operators.text import train_unigram_lm, unigram_nll_score
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    lm = train_unigram_lm(d)
    a = sorted(unigram_nll_score(d, lm).collect())
    b = sorted(unigram_nll_score(d.repartition(13), lm).collect())
    assert a == b


# ------------------------------------------------------------ bigram LM

def test_bigram_lm_conditional_probabilities(spark):
    import math
    from felixzh_flink_spark.operators import text as TX
    df = spark.createDataFrame(
        [(1, "a b"), (2, "a b"), (3, "a c")], "doc_id long, text string")
    lm = {r["bg"]: r["logp"] for r in TX.train_bigram_lm(df).collect()}
    # context 'a' seen 3 times: p(b|a)=2/3, p(c|a)=1/3
    assert abs(lm["a b"] - math.log(2 / 3)) < 1e-12
    assert abs(lm["a c"] - math.log(1 / 3)) < 1e-12


def test_bigram_nll_flags_word_salad(spark):
    from felixzh_flink_spark.operators import text as TX
    fluent = [(i, "the cat sat on the mat again") for i in range(1, 9)]
    salad = [(100, "mat the on cat again sat the")]
    df = spark.createDataFrame(fluent + salad, "doc_id long, text string")
    lm = TX.train_bigram_lm(df)
    nll = {r["doc_id"]: r["nll"] for r in TX.bigram_nll_score(df, lm).collect()}
    # the permuted doc's transitions are rare -> higher NLL than the
    # formulaic docs, even though its UNIGRAM distribution is identical
    assert nll[100] > nll[1]


def test_bigram_nll_short_docs_emit_no_row(spark):
    from felixzh_flink_spark.operators import text as TX
    df = spark.createDataFrame(
        [(1, "solo"), (2, "two tokens")], "doc_id long, text string")
    lm = TX.train_bigram_lm(df)
    rows = TX.bigram_nll_score(df, lm).collect()
    assert [r["doc_id"] for r in rows] == [2]
    assert rows[0]["n_bigrams"] == 1


def test_gopher_quality_flags_each_rule_fires(spark):
    from felixzh_flink_spark.operators.text import gopher_quality_flags
    good = ("the words be to of and that have with " +
            " ".join(f"tok{i}" for i in range(60)))
    rows = [
        (1, good),                                    # passes everything
        (2, "short doc"),                             # wc_ok fails
        (3, " ".join(["a"] * 60)),                    # mwl_ok fails (1.0)
        (4, " ".join(["word"] * 30 + ["####"] * 30)), # symbol+alpha fail
        (5, "- b\n- b\n- b"),                         # bullet_ok fails
        (6, "x...\ny...\nz...\nw ok"),                # ellipsis_ok fails
        (7, ""),                                      # empty: n-gated rules fail
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r.asDict() for r in gopher_quality_flags(df).collect()}
    assert out[1]["keep"] is True
    assert out[2]["wc_ok"] is False and out[2]["mwl_ok"] is True
    assert out[3]["mwl_ok"] is False and out[3]["wc_ok"] is True
    assert out[4]["symbol_ok"] is False and out[4]["alpha_ok"] is False
    assert out[5]["bullet_ok"] is False
    assert out[6]["ellipsis_ok"] is False and out[6]["bullet_ok"] is True
    e = out[7]
    assert not any([e["wc_ok"], e["mwl_ok"], e["symbol_ok"], e["alpha_ok"],
                    e["stop_ok"], e["keep"]])
    assert e["bullet_ok"] and e["ellipsis_ok"]
    # every doc fails keep except doc 1
    assert [i for i, r in sorted(out.items()) if r["keep"]] == [1]


def test_script_profile_detects_blocks_and_dominant(spark):
    from felixzh_flink_spark.operators.text import script_profile
    df = spark.createDataFrame([
        (1, "hello world"),
        (2, "привет мир hello"),
        (3, "你好世界 こんにちは"),
        (4, "مرحبا بالعالم"),
        (5, "12345 !!!"),
    ], "doc_id long, text string")
    out = {r["doc_id"]: r.asDict() for r in script_profile(df).collect()}
    assert out[1]["dominant_script"] == "latin" and out[1]["n_latin"] == 10
    assert out[2]["dominant_script"] == "cyrillic" and out[2]["n_latin"] == 5
    assert out[3]["dominant_script"] == "cjk" and out[3]["n_cjk"] == 9
    assert out[4]["dominant_script"] == "arabic"
    assert out[5]["dominant_script"] == "none"


def test_bpe_apply_matches_rule_fixpoint_reference(spark):
    from felixzh_flink_spark.operators.text import bpe_apply, BPE_DEMO_MERGES

    def ref_apply(word, merges):
        sym = list(word)
        for a, b in merges:
            while True:
                out, i, hit = [], 0, False
                while i < len(sym):
                    if i + 1 < len(sym) and sym[i] == a and sym[i + 1] == b:
                        out.append(a + b); i += 2; hit = True
                    else:
                        out.append(sym[i]); i += 1
                sym = out
                if not hit:
                    break
        return sym

    words = ["the", "then", "there", "standing", "correlation", "x",
             "banana", "ananan", "thethe", "oreore", "android"]
    df = spark.createDataFrame([(w,) for w in words], "w string")
    got = {r["w"]: [t for t in r["s"].split("·") if t]
           for r in df.select(
               "w", bpe_apply(F.col("w"), BPE_DEMO_MERGES).alias("s")
           ).collect()}
    assert got == {w: ref_apply(w, BPE_DEMO_MERGES) for w in words}


def test_bpe_train_learns_frequent_pairs(spark):
    from felixzh_flink_spark.operators.text import bpe_train_merges
    d = spark.createDataFrame(
        [(1, "the the the the and and in")], "doc_id long, text string")
    m = bpe_train_merges(d, n_merges=4)
    # 'he'x4 / 'th'x4 tie -> lexicographic; then 't'+'he'; then and-parts
    assert m[0] in (("h", "e"), ("t", "h"))
    assert len(m) == 4 and ("a", "n") in m


def test_bpe_train_driver_collect_is_vocab_bounded(spark):
    from felixzh_flink_spark.operators.text import bpe_train_merges
    # high-cardinality corpus: 5000 distinct terms, but the dominant
    # repeated word decides the merges; max_vocab caps what reaches the
    # driver and the learned head merges are unchanged
    rows = [(i, " ".join(f"u{i}x{j}" for j in range(5)) + " hello hello")
            for i in range(1000)]
    d = spark.createDataFrame(rows, "doc_id long, text string")
    full = bpe_train_merges(d, n_merges=3, max_vocab=None)
    capped = bpe_train_merges(d, n_merges=3, max_vocab=50)
    assert capped == full  # head vocabulary dominates the vote
    # and min_freq drops the hapax tail entirely
    assert bpe_train_merges(d, n_merges=3, min_freq=2) == full


def test_bpe_train_counts_and_closed_form(spark):
    from felixzh_flink_spark.operators.text import bpe_train_merges
    # closed-form corpus: 'abab' x3 + 'ab' x2 → pair (a,b) count 8
    # (two per 'abab', one per 'ab'); after merging, ('ab','ab') in
    # the three 'abab' words → count 3; greedy scan must count the
    # abab word as ONE (ab,ab) adjacency, not two overlapping
    d = spark.createDataFrame(
        [(1, "abab abab abab ab ab")], "doc_id long, text string")
    m = bpe_train_merges(d, n_merges=2, return_counts=True)
    assert m == [("a", "b", 8), ("ab", "ab", 3)]
    # and return_counts=False keeps the legacy 2-tuple shape
    assert bpe_train_merges(d, n_merges=2) == [("a", "b"), ("ab", "ab")]


def test_bpe_train_greedy_run_semantics(spark):
    from felixzh_flink_spark.operators.text import bpe_train_merges
    # 'aaaa': greedy (a,a) count = 3 adjacencies... the TRAINER counts
    # raw adjacencies (3 in 'aaaa'), then APPLIES greedily: aaaa →
    # (aa)(aa), so round 2's top pair is (aa,aa), not (aa,a)
    d = spark.createDataFrame(
        [(1, "aaaa aaaa aaaa bb")], "doc_id long, text string")
    m = bpe_train_merges(d, n_merges=2, return_counts=True)
    assert m[0] == ("a", "a", 9)      # 3 adjacencies × 3 words
    assert m[1] == ("aa", "aa", 3)    # greedy pairing, one per word


def test_robots_empty_rule_value_is_a_noop(spark):
    """RFC 9309 §2.2.2: a bare 'Disallow:' (empty value) means
    allow-all — it must not compile to a match-everything prefix that
    blocks the site, in either the literal fold or the rules-as-data
    gate."""
    import pandas as pd
    from pyspark.sql import functions as F

    from felixzh_flink_spark.operators.text import robots_gate, robots_verdict

    df = spark.createDataFrame(pd.DataFrame(
        {"path": ["/", "/a", "/private/x"]}))
    out = df.withColumn("ok", robots_verdict("path", [
        ("", False),                       # bare Disallow: → no-op
        ("/private/", False)]))
    got = {r["path"]: r["ok"] for r in out.collect()}
    assert got == {"/": True, "/a": True, "/private/x": False}
    assert df.withColumn(
        "ok", robots_verdict("path", [("", False)])).filter(
        "NOT ok").count() == 0

    urls = spark.createDataFrame(pd.DataFrame({"url": [
        "https://example.com/a", "https://example.com/private/x"]}))
    rules = spark.createDataFrame(pd.DataFrame({
        "domain": ["example.com", "example.com"],
        "pattern": ["", "/private/"],
        "is_allow": [False, False]}))
    got = {r["url"]: r["allowed"]
           for r in robots_gate(urls, "url", rules).collect()}
    assert got["https://example.com/a"] is True
    assert got["https://example.com/private/x"] is False


def test_url_path_and_host_keep_query_on_no_path_urls(spark):
    """'https://x.com?sid=1' has no path segment: the query must still
    reach robots matching (RFC matches path+query) and must NOT leak
    into the host."""
    import pandas as pd
    from pyspark.sql import functions as F

    from felixzh_flink_spark.operators.text import url_host, url_path

    df = spark.createDataFrame(pd.DataFrame({"url": [
        "https://x.com?sid=1",
        "https://x.com#frag",
        "https://x.com/a/b?q=2#frag",
        "https://x.com/",
        "https://x.com",
        "https://user@x.com:8080?t=1",
        "https://x.com?next=/login",
    ]}))
    rows = df.select("url", url_path("url").alias("p"),
                     url_host("url").alias("h")).collect()
    got = {r["url"]: (r["p"], r["h"]) for r in rows}
    assert got["https://x.com?sid=1"] == ("/?sid=1", "x.com")
    # a '/' INSIDE the query of a no-path URL is query text, not a path
    assert got["https://x.com?next=/login"] == ("/?next=/login", "x.com")
    assert got["https://x.com#frag"] == ("/", "x.com")
    assert got["https://x.com/a/b?q=2#frag"] == ("/a/b?q=2", "x.com")
    assert got["https://x.com/"] == ("/", "x.com")
    assert got["https://x.com"] == ("/", "x.com")
    assert got["https://user@x.com:8080?t=1"] == ("/?t=1", "x.com")


def test_bm25_matches_hand_reference(spark):
    """BM25 against an independently computed single-machine reference
    (same Robertson-Zaragoza formula, plain floats) on a small corpus —
    scores to 1e-9, ranking exact."""
    import math

    from felixzh_flink_spark.operators.text import bm25_topk

    docs = [
        (1, "spark joins hash tables fast"),
        (2, "hash hash hash everywhere hash"),
        (3, "tables of data and more data in tables"),
        (4, "nothing relevant here at all"),
        (5, "hash tables hash tables"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    terms, k1, b = ["hash", "tables"], 1.2, 0.75
    got = bm25_topk(df, terms, k=5, k1=k1, b=b, n_docs=len(docs))
    rows = [(r.doc_id, r.bm25) for r in got.collect()]

    toks = {i: t.lower().split() for i, t in docs}
    n = len(docs)
    avgdl = sum(len(v) for v in toks.values()) / n

    def score(i):
        s = 0.0
        for t in terms:
            tf = toks[i].count(t)
            dfr = sum(1 for v in toks.values() if t in v)
            idf = math.log(1 + (n - dfr + 0.5) / (dfr + 0.5))
            s += idf * (tf * (k1 + 1)) / (tf + k1 * (1 - b + b * len(toks[i]) / avgdl))
        return s

    ref = sorted(((score(i), i) for i in toks if score(i) > 0),
                 key=lambda x: (-x[0], x[1]))
    assert [i for _, i in ref] == [i for i, _ in rows]
    for (i, got_s), (ref_s, _) in zip(rows, ref):
        assert abs(got_s - ref_s) < 1e-9, (i, got_s, ref_s)
    # doc 4 matches no term: excluded
    assert 4 not in [i for i, _ in rows]


def test_bm25_topk_multi_equals_single_query_runs(spark):
    """Batched BM25 must return, for EVERY bag, exactly the single-query
    bm25_topk rows (ids, order, bit-equal quantized scores) — batching
    may only amortize the scan. Bags overlap on purpose (shared-term tf
    reuse is the point) and one bag has a term absent from the corpus
    (its contribution rides the same chain; df=0 → idf=ln(1+(N+0.5)/0.5),
    tf=0 → 0 contribution — never a crash or a dropped doc)."""
    from felixzh_flink_spark.operators.text import bm25_topk, bm25_topk_multi

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    bags = {0: ["vector", "stream", "window"],
            1: ["join", "hash", "merge"],
            2: ["scan", "nosuchtermever", "vector"]}
    got = {}
    for r in bm25_topk_multi(docs, bags, k=7).collect():
        got.setdefault(r.query_id, []).append((r.doc_id, r.bm25))
    for q in got:
        got[q].sort(key=lambda p: (-p[1], p[0]))
    assert set(got) == set(bags)
    for q, terms in bags.items():
        single = [(r.doc_id, r.bm25)
                  for r in bm25_topk(docs, terms, k=7).collect()]
        assert got[q] == single, q


def test_bm25_terms_and_identifiers_are_escaped(spark):
    """Terms and column names reach the SQL text as escaped literals and
    quoted identifiers: a quote, a backslash, braces (the DataFrame-
    placeholder formatter's syntax) and a backquote must score exactly as
    the plain-float reference of `test_bm25_matches_hand_reference`, in
    the single-query, batched and stats paths."""
    import math

    from felixzh_flink_spark.operators.text import (
        bm25_corpus_stats, bm25_topk, bm25_topk_multi)

    docs = [
        (1, "o'neil met o'neil at a\\b"),
        (2, "path a\\b and {x} then a\\b again"),
        (3, "plain words only here"),
        (4, "{x} `tick` o'neil"),
        (5, "oneil ab a\\\\b x"),
    ]
    df = spark.createDataFrame(docs, "`doc id` long, `the {text}` string")
    terms, k1, b = ["o'neil", "a\\b", "{x}", "`tick`"], 1.2, 0.75
    kw = dict(text_col="the {text}", id_col="doc id")
    toks = {i: t.lower().split() for i, t in docs}
    n = len(docs)
    avgdl = sum(len(v) for v in toks.values()) / n

    def score(i):
        s = 0.0
        for t in terms:
            tf = toks[i].count(t)
            dfr = sum(1 for v in toks.values() if t in v)
            idf = math.log(1 + (n - dfr + 0.5) / (dfr + 0.5))
            s += idf * (tf * (k1 + 1)) / (tf + k1 * (1 - b + b * len(toks[i]) / avgdl))
        return s

    ref = sorted(((score(i), i) for i in toks if score(i) > 0),
                 key=lambda x: (-x[0], x[1]))
    assert sorted(i for _, i in ref) == [1, 2, 4]
    stats = bm25_corpus_stats(df, terms, text_col="the {text}")
    assert stats == (sum(len(v) for v in toks.values()),
                     [sum(1 for v in toks.values() if t in v) for t in terms])
    for got in (bm25_topk(df, terms, k=5, k1=k1, b=b, n_docs=n, **kw),
                bm25_topk(df, terms, k=5, k1=k1, b=b, stats=stats, **kw)):
        rows = [(r["doc id"], r.bm25) for r in got.collect()]
        assert [i for i, _ in rows] == [i for _, i in ref]
        for (i, got_s), (ref_s, _) in zip(rows, ref):
            assert abs(got_s - ref_s) < 1e-9, (i, got_s, ref_s)
    multi = bm25_topk_multi(df, {7: terms, 8: ["{x}"]}, k=5, **kw)
    by_q = {}
    for r in multi.collect():
        by_q.setdefault(r.query_id, []).append((r["doc id"], r.bm25))
    assert sorted(by_q[7], key=lambda p: (-p[1], p[0])) == [
        (r["doc id"], r.bm25)
        for r in bm25_topk(df, terms, k=5, **kw).collect()]
    assert sorted(i for i, _ in by_q[8]) == [2, 4]


def test_bm25_multi_null_and_empty_texts(spark):
    """The batched path's posexplode_outer relies on `_scores` never
    being null or empty (one slot per query, whatever the text). NULL
    and '' documents tokenize to zero tokens: they count in N and add
    nothing to Σdl, never match, and never surface as rows — in
    particular no (NULL query_id, NULL bm25) row from an outer explode.
    A corpus of only such documents (avgdl = 0) returns no rows instead
    of an ANSI division-by-zero error."""
    from felixzh_flink_spark.operators.text import (
        bm25_corpus_stats, bm25_topk, bm25_topk_multi)

    docs = spark.createDataFrame(
        [(1, None), (2, ""), (3, "  "), (4, "hash join"), (5, "hash"),
         (6, None)], "doc_id long, text string")
    bags = {0: ["hash"], 1: ["join", "hash"], 2: ["absent"]}
    assert bm25_corpus_stats(docs, ["hash", "join"]) == (3, [2, 1])
    rows = bm25_topk_multi(docs, bags, k=10).collect()
    assert all(r.query_id is not None and r.bm25 is not None for r in rows)
    got = {}
    for r in rows:
        got.setdefault(r.query_id, []).append((r.doc_id, r.bm25))
    assert set(got) == {0, 1}
    for q in (0, 1):
        assert sorted(got[q], key=lambda p: (-p[1], p[0])) == [
            (r.doc_id, r.bm25) for r in bm25_topk(docs, bags[q]).collect()]
        assert {i for i, _ in got[q]} <= {4, 5}
    blank = docs.filter("doc_id IN (1, 2, 3, 6)")
    assert bm25_topk_multi(blank, bags, k=10).collect() == []
    assert bm25_topk(blank, ["hash"]).collect() == []


# ---------------------------------------------------------------- PII


def test_pii_scrub_typed_placeholders(spark):
    from felixzh_flink_spark.operators import text as TX
    df = spark.createDataFrame([
        (1, "mail bob.smith+x@corp.example.co phone 555-123-4567 "
            "ip 10.0.255.1 ssn 123-45-6789 done"),
    ], "doc_id long, text string")
    out = df.select(TX.pii_scrub("text").alias("t")).head()["t"]
    assert out == ("mail <EMAIL> phone <PHONE> ip <IP> ssn <SSN> done")


def test_pii_profile_counts_and_grammar_disjointness(spark):
    from felixzh_flink_spark.operators import text as TX
    df = spark.createDataFrame([
        # 2 emails, nothing else
        (1, "a@b.io and c.d@e-f.org say hi"),
        # an SSN is NOT a phone (3-2-4 vs 3-3-4) and vice versa
        (2, "ssn 078-05-1120 phone 555.840.1234"),
        # 256 is not a valid octet; 255 is
        (3, "bad 10.0.0.256 good 10.0.0.255"),
        # digit runs inside longer runs don't match (word boundaries)
        (4, "serial 12345-678-9012 not a phone"),
        (5, None),
    ], "doc_id long, text string")
    rows = {r["doc_id"]: r for r in TX.pii_profile(df).collect()}
    assert (rows[1]["n_email"], rows[1]["n_phone"],
            rows[1]["n_ip"], rows[1]["n_ssn"]) == (2, 0, 0, 0)
    assert (rows[2]["n_ssn"], rows[2]["n_phone"]) == (1, 1)
    assert rows[2]["n_ip"] == 0
    assert rows[3]["n_ip"] == 1
    assert rows[4]["n_phone"] == 0 and rows[4]["n_ssn"] == 0
    assert rows[5]["n_email"] is None  # null text stays null, not 0


def test_pii_scrub_never_rematches_placeholders(spark):
    from felixzh_flink_spark.operators import text as TX
    # a doc that is ALL pii collapses to placeholders only
    df = spark.createDataFrame(
        [(1, "x@y.zz 1.2.3.4 111-22-3333 222-333-4444")],
        "doc_id long, text string")
    out = df.select(TX.pii_scrub("text").alias("t")).head()["t"]
    assert out == "<EMAIL> <IP> <SSN> <PHONE>"


# ------------------------------------------------------- link extraction


def test_extract_links_resolution_policy(spark):
    from felixzh_flink_spark.operators import text as TX
    df = spark.createDataFrame([
        (1, "https://www.a.example/p/1",
         '<a href="https://b.example/x">1</a>'
         '<a href="/root/path">2</a>'
         '<a href="rel/page.html">3</a>'
         '<a href="javascript:void(0)">4</a>'
         '<a href="#frag">5</a>'
         '<a href="mailto:x@y.zz">6</a>'),
    ], "doc_id long, url string, html string")
    out = sorted(r["link"] for r in TX.extract_links(
        df, html_col="html", base_url_col="url").collect())
    assert out == ["https://b.example/x", "https://www.a.example/root/path"]
    # without a base column only absolute links survive
    out2 = [r["link"] for r in TX.extract_links(df, html_col="html").collect()]
    assert out2 == ["https://b.example/x"]


def test_link_domain_edges_distinct_and_self_drop(spark):
    from felixzh_flink_spark.operators import text as TX
    rows = [
        ("https://www.a.example/1", "https://sub.b.example/x"),
        ("https://www.a.example/2", "https://b.example/y"),   # same domain pair
        ("https://www.a.example/3", "https://other.a.example/z"),  # self
        ("https://c.example/1", "https://a.example/q"),
    ]
    df = spark.createDataFrame(rows, "url string, link string")
    edges = sorted(map(tuple, TX.link_domain_edges(df).collect()))
    assert edges == [("a.example", "b.example"), ("c.example", "a.example")]
    with_self = sorted(map(tuple, TX.link_domain_edges(
        df, drop_self=False).collect()))
    assert ("a.example", "a.example") in with_self
