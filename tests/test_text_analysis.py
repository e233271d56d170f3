"""Unit tests: language ID, quality scoring, fingerprinting."""

from pyspark.sql import Row

from nyctaxidatapipeline_spark.operators.text_analysis import (
    char_entropy,
    compression_ratio,
    corpus_report,
    fingerprint,
    fingerprint_dedup,
    language_id,
    quality_score,
    token_stats,
)


def test_language_id_rules(spark):
    df = spark.createDataFrame([
        Row(doc_id=0, text="the cat is on the mat and it is happy"),
        Row(doc_id=1, text="der hund ist nicht mit der katze"),
        Row(doc_id=2, text="el perro es un animal que corre por la calle"),
        Row(doc_id=3, text="le chien est dans une maison pour nous"),
        Row(doc_id=4, text="这是 一个 测试 文档"),
        Row(doc_id=5, text="xyzzy plugh quux"),
        Row(doc_id=6, text=""),
    ])
    got = {r.doc_id: r.pred_lang
           for r in language_id(df, "text").collect()}
    assert got == {0: "en", 1: "de", 2: "es", 3: "fr", 4: "zh",
                   5: "und", 6: "und"}


def test_token_stats_empty_text(spark):
    df = spark.createDataFrame([Row(doc_id=0, text="ab cde"),
                                Row(doc_id=1, text="   ")])
    got = {r.doc_id: (r.n_tokens, r.n_chars, r.avg_token_len)
           for r in token_stats(df, "text", "doc_id").collect()}
    assert got[0] == (2, 6, 2.5)
    assert got[1] == (0, 3, None)  # whitespace-only: no tokens, NULL avg


def test_quality_score_bounds(spark):
    df = spark.createDataFrame([
        Row(doc_id=0, text="the quick brown fox, it is fast! " * 20),
        Row(doc_id=1, text="zz"),
    ])
    got = {r.doc_id: r for r in quality_score(df, "text", "doc_id").collect()}
    assert 0.0 <= got[1].quality_score < got[0].quality_score <= 1.0
    assert got[0].length_score == 1.0  # capped at 100 tokens
    assert got[1].stopword_ratio == 0.0


def test_fingerprint_normalizes_case_and_space(spark):
    df = spark.createDataFrame([
        Row(doc_id=0, text="Hello   World"),
        Row(doc_id=1, text="hello world"),
        Row(doc_id=2, text="different entirely"),
    ])
    fps = {r.doc_id: r.fingerprint
           for r in fingerprint(df, "text", "doc_id").collect()}
    assert fps[0] == fps[1] != fps[2]
    dedup = {r.fingerprint: (r.doc_id, r.n_copies)
             for r in fingerprint_dedup(df, "text", "doc_id").collect()}
    assert dedup[fps[0]] == (0, 2)


def test_pii_stats_counts(spark):
    from pyspark.sql import Row

    from nyctaxidatapipeline_spark.operators.text_analysis import pii_stats

    df = spark.createDataFrame([
        Row(doc_id=1, text="mail a@b.co and c.d+x@e-f.org, "
                           "call 555-867-5309 or 555 123 4567"),
        Row(doc_id=2, text="server at 10.0.0.1 and 192.168.255.254"),
        Row(doc_id=3, text="ssn 123-45-6789 hides here"),
        Row(doc_id=4, text="nothing sensitive at all"),
    ])
    out = {r.doc_id: r for r in pii_stats(df, "text", "doc_id").collect()}
    assert (out[1].n_email, out[1].n_phone) == (2, 2)
    assert out[2].n_ipv4 == 2 and out[2].has_pii
    assert out[3].n_ssn == 1 and out[3].has_pii
    assert not out[4].has_pii
    assert (out[4].n_email, out[4].n_phone, out[4].n_ipv4,
            out[4].n_ssn) == (0, 0, 0, 0)


def test_repetition_stats_bigrams(spark):
    from nyctaxidatapipeline_spark.operators.text_analysis import (
        repetition_stats,
    )

    df = spark.createDataFrame([
        # "buy now buy now buy now" -> bigrams: [buy now, now buy, buy now,
        # now buy, buy now] = 5 total, 2 distinct, top "buy now" x3
        Row(doc_id=1, text="buy now buy now buy now"),
        Row(doc_id=2, text="all words here are unique"),
        Row(doc_id=3, text="one"),  # < 2 tokens: absent from output
    ])
    out = {r.doc_id: r
           for r in repetition_stats(df, "text", "doc_id", n=2).collect()}
    assert set(out) == {1, 2}
    assert (out[1].n_ngrams, out[1].n_distinct) == (5, 2)
    assert out[1].dup_ngram_frac == 0.6
    assert out[1].top_ngram_frac == 0.6
    assert (out[2].n_ngrams, out[2].n_distinct) == (4, 4)
    assert out[2].dup_ngram_frac == 0.0
    assert out[2].top_ngram_frac == 0.25


def test_pii_redact_placeholders(spark):
    from pyspark.sql import Row

    from nyctaxidatapipeline_spark.operators.text_analysis import pii_redact

    df = spark.createDataFrame([
        Row(doc_id=1, text="write a@b.co, dial 555-867-5309, "
                           "ping 10.0.0.1, ssn 123-45-6789"),
    ])
    red = pii_redact(df, "text").collect()[0].redacted
    assert red == ("write [EMAIL], dial [PHONE], "
                   "ping [IPV4], ssn [SSN]")


def test_pii_fast_paths_equal_per_pattern_formulation(spark):
    """The rlike-alternation flag equals sum(regexp_count) > 0, and the
    guarded redact chain equals the unguarded one — the speedups must
    never change a verdict or a byte."""
    from pyspark.sql import Row

    from nyctaxidatapipeline_spark.operators.text_analysis import (
        PII_PATTERNS,
        _pii_flag,
        pii_redact,
    )
    from pyspark.sql import functions as F

    df = spark.createDataFrame([
        Row(doc_id=1, text="clean prose with nothing sensitive at all"),
        Row(doc_id=2, text="mail a@b.co twice: c@d.org"),
        Row(doc_id=3, text="call 555-867-5309"),
        Row(doc_id=4, text="host 10.0.0.1 ssn 123-45-6789"),
        Row(doc_id=5, text=""),
    ])
    counts = sum([F.regexp_count("text", F.lit(p))
                  for p in PII_PATTERNS.values()], F.lit(0))
    rows = (df.select("doc_id", _pii_flag("text").alias("fast"),
                      (counts > 0).alias("slow"))
              .collect())
    assert all(r.fast == r.slow for r in rows)
    unguarded = F.col("text")
    for k, p in PII_PATTERNS.items():
        unguarded = F.regexp_replace(unguarded, p, f"[{k.upper()}]")
    rows = (pii_redact(df, "text")
            .withColumn("plain", unguarded).collect())
    assert all(r.redacted == r.plain for r in rows)


def test_normalize_text_rules(spark):
    """Every fold rule, the rule order (char folds before whitespace
    collapses), control-char stripping, and the final trim."""
    from pyspark.sql import Row

    from nyctaxidatapipeline_spark.operators.text_analysis import (
        normalize_text,
    )

    df = spark.createDataFrame([
        Row(doc_id=1, text="“Smart” ‘quotes’"),
        Row(doc_id=2, text="dash – and — here…"),
        Row(doc_id=3, text="nbsp joined  \t spaced"),
        Row(doc_id=4, text="ctrl\x07char\x1f gone"),
        Row(doc_id=5, text="  lines \n\n\n\n kept  \n trimmed \n"),
        Row(doc_id=6, text="already clean"),
    ])
    out = {r.doc_id: r for r in
           normalize_text(df, "text", "doc_id").collect()}
    assert out[1].text_norm == '"Smart" \'quotes\''
    assert out[2].text_norm == "dash - and - here..."
    assert out[3].text_norm == "nbsp joined spaced"
    assert out[4].text_norm == "ctrlchar gone"
    assert out[5].text_norm == "lines\n\nkept\ntrimmed"
    assert out[6].text_norm == "already clean"
    assert out[6].changed is False and out[1].changed is True
    assert out[3].n_chars == len("nbsp joined  \t spaced")
    assert out[3].n_chars_norm == len("nbsp joined spaced")


def test_winnow_shared_substring_guarantee(spark):
    """Winnowing guarantee (Schleimer et al.): any shared substring of
    length >= k + window - 1 yields >= 1 common fingerprint; disjoint
    texts share none."""
    from pyspark.sql import Row

    from nyctaxidatapipeline_spark.operators.text_analysis import (
        winnow_dedup_pairs,
        winnow_fingerprints,
    )

    shared = "the quick brown fox jumps over the lazy dog again"  # 49 > 22
    df = spark.createDataFrame([
        Row(doc_id=1, text="AAAA " + shared + " BBBB"),
        Row(doc_id=2, text="CCCC " + shared + " DDDD"),
        Row(doc_id=3, text="zzzz qqqq wwww 0123456789 xxxx yyyy vvvv"),
        Row(doc_id=4, text="short"),                 # < k chars -> nothing
    ])
    fps = winnow_fingerprints(df, "text", "doc_id", k=7, window=16)
    by_doc = {}
    for r in fps.collect():
        by_doc.setdefault(r["doc_id"], set()).add(r["fp"])
    assert by_doc[1] & by_doc[2], "shared passage must share a fingerprint"
    assert not (by_doc[1] & by_doc[3])
    assert 4 not in by_doc
    # deterministic under repartition
    fps2 = {(r["doc_id"], r["fp"]) for r in
            winnow_fingerprints(df.repartition(7), "text", "doc_id",
                                k=7, window=16).collect()}
    assert fps2 == {(r["doc_id"], r["fp"]) for r in fps.collect()}
    # pair expansion finds exactly the planted pair at min_shared=1
    pairs = winnow_dedup_pairs(df, "text", "doc_id", min_shared=1)
    assert [(r["id_a"], r["id_b"]) for r in pairs.collect()] == [(1, 2)]


def test_winnow_short_doc_single_min(spark):
    """Docs with fewer than `window` gram hashes emit exactly their
    global minimum fingerprint."""
    from pyspark.sql import Row

    from nyctaxidatapipeline_spark.operators.text_analysis import (
        winnow_fingerprints,
    )

    df = spark.createDataFrame([Row(doc_id=1, text="abcdefghij")])  # 4 grams
    rows = winnow_fingerprints(df, "text", "doc_id", k=7,
                               window=16).collect()
    assert len(rows) == 1


# --- HTML boilerplate stripping -------------------------------------------

def test_strip_html_drops_payloads_and_decodes(spark):
    from pyspark.sql import Row

    from nyctaxidatapipeline_spark.functions.text import strip_html

    df = spark.createDataFrame([Row(h=(
        '<html><head><style>p {color: red}</style></head>'
        '<body><h1>Title</h1><p>Hello &amp; &lt;world&gt;</p>'
        '<script type="text/javascript">var s = "<p>not text</p>";'
        '</script><!-- comment --> Tail &quot;q&quot; &#39;a&#39;'
        '</body></html>'))])
    got = df.select(strip_html("h").alias("t")).collect()[0]["t"]
    assert got == 'Title Hello & <world> Tail "q" \'a\''


def test_strip_html_malformed_degrades_to_whitespace(spark):
    from pyspark.sql import Row

    from nyctaxidatapipeline_spark.functions.text import strip_html

    df = spark.createDataFrame([
        Row(h="plain text, no markup"),
        Row(h="<p>unclosed <b>nested"),
        Row(h="a < b and c > d"),      # bare comparators survive...
    ])
    got = [r["t"] for r in
           df.select(strip_html("h").alias("t")).collect()]
    assert got[0] == "plain text, no markup"
    assert got[1] == "unclosed nested"
    # "< b and c >" parses as one pseudo-tag — the documented
    # degradation mode (extra whitespace, never an error)
    assert got[2] == "a d"


# --- URL features ----------------------------------------------------------

def test_url_features_parses_components(spark):
    from pyspark.sql import Row

    from nyctaxidatapipeline_spark.functions.url import url_features

    df = spark.createDataFrame([
        Row(k=1, url="https://user@www.sub.example.co:8080/a/b/c?x=1&y=2#f"),
        Row(k=2, url="http://example.org"),
        Row(k=3, url="not a url"),
        Row(k=4, url="ftp://files.example.net/pub/"),
    ])
    got = {r.k: r for r in url_features(df).collect()}
    r1 = got[1]
    assert (r1.scheme, r1.host, r1.domain) == (
        "https", "www.sub.example.co", "example.co")
    assert (r1.path_depth, r1.n_params, r1.is_https) == (3, 2, True)
    r2 = got[2]
    assert (r2.host, r2.path_depth, r2.n_params, r2.is_https) == (
        "example.org", 0, 0, False)
    r3 = got[3]
    assert (r3.scheme, r3.host, r3.path_depth) == ("", "", 0)
    assert (got[4].scheme, got[4].path_depth) == ("ftp", 1)


def test_ngram_novelty_scores(spark):
    """Planted duplicates score 0 novelty, unique docs 1, a doc sharing
    half its 2-grams scores the exact fraction; short docs get NULLs."""
    from pyspark.sql import Row

    from nyctaxidatapipeline_spark.operators.text_analysis import (
        ngram_novelty,
    )

    df = spark.createDataFrame([
        Row(doc_id=1, text="alpha beta gamma delta"),
        Row(doc_id=2, text="alpha beta gamma delta"),   # exact dup
        Row(doc_id=3, text="alpha beta zz unique tail"),
        Row(doc_id=4, text="totally different words here"),
        Row(doc_id=5, text="short"),                    # no 2-grams
    ])
    got = {r.doc_id: r for r in
           ngram_novelty(df, "text", "doc_id", n=2, min_df=2).collect()}
    assert got[1].novelty == 0.0 and got[2].novelty == 0.0
    # doc 3: grams {alpha beta, beta zz, zz unique, unique tail};
    # only "alpha beta" is shared -> novelty 3/4
    assert got[3].n_distinct_ngrams == 4 and got[3].n_common == 1
    assert got[3].novelty == 0.75
    assert got[4].novelty == 1.0
    assert got[5].n_distinct_ngrams is None and got[5].novelty is None


def test_normalize_text_idempotent(spark):
    """normalize(normalize(x)) == normalize(x) — the property that
    makes the pass safe to run at any pipeline stage (re-ingesting
    already-clean data must be a no-op). Checked over the fixture
    corpus AND adversarial synthetics."""
    from pyspark.sql import Row

    from nyctaxidatapipeline_spark.operators.text_analysis import (
        normalize_text_expr,
    )
    from pyspark.sql import functions as F

    from nyctaxidatapipeline_spark.sources import load_table

    synth = spark.createDataFrame([Row(text=t) for t in [
        "“a” – b… c", "x\n\n\n\ny", "a  \t b", " …… ", "-‘’-",
        "\x07\x1f", "", "plain"]])
    docs = (load_table(spark, "/root/testdata/sf0.001", "documents")
            .select("text"))
    for df in (synth, docs):
        once = normalize_text_expr("text")
        bad = (df.select(once.alias("n1"))
                 .select("n1", normalize_text_expr("n1").alias("n2"))
                 .filter(F.col("n1") != F.col("n2")))
        assert bad.isEmpty()


def test_canonical_url_idempotent(spark):
    """canonical(canonical(u)) == canonical(u): a canonical URL must
    survive re-canonicalization unchanged (dedup keys are stable)."""
    from pyspark.sql import Row

    from nyctaxidatapipeline_spark.functions.url import canonical_url
    from pyspark.sql import functions as F

    urls = [
        "https://www.Example.COM:443/a/b/?utm_source=x&b=2&a=1#f",
        "http://site.org:80//x//y/", "http://site.org:8080/x",
        "https://host.net./CaseKept?gclid=1", "https://u:p@h.net/q",
        "https://host.net", "not a url",
        "https://host.net/?z=1&a=2",
    ]
    df = spark.createDataFrame([Row(url=u) for u in urls])
    bad = (df.select(canonical_url("url").alias("c1"))
             .select("c1", canonical_url("c1").alias("c2"))
             .filter(F.col("c1") != F.col("c2")))
    assert bad.isEmpty()


def test_canonical_url_rules(spark):
    """Each canonicalization rule, plus the identity cases it must NOT
    touch (non-default port, non-tracking params, path case)."""
    from pyspark.sql import Row

    from nyctaxidatapipeline_spark.functions.url import canonical_url

    cases = {
        1: ("https://www.Example.COM:443/a/b/?utm_source=x&b=2&a=1#f",
            "https://example.com/a/b?a=1&b=2"),
        2: ("http://site.org:80//x//y/", "http://site.org/x/y"),
        3: ("http://site.org:8080/x", "http://site.org:8080/x"),
        4: ("https://host.net./CaseKept?gclid=1&fbclid=2&ref=h",
            "https://host.net/CaseKept"),
        5: ("https://u:p@host.net/q?msclkid=9", "https://host.net/q"),
        6: ("https://host.net", "https://host.net"),
        7: ("not a url", ""),
        8: ("https://host.net/?z=1&a=2&utm_campaign=c",
            "https://host.net?a=2&z=1"),
    }
    df = spark.createDataFrame(
        [Row(k=k, url=u) for k, (u, _) in cases.items()])
    got = {r.k: r.c for r in
           df.select("k", canonical_url("url").alias("c")).collect()}
    for k, (_, want) in cases.items():
        assert got[k] == want, (k, got[k], want)


def test_url_dedup_collapses_variants(spark):
    from pyspark.sql import Row

    from nyctaxidatapipeline_spark.functions.url import url_dedup

    df = spark.createDataFrame([
        Row(doc_id=1, url="https://www.s.com/p?utm_source=a&k=1"),
        Row(doc_id=2, url="https://s.com:443/p/?k=1"),
        Row(doc_id=3, url="https://s.com//p?k=1&gclid=z"),
        Row(doc_id=4, url="https://s.com/p?k=2"),          # distinct
    ])
    got = {r.canonical_url: (r.doc_id, r.n_copies)
           for r in url_dedup(df, "url", "doc_id").collect()}
    assert got["https://s.com/p?k=1"] == (1, 3)
    assert got["https://s.com/p?k=2"] == (4, 1)


def test_blocklist_stats_and_filter(spark):
    from pyspark.sql import Row

    from nyctaxidatapipeline_spark.operators.text_analysis import (
        blocklist_filter,
        blocklist_stats,
    )

    df = spark.createDataFrame([
        Row(doc_id=1, text="clean prose with useful words only"),
        Row(doc_id=2, text="BADWORD appears once in long enough text "
                           "so the ratio stays small here truly"),
        Row(doc_id=3, text="badword badword badword"),
        Row(doc_id=4, text=""),
    ])
    got = {r["doc_id"]: r
           for r in blocklist_stats(df, ["BadWord"], "text", "doc_id",
                                    max_ratio=0.1).collect()}
    assert got[1]["n_blocked"] == 0 and got[1]["keep"]
    # case-insensitive exact token match; 1/14 < 0.1 -> kept
    assert got[2]["n_blocked"] == 1 and got[2]["keep"]
    assert got[3]["n_blocked"] == 3 and not got[3]["keep"]
    # empty doc: NULL ratio, kept
    assert got[4]["blocked_ratio"] is None and got[4]["keep"]
    kept = {r["doc_id"]
            for r in blocklist_filter(df, ["badword"], "text", "doc_id",
                                      max_ratio=0.1).collect()}
    assert kept == {1, 2, 4}
    # C4 default: one hit kills
    strict = {r["doc_id"]
              for r in blocklist_filter(df, ["badword"], "text",
                                        "doc_id").collect()}
    assert strict == {1, 4}
    import pytest as _pytest
    with _pytest.raises(ValueError):
        blocklist_stats(df, [], "text", "doc_id")


def test_char_entropy_known_values(spark):
    import math
    df = spark.createDataFrame([
        Row(doc_id=0, text="aab"),      # runs 2,1 -> H = log2(3) - (2*1)/3
        Row(doc_id=1, text="aaaa"),     # one run  -> H = -0.0 -> +0.0
        Row(doc_id=2, text="abcd"),     # uniform  -> H = 2.0
        Row(doc_id=3, text=""),         # empty    -> NULL entropy
        Row(doc_id=4, text=None),       # NULL     -> treated as empty
    ])
    got = {r.doc_id: (r.n_chars, r.n_unique_chars, r.entropy)
           for r in char_entropy(df, "text", "doc_id").collect()}
    assert got[0] == (3, 2, round(math.log2(3) - 2.0 / 3.0, 6))
    assert got[1] == (4, 1, 0.0)
    assert not math.copysign(1.0, got[1][2]) < 0  # +0.0, not -0.0
    assert got[2] == (4, 4, 2.0)
    assert got[3] == (0, 0, None)
    assert got[4] == (0, 0, None)


def test_char_entropy_matches_python_reference(spark):
    """Property: engine output == a direct -sum(p log2 p) reference on
    arbitrary-ish strings (incl. multi-byte BMP chars)."""
    import math
    from collections import Counter

    texts = ["hello world", "ééßß√√", "the quick brown fox", "zz  zz  zz",
             "0123456789" * 7, "mixed CASE and\tws\nlines"]
    df = spark.createDataFrame(
        [Row(doc_id=i, text=t) for i, t in enumerate(texts)])
    got = {r.doc_id: r.entropy
           for r in char_entropy(df, "text", "doc_id").collect()}
    for i, t in enumerate(texts):
        n = len(t)
        ref = -sum((c / n) * math.log2(c / n)
                   for c in Counter(t).values())
        assert got[i] == round(ref, 6) + 0.0, t


def test_compression_ratio_orders_redundancy(spark):
    df = spark.createDataFrame([
        Row(doc_id=0, text="a" * 400),                     # ultra-redundant
        Row(doc_id=1, text="the cat sat on the mat " * 20),
        Row(doc_id=2, text=""),                            # NULL ratio
    ])
    got = {r.id: r for r in
           compression_ratio(df, "text", "doc_id").collect()}
    assert got[0].raw_bytes == 400 and got[0].zlib_bytes < 30
    assert got[0].ratio < got[1].ratio < 1.0
    assert got[2].ratio is None and got[2].raw_bytes == 0


def test_corpus_report_percentiles_read_one_buffer(spark):
    """p50 and p95 come off ONE percentile aggregate, with the exact
    interpolated values two scalar percentiles gave."""
    import re

    df = spark.createDataFrame([Row(doc_id=i, text=" ".join(["word"] * i))
                                for i in range(1, 21)])
    out = corpus_report(df, "text", "doc_id")
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert len(re.findall(r"\bpercentile\(", plan)) == 1, plan
    assert out.columns == ["n_docs", "n_tokens", "avg_tokens",
                           "p50_tokens", "p95_tokens", "ascii_ratio",
                           "avg_stopword_ratio"]
    r = out.first()
    assert (r.n_docs, r.n_tokens, r.avg_tokens) == (20, 210, 10.5)
    assert (r.p50_tokens, r.p95_tokens) == (10.5, 19.05)
