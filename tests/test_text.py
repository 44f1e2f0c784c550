"""Text-analysis functions (SURVEY.md §7.1 step 6a)."""

import pytest
from pyspark.sql import functions as F

from meta_frame_spark.functions.text import (
    bpe_token_count,
    language_id,
    quality_score,
    token_count,
)
from meta_frame_spark.operators.dedup import ngram_jaccard_pairs


def test_token_counts(spark):
    df = spark.createDataFrame(
        [("hello world",), ("don't stop, it's 42km!",), ("",)], ["text"]
    )
    rows = df.select(
        token_count("text").alias("ws"), bpe_token_count("text").alias("bpe")
    ).collect()
    assert [r.ws for r in rows] == [2, 4, 0]
    # "don't stop, it's 42km!" -> don | ' | t | stop | , | it | ' | s | 42 | km | !
    assert rows[1].bpe == 11
    assert rows[2].bpe == 0


def test_quality_score_bounds(spark, documents):
    stats = documents.select(quality_score("text").alias("q")).agg(
        F.min("q").alias("lo"), F.max("q").alias("hi")
    ).collect()[0]
    assert 0.0 <= stats.lo <= stats.hi <= 1.0


def test_language_id_obvious(spark):
    df = spark.createDataFrame(
        [
            ("the cat is in the house and it is warm", "en"),
            ("le chat est dans la maison et il est chaud", "fr"),
            ("der Hund ist in dem Haus und er ist warm", "de"),
            ("xyzzy plugh", "und"),
        ],
        ["text", "expect"],
    )
    bad = df.withColumn("pred", language_id("text")).filter(
        F.col("pred") != F.col("expect")
    )
    assert bad.count() == 0


def test_ngram_jaccard_identical_and_disjoint(spark):
    df = spark.createDataFrame(
        [
            (1, "a b c d e f"),
            (2, "a b c d e f"),
            (3, "q r s t u v"),
        ],
        ["doc_id", "text"],
    )
    cands = spark.createDataFrame([(1, 2), (1, 3)], ["id_a", "id_b"])
    got = {
        (r.id_a, r.id_b): r.jaccard
        for r in ngram_jaccard_pairs(df, cands, shingle_n=3, threshold=0.0).collect()
    }
    assert got[(1, 2)] == 1.0
    assert got[(1, 3)] == 0.0


def test_normalize_text_variants_collide(spark):
    from meta_frame_spark.functions.text import normalize_text, normalize_text_unicode

    df = spark.createDataFrame(
        [("  Hello\t WORLD  ",), ("hello world",), (None,)], ["t"]
    )
    got = [r.n for r in df.select(normalize_text("t").alias("n")).collect()]
    assert got[0] == got[1] == "hello world"
    assert got[2] is None

    # NFC: combining acute (e + U+0301) == precomposed é
    df2 = spark.createDataFrame([("Café",), ("Café",)], ["t"])
    u = [r.n for r in df2.select(normalize_text_unicode("t").alias("n")).collect()]
    assert u[0] == u[1] == "café"


def test_redact_pii_all_kinds(spark):
    from meta_frame_spark.functions.text import redact_pii

    df = spark.createDataFrame(
        [("mail bob@ex.com site https://x.io/a?b=1 ip 10.0.0.1 tel +1 (555) 010-0199 end",)],
        ["t"],
    )
    got = df.select(redact_pii("t").alias("r")).collect()[0].r
    assert got == "mail <EMAIL> site <URL> ip <IP> tel <PHONE> end"

    only_email = df.select(redact_pii("t", kinds=["email"]).alias("r")).collect()[0].r
    assert "<EMAIL>" in only_email and "https://x.io" in only_email


def test_repetition_stats(spark):
    from meta_frame_spark.functions.text import with_repetition_stats

    df = spark.createDataFrame(
        [
            (1, "spam ham spam ham spam ham"),   # "spam ham" bigram x3
            (2, "a b c d e"),                    # all bigrams unique
            (3, "one"),                          # no bigrams
            (4, ""),                             # no tokens
        ],
        ["doc_id", "text"],
    )
    rows = {r.doc_id: r for r in with_repetition_stats(df).collect()}
    assert rows[1].top_bigram_count == 3
    assert rows[1].n_tokens == 6
    assert abs(rows[1].distinct_token_frac - 2 / 6) < 1e-9
    assert rows[2].top_bigram_count == 1
    assert rows[3].top_bigram_count == 0 and rows[3].n_tokens == 1
    assert rows[4].n_tokens == 0 and rows[4].distinct_token_frac is None


def test_token_counts_and_vocab_topk(spark):
    import pytest

    from meta_frame_spark.operators.vocab import token_counts, vocab_topk

    df = spark.createDataFrame(
        [
            (1, "the cat sat on the mat"),
            (2, "The cat   ran"),   # case folding + multi-space
            (3, "solo"),            # shorter than a bigram
            (4, ""),                # no tokens at all
        ],
        ["doc_id", "text"],
    )

    uni = {
        r.token: (r.n_occurrences, r.n_docs)
        for r in token_counts(df, "text", "doc_id", n=1).collect()
    }
    assert uni["the"] == (3, 2)     # twice in doc 1, once (folded) in doc 2
    assert uni["cat"] == (2, 2)
    assert uni["solo"] == (1, 1)
    assert "" not in uni            # \S+ extraction yields no empty tokens

    bi = {
        r.token: (r.n_occurrences, r.n_docs)
        for r in token_counts(df, "text", "doc_id", n=2).collect()
    }
    assert bi["the cat"] == (2, 2)
    assert bi["cat sat"] == (1, 1)
    assert not any("solo" in t for t in bi)   # 1-token doc -> no bigrams

    # min_count trims the tail post-aggregation
    trimmed = token_counts(df, "text", "doc_id", n=1, min_count=2)
    assert {r.token for r in trimmed.collect()} == {"the", "cat"}

    # deterministic top-k: count desc then token asc, stable on rerun
    top = [r.token for r in vocab_topk(df, "text", "doc_id", k=3, n=1).collect()]
    assert top[0] == "the" and top[1] == "cat"
    assert top == [
        r.token for r in vocab_topk(df, "text", "doc_id", k=3, n=1).collect()
    ]

    with pytest.raises(ValueError):
        token_counts(df, "text", "doc_id", n=0)


def test_shingle_fingerprint_portable(spark):
    import hashlib

    from meta_frame_spark.functions.text import shingle_fingerprint

    df = spark.createDataFrame(
        [
            (1, "The quick  brown Fox jumps over"),  # case+space fold
            (2, "one two three four"),               # exactly one 4-gram
            (3, "too short here"),                   # < 4 tokens -> null
            (4, ""),                                 # empty -> null
        ],
        ["doc_id", "text"],
    )
    got = {
        r.doc_id: r.fp
        for r in df.select(
            "doc_id", shingle_fingerprint("text").alias("fp")
        ).collect()
    }

    def py_fp(text):
        toks = text.lower().split()
        grams = [" ".join(toks[i : i + 4]) for i in range(len(toks) - 3)]
        if not grams:
            return None
        return min(int(hashlib.md5(g.encode()).hexdigest()[:8], 16) for g in grams)

    for i, t in [(1, "The quick  brown Fox jumps over"),
                 (2, "one two three four"), (3, "too short here"), (4, "")]:
        assert got[i] == py_fp(t), i


def test_canonical_url_and_host(spark):
    from meta_frame_spark.functions.web import canonical_url, url_host

    cases = [
        # (input, expected canonical, expected host)
        ("HTTP://Example.com:80/a?utm_source=x&b=1#frag",
         "http://example.com/a?b=1", "example.com"),
        ("https://Ex.COM:443/p?z=2&a=1", "https://ex.com/p?a=1&z=2", "ex.com"),
        ("https://ex.com:8080/p", "https://ex.com:8080/p", "ex.com"),  # real port kept
        ("http://ex.com/?utm_a=1&utm_b=2", "http://ex.com/", "ex.com"),  # all params dropped
        ("http://ex.com", "http://ex.com", "ex.com"),                  # bare host
        ("not a url", "not a url", None),                              # passthrough
        (None, None, None),
    ]
    df = spark.createDataFrame(
        [(i, u) for i, (u, _, _) in enumerate(cases)], ["i", "u"]
    )
    got = {
        r.i: (r.c, r.h)
        for r in df.select(
            "i", canonical_url("u").alias("c"), url_host("u").alias("h")
        ).collect()
    }
    for i, (u, want_c, want_h) in enumerate(cases):
        assert got[i] == (want_c, want_h), (i, u, got[i])


def test_language_scores_margin_semantics(spark):
    from meta_frame_spark.functions.text import language_scores

    rows = [
        (0, "the cat is on the mat and it is flat"),   # clear en
        (1, "la de la de un"),                         # fr/es exact tie
        (2, "zzz qqq xxx"),                            # no stopwords
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    got = {r.doc_id: (r.ls.lang, r.ls.hits, r.ls.margin)
           for r in df.select("doc_id", language_scores("text").alias("ls")).collect()}
    assert got[0][0] == "en" and got[0][1] >= 4 and got[0][2] >= 3
    # fr and es tie ('la','de','un','una' shared): declared order wins,
    # margin must be 0 — exactly what a precision gate should reject
    assert got[1][0] == "fr" and got[1][2] == 0
    assert got[2] == ("und", 0, 0)


def test_language_id_equals_language_scores_winner(spark, documents):
    """language_id delegates to language_scores — the two surfaces can
    never disagree on the winner (pinned over the real corpus)."""
    from meta_frame_spark.functions.text import language_id, language_scores

    mismatch = (
        documents.select(
            language_id("text").alias("a"),
            language_scores("text")["lang"].alias("b"),
        )
        .filter("a != b")
        .count()
    )
    assert mismatch == 0


def test_strip_html_tags_scripts_entities(spark):
    from meta_frame_spark.functions.text import normalize_text, strip_html

    df = spark.createDataFrame(
        [
            ('<p>Hello <b>world</b></p>',),
            ('<!-- hidden -->visible<script>if (a < b) { alert("x"); }'
             '</script> text',),
            ('<style type="text/css">p { color: red; }</style>styled',),
            ('fish &amp; chips &lt;3 &quot;quoted&quot; &#39;s&nbsp;end',),
            ('a</p><p>b',),  # tag boundary must not fuse words
            ('plain text, no markup',),
            (None,),
        ],
        ["text"],
    )
    out = [
        r.clean
        for r in df.select(
            normalize_text(strip_html("text")).alias("clean")
        ).collect()
    ]
    assert out == [
        "hello world",
        "visible text",
        "styled",
        'fish & chips <3 "quoted" \'s end',
        "a b",
        "plain text, no markup",
        None,
    ]


def test_strip_html_double_escape_not_redecoded(spark):
    from meta_frame_spark.functions.text import strip_html

    df = spark.createDataFrame([("literal &amp;lt; stays",)], ["text"])
    assert df.select(
        strip_html("text").alias("c")
    ).collect()[0].c == "literal &lt; stays"


def test_containment_asymmetric_quote(spark):
    from meta_frame_spark.operators.dedup import containment_pairs

    long_doc = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    short_doc = "gamma delta epsilon zeta eta"  # quoted whole from long
    other = "one two three four five six seven"
    df = spark.createDataFrame(
        [(1, long_doc), (2, short_doc), (3, other)], ["doc_id", "text"]
    )
    cands = spark.createDataFrame(
        [(1, 2), (1, 3), (2, 3)], ["id_a", "id_b"]
    )
    out = {(r.id_a, r.id_b): (r.cont_ab, r.cont_ba)
           for r in containment_pairs(df, cands, shingle_n=3,
                                      threshold=0.5).collect()}
    # short doc fully contained in long: cont_ba = 1.0; Jaccard would
    # only be 3/8 and a symmetric threshold of 0.5 would miss it
    assert set(out) == {(1, 2)}
    ab, ba = out[(1, 2)]
    assert ba == 1.0 and ab < 0.5


def test_containment_short_doc_no_div_by_zero(spark):
    from meta_frame_spark.operators.dedup import containment_pairs

    df = spark.createDataFrame(
        [(1, "too short"), (2, "also tiny")], ["doc_id", "text"]
    )
    cands = spark.createDataFrame([(1, 2)], ["id_a", "id_b"])
    # both docs have < shingle_n tokens -> empty sets -> containment 0,
    # pair filtered, and no ANSI divide-by-zero error
    assert containment_pairs(df, cands, shingle_n=5).count() == 0


def test_char_entropy_ordering_and_edges(spark):
    import math

    from meta_frame_spark.functions.text import char_entropy

    df = spark.createDataFrame(
        [
            ("aaaaaaaa",),          # zero entropy
            ("abababab",),          # exactly ln(2)
            ("the quick brown fox jumps over the lazy dog",),
            ("",),                  # empty -> 0.0
            (None,),                # null -> null
        ],
        ["text"],
    )
    vals = [r.e for r in df.select(char_entropy("text").alias("e")).collect()]
    assert vals[0] == 0.0
    assert abs(vals[1] - math.log(2)) < 1e-12
    assert vals[2] > 2.5  # natural prose
    assert vals[3] == 0.0
    assert vals[4] is None


def test_script_profile_ratios_sum_to_one(spark):
    from meta_frame_spark.functions.text import script_profile

    df = spark.createDataFrame(
        [("Hello мир 123 你好",), ("ελληνικά نص हिंदी",), ("!!!",)], ["t"]
    )
    for r in df.select(script_profile("t").alias("s")).collect():
        total = sum(r.s)
        assert abs(total - 1.0) < 1e-9
        assert all(0.0 <= v <= 1.0 for v in r.s)
    one = df.limit(1).select(script_profile("t").alias("s")).collect()[0].s
    assert one.latin > 0 and one.cyrillic > 0 and one.cjk > 0 and one.digit > 0


def test_near_dedup_against_drops_cross_corpus_dups(spark):
    from meta_frame_spark.operators.dedup import near_dedup_against

    corpus_doc = ("the quick brown fox jumps over the lazy dog and then "
                  "runs far away into the deep dark forest tonight")
    near_copy = ("the quick brown fox jumps over the lazy dog and then "
                 "runs far away into the deep dark forest today")
    fresh = ("completely different content about spark partitions and "
             "shuffle boundaries in distributed query engines overall")
    corpus = spark.createDataFrame([(1, corpus_doc)], ["doc_id", "text"])
    batch = spark.createDataFrame(
        [(100, near_copy), (101, fresh), (102, corpus_doc)],
        ["doc_id", "text"],
    )
    kept = {r.doc_id for r in near_dedup_against(
        batch, corpus, threshold=0.5, num_hashes=64, num_bands=32,
        shingle_n=3,
    ).collect()}
    # exact copy and near copy both dropped; fresh doc survives
    assert kept == {101}


def test_keep_best_per_cluster_priority_keeper(spark):
    from meta_frame_spark.operators.dedup import keep_best_per_cluster

    df = spark.createDataFrame(
        [
            (1, "short", 5),
            (2, "the long best copy", 18),   # cluster {1,2,3}: max len
            (3, "medium copy", 11),
            (9, "untouched solo doc", 18),
        ],
        ["doc_id", "text", "n_chars"],
    )
    pairs = spark.createDataFrame([(1, 2), (2, 3)], ["id_a", "id_b"])
    kept = {r.doc_id for r in
            keep_best_per_cluster(df, pairs, priority="n_chars").collect()}
    assert kept == {2, 9}  # best-quality wins, not min id; solo survives

    # tie on priority -> tiebreak ascending id
    tie_pairs = spark.createDataFrame([(2, 9)], ["id_a", "id_b"])
    kept2 = {r.doc_id for r in
             keep_best_per_cluster(df, tie_pairs, priority="n_chars").collect()}
    assert 2 in kept2 and 9 not in kept2


def test_vocab_drift_detects_planted_mover(spark):
    from meta_frame_spark.operators.vocab import vocab_drift

    a = spark.createDataFrame(
        [(i, "common words here plus newterm newterm") for i in range(10)],
        ["doc_id", "text"],
    )
    b = spark.createDataFrame(
        [(i, "common words here plus oldterm oldterm") for i in range(10)],
        ["doc_id", "text"],
    )
    out = vocab_drift(a, b, k=4, min_count=5).collect()
    by_term = {r.term: r for r in out}
    assert set(by_term) >= {"newterm", "oldterm"}
    assert by_term["newterm"].log_ratio > 0 > by_term["oldterm"].log_ratio
    assert by_term["newterm"].cnt_a == 20 and by_term["newterm"].cnt_b == 0
    # stable words score ~0 and rank below the movers
    ranks = sorted(out, key=lambda r: r.rank)
    assert {ranks[0].term, ranks[1].term} == {"newterm", "oldterm"}


def test_split_sentences_edges(spark):
    from meta_frame_spark.functions.text import split_sentences

    df = spark.createDataFrame(
        [
            ("One. Two two! Three?  ",),
            ("no terminators here",),
            ("trailing fragment. unfinished",),
            ("!!!",),   # only terminators -> no sentence content
            ("",),
            (None,),
        ],
        ["t"],
    )
    out = [r.s for r in df.select(split_sentences("t").alias("s")).collect()]
    assert out[0] == ["One.", "Two two!", "Three?"]
    assert out[1] == ["no terminators here"]
    assert out[2] == ["trailing fragment.", "unfinished"]
    assert out[3] == []
    assert out[4] == []
    assert out[5] is None


def test_keep_best_per_cluster_custom_tiebreak(spark):
    from meta_frame_spark.operators.dedup import keep_best_per_cluster

    df = spark.createDataFrame(
        [(1, 10, 5), (2, 10, 3), (3, 10, 9)],  # equal priority
        ["doc_id", "quality", "crawl_ts"],
    )
    pairs = spark.createDataFrame([(1, 2), (2, 3)], ["id_a", "id_b"])
    kept = {r.doc_id for r in keep_best_per_cluster(
        df, pairs, priority="quality", tiebreak="crawl_ts").collect()}
    assert kept == {2}  # lowest crawl_ts wins the tie


def test_keep_best_tie_and_solo(spark):
    # priority tie resolves by tiebreak asc; solo docs survive untouched
    from meta_frame_spark.operators.dedup import keep_best_per_cluster

    df = spark.createDataFrame(
        [
            (1, "short", 5),
            (2, "the long best copy", 18),
            (3, "medium copy", 11),
            (7, "tied copy a", 11),
            (8, "tied copy b", 11),
            (9, "untouched solo doc", 18),
        ],
        ["doc_id", "text", "n_chars"],
    )
    pairs = spark.createDataFrame([(1, 2), (2, 3), (7, 8)], ["id_a", "id_b"])
    kept = {r.doc_id for r in
            keep_best_per_cluster(df, pairs, priority="n_chars").collect()}
    assert kept == {2, 7, 9}


def test_script_profile_null_stays_null(spark):
    from meta_frame_spark.functions.text import script_profile

    df = spark.createDataFrame([(None,), ("",)], "t string")
    rows = df.select(script_profile("t").alias("s")).collect()
    assert rows[0].s is None          # null text -> null struct
    assert rows[1].s.other == 0.0     # empty text -> zero profile


def test_pmi_collocations_hand_computed(spark):
    """Corpus 'a b a b' + 'b a': bigrams ab,ba,ab / ba -> N=4,
    pairs ab:2 ba:2, n_left a:2 b:2, n_right b:2 a:2 -> both PMI
    ln(2*4/4)=ln2; ties order (a,b) before (b,a)."""
    import math

    from meta_frame_spark.operators.vocab import pmi_collocations

    df = spark.createDataFrame(
        [(1, "a b a b"), (2, "b a")], ["doc_id", "text"]
    )
    rows = pmi_collocations(df, k=10, min_count=1).collect()
    assert [(r.w1, r.w2, r.rank) for r in rows] == [
        ("a", "b", 1), ("b", "a", 2)
    ]
    for r in rows:
        assert r.n_pair == 2 and r.n_left == 2 and r.n_right == 2
        assert r.pmi == round(math.log(2.0), 6)


def test_pmi_collocations_min_count_keeps_marginals_calibrated(spark):
    """min_count drops the pair row but its mass still counts in the
    marginals: 'x y' appears once and is filtered at min_count=2, yet
    n_left('x')/n_right('y') of surviving pairs still include it."""
    import math

    from meta_frame_spark.operators.vocab import pmi_collocations

    df = spark.createDataFrame(
        [(1, "x z x z"), (2, "x y")], ["doc_id", "text"]
    )
    # bigrams: (x,z),(z,x),(x,z),(x,y) -> N=4; xz:2, zx:1, xy:1
    rows = pmi_collocations(df, k=10, min_count=2).collect()
    assert [(r.w1, r.w2) for r in rows] == [("x", "z")]
    r = rows[0]
    assert r.n_left == 3    # x opens xz twice AND xy once
    assert r.n_right == 2   # z closes xz twice
    assert r.pmi == round(math.log(2 * 4 / (3 * 2)), 6)


def test_pmi_collocations_deterministic_under_repartition(spark):
    from meta_frame_spark.operators.vocab import pmi_collocations

    df = spark.createDataFrame(
        [(i, f"t{i % 3} t{(i + 1) % 3} common pair common pair")
         for i in range(30)],
        ["doc_id", "text"],
    )
    a = [tuple(r) for r in pmi_collocations(df, k=5).collect()]
    b = [tuple(r) for r in pmi_collocations(df.repartition(7), k=5).collect()]
    assert a == b and len(a) == 5
    import pytest

    with pytest.raises(ValueError, match="min_count"):
        pmi_collocations(df, min_count=0)


def test_readability_stats_hand_computed(spark):
    from meta_frame_spark.functions.text import readability_stats

    df = spark.createDataFrame(
        [(1, "The cat sat. The dog ran!"),   # 6 words, 2 sents, 6 syll
         (2, "xyz"),                          # vowelless word -> 1 syll
         (3, "   ")],                         # wordless -> NULLs
        ["doc_id", "text"],
    )
    out = {r.doc_id: r for r in readability_stats(df).collect()}
    r1 = out[1]
    assert (r1.n_words, r1.n_sents, r1.n_syll) == (6, 2, 6)
    assert r1.flesch == round(206.835 - 1.015 * 3.0 - 84.6 * 1.0, 4)
    assert r1.fk_grade == round(0.39 * 3.0 + 11.8 * 1.0 - 15.59, 4)
    r2 = out[2]
    assert (r2.n_words, r2.n_sents, r2.n_syll) == (1, 1, 1)
    r3 = out[3]
    assert r3.n_words == 0 and r3.n_syll is None
    assert r3.flesch is None and r3.fk_grade is None


def test_gopher_rules_hand_computed(spark):
    """Per-rule flags on hand-built documents that fail exactly one
    rule each (Rae et al. 2021 thresholds)."""
    from meta_frame_spark.functions.text import with_gopher_rules

    good = ("the quick brown fox jumps over the lazy dog and that "
            "nimble cat with a big leap of joy today ") * 3  # 60 words
    docs = [
        (1, good),
        (2, "the of and that have with be to"),            # < 50 words
        (3, good + " ##### " * 20),                        # hash ratio
        (4, "\n".join(["- item " + good[:40]] * 10)),      # bullets (and <50w)
        (5, None),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    out = {r.doc_id: r for r in with_gopher_rules(df).collect()}

    g = out[1]
    assert g.n_words == 60
    assert g.r_word_count and g.r_mean_word_len and g.r_hash_ratio
    assert g.r_bullet_lines and g.r_ellipsis_lines and g.r_alpha_words
    assert g.r_stopwords and g.gopher_pass
    # hand-check two measurements
    toks = good.split()
    assert g.mean_word_len == round(sum(len(t) for t in toks) / len(toks), 4)
    assert g.stop_hits == len(
        {"the", "of", "and", "that", "with", "a"} & {
            "the", "be", "to", "of", "and", "that", "have", "with"})

    assert not out[2].r_word_count and not out[2].gopher_pass
    assert out[2].r_stopwords  # 8 distinct required stopwords present

    assert not out[3].r_hash_ratio and not out[3].gopher_pass
    assert out[3].hash_ratio > 0.1

    assert not out[4].r_bullet_lines
    assert out[4].bullet_line_frac == 1.0

    n = out[5]
    assert n.n_words is None and n.gopher_pass is None
    assert n.mean_word_len is None and n.stop_hits is None


def test_gopher_rules_ellipsis_and_alpha(spark):
    from meta_frame_spark.functions.text import with_gopher_rules

    base = ("the data be flowing to all of them and that stream have "
            "kept pace with demand across every region this year ") * 3
    docs = [
        (1, "\n".join([base[:60] + "..."] * 10)),   # every line ends ...
        (2, " ".join(["12345"] * 60) + " the of"),  # words mostly no alpha
        (3, base + " " + "… " * 20),                # ellipsis char ratio
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    out = {r.doc_id: r for r in with_gopher_rules(df).collect()}
    assert out[1].ellipsis_line_frac == 1.0 and not out[1].r_ellipsis_lines
    assert out[2].alpha_word_frac < 0.8 and not out[2].r_alpha_words
    assert out[3].ellipsis_ratio > 0.1 and not out[3].r_ellipsis_ratio


def test_fix_encoding_repairs_common_mojibake(spark):
    from meta_frame_spark.functions.text import fix_encoding

    cases = [
        ("CafÃ© au lait", "Café au lait"),
        ("itâ€™s â€œquotedâ€¦", "it’s “quoted…"),
        ("naÃ¯ve rÃ©sumÃ© â€” done", "naïve résumé — done"),
        ("Â«guillemetsÂ» at 20Â°C", "«guillemets» at 20°C"),
        ("price â‚¬9 â€¢ sold", "price €9 • sold"),
        ("plain ascii stays", "plain ascii stays"),
        (None, None),
    ]
    df = spark.createDataFrame(
        [(i, s) for i, (s, _) in enumerate(cases)], "i long, text string"
    )
    got = {r.i: r.fixed for r in df.select(
        "i", fix_encoding("text").alias("fixed")).collect()}
    for i, (_, want) in enumerate(cases):
        assert got[i] == want, (i, got[i], want)


def test_fix_encoding_table_is_codec_true():
    """Every pair really is the UTF-8-as-cp1252 misread of its target,
    longest-first so 3-byte sequences never get clipped."""
    from meta_frame_spark.functions.text import MOJIBAKE_PAIRS

    lens = [len(m) for m, _ in MOJIBAKE_PAIRS]
    assert lens == sorted(lens, reverse=True)
    for moji, fixed in MOJIBAKE_PAIRS:
        assert fixed.encode("utf-8").decode("cp1252") == moji


def test_repetition_rules_hand_computed(spark):
    """Gopher Table-A1 repetition measurements on hand-built docs,
    each value checked against a by-hand calculation under the frozen
    definitions (excess occurrences; char-heaviest top gram among
    count ties; raw length(text) denominator for gram fracs)."""
    from meta_frame_spark.functions.text import with_repetition_rules

    docs = [
        (1, "alpha beta\nalpha beta\ngamma delta"),
        (2, "para one text here\n\npara one text here\n\nother para"),
        (3, "spam ham spam ham spam ham spam ham"),
        (4, None),
        (5, ""),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    out = {r.doc_id: r for r in with_repetition_rules(df).collect()}

    d1 = out[1]
    # 3 lines, 2 distinct -> 1/3; excess chars 10 of 31
    assert d1.dup_line_frac == round(1 / 3, 6)
    assert d1.dup_line_char_frac == round(10 / 31, 6)
    assert d1.dup_para_frac == 0.0
    # top 2gram 'alpha beta' count 2, len 10; L = 33
    assert d1.top_2gram_char_frac == round(20 / 33, 6)
    assert not d1.r_top_2gram_char_frac and not d1.repetition_pass

    d2 = out[2]
    assert d2.dup_para_frac == round(1 / 3, 6)
    # excess para chars 18 of (18 + 18 + 10)
    assert d2.dup_para_char_frac == round(18 / 46, 6)

    d3 = out[3]
    # 'spam ham spam ham spam' (len 22, x2) and 'ham spam ham spam ham'
    # (len 21, x2) -> excess (1*22 + 1*21) / L=35; overlap makes > 1
    assert d3.dup_5gram_char_frac == round(43 / 35, 6)
    assert not d3.r_dup_5gram_char_frac

    assert out[4].dup_line_frac is None
    assert out[4].top_2gram_char_frac is None
    assert out[4].repetition_pass is None
    d5 = out[5]
    assert d5.dup_line_frac == 0.0 and d5.top_2gram_char_frac == 0.0
    assert d5.repetition_pass


def test_repetition_rules_clean_doc_passes(spark):
    from meta_frame_spark.functions.text import with_repetition_rules

    # long enough that a singleton top-gram stays under the char
    # thresholds (Gopher applies these after its >= 50-word gate)
    text = ("the quick brown fox jumps over one lazy dog today\n"
            "rivers run east beneath tall granite peaks each spring\n"
            "markets opened higher while traders weighed fresh data\n"
            "seven curious owls watched quietly from the old barn\n"
            "gentle rain fell across wide fields before sudden dawn\n"
            "sailors charted new routes along rocky southern coasts")
    df = spark.createDataFrame([(1, text)], ["doc_id", "text"])
    r = with_repetition_rules(df).first()
    assert r.repetition_pass
    assert r.dup_line_frac == 0.0 and r.dup_5gram_char_frac == 0.0


def test_c4_clean_hand_computed(spark):
    """C4 line rules and page flags on hand-built pages (Raffel et
    al. 2020 §2.2): terminal punctuation, >= 3 words, the javascript
    tell; lorem-ipsum / curly-brace / 5-sentence page gate."""
    from meta_frame_spark.functions.text import with_c4_clean

    docs = [
        (1, 'Good sentence here one. Another solid line follows!\n'
            'short line\n'
            'Enable javascript to view this page.\n'
            'A third proper sentence with words. And a fourth one too? '
            'Plus "a fifth one."\nmenu'),
        (2, "lorem ipsum dolor sit amet. More sentences here. And more. "
            "Even more. A fifth."),
        (3, "function f() { return 1; } Real text. More text. Extra. Fifth."),
        (4, None),
        (5, ""),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    out = {r.doc_id: r for r in with_c4_clean(df).collect()}

    d1 = out[1]
    assert d1.n_lines == 5 and d1.n_lines_kept == 2
    assert d1.c4_text.startswith("Good sentence here one.")
    assert "javascript" not in d1.c4_text and "menu" not in d1.c4_text
    assert d1.n_sentences >= 5 and d1.c4_pass

    assert out[2].has_lorem_ipsum and not out[2].c4_pass
    assert out[3].has_curly_brace and not out[3].c4_pass
    assert out[4].c4_text is None and out[4].c4_pass is None
    d5 = out[5]
    assert d5.c4_text == "" and d5.n_lines == 0 and not d5.c4_pass


def test_c4_gate_curation_step(spark):
    from meta_frame_spark.plans.curation import STREAM_SAFE_OPS, run_curation

    good = ("First proper sentence right here. Second one lands well. "
            "Third keeps going fine. Fourth is also good. Fifth closes it.")
    docs = [
        (1, good),
        (2, good + " but { code }"),          # brace -> dropped
        (3, "Too short. Only two."),          # < 5 sentences -> dropped
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    out = run_curation(df, {"steps": [{"op": "c4_gate"}]})
    rows = out.collect()
    assert out.columns == df.columns
    assert [r.doc_id for r in rows] == [1]
    assert rows[0].text == good  # single line, kept verbatim
    # gate-only mode leaves the text untouched
    out2 = run_curation(df, {"steps": [
        {"op": "c4_gate", "apply_line_filter": False}]})
    assert [r.doc_id for r in out2.collect()] == [1]
    assert "c4_gate" in STREAM_SAFE_OPS


class TestBlocklistScore:
    def test_hand_computed_scores(self, spark):
        from meta_frame_spark.functions.text import with_blocklist_score

        bl = {"bad": 2.0, "worse": 3.0, "mild": 0.5}
        df = spark.createDataFrame(
            [
                (1, "Bad things and WORSE things"),   # 2 + 3 = 5, 2 hits / 5
                (2, "mild mild clean words here"),    # 0.5*2 = 1, 2 hits / 5
                (3, "all clean tokens only"),         # 0
                (4, ""),                              # empty text
                (5, None),                            # null text
            ],
            "doc_id long, text string",
        )
        out = {r.doc_id: r for r in with_blocklist_score(
            df, blocklist=bl, max_score=2.0).collect()}
        assert out[1].bl_score == 5.0 and out[1].bl_hits == 2
        assert out[1].bl_hit_frac == pytest.approx(2 / 5)
        assert out[1].blocklist_pass is False
        assert out[2].bl_score == 1.0 and out[2].blocklist_pass is True
        assert out[3].bl_score == 0.0 and out[3].bl_hits == 0
        assert out[4].bl_score == 0.0 and out[4].bl_hit_frac == 0.0
        assert out[5].bl_score is None and out[5].blocklist_pass is None

    def test_schema_passthrough_and_default_list(self, spark):
        from meta_frame_spark.functions.text import with_blocklist_score

        df = spark.createDataFrame(
            [(1, "jackpot betting casino")], "doc_id long, text string"
        )
        out = with_blocklist_score(df)
        assert out.columns == [
            "doc_id", "text", "bl_score", "bl_hits", "bl_hit_frac",
            "blocklist_pass",
        ]
        r = out.first()
        assert r.bl_score == 4.0 and r.blocklist_pass is False

    def test_invalid_lists_raise(self, spark):
        from meta_frame_spark.functions.text import with_blocklist_score

        df = spark.createDataFrame([(1, "x")], "doc_id long, text string")
        with pytest.raises(ValueError, match="non-empty"):
            with_blocklist_score(df, blocklist={})
        with pytest.raises(ValueError, match="lowercase single token"):
            with_blocklist_score(df, blocklist={"Bad": 1.0})
        with pytest.raises(ValueError, match="lowercase single token"):
            with_blocklist_score(df, blocklist={"two words": 1.0})
        with pytest.raises(ValueError, match="must be > 0"):
            with_blocklist_score(df, blocklist={"bad": 0.0})


class TestSoftDedupWeights:
    def test_cluster_weights(self, spark):
        from meta_frame_spark.operators.dedup import soft_dedup_weights

        df = spark.createDataFrame(
            [
                (1, "same text here"),
                (2, "Same   TEXT here "),   # normalizes to the same key
                (3, "same text here"),
                (4, "different entirely"),
            ],
            "doc_id long, text string",
        )
        out = {r.doc_id: r for r in soft_dedup_weights(df).collect()}
        assert {out[i].dup_count for i in (1, 2, 3)} == {3}
        assert out[1].weight == pytest.approx(1 / 3)
        assert out[4].dup_count == 1 and out[4].weight == 1.0
        # every cluster contributes total weight 1 at alpha=1
        assert sum(r.weight for r in out.values()) == pytest.approx(2.0)

    def test_alpha_and_normalize_off(self, spark):
        from meta_frame_spark.operators.dedup import soft_dedup_weights

        df = spark.createDataFrame(
            [(1, "a B"), (2, "a b"), (3, "a b"), (4, "a b")],
            "doc_id long, text string",
        )
        # normalize=False: case difference splits the cluster
        raw = {r.doc_id: r.dup_count
               for r in soft_dedup_weights(df, normalize=False).collect()}
        assert raw == {1: 1, 2: 3, 3: 3, 4: 3}
        # alpha=0.5 -> weight = (1/n)^0.5
        half = {r.doc_id: r.weight
                for r in soft_dedup_weights(df, alpha=0.5).collect()}
        assert half[2] == pytest.approx(0.5)  # (1/4)^0.5
        with pytest.raises(ValueError, match="alpha"):
            soft_dedup_weights(df, alpha=0.0)


class TestVocabCoverage:
    def test_hand_computed_rates(self, spark):
        from meta_frame_spark.operators.vocab import vocab_coverage

        docs = spark.createDataFrame(
            [
                (1, "en", "the cat the dog"),
                (2, "en", "the zebra"),
                (3, "fr", "le chat"),
            ],
            "doc_id long, lang string, text string",
        )
        vocab = spark.createDataFrame(
            [("the",), ("cat",), ("dog",), ("le",)], "token string"
        )
        out = {r.lang: r for r in vocab_coverage(docs, vocab).collect()}
        en = out["en"]
        # en tokens: the x3, cat, dog, zebra -> 6 total, 1 oov (zebra)
        assert en.total_tokens == 6 and en.oov_tokens == 1
        assert en.oov_rate == pytest.approx(1 / 6, abs=1e-6)
        assert en.n_types == 4 and en.oov_types == 1
        fr = out["fr"]
        # fr: le, chat -> chat oov
        assert fr.total_tokens == 2 and fr.oov_tokens == 1
        assert fr.oov_type_rate == pytest.approx(0.5)

    def test_vocab_lowercased_and_deduped(self, spark):
        from meta_frame_spark.operators.vocab import vocab_coverage

        docs = spark.createDataFrame(
            [(1, "en", "The THE the")], "doc_id long, lang string, text string"
        )
        vocab = spark.createDataFrame(
            [("THE",), ("the",)], "token string"
        )
        r = vocab_coverage(docs, vocab).first()
        assert r.total_tokens == 3 and r.oov_tokens == 0


class TestCodeSwitch:
    def test_hand_computed_switches(self, spark):
        from meta_frame_spark.functions.text import with_code_switch

        df = spark.createDataFrame(
            [
                # 2 en sentences + 1 fr sentence -> doc en, 1/3 switched
                (1, "the cat is on it. the dog is in it. le chat est une."),
                # all en
                (2, "the cat is here. a dog is there."),
                # no stopwords anywhere
                (3, "zzz qqq. www rrr."),
                (4, None),
            ],
            "doc_id long, text string",
        )
        out = {r.doc_id: r for r in with_code_switch(df).collect()}
        assert out[1].doc_lang == "en"
        assert out[1].n_sentences_scored == 3
        assert out[1].n_switched == 1
        assert out[1].switch_frac == pytest.approx(1 / 3)
        assert out[2].n_switched == 0 and out[2].switch_frac == 0.0
        assert out[3].doc_lang == "und"
        assert out[3].n_sentences_scored == 0 and out[3].switch_frac == 0.0
        assert out[4].doc_lang is None

    def test_tie_rules_match_language_scores(self, spark):
        """A sentence hitting en and fr equally must pick en — the
        declared STOPWORDS order, same as language_scores."""
        from meta_frame_spark.functions.text import with_code_switch

        df = spark.createDataFrame(
            # doc-level: fr wins 3-2; sentence 1 ties en/fr 2-2 -> en
            [(1, "la une le. the a la une.")],
            "doc_id long, text string",
        )
        r = with_code_switch(df).first()
        assert r.doc_lang == "fr"
        assert r.n_switched == 1  # the tied sentence resolved to en


class TestTokenFertility:
    def test_hand_computed_ratios(self, spark):
        from meta_frame_spark.operators.vocab import token_fertility

        df = spark.createDataFrame(
            [
                # "ab cd" -> 5 chars, 2 words, 2 pre-tokens
                (1, "en", "ab cd"),
                # "it's x1" -> 7 chars, 2 words, pre-tokens: it/'/s/ x/1 = 5
                (2, "en", "it's x1"),
                (3, "fr", None),  # null text dropped
            ],
            "doc_id long, lang string, text string",
        )
        out = {r.lang: r for r in token_fertility(df).collect()}
        en = out["en"]
        assert en.n_docs == 2
        assert en.total_chars == 12
        assert en.total_words == 4
        assert en.total_tokens == 7
        assert en.chars_per_token == pytest.approx(12 / 7, abs=1e-6)
        assert en.tokens_per_word == pytest.approx(7 / 4, abs=1e-6)
        assert "fr" not in out


class TestCrossSourceOverlap:
    def test_hand_computed_matrix(self, spark):
        from meta_frame_spark.operators.dedup import cross_source_overlap

        df = spark.createDataFrame(
            [
                ("shared one", "a"), ("Shared   ONE", "b"),  # a~b
                ("shared one", "c"),                          # a~b~c
                ("pair two", "a"), ("pair two", "b"),         # a~b again
                ("only here", "a"),
            ],
            "text string, source string",
        )
        out = {(r.source_a, r.source_b): r.n_shared
               for r in cross_source_overlap(df).collect()}
        assert out == {("a", "b"): 2, ("a", "c"): 1, ("b", "c"): 1}

    def test_same_source_dups_do_not_pair(self, spark):
        from meta_frame_spark.operators.dedup import cross_source_overlap

        df = spark.createDataFrame(
            [("x y", "a"), ("x y", "a")], "text string, source string"
        )
        assert cross_source_overlap(df).count() == 0


class TestUrlQuality:
    def test_hand_computed_flags(self, spark):
        from meta_frame_spark.functions.web import with_url_quality

        df = spark.createDataFrame(
            [
                (1, "https://ex.com/a/b?x=1&y=2"),
                (2, "https://ex.com/p?PHPSESSID=k9"),
                (3, "https://ex.com/2021/07/14/post"),
                (4, "https://ex.com/2021/news/14"),    # not consecutive
                (5, "https://ex.com/p?a=1&b=2&c=3&d=4"),
                (6, None),
            ],
            "doc_id long, url string",
        )
        out = {r.doc_id: r for r in with_url_quality(
            df, max_params=3).collect()}
        assert out[1].n_params == 2 and out[1].path_depth == 2
        assert out[1].url_pass is True
        assert out[2].has_session_id is True and out[2].url_pass is False
        assert out[3].is_calendar_trap is True and out[3].url_pass is False
        assert out[4].is_calendar_trap is False and out[4].url_pass is True
        assert out[5].n_params == 4 and out[5].url_pass is False
        assert out[6].url_pass is None

    def test_fragment_and_empty_query(self, spark):
        from meta_frame_spark.functions.web import with_url_quality

        df = spark.createDataFrame(
            [(1, "https://ex.com/a#b?c=1"), (2, "https://ex.com")],
            "doc_id long, url string",
        )
        out = {r.doc_id: r for r in with_url_quality(df).collect()}
        # the query lives in the fragment -> stripped before parsing
        assert out[1].n_params == 0 and out[1].path_depth == 1
        assert out[2].n_params == 0 and out[2].path_depth == 0

    def test_url_gate_step(self, spark):
        import pytest as _pt

        from meta_frame_spark.plans.curation import (
            ConfigError,
            STREAM_SAFE_OPS,
            run_curation,
        )

        df = spark.createDataFrame(
            [
                (1, "https://ex.com/fine"),
                (2, "https://ex.com/p?JSESSIONID=x"),
            ],
            "doc_id long, url string",
        )
        out = run_curation(df, {"steps": [{"op": "url_gate"}]})
        assert out.columns == df.columns
        assert [r.doc_id for r in out.collect()] == [1]
        assert "url_gate" in STREAM_SAFE_OPS
        with _pt.raises(ConfigError, match="unknown kwargs"):
            run_curation(df, {"steps": [{"op": "url_gate", "nope": 1}]})


class TestCoverageCurve:
    def test_hand_computed_points(self, spark):
        from meta_frame_spark.operators.vocab import coverage_curve

        # counts: a=4, b=2, c=1, d=1 -> total 8; ranking a,b,c,d
        df = spark.createDataFrame(
            [(1, "a a b c"), (2, "a a b d")], "doc_id long, text string"
        )
        out = {r.k: r for r in coverage_curve(
            df, ks=(1, 2, 3, 10)).collect()}
        assert out[1].covered_occurrences == 4
        assert out[1].coverage == pytest.approx(0.5)
        assert out[2].covered_occurrences == 6
        assert out[3].covered_occurrences == 7  # c before d (tie: text)
        # k beyond the vocab saturates at the full mass
        assert out[10].vocab_size == 4
        assert out[10].covered_occurrences == 8
        assert out[10].coverage == 1.0

    def test_validation_and_monotone(self, spark, documents):
        import pytest as _pt

        from meta_frame_spark.operators.vocab import coverage_curve

        with _pt.raises(ValueError, match="ks"):
            coverage_curve(documents, ks=())
        with _pt.raises(ValueError, match="ks"):
            coverage_curve(documents, ks=(0,))
        pts = coverage_curve(documents, ks=(3, 7, 15)).collect()
        cov = [r.coverage for r in sorted(pts, key=lambda r: r.k)]
        assert cov == sorted(cov)  # coverage is monotone in k


def test_soft_dedup_keeps_null_text_rows(spark):
    """md5(NULL) is NULL; the size join must be null-safe or every
    null-text row silently vanishes from the weights frame."""
    from meta_frame_spark.operators.dedup import soft_dedup_weights

    df = spark.createDataFrame(
        [(1, "x"), (2, None), (3, None)], "doc_id long, text string"
    )
    out = {r.doc_id: r for r in soft_dedup_weights(df).collect()}
    assert set(out) == {1, 2, 3}
    # nulls cluster together (the same grouping the aggregate used)
    assert out[2].dup_count == 2 and out[3].dup_count == 2
    assert out[1].dup_count == 1


def test_cross_source_overlap_ignores_null_texts(spark):
    """Null texts are no content — they must not manufacture an
    overlap between sources that both hold null rows."""
    from meta_frame_spark.operators.dedup import cross_source_overlap

    df = spark.createDataFrame(
        [(None, "a"), (None, "b"), ("real", "a")],
        "text string, source string",
    )
    assert cross_source_overlap(df).count() == 0


class TestHtmlToText:
    def _df(self, spark, html):
        return spark.createDataFrame([(1, html)], "doc_id long, html string")

    def test_boilerplate_dropped_prose_kept(self, spark):
        """Nav (link-saturated), footer, script, style, comments all
        drop; the long paragraph survives with entities decoded and
        whitespace collapsed."""
        from meta_frame_spark.functions.web import html_to_text

        html = (
            '<html><head><title>T</title><style>p {color: red}</style>'
            "</head><body>"
            '<div><a href="/">Home</a> <a href="/a">About</a> '
            '<a href="/b">Contact us</a></div>'
            "<!-- a comment <p>not text</p> -->"
            "<p>This is the &quot;main&quot; article text &amp; it is "
            "long\tenough   to keep.</p>"
            "<p>Short.</p>"
            "<script>var x = '<p>fake</p>';</script>"
            '<div><a href="#">&copy; 2026 Example Corp legal notice '
            "terms privacy</a></div>"
            "</body></html>"
        )
        out = self._df(spark, html).select(
            html_to_text("html").alias("t")
        ).first()
        assert out.t == (
            'This is the "main" article text & it is long enough to keep.'
        )

    def test_inline_links_in_prose_survive(self, spark):
        """Body prose with a FEW inline links stays (link density
        under the bar); a link-only line of the same length drops."""
        from meta_frame_spark.functions.web import html_to_text

        prose = (
            "<p>The quick brown fox jumped over to read "
            '<a href="/x">one linked article</a> and kept going with '
            "plenty of surrounding words.</p>"
            '<p><a href="/1">first long link text here</a> '
            '<a href="/2">second long link text here</a></p>'
        )
        out = self._df(spark, prose).select(
            html_to_text("html").alias("t")
        ).first()
        assert "quick brown fox" in out.t
        assert "second long link" not in out.t

    def test_block_boundaries_become_lines(self, spark):
        """</p>/<br>/</li> boundaries split lines, so one short
        boilerplate block can't ride along with long prose; multiple
        surviving blocks join with newline."""
        from meta_frame_spark.functions.web import html_to_text

        html = (
            "<p>First surviving paragraph with enough characters "
            "here.</p><p>Buy now!</p><p>Second surviving paragraph "
            "also has enough characters.</p>"
        )
        out = self._df(spark, html).select(
            html_to_text("html").alias("t")
        ).first()
        assert out.t.split("\n") == [
            "First surviving paragraph with enough characters here.",
            "Second surviving paragraph also has enough characters.",
        ]

    def test_null_and_validation(self, spark):
        import pytest

        from meta_frame_spark.functions.web import (
            html_to_text,
            with_html_text,
        )

        df = spark.createDataFrame([(1, None)], "doc_id long, html string")
        assert df.select(html_to_text("html").alias("t")).first().t is None
        with pytest.raises(ValueError, match="min_chars"):
            html_to_text("html", min_chars=0)
        with pytest.raises(ValueError, match="max_link_density"):
            html_to_text("html", max_link_density=1.5)
        with pytest.raises(ValueError, match="collides"):
            with_html_text(df.withColumn("text", F.lit("x")))

    def test_map_only_plan(self, spark):
        """The whole extraction is one codegen projection: no
        exchange, no join, no UDF in the plan."""
        from meta_frame_spark.functions.web import with_html_text

        df = spark.createDataFrame(
            [(1, "<p>some html here</p>")], "doc_id long, html string"
        )
        plan = (
            with_html_text(df)._jdf.queryExecution()
            .executedPlan().toString()
        )
        for bad in ("Exchange", "Join", "PythonUDF", "BatchEvalPython"):
            assert bad not in plan, bad


class TestCompressionRatio:
    def test_signal_orders_boilerplate_prose_noise(self, spark):
        """Template flood compresses far below prose; high-entropy
        noise barely compresses; empty/NULL have no signal."""
        import random

        rng = random.Random(7)
        noise = "".join(chr(rng.randint(33, 126)) for _ in range(400))
        from meta_frame_spark.operators.profile import (
            with_compression_ratio,
        )

        df = spark.createDataFrame(
            [
                (1, "click here to subscribe now " * 30),
                (2, "The committee reviewed the quarterly findings and "
                    "recommended a cautious expansion of the pilot "
                    "program across the remaining districts next year."),
                (3, noise),
                (4, ""),
                (5, None),
            ],
            "doc_id long, text string",
        )
        out = {r.doc_id: r for r in with_compression_ratio(df).collect()}
        assert out[1].compression_ratio < 0.10
        assert 0.10 < out[2].compression_ratio < 1.05
        assert out[3].compression_ratio > 0.85
        assert out[4].compression_ratio is None and out[4].n_bytes == 0
        assert out[5].compression_ratio is None
        # byte accounting exact; all original columns pass through
        assert out[2].n_bytes == len(out[2].text.encode())
        assert out[3].zlib_bytes < out[3].n_bytes * 1.2
        # partition invariance
        import pytest

        again = {r.doc_id: r for r in
                 with_compression_ratio(df.repartition(4)).collect()}
        for k in out:
            assert again[k].compression_ratio == pytest.approx(
                out[k].compression_ratio, abs=0
            ) or (out[k].compression_ratio is None
                  and again[k].compression_ratio is None)
        with pytest.raises(ValueError, match="level"):
            with_compression_ratio(df, level=0)

    def test_compression_gate_drops_both_tails(self, spark):
        import random

        from meta_frame_spark.config.model import ConfigError
        from meta_frame_spark.plans.curation import run_curation

        df = spark.createDataFrame(
            [
                (1, "spam spam spam spam " * 40),
                (2, "A normal paragraph of varied prose that should "
                    "survive the two sided compressibility gate easily "
                    "because natural language sits in the middle band."),
                (3, "xz"),  # degenerate fragment: header overhead > 1.05
                (4, None),
            ],
            "doc_id long, text string",
        )
        out = run_curation(df, {"steps": [{"op": "compression_gate"}]})
        assert [r.doc_id for r in out.collect()] == [2]
        assert out.columns == df.columns
        import pytest

        with pytest.raises(ConfigError, match="min_ratio"):
            run_curation(df, {"steps": [
                {"op": "compression_gate", "min_ratio": 0.9,
                 "max_ratio": 0.5}]})


class TestHtmlLinks:
    """Hyperlink/anchor extraction (functions/web.html_links)."""

    def test_links_extracted_in_document_order(self, spark):
        from meta_frame_spark.functions.web import with_html_links

        html = (
            '<p><a href="/one">First</a> then '
            '<a href="https://ex.com/two"><b>Second</b> &amp; last</a>'
            "</p>"
        )
        df = spark.createDataFrame([(1, html)], "doc_id bigint, html string")
        rows = with_html_links(df).orderBy("link_rank").collect()
        assert [(r.link_rank, r.href, r.anchor, r.is_absolute)
                for r in rows] == [
            (1, "/one", "First", False),
            (2, "https://ex.com/two", "Second & last", True),
        ]

    def test_comment_script_style_links_dropped(self, spark):
        from meta_frame_spark.functions.web import with_html_links

        html = (
            '<!-- <a href="/ghost">ghost</a> -->'
            '<script>var a = "<a href=\'/js\'>x</a>";</script>'
            '<style>a[href="/css"]{}</style>'
            '<a href="/real">Real</a>'
        )
        df = spark.createDataFrame([(1, html)], "doc_id bigint, html string")
        rows = with_html_links(df).collect()
        assert [(r.href, r.anchor) for r in rows] == [("/real", "Real")]

    def test_null_and_linkless_html(self, spark):
        from meta_frame_spark.functions.web import with_html_links

        df = spark.createDataFrame(
            [(1, None), (2, "<p>no links here</p>")],
            "doc_id bigint, html string",
        )
        assert with_html_links(df).count() == 0  # explode drops both

    def test_map_only_plan(self, spark):
        from meta_frame_spark.functions.web import with_html_links

        df = spark.createDataFrame([(1, "<a href=\"/x\">y</a>")],
                                   "doc_id bigint, html string")
        plan = with_html_links(df)._jdf.queryExecution()\
            .executedPlan().toString()
        assert "Exchange" not in plan  # explode shuffles nothing


class TestCcnetBuckets:
    """CCNet head/middle/tail split (operators/scoring.ccnet_buckets)."""

    def test_tertiles_by_score_with_tiebreak(self, spark):
        from meta_frame_spark.operators.scoring import ccnet_buckets

        rows = [(i, "en", float(i)) for i in range(9)]
        df = spark.createDataFrame(rows, "doc_id bigint, lang string, s double")
        out = {r.doc_id: r.ppl_bucket
               for r in ccnet_buckets(df, score_col="s",
                                      group_cols=["lang"]).collect()}
        assert [out[i] for i in range(9)] == (
            ["head"] * 3 + ["middle"] * 3 + ["tail"] * 3
        )

    def test_per_group_independence_and_small_groups(self, spark):
        from meta_frame_spark.operators.scoring import ccnet_buckets

        rows = [(1, "en", 9.0), (2, "en", 1.0), (3, "fr", 5.0),
                (4, "fr", 4.0), (5, "de", 7.0)]
        df = spark.createDataFrame(rows, "doc_id bigint, lang string, s double")
        out = {r.doc_id: r.ppl_bucket
               for r in ccnet_buckets(df, score_col="s",
                                      group_cols=["lang"]).collect()}
        # en: 2 docs -> head/middle; fr: best gets head; de singleton head
        assert out[2] == "head" and out[1] == "middle"
        assert out[4] == "head" and out[3] == "middle"
        assert out[5] == "head"

    def test_ties_break_by_doc_id(self, spark):
        from meta_frame_spark.operators.scoring import ccnet_buckets

        rows = [(i, "en", 1.0) for i in (3, 1, 2)]
        df = spark.createDataFrame(rows, "doc_id bigint, lang string, s double")
        out = {r.doc_id: r.ppl_bucket
               for r in ccnet_buckets(df, score_col="s",
                                      group_cols=["lang"]).collect()}
        assert out == {1: "head", 2: "middle", 3: "tail"}

    def test_bad_labels_raise(self, spark):
        import pytest as _pt

        from meta_frame_spark.operators.scoring import ccnet_buckets

        df = spark.createDataFrame([(1, 1.0)], "doc_id bigint, s double")
        with _pt.raises(ValueError, match="labels"):
            ccnet_buckets(df, score_col="s", labels=("only",))


class TestRobots:
    """robots.txt wildcard-group parsing + URL gate
    (functions/web.robots_disallows / apply_robots)."""

    def _dis(self, spark, txt):
        from meta_frame_spark.functions.web import robots_disallows

        df = spark.createDataFrame([(txt,)], "t string")
        return df.select(robots_disallows("t").alias("d")).first().d

    def test_star_group_parsed(self, spark):
        txt = (
            "# our rules\n"
            "User-agent: *\n"
            "Disallow: /private/\n"
            "Disallow: /tmp  # trailing comment\n"
            "Allow: /tmp/ok\n"
        )
        assert self._dis(spark, txt) == ["/private/", "/tmp"]

    def test_other_agent_groups_ignored(self, spark):
        txt = (
            "User-agent: badbot\n"
            "Disallow: /\n"
            "\n"
            "User-agent: *\n"
            "Disallow: /x\n"
            "\n"
            "User-agent: otherbot\n"
            "Disallow: /y\n"
        )
        assert self._dis(spark, txt) == ["/x"]

    def test_empty_disallow_and_no_star_section(self, spark):
        # empty Disallow: = allow-all; no * group at all = nothing
        assert self._dis(spark, "User-agent: *\nDisallow:\n") == []
        assert self._dis(spark, "User-agent: bot\nDisallow: /\n") == []
        assert self._dis(spark, None) == []
        assert self._dis(spark, "") == []

    def test_case_insensitive_directives(self, spark):
        txt = "USER-AGENT: *\ndisallow: /CaseKept/\n"
        assert self._dis(spark, txt) == ["/CaseKept/"]

    def test_apply_robots_gate(self, spark):
        from meta_frame_spark.functions.web import apply_robots

        urls = spark.createDataFrame(
            [(1, "https://a.example/private/doc"),
             (2, "https://a.example/public/doc"),
             (3, "https://b.example/private/doc"),   # host w/o rules
             (4, "https://a.example/tmpfile"),        # /tmp prefix
             (5, "https://a.example/ok/tmp")],
            "doc_id bigint, url string",
        )
        robots = spark.createDataFrame(
            [("a.example",
              "User-agent: *\nDisallow: /private/\nDisallow: /tmp\n")],
            "host string, robots_txt string",
        )
        kept = sorted(
            r.doc_id for r in apply_robots(urls, robots).collect()
        )
        assert kept == [2, 3, 5]

    def test_rules_side_broadcast(self, spark):
        from meta_frame_spark.functions.web import apply_robots

        urls = spark.createDataFrame(
            [(1, "https://a.example/x")], "doc_id bigint, url string"
        )
        robots = spark.createDataFrame(
            [("a.example", "User-agent: *\nDisallow: /p\n")],
            "host string, robots_txt string",
        )
        plan = apply_robots(urls, robots)._jdf.queryExecution()\
            .executedPlan().toString()
        assert "BroadcastHashJoin" in plan


def test_lower_upper_agree_with_icu_case_mappings_on_and_off(spark):
    """``get_session`` turns ``spark.sql.icu.caseMappings.enabled`` off
    (outside the ``tr``/``az``/``lt`` locales), so ``lower``/``upper``
    run through the JVM's ``String`` case mapping instead of ICU's root
    mapping. On this multilingual sample the two agree: accents, Greek
    final sigma, German sharp s, dotted capital I, the ``ǅ`` digraph,
    Cyrillic, CJK and emoji. They are not identical everywhere: over
    U+0080..U+2FFFF (each code point wrapped as ``"A" + c + "b"``)
    ``lower`` differs on 67 code points and ``upper`` on 67 others, all
    case pairs added after the JDK 17's Unicode 13 tables (Vithkuqi
    U+10570-105BC, Garay U+10D50-10D85, Latin U+A7C0-A7DC and a few
    more), which the JVM leaves unmapped. ``initcap`` also differs on
    word-initial characters with special title case (``ẞ``, ``İ``,
    ligatures); the library's tokenizers use only ``lower``."""
    from meta_frame_spark.session import ICU_CASE_MAPPINGS, _SPECIAL_CASING_LANGUAGES

    lang = spark.sparkContext._jvm.java.util.Locale.getDefault().getLanguage()
    assert lang not in _SPECIAL_CASING_LANGUAGES
    assert spark.conf.get(ICU_CASE_MAPPINGS) == "false"  # get_session's default

    sample = [
        "Hello, WORLD 42!", "Café", "ΟΔΟΣ ΟΔΟΣ.", "STRASSE ẞ", "İSTANBUL",
        "ǅ", "ПРИВЕТ, Мир", "漢字かな 한국어", "OK 😀👍",
    ]
    df = spark.createDataFrame([(s,) for s in sample], "s string")
    cols = [F.lower("s").alias("lo"), F.upper("s").alias("up")]
    out = {}
    before = spark.conf.get(ICU_CASE_MAPPINGS)
    try:
        for value in ("true", "false"):
            spark.conf.set(ICU_CASE_MAPPINGS, value)
            out[value] = [tuple(r) for r in df.select(*cols).collect()]
    finally:
        spark.conf.set(ICU_CASE_MAPPINGS, before)
    assert out["true"] == out["false"]
    assert out["false"][2] == ("οδος οδος.", "ΟΔΟΣ ΟΔΟΣ.")
