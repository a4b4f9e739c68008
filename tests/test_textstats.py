"""Text-analysis operator unit tests on tiny inline corpora (SURVEY §5
tier 1): exact expected values computed by hand."""

from __future__ import annotations

import hashlib

import pytest
from pyspark.sql import functions as F

from fireworks_spark.functions.text import chars, normalize_text, words
from fireworks_spark.operators import textstats


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(
        [
            (1, "The quick brown fox."),
            (2, "  Hello,   World!  "),
            (3, "le chat est sur la table et le chien"),
            (4, "der hund ist nicht ein katze und der"),
            (5, "abc123 x-y"),
        ],
        "doc_id long, text string",
    )


def test_normalize_and_tokenizers(spark, docs):
    row = docs.filter(F.col("doc_id") == 2).select(
        normalize_text("text").alias("n"),
        words("text").alias("w"),
        chars("text").alias("c"),
    ).collect()[0]
    assert row.n == "hello, world!"
    assert row.w == ["hello,", "world!"]
    assert row.c[:5] == [" ", " ", "H", "e", "l"]


def test_token_stats_values(docs):
    rows = {r.doc_id: r for r in textstats.with_token_stats(docs).collect()}
    assert rows[1].n_tokens == 4
    assert rows[1].n_chars_calc == len("The quick brown fox.")
    # bpe-ish on "abc123 x-y": abc,123,x,-,y
    assert rows[5].n_subtokens == 5


def test_quality_score_values(docs):
    rows = {r.doc_id: r for r in textstats.with_quality_score(docs).collect()}
    r1 = rows[1]
    assert r1.n_tokens == 4
    assert r1.avg_tok_len == round(20 / 4, 2)
    assert r1.punct_ratio == round(1 / 4, 3)  # the final period
    assert not r1.keep  # fewer than 5 tokens
    assert rows[3].keep  # 8 tokens, short words


def test_lang_id(docs):
    rows = {r.doc_id: r.pred_lang for r in textstats.with_lang_id(docs).collect()}
    assert rows[3] == "fr"
    assert rows[4] == "de"
    assert rows[1] == "en"


def test_lang_id_cjk(spark):
    df = spark.createDataFrame([(1, "你好 world")], "doc_id long, text string")
    assert textstats.with_lang_id(df).collect()[0].pred_lang == "zh"


def test_fingerprint_is_md5_of_normalized(docs):
    rows = {r.doc_id: r.fp for r in textstats.with_fingerprint(docs).collect()}
    want = hashlib.md5(b"the quick brown fox.").hexdigest()[:16]
    assert rows[1] == want
    # whitespace/case variants collide
    assert rows[2] == hashlib.md5(b"hello,   world!".replace(b"   ", b" ")).hexdigest()[:16]


def test_vocabulary_and_indices(spark):
    df = spark.createDataFrame(
        [(1, "a b a"), (2, "b a c")], "doc_id long, text string"
    )
    vocab = {r.token: r.freq for r in textstats.vocabulary(df).collect()}
    assert vocab == {"a": 3, "b": 2, "c": 1}
    idx = {r.token: r.idx for r in textstats.make_indices(df).collect()}
    assert idx == {"a": 0, "b": 1, "c": 2}
    top2 = [r.token for r in textstats.make_indices(df, top_k=2).collect()]
    assert top2 == ["a", "b"]


def test_mask_pii(spark):
    df = spark.createDataFrame(
        [(1, "mail a.b+c@x-corp.io or visit https://x.io/a?b=1 from 10.1.2.3 "
             "call +1 (415) 555-0199 done")],
        "id long, text string",
    )
    out = df.select(textstats.mask_pii("text").alias("m")).collect()[0].m
    assert out == "mail <EMAIL> or visit <URL> from <IP> call <PHONE> done"


def test_extract_urls_and_strip_markup(spark):
    df = spark.createDataFrame(
        [(1, 'pre <a href="http://a.io/x">link</a> mid https://b.io end')],
        "id long, text string",
    )
    r = df.select(
        textstats.extract_urls("text").alias("u"),
        textstats.strip_markup("text").alias("s"),
    ).collect()[0]
    assert r.u == ["http://a.io/x", "https://b.io"]
    assert r.s == "pre link mid https://b.io end"


def test_remove_stopwords(spark):
    df = spark.createDataFrame([(1, "The cat and the hat")], "id long, text string")
    out = df.select(
        textstats.remove_stopwords("text", ["the", "and"]).alias("w")
    ).collect()[0].w
    assert out == ["cat", "hat"]


def test_ngram_novelty_closed_form(spark):
    from fireworks_spark.operators import textstats

    d = spark.createDataFrame(
        [
            (0, "a b c d"),      # grams: "a b c", "b c d"
            (1, "a b c x"),      # grams: "a b c", "b c x"
            (2, "q r"),          # too short -> absent
        ],
        "doc_id long, text string",
    )
    out = {
        r.doc_id: (r.n_grams, r.novel_frac)
        for r in textstats.ngram_novelty(d).collect()
    }
    # "a b c" shared (df=2); the others unique
    assert out == {0: (2, 0.5), 1: (2, 0.5)}


def test_canonical_url_cases(spark):
    cases = {
        "HTTP://WWW.Example.com:80/a?utm_source=x&id=1#top":
            "http://example.com/a?id=1",
        "https://example.com:443/a/": "https://example.com/a",
        "https://example.com/a?id=1&utm_medium=m&b=3":
            "https://example.com/a?id=1&b=3",
        "https://example.com/a?utm_source=1&utm_term=2":
            "https://example.com/a",
        "http://Example.com/Path/Is/CaseSensitive":
            "http://example.com/Path/Is/CaseSensitive",
        "https://example.com/": "https://example.com",
        "https://example.com/a?fbclid=xyz&q=spark":
            "https://example.com/a?q=spark",
    }
    df = spark.createDataFrame([(u,) for u in cases], ["u"])
    got = {
        r.u: r.c
        for r in df.select(
            "u", textstats.canonical_url("u").alias("c")
        ).collect()
    }
    assert got == cases


def test_url_dedup_keeps_min_id_per_canonical(spark):
    df = spark.createDataFrame(
        [
            (1, "https://example.com/a?utm_source=x"),
            (2, "HTTPS://EXAMPLE.COM/a"),          # same canonical as 1
            (3, "https://example.com/b"),
            (4, "https://www.example.com/b/"),     # same canonical as 3
        ],
        "doc_id long, url string",
    )
    kept = sorted(
        r.doc_id for r in textstats.url_dedup(df, "url").collect()
    )
    assert kept == [1, 3]


def test_domain_overlap_exact_jaccard(spark):
    d = spark.createDataFrame(
        [
            (1, "a", "x y z"),
            (2, "a", "x w"),
            (3, "b", "x y q"),      # vocab b = {x,y,q}; a = {x,y,z,w}
            (4, "c", "unrelated tokens only"),
        ],
        "doc_id long, source string, text string",
    )
    got = {(r.src_a, r.src_b): r.jac for r in textstats.domain_overlap(d).collect()}
    # |a ∩ b| = {x,y} = 2; |a ∪ b| = {x,y,z,w,q} = 5
    assert got[("a", "b")] == 0.4
    assert ("a", "c") not in got and ("b", "c") not in got  # no shared tokens


def test_gopher_stats_closed_form(spark):
    """Hand-computed Gopher rule values on structured fixtures: word
    stats, symbol ratio, stop-word hits, bullet/ellipsis lines, duplicate
    line and duplicate-character fractions, and the pass verdict."""
    fifty = " ".join(["the", "of", "and", "words"] * 13)[:-6]  # 51 words
    doc_pass = fifty  # >=50 words, all alpha, 3 stop words, no lines
    doc_lines = "dup line\nunique one\ndup line\n- bullet\nends..."
    doc_symbols = "## tag " + "a " * 18 + "..."
    rows = [(1, doc_pass), (2, doc_lines), (3, doc_symbols), (4, "")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r for r in textstats.gopher_stats(df).collect()}

    r1 = got[1]
    assert r1.n_words == 51
    assert r1.n_stop_hits == 3  # the, of, and
    assert r1.frac_alpha_words == 1.0
    assert r1.gopher_pass  # only doc long enough with stop words

    r2 = got[2]
    # 5 lines: 'dup line' twice -> 1 duplicate occurrence
    assert r2.dup_line_frac == 0.2
    # dup chars = 8 of total 8+10+8+8+7=41
    assert abs(r2.dup_line_char_frac - 8 / 41) < 1e-4
    assert r2.frac_bullet_lines == 0.2
    assert r2.frac_ellipsis_lines == 0.2
    assert not r2.gopher_pass  # too short

    r3 = got[3]
    # words: '##', 'tag', 18x'a', '...' = 21; symbols: 2 hashes + 1 ellipsis
    assert r3.n_words == 21
    assert abs(r3.symbol_word_ratio - 3 / 21) < 1e-4
    assert not r3.gopher_pass  # symbol ratio 0.143 > 0.1 and too short

    r4 = got[4]
    assert r4.n_words == 0 and not r4.gopher_pass


def test_c4_line_filter_closed_form(spark):
    """C4 line rules: word-count minimum, terminal punctuation, drop
    patterns, doc-level minimum, reassembly order."""
    rows = [
        (1, "this line has five words.\nshort one\nenable javascript to view\n"
            "another line with six good words!"),
        (2, "tiny\nwee"),
        (3, "no punctuation but has five words\nand a second long line here"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r.doc_id: r
        for r in textstats.c4_line_filter(
            df, min_words_per_line=5, drop_patterns=["javascript"]
        ).collect()
    }
    assert got[1].text == (
        "this line has five words.\nanother line with six good words!"
    )
    assert got[1].n_lines_kept == 2 and got[1].n_lines_dropped == 2
    assert 2 not in got  # every line under 5 words -> doc dropped
    assert got[3].n_lines_kept == 2

    strict = {
        r.doc_id: r
        for r in textstats.c4_line_filter(
            df,
            min_words_per_line=5,
            require_terminal_punct=True,
            drop_patterns=["javascript"],
        ).collect()
    }
    assert strict[1].n_lines_kept == 2  # both survivors end in . / !
    assert 3 not in strict  # no terminal punctuation anywhere


def test_gopher_stats_matches_python_reference(spark):
    """Differential check of all ten Gopher statistics against a plain
    Python reference over random structured docs (bullets, ellipses,
    duplicate lines, blank lines, symbols, empty docs)."""
    import math
    import random

    rng = random.Random(5)
    words_pool = ["the", "of", "ox", "#tag", "be", "longword", "a", "..."]
    line_shapes = [
        lambda ws: " ".join(ws),
        lambda ws: "- " + " ".join(ws),
        lambda ws: " ".join(ws) + "...",
        lambda ws: "",
        lambda ws: "   ",
    ]
    docs = [(0, ""), (1, "dup\ndup\ndup")]
    for i in range(2, 30):
        lines = []
        for _ in range(rng.randrange(0, 8)):
            ws = [rng.choice(words_pool) for _ in range(rng.randrange(0, 6))]
            lines.append(rng.choice(line_shapes)(ws))
        if rng.random() < 0.5 and lines:
            lines.append(rng.choice(lines))  # force duplicate lines
        docs.append((i, "\n".join(lines)))
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {r.doc_id: r for r in textstats.gopher_stats(df).collect()}

    def r4(x):
        return math.floor(x * 1e4 + 0.5) / 1e4

    stops = ["the", "be", "to", "of", "and", "that", "have", "with"]
    for doc_id, text in docs:
        W = [w for w in text.split() if w]
        L = [l for l in text.split("\n") if l != ""]
        r = got[doc_id]
        assert r.n_words == len(W)
        assert r.mean_word_len == (
            r4(sum(len(w) for w in W) / len(W)) if W else 0.0
        )
        assert r.frac_alpha_words == (
            r4(sum(1 for w in W if any(c.isalpha() and c.isascii() for c in w)) / len(W))
            if W
            else 0.0
        ), (doc_id, text)
        n_sym = text.count("#") + (
            (len(text) - len(text.replace("...", ""))) / 3
        )
        assert r.symbol_word_ratio == (r4(n_sym / len(W)) if W else 0.0)
        assert r.n_stop_hits == sum(
            1 for s in stops if s in [w.lower() for w in W]
        )
        if L:
            import re as _re

            assert r.frac_bullet_lines == r4(
                sum(1 for l in L if _re.match(r"^\s*[-*•]", l)) / len(L)
            )
            assert r.frac_ellipsis_lines == r4(
                sum(1 for l in L if l.endswith("...")) / len(L)
            )
            assert r.dup_line_frac == r4((len(L) - len(set(L))) / len(L))
            tot = sum(len(l) for l in L)
            dtot = sum(len(l) for l in set(L))
            assert r.dup_line_char_frac == (
                r4((tot - dtot) / tot) if tot else 0.0
            ), (doc_id, text)
        else:
            assert r.dup_line_frac == 0.0 and r.frac_bullet_lines == 0.0
