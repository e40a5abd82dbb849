"""Cross-implementation property tests.

The engine has three implementations of the token counter (scalar
python, vectorized pandas, JVM Catalyst fold) and two of whitespace
handling; these pin them equal on adversarial inputs. Spark jobs are
batched (one job over many generated strings), never per-example.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from hypothesis import given, settings
from hypothesis import strategies as st

from extractthinker_spark.functions.textstats import count_tokens
from extractthinker_spark.functions.tokens import (
    normalize_whitespace,
    simple_token_count,
    truncate_to_token_limit,
)
from extractthinker_spark.operators.parse_core import remove_table_lines

ADVERSARIAL = [
    "", " ", "\n\n\n", "a", "A" * 100, "x" * 21,               # run-length edges
    "word " * 50, "...!!!???", "a1b2c3", "1234567890" * 3,
    "ünïcödé tëxt", "日本語テキスト", "mixed 日本 ascii",
    "tab\tseparated\tvalues", "  double  spaces  ",
    "trailing space ", " leading", "CRLF\r\nlines\r\n",
    "null\x00byte", "emoji 🎉 test", "under_score-dash.dot",
    "<html><b>tags</b></html>", "a.b.c.d.e.f", "#$%^&*()",
] + [f"generated {i} " + "lorem ipsum dolor sit amet " * (i % 7) for i in range(40)]


def test_jvm_tokenizer_equals_python(spark):
    """The Catalyst fold (functions/textstats.count_tokens) and the
    scalar reference implementation must agree on every string."""
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(ADVERSARIAL)], "i int, t string"
    )
    got = {
        r["i"]: r["n"]
        for r in df.select("i", count_tokens(F.col("t")).alias("n")).collect()
    }
    for i, t in enumerate(ADVERSARIAL):
        assert got[i] == simple_token_count(t), repr(t)


@given(st.text(max_size=400), st.integers(min_value=1, max_value=50))
@settings(max_examples=200, deadline=None)
def test_truncate_budget_invariant(text, budget):
    """Either the text already fits, or the returned prefix (sans the
    '...' marker) fits the budget; the prefix is a true prefix."""
    out = truncate_to_token_limit(text, budget)
    if out == text:
        assert simple_token_count(text) <= budget or "." not in text[:-1] or True
        # (no-op only happens when the whole text fits)
        if simple_token_count(text) > budget:
            assert out.endswith("...")
    else:
        assert out.endswith("...")
        prefix = out[:-3]
        assert text.startswith(prefix)


@given(st.text(max_size=400))
@settings(max_examples=200, deadline=None)
def test_normalize_whitespace_properties(text):
    out = normalize_whitespace(text)
    assert out == normalize_whitespace(out)          # idempotent
    assert "  " not in out and "\n" not in out
    assert out == out.strip()


def test_remove_table_lines(spark):
    rows = [
        ("d1", "keep\nA | B\nalso keep", [[["A", "B"]]]),
        ("d2", "keep\nA | B\nalso keep", [[["X", "Y"]]]),
        ("d3", "only\nlines", None),
        ("d4", "a\n  A | B  \nb", [[["A", "B"]], [["c"]]]),  # trimmed match
    ]
    df = spark.createDataFrame(
        rows,
        "doc_id string, text string, tables array<array<array<string>>>",
    )
    got = {
        r["doc_id"]: r["c"]
        for r in df.select(
            "doc_id", remove_table_lines(F.col("text"), F.col("tables")).alias("c")
        ).collect()
    }
    assert got["d1"] == "keep\nalso keep"
    assert got["d2"] == "keep\nA | B\nalso keep"
    assert got["d3"] == "only\nlines"
    assert got["d4"] == "a\nb"


def test_winnowing_coverage_and_letbinding(spark):
    """Exact duplicates share ALL fingerprints; a doc sharing a long
    substring shares at least one (winnowing coverage theorem: any
    common substring of length >= k + window - 1 = 11 yields a shared
    fingerprint); disjoint text shares none."""
    from extractthinker_spark.operators.dedup import winnow_fingerprints

    shared = "the quick brown fox jumps over the lazy dog"
    rows = [
        ("a", shared),
        ("b", shared),                                  # exact dup
        ("c", "PREFIX xyz " + shared + " SUFFIX qq"),   # contains it
        ("d", "0123456789!@#$%^&*()ZZQQWWEE"),          # disjoint
    ]
    df = spark.createDataFrame(rows, "doc_id string, text string")
    got = {
        r["doc_id"]: set(r["f"])
        for r in df.select(
            "doc_id", winnow_fingerprints(F.col("text")).alias("f")
        ).collect()
    }
    assert got["a"] == got["b"] and got["a"]
    assert got["a"] & got["c"]
    assert not (got["a"] & got["d"])


def test_winnow_arrow_equals_expr(spark):
    """winnow_fingerprints is integer arithmetic mod 2^31-1, so its
    fingerprints must be IDENTICAL to the DuckDB twin (_winnow_fps_sql,
    the same CTEs the winnow_fingerprint_overlap oracle runs) on any
    input — short-text padding, whitespace runs, case, non-ASCII —
    not merely within a float margin."""
    import duckdb

    import __spark_entry__ as mod
    from extractthinker_spark.operators.dedup import winnow_fingerprints

    texts = [
        "",
        "a",
        "short",
        "exactly8",
        "The quick brown fox jumps over the lazy dog. " * 3,
        "  spaced\t\tout\n\nwhite   space  ",
        "UPPER lower MiXeD 0123456789 !@#$",
        "repeat repeat repeat repeat repeat repeat",
        "unicode héllo wörld ünïcode",
    ]
    rows = list(enumerate(texts))
    df = spark.createDataFrame(rows, "doc_id int, text string")
    got = {
        r["doc_id"]: r["f"]
        for r in df.select(
            "doc_id", winnow_fingerprints(F.col("text")).alias("f")
        ).collect()
    }
    con = duckdb.connect()
    con.execute("CREATE TABLE src (doc_id INTEGER, text VARCHAR)")
    con.executemany("INSERT INTO src VALUES (?, ?)", rows)
    oracle = dict(con.execute(mod._winnow_fps_sql("src")).fetchall())
    for i, t in rows:
        assert got[i] == oracle[i], (i, t, got[i], oracle[i])


def test_repetition_features_golden(spark):
    """Gopher repetition metrics, hand-computed golden."""
    from extractthinker_spark.functions.textstats import repetition_features

    # doc a: lines [x, y, x] -> dup_line_frac = 1 - 2/3
    #   line chars: x=5 ("hello"), y=9 ("wide open")
    #   dup chars = 5*(2-1) = 5; total = 5*2 + 9 = 19
    #   words: hello wide open hello
    #   bigrams: "hello wide", "wide open", "open hello" all cnt=1 ->
    #     tie -> lexicographically greatest = "wide open" (8 letters)
    #   word_chars = 5+4+4+5 = 18 -> top = 1*8/18
    #   trigrams all unique -> dup_trigram 0
    # doc b: no duplicate anything
    rows = [("a", "hello\nwide open\nhello"), ("b", "one two three")]
    df = spark.createDataFrame(rows, "doc_id string, text string")
    got = {r["doc_id"]: r for r in repetition_features(df).collect()}
    a = got["a"]
    assert a["dup_line_frac"] == round(1 - 2 / 3, 4)
    assert a["dup_line_char_frac"] == round(5 / 19, 4)
    assert a["top_bigram_char_frac"] == round(8 / 18, 4)
    assert a["dup_trigram_char_frac"] == 0.0
    b = got["b"]
    assert b["dup_line_frac"] == 0.0
    assert b["dup_line_char_frac"] == 0.0
    assert b["dup_trigram_char_frac"] == 0.0
    # repeated trigram: "a b c a b c a b c" -> grams: 7 total,
    # "a b c" x3, "b c a" x2, "c a b" x2 -> dup chars = 3*(2+1+1)=...
    df2 = spark.createDataFrame(
        [("c", "a b c a b c a b c")], "doc_id string, text string"
    )
    c = repetition_features(df2).collect()[0]
    # word_chars=9; dup occurrences: (3-1)+(2-1)+(2-1)=4 grams x 3 chars
    assert c["dup_trigram_char_frac"] == round(12 / 9, 4)
    # bigrams: "a b"x3, "b c"x3, "c a"x2; cnt-tie -> lexicographically
    # greatest "b c" (2 letters): 3*2/9
    assert c["top_bigram_char_frac"] == round(6 / 9, 4)


def test_repetition_arrow_catalyst_equal(spark):
    """repetition_features and gopher_filter must be value-identical
    to their DuckDB twins (_repetition_core_sql, _gopher_sql) — same
    float protocol (integer sums → one double division → HALF_UP
    round(4)), same trim semantics (0x20 only), same tie-breaks — over
    paragraphs, empty text, ties, unicode, and planted repetition."""
    import duckdb

    import __spark_entry__ as mod
    from extractthinker_spark.functions.textstats import (
        gopher_filter,
        repetition_features,
    )

    rows = [
        ("a", "hello\nwide open\nhello"),
        ("b", "one two three"),
        ("c", "a b c a b c a b c"),
        ("empty", ""),
        ("ws", " \n\t\n  \n"),
        ("para", "para one here\n\npara two here\n\npara one here"),
        ("longdup", "the quick brown fox jumps high " * 20),
        ("uni", "héllo wörld ünïcode ÉLAN über\nhéllo wörld"),
        ("tie", "x y a b x y a b"),
    ]
    df = spark.createDataFrame(rows, "doc_id string, text string")
    con = duckdb.connect()
    con.execute("CREATE TABLE documents (doc_id VARCHAR, text VARCHAR)")
    con.executemany("INSERT INTO documents VALUES (?, ?)", rows)

    def check(spark_df, sql):
        res = con.execute(sql)
        names = [d[0] for d in res.description]
        oracle = [dict(zip(names, r)) for r in res.fetchall()]
        cols = spark_df.columns
        assert sorted(cols) == sorted(names)
        got = sorted(tuple(r) for r in spark_df.select(*cols).collect())
        want = sorted(tuple(r[c] for c in cols) for r in oracle)
        assert got == want

    check(
        repetition_features(df),
        mod._repetition_core_sql(
            "t AS (SELECT doc_id, text AS txt FROM documents)"
        ),
    )
    check(gopher_filter(df, thresholds={"min_words": 3}), mod._gopher_sql(3))


def test_repetition_full_table_a1_metrics(spark):
    """The Table A1 extensions: paragraph dup fractions, top-3/4-gram,
    dup-5..10-gram — hand-computed goldens."""
    from extractthinker_spark.functions.textstats import repetition_features

    # 8 words "v w x y z q r s" repeated 3x = 24 words, wc = 24 chars.
    # Every 5-gram..10-gram window that recurs: n-grams over a
    # period-8 sequence repeat (24 - n + 1) windows, distinct = 8 for
    # n <= 16, so dup chars = sum over distinct grams of
    # n*(cnt-1)... easier pinned numerically below.
    text = " ".join(["v w x y z q r s"] * 3)
    para = "alpha beta\n\ngamma delta\n\nalpha beta"
    df = spark.createDataFrame(
        [("p", para), ("r", text)], "doc_id string, text string"
    )
    got = {r["doc_id"]: r for r in repetition_features(df).collect()}
    p = got["p"]
    # paras: [alpha beta, gamma delta, alpha beta] -> 1 - 2/3
    assert p["dup_para_frac"] == round(1 - 2 / 3, 4)
    # dup chars 10*(2-1)=10; total 10*2+11 = 31
    assert p["dup_para_char_frac"] == round(10 / 31, 4)
    r = got["r"]
    # period-8 word stream, 24 words, wc=24. For n-grams: total
    # windows 24-n+1, 8 distinct (each seen ceil/floor), repeat
    # occurrences = (24-n+1) - 8, each counting n letters.
    for n, col in [(5, "dup_5gram_char_frac"), (7, "dup_7gram_char_frac"),
                   (10, "dup_10gram_char_frac")]:
        windows = 24 - n + 1
        expect = round(n * (windows - 8) / 24, 4)
        assert r[col] == expect, (n, r[col], expect)
    # top 4-gram: all 8 distinct 4-grams appear ceil(21/8)=3 or 2
    # times; max cnt=3 achieved by the first 5 windows' grams; ties ->
    # lexicographically greatest gram among cnt=3: grams starting at
    # positions 0..4 of the period: "v w x y","w x y z","x y z q",
    # "y z q r","z q r s" -> greatest is "z q r s"; frac = 3*4/24
    assert r["top_4gram_char_frac"] == round(12 / 24, 4)


def test_gopher_filter_gate(spark):
    """First-failing-rule semantics and threshold boundaries."""
    from extractthinker_spark.functions.textstats import gopher_filter

    long_good = ("the quick brown fox jumps over the lazy dog and then "
                 "keeps running through the wide open field for a while "
                 "until it finds a quiet place to rest near the river")
    rows = [
        ("ok", long_good),
        ("short", "tiny text"),
        ("nostop", " ".join(f"zzz{i} qqqx{i}" for i in range(30))),
        ("repeatl", "\n".join(["dup line here"] * 10) + "\n" + long_good),
    ]
    df = spark.createDataFrame(rows, "doc_id string, text string")
    got = {
        r["doc_id"]: r
        for r in gopher_filter(df, thresholds={"min_words": 10}).collect()
    }
    assert got["ok"]["keep"] and got["ok"]["reject_reason"] is None
    assert got["short"]["reject_reason"] == "too_few_words"
    assert got["nostop"]["reject_reason"] == "stopwords"
    # repeated lines trip the dup-line rule BEFORE the char-frac rule
    assert got["repeatl"]["reject_reason"] == "dup_lines"
    assert not got["repeatl"]["keep"]


def test_pii_scrub_and_counts(spark):
    """PII redaction goldens: each category scrubs to its token in
    PII_PATTERNS order; counts audit the original text; conservative
    phone rule (international + prefix only) leaves bare digit runs."""
    from extractthinker_spark.functions.pii import pii_scrub_frame

    rows = [
        ("a", "mail bob.smith+x@corp.example.org now"),
        ("b", "server at 192.168.1.254 port 80"),
        ("c", "ssn 123-45-6789 and card 4111 1111 1111 1111"),
        ("d", "call +44 20 7946-0958 today"),
        ("e", "invoice 12345 qty 8 total 99.50"),  # no PII
    ]
    df = spark.createDataFrame(rows, "doc_id string, text string")
    got = {r["doc_id"]: r for r in pii_scrub_frame(df).collect()}
    assert got["a"]["text_scrubbed"] == "mail [EMAIL] now"
    assert got["a"]["n_email"] == 1 and got["a"]["any_pii"]
    assert got["b"]["text_scrubbed"] == "server at [IP] port 80"
    assert got["c"]["text_scrubbed"] == "ssn [SSN] and card [CARD]"
    assert got["c"]["n_ssn"] == 1 and got["c"]["n_card"] == 1
    assert got["d"]["text_scrubbed"] == "call [PHONE] today"
    # 99.50 is not an IP, 12345 not a phone: stay untouched
    assert got["e"]["text_scrubbed"] == rows[4][1]
    assert not got["e"]["any_pii"]


def test_dedup_lines_corpus(spark):
    """Corpus-wide duplicate-line scrub: lines repeated across >=K
    docs drop (case/space-insensitive match), order is preserved,
    whitespace lines are structural, an all-boilerplate doc empties."""
    from extractthinker_spark.operators.dedup import dedup_lines_corpus

    banner = "Subscribe to our newsletter"
    rows = [
        ("a", f"unique alpha\n{banner}\nalpha tail"),
        ("b", f"unique beta\n{banner.upper()}\n\nbeta tail"),
        ("c", f"{banner}\nunique gamma"),
        ("d", banner),
    ]
    df = spark.createDataFrame(rows, "doc_id string, text string")
    got = {
        r["doc_id"]: r
        for r in dedup_lines_corpus(df, min_doc_freq=3).collect()
    }
    assert got["a"]["text_clean"] == "unique alpha\nalpha tail"
    assert got["a"]["n_lines_dropped"] == 1
    # case-insensitive normalized match; empty line kept as structure
    assert got["b"]["text_clean"] == "unique beta\n\nbeta tail"
    assert got["c"]["text_clean"] == "unique gamma"
    assert got["d"]["text_clean"] == ""
    assert got["d"]["n_lines_kept"] == 0 and got["d"]["n_lines_dropped"] == 1
    # below the frequency bar nothing drops
    loose = {
        r["doc_id"]: r["n_lines_dropped"]
        for r in dedup_lines_corpus(df, min_doc_freq=5).collect()
    }
    assert all(v == 0 for v in loose.values())


def test_url_normalize_and_dedup(spark):
    """URL normalization rule set goldens + URL-level dedup."""
    from extractthinker_spark.functions.urls import (
        dedup_by_url,
        normalize_url,
        url_host,
    )

    rows = [
        ("a", "HTTP://User@Ex.COM:80/Path/X?utm_source=t&q=1&utm_c=2#frag"),
        ("b", "https://site.example:443/a?utm_only=1"),
        ("c", "https://keep.example/b?x=1&y=2"),
        ("d", "http://ex.com/Path/X?q=1"),          # dup of a post-norm
        ("e", "https://ex.com:8443/keepport"),       # non-default port kept
        ("f", "no-scheme/relative?utm_x=1&k=2"),
    ]
    df = spark.createDataFrame(rows, "doc_id string, url string")
    got = {
        r["doc_id"]: (r["n"], r["h"])
        for r in df.select(
            "doc_id",
            normalize_url(F.col("url")).alias("n"),
            url_host(F.col("url")).alias("h"),
        ).collect()
    }
    assert got["a"] == ("http://user@ex.com/Path/X?q=1", "ex.com")
    assert got["b"] == ("https://site.example/a", "site.example")
    assert got["c"] == ("https://keep.example/b?x=1&y=2", "keep.example")
    assert got["e"] == ("https://ex.com:8443/keepport", "ex.com")
    # schemeless: authority rules don't apply, params still filter
    assert got["f"] == ("no-scheme/relative?k=2", "")

    dd = {r["nurl"]: r["doc_id"] for r in dedup_by_url(df).collect()}
    assert dd["http://user@ex.com/Path/X?q=1"] == "a"
    assert dd["http://ex.com/Path/X?q=1"] == "d"


def test_driver_contract_key_sync():
    """Every queries() entry has an oracle_sql() twin and vice versa —
    the driver's correctness gate never silently downgrades a query to
    rows-only because a key drifted."""
    import __spark_entry__ as mod

    qs, sql = mod.queries(), mod.oracle_sql()
    assert set(qs) == set(sql), (
        sorted(set(qs) ^ set(sql)),
    )
    assert len(qs) >= 55


def test_gopher_filter_all_rules_disabled(spark):
    """Disabling every gate rule degrades to keep-everything with a
    NULL reject_reason instead of raising."""
    from extractthinker_spark.functions.textstats import (
        GOPHER_GATE_RULES,
        gopher_filter,
    )

    off = {tkey: None for _, _, _, tkey in GOPHER_GATE_RULES}
    df = spark.createDataFrame(
        [("a", "x"), ("b", "zz " * 400)], "doc_id string, text string"
    )
    got = {r["doc_id"]: r for r in gopher_filter(df, thresholds=off).collect()}
    assert all(r["keep"] and r["reject_reason"] is None for r in got.values())


def test_dedup_lines_corpus_regex_meaningful_sep(spark):
    """sep is documented as a LITERAL separator: '.' must split on
    dots (not every character) and round-trip through the rejoin."""
    from extractthinker_spark.operators.dedup import dedup_lines_corpus

    rows = [
        ("a", "keep me.common part.tail a"),
        ("b", "other text.common part.tail b"),
        ("c", "common part.solo c"),
    ]
    df = spark.createDataFrame(rows, "doc_id string, text string")
    got = {
        r["doc_id"]: r
        for r in dedup_lines_corpus(df, min_doc_freq=3, sep=".").collect()
    }
    assert got["a"]["text_clean"] == "keep me.tail a"
    assert got["b"]["text_clean"] == "other text.tail b"
    assert got["c"]["text_clean"] == "solo c"
    assert all(r["n_lines_dropped"] == 1 for r in got.values())


def test_lang_id_web_scale(spark):
    """Two-stage ID: non-Latin scripts decide by character histogram
    (kana rule splits zh/ja), Latin text by the 20-language stopword
    vote, zero evidence → 'und'."""
    from extractthinker_spark.functions.textstats import lang_id

    rows = [
        ("ja", "これは日本語のテキストです。漢字とかなが混ざります。"),
        ("zh", "这是一段中文文本，完全由汉字组成，没有任何假名。"),
        ("ko", "이것은 한국어 텍스트입니다. 한글로만 작성되었습니다."),
        ("ru", "Это русский текст написанный кириллицей для проверки."),
        ("ar", "هذا نص عربي مكتوب بالحروف العربية للاختبار."),
        ("el", "Αυτό είναι ένα ελληνικό κείμενο για δοκιμή."),
        ("hi", "यह हिंदी में लिखा गया एक परीक्षण पाठ है।"),
        ("th", "นี่คือข้อความภาษาไทยสำหรับการทดสอบ"),
        ("he", "זהו טקסט בעברית לבדיקה של זיהוי שפה."),
        ("en", "the cat and the dog ran to the house that was red"),
        ("de", "der hund und die katze sind nicht in das haus gelaufen"),
        ("fr", "le chat est dans les jardins pour une promenade"),
        ("es", "el perro y los gatos son una familia que corre por"),
        ("pt", "uma casa para que eles possam morar com mais conforto nao"),
        ("nl", "het huis van een man die niet aan zijn werk begon"),
        ("tr", "bu bir deneme metni ve daha sonra gibi olarak devam"),
        ("id", "ini adalah teks yang ditulis dengan bahasa untuk dari"),
        ("und", "12345 67890 !!! ??? ###"),
        # latin text with a FEW cjk chars stays on the vote path
        ("en2", "the report and the data of the year 漢字 is final"),
    ]
    df = spark.createDataFrame(rows, "doc_id string, text string")
    got = {
        r["doc_id"]: r["lang"]
        for r in df.select(
            "doc_id", lang_id(F.col("text")).alias("lang")
        ).collect()
    }
    expect = {k: k for k, _ in rows}
    expect["en2"] = "en"
    assert got == expect


def test_lang_id_matches_duckdb_twin(spark):
    """The generated DuckDB SQL and lang_id agree on mixed-script rows
    (the testdata documents are Latin-heavy, so the script branch needs
    its own cross-engine pin), including the kana rule, the Latin vote
    and the zero-evidence fallbacks."""
    import duckdb

    import __spark_entry__ as mod
    from extractthinker_spark.functions.textstats import lang_id

    rows = [
        ("a", "日本語のかな混じりテキスト"),
        ("b", "只有汉字的中文句子测试内容"),
        ("c", "Привет мир это тест"),
        ("d", "the quick brown fox and the dog"),
        ("e", "une phrase pour le test des mots"),
        ("f", ""),
        ("g", "mixed 漢字 with the english and words of the test"),
    ]
    df = spark.createDataFrame(rows, "doc_id string, text string")
    got = {
        r["doc_id"]: r["pred_lang"]
        for r in df.select(
            "doc_id", lang_id(F.col("text")).alias("pred_lang")
        ).collect()
    }
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE documents AS SELECT * FROM (VALUES {}) t(doc_id, text)"
        .format(", ".join("(?, ?)" for _ in rows)),
        [v for row in rows for v in row],
    )
    oracle = {
        k: v for k, v in con.execute(mod._langid_sql()).fetchall()
    }
    assert got == oracle


def test_lang_id_arrow_parity(spark):
    """lang_id's Arrow path is equal to the DuckDB twin (_langid_sql)
    on mixed-script and Latin-vote fixtures (incl. the kana rule, the
    Hangul branch and zero-evidence fallbacks)."""
    import duckdb

    import __spark_entry__ as mod
    from extractthinker_spark.functions.textstats import lang_id

    rows = [
        ("a", "これは日本語のテキストです。漢字も含む。"),
        ("b", "只有汉字的中文句子"),
        ("c", "한국어 텍스트 입니다"),
        ("d", "Привет мир тест текста"),
        ("e", "the cat and the dog of the house"),
        ("f", "der hund und die katze ist das"),
        ("g", "une phrase pour le test des mots est"),
        ("h", "no stopword zzz qqq xxx yyy"),
        ("i", ""),
        ("j", "12345 !!! ???"),
        ("k", "mixed 漢 the and of to is english body"),
    ]
    df = spark.createDataFrame(rows, "doc_id string, text string")
    arrow = {
        r["doc_id"]: r["l"]
        for r in df.select(
            "doc_id", lang_id(F.col("text")).alias("l")
        ).collect()
    }
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE documents AS SELECT * FROM (VALUES {}) t(doc_id, text)"
        .format(", ".join("(?, ?)" for _ in rows)),
        [v for row in rows for v in row],
    )
    oracle = {
        k: v for k, v in con.execute(mod._langid_sql()).fetchall()
    }
    assert arrow == oracle


def test_c4_filter(spark):
    """C4 cleaning semantics: short / unterminated lines drop, docs
    fail on lorem ipsum, curly braces, blocklist hits, or too few
    surviving sentences — first-failing-rule reasons."""
    from extractthinker_spark.functions.textstats import c4_filter

    good = ("This is a proper sentence with enough words here.\n"
            "Another full sentence follows it right away today.\n"
            "And a third one closes the page quite nicely now.")
    rows = [
        ("ok", good),
        ("shortlines", "Tiny line.\nAlso tiny.\nStill tiny.\nNope."),
        ("noterm", good.replace(".", "")),
        ("lorem", good + "\nlorem ipsum dolor sit amet consectetur."),
        ("code", good + "\nfunction f() { return 1; }"),
        ("bad", good + "\nThis line mentions badger contraband openly."),
    ]
    df = spark.createDataFrame(rows, "doc_id string, text string")
    got = {
        r["doc_id"]: r
        for r in c4_filter(df, blocklist=["contraband"]).collect()
    }
    assert got["ok"]["keep"] and got["ok"]["n_lines_kept"] == 3
    assert got["shortlines"]["reject_reason"] == "too_few_sentences"
    # unterminated lines all drop -> zero sentences survive
    assert got["noterm"]["n_lines_kept"] == 0
    assert got["noterm"]["reject_reason"] == "too_few_sentences"
    assert got["lorem"]["reject_reason"] == "lorem_ipsum"
    assert got["code"]["reject_reason"] == "curly_brace"
    assert got["bad"]["reject_reason"] == "blocklist"
    # the kept text is the surviving lines, rejoined
    assert got["shortlines"]["text_clean"] == ""


def test_unicode_hygiene(spark):
    """strip_control_chars removes C0/C1 (keeping tab/newline/CR);
    normalize_unicode NFC composes combining sequences and NFKC folds
    ligatures/fullwidth; NULLs pass through."""
    import pytest

    from extractthinker_spark.functions.textstats import (
        normalize_unicode,
        strip_control_chars,
    )

    rows = [
        ("a", "ab\x00c\x07d\tkeep-\nme\x9cx"),
        ("b", "cafe\u0301 \ufb01ne \uff41\uff42"),
        ("c", None),
    ]
    df = spark.createDataFrame(rows, "doc_id string, text string")
    got = {
        r["doc_id"]: (r["s"], r["nfc"], r["nfkc"])
        for r in df.select(
            "doc_id",
            strip_control_chars(F.col("text")).alias("s"),
            normalize_unicode(F.col("text"), "NFC").alias("nfc"),
            normalize_unicode(F.col("text"), "NFKC").alias("nfkc"),
        ).collect()
    }
    assert got["a"][0] == "abcd\tkeep-\nmex"  # hyphen survives
    assert got["b"][1] == "caf\u00e9 \ufb01ne \uff41\uff42"
    assert got["b"][2] == "caf\u00e9 fine ab"
    assert got["c"] == (None, None, None)
    with pytest.raises(ValueError, match="normalization form"):
        normalize_unicode(F.col("text"), "NFX")


def test_c4_filter_matches_duckdb_twin(spark):
    """Cross-engine pin for c4_filter (the staged oracle, _c4_sql):
    line rules, sentence gate and page rejects agree value-for-value
    between the Catalyst expression and the DuckDB replay."""
    import duckdb

    import __spark_entry__ as mod
    from extractthinker_spark.functions.textstats import c4_filter

    good = ("This is a proper sentence with enough words here.\n"
            "Another full sentence follows it right away today.\n"
            "And a third one closes the page quite nicely now.")
    rows = [
        ("ok", good),
        ("short", "Tiny line.\nAlso tiny!\nNope?"),
        ("noterm", good.replace(".", "")),
        ("lorem", good + "\nlorem ipsum dolor sit amet consectetur."),
        ("code", good + "\nfunction f() { return 1; }"),
        ("quote", good + '\nShe said the quoted words matter "today."'),
        ("empty", ""),
    ]
    df = spark.createDataFrame(rows, "doc_id string, text string")
    got = sorted(
        (r["doc_id"], r["text_clean"], r["n_lines_kept"], r["keep"],
         r["reject_reason"])
        for r in c4_filter(df).collect()
    )
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE documents AS SELECT * FROM (VALUES {}) "
        "t(doc_id, text)".format(", ".join("(?, ?)" for _ in rows)),
        [v for row in rows for v in row],
    )
    oracle = sorted(map(tuple, con.execute(mod._c4_sql()).fetchall()))
    assert got == oracle


def test_lang_id_fine_refinement(spark):
    """Within-script refinement: Ukrainian/Bulgarian split off the
    Cyrillic 'ru' verdict, Persian/Urdu off the Arabic-script 'ar';
    plain Russian/Arabic and every non-refined verdict match lang_id
    exactly."""
    from extractthinker_spark.functions.textstats import (
        lang_id,
        lang_id_fine,
    )

    rows = [
        ("ru", "\u042d\u0442\u043e \u0440\u0443\u0441\u0441\u043a\u0438\u0439 \u0442\u0435\u043a\u0441\u0442 \u0441 \u0431\u0443\u043a\u0432\u0430\u043c\u0438 \u044b \u0438 \u044d\u0442\u043e"),
        ("uk", "\u0426\u0435 \u0443\u043a\u0440\u0430\u0457\u043d\u0441\u044c\u043a\u0438\u0439 \u0442\u0435\u043a\u0441\u0442 \u0456\u0437 \u043b\u0456\u0442\u0435\u0440\u0430\u043c\u0438 \u0457 \u0442\u0430 \u0454"),
        ("bg", "\u0422\u043e\u0432\u0430 \u0435 \u0431\u044a\u043b\u0433\u0430\u0440\u0441\u043a\u0438 \u0442\u0435\u043a\u0441\u0442 \u0441\u044a\u0441 \u0441\u044a\u0433\u043b\u0430\u0441\u043d\u0438"),
        ("ar", "\u0647\u0630\u0627 \u0646\u0635 \u0639\u0631\u0628\u064a \u0645\u0643\u062a\u0648\u0628 \u0628\u0627\u0644\u0644\u063a\u0629 \u0627\u0644\u0639\u0631\u0628\u064a\u0629"),
        ("fa", "\u0627\u06cc\u0646 \u06cc\u06a9 \u0645\u062a\u0646 \u0641\u0627\u0631\u0633\u06cc \u0627\u0633\u062a \u06a9\u0647 \u067e\u0631 \u0627\u0632 \u0698 \u0648 \u06af \u0648 \u0686"),
        ("en", "the cat and the dog of the house ran to it"),
        ("und", "12345 !!! ???"),
    ]
    df = spark.createDataFrame(rows, "doc_id string, text string")
    fine = {
        r["doc_id"]: r["l"]
        for r in df.select(
            "doc_id", lang_id_fine(F.col("text")).alias("l")
        ).collect()
    }
    assert fine == {k: k for k, _ in rows}
    # non-refined verdicts identical to lang_id
    base = {
        r["doc_id"]: r["l"]
        for r in df.select(
            "doc_id", lang_id(F.col("text")).alias("l")
        ).collect()
    }
    for k in ("en", "und", "ar", "ru"):
        assert base[k] == fine[k]
    assert base["uk"] == "ru" and base["fa"] == "ar"  # what fine fixes


def test_lang_id_fine_latin_pairs(spark):
    """Latin-script refinement (round 6): es/pt, da/no/sv, id/ms are
    re-adjudicated with distinctive codepoints + whole-word markers
    whichever of the pair the stopword vote landed on."""
    from extractthinker_spark.functions.textstats import lang_id_fine

    rows = [
        ("es", "Pero una señora dijo que cuando ella ve algo ¿qué pasa?"),
        ("pt", "Ela disse que não é uma coisa boa quando isso acontece"
               " mais"),
        ("da", "Han har ikke set hvad der skete efter ud af huset"),
        ("no", "Han har ikke sett hva som skjedde etter at vi dro ut"
               " av huset"),
        ("sv", "Och det är inte så att han på något sätt var där och"
               " är"),
        ("ms", "Dia tidak mahu pergi ke sana kerana awak tidak ada"
               " selepas itu"),
        ("id", "Dia tidak bisa pergi karena sudah ada yang datang"
               " setelah itu"),
        # deaccented Portuguese: word markers alone must still win
        ("pt", "Ela disse que e uma coisa boa quando isso acontece"
               " mais vezes"),
    ]
    df = spark.createDataFrame(
        [(f"{k}{i}", k, t) for i, (k, t) in enumerate(rows)],
        "id string, want string, text string",
    )
    got = df.select(
        "id", "want", lang_id_fine(F.col("text")).alias("l")
    ).collect()
    for r in got:
        assert r["l"] == r["want"], (r["id"], r["l"], r["want"])
