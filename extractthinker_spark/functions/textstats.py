"""Text-analysis column expressions and per-document Arrow passes.

Token counting here is the SAME spec as functions/tokens.py (the
reference's simple_token_counter, utils.py:125-165) expressed as a
regexp_extract_all + aggregate fold, so the hot path never leaves the
JVM; the pandas implementation remains for UDF contexts and the two
are pinned equal by tests.

Also: document quality scoring, n-gram stopword language ID, and
content fingerprinting — the text-analysis layer a training-data
pipeline needs (driver brief), each with an exact ANSI-SQL twin in
__spark_entry__.oracle_sql().
"""

from __future__ import annotations

import re

import pandas as pd  # module-top: pandas_udf type hints resolve here
import pyspark.sql.functions as F
from pyspark.sql import Column

TOKEN_CHUNK_PATTERN = r"[a-z]{1,20}|[0-9]+|[^a-z0-9\s]{1,2}"


def count_tokens(text: Column) -> Column:
    """Reference-exact token count, fully JVM-side.

    Identity used: sum(max(1, len//4)) = count(chunks) +
    sum_{len>=8}(len//4 - 1) — chunks of length 5..7 still count 1
    (7//4 == 1), so only chunks >= 8 chars contribute extra. Folding
    only those (typically <10% of chunks; higher-order lambdas are
    interpreted, not codegen'd) measured ~2x on the documents table.
    """
    chunks = F.regexp_extract_all(F.lower(text), F.lit(TOKEN_CHUNK_PATTERN), F.lit(0))
    long_chunks = F.filter(chunks, lambda t: F.length(t) >= 8)
    extra = F.aggregate(
        long_chunks,
        F.lit(0).cast("long"),
        lambda acc, t: acc + F.floor(F.length(t) / 4) - 1,
    )
    return F.size(chunks).cast("long") + extra


def normalize_ws_sql(text: Column) -> Column:
    """SQL-expressible whitespace normalization (collapse all runs to a
    single space + trim). NOTE: this is the cross-engine-checkable
    subset; the reference-exact line/phrase variant lives in
    functions/tokens.py (differs only on single-space-preserving
    edge cases)."""
    return F.trim(F.regexp_replace(text, r"\s+", " "))


def fingerprint(text: Column) -> Column:
    """Deterministic content fingerprint: md5 of the normalized text.
    The exact-dedup key."""
    return F.md5(F.lower(normalize_ws_sql(text)))


# --- quality scoring -------------------------------------------------------

EN_STOPWORDS = ["the", "and", "of", "to", "a", "in", "is", "it", "for", "on"]


def _count_re(text: Column, pattern: str) -> Column:
    return F.size(F.regexp_extract_all(text, F.lit(pattern), F.lit(0)))


def quality_features(text: Column) -> dict[str, Column]:
    """Deterministic quality features (length / punctuation / digits /
    word stats / stopword ratio). Every expression has an ANSI-SQL
    equivalent, so the whole feature vector is oracle-checkable."""
    n_chars = F.length(text)
    words = F.regexp_extract_all(F.lower(text), F.lit(r"[a-z]+"), F.lit(0))
    n_words = F.size(words)
    word_chars = F.aggregate(
        words, F.lit(0).cast("long"), lambda acc, w: acc + F.length(w)
    )
    n_stop = F.size(
        F.filter(words, lambda w: w.isin(*EN_STOPWORDS))
    )
    return {
        "n_chars": n_chars.cast("long"),
        "n_words": n_words.cast("long"),
        "avg_word_len": F.when(
            n_words > 0, F.round(word_chars / n_words, 4)
        ).otherwise(F.lit(0.0)),
        "punct_ratio": F.when(
            n_chars > 0,
            F.round(_count_re(text, r"[^\w\s]") / n_chars, 4),
        ).otherwise(F.lit(0.0)),
        "digit_ratio": F.when(
            n_chars > 0, F.round(_count_re(text, r"[0-9]") / n_chars, 4)
        ).otherwise(F.lit(0.0)),
        "stopword_ratio": F.when(
            n_words > 0, F.round(n_stop / n_words, 4)
        ).otherwise(F.lit(0.0)),
    }


# Gopher's 8-word stopword presence list (Rae et al. 2021, §A1.1:
# "contains at least two of the following English words: the, be, to,
# of, and, that, have, with") — distinct-presence, not hit-count.
GOPHER_STOPWORDS_8 = ["the", "be", "to", "of", "and", "that", "have", "with"]

# Repetition metric inventory (Rae et al. 2021, Table A1), shared by
# repetition_features and the DuckDB oracle generator:
# top-n-gram char fractions for n=2..4, duplicate-n-gram char
# fractions for n=5..10 (plus the legacy dup-trigram signal kept from
# earlier rounds). Character accounting uses the sum-of-occurrence
# convention (each repeat occurrence counts its gram's letters) — the
# tractable interval-free variant common to Gopher reproductions.
TOP_GRAM_NS = (2, 3, 4)
DUP_GRAM_NS = (3, 5, 6, 7, 8, 9, 10)


def _top_col(n: int) -> str:
    return {2: "top_bigram_char_frac", 3: "top_trigram_char_frac"}.get(
        n, f"top_{n}gram_char_frac"
    )


def _dup_col(n: int) -> str:
    return {3: "dup_trigram_char_frac"}.get(n, f"dup_{n}gram_char_frac")


WORD_FEATURE_COLS = ["n_words", "avg_word_len", "stopword_hits", "stop_distinct"]

REPETITION_COLS = (
    ["dup_line_frac", "dup_line_char_frac",
     "dup_para_frac", "dup_para_char_frac"]
    + [_top_col(n) for n in TOP_GRAM_NS]
    + [_dup_col(n) for n in DUP_GRAM_NS]
)


def _round4(x: float) -> float:
    """Spark-exact round(double, 4): HALF_UP on the shortest decimal
    repr (java BigDecimal.valueOf semantics == python repr)."""
    from decimal import ROUND_HALF_UP, Decimal

    return float(Decimal(repr(x)).quantize(Decimal("0.0001"),
                                           rounding=ROUND_HALF_UP))


def _repetition_metrics_py(text: str) -> dict[str, float]:
    """Per-document repetition + word features, pure Python/Counter —
    the body of :func:`repetition_features`. Must stay value-identical
    to the DuckDB oracle twin (pinned by tests + the driver oracle):
    non-empty = Spark trim semantics (strips 0x20 ONLY), words =
    ``[a-z]+`` over lower(text), gram chars = len(gram) - (n-1)
    (single-space joins over pure-letter words), fractions = integer
    sums -> one IEEE double division -> Spark HALF_UP round(4)."""
    import re
    from collections import Counter

    out = {c: 0.0 for c in REPETITION_COLS}

    def seg_stats(parts):
        kept = [p for p in parts if p.strip(" ")]
        if not kept:
            return 0.0, 0.0
        cnt = Counter(kept)
        frac = _round4(1.0 - len(cnt) / len(kept))
        rep = sum(len(s) * (c - 1) for s, c in cnt.items())
        tot = sum(len(s) * c for s, c in cnt.items())
        return frac, _round4(rep / tot)

    out["dup_line_frac"], out["dup_line_char_frac"] = seg_stats(
        text.split("\n")
    )
    out["dup_para_frac"], out["dup_para_char_frac"] = seg_stats(
        text.split("\n\n")
    )

    ws = re.findall(r"[a-z]+", text.lower())
    wc = sum(map(len, ws))
    out["n_words"] = len(ws)
    out["avg_word_len"] = _round4(wc / len(ws)) if ws else 0.0
    out["stopword_hits"] = sum(1 for w in ws if w in _EN_STOPSET)
    out["stop_distinct"] = len({w for w in ws if w in _GOPHER8_SET})
    if wc:
        for n in sorted(set(TOP_GRAM_NS) | set(DUP_GRAM_NS)):
            if len(ws) < n:
                break
            cnt = Counter(
                " ".join(ws[i:i + n]) for i in range(len(ws) - n + 1)
            )
            if n in TOP_GRAM_NS:
                best_c, best_g = max(
                    ((c, g) for g, c in cnt.items())
                )
                out[_top_col(n)] = _round4(
                    best_c * (len(best_g) - (n - 1)) / wc
                )
            if n in DUP_GRAM_NS:
                rep = sum(
                    (len(g) - (n - 1)) * (c - 1)
                    for g, c in cnt.items() if c > 1
                )
                out[_dup_col(n)] = _round4(rep / wc)
    return out


_EN_STOPSET = frozenset(EN_STOPWORDS)
_GOPHER8_SET = frozenset(GOPHER_STOPWORDS_8)


def _repetition_schema(df, key: str, with_word_features: bool):
    from pyspark.sql.types import DoubleType, LongType, StructField, StructType

    fields = [df.schema[key]]
    if with_word_features:
        fields += [
            StructField("n_words", LongType()),
            StructField("avg_word_len", DoubleType()),
            StructField("stopword_hits", LongType()),
            StructField("stop_distinct", LongType()),
        ]
    fields += [StructField(c, DoubleType()) for c in REPETITION_COLS]
    return StructType(fields)


def repetition_features(
    df,
    key: str = "doc_id",
    text_col: str = "text",
    with_word_features: bool = False,
):
    """Gopher repetition signals (Rae et al. 2021, Table A1):

      * ``dup_line_frac`` / ``dup_para_frac``: 1 − distinct/total over
        non-empty lines (split ``\\n``) / paragraphs (split ``\\n\\n``)
      * ``dup_line_char_frac`` / ``dup_para_char_frac``: chars in
        repeat occurrences of a segment (cnt−1 per group) / total
      * ``top_{2,3,4}gram_char_frac``: chars covered by the most
        frequent word n-gram / total word chars (ties →
        lexicographically greatest gram)
      * ``dup_{5..10}gram_char_frac`` (+ legacy dup-trigram): chars in
        repeat occurrences of word n-grams / total word chars

    ``with_word_features`` prepends (n_words, avg_word_len,
    stopword_hits, stop_distinct) so :func:`gopher_filter` is a single
    pass over the text.

    Every statistic is per-document, so the whole operator is one
    zero-shuffle ``mapInPandas`` pass: Counter/regex per doc, grams
    never leave the document. The DuckDB oracle
    (``__spark_entry__._repetition_core_sql``) replays the same math
    as explode + groupBy per gram family with the identical float
    protocol: integer sums (exact in f64) → one double division →
    HALF_UP round(4), so results are bit-identical across engines.
    """
    schema = _repetition_schema(df, key, with_word_features)
    names = [f.name for f in schema.fields]
    int_cols = {"n_words", "stopword_hits", "stop_distinct"}

    def gen(batches):
        for pdf in batches:
            rows = []
            for k, t in zip(pdf[key], pdf[text_col]):
                m = _repetition_metrics_py(t if t is not None else "")
                rows.append([k] + [m[c] for c in names[1:]])
            out = pd.DataFrame(rows, columns=names)
            for c in int_cols & set(names):
                out[c] = out[c].astype("int64")
            yield out

    return df.select(key, text_col).mapInPandas(gen, schema=schema)


GOPHER_THRESHOLDS: dict[str, float | None] = {
    # Rae et al. 2021, Table A1 (quality filtering heuristics).
    # min_stop_distinct implements the paper's ">= 2 of the 8 stop
    # words" presence rule (distinct words from GOPHER_STOPWORDS_8);
    # the two None entries are legacy framework-specific gates kept
    # for opt-in (hit-count over EN_STOPWORDS; sum-over-repeats
    # trigram fraction, which Table A1 does NOT define — the paper's
    # 0.18 is the TOP-3-gram threshold, applied here as
    # max_top_trigram_char_frac).
    "min_words": 50,
    "max_words": 100_000,
    "min_avg_word_len": 3.0,
    "max_avg_word_len": 10.0,
    "min_stop_distinct": 2,
    "min_stopword_hits": None,
    "max_dup_line_frac": 0.30,
    "max_dup_para_frac": 0.30,
    "max_dup_line_char_frac": 0.20,
    "max_dup_para_char_frac": 0.20,
    "max_top_bigram_char_frac": 0.20,
    "max_top_trigram_char_frac": 0.18,
    "max_top_4gram_char_frac": 0.16,
    "max_dup_trigram_char_frac": None,
    "max_dup_5gram_char_frac": 0.15,
    "max_dup_6gram_char_frac": 0.14,
    "max_dup_7gram_char_frac": 0.13,
    "max_dup_8gram_char_frac": 0.12,
    "max_dup_9gram_char_frac": 0.11,
    "max_dup_10gram_char_frac": 0.10,
}

# (reject_reason label, feature column, comparison, threshold key) in
# gate order — the single source of truth shared with the DuckDB
# oracle generator in __spark_entry__. A None threshold skips the rule.
GOPHER_GATE_RULES: list[tuple[str, str, str, str]] = [
    ("too_few_words", "n_words", "<", "min_words"),
    ("too_many_words", "n_words", ">", "max_words"),
    ("avg_word_len", "avg_word_len", "<", "min_avg_word_len"),
    ("avg_word_len", "avg_word_len", ">", "max_avg_word_len"),
    ("stopwords", "stop_distinct", "<", "min_stop_distinct"),
    ("stopword_hits", "stopword_hits", "<", "min_stopword_hits"),
    ("dup_lines", "dup_line_frac", ">", "max_dup_line_frac"),
    ("dup_paras", "dup_para_frac", ">", "max_dup_para_frac"),
    ("dup_line_chars", "dup_line_char_frac", ">", "max_dup_line_char_frac"),
    ("dup_para_chars", "dup_para_char_frac", ">", "max_dup_para_char_frac"),
    ("top_bigram", "top_bigram_char_frac", ">", "max_top_bigram_char_frac"),
    ("top_trigram", "top_trigram_char_frac", ">", "max_top_trigram_char_frac"),
    ("top_4gram", "top_4gram_char_frac", ">", "max_top_4gram_char_frac"),
    ("dup_trigram", "dup_trigram_char_frac", ">", "max_dup_trigram_char_frac"),
] + [
    (f"dup_{n}gram", _dup_col(n), ">", f"max_dup_{n}gram_char_frac")
    for n in (5, 6, 7, 8, 9, 10)
]


def gopher_filter(
    df,
    key: str = "doc_id",
    text_col: str = "text",
    thresholds: dict | None = None,
):
    """The Gopher quality GATE (Rae et al. 2021, Table A1): word/
    length/stopword heuristics + the full repetition signal set →
    per-document keep/drop plus the FIRST failing rule as
    ``reject_reason`` (order = GOPHER_GATE_RULES; NULL reason = keep).
    Returns (key, word features, repetition fractions, reject_reason,
    keep).

    Single pass over the text: the word features ride along inside
    :func:`repetition_features` (``with_word_features=True``), so the
    whole gate is one zero-shuffle mapInPandas stage plus cheap
    expression post-processing.
    """
    t = {**GOPHER_THRESHOLDS, **(thresholds or {})}
    feats = repetition_features(
        df, key=key, text_col=text_col, with_word_features=True
    )
    reason = None
    for label, col, op, tkey in GOPHER_GATE_RULES:
        if t.get(tkey) is None:
            continue
        cond = (F.col(col) < t[tkey]) if op == "<" else (F.col(col) > t[tkey])
        reason = F.when(cond, label) if reason is None else reason.when(cond, label)
    if reason is None:  # every rule disabled → keep everything
        reason = F.lit(None).cast("string")
    return feats.select(
        "*", reason.alias("reject_reason"),
        reason.isNull().alias("keep"),
    )


def quality_score(text: Column) -> Column:
    """Composite 0..1 quality score — a Gopher/C4-style heuristic gate:
    penalize too-short docs, punctuation soup, digit soup, and
    stopword-free (non-linguistic) text."""
    f = quality_features(text)
    score = (
        F.when(f["n_words"] >= 20, F.lit(0.25)).otherwise(f["n_words"] / 80)
        + F.when(f["punct_ratio"] <= 0.2, F.lit(0.25)).otherwise(F.lit(0.0))
        + F.when(f["digit_ratio"] <= 0.3, F.lit(0.25)).otherwise(F.lit(0.0))
        + F.when(f["stopword_ratio"] >= 0.05, F.lit(0.25)).otherwise(F.lit(0.0))
    )
    return F.round(score, 4)


# --- language identification ----------------------------------------------

# Two-stage deterministic web-scale ID (the shape CLD/fastText use,
# reduced to engine-exact integer arithmetic):
#   1. Unicode-SCRIPT histogram — CJK/Cyrillic/Arabic/… decide
#      directly when their characters outnumber ASCII letters (at
#      Common-Crawl scale ~half the web is non-Latin-script; a
#      stopword vote alone returns 'und' for all of it).
#   2. Latin-script tie → expanded stopword vote (20 languages,
#      ASCII-only word lists so Python and RE2 agree on \b).
# Both the compiled patterns below and the DuckDB oracle SQL are
# GENERATED from these tables (same rule as GOPHER_GATE_RULES), so the
# two engines cannot drift on inventory.

# (code, [(lo, hi) BMP codepoint ranges]) in PRECEDENCE order — ties
# on equal character counts resolve to the earlier row. Kana before
# Han: Japanese text always carries kana, Chinese never does, so the
# zh/ja split is "any kana → ja" (s_zh is zeroed when kana > 0 and
# s_ja counts kana+han, see _lang_base_id()).
LANG_SCRIPTS: list[tuple[str, list[tuple[int, int]]]] = [
    ("ja", [(0x3040, 0x30FF)]),                    # hiragana+katakana
    ("ko", [(0xAC00, 0xD7A3), (0x1100, 0x11FF)]),  # hangul + jamo
    ("zh", [(0x4E00, 0x9FFF), (0x3400, 0x4DBF)]),  # han (+ext A)
    ("ru", [(0x0400, 0x04FF)]),                    # cyrillic
    ("ar", [(0x0600, 0x06FF), (0x0750, 0x077F)]),  # arabic
    ("he", [(0x0590, 0x05FF)]),                    # hebrew
    ("el", [(0x0370, 0x03FF)]),                    # greek
    ("hi", [(0x0900, 0x097F)]),                    # devanagari
    ("bn", [(0x0980, 0x09FF)]),                    # bengali
    ("ta", [(0x0B80, 0x0BFF)]),                    # tamil
    ("th", [(0x0E00, 0x0E7F)]),                    # thai
    ("ka", [(0x10A0, 0x10FF)]),                    # georgian
    ("hy", [(0x0530, 0x058F)]),                    # armenian
]

# ASCII-only stopword lists (~15 distinctive words each): Python's
# re.ASCII \b and RE2's \b are both ASCII-\w based, so accent-free
# lists keep the two engines' boundary semantics identical. Overlaps
# across related languages are fine — the vote is max-hits.
LANG_STOPWORDS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "is", "to", "in", "that", "was", "with",
           "for", "his", "this", "which", "not", "have"],
    "de": ["der", "und", "die", "ist", "das", "nicht", "ein", "mit",
           "auch", "sich", "auf", "ich", "dem", "den", "werden"],
    "fr": ["le", "et", "les", "est", "une", "dans", "des", "pas",
           "pour", "qui", "vous", "nous", "mais", "sur", "sont"],
    "es": ["el", "y", "los", "es", "una", "que", "del", "las", "por",
           "con", "para", "como", "pero", "sus", "este"],
    "it": ["il", "e", "di", "che", "una", "per", "sono", "della",
           "anche", "questo", "come", "gli", "alla", "nel", "hanno"],
    "pt": ["de", "que", "uma", "para", "com", "dos", "mais", "nao",
           "seu", "pelo", "isso", "ela", "muito", "quando", "mesmo"],
    "nl": ["het", "van", "een", "niet", "aan", "voor", "met", "zijn",
           "maar", "ook", "deze", "naar", "worden", "wordt", "heeft"],
    "sv": ["och", "att", "det", "som", "en", "av", "den", "inte",
           "med", "han", "var", "jag", "till", "har", "ett"],
    "da": ["og", "det", "af", "til", "en", "der", "ikke", "han",
           "med", "jeg", "har", "som", "den", "var", "kan"],
    "no": ["og", "det", "av", "til", "en", "som", "ikke", "han",
           "med", "jeg", "har", "den", "var", "kan", "vi"],
    "fi": ["ja", "on", "ei", "joka", "oli", "mutta", "niin", "kun",
           "hyvin", "mika", "myos", "ovat", "ollut", "seka", "vain"],
    "pl": ["nie", "jest", "sie", "jak", "ale", "czy", "tak", "jego",
           "przez", "tego", "tylko", "jednak", "oraz", "bardzo", "przy"],
    "cs": ["je", "se", "na", "ale", "jako", "jsem", "jsou", "byl",
           "tak", "nebo", "ktery", "pro", "podle", "jeho", "take"],
    "ro": ["si", "de", "la", "cu", "este", "care", "pentru", "mai",
           "din", "sunt", "fost", "sau", "dar", "nu", "prin"],
    "hu": ["hogy", "nem", "az", "egy", "meg", "volt", "csak", "mar",
           "van", "ez", "ki", "ha", "mint", "vagy", "lehet"],
    "tr": ["bir", "ve", "bu", "ile", "olarak", "daha", "gibi", "sonra",
           "ancak", "kadar", "var", "ama", "olan", "ben", "ne"],
    "id": ["yang", "dan", "di", "dengan", "untuk", "dari", "ini",
           "itu", "pada", "tidak", "dalam", "akan", "juga", "ada",
           "mereka"],
    "tl": ["ang", "ng", "sa", "mga", "ay", "na", "ito", "para",
           "kung", "niya", "siya", "ako", "hindi", "lang", "ninyo"],
    "sw": ["na", "ya", "wa", "kwa", "ni", "za", "katika", "hii",
           "kama", "lakini", "pia", "sana", "wake", "yake", "watu"],
    "vi": ["va", "cua", "trong", "nguoi", "khong", "nay", "den",
           "cho", "nhung", "mot", "dau", "anh", "toi", "ong", "theo"],
}


def script_class_re2(ranges: list[tuple[int, int]]) -> str:
    """RE2 (DuckDB) char class — \\x{..} escapes keep the SQL ASCII."""
    body = "".join(
        "\\x{%04X}-\\x{%04X}" % (lo, hi) for lo, hi in ranges
    )
    return "[" + body + "]"


def stopword_regex(code: str) -> str:
    r"""``\b(w1|w2|...)\b`` vote regex — identical in Python
    (``re.ASCII``) and RE2 for ASCII-only words (both engines' \b is
    ASCII-\w based)."""
    return r"\b(" + "|".join(LANG_STOPWORDS[code]) + r")\b"


# Stage-1/2 patterns, compiled once per process. Script classes are
# literal codepoint ranges; stopword regexes run under ``re.ASCII`` so
# Python's \b matches RE2's ASCII word boundary (the oracle twin).
_SCRIPT_PATS = [
    (code, re.compile(
        "[" + "".join(chr(lo) + "-" + chr(hi) for lo, hi in ranges) + "]"
    ))
    for code, ranges in LANG_SCRIPTS
]
_LATIN_PAT = re.compile("[A-Za-z]")
_VOTE_PATS = [
    (code, re.compile(stopword_regex(code), re.ASCII))
    for code in sorted(LANG_STOPWORDS)
]


def _lang_base_id(t: str) -> str:
    """Two-stage verdict for a non-empty text: every stage is integer
    counts compared with fixed tie-breaks, so it is bit-equal to the
    generated DuckDB twin."""
    raw = {c: len(p.findall(t)) for c, p in _SCRIPT_PATS}
    kana, han = raw["ja"], raw["zh"]
    best_s, best_s_code = -1, "und"
    for code, _p in _SCRIPT_PATS:
        if code == "ja":
            hits = kana + han if kana > 0 else 0
        elif code == "zh":
            hits = 0 if kana > 0 else han
        else:
            hits = raw[code]
        if hits > best_s:       # strictly greater: first max wins
            best_s, best_s_code = hits, code
    latin = len(_LATIN_PAT.findall(t))
    if best_s > latin:
        return best_s_code
    low = t.lower()
    best_v, best_v_code = 0, "und"
    for code, p in _VOTE_PATS:
        hits = len(p.findall(low))
        if hits > best_v:       # ties → lexically smallest code
            best_v, best_v_code = hits, code
    if best_v > 0:
        return best_v_code
    return best_s_code if best_s > 0 else "und"


def lang_id(text: Column) -> Column:
    """Web-scale deterministic language ID.

    Stage 1: Unicode-script histogram — the winning non-Latin script
    (precedence on ties) decides when its character count exceeds the
    ASCII-letter count. Stage 2: Latin stopword vote across 20
    languages (ties → lexically smallest code). A text with zero vote
    hits falls back to any non-zero script evidence, else 'und'.
    All-integer comparisons → bit-exact vs the generated DuckDB twin.

    One pandas UDF over the patterns compiled once per process.
    """

    @F.pandas_udf("string")
    def _lid(texts: pd.Series) -> pd.Series:
        return pd.Series([_lang_base_id(t) if t else "und" for t in texts])

    return _lid(text)


# --- C4-style heuristic cleaning (Raffel et al. 2020, §2.2) ---------------

C4_LINE_MIN_WORDS = 5
C4_MIN_SENTENCES = 3
_C4_TERMINAL = ('.', '!', '?', '"', "'")


def c4_filter(
    df,
    key: str = "doc_id",
    text_col: str = "text",
    blocklist: list[str] | None = None,
    min_sentences: int = C4_MIN_SENTENCES,
    line_min_words: int = C4_LINE_MIN_WORDS,
):
    """The C4 cleaning pass (Raffel et al. 2020 — the other standard
    web-curation gate next to Gopher): per LINE, keep only lines that
    end in terminal punctuation AND have >= ``line_min_words`` words;
    per DOCUMENT, reject when fewer than ``min_sentences`` sentences
    survive, when the raw text contains ``{`` (code page) or "lorem
    ipsum", or when any ``blocklist`` word appears (case-insensitive;
    C4 uses the public "bad words" list — supply your own, none ships
    here). Returns (key, text_clean, n_lines_kept, keep,
    reject_reason) with first-failing-rule reasons, mirroring
    gopher_filter's shape.

    Pure Catalyst (split → filter lambda → rejoin + regexp counts) —
    zero shuffles, and every rule is expressible in ANSI SQL for a
    value-level oracle (registry frozen this round; query lands next
    round)."""
    lines = F.split(F.col(text_col), "\n")
    words_of = "[A-Za-z0-9]+"

    def line_ok(ln: Column) -> Column:
        trimmed = F.trim(ln)
        ends_ok = None
        for t in _C4_TERMINAL:
            c = trimmed.endswith(t)
            ends_ok = c if ends_ok is None else (ends_ok | c)
        enough = (
            F.size(F.regexp_extract_all(trimmed, F.lit(words_of), F.lit(0)))
            >= line_min_words
        )
        return ends_ok & enough

    kept = F.filter(lines, line_ok)
    clean = F.array_join(kept, "\n")
    n_sent = F.size(
        F.regexp_extract_all(clean, F.lit(r"[.!?]"), F.lit(0))
    )
    low = F.lower(F.col(text_col))
    reason = (
        F.when(low.contains("lorem ipsum"), "lorem_ipsum")
        .when(F.col(text_col).contains("{"), "curly_brace")
    )
    if blocklist:
        bad = None
        for w in blocklist:
            c = low.rlike(r"\b" + w.lower() + r"\b")
            bad = c if bad is None else (bad | c)
        reason = reason.when(bad, "blocklist")
    reason = reason.when(n_sent < min_sentences, "too_few_sentences")
    return df.select(
        key,
        clean.alias("text_clean"),
        F.size(kept).cast("long").alias("n_lines_kept"),
        reason.isNull().alias("keep"),
        reason.alias("reject_reason"),
    )


# --- unicode hygiene ------------------------------------------------------

def strip_control_chars(text: Column) -> Column:
    """Remove C0/C1 control characters except \\t \\n \\r (crawl text
    carries NUL bytes and stray terminal controls that break
    tokenizers downstream). Pure Catalyst regexp; DEL and the C1
    block included."""
    return F.regexp_replace(
        text, "[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F\\x7F-\\x9F]", ""
    )


def normalize_unicode(text: Column, form: str = "NFC") -> Column:
    """Unicode normalization (NFC default; NFKC folds compatibility
    forms — ligatures, fullwidth ASCII — the common LM-corpus choice).
    Spark has no builtin, so this is an Arrow batch over Python's
    unicodedata (the canonical implementation); NULLs pass through."""
    import unicodedata

    if form not in ("NFC", "NFD", "NFKC", "NFKD"):
        raise ValueError(f"unknown normalization form {form!r}")

    @F.pandas_udf("string")
    def _norm(s: pd.Series) -> pd.Series:
        return s.map(
            lambda t: unicodedata.normalize(form, t)
            if t is not None else None
        )

    return _norm(text)


# Within-script refinements for lang_id's script-level verdicts: the
# script histogram cannot separate languages SHARING a script, but
# each pair below has distinctive codepoints (the standard trick —
# fastText's confusions are exactly these pairs). Counts of literal
# character sets: deterministic, order-free.
# rule = (code, distinctive_chars, distinctive_words): evidence is
# the char-count PLUS the whole-word count (words are ASCII-only so
# the \b protocol is engine-identical); first-wins argmax, zero
# evidence keeps the base verdict.
_REFINE_ES_PT: list[tuple[str, str, list[str]]] = [
    # Portuguese ã/õ/ç don't exist in Spanish; Spanish ñ/¿/¡ don't
    # exist in Portuguese. Word markers cover deaccented web text.
    ("pt", "ãõçÃÕÇ", ["uma", "mais", "quando", "isso", "ela"]),
    ("es", "ñ¿¡Ñ", ["una", "pero", "cuando", "eso", "ella"]),
]
_REFINE_SCAN: list[tuple[str, str, list[str]]] = [
    # Norwegian av/etter/hva/ut vs Danish af/efter/hvad/ud (the
    # orthographic splits); Swedish has ä/ö where da/no use æ/ø,
    # plus och/är.
    ("no", "", ["av", "etter", "hva", "ut", "fra"]),
    ("da", "", ["af", "efter", "hvad", "ud", "hvis"]),
    ("sv", "äöÄÖ", ["och", "är", "att", "på"]),
]
_REFINE_ID_MS: list[tuple[str, str, list[str]]] = [
    # Malay kerana/selepas/awak vs Indonesian karena/setelah/anda —
    # the classic id/ms lexical splits (shared stopwords make the
    # stage-2 vote land on 'id' for both).
    ("ms", "", ["kerana", "selepas", "awak", "ialah", "mahu"]),
    ("id", "", ["karena", "setelah", "bisa", "adalah", "sudah"]),
]

LANG_SCRIPT_REFINE: dict[str, list[tuple[str, str, list[str]]]] = {
    # Cyrillic: Ukrainian's і/ї/є/ґ don't exist in Russian; Russian's
    # ы/э/ё don't exist in Ukrainian; Bulgarian lacks both sets and
    # leans on ъ as a vowel (щ/ъ density) — checked after the other
    # two so uk/ru evidence wins when present.
    "ru": [("uk", "іїєґІЇЄҐ", []), ("ru", "ыэёЫЭЁ", []),
           ("bg", "ъЪ", [])],
    # Arabic script: Persian adds پ/چ/ژ/گ; Urdu adds ٹ/ڈ/ڑ/ے;
    # Arabic's ة (ta marbuta) is absent from both.
    "ar": [("fa", "پچژگ", []), ("ur", "ٹڈڑے", []), ("ar", "ة", [])],
    # Latin-script pairs — the hardest practical confusions
    # (fastText's top confusion pairs): whichever of the pair the
    # stopword vote lands on, the same rule list re-adjudicates.
    "es": _REFINE_ES_PT,
    "pt": _REFINE_ES_PT,
    "da": _REFINE_SCAN,
    "no": _REFINE_SCAN,
    "sv": _REFINE_SCAN,
    "id": _REFINE_ID_MS,
}


# LANG_SCRIPT_REFINE compiled once: (code, char set, word regex|None)
_REFINE_PATS = {
    base: [
        (
            code,
            set(chars),
            re.compile(r"\b(" + "|".join(words) + r")\b", re.ASCII)
            if words else None,
        )
        for code, chars, words in rules
    ]
    for base, rules in LANG_SCRIPT_REFINE.items()
}


def _lang_fine_id(t: str) -> str:
    base = _lang_base_id(t)
    rules = _REFINE_PATS.get(base)
    if not rules:
        return base
    low = t.lower()
    best, best_code = 0, base
    for code, chars, word_pat in rules:
        hits = sum(1 for ch in t if ch in chars)
        if word_pat is not None:
            hits += len(word_pat.findall(low))
        if hits > best:
            best, best_code = hits, code
    return best_code


def lang_id_fine(text: Column) -> Column:
    """lang_id plus within-script refinement: where the two-stage ID
    returns a script-level verdict (Cyrillic → 'ru', Arabic script →
    'ar'), count each candidate language's DISTINCTIVE codepoints and
    rebadge to the strict winner (ties or zero evidence keep the
    script default). One Arrow pass over the same stage-1/2 decision
    as :func:`lang_id`, so non-refined verdicts are identical."""

    @F.pandas_udf("string")
    def _lid(texts: pd.Series) -> pd.Series:
        return pd.Series([_lang_fine_id(t) if t else "und" for t in texts])

    return _lid(text)
