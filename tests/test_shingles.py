"""char_shingles semantics pin — the Arrow-batch shingle builder must
stay byte-exact with the original pure-Catalyst expression (per-char
split + slice + array_join + array_distinct), which these cases
replay: code-point windows (NOT UTF-16 units — astral chars are one
position), n <= k collapses to one whole-text shingle ('' included),
NULL text -> [NULL], first-occurrence distinct order, NUL bytes kept
verbatim (the numpy fixed-width dtype would strip them — such strings
must take the slicing loop), and whitespace collapsed + lowercased by
the shared normalizer before windowing.
"""

from __future__ import annotations

import pyspark.sql.functions as F

from extractthinker_spark.operators.dedup import char_shingles


CASES = [
    # (text, k, expected)
    ("", 5, [""]),
    ("a", 5, ["a"]),
    ("abcd", 5, ["abcd"]),
    ("abcde", 5, ["abcde"]),
    ("abcdef", 5, ["abcde", "bcdef"]),
    ("ABCDEF", 5, ["abcde", "bcdef"]),           # lowercased first
    ("a  b\t\nc   d", 5, ["a b c", " b c ", "b c d"]),  # ws-normalized
    ("ababababab", 5, ["ababa", "babab"]),       # first-occurrence distinct
    ("ab\U0001F389cdef", 5,                       # astral char = ONE position
     ["ab\U0001F389cd", "b\U0001F389cde", "\U0001F389cdef"]),
    ("ab\x00cdefg", 5,                            # NUL kept verbatim
     ["ab\x00cd", "b\x00cde", "\x00cdef", "cdefg"]),
    (None, 5, [None]),
    ("abcdef", 3, ["abc", "bcd", "cde", "def"]),
]


def test_char_shingles_semantics(spark):
    rows = [(i, t) for i, (t, _, _) in enumerate(CASES)]
    df = spark.createDataFrame(rows, "i int, t string")
    for k in sorted({k for _, k, _ in CASES}):
        got = {
            r["i"]: r["sh"]
            for r in df.select(
                "i", char_shingles(F.col("t"), k).alias("sh")
            ).collect()
        }
        for i, (_, case_k, expected) in enumerate(CASES):
            if case_k != k:
                continue
            assert got[i] == expected, (i, k, got[i], expected)


def test_xxh64_matches_spark(spark):
    # The minhash signature UDF hashes shingles python-side; its XXH64
    # must be bit-identical to Spark's xxhash64(seed=42) — both the
    # vectorized fixed-width (<32 byte) path and the pure-python
    # arbitrary-length path (>= 32 bytes exercises the 4-accumulator
    # loop).
    import random

    import numpy as np

    from extractthinker_spark.operators.dedup import (
        _xxh64_any,
        _xxh64_fixed_np,
    )

    random.seed(7)
    cases = ["", "a", "abcde", "héllo", "\U0001F389xyz!", "ab\x00cd",
             "abcdefgh", "x" * 31, "y" * 32, "z" * 100]
    cases += [
        "".join(random.choice("abcXYZ 0123éü\x00\t")
                for _ in range(random.randint(0, 40)))
        for _ in range(100)
    ]
    df = spark.createDataFrame([(s,) for s in cases], "s string")
    got = {r["s"]: r["h"] for r in df.selectExpr("s", "xxhash64(s) h").collect()}
    for s in cases:
        b = s.encode("utf-8")
        e = _xxh64_any(b)
        e = e - (1 << 64) if e >= (1 << 63) else e
        assert e == got[s], (repr(s), e, got[s])
        if 0 < len(b) < 32:
            mat = np.frombuffer(b, dtype=np.uint8).reshape(1, len(b))
            v = int(_xxh64_fixed_np(mat).view(np.int64)[0])
            assert v == got[s], ("np", repr(s), v, got[s])


def test_minhash_signature_null_and_edge_docs(spark):
    # NULL text: the aggregation pipeline exploded [NULL] and
    # xxhash64(NULL) passes the seed (42) through — the signature is
    # the permutation family applied to h=42, NOT an array of NULLs.
    import pyspark.sql.functions as F

    from extractthinker_spark.operators.dedup import (
        _MERSENNE31,
        _perm_constants,
        minhash_signatures_df,
    )

    df = spark.createDataFrame(
        [(1, None), (2, ""), (3, "abc")], "doc_id int, text string"
    )
    sigs = {
        r["_k"]: r["sig"]
        for r in minhash_signatures_df(df, "doc_id", "text").collect()
    }
    expected_null = [
        (42 * a + b) % _MERSENNE31
        for a, b in (_perm_constants(i) for i in range(64))
    ]
    assert sigs[1] == expected_null
    assert all(v is not None for v in sigs[2])
    assert all(v is not None for v in sigs[3])
    # '' shingles to [''] and 'abc' to ['abc'] — single-gram docs, so
    # every permutation sees exactly one hash
    assert len(set(len(s) for s in sigs.values())) == 1


def test_minhash_signature_duplicate_keys_union_merge(spark):
    # The old explode+groupBy pipeline aggregated ONE signature per key
    # over the union of all same-key rows' shingles. The per-row UDF +
    # element-wise min merge must reproduce that: min over a union is
    # the min of per-row minima.
    import pyspark.sql.functions as F

    from extractthinker_spark.operators.dedup import minhash_signatures_df

    dup = spark.createDataFrame(
        [(1, "alpha beta gamma delta"), (1, "epsilon zeta eta theta"),
         (2, "alpha beta gamma delta epsilon zeta eta theta")],
        "doc_id int, text string",
    )
    sigs = {
        r["_k"]: r["sig"]
        for r in minhash_signatures_df(dup, "doc_id", "text").collect()
    }
    assert len(sigs) == 2
    # key 1's merged text is not the same string as key 2 (shingles
    # cross the concatenation boundary differently), but every one of
    # key 2's shingle windows that also occurs in either key-1 row
    # contributes to both; at minimum the signature must be the
    # element-wise min of the two single-row signatures:
    one = {
        r["_k"]: r["sig"]
        for r in minhash_signatures_df(
            spark.createDataFrame(
                [(10, "alpha beta gamma delta"),
                 (11, "epsilon zeta eta theta")],
                "doc_id int, text string",
            ),
            "doc_id", "text",
        ).collect()
    }
    expected = [min(a, b) for a, b in zip(one[10], one[11])]
    assert sigs[1] == expected


def test_char_shingles_numpy_path_matches_loop(spark):
    # >256 chars takes the numpy window/view path; make sure it agrees
    # with the small-string loop on a repeated pattern with a distinct
    # tail (exercises dedup across the whole window set).
    body = ("the quick brown fox jumps over the lazy dog " * 12) + "tail!"
    assert len(body) > 256
    df = spark.createDataFrame([(body,), (body[:200],)], "t string")
    out = df.select(char_shingles(F.col("t"), 5).alias("sh")).collect()
    big, small = out[0]["sh"], out[1]["sh"]

    def ref(s, k=5):
        import re

        norm = re.sub(r"\s+", " ", s.strip()).lower()
        if len(norm) <= k:
            return [norm]
        return list(dict.fromkeys(
            norm[i:i + k] for i in range(len(norm) - k + 1)
        ))

    # the shared normalizer trims + collapses ws and lowercases; the
    # reference replays that for this plain-ASCII fixture
    assert big == ref(body)
    assert small == ref(body[:200])


_RESTART_SCRIPT = """
import json
from extractthinker_spark.operators.dedup import dedup_minhash
from extractthinker_spark.session import get_spark

rows = [(i, ("the quick brown fox jumps over the lazy dog %d " % (i // 2)) * 5)
        for i in range(20)]
runs = []
for _ in range(2):
    spark = get_spark("restart", master="local[2]", shuffle_partitions=4)
    df = spark.createDataFrame(rows, "id long, text string")
    pairs = dedup_minhash(df, "id", "text", threshold=0.5)
    runs.append(sorted([list(r) for r in pairs.collect()]))
    spark.stop()
print(json.dumps(runs))
"""


def test_dedup_minhash_survives_session_restart():
    """The shingle and signature UDFs are rebuilt per session: a process
    that stops its SparkSession and starts a new one gets the same
    pairs, and no task reports into the stopped context's accumulator
    (the symptom of a UDF object cached across sessions)."""
    import json
    import os
    import subprocess
    import sys
    from pathlib import Path

    root = str(Path(__file__).resolve().parents[1])
    env = {
        **os.environ,
        "PYTHONPATH": os.pathsep.join(
            p for p in (root, os.environ.get("PYTHONPATH")) if p
        ),
    }
    proc = subprocess.run(
        [sys.executable, "-c", _RESTART_SCRIPT],
        capture_output=True, text=True, cwd=root, env=env, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    first, second = json.loads(proc.stdout.strip().splitlines()[-1])
    assert first and first == second
    assert "Failed to update accumulator" not in proc.stderr


def _verify_jaccard_strings(pairs, df, key, text_col, threshold=0.8, k=5):
    """The string-array verify the integer-code verify replaced, kept
    as the reference: char_shingles arrays joined to both sides,
    |A∩B| let-bound through a one-element transform, |A∪B| derived as
    |A| + |B| - |A∩B|."""
    sh = df.select(
        F.col(key).alias("_k"), char_shingles(F.col(text_col), k).alias("sh")
    )
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    jac = F.transform(
        F.array(F.struct(inter.alias("i"))),
        lambda s: s["i"] / (F.size("sh_a") + F.size("sh_b") - s["i"]),
    )[0]
    return (
        pairs.join(sh.withColumnRenamed("_k", "a").withColumnRenamed("sh", "sh_a"), "a")
        .join(sh.withColumnRenamed("_k", "b").withColumnRenamed("sh", "sh_b"), "b")
        .select("a", "b", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


EXACT_TEXTS = [
    (1, None),
    (2, None),
    (3, ""),
    (4, "a"),
    (5, "abcd"),
    (6, "abcde"),
    (7, "ABCDE"),                                   # == 6 after lowercasing
    (8, "ab\x00cd"),                                # NUL is a char, not padding
    (9, "ab"),
    (10, "ab\x00"),
    (11, "日本語のテキストです日本語の文章"),         # CJK: wide shingles only
    (12, "日本語のテキストです日本語の文書"),
    (13, "party \U0001F389 time \U0001F389 party"),  # astral code points
    (14, "party \U0001F389 time \U0001F389 partY"),
    (15, "mixed 日本 text with ascii and 日本 chars"),  # narrow + wide
    (16, "mixed 日本 text with ascii and 日本 chars!"),
    (17, "the quick brown fox jumps over the lazy dog " * 3),
    (17, "the quick brown fox jumps over the lazy cat " * 3),  # duplicate key
    (18, "the quick brown fox jumps over the lazy dog " * 3),
    (19, "࿿ကabc"),                        # cp 4095: first wide one
    (20, "࿾ကabc"),
]


def test_verify_jaccard_codes_bit_identical_to_strings(spark):
    """The integer-code verify returns exactly the string verify's
    rows — every pair of the fixture, threshold 0 — with bit-identical
    doubles: NULL, '', texts of <= 5 chars, an embedded NUL, CJK and
    astral code points (the wide-shingle path), mixed texts, and a
    duplicated key (each of its rows verifies on its own)."""
    from extractthinker_spark.operators.dedup import verify_jaccard

    df = spark.createDataFrame(EXACT_TEXTS, "doc_id int, text string")
    ids = sorted({k for k, _ in EXACT_TEXTS})
    pairs = spark.createDataFrame(
        [(a, b) for a in ids for b in ids if a < b], "a int, b int"
    )
    got = sorted(map(tuple, verify_jaccard(pairs, df, "doc_id", "text", 0.0).collect()))
    want = sorted(map(tuple, _verify_jaccard_strings(pairs, df, "doc_id", "text", 0.0).collect()))
    assert got == want
    assert len(got) == len(ids) * (len(ids) - 1) // 2 + (len(ids) - 1)
    jac = {(a, b): j for a, b, j in got}
    assert jac[(1, 2)] == 1.0      # NULL ~ NULL
    assert jac[(1, 3)] == 0.0      # NULL ~ ''
    assert jac[(6, 7)] == 1.0
    assert jac[(9, 10)] == 0.0     # 'ab' vs 'ab\x00': distinct one-shingle sets


def test_shingle_codes_count_like_string_sets():
    """``_shingle_codes_fn`` is an injective encoding of the string
    shingle sets: per text, codes + wide shingles count exactly the
    distinct string shingles, and across texts two shingles share a
    code only if they are the same string."""
    import random

    from extractthinker_spark.operators.dedup import (
        _shingle_codes_fn,
        _shingles_of_fn,
    )

    random.seed(11)
    alphabet = "ab \x00é࿾࿿က日\U0001F389"
    texts = [t for _, t in EXACT_TEXTS] + [
        "".join(random.choice(alphabet) for _ in range(random.randint(0, 12)))
        for _ in range(300)
    ] + ["x" * 300 + "日本" * 40]
    for k in (3, 5, 7):
        codes_of, shingles_of = _shingle_codes_fn(k), _shingles_of_fn(k)
        seen: dict[int, str | None] = {}
        for t in texts:
            codes, wide = codes_of(t)
            sh = shingles_of(t)
            assert len(codes) + len(wide) == len(sh), (k, t)
            assert list(codes) == sorted(set(codes.tolist()))
            assert set(wide) <= set(sh)
            narrow = [g for g in sh if g not in set(wide)]
            assert sorted(codes_of(g)[0][0] for g in narrow) == codes.tolist()
            for g in narrow:
                c = int(codes_of(g)[0][0])
                assert seen.setdefault(c, g) == g, (k, c, g, seen[c])
