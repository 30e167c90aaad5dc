"""C4 cleaning rules (Raffel et al. 2020 §2.2): line-rule branches and
the page verdict, pinned on hand-built documents."""

from __future__ import annotations

from pyspark.sql import functions as F

from lexor_spark import textfns


def _run(spark, texts):
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)],
                               "doc_id int, text string")
    sigs = textfns.c4_signals(F.col("text"))
    out = df.select("doc_id", *[v.alias(k) for k, v in sigs.items()])
    return {r.doc_id: r for r in out.collect()}


def test_line_rules(spark):
    got = _run(spark, [
        "Keep this full sentence here.\n"
        "no terminal punctuation\n"
        "Too few.\n"
        "Enable javascript to view this page.\n"
        'He said "stop right there."\n',
    ])[0]
    assert got.n_lines == 5
    # kept: sentence 1 and the quoted line; dropped: no-punct, 2-word,
    # javascript
    assert got.n_kept == 2
    assert got.text_clean == ('Keep this full sentence here.\n'
                              'He said "stop right there."')


def test_page_verdict(spark):
    five = "This is a full sentence number %d okay.\n"
    good = "".join(five % i for i in range(5))
    got = _run(spark, [
        good,
        good + "some lorem ipsum filler text here.\n",
        good + "var x = { a: 1 };\n",
        "Only one sentence lives here today.\n",
    ])
    assert got[0].kept
    assert not got[1].kept          # lorem ipsum page filter
    assert not got[2].kept          # curly-brace page filter
    assert not got[3].kept and got[3].n_sentences == 1


def test_empty_and_hostile(spark):
    got = _run(spark, ["", "\n\n\n", "....." ])
    assert got[0].n_lines == 0 and got[0].text_clean == ""
    assert not got[0].kept and not got[1].kept
    # '.....' is one line ending in '.', but < 3 words → dropped
    assert got[2].n_kept == 0


def test_mojibake_signatures(spark):
    from lexor_spark import textfns
    df = spark.createDataFrame([
        (0, "a clean sentence with café and naïve"),
        (1, "double encoded cafÃ© and crÃ¨me and â€œquotesâ€�"),
        (2, "one stray Ã© only"),
        (3, "nbsp runsÂ here and hereÂ too"),
    ], "doc_id int, text string")
    out = df.select("doc_id",
                    textfns.mojibake_count(F.col("text")).alias("n"),
                    textfns.mojibake_flag(F.col("text")).alias("bad"))
    got = {r.doc_id: r for r in out.collect()}
    assert got[0].n == 0 and not got[0].bad        # real accents are fine
    assert got[1].n >= 3 and got[1].bad
    assert got[2].n == 1 and not got[2].bad        # single hit tolerated
    assert got[3].n == 2 and got[3].bad            # Â+nbsp pairs


def test_code_signals_branches(spark):
    from lexor_spark import textfns
    df = spark.createDataFrame([
        (0, "a plain prose paragraph about nothing in particular"),
        (1, "function init() {\n  var x = 1;\n  return x;\n}"),
        (2, "prose line\n    indented one\n    indented two\n\ttabbed"),
        (3, "short\nimport os;"),
        (4, "words return import class here and there"),
        (5, ""),
    ], "doc_id int, text string")
    sig = textfns.code_signals(F.col("text"))
    got = {r.doc_id: r for r in df.select(
        "doc_id", *[c.alias(k) for k, c in sig.items()]).collect()}
    assert not got[0].is_code and got[0].code_line_frac == 0.0
    # brace/semicolon block: every line code-shaped, keywords dense
    assert got[1].is_code and got[1].code_line_frac == 1.0
    assert got[1].kw_hits >= 3
    # indentation majority (3 of 4 lines)
    assert got[2].is_code and got[2].indent_frac == 0.75
    # one 'import os;' line of two: frac 0.5 but < 3 lines, 1 keyword
    assert not got[3].is_code and got[3].code_line_frac == 0.5
    # bare keywords without symbol density
    assert not got[4].is_code and got[4].kw_hits >= 3
    # empty text: zero everything, not code
    assert not got[5].is_code and got[5].n_lines == 0


def test_md5_u32_matches_duckdb(spark):
    """The package's one integer hash agrees across engines and with
    hashlib: empty, ASCII, multi-byte UTF-8, a salted key, a high-bit
    value (first hex digit >= 8, which a signed 32-bit read would turn
    negative), the second word (``at=9``), and NULL -> NULL."""
    import hashlib

    import duckdb

    from lexor_spark.textfns import SQL, md5_u32

    vals = ["", "a", "é漢", "17", "b", None]
    salt = "#split"

    def ref(s, at):
        if s is None:
            return None
        return int(hashlib.md5(s.encode()).hexdigest()[at - 1:at + 7], 16)

    want = [(i, ref(s, 1), ref(s, 9),
             None if s is None else ref(s + salt, 1))
            for i, s in enumerate(vals)]
    assert want[4][1] >= 1 << 31                    # 'b': high bit set

    df = spark.createDataFrame(list(enumerate(vals)), "i int, s string")
    got_spark = sorted(tuple(r) for r in df.select(
        "i", md5_u32(F.col("s")), md5_u32(F.col("s"), at=9),
        md5_u32(F.concat(F.col("s"), F.lit(salt)))).collect())

    con = duckdb.connect()
    rows = ", ".join(f"({i}, {'NULL' if s is None else repr(s)})"
                     for i, s in enumerate(vals))
    got_duck = sorted(con.execute(
        f"select i, {SQL.md5_u32('s')}, {SQL.md5_u32('s', at=9)}, "
        f"{SQL.md5_u32(f's || {salt!r}')} "
        f"from (values {rows}) t(i, s)").fetchall())

    assert got_spark == want
    assert got_duck == want
