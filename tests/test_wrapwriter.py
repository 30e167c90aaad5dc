"""W5 wrap/indent engine goldens (reference `writer.py:233-346`):
width-70 word wrap with whitespace backtracking, break hints, indent
mode, raw mode, endl collapse — and the opt-in integration into the
text and markdown writers."""

from __future__ import annotations

from lexor_spark.kernel.htmlparser import parse_html
from lexor_spark.kernel.mdwriter import write_markdown
from lexor_spark.kernel.textwriter import write_text
from lexor_spark.kernel.wrapwriter import WrapWriter, find_whitespace

WORDS = ("lorem ipsum dolor sit amet consectetur adipiscing elit sed do "
         "eiusmod tempor incididunt ut labore et dolore magna aliqua")


# -- the engine itself -------------------------------------------------------

def test_find_whitespace_backtrack_and_lookahead():
    line = "aaa bbb ccc"
    assert find_whitespace(line, 0, 9) == 7      # last space before limit
    assert find_whitespace("aaaaaaaaaa bb", 0, 5) == 10  # look ahead
    assert find_whitespace("nospace", 0, 3) == 7  # token longer than line


def test_wrap_width_70_default():
    ww = WrapWriter()
    ww.enable_wrap()
    ww.write(WORDS)
    out = ww.getvalue()
    assert all(len(ln) <= 70 for ln in out.split("\n"))
    assert out.replace("\n", " ") == WORDS


def test_wrap_narrow_exact():
    ww = WrapWriter(width=20)
    ww.enable_wrap()
    ww.write("alpha beta gamma delta epsilon")
    assert ww.getvalue() == "alpha beta gamma\ndelta epsilon"


def test_wrap_long_token_overflows_not_splits():
    ww = WrapWriter(width=10)
    ww.enable_wrap()
    ww.write("short supercalifragilistic end")
    out = ww.getvalue()
    assert "supercalifragilistic" in out.split("\n")  # never split mid-token


def test_break_hint_preferred():
    # hint makes the engine break at the hinted token even though a
    # regular space break would overflow less text
    ww = WrapWriter(width=24)
    ww.enable_wrap()
    ww.write("prefix text ")
    ww.write("HINTWORD", split=True)
    ww.write(" trailing words here")
    out = ww.getvalue()
    assert all(len(ln) <= 24 for ln in out.split("\n"))


def test_indent_mode():
    ww = WrapWriter(width=30, indent="    ")
    ww.enable_wrap()
    ww.write("alpha beta gamma delta epsilon zeta")
    out = ww.getvalue()
    assert all(ln.startswith("    ") for ln in out.split("\n") if ln)
    # indented continuation honors the reduced effective width
    assert all(len(ln) <= 30 for ln in out.split("\n"))


def test_indent_no_wrap_mode():
    ww = WrapWriter(indent="> ")
    ww.write("line one\nline two\n\nline four")
    assert ww.getvalue() == "> line one\n> line two\n\n> line four"


def test_raw_mode_passthrough():
    ww = WrapWriter(width=10)
    ww.enable_wrap()
    ww.write("intro words")
    ww.enable_raw()
    ww.write("\nRAW   SPACED    CONTENT LONGER THAN WIDTH\n")
    ww.disable_raw()
    ww.write("after")
    out = ww.getvalue()
    assert "RAW   SPACED    CONTENT LONGER THAN WIDTH" in out


def test_endl_collapse():
    ww = WrapWriter()
    ww.write("a")
    ww.endl(force=False)
    ww.endl(force=False)  # collapsed: previous write already ended in \n
    ww.write("b")
    assert ww.getvalue() == "a\nb"
    ww2 = WrapWriter()
    ww2.write("a")
    ww2.endl(force=True, tot=2)
    ww2.write("b")
    assert ww2.getvalue() == "a\n\nb"


# -- integration: text writer -------------------------------------------------

def _main_of(src: str):
    doc, _ = parse_html(src)
    return doc


def test_write_text_wrapped_golden():
    doc = _main_of("<main><p>" + WORDS + "</p><p>second paragraph here"
                   "</p></main>")
    plain, spans_plain = write_text(doc)
    wrapped, spans = write_text(doc, width=40)
    assert all(len(ln) <= 40 for ln in wrapped.split("\n"))
    # same words, same spans (spans are source offsets)
    assert wrapped.replace("\n", " ").split() == plain.replace("\n", " ").split()
    assert [s.as_tuple() for s in spans] == [s.as_tuple() for s in spans_plain]
    # paragraph boundary survives as a blank line
    assert "\n\n" in wrapped


def test_write_text_default_unchanged():
    doc = _main_of("<main><p>short text</p><pre>  raw\n  block</pre></main>")
    assert write_text(doc)[0] == write_text(doc, width=None, indent="")[0]


def test_write_text_pre_raw_under_wrap():
    doc = _main_of("<main><p>" + WORDS + "</p>"
                   "<pre>keep    this exact   spacing format</pre></main>")
    wrapped, _ = write_text(doc, width=30)
    assert "keep    this exact   spacing format" in wrapped


def test_write_text_indent_mode():
    doc = _main_of("<main><p>alpha beta</p><p>gamma</p></main>")
    out, _ = write_text(doc, width=60, indent="  ")
    assert out == "  alpha beta\n\n  gamma"


# -- integration: markdown ----------------------------------------------------

def test_markdown_wrapped_paragraphs_only():
    src = ("<h1>A long heading that must never be wrapped even if long</h1>"
           "<p>" + WORDS + "</p>"
           "<ul><li>" + WORDS + "</li></ul>"
           "<pre>fenced content stays exactly as written</pre>")
    doc, _ = parse_html(src)
    out = write_markdown(doc, width=40)
    blocks = out.split("\n\n")
    assert blocks[0].startswith("# ") and "\n" not in blocks[0]
    assert all(len(ln) <= 40 for ln in blocks[1].split("\n"))
    assert blocks[1].count("\n") >= 2
    # list and fence structure untouched
    assert any(b.startswith("- ") for b in blocks)
    assert "```\nfenced content stays exactly as written\n```" in out
    # width=None identical to old behavior
    assert write_markdown(doc) == write_markdown(doc, width=None)


# -- property-based invariants (hypothesis) -----------------------------------

from hypothesis import given, settings
from hypothesis import strategies as st

_word = st.text(alphabet=st.characters(whitelist_categories=("Ll", "Lu", "Nd"),
                                       max_codepoint=0x24F),
                min_size=1, max_size=24)
_words = st.lists(_word, min_size=0, max_size=60)
_width = st.integers(min_value=4, max_value=90)


@settings(max_examples=300, deadline=None)
@given(_words, _width)
def test_wrap_preserves_words(words, width):
    ww = WrapWriter(width=width)
    ww.enable_wrap()
    ww.write(" ".join(words))
    assert ww.getvalue().split() == " ".join(words).split()


@settings(max_examples=300, deadline=None)
@given(_words, _width)
def test_wrap_lines_bounded_or_single_token(words, width):
    """A line may exceed the width only when it is one unsplittable
    token (the reference never splits mid-token — writer.py:42-51)."""
    ww = WrapWriter(width=width)
    ww.enable_wrap()
    ww.write(" ".join(words))
    for ln in ww.getvalue().split("\n"):
        assert len(ln) <= width or " " not in ln.strip()


@settings(max_examples=200, deadline=None)
@given(_words, st.integers(min_value=0, max_value=6))
def test_indent_prefixes_every_line(words, pad):
    indent = " " * pad
    ww = WrapWriter(width=40, indent=indent)
    ww.enable_wrap()
    ww.write(" ".join(words))
    out = ww.getvalue()
    for ln in out.split("\n"):
        if ln:
            assert ln.startswith(indent)
    assert out.split() == " ".join(words).split()


def test_extract_document_wrapped_and_cli_parity():
    """width flows kernel-deep: extract_document(width=) wraps prose at
    the column budget, raw default stays byte-identical, and the batch
    UDF factory produces the same wrapped bytes as the serial call."""
    import pyarrow as pa

    from lexor_spark.job import _extract_batches_wrapped
    from lexor_spark.kernel.pipeline import extract_document

    words = " ".join(f"word{i}" for i in range(40))
    html = f"<main><p>{words}</p></main>".encode()
    raw = extract_document(html, "u")
    wrapped = extract_document(html, "u", 30)
    assert "\n" not in raw.text
    lines = wrapped.text.split("\n")
    assert len(lines) > 1 and all(len(ln) <= 30 for ln in lines)
    assert wrapped.text.replace("\n", " ") == raw.text
    batch = pa.RecordBatch.from_pydict({"url": ["u"], "html": [html]})
    [out] = list(_extract_batches_wrapped(30, "")([batch]))
    assert out.to_pylist()[0]["text"] == wrapped.text


def test_cli_width_flag(tmp_path, capsys):
    from lexor_spark.__main__ import main

    f = tmp_path / "p.html"
    body = " ".join(f"w{i}" for i in range(50))
    f.write_text(f"<main><p>{body}</p></main>")
    assert main([str(f), "to", "text", "--width", "25"]) == 0
    out = capsys.readouterr().out
    assert all(len(ln) <= 25 for ln in out.strip().split("\n"))
    assert len(out.strip().split("\n")) > 3


def test_cli_text_target_parses_no_tree(tmp_path, capsys, monkeypatch):
    """`to text` leaves parsing to extract_document's array kernel: the
    CLI builds no object tree of its own."""
    from lexor_spark.__main__ import main
    from lexor_spark.kernel import htmlparser
    from lexor_spark.kernel.pipeline import extract_document

    calls = []
    real_parse = htmlparser.parse_html

    def parse(*args, **kwargs):
        calls.append(args)
        return real_parse(*args, **kwargs)

    monkeypatch.setattr(htmlparser, "parse_html", parse)
    html = b"<main><p>one</p><p>two &amp; three</p></main>"
    f = tmp_path / "p.html"
    f.write_bytes(html)
    assert main([str(f), "to", "text"]) == 0
    assert calls == []
    assert capsys.readouterr().out == extract_document(html).text + "\n"
