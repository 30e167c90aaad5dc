"""Single-document CLI — UX parity with the reference's ``lexor`` command
(`/root/reference/bin/lexor`, `lexor/command/to.py`):

    python -m lexor_spark FILE.html to text|markdown|html
    cat page.html | python -m lexor_spark - to markdown

Runs the serial kernel (the same code the Spark job executes per Arrow
batch); ``text`` is the main-content extraction path, ``markdown`` the
conversion path, ``html`` the parse→serialize normal form."""

from __future__ import annotations

import argparse
import sys


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(prog="lexor_spark")
    ap.add_argument("source", help="input file, or - for stdin")
    ap.add_argument("verb", choices=["to"], help="conversion verb")
    ap.add_argument("target", choices=["text", "markdown", "html"],
                    help="output style")
    ap.add_argument("--log", action="store_true",
                    help="print parse diagnostics to stderr")
    ap.add_argument("--width", type=int, default=None, metavar="N",
                    help="wrap prose at N columns (W5 engine; reference "
                         "default is 70 — off here to keep raw output "
                         "byte-pinned)")
    ap.add_argument("--indent", default="", metavar="STR",
                    help="prefix every output line with STR (text target)")
    ap.add_argument("--style", default=None, metavar="NAME[:k=v,...]",
                    help="named W2 writer-rule style for the text target, "
                         "with optional parameters (kernel/styles.py, e.g. "
                         "'training_text:links=off,tables=keep'); the "
                         "reference's target[style:param=val] CLI surface")
    args = ap.parse_args(argv)

    if args.source == "-":
        data = sys.stdin.buffer.read()
    else:
        with open(args.source, "rb") as fh:
            data = fh.read()

    # L2 extension→language defaults (reference `lexor/command/to.py`
    # derives the input language from the file extension): .pdf routes
    # through the PDF text kernel; PDF has no DOM, so only the text
    # target applies.
    if args.source.lower().endswith(".pdf") or data[:5] == b"%PDF-":
        if args.target != "text":
            print(f"lexor_spark: PDF input supports only 'to text' "
                  f"(got {args.target})", file=sys.stderr)
            return 2
        from lexor_spark.kernel.pdftext import extract_pdf_text
        res = extract_pdf_text(data)
        body = res.text
        if args.width:
            from lexor_spark.kernel.wrapwriter import wrap_text
            body = wrap_text(body, args.width, args.indent)
        elif args.indent:
            # indent-only: prefix, never re-wrap
            body = "\n".join(args.indent + ln if ln else ln
                             for ln in body.split("\n"))
        sys.stdout.write(body + "\n")
        return 0 if res.ok else 1

    # the parsed tree serves only --log and the markdown/html targets;
    # the text target decodes and parses inside extract_document
    if args.log or args.target != "text":
        from lexor_spark.kernel.encoding import decode_html
        from lexor_spark.kernel.htmlparser import parse_html
        doc, log = parse_html(decode_html(data)[0], args.source)
        if args.log:
            for e in log:
                print(f"{args.source}:{e.line}:{e.col}: {e.code} "
                      f"{list(e.arg)}", file=sys.stderr)

    if args.target == "text":
        from lexor_spark.kernel.pipeline import extract_document
        if args.style is not None:
            from lexor_spark.kernel.styles import style_rules
            try:
                style_rules(args.style)
            except (KeyError, ValueError) as exc:
                print(f"lexor_spark: {exc.args[0]}", file=sys.stderr)
                return 2
        res = extract_document(data, args.source, args.width, args.indent,
                               args.style)
        sys.stdout.write(res.text + "\n")
        return 0 if res.ok else 1
    if args.target == "markdown":
        from lexor_spark.kernel.mdwriter import write_markdown
        sys.stdout.write(write_markdown(doc, width=args.width) + "\n")
        return 0
    from lexor_spark.kernel.htmlwriter import write_html
    sys.stdout.write(write_html(doc) + "\n")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
