"""Column-level text analysis for training-data pipelines.

All JVM-side built-in ``pyspark.sql.functions`` expressions — no Python
UDFs in any hot path (whole-stage codegen keeps these in Tungsten).  Each
helper has an exactly-mirroring ANSI-SQL fragment used by the DuckDB
oracle (``__spark_entry__.oracle_sql``), so every operator here is
verifiable end-to-end by the driver.

Operators: token counting (whitespace + word-regex), language ID
(stop-word marker heuristic), quality scoring (length/alpha/stopword
features à la C4/Gopher filters), document fingerprinting (normalized
md5 — md5 is bit-identical across engines, unlike xxhash64).

``md5_u32`` is the package's one integer hash: every bucket, draw,
position and register an operator derives from md5 (sampling splits,
Bloom bits, sketch rows, DSIR buckets, simhash and winnow grams, fetch
workers, HLL registers) reads it, and ``SQL.md5_u32`` is its DuckDB
mirror, so the two engines agree bit for bit.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

__all__ = [
    "token_count", "word_count", "normalize_text", "fingerprint",
    "lang_id", "lang_id_ngram", "quality_score",
    "dup_line_fraction", "dup_line_char_fraction", "top_bigram_fraction",
    "gopher_signals", "GOPHER_KEEP_RULE", "c4_signals",
    "mojibake_count", "mojibake_flag", "code_signals", "readability",
    "script_profile", "SCRIPT_RANGES",
    "redact_pii", "pii_count", "md5_u32",
    "SQL",
]


def _let(bound: Column, body) -> Column:
    """Expression-level let-binding: evaluate ``bound`` ONCE, pass it to
    ``body`` as a lambda variable.  Catalyst inlines Column compositions,
    so an expensive sub-expression referenced inside a higher-order
    -function lambda is otherwise re-evaluated per array element (e.g. a
    token split recomputed per bigram — O(len²) per row).  Wrapping the
    value in a 1-element array and reading it back through ``transform``
    binds it to a lambda variable: one evaluation, cheap references.
    Measured 3.7× on top_bigram_fraction at sf0.1, value-identical."""
    return F.element_at(F.transform(F.array(bound), body), 1)


def normalize_text(col: Column) -> Column:
    """lower + collapse whitespace + trim: the canonical form used by
    exact dedup and fingerprinting."""
    return F.trim(F.regexp_replace(F.lower(col), r"\s+", " "))


def token_count(col: Column) -> Column:
    """Whitespace tokens (0 for empty/blank)."""
    t = F.trim(col)
    return F.when(t == "", F.lit(0)).otherwise(F.size(F.split(t, r"\s+")))


def word_count(col: Column) -> Column:
    """BPE-ish word-regex tokens: runs of letters/digits or single
    non-space symbols (a proxy for subword token counts)."""
    return F.size(F.regexp_extract_all(col, F.lit(r"[A-Za-z0-9]+|[^\sA-Za-z0-9]"), 0))


# GPT-2-style pretokenizer pattern (Radford et al. 2019, the public
# gpt2 `pat`): contractions, space-prefixed letter runs, digit runs,
# symbol runs, residual whitespace.  Java and RE2-less DuckDB both lack
# lookahead-free parity with the original's `\s+(?!\S)`, so the final
# whitespace branch is simplified to `\s+` — equivalent for COUNTING
# (every whitespace run is one token either way).
_BPE_PAT = (r"'s|'t|'re|'ve|'m|'ll|'d"
            r"| ?[A-Za-z]+| ?[0-9]+| ?[^\sA-Za-z0-9]+|\s+")


def bpe_token_count(col: Column) -> Column:
    """Subword-budget proxy: GPT-2 pretokenizer segments (the unit BPE
    merges start from).  Counts pretokens, not merged BPE ids — a
    LOWER bound on (and strongly correlated with) real tokenizer cost
    (each pretoken becomes ≥1 merged id), without shipping a merges
    table; scale by a corpus-calibrated factor for budget gates."""
    return F.size(F.regexp_extract_all(col, F.lit(_BPE_PAT), 0))


def fingerprint(col: Column) -> Column:
    """Deterministic content fingerprint on the normalized text."""
    return F.md5(normalize_text(col))


def md5_u32(col: Column, at: int = 1) -> Column:
    """The unsigned 32-bit integer in hex digits ``at``..``at+7`` of
    ``md5(col)``, as a long (NULL in, NULL out).  Callers keep their own
    salts and outer arithmetic (``pmod``, ``/ 2^32``, casts).  Pass it
    to ``F.transform`` as ``lambda s: md5_u32(s)``: given the bare
    function, Spark passes the element index as ``at``."""
    return F.conv(F.substring(F.md5(col), at, 8), 16, 10).cast("long")


# Marker stop-words per language; scores are raw marker counts.  The
# list is tiny on purpose: it must be exactly mirrorable in SQL.
_LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "is"],
    "es": ["el", "la", "los", "que"],
    "de": ["der", "die", "und", "ist"],
    "fr": ["le", "les", "et", "est"],
}


def _marker_count(col: Column, words: list[str]) -> Column:
    pat = r"\b(?:" + "|".join(words) + r")\b"
    return F.regexp_count(F.lower(col), F.lit(pat))


def lang_id(col: Column) -> Column:
    """Argmax of marker counts; 'und' when no marker fires.  Ties break
    by the fixed language order en>es>de>fr (deterministic; the SQL
    mirror is the same case-chain, first match wins)."""
    counts = {lang: _marker_count(col, words)
              for lang, words in _LANG_MARKERS.items()}
    top = F.greatest(*counts.values())
    expr = None
    for lang in _LANG_MARKERS:
        cond = (counts[lang] == top) & (counts[lang] > 0)
        expr = F.when(cond, F.lit(lang)) if expr is None else expr.when(cond, F.lit(lang))
    return expr.otherwise(F.lit("und"))


# Characteristic character trigrams per language (public frequency-table
# staples); substring counts, no word boundaries — the n-gram variant of
# language ID.  Tiny on purpose: exactly SQL-mirrorable.
_LANG_TRIGRAMS: dict[str, list[str]] = {
    "en": ["the", "ing", "and", "ion"],
    "es": ["que", "ado", "los", "ent"],
    "de": ["der", "sch", "ung", "ein"],
    "fr": ["les", "ait", "eur", "oir"],
}


def _trigram_count(col: Column, grams: list[str]) -> Column:
    pat = "(?:" + "|".join(grams) + ")"
    return F.regexp_count(F.lower(col), F.lit(pat))


def lang_id_ngram(col: Column) -> Column:
    """Character-trigram language ID: argmax of per-language trigram
    hit counts, 'und' when nothing fires; ties break en>es>de>fr."""
    counts = {lang: _trigram_count(col, grams)
              for lang, grams in _LANG_TRIGRAMS.items()}
    top = F.greatest(*counts.values())
    expr = None
    for lang in _LANG_TRIGRAMS:
        cond = (counts[lang] == top) & (counts[lang] > 0)
        expr = F.when(cond, F.lit(lang)) if expr is None else expr.when(cond, F.lit(lang))
    return expr.otherwise(F.lit("und"))


# Unicode-script character ranges (Unicode block literals — the same
# UTF-8 pattern string is handed to Spark's Java regex and DuckDB's
# RE2, so counts match bit-for-bit without \p{Script=...} dialect
# differences).  Coverage is the major web scripts; chars outside every
# range (digits, punctuation, space) are excluded from the base.
SCRIPT_RANGES: dict[str, str] = {
    "latin": "A-Za-zÀ-ɏ",
    "cyrillic": "Ѐ-ӿ",
    "greek": "Ͱ-Ͽ",
    "arabic": "؀-ۿ",
    "hebrew": "֐-׿",
    "devanagari": "ऀ-ॿ",
    "cjk": "一-鿿぀-ヿ가-힯",
}


def script_profile(col: Column) -> dict[str, Column]:
    """Per-script letter fractions + dominant script — the writing-
    system signal a multilingual web pipeline routes on (fastText-style
    lang-id confidence is unreliable exactly when the script is mixed,
    so the script histogram is the standard pre-filter).  Returns named
    Columns ``{script}_frac`` (fraction of script-classified letters,
    rounded 4), ``n_script_chars``, and ``script`` (argmax, ties by
    dict order, 'und' when no script char occurs).  Pure per-row
    regexp_count expressions — map-only at any corpus size."""
    counts = {s: F.regexp_count(col, F.lit(f"[{r}]"))
              for s, r in SCRIPT_RANGES.items()}
    total = sum(counts.values())
    out: dict[str, Column] = {}
    for s, c in counts.items():
        out[f"{s}_frac"] = F.round(
            c.cast("double") / F.greatest(total, F.lit(1)), 4)
    out["n_script_chars"] = total.cast("long")
    top = F.greatest(*counts.values())
    expr = None
    for s in SCRIPT_RANGES:
        cond = (counts[s] == top) & (counts[s] > 0)
        expr = (F.when(cond, F.lit(s)) if expr is None
                else expr.when(cond, F.lit(s)))
    out["script"] = expr.otherwise(F.lit("und"))
    return out


def quality_score(col: Column) -> Column:
    """[0,1] quality heuristic: length band + alpha ratio + stopword
    presence + mean word length band (C4/Gopher-style features, all
    SQL-mirrorable)."""
    n = F.length(col)
    alpha = F.regexp_count(col, F.lit(r"[A-Za-z]"))
    alpha_ratio = alpha / F.greatest(n, F.lit(1))
    stop = _marker_count(col, _LANG_MARKERS["en"])
    toks = token_count(col)
    mean_wl = n / F.greatest(toks, F.lit(1))
    score = (
        F.when((n >= 200) & (n <= 100_000), 0.25).otherwise(0.0)
        + F.when(alpha_ratio >= 0.6, 0.25).otherwise(0.0)
        + F.when(stop >= 2, 0.25).otherwise(0.0)
        + F.when((mean_wl >= 3.0) & (mean_wl <= 12.0), 0.25).otherwise(0.0)
    )
    return F.round(score, 2)


def char_entropy(col: Column, cap: int = 512) -> Column:
    """Shannon entropy (bits/char) of the first ``cap`` characters —
    the cheap junk detector: natural prose sits ~4-4.5, repeated
    boilerplate or single-char padding collapses toward 0.  Per-row
    higher-order functions only (distinct chars × filter scan over a
    capped slice), no explode, no shuffle."""
    chars = F.filter(F.split(F.substring(col, 1, cap), ""),
                     lambda x: x != "")  # split('') yields a tail ""

    def _ent(ch: Column) -> Column:
        n = F.size(ch)

        def term(d: Column) -> Column:
            p = F.size(F.filter(ch, lambda x: x == d)) / n
            return p * F.log2(p)

        ent = -F.aggregate(F.array_distinct(ch), F.lit(0.0),
                           lambda acc, d: acc + term(d))
        # + 0.0 normalizes IEEE -0.0 (uniform strings) to 0.0 in BOTH
        # engines
        return F.round(F.when(n > 0, ent).otherwise(F.lit(0.0))
                       + F.lit(0.0), 4)

    # let-bound: without it the char split re-runs once per DISTINCT
    # char (the `ch` reference inside term()'s filter)
    return _let(chars, _ent)


def readability(col: Column) -> Column:
    """Flesch reading-ease + Flesch–Kincaid grade level (Kincaid et al.
    1975 — the public formulas used by corpus-curation pipelines as an
    education/complexity proxy, e.g. alongside FineWeb-Edu-style quality
    gates).  Syllables use the standard vowel-group estimate: per
    alphabetic word, the number of ``[aeiouy]+`` runs, floored at 1.

    Returns a struct ``(n_words, n_sentences, syllables, flesch,
    fk_grade)``.  Per-row higher-order functions only — no explode, no
    shuffle; readability over 10^12 documents stays scan-side."""
    words = F.regexp_extract_all(F.lower(col), F.lit(r"[a-z]+"), 0)
    n_sent = F.greatest(F.regexp_count(col, F.lit(r"[.!?]+")), F.lit(1))

    def _build(w: Column) -> Column:
        n_words = F.size(w)
        syll = F.aggregate(
            w, F.lit(0),
            lambda acc, x: acc + F.greatest(
                F.regexp_count(x, F.lit(r"[aeiouy]+")), F.lit(1)))
        wps = n_words / n_sent
        spw = syll / F.greatest(n_words, F.lit(1))
        flesch = F.round(F.lit(206.835) - F.lit(1.015) * wps
                         - F.lit(84.6) * spw, 4)
        fk = F.round(F.lit(0.39) * wps + F.lit(11.8) * spw
                     - F.lit(15.59), 4)
        return F.struct(n_words.alias("n_words"),
                        n_sent.alias("n_sentences"),
                        syll.alias("syllables"),
                        flesch.alias("flesch"),
                        fk.alias("fk_grade"))

    # let-bound: n_words/syllables both read the word array — bind the
    # regexp_extract_all once instead of re-extracting per reference
    return _let(words, _build)


# -- repetition filters (Gopher-style, Rae et al. 2021 Appendix A) ---------
# All three are PER-ROW higher-order-function expressions: no explode, no
# shuffle — repetition scoring of 10^12 documents stays embarrassingly
# parallel on the scan.

def _lines(col: Column) -> Column:
    """Non-empty trimmed lines.  NB: the transform lambda must be
    single-arg — a bare ``F.trim`` has an optional second parameter, so
    ``transform`` would call it as (element, index)."""
    return F.filter(F.transform(F.split(col, r"\n"), lambda x: F.trim(x)),
                    lambda x: x != "")


def dup_line_fraction(col: Column) -> Column:
    """Fraction of lines that are repeats of an earlier line (the Gopher
    duplicate-line filter): 1 - distinct/total, 0 for empty docs."""
    return _let(_lines(col), lambda lines: F.round(
        (F.size(lines) - F.size(F.array_distinct(lines)))
        / F.greatest(F.size(lines), F.lit(1)), 4))


def dup_line_char_fraction(col: Column) -> Column:
    """Fraction of line characters belonging to repeated occurrences
    (each line's first occurrence is 'original'; later copies count as
    duplicate mass)."""
    def _frac(lines: Column) -> Column:
        chars = F.aggregate(lines, F.lit(0),
                            lambda acc, x: acc + F.length(x))
        dchars = F.aggregate(F.array_distinct(lines), F.lit(0),
                             lambda acc, x: acc + F.length(x))
        return F.round((chars - dchars).cast("double")
                       / F.greatest(chars, F.lit(1)), 4)
    return _let(_lines(col), _frac)


def _bigrams(col: Column) -> Column:
    """Word 2-grams WITH multiplicity (unlike dedup.shingles_df, which is
    distinct and pads short docs); < 2 words → empty array.  Token
    split is let-bound: inlined into the transform lambda it would
    re-run per bigram — O(len²) per row."""
    toks = F.split(normalize_text(col), " ")
    return _let(toks, lambda t: F.when(
        F.size(t) < 2, F.array().cast("array<string>"))
        .otherwise(F.transform(
            F.sequence(F.lit(1), F.size(t) - 1),
            lambda i: F.concat_ws(" ", F.slice(t, i, 2)))))


def top_bigram_fraction(col: Column) -> Column:
    """Occurrences of the most frequent word 2-gram / total 2-grams (the
    Gopher top-n-gram filter).  Computed per row in O(k log k): sort the
    2-gram array, then fold a (prev, run, best) accumulator to find the
    longest equal run — no per-row O(k²) scan, no explode shuffle."""
    def _frac(bg: Column) -> Column:
        best = F.aggregate(
            bg,
            F.struct(F.lit("").alias("prev"), F.lit(0).alias("run"),
                     F.lit(0).alias("best")),
            lambda acc, x: F.struct(
                x.alias("prev"),
                F.when(x == acc.prev, acc.run + 1).otherwise(F.lit(1))
                .alias("run"),
                F.greatest(
                    acc.best,
                    F.when(x == acc.prev, acc.run + 1).otherwise(F.lit(1)))
                .alias("best")),
            lambda acc: acc.best,
        )
        return F.round(best.cast("double")
                       / F.greatest(F.size(bg), F.lit(1)), 4)
    return _let(F.array_sort(_bigrams(col)), _frac)


# -- Gopher document-quality rule set (Rae et al. 2021, Table A1) -----------
# The published MassiveWeb filter: word-count band, mean-word-length band,
# symbol-to-word ratio, bullet/ellipsis line fractions, alphabetic-word
# fraction, stop-word requirement, plus the repetition thresholds above.
# Every signal is a per-row higher-order-function / regex expression —
# filtering 10^12 documents stays a map-only scan with no shuffle — and
# every expression has an exact DuckDB mirror (SQL.gopher_signals).

GOPHER_STOPS = ["the", "be", "to", "of", "and", "that", "have", "with"]
_BULLET_RE = r"^(•|‣|▪|\* |- )"
_ELLIPSIS_RE = r"(\.\.\.|…)$"

# (signal, keep-predicate) in Table A1 order; the keep verdict is the AND.
GOPHER_KEEP_RULE: list[tuple[str, str]] = [
    ("n_words", "n_words between 50 and 100000"),
    ("mean_word_len", "mean_word_len between 3.0 and 10.0"),
    ("symbol_ratio", "symbol_ratio <= 0.1"),
    ("bullet_frac", "bullet_frac <= 0.9"),
    ("ellipsis_frac", "ellipsis_frac <= 0.3"),
    ("alpha_word_frac", "alpha_word_frac >= 0.8"),
    ("n_stop", "n_stop >= 2"),
    ("dup_line_frac", "dup_line_frac <= 0.3"),
    ("dup_line_char_frac", "dup_line_char_frac <= 0.2"),
    ("top_bigram_frac", "top_bigram_frac <= 0.2"),
]


def gopher_signals(col: Column) -> dict[str, Column]:
    """The ten Gopher rule signals as named Columns (rounded to 4 so
    the DuckDB mirror is value-identical); combine with
    :data:`GOPHER_KEEP_RULE` for the keep verdict.  Tokens are
    whitespace runs (the paper's 'words'); lines are non-empty trimmed
    lines, as in the repetition filters above."""
    def _sig(toks: Column) -> Column:
        n = F.greatest(F.size(toks), F.lit(1))
        mean_wl = F.round(
            F.aggregate(toks, F.lit(0), lambda a, x: a + F.length(x))
            .cast("double") / n, 4)
        alpha = F.round(
            F.size(F.filter(toks, lambda x: x.rlike("[A-Za-z]")))
            .cast("double") / n, 4)
        return F.struct(F.size(toks).alias("nw"), mean_wl.alias("mw"),
                        alpha.alias("aw"))

    tok_sig = _let(F.filter(F.split(col, r"\s+"), lambda x: x != ""), _sig)

    def _line_sig(lines: Column) -> Column:
        n = F.greatest(F.size(lines), F.lit(1))
        bullet = F.round(
            F.size(F.filter(lines, lambda x: x.rlike(_BULLET_RE)))
            .cast("double") / n, 4)
        ell = F.round(
            F.size(F.filter(lines, lambda x: x.rlike(_ELLIPSIS_RE)))
            .cast("double") / n, 4)
        return F.struct(bullet.alias("b"), ell.alias("e"))

    line_sig = _let(_lines(col), _line_sig)
    symbols = (F.regexp_count(col, F.lit("#"))
               + F.regexp_count(col, F.lit(r"(\.\.\.|…)")))
    n_stop = sum(
        (F.when(F.regexp_count(F.lower(col),
                               F.lit(r"\b" + w + r"\b")) > 0, 1)
         .otherwise(0))
        for w in GOPHER_STOPS)
    return {
        "n_words": tok_sig.nw,
        "mean_word_len": tok_sig.mw,
        "symbol_ratio": F.round(
            symbols.cast("double") / F.greatest(tok_sig.nw, F.lit(1)), 4),
        "bullet_frac": line_sig.b,
        "ellipsis_frac": line_sig.e,
        "alpha_word_frac": tok_sig.aw,
        "n_stop": n_stop,
        "dup_line_frac": dup_line_fraction(col),
        "dup_line_char_frac": dup_line_char_fraction(col),
        "top_bigram_frac": top_bigram_fraction(col),
    }


# --- PII redaction (the C4/RefinedWeb scrub stage) -------------------------
# Patterns restricted to syntax Java regex (Spark) and RE2 (DuckDB) parse
# identically: no lookaround, no backreferences.  Applied email → IPv4 →
# phone so the phone pattern never swallows an address's digit runs.

PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_IPV4 = r"\b[0-9]{1,3}(\.[0-9]{1,3}){3}\b"
PII_PHONE = r"\+?[0-9][0-9()\- ]{6,}[0-9]"
_PII = (("email", PII_EMAIL, "<EMAIL>"),
        ("ipv4", PII_IPV4, "<IP>"),
        ("phone", PII_PHONE, "<PHONE>"))


def redact_pii(col: Column) -> Column:
    """Replace emails, IPv4 addresses and phone-like digit runs with
    typed placeholders.  Pure JVM ``regexp_replace`` chain — codegen'd,
    no shuffle, no UDF; at 100 TB this is a map-only pass."""
    out = col
    for _, pat, token in _PII:
        out = F.regexp_replace(out, pat, token)
    return out


def pii_count(col: Column, kind: str) -> Column:
    """Occurrences of one PII kind ('email' | 'ipv4' | 'phone'),
    counted BEFORE redaction."""
    pat = {k: p for k, p, _ in _PII}[kind]
    return F.size(F.regexp_extract_all(col, F.lit(pat), 0))




# ---------------------------------------------------------------------------
# C4 cleaning (Raffel et al. 2020, "Exploring the Limits of Transfer
# Learning with a Unified Text-to-Text Transformer", §2.2) — the most
# widely replicated public cleaning recipe, implemented beside the
# Gopher rule set as pure scan-side expressions.
# ---------------------------------------------------------------------------

# line ends in a terminal punctuation mark (period / exclamation /
# question mark / end quotation mark, per the paper)
_C4_TERMINAL_RE = '[.!?"\u201d]$'
_C4_JS_RE = r"\bjavascript\b"


def c4_signals(col: Column) -> dict[str, Column]:
    """The C4 per-document signals as named Columns:

    * ``n_lines`` — non-empty trimmed lines;
    * ``n_kept`` — lines surviving the C4 line rules (ends in terminal
      punctuation AND >= 3 whitespace words AND no word 'javascript');
    * ``text_clean`` — the kept lines rejoined;
    * ``n_sentences`` — terminal-punctuation count of the cleaned text
      (the documented approximation of the paper's sentence count);
    * ``kept`` — the page verdict: >= 5 sentences, no 'lorem ipsum',
      no '{' (the paper's code-page proxy).

    The paper's bad-words page filter is a data artifact (a blocklist
    join), not engine work — broadcast-join such a list and AND it in.
    All expressions are whole-stage-codegen scan work: at 10^12 docs
    this is a map-only pass, no shuffle, no UDF."""
    def _sig(lines: Column) -> Column:
        kept = F.filter(
            lines,
            lambda l: l.rlike(_C4_TERMINAL_RE)
            & (F.size(F.filter(F.split(l, r"\s+"), lambda x: x != ""))
               >= 3)
            & ~F.lower(l).rlike(_C4_JS_RE))
        return F.struct(F.size(lines).alias("nl"),
                        F.size(kept).alias("nk"),
                        F.array_join(kept, "\n").alias("tc"))

    sig = _let(_lines(col), _sig)
    text_clean = sig.tc
    n_sent = F.size(F.regexp_extract_all(text_clean, F.lit("[.!?]"),
                                         F.lit(0)))
    kept = ((n_sent >= 5)
            & ~F.lower(col).contains("lorem ipsum")
            & ~col.contains("{"))
    return {
        "n_lines": sig.nl,
        "n_kept": sig.nk,
        "n_sentences": n_sent,
        "kept": kept,
        "text_clean": text_clean,
    }




# ---------------------------------------------------------------------------
# Mojibake detection (double-encoded UTF-8 signatures)
# ---------------------------------------------------------------------------

# The classic UTF-8-read-as-latin1 signatures (ftfy's core heuristic,
# Speer 2014): a multibyte UTF-8 sequence mis-decoded one byte at a
# time yields 'A-tilde/A-circumflex + continuation-range char' pairs
# ("Ã©" for é, "â€™" for ', "â€œ" for ") that essentially never occur
# in clean text.  Counting them is a scan-side regex; re-decoding is a
# data fix outside the engine (document → repair tool), the pipeline's
# job is to FLAG and route.
_MOJIBAKE_RE = (
    "Ã[\u0080-\u00bf\u20ac\u2122\u0153\u201d\u2018\u2019]"
    "|â€[\u0080-\u00bf\u2122\u0153\u201c\u201d\u2018\u2019]"
    "|Â[\u00a0-\u00bf]")


def mojibake_count(col: Column) -> Column:
    """Number of double-encoding signature hits in the text."""
    return F.size(F.regexp_extract_all(col, F.lit(_MOJIBAKE_RE),
                                       F.lit(0)))


def mojibake_flag(col: Column, min_hits: int = 2) -> Column:
    """True when the text shows ``min_hits``+ mojibake signatures (one
    hit can be a legitimate rare bigram; two are not)."""
    return mojibake_count(col) >= min_hits


# ---------------------------------------------------------------------------
# Code-likeness detection (corpus routing/filtering signal)
# ---------------------------------------------------------------------------

# Per-line code markers: statement/brace endings, or a leading keyword.
# ^/$ anchor per LINE because the expressions below apply the regex to
# already-split line strings (no MULTILINE flag needed — identical
# semantics in Java regex and RE2).
_CODE_LINE_RE = (r"[;{}()]\s*$"
                 r"|^\s*(def |class |import |from |function |var |const "
                 r"|let |return|#include|public |private |if \(|for \()")
_CODE_INDENT_RE = r"^(    |\t)"
_CODE_SYM_RE = r"[={}();<>\[\]]"
_CODE_KW_RE = (r"\b(def|function|return|import|include|class|const|var"
               r"|void|printf|public|static|elif|lambda)\b")


def code_signals(col: Column) -> dict[str, Column]:
    """Code-likeness signals as named Columns — the router/filter web
    pipelines apply before prose-only curation (prose filters like
    Gopher mis-score source code, and code destined for a code corpus
    takes a different cleaning path entirely):

    * ``n_lines`` — non-blank lines;
    * ``code_line_frac`` — fraction of non-blank lines that end in
      ``;``/``{``/``}``/``)`` or open with a code keyword;
    * ``indent_frac`` — fraction opening with a tab or 4+ spaces
      (lines are NOT trimmed first — indentation IS the signal);
    * ``sym_frac`` — code-symbol characters over text length;
    * ``kw_hits`` — code-keyword occurrences in the whole text;
    * ``is_code`` — the verdict: a third of lines code-shaped (on 3+
      lines), OR symbol-dense with 2+ keywords, OR half indented.

    All scan-side regex/HOF expressions — a map-only pass at 10^12
    docs, same shape as :func:`gopher_signals`."""
    def _sig(lines: Column) -> Column:
        nb = F.filter(lines, lambda l: F.trim(l) != "")
        return F.struct(
            F.size(nb).alias("nl"),
            F.size(F.filter(nb, lambda l: l.rlike(_CODE_LINE_RE)))
            .alias("nc"),
            F.size(F.filter(nb, lambda l: l.rlike(_CODE_INDENT_RE)))
            .alias("ni"))

    sig = _let(F.split(col, r"\n"), _sig)
    nl = sig.nl

    def _frac(num: Column) -> Column:
        return F.when(nl > 0, F.round(num.cast("double") / nl, 4)) \
                .otherwise(F.lit(0.0))

    code_frac = _frac(sig.nc)
    indent_frac = _frac(sig.ni)
    sym_frac = F.round(
        F.size(F.regexp_extract_all(col, F.lit(_CODE_SYM_RE), F.lit(0)))
        .cast("double") / F.greatest(F.length(col), F.lit(1)), 4)
    kw_hits = F.size(F.regexp_extract_all(col, F.lit(_CODE_KW_RE),
                                          F.lit(0)))
    is_code = (((code_frac >= 0.3) & (nl >= 3))
               | ((sym_frac >= 0.06) & (kw_hits >= 2))
               | (indent_frac >= 0.5))
    return {
        "n_lines": nl,
        "code_line_frac": code_frac,
        "indent_frac": indent_frac,
        "sym_frac": sym_frac,
        "kw_hits": kw_hits,
        "is_code": is_code,
    }


class SQL:
    """DuckDB mirrors of the expressions above.  Each is a format string
    taking the source column name."""

    NORMALIZE = "trim(regexp_replace(lower({c}), '\\s+', ' ', 'g'))"
    TOKEN_COUNT = ("case when trim({c}) = '' then 0 else "
                   "len(regexp_split_to_array(trim({c}), '\\s+')) end")
    WORD_COUNT = "len(regexp_extract_all({c}, '[A-Za-z0-9]+|[^\\sA-Za-z0-9]'))"
    BPE_COUNT = ("len(regexp_extract_all({c}, '"
                 + _BPE_PAT.replace("'", "''") + "'))")
    FINGERPRINT = "md5(" + NORMALIZE + ")"

    @staticmethod
    def md5_u32(expr: str, at: int = 1) -> str:
        return f"(('0x' || substr(md5({expr}), {at}, 8))::bigint)"

    @staticmethod
    def redact_pii(c: str) -> str:
        out = c
        for _, pat, token in _PII:
            out = (f"regexp_replace({out}, '{pat.replace(chr(39), chr(39)*2)}'"
                   f", '{token}', 'g')")
        return out

    @staticmethod
    def pii_count(c: str, kind: str) -> str:
        pat = {k: p for k, p, _ in _PII}[kind]
        return (f"len(regexp_extract_all({c}, "
                f"'{pat.replace(chr(39), chr(39)*2)}'))")

    @staticmethod
    def marker_count(c: str, words: list[str]) -> str:
        pat = r"\b(?:" + "|".join(words) + r")\b"
        return f"len(regexp_extract_all(lower({c}), '{pat}'))"

    @classmethod
    def lang_id(cls, c: str) -> str:
        cases = []
        counts = {lang: cls.marker_count(c, words)
                  for lang, words in _LANG_MARKERS.items()}
        # same argmax + tie-break (en>es>de>fr) as the Column version
        order = list(_LANG_MARKERS)
        greatest = "greatest(" + ", ".join(counts[l] for l in order) + ")"
        for lang in order:
            cases.append(f"when {counts[lang]} = {greatest} "
                         f"and {counts[lang]} > 0 then '{lang}'")
        return "case " + " ".join(cases) + " else 'und' end"

    @classmethod
    def lang_id_ngram(cls, c: str) -> str:
        counts = {
            lang: f"len(regexp_extract_all(lower({c}), "
                  f"'(?:" + "|".join(grams) + ")'))"
            for lang, grams in _LANG_TRIGRAMS.items()}
        order = list(_LANG_TRIGRAMS)
        greatest = "greatest(" + ", ".join(counts[l] for l in order) + ")"
        cases = [f"when {counts[lang]} = {greatest} "
                 f"and {counts[lang]} > 0 then '{lang}'" for lang in order]
        return "case " + " ".join(cases) + " else 'und' end"

    @staticmethod
    def char_entropy(c: str, cap: int = 512) -> str:
        ch = (f"list_filter(string_split(substr({c}, 1, {cap}), ''), "
              f"x -> x != '')")
        p = f"(len(list_filter({ch}, x -> x = d))::double / len({ch}))"
        t = f"list_transform(list_distinct({ch}), d -> {p} * log2({p}))"
        return (f"round((case when len({ch}) > 0 then -list_sum({t}) "
                f"else 0.0 end) + 0.0, 4)")

    @staticmethod
    def readability(c: str) -> dict[str, str]:
        """DuckDB mirrors of :func:`readability`, same field names."""
        words = f"regexp_extract_all(lower({c}), '[a-z]+')"
        n_words = f"len({words})"
        n_sent = f"greatest(len(regexp_extract_all({c}, '[.!?]+')), 1)"
        syll = (f"coalesce(list_sum(list_transform({words}, x -> "
                f"greatest(len(regexp_extract_all(x, '[aeiouy]+')), 1)))"
                f"::bigint, 0)")
        wps = f"({n_words} / {n_sent})"
        spw = f"({syll} / greatest({n_words}, 1))"
        return {
            "n_words": n_words,
            "n_sentences": n_sent,
            "syllables": syll,
            "flesch": f"round(206.835 - 1.015 * {wps} - 84.6 * {spw}, 4)",
            "fk_grade": f"round(0.39 * {wps} + 11.8 * {spw} - 15.59, 4)",
        }

    @staticmethod
    def lines(c: str) -> str:
        return (f"list_filter(list_transform(string_split({c}, chr(10)), "
                f"x -> trim(x)), x -> x != '')")

    @classmethod
    def dup_line_fraction(cls, c: str) -> str:
        ln = cls.lines(c)
        return (f"round((len({ln}) - len(list_distinct({ln})))::double "
                f"/ greatest(len({ln}), 1), 4)")

    @classmethod
    def dup_line_char_fraction(cls, c: str) -> str:
        ln = cls.lines(c)
        chars = f"coalesce(list_sum(list_transform({ln}, x -> length(x))), 0)"
        dchars = (f"coalesce(list_sum(list_transform(list_distinct({ln}), "
                  f"x -> length(x))), 0)")
        return (f"round(({chars} - {dchars})::double "
                f"/ greatest({chars}, 1), 4)")

    @classmethod
    def bigrams(cls, c: str) -> str:
        toks = f"regexp_split_to_array({cls.NORMALIZE.format(c=c)}, ' ')"
        return (f"(case when len({toks}) < 2 then []::varchar[] else "
                f"list_transform(generate_series(1, len({toks}) - 1), "
                f"i -> array_to_string(({toks})[i:i+1], ' ')) end)")

    @classmethod
    def top_bigram_fraction(cls, c: str) -> str:
        bg = cls.bigrams(c)
        # correlated scalar subquery: mode count of the 2-gram multiset
        # (same VALUE as Spark's sorted-run fold, different mechanism)
        top = (f"(select max(cnt) from (select count(*) as cnt "
               f"from unnest({bg}) as _u(g) group by g))")
        return (f"round(coalesce({top}, 0)::double "
                f"/ greatest(len({bg}), 1), 4)")

    @classmethod
    def gopher_signals(cls, c: str) -> dict[str, str]:
        """DuckDB mirrors of :func:`gopher_signals`, same keys."""
        toks = f"list_filter(regexp_split_to_array({c}, '\\s+'), x -> x != '')"
        nw = f"len({toks})"
        n = f"greatest({nw}, 1)"
        mean_wl = (f"round(coalesce(list_sum(list_transform({toks}, "
                   f"x -> length(x))), 0)::double / {n}, 4)")
        alpha = (f"round(len(list_filter({toks}, "
                 f"x -> regexp_matches(x, '[A-Za-z]')))::double / {n}, 4)")
        lines = cls.lines(c)
        ln = f"greatest(len({lines}), 1)"
        bullet = (f"round(len(list_filter({lines}, x -> regexp_matches(x, "
                  f"'{_BULLET_RE}')))::double / {ln}, 4)")
        ell = (f"round(len(list_filter({lines}, x -> regexp_matches(x, "
               f"'{_ELLIPSIS_RE}')))::double / {ln}, 4)")
        symbols = (f"(len(regexp_extract_all({c}, '#')) + "
                   f"len(regexp_extract_all({c}, '(\\.\\.\\.|…)')))")
        n_stop = " + ".join(
            f"(case when regexp_matches(lower({c}), '\\b{w}\\b') "
            f"then 1 else 0 end)" for w in GOPHER_STOPS)
        return {
            "n_words": nw,
            "mean_word_len": mean_wl,
            "symbol_ratio": f"round({symbols}::double / {n}, 4)",
            "bullet_frac": bullet,
            "ellipsis_frac": ell,
            "alpha_word_frac": alpha,
            "n_stop": f"({n_stop})",
            "dup_line_frac": cls.dup_line_fraction(c),
            "dup_line_char_frac": cls.dup_line_char_fraction(c),
            "top_bigram_frac": cls.top_bigram_fraction(c),
        }

    @classmethod
    def script_profile(cls, c: str) -> dict[str, str]:
        """DuckDB mirrors of :func:`script_profile` (same UTF-8 range
        literals handed to RE2, same keys)."""
        counts = {s: f"len(regexp_extract_all({c}, '[{r}]'))"
                  for s, r in SCRIPT_RANGES.items()}
        total = "(" + " + ".join(counts.values()) + ")"
        out = {f"{s}_frac":
               f"round({cnt}::double / greatest({total}, 1), 4)"
               for s, cnt in counts.items()}
        out["n_script_chars"] = f"{total}::bigint"
        top = "greatest(" + ", ".join(counts.values()) + ")"
        chain = " ".join(
            f"when {counts[s]} = {top} and {counts[s]} > 0 then '{s}'"
            for s in SCRIPT_RANGES)
        out["script"] = f"(case {chain} else 'und' end)"
        return out

    @classmethod
    def quality_score(cls, c: str) -> str:
        n = f"length({c})"
        alpha = f"len(regexp_extract_all({c}, '[A-Za-z]'))"
        stop = cls.marker_count(c, _LANG_MARKERS["en"])
        toks = cls.TOKEN_COUNT.format(c=c)
        mean_wl = f"({n}::double / greatest({toks}, 1))"
        # ::double — DuckDB round(DECIMAL,2) yields DECIMAL('0.50') which
        # string-compares differently from Spark's double 0.5
        return ("round("
                f"(case when {n} between 200 and 100000 then 0.25 else 0 end)"
                f" + (case when ({alpha}::double / greatest({n},1)) >= 0.6 then 0.25 else 0 end)"
                f" + (case when {stop} >= 2 then 0.25 else 0 end)"
                f" + (case when {mean_wl} between 3.0 and 12.0 then 0.25 else 0 end)"
                ", 2)::double")


    @classmethod
    def c4_signals(cls, c: str) -> dict[str, str]:
        """DuckDB mirrors of :func:`c4_signals`, same keys."""
        lines = ("list_filter(list_transform(regexp_split_to_array("
                 f"{c}, '\\n'), x -> trim(x)), x -> x <> '')")
        kept_lines = (
            f"list_filter({lines}, l -> "
            "regexp_matches(l, '[.!?\"\u201d]$') and "
            r"len(list_filter(regexp_split_to_array(l, '\s+'), "
            "x -> x <> '')) >= 3 and "
            r"not regexp_matches(lower(l), '\bjavascript\b'))")
        tc = f"coalesce(array_to_string({kept_lines}, chr(10)), '')"
        n_sent = f"len(regexp_extract_all({tc}, '[.!?]'))"
        kept = (f"({n_sent} >= 5 and not contains(lower({c}), "
                f"'lorem ipsum') and not contains({c}, chr(123)))")
        return {
            "n_lines": f"len({lines})",
            "n_kept": f"len({kept_lines})",
            "n_sentences": n_sent,
            "kept": kept,
            "text_clean": tc,
        }

    @classmethod
    def mojibake_count(cls, c: str) -> str:
        """DuckDB mirror of :func:`mojibake_count` (same regex; RE2
        reads the same \\uXXXX ranges via the literal chars)."""
        pat = _MOJIBAKE_RE.replace("'", "''")
        return f"len(regexp_extract_all({c}, '{pat}'))"

    @classmethod
    def code_signals(cls, c: str) -> dict[str, str]:
        """DuckDB mirrors of :func:`code_signals`, same keys."""
        line_re = _CODE_LINE_RE.replace("'", "''")
        nb = f"list_filter(string_split({c}, chr(10)), l -> trim(l) <> '')"
        nl = f"len({nb})"
        nc = (f"len(list_filter({nb}, l -> "
              f"regexp_matches(l, '{line_re}')))")
        ni = (f"len(list_filter({nb}, l -> "
              f"regexp_matches(l, '{_CODE_INDENT_RE}')))")
        def frac(num: str) -> str:
            return (f"(case when {nl} > 0 then "
                    f"round({num}::double / {nl}, 4) else 0.0 end)")
        sym = (f"round(len(regexp_extract_all({c}, '{_CODE_SYM_RE}'))"
               f"::double / greatest(len({c}), 1), 4)")
        kw = f"len(regexp_extract_all({c}, '{_CODE_KW_RE}'))"
        code_frac, indent_frac = frac(nc), frac(ni)
        return {
            "n_lines": nl,
            "code_line_frac": code_frac,
            "indent_frac": indent_frac,
            "sym_frac": sym,
            "kw_hits": kw,
            "is_code": (f"(({code_frac} >= 0.3 and {nl} >= 3) or "
                        f"({sym} >= 0.06 and {kw} >= 2) or "
                        f"{indent_frac} >= 0.5)"),
        }
