"""Text-analysis operators for LLM training-data pipelines.

Beyond-reference surface (BASELINE.json north star): language ID, quality
scoring, token counting, document fingerprinting — all as built-in column
expressions (JVM-side, whole-stage codegen). Nothing here touches Python
per row; at 100 TB these run at parquet-scan speed.
"""

from __future__ import annotations

import re

from pyspark.sql import Column
from pyspark.sql import functions as F

# BPE-ish pre-tokenizer: letter runs, digit runs, single punctuation —
# the standard GPT-2-style segmentation shape, minus unicode categories.
TOKEN_REGEX = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"

# Java's \s spelled out as an explicit character class, so a DuckDB
# oracle can apply the IDENTICAL class: RE2's \s is [ \t\n\f\r] while
# Java's additionally matches U+000B vertical tab — a \x0b in a document
# would silently tokenize differently per engine under a bare '\s+'.
# Operators whose oracle twins tokenize (span dedup, frequent phrases)
# use this on BOTH sides; parity on a \x0b vehicle is test-pinned.
WS_CLASS = r"[ \t\n\f\r\x0b]+"

STOPWORDS = ("the", "a", "of", "and", "in", "to", "is")

# Marker function-words per language for the n-gram/marker heuristic.
# Deterministic and domain-agnostic; real deployments would swap in a
# char-trigram profile table built the same columnar way.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "is", "was"),
    "de": ("der", "die", "und", "ist", "das"),
    "es": ("el", "la", "que", "los", "es"),
    "fr": ("le", "la", "les", "est", "une"),
    "zh": ("de", "shi", "le", "zai", "he"),
}


def tokens(col: Column) -> Column:
    """Whitespace tokenization, empty-safe."""
    return F.filter(F.split(F.trim(col), r"\s+"), lambda t: t != "")


def token_count_ws(col: Column) -> Column:
    """Whitespace token count."""
    return F.size(tokens(col)).cast("long")


def token_count_bpe(col: Column) -> Column:
    """BPE-ish token count via the pre-tokenizer regex.

    ``regexp_count``, not ``size(regexp_extract_all(...))`` (r10, the
    whole match-counting family here): extract_all materializes every
    match into an array just to measure its length — per-row allocation
    proportional to the document. Identical counts (same non-overlapping
    match walk, NULL→NULL)."""
    return F.regexp_count(col, F.lit(TOKEN_REGEX)).cast("long")


def punct_count(col: Column) -> Column:
    return F.regexp_count(col, F.lit(r"[^\w\s]")).cast("long")


def stopword_count(col: Column, stopwords: tuple[str, ...] = STOPWORDS) -> Column:
    pattern = r"\b(" + "|".join(stopwords) + r")\b"
    return F.regexp_count(F.lower(col), F.lit(pattern)).cast("long")


def quality_score(col: Column) -> Column:
    """Composite document-quality score in [0,1]: length band, low
    punctuation density, healthy stopword ratio, sane mean word length —
    the length/punct/stopword-ratio family of heuristic filters used for
    pretraining corpus cleaning (C4/Gopher-style rules)."""
    n_tok = token_count_ws(col).cast("double")
    n_chars = F.length(col).cast("double")
    punct_ratio = punct_count(col).cast("double") / F.greatest(n_chars, F.lit(1.0))
    stop_ratio = stopword_count(col).cast("double") / F.greatest(n_tok, F.lit(1.0))
    mean_word_len = n_chars / F.greatest(n_tok, F.lit(1.0))
    length_ok = F.when((n_tok >= 5) & (n_tok <= 100000), 1.0).otherwise(0.0)
    punct_ok = F.when(punct_ratio <= 0.2, 1.0).otherwise(0.0)
    stop_ok = F.when(stop_ratio >= 0.01, 1.0).otherwise(0.0)
    word_len_ok = F.when((mean_word_len >= 2.0) & (mean_word_len <= 12.0), 1.0).otherwise(0.0)
    return F.round((length_ok + punct_ok + stop_ok + word_len_ok) / 4.0, 4)


def lang_scores(col: Column) -> dict[str, Column]:
    """Marker-word hit count per candidate language."""
    lowered = F.lower(col)
    out: dict[str, Column] = {}
    for lang, markers in LANG_MARKERS.items():
        pattern = r"\b(" + "|".join(markers) + r")\b"
        out[lang] = F.regexp_count(lowered, F.lit(pattern)).cast("long")
    return out


def lang_id(col: Column) -> Column:
    """Argmax language with deterministic tie-break (alphabetical wins on
    equal score; 'und' when nothing matches)."""
    scores = lang_scores(col)
    best = F.greatest(*scores.values())
    result = F.lit("und")
    # build reversed so earlier (alphabetical) langs win ties
    for lang in sorted(scores, reverse=True):
        result = F.when(scores[lang] == best, lang).otherwise(result)
    return F.when(best == 0, "und").otherwise(result)


def normalize_text(col: Column) -> Column:
    """Canonical form for fingerprint/dedup: lowercase, collapse whitespace."""
    return F.trim(F.regexp_replace(F.lower(col), r"\s+", " "))


def fingerprint_md5(col: Column) -> Column:
    """Content fingerprint = md5 of the normalized text."""
    return F.md5(normalize_text(col))


def fingerprint_prefix64(col: Column) -> Column:
    """First 16 hex chars of the md5 — a 64-bit fingerprint as text
    (kept as hex so engines with different int64 signedness agree)."""
    return F.substring(fingerprint_md5(col), 1, 16)


def unicode_nfc(col: Column) -> Column:
    """Unicode NFC normalization — the corpus-hygiene step that folds
    decomposed sequences (e + U+0301) into their composed form (U+00E9)
    so that visually-identical text hashes identically downstream
    (exact dedup, fingerprints, shingles all assume one byte form per
    string).

    The one deliberate exception to this module's no-Python rule: Spark
    has no built-in NFC/NFKC expression, so this is an Arrow-batched
    pandas UDF over ``pandas.Series.str.normalize`` (vectorized ICU-free
    stdlib path, never per-row Python). Map-only — composes into any
    scan stage with no shuffle; nulls propagate."""
    # pandas imported here (not module-top) to keep the module importable
    # without a Python-worker dependency; the type hints must therefore be
    # plain strings resolvable without the local import — pandas_udf under
    # ``from __future__ import annotations`` resolves hints against module
    # globals, so the hint is attached post-hoc as a real object.
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    def _nfc_fn(s):
        return s.str.normalize("NFC")

    _nfc_fn.__annotations__ = {"s": pd.Series, "return": pd.Series}
    _nfc = pandas_udf(_nfc_fn, "string")
    return _nfc(col)


def blocklist_hits(col: Column, terms: tuple[str, ...]) -> Column:
    """Whole-word, case-insensitive occurrence count of blocklist terms
    — the C4 "bad words" discipline (C4 dropped any page containing one;
    Gopher/RefinedWeb-style pipelines threshold on the fraction). Terms
    are regex-escaped and folded into ONE alternation compiled once
    JVM-side, so a thousand-term list is still a single map-only
    regexp_extract_all per row — no explode, no join, no Python.
    Whole-word so "dup" never fires on "duplicate" — the \\b anchor is
    applied per term edge and only where that edge is a word character
    (a \\b AFTER "c++" can never match, silently killing the term), so
    punctuation-edged terms still work; edge-aware \\b instead of
    lookarounds keeps the pattern RE2-compatible (DuckDB oracle)."""
    if not terms or any(not t for t in terms):
        raise ValueError("blocklist terms must be non-empty")

    def _word(ch: str) -> bool:
        return ch.isalnum() or ch == "_"

    parts = []
    for t in terms:
        t = t.lower()
        left = r"\b" if _word(t[0]) else ""
        right = r"\b" if _word(t[-1]) else ""
        parts.append(left + re.escape(t) + right)
    pattern = "(" + "|".join(parts) + ")"
    return F.regexp_count(F.lower(col), F.lit(pattern)).cast(
        "long"
    )


def blocklist_metrics(
    df,
    id_col: str,
    text_col: str,
    terms: tuple[str, ...],
    max_fraction: float = 0.0,
):
    """Per-document blocklist metrics + keep decision: token count,
    blocklist hit count, hit fraction, and ``keep`` (fraction <=
    ``max_fraction``; the default 0.0 is C4's any-hit-drops policy,
    while e.g. 0.01 tolerates incidental mentions). Pure column
    arithmetic over one scan — composes into any curation stage at
    parquet-scan speed; empty/null docs have zero tokens and keep=True
    (they are the quality gate's problem, not the blocklist's)."""
    # coalesce: size()/regexp over a NULL doc is NULL, and a null keep
    # flag would silently drop the row in a filter — null text is "zero
    # tokens, zero hits" here by contract.
    n_tok = F.coalesce(token_count_ws(F.col(text_col)), F.lit(0).cast("long"))
    hits = F.coalesce(
        blocklist_hits(F.col(text_col), terms), F.lit(0).cast("long")
    )
    frac = F.when(n_tok == 0, F.lit(0.0)).otherwise(
        F.round(hits.cast("double") / n_tok, 6)
    )
    return df.select(
        F.col(id_col),
        n_tok.alias("n_tokens"),
        hits.alias("blocklist_hits"),
        frac.alias("hit_fraction"),
        (frac <= F.lit(float(max_fraction))).alias("keep"),
    )


def zlib_sizes(col: Column, level: int = 6) -> Column:
    """``struct<raw_bytes, comp_bytes>`` of the UTF-8 text under zlib —
    the compression-ratio quality signal: highly repetitive or
    templated text compresses far below natural prose, and
    machine-generated gibberish barely compresses at all, so the ratio
    is a cheap model-free entropy proxy (the Gopher-era
    "compression filter"). Spark has no built-in deflate expression,
    so this is an Arrow-batched pandas UDF (same contract as
    ``unicode_nfc`` — vectorized batches, never per-row Python
    dispatch); map-only, composes into the scan stage. Nulls propagate
    as null structs. zlib output is deterministic for a fixed level and
    library version, so downstream thresholds are reproducible."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    def _sizes_fn(s):
        import zlib

        raw, comp = [], []
        for x in s:
            if x is None:
                raw.append(None)
                comp.append(None)
            else:
                b = x.encode("utf-8")
                raw.append(len(b))
                comp.append(len(zlib.compress(b, level)))
        return pd.DataFrame({"raw_bytes": raw, "comp_bytes": comp})

    _sizes_fn.__annotations__ = {"s": pd.Series, "return": pd.DataFrame}
    _sizes = pandas_udf(_sizes_fn, "struct<raw_bytes: long, comp_bytes: long>")
    return _sizes(col)


# HTML entity unescape order: &amp; LAST, or "&amp;lt;" would
# double-unescape into "<" (the standard decode-order rule)
HTML_ENTITIES = (
    ("&lt;", "<"),
    ("&gt;", ">"),
    ("&quot;", '"'),
    ("&#39;", "'"),
    ("&nbsp;", " "),
    ("&amp;", "&"),
)


def strip_html(col: Column, collapse_ws: bool = True) -> Column:
    """Raw-crawl HTML → text: drop <script>/<style>/comment blocks
    WITH their contents (code and CSS are not prose), then all
    remaining tags, then unescape the common named entities. The
    removal patterns are separate per block kind because the oracle
    engine's RE2 has no backreferences (a single <(script|style)>…</\\1>
    needs one); (?s) dotall + non-greedy work in both engines. With
    ``collapse_ws`` the result collapses to single-space tokens and
    trims — the form the token/quality/shingle operators expect; pass
    False to keep original whitespace for line-grain ops (line_dedup).
    Pure built-in regexp/replace chain — map-only, codegen'd, fused
    into the scan; nulls propagate."""
    s = F.regexp_replace(col, r"(?is)<script[^>]*>.*?</script>", " ")
    s = F.regexp_replace(s, r"(?is)<style[^>]*>.*?</style>", " ")
    s = F.regexp_replace(s, r"(?s)<!--.*?-->", " ")
    # block-level boundaries become newlines BEFORE generic tag removal,
    # so the document's block structure survives as line structure —
    # line-grain operators (line_dedup) need a nav <div> to be its own
    # line even when the source HTML is single-line. Inline tags become
    # spaces. Under collapse_ws both fold to ' ' (oracle unaffected).
    s = F.regexp_replace(
        s,
        r"(?i)<br\s*/?>|</(?:p|div|h[1-6]|li|ul|ol|tr|table|section|article"
        r"|header|footer|blockquote|pre)\s*>",
        "\n",
    )
    s = F.regexp_replace(s, r"<[^>]+>", " ")
    for ent, ch in HTML_ENTITIES:
        s = F.replace(s, F.lit(ent), F.lit(ch))
    if collapse_ws:
        s = F.trim(F.regexp_replace(s, r"\s+", " "))
    return s


# (spark_java_class, label) — the operator uses Java \p{IsX} script
# syntax; the DuckDB oracle states the same sets in RE2 \p{X} syntax.
SCRIPT_CLASSES = (
    (r"\p{IsLatin}", "latin"),
    (r"\p{IsCyrillic}", "cyrillic"),
    (r"\p{IsHan}", "han"),
    (r"\p{IsArabic}", "arabic"),
    (r"0-9", "digit"),
    (r"\s", "space"),
)


def script_profile(col: Column) -> list[Column]:
    """Per-script character fractions (latin/cyrillic/han/arabic/digit/
    space + other), each rounded to 6 dp — the mixed-script signal that
    catches wrong-language contamination, transliteration spam, and
    mojibake that marker-word language ID cannot see (a doc can carry
    perfect English markers and still be 40% Cyrillic). Counting is
    length-difference after removing the class — no explode, no Python;
    map-only at scan speed. Empty docs profile as all-zero."""
    total = F.length(col).cast("double")
    safe_total = F.greatest(total, F.lit(1.0))
    cols: list[Column] = []
    covered = None
    for cls, label in SCRIPT_CLASSES:
        n = total - F.length(F.regexp_replace(col, f"[{cls}]", ""))
        cols.append(F.round(n / safe_total, 6).alias(f"frac_{label}"))
        covered = n if covered is None else covered + n
    cols.append(F.round((total - covered) / safe_total, 6).alias("frac_other"))
    return cols


# Mojibake signatures: UTF-8 bytes mis-decoded as cp1252 and re-encoded
# leave characteristic multi-char sequences (the "\u00c3\u00a9" family).
# Derived, not hand-written: each target character's UTF-8 bytes decoded
# as cp1252 IS the signature, so the table can never drift from the
# encoding math. Targets whose bytes hit cp1252's undefined slots (e.g.
# \u201d whose 0x9d has no cp1252 mapping) are skipped. Every derived
# sequence is literal text with no regex metacharacters, so the same
# alternation runs identically in Java regex and RE2/DuckDB.
_MOJIBAKE_TARGETS = (
    "\u00e9\u00e8\u00e4\u00f6\u00fc\u00f1\u00e7\u00e0"  # accented latin
    "\u2018\u2019\u201c\u2013\u2014\u2026"              # smart quotes/dashes
    "\u00ab\u00bb\u00a0"                                # guillemets, NBSP
    "\ufeff\ufffd"                                      # BOM, replacement char
)


def _cp1252_signature(ch: str) -> str | None:
    try:
        return ch.encode("utf-8").decode("cp1252")
    except UnicodeDecodeError:
        return None


MOJIBAKE_SEQUENCES = tuple(
    s for s in (_cp1252_signature(c) for c in _MOJIBAKE_TARGETS) if s
)


def mojibake_count(col: Column) -> Column:
    """Occurrences of classic double-encoding signatures (UTF-8 read as
    cp1252 and re-encoded). One regexp alternation of literal sequences
    over the text -- map-only, codegen'd. Complements payload triage
    (operators/multimodal.py), which gates invalid BYTES: mojibake is
    VALID UTF-8 carrying wrong text, so it sails through byte checks."""
    pattern = "|".join(MOJIBAKE_SEQUENCES)
    return F.regexp_count(col, F.lit(pattern)).cast(
        "long"
    )


def mojibake_metrics(df, id_col: str, text_col: str,
                     max_per_kchar: float = 2.0):
    """(id, n_mojibake, chars, mojibake_per_kchar, keep) per document --
    the crawl-hygiene gate for double-encoded text. ``keep`` is False
    when signature density exceeds ``max_per_kchar`` per 1000 chars
    (density, not absolute count, so long documents are not punished).
    Pure column arithmetic over one scan; empty AND null-text docs keep
    with zero counts (the codebase's null-text-survives contract — a
    null must never be silently dropped by a keep-side filter)."""
    n = F.coalesce(mojibake_count(F.col(text_col)), F.lit(0))
    chars = F.coalesce(F.length(F.col(text_col)).cast("long"), F.lit(0))
    density = F.round(
        n.cast("double") * 1000.0
        / F.greatest(chars, F.lit(1)).cast("double"),
        6,
    )
    return df.select(
        F.col(id_col).alias("id"),
        n.alias("n_mojibake"),
        chars.alias("chars"),
        density.alias("mojibake_per_kchar"),
        (density <= max_per_kchar).alias("keep"),
    )
