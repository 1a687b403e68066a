"""Text cleaning, tokenization and surface-form normalization
(SURVEY T1-T5). All pure Spark SQL expressions — zero Python UDFs.

``normalize_expr`` produces THE blocking key. It must be byte-identical
between the dictionary-build side and the query side (SURVEY §7.3 item 3),
and — for the DuckDB oracle — reproducible as
``lower(strip_accents(...))`` + regexes in ANSI SQL. Golden unit pairs in
tests/test_textnorm.py pin the behavior.

Reference semantics: the public semanticizer normalizes surface forms
with configurable levels `dash`, `accents`, `lower` before probing the
anchor store (its wpm utils). We add punctuation stripping +
whitespace collapse so transcript text (which, unlike wiki anchors,
contains arbitrary punctuation) blocks robustly.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Latin accent fold map (NFKD base-letter extraction for the Latin-1
# Supplement + Latin Extended-A/B ranges our fixtures exercise), built
# deterministically at import time. A JVM-side translate() keeps folding
# out of Python; full Unicode folding would be the one place a vectorized
# pandas UDF (unicodedata.normalize on a Series) is justified — not
# needed for ASCII corpora. Non-decomposable letters (Ø, ß, Þ…) fall
# through to the punctuation strip on BOTH the Spark and DuckDB sides.
import unicodedata as _ud

_src, _dst = [], []
for _cp in range(0xC0, 0x250):
    _ch = chr(_cp)
    _base = "".join(c for c in _ud.normalize("NFKD", _ch)
                    if not _ud.combining(c))
    if len(_base) == 1 and _base != _ch and _base.isascii() and _base.isalpha():
        _src.append(_ch)
        _dst.append(_base)
_ACC_SRC = "".join(_src)
_ACC_DST = "".join(_dst)
del _src, _dst, _cp, _ch, _base

_DASHES = "-‐‑‒–—―"


def clean_expr(col: Column) -> Column:
    """T1: strip URLs, @mentions, RT markers (the reference's tweet
    preprocessing) from free text.

    The regexes only run on rows that literally contain a trigger
    substring (contains() is a cheap scalable scan; regexp evaluation
    is serialized across task threads — see normalize_expr). Clean
    corpora pay ~zero regex cost."""
    trigger = (F.contains(col, F.lit("http"))
               | F.contains(col, F.lit("@"))
               | F.contains(col, F.lit("RT")))
    c = F.regexp_replace(col, r"https?://\S+", " ")
    c = F.regexp_replace(c, r"@\w+", " ")
    c = F.regexp_replace(c, r"\bRT\b", " ")
    return F.when(trigger, c).otherwise(col)


def fold_accents_expr(col: Column) -> Column:
    return F.translate(col, _ACC_SRC, _ACC_DST)


# ASCII chars to DELETE after lower(): printable punctuation + controls
# (everything outside [a-z0-9 ] that can remain in an ASCII string)
_ASCII_JUNK = ("".join(chr(c) for c in range(0x21, 0x30))
               + "".join(chr(c) for c in range(0x3A, 0x61))
               + "".join(chr(c) for c in range(0x7B, 0x7F))
               + "".join(chr(c) for c in range(0x00, 0x21)))
# but keep the space itself
_ASCII_JUNK = _ASCII_JUNK.replace(" ", "")


def _collapse_spaces(c: Column) -> Column:
    # runs of ≤ 64 spaces collapse to one regex-free (6 halving passes);
    # longer runs (e.g. 70+ consecutive stripped punctuation chars) would
    # leave embedded double spaces and break oracle parity, so any row
    # still containing "  " after the passes takes the regexp fixpoint —
    # pathological rows only, hot path stays regex-free
    for _ in range(6):
        c = F.replace(c, F.lit("  "), F.lit(" "))
    return F.when(F.contains(c, F.lit("  ")),
                  F.regexp_replace(c, " +", " ")).otherwise(c)


def normalize_expr(col: Column) -> Column:
    """T4 — the blocking key: dash→space, fold accents, lowercase,
    strip non-alnum, collapse whitespace, trim.

    REGEX-FREE on the hot path: Spark's regexp_replace evaluation is
    effectively serialized across task threads (measured 59s@local[8]
    vs 51s@local[32] for ONE regexp over 30M short strings, while
    translate/lower scale) — so the strip is a translate() DELETE of
    the enumerable ASCII junk set, and only strings still carrying
    multibyte chars after accent folding (octet_length ≠ char length —
    emoji/CJK, rare in Latin corpora) take the regexp fallback. At CJK
    scale, swap the fallback for a vectorized pandas UDF.

    DuckDB oracle equivalent (must stay in sync — see oracle_sql()):
      trim(regexp_replace(regexp_replace(lower(strip_accents(
        regexp_replace(s,'[-‐-―]',' ','g'))),'[^a-z0-9 ]','','g'),' +',' ','g'))
    """
    c = F.translate(col, _DASHES, " " * len(_DASHES))
    c = fold_accents_expr(c)
    c = F.lower(c)
    fast = F.translate(c, _ASCII_JUNK, "")
    slow = F.regexp_replace(c, r"[^a-z0-9 ]", "")
    c = F.when(F.octet_length(c) == F.length(c), fast).otherwise(slow)
    return F.trim(_collapse_spaces(c))


# The same normalization as a DuckDB SQL template, for oracle parity.
# {col} is substituted with the column/expression name.
NORMALIZE_DUCKDB_SQL = (
    "trim(regexp_replace(regexp_replace(lower(strip_accents("
    "regexp_replace({col}, '[-‐‑‒–—―]', ' ', 'g')"
    ")), '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g'))"
)


def tokenize_expr(col: Column) -> Column:
    """T2: whitespace tokens of the *raw* text (spans refer to these).
    Empty/blank text → empty array.

    Regex-free: non-space whitespace is translated to spaces, then the
    split pattern is a literal single space; empty fragments from runs
    are dropped by array_remove (equivalent to splitting on \\s+)."""
    ws = F.translate(col, "\t\n\r\x0b\x0c", "     ")
    return F.array_remove(F.split(F.trim(ws), " "), "")


# ------------------------------------------------------- Unicode fallback

_DASH_TBL = {ord(c): " " for c in _DASHES}


def _normalize_unicode_str(x: str | None) -> str | None:
    """One string's full-Unicode blocking key (see
    :func:`normalize_unicode_udf`); None stays None."""
    if x is None:
        return None
    x = x.translate(_DASH_TBL)
    x = "".join(c for c in _ud.normalize("NFKD", x) if not _ud.combining(c))
    x = x.casefold()
    # DELETE non-alnum, keeping only the literal space — exact
    # ASCII-path semantics ("don't" → "dont"; tabs/newlines are junk
    # chars there and get deleted, not spaced)
    x = "".join(c for c in x if c.isalnum() or c == " ")
    return " ".join(x.split())


def normalize_unicode_udf(col: Column) -> Column:
    """Full-Unicode blocking key as an Arrow-batched pandas UDF — the
    documented fallback for non-Latin corpora (config flag
    ``SemlinkConfig.unicode_normalize``; the ASCII hot path above is
    unchanged and stays pure codegen).

    Semantics: dash→space, NFKD fold (ALL combining marks stripped, not
    just Latin-1/Extended-A), casefold, then keep alphanumerics of ANY
    script plus spaces — CJK/Greek/Cyrillic letters survive as blocking
    key material instead of being deleted by the ASCII ``[^a-z0-9 ]``
    strip; emoji/symbols/punctuation are dropped. For inputs the ASCII
    path can represent (Latin letters whose NFKD base is ASCII), the
    two paths produce IDENTICAL keys (pinned by golden pairs in
    tests/test_textnorm.py). Arrow moves the batches; the per-row
    unicodedata work is the price of full Unicode — which is exactly
    why it's a fallback, not the default."""
    # module-global import so the pandas_udf type hints resolve under
    # `from __future__ import annotations` (PEP 563 stringizes them)
    global pd
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("string")
    def _norm(s: pd.Series) -> pd.Series:
        return s.map(_normalize_unicode_str)

    return _norm(col)


def normalize_unicode_tokens_udf(col: Column) -> Column:
    """:func:`normalize_unicode_udf` over an array<string> column: every
    element normalized by the same per-string function, in one Arrow
    pass per batch of arrays. The streaming explode normalizes its
    token array once per turn this way, because a pandas UDF cannot
    run inside a higher-order-function lambda."""
    global pd
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("array<string>")
    def _norm(s: pd.Series) -> pd.Series:
        return s.map(lambda toks: None if toks is None
                     else [_normalize_unicode_str(t) for t in toks])

    return _norm(col)


SOUNDEX_FROM = "ABCDEFGHIJKLMNOPQRSTUVWXYZ"
SOUNDEX_TO = "01230120022455012623010202"


def soundex_expr(col: Column) -> Column:
    """American Soundex (T. Odell / NARA rules) as a pure shared-SQL
    expression — the classic PHONETIC BLOCKING key (Christen '12 ch.
    4): names that sound alike land in one block even when edit
    distance is large (Smith/Smyth, Ashcraft/Ashcroft).

    Faithful to the commons-codec/Spark builtin semantics: letters
    only; H and W removed from the tail BEFORE coding, so codes merge
    across them (Ashcraft → A261, not the naive A226); vowels code to
    '0' which BREAKS runs and is dropped after collapsing; the first
    letter's code participates in the first collapse. Run collapse
    uses per-digit bounded replace passes (6 per digit covers runs to
    64 — the tail is capped at 64 chars) because RE2 — DuckDB's regex
    engine — silently no-ops pattern backreferences like (\\d)\\1+
    (measured: the pattern matches nothing, input passes through).
    Returns NULL when the input has no letters (the engine-wide null
    convention; Spark's builtin returns '' there — pytest pins
    equality on all letter-bearing inputs incl. the canonical NARA
    vectors).
    """
    u = F.regexp_replace(F.upper(F.trim(col)), "[^A-Z]", "")
    first = F.substring(u, 1, 1)
    rest = F.translate(F.substring(u, 2, 64), "HW", "")
    x = F.concat(F.translate(first, SOUNDEX_FROM, SOUNDEX_TO),
                 F.translate(rest, SOUNDEX_FROM, SOUNDEX_TO))
    for d in "123456":
        for _ in range(6):
            x = F.replace(x, F.lit(d + d), F.lit(d))
    digits = F.replace(F.substring(x, 2, 64), F.lit("0"), F.lit(""))
    return (F.when(u == "", F.lit(None))
            .otherwise(F.concat(first,
                                F.rpad(F.substring(digits, 1, 3), 3, "0"))))


def soundex_duckdb_sql(col: str) -> str:
    """The same expression as :func:`soundex_expr`, spelled for
    DuckDB (oracle side)."""
    u = f"regexp_replace(upper(trim({col})), '[^A-Z]', '', 'g')"
    first = f"substr({u}, 1, 1)"
    rest = f"translate(substr({u}, 2, 64), 'HW', '')"
    x = (f"(translate({first}, '{SOUNDEX_FROM}', '{SOUNDEX_TO}') || "
         f"translate({rest}, '{SOUNDEX_FROM}', '{SOUNDEX_TO}'))")
    for d in "123456":
        for _ in range(6):
            x = f"replace({x}, '{d}{d}', '{d}')"
    digits = f"replace(substr({x}, 2, 64), '0', '')"
    return (f"CASE WHEN {u} = '' THEN NULL ELSE "
            f"({first} || rpad(substr({digits}, 1, 3), 3, '0')) END")
