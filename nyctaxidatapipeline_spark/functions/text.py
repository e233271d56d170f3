"""Text primitives shared by dedup and text-analysis operators.

All pure Catalyst expressions (split/lower/transform/slice — JVM-side,
codegen'd). The tokenization contract is load-bearing for oracle parity:
``tokens`` = lowercase, split on runs of whitespace, empties dropped —
DuckDB twin: ``list_filter(string_split_regex(lower(trim(text)), '\\s+'),
t -> t <> '')``.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def tokens(col: str | Column) -> Column:
    """Lowercased whitespace tokens, empty strings dropped.

    Implemented WITHOUT a higher-order ``filter`` lambda (HOFs run
    interpreted, outside whole-stage codegen): splitting on whitespace
    runs leaves empty strings only at the array edges (a leading/
    trailing whitespace run) or as the sole element of an empty text —
    ``array_remove(..., '')`` drops exactly those, as ONE codegen
    collection expression. Byte-identical to the filter formulation on
    every fixture text and edge case (empty / all-whitespace / NULL /
    tab-newline mixes — unit-pinned). The r8 edge-trim formulation
    (``regexp_replace('^\\s+|\\s+$')`` + when/otherwise) was correct
    but the anchored ``\\s+$`` alternation re-scans from every
    whitespace run and the two-branch conditional defeats
    subexpression sharing inside nested HOF lambdas — it cost ~60% on
    the skip-gram shape and 4x-amplified through ``ppmi_vectors``'s
    four reads of the pair subplan (the r8 VERDICT's one unexplained
    regression; root-caused and fixed r9). The oracle contract is
    unchanged: DuckDB twins keep
    ``list_filter(string_split_regex(lower(trim(text)), '\\s+'),
    t -> t <> '')``."""
    c = F.col(col) if isinstance(col, str) else col
    return F.array_remove(F.split(F.lower(c), r"\s+"), "")


def token_count(col: str | Column) -> Column:
    return F.size(tokens(col))


def shingles(tokens_col: Column, n: int = 3, sep: str = " ") -> Column:
    """Word n-gram shingles of a token array (the unit for Jaccard /
    MinHash near-dup). Documents shorter than ``n`` tokens produce an
    empty array (explicit guard: Spark's ``sequence(1, 0)`` counts DOWN,
    it does not produce an empty range)."""
    return F.when(
        F.size(tokens_col) < n, F.array().cast("array<string>")
    ).otherwise(F.transform(
        F.sequence(F.lit(1), F.size(tokens_col) - (n - 1)),
        lambda i: F.concat_ws(sep, F.slice(tokens_col, i, n))))


#: BPE-style pre-tokenizer split pattern (the GPT-2 recipe simplified to
#: branches with DISJOINT start characters, so java.util.regex (Spark)
#: and RE2 (DuckDB) — leftmost-first vs optional-longest engines — find
#: the identical token stream; verified char-for-char on both): a token
#: is an optional leading space plus a run of letters, a run of digits,
#: or a run of other non-space symbols. Character classes are ASCII in
#: both engines.
BPE_SPLIT_PATTERN = r" ?[a-z]+| ?[0-9]+| ?[^a-z0-9\s]+"


def bpe_tokens(col: str | Column) -> Column:
    """BPE-ish pre-tokenization of the lowercased text (one codegen'd
    regex pass — what an LLM token-budget estimate wants, vs the coarser
    whitespace ``tokens``: punctuation and digit runs count separately,
    as real subword tokenizers see them)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_extract_all(F.lower(c), F.lit(BPE_SPLIT_PATTERN), 0)


def bpe_token_count(col: str | Column) -> Column:
    return F.size(bpe_tokens(col))


def strip_html(col: str | Column) -> Column:
    """Plain text from HTML markup — the simplified trafilatura/jusText
    extraction step every web-corpus pipeline runs before quality
    scoring: drop <script>/<style> payloads and comments entirely,
    strip remaining tags, decode the common entities, collapse
    whitespace. One chain of codegen'd ``regexp_replace`` — scan-speed,
    no Python — and every pattern is RE2-compatible (lazy quantifiers,
    (?is) flags, explicit whitespace classes) so a DuckDB twin can run
    the byte-identical chain.

    Deliberately NOT a parser: malformed nesting degrades to extra
    whitespace, never an error — the right failure mode for crawl data.
    A DOM-accurate extraction (readability/trafilatura) is a Pandas-UDF
    slot-in at the same place.
    """
    c = F.col(col) if isinstance(col, str) else col
    # two explicit container patterns, not one with a </\1> backref —
    # RE2 (the DuckDB twin's engine) has no backreferences
    out = F.regexp_replace(c, r"(?is)<script[^>]*>.*?</script\s*>", " ")
    out = F.regexp_replace(out, r"(?is)<style[^>]*>.*?</style\s*>", " ")
    out = F.regexp_replace(out, r"(?s)<!--.*?-->", " ")
    out = F.regexp_replace(out, r"(?s)<[^>]*>", " ")
    for ent, rep in (("&nbsp;", " "), ("&amp;", "&"), ("&lt;", "<"),
                     ("&gt;", ">"), ("&quot;", "\""), ("&#39;", "'")):
        out = F.regexp_replace(out, ent, rep)
    out = F.regexp_replace(out, r"[ \t\r\n]+", " ")
    return F.trim(out)
