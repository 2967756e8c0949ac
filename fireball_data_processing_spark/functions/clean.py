"""C4-style corpus cleaning: segment-level keep/drop rules and document-level
flags, all JVM-side Column expressions (no UDFs, no shuffles) — plus
unicode NFC/NFKC normalization, the one rule with no JVM builtin, as an
Arrow-batched pandas UDF (the sanctioned Python edge).

Extends the reference's content-filter surface (P4 short-message filter,
P6 empty discard, P7 abnormal-length guard — ``heuristics/filters.py`` in
the reference) with the standard pretraining-corpus cleaning rules from
C4/MassiveText: per-line word-count and punctuation gates, bad-phrase and
brace (code) document flags. Each rule is independently togglable so
pipelines can tune per source.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F

# phrases whose presence flags the whole document (C4 drops docs containing
# boilerplate markers; the list is a parameter, these are the classic ones)
DEFAULT_BAD_PHRASES = ("lorem ipsum", "javascript")


def split_segments(c: Column) -> Column:
    """Document -> trimmed segments (lines by default). Empty segments are
    dropped here so every downstream rule sees real content."""
    return F.filter(
        F.transform(F.split(c, "\n"), lambda s: F.trim(s)),
        lambda s: s != "",
    )


def segment_keep(
    seg: Column,
    min_words: int = 5,
    require_terminal_punct: bool = True,
) -> Column:
    """C4 line rule: keep a segment iff it has >= ``min_words`` whitespace
    words and (optionally) ends in terminal punctuation (. ! ? ")."""
    keep = F.size(F.split(seg, r"\s+")) >= min_words
    if require_terminal_punct:
        keep = keep & seg.rlike(r'[.!?"]$')
    return keep


def clean_segments(
    c: Column,
    min_words: int = 5,
    require_terminal_punct: bool = True,
) -> dict[str, Column]:
    """Apply the segment rule over a document; returns the surviving text
    (segments re-joined with newlines) plus audit counts. Per-row array
    math only — the segment filter never leaves the row, unlike an
    explode+filter+re-group formulation which would shuffle on doc id."""
    segs = split_segments(c)
    kept = F.filter(
        segs, lambda s: segment_keep(s, min_words, require_terminal_punct)
    )
    return {
        "n_segments": F.size(segs).cast("bigint"),
        "n_kept_segments": F.size(kept).cast("bigint"),
        "kept_text": F.array_join(kept, "\n"),
    }


def doc_flags(
    c: Column,
    bad_phrases: tuple[str, ...] = DEFAULT_BAD_PHRASES,
) -> dict[str, Column]:
    """Document-level C4 flags (each True == drop candidate):

    - ``has_bad_phrase``: contains any configured boilerplate phrase
      (case-insensitive substring — no regex, so phrases need no escaping)
    - ``has_brace``: contains ``{`` (C4's code-document marker)
    """
    lower = F.lower(c)
    hit = F.lit(False)
    for p in bad_phrases:
        hit = hit | lower.contains(p.lower())
    return {
        "has_bad_phrase": hit,
        "has_brace": c.contains("{"),
    }


def strip_control_chars(c: Column) -> Column:
    """Remove C0/C1 control characters (keeping tab/newline/CR) — crawl
    text routinely carries stray BEL/NUL/escape bytes that break
    tokenizers downstream. One JVM regex, codegen-resident."""
    return F.regexp_replace(c, "[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F\\x7F-\\x9F]", "")


def normalize_unicode(form: str = "NFC"):
    """Column factory: unicode-normalize a string column to ``form``.

    Mixed-crawl corpora carry the same word in composed and decomposed
    encodings ("café" as 4 or 5 codepoints); every downstream exact-match
    operator (exact dedup hashes, gram hashes, BPE vocabulary) silently
    fragments unless text is normalized first, so this belongs at the
    head of the cleaning pipeline. Spark has no normalization builtin, so
    this is an Arrow-batched pandas UDF over :mod:`unicodedata` — the
    same UAX#15 algorithm engines like DuckDB expose as
    ``nfc_normalize`` (which is what the catalog oracle checks against).
    Per-row cost is a single C-implemented library call; bytes cross the
    JVM/Python boundary once per Arrow batch.
    """
    if form not in {"NFC", "NFD", "NFKC", "NFKD"}:
        raise ValueError(f"unknown normalization form: {form!r}")

    @F.pandas_udf("string")
    def _norm(s: pd.Series) -> pd.Series:
        import unicodedata

        return s.map(
            lambda x: None if x is None else unicodedata.normalize(form, x)
        )

    return _norm
