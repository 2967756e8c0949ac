"""F18: discord-markdown rendering + profanity censoring.

The reference renders discord-flavored markdown to HTML for the human-eval
Qualtrics export (``human_eval/discord_render.py:15-79``: markdown2 with
discord-specific regexes — ``__x__`` is underline, not strong; headers and
``<hr>`` disabled; HP-band tokens like ``<Bloodied>`` HTML-escaped after
conversion) and censors the final text against a profanity word list with
``-`` as the censor character (``human_eval/prep_human_eval.py:211-215``).

Engine treatment mirrors F14 (automation narration): the *structure* is
reproduced — the reference's discord-markdown regexes drive the transform,
tag vocabulary is our own minimal set, goldens pin the outputs. Three
surfaces:

- :func:`strip_markdown` / :func:`censor_words` — JVM-side Column
  expressions (regexp_replace chains, whole-stage codegen, oracle-able in
  any SQL engine) for the plain-text + censored form used in pipelines.
- :func:`render_discord_markdown_str` — the HTML renderer (presentation
  output; not SQL-comparable, golden-tested).
"""

from __future__ import annotations

import re

from pyspark.sql import Column
from pyspark.sql import functions as F

#: default censor list for the synthetic corpus (the reference loads its
#: list from profanity.txt, prep_human_eval.py:213-214)
CENSOR_WORDS = ("damn", "hell")

_HP_BANDS = ("Dead", "Critical", "Bloodied", "Injured", "Healthy")

# the reference's discord-flavored patterns (discord_render.py:27-30)
_UNDERLINE_RE = re.compile(r"__(?=\S)(.+?_*)(?<=\S)__", re.S)
_STRONG_RE = re.compile(r"(\*\*)(?=\S)(.+?[*]*)(?<=\S)\1", re.S)
_EM_RE = re.compile(r"([*_])(?=\S)(.+?)(?<=\S)\1", re.S)
_FENCE_RE = re.compile(r"```(?:[a-z]*\n)?(.*?)```", re.S)
_CODE_RE = re.compile(r"`([^`]+)`")
_STRIKE_RE = re.compile(r"~~(?=\S)(.+?)(?<=\S)~~", re.S)


def strip_markdown(c: Column) -> Column:
    """Discord-markdown STRIP to plain text (marker removal, content kept)
    as a JVM-side regexp_replace chain — the pipeline-safe half of F18."""
    out = F.regexp_replace(c, r"```", "")
    out = F.regexp_replace(out, r"~~(.+?)~~", r"$1")
    out = F.regexp_replace(out, r"\*\*(.+?)\*\*", r"$1")
    out = F.regexp_replace(out, r"__(.+?)__", r"$1")
    out = F.regexp_replace(out, r"\*(.+?)\*", r"$1")
    out = F.regexp_replace(out, r"_(.+?)_", r"$1")
    out = F.regexp_replace(out, r"`([^`]*)`", r"$1")
    return out


def censor_words(c: Column) -> Column:
    """Profanity mask: each listed word (case-insensitive, word-bounded)
    becomes censor-chars of the same length, as the reference's
    ProfanityFilter with ``set_censor("-")`` does."""
    out = c
    for w in CENSOR_WORDS:
        out = F.regexp_replace(out, r"(?i)\b" + re.escape(w) + r"\b", "-" * len(w))
    return out


def render_discord_markdown_str(text: str | None) -> str:
    """The HTML renderer (discord_render.py:49-54): empty input renders
    ``<span></span>``; otherwise discord-flavored conversion wrapped in a
    ``discord-markdown`` span, with HP-band tokens escaped after conversion
    (the reference's "dumb hacks", :33-41)."""
    if not text:
        return "<span></span>"
    import html as _html

    # NUL can't appear in legitimate Discord text but could collide with
    # the stash markers below — strip it up front so a crafted input can
    # neither crash the restore nor splice a stashed block elsewhere
    text = text.replace("\x00", "")
    # code spans are stashed first so inline markers and break-on-newline
    # never rewrite code content (markdown2 protects code the same way);
    # code CONTENT is HTML-escaped like markdown2's _do_code_spans
    blocks: list[str] = []

    def _stash(rendered: str) -> str:
        blocks.append(rendered)
        return f"\x00{len(blocks) - 1}\x00"

    s = _FENCE_RE.sub(
        lambda m: _stash(f"<pre><code>{_html.escape(m.group(1))}</code></pre>"), text
    )
    s = _CODE_RE.sub(lambda m: _stash(f"<code>{_html.escape(m.group(1))}</code>"), s)
    s = _STRIKE_RE.sub(r"<del>\1</del>", s)
    s = _UNDERLINE_RE.sub(r"<u>\1</u>", s)
    s = _STRONG_RE.sub(r"<strong>\2</strong>", s)
    s = _EM_RE.sub(r"<em>\2</em>", s)
    s = s.replace("\n", "<br>\n")  # break-on-newline extra
    s = re.sub(r"\x00(\d+)\x00", lambda m: blocks[int(m.group(1))], s)
    for band in _HP_BANDS:
        s = s.replace(f"<{band}>", f"&lt;{band}&gt;")
    return f'<span class="discord-markdown">{s}</span>'
