"""Text analysis for training-data pipelines: language-ID, quality scoring,
token counting, fingerprinting. All JVM-side Column expressions.

These extend the reference's corpus-statistics surface
(``scripts/count_num_chars_in_dataset.py``, A16/F17) with the standard
LLM-data-pipeline measures.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# ---------------------------------------------------------------------
# token counting (F17: the reference estimates tokens as chars/4)
# ---------------------------------------------------------------------


def approx_token_count_chars(c: Column) -> Column:
    """Reference estimator: tokens ~ chars/4 (finetune_prep.py:223-228),
    integer floor division (explicit floor: double->int casts round in some
    engines and truncate in others)."""
    return F.floor(F.length(c) / 4).cast("bigint")


def whitespace_token_count(c: Column) -> Column:
    """Whitespace tokenization (split on runs)."""
    return F.size(F.split(F.trim(c), r"\s+"))


def bpe_ish_token_count(c: Column) -> Column:
    """BPE-flavored estimate: count word pieces + digits + punctuation
    separately (a regex approximation of byte-pair segmentation)."""
    return F.size(
        F.regexp_extract_all(c, F.lit(r"\w+|[^\w\s]"), 0)
    )


# ---------------------------------------------------------------------
# quality scoring
# ---------------------------------------------------------------------

_STOPWORDS = ("the", "a", "of", "and", "to", "in", "is", "it", "that", "for")


def quality_features(c: Column) -> dict[str, Column]:
    """Standard quality heuristics: length, mean word length, punctuation
    ratio, stopword ratio, alpha ratio. Compose into filters or scores."""
    n_chars = F.length(c)
    words = F.split(F.trim(c), r"\s+")
    n_words = F.size(words)
    # count-by-deletion via translate (single char-map pass) instead of a
    # negated-class regexp_replace that rewrites nearly every character —
    # same counts, ~an order of magnitude cheaper per row
    _punct = ".,;:!?"
    _alpha = "abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ"
    n_punct = F.length(c) - F.length(F.translate(c, _punct, ""))
    n_alpha = F.length(c) - F.length(F.translate(c, _alpha, ""))
    word_chars = F.aggregate(
        F.transform(words, lambda w: F.length(w)), F.lit(0), lambda a, v: a + v
    )
    stop_hits = F.size(F.filter(words, lambda w: F.lower(w).isin(*_STOPWORDS)))
    return {
        "n_chars": n_chars.cast("bigint"),
        "n_words": n_words.cast("bigint"),
        "mean_word_len": F.when(
            n_words > 0, word_chars.cast("double") / n_words
        ),
        "punct_ratio": F.when(n_chars > 0, n_punct.cast("double") / n_chars),
        "alpha_ratio": F.when(n_chars > 0, n_alpha.cast("double") / n_chars),
        "stopword_ratio": F.when(n_words > 0, stop_hits.cast("double") / n_words),
    }


# ---------------------------------------------------------------------
# language ID (n-gram heuristic)
# ---------------------------------------------------------------------

# tiny per-language marker lexicons; a real deployment swaps in character
# n-gram profiles — the plan shape (score per language, argmax) is identical.
_LANG_MARKERS = {
    "en": ("the", "and", "is", "of"),
    "es": ("el", "la", "que", "de"),
    "de": ("der", "die", "und", "nicht"),
    "fr": ("le", "la", "et", "les"),
}


def lang_scores(c: Column) -> dict[str, Column]:
    """Per-language marker-hit counts over whitespace tokens."""
    words = F.split(F.lower(F.trim(c)), r"\s+")
    return {
        lang: F.size(F.filter(words, lambda w: w.isin(*marks))).cast("bigint")
        for lang, marks in _LANG_MARKERS.items()
    }


# ---------------------------------------------------------------------
# Gopher quality gate
# ---------------------------------------------------------------------


def gopher_rules(
    c: Column,
    min_words: int = 50,
    max_words: int = 100_000,
    min_mean_word_len: float = 3.0,
    max_mean_word_len: float = 10.0,
    max_symbol_word_ratio: float = 0.1,
    min_alpha_word_ratio: float = 0.8,
    min_stop_hits: int = 2,
    max_bullet_ratio: float = 0.9,
    max_ellipsis_end_ratio: float = 0.3,
) -> dict[str, Column]:
    """The Gopher document-quality gate (Rae et al. 2021 §A1.1; reused by
    RefinedWeb / Dolma / FineWeb): word-count bounds, mean-word-length
    bounds, symbol-to-word ratio (``#`` and ``...``), fraction of words
    containing an alphabetic character, minimum stop-word hits, and the
    two line-shape rules (bullet-start / ellipsis-end line fractions).
    Returns the component booleans, the underlying ratios (6 dp — the
    house cross-engine rounding), and ``passes_gopher`` = AND of all
    rules. Pure per-row expressions — zero shuffles, codegen-resident,
    filter-ready; the same shape at 100 TB (a scan + filter, nothing
    else). Counts via length-difference (``replace``), not per-char
    regex rewrites — one string pass per symbol class."""
    words = F.split(F.trim(c), r"\s+")
    n_words = F.size(words)
    word_chars = F.aggregate(
        F.transform(words, lambda w: F.length(w)), F.lit(0), lambda a, v: a + v
    )
    mean_wl = F.when(n_words > 0, word_chars.cast("double") / n_words)
    n_hash = F.length(c) - F.length(F.replace(c, F.lit("#"), F.lit("")))
    n_ellipsis = (
        F.length(c) - F.length(F.replace(c, F.lit("..."), F.lit("")))
    ) / 3
    symbol_ratio = F.when(
        n_words > 0, (n_hash + n_ellipsis).cast("double") / n_words
    )
    alpha_words = F.size(F.filter(words, lambda w: w.rlike("[A-Za-z]")))
    alpha_word_ratio = F.when(n_words > 0, alpha_words.cast("double") / n_words)
    stop_hits = F.size(F.filter(words, lambda w: F.lower(w).isin(*_STOPWORDS)))
    lines = F.split(c, "\n")
    n_lines = F.size(lines)
    bullet_lines = F.size(
        F.filter(
            lines,
            lambda l: l.startswith("- ")
            | l.startswith("* ")
            | l.startswith("•"),
        )
    )
    ellipsis_lines = F.size(F.filter(lines, lambda l: l.endswith("...")))
    bullet_ratio = F.when(n_lines > 0, bullet_lines.cast("double") / n_lines)
    ellipsis_end_ratio = F.when(
        n_lines > 0, ellipsis_lines.cast("double") / n_lines
    )
    ok_words = (n_words >= min_words) & (n_words <= max_words)
    ok_mean_wl = (mean_wl >= min_mean_word_len) & (mean_wl <= max_mean_word_len)
    ok_symbols = symbol_ratio <= max_symbol_word_ratio
    ok_alpha = alpha_word_ratio >= min_alpha_word_ratio
    ok_stops = stop_hits >= min_stop_hits
    ok_bullets = bullet_ratio <= max_bullet_ratio
    ok_ellipsis = ellipsis_end_ratio <= max_ellipsis_end_ratio
    return {
        "n_words": n_words.cast("bigint"),
        "mean_word_len": F.round(mean_wl, 6),
        "symbol_word_ratio": F.round(symbol_ratio, 6),
        "alpha_word_ratio": F.round(alpha_word_ratio, 6),
        "stop_hits": stop_hits.cast("bigint"),
        "bullet_ratio": F.round(bullet_ratio, 6),
        "ellipsis_end_ratio": F.round(ellipsis_end_ratio, 6),
        "ok_words": ok_words,
        "ok_mean_word_len": ok_mean_wl,
        "ok_symbols": ok_symbols,
        "ok_alpha_words": ok_alpha,
        "ok_stop_hits": ok_stops,
        "ok_bullets": ok_bullets,
        "ok_ellipsis_ends": ok_ellipsis,
        "passes_gopher": (
            ok_words
            & ok_mean_wl
            & ok_symbols
            & ok_alpha
            & ok_stops
            & ok_bullets
            & ok_ellipsis
        ),
    }


# ---------------------------------------------------------------------
# fingerprinting
# ---------------------------------------------------------------------


def rolling_hash(c: Column) -> Column:
    """Polynomial rolling hash over normalized words (shift-resistant
    document fingerprint): fold ``acc*31 + h(word) mod 1_000_000_007``
    left-to-right.

    ``h(word)`` is the first 8 md5 hex digits as an int, so the fold is
    bit-identical in any engine with md5 (DuckDB: list_reduce with a
    prepended 0 as the seed). M * B + 2^32 stays far below 2^63, so no
    overflow under ANSI arithmetic.
    """
    from fireball_data_processing_spark.functions.text import normalize_text

    words = F.split(normalize_text(c), " ")
    hashes = F.transform(
        words,
        lambda w: F.conv(F.substring(F.md5(w), 1, 8), 16, 10).cast("bigint"),
    )
    return F.aggregate(
        hashes,
        F.lit(0).cast("bigint"),
        lambda acc, x: (acc * 31 + x) % F.lit(1_000_000_007).cast("bigint"),
    )


def content_fingerprint(c: Column) -> Column:
    """Deterministic document fingerprint: md5 of the dedup-normalized text
    (lowercase, collapsed whitespace). The rolling-hash variant for
    shift-resistant fingerprints is the MinHash path in operators.dedup."""
    from fireball_data_processing_spark.functions.text import normalize_text

    return F.md5(normalize_text(c))


def unigram_logprob(docs):
    """Corpus-unigram cross-entropy per document — the classic LM-based
    quality signal for pretraining corpora (CCNet-style): documents whose
    tokens are improbable under the corpus's own unigram distribution are
    boilerplate/garbage candidates; ultra-low entropy means repetitive
    text. Output: ``(doc_id, avg_neg_log2_prob, n_tokens)``; token-less
    docs are absent (no distribution to score under).

    Plan: one token explode feeds the vocabulary count,
    the grand total, and the scoring join. The vocabulary's count
    aggregate sits over a token-keyed Exchange that BOTH its consumers
    (the scoring join's build side and the grand-total rollup) contain
    identically, so ReuseExchange materializes it once — the old form
    instead PERSISTED the vocab, which paid the same tokenize pass
    under a separate cache-materialization job (one extra job barrier
    + a cache write for a frame whose exchange was already shareable;
    persist only when recompute beats the cache cost). The probe-side
    tokenize runs CONCURRENTLY with the build side inside the one job. (An id-keyed
    pre-explode repartition à la bigram_logprob was A/B'd and rejected
    here: it deduplicates the regex pass but full-corpus-shuffles the
    word arrays — measured slower locally and strictly more corpus
    bytes moved at scale.) The grand total rides in as a one-row
    broadcast cross join, never a global window. At 100 TB, materialize
    the vocabulary to parquet once and broadcast its head with a
    smoothed tail instead of equi-joining the full table.
    """
    from pyspark.sql import functions as F

    from fireball_data_processing_spark.functions.text import normalize_text

    toks = docs.select(
        F.col("doc_id"),
        F.explode(F.split(normalize_text(F.col("text")), " ")).alias("token"),
    ).filter(F.col("token") != "")
    vocab = toks.groupBy("token").agg(F.count(F.lit(1)).alias("__c"))
    total = vocab.agg(F.sum("__c").cast("double").alias("__total"))
    scored = toks.join(vocab, "token").crossJoin(F.broadcast(total))
    avg = F.avg(-F.log2(F.col("__c").cast("double") / F.col("__total")))
    avg = F.round(avg, 6)
    return scored.groupBy("doc_id").agg(
        avg.alias("avg_neg_log2_prob"),
        F.count(F.lit(1)).alias("n_tokens"),
    )


def repetition_features(c: Column, n: int = 2) -> dict[str, Column]:
    """Gopher/MassiveText-style within-document repetition signals over
    word n-grams (default bigrams): documents dominated by repeated
    n-grams are template/boilerplate candidates.

    - ``n_ngrams``: total (non-distinct) n-gram occurrences
    - ``dup_ngram_frac``: 1 - distinct/total — mass held by repeats
    - ``top_ngram_frac``: most frequent n-gram's share of all occurrences

    Everything is per-row array math — NO shuffle, unlike the equivalent
    explode+groupBy. The top-n-gram count is a sorted-run-length fold
    (``aggregate`` over ``array_sort``) rather than a count-per-distinct
    nested loop: the fold's input array is evaluated once (it sits outside
    the lambda), where a filter-per-distinct-gram formulation would
    rebuild the gram array once per distinct gram (HOF lambdas get no
    subexpression elimination). Docs with no n-grams report zeros.
    """
    from fireball_data_processing_spark.functions.text import normalize_text

    words = F.split(normalize_text(c), " ")
    size = F.size(words)
    grams = F.when(
        size >= n,
        F.transform(
            F.sequence(F.lit(0), size - n),
            lambda i: F.concat_ws(" ", F.slice(words, i + 1, n)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    total = F.size(grams)
    distinct = F.size(F.array_distinct(grams))
    # longest run of equal adjacent elements in the sorted array == max count
    run_state = F.aggregate(
        F.array_sort(grams),
        F.struct(
            F.lit("").alias("prev"), F.lit(0).alias("run"), F.lit(0).alias("best")
        ),
        lambda acc, x: F.struct(
            x.alias("prev"),
            F.when(x == acc["prev"], acc["run"] + 1).otherwise(F.lit(1)).alias("run"),
            F.greatest(
                acc["best"],
                F.when(x == acc["prev"], acc["run"] + 1).otherwise(F.lit(1)),
            ).alias("best"),
        ),
        lambda acc: acc["best"],
    )
    tot_d = total.cast("double")
    return {
        "n_ngrams": total.cast("bigint"),
        "dup_ngram_frac": F.when(
            total > 0, F.round(F.lit(1.0) - distinct.cast("double") / tot_d, 6)
        ).otherwise(F.lit(0.0)),
        "top_ngram_frac": F.when(
            total > 0, F.round(run_state.cast("double") / tot_d, 6)
        ).otherwise(F.lit(0.0)),
    }


def chunk_documents(docs, chunk_tokens: int = 256, overlap: int = 32):
    """Sliding-window document chunking — the embedding/RAG prep stage:
    long documents become overlapping fixed-budget chunks, each row
    ``(id, chunk_idx, chunk_text, n_chunk_tokens)``.

    Chunk i covers words ``[i*stride, i*stride + chunk_tokens)`` with
    ``stride = chunk_tokens - overlap``; the final chunk may be shorter.
    Pure per-row array math + one explode — no shuffle, no UDF; the words
    array is built once per row and sliced per chunk. Token = whitespace
    word of the normalized text (swap in a real tokenizer count upstream
    if budgets must be model-exact).
    """
    from pyspark.sql import functions as F

    from fireball_data_processing_spark.functions.text import normalize_text

    if overlap >= chunk_tokens:
        raise ValueError("overlap must be smaller than chunk_tokens")
    stride = chunk_tokens - overlap
    words = F.split(normalize_text(F.col("text")), " ")
    n = F.size(words)
    starts = F.sequence(F.lit(0), F.greatest(n - 1, F.lit(0)), F.lit(stride))
    chunks = F.transform(
        starts,
        lambda s: F.struct(
            (s / stride).cast("bigint").alias("chunk_idx"),
            F.concat_ws(" ", F.slice(words, s + 1, chunk_tokens)).alias(
                "chunk_text"
            ),
            F.least(F.lit(chunk_tokens), n - s).cast("bigint").alias(
                "n_chunk_tokens"
            ),
        ),
    )
    return docs.select(F.col("doc_id"), F.explode(chunks).alias("c")).select(
        "doc_id", "c.chunk_idx", "c.chunk_text", "c.n_chunk_tokens"
    )


def script_counts(c: Column) -> dict[str, Column]:
    """Per-script character counts — the writing-system complement to the
    marker-lexicon language ID (a multilingual crawl needs both: script
    tells Cyrillic from Latin for free; the lexicon separates languages
    sharing a script). Each count is ``len(s) - len(s with that script's
    chars removed)`` — one JVM regex per script, zero shuffles,
    RE2-portable (Java ``\\p{IsX}`` == RE2 ``\\p{X}``, which is what the
    DuckDB oracle uses)."""
    out: dict[str, Column] = {}
    for s in ("Latin", "Cyrillic", "Han", "Arabic"):
        out[s.lower()] = F.length(c) - F.length(
            F.regexp_replace(c, f"\\p{{Is{s}}}", "")
        )
    return out


def dominant_script(counts: dict[str, Column]) -> Column:
    """Argmax over :func:`script_counts` (first-listed wins ties, so the
    result is deterministic and cross-engine reproducible as a chained
    CASE)."""
    names = list(counts)
    expr = F.lit(names[-1])
    for i in range(len(names) - 2, -1, -1):
        cond = F.lit(True)
        for other in names[i + 1 :]:
            cond = cond & (counts[names[i]] >= counts[other])
        expr = F.when(cond, F.lit(names[i])).otherwise(expr)
    return expr


def word_arrays(docs, text_col: str):
    """``(doc_id, __words)``: each document's normalized ``text_col``
    split into its non-empty words — the tokenization every bigram model
    here shares."""
    from fireball_data_processing_spark.functions.text import normalize_text

    return docs.select(
        F.col("doc_id"),
        F.filter(
            F.split(normalize_text(F.col(text_col)), " "), lambda s: s != ""
        ).alias("__words"),
    )


def bigram_occurrences(pre):
    """``(doc_id, __prev, __cur)``: one row per adjacent word pair of the
    ``__words`` arrays in ``pre`` (documents with fewer than two words
    yield none)."""
    words = F.col("__words")
    bigrams = F.when(
        F.size(words) >= 2,
        F.transform(
            F.sequence(F.lit(0), F.size(words) - 2),
            lambda i: F.struct(
                F.element_at(words, i + 1).alias("prev"),
                F.element_at(words, i + 2).alias("cur"),
            ),
        ),
    ).otherwise(F.array().cast("array<struct<prev:string,cur:string>>"))
    return pre.select(F.col("doc_id"), F.explode(bigrams).alias("bg")).select(
        "doc_id", F.col("bg.prev").alias("__prev"), F.col("bg.cur").alias("__cur")
    )


def bigram_logprob(docs, alpha: float = 0.5, text_col: str = "text"):
    """Corpus-bigram cross-entropy per document — the order-2 upgrade of
    :func:`unigram_logprob` (CCNet scores with a 5-gram KenLM; a
    self-trained smoothed bigram model is the engine-native analog):
    average ``-log2 P(w_i | w_{i-1})`` under add-alpha smoothing,

        P(w | v) = (c(v, w) + alpha) / (c(v, ·) + alpha * V)

    with ``V`` the corpus vocabulary size. Low probability = unusual
    word TRANSITIONS (word salad, shuffled boilerplate) that a unigram
    model cannot see; ultra-high probability = repetitive text.

    Output: ``(doc_id, avg_neg_log2_bigram_prob, n_bigrams)``; docs with
    fewer than two tokens are absent (no transition to score).

    Plan: ONE bigram explode feeds everything — corpus bigram counts and
    continuation totals are WINDOWS over it (partition by (prev, cur)
    and by prev), so the corpus is tokenized exactly once and there is
    no count-table join-back; the vocabulary size rides in as a one-row
    broadcast cross join (house pattern, see unigram_logprob). Two
    window exchanges + the per-doc rollup. At 100 TB, persist the bigram
    count table to parquet once and equi-join (the window form
    re-shuffles the occurrence rows; the table form shuffles only
    distinct bigrams) — same math, swap documented here.
    """
    from pyspark.sql import Window

    parts = int(docs.sparkSession.conf.get("spark.sql.shuffle.partitions", "32"))
    pre = word_arrays(docs, text_col).repartition(parts, F.col("doc_id"))
    words = F.col("__words")
    occ = bigram_occurrences(pre)
    vocab_size = (
        pre.select(F.explode(words).alias("__t"))
        .agg(F.countDistinct("__t").cast("double").alias("__v"))
    )
    w_bigram = Window.partitionBy("__prev", "__cur")
    w_prev = Window.partitionBy("__prev")
    # ONE exchange for BOTH count windows: hash-partitioning on __prev
    # alone satisfies the (prev, cur) window's clustering requirement
    # (all rows of a (prev, cur) group share a prev, so they co-locate),
    # and the (prev, cur) sort the first window installs prefix-satisfies
    # the second window's (prev) sort — so the explicit repartition
    # (AQE-coalescible: no partition count pinned) replaces the planner's
    # two back-to-back corpus-sized exchanges (partition once for
    # several consumers; measured on doc_bigram_logprob: 3
    # occurrence-grain exchanges -> 2).
    counted = (
        occ.repartition(F.col("__prev"))
        .withColumn("__cb", F.count(F.lit(1)).over(w_bigram).cast("double"))
        .withColumn("__cp", F.count(F.lit(1)).over(w_prev).cast("double"))
    )
    scored = counted.crossJoin(F.broadcast(vocab_size))
    neg_log2 = -F.log2(
        (F.col("__cb") + alpha) / (F.col("__cp") + alpha * F.col("__v"))
    )
    avg = F.avg(neg_log2)
    avg = F.round(avg, 6)
    return scored.groupBy("doc_id").agg(
        avg.alias("avg_neg_log2_bigram_prob"),
        F.count(F.lit(1)).alias("n_bigrams"),
    )


def winnow_fingerprints(docs, k: int = 4, window: int = 4):
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken 2003,
    the MOSS algorithm): the distinct minima of every ``window``-wide
    span of word-``k``-gram hashes. The selection guarantee: any two
    documents sharing a run of at least ``k + window - 1`` words share a
    fingerprint — so near-copy detection needs only an equi-join on the
    fingerprint column, with index size ~``2/(window+1)`` of the gram
    count instead of every gram (the full-gram form is
    :func:`rolling_hash`/the MinHash path).

    Output: ``(doc_id, fingerprint)`` distinct rows — the posting list a
    copy-detection index stores. Docs shorter than ``k`` words emit
    nothing (no gram to fingerprint); docs with fewer than ``window``
    grams emit the single global minimum.

    Plan: posexplode words -> LEAD-composed gram hashes -> sliding-frame
    window MIN -> distinct. ALL codegen window machinery: the first
    higher-order-function formulation (per-row slice lambdas over a
    materialized gram array) measured ~5s at sf0.1 against ~1s for this
    shape — HOF lambda bodies evaluate interpreted per element, while
    lead/min frames compile. Both windows and the distinct share the one
    doc-key exchange. Hashes are md5-hex (lexicographic min,
    cross-engine exact — same convention as MinHash).
    """
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from fireball_data_processing_spark.functions.text import normalize_text

    toks = docs.select(
        F.col("doc_id"),
        F.posexplode(
            F.filter(
                F.split(normalize_text(F.col("text")), " "), lambda s: s != ""
            )
        ).alias("__pos", "__w"),
    )
    w_doc = Window.partitionBy("doc_id").orderBy("__pos")
    gram_txt = F.concat_ws(
        " ", F.col("__w"), *[F.lead("__w", j).over(w_doc) for j in range(1, k)]
    )
    grams = toks.select(
        F.col("doc_id"),
        F.col("__pos").alias("__gpos"),
        F.when(
            F.lead("__w", k - 1).over(w_doc).isNotNull(), F.md5(gram_txt)
        ).alias("__gh"),
    ).filter(F.col("__gh").isNotNull())
    w_gram = Window.partitionBy("doc_id").orderBy("__gpos")
    win_min = F.min("__gh").over(w_gram.rowsBetween(0, window - 1))
    n_grams = F.count(F.lit(1)).over(Window.partitionBy("doc_id"))
    fps = grams.select(
        F.col("doc_id"),
        win_min.alias("fingerprint"),
        F.col("__gpos"),
        n_grams.alias("__n"),
    ).filter(
        (F.col("__gpos") + window <= F.col("__n"))
        | ((F.col("__n") < window) & (F.col("__gpos") == 0))
    )
    return fps.select("doc_id", "fingerprint").distinct()


def flesch_features(c: Column) -> dict[str, Column]:
    """Flesch reading-ease features (Flesch 1948; Kincaid et al. 1975 —
    the readability screen classic web-corpus pipelines run beside the
    Gopher gate): counts of words, sentences, and syllables, plus

        reading_ease = 206.835 - 1.015 * words/sentence
                               - 84.6  * syllables/word

    (higher = easier; ~60-70 is plain English, < 30 is academic). The
    syllable count is the standard orthographic heuristic — vowel GROUPS
    (``[aeiouy]+`` runs, lowercased) — which is what every portable
    readability implementation uses; sentences are terminal-punctuation
    runs (``[.!?]+``), floored at 1 so fragments still score.

    Everything is a pure per-row expression (two regexp_extract_all
    passes + one split — zero shuffles, codegen-resident, same shape at
    100 TB) and rounds to 6 dp, so the score replays exactly in
    any engine with POSIX regexes (DuckDB-oracle-checked). Returns
    ``n_words``, ``n_sentences``, ``n_syllables``, ``reading_ease``;
    empty/whitespace docs get null reading_ease (no words to rate)."""
    words = F.filter(
        F.split(F.trim(c), r"\s+"), lambda w: w != F.lit("")
    )
    n_words = F.size(words)
    n_sent = F.greatest(
        F.size(F.regexp_extract_all(c, F.lit(r"[.!?]+"), 0)), F.lit(1)
    )
    n_syll = F.size(
        F.regexp_extract_all(F.lower(c), F.lit(r"[aeiouy]+"), 0)
    )
    ease = F.when(
        n_words > 0,
        F.round(
            F.lit(206.835)
            - F.lit(1.015) * n_words / n_sent
            - F.lit(84.6) * n_syll / n_words,
            6,
        ),
    )
    return {
        "n_words": n_words.cast("bigint"),
        "n_sentences": n_sent.cast("bigint"),
        "n_syllables": n_syll.cast("bigint"),
        "reading_ease": ease,
    }


def kneser_ney_logprob(docs):
    """Per-document cross-entropy under an interpolated Kneser-Ney
    bigram model — the smoothing the KenLM models CCNet actually scores
    with use (add-alpha, :func:`bigram_logprob`, over-penalizes rare but
    valid continuations; KN backs off to CONTINUATION probability — "how
    many distinct contexts does this word follow?" — which is the right
    novelty prior for quality gating):

        P(w|v) = max(c(v,w) - D, 0)/c(v)
               + (D * N1+(v,.)/c(v)) * N1+(.,w)/N1+(.,.)

    Output: ``(doc_id, n_bigrams, kn_bits_per_token)`` (mean
    ``-log2 P``), docs with fewer than two tokens absent.

    Plan (the table form bigram_logprob documents as its at-scale
    swap): ONE bigram explode; the probability table is built at
    bigram-TYPE grain (one groupBy), its three marginals (left counts +
    distinct-continuation counts, right continuation counts, total
    types) are aggregates of the type table that re-enter via joins of
    aggregate-sized frames; occurrences take one hash join against the
    type-grain probability table, then one per-doc rollup. Self-scoring
    a corpus means every bigram is in-vocabulary, so no unseen-mass
    branch is needed.
    """
    from pyspark.sql import functions as F

    d = 0.75
    occ = bigram_occurrences(word_arrays(docs, "text"))
    types = occ.groupBy("__prev", "__cur").agg(F.count(F.lit(1)).alias("__c"))
    left = types.groupBy("__prev").agg(
        F.sum("__c").alias("__cprev"),
        F.count(F.lit(1)).alias("__n1_left"),
    )
    right = types.groupBy("__cur").agg(F.count(F.lit(1)).alias("__n1_right"))
    tot = types.agg(F.count(F.lit(1)).cast("double").alias("__n1_tot"))
    prob = (
        types.join(left, "__prev")
        .join(right, "__cur")
        .crossJoin(F.broadcast(tot))
        .select(
            "__prev",
            "__cur",
            F.round(
                F.greatest(F.col("__c") - F.lit(d), F.lit(0.0))
                / F.col("__cprev")
                + (F.lit(d) * F.col("__n1_left") / F.col("__cprev"))
                * (F.col("__n1_right") / F.col("__n1_tot")),
                8,
            ).alias("__p"),
        )
    )
    return (
        occ.join(prob, ["__prev", "__cur"])
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_bigrams"),
            F.round(F.avg(-F.log2(F.col("__p"))), 6).alias(
                "kn_bits_per_token"
            ),
        )
    )
