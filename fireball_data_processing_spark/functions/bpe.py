"""Byte-pair-encoding tokenization at corpus scale.

The industry-standard split of work for training a BPE tokenizer on a
100 TB corpus (what single-node libraries do too, just without the
distributed half):

1. **Distributed word counting** — the only corpus-sized pass
   (:func:`word_frequencies`, one explode + one groupBy). The result is
   vocabulary-sized: millions of rows, not terabytes.
2. **Driver-side merge training** (:func:`train_bpe`) on that compact
   word-frequency table — classic greedy pair merging, deterministic
   tie-breaking (count desc, then lexicographic pair) so the same corpus
   always yields the same merge list on any engine.
3. **Distributed application** (:func:`bpe_tokens_udf`) — an
   Arrow-batched pandas UDF; the merge list travels in the UDF closure
   (broadcast once per executor), each batch tokenizes locally with a
   per-word memo (natural-language batches repeat words heavily).

A real deployment swaps step 2/3 for `tokenizers`/`sentencepiece`; the
implementation here is the same algorithm in plain Python, so the
engine-side contract (schemas, partitioning, batch shapes) is exercised
for real — mirroring the multimodal module's stance on codecs.
"""

from __future__ import annotations

from collections import Counter

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, StringType

from fireball_data_processing_spark.operators.retrieval import tokens

__all__ = ["word_frequencies", "train_bpe", "apply_merges", "bpe_tokens_udf"]

END = "</w>"  # end-of-word marker, per the original BPE formulation


def word_frequencies(
    docs: DataFrame,
    min_count: int = 2,
    top_n: int | None = None,
) -> DataFrame:
    """(word, n) corpus word counts — the one corpus-sized pass of BPE
    training. Explode + groupBy; output is vocabulary-sized.

    Scale bound: this table is COLLECTED by training callers, and a web
    corpus's distinct-"word" cardinality (typos, noise tokens) grows
    ~unboundedly with corpus size — 10^8+ at 100 TB, which would OOM
    the driver. ``min_count`` (default 2) floors the frequency before
    anything leaves the cluster — singleton noise cannot win a merge
    against any repeated pair anyway, so training is barely affected
    while the table shrinks by the (dominant) hapax mass. ``top_n``
    adds a hard cap: keep only the ``top_n`` most frequent words
    (ties broken by word for determinism), bounding the collect
    regardless of corpus shape. Pass ``min_count=1, top_n=None`` to get
    the raw unbounded table when the corpus is known-small."""
    wf = (
        docs.select(F.explode(tokens(F.col("text"))).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    if min_count > 1:
        wf = wf.filter(F.col("n") >= min_count)
    if top_n is not None:
        # distributed top-k (sort is partial-agg'd via TakeOrderedAndProject)
        wf = wf.orderBy(F.col("n").desc(), F.col("word")).limit(top_n)
    return wf


def _symbols(word: str) -> tuple[str, ...]:
    return tuple(word[:-1]) + (word[-1] + END,) if word else ()


def train_bpe(
    word_freqs: list[tuple[str, int]], n_merges: int
) -> list[tuple[str, str]]:
    """Greedy BPE merge training over a word-frequency table (pure
    Python — the table is vocabulary-sized by construction). Ties on
    pair count break lexicographically, so the merge list is a pure
    function of the frequency table."""
    vocab = {_symbols(w): n for w, n in word_freqs if w}
    merges: list[tuple[str, str]] = []
    for _ in range(n_merges):
        pair_counts: Counter = Counter()
        for syms, n in vocab.items():
            for a, b in zip(syms, syms[1:]):
                pair_counts[(a, b)] += n
        if not pair_counts:
            break
        top = max(pair_counts.values())
        best_pair = min(p for p, c in pair_counts.items() if c == top)
        merges.append(best_pair)
        vocab = {
            _merge_word(syms, best_pair): n for syms, n in vocab.items()
        }
    return merges


def _merge_word(
    syms: tuple[str, ...], pair: tuple[str, str]
) -> tuple[str, ...]:
    out: list[str] = []
    i = 0
    while i < len(syms):
        if i + 1 < len(syms) and (syms[i], syms[i + 1]) == pair:
            out.append(syms[i] + syms[i + 1])
            i += 2
        else:
            out.append(syms[i])
            i += 1
    return tuple(out)


def apply_merges(
    word: str, merges: list[tuple[str, str]], ranks: dict | None = None
) -> list[str]:
    """Tokenize one word with a trained merge list (lowest-rank merge
    first, the standard application order)."""
    if not word:
        return []
    if ranks is None:
        ranks = {p: i for i, p in enumerate(merges)}
    syms = _symbols(word)
    while len(syms) > 1:
        pairs = [(syms[i], syms[i + 1]) for i in range(len(syms) - 1)]
        ranked = [(ranks[p], p) for p in pairs if p in ranks]
        if not ranked:
            break
        _, best = min(ranked)
        syms = _merge_word(syms, best)
    return list(syms)


def bpe_tokens_udf(merges: list[tuple[str, str]]):
    """Column function: text -> array<string> BPE tokens, Arrow-batched.

    The merge list rides the closure (serialized once per executor);
    a per-batch memo caches word -> tokens, exploiting word repetition
    inside natural-language batches."""
    ranks = {p: i for i, p in enumerate(merges)}

    @F.pandas_udf(ArrayType(StringType()))
    def _tok(texts: pd.Series) -> pd.Series:
        import re

        memo: dict[str, list[str]] = {}

        def one(text):
            if text is None:
                return []
            out: list[str] = []
            for w in re.findall(r"[a-z0-9]+", text.lower()):
                if w not in memo:
                    memo[w] = apply_merges(w, merges, ranks)
                out.extend(memo[w])
            return out

        return texts.map(one)

    return _tok
